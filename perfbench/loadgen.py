"""Open-loop HTTP load generator, run as its own process.

Reads a plan (JSON: base URL, bearer token, connection count, and a list
of requests with their due offsets), sends each request at its due time
regardless of how earlier ones fared, and writes one record per request:
due, dispatched, sent and done times (``time.perf_counter``, the
system-wide monotonic clock, so the server process can compare), status
and body. At most ``connections`` requests are in flight; a request
whose due time finds every connection busy waits for one, and that wait
counts against its latency, which is measured from the due time.

    python3 -m perfbench.loadgen PLAN.json RESULTS.json
"""

from __future__ import annotations

import json
import queue
import sys
import threading
import time
import urllib.error
import urllib.request


def send(url: str, token: str, timeout: float) -> tuple[int, str]:
    req = urllib.request.Request(url, headers={"Authorization": f"Bearer {token}"})
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read().decode("utf-8")
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode("utf-8", "replace")
    except (urllib.error.URLError, OSError) as e:
        return 0, f"{type(e).__name__}: {e}"


def run_plan(plan: dict, sender=send, clock=time.perf_counter, sleep=time.sleep) -> list[dict]:
    """Dispatch ``plan["requests"]`` on schedule over
    ``plan["connections"]`` worker threads; return one record each."""
    conns = int(plan["connections"])
    timeout = float(plan.get("timeout_s", 60))
    todo: queue.Queue = queue.Queue()
    records: list[dict] = []
    lock = threading.Lock()

    def worker() -> None:
        while True:
            rec = todo.get()
            if rec is None:
                return
            rec["sent"] = clock()
            rec["status"], rec["body"] = sender(rec["url"], plan["token"], timeout)
            rec["done"] = clock()
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=worker, daemon=True) for _ in range(conns)]
    for t in threads:
        t.start()
    t0 = clock() + float(plan.get("start_delay_s", 0.05))
    for i, r in enumerate(plan["requests"]):
        due = t0 + float(r["due_s"])
        wait = due - clock()
        if wait > 0:
            sleep(wait)
        todo.put({
            "i": i,
            "url": plan["base"] + r["path"],
            "key": r.get("key"),
            "due": due,
            "dispatched": clock(),
        })
    for _ in threads:
        todo.put(None)
    for t in threads:
        t.join(timeout=timeout + 5)
    return sorted(records, key=lambda rec: rec["i"])


def main(argv: list[str]) -> int:
    plan_path, out_path = argv[1], argv[2]
    with open(plan_path) as f:
        plan = json.load(f)
    records = run_plan(plan)
    with open(out_path, "w") as f:
        json.dump(records, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
