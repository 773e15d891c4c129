"""serve_keyword: an open loop of ``GET /api/keyword_search`` against
``ApiServer`` over an ``items`` table landed during set-up.

Set-up lands the items through ``TableStore.append``, seeds the serving
cache with expired entries from an earlier session (so the window
crosses a ``COMPACT_AFTER_DIRS`` fold, as a long-running server does),
starts the server, takes one bearer token from ``POST /token`` and sends
a few warm-up requests. The window is an open loop from one load
generator process (``loadgen.py``) with at most four connections:
requests are due at a fixed rate and their latency runs from the due
time. Keys ``(keyword, page)`` are Zipf-distributed, so hits, misses and
TTL expiries all occur. Every 200 body is checked against DuckDB's page
query over the items parquet files.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

from . import common, layers
from .common import Outcome, now
from .loadgen import send

N_ITEMS = 20_000
SMOKE_ITEMS = 500
VOCAB = [
    "anchor", "basket", "candle", "drill", "easel", "funnel", "goblet",
    "hammer", "jacket", "kettle", "lantern", "mirror", "needle", "oven",
    "pillow", "quilt",
]
PAGES = 4
ZIPF_S = 1.0  # ~22% hits at TTL 7: the median sits among the misses
RATE_PER_S = 1.0  # about half this box's measured capacity (README.md)
CONNECTIONS = 4
LATENCY_LIMIT_MS = 5000.0  # above a cache fold's stall plus a miss
PREFILL_DIRS = 24  # expired cache entries present when the window opens
WARMUP = 16  # closed-loop requests before the window: the JIT warms up
USER, PASSWORD = "bench", "bench-password"


def items_frame(spark, n: int, seed: int):
    from pyspark.sql import functions as F

    from pyspider_spark.schemas import ITEMS

    vocab = F.array(*[F.lit(w) for w in VOCAB])

    def word(salt: int):
        pick = F.pmod(F.xxhash64("id", F.lit(seed), F.lit(salt)), F.lit(len(VOCAB)))
        return F.element_at(vocab, (pick + 1).cast("int"))

    h = F.xxhash64("id", F.lit(seed), F.lit(3))
    return spark.range(n).select(
        F.format_string("B%09d", "id").alias("asin_id"),
        F.format_string("https://img.example/%d.jpg", "id").alias("img_url"),
        F.concat_ws(" ", word(1), word(2), F.format_string("no%d", "id")).alias("goods_name"),
        F.format_string("%d.%d", F.pmod(h, F.lit(5)) + 1, F.pmod(h, F.lit(10))).alias("star_rating"),
        F.format_string("%d.99", F.pmod(h, F.lit(500))).alias("price"),
        F.format_string("https://shop.example/dp/%d", "id").alias("goods_detail_link"),
        F.pmod(h, F.lit(9000)).cast("string").alias("goods_comment_num"),
        F.format_string("https://shop.example/reviews/%d", "id").alias("goods_comment_link"),
        F.format_string("https://shop.example/list/%d", F.pmod("id", F.lit(97))).alias("src_url_canon"),
        F.lit(0).cast("int").alias("round"),
    ).select(*[f.name for f in ITEMS.fields])


def key_plan(seed: int, n: int) -> list[tuple[str, int]]:
    """``n`` Zipf-distributed (keyword, page) keys; the popularity order
    of the keys is itself drawn from the seed."""
    rng = random.Random(seed)
    keys = [(w, p) for w in VOCAB for p in range(1, PAGES + 1)]
    rng.shuffle(keys)
    weights = [1.0 / (rank + 1) ** ZIPF_S for rank in range(len(keys))]
    return rng.choices(keys, weights=weights, k=n)


def path_of(key: tuple[str, int]) -> str:
    return f"/api/keyword_search?keyword={key[0]}&page={key[1]}"


def expected_pages(item_files: list[str], keys) -> dict:
    """DuckDB's answer per key: the page of items whose name contains
    the keyword, ordered by asin_id, ten to a page."""
    import duckdb

    con = duckdb.connect()
    try:
        files = ", ".join(f"'{f}'" for f in item_files)
        con.execute(f"CREATE VIEW items AS SELECT * FROM read_parquet([{files}])")
        out = {}
        for kw, page in sorted(set(keys)):
            cur = con.execute(
                "SELECT * FROM items WHERE contains(goods_name, ?) "
                "ORDER BY asin_id LIMIT 10 OFFSET ?",
                [kw, (page - 1) * 10],
            )
            cols = [d[0] for d in cur.description]
            out[(kw, page)] = [dict(zip(cols, row)) for row in cur.fetchall()]
        return out
    finally:
        con.close()


def run(ctx) -> Outcome:
    from pyspider_spark import auth
    from pyspider_spark.serve import ApiServer, ServingCache
    from pyspider_spark.tables import TableStore

    spark, tracer = ctx.spark, ctx.tracer
    n_items = SMOKE_ITEMS if ctx.smoke else N_ITEMS
    tables_root = os.path.join(ctx.workdir, "tables")
    if tracer is not None:
        layers.instrument(tracer)

    t0 = now()
    store = TableStore(spark, tables_root)
    store.append("items", items_frame(spark, n_items, ctx.seed))
    cache = ServingCache(store)
    for i in range(PREFILL_DIRS):
        cache.put("jingxi:keyword_search", f"earlier-{i}", "[]", 0)
    users = {USER: auth.hash_password(PASSWORD, f"salt-{ctx.seed}")}
    server = ApiServer(spark, store, users, secret=f"secret-{ctx.seed}").start()
    try:
        base = f"http://127.0.0.1:{server.port}"
        token = _token(base)
        for key in key_plan(ctx.seed + 1, WARMUP):
            send(base + path_of(key), token, 60)
        setup_s = now() - t0

        n_req = max(1, int(RATE_PER_S * ctx.seconds))
        keys = key_plan(ctx.seed, n_req)
        plan = {
            "base": base,
            "token": token,
            "connections": CONNECTIONS,
            "requests": [
                {"due_s": i / RATE_PER_S, "path": path_of(k), "key": list(k)}
                for i, k in enumerate(keys)
            ],
        }
        plan_path = os.path.join(ctx.workdir, "plan.json")
        res_path = os.path.join(ctx.workdir, "responses.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.loadgen", plan_path, res_path],
            cwd=common.ROOT,
        )
        try:
            rc = proc.wait(timeout=ctx.seconds + 120)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        ctx.measured()
    finally:
        server.stop()
    if rc != 0:
        raise RuntimeError(f"load generator exited with {rc}")
    with open(res_path) as f:
        records = json.load(f)

    want = expected_pages([p for p, _ in store.file_rows("items")], keys)
    lat_ms, good, failed, hits, notes = [], 0, 0, 0, []
    for rec in records:
        ms = 1000.0 * (rec["done"] - rec["due"])
        lat_ms.append(ms)
        ok = rec["status"] == 200
        if ok:
            body = json.loads(rec["body"])
            ok = body.get("data") == want[tuple(rec["key"])]
            hits += bool(body.get("cache_hit"))
            if not ok:
                notes.append(f"request {rec['i']} {rec['key']}: body differs from DuckDB")
        else:
            notes.append(f"request {rec['i']}: status {rec['status']}")
        failed += not ok
        good += ok and ms <= LATENCY_LIMIT_MS
    failed += n_req - len(records)
    # achieved goodput: good responses over the time from the first due
    # time to the last reply, so a server that falls behind reads lower
    window_s = (max(r["done"] for r in records) - records[0]["due"]) if records else 1.0
    pct, tail = common.tail_value(lat_ms) if lat_ms else (100.0, 0.0)
    late = [1000.0 * (r["dispatched"] - r["due"]) for r in records]
    out = Outcome(
        attempted=n_req,
        failed=failed,
        end_to_end={
            "setup_s": setup_s,
            "throughput_per_s": good / window_s,
            "latency_p50_ms": common.median(lat_ms),
            "latency_tail_ms": tail,
        },
        report={
            "serve_p50_ms": (common.median(lat_ms), "ms"),
            f"serve_p{pct:.0f}_ms": (tail, "ms"),
            "serve_goodput_frac": (good / n_req, "frac"),
            "requests": (n_req, "count"),
            "rate_per_s": (RATE_PER_S, "1/s"),
            "latency_limit_ms": (LATENCY_LIMIT_MS, "ms"),
            "loadgen_late_p50_ms": (common.median(late), "ms"),
            "loadgen_late_max_ms": (max(late) if late else 0.0, "ms"),
            "window_s": (window_s, "s"),
        },
        notes=notes[:10],
    )
    out.counts["requests"] = n_req
    if tracer is not None:
        _layer_metrics(tracer, records, hits, tables_root, out)
    return out


def _token(base: str) -> str:
    import urllib.request

    req = urllib.request.Request(
        base + "/token",
        data=json.dumps({"username": USER, "password": PASSWORD}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=60) as resp:
        return json.loads(resp.read())["access_token"]


def _layer_metrics(tracer, records, hits, tables_root, out: Outcome) -> None:
    m = out.per_layer
    m.update(layers.span_metrics(tracer, tables_root, {}))
    spans = tracer.spans
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    get_hit, get_miss, compute, puts = [], [], [], []
    for s in tracer.by_name("serve_keyword_search"):
        ch = kids.get(s["id"], [])
        gets = [c["end"] - c["start"] for c in ch if c["name"] == "ServingCache.get"]
        put = [c["end"] - c["start"] for c in ch if c["name"] == "ServingCache.put"]
        if put:
            get_miss += gets
            puts += put
            compute.append((s["end"] - s["start"]) - sum(gets) - sum(put))
        else:
            get_hit += gets
    ms = lambda xs: 1000.0 * common.median(xs)
    n_ok = sum(1 for r in records if r["status"] == 200)
    m["serve.hit_ratio"] = hits / max(n_ok, 1)
    m["serve.get_hit_ms"] = ms(get_hit)
    m["serve.get_miss_ms"] = ms(get_miss)
    m["serve.compute_ms"] = ms(compute)
    m["serve.put_ms"] = ms(puts)
    compacts = tracer.durations("ServingCache.compact")
    m["serve.compacts"] = len(compacts)
    m["serve.compact_s"] = sum(compacts)
    # The server handles one request at a time, so responses complete in
    # the order it accepted them: the k-th response to arrive belongs to
    # the k-th token check the server ran in the window.
    first = min((r["sent"] for r in records), default=0.0)
    starts = sorted(s["start"] for s in tracer.by_name("auth.decode_access_token")
                    if s["start"] >= first)
    by_done = sorted(records, key=lambda r: r["done"])
    waits = [1000.0 * (st - r["sent"]) for st, r in zip(starts, by_done)]
    m["serve.queue_wait_ms"] = common.median(waits)
    out.counts["serve.compacts"] = len(compacts)
