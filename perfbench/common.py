"""Shared plumbing for the benchmark: box set-up, the Spark session, the
memory sampler, the percentile rule and the result line.

Nothing here touches ``pyspider_spark`` internals: the session comes
from ``pyspider_spark.session.get_spark`` with the environment it reads
(``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``,
``SPARK_GRAFT_LOCAL_DIR``) set from here first.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE_DIR = os.path.join(ROOT, ".perfbench")

# JVM heap for local[N]: one JVM runs every task. 3g holds every
# workload's working set with room to spare; the box has ~15 GB shared
# with other tenants, so the session.py default (48g) is never used.
DRIVER_MEM = "3g"

def box_cpus() -> int:
    """Usable cores (``nproc``): the affinity mask, not the host count."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def make_workdir(workload: str, seed: int) -> str:
    """A fresh per-run directory inside the checkout for tables, Spark
    scratch and temp files; removed by :func:`cleanup_workdir`."""
    d = os.path.join(STATE_DIR, "work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tables", "spark-local", "tmp"):
        os.makedirs(os.path.join(d, sub))
    return d


def cleanup_workdir(workdir: str) -> None:
    shutil.rmtree(workdir, ignore_errors=True)


def configure_env(workdir: str) -> int:
    """Point the session factory at this box and this run's directory.
    Must run before pyspark starts its JVM. Returns the core count."""
    cpus = box_cpus()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(workdir, "spark-local")
    # the JVM prefers this over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["SPARK_GRAFT_LOCAL_DIR"]
    # Python workers are forked by the JVM and import pyspider_spark by
    # name: without the checkout on their path they fail with
    # ModuleNotFoundError.
    pp = os.environ.get("PYTHONPATH", "")
    if ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    # the JVM's perf-counter file would go to /tmp whatever the temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return cpus


def start_spark(workdir: str, cpus: int):
    """``get_spark`` at local[cpus], with scratch, temp files and the
    warehouse kept inside the run directory and no console progress bar."""
    from pyspider_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    return get_spark(
        "perfbench",
        cores=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a heap committed and touched up front: without it the JVM's
            # resident size depends on when it grew the heap, and peak
            # memory varies by a third from run to run
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its parent's pipe closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- statistics
def tail_index(n: int) -> int | None:
    """Index (into ascending samples) of the highest percentile that has
    at least ten samples beyond it, or None below eleven samples."""
    return n - 11 if n >= 11 else None


def tail_value(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) under the ten-beyond rule; with fewer than
    eleven samples the maximum stands in (percentile 100)."""
    s = sorted(samples)
    i = tail_index(len(s))
    if i is None:
        return 100.0, s[-1]
    return 100.0 * (i + 1) / len(s), s[i]


# ---------------------------------------------------------------- memory
def _children(pid: int) -> list[int]:
    out = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


# Above this a process is the JVM: its pages are its own, and reading its
# proportional size walks gigabytes of page tables (~35 ms, under the
# JVM's memory-map lock), so its resident size stands in.
_PSS_MAX_RSS = 512 * 2**20


def _mem_bytes(pid: int) -> int:
    """Proportional set size (resident pages, each shared page split
    among the processes mapping it) so the Python workers the daemon
    forks do not count its pages once per worker; plain resident size
    for processes above ``_PSS_MAX_RSS``."""
    rss = _rss_bytes(pid)
    if rss > _PSS_MAX_RSS:
        return rss
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return rss


def tree_mem_bytes(root_pid: int) -> int:
    """Memory of a process and all its descendants: the benchmark, the JVM
    it launched and the JVM's Python workers."""
    total, stack, seen = 0, [root_pid], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _mem_bytes(pid)
        stack.extend(_children(pid))
    return total


def _on_tmpfs(path: str) -> bool:
    """True when ``path`` lives on a memory-backed filesystem, whose
    bytes count as memory, not disk."""
    best, fstype = "", ""
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt, typ = parts[1], parts[2]
                if path == mnt or path.startswith(mnt.rstrip("/") + "/"):
                    if len(mnt) >= len(best):
                        best, fstype = mnt, typ
    except OSError:
        return False
    return fstype in ("tmpfs", "ramfs")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                continue
    return total


class RssSampler:
    """Background sampler of peak memory: the process tree's memory
    (:func:`_mem_bytes`) plus, when the run directory is on tmpfs, the bytes stored
    there (tables and Spark scratch), sampled every ``interval`` seconds.

    The peak is the highest level held for two consecutive samples. A
    single-sample spike is shorter than the sampling can resolve, and the
    usual one is an artifact: a child the JVM has just forked shares the
    JVM's memory until it execs, so the JVM would count twice."""

    def __init__(self, workdir: str, interval: float = 0.5):
        self.workdir = workdir
        self.interval = interval
        self.tmpfs = _on_tmpfs(os.path.realpath(workdir))
        self.peak = 0
        self._last = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        v = tree_mem_bytes(os.getpid())
        if self.tmpfs:
            v += dir_bytes(self.workdir)
        self.peak = max(self.peak, min(v, self._last))
        self._last = v
        return v

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak / 2**20


# ---------------------------------------------------------------- results
@dataclass
class Outcome:
    """What one workload run hands back to ``run.py``."""

    attempted: int
    failed: int
    end_to_end: dict[str, float]
    # named user-facing figures of this workload (README.md), printed
    # as report lines above the result: {name: (value, unit)}
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    # per-layer metrics, filled by a traced run only
    per_layer: dict[str, float] = field(default_factory=dict)
    # exact-repeat counts (compared across runs of one seed)
    counts: dict[str, int] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)


def metric(value: float, unit: str) -> dict:
    v = float(value)
    if not math.isfinite(v):
        raise ValueError(f"non-finite metric value {value!r}")
    return {"value": v, "unit": unit}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def load_json(path: str, default):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return default


def save_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
    os.replace(tmp, path)


def check_counts(key: str, counts: dict[str, int]) -> list[str]:
    """Compare this run's exact-repeat counts with the first run recorded
    under ``key`` (workload, seed, seconds, trace). Returns the names of
    counts that changed; records the counts when the key is new."""
    path = os.path.join(STATE_DIR, "counts.json")
    known = load_json(path, {})
    prev = known.get(key)
    if prev is None:
        known[key] = counts
        save_json(path, known)
        return []
    return sorted(
        k for k in set(prev) | set(counts) if prev.get(k) != counts.get(k)
    )


def now() -> float:
    return time.perf_counter()
