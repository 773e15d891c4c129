"""Which public entry points the traced run wraps, and the per-layer
metrics derived from their spans.

Eager entry points (they do their work before returning) are wrapped as
spans. Lazy ones (they return an unexecuted DataFrame) are timed by the
workloads as probes instead: called on inputs from the run's own state
and forced with a ``noop``-format write (:func:`force`).
"""

from __future__ import annotations

import os
import statistics
import time

from .tracing import Tracer, layer_self_seconds

# Name of the span around each crawl round.
ROUND_SPAN = "CrawlEngine.run_round"


def instrument(tracer: Tracer) -> None:
    """Wrap every eager public entry point named in README.md."""
    from pyspider_spark import auth, serve
    from pyspider_spark.loop import CrawlEngine
    from pyspider_spark.neardup import BandIndex
    from pyspider_spark.seen import SeenSet
    from pyspider_spark.tables import TableStore

    for attr in ("bootstrap", "restore_to_ledger"):
        tracer.wrap(CrawlEngine, attr, "loop", f"CrawlEngine.{attr}")
    for attr in (
        "append", "append_rows", "overwrite", "count_rows",
        "min_column_stat", "last_append_rows",
    ):
        tracer.wrap(TableStore, attr, "tables", f"TableStore.{attr}")
    for attr in ("add", "compact_filters"):
        tracer.wrap(SeenSet, attr, "seen", f"SeenSet.{attr}")
    for attr in ("append_round_bands", "compact"):
        tracer.wrap(BandIndex, attr, "neardup", f"BandIndex.{attr}")
    for attr in ("get", "put", "compact"):
        tracer.wrap(serve.ServingCache, attr, "serve", f"ServingCache.{attr}")
    tracer.wrap(serve, "serve_keyword_search", "serve", "serve_keyword_search")
    tracer.wrap(auth, "decode_access_token", "auth", "auth.decode_access_token")


def wrap_rounds(tracer: Tracer, on_round=None) -> None:
    """Wrap ``CrawlEngine.run_round`` so each round is a root span (run
    id = round number) that adopts the write-family threads' spans.
    ``on_round(r, phase)`` is called with phase "start"/"end"."""
    from pyspider_spark.loop import CrawlEngine

    def make(orig):
        def run_round(self, r):
            if on_round:
                on_round(r, "start")
            with tracer.span(ROUND_SPAN, "loop", run_id=f"round{r}") as sp:
                with tracer.adopt_orphans(sp):
                    out = orig(self, r)
            if on_round:
                on_round(r, "end")
            return out

        return run_round

    tracer.replace(CrawlEngine, "run_round", make)


def force(df) -> float:
    """Execute a lazy DataFrame to completion without collecting it;
    return the seconds taken."""
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _ms(xs: list[float]) -> float:
    return 1000.0 * statistics.median(xs) if xs else 0.0


def span_metrics(tracer: Tracer, tables_root: str, probe_self: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics every workload derives the same way: each
    layer's self time (spans plus probes), the table store's call
    counts and sizes, the serving cache and the token check."""
    self_s = layer_self_seconds(tracer.spans)
    for layer, secs in probe_self.items():
        self_s[layer] = self_s.get(layer, 0.0) + secs
    m = {f"{layer}.self_s": v for layer, v in self_s.items()}

    appends = tracer.durations("TableStore.append")
    m["tables.append_calls"] = len(appends) + len(tracer.durations("TableStore.append_rows"))
    m["tables.append_p50_ms"] = _ms(appends)
    m["tables.overwrite_s"] = sum(tracer.durations("TableStore.overwrite"))
    m["tables.footer_stat_ms"] = _ms(
        tracer.durations("TableStore.count_rows")
        + tracer.durations("TableStore.min_column_stat")
        + tracer.durations("TableStore.last_append_rows")
    )
    n_bytes = n_dirs = 0
    for dirpath, dirs, files in os.walk(tables_root):
        n_dirs += sum(1 for d in dirs if d.startswith("data-"))
        for f in files:
            n_bytes += os.lstat(os.path.join(dirpath, f)).st_size
    m["tables.bytes_written"] = n_bytes
    m["tables.data_dirs"] = n_dirs

    decodes = tracer.durations("auth.decode_access_token")
    m["auth.decode_us"] = 1e6 * statistics.median(decodes) if decodes else 0.0
    return m
