"""crawl_graph: ``CrawlEngine.run`` from bootstrap over the synthetic web.

The product path. Set-up bootstraps the seeds; the measured window runs
a fixed number of rounds through ``CrawlEngine.run(resume=True)`` with
the default features (bloom seen-set, batch sales, phash near-dup,
``transport="sim"``). ``loop.COMPACT_EVERY`` is set to the round count,
so the window ends with one compaction. Every round's ``RoundStats``
and the final seen set are checked against the pure-Python simulator in
``tests/oracle_sim.py`` on the same spec, outside the timed window; the
simulator's answer is cached per (spec, rounds) in ``.perfbench/``.
"""

from __future__ import annotations

import hashlib
import os

from . import common, layers
from .common import Outcome, now
from .layers import force

N_HOSTS = 256
SMOKE_HOSTS = 8
ROUND_NOMINAL_S = 15  # one round's wall time on 4 cores, for sizing


def spec_for(seed: int, smoke: bool):
    from pyspider_spark.synth import GraphSpec

    return GraphSpec(
        n_hosts=SMOKE_HOSTS if smoke else N_HOSTS,
        chains_per_host=6,
        max_pages_per_chain=8,
        details_per_list=6,
        api_pages_per_chain=3,
        images_per_list=2,
        seed_tag=f"perfbench{seed}",
    )


def rounds_for(seconds: int) -> int:
    return max(2, seconds // ROUND_NOMINAL_S)


def _seen_digest(urls) -> str:
    h = hashlib.sha256()
    for u in sorted(urls):
        h.update(u.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle(spec, rounds: int) -> dict:
    """Per-round metrics and the seen-set digest from the simulator."""
    key = hashlib.sha256(f"{spec!r}|{rounds}".encode()).hexdigest()[:24]
    path = os.path.join(common.STATE_DIR, "oracle", f"crawl-{key}.json")
    cached = common.load_json(path, None)
    if cached is not None:
        return cached
    from tests.oracle_sim import OracleEngine

    o = OracleEngine(spec)
    o.run(max_rounds=rounds)
    out = {
        "metrics": {str(r): m for r, m in o.metrics.items()},
        "seen": _seen_digest(o.seen),
    }
    common.save_json(path, out)
    return out


def run(ctx) -> Outcome:
    from pyspider_spark import loop
    from pyspider_spark.loop import CrawlEngine
    from pyspider_spark.schemas import SEEN

    spark, tracer = ctx.spark, ctx.tracer
    spec = spec_for(ctx.seed, ctx.smoke)
    rounds = rounds_for(ctx.seconds)
    tables_root = os.path.join(ctx.workdir, "tables")
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])

    per_round_jobs: list[tuple[int, int, int]] = []
    if tracer is not None:
        from .tracing import SparkJobCounter

        jobs = SparkJobCounter(spark)
        layers.instrument(tracer)

        def on_round(r, phase):
            if phase == "start":
                jobs.mark()
            else:
                per_round_jobs.append(jobs.since_mark())

        layers.wrap_rounds(tracer, on_round)

    saved_compact_every = loop.COMPACT_EVERY
    loop.COMPACT_EVERY = rounds
    try:
        t0 = now()
        eng = CrawlEngine(spark, tables_root, spec, n_seen_partitions=cpus)
        eng.bootstrap()
        setup_s = now() - t0

        round_s: list[float] = []
        inner = eng.run_round

        def timed_round(r):
            t = now()
            out = inner(r)
            round_s.append(now() - t)
            return out

        eng.run_round = timed_round
        t0 = now()
        stats = eng.run(max_rounds=rounds, resume=True)
        loop_s = now() - t0
        ctx.measured()
    finally:
        loop.COMPACT_EVERY = saved_compact_every

    popped = sum(s.popped for s in stats)
    disk = common.dir_bytes(tables_root)
    p50 = common.median(round_s)
    _pct, tail = common.tail_value(round_s)
    out = Outcome(
        attempted=rounds,
        failed=0,
        end_to_end={
            "setup_s": setup_s,
            "throughput_per_s": popped / loop_s,
            "latency_p50_ms": 1000.0 * p50,
            "latency_tail_ms": 1000.0 * tail,
        },
        report={
            "crawl_urls_per_s": (popped / loop_s, "1/s"),
            "round_p50_s": (p50, "s"),
            "disk_bytes_per_url": (disk / max(popped, 1), "B"),
            "rounds": (len(stats), "count"),
            "urls_popped": (popped, "count"),
        },
    )
    for s in stats:
        for k, v in s.__dict__.items():
            if k != "round":
                out.counts[f"round{s.round}.{k}"] = int(v)

    if tracer is not None:
        extra_self = _probes(spark, eng, spec, rounds, out)
        _layer_metrics(tracer, eng, stats, round_s, loop_s, per_round_jobs,
                       tables_root, extra_self, out)

    # correctness gate: every round equals the simulator, and so does
    # the final seen set
    want = oracle(spec, rounds)
    for s in stats:
        exp = want["metrics"].get(str(s.round))
        if exp != s.__dict__:
            out.failed += 1
            out.notes.append(f"round {s.round}: engine {s.__dict__} != oracle {exp}")
    if len(stats) != rounds:
        out.failed += rounds - len(stats)
        out.notes.append(f"ran {len(stats)} rounds, expected {rounds}")
    seen = eng.store.read_or_empty("seen", SEEN).select("url_canon").collect()
    if _seen_digest(r.url_canon for r in seen) != want["seen"]:
        out.failed += 1
        out.notes.append("final seen set differs from the oracle")
    return out


def _probes(spark, eng, spec, rounds: int, out: Outcome) -> dict[str, float]:
    """Time the lazy layers on this run's own final state: the next
    round's pop over the live frontier, the seen-set probe, URL
    canonicalization, fetch, image build, parse stages and band pairs.
    Returns probe seconds per layer (added to the layers' self time)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pyspider_spark import neardup, scheduler, stages
    from pyspider_spark.canon import canonicalize_udf
    from pyspider_spark.fetch import materialize_images, run_fetch
    from pyspider_spark.params import with_request_params
    from pyspider_spark.schemas import (
        CONFIG, FRONTIER, IMAGES, ROBOTS, SEEN, SEEN_FILTERS, TOMB,
    )
    from pyspider_spark.seen import (
        bloom_maybe_contains, bloom_merge, partition_id_col,
    )
    from pyspider_spark.synth import CAPTCHA_MARKER

    store, r = eng.store, rounds
    m = out.per_layer
    probe: dict[str, float] = {}

    frontier = store.read_or_empty("frontier", FRONTIER)
    ready, _ = scheduler.split_ready(frontier, r)
    tomb = store.read_or_empty("tomb", TOMB).select("url_canon", "retries")
    cands = (
        ready.join(F.broadcast(tomb), on=["url_canon", "retries"], how="left_anti")
        .withColumn("exetime", F.lit(r).cast("long"))
        .persist()
    )
    n_cands = cands.count()
    config = scheduler.effective_config(
        store.read_or_empty("config", CONFIG), store.read_or_empty("robots", ROBOTS)
    )
    per_host = cands.groupBy("host").count()
    big = [row.host for row in per_host.filter(
        F.col("count") > scheduler.BIG_HOST_ROWS).collect()]

    popped = scheduler.popped_via_thresholds(cands, config, big_hosts=big)
    probe["scheduler"] = t = force(popped)
    popped = popped.persist()
    n_popped = popped.count()
    m["scheduler.pop_s"] = t
    m["scheduler.rows_ranked_per_s"] = n_cands / t
    m["scheduler.big_hosts"] = len(big)
    m["scheduler.pop_ratio"] = n_popped / max(n_cands, 1)

    probe["canon"] = t = force(cands.select(canonicalize_udf("url").alias("u")))
    m["canon.urls_per_s"] = n_cands / t

    marked = eng.seen.mark_unseen(cands.select("url_canon"))
    m["seen.mark_unseen_s"] = t = force(marked)
    probe["seen"] = t

    # bloom quality in this process, from the stored blobs: the share of
    # the live frontier's URLs the bloom calls "maybe seen", and that
    # share among URLs not in the seen table (all false positives)
    filt = store.read_or_empty("seen_filters", SEEN_FILTERS).toPandas()
    seen_urls = set(r_.url_canon for r_ in
                    store.read_or_empty("seen", SEEN).select("url_canon").collect())
    probe_pdf = cands.select(
        "url_canon", partition_id_col(F.col("url_canon"), eng.seen.P).alias("pid")
    ).toPandas()
    maybe = fp = neg = 0
    for pid, grp in probe_pdf.groupby("pid"):
        blobs = list(filt.loc[filt["partition_id"] == pid, "filter"])
        blob = bloom_merge(blobs, eng.seen.n_bits) if blobs else None
        hits = bloom_maybe_contains(pd.Series(list(grp["url_canon"])), blob, eng.seen.n_bits)
        for u, h in zip(grp["url_canon"], hits):
            maybe += bool(h)
            if u not in seen_urls:
                neg += 1
                fp += bool(h)
    m["seen.bloom_maybe_ratio"] = maybe / max(len(probe_pdf), 1)
    m["seen.bloom_fp_ratio"] = fp / max(neg, 1)

    fetched = run_fetch(with_request_params(popped), spec)
    probe["fetch"] = t = force(fetched)
    fetched = fetched.persist()
    n_fetched = fetched.count()
    m["fetch.rows_per_s"] = n_fetched / t
    body = fetched.agg(F.sum(F.length("body")).alias("b")).collect()[0]["b"] or 0
    m["fetch.body_bytes_per_url"] = body / max(n_fetched, 1)
    ok, _requeue, _exhausted = scheduler.split_fetch_outcomes(fetched, CAPTCHA_MARKER)
    images = materialize_images(ok, spec)
    t = force(images)
    probe["fetch"] += t
    m["fetch.images_per_s"] = images.count() / t

    parse_s = 0.0
    parsed = stages.parse_api(ok)
    for df in (parsed, stages.api_items(parsed, r), stages.links_from_list(ok),
               stages.links_from_api(parsed), stages.detail_items(ok, r),
               stages.sales_items(ok, r)):
        parse_s += force(df)
    probe["stages"] = parse_s
    m["stages.parse_rows_per_s"] = ok.count() / parse_s

    nb, bb = eng.neardup_geometry
    idx = neardup.BandIndex(store, n_bands=nb, band_bits=bb)
    bands = idx.bands_of(store.read_or_empty("images", IMAGES)).persist()
    pairs = neardup.pairs_from_bands(bands, bands, r, max_hamming=nb - 1)
    m["neardup.pairs_s"] = t = force(pairs)
    probe["neardup"] = t
    cand_pairs = (
        bands.select("band_key", "image_id")
        .join(bands.select("band_key", F.col("image_id").alias("dup_of")), "band_key")
        .filter(F.col("image_id") > F.col("dup_of"))
        .select("image_id", "dup_of").distinct().count()
    )
    m["neardup.verified_ratio"] = pairs.count() / max(cand_pairs, 1)

    for df in (cands, popped, fetched, bands):
        df.unpersist()
    return probe


def _layer_metrics(tracer, eng, stats, round_s, loop_s, per_round_jobs,
                   tables_root, probe_self, out: Outcome) -> None:
    m = out.per_layer
    m.update(layers.span_metrics(tracer, tables_root, probe_self))
    m["loop.bootstrap_s"] = sum(tracer.durations("CrawlEngine.bootstrap"))
    m["loop.compact_s"] = (
        loop_s - sum(round_s) - sum(tracer.durations("CrawlEngine.restore_to_ledger"))
    )
    for label, secs in eng.phase_times.items():
        m[f"loop.phase.{label}_s"] = secs
    n = max(len(per_round_jobs), 1)
    m["loop.spark_jobs_per_round"] = sum(j for j, _, _ in per_round_jobs) / n
    m["loop.spark_stages_per_round"] = sum(s for _, s, _ in per_round_jobs) / n
    m["loop.spark_tasks_per_round"] = sum(t for _, _, t in per_round_jobs) / n
    for i, (j, s, t) in enumerate(per_round_jobs):
        out.counts[f"round{i}.spark_jobs"] = j
        out.counts[f"round{i}.spark_stages"] = s
        out.counts[f"round{i}.spark_tasks"] = t
    tot = {k: sum(getattr(s, k) for s in stats) for k in (
        "popped", "fetched_ok", "deduped", "deferred_politeness",
        "new_links", "items_emitted", "images_landed", "robots_blocked",
    )}
    for k in ("popped", "fetched_ok", "deduped", "deferred_politeness",
              "new_links", "items_emitted", "images_landed"):
        m[f"loop.{k}"] = tot[k]
    m["loop.fetch_ok_ratio"] = tot["fetched_ok"] / max(tot["popped"], 1)
    raw = tot["new_links"] + tot["deduped"] + tot["robots_blocked"]
    m["loop.link_keep_ratio"] = tot["new_links"] / max(raw, 1)
    m["seen.add_s"] = sum(tracer.durations("SeenSet.add"))
    m["seen.compact_filters_s"] = sum(tracer.durations("SeenSet.compact_filters"))
    m["neardup.index_s"] = sum(tracer.durations("BandIndex.append_round_bands"))
    out.counts["tables.append_calls"] = int(m["tables.append_calls"])
