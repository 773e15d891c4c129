"""corpus_ops: the training-data operators of ``queries.REGISTRY`` over a
generated corpus.

Set-up writes ``documents.parquet`` and ``embeddings.parquet`` (the
schemas of the shared sf test tables) into the run directory from the
seed: multilingual token text with exact and near duplicates, and
clustered 64-d embeddings. The window runs every ``t_*``, ``d_*``,
``s_*`` and ``m_*`` operator of ``bench.py``'s ``HEADLINE`` list in turn
and collects each result. Each result is then checked against its
``queries.oracle_sql()`` entry in DuckDB (the ``m_*`` oracles read the
committed golden features under ``tests/golden``).
"""

from __future__ import annotations

import os

import numpy as np

from .common import Outcome, now

OPS = [
    "t_quality_score", "t_langid", "d_exact_dedup", "d_minhash_sig",
    "d_minhash_pairs", "d_dedup_clusters", "d_simhash_sig", "s_dot_topk",
    "s_cosine_topk", "s_ann_lsh", "s_ann_ivf", "m_image_pipeline",
    "m_audio_pipeline", "m_video_pipeline",
]
N_DOCS, N_VECS, DIM = 5000, 2000, 64
SMOKE_DOCS, SMOKE_VECS = 200, 200
PASS_NOMINAL_S = 20  # one warm pass on 4 cores, for sizing

WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer"
).split()
MARKERS = {
    "en": ("the", "a", "of", "and", "to", "is"),
    "es": ("el", "la", "de", "los", "las", "es"),
    "fr": ("le", "la", "les", "et", "des", "est"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "zh": (),
}


def passes_for(seconds: int) -> int:
    return max(1, seconds // PASS_NOMINAL_S)


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> None:
    """Seeded corpus: about 3% exact copies (re-cased, re-spaced) and 5%
    near copies (a few tokens swapped) of earlier documents; embeddings
    drawn around 12 cluster centres."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    langs = list(MARKERS)
    texts, doc_langs = [], []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.03:
            src = texts[int(rng.integers(0, i))]
            text = "  ".join(src.upper().split()) if rng.random() < 0.5 else src
            lang = doc_langs[texts.index(src)]
        elif i > 10 and u < 0.08:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            for _ in range(max(1, len(toks) // 20)):
                toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            text, lang = " ".join(toks), doc_langs[j]
        else:
            lang = langs[int(rng.choice(len(langs), p=[0.4, 0.15, 0.15, 0.15, 0.15]))]
            vocab = list(WORDS) + list(MARKERS[lang]) * 3
            n = int(rng.integers(8, 64))
            text = " ".join(vocab[k] for k in rng.integers(0, len(vocab), n))
        texts.append(text)
        doc_langs.append(lang)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": doc_langs,
        "source": [f"src{int(k)}" for k in rng.integers(0, 8, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    centres = rng.normal(0, 0.15, (12, DIM))
    labels = rng.integers(0, 12, n_vecs)
    vecs = (centres[labels] + rng.normal(0, 0.08, (n_vecs, DIM))).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))


class _Collected:
    """A collected result in the shape ``tests.parity.compare`` reads."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _duck(sql: str, data_dir: str):
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
            )
        return con.sql(sql).df()
    finally:
        con.close()


def recall(approx, exact) -> float:
    want = set(zip(exact["qid"], exact["vid"]))
    got = set(zip(approx["qid"], approx["vid"]))
    return len(want & got) / max(len(want), 1)


def run(ctx) -> Outcome:
    from pyspider_spark import queries as Q

    spark, tracer = ctx.spark, ctx.tracer
    data_dir = os.path.join(ctx.workdir, "corpus")
    os.makedirs(data_dir)
    t0 = now()
    write_corpus(data_dir, ctx.seed, *((SMOKE_DOCS, SMOKE_VECS) if ctx.smoke
                                      else (N_DOCS, N_VECS)))
    setup_s = now() - t0

    n_pass = passes_for(ctx.seconds)
    op_s: dict[str, list[float]] = {op: [] for op in OPS}
    pass_s: list[float] = []
    results = {}
    for _ in range(n_pass):
        tp = now()
        for op in OPS:
            t = now()
            if tracer is not None:
                with tracer.span(f"data.{op}", "data"):
                    results[op] = Q.REGISTRY[op].fn(spark, data_dir).toPandas()
            else:
                results[op] = Q.REGISTRY[op].fn(spark, data_dir).toPandas()
            op_s[op].append(now() - t)
            # frames an operator persisted would otherwise pile up
            spark.catalog.clearCache()
        pass_s.append(now() - tp)
    ctx.measured()

    from statistics import median

    from tests.parity import compare

    failed, notes = 0, []
    oracles = Q.oracle_sql()
    for op in OPS:
        sql = oracles.get(op)
        if sql is None:
            notes.append(f"{op}: no oracle")
            continue
        ok, msg = compare(_Collected(results[op]), _duck(sql, data_dir))
        if not ok:
            failed += 1
            notes.append(f"{op}: {msg}")
    corpus_s = median(pass_s)
    tail = max(pass_s)
    out = Outcome(
        attempted=len(OPS),
        failed=failed,
        end_to_end={
            "setup_s": setup_s,
            "throughput_per_s": len(OPS) / corpus_s,
            "latency_p50_ms": 1000.0 * corpus_s,
            "latency_tail_ms": 1000.0 * tail,
        },
        report={
            "corpus_s": (corpus_s, "s"),
            "operators": (len(OPS), "count"),
            "passes": (n_pass, "count"),
        },
        notes=notes,
    )
    for op in OPS:
        out.counts[f"rows.{op}"] = len(results[op])
    if tracer is not None:
        from . import layers

        m = out.per_layer
        m.update(layers.span_metrics(
            tracer, os.path.join(ctx.workdir, "tables"), {}))
        for op in OPS:
            m[f"data.{op}_s"] = median(op_s[op])
        m["data.ann_lsh_recall"] = recall(results["s_ann_lsh"], results["s_cosine_topk"])
        m["data.ann_ivf_recall"] = recall(results["s_ann_ivf"], results["s_cosine_topk"])
    return out
