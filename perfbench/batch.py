"""``batch_contract``: the transcript/CEP subset of the contract queries.

Closed loop, one client: passes over the ten queries run back to back,
each query written to the ``noop`` sink. The input tables
(``documents``, ``events``, ``embeddings``, the columns these queries
read) are generated from the seed into the run's work directory, in
the shape of the contract testdata (TESTDATA.md), as large as sf0.01
but with twice its events.
Every query's rows, schema and value hash, as the untimed warm-up pass
collects them, are checked once per run against its DuckDB oracle
(``contract.ORACLES``), the comparison ``tools/check_correctness.py``
makes.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from common import (
    ROOT,
    RssSampler,
    Tracer,
    Window,
    cold_start_s,
    median,
    stop_session,
)

QUERY_NAMES = [
    "rule_filter",
    "text_stats",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "tumbling_window",
    "session_window",
    "cep_funnel",
    "messages_assembly",
    "knn_brute_cosine",
]

#: timed passes per run, after the untimed warm-up pass that collects
#: the rows for the oracle check; the run reports their median
N_OPS = 2

N_DOCS = 500
N_EVENTS = 20_000
N_USERS = 300
N_VECS = 500
DIM = 64

_VOCAB = np.array(
    "stream line value a small table vector window scan batch customer spark "
    "column filter fast slow join order group row big data the query hash "
    "merge key sort agg part".split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])


def make_tables(seed: int, out_dir: str) -> str:
    """documents / events / embeddings parquet files, one per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_words = rng.integers(8, 48, size=N_DOCS)
    texts = [" ".join(rng.choice(_VOCAB, size=k)) for k in n_words]
    # near-duplicates (one word replaced) and exact copies of earlier docs
    for i in range(1, N_DOCS):
        u = rng.random()
        if u < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts[i] = " ".join(words)
        elif u < 0.05:
            texts[i] = texts[int(rng.integers(0, i))]
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, size=N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{k}" for k in rng.integers(0, 20, size=N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    gaps_us = rng.exponential(30 * 86_400e6 / N_EVENTS, size=N_EVENTS).astype(np.int64)
    events = pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pd.to_datetime(
                np.datetime64("2024-01-01T00:00:00", "us")
                + np.cumsum(gaps_us).astype("timedelta64[us]")
            ),
            "user_id": rng.integers(0, N_USERS, size=N_EVENTS).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, size=N_EVENTS),
            "value": np.round(rng.exponential(50.0, size=N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=N_EVENTS)],
        }
    )

    centers = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, size=N_VECS)
    vecs = centers[label] + 0.8 * rng.normal(size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(label.astype(np.int32)),
        }
    )

    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(out_dir, "documents.parquet"))
    ev = pa.Table.from_pandas(events, preserve_index=False)
    ev = ev.set_column(1, "ts", ev.column("ts").cast(pa.timestamp("us")))
    pq.write_table(ev, os.path.join(out_dir, "events.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return out_dir


def _check_module():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_correctness

    return check_correctness


def oracle_frames(sf_dir: str) -> dict[str, pd.DataFrame]:
    """Every query's DuckDB oracle result, canonicalised."""
    import duckdb

    from dataflow_mm_lrt_spark.contract import ORACLES

    cc = _check_module()
    con = duckdb.connect()
    for t in ("documents", "events", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {name: cc._canon(con.sql(ORACLES[name]).df()) for name in QUERY_NAMES}
    con.close()
    return out


#: the one (query, column) where Spark's and DuckDB's round(…, 6) break
#: an exact half-way value in opposite directions (seen on generated
#: documents: text_stats quality 0.511688 vs 0.511687)
ROUNDING_TIE = ("text_stats", "quality")


def compare(query: str, got: pd.DataFrame, want: pd.DataFrame) -> str:
    """'exact' when rows, columns and the value hash match (the
    tools/check_correctness.py test); 'tie' when, for the ROUNDING_TIE
    column only, values differ by one unit in the 6th decimal and every
    other column matches exactly; 'differs' otherwise."""
    cc = _check_module()
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return "differs"
    if cc._value_hash(got) == cc._value_hash(want):
        return "exact"
    tie_query, col = ROUNDING_TIE
    if query != tie_query:
        return "differs"
    rest = [c for c in got.columns if c != col]
    g = got.sort_values(rest).reset_index(drop=True)
    w = want.sort_values(rest).reset_index(drop=True)
    if cc._value_hash(g[rest]) != cc._value_hash(w[rest]):
        return "differs"
    units = (g[col] * 1e6).round() - (w[col] * 1e6).round()
    return "tie" if units.abs().max() <= 1 else "differs"


def _pass(spark, sf_dir: str, tracer: Tracer) -> tuple[dict, set]:
    """One pass over the queries, each written to the noop sink."""
    from dataflow_mm_lrt_spark import cache
    from dataflow_mm_lrt_spark.contract import QUERIES

    errors = set()
    w = Window()
    for name in QUERY_NAMES:
        with tracer.span(f"contract.{name}"):
            try:
                QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - a failed query is counted
                print(f"# {name} failed: {type(exc).__name__}: {exc}"[:300])
                errors.add(name)
            finally:
                cache.release_all()
    return w.stop(), errors


def _collect(spark, sf_dir: str) -> tuple[dict[str, pd.DataFrame], set]:
    """Every query's rows, for the oracle check."""
    from dataflow_mm_lrt_spark import cache
    from dataflow_mm_lrt_spark.contract import QUERIES

    got, errors = {}, set()
    for q in QUERY_NAMES:
        try:
            got[q] = QUERIES[q](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 - a failed query is counted
            print(f"# {q} failed: {type(exc).__name__}: {exc}"[:300])
            errors.add(q)
        finally:
            cache.release_all()
    return got, errors


def run(name: str, seed: int, seconds: float, work: str, cores: int) -> dict:
    """N_OPS timed passes (``seconds`` is not used: the count is fixed so
    that every run reports the same statistic). The untimed warm-up pass
    collects every query's rows for the oracle check."""
    sf_dir = make_tables(seed, os.path.join(work, "tables"))
    tracer = Tracer()
    with RssSampler() as rss:
        spark, setup_s = cold_start_s(cores, work)
        w = Window()
        got, check_errors = _collect(spark, sf_dir)
        warmup_s = w.stop()["wall_s"]
        passes = [_pass(spark, sf_dir, tracer) for _ in range(N_OPS)]
    stop_session(spark)

    cc = _check_module()
    want = oracle_frames(sf_dir)
    wrong, ties = set(check_errors), []
    for q, pdf in got.items():
        verdict = compare(q, cc._canon(pdf), want[q])
        if verdict != "exact":
            print(f"# {q}: output {verdict} vs its DuckDB oracle")
        if verdict == "tie":
            ties.append(q)
        elif verdict == "differs":
            wrong.add(q)
    failed = sum(len(errs | wrong) for _, errs in passes)
    windows = [r for r, _ in passes]
    per_query = {q: median(tracer.durations(f"contract.{q}")) for q in QUERY_NAMES}
    return {
        "attempted": len(QUERY_NAMES) * len(passes),
        "failed": failed,
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_mb,
        "ops": windows,
        "windows": windows,
        "spans": tracer.spans,
        "layers": {f"contract.{q}_s": s for q, s in per_query.items()},
        "named": {
            "batch_s": (median(r["wall_s"] for r in windows), "s"),
            "batch_core_s": (median(r["core_s"] for r in windows), "core-s"),
            "rounding_tie_queries": (len(ties), "count"),
            "warmup_s": (warmup_s, "s"),
        },
    }


#: the traced run is the same loop; its per-query spans are the layers
run_traced = run
