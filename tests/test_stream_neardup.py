"""Trailing-corpus SimHash near-dup — the reference's sequential
corpus-gated semantics (image_diversity_filter.py:15-34), keyed and
bounded, as the pipeline runs it: ``neardup.trailing_mark`` inside the
assembly state (``PipelineConfig.neardup_threshold``).

Cross-checks: the trailing-mark kernel against a from-definition python
replay (both of its paths); the max_corpus bound re-admits a duplicate
after its hash fell off the ring; the full ND pipeline against the
pandas micro-batch oracle row-for-row (state carried across
micro-batches, and one conversation delivered as many Arrow chunks in
scrambled order); and a checkpoint restart."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dataflow_mm_lrt_spark.streaming import neardup


def _replay(hashes, threshold, max_corpus):
    """From-definition sequential replay (reference semantics)."""
    corpus, keep, minh = [], [], []
    for h in hashes:
        ds = [bin((int(h) ^ int(c)) & ((1 << 64) - 1)).count("1") for c in corpus]
        md = min(ds) if ds else -1
        minh.append(md)
        if ds and md <= threshold:
            keep.append(False)
        else:
            keep.append(True)
            corpus.append(int(h))
            corpus = corpus[-max_corpus:]
    return keep, minh


@pytest.mark.parametrize("max_corpus", [3, 100])
def test_trailing_mark_matches_replay(max_corpus):
    rng = np.random.default_rng(9)
    base = rng.integers(0, 2**48, size=40, dtype=np.int64)
    # inject near-dups: flip ≤2 bits of earlier hashes
    hs = list(base)
    for i in (5, 11, 30):
        hs.append(int(base[i]) ^ 0b101)
    hs = np.asarray(hs, dtype=np.int64)
    keep, minh, ring = neardup.trailing_mark(
        hs, np.empty(0, dtype=np.int64), threshold=3, max_corpus=max_corpus
    )
    wk, wm = _replay(hs, 3, max_corpus)
    assert keep.tolist() == wk
    assert minh.tolist() == wm
    assert len(ring) <= max_corpus


def test_corpus_bound_readmits_after_eviction():
    # pairwise Hamming ≥ 11 between the four distinct values
    h = np.asarray([7, 0xFF00, 0xFF0000, 0xFF000000, 7], dtype=np.int64)
    # max_corpus=3: by the time 7 re-arrives, the original 7 has been
    # evicted (ring holds the three 0xFF.. values) → re-admitted as keep
    keep, _, _ = neardup.trailing_mark(
        h, np.empty(0, dtype=np.int64), threshold=3, max_corpus=3
    )
    assert keep.tolist() == [True, True, True, True, True]
    # with a big ring the repeat is suppressed
    keep2, _, _ = neardup.trailing_mark(
        h, np.empty(0, dtype=np.int64), threshold=3, max_corpus=100
    )
    assert keep2.tolist() == [True, True, True, True, False]


def _transcripts(n_convs=12, turns=20, dup_frac=0.4, seed=3):
    rng = np.random.default_rng(seed)
    words = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "eta", "theta"]
    rows = []
    t0 = np.datetime64("2026-01-01T00:00:00")
    for c in range(n_convs):
        texts = []
        for i in range(turns):
            if texts and rng.random() < dup_frac:
                t = texts[rng.integers(0, len(texts))]  # near-exact repeat
            else:
                t = " ".join(rng.choice(words, size=rng.integers(3, 7)))
            texts.append(t)
            rows.append(
                (
                    f"c{c:03d}",
                    i,
                    "user" if i % 2 == 0 else "assistant",
                    t,
                    "search" if i % 7 == 0 else None,
                    t0 + np.timedelta64(int(c * 1000 + i * 13), "s"),
                )
            )
    df = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    df["turn_idx"] = df["turn_idx"].astype("int32")  # TRANSCRIPT_SCHEMA int
    df["tool"] = df["tool"].astype(object)
    df["ts"] = df["ts"].astype("datetime64[us]")  # Spark timestamp = micros
    return df


def test_pipeline_with_neardup_stage(spark, tmp_path):
    """The near-dup gate folded into the assembly state (one stateful
    op — Spark's per-query limit): the full pipeline with
    neardup_threshold set drains end-to-end and emits strictly fewer
    turns than the exact-dedup-only pipeline, with no near-duplicate
    pair among the emitted turns of any conversation."""
    from dataflow_mm_lrt_spark.datagen import append_punctuation_file, write_dataset
    from dataflow_mm_lrt_spark.streaming.run import PipelineConfig, run_pipeline

    paths = write_dataset(str(tmp_path / "ds"), sf=0.001)
    # far-future heartbeat so the availableNow drain's watermark passes
    # all real data and the stateful stage flushes (the fixture pattern
    # of every pipeline test; clean_stages keeps the system/heartbeat row)
    tr_max = spark.read.parquet(paths["transcripts"]).agg({"ts": "max"}).first()[0]
    append_punctuation_file(
        paths["transcripts"], np.datetime64(tr_max) + np.timedelta64(30, "D")
    )
    base_cfg = PipelineConfig(watermark_delay="72 hours", max_files_per_trigger=2)
    nd_cfg = PipelineConfig(
        watermark_delay="72 hours", max_files_per_trigger=2, neardup_threshold=3
    )
    sink1, _ = run_pipeline(
        spark, paths["transcripts"], str(tmp_path / "o1"), base_cfg
    )
    sink2, _ = run_pipeline(
        spark, paths["transcripts"], str(tmp_path / "o2"), nd_cfg
    )
    base = spark.read.parquet(sink1.data_dir).toPandas()
    nd = spark.read.parquet(sink2.data_dir).toPandas()
    assert 0 < len(nd) < len(base)

    # verify the near-dup invariant on a sample of conversations: among
    # emitted turns of one conv, no later turn within Hamming ≤3 of an
    # earlier one (in emission order)
    from dataflow_mm_lrt_spark.operators.dedup import with_simhash
    from dataflow_mm_lrt_spark.streaming.neardup import trailing_mark

    sdf = with_simhash(spark.createDataFrame(nd[["conv_id", "text"]])).toPandas()
    nd = nd.assign(simhash=sdf["simhash"].to_numpy())
    for conv_id, grp in list(nd.groupby("conv_id"))[:20]:
        hs = (
            grp.sort_values("emit_seq")["simhash"].to_numpy(dtype=np.int64)
        )
        keep, _, _ = trailing_mark(hs, np.empty(0, dtype=np.int64), 3)
        assert keep.all(), conv_id


def test_neardup_checkpoint_restart_resumes(spark, tmp_path):
    """The ND state layout (5th ring field) must survive a checkpoint
    restart: two half-drains against one checkpoint produce the same
    emissions as one full drain on a fresh checkpoint."""
    import shutil

    from dataflow_mm_lrt_spark.datagen import append_punctuation_file
    from dataflow_mm_lrt_spark.streaming.run import PipelineConfig, run_pipeline

    tr = _transcripts(n_convs=8, turns=24, dup_frac=0.5, seed=11)
    src_dir = tmp_path / "in_full"
    os.makedirs(src_dir)
    t = pa.Table.from_pandas(tr, preserve_index=False)
    files = []
    chunk = (len(tr) + 3) // 4
    for i in range(0, len(tr), chunk):
        fp = str(src_dir / f"part-{i//chunk:05d}.parquet")
        pq.write_table(t.slice(i, chunk), fp)
        os.utime(fp, (1_700_000_000 + i // chunk,) * 2)
        files.append(os.path.basename(fp))
    punct = append_punctuation_file(
        str(src_dir), tr["ts"].max().to_datetime64() + np.timedelta64(30, "D")
    )
    cfg = PipelineConfig(
        watermark_delay="60 seconds", max_files_per_trigger=1, neardup_threshold=3
    )

    # single full drain → reference output
    sink_full, _ = run_pipeline(spark, str(src_dir), str(tmp_path / "o_full"), cfg)
    want = (
        spark.read.parquet(sink_full.data_dir)
        .toPandas()
        .sort_values(["conv_id", "emit_seq"])
        .reset_index(drop=True)
    )
    assert len(want) > 0

    # two half-drains against ONE checkpoint
    half_dir = tmp_path / "in_half"
    os.makedirs(half_dir)
    for f in files[:2]:
        shutil.copy2(src_dir / f, half_dir / f)
    out_dir = str(tmp_path / "o_half")
    sink1, _ = run_pipeline(spark, str(half_dir), out_dir, cfg)
    n1 = spark.read.parquet(sink1.data_dir).count()
    for f in files[2:]:
        shutil.copy2(src_dir / f, half_dir / f)
    shutil.copy2(punct, half_dir / os.path.basename(punct))
    sink2, _ = run_pipeline(spark, str(half_dir), out_dir, cfg)
    got = (
        spark.read.parquet(sink2.data_dir)
        .toPandas()
        .sort_values(["conv_id", "emit_seq"])
        .reset_index(drop=True)
    )
    assert n1 < len(got)  # phase 1 emitted a strict subset
    assert len(got) == len(want)
    for col in ["conv_id", "turn_idx", "text", "emit_seq"]:
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col


def test_simhash_python_twin_matches_catalyst(spark):
    from dataflow_mm_lrt_spark.operators.dedup import with_simhash
    from dataflow_mm_lrt_spark.oracle.pandas_pipeline import _simhash_py

    texts = [
        "hello world foo",
        "bar  baz\tqux",
        "single",
        "",
        "Mixed CASE tokens mixed case TOKENS",
        "a b c d e f g h i j",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = {r["i"]: r["simhash"] for r in with_simhash(df).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _simhash_py(t), t


def _assert_nd_matches_oracle(spark, work, tr, n_files):
    """Drain ``tr`` (split into ``n_files`` files plus a punctuation
    file, one file per micro-batch) through the ND pipeline and assert
    its emissions equal microbatch_reference's row-for-row."""
    from dataflow_mm_lrt_spark.datagen import append_punctuation_file
    from dataflow_mm_lrt_spark.oracle.pandas_pipeline import microbatch_reference
    from dataflow_mm_lrt_spark.streaming.run import PipelineConfig, run_pipeline

    src_dir = work / "in"
    os.makedirs(src_dir)
    t = pa.Table.from_pandas(tr, preserve_index=False)
    file_pdfs = []
    chunk = (len(tr) + n_files - 1) // n_files
    for i in range(0, len(tr), chunk):
        fp = str(src_dir / f"part-{i//chunk:05d}.parquet")
        pq.write_table(t.slice(i, chunk), fp)
        os.utime(fp, (1_700_000_000 + i // chunk,) * 2)
        file_pdfs.append(tr.iloc[i: i + chunk].reset_index(drop=True))
    punct_ts = tr["ts"].max().to_datetime64() + np.timedelta64(30, "D")
    append_punctuation_file(str(src_dir), punct_ts)
    punct = pd.DataFrame(
        {
            "conv_id": ["__punctuation__"],
            "turn_idx": np.array([0], dtype=np.int32),
            "role": ["system"],
            "text": ["heartbeat"],
            "tool": pd.Series([None], dtype=object),
            "ts": pd.Series([pd.Timestamp(punct_ts)]),
        }
    )
    file_pdfs.append(punct)

    cfg = PipelineConfig(
        watermark_delay="30 minutes",
        order_slack_ms=120_000,
        max_files_per_trigger=1,
        neardup_threshold=3,
    )
    sink, _ = run_pipeline(spark, str(src_dir), str(work / "out"), cfg)
    got = sink.read_committed(spark).toPandas()
    got = got[got.conv_id != "__punctuation__"]
    got = got.sort_values(["conv_id", "emit_seq"]).reset_index(drop=True)

    exp = microbatch_reference(
        file_pdfs,
        watermark_delay_ms=30 * 60 * 1000,
        order_slack_ms=120_000,
        neardup_threshold=3,
    )
    exp = exp[exp.conv_id != "__punctuation__"]
    exp = exp.sort_values(["conv_id", "emit_seq"]).reset_index(drop=True)

    assert len(got) > 0
    assert len(got) == len(exp), f"{len(got)} vs {len(exp)}"
    for col in ["conv_id", "turn_idx", "role", "text", "emit_seq"]:
        assert (got[col].to_numpy() == exp[col].to_numpy()).all(), col
    # the ND gate actually suppressed something vs exact-only
    exp_exact = microbatch_reference(
        file_pdfs, watermark_delay_ms=30 * 60 * 1000, order_slack_ms=120_000
    )
    assert len(exp) < len(exp_exact[exp_exact.conv_id != "__punctuation__"])


def test_nd_pipeline_matches_microbatch_oracle(spark, tmp_path):
    """Strict engine≡oracle parity for the near-dup pipeline: the
    pandas micro-batch simulator extended with the same ring gate must
    reproduce the streaming emissions row-for-row (same files, same
    watermark progression), on two inputs:

    * ten conversations over four files — the ring and the seen set
      carry across micro-batches;
    * one 600-row conversation in one file, in scrambled row order,
      under arrow.maxRecordsPerBatch=97 — the state function receives
      the conversation as several Arrow chunks in arbitrary order and
      must buffer all of them before its single (turn_idx, ts) sort."""
    tr = _transcripts(n_convs=10, turns=25, dup_frac=0.5, seed=29)
    tr["role"] = np.where(np.arange(len(tr)) % 2 == 0, "human", "assistant")
    _assert_nd_matches_oracle(spark, tmp_path / "multi_batch", tr, n_files=4)

    one = _transcripts(n_convs=1, turns=600, dup_frac=0.5, seed=11)
    one["role"] = np.where(np.arange(len(one)) % 2 == 0, "human", "assistant")
    one = one.sample(frac=1.0, random_state=13).reset_index(drop=True)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "97")
    try:
        _assert_nd_matches_oracle(spark, tmp_path / "multi_chunk", one, n_files=1)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_trailing_mark_small_and_large_paths_agree():
    """The <=256-entry plain-int path (r7) and the SWAR buffer path must
    produce identical marks, min-hamming and corpus on the same input —
    exercised by calling straddling sizes around the 256 gate."""
    import numpy as np

    from dataflow_mm_lrt_spark.streaming import neardup as nd

    rng = np.random.default_rng(7)
    for n, ctail in [(10, 5), (60, 60), (120, 120), (200, 100), (300, 40)]:
        hashes = rng.integers(-(2**63), 2**63, n, dtype=np.int64)
        if n > 4:  # seed a near-dup so suppression actually fires
            hashes[n // 2] = hashes[0] ^ 3
        corpus = rng.integers(-(2**63), 2**63, ctail, dtype=np.int64)
        got = nd.trailing_mark(hashes, corpus, 3, 10_000)
        # independent per-row reference
        wl = [int(v) for v in corpus.view(np.uint64)]
        keep = np.zeros(n, dtype=bool)
        minh = np.full(n, -1, dtype=np.int64)
        for i, h in enumerate(hashes.view(np.uint64)):
            h = int(h)
            if wl:
                md = min(bin(c ^ h).count("1") for c in wl)
                minh[i] = md
                if md <= 3:
                    continue
            keep[i] = True
            wl.append(h)
        assert np.array_equal(got[0], keep), (n, ctail)
        assert np.array_equal(got[1], minh), (n, ctail)
        assert np.array_equal(
            got[2], np.array(wl, dtype=np.uint64).view(np.int64)
        ), (n, ctail)
