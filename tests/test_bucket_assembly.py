"""Bucketed ordered assembly ≡ per-conversation assembly ≡ the oracle.

``stateful.make_assembly_func`` is driven without Spark by ``spark_run``,
a fake ``applyInPandasWithState`` runner that keys rows, filters late
rows and fires event-time timeouts by Spark's rules. The same seeded
multi-conversation streams (TTL gaps, late rows, exact and near
repeats) run with every conversation in one bucket, in three buckets,
with one conversation per bucket, and through
``oracle.pandas_pipeline.microbatch_reference``: all emit the same rows,
``emit_seq`` included. ``ttl_gap_batches`` adds the edges a random
stream rarely hits: an all-late first call, a timeout equal to the
watermark, and a restart of ``emit_seq`` after TTL eviction.
"""

from __future__ import annotations

import pickle
import zlib

import numpy as np
import pandas as pd
import pytest

from dataflow_mm_lrt_spark.oracle.pandas_pipeline import (
    _fp,
    _simhash_py,
    clean_filter,
    microbatch_reference,
)
from dataflow_mm_lrt_spark.streaming.stateful import N_BUCKETS, make_assembly_func

DELAY_MS = 30 * 60 * 1000
SLACK_MS = 120_000
TTL_MS = 3 * 3600 * 1000
ND = 3  # near-dup Hamming threshold
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
T0 = pd.Timestamp("2026-01-01")


def _frame(rows) -> pd.DataFrame:
    """rows of (conv_id, turn_idx, text, ts offset in ms) → a transcript
    frame in the source schema."""
    df = pd.DataFrame(
        {
            "conv_id": [r[0] for r in rows],
            "turn_idx": np.array([r[1] for r in rows], dtype=np.int32),
            "role": ["human" if r[1] % 2 == 0 else "assistant" for r in rows],
            "text": [r[2] for r in rows],
            "tool": pd.Series([None] * len(rows), dtype=object),
            "ts": [T0 + pd.Timedelta(milliseconds=int(r[3])) for r in rows],
        }
    )
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


class FakeState:
    """GroupState of one key, with Spark's timeout-timestamp check."""

    def __init__(self):
        self.value = None
        self.timeout = None
        self.wm = 0
        self.hasTimedOut = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def getCurrentWatermarkMs(self):
        return self.wm

    def update(self, value):
        self.value = value

    def remove(self):
        self.value = self.timeout = None

    def setTimeoutTimestamp(self, ts):
        assert ts > 0 and ts >= self.wm, (ts, self.wm)
        self.timeout = ts


def spark_run(batches, key_of, neardup_threshold=None, ttl_ms=TTL_MS):
    """One availableNow drain of ``batches`` (one micro-batch each, plus
    the trailing no-data batch) by Spark's rules: the watermark is the
    max event time of earlier batches − delay; rows at or below the
    previous batch's watermark never reach the function; a key with
    rows is called with them; every other key whose timeout is below
    the watermark is called with none. Returns (emitted rows, counts of
    what the drain exercised). Each emitted row carries the index of
    the micro-batch that emitted it in ``batch``."""
    fn = make_assembly_func(SLACK_MS, ttl_ms, neardup_threshold=neardup_threshold)
    states: dict = {}
    out = []
    stats = dict(late=0, all_late=0, evictions=0, timeout_eq_wm=0)
    wm = prev_wm = max_ev = 0

    def call(key, frames, timed_out):
        st = states.setdefault(key, FakeState())
        st.wm, st.hasTimedOut = wm, timed_out
        out.extend(o.assign(batch=b) for o in fn((key,), iter(frames), st))
        stats["evictions"] += not st.exists

    for b, pdf in enumerate(list(batches) + [None]):
        called = set()
        if pdf is not None:
            pdf = clean_filter(pdf).reset_index(drop=True)
            pdf["fp"] = pdf["text"].map(_fp)
            if neardup_threshold is not None:
                pdf["simhash"] = pdf["text"].map(_simhash_py).astype(np.int64)
            ts_us = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
            live = pdf[ts_us > prev_wm * 1000]
            late = live["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64) < wm * 1000
            stats["late"] += int(late.sum())
            # conversations whose rows in this call are all late
            stats["all_late"] += int(pd.Series(late).groupby(live["conv_id"].to_numpy()).all().sum())
            keys = live["conv_id"].map(key_of)
            for key in sorted(set(keys)):
                call(key, [live[(keys == key).to_numpy()].reset_index(drop=True)], False)
                called.add(key)
            if len(pdf):
                max_ev = max(max_ev, int(ts_us.max() // 1000))
        for key in sorted(states):
            st = states[key]
            if key in called or not st.exists:
                continue
            stats["timeout_eq_wm"] += st.timeout == wm
            if st.timeout < wm:
                call(key, [], True)
        prev_wm, wm = wm, max(wm, max_ev - DELAY_MS)
    got = pd.concat(out, ignore_index=True) if out else pd.DataFrame(columns=COLS)
    return got, stats


def oracle(batches, neardup_threshold=None, ttl_ms=TTL_MS):
    return microbatch_reference(
        list(batches),
        watermark_delay_ms=DELAY_MS,
        order_slack_ms=SLACK_MS,
        neardup_threshold=neardup_threshold,
        state_ttl_ms=ttl_ms,
    )


def canon(df: pd.DataFrame, batch: bool = False) -> pd.DataFrame:
    """Order-free comparable form; ``batch`` keeps the emitting batch."""
    df = df.sort_values(["conv_id", "emit_seq"]).reset_index(drop=True)
    cols = {
        "conv_id": df["conv_id"].astype(str),
        "turn_idx": df["turn_idx"].astype(np.int64),
        "role": df["role"].astype(str),
        "text": df["text"].astype(str),
        "ts": df["ts"].to_numpy(dtype="datetime64[us]"),
        "emit_seq": df["emit_seq"].astype(np.int64),
    }
    if batch:
        cols["batch"] = df["batch"].astype(np.int64)
    return pd.DataFrame(cols)


WORDS = "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega".split()


def random_batches(seed: int, n_convs: int = 9, n_batches: int = 8):
    """Seeded multi-conversation stream cut into micro-batches: gaps past
    the TTL, exact and one-word-off repeats, and an arrival jitter past
    the watermark delay (late rows, out-of-order turns)."""
    rng = np.random.default_rng(seed)
    rows = []
    for c in range(n_convs):
        t = int(rng.integers(0, 4 * 3600)) * 1000
        texts: list[str] = []
        for i in range(int(rng.integers(3, 14))):
            t += int(rng.integers(10, 600)) * 1000
            if rng.random() < 0.15:
                t += int(rng.integers(4, 8)) * 3600 * 1000  # gap > TTL
            u = rng.random()
            if texts and u < 0.25:
                text = texts[int(rng.integers(len(texts)))]
            elif texts and u < 0.5:
                w = texts[int(rng.integers(len(texts)))].split()
                w[int(rng.integers(len(w)))] = str(rng.choice(WORDS))
                text = " ".join(w)
            else:
                text = " ".join(rng.choice(WORDS, size=int(rng.integers(6, 10))))
            texts.append(text)
            rows.append((f"c{c}", i, text, t))
    arrival = np.array([r[3] for r in rows]) + rng.exponential(20 * 60 * 1000, len(rows))
    rows = [rows[i] for i in np.argsort(arrival, kind="stable")]
    cuts = np.sort(rng.choice(np.arange(1, len(rows)), n_batches - 1, replace=False))
    return [_frame(rows[a:b]) for a, b in zip([0, *cuts], [*cuts, len(rows)])]


MIN = 60_000
HOUR = 60 * MIN


def ttl_gap_batches():
    """Hand-built drain at DELAY_MS / SLACK_MS / TTL_MS. Watermark per
    batch (ms): 0, 0, 2m, 30m, 3h, 3h+1m, 3h+1m, then 19h30m.

    * ``A``: turn 0 at t=0 flushes in batch 3 (timeout 2m, equal to
      batch 2's watermark, so not fired there); its TTL timeout 3h equals
      batch 4's watermark, so it is not evicted there either, and turn 1
      arriving in batch 5 continues at emit_seq 1.
    * ``G``: its only turn flushes in batch 3, the state is evicted in
      batch 5 (watermark 3h+1m > 3h), so the repeat of the same text at
      t=8h is emitted again with emit_seq 0.
    * ``L``: its first call (batch 3) holds only a late row (10m < 30m,
      above batch 2's 2m); a row at 1m never reaches the function. Its
      on-time turn in batch 5 is emitted with emit_seq 0.
    * ``P``: paces the watermark.
    """
    first = "The quick brown fox jumps over the lazy dog near the river bank."
    return [
        _frame([("A", 0, "Please check the weather for tomorrow morning.", 0),
                ("G", 0, first, 0), ("P", 0, "pace zero", 0)]),
        _frame([("P", 1, "pace one", 32 * MIN)]),
        _frame([("P", 2, "pace two", 60 * MIN)]),
        _frame([("P", 3, "pace three", 3 * HOUR + 30 * MIN),
                ("L", 0, "A late first turn that is dropped.", 10 * MIN),
                ("L", 1, "A row under the previous watermark.", 1 * MIN)]),
        _frame([("P", 4, "pace four", 3 * HOUR + 31 * MIN)]),
        _frame([("A", 1, "Sure, here is the summary you asked for.", 3 * HOUR + 2 * MIN),
                ("L", 2, "An on-time turn after the late one.", 3 * HOUR + 5 * MIN)]),
        _frame([("G", 1, first, 8 * HOUR), ("P", 5, "pace five", 20 * HOUR)]),
    ]


TTL_GAP_EXPECTED = {  # (conv_id, turn_idx) → (emit_seq, emitting batch)
    ("A", 0): (0, 3), ("A", 1): (1, 7),
    ("G", 0): (0, 3), ("G", 1): (0, 7),
    ("L", 2): (0, 7),
}


def _one_bucket(c):
    return 0


def _three_buckets(c):
    return zlib.crc32(c.encode()) % 3


def _own_bucket(c):
    return c


KEYINGS = [_one_bucket, _three_buckets, _own_bucket]


@pytest.mark.parametrize("nd", [None, ND], ids=["exact", "neardup"])
def test_random_streams_bucket_of_many_equals_one_equals_oracle(nd):
    total = dict(late=0, evictions=0)
    for seed in range(6):
        batches = random_batches(seed)
        ref, stats = spark_run(batches, _own_bucket, nd)
        assert len(ref) > 0
        pd.testing.assert_frame_equal(canon(ref), canon(oracle(batches, nd)))
        for key_of in KEYINGS[:-1]:
            # the same rows, emitted in the same micro-batches
            got, _ = spark_run(batches, key_of, nd)
            pd.testing.assert_frame_equal(
                canon(got, batch=True), canon(ref, batch=True), obj=f"{seed}/{key_of.__name__}"
            )
        for k in total:
            total[k] += stats[k]
    # the streams exercised late drops and TTL evictions
    assert total["late"] > 0 and total["evictions"] > 0, total


def test_neardup_random_streams_suppress():
    batches = random_batches(0)
    assert len(oracle(batches, ND)) < len(oracle(batches))


@pytest.mark.parametrize("key_of", KEYINGS, ids=lambda f: f.__name__)
def test_ttl_gap_edges(key_of):
    batches = ttl_gap_batches()
    got, stats = spark_run(batches, key_of)
    got = got[got.conv_id != "P"]
    assert {
        (c, int(t)): (int(s), int(b))
        for c, t, s, b in zip(got.conv_id, got.turn_idx, got.emit_seq, got.batch)
    } == TTL_GAP_EXPECTED
    exp = oracle(batches)
    pd.testing.assert_frame_equal(canon(got), canon(exp[exp.conv_id != "P"]))
    assert stats["all_late"] >= 1
    if key_of is _own_bucket:
        assert stats["timeout_eq_wm"] >= 2  # A in batch 2 and in batch 4


def test_state_of_another_bucket_count_raises():
    """A bucket state written under another N_BUCKETS would map its
    conversations to other keys: it is refused, not remapped."""
    fn = make_assembly_func(SLACK_MS, TTL_MS)
    st = FakeState()
    list(fn((0,), iter([_frame([("A", 0, "alpha beta gamma delta", 0)]).assign(fp="x")]), st))
    n_buckets, blob = st.value
    assert n_buckets == N_BUCKETS and pickle.loads(blob)
    st.value = (N_BUCKETS * 2, blob)
    with pytest.raises(ValueError, match="fresh checkpoint"):
        list(fn((0,), iter([]), st))
