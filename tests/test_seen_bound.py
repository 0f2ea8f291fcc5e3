"""Bounded dedup state in ordered assembly (VERDICT r3 item 4).

The per-conversation emitted-fingerprint set is capped at
``MAX_SEEN_FPS`` (the reference's max_corpus=10000 analogue,
image_diversity_filter.py:15) with deterministic oldest-emission
eviction. A conversation longer than the cap keeps state bounded; a
duplicate of an *evicted* fingerprint re-emits (forgetting semantics),
a duplicate of a *recent* one is still dropped. Driven directly through
``make_assembly_func`` with a fake GroupState — no Spark session needed.
A state written in a layout older than the columnar one is refused.
"""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
import pytest

from dataflow_mm_lrt_spark.streaming.stateful import (
    MAX_SEEN_FPS,
    make_assembly_func,
)

CAP = 50  # small cap: same mechanism as MAX_SEEN_FPS, fast to drive


class FakeState:
    """Just enough GroupState for make_assembly_func's assemble()."""

    def __init__(self):
        self._v = None
        self.exists = False
        self.hasTimedOut = False
        self.wm = 0

    def getCurrentWatermarkMs(self):
        return self.wm

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True

    def remove(self):
        self._v = None
        self.exists = False

    def setTimeoutTimestamp(self, ts):
        pass


def _pdf(rows):
    return pd.DataFrame(
        {
            "turn_idx": pd.Series([r[0] for r in rows], dtype="int64"),
            "ts": pd.Series([pd.Timestamp(r[1], unit="s") for r in rows]),
            "role": ["user"] * len(rows),
            "text": [r[2] for r in rows],
            "tool": pd.Series([None] * len(rows), dtype=object),
            "fp": [r[2] for r in rows],  # fp == text for the unit drive
        }
    )


def _drive(cap=CAP):
    fn = make_assembly_func(
        order_slack_ms=0, state_ttl_ms=10**12, max_seen_fps=cap
    )
    st = FakeState()
    out = []

    def step(rows, wm):
        st.wm = wm
        out.extend(fn(("convA",), iter([_pdf(rows)] if rows else []), st))
        if st.exists:
            seen = pickle.loads(st._v[1])
            assert len(seen) <= cap, f"seen grew to {len(seen)}"

    n = 120
    step([(i, 1000 + i, f"fp{i:03d}") for i in range(n)], wm=0)  # buffer
    step([], wm=10_000_000)  # flush all 120
    # duplicate of an EVICTED fp re-emits; duplicate of a RECENT one drops
    step(
        [
            (n, 10_001, "fp000"),  # evicted (oldest 70 gone at cap 50)
            (n + 1, 10_002, f"fp{n - 1:03d}"),  # still in seen
            (n + 2, 10_003, "brand-new"),
        ],
        wm=10_000_000,
    )
    step([], wm=20_000_000)  # flush
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def test_seen_state_bounded_and_forgetting():
    got = _drive()
    texts = got["text"].tolist()
    assert texts[:120] == [f"fp{i:03d}" for i in range(120)]
    # evicted fp000 re-emitted, recent fp119 deduped, new row emitted
    assert texts[120:] == ["fp000", "brand-new"]
    # emit_seq stays gapless and deterministic
    assert got["emit_seq"].tolist() == list(range(len(got)))


def test_emission_deterministic_across_replays():
    a, b = _drive(), _drive()
    pd.testing.assert_frame_equal(a, b)


def test_default_cap_is_reference_analogue():
    assert MAX_SEEN_FPS == 10_000


def test_legacy_state_layout_raises():
    """Only the columnar layout (tuple of arrays + list of keys) is read;
    a DataFrame buffer or a dict/set ``seen`` raises one ValueError."""
    fn = make_assembly_func(order_slack_ms=0, state_ttl_ms=10**12)
    cols = tuple(
        np.empty(0, dtype=np.int64) if i < 2 else np.empty(0, dtype=object)
        for i in range(6)
    )
    fp = "0123456789abcdef" * 2
    frame = pd.DataFrame({"turn_idx": [0], "ts_us": [0], "fp": [fp]})

    def run(buf, seen):
        st = FakeState()
        st.update((pickle.dumps(buf), pickle.dumps(seen), 0, 0))
        return list(fn(("convA",), iter([]), st))

    assert run(cols, [bytes.fromhex(fp)]) == []  # current layout reads
    for buf, seen in [(frame, []), (cols, {fp: None}), (cols, {fp})]:
        with pytest.raises(ValueError, match="predates the columnar state"):
            run(buf, seen)
