"""Batch pandas oracle of the full streaming pipeline (test-only).

Replays the reference semantics the engine must match (FIXTURES.md §4):
multimodal-token strip → RuleBaseFilter rules → role/tool filter →
per-conversation keep-first dedup under stable (turn_idx, ts) order.

Two variants:
* ``batch_reference`` — the "no loss" end state: what the stream must
  emit when the watermark delay exceeds the maximum lateness and a
  punctuation row drains the state.
* ``microbatch_reference`` — a faithful micro-batch/watermark simulator
  (same late-drop, readiness, timeout and watermark-progression rules as
  ``streaming/stateful.py``) for asserting determinism of the lossy
  (tight-watermark) configuration on the same file order.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from .reference_port import apply_text_filters, normalize, parse_multimodal_tokens


def _clean_text(t: str) -> str:
    return parse_multimodal_tokens(t)[1]


def _fp(t: str) -> str:
    return hashlib.md5(normalize(t).encode("utf-8")).hexdigest()


def _simhash_py(text: str, bits: int = 48) -> int:
    """Python twin of operators/dedup.with_simhash (distinct whitespace
    tokens of lower(text), 60-bit md5-prefix hash per token, per-bit
    strict-majority vote) — validated token-for-token against the
    Catalyst expression in tests/test_stream_neardup.py."""
    import re

    toks = list(dict.fromkeys(w for w in re.split(r"\s+", text.lower()) if w))
    hs = [int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16) for w in toks]
    sim = 0
    for i in range(bits):
        if sum((h >> i) & 1 for h in hs) * 2 > len(hs):
            sim |= 1 << i
    return sim


def clean_filter(
    pdf: pd.DataFrame,
    roles=("system", "human", "assistant"),
    keep_tools=("search", "python", "browser"),
) -> pd.DataFrame:
    out = pdf.copy()
    out["text"] = out["text"].map(_clean_text)
    out = out[out["text"].map(apply_text_filters)]
    role_ok = out["role"].isin(roles) | (
        (out["role"] == "tool") & out["tool"].isin(keep_tools)
    )
    return out[role_ok]


def batch_reference(
    pdf: pd.DataFrame,
    roles=("system", "human", "assistant"),
    keep_tools=("search", "python", "browser"),
) -> pd.DataFrame:
    """Lossless end-state: ordered, deduped turns per conversation."""
    out = clean_filter(pdf, roles, keep_tools)
    out = out.sort_values(["conv_id", "turn_idx", "ts"], kind="mergesort")
    out["fp"] = out["text"].map(_fp)
    out = out[~out.groupby("conv_id")["fp"].transform(lambda s: s.duplicated())]
    out["emit_seq"] = out.groupby("conv_id").cumcount().astype("int64")
    return out.drop(columns=["fp"]).reset_index(drop=True)


def microbatch_reference(
    file_pdfs: list[pd.DataFrame],
    watermark_delay_ms: int,
    order_slack_ms: int,
    roles=("system", "human", "assistant"),
    keep_tools=("search", "python", "browser"),
    neardup_threshold: int | None = None,
) -> pd.DataFrame:
    """Simulate the engine's micro-batch execution over an ordered file
    sequence: per batch b the watermark is max-event-time(batches < b) −
    delay; late rows (ts_ms < wm) drop; buffered rows flush once
    ts_ms + slack ≤ wm, sorted by (turn_idx, ts); keep-first dedup at
    emission. Returns the concatenation of all emissions."""
    from ..streaming.neardup import MAX_CORPUS

    wm = 0
    buffers: dict[str, list] = {}
    rings: dict[str, list[int]] = {}  # trailing near-dup corpora (ND mode)
    # insertion-ordered dicts mirror the engine's bounded seen-set
    # (streaming/stateful.py MAX_SEEN_FPS = MAX_CORPUS, oldest-emission
    # eviction)
    seen: dict[str, dict] = {}
    emit_seq: dict[str, int] = {}
    timeout_ms: dict[str, int] = {}
    emitted_rows = []
    max_event_ms = 0

    def flush(conv_id: str):
        buf = buffers.get(conv_id, [])
        ready = [r for r in buf if r[1] // 1000 + order_slack_ms <= wm]
        remaining = [r for r in buf if r[1] // 1000 + order_slack_ms > wm]
        buffers[conv_id] = remaining
        if ready:
            ready.sort(key=lambda r: (r[0], r[1]))
            s = seen.setdefault(conv_id, {})
            # mirror the engine's flush order exactly (stateful.py:
            # keep = pre-flush seen ∪ intra-flush duplicated, insert all
            # emitted fps, THEN evict once after the flush) — per-row
            # eviction mid-flush would re-admit a repeat whenever a
            # single flush holds > MAX_CORPUS distinct fingerprints
            flushed: dict[str, None] = {}
            ring = rings.setdefault(conv_id, [])
            for r in ready:
                fp = _fp(r[3])
                if fp in s or fp in flushed:
                    continue
                if neardup_threshold is not None:
                    # engine order (stateful.py): exact fp gate first, then
                    # the trailing Hamming ring; a suppressed row enters
                    # NEITHER corpus (seen nor ring)
                    h = _simhash_py(r[3])
                    ds = [(h ^ c).bit_count() for c in ring]
                    if ds and min(ds) <= neardup_threshold:
                        continue
                    ring.append(h)
                    del ring[:-MAX_CORPUS]
                flushed[fp] = None
                emitted_rows.append(
                    (conv_id, r[0], r[2], r[3], r[4], r[1], emit_seq.get(conv_id, 0))
                )
                emit_seq[conv_id] = emit_seq.get(conv_id, 0) + 1
            s.update(flushed)
            while len(s) > MAX_CORPUS:
                del s[next(iter(s))]
        # same timeout rule as streaming/stateful.py
        if remaining:
            nxt = min(r[1] for r in remaining) // 1000 + order_slack_ms
        else:
            nxt = 1 << 62
        timeout_ms[conv_id] = max(nxt, wm + 1)

    # one trailing empty batch so the final watermark update can fire
    # timeouts (availableNow runs a state-cleanup batch after the data)
    for pdf in list(file_pdfs) + [None]:
        touched = set()
        if pdf is not None:
            batch = clean_filter(pdf, roles, keep_tools)
            ts_us = (
                batch["ts"].to_numpy(dtype="datetime64[ns]").astype("int64") // 1_000
            )
            batch = batch.assign(ts_us=ts_us)
            for row in batch.itertuples(index=False):
                if row.ts_us // 1000 < wm:
                    continue  # beyond-watermark late drop
                buffers.setdefault(row.conv_id, []).append(
                    (int(row.turn_idx), int(row.ts_us), row.role, row.text, row.tool)
                )
                touched.add(row.conv_id)
            for conv_id in sorted(touched):
                flush(conv_id)
            if len(batch):
                max_event_ms = max(max_event_ms, int(batch["ts_us"].max() // 1000))
        # timed-out groups (no data this batch) flush with the batch's wm
        for conv_id in sorted(buffers):
            if conv_id not in touched and timeout_ms.get(conv_id, 1 << 62) <= wm:
                flush(conv_id)
        wm = max(wm, max_event_ms - watermark_delay_ms)

    out = pd.DataFrame(
        emitted_rows,
        columns=["conv_id", "turn_idx", "role", "text", "tool", "ts_us", "emit_seq"],
    )
    out["ts"] = pd.to_datetime(out["ts_us"], unit="us")
    return out.drop(columns=["ts_us"])
