"""Stateful ordered conversation assembly (the engine's core stage).

``ordered_assembly`` implements the north-star "sorted-run" state:
``conv_id → sorted run of (turn_idx, ts)`` with watermark-driven
eviction (BASELINE.json north_star), via ``applyInPandasWithState``:

* every micro-batch appends the conversation's new turns to a buffered
  run (rows already older than the watermark are dropped; that drop is
  deterministic given the same input stream + watermark progression);
* a turn is *ready* once ``watermark ≥ ts + order_slack`` — the slack is
  the bounded intra-conversation disorder between event time and
  turn_idx (fixture bound: 90 s; default 120 s). Ready turns are emitted
  sorted by (turn_idx, ts) with a per-conversation ``emit_seq``;
* in-conversation keep-first dedup happens at emission: a turn whose
  normalized-text fingerprint (``fp``, computed upstream in Catalyst by
  ``fingerprint_sql`` — no hashing in Python) was already emitted in
  this conversation is skipped. This is the deterministic, order-stable
  generalization of the reference's sequential corpus dedup
  (image_diversity_filter.py:20-34): first occurrence in stable
  (turn_idx, ts) order wins;
* state is evicted ``state_ttl`` past the conversation's last event time
  (bounded state; the streaming analogue of the reference's
  max_corpus=10000 bound, image_diversity_filter.py:15).

The group function is Arrow-batched and numpy-vectorized. Outside the
optional near-dup gate, three steps run Python per row: ``_fp_key``
once per fresh row (the state key of its fingerprint), the keep-first
membership loop once per ready row, and the pickle of the bounded
buffer.
Emission is deterministic for a fixed input stream + watermark sequence
— the contract pytest replays (FIXTURES.md §4).

Spark 4's successor API ``transformWithStateInPandas`` (ValueState/
ListState without whole-buffer pickling, timers, initial state) was
probed in this environment on 2026-08-18 and is BLOCKED: its state
protocol imports ``google.protobuf``, which is not installed in this
container (the TWS driver worker crashes with
``ImportError: cannot import name 'descriptor' from 'google.protobuf'``
inside pyspark's StateMessage_pb2 before any user code runs; no pip
installs allowed here). Re-probe when protobuf appears — the sorted-run
state maps 1:1 onto a ListState of (turn_idx, ts, fp) plus a ValueState
watermark cursor, which would drop the per-batch pickle round-trip.
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions.normalize import fingerprint_sql

ASSEMBLED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
        StructField("emit_seq", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("buf", BinaryType()),
        StructField("seen", BinaryType()),
        StructField("emit_seq", LongType()),
        StructField("last_ts_ms", LongType()),
    ]
)

DEFAULT_ORDER_SLACK_MS = 120_000
DEFAULT_STATE_TTL_MS = 6 * 3600 * 1000

#: cap on the per-conversation emitted-fingerprint set — the analogue of
#: the reference's bounded dedup corpus (image_diversity_filter.py:15,
#: max_corpus=10000). Without it ``seen`` grows with conversation length
#: until TTL eviction: bounded in practice, unbounded in principle.
#: Eviction is deterministic oldest-first in EMISSION order, so a
#: fingerprint can only be re-emitted after 10k *newer* distinct turns —
#: the same forgetting semantics as the reference's corpus window.
MAX_SEEN_FPS = 10_000


#: columnar buffer layout (r7): the buffered run is pickled as a plain
#: tuple of numpy arrays — (turn_idx i8, ts_us i8, role, text, tool, fp
#: object[, simhash i8]) — instead of a pandas DataFrame. A DataFrame
#: pickle carries index/block-manager overhead (~7.9 KB per buffered row
#: measured in BENCH_r06) and its construction/concat dominated the
#: per-group Python cost; bare ndarrays pickle as buffers. A state in
#: any other layout (DataFrame buffer, dict/set ``seen``) is refused.
_N_BUF_ARRS = 6

_HEX_DEL = str.maketrans("", "", "0123456789abcdef")


def _fp_key(f):
    """Compact, deterministic state key for a fingerprint: the Catalyst
    ``md5()`` form (lowercase 32-hex) becomes its 16-byte digest, any
    other string stays itself. Injective: digests (bytes) and raw
    strings (str) can never collide, and lowercase-hex → digest is a
    bijection, so membership semantics are exactly the fp-string
    semantics. Only called on the upstream ``fp`` column, i.e. on
    Catalyst ``md5()`` strings. The lowercase-hex test is a C-speed
    ``str.translate`` deletion (empty ⟺ every char in 0-9a-f); it runs
    once per fresh-buffered row."""
    if len(f) == 32 and not f.translate(_HEX_DEL):
        return bytes.fromhex(f)
    return f


def make_assembly_func(
    order_slack_ms: int,
    state_ttl_ms: int,
    max_seen_fps: int = MAX_SEEN_FPS,
    neardup_threshold: int | None = None,
    neardup_max_corpus: int = MAX_SEEN_FPS,
):
    nd = neardup_threshold is not None

    ncols = _N_BUF_ARRS + (1 if nd else 0)

    def assemble(
        key, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        conv_id = key[0]
        ring = np.empty(0, dtype=np.int64)
        if state.exists:
            if nd:
                buf_b, seen_b, emit_seq, last_ts_ms, ring_b = state.get
                ring = pickle.loads(ring_b)
            else:
                buf_b, seen_b, emit_seq, last_ts_ms = state.get
            cols = pickle.loads(buf_b)
            # seen: an emission-ordered LIST of compact keys (_fp_key) —
            # a dict of hex strings pickled at ~57 B/entry and dominated
            # state_bytes_peak (BENCH_r06); the digest list is ~20 B
            seen_list = pickle.loads(seen_b)
            if not (isinstance(cols, tuple) and isinstance(seen_list, list)):
                raise ValueError(
                    f"state of conv_id={conv_id!r} holds a "
                    f"{type(cols).__name__} buffer and a "
                    f"{type(seen_list).__name__} seen set: the checkpoint "
                    "predates the columnar state layout (tuple of arrays + "
                    "list of keys); start from a fresh checkpoint"
                )
            seen = set(seen_list)
        else:
            cols = tuple(
                np.empty(0, dtype=np.int64) if i in (0, 1, _N_BUF_ARRS)
                else np.empty(0, dtype=object)
                for i in range(ncols)
            )
            seen_list, seen = [], set()
            emit_seq, last_ts_ms = 0, 0

        wm = state.getCurrentWatermarkMs()

        chunks = [cols]
        for pdf in pdf_iter:
            if state.hasTimedOut or len(pdf) == 0:
                continue
            ts_us = (
                pdf["ts"].to_numpy(dtype="datetime64[ns]").astype(np.int64)
                // 1_000
            )
            late = ts_us // 1000 >= wm  # deterministic late drop
            n_fresh = int(late.sum())
            if n_fresh == 0:
                continue
            all_fresh = n_fresh == len(ts_us)
            fresh_cols = [
                pdf["turn_idx"].to_numpy(dtype=np.int64),
                ts_us,
                pdf["role"].to_numpy(),
                pdf["text"].to_numpy(),
                pdf["tool"].to_numpy(),
                pdf["fp"].to_numpy(),
            ]
            if nd:
                fresh_cols.append(pdf["simhash"].to_numpy(dtype=np.int64))
            if not all_fresh:
                fresh_cols = [c[late] for c in fresh_cols]
            # buffer the compact state key, not the 32-char hex string —
            # buffered fps are the state's largest per-row payload after
            # the text itself (state peaks while the watermark trails,
            # when every arriving turn is buffered)
            fps = np.empty(len(fresh_cols[5]), dtype=object)
            fps[:] = [_fp_key(f) for f in fresh_cols[5]]
            fresh_cols[5] = fps
            chunks.append(tuple(fresh_cols))
            last_ts_ms = max(last_ts_ms, int(fresh_cols[1].max() // 1000))
        if len(chunks) > 1:
            cols = tuple(
                np.concatenate([c[i] for c in chunks]) for i in range(ncols)
            )

        turn_idx, ts_us = cols[0], cols[1]
        ready_mask = (ts_us // 1000 + order_slack_ms) <= wm
        out = None
        if ready_mask.any():
            keep_buf = ~ready_mask
            ready = [c[ready_mask] for c in cols]
            cols = tuple(c[keep_buf] for c in cols)
            # stable (turn_idx, ts_us) order — np.lexsort's last key is
            # primary and it is stable, matching the mergesort sort_values
            order = np.lexsort((ready[1], ready[0]))
            ready = [c[order] for c in ready]
            # keep-first dedup: drop already-seen fps and intra-flush
            # repeats (buffer already holds compact keys, see _fp_key)
            digs = ready[5]
            keep = np.empty(len(digs), dtype=bool)
            newly: set[bytes] = set()
            add = newly.add
            for i, d in enumerate(digs):
                if d in seen or d in newly:
                    keep[i] = False
                else:
                    keep[i] = True
                    add(d)
            if not keep.all():
                ready = [c[keep] for c in ready]
                digs = digs[keep]
            if nd and len(ready[0]):
                # trailing-corpus near-dup gate (reference sequential
                # semantics, image_diversity_filter.py:15-34): suppressed
                # rows never enter the ring OR the seen set
                from .neardup import trailing_mark

                keep2, _, ring = trailing_mark(
                    ready[_N_BUF_ARRS], ring,
                    neardup_threshold, neardup_max_corpus,
                )
                if not keep2.all():
                    ready = [c[keep2] for c in ready]
                    digs = digs[keep2]
            n_emit = len(ready[0])
            seen_list.extend(digs.tolist())
            # bounded state: deterministic oldest-first (emission-order)
            # eviction at the reference's max_corpus=10000 analogue
            if len(seen_list) > max_seen_fps:
                seen_list = seen_list[len(seen_list) - max_seen_fps :]
            if n_emit:
                out = pd.DataFrame(
                    {
                        "conv_id": np.repeat(conv_id, n_emit),
                        "turn_idx": ready[0].astype("int32"),
                        "role": ready[2],
                        "text": ready[3],
                        "tool": ready[4],
                        "ts": ready[1].astype("datetime64[us]").astype(
                            "datetime64[ns]"
                        ),
                        "emit_seq": np.arange(
                            emit_seq, emit_seq + n_emit, dtype="int64"
                        ),
                    }
                )
                emit_seq += n_emit

        n_buf = len(cols[0])
        if n_buf == 0 and state.hasTimedOut and wm >= last_ts_ms + state_ttl_ms:
            state.remove()
        else:
            fields = [
                pickle.dumps(cols), pickle.dumps(seen_list),
                emit_seq, last_ts_ms,
            ]
            if nd:
                fields.append(pickle.dumps(ring))
            state.update(tuple(fields))
            if n_buf:
                nxt = int(cols[1].min() // 1000) + order_slack_ms
            else:
                nxt = last_ts_ms + state_ttl_ms
            state.setTimeoutTimestamp(max(nxt, wm + 1))

        if out is not None:
            yield out

    return assemble


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds the Catalyst-computed dedup fingerprint column ``fp``."""
    return df.withColumn("fp", F.expr(fingerprint_sql("spark", text_col)))


def ordered_assembly(
    turns: DataFrame,
    watermark_delay: str = "10 minutes",
    order_slack_ms: int = DEFAULT_ORDER_SLACK_MS,
    state_ttl_ms: int = DEFAULT_STATE_TTL_MS,
    neardup_threshold: int | None = None,
    neardup_max_corpus: int = MAX_SEEN_FPS,
) -> DataFrame:
    """Streaming stage: watermarked turns → ordered, deduped turns.

    Input columns: conv_id, turn_idx, role, text, tool, ts; an ``fp``
    column is added here if missing. Output: ASSEMBLED_SCHEMA with
    ``emit_seq`` (per-conversation emission order).

    ``neardup_threshold`` (optional) folds the trailing-corpus SimHash
    near-dup gate (streaming/neardup.py semantics) into THIS operator's
    state — Spark allows only one applyInPandasWithState per streaming
    query, so mid-pipeline near-dup composes here rather than as a
    second stateful stage. Emission-time order: exact fp keep-first,
    then the Hamming ring gate; suppressed rows enter neither corpus.
    """
    if "fp" not in turns.columns:
        turns = with_fingerprint(turns)
    if neardup_threshold is not None and "simhash" not in turns.columns:
        from ..operators.dedup import with_simhash

        turns = with_simhash(turns)
    func = make_assembly_func(
        order_slack_ms,
        state_ttl_ms,
        neardup_threshold=neardup_threshold,
        neardup_max_corpus=neardup_max_corpus,
    )
    state_schema = (
        STATE_SCHEMA
        if neardup_threshold is None
        else StructType(STATE_SCHEMA.fields + [StructField("ring", BinaryType())])
    )
    return (
        turns.withWatermark("ts", watermark_delay)
        .groupBy("conv_id")
        .applyInPandasWithState(
            func,
            outputStructType=ASSEMBLED_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
