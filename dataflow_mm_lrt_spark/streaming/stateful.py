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

The operator is keyed by hash bucket, ``pmod(xxhash64(conv_id),
N_BUCKETS)``, not by conversation: Spark's Python state runner costs a
few ms per group call whatever the body does, so one call serves every
conversation of a bucket. A bucket's state holds its conversations'
runs side by side: one buffer of rows tagged with a conversation code,
and per-conversation ``emit_seq``, last event time, timeout, ``seen``
list and (near-dup) ring. Every semantic above stays per conversation.
A conversation without rows in a call is stepped only when its own
timeout fired under Spark's rule (``timeout < watermark``); the bucket's
timeout is the minimum over its conversations.

``assemble_bucket`` is the kernel: (bucket, new rows, watermark) →
(emitted rows, new bucket, next timeout), numpy-vectorized over the
bucket — one factorize of the new rows' conv_ids, one lexsort of the
ready rows by (conversation, turn_idx, ts), one output frame; late
drop, readiness, timeouts and TTL eviction are array operations.
Outside the optional near-dup gate, two steps run Python per row:
``_fp_key`` once per fresh row (the state key of its fingerprint) and
the keep-first membership loop once per ready row. Per flushed
conversation, Python builds its ``seen`` set (and runs its near-dup
ring); the bucket is pickled whole on every call.
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
from typing import NamedTuple

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

# The per-conversation emitted-fingerprint set is capped at the
# reference's max_corpus (image_diversity_filter.py:15), the same bound
# as the near-dup ring. Without it ``seen`` grows with conversation
# length until TTL eviction. Eviction is deterministic oldest-first in
# EMISSION order, so a fingerprint can only be re-emitted after 10k
# *newer* distinct turns: the reference's corpus-window forgetting.
from .neardup import MAX_CORPUS as MAX_SEEN_FPS
from .neardup import trailing_mark

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

#: one bucket's state: the bucket count it was keyed with, the pickled
#: ``Bucket`` (without rings) and, near-dup only, the pickled rings
STATE_SCHEMA = StructType(
    [
        StructField("n_buckets", IntegerType()),
        StructField("bucket", BinaryType()),
    ]
)

DEFAULT_ORDER_SLACK_MS = 120_000
DEFAULT_STATE_TTL_MS = 6 * 3600 * 1000

#: state key = pmod(xxhash64(conv_id), N_BUCKETS). Fewer buckets save
#: more runner calls on a bulk drain, but a live batch re-pickles every
#: conversation of each bucket it touches (≈1/K of the live state).
#: Changing it needs a fresh checkpoint: the key schema stays the same,
#: so a stored bucket count is checked.
N_BUCKETS = 64

_I8 = np.empty(0, dtype=np.int64)
_OBJ = np.empty(0, dtype=object)


class Bucket(NamedTuple):
    """The conversations of one bucket. Per-conversation arrays are
    aligned with ``convs`` (sorted conv_ids); ``buf`` is the buffered
    rows of all of them: (conversation code = index into ``convs``,
    turn_idx, ts_us, role, text, tool, fp key[, simhash]), in arrival
    order within each conversation. ``rings`` is None without near-dup."""

    convs: np.ndarray
    emit_seq: np.ndarray
    last_ts_ms: np.ndarray
    timeout_ms: np.ndarray
    seen: list
    buf: tuple
    rings: list | None


def empty_bucket(nd: bool) -> Bucket:
    buf = (_I8, _I8, _I8, _OBJ, _OBJ, _OBJ, _OBJ) + ((_I8,) if nd else ())
    return Bucket(_OBJ, _I8, _I8, _I8, [], buf, [] if nd else None)


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


def _admit(b: Bucket, uniq: np.ndarray) -> tuple[Bucket, np.ndarray]:
    """``b`` widened by the conv_ids of ``uniq`` it lacks, and the index
    of each ``uniq`` entry in the widened ``convs``."""
    pos = np.searchsorted(b.convs, uniq)
    known = pos < len(b.convs)
    known[known] = b.convs[pos[known]] == uniq[known]
    if known.all():
        return b, pos
    convs = np.unique(np.concatenate([b.convs, uniq[~known]]))
    old = np.searchsorted(convs, b.convs)
    k = len(convs)

    def widen(a):
        w = np.zeros(k, dtype=np.int64)
        w[old] = a
        return w

    def widen_list(lst, empty):
        w = [empty] * k
        for i, j in enumerate(old.tolist()):
            w[j] = lst[i]
        return w

    b = Bucket(
        convs,
        widen(b.emit_seq),
        widen(b.last_ts_ms),
        widen(b.timeout_ms),
        widen_list(b.seen, []),
        (old[b.buf[0]],) + b.buf[1:],
        None if b.rings is None else widen_list(b.rings, _I8),
    )
    return b, np.searchsorted(convs, uniq)


def assemble_bucket(
    b: Bucket,
    frames: list[pd.DataFrame],
    wm: int,
    order_slack_ms: int,
    state_ttl_ms: int,
    max_seen_fps: int = MAX_SEEN_FPS,
    neardup_threshold: int | None = None,
) -> tuple[pd.DataFrame | None, Bucket | None, int | None]:
    """One call of the assembly over one bucket at watermark ``wm``:
    returns (emitted rows or None, new bucket or None when every
    conversation was evicted, the bucket's next timeout). ``frames``
    are this call's rows (any conv_ids); ``b`` is not modified."""
    nd = neardup_threshold is not None
    data = np.zeros(len(b.convs), dtype=bool)
    if frames:
        pdf = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
        codes, uniq = pd.factorize(
            pdf["conv_id"].to_numpy(dtype=object), use_na_sentinel=False
        )
        b, pos = _admit(b, uniq)
        data = np.zeros(len(b.convs), dtype=bool)
        data[pos] = True
        ts_us = pdf["ts"].to_numpy(dtype="datetime64[ns]").astype(np.int64) // 1_000
        fresh = ts_us // 1000 >= wm  # deterministic late drop
        if fresh.any():
            cols = [
                pos[codes],
                pdf["turn_idx"].to_numpy(dtype=np.int64),
                ts_us,
                pdf["role"].to_numpy(),
                pdf["text"].to_numpy(),
                pdf["tool"].to_numpy(),
                pdf["fp"].to_numpy(),
            ]
            if nd:
                cols.append(pdf["simhash"].to_numpy(dtype=np.int64))
            if not fresh.all():
                cols = [c[fresh] for c in cols]
            # buffer the compact state key, not the 32-char hex string —
            # buffered fps are the state's largest per-row payload after
            # the text itself (state peaks while the watermark trails,
            # when every arriving turn is buffered)
            fps = np.empty(len(cols[6]), dtype=object)
            fps[:] = [_fp_key(f) for f in cols[6]]
            cols[6] = fps
            last_ts_ms = b.last_ts_ms.copy()
            np.maximum.at(last_ts_ms, cols[0], cols[2] // 1000)
            b = b._replace(
                last_ts_ms=last_ts_ms,
                buf=tuple(np.concatenate([o, n]) for o, n in zip(b.buf, cols)),
            )
    # Spark fires a key's timeout only while it gets no rows and
    # timeout < watermark; a conversation stepped that way may be evicted
    fired = ~data & (b.timeout_ms < wm)
    stepped = data | fired

    buf = b.buf
    ready = stepped[buf[0]] & (buf[2] // 1000 + order_slack_ms <= wm)
    emit_seq, seen, rings = b.emit_seq, b.seen, b.rings
    out = None
    if ready.any():
        rd = [c[ready] for c in buf]
        buf = tuple(c[~ready] for c in buf)
        # stable (conversation, turn_idx, ts_us) order — np.lexsort's
        # last key is primary and it is stable, so ties keep arrival order
        order = np.lexsort((rd[2], rd[1], rd[0]))
        rd = [c[order] for c in rd]
        code = rd[0]
        n = len(code)
        keep = np.ones(n, dtype=bool)
        starts = np.flatnonzero(np.r_[True, code[1:] != code[:-1]]).tolist()
        digs = rd[6].tolist()
        seen, rings = list(seen), None if rings is None else list(rings)
        for s, e in zip(starts, starts[1:] + [n]):
            k = int(code[s])
            # keep-first dedup: drop already-seen fps and intra-flush
            # repeats (the buffer already holds compact keys, _fp_key)
            have = set(seen[k])
            for i in range(s, e):
                d = digs[i]
                if d in have:
                    keep[i] = False
                else:
                    have.add(d)
            if nd:
                # trailing-corpus near-dup gate (reference sequential
                # semantics, image_diversity_filter.py:15-34): suppressed
                # rows never enter the ring OR the seen set
                idx = s + np.flatnonzero(keep[s:e])
                if len(idx):
                    k2, _, rings[k] = trailing_mark(
                        rd[7][idx], rings[k], neardup_threshold
                    )
                    keep[idx[~k2]] = False
            kept = [d for d, ok in zip(digs[s:e], keep[s:e]) if ok]
            if kept:
                # bounded state: deterministic oldest-first (emission
                # order) eviction at the reference's max_corpus analogue
                lst = seen[k] + kept
                seen[k] = lst[max(len(lst) - max_seen_fps, 0) :]
        if not keep.all():
            rd = [c[keep] for c in rd]
        code = rd[0]
        n_emit = len(code)
        if n_emit:
            cnt = np.bincount(code, minlength=len(b.convs))
            first = np.cumsum(cnt) - cnt
            out = pd.DataFrame(
                {
                    "conv_id": b.convs[code],
                    "turn_idx": rd[1].astype("int32"),
                    "role": rd[3],
                    "text": rd[4],
                    "tool": rd[5],
                    "ts": rd[2].astype("datetime64[us]").astype("datetime64[ns]"),
                    "emit_seq": emit_seq[code] + np.arange(n_emit) - first[code],
                }
            )
            emit_seq = emit_seq + cnt

    # per stepped conversation: next timeout is the oldest buffered turn's
    # readiness, or TTL past its last event time when nothing is buffered
    n_buf = np.bincount(buf[0], minlength=len(b.convs))
    nxt = b.last_ts_ms + state_ttl_ms
    has = n_buf > 0
    if has.any():
        oldest = np.full(len(b.convs), np.iinfo(np.int64).max)
        np.minimum.at(oldest, buf[0], buf[2] // 1000)
        nxt[has] = oldest[has] + order_slack_ms
    timeout_ms = np.where(stepped, np.maximum(nxt, wm + 1), b.timeout_ms)
    b = Bucket(b.convs, emit_seq, b.last_ts_ms, timeout_ms, seen, buf, rings)

    evict = fired & ~has & (wm >= b.last_ts_ms + state_ttl_ms)
    if evict.any():
        if evict.all():
            return out, None, None
        live = ~evict
        b = Bucket(
            b.convs[live],
            b.emit_seq[live],
            b.last_ts_ms[live],
            b.timeout_ms[live],
            [x for x, ok in zip(b.seen, live) if ok],
            ((np.cumsum(live) - 1)[buf[0]],) + buf[1:],
            None if rings is None else [x for x, ok in zip(rings, live) if ok],
        )
    return out, b, int(b.timeout_ms.min())


def make_assembly_func(
    order_slack_ms: int,
    state_ttl_ms: int,
    max_seen_fps: int = MAX_SEEN_FPS,
    neardup_threshold: int | None = None,
):
    """The ``applyInPandasWithState`` function: a thin ``GroupState``
    adapter around ``assemble_bucket``. The key is not read (rows carry
    their ``conv_id``), so a key of one conversation also works."""
    nd = neardup_threshold is not None

    def assemble(
        key, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        frames = [p for p in pdf_iter if len(p)]
        if state.exists:
            n_buckets, blob, *ring = state.get
            if n_buckets != N_BUCKETS:
                raise ValueError(
                    f"state of key {key!r} was written with {n_buckets} "
                    f"buckets, this build keys by {N_BUCKETS}: the "
                    "conversations would map to other buckets; start from "
                    "a fresh checkpoint"
                )
            b = Bucket(*pickle.loads(blob), pickle.loads(ring[0]) if nd else None)
        else:
            b = empty_bucket(nd)
        out, b, timeout_ms = assemble_bucket(
            b,
            frames,
            state.getCurrentWatermarkMs(),
            order_slack_ms,
            state_ttl_ms,
            max_seen_fps,
            neardup_threshold,
        )
        if b is None:
            state.remove()
        else:
            fields = [N_BUCKETS, pickle.dumps(tuple(b[:6]))]
            if nd:
                fields.append(pickle.dumps(b.rings))
            state.update(tuple(fields))
            state.setTimeoutTimestamp(timeout_ms)
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
    )
    state_schema = (
        STATE_SCHEMA
        if neardup_threshold is None
        else StructType(STATE_SCHEMA.fields + [StructField("rings", BinaryType())])
    )
    return (
        turns.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(N_BUCKETS)))
        .withWatermark("ts", watermark_delay)
        .groupBy("bucket")
        .applyInPandasWithState(
            func,
            outputStructType=ASSEMBLED_SCHEMA,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
