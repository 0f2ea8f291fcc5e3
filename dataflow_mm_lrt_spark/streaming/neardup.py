"""The trailing-corpus near-dup kernel — the reference's sequential
corpus-gated dedup (image_diversity_filter.py:15-34), one ordered chunk
at a time.

The reference TextDuplicateFilter / ImageDuplicateFilter compare each
arriving row against a TRAILING corpus of previously-kept rows (capped
at ``max_corpus`` = 10 000) and append only kept rows. ``trailing_mark``
is that scan over 64-bit SimHashes: a row whose min Hamming distance to
the corpus is ≤ ``threshold`` is marked ``keep=false`` and NOT appended
(the corpus only ever holds uniques); kept rows append and the oldest
hashes fall off the window.

This is the streaming pipeline's one near-dup kernel. It runs inside
the assembly state (``stateful.make_assembly_func`` with
``PipelineConfig.neardup_threshold``): the 48-bit SimHash is computed
upstream in Catalyst (``operators.dedup.with_simhash``), each
conversation's ring of kept hashes lives in its state, and ready turns
are marked in emission order after the exact-fingerprint dedup.
"""

from __future__ import annotations

import numpy as np

MAX_CORPUS = 10_000  # the reference's max_corpus (image_diversity_filter.py:15)


def _popcount64_min(v: np.ndarray, t: np.ndarray) -> int:
    """min(popcount(v)) with the SWAR steps done in place on ``v``
    (destroyed), using ``t`` as the only scratch — no per-call
    allocations, so the sequential per-row loop in trailing_mark stays
    memcpy-speed instead of re-boxing the corpus each row."""
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h01 = np.uint64(0x0101010101010101)
    np.right_shift(v, np.uint64(1), out=t)
    np.bitwise_and(t, m1, out=t)
    np.subtract(v, t, out=v)
    np.right_shift(v, np.uint64(2), out=t)
    np.bitwise_and(t, m2, out=t)
    np.bitwise_and(v, m2, out=v)
    np.add(v, t, out=v)
    np.right_shift(v, np.uint64(4), out=t)
    np.add(v, t, out=v)
    np.bitwise_and(v, m4, out=v)
    np.multiply(v, h01, out=v)
    np.right_shift(v, np.uint64(56), out=v)
    return int(v.min())


def trailing_mark(
    hashes: np.ndarray,
    corpus: np.ndarray,
    threshold: int,
    max_corpus: int = MAX_CORPUS,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Sequential trailing-corpus marking over one ordered chunk:
    returns (keep, min_hamming, new_corpus). Called by the assembly
    state function on every flush of ready turns; the micro-batch
    oracle (oracle/pandas_pipeline.py) re-implements the scan from its
    definition, and the ND pipeline parity test cross-checks the two.

    The corpus lives in a preallocated append-only buffer whose active
    window is the trailing ``max_corpus`` entries ending at the write
    cursor — per row the kernel takes a slice VIEW, xors into a reused
    scratch, and popcounts in place (zero per-row allocations; the old
    list→ndarray re-materialization was O(rows × corpus) boxing)."""
    hashes = np.ascontiguousarray(hashes, dtype=np.int64)
    n = len(hashes)
    tail = np.asarray(corpus, dtype=np.int64)[-max_corpus:]
    if len(tail) + n <= 256 and len(tail) + n <= max_corpus:
        # small-window path (the per-conversation rings of
        # ordered_assembly: tens of entries): ~10 numpy calls per row
        # cost more than the whole comparison — plain ints with
        # int.bit_count() run ~3x faster and the window never trims,
        # so it is one growing list. Same marks/corpus, fuzz-pinned
        # against the SWAR path below.
        wl = [int(v) for v in tail.view(np.uint64)]
        hu_l = [int(v) for v in hashes.view(np.uint64)]
        keep = np.zeros(n, dtype=bool)
        minh = np.full(n, -1, dtype=np.int64)
        for i, h in enumerate(hu_l):
            if wl:
                md = min((c ^ h).bit_count() for c in wl)
                minh[i] = md
                if md <= threshold:
                    continue
            keep[i] = True
            wl.append(h)
        new_corpus = np.array(wl, dtype=np.uint64).view(np.int64)
        return keep, minh, new_corpus
    buf = np.empty(len(tail) + n, dtype=np.uint64)
    if len(tail):
        buf[: len(tail)] = tail.view(np.uint64)
    write = len(tail)
    scratch = np.empty(len(buf), dtype=np.uint64)
    scratch2 = np.empty(len(buf), dtype=np.uint64)
    hu = hashes.view(np.uint64)
    keep = np.zeros(n, dtype=bool)
    minh = np.full(n, -1, dtype=np.int64)
    for i in range(n):
        lo = max(0, write - max_corpus)
        if write > lo:
            k = write - lo
            v = scratch[:k]
            np.bitwise_xor(buf[lo:write], hu[i], out=v)
            md = _popcount64_min(v, scratch2[:k])
            minh[i] = md
            if md <= threshold:
                continue
        keep[i] = True
        buf[write] = hu[i]
        write += 1
    new_corpus = buf[max(0, write - max_corpus) : write].view(np.int64).copy()
    return keep, minh, new_corpus
