"""Deduplication stages (SURVEY.md §2.3) — batch forms.

The reference's sequential keep-first dedup
(image_diversity_filter.py:20-34: first occurrence wins, later
near-duplicates dropped) generalizes here to order-aware distributed
dedup: "first" is defined by an explicit ordering key (the engine's
stable (conv_id, turn_idx) order, or doc_id), so results are
deterministic under any partitioning.

Scale notes (100 TB):
* exact dedup = hash-partition on the fingerprint → one shuffle, no
  skew (md5 keys are uniform), window row_number instead of
  groupBy+join (single pass).
* MinHash/LSH = explode shingles (map-side), min-aggregate per
  permutation (partial aggregation), band-bucket self-join — the join
  key (band hash) is uniform by construction; candidate verification
  is a narrow pair join, never an all-pairs product.
* SimHash = same md5-derived bit tricks, Hamming check via xor+popcount.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import scoped_persist

from ..functions.hashing import md5_int_sql, minhash_coeffs, perm_hash_sql, shingles_sql
from ..functions.normalize import fingerprint_sql


_REPARTITION_NODES = {"Repartition", "RepartitionByExpression"}
# Unary operators that preserve their child's partitioning — the only
# nodes the governing-repartition walk may descend through. Anything
# else (Aggregate, Join, Window, Sort, Union...) establishes its own
# distribution, so a Repartition below it is irrelevant here.
_PARTITION_PRESERVING = {
    "Project",
    "Filter",
    "SubqueryAlias",
    "MapInPandas",
    "PythonMapInArrow",
    "MapPartitions",
    "SerializeFromObject",
    "DeserializeToObject",
    "TypedFilter",
    "WithColumns",
    "Generate",  # explode: row-local 1→N, partitioning unchanged
}


def _has_governing_repartition(df: DataFrame) -> bool:
    """True iff a Repartition node reachable from the plan root through
    partition-preserving unary operators still determines this frame's
    distribution (metadata-only: plan-node classes, never ``.rdd``)."""
    try:
        node = df._jdf.queryExecution().analyzed()
        while True:
            name = node.getClass().getSimpleName().removesuffix("$")
            if name in _REPARTITION_NODES:
                return True
            if name not in _PARTITION_PRESERVING:
                return False
            children = node.children()
            if children.size() != 1:
                return False
            node = children.apply(0)
    except Exception:
        # py4j surface drift: fall back to "unknown" = don't suppress
        return False


def _spread(df: DataFrame) -> DataFrame:
    """CPU-heavy hashing over a small file count would otherwise run in
    as few tasks as there are input splits — spread to the cluster's
    parallelism first (no-op at real scale where splits >> cores).

    Deliberately NEVER touches ``df.rdd``: under AQE, converting an
    exchange-bearing DataFrame to an RDD materializes every upstream
    query stage as a separate job (measured 4-8× on the media rows,
    whose inputs carry a repartition + Arrow synth stage), so the
    partition probe must stay metadata-only. Two cheap checks instead:
    an existing Repartition node still GOVERNING the frame's
    distribution makes this a no-op (idempotence — operators may spread
    inputs the caller already spread), and the scan's file count
    approximates the split count (files ≥ cores ⇒ splits ≥ cores ⇒
    no-op; at bench scale the inputs are 1-row-group files, where
    files < cores is exactly the starved case this exists to fix).

    "Governing" is decided by walking analyzed-plan NODES from the root
    through partition-preserving unary operators only (Project/Filter/
    alias/mapInPandas...): a Repartition buried below an Aggregate/Join/
    Window no longer determines the distribution and must not suppress
    spreading, and a column or relation whose NAME contains
    "Repartition" never matches (both were failure modes of the old
    whole-plan substring test)."""
    p = df.sparkSession.sparkContext.defaultParallelism
    if _has_governing_repartition(df):
        return df
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= p:
        return df
    return df.repartition(p)


def exact_keep_first(
    df: DataFrame,
    text_col: str = "text",
    order_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint, keeping the first
    row in ``order_cols`` order (reference keep-first semantics)."""
    fp = F.expr(fingerprint_sql("spark", text_col))
    w = Window.partitionBy("_fp").orderBy(*[F.col(c) for c in order_cols])
    return (
        df.withColumn("_fp", fp)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


def with_minhash_signature(
    df: DataFrame, text_col: str = "text", num_perm: int = 16, shingle_n: int = 3
) -> DataFrame:
    """Adds ``sig`` (array<bigint> of length num_perm): MinHash over word
    n-gram shingles, entirely in Catalyst expressions."""
    a, b = minhash_coeffs(num_perm)
    sh = shingles_sql("spark", text_col, shingle_n)
    h = md5_int_sql("spark", "x")
    # hash every shingle once into `_sh`, then take the k permutation mins
    # over the already-hashed array (k small exprs instead of k re-shingles)
    mins = [
        f"array_min(transform(_sh, x -> {perm_hash_sql('spark', 'x', int(a[i]), int(b[i]))}))"
        for i in range(num_perm)
    ]
    return (
        df.withColumn("_sh", F.expr(f"transform({sh}, x -> {h})"))
        .withColumn("sig", F.expr("array(" + ", ".join(mins) + ")"))
        .drop("_sh")
    )


def minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-dup marking.

    Pipeline: signature → band hashes → explode bands → self-join on
    (band_idx, band_hash) → candidate pairs → estimated Jaccard from
    signature agreement → mark the *later* id of every pair ≥ threshold
    as duplicate (keep-first, image_deduplication_filter.py:143-156).
    Returns (id_col, is_dup boolean).
    """
    rows_per_band = num_perm // bands
    sig_df = with_minhash_signature(_spread(df), text_col, num_perm, shingle_n).select(
        F.col(id_col), "sig"
    )
    band_exprs = [
        F.struct(
            F.lit(i).alias("band_idx"),
            F.md5(F.expr(f"array_join(slice(sig, {i * rows_per_band + 1}, {rows_per_band}), ',')")).alias("band_hash"),
        )
        for i in range(bands)
    ]
    banded = sig_df.select(
        id_col, "sig", F.explode(F.array(*band_exprs)).alias("b")
    ).select(id_col, "sig", "b.band_idx", "b.band_hash")

    left = banded.alias("l")
    right = banded.alias("r")
    # merge-join hint: without it the planner may broadcast one side of
    # the self-join, RE-COMPUTING the whole signature pipeline (scan →
    # shingle → 16 permutations → band explode) to build the broadcast
    # table — 2× the dominant cost, and a corpus-sized broadcast at real
    # scale. With identical shuffles on (band_idx, band_hash) the second
    # side becomes a ReusedExchange: one signature pass, band-bucketed
    # join (asserted in tests/test_plans.py::test_minhash_lsh_plan_shape).
    pairs = (
        left.join(
            right.hint("merge"),
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.sig").alias("sig_a"),
            F.col("r.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "est_jaccard",
            F.expr(
                "size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), b -> b)) * 1e0 / size(sig_a)"
            ),
        )
        .filter(F.col("est_jaccard") >= jaccard_threshold)
    )
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "is_dup", F.lit(True)
    )
    return (
        df.select(id_col)
        .join(dups, on=id_col, how="left")
        .select(id_col, F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )


def ngram_jaccard(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup marking via a prefix-filtering set-
    similarity join (PPJoin-style, Xiao et al., WWW'08 — public
    technique). Marks the later id of every pair ≥ threshold
    (keep-first). Returns (id_col, is_dup).

    Round 1 indexed *every* shingle occurrence, so one hot shingle
    shared by k docs emitted k²/2 candidate rows (the slowest headline
    query). Prefix filtering is the exact fix: order each doc's shingle
    set by ascending global document frequency (ties by shingle text —
    one consistent total order); a pair with Jaccard ≥ t MUST share a
    shingle within the first ``|X| − ⌈t·|X|⌉ + 1`` shingles of both
    sets, so only those prefixes are indexed for candidate generation
    (hot shingles sort last and drop out of prefixes). Candidates are
    then verified exactly with ``array_intersect`` on the full sets —
    zero recall loss, identical output to the full inverted-index join.
    """
    sh = shingles_sql("spark", text_col, shingle_n)
    base = (
        _spread(df)
        .select(id_col, F.expr(sh).alias("shingles"))
        .withColumn("n_sh", F.size("shingles"))
    )
    # plan-reuse cache (base feeds the inverted index, the prefixes and
    # the verification sets); caller-releasable via cache.release_all()
    base = scoped_persist(base)

    # the candidate pipeline keys on xxhash64(shingle), not the shingle
    # text: the prefix index is shuffled/sorted/joined on an 8-byte
    # bigint instead of a ~25-byte string (narrower exchanges + cheaper
    # SMJ compares, guide §2.3). EXACT: verification below intersects
    # the TRUE shingle arrays, and a hash collision only merges two
    # tokens of the candidate universe — candidate sets grow (df counts
    # merge, prefixes stay ≥ the bound), never shrink, so prefix-filter
    # completeness holds for the hash order like any other total order.
    # Caveat: a collision between two shingles of ONE document shrinks
    # that document's hashed prefix set (probability ≈2⁻⁶⁴ per pair).
    inv =base.select(id_col, F.explode("shingles").alias("_s")).select(
        id_col, F.xxhash64("_s").alias("shingle")
    )
    shingle_df = inv.groupBy("shingle").agg(F.count("*").alias("df_cnt"))
    # per-doc shingles ordered by (global df asc, shingle asc); keep only
    # the prefix that can witness a ≥ threshold pair
    prefix_len = F.ceil(
        F.col("n_sh") - F.ceil(F.col("n_sh") * F.lit(threshold)) + 1
    ).cast("int")
    ordered = (
        inv.join(shingle_df, "shingle")
        .groupBy(id_col)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(df_cnt, shingle))), s -> s.shingle)"
            ).alias("ordered_sh")
        )
    )
    # persisted: the prefix index feeds BOTH sides of the candidate
    # self-join, and its pipeline contains collect_list — a
    # nondeterministic expression that defeats exchange-reuse
    # canonicalization, so without the cache the planner computes the
    # df-count + ordered-prefix aggregations twice (one per side).
    prefixes = scoped_persist(
        base.select(id_col, "n_sh")
        .join(ordered, id_col)
        .select(
            id_col,
            "n_sh",
            F.posexplode(F.slice("ordered_sh", F.lit(1), prefix_len)).alias(
                "pos", "shingle"
            ),
        )
    )

    # PPJoin length filter: Jaccard ≥ t forces min(|X|,|Y|) ≥ t·max —
    # prunes size-mismatched candidates inside the equi-join, before
    # they reach the (heavier) verification join. Exact, zero recall
    # loss, same as the prefix filter's provenance (Xiao et al. WWW'08).
    # merge-join hint, same rationale as minhash_lsh above: without it
    # the planner broadcasts one side of the self-join and RE-COMPUTES
    # the whole prefix pipeline (df-count agg → ordered agg → prefix
    # explode) to build the broadcast table — and the prefix index is
    # corpus-sized at real scale, so a broadcast is wrong there anyway.
    # With identical shuffles on the shingle key the second side becomes
    # a ReusedExchange (asserted in tests/test_plans.py::
    # test_ngram_jaccard_plan_shape).
    l, r = prefixes.alias("l"), prefixes.alias("r")
    # PPJoin positional filter (Xiao et al. WWW'08 §3.2): at a shared
    # prefix token sitting at 0-based positions (pl, pr), the overlap
    # can't exceed 1 + min(remaining tokens on each side), and a pair
    # with Jaccard ≥ t needs overlap ≥ t·(|X|+|Y|)/(1+t). Exact: a
    # qualifying pair's FIRST common token (the prefix lemma guarantees
    # it lies in both prefixes) always satisfies the bound, so keeping
    # pairs that pass at ANY occurrence loses nothing; the 1e-9 slack
    # only loosens against float rounding. Measured at sf1.0: 7.0 M →
    # 2.43 M candidate pairs (2.9×), which is what the verification
    # join's cost scales with (query 16.6 → 6.9 s with the hashed keys).
    ubound = F.lit(1) + F.least(
        F.col("l.n_sh") - F.col("l.pos") - 1,
        F.col("r.n_sh") - F.col("r.pos") - 1,
    )
    cand = (
        l.join(
            r.hint("merge"),
            on=[
                F.col("l.shingle") == F.col("r.shingle"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
                F.col("l.n_sh") >= F.col("r.n_sh") * F.lit(threshold),
                F.col("r.n_sh") >= F.col("l.n_sh") * F.lit(threshold),
                ubound * F.lit(1.0 + threshold)
                >= (F.col("l.n_sh") + F.col("r.n_sh")) * F.lit(threshold)
                - F.lit(1e-9),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = base.select(id_col, "shingles", "n_sh")
    pairs = (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"),
                F.col("shingles").alias("sh_a"),
                F.col("n_sh").alias("na"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"),
                F.col("shingles").alias("sh_b"),
                F.col("n_sh").alias("nb"),
            ),
            "id_b",
        )
        .withColumn("common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.expr("common * 1e0 / (na + nb - common)"))
        .filter(F.col("jaccard") >= threshold)
    )
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "is_dup", F.lit(True)
    )
    return (
        df.select(id_col)
        .join(dups, on=id_col, how="left")
        .select(id_col, F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )


def tfidf_cosine_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    dense_vocab_cap: int = 2048,
) -> DataFrame:
    """The reference's ACTUAL near-dup metric — TF-IDF cosine ≥ τ
    (TextDuplicateFilter, image_diversity_filter.py:20-34: sklearn
    TfidfVectorizer + cosine_similarity, keep-first) — as a distributed
    inverted-index join.

    Formula matches TfidfVectorizer defaults: tokens = maximal
    word-char runs of length ≥2 on lowercased text; idf =
    ln((1+n)/(1+df)) + 1 (smooth); weights l2-normalized, so cosine =
    dot of normalized vectors. Documented generalizations of the
    sequential reference: idf is corpus-global (the reference refits on
    its growing last-10k window per row, which no parallel engine can
    reproduce and which makes its own output order-dependent), and a
    pair is compared regardless of distance in the order (the reference
    only checks the trailing 10 000 texts). "Later id of a matching
    pair is the duplicate" keeps first occurrences, like every dedup
    here. Rows shorter than 3 chars are flagged ``too_short`` (the
    reference drops them outright, :21-22).

    Output: (id_col, is_dup, max_cosine, too_short). Everything stays
    in Catalyst: explode → weight join → pair dot products. At 100 TB,
    cap ultra-high-df terms or route candidates through MinHash before
    the pair join (Bayardo et al., WWW'07 prefix filtering is the exact
    variant); left exact here because the oracle is exact.
    """
    n = df.count()
    toks = f"regexp_extract_all(lower({text_col}), '[a-z0-9_]{{2,}}', 0)"
    tf = (
        _spread(df)
        .select(id_col, F.explode(F.expr(toks)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    w = tf.join(df_t, "term").withColumn(
        "w", F.expr(f"tf * (ln((1e0 + {n}) / (1e0 + df_t)) + 1e0)")
    )
    norms = w.groupBy(id_col).agg(F.expr("sqrt(sum(w * w))").alias("norm"))
    wn = w.join(norms, id_col).select(
        id_col, "term", (F.col("w") / F.col("norm")).alias("wn")
    )
    # serves the vocab probe + dense collect AND the sparse-regime
    # self-join; caller-releasable via cache.release_all()
    wn = scoped_persist(wn)

    # Two exact regimes, chosen by measured vocabulary size (a bounded
    # driver-side listing, like approxQuantile):
    #
    # * small vocab (stop-word-heavy / synthetic corpora): the term join
    #   degenerates — |vocab| join keys collapse parallelism and a hot
    #   term emits df² rows into a huge pre-aggregation shuffle. Densify
    #   instead: fixed-width weight vectors, id-bucket-blocked all-pairs
    #   with the dot computed inline and the threshold applied BEFORE
    #   any shuffle (only matches survive). 62 s → ~3 s on the 30-term
    #   bench corpus.
    # * large vocab (real text): the dense width is unbounded, but the
    #   inverted-index join is sparse and well-keyed — with the right
    #   side id-bucketed so residual hot terms still spread.
    vocab = [
        r["term"]
        for r in df_t.orderBy("term").limit(dense_vocab_cap + 1).collect()
    ]
    n_buckets = df.sparkSession.sparkContext.defaultParallelism
    dense_bytes = len(vocab) * n * 8
    if vocab and len(vocab) <= dense_vocab_cap and dense_bytes <= 128 * 2**20:
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import DoubleType, StructField, StructType

        from .gemm import _round6

        pos = df.sparkSession.createDataFrame(
            [(t, i) for i, t in enumerate(vocab)], ["term", "_pos"]
        )
        vec_expr = (
            f"transform(sequence(0, {len(vocab) - 1}), "
            "i -> coalesce(try_element_at(_m, i), 0d))"
        )
        vecs = (
            wn.join(F.broadcast(pos), "term")
            .groupBy(id_col)
            .agg(F.expr("map_from_entries(collect_list(struct(_pos, wn)))").alias("_m"))
            .select(id_col, F.expr(vec_expr).alias("_v"))
        )
        # broadcast the (bounded) dense matrix; each Arrow batch of left
        # rows does one BLAS GEMM against it and emits ONLY the matches —
        # per-pair expression evaluation (interpreted higher-order
        # lambdas) measured 10× slower than this on the bench corpus
        right_pdf = vecs.toPandas()
        r_ids = right_pdf[id_col].to_numpy()
        r_mat = np.vstack(right_pdf["_v"].to_numpy()).astype(np.float64)
        from ..cache import scoped_broadcast

        bc = scoped_broadcast(
            df.sparkSession.sparkContext.broadcast((r_ids, r_mat))
        )
        thr = threshold
        id_type = df.schema[id_col].dataType
        out_schema = StructType(
            [
                StructField("id_a", id_type),
                StructField("id_b", id_type),
                StructField("cosine", DoubleType()),
            ]
        )
        # per-task transient budget for the (batch × tile) sims buffer.
        # The r6 kernel materialized the FULL batch×n sims matrix plus
        # _round6 temporaries — ~0.6 GB × 4 copies × 32 concurrent tasks
        # at n=50k, which thrashed the sandbox (sf1.0 runs swung
        # 71→138 s). Tiling the right side bounds live memory at
        # ~2×TILE_BUDGET doubles per task; everything below runs
        # in-place on the tile (no _round6 temporaries).
        tile_budget = 1 << 22  # 4M doubles = 32 MB per tile

        def gemm(batches):
            rids, rmat = bc.value
            rmat_t = np.ascontiguousarray(rmat.T)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                aids = pdf[id_col].to_numpy()
                amat = np.vstack(pdf["_v"].to_numpy()).astype(np.float64)
                tile = max(64, tile_budget // max(1, len(aids)))
                frames = []
                for lo in range(0, len(rids), tile):
                    rt = rids[lo : lo + tile]
                    sims = amat @ rmat_t[:, lo : lo + tile]
                    # ROUND(x,6) ≥ thr on nonneg tf-idf cosines, all
                    # in-place: floor(x*1e6 + 0.5) is the _round6
                    # numerator (operators/gemm.py) — the kept values
                    # divide back to exactly _round6(x)
                    np.multiply(sims, 1e6, out=sims)
                    np.add(sims, 0.5, out=sims)
                    np.floor(sims, out=sims)
                    mask = sims >= round(thr * 1e6)
                    mask &= aids[:, None] < rt[None, :]
                    ii, jj = np.nonzero(mask)
                    if len(ii):
                        frames.append(
                            pd.DataFrame(
                                {
                                    "id_a": aids[ii],
                                    "id_b": rt[jj],
                                    "cosine": sims[ii, jj] / 1e6,
                                }
                            )
                        )
                if frames:
                    yield pd.concat(frames, ignore_index=True)

        pairs = vecs.repartition(n_buckets).mapInPandas(gemm, out_schema)
    else:
        l = wn.select(
            F.col(id_col).alias("id_a"), "term", F.col("wn").alias("wn_a"),
            F.explode(F.expr(f"sequence(0, {n_buckets - 1})")).alias("_bkt"),
        )
        r = wn.select(
            F.col(id_col).alias("id_b"), "term", F.col("wn").alias("wn_b"),
            F.pmod(F.hash(id_col), F.lit(n_buckets)).alias("_bkt"),
        )
        pairs = (
            l.join(r, on=["term", "_bkt"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.round(F.sum(F.expr("wn_a * wn_b")), 6).alias("cosine"))
        )
    dups = (
        pairs.filter(F.col("cosine") >= threshold)
        .groupBy("id_b")
        .agg(F.round(F.max("cosine"), 6).alias("max_cosine"))
        .withColumn("is_dup", F.lit(True))
        .withColumnRenamed("id_b", id_col)
    )
    return (
        df.select(id_col, F.length(text_col).alias("_len"))
        .join(dups, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
            F.coalesce("max_cosine", F.lit(0.0)).alias("max_cosine"),
            (F.col("_len") < 3).alias("too_short"),
        )
    )


def embedding_cosine_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    cell_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-dup marking (the ImageDeduplicateFilter semantics,
    image_deduplication_filter.py:122-157: all-pairs cosine ≥ τ marks the
    later id as duplicate, keep first), restricted to a coarse cell
    (IVF-style) so the pair space is per-cell instead of corpus-wide —
    the layout that scales. Pair scoring is a salted per-cell GEMM
    (gemm.cell_dup_pairs — round-2 measured ~10× over the interpreted
    zip_with/aggregate pair expression). Returns (id_col, is_dup,
    max_cosine)."""
    from . import gemm

    pairs = gemm.cell_dup_pairs(df, threshold, id_col=id_col, cell_col=cell_col)
    dups = (
        pairs.groupBy("id_b")
        .agg(F.round(F.max("cosine"), 6).alias("max_cosine"))
        .withColumn("is_dup", F.lit(True))
        .withColumnRenamed("id_b", id_col)
    )
    return (
        df.select(id_col)
        .join(dups, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
            F.coalesce("max_cosine", F.lit(0.0)).alias("max_cosine"),
        )
    )


def with_phash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    hash_size: int = 8,
) -> DataFrame:
    """Perceptual-hash stage: decode each row's image bytes with the
    pure-numpy codecs and emit its 64-bit pHash (functions/phash.py).
    Arrow-batched ``mapInPandas`` — decode dominates, parallelism comes
    from input splits, no shuffle. Undecodable bytes yield a NULL hash
    and ``decode_failed = true`` (the reference treats those rows as
    not-kept, image_diversity_filter.py:44-53).

    ``hash_size`` must be 8: the downstream pigeonhole layout
    (hamming_mark_dups) packs exactly 64 bits, and pandas' Int64 cannot
    carry more — anything else would fail at runtime or silently
    degenerate the candidate join toward all-pairs."""
    if hash_size != 8:
        raise ValueError(
            f"hash_size must be 8 (64-bit pHash); got {hash_size} — the "
            "pigeonhole chunk layout and Int64 transport are 64-bit"
        )
    import pandas as pd

    id_type = df.schema[id_col].dataType

    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("phash", LongType()),
            StructField("decode_failed", BooleanType()),
        ]
    )

    def run(batches):
        from ..functions import codecs
        from ..functions.phash import phash64

        for pdf in batches:
            hashes, failed = [], []
            for c in pdf[content_col]:
                # decode_image wraps corrupt-bytes errors as
                # CodecUnavailable, but the per-row error contract must
                # hold for ANY failure (degenerate shapes through
                # phash64 included) — a task death here fails the job.
                try:
                    hashes.append(phash64(codecs.decode_image(bytes(c or b"")), hash_size))
                    failed.append(False)
                except Exception:
                    hashes.append(None)
                    failed.append(True)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "phash": pd.array(hashes, dtype="Int64"),
                 "decode_failed": failed}
            )

    return _spread(df.select(id_col, content_col)).mapInPandas(run, schema=schema)


def phash_near_dup(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    hamming_threshold: int = 5,
    hash_size: int = 8,
) -> DataFrame:
    """Image near-dup marking by perceptual-hash Hamming distance — the
    ImageDuplicateFilter semantics (image_diversity_filter.py:37-62:
    ``imagehash.phash`` 64-bit, distance ≤ 5 → duplicate, keep first).

    Documented generalization, same as every dedup here: the reference
    is sequential and corpus-gated (a dropped duplicate never re-enters
    the comparison corpus, which is capped at the trailing 10 000); the
    distributed form compares all pairs within the Hamming radius and
    marks the later id of each matching pair — deterministic under any
    partitioning, order defined by ``id_col``.

    Candidate generation is exact pigeonhole bucketing: the 64-bit hash
    splits into ``hamming_threshold + 1`` chunks; two hashes within the
    threshold must agree on at least one chunk, so the candidate space
    is a chunk-value equi-join (the SimHash layout above), never an
    all-pairs product. Verification = xor + bit_count. ``min_hamming``
    is reported for duplicate rows only (the exact min over ALL rows
    would need the all-pairs scan the bucketing exists to avoid; the
    reference records it as a debug value, not a semantic one). Output:
    (id_col, is_dup, min_hamming, decode_failed)."""
    hashed = scoped_persist(with_phash(df, content_col, id_col, hash_size))
    marks = hamming_mark_dups(
        hashed.filter(~F.col("decode_failed")), id_col, hamming_threshold
    )
    return (
        hashed.select(id_col, "decode_failed")
        .join(marks, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
            "min_hamming",
            "decode_failed",
        )
    )


def hamming_mark_dups(
    base: DataFrame, id_col: str, hamming_threshold: int
) -> DataFrame:
    """Mark the later id of every pair of 64-bit ``phash`` values within
    ``hamming_threshold`` bits (exact: pigeonhole chunk buckets →
    equi-join candidates → xor+bit_count verify). Output: (id_col,
    is_dup=true, min_hamming) for duplicate ids only."""
    n_chunks = hamming_threshold + 1
    width = 64 // n_chunks
    extra = 64 - width * n_chunks  # first `extra` chunks get one more bit
    chunks, off = [], 0
    for i in range(n_chunks):
        w = width + (1 if i < extra else 0)
        chunks.append(
            F.struct(
                F.lit(i).alias("chunk_idx"),
                F.expr(
                    f"shiftrightunsigned(phash, {off}) & {(1 << w) - 1}"
                ).alias("chunk_val"),
            )
        )
        off += w
    banded = base.select(id_col, "phash", F.explode(F.array(*chunks)).alias("c")).select(
        id_col, "phash", "c.chunk_idx", "c.chunk_val"
    )
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            on=[
                F.col("l.chunk_idx") == F.col("r.chunk_idx"),
                F.col("l.chunk_val") == F.col("r.chunk_val"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"r.{id_col}").alias("id_b"),
            F.expr("bit_count(l.phash ^ r.phash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= hamming_threshold)
    )
    return (
        pairs.groupBy("id_b")
        .agg(F.min("hamming").alias("min_hamming"))
        .withColumn("is_dup", F.lit(True))
        .withColumnRenamed("id_b", id_col)
    )


def image_diversity_filter(
    df: DataFrame,
    text_col: str = "text",
    content_col: str = "content",
    id_col: str = "media_id",
    text_threshold: float = 0.8,
    hamming_threshold: int = 5,
    hash_size: int = 8,
) -> DataFrame:
    """ImageDiversityFilter (image_diversity_filter.py:65-120): a row is
    kept iff it is BOTH text-novel (TF-IDF cosine < ``text_threshold``
    vs earlier rows) AND image-novel (pHash Hamming > ``hamming_threshold``
    vs earlier rows). Rows whose image bytes fail to decode, or whose
    text is shorter than 3 chars, are not kept (the reference's
    check_distance/check_similarity early-False returns). Output:
    (id_col, keep, text_max_cosine, img_min_hamming, decode_failed) —
    marks, not drops, per this engine's convention; callers filter on
    ``keep``."""
    # explicit projections: the content column is often an expensive
    # synth/decode expression — column pruning does not reliably remove
    # it through the TF-IDF self-join, so each branch gets only the
    # columns it consumes (measured 19 s → ~4 s at sf0.1)
    text_marks = tfidf_cosine_near_dup(
        df.select(id_col, text_col), text_col=text_col, id_col=id_col,
        threshold=text_threshold,
    ).select(
        id_col,
        F.col("is_dup").alias("_text_dup"),
        F.col("max_cosine").alias("text_max_cosine"),
        "too_short",
    )
    img_marks = phash_near_dup(
        df.select(id_col, content_col), content_col=content_col, id_col=id_col,
        hamming_threshold=hamming_threshold, hash_size=hash_size,
    ).select(
        id_col,
        F.col("is_dup").alias("_img_dup"),
        F.col("min_hamming").alias("img_min_hamming"),
        "decode_failed",
    )
    return (
        text_marks.join(img_marks, on=id_col)
        .select(
            id_col,
            (
                ~F.col("_text_dup")
                & ~F.col("too_short")
                & ~F.col("_img_dup")
                & ~F.col("decode_failed")
            ).alias("keep"),
            "text_max_cosine",
            "img_min_hamming",
            "decode_failed",
        )
    )


def with_simhash(df: DataFrame, text_col: str = "text", bits: int = 48) -> DataFrame:
    """Append a ``simhash`` column: per row, token md5 hashes folded by
    a per-bit majority vote — pure Catalyst (shared by the batch
    ``simhash_near_dup`` and the streaming trailing-corpus dedup, so
    both paths hash identically). No repartition here: streaming frames
    must stay exchange-free at this stage."""
    toks = f"array_distinct(filter(split(lower({text_col}), '\\\\s+'), w -> w <> ''))"
    h = md5_int_sql("spark", "w")
    hashes = f"transform({toks}, w -> {h})"
    sim_expr = (
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), (acc, i) -> "
        f"acc + IF(size(filter(_th, v -> (v >> i) % 2 = 1)) * 2 > size(_th), "
        f"shiftleft(cast(1 as bigint), i), cast(0 as bigint)))"
    )
    return (
        df.withColumn("_th", F.expr(hashes))
        .withColumn("simhash", F.expr(sim_expr))
        .drop("_th")
    )


def simhash_near_dup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    hamming_threshold: int = 3,
) -> DataFrame:
    """SimHash near-dup marking.

    Per doc: 48-bit simhash from token md5-hashes (majority vote per
    bit, all in Catalyst). Candidate generation via 4 bucket keys
    (12-bit chunks — two dups within Hamming ≤3 share at least one
    chunk), verification via xor+popcount. Returns (id_col, is_dup).
    """
    base = with_simhash(_spread(df), text_col=text_col, bits=bits).select(
        id_col, "simhash"
    )
    chunk = 12
    n_chunks = bits // chunk
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_idx"),
                F.expr(f"(simhash >> {i * chunk}) % {1 << chunk}").alias("chunk_val"),
            )
            for i in range(n_chunks)
        ]
    )
    banded = base.select(id_col, "simhash", F.explode(chunks).alias("c")).select(
        id_col, "simhash", "c.chunk_idx", "c.chunk_val"
    )
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(
            r,
            on=[
                F.col("l.chunk_idx") == F.col("r.chunk_idx"),
                F.col("l.chunk_val") == F.col("r.chunk_val"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.expr("bit_count(l.simhash ^ r.simhash)").alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= hamming_threshold)
    )
    dups = pairs.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "is_dup", F.lit(True)
    )
    return (
        df.select(id_col)
        .join(dups, on=id_col, how="left")
        .select(id_col, F.coalesce("is_dup", F.lit(False)).alias("is_dup"))
    )
