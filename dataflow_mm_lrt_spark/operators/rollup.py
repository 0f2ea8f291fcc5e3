"""Hypertable-style rollups and a deterministic distinct sketch.

Two large-scale analytics capabilities the transcript/event engine
needs beyond the reference's inventory (the reference has no group-by
aggregation at all, SURVEY.md §2.9):

* ``hypertable_rollup`` — multi-resolution windowed aggregates the way
  a continuous-aggregate (TimescaleDB-style) hypertable materializes
  them: aggregate ONCE at the finest resolution, then derive each
  coarser level by re-aggregating the next-finer partials — each level
  costs |finer partials| rows, not another scan of the raw table. All
  levels in one output with a ``resolution`` column.
* ``kmv_distinct`` — a K-Minimum-Values distinct-count sketch
  (Bar-Yossef et al., RANDOM'02 — public): keep the k smallest values
  of a uniform 60-bit hash; estimate = (k−1)·H / h_(k) where H is the
  hash range. Unlike HLL registers, the KMV synopsis is a deterministic
  function of the input SET, so two engines agree exactly — it is the
  sketch you can value-hash against an oracle, and it merges by
  union+re-truncate (partial aggregation / rollup friendly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import scoped_persist

from ..functions.hashing import md5_int_sql

HASH_RANGE = float(1 << 60)  # md5_int_sql yields 60-bit uniform ints

RESOLUTIONS = {"1 minute": 60, "1 hour": 3600, "1 day": 86400}


def hypertable_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    resolutions: tuple[str, ...] = ("1 minute", "1 hour", "1 day"),
) -> DataFrame:
    """Hierarchical rollup: one raw-table pass at the finest resolution,
    each coarser level re-aggregates the previous level's partials
    (counts and sums compose exactly). Output: (resolution,
    bucket_start epoch s, key, n_events, sum_value)."""
    secs = sorted(RESOLUTIONS[r] for r in resolutions)
    for a, b in zip(secs, secs[1:]):
        if b % a != 0:
            raise ValueError(f"resolutions must nest: {b} % {a} != 0")
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    finest = (
        df.select(
            (F.floor(epoch / secs[0]) * secs[0]).alias("bucket_start"),
            F.col(key_col).alias("key"),
            F.col(value_col).alias("v"),
        )
        .groupBy("bucket_start", "key")
        .agg(F.count("*").alias("n_events"), F.sum("v").alias("sum_value"))
    )
    levels = {secs[0]: scoped_persist(finest)}
    for res in secs[1:]:
        finer = levels[max(s for s in secs if s < res)]
        levels[res] = (
            finer.groupBy(
                (F.floor(F.col("bucket_start") / res) * res).alias("bucket_start"),
                "key",
            )
            .agg(F.sum("n_events").alias("n_events"), F.sum("sum_value").alias("sum_value"))
        )
        levels[res] = scoped_persist(levels[res])
    out = None
    names = {v: k for k, v in RESOLUTIONS.items()}
    for res in secs:
        lvl = levels[res].select(
            F.lit(names[res]).alias("resolution"),
            "bucket_start",
            "key",
            "n_events",
            F.round("sum_value", 6).alias("sum_value"),
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out


def kmv_distinct(
    df: DataFrame, col: str, k: int = 256, by: str | None = None,
    n_salts: int = 32,
) -> DataFrame:
    """Distinct-count estimate per group (or globally with ``by=None``).

    Two-phase exact synopsis: phase 1 builds a per-(group, hash-salt)
    partial KMV (each task's collect_set holds only its salt's share of
    the distinct values), phase 2 unions the ≤ n_salts·k partial minima
    and re-truncates — exact, because every global k-minimum is one of
    its salt's k minima, so the salt spreads one group's distinct values
    over n_salts tasks without changing the result.
    Output: (by?, n_hashes, kth_min, distinct_est).
    """
    h = md5_int_sql("spark", col)
    keys = [by] if by else []
    partial = (
        df.select(*keys, F.expr(h).alias("_h"))
        .groupBy(*keys, F.pmod(F.col("_h"), F.lit(n_salts)).alias("_salt"))
        .agg(F.expr(f"slice(array_sort(collect_set(_h)), 1, {k})").alias("_p"))
    )
    out = (
        partial.select(*keys, F.explode("_p").alias("_h"))
        .groupBy(*keys)
        .agg(F.expr(f"slice(array_sort(collect_set(_h)), 1, {k})").alias("_kmv"))
    )
    est = (
        # fewer than k distinct values → the synopsis IS the distinct set
        f"IF(size(_kmv) < {k}, cast(size(_kmv) as double), "
        f"round(({k} - 1) * {HASH_RANGE!r} / element_at(_kmv, {k}), 6))"
    )
    cols = [by] if by else []
    return out.select(
        *cols,
        F.size("_kmv").cast("long").alias("n_hashes"),
        F.element_at("_kmv", F.least(F.size("_kmv"), F.lit(k))).alias("kth_min"),
        F.expr(est).alias("distinct_est"),
    )
