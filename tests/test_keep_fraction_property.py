"""Property test: the distributed exact selection in keep_top_fraction
is value-identical to the percent_rank window oracle for arbitrary score
distributions, ratios, and tie configurations (including heavy
duplicate-score blocks that stress the boundary-band tie logic)."""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from dataflow_mm_lrt_spark.operators.ranking import keep_top_fraction


def window_oracle(df, ratio, ascending, tie_col):
    order = [F.col("score").asc() if ascending else F.col("score").desc()]
    if tie_col:
        order.append(F.col(tie_col).asc())
    w = Window.orderBy(*order)
    return (
        df.withColumn("_pr", F.percent_rank().over(w))
        .filter(F.col("_pr") <= ratio)
        .drop("_pr")
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    scores=st.lists(
        st.sampled_from([0.0, 0.25, 0.25, 0.5, 1.0, 1.5, 2.0, -1.0, 7.5]),
        min_size=1,
        max_size=60,
    ),
    ratio=st.sampled_from([0.0, 0.1, 0.5, 0.8, 1.0]),
    ascending=st.booleans(),
    use_tie=st.booleans(),
)
def test_matches_window_oracle(spark, scores, ratio, ascending, use_tie):
    pdf = pd.DataFrame({"rid": range(len(scores)), "score": scores})
    df = spark.createDataFrame(pdf)
    tie = "rid" if use_tie else None
    got = sorted(
        (r["rid"], r["score"])
        for r in keep_top_fraction(
            df, "score", keep_ratio=ratio, ascending=ascending,
            tie_col=tie, n_buckets=4, persist=False,
        ).collect()
    )
    exp_df = window_oracle(df, ratio, ascending, tie)
    exp = sorted((r["rid"], r["score"]) for r in exp_df.collect())
    if tie:
        assert got == exp
    else:
        # without a tie column both forms keep/drop tie groups together —
        # compare the multiset of scores (row identity within a tie group
        # is unspecified in the window form too)
        assert sorted(s for _, s in got) == sorted(s for _, s in exp)


def test_null_scores_excluded_from_accounting_and_output(spark):
    """ADVICE r3 item 5: NULL scores are documented as excluded from
    both the n/k accounting and the output — the selection over the
    remaining rows must equal the selection on a frame that never had
    the NULL rows."""
    pdf = pd.DataFrame(
        {
            "id": range(12),
            "score": [3.0, None, 1.0, 4.0, None, 1.5, 9.0, 2.6, None,
                      5.3, 5.8, 9.7],
        }
    )
    df = spark.createDataFrame(pdf)
    got = keep_top_fraction(df, "score", keep_ratio=0.5, tie_col="id")
    rows = got.collect()
    assert all(r["score"] is not None for r in rows)
    clean = spark.createDataFrame(pdf.dropna(subset=["score"]))
    exp = keep_top_fraction(clean, "score", keep_ratio=0.5, tie_col="id")
    assert sorted(r["id"] for r in rows) == sorted(
        r["id"] for r in exp.collect()
    )
    # all-null degenerates to empty, not an error
    all_null = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "score": pd.array([None, None], dtype="Float64")})
    )
    assert keep_top_fraction(all_null, "score", keep_ratio=0.5).count() == 0
