"""Cross-engine parity of ``textstats.quality_score_sql`` on decimal
half-way values: the 6-dp rounding must agree between Spark and DuckDB
where the unrounded score ends in a 5 at the 7th decimal."""

from __future__ import annotations

import duckdb
import pandas as pd

from dataflow_mm_lrt_spark.functions.textstats import quality_score_sql


def _tie_corpus() -> pd.DataFrame:
    """32 tokens: 31 three-char words cycling over u−1 distinct ones,
    then one unique word of ``long_len`` chars. The score is
    0.192 + 0.0125·u + 0.0009375·chars, and ``chars`` = 93 + long_len
    is odd, so every score is a decimal half-way value at 6 dp
    (u=12, chars=181 gives 0.5116875)."""
    rows = []
    for u in range(2, 14):
        words = [f"w{i:02d}" for i in range(u - 1)]
        head = " ".join(words[i % len(words)] for i in range(31))
        for long_len in range(4, 230, 2):
            rows.append((len(rows), f"{head} {'z' * long_len}"))
    return pd.DataFrame(rows, columns=["i", "text"])


def test_quality_rounding_matches_duckdb_on_half_way_values(spark):
    pdf = _tie_corpus()
    con = duckdb.connect()
    con.register("docs", pdf)
    want = dict(
        con.execute(
            f"SELECT i, {quality_score_sql('duckdb', 'text')} FROM docs"
        ).fetchall()
    )
    got = {
        r[0]: r[1]
        for r in spark.createDataFrame(pdf)
        .selectExpr("i", quality_score_sql("spark", "text"))
        .collect()
    }
    diff = {i: (got[i], want[i]) for i in want if got[i] != want[i]}
    assert not diff, list(diff.items())[:5]
