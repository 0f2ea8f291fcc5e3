"""Triple parity: Spark Catalyst exprs == DuckDB oracle SQL == faithful
Python port of RuleBaseFilter._apply_text_filters
(/root/reference/dataflow/operators/core_vision/filter/rule_base_filter.py:243-354).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from dataflow_mm_lrt_spark.functions.normalize import normalize_sql
from dataflow_mm_lrt_spark.functions.text_rules import RULES, keep_sql, rule_flag_sql
from dataflow_mm_lrt_spark.oracle.reference_port import apply_text_filters, normalize

EDGE_CASES = [
    None,
    "",
    "   \t  ",
    "ok:",
    "ends with colon inside: but not at end",
    "dot dot dot...\nmore dots...\nclean line here",
    "a b c",
    "x" * 200,
    "### ### ...",
    "&nbsp; entity",
    "＆amp fullwidth entity",
    "id number one id number two id number three",
    " ".join(f"word{i}" for i in range(113)),
    " ".join(f"word{i}" for i in range(113)) + ".",
    "u200e literal",
    "Copyright 2024",
    "copyright lowercase is fine actually yes truly",
    "{}{}{}",
    "NOT ALL CAPS but SOME ARE here YES",
    "lorem ipsum",
    "Lorem Ipsum Dolor",
    "dup dup dup dup dup dup dup dup dup dup dup",
    "• a\n• b\n• c",
    "• a\nnormal line\n• c",
    "enable javascript\njavascript here\njavascript there\njavascript everywhere\nplain",
    "java.script hidden by punctuation\nenable java-script\njava{script} ok\njavascript\nx",
    "one.two",
    "…",
    "tab\tseparated\twords\there",
    "mixed\n\n\nblank\n\n\nlines",
]


@pytest.fixture(scope="module")
def corpus(transcripts_pdf):
    docs = duckdb.sql(
        "SELECT text FROM '/root/testdata/sf0.001/documents.parquet'"
    ).df()
    extra = pd.DataFrame({"text": pd.Series(EDGE_CASES, dtype=object)})
    pdf = pd.concat(
        [transcripts_pdf[["text"]], docs, extra], ignore_index=True
    )
    pdf["expected"] = pdf["text"].map(
        lambda t: apply_text_filters(t) if t is not None else False
    )
    return pdf


def test_duckdb_dialect_matches_reference_port(corpus):
    con = duckdb.connect()
    con.register("t", corpus)
    res = con.sql(
        f"SELECT expected, coalesce({keep_sql('duckdb', 'text')}, false) AS got FROM t"
    ).df()
    assert (res.expected == res.got).all()


def test_normalize_sql_matches_reference_with_nfd(corpus):
    """``normalize_sql`` skips the reference's NFD step; on this corpus
    that delta is empty: the SQL form equals ``normalize(t)`` with NFD on
    for every text."""
    texts = corpus[corpus.text.notna()][["text"]]
    con = duckdb.connect()
    con.register("t", texts)
    got = con.sql(f"SELECT {normalize_sql('duckdb', 'text')} AS n FROM t").df()
    want = [normalize(t, nfd_unicode=True) for t in texts.text]
    mism = [(t, g, w) for t, g, w in zip(texts.text, got.n, want) if g != w]
    assert not mism, mism[:5]


def test_spark_dialect_matches_reference_port(spark, corpus):
    df = spark.createDataFrame(corpus)
    got = df.withColumn(
        "got", F.coalesce(F.expr(keep_sql("spark", "text")), F.lit(False))
    ).toPandas()
    mism = got[got.expected != got.got]
    assert len(mism) == 0, mism.text.head(10).tolist()


def test_individual_rule_flags_agree_across_dialects(spark, corpus):
    """Each of the 15 rules must fire identically in both dialects."""
    sample = corpus[corpus.text.notna()].head(300)
    con = duckdb.connect()
    con.register("t", sample)
    duck = con.sql(
        "SELECT "
        + ", ".join(
            f"{rule_flag_sql('duckdb', r, 'text')} AS {r}" for r in RULES
        )
        + " FROM t"
    ).df()
    sdf = spark.createDataFrame(sample[["text"]])
    sp = sdf.select(
        *[F.expr(rule_flag_sql("spark", r, "text")).alias(r) for r in RULES]
    ).toPandas()
    for r in RULES:
        assert (duck[r].to_numpy() == sp[r].to_numpy()).all(), r
