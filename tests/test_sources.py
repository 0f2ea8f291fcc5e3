"""Scheme-dispatched load_table: format inference over tables written
with ``df.write``, and clear gated errors for connectors whose
jars/network are absent in this sandbox."""

from __future__ import annotations

import pandas as pd
import pytest

from dataflow_mm_lrt_spark.sources import load_table


@pytest.fixture(scope="module")
def small(spark):
    return spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "name": ["a", "b", "c"]})
    )


@pytest.mark.parametrize("ext", ["parquet", "csv", "json"])
def test_roundtrip_by_extension(spark, small, tmp_path, ext):
    p = str(tmp_path / f"t.{ext}")
    small.write.format(ext).mode("overwrite").option("header", "true").save(p)
    back = load_table(spark, p)
    got = back.orderBy("id").toPandas()
    assert list(got["id"]) == [1, 2, 3]
    assert list(got["name"]) == ["a", "b", "c"]


def test_partitioned_save(spark, small, tmp_path):
    p = str(tmp_path / "part.parquet")
    small.write.mode("overwrite").partitionBy("name").parquet(p)
    back = load_table(spark, p)
    assert back.count() == 3
    assert set(back.columns) == {"id", "name"}


def test_iceberg_gated_with_clear_error(spark):
    with pytest.raises(RuntimeError, match="Iceberg runtime jar"):
        load_table(spark, "iceberg:local.db.t")


def test_jdbc_requires_table_option(spark):
    with pytest.raises(ValueError, match="dbtable"):
        load_table(spark, "jdbc:clickhouse://host:8123/db")


def test_hub_uris_name_the_local_alternative(spark):
    with pytest.raises(RuntimeError, match="local path"):
        load_table(spark, "hf:Open-Dataflow/dataflow-demo")
