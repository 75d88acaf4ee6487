"""read_jdbc option plumbing, column guard, the two-phase surrogate key,
and the session's shuffle-partition sizing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from e_commerce_data_warehouse_recommendation_system_spark.operators.relational import (
    select_or_default,
    surrogate_key,
)
from e_commerce_data_warehouse_recommendation_system_spark.session import get_spark
from e_commerce_data_warehouse_recommendation_system_spark.sources.readers import (
    prepare,
    read_jdbc,
)
from tests.conftest import SF0001


def test_read_jdbc_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError, match="lower_bound"):
        read_jdbc(spark, "jdbc:postgresql://x/db", "t", partition_column="id")


def test_shuffle_partitions_follow_session_cores(spark):
    """Every query's preamble (``prepare``) and ``get_spark`` set one
    shuffle partition per core of the session, overriding whatever the
    session held before, e.g. a host session's 32."""
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    prepare(spark, SF0001)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cores
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert get_spark(app_name="ecomdw-tests", master="local[4]") is spark
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == cores


def test_select_or_default_existing_and_missing(spark):
    df = spark.createDataFrame([(1, "a")], schema="k int, v string")
    out = select_or_default(df, "v", "dflt", alias="v2")
    out = select_or_default(out, "missing", "dflt", alias="m")
    (row,) = out.collect()
    assert (row.v2, row.m) == ("a", "dflt")


def test_surrogate_key_matches_global_row_number(spark):
    # 1000 shuffled keys across 8 partitions; two-phase result must equal
    # ROW_NUMBER() OVER (ORDER BY k) exactly.
    keys = [(k,) for k in range(5000, 6000)]
    df = spark.createDataFrame(keys, schema="k bigint").repartition(8)
    got = {
        r.k: r.sk for r in surrogate_key(df, "k", "sk", buckets=8).collect()
    }
    expected = {
        r.k: r.sk
        for r in df.select(
            "k", F.row_number().over(Window.orderBy("k")).alias("sk")
        ).collect()
    }
    assert got == expected
