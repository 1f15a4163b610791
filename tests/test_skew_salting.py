import pytest
from pyspark.sql import functions as F

from table_recognition_spark.pipeline.skew import salt_join, with_salt


@pytest.mark.spark
def test_salted_partials_spread_hot_key(spark):
    # a hot key with varying payload (the realistic shape) spreads
    # across all 8 salted reducers
    df = spark.range(5000).select(
        F.lit("hot").alias("k"), F.col("id").alias("v")
    )
    partial = (
        with_salt(df, "k", 8).groupBy("k", "_salt").agg(F.count(F.lit(1)))
    )
    assert partial.count() == 8


@pytest.mark.spark
def test_salt_join_matches_plain_join(spark):
    big = spark.range(3000).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(
            F.concat(F.lit("k"), "id")
        ).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [("hot", 1), ("k5", 2), ("k15", 3)], "k string, w int"
    )
    got = sorted(
        (r["k"], r["v"], r["w"])
        for r in salt_join(big, small, "k", 4).collect()
    )
    exp = sorted(
        (r["k"], r["v"], r["w"]) for r in big.join(small, "k").collect()
    )
    assert got == exp


@pytest.mark.spark
def test_salt_is_deterministic(spark):
    df = spark.range(100).select(F.concat(F.lit("k"), "id").alias("k"))
    a = {r["k"]: r["_salt"] for r in with_salt(df, "k", 8).collect()}
    b = {r["k"]: r["_salt"] for r in with_salt(df, "k", 8).collect()}
    assert a == b  # resumable runs repartition identically
