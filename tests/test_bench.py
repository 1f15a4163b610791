"""bench.py times the whole result, not what count() leaves of it."""

import pytest
from pyspark.sql import functions as F

import bench


def test_timer_evaluates_columns_count_prunes(spark):
    @F.udf("long")
    def boom(x):
        raise ValueError("column evaluated")

    df = spark.range(10).withColumn("boom", boom("id"))
    # count() never evaluates the column: Catalyst prunes it
    assert df.count() == 10
    with pytest.raises(Exception, match="column evaluated"):
        bench._time_query(spark, lambda s, sf_dir: df, sf_dir=None)
