"""Mirror of the driver's correctness gate: every queries() entry with an
oracle must match DuckDB exactly (columns, row count, values) at sf0.001
(sf0.01 is the driver's scale; 0.001 keeps the suite fast — the documents
and embeddings tables are identical at both scales)."""

import pytest

import __spark_entry__ as E
from oracles import compare

SF = "/root/testdata/sf0.001"
# The committed-expected-parquet oracles are materialized at the
# driver's correctness scale, sf0.01 — the documents table DIFFERS
# between sf0.001 and sf0.01 (same row count, different seeded text),
# so the queries they back must be compared at sf0.01. This comparison
# IS the staleness guard for dist/expected/: Spark recomputes live on
# every pytest run while DuckDB replays the committed truth.
SF_EXPECTED = "/root/testdata/sf0.01"

_QUERIES = E.queries()
_ORACLES = E.oracle_sql()


@pytest.mark.spark
@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_query_matches_duckdb(spark, name):
    sf = SF_EXPECTED if name in E.EXPECTED_ORACLE_QUERIES else SF
    ok, detail = compare(_QUERIES[name](spark, sf), _ORACLES[name], sf)
    assert ok, f"{name}: {detail}"


@pytest.mark.spark
def test_oracle_keys_subset_of_queries():
    assert set(_ORACLES) <= set(_QUERIES)


@pytest.mark.spark
def test_rows_only_queries_run(spark):
    for name in sorted(set(_QUERIES) - set(_ORACLES)):
        n = _QUERIES[name](spark, SF).count()
        assert n > 0, f"{name} returned no rows"


@pytest.mark.spark
def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_id", "offset", "kind", "text", "media_ref"}


@pytest.mark.spark
def test_pandas_dot_equals_hof_dot(spark):
    """The Arrow-vectorized scorer must be bit-equal to the Catalyst HOF
    integer dot it replaced in the hot paths."""
    from pyspark.sql import functions as F

    from oracles import hof_dot
    from table_recognition_spark.operators.similarity import (
        _dot_pandas, _quantized,
    )
    from table_recognition_spark.operators.common import load

    q = _quantized(load(spark, SF, "embeddings"))
    pairs = (
        q.select(F.col("vec_id").alias("ia"), F.col("qv").alias("qa"))
        .join(
            q.select(F.col("vec_id").alias("ib"), F.col("qv").alias("qb")),
            F.col("ia") % 37 == F.col("ib") % 37,
        )
        .limit(5000)
    )
    diff = pairs.select(
        (hof_dot("qa", "qb") - _dot_pandas("qa", "qb")).alias("d")
    ).filter(F.col("d") != 0)
    assert diff.count() == 0


@pytest.mark.spark
def test_recall_exhaustive_mode_matches_oracle(spark):
    """sample_pct=100 degenerates the sampled recall eval to the
    exhaustive all-pairs truth (round-3 behavior) — one code path, no
    full-matrix special case."""
    from table_recognition_spark.operators.dedup import (
        dedup_embedding_recall,
        dedup_embedding_recall_sql,
    )

    ok, detail = compare(
        dedup_embedding_recall(spark, SF, sample_pct=100),
        dedup_embedding_recall_sql(sample_pct=100),
        SF,
    )
    assert ok, detail
    row = dedup_embedding_recall(spark, SF, sample_pct=100).collect()[0]
    sampled = dedup_embedding_recall(spark, SF).collect()[0]
    # the sampled truth is a strict subset of the exhaustive truth
    assert 0 < sampled["n_true"] < row["n_true"]
    assert sampled["n_caught"] <= sampled["n_true"]
