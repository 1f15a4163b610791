"""Range-layout write: row-group statistics must actually prune.

The same rows written in arrival order vs range-clustered order; a
selective n_chars range predicate must be able to skip most row groups
of the laid-out table (footer metadata only) while skipping ~nothing on
the arrival-order write — the write-side half of predicate pushdown.
"""

import pytest
from pyspark.sql import functions as F

from fixture_writers import write_range_layout
from table_recognition_spark.operators.common import load
from table_recognition_spark.operators.layout import rowgroup_prune_stats

SF = "/root/testdata/sf0.001"


@pytest.mark.spark
def test_range_layout_prunes_rowgroups(spark, tmp_path):
    docs = load(spark, SF, "documents")
    lo_q, hi_q = docs.approxQuantile("n_chars", [0.4, 0.5], 0.0)
    lo, hi = int(lo_q), int(hi_q)

    plain = str(tmp_path / "plain")
    laid = str(tmp_path / "laid")
    # arrival order, same file count as the layout for a fair contrast
    docs.repartition(8).write.parquet(plain)
    write_range_layout(docs, laid, ["n_chars", "doc_id"], n_files=8)

    s_plain = rowgroup_prune_stats(plain, "n_chars", lo, hi)
    s_laid = rowgroup_prune_stats(laid, "n_chars", lo, hi)

    # arrival order: every row group spans the domain -> nothing prunes
    assert s_plain["matching"] == s_plain["total"]
    # range layout: a ~10%-selectivity predicate touches a minority
    assert s_laid["total"] >= 8
    assert s_laid["matching"] * 2 <= s_laid["total"], s_laid

    # correctness: the laid-out table is the same multiset of rows
    a = spark.read.parquet(laid)
    assert a.count() == docs.count()
    assert (
        a.agg(F.sum(F.crc32(F.col("doc_id").cast("string")))).first()[0]
        == docs.agg(
            F.sum(F.crc32(F.col("doc_id").cast("string")))
        ).first()[0]
    )
    # and the filtered scans agree
    got = a.filter(F.col("n_chars").between(lo, hi)).count()
    exp = docs.filter(F.col("n_chars").between(lo, hi)).count()
    assert got == exp


@pytest.mark.spark
def test_layout_prune_stats_query_prunes_and_pins_rowgroups(spark):
    """The driver-gated layout query must (a) show real pruning — the
    3/16-of-domain predicate touches a strict minority of row groups —
    and (b) satisfy the oracle's one-row-group-per-bucket-file
    assumption (rowgroups_total == files_total), which the DuckDB SQL
    mirror silently relies on."""
    from table_recognition_spark.operators.layout import layout_prune_stats

    r = layout_prune_stats(spark, SF).first()
    assert r.rowgroups_total == r.files_total, r
    assert r.files_total == 8, r
    assert r.rowgroups_matching * 2 <= r.rowgroups_total, r
    assert 0 < r.rows_selected < r.rows_total, r


@pytest.mark.spark
def test_partitionby_write_prunes_directories(spark, tmp_path):
    """Hive-style partitioned write: a lang filter must become a
    PartitionFilter (metadata-only directory pruning — zero data files
    of other partitions opened), the coarser sibling of the row-group
    pruning above."""
    docs = load(spark, SF, "documents")
    out = str(tmp_path / "by_lang")
    docs.write.partitionBy("lang").parquet(out)

    df = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    scan = next(b for b in plan.split("\n\n") if "ReadSchema" in b)
    assert "PartitionFilters" in scan and "lang" in scan, scan
    # equality with the unpartitioned filter
    assert df.count() == docs.filter(F.col("lang") == "en").count()
