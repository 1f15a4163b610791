"""Skew handling (SURVEY.md §5.5): a pathological media-heavy document
must not serialize kernel work onto one task. The kernel's unit of work is
the *distinct media_ref*, and kernel input is hash-repartitioned by
media_ref — so a doc referencing 100 images spreads across partitions."""

import pytest
from oracles import spans_by_doc
from pyspark.sql import functions as F

from table_recognition_spark.fixtures.generate import corpus_to_spark, make_corpus


@pytest.mark.spark
def test_kernel_input_balanced_under_skew(spark, weights):
    docs, media, _ = make_corpus(30, 24, seed=11, skew_doc=True)
    docs_df, media_df = corpus_to_spark(spark, docs, media)

    spans = docs_df.select("doc_id", F.explode("spans").alias("s"))
    refs = (
        spans.filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
        .join(media_df.select("media_ref", "ocr_lines", "width", "height"),
              "media_ref")
        .repartition(8, "media_ref")
    )
    counts = (
        refs.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    per_part = [r["count"] for r in counts]
    total = sum(per_part)
    assert total == 24  # distinct refs, not 100+ occurrences
    # no single partition hoards the kernel work
    assert max(per_part) <= max(2 * total // len(per_part) + 1, 6)


@pytest.mark.spark
def test_skew_doc_output_correct(spark, weights):
    """The 100-media-span doc still reassembles correctly (oracle parity
    covers it too; this pins span count and offset density)."""
    from table_recognition_spark.pipeline.extract import extract_flat

    docs, media, _ = make_corpus(5, 8, seed=11, skew_doc=True)
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    out = extract_flat(docs_df, media_df, weights)
    spans = spans_by_doc(out.filter(F.col("doc_id") == "doc_000000"))
    offs = [s[3] for s in spans["doc_000000"]]
    assert offs == list(range(len(offs)))
    assert len(offs) > 100  # 100 media spans, each ≥1 cell


@pytest.mark.spark
def test_salted_join_spreads_hot_key(spark):
    """The salted plan must exchange the fact side on (k, _salt) — the
    hot key lands on n_salts reducers, not one — in the no-broadcast
    regime where salting matters; and the result must equal the plain
    unsalted join."""
    from table_recognition_spark.pipeline import skew

    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = skew.skew_salted_join(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
        assert "hashpartitioning(k" in plan and "_salt" in plan, plan[:2000]
        got = [tuple(r) for r in df.collect()]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf}/events.parquet')"
    )
    exp = con.execute(skew.SKEW_SALTED_JOIN_SQL).fetchall()
    assert got == [tuple(r) for r in exp]
    # the hot key really is hot: ~30% of the fact on k=0
    hot = dict((k, n) for k, n, _ in got)
    assert hot[0] >= 0.25 * sum(hot.values())
