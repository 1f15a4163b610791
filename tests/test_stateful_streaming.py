import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.mark.spark
@pytest.mark.slow
def test_running_user_totals_match_batch(spark, tmp_path):
    """The stateful stream's final per-user state equals the batch
    aggregate over the same files."""
    import shutil

    from table_recognition_spark.streaming.ingest import (
        file_stream,
        running_user_totals,
    )

    # file streams need a directory; stage the single events file
    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", events_dir / "events.parquet")

    out = running_user_totals(file_stream(spark, str(events_dir)))
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # last emitted row per user == final running totals
    got = {
        r["user_id"]: (r["n_events"], r["value_c"])
        for r in spark.sql(
            """SELECT * FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id
                          ORDER BY n_events DESC) rn FROM running_totals)
               WHERE rn = 1"""
        ).collect()
    }
    exp = {
        r["user_id"]: (r["n"], r["v"])
        for r in spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("v"),
        )
        .collect()
    }
    assert got == exp


@pytest.mark.spark
@pytest.mark.slow
def test_stream_dedup_exact_first_seen_wins(spark, tmp_path):
    """Incremental exact dedup: within a batch the min-doc_id copy wins;
    across batches the EARLIER batch wins even against a smaller doc_id."""
    import os
    import time as _time

    from table_recognition_spark.streaming.dedup import stream_dedup_exact

    in_dir = tmp_path / "docs_in"
    in_dir.mkdir()

    def write_batch(name, rows, mtime):
        pdf = spark.createDataFrame(rows, "doc_id bigint, text string")
        path = str(tmp_path / f"stage_{name}")
        pdf.coalesce(1).write.parquet(path)
        part = next(
            p for p in os.listdir(path) if p.endswith(".parquet")
        )
        dst = str(in_dir / f"{name}.parquet")
        os.rename(os.path.join(path, part), dst)
        os.utime(dst, (mtime, mtime))

    t0 = _time.time() - 100
    # batch a: 12 is a whitespace-variant dup of 10 → min doc_id 10 wins
    write_batch("a", [(10, "alpha beta"), (11, "gamma"),
                      (12, " alpha   beta ")], t0)
    # batch b: 5 dups batch-a's "alpha beta" with a SMALLER id → dropped
    write_batch("b", [(5, "Alpha Beta"), (13, "delta")], t0 + 10)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(str(in_dir))
    )
    q = (
        stream_dedup_exact(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("stream_dedup")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        r["doc_id"]: r["n_chars"]
        for r in spark.sql("SELECT * FROM stream_dedup").collect()
    }
    assert got == {10: 10, 11: 5, 13: 5}
