import pytest
from pyspark.sql import functions as F

from table_recognition_spark.streaming.ingest import file_stream

SF = "/root/testdata/sf0.001"


@pytest.mark.spark
@pytest.mark.slow
def test_stream_sessions_equals_batch(spark, tmp_path):
    """Native session_window streaming sessionization: once the watermark
    passes every real event (driven by a far-future sentinel), the
    append-mode output must equal the batch session_window plan."""
    import shutil

    from table_recognition_spark.streaming.ingest import stream_sessions

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", events_dir / "e0.parquet")

    stream = stream_sessions(file_stream(spark, str(events_dir)))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .start()
    )
    q.processAllAvailable()
    # Two staggered far-future sentinels: the watermark only advances at
    # the END of a batch, so closing the session that contains max(ts)
    # needs one more data-carrying batch after the first sentinel (the
    # flush batch isn't guaranteed under processAllAvailable). Sentinel
    # sessions stay open and never emit; they're filtered by user_id.
    # The file source only lists top-level files, so the sentinel must be
    # a plain parquet FILE (pyarrow), not a df.write.parquet directory.
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    ev = spark.read.parquet(f"{SF}/events.parquet")
    max_ts = ev.agg(F.max("ts")).first()[0]
    for i, days in enumerate((10, 20), start=1):
        tbl = pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": pa.array(
                    [max_ts + datetime.timedelta(days=days)],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["sentinel"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array([""], pa.string()),
            }
        )
        pq.write_table(tbl, str(events_dir / f"e{i}.parquet"))
        q.processAllAvailable()
    q.stop()

    got = {
        tuple(r)
        for r in spark.sql(
            "SELECT * FROM sessions_out WHERE user_id >= 0"
        ).collect()
    }
    exp = {
        tuple(r)
        for r in ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_c"),
        )
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "value_c",
        )
        .collect()
    }
    assert got == exp and got


@pytest.mark.spark
def test_stream_range_join_equals_batch(spark, tmp_path):
    """The stream-stream range join must emit exactly the batch join's
    (purchase, view_ts) match set — inner-join matches emit without any
    watermark flush, so a bounded drive needs no sentinel."""
    import shutil

    from table_recognition_spark.streaming.ingest import (
        stream_view_purchase_join,
    )

    events_dir = tmp_path / "events_rj"
    events_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", events_dir / "e0.parquet")

    stream = stream_view_purchase_join(file_stream(spark, str(events_dir)))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("rj_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {tuple(r) for r in spark.sql("SELECT * FROM rj_out").collect()}

    ev = spark.read.parquet(f"{SF}/events.parquet")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    exp = {
        tuple(r)
        for r in p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("ts") - F.expr("interval 30 minutes"))
            & (F.col("v_ts") < F.col("ts")),
        )
        .select(
            "event_id",
            F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        )
        .collect()
    }
    assert got == exp
    assert len(got) > 0


@pytest.mark.spark
def test_stream_hll_registers_equal_batch_sketch(spark, tmp_path):
    """HLL registers are max-mergeable, so the streaming per-(day, reg)
    running max — folded with the integer estimate formula — must equal
    the batch sketch_hll_users_daily output bit-for-bit."""
    import shutil

    from table_recognition_spark.operators.sketch import (
        M_REGISTERS,
        RHO_BITS,
        ALPHA_MILLI,
        hll_users_daily,
    )
    from table_recognition_spark.streaming.ingest import (
        stream_hll_users_daily_registers,
    )

    events_dir = tmp_path / "events_hll"
    events_dir.mkdir()
    shutil.copy(f"{SF}/events.parquet", events_dir / "e0.parquet")

    stream = stream_hll_users_daily_registers(
        file_stream(spark, str(events_dir))
    )
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("hll_regs")
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # fold: last emission per (day, reg) is the running max = final state
    regs = {}
    for r in spark.sql("SELECT * FROM hll_regs").collect():
        regs[(r["day"], r["reg"])] = r["rho"]
    per_day = {}
    for (day, _), rho in regs.items():
        per_day.setdefault(day, []).append(rho)
    est_num = ALPHA_MILLI * M_REGISTERS * M_REGISTERS * (1 << (RHO_BITS + 1))
    got = {}
    for day, rhos in per_day.items():
        s_inv = sum(1 << (RHO_BITS + 1 - rho) for rho in rhos) + (
            M_REGISTERS - len(rhos)
        ) * (1 << (RHO_BITS + 1))
        got[day] = (s_inv, M_REGISTERS - len(rhos), est_num // s_inv)

    exp = {
        r["day"]: (r["s_inv"], r["zero_regs"], r["est_milli"])
        for r in hll_users_daily(spark, SF).collect()
    }
    assert got == exp
    assert len(got) > 1
