"""Structured Streaming ingestion paths.

The reference is pure batch (SURVEY.md §2.9) and the north rule requires
resumability rather than streaming — that lives in pipeline/checkpoint.py.
These streams exist for continuous ingestion of new table partitions.

Operators — each takes a stream DataFrame (``file_stream`` reads one):

- ``stream_sessions``: native session windows (the streaming analogue of
  the batch ``rel_events_sessions``).
- ``stream_view_purchase_join``: watermarked stream-stream range join
  (state bounded by watermark + window on both sides).
- ``stream_hll_users_daily_registers``: streaming HLL register maxes
  (the max-merge property is what makes the sketch streamable).
- ``running_user_totals``: update-mode per-user running totals.
- ``streaming/dedup.py::stream_dedup_exact``: exact first-seen dedup
  state via ``applyInPandasWithState``.

Drives — each replays a fixture table through one operator as two
micro-batches (``_drive_two_batch_stream``) under a DuckDB oracle:
``stream_events_sessions``, ``stream_attribution_join``,
``stream_dedup_first_seen``, ``stream_user_totals`` and
``stream_hll_users_daily``.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.common import cents, load

_EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def file_stream(
    spark: SparkSession, path: str, schema: str = _EVENTS_SCHEMA
) -> DataFrame:
    """Parquet file stream over the top-level files of ``path``, one file
    per micro-batch in mtime order; the events table's schema unless
    ``schema`` names another."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(path)
    )


def _value_c():
    return F.sum(cents(F.col("value"))).alias("value_c")


def stream_sessions(ev: DataFrame) -> DataFrame:
    """Watermarked session-window aggregation (the streaming analogue of
    the batch ``rel_events_sessions`` lag/cumsum sessionization): Spark's
    native ``session_window`` merges per-user event runs whose gaps are
    under 30 minutes and emits each session once its window closes past
    the watermark (append mode — exactly-once per session).

    Scale shape: session state is hash-partitioned by user_id; state per
    key is one open interval, not the event history."""
    return (
        ev.withWatermark("ts", "0 seconds")
        .groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), _value_c())
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
    )


def stream_view_purchase_join(ev: DataFrame) -> DataFrame:
    """Watermarked stream-stream range join — the streaming analogue of
    the batch ``rel_range_join_attribution``: every purchase is matched
    to the same user's view events in the preceding 30 minutes, emitting
    one (purchase event_id, view ts) row per match.

    The time-range condition bounds BOTH sides' join state: Spark keeps
    a view only until the 1-hour watermark guarantees no future purchase
    can reach back to it (view_ts >= purchase_ts - 30 min), and a
    purchase only while in-window views may still arrive — so state is
    O(events inside watermark + window), never the stream history.
    Inner-join matches emit as they are found (append mode); the
    watermark exists purely for state eviction, which is why a bounded
    file-stream drive needs no flush sentinel.

    Scale shape: the join state is hash-partitioned by user_id on both
    sides — the streaming twin of the batch rewrite's (user_id, bucket)
    equi-join shuffle."""
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts")
        .withWatermark("ts", "1 hour")
    )
    return (
        purchases.join(
            views,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("ts") - F.expr("interval 30 minutes"))
            & (F.col("v_ts") < F.col("ts")),
        )
        .select(
            "event_id",
            F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        )
    )


def stream_hll_users_daily_registers(ev: DataFrame) -> DataFrame:
    """Streaming per-day distinct-user HLL — the register stream behind
    the batch ``sketch_hll_users_daily``: (day, register, running max
    rho). HLL registers are max-mergeable, which is exactly what makes
    the sketch streamable: the stateful aggregation keeps ONE integer
    per (day, register) key — 64 longs per day, not the user set — and
    an incremental max over micro-batches is bit-identical to the batch
    max over the full table. The same md5/register/rho arithmetic as
    the batch operator (operators/sketch.py), so finalizing the emitted
    registers with the integer estimate formula reproduces the batch
    sketch exactly (pinned by tests/test_streaming.py).

    Update output mode: each micro-batch re-emits the keys it touched;
    the last emission per key is the final register state."""
    from ..operators.sketch import M_REGISTERS, _rho_case_sql

    hashed = ev.withWatermark("ts", "0 seconds").select(
        F.window("ts", "1 day").alias("w"),
        F.md5(F.col("user_id").cast("string")).alias("h"),
    ).select(
        F.date_format("w.start", "yyyy-MM-dd").alias("day"),
        F.col("w"),
        (F.conv(F.substring("h", 1, 2), 16, 10).cast("long") % M_REGISTERS)
        .alias("reg"),
        F.conv(F.substring("h", 3, 4), 16, 10).cast("long").alias("v"),
    )
    return hashed.groupBy("day", "w", "reg").agg(
        F.max(F.expr(_rho_case_sql("v"))).alias("rho")
    ).select("day", "reg", "rho")


def running_user_totals(ev: DataFrame) -> DataFrame:
    """Per-user running event count and value total (integer cents,
    exact). A native streaming aggregation: state is one (count, sum)
    pair per user, and in update mode each micro-batch re-emits the
    running totals of the users it touched."""
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"), _value_c()
    )


# --- bounded oracle-gated drives ---------------------------------------
# Each drive below replays a fixture table through a real file stream
# as TWO deterministic micro-batches (one staged file per batch, strictly
# increasing mtimes) and returns the final result, so the
# rows+schema+hash DuckDB gate covers the STATEFUL cross-batch path of
# every streaming operator — state carried between batches, watermark
# advancement, update-mode re-emission — not just the single-batch plan.
# The staging order is chosen per operator so the streamed result
# provably equals a batch-relational oracle (see each docstring); the
# order-SENSITIVE behaviors (a later batch never overrides first-seen
# state even with a smaller doc_id) stay pinned by
# tests/test_stateful_streaming.py, which stages adversarial batch
# contents the relational oracle could not express.


def _stage_batches(*parts: pd.DataFrame) -> str:
    """Write each frame of ``parts`` as its own parquet file, with
    increasing mtimes: a deterministic one-micro-batch-per-file replay
    for ``file_stream``. Driver-side staging of a bounded fixture — the
    operators under test never touch pandas."""
    src = tempfile.mkdtemp(prefix="trs_stream_src_")
    now = time.time()
    for i, part in enumerate(parts):
        p = os.path.join(src, f"b{i}.parquet")
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            p,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
        os.utime(p, (now + 10 * i, now + 10 * i))
    return src


def _stage_two_batches(df: DataFrame, sort_cols) -> str:
    """Stage ``df`` as two micro-batches: its first and second half in
    ``sort_cols`` order."""
    pdf = df.orderBy(*sort_cols).toPandas()
    mid = len(pdf) // 2
    return _stage_batches(pdf.iloc[:mid], pdf.iloc[mid:])


def _ephemeral_checkpoint_dir(name: str) -> str:
    """Checkpoint dir for a bounded test drive: tmpfs when available
    (same rationale as session.py's spark.local.dir — the state store
    writes many small delta/snapshot files per batch plus the
    offset/commit WAL, and this sandbox's disk stalls under small-file
    fsync traffic; measured ~0.3-0.5 s per two-batch drive), else the
    system tmpdir. The caller removes it when the drive completes; a
    production stream points this at durable storage instead."""
    base = (
        "/dev/shm/trs_stream_ckpt"
        if os.path.isdir("/dev/shm")
        else tempfile.gettempdir()
    )
    os.makedirs(base, exist_ok=True)
    return os.path.join(base, name)


def _drive_two_batch_stream(
    spark, builder, src, mode: str, schema: str = _EVENTS_SCHEMA
) -> DataFrame:
    """Run ``builder(file_stream(src))`` over the staged source to
    completion in output ``mode``; returns the memory-sink result.

    The drive leaves the session as it found it: the memory sink's temp
    view is dropped once the returned DataFrame has resolved it (the
    DataFrame keeps the sink's rows), the two confs below are restored,
    and the staged source and the checkpoint are removed.

    - ``spark.sql.shuffle.partitions`` = ``defaultParallelism`` state
      partitions. A drive's per-batch cost is state-store load/commit
      per partition (and, for ``applyInPandasWithState``, the per-group
      Python protocol, serial within a partition), so one partition per
      core is the width. On 4 cores, 4 partitions had a median no worse
      than 8 on every drive, with the same rows (attribution 2.82 vs
      3.17 s, dedup 3.70 vs 3.97 s).
    - ``noDataMicroBatches`` off: no trailing no-data micro-batch, which
      would pay a full state-store load/commit cycle across every
      partition (1.4 s of a 4 s drive). PRECONDITION: ``builder`` emits
      only in data batches and uses no event-time timeouts — an
      operator that needs a watermark-driven final emission or a
      timeout would silently lose it here. Every drive qualifies: the
      stream-stream inner join emits matches as found, the
      ``applyInPandasWithState`` operators use ``NoTimeout``, the
      update-mode aggregations re-emit touched keys per data batch, and
      the sessions drive stages a second sentinel batch to flush its
      sessions. A production continuous stream keeps the default on."""
    name = "stream_gate_" + uuid.uuid4().hex[:8]
    ckpt = _ephemeral_checkpoint_dir(name)
    conf = {
        "spark.sql.shuffle.partitions": str(
            spark.sparkContext.defaultParallelism
        ),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        q = (
            builder(file_stream(spark, src, schema))
            .writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)
        for k, v in prev.items():
            spark.conf.set(k, v)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def stream_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated drive of the streaming sessionizer
    (``stream_sessions``) over the fixture events, flushed by two
    far-future sentinel events (user_id = -1; their sessions stay open
    and never emit). Batch 1 is every event plus sentinel #1: the
    watermark advances at batch END, so after batch 1 it already stands
    at max_ts + 10 d, and batch 2 (sentinel #2, a data batch) emits
    every real session.

    The DuckDB oracle recomputes the same sessions relationally
    (lag-gap sessionization at FULL microsecond precision — Spark's
    ``session_window`` merges an event exactly ``gap`` after its
    predecessor, i.e. a new session iff diff > gap, verified
    empirically; session end = last event + gap). This puts Spark's
    stateful session semantics under the cross-engine hash gate, not
    just pytest."""
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet")).to_pandas()

    def sentinel(days: int) -> pd.DataFrame:
        return pd.DataFrame({
            "event_id": [-1],
            "ts": [ev["ts"].max() + pd.Timedelta(days=days)],
            "user_id": [-1],
            "event_type": ["sentinel"],
            "value": [0.0],
            "props": [""],
        })

    src = _stage_batches(pd.concat([ev, sentinel(10)]), sentinel(20))
    out = _drive_two_batch_stream(spark, stream_sessions, src, "append")
    # (user_id, session_start) is a unique sort key: two sessions of
    # one user are by construction > gap apart
    return out.filter(F.col("user_id") >= 0).orderBy(
        "user_id", "session_start"
    )


STREAM_SESSIONS_SQL = """
WITH g AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
sess AS (
  SELECT user_id, min(ts) AS mn, max(ts) AS mx,
         count(*) AS n_events,
         CAST(sum(cast(round(value*100) as bigint)) AS BIGINT) AS value_c
  FROM s GROUP BY user_id, sid
)
SELECT user_id,
       strftime(mn, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(mx + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
           AS session_end,
       n_events, value_c
FROM sess ORDER BY user_id, session_start
"""


def stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated drive of the watermarked stream-stream range join
    (``stream_view_purchase_join``): every purchase matched to the same
    user's views in the preceding 30 minutes, streamed as two
    ts-ordered micro-batches.

    Why the ts-ordered split makes the streamed result equal the batch
    join (the DuckDB oracle): with batch 1 = earlier half by ts, every
    view a batch-2 purchase needs (v_ts > p_ts - 30min ≥ split - 30min)
    is either in batch 2 or still in state — view state evicts only
    once the watermark passes v_ts + 30min, and after batch 1 the
    watermark stands at split - 1h < v_ts + 30min. Symmetrically no
    batch-2 row is late (all ts ≥ split ≥ watermark). Inner matches
    emit as found; no flush sentinel needed."""
    src = _stage_two_batches(
        load(spark, sf_dir, "events"), ["ts", "event_id"]
    )
    out = _drive_two_batch_stream(
        spark, stream_view_purchase_join, src, "append"
    )
    return out.orderBy("event_id", "view_ts")


STREAM_ATTRIBUTION_SQL = """
SELECT p.event_id AS event_id,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts
FROM events p JOIN events v
  ON v.user_id = p.user_id
 AND v.ts >= p.ts - INTERVAL 30 MINUTE
 AND v.ts < p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
ORDER BY 1, 2
"""


def stream_dedup_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated drive of the incremental exact dedup
    (``stream_dedup_exact``): the planted-duplicate corpus (same plant
    as the batch dedup queries) streamed as two doc_id-ordered
    micro-batches — every planted exact copy (doc_id + 100000) arrives
    in the same batch as, or a later batch than, its original, so
    first-seen ≡ min(doc_id) per fingerprint and the batch-2 copies of
    batch-1 originals exercise the cross-batch ``state.exists`` drop
    path under the hash gate."""
    from ..operators.dedup import _with_planted_dups
    from .dedup import stream_dedup_exact

    docs = _with_planted_dups(load(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    src = _stage_two_batches(docs, ["doc_id"])
    out = _drive_two_batch_stream(
        spark, stream_dedup_exact, src, "append", "doc_id bigint, text string"
    )
    return out.orderBy("fingerprint")


def _stream_dedup_sql() -> str:
    from ..operators.common import NORM_SQL
    from ..operators.dedup import _PLANTED_SQL

    norm = NORM_SQL.format(c="text")
    return f"""
    SELECT md5({norm}) AS fingerprint, doc_id,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM (SELECT doc_id, text,
                 row_number() OVER (
                     PARTITION BY md5({norm}) ORDER BY doc_id) AS rn
          FROM {_PLANTED_SQL})
    WHERE rn = 1 ORDER BY fingerprint
    """


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated drive of ``running_user_totals``: two micro-batches
    of events, final state per user = the batch aggregate. n_events is
    strictly increasing per user across batches and value_c is
    NON-DECREASING (round(value*100) can be 0; the fixture plants no
    negative values — asserted below so a future fixture can't silently
    corrupt the max()-reconstruction), so the final row is max() of the
    update-mode emissions — no window needed (ADVICE r6)."""
    ev = load(spark, sf_dir, "events")
    # guard for the max()-reconstruction above: a negative value would
    # make value_c non-monotone across batches and silently corrupt the
    # gate instead of failing it
    assert ev.filter(F.col("value") < 0).isEmpty(), (
        "stream_user_totals requires non-negative event values"
    )
    src = _stage_two_batches(ev, ["ts", "event_id"])
    out = _drive_two_batch_stream(spark, running_user_totals, src, "update")
    return (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"),
             F.max("value_c").alias("value_c"))
        .orderBy("user_id")
    )


STREAM_TOTALS_SQL = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_c
FROM events GROUP BY user_id ORDER BY user_id
"""


def stream_hll_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-gated drive of the streaming per-day HLL register stream:
    two ts-ordered micro-batches, update-mode emissions max-merged per
    (day, register) and finalized with the SAME code as the batch
    sketch (operators/sketch.py::finalize_daily_registers) — the
    incremental register maxes are bit-equal to the batch sketch, so
    the oracle IS the batch query's SQL."""
    from ..operators.sketch import finalize_daily_registers

    src = _stage_two_batches(
        load(spark, sf_dir, "events"), ["ts", "event_id"]
    )
    out = _drive_two_batch_stream(
        spark, stream_hll_users_daily_registers, src, "update"
    )
    regs = out.groupBy("day", "reg").agg(F.max("rho").alias("rho"))
    return finalize_daily_registers(regs, load(spark, sf_dir, "events"))


def _oracles() -> dict:
    from ..operators.sketch import hll_users_daily_sql

    return {
        "stream_events_sessions": STREAM_SESSIONS_SQL,
        "stream_attribution_join": STREAM_ATTRIBUTION_SQL,
        "stream_dedup_first_seen": _stream_dedup_sql(),
        "stream_user_totals": STREAM_TOTALS_SQL,
        "stream_hll_users_daily": hll_users_daily_sql(),
    }


QUERIES = {
    "stream_events_sessions": stream_events_sessions,
    "stream_attribution_join": stream_attribution_join,
    "stream_dedup_first_seen": stream_dedup_first_seen,
    "stream_user_totals": stream_user_totals,
    "stream_hll_users_daily": stream_hll_users_daily,
}
ORACLES = _oracles()
