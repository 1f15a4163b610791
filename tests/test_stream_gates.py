"""The two-micro-batch replay harness behind the stream_* driver gates.

The DuckDB mirror proves the streamed RESULTS match the relational
oracles; these tests pin the harness property that makes those gates
meaningful — the staged source really replays as TWO micro-batches, so
the cross-batch state path (not just a single-batch plan) is what the
hash gate exercises.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from table_recognition_spark.operators.common import load
from table_recognition_spark.streaming.ingest import (
    _drive_two_batch_stream,
    _ephemeral_checkpoint_dir,
    _stage_two_batches,
    running_user_totals,
)

SF = "/root/testdata/sf0.001"


def test_staging_writes_two_ordered_files(spark):
    src = _stage_two_batches(load(spark, SF, "events"), ["ts", "event_id"])
    try:
        files = sorted(os.listdir(src))
        assert files == ["b0.parquet", "b1.parquet"]
        m0 = os.path.getmtime(os.path.join(src, "b0.parquet"))
        m1 = os.path.getmtime(os.path.join(src, "b1.parquet"))
        assert m1 > m0  # file-stream replay order is mtime order
        b0 = spark.read.parquet(os.path.join(src, "b0.parquet"))
        b1 = spark.read.parquet(os.path.join(src, "b1.parquet"))
        n = load(spark, SF, "events").count()
        assert b0.count() == n // 2 and b0.count() + b1.count() == n
        # ts-ordered split: every batch-1 ts <= every batch-2 ts
        assert (
            b0.agg(F.max("ts")).first()[0]
            <= b1.agg(F.min("ts")).first()[0]
        )
    finally:
        import shutil

        shutil.rmtree(src, ignore_errors=True)


@pytest.mark.slow
def test_drive_executes_two_micro_batches(spark):
    """update-mode ``running_user_totals`` emits one row per user per
    micro-batch the user appears in — so a user active in both halves
    must appear TWICE in the raw memory table. If maxFilesPerTrigger
    ever stopped splitting the replay, this drops to one emission and
    the gate silently degrades to a single-batch check."""
    src = _stage_two_batches(load(spark, SF, "events"), ["ts", "event_id"])
    raw = _drive_two_batch_stream(spark, running_user_totals, src, "update")
    from collections import defaultdict

    emissions = defaultdict(list)
    for r in raw.collect():  # fixture-sized memory table
        emissions[r["user_id"]].append((r["n_events"], r["value_c"]))
    mx = max(len(v) for v in emissions.values())
    assert mx == 2, "no user emitted twice — only one micro-batch ran?"
    # and the totals strictly increase across a user's two emissions
    for v in emissions.values():
        if len(v) == 2:
            lo, hi = sorted(v)
            assert lo[0] < hi[0] and lo[1] < hi[1]


def test_drive_leaves_session_as_found(spark):
    """A drive drops its memory-sink view, restores the confs it sets
    and removes its staged source and checkpoint — while the DataFrame
    it returns still holds every streamed row."""
    confs = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    ckpt_base = os.path.dirname(_ephemeral_checkpoint_dir("probe"))

    def state():
        return (
            {t.name for t in spark.catalog.listTables() if t.isTemporary},
            {k: spark.conf.get(k) for k in confs},
            set(os.listdir(ckpt_base)),
        )

    before = state()
    src = _stage_two_batches(load(spark, SF, "events"), ["ts", "event_id"])
    out = _drive_two_batch_stream(
        spark, lambda ev: ev.select("event_id"), src, "append"
    )
    assert state() == before
    assert not os.path.exists(src)
    assert out.count() == load(spark, SF, "events").count()
