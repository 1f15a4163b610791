#!/usr/bin/env python
"""Phase breakdowns for two composite queries, at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on the session's host defaults.

Usage:
  python bench_extra.py bpe        # vocab / pair counts / merge loop
  python bench_extra.py pagerank   # edge build vs iteration loop

Per-query suite timings: ``bench.py [NAME ...]``; flagship layers:
``perfbench/run.py --trace 1``.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark(app="bench_extra"):
    from table_recognition_spark.session import get_spark

    return get_spark(app, extra_conf={"spark.ui.showConsoleProgress": "false"})


def _warm(spark):
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(f"{SF}/{t}.parquet").count()


def timed(label, fn, repeats=3):
    times = []
    for _ in range(repeats):
        t0 = time.time()
        fn()
        times.append(round(time.time() - t0, 3))
    print(f"{label:46s} min={min(times):7.3f}  all={times}", flush=True)
    return min(times)


def cmd_bpe():
    from pyspark.sql import functions as F

    from table_recognition_spark.operators.bpe import (
        N_MERGES, learn_merges, word_vocab,
    )
    from table_recognition_spark.operators.common import load

    spark = _spark("bx_bpe")
    _warm(spark)
    docs = load(spark, SF, "documents")
    timed("word_vocab (count)", lambda: word_vocab(docs).count(), 2)
    v = word_vocab(docs)
    print("vocab rows:", v.count(), flush=True)
    pc = (
        v.select(F.col("cnt"), F.explode(
            F.expr("zip_with(slice(syms,1,size(syms)-1), slice(syms,2,size(syms)-1), (a,b)->struct(a,b))")
        ).alias("p"))
        .groupBy("p.a", "p.b").agg(F.sum("cnt").alias("c"))
    )
    print("pair rows:", pc.count(), flush=True)

    t0 = time.time()
    learn_merges(docs, N_MERGES).collect()
    print(f"learn_merges total: {time.time() - t0:.3f}", flush=True)
    spark.stop()


def cmd_pagerank():
    from pyspark.sql import functions as F

    from table_recognition_spark.operators.common import load
    from table_recognition_spark.operators.graph import (
        copurchase_edges, pagerank,
    )

    spark = _spark("bx_pagerank")
    _warm(spark)
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey")

    def build():
        prev = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            return (
                copurchase_edges(li)
                .repartition(spark.sparkContext.defaultParallelism, "src")
                .localCheckpoint()
            )
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", prev)

    timed("edge build + checkpoint", lambda: build(), 3)
    edges = build()
    print("edges:", edges.count(), flush=True)
    timed("5-iter loop + orderBy (count)",
          lambda: pagerank(edges).orderBy("node").count(), 3)
    spark.stop()


if __name__ == "__main__":
    {"bpe": cmd_bpe, "pagerank": cmd_pagerank}[sys.argv[1]]()
