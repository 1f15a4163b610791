"""Phase-level profile of the scaling bench job at one parallelism level.

Usage: taskset -c 0-15 python scripts/profile_scaling.py 16
Times each pipeline phase separately to find non-core-scaling costs.
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

n = int(sys.argv[1])
corpus = sys.argv[2] if len(sys.argv) > 2 else (
    "BENCH/data/corpus_80000_40000_s42"
)

from pyspark.sql import functions as F

from table_recognition_spark.core import boilerplate, gnn
from table_recognition_spark.pipeline.extract import (
    _all_spans, extract_flat, recognize_tables,
)
from table_recognition_spark.session import get_spark

w = gnn.load_weights("weights/g2_seed42.npz")
spark = get_spark(f"profile_{n}", parallelism=n,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})

d = spark.read.parquet(os.path.join(corpus, "docs.parquet"))
m = spark.read.parquet(os.path.join(corpus, "media.parquet"))

# warmup like bench.py
extract_flat(d.limit(2048), m, w, strategy="visibility").count()

def t(label, fn):
    t0 = time.time()
    r = fn()
    dt = time.time() - t0
    print(f"PHASE {label}: {dt:.2f}s (result {r})", flush=True)
    return dt

spans = d.select("doc_id", F.explode("spans").alias("s")).select(
    "doc_id",
    F.col("s.kind").alias("kind"),
    F.col("s.text").alias("text"),
    F.col("s.media_ref").alias("media_ref"),
    F.col("s.offset").alias("orig_offset"),
)
media_spans = spans.filter(F.col("kind") == "media").select(
    "doc_id", "orig_offset", "media_ref")
refs = media_spans.select("media_ref").distinct()
kernel_input = refs.join(
    m.select("media_ref", "ocr_lines", "width", "height"), "media_ref")

t("scan_docs_count", lambda: d.count())
t("explode_spans", lambda: spans.count())
t("distinct_refs", lambda: refs.count())
t("kernel_only", lambda: recognize_tables(
    kernel_input, w, strategy="visibility").count())
t("text_strip_only", lambda: spans.filter(F.col("kind") == "text").select(
    boilerplate.spark_strip_expr(F.col("text"))).count())
t("all_spans_union", lambda: _all_spans(
    d, m, w, strategy="visibility").count())
t("full_extract_flat", lambda: extract_flat(
    d, m, w, strategy="visibility").count())
spark.stop()
