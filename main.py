#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline.

    spark-submit --py-files trs.zip main.py \
        --docs /path/docs.parquet --media /path/media.parquet \
        --out /path/out --chunks 64 [--parallelism N] [--no-resume]

On a cluster, omit --parallelism and set master/executors via
spark-submit; locally it builds local[N]. The run is checkpointed per
doc-hash chunk (lineage + docs/sec in out/_progress). By default it
resumes: committed chunks are skipped, and a run whose inputs, weights
or --chunks differ from the committed ones refuses to start.
--no-resume removes --out first and recomputes everything.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    # reference-compatible mode CLI (--train/--infer/--data-preparation,
    # table_recognition.py:21-45) takes precedence when a mode flag is
    # present; otherwise the spark-submit extraction contract below
    if any(
        f in sys.argv for f in ("--train", "--infer", "--data-preparation")
    ):
        from table_recognition_spark.cli import add_mode_arguments, run_mode

        mp = argparse.ArgumentParser("table_recognition_spark")
        add_mode_arguments(mp)
        raise SystemExit(run_mode(mp.parse_args()))

    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="docs parquet path")
    ap.add_argument("--media", required=True, help="media parquet path")
    ap.add_argument("--out", required=True, help="output directory")
    ap.add_argument("--chunks", type=int, default=64)
    ap.add_argument("--parallelism", type=int, default=None)
    ap.add_argument(
        "--weights",
        default=None,
        help="weights npz, G2 or G3: its arrays pick the model",
    )
    ap.add_argument(
        "--no-resume",
        action="store_true",
        help="remove the output directory and recompute everything",
    )
    args = ap.parse_args()

    from table_recognition_spark.core import gnn
    from table_recognition_spark.pipeline.checkpoint import CheckpointedExtract
    from table_recognition_spark.session import get_spark

    weights = (
        gnn.load_weights(args.weights) if args.weights
        else gnn.default_weights()
    )

    spark = get_spark("extract", parallelism=args.parallelism)
    docs = spark.read.parquet(args.docs)
    media = spark.read.parquet(args.media)

    if args.no_resume:
        import shutil

        shutil.rmtree(args.out, ignore_errors=True)
    ck = CheckpointedExtract(args.out, n_chunks=args.chunks)

    ran = ck.run(spark, docs, media, weights)
    prog = ck.read_progress(spark)
    prog.orderBy("chunk").show(truncate=False)
    print(f"chunks run this invocation: {ran}")
    spark.stop()


if __name__ == "__main__":
    main()
