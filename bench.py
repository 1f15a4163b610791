#!/usr/bin/env python
"""Suite timer: the oracled queries through Spark's ``noop`` sink.

Usage:
  python bench.py                   # every query, in registry order
  python bench.py NAME [NAME ...]   # just these queries

Runs at $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on the
session's host defaults (``session.get_spark``). Per query: one untimed
run, then ``REPEATS`` timed runs, the cache cleared before each. A run
builds the query's DataFrame and writes the whole result to the ``noop``
sink: ``count()`` would let Catalyst prune columns, windows and sorts the
result needs (the flagship's boilerplate strip and reassembly window among
them), and skip any column that would raise.

Prints one JSON line: ``value`` is the ``extract_interleaved`` minimum
(null when it was not timed), ``queries`` maps each name to its minimum
and its timed runs. Progress goes to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPEATS = 3


def _time_query(spark, fn, sf_dir) -> list[float]:
    """Seconds of each of ``REPEATS`` timed runs of ``fn(spark, sf_dir)``,
    after one untimed run; every run writes the full result to the noop
    sink."""

    def run() -> float:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    run()
    return [run() for _ in range(REPEATS)]


def main(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as E
    from table_recognition_spark.session import get_spark

    qs = E.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {', '.join(unknown)}")

    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    per_query = {}
    for name in names or list(qs):
        t = _time_query(spark, qs[name], sf_dir)
        per_query[name] = {"min": min(t), "t": t}
        print(f"{name:34s} {min(t):7.3f}  {t}", file=sys.stderr, flush=True)
    cpus = spark.sparkContext.defaultParallelism
    spark.stop()

    flagship = per_query.get("extract_interleaved")
    print(json.dumps({
        "metric": f"extract_interleaved wall-clock, noop sink, min of {REPEATS}",
        "value": flagship["min"] if flagship else None,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": cpus,
        "sink": "noop",
        "queries": per_query,
    }))


if __name__ == "__main__":
    main(sys.argv[1:])
