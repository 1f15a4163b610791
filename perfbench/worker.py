"""One benchmark run in a fresh process; ``run.py`` starts it.

Writes the run record (host, every iteration's time, digests, metrics) to
``--out`` as JSON. The run: start the session, prepare the seed's inputs
(not counted), set up and warm up, then time full-result iterations for
``--seconds`` seconds, each checked against the oracle's digest.
"""

import time

T_START = time.perf_counter()  # before the heavy imports, which set-up covers

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import proctree  # noqa: E402
from job import Job, Runner, metric  # noqa: E402
from workloads import WEIGHTS, WORKLOADS  # noqa: E402


def host_info() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    import pyspark

    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 2**20, 1),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def driver_mem_gb(mem_gb: float) -> int:
    # a quarter of the host, at most 4g: the corpora are small and the
    # machine may be shared
    return max(1, min(4, int(mem_gb // 4)))


def make_session(cores: int, mem_gb: int):
    from table_recognition_spark.session import get_spark

    work = os.path.join(HERE, ".work")
    return get_spark(
        "perfbench",
        parallelism=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{mem_gb}g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--plant-wrong-digest", action="store_true")
    args = ap.parse_args()
    w = WORKLOADS[args.workload]
    host = host_info()
    mem_gb = driver_mem_gb(host["mem_gb"])
    record = {
        "workload": w.name, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "host": host, "driver_mem_gb": mem_gb,
        "corpus": {"n_docs": w.n_docs, "n_media": w.n_media,
                   "n_chunks": w.n_chunks},
    }

    from table_recognition_spark.core import gnn

    spark = make_session(host["cores"], mem_gb)
    try:
        session_s = time.perf_counter() - T_START
        wpath = os.path.join(ROOT, WEIGHTS)
        prep = corpus.prepare(
            spark, w, args.seed, wpath, os.path.join(HERE, ".work", "corpus")
        )
        expected = dict(prep["expected"]["digest"])
        if args.plant_wrong_digest:
            expected["a"] += 1
        record["prepare"] = {k: prep[k] for k in ("gen_s", "oracle_s")}
        record["expected"] = prep["expected"]

        # set-up proper: weights, corpus open, warm-up (broadcast happens
        # in the first iteration)
        t_setup = time.perf_counter()
        weights = gnn.load_weights(wpath)
        docs = spark.read.parquet(prep["docs_path"])
        media = spark.read.parquet(prep["media_path"])
        job = Job(spark, w, docs, media, weights)
        runner = Runner(job, expected)
        runner.warm_up()
        t_ready = time.perf_counter()
        warmup_s = t_ready - t_setup
        setup_s = session_s + warmup_s

        if args.trace:
            import layers

            metrics, record["traced"] = layers.measure(
                spark, w, runner, docs, media, weights, prep,
                seconds=args.seconds, session_s=session_s, warmup_s=warmup_s,
            )
        else:
            steal0 = proctree.steal_share()
            with proctree.PeakRss(os.getpid()) as rss:
                times = runner.timed(args.seconds)
            steal1 = proctree.steal_share()
            record["timed_steal_share"] = (steal1[0] - steal0[0]) / max(
                1, steal1[1] - steal0[1]
            )
            record["peak_rss_mb_by_command"] = {
                k: v / 2**20 for k, v in rss.peak_by_comm.items()
            }
            # the fastest timed iteration: interference here only slows a
            # job, in patches of 10-20 s that can cover half a run's
            # iterations and move their median
            metrics = {
                "job_s": metric(min(times), "s") if times else None,
                "setup_s": metric(setup_s, "s"),
                "peak_rss_mb": metric(rss.peak / 2**20, "MB"),
            }
        attempted = sum(r["phase"] != "warmup" for r in runner.log)
        failed = sum(r["phase"] != "warmup" and not r["ok"] for r in runner.log)
        correct = all(r["ok"] for r in runner.log)  # warm-up included
        if args.trace:
            correct = correct and layers.counts_match(metrics, prep["expected"])
        if any(m is None or m["value"] is None for m in metrics.values()):
            correct = False
            metrics = {k: m for k, m in metrics.items()
                       if m is not None and m["value"] is not None}
        record.update(
            iterations=runner.log, session_s=session_s, warmup_s=warmup_s,
            result={"correct": correct, "attempted": attempted,
                    "failed": failed, "metrics": metrics},
        )
    finally:
        stop_session(spark)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
