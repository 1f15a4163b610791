"""Per-seed inputs: the generated corpus and the oracle's expected result.

The corpus is generated on every run, in the measured process, before
set-up begins. Generation runs Python and JVM code that warms the session;
doing it on every run keeps set-up the same work on every run (a cached
corpus left the first iteration about 4 s colder). The oracle's digest is
cached under ``perfbench/.cache``, keyed by workload sizes, seed, weights and
the package's source, so a repeated seed skips the oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import pyarrow.parquet as pq

from digest import python_digest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")


def source_md5(paths: list) -> str:
    """MD5 over the given files and every .py file under the given
    directories, in sorted order."""
    h = hashlib.md5()
    files = []
    for p in paths:
        if os.path.isdir(p):
            files += [os.path.join(d, f) for d, _, fs in os.walk(p)
                      for f in fs if f.endswith(".py")]
        else:
            files.append(p)
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def read_docs(path: str) -> list:
    return pq.read_table(path).to_pylist()


def read_media(path: str) -> list:
    # the G2 kernel never reads the PNG bytes
    cols = ["media_ref", "width", "height", "ocr_lines"]
    return pq.read_table(path, columns=cols).to_pylist()


def prepare(spark, w, seed: int, weights_path: str, out_dir: str) -> dict:
    """Generate the corpus into ``out_dir`` and load (or compute and cache)
    the expected result; returns paths, expected digest and counts, and how
    long each step took."""
    from table_recognition_spark.core import gnn
    from table_recognition_spark.fixtures.bigbench import generate_bench_corpus
    from table_recognition_spark.oracle.extract import extract_corpus

    t0 = time.perf_counter()
    docs_path, media_path = generate_bench_corpus(
        spark, out_dir, w.n_docs, w.n_media, seed=seed
    )
    gen_s = time.perf_counter() - t0

    key = source_md5([weights_path, os.path.join(ROOT, "table_recognition_spark")])
    exp_path = os.path.join(
        CACHE, f"d{w.n_docs}-m{w.n_media}-s{seed}-{key}.json"
    )
    t0 = time.perf_counter()
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            expected = json.load(f)
    else:
        docs = read_docs(docs_path)
        result = extract_corpus(
            docs, read_media(media_path), gnn.load_weights(weights_path)
        )
        expected = {"digest": python_digest(result), "docs": len(docs)}
        os.makedirs(CACHE, exist_ok=True)
        tmp = exp_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(expected, f)
        os.replace(tmp, exp_path)
    oracle_s = time.perf_counter() - t0
    return {
        "docs_path": docs_path,
        "media_path": media_path,
        "expected": expected,
        "gen_s": gen_s,
        "oracle_s": oracle_s,
    }
