"""End-to-end smoke of the north rule's launch contract: the pipeline
packaged by ``scripts/build_pyfiles.sh`` and launched via
``spark-submit --py-files`` from a directory that does NOT contain the
package source — so the import can only resolve through the shipped
zip, exactly as on a real cluster. Output spans are checked span-equal
against the no-Spark oracle and the per-chunk progress records
(lineage + docs/sec) must exist. A second run with ``--no-resume`` and
fewer chunks into the same output directory must pass the same checks.
"""

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.spark
@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_launch(tmp_path):
    # 1. package the engine exactly as the cluster launch would
    subprocess.run(
        ["bash", os.path.join(REPO, "scripts", "build_pyfiles.sh")],
        check=True,
        capture_output=True,
    )
    zip_path = os.path.join(REPO, "dist", "table_recognition_spark.zip")
    assert os.path.exists(zip_path)

    # 2. stage a launch dir holding ONLY main.py + the zip (no package
    #    source on sys.path — imports must come from --py-files)
    launch = tmp_path / "launch"
    launch.mkdir()
    shutil.copy(os.path.join(REPO, "main.py"), launch / "main.py")
    shutil.copy(zip_path, launch / "trs.zip")

    # 3. tiny deterministic corpus written to parquet with pyarrow —
    #    NOT via a SparkSession, which would collide with the pytest
    #    fixture session in this process (driver-side imports from the
    #    repo are fine here; only the CHILD must not see the source)
    sys.path.insert(0, REPO)
    import pyarrow as pa
    import pyarrow.parquet as pq

    from table_recognition_spark.core import gnn
    from table_recognition_spark.fixtures.generate import make_corpus
    from table_recognition_spark.oracle.extract import extract_corpus

    docs, media, _ = make_corpus(12, 8, seed=7)
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    docs_tbl = pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
            "spans": pa.array(
                [
                    [
                        {"kind": s["kind"], "text": s["text"],
                         "media_ref": s["media_ref"],
                         "offset": s["offset"]}
                        for s in d["spans"]
                    ]
                    for d in docs
                ],
                pa.list_(span_t),
            ),
        }
    )
    point_t = pa.struct([("x", pa.int32()), ("y", pa.int32())])
    line_t = pa.struct(
        [("line_id", pa.int32()), ("points", pa.list_(point_t)),
         ("text", pa.string())]
    )
    media_tbl = pa.table(
        {
            "media_ref": pa.array(
                [m["media_ref"] for m in media], pa.string()
            ),
            "image": pa.array([m["image"] for m in media], pa.binary()),
            "width": pa.array([m["width"] for m in media], pa.int32()),
            "height": pa.array([m["height"] for m in media], pa.int32()),
            "ocr_lines": pa.array(
                [
                    [
                        {
                            "line_id": ln["line_id"],
                            "points": [
                                {"x": p["x"], "y": p["y"]}
                                for p in ln["points"]
                            ],
                            "text": ln["text"],
                        }
                        for ln in m["ocr_lines"]
                    ]
                    for m in media
                ],
                pa.list_(line_t),
            ),
        }
    )
    docs_path, media_path = str(tmp_path / "docs"), str(tmp_path / "media")
    os.makedirs(docs_path), os.makedirs(media_path)
    pq.write_table(docs_tbl, os.path.join(docs_path, "part-0.parquet"))
    pq.write_table(media_tbl, os.path.join(media_path, "part-0.parquet"))

    out = str(tmp_path / "out")
    wpath = os.path.join(REPO, "weights", "g2_seed42.npz")
    env = dict(os.environ)
    # the child must not inherit a sys.path route into the repo
    env.pop("PYTHONPATH", None)
    env.setdefault("SPARK_DRIVER_MEM", "4g")

    def submit(*args):
        proc = subprocess.run(
            [
                SPARK_SUBMIT, "--master", "local[2]", "--py-files", "trs.zip",
                "main.py", "--docs", docs_path, "--media", media_path,
                "--out", out, "--parallelism", "2", "--weights", wpath,
                *args,
            ],
            cwd=str(launch),
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]

    import duckdb

    w = gnn.load_weights(wpath)
    exp = {
        k: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in v]
        for k, v in extract_corpus(docs, media, w).items()
    }

    def check(n_chunks):
        # output spans == oracle (span-sequence equality per doc)
        rows = duckdb.sql(
            f"SELECT doc_id, s['kind'], s['text'], s['media_ref'], "
            f"s['offset'] "
            f"FROM (SELECT doc_id, unnest(spans) AS s "
            f"      FROM read_parquet('{out}/data/*/*.parquet')) "
            f"ORDER BY 1, 5"
        ).fetchall()
        got: dict = {}
        for doc_id, kind, text, media_ref, offset in rows:
            got.setdefault(doc_id, []).append((kind, text, media_ref, offset))
        assert got == exp

        # every chunk committed a progress record with lineage + docs/sec
        prog = duckdb.sql(
            f"SELECT chunk, n_docs, docs_per_sec, lineage "
            f"FROM read_parquet('{out}/_progress/*.parquet') ORDER BY chunk"
        ).fetchall()
        assert [r[0] for r in prog] == list(range(n_chunks))
        assert all(r[2] > 0 for r in prog)
        lineage = prog[0][3]
        assert "inputs=" in lineage and "weights=md5:" in lineage
        assert "predicate=pmod(xxhash64(doc_id)" in lineage

    submit("--chunks", "3")
    check(3)
    # a fresh run with fewer chunks into the same directory leaves no
    # chunk of the first run behind
    submit("--no-resume", "--chunks", "2")
    check(2)
