"""Kill/resume idempotency (SURVEY.md §5.4): a run crashed mid-way and
resumed must produce byte-identical table state to an uninterrupted run,
and a resume never mixes chunks of another lineage."""

import glob
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from table_recognition_spark.core import gnn
from table_recognition_spark.fixtures.generate import corpus_to_spark
from table_recognition_spark.pipeline.checkpoint import CheckpointedExtract

SF = "/root/testdata/sf0.001"


def _collect(df):
    rows = df.collect()
    return sorted(
        (
            r["doc_id"],
            tuple(
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in r["spans"]
            ),
        )
        for r in rows
    )


@pytest.mark.spark
def test_crash_resume_equals_single_run(spark, tiny_corpus, weights, tmp_path):
    docs, media, _ = tiny_corpus
    docs_df, media_df = corpus_to_spark(spark, docs, media)

    ref = CheckpointedExtract(str(tmp_path / "ref"), n_chunks=4)
    ref.run(spark, docs_df, media_df, weights)

    ck = CheckpointedExtract(str(tmp_path / "crashy"), n_chunks=4)
    with pytest.raises(RuntimeError, match="simulated crash"):
        ck.run(spark, docs_df, media_df, weights, fail_after=2)
    assert len(ck.committed()) == 2

    # resume completes only the remaining chunks
    ran = ck.run(spark, docs_df, media_df, weights)
    assert ran == 2
    assert ck.committed() == {0, 1, 2, 3}

    assert _collect(ck.read_output(spark)) == _collect(ref.read_output(spark))
    # the chunk store's schema, which perfbench and the resume query read
    assert ck.read_output(spark).schema.simpleString() == (
        "struct<doc_id:string,spans:array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>>"
    )

    # progress records carry lineage + throughput, and counts that
    # match the committed output
    prog = ck.read_progress(spark).collect()
    assert len(prog) == 4
    for p in prog:
        assert "weights=md5:" in p["lineage"]
        assert p["docs_per_sec"] >= 0
    out = ck.read_output(spark)
    assert sum(p["n_docs"] for p in prog) == out.count() == len(docs)
    assert sum(p["n_spans"] for p in prog) == out.agg(
        F.sum(F.size("spans"))
    ).first()[0]


@pytest.mark.spark
def test_rerun_is_noop(spark, tiny_corpus, weights, tmp_path):
    docs, media, _ = tiny_corpus
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    ck = CheckpointedExtract(str(tmp_path / "once"), n_chunks=3)
    assert ck.run(spark, docs_df, media_df, weights) == 3
    assert ck.run(spark, docs_df, media_df, weights) == 0


@pytest.mark.spark
@pytest.mark.parametrize("change", ["n_chunks", "weights", "docs"])
def test_resume_refuses_other_lineage(
    spark, tiny_corpus, weights, tmp_path, change
):
    """A resume whose chunk count, weights or input files differ from
    the committed chunks' raises before running anything: skipping those
    chunks would mix another run's slices into this one's output."""
    docs, media, _ = tiny_corpus
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    for name in ("docs", "docs_copy"):
        docs_df.write.parquet(str(tmp_path / name))
    first = spark.read.parquet(str(tmp_path / "docs"))
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="simulated crash"):
        CheckpointedExtract(out, n_chunks=4).run(
            spark, first, media_df, weights, fail_after=1
        )

    n_chunks, w, d = 4, weights, first
    if change == "n_chunks":
        n_chunks = 2
    elif change == "weights":
        w = gnn.init_weights(7)
    else:
        d = spark.read.parquet(str(tmp_path / "docs_copy"))
    ck = CheckpointedExtract(out, n_chunks=n_chunks)
    with pytest.raises(ValueError, match="committed under"):
        ck.run(spark, d, media_df, w)
    assert len(ck.committed()) == 1


def test_weights_digest_is_the_arrays_content():
    """The lineage's weights fingerprint depends on the arrays alone:
    equal content gives one digest, whatever the dict, its key order or
    its arrays' memory layout; one element, a dtype, a shape or a name
    changes it, and the committed G2 and G3 artifacts differ."""
    import numpy as np

    from table_recognition_spark.core import visual
    from table_recognition_spark.pipeline.extract import weights_digest

    w = gnn.init_weights(42)
    same = {k: np.asfortranarray(w[k]) for k in reversed(sorted(w))}
    assert weights_digest(same) == weights_digest(w)

    k = next(k for k in sorted(w) if w[k].ndim == 2)
    element = w[k].copy()
    element[0, 0] += 1
    variants = {
        "element": {**w, k: element},
        "dtype": {**w, k: w[k].view(np.int32)},
        "shape": {**w, k: w[k].reshape(-1)},
        "name": {("x" + n if n == k else n): a for n, a in w.items()},
    }
    digests = {name: weights_digest(v) for name, v in variants.items()}
    assert weights_digest(w) not in digests.values()
    assert len(set(digests.values())) == len(digests), digests
    assert weights_digest(gnn.default_weights()) != weights_digest(
        visual.default_weights()
    )


@pytest.mark.spark
def test_checkpoint_resume_query_leaves_no_chunk_store(spark):
    """The driver query removes its chunk store before returning, and
    the returned DataFrame still reads in full."""
    import __spark_entry__ as E

    parent = "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir()
    before = set(glob.glob(os.path.join(parent, "trs_ckpt_*")))
    df = E.queries()["pipeline_checkpoint_resume"](spark, SF)
    assert len(df.collect()) > 0
    assert set(glob.glob(os.path.join(parent, "trs_ckpt_*"))) <= before


@pytest.mark.spark
def test_checkpoint_resume_query_raises_real_errors(spark, monkeypatch):
    """Only the simulated crash is expected by the driver query: any
    other error of the checkpointed run reaches the caller as it is."""
    import __spark_entry__ as E

    def boom(self, *args, **kwargs):
        raise RuntimeError("boom")

    monkeypatch.setattr(CheckpointedExtract, "run", boom)
    with pytest.raises(RuntimeError, match="boom"):
        E.queries()["pipeline_checkpoint_resume"](spark, SF)


@pytest.mark.spark
def test_checkpointed_run_with_g3_weights(spark, tmp_path):
    """G3 weights run the visual model through the checkpointed job (the
    spark-submit path of ``main.py --weights``), span-equal to the
    no-Spark oracle with the same weights."""
    from table_recognition_spark.core import visual
    from table_recognition_spark.fixtures.generate import make_corpus
    from table_recognition_spark.oracle.extract import extract_corpus

    docs, media, _ = make_corpus(4, 2, seed=13)
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    vw = visual.default_weights()
    ck = CheckpointedExtract(str(tmp_path / "g3"), n_chunks=2)
    ck.run(spark, docs_df, media_df, vw)
    expected = sorted(
        (did, tuple((s["kind"], s["text"], s["media_ref"], s["offset"])
                    for s in spans))
        for did, spans in extract_corpus(docs, media, vw).items()
    )
    assert any(s[0] == "cell" for _, spans in expected for s in spans)
    assert _collect(ck.read_output(spark)) == expected
