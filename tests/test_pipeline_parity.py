"""End-to-end span-sequence parity: Spark pipeline == single-node oracle.

The per-row invariant from BASELINE.json input_hint: exact per-doc_id
equality of the (kind, text, media_ref, order) sequence.
"""

import pytest

from table_recognition_spark.fixtures.generate import corpus_to_spark
from table_recognition_spark.oracle.extract import extract_corpus
from table_recognition_spark.pipeline.extract import extract, extract_flat


def _spans_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def _run_parity(spark, corpus, weights, model="g2", **kwargs):
    docs, media, _ = corpus
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    out = extract(docs_df, media_df, weights, model=model, **kwargs)
    got = {
        r["doc_id"]: _spans_tuples([s.asDict() for s in r["spans"]])
        for r in out.collect()
    }
    expected = {
        did: _spans_tuples(spans)
        for did, spans in extract_corpus(
            docs, media, weights, model=model
        ).items()
    }
    assert set(got) == set(expected)
    for did in sorted(expected):
        assert got[did] == expected[did], f"span mismatch for {did}"


@pytest.mark.spark
def test_parity_small_corpus_jvm_text(spark, small_corpus, weights):
    _run_parity(spark, small_corpus, weights)


@pytest.mark.spark
def test_parity_with_kernel_repartition(spark, tiny_corpus, weights):
    _run_parity(spark, tiny_corpus, weights, n_rows_bound=7)


@pytest.mark.spark
@pytest.mark.parametrize("model", ["g2", "visual"])
def test_parity_empty_ocr_lines_in_batch(spark, weights, model):
    """A media row with no OCR lines, in the same Arrow record batch as two
    rows that have lines (n_rows_bound=1: one kernel task), yields no
    cells; the other rows' cells stay with their own refs."""
    from table_recognition_spark.fixtures.generate import make_corpus

    _, media, _ = make_corpus(0, 3, seed=5)
    media[1] = dict(media[1], ocr_lines=[])
    refs = [m["media_ref"] for m in media]

    def text(offset):
        return {"kind": "text", "text": "<p>t</p>", "media_ref": "",
                "offset": offset}

    def image(ref, offset):
        return {"kind": "media", "text": "", "media_ref": ref,
                "offset": offset}

    docs = [
        {"doc_id": "all", "spans": [text(0)] + [
            image(ref, i + 1) for i, ref in enumerate(refs)
        ]},
        {"doc_id": "empty_only", "spans": [image(refs[1], 0), text(1)]},
    ]
    _run_parity(spark, (docs, media, None), weights, model=model,
                n_rows_bound=1)


@pytest.mark.spark
def test_flat_output_offsets_dense(spark, tiny_corpus, weights):
    docs, media, _ = tiny_corpus
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    flat = extract_flat(docs_df, media_df, weights)
    rows = flat.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["offset"])
    for offs in by_doc.values():
        assert sorted(offs) == list(range(len(offs)))


@pytest.mark.spark
def test_missing_media_ref_emits_nothing(spark, weights):
    docs = [
        {
            "doc_id": "d1",
            "spans": [
                {"kind": "text", "text": "<p>hi</p>", "media_ref": "", "offset": 0},
                {"kind": "media", "text": "", "media_ref": "missing", "offset": 1},
            ],
        }
    ]
    from table_recognition_spark.fixtures.generate import make_corpus

    _, media, _ = make_corpus(1, 1, seed=1)
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    out = extract(docs_df, media_df, weights)
    rows = out.collect()
    assert len(rows) == 1
    spans = [s.asDict() for s in rows[0]["spans"]]
    assert _spans_tuples(spans) == [("main_text", "hi", "", 0)]


@pytest.mark.spark
def test_flat_equals_exploded_nested(spark, tiny_corpus, weights):
    """extract_flat uses a window row_number; extract uses
    collect_list/array_sort — the two paths must agree row-for-row."""
    from pyspark.sql import functions as F

    docs, media, _ = tiny_corpus
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    flat = {
        (r["doc_id"], r["offset"], r["kind"], r["text"], r["media_ref"])
        for r in extract_flat(docs_df, media_df, weights).collect()
    }
    nested = {
        (r["doc_id"], s["offset"], s["kind"], s["text"], s["media_ref"])
        for r in extract(docs_df, media_df, weights).collect()
        for s in r["spans"]
    }
    assert flat == nested
