"""End-to-end span-sequence parity: Spark pipeline == single-node oracle.

The per-row invariant from BASELINE.json input_hint: exact per-doc_id
equality of the (kind, text, media_ref, order) sequence.
"""

import pytest
from oracles import span_tuples, spans_by_doc

from table_recognition_spark.fixtures.generate import corpus_to_spark
from table_recognition_spark.oracle.extract import extract_corpus
from table_recognition_spark.pipeline.extract import extract_flat


def _run_parity(spark, corpus, weights, **kwargs):
    docs, media, _ = corpus
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    got = spans_by_doc(extract_flat(docs_df, media_df, weights, **kwargs))
    expected = {
        did: span_tuples(spans)
        for did, spans in extract_corpus(docs, media, weights).items()
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


def _parity_in_one_batch(spark, weights, media):
    """Parity for ``media`` run as one kernel task (``n_rows_bound=1``),
    so all rows share one Arrow record batch. One doc references every
    image, and one doc per image references only it."""

    def text(offset):
        return {"kind": "text", "text": "<p>t</p>", "media_ref": "",
                "offset": offset}

    def image(ref, offset):
        return {"kind": "media", "text": "", "media_ref": ref,
                "offset": offset}

    refs = [m["media_ref"] for m in media]
    docs = [{"doc_id": "all", "spans": [text(0)] + [
        image(ref, i + 1) for i, ref in enumerate(refs)
    ]}] + [
        {"doc_id": f"only_{ref}", "spans": [image(ref, 0), text(1)]}
        for ref in refs
    ]
    _run_parity(spark, (docs, media, None), weights, n_rows_bound=1)


@pytest.mark.spark
@pytest.mark.parametrize("model", ["g2", "visual"])
def test_parity_empty_ocr_lines_in_batch(spark, weights, model):
    """A media row with no OCR lines, in the same Arrow record batch as two
    rows that have lines, yields no cells; the other rows' cells stay with
    their own refs. ``model`` picks the weights: G2, or G3 (visual)."""
    from table_recognition_spark.core import visual
    from table_recognition_spark.fixtures.generate import make_corpus

    _, media, _ = make_corpus(0, 3, seed=5)
    media[1] = dict(media[1], ocr_lines=[])
    if model == "visual":
        weights = visual.default_weights()
    _parity_in_one_batch(spark, weights, media)


def _without_points(line):
    return dict(line, points=[])


@pytest.mark.spark
@pytest.mark.parametrize("case", ["mid_batch", "last_in_batch", "all_empty"])
def test_parity_zero_point_lines_in_batch(spark, weights, case):
    """OCR lines with no points are dropped before graph construction, in
    the kernel and in the oracle alike: a zero-point line inside an image,
    one at the very end of the record batch (every image's last line, so
    whichever row comes last), and an image whose lines all have none
    (no cells)."""
    from table_recognition_spark.fixtures.generate import make_corpus

    _, media, _ = make_corpus(0, 3, seed=5)
    if case == "mid_batch":
        lines = list(media[0]["ocr_lines"])
        mid = len(lines) // 2
        lines[mid] = _without_points(lines[mid])
        media[0] = dict(media[0], ocr_lines=lines)
    elif case == "last_in_batch":
        media = [
            dict(m, ocr_lines=m["ocr_lines"][:-1]
                 + [_without_points(m["ocr_lines"][-1])])
            for m in media
        ]
    else:
        media[1] = dict(
            media[1], ocr_lines=[_without_points(x) for x in media[1]["ocr_lines"]]
        )
    _parity_in_one_batch(spark, weights, media)


@pytest.mark.spark
def test_parity_null_line_text(spark, weights):
    """An OCR line whose text is null reads as "" in the kernel and in
    the oracle alike, as the PAGE-XML readers read a missing TextEquiv;
    it fails neither."""
    from table_recognition_spark.fixtures.generate import make_corpus

    _, media, _ = make_corpus(0, 2, seed=5)
    lines = list(media[0]["ocr_lines"])
    lines[0] = dict(lines[0], text=None)
    media[0] = dict(media[0], ocr_lines=lines)
    _parity_in_one_batch(spark, weights, media)


def _span(kind, offset, ref="", text=""):
    return {"kind": kind, "text": text, "media_ref": ref, "offset": offset}


@pytest.mark.spark
@pytest.mark.parametrize("media_first", [False, True],
                         ids=["text_first", "media_first"])
def test_parity_duplicate_offsets(spark, weights, media_first):
    """A text span and a media span with the same ``offset`` keep their
    array order, as the oracle's stable sort does."""
    from table_recognition_spark.fixtures.generate import make_corpus

    _, media, _ = make_corpus(0, 2, seed=7)
    ref = media[0]["media_ref"]
    tied = [_span("text", 3, text="<p>tied</p>"), _span("media", 3, ref)]
    if media_first:
        tied.reverse()
    docs = [{"doc_id": "tied", "spans": [
        _span("media", 5, media[1]["media_ref"]),
        *tied,
        _span("text", 1, text="<p>first</p>"),
    ]}]
    _run_parity(spark, (docs, media, None), weights)


@pytest.mark.spark
def test_unknown_span_kind_emits_nothing(spark, weights):
    """A span of a kind other than text or media emits nothing, even
    when its media_ref names an existing image."""
    from table_recognition_spark.fixtures.generate import make_corpus

    _, media, _ = make_corpus(0, 1, seed=7)
    ref = media[0]["media_ref"]
    docs = [{"doc_id": "d", "spans": [
        _span("text", 0, text="<p>hi</p>"),
        _span("video", 1, ref),
        _span("media", 2, ref),
    ]}]
    known = [{"doc_id": "d", "spans": [
        s for s in docs[0]["spans"] if s["kind"] != "video"
    ]}]
    expected = extract_corpus(docs, media, weights)
    assert any(s["kind"] == "cell" for s in expected["d"])
    assert expected == extract_corpus(known, media, weights)
    _run_parity(spark, (docs, media, None), weights)


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
    assert spans_by_doc(extract_flat(docs_df, media_df, weights)) == {
        "d1": [("main_text", "hi", "", 0)]
    }

