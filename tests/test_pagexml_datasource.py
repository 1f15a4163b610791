"""The file reader for the reference's directory-of-PAGE-XML corpus
(``read_page_xml``): round-trip equality against the fixture media
table, UTF-8 decoding, and span-equal extraction when the reader feeds
the pipeline in place of the parquet media table.
"""

import os

import pytest

from table_recognition_spark.sources.pagexml import (
    PAGE_NS,
    ocr_lines_to_page_xml,
    read_page_xml,
)

SF = "/root/testdata/sf0.001"


def _write_corpus(spark, tmp_path, blank_line=False):
    """One PAGE-XML file per fixture media row; ``blank_line`` appends a
    line whose ``Coords@points`` is empty to every file."""
    from table_recognition_spark.pipeline.flagship import fixture_media

    rows = (
        fixture_media(spark)
        .select("media_ref", "width", "height", "ocr_lines")
        .collect()
    )
    for r in rows:
        lines = [ln.asDict(recursive=True) for ln in r.ocr_lines]
        if blank_line:
            lines.append({"line_id": len(lines), "points": [], "text": "x"})
        xml = ocr_lines_to_page_xml(lines, r.width, r.height)
        (tmp_path / f"{r.media_ref}.xml").write_text(xml)
    return rows


def _key(ocr_lines):
    return tuple(
        (ln.line_id, tuple((p.x, p.y) for p in ln.points), ln.text)
        for ln in ocr_lines
    )


@pytest.mark.spark
def test_pagexml_datasource_roundtrips_fixture_media(spark, tmp_path):
    rows = _write_corpus(spark, tmp_path)
    df = read_page_xml(spark, str(tmp_path))
    got = {
        r.media_ref: (r.width, r.height, _key(r.ocr_lines))
        for r in df.collect()
    }
    exp = {
        r.media_ref: (r.width, r.height, _key(r.ocr_lines)) for r in rows
    }
    assert got == exp


@pytest.mark.spark
def test_pagexml_datasource_feeds_extraction_span_equal(spark, tmp_path):
    """The file reader's table must be a drop-in replacement for the
    parquet media table: same spans out of the flagship pipeline."""
    _write_corpus(spark, tmp_path)
    _assert_feeds_extraction_span_equal(spark, tmp_path)


@pytest.mark.spark
def test_pagexml_datasource_zero_point_line_span_equal(spark, tmp_path):
    """An empty ``Coords@points`` is a line with no points, which the
    kernel drops: a corpus with one in every file still extracts the same
    spans as the parquet media table without them."""
    _write_corpus(spark, tmp_path, blank_line=True)
    _assert_feeds_extraction_span_equal(spark, tmp_path)


def _assert_feeds_extraction_span_equal(spark, path):
    from table_recognition_spark.core import gnn
    from table_recognition_spark.pipeline.extract import extract_flat
    from table_recognition_spark.pipeline.flagship import (
        fixture_media,
        interleaved_docs,
    )

    parsed = read_page_xml(spark, str(path))
    docs = interleaved_docs(spark, SF)
    w = gnn.default_weights()
    got = extract_flat(docs, parsed, w).collect()
    exp = extract_flat(docs, fixture_media(spark), w).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))


@pytest.mark.spark
def test_pagexml_files_query_leaves_no_temp_dir(spark):
    import glob
    import tempfile

    import __spark_entry__ as E

    pattern = os.path.join(tempfile.gettempdir(), "trs_pagexml_*")
    before = set(glob.glob(pattern))
    query = E.queries()["extract_from_pagexml_files"]
    for _ in range(2):
        query(spark, SF).write.format("noop").mode("overwrite").save()
    assert set(glob.glob(pattern)) <= before


def _page(text, decl=""):
    return (
        f'{decl}<PcGts xmlns="{PAGE_NS}"><Page><TextRegion><TextLine>'
        f'<Coords points="1,2"/><TextEquiv><Unicode>{text}</Unicode>'
        "</TextEquiv></TextLine></TextRegion></Page></PcGts>"
    )


@pytest.mark.spark
def test_pagexml_reader_roundtrips_utf8_text(spark, tmp_path):
    """Non-ASCII UTF-8 text, a UTF-8 declaration, a byte-order mark and
    a space in the file name all read back as written."""
    text = "Zürich – 42 € ✓"
    (tmp_path / "a b.xml").write_bytes(
        b"\xef\xbb\xbf"
        + _page(text, '<?xml version="1.0" encoding="UTF-8"?>').encode()
    )
    [row] = read_page_xml(spark, str(tmp_path)).collect()
    assert (row.media_ref, row.width, row.height) == ("a b", 0, 0)
    assert [(ln.line_id, ln.text) for ln in row.ocr_lines] == [(0, text)]


@pytest.mark.spark
@pytest.mark.parametrize("decl, text, match", [
    pytest.param('<?xml version="1.0" encoding="ISO-8859-1"?>', "e",
                 "declares encoding", id="declared-latin-1"),
    pytest.param("", "\u00e9", "MALFORMED_CHARACTER_CODING",
                 id="invalid-utf-8"),
])
def test_pagexml_reader_refuses_non_utf8(spark, tmp_path, decl, text, match):
    """A file in another encoding raises rather than decoding into wrong
    text: by its declaration even when its bytes happen to be valid
    UTF-8, and by its bytes when they are not."""
    (tmp_path / "l.xml").write_bytes(_page(text, decl).encode("latin-1"))
    with pytest.raises(Exception, match=match):
        read_page_xml(spark, str(tmp_path)).collect()
