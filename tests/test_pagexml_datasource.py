"""PySpark-4 Python DataSource for the reference's directory-of-PAGE-XML
corpus (`spark.read.format("pagexml")`): round-trip equality against the
fixture media table, partition balance, and span-equal extraction when
the datasource feeds the pipeline in place of the parquet media table.
"""

import os

import pytest

from table_recognition_spark.sources.pagexml import ocr_lines_to_page_xml
from table_recognition_spark.sources.pagexml_datasource import (
    PageXmlReader,
    register_pagexml_source,
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
    register_pagexml_source(spark)
    df = (
        spark.read.format("pagexml")
        .option("numPartitions", "4")
        .load(str(tmp_path))
    )
    assert df.rdd.getNumPartitions() == 4
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
    """The datasource table must be a drop-in replacement for the
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

    register_pagexml_source(spark)
    parsed = spark.read.format("pagexml").load(str(path))
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


def test_pagexml_reader_partition_roundrobin(tmp_path):
    for i in range(10):
        (tmp_path / f"f{i}.xml").write_text("<x/>")
    r = PageXmlReader({"path": str(tmp_path), "numPartitions": "3"})
    parts = r.partitions()
    assert len(parts) == 3
    allf = sorted(f for p in parts for f in p.files)
    assert len(allf) == 10 and len(set(allf)) == 10
    sizes = sorted(len(p.files) for p in parts)
    assert sizes == [3, 3, 4]


def test_pagexml_reader_requires_path():
    with pytest.raises(ValueError):
        PageXmlReader({})
