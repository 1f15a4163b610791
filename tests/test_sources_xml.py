"""PAGE-XML / cTDaR ingestion: codec, round-trips, pipeline equivalence,
GT repair and split loader."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fixture_writers import gt_cells_to_ctdar_xml
from table_recognition_spark.operators.dataset_ops import (
    filter_split,
    repair_gt_rows,
)
from table_recognition_spark.sources.pagexml import (
    PAGE_NS,
    coords_string_to_points,
    ocr_lines_to_page_xml,
    parse_ctdar_xml,
    parse_page_xml,
    parse_page_xml_table,
    points_to_coords_string,
    serialize_page_xml_col,
)


def test_coords_codec_reference_examples():
    # the docstring examples from reference graph/utils.py:15-53
    assert coords_string_to_points("1,1 2,2 3,3 4,4") == [
        (1, 1), (2, 2), (3, 3), (4, 4)]
    assert points_to_coords_string([(1, 1), (2, 2)]) == "1,1 2,2"
    s = "10,20 30,40 50,60"
    assert points_to_coords_string(coords_string_to_points(s)) == s


def _fixture_media(n=6, seed=11):
    from table_recognition_spark.fixtures.generate import make_corpus

    _, media, gt = make_corpus(0, n, seed=seed)
    return media, gt


def test_page_xml_python_roundtrip():
    media, _ = _fixture_media()
    for m in media:
        xml = ocr_lines_to_page_xml(m["ocr_lines"])
        parsed = parse_page_xml(xml)
        assert len(parsed) == len(m["ocr_lines"])
        for got, exp in zip(parsed, m["ocr_lines"]):
            assert got["line_id"] == exp["line_id"]
            assert got["text"] == exp["text"]
            assert got["points"] == [(p["x"], p["y"]) for p in exp["points"]]


def test_ctdar_xml_python_roundtrip():
    _, gt = _fixture_media()
    for g in gt:
        xml = gt_cells_to_ctdar_xml(g["cells"])
        parsed = parse_ctdar_xml(xml)
        assert len(parsed) == len(g["cells"])
        for got, exp in zip(parsed, g["cells"]):
            for k in ("type", "start_row", "end_row", "start_col",
                      "end_col"):
                assert got[k] == exp[k]
            assert got["points"] == [(p["x"], p["y"]) for p in exp["points"]]


@pytest.mark.spark
def test_page_xml_spark_roundtrip(spark):
    """ocr_lines → PAGE-XML strings → ``parse_page_xml_table`` gives the
    original nested column back and keeps every other column."""
    from table_recognition_spark.fixtures.generate import (
        corpus_to_spark, make_corpus,
    )

    _, media, _ = make_corpus(0, 8, seed=12)
    _, media_df = corpus_to_spark(spark, [], media)
    xml_df = media_df.select(
        "media_ref", "image", "width", "height",
        serialize_page_xml_col(F.col("ocr_lines")).alias("page_xml"),
    )
    back = parse_page_xml_table(xml_df)
    assert [f.name for f in back.schema.fields] == [
        "media_ref", "image", "width", "height", "ocr_lines",
    ]
    orig = {r["media_ref"]: r["ocr_lines"]
            for r in media_df.select("media_ref", "ocr_lines").collect()}
    got = {r["media_ref"]: r["ocr_lines"]
           for r in back.select("media_ref", "ocr_lines").collect()}
    assert got == orig
    # empty-input batch shape survives
    assert parse_page_xml_table(xml_df.limit(0)).count() == 0


def _one_line_page(points):
    return (
        f'<PcGts xmlns="{PAGE_NS}"><Page imageWidth="10" imageHeight="20">'
        f'<TextRegion><TextLine><Coords points="{points}"/><TextEquiv>'
        "<Unicode>cell</Unicode></TextEquiv></TextLine></TextRegion></Page>"
        "</PcGts>"
    )


@pytest.mark.spark
@pytest.mark.parametrize(
    "points, expected",
    [
        ("", []),
        ("1,2 3 4,5,6", ValueError),
        ("1,2 3,4 ", [(1, 2), (3, 4)]),
        ("1,2 3000000000,4", ValueError),  # beyond the int32 column
    ],
)
def test_coords_rule_agrees_across_readers(spark, tmp_path, points, expected):
    """One decode rule for ``Coords@points``: the plain parser, the
    string-table transform and the file source give the same points, or
    all raise — none invents a point the string does not hold."""
    from table_recognition_spark.sources.pagexml_datasource import (
        register_pagexml_source,
    )

    xml = _one_line_page(points)
    (tmp_path / "r.xml").write_text(xml)
    register_pagexml_source(spark)
    readers = {
        "parse_page_xml": lambda: parse_page_xml(xml)[0]["points"],
        "parse_page_xml_table": lambda: parse_page_xml_table(
            spark.createDataFrame(
                [("r", xml)], "media_ref string, page_xml string"
            )
        ).collect(),
        "pagexml": lambda: spark.read.format("pagexml").load(
            str(tmp_path)
        ).collect(),
    }
    for name, read in readers.items():
        if expected is ValueError:
            with pytest.raises(Exception, match="malformed Coords points"):
                read()
            continue
        got = read()
        if name != "parse_page_xml":
            [row] = got
            [line] = row["ocr_lines"]
            assert (line["line_id"], line["text"]) == (0, "cell"), name
            got = [(p["x"], p["y"]) for p in line["points"]]
        assert got == expected, name


@pytest.mark.spark
def test_extraction_from_page_xml_equals_direct(spark):
    """A user holding PAGE-XML files gets span-identical output."""
    from table_recognition_spark.core import gnn
    from table_recognition_spark.fixtures.generate import (
        corpus_to_spark, make_corpus,
    )
    from table_recognition_spark.pipeline.extract import extract_flat

    docs, media, _ = make_corpus(20, 10, seed=13)
    docs_df, media_df = corpus_to_spark(spark, docs, media)
    w = gnn.load_weights("weights/g2_seed42.npz")

    xml_media = media_df.select(
        "media_ref", "image", "width", "height",
        serialize_page_xml_col(F.col("ocr_lines")).alias("page_xml"),
    )
    parsed_media = parse_page_xml_table(xml_media)
    direct = sorted(
        map(tuple, extract_flat(docs_df, media_df, w).collect())
    )
    via_xml = sorted(
        map(tuple, extract_flat(docs_df, parsed_media, w).collect())
    )
    assert via_xml == direct


def _cell(type_, sr, er, sc=0, ec=0):
    return {"type": type_, "start_row": sr, "end_row": er,
            "start_col": sc, "end_col": ec,
            "points": [{"x": 0, "y": 0}, {"x": 1, "y": 1}]}


@pytest.mark.spark
def test_repair_gt_rows(spark):
    from table_recognition_spark.fixtures.generate import GT_SCHEMA

    def mk(cells):
        return [
            (c["type"], c["start_row"], c["end_row"], c["start_col"],
             c["end_col"], [(p["x"], p["y"]) for p in c["points"]])
            for c in cells
        ]

    rows = [
        # header reaches row 3, data starts at row 1 → shift data by 2
        ("t1", mk([_cell("header", 0, 3), _cell("data", 1, 2),
                   _cell("data", 4, 5)])),
        # already consistent → untouched
        ("t2", mk([_cell("header", 0, 1), _cell("data", 2, 3)])),
        # only headers → untouched (reference early-return)
        ("t3", mk([_cell("header", 0, 5)])),
        # only data → untouched
        ("t4", mk([_cell("data", 7, 9)])),
    ]
    gt_df = spark.createDataFrame(rows, GT_SCHEMA)
    out = {r["media_ref"]: [(c["type"], c["start_row"], c["end_row"])
                            for c in r["cells"]]
           for r in repair_gt_rows(gt_df).collect()}
    # reference semantics: diff = header_max - data_min = 3 - 1 = 2
    assert out["t1"] == [("header", 0, 3), ("data", 3, 4), ("data", 6, 7)]
    assert out["t2"] == [("header", 0, 1), ("data", 2, 3)]
    assert out["t3"] == [("header", 0, 5)]
    assert out["t4"] == [("data", 7, 9)]


def test_repair_matches_reference_transcription():
    """Property: the HOF plan equals a direct transcription of
    Table.fix_table on random tables."""
    rng = np.random.default_rng(5)

    def reference_fix(cells):
        cells = [dict(c) for c in cells]
        hm = [c["end_row"] for c in cells if c["type"] == "header"]
        dm = [c["start_row"] for c in cells if c["type"] == "data"]
        if not hm or not dm:
            return cells
        hm, dm = max(hm), min(dm)
        if not hm <= dm:
            diff = hm - dm
            for c in cells:
                if c["type"] == "data":
                    c["start_row"] += diff
                    c["end_row"] += diff
        return cells

    from table_recognition_spark.session import get_spark
    from table_recognition_spark.fixtures.generate import GT_SCHEMA

    spark = get_spark("t", parallelism=2)
    tables = []
    for t in range(25):
        n = int(rng.integers(1, 8))
        cells = []
        for _ in range(n):
            typ = ["header", "data", "header_mark"][int(rng.integers(0, 3))]
            sr = int(rng.integers(0, 6))
            cells.append(_cell(typ, sr, sr + int(rng.integers(0, 3))))
        tables.append((f"t{t}", cells))
    rows = [
        (ref, [(c["type"], c["start_row"], c["end_row"], c["start_col"],
                c["end_col"], [(p["x"], p["y"]) for p in c["points"]])
               for c in cells])
        for ref, cells in tables
    ]
    gt_df = spark.createDataFrame(rows, GT_SCHEMA)
    got = {r["media_ref"]: [(c["type"], c["start_row"], c["end_row"])
                            for c in r["cells"]]
           for r in repair_gt_rows(gt_df).collect()}
    for ref, cells in tables:
        exp = [(c["type"], c["start_row"], c["end_row"])
               for c in reference_fix(cells)]
        assert got[ref] == exp, ref


@pytest.mark.spark
def test_filter_split(spark):
    df = spark.createDataFrame(
        [(f"doc_{i}", i) for i in range(20)], "doc_id string, v int"
    )
    assert filter_split(df, ["doc_3", "doc_7"]).count() == 2
    split_df = spark.createDataFrame([("doc_1",), ("doc_2",), ("doc_99",)],
                                     "doc_id string")
    got = sorted(r["doc_id"] for r in filter_split(df, split_df).collect())
    assert got == ["doc_1", "doc_2"]
