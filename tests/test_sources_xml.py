"""PAGE-XML / cTDaR ingestion: codec, round-trips, pipeline equivalence,
GT repair and split loader."""

import numpy as np
import pytest

from fixture_writers import gt_cells_to_ctdar_xml
from table_recognition_spark.operators.dataset_ops import (
    filter_split,
    repair_gt_rows,
)
from table_recognition_spark.sources.pagexml import (
    PAGE_NS,
    coords_string_to_points,
    ocr_lines_to_page_xml,
    page_xml_lines,
    parse_ctdar_xml,
    parse_page_xml,
    points_to_coords_string,
    read_page_xml,
    to_page_xml,
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


@pytest.mark.parametrize("coords", ["", "<Coords/>"])
def test_ctdar_cell_without_points_is_malformed(coords):
    xml = ('<document><table><cell type="data" start-row="0" end-row="0" '
           f'start-col="0" end-col="0">{coords}</cell></table></document>')
    with pytest.raises(ValueError, match="malformed Coords points"):
        parse_ctdar_xml(xml)


@pytest.mark.spark
def test_page_xml_spark_roundtrip(spark):
    """ocr_lines → PAGE-XML strings (``to_page_xml``) → ``page_xml_lines``
    gives the original nested column back, and ``parse_page_xml`` reads
    the same strings the same way, a line without points and markup in
    the text too."""
    from table_recognition_spark.fixtures.generate import (
        corpus_to_spark, make_corpus,
    )

    _, media, _ = make_corpus(0, 8, seed=12)
    media[0]["ocr_lines"].append({
        "line_id": len(media[0]["ocr_lines"]), "points": [],
        "text": " a<b>&c ",
    })
    _, media_df = corpus_to_spark(spark, [], media)
    back = media_df.select(
        "media_ref",
        to_page_xml("ocr_lines", "width", "height").alias("page_xml"),
    ).select("media_ref", "page_xml",
             page_xml_lines("page_xml").alias("ocr_lines"))
    assert back.schema["ocr_lines"].dataType.simpleString() == (
        media_df.schema["ocr_lines"].dataType.simpleString()
    )
    orig = {r["media_ref"]: r["ocr_lines"]
            for r in media_df.select("media_ref", "ocr_lines").collect()}
    rows = back.collect()
    assert {r["media_ref"]: r["ocr_lines"] for r in rows} == orig
    for r in rows:
        assert parse_page_xml(r["page_xml"]) == [
            {"line_id": ln.line_id, "points": [tuple(p) for p in ln.points],
             "text": ln.text}
            for ln in orig[r["media_ref"]]
        ]


def _one_line_page(points):
    return _page(
        '<TextRegion><TextLine><Coords points="' + points + '"/><TextEquiv>'
        "<Unicode>cell</Unicode></TextEquiv></TextLine></TextRegion>"
    )


def _page(body, ns=f' xmlns="{PAGE_NS}"', prefix=""):
    return (
        f'<{prefix}PcGts{ns}><{prefix}Page imageWidth="10" '
        f'imageHeight="20">{body}</{prefix}Page></{prefix}PcGts>'
    )


def _line(points, text):
    return (f'<TextLine><Coords points="{points}"/><TextEquiv>'
            f"<Unicode>{text}</Unicode></TextEquiv></TextLine>")


_CELL = [(0, [(1, 2)], "cell")]
_REGION = "<TextRegion>" + _line("1,2", "cell") + "</TextRegion>"


@pytest.mark.spark
@pytest.mark.parametrize(
    "page, expected",
    [
        ("", [(0, [], "cell")]),
        ("1,2 3 4,5,6", ValueError),
        ("1,2 3,4 ", [(0, [(1, 2), (3, 4)], "cell")]),
        ("1,2 3000000000,4", ValueError),  # beyond the int32 column
        pytest.param("1,2\u2028", ValueError, id="line-separator"),
        pytest.param(_page("<TextRegion><TextLine><TextEquiv><Unicode>x"
                           "</Unicode></TextEquiv></TextLine></TextRegion>"),
                     ValueError, id="no-Coords"),
        pytest.param(_page("<TextRegion><TextLine><Coords/></TextLine>"
                           "</TextRegion>"),
                     ValueError, id="no-points"),
        pytest.param(_page("<TextRegion>" + _line("1,2", " a &amp; &lt;b ")
                           + "<TextLine><Coords points='3,4'/></TextLine>"
                           "</TextRegion>"),
                     [(0, [(1, 2)], " a & <b "), (1, [(3, 4)], "")],
                     id="text-spaces-entities-missing"),
        pytest.param(_page(_REGION, ns=' xmlns="http://schema.'
                           'primaresearch.org/PAGE/gts/pagecontent/'
                           '2013-07-15"'),
                     _CELL, id="namespace-2013"),
        pytest.param(_page(_REGION, ns=""), _CELL, id="no-namespace"),
        pytest.param(_page(_REGION.replace("<", "<pc:")
                           .replace("<pc:/", "</pc:"),
                           ns=f' xmlns:pc="{PAGE_NS}"', prefix="pc:"),
                     _CELL, id="prefixed"),
        pytest.param(_page(""), [], id="no-TextRegion"),
        pytest.param(_page("<TextRegion/>" + _REGION + "<ImageRegion/>"
                           "<TextRegion>" + _line("5,6", "b")
                           + "</TextRegion>"),
                     _CELL + [(1, [(5, 6)], "b")], id="several-TextRegions"),
    ],
)
def test_coords_rule_agrees_across_readers(spark, tmp_path, page, expected):
    """One decode rule for ``Coords@points`` and one line walk: the plain
    parser, the string expression and the file reader give the same
    ``ocr_lines``, or all raise — none invents a point the string does
    not hold. ``page`` is a whole document or one line's points."""
    xml = page if page.startswith("<") else _one_line_page(page)
    (tmp_path / "r.xml").write_text(xml, encoding="utf-8")
    readers = {
        "parse_page_xml": lambda: parse_page_xml(xml),
        "page_xml_lines": lambda: spark.createDataFrame(
            [(xml,)], "page_xml string"
        ).select(page_xml_lines("page_xml").alias("ocr_lines"))
        .collect(),
        "read_page_xml": lambda: read_page_xml(spark, str(tmp_path))
        .collect(),
    }
    for name, read in readers.items():
        if expected is ValueError:
            with pytest.raises(Exception, match="malformed Coords points"):
                read()
            continue
        got = read()
        if name != "parse_page_xml":
            [row] = got
            got = row["ocr_lines"]
        got = [(ln["line_id"], [tuple(p) for p in ln["points"]], ln["text"])
               for ln in got]
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

    parsed_media = media_df.select(
        "media_ref", "image", "width", "height",
        to_page_xml("ocr_lines", "width", "height").alias("page_xml"),
    ).select(
        "media_ref", "image", "width", "height",
        page_xml_lines("page_xml").alias("ocr_lines"),
    )
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
