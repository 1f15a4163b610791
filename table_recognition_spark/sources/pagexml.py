"""PAGE-XML / cTDaR-XML ingestion — the reference's actual input formats.

The reference reads OCR text lines from PAGE-XML
(``/root/reference/table_recognition/graph/graph.py:47-59``: xpath
``./Page/TextRegion/TextLine``, ``Coords@points`` coordinate strings) and
ground-truth cells from cTDaR XML (``graph.py:64-76``: ``./table/cell``
with ``Coords@points`` plus ``type``/``start-row``/``end-row``/
``start-col``/``end-col`` attributes). Coordinate strings use the
``"x,y x,y …"`` codec (``graph/utils.py:15-53``, SURVEY S5/X1).

This module provides:

- the coordinate codec (both directions) and its one decode rule,
  :func:`_check_coords`: whitespace-separated ``x,y`` integer pairs of
  at most 9 digits, a blank string is a line with no points, anything
  else is a ``ValueError``;
- one PAGE ``TextLine`` walk, :func:`_text_lines`, behind every PAGE-XML
  reader: the plain-python :func:`parse_page_xml` and the Arrow builder
  :func:`ocr_lines_array`, which turns parsed documents into the engine's
  ``ocr_lines`` column from flat buffers (no python object per point).
  Line ids follow document order, matching the reference's
  ``Node.NODE_COUNTER`` assignment;
- :func:`parse_page_xml_table`, the Spark transform for a table of
  PAGE-XML strings (``mapInArrow`` over :func:`ocr_lines_array`; the
  ``pagexml`` file source in ``pagexml_datasource.py`` uses the same
  builder);
- the cTDaR parser :func:`parse_ctdar_xml`, and the PAGE-XML
  serializer with its pandas-UDF column transform (the fixture side of
  round trips — the reference never writes PAGE-XML, so only the parse
  direction has reference semantics).
"""

from __future__ import annotations

import re
from xml.etree import ElementTree

import pandas as pd
from pyspark.sql import functions as F, types as T

PAGE_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
_NS = {"xmlns": PAGE_NS}

OCR_LINES_TYPE = (
    "array<struct<line_id:int,points:array<struct<x:int,y:int>>,"
    "text:string>>"
)


# ---------------------------------------------------------------- codec
_INT = r"-?\d{1,9}"  # at most 9 digits: every value fits the int32 column
_COORDS = re.compile(
    rf"\s*({_INT},{_INT}(\s+{_INT},{_INT})*)?\s*", re.ASCII
)


def _check_coords(coords_string: str) -> str:
    """The one decode rule for ``Coords@points``: whitespace-separated
    ``x,y`` integer pairs, or a blank string (a line with no points)."""
    if not _COORDS.fullmatch(coords_string):
        raise ValueError(f"malformed Coords points {coords_string!r}")
    return coords_string


def coords_string_to_points(coords_string: str) -> list:
    """``"1,1 2,2" → [(1, 1), (2, 2)]`` (reference utils.py:15-33)."""
    return [
        tuple(map(int, p.split(",")))
        for p in _check_coords(coords_string).split()
    ]


def points_to_coords_string(points) -> str:
    """``[(1, 1), (2, 2)] → "1,1 2,2"`` (reference utils.py:36-53)."""
    return " ".join(f"{int(x)},{int(y)}" for x, y in points)


# ------------------------------------------------------------- parsers
def _text_lines(root):
    """Yield ``(points, text)`` for every PAGE ``TextLine`` of a parsed
    document, in document order — the only reader of ``Coords@points``.
    Mirrors reference graph.py:47-59 (xpath + Coords@points); the text is
    taken from ``TextEquiv/Unicode`` when present (the reference's OCR
    files carry it; its graph builder only consumes the coords)."""
    for line in root.iterfind(
        "./xmlns:Page/xmlns:TextRegion/xmlns:TextLine", _NS
    ):
        coords = line.find("./xmlns:Coords", _NS)
        uni = line.find("./xmlns:TextEquiv/xmlns:Unicode", _NS)
        text = uni.text if uni is not None and uni.text is not None else ""
        yield coords.attrib["points"], text


def parse_page_xml(xml_string: str) -> list:
    """PAGE-XML string → [{line_id, points, text}] in document order."""
    root = ElementTree.fromstring(xml_string)
    return [
        {"line_id": i, "points": coords_string_to_points(points),
         "text": text}
        for i, (points, text) in enumerate(_text_lines(root))
    ]


def ocr_lines_array(roots):
    """Parsed PAGE-XML roots → the ``ocr_lines`` column (``OCR_LINES_TYPE``)
    as one Arrow ``ListArray``, one element per root.

    ElementTree is used only for structure (:func:`_text_lines`). Each
    line's coords string is checked against the codec rule, then all of
    them are decoded by one numpy parse, and the nested arrays (points
    ``list<struct>``, lines ``list<struct>``) are assembled from flat
    buffers — no python object per point or per line."""
    import numpy as np
    import pyarrow as pa

    coords, texts, line_offsets = [], [], [0]
    for root in roots:
        for points, text in _text_lines(root):
            coords.append(_check_coords(points))
            texts.append(text)
        line_offsets.append(len(texts))
    xy = np.array(
        " ".join(coords).replace(",", " ").split(), np.int32
    ).reshape(-1, 2)
    pt_offsets = np.zeros(len(coords) + 1, dtype=np.int32)
    np.cumsum([c.count(",") for c in coords], out=pt_offsets[1:])
    points = pa.ListArray.from_arrays(
        pa.array(pt_offsets),
        pa.StructArray.from_arrays(
            [pa.array(xy[:, 0]), pa.array(xy[:, 1])], ["x", "y"]
        ),
    )
    offsets = np.asarray(line_offsets, dtype=np.int32)
    line_ids = np.arange(len(texts), dtype=np.int32) - np.repeat(
        offsets[:-1], np.diff(offsets)
    )
    lines = pa.StructArray.from_arrays(
        [pa.array(line_ids), points, pa.array(texts, pa.string())],
        ["line_id", "points", "text"],
    )
    return pa.ListArray.from_arrays(pa.array(offsets), lines)


def parse_ctdar_xml(xml_string: str) -> list:
    """cTDaR GT string → [{type, start_row, end_row, start_col, end_col,
    points}] (reference graph.py:64-76)."""
    root = ElementTree.fromstring(xml_string)
    out = []
    for cell in root.findall("./table/cell"):
        coords = cell.find("./Coords")
        out.append(
            {
                "type": cell.attrib["type"],
                "start_row": int(cell.attrib["start-row"]),
                "end_row": int(cell.attrib["end-row"]),
                "start_col": int(cell.attrib["start-col"]),
                "end_col": int(cell.attrib["end-col"]),
                "points": coords_string_to_points(coords.attrib["points"]),
            }
        )
    return out


# --------------------------------------------- plain-python serializers
def ocr_lines_to_page_xml(ocr_lines, width: int | None = None,
                          height: int | None = None) -> str:
    """Fixture-side serializer: ocr_lines rows → a PAGE-XML document the
    parser above round-trips exactly. ``width``/``height`` (optional)
    are written as the standard ``Page`` ``imageWidth``/``imageHeight``
    attributes — the file-level metadata the ``pagexml`` DataSource
    surfaces."""
    ElementTree.register_namespace("", PAGE_NS)
    root = ElementTree.Element(f"{{{PAGE_NS}}}PcGts")
    page_attrs = {}
    if width is not None:
        page_attrs["imageWidth"] = str(int(width))
    if height is not None:
        page_attrs["imageHeight"] = str(int(height))
    page = ElementTree.SubElement(root, f"{{{PAGE_NS}}}Page", page_attrs)
    region = ElementTree.SubElement(page, f"{{{PAGE_NS}}}TextRegion")
    for line in ocr_lines:
        tl = ElementTree.SubElement(region, f"{{{PAGE_NS}}}TextLine")
        pts = [(p["x"], p["y"]) for p in line["points"]]
        ElementTree.SubElement(
            tl,
            f"{{{PAGE_NS}}}Coords",
            {"points": points_to_coords_string(pts)},
        )
        te = ElementTree.SubElement(tl, f"{{{PAGE_NS}}}TextEquiv")
        uni = ElementTree.SubElement(te, f"{{{PAGE_NS}}}Unicode")
        uni.text = line["text"]
    return ElementTree.tostring(root, encoding="unicode")


# ----------------------------------------------------- Spark transforms
# The pandas-UDF object is cached per SparkSession: the decorator binds a
# JVM-side _judf, so a module-level singleton would hold a dead py4j
# gateway once a session is stopped and another started in the same
# process (as tests and perfbench do).
_SER_CACHE: dict = {"sess": None, "udf": None}


def serialize_page_xml_col(col):
    """Column transform: ``ocr_lines`` nested column → PAGE-XML string
    (used to build XML-shaped inputs from fixtures in tests/queries)."""
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if _SER_CACHE["udf"] is None or _SER_CACHE["sess"] is not sess:

        @F.pandas_udf("string")
        def ser_page(lines: pd.Series) -> pd.Series:
            return lines.map(ocr_lines_to_page_xml)

        _SER_CACHE["sess"] = sess
        _SER_CACHE["udf"] = ser_page
    return _SER_CACHE["udf"](col)


def parse_page_xml_table(df):
    """``page_xml`` string column → ``ocr_lines`` nested column, in one
    ``mapInArrow`` pass over :func:`ocr_lines_array` that keeps every
    other column (``ocr_lines`` goes last)."""
    import pyarrow as pa

    keep = [f for f in df.schema.fields if f.name != "page_xml"]
    names = [f.name for f in keep] + ["ocr_lines"]

    def fn(batches):
        for rb in batches:
            roots = map(ElementTree.fromstring,
                        rb.column("page_xml").to_pylist())
            yield pa.RecordBatch.from_arrays(
                [rb.column(n) for n in names[:-1]] + [ocr_lines_array(roots)],
                names,
            )

    out_schema = T.StructType(
        keep + [T.StructField("ocr_lines", T.DataType.fromDDL(OCR_LINES_TYPE))]
    )
    return df.mapInArrow(fn, out_schema)
