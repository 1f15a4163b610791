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
  ``_COORDS``: whitespace-separated ``x,y`` integer pairs of at most
  9 digits; a blank string is a line with no points; anything else,
  a missing ``Coords`` or a missing ``points`` included, is an error
  ("malformed Coords points");
- the plain-python reference readers :func:`parse_page_xml` and
  :func:`parse_ctdar_xml`, and the fixture-side serializer
  :func:`ocr_lines_to_page_xml` (the reference never writes PAGE-XML,
  so only the parse direction has reference semantics);
- the Spark readers, built from JVM expressions only (``from_xml`` /
  ``to_xml`` and higher-order functions, no Python worker):
  :func:`page_xml_lines` turns a PAGE-XML string column into the
  engine's ``ocr_lines`` column, :func:`read_page_xml` reads a directory
  of PAGE-XML files into ``media_ref, width, height, ocr_lines``, and
  :func:`to_page_xml` writes the string column back.

Both sides match elements by local name, so a PAGE document in any
namespace (the 2019 or 2013 schema, a prefixed ``pc:`` form, or none)
gives its lines. Line ids follow document order, matching the
reference's ``Node.NODE_COUNTER`` assignment.
"""

from __future__ import annotations

import re
from xml.etree import ElementTree

from pyspark.sql import functions as F

PAGE_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"


# ---------------------------------------------------------------- codec
_INT = r"-?\d{1,9}"  # at most 9 digits: every value fits the int32 column
_COORDS = re.compile(
    rf"\s*({_INT},{_INT}(\s+{_INT},{_INT})*)?\s*", re.ASCII
)


def coords_string_to_points(coords_string: str | None) -> list:
    """``"1,1 2,2" → [(1, 1), (2, 2)]`` (reference utils.py:15-33) under
    the one decode rule: whitespace-separated ``x,y`` integer pairs, or a
    blank string (a line with no points). ``None`` (no ``Coords`` element
    or no ``points``) is malformed."""
    if coords_string is None or not _COORDS.fullmatch(coords_string):
        raise ValueError(f"malformed Coords points {coords_string!r}")
    return [tuple(map(int, p.split(","))) for p in coords_string.split()]


def points_to_coords_string(points) -> str:
    """``[(1, 1), (2, 2)] → "1,1 2,2"`` (reference utils.py:36-53)."""
    return " ".join(f"{int(x)},{int(y)}" for x, y in points)


# ------------------------------------------------------------- parsers
def _coords_points(elem, path: str) -> str | None:
    """``points`` of the ``Coords`` element at ``path`` under ``elem``, or
    None when the element or the attribute is missing."""
    coords = elem.find(path)
    return None if coords is None else coords.get("points")


def parse_page_xml(xml_string: str) -> list:
    """PAGE-XML string → [{line_id, points, text}] in document order.

    Mirrors reference graph.py:47-59 (xpath + Coords@points), matching
    elements by local name; the text is the first
    ``TextEquiv/Unicode`` when present (the reference's OCR files carry
    it; its graph builder only consumes the coords)."""
    root = ElementTree.fromstring(xml_string)
    out = []
    for i, line in enumerate(
        root.iterfind("./{*}Page/{*}TextRegion/{*}TextLine")
    ):
        uni = line.find("./{*}TextEquiv/{*}Unicode")
        out.append({
            "line_id": i,
            "points": coords_string_to_points(
                _coords_points(line, "./{*}Coords")
            ),
            "text": "" if uni is None or uni.text is None else uni.text,
        })
    return out


def parse_ctdar_xml(xml_string: str) -> list:
    """cTDaR GT string → [{type, start_row, end_row, start_col, end_col,
    points}] (reference graph.py:64-76)."""
    root = ElementTree.fromstring(xml_string)
    out = []
    for cell in root.findall("./table/cell"):
        out.append(
            {
                "type": cell.attrib["type"],
                "start_row": int(cell.attrib["start-row"]),
                "end_row": int(cell.attrib["end-row"]),
                "start_col": int(cell.attrib["start-col"]),
                "end_col": int(cell.attrib["end-col"]),
                "points": coords_string_to_points(
                    _coords_points(cell, "./Coords")
                ),
            }
        )
    return out


# --------------------------------------------- plain-python serializers
def ocr_lines_to_page_xml(ocr_lines, width: int | None = None,
                          height: int | None = None) -> str:
    """Fixture-side serializer: ocr_lines rows → a PAGE-XML document the
    parser above round-trips exactly. ``width``/``height`` (optional)
    are written as the standard ``Page`` ``imageWidth``/``imageHeight``
    attributes — the file-level metadata :func:`read_page_xml`
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


# ------------------------------------------------------ Spark expressions
# The expressions are Spark SQL text: parsing one costs a single JVM
# call, where building the same tree from Column calls costs hundreds
# (~0.3 s per query for the two PAGE-XML directions, measured on 4 cores).

# the codec rule for the JVM regex engine: Java's \s and \d are the same
# ASCII classes as Python's under re.ASCII; \z, unlike $, does not match
# before a trailing line terminator
_COORDS_JVM = r"\A(?:" + _COORDS.pattern + r")\z"


def _page(xml: str) -> str:
    """SQL: PAGE-XML string expression → its ``Page`` struct (null when
    the document has none). ``ignoreNamespace`` matches by local name, as
    ``{*}`` does above; surrounding spaces of the text are kept, as
    ElementTree keeps them."""
    return (
        f"from_xml({xml}, 'Page struct<_imageWidth:int,_imageHeight:int,"
        "TextRegion:array<struct<TextLine:array<struct<"
        "Coords:struct<_points:string>,"
        "TextEquiv:array<struct<Unicode:string>>>>>>>', "
        "map('ignoreNamespace', 'true', 'ignoreSurroundingSpaces', 'false', "
        "'mode', 'FAILFAST')).Page"
    )


def _ocr_lines(page: str) -> str:
    """SQL: ``Page`` struct expression → the ``ocr_lines`` column, ``[]``
    for a page without lines; a line whose points break the codec rule
    raises."""
    return (
        f"transform(flatten(transform(coalesce({page}.TextRegion, array()), "
        "r -> coalesce(r.TextLine, array()))), (ln, i) -> named_struct("
        "'line_id', i, "
        f"'points', CASE WHEN ln.Coords._points RLIKE r'{_COORDS_JVM}' "
        r"THEN transform(filter(split(ln.Coords._points, r'\s+'), "
        "t -> t != ''), t -> named_struct("
        "'x', CAST(substring_index(t, ',', 1) AS INT), "
        "'y', CAST(substring_index(t, ',', -1) AS INT))) "
        "ELSE raise_error(concat('malformed Coords points ', "
        "coalesce(concat(\"'\", ln.Coords._points, \"'\"), 'None'))) END, "
        "'text', coalesce(get(filter(ln.TextEquiv, "
        "e -> e.Unicode IS NOT NULL), 0).Unicode, '')))"
    )


def page_xml_lines(xml: str):
    """PAGE-XML string column (by name) → the engine's ``ocr_lines``
    column, equal to :func:`parse_page_xml` on every document."""
    return F.expr(_ocr_lines(_page(f"`{xml}`")))


def read_page_xml(spark, path: str):
    """Directory of PAGE-XML files (``*.xml``, recursively; Spark skips
    empty files and names starting with ``_`` or ``.``) → one row per
    file::

        media_ref string   -- file stem (the reference keys images this way)
        width int          -- Page@imageWidth (0 when absent)
        height int         -- Page@imageHeight (0 when absent)
        ocr_lines          -- as :func:`page_xml_lines`

    Files are decoded as UTF-8: invalid bytes, or an XML declaration
    that names another encoding, raise instead of decoding into wrong
    text."""
    enc = (r"regexp_extract(xml, r'^\uFEFF?<\?xml[^>]*?\sencoding\s*=\s*."
           r"([A-Za-z][A-Za-z0-9._-]*)', 1)")
    utf8 = (
        f"CASE WHEN lower({enc}) IN ('', 'utf-8', 'utf8') THEN xml ELSE "
        f"raise_error(concat('PAGE-XML file ', path, ' declares encoding ', "
        f"{enc}, '; only UTF-8 is read')) END"
    )
    return spark.read.format("binaryFile").load(
        path, recursiveFileLookup=True, pathGlobFilter="*.xml"
    ).selectExpr(
        "path", "decode(content, 'UTF-8') AS xml"
    ).selectExpr(
        r"regexp_extract(path, r'([^/]*)\.xml$', 1) AS media_ref",
        _page(utf8) + " AS page",
    ).selectExpr(
        "media_ref",
        "coalesce(page._imageWidth, 0) AS width",
        "coalesce(page._imageHeight, 0) AS height",
        _ocr_lines("page") + " AS ocr_lines",
    )


def to_page_xml(lines: str, width: str, height: str):
    """``ocr_lines``, ``width`` and ``height`` columns (by name) →
    PAGE-XML string column (``to_xml``) that :func:`parse_page_xml`
    round-trips."""
    return F.expr(
        f"to_xml(named_struct('_xmlns', '{PAGE_NS}', 'Page', named_struct("
        f"'_imageWidth', `{width}`, '_imageHeight', `{height}`, "
        f"'TextRegion', named_struct('TextLine', transform(`{lines}`, "
        "ln -> named_struct('Coords', named_struct('_points', array_join("
        "transform(ln.points, p -> concat_ws(',', p.x, p.y)), ' ')), "
        "'TextEquiv', named_struct('Unicode', ln.text)))))), "
        "map('rowTag', 'PcGts'))"
    )
