"""PAGE-XML / cTDaR-XML ingestion — the reference's actual input formats.

The reference reads OCR text lines from PAGE-XML
(``/root/reference/table_recognition/graph/graph.py:47-59``: xpath
``./Page/TextRegion/TextLine``, ``Coords@points`` coordinate strings) and
ground-truth cells from cTDaR XML (``graph.py:64-76``: ``./table/cell``
with ``Coords@points`` plus ``type``/``start-row``/``end-row``/
``start-col``/``end-col`` attributes). Coordinate strings use the
``"x,y x,y …"`` codec (``graph/utils.py:15-53``, SURVEY S5/X1).

This module provides:

- the pure coordinate codec (both directions),
- plain-python parsers/serializers for both XML dialects (serializers are
  the fixture side of round-trip tests — the reference never writes
  PAGE-XML, so only the parse direction has reference semantics),
- Arrow-batched Spark column transforms (pandas UDFs) that turn an XML
  string column into the engine's ``ocr_lines`` / ``cells`` nested
  columns, so a user holding the reference's files can ingest them
  straight into the extraction pipeline. Line ids follow document order,
  matching the reference's ``Node.NODE_COUNTER`` assignment.
"""

from __future__ import annotations

from xml.etree import ElementTree

import pandas as pd
from pyspark.sql import functions as F, types as T

PAGE_NS = "http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15"
_NS = {"xmlns": PAGE_NS}

OCR_LINES_TYPE = (
    "array<struct<line_id:int,points:array<struct<x:int,y:int>>,"
    "text:string>>"
)
GT_CELLS_TYPE = (
    "array<struct<type:string,start_row:int,end_row:int,start_col:int,"
    "end_col:int,points:array<struct<x:int,y:int>>>>"
)


# ---------------------------------------------------------------- codec
def coords_string_to_points(coords_string: str) -> list:
    """``"1,1 2,2" → [(1, 1), (2, 2)]`` (reference utils.py:15-33)."""
    return [
        (int(p.split(",")[0]), int(p.split(",")[1]))
        for p in coords_string.split(" ")
    ]


def points_to_coords_string(points) -> str:
    """``[(1, 1), (2, 2)] → "1,1 2,2"`` (reference utils.py:36-53)."""
    return " ".join(f"{int(x)},{int(y)}" for x, y in points)


# ------------------------------------------------- plain-python parsers
def parse_page_xml(xml_string: str) -> list:
    """PAGE-XML string → [{line_id, points, text}] in document order.

    Mirrors reference graph.py:47-59 (xpath + Coords@points); the text is
    taken from ``TextEquiv/Unicode`` when present (the reference's OCR
    files carry it; its graph builder only consumes the coords)."""
    root = ElementTree.fromstring(xml_string)
    lines = root.findall("./xmlns:Page/xmlns:TextRegion/xmlns:TextLine", _NS)
    out = []
    for i, line in enumerate(lines):
        coords = line.find("./xmlns:Coords", _NS)
        pts = coords_string_to_points(coords.attrib["points"])
        uni = line.find("./xmlns:TextEquiv/xmlns:Unicode", _NS)
        text = uni.text if uni is not None and uni.text is not None else ""
        out.append({"line_id": i, "points": pts, "text": text})
    return out


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


def gt_cells_to_ctdar_xml(cells) -> str:
    """Fixture-side serializer for cTDaR GT (shape mirrors the reference's
    own writer, dataset_editing/Table.py:49-57)."""
    root = ElementTree.Element("document")
    table = ElementTree.SubElement(root, "table")
    for c in cells:
        cell = ElementTree.SubElement(
            table,
            "cell",
            {
                "type": c["type"],
                "start-row": str(c["start_row"]),
                "end-row": str(c["end_row"]),
                "start-col": str(c["start_col"]),
                "end-col": str(c["end_col"]),
            },
        )
        pts = [(p["x"], p["y"]) for p in c["points"]]
        ElementTree.SubElement(
            cell, "Coords", {"points": points_to_coords_string(pts)}
        )
    return ElementTree.tostring(root, encoding="unicode")


# ----------------------------------------------------- Spark transforms
# pandas-UDF objects are cached per SparkSession: the decorator binds a
# JVM-side _judf, so a module-level singleton would hold a dead py4j
# gateway once a session is stopped and another started in the same
# process (as tests and perfbench do).
_UDF_CACHE: dict = {"sess": None, "udfs": {}}


def _cached_udf(name, build):
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if _UDF_CACHE["sess"] is not sess:
        _UDF_CACHE["sess"] = sess
        _UDF_CACHE["udfs"] = {}
    udfs = _UDF_CACHE["udfs"]
    if name not in udfs:
        udfs[name] = build()
    return udfs[name]


def parse_page_xml_col(col):
    """Column transform: PAGE-XML string → ``ocr_lines`` nested column
    (Arrow-batched; xml.etree per row inside the batch — parsing is
    inherently per-document, the batching amortizes the python boundary)."""

    def build():
        @F.pandas_udf(OCR_LINES_TYPE)
        def parse_page(xmls: pd.Series) -> pd.Series:
            return xmls.map(
                lambda s: [
                    {
                        "line_id": r["line_id"],
                        "points": [
                            {"x": x, "y": y} for x, y in r["points"]
                        ],
                        "text": r["text"],
                    }
                    for r in parse_page_xml(s)
                ]
            )

        return parse_page

    return _cached_udf("parse_page", build)(col)


def parse_ctdar_xml_col(col):
    """Column transform: cTDaR GT string → ``cells`` nested column."""

    def build():
        @F.pandas_udf(GT_CELLS_TYPE)
        def parse_ctdar(xmls: pd.Series) -> pd.Series:
            return xmls.map(
                lambda s: [
                    {
                        "type": r["type"],
                        "start_row": r["start_row"],
                        "end_row": r["end_row"],
                        "start_col": r["start_col"],
                        "end_col": r["end_col"],
                        "points": [
                            {"x": x, "y": y} for x, y in r["points"]
                        ],
                    }
                    for r in parse_ctdar_xml(s)
                ]
            )

        return parse_ctdar

    return _cached_udf("parse_ctdar", build)(col)


def serialize_page_xml_col(col):
    """Column transform: ``ocr_lines`` nested column → PAGE-XML string
    (used to build XML-shaped inputs from fixtures in tests/queries)."""

    def build():
        @F.pandas_udf("string")
        def ser_page(lines: pd.Series) -> pd.Series:
            return lines.map(ocr_lines_to_page_xml)

        return ser_page

    return _cached_udf("ser_page", build)(col)


def parse_page_xml_table(df, xml_col: str = "page_xml",
                         out_col: str = "ocr_lines"):
    """Arrow-native PAGE-XML ingestion (the scale path): one
    ``mapInArrow`` pass that keeps every other column and replaces
    ``xml_col`` with the parsed ``ocr_lines`` nested column.

    ElementTree is used only for STRUCTURE (find lines / attributes);
    all coordinate decoding is numpy over the document's concatenated
    coords strings, and the nested Arrow arrays (points list<struct>,
    lines list<struct>) are assembled directly from flat buffers — no
    per-point (or per-line) python dict ever exists, unlike the
    pandas-UDF column transform above (kept for small inputs / API
    compatibility). Result-identical: pinned by tests/test_sources_xml.
    """
    import numpy as np
    import pyarrow as pa

    out_field = pa.field(
        out_col,
        pa.list_(
            pa.struct(
                [
                    pa.field("line_id", pa.int32()),
                    pa.field(
                        "points",
                        pa.list_(
                            pa.struct(
                                [
                                    pa.field("x", pa.int32()),
                                    pa.field("y", pa.int32()),
                                ]
                            )
                        ),
                    ),
                    pa.field("text", pa.string()),
                ]
            )
        ),
    )

    def fn(batches):
        for rb in batches:
            xml_idx = rb.schema.get_field_index(xml_col)
            xmls = rb.column(xml_idx).to_pylist()
            texts: list = []
            coord_strs: list = []
            n_pts: list = []
            line_offsets = [0]
            for s in xmls:
                root = ElementTree.fromstring(s)
                lines = root.findall(
                    "./xmlns:Page/xmlns:TextRegion/xmlns:TextLine", _NS
                )
                for line in lines:
                    c = line.find("./xmlns:Coords", _NS)
                    ps = c.attrib["points"]
                    coord_strs.append(ps)
                    n_pts.append(ps.count(",") if ps else 0)
                    uni = line.find(
                        "./xmlns:TextEquiv/xmlns:Unicode", _NS
                    )
                    texts.append(
                        uni.text
                        if uni is not None and uni.text is not None
                        else ""
                    )
                line_offsets.append(len(texts))
            # one numpy parse over all points in the batch
            joined = " ".join(coord_strs).replace(",", " ")
            flat = (
                np.array(joined.split(), dtype=np.int64)
                if joined
                else np.empty(0, dtype=np.int64)
            )
            xy = flat.reshape(-1, 2).astype(np.int32)
            pt_offsets = np.zeros(len(n_pts) + 1, dtype=np.int32)
            np.cumsum(np.asarray(n_pts, dtype=np.int32), out=pt_offsets[1:])
            pts_struct = pa.StructArray.from_arrays(
                [pa.array(xy[:, 0], pa.int32()),
                 pa.array(xy[:, 1], pa.int32())],
                ["x", "y"],
            )
            pts_list = pa.ListArray.from_arrays(
                pa.array(pt_offsets, pa.int32()), pts_struct
            )
            line_ids = np.concatenate(
                [
                    np.arange(b - a, dtype=np.int32)
                    for a, b in zip(line_offsets, line_offsets[1:])
                ]
            ) if texts else np.empty(0, dtype=np.int32)
            line_struct = pa.StructArray.from_arrays(
                [pa.array(line_ids, pa.int32()), pts_list,
                 pa.array(texts, pa.string())],
                ["line_id", "points", "text"],
            )
            lines_list = pa.ListArray.from_arrays(
                pa.array(np.asarray(line_offsets, dtype=np.int32)),
                line_struct,
            )
            arrays = [
                rb.column(j) for j in range(rb.num_columns) if j != xml_idx
            ] + [lines_list]
            names = [
                rb.schema.field(j).name
                for j in range(rb.num_columns)
                if j != xml_idx
            ] + [out_col]
            yield pa.RecordBatch.from_arrays(arrays, names)

    out_schema = T.StructType.fromDDL(
        ", ".join(
            f"{f.name} {df.schema[f.name].dataType.simpleString()}"
            for f in df.schema.fields
            if f.name != xml_col
        )
        + f", {out_col} {OCR_LINES_TYPE}"
    )
    _ = out_field
    return df.mapInArrow(fn, out_schema)
