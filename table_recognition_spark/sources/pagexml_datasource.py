"""``spark.read.format("pagexml")`` — the reference's directory-of-XML
corpus as a first-class Spark source.

The reference ingests OCR by globbing a directory of PAGE-XML files and
parsing each one (``/root/reference/table_recognition/graph/graph.py:
47-59``). ``parse_page_xml_table`` covers a user who already has the XML
*strings* in a table; this module covers the file layout itself with a
PySpark 4 Python DataSource (`pyspark.sql.datasource`): file listing
happens once at planning time on the driver (cheap metadata), files are
round-robined into input partitions, and each executor parses only its
own files, each once, and yields one Arrow ``RecordBatch`` per partition
built by the same ``ocr_lines_array`` as the string-table transform — the
same list/partition/parse split a JVM FileFormat does, expressed in the
public Python API. One row per file:

    media_ref string   -- file stem (the reference keys images this way)
    width int          -- Page@imageWidth (0 when absent)
    height int         -- Page@imageHeight (0 when absent)
    ocr_lines          -- the engine's nested OCR type (OCR_LINES_TYPE)

Usage::

    register_pagexml_source(spark)          # once per session
    df = (spark.read.format("pagexml")
          .option("numPartitions", "16").load("/corpus/ocr"))

Scale shape: listing is O(files) driver-side metadata (at 10^12-doc
scale the listing itself would come from the table format's manifest —
this source is the seam where that plugs in); parse is embarrassingly
parallel per file; no shuffle anywhere.
"""

from __future__ import annotations

import glob
import os
from xml.etree import ElementTree

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

from .pagexml import OCR_LINES_TYPE, _NS, ocr_lines_array

PAGEXML_SCHEMA = (
    f"media_ref string, width int, height int, ocr_lines {OCR_LINES_TYPE}"
)


class _FilesPartition(InputPartition):
    def __init__(self, files: list):
        self.files = files


class PageXmlReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("pagexml source requires a load(path)")
        self.path = path
        self.n_partitions = int(options.get("numPartitions", "8"))

    def partitions(self):
        files = sorted(
            glob.glob(os.path.join(self.path, "**", "*.xml"), recursive=True)
        )
        n = max(1, min(self.n_partitions, len(files) or 1))
        # round-robin keeps partitions balanced when file sizes are
        # similar (the OCR corpus case); a size-aware packing would go
        # here if they weren't
        return [_FilesPartition(files[i::n]) for i in range(n)]

    def read(self, partition: _FilesPartition):
        import pyarrow as pa

        roots = [ElementTree.parse(f).getroot() for f in partition.files]
        pages = [root.find("./xmlns:Page", _NS) for root in roots]
        attrs = [{} if page is None else page.attrib for page in pages]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(
                    [os.path.splitext(os.path.basename(f))[0]
                     for f in partition.files],
                    pa.string(),
                ),
                pa.array([int(a.get("imageWidth", 0)) for a in attrs],
                         pa.int32()),
                pa.array([int(a.get("imageHeight", 0)) for a in attrs],
                         pa.int32()),
                ocr_lines_array(roots),
            ],
            ["media_ref", "width", "height", "ocr_lines"],
        )


class PageXmlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "pagexml"

    def schema(self) -> str:
        return PAGEXML_SCHEMA

    def reader(self, schema) -> PageXmlReader:
        return PageXmlReader(self.options)


def register_pagexml_source(spark) -> None:
    """Register the format with this session (idempotent)."""
    spark.dataSource.register(PageXmlDataSource)
