"""Dataset-editing and split-loading operators.

- :func:`repair_gt_rows` — the reference's GT row-index repair
  (``/root/reference/dataset_editing/Table.py:27-41``, SURVEY A3): if the
  deepest header row index exceeds the shallowest data row index
  (``max(end_row | header) > min(start_row | data)``), every data cell's
  row range is shifted down by the difference. Expressed with JVM
  higher-order functions over the nested ``cells`` column — one pass, no
  shuffle, no Python.
- :func:`filter_split` — the reference's dataset split loader
  (``/root/reference/table_recognition/dataset.py:14-39``, SURVEY S7):
  train/valid/test file-name lists select the rows to process. Here the
  split list is a plain id list → an ``isin`` predicate the optimizer
  pushes to the scan (or a broadcast semi-join when the list is a
  DataFrame of ids).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def repair_gt_rows(gt_df: DataFrame, cells_col: str = "cells") -> DataFrame:
    """Shift data cells' row ranges so headers never reach below them.

    For each table: ``hm = max(end_row | type='header')``,
    ``dm = min(start_row | type='data')``; if both exist and ``hm > dm``,
    add ``hm - dm`` to every data cell's start/end row. Non-data cells and
    tables without both kinds are untouched (reference Table.py:31-32
    early-returns in those cases)."""
    c = F.col(cells_col)
    headers = F.filter(c, lambda x: x["type"] == "header")
    datas = F.filter(c, lambda x: x["type"] == "data")
    hm = F.array_max(F.transform(headers, lambda x: x["end_row"]))
    dm = F.array_min(F.transform(datas, lambda x: x["start_row"]))
    diff = hm - dm
    needs = hm.isNotNull() & dm.isNotNull() & (hm > dm)
    shifted = F.transform(
        c,
        lambda x: F.when(
            x["type"] == "data",
            F.struct(
                x["type"].alias("type"),
                (x["start_row"] + diff).alias("start_row"),
                (x["end_row"] + diff).alias("end_row"),
                x["start_col"].alias("start_col"),
                x["end_col"].alias("end_col"),
                x["points"].alias("points"),
            ),
        ).otherwise(x),
    )
    return gt_df.withColumn(
        cells_col, F.when(needs, shifted).otherwise(c)
    )


def filter_split(df: DataFrame, split, id_col: str = "doc_id") -> DataFrame:
    """Keep only rows whose id is in the split.

    ``split`` may be a python list (→ ``isin``, constant-folded and pushed
    to the scan) or a single-column DataFrame of ids (→ broadcast
    left-semi join, the shape for splits too large to inline)."""
    if isinstance(split, DataFrame):
        ids = split.toDF(id_col)
        return df.join(F.broadcast(ids), id_col, "left_semi")
    return df.where(F.col(id_col).isin(list(split)))
