"""Shared helpers for operator queries.

Cross-engine determinism rules used throughout (Spark result must
value-hash-equal the DuckDB oracle):

- **Integer-exact aggregates**: money/value sums go through
  ``cast(round(x*100) as bigint)`` ("cents") so partial-aggregation order
  can't perturb a double sum. Ratios/averages are then derived from exact
  integers with an *identically shaped* double expression in both engines
  (same IEEE ops on same inputs → bit-identical).
- **No float comparisons across engines**: thresholds compare integers
  (e.g. 25·dot² ≥ 16·‖a‖²·‖b‖² instead of cosine ≥ 0.8).
- **Strings for dates**: timestamps are formatted to strings before output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def cents(col):
    """sum-safe integer cents of a double column (exact cross-engine)."""
    return F.round(col * 100, 0).cast("long")


def cents_sql(expr: str) -> str:
    return f"cast(round(({expr})*100) as bigint)"


NORM_SQL = "trim(regexp_replace(lower({c}), '\\s+', ' ', 'g'))"


def norm_text(col):
    """lowercase, collapse whitespace, trim — the canonical normalization."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


TOKEN_PATTERN = "[a-z0-9]+"


def tokens(col):
    # idx=0 → whole match (Spark defaults to group 1)
    return F.regexp_extract_all(norm_text(col), F.lit(TOKEN_PATTERN), 0)


def tokens_sql(c: str) -> str:
    return f"regexp_extract_all({NORM_SQL.format(c=c)}, '{TOKEN_PATTERN}')"
