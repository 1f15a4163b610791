"""Explicit skew-handling utilities (SURVEY.md §4).

AQE's skew-join splitting covers most cases at runtime; these helpers are
for the places AQE can't see — aggregation skew and deliberate key
salting of a known-hot dimension:

- ``with_salt``: a deterministic per-row salt; partial-aggregating per
  (key, salt) and then merging turns one hot reducer into ``n_salts``
  parallel ones.
- ``salt_join``: replicate the small side ``n_salts`` times and salt the
  big side's key so a hot join key spreads over ``n_salts`` tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def with_salt(df: DataFrame, key: str, n_salts: int) -> DataFrame:
    """Deterministic salt derived from the WHOLE row (not the key — a
    hot key would map to one salt) so re-runs partition identically
    (no rand() — resumability)."""
    cols = [F.col(c) for c in df.columns] + [F.lit("salt")]
    return df.withColumn(
        "_salt", F.pmod(F.xxhash64(*cols), F.lit(n_salts))
    )


def salt_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = 16
) -> DataFrame:
    """Equi-join where ``big`` has a hot ``key``: the small side is
    exploded across all salt values so each salted big-side partition
    finds its match locally."""
    big_s = with_salt(big, key, n_salts)
    small_s = small.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumn("_salt", F.col("_salt").cast("long"))
    return big_s.join(small_s, [key, "_salt"]).drop("_salt")


# --------------------------------------------------- driver-gated query
# The salting story under the hash gate: a fact stream with a
# deliberately hot key (~30% of all rows collapse onto key 0 — the
# shape AQE's skew handling only fixes for sort-merge plans it can
# see) joined to a per-key dimension THROUGH the salt path, then
# re-aggregated. The DuckDB oracle runs the plain unsalted join — the
# gate proves salting is a pure execution-layer rewrite with identical
# results. The plan property (the join exchange hashes on
# (key, _salt), spreading the hot key over n_salts reducers) is pinned
# by tests/test_skew.py with broadcast disabled, the regime where
# salting matters.

_SKEW_SALTS = 8
_FACT_SQL = (
    "CASE WHEN event_id % 10 < 3 THEN 0 ELSE user_id END"
)


def skew_salted_join(spark, sf_dir) -> DataFrame:
    from ..operators.common import load

    ev = load(spark, sf_dir, "events")
    fact = ev.select(
        F.expr(_FACT_SQL).alias("k"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_c"),
    )
    dim = (
        fact.select("k").distinct()
        .withColumn("w", F.pmod("k", F.lit(7)) + 1)
    )
    return (
        salt_join(fact, dim, "k", _SKEW_SALTS)
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("v_c") * F.col("w")).alias("weighted_c"),
        )
        .orderBy("k")
    )


SKEW_SALTED_JOIN_SQL = f"""
WITH fact AS (
  SELECT {_FACT_SQL} AS k,
         CAST(round(value * 100) AS BIGINT) AS v_c
  FROM events
),
dim AS (SELECT DISTINCT k, k % 7 + 1 AS w FROM fact)
SELECT k, count(*) AS n, CAST(sum(v_c * w) AS BIGINT) AS weighted_c
FROM fact JOIN dim USING (k) GROUP BY k ORDER BY k
"""


QUERIES = {"pipeline_skew_salted_join": skew_salted_join}
ORACLES = {"pipeline_skew_salted_join": SKEW_SALTED_JOIN_SQL}
