"""Data layout for scan pruning — the write-side half of the 100-TB
read path.

Predicate pushdown only pays when the files' row-group statistics are
tight: a corpus written in arrival order has every row group spanning
the whole value domain, so min/max stats prune nothing and a selective
range scan still reads every byte. Re-clustering a table on its layout
keys before the parquet write (range buckets, or a z-order interleave
for two keys) makes row groups value-disjoint along those keys — a range
predicate then touches only the row groups whose [min, max] intersect
it, and Spark/DuckDB/any parquet reader skips the rest from footer
metadata alone.

``rowgroup_prune_stats`` measures the effect from the parquet footers
(no scan): how many row groups a predicate can skip. The pytest pins a
>= 60% skip rate on a range-laid-out table vs ~0% on the arrival-order
write of the SAME rows (tests/test_layout.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def rowgroup_prune_stats(
    path: str, column: str, lo, hi
) -> dict[str, int]:
    """Count parquet row groups whose [min, max] stats intersect
    [lo, hi] — footer metadata only, no data read. Returns
    {"total": N, "matching": M, "files": K}; a reader needs to scan
    only M. Recurses into hive-partitioned directory layouts."""
    import glob
    import os

    import pyarrow.parquet as pq

    total = matching = files = 0
    paths = sorted(
        glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    )
    for f in paths:
        md = pq.ParquetFile(f).metadata
        files += 1
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            col = next(
                (
                    g.column(i)
                    for i in range(g.num_columns)
                    if g.column(i).path_in_schema == column
                ),
                None,
            )
            if col is None:
                avail = [
                    g.column(i).path_in_schema for i in range(g.num_columns)
                ]
                raise ValueError(
                    f"column {column!r} not in parquet schema of {f}; "
                    f"available: {avail}"
                )
            st = col.statistics
            total += 1
            if st is None or st.min is None:
                matching += 1  # no stats -> reader must scan it
            elif st.min <= hi and st.max >= lo:
                matching += 1
    return {"total": total, "matching": matching, "files": files}


# --------------------------------------------------- driver-gated query
# The pruning story above, as an oracled query: lay the events table out
# by an ANALYTIC range bucketing of event_id (explicit boundaries, not
# repartitionByRange's sampled ones — sampled boundaries depend on the
# session's input-split config, which would make the written files, and
# so the footer stats, vary across driver configs). Spark then MEASURES
# how many row groups a range predicate can skip from the real parquet
# footers, while the DuckDB oracle derives the same counts relationally
# from the bucket math — a genuine cross-engine check that the layout
# produces the min/max stats the 100-TB scan-pruning story depends on.

_LAYOUT_BUCKETS = 8


def layout_prune_stats(spark, sf_dir) -> DataFrame:
    """Range-cluster events on event_id into 8 bucket files, then count
    from parquet footers how many row groups a mid-range predicate
    (span/4 .. 7·span/16 — 3/16 of the domain, straddling one bucket
    boundary) must read. One row: (files_total, rowgroups_total,
    rowgroups_matching, rows_selected, rows_total)."""
    import tempfile

    from .common import load

    ev = load(spark, sf_dir, "events")
    mn, mx, n_rows = ev.agg(
        F.min("event_id"), F.max("event_id"), F.count("*")
    ).first()
    span = int(mx) - int(mn) + 1
    lo = int(mn) + span // 4
    hi = int(mn) + (span * 7) // 16
    b = _LAYOUT_BUCKETS
    bucket = F.expr(
        f"least({b - 1}, ((event_id - {mn}) * {b}) div {span})"
    )
    import shutil

    out_dir = tempfile.mkdtemp(prefix="trs_layout_")
    try:
        (
            ev.withColumn("bucket", bucket)
            .repartition(b, "bucket")  # each bucket lands whole in one task
            .sortWithinPartitions("event_id")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out_dir)
        )
        stats = rowgroup_prune_stats(out_dir, "event_id", lo, hi)
        rows_selected = ev.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
        ).count()
    finally:
        # the stats are scalars once collected; every invocation used
        # to leak a full clustered copy of events to /tmp (ADVICE r6)
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                stats["files"],
                stats["total"],
                stats["matching"],
                rows_selected,
                int(n_rows),
            )
        ],
        "files_total long, rowgroups_total long, rowgroups_matching long, "
        "rows_selected long, rows_total long",
    )


def layout_prune_stats_sql() -> str:
    """DuckDB mirror: per-bucket min/max from the same analytic bucket
    assignment; a bucket's file/row group "matches" iff its [min, max]
    intersects [lo, hi]. Assumes one row group per bucket file, which
    holds for any sf this gate runs at (1250 rows/file at sf0.01 —
    parquet's 128 MB row-group floor is never split); pytest pins the
    assumption against the real footers (tests/test_layout.py)."""
    b = _LAYOUT_BUCKETS
    return f"""
    WITH lim AS (
      SELECT min(event_id) AS mn,
             max(event_id) - min(event_id) + 1 AS span
      FROM events
    ),
    pred AS (
      SELECT mn + span // 4 AS lo, mn + (span * 7) // 16 AS hi FROM lim
    ),
    per AS (
      SELECT least({b - 1}, ((e.event_id - l.mn) * {b}) // l.span) AS bucket,
             min(e.event_id) AS bmn, max(e.event_id) AS bmx
      FROM events e, lim l GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM per) AS BIGINT) AS files_total,
           CAST((SELECT count(*) FROM per) AS BIGINT) AS rowgroups_total,
           CAST((SELECT count(*) FROM per, pred
                 WHERE bmn <= hi AND bmx >= lo) AS BIGINT)
               AS rowgroups_matching,
           CAST((SELECT count(*) FROM events, pred
                 WHERE event_id BETWEEN lo AND hi) AS BIGINT)
               AS rows_selected,
           CAST((SELECT count(*) FROM events) AS BIGINT) AS rows_total
    """


# ------------------------------------------------------ Z-order layout
# Range clustering prunes ONE key; a table queried selectively on two
# independent keys needs multi-dimensional clustering. Z-ordering
# (Morton order — the technique behind Delta/Iceberg OPTIMIZE ZORDER)
# interleaves the bits of the two keys' fixed-width ranks so that
# lexicographic order on the interleaved value keeps BOTH dimensions
# locally clustered: every bucket of consecutive z-values spans only a
# fraction of each key's domain, so row-group min/max stats prune
# selective predicates on either column. The query below lays events
# out by z(user_id, event_id) and measures, from the real parquet
# footers, how many row groups a mid-range predicate on EACH column
# must read; the DuckDB oracle derives the same counts relationally
# from the identical bit-interleave math — a cross-engine check that
# the written stats deliver two-dimensional pruning.

_Z_BITS = 16  # per-key rank width; z fits in 32 bits
_ZB = 8  # bucket files = top 3 z bits (2 of key-1, 1 of key-2)


def _z_terms(x: str, y: str, shift: str) -> str:
    """Bit-interleave of two ``_Z_BITS``-wide ints; ``shift`` picks the
    dialect (Spark ``shiftleft(v, n)`` has no ``<<`` in 3.x-compatible
    form; DuckDB only has the operator)."""
    terms = []
    for i in range(_Z_BITS):
        if shift == "fn":
            terms.append(f"shiftleft(shiftright({x}, {i}) & 1, {2 * i + 1})")
            terms.append(f"shiftleft(shiftright({y}, {i}) & 1, {2 * i})")
        else:
            terms.append(f"((({x} >> {i}) & 1) << {2 * i + 1})")
            terms.append(f"((({y} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)  # disjoint bits: + is |


def layout_zorder_stats(spark, sf_dir) -> DataFrame:
    """Z-order events on (user_id, event_id) into 8 bucket files, then
    count from parquet footers how many row groups a 3/16-domain
    predicate on each column must read. One row: (files_total,
    rowgroups_total, match_user, match_event, rows_sel_user,
    rows_sel_event, rows_total)."""
    import tempfile

    from .common import load

    ev = load(spark, sf_dir, "events")
    mnu, mxu, mne, mxe, n_rows = ev.agg(
        F.min("user_id"), F.max("user_id"),
        F.min("event_id"), F.max("event_id"), F.count("*"),
    ).first()
    span_u = int(mxu) - int(mnu) + 1
    span_e = int(mxe) - int(mne) + 1
    lou, hiu = int(mnu) + span_u // 4, int(mnu) + (span_u * 7) // 16
    loe, hie = int(mne) + span_e // 4, int(mne) + (span_e * 7) // 16
    rank_u = f"((user_id - {mnu}) * {1 << _Z_BITS}) div {span_u}"
    rank_e = f"((event_id - {mne}) * {1 << _Z_BITS}) div {span_e}"
    import shutil

    out_dir = tempfile.mkdtemp(prefix="trs_zorder_")
    try:
        (
            ev.withColumn("rx", F.expr(rank_u))
            .withColumn("ry", F.expr(rank_e))
            .withColumn("z", F.expr(_z_terms("rx", "ry", "fn")))
            .withColumn("bucket", F.expr(f"z div {1 << (2 * _Z_BITS - 3)}"))
            .drop("rx", "ry")
            .repartition(_ZB, "bucket")  # each bucket lands whole in one task
            .sortWithinPartitions("z")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(out_dir)
        )
        st_u = rowgroup_prune_stats(out_dir, "user_id", lou, hiu)
        st_e = rowgroup_prune_stats(out_dir, "event_id", loe, hie)
        sel_u = ev.filter(F.col("user_id").between(lou, hiu)).count()
        sel_e = ev.filter(F.col("event_id").between(loe, hie)).count()
    finally:
        # scalars once collected; this used to leak a full z-ordered
        # copy of events per invocation (ADVICE r6)
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                st_u["files"], st_u["total"], st_u["matching"],
                st_e["matching"], sel_u, sel_e, int(n_rows),
            )
        ],
        "files_total long, rowgroups_total long, match_user long, "
        "match_event long, rows_sel_user long, rows_sel_event long, "
        "rows_total long",
    )


def layout_zorder_stats_sql() -> str:
    """DuckDB mirror: per-z-bucket min/max of each key from the same
    rank/interleave math; a bucket "matches" iff its [min, max] on that
    key intersects the predicate. One row group per bucket file — the
    same sf-scale assumption layout_prune_stats pins in pytest."""
    z = _z_terms("rx", "ry", "op")
    return f"""
    WITH lim AS (
      SELECT min(user_id) AS mnu,
             max(user_id) - min(user_id) + 1 AS span_u,
             min(event_id) AS mne,
             max(event_id) - min(event_id) + 1 AS span_e
      FROM events
    ),
    pred AS (
      SELECT mnu + span_u // 4 AS lou, mnu + (span_u * 7) // 16 AS hiu,
             mne + span_e // 4 AS loe, mne + (span_e * 7) // 16 AS hie
      FROM lim
    ),
    ranked AS (
      SELECT ((user_id - mnu) * {1 << _Z_BITS}) // span_u AS rx,
             ((event_id - mne) * {1 << _Z_BITS}) // span_e AS ry,
             user_id, event_id
      FROM events, lim
    ),
    bucketed AS (
      SELECT ({z}) // {1 << (2 * _Z_BITS - 3)} AS bucket,
             min(user_id) AS umn, max(user_id) AS umx,
             min(event_id) AS emn, max(event_id) AS emx
      FROM ranked GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM bucketed) AS BIGINT) AS files_total,
           CAST((SELECT count(*) FROM bucketed) AS BIGINT)
               AS rowgroups_total,
           CAST((SELECT count(*) FROM bucketed, pred
                 WHERE umn <= hiu AND umx >= lou) AS BIGINT) AS match_user,
           CAST((SELECT count(*) FROM bucketed, pred
                 WHERE emn <= hie AND emx >= loe) AS BIGINT) AS match_event,
           CAST((SELECT count(*) FROM events, pred
                 WHERE user_id BETWEEN lou AND hiu) AS BIGINT)
               AS rows_sel_user,
           CAST((SELECT count(*) FROM events, pred
                 WHERE event_id BETWEEN loe AND hie) AS BIGINT)
               AS rows_sel_event,
           CAST((SELECT count(*) FROM events) AS BIGINT) AS rows_total
    """


# ---------------------------------------------------- bucketed join
# The third leg of the layout story: CO-LOCATED JOINS. Range/Z-order
# clustering prunes scans; bucketing removes the join shuffle itself.
# Writing both sides bucketed + sorted on the join key means every
# future join on that key is a zipped per-bucket merge — no Exchange,
# no Sort, at any scale. That is the difference between an ETL stack
# that re-shuffles the fact table on every join and one that pays the
# layout cost once at write time. The driver-gated query writes the
# events fact and a per-user dimension bucketed by user_id, joins them
# THROUGH the bucketed tables, and returns a per-user rollup equal to
# the plain-join DuckDB oracle; the shuffle-free plan property
# (no Exchange/Sort above either bucketed scan, with broadcast
# disabled) is pinned by tests/test_ops_round6.py.

_N_BUCKETS = 8


def write_bucketed(df, name: str, key: str, n_buckets: int = _N_BUCKETS):
    """Write ``df`` as a bucketed+sorted managed table — the layout
    every subsequent equi-join on ``key`` reuses shuffle-free.

    Drops any prior table AND its orphaned warehouse location first:
    the default in-memory catalog forgets tables across sessions but
    their directories persist, and saveAsTable refuses a managed
    location it did not create (LOCATION_ALREADY_EXISTS)."""
    import os
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    # resolve to an absolute path: a relative warehouse dir would make
    # the rmtree depend on the caller's cwd (ADVICE r6)
    wh = os.path.abspath(
        urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    )
    shutil.rmtree(os.path.join(wh, name.lower()), ignore_errors=True)
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(name)
    )


def layout_bucketed_join(spark, sf_dir) -> DataFrame:
    """Bucket events and a per-user dimension by user_id, join the
    bucketed tables, and roll up: (user_id, n_events, value_c, n_days)
    — value-equal to the plain join (the DuckDB oracle); the point is
    the PLAN, which contains no join exchange."""
    from .common import load

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_c"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
    )
    dim = ev.groupBy("user_id").agg(
        F.countDistinct("day").alias("n_days")
    )
    write_bucketed(ev, "trs_fact_events", "user_id")
    write_bucketed(dim, "trs_dim_users", "user_id")
    fact_b = spark.table("trs_fact_events")
    dim_b = spark.table("trs_dim_users")
    return (
        fact_b.join(dim_b, "user_id")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("v_c").alias("value_c"),
            F.max("n_days").alias("n_days"),
        )
        .orderBy("user_id")
    )


BUCKETED_JOIN_SQL = """
WITH fact AS (
  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS v_c,
         strftime(ts, '%Y-%m-%d') AS day
  FROM events
),
dim AS (SELECT user_id, count(DISTINCT day) AS n_days FROM fact GROUP BY 1)
SELECT f.user_id, count(*) AS n_events,
       CAST(sum(f.v_c) AS BIGINT) AS value_c,
       CAST(max(d.n_days) AS BIGINT) AS n_days
FROM fact f JOIN dim d ON f.user_id = d.user_id
GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "layout_prune_stats": layout_prune_stats,
    "layout_zorder_stats": layout_zorder_stats,
    "layout_bucketed_join": layout_bucketed_join,
}
ORACLES = {
    "layout_prune_stats": layout_prune_stats_sql(),
    "layout_zorder_stats": layout_zorder_stats_sql(),
    "layout_bucketed_join": BUCKETED_JOIN_SQL,
}
