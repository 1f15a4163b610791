"""Round-6 operators: Z-order two-dimensional pruning, incremental
materialized-view maintenance, integer PageRank.

Cross-engine value equality is covered by the DuckDB mirror
(test_queries_duckdb.py runs every oracle); these tests pin the
SCALE CLAIMS the new operators make — the properties that justify
them at 100 TB, which row/hash equality alone doesn't show.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fixture_writers import write_range_layout
from table_recognition_spark.operators.common import load
from table_recognition_spark.operators import graph, incremental, layout

SF = "/root/testdata/sf0.001"


@pytest.mark.spark
def test_zorder_prunes_both_dimensions_range_only_one(spark, tmp_path):
    """The claim behind layout_zorder_stats: a single-key range layout
    leaves the OTHER key unprunable (every row group spans its whole
    domain), while the z-order layout prunes both."""
    ev = load(spark, SF, "events")
    mne, mxe = ev.agg(F.min("event_id"), F.max("event_id")).first()
    span = int(mxe) - int(mne) + 1
    lo, hi = int(mne) + span // 4, int(mne) + (span * 7) // 16

    range_dir = str(tmp_path / "range")
    write_range_layout(ev, range_dir, ["user_id"], n_files=8)
    st_range = layout.rowgroup_prune_stats(range_dir, "event_id", lo, hi)
    # user_id-ranged files: event_id stats are domain-wide -> no pruning
    assert st_range["matching"] == st_range["total"]

    row = layout.layout_zorder_stats(spark, SF).first()
    assert row["match_user"] < row["rowgroups_total"]
    assert row["match_event"] < row["rowgroups_total"]


@pytest.mark.spark
def test_mv_incremental_fold_equals_direct(spark):
    """Folding partials of N disjoint splits == aggregating the whole
    table directly — the invariant that makes incremental refresh
    trustworthy, checked for a 3-way split (the query's gate covers
    the 2-way split)."""
    ev = load(spark, SF, "events").withColumn(
        "third", F.col("event_id") % 3
    )
    splits = [ev.filter(F.col("third") == i).drop("third") for i in range(3)]
    state = incremental._partials(splits[0])
    for d in splits[1:]:
        state = incremental.merge_partials(state, incremental._partials(d))
    direct = incremental._partials(ev.drop("third"))
    cols = ["day", "event_type", "n_events", "value_c", "vmin_c", "vmax_c"]
    got = sorted(tuple(r) for r in state.select(*cols).collect())
    exp = sorted(tuple(r) for r in direct.select(*cols).collect())
    assert got == exp


@pytest.mark.spark
def test_pagerank_integer_invariants(spark):
    """Determinism floor/ceiling of the integer respec: every rank is
    >= the teleport term, nodes = co-purchased parts, and a rerun is
    bit-identical (no float summation-order dependence)."""
    li = load(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    edges = graph.copurchase_edges(li).localCheckpoint()
    r1 = {r["node"]: r["rank"] for r in graph.pagerank(edges).collect()}
    r2 = {r["node"]: r["rank"] for r in graph.pagerank(edges).collect()}
    assert r1 == r2
    assert min(r1.values()) >= 150_000
    n_nodes = edges.select("src").distinct().count()
    assert len(r1) == n_nodes
    # a node with more co-purchase partners than another should not
    # rank below the teleport-only floor while the other exceeds it;
    # weak sanity that mass actually flows
    assert max(r1.values()) > 150_000


@pytest.mark.spark
def test_scd2_merge_composes(spark):
    """Two sequential CDC folds == one from-scratch build over all
    three thirds — the property that lets the dimension absorb batches
    forever (the driver gate covers the single 2-way split)."""
    from pyspark.sql import functions as F

    ev = load(spark, SF, "events")
    mn, mx = ev.agg(F.min("ts"), F.max("ts")).first()
    t1 = mn + (mx - mn) / 3
    t2 = mn + 2 * (mx - mn) / 3
    state = incremental._scd2(ev.filter(F.col("ts") <= t1)).localCheckpoint()
    state = incremental.scd2_merge(
        state, ev.filter((F.col("ts") > t1) & (F.col("ts") <= t2))
    ).localCheckpoint()
    state = incremental.scd2_merge(state, ev.filter(F.col("ts") > t2))
    direct = incremental._scd2(ev)
    cols = ["user_id", "value_c", "valid_from", "valid_to", "is_current"]
    got = sorted(tuple(r) for r in state.select(*cols).collect())
    exp = sorted(tuple(r) for r in direct.select(*cols).collect())
    assert got == exp


@pytest.mark.spark
def test_bucketed_join_is_shuffle_free(spark):
    """The claim behind layout_bucketed_join: joining THROUGH the
    bucketed tables plans ZERO exchanges (broadcast disabled — the
    regime where the join shuffle would otherwise be unavoidable), and
    the bucketed scan is actually used."""
    import re

    layout.layout_bucketed_join(spark, SF).collect()  # writes tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("trs_fact_events").join(
            spark.table("trs_dim_users"), "user_id"
        )
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert len(re.findall(r"\n\(\d+\) Exchange", plan)) == 0, plan[:2000]
    assert "SelectedBucketsCount" in plan


@pytest.mark.spark
def test_weighted_sample_favors_heavy_docs(spark):
    """Priority sampling must overrepresent heavy documents: the
    sample's mean token count exceeds the corpus mean (deterministic
    on the fixed fixture), and re-runs pick the identical sample."""
    from table_recognition_spark.operators.textstats import sample_weighted
    from table_recognition_spark.operators.common import tokens

    s1 = [tuple(r) for r in sample_weighted(spark, SF).collect()]
    s2 = [tuple(r) for r in sample_weighted(spark, SF).collect()]
    assert s1 == s2
    sample_mean = sum(r[1] for r in s1) / len(s1)
    corpus_mean = (
        load(spark, SF, "documents")
        .agg(F.avg(F.size(tokens(F.col("text")))))
        .first()[0]
    )
    assert sample_mean > corpus_mean
