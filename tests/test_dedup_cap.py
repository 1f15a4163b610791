"""Document-frequency cap on the shingle self-join (dedup_jaccard_ngram).

An adversarial corpus where one 3-gram shingle appears in EVERY document
must not drive the token self-join quadratic: the capped operator drops
the universal shingle before pairing, the Spark result still equals the
identically-capped DuckDB oracle, and the pair fan-out stays bounded by
the rare-token df (not the corpus size).
"""
from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from table_recognition_spark.operators import dedup

N_DOCS = 60  # > JACCARD_DF_CAP would need 65+; use a cap override instead


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    """Corpus: every doc starts with the same 6 tokens (several universal
    shingles), then a unique tail; docs 2i and 2i+1 share their tail
    (true near-dups detectable only via rare shingles)."""
    rows = []
    for i in range(N_DOCS):
        tail = f"tail{i // 2} alpha{i // 2} beta{i // 2} gamma{i // 2} delta{i // 2}"
        rows.append((i, f"common common common common common common {tail}"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    d = str(tmp_path_factory.mktemp("adversarial"))
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


def test_universal_shingle_capped(spark, adversarial_dir, monkeypatch):
    monkeypatch.setattr(dedup, "JACCARD_DF_CAP", 10)
    result = (
        dedup.dedup_jaccard_ngram(spark, adversarial_dir)
        .orderBy("doc_a", "doc_b")
        .toPandas()
    )
    # oracle: identically capped DuckDB run
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{adversarial_dir}/documents.parquet/*.parquet')"
    )
    sql = dedup.dedup_jaccard_ngram_sql()  # reads the patched cap
    oracle = con.execute(
        f"SELECT * FROM ({sql}) ORDER BY doc_a, doc_b"
    ).fetchdf()
    assert len(result) == len(oracle)
    assert result["doc_a"].tolist() == oracle["doc_a"].astype(int).tolist()
    assert result["doc_b"].tolist() == oracle["doc_b"].astype(int).tolist()
    assert result["n_common"].tolist() == oracle["n_common"].astype(int).tolist()
    # the planted near-dup pairs (2i, 2i+1) are still found via their
    # rare tail shingles...
    found = set(zip(result["doc_a"], result["doc_b"]))
    planted = {(2 * i, 2 * i + 1) for i in range(N_DOCS // 2)}
    assert planted <= found

    # ...and the universal shingles were dropped before pairing: the
    # pre-aggregation pair fan-out is bounded by rare-token df, far
    # below the ~N²/2 rows the uncapped join would build
    docs = dedup._with_planted_dups(
        dedup.load(spark, adversarial_dir, "documents")
    )
    tok = dedup._shingle_df(docs).select(
        "doc_id", F.explode("shingles").alias("token")
    )
    rare = tok.join(
        tok.groupBy("token")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= 10)
        .select("token"),
        "token",
    )
    fanout = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .count()
    )
    n_total = docs.count()
    assert fanout < n_total * 40  # uncapped: > n_total²/2 via 'common'*6


def test_batch_udf_shingles_equal_hof(spark, adversarial_dir):
    """The pandas-UDF shingle builder is result-identical to the
    Catalyst HOF chain (the round-2 implementation, kept as oracle) —
    including the empty-text and len<n edge cases."""
    import pandas as pd

    from oracles import shingle_df_hof
    from table_recognition_spark.operators.dedup import _shingle_df

    extra = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [9001, 9002, 9003, 9004],
                "text": ["", "one", "two tokens", "Mixed CASE a1-b2\tx"],
            }
        )
    )
    docs = (
        spark.read.parquet(f"{adversarial_dir}/documents.parquet")
        .unionByName(extra)
    )
    a = {r["doc_id"]: sorted(r["shingles"])
         for r in _shingle_df(docs).collect()}
    b = {r["doc_id"]: sorted(r["shingles"])
         for r in shingle_df_hof(docs).collect()}
    assert a == b


def test_fused_sig_udf_equals_hof_tree(spark, adversarial_dir):
    """The fused shingle+minhash-signature pandas UDF is byte-identical
    to the Catalyst HOF signature tree (the round-2..4 implementation,
    kept as oracle in tests/oracles.py) — shingles AND all N_MINHASH
    hashes, including empty-text / len<n edge cases."""
    import pandas as pd
    from pyspark.sql import functions as F

    from oracles import minhash_sig_expr, shingle_df_hof
    from table_recognition_spark.operators.dedup import _shingle_sig_df

    extra = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [9001, 9002, 9003, 9004],
                "text": ["", "one", "two tokens", "Mixed CASE a1-b2\tx"],
            }
        )
    )
    docs = (
        spark.read.parquet(f"{adversarial_dir}/documents.parquet")
        .unionByName(extra)
    )
    fused = {
        r["doc_id"]: (sorted(r["shingles"]), list(r["sig"]))
        for r in _shingle_sig_df(docs).collect()
    }
    hof_df = shingle_df_hof(docs).select(
        "doc_id", "shingles", minhash_sig_expr(F.col("shingles")).alias("sig")
    )
    hof = {
        r["doc_id"]: (sorted(r["shingles"]), list(r["sig"]))
        for r in hof_df.collect()
    }
    assert fused == hof


@pytest.mark.spark
def test_decontaminate_flags_all_planted_leaks(spark):
    """Every planted benchmark copy (doc_id >= plant offset) must be
    flagged, and its contamination must dominate the natural background."""
    from pyspark.sql import functions as F

    from table_recognition_spark.operators.common import load
    from table_recognition_spark.operators.dedup import (
        DECONTAM_BENCH_PCT,
        DECONTAM_PLANT_OFFSET,
        _md5_roll,
        decontaminate_ngram,
    )

    sf = "/root/testdata/sf0.001"
    out = decontaminate_ngram(spark, sf)
    rows = {r.doc_id: r for r in out.collect()}

    n_bench = (
        load(spark, sf, "documents")
        .filter(_md5_roll(F.col("doc_id")) < DECONTAM_BENCH_PCT)
        .count()
    )
    planted = [d for d in rows if d >= DECONTAM_PLANT_OFFSET]
    assert len(planted) == n_bench  # no planted leak escapes
    # planted copies: near-total overlap (only the appended-token
    # shingles are novel)
    assert all(rows[d].contam_bps >= 9000 for d in planted)
