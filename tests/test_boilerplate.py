import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from oracles import duckdb_strip_sql
from table_recognition_spark.core.boilerplate import (
    spark_strip_expr,
    strip_boilerplate,
)
from table_recognition_spark.fixtures.generate import make_corpus

CASES = [
    "<nav>menu</nav><p>Main content here.</p><footer>foot</footer>",
    "<NAV class='x'>a</NAV><div><p>Keep  this</p></div><script>var x=1;</script>",
    "plain text no tags",
    "<aside>ad</aside><p>One</p><aside>ad2</aside><p>Two</p>",
    "<header>h</header>body <b>bold</b> text<noscript>ns</noscript>",
    "",
    "<p>unclosed <nav>menu",  # unclosed block: block regex no-match, tags stripped
]


def _fixture_texts():
    docs, _, _ = make_corpus(20, 0, seed=7, text_only_frac=1.0)
    return [s["text"] for d in docs for s in d["spans"] if s["kind"] == "text"]


def test_python_hand_cases():
    assert (
        strip_boilerplate(CASES[0]) == "Main content here."
    )
    assert strip_boilerplate(CASES[1]) == "Keep this"
    assert strip_boilerplate(CASES[2]) == "plain text no tags"
    assert strip_boilerplate(CASES[3]) == "One Two"
    assert strip_boilerplate(CASES[5]) == ""
    assert strip_boilerplate(CASES[6]) == "unclosed menu"


@pytest.mark.spark
def test_jvm_matches_python(spark):
    texts = CASES + _fixture_texts()
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        r["out"]
        for r in df.select(spark_strip_expr(F.col("text")).alias("out")).collect()
    ]
    assert got == [strip_boilerplate(t) for t in texts]


def test_duckdb_matches_python():
    texts = CASES + _fixture_texts()
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"text": texts}))
    got = [
        r[0]
        for r in con.execute(
            f"select {duckdb_strip_sql('text')} from t"
        ).fetchall()
    ]
    assert got == [strip_boilerplate(t) for t in texts]
