"""The committed truth of the extraction queries, checked without Spark.

``dist/expected/<query>.parquet`` was written by the Spark pipeline it
now gates (``scripts/gen_expected.py``), so the DuckDB replay in
``test_queries_duckdb`` pins determinism, not correctness. Here each
extraction query's committed parquet must equal the no-Spark numpy
oracle (``oracle.extract_corpus``) over the same inputs: the sf0.01
documents turned into interleaved docs by a plain-Python mirror of
``pipeline.flagship.interleaved_docs``, and the seeded fixture media.
"""

import os

import pyarrow.parquet as pq
import pytest

from table_recognition_spark.core import gnn, visual
from table_recognition_spark.fixtures.generate import make_corpus
from table_recognition_spark.oracle.extract import extract_corpus
from table_recognition_spark.pipeline.flagship import N_MEDIA

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"

# query -> (weights loader, edge strategy); extract_from_pagexml reads the
# same media through PAGE-XML, which must not change the result
QUERIES = {
    "extract_interleaved": (gnn.default_weights, "knn"),
    "extract_interleaved_visibility": (gnn.default_weights, "visibility"),
    "extract_interleaved_visual": (visual.default_weights, "knn"),
    "extract_from_pagexml": (gnn.default_weights, "knn"),
}


def _interleaved_docs(sf_dir):
    """Every document gets a boilerplate-wrapped text span; every third
    also references fixture image ``doc_id mod N_MEDIA``."""
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    docs = []
    for i, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        spans = [{
            "kind": "text",
            "text": f"<nav>site menu</nav><p>{text}</p><footer>(c) corp</footer>",
            "media_ref": "", "offset": 0,
        }]
        if i % 3 == 0:
            spans.append({"kind": "media", "text": "",
                          "media_ref": f"img_{i % N_MEDIA:05d}", "offset": 1})
        docs.append({"doc_id": f"doc_{i:06d}", "spans": spans})
    return docs


@pytest.fixture(scope="module")
def inputs():
    return _interleaved_docs(SF), make_corpus(0, N_MEDIA, seed=42)[1]


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_committed_truth_equals_numpy_oracle(inputs, name):
    load_weights, strategy = QUERIES[name]
    docs, media = inputs
    expected = sorted(
        (doc_id, s["offset"], s["kind"], s["text"], s["media_ref"])
        for doc_id, spans in extract_corpus(
            docs, media, load_weights(), strategy
        ).items()
        for s in spans
    )
    path = os.path.join(_REPO, "dist", "expected", f"{name}.parquet")
    committed = pq.read_table(
        path, columns=["doc_id", "offset", "kind", "text", "media_ref"]
    ).to_pylist()
    got = sorted(tuple(r.values()) for r in committed)
    assert len(got) == len(expected)
    assert got == expected
