"""Order-independent digest of an extraction result, computed the same way
in Spark and in Python.

Each output span (doc_id, offset, kind, text, media_ref) is joined with
U+001F, hashed with MD5, and its first two 32-bit words are summed over all
spans. The digest is (spans, sum of word 0, sum of word 1), and the cell
count rides along. Sums commute, so neither engine's row order matters.
"""

from __future__ import annotations

import hashlib

SEP = "\x1f"


def spark_digest(flat) -> dict:
    """Digest of a DataFrame with columns doc_id, offset, kind, text,
    media_ref; runs one Spark job over the full result."""
    from pyspark.sql import functions as F

    h = F.md5(
        F.concat_ws(
            SEP, "doc_id", F.col("offset").cast("string"), "kind", "text",
            "media_ref",
        )
    )
    row = (
        flat.select(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("a"),
            F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("b"),
            (F.col("kind") == "cell").cast("long").alias("c"),
        )
        .agg(F.count(F.lit(1)), F.sum("a"), F.sum("b"), F.sum("c"))
        .collect()[0]
    )
    return {
        "spans": int(row[0]),
        "a": int(row[1] or 0),
        "b": int(row[2] or 0),
        "cells": int(row[3] or 0),
    }


def python_digest(result: dict) -> dict:
    """Digest of ``oracle.extract.extract_corpus``'s {doc_id: spans}."""
    n = a = b = cells = 0
    for doc_id, spans in result.items():
        for s in spans:
            key = SEP.join(
                (doc_id, str(s["offset"]), s["kind"], s["text"], s["media_ref"])
            )
            h = hashlib.md5(key.encode("utf-8")).hexdigest()
            a += int(h[:8], 16)
            b += int(h[8:16], 16)
            n += 1
            cells += s["kind"] == "cell"
    return {"spans": n, "a": a, "b": b, "cells": cells}


def same(got: dict, want: dict) -> bool:
    return all(got[k] == want[k] for k in ("spans", "a", "b", "cells"))
