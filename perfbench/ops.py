"""The operator pass: a fixed subset of ``__spark_entry__.queries()`` over
the committed sf0.01 star-schema tables, each result fully materialized.

Results are compared by a digest of their canonical rows: columns sorted by
name, floats rounded to 6 places, rows sorted — the canonicalization of
``tools/check_oracle.py``, written out again so the benchmark does not
import the tools it might one day replace.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "data", "sf0.01")

# Chosen so each operator module and each shared stage build runs in the
# cold pass (tokens + MinHash signatures + LSH pairs via
# neardup_verified_pairs, CC labels via dedup_components, ANN vectors via
# ann_topk_lsh, the stream replay staging via stream_pii_screen) while one
# run stays within its time budget: the full 74-query suite takes ~100 s
# cold and ~50 s warm on 4 cores. Order matters: the first consumer of a
# shared stage pays for its build.
QUERIES = {
    "relational": ["q3_shipping_priority", "events_sessionize"],
    "textkit": ["neardup_verified_pairs", "dedup_minhash_lsh",
                "dedup_components", "token_stats"],
    "ann": ["ann_topk_lsh"],
    "streaming": ["stream_pii_screen"],
}


def query_names():
    return [n for names in QUERIES.values() for n in names]


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, decimal.Decimal):
        return round(float(v), 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canon(x)) for k, x in v.items()))
    return v


def digest(table) -> str:
    """sha256 of a pyarrow Table's canonical row multiset."""
    cols = sorted(table.column_names)
    columns = [table.column(c).to_pylist() for c in cols]
    rows = sorted((tuple(canon(v) for v in row) for row in zip(*columns)),
                  key=lambda t: tuple(str(x) for x in t))
    return hashlib.sha256(repr((cols, rows)).encode()).hexdigest()
