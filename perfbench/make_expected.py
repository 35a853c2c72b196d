"""Regenerate perfbench/expected.json, the committed digests for the
default seed.

    python3 perfbench/make_expected.py

Stages the default-seed extraction corpus and records its input digest
(doc count, payload bytes, payload hash), the oracle's output digest and
its PAGE-XML render digest.
Runs the operator subset and records each query's result digest, after
checking every digest against the query's DuckDB twin from
``__spark_entry__.oracle_sql()`` over the same tables; a query whose Spark
and DuckDB digests differ is not committed and the script fails.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import ops, run  # noqa: E402
from perfbench.corpus import render_oracle, stage  # noqa: E402

DEFAULT_SEED = 42


def duckdb_digests(names) -> dict:
    import duckdb
    from t2p_spark.relational import TABLES

    import __spark_entry__ as entry

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(ops.SF_DIR, f"{t}.parquet")
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    oracles = entry.oracle_sql()
    return {n: ops.digest(con.sql(oracles[n]).arrow()) for n in names}


def main() -> int:
    os.environ["PYTHONPATH"] = run.ROOT
    work = os.path.join(run.CACHE, "make-expected")
    sess = run.Session(work)
    out = {"default_seed": DEFAULT_SEED}
    try:
        spark = sess.start(f"local[{run.CORES}]")
        for name, wl in run.WORKLOADS.items():
            if wl["kind"] != "extract":
                continue
            meta = stage(run.CACHE, wl["family"], DEFAULT_SEED, wl["n_docs"])
            out[name] = {"n_docs": wl["n_docs"], "input": meta["input"],
                         "output": meta["output"],
                         "render": render_oracle(run.CACHE, wl["family"],
                                                 DEFAULT_SEED, wl["n_docs"])}
        import __spark_entry__ as entry
        from t2p_spark.relational import register_views

        register_views(spark, ops.SF_DIR)
        fns = entry.queries()
        names = ops.query_names()
        spark_d = {n: ops.digest(fns[n](spark, ops.SF_DIR).toArrow())
                   for n in names}
    finally:
        sess.shutdown()
        run.clean(work)
    twin = duckdb_digests(names)
    bad = [n for n in names if spark_d[n] != twin[n]]
    for n in names:
        print(f"{'OK  ' if n not in bad else 'DIFF'} {n} {spark_d[n][:16]}")
    if bad:
        print(f"Spark and DuckDB disagree on {bad}; nothing written")
        return 1
    out["operators_sf001"] = {"digests": spark_d}
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print("wrote perfbench/expected.json")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
