"""Regenerate ``perfbench/expected.json``: row count and order-insensitive
value hash (``scripts/canon.py``) of every query ``headline_mix`` runs,
over the benchmark's generated tables.

A query with a DuckDB oracle (``registry.ORACLES``) takes its expected
values from the oracle, and the script fails if Spark disagrees. A query
without one takes them from Spark and is marked ``"source": "spark"``.

Usage (from the repository root): ``python3 perfbench/make_expected.py``.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402  (sets the environment first)


def main() -> int:
    run.pin_host()
    import duckdb

    from lakehouse_variance_spark import registry
    from lakehouse_variance_spark.session import build_session
    from perfbench import datagen, workloads
    from scripts.canon import canon_hash, register_views

    datagen.ensure_tables(run.DATA_DIR)
    registry.load_all()
    spark = build_session(app_name="perfbench-expected",
                          extra_conf=run.SESSION_CONF)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    register_views(con, run.DATA_DIR)
    out, bad = {}, []
    names = sorted(workloads.HEADLINE_SUBSET)
    try:
        for q in names:
            pdf = registry.QUERIES[q](spark, run.DATA_DIR).toPandas()
            got = {"rows": len(pdf), "hash": canon_hash(pdf)}
            if q in registry.ORACLES:
                odf = con.sql(registry.ORACLES[q]).df()
                want = {"rows": len(odf), "hash": canon_hash(odf), "source": "duckdb"}
                if (got["rows"], got["hash"]) != (want["rows"], want["hash"]):
                    bad.append(q)
            else:
                want = {**got, "source": "spark"}
            out[q] = want
            print(f"{q}: {want}", flush=True)
    finally:
        run.stop_spark(spark)
    with open(workloads.EXPECTED_PATH, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    if bad:
        print(f"Spark differs from the DuckDB oracle on: {bad}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
