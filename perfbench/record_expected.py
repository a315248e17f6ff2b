#!/usr/bin/env python3
"""Record ``expected.json``: row count and output digest of every
benchmark query on the generated tables, from an oracle-green run.

    python3 perfbench/record_expected.py

A query with DuckDB oracle SQL must match it (``testing.check_query``)
before its digest is recorded; a rows-only query records its row count.
Refuses to write anything if a query is not oracle-green, except the
known defects listed in ``KNOWN_DIVERGENT``: those keep a row-count
check and carry their defect note in the file.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402

#: queries whose values differ from the oracle on the benchmark's tables
KNOWN_DIVERGENT = {
    "q_tpch_q2": "round(best_price, 2) differs from DuckDB on a half-way "
                 "unit price (Spark 191.14, oracle 191.15); row count agrees",
}


def main() -> int:
    import tables
    import workloads
    from hls_stac_parquet_spark.queries import REGISTRY
    from hls_stac_parquet_spark.testing import check_query

    settings = run.session_settings()
    run._setup_env(settings)
    sf_dir = tables.ensure_tables(os.path.join(run.WORK, "data"))
    spark = run._start_session(settings)
    names = sorted(n for n in REGISTRY if n.startswith("q_tpch_")) + workloads.OPERATOR_MIX
    out, bad = {}, []
    try:
        for name in names:
            res = check_query(spark, sf_dir, name)
            known = KNOWN_DIVERGENT.get(name)
            if not res.match and not (known and res.spark_rows == res.oracle_rows):
                bad.append(f"{name}: {res.detail}")
                continue
            df = REGISTRY[name].fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            out[name] = {
                "rows": len(rows),
                "digest": workloads.output_digest(df.columns, rows)
                if REGISTRY[name].oracle and not known else None,
            }
            if known:
                out[name]["known_defect"] = known
            print(name, out[name], file=sys.stderr, flush=True)
            spark.catalog.clearCache()
    finally:
        spark.stop()
    if bad:
        print("not oracle-green:\n  " + "\n  ".join(bad), file=sys.stderr)
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
