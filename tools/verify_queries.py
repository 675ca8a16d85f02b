"""Oracle runner: run registry queries in a bare session and hash-compare
each against its DuckDB oracle (column names, order-insensitive normalized
rows, dtype guard), as callers of `__spark_entry__.py` check it.

    python tools/verify_queries.py --names q1_pricing_summary llm_exact_dedup
    python tools/verify_queries.py --all-new        # names in no CORRECTNESS file
    python tools/verify_queries.py --all-new --names extra1 extra2   # the union
    python tools/verify_queries.py --all --sf DATA/sf0.001 --sf DATA/sf0.01

Run from the repository root: the bare session's Python workers find the
package through the working directory. Names are plain (no registry
number). ``--sf`` may repeat; every scale runs the same names (default:
the test suite's sf0.01 tables). A multi-scale ``--all`` sweep also
catches scale-dependent rounding and empty-group edges. The session is
bare on purpose: a caller of `__spark_entry__.py` builds its own, so repo
code must configure itself. Exit 1 on any mismatch or error.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _check(spark, con, name, fn, sql, sf) -> str | None:
    """None when the query matches its oracle (or has none), else a reason."""
    from tests.oracle import dtype_guard, rowset

    df = fn(spark, sf)
    srows = df.collect()
    if sql is None:
        print(f"{name}: rows-only ({len(srows)} rows)")
        return None
    dtype_guard(df, srows, con, sql, name)
    orows = con.execute(sql).fetchall()
    ocols = [d[0] for d in con.description]
    if sorted(df.columns) != sorted(ocols):
        return f"SCHEMA MISMATCH {sorted(df.columns)} vs {sorted(ocols)}"
    a = rowset([tuple(r) for r in srows], df.columns)
    b = rowset(orows, ocols)
    if a == b:
        print(f"{name}: MATCH ({len(a)} rows)")
        return None
    lines = [f"VALUE MISMATCH spark={len(a)} oracle={len(b)}"]
    for side, rows, other in (("spark", a, b), ("oracle", b, a)):
        seen = set(map(repr, other))
        lines += [f"  {side}-only: {r}" for r in rows if repr(r) not in seen][:3]
    return "\n".join(lines)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--all", action="store_true", help="every registry query")
    p.add_argument("--all-new", action="store_true",
                   help="queries named in no CORRECTNESS_r*.json file")
    p.add_argument("--names", nargs="+", default=[], help="plain query names")
    p.add_argument("--sf", action="append", help="data directory (repeatable)")
    args = p.parse_args()

    import __spark_entry__ as entry
    from pyspark.sql import SparkSession

    from hdp2_5_hive2_spark.queries.driver_order import green_union
    from tests.conftest import SF_CORRECT
    from tests.oracle import duckdb_conn

    qmap = {k.split("_", 1)[1]: v for k, v in entry.queries().items()}
    omap = {k.split("_", 1)[1]: v for k, v in entry.oracle_sql().items()}
    names = set(args.names)
    if args.all:
        names |= set(qmap)
    if args.all_new:
        names |= set(qmap) - green_union()
    if not names:
        p.error("give --all, --all-new or --names")
    unknown = sorted(names - set(qmap))
    if unknown:
        p.error(f"unknown query names: {unknown}")

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    for sf in args.sf or [SF_CORRECT]:
        con = duckdb_conn(sf)
        bad = []
        for name in sorted(names):
            try:
                reason = _check(spark, con, name, qmap[name], omap.get(name), sf)
            except Exception as exc:  # noqa: BLE001 — the run must finish
                reason = f"ERROR {type(exc).__name__}: {str(exc)[:300]}"
            if reason:
                print(f"{name}: {reason}")
                bad.append(name)
        con.close()
        print(f"{sf}: {len(names)} run, {len(bad)} failed {bad}")
        failures += len(bad)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
