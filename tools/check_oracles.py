"""Oracle gate at any scale.

Runs every registry entry on Spark and its DuckDB twin (the entry's
oracle SQL) over the same parquet tables, through the same comparison the
tier-1 suite uses (``kgforge.queries.oracle_gate``): row count, column
names, and an order-insensitive value multiset.

Usage: python tools/check_oracles.py [--sf 0.001|0.01|0.1] [--only q01,...]
"""

from __future__ import annotations

import argparse
import sys
import time
import traceback

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="0.001")
    ap.add_argument("--only", default=None)
    args = ap.parse_args()
    sf_dir = f"/root/testdata/sf{args.sf}"

    from kgforge.queries import REGISTRY, oracle_gate
    from kgforge.session import get_spark

    spark = get_spark(app_name="check-oracles")
    spark.sparkContext.setLogLevel("ERROR")
    con = oracle_gate.duckdb_views(sf_dir)
    only = set(args.only.split(",")) if args.only else None

    n_pass = n_fail = 0
    for name, entry in sorted(REGISTRY.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            n_rows, problems = oracle_gate.check(spark, con, sf_dir, entry)
        except Exception:
            print(f"FAIL {name}: ERROR")
            traceback.print_exc(limit=3)
            n_fail += 1
            continue
        dt = time.time() - t0
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{dt:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS {name}: {n_rows} rows [{dt:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
