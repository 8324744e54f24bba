"""Driver-sim correctness sweep at an arbitrary SF.

Runs every queries() entry with an oracle_sql() mirror against DuckDB
at the given sf dir (default sf0.01, the driver's gate scale) and
prints one line per query.  Exits nonzero if any mismatch.

Usage: python scripts/check_sf.py [sf_dir] [query ...]

Awkward-parallelism replay (odd core count, odd shuffle partitions):
    SPARK_GRAFT_CPUS=5 python scripts/check_sf.py
"""
from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from nifi_datasynthesizer_spark.cache import release_caches
from tests.conftest import compare_with_duckdb


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from nifi_datasynthesizer_spark import get_spark
    # local[SPARK_GRAFT_CPUS] (default: every core), as many shuffle
    # partitions
    spark = get_spark(app="check_sf")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name in sorted(queries):
        if only and name not in only:
            continue
        try:
            df = queries[name](spark, sf_dir)
            if name in oracles:
                compare_with_duckdb(df, oracles[name], sf_dir=sf_dir,
                                    float_tol=1e-12)
                print(f"{name}: OK (oracle)")
            else:
                n = df.count()
                print(f"{name}: OK (rows-only, {n} rows)")
        except Exception as e:
            failed.append(name)
            msg = str(e).splitlines()[0][:200] if str(e) else type(e).__name__
            print(f"{name}: FAIL {msg}")
            if only:
                traceback.print_exc()
        finally:
            # free the entry's pins and scratch directories
            release_caches()
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
