"""Time individual declared queries in isolation through the noop sink.

Usage:
    python scripts/time_query.py name [name ...] [--runs N]

Prints per-query [run1, run2, ...] seconds plus min/median.  Uses the
same session factory and noop-sink methodology as bench.py so numbers
are comparable, but a fresh session per script run isolates the
measurement from bench ordering effects.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from nifi_datasynthesizer_spark import get_spark  # noqa: E402
from nifi_datasynthesizer_spark.cache import release_caches  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=", 1)[1])
    spark = get_spark(app="time_query")
    spark.sparkContext.setLogLevel("ERROR")
    q = entrymod.queries()
    # warm JVM/codegen/parquet paths like bench.py
    from pyspark.sql import functions as F
    from nifi_datasynthesizer_spark.io import read_table
    (read_table(spark, SF_DIR, "lineitem").groupBy("l_returnflag")
     .agg(F.sum("l_quantity"))
     .write.format("noop").mode("overwrite").save())
    out = {}
    for name in args:
        ts = []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            q[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
            release_caches()
        ts_sorted = sorted(ts)
        out[name] = {"runs": ts, "min": ts_sorted[0],
                     "med": ts_sorted[len(ts_sorted) // 2]}
        print(name, json.dumps(out[name]))
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
