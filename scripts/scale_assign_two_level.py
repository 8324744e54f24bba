"""Measure clustering.assign_two_level vs the flat Arrow argmin at
the fourth-decade scale (2M vectors, derived k=1414) — the cost model
says flat is n·k distance cells and two-level is n·√k·(1+probe).

Reuses scale_semantic_4d's embeddings-only ×1000 corpus (rebuilt on
demand).  Centroids are the derived-k stratified picks (the same
construction semantic_dedup's Lloyd init uses for its first pass), so
both paths assign against an identical centroid matrix.  Records wall
time for each path plus the agreement fraction at the default probe
width (probe=8), and verifies two-level never reports a better
distance than flat (it searches a candidate subset).

Usage: python scripts/scale_assign_two_level.py
Writes scripts/scale_out_assign2l.json.
"""
from __future__ import annotations

import json
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

DST = os.environ.get("SPARK_GRAFT_SCALE_DST", f"{ROOT}/.scale/emb2m")
OUT = os.environ.get("SPARK_GRAFT_SCALE_OUT", "scale_out_assign2l.json")


def main() -> int:
    from nifi_datasynthesizer_spark import get_spark
    from nifi_datasynthesizer_spark.io import read_table
    from nifi_datasynthesizer_spark.operators import clustering as CL
    from nifi_datasynthesizer_spark.cache import pin, release_caches

    spark = get_spark(app="scale_assign2l")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(DST, "embeddings.parquet")):
        import scale_semantic_4d as S4
        t0 = time.perf_counter()
        S4.build(spark)
        print(f"built {DST} in {time.perf_counter() - t0:.1f}s", flush=True)

    emb = read_table(spark, DST, "embeddings")
    n = emb.count()
    k = max(8, math.isqrt(n))
    quant = pin(emb.select(
        "vec_id", CL._quantize(F.col("embedding")).alias("xi")))
    quant.count()
    cent_ids = sorted({(j * n) // k for j in range(k)})
    cents = [list(r.xi) for r in
             quant.filter(F.col("vec_id").isin(cent_ids))
             .orderBy("vec_id").collect()]
    print(f"n={n} k={len(cents)}", flush=True)

    def timed(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 2)

    flat_sec = timed(CL._assign(quant, cents))
    two_sec = timed(CL.assign_two_level(quant, cents, probe_supers=8))

    # agreement + never-better-distance on a deterministic 1% sample
    samp = quant.filter(F.pmod(F.col("vec_id"), F.lit(100)) == 0)
    fl = CL._assign(samp, cents).select(
        "vec_id", F.col("cluster").alias("fc"), F.col("dist_q").alias("fd"))
    tw = CL.assign_two_level(samp, cents, probe_supers=8).select(
        "vec_id", F.col("cluster").alias("tc"), F.col("dist_q").alias("td"))
    j = fl.join(tw, "vec_id")
    stats = j.agg(
        F.count("*").alias("n"),
        F.sum((F.col("fc") == F.col("tc")).cast("long")).alias("agree"),
        F.sum((F.col("td") < F.col("fd")).cast("long")).alias("better")
    ).collect()[0]
    assert stats.better == 0, "two-level reported a better distance"
    release_caches()

    out = {"n_vectors": n, "k": len(cents), "probe_supers": 8,
           "flat_sec": flat_sec, "two_level_sec": two_sec,
           "speedup": round(flat_sec / max(two_sec, 1e-9), 2),
           "sample_n": stats.n,
           "agreement_ppm": int(stats.agree * 1_000_000 // stats.n)}
    print(out, flush=True)
    with open(os.path.join(os.path.dirname(__file__), OUT), "w") as f:
        json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
