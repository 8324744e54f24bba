"""Fourth-decade spot check (r7 verdict item #6): derived-k SemDeDup
at a corpus where k = isqrt(n) reaches the THOUSANDS.

The third-decade harness (scale_check.py) measured the derived-√n-k
configuration up to 200k vectors (k=447); SURVEY §6 claims the
assignment path "carries k ≈ thousands comfortably" via the Arrow
mapInPandas kernel (clustering._assign switches off the literal SQL
fold above 4096 k·dim cells).  This script measures that claim once:
2M vectors → k = 1414, fit bounded by fit_mod_for_cap (the production
combo), pair work contracted at ~n^1.5.

The corpus derives embeddings ONLY (semantic_dedup reads nothing
else): replica k applies a per-replica isometry — dimension
permutation by a k-dependent odd stride (coprime with dim=64) plus
deterministic sign flips — expressed as k-dependent column algebra so
ONE crossJoin plan covers all 1000 replicas (a 1000-way union is
minutes of driver analysis).  Replica 0 is the identity.  Same design
as scale_check.py's embedding replicas: norms and within-replica
structure exact, cross-replica similarity scrambled.

Usage: python scripts/scale_semantic_4d.py
Env: SPARK_GRAFT_SCALE_REPLICAS (default 1000), .._SRC, .._DST, .._OUT
Writes scripts/scale_out_semantic4d.json.
"""
from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

SRC = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SCALE_DST", f"{ROOT}/.scale/emb2m")
REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALE_REPLICAS", "1000"))
OUT = os.environ.get("SPARK_GRAFT_SCALE_OUT", "scale_out_semantic4d.json")
DIM = 64


def build(spark) -> None:
    emb = spark.read.parquet(os.path.join(SRC, "embeddings.parquet"))
    n = emb.count()
    rep = F.broadcast(spark.range(REPLICAS).withColumnRenamed("id", "k"))
    stride = F.when(F.col("k") == 0, F.lit(1)).otherwise(
        2 * ((F.col("k") - 1) % 31) + 3)

    def out_j(j: int):
        pos = ((F.lit(j) * stride) % DIM + 1).cast("int")
        sign = F.when(F.col("k") == 0, F.lit(1.0)).otherwise(
            F.when(F.expr(f"(({j} * 2654435761 + k) div 128) % 2 = 0"),
                   F.lit(1.0)).otherwise(F.lit(-1.0)))
        return (F.element_at("embedding", pos) * sign).cast("float")

    df = emb.crossJoin(rep).select(
        (F.col("vec_id") + F.col("k") * n).alias("vec_id"),
        F.array(*[out_j(j) for j in range(DIM)]).alias("embedding"),
        "label")
    os.makedirs(DST, exist_ok=True)
    tmp = os.path.join(DST, "embeddings.parquet.dir")
    df.repartition(32).write.mode("overwrite").parquet(tmp)
    # single file with fine row groups (the third-decade layout lesson:
    # scan parallelism = row-group count)
    import pyarrow as pa
    import pyarrow.parquet as pq
    files = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    tables = [pq.read_table(os.path.join(tmp, f)) for f in files]
    pq.write_table(pa.concat_tables(tables),
                   os.path.join(DST, "embeddings.parquet"),
                   row_group_size=65536)
    shutil.rmtree(tmp)


def main() -> int:
    from nifi_datasynthesizer_spark import get_spark
    from nifi_datasynthesizer_spark.io import read_table
    from nifi_datasynthesizer_spark.operators import clustering as CL
    from nifi_datasynthesizer_spark.cache import release_caches

    spark = get_spark(app="scale_semantic_4d")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(DST, "embeddings.parquet")):
        t0 = time.perf_counter()
        build(spark)
        print(f"built {DST} in {time.perf_counter() - t0:.1f}s", flush=True)

    emb = read_table(spark, DST, "embeddings")
    n = emb.count()
    k = max(8, math.isqrt(n))
    fit_mod = CL.fit_mod_for_cap(emb, 100_000)
    assert k * DIM > 4096, "spot check must cross the Arrow-assign ceiling"
    print(f"n={n} derived k={k} fit_mod={fit_mod}", flush=True)

    t0 = time.perf_counter()
    pairs = CL.semantic_dedup(emb, k=None, iters=2, threshold=0.4,
                              fit_mod=fit_mod).count()
    sec = round(time.perf_counter() - t0, 2)
    release_caches()
    print(f"semantic_dedup derived-k: {sec}s, {pairs} pairs", flush=True)

    out = {"n_vectors": n, "derived_k": k, "fit_mod": fit_mod,
           "assign_path": "arrow (k*dim > 4096)",
           "pairs": pairs, "sec": sec,
           "src": SRC, "replicas": REPLICAS}
    path = os.path.join(os.path.dirname(__file__), OUT)
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"wrote {path}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
