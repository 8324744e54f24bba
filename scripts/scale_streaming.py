"""Streaming decade validation: drain wall-time and STATE-STORE size
for the stateful Structured Streaming operators at 1x vs 10x events.

The batch scale story (scripts/scale_check.py, SURVEY §6) covers three
decades; this harness adds the streaming dimension the batch sweeps
can't see: does each operator's state grow with the KEY population it
is contracted to (windows, users, sessions) or with the EVENT count?
At 100 TB/day the difference decides whether a query survives: keyed
state is O(active keys) and flat-scales across state-store partitions,
while horizon-bounded state (streaming dedup) is O(events within the
watermark) and the horizon is the sizing lever.

Method: the sf0.1 events table (100k rows / 1.5k users / 30 days) is
replicated with the same key-shift transform scale_check.py uses
(replica k shifts user_id/event_id into a fresh key range — per-user
timing preserved exactly, 10x users), then written as a DIRECTORY of
N_FILES part files so `readStream.parquet` replays it as N_FILES
micro-batches (maxFilesPerTrigger=1).  Both scales see the SAME number
of micro-batches, each 10x bigger — the per-batch-overhead-vs-row-cost
split is visible in the time ratio, and state persistence across
batches is exercised identically.  Watermarks are set past the 30-day
span so no row is ever late (part files are not time-ordered).

Metrics per (operator, scale), from StreamingQueryProgress:
- sec: bounded-drain wall time (min of RUNS runs)
- input_rows / batches: replay accounting (must equal the corpus)
- state_rows: max stateOperators.numRowsTotal across the drain
- out_rows: memory-sink row count where the sink is cheap (windowed)

Usage: python scripts/scale_streaming.py  [op ...]
Writes scripts/scale_out_streaming.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

SRC = os.environ.get("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
BASE = os.environ.get("SPARK_GRAFT_SCALE_STREAM_DIR", f"{ROOT}/.scale/stream")
OUT = os.environ.get("SPARK_GRAFT_SCALE_OUT", "scale_out_streaming.json")
N_FILES = 16
# e.g. SPARK_GRAFT_SCALE_STREAM_SCALES=1,10,100 for a second decade
SCALES = [int(s) for s in os.environ.get(
    "SPARK_GRAFT_SCALE_STREAM_SCALES", "1,10").split(",")]
RUNS = int(os.environ.get("SPARK_GRAFT_SCALE_STREAM_RUNS", "2"))
# past the 30-day event span: no row is ever late under unordered replay
WM = "40 days"


def build(spark, replicas: int, dst: str) -> None:
    ev = spark.read.parquet(os.path.join(SRC, "events.parquet"))
    n_ev = ev.count()
    n_users = ev.agg(F.max("user_id")).first()[0] + 1
    # replicate via a broadcast crossJoin with the replica index — ONE
    # 3-node plan at any replica count (an R-way union is R plan nodes
    # and minutes of analysis at R=1000), fully parallel
    rep = F.broadcast(spark.range(replicas).withColumnRenamed("id", "k"))
    # spread the source BEFORE the multiplying crossJoin: the testdata
    # events file is one row group, so without this the entire
    # replicas× row generation runs in ONE scan task (the row-group
    # scan-parallelism lesson, harness edition — at 3000 replicas the
    # single task writes the whole multi-GB shuffle alone)
    ev = ev.repartition(32)
    df = ev.crossJoin(rep).select(
        (F.col("event_id") + F.col("k") * n_ev).alias("event_id"), "ts",
        (F.col("user_id") + F.col("k") * n_users).alias("user_id"),
        "event_type", "value", "props")
    df.repartition(N_FILES).write.mode("overwrite").parquet(dst)


def drain(stream, mode: str, sink: str = "noop", name: str = "scale_sink"):
    """Run a bounded stream to completion; return (metrics, out_rows)."""
    from nifi_datasynthesizer_spark import streaming as ST
    w = stream.writeStream.outputMode(mode).trigger(availableNow=True)
    if sink == "memory":
        q = w.format("memory").queryName(name).start()
    else:
        q = w.format("noop").start()
    try:
        q.awaitTermination()
        progs = ST.progress(q)
    finally:
        q.stop()
    input_rows = sum(int(p.get("numInputRows", 0)) for p in progs)
    batches = sum(1 for p in progs if int(p.get("numInputRows", 0)) > 0)
    state_rows = 0
    state_bytes = 0
    for p in progs:
        for so in (p.get("stateOperators") or []):
            state_rows = max(state_rows, int(so.get("numRowsTotal", 0)))
            # bytes/state-row is the provider sizing rule: heap
            # provider reports memoryUsedBytes; RocksDB additionally
            # reports its on-disk SST footprint in customMetrics
            b = int(so.get("memoryUsedBytes", 0) or 0)
            cm = so.get("customMetrics") or {}
            b = max(b, int(cm.get("rocksdbSstFileSize", 0) or 0))
            state_bytes = max(state_bytes, b)
    out_rows = (stream.sparkSession.table(name).count()
                if sink == "memory" else None)
    return {"input_rows": input_rows, "batches": batches,
            "state_rows": state_rows, "state_bytes": state_bytes,
            "out_rows": out_rows}


def _src(spark, ev_dir: str):
    from nifi_datasynthesizer_spark.io import normalize_event_ts
    raw = spark.read.parquet(ev_dir)
    s = (spark.readStream.schema(raw.schema)
         .option("maxFilesPerTrigger", 1).parquet(ev_dir))
    return normalize_event_ts(s)


# ------------------------------------------------------------- operators
# each returns (stream_df, output_mode, sink) — state contract in comment

def op_windowed_daily(spark, ev_dir):
    # state = O(windows x keys): 30 days x 5 types = 150 rows AT ANY SCALE
    from nifi_datasynthesizer_spark import streaming as ST
    ev = _src(spark, ev_dir)
    agg = ST.windowed_agg(
        ev, "ts", ["event_type"],
        [F.count("*").alias("n_events"),
         F.sum(F.floor(F.col("value") * 100).cast("long")).alias("cents")],
        window="1 day", watermark=WM)
    return agg, "complete", "memory"


def op_sessionized(spark, ev_dir):
    # state = O(sessions): grows with users (key-shifted replicas), not
    # with events-per-session
    from nifi_datasynthesizer_spark import streaming as ST
    ev = _src(spark, ev_dir)
    agg = ST.sessionized_agg(
        ev, "ts", ["user_id"],
        [F.count("*").alias("n_events")], gap="30 minutes", watermark=WM)
    return agg, "complete", "noop"


def op_running_totals(spark, ev_dir):
    # custom applyInPandasWithState: state = O(users)
    from nifi_datasynthesizer_spark import streaming as ST
    ev = _src(spark, ev_dir)
    return ST.running_totals(ev, "user_id", "value"), "update", "noop"


def op_key_counts(spark, ev_dir):
    # composite-key counters: state = O(users x types)
    from nifi_datasynthesizer_spark import streaming as ST
    ev = _src(spark, ev_dir)
    return ST.key_counts(ev, "user_id", "event_type"), "update", "noop"


def op_key_counts_native(spark, ev_dir):
    # the JVM-native twin of op_key_counts: when the state IS a plain
    # aggregate, streaming groupBy.count() in update mode keeps it in
    # the JVM state store with no Arrow boundary — the measured gap vs
    # key_counts is the price of applyInPandasWithState, which buys
    # arbitrary custom state (keep it for state Spark can't express)
    ev = _src(spark, ev_dir)
    agg = (ev.groupBy("user_id", "event_type")
           .agg(F.count("*").alias("n")))
    return agg, "update", "noop"


def op_cdc_state(spark, ev_dir):
    # latest-change-wins CDC: state = O(keys), four scalars per key
    from nifi_datasynthesizer_spark import streaming as ST
    ev = _src(spark, ev_dir)
    op = (F.when(F.col("event_type") == "error", "delete")
          .when(F.col("event_type") == "signup", "insert")
          .otherwise("update"))
    ch = ev.select(F.col("user_id").cast("string").alias("key"),
                   F.unix_micros("ts").alias("tus"),
                   F.col("event_id").alias("seq"), op.alias("op"))
    return ST.cdc_state(ch, key_col="key"), "update", "noop"


def op_dedup_horizon(spark, ev_dir):
    # the CONTRAST case: dropDuplicatesWithinWatermark state is
    # O(distinct keys within the horizon) — here every event is
    # distinct and the horizon covers the whole stream, so state ==
    # events BY CONTRACT; at 100 TB the horizon is the sizing lever
    ev = _src(spark, ev_dir)
    keyed = ev.withColumn("digest", F.md5(F.col("event_id").cast("string")))
    return (keyed.withWatermark("ts", WM)
            .dropDuplicatesWithinWatermark(["digest"])
            .select("digest"), "append", "noop")


def op_interval_join(spark, ev_dir):
    # stream-stream attribution join: each side's state is bounded by
    # the join-window watermark (rows within the horizon), evicted as
    # the watermark advances — the only stateful shape where state is
    # O(rows-in-horizon) on BOTH sides rather than O(keys)
    from nifi_datasynthesizer_spark import streaming as ST
    ev = _src(spark, ev_dir)
    views = ev.filter(F.col("event_type") == "view") \
        .select("event_id", "ts", "user_id")
    # second source instance: stream-stream joins need distinct plans
    ev2 = _src(spark, ev_dir)
    buys = ev2.filter(F.col("event_type") == "purchase") \
        .select("event_id", "ts", "user_id")
    j = ST.interval_join(views, buys, key="user_id", ts_col="ts",
                         within="12 hours")
    return j.select("l_event_id", "r_event_id"), "append", "noop"


def op_enrich_static(spark, ev_dir):
    # stream-static broadcast join + agg: join itself carries NO state
    # (only the downstream agg does — O(nations))
    ev = _src(spark, ev_dir)
    cust = (spark.read.parquet(os.path.join(SRC, "customer.parquet"))
            .select("c_custkey", "c_nationkey"))
    n_cust = cust.count()
    j = ev.select((F.col("user_id") % F.lit(n_cust) + 1).alias("ck"),
                  "ts", "value") \
        .join(F.broadcast(cust), F.col("ck") == F.col("c_custkey"))
    agg = (j.withWatermark("ts", WM)
           .groupBy(F.window("ts", "40 days"), "c_nationkey")
           .agg(F.count("*").alias("n")))
    return agg, "complete", "noop"


OPS = {
    "streaming_windowed_daily": op_windowed_daily,
    "streaming_sessionized": op_sessionized,
    "streaming_running_totals": op_running_totals,
    "streaming_key_counts": op_key_counts,
    "streaming_key_counts_native": op_key_counts_native,
    "streaming_cdc_state": op_cdc_state,
    "streaming_dedup_horizon": op_dedup_horizon,
    "streaming_interval_join": op_interval_join,
    "streaming_enrich_static": op_enrich_static,
}


def main() -> int:
    from nifi_datasynthesizer_spark import get_spark
    names = sys.argv[1:] or list(OPS)
    spark = get_spark(app="scale_streaming")
    spark.sparkContext.setLogLevel("ERROR")
    # SPARK_GRAFT_STATE_STORE=rocksdb switches the per-query state
    # store provider (read at query START, so a session conf set here
    # applies to every drain): RocksDB keeps state off-heap/on-disk —
    # the provider for state that outgrows executor memory at 100 TB.
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")

    dirs = {}
    for r in SCALES:
        d = os.path.join(BASE, f"ev{r}x")
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            t0 = time.perf_counter()
            build(spark, r, d)
            print(f"built {d} in {time.perf_counter() - t0:.1f}s")
        dirs[r] = d

    results = {"scales": {str(r): {
        "rows": spark.read.parquet(dirs[r]).count(), "files": N_FILES}
        for r in SCALES}, "ops": {}}

    for name in names:
        fn = OPS[name]
        row = {}
        for r in SCALES:
            best = None
            for _ in range(RUNS):
                stream, mode, sink = fn(spark, dirs[r])
                t0 = time.perf_counter()
                m = drain(stream, mode, sink, name=f"{name}_{r}x")
                m["sec"] = round(time.perf_counter() - t0, 2)
                if best is None or m["sec"] < best["sec"]:
                    best = m
            row[f"sf{r}x"] = best
            print(f"{name} @{r}x: {best['sec']}s, "
                  f"in={best['input_rows']} batches={best['batches']} "
                  f"state={best['state_rows']}")
        a, b = row[f"sf{SCALES[0]}x"], row[f"sf{SCALES[-1]}x"]
        row["time_ratio"] = round(b["sec"] / max(a["sec"], 1e-9), 2)
        row["state_ratio"] = round(
            b["state_rows"] / max(a["state_rows"], 1), 2)
        results["ops"][name] = row

    out = os.path.join(os.path.dirname(__file__), OUT)
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
