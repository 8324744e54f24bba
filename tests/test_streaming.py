"""Structured-Streaming tests: file-sourced micro-batches (fully
deterministic) for the stateful ops; the rate-source synthesis is
checked against its own batch replay (same counter RNG ⇒ identical
records for the same index range)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nifi_datasynthesizer_spark import compile_schema
from nifi_datasynthesizer_spark import streaming as ST

SCHEMA = [
    {"name": "rec_id", "class": "id"},
    {"name": "qty", "class": "int", "min": 1, "max": 50},
    {"name": "who", "class": "name"},
    # binds its two draws as lets: project() runs the lets projection
    # beside the kept columns
    {"name": "dev", "class": "imei"},
]


def _file_stream(spark, tmp_path, df, schema):
    src = str(tmp_path / "src")
    df.write.parquet(src)
    return spark.readStream.schema(schema).parquet(src)


def test_project_streaming_matches_batch(spark, tmp_path):
    """Streaming synthesis over an index column == batch synthesis."""
    cs = compile_schema(SCHEMA, seed=11)
    idx = spark.range(0, 300).select(
        F.col("id").alias("value"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("id")).alias("event_time"))
    stream = _file_stream(spark, tmp_path, idx, idx.schema)
    assert cs.lets
    out = cs.project(stream, index_col="value", keep=["event_time"])
    q = ST.run_to_memory(out, "synth_stream")
    q.awaitTermination(120)
    got = (spark.table("synth_stream").drop("event_time")
           .orderBy("rec_id").collect())
    want = cs.dataframe(spark, 300).orderBy("rec_id").collect()
    assert got == want


def test_windowed_agg(spark, tmp_path):
    rows = spark.createDataFrame(
        [(i, f"k{i % 2}", float(i)) for i in range(120)],
        "sec long, key string, value double"
    ).select(F.timestamp_seconds(F.lit(1700000000) + F.col("sec")).alias("ts"),
             "key", "value")
    stream = _file_stream(spark, tmp_path, rows, rows.schema)
    out = ST.windowed_agg(stream, "ts", ["key"],
                          [F.count("*").alias("n"), F.sum("value").alias("tot")],
                          window="1 minute")
    q = ST.run_to_memory(out, "win_agg", output_mode="append")
    q.awaitTermination(120)
    got = {(int(r.win_start.timestamp()), r.key): (r.n, r.tot)
           for r in spark.table("win_agg").collect()}
    # watermark closes only completed windows under availableNow →
    # every emitted window must match the exact batch aggregation
    assert len(got) >= 2
    expected: dict[tuple[int, str], tuple[int, float]] = {}
    for i in range(120):
        ws, key = (1700000000 + i) // 60 * 60, f"k{i % 2}"
        n, tot = expected.get((ws, key), (0, 0.0))
        expected[(ws, key)] = (n + 1, tot + float(i))
    for k, v in got.items():
        assert expected[k] == v


def test_dedup_stream_exact(spark, tmp_path):
    rows = spark.createDataFrame(
        [(i, ["alpha beta", "gamma delta", "ALPHA   beta!"][i % 3])
         for i in range(30)],
        "sec long, text string"
    ).select(F.timestamp_seconds(F.lit(1700000000) + F.col("sec")).alias("ts"),
             "text")
    stream = _file_stream(spark, tmp_path, rows, rows.schema)
    out = ST.dedup_stream_exact(stream, "ts")
    q = ST.run_to_memory(out, "dedup_stream")
    q.awaitTermination(120)
    got = spark.table("dedup_stream").collect()
    # "alpha beta" and "ALPHA   beta!" normalize identically → 2 digests
    assert len(got) == 2
    assert len({r.digest for r in got}) == 2


def test_running_totals(spark, tmp_path):
    rows = spark.createDataFrame(
        [(f"k{i % 3}", float(i)) for i in range(90)],
        "key string, value double")
    stream = _file_stream(spark, tmp_path, rows, rows.schema)
    out = ST.running_totals(stream, "key", "value")
    q = ST.run_to_memory(out, "run_tot", output_mode="update")
    q.awaitTermination(120)
    got = {r.key: (r.total, r.n) for r in spark.table("run_tot").collect()}
    assert got["k0"][1] == 30
    assert got["k0"][0] == sum(float(i) for i in range(90) if i % 3 == 0)
    assert set(got) == {"k0", "k1", "k2"}


def test_running_totals_native_matches_pandas_twin(spark, tmp_path):
    """The JVM-native streaming aggregate (running_totals_native, the
    production shape per the measured 18.5× rule) reaches the same
    final per-key state as the applyInPandasWithState template on the
    same replayed stream."""
    rows = spark.createDataFrame(
        [(f"k{i % 3}", float(i)) for i in range(90)],
        "key string, value double")
    stream = _file_stream(spark, tmp_path, rows, rows.schema)
    out = ST.running_totals_native(stream, "key", "value")
    q = ST.run_to_memory(out, "run_tot_nat", output_mode="update")
    q.awaitTermination(120)
    tbl = spark.table("run_tot_nat")
    # update mode may emit one row per key per micro-batch; n is
    # monotone per key so the final state is the max-n row
    final = {r.key: (r.total, r.n)
             for r in tbl.orderBy("n").collect()}
    assert final["k0"][1] == 30
    assert final["k0"][0] == sum(float(i) for i in range(90) if i % 3 == 0)
    assert set(final) == {"k0", "k1", "k2"}


def test_synthesize_stream_rate_smoke(spark):
    """rate source wiring: schema applies, event_time kept, runs live."""
    out = ST.synthesize_stream(spark, SCHEMA, rows_per_second=500, seed=11)
    assert set(["event_time", "rec_id", "qty", "who"]) <= set(out.columns)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("rate_synth")
         .outputMode("append").start())
    try:
        import time
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table("rate_synth").count() > 0:
                break
            time.sleep(1)
        rows = spark.table("rate_synth").filter(F.col("rec_id") == 0).collect()
        # record 0 of the stream == record 0 of the batch replay
        want = compile_schema(SCHEMA, seed=11).dataframe(spark, 1).collect()[0]
        if rows:
            assert rows[0].qty == want.qty and rows[0].who == want.who
        assert spark.table("rate_synth").count() > 0
    finally:
        q.stop()


def _drain_ckpt(stream_df, name: str, ckpt: str, mode: str) -> int:
    """availableNow drain against a persistent checkpoint; returns the
    number of input rows THIS run processed (exactly-once accounting)."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        q.awaitTermination()
        progs = ST.progress(q)
    finally:
        q.stop()
    return sum(int(p.get("numInputRows", 0)) for p in progs)


def test_checkpoint_restart_resumes_agg_state(spark, tmp_path):
    """The production incremental pattern: periodic availableNow runs
    against ONE checkpoint.  Run 2 must (a) read ONLY the files that
    arrived after run 1 (exactly-once source accounting) and (b)
    restore the aggregation state, so its complete-mode output equals
    the batch aggregation over EVERYTHING ingested so far."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame([(i, f"k{i % 3}") for i in range(60)],
                          "i long, key string") \
        .coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def agg_stream():
        s = spark.readStream.schema(schema).parquet(src)
        return s.groupBy("key").agg(F.count("*").alias("n"),
                                    F.sum("i").alias("s"))

    n1 = _drain_ckpt(agg_stream(), "ckpt_agg", ckpt, "complete")
    assert n1 == 60
    spark.createDataFrame([(i, f"k{i % 3}") for i in range(60, 100)],
                          "i long, key string") \
        .coalesce(1).write.mode("append").parquet(src)
    n2 = _drain_ckpt(agg_stream(), "ckpt_agg", ckpt, "complete")
    assert n2 == 40  # run-1 files NOT reprocessed
    got = {(r.key, r.n, r.s) for r in spark.table("ckpt_agg").collect()}
    want = {(r.key, r.n, r.s) for r in
            spark.read.parquet(src).groupBy("key")
            .agg(F.count("*").alias("n"), F.sum("i").alias("s")).collect()}
    assert got == want


def test_checkpoint_restart_dedup_remembers_keys(spark, tmp_path):
    """Streaming dedup state survives a query restart: keys emitted in
    run 1 are suppressed in run 2 because the state store restores
    from the checkpoint — the exactly-once dedup contract.  The sink
    is a parquet directory (the memory sink cannot recover a
    checkpoint in append mode), so the accumulated sink contents ARE
    the cross-restart exactly-once ledger."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    spark.createDataFrame([("a",), ("b",), ("c",), ("a",)], "k string") \
        .coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run():
        s = (spark.readStream.schema(schema).parquet(src)
             .dropDuplicates(["k"]))
        q = (s.writeStream.format("parquet").option("path", sink)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        finally:
            q.stop()

    run()
    assert {r.k for r in spark.read.parquet(sink).collect()} == {"a", "b", "c"}
    spark.createDataFrame([("b",), ("d",), ("d",)], "k string") \
        .coalesce(1).write.mode("append").parquet(src)
    run()
    out = [r.k for r in spark.read.parquet(sink).collect()]
    # a/b/c remembered from run 1: only the genuinely new key emits,
    # so the sink holds exactly four rows, each key once
    assert sorted(out) == ["a", "b", "c", "d"]


def test_state_store_provider_rocksdb(spark, tmp_path):
    """A stateful drain under the RocksDB provider produces the same
    result as the heap store (provider changes WHERE state lives, not
    semantics), and the context manager restores the session conf."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rows = spark.createDataFrame(
        [(i, f"k{i % 4}") for i in range(200)], "i long, key string")
    src = str(tmp_path / "src")
    rows.coalesce(2).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def drain(name):
        s = (spark.readStream.schema(schema)
             .option("maxFilesPerTrigger", 1).parquet(src)
             .groupBy("key").agg(F.count("*").alias("n"),
                                 F.sum("i").alias("s")))
        q = ST.run_to_memory(s, name, output_mode="complete")
        q.awaitTermination()
        q.stop()
        return {(r.key, r.n, r.s) for r in spark.table(name).collect()}

    base = drain("prov_heap")
    with ST.state_store_provider(spark, "rocksdb"):
        assert "RocksDB" in spark.conf.get(key)
        got = drain("prov_rocks")
    assert got == base
    assert spark.conf.get(key, None) is None  # restored


def test_local_session_checkpoints_without_filecontext(spark, tmp_path):
    """A local session resolves the checkpoint manager a query uses
    (``CheckpointFileManager.create`` over the session's Hadoop conf)
    to the FileSystem-based one: the FileContext default forks
    ``readlink`` on every rename without a native libhadoop.  The
    state stores wrap this manager in Spark's checksum manager, which
    must stay on."""
    jvm = spark._jvm
    mgr = (jvm.org.apache.spark.sql.execution.streaming.checkpointing
           .CheckpointFileManager.create(
               jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
               spark._jsparkSession.sessionState().newHadoopConf()))
    assert (mgr.getClass().getSimpleName()
            == "FileSystemBasedCheckpointFileManager")
    assert spark.conf.get(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"
