"""Structured-Streaming surface: streaming synthesis + stateful ops.

The reference (NiFi) is a flow-oriented system: processors emit FlowFiles
continuously.  Spark-first equivalent: the schema compiler's pure
column algebra applied over an unbounded source — the ``rate``
source's monotonically increasing ``value`` *is* the row index, so a
streaming record n is bit-identical to batch record n (same
counter-RNG), and a replayed/restarted query regenerates identical
data — exactly-once by construction, no RNG state to checkpoint.

Stateful ops: watermarked windowed aggregation, streaming exact dedup,
and an ``applyInPandasWithState`` running-total operator (the shape a
custom stateful accumulator needs at scale: state keyed + partitioned
by group, timeouts for eviction).

State-store sizing is in :func:`state_store_provider`; local sessions
write every checkpoint file (offset, commit and source logs, state
deltas) through Spark's FileSystem-based manager, which renames
without forking a process (``session.get_spark``).
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .schema import CompiledSchema, compile_schema


# ------------------------------------------------------------ synthesis

def synthesize_stream(spark: SparkSession, schema, rows_per_second: int = 1000,
                      seed: int = 0, num_partitions: int | None = None) -> DataFrame:
    """DataSynthesizer as an unbounded stream.

    rate-source ``value`` (a gap-free global counter) feeds the same
    compiled column expressions as the batch path; ``event_time``
    (the rate timestamp) is kept for watermarking downstream.
    Scale: rate-micro-batches are parallelized over
    ``numPartitions``; generation itself is stateless and shuffle-free.
    """
    cs = schema if isinstance(schema, CompiledSchema) else compile_schema(schema, seed)
    reader = (spark.readStream.format("rate")
              .option("rowsPerSecond", rows_per_second))
    if num_partitions:
        reader = reader.option("numPartitions", num_partitions)
    src = reader.load()  # (timestamp, value)
    return cs.project(src.withColumnRenamed("timestamp", "event_time"),
                      index_col="value", keep=["event_time"])


# ---------------------------------------------------------- windowed agg

def windowed_agg(stream: DataFrame, ts_col: str, keys: list[str],
                 aggs: list, window: str = "1 minute",
                 slide: str | None = None,
                 watermark: str = "10 seconds") -> DataFrame:
    """Watermarked tumbling/sliding window aggregation — the standard
    late-data-tolerant rollup.  State is bounded by the watermark;
    the shuffle key is (window, *keys)."""
    w = F.window(F.col(ts_col), window, slide) if slide else \
        F.window(F.col(ts_col), window)
    out = (stream.withWatermark(ts_col, watermark)
           .groupBy(w.alias("win"), *keys)
           .agg(*aggs))
    rest = [c for c in out.columns if c != "win"]
    return out.select(F.col("win.start").alias("win_start"),
                      F.col("win.end").alias("win_end"), *rest)


def sessionized_agg(stream: DataFrame, ts_col: str, keys: list[str],
                    aggs: list, gap: str = "5 minutes",
                    watermark: str = "10 seconds") -> DataFrame:
    """Session-window aggregation (gap-based), watermark-bounded state."""
    return (stream.withWatermark(ts_col, watermark)
            .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), *keys)
            .agg(*aggs))


# ------------------------------------------------------- streaming dedup

def dedup_stream_exact(stream: DataFrame, ts_col: str,
                       text_col: str = "text",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: first occurrence of each normalized-text
    digest within the watermark horizon survives.  State = one digest
    per distinct document, evicted by event-time watermark —
    dropDuplicates on (digest) with a watermark is Spark's bounded-state
    dedup primitive."""
    from .operators.dedup import normalize_text
    digested = stream.withColumn("digest", F.md5(normalize_text(F.col(text_col))))
    return (digested.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["digest"]))


# ------------------------------------------- custom stateful (pandas)

RUNNING_TOTAL_STATE = StructType([StructField("total", DoubleType()),
                                  StructField("n", LongType())])
RUNNING_TOTAL_OUT = StructType([StructField("key", StringType()),
                                StructField("total", DoubleType()),
                                StructField("n", LongType())])


def running_totals(stream: DataFrame, key_col: str, value_col: str,
                   timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key
    running sum/count emitted every micro-batch.  This is the template
    for reference-style accumulating processors (e.g. per-device
    counters): state is partitioned by key (shuffle on key once),
    Arrow-batched, and bounded by an optional ProcessingTimeTimeout.

    Scale note (measured, scripts/scale_out_streaming_sf100.json):
    the Arrow boundary costs ~4-18× vs the JVM-native equivalent
    (streaming ``groupBy().agg(...)`` in update mode) at 1M-10M
    events per drain — when the state transition IS a native
    aggregate (sums, counts, max_by), ship it native; this shape is
    the template for state Spark cannot express."""
    def update(key, pdfs, state: GroupState):
        import pandas as pd
        total, n = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            total += float(pdf[value_col].sum())
            n += int(len(pdf))
        state.update((total, n))
        yield pd.DataFrame({"key": [key[0]], "total": [total], "n": [n]})

    return (stream.select(F.col(key_col).cast("string").alias("key"),
                          F.col(value_col))
            .groupBy("key")
            .applyInPandasWithState(update, RUNNING_TOTAL_OUT,
                                    RUNNING_TOTAL_STATE, "update", timeout))


def running_totals_native(stream: DataFrame, key_col: str,
                          value_col: str) -> DataFrame:
    """JVM-native twin of :func:`running_totals`: per-key running
    sum/count as a streaming ``groupBy().agg()`` in update mode.  Sums
    and counts ARE native streaming aggregates, so state lives in the
    JVM state store with map-side partial aggregation and no
    Python/Arrow boundary — measured 18.5× faster than the
    applyInPandasWithState twin at 10M events
    (scripts/scale_out_streaming_sf100.json).  This is the production
    shape for accumulating counters; reach for
    :func:`running_totals`'s pandas state only when the per-key
    transition is something Spark cannot express as an aggregate."""
    return (stream
            .select(F.col(key_col).cast("string").alias("key"),
                    F.col(value_col))
            .groupBy("key")
            .agg(F.sum(value_col).cast("double").alias("total"),
                 F.count("*").alias("n")))


# ----------------------------------------------------------- sinks

def run_to_memory(stream: DataFrame, name: str, output_mode: str = "append"):
    """Drain a (finite-so-far) stream into an in-memory table — the
    test/debug sink.  Returns the StreamingQuery (caller awaits)."""
    return (stream.writeStream.format("memory").queryName(name)
            .outputMode(output_mode).trigger(availableNow=True).start())


def _await(q) -> None:
    """Wait for a bounded query to end; stop it also when the wait raises."""
    try:
        q.awaitTermination()
    finally:
        q.stop()


def progress(q) -> list[dict]:
    """The query's ``recentProgress`` as plain dicts: PySpark before
    3.5 returns dicts, later versions ``StreamingQueryProgress``
    objects whose ``.json`` carries the same fields."""
    return [p if isinstance(p, dict) else json.loads(p.json)
            for p in q.recentProgress]


def run_bounded(stream: DataFrame, name: str,
                output_mode: str = "complete") -> DataFrame:
    """Run a streaming aggregation over a BOUNDED source to completion
    (availableNow) and return the final result as a batch DataFrame.

    ``complete`` output makes the final table independent of micro-batch
    boundaries and watermark progress — the result equals the batch
    aggregation over the same data, which is what lets a streaming
    operator carry a SQL oracle.  Used by the driver contract to put
    the streaming path under the same correctness gate as batch."""
    _await(run_to_memory(stream, name, output_mode=output_mode))
    return stream.sparkSession.table(name)


def file_stream(spark: SparkSession, path: str, schema,
                max_files_per_trigger: int = 1,
                glob_filter: str | None = None) -> DataFrame:
    """Bounded file source as a stream (one file per micro-batch) —
    the replay harness for exercising streaming operators on the same
    parquet tables the batch path reads.

    ``path`` must be a DIRECTORY (FileStreamSource pins basePath to the
    source path and requires a directory); select one table out of a
    shared directory with ``glob_filter`` (e.g. ``events.parquet``)."""
    reader = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", max_files_per_trigger))
    if glob_filter:
        reader = reader.option("pathGlobFilter", glob_filter)
    return reader.parquet(path)


def interval_join(left: DataFrame, right: DataFrame, key: str,
                  ts_col: str = "ts", within: str = "12 hours",
                  how: str = "inner") -> DataFrame:
    """Watermarked stream-stream join: each left event matches right
    events of the same ``key`` with ``right.ts`` in
    ``[left.ts, left.ts + within]`` — the attribution-join shape
    (view→purchase, impression→click) Spark supports natively and most
    engines cannot express incrementally.

    Both sides carry a watermark equal to the join window, which is
    what BOUNDS THE STATE: an unwatermarked stream-stream join must
    keep every row forever, while this one evicts left rows once the
    right watermark passes ``left.ts + within`` — at cluster scale the
    state store holds one window of data per key, not the stream's
    history.  Inner-join results emit as matches arrive (append mode),
    so a bounded drain produces exactly the batch join's rows.

    ``how="left_outer"`` additionally emits each UNMATCHED left row
    (right columns null) at the moment its state is evicted — i.e.
    when the watermark passes ``left.ts + within``.  That timing is
    the semantic difference from a batch LEFT JOIN: a left row the
    watermark never passes (within ``2·within`` of the stream's max
    event time on a bounded drain) stays in state and is NOT reported
    unmatched — the stream cannot yet prove no match will arrive.
    The emitted set is still deterministic for a bounded replay:
    matched rows equal the batch inner join; unmatched rows are
    exactly those with ``l_ts + within < final watermark``, where the
    final watermark is ``floor_ms(max event time) - within`` taken as
    the MIN across the two watermarked inputs
    (``spark.sql.streaming.multipleWatermarkPolicy`` defaults to
    ``min`` — each side's watermark tracks only the events that reach
    its own withWatermark node, so pre-watermark filters change the
    per-side maxima).

    Columns are prefixed ``l_``/``r_`` BEFORE the watermark is applied
    (renaming after would detach the event-time column).
    """
    lw = left.select([F.col(c).alias(f"l_{c}") for c in left.columns]) \
        .withWatermark(f"l_{ts_col}", within)
    rw = right.select([F.col(c).alias(f"r_{c}") for c in right.columns]) \
        .withWatermark(f"r_{ts_col}", within)
    cond = ((F.col(f"l_{key}") == F.col(f"r_{key}"))
            & (F.col(f"r_{ts_col}") >= F.col(f"l_{ts_col}"))
            & (F.col(f"r_{ts_col}")
               <= F.col(f"l_{ts_col}") + F.expr(f"INTERVAL {within}")))
    return lw.join(rw, cond, how)


_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                     "RocksDBStateStoreProvider")


@contextmanager
def state_store_provider(spark, provider: str = "rocksdb"):
    """Pin the state-store PROVIDER for queries started inside the
    block (read at query start, fixed for the query's life, like the
    partition count).  ``"rocksdb"`` selects Spark's bundled
    RocksDBStateStoreProvider; any other string is used verbatim as a
    provider class name; ``"default"`` restores Spark's heap-backed
    HDFSBackedStateStoreProvider.

    Sizing rule, measured (scripts/scale_out_streaming_sf1000.json):
    the default heap store keeps each partition's whole state map
    on-heap and OOMs a 24 GB heap at 100M dedup-state rows, while the
    SAME query under RocksDB completes (287.6 s, 348k rows/s);
    RocksDB costs ~1.5-1.8× at sizes that still fit the heap.  Use
    the heap store while peak state per executor fits comfortably in
    memory, RocksDB the moment it doesn't — guessing wrong is a hard
    OOM, not degradation.

    RocksDB disk sizing, measured at 300M state rows
    (scripts/scale_out_streaming_sf3000.json): **42.3 bytes of SST
    per state row** for digest-keyed dedup state, i.e.::

        state_disk_bytes ≈ event_rate × watermark_horizon × 42.3

    A 1B-row horizon is ~42 GB of SST per query — budget executor
    local disk (not heap) accordingly, and note the constant is the
    compacted steady-state figure, so transient compaction overhead
    peaks above it.
    """
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    if provider == "rocksdb":
        spark.conf.set(key, _ROCKSDB_PROVIDER)
    elif provider == "default":
        spark.conf.unset(key)
    else:
        spark.conf.set(key, provider)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@contextmanager
def state_partitions(spark, n: int):
    """Pin the state-store partition count for queries started inside
    the block (state partitioning is fixed by
    ``spark.sql.shuffle.partitions`` at FIRST checkpoint and can never
    change for the life of the query — Spark's own docs call this
    out).  Sizing it to the stream's key cardinality/throughput is
    standard production practice: every state partition costs a
    provider instance + checkpoint files per micro-batch, so a default
    sized for batch shuffles (200, or this repo's 32) pays fixed
    overhead per batch that small-to-medium streams never amortize.
    Restores the previous value on exit so batch queries keep their
    own sizing.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def run_foreach_batch(stream: DataFrame, handle) -> None:
    """Drain a bounded stream through ``foreachBatch`` — the
    production sink pattern for logic that composes BATCH operators
    per micro-batch (e.g. incremental dedup of each arriving batch
    against a static corpus).  ``handle(batch_df, batch_id)`` runs on
    the driver with a regular batch DataFrame; make its writes
    idempotent (append keyed by batch_id or overwrite-by-partition)
    because a failed micro-batch re-runs."""
    _await(stream.writeStream.foreachBatch(handle)
           .trigger(availableNow=True).start())


KEY_COUNT_STATE = StructType([StructField("n", LongType())])
KEY_COUNT_OUT = StructType([StructField("k1", StringType()),
                            StructField("k2", StringType()),
                            StructField("n", LongType())])


def key_counts(stream: DataFrame, key1: str, key2: str,
               timeout: str = "NoTimeout") -> DataFrame:
    """Streaming per-(key1, key2) event counter via
    applyInPandasWithState — the state layer of a streaming
    heavy-hitters report: exact integer counts keyed and partitioned
    by the composite key (one shuffle), Arrow-batched, emitted every
    micro-batch in update mode.  The count is monotone per key, so
    the final state is recoverable from update-mode output as the
    max-n row per key — which is what lets the drained stream carry
    the same SQL oracle as the batch GROUP BY.

    Scale note: plain counters like these ARE native-expressible —
    streaming ``groupBy(k1, k2).count()`` holds the same state in the
    JVM store at 3.8× (1M events) to 18.5× (10M) less drain time
    (measured, scripts/scale_out_streaming_sf100.json); keep this
    shape for custom state and as the streaming_topk template."""
    def update(key, pdfs, state: GroupState):
        import pandas as pd
        (n,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            n += int(len(pdf))
        state.update((n,))
        yield pd.DataFrame({"k1": [key[0]], "k2": [key[1]], "n": [n]})

    return (stream.select(F.col(key1).cast("string").alias("k1"),
                          F.col(key2).cast("string").alias("k2"))
            .groupBy("k1", "k2")
            .applyInPandasWithState(update, KEY_COUNT_OUT,
                                    KEY_COUNT_STATE, "update", timeout))


def key_counts_native(stream: DataFrame, key1: str,
                      key2: str) -> DataFrame:
    """JVM-native twin of :func:`key_counts`: per-(key1, key2) exact
    counts as a streaming ``groupBy().count()`` in update mode —
    state lives in the JVM state store with map-side partial
    aggregation and no Python/Arrow boundary.  Measured 3.8× (1M
    events) to 18.5× (10M) faster drains than the
    applyInPandasWithState twin
    (scripts/scale_out_streaming_sf100.json); this is the production
    shape for plain counters — reach for :func:`key_counts` only when
    the per-key transition is state Spark cannot express as an
    aggregate.  Same output contract: (k1, k2, n) per micro-batch,
    n monotone per key, final state = max-n row per key."""
    return (stream.select(F.col(key1).cast("string").alias("k1"),
                          F.col(key2).cast("string").alias("k2"))
            .groupBy("k1", "k2")
            .agg(F.count("*").alias("n")))


# ------------------------------------------------------------ CDC state

CDC_STATE = StructType([StructField("last_tus", LongType()),
                        StructField("last_seq", LongType()),
                        StructField("last_op", StringType()),
                        StructField("n", LongType())])
CDC_OUT = StructType([StructField("key", StringType()),
                      StructField("last_tus", LongType()),
                      StructField("last_seq", LongType()),
                      StructField("last_op", StringType()),
                      StructField("n_changes", LongType())])


def cdc_state(stream: DataFrame, key_col: str = "key",
              timeout: str = "NoTimeout") -> DataFrame:
    """Streaming CDC / MERGE state layer: per key, keep the LATEST
    change by the (event-time, sequence-id, op) lexicographic order —
    the applyInPandasWithState twin of temporal.cdc_apply's struct-max
    aggregation, for changelogs that arrive as an unbounded stream
    (Debezium topics) rather than a settled table.

    Expects columns (key STRING, tus LONG, seq LONG, op STRING).
    State per key is four scalars; the composite max folds per
    micro-batch inside the Arrow batch, so state size is O(keys),
    never O(changes).  ``n_changes`` is monotone per key, so the
    final state is recoverable from update-mode output as the max-n
    row per key — which is what lets the drained stream carry the
    SAME SQL oracle as the batch cdc_apply (filter deletes after the
    drain, exactly like the batch operator)."""
    def update(key, pdfs, state: GroupState):
        import pandas as pd
        if state.exists:
            tus, seq, op, n = state.get
            best = (tus, seq, op)
        else:
            best, n = None, 0
        for pdf in pdfs:
            n += int(len(pdf))
            for t, s, o in zip(pdf["tus"], pdf["seq"], pdf["op"]):
                cand = (int(t), int(s), str(o))
                if best is None or cand > best:
                    best = cand
        state.update((best[0], best[1], best[2], n))
        yield pd.DataFrame({"key": [key[0]], "last_tus": [best[0]],
                            "last_seq": [best[1]], "last_op": [best[2]],
                            "n_changes": [n]})

    return (stream.select(F.col(key_col).cast("string").alias("key"),
                          "tus", "seq", "op")
            .groupBy("key")
            .applyInPandasWithState(update, CDC_OUT, CDC_STATE,
                                    "update", timeout))
