"""The three workloads, as ordered lists of operations.

Each operation has a *build* step (driver side: compile a schema,
construct a DataFrame or a streaming plan; operators may run eager jobs
here) and an *execute* step (the action whose output is checked).  A
pass runs every operation of its workload once, in list order.  The
check reads the executed output back untimed and compares it with the
repository's own DuckDB oracle.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd
from pyspark.sql import functions as F

# Registry entries whose oracle cannot run under the DuckDB memory cap
# (each ~46 KB of SQL with ~224 inlined CTEs; out of memory at 12.5 GiB
# even at the smallest scale).  None of them is in a workload.
EXCLUDED = {
    "ann_ivfpq": "DuckDB oracle runs out of memory under the cap",
    "ann_ivfpq_rerank": "DuckDB oracle runs out of memory under the cap",
}


@dataclass
class Ctx:
    """What operations need at run time; owned by one workload run."""
    spark: Any
    tracer: Any
    entry: Any                      # the __spark_entry__ module
    data_dir: str                   # seeded input tables
    work_dir: str                   # outputs, stream inputs
    seed: int
    smoke: bool
    table_rows: dict[str, int] = field(default_factory=dict)
    stream_schemas: dict[str, Any] = field(default_factory=dict)
    pass_idx: int = 0
    _queries: dict | None = None
    _oracles: dict | None = None

    @property
    def queries(self) -> dict:
        if self._queries is None:
            self._queries = self.entry.queries()
        return self._queries

    @property
    def oracles(self) -> dict:
        if self._oracles is None:
            self._oracles = self.entry.oracle_sql()
        return self._oracles


@dataclass
class Op:
    name: str
    layer: str                                   # schema | synthesizers | operators | streaming
    build: Callable[[Ctx], Any]
    execute: Callable[[Ctx, Any], Any]
    # untimed read of the output: a frame, or DuckDB SQL giving its rows
    actual: Callable[[Ctx, Any], pd.DataFrame | str]
    expected_sql: Callable[[Ctx], str]
    registry: str | None = None                  # entry whose oracle applies
    units: Callable[[Any], list[float]] | None = None   # stream: batch ms
    rows: Callable[[Ctx, Any], int] = lambda c, out: _written_rows(c, out)


# ------------------------------------------------------------- synth

SMOKE_ROWS = 1000           # rows per compiled schema in smoke runs

def _write(ctx: Ctx, name: str, df) -> str:
    from nifi_datasynthesizer_spark import io as IO
    path = os.path.join(ctx.work_dir, "out", f"{name}-{ctx.pass_idx}")
    with ctx.tracer.span("write", "io"):
        IO.write(df, path)
    return path


def _read_back(ctx: Ctx, path: str) -> str:
    """DuckDB SQL over the parquet files an operation wrote."""
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


def _written_rows(ctx: Ctx, path: str) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def _schema_op(name: str, registry: str, schema_attr: str, n_full: int) -> Op:
    def n(ctx):
        return SMOKE_ROWS if ctx.smoke else n_full

    def build(ctx):
        from nifi_datasynthesizer_spark import compile_schema
        with ctx.tracer.span("compile", "schema"):
            cs = compile_schema(getattr(ctx.entry, schema_attr), seed=ctx.seed)
        with ctx.tracer.span("build", "schema"):
            return cs.dataframe(ctx.spark, n(ctx))

    def expected(ctx):
        from nifi_datasynthesizer_spark import compile_schema
        return compile_schema(getattr(ctx.entry, schema_attr),
                              seed=ctx.seed).duckdb_sql(n(ctx))

    return Op(name, "schema", build, lambda c, df: _write(c, name, df),
              _read_back, expected, registry=registry)


def _transactions_op() -> Op:
    from nifi_datasynthesizer_spark import synthesizers as SZ

    def kw(ctx):
        return dict(n_people=200 if ctx.smoke else 1000, max_tx=5,
                    n_terminals=100, invalid_rate=0.05, seed=ctx.seed)

    def build(ctx):
        with ctx.tracer.span("build", "synthesizers"):
            return SZ.transactions_df(ctx.spark, **kw(ctx))

    return Op("transactions", "synthesizers", build,
              lambda c, df: _write(c, "transactions", df), _read_back,
              lambda c: SZ.transactions_sql(**kw(c)),
              registry="synth_transactions")


def synth() -> list[Op]:
    return [
        _schema_op("schema_basic", "synth_basic", "SYNTH_BASIC_SCHEMA", 250_000),
        _transactions_op()]


# ------------------------------------------------------------ curate

# (entry, tables it reads); execution-bound entries first, then a
# build-bound one that runs eager jobs while constructing its frame.
# The other entries the benchmark could run are left out to keep a run
# within its time budget; perfbench/README.md lists them.
CURATE = [
    ("dedup_minhash", ("documents",)),
    ("events_sessionize", ("events",)),
    ("q5_nation_revenue", ("lineitem", "orders", "customer", "supplier",
                           "nation")),
    ("dedup_groups", ("documents",)),
]


def _entry_op(name: str, tables: tuple[str, ...]) -> Op:
    def build(ctx):
        with ctx.tracer.span("build", "operators"):
            return ctx.queries[name](ctx.spark, ctx.data_dir)

    def execute(ctx, df):
        with ctx.tracer.span("exec", "operators"):
            return df.toPandas()

    return Op(name, "operators", build, execute, lambda c, pdf: pdf,
              lambda c: c.oracles[name], registry=name,
              rows=lambda c, out: sum(c.table_rows[t] for t in tables))


def curate() -> list[Op]:
    return [_entry_op(n, t) for n, t in CURATE]


# ------------------------------------------------------------ stream

STREAM_FILES = 4            # files per replayed table: micro-batches per drain
# one state partition per four cores, the registry's own ratio (8 on its
# 32-core host): these micro-batches are small, and every partition adds
# a state store and its checkpoint files to each of them
STATE_PARTITIONS = 1


def stream_dir(ctx: Ctx, table: str) -> str:
    return os.path.join(ctx.work_dir, "stream", table)


def _source(ctx: Ctx, table: str):
    from nifi_datasynthesizer_spark import streaming as ST
    return ST.file_stream(ctx.spark, stream_dir(ctx, table),
                          ctx.stream_schemas[table], max_files_per_trigger=1)


def _drain(ctx: Ctx, name: str, plan, mode: str):
    """Start ``plan`` into a memory table, wait for the bounded drain and
    return (table name, micro-batch progress records)."""
    from nifi_datasynthesizer_spark import streaming as ST
    qname = f"{name}_{ctx.pass_idx}"
    with ST.state_partitions(ctx.spark, STATE_PARTITIONS):
        q = ST.run_to_memory(plan, qname, output_mode=mode)
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return qname, list(q.recentProgress)


def _stream_op(name: str, plan: Callable[[Ctx], Any], mode: str,
               final: Callable[[Any], Any]) -> Op:
    def build(ctx):
        with ctx.tracer.span("build", "streaming"):
            return plan(ctx)

    def execute(ctx, p):
        with ctx.tracer.span("exec", "streaming"):
            qname, progress = _drain(ctx, name, p, mode)
            pdf = final(ctx.spark.table(qname)).toPandas()
        ctx.spark.catalog.dropTempView(qname)
        return pdf, progress

    return Op(name, "streaming", build, execute, lambda c, r: r[0],
              lambda c: c.oracles[name], registry=name,
              units=lambda r: [_get(p, "durationMs")["triggerExecution"]
                               for p in r[1]],
              rows=lambda c, out: sum(_get(p, "numInputRows") for p in out[1]))


def _get(progress, key):
    """Progress records are objects in recent PySpark, dicts in older."""
    return progress[key] if isinstance(progress, dict) else getattr(progress, key)


def _cents(ev):
    return ev.select(F.col("user_id").cast("string").alias("user_id"),
                     F.floor(F.col("value") * 100).cast("double").alias("cents"))


def _final_totals(tbl):
    final = tbl.groupBy("key").agg(F.max(F.struct("n", "total")).alias("s"))
    return final.select(F.col("key").alias("user_id"),
                        F.col("s.n").alias("n_events"),
                        (F.col("s.total") / F.lit(100.0)).alias("total_value"))


def stream() -> list[Op]:
    from nifi_datasynthesizer_spark import io as IO
    from nifi_datasynthesizer_spark import streaming as ST

    def daily(ctx):
        ev = IO.normalize_event_ts(_source(ctx, "events"))
        return ST.windowed_agg(
            ev, "ts", ["event_type"],
            [F.count("*").alias("n_events"),
             F.sum(F.floor(F.col("value") * 100).cast("long")).alias("sum_cents")],
            window="1 day", watermark="0 seconds")

    def daily_final(tbl):
        return tbl.select(F.to_date("win_start").alias("day"), "event_type",
                          "n_events",
                          (F.col("sum_cents") / F.lit(100.0)).alias("total_value"))

    def dedup(ctx):
        ev = _source(ctx, "documents").withColumn(
            "event_time",
            F.timestamp_micros(F.col("doc_id") + F.lit(86_400_000_000)))
        return ST.dedup_stream_exact(ev, "event_time", watermark="1 hour") \
            .select("digest")

    return [
        _stream_op("streaming_events_daily", daily, "complete", daily_final),
        _stream_op("streaming_running_totals",
                   lambda c: ST.running_totals_native(
                       _cents(_source(c, "events")), "user_id", "cents"),
                   "update", _final_totals),
        _stream_op("streaming_running_totals_pandas",
                   lambda c: ST.running_totals(
                       _cents(_source(c, "events")), "user_id", "cents"),
                   "update", _final_totals),
        _stream_op("streaming_dedup_docs", dedup, "append",
                   lambda t: t.select("digest").distinct()),
    ]


WORKLOADS = {"synth": synth, "curate": curate, "stream": stream}
# tables each workload reads (synth reads none)
INPUTS = {"synth": (), "curate": tuple(sorted({t for _, ts in CURATE for t in ts})),
          "stream": ("events", "documents")}
