"""Schema compiler: log-synth JSON schema → Spark DataFrame + SQL mirror.

Equivalent of ``SchemaSampler.java`` (reference generators module) and
the ``DataSynthesizer`` processor: a schema is a JSON array of field
specs, each with a ``class`` naming a sampler.  We compile the whole
schema once into flat column expressions over ``spark.range(n)`` —
generation is then a single narrow stage: no shuffle, no Python,
linearly scalable to any row count / executor count.  The stage is
compiled code, but not always one whole-stage class: a wide schema's
fused projection can exceed the 8000-byte method size HotSpot will
JIT-compile, and the session's ``spark.sql.codegen.hugeMethodLimit``
then sends it to Spark's split, compiled projection instead of the
bytecode interpreter (see ``session.get_spark``).  ``duckdb_sql(n)``
returns the exact replay query used for the correctness oracle.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dual import D
from .samplers import Ctx, compile_field

# at 100 TB keep ~128MB-worth of rows per task; callers can override
DEFAULT_ROWS_PER_PARTITION = 2_000_000


class CompiledSchema:
    def __init__(self, columns: list[tuple[str, D]],
                 helpers: dict[str, D] | None = None):
        self.columns = columns
        # column-level CSE stage (Ctx.bind_col): helper columns are
        # projected in a preceding select so a many-referenced value
        # expression is ANALYZED once; whole-stage codegen fuses the
        # two selects back into one stage at runtime
        self.helpers = helpers or {}

    def _with_helpers(self, base: DataFrame) -> DataFrame:
        if not self.helpers:
            return base
        return base.select(
            "*", *[d.c.alias(n) for n, d in self.helpers.items()])

    def dataframe(self, spark: SparkSession, n: int,
                  partitions: int | None = None) -> DataFrame:
        if partitions is None:
            # use every core as soon as n is non-trivial; above
            # ROWS_PER_PARTITION per core, grow the task count so a
            # task never exceeds ~one in-memory chunk (100 TB-safe)
            par = spark.sparkContext.defaultParallelism
            partitions = max(1, min(n, max(par, n // DEFAULT_ROWS_PER_PARTITION)))
        base = spark.range(0, n, 1, partitions).withColumnRenamed("id", "i")
        return self._with_helpers(base).select(
            *[d.c.alias(name) for name, d in self.columns])

    def duckdb_sql(self, n: int) -> str:
        cols = ", ".join(f'{d.s} AS "{name}"' for name, d in self.columns)
        src = f"range(0, {n}) AS t(i)"
        if self.helpers:
            hcols = ", ".join(f'{d.s} AS "{n_}"'
                           for n_, d in self.helpers.items())
            src = f"(SELECT i, {hcols} FROM range(0, {n}) AS r(i)) AS t"
        return f"SELECT {cols} FROM {src}"

    def project(self, df: DataFrame, index_col: str = "i",
                keep: list[str] | None = None) -> DataFrame:
        """Apply the compiled columns to ANY DataFrame that carries a
        row-index column (batch or streaming) — e.g. a rate source's
        ``value``.  ``keep`` passes through extra input columns."""
        base = df.withColumn("i", F.col(index_col).cast("long"))
        extra = [F.col(c) for c in (keep or []) if c != "i"]
        return self._with_helpers(base).select(
            *extra, *[d.c.alias(name) for name, d in self.columns])


def compile_schema(schema, seed: int = 0) -> CompiledSchema:
    """schema: JSON string or list of field specs (log-synth format)."""
    if isinstance(schema, str):
        schema = json.loads(schema)
    if not isinstance(schema, list):
        raise ValueError("schema must be a JSON array of field specs")
    i = D("i", "i")
    out: list[tuple[str, D]] = []
    helpers: dict[str, D] = {}
    for spec in schema:
        spec = dict(spec)
        name = spec.get("name", spec.get("class"))
        ctx = Ctx(i, seed, f"$.{name}", helpers)
        r = compile_field(spec, ctx)
        if isinstance(r, dict):
            if spec.get("class") == "flatten" or "name" not in spec:
                out.extend(r.items())           # lift to top level
            else:
                # named struct field (lazy: no Spark session at compile time)
                from . import dual as X
                out.append((name, X.struct_(r)))
        else:
            out.append((name, r))
    return CompiledSchema(out, helpers)


def synthesize(spark: SparkSession, schema, n: int, seed: int = 0,
               partitions: int | None = None) -> DataFrame:
    """The DataSynthesizer processor: schema + record count → DataFrame."""
    return compile_schema(schema, seed).dataframe(spark, n, partitions)


class SchemaRegistry:
    """DataGenerator controller service (reference
    nifi-datasynthesizer-service/.../DataGenerator.java): named schema
    registry shared by many synthesizer invocations."""

    def __init__(self):
        self._schemas: dict[str, CompiledSchema] = {}

    def define(self, name: str, schema, seed: int = 0) -> CompiledSchema:
        cs = compile_schema(schema, seed)
        self._schemas[name] = cs
        return cs

    def get(self, name: str) -> CompiledSchema:
        return self._schemas[name]

    def generate(self, spark: SparkSession, name: str, n: int,
                 partitions: int | None = None) -> DataFrame:
        return self._schemas[name].dataframe(spark, n, partitions)
