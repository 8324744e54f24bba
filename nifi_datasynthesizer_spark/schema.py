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
:class:`CompiledSchema` is the one generated-table type: the canned
generators in ``synthesizers.py`` build it by hand, with a fixed ``n``.
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
    """A generated table: ``(name, D)`` columns over the row index ``i``.

    ``lets`` holds the named intermediates (``Ctx.bind_col``), projected
    in a FIRST select so a many-referenced value expression is ANALYZED
    once; Catalyst keeps the two selects apart when merging would
    duplicate non-cheap expressions (CollapseProject's cost check), and
    whole-stage codegen fuses them into one stage at runtime.  ``where``
    is an optional row mask evaluated after the lets (it may reference
    them) — variable-length generators emit a fixed grid and mask the
    tail, keeping generation a narrow map with no per-row explode.
    ``n`` is an optional fixed row count (the canned generators'), used
    when ``dataframe``/``duckdb_sql`` get none.
    """

    def __init__(self, columns: list[tuple[str, D]],
                 lets: dict[str, D] | None = None,
                 where: D | None = None, n: int | None = None):
        self.columns = columns
        self.lets = lets or {}
        self.where = where
        self.n = n

    def _select(self, base: DataFrame, keep=()) -> DataFrame:
        if self.lets:
            base = base.select(
                "*", *[d.c.alias(name) for name, d in self.lets.items()])
        if self.where is not None:
            base = base.filter(self.where.c)
        return base.select(
            *keep, *[d.c.alias(name) for name, d in self.columns])

    def dataframe(self, spark: SparkSession, n: int | None = None,
                  partitions: int | None = None) -> DataFrame:
        n = self.n if n is None else n
        if partitions is None:
            # use every core as soon as n is non-trivial; above
            # ROWS_PER_PARTITION per core, grow the task count so a
            # task never exceeds ~one in-memory chunk (100 TB-safe)
            par = spark.sparkContext.defaultParallelism
            partitions = max(1, min(n, max(par, n // DEFAULT_ROWS_PER_PARTITION)))
        base = spark.range(0, n, 1, partitions).withColumnRenamed("id", "i")
        return self._select(base)

    def duckdb_sql(self, n: int | None = None) -> str:
        n = self.n if n is None else n
        cols = ", ".join(f'{d.s} AS "{name}"' for name, d in self.columns)
        src = f"range(0, {n}) AS t(i)"
        if self.lets:
            lcols = ", ".join(f'{d.s} AS "{name}"'
                              for name, d in self.lets.items())
            src = f"(SELECT i, {lcols} FROM range(0, {n}) AS r(i)) AS t"
        where = "" if self.where is None else f" WHERE {self.where.s}"
        return f"SELECT {cols} FROM {src}{where}"

    def project(self, df: DataFrame, index_col: str = "i",
                keep: list[str] | None = None) -> DataFrame:
        """Apply the compiled columns to ANY DataFrame that carries a
        row-index column (batch or streaming) — e.g. a rate source's
        ``value``.  ``keep`` passes through extra input columns."""
        base = df.withColumn("i", F.col(index_col).cast("long"))
        return self._select(base, [c for c in keep or [] if c != "i"])


def compile_schema(schema, seed: int = 0) -> CompiledSchema:
    """schema: JSON string or list of field specs (log-synth format)."""
    if isinstance(schema, str):
        schema = json.loads(schema)
    if not isinstance(schema, list):
        raise ValueError("schema must be a JSON array of field specs")
    i = D("i", "i")
    out: list[tuple[str, D]] = []
    lets: dict[str, D] = {}
    for spec in schema:
        spec = dict(spec)
        name = spec.get("name", spec.get("class"))
        ctx = Ctx(i, seed, f"$.{name}", lets)
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
    return CompiledSchema(out, lets)


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
