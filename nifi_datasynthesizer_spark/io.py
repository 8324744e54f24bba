"""Sources and sinks.

The reference reads/writes via NiFi Record readers/writers (JSON, Avro,
CSV — see DataSynthesizerBase's RECORD_WRITER property); here the
equivalents are the Spark DataFrame reader/writer formats, plus
normalization for awkward physical types (nanosecond parquet
timestamps, which Spark's vectorized reader rejects by default).
"""

from __future__ import annotations

import copy
import threading
import weakref

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (UTC instant),
    whatever the physical encoding of the source:

    - ``bigint`` epoch *nanos* (parquet TIMESTAMP(NANOS) read under
      ``spark.sql.legacy.parquet.nanosAsLong``) — integer ``div``, NOT
      ``/``: epoch nanos exceed 2**53, so a double round-trip would
      round the low microsecond digit;
    - ``timestamp_ntz`` (parquet timestamp[us], isAdjustedToUTC=false)
      — the wall time IS the UTC instant (generator semantics, and what
      the DuckDB oracle's naive ``epoch_us(ts)`` assumes); the
      ntz→timestamp cast interprets wall time in the *session*
      timezone, so this function pins ``spark.sql.session.timeZone`` to
      UTC itself (session-wide mutation, see :func:`read_table`) rather
      than trusting the caller to have done it;
    - ``timestamp`` — already normalized, pass through.
    """
    t = dict(df.dtypes).get(col)
    if t == "bigint":
        # backticked: col may be a reserved word / contain specials
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    elif t == "timestamp_ntz":
        df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Session confs that change what parquet schema inference returns for
# the same files; part of the memo key below.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive",
)
# paths remembered per session; the oldest entry is dropped beyond this
_SCHEMA_MEMO_MAX = 64
# {session: {path: (key, raw inferred schema)}} — metadata only, never
# rows; an entry dies with its session
_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()
_SCHEMA_MEMO_LOCK = threading.Lock()


def _inference_key(spark: SparkSession, path: str) -> tuple | None:
    """What a parquet schema inference over ``path`` depends on: the
    Hadoop ``FileSystem`` listing of its files (path, length,
    modification time; recursive, so partition directories count) and
    the inference confs the session has set.  ``None`` when the path
    cannot be listed — the caller then reads uncached, so a missing
    table fails exactly as an uncached read does.

    ``listStatus``, not ``listFiles``, which builds LocatedFileStatus
    objects with block locations (8.8 vs 5.2 ms for one local file),
    and the Path class is bound directly: a ``spark._jvm.org...``
    chain costs one py4j round trip per package segment (1.7 vs
    0.16 ms)."""
    jpath = JavaClass("org.apache.hadoop.fs.Path",
                      spark._jvm._gateway_client)(path)
    files = []
    try:
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        dirs = [jpath]
        while dirs:
            for st in fs.listStatus(dirs.pop()):
                if st.isDirectory():
                    dirs.append(st.getPath())
                else:
                    files.append((st.getPath().toString(), st.getLen(),
                                  st.getModificationTime()))
    except Py4JJavaError:
        return None
    return (tuple(sorted(files)),
            tuple(spark.conf.get(k, None) for k in _INFER_CONFS))


def _remembered(spark: SparkSession, path: str):
    """(key, memoized raw schema or None) for ``path`` on ``spark``."""
    key = _inference_key(spark, path)
    with _SCHEMA_MEMO_LOCK:
        hit = _SCHEMA_MEMO.get(spark, {}).get(path)
    if key is None or hit is None or hit[0] != key:
        return key, None
    return key, hit[1]


def _remember(spark: SparkSession, path: str, key, schema) -> None:
    if key is None:
        return
    entry = (key, copy.deepcopy(schema))
    with _SCHEMA_MEMO_LOCK:
        memo = _SCHEMA_MEMO.setdefault(spark, {})
        memo.pop(path, None)
        memo[path] = entry
        while len(memo) > _SCHEMA_MEMO_MAX:
            del memo[next(iter(memo))]


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    key, schema = _remembered(spark, path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _remember(spark, path, key, df.schema)
    return df


def _set_events_confs(spark: SparkSession) -> None:
    # must work under ANY caller-built session, including a vanilla
    # one, so set read/timezone confs here, not only in
    # session.get_spark(); runtime-settable, cheap if already set.
    # UTC pins cast/to_date semantics to match the DuckDB oracle's
    # naive-timestamp arithmetic.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing physical types.

    ``events.ts`` arrives as either INT64 TIMESTAMP(NANOS) or
    timestamp[us] with no zone depending on the generator version; both
    are normalized to a UTC-instant TIMESTAMP by
    :func:`normalize_event_ts` so every downstream query sees one type.

    Schema memo: ``spark.read.parquet(path)`` runs a one-task Spark job
    to read a footer just to infer the schema (about 100 ms a read on
    a 4-core host, against 15 ms for a memoized read, listing
    included).  The inferred schema is therefore remembered per session
    and handed to ``spark.read.schema(...)`` on later reads.  An entry
    is keyed on the path, a Hadoop ``FileSystem`` listing of its files
    (name, length, modification time) and the parquet-inference confs
    the session has set (``_INFER_CONFS``: nanosAsLong, binaryAsString,
    int96AsTimestamp, inferTimestampNTZ, mergeSchema, partition type
    inference, case sensitivity).  Every read re-lists the files and
    re-reads those confs; if any part differs — a rewritten, added or
    removed file, a conf change — the table is inferred again exactly
    as an uncached read would, and the entry replaced.  A rewrite that
    keeps every file's name, length and modification time (to the
    millisecond) is not noticed.  Only schemas are remembered, never
    rows, and an entry dies with its session.

    .. warning:: Reading ``events`` mutates SESSION-WIDE conf:
       ``spark.sql.legacy.parquet.nanosAsLong=true`` and
       ``spark.sql.session.timeZone=UTC``.  The timezone pin changes
       timestamp/date semantics of *unrelated* queries on the same
       session; every oracle in this repo assumes UTC, so the pin is
       intentional and idempotent, but callers embedding this engine in
       a non-UTC session should be aware.
    """
    if name == "events":
        _set_events_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The raw physical schema of one testdata table, before
    :func:`read_table`'s normalization — what a file-stream source over
    the same files needs.  Sets the same session confs as
    :func:`read_table` and shares its schema memo, so a warm call runs
    no Spark job."""
    if name == "events":
        _set_events_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    key, schema = _remembered(spark, path)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _remember(spark, path, key, schema)
    return copy.deepcopy(schema)


def write(df: DataFrame, path: str, fmt: str = "parquet",
          mode: str = "overwrite", partition_by: list[str] | None = None,
          compression: str = "zstd", files_per_value: int = 8) -> None:
    """Record-writer equivalent: parquet/json/csv/orc sinks.

    Defaults tuned for scale: zstd parquet, caller-controlled
    partitioning (partition_by on a low-cardinality column keeps file
    counts sane at 100 TB)."""
    if fmt == "avro" and not _has_avro(df.sparkSession):
        # NiFi's Avro record writer maps to the external spark-avro
        # module (built-in since 2.4 but not on every classpath);
        # without it, avro_io.write_avro/read_avro provide a
        # spec-compliant pure-Python container codec (nested record,
        # array and map columns, decimal, enum, fixed, schema
        # resolution), cross-validated against the bundled Java avro
        # implementation in tests/test_io.py
        raise NotImplementedError(
            "avro sink needs the spark-avro module on the classpath "
            "(--packages org.apache.spark:spark-avro_2.13:<spark-version>); "
            "available here: parquet, orc, json, csv — or use "
            "nifi_datasynthesizer_spark.avro_io.write_avro, the "
            "pure-Python container writer, without the module")
    if partition_by:
        # co-locate each output partition's rows before the write:
        # without this every task writes a file per partition value
        # (tasks × values tiny files — at 1000 executors that is the
        # classic small-files explosion).  Repartitioning on the
        # partition columns ALONE would be the opposite failure (one
        # writer task per value — 3 tasks for a 100 TB write when the
        # column has 3 values), so a bounded content-hash salt keeps
        # ``files_per_value`` parallel writers per value.  Hash only
        # hashable column types: xxhash64 rejects MapType (and
        # VariantType), so a frame with a map column would otherwise
        # fail to write at all.
        from pyspark.sql.types import MapType
        try:
            from pyspark.sql.types import VariantType
            bad: tuple = (MapType, VariantType)
        except ImportError:  # pre-4.0 pyspark
            bad = (MapType,)
        hashable = [df[f.name] for f in df.schema.fields
                    if not _has_unhashable(f.dataType, bad)]
        if hashable:
            salt = F.pmod(F.xxhash64(F.struct(*hashable)),
                          F.lit(files_per_value))
        else:
            # every column (including the partition keys) is
            # unhashable: a content salt is impossible, and a salt
            # derived from the partition keys would be CONSTANT per
            # value (one writer per value).  Spread by physical row
            # position instead — still files_per_value writers per
            # value, merely without content-affinity.
            salt = F.pmod(F.monotonically_increasing_id(),
                          F.lit(files_per_value))
        df = df.repartition(*([df[c] for c in partition_by] + [salt]))
    w = df.write.mode(mode).format(fmt)
    if fmt in ("parquet", "orc"):
        w = w.option("compression", compression)
    if fmt == "csv":
        w = w.option("header", "true")  # read() expects per-file headers
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def _has_unhashable(dt, bad: tuple) -> bool:
    """True iff the type contains a type Spark's hash functions
    reject (maps, variants) at any nesting depth."""
    from pyspark.sql.types import ArrayType, StructType
    if isinstance(dt, bad):
        return True
    if isinstance(dt, ArrayType):
        return _has_unhashable(dt.elementType, bad)
    if isinstance(dt, StructType):
        return any(_has_unhashable(f.dataType, bad) for f in dt.fields)
    return False


def _has_avro(spark: SparkSession) -> bool:
    """True iff the session can actually resolve the 'avro' data
    source.  Class.forName on AvroFileFormat is NOT sufficient — the
    pyspark wheel ships some sql.avro classes without registering the
    provider, so we ask Spark's own DataSource lookup."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource \
            .lookupDataSource("avro", spark._jsparkSession.sessionState().conf())
        return True
    except Exception:
        return False


def write_bucketed(df: DataFrame, table: str, bucket_by: list[str],
                   num_buckets: int, sort_by: list[str] | None = None,
                   fmt: str = "parquet", mode: str = "overwrite") -> None:
    """Bucketed managed table — the co-located-join primitive.

    Two tables bucketed on their join key with the same bucket count
    join WITHOUT an exchange on either side (the bucketed scan already
    satisfies the required hash distribution); at 100 TB that deletes
    the two largest shuffles of a fact-fact join.  ``sort_by`` inside
    buckets additionally removes the sort before a sort-merge join.
    Bucketing metadata lives in the session catalog, so this writes a
    managed table (``saveAsTable``), not a bare path.
    """
    w = df.write.mode(mode).format(fmt).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def read(spark: SparkSession, path: str, fmt: str = "parquet",
         schema=None) -> DataFrame:
    r = spark.read.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", "true").option("inferSchema", schema is None)
    return r.load(path)


def zorder_key(x, y, bits: int = 8):
    """Morton (Z-order) interleave of two ``bits``-bit non-negative
    integer columns into one clustering key — the multi-dimensional
    layout primitive behind Delta/Iceberg ``OPTIMIZE ZORDER BY``:
    sorting by the interleaved key keeps rows close in BOTH
    dimensions, so per-file min/max statistics prune selective
    filters on EITHER column (a lexicographic (x, y) sort prunes only
    x).  At 100 TB, layout is the cheapest pruning there is: it costs
    one range-partitioned write and pays on every later scan.

    Pure integer column algebra (shift-free: div/mod/multiply), so
    the identical expression replays in any ANSI engine:
    ``z = Σᵢ ((x div 2ⁱ) mod 2 + 2·((y div 2ⁱ) mod 2)) · 4ⁱ``.
    ``x``/``y`` are column NAMES (or SQL expressions); caller masks
    them into range (e.g. ``pmod(user_id, 256)``).
    """
    from pyspark.sql import functions as F
    terms = " + ".join(
        f"((({x}) div {1 << i}) % 2 + 2 * ((({y}) div {1 << i}) % 2))"
        f" * {4 ** i}" for i in range(bits))
    return F.expr(f"CAST({terms} AS BIGINT)")


def zorder_key_sql(x: str, y: str, bits: int = 8) -> str:
    """The same Morton interleave as ANSI SQL text (oracle side)."""
    terms = " + ".join(
        f"((({x}) // {1 << i}) % 2 + 2 * ((({y}) // {1 << i}) % 2))"
        f" * {4 ** i}" for i in range(bits))
    return f"CAST({terms} AS BIGINT)"


def rowgroup_audit(spark: SparkSession, path: str,
                   target_rows: int = 64_000) -> DataFrame:
    """Parquet layout audit: one row per file with its row-group
    population — the governance read BEFORE any 100 TB scan.

    The row group is Spark's parquet split unit: a dataset whose rows
    sit in few oversized row groups (or one, the classic single-file
    export) caps scan parallelism at the row-group count no matter how
    many executors exist.  The r7 scale study hit exactly this at the
    1000× decade (SURVEY §6: 64k-row row groups restored scan
    parallelism); this operator turns that lesson into a check that
    runs BEFORE the job, not after the stall.

    Scale shape: file listing rides the ``binaryFile`` source
    (path/length only — column pruning keeps file CONTENT unread),
    and footer decodes fan out one task per file via ``mapInArrow``
    (a footer is KBs regardless of file size; 100k files = 100k tiny
    tasks, never a driver loop).  ``oversized`` flags files whose
    largest row group exceeds ``target_rows`` — the unsplittable-file
    signal.
    """
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.parquet")
             .option("recursiveFileLookup", "true").load(path)
             .select("path"))

    def gen(batches):
        from urllib.parse import unquote, urlparse

        import pyarrow as pa
        import pyarrow.parquet as pq
        for batch in batches:
            out = {"path": [], "n_rowgroups": [], "n_rows": [],
                   "min_rg_rows": [], "max_rg_rows": []}
            for p in batch.column(0).to_pylist():
                # binaryFile paths are Hadoop URIs — percent-encoded
                # (spaces, '=' values in partition dirs), so a plain
                # prefix strip hands pq.ParquetFile a broken path
                u = urlparse(p)
                if u.scheme not in ("", "file"):
                    raise ValueError(
                        "rowgroup_audit reads local/file: paths only; "
                        f"got scheme {u.scheme!r} in {p!r}")
                local = unquote(u.path) if u.scheme else p
                md = pq.ParquetFile(local).metadata
                rgs = [md.row_group(i).num_rows
                       for i in range(md.num_row_groups)] or [0]
                out["path"].append(p)
                out["n_rowgroups"].append(md.num_row_groups)
                out["n_rows"].append(md.num_rows)
                out["min_rg_rows"].append(min(rgs))
                out["max_rg_rows"].append(max(rgs))
            yield pa.RecordBatch.from_pydict(out)

    audited = files.mapInArrow(
        gen, "path string, n_rowgroups long, n_rows long, "
             "min_rg_rows long, max_rg_rows long")
    return audited.withColumn(
        "oversized", F.col("max_rg_rows") > F.lit(int(target_rows)))


def rowgroup_summary(audit: DataFrame, cores: int) -> DataFrame:
    """One-row effective-parallelism readout over a
    :func:`rowgroup_audit` frame — the go/no-go number before a big
    scan: ``n_rowgroups`` is the dataset's maximum scan parallelism
    (parquet splits by row group), ``scan_waves`` is how many task
    waves a ``cores``-slot cluster needs, and
    ``parallelism_limited`` says the layout (not the cluster) is the
    bottleneck.  ``max_file_share_ppm`` flags single-file hot spots
    (one file holding most rows ⇒ one task reads most data even when
    the group count looks healthy)."""
    return audit.agg(
        F.count("*").alias("n_files"),
        F.sum("n_rowgroups").alias("n_rowgroups"),
        F.sum("n_rows").alias("n_rows"),
        F.ceil(F.sum("n_rowgroups") / F.lit(int(cores)))
        .cast("long").alias("scan_waves"),
        (F.sum("n_rowgroups") < F.lit(int(cores)))
        .alias("parallelism_limited"),
        (F.max("n_rows") * 1_000_000 / F.greatest(F.sum("n_rows"),
                                                  F.lit(1)))
        .cast("long").alias("max_file_share_ppm"),
        F.sum(F.col("oversized").cast("long")).alias("n_oversized"))


def column_stats(df: DataFrame, cols: list[str],
                 ndv_mode: str = "exact", m: int = 64) -> DataFrame:
    """ANALYZE-style per-column statistics in ONE corpus pass:
    (col, n_non_null, n_null, ndv, min_s, max_s) — the table a
    cost-based planner (or a human sizing a join) reads before
    touching 100 TB: ndv bounds the shuffle key space, min/max bound
    partition pruning, null counts bound skew from null-keyed joins.

    ``ndv_mode='exact'``: all requested columns aggregate in a single
    pass over the scan (count/min/max are map-side partial; the exact
    distincts ride Spark's expand — one extra shuffle total, not one
    per column, but a #cols× row multiplication inside it — the
    honest ANALYZE cost for wide audits).

    ``ndv_mode='sketch'``: the expand factor disappears — each
    column's ndv is estimated with the repo's engine-exact HyperLogLog
    (``operators.sketches.HLL``, the ``sketch_hll`` arithmetic:
    portable h60 hash, ``m`` MAX-combinable registers, NULLs set no
    register — so DuckDB replays it bit-identically).  The m
    registers per column are plain ``MAX(CASE)`` aggregates, all
    map-side partial-combinable: the whole audit stays one scan + one
    single-row shuffle with ZERO row multiplication, at ~1.04/√m
    relative ndv error.  At 100 TB × many
    columns this is the mode to run.

    The wide one-row result is unpivoted driver-free with ``stack``.
    min/max render as strings so one narrow schema covers
    heterogeneous column types; integer and string columns render
    engine-identically (floats should be quantized by the caller
    first — the same contract every oracle-exact operator here uses).
    Column names must be plain identifiers (``[A-Za-z_][A-Za-z0-9_]*``,
    the gate ``operators.similarity`` uses) — they are interpolated
    into the ``stack`` expression, so anything else is rejected up
    front rather than parsed as SQL.
    """
    from .operators.similarity import _ident_ok
    from .operators.sketches import HLL
    from .phash import h60

    for c in cols:
        if not _ident_ok(c):
            raise ValueError(
                f"column_stats requires identifier column names "
                f"([A-Za-z_][A-Za-z0-9_]*); rename {c!r} first")
    if ndv_mode not in ("exact", "sketch"):
        raise ValueError(f"unknown ndv_mode {ndv_mode!r}")

    if ndv_mode == "exact":
        aggs = []
        for c in cols:
            aggs += [
                F.count(F.col(c)).alias(f"{c}__n"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
                F.min(F.col(c)).cast("string").alias(f"{c}__min"),
                F.max(F.col(c)).cast("string").alias(f"{c}__max"),
            ]
        aggs += [F.countDistinct(F.col(c)).alias(f"{c}__ndv")
                 for c in cols]
        wide = df.agg(*aggs)
    else:
        # per-column HLL registers: b/rho derived once per row, then
        # m MAX(CASE) register aggregates per column — constant-width
        # map-side state, no expand; a NULL hash has a NULL bucket, so
        # it matches no register
        hll = HLL(m)
        hashed = df.select(*df.columns, *[
            h60(F.col(c).cast("string")).alias(f"{c}__h") for c in cols])
        proj2 = []
        for c in cols:
            b, rho = hll.register(f"{c}__h")
            proj2 += [F.expr(b).alias(f"{c}__b"),
                      F.expr(rho).alias(f"{c}__rho"), F.col(c)]
        binned = hashed.select(*proj2)
        # the whole aggregation is ONE selectExpr over SQL strings (a
        # select of aggregate functions without groupBy is a global
        # aggregate): building m·#cols MAX(CASE) register aggregates
        # as individual Column objects cost ~6 py4j round-trips each
        # — measured ~1.8 s of pure driver-side construction at
        # 4 cols × m=64, dominating the warm query — while one string
        # batch is a single call.
        agg_sql = []
        for c in cols:
            agg_sql += [
                f"count({c}) AS {c}__n",
                f"sum(CAST(({c} IS NULL) AS BIGINT)) AS {c}__nulls",
                f"CAST(min({c}) AS STRING) AS {c}__min",
                f"CAST(max({c}) AS STRING) AS {c}__max",
            ]
        for c in cols:
            agg_sql += [
                f"max(CASE WHEN {c}__b = {j} THEN {c}__rho END) "
                f"AS {c}__r{j}" for j in range(m)]
        wide = binned.selectExpr(*agg_sql)
        # estimate on the ONE-row frame: set-register count and
        # harmonic sum over the m register columns (HOF lambdas here
        # touch a single row), then HLL's estimate.  Each level is
        # added for ALL columns in ONE select: a per-column withColumn
        # chain re-analyzes the whole ~(4+m)·#cols-column plan once
        # per column and level, and on this operator that DRIVER-side
        # analysis dominated the query (measured at sf0.1/4 cols/m=64:
        # ~2.5 s of the 4.1 s warm total was DataFrame construction).
        set_regs = {c: f"filter(array({', '.join(f'{c}__r{j}' for j in range(m))}), "
                       f"x -> x IS NOT NULL)" for c in cols}
        sums = {}
        for c, r in set_regs.items():
            sums[f"{c}__hits"] = f"size({r})"
            sums[f"{c}__z"] = (f"aggregate({r}, CAST(0 AS BIGINT), "
                               f"(acc, x) -> acc + {hll.weight('x')})")
        ndv = {f"{c}__ndv": hll.estimate(f"{c}__hits", f"{c}__z")
               for c in cols}
        for level in (sums, ndv):
            wide = wide.select(
                "*", *[F.expr(e).alias(name) for name, e in level.items()])
    stacked = ", ".join(
        f"'{c}', `{c}__n`, `{c}__nulls`, `{c}__ndv`, `{c}__min`, `{c}__max`"
        for c in cols)
    return wide.select(F.expr(
        f"stack({len(cols)}, {stacked}) AS "
        "(col, n_non_null, n_null, ndv, min_s, max_s)"))
