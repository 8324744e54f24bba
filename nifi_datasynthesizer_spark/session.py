"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# local-mode driver heap: this share of physical RAM, capped — the
# rest is left to the OS, Python workers and off-heap buffers
_HEAP_SHARE = 0.6
_HEAP_CAP_MB = 24 * 1024


def _local_heap() -> str:
    """Default ``local`` driver heap sized from the host, not a fixed
    24g that a small host cannot back."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(_HEAP_CAP_MB, int(phys * _HEAP_SHARE) >> 20)}m"


def get_spark(app: str = "nifi-datasynthesizer-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (SparkSession.builder.appName(app).master(master)
         # deterministic timestamp semantics everywhere
         .config("spark.sql.session.timeZone", "UTC")
         # testdata events.parquet carries TIMESTAMP(NANOS): read as long,
         # normalized by io.read_table
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         # AQE: runtime coalescing + skew-join handling — essential at scale
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         # NOTE: spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
         # stays at its default (false) deliberately: with it on, AQE
         # coalesces the pinned candidate-join subtrees to ~1
         # partition based on their small INPUT bytes, serializing
         # joins whose cost is in the OUTPUT expansion (measured 6×
         # slower on dedup_fuzzy).  Skew inside cached joins is
         # handled structurally (salted block keys) instead.
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         # Arrow for every pandas-UDF boundary
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         # in local mode the "driver" heap IS the executor heap for
         # every worker thread — size it for the host, not for a thin
         # cluster driver (8g across 32 threads = 256 MB each, pure GC
         # pressure on a 128 GiB box)
         .config("spark.driver.memory",
                 os.environ.get("SPARK_DRIVER_MEMORY",
                                _local_heap() if master.startswith("local")
                                else "8g"))
         # every codegen'd stage is a generated class; a long session
         # running ~100 distinct queries fills the JVM's default 240 MB
         # code cache, after which the JIT disables itself and late
         # queries run interpreted (measured: the same 2M-row generator
         # 5 s early in a bench run, 28 s at position 77)
         .config("spark.driver.extraJavaOptions",
                 "-XX:ReservedCodeCacheSize=1g")
         # the generated-class cache (source -> compiled class) holds
         # 100 entries by default; a session running ~200 distinct
         # queries × several codegen stages each evicts constantly, so
         # even an immediate re-run of the same query re-compiles via
         # janino.  Sized to hold a long session's working set — this
         # caches COMPILED CODE keyed on generated source, never data
         # or results, and benefits any long-lived app identically
         .config("spark.sql.codegen.cache.maxEntries", "8192")
         # HotSpot never JIT-compiles a method over 8000 bytes of
         # bytecode (DontCompileHugeMethods), so a whole-stage class
         # with one such method runs interpreted for good.  The basic
         # generation schema's fused projection has an 8306-8651-byte
         # method: 2M rows took 12-13 s interpreted vs 1.6-2.1 s on the
         # split, compiled projection this limit falls back to (local[4]
         # on a 4-core host, noop sink).  8000 is the value Spark's docs
         # recommend on HotSpot
         .config("spark.sql.codegen.hugeMethodLimit", "8000")
         # PySpark 4 wraps F.col and every classic Column/DataFrame
         # method in a call-site capture (active-session lookup, conf
         # read, origin set/clear over py4j).  Measured with a py4j
         # call counter: F.col 13 -> 3 round trips with this off,
         # .alias and + 11 -> 1; the dedup_minhash entry builds in
         # 343 instead of 386 ms (local[2], 4-core host).  The cost: a
         # runtime error loses its Python "DataFrame context" lines;
         # it still raises with the same error class and message.  A
         # static conf: it applies when get_spark() creates the
         # session, and PySpark caches it per process on first use
         .config("spark.python.sql.dataFrameDebugging.enabled", "false")
         .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)))
    if master.startswith("local"):
        # Spark's default FileContext checkpoint manager renames through
        # Hadoop's AbstractFileSystem.renameInternal, which calls
        # getFileLinkStatus on both paths; without a native libhadoop
        # RawLocalFs answers that by forking `readlink` from the JVM.
        # The perfbench stream workload (48 micro-batches, local[4] on
        # a 4-core host) forked 2213 readlinks, ~46 a batch; walCommit
        # and commitOffsets took ~35 ms a batch each (1110 ms a 16-batch
        # pass).  The FileSystem manager renames with File.renameTo: 5
        # readlinks in the same run, those commits 1110 -> 310 ms a
        # pass, state commits 523 -> 42 ms, batch p50 452 -> 289 ms
        # (median of 10 runs each).  On `file:` it keeps every checkpoint
        # guarantee: both managers write a temp file and rename it, and
        # both check-then-rename when overwrite is off (RawLocalFs keeps
        # AbstractFileSystem's non-atomic default), and Spark's checksum
        # manager still wraps it.  It serves the offset, commit and
        # source logs and the state-store deltas (via newHadoopConf).
        # Other masters keep the FileContext default, whose atomic
        # rename HDFS and other cluster file systems rely on.
        b = b.config("spark.sql.streaming.checkpointFileManagerClass",
                     "org.apache.spark.sql.execution.streaming."
                     "checkpointing.FileSystemBasedCheckpointFileManager")
    # avro sink: the spark-avro module is external and needs a network
    # fetch at session start.  Opt-in (env var) rather than default:
    # in an offline environment ivy resolution would stall EVERY
    # session for a timeout before failing, so attempting it
    # unconditionally is strictly worse than the documented io.write
    # gate.  Set SPARK_GRAFT_AVRO=1 where Maven Central is reachable
    # and io.write(..., fmt="avro") lights up.
    if os.environ.get("SPARK_GRAFT_AVRO"):
        import pyspark
        # Spark 4.x builds are Scala 2.13; 3.x convenience builds are
        # Scala 2.12 — derive the suffix so the jar coordinate stays
        # valid if the project is ever run under an older pyspark
        major = int(pyspark.__version__.split(".")[0])
        scala = "2.13" if major >= 4 else "2.12"
        b = b.config("spark.jars.packages",
                     f"org.apache.spark:spark-avro_{scala}:"
                     f"{pyspark.__version__}")
    return b.getOrCreate()
