from __future__ import annotations

import contextlib
import os

import pytest

# the repository root, for subprocesses that import the checkout under test
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# single source of truth for the test-data root: every test reads the
# smallest SF through this so a relocated dataset is a one-env change
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from nifi_datasynthesizer_spark import get_spark
    # local[SPARK_GRAFT_CPUS] (default: every core), as many shuffle
    # partitions
    s = get_spark(app="tests")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_and_check_caches():
    """After every test, release the frames pinned through ``cache``
    and check that Spark's SQL cache list is empty: a bare
    ``.persist()`` left behind fails the test that made it.  Never
    starts a session; without an active one there is nothing to do."""
    yield
    from pyspark.sql import SparkSession
    spark = SparkSession.getActiveSession()
    if spark is None:
        return
    from nifi_datasynthesizer_spark.cache import release_caches
    release_caches()
    leaked = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    if leaked:
        spark.catalog.clearCache()   # fail this test only, not the next
    assert not leaked, "a cached frame outlived release_caches()"


@contextlib.contextmanager
def job_group(spark, group: str):
    """Run the block's jobs under ``group`` and yield a function giving
    the ids of the group's jobs so far (listener bus drained first, so
    a finished job is always counted)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    tracker = sc.statusTracker()

    def ids() -> set:
        bus.waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(group))

    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# DuckDB budget for every oracle run: the same on any host, so an
# oracle that needs more fails everywhere, not only on small hosts
ORACLE_MEMORY_LIMIT = "4GB"
ORACLE_THREADS = 4


def oracle_con(sf_dir: str | None):
    """A DuckDB connection under the oracle budget, with the ``sf_dir``
    tables registered as views (none when ``sf_dir`` is empty)."""
    import duckdb

    con = duckdb.connect(config={"memory_limit": ORACLE_MEMORY_LIMIT,
                                 "threads": ORACLE_THREADS})
    if sf_dir:
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def compare_with_duckdb(spark_df, sql: str, sf_dir: str | None = None,
                        float_tol: float = 1e-9):
    """Mirror of the driver's check: run the oracle in DuckDB (tables
    registered as views), sort columns by name and rows by value, then
    compare cell-wise."""
    import pandas as pd

    con = oracle_con(sf_dir)
    expected = con.sql(sql).df()
    actual = spark_df.toPandas()

    assert sorted(actual.columns) == sorted(expected.columns), (
        f"schema mismatch: {sorted(actual.columns)} vs {sorted(expected.columns)}")
    cols = sorted(actual.columns)
    for df in (actual, expected):
        for c in cols:
            if df[c].dtype == object and df[c].map(
                    lambda v: not isinstance(v, (str, bytes, type(None)))).any():
                df[c] = df[c].map(lambda v: str(list(v))
                                  if hasattr(v, "__len__") and not isinstance(v, str)
                                  else str(v))
    a = actual[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    e = expected[cols].sort_values(cols, kind="mergesort").reset_index(drop=True)
    assert len(a) == len(e), f"row count {len(a)} vs {len(e)}"
    for c in cols:
        av, ev = a[c], e[c]
        if av.dtype.kind == "f" or ev.dtype.kind == "f":
            pd.testing.assert_series_equal(av.astype(float), ev.astype(float),
                                           check_names=False, rtol=0,
                                           atol=float_tol)
        else:
            pd.testing.assert_series_equal(av.astype(str), ev.astype(str),
                                           check_names=False)
