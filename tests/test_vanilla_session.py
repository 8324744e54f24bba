"""The driver contract must hold under a VANILLA SparkSession — no
engine confs pre-set (round-1 regression class: read_table relied on
get_spark()'s nanosAsLong/timezone confs and every events query died
under the driver's own session).  Runs in a subprocess so the vanilla
JVM/session cannot inherit the test session's SQLConf.  Likewise a
Python worker that cannot import the package must still load the
package functions the driver ships to it."""

from __future__ import annotations

import importlib
import subprocess
import sys

import pytest

from tests.conftest import ROOT

_SCRIPT = r"""
import sys
from pyspark.sql import SparkSession

# deliberately bare: only master/memory — NO timezone, NO nanosAsLong,
# NO Arrow/AQE tweaks.  This is what the correctness driver does.
spark = (SparkSession.builder.appName("vanilla")
         .master("local[4]")
         .config("spark.driver.memory", "4g")
         .getOrCreate())

sys.path.insert(0, sys.argv[1])
import __spark_entry__ as E
from tests.conftest import compare_with_duckdb

q, o = E.queries(), E.oracle_sql()
# one representative per conf-sensitive family: nanos-parquet reads
# (events_*), timezone-dependent date math, streaming replay, plain
# synth, and a documents operator
for name in ["events_daily", "events_sessionize", "events_ohlc",
             "streaming_events_daily", "synth_basic", "text_langid"]:
    df = q[name](spark, "/root/testdata/sf0.001")
    compare_with_duckdb(df, o[name], sf_dir="/root/testdata/sf0.001")
    print("VANILLA-OK", name, flush=True)
print("ALL-VANILLA-OK")
"""


def test_driver_contract_under_vanilla_session():
    r = subprocess.run([sys.executable, "-c", _SCRIPT, ROOT], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    assert "ALL-VANILLA-OK" in r.stdout, (
        f"stdout tail: {r.stdout[-2000:]}\nstderr tail: {r.stderr[-2000:]}")


@pytest.mark.parametrize("module, fn", [
    ("operators.clustering", "_nearest"),
    ("operators.multimodal", "_decode_image_stub"),
    ("synthesizers", "simulate_commuters"),
])
def test_worker_functions_load_without_the_package(tmp_path, module, fn):
    """Arrow, mapInPandas and applyInPandas closures call these module
    functions; a worker loads them in an isolated interpreter outside
    the repo (no package on its path), so they must be pickled by
    value."""
    from pyspark import cloudpickle
    f = getattr(importlib.import_module(
        f"nifi_datasynthesizer_spark.{module}"), fn)
    r = subprocess.run(
        [sys.executable, "-I", "-c",
         "import pickle, sys; print(pickle.loads(sys.stdin.buffer.read())"
         ".__name__)"],
        input=cloudpickle.dumps(f), cwd=tmp_path, capture_output=True,
        timeout=120)
    assert r.stdout.decode().strip() == fn, r.stderr.decode()[-2000:]
