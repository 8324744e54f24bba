"""Tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import gate  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import parse_metric  # noqa: E402


# ------------------------------------------------------------ tail rule

def test_tail_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))                 # 100 distinct samples
    p, v = stats.tail_percentile(xs)
    assert sum(1 for x in xs if x > v) >= 10
    # one percentile higher would leave fewer than ten beyond it
    nxt = stats.percentile(xs, p + 1)
    assert sum(1 for x in xs if x > nxt) < 10
    assert p == 90


def test_tail_percentile_small_sample_has_no_tail():
    assert stats.tail_percentile(list(range(15))) is None


def test_tail_percentile_ties_do_not_count_as_beyond():
    xs = [1.0] * 50 + [5.0] * 9
    assert stats.tail_percentile(xs) is None


def test_percentile_interpolates_like_numpy():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([10], 99) == 10


# --------------------------------------------------------------- spread

def test_quartile_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 10.1, 9.9, 10.3, 9.8]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartile_spread(xs) == pytest.approx((q3 - q1) / med)


def test_quartile_spread_of_constant_is_zero():
    assert stats.quartile_spread([3.0] * 10) == 0.0


# ------------------------------------------------------ failure counting

def test_error_rate_counts_failures_against_attempts():
    assert stats.error_rate([True, True, False, True]) == (4, 1, 0.25)
    assert stats.error_rate([]) == (0, 0, 0.0)


def test_mismatch_is_a_failure():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.0]})
    assert gate.mismatch(a, a.iloc[::-1].reset_index(drop=True)) is None
    b = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.1]})
    assert gate.mismatch(a, b).startswith("column v")
    assert gate.mismatch(a, a.head(1)).startswith("row count")
    assert gate.mismatch(a, a.rename(columns={"v": "w"})).startswith("columns")


def test_oracle_check_fast_path_and_fallback():
    o = gate.Oracle(None)
    sql = "SELECT * FROM (VALUES (1, 0.5), (2, 1.0)) t(k, v)"
    same = pd.DataFrame({"v": [1.0, 0.5], "k": [2, 1]})
    assert o.check("q", lambda: sql, same) is None
    # the expected rows are computed once per key
    assert o.check("q", lambda: "SELECT 1 / 0", same) is None
    # float noise within tolerance fails the fingerprint but passes
    assert o.check("q", lambda: sql, same.assign(v=[1.0 + 5e-10, 0.5])) is None
    assert o.check("q", lambda: sql, same.assign(v=[1.1, 0.5])).startswith("column v")
    assert o.check("q", lambda: sql, "SELECT 1 AS k, 0.5 AS v").startswith("row count")
    o.close()


def test_mismatch_float_tolerance_is_the_test_suites():
    a = pd.DataFrame({"v": [1.0]})
    assert gate.mismatch(a, pd.DataFrame({"v": [1.0 + 5e-10]})) is None
    assert gate.mismatch(a, pd.DataFrame({"v": [1.0 + 5e-9]})) is not None


# ------------------------------------------------------------ self time

def _span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0), _span(2, 5.0, 6.0, 0),
             _span(3, 2.0, 3.0, 1)]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)


def test_self_time_merges_overlapping_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 5.0, 0), _span(2, 3.0, 7.0, 0)]
    assert stats.self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, 0.0, 2.0), _span(1, 1.0, 3.0, 0)]
    assert stats.self_times(spans)[0] == pytest.approx(1.0)


# -------------------------------------------------------- metric parse

@pytest.mark.parametrize("text,value", [
    ("3.1 KiB", 3.1 * 1024), ("59.0 B", 59.0), ("735 ms", 0.735),
    ("1.4 s", 1.4), ("1,234", 1234.0),
    ("total (min, med, max (stageId: taskId))\n2.0 MiB (0.0 B, 1.0 MiB, "
     "1.0 MiB (stage 3.0: task 9))", 2.0 * 2 ** 20),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


# ---------------------------------------------------------------- inputs

def test_tables_are_a_function_of_the_seed():
    sizes = datagen.SIZES["smoke"]
    a, b = datagen.build_tables(7, sizes), datagen.build_tables(7, sizes)
    c = datagen.build_tables(8, sizes)
    assert all(a[t].equals(b[t]) for t in datagen.TABLES)
    assert not a["documents"].equals(c["documents"])
    assert set(a) == set(datagen.TABLES)
    assert a["events"]["ts"].to_pandas().is_monotonic_increasing


def test_lineitem_revenue_is_exact_in_doubles():
    li = datagen.build_tables(3, datagen.SIZES["smoke"])["lineitem"].to_pandas()
    revenue = li["l_extendedprice"] * (1 - li["l_discount"])
    # multiples of 1/256: sums are exact, whatever the order
    assert ((revenue * 256) % 1 == 0).all()
    assert revenue.sum() == revenue[::-1].sum()


def test_stream_split_covers_the_table_in_order(tmp_path):
    import pyarrow.parquet as pq
    counts = datagen.write_tables(str(tmp_path / "d"), 3, "smoke")
    paths = datagen.split_for_stream(str(tmp_path / "d" / "events.parquet"),
                                     str(tmp_path / "s"), 3, "ts")
    parts = [pq.read_table(p) for p in paths]
    assert sum(p.num_rows for p in parts) == counts["events"]
    assert max(p.num_rows for p in parts) - min(p.num_rows for p in parts) <= 1
    ts = [p["ts"].to_pandas() for p in parts]
    assert all(ts[k].max() < ts[k + 1].min() for k in range(2))
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


# --------------------------------------------------------- declaration

def test_benchmark_json_declares_what_run_reports():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == \
        run._per_layer_names()
    assert {w["name"] for w in spec["workloads"]} == {"synth", "curate", "stream"}
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


# ------------------------------------------------------------- processes

def test_stop_processes_ends_every_descendant():
    import subprocess
    import time
    proc = subprocess.Popen(["bash", "-c", "sleep 60 & sleep 60"])
    deadline = time.monotonic() + 5
    while len(run.descendants()) < 3 and time.monotonic() < deadline:
        time.sleep(0.02)                     # bash and both sleeps
    assert proc.pid in run.descendants()
    run.stop_processes(grace=2.0)
    assert run.descendants() == []
    assert proc.poll() is not None
