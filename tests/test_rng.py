"""Statistical sanity + determinism of the counter-based RNG."""

from __future__ import annotations

def test_table_lookup_threshold_equals_flat():
    """The run-length threshold encoding must select exactly the same
    value as the flat table for every slot (both engines)."""
    import duckdb
    from nifi_datasynthesizer_spark.rng import table_lookup
    from nifi_datasynthesizer_spark.dual import D
    table = ["a"] * 5 + ["b"] * 1 + ["c"] * 10  # uneven runs
    slot = D("i", "i")
    d = table_lookup(slot, table)
    got = [r[0] for r in duckdb.sql(
        f"SELECT {d.s} FROM range(0, {len(table)}) t(i)").fetchall()]
    assert got == table
    # single-run degenerate table collapses to a constant
    dc = table_lookup(slot, ["x"] * 8)
    assert duckdb.sql(f"SELECT DISTINCT {dc.s} FROM range(0, 8) t(i)"
                      ).fetchall() == [("x",)]

import duckdb

from nifi_datasynthesizer_spark import compile_schema


def _sample_u01(n=20000, seed=0):
    sql = compile_schema([{"name": "u", "class": "double",
                           "min": 0, "max": 1}], seed=seed).duckdb_sql(n)
    return [r[0] for r in duckdb.sql(sql).fetchall()]


def test_uniform_moments():
    xs = _sample_u01()
    n = len(xs)
    mean = sum(xs) / n
    var = sum((x - mean) ** 2 for x in xs) / n
    assert abs(mean - 0.5) < 0.01, mean
    assert abs(var - 1 / 12) < 0.005, var


def test_uniform_chi_square():
    xs = _sample_u01()
    bins = [0] * 20
    for x in xs:
        bins[min(19, int(x * 20))] += 1
    expect = len(xs) / 20
    chi2 = sum((b - expect) ** 2 / expect for b in bins)
    # df=19; p=0.001 critical value ≈ 43.8
    assert chi2 < 43.8, (chi2, bins)


def test_no_serial_correlation():
    xs = _sample_u01()
    n = len(xs) - 1
    mean = sum(xs) / len(xs)
    cov = sum((xs[k] - mean) * (xs[k + 1] - mean) for k in range(n)) / n
    var = sum((x - mean) ** 2 for x in xs) / len(xs)
    assert abs(cov / var) < 0.02, cov / var


def test_seed_independence():
    a = _sample_u01(2000, seed=1)
    b = _sample_u01(2000, seed=2)
    assert a != b
    # same seed reproduces exactly
    assert a == _sample_u01(2000, seed=1)


def test_partitioning_invariance(spark):
    """The same schema must produce identical rows regardless of the
    partition count — the property that makes generation safe under
    AQE re-planning and task retries on a real cluster."""
    cs = compile_schema([{"name": "rec_id", "class": "id"},
                         {"name": "v", "class": "int", "min": 0, "max": 1000}],
                        seed=3)
    one = sorted(map(tuple, cs.dataframe(spark, 5000, partitions=1).collect()))
    many = sorted(map(tuple, cs.dataframe(spark, 5000, partitions=17).collect()))
    assert one == many
