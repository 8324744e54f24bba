"""The driver's correctness gate, run locally: every queries() entry
with an oracle_sql() mirror must match DuckDB exactly at sf0.001 (the
driver runs sf0.01; same code path)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR, compare_with_duckdb, oracle_con

_queries = entrymod.queries()
_oracles = entrymod.oracle_sql()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["pred_lang", "n_docs", "avg_quality", "avg_words"]


def test_every_oracle_has_query():
    missing = set(_oracles) - set(_queries)
    assert not missing, f"oracles without queries: {missing}"


def test_window_names_resolve():
    """_rotate silently drops window names missing from the registry,
    so a typo would shrink the checked window without any failure —
    every window entry must name a real query, the window must fill
    the 50 slots the driver checks, and the registry must lead with
    it."""
    window = entrymod._WINDOW
    assert len(window) >= 50
    ghosts = [n for n in window if n not in _queries]
    assert not ghosts, f"window names missing from registry: {ghosts}"
    assert list(_queries)[:len(window)] == window


def test_rendering_is_pure():
    """Compiled SQL depends only on schema and seed: compiling a schema
    or a canned generator again, or building every oracle again,
    renders the same text on both sides (lambda-variable and let names
    included)."""
    from nifi_datasynthesizer_spark import compile_schema
    from nifi_datasynthesizer_spark import synthesizers as SZ

    for make in (lambda: compile_schema(entrymod.SYNTH_IDENT_SCHEMA, seed=2),
                 lambda: SZ.weblog(n_users=20, events_per_user=5, seed=19)):
        a, b = make(), make()
        assert a.lets
        assert a.duckdb_sql(100) == b.duckdb_sql(100)
        assert ([d.ss for _, d in a.columns] + [d.ss for d in a.lets.values()]
                == [d.ss for _, d in b.columns] + [d.ss for d in b.lets.values()])
    assert entrymod.oracle_sql() == _oracles


# schema of the frame each test_oracle_match case built, so the
# schema check reuses that build instead of running the query again
_built_schemas: dict = {}


@pytest.mark.parametrize("name", sorted(_oracles))
def test_oracle_match(spark, name):
    df = _queries[name](spark, SF_DIR)
    _built_schemas[name] = df.schema
    compare_with_duckdb(df, _oracles[name], sf_dir=SF_DIR)


@pytest.mark.parametrize("name", sorted(_oracles))
def test_canonicalizer_safe_schema(spark, name):
    """The driver's _canon sorts a pandas frame on every column — any
    array/map/struct column raises `unhashable type: list` there (the
    local harness stringifies, the driver does not — round-1 lesson).
    Oracle-backed queries must emit only atomic columns.  Reads the
    schema test_oracle_match recorded; run alone, it builds the
    frame."""
    from pyspark.sql.types import ArrayType, MapType, StructType
    schema = _built_schemas.get(name)
    if schema is None:
        schema = _queries[name](spark, SF_DIR).schema
    bad = [f.name for f in schema.fields
           if isinstance(f.dataType, (ArrayType, MapType, StructType))]
    assert not bad, f"{name}: non-atomic driver-visible columns {bad}"


def test_oracle_no_hugeint():
    """DuckDB renders un-CAST SUM(BIGINT) as HUGEINT, which pandas turns
    into float64 — the driver then hash-mismatches `0.0` vs Spark's `0`
    even when every value agrees.  This bug class produced the ONLY
    driver failures in rounds 1, 3 and 4 (events_sessionize, corpus_pack,
    corpus_mix).  DESCRIBE every oracle and refuse HUGEINT/UHUGEINT (and
    the equally pandas-hostile UBIGINT) output columns at the source."""
    con = oracle_con(SF_DIR)
    bad: dict[str, list[str]] = {}
    for name, sql in sorted(_oracles.items()):
        desc = con.sql(f"DESCRIBE ({sql})").fetchall()
        hits = [f"{col}:{typ}" for col, typ, *_ in desc
                if typ.upper() in ("HUGEINT", "UHUGEINT", "UBIGINT")]
        if hits:
            bad[name] = hits
    assert not bad, f"oracles with pandas-hostile integer types: {bad}"


def test_oracle_con_caps_memory():
    """Every oracle runs under one DuckDB budget, not DuckDB's default
    of 80% of host RAM."""
    con = oracle_con(None)
    limit, threads = con.sql("SELECT current_setting('memory_limit'), "
                             "current_setting('threads')").fetchone()
    num, unit = limit.split()
    cap = float(num) * {"KiB": 2**10, "MiB": 2**20, "GiB": 2**30}[unit]
    assert 3.5e9 < cap <= 4e9, limit
    assert threads == 4


def test_bench_exclusions_resolve():
    """bench.py times every registry entry outside _NOT_BENCHED, so a
    misspelt exclusion would silently bench the entry it meant to
    skip."""
    import bench
    ghosts = sorted(bench._NOT_BENCHED - set(_queries))
    assert not ghosts, f"_NOT_BENCHED names missing from registry: {ghosts}"


@pytest.mark.parametrize("name", sorted(set(_queries) - set(_oracles)))
def test_rows_only(spark, name):
    df = _queries[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0
