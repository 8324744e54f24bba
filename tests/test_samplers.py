"""Per-sampler shape/range checks (mirrors the reference's processor
tests, e.g. TestPhoneNumber's area-code assertion) plus full-schema
DuckDB parity for samplers not covered by the entry-point oracles."""

from __future__ import annotations

import re

import duckdb
import pytest

from nifi_datasynthesizer_spark import compile_schema
from tests.conftest import compare_with_duckdb


def rows(schema, n=300, seed=11):
    return duckdb.sql(compile_schema(schema, seed=seed).duckdb_sql(n)).fetchall()


def test_int_range():
    for (v,) in rows([{"name": "v", "class": "int", "min": 5, "max": 9}]):
        assert 5 <= v < 9


def test_int_dist():
    vals = {v for (v,) in rows([{"name": "v", "class": "int",
                                 "dist": [1, 0.5, 2, 0.3, 3, 0.2]}])}
    assert vals <= {1, 2, 3}


def test_string_dist_weights():
    out = [v for (v,) in rows([{"name": "v", "class": "string",
                                "dist": {"a": 8, "b": 2}}], n=2000)]
    frac_a = out.count("a") / len(out)
    assert 0.7 < frac_a < 0.9


def test_phone_area_code():
    for (v,) in rows([{"name": "v", "class": "phone", "area_code": 555}]):
        assert re.fullmatch(r"555-\d{3}-\d{4}", v), v


def test_uuid_shape():
    for (v,) in rows([{"name": "v", "class": "uuid"}]):
        assert re.fullmatch(r"[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-8[0-9a-f]{3}-[0-9a-f]{12}", v), v


def test_imei_luhn():
    def luhn_ok(s):
        total = 0
        for idx, ch in enumerate(s):
            d = int(ch)
            if idx % 2 == 1:
                d *= 2
                d = d // 10 + d % 10
            total += d
        return total % 10 == 0
    for (v,) in rows([{"name": "v", "class": "imei"}]):
        assert len(v) == 15 and luhn_ok(v), v


def test_vin_check_digit():
    values = {c: v for c, v in zip("0123456789ABCDEFGHJKLMNPRSTUVWXYZ",
              [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 1, 2, 3, 4, 5, 6, 7, 8,
               1, 2, 3, 4, 5, 7, 9, 2, 3, 4, 5, 6, 7, 8, 9])}
    weights = [8, 7, 6, 5, 4, 3, 2, 10, 0, 9, 8, 7, 6, 5, 4, 3, 2]
    for (v,) in rows([{"name": "v", "class": "vin"}]):
        assert len(v) == 17
        total = sum(values[c] * w for c, w in zip(v, weights))
        expect = total % 11
        assert v[8] == ("X" if expect == 10 else str(expect)), v


def test_ssn_shape():
    for (v,) in rows([{"name": "v", "class": "ssn"}]):
        assert re.fullmatch(r"\d{3}-\d{2}-\d{4}", v)
        assert v[:3] != "666"


def test_date_bounds():
    for (v,) in rows([{"name": "v", "class": "date",
                       "start": "2021-06-01", "end": "2021-06-30"}]):
        assert "2021-06-01" <= v <= "2021-06-30", v


def test_zip_fields_and_flatten():
    out = rows([{"class": "flatten", "prefix": "loc_",
                 "value": {"class": "zip", "fields": "latitude, longitude"}}])
    for lat, lon in out:
        assert 25.0 <= lat <= 49.0 and -124.0 <= lon <= -67.0


def test_foreign_key_skew():
    vals = [v for (v,) in rows([{"name": "v", "class": "foreign-key",
                                 "size": 100, "skew": 2}], n=3000)]
    # heavy skew → id 0 much more frequent than id 50+
    assert vals.count(0) > 20 * max(1, vals.count(77))


def test_sequence_and_join(spark):
    schema = [{"name": "arr", "class": "sequence", "length": 3,
               "base": {"class": "int", "min": 0, "max": 10}},
              {"name": "joined", "class": "join", "separator": "-",
               "value": {"class": "sequence", "length": 3,
                         "array": [{"class": "int", "min": 1, "max": 2},
                                   {"class": "int", "min": 5, "max": 6},
                                   {"class": "int", "min": 9, "max": 10}]}}]
    cs = compile_schema(schema, seed=4)
    df = cs.dataframe(spark, 50).collect()
    for r in df:
        assert len(r.arr) == 3
        assert r.joined == "1-5-9"
    compare_with_duckdb(cs.dataframe(spark, 50), cs.duckdb_sql(50))


@pytest.mark.parametrize("cls", ["word", "text", "name", "address",
                                 "street-name", "state", "country",
                                 "language", "email", "username", "domain",
                                 "dns", "browser", "os", "mac", "ipv4",
                                 "license-plate", "ssn", "uuid", "imei",
                                 "vin", "changer", "long-tail",
                                 "bursty-events", "event"])
def test_sampler_parity(spark, cls):
    """Every scalar sampler matches its DuckDB mirror exactly."""
    schema = [{"name": "rid", "class": "id"}, {"name": "v", "class": cls}]
    cs = compile_schema(schema, seed=13)
    compare_with_duckdb(cs.dataframe(spark, 400), cs.duckdb_sql(400))


def test_changer_over_imei_parity(spark):
    """A sampler under ``changer`` binds its draws into the table's lets
    like a top-level one does, and still matches its DuckDB mirror."""
    schema = [{"name": "rid", "class": "id"},
              {"name": "v", "class": "changer", "every": 7,
               "value": {"class": "imei"}}]
    cs = compile_schema(schema, seed=13)
    assert cs.lets
    compare_with_duckdb(cs.dataframe(spark, 400), cs.duckdb_sql(400))


def test_normal_moments():
    vals = [v for (v,) in rows([{"name": "v", "class": "normal",
                                 "mean": 50, "sd": 10}], n=5000)]
    m = sum(vals) / len(vals)
    sd = (sum((x - m) ** 2 for x in vals) / len(vals)) ** 0.5
    assert abs(m - 50) < 1 and abs(sd - 10) < 1


def test_gamma_mean():
    vals = [float(v) for (v,) in rows([{"name": "v", "class": "gamma",
                                        "alpha": 4, "beta": 2}], n=5000)]
    m = sum(vals) / len(vals)
    assert abs(m - 2.0) < 0.15  # mean = alpha/beta


def test_vector_shape(spark):
    cs = compile_schema([{"name": "v", "class": "vector", "size": 5,
                          "min": -1, "max": 1}], seed=6)
    for r in cs.dataframe(spark, 20).collect():
        assert len(r.v) == 5 and all(-1 <= x <= 1 for x in r.v)


def test_map_struct(spark):
    cs = compile_schema([{"name": "m", "class": "map", "value": [
        {"name": "a", "class": "int", "min": 0, "max": 5},
        {"name": "b", "class": "word"}]}], seed=7)
    for r in cs.dataframe(spark, 20).collect():
        assert 0 <= r.m.a < 5 and isinstance(r.m.b, str)


def test_random_walk_continuity(spark):
    cs = compile_schema([{"name": "rid", "class": "id"},
                         {"name": "w", "class": "random-walk",
                          "start": 100.0, "mean": 0, "sd": 1}], seed=8)
    vals = [r.w for r in cs.dataframe(spark, 200).orderBy("rid").collect()]
    diffs = [abs(b - a) for a, b in zip(vals, vals[1:])]
    assert max(diffs) < 6.0  # steps are N(0,1): |step| < 6 (Irwin-Hall bound)


def test_lookup_file_mode(spark):
    """FileSampler: external-file dimension loaded at compile time."""
    import duckdb
    from nifi_datasynthesizer_spark import compile_schema
    schema = [{"name": "rid", "class": "id"},
              {"name": "nation", "class": "lookup",
               "file": "/root/testdata/sf0.001/nation.parquet",
               "field": "n_name"}]
    cs = compile_schema(schema, seed=4)
    sdf = cs.dataframe(spark, 200).toPandas()
    valid = {r[0] for r in duckdb.sql(
        "SELECT n_name FROM '/root/testdata/sf0.001/nation.parquet'").fetchall()}
    assert set(sdf.nation) <= valid
    assert len(set(sdf.nation)) > 5  # actually sampling the universe
    ddf = duckdb.sql(cs.duckdb_sql(200)).df()
    assert list(sdf.nation) == list(ddf.nation)


def test_minhash_bucket_cap(spark):
    """max_bucket drops degenerate buckets instead of joining them."""
    from nifi_datasynthesizer_spark.operators.dedup import dedup_minhash
    rows = [(i, "the exact same boilerplate text repeated endlessly here")
            for i in range(50)] + [(100 + i, f"unique doc number {i} "
                                    f"with its own words {i*7}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup_minhash(docs, jaccard_threshold=0.5).count()
    capped = dedup_minhash(docs, jaccard_threshold=0.5, max_bucket=10).count()
    assert uncapped == 50 * 49 // 2  # quadratic pair blowup
    assert capped == 0               # giant bucket dropped pre-join


def test_zip_near_and_bounds(spark):
    import duckdb
    from nifi_datasynthesizer_spark import compile_schema
    schema = [{"name": "rid", "class": "id"},
              {"class": "flatten", "prefix": "z_",
               "value": {"name": "z", "class": "zip",
                         "near": "40.7, -74.0", "milesFrom": 150}},
              {"name": "code", "class": "int", "min": 1, "max": 500,
               "format": "%05d"}]
    cs = compile_schema(schema, seed=6)
    sdf = cs.dataframe(spark, 100).toPandas()
    assert ((sdf.z_latitude > 37) & (sdf.z_latitude < 44)).all()
    assert ((sdf.z_longitude > -78) & (sdf.z_longitude < -70)).all()
    assert sdf.code.str.fullmatch(r"\d{5}").all()
    ddf = duckdb.sql(cs.duckdb_sql(100)).df()
    assert list(sdf.code) == list(ddf.code)
    assert list(sdf.z_zip) == list(ddf.z_zip)


def test_zip_continental(spark):
    from nifi_datasynthesizer_spark import compile_schema
    schema = [{"name": "rid", "class": "id"},
              {"class": "flatten", "prefix": "",
               "value": {"name": "z", "class": "zip",
                         "onlyContinental": True,
                         "latitudeFuzz": 0.01, "longitudeFuzz": 0.01}}]
    sdf = compile_schema(schema, seed=7).dataframe(spark, 200).toPandas()
    assert ((sdf.latitude >= 21.9) & (sdf.latitude <= 50.1)).all()
    assert ((sdf.longitude >= -130.1) & (sdf.longitude <= -64.9)).all()


def test_int_skew_min_of_k():
    lows = [v for (v,) in rows([{"name": "v", "class": "int",
                                 "min": 0, "max": 100, "skew": 4}], n=2000)]
    highs = [v for (v,) in rows([{"name": "v", "class": "int",
                                  "min": 0, "max": 100, "skew": -4}], n=2000)]
    assert sum(lows) / len(lows) < 30       # min of 5 draws ≈ 16.7
    assert sum(highs) / len(highs) > 70     # max of 5 draws ≈ 83.3
    assert all(0 <= v < 100 for v in lows + highs)


def test_ssn_verbose_types():
    rs = rows([{"name": "rid", "class": "id"},
               {"class": "flatten", "prefix": "s_",
                "value": {"name": "s", "class": "ssn", "verbose": True,
                          "fields": "ssn,state,type", "types": "normal,extra"}}],
              n=400)
    states = {r[2] for r in rs}
    types = {r[3] for r in rs}
    assert types <= {"normal", "extra"}
    assert "extra" in types            # VI/PI areas reachable
    assert "NY" in states or "CA" in states
    import re
    assert all(re.fullmatch(r"\d{3}-\d{2}-\d{4}", r[1]) for r in rs)


def test_ipv4_private():
    import re
    for (v,) in rows([{"name": "v", "class": "ipv4", "private": True}], n=300):
        assert re.fullmatch(r"\d+\.\d+\.\d+\.\d+", v)
        a, b, _, _ = [int(x) for x in v.split(".")]
        assert (a == 10) or (a == 172 and 16 <= b < 32) or (a == 192 and b == 168), v


def test_vector_transform_resolution():
    rs = rows([{"name": "v", "class": "vector", "size": 4, "mean": 0.0,
                "sd": 1.0, "transform": "exp", "resolution": 0.25}], n=200)
    import math
    for (arr,) in rs:
        assert len(arr) == 4
        for x in arr:
            assert x >= 0                      # exp output
            assert abs(x / 0.25 - round(x / 0.25)) < 1e-9  # snapped


def test_gamma_rate_scale_dof():
    m_rate = [float(v) for (v,) in rows([{"name": "v", "class": "gamma",
                                          "alpha": 4, "rate": 2}], n=4000)]
    m_scale = [float(v) for (v,) in rows([{"name": "v", "class": "gamma",
                                           "alpha": 2, "scale": 3}], n=4000)]
    assert abs(sum(m_rate) / len(m_rate) - 2.0) < 0.2    # alpha/rate
    assert abs(sum(m_scale) / len(m_scale) - 6.0) < 0.5  # alpha*scale


def test_normal_clamp():
    vals = [float(v) for (v,) in rows([{"name": "v", "class": "normal",
                                        "mean": 0, "sd": 5,
                                        "min": -2, "max": 2}], n=1000)]
    assert all(-2 <= v <= 2 for v in vals)
    assert any(v == 2 for v in vals)  # clamped mass at bound


def test_event_start_offset():
    rs = rows([{"name": "rid", "class": "id"},
               {"name": "t", "class": "event", "rate": "1/s",
                "start": "2020-06-01 00:00:00", "offset": 400.0,
                "format": "s"}], n=50)
    ts = [r[1] for r in sorted(rs)]
    assert ts[0] >= 1590969600
    assert all(b - a >= 0 for a, b in zip(ts, ts[1:]))


def test_header_templates():
    rs = rows([{"name": "rid", "class": "id"},
               {"name": "h", "class": "header"}], n=60)
    assert all(r[1].startswith("GET http://foo.bar.com/") for r in rs)
    assert all("User-Agent: " in r[1] and "Referer: " in r[1] for r in rs)
    mal3 = rows([{"name": "rid", "class": "id"},
                 {"name": "h", "class": "header", "type": "mal3"}], n=20)
    assert all("user-agent: " in r[1] and "User-Agent" not in r[1] for r in mal3)
    abab = rows([{"name": "rid", "class": "id"},
                 {"name": "h", "class": "header", "type": "ababil",
                  "prolog": "XX"}], n=20)
    assert all(r[1].startswith("XXGET ") and "MSIE 6.0" in r[1] for r in abab)
    mal2 = rows([{"name": "rid", "class": "id"},
                 {"name": "h", "class": "header", "type": "mal2"}], n=20)
    assert all("Accept-Encoding:              \n" in r[1] for r in mal2)


def test_dns_fields():
    rs = rows([{"name": "rid", "class": "id"},
               {"class": "flatten", "prefix": "d_",
                "value": {"name": "d", "class": "dns", "discount": 0.3,
                          "fields": "domain,revDomain,ipV4,timestamp_s",
                          "start": "2021-01-01", "end": "2021-01-04"}}], n=500)
    import re
    doms = [r[1] for r in rs]
    assert all("." in d for d in doms)
    # head of the distribution should hit f500 names repeatedly
    from collections import Counter
    top = Counter(doms).most_common(1)[0]
    assert top[1] > 5
    for r in rs:
        assert r[2] == ".".join(reversed(r[1].split(".")))
        assert re.fullmatch(r"\d+\.\d+\.\d+\.\d+", r[3])
        assert 1609459200 <= r[4] < 1609459200 + 3 * 86400


def test_text_bag_and_quotes():
    bag = rows([{"name": "v", "class": "text", "text": ["aa bb", "cc dd"]}], n=40)
    assert {v for (v,) in bag} == {"aa bb", "cc dd"}
    q = rows([{"name": "v", "class": "text", "type": "chucknorris"}], n=40)
    assert all("Chuck Norris" in v for (v,) in q)


def test_invalid_schemas_rejected():
    """Reference TestDataSynthesizer.testSetState: an invalid schema
    must fail validation up front (assertNotValid), a valid single
    field must pass — our equivalents are compile-time ValueErrors."""
    import pytest

    from nifi_datasynthesizer_spark import compile_schema
    with pytest.raises(ValueError):
        compile_schema([{"name": "x", "class": "no-such-sampler"}])
    with pytest.raises(ValueError):
        compile_schema([{"name": "d", "class": "dns", "fields": "bogus"}])
    with pytest.raises(ValueError):
        compile_schema([{"name": "h", "class": "header", "type": "evil"}])
    compile_schema([{"name": "br", "class": "browser"}])  # valid: no raise


def test_lookup_skew(tmp_path):
    import duckdb
    f = tmp_path / "dim.csv"
    f.write_text("k\n" + "\n".join(str(i) for i in range(100)) + "\n")
    low = rows([{"name": "v", "class": "lookup", "file": str(f), "skew": 4}], n=500)
    vals = [int(v) for (v,) in low]
    assert sum(vals) / len(vals) < 35  # min-of-5 over 0..99


# ------------------------------------------------------------- markov

def test_markov_model_shape():
    from nifi_datasynthesizer_spark.synthesizers import (_MARKOV_SEED,
                                                         _markov_model)
    keys, offs, cnts, ws, nks = _markov_model(_MARKOV_SEED, 3)
    assert len(offs) == len(cnts) == len(keys)
    assert len(ws) == len(nks) == sum(cnts)
    assert offs == [sum(cnts[:i]) for i in range(len(cnts))]
    # every key has at least one successor; branch points exist
    assert min(cnts) >= 1 and max(cnts) > 1
    # next-key indices are valid or the -1 tail sentinel
    assert all(-1 <= nk < len(keys) for nk in nks)


def _check_markov_walk(spark, max_chars):
    """Compare markov_text against a plain-Python walk over the same
    compiled model and the same counter-RNG draws."""
    import duckdb

    from nifi_datasynthesizer_spark import synthesizers as SZ
    from nifi_datasynthesizer_spark.rng import mix, salt_of, uint
    from nifi_datasynthesizer_spark.synthesizers import (_MARKOV_SEED, _i,
                                                         _markov_model)

    words, seed, n = 18, 11, 50
    keys, offs, cnts, ws, nks = _markov_model(_MARKOV_SEED, 3)
    i = _i()
    k0 = uint(i, salt_of("$.markov", seed, "k0"), 0, len(keys))
    draws = [mix(i, salt_of("$.markov", seed, "d", j))
             for j in range(words - 3)]
    sel = ", ".join([k0.s + " AS k0"]
                    + [f"{d.s} AS d{j}" for j, d in enumerate(draws)])
    expected = []
    for row in duckdb.sql(
            f"SELECT {sel} FROM range(0, {n}) t(i) ORDER BY i").fetchall():
        k, ds = row[0], row[1:]
        text = keys[k]
        for d in ds:
            if k < 0:
                break
            slot = offs[k] + d % cnts[k]
            if (max_chars is not None
                    and len(text) + 1 + len(ws[slot]) > max_chars):
                break
            text += " " + ws[slot]
            k = nks[slot]
        expected.append(text)

    got = [r.message for r in
           SZ.markov_text(n, words=words, seed=seed, max_chars=max_chars)
           .dataframe(spark).orderBy("rec_id").collect()]
    assert got == expected
    # texts branch (not one degenerate walk stamped everywhere)
    assert len(set(got)) > 5
    if max_chars is not None:
        # the budget binds on some rows, else this case shows nothing
        free = SZ.markov_text(n, words=words, seed=seed).duckdb_sql()
        longer = duckdb.sql(f"SELECT count(*) FROM ({free}) "
                            f"WHERE length(message) > {max_chars}").fetchone()
        assert longer[0] > 0


def test_markov_text_matches_python_walk(spark):
    """The Spark fold must replay MarkovChain.java's walk semantics:
    start at a (deterministically drawn) key, append a drawn successor,
    slide the key window."""
    _check_markov_walk(spark, None)


def test_markov_text_budget_matches_python_walk(spark):
    """With a character budget the walk stops before the first word
    that would make the text longer than ``max_chars``."""
    _check_markov_walk(spark, 60)


def test_markov_char_budget(spark):
    """produceText mode: no message exceeds the char budget, and the
    walk stays a valid chain prefix (budget only truncates)."""
    from nifi_datasynthesizer_spark import synthesizers as SZ
    lim = SZ.markov_text(40, words=30, seed=7, max_chars=60).dataframe(spark)
    free = SZ.markov_text(40, words=30, seed=7).dataframe(spark)
    lim_rows = {r.rec_id: r.message for r in lim.collect()}
    free_rows = {r.rec_id: r.message for r in free.collect()}
    assert all(len(m) <= 60 for m in lim_rows.values())
    assert any(len(m) < len(free_rows[k]) for k, m in lim_rows.items())
    for k, m in lim_rows.items():
        assert free_rows[k].startswith(m)


def test_markov_seed_text_quotes_match_oracle(spark):
    """Seed words with quotes and backslashes reach both engines
    unchanged (each side escapes its own string literals)."""
    from nifi_datasynthesizer_spark import synthesizers as SZ
    g = SZ.markov_text(40, words=12, seed=2, seed_text=(
        "don't stop the c:\\dir now don't stop the band "
        "now don't stop the c:\\dir later don't stop"))
    compare_with_duckdb(g.dataframe(spark), g.duckdb_sql())
    assert any("'" in r.message and "\\" in r.message
               for r in g.dataframe(spark).collect())


def test_purchase_log_boost_semantics():
    """PurchaseLog.java parity: targeted (country, campaign) pairs and
    hot keywords buy at p=0.5 vs the p=0.01 base — the split must be
    visible in the generated purchase rates (DuckDB replay, no Spark)."""
    import duckdb
    from nifi_datasynthesizer_spark import synthesizers as SZ
    g = SZ.purchase_log(n_users=600, max_hits=64, seed=5)
    h0, h1 = SZ._PL_HOT_TERMS
    rates = duckdb.sql(f"""
        WITH t AS ({g.duckdb_sql()}),
        f AS (SELECT event_list = '1' AS buy,
                     (country = 'United States'
                        AND list_contains(string_split(campaign_list, ','), '5'))
                     OR (country = 'Japan'
                        AND list_contains(string_split(campaign_list, ','), '7'))
                     OR search_keywords IN ('{h0}', '{h1}') AS hot
              FROM t)
        SELECT hot, AVG(CAST(buy AS DOUBLE)) AS rate, COUNT(*) AS n
        FROM f GROUP BY hot ORDER BY hot""").fetchall()
    by_hot = {r[0]: r[1] for r in rates}
    assert 0.35 < by_hot[True] < 0.65      # boosted ≈ 0.5
    assert by_hot[False] < 0.03            # base ≈ 0.01
    # session lengths vary per user (exponential mask, not a flat grid)
    nper = duckdb.sql(f"WITH t AS ({g.duckdb_sql()}) "
                      "SELECT COUNT(DISTINCT cnt) FROM ("
                      "SELECT user_id, COUNT(*) AS cnt FROM t GROUP BY user_id)"
                      ).fetchone()[0]
    assert nper > 5


def test_element_numeric_tables_round_trip_exact(spark):
    """Numeric pick tables reach Spark as one folded string literal
    (``CAST(split('...', ',') AS ARRAY<...>)``).  Every entry read back
    through the generated column must be the python value bit for bit
    and of the same type, or the DuckDB mirror (literal list) drifts."""
    import math
    import struct

    from nifi_datasynthesizer_spark import dual as X
    from nifi_datasynthesizer_spark.rng import quantize_weights
    from nifi_datasynthesizer_spark.samplers import _EXP_QUANTILES, _n01_table

    fk = quantize_weights(list(range(500)),
                          [math.pow(k + 1.0, -1.0) for k in range(500)],
                          table_size=4096)
    assert len(fk) == 4096
    idx = X.D("id", "id")
    for values in (_n01_table(), _EXP_QUANTILES, fk):
        d = X.element(idx, values)
        assert "split(" in d.ss and "array(" not in d.ss
        got = dict(spark.range(len(values)).select("id", d.c.alias("v"))
                   .collect())
        assert len(got) == len(values)
        for k, want in enumerate(values):
            v = got[k]
            assert type(v) is type(want), (k, v, want)
            if isinstance(want, float):
                assert struct.pack(">d", v) == struct.pack(">d", want), \
                    (k, v, want)
            else:
                assert v == want, (k, v, want)


def test_element_mixed_and_string_lists(spark):
    """A mixed int/float list widens to DOUBLE (as array() coerced it);
    string lists keep the literal array() form."""
    from nifi_datasynthesizer_spark import dual as X

    idx = X.D("id", "id")
    mixed = X.element(idx, [1, 2.5, -3, -0.0, 1e300])
    assert "ARRAY<DOUBLE>" in mixed.ss
    got = [v for _, v in sorted(spark.range(5).select(
        "id", mixed.c.alias("v")).collect())]
    assert got == [1.0, 2.5, -3.0, -0.0, 1e300]
    assert str(got[3]) == "-0.0"
    words = X.element(idx, ["a", "b'c", "d\\e"])
    assert words.ss.startswith("element_at(array(")
    assert [v for _, v in sorted(spark.range(3).select(
        "id", words.c.alias("v")).collect())] == ["a", "b'c", "d\\e"]


def test_nested_binds_do_not_shadow():
    """An inner bind sees the outer variable, whether its value reads
    that variable or repeats the outer value's text."""
    import duckdb

    from nifi_datasynthesizer_spark import dual as X

    i = X.D("i", "i")
    reads = X.bind(i * 3, lambda a: X.bind(a + 1, lambda b: a * 10 + b))
    same = X.bind(i * 3, lambda a: X.bind(i * 3, lambda b: a * 10 + b))
    for d in (reads, same):
        names = re.findall(r"(__b[0-9a-f]+) ->", d.s)
        assert len(names) == 2 and names[0] != names[1]
        assert re.findall(r"(__b[0-9a-f]+) ->", d.ss) == names
    got = duckdb.sql(f"SELECT {reads.s}, {same.s} FROM range(0, 4) t(i) "
                     "ORDER BY i").fetchall()
    assert got == [(30 * k + 3 * k + 1, 33 * k) for k in range(4)]
