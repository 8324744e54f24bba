"""Sink/source coverage: the record-writer equivalents (SURVEY §2b).

The avro sink maps to the external spark-avro module
(org.apache.spark:spark-avro_2.13).  This sandbox has no network, so
``--packages`` cannot fetch it and the pyspark wheel does not bundle it
(only avro-core jars that Spark itself uses) — the gate test below
exercises whichever side of the gate this environment is on: with the
module present it writes and re-reads avro; without it, it asserts the
NotImplementedError carries the exact launch flag a user needs.
"""

from __future__ import annotations

import shutil

import pytest

from nifi_datasynthesizer_spark import io as nio
from tests.conftest import ROOT, SF_DIR, job_group


@pytest.fixture()
def small_df(spark):
    from nifi_datasynthesizer_spark import compile_schema
    schema = [{"name": "rec_id", "class": "id"},
              {"name": "qty", "class": "int", "min": 1, "max": 9},
              {"name": "who", "class": "name"}]
    return compile_schema(schema, seed=3).dataframe(spark, 100)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_write_read_roundtrip(spark, small_df, tmp_path, fmt):
    path = str(tmp_path / fmt)
    nio.write(small_df, path, fmt=fmt)
    back = nio.read(spark, path, fmt=fmt)
    assert back.count() == 100
    assert set(back.columns) == {"rec_id", "qty", "who"}
    if fmt in ("parquet", "orc"):  # typed formats keep the schema
        assert dict(back.dtypes)["qty"] == "bigint"


def test_write_partitioned(spark, small_df, tmp_path):
    path = str(tmp_path / "part")
    nio.write(small_df, path, fmt="parquet", partition_by=["qty"])
    back = nio.read(spark, path, fmt="parquet")
    assert back.count() == 100
    # partition pruning: a qty filter must prune to one directory
    pruned = back.filter("qty = 3")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # small-files guard: each partition dir holds at most
    # files_per_value data files (not one per upstream task), and the
    # salt keeps more than one writer eligible per value
    import glob
    for d in glob.glob(path + "/qty=*"):
        n = len(glob.glob(d + "/*.parquet"))
        assert 1 <= n <= 8, (d, n)


def test_write_partitioned_with_map_column(spark, tmp_path):
    """The write salt hashes row content, but Spark's hash functions
    reject MapType — a frame with a map column must still write
    partitioned (the salt skips unhashable columns)."""
    df = spark.createDataFrame(
        [(i, i % 3, {"k": str(i)}) for i in range(60)],
        ["id", "grp", "attrs"])
    path = str(tmp_path / "mappart")
    nio.write(df, path, fmt="parquet", partition_by=["grp"])
    back = nio.read(spark, path, fmt="parquet")
    assert back.count() == 60
    assert back.filter("attrs['k'] = '7'").count() == 1


def test_cli_count_parsing():
    from nifi_datasynthesizer_spark.__main__ import _parse_count
    assert _parse_count("2K") == 2_000
    assert _parse_count("3M") == 3_000_000
    assert _parse_count("1G") == 1_000_000_000
    assert _parse_count("750") == 750


def test_bucketed_join_is_shuffle_free(spark):
    """Both sides bucketed on the join key with equal bucket counts →
    the sort-merge join runs with NO exchange on either side (the
    bucketed scans already satisfy the hash distribution)."""
    from nifi_datasynthesizer_spark.io import read_table, write_bucketed
    sf = "/root/testdata/sf0.001"
    orders = read_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "t_orders_b", ["o_orderkey"], 8)
    write_bucketed(li, "t_lineitem_b", ["l_orderkey"], 8)
    try:
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        j = a.hint("merge").join(b, a.o_orderkey == b.l_orderkey)
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, "bucketed join must not shuffle"
        assert j.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_avro_gate(spark, small_df, tmp_path):
    path = str(tmp_path / "avro")
    if nio._has_avro(spark):
        nio.write(small_df, path, fmt="avro")
        assert nio.read(spark, path, fmt="avro").count() == 100
    else:
        with pytest.raises(NotImplementedError) as exc:
            nio.write(small_df, path, fmt="avro")
        # the gate must tell the user exactly how to enable the sink
        assert "--packages org.apache.spark:spark-avro" in str(exc.value)


def test_cli_rejects_bad_counts_and_threads():
    import pytest as _pt
    from nifi_datasynthesizer_spark.__main__ import _parse_count, _parse_threads
    import argparse
    for bad in ("0", "-5K", "-1"):
        with _pt.raises(argparse.ArgumentTypeError):
            _parse_count(bad)
    for bad in ("0", "-2"):
        with _pt.raises(argparse.ArgumentTypeError):
            _parse_threads(bad)
    assert _parse_threads("4") == 4


def test_zorder_locality(spark):
    """Morton-key bucketing bounds the span of BOTH dimensions per
    bucket (here 64×64 tiles for 16 buckets of a 256×256 space), so a
    filter on the NON-leading dimension prunes ~3/4 of the buckets —
    a lexicographic x-sort leaves every bucket covering the full y
    range and prunes nothing."""
    from pyspark.sql import functions as F
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    x = "pmod(user_id, 16)"
    y = "pmod(datediff(to_date(ts), DATE '1970-01-01'), 16)"
    staged = ev.select(
        F.expr(x).cast("long").alias("x"),
        F.expr(y).cast("long").alias("y"),
        nio.zorder_key(x, y, bits=4).alias("z")).persist()
    z_spans = (staged.groupBy(F.expr("z div 16"))
               .agg((F.max("y") - F.min("y")).alias("ys"),
                    (F.max("x") - F.min("x")).alias("xs"))
               .agg(F.avg("ys").alias("ys"), F.avg("xs").alias("xs"))
               .collect()[0])
    lex_spans = (staged.groupBy("x")
                 .agg((F.max("y") - F.min("y")).alias("ys"))
                 .agg(F.avg("ys").alias("ys")).collect()[0])
    staged.unpersist()
    # z-buckets: ≤4-wide tiles in both dims; x-sort buckets span full y
    assert z_spans["ys"] <= 4
    assert z_spans["xs"] <= 4
    assert z_spans["ys"] * 2 < lex_spans["ys"]


def test_rowgroup_audit(spark, tmp_path):
    """rowgroup_audit reads footers distributed and reports exact
    row-group populations: a pyarrow file with forced 100-row groups,
    a healthy spark-written file, and the oversized flag against
    target_rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "audit"
    d.mkdir()
    pq.write_table(pa.table({"x": pa.array(range(250), pa.int64())}),
                   str(d / "multi.parquet"), row_group_size=100)
    spark.range(0, 40, 1, 1).toDF("x") \
        .coalesce(1).write.mode("overwrite").parquet(str(d / "solid"))
    out = nio.rowgroup_audit(spark, str(d), target_rows=120).collect()
    by = {("multi" if "multi" in r.path else "solid"): r for r in out}
    assert len(out) == 2
    m = by["multi"]
    assert (m.n_rowgroups, m.n_rows, m.min_rg_rows, m.max_rg_rows,
            m.oversized) == (3, 250, 50, 100, False)
    s = by["solid"]
    assert (s.n_rowgroups, s.n_rows, s.max_rg_rows, s.oversized) == \
        (1, 40, 40, False)
    # oversized trips when the largest row group exceeds the target
    flagged = nio.rowgroup_audit(spark, str(d), target_rows=80).collect()
    assert {("multi" if "multi" in r.path else "solid"): r.oversized
            for r in flagged} == {"multi": True, "solid": False}
    # the one-row parallelism readout: 4 row groups on a 16-core
    # cluster = layout-limited, one wave; multi holds 250/290 rows
    s = nio.rowgroup_summary(
        nio.rowgroup_audit(spark, str(d), target_rows=80), cores=16
    ).collect()[0]
    assert (s.n_files, s.n_rowgroups, s.n_rows) == (2, 4, 290)
    assert (s.scan_waves, s.parallelism_limited, s.n_oversized) == \
        (1, True, 1)
    assert s.max_file_share_ppm == 250 * 1_000_000 // 290


def test_rowgroup_audit_percent_encoded_paths(spark, tmp_path):
    """Hadoop percent-encodes URIs: partition dirs with spaces (e.g.
    ``bucket=a b``) arrive as ``bucket=a%20b`` from binaryFile, so the
    footer decode must urlparse+unquote instead of prefix-stripping
    (r8 ADVICE)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "audit sp" / "bucket=a b"
    d.mkdir(parents=True)
    pq.write_table(pa.table({"x": pa.array(range(30), pa.int64())}),
                   str(d / "part.parquet"))
    out = nio.rowgroup_audit(spark, str(tmp_path / "audit sp"),
                             target_rows=100).collect()
    assert len(out) == 1 and out[0].n_rows == 30


# ------------------------------------------------- pure-python avro

def _wide_df(spark):
    from pyspark.sql import functions as F
    return spark.range(0, 100, 1, 3).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).cast("int").alias("i"),
        (F.col("id") / 7.0).alias("x"),
        F.concat(F.lit("row-"), F.col("id")).alias("s"),
        (F.col("id") % 2 == 0).alias("b"),
        F.timestamp_micros(F.col("id") * 1000000).alias("ts"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
        F.when(F.col("id") % 3 == 0, F.col("id")).alias("maybe"))


def test_avro_python_roundtrip(spark, tmp_path):
    """write_avro → read_avro is exact across every supported type
    (long/int/double/string/boolean/timestamp/date + nullable union),
    encoded per-partition in mapInPandas and decoded distributed."""
    from nifi_datasynthesizer_spark import avro_io as AV
    df = _wide_df(spark)
    path = str(tmp_path / "avro")
    n = AV.write_avro(df, path)
    assert n == 100
    back = AV.read_avro(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))


def test_avro_python_writer_read_by_java(spark, tmp_path):
    """Cross-implementation proof: files written by the pure-Python
    encoder are read by the OFFICIAL Apache Avro Java implementation
    bundled with pyspark (org.apache.avro.file.DataFileReader) with
    identical values — the container framing, varint/zigzag coding,
    union branches, and logical-type raws all spec-exact."""
    import glob

    from nifi_datasynthesizer_spark import avro_io as AV
    df = _wide_df(spark)
    path = str(tmp_path / "avro")
    AV.write_avro(df, path)
    jvm = spark._jvm
    got = []
    for fname in sorted(glob.glob(path + "/*.avro")):
        rdr = jvm.org.apache.avro.generic.GenericDatumReader()
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(fname), rdr)
        while dfr.hasNext():
            rec = dfr.next()
            got.append((rec.get("k"), rec.get("i"), rec.get("x"),
                        str(rec.get("s")), rec.get("b"), rec.get("ts"),
                        rec.get("d"), rec.get("maybe")))
        dfr.close()
    import datetime
    epoch = datetime.date(1970, 1, 1).toordinal()
    want = sorted(
        (r.k, r.i, r.x, r.s, r.b,
         int(r.ts.replace(tzinfo=datetime.timezone.utc).timestamp()
             * 1_000_000),
         r.d.toordinal() - epoch, r.maybe)
        for r in df.collect())
    assert sorted(got) == want


def test_avro_java_writer_read_by_python(spark, tmp_path):
    """...and the reverse: a container file written by the Java
    implementation (records built Java-side via JsonDecoder, so py4j
    boxing can't distort types) decodes exactly with read_container
    and loads through the distributed read_avro path."""
    import json as _json

    from nifi_datasynthesizer_spark import avro_io as AV
    schema = {"type": "record", "name": "jrec", "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "x", "type": "double"},
        {"name": "maybe", "type": ["null", "long"]},
    ]}
    jvm = spark._jvm
    sch = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema))
    gdr = jvm.org.apache.avro.generic.GenericDatumReader(sch)
    gdw = jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    dfw = jvm.org.apache.avro.file.DataFileWriter(gdw)
    d = tmp_path / "javro"
    d.mkdir()
    fname = str(d / "part-0.avro")
    dfw.create(sch, jvm.java.io.File(fname))
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    for i in range(10):
        payload = {"k": i, "s": f"java-{i}", "x": i / 3.0,
                   "maybe": {"long": i * 10} if i % 2 == 0 else None}
        dfw.append(gdr.read(None, fac.jsonDecoder(sch, _json.dumps(payload))))
    dfw.close()

    _, rows = AV.read_container(open(fname, "rb").read())
    assert [(r["k"], r["s"], r["x"], r["maybe"]) for r in rows] == \
        [(i, f"java-{i}", i / 3.0, i * 10 if i % 2 == 0 else None)
         for i in range(10)]
    df = AV.read_avro(spark, str(d))
    assert df.count() == 10
    assert df.schema.simpleString() == \
        "struct<k:bigint,s:string,x:double,maybe:bigint>"


def test_avro_nested_roundtrip(spark, tmp_path):
    """Nested struct / array / string-keyed map columns round-trip
    exactly through write_avro → read_avro (avro record/array/map
    types — the shapes the reference's map / sequence / join samplers
    emit; reference: nifi-datasynthesizer-generators' MapSampler /
    SequenceSampler nested record output)."""
    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark import avro_io as AV
    df = spark.range(0, 40, 1, 2).select(
        F.col("id").alias("k"),
        F.struct(F.col("id").alias("a"),
                 F.concat(F.lit("s"), F.col("id")).alias("b"),
                 F.struct((F.col("id") * 2).alias("deep")).alias("c")
                 ).alias("rec"),
        F.array(F.col("id"), F.col("id") + 1, F.col("id") + 2).alias("xs"),
        F.when(F.col("id") % 3 != 0,
               F.array(F.concat(F.lit("t"), F.col("id")))).alias("maybe_xs"),
        F.create_map(F.lit("one"), F.col("id"),
                     F.lit("two"), F.col("id") * 10).alias("m"))
    path = str(tmp_path / "nested")
    assert AV.write_avro(df, path) == 40
    back = AV.read_avro(spark, path)
    assert back.schema == df.schema
    want = sorted(df.toJSON().collect())
    got = sorted(back.toJSON().collect())
    assert got == want


def test_avro_nested_read_by_java(spark, tmp_path):
    """Nested containers written here are read value-exact by the
    official Java avro implementation (records, arrays, maps)."""
    import glob

    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark import avro_io as AV
    df = spark.range(0, 10, 1, 1).select(
        F.col("id").alias("k"),
        F.struct(F.col("id").alias("a"),
                 F.concat(F.lit("s"), F.col("id")).alias("b")).alias("rec"),
        F.array(F.col("id"), F.col("id") * 3).alias("xs"),
        F.create_map(F.lit("w"), F.col("id")).alias("m"))
    path = str(tmp_path / "njava")
    AV.write_avro(df, path)
    jvm = spark._jvm
    got = []
    for fname in sorted(glob.glob(path + "/*.avro")):
        rdr = jvm.org.apache.avro.generic.GenericDatumReader()
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(fname), rdr)
        while dfr.hasNext():
            rec = dfr.next()
            r = rec.get("rec")
            xs = rec.get("xs")
            m = rec.get("m")
            got.append((rec.get("k"), r.get("a"), str(r.get("b")),
                        [xs.get(i) for i in range(xs.size())],
                        {str(k): m.get(k) for k in m.keySet()}))
        dfr.close()
    want = [(i, i, f"s{i}", [i, i * 3], {"w": i}) for i in range(10)]
    assert sorted(got) == want


def test_avro_nested_written_by_java(spark, tmp_path):
    """...and the reverse: a Java-written container with nested
    record/array/map fields decodes exactly and loads through
    read_avro with the right Spark schema."""
    import json as _json

    from nifi_datasynthesizer_spark import avro_io as AV
    schema = {"type": "record", "name": "jn", "fields": [
        {"name": "k", "type": "long"},
        {"name": "rec", "type": {"type": "record", "name": "jn_rec",
                                 "fields": [
                                     {"name": "a", "type": "long"},
                                     {"name": "b", "type": "string"}]}},
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "long"}},
    ]}
    jvm = spark._jvm
    sch = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema))
    gdr = jvm.org.apache.avro.generic.GenericDatumReader(sch)
    gdw = jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    dfw = jvm.org.apache.avro.file.DataFileWriter(gdw)
    d = tmp_path / "jn"
    d.mkdir()
    fname = str(d / "part-0.avro")
    dfw.create(sch, jvm.java.io.File(fname))
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    for i in range(6):
        payload = {"k": i, "rec": {"a": i * 2, "b": f"j{i}"},
                   "xs": [i, i + 1], "m": {"q": i * 5}}
        dfw.append(gdr.read(None, fac.jsonDecoder(sch, _json.dumps(payload))))
    dfw.close()
    _, rows = AV.read_container(open(fname, "rb").read())
    assert [(r["k"], r["rec"], r["xs"], r["m"]) for r in rows] == \
        [(i, {"a": i * 2, "b": f"j{i}"}, [i, i + 1], {"q": i * 5})
         for i in range(6)]
    df = AV.read_avro(spark, str(d))
    assert df.schema.simpleString() == \
        ("struct<k:bigint,rec:struct<a:bigint,b:string>,"
         "xs:array<bigint>,m:map<string,bigint>>")
    r3 = df.filter("k = 3").collect()[0]
    assert (r3.rec.a, r3.rec.b, list(r3.xs), dict(r3.m)) == \
        (6, "j3", [3, 4], {"q": 15})


def test_avro_deflate_roundtrip_and_java_interop(spark, tmp_path):
    """The deflate codec (raw RFC-1951 block bodies per the spec):
    our writer's deflate files round-trip through read_avro AND are
    read value-exact by the Java DataFileReader; a Java-written
    deflate file decodes exactly here."""
    import glob
    import json as _json

    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark import avro_io as AV
    df = spark.range(0, 300, 1, 1).select(
        F.col("id").alias("k"),
        F.concat(F.lit("text-"), F.col("id") % 7).alias("s"))
    path = str(tmp_path / "defl")
    assert AV.write_avro(df, path, codec="deflate", block_records=64) == 300
    back = AV.read_avro(spark, path)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))
    # repetitive text must actually compress (sanity that deflate is on)
    import os as _os
    fname = sorted(glob.glob(path + "/*.avro"))[0]
    plain = str(tmp_path / "plain")
    AV.write_avro(df, plain, codec="null", block_records=64)
    pname = sorted(glob.glob(plain + "/*.avro"))[0]
    assert _os.path.getsize(fname) < _os.path.getsize(pname)
    # Java reads our deflate file
    jvm = spark._jvm
    rdr = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(fname), rdr)
    got = []
    while dfr.hasNext():
        rec = dfr.next()
        got.append((rec.get("k"), str(rec.get("s"))))
    dfr.close()
    assert sorted(got) == [(i, f"text-{i % 7}") for i in range(300)]
    # ...and we read a Java-written deflate file
    schema = {"type": "record", "name": "jd", "fields": [
        {"name": "k", "type": "long"}, {"name": "s", "type": "string"}]}
    sch = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema))
    gdr = jvm.org.apache.avro.generic.GenericDatumReader(sch)
    gdw = jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    dfw = jvm.org.apache.avro.file.DataFileWriter(gdw)
    dfw.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    d = tmp_path / "jdefl"
    d.mkdir()
    jf = str(d / "part-0.avro")
    dfw.create(sch, jvm.java.io.File(jf))
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    for i in range(50):
        payload = {"k": i, "s": f"jv-{i % 5}"}
        dfw.append(gdr.read(None, fac.jsonDecoder(sch, _json.dumps(payload))))
    dfw.close()
    _, rows = AV.read_container(open(jf, "rb").read())
    assert [(r["k"], r["s"]) for r in rows] == \
        [(i, f"jv-{i % 5}") for i in range(50)]
    jback = AV.read_avro(spark, str(d))
    assert jback.count() == 50


def test_avro_decimal_roundtrip(spark, tmp_path):
    """DecimalType columns ride the avro decimal logical type (bytes
    carrying the big-endian two's-complement unscaled integer): exact
    Spark round-trip — including nullable and nested-in-struct
    decimals — and the file's raw unscaled bytes verified against the
    spec encoding via the Java reader's ByteBuffer."""
    import glob

    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark import avro_io as AV
    df = spark.range(0, 8, 1, 1).select(
        F.col("id").alias("k"),
        (F.col("id").cast("decimal(10,2)") * F.lit("1.01")
         .cast("decimal(10,2)")).cast("decimal(12,2)").alias("amt"),
        F.when(F.col("id") % 2 == 0,
               (-F.col("id")).cast("decimal(6,3)")).alias("maybe_d"),
        F.struct(F.col("id").cast("decimal(5,1)").alias("inner"))
        .alias("rec"))
    path = str(tmp_path / "dec")
    assert AV.write_avro(df, path) == 8
    back = AV.read_avro(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))
    # spec check: the Java implementation sees the same unscaled ints
    jvm = spark._jvm
    rdr = jvm.org.apache.avro.generic.GenericDatumReader()
    fname = sorted(glob.glob(path + "/*.avro"))[0]
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(fname), rdr)
    got = {}
    while dfr.hasNext():
        rec = dfr.next()
        bb = rec.get("amt")
        raw = bytes(bb.array())
        got[rec.get("k")] = int.from_bytes(raw, "big", signed=True)
    dfr.close()
    want = {r.k: int(r.amt.scaleb(2)) for r in df.collect()}
    assert got == want


def test_avro_container_property_roundtrip():
    """Property test (hypothesis): arbitrary values for a nested
    schema — nullable longs/strings/doubles, arrays, string maps, a
    nullable nested record with a decimal — survive
    write_container → read_container exactly.  Exercises varint edge
    widths, negative zigzags, empty/long composites, and both union
    branch orders under one fuzzer."""
    import io as _bio
    from decimal import Decimal

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from nifi_datasynthesizer_spark import avro_io as AV

    schema = {"type": "record", "name": "p", "fields": [
        {"name": "k", "type": "long"},
        {"name": "s", "type": ["null", "string"]},
        {"name": "x", "type": ["double", "null"]},
        {"name": "xs", "type": {"type": "array",
                                "items": ["null", "long"]}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "rec", "type": ["null", {
            "type": "record", "name": "p_rec", "fields": [
                {"name": "d", "type": {"type": "bytes",
                                       "logicalType": "decimal",
                                       "precision": 38, "scale": 3}},
                {"name": "b", "type": "boolean"}]}]},
    ]}
    import decimal as _dec
    longs = st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1)
    text = st.text(max_size=40)
    finite = st.floats(allow_nan=False, allow_infinity=False)
    # full Spark precision range (38 digits) — the codec must not lose
    # digits past Python's default decimal context (prec=28); the
    # strategy's own scaleb rides an explicit wide context for the
    # same reason
    decimals = st.integers(min_value=-(10 ** 38 - 1),
                           max_value=10 ** 38 - 1).map(
        lambda u: Decimal(u).scaleb(-3, _dec.Context(prec=60)))
    row = st.tuples(
        longs, st.none() | text, st.none() | finite,
        st.lists(st.none() | longs, max_size=6),
        st.dictionaries(text, text, max_size=4),
        st.none() | st.tuples(decimals, st.booleans()).map(
            lambda t: {"d": t[0], "b": t[1]}))

    @settings(max_examples=40, deadline=None)
    @given(st.lists(row, min_size=1, max_size=8))
    def check(rows):
        cols = [list(c) for c in zip(*rows)]
        buf = _bio.BytesIO()
        AV.write_container(buf, schema, cols, sync_seed="prop")
        _, back = AV.read_container(buf.getvalue())
        names = [f["name"] for f in schema["fields"]]
        assert [tuple(r[n] for n in names) for r in back] == rows

    check()


def test_avro_nested_edge_cases():
    """Container-codec edge cases: empty arrays/maps (zero-count block
    only), a null nested record (union at record level), and a
    null-second union INSIDE a nested record — all round-trip exact."""
    import io as _bio

    from nifi_datasynthesizer_spark import avro_io as AV
    schema = {"type": "record", "name": "e", "fields": [
        {"name": "xs", "type": {"type": "array", "items": "long"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {"name": "rec", "type": ["null", {"type": "record", "name": "r",
            "fields": [{"name": "a", "type": ["long", "null"]}]}]},
    ]}
    rows = [[[], [1, 2]], [{}, {"k": "v"}], [None, {"a": None}]]
    buf = _bio.BytesIO()
    AV.write_container(buf, schema, rows, sync_seed="t")
    _, back = AV.read_container(buf.getvalue())
    assert back == [{"xs": [], "m": {}, "rec": None},
                    {"xs": [1, 2], "m": {"k": "v"}, "rec": {"a": None}}]


def test_avro_overwrite(spark, tmp_path):
    """Re-running write_avro into an existing directory replaces the
    previous files (mode("overwrite") parity with the other CLI format
    branches): a narrower second run must not leave stale wide-run
    part files for read_avro to silently mix in."""
    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark import avro_io as AV
    path = str(tmp_path / "avro")
    wide = spark.range(0, 90, 1, 6).select(F.col("id").alias("k"))
    assert AV.write_avro(wide, path) == 90
    narrow = spark.range(0, 10, 1, 1).select(F.col("id").alias("k"))
    assert AV.write_avro(narrow, path) == 10
    back = AV.read_avro(spark, path)
    assert back.count() == 10
    assert sorted(r.k for r in back.collect()) == list(range(10))


def test_avro_null_second_union(spark, tmp_path):
    """The spec permits [T, "null"] as well as ["null", T]; the null
    branch index must be computed from the union, not assumed 0.  A
    Java-written file with a null-SECOND union decodes value-exact."""
    import json as _json

    from nifi_datasynthesizer_spark import avro_io as AV
    schema = {"type": "record", "name": "ns", "fields": [
        {"name": "k", "type": "long"},
        {"name": "maybe", "type": ["long", "null"]},
    ]}
    jvm = spark._jvm
    sch = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema))
    gdr = jvm.org.apache.avro.generic.GenericDatumReader(sch)
    gdw = jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    dfw = jvm.org.apache.avro.file.DataFileWriter(gdw)
    d = tmp_path / "ns"
    d.mkdir()
    fname = str(d / "part-0.avro")
    dfw.create(sch, jvm.java.io.File(fname))
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    for i in range(8):
        payload = {"k": i,
                   "maybe": {"long": i * 7} if i % 2 == 0 else None}
        dfw.append(gdr.read(None, fac.jsonDecoder(sch, _json.dumps(payload))))
    dfw.close()
    _, rows = AV.read_container(open(fname, "rb").read())
    assert [(r["k"], r["maybe"]) for r in rows] == \
        [(i, i * 7 if i % 2 == 0 else None) for i in range(8)]
    # and the symmetric write path emits the branch indices the Java
    # reader expects for the same null-second schema
    import io as _bio
    buf = _bio.BytesIO()
    AV.write_container(buf, schema, [[1, 2], [None, 99]], sync_seed="t")
    _, back = AV.read_container(buf.getvalue())
    assert [(r["k"], r["maybe"]) for r in back] == [(1, None), (2, 99)]


def test_avro_non_utc_session_timezone(spark, tmp_path):
    """Timestamps are absolute: with a non-UTC session timezone the
    container must still carry true epoch micros (localize-then-value
    on write, the symmetric convert on read).  Checks the raw micros
    in the file against the known instant AND the Spark roundtrip."""
    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark import avro_io as AV
    micros = 1_700_000_000_000_000  # 2023-11-14T22:13:20Z
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.range(0, 5, 1, 1).select(
            F.col("id").alias("k"),
            F.timestamp_micros(F.lit(micros) + F.col("id")).alias("ts"))
        path = str(tmp_path / "tz")
        AV.write_avro(df, path)
        import glob
        _, rows = AV.read_container(
            open(sorted(glob.glob(path + "/*.avro"))[0], "rb").read())
        assert sorted(r["ts"] for r in rows) == \
            [micros + i for i in range(5)]
        back = AV.read_avro(spark, path)
        assert sorted(map(tuple, back.collect())) == \
            sorted(map(tuple, df.collect()))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_avro_nullable_bigint_precision(spark, tmp_path):
    """Nullable long columns arrive in pandas as float64; values above
    2^53 must survive exactly (Int64 extension recast, not int(float))."""
    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark import avro_io as AV
    big = 9_007_199_254_740_993  # 2^53 + 1, not float64-representable
    df = spark.range(0, 6, 1, 1).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0,
               F.lit(big) + F.col("id")).alias("maybe_big"))
    path = str(tmp_path / "big")
    AV.write_avro(df, path)
    back = AV.read_avro(spark, path)
    got = sorted((r.k, r.maybe_big) for r in back.collect())
    assert got == [(i, big + i if i % 2 == 0 else None) for i in range(6)]


def test_cli_avro_output(spark, tmp_path):
    """End-to-end CLI run with --format avro in this classpath-less
    environment: the avro_io fallback writes container files a
    separate process, and the host session reads them back."""
    import json as _json
    import subprocess
    import sys

    schema = [{"name": "rec_id", "class": "id"},
              {"name": "qty", "class": "int", "min": 1, "max": 9},
              {"name": "who", "class": "name"}]
    sfile = tmp_path / "schema.json"
    sfile.write_text(_json.dumps(schema))
    out = str(tmp_path / "avro_out")
    r = subprocess.run(
        [sys.executable, "-m", "nifi_datasynthesizer_spark",
         "--schema", str(sfile), "--count", "200", "--format", "avro",
         "--output", out, "--threads", "2"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    from nifi_datasynthesizer_spark import avro_io as AV
    back = AV.read_avro(spark, out)
    assert back.count() == 200
    assert [f.name for f in back.schema.fields] == ["rec_id", "qty", "who"]
    assert back.agg({"qty": "min"}).collect()[0][0] >= 1


def test_avro_enum_fixed_decimal_fixed():
    """Spec coverage for foreign writers: enum (zigzag symbol index),
    fixed (raw width bytes, no length prefix), and decimal-over-fixed
    (unscaled two's-complement in exactly `size` bytes) round-trip
    through the container codec, and map to string/binary/decimal
    Spark columns."""
    import io as _bio
    from decimal import Decimal

    from pyspark.sql import types as T

    from nifi_datasynthesizer_spark import avro_io as AV
    schema = {"type": "record", "name": "f", "fields": [
        {"name": "color", "type": {"type": "enum", "name": "c",
                                   "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "mac", "type": {"type": "fixed", "name": "m",
                                 "size": 6}},
        {"name": "amt", "type": {"type": "fixed", "name": "d",
                                 "size": 16, "logicalType": "decimal",
                                 "precision": 38, "scale": 2}},
        {"name": "maybe", "type": ["null", {"type": "enum", "name": "e2",
                                            "symbols": ["A", "B"]}]},
    ]}
    rows = [
        ["GREEN", "RED", "BLUE"],
        [b"\x00\x1b\x44\x11\x3a\xff", b"\xde\xad\xbe\xef\x00\x01",
         b"\x01\x02\x03\x04\x05\x06"],
        [Decimal("12345678901234567890123456789012345.67"),
         Decimal("-0.01"), Decimal("0")],
        [None, "A", "B"],
    ]
    buf = _bio.BytesIO()
    AV.write_container(buf, schema, rows, sync_seed="ef")
    _, back = AV.read_container(buf.getvalue())
    for j, name in enumerate(["color", "mac", "amt", "maybe"]):
        assert [r[name] for r in back] == rows[j], name
    st = AV.avro_to_spark_schema(schema)
    assert st["color"].dataType == T.StringType()
    assert st["mac"].dataType == T.BinaryType()
    assert st["amt"].dataType == T.DecimalType(38, 2)
    assert st["maybe"].dataType == T.StringType() and st["maybe"].nullable


def test_avro_enum_fixed_java_interop(spark, tmp_path):
    """enum / fixed / decimal-over-fixed written by the pure-Python
    encoder decode value-exact in the OFFICIAL Java implementation,
    and a Java-written file with the same shapes decodes here — the
    symbol-index coding and prefix-free fixed width are spec-exact in
    both directions."""
    import glob
    import json as _json
    from decimal import Decimal

    from nifi_datasynthesizer_spark import avro_io as AV
    schema = {"type": "record", "name": "ef", "fields": [
        {"name": "color", "type": {"type": "enum", "name": "c",
                                   "symbols": ["RED", "GREEN", "BLUE"]}},
        {"name": "tag", "type": {"type": "fixed", "name": "m",
                                 "size": 4}},
        {"name": "amt", "type": {"type": "fixed", "name": "d",
                                 "size": 8, "logicalType": "decimal",
                                 "precision": 18, "scale": 2}},
    ]}
    rows = [["BLUE", "RED"], [b"abcd", b"wxyz"],
            [Decimal("12345.67"), Decimal("-0.02")]]
    import io as _bio
    d = tmp_path / "ef"
    d.mkdir()
    fname = str(d / "part-0.avro")
    with open(fname, "wb") as fh:
        AV.write_container(fh, schema, rows, sync_seed="ef")
    jvm = spark._jvm
    rdr = jvm.org.apache.avro.generic.GenericDatumReader()
    dfr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(fname), rdr)
    got = []
    while dfr.hasNext():
        rec = dfr.next()
        got.append((str(rec.get("color")),
                    bytes(rec.get("tag").bytes()),
                    int.from_bytes(bytes(rec.get("amt").bytes()),
                                   "big", signed=True)))
    dfr.close()
    assert got == [("BLUE", b"abcd", 1234567), ("RED", b"wxyz", -2)]

    # reverse: Java writes the same schema via JsonDecoder (fixed is
    # JSON-encoded as ISO-8859-1 text, so printable bytes)
    sch = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(schema))
    gdr = jvm.org.apache.avro.generic.GenericDatumReader(sch)
    gdw = jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    dfw = jvm.org.apache.avro.file.DataFileWriter(gdw)
    fname2 = str(d / "java-0.avro")
    dfw.create(sch, jvm.java.io.File(fname2))
    fac = jvm.org.apache.avro.io.DecoderFactory.get()
    amt = int.to_bytes(999999999999999999, 8, "big").decode("latin-1")
    payload = {"color": "GREEN", "tag": "PQRS", "amt": amt}
    dfw.append(gdr.read(None, fac.jsonDecoder(sch, _json.dumps(payload))))
    dfw.close()
    _, back = AV.read_container(open(fname2, "rb").read())
    assert back == [{"color": "GREEN", "tag": b"PQRS",
                     "amt": Decimal("9999999999999999.99")}]


def test_avro_named_type_references(spark):
    """Spec named-type reuse: later fields may reference an earlier
    record/enum/fixed by name — bare within the null namespace,
    namespace-qualified across namespaces, and bare WITHIN an
    enclosing namespace (inherited per the spec's resolution rules;
    the Java parser enforces exactly this, rejecting bare refs to
    namespaced types from outside).  A union-guarded self-referential
    record decodes (lazy codec) while its Spark-schema mapping raises
    cleanly (no finite schema).  The reference-bearing file is ALSO
    read back by the official Java implementation."""
    import io as _bio

    import pytest as _pt
    from pyspark.sql import types as T

    from nifi_datasynthesizer_spark import avro_io as AV
    schema = {"type": "record", "name": "top", "fields": [
        {"name": "a", "type": {"type": "enum", "name": "col",
                               "symbols": ["X", "Y"]}},
        {"name": "b", "type": "col"},              # bare ref, null ns
        {"name": "pt", "type": {
            "type": "record", "name": "pair",
            "namespace": "com.example", "fields": [
                {"name": "u", "type": {"type": "fixed", "name": "tag4",
                                       "size": 2}},
                {"name": "v", "type": "tag4"}]}},  # bare ref INSIDE ns
        {"name": "pt2", "type": "com.example.pair"},   # qualified ref
    ]}
    rows = [["X", "Y"], ["Y", "X"],
            [{"u": b"ab", "v": b"cd"}, {"u": b"ef", "v": b"gh"}],
            [{"u": b"ij", "v": b"kl"}, {"u": b"mn", "v": b"op"}]]
    buf = _bio.BytesIO()
    AV.write_container(buf, schema, rows, sync_seed="nref")
    _, back = AV.read_container(buf.getvalue())
    assert [r["b"] for r in back] == ["Y", "X"]
    assert [r["pt"] for r in back] == [{"u": b"ab", "v": b"cd"},
                                       {"u": b"ef", "v": b"gh"}]
    assert [r["pt2"] for r in back] == [{"u": b"ij", "v": b"kl"},
                                        {"u": b"mn", "v": b"op"}]
    st = AV.avro_to_spark_schema(schema)
    assert st["b"].dataType == T.StringType()
    assert st["pt2"].dataType == st["pt"].dataType

    # Java cross-check: bare, in-namespace, and qualified references
    # all resolve to the same values under DataFileReader
    import os as _os
    import tempfile
    fd, fname = tempfile.mkstemp(suffix=".avro")
    try:
        with _os.fdopen(fd, "wb") as fh:
            AV.write_container(fh, schema, rows, sync_seed="nref")
        jvm = spark._jvm
        rdr = jvm.org.apache.avro.generic.GenericDatumReader()
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(fname), rdr)
        jgot = []
        while dfr.hasNext():
            rec = dfr.next()
            jgot.append((str(rec.get("b")),
                         bytes(rec.get("pt").get("v").bytes()),
                         bytes(rec.get("pt2").get("u").bytes())))
        dfr.close()
        assert jgot == [("Y", b"cd", b"ij"), ("X", b"gh", b"mn")]
    finally:
        _os.unlink(fname)

    # union-guarded recursion: a linked list decodes at the container
    # level; the Spark mapping refuses (infinite schema)
    rec = {"type": "record", "name": "node", "fields": [
        {"name": "val", "type": "long"},
        {"name": "next", "type": ["null", "node"]}]}
    lschema = {"type": "record", "name": "l", "fields": [
        {"name": "head", "type": rec}]}
    chain = {"val": 1, "next": {"val": 2, "next": {"val": 3,
                                                   "next": None}}}
    buf = _bio.BytesIO()
    AV.write_container(buf, lschema, [[chain]], sync_seed="rec")
    _, back = AV.read_container(buf.getvalue())
    assert back == [{"head": chain}]
    with _pt.raises(TypeError, match="recursive"):
        AV.avro_to_spark_schema(lschema)


def test_avro_top_level_namespace_resolution(spark):
    """Spec namespace resolution with a NAMESPACED top-level record
    (r9 ADVICE): (a) a nested type declaring the same namespace
    explicitly + a bare reference to it; (b) a nested type INHERITING
    the top-level namespace, referenced by its qualified name; (c) a
    cross-namespace reference whose target contains a bare ref that
    must resolve in the TARGET's declaring namespace, not the
    reference site's (where a same-named decoy exists).  Each is
    round-tripped here and (c) is cross-checked against the official
    Java implementation, which accepts all three."""
    import io as _bio
    import json as _json
    import os as _os
    import tempfile

    from pyspark.sql import types as T

    from nifi_datasynthesizer_spark import avro_io as AV

    # (a) explicit same-namespace nested type + bare ref
    sa = {"type": "record", "name": "top", "namespace": "org.x",
          "fields": [
              {"name": "a", "type": {"type": "fixed", "name": "f2",
                                     "namespace": "org.x", "size": 2}},
              {"name": "b", "type": "f2"}]}
    rows = [[b"ab", b"cd"], [b"ef", b"gh"]]
    buf = _bio.BytesIO()
    AV.write_container(buf, sa, rows, sync_seed="nsa")
    _, back = AV.read_container(buf.getvalue())
    assert [r["b"] for r in back] == [b"ef", b"gh"]
    st = AV.avro_to_spark_schema(sa)
    assert st["b"].dataType == T.BinaryType()

    # (b) inherited namespace, qualified reference
    sb = {"type": "record", "name": "top", "namespace": "org.x",
          "fields": [
              {"name": "a", "type": {"type": "enum", "name": "col",
                                     "symbols": ["R", "G"]}},
              {"name": "b", "type": "org.x.col"}]}
    buf = _bio.BytesIO()
    AV.write_container(buf, sb, [["R", "G"], ["G", "R"]],
                       sync_seed="nsb")
    _, back = AV.read_container(buf.getvalue())
    assert [r["b"] for r in back] == ["G", "R"]
    assert AV.avro_to_spark_schema(sb)["b"].dataType == T.StringType()

    # (c) cross-namespace target with an inner bare ref + a same-named
    # decoy in the referencing namespace: "tag" inside com.a.pair must
    # stay com.a.tag (size 2), never com.b.tag (size 4)
    sc = {"type": "record", "name": "top", "namespace": "com.a",
          "fields": [
              {"name": "deftag", "type": {"type": "fixed",
                                          "name": "tag", "size": 2}},
              {"name": "p", "type": {
                  "type": "record", "name": "pair", "fields": [
                      {"name": "t", "type": "tag"}]}},
              {"name": "q", "type": {
                  "type": "record", "name": "wrap",
                  "namespace": "com.b", "fields": [
                      {"name": "decoy", "type": {"type": "fixed",
                                                 "name": "tag",
                                                 "size": 4}},
                      {"name": "inner", "type": "com.a.pair"}]}}]}
    rows = [[b"xy"], [{"t": b"ab"}],
            [{"decoy": b"wxyz", "inner": {"t": b"cd"}}]]
    buf = _bio.BytesIO()
    AV.write_container(buf, sc, rows, sync_seed="nsc")
    _, back = AV.read_container(buf.getvalue())
    assert back == [{"deftag": b"xy", "p": {"t": b"ab"},
                     "q": {"decoy": b"wxyz", "inner": {"t": b"cd"}}}]
    stc = AV.avro_to_spark_schema(sc)
    assert stc["p"].dataType["t"].dataType == T.BinaryType()

    # Java cross-check on (c): parse our schema, read our file, and
    # confirm the inner tag decodes as the 2-byte com.a.tag
    fd, fname = tempfile.mkstemp(suffix=".avro")
    try:
        with _os.fdopen(fd, "wb") as fh:
            AV.write_container(fh, sc, rows, sync_seed="nsc")
        jvm = spark._jvm
        jsch = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(sc))
        itag = (jsch.getField("q").schema().getField("inner").schema()
                .getField("t").schema())
        assert itag.getFullName() == "com.a.tag"
        assert itag.getFixedSize() == 2
        rdr = jvm.org.apache.avro.generic.GenericDatumReader()
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(fname), rdr)
        rec = dfr.next()
        got = bytes(rec.get("q").get("inner").get("t").bytes())
        dfr.close()
        assert got == b"cd"
    finally:
        _os.unlink(fname)



def test_avro_schema_resolution(spark):
    """Spec Schema Resolution (reader schema != writer schema): added
    field with default, removed field, rename via reader alias,
    int->long and int->double promotion, string->bytes promotion,
    enum fallback to the reader's default symbol, nullability
    preserved — and the SAME (writer, reader) pair resolved by the
    official Java GenericDatumReader over our file gives identical
    values.  A reader field with no default that the writer lacks is
    a compile-time TypeError (before any data is touched)."""
    import io as _bio
    import json as _json
    import os as _os
    import tempfile

    import pytest as _pt

    from nifi_datasynthesizer_spark import avro_io as AV

    writer = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "int"},
        {"name": "score", "type": "int"},
        {"name": "tag", "type": "string"},
        {"name": "old_name", "type": ["null", "string"]},
        {"name": "dropped", "type": "long"},
        {"name": "color", "type": {"type": "enum", "name": "col",
                                   "symbols": ["RED", "BLUE",
                                               "MAGENTA"]}},
    ]}
    reader = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "long"},                  # int -> long
        {"name": "score", "type": "double"},             # int -> double
        {"name": "tag", "type": "bytes"},                # string -> bytes
        {"name": "new_name", "type": ["null", "string"],
         "aliases": ["old_name"]},                       # rename
        {"name": "color", "type": {"type": "enum", "name": "col",
                                   "symbols": ["RED", "BLUE",
                                               "OTHER"],
                                   "default": "OTHER"}}, # enum gap
        {"name": "added", "type": "long", "default": 7}, # new + default
        {"name": "added_n", "type": ["null", "string"],
         "default": None},                               # new nullable
    ]}
    rows = [[1, 2], [10, 20], ["a", "b"], ["x", None], [100, 200],
            ["RED", "MAGENTA"]]
    buf = _bio.BytesIO()
    AV.write_container(buf, writer, rows, sync_seed="resolve")
    data = buf.getvalue()
    _, got = AV.read_container(data, reader_schema=reader)
    assert got == [
        {"id": 1, "score": 10.0, "tag": b"a", "new_name": "x",
         "color": "RED", "added": 7, "added_n": None},
        {"id": 2, "score": 20.0, "tag": b"b", "new_name": None,
         "color": "OTHER", "added": 7, "added_n": None},
    ]
    # plain read (no reader schema) still returns writer-shaped rows
    _, raw = AV.read_container(data)
    assert raw[0]["old_name"] == "x" and raw[0]["dropped"] == 100

    # Java cross-check: GenericDatumReader(writer, reader) over the
    # same bytes resolves to the same values
    fd, fname = tempfile.mkstemp(suffix=".avro")
    try:
        with _os.fdopen(fd, "wb") as fh:
            AV.write_container(fh, writer, rows, sync_seed="resolve")
        jvm = spark._jvm
        P = jvm.org.apache.avro.Schema.Parser
        wsch = P().parse(_json.dumps(writer))
        rsch = P().parse(_json.dumps(reader))
        rdr = jvm.org.apache.avro.generic.GenericDatumReader(wsch, rsch)
        dfr = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(fname), rdr)
        jrows = []
        while dfr.hasNext():
            rec = dfr.next()
            nn = rec.get("new_name")
            tag = rec.get("tag")
            jrows.append((rec.get("id"), rec.get("score"),
                          bytes(tag.array()) if tag is not None else None,
                          str(nn) if nn is not None else None,
                          str(rec.get("color")), rec.get("added"),
                          rec.get("added_n")))
        dfr.close()
        assert jrows == [
            (1, 10.0, b"a", "x", "RED", 7, None),
            (2, 20.0, b"b", None, "OTHER", 7, None)]
    finally:
        _os.unlink(fname)

    # no default for a reader-only field -> compile-time error
    bad = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "long"},
        {"name": "mystery", "type": "long"}]}
    with _pt.raises(TypeError, match="no default"):
        AV.read_container(data, reader_schema=bad)
    # incompatible promotion -> compile-time error
    bad2 = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "string"}]}
    with _pt.raises(TypeError, match="cannot resolve"):
        AV.read_container(data, reader_schema=bad2)


def test_read_avro_mixed_generations(spark, tmp_path):
    """Schema-evolution read over a MIXED directory: files written
    under two historical schema versions come back as one DataFrame
    in the reader's shape — each file resolved against its own
    embedded writer schema on the decoding executor."""
    from nifi_datasynthesizer_spark import avro_io as AV

    v1 = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "int"},
        {"name": "who", "type": "string"}]}
    v2 = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "long"},
        {"name": "who", "type": "string"},
        {"name": "score", "type": "long"}]}
    reader = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "long"},
        {"name": "who", "type": "string"},
        {"name": "score", "type": ["null", "long"], "default": None}]}
    with open(tmp_path / "gen1.avro", "wb") as fh:
        AV.write_container(fh, v1, [[1, 2], ["a", "b"]],
                           sync_seed="g1")
    with open(tmp_path / "gen2.avro", "wb") as fh:
        AV.write_container(fh, v2, [[3], ["c"], [30]], sync_seed="g2")
    df = AV.read_avro(spark, str(tmp_path), reader_schema=reader)
    rows = {r.id: (r.who, r.score) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 30)}
    assert dict(df.dtypes)["score"] == "bigint"


def test_avro_resolution_recursive_and_writer_null(spark):
    """Two r11 ADVICE fixes on the resolved-decoder path: (a) a
    spec-legal union-guarded RECURSIVE record passed as reader_schema
    compiles through the lazy memo cell (it used to re-enter
    _effective eagerly until RecursionError) and decodes an evolved
    linked list correctly; (b) a writer 'null' primitive resolves
    against a reader nullable union (spec rule), while a reader union
    with no null branch still fails cleanly at compile."""
    import io as _bio

    import pytest as _pt

    from nifi_datasynthesizer_spark import avro_io as AV

    # (a) recursive reader schema, evolved: reader adds a defaulted
    # field at every level of the recursion
    wnode = {"type": "record", "name": "node", "fields": [
        {"name": "val", "type": "long"},
        {"name": "next", "type": ["null", "node"]}]}
    wsch = {"type": "record", "name": "l", "fields": [
        {"name": "head", "type": wnode}]}
    rnode = {"type": "record", "name": "node", "fields": [
        {"name": "val", "type": "long"},
        {"name": "tag", "type": "string", "default": "t"},
        {"name": "next", "type": ["null", "node"]}]}
    rsch = {"type": "record", "name": "l", "fields": [
        {"name": "head", "type": rnode}]}
    chain = {"val": 1, "next": {"val": 2, "next": {"val": 3,
                                                   "next": None}}}
    buf = _bio.BytesIO()
    AV.write_container(buf, wsch, [[chain]], sync_seed="recres")
    _, back = AV.read_container(buf.getvalue(), reader_schema=rsch)
    want = {"val": 1, "tag": "t",
            "next": {"val": 2, "tag": "t",
                     "next": {"val": 3, "tag": "t", "next": None}}}
    assert back == [{"head": want}]
    # identity resolution over the recursive schema also compiles
    _, same = AV.read_container(buf.getvalue(), reader_schema=wsch)
    assert same == [{"head": chain}]

    # (b) writer null primitive vs reader nullable union
    wsch2 = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "gone", "type": "null"}]}
    rsch2 = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "gone", "type": ["null", "string"]}]}
    buf2 = _bio.BytesIO()
    AV.write_container(buf2, wsch2, [[5, 6], [None, None]],
                       sync_seed="wnull")
    _, got2 = AV.read_container(buf2.getvalue(), reader_schema=rsch2)
    assert got2 == [{"a": 5, "gone": None}, {"a": 6, "gone": None}]
    rbad = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "gone", "type": ["string", "long"]}]}
    with _pt.raises(TypeError, match="null"):
        AV.read_container(buf2.getvalue(), reader_schema=rbad)


def test_avro_resolution_of_java_written_file(spark):
    """The remaining interop direction: a file written by the OFFICIAL
    Java implementation under a v1 schema, decoded by OUR resolver
    under an evolved reader schema (widened int, added default,
    renamed via alias)."""
    import json as _json
    import os as _os
    import tempfile

    from nifi_datasynthesizer_spark import avro_io as AV

    v1 = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "int"},
        {"name": "old", "type": "string"}]}
    reader = {"type": "record", "name": "ev", "fields": [
        {"name": "id", "type": "double"},
        {"name": "renamed", "type": "string", "aliases": ["old"]},
        {"name": "flag", "type": "boolean", "default": True}]}
    jvm = spark._jvm
    sch = jvm.org.apache.avro.Schema.Parser().parse(_json.dumps(v1))
    gdr = jvm.org.apache.avro.generic.GenericDatumReader(sch)
    gdw = jvm.org.apache.avro.generic.GenericDatumWriter(sch)
    dfw = jvm.org.apache.avro.file.DataFileWriter(gdw)
    fd, fname = tempfile.mkstemp(suffix=".avro")
    _os.close(fd)
    try:
        dfw.create(sch, jvm.java.io.File(fname))
        fac = jvm.org.apache.avro.io.DecoderFactory.get()
        for payload in ({"id": 7, "old": "x"}, {"id": -3, "old": "y"}):
            dfw.append(gdr.read(None, fac.jsonDecoder(
                sch, _json.dumps(payload))))
        dfw.close()
        _, rows = AV.read_container(open(fname, "rb").read(),
                                    reader_schema=reader)
        assert rows == [{"id": 7.0, "renamed": "x", "flag": True},
                        {"id": -3.0, "renamed": "y", "flag": True}]
    finally:
        _os.unlink(fname)


# ------------------------------------------------ read_table schema memo

def test_table_schema_memo_matches_inference(spark):
    """For every testdata table the remembered schema is the one a
    fresh inference gives, cold and warm, and a warm events read
    returns the same rows as an uncached one."""
    for name in nio.TABLES:
        path = f"{SF_DIR}/{name}.parquet"
        for _ in range(2):
            got = nio.read_table(spark, SF_DIR, name)
            raw = spark.read.parquet(path)
            assert nio.table_schema(spark, SF_DIR, name) == raw.schema, name
            if name == "events":
                raw = nio.normalize_event_ts(raw)
            assert got.schema == raw.schema, name
    warm = nio.read_table(spark, SF_DIR, "events")
    cold = nio.normalize_event_ts(
        spark.read.parquet(f"{SF_DIR}/events.parquet"))
    assert warm.count() > 0
    assert warm.exceptAll(cold).isEmpty() and cold.exceptAll(warm).isEmpty()


def test_read_table_repeat_runs_no_job(spark, tmp_path):
    """The first read of a table infers its schema with a Spark job; a
    repeat read of unchanged files, and its raw schema, submit none."""
    shutil.copy(f"{SF_DIR}/region.parquet", tmp_path / "region.parquet")
    with job_group(spark, "memo-repeat") as ids:
        before = ids()
        first = nio.read_table(spark, str(tmp_path), "region")
        cold = ids()
        again = nio.read_table(spark, str(tmp_path), "region")
        schema = nio.table_schema(spark, str(tmp_path), "region")
        assert ids() == cold
    assert cold - before, "the cold read must infer (test is vacuous)"
    assert again.schema == first.schema == schema


def test_read_table_reinfers_on_change(spark, tmp_path):
    """A table rewritten at the same path with a different schema, or a
    changed inference conf, is inferred again."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    path = tmp_path / "t.parquet"
    spark.range(3).write.parquet(str(path))
    assert nio.read_table(spark, str(tmp_path), "t").columns == ["id"]
    # rewrite without Spark's schema footer, so binaryAsString applies
    shutil.rmtree(path)
    path.mkdir()
    pq.write_table(pa.table({"s": ["0", "1", "2"],
                             "b": pa.array([b"x", b"y", b"z"], pa.binary())}),
                   path / "part-0.parquet")
    back = nio.read_table(spark, str(tmp_path), "t")
    assert back.columns == ["s", "b"]
    assert sorted(r.s for r in back.collect()) == ["0", "1", "2"]
    assert dict(back.dtypes)["b"] == "binary"
    conf = "spark.sql.parquet.binaryAsString"
    spark.conf.set(conf, "true")
    try:
        assert dict(nio.read_table(spark, str(tmp_path), "t").dtypes)["b"] \
            == "string"
        assert nio.table_schema(spark, str(tmp_path), "t")["b"] \
            .dataType.simpleString() == "string"
    finally:
        spark.conf.unset(conf)
    assert dict(nio.read_table(spark, str(tmp_path), "t").dtypes)["b"] \
        == "binary"
