"""Canned record generators — the reference's NiFi processors.

Each processor from ``nifi-datasynthesizer-processors/src/main/java/
org/apache/nifi/datasynthesizer/processors/synthesizers/`` becomes a
function returning the schema compiler's one table type, a
:class:`~.schema.CompiledSchema` with a fixed row count (the reference
runs its canned JSON schemas through log-synth's one SchemaSampler):
``.dataframe(spark)`` builds it, ``.duckdb_sql()`` is its oracle
replay.  A few (nested, simulated or joined outputs) return a
DataFrame directly.  All are built on the same pure column algebra, so
they parallelize without shuffle and replay exactly in DuckDB.

Hierarchical outputs (device → readings) are produced by *index
arithmetic* instead of explode: a grid of ``n_parent × n_child`` rows
where ``parent = i div n_child`` — a narrow map over ``spark.range``,
with per-parent sequential state (random walks, arrival times)
expressed as windows partitioned by parent.  This keeps every stage
embarrassingly parallel at 100 TB (no single-reducer windows, no
array explosions of unbounded size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import math

from . import dual as X
from . import vocab as V
from .dual import D
from .rng import pick, pick_weighted, quantize_weights, u01, uint
from .samplers import (
    EPOCH_2013_08_01_S,
    Ctx,
    _d_exponential,
    _fmt_epoch_s,
    _hex4,
    _normal01,
    s_browser,
    s_country,
    s_imei,
    s_ipv4,
    s_language,
    s_os,
    s_phone,
    s_state,
    s_text,
    s_uuid,
    s_zip,
)
from .schema import CompiledSchema, compile_schema


def _i() -> D:
    return D("i", "i")


# ------------------------------------------------------------------ iot

def iot_data_flat(n_devices: int = 100, readings: int = 100,
                  seed: int = 0) -> CompiledSchema:
    """IotData.java + resources/generators/iot-data.json, flattened:
    one row per (device, reading).  device-id uuid, device-ip, home
    lat/lon from the zip universe, a 1/min arrival `time` and a
    random-walk `temp` starting at 30 — the walk is a window cumsum
    partitioned by device (scales with device count)."""
    n = n_devices * readings
    i = _i()
    dev = X.cast_long(X.idiv(i, readings))
    j = X.cast_long(i % readings)
    lets: dict[str, D] = {}
    dctx = Ctx(dev, seed, "$.iot", lets)
    rctx = Ctx(i, seed, "$.iot.read", lets)
    zsub = s_zip({"onlyContinental": True, "fields": "latitude, longitude"}, dctx)
    t = X.cast_long(j * 60) + (X.floor(u01(i, rctx.salt("jit")) * 59.0) % 60) \
        + EPOCH_2013_08_01_S
    step = _normal01(rctx) * 1.0  # sd=1, mean=0 per iot-data.json
    # window keys derived from i (sibling aliases are not visible
    # inside the same select)
    temp_d = D(f"(SUM({step.s}) OVER (PARTITION BY CAST(FLOOR(i / "
               f"{float(readings)}) AS BIGINT) ORDER BY (i % {readings}) "
               f"ROWS UNBOUNDED PRECEDING) + 30.0)",
               f"(SUM({step.ss}) OVER (PARTITION BY FLOOR(i / "
               f"{readings}L) ORDER BY (i % {readings}L) "
               f"ROWS UNBOUNDED PRECEDING) + 30.0D)")
    cols = [
        ("device_seq", dev),
        ("reading_idx", j),
        ("device_id", s_uuid({}, dctx)),
        ("device_ip", s_ipv4({}, dctx)),
        ("latitude", zsub["latitude"]),
        ("longitude", zsub["longitude"]),
        ("time", _fmt_epoch_s(t, "yyyy-MM-dd HH:mm:ss")),
        ("temp", temp_d),
    ]
    return CompiledSchema(cols, lets, n=n)


def iot_data(spark: SparkSession, n_devices: int = 100, readings: int = 100,
             seed: int = 0) -> DataFrame:
    """Nested form matching the reference record shape: one row per
    device with an array<struct> of readings."""
    flat = iot_data_flat(n_devices, readings, seed).dataframe(spark)
    return (flat.groupBy("device_seq", "device_id", "device_ip",
                         "latitude", "longitude")
            .agg(F.sort_array(F.collect_list(F.struct("reading_idx", "time", "temp")))
                 .alias("readings")))


# ------------------------------------------------------------ telephony

def phone_numbers(n: int, area_code: int | None = None,
                  seed: int = 0) -> CompiledSchema:
    """PhoneNumber.java: {phone_number: 'NNN-NNN-NNNN'}."""
    lets: dict[str, D] = {}
    ctx = Ctx(_i(), seed, "$.phone", lets)
    spec = {"area_code": area_code} if area_code else {}
    return CompiledSchema([("phone_number", s_phone(spec, ctx))], lets, n=n)


def text_messages(n: int, source_area: int | None = None,
                  dest_area: int | None = None, words: int = 20,
                  seed: int = 0,
                  markov_chars: int | None = None) -> CompiledSchema:
    """TextMessage.java: src/dst numbers + IMEIs, timestamp, message.

    ``markov_chars`` switches the message body to the reference's
    actual text source — MarkovChain.produceText over a seed corpus
    with a character budget (TextMessage.java builds its message
    schema from ``textGen.produceText(textLength)``); default stays
    the cheap hash-chain text."""
    i = _i()
    lets: dict[str, D] = {}
    sctx = Ctx(i, seed, "$.sms.src", lets)
    dctx = Ctx(i, seed, "$.sms.dst", lets)
    mctx = Ctx(i, seed, "$.sms.msg", lets)
    t = X.floor(u01(i, mctx.salt("ts")) * (3 * 365 * 86400.0)) + 1577836800
    if markov_chars is not None:
        msg = markov_message(words=3 + markov_chars // 3, seed=seed,
                             max_chars=markov_chars)
    else:
        msg = s_text({"length": words}, mctx)
    return CompiledSchema([
        ("source_phone", s_phone({"area_code": source_area} if source_area else {}, sctx)),
        ("source_imei", s_imei({}, sctx)),
        ("destination_phone", s_phone({"area_code": dest_area} if dest_area else {}, dctx)),
        ("timestamp", _fmt_epoch_s(t, "yyyy-MM-dd HH:mm:ss")),
        ("message", msg),
    ], lets, n=n)


# ----------------------------------------------------------------- text

def text_blocks(n: int, words: int = 100, seed: int = 0) -> CompiledSchema:
    """TextGenerator.java: free-form text records.  The reference uses
    a Markov chain over a seed corpus (processors/data/MarkovChain.java);
    we chain word picks through the hash of the previous word index so
    bigram statistics are stable without any driver-side model."""
    i = _i()
    lets: dict[str, D] = {}
    ctx = Ctx(i, seed, "$.textgen", lets)
    # Markov-ish bigram coupling WITHOUT chaining whole index trees
    # (a k-deep chain is O(words²) expression text and trips the
    # analyzer's fixed-point limit): word_k mixes its own draw with the
    # PREVIOUS raw draw, so adjacent words share entropy — stable
    # bigram statistics, O(words) expression size.
    parts = []
    prev = None
    for k in range(words):
        r = uint(i, ctx.salt("w", k), 0, len(V.WORDS))
        idx = r if prev is None else (r + (prev % 97) * 7919) % len(V.WORDS)
        parts.append(X.element(idx, V.WORDS))
        prev = r
    joined = parts[0]
    for p in parts[1:]:
        joined = X.concat(joined, " ", p)
    return CompiledSchema([("text", joined)], lets, n=n)


# A small original seed corpus for the Markov generator (the reference
# ships public-domain novels; we ship our own prose).  Recurring
# phrases are deliberate: repeated word triples are what give the
# chain its branch points.
_MARKOV_SEED = (
    "the engine reads the table and the engine builds a plan for the "
    "query and the plan is a tree of operators that the optimizer "
    "rewrites until the plan is cheap enough to run on the cluster "
    "every operator in the plan consumes a stream of rows and emits a "
    "stream of rows so the engine can pipeline the work across the "
    "cluster without writing the rows to disk the optimizer pushes "
    "the filter below the join and the optimizer prunes the columns "
    "that the query never reads so the scan touches less data and the "
    "query runs faster when the table is large the engine splits the "
    "table into partitions and the cluster works on the partitions in "
    "parallel and the engine merges the results into one answer a "
    "join shuffles the rows by key unless the small side fits in "
    "memory and then the engine broadcasts the small side to every "
    "node so the join runs without a shuffle the planner counts the "
    "rows in the table and the planner picks the strategy that moves "
    "the least data across the network because the network is the "
    "slowest part of the cluster when a key is hot the engine salts "
    "the key and spreads the work across the cluster so no node falls "
    "behind the rest of the cluster a good plan reads the data once "
    "and a bad plan reads the data many times so the engine caches "
    "the results that the query needs again and the cache saves the "
    "cluster from repeating the work"
)


def _markov_model(seed_text: str, key_size: int):
    """Compile a word-level Markov chain (MarkovChain.java semantics:
    split on single spaces, key = ``key_size`` consecutive words,
    value = following word) into flat transition arrays suitable for a
    per-row fold: sorted keys ``kt``; per-key successor slice
    ``offs``/``cnts`` into ``ws`` (successor words, document order)
    and ``nks`` (index of the key the walk slides to, −1 when the
    successor window never occurs as a key — the document tail, where
    the reference's walk would abort)."""
    words = seed_text.split(" ")
    chain: dict[str, list[str]] = {}
    for i in range(len(words) - key_size):
        key = " ".join(words[i:i + key_size])
        chain.setdefault(key, []).append(words[i + key_size])
    keys = sorted(chain)
    key_idx = {k: j for j, k in enumerate(keys)}
    offs, cnts, ws, nks = [], [], [], []
    for k in keys:
        succ = chain[k]
        offs.append(len(ws))
        cnts.append(len(succ))
        tail = k.split(" ")[1:]
        for w in succ:
            ws.append(w)
            nks.append(key_idx.get(" ".join(tail + [w]), -1))
    return keys, offs, cnts, ws, nks


def markov_message(words: int = 24, key_size: int = 3, seed: int = 0,
                   seed_text: str | None = None,
                   max_chars: int | None = None) -> D:
    """The Markov walk as a dual scalar expression (one text value per
    row) — see :func:`markov_text` for semantics.  ``max_chars``
    switches to MarkovChain.produceText's character-budget mode: the
    walk stops before a word that would push the text past the budget
    (our counter is ``len(text) + 1 + len(word)`` — the reference
    counts appended-word chars plus word count separately; same
    growth, slightly different bookkeeping, documented divergence).
    ``words`` bounds the step count in both modes.
    """
    from .dual import _spark_sq, _sq
    from .rng import mix, salt_of

    text = seed_text if seed_text is not None else _MARKOV_SEED
    keys, offs, cnts, ws, nks = _markov_model(text, key_size)
    steps = max(words - key_size, 0)
    i = _i()
    k0 = uint(i, salt_of("$.markov", seed, "k0"), 0, len(keys))
    draws = [mix(i, salt_of("$.markov", seed, "d", j)) for j in range(steps)]

    # Spark: the transition arrays bound once as struct ``cx``, then one
    # aggregate over the draws with state (key index k, text so far t)
    arr_i = lambda xs: "array(%s)" % ",".join(f"{x}L" for x in xs)
    arr_s = lambda xs: "array(%s)" % ",".join(_spark_sq(x) for x in xs)
    sslot = ("CAST(element_at(cx.o, CAST(acc.k + 1 AS INT)) + pmod(d, "
             "element_at(cx.c, CAST(acc.k + 1 AS INT))) + 1 AS INT)")
    sword = f"element_at(cx.w, {sslot})"
    sbudget = ("" if max_chars is None else
               f"WHEN length(acc.t) + 1 + length({sword}) > {max_chars} "
               f"THEN named_struct('k', CAST(-1 AS BIGINT), 't', acc.t) ")
    sk0 = f"CAST({k0.ss} AS BIGINT)"
    ssql = (
        f"element_at(transform(array(named_struct("
        f"'o', {arr_i(offs)}, 'c', {arr_i(cnts)}, 'nk', {arr_i(nks)}, "
        f"'w', {arr_s(ws)}, 'kt', {arr_s(keys)})), "
        f"cx -> aggregate(array({', '.join(d.ss for d in draws)}), "
        f"named_struct('k', {sk0}, "
        f"'t', element_at(cx.kt, CAST({sk0} + 1 AS INT))), "
        f"(acc, d) -> CASE WHEN acc.k < 0 THEN acc {sbudget}"
        f"ELSE named_struct('k', element_at(cx.nk, {sslot}), "
        f"'t', concat(acc.t, ' ', {sword})) END).t), 1)")

    o = "[%s]" % ",".join(f"{x}::BIGINT" for x in offs)
    c = "[%s]" % ",".join(f"{x}::BIGINT" for x in cnts)
    nk = "[%s]" % ",".join(f"{x}::BIGINT" for x in nks)
    w = "[%s]" % ",".join(_sq(x) for x in ws)
    kt = "[%s]" % ",".join(_sq(x) for x in keys)
    dlist = "[%s]" % ",".join(d.s for d in draws)
    slot = f"(({o})[(a.k + 1)::INT] + (e.k % ({c})[(a.k + 1)::INT]) + 1)::INT"
    # field order in the accumulator struct is LOAD-BEARING: DuckDB's
    # list_reduce evaluates result-struct fields sequentially and
    # mutates the accumulator field-by-field, so an expression reading
    # a.k after the 'k' field was written sees the NEW key.  't'
    # (which reads the old key) must therefore be computed before 'k'.
    budget = ("" if max_chars is None else
              f"WHEN length(a.t) + 1 + length(({w})[{slot}]) > {max_chars} "
              f"THEN {{'t': a.t, 'k': (-1)::BIGINT}} ")
    sql = f"""(list_reduce(
  list_concat(
    [{{'t': ({kt})[(({k0.s}) + 1)::INT], 'k': ({k0.s})::BIGINT}}],
    list_transform({dlist}, d -> {{'t': '', 'k': d::BIGINT}})),
  (a, e) -> CASE WHEN a.k < 0 THEN a {budget}ELSE
    {{'t': a.t || ' ' || ({w})[{slot}], 'k': ({nk})[{slot}]}} END)).t"""
    return D(sql, ssql)


def markov_text(n: int, words: int = 24, key_size: int = 3,
                seed: int = 0, seed_text: str | None = None,
                max_chars: int | None = None) -> CompiledSchema:
    """TextGenerator.java / MarkovChain.java: Markov-chain text.

    The reference walks a ``key_size``-gram chain over a seed corpus
    (random start key, append a uniformly drawn successor, slide the
    window) once per trigger and stamps the one walk onto every record
    in the batch; here every record gets its own walk — same chain
    semantics, per-row determinism.  Two deliberate divergences:
    start-key order is sorted (the reference indexes a HashMap's
    keySet array — JVM-iteration-order nondeterminism), and a walk
    that slides off the document tail terminates (the reference would
    NPE on the missing key).

    Spark-first shape: the chain is compiled driver-side into flat
    transition arrays (plan constants, like the LSH hyperplanes); each
    row folds its pre-drawn counter-RNG values through one SQL
    ``aggregate`` whose state is (key index, text so far).  The
    transition arrays are bound ONCE via the 1-element-array transform
    (HOF lambdas re-evaluate referenced subtrees per element — an
    unbound 2000-literal array would be rebuilt per step per row).
    The DuckDB mirror is the same fold via ``list_reduce``.
    """
    rec = D("CAST(i AS BIGINT)", "CAST(i AS BIGINT)")
    msg = markov_message(words, key_size, seed, seed_text, max_chars)
    return CompiledSchema([("rec_id", rec), ("message", msg)], n=n)


# -------------------------------------------------------------- finance

def transactions(n_people: int = 100, max_tx: int = 5,
                 n_terminals: int = 50, invalid_rate: float = 0.05,
                 seed: int = 0) -> CompiledSchema:
    """Transactions.java: credit-card transactions.

    Flat grid n_people × max_tx; per-row keep-probability emulates the
    variable per-person transaction count (`max-transactions`,
    `allow-zero-transactions`); terminals are a shared universe
    (`terminal-generation-count`); `generate-invalid-transactions`
    marks a fraction invalid with out-of-range amounts
    (valid_transaction.json amounts 0..200, transaction.json 0..50000).
    """
    n = n_people * max_tx
    i = _i()
    person = X.cast_long(X.idiv(i, max_tx))
    k = i % max_tx
    lets: dict[str, D] = {}
    pctx = Ctx(person, seed, "$.tx.person", lets)
    tctx = Ctx(i, seed, "$.tx", lets)
    n_tx = uint(person, pctx.salt("ntx"), 0, max_tx + 1)  # per-person count
    keep = X.cast_long(k) < n_tx
    terminal = uint(i, tctx.salt("term"), 0, n_terminals)
    is_invalid = u01(i, tctx.salt("bad")) < invalid_rate
    amt_valid = X.round_(u01(i, tctx.salt("amt")) * 200.0, 2)
    amt_invalid = X.round_(u01(i, tctx.salt("amt2")) * 49800.0 + 200.0, 2)
    t = X.floor(u01(i, tctx.salt("ts")) * (365 * 86400.0)) + 1609459200
    cols = [
        ("person_id", person),
        ("card_number", X.concat(
            "4", X.lpad(uint(person, pctx.salt("c1"), 0, 10 ** 7), 7, "0"),
            X.lpad(uint(person, pctx.salt("c2"), 0, 10 ** 8), 8, "0"))),
        ("terminal_id", X.cast_long(terminal)),
        ("transaction_id", s_uuid({}, tctx)),
        ("transaction_timestamp", X.cast_long(t)),
        ("transaction_amount", X.when_chain([(is_invalid, amt_invalid)], amt_valid)),
        ("is_valid", X.when_chain([(is_invalid, X.lit(False))], X.lit(True))),
    ]
    return CompiledSchema(cols, lets, where=keep, n=n)


def transactions_df(spark: SparkSession, **kw) -> DataFrame:
    return transactions(**kw).dataframe(spark)


def transactions_sql(**kw) -> str:
    return transactions(**kw).duckdb_sql()


# ------------------------------------------------------------- commuter

COMMUTER_SCHEMA = ("driver_id long, home_zip string, home_lat double, "
                   "home_lon double, trip int, t_offset_s long, "
                   "lat double, lon double, mph double, rpm double")


def simulate_commuters(ids: list[int], base: list, T: int, P: int,
                       seed: int):
    """The pure-numpy commuter trace kernel, shared by the Spark
    ``applyInPandas`` path and the driver-side oracle digest (the
    latter is what lets the RNG-valued trace carry a hash-level gate:
    same deterministic kernel, two independent execution paths —
    distributed bucketed groups vs one local call).

    Vectorized exactly: one batched standard-normal draw per trip
    consumes the SAME bitstream as the reference per-point draws
    (numpy fills C-order: point-major, then speed/lat/lon/rpm —
    bit-identical values, ~10× less Python).  Per-driver Python is
    only the RNG draws; the clipped speed recursion (nonlinear
    first-order filter, no closed form) iterates P steps over a
    width-(drivers×trips) numpy state, and the output frame is
    assembled once per BUCKET of drivers, not per driver.
    """
    import numpy as np
    import pandas as pd

    D = len(ids)
    cols = ["driver_id", "home_zip", "home_lat", "home_lon", "trip",
            "t_offset_s", "lat", "lon", "mph", "rpm"]
    if not D:
        return pd.DataFrame(columns=cols)
    frac = np.arange(P) / max(1, P - 1)
    target = 45.0 * np.minimum(1.0, 4 * frac * (1 - frac) + 0.2)
    out_f = np.where(np.arange(T)[:, None] % 2 == 0, frac, 1.0 - frac)
    zips, lats, lons, dlats, dlons = [], [], [], [], []
    noise = np.empty((D, T, P, 4))
    for i, driver in enumerate(ids):
        rng = np.random.default_rng(seed * 1_000_003 + driver)
        z = base[int(rng.integers(0, len(base)))]
        # work ~5 miles away (reference: "work": 5.0)
        ang = rng.uniform(0, 2 * np.pi)
        zips.append(z[0]); lats.append(z[3]); lons.append(z[4])
        dlats.append(5.0 / 69.0 * np.cos(ang))
        dlons.append(5.0 / 55.0 * np.sin(ang))
        for t in range(T):          # per-trip draws keep stream order
            noise[i, t] = rng.normal(size=(P, 4))
    home_lat = np.array(lats)[:, None, None]
    home_lon = np.array(lons)[:, None, None]
    dlat = np.array(dlats)[:, None, None]
    dlon = np.array(dlons)[:, None, None]
    sn = noise[:, :, :, 0].reshape(D * T, P)
    s = np.zeros(D * T)
    speeds = np.empty((D * T, P))
    for p in range(P):
        s = np.clip(0.7 * s + 0.3 * target[p] + 2.0 * sn[:, p], 0.0, 90.0)
        speeds[:, p] = s
    speeds = speeds.reshape(D, T, P)
    lat = home_lat + dlat * out_f + 1e-4 * noise[:, :, :, 1]
    lon = home_lon + dlon * out_f + 1e-4 * noise[:, :, :, 2]
    rpm = 700.0 + speeds * 35.0 + 50.0 * noise[:, :, :, 3]
    return pd.DataFrame({
        "driver_id": np.repeat(np.asarray(ids, dtype=np.int64), T * P),
        "home_zip": np.repeat(np.asarray(zips, dtype=object), T * P),
        "home_lat": np.repeat(np.asarray(lats), T * P),
        "home_lon": np.repeat(np.asarray(lons), T * P),
        "trip": np.tile(np.repeat(np.arange(T, dtype=np.int32), P), D),
        "t_offset_s": np.tile(np.repeat(np.arange(T), P) * 43200
                              + np.tile(np.arange(P), T) * 30, D),
        "lat": lat.ravel(),
        "lon": lon.ravel(),
        "mph": np.round(speeds.ravel(), 3),
        "rpm": np.round(rpm.ravel(), 3),
    })


def commuter_data(spark: SparkSession, n_drivers: int = 10,
                  home_zip: str | None = None, trips: int = 4,
                  points_per_trip: int = 60, seed: int = 0) -> DataFrame:
    """CommuterData.java / com/mapr/synth/drive/{Commuter,Car,Engine}.java:
    simulate commuters driving home→work round trips.

    The reference steps a Car model sequentially per driver; that is
    inherently iterative, so we keep the simulation but distribute it
    *per driver* with applyInPandas — each group is one driver's whole
    trace, seeded by driver_id (deterministic under retries), groups
    are tiny and independent → scales linearly with driver count.
    Non-SQL-expressible ⇒ rows-only correctness check.
    """
    import numpy as np
    import pandas as pd

    zrows = V.ZIP_ROWS
    if home_zip is not None:
        base = [r for r in zrows if r[0] == home_zip] or [zrows[0]]
    else:
        base = zrows

    bbase = spark.sparkContext.broadcast(base)

    T, P = trips, points_per_trip

    def simulate(pdf: pd.DataFrame) -> pd.DataFrame:
        return simulate_commuters([int(d) for d in pdf["id"]],
                                  bbase.value, T, P, seed)

    # bucket many drivers per group: one pandas frame per DRIVER (the
    # r1 shape) pays ~1 ms of Arrow/pandas overhead per driver; one per
    # BUCKET amortizes it across ~n/buckets drivers
    par = max(1, spark.sparkContext.defaultParallelism)
    buckets = max(1, min(n_drivers, par * 4))
    drivers = spark.range(0, n_drivers, 1, max(1, min(n_drivers, par)))
    return (drivers.groupBy(F.pmod(F.col("id"), F.lit(buckets)))
            .applyInPandas(simulate, COMMUTER_SCHEMA))


# ----------------------------------------------------------- correlator

def correlate(input_df: DataFrame, schema, key_col: str, universe: int,
              seed: int = 0, prefix: str = "corr_") -> DataFrame:
    """DataCorrelator.java: join synthesized records into input records.

    The reference generates a record pair per incoming FlowFile and
    emplaces it.  Spark-first: compile the schema over the *key
    universe* (one generated record per key), broadcast it, and join —
    the synthesized dimension is generated once, not per row, and the
    join is map-side (no shuffle of the fact table).  The key bucket
    uses the portable hash (phash.h60) so the whole operator replays
    in the DuckDB oracle (correlate_sql below).
    """
    from pyspark.sql.functions import broadcast

    from .phash import h60

    spark = input_df.sparkSession
    key_field = {"name": "__corr_i", "class": "id"}
    dim = compile_schema([key_field] + list(schema), seed).dataframe(
        spark, universe, partitions=1)
    dim = dim.select(F.col("__corr_i").alias(f"{prefix}key"),
                     *[F.col(c).alias(f"{prefix}{c}")
                       for c in dim.columns if c != "__corr_i"])
    keyed = input_df.withColumn(
        f"{prefix}key",
        F.pmod(h60(F.col(key_col).cast("string")), F.lit(universe)))
    return keyed.join(broadcast(dim), f"{prefix}key", "left")


def correlate_sql(table: str, schema, key_col: str, universe: int,
                  seed: int = 0, prefix: str = "corr_") -> str:
    """DuckDB oracle mirror of :func:`correlate` over a registered view."""
    from .phash import h60_sql

    key_field = {"name": "__corr_i", "class": "id"}
    cs = compile_schema([key_field] + list(schema), seed)
    names = [name for name, _ in cs.columns if name != "__corr_i"]
    dim_cols = ", ".join([f'"__corr_i" AS {prefix}key'] +
                         [f'"{c}" AS "{prefix}{c}"' for c in names])
    bucket = f"{h60_sql(f'CAST({key_col} AS VARCHAR)')} % {universe}"
    return f"""
WITH dim AS (SELECT {dim_cols} FROM ({cs.duckdb_sql(universe)})),
keyed AS (SELECT *, {bucket} AS {prefix}key FROM {table})
SELECT keyed.*, {', '.join(f'"{prefix}{c}"' for c in names)}
FROM keyed LEFT JOIN dim USING ({prefix}key)"""


def correlate_pair(input_df: DataFrame, schema_a, schema_b, key_col: str,
                   universe: int, seed: int = 0, prefix_a: str = "a_",
                   prefix_b: str = "b_") -> DataFrame:
    """DataCorrelator.java full parity: the reference generates records
    from TWO schemas and embeds both into each incoming record
    (processors/DataCorrelator.java RECORD_GENERATOR_{A,B}); this
    composes two broadcast dimension joins — still zero fact-table
    shuffles, one plan."""
    out = correlate(input_df, schema_a, key_col, universe, seed, prefix_a)
    return correlate(out, schema_b, key_col, universe, seed + 1, prefix_b)


def correlate_pair_sql(table: str, schema_a, schema_b, key_col: str,
                       universe: int, seed: int = 0, prefix_a: str = "a_",
                       prefix_b: str = "b_") -> str:
    """DuckDB oracle mirror of :func:`correlate_pair`."""
    inner = correlate_sql(table, schema_a, key_col, universe, seed, prefix_a)
    return correlate_sql(f"({inner})", schema_b, key_col, universe,
                         seed + 1, prefix_b)


_CPOC_DEFAULTS = {
    "start": "2014-01-01 00:00:00", "end": "2014-02-15 00:00:00",
    "compromiseStart": "2014-01-15 00:00:00",
    "compromiseEnd": "2014-01-18 00:00:00",
    "exploitStart": "2014-01-20 00:00:00",
    "exploitEnd": "2014-01-31 00:00:00",
}


def _cpoc_parts(n_users: int, max_tx: int, seed: int):
    from .samplers import _epoch_utc
    schema = [{"name": "user_id", "class": "id"},
              {"class": "common-point-of-compromise",
               "maxTransactions": max_tx, **_CPOC_DEFAULTS}]
    cs = compile_schema(schema, seed)
    w = {k: _epoch_utc(v) for k, v in _CPOC_DEFAULTS.items()}
    return cs, w


def cpoc_events(spark: SparkSession, n_users: int = 1000, max_tx: int = 16,
                seed: int = 0, cfr: float = 0.3, ufr: float = 0.001) -> DataFrame:
    """CommonPointOfCompromise.java:36-100 as exploded event rows.

    The sampler emits each user's raw draws (times/merchants/rolls);
    here the labels derive in single computed columns: per-user
    vulnerability via an indexed array fold (NO shuffle — the window
    that the SQL oracle uses is only the oracle's formulation), then
    fraud by comparing the pre-drawn roll against the window-dependent
    rate.  Output: one row per transaction.
    """
    cs, w = _cpoc_parts(n_users, max_tx, seed)
    g = cs.dataframe(spark, n_users)
    az = F.arrays_zip("ts", "merchant")
    comp_user = F.array_max(F.transform(
        az, lambda x, j: F.when((x["merchant"] == 0)
                                & (x["ts"] >= w["compromiseStart"])
                                & (x["ts"] < w["compromiseEnd"])
                                & (j < F.col("n_tx")), 1).otherwise(0)))
    g = g.withColumn("compromised", comp_user.cast("long"))
    e = (g.select("user_id", "n_tx", "compromised",
                  F.posexplode(F.arrays_zip("ts", "merchant", "roll"))
                  .alias("j", "x"))
         .filter(F.col("j") < F.col("n_tx")))
    ts, merch, roll = F.col("x.ts"), F.col("x.merchant"), F.col("x.roll")
    datestr = _fmt_epoch_s(D("ts", "x.ts"), "yyyy-MM-dd HH:mm:ss")
    fraud = F.when((F.col("compromised") == 1)
                   & (ts >= w["exploitStart"]) & (ts < w["exploitEnd"]),
                   (roll < cfr).cast("long")
                   ).otherwise((roll < ufr).cast("long"))
    return e.select(
        "user_id", "j", ts.alias("ts"), datestr.c.alias("date"),
        merch.alias("merchant"),
        ((merch == 0) & (ts >= w["compromiseStart"])
         & (ts < w["compromiseEnd"])).cast("long").alias("compromise"),
        F.col("compromised"), fraud.alias("fraud"))


def cpoc_events_sql(n_users: int = 1000, max_tx: int = 16, seed: int = 0,
                    cfr: float = 0.3, ufr: float = 0.001) -> str:
    """DuckDB oracle mirror of :func:`cpoc_events`."""
    cs, w = _cpoc_parts(n_users, max_tx, seed)
    datestr = _fmt_epoch_s(D("ts", "ts"), "yyyy-MM-dd HH:mm:ss")
    return f"""
WITH g AS ({cs.duckdb_sql(n_users)}),
e AS (SELECT user_id, n_tx,
             unnest(range(0, {max_tx})) AS j, unnest(ts) AS ts,
             unnest(merchant) AS merchant, unnest(roll) AS roll
      FROM g),
v AS (SELECT * FROM e WHERE j < n_tx),
c AS (SELECT *, CASE WHEN merchant = 0 AND ts >= {w['compromiseStart']}
                      AND ts < {w['compromiseEnd']} THEN 1 ELSE 0 END AS compromise
      FROM v),
u AS (SELECT *, MAX(compromise) OVER (PARTITION BY user_id) AS compromised FROM c)
SELECT user_id, j, ts, {datestr.s} AS date, merchant, compromise, compromised,
       CASE WHEN compromised = 1 AND ts >= {w['exploitStart']} AND ts < {w['exploitEnd']}
            THEN (CASE WHEN roll < {cfr} THEN 1 ELSE 0 END)
            ELSE (CASE WHEN roll < {ufr} THEN 1 ELSE 0 END) END AS fraud
FROM u ORDER BY user_id, j"""


# --------------------------------------------------------------- weblog

_GEO_CODES = ["us", "gb", "de", "fr", "jp", "cn", "in", "br", "ca", "au",
              "ru", "it", "es", "mx", "kr", "nl", "se", "ch", "pl", "tr",
              "id", "ar", "za", "ng", "eg", "sa", "th", "vn", "my", "ph",
              "cl", "co", "pe", "pt", "gr", "cz", "ro", "hu", "dk", "fi"]

_WL_TERM_UNIVERSE = 512
_WL_IP_UNIVERSE = 1024
_WL_MAX_TERMS = 5
# slow "words" are term ranks ≡ 3 (mod 64) — 8 of the 512 terms, the
# same role as LogLine.java:31-33's slowWords set, tested with flat
# integer arithmetic (XOR-to-indicator), no CASE nesting: deep CASE
# trees are what made the first formulation parse in seconds
_WL_SLOW_MOD = 3

# 256-level exponential quantile table (same construction as
# samplers._d_exponential but sixteenth-size: weblog embeds it in two
# window-summed gap expressions, and literal-table bytes are parse
# time — 256 levels is statistically ample for synthesis)
_WL_EXPQ = [round(-math.log((k + 0.5) / 256), 9) for k in range(256)]

# weblog vocabulary: rank → syllable pair (64 × 8 = 512 words) — two
# tiny literal tables instead of a 512-string lookup per term
_WL_SYL1 = V.WORDS[:64]
_WL_SYL2 = ["an", "el", "ir", "ost", "un", "ash", "om", "ey"]


def _wl_word(rank: D) -> D:
    return X.concat(X.element(rank % 64, list(_WL_SYL1)),
                    X.element(X.cast_long(X.idiv(rank, 64)) % 8,
                              list(_WL_SYL2)))


def _wl_slow(rank: D) -> D:
    """1 iff the rank is one of the 8 slow terms (rank ≡ 3 mod 64) —
    flat arithmetic indicator: ``1 - min(1, (rank%64) XOR 3)`` is 1
    exactly when the residue equals 3 (XOR of equal values is 0)."""
    return X.lit(1) - X.least([X.lit(1),
                               (rank % 64).xor(X.lit(_WL_SLOW_MOD))])


def _arr_take_join(items: list[D], n: D, sep: str) -> D:
    """First ``n`` of ``items`` joined by ``sep`` — each item's text
    referenced ONCE (a per-item conditional would duplicate ``n``'s
    expression text per position)."""
    ds = ("array_to_string(list_slice([" + ", ".join(d.s for d in items)
          + f"], 1, CAST({n.s} AS INT)), '{sep}')")
    ss = ("array_join(slice(array(" + ", ".join(d.ss for d in items)
          + f"), 1, CAST({n.ss} AS INT)), '{sep}')")
    return D(ds, ss)


def _q_table(size: int, fn) -> list[float]:
    """Literal quantile table of ``fn`` over the standard normal —
    transcendental-free at query time, bit-identical in both engines."""
    from statistics import NormalDist
    nd = NormalDist()
    return [round(fn(nd.inv_cdf((k + 0.5) / size)), 9) for k in range(size)]


def _pareto_rank(u: D, tail_pow: int, universe: int) -> D:
    """Long-tail rank in [0, universe) from one uniform draw, with NO
    literal table: rank = floor(1/(1-u)^p) - 1 capped — a Pareto head
    approximating Zipf/Pitman–Yor tails (P(rank=0) ≈ 1-2^(-1/p)).
    Pure multiplications and one division: IEEE-identical in Spark and
    DuckDB (fixed op order), ~30 chars of SQL vs ~10 KB of table."""
    u2 = X.lit(1.0) - u                       # (0, 1]
    inv = u2
    for _ in range(tail_pow - 1):
        inv = inv * u2
    inv = X.lit(1.0) / inv
    # clamp BEFORE floor: 1/u^p reaches ~2^(31·p), far past BIGINT,
    # and dual.floor casts (Spark FLOOR returns BIGINT)
    capped = X.least([inv, X.lit(float(universe))])
    return X.floor(capped) - 1


def weblog(n_users: int = 500, events_per_user: int = 20,
           seed: int = 0) -> CompiledSchema:
    """LogGenerator.java web/query-log family: correlated log lines
    with per-user sticky identity and long-tail query terms.

    Reference parity (nifi-datasynthesizer-generators/src/main/java/
    com/mapr/synth/):
    - LogGenerator.java:46-67 — every user draws a sticky IP from a
      SHARED LongTail(alpha=1, discount=0.5) pool (hot NAT/proxy IPs
      serve many users), a geo code from TermGenerator(geo, 10, 0),
      and query terms from TermGenerator(words, 1, 0.8).
    - User.java:44-108 — cookie is a %08x hex id; sessions arrive at
      ~1/day (sessionTimeDistribution), hold Exponential(1/4)+1
      queries (mean 4, re-expressed as a p=1/4 geometric session
      boundary), spaced Exponential(1/120) seconds apart
      (queryTimeDistribution); query length is Exponential(0.4)+1
      terms (mean 2.5, capped at 5).
    - LogLine.java:31-66 — queries containing a slow word take
      ~50ms±10 vs ~10ms±2, then a lognormal factor exp(N(0,1)/3).

    Spark-first shape: one row per (user, line) over ``spark.range``;
    the only non-narrow operations are two per-user window cumsums
    (event time, session index) partitioned by user — embarrassingly
    parallel at any user count, no priority-queue driver loop (the
    reference's LogGenerator.sample() merge is a single-threaded
    event-heap; global time order is a downstream ORDER BY instead).
    All draws are counter-RNG quantile-table lookups, so the DuckDB
    oracle replays every line bit-exactly.
    """
    n = n_users * events_per_user
    i = _i()
    user = X.cast_long(X.idiv(i, events_per_user))
    j = X.cast_long(i % events_per_user)
    lets: dict[str, D] = {}
    uctx = Ctx(user, seed, "$.weblog.user", lets)
    lctx = Ctx(i, seed, "$.weblog.line", lets)

    # ---- let layer: every draw referenced more than once binds to a
    # named intermediate (CompiledSchema.lets).  Before this, ip_rank's
    # text appeared 8× inside the dotted quad and each term rank 3×
    # (word syllables + slow test) — ~50 KB of SQL whose parse/analyze/
    # codegen dominated the query (~6 s plan + first-run compile for
    # 10k rows).  The let layer holds the md5 algebra once.
    new_draw = u01(i, lctx.salt("sess"))
    is_new = X.when_chain([(j.eq(0), X.lit(1)),
                           (new_draw < 0.25, X.lit(1))], X.lit(0))
    gap_sess = X.element(uint(i, lctx.salt("sgap"), 0, 256),
                         _WL_EXPQ) * 86400.0
    gap_query = X.element(uint(i, lctx.salt("qgap"), 0, 256),
                          _WL_EXPQ) * 120.0
    gap_us = X.cast_long(X.floor(
        X.when_chain([(is_new.eq(1), gap_sess)], gap_query) * 1000000.0))

    # Exponential(0.4)+1 query length, capped: exact per-length masses
    # quantized into a 64-slot table (floor(Exp(mean 2.5)) is geometric)
    p_stop = 1.0 - math.exp(-1.0 / 2.5)
    len_masses = [p_stop * (1 - p_stop) ** k for k in range(_WL_MAX_TERMS - 1)]
    len_masses.append(1.0 - sum(len_masses))  # cap absorbs the tail
    n_terms = X.cast_long(X.element(
        uint(i, lctx.salt("qlen"), 0, 64),
        quantize_weights(list(range(1, _WL_MAX_TERMS + 1)), len_masses,
                         table_size=64)))
    # shared long-tail IP pool: user → pool rank (Pareto head ≈ the
    # Pitman–Yor pool), rank → dotted quad (same rank ⇒ same IP);
    # Pitman–Yor(1, 0.8) term tail ≈ Pareto with p=4 (analytic — no
    # literal rank table)
    user_r = lctx.bind_col("u", user)
    is_new_r = lctx.bind_col("isn", is_new)
    gap_us_r = lctx.bind_col("gus", gap_us)
    ip_rank_r = lctx.bind_col("ipr", _pareto_rank(
        u01(user, uctx.salt("iprank")), 2, _WL_IP_UNIVERSE))
    n_terms_r = lctx.bind_col("nt", n_terms)
    ranks = [lctx.bind_col(f"r{k}", _pareto_rank(
        u01(i, lctx.salt("term", k)), 4, _WL_TERM_UNIVERSE))
        for k in range(_WL_MAX_TERMS)]
    uctx = Ctx(user_r, seed, "$.weblog.user", lets)

    # sticky per-user identity -----------------------------------------
    cookie = X.concat(_hex4(uint(user_r, uctx.salt("ck0"), 0, 65536)),
                      _hex4(uint(user_r, uctx.salt("ck1"), 0, 65536)))
    ip = s_ipv4({}, Ctx(ip_rank_r, seed, "$.weblog.ip", lets))
    geo_table = quantize_weights(
        _GEO_CODES, [(k + 1.0) ** -0.5 for k in range(len(_GEO_CODES))],
        table_size=256)
    geo = X.element(uint(user_r, uctx.salt("geo"), 0, 256), geo_table)

    # session/time structure -------------------------------------------
    part_d = f"(i // {events_per_user})"
    part_s = f"(i div {events_per_user})"
    ordk = f"(i % {events_per_user})"

    def wsum(val: D) -> D:
        # integer window cumsum per user; DuckDB SUM(BIGINT) → HUGEINT,
        # so the caller casts back to BIGINT
        ds = (f"SUM({val.s}) OVER (PARTITION BY {part_d} ORDER BY {ordk} "
              f"ROWS UNBOUNDED PRECEDING)")
        ss = (f"SUM({val.ss}) OVER (PARTITION BY {part_s} ORDER BY {ordk} "
              f"ROWS UNBOUNDED PRECEDING)")
        return D(ds, ss)

    t_us = X.cast_long(wsum(gap_us_r)) + EPOCH_2013_08_01_S * 1_000_000
    session_idx = X.cast_long(wsum(X.cast_long(is_new_r)))

    # query terms -------------------------------------------------------
    query = _arr_take_join([_wl_word(r) for r in ranks], n_terms_r, " ")
    # slow-term count over the FIRST n_terms draws — the position mask
    # min(1, max(0, n_terms - k)) stays flat arithmetic too
    slow_n = _wl_slow(ranks[0])
    for k in range(1, _WL_MAX_TERMS):
        mask = X.least([X.lit(1), X.greatest([X.lit(0), n_terms_r - k])])
        slow_n = slow_n + _wl_slow(ranks[k]) * mask

    # response time -----------------------------------------------------
    jit_slow = X.element(uint(i, lctx.salt("rts"), 0, 256),
                         _q_table(256, lambda g: g))
    jit_fast = X.element(uint(i, lctx.salt("rtf"), 0, 256),
                         _q_table(256, lambda g: g))
    factor = X.element(uint(i, lctx.salt("rtln"), 0, 256),
                       _q_table(256, lambda g: math.exp(g / 3)))
    mean_s = X.when_chain(
        [(slow_n > 0, X.lit(0.05) + jit_slow * 0.01)],
        X.lit(0.01) + jit_fast * 0.002)
    response_us = X.cast_long(X.floor(mean_s * factor * 1000000.0))

    cols = [
        ("line_id", i),
        ("user_seq", user_r),
        ("cookie", cookie),
        ("ip", ip),
        ("geo", geo),
        ("session_idx", session_idx),
        ("t_us", t_us),
        ("n_terms", n_terms_r),
        ("query", query),
        ("response_us", response_us),
    ]
    return CompiledSchema(cols, lets, n=n)


# --------------------------------------------------------- purchase log

# stand-ins for the reference's 'homer'/'simpson' hot keywords (this
# engine's word vocabulary is synthetic, so two fixed words take the
# boosted-purchase role)
_PL_HOT_TERMS = (V.WORDS[303], V.WORDS[777])


def purchase_log(n_users: int = 300, max_hits: int = 128,
                 seed: int = 0) -> CompiledSchema:
    """PurchaseLog.java web purchase logs (reference
    nifi-datasynthesizer-generators/src/main/java/com/mapr/
    PurchaseLog.java:52-131 with resources user-schema.txt and
    hit_step.txt).

    Per user: a sticky profile — user_category (consumer/business/
    graphic arts at 45/35/20), state, browser, country, language, os,
    user_id — and one session of Exponential(mean 30) hits starting
    uniformly inside a 30-day window, hits spaced Exponential(mean
    20 s) apart (PurchaseLog.java:97,103).  Per hit: a product
    category (printer/server/laptop, equal weight), a 3-int campaign
    list (ints < 20), one search keyword, and a purchase event drawn
    at p=0.5 when the (country, campaign) pair is targeted — the
    reference boosts country 'us' with campaign 5 and 'jp' with
    campaign 7 (PurchaseLog.java:112-117; this vocabulary's country
    names are 'United States'/'Japan') — or the keyword is one of two
    hot terms (the reference's 'homer'/'simpson'), else p=0.01.

    Spark-first shape: a fixed ``n_users × max_hits`` grid over
    ``spark.range`` masked by the per-user exponential session length
    (``WHERE j < n_hits`` — a narrow filter, no explode, no driver
    loop, unlike the reference's per-user file-append loop); the
    reference's ``t += dt`` accumulation is a per-user window cumsum.
    The reference emits hits time-unsorted and documents "should be
    sorted" — ordering stays the caller's ORDER BY.
    """
    n = n_users * max_hits
    i = _i()
    user = X.cast_long(X.idiv(i, max_hits))
    j = X.cast_long(i % max_hits)
    lets: dict[str, D] = {}
    uctx = Ctx(user, seed, "$.purchase.user", lets)
    hctx = Ctx(i, seed, "$.purchase.hit", lets)

    # session length floor(Exp(mean 30)), capped at the grid width
    n_hits = X.cast_long(X.least([
        X.floor(X.element(uint(user, uctx.salt("nhits"), 0, 256),
                          _WL_EXPQ) * 30.0),
        X.lit(max_hits)]))
    dt_ms = X.cast_long(X.floor(
        X.element(uint(i, hctx.salt("dwell"), 0, 256), _WL_EXPQ)
        * 20000.0))
    start_ms = X.cast_long(X.floor(
        u01(user, uctx.salt("start")) * (30 * 86_400_000.0)))

    user_r = hctx.bind_col("u", user)
    j_r = hctx.bind_col("j", j)
    nh_r = hctx.bind_col("nh", n_hits)
    dt_r = hctx.bind_col("dt", dt_ms)
    st_r = hctx.bind_col("st", start_ms)
    ctry = hctx.bind_col("ctry", s_country({}, uctx))
    kw = hctx.bind_col("kw", pick(i, hctx.salt("kw"), V.WORDS))
    c0, c1, c2 = (hctx.bind_col(f"c{k}", X.cast_long(
        uint(i, hctx.salt("camp", k), 0, 20))) for k in range(3))
    uctx = Ctx(user_r, seed, "$.purchase.user", lets)

    # per-user cumulative hit time — window cumsum partitioned by
    # user, parallel at any user count; DuckDB SUM(BIGINT)→HUGEINT,
    # cast straight back
    def cum(st: str, dt: str, u: str, j: str) -> str:
        return (f"CAST(({st} + SUM({dt}) OVER (PARTITION BY {u} ORDER BY "
                f"{j} ROWS UNBOUNDED PRECEDING)) AS BIGINT)")
    hit_time = D(cum(st_r.s, dt_r.s, user_r.s, j_r.s),
                 cum(st_r.ss, dt_r.ss, user_r.ss, j_r.ss))

    # indicator algebra: c XOR k is 0 iff c = k, so 1 - min(1, c XOR k)
    # is the equality indicator (same trick as the weblog slow words)
    def eq_int(c: D, k: int) -> D:
        return X.lit(1) - X.least([X.lit(1), c.xor(X.lit(k))])

    any5 = X.least([X.lit(1),
                    eq_int(c0, 5) + eq_int(c1, 5) + eq_int(c2, 5)])
    any7 = X.least([X.lit(1),
                    eq_int(c0, 7) + eq_int(c1, 7) + eq_int(c2, 7)])
    us_i = X.when_chain([(ctry.eq(X.lit("United States")), X.lit(1))],
                        X.lit(0))
    jp_i = X.when_chain([(ctry.eq(X.lit("Japan")), X.lit(1))], X.lit(0))
    kw_i = X.when_chain([(kw.eq(X.lit(_PL_HOT_TERMS[0])), X.lit(1)),
                         (kw.eq(X.lit(_PL_HOT_TERMS[1])), X.lit(1))],
                        X.lit(0))
    hot = X.least([X.lit(1), us_i * any5 + jp_i * any7 + kw_i])
    p = X.when_chain([(hot.eq(1), X.lit(0.5))], X.lit(0.01))
    events = X.when_chain([(u01(i, hctx.salt("buy")) < p, X.lit("1"))],
                          X.lit("-"))

    cols = [
        ("hit_time", hit_time),
        ("hit_id", i),
        ("user_id", user_r),
        ("user_category", pick_weighted(
            user_r, uctx.salt("ucat"),
            ["consumer", "business", "graphic arts"], [45.0, 35.0, 20.0])),
        ("state", s_state({}, uctx)),
        ("browser", s_browser({}, uctx)),
        ("country", ctry),
        ("language", s_language({}, uctx)),
        ("os", s_os({}, uctx)),
        ("product_category", pick(i, hctx.salt("pcat"),
                                  ["printer", "server", "laptop"])),
        ("campaign_list", X.concat(X.cast_string(c0), ",",
                                   X.cast_string(c1), ",",
                                   X.cast_string(c2))),
        ("search_keywords", kw),
        ("event_list", events),
    ]
    return CompiledSchema(cols, lets, where=(j_r < nh_r), n=n)


def remove_record_path(df: DataFrame, path: str) -> DataFrame:
    """RemoveRecordPath.java: drop a (possibly nested) field, e.g.
    'a.b.c' removes c inside struct a.b using dropFields (no rebuild)."""
    if "." not in path:
        return df.drop(path)
    top, rest = path.split(".", 1)
    return df.withColumn(top, F.col(top).dropFields(rest))
