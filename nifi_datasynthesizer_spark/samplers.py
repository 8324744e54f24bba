"""Field samplers: log-synth schema classes re-expressed as column algebra.

Reference surface: ``nifi-datasynthesizer-generators/src/main/java/com/
mapr/synth/samplers/*.java`` (one Java class per schema ``class`` key,
each drawing from a stateful ``java.util.Random``).  Here every sampler
compiles to a pure, shuffle-free dual expression (Spark SQL + DuckDB
SQL) over the row index — see rng.py for why this is the right design
for a 1000-executor cluster.

A sampler returns either:
- a single :class:`~.dual.D` (scalar or array value), or
- an ordered ``dict[name, D]`` (multi-column record, e.g. ``zip`` with
  ``fields``, or ``flatten``).
"""

from __future__ import annotations

import math

from . import dual as X
from . import vocab as V
from .dual import D, _spark_sq
from .rng import M31, mix, pick, pick_weighted, quantize_weights, salt_of, u01, uint

EPOCH_2013_08_01_S = 1375315200  # DateSampler.java default end epoch
DAY_S = 86400


class Ctx:
    """Compilation context: row-index expr + salt path + the table's lets.

    ``lets`` is the generated table's dict of named intermediates
    (:class:`~.schema.CompiledSchema`'s first projection), shared by
    every context of one table: a sampler whose VALUE expression is
    referenced many times can ``bind_col`` it once and reference it by
    name — the duplicated subtree becomes a projected column in a
    preceding select, which whole-stage codegen fuses away at runtime
    but which cuts Catalyst ANALYSIS from O(refs·|subtree|) to O(refs)
    (imei: 4.5 s → 0.1 s of driver time).
    """

    def __init__(self, i: D, seed: int, path: str, lets: dict[str, D]):
        self.i = i
        self.seed = seed
        self.path = path
        self.lets = lets

    def child(self, name: str) -> "Ctx":
        return Ctx(self.i, self.seed, f"{self.path}.{name}", self.lets)

    def salt(self, *extra) -> int:
        return salt_of(self.seed, self.path, *extra)

    def bind_col(self, tag: str, d: D) -> D:
        """Bind ``d`` as a named let and return a reference to it (both
        dialects).  ``d`` may reference only the row index ``i``, never
        another let: all lets render in ONE projection over the index."""
        name = f"__b{len(self.lets)}_{tag}"
        self.lets[name] = d
        return D(f'"{name}"', f"`{name}`")


# --------------------------------------------------------------- helpers

_EXP_TABLE_SIZE = 4096
_EXP_QUANTILES = [round(-math.log((k + 0.5) / _EXP_TABLE_SIZE), 9)
                  for k in range(_EXP_TABLE_SIZE)]


def _d_exponential(i: D, salt: int, mean: float) -> D:
    """Exponential(mean) via a precomputed quantile table.

    Runtime ``ln`` differs between JVM and libm by 1 ulp, which leaks
    through any rounding with small probability — a flaky oracle.  A
    4096-level quantile table computed once in Python is bit-identical
    in both engines (literal doubles), transcendental-free at query
    time, and statistically indistinguishable for synthesis.
    """
    q = X.element(uint(i, salt, 0, _EXP_TABLE_SIZE), _EXP_QUANTILES)
    return q * mean


_N01_TABLE_SIZE = 8192
_N01_QUANTILES: list[float] | None = None


def _n01_table() -> list[float]:
    global _N01_QUANTILES
    if _N01_QUANTILES is None:
        from statistics import NormalDist
        nd = NormalDist()
        _N01_QUANTILES = [round(nd.inv_cdf((k + 0.5) / _N01_TABLE_SIZE), 9)
                          for k in range(_N01_TABLE_SIZE)]
    return _N01_QUANTILES


def _normal01(ctx: Ctx, k: int = 0) -> D:
    """N(0,1) via an 8192-level inverse-CDF quantile table.

    ONE uniform draw per value (the earlier Irwin–Hall 12-sum cost 12
    mix chains per draw — the hottest expression in generation) and
    still bit-identical across engines: the quantiles are literal
    doubles computed once in Python.  Tails truncate at ±3.66σ —
    irrelevant for synthesis.  Replaces NormalSampler.java's
    Random.nextGaussian().
    """
    q = X.element(uint(ctx.i, ctx.salt("n01", k), 0, _N01_TABLE_SIZE),
                  _n01_table())
    return q


def _digits(ctx: Ctx, tag: str, n: int) -> list[D]:
    return [uint(ctx.i, ctx.salt(tag, j), 0, 10) for j in range(n)]


def _join_str(parts: list[D], sep: str) -> D:
    out = []
    for j, p in enumerate(parts):
        if j:
            out.append(X.lit(sep))
        out.append(X.cast_string(p))
    return X.concat(*out)


def _hex4(v: D) -> D:
    """16-bit int → 4 lowercase hex chars (identical in both engines)."""
    return X.lpad(X.hex_lower(v), 4, "0")


def _fmt_epoch_s(ts_s: D, fmt: str) -> D:
    """Format epoch seconds without engine timezone logic (UTC fields
    built arithmetically; date part via DATE + days)."""
    if fmt in ("s", "S"):
        return X.cast_long(ts_s)
    if fmt == "ms":
        return X.cast_long(ts_s * 1000)
    days = X.idiv(ts_s, DAY_S)
    datestr = X.cast_string(X.date_from_days(days))
    if fmt == "yyyy-MM-dd":
        return datestr
    if fmt == "yyyy-MM-dd HH:mm:ss":
        sod = ts_s % DAY_S
        hh = X.lpad(X.idiv(sod, 3600), 2, "0")
        mm = X.lpad(X.idiv(sod, 60) % 60, 2, "0")
        ss = X.lpad(sod % 60, 2, "0")
        return X.concat(datestr, " ", hh, ":", mm, ":", ss)
    raise ValueError(f"unsupported date format: {fmt!r} "
                     "(supported: s, ms, yyyy-MM-dd, 'yyyy-MM-dd HH:mm:ss')")


def _parse_rate_per_s(rate: str | float) -> float:
    """log-synth rate strings: '1/m', '100/s', '5/h', '2/d' → events/sec."""
    if isinstance(rate, (int, float)):
        return float(rate)
    num, _, unit = str(rate).partition("/")
    per = {"s": 1.0, "m": 60.0, "h": 3600.0, "d": 86400.0}[unit.strip() or "s"]
    return float(num) / per


# --------------------------------------------------------------- samplers

def s_id(spec, ctx):
    return X.cast_long(ctx.i + int(spec.get("start", 0)))


def s_int(spec, ctx):
    lo = int(spec.get("min", 0))
    hi = int(spec.get("max", 100))
    dist = spec.get("dist")
    if dist:  # [v1, p1, v2, p2, ...] multinomial, IntegerSampler.setDist
        vals = [int(v) for v in dist[0::2]]
        ws = [float(p) for p in dist[1::2]]
        return X.cast_long(pick_weighted(ctx.i, ctx.salt("int"), vals, ws))
    power = int(spec.get("skew", spec.get("power", 0)))
    if power:
        # IntegerSampler.setSkew: "skew is added by taking the min of
        # several samples"; negative skew prefers large values.  Exact
        # re-expression: LEAST/GREATEST over |skew|+1 independent draws
        # (no pow() → no libm ulp divergence between engines).
        draws = [uint(ctx.i, ctx.salt("int", j), lo, hi)
                 for j in range(abs(power) + 1)]
        out = X.cast_long(X.least(draws) if power > 0 else X.greatest(draws))
    else:
        out = X.cast_long(uint(ctx.i, ctx.salt("int"), lo, hi))
    fmt = spec.get("format")
    if fmt:  # IntegerSampler.setFormat: java String.format; "%0Nd" subset
        import re
        m = re.fullmatch(r"%0(\d+)d", str(fmt))
        if not m:
            raise ValueError(f"unsupported int format {fmt!r} (only %0Nd)")
        return X.lpad(out, int(m.group(1)), "0")
    return out


def s_double(spec, ctx):
    lo = float(spec.get("min", 0))
    hi = float(spec.get("max", 100))
    dist = spec.get("dist")
    if dist:
        vals = [float(v) for v in dist[0::2]]
        ws = [float(p) for p in dist[1::2]]
        return X.cast_double(pick_weighted(ctx.i, ctx.salt("dbl"), vals, ws))
    skew = int(spec.get("skew", spec.get("power", 0)))
    if skew:  # DoubleSampler.setSkew: min (or max, if negative) of several
        draws = [u01(ctx.i, ctx.salt("dbl", j)) for j in range(abs(skew) + 1)]
        u = X.least(draws) if skew > 0 else X.greatest(draws)
    else:
        u = u01(ctx.i, ctx.salt("dbl"))
    return u * (hi - lo) + lo


def s_normal(spec, ctx):
    """NormalSampler.java: mean/sd/precision; min/max clamp the sample
    (the reference rejection-resamples — a loop; clamping keeps the
    plan one pure expression and only moves tail mass to the bounds)."""
    mean = float(spec.get("mean", 0.0))
    sd = float(spec.get("sd", 1.0))
    out = _normal01(ctx) * sd + mean
    if spec.get("min") is not None:
        out = X.greatest([out, X.lit(float(spec["min"]))])
    if spec.get("max") is not None:
        out = X.least([out, X.lit(float(spec["max"]))])
    p = spec.get("precision")
    return X.round_(out, int(p)) if p is not None else out


def s_gamma(spec, ctx):
    """Erlang(k, rate): sum of k exponentials (GammaSampler.java for
    integer alpha; fractional part approximated by scaling)."""
    # GammaSampler.java parameterizations (javadoc: "mean is
    # alpha*scale = alpha/rate"); beta is the colt-style RATE
    if spec.get("dof") is not None:
        alpha = float(spec["dof"]) / 2.0
        beta = 1.0 / (2.0 * float(spec.get("scale", 1.0)))
    else:
        alpha = float(spec.get("alpha", 1.0))
        if spec.get("rate") is not None:
            beta = float(spec["rate"])
        elif spec.get("scale") is not None:
            beta = 1.0 / float(spec["scale"])
        else:
            beta = float(spec.get("beta", 1.0))
    k = max(1, int(round(alpha)))
    scale = alpha / k / beta
    total = None
    for j in range(k):
        e = _d_exponential(ctx.i, ctx.salt("gam", j), 1.0)
        total = e if total is None else total + e
    # no rounding: table quantiles are literal doubles, so the sum is
    # already bit-identical across engines (round() is NOT — see text.py)
    return total * scale


def s_string(spec, ctx):
    dist = spec.get("dist")
    if not dist:
        raise ValueError("string sampler requires 'dist' map")
    vals = list(dist.keys())
    ws = [float(w) for w in dist.values()]
    return pick_weighted(ctx.i, ctx.salt("str"), vals, ws)


def s_word(spec, ctx):
    return pick(ctx.i, ctx.salt("word"), V.WORDS)


_TEXT_QUOTES = {
    # TextSampler.java faker types — exemplar quote pools (the
    # reference draws from java-faker's quote data files)
    "chucknorris": [
        "Chuck Norris can divide by zero.",
        "Chuck Norris counted to infinity. Twice.",
        "Chuck Norris writes code that optimizes itself.",
        "Chuck Norris's keyboard has no escape key; nothing escapes.",
        "Chuck Norris can unit-test an entire application with a single assert.",
        "Chuck Norris solved the halting problem by staring at it.",
    ],
    "backtothefuture": [
        "Roads? Where we're going, we don't need roads.",
        "Great Scott!",
        "If you put your mind to it, you can accomplish anything.",
        "Nobody calls me chicken.",
        "Your future is whatever you make it, so make it a good one.",
        "This is heavy.",
    ],
    "gameofthrones": [
        "Winter is coming.",
        "A mind needs books as a sword needs a whetstone.",
        "When you play the game of thrones, you win or you die.",
        "The night is dark and full of terrors.",
        "A lion does not concern himself with the opinion of sheep.",
        "Chaos is a ladder.",
    ],
}


def s_text(spec, ctx):
    """TextSampler.java: ``text`` entries form a bag sampled verbatim;
    ``type`` picks a canned quote pool (chucknorris / backtothefuture /
    gameofthrones); otherwise an n-word string from the vocab
    (``length`` words)."""
    bag = spec.get("text")
    if bag:
        vals = [str(v) for v in (bag if isinstance(bag, list) else [bag])]
        return pick(ctx.i, ctx.salt("textbag"), vals)
    typ = str(spec.get("type", "")).lower().replace("_", "")
    if typ:
        if typ not in _TEXT_QUOTES:
            raise ValueError(f"text type must be one of {sorted(_TEXT_QUOTES)}")
        return pick(ctx.i, ctx.salt("textq"), _TEXT_QUOTES[typ])
    n_words = int(spec.get("length", 10))
    parts = [pick(ctx.i, ctx.salt("text", j), V.WORDS) for j in range(n_words)]
    return _join_str(parts, " ")


def s_name(spec, ctx):
    typ = str(spec.get("type", "first_last")).lower()
    first = pick(ctx.i, ctx.salt("first"), V.FIRST_NAMES)
    last = pick(ctx.i, ctx.salt("last"), V.LAST_NAMES)
    if typ == "first":
        return first
    if typ == "last":
        return last
    if typ == "last_first":
        return X.concat(last, ", ", first)
    return X.concat(first, " ", last)  # first_last / rand_first_last


def s_street_name(spec, ctx):
    return pick(ctx.i, ctx.salt("street"), V.STREET_NAMES)


def s_address(spec, ctx):
    num = uint(ctx.i, ctx.salt("addr_no"), 1, 9999)
    street = pick(ctx.i, ctx.salt("addr_st"), V.STREET_NAMES)
    suf = pick(ctx.i, ctx.salt("addr_suf"), V.STREET_SUFFIXES)
    return X.concat(X.cast_string(num), " ", street, " ", suf)


def s_state(spec, ctx):
    return pick(ctx.i, ctx.salt("state"), V.STATES)


def s_country(spec, ctx):
    return pick(ctx.i, ctx.salt("country"), V.COUNTRIES)


def s_language(spec, ctx):
    return pick(ctx.i, ctx.salt("lang"), V.LANGUAGES)


def s_zip(spec, ctx):
    """ZipSampler.java: emits a zip record.

    - `fields` selects sub-fields ("latitude, longitude"),
    - `onlyContinental` restricts to the continental-US bounding box
      (reference: BoundingBox(22, 50, -130, -65)),
    - `latitude`/`longitude`: "min,max" bounds,
    - `near`: "lat, lon" + `milesFrom`/`kmFrom` radius (default 10 mi,
      ZipSampler.setNear) — RadialBound re-expressed as a COMPILE-TIME
    universe restriction (haversine over the vocab in Python), so the
    runtime plan stays a single table pick; `latitudeFuzz`/
    `longitudeFuzz` add uniform jitter.
    """
    keep = list(range(len(V.ZIP_ROWS)))

    def _bbox(lat_lo, lat_hi, lon_lo, lon_hi):
        return [k for k in keep
                if lat_lo <= V.ZIP_LATS[k] <= lat_hi
                and lon_lo <= V.ZIP_LONS[k] <= lon_hi]

    if spec.get("onlyContinental"):
        keep = _bbox(22, 50, -130, -65)
    if spec.get("latitude"):
        lo, hi = [float(x) for x in str(spec["latitude"]).split(",")]
        keep = _bbox(lo, hi, -180, 180)
    if spec.get("longitude"):
        lo, hi = [float(x) for x in str(spec["longitude"]).split(",")]
        keep = _bbox(-90, 90, lo, hi)
    if spec.get("near"):
        clat, clon = [float(x.strip()) for x in
                      str(spec["near"]).replace(",", " ").split()]
        radius_mi = float(spec.get("milesFrom",
                          float(spec.get("kmFrom", 16.09)) * 0.621371))

        def dist_mi(k):
            la, lo = math.radians(V.ZIP_LATS[k]), math.radians(V.ZIP_LONS[k])
            ca, co = math.radians(clat), math.radians(clon)
            h = (math.sin((la - ca) / 2) ** 2
                 + math.cos(ca) * math.cos(la) * math.sin((lo - co) / 2) ** 2)
            return 3958.8 * 2 * math.asin(math.sqrt(h))
        keep = [k for k in keep if dist_mi(k) <= radius_mi]
    if not keep:
        raise ValueError("zip sampler: no zips satisfy the location bounds")

    idx = uint(ctx.i, ctx.salt("zip"), 0, len(keep))
    lat: D = X.element(idx, [V.ZIP_LATS[k] for k in keep])
    lon: D = X.element(idx, [V.ZIP_LONS[k] for k in keep])
    for axis, var in (("latitudeFuzz", "lat"), ("longitudeFuzz", "lon")):
        fz = float(spec.get(axis, 0) or 0)
        if fz:
            jit = (u01(ctx.i, ctx.salt(axis)) * 2.0 - 1.0) * fz
            if var == "lat":
                lat = lat + jit
            else:
                lon = lon + jit
    sub = {
        "zip": X.element(idx, [V.ZIP_CODES[k] for k in keep]),
        "city": X.element(idx, [V.ZIP_CITIES[k] for k in keep]),
        "state": X.element(idx, [V.ZIP_STATES[k] for k in keep]),
        "latitude": lat,
        "longitude": lon,
    }
    fields = spec.get("fields")
    if fields:
        want = [f.strip() for f in str(fields).split(",") if f.strip()]
        sub = {k: sub[k] for k in want}
    return sub


def s_date(spec, ctx):
    fmt = spec.get("format", "yyyy-MM-dd")
    start, end = spec.get("start"), spec.get("end")

    def parse(ds: str) -> int:
        from datetime import datetime, timezone
        for py in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
            try:
                return int(datetime.strptime(ds, py)
                           .replace(tzinfo=timezone.utc).timestamp())
            except ValueError:
                continue
        raise ValueError(f"unparseable date bound: {ds}")

    end_s = parse(end) if end else EPOCH_2013_08_01_S
    if start or end:
        start_s = parse(start) if start else 0
        t = uint(ctx.i, ctx.salt("date"), 0, max(1, end_s - start_s)) + start_s
    else:
        # DateSampler.java default: end − Exponential(mean 100 days)
        e = _d_exponential(ctx.i, ctx.salt("date"), 100.0 * DAY_S)
        t = X.cast_long(X.lit(end_s) - X.floor(e))
    return _fmt_epoch_s(t, fmt)


def s_event(spec, ctx):
    """ArrivalSampler.java: monotone arrival times at `rate`.

    Scale-first re-expression: t_i = start + (i + u_i)/rate — a jittered
    renewal process with the same rate and strict per-row independence
    (no global running sum ⇒ no single-partition window at 100 TB).
    """
    rate_s = _parse_rate_per_s(spec.get("rate", "1/s"))
    if spec.get("start"):  # ArrivalSampler.setStart: time of first event
        start_s = _parse_datetime_s(str(spec["start"]))
    else:
        start_s = int(spec.get("start_epoch", EPOCH_2013_08_01_S))
    step = 1.0 / rate_s
    offset_s = float(spec.get("offset", 0.0)) / 1000.0  # min gap, millis
    offset_s = min(offset_s, step)
    u = u01(ctx.i, ctx.salt("event"))
    base = X.cast_double(ctx.i) * offset_s
    t = X.cast_long(X.floor(base + (X.cast_double(ctx.i) + u)
                            * (step - offset_s))) + start_s
    return _fmt_epoch_s(t, spec.get("format", "yyyy-MM-dd HH:mm:ss"))


def _parse_datetime_s(s: str) -> int:
    """'yyyy-MM-dd[ HH:mm:ss]' → epoch seconds, timezone-free (UTC)."""
    import datetime as _dt
    fmt = "%Y-%m-%d %H:%M:%S" if " " in s else "%Y-%m-%d"
    d = _dt.datetime.strptime(s, fmt).replace(tzinfo=_dt.timezone.utc)
    return int(d.timestamp())


def s_foreign_key(spec, ctx):
    size = int(spec.get("size", 1000))
    skew = float(spec.get("skew", 0.5))
    ws = [math.pow(k + 1.0, -skew) for k in range(size)]
    table = quantize_weights(list(range(size)), ws, table_size=4096)
    return X.cast_long(X.element(uint(ctx.i, ctx.salt("fk"), 0, 4096), table))


def _row_md5(ctx: Ctx, tag: str) -> D:
    """One md5 hex string per (row, field) — the cheap entropy source
    for identifier samplers (32 hex chars from a single hash vs a
    31-bit mix chain per digit)."""
    return X.md5(X.concat(X.lit(f"{ctx.salt(tag)}:"), X.cast_string(ctx.i)))


def s_uuid(spec, ctx):
    """Deterministic v4-shaped UUID: one md5, formatted 8-4-4-4-12 with
    version/variant nibbles forced."""
    return X.bind(_row_md5(ctx, "uuid"), lambda m: X.concat(
        X.substr(m, 1, 8), "-", X.substr(m, 9, 4), "-4", X.substr(m, 14, 3),
        "-8", X.substr(m, 18, 3), "-", X.substr(m, 21, 12)))


def s_ssn(spec, ctx):
    """SsnSampler.java: area code from the SSA allocation table, then
    -GG-SSSS (group 1-99, serial 1-9999, both as in the reference).

    ``types`` filters the area universe ("normal", "extra");
    ``fields`` selects verbose sub-fields from {ssn, state,
    description, type}; ``verbose`` emits a struct.  The reference
    defaults to verbose {ssn, state}; ours defaults to the compact
    string (flat DataFrame ergonomics) — set ``verbose`` for parity.
    Note: SsnSampler's resource loop reads ``fields.get(1)`` as both
    loop bound and start, so the reference only ever samples each
    range's END area; we sample the full documented range.
    """
    import re as _re
    types = {t for t in _re.split(r"[\s,;]+", str(spec.get("types", "normal"))) if t}
    areas = [(a, st, ty, de) for (s0, s1, st, ty, de) in V.SSN_RANGES
             for a in range(s0, s1 + 1) if ty in types]
    if not areas:
        raise ValueError(f"ssn sampler: no areas of type {sorted(types)}")
    k = uint(ctx.i, ctx.salt("ssn_a"), 0, len(areas))
    group = uint(ctx.i, ctx.salt("ssn_g"), 1, 100)
    serial = uint(ctx.i, ctx.salt("ssn_s"), 1, 10000)
    ssn = X.concat(X.element(k, [f"{a:03d}" for a, _, _, _ in areas]), "-",
                   X.lpad(group, 2, "0"), "-", X.lpad(serial, 4, "0"))
    if spec.get("verbose"):
        keep = [f for f in _re.split(r"[\s,;]+",
                str(spec.get("fields", "ssn,state"))) if f]
        legal = {"ssn", "state", "description", "type"}
        bad = set(keep) - legal
        if bad:
            raise ValueError(f"ssn sampler: illegal fields {sorted(bad)}")
        cols = {"ssn": lambda: ssn,
                "state": lambda: X.element(k, [st for _, st, _, _ in areas]),
                "type": lambda: X.element(k, [ty for _, _, ty, _ in areas]),
                "description": lambda: X.element(k, [de for _, _, _, de in areas])}
        return {f: cols[f]() for f in keep}
    return ssn


def _hex_byte(m: D, pos: int) -> D:
    """Hex chars [pos, pos+1] of a md5 string → integer 0..255."""
    return X.hex_to_long(X.substr(m, pos, 2))


def s_ipv4(spec, ctx):
    """IpV4AddressSampler.java: dotted quad; ``private`` restricts to
    RFC-1918 space (10/8, 172.16/12, 192.168/16 — the same pools
    faker's privateIpV4Address draws from)."""
    if spec.get("private"):
        h = mix(ctx.i, ctx.salt("ip"))
        b2 = X.shiftr(h, 8) % 256
        b3 = h % 256
        fam = X.shiftr(h, 16) % 3
        first = X.element(fam, ["10", "172", "192"])
        second = X.when_chain(
            [(fam.eq(0), X.cast_string(X.shiftr(h, 4) % 256)),
             (fam.eq(1), X.cast_string(X.shiftr(h, 4) % 16 + 16))],
            X.lit("168"))
        return X.concat(first, ".", second, ".", X.cast_string(b2),
                        ".", X.cast_string(b3))
    return X.bind(_row_md5(ctx, "ip"), lambda m: _join_str(
        [_hex_byte(m, 1) % 254 + 1] + [_hex_byte(m, 3 + 2 * j) for j in range(3)],
        "."))


def s_mac(spec, ctx):
    return X.bind(_row_md5(ctx, "mac"), lambda m: _join_str(
        [X.substr(m, 1 + 2 * j, 2) for j in range(6)], ":"))


def s_email(spec, ctx):
    first = pick(ctx.i, ctx.salt("first"), V.FIRST_NAMES)
    last = pick(ctx.i, ctx.salt("last"), V.LAST_NAMES)
    dom = pick(ctx.i, ctx.salt("edom"), V.WORDS)
    tld = pick(ctx.i, ctx.salt("etld"), V.TLDS)
    return X.lower(X.concat(first, ".", last, "@", dom, ".", tld))


def s_username(spec, ctx):
    first = pick(ctx.i, ctx.salt("first"), V.FIRST_NAMES)
    last = pick(ctx.i, ctx.salt("last"), V.LAST_NAMES)
    num = uint(ctx.i, ctx.salt("unum"), 0, 100)
    return X.lower(X.concat(X.substr(first, 1, 1), last, X.cast_string(num)))


def s_domain(spec, ctx):
    w1 = pick(ctx.i, ctx.salt("dom1"), V.WORDS)
    tld = pick(ctx.i, ctx.salt("dtld"), V.TLDS)
    return X.concat(w1, ".", tld)


def s_dns(spec, ctx):
    """DnsSampler.java: DNS query records.

    The reference simulates a stateful per-user query process —
    Pitman–Yor domains seeded from f500-domains.csv, active/inactive
    sessions, day/night dilation.  Scale-first re-expression: the
    domain comes from a Zipf(1+discount) table over the f500 head plus
    a synthetic tail (the P-Y predictive distribution's power-law
    behavior, precomputed so DuckDB replays it exactly); times are a
    jittered renewal over [start, end); sessions/dilation average out
    and are dropped.  ``fields`` selects from {domain, revDomain, ip,
    ipV4, time, timestamp_ms, timestamp_s}; plain-string mode (no
    fields) returns the hostname, as before.
    """
    fields = spec.get("fields")
    if not fields:
        host = pick(ctx.i, ctx.salt("host"), ["www", "api", "cdn", "mail", "app"])
        return X.concat(host, ".", s_domain(spec, ctx))

    import re as _re
    keep = [f for f in _re.split(r"[\s,;]+", str(fields)) if f]
    legal = {"domain", "revDomain", "ip", "ipx", "ipV4", "time",
             "timestamp_ms", "timestamp_s"}
    bad = set(keep) - legal
    if bad:
        raise ValueError(f"dns sampler: illegal fields {sorted(bad)}")

    alpha = float(spec.get("alpha", 1000.0))
    discount = float(spec.get("discount", 0.3))
    universe = list(V.F500_DOMAINS)
    n_tail = min(4096, max(64, int(alpha)))
    universe += [f"{_vin_gibberish(f'dns{t}', 8).lower()}.com" for t in range(n_tail)]
    ws = [math.pow(k + 1.0, -(1.0 + discount)) for k in range(len(universe))]
    dom = pick_weighted(ctx.i, ctx.salt("dnsd"), universe, ws, table_size=4096)
    rev_table = [".".join(reversed(d.split("."))) for d in universe]
    rev = pick_weighted(ctx.i, ctx.salt("dnsd"), rev_table, ws, table_size=4096)

    start_s = (_parse_datetime_s(str(spec["start"])) if spec.get("start")
               else EPOCH_2013_08_01_S)
    end_s = (_parse_datetime_s(str(spec["end"])) if spec.get("end")
             else start_s + 3 * 86400)
    u = u01(ctx.i, ctx.salt("dnst"))
    span = float(end_s - start_s)
    ts = X.cast_long(X.floor((X.cast_double(ctx.i % 86400) + u)
                             * (span / 86400.0))) + start_s

    v4p = float(spec.get("v4Prob", spec.get("v4prob", 1.0)))
    v4 = s_ipv4({}, ctx)
    if v4p < 1.0:
        h = mix(ctx.i, ctx.salt("dns6"))
        v6 = X.concat("2001:db8:", _hex4(X.shiftr(h, 16) % 65536), ":",
                      _hex4(h % 65536), "::1")
        ip = X.when_chain([(u01(ctx.i, ctx.salt("dns46")) < v4p, v4)], v6)
    else:
        ip = v4

    cols = {"domain": lambda: dom, "revDomain": lambda: rev,
            "ip": lambda: ip, "ipx": lambda: ip, "ipV4": lambda: v4,
            "time": lambda: _fmt_epoch_s(ts, spec.get("format", "yyyy-MM-dd HH:mm:ss")),
            "timestamp_ms": lambda: X.cast_long(ts * 1000),
            "timestamp_s": lambda: X.cast_long(ts)}
    return {f: cols[f]() for f in keep}


def s_browser(spec, ctx):
    return pick_weighted(ctx.i, ctx.salt("browser"), V.BROWSERS, V.BROWSER_WEIGHTS)


def s_os(spec, ctx):
    return pick_weighted(ctx.i, ctx.salt("os"), V.OSES, V.OS_WEIGHTS)


def s_imei(spec, ctx):
    """ImeiSampler.java: 14 digits + Luhn check digit.

    Two 31-bit draws supply 7 decimal digits each (bias < 0.5% per
    digit); the Luhn sum is pure integer algebra over the same draws,
    and the digit string is two zero-padded 7-digit numbers — no
    per-digit string work, no hashing, fully codegen'd."""
    # NOTE: the two draws are referenced ~24 times across the Luhn sum
    # and digit blocks — inline that cost ~4.5 s of Catalyst ANALYZER
    # time on the duplicated subtrees (steady-state execution is
    # 0.3 s).  X.bind (HOF lambda) was WORSE at runtime: a lambda body
    # is interpreted per row (HOFs sit outside whole-stage codegen),
    # measured 0.3 s -> 4.3 s on 2M rows.  ctx.bind_col is the right
    # tool: the draws become projected helper columns (analyzed once),
    # and whole-stage codegen fuses the projection back into the same
    # stage — 4.5 s -> ~0.1 s driver time, runtime unchanged.
    h1 = ctx.bind_col("imei_a", mix(ctx.i, ctx.salt("imei_a")))
    h2 = ctx.bind_col("imei_b", mix(ctx.i, ctx.salt("imei_b")))
    total = None
    for j in range(14):
        h = h1 if j < 7 else h2
        d = X.idiv(h, 10 ** (j % 7)) % 10
        if j % 2 == 1:  # Luhn: double every 2nd digit, then digit-sum
            dd = d * 2
            term = X.idiv(dd, 10) + dd % 10
        else:
            term = d
        total = term if total is None else total + term
    check = (X.lit(10) - (total % 10)) % 10
    # digit j of the IMEI is digit j%7 (LEAST-significant first) of h;
    # printing must match: reverse each 7-digit block string-wise
    return X.concat(X.reverse(X.lpad(h1 % 10_000_000, 7, "0")),
                    X.reverse(X.lpad(h2 % 10_000_000, 7, "0")),
                    X.cast_string(check))


def s_phone(spec, ctx):
    """PhoneNumber.java processor schema: join/sequence of 3 ints."""
    ac = spec.get("area_code")
    area = X.lit(str(ac)) if ac else X.cast_string(uint(ctx.i, ctx.salt("pa"), 100, 1000))
    mid = uint(ctx.i, ctx.salt("pm"), 100, 1000)
    last = uint(ctx.i, ctx.salt("pl"), 1000, 10000)
    return X.concat(area, "-", X.cast_string(mid), "-", X.cast_string(last))


def s_vector(spec, ctx):
    """VectorSampler.java: array of doubles.

    Parameter parity: uniform [min,max) OR normal (mean/sd with min/max
    clamps); `transform` exp|log applied after sampling (the reference
    samples in inverse-transformed space); `resolution` snaps to the
    nearest multiple (half-up — Math.rint's half-even differs between
    libm/JVM, so we use the deterministic floor(x/r+0.5)*r in both
    engines); `length` aliases `size`."""
    size = int(spec.get("size", spec.get("length", 8)))
    mean = spec.get("mean")
    xform = spec.get("transform")
    res = spec.get("resolution")
    if xform not in (None, "exp", "log"):
        raise ValueError('vector transform must be "exp" or "log"')

    if xform or res is not None or mean is not None:
        # value table computed in Python (quantile → clamp → transform
        # → snap), so the runtime plan is one pick per element and no
        # engine-local libm is involved
        K = 4096
        if mean is not None:
            from statistics import NormalDist
            nd = NormalDist()
            sd = float(spec.get("sd", 1.0))
            base = [nd.inv_cdf((k + 0.5) / K) * sd + float(mean) for k in range(K)]
            if spec.get("min") is not None:
                base = [max(v, float(spec["min"])) for v in base]
            if spec.get("max") is not None:
                base = [min(v, float(spec["max"])) for v in base]
        else:
            lo = float(spec.get("min", 0.0))
            hi = float(spec.get("max", 1.0))
            base = [(k + 0.5) / K * (hi - lo) + lo for k in range(K)]
        if xform == "exp":
            base = [math.exp(v) for v in base]
        elif xform == "log":
            base = [math.log(v) for v in base]
        if res is not None:
            r = float(res)
            base = [math.floor(v / r + 0.5) * r for v in base]
        base = [round(v, 9) for v in base]
        items = [X.element(uint(ctx.i, ctx.salt("vec", j), 0, K), base)
                 for j in range(size)]
    else:
        lo = float(spec.get("min", 0.0))
        hi = float(spec.get("max", 1.0))
        items = [u01(ctx.i, ctx.salt("vec", j)) * (hi - lo) + lo
                 for j in range(size)]
    return X.array(items)


def s_random_walk(spec, ctx):
    """RandomWalkSampler.java: value_i = start + Σ_{k<=i} N(mean, sd).

    Needs a running sum ⇒ expressed as a window cumsum.  NOTE (scale):
    an unpartitioned ORDER BY i window is a single-reducer pattern; at
    cluster scale supply `key` in the spec to partition the walk, or
    prefer `sequence`-embedded walks (per-row arrays).
    """
    start = float(spec.get("start", 0.0))
    mean = float(spec.get("mean", 0.0))
    sd = float(spec.get("sd", 1.0))
    # steps quantized to integer units of 10^-precision: the windowed
    # SUM is then exact integer arithmetic, immune to the engines'
    # different float-summation orders (DuckDB: segment tree; Spark:
    # sequential) — the one place a cumsum could drift a ulp
    p = int(spec.get("precision", 6))
    unit = 10 ** p
    tbl = [int(round((q * sd + mean) * unit)) for q in _n01_table()]
    step = X.element(uint(ctx.i, ctx.salt("rw"), 0, _N01_TABLE_SIZE), tbl)

    cum = D(f"CAST(SUM({step.s}) OVER (ORDER BY i ROWS UNBOUNDED "
            f"PRECEDING) AS BIGINT)",
            f"SUM({step.ss}) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)")
    return (X.cast_double(cum) + float(start * unit)) / float(unit)


def s_changer(spec, ctx):
    """Changer.java: value that changes every `every` rows (slowly
    changing dimension) — keyed off i // every, stateless."""
    every = int(spec.get("every", 10))
    sub = dict(spec.get("value", {"class": "word"}))
    block = X.cast_long(X.idiv(ctx.i, every))
    return compile_field(sub, Ctx(block, ctx.seed, ctx.path + ".changer",
                                  ctx.lets))


def s_long_tail(spec, ctx):
    """LongTailSampler/ChineseRestaurant.java: Pitman–Yor long-tail ids,
    approximated by a Zipf(alpha) multinomial over a capped universe —
    same head-heavy shape, fully stateless."""
    alpha = float(spec.get("alpha", 1.0))
    universe = int(spec.get("universe", 10000))
    table = quantize_weights(list(range(universe)),
                             [math.pow(k + 1.0, -alpha) for k in range(universe)],
                             table_size=8192)
    return X.cast_long(X.element(uint(ctx.i, ctx.salt("lt"), 0, 8192), table))


def s_bursty(spec, ctx):
    """BurstyEvents.java: event times clustered into on/off bursts."""
    burst_len = int(spec.get("burst", 20))
    gap_s = float(spec.get("gap", 3600.0))
    within_s = float(spec.get("within", 1.0))
    start_s = int(spec.get("start_epoch", EPOCH_2013_08_01_S))
    b = X.idiv(ctx.i, burst_len)            # burst number
    off = ctx.i % burst_len                 # position within burst
    jit = u01(ctx.i, ctx.salt("burst"))
    t = (X.cast_double(b) * gap_s + X.cast_double(off) * within_s + jit)
    return X.cast_long(X.floor(t)) + start_s


_VIN_ALPHABET = "0123456789ABCDEFGHJKLMNPRSTUVWXYZ"  # no I,O,Q
_VIN_VALUES = {c: v for c, v in zip(_VIN_ALPHABET,
               [0, 1, 2, 3, 4, 5, 6, 7, 8, 9,        # 0-9
                1, 2, 3, 4, 5, 6, 7, 8,              # A-H
                1, 2, 3, 4, 5, 7, 9,                 # J-N, P, R
                2, 3, 4, 5, 6, 7, 8, 9])}            # S-Z
_VIN_WEIGHTS = [8, 7, 6, 5, 4, 3, 2, 10, 0, 9, 8, 7, 6, 5, 4, 3, 2]
# VinSampler.computeYearCode: index = year - 1980 into this cycle
_VIN_YEAR_CODES = "ABCDEFGHJKLMNPRSTVWXY123456789ABCDEFGHJK"
_VIN_WMIS = [  # (wmi, make) — VinSampler's documented make set
    ("1FA", "ford"), ("1GC", "chevrolet"), ("1G1", "chevrolet"),
    ("1GM", "gm"), ("WBA", "bmw"), ("WBS", "bmw"), ("3VW", "vw"),
    ("WAU", "audi"), ("JA3", "mitsubishi"), ("JF1", "subaru"),
    ("JM1", "mazda"), ("JHM", "honda"), ("1HG", "honda"),
    ("JT2", "toyota"), ("2T1", "toyota"), ("KMH", "hyundai"),
    ("KNA", "kia"), ("1N4", "nissan"), ("JN1", "nissan"),
    ("ZFF", "ferrari"), ("SAJ", "jaguar"), ("SCE", "delorean"),
    ("1C3", "chrysler"), ("5YJ", "tesla"),
]
_VIN_COUNTRIES = {  # VinSampler.setCountries country → makes (approx fill())
    "us": {"ford", "chevrolet", "gm", "tesla", "chrysler", "delorean"},
    "ca": {"ford", "chevrolet", "gm"},
    "de": {"bmw", "vw", "audi"},
    "jp": {"mitsubishi", "subaru", "mazda", "honda", "toyota", "nissan"},
    "kr": {"hyundai", "kia"},
    "uk": {"jaguar"},
    "eu": {"bmw", "vw", "audi", "ferrari", "jaguar"},
}
_VIN_COUNTRIES["north_america"] = _VIN_COUNTRIES["us"] | _VIN_COUNTRIES["ca"]
_VIN_PLANTS = ["5", "V", "G", "M", "F", "A", "B", "C"]  # fordPlantCodes + bmw-ish


def _vin_gibberish(tag: str, length: int) -> str:
    """Deterministic stand-in for VinSampler.gibberish (model codes)."""
    h = salt_of("vin-model", tag)
    out = []
    for _ in range(length):
        h = (h * 48271 + 11) % M31
        out.append(_VIN_ALPHABET[h % 33])
    return "".join(out)


def s_vin(spec, ctx):
    """VinSampler.java: structured 17-char VIN.

    The reference composes WMI (restricted make set) + restraint +
    model codes, a year code (computeYearCode: 1980-indexed cycle), a
    plant code, and a **sequential** 6-digit serial
    (``sequenceCounter.incrementAndGet()``), then fixes the ISO 3779
    check digit at position 9 (addCheckDigit).  We precompute the
    (front8, partial-checksum) table at compile time so the runtime
    plan is 3 table picks + integer digit algebra over the row index —
    no per-character draws.  Params: ``makes``, ``countries``,
    ``years`` ("1990-2014" or comma list), ``verbose``.
    """
    makes_f = {m.strip().lower() for m in str(spec.get("makes", "")).split(",") if m.strip()}
    if spec.get("countries") or spec.get("country"):
        cs = str(spec.get("countries") or spec.get("country"))
        allowed = set()
        for c in cs.split(","):
            allowed |= _VIN_COUNTRIES.get(c.strip().lower(), set())
        makes_f = (makes_f & allowed) if makes_f else allowed
    wmis = [(w, m) for w, m in _VIN_WMIS if not makes_f or m in makes_f]
    if not wmis:
        raise ValueError("vin sampler: no makes match the constraints")

    fronts, sums, make_names = [], [], []
    for wmi, make in wmis:
        for r in "ABCD":                       # restraint codes
            for t in range(4):                 # model codes per make
                front = wmi + r + _vin_gibberish(f"{make}:{t}", 4)
                fronts.append(front)
                sums.append(sum(_VIN_VALUES[c] * _VIN_WEIGHTS[p]
                                for p, c in enumerate(front)))
                make_names.append(make)

    years = []
    for part in str(spec.get("years", "1990-2014")).split(","):
        part = part.strip()
        if "-" in part[1:]:
            lo, hi = part.split("-")
            years.extend(range(int(lo), int(hi) + 1))
        elif part:
            years.append(int(part))
    years = [y for y in years if 1980 <= y <= 2019]
    if not years:
        raise ValueError("vin sampler: no legal years")
    ycodes = [_VIN_YEAR_CODES[y - 1980] for y in years]

    kf = uint(ctx.i, ctx.salt("vin_f"), 0, len(fronts))
    ky = uint(ctx.i, ctx.salt("vin_y"), 0, len(years))
    kp = uint(ctx.i, ctx.salt("vin_p"), 0, len(_VIN_PLANTS))
    seq = (ctx.i + 1) % 1000000                # sequenceCounter analogue

    total = (X.element(kf, sums)
             + X.element(ky, [_VIN_VALUES[c] for c in ycodes]) * _VIN_WEIGHTS[9]
             + X.element(kp, [_VIN_VALUES[c] for c in _VIN_PLANTS]) * _VIN_WEIGHTS[10])
    for j in range(6):                         # serial digit j → weight j+2
        total = total + (X.idiv(seq, 10 ** j) % 10) * (j + 2)

    vin = X.bind(total % 11, lambda rem: X.concat(
        X.element(kf, fronts),
        X.when_chain([(rem.eq(10), X.lit("X"))], X.cast_string(rem)),
        X.element(ky, ycodes),
        X.element(kp, _VIN_PLANTS),
        X.lpad(seq, 6, "0")))
    if spec.get("verbose"):
        return {"VIN": vin,
                "manufacturer": X.element(kf, make_names),
                "year": X.cast_long(X.element(ky, years))}
    return vin


def s_license_plate(spec, ctx):
    letters = [X.element(uint(ctx.i, ctx.salt("lp", j), 0, 26),
                         list("ABCDEFGHIJKLMNOPQRSTUVWXYZ")) for j in range(3)]
    num = uint(ctx.i, ctx.salt("lpn"), 0, 10000)
    return X.concat(letters[0], letters[1], letters[2], "-", X.lpad(num, 4, "0"))


def s_header(spec, ctx):
    """HeaderSampler.java: a full HTTP request-header text blob.

    ``type`` selects the template — normal, mal1 (identity encoding),
    mal2 (blank encoding), mal3 (lowercase header names), ababil
    (fixed IE6 UA, fr) — and ``prolog`` prefixes the blob, mirroring
    the reference's freemarker templates (resources/web-headers/*).
    """
    htype = str(spec.get("type", "normal")).lower()
    if htype not in ("normal", "mal1", "mal2", "mal3", "ababil"):
        raise ValueError(f"header type must be normal/mal1/mal2/mal3/ababil, got {htype!r}")

    def url(tag: str, image: D | None) -> D:
        path = uint(ctx.i, ctx.salt("hu", tag), 0, 1_000_000)
        hx = uint(ctx.i, ctx.salt("hx", tag), 0, 0x1_000_000)
        hex6 = X.lpad(X.hex_lower(hx), 6, "0")
        ext = (X.when_chain([(image.eq(1), X.lit(".jpg"))], X.lit(".html"))
               if image is not None else X.lit(".html"))
        return X.concat("http://foo.bar.com/", X.lpad(path, 6, "0"), "/", hex6, ext)

    is_img = X.cast_long(u01(ctx.i, ctx.salt("himg")) < 0.3)
    host = X.concat("x", X.lpad(uint(ctx.i, ctx.salt("hh"), 0, 5), 3, "0"), ".foo.com")
    accept = X.when_chain(
        [(is_img.eq(1), X.lit("image/png,image/*;q=0.8,*/*;q=0.5"))],
        X.lit("text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8"))
    if htype == "ababil":
        ua = X.lit("Mozilla/4.0 (compatible; MSIE 6.0; Windows NT 5.1;)")
        lang = X.lit("fr")
    else:
        fams = [f for f, _ in V.HEADER_BROWSER_WEIGHTS]
        ws = [float(w) for _, w in V.HEADER_BROWSER_WEIGHTS]
        fam = pick_weighted(ctx.i, ctx.salt("hbr"), list(range(len(fams))), ws)
        uas = [pick(ctx.i, ctx.salt("hua", f), V.UA_BY_BROWSER[f]) for f in fams]
        ua = X.when_chain([(fam.eq(j), uas[j]) for j in range(len(fams) - 1)],
                          uas[-1])
        lg = pick(ctx.i, ctx.salt("hlg"), V.LANGUAGES)
        lang = X.concat(lg, "-", X.upper(lg), ",", lg, ";q=0.5")
    if htype == "mal1":
        enc = X.lit("identity")
    elif htype == "mal2":
        enc = X.lit("             ")
    else:
        enc = pick(ctx.i, ctx.salt("hen"), ["gzip", "deflate", "gzip, deflate"])
    referer = url("ref", None)

    if htype == "ababil":
        body = X.concat("GET ", url("u", is_img), "\nHost: ", host,
                        "\nUser-Agent: ", ua,
                        "\nAccept-Encoding: deflate\nAccept-Charset: UTF-8"
                        "\nAccept-Language: fr\nCache-Control: no-cache"
                        "\nPragma: no-cache\nConnection: Keep-Alive")
    else:
        lc = htype == "mal3"  # mal3 template lowercases header names
        def h(name: str) -> str:
            return name.lower() if lc else name
        body = X.concat(
            "GET ", url("u", is_img), " HTTP/1.1\n",
            h("Host") + ": ", host, "\n",
            h("User-Agent") + ": ", ua, "\n",
            h("Accept") + ": ", accept, "\n",
            h("Accept-Language") + ": ", lang, "\n",
            h("Accept-Encoding") + ": ", enc, "\n",
            h("Referer") + ": ", referer, "\n",
            h("Connection") + ": keep-alive\n",
            h("If-None-Match") + ': "v9”\n',
            h("Cache-Control") + ": max-age=0")
    prolog = spec.get("prolog")
    return X.concat(X.lit(str(prolog)), body) if prolog else body


def s_toll(spec, ctx):
    return {
        "booth": X.cast_long(uint(ctx.i, ctx.salt("booth"), 1, 200)),
        "plate": s_license_plate(spec, ctx),
        "amount": X.round_(u01(ctx.i, ctx.salt("amt")) * 12.0 + 0.5, 2),
        "time": s_event({"rate": spec.get("rate", "10/s"),
                         "format": "yyyy-MM-dd HH:mm:ss"}, ctx),
    }


MAX_SEQUENCE_LEN = 64  # expression-size cap; longer hierarchies should
# use the grid synthesizers (synthesizers.py: index-arithmetic rows)


def _seq_elements(base: dict, ctx, n: int):
    """Compile `n` positional draws of `base`.

    random-walk bases accumulate across *positions* (the reference
    walks within one record's sequence) — cumulative sums share the
    step subtrees, so the Spark Column DAG stays O(n)."""
    if base.get("class") == "random-walk":
        start = float(base.get("start", 0.0))
        mean = float(base.get("mean", 0.0))
        sd = float(base.get("sd", 1.0))
        prec = base.get("precision")
        out, cum = [], None
        for j in range(n):
            step = _normal01(ctx.child(f"[{j}]")) * sd + mean
            cum = step if cum is None else cum + step
            v = cum + start
            out.append(X.round_(v, int(prec)) if prec is not None else v)
        return out
    return [compile_field(dict(base), ctx.child(f"[{j}]")) for j in range(n)]


def s_sequence(spec, ctx):
    """SequenceSampler.java: array-valued field.

    - `array`: one draw per sub-spec (heterogeneous positions),
    - `base` + `length`: fixed-length homogeneous array,
    - `base` + `lengthDistribution`: exponential-mean random length
      (built as slice of a max-length array — per-row, no state),
    - map bases → array<struct>; with `flat: true` → parallel arrays
      per sub-field (struct-of-arrays, SequenceSampler.setFlat).
    """
    if "array" in spec:
        items = []
        for j, sub in enumerate(spec["array"]):
            items.append(_scalar(compile_field(dict(sub), ctx.child(f"[{j}]"))))
        return X.array([X.cast_string(it) for it in items])
    base = dict(spec.get("base", {"class": "int"}))
    if "length" in spec:
        n, ln_ = int(spec["length"]), None
    else:
        mean = float(spec.get("lengthDistribution", 5))
        n = max(1, min(int(mean * 4), MAX_SEQUENCE_LEN))
        e = _d_exponential(ctx.i, ctx.salt("seqlen"), mean)
        ln_ = (X.cast_long(X.floor(e)) % n) + 1
    if n > MAX_SEQUENCE_LEN:
        raise ValueError(
            f"sequence length {n} > {MAX_SEQUENCE_LEN}: use the grid "
            "synthesizers (synthesizers.py) for deep hierarchies")

    def _slice(arr: D) -> D:
        if ln_ is None:
            return arr
        return D(f"LIST_SLICE({arr.s}, 1, CAST({ln_.s} AS BIGINT))",
                 f"slice({arr.ss}, 1, CAST({ln_.ss} AS INT))")

    items = _seq_elements(base, ctx, n)
    if items and isinstance(items[0], dict):
        if spec.get("flat"):
            return {k: _slice(X.array([it[k] for it in items]))
                    for k in items[0]}
        return _slice(X.array([X.struct_(it) for it in items]))
    return _slice(X.array([_scalar(it) for it in items]))


def s_map(spec, ctx):
    out = {}
    for sub in spec.get("value", []):
        sub = dict(sub)
        nm = sub.get("name", sub.get("class"))
        r = compile_field(sub, ctx.child(nm))
        if isinstance(r, dict):
            out.update(r)
        else:
            out[nm] = r
    return out


def s_flatten(spec, ctx):
    prefix = spec.get("prefix")
    sub = dict(spec["value"])
    inner_name = sub.get("name", sub.get("class", "v"))
    r = compile_field(sub, ctx.child(inner_name))
    if not isinstance(r, dict):
        return {inner_name: r}
    if prefix is None:
        prefix = inner_name + "_"
    return {f"{prefix}{k}": v for k, v in r.items()}


def s_join(spec, ctx):
    sep = spec.get("separator", ",")
    sub = dict(spec["value"])
    r = compile_field(sub, ctx.child("join"))
    arr = _scalar(r)
    return D(f"ARRAY_TO_STRING({arr.s}, '{sep}')",
             f"concat_ws({_spark_sq(sep)}, {arr.ss})")


def _scalar(r) -> D:
    if isinstance(r, dict):
        # struct-valued sub-sampler inside an array/join: stringify
        parts = []
        for k, v in r.items():
            parts.append(X.cast_string(v))
        return _join_str(parts, ",")
    return r


def s_array_flatten(spec, ctx):
    """ArrayFlattener.java: flatten one nesting level of the delegate
    sampler's array-of-arrays output."""
    sub = dict(spec["value"])
    r = compile_field(sub, ctx.child("flat"))
    arr = _scalar(r)
    return D(f"flatten({arr.s})", f"flatten({arr.ss})")


_LOOKUP_MAX = 100_000


def s_lookup(spec, ctx):
    """FileSampler.java: uniform sample from an external file's rows.

    The file (parquet/csv/json — DuckDB reads all three) is loaded
    ONCE at schema-compile time and embedded as a plan literal, so
    generation stays shuffle-free and the oracle replays it exactly.
    Spec: ``file`` + optional ``field`` (default: first column), or an
    inline ``values`` list.  For dimensions beyond {_LOOKUP_MAX} rows
    use synthesizers.correlate (broadcast join) instead.
    """
    if "values" in spec:
        vals = list(spec["values"])
    else:
        import duckdb
        path = spec["file"]
        rel = duckdb.sql(f"SELECT * FROM '{path}'")
        col = spec.get("field") or rel.columns[0]
        vals = [r[0] for r in
                duckdb.sql(f"SELECT \"{col}\" FROM '{path}' "
                           f"LIMIT {_LOOKUP_MAX}").fetchall()]
    if not vals:
        raise ValueError("lookup sampler: empty value set")
    skew = int(spec.get("skew", 0))
    if skew:  # FileSampler.setSkew: min (max if negative) of several picks
        draws = [uint(ctx.i, ctx.salt("lookup", j), 0, len(vals))
                 for j in range(abs(skew) + 1)]
        idx = X.least(draws) if skew > 0 else X.greatest(draws)
        return X.element(idx, vals)
    return pick(ctx.i, ctx.salt("lookup"), vals)


def _epoch_utc(datestr: str) -> int:
    import datetime as dt
    d = dt.datetime.strptime(datestr, "%Y-%m-%d %H:%M:%S")
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp())


def _flag(cond: D) -> D:
    return X.when_chain([(cond, X.lit(1))], X.lit(0))


def s_cpoc(spec, ctx):
    """CommonPointOfCompromise.java: per-user card-fraud event history.

    Reference model (samplers/CommonPointOfCompromise.java:36-100):
    each user transacts at long-tailed merchants (merchant 0 = ATM)
    over [start, end); users who hit the ATM during the compromise
    window become vulnerable; during the exploit window their
    transactions are fraud-flagged at `compromisedFraudRate` (vs a
    background rate).  Stateless re-expression: the Poisson arrival
    times are drawn as independent uniforms (order statistics of
    uniforms ≡ Poisson arrivals given the count), the per-user count
    from an Erlang(2) daily rate, and the Pitman–Yor merchant draw as
    a quantized Zipf table — everything a pure function of (row, salt)
    and O(maxTransactions) expression size.

    Emits the per-user *random draws* (n_tx + parallel ts/merchant/roll
    arrays); the derived labels (compromise, user vulnerability, fraud)
    are deterministic functions of these draws computed once per
    column in synthesizers.cpoc_events — keeping the compiled
    expression O(maxTransactions) instead of O(maxTransactions²).
    """
    K = int(spec.get("maxTransactions", 16))
    start = _epoch_utc(spec.get("start", "2014-01-01 00:00:00"))
    end = _epoch_utc(spec.get("end", "2014-02-15 00:00:00"))
    days = (end - start) / 86400.0
    span = end - start

    # per-user daily transaction rate ~ Erlang(2) (mean 2/day, like
    # the reference's Gamma(2,1) transactionsPerDay)
    rate = (_d_exponential(ctx.i, ctx.salt("r0"), 1.0)
            + _d_exponential(ctx.i, ctx.salt("r1"), 1.0))
    raw_n = X.cast_long(X.floor(rate * days))
    n_tx = X.when_chain([(raw_n > K, X.lit(K))], raw_n)

    # Pitman–Yor merchant popularity (ChineseRestaurant(100, 0.3)) ≈
    # quantized Zipf over 100 merchants; merchant 0 = the ATM
    zipf = quantize_weights(list(range(100)),
                            [math.pow(k + 1.0, -1.2) for k in range(100)],
                            table_size=4096)
    times, merchs, rolls = [], [], []
    for j in range(K):
        times.append(X.cast_long(X.floor(
            u01(ctx.i, ctx.salt("t", j)) * float(span))) + start)
        merchs.append(X.cast_long(
            X.element(uint(ctx.i, ctx.salt("m", j), 0, 4096), zipf)))
        rolls.append(u01(ctx.i, ctx.salt("f", j)))
    return {
        "n_tx": n_tx,
        "ts": X.array(times),
        "merchant": X.array(merchs),
        "roll": X.array(rolls),
    }


def s_vehicle(spec, ctx):
    """AutoCertification.java ('vehicle'): car certification record —
    VIN, manufacturer, model year, license plate, certification
    expiration date."""
    makes = ["Ford", "BMW", "Toyota", "Honda", "Chevrolet",
             "Nissan", "Volkswagen", "Hyundai"]
    y0, _, y1 = str(spec.get("years", "1990-2014")).partition("-")
    lo, hi = int(y0), int(y1 or y0)
    year = uint(ctx.i, ctx.salt("vy"), lo, hi + 1)
    exp = s_date({"format": "yyyy-MM-dd",
                  "start": "2013-01-01", "end": "2016-01-01"}, ctx.child("exp"))
    return {
        "VIN": s_vin(spec, ctx),
        "manufacturer": pick(ctx.i, ctx.salt("vmake"), makes),
        "year": X.cast_long(year),
        "license": s_license_plate(spec, ctx),
        "expiration": exp,
    }


def s_commuter(spec, ctx):
    """drive/Commuter.java ('commuter'): per-driver commute summary +
    parallel trip arrays (start time, distance, duration).

    The reference simulates each GPS point imperatively; the
    column-algebra class emits the per-trip summary draws (home/work
    zip, per-trip start/distance/speed), while the full GPS trail
    simulation lives in synthesizers.commuter_data (applyInPandas) —
    the Spark-first split between per-row algebra and genuinely
    imperative simulation."""
    K = int(spec.get("maxTrips", 8))
    home = s_zip({}, ctx.child("home"))
    commute_km = u01(ctx.i, ctx.salt("ckm")) * 40.0 + 2.0
    starts, kms, mins = [], [], []
    for j in range(K):
        day_s = X.cast_long(X.floor(
            u01(ctx.i, ctx.salt("ts", j)) * 86400.0))
        starts.append(day_s + EPOCH_2013_08_01_S + j * DAY_S)
        km = commute_km * (u01(ctx.i, ctx.salt("kj", j)) * 0.2 + 0.9)
        kms.append(km)
        speed = u01(ctx.i, ctx.salt("sp", j)) * 40.0 + 30.0  # km/h
        mins.append(km / speed * 60.0)
    return {
        "home_zip": home["zip"],
        "home_lat": home["latitude"],
        "home_lon": home["longitude"],
        "commute_km": commute_km,
        "n_trips": X.cast_long(uint(ctx.i, ctx.salt("nt"), 1, K + 1)),
        "trip_start": X.array(starts),
        "trip_km": X.array(kms),
        "trip_minutes": X.array(mins),
    }


REGISTRY = {
    "id": s_id,
    "int": s_int,
    "integer": s_int,
    "double": s_double,
    "normal": s_normal,
    "gamma": s_gamma,
    "string": s_string,
    "word": s_word,
    "text": s_text,
    "name": s_name,
    "street-name": s_street_name,
    "address": s_address,
    "state": s_state,
    "country": s_country,
    "language": s_language,
    "zip": s_zip,
    "date": s_date,
    "event": s_event,
    "foreign-key": s_foreign_key,
    "uuid": s_uuid,
    "ssn": s_ssn,
    "ipv4": s_ipv4,
    "ip": s_ipv4,
    "mac": s_mac,
    "email": s_email,
    "email-name": s_email,
    "username": s_username,
    "domain": s_domain,
    "dns": s_dns,
    "browser": s_browser,
    "os": s_os,
    "imei": s_imei,
    "phone": s_phone,
    "vector": s_vector,
    "random-walk": s_random_walk,
    "changer": s_changer,
    "long-tail": s_long_tail,
    "pitman-yor": s_long_tail,
    "pitman_yor": s_long_tail,
    "bursty-events": s_bursty,
    "bursts": s_bursty,
    "vin": s_vin,
    "license-plate": s_license_plate,
    "header": s_header,
    "toll": s_toll,
    "sequence": s_sequence,
    "map": s_map,
    "flatten": s_flatten,
    "join": s_join,
    "array-flatten": s_array_flatten,
    "lookup": s_lookup,
    "file": s_lookup,
    "common-point-of-compromise": s_cpoc,
    "vehicle": s_vehicle,
    "commuter": s_commuter,
}


def compile_field(spec: dict, ctx: Ctx):
    cls = spec.get("class")
    if cls not in REGISTRY:
        raise ValueError(f"unknown sampler class: {cls!r}")
    return REGISTRY[cls](spec, ctx)
