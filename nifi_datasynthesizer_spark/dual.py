"""Dual-backend expression values.

A :class:`D` carries the same scalar expression twice: as a Spark-SQL
string (parsed ONCE per output column via ``F.expr`` — executed by
Catalyst/Tungsten, JVM-side, codegen-friendly) and as a
DuckDB-compatible ANSI SQL string (used to build the ``oracle_sql()``
mirrors the driver replays).  Every sampler in this engine is written
once against this algebra, which is what makes schema-driven synthetic
generation *oracle checkable*: the Spark plan and the DuckDB query
compute bit-identical values because both sides only use integer
arithmetic, IEEE-754 double arithmetic in the same order, and shared
string builtins.

Why strings and not ``pyspark.sql.Column`` composition: every Column
operator is a py4j round-trip.  A 13-field identifier schema builds a
~50k-node expression tree — composing it as Columns costs 4-5 s of
pure driver time *per plan*, which at cluster scale (many submitted
plans) is driver-bound, not executor-bound.  Rendering each column as
one SQL string and parsing it JVM-side drops that to milliseconds.
A legacy *thunk mode* (``cf`` = zero-arg Column builder) remains for
the few constructs that need the Column API (window cumsums bound to
foreign frames, higher-order folds built with Python lambdas); any
composition touching a thunk-mode input falls back to Column
composition transparently.

Only operations with identical semantics in both engines are exposed.
Notably:

- integer ``%`` is only used on non-negative operands,
- integer division is expressed as ``floor(a / b)`` and only applied to
  values < 2**52 so the double round-trip is exact,
- ``floor`` is cast back to BIGINT on the DuckDB side (DuckDB's floor
  returns DOUBLE, Spark's returns LONG),
- numeric literals are suffixed on the Spark side (``L``/``D``) so the
  parser never lands on INT or DECIMAL types with different overflow /
  rounding behavior,
- timestamps are never formatted through engine-local timezone logic;
  date strings are built arithmetically from epoch-day counts.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sq(s: str) -> str:
    """Quote a python string as an ANSI (DuckDB) string literal."""
    return "'" + s.replace("'", "''") + "'"


def _spark_sq(s: str) -> str:
    """Spark-SQL string literal (backslash escaping, unlike ANSI '')."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _fmt_num(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # repr() is shortest round-trip.  ALWAYS exponent notation on
        # the SQL side: DuckDB parses a bare `1.234` as DECIMAL and
        # converts — which can land 1 ulp away from the correctly
        # rounded double — while `1.234e0` parses directly as DOUBLE.
        r = repr(v)
        if "inf" in r or "nan" in r:
            return r
        if "e" not in r and "E" not in r:
            r += "e0"
        return r
    raise TypeError(f"not a number: {v!r}")


def _spark_num(v) -> str:
    """Spark-SQL numeric literal with an explicit type suffix: ``L``
    forces BIGINT (bare ints parse as INT and can overflow in
    products), ``D`` forces DOUBLE (bare decimals parse as DECIMAL)."""
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v) + "L"
    return _fmt_num(v) + "D"


class D:
    """A dual (Spark SQL, DuckDB SQL) expression.

    String mode (``cf is None``): both sides are SQL text; composition
    is pure string building — zero py4j traffic until ``.c`` parses the
    finished column once.  Thunk mode (``cf`` = Column or zero-arg
    builder): the Spark side is a lazy Column; used only where the
    Column API is genuinely needed.  Either way the DuckDB side ``s``
    is always a string, so oracle SQL compiles without Spark.
    """

    __slots__ = ("cf", "s", "ss", "_cc")

    def __init__(self, cf, s: str, ss: str | None = None):
        if cf is None and ss is None:
            raise ValueError("string-mode D needs a Spark SQL string")
        self.cf = None if cf is None else (cf if callable(cf) else (lambda: cf))
        self.s = s
        self.ss = ss
        self._cc = None

    @property
    def c(self) -> Column:
        # Memoized: a Column is an immutable JVM expression handle, and
        # samplers share subtrees heavily (cumulative chains, reused
        # draws) — thunk-mode rebuilds would be O(tree²) py4j calls.
        if self._cc is None:
            self._cc = F.expr(self.ss) if self.cf is None else self.cf()
        return self._cc

    # -- arithmetic ----------------------------------------------------
    def _bin(self, other: "D | int | float", op: str, fn,
             sop: str | None = None) -> "D":
        o = lit(other) if not isinstance(other, D) else other
        ds = f"({self.s} {op} {o.s})"
        if self.cf is None and o.cf is None:
            return D(None, ds, f"({self.ss} {sop or op} {o.ss})")
        return D(lambda: fn(self.c, o.c), ds)

    def __add__(self, o):
        return self._bin(o, "+", lambda a, b: a + b)

    def __sub__(self, o):
        return self._bin(o, "-", lambda a, b: a - b)

    def __mul__(self, o):
        return self._bin(o, "*", lambda a, b: a * b)

    def __mod__(self, o):
        return self._bin(o, "%", lambda a, b: a % b)

    def __truediv__(self, o):
        # only used with a double operand → double division in both engines
        return self._bin(o, "/", lambda a, b: a / b)

    # -- comparisons (used by when-chains) -----------------------------
    def __lt__(self, o):
        return self._bin(o, "<", lambda a, b: a < b)

    def __le__(self, o):
        return self._bin(o, "<=", lambda a, b: a <= b)

    def __gt__(self, o):
        return self._bin(o, ">", lambda a, b: a > b)

    def __ge__(self, o):
        return self._bin(o, ">=", lambda a, b: a >= b)

    def eq(self, o):
        return self._bin(o, "=", lambda a, b: a == b)

    def xor(self, o: "D") -> "D":
        ds = f"xor({self.s}, {o.s})"
        if self.cf is None and o.cf is None:
            return D(None, ds, f"({self.ss} ^ {o.ss})")
        return D(lambda: self.c.bitwiseXOR(o.c), ds)


def strmode(*ds: D) -> bool:
    """True iff every input composes on the string (zero-py4j) path."""
    return all(d.cf is None for d in ds)


def lit(v) -> D:
    if isinstance(v, D):
        return v
    if isinstance(v, str):
        return D(None, _sq(v), _spark_sq(v))
    return D(None, _fmt_num(v), _spark_num(v))


def floor(d: D) -> D:
    """floor → BIGINT in both engines (Spark's FLOOR already returns
    BIGINT; DuckDB's returns DOUBLE, hence the cast)."""
    ds = f"CAST(FLOOR({d.s}) AS BIGINT)"
    if d.cf is None:
        return D(None, ds, f"FLOOR({d.ss})")
    return D(lambda: F.floor(d.c), ds)


def idiv(a: D, b: int) -> D:
    """Exact integer division for 0 <= a < 2**52."""
    if b > 1 and (b & (b - 1)) == 0:
        return shiftr(a, b.bit_length() - 1)
    return floor(a / float(b))


def band(a: D, mask: int) -> D:
    """Bitwise AND with a constant — replaces ``% 2**k`` on non-negative
    ints (identical result, no division)."""
    ds = f"({a.s} & {mask})"
    if a.cf is None:
        return D(None, ds, f"({a.ss} & {mask}L)")
    return D(lambda: a.c.bitwiseAND(F.lit(mask)), ds)


def shiftr(a: D, bits: int) -> D:
    """Arithmetic right shift — replaces ``// 2**bits`` for a >= 0."""
    ds = f"({a.s} >> {bits})"
    if a.cf is None:
        return D(None, ds, f"SHIFTRIGHT({a.ss}, {bits})")
    return D(lambda: F.shiftright(a.c, bits), ds)


def _f1(name: str, d: D, spark_name: str | None = None) -> D:
    """Same-name single-arg function in both engines."""
    ds = f"{name}({d.s})"
    if d.cf is None:
        return D(None, ds, f"{spark_name or name}({d.ss})")
    fn = getattr(F, (spark_name or name).lower())
    return D(lambda: fn(d.c), ds)


def round_(d: D, n: int) -> D:
    ds = f"ROUND({d.s}, {n})"
    if d.cf is None:
        return D(None, ds, f"ROUND({d.ss}, {n})")
    return D(lambda: F.round(d.c, n), ds)


def _cast(d: D, duck_t: str, spark_t: str, pyt: str) -> D:
    ds = f"CAST({d.s} AS {duck_t})"
    if d.cf is None:
        return D(None, ds, f"CAST({d.ss} AS {spark_t})")
    return D(lambda: d.c.cast(pyt), ds)


def cast_long(d: D) -> D:
    return _cast(d, "BIGINT", "BIGINT", "long")


def cast_int(d: D) -> D:
    return _cast(d, "INTEGER", "INT", "int")


def cast_double(d: D) -> D:
    return _cast(d, "DOUBLE", "DOUBLE", "double")


def cast_string(d: D) -> D:
    return _cast(d, "VARCHAR", "STRING", "string")


def concat(*parts) -> D:
    ds_ = [lit(p) for p in parts]
    sql = "CONCAT(" + ", ".join(d.s for d in ds_) + ")"
    if strmode(*ds_):
        return D(None, sql, "concat(" + ", ".join(d.ss for d in ds_) + ")")
    return D(lambda: F.concat(*[d.c for d in ds_]), sql)


def lpad(d: D, width: int, pad: str) -> D:
    ds = f"LPAD(CAST({d.s} AS VARCHAR), {width}, {_sq(pad)})"
    if d.cf is None:
        return D(None, ds,
                 f"lpad(CAST({d.ss} AS STRING), {width}, {_spark_sq(pad)})")
    return D(lambda: F.lpad(d.c.cast("string"), width, pad), ds)


def least(items: list[D]) -> D:
    if len(items) == 1:
        return items[0]
    sql = "LEAST(" + ", ".join(d.s for d in items) + ")"
    if strmode(*items):
        return D(None, sql, "least(" + ", ".join(d.ss for d in items) + ")")
    return D(lambda: F.least(*[d.c for d in items]), sql)


def greatest(items: list[D]) -> D:
    if len(items) == 1:
        return items[0]
    sql = "GREATEST(" + ", ".join(d.s for d in items) + ")"
    if strmode(*items):
        return D(None, sql, "greatest(" + ", ".join(d.ss for d in items) + ")")
    return D(lambda: F.greatest(*[d.c for d in items]), sql)


def reverse(d: D) -> D:
    return _f1("REVERSE", d)


def lower(d: D) -> D:
    return _f1("LOWER", d)


def upper(d: D) -> D:
    return _f1("UPPER", d)


def substr(d: D, start: int, length: int) -> D:
    ds = f"SUBSTR({d.s}, {start}, {length})"
    if d.cf is None:
        return D(None, ds, f"substr({d.ss}, {start}, {length})")
    return D(lambda: F.substring(d.c, start, length), ds)


def length(d: D) -> D:
    return _f1("LENGTH", d)


def md5(d: D) -> D:
    return _f1("MD5", d)


def hex_lower(d: D) -> D:
    """Integer → lowercase hex string, no leading zeros (Spark ``hex``
    uppercases, DuckDB ``to_hex`` uppercases too — lower both)."""
    ds = f"LOWER(TO_HEX({d.s}))"
    if d.cf is None:
        return D(None, ds, f"lower(hex({d.ss}))")
    return D(lambda: F.lower(F.hex(d.c)), ds)


def hex_to_long(d: D) -> D:
    """Hex string → BIGINT (Spark ``conv(x,16,10)``; DuckDB 0x cast)."""
    ds = f"(('0x' || {d.s})::BIGINT)"
    if d.cf is None:
        return D(None, ds, f"CAST(conv({d.ss}, 16, 10) AS BIGINT)")
    return D(lambda: F.conv(d.c, 16, 10).cast("long"), ds)


def element(idx0: D, values: list) -> D:
    """Pick ``values[idx0]`` (0-based index expr) from a python list.

    Spark: array + element_at (1-based).  A numeric list is ONE string
    literal, ``CAST(split('v1,v2,...', ',') AS ARRAY<DOUBLE|BIGINT>)``:
    the analyzer sees 3 nodes instead of one literal child per value
    (the 8192-entry N(0,1) table alone was 135 KB of SQL that Catalyst
    parsed and analyzed on every build), and ConstantFolding turns it
    into the same array literal at optimize time.  String→DOUBLE casts
    are correctly rounded, like the literal parser, so every value is
    bit-identical to the python float.  Other lists (strings, booleans)
    stay ``array(lit, ...)``.  DuckDB: list literal subscript (1-based).
    """
    if not values:
        raise ValueError("empty value list")
    sql_items = ", ".join(_sq(v) if isinstance(v, str) else _fmt_num(v) for v in values)
    arr_sql = f"ARRAY[{sql_items}]"
    has_float = any(isinstance(v, float) for v in values)
    if has_float:
        # DuckDB infers DECIMAL[] from fixed-point literals; force DOUBLE[]
        # so downstream arithmetic matches Spark's double semantics
        arr_sql = f"CAST({arr_sql} AS DOUBLE[])"
    if all(isinstance(v, (int, float)) and not isinstance(v, bool)
           for v in values):
        # mixed int/float lists widen to DOUBLE, as array() coerces them
        folded = ",".join(_fmt_num(v) for v in values)
        spark_arr = (f"CAST(split('{folded}', ',') AS "
                     f"ARRAY<{'DOUBLE' if has_float else 'BIGINT'}>)")
    else:
        spark_arr = "array(" + ", ".join(
            _spark_sq(v) if isinstance(v, str) else _spark_num(v)
            for v in values) + ")"
    ds = f"({arr_sql})[CAST(({idx0.s} + 1) AS BIGINT)]"
    if idx0.cf is None:
        return D(None, ds,
                 f"element_at({spark_arr}, CAST(({idx0.ss} + 1) AS INT))")
    return D(lambda: F.element_at(F.expr(spark_arr), (idx0.c + 1).cast("int")),
             ds)


def when_chain(pairs: list[tuple[D, D]], otherwise: D) -> D:
    """CASE WHEN cond1 THEN v1 ... ELSE otherwise END."""
    sql = "CASE " + " ".join(f"WHEN {c.s} THEN {v.s}" for c, v in pairs) + \
          f" ELSE {otherwise.s} END"
    flat = [x for cv in pairs for x in cv] + [otherwise]
    if strmode(*flat):
        ssql = "CASE " + " ".join(f"WHEN {c.ss} THEN {v.ss}"
                                  for c, v in pairs) + \
               f" ELSE {otherwise.ss} END"
        return D(None, sql, ssql)

    def build():
        col = None
        for cond, val in pairs:
            col = F.when(cond.c, val.c) if col is None else col.when(cond.c, val.c)
        return otherwise.c if col is None else col.otherwise(otherwise.c)
    return D(build, sql)


def date_from_days(days: D) -> D:
    """Epoch-day count → DATE, timezone-free in both engines."""
    ds = f"(DATE '1970-01-01' + CAST({days.s} AS INTEGER))"
    if days.cf is None:
        return D(None, ds,
                 f"date_add(DATE'1970-01-01', CAST({days.ss} AS INT))")
    return D(lambda: F.date_add(F.to_date(F.lit("1970-01-01")),
                                days.c.cast("int")), ds)


def array(items: list[D]) -> D:
    sql = "ARRAY[" + ", ".join(d.s for d in items) + "]"
    if strmode(*items):
        return D(None, sql, "array(" + ", ".join(d.ss for d in items) + ")")
    return D(lambda: F.array(*[d.c for d in items]), sql)


_BIND_N = 0


def bind(val: D, fn) -> D:
    """Let-binding: evaluate ``val`` ONCE, then apply ``fn`` to it.

    Both engines lack a scalar ``let``; a 1-element-array transform is
    the portable equivalent (the lambda argument is materialized before
    the body runs).  Essential when ``fn`` references its argument many
    times and ``val`` is expensive (md5, big case chains): a plain D
    composition would textually duplicate — and re-evaluate — the
    subtree per reference.  (Whole-stage codegen's subexpression
    elimination would usually rescue the duplicated form, but HOF-free
    plans aren't guaranteed, and the DuckDB side has no CSE.)
    """
    global _BIND_N
    _BIND_N += 1
    var = f"__b{_BIND_N}"  # unique: nested binds must not shadow in SQL

    body = fn(D(None, var, var))
    ds = f"(list_transform([{val.s}], {var} -> {body.s}))[1]"
    if val.cf is None and body.cf is None:
        return D(None, ds,
                 f"element_at(transform(array({val.ss}), "
                 f"{var} -> {body.ss}), 1)")

    def cf():
        def lam(x):
            return fn(D(lambda: x, var)).c
        return F.element_at(F.transform(F.array(val.c), lam), 1)

    return D(cf, ds)


def struct_(fields: dict[str, D]) -> D:
    sql = "struct_pack(" + ", ".join(f"{k} := {d.s}"
                                     for k, d in fields.items()) + ")"
    if strmode(*fields.values()):
        ssql = "named_struct(" + ", ".join(
            f"{_spark_sq(k)}, {d.ss}" for k, d in fields.items()) + ")"
        return D(None, sql, ssql)
    return D(lambda: F.struct(*[d.c.alias(k) for k, d in fields.items()]),
             sql)
