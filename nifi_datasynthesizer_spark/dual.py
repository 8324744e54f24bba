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
Window sums and higher-order folds are SQL text too, so composition
never leaves the string path.

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

import hashlib

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
    """A dual expression: ``s`` is DuckDB SQL text, ``ss`` Spark SQL
    text.  Composition is pure string building — zero py4j traffic
    until ``.c`` parses the finished column once — and oracle SQL
    compiles without Spark.
    """

    __slots__ = ("s", "ss", "_cc")

    def __init__(self, s: str, ss: str):
        self.s = s
        self.ss = ss
        self._cc = None

    @property
    def c(self) -> Column:
        # Memoized: one parse per column however often it is selected.
        if self._cc is None:
            self._cc = F.expr(self.ss)
        return self._cc

    # -- arithmetic ----------------------------------------------------
    def _bin(self, other: "D | int | float", op: str) -> "D":
        o = lit(other)
        return D(f"({self.s} {op} {o.s})", f"({self.ss} {op} {o.ss})")

    def __add__(self, o):
        return self._bin(o, "+")

    def __sub__(self, o):
        return self._bin(o, "-")

    def __mul__(self, o):
        return self._bin(o, "*")

    def __mod__(self, o):
        return self._bin(o, "%")

    def __truediv__(self, o):
        # only used with a double operand → double division in both engines
        return self._bin(o, "/")

    # -- comparisons (used by when-chains) -----------------------------
    def __lt__(self, o):
        return self._bin(o, "<")

    def __le__(self, o):
        return self._bin(o, "<=")

    def __gt__(self, o):
        return self._bin(o, ">")

    def __ge__(self, o):
        return self._bin(o, ">=")

    def eq(self, o):
        return self._bin(o, "=")

    def xor(self, o: "D") -> "D":
        return D(f"xor({self.s}, {o.s})", f"({self.ss} ^ {o.ss})")


def lit(v) -> D:
    if isinstance(v, D):
        return v
    if isinstance(v, str):
        return D(_sq(v), _spark_sq(v))
    return D(_fmt_num(v), _spark_num(v))


def floor(d: D) -> D:
    """floor → BIGINT in both engines (Spark's FLOOR already returns
    BIGINT; DuckDB's returns DOUBLE, hence the cast)."""
    return D(f"CAST(FLOOR({d.s}) AS BIGINT)", f"FLOOR({d.ss})")


def idiv(a: D, b: int) -> D:
    """Exact integer division for 0 <= a < 2**52."""
    if b > 1 and (b & (b - 1)) == 0:
        return shiftr(a, b.bit_length() - 1)
    return floor(a / float(b))


def band(a: D, mask: int) -> D:
    """Bitwise AND with a constant — replaces ``% 2**k`` on non-negative
    ints (identical result, no division)."""
    return D(f"({a.s} & {mask})", f"({a.ss} & {mask}L)")


def shiftr(a: D, bits: int) -> D:
    """Arithmetic right shift — replaces ``// 2**bits`` for a >= 0."""
    return D(f"({a.s} >> {bits})", f"SHIFTRIGHT({a.ss}, {bits})")


def _f1(name: str, d: D, spark_name: str | None = None) -> D:
    """Same-name single-arg function in both engines."""
    return D(f"{name}({d.s})", f"{spark_name or name}({d.ss})")


def round_(d: D, n: int) -> D:
    return D(f"ROUND({d.s}, {n})", f"ROUND({d.ss}, {n})")


def _cast(d: D, duck_t: str, spark_t: str) -> D:
    return D(f"CAST({d.s} AS {duck_t})", f"CAST({d.ss} AS {spark_t})")


def cast_long(d: D) -> D:
    return _cast(d, "BIGINT", "BIGINT")


def cast_int(d: D) -> D:
    return _cast(d, "INTEGER", "INT")


def cast_double(d: D) -> D:
    return _cast(d, "DOUBLE", "DOUBLE")


def cast_string(d: D) -> D:
    return _cast(d, "VARCHAR", "STRING")


def concat(*parts) -> D:
    ds_ = [lit(p) for p in parts]
    return D("CONCAT(" + ", ".join(d.s for d in ds_) + ")",
             "concat(" + ", ".join(d.ss for d in ds_) + ")")


def lpad(d: D, width: int, pad: str) -> D:
    return D(f"LPAD(CAST({d.s} AS VARCHAR), {width}, {_sq(pad)})",
             f"lpad(CAST({d.ss} AS STRING), {width}, {_spark_sq(pad)})")


def least(items: list[D]) -> D:
    if len(items) == 1:
        return items[0]
    return D("LEAST(" + ", ".join(d.s for d in items) + ")",
             "least(" + ", ".join(d.ss for d in items) + ")")


def greatest(items: list[D]) -> D:
    if len(items) == 1:
        return items[0]
    return D("GREATEST(" + ", ".join(d.s for d in items) + ")",
             "greatest(" + ", ".join(d.ss for d in items) + ")")


def reverse(d: D) -> D:
    return _f1("REVERSE", d)


def lower(d: D) -> D:
    return _f1("LOWER", d)


def upper(d: D) -> D:
    return _f1("UPPER", d)


def substr(d: D, start: int, length: int) -> D:
    return D(f"SUBSTR({d.s}, {start}, {length})",
             f"substr({d.ss}, {start}, {length})")


def length(d: D) -> D:
    return _f1("LENGTH", d)


def md5(d: D) -> D:
    return _f1("MD5", d)


def hex_lower(d: D) -> D:
    """Integer → lowercase hex string, no leading zeros (Spark ``hex``
    uppercases, DuckDB ``to_hex`` uppercases too — lower both)."""
    return D(f"LOWER(TO_HEX({d.s}))", f"lower(hex({d.ss}))")


def hex_to_long(d: D) -> D:
    """Hex string → BIGINT (Spark ``conv(x,16,10)``; DuckDB 0x cast)."""
    return D(f"(('0x' || {d.s})::BIGINT)",
             f"CAST(conv({d.ss}, 16, 10) AS BIGINT)")


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
    return D(f"({arr_sql})[CAST(({idx0.s} + 1) AS BIGINT)]",
             f"element_at({spark_arr}, CAST(({idx0.ss} + 1) AS INT))")


def when_chain(pairs: list[tuple[D, D]], otherwise: D) -> D:
    """CASE WHEN cond1 THEN v1 ... ELSE otherwise END."""
    sql = "CASE " + " ".join(f"WHEN {c.s} THEN {v.s}" for c, v in pairs) + \
          f" ELSE {otherwise.s} END"
    ssql = "CASE " + " ".join(f"WHEN {c.ss} THEN {v.ss}" for c, v in pairs) + \
           f" ELSE {otherwise.ss} END"
    return D(sql, ssql)


def date_from_days(days: D) -> D:
    """Epoch-day count → DATE, timezone-free in both engines."""
    return D(f"(DATE '1970-01-01' + CAST({days.s} AS INTEGER))",
             f"date_add(DATE'1970-01-01', CAST({days.ss} AS INT))")


def array(items: list[D]) -> D:
    return D("ARRAY[" + ", ".join(d.s for d in items) + "]",
             "array(" + ", ".join(d.ss for d in items) + ")")


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

    The lambda variable is named after a digest of ``val``, so the
    rendered SQL depends only on the expression.  An inner bind whose
    value reads the outer variable gets another name; one that binds
    the very same text would reuse the name, so the outer variable is
    re-derived until the body binds no lambda of that name.
    """
    var = "__b" + hashlib.sha1(f"{val.s}\0{val.ss}".encode()).hexdigest()[:12]
    body = fn(D(var, var))
    while f"{var} ->" in body.s:
        var = "__b" + hashlib.sha1(var.encode()).hexdigest()[:12]
        body = fn(D(var, var))
    return D(f"(list_transform([{val.s}], {var} -> {body.s}))[1]",
             f"element_at(transform(array({val.ss}), {var} -> {body.ss}), 1)")


def struct_(fields: dict[str, D]) -> D:
    return D("struct_pack(" + ", ".join(f"{k} := {d.s}"
                                        for k, d in fields.items()) + ")",
             "named_struct(" + ", ".join(f"{_spark_sq(k)}, {d.ss}"
                                         for k, d in fields.items()) + ")")
