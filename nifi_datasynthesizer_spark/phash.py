"""Portable 60-bit hash — identical in Spark, DuckDB and Python.

``h60(x) = int(md5(x)[:15 hex chars], 16)`` — a non-negative 60-bit
integer derivable in any engine with md5 + hex parsing.  This is what
makes the sketching operators (MinHash, SimHash, fingerprints, LSH
bucketing, correlation keys) *oracle-checkable*: DuckDB can replay the
exact hash, so the driver's value-hash compare covers them.

Scale note: md5 is ~3× slower than xxhash64 but still JVM-side inside
whole-stage codegen, and the sketches keep it so DuckDB replays every
register and cell.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

H60_BITS = 60


def h60(col: Column) -> Column:
    """Spark side: 60-bit hash of a string column (non-negative long)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """DuckDB side: the exact same 60-bit hash over a SQL expression."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def h60_py(s: str) -> int:
    """Python side (for plan constants like LSH hyperplane signs)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
