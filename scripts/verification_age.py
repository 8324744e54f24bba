"""Regenerate the registry verification-age table from artifacts.

Reads every checked-in CORRECTNESS_r0N.json, computes each query's
last full-green driver round (rows+schema+hash, no err), and prints a
markdown table in registry order with the query's membership in the
declared `_WINDOW` the registry leads with.  This is the single
current-state table SURVEY §2 carries; the per-round historical tables
it replaces live in git history.

`--summary` prints the staleness distribution and the next 50-name
head for `_WINDOW`: oracle-gated queries never driver-checked first,
then the oldest last-green, ties in registry order.  Rows-only
queries are left out: the driver has no oracle to check them with.

Usage: python scripts/verification_age.py [--summary]
"""
from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402

HEAD = 50


def last_green() -> dict[str, int]:
    last: dict[str, int] = {}
    for f in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        m = re.search(r"_r0*(\d+)\.json$", f)
        if not m:
            continue
        r = int(m.group(1))
        for k, v in json.load(open(f)).items():
            if (v.get("rows_match") and v.get("schema_match")
                    and v.get("hash_match") and not v.get("err")):
                last[k] = max(last.get(k, 0), r)
    return last


def next_head(queries: list[str], oracles: dict, lg: dict[str, int]) -> list[str]:
    gated = [q for q in queries if q in oracles]
    # sorted() is stable, so ties keep registry order; 0 = never checked
    return sorted(gated, key=lambda q: lg.get(q, 0))[:HEAD]


def main() -> int:
    queries = list(entrymod.queries())
    oracles = entrymod.oracle_sql()
    lg = last_green()
    window = entrymod._WINDOW
    head = set(window[:HEAD])
    if "--summary" in sys.argv:
        dist = Counter(lg[q] for q in queries if q in lg)
        print(f"registry: {len(queries)} queries, "
              f"{len([q for q in queries if q in oracles])} oracle-gated")
        print(f"last-green distribution: "
              f"{dict(sorted(dist.items()))}")
        print(f"never driver-checked: "
              f"{[q for q in queries if q not in lg]}")
        print(f"next window head: {next_head(queries, oracles, lg)}")
        return 0
    print("| query | last driver-green | window |")
    print("|---|---|---|")
    for q in queries:
        g = f"r{lg[q]}" if q in lg else "—"
        w = "head" if q in head else ("tail" if q in window else "")
        gate = "" if q in oracles else " (rows-only)"
        print(f"| {q}{gate} | {g} | {w} |")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
