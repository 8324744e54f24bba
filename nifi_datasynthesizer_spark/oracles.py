"""DuckDB oracle-SQL builders for the sketching/similarity operators.

Each function returns ANSI-ish DuckDB SQL that replays the exact
result of the matching Spark operator (operators/dedup.py,
operators/similarity.py, operators/text.py, operators/multimodal.py)
over the same parquet tables.  Replayability rests on two choices in
the operators themselves:

- every hash is the portable ``h60`` (phash.py: md5-derived 60-bit),
- LSH hyperplanes are driver-computed ±1 literals (hyperplane_weights).

The SQL mirrors the *semantics*, not Spark's physical plan: e.g. the
MinHash oracle joins on band-slice equality where Spark buckets on a
band hash — identical output absent a 60-bit hash collision.
"""

from __future__ import annotations

from .operators.similarity import hyperplane_weights
from .phash import h60_sql

_NORM = ("TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9\\s]', ' ', 'g'),"
         " '\\s+', ' ', 'g'))")


def _shingles_cte(k: int, table: str = "documents") -> str:
    """CTE `sh(doc_id, text, sh)` = word k-shingles of normalized text
    (mirror of dedup._shingles)."""
    return f"""sh AS (
  SELECT doc_id, text,
    CASE WHEN len(W) >= {k}
         THEN list_transform(range(0, len(W) - {k} + 1),
                             s -> array_to_string(list_slice(W, s + 1, s + {k}), ' '))
         ELSE [array_to_string(W, ' ')] END AS sh
  FROM (SELECT doc_id, text, string_split({_NORM}, ' ') AS W FROM {table}))"""


def commuter_digest_sql(n_drivers: int = 20, trips: int = 4,
                        points_per_trip: int = 30, seed: int = 7) -> str:
    """Hash-level gate for the RNG-valued commuter trace (r9 verdict
    item 4): the oracle runs the SAME pure-numpy kernel
    (synthesizers.simulate_commuters) ONCE, single-process, at
    oracle-generation time, digests it per (driver, trip) — row count,
    first/last GPS point quantized to 1e-6 degrees, integer mph sum —
    and emits the digest as a VALUES literal.  What the gate then
    verifies is the DISTRIBUTED path: Spark's bucketed applyInPandas
    over the same kernel must reproduce the local run bit-exactly
    (grouping completeness, bucket-invariant RNG streams, Arrow
    round-trip fidelity).  Quantizations are order-free: floor(x*1e6)
    on identical doubles, and the mph sum is summed AS integers (per
    row round(mph*1000) — mph is pre-rounded to 3 decimals, so the
    *1000 value is never near a rounding boundary), so aggregation
    order cannot flip a bit."""
    import numpy as np

    from . import vocab as V
    from .synthesizers import simulate_commuters

    pdf = simulate_commuters(list(range(n_drivers)), V.ZIP_ROWS,
                             trips, points_per_trip, seed)
    rows = []
    for (d, t), g in pdf.groupby(["driver_id", "trip"], sort=True):
        g = g.sort_values("t_offset_s")
        first, last = g.iloc[0], g.iloc[-1]

        def q(x) -> int:
            return int(np.floor(x * 1e6))
        mph_milli = int(np.rint(np.asarray(g["mph"]) * 1000)
                        .astype(np.int64).sum())
        rows.append((int(d), int(t), len(g),
                     q(first["lat"]), q(first["lon"]),
                     q(last["lat"]), q(last["lon"]), mph_milli))
    values = ",\n".join("(" + ", ".join(str(v) for v in r) + ")"
                        for r in rows)
    return f"""
SELECT CAST(driver_id AS BIGINT) AS driver_id,
       CAST(trip AS BIGINT) AS trip,
       CAST(n_points AS BIGINT) AS n_points,
       CAST(first_lat_u AS BIGINT) AS first_lat_u,
       CAST(first_lon_u AS BIGINT) AS first_lon_u,
       CAST(last_lat_u AS BIGINT) AS last_lat_u,
       CAST(last_lon_u AS BIGINT) AS last_lon_u,
       CAST(sum_mph_milli AS BIGINT) AS sum_mph_milli
FROM (VALUES
{values}) AS t(driver_id, trip, n_points, first_lat_u, first_lon_u,
               last_lat_u, last_lon_u, sum_mph_milli)
ORDER BY driver_id, trip"""


def ngram_lm_score_sql(holdout_mod: int = 5,
                       table: str = "documents") -> str:
    """Mirror of text.ngram_lm_score: identical hash split, add-one
    bigram LM, per-bigram ln() quantized at 1e-4 (ulp drift absorbed,
    the bm25_topk contract), integer sums — negated to positive NLL
    before the integer divide."""
    h = h60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS w,
                  ({h} % {holdout_mod}) = 0 AS is_holdout
           FROM {table}),
bi AS (SELECT doc_id, is_holdout,
              unnest(list_transform(range(0, len(w) - 1),
                s -> array_to_string(list_slice(w, s + 1, s + 2), ' ')))
                AS bg
       FROM t WHERE len(w) >= 2),
bi2 AS (SELECT doc_id, is_holdout, bg, string_split(bg, ' ')[1] AS w1
        FROM bi),
c2 AS (SELECT bg, COUNT(*) AS c12 FROM bi2 WHERE NOT is_holdout
       GROUP BY bg),
uni AS (SELECT u AS w1, COUNT(*) AS c1
        FROM (SELECT unnest(w) AS u FROM t WHERE NOT is_holdout)
        GROUP BY u),
v AS (SELECT COUNT(*) AS v FROM uni),
sc AS (SELECT doc_id,
              CAST(-FLOOR(LN((COALESCE(c12, 0) + 1.0)
                             / (COALESCE(c1, 0) + v)) * 1e4) AS BIGINT)
                AS nll_q4
       FROM bi2 LEFT JOIN c2 USING (bg) LEFT JOIN uni USING (w1), v
       WHERE is_holdout)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(nll_q4) AS BIGINT) AS sum_nll_q4,
       CAST(SUM(nll_q4) // COUNT(*) AS BIGINT) AS avg_nll_q4
FROM sc GROUP BY doc_id ORDER BY doc_id"""


def repeated_substrings_sql(w: int = 8, min_docs: int = 2,
                            table: str = "documents") -> str:
    """Mirror of dedup.repeated_substrings: stride-1 w-token windows
    of normalized text, kept when they occur in >= min_docs distinct
    documents."""
    return f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM {table}),
sp AS (SELECT doc_id,
              unnest(list_transform(range(0, len(w) - {w} + 1),
                s -> array_to_string(list_slice(w, s + 1, s + {w}), ' ')))
                AS span
       FROM t WHERE len(w) >= {w}),
pd AS (SELECT span, doc_id, COUNT(*) AS n_in_doc
       FROM sp GROUP BY span, doc_id)
SELECT span, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_in_doc) AS BIGINT) AS n_occ,
       MIN(doc_id) AS first_doc
FROM pd GROUP BY span
HAVING COUNT(*) >= {min_docs}
ORDER BY span"""


def longest_repeated_span_sql(table: str = "documents") -> str:
    """Mirror of dedup.longest_repeated_span (min_docs=2) — but by a
    DIFFERENT algorithm, which is the point of the gate: DuckDB
    materializes every word-level suffix, sorts them as strings
    (normalized text is [a-z0-9 ], all word chars > ' ', so string
    order respects word-prefix containment), and takes the maximal
    word-LCP over sort-ADJACENT pairs from DIFFERENT documents — the
    textbook suffix-array argument: suffixes sharing an L-word prefix
    are contiguous, so a span in >= 2 distinct docs yields an
    adjacent cross-doc pair with LCP >= L, and conversely.  The
    readout then re-counts windows at that length exactly like
    repeated_substrings_sql.  Quadratic memory in total tokens —
    fine as a small-SF oracle, exactly what the Spark side must NOT
    do at 100 TB."""
    return f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM {table}
           WHERE {_NORM} <> ''),
suf AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM t),
s2 AS (SELECT doc_id, list_slice(w, i, len(w)) AS s,
              array_to_string(list_slice(w, i, len(w)), ' ') AS str
       FROM suf),
ad AS (SELECT doc_id, s, LEAD(doc_id) OVER (ORDER BY str) AS d2,
              LEAD(s) OVER (ORDER BY str) AS s2
       FROM s2),
lc AS (SELECT COALESCE(
         NULLIF(list_position(list_transform(
           range(1, LEAST(len(s), len(s2)) + 1),
           k -> s[k] = s2[k]), false), 0) - 1,
         LEAST(len(s), len(s2))) AS l
       FROM ad WHERE d2 IS NOT NULL AND doc_id <> d2),
mx AS (SELECT MAX(l) AS big_l FROM lc),
sp AS (SELECT doc_id,
              unnest(list_transform(range(0, len(w) - big_l + 1),
                st -> array_to_string(
                  list_slice(w, st + 1, st + big_l), ' '))) AS span
       FROM t, mx WHERE big_l >= 1 AND len(w) >= big_l),
pd AS (SELECT span, doc_id, COUNT(*) AS n_in_doc
       FROM sp GROUP BY span, doc_id)
SELECT span, (SELECT CAST(big_l AS BIGINT) FROM mx) AS span_len,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_in_doc) AS BIGINT) AS n_occ,
       MIN(doc_id) AS first_doc
FROM pd GROUP BY span
HAVING COUNT(*) >= 2
ORDER BY span"""


def strip_repeated_substrings_sql(w: int = 8, min_docs: int = 2,
                                  table: str = "documents") -> str:
    """Mirror of dedup.strip_repeated_substrings: word positions
    covered by any qualifying repeated window are dropped, text
    rebuilt in order; every document reports."""
    return f"""
WITH t AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM {table}),
spu AS (SELECT doc_id,
               unnest(list_transform(range(0, len(w) - {w} + 1),
                 s -> {{'pos': s,
                        'span': array_to_string(
                          list_slice(w, s + 1, s + {w}), ' ')}})) AS u
        FROM t WHERE len(w) >= {w}),
sp AS (SELECT doc_id, u.pos AS pos, u.span AS span FROM spu),
rep AS (SELECT span FROM (SELECT span, COUNT(DISTINCT doc_id) AS nd
                          FROM sp GROUP BY span)
        WHERE nd >= {min_docs}),
cov AS (SELECT DISTINCT doc_id, pos + k AS i
        FROM sp JOIN rep USING (span),
             (SELECT unnest(range(0, {w})) AS k)),
words AS (SELECT doc_id, i, w[i + 1] AS word
          FROM (SELECT doc_id, w, unnest(range(0, len(w))) AS i FROM t)),
kept AS (SELECT words.doc_id, words.i, words.word
         FROM words ANTI JOIN cov
           ON words.doc_id = cov.doc_id AND words.i = cov.i),
rebuilt AS (SELECT doc_id,
                   string_agg(word, ' ' ORDER BY i) AS text_stripped,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id)
SELECT t.doc_id,
       COALESCE(rebuilt.text_stripped, '') AS text_stripped,
       CAST(len(t.w) AS BIGINT) AS n_words,
       CAST(len(t.w) - COALESCE(rebuilt.n_kept, 0) AS BIGINT)
         AS n_removed
FROM t LEFT JOIN rebuilt USING (doc_id)
ORDER BY doc_id"""


def minhash_pairs_sql(num_hashes: int = 64, bands: int = 16,
                      shingle_k: int = 5, jaccard_threshold: float = 0.5,
                      table: str = "documents") -> str:
    """Mirror of dedup.dedup_minhash."""
    p = (1 << 31) - 1
    rpb = num_hashes // bands
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {2 * j + 1} + {j * 2654435761 % p}) % {p}))"
        for j in range(num_hashes))
    return f"""
WITH {_shingles_cte(shingle_k, table)},
base AS (SELECT doc_id, list_transform(sh, s -> {h60_sql('s')} % {p}) AS hs FROM sh),
sig AS (SELECT doc_id, [{sig_exprs}] AS signature FROM base),
bands AS (SELECT doc_id, signature, band_id,
                 list_slice(signature, band_id * {rpb} + 1, band_id * {rpb} + {rpb}) AS sl
          FROM sig, (SELECT unnest(range(0, {bands})) AS band_id)),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                l.signature AS sa, r.signature AS sb
         FROM bands l JOIN bands r
           ON l.band_id = r.band_id AND l.sl = r.sl AND l.doc_id < r.doc_id),
est AS (SELECT a, b,
               len(list_filter(list_zip(sa, sb), q -> q[1] = q[2])) / {float(num_hashes)}
                 AS est_jaccard
        FROM cand)
SELECT a, b, est_jaccard FROM est
WHERE est_jaccard >= {jaccard_threshold} ORDER BY a, b"""


def simhash_pairs_sql(bits: int = 60, hamming_max: int = 3,
                      shingle_k: int = 2, max_bucket: int | None = 1024,
                      table: str = "documents") -> str:
    """Mirror of dedup.dedup_simhash (incl. the r7 max_bucket cap:
    over-populated (block_id, block) buckets drop whole)."""
    block_bits = bits // 4
    mask = (1 << block_bits) - 1
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> "
        f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(bits))
    cap = ("" if max_bucket is None else f"""
bsz AS (SELECT block_id, block, COUNT(*) AS n FROM blocks0
        GROUP BY block_id, block),
blocks AS (SELECT blocks0.* FROM blocks0 JOIN bsz USING (block_id, block)
           WHERE bsz.n <= {max_bucket}),""")
    blocks0_name = "blocks" if max_bucket is None else "blocks0"
    return f"""
WITH {_shingles_cte(shingle_k, table)},
hashed AS (SELECT doc_id, list_transform(sh, s -> {h60_sql('s')}) AS hs FROM sh),
fp AS (SELECT doc_id, ({bit_terms}) AS simhash FROM hashed),
{blocks0_name} AS (SELECT doc_id, simhash, q AS block_id,
                  (simhash >> ({block_bits} * q)) & {mask} AS block
           FROM fp, (SELECT unnest(range(0, 4)) AS q)),{cap}
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                l.simhash AS ha, r.simhash AS hb
         FROM blocks l JOIN blocks r
           ON l.block_id = r.block_id AND l.block = r.block AND l.doc_id < r.doc_id),
ham AS (SELECT a, b, bit_count(xor(ha, hb)) AS hamming FROM cand)
SELECT a, b, hamming FROM ham WHERE hamming <= {hamming_max} ORDER BY a, b"""


def ngram_jaccard_sql(n: int = 3, threshold: float = 0.4,
                      length_band: int = 32,
                      token_bands: int | None = None,
                      max_block: int | None = 256,
                      table: str = "documents") -> str:
    """Mirror of dedup.ngram_jaccard_pairs (|A∩B| / (|A|+|B|-|A∩B|)
    over distinct shingle sets — equals Spark's intersect/union sizes;
    blocking on (length band, first-three-token h60 band) with the
    corpus-scaled band count and per-block cap exactly as the
    operator does)."""
    prefix3 = (f"array_to_string(list_slice(string_split({_NORM}, ' '),"
               f" 1, 3), ' ')")
    tb_bands = (str(token_bands) if token_bands is not None else
                f"(SELECT GREATEST(16, COUNT(*) // 256) FROM {table})")
    cap = ("" if max_block is None else f"""
gsz AS (SELECT lb, tb, COUNT(*) AS n FROM g0 GROUP BY lb, tb),
g AS (SELECT g0.* FROM g0 JOIN gsz USING (lb, tb)
      WHERE gsz.n <= {max_block}),""")
    g0_name = "g" if max_block is None else "g0"
    return f"""
WITH {_shingles_cte(n, table)},
{g0_name} AS (SELECT doc_id, list_distinct(sh) AS g,
             CAST(FLOOR(LENGTH({_NORM}) / {length_band}.0) AS INT) AS lb,
             {h60_sql(prefix3)} % {tb_bands} AS tb
      FROM sh),{cap}
pairs AS (SELECT l.doc_id AS a, r.doc_id AS b, l.g AS ga, r.g AS gb
          FROM g l JOIN g r ON l.lb = r.lb AND l.tb = r.tb
                           AND l.doc_id < r.doc_id),
j AS (SELECT a, b,
             len(list_filter(ga, x -> list_contains(gb, x))) AS inter,
             len(ga) + len(gb) AS tot
      FROM pairs)
SELECT a, b, inter / CAST(tot - inter AS DOUBLE) AS jaccard
FROM j WHERE inter / CAST(tot - inter AS DOUBLE) >= {threshold} ORDER BY a, b"""


def fuzzy_pairs_sql(max_dist_ppm: int = 300_000, length_band: int = 16,
                    token_bands: int | None = None, max_block: int = 256,
                    table: str = "documents") -> str:
    """Mirror of dedup.fuzzy_pairs (normalized Levenshtein over
    (length band, first-two-token h60 band) blocks with the same
    neighbor-band widening, corpus-scaled band count, and per-block
    cap; DuckDB's levenshtein is the same unit-cost edit distance as
    Spark's).  token_bands=None mirrors the engine's
    max(16, n div 256) derivation as a scalar subquery."""
    prefix3 = (f"array_to_string(list_slice(string_split({_NORM}, ' '),"
               f" 1, 3), ' ')")
    tb_bands = (str(token_bands) if token_bands is not None else
                f"(SELECT GREATEST(16, COUNT(*) // 256) FROM {table})")
    return f"""
WITH g0 AS (SELECT doc_id, {_NORM} AS nt,
                   CAST(FLOOR(LENGTH({_NORM}) / {length_band}.0) AS INT) AS lb,
                   {h60_sql(prefix3)} % {tb_bands} AS tb
            FROM {table}),
sz AS (SELECT lb, tb, COUNT(*) AS n FROM g0 GROUP BY lb, tb),
g AS (SELECT g0.* FROM g0 JOIN sz USING (lb, tb) WHERE sz.n <= {max_block}),
l AS (SELECT doc_id, nt, unnest([lb - 1, lb, lb + 1]) AS lb, tb FROM g),
pairs AS (SELECT l.doc_id AS a, r.doc_id AS b, l.nt AS na, r.nt AS nb
          FROM l JOIN g r ON l.lb = r.lb AND l.tb = r.tb
                         AND l.doc_id < r.doc_id),
d AS (SELECT a, b, CAST(levenshtein(na, nb) AS BIGINT) AS lev,
             GREATEST(LENGTH(na), LENGTH(nb)) AS mx
      FROM pairs)
SELECT a, b, lev,
       CAST(FLOOR(lev * 1000000 / mx) AS BIGINT) AS dist_ppm
FROM d
WHERE CAST(FLOOR(lev * 1000000 / mx) AS BIGINT) <= {max_dist_ppm}
ORDER BY a, b"""


def hash_embed_sql(dim: int = 16, table: str = "documents") -> str:
    """Mirror of text.hash_embed (embedding stringified as the driver
    queries do — integer counts join exactly)."""
    return f"""
WITH hb AS (SELECT doc_id,
                   list_transform(string_split({_NORM}, ' '),
                                  s -> {h60_sql('s')} % {dim}) AS hs
            FROM {table})
SELECT doc_id,
       array_to_string(list_transform(range(0, {dim}),
         k -> len(list_filter(hs, h -> h = k))), ',') AS embedding
FROM hb ORDER BY doc_id"""


def classify_score_sql(dim: int = 64, seed: int = 11,
                       table: str = "documents") -> str:
    """Mirror of text.classify_score."""
    from .operators.text import _logistic_table
    from .phash import h60_py
    weights = [(h60_py(f"w{seed}:{b}") % 2001) - 1000 for b in range(dim)]
    warr = "[" + ",".join(str(w) for w in weights) + "]"
    larr = "[" + ",".join(_fmt_d(v) for v in _logistic_table()) + "]"
    tok_w = f"({warr})[({h60_sql('tok')} % {dim}) + 1]"
    return f"""
WITH t AS (SELECT doc_id,
                  list_transform(string_split({_NORM}, ' '),
                                 tok -> {tok_w}) AS ws
           FROM {table}),
d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
             CAST(list_sum(ws) AS BIGINT) AS dot_q
      FROM t)
SELECT doc_id, n_tokens, dot_q,
       CAST(FLOOR(({larr})[CAST(((dot_q + 1000 * n_tokens) * 255)
                                // (2000 * n_tokens) AS INT) + 1]
                  * 1000000) AS BIGINT) AS score_ppm
FROM d ORDER BY doc_id"""


def _fmt_d(v: float) -> str:
    r = repr(v)
    if "e" not in r and "E" not in r:
        r += "e0"
    return r


def train_classifier_sql(dim: int = 16, rounds: int = 16,
                         lr_num: int = 1600, lr_den: int = 1000,
                         quality_threshold: float = 0.6,
                         table: str = "documents") -> str:
    """Mirror of text.train_classifier: full-batch logistic GD with
    the weight updates computed IN SQL (one 1-row CTE per round, the
    unrolled-iteration pattern of pagerank_sql), labels distilled
    from the quality blend.  All integer arithmetic with truncating
    division — DuckDB ``//`` and Spark ``div`` agree on signed
    operands, so every weight matches the Spark trajectory
    bit-exactly.  The per-doc sigmoid is evaluated once per round in
    a dedicated CTE (not inlined per gradient term) to keep the SQL
    linear in dim."""
    from .operators.text import _logistic_ppm_table
    tab = "[" + ",".join(str(v) for v in _logistic_ppm_table()) + "]"
    hs = (f"list_transform(string_split({_NORM}, ' '), "
          f"t -> {h60_sql('t')} % {dim})")
    _, quality = _quality_exprs()
    # trailing engineered features: intercept (x = nt) and length
    # (x = nt²); see text.train_classifier
    xs = ("[" + ", ".join(
        f"CAST(len(list_filter(hs, h -> h = {j})) AS BIGINT)"
        for j in range(dim))
        + ", CAST(len(hs) AS BIGINT)"
        + ", CAST(len(hs) AS BIGINT) * CAST(len(hs) AS BIGINT)]")
    dim = dim + 2

    def sig(dot: str) -> str:
        m = (f"GREATEST(CAST(-1000000 AS BIGINT), "
             f"LEAST(CAST(1000000 AS BIGINT), ({dot}) // nt))")
        return f"{tab}[CAST((({m}) + 1000000) * 255 // 2000000 AS INT) + 1]"

    parts = [f"""base AS (SELECT {hs} AS hs,
             CAST(len(string_split({_NORM}, ' ')) AS BIGINT) AS nt,
             CASE WHEN ({quality}) >= {quality_threshold}
                  THEN CAST(1000000 AS BIGINT)
                  ELSE CAST(0 AS BIGINT) END AS y
      FROM {table}),
f AS MATERIALIZED (SELECT {xs} AS xs, nt, y FROM base WHERE nt >= 1),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n, """
             + ", ".join(
                 f"GREATEST(1, (CAST(SUM(xs[{j + 1}]) AS BIGINT) "
                 f"// CAST(COUNT(*) AS BIGINT)) "
                 f"* (CAST(SUM((xs[{j + 1}] * 1000000) // nt) AS BIGINT) "
                 f"// CAST(COUNT(*) AS BIGINT)) // 1000000) AS s{j}"
                 for j in range(dim))
             + " FROM f)"]
    prev_w = ["CAST(0 AS BIGINT)"] * dim
    for r in range(1, rounds + 1):
        dot = " + ".join(f"({prev_w[j]}) * xs[{j + 1}]"
                         for j in range(dim))
        parts.append(
            f"d{r} AS (SELECT xs, nt, y, {sig(dot)} AS sg "
            f"FROM f{', w' + str(r - 1) if r > 1 else ''})")
        # w{r} is referenced by BOTH d{r+1} and w{r+1}; without
        # MATERIALIZED DuckDB may inline it into each reference and
        # the unrolled plan doubles per round (exponential analyze
        # time by round ~10)
        gsums = ", ".join(
            f"CAST(SUM((sg - y) * xs[{j + 1}]) AS BIGINT) AS g{j}"
            for j in range(dim))
        parts.append(
            f"r{r} AS (SELECT {gsums}, "
            f"CAST(SUM(CASE WHEN (sg >= 500000) = "
            f"(y = 1000000) THEN 1 ELSE 0 END) AS BIGINT) AS ok "
            f"FROM d{r})")
        # backtracking schedule: halve the carried rate when this
        # round's accuracy is worse than the previous round's
        if r == 1:
            parts.append(f"l1 AS (SELECT {lr_num} AS lr FROM r1)")
        else:
            parts.append(
                f"l{r} AS (SELECT CASE WHEN r{r}.ok < w{r - 1}.ok "
                f"THEN GREATEST(1, w{r - 1}.lr // 2) "
                f"ELSE w{r - 1}.lr END AS lr FROM r{r}, w{r - 1})")
        wcols = ", ".join(
            f"({prev_w[j]}) - ((g{j} * l{r}.lr) // "
            f"(n * {lr_den} * s{j})) AS w{j}" for j in range(dim))
        parts.append(f"w{r} AS MATERIALIZED (SELECT {wcols}, "
                     f"(r{r}.ok * 1000000) // n AS acc_ppm, "
                     f"r{r}.ok AS ok, l{r}.lr AS lr FROM r{r}, nn, l{r}"
                     f"{', w' + str(r - 1) if r > 1 else ''})")
        prev_w = [f"w{r}.w{j}" for j in range(dim)]
    selects = []
    for r in range(1, rounds + 1):
        warr = "[" + ", ".join(f"w{r}.w{j}" for j in range(dim)) + "]"
        selects.append(
            f"SELECT {r} AS round, CAST(jj.j AS INT) AS j, "
            f"CAST({warr}[CAST(jj.j AS INT) + 1] AS BIGINT) AS w_micro, "
            f"CAST(acc_ppm AS BIGINT) AS acc_ppm "
            f"FROM (SELECT unnest(range(0, {dim})) AS j) jj, w{r}")
    return ("WITH " + ",\n".join(parts) + "\n"
            + "\nUNION ALL\n".join(selects)
            + "\nORDER BY round, j")


def corpus_stats_sql(table: str = "documents") -> str:
    """Mirror of the corpus_stats query: per-language exact stats —
    Spark's exact `percentile` and DuckDB's quantile_cont share the
    R-7 linear-interpolation definition."""
    pred_lang, lang_score = _langid_exprs()
    n_words, quality = _quality_exprs()
    return f"""
WITH ann AS (SELECT doc_id, {pred_lang} AS pred_lang,
                    {n_words} AS q_n_words, {quality} AS quality
             FROM {table})
SELECT pred_lang, COUNT(*) AS n_docs,
       ROUND(AVG(quality), 4) AS avg_quality,
       ROUND(quantile_cont(q_n_words, 0.5), 4) AS median_words,
       ROUND(quantile_cont(q_n_words, 0.9), 4) AS p90_words
FROM ann GROUP BY pred_lang ORDER BY pred_lang"""


def corpus_stats_sketch_sql(table: str = "documents",
                            m: int = 64) -> str:
    """Mirror of curation.corpus_stats_sketch: histogram-CDF integer
    percentiles (2*cum >= n / 10*cum >= 9n thresholds — no R-7
    interpolation) and the per-language vocabulary HLL (the same
    engine-exact register pipeline as hll_distinct_sql, no exact
    rider)."""
    from .operators.sketches import (_HLL_S, _RHO_CAP, _hll_alpha1000,
                                     _hll_lc_table)
    pred_lang, _ = _langid_exprs()
    n_words, quality = _quality_exprs()
    lc_items = ",".join(str(v) for v in _hll_lc_table(m))
    h = h60_sql("CAST(word AS VARCHAR)")
    return f"""
WITH ann AS (SELECT {pred_lang} AS lang, {n_words} AS nw,
                    {quality} AS q, text
             FROM {table}),
hist AS (SELECT lang, nw, COUNT(*) AS c FROM ann GROUP BY lang, nw),
cdf AS (SELECT lang, nw, c,
               SUM(c) OVER (PARTITION BY lang) AS n,
               SUM(c) OVER (PARTITION BY lang ORDER BY nw
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM hist),
pcts AS (SELECT lang,
                MIN(CASE WHEN cum * 2 >= n THEN nw END) AS p50_words,
                MIN(CASE WHEN cum * 10 >= n * 9 THEN nw END)
                  AS p90_words
         FROM cdf GROUP BY lang),
stats AS (SELECT lang, COUNT(*) AS n_docs,
                 ROUND(AVG(q), 4) AS avg_quality
          FROM ann GROUP BY lang),
wds AS (SELECT lang, unnest({_WORDS}) AS word FROM ann),
hh AS (SELECT lang AS grp, {h} AS h FROM wds),
e AS (SELECT grp, h % {m} AS b, h // {m} AS r FROM hh
      WHERE h IS NOT NULL),
rr AS (SELECT grp, b,
              LEAST(CASE WHEN r = 0 THEN {_RHO_CAP}
                         ELSE bit_count((r & -r) - 1) + 1 END,
                    {_HLL_S}) AS rho
       FROM e),
regs AS (SELECT grp, b, MAX(rho) AS reg FROM rr GROUP BY grp, b),
ss AS (SELECT grp, COUNT(*) AS buckets_hit,
              CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_S} - reg)) AS BIGINT)
                AS z_num
       FROM regs GROUP BY grp),
zz AS (SELECT grp, buckets_hit,
              z_num + (({m} - buckets_hit) *
                       (CAST(1 AS BIGINT) << {_HLL_S})) AS z_scaled
       FROM ss),
est AS (SELECT grp, buckets_hit,
               ({_hll_alpha1000(m)} * (({m * m} *
                 (CAST(1 AS BIGINT) << {_HLL_S}))
                       // z_scaled)) // 1000 AS est_raw
        FROM zz),
v AS (SELECT grp AS lang,
             CAST(CASE WHEN buckets_hit < {m}
                        AND est_raw <= {int(2.5 * m)}
                       THEN [{lc_items}][CAST({m} - buckets_hit AS INT)
                                         + 1]
                       ELSE est_raw END AS BIGINT) AS vocab_hll
      FROM est)
SELECT stats.lang AS pred_lang, CAST(n_docs AS BIGINT) AS n_docs,
       avg_quality, CAST(p50_words AS BIGINT) AS p50_words,
       CAST(p90_words AS BIGINT) AS p90_words, vocab_hll
FROM stats JOIN pcts ON stats.lang = pcts.lang
JOIN v ON stats.lang = v.lang
ORDER BY pred_lang"""


def dup_groups_sql(pairs_sql: str) -> str:
    """Mirror of dedup.dup_groups over the pair set produced by
    ``pairs_sql`` (columns a, b, ...): connected components as the
    min reachable label via a recursive CTE — the fixpoint of min-label
    propagation equals min-over-reachable on a symmetric graph."""
    return f"""
WITH RECURSIVE prs AS ({pairs_sql}),
edges AS (SELECT a AS src, b AS dst FROM prs
          UNION SELECT b, a FROM prs),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, lab) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, MIN(lab) AS group_id
FROM reach GROUP BY node ORDER BY doc_id"""


def dedup_report_sql(pairs_sql: str, table: str = "documents") -> str:
    """Mirror of dedup.dedup_report: components over ``pairs_sql``,
    singleton fallback to own id, per-cluster then per-size rollup."""
    groups = dup_groups_sql(pairs_sql)
    return f"""
WITH g AS ({groups}),
t AS (SELECT doc_id,
             CAST(len(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS BIGINT)
               AS nt
      FROM {table}),
l AS (SELECT t.doc_id, COALESCE(g.group_id, t.doc_id) AS gid, nt
      FROM t LEFT JOIN g USING (doc_id)),
pc AS (SELECT gid, CAST(COUNT(*) AS BIGINT) AS sz,
              CAST(SUM(nt) AS BIGINT) AS tok,
              CAST(SUM(CASE WHEN doc_id <> gid THEN nt ELSE 0 END)
                   AS BIGINT) AS tok_red
       FROM l GROUP BY gid)
SELECT sz AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(SUM(sz - 1) AS BIGINT) AS n_redundant_docs,
       CAST(SUM(tok) AS BIGINT) AS tokens_total,
       CAST(SUM(tok_red) AS BIGINT) AS tokens_redundant
FROM pc GROUP BY sz ORDER BY cluster_size"""


def fingerprint_sql(ngram: int = 8, table: str = "documents") -> str:
    """Mirror of text.fingerprint (doc_id + fp columns only)."""
    return f"""
WITH {_shingles_cte(ngram, table)}
SELECT doc_id,
       {h60_sql(_NORM)} AS fp_full,
       list_min(list_transform(sh, g -> {h60_sql('g')})) AS fp_min,
       list_max(list_transform(sh, g -> {h60_sql('g')})) AS fp_max
FROM sh ORDER BY doc_id"""


# ------------------------------------------------------- embeddings

def _normed_cte(src: str = "embeddings") -> str:
    return f"""normed AS (
  SELECT vec_id,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      SQRT(list_sum(list_transform(embedding,
           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
  FROM {src})"""


_NORMED = _normed_cte()

# Planted near-duplicate augmentation (mirror of the entries' Spark
# union): the 10 lowest vec_ids re-enter shifted by +1,000,000 with
# every component doubled — scaling by a power of two is EXACT in
# binary floating point and commutes with L2 normalization, so each
# planted row is bit-identical to its source after normalization
# (cosine exactly 1.0, identical hyperplane signature → same bucket).
# This is what makes the embedding-dedup driver rows verify REAL
# pairs instead of matching on an empty result set (r8 verdict #1).
PLANTED_EMBEDDINGS = """(SELECT vec_id, embedding FROM embeddings
 UNION ALL
 SELECT vec_id + 1000000 AS vec_id,
        list_transform(embedding, x -> CAST(x * 2 AS REAL)) AS embedding
 FROM embeddings WHERE vec_id < 10)"""


def _bucket_terms(bits: int, seed: int, dim: int, vcol: str = "v") -> str:
    ws = hyperplane_weights(bits, dim, seed)
    terms = []
    for j in range(bits):
        lit = "[" + ", ".join(str(w) for w in ws[j]) + "]"
        terms.append(
            f"(CASE WHEN list_sum(list_transform(list_zip({vcol}, "
            f"list_slice({lit}, 1, len({vcol}))), q -> q[1] * q[2])) >= 0 "
            f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END)")
    return " + ".join(terms)


def dedup_embedding_sql(threshold: float = 0.95, bucket_bits: int = 8,
                        seed: int = 7, dim: int = 64,
                        src: str = "embeddings") -> str:
    """Mirror of dedup.dedup_embedding."""
    return f"""
WITH {_normed_cte(src)},
b AS (SELECT vec_id, v, ({_bucket_terms(bucket_bits, seed, dim)}) AS bucket FROM normed),
pairs AS (SELECT l.vec_id AS a, r.vec_id AS b, l.v AS va, r.v AS vb
          FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
cos AS (SELECT a, b,
               ROUND(list_sum(list_transform(list_zip(va, vb), q -> q[1] * q[2])), 6)
                 AS cosine
        FROM pairs)
SELECT a, b, cosine FROM cos WHERE cosine >= {threshold} ORDER BY a, b"""


def dedup_embedding_derived_sql(threshold: float = 0.95, seed: int = 7,
                                dim: int = 64, max_bits: int = 16,
                                src: str = "embeddings",
                                derive_div: int = 64) -> str:
    """Mirror of dedup.dedup_embedding with ``bucket_bits=None`` (the
    production default): the derivation
    ``max(8, bit_length(n // derive_div))`` rides a scalar subquery
    (``nb`` — bit_length computed as the length of the binary
    rendering, exact for any positive integer), and hyperplane ``j``
    contributes its sign term iff ``j < nb``.  The SAME SQL therefore
    replays at any SF with n ≤ derive_div·2^max_bits — no structural
    re-generation.  The entry passes ``derive_div=1`` so ``nb``
    departs from the floor of 8 at fixture scale (510 rows → 9 bits,
    2,010 → 11) and the gate verifies the derivation doing work; it
    also passes ``max_bits=24`` so the replay headroom at derive_div=1
    is 16.7M vectors (~sf800), not 65,536 (r9 ADVICE)."""
    ws = hyperplane_weights(max_bits, dim, seed)
    terms = []
    for j in range(max_bits):
        lit = "[" + ", ".join(str(w) for w in ws[j]) + "]"
        terms.append(
            f"(CASE WHEN {j} < nb AND "
            f"list_sum(list_transform(list_zip(v, "
            f"list_slice({lit}, 1, len(v))), q -> q[1] * q[2])) >= 0 "
            f"THEN {1 << j}::BIGINT ELSE 0::BIGINT END)")
    bucket = " + ".join(terms)
    return f"""
WITH {_normed_cte(src)},
p AS (SELECT GREATEST(8, LENGTH(FORMAT('{{:b}}',
             (SELECT COUNT(*) FROM {src}) // {derive_div}))) AS nb),
b AS (SELECT vec_id, v, ({bucket}) AS bucket FROM normed, p),
pairs AS (SELECT l.vec_id AS a, r.vec_id AS b, l.v AS va, r.v AS vb
          FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
cos AS (SELECT a, b,
               ROUND(list_sum(list_transform(list_zip(va, vb), q -> q[1] * q[2])), 6)
                 AS cosine
        FROM pairs)
SELECT a, b, cosine FROM cos WHERE cosine >= {threshold} ORDER BY a, b"""


def ann_ivf_derived_sql(k: int = 10, n_probe: int = 4,
                        query_pred: str = "vec_id < 5") -> str:
    """Mirror of similarity.ann_ivf with ``n_centroids=None`` (the
    production default): the cell count ``max(16, isqrt(n))`` is
    computed IN SQL (floor(sqrt) with an exactness correction, so it
    equals Python's isqrt at perfect-square boundaries) and the
    stratified centroid ids unroll through a lateral range over that
    derived count — the whole derivation replays at any SF."""
    dotp = "ROUND(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), 6)"
    return f"""
WITH {_NORMED},
p AS (SELECT n, GREATEST(16, CASE WHEN (s + 1) * (s + 1) <= n THEN s + 1
                                  WHEN s * s > n THEN s - 1
                                  ELSE s END) AS kc
      FROM (SELECT COUNT(*) AS n,
                   CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS s
            FROM embeddings)),
cent AS (SELECT vec_id AS cell, v AS cv FROM normed
         WHERE vec_id IN (
           SELECT DISTINCT (j * n) // kc
           FROM (SELECT n, kc, unnest(range(0, kc)) AS j FROM p))),
scored AS (SELECT c.vec_id AS cand_id, c.v AS v, ct.cell,
                  {dotp.format(a='c.v', b='ct.cv')} AS sim
           FROM normed c CROSS JOIN cent ct),
assigned AS (SELECT cand_id, v, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cand_id
                                 ORDER BY sim DESC, cell ASC) AS rn
    FROM scored) WHERE rn = 1),
qs AS (SELECT vec_id AS query_id, v AS qv FROM normed WHERE {query_pred}),
qcell AS (SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, ct.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {dotp.format(a='q.qv', b='ct.cv')} DESC,
                                       ct.cell ASC) AS rn
    FROM qs q CROSS JOIN cent ct) WHERE rn <= {n_probe}),
cand AS (SELECT query_id, cand_id, {dotp.format(a='qv', b='a.v')} AS cosine
         FROM assigned a JOIN qcell USING (cell)
         WHERE cand_id <> query_id)
SELECT query_id, cand_id, cosine,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, cand_id) AS rank
FROM cand QUALIFY rank <= {k} ORDER BY query_id, rank"""


def ann_lsh_sql(k: int = 10, bucket_bits: int = 6, seed: int = 7,
                dim: int = 64, query_pred: str = "vec_id < 5") -> str:
    """Mirror of similarity.ann_lsh (queries = rows matching query_pred)."""
    return f"""
WITH {_NORMED},
b AS (SELECT vec_id, v, ({_bucket_terms(bucket_bits, seed, dim)}) AS bucket FROM normed),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE {query_pred}),
scored AS (SELECT query_id, c.vec_id AS cand_id,
                  ROUND(list_sum(list_transform(list_zip(qv, c.v), p -> p[1] * p[2])), 6)
                    AS cosine
           FROM b c JOIN q USING (bucket) WHERE c.vec_id <> query_id)
SELECT query_id, cand_id, cosine,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, cand_id) AS rank
FROM scored QUALIFY rank <= {k} ORDER BY query_id, rank"""


_WORDS = "STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')"


def _langid_exprs() -> tuple[str, str]:
    """(pred_lang, lang_score) SQL over an implicit `text` column —
    mirror of text.lang_id."""
    from .operators.text import _LANG_MARKERS
    pairs = ", ".join(
        "{'s': len(list_filter(%s, x -> x IN (%s))), 'l': '%s'}"
        % (_WORDS, ", ".join(f"'{m}'" for m in marks), lang)
        for lang, marks in _LANG_MARKERS.items())
    best = f"list_max([{pairs}])"
    return (f"CASE WHEN {best}['s'] > 0 THEN {best}['l'] ELSE 'und' END",
            f"{best}['s']")


def _quality_exprs() -> tuple[str, str]:
    """(q_n_words, quality) SQL over an implicit `text` column —
    mirror of text.quality_score's blended signal."""
    from .operators.text import _LANG_MARKERS
    en = ", ".join(f"'{m}'" for m in _LANG_MARKERS["en"])
    n_words = f"len({_WORDS})"
    alpha = ("LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) / "
             "CAST(GREATEST(LENGTH(text), 1) AS DOUBLE)")
    stop = (f"len(list_filter({_WORDS}, x -> x IN ({en}))) / "
            f"CAST(GREATEST({n_words}, 1) AS DOUBLE)")
    uniq = (f"len(list_distinct({_WORDS})) / "
            f"CAST(GREATEST({n_words}, 1) AS DOUBLE)")
    quality = (f"CASE WHEN {n_words} < 5 THEN 0.0e0 ELSE LEAST(1.0e0, "
               f"{alpha} * 0.5e0 + {uniq} * 0.3e0 + "
               f"LEAST({stop} * 4.0e0, 1.0e0) * 0.2e0) END")
    return n_words, quality


def corpus_clean_sql(min_quality: float = 0.3,
                     near_dup_threshold: float = 0.5,
                     table: str = "documents",
                     cols: str = "doc_id, pred_lang, lang_score, "
                                 "q_n_words, quality") -> str:
    """Mirror of pipeline.corpus_clean (exact-dedup → annotate →
    quality filter → minhash near-dup removal, keep lower doc_id).
    ``cols`` selects the surfaced columns — composed pipelines
    (corpus_build) keep the text for downstream stages."""
    pred_lang, lang_score = _langid_exprs()
    n_words, quality = _quality_exprs()
    mh = minhash_pairs_sql(jaccard_threshold=near_dup_threshold,
                           table="filtered")
    return f"""
WITH kept AS (SELECT doc_id, text FROM {table}
              QUALIFY ROW_NUMBER() OVER (PARTITION BY MD5({_NORM})
                                         ORDER BY doc_id) = 1),
ann AS (SELECT doc_id, text, {pred_lang} AS pred_lang,
               {lang_score} AS lang_score, {n_words} AS q_n_words,
               {quality} AS quality
        FROM kept),
filtered AS (SELECT * FROM ann WHERE quality >= {min_quality}),
losers AS (SELECT DISTINCT b AS doc_id FROM ({mh}))
SELECT {cols}
FROM filtered WHERE doc_id NOT IN (SELECT doc_id FROM losers)
ORDER BY doc_id"""


def ann_ivf_sql(k: int = 10, n_centroids: int = 16, n_probe: int = 4,
                query_pred: str = "vec_id < 5") -> str:
    """Mirror of similarity.ann_ivf (stratified centroid ids
    j*N//n_centroids — same integer arithmetic as
    similarity.stratified_centroid_ids)."""
    dotp = "ROUND(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), 6)"
    return f"""
WITH {_NORMED},
cent AS (SELECT vec_id AS cell, v AS cv FROM normed
         WHERE vec_id IN (
           SELECT (j * (SELECT COUNT(*) FROM embeddings)) // {n_centroids}
           FROM (SELECT unnest(range(0, {n_centroids})) AS j))),
scored AS (SELECT c.vec_id AS cand_id, c.v AS v, ct.cell,
                  {dotp.format(a='c.v', b='ct.cv')} AS sim
           FROM normed c CROSS JOIN cent ct),
assigned AS (SELECT cand_id, v, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cand_id
                                 ORDER BY sim DESC, cell ASC) AS rn
    FROM scored) WHERE rn = 1),
qs AS (SELECT vec_id AS query_id, v AS qv FROM normed WHERE {query_pred}),
qcell AS (SELECT query_id, qv, cell FROM (
    SELECT q.query_id, q.qv, ct.cell,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {dotp.format(a='q.qv', b='ct.cv')} DESC,
                                       ct.cell ASC) AS rn
    FROM qs q CROSS JOIN cent ct) WHERE rn <= {n_probe}),
cand AS (SELECT query_id, cand_id, {dotp.format(a='qv', b='a.v')} AS cosine
         FROM assigned a JOIN qcell USING (cell)
         WHERE cand_id <> query_id)
SELECT query_id, cand_id, cosine,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, cand_id) AS rank
FROM cand QUALIFY rank <= {k} ORDER BY query_id, rank"""


# -------------------------------------------------------- multimodal

def media_frames_sql(n: int = 200, every_ms: int = 5000) -> str:
    """Mirror of multimodal.sample_frames over synth_media(n):
    kind=video ⇔ media_id % 3 == 2, duration_ms = media_id % 60000."""
    return f"""
SELECT media_id, frame_idx, frame_idx * {every_ms} AS frame_ts_ms
FROM (SELECT media_id,
             unnest(range(0, GREATEST(CAST(FLOOR(dur / {every_ms}.0) AS INT) - 1, 0) + 1))
               AS frame_idx
      FROM (SELECT id AS media_id, id % 60000 AS dur
            FROM range(0, {n}) t(id) WHERE id % 3 = 2))
ORDER BY media_id, frame_idx"""


# --------------------------------------------------------- curation

_RAW_WORDS = "STRING_SPLIT_REGEX(TRIM(text), '\\s+')"


def _grams_expr(k: int, w: str = "W") -> str:
    """Word k-gram list over a words-list SQL expression — inline
    mirror of dedup._shingles' body (same short-doc fallback)."""
    return (f"CASE WHEN len({w}) >= {k} "
            f"THEN list_transform(range(0, len({w}) - {k} + 1), "
            f"s -> array_to_string(list_slice({w}, s + 1, s + {k}), ' ')) "
            f"ELSE [array_to_string({w}, ' ')] END")


def sample_stratified_sql(rates: dict[str, float], default_rate: float = 0.0,
                          salt: int = 0, table: str = "documents",
                          id_col: str = "doc_id",
                          stratum_col: str = "source") -> str:
    """Mirror of curation.sample_stratified."""
    whens = " ".join(
        f"WHEN '{v}' THEN {int(round(r * 1_000_000))}"
        for v, r in sorted(rates.items()))
    rate = f"CASE {stratum_col} {whens} ELSE {int(round(default_rate * 1_000_000))} END"
    draw = h60_sql(f"{id_col}::VARCHAR || ':{salt}'")
    return (f"SELECT * FROM {table} "
            f"WHERE {draw} % 1000000 < {rate}")


def decontaminate_sql(ngram: int = 8, eval_pred: str = "doc_id % 101 = 0",
                      table: str = "documents") -> str:
    """Mirror of curation.decontaminate with the eval set carved out of
    the same table by ``eval_pred``."""
    return f"""
WITH {_shingles_cte(ngram, table)},
grams AS (SELECT doc_id, {h60_sql('g')} AS gh
          FROM (SELECT doc_id, unnest(sh) AS g FROM sh)),
ev AS (SELECT DISTINCT gh FROM grams WHERE {eval_pred}),
tr AS (SELECT doc_id, gh FROM grams WHERE NOT ({eval_pred}))
SELECT doc_id, COUNT(DISTINCT gh) AS n_hit_grams
FROM tr JOIN ev USING (gh)
GROUP BY doc_id ORDER BY doc_id"""


def chunk_words_sql(max_words: int = 64, table: str = "documents") -> str:
    """Mirror of curation.chunk_words."""
    m = max_words
    return f"""
WITH W AS (SELECT doc_id, {_RAW_WORDS} AS w FROM {table}),
ex AS (SELECT doc_id, w,
              unnest(range(0, GREATEST(CAST(CEIL(len(w) / {float(m)}) AS INT), 1)))
                AS chunk_id
       FROM W)
SELECT doc_id, chunk_id,
       array_to_string(list_slice(w, chunk_id * {m} + 1, chunk_id * {m} + {m}), ' ')
         AS chunk_text,
       len(string_split_regex(
           array_to_string(list_slice(w, chunk_id * {m} + 1, chunk_id * {m} + {m}), ' '),
           '\\s+')) AS chunk_words
FROM ex ORDER BY doc_id, chunk_id"""


def repetition_stats_sql(table: str = "documents") -> str:
    """Mirror of curation.repetition_stats (raw-split words for the
    top-word signal, normalized shingles for the n-gram signals)."""
    g2, g3 = _grams_expr(2, "NW"), _grams_expr(3, "NW")
    return f"""
WITH W AS (SELECT doc_id, {_RAW_WORDS} AS w,
                  STRING_SPLIT({_NORM}, ' ') AS NW
           FROM {table}),
g AS (SELECT doc_id, w, {g2} AS g2, {g3} AS g3 FROM W)
SELECT doc_id, len(w) AS n_words,
       -- sorted run-length fold (mirror of curation.repetition_stats);
       -- field order matters: every field reads only pre-mutation
       -- accumulator fields (list_reduce mutates field-by-field)
       (list_reduce(
          list_concat([{{'best': 0::BIGINT, 'run': 0::BIGINT, 'prev': ''}}],
                      list_transform(list_sort(w),
                                     x -> {{'best': 0::BIGINT,
                                            'run': 0::BIGINT, 'prev': x}})),
          (a, e) -> {{'best': GREATEST(a.best,
                                       CASE WHEN e.prev = a.prev
                                            THEN a.run + 1 ELSE 1 END),
                      'run': CASE WHEN e.prev = a.prev
                                  THEN a.run + 1 ELSE 1 END,
                      'prev': e.prev}})).best
         / CAST(GREATEST(len(w), 1) AS DOUBLE) AS top_word_frac,
       1.0e0 - len(list_distinct(g2)) / CAST(GREATEST(len(g2), 1) AS DOUBLE)
         AS dup_2gram_frac,
       1.0e0 - len(list_distinct(g3)) / CAST(GREATEST(len(g3), 1) AS DOUBLE)
         AS dup_3gram_frac
FROM g ORDER BY doc_id"""


def pii_scrub_exprs() -> tuple[list[str], str]:
    """(per-kind count exprs, scrubbed expr) over an implicit `text`
    column — mirror of curation.pii_scrub (same pattern order)."""
    from .operators.curation import PII_PATTERNS
    counts = [
        f"len(regexp_extract_all(text, '{pat}')) AS n_{kind}"
        for kind, pat, _ in PII_PATTERNS
    ]
    scrubbed = "text"
    for _, pat, token in PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '{token}', 'g')"
    return counts, scrubbed


def _bpe_cte_parts(rounds: int, max_word_len: int,
                   table: str) -> tuple[list, list, str]:
    """Shared unrolled-BPE CTE chain: (parts, per-round selects,
    final vocab CTE name) — used by the merge-table oracle and the
    corpus-tokenization oracle."""
    parts = [f"""w0 AS (SELECT w, COUNT(*) AS cnt,
           list_transform(range(1, length(w) + 1),
                          i -> substr(w, i, 1)) AS sym
    FROM (SELECT unnest(string_split({_NORM}, ' ')) AS w FROM {table})
    WHERE w <> '' AND length(w) <= {max_word_len}
    GROUP BY w)"""]
    prev = "w0"
    selects = []
    for r in range(1, rounds + 1):
        parts.append(f"""p{r} AS (SELECT q.l, q.r, CAST(SUM(cnt) AS BIGINT) AS n FROM (
      SELECT cnt, unnest(list_transform(range(1, len(sym)),
                    i -> {{'l': sym[i], 'r': sym[i + 1]}})) AS q
      FROM {prev}) GROUP BY q.l, q.r),
t{r} AS (SELECT l, r, n FROM p{r} ORDER BY n DESC, l, r LIMIT 1),
w{r} AS (SELECT w, cnt,
                CASE WHEN len(sym) <= 1 THEN sym ELSE
                string_split((list_reduce(
                  list_transform(sym, s -> {{'o': s, 'l': s}}),
                  (acc, e) -> {{'o': CASE WHEN acc.l = t.l AND e.l = t.r
                                 THEN substr(acc.o, 1,
                                      length(acc.o) - length(t.l))
                                      || t.l || t.r
                                 ELSE acc.o || '|' || e.l END,
                               'l': CASE WHEN acc.l = t.l AND e.l = t.r
                                 THEN t.l || t.r ELSE e.l END}})).o, '|')
                END AS sym
         FROM {prev} CROSS JOIN t{r} t),
s{r} AS (SELECT CAST(SUM(cnt * len(sym)) AS BIGINT) AS total FROM w{r})""")
        selects.append(
            f"SELECT {r} AS merge_round, t{r}.l AS \"left\", "
            f"t{r}.r AS \"right\", t{r}.n AS pair_n, "
            f"s{r}.total AS corpus_symbols FROM t{r}, s{r}")
        prev = f"w{r}"
    return parts, selects, prev


def bpe_merges_sql(rounds: int = 4, max_word_len: int = 16,
                   table: str = "documents") -> str:
    """Mirror of curation.bpe_merges: unrolled rounds, each a top-1
    pair CTE + a CROSS JOINed greedy-leftmost re-segmentation fold."""
    parts, selects, _ = _bpe_cte_parts(rounds, max_word_len, table)
    return ("WITH " + ",\n".join(parts) + "\n"
            + " UNION ALL ".join(selects) + " ORDER BY merge_round")


def bpe_tokenize_sql(rounds: int = 4, max_word_len: int = 16,
                     table: str = "documents") -> str:
    """Mirror of curation.bpe_tokenize: final segmented vocab from
    the shared fit chain, corpus word explode LEFT JOINed to it,
    character fallback for out-of-vocab words."""
    parts, _, final = _bpe_cte_parts(rounds, max_word_len, table)
    return ("WITH " + ",\n".join(parts) + f""",
v AS (SELECT w, len(sym) AS ntok FROM {final}),
d AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS w
      FROM {table})
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(v.ntok, LENGTH(d.w))) AS BIGINT)
         AS n_bpe_tokens
FROM d LEFT JOIN v USING (w)
WHERE d.w <> ''
GROUP BY doc_id ORDER BY doc_id""")


def corpus_ngrams_sql(n: int = 2, k: int = 20,
                      table: str = "documents") -> str:
    """Mirror of curation.corpus_ngrams: top-k normalized word
    n-grams, ties at the boundary broken on the gram string."""
    return f"""
WITH W AS (SELECT string_split({_NORM}, ' ') AS w FROM {table}),
g AS (SELECT unnest({_grams_expr(n, 'w')}) AS gram FROM W)
SELECT gram, COUNT(*) AS n FROM g GROUP BY gram
ORDER BY n DESC, gram LIMIT {k}"""


def pack_sequences_sql(seq_tokens: int = 256, shards: int = 8,
                       table: str = "documents") -> str:
    """Mirror of curation.pack_sequences: per-shard running token sum
    (integer, exact) and first/last pack ids."""
    return f"""
WITH t AS (SELECT doc_id,
                  CAST(len({_RAW_WORDS}) AS BIGINT) AS n_tokens,
                  {h60_sql("CAST(doc_id AS VARCHAR)")} % {shards} AS shard
           FROM {table}),
s AS (SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING) - n_tokens
                     AS BIGINT) AS start_tok
      FROM t)
SELECT doc_id, shard, n_tokens, start_tok,
       CAST(FLOOR(start_tok / {float(seq_tokens)}) AS BIGINT) AS first_pack,
       CAST(FLOOR((start_tok + GREATEST(n_tokens, 1) - 1)
                  / {float(seq_tokens)}) AS BIGINT) AS last_pack
FROM s ORDER BY doc_id"""


def corpus_mix_report_sql(table: str = "documents") -> str:
    """Mirror of curation.corpus_mix_report: per (source, lang)
    totals with integer-floor ppm token share."""
    return f"""
WITH per AS (SELECT source, lang, COUNT(*) AS n_docs,
                    CAST(SUM(CAST(len({_RAW_WORDS}) AS BIGINT)) AS BIGINT)
                        AS n_tokens,
                    CAST(SUM(CAST(LENGTH(text) AS BIGINT)) AS BIGINT)
                        AS n_chars
             FROM {table} GROUP BY source, lang)
SELECT source, lang, n_docs, n_tokens, n_chars,
       CAST(FLOOR(n_tokens * 1000000 / CAST(SUM(n_tokens) OVER () AS DOUBLE))
            AS BIGINT) AS share_ppm
FROM per ORDER BY source, lang"""


def bm25_topk_sql(queries: list[str], k: int = 10, k1: float = 1.2,
                  b: float = 0.75, table: str = "documents") -> str:
    """Mirror of search.bm25_topk: identical operand values and
    operation order; ln() ulp drift absorbed by the 1e-4 score
    quantization that both engines rank on."""
    from .dual import _fmt_num
    from .operators.search import _query_terms

    terms = _query_terms(queries)
    tf_cols = ", ".join(
        f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms)))
    one, half = _fmt_num(1.0), _fmt_num(0.5)
    k1s, bs, k11 = _fmt_num(k1), _fmt_num(b), _fmt_num(k1 + 1.0)

    def term_score(i: int) -> str:
        idf = (f"LN({one} + (n - df_{i} + {half}) / (df_{i} + {half}))")
        return (f"({idf} * (tf_{i} * {k11}) / (tf_{i} + {k1s} * "
                f"({one} - {bs} + {bs} * dl / avgdl)))")

    selects = []
    for qi, q in enumerate(queries):
        idxs = [terms.index(tok) for tok in _query_terms([q])]
        score = " + ".join(term_score(i) for i in idxs)
        selects.append(
            f"SELECT doc_id, {qi} AS query_id, "
            f"CAST(FLOOR(({score}) * {_fmt_num(1e4)}) AS BIGINT) AS score_q4 "
            f"FROM t, st")
    union = " UNION ALL ".join(selects)
    return f"""
WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM {table}),
t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, {tf_cols} FROM d),
st AS (SELECT COUNT(*) AS n, SUM(dl) AS sdl_raw,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, {df_cols}
       FROM t),
sc AS ({union})
SELECT query_id,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY score_q4 DESC, doc_id) AS rank,
       doc_id, score_q4
FROM sc WHERE score_q4 > 0
QUALIFY rank <= {k} ORDER BY query_id, rank"""


def _km_parts(k: int, iters: int, dim: int, fit: bool = False) -> list:
    """Shared CTE chain for the k-means oracles: x (quantized
    vectors, shared with _pq_parts), c{i} codebooks, fin (final
    assignment distances).  Callers select assignment from fin.
    ``fit`` semijoins init + training against the caller-provided
    ``xfit`` id CTE (clustering._fit_sample mirror); the final
    assignment stays full."""
    fj = " JOIN xfit USING (vec_id)" if fit else ""

    def dist(xi: str, c: str) -> str:
        return (f"list_sum(list_transform(range(1, {dim + 1}), "
                f"d -> ({xi}[d] - {c}[d]) * ({xi}[d] - {c}[d])))")

    parts = [f"""c0 AS MATERIALIZED (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j, xi AS c
       FROM (SELECT vec_id, xi FROM x{fj} ORDER BY vec_id LIMIT {k}))"""]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(f"""d{i} AS MATERIALIZED (SELECT x.vec_id, x.xi, {prev}.j,
        {dist('x.xi', f'{prev}.c')} AS dist
        FROM x{fj} CROSS JOIN {prev}),
a{i} AS MATERIALIZED (SELECT vec_id, xi, j AS cluster FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, j) AS rn FROM d{i})
        WHERE rn = 1),
s{i} AS MATERIALIZED (SELECT cluster, r.d, SUM(xi[r.d]) AS sv, COUNT(*) AS cnt
        FROM a{i} CROSS JOIN range(1, {dim + 1}) r(d)
        GROUP BY cluster, r.d),
n{i} AS MATERIALIZED (SELECT cluster AS j,
               list(CAST(FLOOR(CAST(sv AS DOUBLE) / cnt) AS BIGINT)
                    ORDER BY d) AS c
        FROM s{i} GROUP BY cluster),
c{i} AS MATERIALIZED (SELECT {prev}.j, COALESCE(n{i}.c, {prev}.c) AS c
        FROM {prev} LEFT JOIN n{i} ON n{i}.j = {prev}.j)""")
        prev = f"c{i}"
    parts.append(f"""fin AS MATERIALIZED (SELECT x.vec_id, {prev}.j,
        {dist('x.xi', f'{prev}.c')} AS dist
        FROM x CROSS JOIN {prev})""")
    return parts


def fit_sample_pred(fit_mod: int) -> str:
    """DuckDB text of clustering._fit_sample's deterministic hash
    sample predicate (portable h60 of ``vec_id || ':fit'``)."""
    h = h60_sql("CAST(vec_id AS VARCHAR) || ':fit'")
    return f"{h} % {fit_mod} = 0"


def _xfit_part(fit_mod: int) -> str:
    return f"xfit AS MATERIALIZED (SELECT vec_id FROM x WHERE {fit_sample_pred(fit_mod)})"


def _x_part(table: str) -> str:
    return f"""x AS MATERIALIZED (SELECT vec_id,
  list_transform(embedding,
                 v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xi
  FROM {table})"""


def cluster_embeddings_sql(k: int = 8, iters: int = 2, dim: int = 64,
                           table: str = "embeddings",
                           fit_mod: int | None = None) -> str:
    """Mirror of clustering.cluster_embeddings: the Lloyd iterations
    unroll into CTE chains (assign_i -> update_i).  All-integer
    micro-unit arithmetic, so every step replays exactly; the
    centroid refresh floor(sum/count) is the same single IEEE double
    division both engines perform."""
    parts = ([_x_part(table)]
             + ([_xfit_part(fit_mod)] if fit_mod else [])
             + _km_parts(k, iters, dim, fit=fit_mod is not None))
    return f"""
WITH {', '.join(parts)}
SELECT vec_id, CAST(j AS INT) AS cluster, CAST(dist AS BIGINT) AS dist_q
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, j) AS rn FROM fin)
WHERE rn = 1 ORDER BY vec_id"""


def assign_cells_sql(n_cells: int = 80, table: str = "embeddings") -> str:
    """Mirror of clustering._assign — and therefore of
    clustering.assign_two_level at full probe width, which is
    bit-identical to it by construction: nearest of the first
    ``n_cells`` corpus rows (ordered by vec_id, cell index = rank-1)
    under exact int64 micro-unit squared L2 with the first-minimum
    (smallest cell index) tie-break.  Fully relational — no Lloyd CTE
    chain — so the driver gate replays the hierarchical assignment
    kernel itself."""
    return f"""
WITH {_x_part(table)},
cent AS (SELECT xi AS ci, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j
         FROM x ORDER BY vec_id LIMIT {n_cells}),
d AS (SELECT x.vec_id, cent.j,
             list_sum(list_transform(list_zip(x.xi, cent.ci),
                                     p -> (p[1] - p[2]) * (p[1] - p[2])))
               AS dist
      FROM x CROSS JOIN cent)
SELECT vec_id, CAST(j AS INT) AS cluster, CAST(dist AS BIGINT) AS dist_q
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY dist, j) AS rn FROM d)
WHERE rn = 1 ORDER BY vec_id"""


def semantic_dedup_sql(k: int = 8, iters: int = 2, threshold: float = 0.8,
                       dim: int = 64, table: str = "embeddings",
                       fit_mod: int | None = None) -> str:
    """Mirror of clustering.semantic_dedup: the full k-means
    assignment (cluster_embeddings_sql as a subquery) + within-cluster
    cosine pairs over L2-normalized vectors."""
    asg = cluster_embeddings_sql(k=k, iters=iters, dim=dim, table=table,
                                 fit_mod=fit_mod)
    return f"""
WITH asg AS ({asg}),
{_NORMED},
b AS (SELECT asg.vec_id, asg.cluster, normed.v
      FROM asg JOIN normed ON asg.vec_id = normed.vec_id),
pairs AS (SELECT l.vec_id AS a, r.vec_id AS b, l.cluster, l.v AS va, r.v AS vb
          FROM b l JOIN b r ON l.cluster = r.cluster AND l.vec_id < r.vec_id),
cos AS (SELECT a, b, cluster,
               ROUND(list_sum(list_transform(list_zip(va, vb),
                                             q -> q[1] * q[2])), 6) AS cosine
        FROM pairs)
SELECT a, b, cluster, cosine FROM cos
WHERE cosine >= {threshold} ORDER BY a, b"""


def _pq_parts(m: int, k: int, iters: int, dim: int,
              table: str, src: str = "x",
              fit: bool = False) -> tuple[list, int]:
    """Shared CTE chain for the PQ oracles: codebook training + the
    per-subspace code/dist frames f{s}; final codebooks are
    cb{s}_{iters}.  ``src`` names the (vec_id, xi) CTE the subspace
    slices read — ``x`` for raw vectors, a residual CTE for IVF-PQ.
    ``fit`` semijoins codebook init + Lloyd passes against the
    caller-provided ``xfit`` id CTE (clustering._fit_sample mirror;
    x and xres share vec_ids, so one xfit serves both); the final
    encode f{s} stays full."""
    fj = " JOIN xfit USING (vec_id)" if fit else ""
    sub = dim // m

    def dist(xi: str, c: str) -> str:
        return (f"list_sum(list_transform(range(1, {sub + 1}), "
                f"d -> ({xi}[d] - {c}[d]) * ({xi}[d] - {c}[d])))")

    parts = [_x_part(table)]
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        parts.append(f"""xs{s} AS MATERIALIZED (SELECT vec_id, list_slice(xi, {lo}, {hi}) AS xs FROM {src}),
cb{s}_0 AS MATERIALIZED (SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS j,
                   xs AS c
            FROM (SELECT vec_id, xs FROM xs{s}{fj} ORDER BY vec_id LIMIT {k}))""")
        prev = f"cb{s}_0"
        for it in range(1, iters + 1):
            parts.append(f"""d{s}_{it} AS MATERIALIZED (SELECT xs{s}.vec_id, xs{s}.xs, {prev}.j,
        {dist(f'xs{s}.xs', f'{prev}.c')} AS dist
        FROM xs{s}{fj} CROSS JOIN {prev}),
a{s}_{it} AS MATERIALIZED (SELECT vec_id, xs, j AS cluster FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, j) AS rn FROM d{s}_{it})
        WHERE rn = 1),
s{s}_{it} AS MATERIALIZED (SELECT cluster, r.d, SUM(xs[r.d]) AS sv, COUNT(*) AS cnt
        FROM a{s}_{it} CROSS JOIN range(1, {sub + 1}) r(d)
        GROUP BY cluster, r.d),
n{s}_{it} AS MATERIALIZED (SELECT cluster AS j,
               list(CAST(FLOOR(CAST(sv AS DOUBLE) / cnt) AS BIGINT)
                    ORDER BY d) AS c
        FROM s{s}_{it} GROUP BY cluster),
cb{s}_{it} AS MATERIALIZED (SELECT {prev}.j, COALESCE(n{s}_{it}.c, {prev}.c) AS c
        FROM {prev} LEFT JOIN n{s}_{it} ON n{s}_{it}.j = {prev}.j)""")
            prev = f"cb{s}_{it}"
        parts.append(f"""f{s} AS MATERIALIZED (SELECT vec_id, j AS code, dist FROM (
          SELECT xs{s}.vec_id, {prev}.j,
                 {dist(f'xs{s}.xs', f'{prev}.c')} AS dist,
                 ROW_NUMBER() OVER (PARTITION BY xs{s}.vec_id
                                    ORDER BY {dist(f'xs{s}.xs', f'{prev}.c')},
                                             {prev}.j) AS rn
          FROM xs{s} CROSS JOIN {prev}) WHERE rn = 1)""")
    return parts, sub


def pq_encode_sql(m: int = 8, k: int = 16, iters: int = 1, dim: int = 64,
                  table: str = "embeddings",
                  fit_mod: int | None = None) -> str:
    """Mirror of clustering.pq_encode: per-subspace Lloyd chains over
    list_slice sub-vectors, then the joined code/distortion output."""
    parts, _ = _pq_parts(m, k, iters, dim, table,
                         fit=fit_mod is not None)
    if fit_mod:
        parts.insert(1, _xfit_part(fit_mod))
    code_cat = " || ',' || ".join(
        f"CAST(f{s}.code AS VARCHAR)" for s in range(m))
    dist_sum = " + ".join(f"f{s}.dist" for s in range(m))
    joins = " ".join(f"JOIN f{s} USING (vec_id)" for s in range(1, m))
    return f"""
WITH {', '.join(parts)}
SELECT vec_id, {code_cat} AS pq_code, CAST({dist_sum} AS BIGINT) AS dist_q
FROM f0 {joins} ORDER BY vec_id"""


def pq_search_sql(queries_pred: str = "vec_id < 5", k_top: int = 10,
                  m: int = 8, k: int = 16, iters: int = 1, dim: int = 64,
                  table: str = "embeddings",
                  fit_mod: int | None = None) -> str:
    """Mirror of clustering.pq_search (ADC): the SAME codebook chain,
    per-(query, cand) distance summed from the query's sub-vector to
    the centroid each code points at."""
    parts, sub = _pq_parts(m, k, iters, dim, table,
                           fit=fit_mod is not None)
    if fit_mod:
        parts.insert(1, _xfit_part(fit_mod))

    def dist(xi: str, c: str) -> str:
        return (f"list_sum(list_transform(range(1, {sub + 1}), "
                f"d -> ({xi}[d] - {c}[d]) * ({xi}[d] - {c}[d])))")

    code_cols = ", ".join(f"f{s}.code AS c{s}" for s in range(m))
    joins = " ".join(f"JOIN f{s} USING (vec_id)" for s in range(1, m))
    bjoins = " ".join(f"JOIN cb{s}_{iters} b{s} ON b{s}.j = codes.c{s}"
                      for s in range(m))
    adc = " + ".join(
        dist(f"list_slice(q.xi, {s * sub + 1}, {(s + 1) * sub})", f"b{s}.c")
        for s in range(m))
    return f"""
WITH {', '.join(parts)},
codes AS (SELECT f0.vec_id AS cand_id, {code_cols} FROM f0 {joins}),
q AS (SELECT vec_id AS query_id, xi FROM x WHERE {queries_pred}),
scored AS (SELECT q.query_id, codes.cand_id,
                  CAST({adc} AS BIGINT) AS adc_q
           FROM q CROSS JOIN codes {bjoins}
           WHERE codes.cand_id <> q.query_id),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_q, cand_id) AS rank
      FROM scored)
SELECT query_id, cand_id, adc_q, rank FROM r
WHERE rank <= {k_top} ORDER BY query_id, rank"""


def _ivfpq_chain(queries_pred: str, n_cells: int, n_probe: int, m: int,
                 k: int, iters: int, coarse_iters: int, dim: int,
                 table: str, fit_mod: int | None = None) -> list:
    """Shared CTE chain for the IVF-PQ oracles, ending with the
    ``scored`` CTE (query_id, cand_id, adc_q over probed cells only):
    x + coarse k-means chain (_km_parts) + residual CTE + PQ chain
    sourced from the residuals; probe gating is the per-query
    top-n_probe cells, and ADC distances use the query's residual in
    the PROBED cell against the residual codebooks."""
    km = _km_parts(n_cells, coarse_iters, dim, fit=fit_mod is not None)
    pq, sub = _pq_parts(m, k, iters, dim, table, src="xres",
                        fit=fit_mod is not None)

    def dist(xi: str, c: str, n: int) -> str:
        return (f"list_sum(list_transform(range(1, {n + 1}), "
                f"d -> ({xi}[d] - {c}[d]) * ({xi}[d] - {c}[d])))")

    code_cols = ", ".join(f"f{s}.code AS c{s}" for s in range(m))
    joins = " ".join(f"JOIN f{s} USING (vec_id)" for s in range(1, m))
    bjoins = " ".join(f"JOIN cb{s}_{iters} b{s} ON b{s}.j = codes.c{s}"
                      for s in range(m))
    # query residual w.r.t. the probed cell, sub-sliced per subspace
    adc = " + ".join(
        f"list_sum(list_transform(range(1, {sub + 1}), "
        f"d -> (q.xi[{s * sub} + d] - qc.c[{s * sub} + d] - b{s}.c[d]) * "
        f"(q.xi[{s * sub} + d] - qc.c[{s * sub} + d] - b{s}.c[d])))"
        for s in range(m))
    xres = f"""asg AS MATERIALIZED (SELECT vec_id, j AS cell FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY dist, j) AS rn FROM fin)
        WHERE rn = 1),
xres AS MATERIALIZED (SELECT x.vec_id,
                list_transform(range(1, {dim + 1}),
                               d -> x.xi[d] - cc.c[d]) AS xi
         FROM x JOIN asg ON asg.vec_id = x.vec_id
                JOIN c{coarse_iters} cc ON cc.j = asg.cell)"""
    parts = ([_x_part(table)]
             + ([_xfit_part(fit_mod)] if fit_mod else [])
             + km + [xres] + pq[1:])
    parts.append(f"""q AS MATERIALIZED (SELECT vec_id AS query_id, xi FROM x WHERE {queries_pred}),
probes AS MATERIALIZED (SELECT query_id, j AS cell FROM (
             SELECT q.query_id, cc.j,
                    ROW_NUMBER() OVER (
                      PARTITION BY q.query_id
                      ORDER BY {dist('q.xi', 'cc.c', dim)}, cc.j) AS rn
             FROM q CROSS JOIN c{coarse_iters} cc)
           WHERE rn <= {n_probe}),
codes AS MATERIALIZED (SELECT f0.vec_id AS cand_id, {code_cols} FROM f0 {joins}),
scored AS MATERIALIZED (SELECT q.query_id, codes.cand_id,
                  CAST({adc} AS BIGINT) AS adc_q
           FROM q JOIN probes USING (query_id)
                JOIN c{coarse_iters} qc ON qc.j = probes.cell
                JOIN asg ON asg.cell = probes.cell
                JOIN codes ON codes.cand_id = asg.vec_id
                {bjoins}
           WHERE codes.cand_id <> q.query_id)""")
    return parts


def ivfpq_search_sql(queries_pred: str = "vec_id < 5", k_top: int = 10,
                     n_cells: int = 16, n_probe: int = 4, m: int = 8,
                     k: int = 16, iters: int = 1,
                     coarse_iters: int | None = None, dim: int = 64,
                     table: str = "embeddings",
                     fit_mod: int | None = None) -> str:
    """Mirror of clustering.ivfpq_search: the _ivfpq_chain scored CTE
    ranked per query on the ADC distance."""
    if coarse_iters is None:
        coarse_iters = iters
    parts = _ivfpq_chain(queries_pred, n_cells, n_probe, m, k, iters,
                         coarse_iters, dim, table, fit_mod)
    return f"""
WITH {', '.join(parts)},
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_q, cand_id) AS rank
      FROM scored)
SELECT query_id, cand_id, adc_q, rank FROM r
WHERE rank <= {k_top} ORDER BY query_id, rank"""


def ivfpq_rerank_sql(queries_pred: str = "vec_id < 5", k_top: int = 10,
                     shortlist: int = 4, n_cells: int = 16,
                     n_probe: int = 4, m: int = 8, k: int = 16,
                     iters: int = 1, coarse_iters: int | None = None,
                     dim: int = 64, table: str = "embeddings",
                     fit_mod: int | None = None) -> str:
    """Mirror of clustering.ivfpq_rerank_search: the _ivfpq_chain
    scored CTE shortlisted to shortlist*k_top per query on the ADC
    distance, then re-ranked on the exact integer distance against
    the RAW (non-residual) quantized vectors — the same stage-2 SQL
    as pq_rerank_sql."""
    if coarse_iters is None:
        coarse_iters = iters
    parts = _ivfpq_chain(queries_pred, n_cells, n_probe, m, k, iters,
                         coarse_iters, dim, table, fit_mod)
    exact = (f"list_sum(list_transform(range(1, {dim + 1}), "
             f"d -> (cx.xi[d] - q2.xi[d]) * (cx.xi[d] - q2.xi[d])))")
    return f"""
WITH {', '.join(parts)},
short AS (SELECT query_id, cand_id, adc_q FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_q, cand_id) AS srank
            FROM scored)
          WHERE srank <= {k_top * shortlist}),
rer AS (SELECT short.query_id, short.cand_id, short.adc_q,
               CAST({exact} AS BIGINT) AS exact_q
        FROM short
        JOIN x cx ON cx.vec_id = short.cand_id
        JOIN x q2 ON q2.vec_id = short.query_id),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY exact_q, cand_id) AS rank
      FROM rer)
SELECT query_id, cand_id, adc_q, exact_q, rank FROM r
WHERE rank <= {k_top} ORDER BY query_id, rank"""


def corpus_shuffle_sql(shards: int = 8, salt: int = 0,
                       table: str = "documents",
                       id_col: str = "doc_id") -> str:
    """Mirror of curation.corpus_shuffle."""
    draw = h60_sql(f"CAST({id_col} AS VARCHAR) || '#{salt}'")
    return f"""
WITH k AS (SELECT {id_col}, {draw} AS draw, {draw} % {shards} AS shard
           FROM {table})
SELECT {id_col}, shard,
       ROW_NUMBER() OVER (PARTITION BY shard ORDER BY draw, {id_col}) - 1
         AS pos_in_shard
FROM k ORDER BY {id_col}"""


def dedup_spans_sql(span_words: int = 8, table: str = "documents") -> str:
    """Mirror of curation.dedup_spans: global first-occurrence pick per
    normalized span digest (ROW_NUMBER over (doc_id, chunk_id) order ==
    Spark's struct-min), rebuild by ordered string_agg."""
    m = span_words
    norm_chunk = ("TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(chunk_text),"
                  " '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))")
    return f"""
WITH W AS (SELECT doc_id, {_RAW_WORDS} AS w FROM {table}),
ex AS (SELECT doc_id, w,
              unnest(range(0, GREATEST(CAST(CEIL(len(w) / {float(m)}) AS INT), 1)))
                AS chunk_id
       FROM W),
c AS (SELECT doc_id, chunk_id,
             array_to_string(list_slice(w, chunk_id * {m} + 1,
                                        chunk_id * {m} + {m}), ' ')
               AS chunk_text
      FROM ex),
d AS (SELECT doc_id, chunk_id, chunk_text, MD5({norm_chunk}) AS digest FROM c),
k AS (SELECT doc_id, chunk_id, chunk_text FROM (
        SELECT d.*, ROW_NUMBER() OVER (PARTITION BY digest
                                       ORDER BY doc_id, chunk_id) AS rn
        FROM d)
      WHERE rn = 1),
reb AS (SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_id) AS text,
               COUNT(*) AS kept
        FROM k GROUP BY doc_id),
tot AS (SELECT doc_id,
               GREATEST(CAST(CEIL(len(w) / {float(m)}) AS INT), 1) AS n_spans
        FROM W)
SELECT t.doc_id, COALESCE(r.text, '') AS text,
       CAST(t.n_spans AS BIGINT) AS n_spans,
       CAST(t.n_spans - COALESCE(r.kept, 0) AS BIGINT) AS n_spans_removed
FROM tot t LEFT JOIN reb r USING (doc_id) ORDER BY t.doc_id"""


def tfidf_keywords_sql(k: int = 3, table: str = "documents") -> str:
    """Mirror of text.tfidf_keywords: identical operand order
    (tf * LN(n/df) * 1e4, floored), rank ties broken by word."""
    return f"""
WITH wx AS (SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS word
            FROM {table}),
w2 AS (SELECT * FROM wx WHERE word <> ''),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w2 GROUP BY doc_id, word),
df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM {table}),
sc AS (SELECT tf.doc_id, tf.word, tf.tf,
              CAST(FLOOR(tf.tf * LN(nn.n / df.df) * 1e4) AS BIGINT)
                AS score_q4
       FROM tf JOIN df USING (word), nn)
SELECT doc_id,
       ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY score_q4 DESC, word) AS rank,
       word, tf, score_q4
FROM sc QUALIFY rank <= {k} ORDER BY doc_id, rank"""


def bigram_fluency_sql(table: str = "documents") -> str:
    """Mirror of text.bigram_fluency: per-bigram conditional
    probability floored to ppm BEFORE the per-doc integer mean."""
    return f"""
WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM {table}),
bg AS (SELECT doc_id, w[j + 1] AS w1, w[j + 2] AS w2
       FROM d, LATERAL unnest(range(0, len(w) - 1)) AS t(j)
       WHERE len(w) >= 2),
lm2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg GROUP BY w1, w2),
lm1 AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM lm2 GROUP BY w1),
pr AS (SELECT lm2.w1, lm2.w2,
              CAST(FLOOR(lm2.c2 * 1e6 / lm1.c1) AS BIGINT) AS p_ppm
       FROM lm2 JOIN lm1 USING (w1))
SELECT doc_id, COUNT(*) AS n_bigrams,
       CAST(FLOOR(CAST(SUM(p_ppm) AS BIGINT) / COUNT(*)) AS BIGINT)
         AS fluency_ppm
FROM bg JOIN pr USING (w1, w2)
GROUP BY doc_id ORDER BY doc_id"""


def split_sql(val_frac: float = 0.1, test_frac: float = 0.1,
              salt: int = 0, table: str = "documents") -> str:
    """Mirror of curation.split_train_val_test."""
    test_ppm = int(round(test_frac * 1_000_000))
    val_ppm = test_ppm + int(round(val_frac * 1_000_000))
    h = h60_sql(f"(CAST(doc_id AS VARCHAR) || ':{salt}')")
    return f"""
SELECT doc_id,
       CASE WHEN {h} % 1000000 < {test_ppm} THEN 'test'
            WHEN {h} % 1000000 < {val_ppm} THEN 'val'
            ELSE 'train' END AS split
FROM {table} ORDER BY doc_id"""


def split_by_group_sql(val_frac: float = 0.1, test_frac: float = 0.1,
                       salt: int = 0, jaccard_threshold: float = 0.5,
                       table: str = "documents") -> str:
    """Mirror of curation.split_by_group (minhash pairs → connected
    components → group-keyed h60 split, singletons keyed by own id)."""
    test_ppm = int(round(test_frac * 1_000_000))
    val_ppm = test_ppm + int(round(val_frac * 1_000_000))
    groups = dup_groups_sql(minhash_pairs_sql(
        jaccard_threshold=jaccard_threshold, table=table))
    h = h60_sql(f"(CAST(COALESCE(g.group_id, d.doc_id) AS VARCHAR) "
                f"|| ':{salt}')")
    return f"""
WITH g AS ({groups})
SELECT d.doc_id, COALESCE(g.group_id, d.doc_id) AS group_id,
       CASE WHEN {h} % 1000000 < {test_ppm} THEN 'test'
            WHEN {h} % 1000000 < {val_ppm} THEN 'val'
            ELSE 'train' END AS split
FROM {table} d LEFT JOIN g ON d.doc_id = g.doc_id
ORDER BY d.doc_id"""


def quantize_int8_sql(dim: int = 64, table: str = "embeddings") -> str:
    """Mirror of similarity.quantize_int8: FLOAT arithmetic stays
    FLOAT until the same promotion points as the Spark expressions."""
    return f"""
WITH ex AS (SELECT vec_id, j, embedding[j + 1] AS x
            FROM {table}, LATERAL unnest(range(0, {dim})) AS t(j)),
st AS (SELECT j, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY j),
q AS (SELECT vec_id, j, x, mn, mx,
             CASE WHEN mx > mn
                  THEN CAST(ROUND((CAST(x AS DOUBLE) - mn) * 255.0
                                  / (mx - mn)) AS BIGINT) - 128
                  ELSE 0 END AS code
      FROM ex JOIN st USING (j)),
r AS (SELECT vec_id, j, code, x,
             CASE WHEN mx > mn
                  THEN (CAST(code AS DOUBLE) + 128.0) * (mx - mn) / 255.0 + mn
                  ELSE CAST(mn AS DOUBLE) END AS deq
      FROM q)
SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
       CAST(FLOOR(MAX(ABS(CAST(x AS DOUBLE) - deq)) * 1e6) AS BIGINT)
         AS max_err_q6
FROM r GROUP BY vec_id ORDER BY vec_id"""


def rrf_fuse_sql(queries: list[str], k: int = 10, dim: int = 16,
                 pool: int = 20, rrf_k: int = 60,
                 table: str = "documents") -> str:
    """Mirror of search.rrf_fuse: BM25 CTEs as in bm25_topk_sql
    (pool-deep), hash-embed cosine side with the same literal query
    vectors, integer RRF fusion."""
    import re

    from .dual import _fmt_num
    from .operators.search import _query_terms
    from .phash import h60_py

    terms = _query_terms(queries)
    tf_cols = ", ".join(
        f"CAST(len(list_filter(w, x -> x = '{t}')) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(terms))
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms)))
    one, half = _fmt_num(1.0), _fmt_num(0.5)
    k1s, bs, k11 = _fmt_num(1.2), _fmt_num(0.75), _fmt_num(1.2 + 1.0)

    def term_score(i: int) -> str:
        idf = f"LN({one} + (n - df_{i} + {half}) / (df_{i} + {half}))"
        return (f"({idf} * (tf_{i} * {k11}) / (tf_{i} + {k1s} * "
                f"({one} - {bs} + {bs} * dl / avgdl)))")

    bm_sel, sem_sel = [], []
    for qi, q in enumerate(queries):
        idxs = [terms.index(tok) for tok in _query_terms([q])]
        score = " + ".join(term_score(i) for i in idxs)
        bm_sel.append(
            f"SELECT doc_id, {qi} AS query_id, "
            f"CAST(FLOOR(({score}) * {_fmt_num(1e4)}) AS BIGINT) AS score_q4 "
            f"FROM t, st")
        norm = re.sub(r"\s+", " ",
                      re.sub(r"[^a-z0-9\s]", " ", q.lower())).strip()
        qv = [0] * dim
        for tok in norm.split(" "):
            if tok:
                qv[h60_py(tok) % dim] += 1
        qnorm = sum(x * x for x in qv) ** 0.5
        dot = " + ".join(f"dv[{i + 1}] * {qv[i]}"
                         for i in range(dim) if qv[i]) or "0"
        sem_sel.append(
            f"SELECT doc_id, {qi} AS query_id, "
            f"CAST(FLOOR({_fmt_num(1e6)} * CAST(({dot}) AS DOUBLE) / "
            f"({_fmt_num(qnorm)} * SQRT(CAST(dd AS DOUBLE)))) AS BIGINT) "
            f"AS cos_q6 FROM e")
    bm_union = " UNION ALL ".join(bm_sel)
    sem_union = " UNION ALL ".join(sem_sel)
    return f"""
WITH d AS (SELECT doc_id, string_split({_NORM}, ' ') AS w FROM {table}),
t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, {tf_cols} FROM d),
st AS (SELECT COUNT(*) AS n,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, {df_cols}
       FROM t),
bsc AS ({bm_union}),
bm AS (SELECT query_id, doc_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score_q4 DESC, doc_id) AS rank_bm
       FROM bsc WHERE score_q4 > 0
       QUALIFY rank_bm <= {pool}),
hb AS (SELECT doc_id, list_transform(string_split({_NORM}, ' '),
                                     s -> {h60_sql('s')} % {dim}) AS hs
       FROM {table}),
e AS (SELECT doc_id,
             list_transform(range(0, {dim}),
               kk -> CAST(len(list_filter(hs, h -> h = kk)) AS BIGINT)) AS dv,
             CAST(list_sum(list_transform(
               list_transform(range(0, {dim}),
                 kk -> CAST(len(list_filter(hs, h -> h = kk)) AS BIGINT)),
               x -> x * x)) AS BIGINT) AS dd
      FROM hb),
ssc AS ({sem_union}),
se AS (SELECT query_id, doc_id,
              ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_q6 DESC, doc_id) AS rank_sem
       FROM ssc WHERE cos_q6 > 0
       QUALIFY rank_sem <= {pool}),
fu AS (SELECT COALESCE(bm.query_id, se.query_id) AS query_id,
              COALESCE(bm.doc_id, se.doc_id) AS doc_id,
              CAST(COALESCE(CAST(FLOOR({_fmt_num(1e9)} / ({rrf_k} + rank_bm))
                                 AS BIGINT), 0)
                   + COALESCE(CAST(FLOOR({_fmt_num(1e9)} / ({rrf_k}
                                         + rank_sem)) AS BIGINT), 0)
                   AS BIGINT) AS rrf_q9
       FROM bm FULL OUTER JOIN se
         ON bm.query_id = se.query_id AND bm.doc_id = se.doc_id)
SELECT query_id,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY rrf_q9 DESC, doc_id) AS rank,
       doc_id, rrf_q9
FROM fu QUALIFY rank <= {k} ORDER BY query_id, rank"""


def minhash_cross_sql(incoming_pred: str, num_hashes: int = 64,
                      bands: int = 16, shingle_k: int = 5,
                      jaccard_threshold: float = 0.5,
                      table: str = "documents") -> str:
    """Mirror of dedup.dedup_minhash_cross with the incoming batch
    selected by ``incoming_pred`` and the corpus being its complement."""
    p = (1 << 31) - 1
    rpb = num_hashes // bands
    sig_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {2 * j + 1} + {j * 2654435761 % p}) % {p}))"
        for j in range(num_hashes))
    return f"""
WITH {_shingles_cte(shingle_k, table)},
base AS (SELECT doc_id, list_transform(sh, s -> {h60_sql('s')} % {p}) AS hs FROM sh),
sig AS (SELECT doc_id, [{sig_exprs}] AS signature FROM base),
bands AS (SELECT doc_id, signature, band_id,
                 list_slice(signature, band_id * {rpb} + 1, band_id * {rpb} + {rpb}) AS sl
          FROM sig, (SELECT unnest(range(0, {bands})) AS band_id)),
bi AS (SELECT * FROM bands WHERE {incoming_pred}),
bc AS (SELECT * FROM bands WHERE NOT ({incoming_pred})),
cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                l.signature AS sa, r.signature AS sb
         FROM bi l JOIN bc r
           ON l.band_id = r.band_id AND l.sl = r.sl),
est AS (SELECT a, b,
               len(list_filter(list_zip(sa, sb), q -> q[1] = q[2])) / {float(num_hashes)}
                 AS est_jaccard
        FROM cand)
SELECT a, b, est_jaccard FROM est
WHERE est_jaccard >= {jaccard_threshold} ORDER BY a, b"""


def containment_pairs_sql(n: int = 3, threshold: float = 0.8,
                          df_cap: int = 64,
                          table: str = "documents") -> str:
    """Mirror of dedup.containment_pairs (distinct shingles, df-capped
    postings, integer-ppm containment)."""
    thr = int(round(threshold * 1_000_000))
    return f"""
WITH {_shingles_cte(n, table)},
g AS (SELECT doc_id, {h60_sql('s.sh')} AS g
      FROM (SELECT doc_id, unnest(list_distinct(sh)) AS sh FROM sh) s),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
dfreq AS (SELECT g, COUNT(*) AS df FROM g GROUP BY g),
rare AS (SELECT g.doc_id, g.g FROM g JOIN dfreq USING (g)
         WHERE dfreq.df <= {df_cap}),
inter AS (SELECT l.doc_id AS a, r.doc_id AS b, COUNT(*) AS inter
          FROM rare l JOIN rare r ON l.g = r.g AND l.doc_id <> r.doc_id
          GROUP BY l.doc_id, r.doc_id)
SELECT a, b,
       CAST(FLOOR(inter * 1000000 / sz) AS BIGINT) AS cont_ppm
FROM inter JOIN sizes ON sizes.doc_id = inter.a
WHERE CAST(FLOOR(inter * 1000000 / sz) AS BIGINT) >= {thr}
ORDER BY a, b"""


def pca_power_sql(iters: int = 2, dim: int = 64,
                  table: str = "embeddings") -> str:
    """Mirror of clustering.pca_power: the power iterations unroll into
    CTE chains (dot_i → sums_i → v_i).  Integer micro-unit dots and
    update sums replay exactly; the normalization is the identical
    IEEE op sequence (sequential double fold of s², sqrt, per-dim
    floor(1e6·s/norm)) the Spark driver performs in Python."""
    v0 = ", ".join(["125000"] * dim)             # 0.125 · 1e6 per dim
    parts = [f"""x AS (SELECT vec_id,
  list_transform(embedding,
                 v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xi
  FROM {table}),
v0 AS (SELECT [{v0}] AS v)"""]
    prev = "v0"
    for i in range(1, iters + 1):
        sums = ", ".join(
            f"CAST(SUM(xi[{j + 1}] * ds) AS BIGINT) AS s{j}"
            for j in range(dim))
        slist = ", ".join(f"s{j}" for j in range(dim))
        parts.append(f"""d{i} AS (SELECT vec_id, xi,
  CAST(FLOOR(list_sum(list_transform(range(1, {dim + 1}),
                                     j -> xi[j] * v[j])) / 1e6) AS BIGINT)
    AS ds
  FROM x CROSS JOIN {prev}),
s{i} AS (SELECT {sums} FROM d{i}),
v{i} AS (SELECT list_transform([{slist}],
           s -> CAST(FLOOR(1e6 * CAST(s AS DOUBLE) /
                SQRT(list_reduce(list_transform([{slist}],
                       t -> CAST(t AS DOUBLE) * CAST(t AS DOUBLE)),
                     (a, b) -> a + b))) AS BIGINT)) AS v
         FROM s{i})""")
        prev = f"v{i}"
    return ("WITH " + ",\n".join(parts) + f"""
SELECT vec_id,
       CAST(list_sum(list_transform(range(1, {dim + 1}),
                                    j -> xi[j] * v[j])) AS BIGINT) AS proj_q
FROM x CROSS JOIN {prev} ORDER BY vec_id""")


def fm_distinct_sql(group_col: str = "event_type",
                    id_col: str = "user_id", buckets: int = 64,
                    table: str = "events") -> str:
    """Mirror of sketches.fm_distinct (registers + integer estimate;
    NULL hashes set no register)."""
    from .operators.sketches import PHI, _RHO_CAP
    scale = int(buckets / PHI)
    return f"""
WITH h AS (SELECT {group_col} AS grp,
                  {h60_sql(f"CAST({id_col} AS VARCHAR)")} AS h
           FROM {table}),
e AS (SELECT grp, h % {buckets} AS b, h // {buckets} AS r FROM h
      WHERE h IS NOT NULL),
rr AS (SELECT grp, b,
              CASE WHEN r = 0 THEN {_RHO_CAP}
                   ELSE bit_count((r & -r) - 1) + 1 END AS rho
       FROM e),
regs AS (SELECT grp, b, MAX(rho) AS reg FROM rr GROUP BY grp, b),
s AS (SELECT grp, COUNT(*) AS buckets_hit,
             CAST(SUM(reg) AS BIGINT) AS sum_reg,
             MAX(reg) AS max_reg
      FROM regs GROUP BY grp),
x AS (SELECT {group_col} AS grp,
             COUNT(DISTINCT {id_col}) AS exact_distinct
      FROM {table} GROUP BY grp)
SELECT s.grp AS {group_col}, buckets_hit, sum_reg, max_reg,
       (CAST({scale} AS BIGINT) << CAST(sum_reg // {buckets} AS INT))
         AS est_distinct,
       exact_distinct
FROM s JOIN x USING (grp) ORDER BY {group_col}"""


def hll_distinct_sql(group_col: str = "event_type",
                     id_col: str = "user_id", m: int = 64,
                     table: str = "events") -> str:
    """Mirror of sketches.hll_distinct (scaled-integer harmonic sum,
    literal linear-counting table — transcendental-free; NULL hashes
    set no register)."""
    from .operators.sketches import (_HLL_S, _RHO_CAP, _hll_alpha1000,
                                     _hll_lc_table)
    lc_items = ",".join(str(v) for v in _hll_lc_table(m))
    return f"""
WITH h AS (SELECT {group_col} AS grp,
                  {h60_sql(f"CAST({id_col} AS VARCHAR)")} AS h
           FROM {table}),
e AS (SELECT grp, h % {m} AS b, h // {m} AS r FROM h
      WHERE h IS NOT NULL),
rr AS (SELECT grp, b,
              LEAST(CASE WHEN r = 0 THEN {_RHO_CAP}
                         ELSE bit_count((r & -r) - 1) + 1 END,
                    {_HLL_S}) AS rho
       FROM e),
regs AS (SELECT grp, b, MAX(rho) AS reg FROM rr GROUP BY grp, b),
s AS (SELECT grp, COUNT(*) AS buckets_hit,
             CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_S} - reg)) AS BIGINT)
               AS z_num
      FROM regs GROUP BY grp),
z AS (SELECT grp, buckets_hit,
             z_num + (({m} - buckets_hit) *
                      (CAST(1 AS BIGINT) << {_HLL_S})) AS z_scaled
      FROM s),
est AS (SELECT grp, buckets_hit, z_scaled,
               ({_hll_alpha1000(m)} * (({m * m} * (CAST(1 AS BIGINT) << {_HLL_S}))
                       // z_scaled)) // 1000 AS est_raw
        FROM z),
x AS (SELECT {group_col} AS grp,
             COUNT(DISTINCT {id_col}) AS exact_distinct
      FROM {table} GROUP BY grp)
SELECT est.grp AS {group_col}, buckets_hit, z_scaled,
       CAST(CASE WHEN buckets_hit < {m} AND est_raw <= {int(2.5 * m)}
                 THEN [{lc_items}][CAST({m} - buckets_hit AS INT) + 1]
                 ELSE est_raw END AS BIGINT) AS est_hll,
       exact_distinct
FROM est JOIN x USING (grp) ORDER BY {group_col}"""


def fm_rollup_sql(group_col: str = "event_type", id_col: str = "user_id",
                  buckets: int = 64, table: str = "events") -> str:
    """Mirror of sketches.fm_distinct_rollup: daily registers MAX-merge
    upward; estimates and exact distincts per scope."""
    from .operators.sketches import PHI, _RHO_CAP
    scale = int(buckets / PHI)
    est = (f"(CAST({scale} AS BIGINT) << CAST(sum_reg // {buckets} AS INT))"
           " AS est_distinct")
    return f"""
WITH h AS (SELECT {group_col} AS grp, CAST(ts AS DATE) AS day,
                  {h60_sql(f"CAST({id_col} AS VARCHAR)")} AS h
           FROM {table}),
e AS (SELECT grp, day, h % {buckets} AS b, h // {buckets} AS r FROM h
      WHERE h IS NOT NULL),
rr AS (SELECT grp, day, b,
              CASE WHEN r = 0 THEN {_RHO_CAP}
                   ELSE bit_count((r & -r) - 1) + 1 END AS rho
       FROM e),
daily AS (SELECT grp, day, b, MAX(rho) AS reg FROM rr GROUP BY grp, day, b),
pg AS (SELECT grp, b, MAX(reg) AS reg FROM daily GROUP BY grp, b),
al AS (SELECT b, MAX(reg) AS reg FROM daily GROUP BY b),
s_day AS (SELECT 'day' AS scope, grp, day,
                 CAST(SUM(reg) AS BIGINT) AS sum_reg
          FROM daily GROUP BY grp, day),
s_grp AS (SELECT 'group' AS scope, grp, DATE '1900-01-01' AS day,
                 CAST(SUM(reg) AS BIGINT) AS sum_reg
          FROM pg GROUP BY grp),
s_all AS (SELECT 'all' AS scope, '(all)' AS grp, DATE '1900-01-01' AS day,
                 CAST(SUM(reg) AS BIGINT) AS sum_reg
          FROM al),
sk AS (SELECT scope, grp, day, {est} FROM s_day
       UNION ALL SELECT scope, grp, day, {est} FROM s_grp
       UNION ALL SELECT scope, grp, day, {est} FROM s_all),
x_day AS (SELECT 'day' AS scope, {group_col} AS grp, CAST(ts AS DATE) AS day,
                 COUNT(DISTINCT {id_col}) AS exact_distinct
          FROM {table} GROUP BY grp, day),
x_grp AS (SELECT 'group' AS scope, {group_col} AS grp,
                 DATE '1900-01-01' AS day,
                 COUNT(DISTINCT {id_col}) AS exact_distinct
          FROM {table} GROUP BY grp),
x_all AS (SELECT 'all' AS scope, '(all)' AS grp, DATE '1900-01-01' AS day,
                 COUNT(DISTINCT {id_col}) AS exact_distinct
          FROM {table}),
x AS (SELECT * FROM x_day UNION ALL SELECT * FROM x_grp
      UNION ALL SELECT * FROM x_all)
SELECT sk.scope, sk.grp AS {group_col}, sk.day, est_distinct, exact_distinct
FROM sk JOIN x ON sk.scope = x.scope AND sk.grp = x.grp AND sk.day = x.day
ORDER BY sk.scope, sk.grp, sk.day"""


def cm_heavy_hitters_sql(k: int = 10, depth: int = 4, width: int = 1024,
                         table: str = "documents") -> str:
    """Mirror of sketches.cm_heavy_hitters."""
    bkts = ", ".join(h60_sql(f"w || '#cm{r}'") + f" % {width}"
                     for r in range(depth))
    return f"""
WITH wx AS (SELECT unnest(string_split({_NORM}, ' ')) AS w FROM {table}),
wc AS (SELECT w, COUNT(*) AS n FROM wx WHERE w <> '' GROUP BY w),
cl AS (SELECT w, n, unnest([{bkts}]) AS bkt,
              unnest(range({depth})) AS r
       FROM wc),
cells AS (SELECT r, bkt, CAST(SUM(n) AS BIGINT) AS cell
          FROM cl GROUP BY r, bkt),
topk AS (SELECT w, n,
                ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rank
         FROM wc QUALIFY rank <= {k}),
cand AS (SELECT w, n, rank, unnest([{bkts}]) AS bkt,
                unnest(range({depth})) AS r
         FROM topk)
SELECT cand.w AS word, cand.n AS exact_n,
       CAST(MIN(cells.cell) AS BIGINT) AS cm_est, rank
FROM cand JOIN cells USING (r, bkt)
GROUP BY cand.w, cand.n, rank
ORDER BY rank"""


def pagerank_sql(pairs_sql: str, iters: int = 2,
                 damping_ppm: int = 850_000) -> str:
    """Mirror of graph.pagerank — unrolled iteration CTEs, all-LONG
    integer division (``//``) matching Spark's ``div``."""
    base = 1_000_000 - damping_ppm
    parts = [f"pairs AS ({pairs_sql})",
             """sym AS (SELECT a AS src, b AS dst FROM pairs
       UNION SELECT b AS src, a AS dst FROM pairs)""",
             "deg AS (SELECT src, COUNT(*) AS deg FROM sym GROUP BY src)",
             """r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r
       FROM deg)"""]
    prev = "r0"
    for i in range(1, iters + 1):
        parts.append(f"""c{i} AS (SELECT dst, CAST(r // deg AS BIGINT) AS c
       FROM sym JOIN {prev} ON sym.src = {prev}.node
                JOIN deg USING (src)),
r{i} AS (SELECT dst AS node,
                CAST({base} + (CAST(SUM(c) AS BIGINT) * {damping_ppm})
                     // 1000000 AS BIGINT) AS r
         FROM c{i} GROUP BY dst)""")
        prev = f"r{i}"
    return ("WITH " + ",\n".join(parts)
            + f"\nSELECT node AS doc_id, r AS pr_ppm FROM {prev} "
              "ORDER BY doc_id")


def neighbor_jaccard_sql(pairs_sql: str,
                         min_jaccard_ppm: int = 0,
                         max_center_degree: int | None = None) -> str:
    """Mirror of graph.neighbor_jaccard over the same pair source.
    ``max_center_degree`` mirrors the Spark-side wedge-center cap as
    one HAVING clause on the centers CTE; degrees in the output stay
    full."""
    if max_center_degree is None:
        wsrc = "sym"
        centers = ""
    else:
        centers = f"""
centers AS (SELECT u FROM sym GROUP BY u
            HAVING COUNT(*) <= {max_center_degree}),
wsrc AS (SELECT s.u, s.v FROM sym s JOIN centers c ON s.u = c.u),"""
        wsrc = "wsrc"
    return f"""
WITH pairs AS ({pairs_sql}),
sym AS (SELECT a AS u, b AS v FROM pairs
        UNION SELECT b AS u, a AS v FROM pairs),{centers}
co AS (SELECT l.v AS x, r.v AS y, COUNT(*) AS common
       FROM {wsrc} l JOIN {wsrc} r ON l.u = r.u AND l.v < r.v
       GROUP BY x, y),
deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u)
SELECT x AS a, y AS b, CAST(common AS BIGINT) AS common,
       CAST(da.deg AS BIGINT) AS deg_a, CAST(db.deg AS BIGINT) AS deg_b,
       CAST(common * 1000000 // (da.deg + db.deg - common) AS BIGINT)
         AS jaccard_ppm
FROM co JOIN deg da ON co.x = da.u JOIN deg db ON co.y = db.u
{('WHERE common * 1000000 // (da.deg + db.deg - common) >= '
  + str(min_jaccard_ppm)) if min_jaccard_ppm > 0 else ''}
ORDER BY a, b"""


def bfs_distances_sql(pairs_sql: str, seeds_sql: str,
                      rounds: int = 4) -> str:
    """Mirror of graph.bfs_distances: depth-bounded recursive CTE
    (UNION ALL with d < rounds terminates regardless of cycles),
    MIN(d) per reached node."""
    return f"""
WITH RECURSIVE prs AS ({pairs_sql}),
edges AS (SELECT a AS src, b AS dst FROM prs
          UNION SELECT b, a FROM prs),
seeds AS ({seeds_sql}),
reach(node, d) AS (
  SELECT node, 0 FROM seeds
  UNION ALL
  SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.d < {rounds}
)
SELECT node, CAST(MIN(d) AS BIGINT) AS dist
FROM reach GROUP BY node ORDER BY node"""


def kcore_sql(pairs_sql: str, k: int = 2, rounds: int = 3) -> str:
    """Mirror of graph.kcore — the bounded peel unrolls into one CTE
    chain per round (degree → keep → restricted edges), then the
    final surviving-degree readout."""
    parts = [f"pairs AS ({pairs_sql})",
             """e0 AS (SELECT a AS src, b AS dst FROM pairs
       UNION SELECT b AS src, a AS dst FROM pairs)"""]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(f"""d{i} AS (SELECT src, COUNT(*) AS deg
        FROM {prev} GROUP BY src),
k{i} AS (SELECT src FROM d{i} WHERE deg >= {k}),
e{i} AS (SELECT e.src, e.dst FROM {prev} e
         JOIN k{i} s ON e.src = s.src
         JOIN k{i} t ON e.dst = t.src)""")
        prev = f"e{i}"
    return ("WITH " + ",\n".join(parts)
            + f"""
SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
FROM {prev} GROUP BY src HAVING COUNT(*) >= {k} ORDER BY node""")


def bigram_boilerplate_sql(min_df: int = 3,
                           table: str = "documents") -> str:
    """Mirror of text.bigram_boilerplate: word bigrams of normalized
    text (DuckDB lists are 1-based; bigram i = W[i] || ' ' || W[i+1]),
    document frequency per bigram, per-doc common-occurrence ppm."""
    return f"""
WITH w AS (SELECT doc_id, string_split({_NORM}, ' ') AS W FROM {table}),
bi AS (SELECT doc_id, W[i] || ' ' || W[i + 1] AS bg
       FROM (SELECT doc_id, W, unnest(range(1, len(W))) AS i FROM w)),
dfc AS (SELECT bg, COUNT(DISTINCT doc_id) AS df FROM bi GROUP BY bg)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN df >= {min_df} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_common,
       CAST(SUM(CASE WHEN df >= {min_df} THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS common_ppm
FROM bi JOIN dfc USING (bg)
GROUP BY doc_id ORDER BY doc_id"""


def ann_range_sql(min_cosine: float = 0.2,
                  query_pred: str = "vec_id < 5") -> str:
    """Mirror of similarity.ann_range (thresholded exact cosine)."""
    return f"""
WITH {_NORMED},
q AS (SELECT vec_id AS query_id, v AS qv FROM normed WHERE {query_pred}),
scored AS (SELECT query_id, c.vec_id AS cand_id,
                  ROUND(list_sum(list_transform(list_zip(qv, c.v),
                                                p -> p[1] * p[2])), 6)
                    AS cosine
           FROM normed c CROSS JOIN q WHERE c.vec_id <> query_id)
SELECT query_id, cand_id, cosine FROM scored
WHERE cosine >= {min_cosine} ORDER BY query_id, cand_id"""


def grid_density_sql(points_sql: str, cell_udeg: int = 50_000,
                     lat_col: str = "latitude",
                     lon_col: str = "longitude",
                     min_points: int = 1) -> str:
    """Mirror of geo.grid_density over a generated point set."""
    from .operators.geo import UDEG
    return f"""
WITH pts AS ({points_sql}),
cells AS (SELECT
    CAST(FLOOR(CAST(FLOOR({lon_col} * {UDEG}) AS BIGINT) / {cell_udeg})
         AS BIGINT) AS cx,
    CAST(FLOOR(CAST(FLOOR({lat_col} * {UDEG}) AS BIGINT) / {cell_udeg})
         AS BIGINT) AS cy
  FROM pts)
SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_points
FROM cells GROUP BY cx, cy
HAVING COUNT(*) >= {min_points} ORDER BY cx, cy"""


def column_stats_sql(cols: list[str], table: str = "events") -> str:
    """Mirror of io.column_stats: one UNION ALL branch per column
    (DuckDB has no stack); min/max rendered as VARCHAR."""
    branches = []
    for c in cols:
        branches.append(f"""SELECT '{c}' AS col,
       CAST(COUNT({c}) AS BIGINT) AS n_non_null,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_null,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv,
       CAST(MIN({c}) AS VARCHAR) AS min_s,
       CAST(MAX({c}) AS VARCHAR) AS max_s
FROM {table}""")
    return ("SELECT * FROM (" + " UNION ALL ".join(branches)
            + ") ORDER BY col")


def column_stats_sketch_sql(cols: list[str], table: str = "events",
                            m: int = 64) -> str:
    """Mirror of io.column_stats(ndv_mode='sketch'): per column the
    SAME engine-exact HLL register pipeline as hll_distinct_sql
    (portable h60, scaled-integer harmonic sum, literal
    linear-counting table), one UNION ALL branch per column (DuckDB
    has no stack).  Bit-identical to the Spark side by construction."""
    from .operators.sketches import (_HLL_S, _RHO_CAP, _hll_alpha1000,
                                     _hll_lc_table)
    lc_items = ",".join(str(v) for v in _hll_lc_table(m))
    ctes, branches = [], []
    for c in cols:
        h = h60_sql(f"CAST({c} AS VARCHAR)")
        ctes.append(f"""{c}_regs AS (
  SELECT h % {m} AS b,
         MAX(LEAST(CASE WHEN h // {m} = 0 THEN {_RHO_CAP}
                        ELSE bit_count(((h // {m}) & -(h // {m})) - 1) + 1
                   END, {_HLL_S})) AS reg
  FROM (SELECT {h} AS h FROM {table} WHERE {c} IS NOT NULL)
  GROUP BY b)""")
        ctes.append(f"""{c}_nd AS (
  SELECT CAST(CASE WHEN hits = 0 THEN 0
                   WHEN hits < {m} AND raw <= {int(2.5 * m)}
                   THEN [{lc_items}][CAST({m} - hits AS INT) + 1]
                   ELSE raw END AS BIGINT) AS ndv
  FROM (SELECT hits,
               ({_hll_alpha1000(m)} * (({m * m} * (CAST(1 AS BIGINT) << {_HLL_S}))
                       // z_scaled)) // 1000 AS raw
        FROM (SELECT hits,
                     z_num + (({m} - hits) *
                              (CAST(1 AS BIGINT) << {_HLL_S})) AS z_scaled
              FROM (SELECT COUNT(*) AS hits,
                           CAST(COALESCE(SUM(CAST(1 AS BIGINT)
                                             << ({_HLL_S} - reg)), 0)
                                AS BIGINT) AS z_num
                    FROM {c}_regs))))""")
        ctes.append(f"""{c}_base AS (
  SELECT CAST(COUNT({c}) AS BIGINT) AS n_non_null,
         CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
         CAST(MIN({c}) AS VARCHAR) AS min_s,
         CAST(MAX({c}) AS VARCHAR) AS max_s
  FROM {table})""")
        branches.append(
            f"SELECT '{c}' AS col, n_non_null, n_null, ndv, min_s, max_s "
            f"FROM {c}_base, {c}_nd")
    return ("WITH " + ",\n".join(ctes) + "\nSELECT * FROM ("
            + " UNION ALL ".join(branches) + ") ORDER BY col")


def bloom_semi_join_sql(segment: str = "BUILDING", m_bits: int = 8192,
                        k_hashes: int = 5) -> str:
    """Mirror of sketches.bloom_semi_join_stats over
    (orders ⋉ customer[segment]) grouped by o_orderpriority."""
    def pos(i: int) -> str:
        h = h60_sql("o_custkey::VARCHAR || '#bf%d'" % i)
        return f"({h} % {m_bits})"

    def kpos(i: int) -> str:
        h = h60_sql("c_custkey::VARCHAR || '#bf%d'" % i)
        return f"SELECT ({h} % {m_bits}) AS pos FROM keys"

    key_pos = " UNION ALL ".join(kpos(i) for i in range(k_hashes))
    joins = " ".join(
        f"LEFT JOIN words w{i} ON w{i}.w = f.p{i} // 32"
        for i in range(k_hashes))
    bloom = " AND ".join(
        f"((COALESCE(w{i}.word, 0) >> CAST(f.p{i} % 32 AS INT)) & 1) = 1"
        for i in range(k_hashes))
    p_cols = ", ".join(f"{pos(i)} AS p{i}" for i in range(k_hashes))
    return f"""
WITH keys AS (SELECT DISTINCT c_custkey FROM customer
              WHERE c_mktsegment = '{segment}'),
kpos AS ({key_pos}),
words AS (SELECT pos // 32 AS w,
                 bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
          FROM kpos GROUP BY 1),
f AS (SELECT o_orderpriority, o_custkey, {p_cols} FROM orders),
m AS (SELECT f.o_orderpriority,
             ({bloom}) AS bloom,
             f.o_custkey IN (SELECT c_custkey FROM keys) AS exact
      FROM f {joins})
SELECT o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN bloom THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pass,
       CAST(SUM(CASE WHEN exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN exact AND NOT bloom THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_neg
FROM m GROUP BY o_orderpriority ORDER BY o_orderpriority"""


def geo_near_sql(points_sql: str, radius_udeg: int = 50_000,
                 lat_col: str = "latitude",
                 lon_col: str = "longitude") -> str:
    """Mirror of geo.near_pairs over a generated point set."""
    from .operators.geo import _COSLAT_Q, UDEG
    ctab = "[" + ",".join(str(v) for v in _COSLAT_Q) + "]"
    offs = ", ".join(f"({dx}, {dy})" for dx in (-2, -1, 0, 1, 2)
                     for dy in (-1, 0, 1))
    adj = (f"((abs(lon_a - lon_b) * ({ctab})[CAST(LEAST("
           f"FLOOR(abs(lat_a + lat_b) / {2 * UDEG}), 89) AS INT) + 1])"
           f" // 1024)")
    return f"""
WITH pts AS ({points_sql}),
q AS (SELECT pid, CAST(FLOOR({lat_col} * {UDEG}) AS BIGINT) AS lat_u,
             CAST(FLOOR({lon_col} * {UDEG}) AS BIGINT) AS lon_u
      FROM pts),
cells AS (SELECT pid, lat_u, lon_u,
                 CAST(FLOOR(lon_u / {radius_udeg}) AS BIGINT) AS cx,
                 CAST(FLOOR(lat_u / {radius_udeg}) AS BIGINT) AS cy
          FROM q),
l AS (SELECT pid AS a, lat_u AS lat_a, lon_u AS lon_a,
             cx + o.dx AS cx, cy + o.dy AS cy
      FROM cells, (VALUES {offs}) o(dx, dy)),
cand AS (SELECT l.a, r.pid AS b, l.lat_a, l.lon_a,
                r.lat_u AS lat_b, r.lon_u AS lon_b
         FROM l JOIN cells r ON l.cx = r.cx AND l.cy = r.cy
         WHERE l.a < r.pid),
d AS (SELECT a, b,
             (lat_a - lat_b) * (lat_a - lat_b) + {adj} * {adj}
               AS dist2_udeg
      FROM cand)
SELECT a, b, dist2_udeg FROM d
WHERE dist2_udeg <= {radius_udeg * radius_udeg}
ORDER BY a, b"""


def triangles_sql(pairs_sql: str) -> str:
    """Mirror of graph.triangles — degree-ordered orientation, one
    wedge per triangle at its lowest-(deg, id) corner."""
    return f"""
WITH pairs AS ({pairs_sql}),
sym AS (SELECT a AS u, b AS v FROM pairs
        UNION SELECT b AS u, a AS v FROM pairs),
deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
o AS (SELECT s.u, s.v, dv.deg AS dv
      FROM sym s JOIN deg du ON s.u = du.u JOIN deg dv ON s.v = dv.u
      WHERE (du.deg, s.u) < (dv.deg, s.v)),
w AS (SELECT l.u, l.v AS w1, r.v AS w2
      FROM o l JOIN o r ON l.u = r.u
      WHERE (l.dv, l.v) < (r.dv, r.v)),
t AS (SELECT w.u, w.w1, w.w2
      FROM w JOIN o ON o.u = w.w1 AND o.v = w.w2)
SELECT LEAST(u, w1, w2) AS a,
       u + w1 + w2 - LEAST(u, w1, w2) - GREATEST(u, w1, w2) AS b,
       GREATEST(u, w1, w2) AS c
FROM t ORDER BY a, b, c"""


def media_dedup_sql(n: int = 400, seed: int = 23,
                    universe: int = 120) -> str:
    """Mirror of multimodal.media_dedup over synth_media(n, seed,
    payload_universe=universe): the payload is the UTF-8 bytes of the
    sha256 hex string, so md5 over those bytes equals md5 of the hex
    VARCHAR."""
    return f"""
WITH m AS (SELECT CAST(range AS BIGINT) AS media_id,
                  md5(sha256('{seed}' || CAST(range % {universe}
                                              AS VARCHAR))) AS digest,
                  CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                       ELSE 'video' END AS kind
           FROM range({n}))
SELECT digest, COUNT(*) AS n_copies,
       MIN(media_id) AS keeper_media_id,
       COUNT(DISTINCT kind) AS n_kinds
FROM m GROUP BY digest HAVING COUNT(*) > 1 ORDER BY digest"""


def kmv_sketch_sql(group_col: str = "source", k: int = 64,
                   n: int = 2, salt: int = 32,
                   table: str = "documents") -> str:
    """Mirror of sketches.kmv_sketch: two-level bottom-k over word
    n-shingles, KMV distinct estimates (one IEEE double division, both
    operands exact), and the pairwise union-coincidence Jaccard in
    integer ppm."""
    two60 = "1152921504606846976.0"  # 2^60, exactly representable
    shingle = (f"CASE WHEN len(W) >= {n} "
               f"THEN list_transform(range(0, len(W) - {n} + 1), "
               f"s -> array_to_string(list_slice(W, s + 1, s + {n}), ' ')) "
               f"ELSE [array_to_string(W, ' ')] END")
    return f"""
WITH base AS (
  SELECT DISTINCT grp, {h60_sql('w')} AS h FROM (
    SELECT grp, UNNEST(list_distinct({shingle})) AS w FROM
      (SELECT {group_col} AS grp, string_split({_NORM}, ' ') AS W
       FROM {table}))
  WHERE w <> ''),
cand AS (
  SELECT grp, h FROM (
    SELECT grp, h, ROW_NUMBER() OVER
        (PARTITION BY grp, h % {salt} ORDER BY h) AS rs
    FROM base) WHERE rs <= {k}),
sk AS (
  SELECT grp, h FROM (
    SELECT grp, h, ROW_NUMBER() OVER
        (PARTITION BY grp ORDER BY h) AS rnk
    FROM cand) WHERE rnk <= {k}),
g AS (SELECT grp, COUNT(*) AS nk, MAX(h) AS kth FROM sk GROUP BY grp),
gest AS (
  SELECT grp,
         CAST(CASE WHEN nk < {k} THEN nk
              ELSE FLOOR({k - 1} * {two60} / CAST(kth AS DOUBLE))
              END AS BIGINT) AS est_distinct
  FROM g),
pairs AS (SELECT a.grp AS ga, b.grp AS gb
          FROM gest a, gest b WHERE a.grp < b.grp),
u AS (
  SELECT ga, gb, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
    SELECT p.ga, p.gb, s.h, 1 AS ia, 0 AS ib
    FROM pairs p JOIN sk s ON s.grp = p.ga
    UNION ALL
    SELECT p.ga, p.gb, s.h, 0 AS ia, 1 AS ib
    FROM pairs p JOIN sk s ON s.grp = p.gb)
  GROUP BY ga, gb, h),
ru AS (SELECT ga, gb, h, ia, ib, ROW_NUMBER() OVER
           (PARTITION BY ga, gb ORDER BY h) AS rnk
       FROM u),
pagg AS (
  SELECT ga, gb,
         CAST(SUM(CASE WHEN rnk <= {k} AND ia = 1 AND ib = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS inter_k,
         CAST(LEAST(COUNT(*), {k}) AS BIGINT) AS kk
  FROM ru GROUP BY ga, gb)
SELECT ga, gb, ea.est_distinct AS est_a, eb.est_distinct AS est_b,
       inter_k, kk,
       CAST(FLOOR(inter_k * 1000000 / kk) AS BIGINT) AS jaccard_ppm
FROM pagg
JOIN gest ea ON ea.grp = ga
JOIN gest eb ON eb.grp = gb
ORDER BY ga, gb"""


def kmv_id_sketch_sql(group_col: str = "event_type",
                      id_col: str = "user_id", k: int = 64,
                      salt: int = 32, table: str = "events") -> str:
    """Mirror of sketches.kmv_id_sketch: bottom-k over h60(id) per
    group, pairwise union/intersection estimates (one IEEE double
    division per estimate, exactly-representable operands)."""
    two60 = "1152921504606846976.0"  # 2^60, exactly representable
    return f"""
WITH base AS (
  SELECT DISTINCT {group_col} AS grp,
         {h60_sql(f"CAST({id_col} AS VARCHAR)")} AS h
  FROM {table} WHERE {id_col} IS NOT NULL),
cand AS (
  SELECT grp, h FROM (
    SELECT grp, h, ROW_NUMBER() OVER
        (PARTITION BY grp, h % {salt} ORDER BY h) AS rs
    FROM base) WHERE rs <= {k}),
sk AS (
  SELECT grp, h FROM (
    SELECT grp, h, ROW_NUMBER() OVER
        (PARTITION BY grp ORDER BY h) AS rnk
    FROM cand) WHERE rnk <= {k}),
g AS (SELECT grp, COUNT(*) AS nk, MAX(h) AS kth FROM sk GROUP BY grp),
gest AS (
  SELECT grp,
         CAST(CASE WHEN nk < {k} THEN nk
              ELSE FLOOR({k - 1} * {two60} / CAST(kth AS DOUBLE))
              END AS BIGINT) AS est_distinct
  FROM g),
pairs AS (SELECT a.grp AS ga, b.grp AS gb
          FROM gest a, gest b WHERE a.grp < b.grp),
u AS (
  SELECT ga, gb, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
    SELECT p.ga, p.gb, s.h, 1 AS ia, 0 AS ib
    FROM pairs p JOIN sk s ON s.grp = p.ga
    UNION ALL
    SELECT p.ga, p.gb, s.h, 0 AS ia, 1 AS ib
    FROM pairs p JOIN sk s ON s.grp = p.gb)
  GROUP BY ga, gb, h),
ru AS (SELECT ga, gb, h, ia, ib, ROW_NUMBER() OVER
           (PARTITION BY ga, gb ORDER BY h) AS rnk
       FROM u),
pagg AS (
  SELECT ga, gb,
         CAST(SUM(CASE WHEN rnk <= {k} AND ia = 1 AND ib = 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS inter_k,
         CAST(LEAST(COUNT(*), {k}) AS BIGINT) AS kk,
         MAX(CASE WHEN rnk <= {k} THEN h END) AS u_kth
  FROM ru GROUP BY ga, gb),
pe AS (
  SELECT ga, gb, inter_k, kk,
         CAST(CASE WHEN kk < {k} THEN kk
              ELSE FLOOR({k - 1} * {two60} / CAST(u_kth AS DOUBLE))
              END AS BIGINT) AS union_est
  FROM pagg)
SELECT ga, gb, ea.est_distinct AS est_a, eb.est_distinct AS est_b,
       inter_k, kk,
       CAST(FLOOR(inter_k * 1000000 / kk) AS BIGINT) AS jaccard_ppm,
       union_est,
       CAST((inter_k * union_est) // kk AS BIGINT) AS inter_est
FROM pe
JOIN gest ea ON ea.grp = ga
JOIN gest eb ON eb.grp = gb
ORDER BY ga, gb"""


def _ilog2_micro_duck(x: str) -> str:
    """DuckDB twin of curation._ilog2_micro_sql — same Python-generated
    mantissa tables, DuckDB list/shift syntax."""
    from .operators.curation import _ILOG2_T0, _ILOG2_T1
    t0 = "[" + ",".join(str(v) for v in _ILOG2_T0) + "]"
    t1 = "[" + ",".join(str(v) for v in _ILOG2_T1) + "]"
    e8 = f"(length(bin({x})) - 9)"
    q = f"CAST(({x}) // (CAST(1 AS BIGINT) << {e8}) AS INT)"
    return (f"(CASE WHEN ({x}) < 256 THEN {t0}[CAST({x} AS INT) + 1] "
            f"ELSE {e8} * 1000000 + {t1}[{q} - 255] END)")


def dsir_weights_sql(target_sql: str, n_buckets: int = 256,
                     share_ppm: int = 250_000, bin_width: int = 50_000,
                     table: str = "documents") -> str:
    """Mirror of curation.dsir_weights.  ``target_sql`` is a boolean
    expression over ``W`` (the normalized word list)."""
    sh2 = ("CASE WHEN len(W) >= 2 "
           "THEN list_transform(range(0, len(W) - 1), "
           "s -> array_to_string(list_slice(W, s + 1, s + 2), ' ')) "
           "ELSE [array_to_string(W, ' ')] END")
    il = _ilog2_micro_duck
    return f"""
WITH w0 AS (SELECT doc_id, string_split({_NORM}, ' ') AS W FROM {table}),
tgt AS (SELECT doc_id, ({target_sql}) AS is_t,
               list_concat(W, {sh2}) AS G FROM w0),
feats AS (SELECT doc_id, is_t, {h60_sql('f')} % {n_buckets} AS b
          FROM (SELECT doc_id, is_t, UNNEST(G) AS f FROM tgt)),
fit AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
               COUNT(*) AS cr
        FROM feats GROUP BY b),
tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS t_tot,
               CAST(SUM(cr) AS BIGINT) AS r_tot FROM fit),
d0 AS (SELECT b, ct + 1 AS x1, t_tot + {n_buckets} AS x2,
              cr + 1 AS x3, r_tot + {n_buckets} AS x4 FROM fit, tot),
delta AS (SELECT b, CAST({il('x1')} - {il('x2')} - {il('x3')} + {il('x4')}
                        AS BIGINT) AS delta_micro FROM d0),
scored AS (SELECT doc_id, COUNT(*) AS n_feats,
                  CAST(SUM(delta_micro) AS BIGINT) AS logw_micro
           FROM feats JOIN delta USING (b) GROUP BY doc_id),
hist AS (SELECT CAST(FLOOR(logw_micro / {bin_width}.0) AS BIGINT) AS bin,
                COUNT(*) AS n
         FROM scored GROUP BY 1),
cum AS (SELECT bin,
               SUM(n) OVER (ORDER BY bin DESC ROWS BETWEEN UNBOUNDED
                            PRECEDING AND CURRENT ROW) AS cum,
               SUM(n) OVER () AS total
        FROM hist),
thr AS (SELECT MAX(CASE WHEN cum * 1000000 >= total * {share_ppm}
                        THEN bin END) AS tbin FROM cum)
SELECT doc_id, n_feats, logw_micro,
       CAST(CASE WHEN FLOOR(logw_micro / {bin_width}.0) >= tbin
                 THEN 1 ELSE 0 END AS INT) AS selected
FROM scored, thr ORDER BY doc_id"""


def pq_rerank_sql(queries_pred: str = "vec_id < 5", k_top: int = 10,
                  shortlist: int = 4, m: int = 16, k: int = 16,
                  iters: int = 2, dim: int = 64,
                  table: str = "embeddings",
                  fit_mod: int | None = None) -> str:
    """Mirror of clustering.pq_rerank_search: the pq_search ADC chain,
    shortlist of shortlist*k_top per query, exact integer re-rank."""
    parts, sub = _pq_parts(m, k, iters, dim, table,
                           fit=fit_mod is not None)
    if fit_mod:
        parts.insert(1, _xfit_part(fit_mod))

    def dist(xi: str, c: str) -> str:
        return (f"list_sum(list_transform(range(1, {sub + 1}), "
                f"d -> ({xi}[d] - {c}[d]) * ({xi}[d] - {c}[d])))")

    code_cols = ", ".join(f"f{s}.code AS c{s}" for s in range(m))
    joins = " ".join(f"JOIN f{s} USING (vec_id)" for s in range(1, m))
    bjoins = " ".join(f"JOIN cb{s}_{iters} b{s} ON b{s}.j = codes.c{s}"
                      for s in range(m))
    adc = " + ".join(
        dist(f"list_slice(q.xi, {s * sub + 1}, {(s + 1) * sub})", f"b{s}.c")
        for s in range(m))
    exact = (f"list_sum(list_transform(range(1, {dim + 1}), "
             f"d -> (cx.xi[d] - q2.xi[d]) * (cx.xi[d] - q2.xi[d])))")
    return f"""
WITH {', '.join(parts)},
codes AS (SELECT f0.vec_id AS cand_id, {code_cols} FROM f0 {joins}),
q AS (SELECT vec_id AS query_id, xi FROM x WHERE {queries_pred}),
scored AS (SELECT q.query_id, codes.cand_id,
                  CAST({adc} AS BIGINT) AS adc_q
           FROM q CROSS JOIN codes {bjoins}
           WHERE codes.cand_id <> q.query_id),
short AS (SELECT query_id, cand_id, adc_q FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY adc_q, cand_id) AS srank
            FROM scored)
          WHERE srank <= {k_top * shortlist}),
rer AS (SELECT short.query_id, short.cand_id, short.adc_q,
               CAST({exact} AS BIGINT) AS exact_q
        FROM short
        JOIN x cx ON cx.vec_id = short.cand_id
        JOIN x q2 ON q2.vec_id = short.query_id),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY exact_q, cand_id) AS rank
      FROM rer)
SELECT query_id, cand_id, adc_q, exact_q, rank FROM r
WHERE rank <= {k_top} ORDER BY query_id, rank"""


def upper_quantile_sql(group_col: str = "event_type",
                       value: str = "value", id_col: str = "event_id",
                       max_retained: int = 4096,
                       quantiles: tuple = (0.9, 0.99, 0.999),
                       table: str = "events") -> str:
    """Mirror of sketches.upper_quantile (UpperQuantile.java port):
    group count + retained top-k + the reference's interpolation, with
    every 1-q embedded as the SAME string-parsed double literal the
    Spark side uses (a bare decimal literal would be DECIMAL — exact
    arithmetic, not the reference's IEEE doubles)."""
    k = max_retained
    qdefs, qaggs, qnames = [], [], []
    for q in quantiles:
        omq = repr(1.0 - q)
        nm = "p" + repr(q)[2:]
        qnames.append(nm)
        qdefs.append(
            f"sz - (n - 1) * CAST('{omq}' AS DOUBLE) AS pos_{nm}, "
            f"CASE WHEN (n - 1) * CAST('{omq}' AS DOUBLE) "
            f"<= CAST(sz - 1 AS DOUBLE) THEN 1 ELSE 0 END AS ok_{nm}")
        qaggs.append(
            f"CASE WHEN MAX(ok_{nm}) = 1 THEN "
            f"SUM(CASE WHEN asc_idx = CAST(FLOOR(pos_{nm}) AS BIGINT) "
            f"THEN v * (1.0 - (pos_{nm} - FLOOR(pos_{nm}))) "
            f"WHEN asc_idx = CAST(FLOOR(pos_{nm}) AS BIGINT) + 1 "
            f"AND pos_{nm} - FLOOR(pos_{nm}) > 0 "
            f"THEN v * (pos_{nm} - FLOOR(pos_{nm})) END) END AS {nm}")
    return f"""
WITH counts AS (SELECT {group_col} AS grp, COUNT(*) AS n
                FROM {table} GROUP BY 1),
ret AS (SELECT grp, v, rd FROM (
          SELECT {group_col} AS grp, CAST({value} AS DOUBLE) AS v,
                 ROW_NUMBER() OVER (PARTITION BY {group_col}
                                    ORDER BY {value} DESC, {id_col}) AS rd
          FROM {table})
        WHERE rd <= {k}),
b AS (SELECT ret.grp, v, rd, n, LEAST(n, {k}) AS sz,
             LEAST(n, {k}) - rd + 1 AS asc_idx
      FROM ret JOIN counts USING (grp)),
b2 AS (SELECT *, {', '.join(qdefs)} FROM b)
SELECT grp AS {group_col}, MAX(n) AS n_total, MAX(sz) AS n_retained,
       {', '.join(qaggs)}
FROM b2 GROUP BY grp ORDER BY {group_col}"""


def word_entropy_sql(table: str = "documents") -> str:
    """Mirror of text.word_entropy: lowercase whitespace words,
    per-word counts, micro-log2 entropy and integer-ppm TTR."""
    il = _ilog2_micro_duck
    return f"""
WITH w AS (SELECT doc_id,
                  unnest(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS w
           FROM {table}),
wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w WHERE w <> ''
       GROUP BY doc_id, w),
per AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(SUM(c * {il('c')}) AS BIGINT) AS sum_clog
        FROM wc GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(n_distinct, 0) AS BIGINT) AS n_distinct,
       CAST(CASE WHEN n_words >= 1
                 THEN {il('n_words')} - (sum_clog // n_words) END
            AS BIGINT) AS entropy_micro,
       CAST(CASE WHEN n_words >= 1
                 THEN n_distinct * 1000000 // n_words END
            AS BIGINT) AS ttr_ppm
FROM {table} d LEFT JOIN per USING (doc_id) ORDER BY d.doc_id"""


def readability_sql(table: str = "documents") -> str:
    """Mirror of text.readability: regexp run counts + positive-operand
    integer division, scores in micro-units."""
    return f"""
WITH t AS (SELECT doc_id,
  CAST(len(regexp_extract_all(LOWER(text), '[^\\s]+')) AS BIGINT)
    AS n_words,
  CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
    AS n_sentences,
  CAST(len(regexp_extract_all(LOWER(text), '[aeiouy]+'))
       + len(list_filter(regexp_extract_all(LOWER(text), '[^\\s]+'),
                         w -> NOT regexp_matches(w, '[aeiouy]')))
       AS BIGINT) AS n_syllables
  FROM {table})
SELECT doc_id, n_words, n_sentences, n_syllables,
  CAST(CASE WHEN n_words >= 1
            THEN 206835000 - (1015000 * n_words // n_sentences)
                 - (84600000 * n_syllables // n_words) END
       AS BIGINT) AS flesch_micro,
  CAST(CASE WHEN n_words >= 1
            THEN (390000 * n_words // n_sentences)
                 + (11800000 * n_syllables // n_words) - 15590000 END
       AS BIGINT) AS fk_grade_micro
FROM t ORDER BY doc_id"""


def dedup_agreement_sql(num_hashes: int = 64, bands: int = 16,
                        shingle_k: int = 5,
                        jaccard_threshold: float = 0.5, bits: int = 60,
                        hamming_max: int = 3, ngram_n: int = 3,
                        ngram_threshold: float = 0.4) -> str:
    """Mirror of dedup.dedup_agreement: the three pair oracles
    composed by FULL OUTER joins on the pair key."""
    mh = minhash_pairs_sql(num_hashes=num_hashes, bands=bands,
                           shingle_k=shingle_k,
                           jaccard_threshold=jaccard_threshold)
    sh = simhash_pairs_sql(bits=bits, hamming_max=hamming_max,
                           shingle_k=2)
    ng = ngram_jaccard_sql(n=ngram_n, threshold=ngram_threshold)
    return f"""
WITH mh AS (SELECT a, b FROM ({mh})),
sh AS (SELECT a, b FROM ({sh})),
ng AS (SELECT a, b FROM ({ng})),
ms AS (SELECT COALESCE(mh.a, sh.a) AS a, COALESCE(mh.b, sh.b) AS b,
              CASE WHEN mh.a IS NOT NULL THEN 1 ELSE 0 END AS by_minhash,
              CASE WHEN sh.a IS NOT NULL THEN 1 ELSE 0 END AS by_simhash
       FROM mh FULL JOIN sh ON mh.a = sh.a AND mh.b = sh.b),
ag AS (SELECT COALESCE(ms.a, ng.a) AS a, COALESCE(ms.b, ng.b) AS b,
              COALESCE(by_minhash, 0) AS by_minhash,
              COALESCE(by_simhash, 0) AS by_simhash,
              CASE WHEN ng.a IS NOT NULL THEN 1 ELSE 0 END AS by_ngram
       FROM ms FULL JOIN ng ON ms.a = ng.a AND ms.b = ng.b)
SELECT a, b, by_minhash, by_simhash, by_ngram,
       by_minhash + by_simhash + by_ngram AS n_methods
FROM ag ORDER BY a, b"""


def pack_pairs_sql(seq_tokens: int = 256, shards: int = 8,
                   table: str = "documents") -> str:
    """Mirror of curation.pack_pairs: per-shard longest-with-shortest
    rank pairing, fit flag and padding accounting."""
    cap = seq_tokens
    return f"""
WITH t AS (SELECT doc_id,
                  CAST(len({_RAW_WORDS}) AS BIGINT) AS n_tokens,
                  {h60_sql("CAST(doc_id AS VARCHAR)")} % {shards} AS shard
           FROM {table}),
r AS (SELECT *,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY n_tokens DESC, doc_id) AS rnk,
             COUNT(*) OVER (PARTITION BY shard) AS n
      FROM t),
p AS (SELECT *, LEAST(rnk, n - rnk + 1) AS pair_id FROM r),
agg AS (SELECT shard, pair_id,
               MIN(doc_id) AS doc_lo, MAX(doc_id) AS doc_hi,
               CAST(MIN(n_tokens) AS BIGINT) AS tokens_lo,
               CAST(MAX(n_tokens) AS BIGINT) AS tokens_hi,
               CAST(SUM(n_tokens) AS BIGINT) AS tok_sum,
               COUNT(*) AS members,
               CAST(SUM(GREATEST({cap} - n_tokens, 0)) AS BIGINT) AS pad_sep
        FROM p GROUP BY shard, pair_id)
SELECT shard, pair_id, doc_lo, doc_hi, tokens_lo, tokens_hi,
       CAST(CASE WHEN members = 2 AND tok_sum <= {cap}
                 THEN 1 ELSE 0 END AS INT) AS packed,
       CAST(CASE WHEN members = 2 AND tok_sum <= {cap}
                 THEN {cap} - tok_sum ELSE pad_sep END AS BIGINT)
         AS padding_tokens
FROM agg ORDER BY shard, pair_id"""


def corpus_balance_sql(group_col: str = "lang", id_col: str = "doc_id",
                       salt: int = 11, table: str = "documents") -> str:
    """Mirror of curation.corpus_balance: in-plan fit of per-group
    keep rates (min_n/n_group ppm) + the deterministic h60 draw."""
    draw = h60_sql(f"CAST({id_col} AS VARCHAR) || ':{salt}'")
    return f"""
WITH counts AS (SELECT {group_col} AS grp, COUNT(*) AS n_grp
                FROM {table} GROUP BY 1),
m AS (SELECT MIN(n_grp) AS min_n FROM counts),
rates AS (SELECT grp, CAST(min_n * 1000000 // n_grp AS BIGINT) AS keep_ppm
          FROM counts, m),
d AS (SELECT {id_col}, {group_col} AS grp, {draw} % 1000000 AS draw_ppm
      FROM {table})
SELECT d.{id_col}, d.grp AS {group_col},
       CAST(d.draw_ppm AS BIGINT) AS draw_ppm, rates.keep_ppm
FROM d JOIN rates USING (grp)
WHERE d.draw_ppm < rates.keep_ppm ORDER BY d.{id_col}"""


def corpus_diff_sql(old_pred: str, new_pred: str, new_text: str = "text",
                    table: str = "documents") -> str:
    """Mirror of curation.corpus_diff over two filtered views of the
    documents table; ``new_text`` lets the caller mutate the new
    side's text to exercise the ``changed`` branch."""
    norm = ("MD5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER({t}),"
            " '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))")
    # same normalizer as _NORM (dedup_exact's digest), parameterized
    # on the text expression
    return f"""
WITH o AS (SELECT doc_id, source AS src_old,
                  {norm.format(t='text')} AS dig_old
           FROM {table} WHERE {old_pred}),
n AS (SELECT doc_id, source AS src_new,
             {norm.format(t=new_text)} AS dig_new
      FROM {table} WHERE {new_pred}),
j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             COALESCE(src_new, src_old) AS source,
             CASE WHEN dig_old IS NULL THEN 'added'
                  WHEN dig_new IS NULL THEN 'removed'
                  WHEN dig_old = dig_new THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM o FULL JOIN n ON o.doc_id = n.doc_id)
SELECT doc_id, source, status FROM j ORDER BY doc_id"""


def cdc_apply_sql(op_case: str, table: str = "events") -> str:
    """Mirror of temporal.cdc_apply over the events table with
    ``op_case`` deriving the op column.  The struct-max tie-break is
    (ts, event_id, op) lexicographic — replayed as a window."""
    return f"""
WITH ch AS (SELECT user_id, ts, event_id, {op_case} AS op FROM {table}),
r AS (SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id
        ORDER BY ts DESC, event_id DESC, op DESC) AS rn,
      COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM ch)
SELECT user_id, epoch_us(ts) AS last_tus, event_id AS last_seq,
       op AS last_op, n_changes
FROM r WHERE rn = 1 AND op <> 'delete' ORDER BY user_id"""


def last_touch_attribution_sql(touch_types: tuple[str, ...] = ("click", "view"),
                               conv_type: str = "purchase",
                               lookback_us: int = 7 * 86400 * 1_000_000,
                               table: str = "events") -> str:
    """Mirror of temporal.last_touch_attribution: the carried-touch
    window (MAX over a preceding-rows frame of the touch struct —
    struct comparison is lexicographic (tus, id) in both engines) plus
    the lookback post-filter."""
    touches = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
WITH tagged AS (SELECT user_id, event_id, event_type,
                       epoch_us(ts) AS tus,
                       CAST(FLOOR(value * 100) AS BIGINT) AS value_cents
                FROM {table}),
w AS (SELECT *,
             MAX(CASE WHEN event_type IN ({touches}) THEN
                   {{'t_tus': tus, 't_id': event_id, 't_type': event_type}}
                 END) OVER (PARTITION BY user_id ORDER BY tus, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS lt
      FROM tagged)
SELECT event_id AS conv_id, user_id, tus AS conv_tus, value_cents,
       CASE WHEN lt.t_tus >= tus - {lookback_us} THEN lt.t_id END AS touch_id,
       CASE WHEN lt.t_tus >= tus - {lookback_us} THEN lt.t_type END AS touch_type,
       CASE WHEN lt.t_tus >= tus - {lookback_us} THEN lt.t_tus END AS touch_tus
FROM w WHERE event_type = '{conv_type}' ORDER BY conv_id"""


def corpus_token_budget_sql(salt: int = 13, level_shift: int = 50,
                            table: str = "documents") -> str:
    """Mirror of curation.corpus_token_budget: in-plan min-source
    token budget, level-CDF boundary location, whole levels below the
    boundary + prefix-cumsum within it."""
    prio = h60_sql(f"CAST(doc_id AS VARCHAR) || ':{salt}'")
    return f"""
WITH toks AS (SELECT doc_id, source AS src,
                     CAST(len({_RAW_WORDS}) AS BIGINT) AS n_tokens,
                     {prio} AS prio, {prio} >> {level_shift} AS lvl
              FROM {table}),
b AS (SELECT MIN(tot) AS budget
      FROM (SELECT src, SUM(n_tokens) AS tot FROM toks GROUP BY 1)),
cum AS (SELECT src, lvl, lvl_tok,
               CAST(SUM(lvl_tok) OVER (PARTITION BY src ORDER BY lvl
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum
        FROM (SELECT src, lvl, SUM(n_tokens) AS lvl_tok
              FROM toks GROUP BY 1, 2)),
j AS (SELECT src, lvl, cum, cum - lvl_tok AS prev_cum,
             (SELECT budget FROM b) AS budget
      FROM cum),
bk AS (SELECT t.doc_id, t.src, t.n_tokens,
              CAST(SUM(t.n_tokens) OVER (PARTITION BY t.src
                                         ORDER BY t.prio, t.doc_id
                                         ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS bcum,
              j.budget - j.prev_cum AS remaining
      FROM toks t JOIN j ON t.src = j.src AND t.lvl = j.lvl
      WHERE j.prev_cum < j.budget AND j.cum > j.budget)
SELECT t.doc_id, t.src AS source, t.n_tokens
FROM toks t JOIN j ON t.src = j.src AND t.lvl = j.lvl
WHERE j.cum <= j.budget
UNION ALL
SELECT doc_id, src AS source, n_tokens FROM bk WHERE bcum <= remaining
ORDER BY doc_id"""


def corpus_overlap_sql(k: int = 3, table: str = "documents") -> str:
    """Mirror of curation.corpus_overlap: distinct (source, gram-h60)
    + a plain self-join intersection (the oracle need not be
    scale-shaped) with integer-ppm Jaccard/containments."""
    return f"""
WITH {_shingles_cte(k, table)},
src_sh AS (SELECT source AS src, UNNEST(sh.sh) AS e, sh.doc_id
           FROM sh JOIN {table} USING (doc_id)),
g AS (SELECT DISTINCT src, {h60_sql('e')} AS g FROM src_sh),
sizes AS (SELECT src, COUNT(*) AS n FROM g GROUP BY 1),
i AS (SELECT a.src AS src_a, b.src AS src_b, COUNT(*) AS inter
      FROM g a JOIN g b ON a.g = b.g AND a.src < b.src GROUP BY 1, 2)
SELECT src_a, src_b, inter, sa.n AS n_a, sb.n AS n_b,
       CAST(inter * 1000000 // (sa.n + sb.n - inter) AS BIGINT)
         AS jaccard_ppm,
       CAST(inter * 1000000 // sa.n AS BIGINT) AS contain_a_ppm,
       CAST(inter * 1000000 // sb.n AS BIGINT) AS contain_b_ppm
FROM i JOIN sizes sa ON i.src_a = sa.src
       JOIN sizes sb ON i.src_b = sb.src
ORDER BY src_a, src_b"""


def identity_edges_sql(min_share: int = 2, max_share: int = 4,
                       table: str = "events") -> str:
    """Mirror of graph.identity_edges: rare shared (event_type, cents)
    keys, sorted-chain expansion (1-based list indexing)."""
    return f"""
SELECT DISTINCT p.a AS a, p.b AS b FROM (
  SELECT UNNEST(list_transform(range(1, len(us)),
                               i -> {{'a': us[i], 'b': us[i + 1]}})) AS p
  FROM (SELECT list_sort(list(DISTINCT u)) AS us
        FROM (SELECT DISTINCT event_type AS etype,
                     CAST(FLOOR(value * 100) AS BIGINT) AS cents,
                     user_id AS u FROM {table})
        GROUP BY etype, cents
        HAVING COUNT(*) >= {min_share} AND COUNT(*) <= {max_share}))"""


def graph_components_sql(min_share: int = 2, max_share: int = 4,
                         table: str = "events") -> str:
    """graph.components over identity_edges: recursive min-reachable
    label (dup_groups_sql) with the node/component column names."""
    inner = dup_groups_sql(identity_edges_sql(min_share, max_share, table))
    return (f"SELECT doc_id AS node, group_id AS component FROM ({inner})"
            " ORDER BY node")


def frequent_sequences_sql(n: int = 3, top_k: int = 20,
                           table: str = "events") -> str:
    """Mirror of temporal.frequent_sequences: (n-1) leads over the
    per-user timeline, n-gram counts, deterministic top-k."""
    parts = ["event_type"] + [f"LEAD(event_type, {i}) OVER w"
                              for i in range(1, n)]
    seq = " || '>' || ".join(parts)
    return f"""
WITH g AS (SELECT {seq} AS seq,
                  LEAD(event_type, {n - 1}) OVER w AS last
           FROM {table}
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
c AS (SELECT seq, COUNT(*) AS support FROM g
      WHERE last IS NOT NULL GROUP BY 1),
t AS (SELECT SUM(support) AS tot FROM c)
SELECT seq, support,
       CAST(support * 1000000 // tot AS BIGINT) AS support_ppm,
       CAST(ROW_NUMBER() OVER (ORDER BY support DESC, seq) AS BIGINT)
         AS rank
FROM c, t QUALIFY rank <= {top_k} ORDER BY rank"""


def ams_f2_sql(estimators: int = 16, table: str = "events") -> str:
    """Mirror of sketches.ams_f2: h60-parity signs over the collapsed
    (group, key) frequency frame, exact integer lower-median."""
    _h = h60_sql("x || ':' || CAST(j AS VARCHAR)")
    sign = f"(1 - 2 * ({_h} % 2))"
    med_idx = estimators // 2 + 1
    return f"""
WITH freq AS (SELECT event_type AS grp, CAST(user_id AS VARCHAR) AS x,
                     COUNT(*) AS f
              FROM {table} GROUP BY 1, 2),
exact AS (SELECT grp, SUM(f * f) AS exact_f2, COUNT(*) AS n_keys
          FROM freq GROUP BY 1),
cnt AS (SELECT grp, j, SUM(f * {sign}) AS cj
        FROM freq, (SELECT UNNEST(range(0, {estimators})) AS j)
        GROUP BY 1, 2),
med AS (SELECT grp, list_sort(list(cj * cj))[{med_idx}] AS est_f2
        FROM cnt GROUP BY 1)
SELECT grp AS event_type, n_keys, CAST(est_f2 AS BIGINT) AS est_f2,
       CAST(exact_f2 AS BIGINT) AS exact_f2,
       CAST(abs(est_f2 - exact_f2) * 1000000 // exact_f2 AS BIGINT)
         AS err_ppm
FROM med JOIN exact USING (grp) ORDER BY event_type"""


def corpus_curriculum_sql(stages: int = 4, table: str = "documents") -> str:
    """Mirror of curation.corpus_curriculum: value-quantile staging
    from the token-length CDF."""
    bq = ", ".join(
        f"MIN(CASE WHEN cum * {stages} >= {q} * n_total THEN n_words END)"
        f" AS b{q}" for q in range(1, stages))
    stage = " + ".join(f"CASE WHEN n_words > b{q} THEN 1 ELSE 0 END"
                       for q in range(1, stages))
    return f"""
WITH toks AS (SELECT doc_id,
                     CAST(len({_RAW_WORDS}) AS BIGINT) AS n_words
              FROM {table}),
hist AS (SELECT n_words, COUNT(*) AS cnt FROM toks GROUP BY 1),
cdf AS (SELECT n_words,
               SUM(cnt) OVER (ORDER BY n_words
                              ROWS UNBOUNDED PRECEDING) AS cum,
               (SELECT SUM(cnt) FROM hist) AS n_total
        FROM hist),
b AS (SELECT {bq} FROM cdf)
SELECT doc_id, n_words, CAST({stage} AS BIGINT) AS stage
FROM toks, b ORDER BY doc_id"""


def dwell_times_sql(table: str = "events") -> str:
    """Mirror of temporal.dwell_times: lead-gap in integer micros,
    per-transition aggregate with floor-division mean."""
    return f"""
WITH seq AS (SELECT event_type AS src,
                    LEAD(event_type) OVER w AS dst,
                    LEAD(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
             FROM {table}
             WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT src, dst, COUNT(*) AS n,
       CAST(SUM(gap_us) AS BIGINT) AS total_us,
       CAST(MIN(gap_us) AS BIGINT) AS min_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_us,
       CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS mean_us
FROM seq WHERE dst IS NOT NULL
GROUP BY src, dst ORDER BY src, dst"""


def knn_graph_sql(k: int = 5, bucket_bits: int = 6, seed: int = 7,
                  dim: int = 64) -> str:
    """Mirror of similarity.knn_graph: half-space bucket join,
    mirrored directions, per-node top-k, reciprocal-edge flag."""
    return f"""
WITH {_NORMED},
b AS (SELECT vec_id, v, ({_bucket_terms(bucket_bits, seed, dim)}) AS bucket
      FROM normed),
half AS (SELECT l.vec_id AS a, r.vec_id AS b,
                ROUND(list_sum(list_transform(list_zip(l.v, r.v),
                                              q -> q[1] * q[2])), 6)
                  AS cosine
         FROM b l JOIN b r
           ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
directed AS (SELECT a AS src, b AS dst, cosine FROM half
             UNION ALL SELECT b, a, cosine FROM half),
edges AS (SELECT src, dst, cosine,
                 CAST(ROW_NUMBER() OVER (PARTITION BY src
                                         ORDER BY cosine DESC, dst)
                      AS BIGINT) AS rank
          FROM directed QUALIFY rank <= {k})
SELECT e.src, e.dst, e.cosine, e.rank,
       COALESCE(r.src IS NOT NULL, FALSE) AS mutual
FROM edges e LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src
ORDER BY e.src, e.rank"""


def media_segments_sql(n: int = 200, win_ms: int = 5000,
                       hop_ms: int = 2500) -> str:
    """Mirror of multimodal.segment_audio over synth_media(n):
    kind=audio ⇔ media_id % 3 == 1, duration_ms = media_id % 60000."""
    return f"""
SELECT media_id, seg_idx,
       seg_idx * {hop_ms} AS seg_start_ms,
       LEAST(seg_idx * {hop_ms} + {win_ms}, dur) AS seg_end_ms
FROM (SELECT media_id, dur,
             unnest(range(0, CAST(FLOOR(GREATEST(dur - {win_ms}, 0)
                                        / {hop_ms}.0) AS INT) + 1))
               AS seg_idx
      FROM (SELECT id AS media_id, id % 60000 AS dur
            FROM range(0, {n}) t(id) WHERE id % 3 = 1))
ORDER BY media_id, seg_idx"""


def corpus_filter_report_sql(table: str = "documents") -> str:
    """Mirror of curation.corpus_filter_report: the same integer rule
    flags, sequential-funnel conditional counts, running remainder."""
    return f"""
WITH f AS (SELECT len({_RAW_WORDS}) AS nw, LENGTH(text) AS nc,
                  LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g')) AS nd,
                  len(list_distinct({_RAW_WORDS})) AS nu
           FROM {table}),
a AS (SELECT COUNT(*) AS n_total,
             SUM(CASE WHEN nw < 5 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN NOT nw < 5 AND nc > 12 * nw
                      THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN NOT nw < 5 AND NOT nc > 12 * nw
                       AND 10 * nd > nc THEN 1 ELSE 0 END) AS n3,
             SUM(CASE WHEN NOT nw < 5 AND NOT nc > 12 * nw
                       AND NOT 10 * nd > nc AND 2 * nu < nw
                      THEN 1 ELSE 0 END) AS n4
      FROM f),
r AS (SELECT * FROM (
        SELECT 1 AS rule_idx, 'too_short' AS rule, n1 AS n_dropped,
               n_total FROM a
        UNION ALL SELECT 2, 'long_words', n2, n_total FROM a
        UNION ALL SELECT 3, 'digit_heavy', n3, n_total FROM a
        UNION ALL SELECT 4, 'low_diversity', n4, n_total FROM a))
SELECT CAST(rule_idx AS BIGINT) AS rule_idx, rule,
       CAST(n_dropped AS BIGINT) AS n_dropped,
       CAST(n_total - SUM(n_dropped) OVER (ORDER BY rule_idx
                                           ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_remaining
FROM r ORDER BY rule_idx"""


def rolling_active_users_sql(window_days: int = 7,
                             table: str = "events") -> str:
    """Mirror of temporal.rolling_active_users: distinct (user, day)
    pairs exploded to contribution days, re-distincted."""
    return f"""
WITH pairs AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
               FROM {table}),
days AS (SELECT DISTINCT d AS report_day FROM pairs),
contrib AS (SELECT u, d + CAST(k AS INTEGER) AS report_day
            FROM pairs, (SELECT UNNEST(range(0, {window_days})) AS k)),
wau AS (SELECT report_day, COUNT(DISTINCT u) AS wau
        FROM contrib JOIN days USING (report_day) GROUP BY 1),
dau AS (SELECT d AS report_day, COUNT(DISTINCT u) AS dau
        FROM pairs GROUP BY 1)
SELECT report_day AS day, wau, dau
FROM wau JOIN dau USING (report_day) ORDER BY day"""


def corpus_upsample_sql(factors: dict[str, float],
                        default_factor: float = 1.0, salt: int = 17,
                        table: str = "documents") -> str:
    """Mirror of curation.corpus_upsample: CASE-chain factors, h60
    fractional draw, range-unnest replication."""
    draw = h60_sql(f"CAST(doc_id AS VARCHAR) || ':{salt}'")
    wb = " ".join(f"WHEN source = '{v}' THEN {int(f)}"
                  for v, f in sorted(factors.items()))
    fb = " ".join(f"WHEN source = '{v}' THEN {int(round((f - int(f)) * 1000000))}"
                  for v, f in sorted(factors.items()))
    dw = int(default_factor)
    dfr = int(round((default_factor - dw) * 1000000))
    return f"""
WITH n AS (SELECT doc_id, source,
                  (CASE {wb} ELSE {dw} END)
                  + CASE WHEN {draw} % 1000000 < (CASE {fb} ELSE {dfr} END)
                         THEN 1 ELSE 0 END AS n_copies
           FROM {table})
SELECT doc_id, source, CAST(UNNEST(range(0, n_copies)) AS BIGINT)
         AS copy_idx
FROM n WHERE n_copies > 0 ORDER BY doc_id, copy_idx"""


def ann_recall_eval_sql(k: int = 10, bucket_bits: int = 6, seed: int = 7,
                        dim: int = 64,
                        query_pred: str = "vec_id < 50") -> str:
    """Mirror of similarity.ann_recall_eval: brute-force truth vs the
    LSH candidate top-k, integer-ppm per-query recall."""
    return f"""
WITH {_NORMED},
q AS (SELECT vec_id AS query_id, v AS qv FROM normed WHERE {query_pred}),
truth AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             ROUND(list_sum(list_transform(list_zip(qv, c.v),
                                           p -> p[1] * p[2])), 6) DESC,
             c.vec_id) AS rank
    FROM normed c CROSS JOIN q WHERE c.vec_id <> query_id)
  WHERE rank <= {k}),
b AS (SELECT vec_id, v, ({_bucket_terms(bucket_bits, seed, dim)}) AS bucket
      FROM normed),
lq AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
       WHERE {query_pred}),
lsh AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
             ROUND(list_sum(list_transform(list_zip(qv, c.v),
                                           p -> p[1] * p[2])), 6) DESC,
             c.vec_id) AS rank
    FROM b c JOIN lq USING (bucket) WHERE c.vec_id <> query_id)
  WHERE rank <= {k}),
hits AS (SELECT t.query_id, COUNT(*) AS n_hits
         FROM truth t JOIN lsh USING (query_id, cand_id) GROUP BY 1)
SELECT query_id, COALESCE(n_hits, 0) AS n_hits,
       CAST(COALESCE(n_hits, 0) * 1000000 // {k} AS BIGINT) AS recall_ppm
FROM (SELECT DISTINCT query_id FROM truth) LEFT JOIN hits USING (query_id)
ORDER BY query_id"""


def media_phash_dedup_sql(n: int = 500, universe: int = 250,
                          seed: int = 9, dim: int = 16, bands: int = 4,
                          max_hamming: int = 2,
                          max_block: int = 256) -> str:
    """Mirror of multimodal.phash_pairs over synth_media(n, seed,
    payload_universe): stub lanes from the sha256 hex string,
    mean-binarized code, band postings, exact Hamming."""
    width = dim // bands
    return f"""
WITH m AS (SELECT CAST(range AS BIGINT) AS media_id,
                  sha256('{seed}' || CAST(range % {universe} AS VARCHAR))
                    AS h
           FROM range({n})),
lanes AS (SELECT media_id,
                 list_transform(range(0, {dim}), k ->
                   ord(substr(h, CAST(k AS INT) + 1, 1))
                   + ord(substr(h, CAST(k AS INT) + {dim + 1}, 1))
                   + ord(substr(h, CAST(k AS INT) + {2 * dim + 1}, 1))
                   + ord(substr(h, CAST(k AS INT) + {3 * dim + 1}, 1)))
                   AS ls
          FROM m),
ppm AS (SELECT media_id,
               list_transform(ls, x -> x * 1000000 // list_sum(ls)) AS p
        FROM lanes),
coded AS (SELECT media_id AS mm,
                 CAST(list_sum(list_transform(range(0, {dim}), i ->
                   CASE WHEN p[CAST(i AS INT) + 1] * {dim} > list_sum(p)
                        THEN 1 << i ELSE 0 END)) AS BIGINT) AS code
          FROM ppm),
banded AS (SELECT mm, code, b.band,
                  (code // (1 << (b.band * {width}))) % {1 << width}
                    AS bval
           FROM coded, (SELECT UNNEST(range(0, {bands})) AS band) b),
posting AS (SELECT band, bval,
                   list_sort(list({{'m': mm, 'code': code}}))[1:{max_block}]
                     AS ms
            FROM banded GROUP BY 1, 2 HAVING COUNT(*) > 1),
pb AS (SELECT band, bval, UNNEST(ms) AS e FROM posting),
pairs AS (SELECT DISTINCT l.e.m AS a, r.e.m AS b,
                          l.e.code AS ca, r.e.code AS cb
          FROM pb l JOIN pb r ON l.band = r.band AND l.bval = r.bval
                             AND l.e.m < r.e.m)
SELECT a, b, CAST(bit_count(xor(ca, cb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(ca, cb)) <= {max_hamming}
ORDER BY a, b"""


def rfm_segments_sql(k: int = 5, table: str = "events") -> str:
    """Mirror of temporal.rfm_segments: one per-user aggregate,
    histogram-CDF quintile boundaries per dimension, comparison
    scores (recency inverted)."""
    def dim(col: str, tag: str) -> str:
        return f"""
h{tag} AS (SELECT {col} AS v, COUNT(*) AS c FROM p2 GROUP BY 1),
c{tag} AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
                  (SELECT SUM(c) FROM h{tag}) AS n
           FROM h{tag}),
b{tag} AS (SELECT {", ".join(
            f"MIN(CASE WHEN cum * {k} >= {q} * n THEN v END) AS {tag}b{q}"
            for q in range(1, k))}
           FROM c{tag})"""

    def bucket(col: str, tag: str) -> str:
        return " + ".join(
            f"(CASE WHEN {col} > {tag}b{q} THEN 1 ELSE 0 END)"
            for q in range(1, k))

    return f"""
WITH per AS (
  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day,
         CAST(COUNT(*) AS BIGINT) AS f_events,
         CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
           AS m_cents
  FROM {table} GROUP BY user_id),
a AS (SELECT MAX(last_day) AS anchor FROM per),
p2 AS (SELECT user_id,
              CAST(date_diff('day', last_day, (SELECT anchor FROM a))
                   AS BIGINT) AS r_days,
              f_events, m_cents
       FROM per),{dim("r_days", "r")},{dim("f_events", "f")},{dim("m_cents", "m")}
SELECT user_id, r_days, f_events, m_cents,
       CAST({k} - ({bucket("r_days", "r")}) AS BIGINT) AS r_score,
       CAST(({bucket("f_events", "f")}) + 1 AS BIGINT) AS f_score,
       CAST(({bucket("m_cents", "m")}) + 1 AS BIGINT) AS m_score,
       CAST(({k} - ({bucket("r_days", "r")})) * 100
            + (({bucket("f_events", "f")}) + 1) * 10
            + (({bucket("m_cents", "m")}) + 1) AS BIGINT) AS segment
FROM p2, br, bf, bm ORDER BY user_id"""


def label_propagation_sql(pairs_sql: str, iters: int = 3) -> str:
    """Mirror of graph.label_propagation: unrolled synchronous rounds,
    (count DESC, label ASC) vote rule via ROW_NUMBER."""
    ctes = [f"prs AS ({pairs_sql})",
            "edges AS (SELECT a AS src, b AS dst FROM prs"
            " UNION SELECT b, a FROM prs)",
            "l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)"]
    for t in range(1, iters + 1):
        ctes.append(f"""
v{t} AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS c
         FROM edges e JOIN l{t - 1} l ON e.src = l.node
         GROUP BY 1, 2),
l{t} AS (SELECT node, lbl FROM (
           SELECT node, lbl,
                  ROW_NUMBER() OVER (PARTITION BY node
                                     ORDER BY c DESC, lbl ASC) AS rn
           FROM v{t}) WHERE rn = 1)""")
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT node, lbl AS community FROM l{iters} ORDER BY node")


def minhash_eval_sql(sample_mod: int = 4, jaccard_threshold: float = 0.5,
                     num_hashes: int = 64, bands: int = 16,
                     shingle_k: int = 5) -> str:
    """Mirror of dedup.minhash_eval: exact shingle-set Jaccard truth
    on the sampled docs vs the banded detector's pairs (band
    collisions are per-pair, so full-corpus pairs filtered to the
    sample equal detector-on-sample pairs)."""
    thr_ppm = int(round(jaccard_threshold * 1_000_000))
    pred = minhash_pairs_sql(num_hashes=num_hashes, bands=bands,
                             shingle_k=shingle_k,
                             jaccard_threshold=jaccard_threshold)
    return f"""
WITH {_shingles_cte(shingle_k)},
samp AS (SELECT doc_id, sh FROM sh WHERE doc_id % {sample_mod} = 0),
posts AS (SELECT DISTINCT doc_id, {h60_sql('g')} AS gh
          FROM (SELECT doc_id, unnest(sh) AS g FROM samp)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM posts GROUP BY 1),
inter AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS i
          FROM posts x JOIN posts y USING (gh)
          WHERE x.doc_id < y.doc_id GROUP BY 1, 2),
truth AS (SELECT a, b FROM inter
          JOIN sizes sa ON sa.doc_id = a
          JOIN sizes sb ON sb.doc_id = b
          WHERE i * 1000000 >= {thr_ppm} * (sa.n + sb.n - i)),
pred AS (SELECT a, b FROM ({pred})
         WHERE a % {sample_mod} = 0 AND b % {sample_mod} = 0),
hit AS (SELECT a, b FROM pred INTERSECT SELECT a, b FROM truth),
m AS (SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
             (SELECT COUNT(*) FROM pred) AS n_pred,
             (SELECT COUNT(*) FROM hit) AS n_hit),
r AS (SELECT CAST(n_truth AS BIGINT) AS n_truth,
             CAST(n_pred AS BIGINT) AS n_pred,
             CAST(n_hit AS BIGINT) AS n_hit,
             CAST(CASE WHEN n_pred > 0
                       THEN n_hit * 1000000 // n_pred END AS BIGINT)
               AS precision_ppm,
             CAST(CASE WHEN n_truth > 0
                       THEN n_hit * 1000000 // n_truth END AS BIGINT)
               AS recall_ppm
      FROM m)
SELECT *, CAST(CASE WHEN precision_ppm + recall_ppm > 0
               THEN 2 * precision_ppm * recall_ppm
                    // (precision_ppm + recall_ppm) END AS BIGINT)
            AS f1_ppm
FROM r"""


def log_histogram_sql(table: str = "events") -> str:
    """Mirror of sketches.log_histogram: bucket = bit-length of the
    integer cents (length(bin(x)) — identical in both engines)."""
    return f"""
WITH b AS (SELECT event_type AS grp,
                  CASE WHEN cents <= 0 THEN 0
                       ELSE length(bin(cents)) END AS bucket
           FROM (SELECT event_type,
                        CAST(FLOOR(value * 100) AS BIGINT) AS cents
                 FROM {table})),
c AS (SELECT grp, bucket, COUNT(*) AS n FROM b GROUP BY 1, 2),
t AS (SELECT grp, SUM(n) AS total FROM c GROUP BY 1)
SELECT grp AS event_type, CAST(bucket AS BIGINT) AS bucket,
       CAST(CASE WHEN bucket = 0 THEN 0
                 ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END
            AS BIGINT) AS lo_cents,
       CAST((CAST(1 AS BIGINT) << bucket) - 1 AS BIGINT) AS hi_cents,
       CAST(n AS BIGINT) AS n,
       CAST(n * 1000000 // total AS BIGINT) AS share_ppm
FROM c JOIN t USING (grp) ORDER BY event_type, bucket"""


def weighted_sample_sql(k: int = 100, salt: int = 23,
                        table: str = "documents") -> str:
    """Mirror of curation.weighted_sample: h60 uniform, integer
    priority = u // w, bottom-k by (priority, id)."""
    u = h60_sql(f"CAST(doc_id AS VARCHAR) || ':{salt}'")
    return f"""
WITH s AS (SELECT doc_id,
                  CAST(GREATEST(len(STRING_SPLIT_REGEX(TRIM(text),
                                                       '\\s+')), 1)
                       AS BIGINT) AS weight,
                  {u} AS u
           FROM {table})
SELECT doc_id, weight, CAST(u // weight AS BIGINT) AS priority
FROM s ORDER BY priority, doc_id LIMIT {k}"""


def interleave_sources_sql(shards: int = 32, salt: int = 9,
                           table: str = "documents") -> str:
    """Mirror of curation.interleave_sources: two-level sharded rank,
    exclusive shard prefix-sum, stripe position arithmetic."""
    u = h60_sql(f"CAST(doc_id AS VARCHAR) || ':{salt}'")
    sh = h60_sql(f"CAST(doc_id AS VARCHAR) || '#{salt}'")
    return f"""
WITH base AS (SELECT doc_id, source AS src, {u} AS u,
                     {sh} % {shards} AS shard
              FROM {table}),
ranked AS (SELECT doc_id, src, shard,
                  ROW_NUMBER() OVER (PARTITION BY src, shard
                                     ORDER BY u, doc_id) - 1 AS r
           FROM base),
counts AS (SELECT src, shard, COUNT(*) AS c FROM base GROUP BY 1, 2),
offs AS (SELECT src, shard,
                SUM(c) OVER (PARTITION BY src ORDER BY shard
                             ROWS UNBOUNDED PRECEDING) - c AS off
         FROM counts),
srcs AS (SELECT src, ROW_NUMBER() OVER (ORDER BY src) - 1 AS sidx
         FROM (SELECT DISTINCT src FROM base)),
n AS (SELECT COUNT(*) AS ns FROM srcs)
SELECT doc_id, src AS source,
       CAST((off + r) * ns + sidx AS BIGINT) AS pos
FROM ranked JOIN offs USING (src, shard) JOIN srcs USING (src)
     CROSS JOIN n
ORDER BY pos"""


def ann_filtered_sql(k: int = 10, oversample: int = 4,
                     label_pred: str = "label % 3 = 0",
                     query_pred: str = "vec_id < 50") -> str:
    """Mirror of similarity.ann_filtered: pre-filter truth vs
    oversampled post-filter, per-query recall in integer ppm."""
    dot = ("ROUND(list_sum(list_transform(list_zip(qv, c.v), "
           "p -> p[1] * p[2])), 6)")
    return f"""
WITH normed AS (
  SELECT vec_id, label,
    list_transform(embedding, x -> CAST(x AS DOUBLE) /
      SQRT(list_sum(list_transform(embedding,
           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v
  FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM normed
      WHERE {query_pred}),
truth AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, c.vec_id AS cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {dot} DESC, c.vec_id) AS rank
    FROM normed c CROSS JOIN q
    WHERE c.vec_id <> query_id AND c.{label_pred})
  WHERE rank <= {k}),
pool AS (
  SELECT query_id, cand_id, rank FROM (
    SELECT query_id, c.vec_id AS cand_id, c.label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY {dot} DESC, c.vec_id) AS rank
    FROM normed c CROSS JOIN q WHERE c.vec_id <> query_id)
  WHERE rank <= {k * oversample}),
post AS (
  SELECT query_id, cand_id FROM (
    SELECT p.query_id, p.cand_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
                              ORDER BY p.rank) AS prank
    FROM pool p JOIN normed l ON l.vec_id = p.cand_id
    WHERE l.{label_pred})
  WHERE prank <= {k}),
nt AS (SELECT query_id, COUNT(*) AS n_truth FROM truth GROUP BY 1),
nf AS (SELECT query_id, COUNT(*) AS n_found FROM post GROUP BY 1),
nh AS (SELECT t.query_id, COUNT(*) AS n_hit
       FROM truth t JOIN post p USING (query_id, cand_id) GROUP BY 1)
SELECT query_id, CAST(n_truth AS BIGINT) AS n_truth,
       CAST(COALESCE(n_found, 0) AS BIGINT) AS n_found,
       CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
       CAST(COALESCE(n_hit, 0) * 1000000 // n_truth AS BIGINT)
         AS recall_ppm
FROM nt LEFT JOIN nf USING (query_id) LEFT JOIN nh USING (query_id)
ORDER BY query_id"""


def threshold_sweep_sql(num_hashes: int = 64, bands: int = 16,
                        shingle_k: int = 5,
                        min_threshold: float = 0.3) -> str:
    """Mirror of dedup.threshold_sweep: detector at the low floor,
    match-count histogram, descending cumulative pair counts."""
    pairs = minhash_pairs_sql(num_hashes=num_hashes, bands=bands,
                              shingle_k=shingle_k,
                              jaccard_threshold=min_threshold)
    return f"""
WITH p AS ({pairs}),
h AS (SELECT CAST(est_jaccard * {num_hashes} AS BIGINT) AS n_match,
             COUNT(*) AS c
      FROM p GROUP BY 1)
SELECT n_match,
       CAST(n_match * 1000000 // {num_hashes} AS BIGINT)
         AS threshold_ppm,
       CAST(SUM(c) OVER (ORDER BY n_match DESC
                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_pairs_at_least
FROM h ORDER BY n_match"""


def classifier_calibration_sql(dim: int = 64, seed: int = 11,
                               quality_threshold: float = 0.6,
                               buckets: int = 10,
                               table: str = "documents") -> str:
    """Mirror of text.classifier_calibration: score deciles vs the
    quality-blend label, integer positive rates."""
    width = 1_000_000 // buckets
    _, quality = _quality_exprs()
    thr = f"{quality_threshold}e0"
    return f"""
WITH c AS ({classify_score_sql(dim=dim, seed=seed, table=table)}),
q AS (SELECT doc_id,
             CASE WHEN ({quality}) >= {thr} THEN 1 ELSE 0 END AS pos
      FROM {table}),
j AS (SELECT LEAST(score_ppm // {width}, {buckets - 1}) AS bucket, pos
      FROM c JOIN q USING (doc_id))
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm
FROM j GROUP BY bucket ORDER BY bucket"""


def span_corruption_sql(rate_ppm: int = 150_000, salt: int = 5,
                        table: str = "documents") -> str:
    """Mirror of curation.span_corruption: same mask draws, run
    starts, sentinel arithmetic; COALESCE because DuckDB's
    array_to_string of an EMPTY list is NULL where Spark's
    array_join is ''."""
    hq = h60_sql(f"CAST(doc_id AS VARCHAR) || ':' || "
                 f"CAST(j AS VARCHAR) || ':{salt}'")
    start = "(m[j + 1] AND (j = 0 OR NOT m[GREATEST(j, 1)]))"
    kof = ("(len(list_filter(range(0, j + 1), i -> (m[i + 1] AND "
           "(i = 0 OR NOT m[GREATEST(i, 1)])))) - 1)")
    sent = f"'<extra_id_' || CAST({kof} AS VARCHAR) || '>'"
    in_piece = (f"CASE WHEN {start} THEN {sent} "
                "WHEN m[j + 1] THEN '' ELSE W[j + 1] END")
    tgt_piece = (f"CASE WHEN {start} THEN {sent} || ' ' || W[j + 1] "
                 "WHEN m[j + 1] THEN W[j + 1] ELSE '' END")

    def joined(piece: str) -> str:
        return ("COALESCE(array_to_string(list_filter(list_transform("
                f"range(0, len(W)), j -> {piece}), x -> x <> ''), ' '), '')")

    n_spans = f"len(list_filter(range(0, len(W)), j -> {start}))"
    return f"""
WITH w AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS W
           FROM {table}),
mm AS (SELECT doc_id, W,
              list_transform(range(0, len(W)),
                             j -> ({hq}) % 1000000 < {rate_ppm}) AS m
       FROM w)
SELECT doc_id, CAST(len(W) AS BIGINT) AS n_words,
       CAST({n_spans} AS BIGINT) AS n_spans,
       {joined(in_piece)} AS input,
       {joined(tgt_piece)} AS target
FROM mm ORDER BY doc_id"""


def fim_transform_sql(salt: int = 11, table: str = "documents") -> str:
    """Mirror of curation.fim_transform: same cut draws, DuckDB
    list_slice (inclusive end) in place of Spark slice (length);
    COALESCE for DuckDB's NULL empty-list join."""
    ha = h60_sql(f"CAST(doc_id AS VARCHAR) || ':a:{salt}'")
    hb = h60_sql(f"CAST(doc_id AS VARCHAR) || ':b:{salt}'")

    def j(sl: str) -> str:
        return f"COALESCE(array_to_string({sl}, ' '), '')"

    return f"""
WITH w AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\\s+') AS W,
                  {ha} AS ha, {hb} AS hb
           FROM {table}),
c AS (SELECT doc_id, W,
             CAST(LEAST(ha % (len(W) + 1), hb % (len(W) + 1))
                  AS BIGINT) AS cut_lo,
             CAST(GREATEST(ha % (len(W) + 1), hb % (len(W) + 1))
                  AS BIGINT) AS cut_hi
      FROM w)
SELECT doc_id, CAST(len(W) AS BIGINT) AS n_words, cut_lo, cut_hi,
       '<PRE> ' || {j("list_slice(W, 1, CAST(cut_lo AS INT))")}
       || ' <SUF> ' || {j("list_slice(W, CAST(cut_hi AS INT) + 1, len(W))")}
       || ' <MID> ' || {j("list_slice(W, CAST(cut_lo AS INT) + 1, CAST(cut_hi AS INT))")}
         AS fim
FROM c ORDER BY doc_id"""


def markov_stationary_sql(iters: int = 10, table: str = "events") -> str:
    """Mirror of temporal.markov_stationary: unrolled power-iteration
    rounds over the aggregated transition matrix, truncating ppm
    division."""
    ctes = [f"""seq AS (SELECT event_type AS src,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS dst
      FROM {table})""",
            """pairs AS (SELECT src, dst, COUNT(*) AS n FROM seq
          WHERE dst IS NOT NULL GROUP BY 1, 2)""",
            """mat AS (SELECT p.src, p.dst, p.n, t.row_n
        FROM pairs p JOIN (SELECT src, SUM(n) AS row_n FROM pairs
                           GROUP BY 1) t USING (src))""",
            """states AS (SELECT DISTINCT s FROM (SELECT src AS s FROM pairs
                                     UNION SELECT dst FROM pairs))""",
            """pi0 AS (SELECT s, CAST(1000000 // (SELECT COUNT(*) FROM states)
                       AS BIGINT) AS pi_ppm
       FROM states)"""]
    for t in range(1, iters + 1):
        ctes.append(f"""
pi{t} AS (SELECT st.s,
                CAST(COALESCE(m.p, 0) AS BIGINT) AS pi_ppm
         FROM states st LEFT JOIN (
           SELECT mat.dst AS s, SUM(pi_ppm * n // row_n) AS p
           FROM mat JOIN pi{t - 1} ON mat.src = pi{t - 1}.s
           GROUP BY 1) m USING (s))""")
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT s AS event_type, pi_ppm FROM pi{iters}"
            " ORDER BY event_type")


def group_drift_sql(table: str = "embeddings") -> str:
    """Mirror of clustering.group_drift: integer centroid means via a
    range cross join, exact integer dots, one double cosine."""
    return f"""
WITH xi AS (SELECT CAST(label AS BIGINT) AS g,
                   list_transform(embedding,
                     x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
                               AS BIGINT)) AS xi
            FROM {table}),
q AS (SELECT g, r.pos, xi[r.pos + 1] AS v
      FROM xi, (SELECT UNNEST(range(0, 64)) AS pos) r),
cent AS (SELECT g, pos, CAST(SUM(v) // COUNT(*) AS BIGINT) AS m
         FROM q GROUP BY 1, 2),
norms AS (SELECT g, CAST(SUM(m * m) AS BIGINT) AS nn
          FROM cent GROUP BY 1),
dots AS (SELECT a.g AS ga, b.g AS gb,
                CAST(SUM(a.m * b.m) AS BIGINT) AS dot
         FROM cent a JOIN cent b USING (pos) WHERE a.g < b.g
         GROUP BY 1, 2)
SELECT ga AS group_a, gb AS group_b,
       ROUND(CAST(dot AS DOUBLE) /
             SQRT(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)), 6)
         AS cosine
FROM dots JOIN norms na ON na.g = ga JOIN norms nb ON nb.g = gb
ORDER BY group_a, group_b"""


def embedding_outliers_sql(q_ppm: int = 900_000, bin_shift: int = 30,
                           table: str = "embeddings") -> str:
    """Mirror of clustering.embedding_outliers: centroid means,
    per-vector exact integer distance, per-group CDF threshold."""
    return f"""
WITH xi AS (SELECT vec_id, CAST(label AS BIGINT) AS g,
                   list_transform(embedding,
                     x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)
                               AS BIGINT)) AS xi
            FROM {table}),
q AS (SELECT vec_id, g, r.pos, xi[r.pos + 1] AS v
      FROM xi, (SELECT UNNEST(range(0, 64)) AS pos) r),
cent AS (SELECT g, pos, CAST(SUM(v) // COUNT(*) AS BIGINT) AS m
         FROM q GROUP BY 1, 2),
d AS (SELECT q.vec_id, q.g,
             CAST(SUM((v - m) * (v - m)) AS BIGINT) AS d
      FROM q JOIN cent USING (g, pos) GROUP BY 1, 2),
bk AS (SELECT g, d // {1 << bin_shift} AS b FROM d),
hist AS (SELECT g, b, COUNT(*) AS c FROM bk GROUP BY 1, 2),
cdf AS (SELECT g, b, c,
               SUM(c) OVER (PARTITION BY g ORDER BY b
                            ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(c) OVER (PARTITION BY g) AS n
        FROM hist),
thresh AS (SELECT g, MIN(CASE WHEN cum * 1000000 >= {q_ppm} * n
                              THEN b END) AS tb,
                  MAX(n) AS n
           FROM cdf GROUP BY g)
SELECT g AS label, CAST(n AS BIGINT) AS n,
       CAST(SUM(CASE WHEN b > tb THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(tb AS BIGINT) AS thresh_bucket
FROM bk JOIN thresh USING (g)
GROUP BY g, n, tb ORDER BY label"""


def cohort_ltv_sql(table: str = "events") -> str:
    """Mirror of temporal.cohort_ltv."""
    return f"""
WITH ev AS (SELECT user_id AS u, CAST(ts AS DATE) AS d,
                   CAST(FLOOR(value * 100) AS BIGINT) AS cents
            FROM {table}),
first AS (SELECT u, MIN(d) AS cohort_day FROM ev GROUP BY u),
sizes AS (SELECT cohort_day, COUNT(DISTINCT u) AS n_users
          FROM first GROUP BY 1),
cells AS (SELECT cohort_day,
                 CAST(date_diff('day', cohort_day, d) AS BIGINT)
                   AS age_days,
                 CAST(SUM(cents) AS BIGINT) AS cents
          FROM ev JOIN first USING (u) GROUP BY 1, 2),
c2 AS (SELECT *, SUM(cents) OVER (PARTITION BY cohort_day
                                  ORDER BY age_days
                                  ROWS UNBOUNDED PRECEDING) AS cum
       FROM cells)
SELECT cohort_day, age_days, CAST(n_users AS BIGINT) AS n_users,
       cents, CAST(cum AS BIGINT) AS cum_cents,
       CAST(cum // n_users AS BIGINT) AS ltv_cents_per_user
FROM c2 JOIN sizes USING (cohort_day)
ORDER BY cohort_day, age_days"""


def ann_lsh_multiprobe_sql(k: int = 10, bucket_bits: int = 6,
                           seed: int = 7, dim: int = 64,
                           query_pred: str = "vec_id < 5") -> str:
    """Mirror of similarity.ann_lsh_multiprobe: each query probes its
    bucket plus every Hamming-1 neighbor (xor of one bit)."""
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << j})"
                                     for j in range(bucket_bits)])
    return f"""
WITH {_NORMED},
b AS (SELECT vec_id, v, ({_bucket_terms(bucket_bits, seed, dim)}) AS bucket FROM normed),
q0 AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b
       WHERE {query_pred}),
lq AS (SELECT query_id, qv, UNNEST([{probes}]) AS bucket FROM q0),
scored AS (SELECT DISTINCT query_id, c.vec_id AS cand_id,
                  ROUND(list_sum(list_transform(list_zip(qv, c.v),
                                                p -> p[1] * p[2])), 6)
                    AS cosine
           FROM b c JOIN lq USING (bucket) WHERE c.vec_id <> query_id)
SELECT query_id, cand_id, cosine,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, cand_id) AS rank
FROM scored QUALIFY rank <= {k} ORDER BY query_id, rank"""


def cm_error_eval_sql(sample_mod: int = 101, depth: int = 4,
                      width: int = 1024,
                      table: str = "documents") -> str:
    """Mirror of sketches.cm_error_eval: CMS grid, h60-sampled word
    candidates, one-sided relative error in ppm."""
    bkts = ", ".join(h60_sql(f"w || '#cm{r}'") + f" % {width}"
                     for r in range(depth))
    return f"""
WITH wx AS (SELECT unnest(string_split({_NORM}, ' ')) AS w FROM {table}),
wc AS (SELECT w, COUNT(*) AS n FROM wx WHERE w <> '' GROUP BY w),
cl AS (SELECT w, n, unnest([{bkts}]) AS bkt,
              unnest(range({depth})) AS r
       FROM wc),
cells AS (SELECT r, bkt, CAST(SUM(n) AS BIGINT) AS cell
          FROM cl GROUP BY r, bkt),
cand AS (SELECT w, n, unnest([{bkts}]) AS bkt,
                unnest(range({depth})) AS r
         FROM wc WHERE {h60_sql('w')} % {sample_mod} = 0)
SELECT cand.w AS word, CAST(cand.n AS BIGINT) AS exact_n,
       CAST(MIN(cells.cell) AS BIGINT) AS cm_est,
       CAST((MIN(cells.cell) - cand.n) * 1000000 // cand.n AS BIGINT)
         AS over_ppm
FROM cand JOIN cells USING (r, bkt)
GROUP BY cand.w, cand.n
ORDER BY word"""
