"""Sketch operators: fixed-size approximate aggregates for 100 TB.

Exact distinct counts and full-vocabulary frequency tables stop
scaling first: ``countDistinct`` shuffles every distinct id to its
group's reducer, and a word-frequency table holds the whole vocabulary
in the shuffle.  Sketches keep *bounded* state that combines map-side.
Each family's state and estimator are written once:

- registers (MAX-merged, ``m`` small ints per group): :func:`_registers`
  derives them; FM/PCSA (``fm_distinct``, ``fm_distinct_rollup``)
  estimates with :func:`_fm_estimate_sql`, HyperLogLog
  (``hll_distinct``, ``io.column_stats``) with :class:`HLL`;
- count-min (a SUM-merged depth×width grid; ``cm_heavy_hitters``,
  ``cm_error_eval``): :func:`_cm_grid` and :func:`_cm_estimate`;
- KMV bottom-k (``kmv_sketch``, ``kmv_id_sketch``): :func:`_kmv_pairs`
  and :func:`_kmv_est`;
- bloom (``bloom_build``, ``bloom_semi_join_stats``):
  :func:`_bloom_positions`;
- one operator each: ``hist_quantiles``, ``log_histogram``,
  ``upper_quantile``, ``ams_f2``.

All hash with the portable ``h60`` (phash.py), so every register and
cell is replayable bit-exactly in the DuckDB oracle — the sketches are
deterministic under any partitioning, retry, or engine.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import pin
from ..phash import h60
from .dedup import _shingles, ensure_parallelism, normalize_text

PHI = 0.77351  # Flajolet–Martin bias correction constant

# trailing-zero cap: the post-bucket hash remainder has < 55 bits, so
# a remainder of exactly 0 gets the "all zeros" register value
_RHO_CAP = 55

# HLL register cap / harmonic-sum scale: registers are clipped to
# _HLL_S so 2^(_HLL_S - reg) stays a non-negative BIGINT shift and the
# scaled harmonic sum is pure integer arithmetic (no float 2^-reg
# accumulation whose rounding order could differ across engines)
_HLL_S = 40


def _register_sql(h: str, m: int, clip: bool = False) -> tuple[str, str]:
    """Spark SQL for the ``(bucket, rho)`` of hash column ``h`` over
    ``m`` registers: the low bits pick the bucket and rho is
    ``trailing_zeros(remaining bits) + 1``, computed with the portable
    ``bit_count((r & -r) - 1)`` trick (no log2, whose libm rounding
    differs across engines).  ``clip`` caps rho at ``_HLL_S`` (HLL
    only).  A NULL ``h`` has no bucket: callers drop NULL hashes."""
    r = f"({h} div {m})"
    rho = (f"CASE WHEN {r} = 0 THEN {_RHO_CAP} "
           f"ELSE bit_count(({r} & -{r}) - 1) + 1 END")
    if clip:
        rho = f"LEAST({rho}, {_HLL_S})"
    return f"pmod({h}, {m})", rho


def _registers(df: DataFrame, keys: dict[str, Column], id_col: str,
               m: int, clip: bool = False) -> DataFrame:
    """Register frame ``(*keys, b, reg)``: each id hashed once with
    h60, NULL hashes (NULL ids) dropped — a NULL is no value, so it
    sets no register — and each register the MAX of its rhos,
    partial-aggregated map-side."""
    b, rho = _register_sql("h", m, clip)
    return (df.select(*[c.alias(k) for k, c in keys.items()],
                      h60(F.col(id_col).cast("string")).alias("h"))
            .filter(F.col("h").isNotNull())
            .select(*keys, F.expr(b).alias("b"), F.expr(rho).alias("rho"))
            .groupBy(*keys, "b").agg(F.max("rho").alias("reg")))


def _fm_estimate_sql(sum_reg: str, buckets: int) -> str:
    """FM/PCSA estimate ``floor(buckets/φ) << (Σreg div buckets)``:
    integer-only (coarser than the float 2^mean form but
    engine-exact)."""
    return (f"shiftleft(CAST({int(buckets / PHI)} AS BIGINT), "
            f"CAST({sum_reg} div {buckets} AS INT))")


def _hll_alpha1000(m: int) -> int:
    """HLL bias constant alpha_m scaled by 1000 (Flajolet et al. 2007,
    Fig. 3): the published exact values for m in {16, 32, 64}, the
    asymptotic 0.7213/(1 + 1.079/m) above — evaluated once in Python
    at plan-build time so Spark and the DuckDB oracle interpolate the
    SAME integer."""
    table = {16: 673, 32: 697, 64: 709}
    if m in table:
        return table[m]
    if m < 16:
        raise ValueError(f"HLL requires m >= 16, got {m}")
    return int(round(721.3 * m / (m + 1.079)))


def _hll_lc_table(m: int) -> list[int]:
    """Linear-counting estimates ``round(m * ln(m / V))`` for every
    possible empty-register count V — precomputed in Python so neither
    engine evaluates ln() at query time (libm ulp drift)."""
    import math
    return [0] + [int(round(m * math.log(m / v))) for v in range(1, m)]


class HLL:
    """Engine-exact HyperLogLog over ``m`` registers, as Spark SQL
    text: the one place its register clip, harmonic-sum weights and
    estimator live, so ``hll_distinct`` and ``io.column_stats`` render
    the same arithmetic.

    The harmonic sum Σ 2^-reg is the scaled integer Σ 2^(S-reg)
    (registers clipped to S = ``_HLL_S``), the raw estimate is
    α·m²·2^S/Z in integer floor ops (α applied as the alpha_m/1000
    ratio AFTER the division so every intermediate fits BIGINT), and
    the small-range linear-counting correction ``m·ln(m/V)`` comes
    from an m-entry literal table — no transcendentals, no floats,
    bit-identical in Spark and DuckDB."""

    def __init__(self, m: int):
        self.m = m
        self.alpha1000 = _hll_alpha1000(m)

    def register(self, h: str) -> tuple[str, str]:
        """``(bucket, rho)`` of hash column ``h``, rho clipped."""
        return _register_sql(h, self.m, clip=True)

    @staticmethod
    def weight(reg: str) -> str:
        """A register's term 2^(S - reg) of the scaled harmonic sum."""
        return f"shiftleft(CAST(1 AS BIGINT), {_HLL_S} - {reg})"

    def z_scaled(self, hits: str, z_num: str) -> str:
        """The scaled harmonic sum: ``z_num`` (Σ weight over the
        ``hits`` set registers) plus 2^S per empty register."""
        return (f"({z_num} + (({self.m} - {hits}) * "
                f"shiftleft(CAST(1 AS BIGINT), {_HLL_S})))")

    def estimate(self, hits: str, z_num: str) -> str:
        """BIGINT estimate from the set-register count and ``z_num``:
        0 with no register set, linear counting while a register is
        empty and the raw estimate is <= 2.5m, else the raw estimate."""
        m = self.m
        raw = (f"(({self.alpha1000} * (({m * m} * "
               f"shiftleft(CAST(1 AS BIGINT), {_HLL_S})) div "
               f"{self.z_scaled(hits, z_num)})) div 1000)")
        lc_items = ",".join(str(v) for v in _hll_lc_table(m))
        return (f"CAST(CASE WHEN {hits} = 0 THEN 0 "
                f"WHEN {hits} < {m} AND {raw} <= {int(2.5 * m)} "
                f"THEN element_at(array({lc_items}), "
                f"CAST({m} - {hits} AS INT) + 1) "
                f"ELSE {raw} END AS BIGINT)")


def _with_exact(sketch: DataFrame, df: DataFrame, group_col: str,
                id_col: str) -> DataFrame:
    """``sketch`` with the exact distinct per group joined on by
    broadcast; a group whose ids are all NULL has no sketch row."""
    exact = df.groupBy(group_col).agg(
        F.countDistinct(id_col).alias("exact_distinct"))
    return sketch.join(F.broadcast(exact), group_col)


def fm_distinct(df: DataFrame, group_col: str = "event_type",
                id_col: str = "user_id", buckets: int = 64) -> DataFrame:
    """Per-group distinct-count sketch (Flajolet–Martin / PCSA).

    Each id hashes once into one of ``buckets`` registers
    (:func:`_registers`), merged map-side with MAX, so per-group state
    is ``buckets`` small ints regardless of cardinality — the whole
    point at 100 TB.  The estimate is :func:`_fm_estimate_sql`; the
    exact distinct rides along for calibration.

    NULL ids are skipped, as ``COUNT(DISTINCT)`` skips them: they set
    no register, and a group whose ids are all NULL has no row.
    """
    regs = _registers(df, {"grp": F.col(group_col)}, id_col, buckets)
    summary = (regs.groupBy("grp").agg(
        F.count("*").alias("buckets_hit"),
        F.sum("reg").alias("sum_reg"),
        F.max("reg").alias("max_reg"))
        .select(F.col("grp").alias(group_col), "buckets_hit", "sum_reg",
                "max_reg", F.expr(_fm_estimate_sql("sum_reg", buckets))
                .alias("est_distinct")))
    return _with_exact(summary, df, group_col, id_col)


def hll_distinct(df: DataFrame, group_col: str = "event_type",
                 id_col: str = "user_id", m: int = 64,
                 include_exact: bool = True) -> DataFrame:
    """Per-group HyperLogLog distinct count (Flajolet et al. 2007) —
    the industry-standard refinement of :func:`fm_distinct`'s PCSA:
    same MAX-combinable register layout (constant bytes per group at
    any cardinality), but the estimate uses the *harmonic* mean of
    register values, cutting the standard error to ~1.04/√m.  The
    arithmetic is :class:`HLL`'s, engine-exact.

    Plan shape at 100 TB: one narrow hash pass, groupBy(grp, register)
    MAX partial-aggregates map-side, then m rows per group reduce to
    one — the same two-exchange shape as fm_distinct.  The exact
    distinct rides along for calibration unless ``include_exact`` is
    False, the production shape (corpus_stats_sketch): it is the
    expensive id shuffle the sketch replaces.

    NULL ids are skipped, as ``COUNT(DISTINCT)`` skips them: they set
    no register, and a group whose ids are all NULL has no row.
    """
    hll = HLL(m)
    regs = _registers(df, {"grp": F.col(group_col)}, id_col, m, clip=True)
    core = (regs.groupBy("grp").agg(
        F.count("*").alias("buckets_hit"),
        F.sum(F.expr(hll.weight("reg"))).alias("z_num"))
        .select(F.col("grp").alias(group_col), "buckets_hit",
                F.expr(hll.z_scaled("buckets_hit", "z_num"))
                .alias("z_scaled"),
                F.expr(hll.estimate("buckets_hit", "z_num"))
                .alias("est_hll")))
    return (_with_exact(core, df, group_col, id_col) if include_exact
            else core)


def _cm_buckets(word, depth: int, width: int):
    return F.posexplode(F.array(*[
        F.pmod(h60(F.concat(word, F.lit(f"#cm{r}"))), F.lit(width))
        for r in range(depth)]))


def _cm_grid(docs: DataFrame, text_col: str, depth: int,
             width: int) -> tuple[DataFrame, DataFrame]:
    """The count-min grid over the corpus's normalized words: returns
    the word counts ``(w, n)`` and the ``(r, bkt, cell)`` grid, whose
    depth×width cells SUM-merge map-side — constant state however
    large the vocabulary."""
    words = (docs.select(F.explode(
        F.split(normalize_text(F.col(text_col)), " ")).alias("w"))
        .filter(F.col("w") != ""))
    wc = words.groupBy("w").agg(F.count("*").alias("n"))
    cells = (wc.select("w", "n",
                       _cm_buckets(F.col("w"), depth, width)
                       .alias("r", "bkt"))
             .groupBy("r", "bkt").agg(F.sum("n").alias("cell")))
    return wc, cells


def _cm_estimate(cand: DataFrame, cells: DataFrame, depth: int,
                 width: int) -> DataFrame:
    """Count-min estimate per candidate word: ``cand``'s columns (a
    ``w`` column among them) plus ``cm_est``, the MIN over the word's
    ``depth`` cells — never under the true count.  The grid is
    depth×width rows, so it broadcasts."""
    return (cand.select("*", _cm_buckets(F.col("w"), depth, width)
                        .alias("r", "bkt"))
            .join(F.broadcast(cells), ["r", "bkt"])
            .groupBy(*cand.columns)
            .agg(F.min("cell").alias("cm_est")))


def cm_heavy_hitters(docs: DataFrame, k: int = 10, depth: int = 4,
                     width: int = 1024,
                     text_col: str = "text") -> DataFrame:
    """Count-min frequency estimates for the corpus's top-k words.

    The sketch grid is :func:`_cm_grid`; a term's estimate
    (:func:`_cm_estimate`) is the MIN over its ``depth`` cells, always
    ≥ the true count.  Candidates here are the exact top-k
    (TakeOrdered — k-bounded partial sort, never a global window over
    the vocab) so the gated output exposes exact vs estimate side by
    side; at 100 TB the same grid answers ad-hoc frequency probes
    without re-scanning.
    """
    wc, cells = _cm_grid(docs, text_col, depth, width)
    # exact top-k candidates: bounded orderBy+limit, deterministic
    # (count desc, word) tie-break; ranking happens over k rows only
    topk = wc.orderBy(F.desc("n"), "w").limit(k)
    ranked = topk.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("n"), "w")))
    est = _cm_estimate(ranked, cells, depth, width)
    return est.select(F.col("w").alias("word"),
                      F.col("n").alias("exact_n"), "cm_est", "rank")


def fm_distinct_rollup(df: DataFrame, group_col: str = "event_type",
                       id_col: str = "user_id", ts_col: str = "ts",
                       buckets: int = 64) -> DataFrame:
    """Sketch MERGEABILITY in action — the property that justifies
    sketches at 100 TB: per-(group, day) FM registers roll up to
    per-group and corpus-wide distinct estimates WITHOUT touching the
    ids again.  A production pipeline stores the daily register frames
    (``buckets`` small ints per scope) next to each daily partition;
    monthly/all-time answers MAX-merge those frames instead of
    re-scanning the data — this operator is that merge, with the exact
    distinct riding along per scope as the self-check.

    Ids are hashed ONCE at the finest grain; the two coarser levels
    are register-only MAX aggregations (bytes, not data).  Output: one
    row per scope — ``scope`` ∈ ('day', 'group', 'all'), sentinel
    values fill the collapsed keys.
    """
    # the daily register frame IS the stored artifact — pinned so the
    # three scope levels merge registers instead of re-hashing the
    # corpus (release with cache.release_caches)
    daily = pin(_registers(
        df, {"grp": F.col(group_col), "day": F.to_date(ts_col)},
        id_col, buckets))
    # exact self-check: ONE distinct pass over (grp, day, id) tuples,
    # pinned; coarser exact counts reduce that frame, not the corpus
    tup = pin(df.select(F.col(group_col).alias("grp"),
                        F.to_date(ts_col).alias("day"), F.col(id_col))
              .distinct())
    levels = [
        (daily, tup, ["grp", "day"], "day"),
        (daily.groupBy("grp", "b").agg(F.max("reg").alias("reg")),
         tup.select("grp", id_col).distinct(), ["grp"], "group"),
        (daily.groupBy("b").agg(F.max("reg").alias("reg")),
         tup.select(id_col).distinct(), [], "all")]
    est = F.expr(_fm_estimate_sql("sum_reg", buckets))

    def scoped(frame, keys, scope, value):
        return frame.select(
            F.lit(scope).alias("scope"),
            (F.col("grp") if "grp" in keys
             else F.lit("(all)")).alias(group_col),
            (F.col("day") if "day" in keys
             else F.lit("1900-01-01").cast("date")).alias("day"),
            value)

    sk = reduce(DataFrame.unionByName, [
        scoped(regs.groupBy(*keys).agg(F.sum("reg").alias("sum_reg")),
               keys, scope, est.alias("est_distinct"))
        for regs, _, keys, scope in levels])
    # count(id), not count(*): a NULL id is no distinct value
    exact = reduce(DataFrame.unionByName, [
        scoped(ids.groupBy(*keys).agg(F.count(id_col).alias("exact_distinct")),
               keys, scope, "exact_distinct")
        for _, ids, keys, scope in levels])
    return sk.join(exact, ["scope", group_col, "day"])


def _bloom_positions(key: Column, m_bits: int,
                     k_hashes: int) -> list[Column]:
    """The ``k_hashes`` bit positions ``h60(key || '#bf{i}') % m_bits``
    of a key — the one expression the bitmap build and the probe
    share."""
    return [F.pmod(h60(F.concat(key.cast("string"), F.lit(f"#bf{i}"))),
                   F.lit(m_bits))
            for i in range(k_hashes)]


def bloom_build(keys: DataFrame, key_col: str, m_bits: int = 8192,
                k_hashes: int = 5) -> list[int]:
    """Build a bloom-filter bitmap over a (small) key set:
    ``m_bits/32`` packed words, materialized driver-side — the same
    bounded literal-binding pattern as the k-means centroids
    (similarity.py): the dim side is small by assumption and the
    bitmap is exactly what would broadcast to every executor.

    Bits are 32-per-word inside BIGINTs so every shift stays positive
    and engine-exact (bit 63 of a packed 64-bit word flips the sign,
    and signed-overflow semantics differ across engines).  Each key
    sets its :func:`_bloom_positions`; words merge with bit_or —
    map-side combinable, constant size.
    """
    pos = F.explode(F.array(*_bloom_positions(
        F.col(key_col), m_bits, k_hashes))).alias("pos")
    rows = (keys.select(pos)
            .select(F.expr("pos div 32").alias("w"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), "
                           "CAST(pos % 32 AS INT))").alias("bit"))
            .groupBy("w").agg(F.expr("bit_or(bit)").alias("word"))
            .collect())
    arr = [0] * (m_bits // 32)
    for r in rows:
        arr[r["w"]] = r["word"]
    return arr


def bloom_semi_join_stats(fact: DataFrame, keys: DataFrame,
                          fact_key: str, dim_key: str, group_col: str,
                          m_bits: int = 8192,
                          k_hashes: int = 5) -> DataFrame:
    """Bloom-filter semi-join reduction — the shuffle killer for
    selective joins at 100 TB: instead of shuffling the whole fact
    table into a join just to discard most of it, a ``m_bits`` bitmap
    built from the dim keys is bound into a NARROW fact-side filter
    (no shuffle, no broadcast-hash build per row batch); only
    survivors (members + a bounded false-positive tail) reach the
    exact join.  This is what Spark's runtime row-group/bloom pruning
    does opaquely — here it is explicit, deterministic (h60), and
    oracle-replayable.

    Returns per-``group_col``: total rows, bloom-pass rows, exact
    member rows, and false negatives (always 0 — blooms never miss;
    the column is the self-check).
    """
    bitmap = bloom_build(keys, dim_key, m_bits, k_hashes)
    pcols = [f"__p{i}" for i in range(k_hashes)]
    probed = fact.select(
        "*", F.lit(bitmap).alias("__bf"),
        *[p.alias(c) for p, c in zip(
            _bloom_positions(F.col(fact_key), m_bits, k_hashes), pcols)])
    hit = reduce(Column.__and__, [
        F.expr(f"(shiftright(element_at(__bf, CAST({c} div 32 AS INT) + 1), "
               f"CAST({c} % 32 AS INT)) & 1) = 1") for c in pcols])
    dim = keys.select(F.col(dim_key).alias("__k"),
                      F.lit(1).alias("__m")).distinct()
    joined = (probed.withColumn("__bloom", hit).drop("__bf", *pcols)
              .join(F.broadcast(dim),
                    F.col(fact_key) == F.col("__k"), "left"))
    return (joined.groupBy(group_col)
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.when(F.col("__bloom"), 1).otherwise(0))
                 .alias("n_bloom_pass"),
                 F.sum(F.when(F.col("__m").isNotNull(), 1).otherwise(0))
                 .alias("n_exact"),
                 F.sum(F.when(F.col("__m").isNotNull() & ~F.col("__bloom"),
                              1).otherwise(0)).alias("n_false_neg")))


def hist_quantiles(df: DataFrame, group_col: str = "event_type",
                   value: str = "value", bucket_cents: int = 500,
                   quantiles: tuple[int, ...] = (50, 90, 99)) -> DataFrame:
    """Histogram-sketch quantiles per group — the t-digest/KLL role
    with a fixed equi-width grid so the answer is deterministic and
    engine-exact (percentile_approx and friends are neither).

    State per group is one counter per occupied bucket (SUM-combinable
    map-side); the estimate for quantile q is the UPPER EDGE of the
    first bucket whose cumulative count reaches ceil(n·q/100) — a
    one-sided error bounded by the bucket width, in integer cents.
    One shuffle on the group key; the cumulative pass and the total
    reuse the same partitioning.
    """
    cents = F.floor(F.col(value) * 100).cast("long")
    # cents / width as double division then floor: cents ≪ 2^53 keeps
    # the quotient exact, and DuckDB's BIGINT / INT divides identically
    bucket = F.floor(cents / F.lit(bucket_cents)).cast("long")
    hist = (df.select(F.col(group_col).alias("grp"),
                      bucket.alias("bucket"))
            .groupBy("grp", "bucket").agg(F.count("*").alias("n")))
    wcum = (Window.partitionBy("grp").orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("grp")
    cum = (hist.withColumn("cum", F.sum("n").over(wcum))
           .withColumn("total", F.sum("n").over(wall)))
    aggs = [F.count("*").alias("n_buckets"),
            F.max("total").alias("n_total")]
    for qt in quantiles:
        hit = F.when(F.col("cum") * 100 >= F.col("total") * qt,
                     F.col("bucket"))
        aggs.append(((F.min(hit) + 1) * bucket_cents)
                    .alias(f"p{qt}_edge_c"))
    return cum.groupBy("grp").agg(*aggs) \
        .select(F.col("grp").alias(group_col), *[
            f"p{qt}_edge_c" for qt in quantiles], "n_buckets", "n_total")


def kmv_sketch(docs: DataFrame, group_col: str = "source",
               text_col: str = "text", k: int = 64,
               n: int = 2, salt: int = 32) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketch per group,
    plus pairwise Jaccard estimates between groups — the theta-sketch
    family's set-operation trick that FM/HLL registers cannot do:
    because every sketch is just the k smallest ``h60`` values of the
    group's word ``n``-shingle set (shingles, not single words — the
    synthetic corpus shares one vocabulary, and any real corpus's
    unigram overlap saturates the same way), sketches of different
    groups COMPOSE — the bottom-k of a union is computable from the
    two sketches alone, and membership of a union-sample hash in both
    sketches estimates Jaccard (the KMV coincidence estimator:
    J ≈ |K(A∪B) ∩ A ∩ B| / |K(A∪B)|).  The corpus overlap matrix between sources is the
    pipeline question this answers at 100 TB without any cross-group
    token join.

    Plan shape: one explode+distinct pass builds (group, token-hash)
    — the only corpus-sized work, shuffled on the uniform digest;
    :func:`_kmv_pairs` does the rest on k-row sketches.  Returns one
    row per unordered group pair (ga < gb): (ga, gb, est_a, est_b,
    inter_k, kk, jaccard_ppm), Jaccard in integer ppm.
    """
    base = (ensure_parallelism(docs)
            .select(F.col(group_col).alias("grp"),
                    F.explode(F.array_distinct(
                        _shingles(F.col(text_col), n))).alias("w"))
            .filter(F.col("w") != "")
            .select("grp", h60(F.col("w")).alias("h"))
            .distinct())
    return _kmv_pairs(base, k, salt).drop("u_kth")


def _kmv_est(n: str, kth: str, k: int) -> Column:
    """KMV distinct estimate of a bottom-k sample of ``n`` hashes whose
    largest is ``kth``: the exact ``n`` while it is under k, else
    ``floor((k-1)·2^60 / kth)`` with one IEEE double division (both
    operands exactly representable, bit-identical across engines)."""
    return F.when(F.col(n) < k, F.col(n)).otherwise(
        F.floor(F.lit(float(k - 1)) * F.lit(float(1 << 60))
                / F.col(kth).cast("double"))).cast("long")


def _kmv_pairs(base: DataFrame, k: int, salt: int) -> DataFrame:
    """The bottom-k core of :func:`kmv_sketch` and
    :func:`kmv_id_sketch`, over a distinct ``(grp, h)`` frame.

    Bottom-k is TWO-LEVEL: a per-(group, h mod ``salt``) window keeps
    k rows per slice (the big sort runs parallel across salts), then
    the final per-group window merges ≤ ``salt·k`` rows — no
    group-sized single-task sort.  Pairs come from a broadcast
    ``ga < gb`` list joined against the k-row sketches: the bottom-k
    of a pair's union, ``inter_k`` of its hashes in both sketches.

    Returns one row per unordered group pair: (ga, gb, est_a, est_b,
    inter_k, kk, jaccard_ppm, u_kth) — ``u_kth`` the largest hash of
    the union's bottom-k, for union estimates.
    """
    ws = Window.partitionBy("grp", "s").orderBy("h")
    cand = (base.withColumn("s", F.pmod("h", F.lit(salt)))
            .withColumn("rs", F.row_number().over(ws))
            .filter(F.col("rs") <= k).select("grp", "h"))
    wg = Window.partitionBy("grp").orderBy("h")
    sk = (cand.withColumn("rnk", F.row_number().over(wg))
          .filter(F.col("rnk") <= k).select("grp", "h"))
    # the k-row-per-group sketch feeds FOUR derivations (estimates +
    # both pair sides); without a pin each one replays the
    # corpus-sized distinct chain (audited: 8 Generate nodes, zero
    # ReusedExchange).  Pin EAGERLY (count() forces the build — a
    # lazily-pinned frame fanned out in one job degrades to
    # recomputation) and register for release_caches().  The cache is
    # k×|groups| rows — driver-tiny at any corpus size.
    sk = pin(sk)
    sk.count()

    gest = (sk.groupBy("grp").agg(F.count("*").alias("nk"),
                                  F.max("h").alias("kth"))
            .select("grp", _kmv_est("nk", "kth", k).alias("est_distinct")))
    groups = gest.select("grp")
    pairs = (groups.select(F.col("grp").alias("ga"))
             .crossJoin(groups.select(F.col("grp").alias("gb")))
             .filter(F.col("ga") < F.col("gb")))
    # each pair's two sketches, flagged by side
    ua, ub = [F.broadcast(pairs)
              .join(sk.select(F.col("grp").alias(g), "h"), g)
              .select("ga", "gb", "h", F.lit(int(g == "ga")).alias("ia"),
                      F.lit(int(g == "gb")).alias("ib"))
              for g in ("ga", "gb")]
    u = (ua.unionByName(ub)
         .groupBy("ga", "gb", "h")
         .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib")))
    wu = Window.partitionBy("ga", "gb").orderBy("h")
    ru = u.withColumn("rnk", F.row_number().over(wu))
    pagg = ru.groupBy("ga", "gb").agg(
        F.sum(F.when((F.col("rnk") <= k) & (F.col("ia") == 1)
                     & (F.col("ib") == 1), 1).otherwise(0))
        .cast("long").alias("inter_k"),
        F.least(F.count("*"), F.lit(k).cast("long")).alias("kk"),
        F.max(F.when(F.col("rnk") <= k, F.col("h"))).alias("u_kth"))
    return (pagg
            .join(gest.select(F.col("grp").alias("ga"),
                              F.col("est_distinct").alias("est_a")), "ga")
            .join(gest.select(F.col("grp").alias("gb"),
                              F.col("est_distinct").alias("est_b")), "gb")
            .select("ga", "gb", "est_a", "est_b", "inter_k", "kk",
                    F.floor(F.col("inter_k") * 1_000_000 / F.col("kk"))
                    .cast("long").alias("jaccard_ppm"), "u_kth"))


def upper_quantile(df: DataFrame, group_col: str = "event_type",
                   value: str = "value", id_col: str = "event_id",
                   max_retained: int = 4096,
                   quantiles: tuple[float, ...] = (0.9, 0.99, 0.999)
                   ) -> DataFrame:
    """Exact upper quantiles from a retained top-k — the port of the
    reference's ``com/mapr/stats/UpperQuantile.java:31`` (heap of the
    ``max_retained`` biggest stream values; ``quantile(q)`` walks the
    retained tail with linear interpolation,  UpperQuantile.java:55-82).
    Complements :func:`hist_quantiles`: the histogram sketch bounds
    error by bucket width everywhere; this is EXACT for tail quantiles
    whenever the tail fits the retained budget — the p99/p999 latency
    question.

    Formula parity (UpperQuantile.quantile): with n stream values and
    size = min(n, k) retained values r[1..size] ascending,
    ``item = (n-1)·(1-q)``, ``pos = size - item``, ``i = floor(pos)``,
    ``frac = pos - i``; the answer is ``r[i]`` when frac = 0 else
    ``r[i]·(1-frac) + r[i+1]·frac``.  Groups where q is out of the
    retained range (item > size-1 — the reference throws,
    UpperQuantile.java:61) report NULL.  ``1-q`` is pre-computed in
    Python and embedded as the SAME decimal literal in both engines,
    so the double arithmetic is bit-identical; the two interpolation
    terms sum in either order identically (IEEE + is commutative).

    Plan shape for 100 TB: the group count is ONE map-side-combined
    aggregation to |groups| rows (broadcast back), and the top-k
    filter is a rank-desc row_number ≤ k — Spark's WindowGroupLimit
    rewrites it into a per-partition partial top-k BEFORE the
    shuffle, so no executor ever sorts a full group; everything after
    the filter touches ≤ k·|groups| rows.  Heap ties at the boundary
    retain the same value-multiset as the reference's strict-greater
    heap test, so quantiles agree even when the cut value repeats.
    """
    # the rank-filter -> partial-top-k rewrite (InferWindowGroupLimit)
    # only fires for limits <= the optimizer threshold (default 1000);
    # raise it to the retained budget or the full per-group sort comes
    # back.  Session-wide, idempotent, same pattern as io.read_table's
    # reader confs.
    if max_retained > 1000:
        df.sparkSession.conf.set(
            "spark.sql.optimizer.windowGroupLimitThreshold",
            str(max_retained))
    grp = F.col(group_col).alias("grp")
    counts = (df.groupBy(grp)
              .agg(F.count("*").alias("n")))
    wd = Window.partitionBy("grp").orderBy(F.desc("v"), F.asc(id_col))
    ret = (df.select(grp, F.col(value).cast("double").alias("v"),
                     F.col(id_col))
           .withColumn("rd", F.row_number().over(wd))
           .filter(F.col("rd") <= max_retained))
    both = (ret.join(F.broadcast(counts), "grp")
            .withColumn("size", F.least(F.col("n"),
                                        F.lit(max_retained).cast("long")))
            .withColumn("asc_idx", F.col("size") - F.col("rd") + 1))
    aggs = [F.max("n").alias("n_total"),
            F.max("size").alias("n_retained")]
    for q in quantiles:
        omq = repr(1.0 - q)          # identical literal both engines
        name = "p" + repr(q)[2:]     # 0.9 -> p9, 0.99 -> p99, ...
        # string-parse the literal: a bare decimal literal is DECIMAL
        # in BOTH engines' SQL (exact arithmetic, not the reference's
        # IEEE doubles); CAST('…' AS DOUBLE) pins nearest-double
        item = F.expr(f"(n - 1) * CAST('{omq}' AS DOUBLE)")
        pos = F.col("size") - item
        i = F.floor(pos).cast("long")
        frac = pos - i.cast("double")
        contrib = (F.when(F.col("asc_idx") == i,
                          F.col("v") * (F.lit(1.0) - frac))
                   .when((F.col("asc_idx") == i + 1) & (frac > 0),
                         F.col("v") * frac))
        valid = item <= (F.col("size") - 1).cast("double")
        aggs.append(F.when(F.max(F.when(valid, 1).otherwise(0)) == 1,
                           F.sum(contrib)).alias(name))
    return (both.groupBy("grp").agg(*aggs)
            .select(F.col("grp").alias(group_col), "n_total",
                    "n_retained",
                    *["p" + repr(q)[2:] for q in quantiles]))


def ams_f2(df: DataFrame, group_col: str = "event_type",
           id_col: str = "user_id", estimators: int = 16) -> DataFrame:
    """AMS (Alon–Matias–Szegedy) F2 sketch: per group, estimate the
    SECOND frequency moment Σ f_x² — the self-join size, the quantity
    a join planner needs to predict skew before shuffling 100 TB.
    Each estimator keeps one counter c_j = Σ_x f_x·sign_j(x) with a
    ±1 hash sign; E[c_j²] = F2, and the lower median over estimators
    tames the variance.  Signs come from the portable h60 parity so
    the sketch is bit-identical cross-engine.

    Plan shape: frequencies collapse to one row per (group, key) in a
    single map-side-combined shuffle (the same frame yields the exact
    F2 for calibration — pinned, one pass); the J-way estimator
    expansion happens on that COLLAPSED frame, not the raw events, so
    the explode costs J·|distinct keys|, never J·|rows|.  Counters
    merge map-side (sum), per-group state is J longs.  The median is
    an exact integer pick from the sorted J-array — no float
    percentile.
    """
    freq = pin(df.groupBy(F.col(group_col).alias("grp"),
                          F.col(id_col).cast("string").alias("x"))
               .agg(F.count("*").alias("f")))
    freq.count()
    exact = freq.groupBy("grp").agg(
        F.sum(F.col("f") * F.col("f")).alias("exact_f2"),
        F.count("*").alias("n_keys"))
    signed = (freq.select(
        "grp", "f",
        F.explode(F.sequence(F.lit(0), F.lit(estimators - 1))).alias("j"),
        "x")
        .select("grp", "j",
                (F.col("f") * (1 - 2 * (h60(F.concat(F.col("x"),
                 F.lit(":"), F.col("j").cast("string"))) % 2)))
                .alias("contrib")))
    counters = (signed.groupBy("grp", "j")
                .agg(F.sum("contrib").alias("cj")))
    med_idx = estimators // 2 + 1          # 1-based lower median
    summary = (counters.select("grp", (F.col("cj") * F.col("cj"))
                               .alias("cj2"))
               .groupBy("grp")
               .agg(F.element_at(F.sort_array(F.collect_list("cj2")),
                                 med_idx).alias("est_f2")))
    return (summary.join(F.broadcast(exact), "grp")
            .select(F.col("grp").alias(group_col), "n_keys", "est_f2",
                    "exact_f2",
                    F.expr("CAST(abs(est_f2 - exact_f2) * 1000000"
                           " div exact_f2 AS BIGINT)").alias("err_ppm")))


def log_histogram(events: DataFrame, group_col: str = "event_type",
                  value_col: str = "value") -> DataFrame:
    """Log2-bucketed value histogram per group — the latency/amount
    distribution primitive (exponential buckets hold their resolution
    across six orders of magnitude where a fixed grid wastes its
    cells): bucket = bit-length of the integer cents, so bucket b
    covers [2^(b-1), 2^b).  Everything is SUM-combinable counts over
    a one-pass narrow projection — the same shape monitoring systems
    ship as histogram metrics, here engine-exact (bucket from
    length(bin(x)) — no floating log anywhere).

    Returns (group, bucket, lo_cents, hi_cents, n, share_ppm) with
    share_ppm the bucket's fraction of its group in integer ppm;
    zero/negative-cent rows land in bucket 0.
    """
    cents = F.floor(F.col(value_col) * 100).cast("long")
    bucketed = events.select(
        F.col(group_col).alias("grp"),
        F.when(cents <= 0, F.lit(0))
        .otherwise(F.length(F.bin(cents))).cast("long").alias("bucket"))
    counts = bucketed.groupBy("grp", "bucket").agg(
        F.count("*").alias("n"))
    # group totals as a window over the already-tiny counts frame: a
    # groupBy+join would duplicate the counts subtree (second corpus
    # scan — no reuse guarantee), a window re-reads |groups·buckets|
    # rows
    total_w = Window.partitionBy("grp")
    return (counts.withColumn("total", F.sum("n").over(total_w))
            .select(F.col("grp").alias(group_col), "bucket",
                    F.expr("CASE WHEN bucket = 0 THEN 0 ELSE"
                           " shiftleft(CAST(1 AS BIGINT), "
                           "CAST(bucket AS INT) - 1) END")
                    .cast("long").alias("lo_cents"),
                    F.expr("shiftleft(CAST(1 AS BIGINT), "
                           "CAST(bucket AS INT)) - 1")
                    .cast("long").alias("hi_cents"),
                    "n",
                    F.expr("n * 1000000 div total").cast("long")
                    .alias("share_ppm")))


def cm_error_eval(docs: DataFrame, sample_mod: int = 101,
                  depth: int = 4, width: int = 1024,
                  text_col: str = "text") -> DataFrame:
    """Count-min error evaluation on a deterministic WORD sample —
    the sketch twin of ann_recall_eval / dedup_minhash_eval: heavy
    hitters barely feel collision noise, so this measures where CMS
    actually errs — the light tail — before a (depth, width) config
    is trusted for 100 TB of ad-hoc frequency probes.

    Same grid (:func:`_cm_grid`) and estimate (:func:`_cm_estimate`)
    as cm_heavy_hitters; the candidate set
    is every word with h60(word) % sample_mod == 0 (≈1/mod of the
    vocab, deterministic and replayable).  Returns per sampled word
    (word, exact_n, cm_est, over_ppm) with the one-sided relative
    overestimate in integer ppm — CMS never underestimates, so
    over_ppm ≥ 0 is also a self-check.
    """
    wc, cells = _cm_grid(docs, text_col, depth, width)
    cand = wc.filter(F.pmod(h60(F.col("w")), F.lit(sample_mod)) == 0)
    est = _cm_estimate(cand, cells, depth, width)
    return est.select(F.col("w").alias("word"),
                      F.col("n").alias("exact_n"),
                      F.col("cm_est").cast("long"),
                      F.expr("(cm_est - n) * 1000000 div n")
                      .cast("long").alias("over_ppm"))


def kmv_id_sketch(df: DataFrame, group_col: str = "event_type",
                  id_col: str = "user_id", k: int = 64,
                  salt: int = 32) -> DataFrame:
    """Audience-overlap matrix by bottom-k (KMV / theta-sketch-style)
    over an ID column (r11): the "how many users do segments A and B
    SHARE" question — the set-OPERATION capability that makes the
    theta family the production standard for audience analytics
    (HLL registers union but cannot intersect).  Where
    :func:`kmv_sketch` sketches word-shingle sets of text corpora,
    this sketches distinct-ID sets per group and additionally reports
    the UNION and INTERSECTION size estimates (floor(k-1)·2⁶⁰/kth on
    the union sample; intersection = union · coincidence ratio) —
    all from k-row sketches, no cross-group ID join anywhere.

    Plan shape: one (group, h60(id)) distinct pass is the only
    corpus-sized work; :func:`_kmv_pairs` does the rest on k-row
    sketches.  Returns one row per unordered group pair: (ga, gb,
    est_a, est_b, inter_k, kk, jaccard_ppm, union_est, inter_est).
    """
    base = (ensure_parallelism(df)
            .select(F.col(group_col).alias("grp"),
                    h60(F.col(id_col).cast("string")).alias("h"))
            .filter(F.col("h").isNotNull())
            .distinct())
    return (_kmv_pairs(base, k, salt)
            .withColumn("union_est", _kmv_est("kk", "u_kth", k))
            .select("ga", "gb", "est_a", "est_b", "inter_k", "kk",
                    "jaccard_ppm", "union_est",
                    F.expr("(inter_k * union_est) div kk")
                    .cast("long").alias("inter_est")))
