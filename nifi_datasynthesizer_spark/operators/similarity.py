"""Similarity search over embedding columns (array<float>).

Brute-force exact top-k as the baseline; random-hyperplane LSH
bucketing as the scale path (prunes the candidate set before the
exact re-rank).  Dot products are pure higher-order-function
expressions — JVM-side, no Python, no UDF.
"""

from __future__ import annotations

import math
import re

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import pin

# The embedding width every unrolled codegen fast path is generated
# for (r11 ADVICE: previously hardcoded independently in dot,
# l2_normalize and semantic_dedup's inline cosine).  Non-EMBED_DIM
# inputs stay correct via the size-guarded fold fallback inside each
# expression; changing the corpus width means changing it HERE only.
EMBED_DIM = 64

# Identifier gate for the string fast paths below: the unrolled
# expressions interpolate column names into SQL text, so only plain
# identifiers (no leading digit, no spaces, hyphens or dots) take them,
# and they are interpolated backtick-quoted so a reserved word or a
# paren-less function name (``current_date``) still resolves to the
# column.  Anything else falls back to the Column path — same results,
# no parse error, no dotted-name mis-resolution.
_SAFE_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _ident_ok(name) -> bool:
    return isinstance(name, str) and _SAFE_IDENT.match(name) is not None


def dot(a, b):
    # cast to double *before* multiplying: float32 arithmetic differs
    # between engines; double-everywhere keeps the oracle bit-exact.
    #
    # String args (SQL column names) take the codegen fast path: the
    # zip_with/aggregate fold evaluates INTERPRETED per element, and
    # this dot is the hot loop of every cosine scorer; the unrolled
    # EMBED_DIM-term sum compiles into whole-stage codegen.
    # IEEE-identical to the fold — same ((0.0 + t0) + t1) + ... op
    # sequence with the leading 0.0 preserved — and a size guard falls
    # back to the generic fold for any non-EMBED_DIM-dim input, so
    # semantics are unchanged for every input.  Column args (and
    # names the identifier gate rejects) keep the fold form.
    if _ident_ok(a) and _ident_ok(b):
        a, b = f"`{a}`", f"`{b}`"
        unrolled = "CAST(0.0 AS DOUBLE) + " + " + ".join(
            f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
            for i in range(EMBED_DIM))
        fold = (f"aggregate(zip_with({a}, {b}, "
                "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
        return F.expr(
            f"CASE WHEN size({a}) = {EMBED_DIM} "
            f"AND size({b}) = {EMBED_DIM} "
            f"THEN {unrolled} ELSE {fold} END")
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(F.zip_with(a, b,
                                  lambda x, y: x.cast("double") * y.cast("double")),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(v):
    return F.sqrt(F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def l2_normalize(v):
    # String arg (SQL column name) takes the codegen-friendly fast
    # path: the Column form's per-element lambda re-evaluates the
    # whole 64-step norm fold FOR EVERY ELEMENT (interpreted HOFs get
    # no subexpression elimination — 64×64 steps per row; measured
    # 0.57 s vs 0.12 s over the sf0.1 corpus).  The fast path binds
    # the norm ONCE via a 1-element transform (n is deterministic, so
    # once-vs-repeated evaluation is value-identical), computes the
    # sum of squares as the unrolled left-associated sum (same IEEE
    # op sequence as the fold, leading 0.0 preserved), and emits the
    # element divisions as a plain EMBED_DIM-term array constructor.
    # A size guard keeps the generic per-element form for any
    # non-EMBED_DIM-dim input, so semantics are unchanged for every
    # input; names the identifier gate rejects keep the Column form.
    if _ident_ok(v):
        v = f"`{v}`"
        sq = "CAST(0.0 AS DOUBLE) + " + " + ".join(
            f"CAST({v}[{i}] AS DOUBLE) * CAST({v}[{i}] AS DOUBLE)"
            for i in range(EMBED_DIM))
        fast = ("transform(array(sqrt(" + sq + ")), n -> array(" +
                ",".join(f"CAST({v}[{i}] AS DOUBLE) / n"
                         for i in range(EMBED_DIM)) + "))[0]")
        generic = (
            f"transform({v}, x -> CAST(x AS DOUBLE) / "
            f"sqrt(aggregate(transform({v}, "
            "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, z) -> acc + z)))")
        return F.expr(f"CASE WHEN size({v}) = {EMBED_DIM} THEN {fast} "
                      f"ELSE {generic} END")
    v = F.col(v) if isinstance(v, str) else v
    n = l2_norm(v)
    return F.transform(v, lambda x: x.cast("double") / n)


def hyperplane_weights(bits: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix from the portable hash
    (phash.h60_py) — computed once on the driver, shipped as plan
    literals.  No per-row hashing, no broadcast variable, and the
    DuckDB oracle embeds the identical literals."""
    from ..phash import h60_py
    return [[1.0 if h60_py(f"{seed}:{j}:{d}") % 2 == 1 else -1.0
             for d in range(dim)]
            for j in range(bits)]


def random_hyperplane_bucket(v, bits: int, seed: int, dim: int = 64):
    """Sign pattern of `bits` pseudo-random hyperplanes (sign-LSH).

    proj_j = <v, w_j> with w_j a ±1 literal array — pure codegen
    column arithmetic; the bucket function ships with the plan."""
    ws = hyperplane_weights(bits, dim, seed)

    def proj(j):
        s = F.aggregate(
            F.zip_with(v, F.slice(F.lit(ws[j]), 1, F.size(v)),
                       lambda x, w: x.cast("double") * w),
            F.lit(0.0), lambda acc, x: acc + x)
        return F.when(s >= 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))

    bucket = F.lit(0).cast("long")
    for j in range(bits):
        bucket = bucket + proj(j)
    return bucket


def ann_bruteforce(emb: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k: broadcast the query set (small side) against
    the corpus — one narrow pass over the corpus, partial top-k per
    partition via window rank after a shuffle on query_id only.

    At 100 TB corpus × few thousand queries this is the right plan:
    the corpus is never shuffled; only (query_id, score) pairs are.
    """
    q = queries.select(F.col("vec_id").alias("query_id"),
                       l2_normalize("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("cand_id"),
                   l2_normalize("embedding").alias("cv"))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("cand_id") != F.col("query_id"))
              .withColumn("cosine", F.round(dot("qv", "cv"), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine", "rank"))


def stratified_centroid_ids(n_total: int, n_centroids: int) -> list[int]:
    """Evenly-spaced corpus positions as IVF centroids — deterministic
    (the SQL oracle recomputes the same ids from COUNT(*)) and spread
    across the id range rather than clustered at the head.  Swap in
    kmeans_centroids() output for data-adaptive cells; the plan shape
    is identical."""
    return sorted({(j * n_total) // n_centroids for j in range(n_centroids)})


def ann_ivf(emb: DataFrame, queries: DataFrame, k: int = 10,
            n_centroids: int | None = None, n_probe: int = 4,
            centroids: list[list[float]] | None = None) -> DataFrame:
    """IVF-style ANN: coarse quantization to centroid cells, queries
    probe only their `n_probe` nearest cells, exact cosine re-rank
    within the probed cells.

    Scale: cell assignment is a NARROW per-row argmax — the k
    centroid rows (cells, not data) are collected once and ride every
    corpus partition in the task closure of an Arrow-batched map that
    takes the first max of the rounded cosines (ties: smallest cell).
    The same rows feed the query-probe side, so the corpus is not
    scanned again for them.  No k× row blowup, no corpus shuffle, no
    aggregation: at 100 TB the corpus is scanned once and only
    (cell-pruned) candidate rows ever move.  Queries broadcast; the
    only exchange keyed on data is the final per-query top-k window
    over pruned candidates.  The assignment cosines differ from the
    oracle's only in float summation order, below the round(·, 6)
    quantum.

    ``n_centroids=None`` (the production default) derives
    ``max(16, isqrt(n))`` from one corpus count: a FIXED cell count
    means each probe sweeps a constant fraction (n_probe/cells) of the
    corpus — linear probe work per query forever — while √n cells hold
    per-cell population at √n, so per-query candidate work is
    O(n_probe·√n) and assignment O(n·√n) (the classic IVF balance
    point).  Callers that need a structural-literal oracle (the entry
    query's unrolled DuckDB mirror) or a fixed probe fraction (the
    bench recall A/B) pin n_centroids=16 explicitly.
    At n ≳ 10⁸ (√n ≳ 10⁴ centroids) the centroid matrix still ships
    fine (~5 MB at dim 64) but per-row assign cost grows with √n —
    switch to kmeans_centroids + a two-level coarse quantizer there,
    same plan shape.
    """
    if centroids is not None:
        # explicit (e.g. kmeans_centroids) cells: cell id = list index
        crows = [(j, [float(v) for v in c]) for j, c in enumerate(centroids)]
    else:
        n_total = emb.count()  # parquet footer count — cheap at any scale
        if n_centroids is None:
            n_centroids = max(16, math.isqrt(n_total))
        cent_ids = stratified_centroid_ids(n_total, n_centroids)
        # one row per cell unless vec_id repeats in the corpus; the
        # limit caps what such a corpus can collect
        crows = [(r.cell, list(r.cv)) for r in
                 emb.filter(F.col("vec_id").isin(cent_ids))
                 .select(F.col("vec_id").alias("cell"),
                         l2_normalize("embedding").alias("cv"))
                 .limit(len(cent_ids) + 1).collect()]
        if len(crows) > len(cent_ids):
            raise ValueError(
                f"ann_ivf: more than {len(cent_ids)} centroid rows for "
                f"{len(cent_ids)} cells — vec_id is not unique in the "
                f"corpus; deduplicate vec_id first")
    crows.sort()
    cent = emb.sparkSession.createDataFrame(crows,
                                            "cell long, cv array<double>")
    cells = np.asarray([c for c, _ in crows], dtype=np.int64)
    C = np.asarray([cv for _, cv in crows], dtype=np.float64)

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            # first max of the rounded cosines: ties go to the smallest cell
            j = np.round(V @ C.T, 6).argmax(axis=1)
            yield pd.DataFrame({"cand_id": pdf["cand_id"], "v": pdf["v"],
                                "cell": cells[j]})

    assigned = (emb.select(F.col("vec_id").alias("cand_id"),
                           l2_normalize("embedding").alias("v"))
                .mapInPandas(gen, schema="cand_id long, v array<double>, "
                                         "cell long"))
    q = queries.select(F.col("vec_id").alias("query_id"),
                       l2_normalize("embedding").alias("qv"))
    q_cells = (q.crossJoin(F.broadcast(cent))
               .withColumn("sim", F.round(dot("qv", "cv"), 6)))
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
    probes = (q_cells.withColumn("r", F.row_number().over(wq))
              .filter(F.col("r") <= n_probe)
              .select("query_id", "qv", "cell"))
    cand = (assigned.join(F.broadcast(probes), "cell")
            .filter(F.col("cand_id") != F.col("query_id"))
            .withColumn("cosine", F.round(dot("qv", "v"), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine", "rank"))


def kmeans_centroids(emb: DataFrame, n_centroids: int = 16,
                     sample_fraction: float = 0.01, iters: int = 5,
                     seed: int = 7) -> list[list[float]]:
    """Data-adaptive IVF centroids: Lloyd's k-means on a deterministic
    corpus sample, computed driver-side in numpy (the sample is tiny —
    centroid fitting never needs the cluster) and returned as plain
    lists ready to embed as plan literals.

    Sampling is by hash of vec_id (pmod(h60, M)) — reproducible under
    retries/speculation, unlike rand().  Not oracle-gated: exact SQL
    replay of iterative float means is not portable (accumulation
    order), so ann_ivf keeps stratified ids for its CORRECTNESS entry
    and this is the production recall path (see bench ann_ivf_recall).
    """
    m = max(2, int(round(1.0 / max(sample_fraction, 1e-9))))
    sample = (emb.select(l2_normalize("embedding").alias("v"))
              .filter(F.pmod(F.xxhash64(F.col("vec_id") + seed), F.lit(m)) == 0)
              .limit(100_000).collect())
    x = np.array([r["v"] for r in sample], dtype=np.float64)
    if len(x) < n_centroids:        # degenerate corpus: pad by cycling
        x = np.tile(x, (int(np.ceil(n_centroids / max(len(x), 1))), 1))
    # k-means++ seeding (deterministic Generator): spread initial
    # centers by cosine distance instead of taking the sample head —
    # head-of-sample init degenerates when the sample is ordered
    rng = np.random.default_rng(seed)
    picked = [int(rng.integers(len(x)))]
    for _ in range(n_centroids - 1):
        d = 1.0 - np.max(x @ x[picked].T, axis=1)
        d = np.maximum(d, 0.0)
        tot = d.sum()
        if tot <= 0:
            picked.append(int(rng.integers(len(x))))
        else:
            picked.append(int(rng.choice(len(x), p=d / tot)))
    cents = x[picked].copy()
    for _ in range(iters):
        sims = x @ cents.T                      # cosine (all normalized)
        assign = sims.argmax(axis=1)
        for j in range(n_centroids):
            members = x[assign == j]
            if len(members):
                c = members.mean(axis=0)
                norm = np.linalg.norm(c)
                if norm > 0:
                    cents[j] = c / norm
    return cents.tolist()


def ann_lsh(emb: DataFrame, queries: DataFrame, k: int = 10,
            bucket_bits: int = 6, seed: int = 7) -> DataFrame:
    """LSH-pruned ANN: candidates restricted to the query's hyperplane
    bucket, then exact cosine re-rank.  Trades recall for a ~2^bits
    reduction in scored candidates; the shuffle key is the bucket."""
    q = (queries.select(F.col("vec_id").alias("query_id"),
                        l2_normalize("embedding").alias("qv"))
         .withColumn("bucket", random_hyperplane_bucket(F.col("qv"), bucket_bits, seed)))
    c = (emb.select(F.col("vec_id").alias("cand_id"),
                    l2_normalize("embedding").alias("cv"))
         .withColumn("bucket", random_hyperplane_bucket(F.col("cv"), bucket_bits, seed)))
    scored = (c.join(F.broadcast(q), "bucket")
              .filter(F.col("cand_id") != F.col("query_id"))
              .withColumn("cosine", F.round(dot("qv", "cv"), 6)))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine", "rank"))


def quantize_int8(emb: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id", dim: int = 64) -> DataFrame:
    """Int8 affine quantization of an embedding column — the standard
    4× memory/IO compression step before building a vector index at
    scale (100 TB of fp32 embeddings → 25 TB of codes).

    Per-dimension affine: ``code = round((x - min_d) / scale_d) - 128``
    with ``scale_d = (max_d - min_d) / 255``.  The per-dimension
    min/max come from ONE aggregation row (2·dim scalar aggregates —
    no posexplode, no per-dimension shuffle) broadcast back to a
    narrow projection; the quantization pass itself is shuffle-free.

    Output keeps driver-visible columns atomic: per-vector code
    checksum plus reconstruction-error stats (max |x - dequant(x)| in
    1e-6 units) — the quality numbers a quantization step must report.
    All arithmetic is single IEEE ops per element in identical order
    in both engines, so results hash-match the SQL oracle exactly.
    """
    v = F.col(vec_col)
    # ONE selectExpr batch / ONE array expr, not 2·dim Column builds +
    # 2·dim F.col calls: the per-Column py4j round-trips cost ~0.5 s
    # of driver-side construction per call (the column_stats lesson;
    # expressions are string-identical, results unchanged).  Names the
    # identifier gate rejects (r11 ADVICE) keep the Column build —
    # same aggregates, just slower to construct.
    if _ident_ok(vec_col):
        q_col = f"`{vec_col}`"
        stats = emb.selectExpr(
            *[f"min(element_at({q_col}, {d + 1})) AS mn{d}"
              for d in range(dim)],
            *[f"max(element_at({q_col}, {d + 1})) AS mx{d}"
              for d in range(dim)])
    else:
        stats = emb.agg(
            *[F.min(F.element_at(v, d + 1)).alias(f"mn{d}")
              for d in range(dim)],
            *[F.max(F.element_at(v, d + 1)).alias(f"mx{d}")
              for d in range(dim)])
    q = emb.crossJoin(F.broadcast(stats))
    mn = F.expr("array(" + ",".join(f"mn{d}" for d in range(dim)) + ")")
    mx = F.expr("array(" + ",".join(f"mx{d}" for d in range(dim)) + ")")
    codes = F.zip_with(
        v, F.zip_with(mn, mx, lambda a, b: F.struct(a.alias("mn"),
                                                    b.alias("mx"))),
        lambda x, s: F.when(
            s["mx"] > s["mn"],
            F.round((x.cast("double") - s["mn"])
                    * 255.0 / (s["mx"] - s["mn"])).cast("long") - 128
        ).otherwise(F.lit(0)))
    deq = F.zip_with(
        codes, F.zip_with(mn, mx, lambda a, b: F.struct(a.alias("mn"),
                                                        b.alias("mx"))),
        lambda c, s: F.when(
            s["mx"] > s["mn"],
            (c.cast("double") + 128.0) * (s["mx"] - s["mn"]) / 255.0
            + s["mn"]).otherwise(s["mn"]))
    err = F.zip_with(v, deq, lambda x, y: F.abs(x.cast("double") - y))
    return (q.select(
        F.col(id_col),
        F.aggregate(codes, F.lit(0).cast("long"),
                    lambda acc, c: acc + c).alias("code_sum"),
        F.floor(F.array_max(err) * 1e6).cast("long").alias("max_err_q6"))
    )


def knn_graph(emb: DataFrame, k: int = 5, bucket_bits: int = 6,
              seed: int = 7) -> DataFrame:
    """Approximate k-NN graph over the embedding corpus — the input
    structure for SemDeDup-style semantic clustering, label
    propagation and graph-based retrieval.  Every vector gets (up to)
    its ``k`` nearest in-bucket neighbors by exact cosine, plus a
    ``mutual`` flag (both endpoints pick each other — the reciprocal
    edges graph clustering wants, since one-way edges are mostly hub
    pollution).

    Scale shape: candidate pairs come from ONE hyperplane-bucket
    equi-join computed in the a<b half-space and mirrored (halves the
    join output vs a full directed self-join); the per-node top-k is
    a window over candidate edges (|bucket|-bounded, never corpus-
    global); the mutual flag is a self-join of the k·N edge list —
    pair-sized frames only.  The normalized+bucketed frame is pinned:
    one corpus pass feeds both join sides.  Recall is bucket-local,
    the same trade every LSH stage here makes; raise bucket_bits for
    sparser buckets or union multiple seeds for recall.
    """
    b = (emb.select(F.col("vec_id"),
                    l2_normalize("embedding").alias("v"))
         .withColumn("bucket", random_hyperplane_bucket(
             F.col("v"), bucket_bits, seed)))
    b = pin(b)
    b.count()
    # plain column names on both sides, as semantic_dedup does: dot's
    # unrolled codegen path takes only plain identifiers, and the
    # alias-qualified "l.v" would demote this hot pair loop to the
    # interpreted fold
    l = b.select(F.col("vec_id").alias("a"), F.col("v").alias("va"),
                 "bucket")
    r = b.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"),
                 "bucket")
    half = (l.join(r, "bucket").filter(F.col("a") < F.col("b"))
            .select("a", "b", F.round(dot("va", "vb"), 6).alias("cosine")))
    # single-pass symmetric closure: each half-space pair EXPLODES
    # into its two directed edges — the union-of-projections form
    # referenced `half` twice, and Catalyst does not dedupe repeated
    # source subtrees, so the bucket self-join (the expensive stage)
    # executed once per branch (r11, the graph._sym lesson)
    directed = (half.select(F.explode(F.array(
        F.struct(F.col("a").alias("src"), F.col("b").alias("dst"),
                 F.col("cosine")),
        F.struct(F.col("b").alias("src"), F.col("a").alias("dst"),
                 F.col("cosine")))).alias("e"))
        .select("e.src", "e.dst", "e.cosine"))
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    # edges feeds TWO consumers (the mutual-flag self-join reads it as
    # both sides) — pinned, or the whole bucket-join + top-k window
    # chain re-executes per side; k·N narrow rows, far smaller than
    # the corpus at any scale
    edges = pin(directed.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k))
    edges.count()
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                       F.lit(1).alias("rev"))
    return (edges.join(rev, ["src", "dst"], "left")
            .select("src", "dst", "cosine",
                    F.col("rank").cast("long").alias("rank"),
                    F.coalesce(F.col("rev") == 1, F.lit(False))
                    .alias("mutual")))


def ann_recall_eval(emb: DataFrame, queries: DataFrame, k: int = 10,
                    bucket_bits: int = 6, seed: int = 7) -> DataFrame:
    """Retrieval evaluation as an operator: per-query recall@k of the
    LSH index against exact brute-force truth — the continuous-
    monitoring job every production vector index runs on a query
    sample (recall regressions from index drift are silent otherwise).

    Truth is exact top-k over the full corpus, so this runs on a
    bounded QUERY SAMPLE by design (the corpus-side cost is one
    broadcast-queries scan, same as ann_bruteforce); the approx side
    reuses the LSH bucket join.  The intersection and the per-query
    rollup touch only k·|queries| rows.  Returns (query_id, n_hits,
    recall_ppm) with integer-ppm recall — engine-exact.
    """
    # truth feeds TWO consumers (the hit join and the query-id roll),
    # but its duplicated subtrees are IDENTICAL, so AQE's runtime
    # shuffle-stage reuse already computes the brute-force pass once —
    # an eager pin was A/B'd (r11) and measured ~1.3 s WORSE (extra
    # materialization job + count round-trip); left unpinned
    truth = ann_bruteforce(emb, queries, k=k) \
        .select("query_id", "cand_id")
    approx = ann_lsh(emb, queries, k=k, bucket_bits=bucket_bits,
                     seed=seed).select("query_id", "cand_id")
    hits = (truth.join(approx, ["query_id", "cand_id"])
            .groupBy("query_id").agg(F.count("*").alias("n_hits")))
    qids = truth.select("query_id").distinct()
    return (qids.join(hits, "query_id", "left")
            .select("query_id",
                    F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
                    F.expr(f"CAST(coalesce(n_hits, 0) * 1000000 div {k}"
                           " AS BIGINT)").alias("recall_ppm")))


def ann_filtered(emb: DataFrame, queries: DataFrame, k: int = 10,
                 oversample: int = 4,
                 label_pred: str = "label % 3 = 0") -> DataFrame:
    """Filtered vector search A/B — the hard production problem every
    vector store hits once queries carry metadata predicates ("top-k
    similar docs IN this tenant/language"):

    - PRE-filter (the truth): brute-force top-k among candidates
      passing the predicate.  The filter is part of the corpus scan
      (predicate pushdown — Catalyst prunes before the distance
      math), so cost scales with the QUALIFYING slice.
    - POST-filter (the cheap strategy): global top-(k·oversample),
      THEN apply the predicate and keep k.  Breaks exactly when the
      predicate is selective: the oversampled pool may hold fewer
      than k qualifying neighbors.

    Returns per-query (n_truth, n_found, n_hit, recall_ppm) — the
    quantified gap that tells an engineer whether oversample is
    enough or the index needs predicate-aware partitioning.  Both
    sides broadcast the query set and never shuffle the corpus; the
    comparison joins touch only k·oversample·|queries| rows.
    """
    # truth and post each feed TWO consumers, but the duplicated
    # subtrees are IDENTICAL, so AQE's runtime shuffle-stage reuse
    # computes each brute-force pass once — eager pins were A/B'd
    # (r11) and measured ~0.5 s WORSE (two materialization jobs);
    # left unpinned
    truth = ann_bruteforce(emb.filter(label_pred), queries, k=k) \
        .select("query_id", "cand_id")
    pool = ann_bruteforce(emb, queries, k=k * oversample)
    labels = emb.select(F.col("vec_id").alias("cand_id"), "label")
    w = Window.partitionBy("query_id").orderBy("rank")
    post = (pool.join(labels, "cand_id")
            .filter(label_pred)
            .withColumn("prank", F.row_number().over(w))
            .filter(F.col("prank") <= k)
            .select("query_id", "cand_id"))
    hits = (truth.join(post, ["query_id", "cand_id"])
            .groupBy("query_id").agg(F.count("*").alias("n_hit")))
    n_truth = truth.groupBy("query_id").agg(F.count("*").alias("n_truth"))
    n_found = post.groupBy("query_id").agg(F.count("*").alias("n_found"))
    return (n_truth
            .join(n_found, "query_id", "left")
            .join(hits, "query_id", "left")
            .select("query_id", "n_truth",
                    F.coalesce("n_found", F.lit(0)).alias("n_found"),
                    F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
                    F.expr("CAST(coalesce(n_hit, 0) * 1000000"
                           " div n_truth AS BIGINT)")
                    .alias("recall_ppm")))


def ann_lsh_multiprobe(emb: DataFrame, queries: DataFrame, k: int = 10,
                       bucket_bits: int = 6, seed: int = 7) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007): each query probes its own
    hyperplane bucket PLUS every Hamming-1 neighbor (one sign bit
    flipped) — the standard way to buy LSH recall without more hash
    tables: a near neighbor that landed just across one hyperplane is
    in exactly such a bucket.  Probes multiply the QUERY side
    (bits + 1 rows per query, still broadcast-tiny); the corpus is
    bucketed once and never re-hashed or shuffled — same plan shape
    as single-probe, ~(bits+1)× the scored candidates instead of
    2^bits× for brute force.
    """
    probes = F.array(*([F.col("bucket")] +
                       [F.expr(f"CAST(bucket AS BIGINT) ^ {1 << j}")
                        for j in range(bucket_bits)]))
    q = (queries.select(F.col("vec_id").alias("query_id"),
                        l2_normalize("embedding").alias("qv"))
         .withColumn("bucket", random_hyperplane_bucket(
             F.col("qv"), bucket_bits, seed))
         .withColumn("bucket", F.explode(probes)))
    c = (emb.select(F.col("vec_id").alias("cand_id"),
                    l2_normalize("embedding").alias("cv"))
         .withColumn("bucket", random_hyperplane_bucket(
             F.col("cv"), bucket_bits, seed)))
    scored = (c.join(F.broadcast(q), "bucket")
              .filter(F.col("cand_id") != F.col("query_id"))
              .withColumn("cosine",
                          F.round(dot("qv", "cv"), 6))
              .select("query_id", "cand_id", "cosine").distinct())
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                               F.asc("cand_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "cand_id", "cosine", "rank"))


def ann_range(emb: DataFrame, queries: DataFrame,
              min_cosine: float = 0.2) -> DataFrame:
    """Exact cosine RANGE search: every candidate with cosine >=
    ``min_cosine`` per query — top-k's sibling for thresholded
    retrieval (contamination checks, "pull everything similar enough"
    curation passes), where the answer set size is data-dependent
    rather than fixed.

    Same 100 TB plan shape as :func:`ann_bruteforce`: the query set
    broadcasts, the corpus is scanned once and never shuffled, and
    only qualifying (query_id, cand_id, cosine) rows leave the scan —
    for a selective threshold the output is tiny even when the scan
    is huge, and there is no per-query window/top-k shuffle at all
    (range search is embarrassingly parallel; top-k is not).
    """
    q = queries.select(F.col("vec_id").alias("query_id"),
                       l2_normalize("embedding").alias("qv"))
    c = emb.select(F.col("vec_id").alias("cand_id"),
                   l2_normalize("embedding").alias("cv"))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("cand_id") != F.col("query_id"))
              .withColumn("cosine",
                          F.round(dot("qv", "cv"), 6)))
    return (scored.filter(F.col("cosine") >= min_cosine)
            .select("query_id", "cand_id", "cosine"))
