"""Distributed embedding clustering (Lloyd's k-means).

Semantic-dedup / topic-bucketing step of an embedding pipeline:
every vector gets a cluster id, clusters get centroids.  Distinct
from similarity.kmeans_centroids (which fits centroids on a driver
sample for IVF seeding): here the ASSIGNMENT of the full corpus is
the product, so each iteration is a distributed pass.

Plan shape for 100 TB per iteration:

- assignment is a pure narrow projection: the k centroids are plan
  literals (k × dim ints), the per-row argmin is an array expression
  — no join, no shuffle, no row blowup (same pattern as ann_ivf cell
  assignment);
- the centroid update is ONE aggregation to k rows (map-side partial
  sums over 64 per-dimension columns), collected to the driver —
  k × dim integers, not data;
- the final pass emits (vec_id, cluster, dist_q) without collecting.

Exactness across engines: embeddings are quantized to integer
micro-units (``floor(x * 1e6)``), so distances are exact int64
arithmetic (|Δ|² ≤ 4e12 · dim ≪ 2⁶³), per-cluster sums are exact,
and the centroid refresh ``floor(sum / count)`` is a single IEEE
double division + floor — bit-identical in Spark, Python and DuckDB.
Init is the k lowest-vec_id vectors (one TakeOrdered); empty
clusters keep their previous centroid.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import pin

SCALE = 1_000_000


def _quantize(col):
    """array<float> -> array<bigint> micro-units (exact in both engines)."""
    return F.transform(col, lambda v: F.floor(v.cast("double") * SCALE)
                       .cast("long"))


def _dists_sql(x_sql: str, cents: list[list[int]]) -> str:
    """SQL text for the array of exact squared L2 distances from an
    array expression to each centroid literal.  ONE string for the
    whole k-wide array: composing it from k ``_dist_expr`` Columns is
    k × several py4j round-trips PER REFERENCE — the PQ encoder's
    8 × 16 distances cost ~4.7 s of pure driver time that way, vs
    milliseconds as text (the same lesson as the round-3
    dual-expression rewrite)."""
    def one(c: list[int]) -> str:
        lit = "array(" + ",".join(f"{v}L" for v in c) + ")"
        return (f"aggregate(zip_with({x_sql}, {lit}, "
                f"(a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)")
    return "array(" + ", ".join(one(c) for c in cents) + ")"


def _argmin_sql(d_sql: str, k: int) -> str:
    """Fold the k-wide distance array to struct(dist, j) of its first
    minimum in ONE pass.  ``array_position(d, array_min(d))`` computes
    the (HOF-interpreted) distance array twice per row; the fold
    references it once — and callers put the struct in its own
    projection so extracting .j and .dist doesn't re-evaluate it."""
    return (f"aggregate(zip_with({d_sql}, sequence(0, {k - 1}), "
            f"(x, j) -> struct(x AS dist, j AS j)), "
            f"struct({1 << 62}L AS dist, -1 AS j), "
            f"(acc, e) -> IF(e.dist < acc.dist, e, acc))")


# k·dim literal cells above which _assign switches from the SQL fold
# to the Arrow path: higher-order functions are interpreted (never
# whole-stage codegen), and the fold allocates one zip_with array per
# centroid per row — fine at the oracle-replayed k ≤ 16, ruinous at
# the derived k ≈ √n (measured: k=447 over 200k rows ran minutes-long
# stages).  4096 cells = k ≤ 64 at dim 64 keeps every oracle-checked
# plan on the literal path.
_ASSIGN_LITERAL_MAX_CELLS = 4096


def _assign(quant: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(vec_id, xi) + centroid literals -> (vec_id, xi, cluster, dist_q).

    Small k: narrow single-pass fold argmin over the k distance
    expressions (plan literals, no join, no shuffle).  Large k (the
    derived k≈√n SemDeDup path): Arrow-batched mapInPandas carrying
    the centroid matrix as a task closure — exact int64 micro-unit
    arithmetic (x² − 2x·C + C², values ≤ ~6e15 ≪ 2⁶³) and argmin's
    first-minimum tie-break, so both paths are bit-identical; row
    chunking bounds the distance block at ~2²² cells so executor
    memory is flat in k.  Still a narrow map: no shuffle either way.
    """
    k, dim = len(centroids), len(centroids[0])
    if k * dim <= _ASSIGN_LITERAL_MAX_CELLS:
        am = _argmin_sql(_dists_sql("xi", centroids), k)
        return (quant.select("vec_id", "xi", F.expr(am).alias("__m"))
                .select("vec_id", "xi",
                        F.expr("CAST(__m.j AS INT)").alias("cluster"),
                        F.col("__m.dist").alias("dist_q")))

    import numpy as np

    C = np.asarray(centroids, dtype=np.int64)
    c2 = (C * C).sum(axis=1)
    row_step = max(1, (1 << 22) // k)

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            X = np.asarray(pdf["xi"].tolist(), dtype=np.int64)
            cl = np.empty(len(X), dtype=np.int32)
            dq = np.empty(len(X), dtype=np.int64)
            for lo in range(0, len(X), row_step):
                x = X[lo:lo + row_step]
                d = ((x * x).sum(axis=1, keepdims=True)
                     - 2 * (x @ C.T) + c2[None, :])
                j = d.argmin(axis=1)   # first min — same tie-break as the fold
                cl[lo:lo + len(x)] = j
                dq[lo:lo + len(x)] = d[np.arange(len(x)), j]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "xi": pdf["xi"],
                                "cluster": cl, "dist_q": dq})

    return quant.mapInPandas(
        gen, schema="vec_id long, xi array<bigint>, cluster int, dist_q long")


def assign_two_level(quant: DataFrame, centroids: list[list[int]],
                     probe_supers: int = 8) -> DataFrame:
    """Hierarchical (two-level) cell assignment — the documented
    escape hatch for k ≫ 10⁴ centroids (n ≳ 10⁸ with k=√n), where
    even the Arrow flat argmin's n·k distance grid stops scaling.

    The k centroids are themselves clustered driver-side into
    g = isqrt(k) super-cells (k rows of int64 — small data, 3 Lloyd
    passes in numpy); each corpus row then scans the g super-cells
    (n·√k work) and computes EXACT int64 distances only against the
    members of its ``probe_supers`` nearest supers (expected
    n·probe·√k) — total n·√k·(1+probe) vs the flat path's n·k.
    Same narrow shuffle-free map shape as :func:`_assign`; the
    centroid matrix and super-cell index ride the task closure.

    Semantics: member distances use the flat path's exact micro-unit²
    int64 arithmetic and its first-minimum tie-break (smallest
    centroid index wins), so with ``probe_supers >= g`` the output is
    IDENTICAL to :func:`_assign` (every member set is scanned —
    unit-tested); at smaller probe widths assignment is approximate
    exactly like IVF probing, and the probe width is the
    recall-vs-cost lever (the IMI / hierarchical-IVF construction).
    """
    import numpy as np

    C = np.asarray(centroids, dtype=np.int64)
    k, dim = C.shape
    g = max(2, math.isqrt(k))
    w = min(probe_supers, g)
    # deterministic strided init over the centroid list, then 3 Lloyd
    # passes on the centroids themselves (floats fine: selection only)
    init = sorted({(j * k) // g for j in range(g)})
    S = C[init].astype(np.float64)
    Cf = C.astype(np.float64)
    c2f = (Cf * Cf).sum(axis=1)
    labels = np.zeros(k, dtype=np.int64)
    for _ in range(3):
        d = c2f[:, None] - 2 * (Cf @ S.T) + (S * S).sum(axis=1)[None, :]
        labels = d.argmin(axis=1)
        for j in range(len(S)):
            m = Cf[labels == j]
            if len(m):
                S[j] = m.mean(axis=0)
    members = [np.flatnonzero(labels == j) for j in range(len(S))]
    # Lloyd passes can empty a super; probing an empty super wastes a
    # probe slot and — if EVERY probed super were empty — would emit
    # cluster=-1 instead of an assignment.  Rank empty supers at +inf
    # so the w probes always land on populated supers (there is at
    # least one: k centroids have labels).
    empty = np.asarray([len(m) == 0 for m in members], dtype=bool)
    c2 = (C * C).sum(axis=1)

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            X = np.asarray(pdf["xi"].tolist(), dtype=np.int64)
            n = len(X)
            Xf = X.astype(np.float64)
            ds = ((Xf * Xf).sum(axis=1, keepdims=True)
                  - 2 * (Xf @ S.T) + (S * S).sum(axis=1)[None, :])
            ds[:, empty] = np.inf
            probe = np.argsort(ds, axis=1)[:, :w]
            best = np.full(n, np.iinfo(np.int64).max, dtype=np.int64)
            cell = np.full(n, -1, dtype=np.int64)
            x2 = (X * X).sum(axis=1)
            for j in range(len(S)):
                rows = np.flatnonzero((probe == j).any(axis=1))
                mem = members[j]
                if not len(rows) or not len(mem):
                    continue
                d = (x2[rows, None] - 2 * (X[rows] @ C[mem].T)
                     + c2[None, mem])
                a = d.argmin(axis=1)   # first min within this super
                dj = d[np.arange(len(rows)), a]
                cj = mem[a]
                # lexicographic (dist, centroid-index) update — the
                # flat argmin's smallest-index tie-break across supers
                upd = (dj < best[rows]) | ((dj == best[rows])
                                           & (cj < cell[rows]))
                ridx = rows[upd]
                best[ridx] = dj[upd]
                cell[ridx] = cj[upd]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "xi": pdf["xi"],
                                "cluster": cell.astype(np.int32),
                                "dist_q": best})

    return quant.mapInPandas(
        gen, schema="vec_id long, xi array<bigint>, cluster int, dist_q long")


def _lloyd_round_np(quant: DataFrame, centroids: list[list[int]],
                    xi_col: str = "xi") -> list[list[int]]:
    """One fused Lloyd round (assign + centroid update) as a single
    Arrow-batched partial-sums pass — bit-identical to the
    assign-then-posexplode-update pair it replaces (exact int64
    micro-unit distances, numpy first-minimum argmin = the SQL fold's
    tie-break, integer partial sums are order-free, and the refresh
    is the same ``floor(float(sum)/count)`` IEEE op; empty clusters
    keep their previous centroid).

    Motivation (r11, guide §4.2/§1.2): the literal-SQL round builds a
    NEW k·dim-literal argmin tree every iteration (the centroid
    literals change), so each round pays full analysis + codegen of
    an interpreted-HOF expression forest before touching a row, then
    explodes to (cluster, d) rows for the update shuffle.  This pass
    ships only the ≤ k×(dim+2) partial sums per partition and runs
    the distance grid through numpy's vectorized int64 kernels —
    measured 5-8× per round at sf0.1 and strictly less work per row
    at any scale (the `_ASSIGN_LITERAL_MAX_CELLS` lesson applied to
    the training loop).  No shuffle: partials collect straight to the
    driver, like the k-row aggregation they replace.
    """
    import numpy as np

    C = np.asarray(centroids, dtype=np.int64)
    k, dim = C.shape
    c2 = (C * C).sum(axis=1)
    row_step = max(1, (1 << 22) // k)

    def gen(batches):
        import pandas as pd
        sums = np.zeros((k, dim), dtype=np.int64)
        cnts = np.zeros(k, dtype=np.int64)
        for pdf in batches:
            X = np.asarray(pdf[xi_col].tolist(), dtype=np.int64)
            for lo in range(0, len(X), row_step):
                x = X[lo:lo + row_step]
                d = ((x * x).sum(axis=1, keepdims=True)
                     - 2 * (x @ C.T) + c2[None, :])
                a = d.argmin(axis=1)    # first min — the fold's tie-break
                np.add.at(sums, a, x)
                cnts += np.bincount(a, minlength=k)
        nz = np.flatnonzero(cnts)
        if len(nz):
            yield pd.DataFrame({"j": nz.astype("int32"),
                                "sv": list(sums[nz]),
                                "cnt": cnts[nz]})

    rows = (quant.select(F.col(xi_col).alias(xi_col))
            .mapInPandas(gen, schema="j int, sv array<bigint>, cnt long")
            .collect())
    sums: dict[int, list[int]] = {}
    cnts: dict[int, int] = {}
    for r in rows:
        j = int(r.j)
        if j in sums:
            sums[j] = [a + int(b) for a, b in zip(sums[j], r.sv)]
            cnts[j] += int(r.cnt)
        else:
            sums[j] = [int(b) for b in r.sv]
            cnts[j] = int(r.cnt)
    return [
        [math.floor(float(sums[j][d]) / cnts[j]) for d in range(dim)]
        if j in sums else centroids[j]
        for j in range(k)]


def _fit_sample(quant: DataFrame, fit_mod: int | None) -> DataFrame:
    """Deterministic fit sample: keep the ~1/fit_mod of rows whose
    portable h60 hash of ``vec_id || ':fit'`` lands on residue 0 —
    reproducible under retries/speculation (unlike rand()) and
    replayable by the DuckDB oracle (md5 both sides), unlike
    kmeans_centroids' driver-numpy path.

    This is THE 100 TB guard for the Lloyd-family fits: centroid /
    codebook training is the only step that makes per-iteration
    full-corpus passes, and statistically a bounded sample fits the
    same codebooks.  The sample is pinned EAGERLY (iters+1 readers;
    a lazily-pinned frame fanned out in one job degrades to
    recomputation), released via cache.release_caches().  The caller
    must leave >= k sampled rows (fit quality, and both engines
    silently train fewer centroids below that).
    """
    if fit_mod is None:
        return quant
    from ..phash import h60
    samp = quant.filter(F.pmod(
        h60(F.concat(F.col("vec_id").cast("string"), F.lit(":fit"))),
        F.lit(fit_mod)) == 0)
    samp = pin(samp)
    samp.count()
    return samp


def fit_mod_for_cap(emb: DataFrame, cap: int = 100_000) -> int | None:
    """Modulus that bounds the Lloyd-family fit sample to ~``cap``
    rows: pass the result as ``fit_mod`` to any trainer here.  A fixed
    FRACTION (fit_mod=2) keeps training linear in corpus size — at
    100 TB the fit sample is 50 TB — while codebook/centroid quality
    saturates at a fixed SIZE (the classic PQ practice is 10⁵–10⁶
    training vectors regardless of corpus).  ceil(n/cap) as the
    modulus holds the expected sample at ~cap rows forever, so fit
    cost is O(1) in corpus size and only the single encode/assign pass
    stays linear.  Returns None (no sampling) when the corpus already
    fits under cap.  One count() against the source — parquet footer
    metadata, cheap at any scale.
    """
    n = emb.count()
    if n <= cap:
        return None
    return -(-n // cap)


def cluster_embeddings(emb: DataFrame, k: int = 8, iters: int = 2,
                       vec_col: str = "embedding",
                       fit_mod: int | None = None) -> DataFrame:
    """Lloyd's k-means over an embedding column; ``iters`` centroid
    updates after first-k init, then a final assignment.

    With ``fit_mod`` set, init + centroid updates run on the pinned
    1/fit_mod hash sample (:func:`_fit_sample`) and only the final
    assignment touches the full corpus — one corpus pass total
    instead of iters+1.

    Returns (vec_id, cluster, dist_q) — dist_q is the exact squared
    L2 distance in micro-unit² integers.
    """
    dim = len(emb.select(vec_col).first()[0])
    quant = emb.select("vec_id", _quantize(F.col(vec_col)).alias("xi"))
    fitq = _fit_sample(quant, fit_mod)

    first = (fitq.orderBy("vec_id").limit(k).collect())
    centroids = [list(r.xi) for r in first]

    for _ in range(iters):
        # r11: fused Arrow partial-sums round (bit-identical — see
        # _lloyd_round_np); the FINAL full-corpus assignment below
        # stays the narrow centroid-literal argmin (it is the product
        # and its plan shape is the audited one)
        centroids = _lloyd_round_np(fitq, centroids)

    return (_assign(quant, centroids)
            .select("vec_id", "cluster", "dist_q"))


def _pq_train_round_np(quant: DataFrame,
                       books: list[list[list[int]]],
                       sub: int) -> list[list[list[int]]]:
    """One fused PQ-Lloyd round over ALL m subspaces as a single
    Arrow-batched partial-sums pass — the :func:`_lloyd_round_np`
    construction applied per subspace slice.  Bit-identical to the
    exploded literal-SQL round it replaces (exact int64 sub-distances,
    numpy first-min argmin, order-free integer partial sums, the same
    ``floor(float(sum)/count)`` refresh); ships m·k×(sub+2) partials
    per partition instead of re-analyzing/codegening an m·k-aggregate
    interpreted-HOF forest per iteration (the literals change every
    round, so nothing was cached between rounds)."""
    import numpy as np

    m = len(books)
    k = len(books[0])
    B = np.asarray(books, dtype=np.int64)          # (m, k, sub)
    b2 = (B * B).sum(axis=2)                       # (m, k)

    def gen(batches):
        import pandas as pd
        sums = np.zeros((m, k, sub), dtype=np.int64)
        cnts = np.zeros((m, k), dtype=np.int64)
        for pdf in batches:
            X = np.asarray(pdf["xi"].tolist(), dtype=np.int64)
            for s in range(m):
                xs = X[:, s * sub:(s + 1) * sub]
                d = ((xs * xs).sum(axis=1, keepdims=True)
                     - 2 * (xs @ B[s].T) + b2[s][None, :])
                a = d.argmin(axis=1)   # first min — the fold's tie-break
                np.add.at(sums[s], a, xs)
                cnts[s] += np.bincount(a, minlength=k)
        s_idx, j_idx = np.nonzero(cnts)
        if len(s_idx):
            yield pd.DataFrame({"s": s_idx.astype("int32"),
                                "j": j_idx.astype("int32"),
                                "sv": list(sums[s_idx, j_idx]),
                                "cnt": cnts[s_idx, j_idx]})

    rows = (quant.select("xi")
            .mapInPandas(gen, schema="s int, j int, sv array<bigint>, cnt long")
            .collect())
    sums: dict[tuple[int, int], list[int]] = {}
    cnts: dict[tuple[int, int], int] = {}
    for r in rows:
        key = (int(r.s), int(r.j))
        if key in sums:
            sums[key] = [a + int(b) for a, b in zip(sums[key], r.sv)]
            cnts[key] += int(r.cnt)
        else:
            sums[key] = [int(b) for b in r.sv]
            cnts[key] = int(r.cnt)
    return [
        [[math.floor(float(sums[(s, j)][d]) / cnts[(s, j)])
          for d in range(sub)]
         if (s, j) in sums else books[s][j]
         for j in range(k)]
        for s in range(m)]


def _ivfpq_cells_np(quant: DataFrame,
                    coarse: list[list[int]]) -> DataFrame:
    """(vec_id, cell, xi=residual) in ONE Arrow-batched narrow pass —
    the coarse-cell argmin and the residual subtraction fused;
    bit-identical to the literal-argmin + ``zip_with`` subtraction
    projection pair it replaces (exact int64 micro-unit distances,
    numpy first-min argmin, integer subtraction).  Still no join and
    no shuffle; one pass instead of two chained projections over an
    n_cells·dim-literal tree."""
    import numpy as np

    C = np.asarray(coarse, dtype=np.int64)
    n_cells = len(C)
    c2 = (C * C).sum(axis=1)
    row_step = max(1, (1 << 22) // n_cells)

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            X = np.asarray(pdf["xi"].tolist(), dtype=np.int64)
            cl = np.empty(len(X), dtype=np.int32)
            for lo in range(0, len(X), row_step):
                x = X[lo:lo + row_step]
                d = ((x * x).sum(axis=1, keepdims=True)
                     - 2 * (x @ C.T) + c2[None, :])
                cl[lo:lo + len(x)] = d.argmin(axis=1)
            R = X - C[cl]
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": cl,
                                "xi": list(R)})

    return (quant.select("vec_id", "xi")
            .mapInPandas(gen,
                         schema="vec_id long, cell int, xi array<bigint>"))


def _pq_codes_np(quant: DataFrame, books: list[list[list[int]]],
                 sub: int, id_col: str = "vec_id",
                 extra: dict[str, str] | None = None) -> DataFrame:
    """PQ encode pass as one Arrow-batched narrow map: per row the m
    per-subspace first-min codes plus the summed quantization
    distortion — bit-identical to the m-argmin-struct literal
    projection it replaces (exact int64 micro-unit sub-distances,
    numpy first-min argmin, integer distortion sum), without
    analyzing/codegening an m·k-aggregate interpreted-HOF forest.
    Returns (``id_col``[, extra...], code array<int>, dist_q long);
    still a narrow map — no join, no shuffle (guide §4.2).  ``extra``
    maps passthrough column names to their DDL types (e.g. the IVF
    cell id riding alongside the residual)."""
    import numpy as np

    extra = extra or {}
    m = len(books)
    B = np.asarray(books, dtype=np.int64)          # (m, k, sub)
    b2 = (B * B).sum(axis=2)

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            X = np.asarray(pdf["xi"].tolist(), dtype=np.int64)
            n = len(X)
            codes = np.empty((n, m), dtype=np.int32)
            dq = np.zeros(n, dtype=np.int64)
            for s in range(m):
                xs = X[:, s * sub:(s + 1) * sub]
                d = ((xs * xs).sum(axis=1, keepdims=True)
                     - 2 * (xs @ B[s].T) + b2[s][None, :])
                a = d.argmin(axis=1)
                codes[:, s] = a
                dq += d[np.arange(n), a]
            out = {id_col: pdf[id_col]}
            for c in extra:
                out[c] = pdf[c]
            out["code"] = list(codes)
            out["dist_q"] = dq
            yield pd.DataFrame(out)

    extra_ddl = "".join(f"{c} {t}, " for c, t in extra.items())
    return (quant.select(F.col("vec_id").alias(id_col),
                         *extra.keys(), "xi")
            .mapInPandas(gen, schema=f"{id_col} long, {extra_ddl}"
                                     "code array<int>, dist_q long"))


def _pq_train(quant, m: int, k: int, iters: int, sub: int,
              fit_mod: int | None = None) -> list[list[list[int]]]:
    """Train the m per-subspace codebooks.  ONE init collect serves
    all m codebooks (slices of the same first-k rows), and each Lloyd
    pass trains ALL subspaces in ONE job: the per-subspace assignments
    are independent narrow expressions, so they stack into an exploded
    (s, cluster, d, v) frame whose partial sums shuffle m·k·sub rows
    total.  (Per-subspace loops cost ~3 driver jobs each — 24 for m=8
    — pure scheduling/codegen overhead repeated per subspace.)
    ``fit_mod`` trains every codebook on the pinned hash sample
    (:func:`_fit_sample`) — the encode pass stays full-corpus."""
    quant = _fit_sample(quant, fit_mod)
    first = quant.orderBy("vec_id").limit(k).collect()
    books: list[list[list[int]]] = [
        [list(r.xi)[s * sub:(s + 1) * sub] for r in first]
        for s in range(m)]
    for _ in range(iters):
        # r11: fused Arrow partial-sums round (bit-identical; kills
        # the per-iteration m·k-literal plan rebuild — see
        # _pq_train_round_np)
        books = _pq_train_round_np(quant, books, sub)
    return books


def pq_encode(emb: DataFrame, m: int = 8, k: int = 16, iters: int = 1,
              vec_col: str = "embedding",
              fit_mod: int | None = None) -> DataFrame:
    """Product quantization: split each vector into ``m`` sub-vectors,
    k-means each subspace independently, store the per-subspace
    centroid index — ``dim`` floats become ``m`` small codes per
    vector (the 32× memory step that lets billion-vector ANN indexes
    fit in RAM; IVF-PQ = ann_ivf's cells + these codes for in-cell
    asymmetric distances).

    Plan shape: codebook training is ``m × iters`` narrow
    aggregations, each reducing to k rows of ``sub``-dim integer sums
    (the collect-k-literals pattern of cluster_embeddings; at 100 TB
    train on a sample like similarity.kmeans_centroids — the encode
    pass is the full-corpus work and it is a single narrow projection
    with all m codebooks bound as plan literals).  Exactness: integer
    micro-unit arithmetic end-to-end, first-k init, floor(sum/cnt)
    refresh — DuckDB replays codes and distortions bit-exactly.
    Returns (vec_id, pq_code 'c0,...,cm-1', dist_q = Σ subspace
    distortion in micro-unit²).
    """
    dim = len(emb.select(vec_col).first()[0])
    sub = dim // m
    quant = emb.select("vec_id", _quantize(F.col(vec_col)).alias("xi"))
    books = _pq_train(quant, m, k, iters, sub, fit_mod)
    # r11: Arrow-batched encode (bit-identical codes + distortion,
    # still one narrow map — see _pq_codes_np); the code string is
    # array_join == the previous concat_ws over per-code casts
    coded = _pq_codes_np(quant, books, sub)
    return coded.select(
        "vec_id",
        F.array_join(F.transform("code", lambda c: c.cast("string")), ",")
        .alias("pq_code"),
        "dist_q")


def pq_search(emb: DataFrame, queries: DataFrame, k_top: int = 10,
              m: int = 8, k: int = 16, iters: int = 1,
              vec_col: str = "embedding",
              fit_mod: int | None = None) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes — the
    billion-scale ANN scoring shape: the corpus exists only as ``m``
    codes per vector; each query precomputes an m×k lookup table of
    exact sub-distances to every centroid ONCE (tiny: books and the
    query are both driver-sized), and scoring the whole corpus is
    then ``m`` array lookups + adds per row — no per-row vector
    arithmetic at all, which is PQ's point (memory bandwidth, not
    FLOPs).

    Plan shape: encode = one narrow projection (codebook literals);
    scoring = broadcast the (query_id, LUT) frame across the coded
    corpus; top-k = window rank shuffled on query_id only — the
    corpus is never shuffled (same skeleton as ann_bruteforce).  All
    arithmetic is exact int64 micro-units, so DuckDB replays ranks
    bit-exactly.  Returns (query_id, cand_id, adc_q, rank).
    """
    scored = _adc_scored(emb, queries, m, k, iters, vec_col, fit_mod)[0]
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_q"),
                                               F.asc("cand_id"))
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k_top)
            .select("query_id", "cand_id", "adc_q", "rank"))


def _adc_scored(emb, queries, m: int, k: int, iters: int, vec_col: str,
                fit_mod: int | None = None):
    """Shared ADC machinery: returns (scored, quant, qxi, dim) where
    ``scored`` is the unranked (query_id, cand_id, adc_q) frame,
    ``quant`` the integer-quantized corpus, and ``qxi`` the
    driver-sized (query_id, qx) integer query frame for exact
    re-rank stages."""
    dim = len(emb.select(vec_col).first()[0])
    sub = dim // m
    quant = emb.select("vec_id", _quantize(F.col(vec_col)).alias("xi"))
    books = _pq_train(quant, m, k, iters, sub, fit_mod)

    # r11: Arrow-batched encode (bit-identical, narrow — _pq_codes_np)
    coded = (_pq_codes_np(quant, books, sub, id_col="cand_id")
             .select("cand_id",
                     *[F.col("code")[s].alias(f"c{s}") for s in range(m)]))

    spark = emb.sparkSession
    qrows = (queries.select("vec_id",
                            _quantize(F.col(vec_col)).alias("xi"))
             .orderBy("vec_id").collect())
    luts = []
    for r in qrows:
        xi = list(r.xi)
        flat = []
        for s in range(m):
            qs = xi[s * sub:(s + 1) * sub]
            for c in books[s]:
                flat.append(sum((a - b) * (a - b) for a, b in zip(qs, c)))
        luts.append((int(r.vec_id), flat))
    qdf = spark.createDataFrame(luts, ["query_id", "lut"])
    score = " + ".join(f"element_at(lut, {s * k} + c{s} + 1)"
                       for s in range(m))
    scored = (coded.crossJoin(F.broadcast(qdf))
              .filter(F.col("cand_id") != F.col("query_id"))
              .withColumn("adc_q", F.expr(score))
              .select("query_id", "cand_id", "adc_q"))
    qxi = spark.createDataFrame(
        [(int(r.vec_id), list(r.xi)) for r in qrows],
        "query_id bigint, qx array<bigint>")
    return scored, quant, qxi, dim


def _exact_rerank(scored: DataFrame, quant: DataFrame, qxi: DataFrame,
                  dim: int, k_top: int, shortlist: int) -> DataFrame:
    """Shared stage 2 of the two-stage searches: ADC shortlist →
    broadcast exact integer re-rank.  The shortlist (≤ |queries| ·
    shortlist · k_top rows, tiny by construction) BROADCASTS back
    against the quantized corpus — the corpus is scanned, never
    shuffled, and only shortlist rows survive the hash join; the
    exact distance is an unrolled dim-term integer expression (HOF
    lambdas run interpreted); final top-k is the usual per-query
    window.  Returns (query_id, cand_id, adc_q, exact_q, rank)."""
    from functools import reduce

    from pyspark.sql import Window

    ws = Window.partitionBy("query_id").orderBy(F.asc("adc_q"),
                                                F.asc("cand_id"))
    short = (scored.withColumn("srank", F.row_number().over(ws))
             .filter(F.col("srank") <= k_top * shortlist)
             .select("query_id", "cand_id", "adc_q"))
    cand = (quant.withColumnRenamed("vec_id", "cand_id")
            .join(F.broadcast(short), "cand_id")
            .join(F.broadcast(qxi), "query_id"))
    exact = reduce(
        lambda acc, d: acc + (F.element_at("xi", d) - F.element_at("qx", d))
        * (F.element_at("xi", d) - F.element_at("qx", d)),
        range(2, dim + 1),
        (F.element_at("xi", 1) - F.element_at("qx", 1))
        * (F.element_at("xi", 1) - F.element_at("qx", 1)))
    wr = Window.partitionBy("query_id").orderBy(F.asc("exact_q"),
                                                F.asc("cand_id"))
    return (cand.withColumn("exact_q", exact.cast("long"))
            .withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k_top)
            .select("query_id", "cand_id", "adc_q", "exact_q", "rank"))


def pq_rerank_search(emb: DataFrame, queries: DataFrame, k_top: int = 10,
                     shortlist: int = 4, m: int = 16, k: int = 16,
                     iters: int = 2, vec_col: str = "embedding",
                     fit_mod: int | None = None) -> DataFrame:
    """Two-stage PQ search — the production billion-scale pattern:
    stage 1 ADC-scans the codes (memory-bandwidth bound, same as
    :func:`pq_search`) but keeps a ``shortlist × k_top`` candidate
    list per query; stage 2 re-ranks ONLY the shortlist with exact
    integer distances against the raw vectors.  Quantization error
    then only has to keep the true neighbors inside the shortlist,
    not rank them — recall climbs toward bruteforce at a full-corpus
    cost that is still just the m-byte code scan plus
    |queries|·shortlist·k_top exact distances (measured on the sf0.1
    corpus: 0.31 ADC-only → 0.62 at shortlist=4 → 0.81 at
    shortlist=8, recall@10).

    Plan shape: see :func:`_exact_rerank` (shared with
    :func:`ivfpq_rerank_search`).  Exact in DuckDB end-to-end.
    Returns (query_id, cand_id, adc_q, exact_q, rank).
    """
    scored, quant, qxi, dim = _adc_scored(emb, queries, m, k, iters,
                                          vec_col, fit_mod)
    return _exact_rerank(scored, quant, qxi, dim, k_top, shortlist)


def ivfpq_search(emb: DataFrame, queries: DataFrame, k_top: int = 10,
                 n_cells: int = 16, n_probe: int = 4, m: int = 8,
                 k: int = 16, iters: int = 1,
                 coarse_iters: int | None = None,
                 vec_col: str = "embedding",
                 fit_mod: int | None = None) -> DataFrame:
    """IVF-PQ: the production billion-scale ANN composition — a
    coarse k-means partitions the corpus into ``n_cells`` inverted
    lists; a query probes only its ``n_probe`` nearest cells and
    ADC-scores the PQ codes inside them.  Work per query drops from
    |corpus| to ~|corpus|·n_probe/n_cells, and the scored side reads
    codes (m bytes/vector), not vectors.

    Plan shape: the corpus makes ONE narrow pass to (cell, residual)
    — coarse argmin + integer subtraction against the coarse-centroid
    literal the cell indexes — and a second narrow pass to m residual
    PQ codes; the probe gating is an equi-JOIN on the cell id with
    the broadcast (query, probed-cell, LUT) frame, where each probed
    cell gets its own LUT from the query's residual in THAT cell (the
    Jégou et al. residual construction — codes quantize x − c(cell),
    so distances concentrate and recall rises vs raw-vector PQ).  No
    query-dependent filter expressions, no corpus shuffle; top-k is
    the query_id window.  All-integer micro-units: DuckDB replays
    ranks bit-exactly.  Returns (query_id, cand_id, adc_q, rank).
    """
    scored = _ivfpq_scored(emb, queries, n_cells, n_probe, m, k, iters,
                           coarse_iters, vec_col, fit_mod)[0]
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_q"),
                                               F.asc("cand_id"))
    return (scored
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k_top)
            .select("query_id", "cand_id", "adc_q", "rank"))


def ivfpq_rerank_search(emb: DataFrame, queries: DataFrame,
                        k_top: int = 10, shortlist: int = 4,
                        n_cells: int = 16, n_probe: int = 4, m: int = 8,
                        k: int = 16, iters: int = 1,
                        coarse_iters: int | None = None,
                        vec_col: str = "embedding",
                        fit_mod: int | None = None) -> DataFrame:
    """IVF-PQ with exact re-rank — the full production billion-scale
    composition (Jégou et al.): cell-gated ADC shortlist (stage 1 of
    :func:`ivfpq_search` — |corpus|·n_probe/n_cells code reads, no
    corpus shuffle) feeding the broadcast exact integer re-rank of
    :func:`_exact_rerank` (stage 2 of :func:`pq_rerank_search`).
    Quantization error then only has to keep true neighbors inside
    the shortlist, not rank them: measured recall@10 on the sf0.1
    corpus rises from 0.36 (ADC ranks, p16) to ~bruteforce-shortlist
    quality at the SAME probe budget, for |queries|·shortlist·k_top
    extra exact distances.  Returns
    (query_id, cand_id, adc_q, exact_q, rank).
    """
    scored, quant, qxi, dim = _ivfpq_scored(emb, queries, n_cells,
                                            n_probe, m, k, iters,
                                            coarse_iters, vec_col,
                                            fit_mod)
    return _exact_rerank(scored, quant, qxi, dim, k_top, shortlist)


def _ivfpq_scored(emb, queries, n_cells: int, n_probe: int, m: int,
                  k: int, iters: int, coarse_iters: int | None,
                  vec_col: str, fit_mod: int | None = None):
    """Shared IVF-PQ machinery: coarse quantizer + residual codebooks
    + probe-gated ADC scoring.  Returns (scored, quant, qxi, dim)
    with ``scored`` the unranked (query_id, cand_id, adc_q) frame over
    the probed cells only, ``quant`` the integer-quantized corpus and
    ``qxi`` the driver-sized (query_id, qx) exact query frame."""
    # coarse cells only need rough Voronoi balance — the fine ranking
    # lives in the residual codebooks — so they get their own (lower)
    # iteration budget: one pass saves a full corpus assign+update per
    # extra iter with no measurable recall cost
    if coarse_iters is None:
        coarse_iters = iters
    dim = len(emb.select(vec_col).first()[0])
    sub = dim // m
    quant = emb.select("vec_id", _quantize(F.col(vec_col)).alias("xi"))

    # coarse quantizer: same deterministic Lloyd loop as
    # cluster_embeddings (first-k init, posexplode update); with
    # fit_mod the coarse fit runs on the pinned hash sample
    fitq = _fit_sample(quant, fit_mod)
    coarse = [list(r.xi) for r in
              fitq.orderBy("vec_id").limit(n_cells).collect()]
    for _ in range(coarse_iters):
        # r11: fused Arrow partial-sums round (bit-identical — see
        # _lloyd_round_np)
        coarse = _lloyd_round_np(fitq, coarse)

    # r11: coarse argmin + residual subtraction fused into one Arrow
    # pass, and the residual PQ encode Arrow-batched (both
    # bit-identical — _ivfpq_cells_np / _pq_codes_np)
    resid = _ivfpq_cells_np(quant, coarse)
    books = _pq_train(resid.select("vec_id", "xi"), m, k, iters, sub,
                      fit_mod)
    coded = (_pq_codes_np(resid, books, sub, id_col="cand_id",
                          extra={"cell": "int"})
             .select("cand_id", "cell",
                     *[F.col("code")[s].alias(f"c{s}")
                       for s in range(m)]))

    qrows = (queries.select("vec_id",
                            _quantize(F.col(vec_col)).alias("xi"))
             .orderBy("vec_id").collect())
    probe_rows = []
    for r in qrows:
        xi = list(r.xi)
        cell_d = sorted(
            (sum((a - b) * (a - b) for a, b in zip(xi, c)), j)
            for j, c in enumerate(coarse))
        for _, cell in cell_d[:n_probe]:
            qres = [a - b for a, b in zip(xi, coarse[cell])]
            flat = []
            for s in range(m):
                qs = qres[s * sub:(s + 1) * sub]
                for c in books[s]:
                    flat.append(sum((a - b) * (a - b)
                                    for a, b in zip(qs, c)))
            probe_rows.append((int(r.vec_id), int(cell), flat))
    spark = emb.sparkSession
    qdf = spark.createDataFrame(probe_rows, ["query_id", "cell", "lut"])
    score = " + ".join(f"element_at(lut, {s * k} + c{s} + 1)"
                       for s in range(m))
    scored = (coded.join(F.broadcast(qdf), "cell")
              .filter(F.col("cand_id") != F.col("query_id"))
              .withColumn("adc_q", F.expr(score))
              .select("query_id", "cand_id", "adc_q"))
    qxi = spark.createDataFrame(
        [(int(r.vec_id), list(r.xi)) for r in qrows],
        "query_id bigint, qx array<bigint>")
    return scored, quant, qxi, dim


def semantic_dedup(emb: DataFrame, k: int | None = None, iters: int = 2,
                   threshold: float = 0.8, vec_col: str = "embedding",
                   fit_mod: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al., 2023): cluster the embedding space with
    k-means, then search for semantic duplicates ONLY within each
    cluster — documents saying the same thing in different words land
    in the same centroid cell, so the quadratic cosine search shrinks
    from corpus² to Σ (cluster size)².

    Scale shape: the assignment pass is the narrow centroid-literal
    argmin of :func:`cluster_embeddings` (no shuffle); the pair search
    shuffles once on the cluster id.  ``k=None`` (the production
    default) derives ``max(8, isqrt(n))`` from one corpus count so
    expected cluster size stays √n and total pair work ~n^1.5 at any
    scale — the r7 one-decade test measured a FIXED k=8 going 83× for
    10× vectors (cluster population linear ⇒ within-cluster pairs
    n²/k), vs near-linear with the derived k.  An explicit ``k``
    remains for the static-SQL oracle (Lloyd unrolls into CTEs, so
    the mirror needs a literal cluster count — the entry query pins
    k=8 for replayability and documents this).  A skewed cluster
    (degenerate embeddings) is the max_bucket situation — pre-filter
    exact dups first.  Cosine is over L2-normalized vectors, rounded
    to 6 dp (the proven engine-exact form of dedup_embedding);
    returned as pairs (a < b) with the cluster id.
    """
    from .similarity import l2_normalize

    if k is None:
        import math
        k = max(8, math.isqrt(emb.count()))
    asg = cluster_embeddings(emb, k=k, iters=iters, vec_col=vec_col,
                             fit_mod=fit_mod).select("vec_id", "cluster")
    normed = emb.select("vec_id", l2_normalize(vec_col).alias("v"))
    both = asg.join(normed, "vec_id")
    # both pair-join sides read this frame — unpinned, each side
    # replays the k-means assignment AND the normalization (audited:
    # four corpus scans).  Pin eagerly (the dedup signature-store
    # pattern; released via cache.release_caches()).  The pair join
    # below is a cluster-key BROADCAST join (both sides are this
    # frame), so the quadratic dot stage runs at the CACHE's
    # parallelism — no exchange sits between them to rescue it.  A
    # small corpus scans into a handful of parquet partitions and
    # every within-cluster pair then lands on those few tasks (r12
    # toggle A/B on the declared query: 4.16 → 2.83 s min isolated,
    # 5.01 → 3.34 med; the pair+dot stage is where the delta lives —
    # profiled at ~1.4 s of the warm query before the spread).
    # ensure_parallelism is a no-op at scale: a corpus with enough
    # scan partitions is never re-shuffled.
    from .dedup import ensure_parallelism
    both = pin(ensure_parallelism(both))
    both.count()
    left = both.select(F.col("vec_id").alias("a"), F.col("v").alias("va"),
                       "cluster")
    right = both.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"),
                        "cluster")
    pairs = left.join(right, "cluster").filter(F.col("a") < F.col("b"))
    # The cosine dot is the operator's hot loop: |pairs| ≈ Σ cluster²
    # rows × dim lambda steps.  zip_with/aggregate HOFs evaluate
    # INTERPRETED per element (~3 s of the warm query at sf0.1's
    # ~250k pairs); similarity.dot's string fast path is the unrolled
    # EMBED_DIM-term sum that compiles into whole-stage codegen,
    # IEEE-identical to the fold (same ((0.0 + t0) + t1) + ... op
    # sequence, leading 0.0 preserved) with a size guard that keeps
    # the generic fold for any other width (planted tests use 3-4
    # dims) — semantics unchanged for every input.  va/vb are already
    # DOUBLE (l2_normalize output), so dot's CASTs are no-ops that
    # Catalyst's SimplifyCasts removes; reusing it here instead of a
    # third hand-rolled copy of the unroll is r11 ADVICE item 2.
    from .similarity import dot
    cos = pairs.withColumn("cosine", F.round(dot("va", "vb"), 6))
    return (cos.filter(F.col("cosine") >= threshold)
            .select("a", "b", "cluster", "cosine"))


def pca_power(emb: DataFrame, iters: int = 2, dim: int = 64,
              vec_col: str = "embedding") -> DataFrame:
    """Top principal direction by distributed power iteration, and the
    per-vector projection onto it — the whitening / spectral-dedup /
    outlier-direction primitive of an embedding pipeline.

    Each iteration is ONE narrow pass + ONE aggregation to a single
    row: with the current direction v bound as an integer plan literal,
    every row computes its (rescaled) dot ``ds = floor((x·v)/1e6)``
    and the update ``s_d = Σ x_d·ds`` reduces 64 integer sums
    map-side; only 64 numbers reach the driver per iteration (the same
    collect-k-literals pattern as cluster_embeddings).  No covariance
    matrix is ever materialized (dim² never appears), no shuffle
    carries vectors.

    Exactness across engines: embeddings quantize to integer
    micro-units; dots and update sums are exact int64 (|x_d| ≤ 1e6,
    |ds| ≤ 6.4e7 ⇒ per-row terms ≤ 6.4e13, corpus sums ≪ 2⁶³ up to
    ~1e5 rows — beyond that rescale ds by another 1e3); the ONLY
    float steps are the normalization ``floor(1e6·s/√Σs²)`` (identical
    IEEE op sequence in Python and the SQL oracle — the int→double
    casts round half-even in both) and the final floor-division
    rescale.  v₀ = (0.125, …): exactly unit-norm at dim 64 and exactly
    representable in micro-units.
    """
    import math


    # persisted across iterations: every per-iteration collect() and
    # the final projection re-read the quantized frame, so without the
    # pin the scan+quantize pass re-executes iters+1 times
    quant = pin(emb.select("vec_id", _quantize(F.col(vec_col)).alias("xi")))
    v = [SCALE // 8] * dim                       # 0.125 · 1e6, unit norm

    for _ in range(iters):
        vlit = F.expr("array(" + ",".join(f"{c}L" for c in v) + ")")
        d = F.aggregate(F.zip_with(F.col("xi"), vlit, lambda a, b: a * b),
                        F.lit(0).cast("long"), lambda acc, t: acc + t)
        ds = F.floor(d / F.lit(1e6)).cast("long")
        # ONE selectExpr batch (a select of aggregates with no groupBy
        # is a global aggregate), not dim Column builds: the per-
        # Column py4j round-trips cost ~0.3 s of driver construction
        # PER ITERATION (the column_stats lesson)
        rows = (quant.withColumn("ds", ds)
                .selectExpr(*[f"sum(element_at(xi, {j + 1}) * ds) AS s{j}"
                              for j in range(dim)])
                .collect()[0])
        s = [int(rows[f"s{j}"] or 0) for j in range(dim)]
        # normalization mirrors the SQL oracle op-for-op: sequential
        # double fold of s², sqrt, then per-dim floor(1e6·s/norm)
        acc = 0.0
        for sd in s:
            acc = acc + float(sd) * float(sd)
        norm = math.sqrt(acc)
        if norm == 0.0:
            break                                 # degenerate corpus
        v = [math.floor(1e6 * float(sd) / norm) for sd in s]

    vlit = F.expr("array(" + ",".join(f"{c}L" for c in v) + ")")
    proj = F.aggregate(F.zip_with(F.col("xi"), vlit, lambda a, b: a * b),
                       F.lit(0).cast("long"), lambda acc, t: acc + t)
    return quant.select("vec_id", proj.alias("proj_q"))


def group_drift(emb: DataFrame, group_col: str = "label",
                vec_col: str = "embedding") -> DataFrame:
    """Semantic drift matrix between embedding GROUPS (sources,
    labels, snapshots): pairwise cosine between group centroids —
    the mixing-governance read ("which sources are near-duplicates
    of each other in embedding space, which one is the outlier")
    before weighting a training mix, and the drift monitor between
    corpus versions.

    Scale-proof arithmetic: centroids are integer MEANS per (group,
    dimension) — ``sum div count`` in exact micro-units, so the
    magnitude is bounded by the value range NO MATTER the corpus
    size (raw sums would overflow first), and cosine of means equals
    cosine of sums.  One posexplode + (group, dim) map-side-combined
    aggregate is the only corpus-scale work; the pairwise dot is a
    |groups|²·dim join over the tiny pinned centroid frame.  Final
    cosine is one double expression over exact integers (IEEE-
    deterministic in both engines).  Returns
    (group_a, group_b, cosine) for a < b.
    """
    q = emb.select(F.col(group_col).cast("long").alias("g"),
                   F.posexplode(_quantize(F.col(vec_col)))
                   .alias("pos", "v"))
    cent = pin(q.groupBy("g", "pos")
               .agg(F.expr("sum(v) div count(*)").alias("m")))
    cent.count()
    norms = cent.groupBy("g").agg(F.sum(F.expr("m * m")).alias("nn"))
    a = cent.select(F.col("g").alias("ga"), "pos",
                    F.col("m").alias("ma"))
    b = cent.select(F.col("g").alias("gb"), "pos",
                    F.col("m").alias("mb"))
    dots = (a.join(b, "pos").filter(F.col("ga") < F.col("gb"))
            .groupBy("ga", "gb")
            .agg(F.sum(F.expr("ma * mb")).alias("dot")))
    return (dots
            .join(norms.select(F.col("g").alias("ga"),
                               F.col("nn").alias("na")), "ga")
            .join(norms.select(F.col("g").alias("gb"),
                               F.col("nn").alias("nb")), "gb")
            .select(F.col("ga").alias("group_a"),
                    F.col("gb").alias("group_b"),
                    F.round(F.expr("CAST(dot AS DOUBLE) / "
                                   "sqrt(CAST(na AS DOUBLE) * "
                                   "CAST(nb AS DOUBLE))"), 6)
                    .alias("cosine")))


def embedding_outliers(emb: DataFrame, group_col: str = "label",
                       vec_col: str = "embedding",
                       q_ppm: int = 900_000,
                       bin_shift: int = 30) -> DataFrame:
    """Embedding-space outlier accounting per group — the OOD/noise
    screen of an embedding-curation pass ("how much of each source
    sits far from its own centroid"): squared L2 distance to the OWN
    group's centroid, thresholded at the group's q-quantile via the
    histogram-CDF (the corpus_curriculum trick — never an ntile
    sort).

    Plan: integer MEAN centroids aggregate once (posexplode +
    map-side combine, the group_drift pass) and collect to
    |groups|·dim driver literals, so the distance pass is a NARROW
    CASE-over-literals expression — the corpus is never joined or
    shuffled for scoring.  Distances bucket by a power-of-two shift
    into a tiny (group, bucket) histogram; the threshold bucket
    broadcasts back.  Returns per group: (group, n, n_outliers,
    thresh_bucket) — rows bounded by |groups| at any scale.
    """
    from pyspark.sql import Window

    q = emb.select(F.col(group_col).cast("long").alias("g"),
                   F.posexplode(_quantize(F.col(vec_col)))
                   .alias("pos", "v"))
    cent_rows = (q.groupBy("g", "pos")
                 .agg(F.expr("sum(v) div count(*)").alias("m"))
                 .collect())
    cents: dict[int, list[int]] = {}
    for r in cent_rows:
        cents.setdefault(int(r.g), [0] * 64)[int(r.pos)] = int(r.m)
    dist_cases = " ".join(
        f"WHEN {g} THEN aggregate(zip_with(xi, array({','.join(str(v) + 'L' for v in cs)}), "
        "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
        for g, cs in sorted(cents.items()))
    staged = pin(emb.select(
        F.col(group_col).cast("long").alias("g"),
        _quantize(F.col(vec_col)).alias("xi"))
        .select("g", F.expr(f"CASE g {dist_cases} END").alias("d"))
        .select("g", F.expr(f"d div {1 << bin_shift}").alias("b")))
    staged.count()
    hist = staged.groupBy("g", "b").agg(F.count("*").alias("c"))
    cum_w = (Window.partitionBy("g").orderBy("b")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tot_w = Window.partitionBy("g")
    thresh = (hist
              .withColumn("cum", F.sum("c").over(cum_w))
              .withColumn("n", F.sum("c").over(tot_w))
              .groupBy("g")
              .agg(F.min(F.when(
                  F.col("cum") * 1_000_000 >= q_ppm * F.col("n"),
                  F.col("b"))).alias("tb"),
                  F.max("n").alias("n")))
    out = (staged.join(F.broadcast(thresh), "g")
           .groupBy("g")
           .agg(F.max("n").alias("n"),
                F.sum(F.when(F.col("b") > F.col("tb"), 1)
                      .otherwise(0)).alias("n_outliers"),
                F.max("tb").alias("thresh_bucket")))
    return out.select(F.col("g").alias(group_col), "n",
                      F.col("n_outliers").cast("long"),
                      "thresh_bucket")
