"""Graph operators over near-duplicate pair graphs.

dup_groups (dedup.py) answers "which documents are the same thing";
pagerank answers "which document is the most CENTRAL in its duplicate
neighborhood" — the canonical-representative picker when near-dup
clusters should keep their hub (the page everyone copied) rather than
the min-id member.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import cut, pin

PPM = 1_000_000
# Rounds between lineage cuts in pagerank and label_propagation (the
# registry's 2-3-round budgets never reach a cut).
_CUT_EVERY = 5


def _sym(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetric closure of an (a, b) pair list in ONE pass: each pair
    EXPLODES into both edge directions.  A union of two projections
    would embed the upstream pair generator (often a full near-dup
    detector pipeline) once per branch, and Catalyst does not dedupe
    repeated source subtrees — the detector would execute twice when
    the edge frame materializes (r11)."""
    a, b = F.col("a"), F.col("b")
    return (pairs.select(F.explode(F.array(
        F.struct(a.alias(src), b.alias(dst)),
        F.struct(b.alias(src), a.alias(dst)))).alias("e"))
        .select(f"e.{src}", f"e.{dst}").distinct())


def triangles(pairs: DataFrame) -> DataFrame:
    """Triangle enumeration over the undirected pair graph — the
    cluster-density primitive (a near-dup component that is also
    triangle-dense is boilerplate/mirror spam; a sparse one is chained
    false positives worth re-verifying).

    Scale shape — degree-ordered orientation: every edge is oriented
    from its lower (deg, id) endpoint to the higher, so each triangle
    has exactly ONE wedge at its lowest-rank corner and is emitted
    once, and per-node wedge fanout is bounded by the oriented
    out-degree — Σ out-deg² = O(m^1.5) for ANY graph, where the naive
    wedge join is Σ deg²: one hub page quoted everywhere turns that
    quadratic.  Two shuffles (wedge join on the corner node, closing
    semi-join on the (v, w) edge key), no cartesian anywhere.
    Returns one row per triangle, corners sorted ascending.
    """
    # single-pass symmetric closure (see _sym), pinned: sym feeds the
    # degree aggregate plus both sides of the rank join (r11)
    sym = pin(_sym(pairs, "u", "v"))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    ranked = (sym
              .join(deg.select(F.col("u").alias("u"),
                               F.col("deg").alias("du")), "u")
              .join(deg.select(F.col("u").alias("v"),
                               F.col("deg").alias("dv")), "v"))
    oriented = pin(ranked.filter(
        (F.col("du") < F.col("dv")) |
        ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))))
        .select("u", "v", "dv"))
    l = oriented.select("u", F.col("v").alias("w1"), F.col("dv").alias("d1"))
    r = oriented.select("u", F.col("v").alias("w2"), F.col("dv").alias("d2"))
    wedges = (l.join(r, "u")
              .filter((F.col("d1") < F.col("d2")) |
                      ((F.col("d1") == F.col("d2")) &
                       (F.col("w1") < F.col("w2"))))
              .select("u", "w1", "w2"))
    closed = wedges.join(
        oriented.select(F.col("u").alias("w1"), F.col("v").alias("w2")),
        ["w1", "w2"])
    corners = F.array_sort(F.array("u", "w1", "w2"))
    return closed.select(corners[0].alias("a"), corners[1].alias("b"),
                         corners[2].alias("c"))


def pagerank(pairs: DataFrame, iters: int = 2,
             damping_ppm: int = 850_000) -> DataFrame:
    """PageRank over the undirected pair graph, quantized to integer
    parts-per-million so every iteration is exact on any engine or
    partitioning (float PageRank drifts with summation order).

    r₀ = 1e6 per node; each iteration every node splits ``r div deg``
    to each neighbor and ``r' = (1e6 − d) + (d·Σ contribs) div 1e6``
    — all LONG integer division (never a double: ``/`` promotes to
    double in both engines and loses exactness past 2⁵³ on hub sums).

    Scale shape: edges and degrees are computed once and pinned
    (release with cache.release_caches); each iteration is one join on
    the node id + one aggregation — the same key both times, so at
    1000 executors the rank frame stays co-partitioned with edges and
    only the contribution sums move.  Lineage depth is bounded: every
    ``_CUT_EVERY`` rounds the rank frame is cut (``cache.cut``,
    localCheckpoint; values bit-identical — integer ppm), so
    analysis cost stays flat at user-supplied iteration budgets
    instead of growing a nested plan per round.  Symmetric pairs mean
    no dangling nodes by construction.
    """
    # single-pass symmetric closure (see _sym; r11)
    edges = pin(_sym(pairs, "src", "dst"))
    deg = pin(edges.groupBy("src").agg(F.count("*").alias("deg")))
    ranks = deg.select(F.col("src").alias("node"),
                       F.lit(PPM).cast("long").alias("r"))
    base = PPM - damping_ppm
    for i in range(iters):
        contrib = (edges
                   .join(ranks, edges.src == ranks.node)
                   .join(deg, "src")
                   .select(F.col("dst"), F.expr("r div deg").alias("c")))
        ranks = (contrib.groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("c").alias("s"))
                 .select("node",
                         F.expr(f"{base} + (s * {damping_ppm}) "
                                f"div {PPM}").alias("r")))
        if (i + 1) % _CUT_EVERY == 0 and i + 1 < iters:
            ranks = cut(ranks)
    return ranks.select(F.col("node").alias("doc_id"),
                        F.col("r").alias("pr_ppm"))


def identity_edges(events: DataFrame, min_share: int = 2,
                   max_share: int = 4, key_col: str = "user_id",
                   type_col: str = "event_type",
                   value_col: str = "value") -> DataFrame:
    """Entity-resolution edge builder: connect users who share a rare
    behavioral key — here (event_type, exact value in cents), the
    CPoC-style "same card used by different accounts" signal.  Keys
    shared by too many users (> ``max_share``) are coincidence, not
    identity, and are dropped — which is ALSO the scale guard: the
    all-pairs expansion of a hot key is C(n,2), and popular keys at
    100 TB have millions of holders.

    Within a kept key the users are linked as a sorted CHAIN
    (u1-u2, u2-u3, ...), not a clique: same connected components,
    LINEAR edge count — the standard blocking-graph construction for
    entity resolution at scale.  Returns distinct undirected edges
    (a < b).
    """
    cents = F.floor(F.col(value_col) * 100).cast("long")
    holders = (events.select(F.col(type_col).alias("etype"),
                             cents.alias("cents"),
                             F.col(key_col).alias("u"))
               .distinct())
    blocks = (holders.groupBy("etype", "cents")
              .agg(F.sort_array(F.collect_set("u")).alias("us"))
              .filter((F.size("us") >= min_share)
                      & (F.size("us") <= max_share)))
    chain = ("transform(slice(us, 1, size(us) - 1),"
             " (x, i) -> struct(x AS a, element_at(us, i + 2) AS b))")
    return (blocks.select(F.explode(F.expr(chain)).alias("p"))
            .select("p.a", "p.b").distinct())


def components(pairs: DataFrame) -> DataFrame:
    """Generic connected components over an (a, b) edge list — the
    exposed form of the min-label propagation loop behind
    dedup.dup_groups (one key shuffle per round, label-sum fixpoint
    detection, O(diameter) rounds).  Returns (node, component) with
    the component labeled by its minimum node id.
    """
    from .dedup import dup_groups
    return dup_groups(pairs).select(
        F.col("doc_id").alias("node"), F.col("group_id").alias("component"))


def label_propagation(pairs: DataFrame, iters: int = 3) -> DataFrame:
    """Community detection by synchronous label propagation
    (Raghavan et al. 2007) over the undirected pair graph — where
    connected components answer "what is transitively linked", LPA
    answers "where are the DENSE cores": a chain of borderline
    near-dup links stays multiple communities, a template-spam blob
    collapses to one.  The classic LPA is unstable; this variant is
    made deterministic (and retry-safe on a cluster) by synchronous
    updates, a fixed iteration budget, and the tie rule
    (max neighbor-count, then min label).

    Each round is ONE join keyed on the node id + one two-level
    aggregation: (node, label) vote counts — map-side combinable,
    bounded by the edge count — then a struct-max per node picks
    (count desc, label asc) without a window sort.  Labels start as
    node ids; edges are pinned once (release with
    cache.release_caches).  Lineage depth is bounded by a cut every
    ``_CUT_EVERY`` rounds (``cache.cut``, localCheckpoint — values
    bit-identical), so analysis cost stays flat at user-supplied
    iteration budgets.

    Returns (node, community) — community = converged label.
    """
    # single-pass symmetric closure (see _sym; r11)
    edges = pin(_sym(pairs, "src", "dst"))
    labels = edges.select(F.col("src").alias("node")).distinct() \
        .select("node", F.col("node").alias("lbl"))
    for i in range(iters):
        votes = (edges.join(labels, edges.src == labels.node)
                 .groupBy(F.col("dst").alias("node"), "lbl")
                 .agg(F.count("*").alias("c")))
        best = (votes.groupBy("node")
                .agg(F.max(F.struct(F.col("c").alias("c"),
                                    (-F.col("lbl")).alias("neg")))
                     .alias("m")))
        labels = best.select("node", (-F.col("m.neg")).alias("lbl"))
        if (i + 1) % _CUT_EVERY == 0 and i + 1 < iters:
            labels = cut(labels)
    return labels.select("node", F.col("lbl").alias("community"))


def neighbor_jaccard(pairs: DataFrame,
                     min_jaccard_ppm: int = 0,
                     max_center_degree: int | None = None) -> DataFrame:
    """Structural node similarity by neighbor-set Jaccard — the
    link-prediction / entity-resolution primitive: two nodes whose
    NEIGHBORHOODS overlap are cluster siblings even without a direct
    edge (a mirror pair each near-dup to the same originals, two user
    ids touching the same devices).  Returns one row per co-neighbor
    pair: (a, b, common, deg_a, deg_b, jaccard_ppm) with
    ``jaccard_ppm = common·10⁶ div (deg_a + deg_b - common)`` —
    integer, engine-exact.

    Scale shape: the wedge join on the shared neighbor costs
    Σ deg(n)² pair-candidates — the inherent cost of enumerating
    co-neighbor pairs (unlike triangles there is no orientation trick:
    every unordered pair must surface at each shared neighbor to be
    counted).  Hubs therefore dominate; ``max_center_degree`` IS the
    production mitigation (r11, was documentation-only): centers with
    deg > D are dropped BEFORE the self-join — a hub shared by
    everyone carries no similarity signal, only the wedge blowup —
    bounding candidate pairs by |centers|·D² instead of Σ deg².
    deg_a/deg_b in the output stay FULL degrees (the cap prunes which
    centers GENERATE candidate pairs, it does not shrink
    neighborhoods), so reported jaccard is a lower bound for pairs
    whose only shared neighbors were capped hubs.  After the wedge:
    one map-side-combinable count per (a,b) and two node-keyed joins
    for the degrees.  No cartesian, nothing driver-side.
    """
    # pinned: sym feeds the wedge join twice plus the degree agg —
    # unpersisted, Spark would recompute the upstream pair pipeline
    # (e.g. the whole minhash LSH) three times.  Built as a
    # single-pass symmetric closure (see _sym; r11)
    sym = pin(_sym(pairs, "u", "v"))
    wedge_src = sym
    if max_center_degree is not None:
        centers = (sym.groupBy("u").agg(F.count("*").alias("cdeg"))
                   .filter(F.col("cdeg") <= max_center_degree)
                   .select("u"))
        wedge_src = sym.join(centers, "u")
    l = wedge_src.select(F.col("u").alias("n"), F.col("v").alias("x"))
    r = wedge_src.select(F.col("u").alias("n"), F.col("v").alias("y"))
    common = (l.join(r, "n").filter(F.col("x") < F.col("y"))
              .groupBy("x", "y").agg(F.count("*").alias("common")))
    deg = sym.groupBy("u").agg(F.count("*").alias("deg"))
    out = (common
           .join(deg.select(F.col("u").alias("x"),
                            F.col("deg").alias("deg_a")), "x")
           .join(deg.select(F.col("u").alias("y"),
                            F.col("deg").alias("deg_b")), "y")
           .select(F.col("x").alias("a"), F.col("y").alias("b"),
                   F.col("common").cast("long").alias("common"),
                   F.col("deg_a").cast("long").alias("deg_a"),
                   F.col("deg_b").cast("long").alias("deg_b"),
                   F.expr("common * 1000000 div (deg_a + deg_b - common)")
                   .cast("long").alias("jaccard_ppm")))
    if min_jaccard_ppm > 0:
        out = out.filter(F.col("jaccard_ppm") >= min_jaccard_ppm)
    return out


def kcore(pairs: DataFrame, k: int = 2, rounds: int = 3) -> DataFrame:
    """Bounded k-core peeling over the undirected pair graph: drop
    every node of degree < k, recompute degrees, repeat ``rounds``
    times.  Where components answer "what is linked" and LPA "where
    are the dense communities", the k-core answers "which nodes
    survive in a subgraph where EVERYONE has >= k neighbors" — the
    standard dense-nucleus extractor (template-spam blobs and mirror
    farms are high-core; chains of borderline near-dup links peel
    away at k=2).

    A fixed round budget instead of a fixpoint loop: the DuckDB
    oracle unrolls the same rounds as a CTE chain — run-to-fixpoint
    would make the oracle width data-dependent.  Peeling converges
    monotonically, so extra rounds only remove more; at production
    scale pick rounds ~ log(peel depth) (each round strictly shrinks
    the frontier).

    Each peel round is TWO count-windows over the edge frame — degree
    of the src endpoint (partition by src), degree of the dst endpoint
    (partition by dst), keep rows where both clear ``k`` (r11: the
    previous degree-aggregate + two semi-joins computed the same thing
    with three exchanges per round and a lazily-pinned intermediate
    per round; the window form moves the same edge bytes across the
    same two keys with one FEWER exchange and no per-round cache —
    measured ~1.3× on the entry graph with far smaller variance, and
    results are identical because the kept edge set is the same
    predicate).  Symmetric edges mean src-degree == dst-degree per
    node, so the two windows see the same distribution; a hub node
    buffers its edge list in one window group — the same single-key
    concentration the join form's shuffle had, spillable, and bounded
    upstream by the detectors' ``max_bucket``-style caps.  Edge set
    only ever shrinks; no row blowup at any scale.

    Returns (node, deg) for surviving nodes with their degree inside
    the surviving subgraph.
    """
    # single-pass symmetric closure (see _sym; r11)
    edges = pin(_sym(pairs, "src", "dst"))
    ws, wd = Window.partitionBy("src"), Window.partitionBy("dst")
    for _ in range(rounds):
        edges = (edges
                 .withColumn("__ds", F.count("*").over(ws))
                 .withColumn("__dd", F.count("*").over(wd))
                 .filter((F.col("__ds") >= k) & (F.col("__dd") >= k))
                 .select("src", "dst"))
    return (edges.groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k))


def bfs_distances(pairs: DataFrame, seeds: DataFrame,
                  rounds: int = 4) -> DataFrame:
    """Bounded multi-source BFS over the undirected pair graph: the
    "influence radius" readout (how far does contamination / a
    template blob / an identity cluster spread from a seed set) —
    components say WHETHER nodes connect, this says HOW CLOSE.
    ``seeds`` is a 1-column (node) frame; returns (node, dist) with
    the minimum hop count within ``rounds`` hops (seeds report 0,
    unreached nodes are absent).

    A fixed round budget, like :func:`kcore`: each round is one
    node-keyed join frontier→edges plus a min-aggregation — two key
    shuffles, no row blowup beyond the reachable edge set — and the
    DuckDB oracle unrolls the same budget as a depth-bounded
    recursive CTE.  The accumulated frame is localCheckpointed per
    round (``cache.cut``, r12 — it feeds both the next join and
    the final readout, and the lazy per-round pin kept the data but
    nested every round's join+agg into the next round's LOGICAL
    plan; the cut stores identical integer partitions and measured
    3.16 → 1.98 s min isolated on the declared query).  At 100 TB
    pick rounds ~ graph diameter of interest; each round's cost is
    bounded by |edges incident to the reached set|.  (A
    frontier-only delta join — joining just the newly reached nodes —
    halves the per-round work at high rounds; with small fixed
    budgets the min-agg form keeps the plan two-shuffle simple.)
    """
    # single-pass symmetric closure (see _sym; r11), pinned: it feeds
    # every BFS round
    sym = pin(_sym(pairs, "src", "dst"))
    dist = seeds.select(F.col(seeds.columns[0]).alias("node"),
                        F.lit(0).alias("d")).distinct()
    for _ in range(rounds):
        nxt = (dist.join(sym, dist.node == sym.src)
               .select(F.col("dst").alias("node"),
                       (F.col("d") + 1).alias("d")))
        dist = cut(dist.unionByName(nxt)
                   .groupBy("node").agg(F.min("d").alias("d")))
    return dist.select("node", F.col("d").cast("long").alias("dist"))
