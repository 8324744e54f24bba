"""Physical-plan audits: the scale properties SURVEY §6 promises must
be visible in the plans Catalyst actually produces — filter pushdown,
column pruning, broadcast joins for small dims, shuffle-free
generation.  These are the checks that keep a 100 TB run viable."""

from __future__ import annotations

import contextlib
import io

import __spark_entry__ as entrymod
from nifi_datasynthesizer_spark import compile_schema
from nifi_datasynthesizer_spark.cache import release_caches

from tests.conftest import SF_DIR as SF, job_group


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    df = entrymod.queries()["q1_pricing_summary"](spark, SF)
    p = _plan(df)
    # the shipdate filter must reach the parquet scan
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1]
    # column pruning: unused wide columns never leave the scan
    read_schema = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_shipinstruct" not in read_schema


def test_q3_broadcasts_customer(spark):
    df = entrymod.queries()["q3_top_orders"](spark, SF)
    p = _plan(df)
    assert "BroadcastHashJoin" in p
    assert "BroadcastExchange" in p


def test_q5_broadcasts_nation(spark):
    p = _plan(entrymod.queries()["q5_nation_revenue"](spark, SF))
    assert "BroadcastHashJoin" in p


def test_generation_is_shuffle_free(spark):
    df = compile_schema(entrymod.SYNTH_BASIC_SCHEMA, seed=1).dataframe(spark, 100000)
    p = _plan(df)
    assert "Exchange" not in p, "generation must stay a narrow map over Range"
    assert "Range" in p
    # single whole-stage-codegen'd project over the range source
    assert "Project" in p


def test_generation_codegen(spark):
    df = compile_schema(entrymod.SYNTH_IDENT_SCHEMA, seed=2).dataframe(spark, 1000)
    p = _plan(df, "simple")
    # '*' prefix marks whole-stage codegen stages
    assert "*(1)" in p or "codegen" in p.lower()


def _expr_nodes(plan, skip=lambda e: False):
    """Yield every expression node of a logical/physical plan, walking
    over py4j; ``skip(e)`` prunes a subtree below ``e``."""
    stack = []
    node = plan
    while True:
        ex = node.expressions()
        stack.extend(ex.apply(k) for k in range(ex.size()))
        if node.children().size() == 0:
            break
        node = node.children().head()
    while stack:
        e = stack.pop()
        yield e
        if not skip(e):
            kids = e.children()
            stack.extend(kids.apply(k) for k in range(kids.size()))


def test_generation_plan_has_no_wide_numeric_arrays(spark):
    """Plan-size tripwire: numeric pick tables (the 8192-entry N(0,1)
    quantiles, the 4096-entry exponential quantiles, foreign-key
    tables) reach Catalyst as one folded string literal, not an
    N-child array(...).  The per-element form cost 1.0-1.5 s of
    parse + analysis on every build of the basic schema.  String word
    lists (400-2400 entries) keep their literal array() form by
    design, so only numeric CreateArrays are bounded here.  The folded
    literal must also be gone from the optimized plan: a surviving
    split() would run once per row."""
    df = compile_schema(entrymod.SYNTH_BASIC_SCHEMA, seed=1).dataframe(
        spark, 1000)
    qe = df._jdf.queryExecution()

    def wide(e):
        return (e.nodeName() == "CreateArray"
                and e.children().size() > 64)

    analyzed = list(_expr_nodes(qe.analyzed(), skip=wide))
    numeric = [e.children().size() for e in analyzed
               if e.nodeName() == "CreateArray"
               and e.dataType().elementType().typeName() in ("double",
                                                             "long")]
    assert max(numeric, default=0) <= 64, (
        f"numeric array(...) with {max(numeric)} children: the folded "
        f"literal form of dual.element() was lost")
    # normal, gamma and foreign-key columns each read a folded table
    assert sum(e.nodeName() == "StringSplit" for e in analyzed) >= 3
    assert not any(e.nodeName() == "StringSplit"
                   for e in _expr_nodes(qe.optimizedPlan(), skip=wide)), \
        "folded table literal was not constant-folded"


def test_generation_stage_is_jit_compilable(spark):
    """Codegen tripwire: HotSpot never JIT-compiles a method over 8000
    bytes of bytecode, so a whole-stage class with such a method runs
    in the bytecode interpreter (the basic schema's fused projection
    measured 8306-8651 bytes: 12-13 s for 2M rows instead of 2 s).
    Either the stage's largest method fits, or the session's
    hugeMethodLimit is below it so Spark falls back to the split,
    compiled projection."""
    df = compile_schema(entrymod.SYNTH_BASIC_SCHEMA, seed=1).dataframe(
        spark, 1000)
    plan = df._jdf.queryExecution().executedPlan()
    while not plan.nodeName().startswith("WholeStageCodegen"):
        assert plan.children().size() > 0, "no whole-stage codegen stage"
        plan = plan.children().head()
    gen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    size = gen.CodeGenerator.compile(plan.doCodeGen()._2())._2() \
        .maxMethodCodeSize()
    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
    assert size <= 8000 or limit < size, (
        f"largest generated method is {size} bytes (> 8000, never "
        f"JIT-compiled) and hugeMethodLimit={limit} keeps the stage "
        f"whole: it would run interpreted")


def test_ann_bruteforce_broadcasts_queries(spark):
    df = entrymod.queries()["ann_bruteforce"](spark, SF)
    p = _plan(df)
    # corpus is never shuffled for scoring: the query set broadcasts
    assert "BroadcastExchange" in p


def test_minhash_shuffles_only_on_bands(spark):
    df = entrymod.queries()["dedup_minhash"](spark, SF)
    p = _plan(df)
    assert "band_hash" in p
    # the join key is the banded bucket, not doc_id or raw text
    joins = [seg.splitlines()[0] for seg in p.split("SortMergeJoin")[1:]] + \
            [seg.splitlines()[0] for seg in p.split("ShuffledHashJoin")[1:]] + \
            [seg.splitlines()[0] for seg in p.split("BroadcastHashJoin")[1:]]
    assert any("band" in j for j in joins) or "band_hash" in p


def test_minhash_band_join_ships_ids_only(spark):
    """The banded self-join must not carry the 64-long signature array
    (16× ~512 B/doc of shuffle amplification at scale) — signatures
    re-attach to candidate pairs by doc_id afterwards."""
    df = entrymod.queries()["dedup_minhash"](spark, SF)
    p = _plan(df)
    for line in p.splitlines():
        if line.strip().startswith("Output") and "band_hash" in line:
            assert "signature" not in line, f"signature rides the band join: {line}"


def test_ngram_jaccard_blocks_on_token_band(spark):
    """The candidate join key must be (length band, token band) —
    length alone goes quadratic within a band at 100 TB.  NOTE: the
    gram arrays ride this join deliberately (one shuffle per doc per
    side); a slim-key join + re-attach-by-id was measured 148× at the
    100× corpus because the re-attach moves pairs × |grams| bytes and
    pairs outnumber docs ~10× — see ngram_jaccard_pairs' docstring."""
    df = entrymod.queries()["dedup_ngram_jaccard"](spark, SF)
    p = _plan(df, "simple")     # tree mode: scan columns inline
    release_caches()
    key_lines = [ln for ln in p.splitlines()
                 if "Join" in ln and "lb#" in ln]
    assert key_lines, "no join keyed on the length band found"
    assert all("tb#" in ln for ln in key_lines), key_lines


def test_dedup_embedding_slim_candidate_join(spark):
    """The r7 slim-key shape for the hyperplane-bucket self-join:
    the candidate join sides read ids+bucket only from the pinned
    frame; normalized vectors re-attach by id (two 256-byte vectors
    per candidate would be the dominant shuffle byte cost at
    100 TB)."""
    import re
    df = entrymod.queries()["dedup_embedding"](spark, SF)
    p = _plan(df, "simple")     # tree mode: scan columns inline
    release_caches()
    scans = [ln for ln in p.splitlines()
             if "InMemoryTableScan" in ln and "bucket#" in ln]
    assert scans, "candidate sides do not read the pinned slim frame"
    for ln in scans:
        assert not re.search(r"[\[, ]va?#\d", ln), \
            f"vector rides the bucket join: {ln.strip()[:120]}"


def test_sketch_merge_reads_cached_registers(spark):
    """The group/all scopes must MAX-merge the pinned daily register
    frame (InMemory scans), not re-hash the corpus per scope."""
    df = entrymod.queries()["sketch_merge"](spark, SF)
    p = _plan(df)
    release_caches()
    assert "InMemoryTableScan" in p or "InMemoryRelation" in p


def test_ann_ivfpq_gates_on_cell(spark):
    """IVF-PQ's probe gating must be a broadcast equi-join on the
    cell id (no query-dependent corpus filter, no corpus shuffle);
    only the query_id top-k window shuffles."""
    df = entrymod.queries()["ann_ivfpq"](spark, SF)
    p = _plan(df)
    assert "BroadcastHashJoin" in p
    join_keys = [ln for ln in p.splitlines()
                 if "Left keys" in ln or "Right keys" in ln]
    assert any("cell#" in ln for ln in join_keys), join_keys
    shuffles = [ln for ln in p.splitlines() if "hashpartitioning(" in ln]
    assert shuffles and all("query_id#" in ln for ln in shuffles), shuffles


def test_ann_ivfpq_rerank_gates_and_broadcasts(spark):
    """The composed search must keep BOTH stage guarantees: the ADC
    stage gates on a broadcast cell-id equi-join, and the exact
    re-rank attaches the shortlist to the corpus via broadcast hash
    joins — at no point is the corpus hash-shuffled (only query_id
    windows repartition)."""
    df = entrymod.queries()["ann_ivfpq_rerank"](spark, SF)
    p = _plan(df)
    join_keys = [ln for ln in p.splitlines()
                 if "Left keys" in ln or "Right keys" in ln]
    assert any("cell#" in ln for ln in join_keys), join_keys
    assert any("cand_id#" in ln for ln in join_keys), join_keys
    shuffles = [ln for ln in p.splitlines() if "hashpartitioning(" in ln]
    assert shuffles and all("query_id#" in ln for ln in shuffles), shuffles


def test_ann_pq_corpus_never_shuffled(spark):
    """ADC scoring must broadcast the query-LUT side; the only
    hash shuffle is the query_id top-k window."""
    df = entrymod.queries()["ann_pq"](spark, SF)
    p = _plan(df)
    assert "BroadcastNestedLoopJoin" in p        # tiny LUT frame
    shuffles = [ln for ln in p.splitlines() if "hashpartitioning(" in ln]
    assert shuffles and all("query_id#" in ln for ln in shuffles), shuffles


def test_geo_near_blocks_on_cell(spark):
    """The spatial self-join must equi-join on the grid cell (cx, cy)
    — never a cartesian/theta join; the 3×3 explode is constant
    amplification on one side only."""
    df = entrymod.queries()["geo_near"](spark, SF)
    p = _plan(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    key_lines = [ln for ln in p.splitlines()
                 if "Left keys" in ln and "cx#" in ln]
    assert key_lines, "join not keyed on the grid cell"


def test_pq_encode_pass_is_narrow(spark):
    """The PQ encode pass (the full-corpus work) must be a single
    narrow Arrow map with the m codebooks in the task closure — no
    join, no shuffle except the presentation sort."""
    df = entrymod.queries()["embed_pq"](spark, SF)
    p = _plan(df)
    assert "Join" not in p and "hashpartitioning" not in p
    assert "rangepartitioning" in p  # the orderBy only


def test_semantic_dedup_pairs_only_within_cluster(spark):
    """SemDeDup's pair join must key on the cluster id (the blocking
    that turns corpus² into Σ cluster²) and the assignment must stay
    a narrow map — no cartesian anywhere."""
    df = entrymod.queries()["dedup_semantic"](spark, SF)
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "cluster#" in p
    pair_join = [ln for ln in p.splitlines()
                 if "Left keys" in ln and "cluster#" in ln]
    assert pair_join, "pair join is not keyed on the cluster id"
    # any VISIBLE exchange must key on cluster/vec_id; the assignment
    # + normalization exchanges now live inside the pinned `both`
    # subtree (InMemoryTableScan), so the outer plan may have none
    shuffles = [ln for ln in p.splitlines() if "hashpartitioning(" in ln]
    assert all("cluster#" in ln or "vec_id#" in ln
               for ln in shuffles), shuffles
    assert "InMemoryTableScan" in p or shuffles


def test_bloom_probe_is_narrow(spark):
    """The bloom membership test must be a scan-side expression over
    the literal bitmap — the fact table reaches its first exchange
    only for the final group-by, and the exact-member join is a
    broadcast (never a fact-side sort-merge shuffle)."""
    df = entrymod.queries()["sketch_bloom"](spark, SF)
    p = _plan(df)
    assert "SortMergeJoin" not in p
    assert "BroadcastHashJoin" in p
    shuffles = [ln for ln in p.splitlines() if "hashpartitioning(" in ln]
    # allowed: the final group-by and the (small) dim-side distinct —
    # never a shuffle keyed on the fact join key
    assert shuffles and all("o_orderpriority" in ln or "__k#" in ln
                            for ln in shuffles), shuffles
    assert not any("o_custkey" in ln for ln in shuffles), shuffles


def test_fuzzy_pairs_blocks_on_two_keys(spark):
    """dedup_fuzzy's candidate join must key on (length band,
    token band) — Levenshtein verification is O(len²) per pair,
    so an unblocked or single-key join is the difference between
    linear and quadratic work at 100 TB.  The join must be a
    SHUFFLE-merge with neither side of the corpus self-join
    broadcast (Catalyst's size guess once broadcast the exploded
    side — every task then rebuilt the full hashed relation).  The
    r7 second-decade shape streams prune+DP in the join stage: no
    InMemoryRelation may sit above the band join (a pairs-sized
    cache measured 133× at the 100× corpus)."""
    df = entrymod.queries()["dedup_fuzzy"](spark, SF)
    p = _plan(df)
    release_caches()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p, "candidate join is not a shuffle-merge"
    key_lines = [ln for ln in p.splitlines()
                 if "keys" in ln.lower() and "lb#" in ln]
    assert key_lines, "no join keyed on the length band found"
    assert all("tb#" in ln for ln in key_lines), key_lines
    # exactly ONE cached frame (the capped base) — a second pin would
    # be the pairs-sized candidate cache this test exists to forbid
    tree = _plan(df, "simple")
    import re
    rels = set(re.findall(r"InMemoryTableScan \[([a-z_#0-9L, ]+)\]", tree))
    assert all("na#" not in r and "nb#" not in r for r in rels), rels


def test_ann_ivf_assignment_is_narrow(spark):
    """IVF cell assignment must be a per-row argmax in an Arrow map
    with the centroids in the task closure — not a crossJoin
    row-blowup + groupBy argmax that shuffles the whole corpus (r1
    weakness)."""
    df = entrymod.queries()["ann_ivf"](spark, SF)
    p = _plan(df)
    assert "MapInPandas" in p                       # per-row argmax
    assert "max_by" not in p                        # old groupBy argmax
    assert "hashpartitioning(cand_id" not in p      # corpus never shuffles


def test_asof_join_single_shuffle_no_cartesian(spark):
    """The as-of join must be the union+window plan: exchanges only on
    the join key, never a nested-loop/cartesian from an inequality
    join."""
    df = entrymod.queries()["events_asof_balance"](spark, SF)
    p = _plan(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "Window" in p


def test_range_join_is_equi_join(spark):
    """Interval containment must compile to an equi-join on the time
    bucket (+ key), not Spark's nested-loop fallback."""
    df = entrymod.queries()["events_range_windows"](spark, SF)
    p = _plan(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "__bucket" in p          # bucket is part of the join key


def test_exact_dedup_partial_aggregation(spark):
    df = entrymod.queries()["dedup_exact"](spark, SF)
    p = _plan(df)
    # map-side partial agg before the exchange (two HashAggregate levels)
    assert p.count("HashAggregate") >= 2


def test_curation_narrow_ops_shuffle_free(spark):
    """Sampling, chunking, repetition stats and PII scrubbing are pure
    narrow passes — at 100 TB they must ride the scan with no
    exchange."""
    from nifi_datasynthesizer_spark.io import read_table
    from nifi_datasynthesizer_spark.operators import curation as CU
    docs = read_table(spark, SF, "documents")
    for df in (CU.sample_stratified(docs, {"src0": 0.5}, default_rate=0.1),
               CU.chunk_words(docs, 24),
               CU.pii_scrub(docs)):
        assert "Exchange" not in _plan(df)


def test_decontaminate_broadcasts_eval_set(spark):
    """The eval side must broadcast (benchmarks are small); the corpus
    must never be sort-merge-joined."""
    df = entrymod.queries()["corpus_decontaminate"](spark, SF)
    p = _plan(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_corpus_split_is_narrow(spark):
    df = entrymod.queries()["corpus_split"](spark, SF)
    p = _plan(df)
    # split assignment is a pure projection — the only exchange allowed
    # is the final presentation sort's
    before_sort = p.split("Sort", 1)[0] if "Sort" in p else p
    assert "hashpartitioning" not in before_sort


def test_quantize_stats_is_single_row_broadcast(spark):
    df = entrymod.queries()["embed_quantize"](spark, SF)
    p = _plan(df)
    # per-dim min/max collapse into ONE aggregate row broadcast back;
    # the code pass itself must not shuffle the corpus by any key
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert p.count("SinglePartition") >= 1
    # no posexplode-style blowup: the corpus is scanned only for the
    # code pass and the 1-row stats aggregate
    ps = _plan(df, "simple")
    assert ps.count("Scan parquet") == 2


def test_funnel_single_key_shuffle(spark):
    df = entrymod.queries()["events_funnel"](spark, SF)
    p = _plan(df)
    # event-type filter reaches the scan; aggregation shuffles on
    # user_id once; no joins of any kind in the funnel fold
    assert "Join" not in p
    assert p.count("hashpartitioning(user_id") >= 1


def test_ohlc_single_shuffle_no_join(spark):
    df = entrymod.queries()["events_ohlc"](spark, SF)
    p = _plan(df)
    assert "Join" not in p
    # one partial+final aggregate pair over (user_id, bucket)
    assert "partial_min" in p or "HashAggregate" in p


def test_tfidf_df_derives_from_postings(spark):
    df = entrymod.queries()["text_keywords"](spark, SF)
    p = _plan(df)
    # document frequencies must come from the aggregated postings, not
    # a second corpus scan: with the postings frame pinned, documents
    # .parquet is read once to build the tf cache and once for the
    # 1-row corpus-size aggregate (formatted mode counts real plan
    # nodes; the cache's stored-plan repr in other modes double-counts)
    scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
    assert len(scans) <= 2, scans
    assert "InMemoryTableScan" in p


def test_interval_join_state_watermarks(spark):
    from nifi_datasynthesizer_spark import streaming as ST
    from pyspark.sql import functions as F
    import datetime
    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 1), 1)],
        ["event_id", "ts", "user_id"])
    # batch-side analysis of the streaming join shape: both inputs carry
    # EventTimeWatermark nodes (bounded state) and the join condition
    # includes the time range (state eviction can reason about it)
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/data")
        src = ST.file_stream(spark, f"{td}/data", df.schema)
        j = ST.interval_join(src, src, key="user_id", ts_col="ts",
                             within="1 hour")
        analyzed = j._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("EventTimeWatermark") == 2


def test_rolling_single_shuffle_no_join(spark):
    df = entrymod.queries()["events_rolling"](spark, SF)
    p = _plan(df)
    assert "Join" not in p
    assert p.count("hashpartitioning(user_id") >= 1


def test_pivot_single_pass(spark):
    df = entrymod.queries()["events_pivot"](spark, SF)
    p = _plan(df)
    # fixed pivot values → one aggregate pass, no join, no second scan
    assert "Join" not in p
    assert _plan(df, "simple").count("Scan parquet") == 1


def test_rollup_uses_expand(spark):
    df = entrymod.queries()["events_rollup"](spark, SF)
    p = _plan(df)
    # ROLLUP compiles to Expand + ONE aggregate, not three jobs
    assert "Expand" in p
    assert "Join" not in p


def test_cross_dedup_band_join(spark):
    df = entrymod.queries()["dedup_cross"](spark, SF)
    p = _plan(df)
    # candidates come from the (band_id, band_hash) equi-join
    assert "band_hash" in p
    # incoming-batch filter is pushed into the parquet scan
    assert "PushedFilters" in p


def test_containment_df_cap_before_pair_join(spark):
    df = entrymod.queries()["dedup_containment"](spark, SF)
    p = _plan(df)
    # the df<=cap stop-shingle filter must sit under the pair self-join
    # (it is what bounds per-shingle fanout); the pair agg keys on (a,b)
    assert "df#" in p or "(df" in p
    assert "hashpartitioning(a" in p or "hashpartitioning(a, b" in p.replace("#", "") or "a#" in p


def test_pca_iteration_is_narrow_plus_scalar_agg(spark):
    from nifi_datasynthesizer_spark.operators.clustering import pca_power
    from nifi_datasynthesizer_spark.io import read_table
    emb = read_table(spark, SF, "embeddings")
    df = pca_power(emb, iters=1)
    p = _plan(df)
    # the projection pass itself: no join, no shuffle — the direction
    # rides as an array literal over a single narrow scan
    assert "Join" not in p
    assert "Exchange" not in p


def test_fm_distinct_sketch_shape(spark):
    """The FM sketch must aggregate registers (MAX-combinable,
    map-side partials) and attach the exact side via broadcast — the
    big frame is never joined on a shuffled key."""
    df = entrymod.queries()["sketch_distinct"](spark, SF)
    p = _plan(df)
    assert "BroadcastHashJoin" in p
    assert "max(rho" in p or "max(" in p   # register merge is a MAX agg


def test_cm_heavy_hitters_bounded_topk(spark):
    """Candidate selection must be a k-bounded TakeOrdered, never a
    global window sort over the whole vocabulary."""
    df = entrymod.queries()["sketch_heavy_hitters"](spark, SF)
    p = _plan(df)
    assert "TakeOrderedAndProject" in p
    # the cells side broadcasts (4096 rows)
    assert "BroadcastHashJoin" in p


def test_kmv_sketch_no_cross_group_token_join(spark):
    """sketch_kmv's whole point is composing k-row sketches: the only
    corpus-sized work is the explode+distinct pass, and the pair
    stage must join BROADCAST pair keys against k-row sketches —
    never a token-level cross-group join or cartesian product."""
    import re
    df = entrymod.queries()["sketch_kmv"](spark, SF)
    p = _plan(df)
    assert "CartesianProduct" not in p
    # the ga < gb pair enumeration is the one sanctioned nested-loop
    # join (group-count², tiny); every BNLJ in the plan must be that
    # cross, never an unkeyed token-level join
    conds = re.findall(
        r"\(\d+\) BroadcastNestedLoopJoin\s*\nJoin type: (\w+)"
        r"\s*\nJoin condition: ([^\n]+)", p)
    assert conds, "expected the pair-enumeration BNLJ in the plan"
    for jtype, cond in conds:
        assert jtype == "Cross" and "ga" in cond, (jtype, cond)
    # sketch windows are salted / per-group — never a global sort
    assert "Window [" not in p or "partitionBy" not in p


def test_dsir_single_fit_join_is_broadcast(spark):
    """corpus_dsir: the 256-row delta table must re-attach to the
    feature stream as a BROADCAST join (the corpus is never shuffled
    on the bucket key), and the plan has no cartesian product beyond
    the 1-row totals/threshold attachments."""
    df = entrymod.queries()["corpus_dsir"](spark, SF)
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    # per-doc scoring aggregates on doc_id (partial agg applies)
    assert "partial" in p.lower()


def test_sketch_topk_partial_topk_before_shuffle(spark):
    """UpperQuantile's retained top-k must hit the WindowGroupLimit
    rewrite (partial per-partition top-k BEFORE the exchange) — the
    full per-group sort is the thing the operator exists to avoid —
    and the group-count side must broadcast."""
    df = entrymod.queries()["sketch_topk"](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p, "rank-limit pushdown did not fire"
    assert "BroadcastHashJoin" in p


def test_r6_operators_scan_counts(spark):
    """Rescan audit at birth (the r5 lesson: shared derived frames
    silently replay their lineage per consumer).  events_parse_lines
    reads the pinned lines cache (≤1 parquet scan, for the pin's
    lineage); sketch_topk's two scans are the count + retained sides
    by design; ann_ivfpq_rerank's two scans are the code chain and
    the re-rank vector attach by design."""
    expect = {"events_parse_lines": 1, "sketch_topk": 2,
              "ann_ivfpq_rerank": 2}
    for name, want in expect.items():
        df = entrymod.queries()[name](spark, SF)
        p = _plan(df)
        scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
        assert len(scans) <= want, (name, scans)
        gens = [ln for ln in p.splitlines() if ") Generate" in ln]
        assert not gens, (name, gens)
        release_caches()
    df = entrymod.queries()["events_parse_lines"](spark, SF)
    assert "InMemoryTableScan" in _plan(df)
    release_caches()


def test_q6_pushdown_and_pruning(spark):
    """Q6's scan must read only the 4 referenced columns and push the
    range predicates into the parquet scan; the only exchange is the
    1-row partial-aggregate gather."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR
    df = entrymod.queries()["q6_forecast_revenue"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_shipdate" in \
        plan.split("PushedFilters", 1)[1][:400]
    rs = plan.split("ReadSchema", 1)[1][:400]
    assert "l_orderkey" not in rs and "l_returnflag" not in rs
    assert plan.count("Exchange") <= 1


def test_wave3_operators_scan_counts(spark):
    """Rescan audit for the wave-3 operators: pinned shared frames
    cap each at its by-design parquet scan count.  corpus_token_budget
    (pinned token frame feeds budget/CDF/both keeps: 1 scan of the
    pin's lineage), corpus_overlap (pinned distinct-gram frame),
    embed_knn_graph (pinned bucket frame feeds both join sides),
    events_attribution / events_dwell / events_sequences (single
    events scan), sketch_ams (pinned frequency frame)."""
    expect = {"corpus_token_budget": 1, "corpus_overlap": 1,
              "embed_knn_graph": 1, "events_attribution": 1,
              "events_dwell": 1, "events_sequences": 1,
              "sketch_ams": 1, "corpus_curriculum": 1,
              "events_wau": 1, "corpus_upsample": 1,
              "corpus_filter_report": 1}
    for name, want in expect.items():
        df = entrymod.queries()[name](spark, SF)
        p = _plan(df)
        scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
        assert len(scans) <= want, (name, scans)
        release_caches()


def test_partitioned_layout_prunes(spark):
    """io_partition_prune's filter on the partition column must become
    a PartitionFilters entry (one directory scanned), not a data filter
    over all rows."""
    df = entrymod.queries()["io_partition_prune"](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    seg = p.split("PartitionFilters", 1)
    assert len(seg) == 2, "no PartitionFilters in scan"
    assert "event_type" in seg[1][:200]
    # the row-level PushedFilters must NOT re-check the partition col
    pushed = p.split("PushedFilters", 1)[1][:120]
    assert "event_type" not in pushed


def test_wave4_operators_scan_counts(spark):
    """Rescan audit for the wave-4 operators.  text_readability /
    io_zorder / events_rfm are single-scan narrow/agg plans (rfm's
    boundary CDFs read the PINNED per-user frame, not the events);
    corpus_dedup_report reads the corpus once for tokens plus the
    pinned minhash signature lineage (2); dedup_minhash_eval reads
    the sampled corpus for postings plus the pinned signature pass
    (2)."""
    expect = {"text_readability": 1, "io_zorder": 1, "events_rfm": 1,
              "corpus_dedup_report": 2, "dedup_minhash_eval": 2,
              "events_histogram": 1, "corpus_weighted_sample": 1,
              "corpus_interleave": 1, "corpus_span_corruption": 1,
              "corpus_fim": 1, "text_quality_calibration": 2,
              "dedup_threshold_sweep": 2, "events_funnel_windowed": 1,
              "events_cohort_ltv": 1, "events_markov_stationary": 1,
              "embed_group_drift": 1, "embed_outliers": 1}
    for name, want in expect.items():
        df = entrymod.queries()[name](spark, SF)
        p = _plan(df)
        scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
        assert len(scans) <= want, (name, scans)
        release_caches()


def test_rowgroup_audit_prunes_content(spark, tmp_path):
    """The layout audit must list files WITHOUT reading them: the
    binaryFile scan's ReadSchema must carry only the path column —
    pulling `content` would read every byte of a 100 TB dataset just
    to audit its footers."""
    from nifi_datasynthesizer_spark import io as nio
    spark.range(10).write.mode("overwrite") \
        .parquet(str(tmp_path / "t"))
    df = nio.rowgroup_audit(spark, str(tmp_path), target_rows=100)
    p = _plan(df)
    seg = p.split("Scan binaryFile", 1)
    assert len(seg) == 2, "no binaryFile scan in plan"
    rs = seg[1].split("ReadSchema", 1)[1].splitlines()[0]
    assert "path:string" in rs
    assert "content" not in rs


def test_r8_operators_scan_counts(spark):
    """Rescan audit for the r8 entries.  ann_ivf_derived and
    ann_ivf_arrow: the Arrow assignment folds into the corpus pass and
    the probe side reads the collected centroid rows, so the corpus
    and query scans are all (2); dedup_embedding_derived reads the corpus once
    into the pinned bucketed frame plus the r9 planted-pair branch —
    a SECOND scan whose vec_id < 10 filter is pushed to parquet, so
    it reads 10 rows regardless of corpus size (2 total; the
    candidate join and both payload re-attaches reuse the pin);
    exchanges stay bounded (per-query top-k windows and the bucket
    join — never a second corpus-sized shuffle)."""
    expect = {"ann_ivf_derived": (2, 3), "ann_ivf_arrow": (2, 3),
              "dedup_embedding_derived": (2, 1)}
    for name, (want_scans, want_exch) in expect.items():
        df = entrymod.queries()[name](spark, SF)
        p = _plan(df)
        scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
        exch = [ln for ln in p.splitlines() if ") Exchange" in ln]
        assert len(scans) <= want_scans, (name, scans)
        assert len(exch) <= want_exch, (name, exch)
        release_caches()


def test_r9_operators_plan_audit(spark):
    """Plan audit for the r9 entries.  ann_range_search: queries ride
    a BroadcastNestedLoopJoin and the corpus is never shuffled (no
    Exchange at all — range search has no per-query top-k window).
    io_column_stats: ONE parquet scan feeds every per-column
    aggregate (the expand-based exact distincts shuffle partials, not
    the corpus).  text_boilerplate: bigram extraction is whole-array
    collection functions — no per-element LambdaFunction in the plan
    (the interpreted-HOF trap measured 20× here)."""
    q = entrymod.queries()

    p = _plan(q["ann_range_search"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    body = p.split("== Physical Plan ==")[-1]
    assert ") Exchange" not in body or "rangepartitioning" in body.lower()

    p = _plan(q["io_column_stats"](spark, SF))
    scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
    assert len(scans) == 1, scans

    p = _plan(q["text_boilerplate"](spark, SF))
    assert "lambdafunction" not in p.lower(), "interpreted HOF crept back"

    # the planted branch of the embedding-dedup entries reads 10 rows
    # regardless of corpus size: its vec_id filter reaches parquet
    p = _plan(q["dedup_embedding"](spark, SF))
    assert "PushedFilters: [IsNotNull(vec_id), LessThan(vec_id,10)]" in p \
        or "LessThan(vec_id,10)" in p, "planted-branch filter not pushed"


def test_r10_operators_plan_audit(spark):
    """Plan audit for the r10 entries (r10 verdict item #1 — the
    audits were done live; this pins them against regression).
    q4: the EXISTS subquery must stay a broadcast LEFT SEMI join with
    both range/equality predicates pushed to parquet and the lineitem
    scan reading exactly its 2 join/filter columns.  Sketch column
    stats: ZERO Expand (the exact twin keeps its Expand — the
    contrast is the point of the sketch mode).  dedup_substring: the
    stride-1 window extraction is whole-array collection functions —
    no interpreted LambdaFunction anywhere (the measured 20× trap);
    the strip twin keeps one scan (its only lambdas are the per-doc
    final rebuild: array_sort comparator + transform over ALREADY
    COLLECTED kept words — tiny per-doc arrays, accepted).
    events_ab_srm: window-over-k-rows totals keep the whole guardrail
    at <= 4 exchanges (measured 3; was 30 before the r10 fix).
    graph_jaccard / text_ngram_lm: the pinned frames actually serve
    the multi-use plans — InMemoryTableScan present, ONE parquet scan
    of the corpus, exchange counts bounded (the unpinned regression
    re-ran the whole upstream pipeline 3x)."""
    q = entrymod.queries()

    p = _plan(q["q4_order_priority"](spark, SF))
    assert "LeftSemi" in p and "BroadcastHashJoin" in p
    pf = p.split("PushedFilters", 2)
    assert len(pf) == 3, "expected two pushed-filter scans"
    both = pf[1] + pf[2]
    assert "GreaterThanOrEqual(o_orderdate" in both
    assert "LessThan(o_orderdate" in both
    assert "EqualTo(l_returnflag,R)" in both
    li_rs = [ln.split("ReadSchema:", 1)[1] for ln in p.splitlines()
             if "ReadSchema" in ln and "l_orderkey" in ln]
    assert li_rs and li_rs[0].count(":") == 2, li_rs  # exactly 2 cols

    p = _plan(q["io_column_stats_sketch"](spark, SF))
    assert "Expand" not in p, "sketch mode regrew an Expand"
    p = _plan(q["io_column_stats"](spark, SF))
    assert "Expand" in p  # the exact twin's honest cost, for contrast

    p = _plan(q["dedup_substring"](spark, SF))
    assert "lambdafunction" not in p.lower(), "interpreted HOF crept in"
    scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
    assert len(scans) == 1, scans

    p = _plan(q["dedup_substring_strip"](spark, SF))
    scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
    assert len(scans) == 1, scans
    release_caches()

    p = _plan(q["events_ab_srm"](spark, SF))
    exch = [ln for ln in p.splitlines() if ") Exchange" in ln]
    assert len(exch) <= 4, exch

    p = _plan(q["graph_jaccard"](spark, SF))
    scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
    exch = [ln for ln in p.splitlines() if ") Exchange" in ln]
    assert len(scans) <= 1 and "InMemoryTableScan" in p, scans
    assert len(exch) <= 16, exch
    release_caches()

    p = _plan(q["text_ngram_lm"](spark, SF))
    scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
    exch = [ln for ln in p.splitlines() if ") Exchange" in ln]
    assert len(scans) <= 1 and "InMemoryTableScan" in p, scans
    assert len(exch) <= 8, exch
    release_caches()


def test_r11_operators_plan_audit(spark):
    """Plan audit for the r11 entries, pinned at birth.  q10: ONE
    exchange total (revenue aggregates on o_custkey BEFORE any
    customer join, dims broadcast, both filters pushed, lineitem
    reads its 4 working columns).  q18: a single lineitem scan (the
    HAVING aggregate is the payload — no second scan), broadcast
    customer, bounded top-100 sort.  q14: broadcast part, month range
    pushed, one 1-row aggregate exchange.  dedup_substring_max: the
    variable-length window extraction stays whole-array (slice with a
    column start — no interpreted LambdaFunction), one corpus scan
    over the pinned tokenized frame.  corpus_stats_sketch: ZERO
    Expand (histogram-CDF + HLL registers, not exact percentiles),
    one pinned corpus scan.  sketch_audience_overlap: the only
    corpus-sized work is one events scan into the pinned k-row
    sketches."""
    q = entrymod.queries()

    p = _plan(q["q10_returned_customers"](spark, SF))
    assert "BroadcastHashJoin" in p
    exch = [ln for ln in p.splitlines() if ") Exchange" in ln]
    assert len(exch) <= 2, exch
    assert "EqualTo(l_returnflag,R)" in p
    assert "GreaterThanOrEqual(o_orderdate" in p
    li_rs = [ln for ln in p.splitlines()
             if "ReadSchema" in ln and "l_orderkey" in ln]
    assert li_rs and li_rs[0].count(":") <= 5, li_rs   # 4 cols + label

    p = _plan(q["q18_large_orders"](spark, SF))
    scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
    assert len(scans) <= 3, scans           # lineitem once + 2 dims
    li_rs = [ln for ln in p.splitlines()
             if "ReadSchema" in ln and "l_quantity" in ln]
    assert len(li_rs) == 1, li_rs           # lineitem scanned ONCE
    assert "BroadcastHashJoin" in p and "TakeOrderedAndProject" in p

    p = _plan(q["q14_promo_revenue"](spark, SF))
    assert "BroadcastHashJoin" in p
    exch = [ln for ln in p.splitlines() if ") Exchange" in ln]
    assert len(exch) <= 2, exch
    assert "GreaterThanOrEqual(l_shipdate" in p

    p = _plan(q["dedup_substring_max"](spark, SF))
    assert "lambdafunction" not in p.lower(), "interpreted HOF crept in"
    scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
    assert len(scans) <= 1 and "InMemoryTableScan" in p, scans
    release_caches()

    p = _plan(q["corpus_stats_sketch"](spark, SF))
    assert "Expand" not in p, "sketch corpus stats regrew an Expand"
    scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
    assert len(scans) <= 1 and "InMemoryTableScan" in p, scans
    release_caches()

    p = _plan(q["sketch_audience_overlap"](spark, SF))
    scans = [ln for ln in p.splitlines() if ") Scan parquet" in ln]
    assert len(scans) <= 1 and "InMemoryTableScan" in p, scans
    release_caches()


def test_r11opt_knn_graph_single_pass(spark):
    """r11 optimization regression: embed_knn_graph builds its
    directed edge set by EXPLODING each half-space pair into both
    directions — the union-of-projections form referenced the bucket
    self-join twice, and Catalyst does not dedupe repeated
    non-identical subtrees, so the join (the expensive stage) executed
    once per branch.  A Union reappearing in this plan means the
    double-execution shape is back.  The pinned edge frame
    (InMemoryTableScan) is what keeps the mutual-flag self-join from
    replaying the bucket-join + top-k window chain per side."""
    p = _plan(entrymod.queries()["embed_knn_graph"](spark, SF))
    assert "Union" not in p, "union-of-projections crept back"
    assert "InMemoryTableScan" in p
    release_caches()


def test_knn_graph_dot_takes_unrolled_path(spark):
    """embed_knn_graph's pair loop scores cosines with similarity.dot
    over plain column names, so the unrolled EMBED_DIM-term sum (whole-
    stage codegen) is in the plan.  An alias-qualified name ("l.v")
    fails dot's identifier gate and silently demotes the loop to the
    interpreted zip_with/aggregate fold."""
    import re

    p = _plan(entrymod.queries()["embed_knn_graph"](spark, SF), "extended")
    release_caches()
    assert re.search(r"va#\d+\[63\] \* vb#\d+\[63\]", p), \
        "knn_graph's dot lost the unrolled fast path"


def test_r11opt_column_stats_sketch_flat_construction(spark):
    """r11 optimization regression: sketch-mode column_stats builds
    its m·#cols register aggregates as ONE selectExpr batch and its
    four estimate-derivation levels as ONE select each.  The prior
    form (a Column object per register aggregate + a withColumn per
    derived column) spent ~2.5 s of driver-side construction per call
    at 4 cols x m=64 — py4j round-trips plus re-analysis of the
    growing ~270-column plan — which recurred on EVERY run (the
    codegen cache cannot help: it is construction, not compilation).
    The depth of the analyzed Project chain is the tripwire: the
    withColumn form nests 4·#cols+ Projects, the batched form at most
    a handful."""
    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark.io import column_stats, read_table

    ev = read_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    df = column_stats(ev, ["event_id", "user_id", "event_type", "cents"],
                      ndv_mode="sketch")
    # walk the analyzed logical plan: successive Project depth must
    # stay O(levels), not O(levels·#cols)
    node = df._jdf.queryExecution().analyzed()
    depth = 0
    while node.children().size() > 0:
        if node.nodeName() == "Project":
            depth += 1
        node = node.children().head()
    # batched form measures 9 (4 levels + stack + hash/bin selects +
    # read projections); the withColumn-per-column form measures ~21
    assert depth <= 12, (
        f"Project chain depth {depth}: withColumn-per-column "
        f"construction crept back")
    # the audited zero-Expand register shape is unchanged
    p = _plan(df)
    assert "Expand" not in p


def test_warm_entry_build_runs_no_job(spark):
    """Building a registry entry again reads its tables through the
    per-session schema memo: no schema-inference job while building
    (q5_nation_revenue reads five tables; the other two read one)."""
    q = entrymod.queries()
    names = ("q5_nation_revenue", "events_sessionize", "dedup_minhash")
    for name in names:
        q[name](spark, SF)
    with job_group(spark, "warm-build") as ids:
        for name in names:
            before = ids()
            q[name](spark, SF)
            assert ids() == before, f"{name}: build ran a job"


def test_kmeans_and_pq_build_jobs(spark):
    """Building k-means or PQ runs no vector-width probe: the first-k
    init collect gives the width.  What is left is the fit sample's
    pinning count (three jobs under AQE), the init collect and one job
    per Lloyd round, so 6 for both builds below; a seventh means a
    width probe or a second init collect came back."""
    from nifi_datasynthesizer_spark.operators import clustering as CL
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    builds = {
        "cluster_embeddings": lambda: CL.cluster_embeddings(
            emb, k=8, iters=2, fit_mod=2),
        "pq_encode": lambda: CL.pq_encode(emb, m=16, k=16, iters=2,
                                          fit_mod=2),
    }
    for name, build in builds.items():
        build()                      # warm: schema reads and imports
        release_caches()
        with job_group(spark, f"build-{name}") as ids:
            build()
            assert len(ids()) == 6, (name, len(ids()))
        release_caches()


def test_ann_ivf_build_jobs(spark):
    """Building ann_ivf runs the corpus count (two jobs under AQE) and
    one bounded centroid collect, at a pinned and a derived cell count
    alike; a fourth job means a second centroid read came back."""
    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark.operators import similarity as SIM
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    for cells in (16, None):
        def build():
            return SIM.ann_ivf(emb, queries, k=10, n_centroids=cells)
        build()                      # warm: schema reads and imports
        with job_group(spark, f"build-ann_ivf-{cells}") as ids:
            build()
            assert len(ids()) == 3, (cells, len(ids()))


def test_session_turns_off_call_site_capture(spark):
    """get_spark() turns off PySpark's per-op call-site capture; a
    runtime error still raises with its class and error condition (it
    only loses the Python "DataFrame context" lines)."""
    import pytest
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            spark.range(1).select(F.lit(1) / F.col("id")).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
