"""Operator behavior tests with planted ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nifi_datasynthesizer_spark import cache as CA
from nifi_datasynthesizer_spark.cache import release_caches
from nifi_datasynthesizer_spark.operators import dedup as DD
from nifi_datasynthesizer_spark.operators import multimodal as MM
from nifi_datasynthesizer_spark.operators import similarity as SIM
from nifi_datasynthesizer_spark.operators import text as TX
from nifi_datasynthesizer_spark import synthesizers as SZ
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def planted_docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight with great speed and joy")
    near = base.replace("great speed", "high speed")      # near-dup of 0
    rows = [
        (0, base), (1, base.upper()),                     # exact dups (normalized)
        (2, near),                                        # near-dup
        (3, "completely different text about databases and query engines "
            "optimizers shuffles partitions and broadcast joins at scale"),
        (4, "el gato y el perro que viven en la casa de una familia"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_planted(planted_docs):
    out = DD.dedup_exact(planted_docs).collect()
    assert len(out) == 1
    assert out[0].n_dups == 2 and out[0].keeper_doc_id == 0


def test_dedup_minhash_planted(planted_docs):
    # 32 bands × 2 rows: collision prob ≈ 1-(1-j²)³² — near-certain at j≈0.6
    pairs = {(r.a, r.b) for r in
             DD.dedup_minhash(planted_docs, bands=32,
                              jaccard_threshold=0.3).collect()}
    assert (0, 1) in pairs          # exact dup always survives
    assert (0, 2) in pairs or (1, 2) in pairs  # near-dup found
    assert all(3 not in p and 4 not in p for p in pairs)


def test_dedup_simhash_planted(planted_docs):
    pairs = {(r.a, r.b) for r in
             DD.dedup_simhash(planted_docs, hamming_max=6).collect()}
    assert (0, 1) in pairs
    assert all(3 not in p for p in pairs)


def test_ngram_jaccard_planted(planted_docs):
    out = {(r.a, r.b): r.jaccard for r in
           DD.ngram_jaccard_pairs(planted_docs, n=3, threshold=0.3).collect()}
    assert out.get((0, 1)) == 1.0
    assert 0.5 < out.get((0, 2), 0) < 1.0


def test_fuzzy_pairs_planted(planted_docs):
    out = {(r.a, r.b): (r.lev, r.dist_ppm) for r in
           DD.fuzzy_pairs(planted_docs, max_dist_ppm=300_000).collect()}
    # exact dup after normalization: distance 0
    assert out.get((0, 1)) == (0, 0)
    # "great speed" -> "high speed": 5 char edits, well under 30%
    lev, ppm = out.get((0, 2), (None, None))
    assert lev == 5 and 0 < ppm < 100_000
    # unrelated docs never pair (different block or over threshold)
    assert all(3 not in p and 4 not in p for p in out)


def test_fuzzy_pairs_band_boundary(spark):
    """Lengths straddling a length-band boundary (15 vs 17 with
    band=16 → bands 0 and 1) must still pair via the neighbor-band
    explode — the boundary-recall hole the exact-band join had."""
    rows = [(0, "alpha beta ga"),         # normalized length 13 → band 0
            (1, "alpha beta ga xx zz")]   # normalized length 19 → band 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.a, r.b) for r in
           DD.fuzzy_pairs(docs, max_dist_ppm=500_000).collect()}
    assert (0, 1) in out


def test_fuzzy_pairs_hot_block_capped(spark):
    """A block whose membership exceeds max_block is dropped whole —
    the linear-candidate guarantee at scale.  Docs in small blocks
    still pair; docs in the hot block produce zero pairs."""
    hot = [(i, f"template doc number {i:04d}") for i in range(10)]
    cool = [(100, "rare unique sentence here"),
            (101, "rare unique sentence here")]
    docs = spark.createDataFrame(hot + cool, ["doc_id", "text"])
    out = {(r.a, r.b) for r in
           DD.fuzzy_pairs(docs, max_dist_ppm=500_000,
                          max_block=4).collect()}
    assert (100, 101) in out
    assert all(a >= 100 and b >= 100 for a, b in out), out
    # and with the cap off, the hot block pairs again
    uncapped = {(r.a, r.b) for r in
                DD.fuzzy_pairs(docs, max_dist_ppm=500_000,
                               max_block=None).collect()}
    assert any(a < 100 for a, _ in uncapped)


def test_simhash_bucket_cap(spark):
    """The r7 max_bucket cap drops degenerate simhash buckets whole
    (identical fingerprints concentrate the FIXED 4x2^15 band space,
    so the within-bucket join goes quadratic without it).  Docs in
    small buckets still pair; the hot bucket produces zero pairs."""
    hot = [(i, "the exact same boilerplate text repeated endlessly")
           for i in range(50)]
    cool = [(100, "rare unique sentence here"),
            (101, "rare unique sentence here")]
    docs = spark.createDataFrame(hot + cool, "doc_id long, text string")
    capped = {(r.a, r.b) for r in
              DD.dedup_simhash(docs, hamming_max=3,
                               max_bucket=10).collect()}
    assert capped == {(100, 101)}
    uncapped = {(r.a, r.b) for r in
                DD.dedup_simhash(docs, hamming_max=3,
                                 max_bucket=None).collect()}
    assert len(uncapped) == 50 * 49 // 2 + 1  # quadratic without the cap


def test_ngram_jaccard_hot_block_capped(spark):
    """ngram_jaccard_pairs' max_block drops over-populated (length x
    token-band) blocks whole — the linear-candidate guarantee the r7
    scale study added alongside the corpus-scaled band count."""
    hot = [(i, "common prefix words shared by every template document")
           for i in range(40)]
    cool = [(100, "rare unique sentence occurs here twice exactly"),
            (101, "rare unique sentence occurs here twice exactly")]
    docs = spark.createDataFrame(hot + cool, "doc_id long, text string")
    capped = {(r.a, r.b) for r in
              DD.ngram_jaccard_pairs(docs, n=3, threshold=0.3,
                                     max_block=8).collect()}
    assert capped == {(100, 101)}
    uncapped = {(r.a, r.b) for r in
                DD.ngram_jaccard_pairs(docs, n=3, threshold=0.3,
                                       max_block=None).collect()}
    assert len(uncapped) == 40 * 39 // 2 + 1


def test_fuzzy_pairs_levenshtein_matches_duckdb(spark):
    """Spark's levenshtein and DuckDB's must agree cell-for-cell —
    the oracle contract for dedup_fuzzy."""
    import duckdb
    cases = [("kitten", "sitting"), ("", "abc"), ("same", "same"),
             ("ab cd ef", "ba dc fe"), ("aaaa", "aa")]
    df = spark.createDataFrame(cases, ["x", "y"]) \
        .select(F.levenshtein("x", "y").alias("d")).collect()
    got = [r.d for r in df]
    want = [duckdb.sql(f"select levenshtein('{x}', '{y}')").fetchone()[0]
            for x, y in cases]
    assert got == want


def test_pq_search_planted(spark):
    from nifi_datasynthesizer_spark.operators.clustering import pq_search
    # 2 tight clusters in 4-d; query 0's nearest by ADC must be its
    # cluster-mates, and exact-duplicate vectors get adc_q == 0's
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]), (4, [0.0, 0.0, 0.9, 0.1])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {r.rank: (r.cand_id, r.adc_q) for r in
           pq_search(emb, emb.filter("vec_id = 0"), k_top=4,
                     m=2, k=2, iters=1).collect()}
    assert got[1][0] == 1 and got[1][1] == 0   # identical vector first
    assert got[2][0] == 2                       # then the near one
    assert set(got[r][0] for r in (3, 4)) == {3, 4}
    # k above the row count trains fewer centroids (every row is one),
    # so every code is exact and ADC equals the exact distance
    import math
    xq = {i: [math.floor(v * 1_000_000) for v in e] for i, e in rows}
    few = pq_search(emb, emb.filter("vec_id = 0"), k_top=4,
                    m=2, k=8, iters=1).collect()
    assert len(few) == 4
    assert all(r.adc_q == sum((a - b) ** 2
                              for a, b in zip(xq[0], xq[r.cand_id]))
               for r in few)


def test_bpe_merges_planted(spark):
    from nifi_datasynthesizer_spark.operators.curation import bpe_merges
    docs = spark.createDataFrame(
        [(0, "aab aab aab ab cd"), (1, "aab ab xy")],
        ["doc_id", "text"])
    rows = bpe_merges(docs, rounds=2).collect()
    # 'ab' appears in every aab (greedy-leftmost: a|ab after merging
    # at position 2? no — leftmost pair scan: (a,a) x4, (a,b) x6
    r1 = rows[0]
    assert (r1["left"], r1["right"]) == ("a", "b") and r1.pair_n == 6
    # round 2 operates on re-segmented words: aab -> [a, ab]
    r2 = rows[1]
    assert (r2["left"], r2["right"]) == ("a", "ab") and r2.pair_n == 4
    # symbol totals strictly decrease as merges apply
    assert r1.corpus_symbols > r2.corpus_symbols


def test_bpe_greedy_leftmost_overlap(spark):
    from nifi_datasynthesizer_spark.operators.curation import bpe_merges
    # 'aaa': pairs (a,a) x2 counted, but greedy-leftmost merge yields
    # [aa, a] (3 symbols -> 2), never [a, aa] or a double-merge
    docs = spark.createDataFrame([(0, "aaa aaa")], ["doc_id", "text"])
    rows = bpe_merges(docs, rounds=1).collect()
    assert (rows[0]["left"], rows[0]["right"]) == ("a", "a")
    assert rows[0].pair_n == 4          # 2 per word x 2 words
    assert rows[0].corpus_symbols == 4  # [aa, a] x 2 words


def test_triangles_matches_bruteforce_random(spark):
    """Degree-ordered enumeration equals brute force on a seeded
    random graph (the orientation math is easy to get subtly wrong)."""
    import itertools
    import random
    from nifi_datasynthesizer_spark.operators.graph import triangles
    rnd = random.Random(7)
    nodes = list(range(30))
    edges = sorted({tuple(sorted(rnd.sample(nodes, 2)))
                    for _ in range(120)})
    eset = set(edges)
    want = {(a, b, c) for a, b, c in itertools.combinations(nodes, 3)
            if (a, b) in eset and (b, c) in eset and (a, c) in eset}
    pairs = spark.createDataFrame(edges, ["a", "b"])
    got = {(r.a, r.b, r.c) for r in triangles(pairs).collect()}
    assert got == want


def test_bloom_never_misses_random(spark):
    """Property: every true member passes the bloom for several
    (m_bits, k_hashes) shapes and key sets."""
    from nifi_datasynthesizer_spark.operators.sketches import \
        bloom_semi_join_stats
    import random
    rnd = random.Random(3)
    for m_bits, kh in ((512, 3), (1024, 5), (4096, 7)):
        keys = sorted(rnd.sample(range(100_000), 40))
        kdf = spark.createDataFrame([(k,) for k in keys], ["k"])
        fact = spark.createDataFrame(
            [(k, "g") for k in keys + list(range(200, 260))],
            ["fk", "grp"])
        out = bloom_semi_join_stats(fact, kdf, "fk", "k", "grp",
                                    m_bits=m_bits, k_hashes=kh).collect()[0]
        assert out.n_false_neg == 0, (m_bits, kh)
        assert out.n_exact == 40


def test_ivfpq_search_planted(spark):
    from nifi_datasynthesizer_spark.operators.clustering import ivfpq_search
    # two far clusters; probing 1 of 2 cells must return only the
    # query's own cluster-mates, nearest (identical vector) first
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 0.0, 1.0, 0.0]), (4, [0.0, 0.0, 0.9, 0.1])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = [(r.rank, r.cand_id, r.adc_q) for r in
           ivfpq_search(emb, emb.filter("vec_id = 0"), k_top=4,
                        n_cells=2, n_probe=1, m=2, k=2,
                        iters=1).collect()]
    cands = {c for _, c, _ in got}
    assert got[0][1] == 1 and got[0][2] == 0
    assert cands <= {1, 2}          # far cell never scored
    assert 3 not in cands and 4 not in cands


def test_transition_matrix_planted(spark):
    from nifi_datasynthesizer_spark.operators.temporal import \
        transition_matrix
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, u, t0 + dt.timedelta(minutes=i), s)
            for i, (u, s) in enumerate([
                (1, "view"), (1, "view"), (1, "buy"),
                (2, "view"), (2, "buy"), (2, "view")])]
    ev = spark.createDataFrame(rows, ["event_id", "user_id", "ts",
                                      "event_type"])
    got = {(r.src, r.dst): (r.n, r.p_ppm)
           for r in transition_matrix(ev).collect()}
    # user1: view->view, view->buy; user2: view->buy, buy->view
    assert got[("view", "view")] == (1, 333333)
    assert got[("view", "buy")] == (2, 666666)
    assert got[("buy", "view")] == (1, 1_000_000)
    assert ("buy", "buy") not in got


def test_geo_near_pairs_planted(spark):
    from nifi_datasynthesizer_spark.operators.geo import near_pairs
    # ~0.01 deg apart (same cell or neighbors) vs a far point; pair
    # (0,1) straddles a cell boundary at radius 50000 udeg
    rows = [(0, 40.0000, -100.0000), (1, 40.0400, -100.0000),
            (2, 40.0001, -100.0001), (3, 45.0, -80.0)]
    pts = spark.createDataFrame(rows, ["pid", "lat", "lon"])
    got = {(r.a, r.b): r.dist2_udeg
           for r in near_pairs(pts, radius_udeg=50_000).collect()}
    assert (0, 2) in got and got[(0, 2)] < 50_000 ** 2
    assert (0, 1) in got          # cross-cell neighbor found
    assert all(3 not in p for p in got)
    # longitude compression: 1 udeg of lon at 40N counts ~cos(40)
    assert got[(0, 1)] == (40_000) ** 2 + 0  # pure-latitude pair


def test_oov_rate_planted(spark):
    docs = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the cat sat"), (2, "the cat sat"),
         (3, "zyx wvu the")],
        ["doc_id", "text"])
    # vocab_size=3 -> {the, cat, sat}; doc 3 has 2 OOV of 3 tokens
    out = {r.doc_id: r for r in TX.oov_rate(docs, vocab_size=3).collect()}
    assert out[0].n_oov == 0 and out[0].oov_ppm == 0
    assert out[3].n_oov == 2 and out[3].oov_ppm == 666666


def test_classify_score_shape(planted_docs):
    out = {r.doc_id: r for r in TX.classify_score(planted_docs).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    for r in out.values():
        assert 0 <= r.score_ppm <= 1_000_000
        assert abs(r.dot_q) <= 1000 * r.n_tokens
    # same normalized text -> identical features and score
    assert out[0].score_ppm == out[1].score_ppm


def test_pq_encode_planted(spark):
    from nifi_datasynthesizer_spark.operators.clustering import pq_encode
    # 4 vectors, 2 subspaces of 2 dims; k=2, init = first 2 vectors.
    # Vectors 2/3 repeat vectors 0/1 exactly -> same codes, dist 0.
    rows = [(0, [1.0, 0.0, 0.0, 1.0]), (1, [0.0, 1.0, 1.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 1.0]), (3, [0.0, 1.0, 1.0, 0.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: (r.pq_code, r.dist_q)
           for r in pq_encode(emb, m=2, k=2, iters=1).collect()}
    assert out[0] == out[2] and out[1] == out[3]
    assert out[0][1] == 0 and out[1][1] == 0
    assert out[0][0] != out[1][0]
    assert len(out[0][0].split(",")) == 2


def test_fm_rollup_merge_equals_direct(spark):
    """MAX-merging daily registers must give the SAME estimate as
    sketching the whole group directly — the mergeability contract."""
    from nifi_datasynthesizer_spark.operators.sketches import (
        fm_distinct, fm_distinct_rollup)
    import datetime as dt
    rows = [(f"t{i % 3}", i % 40,
             dt.datetime(2024, 1, 1 + (i % 5), 12, 0, 0))
            for i in range(400)]
    df = spark.createDataFrame(rows, ["event_type", "user_id", "ts"])
    direct = {r.event_type: r.est_distinct
              for r in fm_distinct(df, "event_type", "user_id").collect()}
    rolled = fm_distinct_rollup(df, "event_type", "user_id").collect()
    merged = {r.event_type: r.est_distinct
              for r in rolled if r.scope == "group"}
    assert merged == direct
    exact = {r.event_type: r.exact_distinct
             for r in rolled if r.scope == "group"}
    assert all(v == 40 for v in exact.values())


def test_sample_k_per_group(spark):
    from nifi_datasynthesizer_spark.operators.curation import \
        sample_k_per_group
    rows = [(i, f"s{i % 4}") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = sample_k_per_group(df, k=3, group_col="source").collect()
    per = {}
    for r in out:
        per.setdefault(r.source, []).append(r.samp_rank)
    assert set(per) == {"s0", "s1", "s2", "s3"}
    assert all(sorted(v) == [1, 2, 3] for v in per.values())
    # deterministic under re-run
    again = sample_k_per_group(df, k=3, group_col="source").collect()
    assert {(r.doc_id, r.samp_rank) for r in again} == \
        {(r.doc_id, r.samp_rank) for r in out}


def test_semantic_dedup_planted(spark):
    from nifi_datasynthesizer_spark.operators.clustering import semantic_dedup
    # two tight clusters far apart; 0/1 near-identical, 4/5 identical
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.999, 0.02, 0.0, 0.0]),
            (2, [0.7, 0.7, 0.1, 0.0]),
            (4, [0.0, 0.0, 1.0, 0.0]), (5, [0.0, 0.0, 1.0, 0.0]),
            (6, [0.0, 0.1, 0.7, 0.7])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {(r.a, r.b) for r in
           semantic_dedup(emb, k=2, iters=2, threshold=0.95).collect()}
    assert (0, 1) in got and (4, 5) in got
    # cross-cluster pairs are never compared, let alone returned
    assert all({a, b} <= {0, 1, 2} or {a, b} <= {4, 5, 6} for a, b in got)


def test_bloom_semi_join_planted(spark):
    from nifi_datasynthesizer_spark.operators.sketches import (
        bloom_build, bloom_semi_join_stats)
    keys = spark.createDataFrame([(i,) for i in range(50)], ["k"])
    fact = spark.createDataFrame(
        [(i, "g") for i in range(200)], ["fk", "grp"])
    out = bloom_semi_join_stats(fact, keys, "fk", "k", "grp").collect()[0]
    assert out.n_rows == 200 and out.n_exact == 50
    # no false negatives ever; pass count sits between exact and total
    assert out.n_false_neg == 0
    assert 50 <= out.n_bloom_pass <= 200
    # bitmap is bounded and 32-bit packed (every word non-negative)
    bm = bloom_build(keys, "k", m_bits=1024, k_hashes=3)
    assert len(bm) == 32 and all(0 <= w < (1 << 32) for w in bm)


def test_triangles_planted(spark):
    from nifi_datasynthesizer_spark.operators.graph import triangles
    # K4 on {0,1,2,3} minus edge (2,3), plus a pendant (3,4):
    # triangles are exactly {0,1,2} and {0,1,3}
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (3, 4)], ["a", "b"])
    got = {(r.a, r.b, r.c) for r in triangles(pairs).collect()}
    assert got == {(0, 1, 2), (0, 1, 3)}
    # orientation must not double-count a clique: K3 -> exactly 1 row
    k3 = spark.createDataFrame([(7, 8), (8, 9), (7, 9)], ["a", "b"])
    assert triangles(k3).count() == 1


def test_lang_id(planted_docs):
    out = {r.doc_id: r.pred_lang for r in TX.lang_id(planted_docs).collect()}
    assert out[0] == "en" and out[4] == "es"


def test_embedding_ops(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.999, 0.04, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    dups = {(r.a, r.b) for r in DD.dedup_embedding(
        emb, threshold=0.95, bucket_bits=2).collect()}
    assert (0, 1) in dups and (2, 3) not in dups

    knn = SIM.ann_bruteforce(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r.cand_id for r in knn] == [1, 2] or [r.cand_id for r in knn][0] == 1


def test_salted_join_equals_plain(spark):
    from nifi_datasynthesizer_spark.operators.skew import salted_join
    fact = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(200)],
        "fid long, k string, v double")
    dim = spark.createDataFrame([("hot", 1), ("cold", 2)], "k string, attr long")
    plain = {(r.fid, r.attr) for r in fact.join(dim, "k").collect()}
    salted = {(r.fid, r.attr)
              for r in salted_join(fact, dim, key="k", salt_col="fid",
                                   salt=4, force_shuffle=True).collect()}
    assert salted == plain
    # the whole point: the shuffle join key includes the salt
    p = salted_join(fact, dim, key="k", salt_col="fid", salt=4,
                    force_shuffle=True)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "__salt" in p and ("ShuffledHashJoin" in p or "SortMergeJoin" in p)


def test_asof_join_planted(spark):
    from nifi_datasynthesizer_spark.operators.temporal import asof_join
    ev = spark.createDataFrame(
        [("u1", 1, 100), ("u1", 2, 205), ("u1", 3, 300), ("u2", 4, 150)],
        "k string, event_id long, t long")
    snap = spark.createDataFrame(
        [("u1", 200, 10.0), ("u1", 300, 20.0), ("u2", 500, 9.0)],
        "k string, t long, bal double")
    out = {r.event_id: r.bal_asof
           for r in asof_join(ev, snap, on="k", ts="t").collect()}
    assert out[1] is None          # no snapshot at or before t=100
    assert out[2] == 10.0          # t=205 sees the t=200 snapshot
    assert out[3] == 20.0          # same-instant snapshot is visible
    assert out[4] is None          # u2's snapshot is in the future


def test_range_join_planted(spark):
    from nifi_datasynthesizer_spark.operators.temporal import range_join
    pts = spark.createDataFrame(
        [(1, 5), (2, 25), (3, 99), (4, 100)], "pid long, t long")
    ivs = spark.createDataFrame(
        [(100, 0, 100), (200, 20, 30)], "iid long, s long, e long")
    out = {(r.pid, r.iid)
           for r in range_join(pts, ivs, ts="t", start="s", end="e",
                               bucket_width=10).collect()}
    # interval [0,100) spans 10 buckets; [20,30) exactly one
    assert out == {(1, 100), (2, 100), (2, 200), (3, 100)}
    # t=100 excluded (end-exclusive), iid 200 catches only t=25


def test_dup_groups_transitive(spark):
    # chain 1-2-3 plus pair 10-11: components {1,2,3}→1, {10,11}→10
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (10, 11, 0.7)], ["a", "b", "est_jaccard"])
    out = {r.doc_id: r.group_id for r in DD.dup_groups(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dup_groups_one_action_per_round(spark, monkeypatch):
    """Every round's convergence signature rides that round's own
    localCheckpoint (DataFrame.observe): one SQL execution per lineage
    cut and no standalone collect, with the same components."""
    cuts = []
    real_cut = DD.cut

    def counting_cut(df):
        cuts.append(df)
        return real_cut(df)

    def no_collect(self):
        raise AssertionError("dup_groups ran a standalone collect")

    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (2, 3, 0.8), (3, 4, 0.8), (10, 11, 0.7)],
        ["a", "b", "est_jaccard"])
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = store.executionsCount()
    monkeypatch.setattr(DD, "cut", counting_cut)
    monkeypatch.setattr(type(pairs), "collect", no_collect)
    groups = DD.dup_groups(pairs)
    bus.waitUntilEmpty()
    n_execs = store.executionsCount() - before
    monkeypatch.undo()
    # initial labels plus one round per label change plus the fixpoint
    # round: the 1-2-3-4 chain needs 2 changing rounds
    assert len(cuts) == 4
    assert n_execs == len(cuts)
    out = {r.doc_id: r.group_id for r in groups.collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # no rows: the observed signature is (None, 0) and still arrives
    empty = spark.createDataFrame([], "a long, b long, est_jaccard double")
    assert DD.dup_groups(empty).collect() == []


def test_column_stats_rejects_leading_digit(spark):
    """The stack() identifier gate is the similarity one: a name with a
    leading digit is not an identifier and is rejected up front."""
    from nifi_datasynthesizer_spark.io import column_stats
    df = spark.createDataFrame([(1, 2)], "`1col` long, _c2 long")
    with pytest.raises(ValueError, match="identifier"):
        column_stats(df, ["1col"])
    assert column_stats(df, ["_c2"]).collect()[0].n_non_null == 1


def test_ann_ivf_centroid_collect_is_bounded(spark):
    """ann_ivf collects one centroid row per cell; a corpus with
    repeated vec_ids would ship more, so the collect is capped at
    k + 1 rows and fails loudly above k."""
    def vec(i):
        return [float(((i * 11 + j * 5) % 17) - 8) for j in range(8)]

    # vec_ids 0 and 20 are both centroid ids (stratified over 402 rows)
    # and appear twice
    rows = [(i, vec(i)) for i in range(400)] + [(0, vec(1)), (20, vec(2))]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qdf = emb.filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="vec_id is not unique"):
        SIM.ann_ivf(emb, qdf, k=5, n_centroids=20)


def test_stratified_centroid_ids():
    ids = SIM.stratified_centroid_ids(2000, 16)
    assert len(ids) == 16 and ids[0] == 0 and max(ids) < 2000
    assert ids == sorted(ids)
    # degenerate: corpus smaller than centroid count collapses dupes
    assert SIM.stratified_centroid_ids(3, 16) == [0, 1, 2]


def test_ann_ivf_derived_cells(spark):
    # n_centroids=None derives max(16, isqrt(n)): for this 400-row
    # corpus isqrt(400)=20, so the derived run must equal an explicit
    # n_centroids=20 run row-for-row (same cells, same probes), and a
    # tiny corpus (n<256) must fall back to the 16-cell floor.
    rows = [(i, [float((i * 7 + j * 13) % 10) for j in range(8)])
            for i in range(400)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qdf = emb.filter(F.col("vec_id") < 3)
    derived = sorted(map(tuple, SIM.ann_ivf(emb, qdf, k=5,
                                            n_centroids=None).collect()))
    pinned = sorted(map(tuple, SIM.ann_ivf(emb, qdf, k=5,
                                           n_centroids=20).collect()))
    assert derived == pinned and len(derived) == 15
    small = emb.filter(F.col("vec_id") < 100)
    floor = sorted(map(tuple, SIM.ann_ivf(small, qdf, k=5,
                                          n_centroids=None).collect()))
    floor16 = sorted(map(tuple, SIM.ann_ivf(small, qdf, k=5,
                                            n_centroids=16).collect()))
    assert floor == floor16


def test_ann_ivf_cells_match_duckdb(spark):
    # the Arrow cell assignment (rounded cosines, first max = smallest
    # cell) must reproduce the relational DuckDB mirror: same cells
    # probed, same top-k, on a corpus full of exact cosine ties
    import duckdb

    from nifi_datasynthesizer_spark.oracles import ann_ivf_sql
    rows = [(i, [float(((i * 11 + j * 5) % 17) - 8) for j in range(8)])
            for i in range(400)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qdf = emb.filter(F.col("vec_id") < 3)
    got = sorted(map(tuple, SIM.ann_ivf(emb, qdf, k=5,
                                        n_centroids=20).collect()))
    con = duckdb.connect()
    con.register("embeddings", emb.toPandas())
    want = sorted(con.sql(ann_ivf_sql(k=5, n_centroids=20,
                                      query_pred="vec_id < 3")).fetchall())
    assert got == want and len(got) == 15


def test_assign_matches_plain_python(spark):
    # the Arrow assignment must equal a plain-Python exact-int argmin:
    # Σ(a − b)² over micro-units and the first minimum (centroid 3
    # duplicates centroid 1: ties go to index 1)
    import math

    from nifi_datasynthesizer_spark.operators import clustering as CL
    rows = [(i, [float(((i * 13 + j * 7) % 21) - 10) / 3 for j in range(8)])
            for i in range(300)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    quant = emb.select("vec_id", CL._quantize(F.col("embedding")).alias("xi"))
    cents = [list(r.xi) for r in quant.orderBy("vec_id").limit(5).collect()]
    cents[3] = list(cents[1])
    xi = {r.vec_id: list(r.xi) for r in quant.collect()}
    want = []
    for v, x in xi.items():
        d = [sum((a - b) ** 2 for a, b in zip(x, c)) for c in cents]
        want.append((v, d.index(min(d)), min(d)))
    got = sorted((r.vec_id, r.cluster, r.dist_q)
                 for r in CL._assign(quant, cents).collect())
    assert got == sorted(want) and len(got) == 300
    assert not any(c == 3 for _, c, _ in got)   # dup centroid never wins
    # one training round through the same kernel: dup centroid 3 is
    # never chosen, so it keeps its value (the empty-cluster rule);
    # every other centroid is floor(sum / count) over the rows the
    # reference assigned to it
    (trained,) = CL._train_round_np(quant, [cents])
    assert trained[3] == cents[3]
    for j in (0, 1, 2, 4):
        members = [xi[v] for v, c, _ in want if c == j]
        assert members
        assert trained[j] == [math.floor(float(sum(col)) / len(members))
                              for col in zip(*members)]


@pytest.mark.parametrize("op", ["cluster_embeddings", "pq_encode",
                                "pq_search", "pq_rerank_search",
                                "ivfpq_search", "ivfpq_rerank_search"])
def test_empty_corpus_raises_naming_operator(spark, op):
    """Training on an empty corpus fails loudly at the first-k init,
    with the operator's name in the message."""
    from nifi_datasynthesizer_spark.operators import clustering as CL
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    args = (emb,) if op in ("cluster_embeddings", "pq_encode") else (emb, emb)
    with pytest.raises(ValueError, match=f"^{op}: "):
        getattr(CL, op)(*args)


@pytest.mark.parametrize("op", ["pq_search", "pq_rerank_search",
                                "ivfpq_search", "ivfpq_rerank_search"])
def test_query_collect_is_bounded(spark, monkeypatch, op):
    """A search collects at most ``_MAX_QUERIES`` query rows to the
    driver: one more raises, naming the operator; a set at the cap
    still searches every query."""
    from nifi_datasynthesizer_spark.operators import clustering as CL
    emb = spark.createDataFrame(
        [(i, [float(i % 5), float(i % 3), float(i % 2), 1.0])
         for i in range(20)], "vec_id long, embedding array<double>")
    kw = dict(k_top=2, m=2, k=4, iters=1)
    if op.startswith("ivfpq"):
        kw.update(n_cells=2, n_probe=1)
    monkeypatch.setattr(CL, "_MAX_QUERIES", 2)
    with pytest.raises(ValueError, match=f"^{op}: more than 2 queries"):
        getattr(CL, op)(emb, emb.filter("vec_id < 3"), **kw)
    got = getattr(CL, op)(emb, emb.filter("vec_id < 2"), **kw).collect()
    assert {r.query_id for r in got} == {0, 1}


@pytest.mark.parametrize("dim", [4, 70])
def test_embedding_outliers_any_width(spark, dim):
    """Centroids take the data's width: at 4 and 70 dims every group
    gets a threshold and outlier count equal to a plain-Python
    computation (truncating integer-mean centroids, squared micro-unit
    distances, bucket = d >> bin_shift, histogram-CDF threshold)."""
    import math

    from nifi_datasynthesizer_spark.operators.clustering import \
        embedding_outliers
    rows = [(i, i % 2, [float(((i * 7 + j * 3) % 11) - 5) / 4
                        for j in range(dim)]) for i in range(40)]
    emb = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>")
    got = {r.label: (r.n, r.n_outliers, r.thresh_bucket)
           for r in embedding_outliers(emb).collect()}
    want = {}
    for g in (0, 1):
        xs = [[math.floor(v * 1_000_000) for v in e]
              for _, lab, e in rows if lab == g]
        cent = [(abs(t) // len(xs)) * (1 if t >= 0 else -1)
                for t in map(sum, zip(*xs))]
        b = [sum((a - c) ** 2 for a, c in zip(x, cent)) >> 30 for x in xs]
        tb = min(v for v in b
                 if sum(u <= v for u in b) * 1_000_000 >= 900_000 * len(b))
        want[g] = (len(b), sum(v > tb for v in b), tb)
    assert got == want
    assert any(n_out > 0 for _, n_out, _ in want.values())


def test_assign_two_level_exhaustive_equals_flat(spark):
    """The k>>10^4 escape hatch: with probe_supers >= g every member
    set is scanned, so the hierarchical assignment must equal the
    flat argmin EXACTLY — same int64 distances, same smallest-index
    tie-break (centroid 7 duplicates centroid 2)."""
    from nifi_datasynthesizer_spark.operators import clustering as CL
    rows = [(i, [float(((i * 17 + j * 5) % 23) - 11) / 4 for j in range(8)])
            for i in range(400)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    quant = emb.select("vec_id", CL._quantize(F.col("embedding")).alias("xi"))
    cents = [list(r.xi)
             for r in quant.orderBy("vec_id").limit(36).collect()]
    cents[7] = list(cents[2])
    flat = sorted((r.vec_id, r.cluster, r.dist_q)
                  for r in CL._assign(quant, cents).collect())
    two = sorted((r.vec_id, r.cluster, r.dist_q)
                 for r in CL.assign_two_level(quant, cents,
                                              probe_supers=36).collect())
    assert flat == two and len(two) == 400
    assert not any(c == 7 for _, c, _ in two)   # dup centroid never wins
    # narrow probing stays approximate-but-close: identical cluster on
    # a large majority of rows, and dist_q is never better than flat
    # (it searches a candidate subset)
    n2 = {v: (c, d) for v, c, d in sorted(
        (r.vec_id, r.cluster, r.dist_q)
        for r in CL.assign_two_level(quant, cents,
                                     probe_supers=2).collect())}
    fl = {v: (c, d) for v, c, d in flat}
    agree = sum(1 for v in fl if n2[v][0] == fl[v][0])
    assert agree >= 300, agree
    assert all(n2[v][1] >= fl[v][1] for v in fl)


def test_assign_two_level_empty_super_still_assigns(spark):
    """Lloyd passes over the centroids can leave a super-cell EMPTY
    while its stale position stays strictly closest to some data row;
    probing that super used to emit cluster=-1 / dist_q=int64-max
    (r8 ADVICE).  Empty supers are now ranked at +inf, so narrow
    probing always lands on populated supers and every row gets a
    valid assignment.  The centroid set below is a found-by-search
    configuration that reproduced the -1 under the old ranking."""
    from nifi_datasynthesizer_spark.operators import clustering as CL
    cents = [[-16], [-17], [1], [16], [-16], [-19], [-16], [0], [7]]
    quant = spark.createDataFrame(
        [(i, [v]) for i, v in enumerate(range(-25, 26))],
        "vec_id long, xi array<bigint>")
    got = {r.vec_id: (r.cluster, r.dist_q)
           for r in CL.assign_two_level(quant, cents,
                                        probe_supers=1).collect()}
    assert len(got) == 51
    assert all(c >= 0 for c, _ in got.values())
    # a valid (member-scanned) distance, never the int64-max sentinel
    assert all(d < (1 << 62) for _, d in got.values())
    # full probe still bit-identical to the flat path with the fix in
    flat = {r.vec_id: (r.cluster, r.dist_q)
            for r in CL._assign(quant, cents).collect()}
    two = {r.vec_id: (r.cluster, r.dist_q)
           for r in CL.assign_two_level(quant, cents,
                                        probe_supers=9).collect()}
    assert two == flat


def test_avro_union_multibranch_rejected():
    """A spec-compliant 3-branch union cannot map onto one Spark
    column type — the codec must refuse loudly instead of decoding
    every non-null branch as the first non-null type (r8 ADVICE)."""
    import pytest

    from nifi_datasynthesizer_spark import avro_io as AV
    for bad in (["null", "long", "string"], ["long", "string"],
                ["null", "long", "null"]):
        with pytest.raises(TypeError):
            AV._make_decoder(bad)
        with pytest.raises(TypeError):
            AV._make_encoder(bad)
        with pytest.raises(TypeError):
            AV._avro_type_to_spark(bad)


def test_avro_decimal_full_precision():
    """38-significant-digit decimals (Spark's max precision) survive
    encode/decode exactly — the default decimal context (prec=28)
    must not round the unscaled-int shift (r8 ADVICE)."""
    from decimal import Decimal

    from nifi_datasynthesizer_spark import avro_io as AV
    at = {"type": "bytes", "logicalType": "decimal",
          "precision": 38, "scale": 3}
    enc, dec = AV._make_encoder(at), AV._make_decoder(at)
    for s in ("12345678901234567890123456789012345.678",
              "-99999999999999999999999999999999999.999",
              "0.001", "0"):
        v = Decimal(s)
        out, _ = dec(memoryview(enc(v)), 0)
        assert out == v, (s, out)


def test_fit_mod_for_cap(spark):
    from nifi_datasynthesizer_spark.operators import clustering as CL
    emb = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"))
    # corpus under the cap: no sampling at all
    assert CL.fit_mod_for_cap(emb, cap=1000) is None
    # ceil(n/cap): 1000 rows at cap 300 -> keep ~1/4
    assert CL.fit_mod_for_cap(emb, cap=300) == 4
    assert CL.fit_mod_for_cap(emb, cap=999) == 2


def test_kmeans_centroids_deterministic(spark):
    import math
    rows = [(i, [float((i * 7 + j * 13) % 10) for j in range(8)])
            for i in range(200)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    a = SIM.kmeans_centroids(emb, n_centroids=4, sample_fraction=0.5, iters=3)
    b = SIM.kmeans_centroids(emb, n_centroids=4, sample_fraction=0.5, iters=3)
    assert a == b                       # hash-sampled, not rand() — replayable
    assert len(a) == 4 and all(len(c) == 8 for c in a)
    for c in a:                         # unit-norm output
        assert abs(math.sqrt(sum(x * x for x in c)) - 1.0) < 1e-9


def test_media_pipeline(spark):
    media = MM.synth_media(spark, n=30, seed=1)
    feats = MM.extract_features(media, dim=8).collect()
    assert len(feats) == 30
    assert all(len(r.feature) == 8 for r in feats)
    # deterministic across runs
    feats2 = MM.extract_features(MM.synth_media(spark, n=30, seed=1), dim=8).collect()
    assert [r.feature for r in sorted(feats, key=lambda r: r.media_id)] == \
           [r.feature for r in sorted(feats2, key=lambda r: r.media_id)]
    frames = MM.sample_frames(media, every_ms=10000)
    assert frames.count() > 0


def test_media_decode_gating(spark):
    """Optional real codecs are import-gated: decode='stub' is the
    default and the oracle path; 'real' fails LOUD when the lib is
    absent (never silently fakes); 'auto' falls back to the stub in
    this codec-free sandbox and must reproduce the stub exactly."""
    import pytest
    media = MM.synth_media(spark, n=12, seed=3)
    stub = MM.extract_features(media, dim=8, decode="stub").collect()
    auto = MM.extract_features(media, dim=8, decode="auto").collect()
    key = lambda r: r.media_id
    if MM._PIL_Image is None:
        assert sorted(stub, key=key) == sorted(auto, key=key)
        with pytest.raises(ImportError, match="Pillow"):
            MM.extract_features(media, decode="real")
        with pytest.raises(ImportError, match="Pillow"):
            MM.resize_images(media, 32, 32, decode="real")
    if MM._soundfile is None:
        s_stub = MM.segment_audio(media, decode="stub").collect()
        s_auto = MM.segment_audio(media, decode="auto").collect()
        assert sorted(s_stub, key=lambda r: (r.media_id, r.seg_idx)) == \
               sorted(s_auto, key=lambda r: (r.media_id, r.seg_idx))
        with pytest.raises(ImportError, match="soundfile"):
            MM.segment_audio(media, decode="real")
    with pytest.raises(ValueError):
        MM.extract_features(media, decode="nope")
    with pytest.raises(ValueError):
        MM.segment_audio(media, decode="nope")
    with pytest.raises(ValueError):
        MM.resize_images(media, 32, 32, decode="nope")


def test_commuter_deterministic(spark):
    a = SZ.commuter_data(spark, n_drivers=3, trips=2, points_per_trip=10,
                         seed=5).orderBy("driver_id", "trip", "t_offset_s").collect()
    b = SZ.commuter_data(spark, n_drivers=3, trips=2, points_per_trip=10,
                         seed=5).orderBy("driver_id", "trip", "t_offset_s").collect()
    assert a == b
    assert len(a) == 3 * 2 * 10
    assert all(0 <= r.mph <= 90 for r in a)


def test_remove_record_path(spark):
    df = spark.createDataFrame([(1, (2, 3))], "x long, s struct<a:long, b:long>")
    out = SZ.remove_record_path(df, "s.a")
    assert out.select("s.*").columns == ["b"]
    out2 = SZ.remove_record_path(df, "x")
    assert out2.columns == ["s"]


def test_correlate_broadcast(spark):
    cust = spark.createDataFrame([(k, f"c{k}") for k in range(10)],
                                 ["c_custkey", "c_name"])
    out = SZ.correlate(cust, [{"name": "score", "class": "int",
                               "min": 0, "max": 100}],
                       "c_custkey", universe=50, seed=1)
    rows = out.collect()
    assert len(rows) == 10
    assert all(r.corr_score is not None for r in rows)
    # same key → same correlated record (deterministic dimension)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan


# ------------------------------------------------------------ curation

def test_sample_stratified_deterministic(spark):
    from nifi_datasynthesizer_spark.operators import curation as CU
    rows = [(i, "keep" if i % 2 == 0 else "drop") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = CU.sample_stratified(df, {"keep": 1.0, "drop": 0.0})
    got = sorted(r.doc_id for r in out.collect())
    assert got == [i for i in range(200) if i % 2 == 0]
    # partial rate: deterministic subset, same decision every run
    half = CU.sample_stratified(df, {"keep": 0.5, "drop": 0.5})
    a = sorted(r.doc_id for r in half.collect())
    b = sorted(r.doc_id for r in half.collect())
    assert a == b and 0 < len(a) < 200
    # salt decorrelates draws
    other = CU.sample_stratified(df, {"keep": 0.5, "drop": 0.5}, salt=1)
    assert sorted(r.doc_id for r in other.collect()) != a


def test_decontaminate_planted(spark):
    from nifi_datasynthesizer_spark.operators import curation as CU
    leak = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words
    ev = spark.createDataFrame(
        [(100, f"prefix words then {leak} trailing content here")],
        ["doc_id", "text"])
    tr = spark.createDataFrame(
        [(1, f"training document embedding {leak} inside the body text"),
         (2, "totally unrelated words about spark catalyst tungsten "
             "codegen shuffle partitions broadcast")],
        ["doc_id", "text"])
    hits = {r.doc_id: r.n_hit_grams for r in CU.decontaminate(tr, ev).collect()}
    assert 1 in hits and hits[1] >= 1
    assert 2 not in hits


def test_chunk_words_planted(spark):
    from nifi_datasynthesizer_spark.operators import curation as CU
    words = [f"w{i}" for i in range(50)]
    df = spark.createDataFrame([(0, " ".join(words))], ["doc_id", "text"])
    out = CU.chunk_words(df, max_words=24).orderBy("chunk_id").collect()
    assert [r.chunk_id for r in out] == [0, 1, 2]
    assert [r.chunk_words for r in out] == [24, 24, 2]
    assert " ".join(r.chunk_text for r in out) == " ".join(words)


def test_repetition_stats_planted(spark):
    from nifi_datasynthesizer_spark.operators import curation as CU
    df = spark.createDataFrame([(0, "a a a a b")], ["doc_id", "text"])
    r = CU.repetition_stats(df).collect()[0]
    assert r.n_words == 5
    assert abs(r.top_word_frac - 0.8) < 1e-12
    # 2-grams: [a a, a a, a a, a b] -> 2 distinct of 4
    assert abs(r.dup_2gram_frac - 0.5) < 1e-12


def test_pii_scrub_planted(spark):
    from nifi_datasynthesizer_spark.operators import curation as CU
    df = spark.createDataFrame(
        [(0, "mail bob@example.com ip 10.1.2.3 ssn 123-45-6789 "
             "tel 555-123-4567 end"),
         (1, "nothing sensitive here")], ["doc_id", "text"])
    out = {r.doc_id: r for r in CU.pii_scrub(df).collect()}
    assert out[0].n_email == 1 and out[0].n_ipv4 == 1
    assert out[0].n_ssn == 1 and out[0].n_phone == 1
    assert out[0].text_scrubbed == "mail <EMAIL> ip <IP> ssn <SSN> tel <PHONE> end"
    assert out[1].text_scrubbed == "nothing sensitive here"
    assert out[1].n_email == out[1].n_ssn == 0


def test_dedup_spans_planted(spark):
    """Span dedup: globally-first span survives, later exact repeats
    are cut, documents rebuilt from surviving spans in order."""
    from nifi_datasynthesizer_spark.operators import curation as CU
    rows = [
        (0, "a b c d e f g h"),          # spans: [a b c d], [e f g h]
        (1, "a b c d x y z w"),          # first span dups doc 0's
        (2, "a b c d e f g h"),          # both spans dup doc 0's
        (3, "p q r s"),                  # unique single span
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           CU.dedup_spans(docs, span_words=4).collect()}
    assert out[0].text == "a b c d e f g h"
    assert out[0].n_spans_removed == 0
    assert out[1].text == "x y z w"           # leading dup span cut
    assert out[1].n_spans_removed == 1
    assert out[2].text == ""                  # fully duplicated doc
    assert (out[2].n_spans, out[2].n_spans_removed) == (2, 2)
    assert out[3].text == "p q r s"
    assert out[3].n_spans == 1


def test_corpus_ngrams_planted(spark):
    """Top-k bigrams: counts over normalized text, ties broken on the
    gram string."""
    from nifi_datasynthesizer_spark.operators import curation as CU
    docs = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the cat ran"), (2, "a dog ran")],
        ["doc_id", "text"])
    out = CU.corpus_ngrams(docs, n=2, k=3).collect()
    assert (out[0].gram, out[0].n) == ("the cat", 2)
    # four singletons compete for two slots; lexicographic tie-break
    assert [(r.gram, r.n) for r in out[1:]] == [("a dog", 1), ("cat ran", 1)]


def test_pack_sequences_planted(spark):
    """Packing with one shard: running offsets and pack-id spans."""
    from nifi_datasynthesizer_spark.operators import curation as CU
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in [(0, 3), (1, 4), (2, 2)]],
        ["doc_id", "text"])
    out = {r.doc_id: r for r in
           CU.pack_sequences(docs, seq_tokens=4, shards=1).collect()}
    assert (out[0].start_tok, out[0].first_pack, out[0].last_pack) == (0, 0, 0)
    assert (out[1].start_tok, out[1].first_pack, out[1].last_pack) == (3, 0, 1)
    assert (out[2].start_tok, out[2].first_pack, out[2].last_pack) == (7, 1, 2)


def test_corpus_mix_report_planted(spark):
    """Mix accounting: per-(source,lang) totals and floor-ppm shares."""
    from nifi_datasynthesizer_spark.operators import curation as CU
    docs = spark.createDataFrame(
        [(0, "a b c", "en", "web"), (1, "d e", "en", "web"),
         (2, "f g h i j", "de", "books")],
        ["doc_id", "text", "lang", "source"])
    out = {(r.source, r.lang): r
           for r in CU.corpus_mix_report(docs).collect()}
    web = out[("web", "en")]
    assert (web.n_docs, web.n_tokens) == (2, 5)
    assert web.share_ppm == 500_000
    assert out[("books", "de")].share_ppm == 500_000


def test_bm25_topk_planted(spark):
    """BM25: rare-term matches outrank common-term matches; documents
    without query terms are excluded."""
    from nifi_datasynthesizer_spark.operators import search as SE
    docs = spark.createDataFrame(
        [(0, "apple apple banana pear"),   # tf(apple)=2
         (1, "apple kiwi kiwi kiwi"),      # tf(apple)=1, tf(kiwi)=3
         (2, "banana pear plum grape"),    # no query terms
         (3, "apple plum plum plum")],     # tf(apple)=1
        ["doc_id", "text"])
    out = SE.bm25_topk(docs, ["apple", "kiwi apple"], k=10).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    # q0 "apple": doc 0 (tf=2) first; doc 2 never appears
    assert [r.doc_id for r in by_q[0]] == [0, 1, 3]
    assert all(r.doc_id != 2 for r in out)
    # q1 "kiwi apple": kiwi is rarer (df=1 vs 3) -> doc 1 dominates
    assert by_q[1][0].doc_id == 1
    assert by_q[1][0].score_q4 > by_q[1][1].score_q4


def test_cluster_embeddings_planted(spark):
    """k-means: two well-separated blobs resolve to two clusters
    regardless of which blob each point started nearest."""
    from nifi_datasynthesizer_spark.operators import clustering as CL
    lo = [(i, [0.1 * (i % 3), 0.0, 0.1, 0.0]) for i in range(0, 8, 2)]
    hi = [(i, [5.0 + 0.1 * (i % 3), 5.0, 5.1, 5.0]) for i in range(1, 9, 2)]
    emb = spark.createDataFrame(lo + hi, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in
           CL.cluster_embeddings(emb, k=2, iters=2).collect()}
    lo_clusters = {out[i].cluster for i, _ in lo}
    hi_clusters = {out[i].cluster for i, _ in hi}
    assert len(lo_clusters) == 1 and len(hi_clusters) == 1
    assert lo_clusters != hi_clusters
    assert all(r.dist_q >= 0 for r in out.values())


def test_corpus_shuffle_planted(spark):
    """Shuffle: a permutation (dense 0..n-1 positions per shard),
    reproducible, and salt-dependent."""
    from nifi_datasynthesizer_spark.operators import curation as CU
    docs = spark.createDataFrame([(i, "t") for i in range(40)],
                                 ["doc_id", "text"])
    a = CU.corpus_shuffle(docs, shards=4, salt=0).collect()
    b = CU.corpus_shuffle(docs, shards=4, salt=0).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    per_shard = {}
    for r in a:
        per_shard.setdefault(r.shard, []).append(r.pos_in_shard)
    for shard, ps in per_shard.items():
        assert sorted(ps) == list(range(len(ps)))          # dense ranks
    c = CU.corpus_shuffle(docs, shards=4, salt=1).collect()
    assert sorted(map(tuple, a)) != sorted(map(tuple, c))  # salt varies


def test_tfidf_keywords_planted(spark):
    rows = [(0, "apple apple apple banana"),
            (1, "banana cherry cherry"),
            (2, "apple banana cherry date")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = TX.tfidf_keywords(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 0: 'apple' (tf=3, df=2) outranks 'banana' (tf=1, df=3)
    assert by_doc[0][0]["word"] == "apple" and by_doc[0][0]["rank"] == 1
    # doc 1: 'cherry' (tf=2, df=2) outranks 'banana'
    assert by_doc[1][0]["word"] == "cherry"
    # 'date' is unique to doc 2 → highest idf there
    assert by_doc[2][0]["word"] == "date"
    assert all(len(v) <= 2 for v in by_doc.values())


def test_bigram_fluency_planted(spark):
    # "a b" occurs in both docs; "a c" only in doc 1 → doc 0 (all
    # transitions common) scores higher than doc 1 (half rare)
    rows = [(0, "a b a b a b"), (1, "a c"), (2, "solo")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in TX.bigram_fluency(docs).collect()}
    assert out[0]["n_bigrams"] == 5
    assert out[1]["n_bigrams"] == 1
    assert out[0]["fluency_ppm"] > out[1]["fluency_ppm"]
    assert 2 not in out  # single-word doc has no bigrams


def test_split_deterministic(spark):
    from nifi_datasynthesizer_spark.operators import curation as CU
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = CU.split_train_val_test(df, 0.1, 0.1, salt=0).collect()
    b = CU.split_train_val_test(df.repartition(7), 0.1, 0.1, salt=0).collect()
    assert {r["doc_id"]: r["split"] for r in a} == \
           {r["doc_id"]: r["split"] for r in b}
    counts = {}
    for r in a:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    assert 0.05 < counts["test"] / 2000 < 0.15
    assert 0.05 < counts["val"] / 2000 < 0.15
    assert counts["train"] / 2000 > 0.7


def test_quantize_int8_bounds(spark):
    import math
    rows = [(i, [math.sin(i * 0.7 + d) for d in range(8)]) for i in range(50)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    out = SIM.quantize_int8(emb, dim=8).collect()
    assert len(out) == 50
    # max reconstruction error bounded by half a quantization step:
    # step = range/255 ≈ 2/255 → half-step ≈ 0.004 (q6 units: 4000)
    assert all(r["max_err_q6"] <= 4200 for r in out)
    assert all(-128 * 8 <= r["code_sum"] <= 127 * 8 for r in out)


def test_rrf_fuse_planted(spark):
    from nifi_datasynthesizer_spark.operators import search as SE
    rows = [(0, "hash join table scan"), (1, "hash hash join join"),
            (2, "window sort merge"), (3, "completely unrelated words here")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = SE.rrf_fuse(docs, ["hash join"], k=4, pool=4).collect()
    assert out[0]["rank"] == 1
    # docs 0/1 match both rankers (lexical + hashed-cosine) → one of
    # them must fuse to the top; doc 3 can only appear via feature-hash
    # collisions, never above a doc that both rankers retrieved
    assert out[0]["doc_id"] in (0, 1)
    scores = {r["doc_id"]: r["rrf_q9"] for r in out}
    if 3 in scores:
        assert scores[3] < scores[out[0]["doc_id"]]
    # fused top score = two contributions ≥ floor(1e9/61)+floor(1e9/64)
    assert out[0]["rrf_q9"] > 30_000_000


def test_interval_join_state_bound(spark):
    """Stream-stream join plan carries watermarks on both sides (the
    state-eviction contract) and produces the batch join's rows."""
    from nifi_datasynthesizer_spark import streaming as ST
    import datetime
    base = datetime.datetime(2024, 1, 1)
    ev = [(i, base + datetime.timedelta(minutes=i * 7), i % 3)
          for i in range(40)]
    df = spark.createDataFrame(ev, ["event_id", "ts", "user_id"])
    left = df.filter(F.col("event_id") % 2 == 0)
    right = df.filter(F.col("event_id") % 2 == 1)
    expected = (left.alias("l").join(
        right.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("r.ts") >= F.col("l.ts"))
        & (F.col("r.ts") <= F.col("l.ts") + F.expr("INTERVAL 1 HOUR")))
        .count())
    import tempfile
    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.parquet(f"{td}/data")
        src = ST.file_stream(spark, f"{td}/data", df.schema)
        l = src.filter(F.col("event_id") % 2 == 0)
        r = src.filter(F.col("event_id") % 2 == 1)
        j = ST.interval_join(l, r, key="user_id", ts_col="ts",
                             within="1 hour")
        # both sides must carry event-time watermarks (state eviction)
        analyzed = j._jdf.queryExecution().analyzed().toString()
        assert analyzed.count("EventTimeWatermark") == 2
        out = ST.run_bounded(
            j.select("l_event_id", "r_event_id"), "t_interval_join",
            output_mode="append")
        assert out.count() == expected


def test_funnel_steps_planted(spark):
    from nifi_datasynthesizer_spark.operators.temporal import funnel_steps
    import datetime
    b = datetime.datetime(2024, 1, 1)
    mins = lambda m: b + datetime.timedelta(minutes=m)
    rows = [
        # user 1: full funnel in order
        (1, mins(0), "signup"), (1, mins(5), "view"), (1, mins(9), "purchase"),
        # user 2: purchase BEFORE view → stops at step 2
        (2, mins(0), "signup"), (2, mins(3), "purchase"), (2, mins(7), "view"),
        # user 3: never signed up → excluded
        (3, mins(1), "view"), (3, mins(2), "purchase"),
        # user 4: signup only
        (4, mins(0), "signup"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = {r["user_id"]: r for r in
           funnel_steps(ev, ["signup", "view", "purchase"]).collect()}
    assert out[1]["max_step"] == 3
    assert out[2]["max_step"] == 2       # view after signup counts; no purchase after view
    assert 3 not in out                  # no step-1 event
    assert out[4]["max_step"] == 1 and out[4]["t_final_us"] is None
    # within_s bound: purchase at +9min misses a 5-minute deadline
    tight = {r["user_id"]: r for r in
             funnel_steps(ev, ["signup", "view", "purchase"],
                          within_s=300).collect()}
    assert tight[1]["max_step"] == 2


def test_weblog_structure(spark):
    """LogGenerator family invariants: identity is sticky per user,
    event time and session index are monotone within a user, the IP
    pool is long-tail shared (fewer distinct IPs than users), and
    query terms are head-heavy."""
    from nifi_datasynthesizer_spark import synthesizers as SZ
    df = SZ.weblog(n_users=200, events_per_user=10, seed=19).dataframe(spark)
    rows = df.orderBy("line_id").collect()
    assert len(rows) == 2000
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_seq"], []).append(r)
    ips, cookies = set(), set()
    for u, rs in by_user.items():
        assert len({r["cookie"] for r in rs}) == 1      # sticky cookie
        assert len({r["ip"] for r in rs}) == 1          # sticky IP
        assert len({r["geo"] for r in rs}) == 1
        ts = [r["t_us"] for r in rs]
        assert ts == sorted(ts)                          # monotone time
        sess = [r["session_idx"] for r in rs]
        assert sess == sorted(sess) and sess[0] == 1
        ips.add(rs[0]["ip"])
        cookies.add(rs[0]["cookie"])
    assert len(cookies) == 200
    assert len(ips) < 150                                # shared pool
    # head-heavy terms: the most common word covers >5% of occurrences
    from collections import Counter
    terms = Counter(w for r in rows for w in r["query"].split())
    assert terms.most_common(1)[0][1] / sum(terms.values()) > 0.05
    assert all(1 <= r["n_terms"] <= 5 for r in rows)
    assert all(r["response_us"] > 0 for r in rows)


def test_funnel_hot_key_cap(spark):
    """A bot-grade hot key (hundreds of events in one step) must not
    change the funnel answer: the per-step cap keeps each step's
    EARLIEST timestamps, which is all the min-over-filter fold reads."""
    from nifi_datasynthesizer_spark.operators.temporal import funnel_steps
    import datetime
    b = datetime.datetime(2024, 1, 1)
    mins = lambda m: b + datetime.timedelta(minutes=m)
    rows = [(9, mins(0), "signup")]
    # 500 view events — far beyond the cap — then one purchase
    rows += [(9, mins(1 + i), "view") for i in range(500)]
    rows += [(9, mins(600), "purchase")]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = funnel_steps(ev, ["signup", "view", "purchase"],
                       per_step_cap=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r["max_step"] == 3
    # t1 is the EARLIEST view after signup (+1 min), unaffected by cap
    assert r["t_final_us"] - r["t_first_us"] == 600 * 60 * 1_000_000


def test_scd2_same_timestamp_tie_breaks_on_event_id(spark):
    """Two events at the identical timestamp: the larger event_id wins
    (same (ts, id) rule as ohlc), not the larger value."""
    from nifi_datasynthesizer_spark.operators.temporal import scd2_from_events
    import datetime
    t = datetime.datetime(2024, 1, 1, 12)
    rows = [(1, 100, t, 9.00),   # higher value, lower id
            (1, 101, t, 2.00)]   # later id wins
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    out = scd2_from_events(ev).collect()
    assert len(out) == 1 and out[0]["value_cents"] == 200


def test_ohlc_planted(spark):
    from nifi_datasynthesizer_spark.operators.temporal import ohlc
    import datetime
    b = datetime.datetime(2024, 1, 1)
    rows = [
        (10, b + datetime.timedelta(hours=1), 7, 5.00),
        (10, b + datetime.timedelta(hours=2), 8, 9.50),   # high
        (10, b + datetime.timedelta(hours=3), 9, 1.25),   # low
        (10, b + datetime.timedelta(hours=4), 11, 4.75),  # close
        (10, b + datetime.timedelta(days=1), 12, 2.00),   # next bucket
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "value"])
    out = ohlc(ev, bucket_s=86400).orderBy("bucket").collect()
    assert len(out) == 2
    d0 = out[0]
    assert (d0["open_c"], d0["high_c"], d0["low_c"], d0["close_c"],
            d0["n_ticks"]) == (500, 950, 125, 475, 4)
    assert out[1]["open_c"] == out[1]["close_c"] == 200


def test_anomalies_zscore_planted(spark):
    from nifi_datasynthesizer_spark.operators.temporal import anomalies_zscore
    # 20 ticks at 1.00 plus one at 100.00 → only the spike flags
    rows = [(1, i, 1.00) for i in range(20)] + [(1, 99, 100.00)]
    # user 2: constant series → zero variance → nothing flags
    rows += [(2, 200 + i, 5.00) for i in range(10)]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "value"])
    out = anomalies_zscore(ev, z=2).collect()
    assert [(r["user_id"], r["event_id"]) for r in out] == [(1, 99)]
    # exact under repartitioning (integer algebra, no float drift)
    out2 = anomalies_zscore(ev.repartition(7), z=2).collect()
    assert sorted(r["event_id"] for r in out2) == [99]


def test_dedup_minhash_cross_planted(planted_docs):
    # incoming = docs {1, 2} checked against corpus {0, 3, 4}:
    # 1 is an exact dup of 0, 2 a near-dup of 0; 3/4 unrelated
    incoming = planted_docs.filter(F.col("doc_id").isin(1, 2))
    corpus = planted_docs.filter(~F.col("doc_id").isin(1, 2))
    pairs = {(r.a, r.b) for r in
             DD.dedup_minhash_cross(incoming, corpus, bands=32,
                                    jaccard_threshold=0.3).collect()}
    assert (1, 0) in pairs
    assert (2, 0) in pairs
    assert all(b not in (3, 4) for _, b in pairs)
    # direction: a is ALWAYS from the incoming batch
    assert all(a in (1, 2) for a, _ in pairs)


def test_containment_pairs_planted(spark):
    big = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lambda mu nu xi omicron pi rho sigma tau upsilon")
    quote = "delta epsilon zeta eta theta"       # 5-word span of big
    rows = [(0, big), (1, quote),
            (2, "totally unrelated words about spark and duckdb engines")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.a, r.b): r.cont_ppm for r in
           DD.containment_pairs(docs, n=3, threshold=0.8).collect()}
    # the quote is fully contained in big → (1, 0) at 1.0
    assert out.get((1, 0)) == 1_000_000
    # big is NOT contained in the quote (asymmetry is the point)
    assert (0, 1) not in out
    assert all(2 not in p for p in out)


def test_pca_power_planted(spark):
    from nifi_datasynthesizer_spark.operators.clustering import pca_power
    # variance concentrated on dim 0: projection must track x0
    rows = [(i, [float(i - 25)] + [0.001 * ((i * 7) % 5)] * 63)
            for i in range(50)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]) \
        .withColumn("embedding", F.col("embedding").cast("array<float>"))
    out = {r.vec_id: r.proj_q for r in pca_power(emb, iters=2).collect()}
    # projections are monotone in x0 (up to global sign)
    xs = [out[i] for i in range(50)]
    diffs = [xs[i + 1] - xs[i] for i in range(49)]
    assert all(d > 0 for d in diffs) or all(d < 0 for d in diffs)
    # determinism across partitionings (integer dots, literal v)
    out2 = {r.vec_id: r.proj_q
            for r in pca_power(emb.repartition(7), iters=2).collect()}
    assert out == out2


def test_pagerank_planted(spark):
    """Star graph: the hub collects contributions from every spoke and
    must out-rank them; ranks are exact integers, partition-stable."""
    from nifi_datasynthesizer_spark.operators.graph import pagerank
    pairs = spark.createDataFrame(
        [(0, k) for k in range(1, 6)], ["a", "b"])
    out = {r.doc_id: r.pr_ppm for r in pagerank(pairs, iters=2).collect()}
    assert len(out) == 6
    assert out[0] > max(out[k] for k in range(1, 6))
    assert len({out[k] for k in range(1, 6)}) == 1   # spokes symmetric
    out2 = {r.doc_id: r.pr_ppm
            for r in pagerank(pairs.repartition(5), iters=2).collect()}
    assert out == out2                                # integer-exact


def test_power_iteration_lineage_bounded(spark, monkeypatch):
    """r6 verdict item: deep user-supplied iteration budgets must not
    grow the analyzed plan without bound.  pagerank cuts the per-round
    frame every ``_CUT_EVERY`` rounds, so at iters=25 the final plan
    is one cut interval deep, not 25 — and the cut changes no values
    (the checkpoint stores the exact integer-ppm partitions)."""
    from nifi_datasynthesizer_spark.operators import graph as G
    pairs = spark.createDataFrame([(0, k) for k in range(1, 6)], ["a", "b"])
    cuts = []

    def counting_cut(df):
        cuts.append(df)
        return CA.cut(df)

    def ranks(cut_every):
        monkeypatch.setattr(G, "_CUT_EVERY", cut_every)
        return {r.doc_id: r.pr_ppm
                for r in G.pagerank(pairs, iters=6).collect()}

    monkeypatch.setattr(G, "cut", counting_cut)
    # values identical with and without lineage cuts
    assert ranks(2) == ranks(100)
    assert len(cuts) == 2          # after rounds 2 and 4, none at 100
    monkeypatch.undo()

    # analyzed-plan size at iters=25 ~= one cut interval (iters=5), so
    # analysis cost is flat in the iteration budget
    def plan_len(iters):
        df = G.pagerank(pairs, iters=iters)
        return len(df._jdf.queryExecution().analyzed().toString())
    assert plan_len(25) <= 1.5 * plan_len(5)


def test_markov_stationary_matrix_guard(spark, monkeypatch):
    """r11 verdict item 3: the driver-side power iteration collects the
    |states|² transition matrix, which is bounded only by the state
    vocabulary — a high-cardinality state column must raise cleanly
    instead of collecting an unbounded frame.  The limit sits ABOVE the
    final aggregate, so when the matrix is small the collected rows
    (and the result) are identical with any cap value."""
    import pytest as _pt

    from nifi_datasynthesizer_spark.operators import temporal as TP

    # 40 users × 8 events, state = unique per event → 7 transitions
    # per user, every (src, dst) distinct = 280 matrix rows
    ev = spark.createDataFrame(
        [(u, i, f"s{u}_{i}", i) for u in range(40) for i in range(8)],
        ["user_id", "ts", "event_type", "event_id"])
    monkeypatch.setattr(TP, "_MAX_MATRIX_ROWS", 100)
    with _pt.raises(ValueError, match="transition matrix exceeds"):
        TP.markov_stationary(ev, iters=2)
    # same input under a sufficient cap still computes (all mass sheds
    # through the unique-state chain ends; the frame itself is sane)
    monkeypatch.setattr(TP, "_MAX_MATRIX_ROWS", 1000)
    assert TP.markov_stationary(ev, iters=2).count() == 320


def test_media_dedup_planted(spark):
    from nifi_datasynthesizer_spark.operators import multimodal as MM
    media = MM.synth_media(spark, n=30, seed=5, payload_universe=10)
    out = MM.media_dedup(media).collect()
    assert len(out) == 10
    assert all(r.n_copies == 3 for r in out)
    assert all(r.keeper_media_id < 10 for r in out)
    # unique payloads → no duplicate groups
    assert MM.media_dedup(MM.synth_media(spark, n=30, seed=5)).count() == 0


def test_hist_quantiles_planted(spark):
    """100 values of 1.00..100.00: p50 edge covers 50.00, p99 covers
    100.00, and the one-sided error is bounded by the bucket width."""
    from nifi_datasynthesizer_spark.operators.sketches import hist_quantiles
    rows = [("a", float(v)) for v in range(1, 101)]
    df = spark.createDataFrame(rows, ["event_type", "value"])
    out = hist_quantiles(df, "event_type", "value",
                         bucket_cents=500).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_total"] == 100
    # true p50 = 50.00 (5000c): upper edge of its bucket, ≤ one width over
    assert 5000 <= r["p50_edge_c"] <= 5500
    assert 9000 <= r["p90_edge_c"] <= 9500
    assert 9900 <= r["p99_edge_c"] <= 10400


def test_ewma_daily_planted(spark):
    """EWMA = sum of floor-halved lags: 100, then 200+floor(100/2)."""
    from nifi_datasynthesizer_spark.operators.temporal import ewma_daily
    import datetime
    d = lambda day: datetime.datetime(2024, 1, day, 12)
    rows = [(1, d(1), 1.00), (1, d(2), 2.00), (1, d(3), 4.00)]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = {r["day"]: r["ewma_q"] for r in ewma_daily(ev).collect()}
    days = sorted(out)
    assert [out[k] for k in days] == [100, 200 + 50, 400 + 100 + 25]


def test_scd2_from_events_planted(spark):
    from nifi_datasynthesizer_spark.operators.temporal import scd2_from_events
    import datetime
    d = lambda day, h: datetime.datetime(2024, 1, day, h)
    rows = [
        (1, 10, d(1, 9), 1.00), (1, 11, d(1, 17), 2.00),  # day 1 → 2.00 wins
        (1, 12, d(3, 9), 3.00),                            # day 3
        (2, 20, d(2, 9), 9.00),                            # single version
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    out = sorted([(r.user_id, r.vfrom, r.vto, r.value_cents)
                  for r in scd2_from_events(ev).collect()])
    base = datetime.date(2024, 1, 1).toordinal() - datetime.date(1970, 1, 1).toordinal()
    assert out == [
        (1, base, base + 2, 200),          # closed by the day-3 version
        (1, base + 2, 2 ** 62, 300),       # open interval sentinel
        (2, base + 1, 2 ** 62, 900),
    ]


def test_gap_fill_daily_planted(spark):
    from nifi_datasynthesizer_spark.operators.temporal import gap_fill_daily
    import datetime
    d = lambda day: datetime.datetime(2024, 1, day, 12)
    rows = [(1, d(1), 1.00), (1, d(4), 4.00),   # gap: days 2, 3
            (2, d(2), 9.00)]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "value"])
    out = {(r.user_id, r.day): (r.cents, r.observed)
           for r in gap_fill_daily(ev).collect()}
    base = datetime.date(2024, 1, 1).toordinal() - datetime.date(1970, 1, 1).toordinal()
    assert out[(1, base)] == (100, 1)
    assert out[(1, base + 1)] == (100, 0)     # filled from day 1
    assert out[(1, base + 2)] == (100, 0)
    assert out[(1, base + 3)] == (400, 1)
    assert out[(2, base + 1)] == (900, 1)
    assert len(out) == 5                       # no spurious rows


def test_hll_distinct_accuracy(spark):
    """HLL estimate lands within the expected error band at moderate
    cardinality (sigma ~ 1.04/sqrt(64) ~ 13%) and the linear-counting
    path handles tiny groups where the harmonic estimator is biased."""
    from nifi_datasynthesizer_spark.operators.sketches import hll_distinct
    rows = ([("big", f"u{i}") for i in range(5000)]
            + [("small", f"s{i}") for i in range(12)])
    df = spark.createDataFrame(rows, ["event_type", "user_id"])
    out = {r.event_type: r for r in
           hll_distinct(df, "event_type", "user_id").collect()}
    big = out["big"]
    assert big.exact_distinct == 5000
    assert 0.6 * 5000 < big.est_hll < 1.4 * 5000
    small = out["small"]
    assert small.exact_distinct == 12
    # linear-counting regime: empty registers exist, estimate close
    assert abs(small.est_hll - 12) <= 4


def test_hll_alpha_tracks_m(spark):
    """Non-default register counts must stay bit-identical between
    Spark and the DuckDB oracle — the gate the hardcoded alpha=709
    (only correct for m=64) silently defeated: at m=32 the constant
    is 697 and at m=128 it is 715, and both builders now derive it
    from the shared _hll_alpha1000 table (r11 ADVICE fix)."""
    import duckdb

    from nifi_datasynthesizer_spark.operators.sketches import (
        _hll_alpha1000, hll_distinct)
    from nifi_datasynthesizer_spark.oracles import hll_distinct_sql
    assert (_hll_alpha1000(16), _hll_alpha1000(32),
            _hll_alpha1000(64), _hll_alpha1000(128)) == (673, 697,
                                                         709, 715)
    rows = ([("big", f"u{i}") for i in range(4000)]
            + [("mid", f"m{i}") for i in range(300)])
    df = spark.createDataFrame(rows, ["event_type", "user_id"])
    con = duckdb.connect()
    con.register("events", df.toPandas())
    for m in (32, 128):
        got = {r.event_type: (r.est_hll, r.exact_distinct) for r in
               hll_distinct(df, "event_type", "user_id", m=m).collect()}
        want = {r[0]: (r[3], r[4]) for r in
                con.sql(hll_distinct_sql(m=m)).fetchall()}
        assert got == want, (m, got, want)
        # harmonic-regime estimate actually lands (alpha bias matters
        # here; linear counting would mask a wrong constant)
        assert 0.5 * 4000 < got["big"][0] < 1.6 * 4000


def test_train_classifier_learns(spark):
    """The distilled quality head must beat the majority-class base
    rate by a clear margin at the entry-query hyperparameters, and
    the final round's accuracy must beat round 1's (the GD loop
    actually descends rather than oscillating)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = TX.train_classifier(docs, dim=16, rounds=16,
                              lr_num=1600).collect()
    acc = {r.round: r.acc_ppm for r in out}
    base = acc[1]           # round 1 scores with w=0 → constant predictor
    assert acc[16] >= base + 100_000, (base, acc)
    # weights are non-trivial (not the all-zero start)
    assert any(r.w_micro != 0 for r in out if r.round == 16)


def test_train_classifier_releases_cache_on_failure(spark, monkeypatch):
    """A round that raises still releases the featurized cache: the
    error propagates and no new RDD stays in storage."""
    def cached() -> set:
        return {i.id() for i in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    before = cached()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cls = type(docs)
    real_collect = cls.collect
    calls = []

    def failing_collect(self):
        calls.append(1)
        if len(calls) > 1:  # the scales pass runs; round 1 fails
            raise RuntimeError("planted round failure")
        return real_collect(self)

    monkeypatch.setattr(cls, "collect", failing_collect)
    with pytest.raises(RuntimeError, match="planted round failure"):
        TX.train_classifier(docs, dim=16, rounds=3)
    monkeypatch.undo()
    assert len(calls) == 2
    assert cached() - before == set()


def test_split_by_group_no_leakage(spark):
    """Near-dup docs must land in the SAME split (the leakage the
    id-hash split permits), and the group key equals the cluster
    keeper; singletons split by their own id."""
    from nifi_datasynthesizer_spark.operators.curation import (
        split_by_group, split_train_val_test)
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight with great speed")
    rows = ([(i, base) for i in range(40)]          # one big dup cluster
            + [(100 + i, f"unique document number {i} about topic "
                + " ".join(f"w{i}{k}" for k in range(12)))
               for i in range(30)])
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = split_by_group(docs, val_frac=0.3, test_frac=0.3).collect()
    by_doc = {r.doc_id: r for r in out}
    cluster = [by_doc[i] for i in range(40)]
    assert len({r.split for r in cluster}) == 1          # no straddle
    assert all(r.group_id == 0 for r in cluster)         # keeper id
    assert len({by_doc[100 + i].split for i in range(30)}) == 3


def test_bpe_tokenize_counts(spark):
    """Subword counts: after learning on 'aab aab ab', merges (a,b)
    then (a,ab) give aab→[a,ab]→? (round2 merges a+ab→aab=1 token);
    unmerged words fall back sensibly and out-of-vocab-length words
    count characters."""
    from nifi_datasynthesizer_spark.operators.curation import bpe_tokenize
    docs = spark.createDataFrame(
        [(0, "aab aab aab ab cd"), (1, "aab ab xy"),
         (2, "x" * 20)],                      # > max_word_len → chars
        ["doc_id", "text"])
    out = {r.doc_id: r for r in bpe_tokenize(docs, rounds=2).collect()}
    # after (a,b) and (a,ab): aab = 1 token, ab = 1 token, cd/xy = 2
    assert out[0].n_words == 5
    assert out[0].n_bpe_tokens == 3 * 1 + 1 + 2
    assert out[1].n_bpe_tokens == 1 + 1 + 2
    assert out[2].n_words == 1 and out[2].n_bpe_tokens == 20


def test_kmv_sketch_estimates_and_jaccard(spark):
    """KMV bottom-k: groups under k distinct shingles report exact
    counts; groups over k estimate within the ~1/sqrt(k) band; the
    union-coincidence Jaccard lands near the planted overlap."""
    from nifi_datasynthesizer_spark.operators.sketches import kmv_sketch
    a = " ".join(f"w{i}" for i in range(200))        # bigrams 0..198
    b = " ".join(f"w{i}" for i in range(100, 300))   # bigrams 100..298
    rows = [("A", 1, a), ("B", 2, b), ("C", 3, "a b c")]
    docs = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    out = {(r.ga, r.gb): r
           for r in kmv_sketch(docs, "source", k=64).collect()}
    ab = out[("A", "B")]
    # 199 bigrams each; truth J = 99 / 299 ~ 0.331
    assert 120 < ab.est_a < 320 and 120 < ab.est_b < 320
    assert 150_000 < ab.jaccard_ppm < 550_000
    ac = out[("A", "C")]
    assert ac.est_b == 2          # < k distinct -> exact count
    assert ac.jaccard_ppm == 0    # disjoint shingle sets
    assert all(r.inter_k <= r.kk for r in out.values())


def test_dsir_weights_shift_toward_target(spark):
    """DSIR importance weights: documents sharing the target
    subpopulation's n-gram profile outscore off-profile documents,
    and the histogram threshold keeps ~share_ppm of the pool."""
    from nifi_datasynthesizer_spark.operators.curation import dsir_weights
    import pyspark.sql.functions as SF
    voc_a = ["alpha", "beta", "gamma", "delta", "epsilon"]
    voc_b = ["zork", "quux", "wibble", "fnord", "blorp"]
    rows = []
    for i in range(40):
        v = voc_a if (i < 10 or 20 <= i < 30) else voc_b
        rows.append((i, " ".join(v[(i + j) % 5] for j in range(30))))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           dsir_weights(docs, SF.col("doc_id") < 10,
                        share_ppm=500_000).collect()}
    mean_a = sum(out[i].logw_micro for i in range(20, 30)) / 10
    mean_b = sum(out[i].logw_micro for i in range(30, 40)) / 10
    assert mean_a > mean_b, (mean_a, mean_b)
    sel = sum(r.selected for r in out.values())
    assert 20 <= sel <= 30, sel          # ~50% share, one-bin overshoot
    assert all(out[i].selected for i in range(20, 30))


def test_pq_rerank_beats_adc_ranking(spark):
    """Two-stage PQ: exact re-rank of the ADC shortlist must recover
    at least as much bruteforce recall as ADC-only ranking, and its
    exact distances must be genuinely exact (agree with bruteforce
    ordering on the shortlist)."""
    from nifi_datasynthesizer_spark.operators import clustering as CL
    from nifi_datasynthesizer_spark.operators import similarity as SIM
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qdf = emb.filter(F.col("vec_id") < 8)
    truth = {(r.query_id, r.cand_id)
             for r in SIM.ann_bruteforce(emb, qdf, k=10).collect()}
    adc = {(r.query_id, r.cand_id)
           for r in CL.pq_search(emb, qdf, k_top=10, m=16, k=16,
                                 iters=2).collect()}
    rer = {(r.query_id, r.cand_id)
           for r in CL.pq_rerank_search(emb, qdf, k_top=10, shortlist=4,
                                        m=16, k=16, iters=2).collect()}
    assert len(truth & rer) >= len(truth & adc), (len(truth & rer),
                                                  len(truth & adc))
    assert len(truth & rer) / len(truth) >= 0.4


def test_ilog2_micro_cross_engine_exact(spark):
    """The micro-log2 decomposition must agree BIT-EXACTLY between the
    Spark template and the DuckDB twin on boundary values (powers of
    two, table edges) and track true log2 within the documented
    2^-8 mantissa-truncation error."""
    import math

    import duckdb

    from nifi_datasynthesizer_spark.operators.curation import _ilog2_micro_sql
    from nifi_datasynthesizer_spark.oracles import _ilog2_micro_duck
    vals = ([1, 2, 3, 127, 128, 255, 256, 257, 511, 512, 513, 65535,
             65536, (1 << 40) - 1, 1 << 40, (1 << 59) + 12345]
            + [7 ** i % (1 << 50) + 1 for i in range(1, 30)])
    sdf = spark.createDataFrame([(v,) for v in vals], "x bigint")
    got_s = [r.v for r in
             sdf.select(F.expr(_ilog2_micro_sql("x")).alias("v")).collect()]
    got_d = [r[0] for r in duckdb.sql(
        "SELECT " + _ilog2_micro_duck("x") + " FROM (SELECT UNNEST(["
        + ",".join(str(v) for v in vals) + "]) AS x)").fetchall()]
    assert got_s == got_d
    for v, g in zip(vals, got_s):
        true = 1e6 * math.log2(v)
        assert true - 5700 <= g <= true + 1, (v, g, true)


def test_kmv_exact_when_k_covers_universe(spark):
    """With k >= every group's shingle cardinality the KMV sketch IS
    the full set: estimates must equal exact distinct counts and the
    coincidence Jaccard must equal exact floor(1e6·|∩|/|∪|)."""
    from nifi_datasynthesizer_spark.operators.sketches import kmv_sketch
    a = "p q r s t u v w"         # bigrams: pq qr rs st tu uv vw (7)
    b = "r s t u v w x y"         # bigrams: rs st tu uv vw wx xy (7)
    docs = spark.createDataFrame([("A", 1, a), ("B", 2, b)],
                                 ["source", "doc_id", "text"])
    r = kmv_sketch(docs, "source", k=64).collect()[0]
    assert (r.est_a, r.est_b) == (7, 7)
    inter, union = 5, 9           # shared: rs st tu uv vw
    assert r.inter_k == inter and r.kk == union
    assert r.jaccard_ppm == (inter * 1_000_000) // union


def test_dsir_share_monotone_and_full(spark):
    """Raising share_ppm can only grow the selected set (histogram
    threshold moves down-bin); share=1e6 selects everything."""
    from nifi_datasynthesizer_spark.operators.curation import dsir_weights
    import pyspark.sql.functions as SF
    rows = [(i, " ".join(f"w{(i * 7 + j) % 13}" for j in range(20)))
            for i in range(30)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    target = SF.col("doc_id") % 3 == 0
    picked = {}
    for share in (200_000, 500_000, 1_000_000):
        out = dsir_weights(docs, target, share_ppm=share).collect()
        picked[share] = {r.doc_id for r in out if r.selected}
    assert picked[200_000] <= picked[500_000] <= picked[1_000_000]
    assert len(picked[1_000_000]) == 30


def test_event_lines_roundtrip(spark):
    """parse(format(events)) must reproduce the source fields exactly:
    uid == user_id, op == event_type, time_ms == epoch millis, and the
    ip packs the h60-derived octets with Java's signed-int32 wrap
    (reference Event.java:37-80)."""
    from nifi_datasynthesizer_spark.io import read_table
    from nifi_datasynthesizer_spark.operators import logs as LG
    from nifi_datasynthesizer_spark.phash import h60_py

    ev = read_table(spark, SF_DIR, "events")
    src = {r.event_id: r for r in
           ev.selectExpr("event_id", "user_id", "event_type",
                         "unix_micros(ts) div 1000 as tms").collect()}
    out = LG.parse_event_lines(LG.format_event_lines(ev)).collect()
    assert len(out) == len(src)
    for r in out:
        s = src[r.event_id]
        assert r.uid == s.user_id
        assert r.op == s.event_type
        assert r.time_ms == s.tms
        hb = h60_py(f"{s.user_id}:ip")
        v = ((hb % 256) << 24 | (hb // 256 % 256) << 16
             | (hb // 65536 % 256) << 8 | (hb // 16777216 % 256))
        expect = v - (1 << 32) if v >= (1 << 31) else v
        assert r.ip_num == expect


def test_event_lines_drops_malformed(spark):
    """Lines that don't match the reference pattern are dropped —
    Event.read() returns null on them (Event.java:62-75)."""
    from nifi_datasynthesizer_spark.operators import logs as LG
    rows = [(1, "[2024-03-01T00:00:00.000+00:00] /buy?user=1f 1.2.3.4"),
            (2, "totally not a log line"),
            (3, "[2024-03-01T00:00:00.000+00:00] missing op"),
            # negative offset exercises the sign branch
            (4, "[2024-02-29T23:30:00.500-01:30] /look?user=ff 128.0.0.1")]
    df = spark.createDataFrame(rows, ["line_id", "log_line"])
    out = {r.line_id: r for r in LG.parse_event_lines(df).collect()}
    assert set(out) == {1, 4}
    assert out[1].uid == 31 and out[1].op == "buy"
    assert out[1].ip_num == (1 << 24 | 2 << 16 | 3 << 8 | 4)
    assert out[4].uid == 255
    # 2024-02-29 (leap day) 23:30:00.500 at -01:30 = 01:00:00.500 UTC Mar 1
    import datetime as dt
    want = int(dt.datetime(2024, 3, 1, 1, 0, 0, 500000,
                           tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert out[4].time_ms == want
    assert out[4].ip_num == (128 << 24) - (1 << 32) + 1  # Java int wrap


def test_upper_quantile_matches_reference_formula(spark):
    """Planted values: compare against a literal driver-side replay of
    UpperQuantile.java (retain top-k, sort ascending, interpolate) —
    including the interpolating (frac > 0) and exact (frac = 0)
    branches and the out-of-retained-range NULL."""
    from nifi_datasynthesizer_spark.operators.sketches import upper_quantile
    import math

    def ref_quantile(values, k, q):
        n = len(values)
        retained = sorted(sorted(values, reverse=True)[:k])
        size = len(retained)
        item = (n - 1) * (1 - q)
        if item > size - 1:
            return None
        pos = size - item
        i = math.floor(pos)
        frac = pos - i
        if frac > 0:
            return retained[i - 1] * (1 - frac) + retained[i] * frac
        return retained[i - 1]

    vals_a = [float(v * 7 % 101) + 0.25 for v in range(57)]   # frac != 0
    vals_b = [float(v) for v in range(11)]                    # n-1 mult of 10
    vals_c = [5.0, 1.0, 9.0]                                  # tiny group
    rows = ([("a", i, v) for i, v in enumerate(vals_a)]
            + [("b", 100 + i, v) for i, v in enumerate(vals_b)]
            + [("c", 200 + i, v) for i, v in enumerate(vals_c)])
    df = spark.createDataFrame(rows, ["g", "eid", "val"])
    out = {r.g: r for r in upper_quantile(
        df, "g", "val", "eid", max_retained=8,
        quantiles=(0.9, 0.99)).collect()}
    for g, vals in (("a", vals_a), ("b", vals_b), ("c", vals_c)):
        assert out[g].n_total == len(vals)
        assert out[g].n_retained == min(8, len(vals))
        for q, col in ((0.9, "p9"), (0.99, "p99")):
            want = ref_quantile(vals, 8, q)
            got = out[g][col]
            if want is None:
                assert got is None, (g, q, got)
            else:
                assert got == want, (g, q, got, want)


def test_fit_sample_deterministic_and_pinned(spark):
    """The codebook fit sample must be the exact h60-predicate subset
    (oracle-replayable), pinned in memory so Lloyd iterations read
    the cache instead of re-scanning the corpus, and fit_mod=1 must
    reproduce the full-fit codebooks bit-for-bit."""
    from nifi_datasynthesizer_spark.operators import clustering as CL
    from nifi_datasynthesizer_spark.phash import h60_py
    import pyspark.sql.functions as SF

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    quant = emb.select("vec_id", CL._quantize(SF.col("embedding"))
                       .alias("xi"))
    full_ids = {r.vec_id for r in quant.select("vec_id").collect()}

    samp = CL._fit_sample(quant, 4)
    ids = {r.vec_id for r in samp.select("vec_id").collect()}
    assert ids == {i for i in full_ids if h60_py(f"{i}:fit") % 4 == 0}
    assert 0 < len(ids) < len(full_ids)
    assert samp.storageLevel.useMemory, "fit sample not pinned"
    assert "InMemoryRelation" in samp._jdf.queryExecution() \
        .optimizedPlan().toString()

    b_full = CL._pq_train(quant, m=4, k=8, iters=1)
    b_mod1 = CL._pq_train(quant, m=4, k=8, iters=1, fit_mod=1)
    assert b_full == b_mod1
    release_caches()


def test_corpus_clean_near_dup_releases_cache(spark):
    """corpus_clean's near-dup pass caches the cleaned corpus; the
    cache must be one release_caches() frees, not a leak."""
    from nifi_datasynthesizer_spark.operators.pipeline import corpus_clean

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    release_caches()
    before = persisted()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = corpus_clean(docs, near_dup_threshold=0.8)
    out.write.format("noop").mode("overwrite").save()
    assert persisted() - before, "near-dup pass cached nothing"
    release_caches()
    assert persisted() - before == set()


def _sql_cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_released_frees_own_pins_when_body_raises(spark):
    """``released()`` unpersists the pins made inside its block also
    when the block raises, and the error propagates."""
    with pytest.raises(RuntimeError, match="planted"):
        with CA.released():
            CA.pin(spark.range(10)).count()
            assert not _sql_cache_empty(spark)
            raise RuntimeError("planted")
    assert _sql_cache_empty(spark)


def test_released_keeps_earlier_pins(spark):
    """Pins made before the block belong to the caller: the block
    releases only its own, release_caches() the rest.  The dedup
    module still re-exports the one release_caches."""
    outer = CA.pin(spark.range(5))
    with CA.released():
        inner = CA.pin(spark.range(7))
    assert outer.storageLevel.useMemory
    assert not inner.storageLevel.useMemory
    DD.release_caches()
    assert not outer.storageLevel.useMemory
    assert _sql_cache_empty(spark)


def test_scratch_dirs_go_with_the_pins(spark):
    """``scratch()`` directories follow the pins: ``released()`` removes
    the ones made inside its block, also when it raises, and
    ``release_caches()`` the rest, so a frame that reads its files
    lazily leaves nothing behind once it is consumed."""
    import os

    outer = CA.scratch()
    assert os.path.basename(outer).startswith("spark_graft_")
    with pytest.raises(RuntimeError, match="planted"):
        with CA.released():
            inner = CA.scratch()
            spark.range(3).write.parquet(inner + "/t")
            raise RuntimeError("planted")
    assert not os.path.exists(inner) and os.path.isdir(outer)
    CA.release_caches()
    assert not os.path.exists(outer)


def test_cut_never_enters_sql_cache(spark):
    """A lineage cut is a local checkpoint, not a cache entry: nothing
    for release_caches() to free, and the values are unchanged."""
    df = spark.range(20).selectExpr("id", "id * 3 AS x")
    cut = CA.cut(df)
    assert _sql_cache_empty(spark)
    assert sorted(cut.collect()) == sorted(df.collect())
    assert _sql_cache_empty(spark)


def test_word_entropy_planted(spark):
    """Exact micro-bit entropies on planted docs: powers of two hit
    the mantissa table exactly (ilog2(2)=1e6, ilog2(4)=2e6)."""
    rows = [(1, "a a b b"),        # H = 1 bit
            (2, "x"),              # H = 0
            (3, "a b c d"),        # H = 2 bits
            (4, "w w w w w w w w"),  # H = 0 (8 copies)
            (5, "   ")]            # wordless -> NULL metrics
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in TX.word_entropy(docs).collect()}
    assert out[1].entropy_micro == 1_000_000 and out[1].n_words == 4
    assert out[2].entropy_micro == 0 and out[2].n_distinct == 1
    assert out[3].entropy_micro == 2_000_000
    assert out[4].entropy_micro == 0 and out[4].ttr_ppm == 125_000
    assert out[5].n_words == 0 and out[5].entropy_micro is None
    assert out[1].ttr_ppm == 500_000


def test_pack_pairs_planted(spark):
    """5 docs in one shard with known lengths: longest pairs with
    shortest, middle is a singleton, fit/padding exact."""
    from nifi_datasynthesizer_spark.operators.curation import pack_pairs
    rows = [(i, " ".join(f"w{j}" for j in range(n)))
            for i, n in [(0, 10), (1, 100), (2, 200), (3, 40), (4, 300)]]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {(r.doc_lo, r.doc_hi): r
           for r in pack_pairs(docs, seq_tokens=256, shards=1).collect()}
    # rank desc: 4(300) 2(200) 1(100) 3(40) 0(10)
    # pairs: (4,0) (2,3) singleton (1)
    assert set(out) == {(0, 4), (2, 3), (1, 1)}
    p = out[(0, 4)]          # 300 + 10 > 256 -> unpacked; 300 truncates
    assert p.packed == 0 and p.padding_tokens == (256 - 10)
    p = out[(2, 3)]          # 200 + 40 <= 256 -> packed
    assert p.packed == 1 and p.padding_tokens == 256 - 240
    p = out[(1, 1)]          # singleton 100
    assert p.packed == 0 and p.padding_tokens == 156
    assert p.doc_lo == p.doc_hi == 1


def test_corpus_balance_equalizes(spark):
    """Groups converge on the smallest group's volume (binomial ±√n)
    and the smallest group is kept whole."""
    from nifi_datasynthesizer_spark.operators.curation import corpus_balance
    rows = ([(i, "big") for i in range(4000)]
            + [(10_000 + i, "mid") for i in range(1000)]
            + [(20_000 + i, "small") for i in range(200)])
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = corpus_balance(docs, "lang").collect()
    kept = {}
    for r in out:
        kept.setdefault(r.lang, 0)
        kept[r.lang] += 1
        assert r.draw_ppm < r.keep_ppm
    assert kept["small"] == 200              # kept whole
    assert abs(kept["big"] - 200) <= 3 * (200 ** 0.5) + 10
    assert abs(kept["mid"] - 200) <= 3 * (200 ** 0.5) + 10


def test_corpus_diff_planted(spark):
    """All four statuses on planted snapshots; punctuation-only edits
    are 'unchanged' (digest normalizes like dedup_exact)."""
    from nifi_datasynthesizer_spark.operators.curation import corpus_diff
    old = spark.createDataFrame(
        [(1, "alpha beta", "s"), (2, "gone now", "s"),
         (3, "same text", "s"), (4, "will change", "s")],
        ["doc_id", "text", "source"])
    new = spark.createDataFrame(
        [(1, "Alpha,  beta!", "s"),       # normalizes equal
         (3, "same text", "s"), (4, "has changed", "s"),
         (5, "brand new", "s")],
        ["doc_id", "text", "source"])
    out = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "removed", 3: "unchanged",
                   4: "changed", 5: "added"}


def test_cdc_apply_planted(spark):
    """Latest op wins, deletes drop keys, same-ts ties break on seq."""
    import datetime as dt
    from nifi_datasynthesizer_spark.operators.temporal import cdc_apply
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [("a", t(1), 1, "insert"), ("a", t(2), 2, "update"),
            ("b", t(1), 3, "insert"), ("b", t(5), 4, "delete"),
            ("c", t(3), 5, "insert"), ("c", t(3), 6, "update"),
            ("d", t(9), 7, "delete"), ("d", t(9), 8, "insert")]
    ch = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "op"])
    out = {r.user_id: r for r in
           cdc_apply(ch, seq_col="event_id").collect()}
    assert set(out) == {"a", "c", "d"}          # b deleted
    assert out["a"].last_op == "update" and out["a"].n_changes == 2
    assert out["c"].last_seq == 6               # same-ts: higher seq wins
    assert out["d"].last_op == "insert"         # seq 8 beats delete seq 7


def test_last_touch_attribution_planted(spark):
    """Lookback bound, strict (ts,id) visibility, and unattributed
    conversions on a planted timeline."""
    import datetime as dt
    from nifi_datasynthesizer_spark.operators.temporal import \
        last_touch_attribution
    t = lambda d, s=0: dt.datetime(2024, 1, 1 + d, 0, 0, s)
    rows = [
        # u1: click then purchase next day -> attributed to the click
        (1, t(0), 10, "click", 1.0),
        (1, t(1), 11, "purchase", 9.99),
        # u1: second purchase 8 days after the click -> out of window
        (1, t(9), 12, "purchase", 5.0),
        # u2: view at the SAME timestamp, smaller id -> visible
        (2, t(0, 30), 20, "view", 0.0),
        (2, t(0, 30), 21, "purchase", 3.0),
        # u2: later click does NOT attribute the earlier purchase
        (2, t(2), 22, "click", 0.0),
        # u3: purchase with no touches at all
        (3, t(0), 30, "purchase", 7.5),
    ]
    ev = spark.createDataFrame(
        rows, ["user_id", "ts", "event_id", "event_type", "value"])
    out = {r.conv_id: r for r in last_touch_attribution(ev).collect()}
    assert set(out) == {11, 12, 21, 30}
    assert out[11].touch_id == 10 and out[11].touch_type == "click"
    assert out[11].value_cents == 999
    assert out[12].touch_id is None          # click 8 days old
    assert out[21].touch_id == 20            # same-ts smaller id visible
    assert out[30].touch_id is None          # direct traffic


def test_last_touch_attribution_plan(spark):
    """The attribution plan is ONE user-key exchange and zero joins —
    the inequality self-join shape must not appear."""
    from nifi_datasynthesizer_spark.io import read_table
    from nifi_datasynthesizer_spark.operators.temporal import \
        last_touch_attribution
    ev = read_table(spark, SF_DIR, "events")
    plan = last_touch_attribution(ev)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2       # key shuffle (+AQE read)


def test_corpus_token_budget_planted(spark):
    """Every source's kept token sum is <= the smallest source's
    total; the smallest source is kept whole; admission follows the
    hash-priority prefix order."""
    from nifi_datasynthesizer_spark.operators.curation import \
        corpus_token_budget
    from nifi_datasynthesizer_spark.phash import h60_py
    rows = [(i, " ".join(["w"] * (3 + i % 5)),
             "big" if i < 40 else "small") for i in range(52)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = corpus_token_budget(docs).collect()
    release_caches()
    toks = {i: 3 + i % 5 for i in range(52)}
    small_total = sum(toks[i] for i in range(40, 52))
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    assert sum(r.n_tokens for r in by_src["small"]) == small_total
    assert len(by_src["small"]) == 12              # kept whole
    big_sum = sum(r.n_tokens for r in by_src["big"])
    assert big_sum <= small_total
    # prefix property: kept big docs are exactly the first ones in
    # (h60(id:13), id) order whose running sum fits the budget
    order = sorted(range(40), key=lambda i: (h60_py(f"{i}:13"), i))
    run, expect = 0, set()
    for i in order:
        if run + toks[i] > small_total:
            break
        run += toks[i]
        expect.add(i)
    assert {r.doc_id for r in by_src["big"]} == expect
    assert big_sum == run


def test_corpus_token_budget_plan(spark):
    """The corpus-side joins are broadcast (tiny level/boundary
    frames) — no sort-merge join, and the only window sorts are over
    the tiny CDF frame and the boundary sliver."""
    from nifi_datasynthesizer_spark.io import read_table
    from nifi_datasynthesizer_spark.operators.curation import \
        corpus_token_budget
    docs = read_table(spark, SF_DIR, "documents")
    plan = corpus_token_budget(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    release_caches()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_corpus_overlap_planted(spark):
    """Planted containment: source b's gram set is a subset of a's,
    c shares nothing."""
    from nifi_datasynthesizer_spark.operators.curation import corpus_overlap
    rows = [(0, "one two three four five six", "a"),
            (1, "one two three four", "b"),
            (2, "seven eight nine ten eleven", "c")]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.src_a, r.src_b): r for r in corpus_overlap(docs, k=3).collect()}
    release_caches()
    # a: 4 trigrams, b: 2 trigrams (both also in a), c: 3 disjoint
    assert set(out) == {("a", "b")}
    r = out[("a", "b")]
    assert (r.n_a, r.n_b, r.inter) == (4, 2, 2)
    assert r.contain_b_ppm == 1_000_000       # b fully inside a
    assert r.jaccard_ppm == 500_000


def test_corpus_overlap_plan(spark):
    """One distinct pass over the exploded grams; the intersection is
    the posting-list fold, not a gram-key self-join (no SortMergeJoin,
    size joins broadcast)."""
    from nifi_datasynthesizer_spark.io import read_table
    from nifi_datasynthesizer_spark.operators.curation import corpus_overlap
    docs = read_table(spark, SF_DIR, "documents")
    plan = corpus_overlap(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    release_caches()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2


def test_identity_edges_and_components_planted(spark):
    """Chain edges preserve components without cliques; hot keys are
    dropped; components label by min node."""
    import datetime as dt
    from nifi_datasynthesizer_spark.operators.graph import (
        components, identity_edges)
    t = dt.datetime(2024, 1, 1)
    # key 1.00: users 1,2,3 -> chain (1,2),(2,3).  key 2.00: users
    # 4,5.  key 3.00 shared by 5 users -> dropped (hot).  key 4.00:
    # single holder -> no edge.  user 3 also shares 2.00? no — keep
    # components {1,2,3} and {4,5} disjoint.
    rows = ([(i, t, u, "purchase", 1.00, "") for i, u in
             enumerate([1, 2, 3])]
            + [(10 + i, t, u, "purchase", 2.00, "") for i, u in
               enumerate([4, 5])]
            + [(20 + i, t, u, "purchase", 3.00, "") for i, u in
               enumerate([6, 7, 8, 9, 10])]
            + [(30, t, 11, "purchase", 4.00, "")])
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"])
    edges = {(r.a, r.b) for r in identity_edges(ev).collect()}
    assert edges == {(1, 2), (2, 3), (4, 5)}     # chain, no (1,3) clique edge
    comp = {r.node: r.component for r in
            components(identity_edges(ev)).collect()}
    release_caches()
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_frequent_sequences_planted(spark):
    """n-gram counts, window-end exclusion, deterministic ties."""
    import datetime as dt
    from nifi_datasynthesizer_spark.operators.temporal import \
        frequent_sequences
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = ([(i, t(i), 1, e, 0.0, "") for i, e in
             enumerate(["a", "b", "c", "a", "b", "c"])]
            + [(10 + i, t(i), 2, e, 0.0, "") for i, e in
               enumerate(["a", "b"])])          # too short for trigram
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"])
    out = {r.seq: r for r in frequent_sequences(ev, n=3, top_k=10).collect()}
    assert {s: r.support for s, r in out.items()} == \
        {"a>b>c": 2, "b>c>a": 1, "c>a>b": 1}
    assert out["a>b>c"].rank == 1
    assert out["b>c>a"].rank == 2               # count tie breaks on seq
    assert out["a>b>c"].support_ppm == 500_000


def test_ams_f2_estimates(spark):
    """Exact F2 matches by construction; the sketch estimate is
    within a constant factor on a skewed planted distribution."""
    import datetime as dt
    from nifi_datasynthesizer_spark.operators.sketches import ams_f2
    t = dt.datetime(2024, 1, 1)
    # group g: user 1 appears 8x, users 2..5 once -> F2 = 64 + 4 = 68
    rows = ([(i, t, 1, "g", 0.0, "") for i in range(8)]
            + [(10 + u, t, u, "g", 0.0, "") for u in range(2, 6)])
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"])
    r = ams_f2(ev, estimators=16).collect()[0]
    release_caches()
    assert r.exact_f2 == 68 and r.n_keys == 5
    assert 0 < r.est_f2 <= 68 * 4               # median-of-16 bound (loose)


def test_corpus_curriculum_planted(spark):
    """Value-quantile staging: equal lengths share a stage, stages
    are monotone in length, boundary rule is CDF >= q*N/stages."""
    from nifi_datasynthesizer_spark.operators.curation import \
        corpus_curriculum
    # lengths: 1,1,2,2,3,3,4,4 -> quartile bounds b1=1, b2=2, b3=3
    rows = [(i, " ".join(["w"] * (1 + i // 2))) for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.stage for r in corpus_curriculum(docs).collect()}
    release_caches()
    assert out == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 2, 6: 3, 7: 3}


def test_dwell_times_planted(spark):
    """Gap micros, per-transition aggregation, floor mean."""
    import datetime as dt
    from nifi_datasynthesizer_spark.operators.temporal import dwell_times
    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [(0, t(0), 1, "a", 0.0, ""), (1, t(10), 1, "b", 0.0, ""),
            (2, t(13), 1, "a", 0.0, ""), (3, t(20), 1, "b", 0.0, "")]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"])
    out = {(r.src, r.dst): r for r in dwell_times(ev).collect()}
    assert out[("a", "b")].n == 2
    assert out[("a", "b")].total_us == 17_000_000
    assert out[("a", "b")].mean_us == 8_500_000
    assert out[("b", "a")].min_us == 3_000_000


def test_knn_graph_mutual(spark):
    """Top-k bound, mutual symmetry, and self-edges excluded on the
    real embeddings table."""
    from nifi_datasynthesizer_spark.io import read_table
    from nifi_datasynthesizer_spark.operators.similarity import knn_graph
    emb = read_table(spark, SF_DIR, "embeddings").limit(200)
    edges = knn_graph(emb, k=3).collect()
    release_caches()
    assert edges, "graph should be non-empty"
    eset = {(r.src, r.dst) for r in edges}
    per_src = {}
    for r in edges:
        assert r.src != r.dst
        per_src.setdefault(r.src, []).append(r.rank)
        # mutual flag is exactly reverse-edge membership
        assert r.mutual == ((r.dst, r.src) in eset)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in per_src.values())
    assert max(len(v) for v in per_src.values()) <= 3


def test_similarity_identifier_gate(spark):
    """dot / l2_normalize interpolate column names into SQL only for
    plain identifiers, backtick-quoted: a leading-digit name ("1col")
    takes the Column path instead of failing to parse, and a name that
    is also a paren-less function ("current_date") still resolves to
    the column.  Both paths give the fold's values."""
    import math

    from nifi_datasynthesizer_spark.operators import similarity as S

    assert S._ident_ok("current_date") and S._ident_ok("_v1")
    assert not S._ident_ok("1col") and not S._ident_ok("l.v")
    a = [float(k % 7) - 3.0 for k in range(S.EMBED_DIM)]
    b = [0.5 * k for k in range(S.EMBED_DIM)]
    df = spark.createDataFrame([(a, b), (a[:3], b[:3])],
                               "`1col` array<double>, "
                               "current_date array<double>")
    want = [sum(x * y for x, y in zip(a, b)),
            sum(x * y for x, y in zip(a[:3], b[:3]))]
    for x, y in (("1col", "current_date"), ("current_date", "1col")):
        got = [r[0] for r in df.select(S.dot(x, y)).collect()]
        assert got == want
    norm = [r[0] for r in df.select(S.l2_normalize("current_date"))
            .collect()]
    n = math.sqrt(sum(v * v for v in b))
    assert norm[0] == [v / n for v in b]
    short = df.selectExpr(
        "0 AS id", "slice(`current_date`, 1, 3) AS `current_date`")
    rows = S.quantize_int8(short, vec_col="current_date", id_col="id",
                           dim=3).collect()
    assert len(rows) == 2


def test_streaming_cdc_state_planted(spark):
    """The stateful CDC fold equals the batch struct-max on a planted
    multi-batch changelog (replayed one file per micro-batch)."""
    import tempfile

    from nifi_datasynthesizer_spark import streaming as ST
    with tempfile.TemporaryDirectory() as d:
        rows1 = [("a", 1, 1, "insert"), ("b", 1, 2, "insert")]
        rows2 = [("a", 5, 3, "update"), ("b", 5, 4, "delete"),
                 ("a", 5, 2, "update")]          # same-ts: seq 3 wins
        cols = ["key", "tus", "seq", "op"]
        spark.createDataFrame(rows1, cols).coalesce(1) \
            .write.parquet(f"{d}/f1")
        spark.createDataFrame(rows2, cols).coalesce(1) \
            .write.parquet(f"{d}/f2")
        import os
        import shutil
        import glob as g
        stage = f"{d}/stage"
        os.mkdir(stage)
        for i, src in enumerate(sorted(g.glob(f"{d}/f*/part-*.parquet"))):
            shutil.copy(src, f"{stage}/{i}.parquet")
        schema = spark.read.parquet(f"{stage}").schema
        st = ST.file_stream(spark, stage, schema)
        out = ST.cdc_state(st)
        tbl = ST.run_bounded(out, "t_cdc_state", output_mode="update")
        from pyspark.sql import functions as F
        final = {r.key: r for r in
                 tbl.groupBy("key")
                 .agg(F.max_by(F.struct("last_tus", "last_seq", "last_op"),
                               "n_changes").alias("s"),
                      F.max("n_changes").alias("n")).select(
                          "key", "s.*", "n").collect()}
        assert final["a"].last_seq == 3 and final["a"].last_op == "update"
        assert final["a"].n == 3
        assert final["b"].last_op == "delete" and final["b"].n == 2


def test_segment_audio_windows(spark):
    """Window arithmetic: overlap, tail clipping, minimum one window,
    audio-only fan-out."""
    from nifi_datasynthesizer_spark.operators import multimodal as MM
    media = MM.synth_media(spark, n=12, seed=3)
    segs = MM.segment_audio(media, win_ms=5000, hop_ms=2500).collect()
    assert all(r.media_id % 3 == 1 for r in segs)        # audio only
    by_id = {}
    for r in segs:
        by_id.setdefault(r.media_id, []).append(r)
    for mid, rows in by_id.items():
        dur = mid % 60000
        rows.sort(key=lambda r: r.seg_idx)
        assert rows[0].seg_start_ms == 0
        assert len(rows) == max(dur - 5000, 0) // 2500 + 1
        for r in rows:
            assert r.seg_end_ms == min(r.seg_start_ms + 5000, dur)
    # duration 1 ms (media_id 1): one clipped window
    assert len(by_id[1]) == 1 and by_id[1][0].seg_end_ms == 1


def test_corpus_filter_report_planted(spark):
    """Sequential funnel semantics: a doc failing an early rule is
    not double-counted by later rules it also fails."""
    from nifi_datasynthesizer_spark.operators.curation import \
        corpus_filter_report
    rows = [
        (0, "good doc with several plain words here"),
        (1, "tiny"),                                  # too_short only
        (2, "a b"),                                   # too_short (not counted again)
        (3, "supercalifragilisticexpialidocious anotherextremelylongword "
            "thirdgiganticwordhere fourthverylongwordtoken fifthlongword"),
        (4, "1234 5678 9012 3456 78 90123456789 111 ok"),  # digit_heavy
        (5, "dup dup dup dup dup dup dup words x"),    # low_diversity
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.rule: r for r in corpus_filter_report(docs).collect()}
    assert out["too_short"].n_dropped == 2
    assert out["long_words"].n_dropped == 1
    assert out["digit_heavy"].n_dropped == 1
    assert out["low_diversity"].n_dropped == 1
    assert out["low_diversity"].n_remaining == 1      # only doc 0 survives


def test_rolling_active_users_planted(spark):
    """WAU counts a user once per trailing window regardless of event
    count; DAU is same-day distinct; report days only where events
    exist."""
    import datetime as dt
    from nifi_datasynthesizer_spark.operators.temporal import \
        rolling_active_users
    d = lambda day, h=0: dt.datetime(2024, 1, day, h)
    rows = [(0, d(1), 1, "a", 0.0, ""), (1, d(1, 5), 1, "a", 0.0, ""),
            (2, d(1), 2, "a", 0.0, ""),
            (3, d(5), 2, "a", 0.0, ""),
            (4, d(9), 3, "a", 0.0, "")]
    ev = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"])
    out = {str(r.day): r for r in rolling_active_users(ev).collect()}
    assert set(out) == {"2024-01-01", "2024-01-05", "2024-01-09"}
    assert out["2024-01-01"].dau == 2 and out["2024-01-01"].wau == 2
    # Jan 5 window covers Jan 1 (users 1, 2) + Jan 5 (user 2) -> 2
    assert out["2024-01-05"].dau == 1 and out["2024-01-05"].wau == 2
    # Jan 9 window covers Jan 5 (user 2) + Jan 9 (user 3); Jan 1 aged out
    assert out["2024-01-09"].dau == 1 and out["2024-01-09"].wau == 2


def test_corpus_upsample_factors(spark):
    """Whole copies exact, fractional copies hash-gated, default 1x,
    sub-1 factors behave like sampling."""
    from nifi_datasynthesizer_spark.operators.curation import \
        corpus_upsample
    from nifi_datasynthesizer_spark.phash import h60_py
    rows = [(i, "t", "a" if i < 40 else ("b" if i < 60 else "c"))
            for i in range(100)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = corpus_upsample(docs, {"a": 2.5, "b": 0.25}).collect()
    per_doc = {}
    for r in out:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
        assert 0 <= r.copy_idx < per_doc[r.doc_id]
    for i in range(100):
        frac_hit = h60_py(f"{i}:17") % 1_000_000
        if i < 40:        # a: 2 or 3 copies
            want = 2 + (1 if frac_hit < 500_000 else 0)
        elif i < 60:      # b: 0 or 1 copy
            want = 1 if frac_hit < 250_000 else 0
        else:             # default 1.0: exactly one copy
            want = 1
        assert per_doc.get(i, 0) == want, i


def test_ann_recall_eval_bounds(spark):
    """recall_ppm in [0, 1e6]; self-consistency: evaluating
    brute-force against itself would be 1e6 — LSH on the real table
    is strictly positive on average."""
    from nifi_datasynthesizer_spark.io import read_table
    from nifi_datasynthesizer_spark.operators.similarity import \
        ann_recall_eval
    emb = read_table(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id < 20")
    rows = ann_recall_eval(emb, queries, k=10).collect()
    assert len(rows) == 20
    assert all(0 <= r.recall_ppm <= 1_000_000 for r in rows)
    assert all(r.recall_ppm == r.n_hits * 100_000 for r in rows)
    assert sum(r.n_hits for r in rows) > 0


def test_phash_pairs_planted(spark):
    """Exact duplicate payloads collide at Hamming 0; the band
    guarantee finds every pair within max_hamming of a shared band."""
    from nifi_datasynthesizer_spark.operators import multimodal as MM
    media = MM.synth_media(spark, n=60, seed=9, payload_universe=30)
    feats = MM.extract_features(media, dim=16)
    pairs = MM.phash_pairs(feats, dim=16, bands=4, max_hamming=2).collect()
    zero = {(r.a, r.b) for r in pairs if r.hamming == 0}
    # payload universe 30 over 60 ids -> (i, i+30) share payload bytes
    assert {(i, i + 30) for i in range(30)} <= zero
    assert all(r.a < r.b and 0 <= r.hamming <= 2 for r in pairs)


def test_interleave_stripes(spark):
    """While every source is still live, each consecutive
    n_sources-wide position block holds one doc of each source, and
    positions are globally unique."""
    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark.operators.curation import \
        interleave_sources
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = interleave_sources(docs, shards=8).collect()
    ns = docs.select("source").distinct().count()
    assert len({r.pos for r in out}) == len(out)
    # pos % ns identifies the source slot — the stripe invariant
    slot = {}
    for r in out:
        slot.setdefault(r.source, set()).add(r.pos % ns)
    assert all(len(s) == 1 for s in slot.values())
    # the first block (smallest per-source pos) covers distinct slots
    assert len({min(s) for s in slot.values()}) == ns


def test_weighted_sample_bias(spark):
    """Priority sampling must over-represent heavy documents: the
    mean weight of the selected k exceeds the corpus mean."""
    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark.operators.curation import \
        weighted_sample
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sel = weighted_sample(docs, k=50)
    mean_sel = sel.agg(F.avg("weight")).collect()[0][0]
    mean_all = docs.select(
        F.greatest(F.size(F.split(F.trim(F.col("text")), r"\s+")),
                   F.lit(1)).alias("w")).agg(F.avg("w")).collect()[0][0]
    assert mean_sel > mean_all


def test_span_corruption_roundtrip(spark):
    """The defining invariant of span corruption: substituting each
    sentinel in the input with its target span reconstructs the
    original document exactly, and span/word accounting matches."""
    import re

    from nifi_datasynthesizer_spark.operators.curation import \
        span_corruption
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = span_corruption(docs).join(
        docs.select("doc_id", "text"), "doc_id").collect()
    assert any(r.n_spans > 0 for r in out)
    for r in out:
        spans = {}
        # parse target: "<extra_id_0> w1 w2 <extra_id_1> w7 ..."
        toks = re.split(r"(<extra_id_\d+>)", r.target)
        cur = None
        for t in toks:
            m = re.fullmatch(r"<extra_id_(\d+)>", t)
            if m:
                cur = int(m.group(1))
                spans[cur] = []
            elif cur is not None and t.strip():
                spans[cur].extend(t.split())
        rebuilt = []
        for t in r.input.split(" ") if r.input else []:
            m = re.fullmatch(r"<extra_id_(\d+)>", t)
            if m:
                rebuilt.extend(spans[int(m.group(1))])
            else:
                rebuilt.append(t)
        assert rebuilt == r.text.strip().split(), r.doc_id
        assert len(spans) == r.n_spans


def test_fim_roundtrip(spark):
    """PSM reorder is lossless: prefix + middle + suffix (in that
    document order) reconstructs the original word sequence."""
    from nifi_datasynthesizer_spark.operators.curation import \
        fim_transform
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = fim_transform(docs).join(
        docs.select("doc_id", "text"), "doc_id").collect()
    assert any(0 < r.cut_lo < r.cut_hi < r.n_words for r in out)
    for r in out:
        body = r.fim.split("<PRE> ", 1)[1]
        pre, rest = body.split(" <SUF> ", 1)
        suf, mid = rest.split(" <MID> ", 1)
        rebuilt = (pre.split() + mid.split() + suf.split())
        assert rebuilt == r.text.strip().split(), r.doc_id


def test_label_prop_refines_components(spark):
    """Label propagation can only split within connectivity: every
    LPA community must be contained in exactly one connected
    component (communities refine components, never bridge them)."""
    from nifi_datasynthesizer_spark.operators.dedup import dedup_minhash
    from nifi_datasynthesizer_spark.operators.graph import (
        components, label_propagation)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup_minhash(docs, num_hashes=64, bands=16,
                          jaccard_threshold=0.5).persist()
    comm = {r.node: r.community
            for r in label_propagation(pairs, iters=3).collect()}
    comp = {r.node: r.component for r in components(pairs).collect()}
    pairs.unpersist()
    release_caches()
    assert set(comm) == set(comp)
    comp_of_comm = {}
    for node, c in comm.items():
        comp_of_comm.setdefault(c, set()).add(comp[node])
    assert all(len(s) == 1 for s in comp_of_comm.values())


def test_multiprobe_dominates_single_probe(spark):
    """Multi-probe candidates are a superset of single-probe's and the
    re-rank is exact, so per-query recall@k vs brute-force truth can
    only rise — and on this corpus it must rise somewhere."""
    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark.operators import similarity as SIM
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 30)
    truth = {(r.query_id, r.cand_id)
             for r in SIM.ann_bruteforce(emb, qs, k=10).collect()}
    single = {(r.query_id, r.cand_id)
              for r in SIM.ann_lsh(emb, qs, k=10).collect()}
    multi = {(r.query_id, r.cand_id)
             for r in SIM.ann_lsh_multiprobe(emb, qs, k=10).collect()}
    r1 = len(truth & single)
    r2 = len(truth & multi)
    assert r2 >= r1
    assert r2 > r1  # 6 extra probes must recover some lost neighbors


def test_kcore_planted(spark):
    """Bounded k-core peel on a hand-built graph: a 4-clique (every
    node degree 3) survives a 2-core peel intact; a pendant chain
    hanging off it peels away completely within the round budget."""
    from nifi_datasynthesizer_spark.operators.graph import kcore
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    chain = [(3, 10), (10, 11), (11, 12)]
    pairs = spark.createDataFrame(clique + chain, ["a", "b"])
    got = {r.node: r.deg for r in kcore(pairs, k=2, rounds=3).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    # k above the clique degree empties the graph
    assert kcore(pairs, k=4, rounds=3).count() == 0


def test_grid_density_matches_near_pairs_grid(spark):
    """grid_density counts on EXACTLY near_pairs' cell function: a
    cell of n co-located points implies C(n,2) within-cell candidate
    pairs, and points straddling a cell edge land in different
    cells."""
    from nifi_datasynthesizer_spark.operators import geo as GEO
    pts = spark.createDataFrame(
        [(1, 10.0001, 20.0001), (2, 10.0002, 20.0002),
         (3, 10.0003, 20.0003),           # 3 points in one 0.05° cell
         (4, 10.0601, 20.0001),           # next cell north
         (5, -10.0001, -20.0001)],        # negative coords floor down
        ["pid", "lat", "lon"])
    got = {(r.cx, r.cy): r.n_points
           for r in GEO.grid_density(pts, cell_udeg=50_000).collect()}
    assert got[(400, 200)] == 3
    assert got[(400, 201)] == 1
    # floor(-20000100 / 50000) = -401 (floored, not truncated)
    assert got[(-401, -201)] == 1
    assert GEO.grid_density(pts, cell_udeg=50_000,
                            min_points=2).count() == 1


def test_column_stats_exact(spark):
    """One-pass stats: exact ndv/nulls/min/max per column, string
    rendering, stack unpivot row per column."""
    from nifi_datasynthesizer_spark.io import column_stats
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (2, "a")],
        "k long, s string")
    got = {r.col: r for r in column_stats(df, ["k", "s"]).collect()}
    k, s = got["k"], got["s"]
    assert (k.n_non_null, k.n_null, k.ndv, k.min_s, k.max_s) == \
        (4, 0, 3, "1", "3")
    assert (s.n_non_null, s.n_null, s.ndv, s.min_s, s.max_s) == \
        (3, 1, 2, "a", "b")


def test_ann_range_threshold_and_bruteforce_consistency(spark):
    """Range search at threshold t must return exactly the brute-force
    pairs with cosine >= t (same rounding, same exclusion of self)."""
    from pyspark.sql import functions as F

    from nifi_datasynthesizer_spark.operators import similarity as SIM
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 8)
    rng = {(r.query_id, r.cand_id, r.cosine)
           for r in SIM.ann_range(emb, qs, min_cosine=0.2).collect()}
    # brute force with a huge k = the full scored set
    full = {(r.query_id, r.cand_id, r.cosine)
            for r in SIM.ann_bruteforce(emb, qs, k=10**6).collect()
            if r.cosine >= 0.2}
    assert rng == full and len(rng) > 0


def test_bigram_boilerplate_planted(spark):
    """Three docs sharing one bigram ('alpha beta'), each with two
    unique bigrams: at min_df=3 only the shared bigram is 'common',
    so every doc scores 1 common of 3 bigrams = 333333 ppm; at
    min_df=4 nothing is common."""
    from nifi_datasynthesizer_spark.operators.text import \
        bigram_boilerplate
    docs = spark.createDataFrame(
        [(1, "alpha beta one two"), (2, "alpha beta three four"),
         (3, "alpha beta five six")], ["doc_id", "text"])
    got = {r.doc_id: (r.n_bigrams, r.n_common, r.common_ppm)
           for r in bigram_boilerplate(docs, min_df=3).collect()}
    assert got == {1: (3, 1, 333333), 2: (3, 1, 333333),
                   3: (3, 1, 333333)}
    none = bigram_boilerplate(docs, min_df=4)
    assert all(r.n_common == 0 for r in none.collect())


@pytest.mark.parametrize("seed", [11, 29, 83])
def test_assign_two_level_random_configs(spark, seed):
    """Randomized robustness across centroid geometries (seeded, not
    hypothesis — each example is a Spark job): full probe is always
    bit-identical to the flat argmin, and NARROW probe always yields
    a valid member assignment (cluster >= 0, dist_q from a scanned
    member — never the int64-max sentinel), empty supers or not."""
    import random

    from nifi_datasynthesizer_spark.operators import clustering as CL
    rng = random.Random(seed)
    k = rng.choice([9, 12, 16])
    dim = rng.choice([2, 4])
    # clumpy centroids (duplicates + near-duplicates) maximize the
    # chance of empty supers after the internal Lloyd passes
    base = [[rng.randint(-30, 30) for _ in range(dim)]
            for _ in range(max(2, k // 3))]
    cents = [list(rng.choice(base)) for _ in range(k)]
    rows = [(i, [rng.randint(-40, 40) for _ in range(dim)])
            for i in range(120)]
    quant = spark.createDataFrame(rows, "vec_id long, xi array<bigint>")
    flat = {r.vec_id: (r.cluster, r.dist_q)
            for r in CL._assign(quant, cents).collect()}
    full = {r.vec_id: (r.cluster, r.dist_q)
            for r in CL.assign_two_level(quant, cents,
                                         probe_supers=k).collect()}
    assert full == flat
    narrow = {r.vec_id: (r.cluster, r.dist_q)
              for r in CL.assign_two_level(quant, cents,
                                           probe_supers=1).collect()}
    assert len(narrow) == 120
    assert all(c >= 0 and d < (1 << 62) for c, d in narrow.values())
    # narrow probing searches a subset: never better than flat
    assert all(narrow[v][1] >= flat[v][1] for v in flat)


def test_column_stats_sketch_and_validation(spark):
    """Sketch mode: all-null column estimates 0, low-cardinality
    columns estimate exactly (linear counting is exact when every
    distinct lands in its own register band), non-ndv stats match the
    exact mode, and non-identifier column names are rejected up front
    (they would otherwise be interpolated into stack() SQL)."""
    from nifi_datasynthesizer_spark.io import column_stats
    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", None), (3, None, None), (2, "a", None)],
        "k long, s string, z string")
    got = {r.col: r for r in
           column_stats(df, ["k", "s", "z"], ndv_mode="sketch").collect()}
    exact = {r.col: r for r in column_stats(df, ["k", "s", "z"]).collect()}
    assert got["z"].ndv == 0 and got["z"].n_non_null == 0
    for c in ("k", "s", "z"):
        assert (got[c].n_non_null, got[c].n_null, got[c].min_s,
                got[c].max_s) == (exact[c].n_non_null, exact[c].n_null,
                                  exact[c].min_s, exact[c].max_s)
        # tiny cardinalities sit deep in the linear-counting regime:
        # the estimate equals the exact count unless two values
        # collide into one register (4 values over 64 registers)
        assert abs(got[c].ndv - exact[c].ndv) <= 1
    with pytest.raises(ValueError, match="identifier"):
        column_stats(df, ["k`; DROP TABLE x; --"])
    with pytest.raises(ValueError, match="ndv_mode"):
        column_stats(df, ["k"], ndv_mode="bogus")


def test_canonical_url_rules(spark):
    """Each canonicalization rule in isolation: scheme/host case,
    default vs non-default port, fragment, trailing slash, tracking
    params, param sort order."""
    from nifi_datasynthesizer_spark.operators.curation import \
        canonical_url
    rows = [
        ("HTTPS://WWW.Ex.COM:443/A/", "https://www.ex.com/A"),
        ("http://ex.com:80/p", "http://ex.com/p"),
        ("http://ex.com:8080/p", "http://ex.com:8080/p"),
        ("https://ex.com/p#frag", "https://ex.com/p"),
        ("https://ex.com/p?utm_source=x&b=2&a=1&gclid=9",
         "https://ex.com/p?a=1&b=2"),
        ("https://ex.com/p?utm_source=x", "https://ex.com/p"),
        ("https://ex.com/", "https://ex.com"),
        # scheme-less inputs pass through VERBATIM (r11 ADVICE fix:
        # they used to all collapse to the key '://')
        ("//ex.com/p", "//ex.com/p"),
        ("ex.com/p?utm_source=x", "ex.com/p?utm_source=x"),
        ("relative/path", "relative/path"),
        ("", ""),
    ]
    df = spark.createDataFrame([(u,) for u, _ in rows], ["url"])
    got = [r[0] for r in
           df.select(canonical_url(F.col("url"))).collect()]
    assert got == [want for _, want in rows]


def test_url_dedup_schemeless_not_grouped(spark):
    """Distinct scheme-less rows must NOT be reported as duplicates of
    each other, while identical scheme-less strings still group, and
    the tracking predicate derives from TRACKING_PARAMS (so editing
    the constant is load-bearing, not decorative)."""
    from nifi_datasynthesizer_spark.operators.curation import (
        TRACKING_PARAMS, tracking_param_prefixes, url_dedup)
    assert tracking_param_prefixes() == [
        "utm_", "fbclid=", "gclid=", "msclkid=", "ref_src="]
    assert len(tracking_param_prefixes()) == len(TRACKING_PARAMS)
    rows = [(0, "a.com/x"), (1, "b.com/y"), (2, "//c.com/z"),
            (3, "a.com/x"),                       # exact dup of 0
            (4, "https://d.com/p"), (5, "HTTPS://D.COM:443/p/")]
    df = spark.createDataFrame(rows, ["rec_id", "url"])
    got = {r.canonical_url: (r.n_occ, r.first_rec) for r in
           url_dedup(df).collect()}
    assert got == {"a.com/x": (2, 0), "https://d.com/p": (2, 4)}


def test_longest_repeated_span_planted(spark):
    """Binary-search w-free form: the planted 6-token shared span is
    the maximum (the 3-token decoy repeats too but is shorter), the
    readout reports ALL spans at the maximal length with the standard
    counts, and a corpus with no cross-doc repeat returns an EMPTY
    frame with the declared schema."""
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, f"{shared} one two"),
        (1, f"zero {shared} three"),
        (2, "red green blue unrelated words"),
        (3, "also red green blue here"),          # 3-token decoy
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = DD.longest_repeated_span(docs, min_docs=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r.span == shared and r.span_len == 6
    assert r.n_docs == 2 and r.n_occ == 2 and r.first_doc == 0
    empty = spark.createDataFrame(
        [(0, "aa bb cc"), (1, "dd ee ff")], ["doc_id", "text"])
    got = DD.longest_repeated_span(empty, min_docs=2)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == [
        "span", "span_len", "n_docs", "n_occ", "first_doc"]


def test_longest_repeated_span_collision_fallback(spark, monkeypatch):
    """r12: the binary search probes on xxhash64 of the token slice
    (8-byte shuffle keys instead of span strings).  Hash merging can
    only INFLATE a probe's distinct-doc count, so a False probe is
    proof; a lying True probe must be caught by the exact readout and
    the search must recover the exact answer below it.  Force the
    worst case — EVERY span hashes identically — and require the
    bit-exact result the string probes produce."""
    from pyspark.sql import functions as SF

    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (0, f"{shared} one two"),
        (1, f"zero {shared} three"),
        (2, "red green blue unrelated words"),
        (3, "also red green blue here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    expect = sorted(map(tuple, DD.longest_repeated_span(
        docs, min_docs=2).collect()))
    monkeypatch.setattr(SF, "xxhash64",
                        lambda *cols: SF.lit(0).cast("long"))
    got = sorted(map(tuple, DD.longest_repeated_span(
        docs, min_docs=2).collect()))
    assert got == expect and len(got) == 1 and got[0][0] == shared


def test_longest_repeated_span_within_doc_excluded(spark):
    """min_docs counts DISTINCT documents: a long span repeated twice
    inside ONE doc does not qualify; the shorter cross-doc span
    wins."""
    big = "p q r s t u v w"
    rows = [(0, f"{big} mid {big}"),              # within-doc only
            (1, "x y z tail one"), (2, "head x y z two")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = DD.longest_repeated_span(docs, min_docs=2).collect()
    assert len(out) == 1 and out[0].span == "x y z"         and out[0].span_len == 3


def test_repeated_substrings_planted(spark):
    """n_docs counts distinct docs (a doc repeating a span alone does
    not qualify), n_occ counts every occurrence, and short docs are
    skipped rather than erroring."""
    shared = "alpha beta gamma delta"          # 4-token shared span
    rows = [
        (0, f"{shared} one two three"),
        (1, f"zero {shared} four five"),
        (2, f"{shared} padding words {shared}"),   # twice in one doc
        (3, "tiny doc"),                            # < w tokens
        (4, "unrelated words entirely here now"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.span: r for r in
           DD.repeated_substrings(docs, w=4, min_docs=2).collect()}
    assert shared in out
    r = out[shared]
    assert (r.n_docs, r.n_occ, r.first_doc) == (3, 4, 0)
    # every reported span really is in >= 2 docs
    assert all(v.n_docs >= 2 for v in out.values())


def test_neighbor_jaccard_hand_graph(spark):
    """Hand-checked: star a-(c,d), b-(c,d) → pair (a,b) shares both
    neighbors; deg(a)=deg(b)=2 → jaccard = 2/(2+2-2) = 1.0; (c,d)
    share a and b symmetrically."""
    from nifi_datasynthesizer_spark.operators.graph import \
        neighbor_jaccard
    pairs = spark.createDataFrame(
        [(10, 30), (10, 40), (20, 30), (20, 40)], ["a", "b"])
    got = {(r.a, r.b): r for r in neighbor_jaccard(pairs).collect()}
    assert got[(10, 20)].common == 2
    assert got[(10, 20)].jaccard_ppm == 1_000_000
    assert got[(30, 40)].jaccard_ppm == 1_000_000
    assert set(got) == {(10, 20), (30, 40)}
    # min filter drops below-threshold pairs
    assert neighbor_jaccard(pairs, min_jaccard_ppm=1_000_001).count() == 0


def test_neighbor_jaccard_center_cap(spark):
    """Planted hub: node 0 links to everyone (deg 20) — uncapped, the
    wedge through 0 yields all C(20,2)=190 spoke pairs; with
    max_center_degree=5 the hub generates NO wedges, only the planted
    side cluster (through low-degree centers) survives, and reported
    degrees stay FULL (the hub still counts in deg_a/deg_b)."""
    from nifi_datasynthesizer_spark.operators.graph import \
        neighbor_jaccard
    hub = [(0, i) for i in range(1, 21)]
    # side cluster: 1 and 2 both link to 101, 102 (low-degree centers)
    side = [(1, 101), (2, 101), (1, 102), (2, 102)]
    pairs = spark.createDataFrame(hub + side, ["a", "b"])
    uncapped = neighbor_jaccard(pairs).collect()
    # 190 spoke pairs via the hub (incl. (1,2)) + (0,101),(0,102),
    # (101,102) via the low-degree centers 1 and 2
    assert len(uncapped) == 193
    capped = {(r.a, r.b): r for r in
              neighbor_jaccard(pairs, max_center_degree=5).collect()}
    # all 190 hub wedges gone; only wedges through low-degree centers
    # survive (the hub may still appear as an ENDPOINT — the cap is on
    # the wedge center, not the pair)
    assert set(capped) == {(1, 2), (0, 101), (0, 102), (101, 102)}
    r12 = capped[(1, 2)]
    assert r12.common == 2             # 101 and 102 only; hub 0 capped
    assert r12.deg_a == 3 and r12.deg_b == 3   # full degrees incl. hub
    # jaccard is the documented lower bound: 2/(3+3-2)
    assert r12.jaccard_ppm == 2 * 1_000_000 // 4


def test_srm_report_boundary(spark):
    """The SRM guardrail must fail LOUD, not wrap, past its int64
    q6-scaling bound: planted arm counts with sum((k*n_i-N)^2) just
    BELOW int64max/1e6 return a row; just ABOVE raise the descriptive
    in-plan error (r11 — the cliff was previously documentation)."""
    import pytest as _pt

    from nifi_datasynthesizer_spark.operators.temporal import (
        _SRM_SAFE, srm_report)
    k = 2
    # k=2: N = n1+n2, dev = n1-n2 for arm 1 (and -(n1-n2) for arm 2),
    # s = 2*dev^2.  Pick dev so s straddles _SRM_SAFE.
    dev_ok = 2_147_000          # s = 2*dev^2 = 9.218e12 < SAFE
    dev_bad = 2_148_000         # s = 9.227e12 > SAFE
    base = 1_000_000_000
    ok = spark.createDataFrame(
        [(0, base + dev_ok), (1, base)], ["arm", "n_arm"])
    rows = srm_report(ok, k).collect()
    assert len(rows) == 2 and rows[0].srm_flag  # huge dev -> flagged
    assert 2 * dev_ok * dev_ok <= _SRM_SAFE
    bad = spark.createDataFrame(
        [(0, base + dev_bad), (1, base)], ["arm", "n_arm"])
    with _pt.raises(Exception, match="int64-safe bound"):
        srm_report(bad, k).collect()


def test_commuter_digest_bucket_invariance(spark):
    """The distributed digest must not depend on how drivers bucket
    into pandas groups: per-driver RNG streams are independent, so a
    1-partition layout and the default layout agree bit-for-bit."""
    from nifi_datasynthesizer_spark.synthesizers import (
        commuter_data, simulate_commuters)
    from nifi_datasynthesizer_spark import vocab as V
    a = commuter_data(spark, n_drivers=6, trips=2, points_per_trip=5,
                      seed=3).orderBy("driver_id", "trip",
                                      "t_offset_s").collect()
    local = simulate_commuters(list(range(6)), V.ZIP_ROWS, 2, 5, 3)
    local = local.sort_values(["driver_id", "trip",
                               "t_offset_s"]).reset_index(drop=True)
    assert len(a) == len(local)
    for row, (_, lrow) in zip(a, local.iterrows()):
        assert row.driver_id == lrow.driver_id
        assert row.home_zip == lrow.home_zip
        assert row.mph == lrow.mph and row.lat == lrow.lat


def test_ngram_lm_score_known_values(spark):
    """Add-one smoothing on a two-doc corpus: every holdout bigram's
    NLL is >= ln(V+...)-ish positive, unseen bigrams score worse than
    seen ones, and totals are integer-consistent."""
    from nifi_datasynthesizer_spark.operators.text import ngram_lm_score
    # force split: find doc_ids landing in train vs holdout for mod 2
    from nifi_datasynthesizer_spark.phash import h60_py
    ids = list(range(20))
    hold = [i for i in ids if h60_py(str(i)) % 2 == 0]
    train = [i for i in ids if h60_py(str(i)) % 2 != 0]
    assert hold and train
    rows = [(i, "the cat sat on the mat") for i in train[:3]]
    rows += [(hold[0], "the cat sat"), (hold[1], "the dog sat")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           ngram_lm_score(docs, holdout_mod=2).collect()}
    seen, unseen = out[hold[0]], out[hold[1]]
    assert seen.n_bigrams == 2 and unseen.n_bigrams == 2
    # 'the dog' and 'dog sat' are unseen in training -> higher NLL
    assert unseen.sum_nll_q4 > seen.sum_nll_q4
    for r in out.values():
        assert r.sum_nll_q4 > 0
        assert r.avg_nll_q4 == r.sum_nll_q4 // r.n_bigrams


def test_sketch_ndv_envelope_skips_nulls(spark):
    """h60 register sketches: estimates stay in the HLL error
    envelope, NULLs are excluded from the ndv, and non-ndv stats are
    unaffected."""
    from nifi_datasynthesizer_spark.io import column_stats
    from nifi_datasynthesizer_spark.operators.sketches import \
        hll_distinct
    df = spark.range(20_000).select(
        (F.col("id") % 300).alias("k"),
        F.when(F.col("id") % 4 == 0, None)
        .otherwise(F.col("id") % 50).alias("n"))
    got = {r.col: r for r in
           column_stats(df, ["k", "n"], ndv_mode="sketch").collect()}
    # m=64 -> ~13% std error; 300 and 50 true distincts
    assert 200 <= got["k"].ndv <= 450
    assert 35 <= got["n"].ndv <= 70
    assert got["n"].n_null == 5000 and got["n"].n_non_null == 15000
    ids = df.select(F.lit("k").alias("event_type"),
                    F.col("k").alias("user_id")).unionByName(
        df.select(F.lit("n").alias("event_type"),
                  F.col("n").alias("user_id")))
    h = {r.event_type: r for r in hll_distinct(ids, m=64).collect()}
    assert h["k"].exact_distinct == 300 and 200 <= h["k"].est_hll <= 450
    assert h["n"].exact_distinct == 50 and 35 <= h["n"].est_hll <= 70
    assert h["n"].buckets_hit <= 64


def test_register_sketches_skip_null_ids(spark):
    """A NULL id sets no FM/HLL register.  It used to hash to a NULL
    bucket that counted as a 65th of 64 registers, which drove HLL's
    estimate negative.  20,000 rows over 5,000 ids in one group plus 3
    NULL ids give the NULL-free rows, a group of only NULL ids has no
    row, and the DuckDB mirrors agree on the same frame.  The rollup's
    exact rider counts no NULL id either, at any scope."""
    import datetime

    import duckdb

    from nifi_datasynthesizer_spark.operators.sketches import (
        fm_distinct, fm_distinct_rollup, hll_distinct)
    from nifi_datasynthesizer_spark.oracles import (fm_distinct_sql,
                                                    fm_rollup_sql,
                                                    hll_distinct_sql)
    schema = "event_type string, user_id string, ts timestamp"
    ts = datetime.datetime(2024, 3, 1, 12)
    clean = [("g", f"u{i % 5000}", ts) for i in range(20_000)]
    dfc = spark.createDataFrame(clean, schema)
    dfd = spark.createDataFrame(
        clean + [("g", None, ts)] * 3 + [("nulls", None, ts)] * 2, schema)
    con = duckdb.connect()
    con.register("events", dfd.toPandas())
    for op, sql in ((fm_distinct, fm_distinct_sql),
                    (hll_distinct, hll_distinct_sql)):
        want = [tuple(r) for r in op(dfc).collect()]
        got = [tuple(r) for r in op(dfd).collect()]
        assert got == want, (op.__name__, got, want)
        assert want[0][0] == "g" and want[0][1] <= 64   # buckets_hit
        assert con.sql(sql()).fetchall() == got, op.__name__
    want = sorted(tuple(r) for r in fm_distinct_rollup(dfc).collect())
    got = sorted(tuple(r) for r in fm_distinct_rollup(dfd).collect())
    assert got == want and len(want) == 3
    assert {r[-1] for r in want} == {5000}              # exact_distinct
    assert sorted(con.sql(fm_rollup_sql()).fetchall()) == got


def test_kmv_twins_share_one_core(spark):
    """kmv_sketch over one lowercase token per doc (n=1) equals
    kmv_id_sketch over the same (group, token) pairs on every shared
    column: the two differ only in how they build (group, hash)."""
    from nifi_datasynthesizer_spark.operators.sketches import (
        kmv_id_sketch, kmv_sketch)
    # three overlapping 60-token groups, past k so the estimates and
    # the pair unions take the bottom-k path
    rows = [(f"s{g}", f"tok{j}") for g in range(3)
            for j in range(g * 20, g * 20 + 60)]
    docs = spark.createDataFrame(rows, ["source", "text"])
    ids = docs.select(F.col("source").alias("event_type"),
                      F.col("text").alias("user_id"))
    a = kmv_sketch(docs, "source", k=16, n=1)
    b = kmv_id_sketch(ids, k=16).select(*a.columns)
    got, want = sorted(map(tuple, a.collect())), sorted(map(tuple,
                                                            b.collect()))
    assert len(got) == 3 and got == want


def test_cm_twins_share_one_core(spark):
    """Every cm_heavy_hitters(docs, k=10) row appears, with the same
    exact_n and cm_est, in cm_error_eval(docs, sample_mod=1): one grid,
    one estimate join, two candidate sets."""
    from nifi_datasynthesizer_spark.operators.sketches import (
        cm_error_eval, cm_heavy_hitters)
    docs = spark.createDataFrame(
        [(" ".join(f"w{j}" for j in range(i % 30)),) for i in range(200)],
        ["text"])
    top = {(r.word, r.exact_n, r.cm_est)
           for r in cm_heavy_hitters(docs, k=10).collect()}
    evald = {(r.word, r.exact_n, r.cm_est)
             for r in cm_error_eval(docs, sample_mod=1).collect()}
    assert len(top) == 10 and top <= evald


def test_strip_repeated_substrings_planted(spark):
    """Word-coverage removal: the shared 4-token span disappears from
    EVERY occurrence (including the first — global semantics, unlike
    dedup_spans' keep-first), overlapping occurrences compose, short
    and untouched docs pass through with n_removed = 0."""
    shared = "alpha beta gamma delta"
    rows = [
        (0, f"{shared} one two three"),
        (1, f"zero {shared} four five"),
        (2, f"{shared} {shared}"),          # back-to-back repeats
        (3, "tiny doc"),
        (4, "unrelated words entirely here now"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           DD.strip_repeated_substrings(docs, w=4, min_docs=2)
           .collect()}
    assert len(out) == 5
    assert out[0].text_stripped == "one two three"
    assert out[0].n_removed == 4
    assert out[1].text_stripped == "zero four five"
    assert out[2].text_stripped == "" and out[2].n_removed == 8
    assert out[3].text_stripped == "tiny doc" and out[3].n_removed == 0
    assert out[4].n_removed == 0


def test_substring_inventory_strip_consistency(spark, planted_docs):
    """Cross-operator semantic check: after strip_repeated_substrings,
    NO w-token window of any rebuilt text can be a span the inventory
    reported (every covered word was removed, so a reported span
    cannot survive intact), and per-doc removal counts are bounded by
    the doc's word count."""
    w = 4
    inv = {r.span for r in
           DD.repeated_substrings(planted_docs, w=w, min_docs=2)
           .collect()}
    stripped = DD.strip_repeated_substrings(planted_docs, w=w,
                                            min_docs=2).collect()
    for r in stripped:
        assert 0 <= r.n_removed <= r.n_words
        words = r.text_stripped.split(" ") if r.text_stripped else []
        for i in range(max(0, len(words) - w + 1)):
            assert " ".join(words[i:i + w]) not in inv
    # the planted corpus really exercises the check
    assert inv and any(r.n_removed > 0 for r in stripped)


def test_canonical_url_idempotent(spark):
    """canonical_url is a canonicalization: applying it twice equals
    applying it once (over a mixed bag of messy URLs)."""
    from nifi_datasynthesizer_spark.operators.curation import \
        canonical_url
    urls = [
        "HTTPS://A.B:443/x/?utm_source=1&z=2&a=3#f",
        "http://h.com:80/",
        "https://h.com/p?gclid=1",
        "https://h.com/deep/path/?b=2&a=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = df.select(canonical_url(F.col("url")).alias("c"))
    twice = once.select(canonical_url(F.col("c")).alias("c2"),
                        F.col("c"))
    for r in twice.collect():
        assert r.c2 == r.c


def test_repeated_substrings_random_vs_reference(spark):
    """Seeded randomized check of BOTH span operators against a
    pure-Python reference over a random small-vocab corpus (small
    vocabulary forces plenty of genuine window collisions, including
    within-doc repeats and overlaps)."""
    import random
    rng = random.Random(4242)
    w = 3
    docs = [(i, " ".join(rng.choice("aa bb cc dd".split())
                         for _ in range(rng.randint(0, 12))))
            for i in range(60)]

    # reference: inventory
    from collections import defaultdict
    occ = defaultdict(list)   # span -> [(doc, pos)]
    toks = {}
    for i, t in docs:
        ws = t.split(" ") if t else [""]
        toks[i] = ws
        for p in range(len(ws) - w + 1):
            occ[" ".join(ws[p:p + w])].append((i, p))
    want_inv = {}
    for span, hits in occ.items():
        ds = {d for d, _ in hits}
        if len(ds) >= 2:
            want_inv[span] = (len(ds), len(hits), min(ds))
    # reference: strip (word coverage by qualifying windows)
    want_strip = {}
    for i, t in docs:
        ws = toks[i]
        cov = set()
        for p in range(len(ws) - w + 1):
            if " ".join(ws[p:p + w]) in want_inv:
                cov.update(range(p, p + w))
        kept = [x for j, x in enumerate(ws) if j not in cov]
        want_strip[i] = (" ".join(kept), len(ws), len(cov))

    sdf = spark.createDataFrame(docs, ["doc_id", "text"])
    got_inv = {r.span: (r.n_docs, r.n_occ, r.first_doc) for r in
               DD.repeated_substrings(sdf, w=w, min_docs=2).collect()}
    assert got_inv == want_inv and want_inv  # non-vacuous
    got_strip = {r.doc_id: (r.text_stripped, r.n_words, r.n_removed)
                 for r in DD.strip_repeated_substrings(
                     sdf, w=w, min_docs=2).collect()}
    assert got_strip == want_strip


def test_interval_join_outer_modes_planted(spark):
    """RIGHT and FULL outer stream-stream joins on a planted fixture:
    the per-side eviction-emission rules the r11 oracles encode —
    left rows report unmatched iff l_ts + within < wm_final, right
    rows iff r_ts < wm_final, where wm_final = min(per-side
    floor_ms(max ts)) - within — reproduce on a hand-built stream."""
    import datetime
    import tempfile

    from nifi_datasynthesizer_spark import streaming as ST
    base = datetime.datetime(2024, 1, 1)

    def m(mins):
        return base + datetime.timedelta(minutes=mins)

    # left (even ids) at minutes 0..20; right (odd ids) sparse — one
    # early matched pair, one early unmatched right, late rows on both
    # sides that the watermark cannot prove unmatched
    rows = [
        (0, m(0), 1), (1, m(5), 1),          # match (gap 5m < 10m)
        (2, m(0), 2),                          # left, no right ever
        (3, m(2), 3),                          # right, no left match
        (4, m(400), 1), (5, m(395), 2),       # late: set the maxima
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id"])
    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.parquet(f"{td}/data")
        src = ST.file_stream(spark, f"{td}/data", df.schema)
        l = src.filter(F.col("event_id") % 2 == 0)
        r = src.filter(F.col("event_id") % 2 == 1)
        with ST.state_partitions(spark, 4):
            jr = ST.interval_join(l, r, key="user_id", ts_col="ts",
                                  within="10 minutes",
                                  how="right_outer")
            out_r = ST.run_bounded(
                jr.select(F.col("r_event_id").alias("rid"),
                          F.coalesce("l_event_id", F.lit(-1))
                          .alias("lid")),
                "t_sj_right_planted", output_mode="append").collect()
        got_r = {(x.rid, x.lid) for x in out_r}
        # wm_final = min(max_l=400, max_r=395) - 10 = 385 min.
        # right 1 matched by left 0; right 3 unmatched with
        # r_ts=2min < 385 -> REPORTS; right 5 unmatched but
        # r_ts=395 > 385 -> held in state, not reported.
        assert got_r == {(1, 0), (3, -1)}, got_r

        src2 = ST.file_stream(spark, f"{td}/data", df.schema)
        l2 = src2.filter(F.col("event_id") % 2 == 0)
        r2 = src2.filter(F.col("event_id") % 2 == 1)
        with ST.state_partitions(spark, 4):
            jf = ST.interval_join(l2, r2, key="user_id", ts_col="ts",
                                  within="10 minutes",
                                  how="full_outer")
            out_f = ST.run_bounded(
                jf.select(F.coalesce("l_event_id", F.lit(-1))
                          .alias("lid"),
                          F.coalesce("r_event_id", F.lit(-1))
                          .alias("rid")),
                "t_sj_full_planted", output_mode="append").collect()
        got_f = {(x.lid, x.rid) for x in out_f}
        # left 2 unmatched: l_ts + 10 = 10min < 385 -> reports;
        # left 0 matched; left 4 late (400+10 > 385) -> held.
        assert got_f == {(0, 1), (2, -1), (-1, 3)}, got_f


def test_kmv_id_sketch_planted(spark):
    """Segments under k distinct users report EXACT estimates, and
    the intersection/union estimates are exact too (sketches hold the
    full sets): A = 30 users, B = 20 users, |A∩B| = 10."""
    from nifi_datasynthesizer_spark.operators.sketches import \
        kmv_id_sketch
    rows = ([("A", f"u{i}") for i in range(30)]
            + [("B", f"u{i}") for i in range(20, 40)])
    df = spark.createDataFrame(rows, ["event_type", "user_id"])
    out = kmv_id_sketch(df, k=64).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.ga, r.gb) == ("A", "B")
    assert r.est_a == 30 and r.est_b == 20
    assert r.inter_k == 10 and r.kk == 40 and r.union_est == 40
    assert r.jaccard_ppm == 10 * 1_000_000 // 40
    assert r.inter_est == 10


def test_bfs_distances_planted(spark):
    """Chain 1-2-3-4-5-6 seeded at 1: rounds=3 reaches node 4 (dist
    3) but not 5; a disconnected node never appears; two seeds take
    the min distance."""
    from nifi_datasynthesizer_spark.operators.graph import bfs_distances
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (8, 9)], ["a", "b"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {r.node: r.dist for r in
           bfs_distances(pairs, seeds, rounds=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    seeds2 = spark.createDataFrame([(1,), (5,)], ["node"])
    got2 = {r.node: r.dist for r in
            bfs_distances(pairs, seeds2, rounds=2).collect()}
    # node 3 is 2 hops from both seeds; node 4 is 1 hop from seed 5
    assert got2 == {1: 0, 2: 1, 3: 2, 4: 1, 5: 0, 6: 1}


def test_corpus_stats_sketch_planted(spark):
    """Histogram-CDF percentile semantics (smallest value whose
    cumulative count clears the integer threshold) and exact vocab
    ndv for tiny languages (linear-counting regime)."""
    from nifi_datasynthesizer_spark.operators.curation import \
        corpus_stats_sketch
    # lang x: word counts 2,4,6,8,10 -> p50 = 6 (cum 3 of 5),
    # p90 = 10 (cum 5 >= 4.5); vocab = 9 distinct words
    rows = [("x", 2, 0.5, "a b"), ("x", 4, 0.5, "a b c d"),
            ("x", 6, 0.5, "a b c d e f"),
            ("x", 8, 0.5, "a b c d e f g h"),
            ("x", 10, 0.5, "a b c d e f g h i a")]
    df = spark.createDataFrame(
        rows, ["pred_lang", "q_n_words", "quality", "text"])
    out = corpus_stats_sketch(df).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_docs == 5 and r.p50_words == 6 and r.p90_words == 10
    assert abs(r.vocab_hll - 9) <= 2      # linear-counting regime
