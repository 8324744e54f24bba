"""Deduplication operators over a text corpus.

All operators take a documents DataFrame (``doc_id``, ``text``) and
are built from JVM-side built-ins only — no Python in the hot path.
Scale notes per operator; every shuffle is on a key chosen to stay
balanced at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..cache import cut, pin
from ..cache import release_caches  # noqa: F401  (re-exported)
from ..phash import h60


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a narrow input across the cluster before CPU-heavy
    per-row work (hashing every shingle costs far more than one
    round-robin shuffle of raw text).  No-op when the scan already has
    enough partitions — a 100 TB input is never re-shuffled."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

# --------------------------------------------------------------- exact


def normalize_text(col):
    """Canonical form for exact dedup: lowercase, collapse whitespace,
    strip punctuation (mirrors common LLM-pipeline normalizers)."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact near-duplicate groups by md5 of normalized text.

    One shuffle on the 128-bit digest (uniform by construction — no
    skew), map-side partial aggregation applies; at 100 TB this is the
    textbook scalable groupBy.  Returns one row per duplicated digest
    with the group size and the keeper (min doc_id).
    """
    h = docs.select(
        F.col("doc_id"),
        F.md5(normalize_text(F.col("text"))).alias("digest"),
    )
    return (h.groupBy("digest")
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("keeper_doc_id"))
            .filter(F.col("n_dups") > 1))


def dedup_exact_keep(docs: DataFrame) -> DataFrame:
    """Return the corpus with exact duplicates removed (keep min id)."""
    w = Window.partitionBy(F.md5(normalize_text(F.col("text")))).orderBy("doc_id")
    return (docs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


# ------------------------------------------------------------- shingles

def _shingles(col, k: int = 5):
    """Word k-shingles of the normalized text (array<string>).

    The normalize+split pass is bound ONCE via a 1-element-array
    transform: HOF lambdas re-evaluate every referenced subtree per
    element, so referencing the split directly from the per-position
    lambda would re-normalize the document once per shingle (~50× the
    work — measured 11s → 1s on the sf0.1 corpus)."""
    def body(words):
        n = F.size(words)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.when(
            n >= k,
            F.transform(idx, lambda s: F.concat_ws(" ", F.slice(words, s + 1, k)))
        ).otherwise(F.array(F.concat_ws(" ", words)))

    return F.element_at(
        F.transform(F.array(F.split(normalize_text(col), " ")), body), 1)


def minhash_signatures(docs: DataFrame, num_hashes: int = 64,
                       shingle_k: int = 5) -> DataFrame:
    """MinHash signatures computed entirely JVM-side.

    h_j(shingle) = (a_j * h60(shingle) + b_j) mod p ­— the classic
    Broder construction over the portable 60-bit hash (see phash.py),
    so the oracle can replay signatures bit-exactly; the signature
    column is array<bigint> of per-permutation minima.  Per-row only:
    no shuffle.
    """
    p = (1 << 31) - 1  # Mersenne prime; keeps a_j*h + b_j < 2**40 (no ANSI overflow)
    docs = ensure_parallelism(docs)
    sh = docs.select("doc_id", _shingles(F.col("text"), shingle_k).alias("sh"))
    # Each shingle is md5-hashed exactly ONCE — bound via a 1-element
    # array transform (HOF lambdas are interpreted: a repeated subtree
    # would be re-evaluated per reference, and optimizer CSE can't be
    # relied on inside lambdas).  All `num_hashes` permutations then
    # derive arithmetically: a_j = 2j+1, b_j = j*2654435761 mod p.
    hs = F.transform(F.col("sh"), lambda s: F.pmod(h60(s), F.lit(p)))
    # fold the hashed shingles straight into the 64-wide running-min —
    # no per-shingle permutation array is materialized
    sig = F.aggregate(
        hs,
        F.array_repeat(F.lit(p).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda a, j: F.least(
                a, F.pmod(h * (j * 2 + 1)
                          + F.pmod(j * F.lit(2654435761), F.lit(p)),
                          F.lit(p)))))
    return sh.select("doc_id", sig.alias("signature"))


def _minhash_bands(sig: DataFrame, num_hashes: int, bands: int,
                   max_bucket: int | None) -> DataFrame:
    """(doc_id, band_id, band_hash) — the LSH bucket frame, derived
    from a signature frame.

    The band frame carries doc_id ONLY: shipping the 64-long signature
    through a 16-way band explode would amplify shuffle bytes ~16×512 B
    per doc.  Signatures for the verification stage re-attach from the
    same (persisted) signature frame by doc_id — the materialized
    signature store a production pipeline keeps between batches.
    """
    rows_per_band = num_hashes // bands
    # ONE F.expr string, not bands×rows_per_band Column builds: the
    # per-Column py4j round-trips cost ~0.2-0.3 s of driver-side
    # construction per query, and this builder sits under the whole
    # minhash family (the column_stats lesson; expressions identical)
    band_exprs = ",".join(
        "xxhash64(concat_ws(','," + ",".join(
            f"CAST(signature[{b * rows_per_band + r}] AS STRING)"
            for r in range(rows_per_band)) + "))"
        for b in range(bands))
    bands_df = sig.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_exprs})"))
        .alias("band_id", "band_hash"))
    if max_bucket is not None:
        w = Window.partitionBy("band_id", "band_hash")
        bands_df = (bands_df.withColumn("__bsz", F.count("*").over(w))
                    .filter(F.col("__bsz") <= max_bucket).drop("__bsz"))
    return bands_df


def dedup_minhash(docs: DataFrame, num_hashes: int = 64, bands: int = 16,
                  shingle_k: int = 5, jaccard_threshold: float = 0.5,
                  max_bucket: int | None = None) -> DataFrame:
    """MinHash + LSH banding near-dup detection.

    bands × rows layout: a pair colliding in ≥1 band becomes a
    candidate; candidates are verified by estimated Jaccard from the
    full signatures.  Shuffle is on (band_id, band_hash) — uniformly
    distributed buckets; the self-join joins only within buckets.
    Returns verified pairs (a < b) with est_jaccard.

    ``max_bucket`` is the skew guard for degenerate corpora (e.g.
    millions of identical boilerplate pages collapsing into one
    bucket, turning the self-join quadratic): buckets larger than the
    cap are dropped BEFORE the join — their members are exact-level
    duplicates better handled by dedup_exact first.  Default None
    keeps exact parity with the oracle.
    """
    # ONE signature pass, persisted: the band derivation and the
    # verification stage both read it (previously the verify stage
    # re-ran the whole shingle+hash pipeline over the candidate docs —
    # the round-3 bench regression).  512 B/doc is the materialized
    # signature store a production system keeps anyway.
    sig = pin(minhash_signatures(docs, num_hashes, shingle_k))
    bands_df = _minhash_bands(sig, num_hashes, bands, max_bucket)
    left = bands_df.select(F.col("doc_id").alias("a"), "band_id", "band_hash")
    right = bands_df.select(F.col("doc_id").alias("b"), "band_id", "band_hash")
    cand_ids = (left.join(right, ["band_id", "band_hash"])
                .filter(F.col("a") < F.col("b"))
                .select("a", "b").distinct())
    cand = (cand_ids
            .join(sig.select(F.col("doc_id").alias("a"),
                             F.col("signature").alias("sig_a")), "a")
            .join(sig.select(F.col("doc_id").alias("b"),
                             F.col("signature").alias("sig_b")), "b"))
    est = cand.withColumn(
        "est_jaccard",
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda v: v)) / F.lit(float(num_hashes)))
    return (est.filter(F.col("est_jaccard") >= jaccard_threshold)
            .select("a", "b", "est_jaccard"))


def dedup_minhash_cross(incoming: DataFrame, corpus: DataFrame,
                        num_hashes: int = 64, bands: int = 16,
                        shingle_k: int = 5, jaccard_threshold: float = 0.5,
                        max_bucket: int | None = None,
                        corpus_signatures: DataFrame | None = None
                        ) -> DataFrame:
    """Incremental dedup: near-dups of INCOMING documents against an
    EXISTING corpus — the shape every production crawl pipeline runs
    (dedupe each new batch against everything already ingested)
    without re-pairing the corpus against itself.

    Same banding as :func:`dedup_minhash`, but the band join is
    incoming×corpus instead of a corpus self-join: candidate volume
    scales with the BATCH size, not the corpus size, and the corpus
    side's band frame is exactly what a production system would keep
    materialized (bucketed by (band_id, band_hash)) between batches.
    Returns (a=incoming doc_id, b=corpus doc_id, est_jaccard).
    """
    sig_in = pin(minhash_signatures(incoming, num_hashes, shingle_k))
    # ``corpus_signatures`` is the materialized signature store a
    # production pipeline keeps between batches (written once by
    # minhash_signatures, e.g. as parquet) — passing it skips
    # re-shingling the whole corpus per batch
    sig_co = pin(corpus_signatures if corpus_signatures is not None
                 else minhash_signatures(corpus, num_hashes, shingle_k))
    in_bands = _minhash_bands(sig_in, num_hashes, bands, max_bucket)
    co_bands = _minhash_bands(sig_co, num_hashes, bands, max_bucket)
    cand_ids = (in_bands.select(F.col("doc_id").alias("a"),
                                "band_id", "band_hash")
                .join(co_bands.select(F.col("doc_id").alias("b"),
                                      "band_id", "band_hash"),
                      ["band_id", "band_hash"])
                .select("a", "b").distinct())
    cand = (cand_ids
            .join(sig_in.select(F.col("doc_id").alias("a"),
                                F.col("signature").alias("sig_a")), "a")
            .join(sig_co.select(F.col("doc_id").alias("b"),
                                F.col("signature").alias("sig_b")), "b"))
    est = cand.withColumn(
        "est_jaccard",
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda v: v)) / F.lit(float(num_hashes)))
    return (est.filter(F.col("est_jaccard") >= jaccard_threshold)
            .select("a", "b", "est_jaccard"))


# -------------------------------------------------------------- simhash

def dedup_simhash(docs: DataFrame, bits: int = 60, hamming_max: int = 3,
                  shingle_k: int = 2,
                  max_bucket: int | None = 1024) -> DataFrame:
    """SimHash near-dup: 60-bit fingerprint = sign of per-bit sums of
    shingle hashes (portable h60, so DuckDB replays it); candidate
    pairs via 4-block Hamming banding (pigeonhole: ≤3 differing bits ⇒
    ≥1 identical 15-bit block).  All vectorized JVM expressions;
    shuffle only on (block_id, block).

    ``max_bucket`` (r7): the band space is FIXED at 4 × 2^15 buckets
    (pigeonhole forbids narrower blocks at hamming_max=3), so bucket
    population grows linearly with corpus size — degenerate
    fingerprints (boilerplate/template corpora) concentrate it and
    the within-bucket join goes quadratic exactly like the
    pre-r7 fuzzy blocking did.  Buckets over the cap are dropped
    whole (deterministic, oracle-mirrored) — a bucket that hot is an
    exact-dup-like cluster that belongs to dedup_exact's digest pass
    first.  No cap triggers at the test SFs (buckets there hold a
    handful of docs), so small-scale results are unchanged.
    """
    docs = ensure_parallelism(docs)
    sh = docs.select("doc_id", _shingles(F.col("text"), shingle_k).alias("sh"))
    # md5 once per shingle (bound in a 1-element array, same rationale
    # as minhash_signatures), ±1 votes per bit in one pass, then the
    # sign vector packs into a 60-bit long.  F.expr because only SQL
    # shiftright/shiftleft accept an expression shift amount.
    fp = sh.select(
        "doc_id",
        F.expr(f"""aggregate(
            zip_with(
              aggregate(
                transform(sh, s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)),
                array_repeat(0, {bits}),
                (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),
                                     (a, b) -> a + IF((shiftright(h, b) & 1) = 1, 1, -1))),
              sequence(0, {bits - 1}),
              (v, b) -> IF(v > 0, shiftleft(1L, b), 0L)),
            0L, (acc, x) -> acc + x)""").alias("simhash"))
    block_bits = bits // 4
    mask = (1 << block_bits) - 1
    blocks = fp.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftright("simhash", block_bits * q).bitwiseAND(F.lit(mask))
            for q in range(4)])).alias("block_id", "block"))
    if max_bucket is not None:
        w = Window.partitionBy("block_id", "block")
        blocks = (blocks.withColumn("__bsz", F.count("*").over(w))
                  .filter(F.col("__bsz") <= max_bucket).drop("__bsz"))
    cand = (blocks.alias("l")
            .join(blocks.alias("r"), ["block_id", "block"])
            .filter(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
                    F.col("l.simhash").alias("ha"), F.col("r.simhash").alias("hb"))
            .distinct())
    return (cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
            .filter(F.col("hamming") <= hamming_max)
            .select("a", "b", "hamming"))


# ------------------------------------------------------ n-gram jaccard

def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.4,
                        length_band: int = 32,
                        token_bands: int | None = None,
                        max_block: int | None = 256) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Blocking: documents are bucketed by (length band, first-3-token
    hash band) to avoid the quadratic all-pairs join; within-bucket
    pairs get exact Jaccard via array_intersect/array_union sizes.
    The two-key block matters at scale: a length band alone holds
    O(corpus/1000) docs at 100 TB and the within-band self-join goes
    quadratic.  ``token_bands=None`` (r7 — the fixed 16-band version
    shares the quadratic failure the one-decade test measured on
    fuzzy_pairs) derives ``max(16, n_docs div 256)`` from one corpus
    count, keeping expected block population constant as the corpus
    grows; the oracle embeds the same formula as a scalar subquery.
    ``max_block`` drops over-populated blocks whole (template/length
    skew — the residual deterministic guard, mirrored exactly).

    The gram arrays ride the band join DELIBERATELY (each side
    shuffles once per doc): re-attaching them by doc id after a
    slim-key candidate join — fuzzy_pairs' shape — moves
    ``pairs × |grams|`` bytes through the re-attach joins, and pairs
    outnumber docs ~10× here (measured 148× time at the 100× corpus
    before this was reverted; 22× after).  Fuzzy's slim keys win only
    because its LEFT side explodes ×3 bands ×8 salts and its
    verified pair set is small; ngram's sides are 1× and its pair
    set is the big frame.  The scale rule: ship payloads on
    whichever side has the smaller (rows × payload) product.
    """
    if token_bands is None:
        token_bands = max(16, docs.count() // 256)
    prefix3 = F.concat_ws(" ", F.slice(F.split(F.col("nt"), " "), 1, 3))
    grams = (ensure_parallelism(docs)
             .select("doc_id",
                     F.array_distinct(_shingles(F.col("text"), n)).alias("g"),
                     normalize_text(F.col("text")).alias("nt"))
             .select("doc_id", "g",
                     (F.length("nt") / length_band).cast("int").alias("lb"),
                     F.pmod(h60(prefix3), F.lit(token_bands)).alias("tb")))
    if max_block is not None:
        w = Window.partitionBy("lb", "tb")
        grams = (grams.withColumn("__bsz", F.count("*").over(w))
                 .filter(F.col("__bsz") <= max_block).drop("__bsz"))
    grams = pin(grams)
    grams.count()
    left = grams.select(F.col("doc_id").alias("a"), F.col("g").alias("ga"),
                        "lb", "tb")
    right = grams.select(F.col("doc_id").alias("b"), F.col("g").alias("gb"),
                         "lb", "tb")
    pairs = left.join(right, ["lb", "tb"]).filter(F.col("a") < F.col("b"))
    sim = pairs.withColumn(
        "jaccard",
        F.size(F.array_intersect("ga", "gb")) /
        F.size(F.array_union("ga", "gb")).cast("double"))
    return sim.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


# ------------------------------------------------- duplicate grouping

def repeated_substrings(docs: DataFrame, w: int = 8, min_docs: int = 2,
                        text_col: str = "text") -> DataFrame:
    """Exact repeated-substring inventory (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    primitive, adapted from suffix arrays to a shuffle): every
    ``w``-token window of normalized text — at EVERY position, stride
    1, unlike :func:`curation.dedup_spans`' non-overlapping chunks —
    that occurs in ≥ ``min_docs`` distinct documents.  This is the
    repeated-span detector for memorization-prone training data:
    boilerplate, licenses, quoted chain letters.

    Scale shape: the corpus explodes to ~token-count rows (the honest
    cost of the sliding-window primitive; the scalable alternative is
    a distributed suffix array, which trades this shuffle for global
    sorts).  Window extraction is ``arrays_zip`` of ``w`` shifted
    slices of the word array — whole-array collection functions, NOT a
    per-element lambda indexing the outer array (the measured 20×
    interpreted-HOF trap, see text.bigram_boilerplate).  Aggregation
    is two-stage, both map-side combinable: per (span, doc) counts
    first — which bounds a hot boilerplate span's reduce-side rows by
    n_docs, not by total occurrences — then per span.

    Returns (span, n_docs, n_occ, first_doc) for qualifying spans.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    base = (docs.select("doc_id", toks.alias("w"))
            .filter(F.size("w") >= w))
    nw = F.size("w") - F.lit(w - 1)
    slices = [F.slice(F.col("w"), i + 1, nw) for i in range(w)]
    spans = (base.select("doc_id",
                         F.explode(F.arrays_zip(*slices)).alias("z"))
             .select("doc_id",
                     F.concat_ws(" ", *[F.col(f"z.{i}")
                                        for i in range(w)]).alias("span")))
    per_doc = (spans.groupBy("span", "doc_id")
               .agg(F.count("*").alias("n_in_doc")))
    return (per_doc.groupBy("span")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_in_doc").alias("n_occ"),
                 F.min("doc_id").alias("first_doc"))
            .filter(F.col("n_docs") >= min_docs)
            .select("span", "n_docs",
                    F.col("n_occ").cast("long").alias("n_occ"),
                    "first_doc"))


def strip_repeated_substrings(docs: DataFrame, w: int = 8,
                              min_docs: int = 2,
                              text_col: str = "text") -> DataFrame:
    """The REMOVAL half of the Lee et al. 2022 recipe (the other half
    of :func:`repeated_substrings`): delete from every document each
    word covered by ANY ``w``-token window that occurs in ≥
    ``min_docs`` distinct documents, and rebuild the text from the
    surviving words in order.  Word-coverage semantics make
    overlapping repeated windows compose cleanly (a maximal repeated
    region is removed exactly once), and the decision is global — a
    span is boilerplate wherever it appears, including its first
    occurrence (unlike dedup_spans' keep-first).

    Scale shape: the window explode is the same ~token-count frame as
    repeated_substrings (shuffled once on the span key to find the
    repeated set and once to mark coverage — co-partitioned);
    covered-position rows are bounded by (qualifying occurrences ×
    w) and distinct per (doc, position); the rebuild is one doc-keyed
    anti-join + aggregation, the dedup_spans idiom.  The tokenized
    corpus is pinned (windows + totals + rebuild all read it).

    Returns (doc_id, text_stripped, n_words, n_removed) for EVERY
    document (unaffected docs pass through; fully-boilerplate docs
    rebuild to '').
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    base = pin(docs.select("doc_id", toks.alias("w")))
    nw = F.size("w") - F.lit(w - 1)
    slices = [F.slice(F.col("w"), i + 1, nw) for i in range(w)]
    windows = (base.filter(F.size("w") >= w)
               .select("doc_id",
                       F.posexplode(F.arrays_zip(*slices))
                       .alias("pos", "z"))
               .select("doc_id", "pos",
                       F.concat_ws(" ", *[F.col(f"z.{i}")
                                          for i in range(w)])
                       .alias("span")))
    rep = (windows.groupBy("span")
           .agg(F.countDistinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= min_docs).select("span"))
    cov = (windows.join(rep, "span")
           .select("doc_id",
                   F.explode(F.sequence(
                       F.col("pos"), F.col("pos") + (w - 1))).alias("i"))
           .distinct())
    words = base.select("doc_id", F.posexplode("w").alias("i", "word"))
    kept = words.join(cov, ["doc_id", "i"], "left_anti")
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.concat_ws(" ", F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("i", "word"))),
                        lambda s: s["word"])).alias("text_stripped"),
                    F.count("*").alias("n_kept")))
    totals = base.select("doc_id", F.size("w").alias("n_words"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("text_stripped"), F.lit(""))
                    .alias("text_stripped"),
                    F.col("n_words").cast("long").alias("n_words"),
                    (F.col("n_words")
                     - F.coalesce(F.col("n_kept"), F.lit(0)))
                    .cast("long").alias("n_removed")))


def longest_repeated_span(docs: DataFrame, min_docs: int = 2,
                          text_col: str = "text") -> DataFrame:
    """The w-FREE form of the Lee et al. repeated-span question (r10
    verdict 3b): "what is the LONGEST normalized word span occurring
    in >= ``min_docs`` distinct documents, and which spans achieve
    it?" — :func:`repeated_substrings` answers for a FIXED window w;
    this answers without one, the question a suffix array answers
    via max cross-document LCP over sort-adjacent suffixes.

    Spark-first strategy: a distributed suffix array needs O(log n)
    global sorts (prefix doubling); instead the answer length is
    found by BINARY SEARCH on the monotone predicate "some length-L
    window repeats in >= min_docs docs" (monotone because any
    qualifying length-L span's prefix of length L-1 also qualifies).
    Each probe round is one pass over the pinned tokenized corpus:
    explode start positions, ``xxhash64(slice(w, i, L))`` per
    position.  Probing on the 64-bit HASH instead of the concatenated
    span string (r12) keeps the per-position work O(L) but drops the
    span-string allocation and shrinks the probe shuffle rows to
    (L, 8-byte key, doc_id) — the §2.3 "shuffle keys, not payloads"
    move — and the search is k-POINT bisection (PROBE_POINTS lengths
    per job), because at any fixed corpus size a probe's cost floor
    is job dispatch + plan analysis, so ~2-3 rounds replace ~7
    sequential probes.  Hashing is made LOSSLESS by construction: a
    collision can only MERGE span groups, so the hash probe's max
    distinct-doc count dominates the true one — a False probe PROVES
    no length-L span qualifies, while the final length is confirmed
    by the exact string readout; in the astronomically-rare event the
    readout at the hash-chosen length comes back empty (a collision
    lied on the True side), the search re-runs below that length on
    exact string probes, so the result is the exact answer for EVERY
    input, collisions included.  Final readout runs the window count
    at the winning length with the same two-stage (span, doc)-then-
    span aggregation as repeated_substrings.

    Scale shape: probe cost is sum_d (len_d - L + 1) * L word
    hashes — LINEAR in corpus size, quadratic only in the per-DOC
    token count (worst at L ~ len/2), so bound document length
    upstream (chunk first — the standard pipeline already does) for
    unchunked 100 TB corpora; a true distributed suffix array
    (global sorts, no per-doc quadratic term) is the alternative
    when documents are unboundedly long.

    Returns (span, span_len, n_docs, n_occ, first_doc) for every
    span of the maximal qualifying length; EMPTY frame when not even
    a single word repeats across min_docs documents.
    """
    out_schema = ("span string, span_len long, n_docs long, "
                  "n_occ long, first_doc long")
    toks = F.split(normalize_text(F.col(text_col)), " ")
    base = pin(docs
               .filter(normalize_text(F.col(text_col)) != "")
               .select("doc_id", toks.alias("w")))

    def windows(L):
        n = F.size("w") - F.lit(L - 1)
        return (base.filter(F.size("w") >= L)
                .select("doc_id",
                        F.explode(F.sequence(F.lit(1), n)).alias("i"),
                        "w")
                .select("doc_id",
                        F.concat_ws(
                            " ", F.expr(f"slice(w, i, {int(L)})"))
                        .alias("span")))

    def qualifies_exact(L):
        top = (windows(L).groupBy("span")
               .agg(F.countDistinct("doc_id").alias("nd"))
               .agg(F.max("nd").alias("m")).first()[0])
        return top is not None and top >= min_docs

    def probe_hash_many(pts):
        """The hash predicate at SEVERAL lengths in ONE job: each doc
        explodes its probe lengths, then its start positions at each
        length, and ships (L, 8-byte hash, doc_id) rows into one
        (L, h)-keyed count-distinct.  At sf-scale a probe's cost is
        dominated by job dispatch + plan analysis (~0.25 s/job
        measured), so folding k bisection points into one job is the
        lever; at corpus scale the probe rows are 16-byte key tuples
        either way.  Soundness per length is the single-probe
        argument: merging can only inflate a count."""
        arr = F.array(*[F.lit(int(L)) for L in pts])
        got = (base.select("doc_id", F.explode(arr).alias("L"), "w")
               .filter(F.size("w") >= F.col("L"))
               .select("doc_id", "L",
                       F.explode(F.sequence(
                           F.lit(1),
                           F.size("w") - F.col("L") + 1)).alias("i"),
                       "w")
               .select("L", "doc_id",
                       F.xxhash64(F.expr("slice(w, i, L)")).alias("h"))
               .groupBy("L", "h")
               .agg(F.countDistinct("doc_id").alias("nd"))
               .groupBy("L").agg(F.max("nd").alias("m"))
               .collect())
        top = {int(r.L): int(r.m) for r in got}
        return {int(L): top.get(int(L), 0) >= min_docs for L in pts}

    def search_exact(lo, hi):
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if qualifies_exact(mid):
                lo = mid
            else:
                hi = mid - 1
        return lo

    # k-point bisection on the hash predicate: each round probes
    # PROBE_POINTS lengths spread over (lo, hi] (hi inclusive — the
    # longest repeated span is commonly near the document length, so
    # refuting the top of the range early collapses the search), so
    # the range shrinks ~(k+1)× per JOB instead of 2×:
    # ceil(log_{k+1}) rounds ≈ 2-3 jobs for any realistic document
    # length vs ~7 sequential probes.
    PROBE_POINTS = 4
    hi_row = base.agg(F.max(F.size("w"))).first()[0]
    if not hi_row:
        return docs.sparkSession.createDataFrame([], out_schema)
    lo, hi = 1, int(hi_row)
    # first round folds the emptiness gate (L=1) in with the spread
    pts = sorted({1, *(lo + ((hi - lo) * j + PROBE_POINTS - 1)
                       // PROBE_POINTS
                       for j in range(1, PROBE_POINTS + 1))})
    res = probe_hash_many(pts)
    if not res[1]:
        # hash-False is exact: merging groups never lowers the count
        return docs.sparkSession.createDataFrame([], out_schema)
    while True:
        trues = [p for p in res if res[p]]
        falses = [p for p in res if not res[p]]
        if trues:
            lo = max(lo, max(trues))
        if falses:
            hi = min(hi, min(falses) - 1)
        if lo >= hi:
            break
        pts = sorted({p for p in
                      (lo + ((hi - lo) * j + PROBE_POINTS - 1)
                       // PROBE_POINTS
                       for j in range(1, PROBE_POINTS + 1))
                      if p > lo})
        res = probe_hash_many(pts)
    while True:
        # per_doc is pinned so the non-emptiness check (the hash
        # search's exact confirmation) and the returned frame share
        # ONE window pass at the winning length — the same single
        # heavy readout the exact-probe form paid.
        per_doc = pin(windows(lo).groupBy("span", "doc_id")
                      .agg(F.count("*").alias("n_in_doc")))
        out = (per_doc.groupBy("span")
               .agg(F.count("*").alias("n_docs"),
                    F.sum("n_in_doc").alias("n_occ"),
                    F.min("doc_id").alias("first_doc"))
               .filter(F.col("n_docs") >= min_docs)
               .select("span",
                       F.lit(lo).cast("long").alias("span_len"),
                       F.col("n_docs").cast("long").alias("n_docs"),
                       F.col("n_occ").cast("long").alias("n_occ"),
                       "first_doc"))
        if out.count() > 0:
            return out
        # a hash collision inflated some probe: the TRUE answer is
        # strictly below lo (lengths above lo are hash-refuted, which
        # is sound).  Re-search below on exact string probes — never
        # taken in practice, the readout doubles as the verification.
        if lo <= 1 or not qualifies_exact(1):
            return docs.sparkSession.createDataFrame([], out_schema)
        lo = search_exact(1, lo - 1)


def _cut_with_signature(labels: DataFrame):
    """``cut(labels)`` plus the (label sum, row count)
    convergence signature, read from the checkpoint job itself: the
    ``observe`` metrics ride the eager localCheckpoint, so no separate
    ``agg(...).collect()`` (one SQL execution and two jobs) is run."""
    obs = Observation()
    out = cut(labels.observe(
        obs, F.sum("label").alias("s"), F.count("*").alias("n")))
    m = obs.get
    return out, (m["s"], m["n"])


def dup_groups(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over near-dup pairs: every document in a
    transitive duplicate cluster gets the cluster's min doc_id as
    ``group_id`` (the keeper).  This is the step after any pairwise
    dedup operator — pairs (a,b), (b,c) must collapse to ONE keeper,
    not two.

    Iterative min-label propagation: label(x) ← min(label(x),
    min label over neighbors), repeated until a fixpoint.  Each round
    is one shuffle keyed by node id; rounds needed = graph diameter
    (duplicate clusters are shallow — a handful).  Convergence is
    detected from the label-sum, which is strictly decreasing until
    the fixpoint (labels only ever decrease), so the check is a cheap
    aggregate, not a join-diff, observed on the round's own
    checkpoint job (``_cut_with_signature``) rather than run as a
    separate action.  Each round localCheckpoints its
    labels (``cache.cut``) — values bit-identical, DATA lineage
    O(1) deep AND the logical plan truncated: the previous
    persist()-per-round form kept the data O(1) but nested every
    round's join+agg into the next round's LOGICAL plan, so Catalyst
    re-analyzed a growing tree each round and the final frame's
    formatted plan carried every round's exchanges (r11 verdict
    item 6: 246 Exchange mentions; r12 measured rounds 2-3 at ~2×
    faster with the cut — 0.78 → 0.33 s warm — and the returned plan
    collapses to the checkpoint scan).  Deterministic under retries
    because the labels themselves are deterministic.
    """
    a, b = F.col("a"), F.col("b")
    # symmetric closure PLUS self-loops: with (n, n) present for every
    # node, one join+aggregate per round computes
    # label(dst) ← min over {dst} ∪ neighbors of label(src) — no
    # separate left-join to merge a node's own label back in (one
    # exchange fewer per round than the textbook formulation).
    # edges are re-read EVERY round: persist once or the upstream pair
    # generator (e.g. the whole minhash pipeline) re-executes per round.
    # The closure is built by EXPLODING each pair into its four edge
    # rows — (a,b), (b,a) and the two self-loops — in ONE pass: the
    # previous union-of-projections formulation referenced ``pairs``
    # four times (two union branches plus the self-loop node set built
    # over the union), and Catalyst does not dedupe repeated source
    # subtrees, so the whole upstream detector executed 4× when edges
    # materialized (r11, measured: the dedup_groups entry 6.8 → 4.3 s
    # warm at sf0.1; one distinct exchange instead of three).
    edges = pin(pairs.select(F.explode(F.array(
        F.struct(a.alias("src"), b.alias("dst")),
        F.struct(b.alias("src"), a.alias("dst")),
        F.struct(a.alias("src"), a.alias("dst")),
        F.struct(b.alias("src"), b.alias("dst")))).alias("e"))
        .select("e.src", "e.dst").distinct())
    # initialize with round 1 for free: label = min(self, neighbors)
    # straight from the edge aggregation (self-loops make min(src)
    # over dst-groups exactly that)
    labels, prev_sig = _cut_with_signature(
        edges.groupBy(F.col("dst").alias("node"))
        .agg(F.min("src").alias("label")))
    for _ in range(max_iter):
        labels, sig = _cut_with_signature(
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("label").alias("label")))
        if sig == prev_sig:
            break
        prev_sig = sig
    # the final labels are checkpointed partitions (no lineage to
    # replay when the caller materializes); superseded rounds' blocks
    # are reclaimed by the context cleaner once unreachable.  edges
    # stays pinned for release_caches().
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("group_id"))


def dedup_report(docs: DataFrame, pairs: DataFrame,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Dedup impact report: the governance read BEFORE a dedup pass
    deletes anything at 100 TB — cluster-size distribution of the
    near-dup graph plus exact docs/tokens-saved accounting (how much
    volume disappears if only each cluster's keeper survives).
    A corpus whose duplicates sit in a few giant clusters (template
    spam) needs different handling than one with many pairs, and
    tokens-saved is the number that justifies the job's cost.

    Shape: ``dup_groups`` collapses the pairs to (doc, keeper)
    labels — a pair-sized frame, broadcast back onto a narrow
    token-count pass over the corpus (singletons default to their own
    id); then two map-side-combinable aggregations, cluster-key and
    size-key, both over frames bounded by |docs| and |sizes|.  The
    corpus itself is scanned once and never shuffled.

    Returns one row per cluster size: (cluster_size, n_clusters,
    n_docs, n_redundant_docs, tokens_total, tokens_redundant).
    """
    groups = dup_groups(pairs)
    toks = docs.select(
        F.col(id_col),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
        .cast("long").alias("nt"))
    labeled = (toks.join(F.broadcast(groups), id_col, "left")
               .select(F.col(id_col),
                       F.coalesce("group_id", F.col(id_col))
                       .alias("gid"), "nt"))
    per_cluster = labeled.groupBy("gid").agg(
        F.count("*").alias("sz"),
        F.sum("nt").alias("tok"),
        F.sum(F.when(F.col(id_col) != F.col("gid"), F.col("nt"))
              .otherwise(F.lit(0))).alias("tok_red"))
    return (per_cluster.groupBy(F.col("sz").alias("cluster_size"))
            .agg(F.count("*").alias("n_clusters"),
                 F.sum("sz").alias("n_docs"),
                 F.sum(F.col("sz") - 1).alias("n_redundant_docs"),
                 F.sum("tok").alias("tokens_total"),
                 F.sum("tok_red").alias("tokens_redundant")))


def minhash_eval(docs: DataFrame, sample_mod: int = 4,
                 jaccard_threshold: float = 0.5, num_hashes: int = 64,
                 bands: int = 16, shingle_k: int = 5) -> DataFrame:
    """Detector-quality evaluation: precision/recall/F1 of the
    MinHash-LSH detector against EXACT shingle-set Jaccard truth on a
    deterministic document sample — the dedup twin of
    ann_recall_eval, and the continuous monitoring job a production
    pipeline runs before trusting a (num_hashes, bands, threshold)
    configuration on the next 100 TB batch.

    Exact truth is quadratic in principle; the sample bounds it BY
    DESIGN (truth pairs are sample², candidates are shingle-posting
    joins within the sample), while the detector under test runs its
    normal banded plan.  Both sides see the same shingle sets
    (h60-hashed), so the estimate measures signature+banding error
    only.  Returns ONE row: (n_truth, n_pred, n_hit, precision_ppm,
    recall_ppm, f1_ppm), F1 the ppm harmonic mean.
    """
    thr_ppm = int(round(jaccard_threshold * 1_000_000))
    sample = pin(docs.filter(F.col("doc_id") % sample_mod == 0))
    posts = pin(sample
                .select("doc_id",
                        F.explode(_shingles(F.col("text"), shingle_k))
                        .alias("g"))
                .select("doc_id", h60(F.col("g")).alias("gh"))
                .distinct())
    sizes = posts.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (posts.select(F.col("doc_id").alias("a"), "gh")
             .join(posts.select(F.col("doc_id").alias("b"), "gh"), "gh")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b").agg(F.count("*").alias("i")))
    # truth and pred each feed TWO consumers (the hit join and their
    # own count aggregate) — pinned, or the posting self-join and the
    # banded detector would re-execute per consumer (r11)
    truth = pin(inter
                .join(sizes.select(F.col("doc_id").alias("a"),
                                   F.col("n").alias("na")), "a")
                .join(sizes.select(F.col("doc_id").alias("b"),
                                   F.col("n").alias("nb")), "b")
                .filter(F.col("i") * 1_000_000
                        >= thr_ppm * (F.col("na") + F.col("nb")
                                      - F.col("i")))
                .select("a", "b"))
    pred = pin(dedup_minhash(sample, num_hashes=num_hashes, bands=bands,
                             shingle_k=shingle_k,
                             jaccard_threshold=jaccard_threshold)
               .select("a", "b"))
    hit = pred.join(truth, ["a", "b"])
    row = (truth.agg(F.count("*").alias("n_truth"))
           .crossJoin(pred.agg(F.count("*").alias("n_pred")))
           .crossJoin(hit.agg(F.count("*").alias("n_hit"))))
    prec = F.expr("CASE WHEN n_pred > 0"
                  " THEN n_hit * 1000000 div n_pred END")
    rec = F.expr("CASE WHEN n_truth > 0"
                 " THEN n_hit * 1000000 div n_truth END")
    return (row.select("n_truth", "n_pred", "n_hit",
                       prec.cast("long").alias("precision_ppm"),
                       rec.cast("long").alias("recall_ppm"))
            .withColumn("f1_ppm",
                        F.expr("CASE WHEN precision_ppm + recall_ppm > 0"
                               " THEN 2 * precision_ppm * recall_ppm"
                               " div (precision_ppm + recall_ppm) END")
                        .cast("long")))


def threshold_sweep(docs: DataFrame, num_hashes: int = 64,
                    bands: int = 16, shingle_k: int = 5,
                    min_threshold: float = 0.3) -> DataFrame:
    """Threshold tuning curve from ONE detector pass: how many
    near-dup pairs survive at every candidate Jaccard threshold —
    the governance read for picking a threshold BEFORE committing a
    100 TB dedup (a cliff in the curve separates true duplicates
    from the borderline mass; a smooth slope means the threshold is
    arbitrary and needs the exact-truth eval).

    The banded detector runs once at a LOW floor; its estimated
    Jaccard is quantized back to the exact signature match count
    (est·num_hashes is an integer by construction), histogrammed, and
    cumulated descending — so the whole sweep costs one pair-sized
    aggregate on top of the normal detection plan.  Returns one row
    per observed match count: (n_match, threshold_ppm,
    n_pairs_at_least).
    """
    pairs = dedup_minhash(docs, num_hashes=num_hashes, bands=bands,
                          shingle_k=shingle_k,
                          jaccard_threshold=min_threshold)
    hist = (pairs.select((F.col("est_jaccard") * num_hashes)
                         .cast("long").alias("n_match"))
            .groupBy("n_match").agg(F.count("*").alias("c")))
    w = (Window.orderBy(F.desc("n_match"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (hist.select(
        "n_match",
        F.expr(f"n_match * 1000000 div {num_hashes}").cast("long")
        .alias("threshold_ppm"),
        F.sum("c").over(w).cast("long").alias("n_pairs_at_least"))
        .orderBy("n_match"))


# --------------------------------------------------- embedding near-dup

def dedup_embedding(emb: DataFrame, threshold: float = 0.95,
                    bucket_bits: int | None = None,
                    seed: int = 7, derive_div: int = 64) -> DataFrame:
    """Embedding cosine near-dup via random-hyperplane LSH buckets.

    Vectors sharing all `bucket_bits` hyperplane signs land in one
    bucket; cosine is computed exactly (zip_with dot product over
    L2-normalized vectors) within buckets only.  Shuffle key is the
    sign-pattern bucket — 2^bits buckets, balanced for isotropic data.

    ``bucket_bits=None`` (r7 — same fixed-cardinality audit that
    caught fuzzy/ngram/simhash): a FIXED bit count means bucket
    population grows linearly with corpus and the within-bucket join
    quadratically; the derived ``max(8, (n div 64).bit_length())``
    adds a hyperplane per corpus doubling, holding expected bucket
    population ~constant (each hyperplane is one more dot-sign in the
    same narrow projection — cost grows log n, candidates stay
    linear).  ``derive_div`` is the corpus-rows-per-bucket constant in
    that derivation (64 in production: expected bucket population
    2^-bits·n stays ~64); test entries shrink it so the derived bit
    count departs from the floor of 8 at fixture scale and the
    derivation itself is oracle-verified at a non-floor value.  The
    entry twin pins bits=8 because the oracle's hyperplane matrix is
    a structural literal.  The candidate join
    ships ids+bucket only; normalized vectors re-attach by id after
    the pair set is known (the slim-key lesson — shuffling two
    256-byte vectors per candidate is the dominant byte cost).
    """
    from .similarity import l2_normalize, random_hyperplane_bucket

    if bucket_bits is None:
        bucket_bits = max(8, (emb.count() // derive_div).bit_length())
    normed = emb.select(F.col("vec_id"),
                        l2_normalize("embedding").alias("v"))
    bucketed = pin(normed.withColumn(
        "bucket", random_hyperplane_bucket(F.col("v"), bucket_bits, seed)))
    bucketed.count()
    cand = (bucketed.select(F.col("vec_id").alias("a"), "bucket")
            .join(bucketed.select(F.col("vec_id").alias("b"), "bucket"),
                  "bucket")
            .filter(F.col("a") < F.col("b"))
            .select("a", "b"))
    pairs = (cand
             .join(bucketed.select(F.col("vec_id").alias("a"),
                                   F.col("v").alias("va")), "a")
             .join(bucketed.select(F.col("vec_id").alias("b"),
                                   F.col("v").alias("vb")), "b"))
    cos = pairs.withColumn(
        "cosine",
        F.round(F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                            F.lit(0.0), lambda acc, v: acc + v), 6))
    return cos.filter(F.col("cosine") >= threshold).select("a", "b", "cosine")


# ------------------------------------------------------- edit distance

# normalized text's full alphabet — the histogram bound's dimensions
_FUZZY_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "


def fuzzy_pairs(docs: DataFrame, max_dist_ppm: int = 300_000,
                length_band: int = 16, token_bands: int | None = None,
                max_block: int | None = 256,
                text_col: str = "text") -> DataFrame:
    """Edit-distance (Levenshtein) near-dup pairs with two-key blocking
    — the record-linkage classic.  Shingle/minhash methods miss
    character-level corruption (typos, OCR noise, template fills) that
    shifts word boundaries; normalized edit distance measures it
    directly.

    All-pairs Levenshtein is O(n²·len²) and never runs at 100 TB, so
    candidates come from (length band × first-token h60 band) blocking
    with two scale/recall guards:

    * **Neighbor-band widening**: a pair within ``max_dist_ppm`` keeps
      nearly equal length, but equal length does NOT mean equal band —
      lengths 15 and 17 straddle a 16-wide boundary.  The left side
      therefore explodes to bands {lb-1, lb, lb+1} (the geo.near_pairs
      neighbor-cell construction), so any pair whose normalized lengths
      differ by < ``length_band`` collides regardless of boundary
      placement.  Each unordered pair still joins exactly once: the
      right side keeps its single home band and ``a < b`` fixes the
      orientation.  Known recall limit (documented, not fixed here):
      an edit inside the *first three tokens* changes ``tb`` and the
      pair is missed — the standard single-pass blocking tradeoff;
      run a second pass blocked on the last tokens if that matters.
    * **Corpus-scaled band count** (r7 — the one-decade scale test
      caught the fixed-cardinality version going quadratic): with a
      FIXED ``token_bands`` the number of blocks is constant, so
      block population grows linearly with corpus size and the
      within-block join QUADRATICALLY until the cap starts dropping
      whole blocks (time blow-up first — measured 78× for 10× docs —
      then recall collapse at 100 TB when every block exceeds the
      cap).  Default ``token_bands=None`` derives
      ``max(16, n_docs div 256)`` from one corpus count (the oracle
      embeds the same formula as a scalar subquery), so expected
      block population stays CONSTANT as the corpus grows: candidate
      volume and recall are both stable at any scale.  The band hash
      covers the first THREE tokens: the effective band space is
      min(token_bands, distinct prefixes), and the 100× decade test
      measured the two-token prefix saturating on this synthetic
      31-word vocabulary (961 prefixes < 1953 bands → block growth →
      quadratic creep); three tokens give ~|vocab|³ values, and real
      corpora's vocabularies make the ceiling unreachable.  If a
      corpus ever saturates anyway, raise the prefix length — the
      recall tradeoff note above moves with it.
    * **Per-block cap**: the residual guard for template/length skew
      within the scaled bands.  Docs whose home block exceeds
      ``max_block`` members are excluded from pairing (the
      :func:`dedup_minhash` ``max_bucket`` guard applied here),
      bounding candidates per doc at ``3·max_block``.  Deterministic
      — whole blocks drop, never a sample — so the oracle mirrors it
      exactly.

    The join is an equi-join on the block keys, never a cartesian
    product.  Verification is the JVM built-in ``levenshtein``
    (unit-cost edit distance, identical semantics to DuckDB's) over
    normalized text; the kept metric is integer ppm of the longer
    string — exact in any engine.
    """
    # 37-slot character histogram (normalized text is [a-z0-9 ]):
    # occurrences via length-delta of plain replace() — no char-array
    # explode, stays inside codegen.  Used for the O(alphabet)
    # Levenshtein lower bound below.  ONE F.expr string, not 37
    # Column builds: the per-Column py4j round-trips cost ~0.5 s of
    # driver-side construction PER QUERY (the column_stats lesson —
    # construction recurs on every run; codegen caching can't help).
    hist = F.expr("array(" + ",".join(
        f"CAST(length(nt) - length(replace(nt, '{c}', '')) AS BIGINT)"
        for c in _FUZZY_ALPHABET) + ")")
    if token_bands is None:
        # one count() sizes the band space to the corpus (constant
        # expected block population at any scale); at 100 TB the
        # count comes from table stats / parquet footers, and the
        # oracle replays the identical GREATEST(16, n div 256)
        token_bands = max(16, docs.count() // 256)
    # normalize ONCE into nt, then derive bands/hist from the stored
    # column — inlining the expression into lb/tb would re-run the
    # two-regex normalization 3× per row
    base = (ensure_parallelism(docs)
            .select("doc_id",
                    normalize_text(F.col(text_col)).alias("nt"))
            .select("doc_id", "nt",
                    (F.length("nt") / length_band).cast("int").alias("lb"),
                    F.pmod(h60(F.concat_ws(
                        " ", F.slice(F.split("nt", " "), 1, 3))),
                           F.lit(token_bands)).alias("tb"),
                    hist.alias("h")))
    if max_block is not None:
        w = Window.partitionBy("lb", "tb")
        base = (base.withColumn("__bsz", F.count("*").over(w))
                .filter(F.col("__bsz") <= max_block).drop("__bsz"))
    # four derivations read base (slim left/right key frames + both
    # payload re-attachments); pin it once or the normalize + 37-slot
    # histogram + block-cap window replay per derivation.  The pin is
    # forced EAGERLY: when four consumers of a lazily-cached plan
    # compile into one job, the first materialization runs inside the
    # consumer stages and the whole fan-out degrades to recomputation
    # (measured ~2× on this operator); one count() up front makes
    # every consumer read the built cache.
    base = pin(base)
    base.count()
    # Candidate enumeration + verification as ONE streaming stage
    # (r7 second-decade fix).  The previous shape — slim-key salted
    # join, payload re-attach by id, and a pinned candidate cache —
    # materialized |pairs| × (na + nb + hists) bytes in cache and
    # shuffled them again through the re-attach joins; candidate
    # pairs outnumber docs ~60× on this corpus, so at the 100×
    # decade that cache was ~30M × 1.2 KB and fuzzy measured 133×.
    # The corpus-scaled bands + per-block cap (this round) bound
    # per-key fanout at 3·max_block × max_block rows BY
    # CONSTRUCTION, so the salt that spread hot blocks — and with it
    # the reason to keep the join sides slim — is gone: each side
    # now carries its payload ONCE PER DOC through the band join
    # (the smaller rows×payload product; the ngram lesson), and the
    # histogram prune + banded DP stream over the join output inside
    # the same stage — candidates are never cached or re-shuffled.
    left = base.select(
        F.col("doc_id").alias("a"), F.col("nt").alias("na"),
        F.col("h").alias("ha"),
        F.explode(F.array(F.col("lb") - 1, F.col("lb"),
                          F.col("lb") + 1)).alias("lb"),
        "tb")
    right = base.select(F.col("doc_id").alias("b"),
                        F.col("nt").alias("nb"), F.col("h").alias("hb"),
                        "lb", "tb")
    # Histogram lower bound, computed in the join stage: every edit
    # op moves the 37-slot char histogram by at most 2 L1 units (and
    # length by at most 1), so lev >= max(|Δlen|, ceil(L1/2)) — an
    # exact prune (floor() monotonicity; never drops a true pair)
    # costing ~40 integer ops against ~90k DP cells.  Selectivity is
    # data-dependent: near-total on heterogeneous corpora (different
    # character content), weak on permuted-shared-vocabulary text
    # (reordering is invisible to a bag of characters — the synthetic
    # bench corpus prunes only ~1%, so its fuzzy cost is genuine DP
    # over all block candidates).  The L1 is an UNROLLED 37-term sum,
    # not zip_with/aggregate (HOF lambdas run interpreted per row);
    # built as ONE F.expr string (same left-associated integer sum)
    # rather than a Python reduce over Columns — the ~110 py4j calls
    # cost ~0.4-0.6 s of construction per query.
    l1 = F.expr(" + ".join(
        f"abs(element_at(ha, {k}) - element_at(hb, {k}))"
        for k in range(1, len(_FUZZY_ALPHABET) + 1)))
    # hint("merge"): statistics for the window+explode chains are
    # guesses, and Catalyst has been observed to BROADCAST the
    # exploded (3×-wider) left side — every task then deserializes
    # the whole hashed relation and rebuilds its hash table (~2
    # CPU-minutes at sf0.1 for a 5 s join).  Neither side of a
    # corpus-sized self-join should broadcast.
    cand = (left.hint("merge").join(right, ["lb", "tb"])
            .filter(F.col("a") < F.col("b")))
    bound = F.greatest(
        F.abs(F.length("na") - F.length("nb")).cast("long"),
        F.expr("(__l1 + 1) div 2"))
    mx = F.greatest(F.length("na"), F.length("nb"))
    survivors = (cand
                 .withColumn("__l1", l1)
                 .withColumn("__mx", mx)
                 .filter(F.floor(bound * 1_000_000 / F.col("__mx"))
                         <= max_dist_ppm)
                 .select("a", "b", "na", "nb", "__mx"))
    # Bounded verification: the 3-arg levenshtein runs Spark's banded
    # DP — O(k·n) cells inside a ±k diagonal band, early exit the
    # moment a whole band row exceeds k — and returns -1 past the
    # bound.  __k is the loosest lev that can still pass the ppm
    # filter (floor(lev·1e6/mx) <= P  ⟺  lev·1e6 < (P+1)·mx  ⟹
    # lev <= (P+1)·mx div 1e6), so -1 rows are exactly the pairs the
    # full DP would have rejected; survivors re-check the exact ppm
    # predicate unchanged.  At max_dist_ppm=0.3 the band is ~60% of
    # the matrix for true near-dups, but the dominant cost is the
    # REJECTED majority, which now exits after ~k rows instead of
    # filling len² cells (measured ~2× on the sf0.1 corpus).  -1
    # must be filtered explicitly: it would otherwise pass the
    # <=ppm comparison as a bogus negative distance.
    d = survivors.withColumn(
        "__kk",
        F.expr(f"cast((({max_dist_ppm} + 1) * __mx) div 1000000 as int)"),
    ).select(
        "a", "b",
        F.expr("levenshtein(na, nb, __kk)").cast("long").alias("lev"),
        F.col("__mx").alias("mx"))
    out = d.filter(F.col("lev") >= 0).withColumn(
        "dist_ppm",
        F.floor(F.col("lev") * 1_000_000 / F.col("mx")).cast("long"))
    return (out.filter(F.col("dist_ppm") <= max_dist_ppm)
            .select("a", "b", "lev", "dist_ppm"))


def containment_pairs(docs: DataFrame, n: int = 3,
                      threshold: float = 0.8, df_cap: int = 64,
                      text_col: str = "text") -> DataFrame:
    """Asymmetric containment: ordered pairs (a, b) where a's shingle
    set is ≥ ``threshold`` contained in b's (``|A∩B| / |A|``) — the
    quote/boilerplate/subset detector Jaccard dedup misses by
    construction (a short doc fully quoted inside a long one has low
    Jaccard but containment 1.0).

    Plan shape for 100 TB: distinct shingles explode to a posting
    frame keyed by shingle digest; shingles with document frequency >
    ``df_cap`` are dropped BEFORE the pair join (stop-shingles —
    boilerplate n-grams would otherwise fan out df² pairs each; the
    cap bounds per-shingle join fanout by a constant, making the
    candidate volume linear in corpus size).  The pair aggregation
    shuffles on (a, b) id pairs only.  Scores are integer ppm
    (``floor(1e6·inter/|A|)``), exact in any engine.
    """
    from ..phash import h60

    docs = ensure_parallelism(docs)
    grams = (docs.select(F.col("doc_id"),
                         F.explode(F.array_distinct(
                             _shingles(F.col(text_col), n))).alias("sh"))
             .select("doc_id", h60(F.col("sh")).alias("g")))
    # grams feeds FOUR consumers (sizes, dfreq, both pair-join sides)
    # — unpinned, the plan audit showed five parquet scans of the
    # corpus, each re-running normalize+shingle+md5.  The pinned frame
    # is the slim (doc_id, digest) posting list (MEMORY_AND_DISK —
    # spills, never OOMs); eager count() because a lazily-pinned frame
    # fanned out in one job degrades to recomputation.
    grams = pin(grams)
    grams.count()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    dfreq = grams.groupBy("g").agg(F.count("*").alias("df"))
    rare = grams.join(dfreq.filter(F.col("df") <= df_cap), "g")
    inter = (rare.select(F.col("doc_id").alias("a"), "g")
             .join(rare.select(F.col("doc_id").alias("b"), "g"), "g")
             .filter(F.col("a") != F.col("b"))
             .groupBy("a", "b").agg(F.count("*").alias("inter")))
    thr = int(round(threshold * 1_000_000))
    return (inter
            .join(sizes.select(F.col("doc_id").alias("a"),
                               F.col("sz").alias("sz_a")), "a")
            .withColumn("cont_ppm",
                        F.floor(F.col("inter") * 1_000_000 / F.col("sz_a"))
                        .cast("long"))
            .filter(F.col("cont_ppm") >= thr)
            .select("a", "b", "cont_ppm"))


def dedup_agreement(docs: DataFrame, num_hashes: int = 64,
                    bands: int = 16, shingle_k: int = 5,
                    jaccard_threshold: float = 0.5, bits: int = 60,
                    hamming_max: int = 3, ngram_n: int = 3,
                    ngram_threshold: float = 0.4) -> DataFrame:
    """Ensemble agreement matrix across the three text near-dup
    detectors — the dedup-governance report a production pipeline
    runs before committing to a method: every pair flagged by ANY of
    MinHash-LSH, SimHash or exact n-gram Jaccard, with per-method
    flags and the agreement count.  Pairs with n_methods == 3 are
    safe deletions; single-method pairs show each detector's
    characteristic blind spots (simhash misses re-orderings minhash
    catches; ngram's exact verify kills minhash's estimation false
    positives).

    Plan shape: the three finders run their own (independently
    blocked, capped) candidate plans — each scales as audited for its
    own query — and the agreement is two FULL OUTER joins on the
    (a, b) pair key over pair-sized (not corpus-sized) frames.
    Returns (a, b, by_minhash, by_simhash, by_ngram, n_methods).
    """
    mh = (dedup_minhash(docs, num_hashes=num_hashes, bands=bands,
                        shingle_k=shingle_k,
                        jaccard_threshold=jaccard_threshold)
          .select("a", "b", F.lit(1).alias("by_minhash")))
    sh = (dedup_simhash(docs, bits=bits, hamming_max=hamming_max)
          .select("a", "b", F.lit(1).alias("by_simhash")))
    ng = (ngram_jaccard_pairs(docs, n=ngram_n,
                              threshold=ngram_threshold)
          .select("a", "b", F.lit(1).alias("by_ngram")))
    u = (mh.join(sh, ["a", "b"], "full")
         .join(ng, ["a", "b"], "full")
         .select("a", "b",
                 F.coalesce("by_minhash", F.lit(0)).alias("by_minhash"),
                 F.coalesce("by_simhash", F.lit(0)).alias("by_simhash"),
                 F.coalesce("by_ngram", F.lit(0)).alias("by_ngram")))
    return u.withColumn(
        "n_methods",
        F.col("by_minhash") + F.col("by_simhash") + F.col("by_ngram"))
