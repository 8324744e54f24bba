"""Corpus-curation operators for training-data pipelines.

The steps between "raw crawl" and "training mix" that aren't dedup or
similarity: deterministic stratified sampling (domain mixing),
benchmark decontamination, document chunking, repetition analysis
(Gopher-style filters), and PII scrubbing.  All column-algebra /
built-in functions — no Python in the hot path — and every operator
has a DuckDB oracle mirror (oracles_curation.py).

Reference scope note: the reference (nifi-datasynthesizer) generates
data; these operators consume corpora at scale.  They are the §2c
"beyond the reference" surface from SURVEY.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import pin
from ..phash import h60
from .dedup import (_shingles, dedup_minhash, dup_groups, ensure_parallelism,
                    normalize_text)

PPM = 1_000_000


def sample_stratified(df: DataFrame, rates: dict[str, float],
                      default_rate: float = 0.0, id_col: str = "doc_id",
                      stratum_col: str = "source", salt: int = 0) -> DataFrame:
    """Deterministic hash-based stratified sampling (domain mixing).

    Keeps a row iff ``h60(id || ':' || salt) % 1e6 < rate(stratum)*1e6``
    — the standard way to build a training mix ("25% of web, 100% of
    books") that is (a) exactly reproducible across runs, cluster
    sizes and task retries (no rand()), (b) a pure narrow filter: at
    100 TB this is one scan with no shuffle, and consistent across
    tables (same id ⇒ same decision, so a row and its derived
    features stay in or out together).  ``salt`` decorrelates
    independent sampling passes over the same ids.

    ``rates`` maps stratum value → keep fraction in [0, 1]; strata not
    listed keep ``default_rate``.  The rate lookup compiles to a CASE
    chain over plan literals — no join, broadcast or otherwise.
    """
    draw = h60(F.concat(F.col(id_col).cast("string"),
                        F.lit(f":{salt}"))) % PPM
    rate = None
    for value, frac in sorted(rates.items()):
        ppm = F.lit(int(round(frac * PPM)))
        cond = F.col(stratum_col) == value
        rate = F.when(cond, ppm) if rate is None else rate.when(cond, ppm)
    rate = (rate.otherwise(F.lit(int(round(default_rate * PPM))))
            if rate is not None else F.lit(int(round(default_rate * PPM))))
    return df.filter(draw < rate)


def sample_k_per_group(df: DataFrame, k: int = 5, id_col: str = "doc_id",
                       group_col: str = "source",
                       salt: int = 0) -> DataFrame:
    """Exact-k-per-stratum sample: rank rows inside each group by
    ``(h60(id || ':' || salt), id)`` and keep the first ``k``.

    Rate-based sampling (:func:`sample_stratified`) gives binomial
    counts — fine for training mixes, wrong for fixed-budget eval/
    debug sets ("exactly 500 docs per source").  The h60 order makes
    the pick uniform over each stratum yet deterministic under reruns,
    partitioning and task retries; ties break on the id.  One shuffle
    on the group key; the rank never materializes more than k rows per
    group downstream.
    """
    draw = h60(F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}")))
    w = Window.partitionBy(group_col).orderBy(draw, F.col(id_col))
    return (df.withColumn("samp_rank", F.row_number().over(w))
            .filter(F.col("samp_rank") <= k))


def bpe_merges(docs: DataFrame, rounds: int = 4, text_col: str = "text",
               max_word_len: int = 16) -> DataFrame:
    """Learn the first ``rounds`` BPE merges over the corpus — the
    tokenizer-training primitive of an LLM data pipeline (Sennrich et
    al., 2016): repeatedly count adjacent symbol pairs and merge the
    most frequent one, starting from characters.

    Scale shape: BPE runs on the DISTINCT word-frequency table, not
    the corpus (the classic trick — pair counts weight by word count,
    and the vocab is tiny relative to 100 TB of text), so each round
    is one explode+groupBy shuffle over the vocab plus a 1-row argmax
    collect; re-segmentation is a narrow per-word left-to-right fold
    with the chosen pair bound as literals.  Everything is string
    algebra both engines share, so the DuckDB oracle replays the
    merge table exactly (greedy-leftmost fold, (n DESC, left, right)
    tie-break).  Returns one row per round: (merge_round, left,
    right, pair_n, corpus_symbols after applying the merge).
    """
    _, out_rows = _bpe_fit(docs, rounds, text_col, max_word_len)
    return docs.sparkSession.createDataFrame(
        out_rows, "merge_round INT, left STRING, right STRING, "
                  "pair_n BIGINT, corpus_symbols BIGINT")


def _bpe_fit(docs: DataFrame, rounds: int, text_col: str,
             max_word_len: int):
    """Shared BPE fit loop: returns (final segmented vocab frame
    (w, cnt, sym), per-round merge rows) — used by both the
    merge-table query and corpus tokenization."""
    words = pin(
        docs.select(F.explode(F.split(normalize_text(F.col(text_col)),
                                      " ")).alias("w"))
        .filter((F.col("w") != "") & (F.length("w") <= max_word_len))
        .groupBy("w").agg(F.count("*").alias("cnt")))
    seg = words.select(
        "w", "cnt",
        F.expr("transform(sequence(1, length(w)), "
               "i -> substring(w, i, 1))").alias("sym"))
    out_rows = []
    for r in range(1, rounds + 1):
        top = (seg.select(
                   "cnt",
                   # CASE guard: Spark's sequence(1, 0) DESCENDS
                   # ([1, 0]) rather than returning empty, so 1-symbol
                   # words would index past the array under ANSI mode
                   F.expr("explode(CASE WHEN size(sym) < 2 THEN "
                          "array() ELSE "
                          "transform(sequence(1, size(sym) - 1), "
                          "i -> struct(element_at(sym, i) AS l, "
                          "element_at(sym, i + 1) AS r)) END)").alias("p"))
               .groupBy("p.l", "p.r").agg(F.sum("cnt").alias("n"))
               .orderBy(F.desc("n"), "l", "r").limit(1).collect())
        if not top:
            break
        a, b, n = top[0]["l"], top[0]["r"], int(top[0]["n"])
        # greedy-leftmost merge of (a, b): fold symbols into a
        # '|'-joined string + the trailing symbol, then re-split.
        # acc.o is computed BEFORE acc.l in the struct (both engines
        # evaluate result-struct fields in declared order, and o
        # reads the pre-update acc.l).
        fold = (
            "CASE WHEN size(sym) <= 1 THEN sym ELSE "
            "split(aggregate(slice(sym, 2, size(sym) - 1), "
            "struct(element_at(sym, 1) AS o, element_at(sym, 1) AS l), "
            "(acc, e) -> struct("
            f"CASE WHEN acc.l = '{a}' AND e = '{b}' "
            f"THEN concat(substring(acc.o, 1, "
            f"length(acc.o) - length('{a}')), '{a}', '{b}') "
            "ELSE concat(acc.o, '|', e) END AS o, "
            f"CASE WHEN acc.l = '{a}' AND e = '{b}' "
            f"THEN concat('{a}', '{b}') ELSE e END AS l)).o, "
            "'\\\\|') END")
        seg = seg.select("w", "cnt", F.expr(fold).alias("sym"))
        total = int(seg.agg(
            F.sum(F.col("cnt") * F.size("sym"))).collect()[0][0])
        out_rows.append((r, a, b, n, total))
    return seg, out_rows


def bpe_tokenize(docs: DataFrame, rounds: int = 4,
                 text_col: str = "text", id_col: str = "doc_id",
                 max_word_len: int = 16) -> DataFrame:
    """Apply the learned BPE merges to the WHOLE corpus — the
    tokenizer-application half of :func:`bpe_merges` (training counts
    tokens per document exactly as the packed sequences will see
    them; whitespace counts under-estimate by the subword factor).

    Scale shape: segmentation happened once on the distinct
    word-frequency table during the fit, so application is a
    vocabulary LOOKUP, not a per-token fold over 100 TB — explode
    words, broadcast-join the (word → subword count) table, sum per
    doc.  Words over ``max_word_len`` (outside the fitted vocab)
    fall back to character tokens, the standard byte/char fallback.
    Returns (doc_id, n_words, n_bpe_tokens).
    """
    seg, _ = _bpe_fit(docs, rounds, text_col, max_word_len)
    vocab = pin(seg.select("w", F.size("sym").alias("ntok")))
    d = (docs.select(F.col(id_col),
                     F.explode(F.split(normalize_text(F.col(text_col)),
                                       " ")).alias("w"))
         .filter(F.col("w") != ""))
    return (d.join(F.broadcast(vocab), "w", "left")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_words"),
                 F.sum(F.coalesce(F.col("ntok"),
                                  F.length("w").cast("int")))
                 .cast("long").alias("n_bpe_tokens")))


def decontaminate(train: DataFrame, eval_docs: DataFrame,
                  ngram: int = 8) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``ngram``-gram with an evaluation set.

    The standard pre-training hygiene step (remove test-set leakage).
    Plan shape for 100 TB: the eval side (benchmarks are MBs, not TBs)
    collapses to a distinct set of 60-bit gram hashes and is
    **broadcast**; the training corpus explodes to (doc_id, gram hash)
    and semi-joins against the broadcast set — so the only shuffle is
    the final per-doc count over the *hit* rows (a tiny fraction of
    the corpus).  The full corpus is never exchanged.

    Returns (doc_id, n_hit_grams): contaminated training docs with the
    number of distinct leaked grams.
    """
    eval_grams = (eval_docs
                  .select(F.explode(_shingles(F.col("text"), ngram)).alias("g"))
                  .select(h60(F.col("g")).alias("gh"))
                  .distinct())
    train_grams = (ensure_parallelism(train)
                   .select("doc_id",
                           F.explode(_shingles(F.col("text"), ngram)).alias("g"))
                   .select("doc_id", h60(F.col("g")).alias("gh")))
    hits = train_grams.join(F.broadcast(eval_grams), "gh")
    return (hits.groupBy("doc_id")
            .agg(F.count_distinct("gh").alias("n_hit_grams")))


def chunk_words(docs: DataFrame, max_words: int = 64,
                text_col: str = "text") -> DataFrame:
    """Split documents into fixed-size word windows (training-sample
    chunking).  Emits (doc_id, chunk_id, chunk_text, chunk_words) —
    one row per window, last window ragged.

    Narrow explode, zero shuffle: each input row produces its chunks
    on the same executor; at 100 TB the output partitioning simply
    inherits the scan.  The word split is bound once via the
    1-element-array transform (HOF lambdas re-evaluate referenced
    subtrees per element).
    """
    def body(words):
        n_chunks = F.ceil(F.size(words) / float(max_words)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
            lambda i: F.struct(
                i.alias("chunk_id"),
                F.concat_ws(" ", F.slice(words, i * max_words + 1, max_words))
                .alias("chunk_text")))

    words = F.split(F.trim(F.col(text_col)), r"\s+")
    chunks = F.element_at(F.transform(F.array(words), body), 1)
    out = docs.select("doc_id", F.explode(chunks).alias("c"))
    return out.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.size(F.split(F.col("c.chunk_text"), r"\s+")).alias("chunk_words"))


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals, adapted to counts over words:

    - ``top_word_frac``: occurrences of the most frequent word / words
    - ``dup_2gram_frac`` / ``dup_3gram_frac``: 1 − distinct/total
      n-grams (fraction of repeated n-grams)

    Repetitious machine-generated text scores high on all three; the
    standard filter drops docs above thresholds.  Ratios are raw
    IEEE int/int divisions (bit-identical across engines — see
    text.quality_score).  Per-row HOFs only, no shuffle; the word
    array is bound once and the per-distinct-word count scan is
    O(words · distinct words) on ≤kB documents.
    """
    def body(words):
        n = F.size(words)
        # top-count via sorted run-lengths: O(L log L) per doc, not the
        # O(L · distinct) count-per-distinct-word scan — the difference
        # between linearithmic and quadratic on book-length documents
        top = F.aggregate(
            F.array_sort(words),
            F.struct(F.lit(0).cast("long").alias("best"),
                     F.lit(0).cast("long").alias("run"),
                     F.lit("").alias("prev")),
            lambda a, w: F.struct(
                F.greatest(a["best"],
                           F.when(w == a["prev"], a["run"] + 1)
                           .otherwise(F.lit(1).cast("long"))).alias("best"),
                F.when(w == a["prev"], a["run"] + 1)
                .otherwise(F.lit(1).cast("long")).alias("run"),
                w.alias("prev")))["best"]
        return F.struct(
            n.alias("n"), top.alias("top"))

    words = F.split(F.trim(F.col(text_col)), r"\s+")
    g2 = _shingles(F.col(text_col), 2)
    g3 = _shingles(F.col(text_col), 3)
    stats = F.element_at(F.transform(F.array(words), body), 1)
    out = docs.select(
        "doc_id", stats.alias("s"),
        (F.lit(1.0) - F.size(F.array_distinct(g2))
         / F.greatest(F.size(g2), F.lit(1)).cast("double"))
        .alias("dup_2gram_frac"),
        (F.lit(1.0) - F.size(F.array_distinct(g3))
         / F.greatest(F.size(g3), F.lit(1)).cast("double"))
        .alias("dup_3gram_frac"))
    return out.select(
        "doc_id",
        F.col("s.n").alias("n_words"),
        (F.col("s.top") / F.greatest(F.col("s.n"), F.lit(1)).cast("double"))
        .alias("top_word_frac"),
        "dup_2gram_frac", "dup_3gram_frac")


# PII patterns — shared Java-regex/RE2 subset (no lookaround, no
# backrefs), so Spark's regexp_* and DuckDB's regexp_* with the 'g'
# flag apply them identically.  Order matters only for the scrub
# (counts are taken on the original text): emails first so their
# dotted domains can't be half-eaten by the IP rule.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
]


# query params that never change page identity — dropped by the URL
# canonicalizer (the CommonCrawl-style tracking blocklist).  Entries
# ending in "_" are name PREFIXES (utm_source, utm_medium, ...); the
# rest match a whole param name (compared as "name=").  Both the Spark
# predicate and the DuckDB oracle are BUILT from this tuple
# (tracking_param_prefixes), so editing it changes both engines
# together (r11 ADVICE fix: it used to be decorative).
TRACKING_PARAMS = ("utm_", "fbclid", "gclid", "msclkid", "ref_src")


def tracking_param_prefixes() -> list[str]:
    """The concrete string prefixes a query param is tested against:
    prefix entries pass through, name entries gain their '='."""
    return [t if t.endswith("_") else t + "=" for t in TRACKING_PARAMS]


def canonical_url(col):
    """Canonical form of a URL column — the key a crawl-dedup stage
    groups on (the same page arrives as http/HTTPS, with default
    ports, trailing slashes, tracking params, fragments, shuffled
    query order):

    - scheme and host lowercase; default ports (:80, :443) stripped;
    - fragment dropped; trailing path slash dropped;
    - tracking params (utm_*, fbclid, gclid, msclkid, ref_src)
      removed, surviving params sorted bytewise.

    Inputs without an absolute scheme ("//host/p", "host/p", relative
    paths) pass through VERBATIM: the part-extraction regexes anchor
    on "scheme://", so without the gate every scheme-less row would
    canonicalize to the single key "://" and url_dedup would falsely
    group them all (r11 ADVICE fix).  Verbatim pass-through keeps
    exact scheme-less duplicates deduplicable while never inventing
    cross-row collisions.

    Pure column expressions: regexp_extract for the parts, split /
    filter / array_sort / array_join for the query — the filter
    lambda touches only its own element (no outer-array indexing, so
    no interpreted-HOF trap), and the arrays are per-URL tiny.  The
    tracking filter is generated from TRACKING_PARAMS.
    """
    scheme = F.lower(F.regexp_extract(col, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    hostport = F.lower(F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    host = F.regexp_replace(hostport, r":(80|443)$", "")
    path = F.regexp_extract(col, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/$", "")
    qs = F.regexp_extract(col, r"\?([^#]*)", 1)
    def _keep(p):
        cond = p != ""
        for pref in tracking_param_prefixes():
            cond = cond & ~p.startswith(pref)
        return cond

    kept = F.filter(F.split(qs, "&"), _keep)
    qcanon = F.array_join(F.array_sort(kept), "&")
    return F.when(
        scheme != "",
        F.concat(scheme, F.lit("://"), host, path,
                 F.when(qcanon != "", F.concat(F.lit("?"), qcanon))
                 .otherwise(F.lit("")))).otherwise(col)


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "rec_id") -> DataFrame:
    """URL-level dedup report — the first stage of every web-crawl
    pipeline (CommonCrawl dedups by canonical URL before any content
    hash runs): group on :func:`canonical_url`, report groups seen
    more than once.

    One shuffle on the canonical key with map-side partial
    aggregation; n_variants counts distinct RAW spellings (how messy
    the duplication is), first_rec is the keeper.  Returns
    (canonical_url, n_occ, n_variants, first_rec), dup groups only.
    """
    c = df.select(F.col(id_col).alias("rid"),
                  F.col(url_col).alias("raw"),
                  canonical_url(F.col(url_col)).alias("canonical_url"))
    return (c.groupBy("canonical_url")
            .agg(F.count("*").alias("n_occ"),
                 F.countDistinct("raw").alias("n_variants"),
                 F.min("rid").alias("first_rec"))
            .filter(F.col("n_occ") >= 2)
            .select("canonical_url",
                    F.col("n_occ").cast("long").alias("n_occ"),
                    F.col("n_variants").cast("long").alias("n_variants"),
                    "first_rec"))


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub common PII (emails, IPv4s, SSNs, US phone numbers) from a
    text column, appending per-kind match counts.

    Adds ``{text_col}_scrubbed`` plus ``n_email``/``n_ipv4``/
    ``n_ssn``/``n_phone``.  Counts come from the original text;
    replacements apply in PII_PATTERNS order.  Pure regexp column
    expressions — one narrow codegen pass, no shuffle, safe to run
    inline in any 100 TB scan.  The SSN and phone patterns are
    disjoint (3-2-4 vs 3-3-4 digit groups), so ordering between them
    is immaterial.
    """
    text = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).alias(f"n_{kind}")
        for kind, pat, _ in PII_PATTERNS
    ]
    scrubbed = text
    for _, pat, token in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.select("*", scrubbed.alias(f"{text_col}_scrubbed"), *counts)


def corpus_ngrams(docs: DataFrame, n: int = 2, k: int = 20,
                  text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k most frequent word n-grams (vocabulary /
    boilerplate discovery — the usual first look at a new crawl).

    Plan shape for 100 TB: documents explode to normalized n-grams
    (narrow), then ONE hash aggregation on the gram string.  Heavy
    hitters (the whole point of the query) are absorbed map-side by
    partial aggregation before the exchange, so the shuffle carries
    at most |distinct grams per partition| rows, not |grams|.  The
    final top-k sorts only the aggregated result.  Ties at the k
    boundary break on the gram string, so the result set is
    deterministic.
    """
    grams = (ensure_parallelism(docs)
             .select(F.explode(_shingles(F.col(text_col), n)).alias("gram")))
    counts = grams.groupBy("gram").agg(F.count("*").alias("n"))
    return counts.orderBy(F.desc("n"), "gram").limit(k)


def pack_sequences(docs: DataFrame, seq_tokens: int = 256, shards: int = 8,
                   text_col: str = "text") -> DataFrame:
    """Concat-and-split sequence packing (GPT-style pretraining
    batching): within a shard, documents are concatenated in doc_id
    order and the token stream is cut every ``seq_tokens`` tokens.
    Emits per document its shard, token count, start offset in the
    shard's stream, and the first/last training-sequence ids it lands
    in — everything a loader needs to materialize packed sequences.

    Global packing is inherently sequential, which does not scale;
    hash-sharding (h60 on doc_id) makes each shard an independent
    stream.  The whole operator is ONE shuffle on the shard key plus
    a per-shard window cumsum; token counts are integers, so the
    running sum is exact and replayable.  ``shards`` would be O(10k)
    on a real cluster; tests use a handful.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_tokens"),
        (h60(F.col("doc_id").cast("string")) % shards).alias("shard"))
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok")
    out = toks.select("doc_id", "shard", "n_tokens", start)
    return out.select(
        "doc_id", "shard", "n_tokens", "start_tok",
        F.floor(F.col("start_tok") / seq_tokens).alias("first_pack"),
        F.floor((F.col("start_tok")
                 + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
                / seq_tokens).alias("last_pack"))


def corpus_mix_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Training-mix accounting: per (source, lang) document counts,
    token and char totals, and each cell's share of all tokens in
    parts-per-million.

    One aggregation over the corpus (map-side partials; the grouped
    key space is tiny), then the ppm share is computed against the
    global total via an unpartitioned window over the *aggregated*
    rows — a handful of (source, lang) cells, so the single-task
    window is free.  Shares are integer-floor ppm
    (``tokens * 1e6 // total``), exact across engines.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    per = (docs
           .select("source", "lang", F.size(words).cast("long").alias("t"),
                   F.length(F.col(text_col)).cast("long").alias("c"))
           .groupBy("source", "lang")
           .agg(F.count("*").alias("n_docs"),
                F.sum("t").alias("n_tokens"),
                F.sum("c").alias("n_chars")))
    total = F.sum("n_tokens").over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                         Window.unboundedFollowing))
    return per.select(
        "source", "lang", "n_docs", "n_tokens", "n_chars",
        F.floor(F.col("n_tokens") * PPM / total).alias("share_ppm"))


def corpus_shuffle(docs: DataFrame, shards: int = 8, salt: int = 0,
                   id_col: str = "doc_id") -> DataFrame:
    """Deterministic training-order shuffle: every document gets a
    pseudo-random but reproducible position — (shard, pos_in_shard) —
    for epoch-order randomization of a training set.

    A single global row_number would serialize on one task; instead
    the h60 draw is split into independent (shard, within-shard rank)
    coordinates, the same trick as pack_sequences: ONE shuffle on the
    shard key, per-shard window rank.  Readers consume shards
    round-robin, which preserves the uniform random order in
    aggregate.  ``salt`` gives a fresh permutation per epoch.
    """
    draw = h60(F.concat(F.col(id_col).cast("string"), F.lit(f"#{salt}")))
    keyed = docs.select(id_col, draw.alias("draw"),
                        (draw % shards).alias("shard"))
    w = Window.partitionBy("shard").orderBy("draw", id_col)
    return (keyed
            .select(id_col, "shard",
                    (F.row_number().over(w) - 1).cast("long")
                    .alias("pos_in_shard")))


def dedup_spans(docs: DataFrame, span_words: int = 8,
                text_col: str = "text") -> DataFrame:
    """Span-level exact dedup (C4/RefinedWeb-style line dedup, adapted
    to fixed word windows): any span whose normalized content already
    occurred earlier in the corpus — ordered by (doc_id, span index) —
    is removed, and each document's text is rebuilt from its surviving
    spans in order.

    Plan shape for 100 TB: the corpus explodes to spans (narrow, see
    chunk_words), the global first-occurrence pick is ONE shuffle on
    the span digest (uniform md5 key — no skew), and the rebuild is
    one shuffle on doc_id.  Per-document span totals come from the
    original docs scan as a pure column expression (no second
    explode).  Nothing driver-side, no Python.

    Returns (doc_id, text, n_spans, n_spans_removed).
    """
    spans = chunk_words(docs, max_words=span_words, text_col=text_col)
    d = spans.withColumn("digest",
                         F.md5(normalize_text(F.col("chunk_text"))))
    # globally-first occurrence per digest; struct min == min by
    # (doc_id, chunk_id) because the pair is unique per span
    kept = (d.groupBy("digest")
            .agg(F.min(F.struct("doc_id", "chunk_id", "chunk_text"))
                 .alias("w"))
            .select("w.doc_id", "w.chunk_id", "w.chunk_text"))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.concat_ws(" ", F.transform(
                        F.array_sort(F.collect_list(
                            F.struct("chunk_id", "chunk_text"))),
                        lambda s: s["chunk_text"])).alias("text"),
                    F.count("*").alias("n_spans_kept")))
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    totals = docs.select(
        "doc_id",
        F.greatest(F.ceil(F.size(words) / float(span_words)).cast("int"),
                   F.lit(1)).alias("n_spans"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("text"), F.lit("")).alias("text"),
                    F.col("n_spans").cast("long").alias("n_spans"),
                    (F.col("n_spans") - F.coalesce(F.col("n_spans_kept"),
                                                   F.lit(0)))
                    .cast("long").alias("n_spans_removed")))


def split_by_group(docs: DataFrame, val_frac: float = 0.1,
                   test_frac: float = 0.1, salt: int = 0,
                   jaccard_threshold: float = 0.5,
                   id_col: str = "doc_id") -> DataFrame:
    """Leakage-safe train/val/test split: every near-duplicate CLUSTER
    lands wholly in one split.  :func:`split_train_val_test` hashes
    the doc id, so two near-identical documents can straddle the
    train/test boundary — the eval set then scores memorization, not
    generalization (the decontamination failure inside one corpus).
    Here the split key is the duplicate group's keeper id (minhash
    pairs → connected components), and singletons fall back to their
    own id.

    Plan shape at 100 TB: the pairs + components machinery is the
    existing dedup path (bounded LSH buckets, O(diameter) min-label
    rounds); the group-label frame holds ONLY docs in dup clusters —
    a small fraction of the corpus — so attaching labels is a
    broadcast-friendly left join, and the split itself stays a narrow
    projection.  Same h60-ppm thresholds as the plain split, so the
    expected fractions are unchanged.
    """
    pairs = dedup_minhash(docs, jaccard_threshold=jaccard_threshold)
    groups = dup_groups(pairs)
    joined = docs.select(id_col).join(
        F.broadcast(groups), on=id_col, how="left")
    gid = F.coalesce(F.col("group_id"), F.col(id_col))
    draw = h60(F.concat(gid.cast("string"), F.lit(f":{salt}"))) % PPM
    test_ppm = int(round(test_frac * PPM))
    val_ppm = test_ppm + int(round(val_frac * PPM))
    split = (F.when(draw < test_ppm, "test")
             .when(draw < val_ppm, "val")
             .otherwise("train"))
    return joined.select(F.col(id_col), gid.alias("group_id"),
                         split.alias("split"))


def split_train_val_test(df: DataFrame, val_frac: float = 0.1,
                         test_frac: float = 0.1, id_col: str = "doc_id",
                         salt: int = 0) -> DataFrame:
    """Deterministic train/val/test assignment (the split every
    training pipeline needs before anything touches the data).

    ``h60(id || ':' || salt) % 1e6`` buckets each row into
    [test | val | train] by ppm thresholds — a pure narrow projection:
    no shuffle, no rand(), exactly reproducible across runs, cluster
    sizes and task retries, and consistent across tables (same id ⇒
    same split, so features derived in other tables never leak across
    the boundary).  ``salt`` makes independent re-splits possible.
    """
    draw = h60(F.concat(F.col(id_col).cast("string"),
                        F.lit(f":{salt}"))) % PPM
    test_ppm = int(round(test_frac * PPM))
    val_ppm = test_ppm + int(round(val_frac * PPM))
    split = (F.when(draw < test_ppm, "test")
             .when(draw < val_ppm, "val")
             .otherwise("train"))
    return df.withColumn("split", split)


# ------------------------------------------------- importance resampling

# Integer log2 in micro-units, engine-exact: floor-split into the
# exponent (length(bin(x)) - 1 — pure string/bit ops, no libm) and a
# 256-entry mantissa table over the top 9 bits.  The tables are
# Python-generated constants bound as literals into BOTH the Spark plan
# and the DuckDB oracle, so no engine ever evaluates a transcendental —
# the same discipline as the HLL linear-counting table.  Approximation
# error <= log2(1 + 2^-8) ~ 0.0056, far below any ranking decision the
# weights drive.
def _ilog2_tables() -> tuple[list[int], list[int]]:
    import math
    t0 = [0] + [math.floor(1e6 * math.log2(x)) for x in range(1, 256)]
    t1 = [math.floor(1e6 * math.log2(q)) for q in range(256, 512)]
    return t0, t1


_ILOG2_T0, _ILOG2_T1 = _ilog2_tables()


def _ilog2_micro_sql(x: str) -> str:
    """SQL template of the micro-log2 (valid in Spark SQL and DuckDB:
    element_at / list indexing differ, so DuckDB rewrites [] below)."""
    t0 = "array(" + ",".join(str(v) for v in _ILOG2_T0) + ")"
    t1 = "array(" + ",".join(str(v) for v in _ILOG2_T1) + ")"
    e8 = f"(length(bin({x})) - 9)"
    q = f"CAST(({x}) div shiftleft(CAST(1 AS BIGINT), {e8}) AS INT)"
    return (f"(CASE WHEN ({x}) < 256 THEN element_at({t0}, CAST({x} AS INT) + 1) "
            f"ELSE {e8} * 1000000 + element_at({t1}, {q} - 255) END)")


def dsir_weights(docs: DataFrame, target, n_buckets: int = 256,
                 share_ppm: int = 250_000, bin_width: int = 50_000,
                 text_col: str = "text") -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by how much its hashed-n-gram profile looks like a
    TARGET distribution relative to the raw pool, then keep the top
    ``share_ppm`` fraction — the data-selection step that biases a raw
    crawl toward a curated domain without training a model.

    Features are word unigrams + bigrams hashed into ``n_buckets``
    buckets; the importance weight is the bag-of-ngrams likelihood
    ratio  log w(x) = Σ_f [log p_target(b(f)) − log p_raw(b(f))]
    with add-one smoothing, evaluated in micro-log2 units via the
    bit-exact ``_ilog2_micro_sql`` decomposition (log base is a
    positive scale factor — rank-irrelevant).

    Everything — fit AND scoring AND selection — is one declarative
    plan, no driver-side fit state: bucket counts are a ``n_buckets``-row
    aggregate joined back broadcast; per-doc scores are one groupBy;
    selection derives a histogram threshold (``bin_width`` micro-log2
    bins, cumulative-from-top crossing ``share_ppm``) the same way as
    ``hist_quantiles`` — no global sort of documents, over-selects by
    at most one bin, deterministic.  At 100 TB fit the bucket counts on
    a sample (they converge at ~1e3 docs/bucket) and broadcast — the
    scoring pass is unchanged.

    ``target`` is a boolean Column over ``docs`` defining the target
    subpopulation (it rides along the explode; the raw distribution is
    the whole pool, target ⊂ raw as in the paper).  Returns
    (doc_id, n_feats, logw_micro, selected).
    """
    docs = ensure_parallelism(docs)
    grams = F.concat(_shingles(F.col(text_col), 1),
                     _shingles(F.col(text_col), 2))
    # target is evaluated in its OWN select stage before the explode:
    # a sibling expression of a generator lands in the post-Generate
    # projection and re-runs per exploded row — the normalize +
    # array_distinct target costs ~20× the whole fit when paid per
    # n-gram instead of per document (measured 23 s -> 1 s at sf0.1)
    pre = docs.select("doc_id", target.alias("is_t"), text_col)
    feats = (pre.select("doc_id", "is_t", F.explode(grams).alias("f"))
             .select("doc_id", "is_t",
                     F.pmod(h60(F.col("f")), F.lit(n_buckets)).alias("b")))

    fit = feats.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("long").alias("ct"),
        F.count("*").alias("cr"))
    # fit is n_buckets rows but its LINEAGE is a corpus pass, and three
    # derivations read it (totals, delta, and delta's join build) —
    # unpinned, the plan audit showed SIX parquet scans of the corpus.
    # Pin eagerly (lazily-pinned + fan-out degrades to recomputation);
    # released via release_caches().
    fit = pin(fit)
    fit.count()
    tot = fit.agg(F.sum("ct").alias("t_tot"), F.sum("cr").alias("r_tot"))
    d0 = (fit.crossJoin(F.broadcast(tot))
          .select("b",
                  (F.col("ct") + 1).alias("x1"),
                  (F.col("t_tot") + n_buckets).alias("x2"),
                  (F.col("cr") + 1).alias("x3"),
                  (F.col("r_tot") + n_buckets).alias("x4")))
    il = _ilog2_micro_sql
    delta = d0.select("b", F.expr(
        f"{il('x1')} - {il('x2')} - {il('x3')} + {il('x4')}")
        .cast("long").alias("delta_micro"))
    scored = (feats.join(F.broadcast(delta), "b")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_feats"),
                   F.sum("delta_micro").alias("logw_micro")))
    # scored (doc_id + two longs — slim at any corpus size) feeds the
    # histogram-threshold chain AND the final selection; pinning it
    # caps the whole operator at TWO corpus text passes (fit build +
    # scoring) instead of six.
    scored = pin(scored)
    scored.count()
    binc = F.floor(F.col("logw_micro") / F.lit(float(bin_width)))
    hist = scored.groupBy(binc.alias("bin")).agg(F.count("*").alias("n"))
    wd = (Window.orderBy(F.desc("bin"))
          .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy()
    cum = (hist.withColumn("cum", F.sum("n").over(wd))
           .withColumn("total", F.sum("n").over(wall)))
    thr = cum.agg(F.max(
        F.when(F.col("cum") * 1_000_000 >= F.col("total") * share_ppm,
               F.col("bin"))).alias("tbin"))
    return (scored.crossJoin(F.broadcast(thr))
            .select("doc_id", "n_feats", "logw_micro",
                    (binc >= F.col("tbin")).cast("int").alias("selected")))


def pack_pairs(docs: DataFrame, seq_tokens: int = 256, shards: int = 8,
               text_col: str = "text") -> DataFrame:
    """Sorted-pairing sequence packing — the padding-efficiency
    alternative to :func:`pack_sequences` when documents must NOT be
    split across training sequences (contrastive/instruction tuning):
    within a shard, the i-th LONGEST document pairs with the i-th
    SHORTEST (the classic sorted-greedy approximation of first-fit-
    decreasing — long docs eat short ones' padding), the pair packs
    into one sequence iff it fits, and the report gives per pair the
    packed flag and padding cost so a loader (or a tuner choosing
    seq_tokens) can see exactly what the budget buys.

    Scale shape: hash-sharding (h60) makes the global sort a set of
    independent shard sorts — ONE shuffle on the shard key feeding
    two rank windows over the same partition (Catalyst evaluates both
    in one Window pass, no second exchange); everything downstream is
    a pair-key aggregation of 2-row groups.  O(10k) shards on a real
    cluster; sorted-pairing inside shards is within ~1% of global FFD
    padding on heavy-tailed length distributions.  Docs longer than
    ``seq_tokens`` are flagged oversize (they truncate; packed=0).

    Returns (shard, pair_id, doc_lo, doc_hi, tokens_lo, tokens_hi,
    packed, padding_tokens) — doc_lo == doc_hi for the odd middle
    singleton; padding = seq − Σ tokens when packed, per-member
    padding when not.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_tokens"),
        (h60(F.col("doc_id").cast("string")) % shards).alias("shard"))
    wd = Window.partitionBy("shard").orderBy(F.desc("n_tokens"),
                                             F.asc("doc_id"))
    wn = Window.partitionBy("shard")
    r = (toks.withColumn("rank", F.row_number().over(wd))
         .withColumn("n", F.count("*").over(wn))
         .withColumn("pair_id",
                     F.least(F.col("rank"),
                             F.col("n") - F.col("rank") + 1)))
    cap = F.lit(seq_tokens).cast("long")
    pad_one = F.greatest(cap - F.col("n_tokens"), F.lit(0).cast("long"))
    agg = (r.groupBy("shard", "pair_id").agg(
        F.min("doc_id").alias("doc_lo"),
        F.max("doc_id").alias("doc_hi"),
        F.min("n_tokens").alias("tokens_lo"),
        F.max("n_tokens").alias("tokens_hi"),
        F.sum("n_tokens").alias("tok_sum"),
        F.count("*").alias("members"),
        F.sum(pad_one).alias("pad_sep")))
    packed = ((F.col("members") == 2)
              & (F.col("tok_sum") <= cap)).cast("int")
    padding = F.when(packed == 1, cap - F.col("tok_sum")) \
        .otherwise(F.col("pad_sep")).cast("long")
    return agg.select("shard", "pair_id", "doc_lo", "doc_hi",
                      "tokens_lo", "tokens_hi",
                      packed.alias("packed"),
                      padding.alias("padding_tokens"))


def corpus_balance(docs: DataFrame, group_col: str = "lang",
                   id_col: str = "doc_id", salt: int = 11) -> DataFrame:
    """Equalize a training mix across a group column (the
    down-sample-the-majority-language step): every group keeps a
    deterministic ~min_n/n_group fraction so all groups converge on
    the smallest group's volume.  Unlike :func:`corpus_sample` the
    rates are FIT FROM THE DATA inside the plan — one tiny
    aggregation row per group, broadcast back — so the oracle replays
    the fit and no scale-dependent literal leaks into the query.

    Keep rule: ``h60(id:salt) % 1e6 < floor(1e6·min_n/n_group)``,
    with the smallest group kept whole (ppm = 1e6 — the h60 draw is
    < 1e6 by construction).  Hash-draw sampling is binomial per
    group (±√n), retry-stable, and composes with corpus_sample's
    per-source rates.  Plan: one map-side-combined count agg
    (|groups| rows) + broadcast join + narrow filter — the corpus is
    scanned once and never shuffled.  Returns the kept rows'
    (id, group, draw_ppm, keep_ppm).
    """
    counts = docs.groupBy(F.col(group_col).alias("grp")) \
        .agg(F.count("*").alias("n_grp"))
    min_n = counts.agg(F.min("n_grp").alias("min_n"))
    rates = (counts.crossJoin(F.broadcast(min_n))
             .select("grp",
                     F.expr("CAST(min_n * 1000000 div n_grp AS BIGINT)")
                     .alias("keep_ppm")))
    draw = (h60(F.concat(F.col(id_col).cast("string"),
                         F.lit(f":{salt}"))) % PPM).alias("draw_ppm")
    return (docs.select(F.col(id_col), F.col(group_col).alias("grp"),
                        draw)
            .join(F.broadcast(rates), "grp")
            .filter(F.col("draw_ppm") < F.col("keep_ppm"))
            .select(id_col, F.col("grp").alias(group_col),
                    "draw_ppm", "keep_ppm"))


def corpus_diff(old_docs: DataFrame, new_docs: DataFrame,
                id_col: str = "doc_id", text_col: str = "text",
                source_col: str = "source") -> DataFrame:
    """Snapshot diff between two corpus versions — the data-versioning
    primitive behind "what changed since the last training run":
    every document id is classified ``added`` / ``removed`` /
    ``changed`` / ``unchanged`` by comparing normalized-content
    digests, carrying the source for per-source rollups.

    Plan shape: one narrow digest pass per side (md5 over normalized
    text — the dedup_exact digest, so diff and dedup agree on what
    "same content" means), then ONE full outer join on the id — both
    sides shuffle-partition on the same key, no row blowup, no
    driver state.  At 100 TB this is the standard two-snapshot
    reconciliation scan.  Returns (id, source, status).
    """
    def side(df, tag):
        return df.select(
            F.col(id_col),
            F.col(source_col).alias(f"src_{tag}"),
            F.md5(normalize_text(F.col(text_col))).alias(f"dig_{tag}"))

    j = side(old_docs, "old").join(side(new_docs, "new"), id_col, "full")
    status = (F.when(F.col("dig_old").isNull(), "added")
              .when(F.col("dig_new").isNull(), "removed")
              .when(F.col("dig_old") == F.col("dig_new"), "unchanged")
              .otherwise("changed"))
    return j.select(F.col(id_col),
                    F.coalesce("src_new", "src_old").alias(source_col),
                    status.alias("status"))


def corpus_token_budget(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        source_col: str = "source", salt: int = 13,
                        level_shift: int = 50) -> DataFrame:
    """Token-budgeted mixture: every source contributes AT MOST B
    tokens, where B is fit in-plan as the smallest source's total
    token count (so the mixture is token-balanced, the token-space
    sibling of :func:`corpus_balance`'s row-space equalization).
    Within a source, documents are admitted in a deterministic
    hash-shuffled priority order (h60(id:salt), then id) until the
    running token sum would exceed the budget — strict prefix
    semantics, not knapsack, so the kept set is unambiguous.

    The naive shape is a per-source global sort + cumsum window — a
    whole source on one task, the classic window scale-killer.  The
    scalable shape used here is two-level (the histogram-CDF trick,
    same as corpus_dsir's threshold fit): the 60-bit priority's top
    bits define ~1k coarse LEVELS that are order-consistent with the
    priority; per-(source, level) token sums make a TINY frame whose
    per-source cumsum (window over ≤ |sources|·1k rows) locates the
    one boundary level per source.  Levels strictly below the
    boundary are kept whole via a broadcast semi-join (no window over
    the corpus); only the boundary level's documents — ~1/1k of a
    source — need the exact per-document cumsum window.  Plan: one
    pinned narrow token pass, two tiny broadcast joins, one window
    over the boundary sliver.  Returns kept (id, source, n_tokens).
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    prio = h60(F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}")))
    toks = pin(docs.select(
        F.col(id_col), F.col(source_col).alias("src"),
        F.size(words).cast("long").alias("n_tokens"),
        prio.alias("prio"),
        F.shiftright(prio, level_shift).alias("lvl")))
    toks.count()
    budget = (toks.groupBy("src").agg(F.sum("n_tokens").alias("tot"))
              .agg(F.min("tot").alias("budget")))
    cdf_w = (Window.partitionBy("src").orderBy("lvl")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cdf = (toks.groupBy("src", "lvl").agg(F.sum("n_tokens").alias("lvl_tok"))
           .withColumn("cum", F.sum("lvl_tok").over(cdf_w))
           .crossJoin(F.broadcast(budget))
           .withColumn("prev_cum", F.col("cum") - F.col("lvl_tok")))
    full_levels = (cdf.filter(F.col("cum") <= F.col("budget"))
                   .select("src", "lvl"))
    boundary = (cdf.filter((F.col("prev_cum") < F.col("budget"))
                           & (F.col("cum") > F.col("budget")))
                .select("src", "lvl",
                        (F.col("budget") - F.col("prev_cum"))
                        .alias("remaining")))
    kept_full = toks.join(F.broadcast(full_levels), ["src", "lvl"])
    bnd_w = (Window.partitionBy("src").orderBy("prio", id_col)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    kept_bnd = (toks.join(F.broadcast(boundary), ["src", "lvl"])
                .withColumn("bcum", F.sum("n_tokens").over(bnd_w))
                .filter(F.col("bcum") <= F.col("remaining")))
    cols = [F.col(id_col), F.col("src").alias(source_col), "n_tokens"]
    return kept_full.select(*cols).unionByName(kept_bnd.select(*cols))


def corpus_overlap(docs: DataFrame, k: int = 3,
                   source_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Cross-source contamination matrix: for every source pair, the
    exact n-gram set overlap (|A∩B|, Jaccard, and BOTH directional
    containments — a tiny source fully contained in a big one has low
    Jaccard but containment ~1e6, which is what leaks benchmarks).
    This is the corpus-governance report run before mixing sources:
    which crawls duplicate each other, which curated sets leak into
    the web snapshot.

    Scale shape: the corpus collapses to DISTINCT (source, gram-hash)
    in one shuffle; per-gram source lists are bounded by |sources|
    (not corpus size), so the pair fanout per gram is ≤ C(|S|,2) —
    the operator's cost is the distinct, not the matrix.  Self-join
    on the gram key would shuffle the gram frame twice and skew on
    stop-grams; the posting-list fold (collect_set per gram → in-array
    pair expansion) touches it once.  Returns one row per unordered
    pair with ≥1 shared gram.
    """
    grams = (docs.select(
        F.col(source_col).alias("src"),
        F.explode(_shingles(F.col(text_col), k)).alias("sh"))
        .select("src", h60(F.col("sh")).alias("g"))
        .distinct())
    grams = pin(grams)
    grams.count()
    sizes = grams.groupBy("src").agg(F.count("*").alias("n"))
    posting = (grams.groupBy("g")
               .agg(F.sort_array(F.collect_set("src")).alias("srcs"))
               .filter(F.size("srcs") > 1))
    pairs = posting.select(F.explode(F.expr(
        "flatten(transform(srcs, (x, i) -> transform("
        "slice(srcs, i + 2, size(srcs)), y -> struct(x AS a, y AS b))))"
    )).alias("p")).select("p.a", "p.b")
    inter = pairs.groupBy("a", "b").agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col("src").alias("a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("src").alias("b"), F.col("n").alias("n_b"))
    return (inter.join(F.broadcast(sa), "a").join(F.broadcast(sb), "b")
            .select(F.col("a").alias("src_a"), F.col("b").alias("src_b"),
                    "inter", "n_a", "n_b",
                    F.expr(f"CAST(inter * {PPM} div (n_a + n_b - inter)"
                           " AS BIGINT)").alias("jaccard_ppm"),
                    F.expr(f"CAST(inter * {PPM} div n_a AS BIGINT)")
                    .alias("contain_a_ppm"),
                    F.expr(f"CAST(inter * {PPM} div n_b AS BIGINT)")
                    .alias("contain_b_ppm")))


def corpus_curriculum(docs: DataFrame, stages: int = 4,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Length-based curriculum staging (easy→hard training order,
    Bengio et al.): each document is assigned a stage 0..``stages``-1
    by which quantile of the corpus token-count distribution it falls
    in — short documents first, the standard curriculum for sequence
    models.  Quantiles are BY VALUE: every document with the same
    token count lands in the same stage, so the assignment is
    deterministic and join-free to replay.

    The naive shape is ntile() over a global sort — one task holds
    the corpus.  Scale shape: token counts are small integers, so the
    full CDF is an aggregate (one map-side-combined count per distinct
    length, cumsum over that tiny frame), the ``stages - 1`` quantile
    boundaries collapse to ONE broadcast row, and the stage is a
    narrow comparison — the corpus is scanned twice (count pass +
    assignment pass, pinned) and never sorted or shuffled whole.
    Boundary rule: b_q = min length with CDF ≥ q·N/stages; stage =
    #{q : length > b_q}.  Returns (id, n_words, stage).
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    toks = pin(docs.select(F.col(id_col),
                           F.size(words).cast("long").alias("n_words")))
    toks.count()
    hist = toks.groupBy("n_words").agg(F.count("*").alias("cnt"))
    cum_w = (Window.orderBy("n_words")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cdf = (hist.withColumn("cum", F.sum("cnt").over(cum_w))
           .crossJoin(F.broadcast(
               hist.agg(F.sum("cnt").alias("n_total")))))
    bounds = cdf.agg(*[
        F.min(F.when(F.col("cum") * stages >= q * F.col("n_total"),
                     F.col("n_words"))).alias(f"b{q}")
        for q in range(1, stages)])
    stage = sum((F.col("n_words") > F.col(f"b{q}")).cast("long")
                for q in range(1, stages))
    return (toks.crossJoin(F.broadcast(bounds))
            .select(id_col, "n_words", stage.alias("stage")))


def corpus_filter_report(docs: DataFrame,
                         text_col: str = "text") -> DataFrame:
    """Filter-funnel governance report: the C4/Gopher cleaning rules
    applied as a SEQUENTIAL funnel with per-rule accounting — for
    each rule, how many documents it dropped (among those surviving
    every earlier rule) and how many remain.  This is the report a
    data curator reads before committing a filter chain: a rule that
    drops 40% of the corpus needs eyes before it runs at 100 TB.

    Rules (all integer arithmetic, engine-exact):
      too_short      n_words < 5
      long_words     n_chars > 12 · n_words   (mean word length > 12)
      digit_heavy    10 · n_digits > n_chars  (> 10% digits)
      low_diversity  2 · n_unique < n_words   (dup ratio > 50%)

    One narrow pass computes every rule flag; the funnel is a single
    map-side-combined aggregate over four conditional counters plus
    the total — no shuffle of the corpus, |rules|+1 output rows.
    """
    text = F.col(text_col)
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(words)
    n_chars = F.length(text)
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    uniq = F.size(F.array_distinct(words))
    flags = docs.select(
        (n_words < 5).alias("f1"),
        (n_chars > 12 * n_words).alias("f2"),
        (10 * digits > n_chars).alias("f3"),
        (2 * uniq < n_words).alias("f4"))
    # sequential funnel: rule k drops docs passing rules 1..k-1
    d1 = F.col("f1")
    d2 = ~F.col("f1") & F.col("f2")
    d3 = ~F.col("f1") & ~F.col("f2") & F.col("f3")
    d4 = ~F.col("f1") & ~F.col("f2") & ~F.col("f3") & F.col("f4")
    agg = flags.agg(
        F.count("*").alias("n_total"),
        F.sum(d1.cast("long")).alias("n1"),
        F.sum(d2.cast("long")).alias("n2"),
        F.sum(d3.cast("long")).alias("n3"),
        F.sum(d4.cast("long")).alias("n4"))
    rules = ("array(struct('too_short' AS rule, n1 AS n_dropped), "
             "struct('long_words' AS rule, n2 AS n_dropped), "
             "struct('digit_heavy' AS rule, n3 AS n_dropped), "
             "struct('low_diversity' AS rule, n4 AS n_dropped))")
    out = (agg.select("n_total", F.explode(F.expr(rules)).alias("r"))
           .select(F.col("r.rule").alias("rule"),
                   F.col("r.n_dropped").alias("n_dropped"), "n_total"))
    order = "CASE rule WHEN 'too_short' THEN 1 WHEN 'long_words' THEN 2" \
            " WHEN 'digit_heavy' THEN 3 ELSE 4 END"
    w = Window.orderBy(F.expr(order)) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (out.withColumn("rule_idx", F.expr(order).cast("long"))
            .withColumn("n_remaining",
                        F.col("n_total") - F.sum("n_dropped").over(w))
            .select("rule_idx", "rule", "n_dropped", "n_remaining"))


def corpus_upsample(docs: DataFrame, factors: dict[str, float],
                    default_factor: float = 1.0, id_col: str = "doc_id",
                    stratum_col: str = "source",
                    salt: int = 17) -> DataFrame:
    """Deterministic fractional up-sampling — the mixture-weights-
    above-1 counterpart of :func:`sample_stratified` (LLaMA-style
    "Wikipedia ×2.5" epoch repetition): every document in a stratum
    with factor f is emitted floor(f) times, plus one extra copy iff
    its h60 draw lands under frac(f) — so a stratum's expected volume
    is exactly f× and the decision is reproducible under retries,
    partitioning and re-runs (no rand()).

    Plan: the factor lookup compiles to a CASE chain of plan literals
    (no join) and the replication is a narrow posexplode over a
    per-row integer count — one scan, no shuffle; at 100 TB the
    output volume is Σ f_s·|s|, the cost every epoch-repetition
    pipeline pays by definition.  Returns (id, stratum, copy_idx)
    with copy_idx 0..k-1 — the copy index keys downstream epoch
    shuffles so replicas spread instead of clumping.
    """
    draw = h60(F.concat(F.col(id_col).cast("string"),
                        F.lit(f":{salt}"))) % PPM
    whole, frac = None, None
    for value, f in sorted(factors.items()):
        w = F.lit(int(f))
        fr = F.lit(int(round((f - int(f)) * PPM)))
        cond = F.col(stratum_col) == value
        whole = F.when(cond, w) if whole is None else whole.when(cond, w)
        frac = F.when(cond, fr) if frac is None else frac.when(cond, fr)
    dw = F.lit(int(default_factor))
    dfr = F.lit(int(round((default_factor - int(default_factor)) * PPM)))
    whole = whole.otherwise(dw) if whole is not None else dw
    frac = frac.otherwise(dfr) if frac is not None else dfr
    n_copies = whole + (draw < frac).cast("int")
    return (docs.select(F.col(id_col), F.col(stratum_col),
                        n_copies.alias("__n"))
            .filter(F.col("__n") > 0)
            .select(id_col, stratum_col,
                    F.explode(F.sequence(
                        F.lit(0), F.col("__n") - 1)).alias("copy_idx")))


def weighted_sample(docs: DataFrame, k: int = 100, salt: int = 23,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Weighted sampling without replacement by PRIORITY sampling
    (Duffield/Lund/Thorup): each document draws a deterministic
    uniform u = h60(id:salt) and gets priority q = u div w for weight
    w (token count here); keeping the k SMALLEST priorities selects
    documents with probability increasing in w — the "sample
    proportional to length/quality" pass a curation pipeline runs to
    eyeball or pilot-train on a corpus slice without a biased
    head-of-file read.

    Deterministic (no rand(): reproducible under task retries, and
    the oracle replays it), and scale-correct: priority is a narrow
    one-pass projection and ORDER BY+LIMIT plans as TakeOrdered —
    per-partition partial top-k then a k-row driver merge, never a
    global sort shuffle.  Returns (id, weight, priority) for the k
    winners in priority order.
    """
    w = F.greatest(F.size(F.split(F.trim(F.col(text_col)), r"\s+")),
                   F.lit(1)).cast("long")
    u = h60(F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}")))
    staged = docs.select(F.col(id_col), w.alias("weight"), u.alias("u"))
    # integer division: `/` would promote to double and lose exactness
    # past 2^53 on the 60-bit uniform
    return (staged.select(id_col, "weight",
                          F.expr("u div weight").alias("priority"))
            .orderBy("priority", id_col).limit(k))


def interleave_sources(docs: DataFrame, shards: int = 32, salt: int = 9,
                       id_col: str = "doc_id",
                       source_col: str = "source") -> DataFrame:
    """Deterministic round-robin source interleave: assign every
    document a global training position such that consecutive
    positions cycle through the sources — the "streaming mixture"
    order (each gradient batch sees every source) that a shuffled
    concat only delivers in expectation.  corpus_shuffle randomizes;
    this STRIPES.

    Scale shape: a per-source ROW_NUMBER over the whole corpus is
    |sources| tasks — no parallelism at 100 TB.  Two levels instead:
    rank within (source, hash-shard) — shards × sources way
    parallelism on one shuffle — plus an exclusive prefix-sum of
    shard counts (a |sources|·shards-row frame) broadcast back as the
    shard offset.  Source index and count are a second tiny broadcast.
    pos = (shard_offset + in-shard rank) · n_sources + source_index;
    positions of an exhausted source leave gaps, which preserves the
    stripe invariant for the sources still live.  All deterministic
    (h60 draws), retry-safe, oracle-replayable.
    """
    u = h60(F.concat(F.col(id_col).cast("string"), F.lit(f":{salt}")))
    shard = F.pmod(
        h60(F.concat(F.col(id_col).cast("string"), F.lit(f"#{salt}"))),
        F.lit(shards))
    # four consumers (rank, shard counts, source index, source count)
    # — pin the projected frame so the corpus is scanned once
    base = pin(docs.select(F.col(id_col), F.col(source_col).alias("src"),
                           u.alias("u"), shard.alias("shard")))
    base.count()
    rank_w = Window.partitionBy("src", "shard").orderBy("u", id_col)
    ranked = base.select(id_col, "src", "shard",
                         (F.row_number().over(rank_w) - 1).alias("r"))
    counts = base.groupBy("src", "shard").agg(F.count("*").alias("c"))
    off_w = (Window.partitionBy("src").orderBy("shard")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    offsets = counts.select(
        "src", "shard",
        (F.sum("c").over(off_w) - F.col("c")).alias("off"))
    srcs = (base.select("src").distinct()
            .select("src",
                    (F.row_number().over(Window.orderBy("src")) - 1)
                    .alias("sidx")))
    ns = srcs.agg(F.count("*").alias("ns"))
    return (ranked.join(F.broadcast(offsets), ["src", "shard"])
            .join(F.broadcast(srcs), "src")
            .crossJoin(F.broadcast(ns))
            .select(F.col(id_col),
                    F.col("src").alias(source_col),
                    F.expr("(off + r) * ns + sidx").cast("long")
                    .alias("pos")))


def span_corruption(docs: DataFrame, rate_ppm: int = 150_000,
                    salt: int = 5, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """T5/UL2-style span corruption — the training-EXAMPLE
    construction step of a denoising-LM pipeline: mask ~rate of the
    words, collapse each masked RUN to a sentinel in the input, and
    emit the sentinel-prefixed masked spans as the target
    (``input: "the <extra_id_0> sat" / target: "<extra_id_0> cat"``).

    Every masking decision is a deterministic h60 draw on
    (doc, position, salt) — reproducible under retries and replayed
    exactly by the oracle (rand() would make training data
    unrebuildable).  The whole transform is per-row array algebra
    over the words: the mask array is materialized ONCE per row (one
    md5 per word, bound at the DataFrame level so the run/sentinel
    logic re-reads the array, not the hash), run starts and sentinel
    indices are O(words²) boolean work on that in-memory array, and
    the corpus is never exploded or shuffled — one narrow codegen
    pass at any scale.  Returns (id, n_words, n_spans, input,
    target).
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    s1 = docs.select(F.col(id_col), words.alias("w"))
    h = ("CAST(conv(substring(md5(concat(cast(doc_id AS string), ':', "
         f"cast(j AS string), ':{salt}')), 1, 15), 16, 10) AS BIGINT)")
    s2 = s1.select(id_col, "w", F.expr(
        f"transform(sequence(0, size(w) - 1), "
        f"j -> ({h}) % 1000000 < {rate_ppm})").alias("m"))
    start = ("(element_at(m, j + 1) AND (j = 0 OR "
             "NOT element_at(m, greatest(j, 1))))")
    kof = ("(size(filter(sequence(0, j), i -> (element_at(m, i + 1) "
           "AND (i = 0 OR NOT element_at(m, greatest(i, 1)))))) - 1)")
    sent = f"concat('<extra_id_', cast({kof} AS string), '>')"
    in_piece = (f"IF({start}, {sent}, "
                "IF(element_at(m, j + 1), '', element_at(w, j + 1)))")
    tgt_piece = (f"IF({start}, concat({sent}, ' ', element_at(w, j + 1)), "
                 "IF(element_at(m, j + 1), element_at(w, j + 1), ''))")

    def joined(piece: str) -> str:
        return ("array_join(filter(transform(sequence(0, size(w) - 1), "
                f"j -> {piece}), x -> x <> ''), ' ')")

    n_spans = f"size(filter(sequence(0, size(w) - 1), j -> {start}))"
    return s2.select(
        id_col,
        F.expr("size(w)").cast("long").alias("n_words"),
        F.expr(n_spans).cast("long").alias("n_spans"),
        F.expr(joined(in_piece)).alias("input"),
        F.expr(joined(tgt_piece)).alias("target"))


def fim_transform(docs: DataFrame, salt: int = 11,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Fill-in-the-middle (Bavarian et al. 2022) training-example
    construction — the code/completion-model counterpart of span
    corruption: split each document at two deterministic cut points
    and emit the PSM-ordered string
    ``<PRE> prefix <SUF> suffix <MID> middle`` so the model learns to
    infill with bidirectional context.

    Cut points are h60 draws on (doc, salt) mod n+1 (order-
    normalized), so the transform is reproducible under retries and
    oracle-replayable; everything is per-row array slicing — one
    narrow pass, no explode, no shuffle.  Returns (id, n_words,
    cut_lo, cut_hi, fim).
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    a = h60(F.concat(F.col(id_col).cast("string"), F.lit(f":a:{salt}")))
    b = h60(F.concat(F.col(id_col).cast("string"), F.lit(f":b:{salt}")))
    s1 = docs.select(F.col(id_col), words.alias("w"),
                     a.alias("ha"), b.alias("hb"))
    s2 = s1.select(id_col, "w",
                   F.expr("least(ha % (size(w) + 1), hb % (size(w) + 1))")
                   .cast("long").alias("cut_lo"),
                   F.expr("greatest(ha % (size(w) + 1), hb % (size(w) + 1))")
                   .cast("long").alias("cut_hi"))
    fim = ("concat('<PRE> ', "
           "array_join(slice(w, 1, cast(cut_lo AS int)), ' '), "
           "' <SUF> ', "
           "array_join(slice(w, cast(cut_hi AS int) + 1, "
           "size(w) - cast(cut_hi AS int)), ' '), "
           "' <MID> ', "
           "array_join(slice(w, cast(cut_lo AS int) + 1, "
           "cast(cut_hi - cut_lo AS int)), ' '))")
    return s2.select(id_col, F.expr("size(w)").cast("long")
                     .alias("n_words"), "cut_lo", "cut_hi",
                     F.expr(fim).alias("fim"))


def corpus_stats_sketch(scored: DataFrame, lang_col: str = "pred_lang",
                        words_col: str = "q_n_words",
                        quality_col: str = "quality",
                        text_col: str = "text",
                        m: int = 64) -> DataFrame:
    """Sketch-mode twin of the corpus_stats audit (r10 verdict 3d —
    the io_column_stats_sketch expand-killer recipe applied to the
    per-language percentile audit).  The exact audit's
    ``percentile(q_n_words, p)`` materializes every group's values on
    one reducer; at 100 TB the audit should instead run on BOUNDED
    per-group state:

    - **p50/p90 words by histogram-CDF** (the rfm_segments idiom):
      word counts are small integers, so per (lang, n_words) counts
      are a tiny map-side-combinable frame; the percentile is the
      smallest value whose cumulative count clears the integer
      threshold (2·cum ≥ n for p50, 10·cum ≥ 9·n for p90) — a pure
      integer definition both engines replay bit-identically (no R-7
      interpolation, which is the exact twin's float contract).
    - **per-language vocabulary ndv by HyperLogLog** (the genuinely
      unbounded-cardinality statistic the exact audit cannot afford):
      one word explode, then :func:`sketches.hll_distinct` register
      MAXes with ``include_exact=False`` — constant m-register state
      per language, no distinct-word shuffle.
    - n_docs / avg quality stay exact (cheap partial aggregates).

    One corpus scan feeds all three via a pinned annotated frame.
    Returns (pred_lang, n_docs, avg_quality, p50_words, p90_words,
    vocab_hll) ordered by language.
    """
    from .sketches import hll_distinct

    base = pin(scored.select(
        F.col(lang_col).alias("lang"),
        F.col(words_col).cast("long").alias("nw"),
        F.col(quality_col).alias("q"),
        F.col(text_col).alias("text")))
    hist = (base.groupBy("lang", "nw").agg(F.count("*").alias("c")))
    wlang = Window.partitionBy("lang")
    cdf = (hist
           .withColumn("n", F.sum("c").over(wlang))
           .withColumn("cum", F.sum("c").over(
               wlang.orderBy("nw")
               .rowsBetween(Window.unboundedPreceding, 0))))
    pcts = (cdf.groupBy("lang").agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("nw")))
        .alias("p50_words"),
        F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("nw")))
        .alias("p90_words")))
    stats = base.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("q"), 4).alias("avg_quality"))
    words = base.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))),
                          r"\s+")).alias("word"))
    vocab = hll_distinct(words, group_col="lang", id_col="word", m=m,
                         include_exact=False) \
        .select("lang", F.col("est_hll").alias("vocab_hll"))
    return (stats.join(pcts, "lang").join(vocab, "lang")
            .select(F.col("lang").alias(lang_col),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    "avg_quality",
                    F.col("p50_words").cast("long").alias("p50_words"),
                    F.col("p90_words").cast("long").alias("p90_words"),
                    "vocab_hll")
            .orderBy(lang_col))
