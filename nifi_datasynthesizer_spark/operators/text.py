"""Text-analysis operators for training-data pipelines.

Language ID, quality scoring, token counting, fingerprinting — each a
pure column expression over the ``documents`` table, designed so the
whole corpus pass is one narrow codegen stage (no shuffle until the
caller aggregates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import pin, released
from .dedup import _shingles, ensure_parallelism, normalize_text

# stopword beacons per language — tiny, high-precision function-word sets
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that", "with"],
    "es": ["el", "la", "los", "las", "que", "de", "una"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "it": ["il", "la", "che", "di", "un", "per", "con"],
    "pt": ["o", "os", "uma", "que", "de", "para", "com"],
}


def _word_array(col):
    return F.split(F.lower(F.trim(col)), r"\s+")


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: score = count of marker stopwords per
    language; argmax wins, 'und' (undetermined) when no marker hits.
    One pass, no shuffle; markers are plan literals."""
    words = _word_array(F.col(text_col))
    scores = [
        F.size(F.filter(words, lambda w: w.isin(*marks))).alias(f"score_{lang}")
        for lang, marks in _LANG_MARKERS.items()
    ]
    scored = docs.select("*", *scores)
    pairs = F.array(*[
        F.struct(F.col(f"score_{lang}").alias("s"), F.lit(lang).alias("l"))
        for lang in _LANG_MARKERS
    ])
    best = F.array_max(pairs)
    return (scored
            .withColumn("pred_lang",
                        F.when(best["s"] > 0, best["l"]).otherwise(F.lit("und")))
            .withColumn("lang_score", best["s"])
            .drop(*[f"score_{lang}" for lang in _LANG_MARKERS]))


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style quality signals, all engine-side:

    - n_chars, n_words, mean word length
    - alpha ratio (letters / chars), punct ratio, digit ratio
    - stopword ratio (English beacons)
    - max single-word repetition fraction
    plus a blended 0..1 `quality` score."""
    text = F.col(text_col)
    words = _word_array(text)
    n_chars = F.length(text)
    n_words = F.size(words)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()]", ""))
    stop = F.size(F.filter(words, lambda w: w.isin(*_LANG_MARKERS["en"])))
    uniq = F.size(F.array_distinct(words))
    # NOTE: ratios are raw IEEE doubles, NOT rounded — int/int division
    # is bit-identical across engines, but round() of a double is not
    # (JVM rounds the shortest decimal repr, DuckDB rounds the binary)
    out = docs.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_words.alias("q_n_words"),
        (n_chars / F.greatest(n_words, F.lit(1))).alias("q_mean_word_len"),
        (alpha / F.greatest(n_chars, F.lit(1)).cast("double")).alias("q_alpha_ratio"),
        (digits / F.greatest(n_chars, F.lit(1)).cast("double")).alias("q_digit_ratio"),
        (punct / F.greatest(n_chars, F.lit(1)).cast("double")).alias("q_punct_ratio"),
        (stop / F.greatest(n_words, F.lit(1)).cast("double")).alias("q_stopword_ratio"),
        (uniq / F.greatest(n_words, F.lit(1)).cast("double")).alias("q_distinct_ratio"),
    )
    quality = (
        F.when(F.col("q_n_words") < 5, 0.0)
        .otherwise(
            F.least(F.lit(1.0),
                    F.col("q_alpha_ratio") * 0.5
                    + F.col("q_distinct_ratio") * 0.3
                    + F.least(F.col("q_stopword_ratio") * 4.0, F.lit(1.0)) * 0.2))
    )
    return out.withColumn("quality", quality)


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token statistics: whitespace tokens and a BPE-ish sub-word count
    (regexp over letter-runs/digit-runs/punct, ~GPT-2 pre-tokenizer
    shape), plus a chars/4 estimate — the three standard budgeting
    signals for LLM corpus sizing."""
    text = F.col(text_col)
    ws = F.size(_word_array(text))
    bpe_ish = F.size(F.regexp_extract_all(
        text, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]|\s+"), 0))
    return docs.select(
        "*",
        ws.alias("tok_whitespace"),
        bpe_ish.alias("tok_bpe_ish"),
        F.ceil(F.length(text) / 4.0).cast("long").alias("tok_chars_div4"),
    )


def hash_embed(docs: DataFrame, dim: int = 16,
               text_col: str = "text") -> DataFrame:
    """Feature-hashing text embedding: ``embedding`` = length-``dim``
    array of token counts bucketed by h60(token) mod dim — the classic
    hashing-trick vectorizer, producing input for the ANN/embedding
    operators without any model.

    Counts stay INTEGER (no normalization here — ann_* operators
    l2-normalize on the way in), which keeps the column exactly
    replayable in SQL with zero float-formatting concerns.  Tokens are
    hashed ONCE into a materialized bucket array; the per-bucket counts
    then scan that small int array `dim` times (cheap compares), not
    the md5 pass.
    """
    from ..phash import h60

    toks = F.split(normalize_text(F.col(text_col)), " ")
    hs_expr = F.transform(toks, lambda s: h60(s) % dim)

    # bind the hashed buckets ONCE via the 1-element-array transform
    # (an alias referenced once gets inlined by CollapseProject and the
    # md5 pass would re-run per output lane — see dedup._shingles)
    def body(hb):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda k: F.size(F.filter(hb, lambda h: h == k)).cast("long"))

    counts = F.element_at(F.transform(F.array(hs_expr), body), 1)
    return docs.select("*", counts.alias("embedding"))


def _logistic_table(size: int = 256, gain: float = 6.0) -> list[float]:
    import math
    return [round(1.0 / (1.0 + math.exp(-gain * (2.0 * (q + 0.5) / size
                                                 - 1.0))), 9)
            for q in range(size)]


def classify_score(docs: DataFrame, dim: int = 64, seed: int = 11,
                   text_col: str = "text") -> DataFrame:
    """Linear text-classifier scoring — the fasttext-style quality
    filter's Spark shape: a per-row sparse dot of hashed token
    features with a weight vector bound as a plan literal.  No
    shuffle, no broadcast, no model server: at 100 TB this is exactly
    how a trained quality/toxicity/language classifier head runs over
    a corpus (hash token → weight lookup → sum → squash → threshold).

    Weights here are deterministic pseudo-weights
    ``w_b = h60('w{seed}:{b}') % 2001 - 1000`` standing in for a
    trained model file; production swaps the literal array.  The dot
    is exact integer (Σ per-token weights); the logistic squash is a
    256-slot literal quantile table over the MEAN per-token weight
    (no transcendentals at query time), floored to ppm — bit-identical
    in DuckDB.  Returns (doc_id, n_tokens, dot_q, score_ppm).
    """
    from ..phash import h60, h60_py

    weights = [(h60_py(f"w{seed}:{b}") % 2001) - 1000 for b in range(dim)]
    wlit = F.expr("array(" + ",".join(f"{w}L" for w in weights) + ")")
    ltab = _logistic_table()
    llit = F.expr("array(" + ",".join(f"{v}D" for v in ltab) + ")")
    toks = F.split(normalize_text(F.col(text_col)), " ")
    dot = F.aggregate(
        F.transform(toks, lambda t: F.element_at(
            wlit, (h60(t) % dim + 1).cast("int"))),
        F.lit(0).cast("long"), lambda a, v: a + v)
    step = docs.select("doc_id", F.size(toks).cast("long").alias("n_tokens"),
                       dot.alias("dot_q"))
    idx = F.expr("CAST(((dot_q + 1000 * n_tokens) * 255) "
                 "div (2000 * n_tokens) AS INT)")
    return step.select(
        "doc_id", "n_tokens", "dot_q",
        F.floor(F.element_at(llit, idx + 1) * 1_000_000).cast("long")
        .alias("score_ppm"))


def _logistic_ppm_table(size: int = 256, gain: float = 6.0) -> list[int]:
    """Integer-ppm logistic quantile table shared by the classifier
    trainer and its oracle — ints, so every engine agrees exactly."""
    import math
    return [int(round(1_000_000 /
                      (1.0 + math.exp(-gain * (2.0 * (q + 0.5) / size
                                               - 1.0)))))
            for q in range(size)]


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — the semantics BOTH
    Spark's ``div`` and DuckDB's ``//`` use on signed operands
    (Python's ``//`` floors, which differs on negatives)."""
    q = abs(a) // b
    return q if a >= 0 else -q


def train_classifier(docs: DataFrame, dim: int = 16, rounds: int = 16,
                     lr_num: int = 1600, lr_den: int = 1000,
                     label=None, quality_threshold: float = 0.6,
                     text_col: str = "text") -> DataFrame:
    """Full-batch logistic-regression TRAINING of a document
    classifier head over hashed token-count features — the missing
    half of :func:`classify_score` (which scores with fixed weights):
    the fasttext-style quality filter is *fit on the corpus itself*
    before it gates anything.

    ``label`` is any boolean Column over ``docs``; the default
    distills :func:`quality_score`'s heuristic blend into the cheap
    linear head (``quality >= quality_threshold``) — the production
    pattern where an expensive labeling function (heuristics, an LLM
    judge) labels once and a fast learned head gates the 100 TB scan.

    Each round is one distributed pass: per doc, bucket counts
    ``x_j`` (h60 token hash mod ``dim``), the score ``Σ w_j x_j`` in
    integer micro-units, a 256-slot integer-ppm logistic lookup (no
    transcendentals), and the gradient contribution
    ``(σ_ppm − y_ppm)·x_j``; one ``agg`` reduces the ``dim`` gradient
    sums plus the round's train accuracy, and the weight update
    happens driver-side in exact integer arithmetic and re-binds as
    plan literals for the next round — the same literal-binding fit
    loop as k-means/PQ/BPE (weights never shuffle; the corpus is
    read ``rounds`` times and nothing else moves).

    All arithmetic is integer with truncating division (Spark ``div``
    and DuckDB ``//`` agree on signed operands; Python's floor ``//``
    is corrected by ``_tdiv``), so the oracle replays every weight
    bit-exactly with unrolled per-round CTEs.

    Returns (round, j, w_micro, acc_ppm): the weight trajectory, with
    each round's training accuracy measured on its PRE-update weights.
    """
    from ..phash import h60

    sig_tab = _logistic_ppm_table()
    slit = "array(" + ",".join(f"{v}L" for v in sig_tab) + ")"
    docs = ensure_parallelism(docs)
    if label is None:
        docs = quality_score(docs, text_col)
        label = F.col("quality") >= quality_threshold
    toks = F.split(normalize_text(F.col(text_col)), " ")
    hs = F.transform(toks, lambda t: (h60(t) % dim).cast("int"))
    # two engineered features after the buckets: the intercept
    # (x = nt, so under the mean-per-token score ``dot div nt`` it
    # contributes exactly w_bias — without it the boundary is pinned
    # through the origin) and a length feature (x = nt², contributing
    # w_len·nt — mean normalization makes raw counts scale-free, so
    # document LENGTH, often the strongest quality signal, would
    # otherwise be invisible to the head)
    xs = F.concat(
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda k: F.size(F.filter(hs, lambda h: h == k)).cast("long")),
        F.array(F.size(toks).cast("long"),
                (F.size(toks).cast("long") * F.size(toks).cast("long"))))
    # persist the featurized frame: training is EAGER (one collect
    # per round), so every round would otherwise re-run the full
    # normalize/hash/label pass over the corpus — rounds× the
    # featurization cost (measured 43 s → 9 s at sf0.1).  The cache
    # holds dim+2 longs per doc, a tiny fraction of the text, and is
    # released before returning, also when a round raises.
    with released():
        base = pin(docs.select(
            xs.alias("xs"),
            F.size(toks).cast("long").alias("nt"),
            F.when(label, F.lit(1_000_000).cast("long"))
            .otherwise(F.lit(0).cast("long")).alias("y"))
            .filter(F.col("nt") >= 1))
        dim = dim + 2  # + intercept + length
        # n and per-feature scales in ONE pass; scale_j estimates the
        # score's mean SENSITIVITY to w_j (mean of x_j div nt — the
        # feature's contribution to the normalized score per weight
        # unit) and acts as a diagonal preconditioner: update_j
        # divides by it, making the effective step in score units
        # uniform across features.  Without it the length feature's
        # step is ~nt̄ times a bucket's, GD saturates the score clamp
        # and oscillates between the two constant predictions.
        srow = base.selectExpr(
            "count(*) AS n",
            *[f"sum(xs[{j}]) AS a{j}" for j in range(dim)],
            *[f"sum((xs[{j}] * 1000000) div nt) AS b{j}"
              for j in range(dim)]).collect()[0]
        n = int(srow.n)
        # s_j = E[x_j] · E[x_j/nt] (gradient magnitude × score
        # sensitivity), in exact integer ppm arithmetic
        scales = [max(1, (int(srow[f"a{j}"]) // n)
                      * (int(srow[f"b{j}"]) // n) // 1_000_000)
                  for j in range(dim)]
        w = [0] * dim
        lr_cur = lr_num
        prev_ok: int | None = None
        traj: list[tuple[int, int, int, int]] = []
        for r in range(1, rounds + 1):
            wlit = "array(" + ",".join(f"{v}L" for v in w) + ")"
            dot = F.expr(
                f"aggregate(zip_with({wlit}, xs, (a, b) -> a * b), "
                f"CAST(0 AS BIGINT), (acc, v) -> acc + v)")
            m = F.expr("GREATEST(CAST(-1000000 AS BIGINT), "
                       "LEAST(CAST(1000000 AS BIGINT), __dot div nt))")
            sig = F.expr(f"element_at({slit}, "
                         "CAST(((__m + 1000000) * 255) div 2000000 AS INT)"
                         " + 1)")
            scored = (base.withColumn("__dot", dot)
                      .withColumn("__m", m)
                      .withColumn("__sig", sig))
            # ONE selectExpr batch per round (a select of aggregates with
            # no groupBy is a global aggregate), not dim+1 Column builds:
            # the per-Column py4j round-trips recur EVERY round of the fit
            # loop (the column_stats construction lesson)
            row = scored.selectExpr(
                *[f"sum((__sig - y) * xs[{j}]) AS g{j}" for j in range(dim)],
                "sum(CASE WHEN (__sig >= 500000) = (y = 1000000) "
                "THEN 1 ELSE 0 END) AS ok").collect()[0]
            acc_ppm = (int(row.ok) * 1_000_000) // n
            # backtracking schedule: whenever this round's training
            # accuracy (measured on the PRE-update weights, i.e. the
            # result of the previous step) is worse than the round
            # before, the last step overshot — halve the rate from here
            # on.  Deterministic (pure integer comparisons on exact
            # aggregates), so the oracle replays the schedule exactly;
            # full-batch GD with a quantized sigmoid ping-pongs under any
            # constant rate because the whole batch crosses the boundary
            # together.
            if prev_ok is not None and int(row.ok) < prev_ok:
                lr_cur = max(1, lr_cur // 2)
            prev_ok = int(row.ok)
            w = [w[j] - _tdiv(int(row[f"g{j}"]) * lr_cur,
                              n * lr_den * scales[j])
                 for j in range(dim)]
            traj.extend((r, j, w[j], acc_ppm) for j in range(dim))
    spark = docs.sparkSession
    return spark.createDataFrame(
        traj, "round INT, j INT, w_micro BIGINT, acc_ppm BIGINT")


def oov_rate(docs: DataFrame, vocab_size: int = 100,
             text_col: str = "text") -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-``vocab_size`` words — the cheap tokenizer-fit / domain-shift
    probe ("how much of this document does my vocabulary not cover"),
    used to spot corrupted or off-domain documents before training.

    The vocabulary is one (n DESC, word)-deterministic TakeOrdered
    collected to ``vocab_size`` strings and bound as a plan literal —
    the scoring pass is then a narrow per-row membership count, no
    join, no second shuffle.  Returns (doc_id, n_tokens, n_oov,
    oov_ppm).
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    wc = (docs.select(F.explode(toks).alias("w"))
          .filter(F.col("w") != "")
          .groupBy("w").agg(F.count("*").alias("n"))
          .orderBy(F.desc("n"), "w").limit(vocab_size).collect())
    varr = ("array(" + ",".join("'" + r.w.replace("'", "\\'") + "'"
                                for r in wc) + ")")
    step = docs.select("doc_id", toks.alias("tk"))
    n_oov = F.expr(f"size(filter(tk, t -> NOT array_contains({varr}, t)))")
    return (step.select("doc_id",
                        F.size("tk").cast("long").alias("n_tokens"),
                        n_oov.cast("long").alias("n_oov"))
            .withColumn("oov_ppm",
                        F.floor(F.col("n_oov") * 1_000_000
                                / F.col("n_tokens")).cast("long")))


def fingerprint(docs: DataFrame, text_col: str = "text",
                ngram: int = 8) -> DataFrame:
    """Rolling-hash document fingerprint: min and max h60 over word
    8-grams plus full-document hash — the winnowing-style sketch used
    for fast containment checks (cheaper than MinHash when only a few
    hashes are needed).  h60 (portable md5-derived hash, phash.py)
    keeps the sketch replayable in the DuckDB oracle."""
    from ..phash import h60

    docs = ensure_parallelism(docs)
    grams = _shingles(F.col(text_col), ngram)
    # hash the grams once into a materialized column; min and max then
    # read the same array (two references to a non-cheap alias keep
    # CollapseProject from inlining the md5 pass twice)
    hashed = docs.select(
        "*", F.transform(grams, lambda g: h60(g)).alias("__fp_hs"))
    return hashed.select(
        "*",
        h60(normalize_text(F.col(text_col))).alias("fp_full"),
        F.array_min("__fp_hs").alias("fp_min"),
        F.array_max("__fp_hs").alias("fp_max"),
    ).drop("__fp_hs")


def tfidf_keywords(docs: DataFrame, k: int = 3,
                   text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Top-k TF-IDF keywords per document.

    The standard per-document salient-term extractor for corpus
    exploration and topic labeling.  Plan shape for 100 TB:

    1. one narrow pass explodes normalized words (tokens carry only
       (doc_id, word) — no document text survives the explode);
    2. ``groupBy(doc_id, word)`` → per-doc term frequencies — the
       posting shuffle, map-side combined (partial counts collapse
       same-doc repeats before the exchange);
    3. document frequencies derive from the SAME aggregated frame
       (``groupBy(word)`` over the postings — no second corpus scan);
    4. tf joins df on ``word`` — both sides are already keyed by word
       at that point, and the df side is |vocab|-sized (orders of
       magnitude smaller than the corpus; AQE picks broadcast when it
       fits);
    5. per-doc top-k is a window over (doc_id) ordered by the
       quantized score — the window key matches the tf shuffle key, so
       no extra exchange.

    Scores are ``floor(tf * ln(N/df) * 1e4)`` (integer q4 units):
    ranking and the oracle compare happen on the quantized value with
    a (score, word) tie-break, immune to last-ulp ln() differences
    between engines.
    """
    docs = ensure_parallelism(docs)
    words = (docs.select(F.col(id_col),
                         F.explode(F.split(normalize_text(F.col(text_col)),
                                           " ")).alias("word"))
             .filter(F.col("word") != ""))
    tf = words.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    # tf feeds BOTH the df derivation and the scoring join — unpinned,
    # each replays the corpus explode (plan audit: 3 corpus scans).
    # The pinned frame is the aggregated slim posting list; eager
    # count() per the lazily-pinned-fan-out rule; released via
    # cache.release_caches().
    tf = pin(tf)
    tf.count()
    df_ = tf.groupBy("word").agg(F.count("*").alias("df"))
    # corpus size as a broadcast 1-row aggregate — keeps the operator
    # fully lazy (no driver-side count() action embedded in a plan)
    n_docs = docs.agg(F.count("*").cast("double").alias("__n"))
    scored = (tf.join(df_, "word")
              .crossJoin(F.broadcast(n_docs))
              .withColumn("score_q4",
                          F.floor(F.col("tf")
                                  * F.log(F.col("__n") / F.col("df"))
                                  * 1e4).cast("long"))
              .drop("__n"))
    w = Window.partitionBy(id_col).orderBy(F.desc("score_q4"), F.asc("word"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "rank", "word", "tf", "score_q4"))


def bigram_fluency(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Corpus bigram language-model fluency score per document — the
    perplexity-style quality filter (KenLM-filter shape) computable
    without an external model: the LM IS the corpus's own bigram
    statistics, and a document scores high when its word transitions
    are typical of the corpus.

    score = mean over the doc's bigrams of P(w2 | w1), with each
    conditional probability quantized to integer ppm BEFORE the mean
    (``floor(1e6 * c(w1,w2) / c(w1·))``): one IEEE division per bigram
    (bit-identical across engines), then pure integer sums — no log(),
    no float accumulation order to drift.

    Plan shape for 100 TB: one explode pass emits (doc_id, w1, w2)
    bigrams; ``groupBy(w1, w2)`` builds the LM (map-side combined;
    |bigram vocab| ≪ corpus); prefix counts derive from the LM frame
    itself (groupBy w1 — no second scan); the per-doc pass re-joins
    bigrams to the LM on (w1, w2) and integer-averages per doc_id.
    The LM join is the only corpus-sized exchange; in production the
    LM side would be built on a sample and broadcast.
    """
    docs = ensure_parallelism(docs)
    toks = F.split(normalize_text(F.col(text_col)), " ")
    pairs = (docs.select(F.col(id_col), toks.alias("__toks"))
             .filter(F.size("__toks") >= 2)
             .select(F.col(id_col), F.explode(F.transform(
                 F.sequence(F.lit(0), F.size("__toks") - 2),
                 lambda j: F.struct(
                     F.element_at(F.col("__toks"),
                                  (j + 1).cast("int")).alias("w1"),
                     F.element_at(F.col("__toks"),
                                  (j + 2).cast("int")).alias("w2"))
             )).alias("bg"))
             .select(id_col, F.col("bg.w1").alias("w1"),
                     F.col("bg.w2").alias("w2")))
    lm2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # the LM table is |bigram vocab|-bounded but its lineage is the
    # corpus bigram explode, and THREE consumers read it (prefix
    # counts, probs, and the per-doc join build) — pin it (eagerly;
    # released via cache.release_caches()) so the corpus pays the
    # explode twice (LM build + per-doc pass), not three times.
    lm2 = pin(lm2)
    lm2.count()
    lm1 = lm2.groupBy("w1").agg(F.sum("c2").alias("c1"))
    probs = lm2.join(lm1, "w1").select(
        "w1", "w2",
        F.floor(F.col("c2") * 1e6 / F.col("c1")).cast("long").alias("p_ppm"))
    return (pairs.join(probs, ["w1", "w2"])
            .groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.floor(F.sum("p_ppm") / F.count("*")).cast("long")
                 .alias("fluency_ppm")))


def readability(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Per-document readability scores — Flesch reading-ease and
    Flesch–Kincaid grade level, the third classic axis of a quality
    filter chain (entropy catches boilerplate, repetition catches
    spam, readability catches word-salad/OCR noise whose sentence
    structure is wrong even when the vocabulary looks fine).

    Counting rules (deterministic, engine-exact):
      words      = maximal non-whitespace runs
      sentences  = maximal ``[.!?]+`` runs, floored at 1
      syllables  = vowel-group runs ``[aeiouy]+`` over the lowercased
                   text, plus 1 per vowel-less word (every word
                   contributes at least one syllable) — the standard
                   dictionary-free estimate
    Scores in integer micro-units with each division's operands
    positive (trunc == floor in both engines):
      flesch = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)
      fk     = 0.39·(words/sentences) + 11.8·(syll/words) − 15.59

    Plan shape for 100 TB: one narrow codegen pass over the corpus —
    regexp counts and integer arithmetic only, no explode, no
    shuffle, no UDF.  NULL metrics for wordless documents.
    """
    lower = F.lower(F.col(text_col))
    toks = F.regexp_extract_all(lower, F.lit(r"[^\s]+"), 0)
    staged = docs.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all(F.col(text_col),
                                        F.lit(r"[.!?]+"), 0)),
            F.lit(1)).cast("long").alias("n_sentences"),
        (F.size(F.regexp_extract_all(lower, F.lit(r"[aeiouy]+"), 0))
         + F.size(F.filter(toks, lambda w: ~w.rlike("[aeiouy]"))))
        .cast("long").alias("n_syllables"))
    wps = F.expr("1015000 * n_words div n_sentences")
    spw = F.expr("84600000 * n_syllables div n_words")
    fk = F.expr("390000 * n_words div n_sentences"
                " + 11800000 * n_syllables div n_words - 15590000")
    gated = F.col("n_words") >= 1
    return staged.select(
        id_col, "n_words", "n_sentences", "n_syllables",
        F.when(gated, F.lit(206835000) - wps - spw)
        .cast("long").alias("flesch_micro"),
        F.when(gated, fk).cast("long").alias("fk_grade_micro"))


def word_entropy(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram word entropy + type-token ratio — the
    information-density quality signals of a C4/Gopher-style filter
    chain: near-zero entropy flags boilerplate/keyword-stuffing pages
    that length or stopword ratios miss, and TTR flags template text.

    ``H = log2(n) − (1/n)·Σ c·log2(c)`` over per-word counts c,
    computed entirely in integer micro-bits with the shared micro-log2
    primitive (curation._ilog2_micro_sql: exponent from length(bin(x))
    + a 256-entry Python-generated mantissa table — no libm in either
    engine, so DuckDB replays bit-exactly; error ≤ ~0.006 bits).

    Plan shape for 100 TB: the classic wordcount pair — explode →
    (doc, word) count → per-doc aggregate — both aggregations
    map-side-combinable, shuffle keyed on the uniform (doc_id, word)
    pair then doc_id; no driver state, no UDFs, no window.  Returns
    (doc_id, n_words, n_distinct, entropy_micro, ttr_ppm) with NULL
    metrics for wordless docs.
    """
    from .curation import _ilog2_micro_sql

    words = (docs.select(F.col(id_col),
                         F.explode(_word_array(F.col(text_col)))
                         .alias("w"))
             .filter(F.col("w") != ""))
    wc = words.groupBy(id_col, "w").agg(F.count("*").alias("c"))
    per = wc.groupBy(id_col).agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.sum(F.expr(f"c * ({_ilog2_micro_sql('c')})")).alias("sum_clog"))
    ent = F.expr(f"({_ilog2_micro_sql('n_words')}) - (sum_clog div n_words)")
    out = (docs.select(id_col)
           .join(per, id_col, "left")
           .select(F.col(id_col),
                   F.coalesce("n_words", F.lit(0)).alias("n_words"),
                   F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
                   F.when(F.col("n_words") >= 1, ent)
                   .cast("long").alias("entropy_micro"),
                   F.when(F.col("n_words") >= 1,
                          F.expr("n_distinct * 1000000 div n_words"))
                   .cast("long").alias("ttr_ppm")))
    return out


def classifier_calibration(docs: DataFrame, dim: int = 64,
                           seed: int = 11,
                           quality_threshold: float = 0.6,
                           buckets: int = 10) -> DataFrame:
    """Calibration curve (reliability diagram) of the linear
    classifier head against the heuristic quality labeler — the
    governance read before the head gates a 100 TB scan: a monotone
    positive-rate-per-score-decile curve means the score is usable as
    a threshold; a flat one means the head learned nothing and the
    filter would be noise.

    Two narrow passes over the corpus (score and label are
    independent per-row expressions) joined on the id, then one
    map-side-combined aggregate over ``buckets`` rows.  Returns
    (bucket, n, n_pos, pos_rate_ppm) — all integers, engine-exact.
    """
    width = 1_000_000 // buckets
    scored = classify_score(docs, dim=dim, seed=seed) \
        .select("doc_id", "score_ppm")
    lab = quality_score(docs).select(
        "doc_id",
        (F.col("quality") >= quality_threshold).cast("long").alias("pos"))
    j = scored.join(lab, "doc_id")
    bucket = F.least(F.expr(f"score_ppm div {width}"),
                     F.lit(buckets - 1)).cast("long")
    return (j.groupBy(bucket.alias("bucket"))
            .agg(F.count("*").alias("n"),
                 F.sum("pos").alias("n_pos"))
            .select("bucket", "n", "n_pos",
                    F.expr("n_pos * 1000000 div n").cast("long")
                    .alias("pos_rate_ppm")))


def ngram_lm_score(docs: DataFrame, holdout_mod: int = 5,
                   text_col: str = "text") -> DataFrame:
    """Perplexity-style quality scoring with a corpus-trained bigram
    LM (the CCNet recipe: train a small LM on a reference slice,
    score every document, filter/bucket by perplexity — the standard
    pretraining-data quality gate).  Documents hash-split by doc_id:
    ``pmod(h60(doc_id), holdout_mod) != 0`` trains add-one-smoothed
    bigram counts; the held-out slice is scored with
    ``log P(w2|w1) = ln((c(w1,w2)+1) / (c(w1)+V))``.

    Engine-exactness: ln() is quantized per BIGRAM at 1e-4 (the same
    contract as bm25_topk — ulp drift absorbed by the quantization)
    and summed as integers, so aggregation order cannot flip a bit.
    Output per scored doc: (doc_id, n_bigrams, sum_nll_q4,
    avg_nll_q4) — the negative log likelihood and its per-bigram
    rate, the perplexity surrogate (monotone in it), kept POSITIVE
    and in integer space (integer division on negatives truncates
    differently across engines; on positives it cannot).

    Scale shape: the model IS a DataFrame (bigram → count — never
    collected); scoring is two shuffles on the score slice's bigrams
    (bigram-key left join to the model, w1-key left join to unigram
    counts for unseen-bigram backoff), plus a broadcast 1-row vocab
    size.  Training is two map-side-combinable aggregations over the
    train slice.  No Python rows, no driver-side model.
    """
    from ..phash import h60

    toks = F.split(normalize_text(F.col(text_col)), " ")
    # pinned: the tokenized corpus feeds the bigram explode twice
    # (train counts, holdout scoring) plus the unigram counts —
    # unpersisted, the source would rescan three times.  Release via
    # cache.release_caches().
    base = pin(docs.select(
        "doc_id", toks.alias("w"),
        (F.pmod(h60(F.col("doc_id").cast("string")), holdout_mod) == 0)
        .alias("is_holdout")))
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    bi = (base.select("doc_id", "is_holdout",
                      F.explode(F.arrays_zip(
                          F.slice("w", 1, n1),
                          F.slice(F.col("w"), 2, n1))).alias("z"))
          .select("doc_id", "is_holdout",
                  F.col("z.0").alias("w1"),
                  F.concat_ws(" ", "z.0", "z.1").alias("bg")))
    train_bi = bi.filter(~F.col("is_holdout"))
    c2 = train_bi.groupBy("bg").agg(F.count("*").alias("c12"))
    uni = (base.filter(~F.col("is_holdout"))
           .select(F.explode("w").alias("w1"))
           .groupBy("w1").agg(F.count("*").alias("c1")))
    vocab = uni.agg(F.count("*").alias("v"))
    scored = (bi.filter(F.col("is_holdout"))
              .join(c2, "bg", "left")
              .join(uni, "w1", "left")
              .crossJoin(F.broadcast(vocab))
              .select("doc_id",
                      (-F.floor(F.log(
                          (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0))
                          / (F.coalesce(F.col("c1"), F.lit(0))
                             + F.col("v"))) * 1e4))
                      .cast("long").alias("nll_q4")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum("nll_q4").alias("sum_nll_q4"))
            .select("doc_id", "n_bigrams",
                    F.col("sum_nll_q4").cast("long").alias("sum_nll_q4"),
                    F.expr("sum_nll_q4 div n_bigrams").cast("long")
                    .alias("avg_nll_q4")))


def bigram_boilerplate(docs: DataFrame, min_df: int = 3,
                       text_col: str = "text") -> DataFrame:
    """Boilerplate scoring by corpus-frequent word bigrams: for every
    document, the ppm share of its bigram OCCURRENCES whose bigram
    appears in >= ``min_df`` distinct documents — the
    templated-text / navigation-chrome signal (CCNet-style corpora
    drop or downweight documents dominated by bigrams everyone else
    also has; high-novelty bigram mass marks original prose).

    Scale shape: explode to (doc_id, bigram) once; document frequency
    is one map-side-combinable aggregate keyed on the bigram; the
    per-doc readout joins occurrences back on the same bigram key
    (two shuffles total, both on the bigram — co-partitioned, and
    bounded by corpus token count, never corpus²).  No vocabulary is
    collected to the driver.  All-integer output: (doc_id, n_bigrams,
    n_common, common_ppm) for every document with >= 1 bigram.

    Bigram extraction is ``arrays_zip`` of the word array against its
    own 1-shifted slice — whole-array collection functions, NOT a
    per-element ``transform`` lambda: higher-order functions are
    interpreted (never codegen'd), and a lambda that also indexes the
    OUTER array measured ~20× slower here (14 s vs 0.7 s for 266k
    bigrams — the same interpreter trap as
    clustering._ASSIGN_LITERAL_MAX_CELLS).  Still shuffle-free.
    """
    toks = F.split(normalize_text(F.col(text_col)), " ")
    n1 = F.greatest(F.size("w") - 1, F.lit(0))
    bi = (docs.select("doc_id", toks.alias("w"))
          .select("doc_id",
                  F.explode(F.arrays_zip(
                      F.slice("w", 1, n1),
                      F.slice(F.col("w"), 2, n1))).alias("z"))
          .select("doc_id",
                  F.concat_ws(" ", "z.0", "z.1").alias("bg")))
    df_counts = (bi.groupBy("bg")
                 .agg(F.countDistinct("doc_id").alias("df")))
    scored = (bi.join(df_counts, "bg")
              .groupBy("doc_id")
              .agg(F.count("*").alias("n_bigrams"),
                   F.sum((F.col("df") >= min_df).cast("long"))
                   .alias("n_common")))
    return scored.select(
        "doc_id", "n_bigrams", "n_common",
        F.expr("n_common * 1000000 div n_bigrams").cast("long")
        .alias("common_ppm"))
