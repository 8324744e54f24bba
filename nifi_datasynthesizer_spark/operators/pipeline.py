"""Composed corpus-hygiene pipeline — the end-to-end shape of an LLM
training-data cleaning pass, built purely from this package's
operators so the whole thing stays one declarative Catalyst plan:

    exact-dedup survivors
      → language ID
      → quality scoring
      → (optional) near-dup pair removal via MinHash keeper selection

Every stage is JVM-side; the only shuffles are the dedup digest
groupBy and (when near-dup is on) the band-bucket join."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import pin
from .dedup import dedup_exact_keep, dedup_minhash
from .text import lang_id, quality_score


def corpus_clean(docs: DataFrame, min_quality: float = 0.0,
                 langs: list[str] | None = None,
                 near_dup_threshold: float | None = None) -> DataFrame:
    """Clean a documents table (doc_id, text): exact-dedup, annotate
    language + quality, then filter.

    - ``min_quality``: drop docs scoring below (0 disables).
    - ``langs``: keep only these predicted languages (None keeps all).
    - ``near_dup_threshold``: additionally drop MinHash near-dups at
      this Jaccard level, keeping the lower doc_id of each pair.
    """
    kept = dedup_exact_keep(docs)
    annotated = quality_score(lang_id(kept))
    out = annotated
    if min_quality > 0.0:
        out = out.filter(F.col("quality") >= min_quality)
    if langs:
        out = out.filter(F.col("pred_lang").isin(*langs))
    if near_dup_threshold is not None:
        # `out` feeds BOTH the minhash pair generator and the final
        # anti-join: without a persist the whole window-dedup + langid
        # + quality pipeline re-executes per reference (broadcast-scale
        # joins leave no exchange to reuse).  At cluster scale the same
        # boundary is where you'd checkpoint the cleaned corpus to
        # parquet between passes.  Pinned, so release_caches() frees it.
        out = pin(out)
        pairs = dedup_minhash(out, jaccard_threshold=near_dup_threshold)
        losers = pairs.select(F.col("b").alias("doc_id")).distinct()
        out = out.join(losers, "doc_id", "left_anti")
    return out
