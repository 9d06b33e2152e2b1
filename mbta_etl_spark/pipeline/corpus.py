"""End-to-end training-corpus cleaning pipeline — the composition a
100 TB LLM-data job runs, built from the operator library:

    quality filter → exact dedup (keep min doc_id per sha)
                   → near-dedup (MinHash+LSH pairs; greedy drop the
                     higher doc_id of each confirmed pair)
                   → surviving documents + their text stats

Every stage is lazy DataFrame-to-DataFrame; the whole pipeline is ONE
Catalyst plan (filters push into the scans of every branch).

Greedy pair-drop (rather than connected components) is deliberate:
it's deterministic, single-pass, SQL-expressible (so the DuckDB oracle
can verify the kept-set exactly), and the standard practical choice —
iterative CC needs a loop (GraphFrames/iterate-until-fixpoint) and only
changes which representative survives a duplicate cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mbta_etl_spark.operators import dedup, text


def corpus_stages(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The pipeline's intermediate frames ``(qualified, exact_kept,
    survivors)``, shared by ``clean_corpus`` (final stats) and the c19
    observability funnel (per-stage counts) so compositions never
    re-derive a stage. ``exact_kept`` is persisted — it feeds the shingle
    pipeline, the anti-join probe, and the survivor rows."""
    from pyspark.sql import Window

    t, i = F.col("text"), F.col("doc_id")

    # quality as an inline column — a projection, not a compute-then-join-
    # back (the join would shuffle the whole corpus twice for no reason)
    toks = F.split(t, " ")
    n = F.size(toks)
    stop_ratio = F.size(F.filter(toks, lambda x: x.isin(*text.EN_STOPWORDS))) / n
    punct_ratio = (
        F.length(t) - F.length(F.regexp_replace(t, "[^a-z ]", ""))
    ) / F.length(t)
    len_score = F.least(F.lit(1.0), n / F.lit(100.0))
    qual = F.round(
        0.5 * len_score + 0.3 * (1 - stop_ratio) + 0.2 * (1 - punct_ratio), 6
    )
    qualified = docs.withColumn("quality", qual).filter(
        F.col("quality") >= 0.5
    )

    # exact dedup: keep the min doc_id per content group — ONE shuffle
    # (window over the content hash) instead of aggregate + join-back
    w = Window.partitionBy(F.sha2(t, 256))
    exact_kept = (
        qualified.withColumn("_keep", F.min(i).over(w))
        .filter(i == F.col("_keep"))
        .drop("_keep")
    )
    # exact_kept feeds four branches (shingles, anti-join probe, survivor
    # rows, final stats); materialize it once (localCheckpoint, reclaimed
    # on GC — see operators.core.materialize for the persist trade-off)
    from mbta_etl_spark.operators.core import materialize

    exact_kept = materialize(exact_kept)

    # near-dedup among the exact-kept set: drop doc_b of each pair
    pairs = dedup.minhash_lsh_pairs(exact_kept, t, i, threshold=0.5)
    drop_b = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    survivors = exact_kept.join(drop_b, "doc_id", "left_anti")
    return qualified, exact_kept, survivors


def clean_corpus(docs: DataFrame) -> DataFrame:
    """Returns the surviving documents of a (doc_id, text, ...) table with
    quality + token stats.

    Drop rules, in order:
    1. quality < 0.5 (length/stopword/punctuation heuristic)
    2. exact duplicates: every doc whose sha256(text) group has a smaller
       doc_id survivor
    3. near duplicates: the larger doc_id of every LSH-confirmed pair with
       Jaccard ≥ 0.5 (computed among quality survivors)
    """
    toks = F.split(F.col("text"), " ")
    _, _, survivors = corpus_stages(docs)
    # token stats inline for the same reason as quality
    return survivors.select(
        "doc_id",
        "lang",
        "source",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq_tokens"),
        F.col("quality"),
    )
