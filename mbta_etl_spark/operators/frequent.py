"""Frequent-items (heavy hitters) via two-pass Misra–Gries.

The scalable shape for "which keys exceed phi of the stream" at 100 TB:

  pass 1  per-partition Misra–Gries summaries (capacity ceil(1/phi)),
          merged by union — output is O(partitions / phi) candidate keys,
          independent of data size. MG guarantees every key with
          partition frequency > phi * partition_size survives its
          partition, and by pigeonhole any key with GLOBAL frequency
          > phi * N exceeds the partition threshold somewhere, so the
          candidate set is a superset of the true heavy hitters.
  pass 2  exact recount of the (tiny, broadcast) candidate set plus one
          global COUNT — turns the approximate sketch into an EXACT
          answer with two scans and no large shuffle (the recount
          groupBy is over <= capacity x partitions keys).

This is the classic "sketch to prune, rescan to verify" pattern (same
trade as d04's LSH-then-verify): the sketch never decides membership,
only candidacy, so the result is oracle-exact while the heavy lifting
stays O(capacity) memory per task.

Beyond-reference operator (reference has no frequency analysis; nearest
analog is the GROUP BY counts of pipeline/queries.go:94-123).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mbta_etl_spark.pipeline.load import Published


def _mg_partial(capacity: int, key: str):
    """mapInPandas summarizer: one Misra–Gries counter map per partition.

    Batches are folded in vectorized via value_counts, then trimmed with
    the mergeable-summaries rule (subtract the (capacity+1)-th largest
    count from all, drop <= 0) — Agarwal et al., "Mergeable Summaries",
    PODS 2012. Error bound is preserved; per-task memory is O(capacity).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            vc = pdf[key].value_counts()
            for k, c in vc.items():
                counters[k] = counters.get(k, 0) + int(c)
            if len(counters) > capacity:
                cut = sorted(counters.values(), reverse=True)[capacity]
                counters = {
                    k: c - cut for k, c in counters.items() if c > cut
                }
        yield pd.DataFrame({key: list(counters.keys())})

    return fn


def heavy_hitters_exact(
    df: DataFrame, key: str, phi: float
) -> DataFrame:
    """Exact keys with frequency > phi * COUNT(*), via MG candidates.

    Returns (key, n_occurrences, share) with share scaled-floored to 6dp
    for cross-engine comparability. ``df`` may have extra columns; only
    ``key`` is read (column pruning reaches the scan).
    """
    capacity = max(1, math.ceil(1.0 / phi))
    keyed = df.select(key)
    key_field = keyed.schema[0]
    candidates = (
        keyed.mapInPandas(
            _mg_partial(capacity, key), schema=f"{key} {key_field.dataType.simpleString()}"
        )
        .distinct()  # <= capacity * partitions rows — tiny
    )
    total = keyed.agg(F.count(F.lit(1)).alias("_total"))
    return (
        keyed.join(F.broadcast(candidates), key)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") > F.lit(phi) * F.col("_total"))
        .select(
            key,
            "n_occurrences",
            (
                F.floor(
                    F.col("n_occurrences") / F.col("_total") * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("share"),
        )
    )


# --- DataFrame-level MG summary algebra (streaming-mergeable state) ---------


def mg_trim(counts: DataFrame, key: str, capacity: int) -> DataFrame:
    """Trim a (key, cnt) table to a Misra–Gries summary of at most
    ``capacity`` rows: subtract the (capacity+1)-th largest count from
    all and drop non-positive remainders (the mergeable-summaries rule).
    The cut value is fetched with a bounded ``limit(capacity+1)`` —
    O(capacity) driver transfer regardless of table size."""
    top = (
        counts.orderBy(F.desc("cnt"), F.asc(key))
        .limit(capacity + 1)
        .collect()
    )
    if len(top) <= capacity:
        return counts
    cut = top[-1]["cnt"]
    return counts.select(
        key, (F.col("cnt") - F.lit(cut)).alias("cnt")
    ).filter(F.col("cnt") > 0)


def mg_summarize(df: DataFrame, key: str, capacity: int) -> DataFrame:
    """Exact batch counts trimmed to an MG summary — the per-batch
    increment of the streaming heavy-hitter state."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    return mg_trim(counts, key, capacity)


def mg_merge(
    a: DataFrame, b: DataFrame, key: str, capacity: int
) -> DataFrame:
    """Merge two MG summaries: add counts, re-trim. Preserves the MG
    guarantee (any key with true frequency > N/capacity across the
    merged inputs survives) and the undercount bound
    (true_count - N/capacity <= cnt <= true_count)."""
    merged = (
        a.select(key, "cnt")
        .unionByName(b.select(key, "cnt"))
        .groupBy(key)
        .agg(F.sum("cnt").alias("cnt"))
    )
    return mg_trim(merged, key, capacity)


def mg_step(key: str, capacity: int):
    """The ``pipeline.load.merge`` step of a standing MG summary table,
    the streaming twin of the batch operator: each micro-batch's
    summary merged into the stored one. State lives in the table (the
    summary is mergeable, Agarwal et al. PODS'12), so it survives
    restarts and stays O(capacity) rows however long the stream; a
    batch costs one batch-sized groupBy plus a merge over <= 2*capacity
    rows. Counts are lower bounds with error at most N/capacity. The
    merge skips a redelivered batch, which this bound needs: merged
    twice, a batch inflates N past the trim bound and can trim a true
    heavy hitter out of the candidates an exact recount (st03) reads."""

    def step(batch: DataFrame, current: Published | None) -> DataFrame:
        inc = mg_summarize(batch, key, capacity)
        return inc if current is None else mg_merge(current.df, inc, key, capacity)

    return step
