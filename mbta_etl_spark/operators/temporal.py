"""Temporal joins: as-of join and keyed time-range join.

The reference engine has no temporal-join operator (its richest join
surface is the per-id point lookup, reference pipeline/queries.go:290-294);
these are the beyond-reference operators a training-data / event-analytics
pipeline needs (attribution, feature backfill, point-in-time correctness).

Spark-first design notes
------------------------
``asof_join`` is NOT a range cross-join. It is the union-tag + running
``last(ignorenulls)`` window construction: both streams are unioned,
shuffled ONCE on the join key, sorted by (ts, side), and each left row
picks up the most recent right payload via an unbounded-preceding window.
That is exactly the merge pass a hand-written as-of merge join would do,
expressed declaratively so Catalyst/Tungsten run it as one Exchange + one
Sort + one codegen'd Window — no row explosion, no per-row subquery, and
wall-clock scales like any keyed aggregation at 100 TB. Hot keys skew the
sort the same way they skew any window; mitigate upstream by splitting the
key space (e.g. salting with per-salt re-merge) if one key dominates.

``range_join_agg`` keeps an equi-key, so Catalyst plans a shuffled
hash/sort-merge join on the key with the range condition as a post-join
filter — the scalable shape. A pure range predicate with NO equi-key
would degrade to BroadcastNestedLoopJoin; don't do that at scale, bucket
the time axis instead (see sources/layout.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SIDE = "_asof_side"
_PREFIX = "_r_"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    payload: list[str],
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: for every left row, attach the right row with the
    largest ``ts`` <= left ``ts`` (direction="backward", inclusive) or the
    smallest ``ts`` >= left ``ts`` ("forward"), per ``on`` key.

    Right columns arrive prefixed ``r_`` (including ``r_<ts>``); left rows
    with no match keep nulls (LEFT semantics). Ties inside ``right`` at the
    same (key, ts) are resolved by the LAST payload row in (ts, side,
    payload-order) — dedupe ``right`` first if you need a specific winner.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    r = right.select(
        F.col(on),
        F.col(ts),
        F.col(ts).alias(f"{_PREFIX}{ts}"),
        *[F.col(c).alias(f"{_PREFIX}{c}") for c in payload],
        F.lit(0).alias(_SIDE),
    )
    l = left.withColumn(_SIDE, F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)

    order = (
        [F.col(ts).asc(), F.col(_SIDE).asc()]
        if direction == "backward"
        else [F.col(ts).desc(), F.col(_SIDE).asc()]
    )
    w = (
        Window.partitionBy(on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [f"{_PREFIX}{ts}"] + [f"{_PREFIX}{c}" for c in payload]
    out = u
    for c in carried:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    out = out.filter(F.col(_SIDE) == 1).drop(_SIDE)
    renames = {f"{_PREFIX}{ts}": f"r_{ts}"} | {
        f"{_PREFIX}{c}": f"r_{c}" for c in payload
    }
    return out.withColumnsRenamed(renames)


def range_join_agg(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    window_expr: str,
    aggs: list,
) -> DataFrame:
    """Keyed time-range join + aggregate: for each left row, aggregate the
    right rows of the same key whose ``right_ts`` falls in
    (left_ts - window, left_ts].

    ``window_expr`` is a SQL interval literal body, e.g. ``"INTERVAL 10
    MINUTES"``. ``aggs`` are aggregate Columns over the joined right side
    (nulls for unmatched lefts — use count/coalesce accordingly).
    Equi-key keeps the plan a shuffled join, not a nested loop.
    """
    lo = F.expr(f"l.{left_ts} - {window_expr}")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}") > lo)
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    joined = left.alias("l").join(right.alias("r"), cond, "left")
    group_cols = [F.col(f"l.{c}") for c in left.columns]
    return joined.groupBy(*group_cols).agg(*aggs)


def interval_overlap_join(a: DataFrame, b: DataFrame, key: str) -> DataFrame:
    """Keyed interval-overlap join via time-axis binning — the scalable
    range-join shape. Inputs carry (key, id, start_ts, end_ts); output is
    every (key, a_id, b_id) whose intervals overlap, with the overlap
    duration in seconds.

    Without binning, ``a.start < b.end AND b.start < a.end`` alone forces
    a nested-loop join. Binning restores an equi-key: each interval
    explodes into the coarse time bins it touches, the join runs on
    (key, bin) — a plain shuffled hash join — and the exact overlap
    predicate filters the binned candidates. An interval pair overlapping
    across a bin boundary appears in multiple bins, so candidates are
    de-duplicated before the final projection. Bins are 5 minutes wide:
    bin width trades explode factor (long intervals / small bins → many
    rows) against candidate precision (huge bins → more false
    candidates), and belongs near the median interval length. Overlap
    seconds derive from exact microsecond arithmetic — no float
    hazards."""
    # tz-free binning: microseconds since a fixed NTZ reference, integer-
    # divided into bins (unix_micros would need an NTZ→TZ cast that
    # shifts with the session timezone)
    bin_expr = (
        "CAST(timestampdiff(MICROSECOND, "
        "TIMESTAMP_NTZ '2000-01-01 00:00:00', {c}) "
        "/ 300000000 AS LONG)"
    )

    def _bins(df: DataFrame, side: str) -> DataFrame:
        lo = F.expr(bin_expr.format(c="start_ts"))
        hi = F.expr(bin_expr.format(c="end_ts"))
        return df.select(
            F.col(key),
            F.col("id").alias(f"{side}_id"),
            F.col("start_ts").alias(f"{side}_start"),
            F.col("end_ts").alias(f"{side}_end"),
            F.explode(F.sequence(lo, hi)).alias("_bin"),
        )

    cand = (
        _bins(a, "a")
        .join(_bins(b, "b"), [key, "_bin"])
        .filter(
            (F.col("a_start") < F.col("b_end"))
            & (F.col("b_start") < F.col("a_end"))
        )
        .drop("_bin")
        .distinct()
    )
    overlap_us = F.expr(
        "timestampdiff(MICROSECOND, "
        "greatest(a_start, b_start), least(a_end, b_end))"
    )
    return cand.select(
        key,
        "a_id",
        "b_id",
        (overlap_us / F.lit(1_000_000.0)).alias("overlap_s"),
    )
