"""The reference's five CLI queries (pipeline/queries.go) bound to the
vehicles table with its exact semantics — quirks included (SURVEY §4):
order-sensitive CASE with the dead 'ynk%' arm, non-wrapping BETWEEN,
integer-division discrete percentiles, zero-filled histogram buckets.

Each function is (vehicles DataFrame) -> DataFrame and runs as one
Spark job over a small table: an input whose plan size estimate fits one
task (``load.fits_one_task``, the merge's rule) is coalesced into one
partition, which satisfies every distribution an aggregate, a window or a
sort requires, so no exchange is planned. A larger input keeps the
distributed plan. Presentation-layer
formatting (the reference's %.2f strings, queries.go:63-64) is NOT done
here — engine outputs stay numeric (SURVEY §3.2 calls the reference's
in-query formatting a layering quirk not worth replicating).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mbta_etl_spark.operators import core
from mbta_etl_spark.pipeline import load

# Reference pipeline/queries.go:26-34 — CASE arm order preserved,
# including the dead 'ynk' arm shadowed by 'y'.
ROUTE_ARMS = [
    ("R-", "Red Line"),
    ("O-", "Orange Line"),
    ("G-", "Green Line"),
    ("B-", "Blue Line"),
    ("y", "Bus"),
    ("ynk", "Commuter Rail"),  # dead arm — 'y' matches first
]
ROUTE_DEFAULT = "Other"

STATUSES = ("IN_TRANSIT_TO", "STOPPED_AT", "INCOMING_AT")
# reference queries.go:104-111: the three occupancy share percentages are
# MANY_SEATS_AVAILABLE / FEW_SEATS_AVAILABLE / UNKNOWN — and since the
# transform maps empty/null occupancy to UNKNOWN (transform.go:62-67),
# UNKNOWN is a real, common bucket, not a leftover.
OCCUPANCIES = ("MANY_SEATS_AVAILABLE", "FEW_SEATS_AVAILABLE", "UNKNOWN")


def _one_task(vehicles: DataFrame) -> DataFrame:
    """``vehicles`` coalesced into one partition when its analyzed plan's
    size estimate fits one task, else unchanged."""
    if load.fits_one_task(vehicles.sparkSession, load.plan_size(vehicles)):
        return vehicles.coalesce(1)
    return vehicles


def top10_fastest(vehicles: DataFrame) -> DataFrame:
    """Q1 (reference pipeline/queries.go:10-18)."""
    return core.top_k(_one_task(vehicles), [F.desc("speed"), F.asc("id")], 10)


def route_breakdown(vehicles: DataFrame) -> DataFrame:
    """Q2+Q3 (reference pipeline/queries.go:22-69)."""
    cls = core.prefix_classify(F.col("id"), ROUTE_ARMS, ROUTE_DEFAULT)
    return (
        _one_task(vehicles).select(cls.alias("route_type"), F.col("speed"))
        .groupBy("route_type")
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.round(F.avg("speed"), 6).alias("avg_speed"),
            F.max("speed").alias("max_speed"),
        )
        .orderBy(F.desc("count"), F.asc("route_type"))
    )


def summary_stats(vehicles: DataFrame) -> DataFrame:
    """Q4–Q9 fused (reference pipeline/queries.go:74-160 runs TEN separate
    SQLite statements; this is ONE aggregate of conditional counts over
    one ranking window — same numbers, 10 scans → 1).

    Returns a single wide row; percentiles (moving vehicles only,
    reference queries.go:138-156) are the last columns p50/p90/p95. One
    global window ranks the moving speeds ascending (the others sort
    after them) and counts them; each percentile is the speed at rank
    ``(n * num) div den + 1`` (``core.PERCENTILE_OFFSETS``), taken by a
    ``max`` in the same aggregate. The p-columns are null doubles when no
    vehicle moves (the reference omits the keys; a null column is the
    relational equivalent). An unpartitioned window sorts every row in
    one task, so on a large table the whole report, not only the moving
    speeds, goes through that one sort; ``core.approx_percentiles`` is
    the scale path. On an empty table the shares are null doubles, as
    SQLite, the reference's engine, returns NULL for a division by zero
    (ANSI Spark would raise ``DIVIDE_BY_ZERO``)."""
    total = F.count(F.lit(1))
    moving = F.count(F.when(F.col("speed") > 0, 1))

    def percent(n):
        return F.round(F.try_divide(n * 100.0, total), 6)

    moving_speed = F.when(F.col("speed") > 0, F.col("speed"))
    w = Window.orderBy(moving_speed.asc_nulls_last())
    ranked = _one_task(vehicles).withColumns({
        "_rn": F.row_number().over(w),
        "_n": F.count(moving_speed).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    })
    return ranked.agg(
        total.alias("total_vehicles"),
        F.round(F.avg("speed"), 6).alias("average_speed"),
        F.max("speed").alias("max_speed"),
        F.min("speed").alias("min_speed"),
        *[
            F.count(F.when(F.col("current_status") == s, 1)).alias(
                f"status_{s.lower()}"
            )
            for s in STATUSES
        ],
        *[
            percent(F.sum(F.when(F.col("occupancy_status") == o, 1).otherwise(0)))
            .alias(f"occupancy_{o.lower()}_pct")
            for o in OCCUPANCIES
        ],
        F.count(F.when(F.col("direction_id") == 0, 1)).alias("outbound_vehicles"),
        F.count(F.when(F.col("direction_id") == 1, 1)).alias("inbound_vehicles"),
        moving.alias("moving_vehicles"),
        F.count(F.when(F.col("speed") == 0, 1)).alias("stationary_vehicles"),
        percent(moving).alias("percent_moving"),
        *[
            F.max(
                F.when(F.expr(f"_rn = (_n * {num}) div {den} + 1"), moving_speed)
            ).alias(label)
            for label, num, den in core.PERCENTILE_OFFSETS
        ],
    )


def vehicles_by_bearing(
    vehicles: DataFrame, target: float, delta: float = 45.0
) -> DataFrame:
    """Q10 (reference pipeline/queries.go:190-220) — deliberately
    NON-wrapping interval, replicated literally."""
    return core.between_filter(
        _one_task(vehicles), F.col("bearing"), target, delta
    ).orderBy("id")


def bearing_summary(vehicles: DataFrame) -> DataFrame:
    """Q11 (reference pipeline/queries.go:224-276) — engine-side
    bucketing, zero-filled buckets, deterministic output order (the
    reference's Go-map output order is random; SURVEY §7.4 says pick a
    stable order)."""
    return core.cardinal_histogram(_one_task(vehicles), F.col("bearing"))


def count_vehicles(vehicles: DataFrame) -> DataFrame:
    """Q12 (reference pipeline/queries.go:281-285)."""
    return core.count_rows(_one_task(vehicles))


def vehicle_speed(vehicles: DataFrame, vehicle_id: str) -> DataFrame:
    """Q13 (reference pipeline/queries.go:290-294). Empty result for an
    unknown id (the reference returns sql.ErrNoRows — callers decide)."""
    return core.point_lookup(
        _one_task(vehicles), F.col("id"), vehicle_id, ["id", "speed"]
    )
