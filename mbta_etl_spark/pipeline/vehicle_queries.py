"""The reference's five CLI queries (pipeline/queries.go) bound to the
vehicles table with its exact semantics — quirks included (SURVEY §4):
order-sensitive CASE with the dead 'ynk%' arm, non-wrapping BETWEEN,
integer-division discrete percentiles, zero-filled histogram buckets.

Each function is (vehicles DataFrame) -> DataFrame; presentation-layer
formatting (the reference's %.2f strings, queries.go:63-64) is NOT done
here — engine outputs stay numeric (SURVEY §3.2 calls the reference's
in-query formatting a layering quirk not worth replicating).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mbta_etl_spark.operators import core

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


def top10_fastest(vehicles: DataFrame) -> DataFrame:
    """Q1 (reference pipeline/queries.go:10-18)."""
    return core.top_k(vehicles, [F.desc("speed"), F.asc("id")], 10)


def route_breakdown(vehicles: DataFrame) -> DataFrame:
    """Q2+Q3 (reference pipeline/queries.go:22-69)."""
    cls = core.prefix_classify(F.col("id"), ROUTE_ARMS, ROUTE_DEFAULT)
    return (
        vehicles.select(cls.alias("route_type"), F.col("speed"))
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
    SQLite statements; this is ONE scan of conditional aggregates plus one
    tiny percentile pass — same numbers, 10 scans → 2).

    Returns a single wide row; percentiles (moving vehicles only,
    reference queries.go:138-156) are appended as columns p50/p90/p95 and
    are null when there are no moving vehicles (the reference omits the
    keys; a null column is the relational equivalent)."""
    total = F.count(F.lit(1))
    moving = F.count(F.when(F.col("speed") > 0, 1))
    stats = vehicles.agg(
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
            F.round(
                F.sum(F.when(F.col("occupancy_status") == o, 1).otherwise(0))
                * 100.0
                / total,
                6,
            ).alias(f"occupancy_{o.lower()}_pct")
            for o in OCCUPANCIES
        ],
        F.count(F.when(F.col("direction_id") == 0, 1)).alias("outbound_vehicles"),
        F.count(F.when(F.col("direction_id") == 1, 1)).alias("inbound_vehicles"),
        moving.alias("moving_vehicles"),
        F.count(F.when(F.col("speed") == 0, 1)).alias("stationary_vehicles"),
        F.round(moving * 100.0 / total, 6).alias("percent_moving"),
    )
    pct = core.discrete_percentiles(
        vehicles.filter(F.col("speed") > 0), F.col("speed")
    )
    # pivot the 3-row percentile frame to 3 columns and cross-join onto
    # the single stats row. Both sides are 1 row: a global aggregate over
    # empty input still yields one row, here with null double p-columns.
    pct_wide = pct.groupBy().pivot("pct", ["p50", "p90", "p95"]).agg(
        F.first("value")
    )
    return stats.crossJoin(pct_wide)


def vehicles_by_bearing(
    vehicles: DataFrame, target: float, delta: float = 45.0
) -> DataFrame:
    """Q10 (reference pipeline/queries.go:190-220) — deliberately
    NON-wrapping interval, replicated literally."""
    return core.between_filter(vehicles, F.col("bearing"), target, delta).orderBy(
        "id"
    )


def bearing_summary(vehicles: DataFrame) -> DataFrame:
    """Q11 (reference pipeline/queries.go:224-276) — engine-side
    bucketing, zero-filled buckets, deterministic output order (the
    reference's Go-map output order is random; SURVEY §7.4 says pick a
    stable order)."""
    return core.cardinal_histogram(vehicles, F.col("bearing"))


def count_vehicles(vehicles: DataFrame) -> DataFrame:
    """Q12 (reference pipeline/queries.go:281-285)."""
    return core.count_rows(vehicles)


def vehicle_speed(vehicles: DataFrame, vehicle_id: str) -> DataFrame:
    """Q13 (reference pipeline/queries.go:290-294). Empty result for an
    unknown id (the reference returns sql.ErrNoRows — callers decide)."""
    return core.point_lookup(vehicles, F.col("id"), vehicle_id, ["id", "speed"])
