"""Query registry: every implemented operator bound to the driver's
testdata tables, plus the DuckDB oracle SQL for the correctness gate.

Column-name discipline: every computed column is aliased identically in the
Spark plan and the oracle SQL (the driver sorts columns by name before
hashing). Float-valued computed columns are rounded to 6dp on BOTH sides;
raw pass-through columns are left exact.

Operator → testdata binding follows FIXTURES.md §B:
  vehicle.speed → events.value, vehicle.id → event keys,
  route-prefix CASE → event_type prefixes, bearing → pmod(value, 360),
  point lookup → customer.c_custkey.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mbta_etl_spark.operators import core
from mbta_etl_spark.sources.tables import load_table

# Ordered CASE arms for the Q2 classifier analog. Mirrors the reference's
# order-sensitive CASE incl. a dead arm ('v%' shadows 'vi%', like 'y%'
# shadows 'ynk%' at reference pipeline/queries.go:31-32).
CLASS_ARMS = [
    ("s", "Signup"),
    ("c", "Click"),
    ("e", "Error"),
    ("v", "View"),
    ("vi", "ViewDead"),  # dead arm, preserved deliberately
]
CLASS_DEFAULT = "Other"

_CLASS_CASE_SQL = (
    "CASE WHEN event_type LIKE 's%' THEN 'Signup' "
    "WHEN event_type LIKE 'c%' THEN 'Click' "
    "WHEN event_type LIKE 'e%' THEN 'Error' "
    "WHEN event_type LIKE 'v%' THEN 'View' "
    "WHEN event_type LIKE 'vi%' THEN 'ViewDead' "
    "ELSE 'Other' END"
)

STATUS_VALUES = ("click", "view", "purchase")
ORDERSTATUS_VALUES = ("O", "F", "P")
SPLIT_THRESHOLD = 100.0
BETWEEN_TARGET, BETWEEN_DELTA = 5.0, 10.0
LOOKUP_KEY = 42


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- Spark-side query functions (each: (spark, sf_dir) -> DataFrame) -------


def q01_top10_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 analog (reference pipeline/queries.go:10-18), deterministic
    tie-break on event_id."""
    df = _events(spark, sf_dir).select("event_id", "event_type", "value")
    return core.top_k(df, [F.desc("value"), F.asc("event_id")], 10)


def q02_prefix_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 analog (reference pipeline/queries.go:26-34)."""
    df = _events(spark, sf_dir)
    cls = core.prefix_classify(F.col("event_type"), CLASS_ARMS, CLASS_DEFAULT)
    return df.select("event_id", "event_type", cls.alias("event_class"))


def q03_class_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 analog (reference pipeline/queries.go:22-69)."""
    df = _events(spark, sf_dir)
    cls = core.prefix_classify(F.col("event_type"), CLASS_ARMS, CLASS_DEFAULT)
    return core.class_breakdown(df, cls, F.col("value"))


def q04_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 analog (reference pipeline/queries.go:79-82)."""
    return core.global_stats(_events(spark, sf_dir), F.col("value"))


def q05_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 analog (reference pipeline/queries.go:94-97), fused to one scan."""
    return core.conditional_counts(
        _events(spark, sf_dir), F.col("event_type"), STATUS_VALUES
    )


def q06_share_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 analog (reference pipeline/queries.go:104-111)."""
    return core.share_percentages(
        _events(spark, sf_dir), F.col("event_type"), STATUS_VALUES
    )


def q07_orderstatus_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 analog (reference pipeline/queries.go:118-123) on orders."""
    df = load_table(spark, sf_dir, "orders")
    return core.conditional_counts(df, F.col("o_orderstatus"), ORDERSTATUS_VALUES)


def q08_threshold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 analog (reference pipeline/queries.go:126-135)."""
    return core.threshold_split(
        _events(spark, sf_dir), F.col("value"), SPLIT_THRESHOLD
    )


def q09_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 analog (reference pipeline/queries.go:138-156): discrete
    lower-bound percentiles with SQLite integer-division OFFSETs over the
    value>0 subset."""
    df = _events(spark, sf_dir).filter(F.col("value") > 0)
    return core.discrete_percentiles(df, F.col("value"))


Q09A_ACCURACY = 10000  # percentile_approx accuracy => rank error <= n/accuracy
Q09A_FRACTIONS = (0.5, 0.9, 0.95)
# label rule mirrors core.approx_percentiles (f"p{int(f*100)}") — one
# constant feeds the operator call, the audit structs AND the oracle's
# VALUES list, so a fraction change cannot desynchronize them
Q09A_LABELS = tuple(f"p{int(f * 100)}" for f in Q09A_FRACTIONS)


def q09a_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path variant of Q9 with a COMPOSED oracle (VERDICT r4
    item 3, the d13 pattern): the single-pass mergeable sketch
    (percentile_approx) runs as before, then the entry measures the
    estimate's EXACT rank against the sketch's published guarantee
    (rank error <= n/accuracy) and emits the hash-checkable audit row
    (pct, n, rank_tol, in_bounds) — the estimate itself is
    engine-specific so it stays out of the hashed columns, but a sketch
    drift past its contract flips in_bounds and breaks the driver hash.
    Two scans of the filtered column, zero sorts, state O(accuracy):
    still the 100 TB path (q09's exact global sort is the parity op).

    in_bounds: percentile_approx returns an element whose rank interval
    [count(<v)+1, count(<=v)] must intersect [p*n - tol, p*n + tol].
    The sketch side IS the production operator
    (``core.approx_percentiles`` — the single-pass 100 TB path); this
    entry wraps it in the rank audit."""
    df = _events(spark, sf_dir).filter(F.col("value") > 0)
    fracs = list(zip(Q09A_LABELS, Q09A_FRACTIONS))
    sk = core.approx_percentiles(
        df, F.col("value"), list(Q09A_FRACTIONS), Q09A_ACCURACY
    )
    ranked = df.join(F.broadcast(sk)).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            agg
            for lbl, _ in fracs
            for agg in (
                F.sum(
                    (F.col("value") < F.col(lbl)).cast("long")
                ).alias(f"lt_{lbl}"),
                F.sum(
                    (F.col("value") <= F.col(lbl)).cast("long")
                ).alias(f"le_{lbl}"),
            )
        ],
    )
    tol = F.ceil(F.col("n") / F.lit(Q09A_ACCURACY)) + F.lit(1)
    rows = [
        F.struct(
            F.lit(label).alias("pct"),
            F.col("n").alias("n"),
            tol.cast("long").alias("rank_tol"),
            (
                (F.col(f"le_{label}") >= F.ceil(F.lit(p) * F.col("n") - tol))
                & (
                    (F.col(f"lt_{label}") + F.lit(1))
                    <= F.lit(p) * F.col("n") + tol
                )
            ).alias("in_bounds"),
        )
        for label, p in fracs
    ]
    return ranked.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


def q10_between_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 analog (reference pipeline/queries.go:190-220): non-wrapping
    BETWEEN on part.p_size, target 5 delta 10 → [-5, 15]."""
    df = load_table(spark, sf_dir, "part")
    return core.between_filter(
        df, F.col("p_size"), BETWEEN_TARGET, BETWEEN_DELTA
    ).select("p_partkey", "p_name", "p_size")


def q11_cardinal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 analog (reference pipeline/queries.go:224-276): 8-bucket
    cardinal histogram with zero-filled buckets, bearing := pmod(value,360)."""
    df = _events(spark, sf_dir)
    return core.cardinal_histogram(df, F.pmod(F.col("value"), F.lit(360.0)))


def q12_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 analog (reference pipeline/queries.go:281-285) on lineitem."""
    return core.count_rows(load_table(spark, sf_dir, "lineitem"))


def q13_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 analog (reference pipeline/queries.go:290-294)."""
    df = load_table(spark, sf_dir, "customer")
    return core.point_lookup(
        df, F.col("c_custkey"), LOOKUP_KEY, ["c_custkey", "c_acctbal"]
    )


def q14_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 analog (reference pipeline/load.go:6-39): last-write-wins per
    user_id ordered by (ts, event_id) desc."""
    df = _events(spark, sf_dir)
    out = core.latest_by_key(
        df, ["user_id"], [F.desc("ts"), F.desc("event_id")]
    )
    return out.select("user_id", "event_id", "event_type", "value")


def r01_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate merge (operators/rollup.py): build the rollup
    from a deterministic 2/3 of events, increment with the other 1/3,
    merge, and derive read-time measures. The oracle recomputes the
    rollup from ALL events directly — so the differential check proves
    the merge algebra (partials union + re-agg ≡ full aggregation),
    which is the property that lets a 100 TB pipeline refresh rollups at
    O(new data). Floating sums are rounded at read (partial-sum order
    differs from full-sum order by construction)."""
    from mbta_etl_spark.operators import rollup as ru

    ev = _events(spark, sf_dir)
    base = ru.rollup_increment(
        ev.filter(F.col("event_id") % 3 != 0),
        F.col("ts"), F.col("value"), ["event_type"], "hour",
    )
    inc = ru.rollup_increment(
        ev.filter(F.col("event_id") % 3 == 0),
        F.col("ts"), F.col("value"), ["event_type"], "hour",
    )
    merged = ru.rollup_read(ru.rollup_merge(base, inc))
    return merged.select(
        "bucket",
        "event_type",
        "cnt",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        "avg_value",
    )


def j06_cogroup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-grouped applyInPandas (the cogroup tier of the Pandas taxonomy):
    per-user clicks strictly before the first purchase, computed from the
    click and purchase streams handed to one Python function per key."""
    from mbta_etl_spark.operators.windows import cogroup_funnel

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    return cogroup_funnel(clicks, purchases, "user_id", "ts")


def v01_constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared expectations over orders — nulls, ranges, uniqueness —
    evaluated in ONE conditional-aggregation scan (operators/validate.py):
    the pre-ship data-quality gate, rules × tables, O(1) result rows."""
    from mbta_etl_spark.operators import validate

    return validate.check_constraints(
        load_table(spark, sf_dir, "orders"),
        not_null=["o_orderkey", "o_custkey", "o_orderdate"],
        unique=["o_orderkey"],
        ranges=[("o_totalprice", 0.0, 1_000_000.0)],
    )


def v02_referential_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan census: lineitem rows whose order is missing —
    left-anti probe against the pruned, distinct parent keys."""
    from mbta_etl_spark.operators import validate

    return validate.check_referential(
        load_table(spark, sf_dir, "lineitem"),
        F.col("l_orderkey"),
        load_table(spark, sf_dir, "orders"),
        F.col("o_orderkey"),
    )


def v03_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level diff between two table versions (one full-outer join):
    what an upsert/refresh actually changed. Versions are derived
    deterministically from events so the oracle replays them: old drops
    event_id%11==0, new drops %13==0 and doubles value on %7==0."""
    from mbta_etl_spark.operators import validate

    ev = _events(spark, sf_dir)
    old = ev.filter(F.col("event_id") % 11 != 0)
    new = ev.filter(F.col("event_id") % 13 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.col("value") * 2).otherwise(
            F.col("value")
        ),
    )
    return validate.snapshot_diff(old, new, "event_id", ["value"])


def q15_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window rollup (batch form of the streaming demo): per-hour
    count + sum(value). One map-side-combinable aggregation."""
    df = _events(spark, sf_dir)
    # date_trunc returns session-tz TIMESTAMP; cast back to NTZ so the
    # result is timezone-independent (the driver harness may collect under
    # any session/driver timezone). Hour truncation commutes with the
    # interpret/render round-trip, so this is the naive truncation.
    hour = F.expr("CAST(date_trunc('hour', ts) AS TIMESTAMP_NTZ)")
    return (
        df.groupBy(hour.alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("hour")
    )


def q16_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary on lineitem — the bench headline.
    Beyond the reference surface (it has no joins/multi-measure groupings,
    SURVEY §2.6) but core to an analytics engine. Single scan,
    map-side-combined aggregation on a 6-group key."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
            F.round(F.sum(disc_price), 6).alias("sum_disc_price"),
            F.round(F.sum(charge), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q17_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue top-10 customers: lineitem ⋈ orders ⋈ customer ⋈ nation.
    Scale shape: the lineitem⋈orders join shuffles on orderkey (AQE
    handles skew); customer and nation are dimension-sized → broadcast
    (nation always; customer is broadcast at small SF and would be a
    shuffle join at 100 TB — AQE picks based on actual size)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    df = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(revenue, 6).alias("revenue"))
    )
    return core.top_k(df, [F.desc("revenue"), F.asc("c_custkey")], 10)


def q18_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min) of the event stream per user —
    window lag + running sum, then per-session rollup. Beyond-reference
    (SURVEY §2.6: no window functions there)."""
    from mbta_etl_spark.operators.windows import session_summary

    df = _events(spark, sf_dir)
    return session_summary(df, "user_id", "ts", "event_id", "value", 30)


def q19_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running value sum + lag — one shuffle on user_id."""
    from mbta_etl_spark.operators.windows import running_totals

    return running_totals(_events(spark, sf_dir), "user_id", "ts", "event_id", "value")


def q20_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(o_orderpriority, o_orderstatus): hierarchical subtotals +
    grand total in one pass (Spark expands grouping sets map-side)."""
    df = load_table(spark, sf_dir, "orders")
    return (
        df.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("sum_price"),
        )
    )


def q21_status_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: customers with both open AND filled orders, minus
    customers with any pending order (INTERSECT + EXCEPT, distinct
    semantics in both engines)."""
    df = load_table(spark, sf_dir, "orders")
    o = df.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    f = df.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    p = df.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    # subtract == EXCEPT DISTINCT (matching the SQL oracle); intersect is
    # already distinct, so the whole chain has set semantics
    return o.intersect(f).subtract(p).select(F.col("o_custkey").alias("custkey"))


def q22_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: top-10 open orders by revenue for one market
    segment. lineitem⋈orders shuffles on orderkey; customer side is
    dimension-pruned before the join (filter pushdown) then broadcast at
    this SF (AQE decides from runtime sizes)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            cust.filter(F.col("c_mktsegment") == "BUILDING"),
            orders.o_custkey == F.col("c_custkey"),
        )
        .filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(revenue, 6).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q23_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access: extract props.k from the JSON sidecar and
    aggregate it per event_type. get_json_object evaluates in codegen —
    JSON parsing stays JVM-side, no UDF."""
    df = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        df.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def v04_apply_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (core.apply_changelog): a snapshot (latest even-event per
    user) plus a changelog derived from the odd events (op = delete when
    user_id%11==0, else upsert; latest change per user wins by ts then
    event_id) — MERGE semantics without a table format. The oracle
    replays both derivations and the merge in SQL."""
    ev = _events(spark, sf_dir)
    base = core.latest_by_key(
        ev.filter(F.col("event_id") % 2 == 0),
        ["user_id"],
        [F.desc("ts"), F.desc("event_id")],
    ).select("user_id", "value")
    changes = ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("user_id") % 11 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return core.apply_changelog(
        base,
        changes,
        key="user_id",
        op_col="op",
        order_by=[F.desc("ts"), F.desc("event_id")],
        payload_cols=["value"],
    )


def ts01_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF gap fill (operators/timeseries.py): measurements nulled
    deterministically (event_id%13==0) take the most recent prior value
    in their user series; leading nulls stay null."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).withColumn(
        "value",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    out = timeseries.locf(
        ev, ["user_id"], [F.col("ts"), F.col("event_id")], "value"
    )
    return out.select("event_id", "user_id", "value_filled")


def ts02_delta_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series delta + per-second rate against the previous
    observation (counter metrics shape) — one keyed window."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return timeseries.delta_rate(ev, ["user_id"], "ts", "event_id", "value")


def ts03_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of deterministically-nulled measurements
    (event_id%13==0) between nearest non-null series neighbours."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).withColumn(
        "value",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    out = timeseries.interpolate(ev, ["user_id"], "ts", "event_id", "value")
    return out.select("event_id", "user_id", "value_interp")


def ts04_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-20 rolling z-score anomaly flags per user series — the
    3-sigma monitor over irregular observations."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    out = timeseries.rolling_zscore(
        ev, ["user_id"], "ts", "event_id", "value", lookback=20
    )
    return out.select("event_id", "user_id", "z", "is_anomaly")


def j07_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join (operators/skew.py): every event row enriched
    with its event_type's total — event_type is the canonical hot key
    (5 values over the whole fact table). The salt spreads each hot key
    over 8 reducers; result is pinned identical to the unsalted join."""
    from mbta_etl_spark.operators.skew import salted_join

    ev = _events(spark, sf_dir).select("event_id", "event_type")
    dim = ev.groupBy("event_type").agg(F.count("*").alias("type_total"))
    return salted_join(
        ev, dim, "event_type", 8, F.col("event_id")
    ).select("event_id", "event_type", "type_total")


def q48_analytic_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank/navigation analytic functions not exercised elsewhere, in one
    keyed window over customers: dense_rank, cume_dist, nth_value, and
    lead-with-default — completing the window-function surface (q37 holds
    ntile/percent_rank, q19/q33 the frame aggregates, ts01-ts04 the
    series windows). One shuffle on the segment key."""
    cust = load_table(spark, sf_dir, "customer")
    from pyspark.sql import Window

    # two orderings, one partitioning (one shuffle): the ties window gives
    # dense_rank/cume_dist their peer-group semantics (deterministic under
    # ties); navigation fns need the tie-broken total order or their
    # results would be ambiguous
    wt = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"))
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.dense_rank().over(wt).alias("bal_dense_rank"),
        (
            F.floor(F.cume_dist().over(wt) * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6)
        ).alias("bal_cume_dist"),
        F.nth_value("c_custkey", 2).over(wf).alias("segment_runnerup"),
        F.lead("c_custkey", 1, -1).over(w).alias("next_poorer_key"),
    )


def ts05_bucket_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly rollup with explicit gap buckets, zero-filled
    counts, and LOCF-carried sums — time_bucket_gapfill semantics."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return timeseries.bucket_gapfill(ev, ["user_id"], "ts", "value")


def ts06_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series EWMA smoothing (α=0.3, adjust=False recursion) — the
    sequential-state operator of the time-series family; oracle replays
    the identical recursion as a recursive CTE."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    out = timeseries.ewma(ev, ["user_id"], "ts", "event_id", "value")
    return out.select("event_id", "user_id", "value", "ewma")


def j08_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-bucketed interval overlap join: click windows [ts, ts+5m)
    against purchase windows [ts, ts+2m) per user — every overlapping
    pair with its overlap seconds. The bin explode restores an equi-key
    so the range join runs as a plain shuffled hash join."""
    from mbta_etl_spark.operators.temporal import interval_overlap_join

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("id"),
        F.col("ts").alias("start_ts"),
        F.expr("ts + INTERVAL 5 MINUTE").alias("end_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("id"),
        F.col("ts").alias("start_ts"),
        F.expr("ts + INTERVAL 2 MINUTE").alias("end_ts"),
    )
    return interval_overlap_join(clicks, purchases, "user_id")


def q50_bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL): unlike
    q21's DISTINCT set ops, multiplicity survives — a user with 3 clicks
    and 1 purchase keeps 2 rows in the except-all branch. Spark's
    exceptAll/intersectAll plan as a count-difference aggregation +
    generator (no distinct collapse), one shuffle each."""
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    surplus = clicks.exceptAll(buys).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    common = clicks.intersectAll(buys).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return surplus.withColumn("op", F.lit("click_surplus")).unionAll(
        common.withColumn("op", F.lit("matched_pairs"))
    )


def q53_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day (rolling WAU) — the
    distinct-over-window aggregate window frames cannot express
    (COUNT(DISTINCT) OVER is unsupported in every engine). Shape:
    dedup events to (user, day) once, broadcast the tiny day spine, and
    band-join it against the pairs (the broadcast carries ~#days rows,
    so the nested-loop is #days × #pairs cheap predicate evaluations,
    never a shuffle), then one countDistinct per day. At 100 TB the
    (user, day) dedup is the only fact-sized shuffle."""
    ev = _events(spark, sf_dir)
    ud = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("d"),
    ).distinct()
    days = ud.select(F.col("d").alias("day")).distinct()
    joined = ud.join(
        F.broadcast(days),
        (F.col("d") <= F.col("day"))
        & (F.col("d") >= F.expr("day - INTERVAL 6 DAY")),
    )
    return joined.groupBy("day").agg(
        F.countDistinct("user_id").alias("wau")
    )


def q51_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by the ISO week of
    their first event; for each (cohort_week, week_offset) cell, how many
    cohort members were active and what fraction of the cohort that is.
    Shape: one groupBy(user) for first-touch, one (user, week) dedup —
    both fact-sized shuffles on user_id so AQE can coalesce them — then
    the cells aggregate (~#weeks² rows) and a broadcast join against the
    tiny cohort-size table. (user, week) is unique after the dedup, so
    the cell count is a plain count(*), never a second distinct."""
    ev = _events(spark, sf_dir).select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts"))
        .cast("timestamp_ntz")
        .alias("cohort_week")
    )
    weekly = ev.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("timestamp_ntz").alias("week"),
    ).distinct()
    cells = (
        weekly.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.count("*").alias("active_users"))
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count("*").alias("cohort_users")
    )
    return cells.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "active_users",
        "cohort_users",
        # scaled-floor, not round(): engine round() implementations
        # disagree on midpoint-adjacent doubles (dyadic count ratios like
        # p/128 are EXACT 6-decimal midpoints); floor(x*1e6+0.5)/1e6 is
        # bit-identical across Spark and the DuckDB oracle
        (
            F.floor(
                F.col("active_users") / F.col("cohort_users") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("retention"),
    )


def q54_pair_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the 20 part pairs most often ordered
    together. Shape: dedup to (order, part), self-join co-partitioned on
    l_orderkey (both sides shuffle once on the same key, so the join
    itself is local), expand each basket to its C(b,2) pairs — bounded
    by the max basket size (~11 parts → ≤55 pairs per order, so the
    blow-up is O(rows·b̄), not quadratic in the table) — then a partial-
    agg count and TakeOrdered(20). At 100 TB the only caveat is a
    pathological mega-basket; a per-order size cap would bolt on as a
    count-filter before the self-join."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = a.join(b, "l_orderkey").filter(F.col("part_a") < F.col("part_b"))
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("pair_cnt"))
        .orderBy(F.desc("pair_cnt"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


def q55_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams:
    for each (from_type, to_type) bigram, the transition count and the
    conditional probability P(to | from). Shape: one window shuffle on
    user_id (lag over the tie-broken per-user order), one partial-agg
    count to ~|types|² rows, and the probability normalization is a
    window over that tiny aggregate — post-shuffle data is KB regardless
    of input scale."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).filter(F.col("from_type").isNotNull())
    counts = seq.groupBy("from_type", "to_type").agg(
        F.count("*").alias("transitions")
    )
    wnorm = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "transitions",
        # scaled-floor (see q51_retention_cohorts) — dyadic transition
        # ratios are exact 6-decimal midpoints where round() diverges
        (
            F.floor(
                F.col("transitions")
                / F.sum("transitions").over(wnorm)
                * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("prob"),
    )


def q56_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (signup → later click → later purchase) with
    per-step user counts and conversion rates. Each step is a keyed
    aggregate joined to the previous step's per-user timestamp, so the
    whole funnel is three user-keyed shuffles over progressively smaller
    sets (step N's input is semi-joined down by step N-1) — no window
    over the full event stream, no per-user collect. The summary is three
    1-row aggregates broadcast-crossed into one row. Guard: conversion
    denominators go through a null-guard (ANSI-safe), matching the
    oracle's NULLIF."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _rate(num, den):
        safe = F.when(F.col(den) != 0, F.col(den))
        return F.floor(
            F.col(num) / safe * F.lit(1e6) + F.lit(0.5)
        ) / F.lit(1e6)

    out = (
        s1.agg(F.count("*").alias("step1_users"))
        .crossJoin(s2.agg(F.count("*").alias("step2_users")))
        .crossJoin(s3.agg(F.count("*").alias("step3_users")))
    )
    return out.select(
        "step1_users",
        "step2_users",
        "step3_users",
        _rate("step2_users", "step1_users").alias("conv_12"),
        _rate("step3_users", "step2_users").alias("conv_23"),
        _rate("step3_users", "step1_users").alias("conv_13"),
    )


def v06_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-over-epoch profile drift: split events at the midpoint of
    their time span, profile each half (row count, distinct users, mean
    value, click share), and report per-metric relative change — the
    data-quality check a training pipeline runs between ingestion
    batches. Shape: one 1-row min/max aggregate broadcast onto the scan
    (scalar cross join), one groupBy(epoch) partial-agg profile, then a
    constant-width unpivot — post-scan state is O(1) regardless of input
    size. distinct_users is the one full-width term (exact distinct per
    epoch); at 100 TB it swaps for approx_count_distinct."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "value")
    # integer-µs midpoint (div, not /) so the epoch boundary is exact and
    # bit-identical to the oracle's epoch_us arithmetic
    # ts is TIMESTAMP_NTZ; cast to LTZ for unix_micros. The session-tz
    # shift is uniform across min/max/ts, and the midpoint comparison is
    # shift-invariant, so the epoch split is tz-independent.
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    # (hi-lo)/2 in double is exact here (span µs << 2^53) and the long
    # cast truncates the positive half-step exactly like the oracle's //2
    span = ev.agg(
        (
            us(F.min("ts"))
            + ((us(F.max("ts")) - us(F.min("ts"))) / F.lit(2)).cast("long")
        ).alias("mid_us")
    )
    tagged = ev.crossJoin(F.broadcast(span)).select(
        "user_id",
        "event_type",
        "value",
        F.when(us(F.col("ts")) < F.col("mid_us"), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("epoch"),
    )
    prof = tagged.groupBy("epoch").agg(
        F.count("*").cast("double").alias("row_count"),
        F.countDistinct("user_id").cast("double").alias("distinct_users"),
        # avg = rounded-sum / count, NOT avg(): the order-dependent sum
        # differs across engines at ~1e-11 and raw avg lands midpoint-
        # adjacent after the 6dp floor; rounding the sum first gives both
        # engines identical doubles to divide
        (
            F.floor(F.sum("value") * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6)
            / F.count("*")
        ).alias("avg_value"),
        (
            F.count(F.when(F.col("event_type") == "click", 1))
            / F.count("*")
        ).alias("click_share"),
    )
    metrics = ["row_count", "distinct_users", "avg_value", "click_share"]
    long = prof.unpivot(
        "epoch", metrics, "metric", "metric_value"
    )
    wide = long.groupBy("metric").agg(
        F.max(F.when(F.col("epoch") == "a", F.col("metric_value"))).alias(
            "epoch_a"
        ),
        F.max(F.when(F.col("epoch") == "b", F.col("metric_value"))).alias(
            "epoch_b"
        ),
    )
    scale = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    safe_a = F.when(F.col("epoch_a") != 0, F.col("epoch_a"))
    return wide.select(
        "metric",
        scale(F.col("epoch_a")).alias("epoch_a"),
        scale(F.col("epoch_b")).alias("epoch_b"),
        scale(
            (F.col("epoch_b") - F.col("epoch_a")) / safe_a
        ).alias("rel_change"),
    )


def q57_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier census per event type: median, MAD (median absolute
    deviation), and the count/fraction beyond the 3σ-equivalent robust
    threshold (3·1.4826·MAD) — the outlier detector that, unlike ts04's
    rolling z-score, a single wild value cannot drag. Shape: two grouped
    exact-percentile passes with the tiny per-type tables broadcast back
    between scans (group count is |types|, so every join is broadcast).
    Exact percentile buffers per-group values — at 100 TB the declared
    swap is approx_percentile, the same exact→sketch trade q09/q09a pins.
    Both engines interpolate percentile_cont identically (verified)."""
    ev = _events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mads = dev.groupBy("event_type").agg(
        F.max("med").alias("med"),
        F.expr("percentile(adev, 0.5)").alias("mad"),
        F.count("*").alias("n"),
    )
    scale = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        dev.select("event_type", "adev")
        .join(F.broadcast(mads), "event_type")
        .groupBy("event_type")
        .agg(
            scale(F.max("med")).alias("med"),
            scale(F.max("mad")).alias("mad"),
            F.max("n").alias("n"),
            F.count(
                F.when(
                    F.col("adev")
                    > F.lit(3.0) * F.lit(1.4826) * F.col("mad"),
                    1,
                )
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "med",
            "mad",
            "n",
            "n_outliers",
            scale(F.col("n_outliers") / F.col("n")).alias("outlier_frac"),
        )
    )


def j10_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 interval construction from an event changelog: compress
    each user's consecutive same-state runs to change points, then emit
    validity intervals [valid_from, valid_to) with valid_to = next change
    (null = current). The warehouse primitive that turns append-only logs
    into as-of-joinable dimension history (j01 then consumes it). Shape:
    both windows partition on user_id — one shuffle, two in-partition
    passes (the second window runs over the change-compressed rows)."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    )
    # event_id tie-break: identical timestamps must order identically in
    # both engines or change detection diverges
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(
            F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
        )
        .select(
            "user_id", F.col("event_type").alias("state"), "ts", "event_id"
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        "state",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.lead("ts").over(w2).isNull().alias("is_current"),
    )


def q58_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the classic
    gaps-and-islands shape: anchor = day − row_number() days is constant
    within a run of consecutive days, so one groupBy on (user, anchor)
    yields the islands and a rank keeps each user's longest (earliest on
    ties). Shape: one (user, day) dedup, one user-keyed window, one
    island aggregate, one rank over per-user islands — every shuffle
    keys on user_id, so AQE reuses the partitioning end-to-end."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    ud = ev.select(
        "user_id",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    anchored = ud.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    islands = anchored.groupBy("user_id", "anchor").agg(
        F.min("d").alias("start_day"),
        F.max("d").alias("end_day"),
        F.count("*").alias("streak_days"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), F.asc("start_day")
    )
    return (
        islands.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
        .select("user_id", "start_day", "end_day", "streak_days")
    )


def ts11_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive vs one-step-naive forecast error (MASE) per user
    over hourly value sums — the baseline-model sanity check of the
    time-series family."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    return timeseries.seasonal_naive_error(
        ev, ["user_id"], "ts", "value", bucket="hour", season=24
    )


def ts12_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per user over event values — the candlestick /
    telemetry resampler (first/max/min/last per bucket, deterministic
    under ties via the event_id tiebreak)."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return timeseries.ohlc_bars(ev, ["user_id"], "ts", "event_id", "value")


def v07_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals: observed
    vs expected digit shares plus per-digit chi-square contributions —
    the fabricated-data / unit-mixup detector of the validation family.
    (o_totalprice is a sum of uniform draws, so it does NOT follow
    Benford — the audit's job is to report the divergence, and the
    oracle pins every term of it.)"""
    from mbta_etl_spark.operators import validate

    orders = load_table(spark, sf_dir, "orders")
    return validate.benford_digit_audit(orders, F.col("o_totalprice"))


def q59_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long UNPIVOT (melt): per-event_type stat columns rotated
    into (metric, metric_value) rows — the reshape every metrics export
    needs. ``DataFrame.unpivot`` is a zero-shuffle Expand over the tiny
    aggregated table (the one Exchange is the groupBy feeding it); the
    long form never touches raw events."""
    ev = _events(spark, sf_dir)
    scale = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    wide = ev.groupBy("event_type").agg(
        scale(F.avg("value")).alias("avg_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    return wide.unpivot(
        ["event_type"],
        ["avg_value", "min_value", "max_value"],
        "metric",
        "metric_value",
    )


TRAILING_WINDOW_US = 3600 * 1_000_000  # one hour, in microseconds


def q62_trailing_hour_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing one-hour RANGE-frame window per user: for every event,
    the sum and count of the user's values in the preceding hour
    INCLUDING this instant — the time-based sliding frame (RANGE, not
    ROWS: frame membership is defined by timestamp distance, so bursts
    widen the frame and silences empty it, which a row-count frame
    cannot express). The rate-limiter / fraud-velocity primitive.

    Shape: one user-keyed Exchange + an in-partition ordered pass; the
    frame bound is evaluated per row against the running order column
    (epoch microseconds via pure TIMESTAMP_NTZ arithmetic — no session
    timezone anywhere). Same single-shuffle envelope as every series
    window; at 100 TB this is the standing velocity-feature plan."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    epoch_us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    staged = ev.withColumn("_us", epoch_us)
    w = (
        Window.partitionBy("user_id")
        .orderBy("_us")
        .rangeBetween(-TRAILING_WINDOW_US, 0)
    )
    scale = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return staged.select(
        "event_id",
        "user_id",
        "value",
        scale(F.sum("value").over(w)).alias("trailing_1h_sum"),
        F.count(F.lit(1)).over(w).alias("trailing_1h_n"),
    )


SCD2_STATE_TYPES = ("signup", "purchase")


def j11_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment against an SCD2 dimension: every
    click/view/error event is tagged with the state the user was in at
    that instant, where state history is the j10-style interval dim
    built from the signup/purchase changelog — the fact-to-
    slowly-changing-dimension join every warehouse runs at event time.

    Shape: NOT a range join. Dim changes and facts union-tag into ONE
    user-keyed window (states ordered before facts at equal ts, so a
    state taking effect at t applies to facts at t, matching the
    oracle's half-open intervals); last(state, ignorenulls) carries the
    in-effect state forward. One shuffle total for any number of facts
    — the same merge-join shape as j01, where a join-then-filter would
    shuffle both sides AND explode matches."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id"
    )
    is_state = F.col("event_type").isin(*SCD2_STATE_TYPES)
    st = ev.filter(is_state).select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("state"),
        F.lit(1).alias("is_state"),
    )
    facts = ev.filter(~is_state).select(
        "user_id",
        "ts",
        "event_id",
        F.lit(None).cast("string").alias("state"),
        F.lit(0).alias("is_state"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.desc("is_state"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        st.unionByName(facts)
        .withColumn(
            "state_at_event", F.last("state", ignorenulls=True).over(w)
        )
        .filter(F.col("is_state") == 0)
        .select("event_id", "user_id", "state_at_event")
    )


def q61_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-customer recency (days since last
    order vs the corpus max date), frequency (#orders), monetary (total
    spend), each cut into quintiles (ntile with custkey tiebreak) and
    concatenated into the classic 'r-f-m' segment label.

    Shape: one grouped aggregation over orders, then three global ntile
    windows over the |customers|-row aggregate (single-partition window
    — acceptable because the window input is the aggregate, never the
    fact table; at 10^9 customers the quintile cut swaps to
    approx_percentile boundaries + a broadcast bucket join, the c12
    trade). Monetary is scaled-floor 6dp BEFORE ranking so the quintile
    order is identical across engines."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    scale = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    gmax = orders.agg(F.max("o_orderdate").alias("gmax"))
    per = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            scale(F.sum("o_totalprice")).alias("monetary"),
        )
        .crossJoin(F.broadcast(gmax))
        .withColumn(
            "recency_days", F.datediff(F.col("gmax"), F.col("last_order"))
        )
    )
    w_r = Window.orderBy(F.asc("recency_days"), F.asc("o_custkey"))
    w_f = Window.orderBy(F.desc("frequency"), F.asc("o_custkey"))
    w_m = Window.orderBy(F.desc("monetary"), F.asc("o_custkey"))
    scored = per.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5).over(w_r).alias("r_score"),
        F.ntile(5).over(w_f).alias("f_score"),
        F.ntile(5).over(w_m).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat_ws("-", "r_score", "f_score", "m_score"),
    )


FD_SPECS = [
    (("o_orderkey",), "o_orderstatus"),  # PK -> holds by construction
    (("o_custkey",), "o_orderpriority"),  # fails: customers reorder
    (("o_orderpriority",), "o_orderstatus"),  # fails: independent dims
]


def v08_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over orders: one holding FD (the
    primary key) pinned next to two failing ones — the schema-discovery
    census of the validation family."""
    from mbta_etl_spark.operators import validate

    orders = load_table(spark, sf_dir, "orders")
    return validate.fd_audit(orders, FD_SPECS)


def q60_percentile_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ordered-set aggregates per group: percentile_cont (linear
    interpolation) next to percentile_disc (first value whose cume_dist
    reaches p) at p50/p90 — the two standard percentile semantics, whose
    difference on real data is exactly what this entry pins. The oracle
    derives disc from its cume_dist definition, so the SQL-standard
    semantics (not an engine's shortcut) is what both sides compute.

    Shape: one grouped aggregation; exact ordered-set aggregates buffer
    per-group values, so at 100 TB the standing swap is approx_percentile
    (the q09/q09a trade) — this entry is the exact-semantics baseline."""
    ev = _events(spark, sf_dir)
    scale = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    cont = "percentile_cont({p}) WITHIN GROUP (ORDER BY value)"
    disc = "percentile_disc({p}) WITHIN GROUP (ORDER BY value)"
    return ev.groupBy("event_type").agg(
        scale(F.expr(cont.format(p=0.5))).alias("p50_cont"),
        F.expr(disc.format(p=0.5)).alias("p50_disc"),
        scale(F.expr(cont.format(p=0.9))).alias("p90_cont"),
        F.expr(disc.format(p=0.9)).alias("p90_disc"),
    )


PAGERANK_DAMPING = 0.85
PAGERANK_ITERS = 10


def _pagerank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-normalized transition edges between consecutive event types
    per user (the q55 transition graph), probabilities scaled-floor 6dp
    so both engines iterate from identical doubles."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("_dst", F.lead("event_type").over(w))
        .filter(F.col("_dst").isNotNull())
        .groupBy(F.col("event_type").alias("src"), F.col("_dst").alias("dst"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = pairs.groupBy("src").agg(F.sum("n").alias("out_n"))
    return pairs.join(tot, "src").select(
        "src",
        "dst",
        (
            F.floor(F.col("n") / F.col("out_n") * F.lit(1e6) + F.lit(0.5))
            / F.lit(1e6)
        ).alias("p"),
    )


def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank by fixed-iteration power method over the event-type
    transition graph — the iterative-algorithm pattern: the 100 TB event
    log collapses to an O(|node|^2) aggregated graph in ONE distributed
    pass, then the iteration runs join+agg rounds on the tiny edge table
    (localCheckpoint per round cuts lineage; nothing data-sized moves
    after the first aggregation). Contributions flow only along observed
    edges (no dangling-mass redistribution — pinned semantics mirrored
    by the oracle's unrolled CTE chain). Each iteration's ranks are
    scaled-floor 9dp on both sides, so ten rounds of float summation
    stay bit-identical across engines."""
    edges = _pagerank_edges(spark, sf_dir).localCheckpoint(eager=True)
    # the node count rides the materialization job as an observed
    # metric instead of a second count() job over the checkpoint (r9)
    obs = Observation("g01_nodes")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select("dst"))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_nodes = int(obs.get["n"])
    base = (1.0 - PAGERANK_DAMPING) / n_nodes
    r9 = lambda c: F.floor(c * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)  # noqa: E731
    ranks = nodes.select(
        "node", r9(F.lit(1.0 / n_nodes)).alias("rank")
    )
    for i in range(PAGERANK_ITERS):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("p") * F.col("rank")).alias("inflow"))
        )
        ranks = nodes.join(
            contrib, nodes["node"] == contrib["dst"], "left"
        ).select(
            "node",
            r9(
                F.lit(base)
                + F.lit(PAGERANK_DAMPING) * F.coalesce("inflow", F.lit(0.0))
            ).alias("rank"),
        )
        # lineage cut every 3rd round (not every round: each eager
        # checkpoint costs a job; the graph DF is tiny so a 3-deep
        # join chain between cuts is cheaper than 10 materializations)
        if i % 3 == 2 or i == PAGERANK_ITERS - 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def _pagerank_oracle() -> str:
    base_edges = """
        WITH pairs AS (
            SELECT event_type AS src,
                   lead(event_type) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS dst
            FROM events),
        e0 AS (
            SELECT src, dst, COUNT(*) AS n FROM pairs
            WHERE dst IS NOT NULL GROUP BY src, dst),
        tot AS (SELECT src, SUM(n) AS out_n FROM e0 GROUP BY src),
        edges AS (
            SELECT e0.src, e0.dst,
                   FLOOR(e0.n * 1.0 / tot.out_n * 1e6 + 0.5) / 1e6 AS p
            FROM e0 JOIN tot ON e0.src = tot.src),
        nodes AS (
            SELECT DISTINCT src AS node FROM edges
            UNION SELECT DISTINCT dst FROM edges),
        nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
        r0 AS (
            SELECT node, FLOOR(1.0 / n * 1e9 + 0.5) / 1e9 AS rank
            FROM nodes, nn)"""
    damp = PAGERANK_DAMPING
    steps = []
    for i in range(PAGERANK_ITERS):
        steps.append(f"""
        r{i + 1} AS (
            SELECT nodes.node,
                   FLOOR(((1.0 - {damp}) / nn.n + {damp} * COALESCE(
                       (SELECT SUM(edges.p * r{i}.rank)
                        FROM edges JOIN r{i} ON edges.src = r{i}.node
                        WHERE edges.dst = nodes.node), 0.0))
                     * 1e9 + 0.5) / 1e9 AS rank
            FROM nodes, nn)""")
    final = f"SELECT node, rank FROM r{PAGERANK_ITERS}"
    return base_edges + "," + ",".join(steps) + " " + final


def q52_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 order totals per priority WITH ties (rank, not row_number):
    every order tied with the 3rd-largest total survives — the
    FETCH ... WITH TIES semantics q31's row_number form cuts off."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice")
    )
    return (
        orders.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


def q49_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join (entity resolution): match customer and
    supplier records by their 9-char numeric id-suffix, tolerating one
    transcription edit. Blocking on the first 7 suffix chars restores an
    equi-key — levenshtein runs only within blocks, never all-pairs
    (the unblocked cross join is |C|·|S| edit-distance evaluations; the
    blocked form is Σ per-block products, the standard ER trade of
    recall-beyond-the-block for tractability). Edit distance is integer
    — no float hazards."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.substring("c_name", -9, 9).alias("c_sfx")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.substring("s_name", -9, 9).alias("s_sfx")
    )
    blocked = cust.withColumn("blk", F.substring("c_sfx", 1, 7)).join(
        supp.withColumn("blk", F.substring("s_sfx", 1, 7)), "blk"
    )
    dist = F.levenshtein("c_sfx", "s_sfx")
    return (
        blocked.filter(dist <= 1)
        .select("c_custkey", "s_suppkey", dist.alias("edit_distance"))
    )


def st02_stream_rollup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous-aggregate equivalence (the second face of
    VERDICT r4 item 7, beside st01's stateful-engine dedup): events
    replayed as 4 micro-batches through
    streaming/rollup.start_rollup_stream — file source, foreachBatch
    partial-aggregate + rollup_merge into a standing parquet table via
    atomic_publish (state in the TABLE, not the engine) — then
    rollup_read derives the read-time measures. Because the rollup
    algebra is associative-commutative (r01's driver-proven property),
    the final table equals the one-shot aggregation over ALL events no
    matter how the replay splits, so r01's exact oracle hash-verifies
    the streaming execution. Floats follow r01's discipline: sums are
    6dp-rounded at read, avg derived from the rounded sum with the
    shared scaled-floor."""
    import os
    import shutil

    from mbta_etl_spark.operators.rollup import rollup_read
    from mbta_etl_spark.sources.formats import scratch_dir
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
    )
    from mbta_etl_spark.streaming.rollup import start_rollup_stream

    ev = _events(spark, sf_dir).select(
        "event_id", "ts", "event_type", "value"
    )
    base = scratch_dir(spark, f"st02_{os.path.basename(sf_dir.rstrip('/'))}")
    in_dir = os.path.join(base, "input")
    tbl = os.path.join(base, "rollup")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    land_replay_log(ev, in_dir, 4, "event_id")
    stream = open_replay_stream(spark, in_dir, ev.schema).drop("event_id")
    from mbta_etl_spark.streaming.replay import pinned_stream_parallelism

    with pinned_stream_parallelism(spark, n=4, input_dirs=[in_dir]):
        query = start_rollup_stream(stream, tbl, ckpt)
        query.awaitTermination()
    out = rollup_read(spark.read.parquet(tbl))
    return out.select(
        "bucket",
        "event_type",
        "cnt",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        "avg_value",
    )


def st04_stream_session_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time session windows under a real WATERMARK — the fourth
    streaming face (st01 engine hash state, st02 mergeable table state,
    st03 sketch state; this one is engine SESSION state with
    watermark-driven eviction): events replayed in TIME ORDER (four
    day-range batches — the split must be time-monotone, or a batch
    behind the watermark emits truncated session FRAGMENTS and silently
    discards the sessions' remaining rows, diverging from the batch
    answer; measured + pinned in tests/test_streaming.py::
    test_session_window_late_batch_fragments_and_drops), streamed
    through the same session_window
    expression q18a runs in batch, in APPEND mode — a session emits
    exactly once, when the watermark passes its end. A sentinel row far
    in the future rides the last batch so the final watermark advance
    flushes the tail sessions (Spark's no-data batch emits them before
    availableNow terminates); the sentinel's own session is filtered
    from the result. Batch/stream share the operator expression, so the
    final appended table equals q18a's batch sessionization and q18a's
    oracle hash-verifies the streamed execution. Round 7: the stream
    leg adopted st05/st06's zone-free wall-instant discipline (no
    session-zone casts), so the equivalence holds in any session zone
    across DST transitions — see the timestamp comment at the stream
    construction below."""
    import os
    import shutil

    from mbta_etl_spark.sources.formats import scratch_dir
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
        time_quantile_key,
    )

    ev = _events(spark, sf_dir).select("user_id", "ts", "value")
    # time-monotone batch split relative to the ACTUAL data span —
    # shared helper (st05 uses the same one; see its docstring for the
    # monotonicity argument). No uniform-shift requirement: the
    # event-time arithmetic below is zone-free (wall-instant
    # relabeling), so a DST transition inside the span is handled
    # correctly rather than rejected.
    keyed = time_quantile_key(ev, "ts", 4, require_uniform_shift=False)
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.lit("2099-01-01 00:00:00").cast("timestamp_ntz").alias("ts"),
        F.lit(0.0).alias("value"),
        F.lit(3).cast("long").alias("replay_key"),
    )
    keyed = keyed.unionByName(sentinel)
    base = scratch_dir(spark, f"st04_{os.path.basename(sf_dir.rstrip('/'))}")
    in_dir = os.path.join(base, "input")
    out_dir = os.path.join(base, "sessions")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    land_replay_log(keyed, in_dir, 4, "replay_key")
    # Watermarks require TIMESTAMP (LTZ), not NTZ — but instead of the
    # session-zone cast (round 6's DST-free-month assumption), the
    # event times are _wall_instant-relabeled (physical micros = wall
    # micros, zone-free), so the session-gap arithmetic measures WALL
    # time exactly — the NTZ oracle's semantics in any session zone on
    # any data span — and _ntz_from_wall_instant rebuilds the exact
    # NTZ bounds on the way out (pinned by tests/test_streaming.py::
    # test_stream_sessions_wall_time_across_dst).
    stream = (
        open_replay_stream(spark, in_dir, keyed.schema)
        .drop("replay_key")
        .withColumn("ts", _wall_instant("ts"))
    )
    # THE shared session expression (q18a's batch operator, not a copy)
    # applied to the watermarked stream
    sess = _session_window_agg(
        stream.withWatermark("ts", "2 hours"),
        bound_to_ntz=_ntz_from_wall_instant,
    )
    # the shared idempotent append sink (_run_replay_sink): per-batch
    # OVERWRITE into a batch_id partition
    return _run_replay_sink(
        spark, sess, out_dir, ckpt, input_dirs=[in_dir]
    ).filter(F.col("user_id") != -1)


# st05/st06's interval-overlap windows: a click owns [a_ts, a_ts + A),
# a purchase [b_ts, b_ts + B). ONE definition feeds both the join's
# range predicate (interval_overlap_streams arguments) and the
# overlap_s arithmetic (_pair_overlap_select) — previously the
# arithmetic hardcoded its own copies, so changing one silently skewed
# overlap_s away from the oracle while rows kept matching (ADVICE r6).
_ST_JOIN_A_WINDOW = "5 minutes"
_ST_JOIN_B_WINDOW = "2 minutes"


def _wall_micros(ntz: Column) -> Column:
    """Microseconds since epoch of a TIMESTAMP_NTZ wall-clock value,
    by pure FIELD EXTRACTION (date + hour + minute + fractional
    second) — the only form measured to be session-zone-free on every
    input. The tempting alternatives are contaminated: ``timestampdiff``
    and ``unix_*`` route NTZ values through the session zone, so a wall
    time inside a spring-forward gap (e.g. 02:30 on a day the clock
    jumps 02:00->03:00) silently shifts by the gap width, and
    arithmetic near the transition diverges from a wall-time oracle
    (measured; pinned by tests/test_streaming.py::
    test_wall_micros_is_zone_free)."""
    return (
        F.unix_date(F.to_date(ntz)) * F.lit(86_400_000_000)
        + F.hour(ntz).cast("long") * F.lit(3_600_000_000)
        + F.minute(ntz).cast("long") * F.lit(60_000_000)
        + (F.date_part(F.lit("SECOND"), ntz) * 1_000_000).cast("long")
    )


def _ntz_from_wall_instant(ltz: Column) -> Column:
    """Inverse of :func:`_wall_instant`: rebuild the TIMESTAMP_NTZ wall
    time whose microseconds equal the LTZ instant's physical
    microseconds — again by pure arithmetic (NTZ epoch + day/second
    interval), never a session-zone cast. Exact round trip in any
    session zone, including wall times inside a DST gap (probed
    together with _wall_micros in test_wall_micros_is_zone_free's
    module). The decimal(18,6) cast keeps the full microsecond
    precision through make_dt_interval's seconds argument."""
    us = F.unix_micros(ltz)
    days = F.floor(us / F.lit(86_400_000_000))
    rem = us - days * F.lit(86_400_000_000)
    return F.lit("1970-01-01 00:00:00").cast(
        "timestamp_ntz"
    ) + F.make_dt_interval(
        days,
        F.lit(0),
        F.lit(0),
        (rem / F.lit(1_000_000)).cast("decimal(18,6)"),
    )


def _wall_instant(ntz_col: str) -> Column:
    """Reinterpret a TIMESTAMP_NTZ wall time as the TIMESTAMP (LTZ)
    instant whose physical microseconds EQUAL the wall-clock
    microseconds — a pure relabeling, independent of the session zone.

    This is what lets a watermarked operator run WALL-TIME arithmetic
    exactly: watermarks and stream-stream join eviction require LTZ,
    but the session-zone cast (``ntz.cast("timestamp")``) is only a
    uniform shift on DST-transition-free spans — across a
    spring-forward gap two wall times 63 minutes apart become physical
    instants 3 minutes apart, and the streamed result silently
    diverges from an NTZ batch oracle (the round-6 st05/st06 caveat).
    Under this relabeling, interval comparisons on the derived column
    are bit-exactly the NTZ wall-time comparisons in ANY session zone,
    on ANY data span, while remaining a valid event-time column for
    watermarking (monotone in wall time by construction — pinned by
    tests/test_streaming.py::test_stream_join_wall_time_across_dst)."""
    return F.timestamp_micros(_wall_micros(F.col(ntz_col)))


def _st_click_purchase_streams(
    spark: SparkSession, sf_dir: str, tag: str, with_sentinels: bool = False
) -> tuple[str, DataFrame, DataFrame]:
    """Shared st05/st06 landing over the events table: scratch dir +
    :func:`_land_pair_streams` (which the DST unit test drives directly
    with synthetic events). st05 and st06 each land independently ON
    PURPOSE — registry entries must be runnable in isolation (the
    driver calls one at a time), so sharing a landing would couple
    their correctness; the duplicate scan is two cheap filtered passes
    over events. Returns (scratch_base, clicks_stream,
    purchases_stream)."""
    import os

    from mbta_etl_spark.sources.formats import scratch_dir

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type"
    )
    base = scratch_dir(
        spark, f"{tag}_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    clicks, purchases = _land_pair_streams(
        spark, ev, base, with_sentinels=with_sentinels
    )
    return base, clicks, purchases


def _land_pair_streams(
    spark: SparkSession,
    ev: DataFrame,
    base: str,
    with_sentinels: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Land clicks and purchases from an events frame as TWO
    separately-landed file-source streams with ONE global
    time-quantile split (applied to the full span BEFORE the sides are
    filtered, so the landings stay mutually aligned batch-for-batch;
    each side's files are independently time-monotone, which is all
    min-of-sources watermarking needs). Event times stay TIMESTAMP_NTZ
    end to end; each side additionally carries a ``*_wm`` column —
    :func:`_wall_instant`'s zone-free relabeling — because watermarks
    require LTZ. All join/eviction arithmetic runs on the wm columns,
    whose micros equal the wall micros, so the computation is exactly
    the oracle's wall-time arithmetic in any session zone on any data
    span (no uniform-shift assumption — ``time_quantile_key`` is told
    not to require one). With ``with_sentinels``, a far-future row
    rides the LAST batch of EACH side — outer-join consumers need the
    final global watermark pushed past every real window on both sides
    or the tail's unmatched rows never emit (st04's flush trick
    applied to join state); the sentinels carry distinct negative user
    ids so they can never join each other or real data, and consumers
    filter them out."""
    import os
    import shutil

    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
        time_quantile_key,
    )

    # single shared batch count: the sentinel MUST ride the LAST batch
    # (key n-1) — if these ever desynced, pmod would land the far-future
    # sentinel in an early batch, the watermark would jump past all real
    # data, and every later batch would be silently corrupted (the
    # replay.py failure mode)
    n_batches = 4
    keyed = time_quantile_key(
        ev, "ts", n_batches, require_uniform_shift=False
    )
    clicks_dir = os.path.join(base, "clicks")
    purch_dir = os.path.join(base, "purchases")
    shutil.rmtree(base, ignore_errors=True)
    clicks_src = keyed.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("a_id"),
        F.col("ts").alias("a_ts"), "replay_key",
    )
    purch_src = keyed.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("event_id").alias("b_id"),
        F.col("ts").alias("b_ts"), "replay_key",
    )
    if with_sentinels:
        def _sentinel(user_col, id_col, ts_col, uid):
            return spark.range(1).select(
                F.lit(uid).cast("long").alias(user_col),
                F.lit(-1).cast("long").alias(id_col),
                F.lit("2099-01-01 00:00:00")
                .cast("timestamp_ntz")
                .alias(ts_col),
                F.lit(n_batches - 1).cast("long").alias("replay_key"),
            )

        clicks_src = clicks_src.unionByName(
            _sentinel("user_id", "a_id", "a_ts", -2)
        )
        purch_src = purch_src.unionByName(
            _sentinel("b_user", "b_id", "b_ts", -3)
        )
    # The two landings are independent jobs writing disjoint dirs —
    # submit both from a small thread pool so the second job's tasks
    # back-fill executors freed by the first's tail (guide §2.6); each
    # thread does its own driver-side renames under its own dir.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                land_replay_log, src, d, n_batches, "replay_key"
            )
            for src, d in (
                (clicks_src, clicks_dir),
                (purch_src, purch_dir),
            )
        ]
        for f in futs:
            f.result()
    clicks = (
        open_replay_stream(spark, clicks_dir, clicks_src.schema)
        .drop("replay_key")
        .withColumn("a_wm", _wall_instant("a_ts"))
    )
    purchases = (
        open_replay_stream(spark, purch_dir, purch_src.schema)
        .drop("replay_key")
        .withColumn("b_wm", _wall_instant("b_ts"))
    )
    return clicks, purchases


def _pair_overlap_select(
    joined: DataFrame, null_when_unmatched: bool = False
) -> DataFrame:
    """(user_id, a_id, b_id, overlap_s) projection shared by st05/st06:
    exact microsecond arithmetic on the window bounds, computed on the
    ORIGINAL TIMESTAMP_NTZ columns carried through the join (wall time,
    matching the NTZ oracle on any data span; the LTZ ``*_wm`` columns
    exist only for watermarking). The window widths come from the same
    module constants the join predicate uses, so the two can never
    drift (ADVICE r6). NULL handling is EXPLICIT, not incidental:
    greatest/least in both Spark and DuckDB SKIP nulls (they don't
    propagate them), so an unmatched left-outer row would otherwise
    read overlap_s = 300.0 — the full a-window, indistinguishable from
    a perfect match except via NULL b_id. st06 passes
    ``null_when_unmatched`` to emit NULL instead, and its oracle
    applies the matching CASE WHEN b_id IS NULL."""
    start = F.greatest(F.col("a_ts"), F.col("b_ts"))
    end = F.least(
        F.col("a_ts") + F.expr(f"INTERVAL {_ST_JOIN_A_WINDOW}"),
        F.col("b_ts") + F.expr(f"INTERVAL {_ST_JOIN_B_WINDOW}"),
    )
    # _wall_micros, NOT timestampdiff: the latter routes NTZ through
    # the session zone and mis-measures when a window bound lands
    # inside a DST gap (measured — see _wall_micros)
    overlap = (_wall_micros(end) - _wall_micros(start)) / F.lit(
        1_000_000.0
    )
    if null_when_unmatched:
        overlap = F.when(F.col("b_id").isNotNull(), overlap)
    return joined.select(
        "user_id", "a_id", "b_id", overlap.alias("overlap_s")
    )


def _run_replay_sink(
    spark: SparkSession,
    df: DataFrame,
    out_dir: str,
    ckpt: str,
    drain=None,
    input_dirs=None,
    pin_floor: int = 4,
) -> DataFrame:
    """Execute a bounded streaming replay in APPEND mode with THE
    per-batch_id OVERWRITE sink, then read back the standing result.
    This is the one copy of the append-replay sink discipline
    (st04/st05/st06/st08/st09/st11 all run through it): an
    at-least-once redelivery rewrites its own batch_id partition
    instead of appending duplicates, making the bounded replay
    idempotent without a marker protocol (the standing-table merges —
    st02/st07 — use claim_batch + atomic_publish instead, because they
    rewrite one shared table rather than per-batch partitions).

    ``drain`` selects the bounded-run strategy: None (default) uses
    availableNow + awaitTermination — the file-source replays; a
    source whose Python micro-batch stream silently ignores
    Trigger.AvailableNow (st11's http_json) passes a callable that
    receives the started query and stops it once drained.

    The replay runs under pinned_stream_parallelism (8 partitions at
    test scale): every stateful face is bound by per-partition-per-
    batch state machinery, measured round-8 A/B in the helper's
    docstring; the stateless consumers (st09/st11) are flat either
    way."""
    from mbta_etl_spark.streaming.replay import pinned_stream_parallelism

    writer = (
        df.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch(
            lambda rows, bid: rows.write.mode("overwrite").parquet(
                f"{out_dir}/batch_id={bid}"
            )
        )
    )
    with pinned_stream_parallelism(
        spark, n=pin_floor, input_dirs=input_dirs
    ):
        if drain is None:
            query = writer.trigger(availableNow=True).start()
            query.awaitTermination()
        else:
            drain(writer.start())
    return spark.read.parquet(out_dir).drop("batch_id")


def _run_join_replay(
    spark: SparkSession, joined: DataFrame, base: str
) -> DataFrame:
    """st05/st06's replay through the shared append sink.

    State partitioning: a stream-stream join instantiates FOUR state
    stores per shuffle partition (keyToNumValues + keyWithIndexToValue
    on each side), so the per-batch fixed cost is 4 x partitions x
    batches regardless of data volume — the strongest case of the
    state economics that now pin EVERY replay inside _run_replay_sink
    (see streaming/replay.pinned_stream_parallelism for the round-8
    measured A/B across all faces). The shuffle-partition count is
    baked into the checkpoint at first run; a production deployment
    raises it to match executor count, since at 100 TB the
    per-partition DATA, not the store count, is the knob."""
    import os

    # pin floor 2, not the family's 4: a stream-stream join runs FOUR
    # stores per partition, so the per-batch store bill is steepest
    # here — the round-8 A/B read 4.87/4.93 s at n=2 vs 5.26/5.02 s at
    # n=4 (sf0.1, warm; table in pinned_stream_parallelism). The
    # data-size-adaptive term raises the pin past the floor on real
    # loads, so the lower floor is scale-safe.
    return _run_replay_sink(
        spark,
        joined,
        os.path.join(base, "pairs"),
        os.path.join(base, "ckpt"),
        input_dirs=[
            os.path.join(base, "clicks"),
            os.path.join(base, "purchases"),
        ],
        pin_floor=2,
    )


def st05_stream_stream_join_equiv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-STREAM interval join — the fifth streaming face (VERDICT
    r5 item 3; st01-st04 cover engine/table/sketch/session state, this
    one covers dual-sided JOIN state): clicks and purchases land as TWO
    separate watermarked file-source streams, each replayed as four
    time-monotone micro-batches, inner-joined in append mode on user_id
    plus the event-time range constraint equivalent to j08's interval
    overlap (click window [ts, ts+5m) x purchase window [ts, ts+2m) ⇔
    b_start in (a_start - 2m, a_start + 5m)). The range constraint on
    the two watermarked columns is what lets the engine bound both state
    stores: a click is evicted once the global (min-of-sources)
    watermark passes a_start + 5m, by which point every purchase that
    could still match would itself be late — so with the time-monotone
    replay, eviction can never lose a pair and the appended result
    equals the batch interval join. Inner-join rows emit in the
    micro-batch where the second side arrives (no watermark flush or
    sentinel needed, unlike st04's session windows). j08's oracle
    hash-verifies the streamed execution. Timestamp discipline (round
    7, closing the round-6 DST caveat): event times stay TIMESTAMP_NTZ
    end to end; the watermark requires LTZ, so each side carries a
    derived ``*_wm`` instant whose physical micros EQUAL the wall
    micros (:func:`_wall_instant` — a zone-free relabeling, NOT the
    session-zone cast). The join predicate and eviction bounds run on
    the wm columns and are therefore bit-exactly the oracle's
    wall-time comparisons, and overlap_s is computed on the original
    NTZ columns — correct in any session zone on any data span,
    DST transitions included (pinned by tests/test_streaming.py::
    test_stream_join_wall_time_across_dst)."""
    from mbta_etl_spark.streaming.ingest import interval_overlap_streams

    base, clicks, purchases = _st_click_purchase_streams(
        spark, sf_dir, "st05"
    )
    # THE shared overlap expression (streaming/ingest — unit-pinned
    # against the batch interval_overlap_join), windows [ts, ts+5m) x
    # [ts, ts+2m) matching j08's batch entry
    joined = _pair_overlap_select(
        interval_overlap_streams(
            clicks, purchases, "user_id", "b_user", "a_wm", "b_wm",
            a_window=_ST_JOIN_A_WINDOW, b_window=_ST_JOIN_B_WINDOW,
        )
    )
    return _run_join_replay(spark, joined, base)


def st06_stream_outer_join_equiv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join — the sixth streaming
    face (st05 covers dual-sided INNER join state; this one adds
    watermark-TRIGGERED NULL-side emission, the join behavior an inner
    join never exercises): the same two watermarked streams and the
    same range predicate, joined left_outer. Matched pairs emit eagerly
    exactly like st05's; an UNMATCHED click emits its NULL-padded row
    only when the global watermark proves no purchase can still arrive
    — state eviction doubles as the emission trigger, so correctness
    of the eviction bound is directly observable in the output, not
    just in memory behavior. A far-future sentinel rides the last
    batch of EACH side (the global watermark is the min across
    sources, so one side alone cannot flush) to force the final
    advance that emits the tail's unmatched clicks; the sentinels
    themselves never emit — the final watermark (sentinel ts minus the
    30-minute delay) never passes the click sentinel's own window end,
    so its state is simply discarded at query stop, and the purchase
    sentinel is on the right of a left join — the user_id >= 0 filter
    below is a safety net, not the mechanism. With the time-monotone
    replay the
    appended table equals the batch LEFT JOIN, so a plain SQL
    left-join oracle hash-verifies watermark-triggered null emission
    end-to-end. Same wall-time discipline as st05 (NTZ arithmetic,
    zone-free ``*_wm`` watermark columns — correct across DST
    transitions)."""
    from mbta_etl_spark.streaming.ingest import interval_overlap_streams

    base, clicks, purchases = _st_click_purchase_streams(
        spark, sf_dir, "st06", with_sentinels=True
    )
    joined = _pair_overlap_select(
        interval_overlap_streams(
            clicks, purchases, "user_id", "b_user", "a_wm", "b_wm",
            a_window=_ST_JOIN_A_WINDOW, b_window=_ST_JOIN_B_WINDOW,
            how="left_outer",
        ),
        null_when_unmatched=True,
    )
    out = _run_join_replay(spark, joined, base)
    return out.filter(F.col("user_id") >= 0)


def st07_stateful_profile_equiv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSTOM-STATEFUL streaming equivalence — the seventh streaming
    face and the round-6 verdict's item 2: the sanctioned Python
    stateful tier (``applyInPandasWithState`` — an Arrow-batched
    GroupState kernel, streaming/stateful.user_profile_stream)
    driver-hash-checked end to end. st01–st06 pin the ENGINE's state
    tiers (hash agg, table merge, sketch, sessions, inner/outer join
    state); this pins the escape hatch a pipeline uses when built-in
    aggregations can't express the semantics — per-key custom
    accumulators in explicit GroupState.

    Events replay as 4 KEY-INTERLEAVED micro-batches (split on
    pmod(event_id, 4), so nearly every user spans batches and the
    cross-batch state fold is the path being verified — a per-user
    split would degenerate to one emission per key). No watermark and
    a commutative fold (count / float sum / max-ts), so the replay
    needs no time-monotone landing and the result is split-invariant —
    which is exactly what lets a plain batch GROUP BY oracle
    hash-verify the streamed execution. Update-mode emissions carry
    the key's full cumulative profile, merged into a standing table by
    an idempotent last-write-wins upsert (claim_batch +
    atomic_publish, st02's exactly-once discipline). Floats follow
    r01: raw sums in state and in the table, ONE 6dp round at read.

    Note the deliberate API choice: ``applyInPandasWithState`` rather
    than ``transformWithStateInPandas`` — the latter's state client
    needs a protobuf runtime the driver's vanilla session doesn't
    have (tests/conftest.py shims it for the unit tier), while this
    tier is pure Arrow + GroupState and runs anywhere the engine
    does. (Round 7 later unblocked the transformWithState tier too —
    st10 bootstraps the protobuf runtime post-launch via
    stateful.ensure_protobuf_runtime — so both Python stateful tiers
    are now driver-checked; the unit tests in tests/test_stateful.py,
    incl. a RocksDB run, remain.)"""
    import os
    import shutil

    from mbta_etl_spark.sources.formats import scratch_dir
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
    )
    from mbta_etl_spark.streaming.stateful import start_profile_stream

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "value"
    )
    base = scratch_dir(
        spark, f"st07_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    table = os.path.join(base, "profiles")
    ckpt = os.path.join(base, "ckpt")
    src = ev.withColumn("replay_key", F.col("event_id"))
    land_replay_log(src, in_dir, 4, "replay_key")
    stream = (
        open_replay_stream(spark, in_dir, src.schema)
        .select("user_id", "ts", "value")
    )
    # Pinned since round 8 — a REVERSAL of the round-7 measurement
    # (which read pinning ~40% slower): round 7's merge executed the
    # applyInPandasWithState subtree twice per batch (unpersisted
    # batch_df reused in the merge plan), so the CPU-bound kernel
    # dominated and wanted full parallelism. With the round-8
    # persist() fix the kernel runs once and the per-partition state
    # machinery dominates again: measured 9.7 s at 32 -> 5.2 s at 8
    # (sf0.1, identical output). Full A/B table in
    # streaming/replay.pinned_stream_parallelism.
    from mbta_etl_spark.streaming.replay import pinned_stream_parallelism

    with pinned_stream_parallelism(spark, input_dirs=[in_dir]):
        query = start_profile_stream(
            stream, table, ckpt, available_now=True
        )
        query.awaitTermination()
    return spark.read.parquet(table).select(
        "user_id",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
        "last_ts",
    )


def st08_stream_dedup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming DEDUP-WITHIN-WATERMARK equivalence — the eighth
    streaming face (closing the `dropDuplicatesWithinWatermark` row of
    the unit-only tier): an AT-LEAST-ONCE delivery is simulated by
    re-delivering every 17th event IDENTICALLY one micro-batch after
    its original (deterministic pmod selection, so the replay is a
    pure function of the data), and the streamed
    `dedup_stream_by_key` (withWatermark + dropDuplicatesWithinWatermark,
    streaming/ingest) must collapse the stream back to exactly the
    original events table — which is therefore the oracle, one
    trivial SELECT. Horizon math: the time-quantile split makes a
    batch span ~a quarter of the month, so a copy re-delivered one
    batch later is at most ~15 days older than the watermark's source
    event times; the 20-day horizon keeps its key's dedup state alive
    (and the copy itself above the late-data bar), so the redelivery
    is dropped by STATE, exercising the store rather than the lateness
    filter. Event times stay NTZ; the watermark rides a _wall_instant
    relabeling (round-7 zone-free discipline) that is dropped on
    output. At 100 TB the same query is the at-most-once-within-
    horizon ingest guard: state is one entry per key inside the
    horizon, evicted by watermark — size the horizon to the source's
    re-delivery window (SURVEY §2.6's upsert absorbs what leaks past
    it)."""
    import os
    import shutil

    from mbta_etl_spark.sources.formats import scratch_dir
    from mbta_etl_spark.streaming.ingest import dedup_stream_by_key
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
        time_quantile_key,
    )

    n_batches = 4
    horizon_days = 20
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    # Loud scale-up guard (ADVICE r7 item 3): the 20-day horizon is
    # sized to the testdata's ~1-month span — a redelivered copy lands
    # one batch later, so its dedup state must survive ~one
    # quantile-batch span of watermark advance. If a larger scale
    # factor's events span enough that span/n_batches approaches the
    # horizon, the copy's state would be silently evicted and the copy
    # re-emitted, breaking the oracle equality — fail HERE instead,
    # with 2x margin.
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    if lo is None or hi is None:
        raise ValueError(f"st08: events table at {sf_dir} is empty")
    batch_span_days = (hi - lo).total_seconds() / 86400.0 / n_batches
    if batch_span_days * 2 > horizon_days:  # explicit raise: -O-proof
        raise ValueError(
            f"st08 dedup horizon ({horizon_days} d) is no longer >=2x "
            f"the replay batch span ({batch_span_days:.1f} d) at this "
            "scale factor — redelivered copies would outlive their "
            "dedup state; widen the horizon or raise n_batches"
        )
    keyed = time_quantile_key(
        ev, "ts", n_batches, require_uniform_shift=False
    )
    redelivered = keyed.filter(
        F.pmod(F.col("event_id"), F.lit(17)) == 0
    ).withColumn(
        "replay_key",
        F.least(F.col("replay_key") + 1, F.lit(n_batches - 1)),
    )
    keyed = keyed.unionByName(redelivered)
    base = scratch_dir(
        spark, f"st08_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "events")
    ckpt = os.path.join(base, "ckpt")
    land_replay_log(keyed, in_dir, n_batches, "replay_key")
    stream = (
        open_replay_stream(spark, in_dir, keyed.schema)
        .drop("replay_key")
        .withColumn("wm", _wall_instant("ts"))
    )
    deduped = dedup_stream_by_key(
        stream, ["event_id"], "wm", f"{horizon_days} days"
    ).drop("wm")
    return _run_replay_sink(
        spark, deduped, out_dir, ckpt, input_dirs=[in_dir]
    )


def st09_stream_enrich_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment equivalence — the ninth streaming face
    (closing the `enrich_stream` row of the unit-only tier): events
    replayed as 4 micro-batches, each LEFT-joined stateless to the
    static customer dimension (broadcast — the dim is re-resolved per
    micro-batch, so a dimension refresh needs no restart;
    streaming/ingest.enrich_stream). No watermark, no state store: a
    stateless per-batch join is split-invariant by construction, so
    the appended union equals the batch LEFT JOIN and one SQL
    statement is the oracle. The face this pins is the BROADCAST
    discipline inside a micro-batch (enrich_stream wraps the dim in
    F.broadcast(), forcing a BroadcastHashJoin — never a shuffle — per
    batch) — at 100 TB the stream side never re-partitions for the
    join, the dim ships to executors once per batch, and dimension
    refreshes land between batches for free."""
    import os
    import shutil

    from mbta_etl_spark.sources.formats import scratch_dir
    from mbta_etl_spark.streaming.ingest import enrich_stream
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
    )

    n_batches = 4
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "value"
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    base = scratch_dir(
        spark, f"st09_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "enriched")
    ckpt = os.path.join(base, "ckpt")
    src = ev.withColumn(
        "replay_key", F.pmod(F.col("event_id"), F.lit(n_batches))
    )
    land_replay_log(src, in_dir, n_batches, "replay_key")
    stream = open_replay_stream(spark, in_dir, src.schema).drop(
        "replay_key"
    )
    enriched = enrich_stream(stream, dim, "user_id", how="left")
    return _run_replay_sink(
        spark, enriched, out_dir, ckpt, input_dirs=[in_dir]
    )


def st10_transform_with_state_equiv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """transformWithStateInPandas equivalence — the TENTH streaming
    face, and the one round 6 judged unreachable: Spark 4's
    typed-state tier (named ValueState in a RocksDB-backed store,
    streaming/stateful.running_extrema_stream) driver-hash-checked in
    a VANILLA session. The blocker was the tier's protobuf state
    client (no pip protobuf in the sandbox; the test suite shims it
    BEFORE session launch in conftest, which the driver's session
    flow can't do). The measured unblock:
    stateful.ensure_protobuf_runtime applies the shim POST-launch —
    sys.path for the driver, ``sc.environment`` for workers (consulted
    per Python function, mutable after JVM start) — so the entry
    carries its own runtime bootstrap.

    Replay shape is st07's: 4 key-interleaved micro-batches
    (pmod(event_id, 4) — users span batches, the cross-batch
    ValueState fold is the verified path), update-mode emissions carry
    the key's full cumulative (count, max) so the last-write-wins
    merge (claim_batch + atomic_publish) leaves the one-shot batch
    aggregate, which the trivial GROUP BY oracle replays. Count and
    MAX are exact (no float-association hazard — deliberately chosen
    so the protobuf/Arrow state plumbing, the version-fragile surface
    under test, is the only thing that can break the hash). RocksDB
    provider is required by the API and pinned around the replay.

    Shuffle partitions are pinned to 8 for the replay (round-8
    measured A/B at sf0.1: 15.7 s at the session's 32, 8.2 s at 8,
    8.1 s at 16, identical output) — unlike st07, whose
    applyInPandasWithState kernel is CPU-bound and wants full
    parallelism, this entry's light count/max kernel leaves the
    per-partition-per-batch state-server handshake (RocksDB store
    instantiation + protobuf client setup) as the dominant cost, the
    same economics that pin st05/st06. At 100 TB the knob reverses to
    match executor count, exactly as _run_join_replay documents."""
    import os
    import shutil

    from mbta_etl_spark.sources.formats import scratch_dir
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
    )
    from mbta_etl_spark.streaming.stateful import (
        ensure_protobuf_runtime,
        merge_profile_batch,
        running_extrema_stream,
    )

    ensure_protobuf_runtime(spark)
    n_batches = 4
    ev = _events(spark, sf_dir).select("event_id", "user_id", "value")
    base = scratch_dir(
        spark, f"st10_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(base, ignore_errors=True)
    in_dir = os.path.join(base, "in")
    table = os.path.join(base, "extrema")
    ckpt = os.path.join(base, "ckpt")
    src = ev.withColumn("replay_key", F.col("event_id"))
    land_replay_log(src, in_dir, n_batches, "replay_key")
    stream = open_replay_stream(spark, in_dir, src.schema).select(
        "user_id", "value"
    )
    from contextlib import ExitStack

    from mbta_etl_spark.streaming.replay import pinned_stream_parallelism

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    # Changelog checkpointing (r9 optimization, guide §1 profile): the
    # default RocksDB commit uploads a full SST snapshot zip per store
    # per batch — profiled at 0.7-4.2 s/batch of the entry's addBatch
    # (scripts/profile_st.py). With changelog checkpointing the commit
    # appends only the batch's changed keys (snapshots move to async
    # maintenance), profiled at ~0.35 s/batch, identical results. This
    # is the documented production posture for RocksDB state at scale,
    # not a local-only trick; scoped + restored like providerClass.
    prev_clog = spark.conf.get(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
        None,
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled",
        "true",
    )
    stack = ExitStack()
    stack.enter_context(
        pinned_stream_parallelism(spark, input_dirs=[in_dir])
    )
    try:
        query = (
            running_extrema_stream(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda b, bid: merge_profile_batch(b, bid, table)
            )
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        stack.close()
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
        if prev_clog is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled",
                prev_clog,
            )
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.rocksdb."
                "changelogCheckpointing.enabled"
            )
    return spark.read.parquet(table).select(
        "user_id", "n_events", "max_value"
    )


_HTTP_SNAPSHOT_DDL = (
    "id string, type string, attributes struct<user_id: bigint, "
    "ts: string, event_type: string, value: double>"
)


def _land_event_snapshots(
    spark: SparkSession, sf_dir: str, n_snapshots: int, tag: str
) -> tuple[list[str], int]:
    """Simulate the reference poller's N successive API responses
    (pipeline/extract.go:11-33): land a SNAPSHOT-SIZED slice of the
    events table (every 50th event_id — an API snapshot is a few
    hundred rows, reference README 373-522 vehicles) as ``n_snapshots``
    JSON:API envelope documents under scratch, one file per poll,
    with extra envelope/attribute fields the schema projection must
    drop (extract.go:28 json.Unmarshal semantics). Returns the
    ``file://`` URLs and the slice's expected row count.

    Driver-side by design and BOUNDED: one envelope IS one API
    response, the slice is 1/50th of events (sf0.1: ~2k rows). A 100 TB
    backfill does not land envelopes at all — it points the batch face
    at the object-store archive of real snapshot URLs, one partition
    per URL, fetched on executors."""
    import json
    import os
    import shutil

    from mbta_etl_spark.sources.formats import scratch_dir

    ev = (
        _events(spark, sf_dir)
        .select("event_id", "user_id", "ts", "event_type", "value")
        .filter(F.pmod(F.col("event_id"), F.lit(50)) == 0)
    )
    # Loud scale-up guard (same pattern as st08's horizon guard): the
    # slice is 1/50th of events, so the collect stays snapshot-sized
    # only while the scale factor is test-sized. The limit caps driver
    # memory in the SAME job that lands the data (no second scan); one
    # extra row past the cap proves the slice outgrew the simulation —
    # fail with instructions instead of becoming a driver-memory
    # hotspot (a real backfill never lands envelopes; it reads the
    # archive's own URLs via the batch face).
    cap = 100_000
    rows = ev.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"_land_event_snapshots: slice exceeds {cap} rows at "
            f"{sf_dir} — no longer snapshot-sized; widen the pmod "
            "divisor or point the entry at real archived snapshot URLs"
        )
    base = scratch_dir(
        spark, f"{tag}_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    buckets: list[list] = [[] for _ in range(n_snapshots)]
    for r in rows:
        buckets[int(r.event_id // 50) % n_snapshots].append(r)
    urls = []
    for i, bucket in enumerate(buckets):
        doc = {
            "data": [
                {
                    "id": str(r.event_id),
                    "type": "event",  # dropped by flatten, like Go
                    "links": {"self": f"/events/{r.event_id}"},  # unknown
                    "attributes": {
                        "user_id": r.user_id,
                        "ts": r.ts.isoformat(sep=" "),
                        "event_type": r.event_type,
                        "value": r.value,
                        "revenue": "REVENUE",  # unknown: must be dropped
                    },
                }
                for r in bucket
            ],
            "meta": {"poll": i},  # envelope noise outside data[]
        }
        path = os.path.join(base, f"snap{i:02d}.json")
        with open(path, "w") as f:
            json.dump(doc, f)
        urls.append(f"file://{path}")
    return urls, len(rows)


def _http_flatten(df: DataFrame) -> DataFrame:
    """JSON:API envelope rows -> flat event rows (the S1 transform
    boundary): id string -> bigint, attributes.ts RFC-ish string ->
    TIMESTAMP_NTZ (a string->NTZ cast is zone-free — no session-zone
    routing), unknown fields already dropped by the schema
    projection."""
    return df.select(
        F.col("id").cast("bigint").alias("event_id"),
        F.col("attributes.user_id").alias("user_id"),
        F.col("attributes.ts").cast("timestamp_ntz").alias("ts"),
        F.col("attributes.event_type").alias("event_type"),
        F.col("attributes.value").alias("value"),
    )


def src13_http_batch_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 as a REGISTERED Spark 4 Python DataSource, batch face
    (VERDICT r7 item 7): ``spark.read.format("http_json")`` over 4
    snapshot URLs — one InputPartition per URL, each fetched ON an
    executor (sources/http_datasource.py), schema-projected like
    json.Unmarshal (unknown envelope/attribute fields in the landed
    documents must vanish), flattened through the S1 cast boundary.
    The plan is a clean ``BatchScan http_json (Python)`` under a
    codegen'd Project — no BatchEvalPython, no driver fetch. At 100 TB
    this face IS the archive backfill: N snapshot URLs scan
    N-way-parallel with no driver bottleneck. Oracle: the same
    every-50th slice of events."""
    from mbta_etl_spark.sources.http_datasource import register_http_json

    register_http_json(spark)
    urls, _ = _land_event_snapshots(spark, sf_dir, 4, "src13")
    raw = (
        spark.read.format("http_json")
        .schema(_HTTP_SNAPSHOT_DDL)
        .option("urls", ",".join(urls))
        .load()
    )
    return _http_flatten(raw)


def st11_http_source_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 as a registered Python DataSource, STREAMING face — the
    eleventh streaming equivalence: ``spark.readStream.format(
    "http_json")`` in deterministic replay mode polls one landed
    snapshot URL per micro-batch (sources/http_datasource.py's
    SimpleDataSourceStreamReader — driver-side read, the variant built
    for exactly this snapshot-sized input rate), flattens through the
    same S1 cast boundary, and appends via the per-batch_id overwrite
    sink. Spark 4.1's Python micro-batch stream does not support
    Trigger.AvailableNow (measured: silent single-batch fallback), so
    the bounded replay runs under the default trigger and
    ``drain_poll_replay`` watches the committed offset to n_polls then
    stops — batch composition stays deterministic (read() consumes
    exactly one URL per call). A stateless per-batch projection is
    split-invariant, so the appended union equals the batch slice and
    the oracle is one SELECT. Live mode (a real polling endpoint,
    continuous trigger) is the production shape; error semantics
    (non-2xx / malformed JSON abort) are pinned in
    tests/test_http_datasource.py."""
    import os

    from mbta_etl_spark.sources.http_datasource import (
        drain_poll_replay,
        register_http_json,
    )
    from mbta_etl_spark.sources.formats import scratch_dir

    register_http_json(spark)
    n_polls = 4
    urls, _ = _land_event_snapshots(spark, sf_dir, n_polls, "st11")
    base = scratch_dir(
        spark, f"st11_sink_{os.path.basename(sf_dir.rstrip('/'))}"
    )
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    out_dir = os.path.join(base, "events")
    ckpt = os.path.join(base, "ckpt")
    raw = (
        spark.readStream.format("http_json")
        .schema(_HTTP_SNAPSHOT_DDL)
        .option("urls", ",".join(urls))
        .load()
    )
    flat = _http_flatten(raw)
    return _run_replay_sink(
        spark,
        flat,
        out_dir,
        ckpt,
        drain=lambda q: drain_poll_replay(q, n_polls),
        input_dirs=[os.path.dirname(urls[0].removeprefix("file://"))],
    )


R02_REL_BOUND = 0.08  # ~4 sigma for lgConfigK=12 (rsd ~1.6%)


def r02_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-user rollup per day + sketch-union total
    (null bucket) — COUNT(DISTINCT) made incremental — now with a
    COMPOSED oracle (VERDICT r4 item 3, the d13 pattern). The sketch
    path runs unchanged (operators/rollup.sketch_rollup: per-bucket
    hll_sketch_agg, total = union of bucket sketches, never a re-scan);
    the entry then audits every estimate against the exact per-bucket
    distinct and emits (bucket, n_exact, est_in_bounds), where the flag
    is |est - exact| <= max(rel * exact, 2). The estimate itself is
    engine-specific so it stays out of the hashed columns; the merge
    algebra (union estimate ≈ single-pass estimate ≈ exact) remains
    exactly pinned in tests/test_rollup.py. The oracle replays the
    exact rollup (per-day + grand-total distinct) and asserts the flag,
    so an HLL or union regression breaks the driver hash."""
    from mbta_etl_spark.operators.rollup import sketch_rollup

    ev = _events(spark, sf_dir).select("ts", "user_id")
    est = sketch_rollup(ev, "ts", "user_id")
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    # exact side in ONE scan: cube on the single bucket column emits the
    # per-day groups plus the NULL-bucket grand total — the same
    # (bucket, total) shape sketch_rollup's union row uses, without a
    # second aggregate + unionAll leg (ts is non-null so the NULL key is
    # unambiguously the rollup row)
    exact = ev.cube(day.alias("bucket")).agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    err = F.abs(
        F.col("distinct_entities").cast("double")
        - F.col("n_exact").cast("double")
    )
    band = F.greatest(
        F.lit(R02_REL_BOUND) * F.col("n_exact").cast("double"), F.lit(2.0)
    )
    return (
        est.join(
            exact, est["bucket"].eqNullSafe(exact["bucket"]), "full_outer"
        )
        .select(
            exact["bucket"].alias("bucket"),
            "n_exact",
            (err <= band).alias("est_in_bounds"),
        )
    )


R03_QUANTILES = (0.5, 0.95, 0.99)
R03_LO, R03_WIDTH, R03_NBINS = 0.0, 25.0, 20


def r03_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable histogram-quantile rollup audit: per-(day, bin) counts
    as the stored partials (merge = SUM, r01's algebra applied to
    quantiles), p50/p95/p99 read by linear interpolation inside the
    merged 20-bin histogram, each beside the exact full-sort percentile
    and the absolute gap. The any-range-p95 primitive a metrics
    pipeline stores instead of raw values — and, unlike the HLL entry
    (r02), every number here is deterministic, so the oracle replays
    the estimator end-to-end (operators/rollup.histogram_quantile_rollup)."""
    from mbta_etl_spark.operators.rollup import histogram_quantile_rollup

    ev = _events(spark, sf_dir).select("ts", "value")
    return histogram_quantile_rollup(
        ev, "ts", "value", R03_QUANTILES, R03_LO, R03_WIDTH, R03_NBINS
    )




def j09_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-event join by composition: for each purchase, the click
    closest in time (either direction; backward wins ties) — two as-of
    passes (backward + forward) over the same operator, then one
    projection picks the nearer candidate. Two keyed window shuffles
    total, no pair explosion; the oracle replays it as argmin over the
    per-user theta join."""
    from mbta_etl_spark.operators.temporal import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    back = asof_join(
        purchases, clicks, "user_id", "ts", ["click_id"], "backward"
    ).withColumnsRenamed({"r_ts": "b_ts", "r_click_id": "b_id"})
    both = asof_join(
        back, clicks, "user_id", "ts", ["click_id"], "forward"
    ).withColumnsRenamed({"r_ts": "f_ts", "r_click_id": "f_id"})
    db = F.expr("timestampdiff(MICROSECOND, b_ts, ts)")
    df_ = F.expr("timestampdiff(MICROSECOND, ts, f_ts)")
    pick_back = F.col("b_id").isNotNull() & (
        F.col("f_id").isNull() | (db <= df_)
    )
    return both.select(
        "user_id",
        "event_id",
        F.when(pick_back, F.col("b_id")).otherwise(F.col("f_id")).alias(
            "nearest_click_id"
        ),
        (
            F.when(pick_back, db).otherwise(df_) / F.lit(1_000_000.0)
        ).alias("distance_s"),
    ).filter(F.col("nearest_click_id").isNotNull())


def v05_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine routing over orders: first failing rule (in
    declaration order) becomes the row's reason; clean rows tagged
    True — per-ROW blame vs v01's per-rule counts. One projection."""
    from mbta_etl_spark.operators import validate

    orders = load_table(spark, sf_dir, "orders")
    out = validate.quarantine_split(
        orders,
        [
            ("status_known", F.col("o_orderstatus").isin("O", "F", "P")),
            ("price_range", F.col("o_totalprice").between(0.0, 300000.0)),
            ("priority_format", F.col("o_orderpriority").rlike("^[1-5]-")),
        ],
    )
    return out.select("o_orderkey", "quarantine_reason", "is_clean")


def c10_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened (tau=0.5) source mixture over documents:
    each source contributes hash-ranked docs proportional to the square
    root of its size — small domains boosted, large ones damped."""
    from mbta_etl_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    return sampling.temperature_mix(
        docs, F.col("doc_id"), F.col("source"), budget=200
    )


def ts07_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly downsampling: one row per (user, hour), the last
    observation winning — time_bucket + last() dashboard reducer."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return timeseries.downsample_last(
        ev, ["user_id"], "ts", "event_id", ["event_id", "value"]
    )


def ts09_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silences longer than 6 hours within each user series — the
    sensor-outage monitor; output ~ #outages, not #rows."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id")
    return timeseries.detect_gaps(
        ev, ["user_id"], "ts", "event_id", min_gap_seconds=6 * 3600.0
    )


def ts10_locf_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF with 12-hour expiry over deterministically-nulled
    measurements: carried values older than the TTL revert to null —
    stale-reading semantics plain LOCF (ts01) cannot express."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).withColumn(
        "value",
        F.when(F.col("event_id") % 13 == 0, F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    out = timeseries.locf_with_ttl(
        ev, ["user_id"], "ts", "event_id", "value",
        max_stale_seconds=12 * 3600.0,
    )
    return out.select("event_id", "user_id", "value_filled")


def ts08_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user min-max normalization of values to [0,1] — per-key
    feature scaling; constant series yield null."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("user_id", "event_id", "value")
    out = timeseries.minmax_normalize(ev, ["user_id"], "value")
    return out.select("event_id", "user_id", "value", "value_norm")


def c08_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement over
    documents, weight = token count: deterministic content-hash draws,
    exact k, TakeOrderedAndProject (no global sort)."""
    from mbta_etl_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.weighted_sample_topk(
        docs,
        F.col("doc_id"),
        F.size(F.split("text", " ")),
        k=50,
    )
    # scaled-floor, not round(): cross-engine midpoint divergence on the
    # freshly-divided score
    return out.select(
        "doc_id",
        "weight",
        (F.floor(F.col("score") * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
            "score"
        ),
    )


def q47_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-flexible semi-structured access via VARIANT (Spark 4):
    parse_json once into the binary variant encoding, then typed
    extraction with variant_get — the modern path when the JSON shape
    isn't declared up front (q23's get_json_object re-parses the string
    per access; variant parses once and the typed gets are cheap). The
    missing-path probe uses try_variant_get (null, not error)."""
    df = _events(spark, sf_dir)
    v = F.parse_json(F.col("props"))
    return (
        df.select(
            "event_type",
            F.variant_get(v, "$.k", "long").alias("k"),
            F.try_variant_get(v, "$.missing", "long").alias("m"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("k").alias("sum_k"),
            F.count_distinct(F.col("k")).alias("n_k"),
            F.count("m").alias("n_missing_present"),
        )
        .orderBy("event_type")
    )


PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]
SAMPLE_RATES = {"click": 0.5, "purchase": 1.0, "view": 0.1}
SESSION_GAP = "30 minutes"


def _session_window_agg(ev: DataFrame, bound_to_ntz=None) -> DataFrame:
    """THE session_window expression — one builder shared by q18a
    (batch) and st04 (watermarked stream), so the two can never drift:
    the equivalence st04 claims is about this exact expression, and its
    oracle is aliased to q18a's for the same reason. ``bound_to_ntz``
    is the only divergence point, and it is a type conversion, not
    semantics: q18a feeds NTZ event times (bounds come out NTZ — the
    default cast is a no-op), while st04 feeds _wall_instant-relabeled
    LTZ times (watermarks require LTZ) and passes
    _ntz_from_wall_instant so the bounds come back as the exact wall
    times, zone-free."""
    if bound_to_ntz is None:
        bound_to_ntz = lambda c: c.cast("timestamp_ntz")  # noqa: E731
    w = F.session_window(F.col("ts"), SESSION_GAP)
    return (
        ev.groupBy("user_id", w.alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            bound_to_ntz(F.col("w.start")).alias("session_start"),
            bound_to_ntz(F.col("w.end")).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def q18a_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window sessionization (dynamic-gap windows merged by
    the engine; batch and streaming share the operator — see
    ``_session_window_agg``). Same single user-keyed shuffle as the
    hand-built island version (q18)."""
    return _session_window_agg(_events(spark, sf_dir))


def q25_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: cohort x event_type count matrix. Pivot values are DECLARED
    (no extra distinct-scan job to discover them) — at scale an
    undeclared pivot is two jobs and an unbounded column count."""
    ev = _events(spark, sf_dir)
    piv = (
        ev.withColumn("cohort", F.col("user_id") % 10)
        .groupBy("cohort")
        .pivot("event_type", PIVOT_TYPES)
        .count()
    )
    return piv.select(
        "cohort",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in PIVOT_TYPES],
    )


def q26_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by content hash (reproducible on
    any cluster/partitioning, replayable by the oracle; plain
    sample()/sampleBy() RNG streams are partitioning-dependent). One
    codegen'd filter, no shuffle."""
    from mbta_etl_spark.operators import sampling

    ev = _events(spark, sf_dir).select("event_id", "event_type", "user_id")
    return sampling.stratified_hash_sample(
        ev, F.col("event_id"), F.col("event_type"), SAMPLE_RATES
    )


def q27_cube_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(o_orderstatus, o_orderpriority): all four grouping sets in one
    pass (Spark expands the cube map-side; one shuffle, not four scans)."""
    df = load_table(spark, sf_dir, "orders")
    return df.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 6).alias("sum_price"),
    )


HIST_BIN_WIDTH = 50.0


def q28_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics over lineitem in one scan: Pearson correlation,
    sample covariance, sample stddevs. All JVM-side merge-formula
    aggregates (numerically stable partial/final combine — no second
    pass for the means)."""
    df = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return df.agg(
        F.round(F.corr(q, p), 6).alias("corr_qty_price"),
        F.round(F.covar_samp(q, p), 2).alias("covar_qty_price"),
        F.round(F.stddev_samp(q), 4).alias("sd_qty"),
        F.round(F.stddev_samp(p), 2).alias("sd_price"),
    )


def q29_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: bin = floor(value / width). Single partial
    aggregation — the engine-side replacement for the reference's
    client-side bucketing loop (queries.go:244-273) at unbounded
    cardinality."""
    ev = _events(spark, sf_dir)
    bin_ = F.floor(F.col("value") / HIST_BIN_WIDTH).alias("bin")
    return (
        ev.groupBy(bin_)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


def j03_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no in-progress ('P') order. LeftAnti
    prunes the build side to just the key column (see PushedFilters +
    ReadSchema in the plan) and short-circuits on first match — cheaper
    than the EXCEPT formulation, which dedups the probe side too."""
    cust = load_table(spark, sf_dir, "customer")
    p_orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.join(p_orders, "c_custkey", "left_anti").select(
        "c_custkey", "c_mktsegment"
    )


def q30_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by region/nation where the supplying
    nation is the customer's nation. Fact-fact joins shuffle on their
    keys; nation and region are broadcast unconditionally (dimension
    tables stay dimension-sized at any SF); supplier/customer Catalyst
    sizes at runtime via AQE. Join order is the optimizer's call — the
    plan is declared, not scheduled."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(revenue, 6).alias("revenue"))
    )


def q31_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per event_type via row_number. One shuffle
    on the group key; with few, heavy groups (the case here) the scale
    path is a two-phase top-k — per-partition heap then merge — which
    pairwise_topk_per_label (s03) demonstrates; this is the plain window
    formulation."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "rn", "event_id", "value")
    )


def j04_big_spenders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS shape): customers with at least one order above
    a price threshold. LeftSemi ships only o_custkey through the shuffle
    (the filter and the one-column projection both push into the orders
    scan) and short-circuits per probe row on first match — the dual of
    j03's anti join."""
    cust = load_table(spark, sf_dir, "customer")
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000.0)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.join(big, "c_custkey", "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q32_order_max_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery shape: line items priced at their
    order's maximum. Declared as a window max over l_orderkey + equality
    filter — ONE shuffle on the (already join-keyed) order key, versus
    the naive aggregate-then-self-join which shuffles lineitem twice.
    Ties all qualify, exactly like the correlated SQL."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey")
    return (
        li.withColumn("_omax", F.max("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("_omax"))
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


def q33_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: daily order volume with a trailing 7-day
    moving average. The frame is a value range over days-since-epoch
    (unix_date), so calendar gaps shrink the frame — ROWS BETWEEN 6
    PRECEDING would silently average over 7 *observed* days instead.
    Single-partition window over the ~|days| daily aggregate, which is
    tiny at any SF (the heavy groupBy below it is fully parallel)."""
    from pyspark.sql import Window

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 6).alias("revenue"),
        )
    )
    w = Window.orderBy(F.unix_date(F.col("day"))).rangeBetween(-6, 0)
    return daily.select(
        "day",
        "n_orders",
        "revenue",
        F.avg("n_orders").over(w).alias("ma7_orders"),
    )


def q34_gap_fill_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap fill: per-day counts of 'P' orders with missing days
    materialized as zero rows via sequence(min, max, 1 day) + explode.
    The calendar side is one row aggregated from the daily rollup and
    exploded — broadcast-join territory at any scale; the fact-side
    groupBy stays the only real shuffle."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    cal = (
        daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
            ).alias("day")
        )
    )
    return cal.join(daily, "day", "left").select(
        "day", F.coalesce("n_orders", F.lit(0)).alias("n_orders")
    )


def q35_order_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: each order's part basket as a sorted list.
    collect_list is shuffle-order-dependent, so array_sort canonicalizes
    — the same discipline any engine needs for deterministic nested
    results. One map-side-combinable aggregation on the order key. The
    basket is emitted comma-joined (not as array<bigint>) so the result
    is hashable by any downstream row-canonicalizer."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("l_partkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("parts"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q36_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form of q20's ROLLUP / q27's
    CUBE: (flag, status), (flag), and grand total, skipping the
    (status)-only set a CUBE would compute. Spark expands the sets into
    one Expand + single aggregation pass, not one scan per set."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
    )


def q37_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows: ntile(4) quartile assignment and percent_rank
    within each event_type, ordered by (value, event_id) — the unique
    tie-break is what makes both functions deterministic across engines;
    bare ORDER BY value would leave tied rows' quartiles unspecified."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


def q38_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-phase aggregation (sources/layout.salted_count):
    counts by (key, salt) spread a pathologically hot key over n_salts
    reducers before the tiny partial-table re-aggregation. Result is
    identical to the plain GROUP BY — the oracle checks exactly that —
    only the shuffle distribution changes. The manual fallback for skew
    beyond what AQE's skew-join splitting handles."""
    from mbta_etl_spark.sources.layout import salted_count

    ev = _events(spark, sf_dir)
    return salted_count(ev, F.col("event_type"), 8, out_key="event_type")


def q39_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count, with
    the priority filter living in the LEFT join condition so zero-order
    customers still appear (filter-then-left-join is equivalent and lets
    the predicate push into the orders scan). Two aggregations: the first
    shuffles on c_custkey, the second on the tiny c_count domain."""
    cust = load_table(spark, sf_dir, "customer")
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        cust.join(ords, cust["c_custkey"] == ords["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q40_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity clears a HAVING
    threshold, enriched with the customer. The aggregate-filter runs
    first (shuffle on l_orderkey — already the lineitem cluster key), the
    orders join reuses that key, and the customer dim joins broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 6).alias("sum_qty"))
        .filter(F.col("sum_qty") > 200.0)
    )
    ords = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(ords, big["l_orderkey"] == ords["o_orderkey"])
        .join(F.broadcast(cust), ords["o_custkey"] == cust["c_custkey"])
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "sum_qty")
    )


def q41_union_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL with provenance tags: two filtered projections of the
    same scan stacked bag-semantics (a purchase above the threshold
    appears twice, once per tag) — the multiplexing shape behind
    build-several-cohorts-in-one-pass pipelines."""
    ev = _events(spark, sf_dir)
    hi = ev.filter(F.col("value") > 400.0).select(
        "event_id", F.lit("high_value").alias("tag"), "value"
    )
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.lit("purchase").alias("tag"), "value"
    )
    return hi.unionByName(pur)


def q42_user_journey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/first_value/last_value per user: time to next event plus the
    journey's first and last event types. One shuffle on user_id; the
    full-extent frame for first/last shares the same sort. Tie-break on
    event_id makes every window function here deterministic.

    Both operands are truncated to whole seconds before the diff:
    SQL date_diff counts second-BOUNDARY crossings while Spark's
    timestampdiff floors elapsed time — on whole-second values the two
    definitions coincide, so the gap is engine-portable."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        ev.withColumn("_next", F.lead("ts").over(w))
        .select(
            "event_id",
            "user_id",
            F.expr(
                "timestampdiff(SECOND, date_trunc('second', ts),"
                " date_trunc('second', _next))"
            ).alias("gap_s"),
            F.first("event_type").over(wfull).alias("first_type"),
            F.last("event_type").over(wfull).alias("last_type"),
        )
    )


def j05_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: reconcile daily order counts against daily ship
    counts — days present on either side survive with zero-filled gaps,
    the audit/reconciliation shape inner joins silently get wrong. The
    USING-style join coalesces the day key in both engines."""
    ords = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    ships = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_ships"))
    )
    return ords.join(ships, "day", "full_outer").select(
        "day",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_ships", F.lit(0)).alias("n_ships"),
        (F.coalesce("n_ships", F.lit(0)) - F.coalesce("n_orders", F.lit(0))).alias(
            "ship_minus_order"
        ),
    )


def q43_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue as a percentage of total revenue —
    a conditional-aggregate ratio over a fact-dim join. part broadcasts
    (only p_partkey/p_type are read), so lineitem never shuffles; the
    two sums fuse into one aggregation pass."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(disc), 6).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q44_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per return-flag counts of high- vs low-priority
    line items among late shipments (shipped after the order date's
    month... here simply after the order date). The join keys on
    l_orderkey — lineitem's natural key — and the priority CASE folds
    into conditional counts in one aggregation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(ords, li["l_orderkey"] == ords["o_orderkey"])
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_count"),
        )
    )


def q45_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average balance and no
    orders, summarized per market segment. The scalar AVG subquery stays
    in-plan as a broadcast one-row cross join (no driver collect); the
    no-orders predicate is a left-anti join on the pruned o_custkey
    column."""
    cust = load_table(spark, sf_dir, "customer")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("_avg_bal"))
    )
    ords = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(ords, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 6).alias("total_bal"),
        )
    )


def q46_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary in long format: one scan computes row
    count, null count, min/max, and distinct cardinality, then unpivot
    (Spark's melt) turns the single wide row into (stat, value) rows —
    the shape a profiling UI or drift monitor ingests. Everything is one
    aggregation job; the unpivot is a zero-shuffle Expand."""
    ev = _events(spark, sf_dir)
    wide = ev.agg(
        F.count(F.lit(1)).cast("double").alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).cast("double").alias(
            "value_nulls"
        ),
        F.round(F.min("value"), 6).alias("value_min"),
        F.round(F.max("value"), 6).alias("value_max"),
        F.count_distinct(F.col("event_type")).cast("double").alias(
            "event_type_distinct"
        ),
        F.count_distinct(F.col("user_id")).cast("double").alias(
            "user_id_distinct"
        ),
    )
    return wide.unpivot(
        [], wide.columns, variableColumnName="stat", valueColumnName="value"
    )


def q24_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-count aggregation. Spark expands COUNT(DISTINCT)
    into a two-stage partial/final aggregate — map-side dedup first, so
    shuffled bytes scale with #distinct keys, not #rows."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


Q24A_RSD = 0.02  # HLL++ relative standard deviation
Q24A_REL_BOUND = 0.08  # 4-sigma acceptance band on the estimate


def q24a_distinct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate with a COMPOSED oracle (VERDICT
    r4 item 3, the d13 pattern) — the 100 TB path where an exact
    distinct would shuffle every key. Sketches merge associatively, so
    the combine is one fixed-size buffer per group per partition. The
    estimate itself is engine-specific (never hash-comparable), so the
    entry computes the exact distinct beside it IN THE SAME aggregate
    and emits (event_type, n_users_exact, est_in_bounds): the flag is
    |est - exact| <= max(rel_bound * exact, 2), a 4-sigma band around
    the rsd=0.02 contract. The oracle replays the exact distinct and
    asserts the flag — an HLL regression breaks the driver hash."""
    rel = F.lit(Q24A_REL_BOUND)
    out = (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", rsd=Q24A_RSD).alias("_est"),
        )
    )
    err = F.abs(F.col("_est") - F.col("n_users_exact")).cast("double")
    band = F.greatest(
        rel * F.col("n_users_exact").cast("double"), F.lit(2.0)
    )
    return out.select(
        "event_type",
        "n_users_exact",
        (err <= band).alias("est_in_bounds"),
    ).orderBy("event_type")


def j01_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (beyond-reference): each click picks up the most recent
    prior-or-simultaneous purchase by the same user. Union-tag + running
    window — ONE shuffle on user_id, merge-join shape (operators/temporal).
    Oracle is DuckDB's native ASOF LEFT JOIN."""
    from pyspark.sql import Window

    from mbta_etl_spark.operators import temporal

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    # deterministic winner on (user, ts) ties: max purchase_id
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("purchase_id").desc())
    purchases = (
        purchases.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    out = temporal.asof_join(
        clicks, purchases, on="user_id", ts="ts",
        payload=["purchase_id", "purchase_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("r_ts").alias("purchase_ts"),
        F.col("r_purchase_id").alias("purchase_id"),
        F.col("r_purchase_value").alias("purchase_value"),
    )


def j02_range_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed time-range join (beyond-reference): per error event, count and
    sum the same user's clicks in the preceding 10 minutes. Equi-key keeps
    the plan a shuffled join + filter, never a nested loop."""
    from mbta_etl_spark.operators import temporal

    ev = _events(spark, sf_dir)
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return temporal.range_join_agg(
        errors,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        window_expr="INTERVAL 10 MINUTES",
        aggs=[
            F.count(F.col("r.value")).alias("n_clicks"),
            F.round(F.coalesce(F.sum(F.col("r.value")), F.lit(0.0)), 6).alias(
                "click_value"
            ),
        ],
    )


def ts13_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM drift detector over daily means — the
    change-point monitor that catches slow ingest drift a rolling
    z-score (ts04) never alarms on. One distributed daily aggregate,
    then the sequential recursion per series inside applyInPandas; the
    oracle replays the identical recursion as a recursive CTE (same
    tier as c04/c05's packing oracles)."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    return timeseries.cusum_drift(ev, ["event_type"], "ts", "value")


def g02_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the undirected event-transition graph: nodes,
    edges, triangles in one row. Enumeration is the a<b<c ordered
    three-way self-join — each triangle found exactly once, no
    post-dedup. Like g01, the 100 TB event log collapses to an
    O(|types|^2) edge table in one pass, so the cubic-looking join runs
    on a tiny broadcastable relation; on a genuinely large graph the
    same plan holds with the standard degree-ordering refinement (orient
    edges low-degree -> high-degree before the join)."""
    e = _pagerank_edges(spark, sf_dir).filter(F.col("src") != F.col("dst"))
    und = e.select(
        F.least("src", "dst").alias("a"),
        F.greatest("src", "dst").alias("b"),
    ).distinct()
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri_n = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e1.a") == F.col("e3.a"))
            & (F.col("e2.b") == F.col("e3.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes_n = (
        und.select(F.col("a").alias("node"))
        .union(und.select("b"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    edges_n = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes_n.crossJoin(F.broadcast(edges_n))
        .crossJoin(F.broadcast(tri_n))
        .select("n_nodes", "n_edges", "n_triangles")
    )


def q64_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood fuzzy dedup over customer names: sort within
    a prefix block, compare each name to its sorted predecessor by
    Levenshtein, emit adjacent pairs within edit distance 2 — the
    linear-pair alternative to d03's quadratic all-pairs blocking (the
    classic Hernandez-Stolfo merge/purge shape). Window partitions on
    the block so no global single-partition sort exists; the documented
    trade is that cross-block adjacencies are unseen (at scale: run w/
    a second pass on a shifted key, the standard multi-pass SN fix)."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    block = F.substring("c_name", 1, 16)
    w = Window.partitionBy(block).orderBy("c_name")
    withprev = cust.select(
        "c_custkey",
        "c_name",
        block.alias("blk"),
        F.lag("c_name").over(w).alias("prev_name"),
        F.lag("c_custkey").over(w).alias("prev_key"),
    ).filter(F.col("prev_name").isNotNull())
    return (
        withprev.withColumn(
            "edit_dist", F.levenshtein("prev_name", "c_name")
        )
        .filter(F.col("edit_dist") <= 2)
        .select(
            F.col("prev_key").alias("left_key"),
            F.col("c_custkey").alias("right_key"),
            F.col("prev_name").alias("left_name"),
            F.col("c_name").alias("right_name"),
            "edit_dist",
        )
    )


def ts14_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Holt level+trend smoothing over daily means with
    one-step-ahead forecast error — the trend-aware upgrade of ts11's
    seasonal-naive baseline; same post-aggregate applyInPandas recursion
    tier as ts13, replayed by a recursive CTE carrying (level, trend)."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    return timeseries.holt_linear(ev, ["event_type"], "ts", "value")


def v09_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample t-test per event type between the deterministic
    A/B halves (event_id parity = the hash-split assignment c03 uses for
    train/test): means, variances, Welch t statistic and
    Satterthwaite df, flagged at |t| > 1.96 — the experiment-readout /
    drift-significance primitive on top of v06's raw deltas. One
    grouped partial agg (6 small states per type), pivoted A|B by
    conditional aggregation — single shuffle on event_type, O(|types|)
    output. Means/variances are 6dp-floored BEFORE the closed-form
    t/df arithmetic so both engines derive from identical doubles
    (squares via x*x, not pow — pow is not correctly-rounded in every
    libm)."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ev = _events(spark, sf_dir).select(
        "event_type",
        (F.col("event_id") % 2).alias("grp"),
        "value",
    )
    g = ev.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.avg("value")).alias("mean"),
        r6(F.var_samp("value")).alias("var"),
    )
    side = lambda grp, c: F.max(F.when(F.col("grp") == grp, F.col(c)))  # noqa: E731
    piv = g.groupBy("event_type").agg(
        side(0, "n").alias("n_a"),
        side(0, "mean").alias("mean_a"),
        side(0, "var").alias("var_a"),
        side(1, "n").alias("n_b"),
        side(1, "mean").alias("mean_b"),
        side(1, "var").alias("var_b"),
    )
    sa = F.col("var_a") / F.col("n_a").cast("double")
    sb = F.col("var_b") / F.col("n_b").cast("double")
    se2 = sa + sb
    t = (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)
    df_w = (se2 * se2) / (
        (sa * sa) / (F.col("n_a") - 1).cast("double")
        + (sb * sb) / (F.col("n_b") - 1).cast("double")
    )
    return piv.select(
        "event_type",
        "n_a",
        "mean_a",
        "var_a",
        "n_b",
        "mean_b",
        "var_b",
        r6(t).alias("t_stat"),
        r6(df_w).alias("df_welch"),
        (F.abs(r6(t)) > F.lit(1.96)).alias("significant"),
    )


def q65_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table over customer spend: rank customers by
    total order value, ntile into 10 deciles (spend-desc, custkey
    tiebreak), report per-decile customer count, revenue, revenue
    share, and cumulative share — the campaign-targeting readout.
    Shape: one keyed agg (custkey), one ntile window (ranking shuffle
    over the CUSTOMER aggregate, not the fact table), then a 10-row
    final agg; per-customer spends are 6dp-floored first so both
    engines tile the identical ordering."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(r6(F.sum("o_totalprice")).alias("spend"))
    )
    w = Window.orderBy(F.desc("spend"), F.asc("o_custkey"))
    tiled = spend.select(
        "o_custkey", "spend", F.ntile(10).over(w).alias("decile")
    )
    per = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        r6(F.sum("spend")).alias("revenue"),
    )
    total = per.agg(r6(F.sum("revenue")).alias("_total"))
    wd = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_customers",
            "revenue",
            r6(F.col("revenue") / F.col("_total")).alias("rev_share"),
        )
        .select(
            "decile",
            "n_customers",
            "revenue",
            "rev_share",
            r6(F.sum("rev_share").over(wd)).alias("cum_share"),
        )
    )


#: v10 declarative rule set: name -> SQL boolean predicate over lineitem.
#: Evaluated in ONE scan by validate.rule_census; mirrored rule-for-rule
#: in the oracle.
V10_RULES = {
    "qty_range": "l_quantity BETWEEN 1 AND 50",
    "positive_price": "l_extendedprice > 0",
    "discount_domain": "l_discount BETWEEN 0.0 AND 0.1",
    "tax_domain": "l_tax BETWEEN 0.0 AND 0.08",
    "linestatus_domain": "l_linestatus IN ('O', 'F')",
    "returnflag_domain": "l_returnflag IN ('A', 'N', 'R')",
}


def v10_rule_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative DQ rule engine over lineitem: five free-form SQL
    predicates evaluated in one conditional-aggregation scan, each with
    violation count plus min/max violating order key as repro pointers
    (operators/validate.rule_census). v01's typed constraints
    generalized to arbitrary predicates at the same one-scan cost."""
    from mbta_etl_spark.operators import validate

    li = load_table(spark, sf_dir, "lineitem")
    return validate.rule_census(li, V10_RULES, "l_orderkey")


MATRYOSHKA_KS = (8, 16, 32, 64)


def s13_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: how much vector norm (equivalently,
    cosine(full, prefix) = |v_k|/|v|) survives truncating embeddings to
    their first k dims — the measurement behind serving shorter prefixes
    of MRL-trained embeddings. Map-only HOF pass (slice + sequential
    aggregate fold, identical fold order in the oracle's list_sum), one
    tiny groupBy(k); per-row ratios 6dp-floored before aggregation."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ks = F.array([F.lit(k) for k in MATRYOSHKA_KS])
    sq = "aggregate({0}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)"
    exploded = emb.select(
        "vec_id",
        "v",
        F.explode(ks).alias("k"),
    ).select(
        "vec_id",
        "k",
        F.expr(sq.format("slice(v, 1, k)")).alias("_sub"),
        F.expr(sq.format("v")).alias("_full"),
    )
    ratio = (
        F.floor(
            F.sqrt(F.col("_sub")) / F.sqrt(F.col("_full")) * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6)
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        exploded.select("k", ratio.alias("ratio"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.avg("ratio")).alias("mean_ratio"),
            F.min("ratio").alias("min_ratio"),
            F.count(F.when(F.col("ratio") >= 0.95, 1)).alias("n_ge_95"),
        )
    )


def q103_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume decomposition of month-over-month revenue change per
    nation (the BI mix-shift analysis q66's single growth number hides):
    volume effect = Δqty at the PRIOR month's average price, price
    effect = current qty at the price delta — an exact additive split of
    Δrevenue (Laspeyres volume / Paasche price). Revenue accumulates as
    CENTS in int64 (order-free, exact in both engines); only the two
    effect columns divide, each once, pinned 6dp. One fact-dim join
    chain with broadcast dims, one monthly aggregate, one lag window on
    the tiny (nation, month) table."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("rev_cents"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    monthly = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .join(F.broadcast(cust), od["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name", "month")
        .agg(
            F.sum("qty").alias("qty"),
            F.sum("rev_cents").alias("rev_cents"),
        )
    )
    w = Window.partitionBy("n_name").orderBy("month")
    staged = monthly.select(
        "n_name",
        "month",
        "qty",
        "rev_cents",
        F.lag("qty").over(w).alias("p_qty"),
        F.lag("rev_cents").over(w).alias("p_rev"),
    ).filter(F.col("p_qty").isNotNull() & (F.col("p_qty") > 0))
    q, r = F.col("qty").cast("double"), F.col("rev_cents").cast("double")
    pq, pr = F.col("p_qty").cast("double"), F.col("p_rev").cast("double")
    volume_effect = r6((q - pq) * (pr / pq) / F.lit(100.0))
    price_effect = r6(q * (r / q - pr / pq) / F.lit(100.0))
    return staged.select(
        "n_name",
        "month",
        "qty",
        "rev_cents",
        ((F.col("rev_cents") - F.col("p_rev")).cast("double") / F.lit(100.0))
        .alias("delta_rev"),
        volume_effect.alias("volume_effect"),
        price_effect.alias("price_effect"),
    )


def q66_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly order totals with the
    lag-based growth rate — the period-over-period BI staple. The lag
    window runs on the POST-AGGREGATE month table (tens of rows), so
    the unpartitioned ordering is not a scale concern; monthly sums are
    6dp-floored before the growth division."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    monthly = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias(
                "month"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            r6(F.sum("o_totalprice")).alias("revenue"),
        )
    )
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        prev.alias("prev_revenue"),
        F.when(
            prev.isNotNull() & (prev != 0),
            r6((F.col("revenue") - prev) / prev),
        ).alias("growth"),
    )


ATTRIBUTION_WINDOW_DAYS = 7


def j12_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits its value
    evenly across the user's clicks in the prior 7 days (j01's last-
    touch as-of generalized to every touch). One user-keyed shuffle
    join with the band predicate applied in-join, then a purchase-keyed
    count — per-purchase credit is value/n_touches, exact division of
    6dp inputs. Purchases with no touch window keep n_touches=0 and a
    NULL credit (left join, nothing silently dropped)."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    band = (
        (F.col("c_ts") <= F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts")
            - F.expr(f"INTERVAL {ATTRIBUTION_WINDOW_DAYS} DAYS")
        )
    )
    joined = purchases.join(
        clicks, (purchases["user_id"] == clicks["user_id"]) & band, "left"
    )
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        joined.groupBy(
            "purchase_id",
            purchases["user_id"],
            "p_ts",
            "purchase_value",
        )
        .agg(F.count("c_ts").alias("n_touches"))
        .select(
            "purchase_id",
            "user_id",
            "purchase_value",
            "n_touches",
            F.when(
                F.col("n_touches") > 0,
                r6(F.col("purchase_value") / F.col("n_touches")),
            ).alias("credit_per_touch"),
        )
    )


def q67_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x event-type activity profile (count + mean value)
    — the seasonality heat map behind ts11's season choice. Day names
    via the engines' shared English names (date_format 'EEEE' /
    dayname) so no DOW-numbering convention mismatch exists; single
    partial-agg shuffle on a 7x|types| key space."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_format(F.col("ts"), "EEEE").alias("dow"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r6(F.avg("value")).alias("mean_value"),
        )
    )


TOP_PCT = 0.01


def q68_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: what share of total order revenue comes
    from the top 1% of orders by value (the Pareto audit). Exact
    cutoff via one ordered window rank over ORDERS (order-level, the
    fact table's parent), then a single conditional aggregate — the
    rank threshold floor(n/100) keeps both engines on identical
    integer arithmetic. One row out. The global row_number is exact-
    parity tier: at 100 TB the declared swap is an approx_percentile
    price threshold + exact recount above it (the q09/q09a trade)."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    w = Window.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    ranked = o.select(
        "o_totalprice",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    cut = F.floor(F.col("n") * F.lit(TOP_PCT)).cast("long")
    agg = ranked.agg(
        F.max("n").alias("n_orders"),
        F.max(F.when(F.col("rk") <= cut, F.col("rk"))).alias("n_top"),
        r6(F.sum(F.when(F.col("rk") <= cut, F.col("o_totalprice")))).alias(
            "top_revenue"
        ),
        r6(F.sum("o_totalprice")).alias("total_revenue"),
    )
    return agg.select(
        "n_orders",
        "n_top",
        "top_revenue",
        "total_revenue",
        r6(F.col("top_revenue") / F.col("total_revenue")).alias(
            "top_share"
        ),
    )


def c14_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call corpus dataset card: the summary block a corpus release
    ships with (doc/token/source/lang counts, exact-dup fraction, size
    stats) as (metric, value) rows. Two aggregates total — one full
    projection pass and one sha-distinct — then a constant-width stack;
    post-scan state is O(1). The capstone composition a data curator
    actually runs first on a new 100 TB dump."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split(F.col("text"), " "))
    wide = d.agg(
        F.count(F.lit(1)).alias("_docs"),
        F.sum(toks).alias("_tokens"),
        F.countDistinct("source").alias("_sources"),
        F.countDistinct("lang").alias("_langs"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("_uniq"),
        F.sum("n_chars").alias("_chars"),
    )
    f6 = "FLOOR({0} * 1e6 + 0.5) / 1e6"
    return wide.select(
        F.expr(
            "stack(7, "
            "'n_docs', CAST(_docs AS DOUBLE), "
            "'total_tokens', CAST(_tokens AS DOUBLE), "
            "'n_sources', CAST(_sources AS DOUBLE), "
            "'n_langs', CAST(_langs AS DOUBLE), "
            "'exact_dup_frac', "
            + f6.format("(_docs - _uniq) / CAST(_docs AS DOUBLE)")
            + ", 'avg_tokens_per_doc', "
            + f6.format("_tokens / CAST(_docs AS DOUBLE)")
            + ", 'avg_chars_per_doc', "
            + f6.format("_chars / CAST(_docs AS DOUBLE)")
            + ") AS (metric, value)"
        )
    )


def q69_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): the full customer-nation x
    supplier-nation x ship-year revenue matrix through the 6-table
    chain lineitem-orders-customer-supplier-nation(x2). Both nation
    dims broadcast (25 rows); customer and supplier joins shuffle on
    their keys with AQE free to broadcast the dimension side; the
    final 25x25x|years| aggregate is partial-agg combinable. Revenue
    is the Q7 sum(extendedprice * (1 - discount)), 6dp-floored."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        "l_shipdate",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "vol"
        ),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(
            F.broadcast(n.withColumnRenamed("n_name", "cust_nation")),
            c["c_nationkey"] == F.col("n_nationkey"),
        )
        .drop("n_nationkey")
        .join(
            F.broadcast(n.withColumnRenamed("n_name", "supp_nation")),
            s["s_nationkey"] == F.col("n_nationkey"),
        )
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            r6(F.sum("vol")).alias("revenue"),
        )
    )


Q70_REGION = "ASIA"
Q70_PTYPE = "PROMO"
Q70_TARGET_NATION = "NATION_1"


def q70_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): within one region's
    customers and one part type, the share of yearly revenue supplied
    by a target nation. Region/nation/part dims all broadcast; one
    fact-side shuffle per key join; the share is a conditional sum over
    the same aggregate (no second pass). Sums 6dp-floored before the
    final division."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        "l_partkey",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "vol"
        ),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == Q70_PTYPE)
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q70_REGION
    )
    cust_nations = n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).select(F.col("n_nationkey").alias("cn_key"))
    supp_nation = n.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    joined = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(cust_nations), c["c_nationkey"] == F.col("cn_key")
        )
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(
            F.broadcast(supp_nation), s["s_nationkey"] == F.col("sn_key")
        )
    )
    agg = joined.groupBy("o_year").agg(
        r6(
            F.sum(
                F.when(
                    F.col("supp_nation") == Q70_TARGET_NATION, F.col("vol")
                )
            )
        ).alias("target_revenue"),
        r6(F.sum("vol")).alias("total_revenue"),
    )
    return agg.select(
        "o_year",
        F.coalesce(F.col("target_revenue"), F.lit(0.0)).alias(
            "target_revenue"
        ),
        "total_revenue",
        r6(
            F.coalesce(F.col("target_revenue"), F.lit(0.0))
            / F.col("total_revenue")
        ).alias("mkt_share"),
    )


Q71_SEGMENT = "BUILDING"
Q71_CUTOFF = "1998-01-01"


def q71_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): top-10 unshipped-revenue
    orders for one market segment — orders placed before the cutoff
    whose lineitems ship after it. Customer dim filtered THEN
    broadcast; the orders-lineitem join shuffles on the order key; the
    top-10 is a TakeOrdered over the per-order aggregate (no global
    sort materialized). o_orderpriority stands in for the reference
    schema's o_shippriority, which this testdata omits."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    cutoff = F.lit(Q71_CUTOFF).cast("date")
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == Q71_SEGMENT)
        .select("c_custkey")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            r6(
                F.sum(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                )
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def d14_lsh_scurve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theoretical LSH S-curve for the deployed MinHash banding config
    (16 hashes = 4 bands x 4 rows): candidate probability
    1 - (1 - s^r)^b over a Jaccard-similarity grid — the tuning table
    read NEXT TO d13's empirical recall audit when choosing (b, r).
    Generated JVM-side from spark.range (no Python-RDD scan); powers
    expanded to explicit squarings so both engines run identical IEEE
    multiply chains (pow() is not correctly-rounded in every libm)."""
    from mbta_etl_spark.operators.dedup import BAND_SIZE, NUM_HASHES

    n_bands = NUM_HASHES // BAND_SIZE
    assert (n_bands, BAND_SIZE) == (4, 4), "expansion below is for b=r=4"
    s = (F.col("id").cast("double") * F.lit(0.05)).alias("s")
    grid = spark.range(1, 20).select(s)
    s2 = F.col("s") * F.col("s")
    s4 = s2 * s2
    q = F.lit(1.0) - s4
    q2 = q * q
    p = F.lit(1.0) - q2 * q2
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return grid.select(
        r6(F.col("s")).alias("jaccard_s"),
        F.lit(n_bands).alias("bands"),
        F.lit(BAND_SIZE).alias("rows_per_band"),
        r6(p).alias("p_candidate"),
    )


def ts15_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily means per event type:
    trend = centered 7-day moving average (full windows only),
    seasonal = per-day-of-week mean of the detrended series,
    residual = x - trend - seasonal — the classical-decomposition
    lite that turns ts11's "is there weekly signal" yes/no into the
    actual components. Two windows + one grouped mean, all keyed on
    the series; runs on the post-aggregate daily table. Day names via
    the engines' shared English names (q67 convention)."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", b.alias("day"))
        .agg(r6(F.avg("value")).alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trended = (
        daily.withColumn("_nw", F.count("x").over(w))
        .withColumn("trend", r6(F.avg("x").over(w)))
        .filter(F.col("_nw") == 7)
        .withColumn("dow", F.date_format("day", "EEEE"))
        .withColumn("detrended", F.col("x") - F.col("trend"))
    )
    seasonal = trended.groupBy("event_type", "dow").agg(
        r6(F.avg("detrended")).alias("seasonal")
    )
    return (
        trended.join(F.broadcast(seasonal), ["event_type", "dow"])
        .select(
            "event_type",
            "day",
            "dow",
            "x",
            "trend",
            "seasonal",
            r6(F.col("detrended") - F.col("seasonal")).alias("residual"),
        )
    )


#: v11 per-table rule sets: table -> (key column, {rule: predicate}).
V11_RULES = {
    "orders": (
        "o_orderkey",
        {
            "totalprice_pos": "o_totalprice > 0",
            "status_domain": "o_orderstatus IN ('O', 'F', 'P')",
            "date_range": "o_orderdate BETWEEN DATE '1995-01-01' "
            "AND DATE '2001-12-31'",
        },
    ),
    "customer": (
        "c_custkey",
        {
            "segment_domain": "c_mktsegment IN ('MACHINERY', 'AUTOMOBILE',"
            " 'BUILDING', 'FURNITURE', 'HOUSEHOLD')",
            "acctbal_not_null": "c_acctbal IS NOT NULL",
        },
    ),
    "supplier": (
        "s_suppkey",
        {"s_acctbal_not_null": "s_acctbal IS NOT NULL"},
    ),
}


def v11_warehouse_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse-wide DQ scorecard: v10's one-scan rule census run per
    table with table-specific rules and unioned into a single report —
    the nightly artifact a data platform pages on. Each table costs
    exactly one scan regardless of its rule count; the union is
    plan-level (no extra pass)."""
    from mbta_etl_spark.operators import validate

    parts = []
    for tbl, (keycol, rules) in V11_RULES.items():
        df = load_table(spark, sf_dir, tbl)
        parts.append(
            validate.rule_census(df, rules, keycol).select(
                F.lit(tbl).alias("tbl"), "*"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def d15_dup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate rate per source: docs, unique shas, and the dup
    fraction for each corpus source — the per-provider quality signal
    that decides which feeds earn a place in the mixture (c02). One
    grouped aggregate with a distinct-count; at extreme cardinality the
    sha distinct swaps for approx_count_distinct (q24/q24a trade)."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(F.sha2(F.col("text"), 256)).alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            r6(
                (F.col("n_docs") - F.col("n_unique"))
                / F.col("n_docs").cast("double")
            ).alias("dup_frac"),
        )
    )


ACF_LAGS = (1, 7)


def ts16_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily means per series at lags 1 and 7
    — the quantitative companion to ts15's decomposition (lag-7 ACF
    high = weekly seasonality is real). One daily aggregate, one lag
    window per lag over the post-aggregate table, then the explicit
    product-moment formula over 6dp-floored sums (never engine corr(),
    whose accumulation order differs across engines)."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", b.alias("day"))
        .agg(r6(F.avg("value")).alias("x"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = None
    for lag in ACF_LAGS:
        part = (
            daily.withColumn("y", F.lag("x", lag).over(w))
            .filter(F.col("y").isNotNull())
            .select("event_type", F.lit(lag).alias("lag"), "x", "y")
        )
        lagged = part if lagged is None else lagged.unionByName(part)
    sums = lagged.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        r6(F.sum("x")).alias("sx"),
        r6(F.sum("y")).alias("sy"),
        r6(F.sum(F.col("x") * F.col("y"))).alias("sxy"),
        r6(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        r6(F.sum(F.col("y") * F.col("y"))).alias("syy"),
    )
    n = F.col("n_pairs").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    denom = F.sqrt(vx) * F.sqrt(vy)
    return sums.select(
        "event_type",
        "lag",
        "n_pairs",
        F.when(denom > 0, r6(cov / denom)).alias("acf"),
    )


def q72_top5_plus_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 users by event count with everyone else folded into one
    'Other' bucket — the BI idiom that keeps dashboards readable
    without dropping the tail's mass. Ranking runs on the USER
    aggregate (not the fact table); the re-group after labeling is a
    6-key aggregate."""
    from pyspark.sql import Window

    counts = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("user_id"))
    labeled = counts.select(
        F.when(
            F.row_number().over(w) <= 5, F.col("user_id").cast("string")
        )
        .otherwise("Other")
        .alias("who"),
        "n",
    )
    return labeled.groupBy("who").agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_users"),
    )


def ts17_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per series (TWAP): each observation
    weighted by its holding duration until the next one — the correct
    mean for irregularly-sampled telemetry, where the plain AVG
    over-weights bursts. Emitted beside the plain average so the
    sampling bias is visible. One lead window + one aggregate, both on
    the series key; weighted sums 6dp-floored before the division."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ev = _events(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    staged = ev.withColumn("_next", F.lead("ts").over(w)).withColumn(
        "dur_s",
        F.expr("CAST(timestampdiff(MICROSECOND, ts, _next) AS DOUBLE)")
        / F.lit(1e6),
    )
    held = staged.filter(F.col("_next").isNotNull())
    return held.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_held"),
        r6(F.avg("value")).alias("plain_avg"),
        (
            r6(F.sum(F.col("value") * F.col("dur_s")))
            / r6(F.sum("dur_s"))
        ).alias("_twap_raw"),
    ).select(
        "event_type",
        "n_held",
        "plain_avg",
        r6(F.col("_twap_raw")).alias("twap"),
    )


def q73_semi_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-additive measure: end-of-day "balance" per day = sum over
    users of each user's LAST value that day (max_by on the event
    ordering) — the warehouse pattern for balances/inventory where
    summing every reading double-counts. One (user, day) last-value
    aggregate, then a day rollup — both partial-agg shuffles; no
    window over the fact table."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value",
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day"),
    )
    last_per_user = ev.groupBy("user_id", "day").agg(
        F.expr("max_by(value, struct(ts, event_id))").alias("last_value")
    )
    return last_per_user.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_users"),
        r6(F.sum("last_value")).alias("eod_balance"),
    )


def q74_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new (first-ever activity today) vs
    returning — the growth-accounting staple. One (user, day) distinct
    aggregate, a per-user min-day (same shuffle key), then the daily
    rollup; first-seen is an aggregate, not a window over the fact
    table, so the plan stays partial-agg combinable end-to-end."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day"),
    )
    user_days = ev.distinct()
    first_seen = user_days.groupBy("user_id").agg(
        F.min("day").alias("first_day")
    )
    return (
        user_days.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.count(F.when(F.col("day") == F.col("first_day"), 1)).alias(
                "new_users"
            ),
            F.count(F.when(F.col("day") != F.col("first_day"), 1)).alias(
                "returning_users"
            ),
        )
    )


TRIM_FRAC = 0.05


def q75_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean per event type beside the plain mean — the
    robust-location estimator between q04's mean and q57's median.
    Exact-parity tier: one rank window per type with the deterministic
    (value, event_id) tie-break, then a conditional aggregate; at
    100 TB the declared swap is approx_percentile cutoffs + a filtered
    recount (the q09/q09a trade), which avoids ranking the fact
    table."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ev = _events(spark, sf_dir).select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    cut = F.floor(F.col("n") * F.lit(TRIM_FRAC)).cast("long")
    kept = (F.col("rk") > cut) & (F.col("rk") <= F.col("n") - cut)
    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n_rows"),
        F.count(F.when(kept, 1)).alias("n_kept"),
        r6(F.avg("value")).alias("plain_mean"),
        r6(F.avg(F.when(kept, F.col("value")))).alias("trimmed_mean"),
    )


def q76_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users over time: per-user first-seen day
    (aggregate, not a fact-table window), daily new-user counts, and a
    running total over the tiny day table — how 'count distinct over
    an ever-growing window' is computed WITHOUT an ever-growing
    distinct state."""
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("day"),
    )
    from pyspark.sql import Window

    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    per_day = first_seen.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_day.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


ABC_CUT_A, ABC_CUT_B = 0.8, 0.95


def q77_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification of parts by lineitem
    revenue: rank parts by revenue, classify A (first 80% of cumulative
    share), B (to 95%), C (tail), report class rollups. The ranking
    and cumulative window run on the PART aggregate; per-part revenue
    is 6dp-floored first so both engines walk the identical cumulative
    sequence."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        r6(
            F.sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            )
        ).alias("rev")
    )
    total = per_part.agg(r6(F.sum("rev")).alias("_t"))
    w = Window.orderBy(F.desc("rev"), F.asc("l_partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    classed = (
        per_part.crossJoin(F.broadcast(total))
        .select(
            "l_partkey",
            "rev",
            (r6(F.sum("rev").over(w)) / F.col("_t")).alias("cum_share"),
        )
        .select(
            "l_partkey",
            "rev",
            F.when(F.col("cum_share") <= ABC_CUT_A, "A")
            .when(F.col("cum_share") <= ABC_CUT_B, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        r6(F.sum("rev")).alias("class_revenue"),
    )


def d17_dup_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of exact-duplicate group sizes: how many content
    groups have 1, 2, 3... copies — the shape report that decides
    whether dedup keeps one-per-group (long tail of pairs) or needs
    cluster-aware sampling (giant groups). Two keyed aggregates, each
    partial-combinable; the second runs on the group table."""
    d = load_table(spark, sf_dir, "documents")
    groups = d.groupBy(F.sha2(F.col("text"), 256).alias("sha")).agg(
        F.count(F.lit(1)).alias("group_size")
    )
    return groups.groupBy("group_size").agg(
        F.count(F.lit(1)).alias("n_groups"),
        (F.col("group_size") * F.count(F.lit(1))).alias("n_docs"),
    )


RECON_TOL = 0.01


def v12_header_line_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: each order's header total
    against the sum of its line extended amounts — the
    fact-to-its-own-detail audit every finance pipeline runs nightly.
    One order-keyed line aggregate, one left join from headers
    (orders with no lines stay visible), one summary row with the
    within-1% match rate. The join is the orders-lineitem standing
    join; at 100 TB it rides the bucketed layout (SCALE §3)."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        r6(F.sum(F.col("l_extendedprice"))).alias("line_total"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    joined = o.join(
        lines, o["o_orderkey"] == lines["l_orderkey"], "left"
    ).select(
        "o_totalprice",
        F.col("n_lines").isNotNull().alias("has_lines"),
        (
            F.abs(
                F.col("o_totalprice")
                - F.coalesce(F.col("line_total"), F.lit(0.0))
            )
            / F.col("o_totalprice")
        ).alias("rel_diff"),
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("has_lines"), 1)).alias("n_with_lines"),
        F.count(
            F.when(F.col("rel_diff") <= F.lit(RECON_TOL), 1)
        ).alias("n_within_tol"),
        r6(F.avg("rel_diff")).alias("avg_rel_diff"),
    )


INTERLEAVE_BATCH = 32


def c16_batch_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-batch interleave audit: shuffle docs deterministically
    (md5 order, the c07 convention), tile into batches of 32, and
    report how source-diverse the batches came out (min/avg/max
    distinct sources per batch) — the check that batch construction
    didn't accidentally serialize one source. Exact-parity tier: the
    global row_number is the same declared swap as q68 (hash-range
    partitioned assignment at scale)."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    key = F.md5(F.concat(F.lit("b0"), F.col("doc_id").cast("string")))
    w = Window.orderBy(key.asc(), F.col("doc_id").asc())
    batched = d.select(
        "source",
        F.floor(
            (F.row_number().over(w) - 1) / F.lit(float(INTERLEAVE_BATCH))
        )
        .cast("long")
        .alias("batch"),
    )
    per_batch = batched.groupBy("batch").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )
    return per_batch.agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.min("n_sources").alias("min_sources"),
        r6(F.avg("n_sources")).alias("avg_sources"),
        F.max("n_sources").alias("max_sources"),
    )


def g03_degree_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree profile of the directed transition graph plus
    reciprocity (does the reverse edge exist?): out-degree, in-degree,
    and how many outgoing edges are reciprocated — the structural
    census read before interpreting g01's ranks. Self-loops excluded
    (as in g02). All joins run on the O(|types|^2) aggregated edge
    table."""
    e = (
        _pagerank_edges(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_deg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = (
        e.join(rev, ["src", "dst"], "left_semi")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("reciprocated"))
    )
    return (
        out_deg.join(in_deg, "node", "full_outer")
        .join(recip, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("reciprocated", F.lit(0)).alias("reciprocated"),
        )
    )


SLA_GAP_S = 7200  # observations further apart than this count as downtime


def ts18_uptime_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uptime/SLA percentage per series: fraction of the observed span
    NOT spent inside gaps longer than the 2h threshold — ts09's gap
    list folded into the one number an SLA dashboard shows. One lead
    window + one aggregate on the series key; exact integer microsecond
    arithmetic until the final rounded percentage."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ev = _events(spark, sf_dir).select("event_type", "ts", "event_id")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gap_us = F.expr(
        "CAST(timestampdiff(MICROSECOND, ts, lead(ts) OVER ("
        "PARTITION BY event_type ORDER BY ts, event_id)) AS BIGINT)"
    )
    staged = ev.select("event_type", "ts", gap_us.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    thresh = SLA_GAP_S * 1_000_000
    return staged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.sum("gap_us").alias("span_us"),
        F.count(F.when(F.col("gap_us") > thresh, 1)).alias("n_gaps"),
        F.sum(
            F.when(F.col("gap_us") > thresh, F.col("gap_us")).otherwise(
                F.lit(0)
            )
        ).alias("down_us"),
    ).select(
        "event_type",
        "n_intervals",
        "n_gaps",
        r6(
            (F.col("span_us") - F.col("down_us"))
            / F.col("span_us").cast("double")
            * F.lit(100.0)
        ).alias("uptime_pct"),
    )


def q78_discount_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecasting revenue change): one conjunctive
    filter + one global sum — ships as a pure scan-side query (every
    predicate reaches PushedFilters; the aggregate is a single partial
    state). The canonical 'how fast is your scan' probe."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            r6(F.sum(F.col("l_extendedprice") * F.col("l_discount"))).alias(
                "revenue_delta"
            ),
        )
    )


def q79_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit) adapted to this schema
    (no partsupp, so profit = discounted revenue): red-part profit per
    supplier nation per order year, through lineitem-part-supplier-
    nation-orders. Part filter applied BEFORE its broadcast; one
    fact-side shuffle per key join; final aggregate 25 x |years|."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("nation", "o_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            r6(
                F.sum(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                )
            ).alias("profit"),
        )
    )


def q80_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): supplier revenue over one
    quarter, returning every supplier tied at the maximum (the WITH
    ties semantics Q15's view+subquery encodes). Revenue aggregate on
    the supplier key; the max arrives via a broadcast 1-row aggregate
    instead of a correlated subquery rescan."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("date"))
    )
    rev = li.groupBy("l_suppkey").agg(
        r6(
            F.sum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            )
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q81_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, OR-of-ANDs): three
    brand-specific quantity bands unioned by a disjunctive predicate
    evaluated INSIDE one join — the optimizer-stress query whose naive
    plan turns into three scans. Here it stays one lineitem-part join
    (part broadcast) with the disjunction as the join's residual
    condition, plus one global aggregate."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#1") & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(cond)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            r6(
                F.sum(
                    F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount"))
                )
            ).alias("revenue"),
        )
    )


def v13_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic per event type between
    the A/B halves (v09's companion: v09 compares MEANS, KS compares
    the whole distribution). ECDFs as RANGE-frame running counts over
    the value ordering — the RANGE frame (not ROWS) makes tied values
    contribute all their mass before the sup-difference is taken, so no
    tie-ordering ambiguity exists between engines. Exact-parity tier:
    one value-ordered window per type; at 100 TB the declared swap is
    a binned ECDF (fixed-width histogram then running sum over the
    bin table). Flagged at the 95% two-sample critical value."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ev = _events(spark, sf_dir).select(
        "event_type",
        (F.col("event_id") % 2).alias("grp"),
        "value",
    )
    totals = ev.groupBy("event_type").agg(
        F.count(F.when(F.col("grp") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("grp") == 1, 1)).alias("n_b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = ev.select(
        "event_type",
        F.count(F.when(F.col("grp") == 0, 1)).over(w).alias("cum_a"),
        F.count(F.when(F.col("grp") == 1, 1)).over(w).alias("cum_b"),
    )
    diffs = staged.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "n_a",
        "n_b",
        F.abs(
            F.col("cum_a") / F.col("n_a").cast("double")
            - F.col("cum_b") / F.col("n_b").cast("double")
        ).alias("d"),
    )
    crit = F.lit(1.36) * F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double")
        / (F.col("n_a") * F.col("n_b")).cast("double")
    )
    return (
        diffs.groupBy("event_type", "n_a", "n_b")
        .agg(F.max("d").alias("_ks"))
        .select(
            "event_type",
            "n_a",
            "n_b",
            r6(F.col("_ks")).alias("ks_stat"),
            (F.col("_ks") > crit).alias("significant"),
        )
    )


def ts19_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily value per series — the
    running-peak-to-trough risk metric (finance's max drawdown, an
    ops dashboard's worst cumulative regression). Daily sums are
    6dp-floored, then BOTH running aggregates (cumulative sum, running
    max) evaluate in day order on identical doubles, so the engines
    walk the same sequence; one window pass on the post-aggregate
    daily table."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", b.alias("day"))
        .agg(r6(F.sum("value")).alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = daily.select(
        "event_type",
        "day",
        F.sum("x").over(w).alias("cum"),
    ).select(
        "event_type",
        (F.max("cum").over(w.rowsBetween(Window.unboundedPreceding, 0))
         - F.col("cum")).alias("dd"),
    )
    return staged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        r6(F.max("dd")).alias("max_drawdown"),
    )


def d19_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: for every exact-dup content
    group spanning >1 source, which (source, source) pairs share
    content and in how many groups — the provenance signal that
    exposes mirror/scraper relationships between feeds. The self-join
    runs on the DISTINCT (sha, source) table (bounded by groups x
    sources), never the doc table."""
    d = load_table(spark, sf_dir, "documents").select(
        F.sha2(F.col("text"), 256).alias("sha"), "source"
    ).distinct()
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, "sha")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_groups"))
    )


def q82_lines_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of lineitems per order (the fact table's fan-out
    histogram) — the shape statistic that sizes the orders-lineitem
    join's skew exposure and the q35-style per-order aggregations.
    Two partial-agg shuffles, the second over the tiny histogram."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    return per_order.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


def q83_above_avg_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING against a scalar subquery: customers whose order count
    exceeds the average order count per customer — the relational
    idiom where the cutoff is itself an aggregate. The scalar arrives
    by broadcast 1-row cross join (never a correlated rescan); both
    aggregates share the custkey shuffle."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    avg_n = per_cust.agg(
        (F.sum("n_orders") / F.count(F.lit(1))).alias("_avg")
    )
    return (
        per_cust.crossJoin(F.broadcast(avg_n))
        .filter(F.col("n_orders") > F.col("_avg"))
        .select("o_custkey", "n_orders")
    )


def q84_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent in a dimension hierarchy: each nation's share
    of its REGION's revenue (customer-side attribution) — the
    drill-down ratio every BI hierarchy renders. The share window runs
    on the 25-row nation aggregate partitioned by region; the heavy
    work is one orders-customer join with both dims broadcast."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    dims = n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).select(
        "n_nationkey",
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
    )
    per_nation = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(dims), c["c_nationkey"] == dims["n_nationkey"])
        .groupBy("region", "nation")
        .agg(r6(F.sum("o_totalprice")).alias("revenue"))
    )
    w = Window.partitionBy("region")
    return per_nation.select(
        "region",
        "nation",
        "revenue",
        r6(F.col("revenue") / r6(F.sum("revenue").over(w))).alias(
            "pct_of_region"
        ),
    )


#: j13's irregular value-band dimension: (band, lo, hi) half-open.
J13_BANDS = (
    ("tiny", 0.0, 10.0),
    ("small", 10.0, 50.0),
    ("medium", 50.0, 200.0),
    ("large", 200.0, 1000.0),
    ("huge", 1000.0, 1e18),
)


def j13_range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi join against an IRREGULAR band dimension (lo <= v < hi)
    — the generic binning join q29's fixed-width arithmetic can't
    express. The 5-row dim is built JVM-side and broadcast, so the
    plan is a BroadcastNestedLoopJoin that's really a map-side band
    lookup; at huge band counts the swap is a sorted-boundary
    binary-search expression (Bucketizer shape). Exhaustive +
    disjoint bands, so the aggregate conserves the row count
    (tested)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(n).alias("band"),
                F.lit(lo).alias("lo"),
                F.lit(hi).alias("hi"),
            )
            for n, lo, hi in J13_BANDS
        ]
    )
    dim = (
        spark.range(1)
        .select(F.explode(bands).alias("b"))
        .select("b.band", "b.lo", "b.hi")
    )
    ev = _events(spark, sf_dir).select("value")
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        ev.join(
            F.broadcast(dim),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r6(F.avg("value")).alias("mean_value"),
        )
    )


def v14_ordering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-ordering audit: walking events in event_id order per
    type, how often does the timestamp go BACKWARDS (out-of-order
    ingestion) and by how much at worst — the check that decides
    whether downstream as-of joins need a reorder pass or can trust
    arrival order. One lag window on the (type, event_id) ordering."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    w = Window.partitionBy("event_type").orderBy("event_id")
    ev = _events(spark, sf_dir).select("event_type", "event_id", "ts")
    staged = ev.withColumn("_prev_ts", F.lag("ts").over(w)).filter(
        F.col("_prev_ts").isNotNull()
    )
    back_us = F.expr(
        "CAST(timestampdiff(MICROSECOND, ts, _prev_ts) AS BIGINT)"
    )
    return staged.select(
        "event_type", back_us.alias("back_us")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.count(F.when(F.col("back_us") > 0, 1)).alias("n_inversions"),
        r6(
            F.count(F.when(F.col("back_us") > 0, 1))
            / F.count(F.lit(1)).cast("double")
        ).alias("inversion_frac"),
        F.max(F.greatest(F.col("back_us"), F.lit(0))).alias(
            "worst_backstep_us"
        ),
    )


CHURN_CUTOFF = "2000-01-01"


def q85_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn census: customers with orders BEFORE the cutoff and none
    after — EXISTS and NOT EXISTS combined on one pass over orders
    (conditional counts per customer, no separate semi/anti joins),
    then one summary row beside the still-active and new-only
    cohorts. The single-aggregate form is the 100 TB shape: two
    boolean flags per customer instead of two join passes."""
    cutoff = F.lit(CHURN_CUTOFF).cast("date")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_orderdate") < cutoff).alias("before"),
    )
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.when(F.col("before"), 1).otherwise(0)).alias("has_before"),
        F.max(F.when(~F.col("before"), 1).otherwise(0)).alias("has_after"),
    )
    return per_cust.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count(
            F.when((F.col("has_before") == 1) & (F.col("has_after") == 0), 1)
        ).alias("n_churned"),
        F.count(
            F.when((F.col("has_before") == 1) & (F.col("has_after") == 1), 1)
        ).alias("n_retained"),
        F.count(
            F.when((F.col("has_before") == 0) & (F.col("has_after") == 1), 1)
        ).alias("n_new_only"),
    )


def q86_interpurchase_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval stats: days between a customer's
    consecutive orders (lag window on the customer's order sequence),
    rolled up to mean/min/max interval and repeat-customer count —
    the retention cadence metric behind q61's recency score. The lag
    runs per customer (bounded partitions), then one global
    aggregate."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = (
        o.withColumn("_prev", F.lag("o_orderdate").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            "o_custkey",
            F.expr(
                "CAST(timestampdiff(DAY, _prev, o_orderdate) AS BIGINT)"
            ).alias("gap_days"),
        )
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.countDistinct("o_custkey").alias("n_repeat_customers"),
        r6(F.avg("gap_days")).alias("avg_gap_days"),
        F.min("gap_days").alias("min_gap_days"),
        F.max("gap_days").alias("max_gap_days"),
    )


def v15_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test on the market-segment x
    order-status contingency table: observed counts, expected counts
    under independence (row_total * col_total / n), and the chi-square
    statistic with degrees of freedom — the categorical association
    audit beside v09's means and v13's distributions. One joined
    aggregate builds the table; the margins come from windows over the
    TINY contingency table (|segments| x |statuses| rows)."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    cells = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    w_row = Window.partitionBy("c_mktsegment")
    w_col = Window.partitionBy("o_orderstatus")
    w_all = Window.partitionBy()
    staged = cells.select(
        "c_mktsegment",
        "o_orderstatus",
        "observed",
        (
            F.sum("observed").over(w_row)
            * F.sum("observed").over(w_col)
            / F.sum("observed").over(w_all).cast("double")
        ).alias("_exp"),
        F.count(F.lit(1)).over(w_row).alias("_ncols"),
        F.count(F.lit(1)).over(w_col).alias("_nrows"),
    )
    contrib = (
        (F.col("observed") - F.col("_exp"))
        * (F.col("observed") - F.col("_exp"))
        / F.col("_exp")
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_cells"),
        r6(F.sum(contrib)).alias("chi2"),
        (
            (F.max("_nrows") - F.lit(1)) * (F.max("_ncols") - F.lit(1))
        ).cast("long").alias("dof"),
    )


RANK_YEAR_A, RANK_YEAR_B = 1996, 1999


def q87_rank_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard movement: nations ranked by customer-side revenue in
    1996 vs 1999 with the rank delta — the period-over-period
    standings view (who rose, who fell). Both rank windows run on the
    25-row nation aggregate; one fact pass computes both years via
    conditional sums (no second scan)."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        F.year("o_orderdate").alias("yr"),
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    per_nation = (
        o.filter(F.col("yr").isin(RANK_YEAR_A, RANK_YEAR_B))
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("nation")
        .agg(
            r6(
                F.sum(
                    F.when(F.col("yr") == RANK_YEAR_A, F.col("o_totalprice"))
                )
            ).alias("rev_a"),
            r6(
                F.sum(
                    F.when(F.col("yr") == RANK_YEAR_B, F.col("o_totalprice"))
                )
            ).alias("rev_b"),
        )
    )
    wa = Window.orderBy(F.desc("rev_a"), F.asc("nation"))
    wb = Window.orderBy(F.desc("rev_b"), F.asc("nation"))
    return per_nation.select(
        "nation",
        "rev_a",
        "rev_b",
        F.rank().over(wa).alias("rank_a"),
        F.rank().over(wb).alias("rank_b"),
    ).select(
        "*",
        (F.col("rank_a") - F.col("rank_b")).alias("rank_delta"),
    )


def ts20_peak_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak activity hour per series: the hour-of-day with the highest
    mean value (plus that mean and its event count) — the staffing/
    capacity readout of q67's weekly grid collapsed to its argmax.
    One 24x|types| aggregate, then a rank window on that tiny table;
    ties break to the earlier hour."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    hourly = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.hour("ts").alias("hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            r6(F.avg("value")).alias("mean_value"),
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("mean_value"), F.asc("hour")
    )
    return (
        hourly.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("event_type", "hour", "n_events", "mean_value")
    )


def ts21_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength per series: 1 - var(residual)/var(detrended)
    over ts15's decomposition (Hyndman's F_s statistic) — the single
    number that says whether the weekly pattern is signal or noise,
    beside ts16's lag-7 ACF. One aggregate over the decomposition's
    output; variances 6dp-floored before the ratio."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    dec = ts15_seasonal_decompose(spark, sf_dir).select(
        "event_type",
        (F.col("x") - F.col("trend")).alias("det"),
        "residual",
    )
    agg = dec.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        r6(F.var_samp("det")).alias("_vd"),
        r6(F.var_samp("residual")).alias("_vr"),
    )
    return agg.select(
        "event_type",
        "n_days",
        r6(
            F.greatest(
                F.lit(0.0), F.lit(1.0) - F.col("_vr") / F.col("_vd")
            )
        ).alias("strength"),
    )


def v16_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily VOLUME anomaly census per series: days whose event count
    exceeds mean + 3*sd of that series' daily counts — the ingest-
    volume monitor (ts04 watches values, ts13 watches means; this
    watches row counts, the first thing that breaks when an upstream
    feed double-publishes). Two aggregates over the tiny daily-count
    table; mean/sd 6dp-floored before the threshold compare."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", b.alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        r6(F.avg("n")).alias("mean_n"),
        r6(F.stddev_samp("n")).alias("sd_n"),
    )
    flagged = daily.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "n",
        "mean_n",
        "sd_n",
        (
            F.col("n")
            > F.col("mean_n") + F.lit(3.0) * F.col("sd_n")
        ).alias("is_spike"),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.count(F.when(F.col("is_spike"), 1)).alias("n_spike_days"),
        F.max("n").alias("max_daily_count"),
        r6(F.max("mean_n") + F.lit(3.0) * F.max("sd_n")).alias(
            "threshold"
        ),
    )


TOPK_OVERLAP_K = 100


def q88_topk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard stability: Jaccard overlap between the top-100
    customers by revenue in 1996 vs 1999 — q87's rank deltas reduced
    to one churn number (1 = same elite set, 0 = full turnover). One
    fact pass computes both years' per-customer revenue; the two rank
    windows and the set intersection run on the customer aggregate."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        F.year("o_orderdate").alias("yr"),
    )
    per_cust = (
        o.filter(F.col("yr").isin(RANK_YEAR_A, RANK_YEAR_B))
        .groupBy("o_custkey")
        .agg(
            r6(
                F.sum(
                    F.when(F.col("yr") == RANK_YEAR_A, F.col("o_totalprice"))
                )
            ).alias("rev_a"),
            r6(
                F.sum(
                    F.when(F.col("yr") == RANK_YEAR_B, F.col("o_totalprice"))
                )
            ).alias("rev_b"),
        )
    )
    wa = Window.orderBy(
        F.desc_nulls_last("rev_a"), F.asc("o_custkey")
    )
    wb = Window.orderBy(
        F.desc_nulls_last("rev_b"), F.asc("o_custkey")
    )
    ranked = per_cust.select(
        "o_custkey",
        (F.row_number().over(wa) <= TOPK_OVERLAP_K).alias("in_a"),
        (F.row_number().over(wb) <= TOPK_OVERLAP_K).alias("in_b"),
    )
    return ranked.agg(
        F.count(F.when(F.col("in_a"), 1)).alias("n_top_a"),
        F.count(F.when(F.col("in_b"), 1)).alias("n_top_b"),
        F.count(F.when(F.col("in_a") & F.col("in_b"), 1)).alias("n_both"),
    ).select(
        "n_top_a",
        "n_top_b",
        "n_both",
        r6(
            F.col("n_both")
            / (
                F.col("n_top_a") + F.col("n_top_b") - F.col("n_both")
            ).cast("double")
        ).alias("jaccard"),
    )


#: v17 inventory: table -> primary-key column.
V17_TABLES = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def v17_table_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse inventory: row count, distinct primary-key count, and
    a pk-unique flag for every keyed table in one report — the first
    sanity sweep on a fresh environment (and the census the other
    v-entries assume). One scan per table; the union is plan-level."""
    out = None
    for tbl, pk in V17_TABLES.items():
        df = load_table(spark, sf_dir, tbl)
        agg = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(pk).alias("n_distinct_pk"),
        ).select(
            F.lit(tbl).alias("tbl"),
            "n_rows",
            "n_distinct_pk",
            (F.col("n_rows") == F.col("n_distinct_pk")).alias("pk_unique"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out


def ts22_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS trend: slope/intercept/R^2 of daily means against
    the day index, from closed-form power sums — the regression
    primitive (is the series drifting, and how fast) computed without
    any ML library. Day index is the ROW NUMBER of the day within the
    series (integer, engine-identical); all sums 6dp-floored before
    the closed-form arithmetic (ts16 discipline)."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", b.alias("day"))
        .agg(r6(F.avg("value")).alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    pts = daily.select(
        "event_type",
        (F.row_number().over(w) - 1).cast("double").alias("x"),
        "y",
    )
    sums = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.sum("x")).alias("sx"),
        r6(F.sum("y")).alias("sy"),
        r6(F.sum(F.col("x") * F.col("y"))).alias("sxy"),
        r6(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        r6(F.sum(F.col("y") * F.col("y"))).alias("syy"),
    )
    nn = F.col("n").cast("double")
    cov = nn * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = nn * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nn * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov / vx
    intercept = (F.col("sy") - slope * F.col("sx")) / nn
    r2 = (cov * cov) / (vx * vy)
    return sums.select(
        "event_type",
        F.col("n").alias("n_days"),
        r6(slope).alias("slope_per_day"),
        r6(intercept).alias("intercept"),
        r6(r2).alias("r_squared"),
    )


def q89_moment_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment battery per event type: mean, sample variance,
    skewness and excess kurtosis from one pass of 6dp-pinned power
    sums (s1..s4) — never engine skewness()/kurtosis(), whose
    accumulation orders differ across engines. The distribution-shape
    profile q04's mean/min/max can't see."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    v = F.col("value")
    sums = (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.sum(v)).alias("s1"),
            r6(F.sum(v * v)).alias("s2"),
            r6(F.sum(v * v * v) / F.lit(1e6)).alias("s3m"),
            r6(F.sum(v * v * v * v) / F.lit(1e9)).alias("s4g"),
        )
    )
    nn = F.col("n").cast("double")
    mean = F.col("s1") / nn
    # central moments from raw power sums (s3/s4 pre-scaled to keep the
    # 6dp floor meaningful at their magnitude)
    m2 = F.col("s2") / nn - mean * mean
    m3 = (
        F.col("s3m") * F.lit(1e6) / nn
        - F.lit(3.0) * mean * (F.col("s2") / nn)
        + F.lit(2.0) * mean * mean * mean
    )
    m4 = (
        F.col("s4g") * F.lit(1e9) / nn
        - F.lit(4.0) * mean * (F.col("s3m") * F.lit(1e6) / nn)
        + F.lit(6.0) * mean * mean * (F.col("s2") / nn)
        - F.lit(3.0) * mean * mean * mean * mean
    )
    skew = m3 / (F.sqrt(m2) * F.sqrt(m2) * F.sqrt(m2))
    kurt = m4 / (m2 * m2) - F.lit(3.0)
    return sums.select(
        "event_type",
        F.col("n").alias("n_rows"),
        r6(mean).alias("mean"),
        r6(m2 * nn / (nn - F.lit(1.0))).alias("var_samp"),
        r6(skew).alias("skewness"),
        r6(kurt).alias("excess_kurtosis"),
    )


def q90_mean_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pythagorean means per event type over positive values:
    arithmetic, geometric (exp of the mean log — the rate-averaging
    mean) and harmonic (the ratio-averaging mean), plus the AM>=GM>=HM
    ordering as data. One pass of three 6dp-pinned aggregates; ln/exp
    agree across engines at far better than the 6dp floor (t16's LN
    precedent)."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    v = F.col("value")
    pos = _events(spark, sf_dir).filter(v > 0).select("event_type", "value")
    sums = pos.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.avg(v)).alias("am"),
        r6(F.avg(F.log(v))).alias("_mlog"),
        r6(F.sum(F.lit(1.0) / v)).alias("_sinv"),
    )
    return sums.select(
        "event_type",
        F.col("n").alias("n_pos"),
        F.col("am").alias("arithmetic_mean"),
        r6(F.exp(F.col("_mlog"))).alias("geometric_mean"),
        r6(F.col("n").cast("double") / F.col("_sinv")).alias(
            "harmonic_mean"
        ),
    )


CDF_POINTS = (50.0, 100.0, 500.0)


def q91_cdf_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse percentile (CDF point query): for reference values 50 /
    100 / 500, the fraction of each event type's distribution at or
    below them — the dual of q09's percentile lookup ('what percentile
    IS this SLA threshold'). All three points come from ONE
    conditional aggregate per type; no sort, no window."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ev = _events(spark, sf_dir).select("event_type", "value")
    aggs = [F.count(F.lit(1)).alias("n")]
    for i, p in enumerate(CDF_POINTS):
        aggs.append(
            F.count(F.when(F.col("value") <= F.lit(p), 1)).alias(f"_c{i}")
        )
    wide = ev.groupBy("event_type").agg(*aggs)
    stack = ", ".join(
        f"CAST({p} AS DOUBLE), _c{i}" for i, p in enumerate(CDF_POINTS)
    )
    return wide.select(
        "event_type",
        F.expr(
            f"stack({len(CDF_POINTS)}, {stack}) AS (ref_value, n_at_or_below)"
        ),
        "n",
    ).select(
        "event_type",
        "ref_value",
        F.col("n_at_or_below").cast("long").alias("n_at_or_below"),
        r6(
            F.col("n_at_or_below") / F.col("n").cast("double")
        ).alias("cdf"),
    )


def ts23_daily_intensity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily engagement intensity: events per active user per day —
    the normalization that separates 'more users' from 'users doing
    more' (the DAU-normalized activity metric). One daily aggregate
    computing both count and distinct users, then the ratio."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    return (
        _events(spark, sf_dir)
        .groupBy(b.alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            "day",
            "n_events",
            "n_users",
            r6(
                F.col("n_events") / F.col("n_users").cast("double")
            ).alias("events_per_user"),
        )
    )


#: v18's categorical columns: (table, column) pairs to profile.
V18_COLUMNS = (
    ("events", "event_type"),
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("customer", "c_mktsegment"),
)


def v18_categorical_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-column entropy census: Shannon entropy and its
    normalized form (H / ln k) for the key enum columns across tables
    — near 1 means uniform usage, near 0 means one dominant value
    (the profiling signal behind partition-key and dictionary-encoding
    choices). One groupBy per column on tiny value domains; union is
    plan-level."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    out = None
    for tbl, col in V18_COLUMNS:
        counts = (
            load_table(spark, sf_dir, tbl)
            .groupBy(F.col(col).alias("v"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        tot = counts.agg(
            F.sum("n").alias("_t"), F.count(F.lit(1)).alias("_k")
        )
        ent = (
            counts.crossJoin(F.broadcast(tot))
            .select(
                (
                    (F.col("n") / F.col("_t").cast("double"))
                    * F.log(F.col("n") / F.col("_t").cast("double"))
                ).alias("term"),
                "_k",
            )
            .groupBy("_k")
            .agg(r6(-F.sum("term")).alias("entropy"))
        )
        row = ent.select(
            F.lit(f"{tbl}.{col}").alias("column_name"),
            F.col("_k").alias("n_values"),
            "entropy",
            F.when(
                F.col("_k") > 1,
                r6(
                    F.col("entropy")
                    / F.log(F.col("_k").cast("double"))
                ),
            ).alias("normalized_entropy"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def ts24_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change with WEEKDAY ALIGNMENT: each day's total
    compared to the same weekday last week (lag 7 on the daily
    series), which q66's calendar-month compare can't give — the
    seasonality-safe growth readout. One daily aggregate + one lag
    window per series key; emits rows only where the aligned prior
    day exists."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", b.alias("day"))
        .agg(r6(F.sum("value")).alias("total"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    prev = F.lag("total", 7).over(w)
    return (
        daily.withColumn("prev_week", prev)
        .filter(F.col("prev_week").isNotNull())
        .select(
            "event_type",
            "day",
            "total",
            "prev_week",
            F.when(
                F.col("prev_week") != 0,
                r6(
                    (F.col("total") - F.col("prev_week"))
                    / F.col("prev_week")
                ),
            ).alias("wow_change"),
        )
    )


def q92_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend — the inequality number
    behind q65's decile table and q68's top-share (0 = everyone equal,
    1 = one customer is the market). Computed from the rank-weighted
    formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over spend sorted
    ascending; the rank window runs on the CUSTOMER aggregate with
    per-customer spends 6dp-floored first so both engines rank the
    identical sequence."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(r6(F.sum("o_totalprice")).alias("x"))
    )
    w = Window.orderBy(F.asc("x"), F.asc("o_custkey"))
    ranked = spend.select(
        "x", F.row_number().over(w).cast("double").alias("i")
    )
    sums = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        r6(F.sum("x") / F.lit(1e3)).alias("sx_k"),
        r6(F.sum(F.col("i") * F.col("x")) / F.lit(1e6)).alias("six_m"),
    )
    nn = F.col("n").cast("double")
    gini = (
        F.lit(2.0)
        * (F.col("six_m") * F.lit(1e6))
        / (nn * (F.col("sx_k") * F.lit(1e3)))
        - (nn + F.lit(1.0)) / nn
    )
    return sums.select(
        F.col("n").alias("n_customers"),
        r6(gini).alias("gini"),
    )


def q93_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, revenue accumulated by months-since-cohort — q51's
    retention matrix upgraded from "did they come back" to "what are
    they worth over time". One customer-keyed first-month aggregate
    joined back onto orders (both shuffles on custkey), a (cohort,
    age) rollup, then the cumulative window over each cohort's tiny
    age axis."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "order_month"
        ),
    )
    cohort = o.groupBy("o_custkey").agg(
        F.min("order_month").alias("cohort_month")
    )
    aged = o.join(cohort, "o_custkey").select(
        "cohort_month",
        F.months_between(
            F.col("order_month"), F.col("cohort_month")
        ).cast("int").alias("age_months"),
        "o_totalprice",
    )
    per = aged.groupBy("cohort_month", "age_months").agg(
        F.count(F.lit(1)).alias("n_orders"),
        r6(F.sum("o_totalprice")).alias("revenue"),
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per.select(
        "cohort_month",
        "age_months",
        "n_orders",
        "revenue",
        r6(F.sum("revenue").over(w)).alias("cum_revenue"),
    )


SKEW_BUCKETS = 32


def q94_shuffle_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key balance audit: row counts per user_id modulo-32
    bucket with the max/mean skew factor — the preview of how evenly a
    32-partition shuffle keyed on user_id would load its tasks (j07's
    salting exists because this number can be >> 1). Modulo, not
    Spark's murmur hash, so the oracle replays it exactly; the audit
    is one partial-agg scan + a 32-row rollup."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    buckets = (
        _events(spark, sf_dir)
        .groupBy((F.col("user_id") % SKEW_BUCKETS).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    stats = buckets.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("n_rows").alias("total_rows"),
        F.max("n_rows").alias("max_bucket"),
        F.min("n_rows").alias("min_bucket"),
    )
    return stats.select(
        "n_buckets",
        "total_rows",
        "max_bucket",
        "min_bucket",
        r6(
            F.col("max_bucket")
            / (
                F.col("total_rows").cast("double")
                / F.col("n_buckets").cast("double")
            )
        ).alias("skew_factor"),
    )


NESTED_TOP_NATIONS = 5
NESTED_TOP_BRANDS = 3


def q95_nested_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested top-N: the top-3 part brands INSIDE each of the top-5
    customer nations by revenue — the drill-down every BI tool renders
    as a grouped bar chart, expressed as two rank windows over the
    (nation, brand) aggregate (the outer rank on its nation rollup,
    the inner partitioned by nation). The fact pass happens once; both
    ranks run on aggregates."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias(
            "rev"
        ),
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cell = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("nation", "p_brand")
        .agg(r6(F.sum("rev")).alias("revenue"))
    )
    nat = cell.groupBy("nation").agg(
        r6(F.sum("revenue")).alias("nation_revenue")
    )
    wn = Window.orderBy(F.desc("nation_revenue"), F.asc("nation"))
    top_nat = nat.withColumn("nation_rank", F.row_number().over(wn)).filter(
        F.col("nation_rank") <= NESTED_TOP_NATIONS
    )
    wb = Window.partitionBy("nation").orderBy(
        F.desc("revenue"), F.asc("p_brand")
    )
    return (
        cell.join(F.broadcast(top_nat), "nation")
        .withColumn("brand_rank", F.row_number().over(wb))
        .filter(F.col("brand_rank") <= NESTED_TOP_BRANDS)
        .select(
            "nation",
            "nation_rank",
            "nation_revenue",
            "p_brand",
            "brand_rank",
            "revenue",
        )
    )


# --- DuckDB oracle SQL -----------------------------------------------------

_ORACLES: dict[str, str] = {
    "q01_top10_by_value": """
        SELECT event_id, event_type, value
        FROM events ORDER BY value DESC, event_id ASC LIMIT 10
    """,
    "q02_prefix_classify": f"""
        SELECT event_id, event_type, {_CLASS_CASE_SQL} AS event_class
        FROM events
    """,
    "q03_class_breakdown": f"""
        SELECT {_CLASS_CASE_SQL} AS event_class,
               COUNT(*) AS cnt,
               ROUND(AVG(value), 6) AS avg_value,
               MAX(value) AS max_value
        FROM events GROUP BY 1 ORDER BY cnt DESC, event_class ASC
    """,
    "q04_global_stats": """
        SELECT COUNT(*) AS total_rows,
               ROUND(AVG(value), 6) AS avg_value,
               MAX(value) AS max_value,
               MIN(value) AS min_value
        FROM events
    """,
    "q05_status_counts": """
        SELECT COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
               COUNT(*) FILTER (WHERE event_type = 'view') AS n_view,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
        FROM events
    """,
    "q06_share_pct": """
        SELECT ROUND(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 6) AS pct_click,
               ROUND(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 6) AS pct_view,
               ROUND(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 100.0 / COUNT(*), 6) AS pct_purchase
        FROM events
    """,
    "q07_orderstatus_counts": """
        SELECT COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        FROM orders
    """,
    "q08_threshold_split": f"""
        SELECT COUNT(*) FILTER (WHERE value > {SPLIT_THRESHOLD}) AS n_above,
               COUNT(*) FILTER (WHERE value <= {SPLIT_THRESHOLD}) AS n_below,
               ROUND(COUNT(*) FILTER (WHERE value > {SPLIT_THRESHOLD}) * 100.0 / COUNT(*), 6) AS pct_above
        FROM events
    """,
    # Q9: same integer-division OFFSET arithmetic as reference
    # pipeline/queries.go:141-149, DuckDB // is integer division on BIGINT.
    "q09_percentiles_exact": """
        WITH m AS (SELECT value FROM events WHERE value > 0),
             n AS (SELECT COUNT(*) AS n FROM m)
        (SELECT 'p50' AS pct, value FROM m ORDER BY value LIMIT 1 OFFSET (SELECT n // 2 FROM n))
        UNION ALL
        (SELECT 'p90' AS pct, value FROM m ORDER BY value LIMIT 1 OFFSET (SELECT (n * 9) // 10 FROM n))
        UNION ALL
        (SELECT 'p95' AS pct, value FROM m ORDER BY value LIMIT 1 OFFSET (SELECT (n * 95) // 100 FROM n))
    """,
    # q09a composed oracle (d13 pattern): exact n + rank tolerance from
    # the sketch contract; in_bounds is asserted TRUE — a sketch drift
    # past rank error n/accuracy flips the Spark-side flag and breaks
    # the hash. The estimate itself is engine-specific and not emitted.
    "q09a_percentiles_approx": f"""
        WITH m AS (SELECT value FROM events WHERE value > 0),
             n AS (SELECT COUNT(*) AS n FROM m)
        SELECT t.pct,
               CAST(n.n AS BIGINT) AS n,
               CAST(CEIL(n.n / {Q09A_ACCURACY}.0) + 1 AS BIGINT) AS rank_tol,
               TRUE AS in_bounds
        FROM n, (VALUES {", ".join(f"('{lbl}')" for lbl in Q09A_LABELS)}) t(pct)
    """,
    "q10_between_filter": f"""
        SELECT p_partkey, p_name, p_size
        FROM part
        WHERE p_size BETWEEN {BETWEEN_TARGET - BETWEEN_DELTA} AND {BETWEEN_TARGET + BETWEEN_DELTA}
    """,
    # Q11: fmod(value,360) ∈ (0,360); bucket arms mirror reference
    # queries.go:250-273 incl. North wrap + 360 fallback.
    "q11_cardinal_histogram": """
        WITH b AS (SELECT fmod(value, 360.0) AS bearing FROM events),
        d AS (
          SELECT CASE
            WHEN bearing >= 337.5 OR bearing < 22.5 THEN 'North'
            WHEN bearing >= 22.5  AND bearing < 67.5  THEN 'Northeast'
            WHEN bearing >= 67.5  AND bearing < 112.5 THEN 'East'
            WHEN bearing >= 112.5 AND bearing < 157.5 THEN 'Southeast'
            WHEN bearing >= 157.5 AND bearing < 202.5 THEN 'South'
            WHEN bearing >= 202.5 AND bearing < 247.5 THEN 'Southwest'
            WHEN bearing >= 247.5 AND bearing < 292.5 THEN 'West'
            WHEN bearing >= 292.5 AND bearing < 337.5 THEN 'Northwest'
            ELSE 'North' END AS direction
          FROM b
        ),
        dirs AS (
          SELECT * FROM (VALUES ('North'),('Northeast'),('East'),('Southeast'),
                                ('South'),('Southwest'),('West'),('Northwest')) t(direction)
        )
        SELECT dirs.direction AS direction, COALESCE(c.cnt, 0) AS cnt
        FROM dirs LEFT JOIN (SELECT direction, COUNT(*) AS cnt FROM d GROUP BY 1) c
          USING (direction)
        ORDER BY direction
    """,
    "q12_count": "SELECT COUNT(*) AS n FROM lineitem",
    "q13_point_lookup": f"""
        SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey = {LOOKUP_KEY}
    """,
    "q14_upsert_latest": """
        SELECT user_id, event_id, event_type, value
        FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    "ts01_locf": """
        SELECT event_id, user_id,
               last_value(CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END
                          IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS value_filled
        FROM events
    """,
    "ts02_delta_rate": """
        SELECT user_id, ts, event_id, value,
               FLOOR((value - lag(value) OVER w) * 1000000 + 0.5)
                 / 1000000.0 AS delta,
               CASE WHEN date_diff('microsecond', lag(ts) OVER w, ts) > 0
                    THEN FLOOR((value - lag(value) OVER w)
                               / (CAST(date_diff('microsecond',
                                                 lag(ts) OVER w, ts)
                                       AS DOUBLE) / 1000000.0)
                               * 1000000 + 0.5) / 1000000.0
               END AS rate_per_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "ts03_interpolate": """
        SELECT event_id, user_id,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                         AND date_diff('microsecond', prev_t, next_t) > 0
                    THEN FLOOR((prev_v + (next_v - prev_v)
                                * (CAST(date_diff('microsecond', prev_t, ts)
                                        AS DOUBLE)
                                   / CAST(date_diff('microsecond', prev_t,
                                                    next_t) AS DOUBLE)))
                               * 1000000 + 0.5) / 1000000.0
               END AS value_interp
        FROM (
          SELECT event_id, user_id, ts, v,
                 last_value(v IGNORE NULLS) OVER wp AS prev_v,
                 last_value(CASE WHEN v IS NOT NULL THEN ts END
                            IGNORE NULLS) OVER wp AS prev_t,
                 first_value(v IGNORE NULLS) OVER wn AS next_v,
                 first_value(CASE WHEN v IS NOT NULL THEN ts END
                             IGNORE NULLS) OVER wn AS next_t
          FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
            FROM events
          )
          WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING),
                 wn AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
    """,
    "ts04_rolling_zscore": """
        SELECT event_id, user_id, z,
               (z IS NOT NULL AND abs(z) > 3.0) AS is_anomaly
        FROM (
          SELECT event_id, user_id,
                 CASE WHEN sqrt(greatest(0.0, s2/n - (s1/n)*(s1/n))) > 0
                      THEN FLOOR((value - s1/n)
                                 / sqrt(greatest(0.0,
                                                 s2/n - (s1/n)*(s1/n)))
                                 * 1000000 + 0.5) / 1000000.0
                 END AS z
          FROM (
            SELECT event_id, user_id, value,
                   CAST(count(value) OVER w AS DOUBLE) AS n,
                   FLOOR(sum(value) OVER w * 1000000 + 0.5)
                     / 1000000.0 AS s1,
                   FLOOR(sum(value * value) OVER w * 1000000 + 0.5)
                     / 1000000.0 AS s2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
          )
        )
    """,
    "j07_salted_join": """
        SELECT event_id, event_type, type_total
        FROM events
        JOIN (SELECT event_type, COUNT(*) AS type_total
              FROM events GROUP BY event_type) USING (event_type)
    """,
    "q48_analytic_battery": """
        SELECT c_custkey, c_mktsegment, c_acctbal,
               dense_rank() OVER wt AS bal_dense_rank,
               FLOOR(cume_dist() OVER wt * 1000000 + 0.5) / 1000000.0
                 AS bal_cume_dist,
               nth_value(c_custkey, 2) OVER (
                 PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               ) AS segment_runnerup,
               lead(c_custkey, 1, -1) OVER w AS next_poorer_key
        FROM customer
        WINDOW wt AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC),
               w AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
    "ts05_bucket_gapfill": """
        WITH agg AS (
          SELECT user_id, date_trunc('hour', ts) AS bucket,
                 COUNT(*) AS n_events,
                 FLOOR(SUM(value) * 1000000 + 0.5) / 1000000.0 AS sum_value
          FROM events GROUP BY user_id, date_trunc('hour', ts)
        ),
        spine AS (
          SELECT user_id, unnest(generate_series(lo, hi,
                                                 INTERVAL 1 HOUR)) AS bucket
          FROM (SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi
                FROM agg GROUP BY user_id)
        )
        SELECT s.user_id, s.bucket,
               COALESCE(a.n_events, 0) AS n_events,
               a.sum_value,
               last_value(a.sum_value IGNORE NULLS) OVER (
                 PARTITION BY s.user_id ORDER BY s.bucket
                 ROWS UNBOUNDED PRECEDING) AS sum_filled
        FROM spine s LEFT JOIN agg a USING (user_id, bucket)
    """,
    "ts06_ewma": """
        WITH RECURSIVE ev AS (
          SELECT user_id, ts, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events
        ),
        r AS (
          SELECT user_id, event_id, value, rn, value AS s
          FROM ev WHERE rn = 1
          UNION ALL
          SELECT ev.user_id, ev.event_id, ev.value, ev.rn,
                 0.7 * r.s + 0.3 * ev.value
          FROM r JOIN ev ON ev.user_id = r.user_id AND ev.rn = r.rn + 1
        )
        SELECT event_id, user_id, value,
               FLOOR(s * 1000000 + 0.5) / 1000000.0 AS ewma
        FROM r
    """,
    "j08_interval_overlap": """
        WITH clicks AS (
          SELECT user_id, event_id AS a_id, ts AS a_start,
                 ts + INTERVAL 5 MINUTE AS a_end
          FROM events WHERE event_type = 'click'
        ),
        purchases AS (
          SELECT user_id, event_id AS b_id, ts AS b_start,
                 ts + INTERVAL 2 MINUTE AS b_end
          FROM events WHERE event_type = 'purchase'
        )
        SELECT user_id, a_id, b_id,
               CAST(date_diff('microsecond',
                              greatest(a_start, b_start),
                              least(a_end, b_end)) AS DOUBLE)
                 / 1000000.0 AS overlap_s
        FROM clicks JOIN purchases USING (user_id)
        WHERE a_start < b_end AND b_start < a_end
    """,
    "q50_bag_set_ops": """
        WITH clicks AS (SELECT user_id FROM events
                        WHERE event_type = 'click'),
        buys AS (SELECT user_id FROM events WHERE event_type = 'purchase')
        SELECT user_id, COUNT(*) AS n, 'click_surplus' AS op
        FROM (SELECT user_id FROM clicks EXCEPT ALL
              SELECT user_id FROM buys)
        GROUP BY user_id
        UNION ALL
        SELECT user_id, COUNT(*) AS n, 'matched_pairs' AS op
        FROM (SELECT user_id FROM clicks INTERSECT ALL
              SELECT user_id FROM buys)
        GROUP BY user_id
    """,
    "q53_rolling_distinct": """
        WITH ud AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('day', ts) AS TIMESTAMP) AS d FROM events
        ),
        days AS (SELECT DISTINCT d AS day FROM ud)
        SELECT day, COUNT(DISTINCT user_id) AS wau
        FROM days JOIN ud
          ON ud.d <= days.day AND ud.d >= days.day - INTERVAL 6 DAY
        GROUP BY day
    """,
    "q62_trailing_hour_window": """
        WITH s AS (
          SELECT event_id, user_id, value, epoch_us(ts) AS us
          FROM events)
        SELECT event_id, user_id, value,
               FLOOR(SUM(value) OVER w * 1e6 + 0.5) / 1e6
                 AS trailing_1h_sum,
               CAST(COUNT(*) OVER w AS BIGINT) AS trailing_1h_n
        FROM s
        WINDOW w AS (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    "j11_scd2_enrich": """
        WITH st AS (
          SELECT user_id, ts, event_id, event_type AS state
          FROM events WHERE event_type IN ('signup', 'purchase')),
        iv AS (
          SELECT user_id, state, ts AS valid_from,
                 lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
          FROM st),
        f AS (
          SELECT user_id, ts, event_id FROM events
          WHERE event_type NOT IN ('signup', 'purchase'))
        SELECT f.event_id, f.user_id, iv.state AS state_at_event
        FROM f LEFT JOIN iv
          ON f.user_id = iv.user_id
         AND f.ts >= iv.valid_from
         AND (iv.valid_to IS NULL OR f.ts < iv.valid_to)
    """,
    "q61_rfm_segments": """
        WITH g AS (SELECT MAX(o_orderdate) AS gmax FROM orders),
        per AS (
          SELECT o_custkey,
                 date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                           CAST((SELECT gmax FROM g) AS DATE))
                   AS recency_days,
                 CAST(COUNT(*) AS BIGINT) AS frequency,
                 FLOOR(SUM(o_totalprice) * 1e6 + 0.5) / 1e6 AS monetary
          FROM orders GROUP BY o_custkey),
        scored AS (
          SELECT o_custkey, recency_days, frequency, monetary,
                 NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
                   AS r_score,
                 NTILE(5) OVER (ORDER BY frequency DESC, o_custkey ASC)
                   AS f_score,
                 NTILE(5) OVER (ORDER BY monetary DESC, o_custkey ASC)
                   AS m_score
          FROM per)
        SELECT *,
               CAST(r_score AS VARCHAR) || '-' || CAST(f_score AS VARCHAR)
                 || '-' || CAST(m_score AS VARCHAR) AS segment
        FROM scored
    """,
    "v08_fd_audit": """
        WITH g1 AS (SELECT o_orderkey,
                           COUNT(DISTINCT o_orderstatus) AS nd
                    FROM orders GROUP BY o_orderkey),
        g2 AS (SELECT o_custkey, COUNT(DISTINCT o_orderpriority) AS nd
               FROM orders GROUP BY o_custkey),
        g3 AS (SELECT o_orderpriority, COUNT(DISTINCT o_orderstatus) AS nd
               FROM orders GROUP BY o_orderpriority),
        u AS (
          SELECT 'o_orderkey->o_orderstatus' AS fd,
                 CAST(COUNT(*) AS BIGINT) AS n_groups,
                 CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating
          FROM g1
          UNION ALL
          SELECT 'o_custkey->o_orderpriority',
                 CAST(COUNT(*) AS BIGINT),
                 CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
          FROM g2
          UNION ALL
          SELECT 'o_orderpriority->o_orderstatus',
                 CAST(COUNT(*) AS BIGINT),
                 CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
          FROM g3)
        SELECT fd, n_groups, n_violating,
               FLOOR(n_violating * 1.0 / n_groups * 1e6 + 0.5) / 1e6
                 AS violation_share
        FROM u
    """,
    "q60_percentile_battery": """
        WITH r AS (
          SELECT event_type, value,
                 cume_dist() OVER (
                   PARTITION BY event_type ORDER BY value) AS cd
          FROM events)
        SELECT event_type,
               FLOOR(quantile_cont(value, 0.5) * 1e6 + 0.5) / 1e6
                 AS p50_cont,
               MIN(value) FILTER (WHERE cd >= 0.5) AS p50_disc,
               FLOOR(quantile_cont(value, 0.9) * 1e6 + 0.5) / 1e6
                 AS p90_cont,
               MIN(value) FILTER (WHERE cd >= 0.9) AS p90_disc
        FROM r GROUP BY event_type
    """,
    "ts12_ohlc": """
        SELECT user_id,
               CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
               first(value ORDER BY ts, event_id) AS open_value,
               MAX(value) AS high_value,
               MIN(value) AS low_value,
               last(value ORDER BY ts, event_id) AS close_value,
               CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM events
        GROUP BY user_id, date_trunc('hour', ts)
    """,
    "v07_benford": """
        WITH pos AS (
          SELECT o_totalprice AS v FROM orders WHERE o_totalprice > 0),
        d AS (
          SELECT CAST(FLOOR(v / power(10, FLOOR(log10(v)))) AS INT)
                   AS digit
          FROM pos),
        counted AS (SELECT digit, COUNT(*) AS cn FROM d GROUP BY digit),
        spine AS (SELECT CAST(range AS INT) AS digit FROM range(1, 10)),
        filled AS (
          SELECT s.digit, CAST(COALESCE(c.cn, 0) AS BIGINT) AS n
          FROM spine s LEFT JOIN counted c USING (digit)),
        tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM filled)
        SELECT digit, n,
               FLOOR(n / t * 1e6 + 0.5) / 1e6 AS obs_share,
               FLOOR(log10(1 + 1.0 / digit) * 1e6 + 0.5) / 1e6
                 AS exp_share,
               FLOOR(pow(n - log10(1 + 1.0 / digit) * t, 2)
                     / (log10(1 + 1.0 / digit) * t) * 1e6 + 0.5) / 1e6
                 AS chi2_term
        FROM filled, tot
    """,
    "q59_unpivot": """
        WITH wide AS (
          SELECT event_type,
                 FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS avg_value,
                 MIN(value) AS min_value,
                 MAX(value) AS max_value
          FROM events GROUP BY event_type)
        SELECT event_type, 'avg_value' AS metric, avg_value AS metric_value
        FROM wide
        UNION ALL
        SELECT event_type, 'min_value', min_value FROM wide
        UNION ALL
        SELECT event_type, 'max_value', max_value FROM wide
    """,
    "ts11_mase": """
        WITH hourly AS (
          SELECT user_id,
                 CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
                 FLOOR(SUM(value) * 1e6 + 0.5) / 1e6 AS y
          FROM events GROUP BY user_id, bucket
        ),
        scored AS (
          SELECT user_id, y,
                 lag(y, 24) OVER (
                   PARTITION BY user_id ORDER BY bucket) AS y_season,
                 lag(y, 1) OVER (
                   PARTITION BY user_id ORDER BY bucket) AS y_naive
          FROM hourly
        ),
        agg AS (
          SELECT user_id,
                 CAST(COUNT(*) AS BIGINT) AS n_scored,
                 FLOOR(SUM(abs(y - y_season)) * 1e6 + 0.5) / 1e6
                   AS sae_season,
                 FLOOR(SUM(abs(y - y_naive)) * 1e6 + 0.5) / 1e6
                   AS sae_naive
          FROM scored WHERE y_season IS NOT NULL
          GROUP BY user_id
        )
        SELECT user_id, n_scored,
               FLOOR(sae_season / n_scored * 1e6 + 0.5) / 1e6 AS mae_season,
               FLOOR(sae_naive / n_scored * 1e6 + 0.5) / 1e6 AS mae_naive,
               FLOOR(sae_season / NULLIF(sae_naive, 0) * 1e6 + 0.5) / 1e6
                 AS mase
        FROM agg
    """,
    "q58_activity_streaks": """
        WITH ud AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('day', ts) AS DATE) AS d
          FROM events
        ),
        anchored AS (
          SELECT user_id, d,
                 d - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY d
                     ) AS INT) AS anchor
          FROM ud
        ),
        islands AS (
          SELECT user_id, anchor,
                 MIN(d) AS start_day, MAX(d) AS end_day,
                 CAST(COUNT(*) AS BIGINT) AS streak_days
          FROM anchored GROUP BY user_id, anchor
        )
        SELECT user_id, start_day, end_day, streak_days
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY streak_days DESC, start_day ASC
                 ) AS rn
          FROM islands
        ) WHERE rn = 1
    """,
    "q57_mad_outliers": """
        WITH med AS (
          SELECT event_type,
                 percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
          FROM events GROUP BY event_type
        ),
        dev AS (
          SELECT e.event_type, med, abs(value - med) AS adev
          FROM events e JOIN med USING (event_type)
        ),
        mads AS (
          SELECT event_type, MAX(med) AS med,
                 percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad,
                 COUNT(*) AS n
          FROM dev GROUP BY event_type
        )
        SELECT d.event_type,
               FLOOR(m.med * 1e6 + 0.5) / 1e6 AS med,
               FLOOR(m.mad * 1e6 + 0.5) / 1e6 AS mad,
               CAST(m.n AS BIGINT) AS n,
               CAST(COUNT(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad
                          THEN 1 END) AS BIGINT) AS n_outliers,
               FLOOR(COUNT(CASE WHEN d.adev > 3.0 * 1.4826 * m.mad
                           THEN 1 END) * 1.0 / m.n * 1e6 + 0.5) / 1e6
                 AS outlier_frac
        FROM dev d JOIN mads m USING (event_type)
        GROUP BY d.event_type, m.med, m.mad, m.n
    """,
    "j10_scd2_intervals": """
        WITH changes AS (
          SELECT user_id, event_type AS state, ts, event_id
          FROM (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev
            FROM events
          )
          WHERE prev IS NULL OR prev <> event_type
        )
        SELECT user_id, state,
               ts AS valid_from,
               lead(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               ) AS valid_to,
               lead(ts) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
               ) IS NULL AS is_current
        FROM changes
    """,
    "q56_funnel_conversion": """
        WITH s1 AS (
          SELECT user_id, MIN(ts) AS t1 FROM events
          WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.t1
          GROUP BY e.user_id
        ),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          GROUP BY e.user_id
        ),
        n AS (
          SELECT (SELECT COUNT(*) FROM s1) AS s1n,
                 (SELECT COUNT(*) FROM s2) AS s2n,
                 (SELECT COUNT(*) FROM s3) AS s3n
        )
        SELECT CAST(s1n AS BIGINT) AS step1_users,
               CAST(s2n AS BIGINT) AS step2_users,
               CAST(s3n AS BIGINT) AS step3_users,
               FLOOR(s2n * 1.0 / NULLIF(s1n, 0) * 1e6 + 0.5) / 1e6
                 AS conv_12,
               FLOOR(s3n * 1.0 / NULLIF(s2n, 0) * 1e6 + 0.5) / 1e6
                 AS conv_23,
               FLOOR(s3n * 1.0 / NULLIF(s1n, 0) * 1e6 + 0.5) / 1e6
                 AS conv_13
        FROM n
    """,
    "v06_profile_drift": """
        WITH span AS (
          SELECT epoch_us(MIN(ts))
                 + (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 2 AS mid_us
          FROM events
        ),
        tagged AS (
          SELECT user_id, event_type, value,
                 CASE WHEN epoch_us(ts) < (SELECT mid_us FROM span)
                      THEN 'a' ELSE 'b' END AS epoch
          FROM events
        ),
        prof AS (
          SELECT epoch,
                 CAST(COUNT(*) AS DOUBLE) AS row_count,
                 CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS distinct_users,
                 FLOOR(SUM(value) * 1e6 + 0.5) / 1e6 / COUNT(*)
                   AS avg_value,
                 COUNT(*) FILTER (event_type = 'click') * 1.0 / COUNT(*)
                   AS click_share
          FROM tagged GROUP BY epoch
        ),
        longt AS (
          SELECT 'row_count' AS metric,
                 MAX(CASE WHEN epoch = 'a' THEN row_count END) AS epoch_a,
                 MAX(CASE WHEN epoch = 'b' THEN row_count END) AS epoch_b
          FROM prof
          UNION ALL
          SELECT 'distinct_users',
                 MAX(CASE WHEN epoch = 'a' THEN distinct_users END),
                 MAX(CASE WHEN epoch = 'b' THEN distinct_users END)
          FROM prof
          UNION ALL
          SELECT 'avg_value',
                 MAX(CASE WHEN epoch = 'a' THEN avg_value END),
                 MAX(CASE WHEN epoch = 'b' THEN avg_value END)
          FROM prof
          UNION ALL
          SELECT 'click_share',
                 MAX(CASE WHEN epoch = 'a' THEN click_share END),
                 MAX(CASE WHEN epoch = 'b' THEN click_share END)
          FROM prof
        )
        SELECT metric,
               FLOOR(epoch_a * 1e6 + 0.5) / 1e6 AS epoch_a,
               FLOOR(epoch_b * 1e6 + 0.5) / 1e6 AS epoch_b,
               FLOOR((epoch_b - epoch_a) / NULLIF(epoch_a, 0) * 1e6 + 0.5)
                 / 1e6 AS rel_change
        FROM longt
    """,
    "q51_retention_cohorts": """
        WITH firsts AS (
          SELECT user_id,
                 CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP)
                   AS cohort_week
          FROM events GROUP BY user_id
        ),
        weekly AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
          FROM events
        ),
        cells AS (
          SELECT cohort_week,
                 CAST(date_diff('day', cohort_week, week) / 7 AS INT)
                   AS week_offset,
                 CAST(COUNT(*) AS BIGINT) AS active_users
          FROM weekly JOIN firsts USING (user_id)
          GROUP BY 1, 2
        ),
        sizes AS (
          SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
          FROM firsts GROUP BY 1
        )
        SELECT c.cohort_week, week_offset, active_users, cohort_users,
               FLOOR(active_users * 1.0 / cohort_users * 1e6 + 0.5) / 1e6
                 AS retention
        FROM cells c JOIN sizes USING (cohort_week)
    """,
    "q54_pair_cooccurrence": """
        WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(COUNT(*) AS BIGINT) AS pair_cnt
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY pair_cnt DESC, part_a ASC, part_b ASC
        LIMIT 20
    """,
    "q55_transition_matrix": """
        WITH seq AS (
          SELECT event_type AS to_type,
                 lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                 ) AS from_type
          FROM events
        )
        SELECT from_type, to_type,
               CAST(COUNT(*) AS BIGINT) AS transitions,
               FLOOR(COUNT(*) * 1.0
                     / SUM(COUNT(*)) OVER (PARTITION BY from_type)
                     * 1e6 + 0.5) / 1e6 AS prob
        FROM seq WHERE from_type IS NOT NULL
        GROUP BY 1, 2
    """,
    "q52_topk_with_ties": """
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(rnk AS INT) AS rnk
        FROM (
          SELECT o_orderpriority, o_orderkey, o_totalprice,
                 rank() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC) AS rnk
          FROM orders
        ) WHERE rnk <= 3
    """,
    "q49_fuzzy_join": """
        WITH c AS (SELECT c_custkey, right(c_name, 9) AS c_sfx
                   FROM customer),
        s AS (SELECT s_suppkey, right(s_name, 9) AS s_sfx FROM supplier)
        SELECT c_custkey, s_suppkey,
               CAST(levenshtein(c_sfx, s_sfx) AS INT) AS edit_distance
        FROM c JOIN s ON substr(c_sfx, 1, 7) = substr(s_sfx, 1, 7)
        WHERE levenshtein(c_sfx, s_sfx) <= 1
    """,
    "j09_nearest_event": """
        WITH p AS (SELECT user_id, event_id, ts FROM events
                   WHERE event_type = 'purchase'),
        c AS (SELECT user_id, event_id AS click_id, ts AS c_ts FROM events
              WHERE event_type = 'click'),
        j AS (
          SELECT p.user_id, p.event_id, c.click_id,
                 abs(date_diff('microsecond', c.c_ts, p.ts)) AS adist,
                 CASE WHEN c.c_ts <= p.ts THEN 0 ELSE 1 END AS side,
                 row_number() OVER (
                   PARTITION BY p.event_id
                   ORDER BY abs(date_diff('microsecond', c.c_ts, p.ts)),
                            CASE WHEN c.c_ts <= p.ts THEN 0 ELSE 1 END,
                            c.click_id
                 ) AS rn
          FROM p JOIN c USING (user_id)
        )
        SELECT user_id, event_id, click_id AS nearest_click_id,
               CAST(adist AS DOUBLE) / 1000000.0 AS distance_s
        FROM j WHERE rn = 1
    """,
    "v05_quarantine_split": """
        SELECT o_orderkey,
               CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P'))
                      THEN 'status_known'
                    WHEN NOT (o_totalprice BETWEEN 0.0 AND 300000.0)
                      THEN 'price_range'
                    WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                      THEN 'priority_format'
               END AS quarantine_reason,
               (CASE WHEN NOT (o_orderstatus IN ('O', 'F', 'P'))
                       THEN 'status_known'
                     WHEN NOT (o_totalprice BETWEEN 0.0 AND 300000.0)
                       THEN 'price_range'
                     WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                       THEN 'priority_format'
                END) IS NULL AS is_clean
        FROM orders
    """,
    "c10_temperature_mix": """
        WITH counts AS (
          SELECT source AS stratum, COUNT(*) AS n_s
          FROM documents GROUP BY source
        ),
        total AS (SELECT SUM(sqrt(n_s)) AS sqrt_sum FROM counts),
        targets AS (
          SELECT stratum,
                 CAST(FLOOR(sqrt(n_s) / sqrt_sum * 200.0 + 0.5) AS BIGINT)
                   AS target
          FROM counts CROSS JOIN total
        ),
        ranked AS (
          SELECT doc_id, source AS stratum,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('tm' || CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rank
          FROM documents
        )
        SELECT doc_id, stratum, CAST(rank AS BIGINT) AS rank
        FROM ranked JOIN targets USING (stratum)
        WHERE rank <= target
    """,
    "ts09_gap_detect": """
        SELECT user_id, gap_start, gap_end, gap_s FROM (
          SELECT user_id,
                 lag(ts) OVER w AS gap_start,
                 ts AS gap_end,
                 CAST(date_diff('microsecond', lag(ts) OVER w, ts)
                      AS DOUBLE) / 1000000.0 AS gap_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ) WHERE gap_s > 21600.0
    """,
    "ts10_locf_ttl": """
        SELECT event_id, user_id,
               CASE WHEN CAST(date_diff('microsecond', ct, ts) AS DOUBLE)
                         / 1000000.0 <= 43200.0
                    THEN cv
               END AS value_filled
        FROM (
          SELECT event_id, user_id, ts,
                 last_value(v IGNORE NULLS) OVER w AS cv,
                 last_value(CASE WHEN v IS NOT NULL THEN ts END
                            IGNORE NULLS) OVER w AS ct
          FROM (
            SELECT event_id, user_id, ts,
                   CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
            FROM events
          )
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING)
        )
    """,
    "ts08_minmax_norm": """
        SELECT event_id, user_id, value,
               CASE WHEN hi > lo
                    THEN FLOOR((value - lo) / (hi - lo) * 1000000 + 0.5)
                         / 1000000.0
               END AS value_norm
        FROM (
          SELECT event_id, user_id, value,
                 MIN(value) OVER (PARTITION BY user_id) AS lo,
                 MAX(value) OVER (PARTITION BY user_id) AS hi
          FROM events
        )
    """,
    "ts07_downsample": """
        SELECT user_id, bucket, ts, event_id, value FROM (
          SELECT user_id, date_trunc('hour', ts) AS bucket, ts, event_id,
                 value,
                 row_number() OVER (
                   PARTITION BY user_id, date_trunc('hour', ts)
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    "c08_weighted_sample": """
        SELECT doc_id, weight,
               FLOOR(score * 1000000 + 0.5) / 1000000.0 AS score FROM (
          SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS weight,
                 ln((CAST(('0x' || substr(md5('s0' || CAST(doc_id AS VARCHAR)),
                                          1, 8)) AS UBIGINT) % 10000 + 0.5)
                    / 10000.0)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS score
          FROM documents
        )
        ORDER BY score DESC, doc_id ASC
        LIMIT 50
    """,
    "v04_apply_changelog": """
        WITH base AS (
          SELECT user_id, value FROM (
            SELECT user_id, value,
                   row_number() OVER (
                     PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events WHERE event_id % 2 = 0
          ) WHERE rn = 1
        ),
        latest_ch AS (
          SELECT user_id, value,
                 CASE WHEN user_id % 11 = 0 THEN 'D' ELSE 'U' END AS op
          FROM (
            SELECT user_id, value, ts, event_id,
                   row_number() OVER (
                     PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events WHERE event_id % 2 = 1
          ) WHERE rn = 1
        )
        SELECT COALESCE(b.user_id, c.user_id) AS user_id,
               CASE WHEN c.user_id IS NOT NULL THEN c.value
                    ELSE b.value END AS value
        FROM base b FULL OUTER JOIN latest_ch c ON b.user_id = c.user_id
        WHERE c.op IS NULL OR c.op <> 'D'
    """,
    "q47_variant_extract": """
        SELECT event_type,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
               COUNT(DISTINCT CAST(props->>'k' AS BIGINT)) AS n_k,
               COUNT(CAST(props->>'missing' AS BIGINT)) AS n_missing_present
        FROM events GROUP BY event_type
    """,
    "j06_cogroup_funnel": """
        WITH u AS (
          SELECT DISTINCT user_id FROM events
          WHERE event_type IN ('click', 'purchase')
        ),
        p AS (
          SELECT user_id, MIN(ts) AS first_p FROM events
          WHERE event_type = 'purchase' GROUP BY user_id
        ),
        c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
        SELECT u.user_id,
               CAST(COALESCE(SUM(CASE WHEN c.ts < p.first_p THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS clicks_before_purchase,
               p.first_p IS NOT NULL AS has_purchase
        FROM u
        LEFT JOIN p ON u.user_id = p.user_id
        LEFT JOIN c ON u.user_id = c.user_id
        GROUP BY u.user_id, p.first_p
    """,
    "v01_constraint_check": """
        WITH s AS (
          SELECT COUNT(*) AS n_rows,
                 COUNT(*) FILTER (o_orderkey IS NULL) AS v0,
                 COUNT(*) FILTER (o_custkey IS NULL) AS v1,
                 COUNT(*) FILTER (o_orderdate IS NULL) AS v2,
                 COUNT(*) FILTER (o_totalprice NOT BETWEEN 0.0 AND 1000000.0) AS v3,
                 COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v4
          FROM orders
        )
        SELECT r.rule, r.violations, s.n_rows, r.violations = 0 AS ok
        FROM s, LATERAL (VALUES
          ('not_null:o_orderkey', v0),
          ('not_null:o_custkey', v1),
          ('not_null:o_orderdate', v2),
          ('range:o_totalprice:[0.0,1000000.0]', v3),
          ('unique:o_orderkey', v4)
        ) AS r(rule, violations)
    """,
    "v02_referential_check": """
        SELECT (SELECT COUNT(*) FROM lineitem
                WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                 AS n_orphans,
               (SELECT COUNT(*) FROM lineitem) AS n_child
    """,
    "v03_snapshot_diff": """
        WITH o AS (
          SELECT event_id, value FROM events WHERE event_id % 11 <> 0
        ),
        n AS (
          SELECT event_id,
                 CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value
          FROM events WHERE event_id % 13 <> 0
        )
        SELECT COALESCE(o.event_id, n.event_id) AS event_id,
               CASE WHEN o.event_id IS NULL THEN 'added'
                    WHEN n.event_id IS NULL THEN 'removed'
                    WHEN o.value IS NOT DISTINCT FROM n.value THEN 'unchanged'
                    ELSE 'changed' END AS change
        FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
    """,
    "r01_incremental_rollup": """
        SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
               event_type,
               COUNT(*) AS cnt,
               ROUND(SUM(value), 6) AS sum_value,
               ROUND(MIN(value), 6) AS min_value,
               ROUND(MAX(value), 6) AS max_value,
               FLOOR(ROUND(SUM(value), 6) / COUNT(*) * 1000000 + 0.5)
                 / 1000000 AS avg_value
        FROM events GROUP BY 1, 2
    """,
    "q15_hourly_rollup": """
        SELECT date_trunc('hour', ts) AS hour,
               COUNT(*) AS cnt,
               ROUND(SUM(value), 6) AS sum_value
        FROM events GROUP BY 1 ORDER BY hour
    """,
    "q16_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 6) AS sum_qty,
               ROUND(SUM(l_extendedprice), 6) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
               ROUND(AVG(l_quantity), 6) AS avg_qty,
               ROUND(AVG(l_extendedprice), 6) AS avg_price,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q18_sessionization": """
        WITH flagged AS (
          SELECT user_id, event_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessioned AS (
          SELECT *, SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 6) AS sum_value,
               MIN(ts) AS session_start,
               MAX(ts) AS session_end
        FROM sessioned GROUP BY user_id, session_id
    """,
    "q19_running_totals": """
        SELECT event_id, user_id, value,
               ROUND(SUM(value) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                 AS running_value,
               lag(value) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        FROM events
    """,
    "q20_priority_rollup": """
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 6) AS sum_price
        FROM orders
        GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
    "q21_status_set_ops": """
        SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    "q22_segment_revenue": """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'O'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q23_json_extract": """
        SELECT event_type,
               COUNT(*) AS cnt,
               ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "q18a_session_windows": """
        WITH s AS (
          SELECT user_id, ts, value,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        g AS (
          SELECT *, SUM(is_new) OVER (
            PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
          ) AS sid
          FROM s
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 6) AS sum_value
        FROM g GROUP BY user_id, sid
    """,
    "q25_pivot_counts": """
        SELECT user_id % 10 AS cohort,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events GROUP BY user_id % 10
    """,
    "q26_stratified_sample": """
        SELECT event_id, event_type, user_id
        FROM events
        WHERE CAST(('0x' || substr(md5('s0' || CAST(event_id AS VARCHAR)), 1, 8))
                   AS UBIGINT) % 10000
              < CASE event_type
                  WHEN 'click' THEN 5000
                  WHEN 'purchase' THEN 10000
                  WHEN 'view' THEN 1000
                  ELSE 0 END
    """,
    "q27_cube_breakdown": """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 6) AS sum_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "q28_corr_stats": """
        SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               ROUND(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
               ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
               ROUND(stddev_samp(l_extendedprice), 2) AS sd_price
        FROM lineitem
    """,
    "q29_value_histogram": """
        SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
               COUNT(*) AS n,
               ROUND(MIN(value), 6) AS lo,
               ROUND(MAX(value), 6) AS hi
        FROM events GROUP BY 1
    """,
    "j03_customers_no_orders": """
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'P')
    """,
    "q30_regional_revenue": """
        SELECT r_name, n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    "q31_topn_per_group": """
        SELECT event_type, rn, event_id, value
        FROM (SELECT event_type, event_id, value,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY value DESC, event_id) AS rn
              FROM events)
        WHERE rn <= 3
    """,
    "j04_big_spenders_semi": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000.0)
    """,
    "q32_order_max_item": """
        SELECT l_orderkey, l_linenumber, l_extendedprice
        FROM lineitem l
        WHERE l_extendedprice = (SELECT MAX(l2.l_extendedprice)
                                 FROM lineitem l2
                                 WHERE l2.l_orderkey = l.l_orderkey)
    """,
    "q33_moving_avg": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   COUNT(*) AS n_orders,
                   ROUND(SUM(o_totalprice), 6) AS revenue
            FROM orders GROUP BY day)
        SELECT day, n_orders, revenue,
               AVG(n_orders) OVER (
                   ORDER BY day
                   RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
               ) AS ma7_orders
        FROM daily
    """,
    "q34_gap_fill_days": """
        WITH daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
            FROM orders WHERE o_orderstatus = 'P' GROUP BY day),
        cal AS (
            SELECT CAST(UNNEST(GENERATE_SERIES(
                       (SELECT MIN(day) FROM daily),
                       (SELECT MAX(day) FROM daily),
                       INTERVAL 1 DAY)) AS DATE) AS day)
        SELECT cal.day, COALESCE(daily.n_orders, 0) AS n_orders
        FROM cal LEFT JOIN daily ON cal.day = daily.day
    """,
    "q35_order_basket": """
        SELECT l_orderkey,
               array_to_string(LIST(l_partkey ORDER BY l_partkey), ',') AS parts,
               COUNT(*) AS n_items
        FROM lineitem GROUP BY l_orderkey
    """,
    "q36_grouping_sets": """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS cnt, ROUND(SUM(l_quantity), 6) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
    """,
    "q37_value_quartiles": """
        SELECT event_id, event_type, value,
               NTILE(4) OVER w AS quartile,
               ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank
        FROM events
        WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
    """,
    "q38_salted_agg": """
        SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type
    """,
    "q39_custdist": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
        GROUP BY c_count
    """,
    "q40_large_orders": """
        SELECT c_custkey, c_name, o_orderkey, o_totalprice, sum_qty
        FROM (SELECT l_orderkey, ROUND(SUM(l_quantity), 6) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING ROUND(SUM(l_quantity), 6) > 200.0) big
        JOIN orders ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    "q41_union_tag": """
        SELECT event_id, 'high_value' AS tag, value FROM events WHERE value > 400.0
        UNION ALL
        SELECT event_id, 'purchase' AS tag, value FROM events
        WHERE event_type = 'purchase'
    """,
    "q42_user_journey": """
        SELECT event_id, user_id,
               date_diff('second', ts, LEAD(ts) OVER w) AS gap_s,
               FIRST_VALUE(event_type) OVER wf AS first_type,
               LAST_VALUE(event_type) OVER wf AS last_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
               wf AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING
                      AND UNBOUNDED FOLLOWING)
    """,
    "j05_full_outer_reconcile": """
        WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
                   FROM orders GROUP BY 1),
             s AS (SELECT CAST(l_shipdate AS DATE) AS day, COUNT(*) AS n_ships
                   FROM lineitem GROUP BY 1)
        SELECT COALESCE(o.day, s.day) AS day,
               COALESCE(n_orders, 0) AS n_orders,
               COALESCE(n_ships, 0) AS n_ships,
               COALESCE(n_ships, 0) - COALESCE(n_orders, 0) AS ship_minus_order
        FROM o FULL OUTER JOIN s ON o.day = s.day
    """,
    "q43_promo_share": """
        SELECT ROUND(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 6) AS promo_pct,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
    "q44_late_ship_priority": """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate > o_orderdate
        GROUP BY l_returnflag
    """,
    "q45_idle_rich_customers": """
        SELECT c_mktsegment,
               COUNT(*) AS n_cust,
               ROUND(SUM(c_acctbal), 6) AS total_bal
        FROM customer c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment
    """,
    "q46_column_profile": """
        WITH w AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows,
                   CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) AS value_nulls,
                   ROUND(MIN(value), 6) AS value_min,
                   ROUND(MAX(value), 6) AS value_max,
                   CAST(COUNT(DISTINCT event_type) AS DOUBLE)
                     AS event_type_distinct,
                   CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS user_id_distinct
            FROM events)
        SELECT 'n_rows' AS stat, n_rows AS value FROM w
        UNION ALL SELECT 'value_nulls', value_nulls FROM w
        UNION ALL SELECT 'value_min', value_min FROM w
        UNION ALL SELECT 'value_max', value_max FROM w
        UNION ALL SELECT 'event_type_distinct', event_type_distinct FROM w
        UNION ALL SELECT 'user_id_distinct', user_id_distinct FROM w
    """,
    "q24_distinct_counts": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    # q24a composed oracle (d13 pattern): exact distinct beside an
    # asserted in-bounds flag; an HLL regression breaks the hash.
    "q24a_distinct_approx": """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users_exact,
               TRUE AS est_in_bounds
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    # r02 composed oracle (d13 pattern): exact per-day + grand-total
    # distinct rollup; flags asserted TRUE.
    "r02_sketch_rollup": """
        WITH per AS (
          SELECT date_trunc('day', ts) AS bucket,
                 COUNT(DISTINCT user_id) AS n_exact
          FROM events GROUP BY 1
        ), tot AS (
          SELECT NULL AS bucket, COUNT(DISTINCT user_id) AS n_exact
          FROM events
        )
        SELECT CAST(bucket AS TIMESTAMP) AS bucket,
               CAST(n_exact AS BIGINT) AS n_exact,
               TRUE AS est_in_bounds
        FROM (SELECT * FROM per UNION ALL SELECT * FROM tot)
    """,
    "j01_asof_attribution": """
        WITH c AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ),
        p AS (
          SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
          FROM events WHERE event_type = 'purchase'
          QUALIFY row_number()
            OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
        )
        SELECT c.event_id, c.user_id, c.ts,
               p.ts AS purchase_ts, p.purchase_id, p.purchase_value
        FROM c ASOF LEFT JOIN p
          ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    "j02_range_attribution": """
        WITH e AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
        ),
        c AS (
          SELECT user_id, ts, value FROM events WHERE event_type = 'click'
        )
        SELECT e.event_id, e.user_id, e.ts,
               count(c.value) AS n_clicks,
               ROUND(COALESCE(SUM(c.value), 0), 6) AS click_value
        FROM e LEFT JOIN c
          ON e.user_id = c.user_id
         AND c.ts > e.ts - INTERVAL 10 MINUTE
         AND c.ts <= e.ts
        GROUP BY e.event_id, e.user_id, e.ts
    """,
    "q17_top_customers": """
        SELECT c_custkey, c_name, n_name,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 6) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 10
    """,
}

_ORACLES["g01_pagerank"] = _pagerank_oracle()

# st02: the streamed 4-batch rollup merge must equal the one-shot
# aggregation over all events — r01's oracle IS the invariant, aliased
# (not copied) so a future fix to r01's float/rounding discipline can
# never silently drift from st02's.
_ORACLES["st02_stream_rollup_equiv"] = _ORACLES["r01_incremental_rollup"]

# st04: the watermarked streaming session windows must equal q18a's
# batch sessionization — same alias-not-copy reasoning as st02.
_ORACLES["st04_stream_session_equiv"] = _ORACLES["q18a_session_windows"]

# st05: the dual-watermarked stream-stream interval join must equal the
# batch interval-overlap join — j08's oracle, aliased (not copied) so a
# future fix to j08's overlap arithmetic can never silently drift.
_ORACLES["st05_stream_stream_join_equiv"] = _ORACLES["j08_interval_overlap"]

# st06: the left-outer variant — j08's CTE shapes with LEFT JOIN, so
# every click appears exactly once per overlapping purchase or once
# with NULL purchase columns; the watermark-triggered NULL emission in
# the stream must reproduce this exactly.
_ORACLES["st06_stream_outer_join_equiv"] = """
    WITH clicks AS (
      SELECT user_id, event_id AS a_id, ts AS a_start,
             ts + INTERVAL 5 MINUTE AS a_end
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id AS b_user, event_id AS b_id, ts AS b_start,
             ts + INTERVAL 2 MINUTE AS b_end
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, a_id, b_id,
           CASE WHEN b_id IS NULL THEN NULL
                ELSE CAST(date_diff('microsecond',
                               greatest(a_start, b_start),
                               least(a_end, b_end)) AS DOUBLE)
                       / 1000000.0
           END AS overlap_s
    FROM clicks c LEFT JOIN purchases p
      ON c.user_id = p.b_user
     AND a_start < b_end AND b_start < a_end
"""

# st07: the streamed GroupState fold must equal the trivial batch
# per-user aggregate — the whole point of the equivalence entry is
# that the oracle is this one obvious statement while the execution
# is the custom-stateful Python tier. r01's float discipline (6dp
# round on the sum, BIGINT count).
_ORACLES["st07_stateful_profile_equiv"] = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 6) AS sum_value,
           MAX(ts) AS last_ts
    FROM events GROUP BY user_id
"""

# st08: dropDuplicatesWithinWatermark must collapse the deterministic
# at-least-once redelivery back to exactly the source table.
_ORACLES["st08_stream_dedup_equiv"] = """
    SELECT event_id, user_id, ts, event_type, value FROM events
"""

# st09: the stateless per-micro-batch broadcast enrich must equal the
# batch LEFT JOIN to the dimension.
_ORACLES["st09_stream_enrich_equiv"] = """
    SELECT e.event_id, e.user_id, e.ts, e.value,
           c.c_mktsegment AS segment
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
"""

# st10: the typed-state (transformWithStateInPandas) fold must equal
# the trivial batch aggregate — count and MAX only, so the protobuf/
# Arrow state plumbing is the only thing that can break the hash.
_ORACLES["st10_transform_with_state_equiv"] = """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(value) AS max_value
    FROM events GROUP BY user_id
"""

# src13/st11 land every 50th event as JSON:API snapshots, round-trip
# them through the registered http_json DataSource (batch: one
# partition per URL; streaming: one poll per micro-batch), and must
# reproduce the slice exactly — unknown fields dropped, id string ->
# bigint, ts string -> NTZ. One oracle serves both faces.
_HTTP_SNAPSHOT_ORACLE = """
    SELECT event_id, user_id, ts, event_type, value
    FROM events
    WHERE event_id % 50 = 0
"""
_ORACLES["src13_http_batch_source"] = _HTTP_SNAPSHOT_ORACLE
_ORACLES["st11_http_source_equiv"] = _HTTP_SNAPSHOT_ORACLE

# Recursive-CTE replay of the per-series CUSUM recursion (same oracle
# tier as c04/c05): inputs are 6dp-rounded on both sides before the
# recursion, and both engines evaluate the identical left-associated
# double arithmetic, so the accumulated statistic matches bitwise.
_ORACLES["ts13_cusum"] = """
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS x
      FROM events GROUP BY 1, 2),
    par AS (
      SELECT event_type,
             FLOOR(AVG(x) * 1e6 + 0.5) / 1e6 AS mu,
             COALESCE(FLOOR(STDDEV_SAMP(x) * 1e6 + 0.5) / 1e6, 0.0) AS sd
      FROM daily GROUP BY 1),
    seq AS (
      SELECT d.event_type, d.bucket, d.x, p.mu, p.sd,
             ROW_NUMBER() OVER (
               PARTITION BY d.event_type ORDER BY d.bucket) AS rn
      FROM daily d JOIN par p USING (event_type)),
    cs AS (
      SELECT event_type, bucket, x, mu, sd, rn,
             GREATEST(0.0, 0.0 + x - mu - 0.5 * sd) AS s
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.event_type, q.bucket, q.x, q.mu, q.sd, q.rn,
             GREATEST(0.0, cs.s + q.x - q.mu - 0.5 * q.sd) AS s
      FROM seq q JOIN cs
        ON q.event_type = cs.event_type AND q.rn = cs.rn + 1)
    SELECT event_type, bucket, x,
           FLOOR(s * 1e6 + 0.5) / 1e6 AS cusum,
           FLOOR(s * 1e6 + 0.5) / 1e6 > 4.0 * sd AS alarm
    FROM cs
"""

_ORACLES["g02_triangles"] = """
    WITH pairs AS (
        SELECT event_type AS src,
               lead(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM events),
    e0 AS (
        SELECT DISTINCT src, dst FROM pairs
        WHERE dst IS NOT NULL AND src <> dst),
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM e0),
    nodes AS (SELECT a AS node FROM und UNION SELECT b FROM und)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM nodes) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM und e1 JOIN und e2 ON e1.b = e2.a
                        JOIN und e3 ON e1.a = e3.a AND e2.b = e3.b)
             AS n_triangles
"""

def _v10_oracle() -> str:
    """One UNION ALL arm per declared rule, each mirroring the NOT
    COALESCE(pred, FALSE) three-valued fold of validate.rule_census."""
    parts = []
    for name, pred in V10_RULES.items():
        bad = f"NOT COALESCE({pred}, FALSE)"
        parts.append(
            f"""
        SELECT '{name}' AS rule,
               CAST(COUNT(CASE WHEN {bad} THEN 1 END) AS BIGINT)
                 AS violations,
               MIN(CASE WHEN {bad} THEN l_orderkey END) AS first_bad_key,
               MAX(CASE WHEN {bad} THEN l_orderkey END) AS last_bad_key,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               COUNT(CASE WHEN {bad} THEN 1 END) = 0 AS ok
        FROM lineitem"""
        )
    return " UNION ALL ".join(parts)


_ORACLES["v10_rule_census"] = _v10_oracle()


def _v11_oracle() -> str:
    parts = []
    for tbl, (keycol, rules) in V11_RULES.items():
        for name, pred in rules.items():
            bad = f"NOT COALESCE({pred}, FALSE)"
            parts.append(
                f"""
        SELECT '{tbl}' AS tbl, '{name}' AS rule,
               CAST(COUNT(CASE WHEN {bad} THEN 1 END) AS BIGINT)
                 AS violations,
               MIN(CASE WHEN {bad} THEN {keycol} END) AS first_bad_key,
               MAX(CASE WHEN {bad} THEN {keycol} END) AS last_bad_key,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               COUNT(CASE WHEN {bad} THEN 1 END) = 0 AS ok
        FROM {tbl}"""
            )
    return " UNION ALL ".join(parts)


_ORACLES["v11_warehouse_scorecard"] = _v11_oracle()

def _v17_oracle() -> str:
    arms = " UNION ALL ".join(
        f"""
        SELECT '{tbl}' AS tbl,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT {pk}) AS BIGINT) AS n_distinct_pk,
               COUNT(*) = COUNT(DISTINCT {pk}) AS pk_unique
        FROM {tbl}"""
        for tbl, pk in V17_TABLES.items()
    )
    return arms


_ORACLES["v17_table_inventory"] = _v17_oracle()

def _v18_oracle() -> str:
    arms = " UNION ALL ".join(
        f"""
        SELECT '{tbl}.{col}' AS column_name,
               CAST(n_values AS BIGINT) AS n_values,
               entropy,
               CASE WHEN n_values > 1
                    THEN FLOOR(entropy / ln(CAST(n_values AS DOUBLE))
                               * 1e6 + 0.5) / 1e6
               END AS normalized_entropy
        FROM (
          SELECT COUNT(*) AS n_values,
                 FLOOR(-SUM((n / CAST(t AS DOUBLE))
                            * ln(n / CAST(t AS DOUBLE)))
                       * 1e6 + 0.5) / 1e6 AS entropy
          FROM (
            SELECT {col} AS v, COUNT(*) AS n,
                   SUM(COUNT(*)) OVER () AS t
            FROM {tbl} GROUP BY {col}))"""
        for tbl, col in V18_COLUMNS
    )
    return arms


_ORACLES["v18_categorical_entropy"] = _v18_oracle()

_ORACLES["q95_nested_topn"] = f"""
    WITH cell AS (
      SELECT n.n_name AS nation, p.p_brand,
             FLOOR(SUM(l.l_extendedprice * (1.0 - l.l_discount))
                   * 1e6 + 0.5) / 1e6 AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2),
    nat AS (
      SELECT nation,
             FLOOR(SUM(revenue) * 1e6 + 0.5) / 1e6 AS nation_revenue
      FROM cell GROUP BY 1),
    top_nat AS (
      SELECT * FROM (
        SELECT nation, nation_revenue,
               row_number() OVER (
                 ORDER BY nation_revenue DESC, nation ASC) AS nation_rank
        FROM nat)
      WHERE nation_rank <= {NESTED_TOP_NATIONS})
    SELECT nation, nation_rank, nation_revenue, p_brand, brand_rank,
           revenue
    FROM (
      SELECT c.nation, t.nation_rank, t.nation_revenue, c.p_brand,
             c.revenue,
             row_number() OVER (
               PARTITION BY c.nation
               ORDER BY c.revenue DESC, c.p_brand ASC) AS brand_rank
      FROM cell c JOIN top_nat t USING (nation))
    WHERE brand_rank <= {NESTED_TOP_BRANDS}
"""

_ORACLES["q94_shuffle_balance"] = f"""
    WITH buckets AS (
      SELECT user_id % {SKEW_BUCKETS} AS bucket, COUNT(*) AS n_rows
      FROM events GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_buckets,
             SUM(n_rows) AS total_rows,
             MAX(n_rows) AS max_bucket,
             MIN(n_rows) AS min_bucket
      FROM buckets)
    SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(total_rows AS BIGINT) AS total_rows,
           CAST(max_bucket AS BIGINT) AS max_bucket,
           CAST(min_bucket AS BIGINT) AS min_bucket,
           FLOOR(max_bucket / (CAST(total_rows AS DOUBLE)
                               / CAST(n_buckets AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS skew_factor
    FROM stats
"""

_ORACLES["q93_cohort_ltv"] = """
    WITH o AS (
      SELECT o_custkey, o_totalprice,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month
      FROM orders),
    cohort AS (
      SELECT o_custkey, MIN(order_month) AS cohort_month
      FROM o GROUP BY 1),
    aged AS (
      SELECT c.cohort_month,
             CAST((year(o.order_month) - year(c.cohort_month)) * 12
                  + (month(o.order_month) - month(c.cohort_month))
                  AS INT) AS age_months,
             o.o_totalprice
      FROM o JOIN cohort c USING (o_custkey)),
    per AS (
      SELECT cohort_month, age_months,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             FLOOR(SUM(o_totalprice) * 1e6 + 0.5) / 1e6 AS revenue
      FROM aged GROUP BY 1, 2)
    SELECT cohort_month, age_months, n_orders, revenue,
           FLOOR(SUM(revenue) OVER (
                   PARTITION BY cohort_month ORDER BY age_months
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1e6 + 0.5) / 1e6 AS cum_revenue
    FROM per
"""

_ORACLES["q92_gini"] = """
    WITH spend AS (
      SELECT o_custkey,
             FLOOR(SUM(o_totalprice) * 1e6 + 0.5) / 1e6 AS x
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT x, CAST(row_number() OVER (
               ORDER BY x ASC, o_custkey ASC) AS DOUBLE) AS i
      FROM spend),
    sums AS (
      SELECT COUNT(*) AS n,
             FLOOR(SUM(x) / 1e3 * 1e6 + 0.5) / 1e6 AS sx_k,
             FLOOR(SUM(i * x) / 1e6 * 1e6 + 0.5) / 1e6 AS six_m
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           FLOOR((2.0 * (six_m * 1e6) / (n * (sx_k * 1e3))
                  - (n + 1.0) / n) * 1e6 + 0.5) / 1e6 AS gini
    FROM sums
"""

_ORACLES["ts24_wow_change"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             FLOOR(SUM(value) * 1e6 + 0.5) / 1e6 AS total
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, day, total,
             lag(total, 7) OVER (
               PARTITION BY event_type ORDER BY day) AS prev_week
      FROM daily)
    SELECT event_type, day, total, prev_week,
           CASE WHEN prev_week <> 0
                THEN FLOOR((total - prev_week) / prev_week * 1e6 + 0.5)
                     / 1e6
           END AS wow_change
    FROM lagged WHERE prev_week IS NOT NULL
"""


def _q91_oracle() -> str:
    arms = " UNION ALL ".join(
        f"""
        SELECT event_type, CAST({p} AS DOUBLE) AS ref_value,
               CAST(COUNT(CASE WHEN value <= {p} THEN 1 END) AS BIGINT)
                 AS n_at_or_below,
               FLOOR(COUNT(CASE WHEN value <= {p} THEN 1 END)
                     / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
                 AS cdf
        FROM events GROUP BY event_type"""
        for p in CDF_POINTS
    )
    return arms


_ORACLES["q91_cdf_point"] = _q91_oracle()

_ORACLES["ts23_daily_intensity"] = """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           FLOOR(COUNT(*) / CAST(COUNT(DISTINCT user_id) AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS events_per_user
    FROM events GROUP BY 1
"""

_ORACLES["q90_mean_battery"] = """
    WITH sums AS (
      SELECT event_type,
             COUNT(*) AS n,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS am,
             FLOOR(AVG(ln(value)) * 1e6 + 0.5) / 1e6 AS mlog,
             FLOOR(SUM(1.0 / value) * 1e6 + 0.5) / 1e6 AS sinv
      FROM events WHERE value > 0 GROUP BY 1)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_pos,
           am AS arithmetic_mean,
           FLOOR(exp(mlog) * 1e6 + 0.5) / 1e6 AS geometric_mean,
           FLOOR(n / sinv * 1e6 + 0.5) / 1e6 AS harmonic_mean
    FROM sums
"""

_ORACLES["ts22_trend_slope"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS y
      FROM events GROUP BY 1, 2),
    pts AS (
      SELECT event_type,
             CAST(row_number() OVER (
               PARTITION BY event_type ORDER BY day) - 1 AS DOUBLE) AS x,
             y
      FROM daily),
    sums AS (
      SELECT event_type,
             COUNT(*) AS n,
             FLOOR(SUM(x) * 1e6 + 0.5) / 1e6 AS sx,
             FLOOR(SUM(y) * 1e6 + 0.5) / 1e6 AS sy,
             FLOOR(SUM(x * y) * 1e6 + 0.5) / 1e6 AS sxy,
             FLOOR(SUM(x * x) * 1e6 + 0.5) / 1e6 AS sxx,
             FLOOR(SUM(y * y) * 1e6 + 0.5) / 1e6 AS syy
      FROM pts GROUP BY 1),
    d AS (
      SELECT event_type, n,
             n * sxy - sx * sy AS cov,
             n * sxx - sx * sx AS vx,
             n * syy - sy * sy AS vy,
             sx, sy
      FROM sums)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           FLOOR(cov / vx * 1e6 + 0.5) / 1e6 AS slope_per_day,
           FLOOR((sy - cov / vx * sx) / n * 1e6 + 0.5) / 1e6
             AS intercept,
           FLOOR((cov * cov) / (vx * vy) * 1e6 + 0.5) / 1e6
             AS r_squared
    FROM d
"""

_ORACLES["q89_moment_battery"] = """
    WITH sums AS (
      SELECT event_type,
             COUNT(*) AS n,
             FLOOR(SUM(value) * 1e6 + 0.5) / 1e6 AS s1,
             FLOOR(SUM(value * value) * 1e6 + 0.5) / 1e6 AS s2,
             FLOOR(SUM(value * value * value) / 1e6 * 1e6 + 0.5) / 1e6
               AS s3m,
             FLOOR(SUM(value * value * value * value) / 1e9
                   * 1e6 + 0.5) / 1e6 AS s4g
      FROM events GROUP BY 1),
    mo AS (
      SELECT event_type, n, s1 / n AS mean, s2, s3m, s4g FROM sums),
    cm AS (
      SELECT event_type, n, mean,
             s2 / n - mean * mean AS m2,
             s3m * 1e6 / n - 3.0 * mean * (s2 / n)
               + 2.0 * mean * mean * mean AS m3,
             s4g * 1e9 / n - 4.0 * mean * (s3m * 1e6 / n)
               + 6.0 * mean * mean * (s2 / n)
               - 3.0 * mean * mean * mean * mean AS m4
      FROM mo)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_rows,
           FLOOR(mean * 1e6 + 0.5) / 1e6 AS mean,
           FLOOR(m2 * n / (n - 1.0) * 1e6 + 0.5) / 1e6 AS var_samp,
           FLOOR(m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) * 1e6 + 0.5)
             / 1e6 AS skewness,
           FLOOR((m4 / (m2 * m2) - 3.0) * 1e6 + 0.5) / 1e6
             AS excess_kurtosis
    FROM cm
"""

_ORACLES["q88_topk_overlap"] = f"""
    WITH per_cust AS (
      SELECT o_custkey,
             FLOOR(SUM(CASE WHEN year(o_orderdate) = {RANK_YEAR_A}
                            THEN o_totalprice END) * 1e6 + 0.5) / 1e6
               AS rev_a,
             FLOOR(SUM(CASE WHEN year(o_orderdate) = {RANK_YEAR_B}
                            THEN o_totalprice END) * 1e6 + 0.5) / 1e6
               AS rev_b
      FROM orders
      WHERE year(o_orderdate) IN ({RANK_YEAR_A}, {RANK_YEAR_B})
      GROUP BY 1),
    ranked AS (
      SELECT o_custkey,
             row_number() OVER (
               ORDER BY rev_a DESC NULLS LAST, o_custkey ASC)
               <= {TOPK_OVERLAP_K} AS in_a,
             row_number() OVER (
               ORDER BY rev_b DESC NULLS LAST, o_custkey ASC)
               <= {TOPK_OVERLAP_K} AS in_b
      FROM per_cust),
    agg AS (
      SELECT COUNT(CASE WHEN in_a THEN 1 END) AS n_top_a,
             COUNT(CASE WHEN in_b THEN 1 END) AS n_top_b,
             COUNT(CASE WHEN in_a AND in_b THEN 1 END) AS n_both
      FROM ranked)
    SELECT CAST(n_top_a AS BIGINT) AS n_top_a,
           CAST(n_top_b AS BIGINT) AS n_top_b,
           CAST(n_both AS BIGINT) AS n_both,
           FLOOR(n_both / CAST(n_top_a + n_top_b - n_both AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS jaccard
    FROM agg
"""

_ORACLES["v16_volume_anomalies"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type,
             FLOOR(AVG(n) * 1e6 + 0.5) / 1e6 AS mean_n,
             FLOOR(STDDEV_SAMP(n) * 1e6 + 0.5) / 1e6 AS sd_n
      FROM daily GROUP BY 1)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(CASE WHEN d.n > s.mean_n + 3.0 * s.sd_n
                           THEN 1 END) AS BIGINT) AS n_spike_days,
           CAST(MAX(d.n) AS BIGINT) AS max_daily_count,
           FLOOR((MAX(s.mean_n) + 3.0 * MAX(s.sd_n)) * 1e6 + 0.5) / 1e6
             AS threshold
    FROM daily d JOIN stats s USING (event_type)
    GROUP BY d.event_type
"""

_ORACLES["ts20_peak_hour"] = """
    WITH hourly AS (
      SELECT event_type, CAST(hour(ts) AS INT) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS mean_value
      FROM events GROUP BY 1, 2)
    SELECT event_type, hour, n_events, mean_value
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY event_type
               ORDER BY mean_value DESC, hour ASC) AS rn
      FROM hourly)
    WHERE rn = 1
"""

_ORACLES["v15_chi2_independence"] = """
    WITH cells AS (
      SELECT c.c_mktsegment, o.o_orderstatus, COUNT(*) AS observed
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2),
    staged AS (
      SELECT observed,
             SUM(observed) OVER (PARTITION BY c_mktsegment)
               * SUM(observed) OVER (PARTITION BY o_orderstatus)
               / CAST(SUM(observed) OVER () AS DOUBLE) AS exp,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS ncols,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS nrows
      FROM cells)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           FLOOR(SUM((observed - exp) * (observed - exp) / exp)
                 * 1e6 + 0.5) / 1e6 AS chi2,
           CAST((MAX(nrows) - 1) * (MAX(ncols) - 1) AS BIGINT) AS dof
    FROM staged
"""

_ORACLES["q87_rank_change"] = f"""
    WITH per_nation AS (
      SELECT n.n_name AS nation,
             FLOOR(SUM(CASE WHEN year(o.o_orderdate) = {RANK_YEAR_A}
                            THEN o.o_totalprice END) * 1e6 + 0.5) / 1e6
               AS rev_a,
             FLOOR(SUM(CASE WHEN year(o.o_orderdate) = {RANK_YEAR_B}
                            THEN o.o_totalprice END) * 1e6 + 0.5) / 1e6
               AS rev_b
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE year(o.o_orderdate) IN ({RANK_YEAR_A}, {RANK_YEAR_B})
      GROUP BY 1)
    SELECT nation, rev_a, rev_b,
           rank() OVER (ORDER BY rev_a DESC, nation ASC) AS rank_a,
           rank() OVER (ORDER BY rev_b DESC, nation ASC) AS rank_b,
           CAST(rank() OVER (ORDER BY rev_a DESC, nation ASC) AS BIGINT)
             - CAST(rank() OVER (ORDER BY rev_b DESC, nation ASC)
                    AS BIGINT) AS rank_delta
    FROM per_nation
"""

_ORACLES["q86_interpurchase_time"] = """
    WITH gaps AS (
      SELECT o_custkey,
             CAST(date_diff('day',
                    lag(o_orderdate) OVER (
                      PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey),
                    o_orderdate) AS BIGINT) AS gap_days
      FROM orders),
    held AS (SELECT * FROM gaps WHERE gap_days IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
             AS n_repeat_customers,
           FLOOR(AVG(gap_days) * 1e6 + 0.5) / 1e6 AS avg_gap_days,
           CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
    FROM held
"""

_ORACLES["q85_churned_customers"] = f"""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(CASE WHEN o_orderdate < DATE '{CHURN_CUTOFF}'
                      THEN 1 ELSE 0 END) AS has_before,
             MAX(CASE WHEN o_orderdate >= DATE '{CHURN_CUTOFF}'
                      THEN 1 ELSE 0 END) AS has_after
      FROM orders GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(CASE WHEN has_before = 1 AND has_after = 0
                           THEN 1 END) AS BIGINT) AS n_churned,
           CAST(COUNT(CASE WHEN has_before = 1 AND has_after = 1
                           THEN 1 END) AS BIGINT) AS n_retained,
           CAST(COUNT(CASE WHEN has_before = 0 AND has_after = 1
                           THEN 1 END) AS BIGINT) AS n_new_only
    FROM per_cust
"""


def _j13_oracle() -> str:
    arms = " UNION ALL ".join(
        f"SELECT '{n}' AS band, {lo} AS lo, {hi} AS hi"
        for n, lo, hi in J13_BANDS
    )
    return f"""
    WITH dim AS ({arms})
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS mean_value
    FROM events e JOIN dim d ON e.value >= d.lo AND e.value < d.hi
    GROUP BY band
"""


_ORACLES["j13_range_bucket_join"] = _j13_oracle()

_ORACLES["v14_ordering_audit"] = """
    WITH staged AS (
      SELECT event_type,
             CAST(date_diff('microsecond', ts,
                    lag(ts) OVER (PARTITION BY event_type
                                  ORDER BY event_id)) AS BIGINT)
               AS back_us
      FROM events),
    held AS (SELECT * FROM staged WHERE back_us IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(CASE WHEN back_us > 0 THEN 1 END) AS BIGINT)
             AS n_inversions,
           FLOOR(COUNT(CASE WHEN back_us > 0 THEN 1 END)
                 / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS inversion_frac,
           CAST(MAX(GREATEST(back_us, 0)) AS BIGINT) AS worst_backstep_us
    FROM held GROUP BY event_type
"""

_ORACLES["q84_percent_of_parent"] = """
    WITH per_nation AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             FLOOR(SUM(o.o_totalprice) * 1e6 + 0.5) / 1e6 AS revenue
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2)
    SELECT region, nation, revenue,
           FLOOR(revenue
                 / (FLOOR(SUM(revenue) OVER (PARTITION BY region)
                          * 1e6 + 0.5) / 1e6)
                 * 1e6 + 0.5) / 1e6 AS pct_of_region
    FROM per_nation
"""

_ORACLES["q83_above_avg_groups"] = """
    WITH per_cust AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1)
    SELECT o_custkey, n_orders
    FROM per_cust
    WHERE n_orders > (SELECT SUM(n_orders) * 1.0 / COUNT(*) FROM per_cust)
"""

_ORACLES["q82_lines_per_order"] = """
    WITH per_order AS (
      SELECT l_orderkey, COUNT(*) AS n_lines
      FROM lineitem GROUP BY 1)
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM per_order GROUP BY n_lines
"""

_ORACLES["ts19_max_drawdown"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             FLOOR(SUM(value) * 1e6 + 0.5) / 1e6 AS x
      FROM events GROUP BY 1, 2),
    cums AS (
      SELECT event_type, day,
             SUM(x) OVER w AS cum
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    dd AS (
      SELECT event_type,
             MAX(cum) OVER w - cum AS dd
      FROM cums
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           FLOOR(MAX(dd) * 1e6 + 0.5) / 1e6 AS max_drawdown
    FROM dd GROUP BY event_type
"""

_ORACLES["d19_cross_source_dups"] = """
    WITH d AS (
      SELECT DISTINCT sha256(text) AS sha, source FROM documents)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_groups
    FROM d a JOIN d b ON a.sha = b.sha AND a.source < b.source
    GROUP BY 1, 2
"""

_ORACLES["v13_ks_test"] = """
    WITH ev AS (
      SELECT event_type, event_id % 2 AS grp, value FROM events),
    totals AS (
      SELECT event_type,
             COUNT(CASE WHEN grp = 0 THEN 1 END) AS n_a,
             COUNT(CASE WHEN grp = 1 THEN 1 END) AS n_b
      FROM ev GROUP BY 1),
    staged AS (
      SELECT event_type,
             COUNT(CASE WHEN grp = 0 THEN 1 END) OVER w AS cum_a,
             COUNT(CASE WHEN grp = 1 THEN 1 END) OVER w AS cum_b
      FROM ev
      WINDOW w AS (PARTITION BY event_type ORDER BY value
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    diffs AS (
      SELECT s.event_type, t.n_a, t.n_b,
             ABS(s.cum_a / CAST(t.n_a AS DOUBLE)
                 - s.cum_b / CAST(t.n_b AS DOUBLE)) AS d
      FROM staged s JOIN totals t USING (event_type))
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           FLOOR(MAX(d) * 1e6 + 0.5) / 1e6 AS ks_stat,
           MAX(d) > 1.36 * sqrt(CAST(n_a + n_b AS DOUBLE)
                                / CAST(n_a * n_b AS DOUBLE))
             AS significant
    FROM diffs GROUP BY event_type, n_a, n_b
"""

_ORACLES["q78_discount_revenue"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           FLOOR(SUM(l_extendedprice * l_discount) * 1e6 + 0.5) / 1e6
             AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= DATE '1996-01-01'
      AND l_shipdate < DATE '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
"""

_ORACLES["q79_profit_by_nation"] = """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           FLOOR(SUM(l.l_extendedprice * (1.0 - l.l_discount))
                 * 1e6 + 0.5) / 1e6 AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 1, 2
"""

_ORACLES["q80_top_supplier"] = """
    WITH rev AS (
      SELECT l_suppkey,
             FLOOR(SUM(l_extendedprice * (1.0 - l_discount))
                   * 1e6 + 0.5) / 1e6 AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY 1)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""

_ORACLES["q81_disjunctive_filter"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
           FLOOR(SUM(l.l_extendedprice * (1.0 - l.l_discount))
                 * 1e6 + 0.5) / 1e6 AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#3' AND l.l_quantity BETWEEN 20 AND 30)
"""

_ORACLES["g03_degree_reciprocity"] = """
    WITH pairs AS (
        SELECT event_type AS src,
               lead(event_type) OVER (
                 PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM events),
    e AS (
        SELECT DISTINCT src, dst FROM pairs
        WHERE dst IS NOT NULL AND src <> dst),
    od AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS out_degree
           FROM e GROUP BY 1),
    idg AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS in_degree
            FROM e GROUP BY 1),
    rec AS (
        SELECT a.src AS node, CAST(COUNT(*) AS BIGINT) AS reciprocated
        FROM e a WHERE EXISTS (
          SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src)
        GROUP BY 1)
    SELECT COALESCE(od.node, idg.node, rec.node) AS node,
           COALESCE(out_degree, 0) AS out_degree,
           COALESCE(in_degree, 0) AS in_degree,
           COALESCE(reciprocated, 0) AS reciprocated
    FROM od
    FULL OUTER JOIN idg ON od.node = idg.node
    FULL OUTER JOIN rec ON COALESCE(od.node, idg.node) = rec.node
"""

_ORACLES["ts18_uptime_sla"] = f"""
    WITH staged AS (
      SELECT event_type,
             CAST(date_diff('microsecond', ts,
                    lead(ts) OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id)) AS BIGINT)
               AS gap_us
      FROM events),
    held AS (SELECT * FROM staged WHERE gap_us IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(COUNT(CASE WHEN gap_us > {SLA_GAP_S * 1_000_000}
                           THEN 1 END) AS BIGINT) AS n_gaps,
           FLOOR((SUM(gap_us) - SUM(CASE WHEN gap_us > {SLA_GAP_S * 1_000_000}
                                         THEN gap_us ELSE 0 END))
                 / CAST(SUM(gap_us) AS DOUBLE) * 100.0
                 * 1e6 + 0.5) / 1e6 AS uptime_pct
    FROM held GROUP BY event_type
"""

_ORACLES["v12_header_line_reconcile"] = f"""
    WITH lines AS (
      SELECT l_orderkey,
             COUNT(*) AS n_lines,
             FLOOR(SUM(l_extendedprice) * 1e6 + 0.5) / 1e6 AS line_total
      FROM lineitem GROUP BY 1),
    joined AS (
      SELECT o.o_totalprice,
             l.n_lines IS NOT NULL AS has_lines,
             ABS(o.o_totalprice - COALESCE(l.line_total, 0.0))
               / o.o_totalprice AS rel_diff
      FROM orders o LEFT JOIN lines l ON o.o_orderkey = l.l_orderkey)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(CASE WHEN has_lines THEN 1 END) AS BIGINT)
             AS n_with_lines,
           CAST(COUNT(CASE WHEN rel_diff <= {RECON_TOL} THEN 1 END)
                AS BIGINT) AS n_within_tol,
           FLOOR(AVG(rel_diff) * 1e6 + 0.5) / 1e6 AS avg_rel_diff
    FROM joined
"""

_ORACLES["c16_batch_interleave"] = f"""
    WITH batched AS (
      SELECT source,
             CAST(FLOOR((row_number() OVER (
                     ORDER BY md5('b0' || CAST(doc_id AS VARCHAR)) ASC,
                              doc_id ASC) - 1)
                  / {INTERLEAVE_BATCH}.0) AS BIGINT) AS batch
      FROM documents),
    per_batch AS (
      SELECT batch, COUNT(*) AS n_docs,
             COUNT(DISTINCT source) AS n_sources
      FROM batched GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(MIN(n_sources) AS BIGINT) AS min_sources,
           FLOOR(AVG(n_sources) * 1e6 + 0.5) / 1e6 AS avg_sources,
           CAST(MAX(n_sources) AS BIGINT) AS max_sources
    FROM per_batch
"""

_ORACLES["q77_abc_classification"] = f"""
    WITH per_part AS (
      SELECT l_partkey,
             FLOOR(SUM(l_extendedprice * (1.0 - l_discount))
                   * 1e6 + 0.5) / 1e6 AS rev
      FROM lineitem GROUP BY 1),
    tot AS (SELECT FLOOR(SUM(rev) * 1e6 + 0.5) / 1e6 AS t FROM per_part),
    classed AS (
      SELECT l_partkey, rev,
             CASE WHEN (FLOOR(SUM(rev) OVER (
                          ORDER BY rev DESC, l_partkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) * 1e6 + 0.5) / 1e6) / tot.t
                       <= {ABC_CUT_A} THEN 'A'
                  WHEN (FLOOR(SUM(rev) OVER (
                          ORDER BY rev DESC, l_partkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) * 1e6 + 0.5) / 1e6) / tot.t
                       <= {ABC_CUT_B} THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM per_part CROSS JOIN tot)
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           FLOOR(SUM(rev) * 1e6 + 0.5) / 1e6 AS class_revenue
    FROM classed GROUP BY abc_class
"""

_ORACLES["d17_dup_size_histogram"] = """
    WITH groups AS (
      SELECT sha256(text) AS sha, COUNT(*) AS group_size
      FROM documents GROUP BY 1)
    SELECT group_size,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(group_size * COUNT(*) AS BIGINT) AS n_docs
    FROM groups GROUP BY group_size
"""

_ORACLES["q75_trimmed_mean"] = f"""
    WITH ranked AS (
      SELECT event_type, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events)
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_rows,
           CAST(COUNT(CASE WHEN rk > FLOOR(n * {TRIM_FRAC})
                            AND rk <= n - FLOOR(n * {TRIM_FRAC})
                           THEN 1 END) AS BIGINT) AS n_kept,
           FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS plain_mean,
           FLOOR(AVG(CASE WHEN rk > FLOOR(n * {TRIM_FRAC})
                           AND rk <= n - FLOOR(n * {TRIM_FRAC})
                          THEN value END) * 1e6 + 0.5) / 1e6
             AS trimmed_mean
    FROM ranked GROUP BY event_type
"""

_ORACLES["q76_cumulative_uniques"] = """
    WITH first_seen AS (
      SELECT user_id,
             MIN(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS first_day
      FROM events GROUP BY 1),
    per_day AS (
      SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM first_seen GROUP BY 1)
    SELECT day, new_users,
           CAST(SUM(new_users) OVER (
             ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_users
    FROM per_day
"""

_ORACLES["q73_semi_additive"] = """
    WITH ranked AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
             row_number() OVER (
               PARTITION BY user_id, date_trunc('day', ts)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    last_per_user AS (
      SELECT user_id, day, value AS last_value FROM ranked WHERE rn = 1)
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           FLOOR(SUM(last_value) * 1e6 + 0.5) / 1e6 AS eod_balance
    FROM last_per_user GROUP BY day
"""

_ORACLES["q74_new_vs_returning"] = """
    WITH user_days AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events),
    first_seen AS (
      SELECT user_id, MIN(day) AS first_day FROM user_days GROUP BY 1)
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS active_users,
           CAST(COUNT(CASE WHEN day = first_day THEN 1 END) AS BIGINT)
             AS new_users,
           CAST(COUNT(CASE WHEN day <> first_day THEN 1 END) AS BIGINT)
             AS returning_users
    FROM user_days JOIN first_seen USING (user_id)
    GROUP BY day
"""

_ORACLES["q72_top5_plus_other"] = """
    WITH counts AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
    labeled AS (
      SELECT CASE WHEN row_number() OVER (
                    ORDER BY n DESC, user_id ASC) <= 5
                  THEN CAST(user_id AS VARCHAR) ELSE 'Other' END AS who,
             n
      FROM counts)
    SELECT who, CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM labeled GROUP BY who
"""

_ORACLES["ts17_twap"] = """
    WITH staged AS (
      SELECT event_type, value,
             CAST(date_diff('microsecond', ts,
                    lead(ts) OVER (PARTITION BY event_type
                                   ORDER BY ts, event_id)) AS DOUBLE)
               / 1e6 AS dur_s
      FROM events),
    held AS (SELECT * FROM staged WHERE dur_s IS NOT NULL)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_held,
           FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS plain_avg,
           FLOOR((FLOOR(SUM(value * dur_s) * 1e6 + 0.5) / 1e6)
                 / (FLOOR(SUM(dur_s) * 1e6 + 0.5) / 1e6)
                 * 1e6 + 0.5) / 1e6 AS twap
    FROM held GROUP BY event_type
"""

_ORACLES["ts16_acf"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS x
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, 1 AS lag, x,
             lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS y
      FROM daily
      UNION ALL
      SELECT event_type, 7 AS lag, x,
             lag(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS y
      FROM daily),
    sums AS (
      SELECT event_type, lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             FLOOR(SUM(x) * 1e6 + 0.5) / 1e6 AS sx,
             FLOOR(SUM(y) * 1e6 + 0.5) / 1e6 AS sy,
             FLOOR(SUM(x * y) * 1e6 + 0.5) / 1e6 AS sxy,
             FLOOR(SUM(x * x) * 1e6 + 0.5) / 1e6 AS sxx,
             FLOOR(SUM(y * y) * 1e6 + 0.5) / 1e6 AS syy
      FROM lagged WHERE y IS NOT NULL
      GROUP BY 1, 2)
    SELECT event_type, lag, n_pairs,
           CASE WHEN sqrt(n_pairs * sxx - sx * sx)
                     * sqrt(n_pairs * syy - sy * sy) > 0
                THEN FLOOR((n_pairs * sxy - sx * sy)
                           / (sqrt(n_pairs * sxx - sx * sx)
                              * sqrt(n_pairs * syy - sy * sy))
                           * 1e6 + 0.5) / 1e6
           END AS acf
    FROM sums
"""

_ORACLES["d15_dup_by_source"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_unique,
           FLOOR((COUNT(*) - COUNT(DISTINCT sha256(text)))
                 / CAST(COUNT(*) AS DOUBLE) * 1e6 + 0.5) / 1e6
             AS dup_frac
    FROM documents GROUP BY source
"""

_ORACLES["s13_matryoshka_audit"] = """
    WITH ks AS (SELECT UNNEST([8, 16, 32, 64]) AS k),
    r AS (
      SELECT e.vec_id, ks.k,
             FLOOR(sqrt(list_sum(list_transform(
                        list_slice(e.embedding, 1, ks.k),
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   / sqrt(list_sum(list_transform(e.embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                   * 1e6 + 0.5) / 1e6 AS ratio
      FROM embeddings e CROSS JOIN ks)
    SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
           FLOOR(AVG(ratio) * 1e6 + 0.5) / 1e6 AS mean_ratio,
           MIN(ratio) AS min_ratio,
           CAST(COUNT(CASE WHEN ratio >= 0.95 THEN 1 END) AS BIGINT)
             AS n_ge_95
    FROM r GROUP BY k
"""

_ORACLES["q66_mom_growth"] = """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             FLOOR(SUM(o_totalprice) * 1e6 + 0.5) / 1e6 AS revenue
      FROM orders GROUP BY 1)
    SELECT month, n_orders, revenue,
           lag(revenue) OVER (ORDER BY month) AS prev_revenue,
           CASE WHEN lag(revenue) OVER (ORDER BY month) IS NOT NULL
                 AND lag(revenue) OVER (ORDER BY month) <> 0
                THEN FLOOR((revenue - lag(revenue) OVER (ORDER BY month))
                           / lag(revenue) OVER (ORDER BY month)
                           * 1e6 + 0.5) / 1e6
           END AS growth
    FROM monthly
"""

_ORACLES["j12_linear_attribution"] = """
    SELECT p.event_id AS purchase_id, p.user_id,
           p.value AS purchase_value,
           CAST(COUNT(c.ts) AS BIGINT) AS n_touches,
           CASE WHEN COUNT(c.ts) > 0
                THEN FLOOR(p.value / COUNT(c.ts) * 1e6 + 0.5) / 1e6
           END AS credit_per_touch
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT user_id, ts FROM events
               WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 7 DAY
    GROUP BY p.event_id, p.user_id, p.ts, p.value
"""

_ORACLES["d14_lsh_scurve"] = """
    WITH grid AS (
      SELECT CAST(range AS DOUBLE) * 0.05 AS s FROM range(1, 20)),
    c AS (
      SELECT s,
             (s * s) * (s * s) AS s4
      FROM grid),
    p AS (
      SELECT s,
             1.0 - ((1.0 - s4) * (1.0 - s4))
                   * ((1.0 - s4) * (1.0 - s4)) AS pc
      FROM c)
    SELECT FLOOR(s * 1e6 + 0.5) / 1e6 AS jaccard_s,
           4 AS bands, 4 AS rows_per_band,
           FLOOR(pc * 1e6 + 0.5) / 1e6 AS p_candidate
    FROM p
"""

_ORACLES["ts15_seasonal_decompose"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS x
      FROM events GROUP BY 1, 2),
    trended AS (
      SELECT event_type, day, x,
             COUNT(x) OVER w AS _nw,
             FLOOR(AVG(x) OVER w * 1e6 + 0.5) / 1e6 AS trend
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT event_type, day, dayname(day) AS dow, x, trend,
             x - trend AS detrended
      FROM trended WHERE _nw = 7),
    seas AS (
      SELECT event_type, dow,
             FLOOR(AVG(detrended) * 1e6 + 0.5) / 1e6 AS seasonal
      FROM det GROUP BY 1, 2)
    SELECT d.event_type, d.day, d.dow, d.x, d.trend, s.seasonal,
           FLOOR((d.detrended - s.seasonal) * 1e6 + 0.5) / 1e6
             AS residual
    FROM det d JOIN seas s
      ON d.event_type = s.event_type AND d.dow = s.dow
"""

_ORACLES["ts21_seasonality_strength"] = f"""
    WITH dec AS ({_ORACLES["ts15_seasonal_decompose"]}),
    agg AS (
      SELECT event_type, COUNT(*) AS n_days,
             FLOOR(VAR_SAMP(x - trend) * 1e6 + 0.5) / 1e6 AS vd,
             FLOOR(VAR_SAMP(residual) * 1e6 + 0.5) / 1e6 AS vr
      FROM dec GROUP BY 1)
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           FLOOR(GREATEST(0.0, 1.0 - vr / vd) * 1e6 + 0.5) / 1e6
             AS strength
    FROM agg
"""

_ORACLES["q69_trade_matrix"] = """
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           CAST(year(l.l_shipdate) AS INT) AS ship_year,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           FLOOR(SUM(l.l_extendedprice * (1.0 - l.l_discount))
                 * 1e6 + 0.5) / 1e6 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation cn ON c.c_nationkey = cn.n_nationkey
    JOIN nation sn ON s.s_nationkey = sn.n_nationkey
    GROUP BY 1, 2, 3
"""

_ORACLES["q70_market_share"] = f"""
    WITH base AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             sn.n_name AS supp_nation,
             l.l_extendedprice * (1.0 - l.l_discount) AS vol
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
        AND p.p_type = '{Q70_PTYPE}'
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation cn ON c.c_nationkey = cn.n_nationkey
      JOIN region r ON cn.n_regionkey = r.r_regionkey
        AND r.r_name = '{Q70_REGION}'
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation sn ON s.s_nationkey = sn.n_nationkey),
    agg AS (
      SELECT o_year,
             FLOOR(SUM(CASE WHEN supp_nation = '{Q70_TARGET_NATION}'
                            THEN vol END) * 1e6 + 0.5) / 1e6
               AS target_revenue,
             FLOOR(SUM(vol) * 1e6 + 0.5) / 1e6 AS total_revenue
      FROM base GROUP BY 1)
    SELECT o_year,
           COALESCE(target_revenue, 0.0) AS target_revenue,
           total_revenue,
           FLOOR(COALESCE(target_revenue, 0.0) / total_revenue
                 * 1e6 + 0.5) / 1e6 AS mkt_share
    FROM agg
"""

_ORACLES["q71_shipping_priority"] = f"""
    SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
           FLOOR(SUM(l.l_extendedprice * (1.0 - l.l_discount))
                 * 1e6 + 0.5) / 1e6 AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
      AND c.c_mktsegment = '{Q71_SEGMENT}'
    WHERE o.o_orderdate < DATE '{Q71_CUTOFF}'
      AND l.l_shipdate > DATE '{Q71_CUTOFF}'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
"""

_ORACLES["q67_dow_profile"] = """
    SELECT dayname(ts) AS dow, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS mean_value
    FROM events GROUP BY 1, 2
"""

_ORACLES["q68_revenue_concentration"] = """
    WITH ranked AS (
      SELECT o_totalprice,
             ROW_NUMBER() OVER (
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk,
             COUNT(*) OVER () AS n
      FROM orders)
    SELECT CAST(MAX(n) AS BIGINT) AS n_orders,
           CAST(MAX(CASE WHEN rk <= FLOOR(n * 0.01) THEN rk END)
                AS BIGINT) AS n_top,
           FLOOR(SUM(CASE WHEN rk <= FLOOR(n * 0.01)
                          THEN o_totalprice END) * 1e6 + 0.5) / 1e6
             AS top_revenue,
           FLOOR(SUM(o_totalprice) * 1e6 + 0.5) / 1e6 AS total_revenue,
           FLOOR((FLOOR(SUM(CASE WHEN rk <= FLOOR(n * 0.01)
                                 THEN o_totalprice END) * 1e6 + 0.5) / 1e6)
                 / (FLOOR(SUM(o_totalprice) * 1e6 + 0.5) / 1e6)
                 * 1e6 + 0.5) / 1e6 AS top_share
    FROM ranked
"""

_ORACLES["c14_dataset_card"] = """
    WITH wide AS (
      SELECT COUNT(*) AS _docs,
             SUM(len(string_split(text, ' '))) AS _tokens,
             COUNT(DISTINCT source) AS _sources,
             COUNT(DISTINCT lang) AS _langs,
             COUNT(DISTINCT sha256(text)) AS _uniq,
             SUM(n_chars) AS _chars
      FROM documents)
    SELECT 'n_docs' AS metric, CAST(_docs AS DOUBLE) AS value FROM wide
    UNION ALL SELECT 'total_tokens', CAST(_tokens AS DOUBLE) FROM wide
    UNION ALL SELECT 'n_sources', CAST(_sources AS DOUBLE) FROM wide
    UNION ALL SELECT 'n_langs', CAST(_langs AS DOUBLE) FROM wide
    UNION ALL SELECT 'exact_dup_frac',
      FLOOR((_docs - _uniq) / CAST(_docs AS DOUBLE) * 1e6 + 0.5) / 1e6
      FROM wide
    UNION ALL SELECT 'avg_tokens_per_doc',
      FLOOR(_tokens / CAST(_docs AS DOUBLE) * 1e6 + 0.5) / 1e6 FROM wide
    UNION ALL SELECT 'avg_chars_per_doc',
      FLOOR(_chars / CAST(_docs AS DOUBLE) * 1e6 + 0.5) / 1e6 FROM wide
"""

_ORACLES["ts14_holt_linear"] = """
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS x
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, bucket, x,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY bucket) AS rn
      FROM daily),
    hw AS (
      SELECT event_type, bucket, x, rn,
             x AS lvl, CAST(0.0 AS DOUBLE) AS trd,
             CAST(NULL AS DOUBLE) AS f
      FROM seq WHERE rn = 1
      UNION ALL
      SELECT q.event_type, q.bucket, q.x, q.rn,
             0.5 * q.x + 0.5 * (hw.lvl + hw.trd) AS lvl,
             0.25 * ((0.5 * q.x + 0.5 * (hw.lvl + hw.trd)) - hw.lvl)
               + 0.75 * hw.trd AS trd,
             hw.lvl + hw.trd AS f
      FROM seq q JOIN hw
        ON q.event_type = hw.event_type AND q.rn = hw.rn + 1)
    SELECT event_type, bucket, x,
           FLOOR(f * 1e6 + 0.5) / 1e6 AS forecast,
           FLOOR(ABS(x - f) * 1e6 + 0.5) / 1e6 AS abs_err
    FROM hw WHERE rn >= 2
"""

_ORACLES["v09_welch_ttest"] = """
    WITH g AS (
      SELECT event_type, event_id % 2 AS grp,
             COUNT(*) AS n,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS mean,
             FLOOR(VAR_SAMP(value) * 1e6 + 0.5) / 1e6 AS var
      FROM events GROUP BY 1, 2),
    piv AS (
      SELECT event_type,
             MAX(CASE WHEN grp = 0 THEN n END) AS n_a,
             MAX(CASE WHEN grp = 0 THEN mean END) AS mean_a,
             MAX(CASE WHEN grp = 0 THEN var END) AS var_a,
             MAX(CASE WHEN grp = 1 THEN n END) AS n_b,
             MAX(CASE WHEN grp = 1 THEN mean END) AS mean_b,
             MAX(CASE WHEN grp = 1 THEN var END) AS var_b
      FROM g GROUP BY 1),
    d AS (
      SELECT *, var_a / n_a AS sa, var_b / n_b AS sb FROM piv),
    e AS (
      SELECT *,
             (mean_a - mean_b) / sqrt(sa + sb) AS t,
             ((sa + sb) * (sa + sb))
               / ((sa * sa) / (n_a - 1) + (sb * sb) / (n_b - 1)) AS dfw
      FROM d)
    SELECT event_type,
           CAST(n_a AS BIGINT) AS n_a, mean_a, var_a,
           CAST(n_b AS BIGINT) AS n_b, mean_b, var_b,
           FLOOR(t * 1e6 + 0.5) / 1e6 AS t_stat,
           FLOOR(dfw * 1e6 + 0.5) / 1e6 AS df_welch,
           ABS(FLOOR(t * 1e6 + 0.5) / 1e6) > 1.96 AS significant
    FROM e
"""

_ORACLES["q65_decile_lift"] = """
    WITH spend AS (
      SELECT o_custkey,
             FLOOR(SUM(o_totalprice) * 1e6 + 0.5) / 1e6 AS spend
      FROM orders GROUP BY 1),
    tiled AS (
      SELECT o_custkey, spend,
             NTILE(10) OVER (ORDER BY spend DESC, o_custkey ASC) AS decile
      FROM spend),
    per AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             FLOOR(SUM(spend) * 1e6 + 0.5) / 1e6 AS revenue
      FROM tiled GROUP BY 1),
    tot AS (SELECT FLOOR(SUM(revenue) * 1e6 + 0.5) / 1e6 AS t FROM per),
    shares AS (
      SELECT decile, n_customers, revenue,
             FLOOR(revenue / tot.t * 1e6 + 0.5) / 1e6 AS rev_share
      FROM per CROSS JOIN tot)
    SELECT decile, n_customers, revenue, rev_share,
           FLOOR(SUM(rev_share) OVER (
                   ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 * 1e6 + 0.5) / 1e6 AS cum_share
    FROM shares
"""

_ORACLES["q64_sorted_neighborhood"] = """
    WITH wp AS (
      SELECT c_custkey, c_name,
             lag(c_name) OVER (
               PARTITION BY substr(c_name, 1, 16) ORDER BY c_name)
               AS prev_name,
             lag(c_custkey) OVER (
               PARTITION BY substr(c_name, 1, 16) ORDER BY c_name)
               AS prev_key
      FROM customer)
    SELECT prev_key AS left_key, c_custkey AS right_key,
           prev_name AS left_name, c_name AS right_name,
           CAST(levenshtein(prev_name, c_name) AS INT) AS edit_dist
    FROM wp
    WHERE prev_name IS NOT NULL AND levenshtein(prev_name, c_name) <= 2
"""


def _roundtrip_fidelity_agg(back: DataFrame) -> DataFrame:
    """Group-level fidelity digest after a format round-trip: counts,
    exact integer sums, and the min md5 of the round-tripped text — any
    byte lost or mangled in the write/read cycle changes a digest."""
    return (
        back.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(F.col("text"))).cast("long").alias("sum_text_chars"),
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("long")
            .alias("sum_tokens"),
            F.sum(F.col("doc_id")).cast("long").alias("id_sum"),
            F.min(F.md5(F.encode(F.col("text"), "utf-8"))).alias("min_text_md5"),
        )
    )


def src01_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-boundary fidelity through JSON-lines: sink the documents
    table as JSONL, scan it back with the pinned schema, and digest per
    (source, lang) — escaping/quoting/encoding must survive exactly
    (oracle computes the same digests from the original parquet). The
    write+read pair is the storage shape of every inter-stage handoff
    in a 100 TB pipeline."""
    import os

    from mbta_etl_spark.sources.formats import jsonl_roundtrip, scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    tag = f"src01_{os.path.basename(sf_dir.rstrip('/'))}"
    return _roundtrip_fidelity_agg(
        jsonl_roundtrip(docs, scratch_dir(spark, tag))
    )


def src02_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-aware scan: hive-partition the documents table by source,
    read the tree back, and aggregate ONLY two partitions — the filter
    on the partition column prunes whole directories (PartitionFilters
    in the plan, pinned by tests/test_plans.py), so the scan cost is
    O(selected partitions) regardless of table size."""
    import os

    from mbta_etl_spark.sources.formats import partitioned_roundtrip, scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    tag = f"src02_{os.path.basename(sf_dir.rstrip('/'))}"
    back = partitioned_roundtrip(docs, scratch_dir(spark, tag), "source")
    return _roundtrip_fidelity_agg(
        back.filter(F.col("source").isin("src2", "src7"))
    )


def src03_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-boundary fidelity through quoted CSV (header + pinned
    schema on read-back) — the format most likely to mangle free text;
    same per-group digests as src01."""
    import os

    from mbta_etl_spark.sources.formats import csv_roundtrip, scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    tag = f"src03_{os.path.basename(sf_dir.rstrip('/'))}"
    return _roundtrip_fidelity_agg(
        csv_roundtrip(docs, scratch_dir(spark, tag))
    )


def src12_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-boundary fidelity through ORC — Spark's second native
    columnar format (vectorized scan + predicate pushdown into stripe
    indexes, the same PushedFilters surface the parquet entries pin).
    Digests must match the parquet-sourced oracle exactly: the
    parquet -> ORC -> parquet-semantics boundary a mixed-format lake
    crosses loses nothing."""
    import os

    from mbta_etl_spark.sources.formats import orc_roundtrip, scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    tag = f"src12_{os.path.basename(sf_dir.rstrip('/'))}"
    return _roundtrip_fidelity_agg(
        orc_roundtrip(docs, scratch_dir(spark, tag))
    )


def q105_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (`|>` — SPARK-49555): the linear
    dataflow form of a filter -> aggregate -> derive -> order pipeline
    over lineitem, compiled by Catalyst into exactly the plan the nested
    SELECT version produces (same scan-with-pushed-filter, same partial
    aggregate). One surface entry so the engine's coverage includes the
    syntax modern SQL pipelines are migrating to; the DuckDB oracle is
    the equivalent standard-SQL text."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "q105_li"
    )
    return spark.sql("""
        FROM q105_li
        |> WHERE l_shipdate >= DATE'1994-01-01'
        |> AGGREGATE
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_cents
           GROUP BY l_returnflag, l_linestatus
        |> EXTEND CAST(FLOOR(rev_cents / n_items + 0.5) AS BIGINT)
             AS cents_per_item
        |> ORDER BY l_returnflag, l_linestatus
    """)


_ORACLES["q105_pipe_syntax"] = """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_cents,
           CAST(FLOOR(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5)
                               AS BIGINT))
                      / COUNT(*) + 0.5) AS BIGINT) AS cents_per_item
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


def q96_sql_udf_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-defined functions, both kinds in one pipeline: a SQL
    TABLE function (``RETURNS TABLE``) tokenizes each document through a
    LATERAL join, and a SQL scalar function computes the length score on
    the per-doc counts — all resolved by Catalyst into ordinary
    expressions (no Python boundary at all; check the plan: pure
    codegen). The declarative replacement for the Python UDF/UDTF tier
    wherever the logic is expressible in SQL. Oracle inlines the same
    expressions."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_q96_docs")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION q96_tokens(s STRING) "
        "RETURNS TABLE(tok STRING) RETURN SELECT explode(split(s, ' '))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION q96_len_score(n BIGINT) "
        "RETURNS DOUBLE RETURN least(1.0, n / 100.0)"
    )
    return spark.sql(
        """
        WITH per_doc AS (
          SELECT d.source, d.doc_id, COUNT(*) AS n
          FROM _q96_docs d, LATERAL q96_tokens(d.text) t
          GROUP BY d.source, d.doc_id
        )
        SELECT source,
               COUNT(*) AS n_docs,
               FLOOR(AVG(q96_len_score(n)) * 1e6 + 0.5) / 1e6
                 AS avg_len_score
        FROM per_doc
        GROUP BY source
        """
    )


_ORACLES["q96_sql_udf_pipeline"] = """
    WITH per_doc AS (
      SELECT d.source, d.doc_id, COUNT(*) AS n
      FROM documents d, LATERAL unnest(string_split(d.text, ' ')) AS t(tok)
      GROUP BY d.source, d.doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           FLOOR(AVG(least(1.0, n / 100.0)) * 1e6 + 0.5) / 1e6
             AS avg_len_score
    FROM per_doc
    GROUP BY source
"""


_SRC_FIDELITY_ORACLE = """
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS sum_text_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           MIN(md5(text)) AS min_text_md5
    FROM documents
    {where}
    GROUP BY source, lang
"""

_ORACLES["src01_jsonl_roundtrip"] = _SRC_FIDELITY_ORACLE.format(where="")
_ORACLES["src02_partition_pruned_scan"] = _SRC_FIDELITY_ORACLE.format(
    where="WHERE source IN ('src2', 'src7')"
)
_ORACLES["src03_csv_roundtrip"] = _SRC_FIDELITY_ORACLE.format(where="")
_ORACLES["src12_orc_roundtrip"] = _SRC_FIDELITY_ORACLE.format(where="")


SRC07_TARGET_ROWS = 2000
SRC07_FRAGMENTS = 64


def src07_compacted_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the documents table is deliberately
    fragmented into 64 unordered shards (the many-tiny-files state a
    fine-grained ingest leaves behind), then rewritten as
    ~count/2000 files range-partitioned and sorted on doc_id — each
    output file owns a disjoint doc_id range, so footer min/max stats
    prune whole files for id-range predicates (pinned, with the file
    count and non-overlap, by tests/test_files.py). Values must survive
    both rewrites exactly: same per-group fidelity digests as src01."""
    import os

    from mbta_etl_spark.sources.formats import compact_files, scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    tag = f"src07_{os.path.basename(sf_dir.rstrip('/'))}"
    frag_path = scratch_dir(spark, tag + "_frag")
    docs.repartition(SRC07_FRAGMENTS).write.mode("overwrite").parquet(frag_path)
    back = compact_files(
        spark.read.parquet(frag_path),
        scratch_dir(spark, tag + "_compact"),
        "doc_id",
        SRC07_TARGET_ROWS,
    )
    return _roundtrip_fidelity_agg(back)


_ORACLES["src07_compacted_layout"] = _SRC_FIDELITY_ORACLE.format(where="")


def src08_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution on read: half the documents land in a
    legacy parquet batch (no n_tokens column), half in an evolved batch
    that carries it; the merged scan unions footer schemas
    (``mergeSchema``) and NULL-backfills the legacy rows — the contract
    that lets a long-lived 100 TB ingest add columns without rewriting
    history. The per-source census separates legacy (NULL) from evolved
    rows, so the oracle can replay it from the doc_id parity split."""
    import os

    from mbta_etl_spark.sources.formats import evolved_read, scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "lang", "text")
    legacy = base.filter(F.col("doc_id") % 2 == 0)
    evolved = base.filter(F.col("doc_id") % 2 == 1).withColumn(
        "n_tokens", F.size(F.split("text", " ")).cast("long")
    )
    tag = f"src08_{os.path.basename(sf_dir.rstrip('/'))}"
    merged = evolved_read(legacy, evolved, scratch_dir(spark, tag))
    return merged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_tokens").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_legacy"),
        F.count("n_tokens").cast("long").alias("n_evolved"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("evolved_tokens"),
    )


_ORACLES["src08_schema_evolution"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_legacy,
           CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_evolved,
           CAST(SUM(CASE WHEN doc_id % 2 = 1
                         THEN len(string_split(text, ' ')) ELSE 0 END)
                AS BIGINT) AS evolved_tokens
    FROM documents GROUP BY source
"""


def src09_incremental_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-diff incremental ingestion: two-thirds of the documents
    land as the established table, the remaining third arrives as a new
    batch, and the incremental pass reads ONLY the files the manifest
    diff surfaced (sources/formats.incremental_manifest_read) — old
    files are never re-scanned, the cost is O(new batch) regardless of
    table size. The per-source census of what the incremental read
    ingested proves it captured exactly the new batch: the oracle
    replays the doc_id % 3 == 0 slice from the original table, so any
    old row leaking in (or new row missed) breaks every digest."""
    import os

    from mbta_etl_spark.sources.formats import (
        incremental_manifest_read,
        scratch_dir,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    established = docs.filter(F.col("doc_id") % 3 != 0)
    arriving = docs.filter(F.col("doc_id") % 3 == 0)
    tag = f"src09_{os.path.basename(sf_dir.rstrip('/'))}"
    fresh = incremental_manifest_read(
        established, arriving, scratch_dir(spark, tag)
    )
    return fresh.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("doc_id").cast("long").alias("id_sum"),
        F.sum(F.size(F.split(F.col("text"), " ")))
        .cast("long")
        .alias("sum_tokens"),
        F.min(F.md5(F.encode(F.col("text"), "utf-8"))).alias("min_text_md5"),
    )


_ORACLES["src09_incremental_manifest"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
           MIN(md5(text)) AS min_text_md5
    FROM documents WHERE doc_id % 3 = 0 GROUP BY source
"""


SUBSEQ_W = 8
SUBSEQ_K = 5


def ts26_subseq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series subsequence similarity search (the distributed
    z-normalized sliding-window form, cf. EDBT'19 streaming TS
    similarity): over the hourly mean series, find the top-5 windows
    most similar in SHAPE to the series' opening 8-hour window —
    z-normalize every sliding window so level and amplitude drop out,
    rank by squared distance, exclude the trivial-match zone around the
    query itself.

    Scale shape: the sliding windows come from ONE window pass (all 8
    leads + row_number share a single window spec) over the
    pre-aggregated hourly table — the global-order window runs on
    #buckets rows (thousands), never the fact table; the query vector
    is a 1-row broadcast; top-k is TakeOrdered. Per-series search at
    scale partitions the same window by series key. All sums are
    explicit left-associated chains over 6dp-floored inputs, so the
    arithmetic replays bit-for-bit on the oracle engine
    (operators/timeseries.subseq_topk)."""
    from mbta_etl_spark.operators import timeseries

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    hourly = (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("bucket")
        )
        .agg(r6(F.avg("value")).alias("v"))
    )
    return timeseries.subseq_topk(hourly, "bucket", "v", SUBSEQ_W, SUBSEQ_K)


def _subseq_oracle() -> str:
    W, K = SUBSEQ_W, SUBSEQ_K
    leads = ", ".join(
        f"LEAD(v, {j}) OVER (ORDER BY bucket) AS l{j}" for j in range(W)
    )
    mean = "(" + " + ".join(f"l{j}" for j in range(W)) + f") / {W}"
    var = (
        "("
        + " + ".join(f"(l{j} - m) * (l{j} - m)" for j in range(W))
        + f") / {W}"
    )
    zs = ", ".join(f"(l{j} - m) / s AS z{j}" for j in range(W))
    qs = ", ".join(f"z{j} AS q{j}" for j in range(W))
    dist = " + ".join(f"(z{j} - q{j}) * (z{j} - q{j})" for j in range(W))
    return f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS v
      FROM events GROUP BY 1
    ),
    feat AS (
      SELECT bucket, ROW_NUMBER() OVER (ORDER BY bucket) AS rn, {leads}
      FROM hourly
    ),
    ok AS (SELECT * FROM feat WHERE l{W - 1} IS NOT NULL),
    ms AS (SELECT *, {mean} AS m FROM ok),
    msd AS (SELECT *, sqrt({var}) AS s FROM ms),
    z AS (SELECT bucket, rn, {zs} FROM msd),
    q AS (SELECT {qs} FROM z WHERE rn = 1)
    SELECT bucket,
           FLOOR(({dist}) * 1e6 + 0.5) / 1e6 AS dist
    FROM z, q WHERE rn > {W}
    ORDER BY dist, bucket LIMIT {K}
    """


_ORACLES["ts26_subseq_search"] = _subseq_oracle()


_ORACLES["r03_histogram_quantile"] = """
    WITH partials AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             CAST(LEAST(19, GREATEST(0, FLOOR((value - 0.0) / 25.0)))
                  AS BIGINT) AS bin,
             COUNT(*) AS cnt
      FROM events GROUP BY 1, 2),
    merged AS (
      SELECT bin, CAST(SUM(cnt) AS BIGINT) AS cnt
      FROM partials GROUP BY 1),
    cum AS (
      SELECT bin, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
      FROM merged),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             FLOOR(quantile_cont(value, 0.50) * 1e6 + 0.5) / 1e6 AS ex0,
             FLOOR(quantile_cont(value, 0.95) * 1e6 + 0.5) / 1e6 AS ex1,
             FLOOR(quantile_cont(value, 0.99) * 1e6 + 0.5) / 1e6 AS ex2
      FROM events),
    qs AS (SELECT * FROM (VALUES (CAST(0.50 AS DOUBLE), 0),
                                 (CAST(0.95 AS DOUBLE), 1),
                                 (CAST(0.99 AS DOUBLE), 2)) t(q, qi)),
    targeted AS (
      SELECT q.q, s.n, q.q * CAST(s.n AS DOUBLE) AS target,
             CASE q.qi WHEN 0 THEN s.ex0 WHEN 1 THEN s.ex1
                       ELSE s.ex2 END AS exact_value
      FROM qs q, stats s),
    hit AS (
      SELECT t.q, t.n, t.target, t.exact_value, c.bin, c.cnt, c.cum,
             ROW_NUMBER() OVER (PARTITION BY t.q ORDER BY c.bin) AS rn
      FROM targeted t JOIN cum c ON CAST(c.cum AS DOUBLE) >= t.target),
    picked AS (
      SELECT q, n, exact_value,
             0.0 + CAST(bin AS DOUBLE) * 25.0
                 + 25.0 * (target - CAST(cum - cnt AS DOUBLE))
                   / CAST(cnt AS DOUBLE) AS est
      FROM hit WHERE rn = 1)
    SELECT q, n,
           FLOOR(est * 1e6 + 0.5) / 1e6 AS est_value,
           exact_value,
           FLOOR(ABS(FLOOR(est * 1e6 + 0.5) / 1e6 - exact_value)
                 * 1e6 + 0.5) / 1e6 AS abs_err
    FROM picked
"""


def ts25_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type additive Holt-Winters (level + trend + weekly
    seasonal, m=7) over daily means with one-step-ahead forecast error —
    the seasonality-aware upgrade of ts14's Holt smoother, closing the
    classic exponential-smoothing ladder (ts11 seasonal-naive → ts14
    Holt → this). Same post-aggregate applyInPandas recursion tier as
    ts13/ts14; the oracle replays it with a recursive CTE whose state
    row carries (level, trend) plus the m-slot seasonal vector as a
    LIST column, popped and appended each step with identical
    parenthesization (operators/timeseries.holt_winters)."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    return timeseries.holt_winters(ev, ["event_type"], "ts", "value")


_ORACLES["ts25_holt_winters"] = """
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS x
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, bucket, x,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY bucket) AS rn
      FROM daily),
    init AS (
      SELECT event_type, list(x ORDER BY rn) AS xs
      FROM seq WHERE rn <= 7 GROUP BY 1),
    hw AS (
      SELECT event_type,
             CAST(7 AS BIGINT) AS rn,
             xs[7] AS lvl,
             CAST(0.0 AS DOUBLE) AS trd,
             list_transform(xs, v -> v - xs[7]) AS s,
             CAST(NULL AS DOUBLE) AS f,
             CAST(NULL AS DOUBLE) AS x,
             CAST(NULL AS TIMESTAMP) AS bucket
      FROM init
      UNION ALL
      SELECT q.event_type, q.rn,
             0.5 * (q.x - hw.s[1]) + 0.5 * (hw.lvl + hw.trd) AS lvl,
             0.25 * ((0.5 * (q.x - hw.s[1]) + 0.5 * (hw.lvl + hw.trd))
                     - hw.lvl) + 0.75 * hw.trd AS trd,
             list_append(hw.s[2:7],
                 0.25 * (q.x - (0.5 * (q.x - hw.s[1])
                                + 0.5 * (hw.lvl + hw.trd)))
                 + 0.75 * hw.s[1]) AS s,
             hw.lvl + hw.trd + hw.s[1] AS f,
             q.x AS x, q.bucket AS bucket
      FROM seq q JOIN hw
        ON q.event_type = hw.event_type AND q.rn = hw.rn + 1)
    SELECT event_type, bucket, x,
           FLOOR(f * 1e6 + 0.5) / 1e6 AS forecast,
           FLOOR(ABS(x - f) * 1e6 + 0.5) / 1e6 AS abs_err
    FROM hw WHERE rn >= 8
"""


TS27_THRESHOLD = 2.5


def ts27_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-profile robust outliers: per-event-type day-of-week
    median profile over daily means, MAD-scaled residual score, and the
    buckets whose |score| clears the threshold — the STL-lite anomaly
    detector that survives what breaks ts04's rolling z-score (median
    profile immune to the outliers it hunts; weekly shape not flagged
    as drift). Day-of-week is epoch-day mod 7, portable to any engine
    (operators/timeseries.seasonal_mad_anomalies)."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    return timeseries.seasonal_mad_anomalies(
        ev, ["event_type"], "ts", "value", threshold=TS27_THRESHOLD
    )


_ORACLES["ts27_seasonal_anomaly"] = f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             FLOOR(AVG(value) * 1e6 + 0.5) / 1e6 AS x
      FROM events GROUP BY 1, 2),
    d2 AS (
      SELECT *,
             CAST((CAST(bucket AS DATE) - DATE '1970-01-01') % 7
                  AS INTEGER) AS dow
      FROM daily),
    prof AS (
      SELECT event_type, dow, quantile_cont(x, 0.5) AS profile
      FROM d2 GROUP BY 1, 2),
    r AS (
      SELECT d.event_type, d.bucket, d.dow, d.x, p.profile,
             d.x - p.profile AS resid
      FROM d2 d JOIN prof p USING (event_type, dow)),
    m AS (
      SELECT event_type, quantile_cont(ABS(resid), 0.5) AS mad
      FROM r GROUP BY 1)
    SELECT r.event_type, r.bucket, r.dow, r.x,
           FLOOR(r.profile * 1e6 + 0.5) / 1e6 AS profile,
           FLOOR(r.resid * 1e6 + 0.5) / 1e6 AS resid,
           FLOOR(r.resid / (1.4826 * m.mad) * 1e6 + 0.5) / 1e6 AS score
    FROM r JOIN m USING (event_type)
    WHERE m.mad > 0
      AND ABS(r.resid / (1.4826 * m.mad)) > {TS27_THRESHOLD}
    ORDER BY event_type, bucket
"""


def ts28_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint per event type (binary segmentation's
    first split): the day that maximally reduces total SSE into a
    before/after mean pair — level-shift detection over daily means,
    complementing ts27's single-day outliers. Prefix sums run in an
    exact integer milli-unit domain (cross-engine cumulative DOUBLE
    window sums are not reproducible; integer cumsums are), and every
    SSE derives from those integers in one pinned double formula
    (operators/timeseries.changepoint_single)."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    return timeseries.changepoint_single(ev, ["event_type"], "ts", "value")


_ORACLES["ts28_changepoint"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             CAST(FLOOR(AVG(value) * 1e3 + 0.5) AS BIGINT) AS x3
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, bucket,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY bucket) AS t,
             CAST(SUM(x3) OVER (PARTITION BY event_type ORDER BY bucket
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s1,
             CAST(SUM(x3 * x3) OVER (PARTITION BY event_type
                  ORDER BY bucket
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s2
      FROM daily),
    last_ AS (
      SELECT event_type, t AS n, s1 AS ts1, s2 AS ts2
      FROM (SELECT *, MAX(t) OVER (PARTITION BY event_type) AS mx
            FROM seq) z
      WHERE t = mx),
    cand AS (
      SELECT q.event_type, q.bucket, q.t, l.n,
             (CAST(l.ts2 AS DOUBLE)
              - (CAST(l.ts1 AS DOUBLE) * CAST(l.ts1 AS DOUBLE))
                / CAST(l.n AS DOUBLE)) AS tot,
             ((CAST(l.ts2 AS DOUBLE)
               - (CAST(l.ts1 AS DOUBLE) * CAST(l.ts1 AS DOUBLE))
                 / CAST(l.n AS DOUBLE))
              - ((CAST(q.s2 AS DOUBLE)
                  - (CAST(q.s1 AS DOUBLE) * CAST(q.s1 AS DOUBLE))
                    / CAST(q.t AS DOUBLE))
                 + (CAST(l.ts2 - q.s2 AS DOUBLE)
                    - (CAST(l.ts1 - q.s1 AS DOUBLE)
                       * CAST(l.ts1 - q.s1 AS DOUBLE))
                      / CAST(l.n - q.t AS DOUBLE)))) AS red,
             CAST(q.s1 AS DOUBLE) / CAST(q.t AS DOUBLE) / 1e3 AS lm,
             CAST(l.ts1 - q.s1 AS DOUBLE)
               / CAST(l.n - q.t AS DOUBLE) / 1e3 AS rm
      FROM seq q JOIN last_ l USING (event_type)
      WHERE q.t BETWEEN 1 AND l.n - 1),
    pick AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY red DESC, t) AS rk
      FROM cand)
    SELECT event_type, bucket AS split_bucket, t, n,
           FLOOR(lm * 1e6 + 0.5) / 1e6 AS left_mean,
           FLOOR(rm * 1e6 + 0.5) / 1e6 AS right_mean,
           FLOOR(tot / 1e6 * 1e6 + 0.5) / 1e6 AS sse_total,
           FLOOR(red / 1e6 * 1e6 + 0.5) / 1e6 AS sse_reduction
    FROM pick WHERE rk = 1 ORDER BY event_type
"""


TS29_ACF_LAGS = (1, 2, 7, 14)


def ts29_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type autocorrelation at lags 1/2/7/14 over daily means
    — the diagnostic that picks ts25's season length (weekly cycle ⇒
    ACF peak at 7) and validates residual independence for the drift
    tests. Integer milli-unit Pearson sums: partition-order-independent,
    bit-equal in any engine (operators/timeseries.acf)."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    return timeseries.acf(ev, ["event_type"], "ts", "value", TS29_ACF_LAGS)


_ORACLES["ts29_acf"] = f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             CAST(FLOOR(AVG(value) * 1e3 + 0.5) AS BIGINT) AS x3
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY bucket) AS rn,
             x3
      FROM daily),
    lags AS (SELECT * FROM (VALUES {", ".join(f"({v})" for v in TS29_ACF_LAGS)})
             l(lag)),
    p AS (
      SELECT a.event_type, l.lag, a.x3 AS x, b.x3 AS y
      FROM seq a CROSS JOIN lags l
      JOIN seq b ON b.event_type = a.event_type AND b.rn = a.rn + l.lag),
    g AS (
      SELECT event_type, lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM p GROUP BY 1, 2)
    SELECT event_type, lag, n_pairs,
           CASE WHEN (n_pairs * sxx - sx * sx) > 0
                 AND (n_pairs * syy - sy * sy) > 0 THEN
             FLOOR(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                   / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                          * CAST(n_pairs * syy - sy * sy AS DOUBLE))
                   * 1e6 + 0.5) / 1e6
           END AS acf
    FROM g ORDER BY event_type, lag
"""


RETRY_WINDOW_S = 5


def q97_retry_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time duplicate-event throttling census: an event is a
    suspected client retry when it lands within RETRY_WINDOW_S (5s) of
    the PREVIOUS event in its (user, event_type) stream (window lag —
    one shuffle, same envelope as q18's sessionization). Per event
    type: volume, suppressed count, suppressed fraction — the dedup
    knob an event pipeline tunes before the data ever reaches
    storage."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = F.expr(
        "timestampdiff(MICROSECOND, _prev_ts, ts)"
    )
    flagged = ev.withColumn("_prev_ts", F.lag("ts").over(w)).select(
        "event_type",
        F.when(
            F.col("_prev_ts").isNotNull()
            & (gap_us < F.lit(RETRY_WINDOW_S * 1_000_000)),
            1,
        )
        .otherwise(0)
        .alias("is_retry"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_retry").alias("n_suppressed"),
        )
        .select(
            "event_type",
            "n_events",
            "n_suppressed",
            r6(
                F.col("n_suppressed").cast("double")
                / F.col("n_events").cast("double")
            ).alias("suppressed_frac"),
        )
        .orderBy("event_type")
    )


_ORACLES["q97_retry_suppression"] = f"""
    WITH lagged AS (
      SELECT event_type,
             LAG(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts,
             ts
      FROM events),
    flagged AS (
      SELECT event_type,
             CASE WHEN prev_ts IS NOT NULL
                   AND date_diff('microsecond', prev_ts, ts)
                       < {RETRY_WINDOW_S * 1_000_000}
                  THEN 1 ELSE 0 END AS is_retry
      FROM lagged)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_retry) AS BIGINT) AS n_suppressed,
           FLOOR(CAST(SUM(is_retry) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS suppressed_frac
    FROM flagged GROUP BY event_type ORDER BY event_type
"""


ZORDER_BITS = 8
ZORDER_FILES = 16


def src04_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) multi-dimensional clustering — the layout
    technique that makes min/max data skipping work on TWO filter
    columns at once. Rows are quantized to 8 bits per dimension
    (l_partkey, l_suppkey), bit-interleaved into a 16-bit z-value (pure
    JVM shift/and arithmetic), totally ordered by it, and tiled into
    NTILE file buckets; the output is each 'file's' footer stats — row
    count, per-dimension min/max, and the fractional key-range each file
    spans. Under a single-key sort one dimension's span is ~1/files but
    the OTHER's is ~1 — a predicate on the second column opens every
    file; under z-order both spans shrink toward ~1/sqrt(files), so
    min/max skipping works on either column. tests/test_layout.py pins
    the worst-dimension span at less than half the linear layout's.

    At 100 TB the NTILE window becomes repartitionByRange(zval) + one
    file per partition (the standard OPTIMIZE ZORDER job shape); the
    z-value itself stays a per-row codegen expression."""
    from pyspark.sql import Window

    scale = 1 << ZORDER_BITS
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    mx = li.agg(
        F.max("l_partkey").alias("_maxp"), F.max("l_suppkey").alias("_maxs")
    )
    j = li.crossJoin(F.broadcast(mx))
    p8 = F.floor(F.col("l_partkey") * scale / (F.col("_maxp") + 1)).cast("long")
    s8 = F.floor(F.col("l_suppkey") * scale / (F.col("_maxs") + 1)).cast("long")
    z = F.lit(0)
    for i in range(ZORDER_BITS):
        z = (
            z
            + F.shiftright(p8, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
            + F.shiftright(s8, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        )
    w = Window.orderBy("zval", "l_orderkey", "l_linenumber")
    tiled = j.withColumn("zval", z).withColumn(
        "file_id", F.ntile(ZORDER_FILES).over(w)
    )
    return (
        tiled.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
            F.max("_maxp").alias("_mp"),
            F.max("_maxs").alias("_ms"),
        )
        .select(
            "file_id",
            "n_rows",
            "min_pk",
            "max_pk",
            "min_sk",
            "max_sk",
            F.round((F.col("max_pk") - F.col("min_pk")) / F.col("_mp"), 6).alias(
                "span_pk_frac"
            ),
            F.round((F.col("max_sk") - F.col("min_sk")) / F.col("_ms"), 6).alias(
                "span_sk_frac"
            ),
        )
    )


def _zorder_interleave_sql() -> str:
    return " + ".join(
        f"((p8 >> {i}) & 1) * {1 << (2 * i + 1)}"
        f" + ((s8 >> {i}) & 1) * {1 << (2 * i)}"
        for i in range(ZORDER_BITS)
    )


_ORACLES["src04_zorder_layout"] = f"""
    WITH mx AS (SELECT MAX(l_partkey) AS maxp, MAX(l_suppkey) AS maxs
                FROM lineitem),
    b AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, maxp, maxs,
                 CAST(FLOOR(l_partkey * {1 << ZORDER_BITS} / (maxp + 1))
                      AS BIGINT) AS p8,
                 CAST(FLOOR(l_suppkey * {1 << ZORDER_BITS} / (maxs + 1))
                      AS BIGINT) AS s8
          FROM lineitem, mx),
    z AS (SELECT *, {_zorder_interleave_sql()} AS zval FROM b),
    f AS (SELECT *, NTILE({ZORDER_FILES})
                 OVER (ORDER BY zval, l_orderkey, l_linenumber) AS file_id
          FROM z)
    SELECT file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_partkey) AS min_pk,
           MAX(l_partkey) AS max_pk,
           MIN(l_suppkey) AS min_sk,
           MAX(l_suppkey) AS max_sk,
           ROUND((MAX(l_partkey) - MIN(l_partkey)) * 1.0 / MAX(maxp), 6)
               AS span_pk_frac,
           ROUND((MAX(l_suppkey) - MIN(l_suppkey)) * 1.0 / MAX(maxs), 6)
               AS span_sk_frac
    FROM f GROUP BY file_id
"""


_BLOOM_CONFS = {
    # testdata is far below the production defaults (10 GB application
    # side / 10 MB creation side) — lower them so the optimizer actually
    # injects the filter at demo scale, and disable broadcast so the join
    # keeps the shuffle shape it would have at 100 TB (a filtered dim that
    # no longer fits the broadcast threshold).
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def _src05_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The logical plan src05 materializes: selective dim filter joined to
    the fact table, aggregated. Split out so tests can compile it under
    the bloom confs and pin ``might_contain`` in the optimized plan."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(dim, li["l_orderkey"] == dim["o_orderkey"])
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
            ).alias("urgent_revenue"),
        )
    )


def src05_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join pruning: a selective dimension
    filter (urgent orders) is turned by Catalyst's InjectRuntimeFilter
    rule into a ``might_contain(bloom_filter_agg(xxhash64(o_orderkey)))``
    predicate evaluated ON THE FACT SCAN SIDE — lineitem rows whose order
    key cannot match are dropped before the shuffle, so at 100 TB the
    exchange carries only the ~1/5 of the fact that can survive the join
    instead of all of it. The semantics are untouched (a bloom filter has
    no false negatives); the oracle is the plain join.

    The conf overrides (thresholds + no-broadcast, see ``_BLOOM_CONFS``)
    are applied only around an eager ``localCheckpoint`` so the injected
    plan actually executes here, then restored — no other registry entry
    sees them. tests/test_plans.py pins ``might_contain`` in the
    optimized plan under these confs."""
    agg = _src05_joined(spark, sf_dir)
    saved = {k: spark.conf.get(k, None) for k in _BLOOM_CONFS}
    try:
        for k, v in _BLOOM_CONFS.items():
            spark.conf.set(k, v)
        # tiny output (one row per flag/status pair) — eager checkpoint
        # materializes it while the bloom confs are active
        return agg.localCheckpoint(eager=True)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_ORACLES["src05_bloom_runtime_filter"] = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 6)
               AS urgent_revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag, l_linestatus
"""


SRC06_BUCKETS = 8


def _src06_tables(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Land orders and customer as co-bucketed external tables (same key,
    same bucket count) and return the catalog-backed frames. Split out so
    the plan test can pin the no-Exchange join on exactly what the
    registry entry reads."""
    import os

    from mbta_etl_spark.sources.formats import scratch_dir
    from mbta_etl_spark.sources.layout import write_bucketed

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    write_bucketed(
        orders,
        f"src06_orders_b_{tag}",
        "o_custkey",
        SRC06_BUCKETS,
        sort_col="o_custkey",
        path=scratch_dir(spark, f"src06_orders_{tag}"),
    )
    write_bucketed(
        cust,
        f"src06_customer_b_{tag}",
        "o_custkey",
        SRC06_BUCKETS,
        sort_col="o_custkey",
        path=scratch_dir(spark, f"src06_customer_{tag}"),
    )
    return (
        spark.table(f"src06_orders_b_{tag}"),
        spark.table(f"src06_customer_b_{tag}"),
    )


def src06_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-co-located join: orders and customer land bucketed by the
    join key (``bucketBy(8, o_custkey)``, sorted within buckets), so the
    join reads matching bucket files side by side — SortMergeJoin with
    NO Exchange on either input (pinned by tests/test_plans.py). The
    shuffle is paid ONCE at write time; every subsequent join or
    aggregation keyed on the bucket column is exchange-free. At 100 TB
    this is the layout for a fact table joined every day: the daily join
    cost drops from reshuffling 100 TB to a co-located merge. Broadcast
    is disabled around the materialization so the plan keeps the shape it
    has when both sides are too big to broadcast — the regime bucketing
    exists for. Semantics are join-identical; aggregates are
    hash-stable (counts, BIGINT key sums, min/max) rather than
    order-dependent double sums."""
    ob, cb = _src06_tables(spark, sf_dir)
    agg = (
        ob.join(cb, "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum("o_orderkey").alias("orderkey_sum"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return agg.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


_ORACLES["src06_bucketed_join"] = """
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_customers,
           CAST(SUM(o_orderkey) AS BIGINT) AS orderkey_sum,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
"""


STL_PERIOD = 7


def ts30_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type STL-style decomposition of daily means into
    trend + seasonal + residual (classical additive decomposition:
    centered 7-day moving-average trend, ISO-weekday seasonal means,
    residual remainder) — turns ts27's anomaly flags and ts28's
    changepoint into explainable components. Integer milli-unit
    discipline throughout (operators/timeseries.stl_decompose)."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    return timeseries.stl_decompose(
        ev, ["event_type"], "ts", "value", STL_PERIOD
    )


_ORACLES["ts30_stl_decompose"] = f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             CAST(FLOOR(AVG(value) * 1e3 + 0.5) AS BIGINT) AS x3
      FROM events GROUP BY 1, 2),
    win AS (
      SELECT event_type, bucket, x3,
             CAST(SUM(x3) OVER w AS BIGINT) AS trend_sum,
             CAST(COUNT(*) OVER w AS BIGINT) AS w_cnt
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN {(STL_PERIOD - 1) // 2} PRECEDING
                   AND {(STL_PERIOD - 1) // 2} FOLLOWING)),
    tr AS (
      SELECT event_type, bucket, x3, trend_sum,
             {STL_PERIOD} * x3 - trend_sum AS detrend,
             CAST(isodow(bucket) AS INTEGER) AS dow
      FROM win WHERE w_cnt = {STL_PERIOD}),
    seas AS (
      SELECT event_type, dow,
             CAST(SUM(detrend) AS BIGINT) AS s_sum,
             CAST(COUNT(*) AS BIGINT) AS s_cnt
      FROM tr GROUP BY 1, 2)
    SELECT t.event_type, t.bucket, t.dow,
           CAST(t.x3 AS DOUBLE) / 1000.0 AS x,
           CAST(t.trend_sum AS DOUBLE) / {STL_PERIOD * 1000}.0 AS trend,
           FLOOR(CAST(s.s_sum AS DOUBLE)
                 / CAST({STL_PERIOD} * s.s_cnt * 1000 AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS seasonal,
           FLOOR((CAST(t.detrend AS DOUBLE) / {STL_PERIOD * 1000}.0
                  - FLOOR(CAST(s.s_sum AS DOUBLE)
                          / CAST({STL_PERIOD} * s.s_cnt * 1000 AS DOUBLE)
                          * 1e6 + 0.5) / 1e6)
                 * 1e6 + 0.5) / 1e6 AS resid
    FROM tr t JOIN seas s ON s.event_type = t.event_type AND s.dow = t.dow
    ORDER BY t.event_type, t.bucket
"""


def ts32_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman strength-of-components per event type over ts30's STL
    decomposition: seasonal and trend strengths in [0, 1] — the triage
    scalars that rank series by how much weekly structure / drift they
    carry (operators/timeseries.seasonality_strength). Integer
    milli-grid variance sums, one pinned division each."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    stl = timeseries.stl_decompose(ev, ["event_type"], "ts", "value", STL_PERIOD)
    return timeseries.seasonality_strength(stl, ["event_type"])


def _ts32_oracle() -> str:
    return f"""
    WITH stl AS ({_ORACLES["ts30_stl_decompose"]}),
    v AS (
      SELECT event_type,
             CAST(FLOOR(resid * 1e3 + 0.5) AS BIGINT) AS r3,
             CAST(FLOOR((x - trend) * 1e3 + 0.5) AS BIGINT) AS d3,
             CAST(FLOOR((x - seasonal) * 1e3 + 0.5) AS BIGINT) AS t3
      FROM stl),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r3) AS BIGINT) AS sr,
             CAST(SUM(r3 * r3) AS BIGINT) AS srr,
             CAST(SUM(d3) AS BIGINT) AS sd,
             CAST(SUM(d3 * d3) AS BIGINT) AS sdd,
             CAST(SUM(t3) AS BIGINT) AS st,
             CAST(SUM(t3 * t3) AS BIGINT) AS stt
      FROM v GROUP BY 1)
    SELECT event_type, n,
           FLOOR(CASE WHEN (n * sdd - sd * sd) > 0 THEN
                   GREATEST(0.0, 1.0 - CAST(n * srr - sr * sr AS DOUBLE)
                                       / CAST(n * sdd - sd * sd AS DOUBLE))
                 END * 1e6 + 0.5) / 1e6 AS seasonal_strength,
           FLOOR(CASE WHEN (n * stt - st * st) > 0 THEN
                   GREATEST(0.0, 1.0 - CAST(n * srr - sr * sr AS DOUBLE)
                                       / CAST(n * stt - st * st AS DOUBLE))
                 END * 1e6 + 0.5) / 1e6 AS trend_strength
    FROM g ORDER BY event_type
    """


_ORACLES["ts32_seasonality_strength"] = _ts32_oracle()


def q101_global_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally-ordered running total WITHOUT a single-partition window
    — the two-phase prefix-sum form §4 of SCALE.md promises as the
    100 TB upgrade, executed: (1) per-day partial sums (map-side
    combinable, O(days) rows), (2) exclusive day-offsets from ONE tiny
    global window over the day table (broadcast back), (3) a per-day
    keyed window for the within-day prefix — every event-sized window
    is PARTITIONED BY day, so the global order never serializes
    through one task. Result is bit-identical to the naive
    `SUM() OVER (ORDER BY ts, event_id)` the oracle runs: integer cent
    sums, (ts, event_id) total order."""
    from pyspark.sql import Window

    cents = F.floor(F.col("value") * F.lit(100) + F.lit(0.5)).cast("long")
    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    ev = _events(spark, sf_dir).select(
        "event_id", "ts", day.alias("_day"), cents.alias("cents")
    )
    day_totals = ev.groupBy("_day").agg(F.sum("cents").alias("_day_sum"))
    wdays = Window.orderBy("_day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = day_totals.select(
        "_day",
        F.coalesce(F.sum("_day_sum").over(wdays), F.lit(0)).alias("_offset"),
    )
    wday = (
        Window.partitionBy("_day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.join(F.broadcast(offsets), "_day")
        .select(
            "event_id",
            "ts",
            (F.col("_offset") + F.sum("cents").over(wday)).alias(
                "running_cents"
            ),
        )
        .orderBy("ts", "event_id")
    )


_ORACLES["q101_global_running_total"] = """
    SELECT event_id, ts,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                OVER (ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS running_cents
    FROM events ORDER BY ts, event_id
"""


def ts35_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type: the MEDIAN of all
    pairwise slopes between daily means — the slope estimator that
    shrugs off the outlier days that bend an OLS fit (up to ~29%
    contamination), reported next to the OLS slope from the same
    integer sums so the gap itself flags outlier pressure.

    Exactness: daily means on the milli grid (ts29 discipline), each
    pairwise slope is ONE int/int IEEE division pinned to the 1e-6
    grid, the median is the discrete lower-median with a (slope, i, j)
    tie-break, and the OLS slope derives from int64 Pearson sums in
    one pinned expression.

    Shape: the pair join runs on the POST-aggregate daily table —
    O(series·days²) pairs with days bounded by the calendar (30 days →
    435 pairs/series), never event-sized. At multi-year horizons the
    standard fix is windowed Theil–Sen (pairs within a sliding month),
    same plan with a rn-distance predicate."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", b.alias("bucket"))
        .agg(
            F.floor(F.avg("value") * F.lit(1e3) + F.lit(0.5))
            .cast("long")
            .alias("x3")
        )
    )
    seq = daily.select(
        "event_type",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("bucket"))
        .alias("rn"),
        "x3",
    )
    a = seq.select(
        "event_type", F.col("rn").alias("i"), F.col("x3").alias("xi")
    )
    bb = seq.select(
        "event_type", F.col("rn").alias("j"), F.col("x3").alias("xj")
    )
    pairs = a.join(bb, "event_type").filter(F.col("j") > F.col("i"))
    slope6 = F.floor(
        (F.col("xj") - F.col("xi")).cast("double")
        / (F.col("j") - F.col("i")).cast("double")
        * F.lit(1e3)
        + F.lit(0.5)
    ).cast("long")
    sl = pairs.select("event_type", "i", "j", slope6.alias("s6"))
    wmed = Window.partitionBy("event_type").orderBy("s6", "i", "j")
    wn = Window.partitionBy("event_type")
    med = (
        sl.withColumn("_n", F.count(F.lit(1)).over(wn))
        .withColumn("_rn", F.row_number().over(wmed))
        .filter(F.col("_rn") == F.expr("(_n - 1) div 2 + 1"))
        .select(
            "event_type",
            F.col("_n").alias("n_pairs"),
            (F.col("s6").cast("double") / F.lit(1e6)).alias("ts_slope"),
        )
    )
    g = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("rn").alias("st"),
        F.sum(F.col("rn") * F.col("rn")).alias("stt"),
        F.sum("x3").alias("sx"),
        F.sum(F.col("rn") * F.col("x3")).alias("stx"),
    )
    n = F.col("n_days")
    ols = F.when(
        (n * F.col("stt") - F.col("st") * F.col("st")) > 0,
        r6(
            (n * F.col("stx") - F.col("st") * F.col("sx")).cast("double")
            / (n * F.col("stt") - F.col("st") * F.col("st")).cast("double")
            / F.lit(1e3)
        ),
    )
    return (
        g.join(med, "event_type")
        .select("event_type", "n_days", "n_pairs", "ts_slope", ols.alias("ols_slope"))
        .orderBy("event_type")
    )


_ORACLES["ts35_theil_sen"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             CAST(FLOOR(AVG(value) * 1e3 + 0.5) AS BIGINT) AS x3
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY bucket) AS rn,
             x3
      FROM daily),
    pairs AS (
      SELECT a.event_type, a.rn AS i, b.rn AS j,
             CAST(FLOOR(CAST(b.x3 - a.x3 AS DOUBLE)
                        / CAST(b.rn - a.rn AS DOUBLE) * 1e3 + 0.5)
                  AS BIGINT) AS s6
      FROM seq a JOIN seq b
      ON b.event_type = a.event_type AND b.rn > a.rn),
    med AS (
      SELECT event_type, n AS n_pairs,
             CAST(s6 AS DOUBLE) / 1e6 AS ts_slope
      FROM (
        SELECT event_type, s6,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY s6, i, j) AS rn
        FROM pairs)
      WHERE rn = (n - 1) // 2 + 1),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(rn) AS BIGINT) AS st,
             CAST(SUM(rn * rn) AS BIGINT) AS stt,
             CAST(SUM(x3) AS BIGINT) AS sx,
             CAST(SUM(rn * x3) AS BIGINT) AS stx
      FROM seq GROUP BY 1)
    SELECT g.event_type, g.n_days, m.n_pairs, m.ts_slope,
           CASE WHEN (g.n_days * g.stt - g.st * g.st) > 0 THEN
             FLOOR(CAST(g.n_days * g.stx - g.st * g.sx AS DOUBLE)
                   / CAST(g.n_days * g.stt - g.st * g.st AS DOUBLE)
                   / 1e3 * 1e6 + 0.5) / 1e6
           END AS ols_slope
    FROM g JOIN med m ON m.event_type = g.event_type
    ORDER BY g.event_type
"""


def ts36_timedecay_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular-gap kernel smoother over each user's event series
    (operators/timeseries.timedecay_smooth): hyperbolic time-decay
    weights tau/(tau + gap_us) over the trailing-16+current frame —
    the gap-aware complement to ts06's row-count EWMA (which
    over-weights bursts on irregular series). Weights are rational in
    the integer microsecond gap, so every term is bit-identical in
    the oracle; one pinned 6dp division at the end."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    return timeseries.timedecay_smooth(
        ev, ["user_id"], "ts", "event_id", "value", lookback=16
    )


_ORACLES["ts36_timedecay_smooth"] = """
    WITH b AS (
      SELECT user_id, event_id, ts, value, epoch_us(ts) AS t_us
      FROM events),
    w AS (
      SELECT user_id, event_id, t_us, value,
             list(struct_pack(t := t_us, v := value)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 16 PRECEDING AND CURRENT ROW) AS win
      FROM b),
    s AS (
      SELECT user_id, event_id, value,
             list_reduce(list_prepend(0.0, list_transform(win,
               s -> s.v * (600000000.0
                           / (600000000.0 + CAST(t_us - s.t AS DOUBLE))))),
               (acc, x) -> acc + x) AS num,
             list_reduce(list_prepend(0.0, list_transform(win,
               s -> 600000000.0
                    / (600000000.0 + CAST(t_us - s.t AS DOUBLE)))),
               (acc, x) -> acc + x) AS den,
             len(win) AS n_window
      FROM w)
    SELECT user_id, event_id, value,
           CAST(n_window AS BIGINT) AS n_window,
           FLOOR(num / den * 1e6 + 0.5) / 1e6 AS smoothed
    FROM s
"""


def ts37_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visual downsampling (operators/timeseries.m4_downsample):
    per (event_type, hour) the first/last/min/max POINTS — the
    lossless-for-rendering dashboard reducer, vs ts07's last-wins.
    Struct-ordered extremes pin the tie rules (min/first earliest,
    max/last latest), so the oracle's explicit ORDER BY windows land on
    the identical rows."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "event_id", "value")
    return timeseries.m4_downsample(
        ev, ["event_type"], "ts", "event_id", "value"
    )


_ORACLES["ts37_m4_downsample"] = """
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             ts, event_id, value
      FROM events),
    r AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                           ORDER BY ts, event_id) AS rf,
        ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                           ORDER BY ts DESC, event_id DESC) AS rl,
        ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                           ORDER BY value, ts, event_id) AS rmn,
        ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                           ORDER BY value DESC, ts DESC, event_id DESC)
          AS rmx,
        COUNT(*) OVER (PARTITION BY event_type, bucket) AS n
      FROM b)
    SELECT event_type, bucket,
           CAST(MAX(n) AS BIGINT) AS n_points,
           MAX(CASE WHEN rf = 1 THEN ts END) AS first_ts,
           MAX(CASE WHEN rf = 1 THEN value END) AS first_v,
           MAX(CASE WHEN rl = 1 THEN ts END) AS last_ts,
           MAX(CASE WHEN rl = 1 THEN value END) AS last_v,
           MAX(CASE WHEN rmn = 1 THEN ts END) AS min_ts,
           MAX(CASE WHEN rmn = 1 THEN value END) AS min_v,
           MAX(CASE WHEN rmx = 1 THEN ts END) AS max_ts,
           MAX(CASE WHEN rmx = 1 THEN value END) AS max_v
    FROM r GROUP BY event_type, bucket
"""


def ts38_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7 rolling median per event_type
    (operators/timeseries.rolling_median): the robust spike-immune
    smoother ts04's mean-based z-score is not. Inputs 6dp-floored first;
    Spark sorts the bounded row frame as an array, the oracle replays
    with SQL MEDIAN over the identical rounded inputs — both reduce to
    the same two-middle-elements formula."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value"
    )
    return timeseries.rolling_median(
        ev, ["event_type"], "ts", "event_id", "value", lookback=6
    )


_ORACLES["ts38_rolling_median"] = """
    WITH v AS (
      SELECT event_type, ts, event_id,
             FLOOR(value * 1e6 + 0.5) / 1e6 AS v6
      FROM events)
    SELECT event_type, ts, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_win,
           FLOOR(MEDIAN(v6) OVER w * 1e6 + 0.5) / 1e6 AS rolling_median
    FROM v
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

Q104_BAND_WIDTH = 20.0


def q104_compress_consecutive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length state compression of the events stream
    (operators/timeseries.compress_consecutive): per event_type series,
    one row per run of equal consecutive value bands
    (floor(value / 20)) with the run's start point and length — the
    transition-only storage form a 100 TB telemetry lake keeps instead
    of the raw steady-state stream (LOCF reconstructs it exactly). One
    Exchange: lag, running run-id, and the per-run aggregate all share
    the event_type partitioning."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select(
        "event_type", "ts", "event_id", "value"
    )
    return timeseries.compress_consecutive(
        ev,
        ["event_type"],
        "ts",
        "event_id",
        F.floor(F.col("value") / F.lit(Q104_BAND_WIDTH)).cast("long"),
        state_name="band",
    )


_ORACLES["q104_compress_consecutive"] = f"""
    WITH s AS (
      SELECT event_type, ts, event_id,
             CAST(FLOOR(value / {Q104_BAND_WIDTH}) AS BIGINT) AS band
      FROM events),
    m AS (
      SELECT *,
             CASE WHEN lag(band) OVER w IS NULL
                       OR lag(band) OVER w <> band
                  THEN 1 ELSE 0 END AS is_start
      FROM s
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
    r AS (
      SELECT *,
             SUM(is_start) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run_id
      FROM m)
    SELECT event_type, MIN(ts) AS ts,
           FIRST(event_id ORDER BY ts, event_id) AS event_id,
           MIN(band) AS band,
           CAST(COUNT(*) AS BIGINT) AS run_len
    FROM r GROUP BY event_type, run_id
"""


EQUIDEPTH_BUCKETS = 8
# prefix-sum parallelism over the distinct-value summary; offsets table
# stays O(EQUIDEPTH_CHUNKS) driver-window rows
EQUIDEPTH_CHUNKS = 32


def q102_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of l_quantity — the
    optimizer-statistics build, complement of q29's fixed-WIDTH bins:
    bucket boundaries chosen so each holds ~n/k rows, ties kept whole
    (a distinct value never splits). Runs entirely on the compact
    (value, count) relation: one map-side-combinable aggregate over the
    fact table, then a TWO-PHASE prefix sum over the value-frequency
    summary (the q101 pattern, per ADVICE r3): range-partition the
    distinct values, cumsum WITHIN each range chunk, and add exclusive
    chunk offsets from one tiny window over the O(#chunks) chunk-total
    table — no single-partition window, so the shape survives
    high-cardinality value columns (timestamps, prices), not just
    l_quantity's ~50 distinct values. The fact table never sorts; only
    its summary does, and that in parallel. Bucket id is exact integer
    math: (cum_before · k) div n."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("v")
    )
    from pyspark.sql import Window

    from mbta_etl_spark.operators.core import materialize

    # range partitioner keeps ascending value ranges in ascending
    # partition ids, so spark_partition_id() IS the chunk's sort key;
    # materialize once — the chunked table feeds both the chunk-total
    # aggregate and the within-chunk window
    vcp = materialize(
        li.groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .repartitionByRange(EQUIDEPTH_CHUNKS, "v")
        .withColumn("_pid", F.spark_partition_id())
    )
    chunk = vcp.groupBy("_pid").agg(F.sum("cnt").alias("_chunk_sum"))
    wp = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = chunk.select(
        "_pid",
        F.coalesce(F.sum("_chunk_sum").over(wp), F.lit(0)).alias("_offset"),
    )
    total = chunk.agg(F.sum("_chunk_sum").alias("n"))
    win = (
        Window.partitionBy("_pid")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = (
        vcp.join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(total))
        .select(
            "v",
            "cnt",
            (
                F.col("_offset") + F.sum("cnt").over(win) - F.col("cnt")
            ).alias("cum_before"),
            "n",
        )
    )
    bucket = F.expr(f"(cum_before * {EQUIDEPTH_BUCKETS}) div n")
    return (
        staged.select(bucket.cast("long").alias("bucket"), "v", "cnt")
        .groupBy("bucket")
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("cnt").alias("n_rows"),
        )
    )


_ORACLES["q102_equidepth_histogram"] = f"""
    WITH vc AS (
      SELECT CAST(l_quantity AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1),
    s AS (
      SELECT v, cnt,
             CAST(SUM(cnt) OVER (ORDER BY v
               ROWS UNBOUNDED PRECEDING) - cnt AS BIGINT) AS cum_before,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
      FROM vc)
    SELECT CAST((cum_before * {EQUIDEPTH_BUCKETS}) // n AS BIGINT) AS bucket,
           MIN(v) AS lo, MAX(v) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(SUM(cnt) AS BIGINT) AS n_rows
    FROM s GROUP BY 1
"""


_ORACLES["q103_price_volume_mix"] = """
    WITH li AS (
      SELECT l_orderkey,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS rev_cents
      FROM lineitem),
    monthly AS (
      SELECT n.n_name,
             CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
             CAST(SUM(li.qty) AS BIGINT) AS qty,
             CAST(SUM(li.rev_cents) AS BIGINT) AS rev_cents
      FROM li
      JOIN orders o ON li.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1, 2),
    staged AS (
      SELECT *,
             LAG(qty) OVER (PARTITION BY n_name ORDER BY month) AS p_qty,
             LAG(rev_cents) OVER (PARTITION BY n_name ORDER BY month)
               AS p_rev
      FROM monthly)
    SELECT n_name, month, qty, rev_cents,
           CAST(rev_cents - p_rev AS DOUBLE) / 100.0 AS delta_rev,
           FLOOR((CAST(qty - p_qty AS DOUBLE)
                  * (CAST(p_rev AS DOUBLE) / CAST(p_qty AS DOUBLE))
                  / 100.0) * 1e6 + 0.5) / 1e6 AS volume_effect,
           FLOOR((CAST(qty AS DOUBLE)
                  * (CAST(rev_cents AS DOUBLE) / CAST(qty AS DOUBLE)
                     - CAST(p_rev AS DOUBLE) / CAST(p_qty AS DOUBLE))
                  / 100.0) * 1e6 + 0.5) / 1e6 AS price_effect
    FROM staged
    WHERE p_qty IS NOT NULL AND p_qty > 0
"""




def ts34_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per event stream (Goh & Barabási):
    B = (σ−μ)/(σ+μ) over the whole-second gaps between consecutive
    events of a type — B→−1 periodic, B≈0 Poisson, B→+1 bursty. The
    one-scalar answer to "is this stream machine-regular or
    human-bursty", which decides q97's retry window and j14's coalesce
    hold.

    Exactness: gaps are integers (both operands second-truncated, the
    v20 rule), Σg and Σg² accumulate as int64 (gap ≤ 3e6 s, gap² ≤
    9e12 — inside int64 at any realistic stream length), and μ, σ, B
    derive in one pinned double expression per series. One window
    shuffle on event_type over (ts, event_id) order — the q18
    envelope — then a map-side-combinable aggregate."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ev = _events(spark, sf_dir).select("event_type", "ts", "event_id")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("_prev", F.lag("ts").over(w))
        .filter(F.col("_prev").isNotNull())
        .select(
            "event_type",
            F.expr(
                "timestampdiff(SECOND, date_trunc('second', _prev),"
                " date_trunc('second', ts))"
            ).alias("gap_s"),
        )
    )
    g = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("sg"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("sgg"),
    )
    n = F.col("n_gaps").cast("double")
    mu = F.col("sg").cast("double") / n
    var = (F.col("sgg").cast("double") - F.col("sg").cast("double") * mu) / n
    sigma = F.sqrt(var)
    return g.select(
        "event_type",
        "n_gaps",
        r6(mu).alias("mean_gap_s"),
        F.when(mu > 0, r6(sigma / mu)).alias("cv"),
        F.when(sigma + mu > 0, r6((sigma - mu) / (sigma + mu))).alias(
            "burstiness"
        ),
    ).orderBy("event_type")


_ORACLES["ts34_burstiness"] = """
    WITH gaps AS (
      SELECT event_type,
             CAST(date_diff('second',
                            LAG(ts) OVER (PARTITION BY event_type
                                          ORDER BY ts, event_id),
                            ts) AS BIGINT) AS gap_s
      FROM events QUALIFY gap_s IS NOT NULL),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(gap_s) AS BIGINT) AS sg,
             CAST(SUM(gap_s * gap_s) AS BIGINT) AS sgg
      FROM gaps GROUP BY 1)
    SELECT event_type, n_gaps,
           FLOOR(CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS mean_gap_s,
           CASE WHEN sg > 0 THEN
             FLOOR(SQRT((CAST(sgg AS DOUBLE)
                         - CAST(sg AS DOUBLE)
                           * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                        / CAST(n_gaps AS DOUBLE))
                   / (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                   * 1e6 + 0.5) / 1e6
           END AS cv,
           CASE WHEN SQRT((CAST(sgg AS DOUBLE)
                           - CAST(sg AS DOUBLE)
                             * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                          / CAST(n_gaps AS DOUBLE))
                     + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE) > 0 THEN
             FLOOR((SQRT((CAST(sgg AS DOUBLE)
                          - CAST(sg AS DOUBLE)
                            * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                         / CAST(n_gaps AS DOUBLE))
                    - CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                   / (SQRT((CAST(sgg AS DOUBLE)
                            - CAST(sg AS DOUBLE)
                              * (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE)))
                           / CAST(n_gaps AS DOUBLE))
                      + CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
                   * 1e6 + 0.5) / 1e6
           END AS burstiness
    FROM g ORDER BY event_type
"""


MARKOV_ITERS = 12
MARKOV_CHANNELS = ("click", "error", "signup", "view")
_MARKOV_SCALE = 1_000_000  # transition probs on the 1e-6 integer grid
_MARKOV_VSCALE = 1000  # lifts p6 to the 1e-9 value grid


def _markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, p6): journey transition probabilities on the 1e-6
    integer grid. Journeys are per-user event sequences ordered by
    (ts, event_id), truncated at the first purchase; START precedes the
    first event, and journeys that end without purchasing emit a
    terminal → 'NULL' transition. p6 = (n · 1e6) DIV row_total — floor
    division, exact in any engine."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.withColumn("rn", F.row_number().over(w))
    fp = (
        r.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("fp_rn"))
    )
    j = r.join(fp, "user_id", "left").filter(
        F.col("fp_rn").isNull() | (F.col("rn") <= F.col("fp_rn"))
    )
    w2 = Window.partitionBy("user_id").orderBy("rn")
    lagged = j.withColumn("prev", F.lag("event_type").over(w2))
    trans = lagged.select(
        F.coalesce("prev", F.lit("START")).alias("src"),
        F.col("event_type").alias("dst"),
    )
    last = (
        j.withColumn(
            "mx", F.max("rn").over(Window.partitionBy("user_id"))
        )
        .filter((F.col("rn") == F.col("mx")) & (F.col("event_type") != "purchase"))
        .select(F.col("event_type").alias("src"), F.lit("NULL").alias("dst"))
    )
    counts = (
        trans.unionAll(last)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.groupBy("src").agg(F.sum("n").alias("total"))
    return counts.join(tot, "src").select(
        "src",
        "dst",
        F.expr(f"(n * {_MARKOV_SCALE}) DIV total").cast("long").alias("p6"),
    )


def _markov_conv9(
    p6: dict[tuple[str, str], int], removed: str | None
) -> int:
    """Absorption value at START on the 1e-9 integer grid after
    MARKOV_ITERS exact integer iterations:
    v'(s) = Σ_dst [dst=purchase ? p6·1000 : (p6·v(dst)) div 1e6].
    Pure int64 arithmetic — the oracle unrolls the identical steps."""
    states = sorted({s for s, _ in p6})
    v = {s: 0 for s in states}
    for _ in range(MARKOV_ITERS):
        nv = {}
        for s in states:
            if s == removed:
                continue
            acc = 0
            for (src, dst), p in p6.items():
                if src != s or dst == removed:
                    continue
                if dst == "purchase":
                    acc += p * _MARKOV_VSCALE
                else:
                    acc += (p * v.get(dst, 0)) // _MARKOV_SCALE
            nv[s] = acc
        v = nv
    return v.get("START", 0)


def j18_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain channel attribution by removal effect (the
    marketing-analytics standard, Anderl et al.): the event log
    collapses to a 6-state journey transition matrix in ONE distributed
    pass (the g01 pattern — window lag + aggregate; nothing data-sized
    afterward); conversion probability from START comes from a
    fixed-iteration absorbing-chain solve, re-run with each channel
    removed (its transitions break the journey). A channel's
    attribution share is its normalized conversion drop. All chain
    arithmetic is exact int64 on pinned grids, identical in the
    unrolled-CTE oracle; driver state is O(states²)."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    rows = _markov_transitions(spark, sf_dir).collect()  # ≤ 36 rows
    p6 = {(r["src"], r["dst"]): int(r["p6"]) for r in rows}
    full = _markov_conv9(p6, None)
    effects = {c: full - _markov_conv9(p6, c) for c in MARKOV_CHANNELS}
    tot_eff = sum(effects.values())
    out = F.array(
        *[
            F.struct(
                F.lit(c).alias("channel"),
                F.lit(int(effects[c])).cast("long").alias("effect9"),
            )
            for c in MARKOV_CHANNELS
        ]
    )
    base = spark.range(1).select(F.explode(out).alias("s")).select("s.*")
    return base.select(
        "channel",
        (F.lit(float(full)) / F.lit(1e9)).alias("conv_p"),
        (F.col("effect9").cast("double") / F.lit(1e9)).alias(
            "removal_effect"
        ),
        (
            r6(F.col("effect9").cast("double") / F.lit(float(tot_eff)))
            if tot_eff > 0
            else F.lit(None).cast("double")
        ).alias("attribution_share"),
    )


def _markov_oracle() -> str:
    trans = f"""
    ev AS (
      SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    fp AS (
      SELECT user_id, MIN(rn) AS fp_rn FROM ev
      WHERE event_type = 'purchase' GROUP BY user_id),
    j AS (
      SELECT ev.* FROM ev LEFT JOIN fp ON fp.user_id = ev.user_id
      WHERE fp.fp_rn IS NULL OR ev.rn <= fp.fp_rn),
    lagged AS (
      SELECT user_id, rn, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY rn)
               AS prev,
             MAX(rn) OVER (PARTITION BY user_id) AS mx
      FROM j),
    trans AS (
      SELECT COALESCE(prev, 'START') AS src, event_type AS dst
      FROM lagged
      UNION ALL
      SELECT event_type AS src, 'NULL' AS dst FROM lagged
      WHERE rn = mx AND event_type <> 'purchase'),
    counts AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
      FROM trans GROUP BY 1, 2),
    p AS MATERIALIZED (
      SELECT c.src, c.dst,
             CAST((c.n * {_MARKOV_SCALE})
                  // SUM(c.n) OVER (PARTITION BY c.src) AS BIGINT) AS p6
      FROM counts c)"""
    # unrolled integer iterations per scenario (None + each channel)
    scen_ctes = []
    scen_final = {}
    for tag, removed in [("full", None)] + [
        (c, c) for c in MARKOV_CHANNELS
    ]:
        cond = (
            f"src <> '{removed}' AND dst <> '{removed}'"
            if removed
            else "TRUE"
        )
        scen_ctes.append(
            f"p_{tag} AS MATERIALIZED (SELECT * FROM p WHERE {cond})"
        )
        prev = None
        for i in range(MARKOV_ITERS):
            name = f"v_{tag}_{i}"
            if prev is None:
                term = (
                    f"CASE WHEN p.dst = 'purchase'"
                    f" THEN p.p6 * {_MARKOV_VSCALE} ELSE 0 END"
                )
                scen_ctes.append(
                    f"""{name} AS MATERIALIZED (
      SELECT p.src AS state, CAST(SUM({term}) AS BIGINT) AS v9
      FROM p_{tag} p GROUP BY 1)"""
                )
            else:
                term = (
                    f"CASE WHEN p.dst = 'purchase'"
                    f" THEN p.p6 * {_MARKOV_VSCALE}"
                    f" ELSE (p.p6 * COALESCE(v.v9, 0)) // {_MARKOV_SCALE}"
                    f" END"
                )
                scen_ctes.append(
                    f"""{name} AS MATERIALIZED (
      SELECT p.src AS state, CAST(SUM({term}) AS BIGINT) AS v9
      FROM p_{tag} p LEFT JOIN {prev} v ON v.state = p.dst
      GROUP BY 1)"""
                )
            prev = name
        scen_final[tag] = (
            f"(SELECT COALESCE(MAX(v9), 0) FROM {prev}"
            f" WHERE state = 'START')"
        )
    full = scen_final["full"]
    eff = {c: f"({full} - {scen_final[c]})" for c in MARKOV_CHANNELS}
    tot = " + ".join(eff.values())
    rows = ", ".join(f"('{c}')" for c in MARKOV_CHANNELS)
    arms = " ".join(
        f"WHEN '{c}' THEN {eff[c]}" for c in MARKOV_CHANNELS
    )
    return (
        "WITH "
        + trans
        + ",\n"
        + ",\n".join(scen_ctes)
        + f""",
    chan(channel) AS (VALUES {rows}),
    eff AS (SELECT channel,
                   CAST(CASE channel {arms} END AS BIGINT) AS effect9
            FROM chan)
    SELECT channel,
           CAST({full} AS DOUBLE) / 1e9 AS conv_p,
           CAST(effect9 AS DOUBLE) / 1e9 AS removal_effect,
           CASE WHEN ({tot}) > 0 THEN
             FLOOR(CAST(effect9 AS DOUBLE) / CAST(({tot}) AS DOUBLE)
                   * 1e6 + 0.5) / 1e6
           END AS attribution_share
    FROM eff
    """
    )


_ORACLES["j18_markov_attribution"] = _markov_oracle()


def v23_observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight data-quality counters via ``df.observe()`` (the
    Observation API): the QA aggregates ride the SAME job as the
    pipeline pass — zero extra scans, unlike v01's dedicated audit
    query. The observed pass here is q15's hourly-rollup shape executed
    to a noop sink; the entry returns the observation as a 1-row table.
    At 100 TB this is how ingest QA actually runs: counters accumulate
    map-side inside the already-paid scan, and the driver reads O(1)
    metric values — no second pass, no sampling."""
    from pyspark.sql import Observation

    ev = _events(spark, sf_dir)
    obs = Observation("v23")
    staged = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias(
            "n_negative_value"
        ),
        F.sum(F.when(F.col("event_type").isNull(), 1).otherwise(0)).alias(
            "n_null_type"
        ),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )
    # the observed pass: the q15 hourly rollup, run to completion
    (
        staged.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    # Empty-input degradation (ADVICE r3): when the source is empty, AQE
    # collapses the plan to an empty relation and the CollectMetrics node
    # never runs a task, so the observation resolves to a SIZE-ZERO row
    # with no schema (obs.get would die inside toPyRow on it, Spark
    # 4.1.2). Zero tasks executed ⇒ zero input rows ⇒ the metrics are
    # exactly the SQL oracle's empty-input aggregates: COUNT = 0,
    # SUM/MIN/MAX = NULL. The size-zero probe touches a private JVM
    # accessor pinned to 4.1.2 internals, so it is best-effort: if a
    # Spark upgrade changes Observation's private API, fall through to
    # the supported obs.get and map ITS empty-row failure to the same
    # documented empty-metrics path (ADVICE r4).
    _EMPTY_METRICS = {
        "n_rows": 0,
        "n_negative_value": None,
        "n_null_type": None,
        "min_ts": None,
        "max_ts": None,
    }
    try:
        empty_row = obs._jo.getRow().size() == 0
    except Exception:
        empty_row = False
    if empty_row:
        m = _EMPTY_METRICS
    else:
        try:
            m = obs.get
        except Exception:
            # toPyRow on a size-zero observation row — the empty-input
            # degradation reached through the supported surface
            m = _EMPTY_METRICS
    _long = lambda v: (  # noqa: E731
        F.lit(int(v)) if v is not None else F.lit(None)
    ).cast("long")
    # string -> NTZ parse is timezone-free; F.lit(datetime) would
    # round-trip through an LTZ literal in the SESSION zone and
    # shift under a non-UTC driver session
    _ts = lambda v: (  # noqa: E731
        F.lit(v.isoformat(sep=" ")) if v is not None else F.lit(None)
    ).cast("timestamp_ntz")
    return spark.range(1).select(
        _long(m["n_rows"]).alias("n_rows"),
        _long(m["n_negative_value"]).alias("n_negative_value"),
        _long(m["n_null_type"]).alias("n_null_type"),
        _ts(m["min_ts"]).alias("min_ts"),
        _ts(m["max_ts"]).alias("max_ts"),
    )


_ORACLES["v23_observed_metrics"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_negative_value,
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null_type,
           MIN(ts) AS min_ts,
           MAX(ts) AS max_ts
    FROM events
"""


FUNNEL_WINDOW_S = 1800


def j17_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """windowFunnel (the ClickHouse/analytics-engine operator): per
    user, the deepest view→click→purchase chain where each step follows
    the previous within 30 minutes, anchored at the user's EARLIEST
    view. Built by CHAINING two forward as-of joins (the union-tag
    single-shuffle merge, twice) — no per-user UDF scan, no
    event-sequence explode; gaps are whole-second (v20 rule), depth is
    pure CASE arithmetic on the carried timestamps."""
    from mbta_etl_spark.operators import temporal

    ev = _events(spark, sf_dir)
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    gap = lambda a, b: F.expr(  # noqa: E731
        f"timestampdiff(SECOND, date_trunc('second', {a}),"
        f" date_trunc('second', {b}))"
    ).cast("long")
    s2 = temporal.asof_join(
        views, clicks, on="user_id", ts="ts", payload=[], direction="forward"
    ).select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("r_ts").alias("click_ts"),
        gap("ts", "r_ts").alias("gap1_s"),
    )
    s2 = s2.select(
        "user_id",
        "view_ts",
        F.when(
            F.col("gap1_s").isNotNull()
            & (F.col("gap1_s") <= FUNNEL_WINDOW_S),
            F.col("click_ts"),
        ).alias("click_ts"),
    )
    # second hop: qualified clicks look forward to the next purchase
    hop2 = s2.filter(F.col("click_ts").isNotNull()).select(
        "user_id", F.col("click_ts").alias("ts")
    )
    s3 = temporal.asof_join(
        hop2, purchases, on="user_id", ts="ts", payload=[],
        direction="forward",
    ).select(
        "user_id",
        F.col("ts").alias("click_ts2"),
        F.when(
            gap("ts", "r_ts").isNotNull()
            & (gap("ts", "r_ts") <= FUNNEL_WINDOW_S),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("has_purchase"),
    )
    joined = s2.join(
        s3.select("user_id", "has_purchase"), "user_id", "left"
    )
    depth = (
        F.lit(1)
        + F.when(F.col("click_ts").isNotNull(), 1).otherwise(0)
        + F.coalesce(F.col("has_purchase"), F.lit(0))
    )
    return joined.select(
        "user_id", depth.cast("long").alias("funnel_depth")
    )


_ORACLES["j17_window_funnel"] = f"""
    WITH v AS (
      SELECT user_id, MIN(ts) AS view_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    s2 AS (
      SELECT v.user_id, v.view_ts, MIN(c.ts) AS click_raw
      FROM v LEFT JOIN c ON c.user_id = v.user_id AND c.ts >= v.view_ts
      GROUP BY 1, 2),
    s2q AS (
      SELECT user_id, view_ts,
             CASE WHEN click_raw IS NOT NULL
                   AND date_diff('second',
                         date_trunc('second', view_ts),
                         date_trunc('second', click_raw))
                       <= {FUNNEL_WINDOW_S}
                  THEN click_raw END AS click_ts
      FROM s2),
    s3 AS (
      SELECT s.user_id, MIN(p.ts) AS purchase_raw
      FROM s2q s JOIN p ON p.user_id = s.user_id AND p.ts >= s.click_ts
      WHERE s.click_ts IS NOT NULL
      GROUP BY 1),
    s3q AS (
      SELECT s.user_id,
             CASE WHEN s3.purchase_raw IS NOT NULL
                   AND date_diff('second',
                         date_trunc('second', s.click_ts),
                         date_trunc('second', s3.purchase_raw))
                       <= {FUNNEL_WINDOW_S}
                  THEN 1 ELSE 0 END AS has_purchase
      FROM s2q s LEFT JOIN s3 ON s3.user_id = s.user_id
      WHERE s.click_ts IS NOT NULL)
    SELECT s.user_id,
           CAST(1 + (CASE WHEN s.click_ts IS NOT NULL THEN 1 ELSE 0 END)
                  + COALESCE(q.has_purchase, 0) AS BIGINT) AS funnel_depth
    FROM s2q s LEFT JOIN s3q q ON q.user_id = s.user_id
"""


J16_HORIZON_S = 3600


def j16_orphan_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANTI as-of join: purchases with NO view by the same user within
    the preceding hour — the attribution-QA complement of j01 (which
    attaches the match; this surfaces the rows that have none). Same
    union-tag single-shuffle merge, then the negative filter on the
    carried timestamp: no extra join, no NOT-EXISTS subquery, no
    nested loop. gap_s is whole-second (both operands second-truncated,
    the v20 rule); NULL gap = the user never viewed before buying."""
    from mbta_etl_spark.operators import temporal

    ev = _events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = temporal.asof_join(
        purchases, views, on="user_id", ts="ts", payload=[]
    )
    gap = F.expr(
        "timestampdiff(SECOND, date_trunc('second', r_ts),"
        " date_trunc('second', ts))"
    ).cast("long")
    return (
        j.select("event_id", "user_id", "ts", gap.alias("gap_s"))
        .filter(F.col("gap_s").isNull() | (F.col("gap_s") > J16_HORIZON_S))
    )


_ORACLES["j16_orphan_conversions"] = f"""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    p AS (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'purchase'),
    lastv AS (
      SELECT p.event_id, p.user_id, p.ts, MAX(v.ts) AS view_ts
      FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
      GROUP BY 1, 2, 3)
    SELECT event_id, user_id, ts,
           CAST(date_diff('second', date_trunc('second', view_ts),
                          date_trunc('second', ts)) AS BIGINT) AS gap_s
    FROM lastv
    WHERE view_ts IS NULL
       OR date_diff('second', date_trunc('second', view_ts),
                    date_trunc('second', ts)) > {J16_HORIZON_S}
"""


def j15_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click attaches the NEXT purchase by the
    same user at-or-after the click, plus the whole-second conversion
    lag — j01's attribution mirrored into time-to-convert. Same
    union-tag single-shuffle merge shape (operators/temporal.asof_join
    with direction="forward"); the lag is exact after second-truncating
    both operands (the v20 cross-engine rule)."""
    from pyspark.sql import Window

    from mbta_etl_spark.operators import temporal

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    # deterministic winner on (user, ts) ties: max purchase_id
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("purchase_id").desc())
    purchases = (
        purchases.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    out = temporal.asof_join(
        clicks,
        purchases,
        on="user_id",
        ts="ts",
        payload=["purchase_id", "purchase_value"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("r_ts").alias("purchase_ts"),
        F.col("r_purchase_id").alias("purchase_id"),
        F.expr(
            "timestampdiff(SECOND, date_trunc('second', ts),"
            " date_trunc('second', r_ts))"
        ).alias("secs_to_convert"),
    )


_ORACLES["j15_asof_forward"] = """
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts, event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
      QUALIFY row_number()
        OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    )
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS purchase_ts, p.purchase_id,
           CAST(date_diff('second', c.ts, p.ts) AS BIGINT)
             AS secs_to_convert
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts <= p.ts
"""


V22_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def v22_duplicate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-row duplicate census for every warehouse table: row count,
    distinct full-row count, and the duplicate surplus — the ingestion
    double-load detector (v17's pk-unique flag catches key collisions;
    this catches the re-ingested batch whose rows are entirely
    identical, which a pk-distinct check on a generated key misses).
    One scan per table with a two-stage exact distinct over the full
    row struct (map-side dedup first — shuffled rows ~ #distinct, the
    q24 envelope); the 10-row union is plan-level."""
    out = None
    for tbl in V22_TABLES:
        df = load_table(spark, sf_dir, tbl)
        agg = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct(F.struct(*df.columns)).alias("n_distinct"),
        ).select(
            F.lit(tbl).alias("tbl"),
            "n_rows",
            "n_distinct",
            (F.col("n_rows") - F.col("n_distinct")).alias("n_dup_rows"),
        )
        out = agg if out is None else out.unionByName(agg)
    return out.orderBy("tbl")


_ORACLES["v22_duplicate_rows"] = " UNION ALL ".join(
    f"""
    SELECT '{tbl}' AS tbl,
           CAST((SELECT COUNT(*) FROM {tbl}) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM (SELECT DISTINCT * FROM {tbl}))
                AS BIGINT) AS n_distinct,
           CAST((SELECT COUNT(*) FROM {tbl})
                - (SELECT COUNT(*) FROM (SELECT DISTINCT * FROM {tbl}))
                AS BIGINT) AS n_dup_rows
    """
    for tbl in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split()
) + " ORDER BY tbl"


STL_ANOM_K = 3  # MAD multiples for the anomaly threshold


def ts33_stl_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly census on STL residuals: after ts30 strips trend and
    weekly seasonality, a bucket is anomalous when its residual
    deviates from the residual median by more than K=3 residual-MADs —
    the robust detector ts27 runs on RAW seasonal buckets, upgraded to
    run on the decomposed remainder (so a drifting level or a strong
    weekday cycle no longer masks true outliers). Per series: buckets,
    anomaly count, the median/MAD location-scale pair, max |deviation|.

    Exactness: residuals are 1e-6-grid doubles, so median, deviation,
    and MAD are exact grid arithmetic; medians are the discrete
    lower-median (q09's integer-division OFFSET idiom via rank
    windows). Shape: two rank windows + aggregates over the
    bucket-count-sized stl table — nothing event-sized."""
    from pyspark.sql import Window

    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    stl = timeseries.stl_decompose(
        ev, ["event_type"], "ts", "value", STL_PERIOD
    ).select("event_type", "bucket", "resid")
    wcnt = Window.partitionBy("event_type")
    wmed = Window.partitionBy("event_type").orderBy("resid", "bucket")
    med = (
        stl.withColumn("_n", F.count(F.lit(1)).over(wcnt))
        .withColumn("_rn", F.row_number().over(wmed))
        .filter(F.col("_rn") == F.expr("(_n - 1) div 2 + 1"))
        .select("event_type", F.col("resid").alias("med"))
    )
    dev = stl.join(med, "event_type").withColumn(
        "dev", F.abs(F.col("resid") - F.col("med"))
    )
    wmad = Window.partitionBy("event_type").orderBy("dev", "bucket")
    mad = (
        dev.withColumn("_n", F.count(F.lit(1)).over(wcnt))
        .withColumn("_rn", F.row_number().over(wmad))
        .filter(F.col("_rn") == F.expr("(_n - 1) div 2 + 1"))
        .select("event_type", F.col("dev").alias("mad"))
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(
                (F.col("dev") > F.lit(STL_ANOM_K) * F.col("mad")).cast("long")
            ).alias("n_anomalies"),
            F.min("med").alias("resid_median"),
            F.min("mad").alias("resid_mad"),
            F.max("dev").alias("max_dev"),
        )
        .orderBy("event_type")
    )


def _ts33_oracle() -> str:
    return f"""
    WITH stl AS ({_ORACLES["ts30_stl_decompose"]}),
    r AS (SELECT event_type, bucket, resid FROM stl),
    med AS (
      SELECT event_type, resid AS med FROM (
        SELECT event_type, resid,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY resid, bucket) AS rn
        FROM r)
      WHERE rn = (n - 1) // 2 + 1),
    dev AS (
      SELECT r.event_type, r.bucket, ABS(r.resid - m.med) AS dev, m.med
      FROM r JOIN med m ON m.event_type = r.event_type),
    mad AS (
      SELECT event_type, dev AS mad FROM (
        SELECT event_type, dev,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY dev, bucket) AS rn
        FROM dev)
      WHERE rn = (n - 1) // 2 + 1)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN d.dev > {STL_ANOM_K} * a.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           MIN(d.med) AS resid_median,
           MIN(a.mad) AS resid_mad,
           MAX(d.dev) AS max_dev
    FROM dev d JOIN mad a ON a.event_type = d.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """


_ORACLES["ts33_stl_anomaly"] = _ts33_oracle()


def q100_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode per group: the most frequent integer value bucket per
    event type, with a lowest-bucket deterministic tie-break — the
    categorical summary statistic SQL lacks a portable aggregate for
    (Spark's ``mode()`` and DuckDB's ``mode()`` both leave ties
    implementation-defined, so the portable form is count + rank, which
    is also the shape that scales: one map-side-combinable (type,
    bucket) count, then a rank window over the tiny count table).
    Reports the mode bucket, its count, and its share of the type."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    from pyspark.sql import Window

    counts = (
        _events(spark, sf_dir)
        .select(
            "event_type", F.floor(F.col("value")).cast("long").alias("bucket")
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.groupBy("event_type").agg(F.sum("n").alias("_tot"))
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.asc("bucket")
    )
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("bucket").alias("mode_bucket"),
            F.col("n").alias("mode_n"),
            r6(F.col("n").cast("double") / F.col("_tot").cast("double")).alias(
                "mode_share"
            ),
        )
        .orderBy("event_type")
    )


_ORACLES["q100_mode_per_group"] = """
    WITH counts AS (
      SELECT event_type,
             CAST(FLOOR(value) AS BIGINT) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot
            FROM counts GROUP BY 1),
    ranked AS (
      SELECT event_type, bucket, n,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY n DESC, bucket ASC) AS rn
      FROM counts)
    SELECT r.event_type,
           r.bucket AS mode_bucket,
           r.n AS mode_n,
           FLOOR(CAST(r.n AS DOUBLE) / CAST(t.tot AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS mode_share
    FROM ranked r JOIN tot t ON t.event_type = r.event_type
    WHERE r.rn = 1 ORDER BY r.event_type
"""


COALESCE_HOLD_S = 300


def j14_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union (gaps-and-islands on ranges): every event opens a
    5-minute activity interval; overlapping intervals per (user, type)
    stream merge into islands — the dedup that turns raw event ranges
    into true busy-time before any utilization or billing math. Per
    event type: raw intervals, merged islands, total covered
    microseconds, and the merge ratio.

    The island detector is the standard running-max form: an interval
    starts a new island iff its start exceeds the max end of ALL
    earlier intervals in its partition (a plain cummax window — one
    shuffle on (user, type), the q18 sessionization envelope).
    Everything is timestamp comparisons and microsecond diffs — exact
    integers in both engines at the storage resolution."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    iv = _events(spark, sf_dir).select(
        "user_id",
        "event_type",
        F.col("ts").alias("start"),
        F.expr(f"ts + INTERVAL {COALESCE_HOLD_S} SECOND").alias("end"),
    )
    wprev = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = iv.withColumn("prev_end", F.max("end").over(wprev)).withColumn(
        "new_island",
        (F.col("prev_end").isNull() | (F.col("start") > F.col("prev_end")))
        .cast("long"),
    )
    islands = (
        marked.withColumn("island", F.sum("new_island").over(wrun))
        .groupBy("user_id", "event_type", "island")
        .agg(
            F.min("start").alias("s"),
            F.max("end").alias("e"),
            F.count(F.lit(1)).alias("n_raw"),
        )
    )
    return (
        islands.groupBy("event_type")
        .agg(
            F.sum("n_raw").alias("n_intervals"),
            F.count(F.lit(1)).alias("n_islands"),
            F.sum(F.expr("timestampdiff(MICROSECOND, s, e)")).alias(
                "covered_us"
            ),
        )
        .select(
            "event_type",
            "n_intervals",
            "n_islands",
            "covered_us",
            r6(
                F.lit(1.0)
                - F.col("n_islands").cast("double")
                / F.col("n_intervals").cast("double")
            ).alias("merge_ratio"),
        )
        .orderBy("event_type")
    )


_ORACLES["j14_interval_coalesce"] = f"""
    WITH iv AS (
      SELECT user_id, event_type, ts AS s0,
             ts + INTERVAL {COALESCE_HOLD_S} SECOND AS e0
      FROM events),
    marked AS (
      SELECT user_id, event_type, s0, e0,
             MAX(e0) OVER (PARTITION BY user_id, event_type ORDER BY s0
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS prev_end
      FROM iv),
    flagged AS (
      SELECT user_id, event_type, s0, e0,
             CASE WHEN prev_end IS NULL OR s0 > prev_end
                  THEN 1 ELSE 0 END AS new_island
      FROM marked),
    numbered AS (
      SELECT user_id, event_type, s0, e0,
             CAST(SUM(new_island) OVER (PARTITION BY user_id, event_type
                                        ORDER BY s0
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT)
               AS island
      FROM flagged),
    islands AS (
      SELECT user_id, event_type, island,
             MIN(s0) AS s, MAX(e0) AS e,
             CAST(COUNT(*) AS BIGINT) AS n_raw
      FROM numbered GROUP BY 1, 2, 3)
    SELECT event_type,
           CAST(SUM(n_raw) AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(date_diff('microsecond', s, e)) AS BIGINT)
             AS covered_us,
           FLOOR((1.0 - CAST(COUNT(*) AS DOUBLE)
                        / CAST(SUM(n_raw) AS DOUBLE)) * 1e6 + 0.5) / 1e6
             AS merge_ratio
    FROM islands GROUP BY event_type ORDER BY event_type
"""


KCORE_SAMPLE_RATE = 0.10
KCORE_SALT = "g06"
KCORE_ROUNDS = 6


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared customer co-purchase edge builder (g06/g07): parts 10%
    hash-sampled, bipartite projection through orders, distinct
    undirected (ua < ub) pairs.

    Plan (round 5): the old (pk,ck)-distinct → self-join-on-pk →
    pair-distinct chain cost FOUR exchanges and shuffled the incidence
    table twice. Since customers-per-part is bounded (~30, constant in
    SF — the g05 argument), the projection is cheaper as ONE groupBy pk
    with a map-side-combining collect_set (dedup rides the partial agg,
    no separate distinct), then JVM-side ordered-pair generation from
    the sorted array (nested TRANSFORM/SLICE HOFs — sort_array makes
    index order ⟺ ua < ub), then the final pair distinct: two
    exchanges total, and the per-part quadratic term is the same one
    the self-join always had."""
    from mbta_etl_spark.operators.sampling import hash_sample

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    li = hash_sample(
        li, F.col("l_partkey"), KCORE_SAMPLE_RATE, salt=KCORE_SALT
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    inc = li.join(od, li["l_orderkey"] == od["o_orderkey"]).select(
        F.col("l_partkey").alias("pk"), F.col("o_custkey").alias("ck")
    )
    buyers = inc.groupBy("pk").agg(
        F.array_sort(F.collect_set("ck")).alias("cs")
    )
    pair_lists = F.flatten(
        F.transform(
            F.col("cs"),
            lambda x, i: F.transform(
                F.slice(F.col("cs"), i + F.lit(2), F.size(F.col("cs"))),
                lambda y: F.struct(x.alias("ua"), y.alias("ub")),
            ),
        )
    )
    return (
        buyers.select(F.explode(pair_lists).alias("p"))
        .select("p.ua", "p.ub")
        .distinct()
    )


def g07_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph (Newman's r): the
    Pearson correlation of endpoint degrees over all edges, both
    orientations — positive = hubs buy what hubs buy, negative =
    hub-leaf structure, ~0 = neutral mixing. The one-scalar topology
    readout that decides whether g06's core peel or j07's salting is
    even warranted. Exact int64 power sums (degrees bounded by the g05
    projection argument keep d² sums far inside int64), one pinned
    division at the end; cost = one degree aggregate + two key joins."""
    from mbta_etl_spark.operators.core import materialize

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    # Round-8 optimization (guide §2.4/§5): e feeds deg AND both sides
    # of ed; unmaterialized, the whole edge-projection pipeline was
    # recomputed once per consumer — and the both-orientations unionAll
    # DOUBLED the entire subtree again (40 parquet scans in one plan;
    # plans/r08/g07_assortativity_before.txt). Materialize e once, and
    # fold the orientation-doubling into EXACT int64 moment algebra
    # over the single-orientation edge list instead of a union:
    #   n₂ = 2n, sx₂ = sy₂ = sx+sy, sxy₂ = 2·sxy,
    #   sxx₂ = syy₂ = sxx+syy
    # — integer identities, so the final double division is
    # bit-identical to the doubled-row aggregate the oracle computes.
    e = materialize(_copurchase_edges(spark, sf_dir))
    deg = (
        e.select(F.col("ua").alias("node"))
        .unionAll(e.select("ub"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = (
        e.join(deg.withColumnRenamed("node", "ua"), "ua")
        .withColumnRenamed("d", "x")
        .join(deg.withColumnRenamed("node", "ub"), "ub")
        .withColumnRenamed("d", "y")
        .select("x", "y")
    )
    s = ed.agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum("x").alias("sx1"),
        F.sum("y").alias("sy1"),
        F.sum(F.col("x") * F.col("y")).alias("sxy1"),
        F.sum(F.col("x") * F.col("x")).alias("sxx1"),
        F.sum(F.col("y") * F.col("y")).alias("syy1"),
    ).select(
        (F.col("n1") * 2).alias("n"),
        (F.col("sx1") + F.col("sy1")).alias("sx"),
        (F.col("sx1") + F.col("sy1")).alias("sy"),
        (F.col("sxy1") * 2).alias("sxy"),
        (F.col("sxx1") + F.col("syy1")).alias("sxx"),
        (F.col("sxx1") + F.col("syy1")).alias("syy"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (n * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_endpoints"),
        r6(num / (F.sqrt(vx) * F.sqrt(vy))).alias("assortativity"),
    )


_ORACLES["g07_assortativity"] = f"""
    WITH inc AS MATERIALIZED (
      SELECT DISTINCT l.l_partkey AS pk, o.o_custkey AS ck
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE CAST(('0x' || substr(md5('{KCORE_SALT}'
                 || CAST(l.l_partkey AS VARCHAR)), 1, 8)) AS UBIGINT)
              % 10000 < {int(KCORE_SAMPLE_RATE * 10000)}),
    e AS MATERIALIZED (
      SELECT DISTINCT a.ck AS ua, b.ck AS ub
      FROM inc a JOIN inc b ON a.pk = b.pk AND a.ck < b.ck),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT ua AS node FROM e UNION ALL SELECT ub FROM e)
      GROUP BY 1),
    ed AS MATERIALIZED (
      SELECT da.d AS x, db.d AS y
      FROM e JOIN deg da ON da.node = e.ua JOIN deg db ON db.node = e.ub),
    dbl AS (SELECT x, y FROM ed UNION ALL SELECT y AS x, x AS y FROM ed),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM dbl)
    SELECT n AS n_endpoints,
           FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS assortativity
    FROM s
"""


def g06_kcore_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peel of the customer co-purchase graph — the
    cohesion filter web/graph pipelines run before trusting a cluster
    (a dense core survives; tendrils and stars do not). Nodes are
    customers, edges connect customers that bought the same part;
    parts are 10% hash-sampled (deterministic md5 bucket, the q26
    mechanism) so the projection cost is tunable independently of SF.
    k = ceil(E/N), the half-mean-degree threshold, derived from the
    graph itself so the entry is scale-adaptive; the peel runs exactly
    KCORE_ROUNDS rounds (remove nodes with degree < k, drop their
    edges, repeat) and reports the per-round census plus whether the
    peel reached its fixpoint — bounded-round semantics, identical in
    the unrolled-CTE oracle.

    Shape at 100 TB: the projection's quadratic term is bounded by
    customers-per-part (~30, constant in SF — the g05 bipartite
    argument); each round is one map-side-combinable degree agg and
    two semi-join-shaped filters on a localCheckpointed, monotonically
    SHRINKING edge table; census counts are O(1) driver values, never
    node lists.

    Census fusion (VERDICT r4 item 6): the census rides the degree
    aggregation as free Observation metrics instead of a separate
    explode + count_distinct job per round — n_nodes is the degree-table
    row count and n_edges is Σd/2 (handshake lemma), both collected by
    the SAME job that materializes the degree checkpoint the peel needs
    anyway. Two jobs per round become one degree job plus one
    broadcast-join edge rebuild — and since round 9, interior rounds
    fuse those two as well: the census observation rides the degree
    subtree INSIDE the rebuild job, so each peel round is ONE job
    (round 0 keeps the split because k is derived from its census;
    the final round has nothing to rebuild). The peel only ever
    REMOVES edges, so
    m_i == m_{i-1} proves e_i == e_{i-1} exactly — from that round on
    every census row is a copy and the remaining rounds run ZERO jobs
    (the fixpoint short-circuit; an empty graph is the degenerate
    case). Degrees come from a single-scan explode of both endpoints
    rather than a two-scan self-union (measured ~30% off the per-round
    wall at sf0.1)."""
    from pyspark.sql import Observation

    e = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    census: list[tuple[int, int, int]] = []
    k = 0

    def _deg(edges: DataFrame) -> DataFrame:
        return (
            edges.select(
                F.explode(F.array(F.col("ua"), F.col("ub"))).alias("node")
            )
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    def _census_fallback(edges: DataFrame) -> tuple[int, int]:
        # AQE collapsed the plan to an empty relation and the
        # CollectMetrics row came back size-zero (the v23 empty-input
        # degradation) — direct tiny agg over the node-sized degrees
        row = _deg(edges).agg(
            F.count(F.lit(1)).alias("n"), F.sum("d").alias("twom")
        ).collect()[0]
        return int(row["n"]), int(row["twom"] or 0) // 2

    for i in range(KCORE_ROUNDS + 1):
        converged_m = (
            len(census) >= 2 and census[-1][2] == census[-2][2]
        ) or (census and census[-1][2] == 0)
        if converged_m:
            census.append((i, census[-1][1], census[-1][2]))
            continue
        obs = Observation(f"g06_census_{i}")
        deg_obs = _deg(e).observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum("d").alias("twom"),
        )
        if i == 0 or i == KCORE_ROUNDS:
            # round 0: k is derived FROM this census, so the degree
            # table must land before the first rebuild can be planned;
            # final round: census only, nothing left to rebuild
            deg = deg_obs.localCheckpoint(eager=True)
            try:
                m = obs.get
                n_i = int(m["n"])
                m_i = int(m["twom"] or 0) // 2
            except Exception:
                n_i, m_i = _census_fallback(e)
            census.append((i, n_i, m_i))
            if i == 0:
                n0, e0 = n_i, m_i
                k = (e0 + n0 - 1) // n0 if n0 else 0
            if i < KCORE_ROUNDS and m_i > 0:
                alive = deg.filter(F.col("d") >= k).select("node")
                e = (
                    e.join(alive.withColumnRenamed("node", "ua"), "ua")
                    .join(alive.withColumnRenamed("node", "ub"), "ub")
                    .select("ua", "ub")
                    .localCheckpoint(eager=True)
                )
        else:
            # Fused round (r9, VERDICT item 3): the round-i census rides
            # the degree subtree of the ROUND-i+1 edge rebuild as
            # observed metrics, so one job both counts the graph and
            # materializes the peeled edges — one job per round instead
            # of a degree job plus a rebuild job. The ub-side filter is
            # built WITHOUT the observation (a second CollectMetrics
            # with the same name in one plan is illegal); its partial
            # aggregation reuses the ua side's exchange. If this round
            # empties the graph the rebuild joins against an empty
            # alive set — harmless, and the converged short-circuit
            # copies census rows from the next iteration on, exactly as
            # before.
            alive_a = deg_obs.filter(F.col("d") >= k).select("node")
            alive_b = _deg(e).filter(F.col("d") >= k).select("node")
            e_prev = e
            e = (
                e.join(alive_a.withColumnRenamed("node", "ua"), "ua")
                .join(alive_b.withColumnRenamed("node", "ub"), "ub")
                .select("ua", "ub")
                .localCheckpoint(eager=True)
            )
            try:
                m = obs.get
                n_i = int(m["n"])
                m_i = int(m["twom"] or 0) // 2
            except Exception:
                # census is of the PRE-rebuild graph
                n_i, m_i = _census_fallback(e_prev)
            census.append((i, n_i, m_i))
    converged = census[-1][2] == census[-2][2]
    rows = F.array(
        *[
            F.struct(
                F.lit(r).cast("long").alias("round"),
                F.lit(n).cast("long").alias("n_nodes"),
                F.lit(m).cast("long").alias("n_edges"),
            )
            for r, n, m in census
        ]
    )
    return (
        spark.range(1)
        .select(F.explode(rows).alias("s"))
        .select(
            F.col("s.round").alias("round"),
            F.lit(int(k)).cast("long").alias("k"),
            F.col("s.n_nodes").alias("n_nodes"),
            F.col("s.n_edges").alias("n_edges"),
            F.lit(bool(converged)).alias("converged"),
        )
    )


def _kcore_oracle() -> str:
    """Unrolled peel rounds as MATERIALIZED CTEs (DuckDB inlines plain
    CTEs, which makes the chained references exponential)."""
    bucket = (
        "CAST(('0x' || substr(md5('"
        + KCORE_SALT
        + "' || CAST(l.l_partkey AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000"
    )
    parts = [
        f"""
    inc AS MATERIALIZED (
      SELECT DISTINCT l.l_partkey AS pk, o.o_custkey AS ck
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE {bucket} < {int(KCORE_SAMPLE_RATE * 10000)}
    ),
    r0 AS MATERIALIZED (
      SELECT DISTINCT a.ck AS ua, b.ck AS ub
      FROM inc a JOIN inc b ON a.pk = b.pk AND a.ck < b.ck
    ),
    n0 AS MATERIALIZED (SELECT ua AS node FROM r0 UNION SELECT ub FROM r0),
    kv AS MATERIALIZED (
      SELECT CAST(((SELECT COUNT(*) FROM r0) + (SELECT COUNT(*) FROM n0) - 1)
                  // (SELECT COUNT(*) FROM n0) AS BIGINT) AS k)"""
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        p = i - 1
        parts.append(
            f"""
    d{i} AS MATERIALIZED (
      SELECT node, COUNT(*) AS d FROM (
        SELECT ua AS node FROM r{p} UNION ALL SELECT ub FROM r{p})
      GROUP BY 1),
    a{i} AS MATERIALIZED (
      SELECT node FROM d{i} WHERE d >= (SELECT k FROM kv)),
    r{i} AS MATERIALIZED (
      SELECT e.ua, e.ub FROM r{p} e
      JOIN a{i} x ON e.ua = x.node JOIN a{i} y ON e.ub = y.node)"""
        )
    cens = ",\n".join(
        f"""    c{i} AS MATERIALIZED (
      SELECT {i} AS round,
             (SELECT COUNT(*) FROM
               (SELECT ua FROM r{i} UNION SELECT ub FROM r{i})) AS n_nodes,
             (SELECT COUNT(*) FROM r{i}) AS n_edges)"""
        for i in range(KCORE_ROUNDS + 1)
    )
    un = " UNION ALL ".join(
        f"SELECT * FROM c{i}" for i in range(KCORE_ROUNDS + 1)
    )
    last, prev = KCORE_ROUNDS, KCORE_ROUNDS - 1
    return (
        "WITH "
        + ",".join(parts)
        + ",\n"
        + cens
        + f"""
    SELECT CAST(round AS BIGINT) AS round, kv.k,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           ((SELECT n_edges FROM c{last}) = (SELECT n_edges FROM c{prev}))
             AS converged
    FROM ({un}) CROSS JOIN kv
    """
    )


_ORACLES["g06_kcore_census"] = _kcore_oracle()


def g05_co_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection of the user↔event-type graph: for every
    pair of event types, how many users touch BOTH, with Jaccard
    overlap and lift vs independence — the co-engagement graph behind
    "users who do A also do B" (v15's chi² says WHETHER types are
    independent; this says WHICH pairs co-occur and how strongly).

    Shape: distinct (user, type) incidence (one dedup shuffle), then
    the self-join on user_id — cost Σ_u deg(u)², bounded because
    deg(u) ≤ #types, the classic bipartite-projection bound; pair
    aggregation is map-side combinable and the size/total joins are
    broadcast O(#types) frames. All ratios are single pinned divisions
    of int64 counts."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ut = (
        _events(spark, sf_dir).select("user_id", "event_type").distinct()
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    co = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("co_users"))
    )
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    nu = ut.agg(F.countDistinct("user_id").alias("_nu"))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    cu = F.col("co_users").cast("double")
    return (
        co.join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(nu))
        .select(
            "type_a",
            "type_b",
            "co_users",
            "n_a",
            "n_b",
            r6(cu / (na + nb - cu)).alias("jaccard"),
            r6(cu * F.col("_nu").cast("double") / (na * nb)).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


_ORACLES["g05_co_engagement"] = """
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    co AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS co_users
      FROM ut a JOIN ut b
      ON b.user_id = a.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2),
    sizes AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
              FROM ut GROUP BY 1),
    nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS nu FROM ut)
    SELECT c.type_a, c.type_b, c.co_users,
           sa.n AS n_a, sb.n AS n_b,
           FLOOR(CAST(c.co_users AS DOUBLE)
                 / (CAST(sa.n AS DOUBLE) + CAST(sb.n AS DOUBLE)
                    - CAST(c.co_users AS DOUBLE)) * 1e6 + 0.5) / 1e6
             AS jaccard,
           FLOOR(CAST(c.co_users AS DOUBLE) * CAST(nu.nu AS DOUBLE)
                 / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS lift
    FROM co c
    JOIN sizes sa ON sa.event_type = c.type_a
    JOIN sizes sb ON sb.event_type = c.type_b, nu
    ORDER BY c.type_a, c.type_b
"""


import math as _math

BENFORD_EXP6 = {
    d: int(_math.floor(_math.log10(1 + 1 / d) * 1e6 + 0.5)) for d in range(1, 10)
}


def v21_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals — the classic
    fraud/synthetic-data screen: natural multi-scale amounts follow
    P(d) = log10(1+1/d); fabricated ones usually don't. Per digit:
    count, observed fraction, expected Benford fraction, and the
    chi-square contribution n·(obs−exp)²/exp.

    Exactness: the first significant digit comes from STRING slicing of
    the integer part (no float log10 near power-of-10 boundaries), the
    expected fractions are pinned 1e-6-grid constants computed once in
    Python and inlined as literals in BOTH engines, and the observed
    fraction + chi² term are single pinned expressions over integer
    counts. One map-side-combinable groupBy over a projection — digit
    cardinality 9."""
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    g = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = g.agg(F.sum("n").alias("_tot"))
    exp_frac = F.element_at(
        F.create_map(
            *[
                x
                for d in range(1, 10)
                for x in (F.lit(d), F.lit(BENFORD_EXP6[d] / 1e6))
            ]
        ),
        F.col("digit"),
    )
    obs = F.col("n").cast("double") / F.col("_tot").cast("double")
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            r6(obs).alias("obs_frac"),
            exp_frac.alias("exp_frac"),
            r6(
                F.col("_tot").cast("double")
                * (r6(obs) - exp_frac)
                * (r6(obs) - exp_frac)
                / exp_frac
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


_ORACLES["v21_benford_audit"] = f"""
    WITH g AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_totalprice >= 1 GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM g),
    e AS (SELECT digit, CAST(exp_frac AS DOUBLE) AS exp_frac FROM (VALUES
      {", ".join(f"({d}, {BENFORD_EXP6[d] / 1e6})" for d in range(1, 10))})
      e(digit, exp_frac))
    SELECT g.digit, g.n,
           FLOOR(CAST(g.n AS DOUBLE) / CAST(t.tot AS DOUBLE) * 1e6 + 0.5)
             / 1e6 AS obs_frac,
           e.exp_frac,
           FLOOR(CAST(t.tot AS DOUBLE)
                 * (FLOOR(CAST(g.n AS DOUBLE) / CAST(t.tot AS DOUBLE)
                          * 1e6 + 0.5) / 1e6 - e.exp_frac)
                 * (FLOOR(CAST(g.n AS DOUBLE) / CAST(t.tot AS DOUBLE)
                          * 1e6 + 0.5) / 1e6 - e.exp_frac)
                 / e.exp_frac * 1e6 + 0.5) / 1e6 AS chi2_term
    FROM g, t JOIN e ON e.digit = g.digit
    ORDER BY g.digit
"""


def q99_revenue_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue deciles (the marketing lift table / discrete
    Lorenz curve): customers ranked by lifetime spend into ntile(10)
    buckets; per decile, customer count, revenue, revenue share, and
    cumulative share from the top — "the top decile holds X% of
    revenue", the concentration readout q92's single Gini scalar
    summarizes. Spend is per-row-pinned cents (int64 sums); ntile
    ordering is made deterministic with a custkey tie-break; the
    decile window runs over 10 rows. One fact aggregate → one
    customer-count-sized ntile sort → O(10) everything else. At 100 TB
    the global ntile sort becomes repartitionByRange on the sort key —
    same result, no single-task sort."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    spend = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("cents").alias("spend_c"))
    )
    dec = spend.withColumn(
        "decile",
        F.ntile(10).over(
            Window.orderBy(F.desc("spend_c"), F.asc("o_custkey"))
        ),
    )
    g = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("spend_c").alias("revenue_c"),
    )
    tot = g.agg(F.sum("revenue_c").alias("_tot"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.crossJoin(F.broadcast(tot))
        .withColumn("cum_revenue_c", F.sum("revenue_c").over(w))
        .select(
            "decile",
            "n_customers",
            "revenue_c",
            r6(
                F.col("revenue_c").cast("double") / F.col("_tot").cast("double")
            ).alias("revenue_share"),
            r6(
                F.col("cum_revenue_c").cast("double")
                / F.col("_tot").cast("double")
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


_ORACLES["q99_revenue_deciles"] = """
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS spend_c
      FROM orders GROUP BY 1),
    dec AS (
      SELECT spend_c,
             NTILE(10) OVER (ORDER BY spend_c DESC, o_custkey ASC) AS decile
      FROM spend),
    g AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(spend_c) AS BIGINT) AS revenue_c
      FROM dec GROUP BY 1),
    t AS (SELECT CAST(SUM(revenue_c) AS BIGINT) AS tot FROM g),
    c AS (
      SELECT decile, n_customers, revenue_c,
             CAST(SUM(revenue_c) OVER (ORDER BY decile) AS BIGINT)
               AS cum_revenue_c
      FROM g)
    SELECT decile, n_customers, revenue_c,
           FLOOR(CAST(revenue_c AS DOUBLE) / CAST(t.tot AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS revenue_share,
           FLOOR(CAST(cum_revenue_c AS DOUBLE) / CAST(t.tot AS DOUBLE)
                 * 1e6 + 0.5) / 1e6 AS cum_share
    FROM c, t ORDER BY decile
"""


TXN_LOG_FILES = 16


SRC11_BUCKET = 4096


def src11_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footer-truth audit (sources/files.footer_stats): write l_orderkey
    partitioned into known key buckets, then read back ONLY the parquet
    FOOTERS (pyarrow metadata inside mapInPandas — no data pages) and
    prove the min/max statistics and row counts the row-group skipper
    will prune against are exactly the data's own per-bucket order
    statistics. The layout-debugging tool src02/src04 lean on when
    skipping misbehaves, with the oracle recomputing the same numbers
    from the raw table."""
    import os

    from mbta_etl_spark.sources.files import footer_stats
    from mbta_etl_spark.sources.formats import scratch_dir

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.expr(f"l_orderkey div {SRC11_BUCKET}").alias("ok_bucket"),
    )
    tag = f"src11_{os.path.basename(sf_dir.rstrip('/'))}"
    out_dir = scratch_dir(spark, tag)
    li.write.mode("overwrite").partitionBy("ok_bucket").parquet(out_dir)
    fs = footer_stats(spark, out_dir, "l_orderkey")
    bucket = F.regexp_extract("file", r"ok_bucket=(\d+)", 1).cast("long")
    return fs.groupBy(bucket.alias("ok_bucket")).agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("stat_min").alias("key_min"),
        F.max("stat_max").alias("key_max"),
    )


_ORACLES["src11_footer_stats"] = f"""
    SELECT CAST(l_orderkey // {SRC11_BUCKET} AS BIGINT) AS ok_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_orderkey) AS key_min,
           MAX(l_orderkey) AS key_max
    FROM lineitem GROUP BY 1
"""


def src10_txn_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse transaction-log replay with time travel: the table's
    state is a log of (file, version, add|remove) actions — v0 writes
    16 'files' (orders bucketed by o_orderkey), v1 compacts files 0-7
    into one merged file, v2 deletes file 9 — and reading AS OF version
    v means replaying the log prefix ≤ v and keeping each file's LAST
    action if it is an 'add' (exactly Delta/Iceberg snapshot
    semantics). Output: per version, live file count and surviving
    row/byte totals — v1 conserves mass (compaction moves rows, drops
    file count), v2 shrinks it (delete).

    Shape: the file stats are one map-side-combinable aggregate over
    the fact table; the log and every replay step after it are
    O(files·versions) metadata rows with a 3-row broadcast version
    spine — which is the entire point of log-structured tables at
    100 TB: planning reads the log, never the data. Byte stats are
    per-row-pinned cent sums (int64, order-independent)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    files = orders.groupBy(
        (F.col("o_orderkey") % TXN_LOG_FILES).alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5)).cast(
                "long"
            )
        ).alias("n_bytes"),
    )
    half = files.filter(F.col("file_id") < TXN_LOG_FILES // 2)
    adds0 = files.select(
        "file_id",
        F.lit(0).alias("ver"),
        F.lit("add").alias("action"),
        "n_rows",
        "n_bytes",
    )
    removes1 = half.select(
        "file_id",
        F.lit(1).alias("ver"),
        F.lit("remove").alias("action"),
        "n_rows",
        "n_bytes",
    )
    merged1 = half.agg(
        F.sum("n_rows").alias("n_rows"), F.sum("n_bytes").alias("n_bytes")
    ).select(
        F.lit(TXN_LOG_FILES).alias("file_id"),
        F.lit(1).alias("ver"),
        F.lit("add").alias("action"),
        "n_rows",
        "n_bytes",
    )
    removes2 = files.filter(F.col("file_id") == 9).select(
        "file_id",
        F.lit(2).alias("ver"),
        F.lit("remove").alias("action"),
        "n_rows",
        "n_bytes",
    )
    actions = adds0.unionByName(removes1).unionByName(merged1).unionByName(
        removes2
    )
    versions = spark.range(1).select(
        F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("version")
    )
    eligible = actions.crossJoin(F.broadcast(versions)).filter(
        F.col("ver") <= F.col("version")
    )
    last = eligible.groupBy("version", "file_id").agg(
        F.max("ver").alias("ver")
    )
    live = last.join(actions, ["file_id", "ver"]).filter(
        F.col("action") == "add"
    )
    return (
        live.groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_live_files"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_bytes").alias("n_bytes"),
        )
        .orderBy("version")
    )


_ORACLES["src10_txn_log"] = f"""
    WITH files AS (
      SELECT o_orderkey % {TXN_LOG_FILES} AS file_id,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS n_bytes
      FROM orders GROUP BY 1),
    half AS (SELECT * FROM files WHERE file_id < {TXN_LOG_FILES // 2}),
    actions AS (
      SELECT file_id, 0 AS ver, 'add' AS action, n_rows, n_bytes FROM files
      UNION ALL
      SELECT file_id, 1, 'remove', n_rows, n_bytes FROM half
      UNION ALL
      SELECT {TXN_LOG_FILES}, 1, 'add',
             CAST(SUM(n_rows) AS BIGINT), CAST(SUM(n_bytes) AS BIGINT)
      FROM half
      UNION ALL
      SELECT file_id, 2, 'remove', n_rows, n_bytes FROM files
      WHERE file_id = 9),
    versions AS (SELECT * FROM (VALUES (0), (1), (2)) v(version)),
    eligible AS (
      SELECT v.version, a.* FROM actions a JOIN versions v
      ON a.ver <= v.version),
    last AS (
      SELECT version, file_id, MAX(ver) AS ver
      FROM eligible GROUP BY 1, 2),
    live AS (
      SELECT l.version, a.n_rows, a.n_bytes
      FROM last l JOIN actions a
      ON a.file_id = l.file_id AND a.ver = l.ver
      WHERE a.action = 'add')
    SELECT version,
           CAST(COUNT(*) AS BIGINT) AS n_live_files,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(SUM(n_bytes) AS BIGINT) AS n_bytes
    FROM live GROUP BY version ORDER BY version
"""


BACKTEST_SEASON = 7


def ts31_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type seasonal-naive vs naive one-step backtest (MASE)
    over daily means — does the weekly structure ts29/ts30 detected
    actually forecast? Integer milli-unit error sums, paired evaluation
    rows (operators/timeseries.forecast_backtest)."""
    from mbta_etl_spark.operators import timeseries

    ev = _events(spark, sf_dir).select("event_type", "ts", "value")
    return timeseries.forecast_backtest(
        ev, ["event_type"], "ts", "value", BACKTEST_SEASON
    )


_ORACLES["ts31_forecast_backtest"] = f"""
    WITH daily AS (
      SELECT event_type,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
             CAST(FLOOR(AVG(value) * 1e3 + 0.5) AS BIGINT) AS x3
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, x3,
             ROW_NUMBER() OVER w AS rn,
             LAG(x3, 1) OVER w AS prev1,
             LAG(x3, {BACKTEST_SEASON}) OVER w AS prevs
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
    g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_eval,
             CAST(SUM(ABS(x3 - prev1)) AS BIGINT) AS e1,
             CAST(SUM(ABS(x3 - prevs)) AS BIGINT) AS es
      FROM seq WHERE rn > {BACKTEST_SEASON} GROUP BY 1)
    SELECT event_type, n_eval,
           FLOOR(CAST(e1 AS DOUBLE) / (CAST(n_eval AS DOUBLE) * 1000.0)
                 * 1e6 + 0.5) / 1e6 AS mae_naive,
           FLOOR(CAST(es AS DOUBLE) / (CAST(n_eval AS DOUBLE) * 1000.0)
                 * 1e6 + 0.5) / 1e6 AS mae_seasonal,
           CASE WHEN e1 > 0 THEN
             FLOOR(CAST(es AS DOUBLE) / CAST(e1 AS DOUBLE) * 1e6 + 0.5) / 1e6
           END AS mase
    FROM g ORDER BY event_type
"""


def q98_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users + cumulative distinct users ever seen — the
    growth curve every event warehouse reports. Windowed COUNT(DISTINCT)
    is unsupported in Spark window frames; the scalable form is the
    first-seen trick: min(day) per user (one shuffle on user_id), count
    firsts per day, running SUM over the day-count-sized table. The
    single-partition cumulative window runs over O(days) rows, never
    events — the same envelope at 100 TB."""
    from pyspark.sql import Window

    day = F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")
    ev = _events(spark, sf_dir).select("user_id", day.alias("day"))
    new_per_day = (
        ev.groupBy("user_id")
        .agg(F.min("day").alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    active = ev.groupBy("day").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(new_per_day, "day", "left")
        .select(
            "day",
            "n_active",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
        )
        .withColumn("cum_users", F.sum("n_new").over(w))
        .orderBy("day")
    )


_ORACLES["q98_cumulative_distinct"] = """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
      FROM events),
    fs AS (SELECT user_id, MIN(day) AS day FROM d GROUP BY 1),
    npd AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new FROM fs GROUP BY 1),
    act AS (SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
            FROM d GROUP BY 1)
    SELECT a.day, a.n_active,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY a.day) AS BIGINT)
             AS cum_users
    FROM act a LEFT JOIN npd n ON n.day = a.day
    ORDER BY a.day
"""


def v20_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness audit: each event type's latest timestamp,
    its lag in seconds behind the freshest stream, and a self-calibrated
    staleness flag (lag above the median lag — the q09 discrete-
    percentile OFFSET idiom, so the threshold needs no magic constant
    and stays meaningful at any scale). One map-side-combinable MAX per
    type, then all arithmetic on the O(types) table with two broadcast
    scalar joins — nothing event-sized after the first aggregate."""
    from pyspark.sql import Window

    per = (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.max("ts").alias("max_ts"))
    )
    g = per.agg(F.max("max_ts").alias("_gmax"))
    lagged = per.crossJoin(F.broadcast(g)).select(
        "event_type",
        "max_ts",
        # truncate both operands to whole seconds first: Spark counts
        # full elapsed seconds, DuckDB date_diff counts second-boundary
        # crossings — identical once the sub-second part is zero
        F.expr(
            "timestampdiff(SECOND, date_trunc('second', max_ts),"
            " date_trunc('second', _gmax))"
        ).alias("lag_s"),
    )
    ranked = lagged.withColumn(
        "_rn", F.row_number().over(Window.orderBy("lag_s", "event_type"))
    )
    n = ranked.agg(F.count(F.lit(1)).alias("_n"))
    med = (
        ranked.crossJoin(F.broadcast(n))
        .filter(F.col("_rn") == F.expr("(_n - 1) div 2 + 1"))
        .select(F.col("lag_s").alias("_med"))
    )
    return (
        lagged.crossJoin(F.broadcast(med))
        .select(
            "event_type",
            "max_ts",
            "lag_s",
            F.col("_med").alias("median_lag_s"),
            (F.col("lag_s") > F.col("_med")).cast("long").alias("stale"),
        )
        .orderBy("event_type")
    )


_ORACLES["v20_freshness_lag"] = """
    WITH per AS (SELECT event_type, MAX(ts) AS max_ts FROM events GROUP BY 1),
    g AS (SELECT MAX(max_ts) AS gmax FROM per),
    l AS (
      SELECT event_type, CAST(max_ts AS TIMESTAMP) AS max_ts,
             CAST(date_diff('second', max_ts, (SELECT gmax FROM g))
                  AS BIGINT) AS lag_s
      FROM per),
    r AS (SELECT lag_s, ROW_NUMBER() OVER (ORDER BY lag_s, event_type) AS rn
          FROM l),
    m AS (SELECT lag_s AS med FROM r
          WHERE rn = (SELECT (COUNT(*) - 1) // 2 + 1 FROM r))
    SELECT event_type, max_ts, lag_s,
           (SELECT med FROM m) AS median_lag_s,
           CAST(CASE WHEN lag_s > (SELECT med FROM m)
                THEN 1 ELSE 0 END AS BIGINT) AS stale
    FROM l ORDER BY event_type
"""


# --- Entry list: the oracle tables ----------------------------------------
#
# Each entry is declared once: a builder function and its _ORACLES row in
# the same module, keyed by the builder's name. queries() resolves the
# oracle tables (llm_registry's, then this module's) to builders, so a row
# without a builder raises on the first queries() call.
#
# The driver's correctness harness checks the FIRST 50 entries of queries()
# in iteration order. _DRIVER_HOLDOUTS names entries whose plan or oracle
# changed since their last green driver row; they lead queries() so the
# driver re-verifies them. Add a name when its plan changes; drop it once
# its driver row is green again, then rerun scripts/sync_green_shapes.py.
# tests/test_registry_order.py checks both directions.
_DRIVER_HOLDOUTS: tuple[str, ...] = ()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mbta_etl_spark.plans import llm_registry

    out = {name: getattr(llm_registry, name) for name in llm_registry._ORACLES}
    out.update((name, globals()[name]) for name in _ORACLES)
    return {**{name: out[name] for name in _DRIVER_HOLDOUTS}, **out}


def oracle_sql() -> dict[str, str]:
    from mbta_etl_spark.plans import llm_registry

    return {**_ORACLES, **llm_registry._ORACLES}
