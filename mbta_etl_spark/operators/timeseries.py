"""Time-series gap handling: LOCF fill and per-key delta/rate — the
hypertable-style operators (TimescaleDB's locf/interpolate/delta family)
a metrics pipeline runs over irregular event streams.

Scale shape: everything here is one window per operator — a single
shuffle keyed by the series key, then an in-partition ordered pass.
Identical cost envelope to sessionization (operators/windows.py); skewed
keys are the usual risk and AQE's skew handling the usual answer.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mbta_etl_spark.operators.core import (
    session_shuffle_partitions as _session_shuffle_partitions,
)


def locf(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[Column],
    value_col: str,
) -> DataFrame:
    """Last-observation-carried-forward into ``value_filled``: null
    measurements take the most recent non-null value within their series;
    leading nulls (no prior observation) stay null.
    ``F.last(ignorenulls=True)`` over a running frame — the engine-native
    gap fill, no self-join."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        "value_filled", F.last(F.col(value_col), ignorenulls=True).over(w)
    )


def interpolate(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
) -> DataFrame:
    """Linear interpolation, into ``value_interp``, of null measurements
    between the nearest non-null neighbours in the series (TimescaleDB
    ``interpolate``):
    v = prev + (next − prev) · elapsed/gap, with elapsed/gap taken from
    exact microsecond timestamp differences. Non-null rows pass through
    untouched; nulls before the first or after the last observation stay
    null (strict interpolation, no extrapolation).

    Two windows over ONE shuffle: the running-prev and running-next
    frames share the same partitioning+ordering, so Catalyst plans a
    single Exchange + two in-partition Window passes. Interpolated values
    use the scaled-floor 6dp formula (cross-engine round() midpoint
    divergence)."""
    wp = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    obs_ts = F.when(v.isNotNull(), F.col(ts_col))
    staged = df.select(
        "*",
        F.last(v, ignorenulls=True).over(wp).alias("_prev_v"),
        F.last(obs_ts, ignorenulls=True).over(wp).alias("_prev_t"),
        F.first(v, ignorenulls=True).over(wn).alias("_next_v"),
        F.first(obs_ts, ignorenulls=True).over(wn).alias("_next_t"),
    )
    elapsed = F.expr(
        f"CAST(timestampdiff(MICROSECOND, _prev_t, {ts_col}) AS DOUBLE)"
    )
    gap = F.expr("CAST(timestampdiff(MICROSECOND, _prev_t, _next_t) AS DOUBLE)")
    interp = F.col("_prev_v") + (
        F.col("_next_v") - F.col("_prev_v")
    ) * (elapsed / gap)
    filled = (
        F.when(v.isNotNull(), v)
        .when(
            F.col("_prev_v").isNotNull()
            & F.col("_next_v").isNotNull()
            & (gap > 0),
            F.floor(interp * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        )
    )
    return staged.withColumn("value_interp", filled).drop(
        "_prev_v", "_prev_t", "_next_v", "_next_t"
    )


def rolling_zscore(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
    lookback: int = 20,
) -> DataFrame:
    """Rolling-window anomaly detection: per-series z-score of each
    observation against the trailing ``lookback``+current frame, flagged
    when |z| exceeds 3 (the classic 3-sigma monitor).

    Cross-engine float discipline: the frame sums (Σv, Σv²) are order-
    dependent across engines (running vs segment-tree accumulation), so
    both are scaled-floor-rounded to 6dp FIRST; mean/variance/z are then
    derived from those identical doubles with one explicit formula, and
    the flag tests the 6dp-rounded z — no engine round(), no boundary
    flicker. Population variance (÷n), guarded at 0 for one-row frames."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(-lookback, Window.currentRow)
    )

    def _r6(c: Column) -> Column:
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    v = F.col(value_col)
    staged = df.select(
        "*",
        F.count(v).over(w).alias("_n"),
        _r6(F.sum(v).over(w)).alias("_s1"),
        _r6(F.sum(v * v).over(w)).alias("_s2"),
    )
    n = F.col("_n").cast("double")
    mean = F.col("_s1") / n
    var = F.greatest(
        F.lit(0.0), F.col("_s2") / n - mean * mean
    )
    std = F.sqrt(var)
    z = _r6(F.when(std > 0, (v - mean) / std))
    return staged.select(
        *key_cols,
        ts_col,
        order_tiebreak,
        value_col,
        z.alias("z"),
        (z.isNotNull() & (F.abs(z) > F.lit(3.0))).alias("is_anomaly"),
    )


def bucket_gapfill(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    max_buckets_per_key: int | None = None,
) -> DataFrame:
    """Per-key time-bucket rollup with an explicit gap spine
    (TimescaleDB ``time_bucket_gapfill`` + ``locf``): aggregate each
    series into hour buckets, generate EVERY bucket between that
    series' first and last observation, zero-fill event counts, and
    carry the last observed bucket sum forward across empty buckets.

    Scale shape: one keyed agg shuffle; the spine is ``sequence()``
    exploded from the per-key min/max — its row count is the bucket
    range, not the input size, so the explode is output-sized. The
    spine→agg join and the LOCF window both key on (keys, bucket), so
    AQE reuses one partitioning; no driver-side calendar, no crossJoin.
    Bucket sums are order-dependent across engines → scaled-floor 6dp
    before exposure.

    ``max_buckets_per_key`` is the span guard: a key with one event per
    year still explodes its whole span of buckets, and at corpus scale
    sparse long-lived keys can make the SPINE outgrow the fact table.
    When set, a key's spine is truncated to its LAST N buckets (the
    recent window a dashboard reads); the task fails loudly in review,
    not silently, because truncation is visible in the output domain."""
    b = F.date_trunc("hour", F.col(ts_col)).cast("timestamp_ntz")
    agg = df.groupBy(*key_cols, b.alias("bucket")).agg(
        F.count("*").alias("n_events"),
        (
            F.floor(F.sum(value_col) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        ).alias("sum_value"),
    )
    bounds = agg.groupBy(*key_cols).agg(
        F.min("bucket").alias("_lo"), F.max("bucket").alias("_hi")
    )
    if max_buckets_per_key is not None:
        # keep the most recent N buckets: raise the lower bound
        capped_lo = F.greatest(
            F.col("_lo"),
            F.expr(
                f"_hi - INTERVAL {max_buckets_per_key - 1} hour"
            ).cast("timestamp_ntz"),
        )
        bounds = bounds.select(
            *key_cols, capped_lo.alias("_lo"), F.col("_hi")
        )
    spine = bounds.select(
        *key_cols,
        F.explode(
            F.sequence(
                F.col("_lo"),
                F.col("_hi"),
                F.expr("INTERVAL 1 hour"),
            )
        ).alias("bucket"),
    )
    joined = spine.join(agg, [*key_cols, "bucket"], "left")
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        *key_cols,
        "bucket",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "sum_value",
        F.last("sum_value", ignorenulls=True).over(w).alias("sum_filled"),
    )


def ewma(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Exponentially-weighted moving average per series (pandas
    ``ewm(adjust=False)`` semantics): s₀ = v₀, sₜ = (1−α)·sₜ₋₁ + α·vₜ.

    Inherently sequential per series — no window-function form without an
    order-dependent power-sum (which overflows/denormalizes on long
    series) — so this is the grouped-map Pandas tier. The recursion is
    written as an EXPLICIT loop with the literal `(1−α)·s + α·v` op
    order, not pandas ewm(), so the SQL oracle's recursive CTE replays
    bit-identical IEEE arithmetic; output scaled-floor 6dp.

    Grouping granularity (round-8 optimization, guide §4): applyInPandas
    invokes the kernel ONCE PER GROUP, each with its own Arrow transfer
    + pandas frame construction — per-series groups made the per-call
    overhead the whole bill (1,500 series at bench scale ≈ 1,500 pandas
    frames for 100k rows; measured 3.3 s → 1.1 s by bucketing). So the
    shuffle key is a HASH BUCKET of the series key (xxhash64 % n_buckets
    — deterministic, retry-safe per guide §2.5), the kernel sorts its
    bucket by (key, ts, tiebreak) and runs the same per-series recursion
    with an explicit reset at series boundaries. Arithmetic per series
    is identical to the per-group form — same op order, same floor.

    Scale: state is one float per series; a task now holds one BUCKET of
    series, so memory per task is |input|/n_buckets — size n_buckets to
    ~2-3x cluster cores the way shuffle.partitions is sized (series stay
    atomic within a bucket: a series IS the unit of sequential work)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    key_fields = [df.schema[k] for k in key_cols]
    out_schema = T.StructType(
        [
            *key_fields,
            df.schema[ts_col],
            df.schema[order_tiebreak],
            df.schema[value_col],
            T.StructField("ewma", T.DoubleType()),
        ]
    )
    a = float(alpha)

    def _e(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([*key_cols, ts_col, order_tiebreak])
        v = pdf[value_col].to_numpy(np.float64)
        s = np.empty_like(v)
        if len(v):
            # per-series reset: a row starts a new series when any key
            # column differs from the previous row (bucket rows are
            # sorted by key first, so series are contiguous runs)
            new_series = np.zeros(len(v), dtype=bool)
            new_series[0] = True
            for k in key_cols:
                col = pdf[k].to_numpy()
                neq = col[1:] != col[:-1]
                # null keys: NaN != NaN is True, which would start a
                # new series on EVERY null-key row — the old per-group
                # form chained all null-key rows as one series, so
                # adjacent nulls must NOT be a boundary (ADVICE r8)
                isna = pd.isna(pdf[k]).to_numpy()
                neq &= ~(isna[1:] & isna[:-1])
                new_series[1:] |= neq
            acc = 0.0
            for i in range(len(v)):
                acc = v[i] if new_series[i] else (1.0 - a) * acc + a * v[i]
                s[i] = acc
        pdf = pdf[[*key_cols, ts_col, order_tiebreak, value_col]].copy()
        pdf["ewma"] = np.floor(s * 1e6 + 0.5) / 1e6
        return pdf

    # bucket count: session shuffle sizing with a 64 floor (r9,
    # VERDICT r8 item 4) — locally 64 (the measured round-8 A/B value;
    # the session default of 32 is below the floor), on a cluster it
    # follows the deployment's own spark.sql.shuffle.partitions so
    # task memory |input|/n_buckets scales with the cluster
    n_buckets = max(64, _session_shuffle_partitions(df))
    return (
        df.select(*key_cols, ts_col, order_tiebreak, value_col)
        .withColumn(
            "_bkt", F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
        )
        .groupBy("_bkt")
        .applyInPandas(_e, schema=out_schema)
    )


def delta_rate(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
) -> DataFrame:
    """Per-series difference and per-second rate against the previous
    observation (counter-style metrics): delta = value − lag(value),
    rate = delta / seconds-elapsed. First row of each series → nulls.
    Rounding uses the explicit scaled-floor formula (floor(x*1e6+0.5)/1e6)
    rather than engine round(): round() implementations disagree on
    midpoint-adjacent doubles across engines, and a freshly-divided rate
    lands on those boundaries at scale."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col, order_tiebreak)
    staged = df.withColumn("_prev_v", F.lag(value_col).over(w)).withColumn(
        "_prev_t", F.lag(ts_col).over(w)
    )
    # exact fractional seconds via microsecond diff: timestampdiff is
    # timezone-free on TIMESTAMP_NTZ, and whole-SECOND granularity would
    # diverge from engines that count boundary crossings when timestamps
    # carry sub-second parts — micros/1e6 is unambiguous everywhere
    secs = F.expr(
        f"timestampdiff(MICROSECOND, _prev_t, {ts_col}) / CAST(1000000 AS DOUBLE)"
    )
    delta = F.col(value_col) - F.col("_prev_v")

    def _r6(c: Column) -> Column:
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    return staged.select(
        *key_cols,
        ts_col,
        order_tiebreak,
        value_col,
        _r6(delta).alias("delta"),
        _r6(F.when(secs > 0, delta / secs)).alias("rate_per_s"),
    )


def downsample_last(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Downsample each series to one row per hour bucket — the LAST
    observation wins (TimescaleDB ``last(value, time)`` per
    ``time_bucket``; the dashboard-resolution reducer). One window keyed
    by (series, bucket): rank descending by (ts, tiebreak), keep rank 1.
    Same single-shuffle envelope as the other series operators; output
    size is #(key, bucket) pairs regardless of input rate, which is the
    point — a 1 Hz feed downsampled hourly sheds 3600× before anything
    downstream shuffles again."""
    b = F.date_trunc("hour", F.col(ts_col)).cast("timestamp_ntz")
    w = (
        Window.partitionBy(*key_cols, "bucket")
        .orderBy(F.desc(ts_col), F.desc(order_tiebreak))
    )
    return (
        df.withColumn("bucket", b)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(*key_cols, "bucket", ts_col, *value_cols)
    )


def minmax_normalize(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Per-series min-max normalization to [0, 1] into ``value_norm`` —
    the per-key feature scaling an ML pipeline applies before windowed
    models. One unordered
    window over the series key (no sort — min/max are frame-free), so
    the plan is a single Exchange plus a hash-window pass; constant
    series (max == min) normalize to null rather than a divide-by-zero.
    The scaled ratio divides two exact input doubles → scaled-floor 6dp
    for cross-engine stability."""
    w = Window.partitionBy(*key_cols)
    v = F.col(value_col)
    lo = F.min(v).over(w)
    hi = F.max(v).over(w)
    ratio = (v - lo) / (hi - lo)
    return df.withColumn(
        "value_norm",
        F.when(
            hi > lo, F.floor(ratio * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        ),
    )


def detect_gaps(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    min_gap_seconds: float,
) -> DataFrame:
    """Report every silence longer than ``min_gap_seconds`` within each
    series: (keys, gap_start, gap_end, gap_s) — the data-loss /
    sensor-outage monitor. One lag window per series (the delta_rate
    envelope); gap length from exact microsecond arithmetic, emitted
    only for offending intervals so output ~ #outages, not #rows."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col, order_tiebreak)
    staged = df.select(
        *key_cols,
        F.col(ts_col),
        F.lag(ts_col).over(w).alias("_prev_t"),
    )
    gap_s = F.expr(
        f"timestampdiff(MICROSECOND, _prev_t, {ts_col})"
    ) / F.lit(1_000_000.0)
    return (
        staged.filter(gap_s > min_gap_seconds)
        .select(
            *key_cols,
            F.col("_prev_t").alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            gap_s.alias("gap_s"),
        )
    )


def locf_with_ttl(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
    max_stale_seconds: float,
) -> DataFrame:
    """LOCF into ``value_filled`` with an expiry: a carried-forward value
    goes back to null once it is older than ``max_stale_seconds`` — the
    monitoring semantics where a stale reading is worse than no reading
    (a sensor that died mustn't keep reporting its last value forever;
    plain ``locf`` does exactly that).

    Same single window as ``locf``, plus the timestamp of the carried
    observation (``last`` over the same frame) so staleness is one
    exact-microsecond comparison — no second shuffle."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    v = F.col(value_col)
    carried = F.last(v, ignorenulls=True).over(w)
    carried_t = F.last(
        F.when(v.isNotNull(), F.col(ts_col)), ignorenulls=True
    ).over(w)
    staged = df.select(
        "*", carried.alias("_cv"), carried_t.alias("_ct")
    )
    age_s = F.expr(
        f"timestampdiff(MICROSECOND, _ct, {ts_col})"
    ) / F.lit(1_000_000.0)
    return staged.withColumn(
        "value_filled",
        F.when(age_s <= max_stale_seconds, F.col("_cv")),
    ).drop("_cv", "_ct")


def seasonal_naive_error(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    bucket: str = "hour",
    season: int = 24,
) -> DataFrame:
    """Per-series MASE-style forecast evaluation: bucket the series, then
    score the seasonal-naive forecast ŷ_t = y_{t−season} against the
    one-step naive ŷ_t = y_{t−1} on the rows where both exist —
    mase < 1 means seasonality carries signal for this series. The
    standard cheap baseline check before any real forecasting model.

    Cross-engine float discipline: bucket sums are scaled-floor-rounded
    FIRST (order-dependent aggregation), so every downstream lag/abs/
    compare operates on identical doubles; the per-series absolute-error
    sums are floored before the final division for the same reason.

    Shape: one bucket aggregate and two lag windows, all keyed on the
    series — a single hash partitioning reused end-to-end. Output is one
    row per series."""
    from pyspark.sql import Window

    b = F.date_trunc(bucket, F.col(ts_col)).cast("timestamp_ntz")
    hourly = df.groupBy(*key_cols, b.alias("bucket")).agg(
        (
            F.floor(F.sum(value_col) * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
        ).alias("y")
    )
    w = Window.partitionBy(*key_cols).orderBy("bucket")
    scored = (
        hourly.withColumn("y_season", F.lag("y", season).over(w))
        .withColumn("y_naive", F.lag("y", 1).over(w))
        .filter(F.col("y_season").isNotNull())
    )
    agg = scored.groupBy(*key_cols).agg(
        F.count("*").alias("n_scored"),
        (
            F.floor(
                F.sum(F.abs(F.col("y") - F.col("y_season"))) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("sae_season"),
        (
            F.floor(
                F.sum(F.abs(F.col("y") - F.col("y_naive"))) * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("sae_naive"),
    )
    safe = F.when(F.col("sae_naive") != 0, F.col("sae_naive"))
    return agg.select(
        *key_cols,
        "n_scored",
        (
            F.floor(
                F.col("sae_season") / F.col("n_scored") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mae_season"),
        (
            F.floor(
                F.col("sae_naive") / F.col("n_scored") * F.lit(1e6)
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mae_naive"),
        (
            F.floor(
                F.col("sae_season") / safe * F.lit(1e6) + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mase"),
    )


def ohlc_bars(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
) -> DataFrame:
    """Resample each series into hourly OHLC bars: one row per (series,
    bucket) with the first (open), max (high), min (low), and last (close)
    observation plus the bar's row count — the candlestick/telemetry
    reducer (TimescaleDB ``candlestick_agg``, kdb ``xbar`` + first/last).

    Shape: a single groupBy on (keys, date_trunc('hour')) — ``min_by`` /
    ``max_by`` over a (ts, tiebreak) struct give open/close without any
    window sort, and all five aggregates are partial-aggregable, so the
    map side combines to one row per (key, bucket) per task BEFORE the
    one hash Exchange. At 100 TB this is the canonical downsample: the
    shuffle moves #(key, bucket) rows, not #input rows, and a 1 Hz feed
    compresses 3600x map-side. Deterministic under ties via the
    monotonic tiebreak column in the ordering struct."""
    b = F.date_trunc("hour", F.col(ts_col)).cast("timestamp_ntz")
    ordk = F.struct(F.col(ts_col), F.col(order_tiebreak))
    v = F.col(value_col)
    return (
        df.withColumn("bucket", b)
        .groupBy(*key_cols, "bucket")
        .agg(
            F.min_by(v, ordk).alias("open_value"),
            F.max(v).alias("high_value"),
            F.min(v).alias("low_value"),
            F.max_by(v, ordk).alias("close_value"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


def cusum_drift(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series one-sided CUSUM drift detector over daily bucket means:

        S_t = max(0, S_{t-1} + x_t - mu - k),   alarm when S_t > h

    with mu/sd the series' own bucket-mean statistics, k = 0.5*sd
    (ignore wiggle below this), h = 4*sd. The standard
    change-point monitor for data-quality/ingest drift — unlike ts04's
    rolling z-score, CUSUM accumulates many small shifts that never
    individually clear a z threshold.

    Execution shape: ONE distributed bucket aggregate collapses the raw
    log to |series| x |buckets| rows, then the inherently-sequential
    recursion runs per-series inside applyInPandas (Arrow-batched, one
    series never leaves one task; the grouped table is tiny relative to
    the input, so at 100 TB this is a post-aggregate pass like g01's
    iteration, not a data-sized shuffle).

    Cross-engine float discipline: bucket means, mu, and sd are
    scaled-floor-rounded to 6dp BEFORE the recursion so both engines
    iterate identical doubles with identical left-associated arithmetic;
    the emitted cusum is rounded last and the alarm compares the rounded
    value. Oracle: recursive CTE (see registry ts13).
    """
    import pandas as pd

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz")
    bucketed = df.groupBy(*key_cols, b.alias("bucket")).agg(
        r6(F.avg(value_col)).alias("x")
    )
    params = bucketed.groupBy(*key_cols).agg(
        r6(F.avg("x")).alias("mu"),
        r6(F.stddev_samp("x")).alias("sd"),
    )
    joined = bucketed.join(F.broadcast(params), list(key_cols))

    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in joined.schema.fields
        if f.name in key_cols
    )
    schema = (
        f"{key_fields}, bucket timestamp_ntz, x double, "
        "cusum double, alarm boolean"
    )

    def _one_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        mu = float(pdf["mu"].iloc[0])
        sd = float(pdf["sd"].iloc[0]) if pd.notna(pdf["sd"].iloc[0]) else 0.0
        k = 0.5 * sd
        h = 4.0 * sd
        s = 0.0
        out = []
        for x in pdf["x"]:
            s = max(0.0, s + float(x) - mu - k)  # left-assoc, doubles
            r = float(int(s * 1e6 + 0.5)) / 1e6  # floor(s*1e6+0.5)/1e6
            out.append(r)
        res = pdf[[*key_cols, "bucket", "x"]].copy()
        res["cusum"] = out
        res["alarm"] = [c > h for c in out]
        return res

    return joined.groupBy(*key_cols).applyInPandas(_one_series, schema=schema)


def holt_linear(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series Holt double-exponential smoothing (level + trend) over
    daily bucket means, scoring the one-step-ahead forecast f_t =
    l_{t-1} + b_{t-1} against the actual — the next rung up from ts11's
    seasonal-naive baseline, still cheap enough to run as a scan-side
    audit:

        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}

    initialized l_1 = x_1, b_1 = 0 (no-lookahead init, recursion-friendly
    on both engines). Emits one row per bucket from t=2 with the
    forecast and absolute error, 6dp-floored at emission only.

    Execution shape: identical to cusum_drift — one distributed bucket
    aggregate, then the inherently-sequential recursion per series
    inside applyInPandas over the tiny post-aggregate table. Smoothing
    factors are exact binary fractions (0.5, 0.25) so both engines'
    recursions multiply exactly and stay bit-identical.
    """
    import pandas as pd

    alpha, beta = 0.5, 0.25
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz")
    bucketed = df.groupBy(*key_cols, b.alias("bucket")).agg(
        r6(F.avg(value_col)).alias("x")
    )
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in bucketed.schema.fields
        if f.name in key_cols
    )
    schema = (
        f"{key_fields}, bucket timestamp_ntz, x double, "
        "forecast double, abs_err double"
    )

    def _one_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        xs = [float(v) for v in pdf["x"]]
        lvl, trd = xs[0], 0.0
        fc, ae, idx = [], [], []
        for t in range(1, len(xs)):
            f = lvl + trd
            x = xs[t]
            new_l = alpha * x + (1.0 - alpha) * (lvl + trd)
            trd = beta * (new_l - lvl) + (1.0 - beta) * trd
            lvl = new_l
            # FLOOR(v*1e6+0.5)/1e6, valid for negative forecasts too
            r = math.floor(f * 1e6 + 0.5) / 1e6
            e = math.floor(abs(x - f) * 1e6 + 0.5) / 1e6
            fc.append(r)
            ae.append(e)
            idx.append(t)
        res = pdf.iloc[idx][[*key_cols, "bucket", "x"]].copy()
        res["forecast"] = fc
        res["abs_err"] = ae
        return res

    return bucketed.groupBy(*key_cols).applyInPandas(_one_series, schema=schema)


def holt_winters(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-series additive Holt-Winters (level + trend + seasonal) over
    daily bucket means with a weekly period m = 7 — the seasonality-aware
    rung above ``holt_linear``, scoring the one-step-ahead forecast
    f_t = l_{t-1} + b_{t-1} + s_{t-m} against the actual:

        l_t = alpha*(x_t - s_{t-m}) + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}
        s_t = gamma*(x_t - l_t)   + (1-gamma)*s_{t-m}

    No-lookahead init at t = m: l_m = x_m, b_m = 0, s_i =
    x_i - x_m for i = 1..m — every init term is a single IEEE subtract
    on already-6dp-pinned bucket means, so the recursion is replayable
    bit-for-bit by a recursive CTE carrying (level, trend, seasonal
    LIST) with identical parenthesization. Emits one row per bucket
    from t = m+1 with the forecast and absolute error, 6dp-floored at
    emission only.

    Execution shape: same two tiers as ``holt_linear`` — a distributed
    bucket aggregate (map-side-combinable), then the inherently
    sequential per-series recursion inside applyInPandas over the tiny
    post-aggregate table. State is O(m) per series; parallelism is
    across series, which is the only axis that grows at 100 TB.
    Smoothing factors are exact binary fractions (0.5, 0.25) so both
    engines' recursions multiply exactly.
    """
    import pandas as pd

    alpha, beta, gamma = 0.5, 0.25, 0.25
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz")
    bucketed = df.groupBy(*key_cols, b.alias("bucket")).agg(
        r6(F.avg(value_col)).alias("x")
    )
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in bucketed.schema.fields
        if f.name in key_cols
    )
    schema = (
        f"{key_fields}, bucket timestamp_ntz, x double, "
        "forecast double, abs_err double"
    )
    m = 7

    def _one_series(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket").reset_index(drop=True)
        xs = [float(v) for v in pdf["x"]]
        if len(xs) <= m:
            return pdf.iloc[0:0][[*key_cols, "bucket", "x"]].assign(
                forecast=[], abs_err=[]
            )
        lvl, trd = xs[m - 1], 0.0
        s = [xs[i] - xs[m - 1] for i in range(m)]
        fc, ae, idx = [], [], []
        for t in range(m, len(xs)):
            s0 = s[0]
            f = lvl + trd + s0
            x = xs[t]
            new_l = alpha * (x - s0) + (1.0 - alpha) * (lvl + trd)
            trd = beta * (new_l - lvl) + (1.0 - beta) * trd
            s = s[1:] + [gamma * (x - new_l) + (1.0 - gamma) * s0]
            lvl = new_l
            fc.append(math.floor(f * 1e6 + 0.5) / 1e6)
            ae.append(math.floor(abs(x - f) * 1e6 + 0.5) / 1e6)
            idx.append(t)
        res = pdf.iloc[idx][[*key_cols, "bucket", "x"]].copy()
        res["forecast"] = fc
        res["abs_err"] = ae
        return res

    return bucketed.groupBy(*key_cols).applyInPandas(_one_series, schema=schema)


def seasonal_mad_anomalies(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    threshold: float = 3.0,
) -> DataFrame:
    """Seasonal-profile robust anomaly detection over daily buckets:
    per-series day-of-week median profile, residual against the profile,
    and a MAD-scaled robust z-score — flag buckets where
    |resid| / (1.4826·MAD) exceeds ``threshold``. The STL-lite outlier
    detector a metrics pipeline runs where ts04's rolling z-score fails:
    medians shrug off the outliers themselves (no masking), and the
    weekly profile keeps ordinary weekend dips from flagging.

    Day-of-week is epoch-day mod 7 (engine-portable — no locale
    dayofweek). All medians are grouped aggregates joined back via
    broadcast (profile: keys×7 rows; MAD: one row per series), so the
    fact table is scanned once into the bucket aggregate and everything
    downstream shuffles O(series·buckets) rows. Residual, MAD, and
    score are arithmetic over identically-pinned doubles in a fixed
    parenthesization — bit-equal in any engine — and 6dp-floored at
    emission only.
    """
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz")
    daily = df.groupBy(*key_cols, b.alias("bucket")).agg(
        r6(F.avg(value_col)).alias("x")
    )
    dow = (
        F.datediff(F.col("bucket").cast("date"), F.to_date(F.lit("1970-01-01")))
        % 7
    ).cast("int")
    daily = daily.withColumn("dow", dow)
    prof = daily.groupBy(*key_cols, "dow").agg(
        F.percentile("x", F.lit(0.5)).alias("_profile")
    )
    joined = daily.join(F.broadcast(prof), [*key_cols, "dow"]).withColumn(
        "_resid", F.col("x") - F.col("_profile")
    )
    mad = joined.groupBy(*key_cols).agg(
        F.percentile(F.abs("_resid"), F.lit(0.5)).alias("_mad")
    )
    scored = (
        joined.join(F.broadcast(mad), list(key_cols))
        .filter(F.col("_mad") > 0)
        .withColumn("_score", F.col("_resid") / (F.lit(1.4826) * F.col("_mad")))
        .filter(F.abs(F.col("_score")) > F.lit(threshold))
    )
    return scored.select(
        *key_cols,
        "bucket",
        "dow",
        "x",
        r6(F.col("_profile")).alias("profile"),
        r6(F.col("_resid")).alias("resid"),
        r6(F.col("_score")).alias("score"),
    ).orderBy(*key_cols, "bucket")


def subseq_topk(series: DataFrame, bucket: str, value: str, w: int, k: int) -> DataFrame:
    """Z-normalized sliding-window subsequence search over a regular
    series: rank every length-``w`` window by squared z-distance to the
    series' opening window (shape match — level and amplitude drop out),
    excluding the trivial-match zone around the query. One window pass
    (all leads + row_number share the spec) over the pre-aggregated
    series table; the query vector is a 1-row broadcast; top-k is
    TakeOrdered. Partition the window by a series key for per-series
    search at scale. Sums are explicit left-associated chains so the
    oracle replays them bit-for-bit."""
    from functools import reduce

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    win = Window.orderBy(bucket)
    feat = series.select(
        bucket,
        F.row_number().over(win).alias("rn"),
        *[F.lead(value, j).over(win).alias(f"l{j}") for j in range(w)],
    ).filter(F.col(f"l{w - 1}").isNotNull())
    ls = [F.col(f"l{j}") for j in range(w)]
    mean = reduce(lambda a, b: a + b, ls) / w
    var = reduce(lambda a, b: a + b, [(l - mean) * (l - mean) for l in ls]) / w
    std = F.sqrt(var)
    z = feat.select(
        bucket,
        "rn",
        *[((l - mean) / std).alias(f"z{j}") for j, l in enumerate(ls)],
    )
    q = z.filter(F.col("rn") == 1).select(
        *[F.col(f"z{j}").alias(f"q{j}") for j in range(w)]
    )
    dist = r6(
        reduce(
            lambda a, b: a + b,
            [
                (F.col(f"z{j}") - F.col(f"q{j}"))
                * (F.col(f"z{j}") - F.col(f"q{j}"))
                for j in range(w)
            ],
        )
    )
    return (
        z.filter(F.col("rn") > w)
        .crossJoin(F.broadcast(q))
        .select(bucket, dist.alias("dist"))
        .orderBy("dist", bucket)
        .limit(k)
    )


def changepoint_single(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Best single changepoint per series (the first step of binary
    segmentation / PELT): the split that maximally reduces total SSE
    into a before-mean and an after-mean — the level-shift detector
    that tells a pipeline WHEN a source's behavior changed, where
    ts27's point-anomaly score only says that single days look odd.

    Exactness strategy: daily means are pinned to MILLI-units as
    BIGINT (3dp — so squared prefix sums stay far inside int64), and
    every candidate split's SSE is derived from integer cumulative
    sums via the identity SSE = Σx² − (Σx)²/n, evaluated in one fixed
    double parenthesization. Cross-engine cumulative DOUBLE window
    sums are NOT deterministic (segment-tree vs sequential
    accumulation round differently); integer cumsums are — that is
    why the 3dp integer domain, not 6dp doubles, carries the prefix
    state. Means and SSEs convert to natural units only at emission.

    Shape: one fact-scan bucket aggregate, then window cumsums and a
    rank over O(series·buckets) rows — no per-row Python, no second
    fact pass. Totals join back broadcast-sized (one row per series).
    """
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz")
    daily = df.groupBy(*key_cols, b.alias("bucket")).agg(
        F.floor(F.avg(value_col) * F.lit(1e3) + F.lit(0.5))
        .cast("long")
        .alias("x3")
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seq = daily.select(
        *key_cols,
        "bucket",
        F.row_number().over(Window.partitionBy(*key_cols).orderBy("bucket")).alias("t"),
        F.sum("x3").over(w).alias("s1"),
        F.sum(F.col("x3") * F.col("x3")).over(w).alias("s2"),
    )
    totals = seq.groupBy(*key_cols).agg(
        F.max("t").alias("n"), F.max("s1").alias("ts1"), F.max("s2").alias("ts2")
    )
    # max over cumulative = final row's value (s1/s2 monotone? s1 only if
    # x3 >= 0 — use last via max(t) join instead to stay sign-safe)
    last = seq.join(totals.select(*key_cols, "n"), list(key_cols)).filter(
        F.col("t") == F.col("n")
    ).select(*key_cols, "n", F.col("s1").alias("ts1"), F.col("s2").alias("ts2"))
    d = lambda c: c.cast("double")  # noqa: E731
    cand = seq.join(F.broadcast(last), list(key_cols)).filter(
        (F.col("t") >= 1) & (F.col("t") <= F.col("n") - 1)
    )
    sse_l = d(F.col("s2")) - (d(F.col("s1")) * d(F.col("s1"))) / d(F.col("t"))
    rs1 = F.col("ts1") - F.col("s1")
    rs2 = F.col("ts2") - F.col("s2")
    rn = F.col("n") - F.col("t")
    sse_r = d(rs2) - (d(rs1) * d(rs1)) / d(rn)
    sse_tot = d(F.col("ts2")) - (d(F.col("ts1")) * d(F.col("ts1"))) / d(F.col("n"))
    scored = cand.select(
        *key_cols,
        "bucket",
        "t",
        "n",
        (sse_tot - (sse_l + sse_r)).alias("_red"),
        (d(F.col("s1")) / d(F.col("t")) / F.lit(1e3)).alias("_lm"),
        (d(rs1) / d(rn) / F.lit(1e3)).alias("_rm"),
        sse_tot.alias("_tot"),
    )
    pick = F.row_number().over(
        Window.partitionBy(*key_cols).orderBy(F.desc("_red"), "t")
    )
    return (
        scored.withColumn("_rk", pick)
        .filter(F.col("_rk") == 1)
        .select(
            *key_cols,
            F.col("bucket").alias("split_bucket"),
            "t",
            "n",
            r6(F.col("_lm")).alias("left_mean"),
            r6(F.col("_rm")).alias("right_mean"),
            (r6(F.col("_tot") / F.lit(1e6))).alias("sse_total"),
            (r6(F.col("_red") / F.lit(1e6))).alias("sse_reduction"),
        )
        .orderBy(*key_cols)
    )


def acf(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 2, 7, 14),
) -> DataFrame:
    """Per-series autocorrelation function at the requested lags:
    Pearson r between x_t and x_{t+lag} over daily bucket means — the
    seasonality/persistence diagnostic that tells you WHICH period
    ts25's Holt-Winters should model (a weekly cycle shows as an ACF
    peak at lag 7) and whether ts13's drift tests have independent
    residuals.

    Exactness: the same integer milli-unit discipline as
    ``changepoint_single`` — all five Pearson sums (Σx, Σy, Σx², Σy²,
    Σxy) accumulate as int64 over 3dp-pinned values (bounds: |x3| ≤
    1e6, squares ≤ 1e12, n ≤ 1e4 keeps n·Σxy ≤ 1e18 inside int64),
    and r derives in one pinned double expression. Integer sums are
    partition-order-independent, so ANY engine or partitioning yields
    the same bits.

    Shape: one fact-scan bucket aggregate, then a self-join of the
    O(series·buckets) daily table shifted by each lag (explode over
    the lag list, equi-join on (keys, rn+lag)) and one grouped sum —
    rows shuffled are series·buckets·|lags|, never event-sized.
    """
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz")
    daily = df.groupBy(*key_cols, b.alias("bucket")).agg(
        F.floor(F.avg(value_col) * F.lit(1e3) + F.lit(0.5)).cast("long").alias("x3")
    )
    seq = daily.select(
        *key_cols,
        F.row_number()
        .over(Window.partitionBy(*key_cols).orderBy("bucket"))
        .alias("rn"),
        "x3",
    )
    a = seq.withColumn(
        "lag", F.explode(F.array(*[F.lit(int(v)) for v in lags]))
    )
    bseq = seq.select(
        *[F.col(c).alias(f"_b_{c}") for c in key_cols],
        F.col("rn").alias("_b_rn"),
        F.col("x3").alias("y3"),
    )
    cond = [a[c] == bseq[f"_b_{c}"] for c in key_cols] + [
        (a["rn"] + a["lag"]) == bseq["_b_rn"]
    ]
    pairs = a.join(bseq, cond)
    g = pairs.groupBy(*key_cols, "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x3").alias("sx"),
        F.sum("y3").alias("sy"),
        F.sum(F.col("x3") * F.col("x3")).alias("sxx"),
        F.sum(F.col("y3") * F.col("y3")).alias("syy"),
        F.sum(F.col("x3") * F.col("y3")).alias("sxy"),
    )
    n = F.col("n_pairs")
    d1 = n * F.col("sxx") - F.col("sx") * F.col("sx")
    d2 = n * F.col("syy") - F.col("sy") * F.col("sy")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    r = F.when(
        (d1 > 0) & (d2 > 0),
        num.cast("double") / F.sqrt(d1.cast("double") * d2.cast("double")),
    )
    return g.select(
        *key_cols, "lag", "n_pairs", r6(r).alias("acf")
    ).orderBy(*key_cols, "lag")


def stl_decompose(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Additive STL-style decomposition of each series' daily bucket means
    into trend + seasonal + residual — the "what is actually moving"
    view that turns ts27's anomaly flags and ts28's changepoint into
    explainable components (is the level drifting, or is it just the
    weekend?).

    Method (classical decomposition, the non-loess core of STL):
      trend_t    = centered moving average over ``period`` buckets
                   (only rows with a FULL window emit — the standard
                   edge rule, so every trend is a 7-term mean)
      detrend_t  = x_t - trend_t
      seasonal_d = per-(series, position-in-period) mean of detrend
                   (position = ISO weekday for the default period 7)
      resid_t    = detrend_t - seasonal_d

    Exactness: x3 is the 3dp-pinned integer bucket mean (the ts28/ts29
    discipline). The centered window then accumulates ``trend_sum =
    Σ x3`` as int64, and ``period·x3 - trend_sum`` keeps the detrended
    series integral — no float accumulates anywhere. The only
    divisions are single int/int IEEE divisions (exactly rounded, so
    bit-identical in any engine) and the two grid pins for seasonal
    and residual.

    Shape: one fact-scan bucket aggregate (map-side combinable), one
    window over the tiny O(series·buckets) daily table, one
    (series, dow) aggregate joined back by key+dow — everything after
    the first aggregate is bucket-count-sized, never event-sized. At
    100 TB the daily table for 10k series × 5 years is ~18M rows: a
    single-stage window per series, no skew (series are the partition
    key).
    """
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    half = (period - 1) // 2
    b = F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz")
    daily = df.groupBy(*key_cols, b.alias("bucket")).agg(
        F.floor(F.avg(value_col) * F.lit(1e3) + F.lit(0.5)).cast("long").alias("x3")
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(-half, half)
    )
    trended = (
        daily.withColumn("trend_sum", F.sum("x3").over(w))
        .withColumn("w_cnt", F.count(F.lit(1)).over(w))
        .filter(F.col("w_cnt") == period)
        .withColumn(
            "detrend", F.lit(period) * F.col("x3") - F.col("trend_sum")
        )
        .withColumn("dow", F.weekday("bucket") + F.lit(1))
    )
    seasonal = trended.groupBy(*key_cols, "dow").agg(
        F.sum("detrend").alias("s_sum"),
        F.count(F.lit(1)).alias("s_cnt"),
    )
    joined = trended.join(seasonal, [*key_cols, "dow"])
    seas = r6(
        F.col("s_sum").cast("double")
        / (F.lit(period) * F.col("s_cnt") * F.lit(1000)).cast("double")
    )
    return joined.select(
        *key_cols,
        "bucket",
        "dow",
        (F.col("x3").cast("double") / F.lit(1000.0)).alias("x"),
        (F.col("trend_sum").cast("double") / F.lit(float(period * 1000))).alias(
            "trend"
        ),
        seas.alias("seasonal"),
        r6(
            F.col("detrend").cast("double") / F.lit(float(period * 1000))
            - seas
        ).alias("resid"),
    ).orderBy(*key_cols, "bucket")


def forecast_backtest(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Per-series forecast backtest over daily bucket means:
    seasonal-naive (x̂_t = x_{t-season}) vs naive (x̂_t = x_{t-1})
    one-step-ahead MAE over the same
    evaluation rows, and their ratio — the MASE-style number that says
    whether the weekly structure ts29/ts30 detected actually FORECASTS
    (ratio < 1 ⇒ model the season; ratio ≥ 1 ⇒ it's noise).

    Both models are scored only on buckets where BOTH lags exist
    (rn > season), so the comparison is paired. The integer milli-unit
    discipline again: absolute errors accumulate as int64 Σ|x3_t −
    x3_{t−ℓ}|, and the three outputs are single pinned divisions of
    those sums.

    Shape: one fact-scan bucket aggregate, one window (two lags in the
    same frame — one shuffle) over the O(series·buckets) daily table,
    one grouped sum. Nothing event-sized after the first aggregate."""
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    b = F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz")
    daily = df.groupBy(*key_cols, b.alias("bucket")).agg(
        F.floor(F.avg(value_col) * F.lit(1e3) + F.lit(0.5)).cast("long").alias("x3")
    )
    w = Window.partitionBy(*key_cols).orderBy("bucket")
    lagged = (
        daily.withColumn("rn", F.row_number().over(w))
        .withColumn("prev1", F.lag("x3", 1).over(w))
        .withColumn("prevs", F.lag("x3", season).over(w))
        .filter(F.col("rn") > season)
    )
    g = lagged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_eval"),
        F.sum(F.abs(F.col("x3") - F.col("prev1"))).alias("e1"),
        F.sum(F.abs(F.col("x3") - F.col("prevs"))).alias("es"),
    )
    n = F.col("n_eval").cast("double")
    return g.select(
        *key_cols,
        "n_eval",
        r6(F.col("e1").cast("double") / (n * F.lit(1000.0))).alias("mae_naive"),
        r6(F.col("es").cast("double") / (n * F.lit(1000.0))).alias(
            "mae_seasonal"
        ),
        F.when(
            F.col("e1") > 0,
            r6(F.col("es").cast("double") / F.col("e1").cast("double")),
        ).alias("mase"),
    ).orderBy(*key_cols)


def seasonality_strength(stl: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Hyndman-style strength-of-components diagnostics over an
    ``stl_decompose`` output: per series,
      seasonal_strength = max(0, 1 − Var(resid) / Var(x − trend))
      trend_strength    = max(0, 1 − Var(resid) / Var(x − seasonal))
    — the [0, 1] scalars that rank thousands of series by "how seasonal"
    / "how trended" they are (the triage view over ts30's full
    decomposition: you read strengths for every series, full components
    only for the interesting ones).

    Exactness: the three component series are re-pinned onto an integer
    MILLI grid (|v3| ≤ 1e6 keeps n·Σv² inside int64 — a micro grid
    would overflow), variances form as n·Σv² − (Σv)² integer sums, and
    each strength is one pinned double division. Deterministic because
    both engines floor the SAME doubles (stl's outputs are themselves
    pinned or exactly-rounded expressions of pinned ints).

    Shape: one map-side-combinable aggregate over the already
    series·bucket-sized stl table — O(series) output."""
    p3 = lambda c: F.floor(c * F.lit(1e3) + F.lit(0.5)).cast("long")  # noqa: E731
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    v = stl.select(
        *key_cols,
        p3(F.col("resid")).alias("r3"),
        p3(F.col("x") - F.col("trend")).alias("d3"),
        p3(F.col("x") - F.col("seasonal")).alias("t3"),
    )
    g = v.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r3").alias("sr"),
        F.sum(F.col("r3") * F.col("r3")).alias("srr"),
        F.sum("d3").alias("sd"),
        F.sum(F.col("d3") * F.col("d3")).alias("sdd"),
        F.sum("t3").alias("st"),
        F.sum(F.col("t3") * F.col("t3")).alias("stt"),
    )
    n = F.col("n")
    varr = (n * F.col("srr") - F.col("sr") * F.col("sr")).cast("double")
    vard = (n * F.col("sdd") - F.col("sd") * F.col("sd")).cast("double")
    vart = (n * F.col("stt") - F.col("st") * F.col("st")).cast("double")
    fs = F.when(vard > 0, F.greatest(F.lit(0.0), F.lit(1.0) - varr / vard))
    ft = F.when(vart > 0, F.greatest(F.lit(0.0), F.lit(1.0) - varr / vart))
    return g.select(
        *key_cols,
        "n",
        r6(fs).alias("seasonal_strength"),
        r6(ft).alias("trend_strength"),
    ).orderBy(*key_cols)


TIMEDECAY_BASE = "TIMESTAMP_NTZ'2024-01-01 00:00:00'"


def timedecay_smooth(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
    lookback: int = 16,
) -> DataFrame:
    """Irregular-gap kernel smoother: each observation is replaced by a
    weighted mean of its trailing ``lookback``+current frame, with
    hyperbolic time-decay weights w_j = tau / (tau + (t_i - t_j)) — the
    attention-like smoother for series whose rows are NOT equally
    spaced, where a row-count EWMA (ts06) over-weights whatever burst
    happens to precede the row. tau = 600 s is the half-influence scale:
    an observation tau back carries half a current one.

    Cross-engine exactness: the weights are RATIONAL in the integer
    microsecond gap — one IEEE divide per term, no exp()/libm whose
    last-ulp behavior differs between the JVM and the oracle engine.
    Each term is therefore bit-identical on both sides, and both sides
    fold the frame in the same window order (collect_list + aggregate
    here; list window + left list_reduce in the oracle), so num/den are
    bit-identical before the single pinned 6dp scaled-floor.

    Shape at 100 TB: one shuffle on the series key, bounded ROWS frame
    (lookback+1 structs of 16 bytes in flight per row), the fold is a
    JVM higher-order function — no Python tier, state O(lookback), and
    timestamps enter only as DIFFERENCES from a fixed NTZ base so the
    result is timezone-independent (no epoch/DST trap)."""
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(-lookback, Window.currentRow)
    )
    t_us = F.expr(
        f"timestampdiff(MICROSECOND, {TIMEDECAY_BASE}, {ts_col})"
    )
    staged = df.select("*", t_us.alias("_t_us")).select(
        "*",
        F.collect_list(
            F.struct(F.col("_t_us").alias("t"), F.col(value_col).alias("v"))
        )
        .over(w)
        .alias("_win"),
    )
    tau = F.lit(600_000_000.0)

    def _wgt(s: Column) -> Column:
        return tau / (tau + (F.col("_t_us") - s["t"]).cast("double"))

    num = F.aggregate(
        F.col("_win"), F.lit(0.0), lambda acc, s: acc + s["v"] * _wgt(s)
    )
    den = F.aggregate(F.col("_win"), F.lit(0.0), lambda acc, s: acc + _wgt(s))
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return staged.select(
        *key_cols,
        order_tiebreak,
        F.col(value_col),
        F.size("_win").cast("long").alias("n_window"),
        r6(num / den).alias("smoothed"),
    )


def m4_downsample(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
) -> DataFrame:
    """M4 visual downsampling (Jugel et al., VLDB 2014): per hour bucket
    keep the four points a pixel column can actually show — first, last,
    min, max — instead of an average that flattens spikes. The standard
    lossless-for-rendering reducer behind dashboard charts.

    One groupBy aggregate, map-side combinable: each extreme is a
    MIN/MAX over a struct whose field order encodes the tie rule
    (min/first break ties toward the earliest (ts, id); max/last toward
    the latest), so re-runs and re-partitions are bit-stable. No window,
    no second shuffle; output is O(4 points per key-bucket)."""
    b = F.date_trunc("hour", F.col(ts_col)).cast("timestamp_ntz")
    t, i, v = F.col(ts_col), F.col(order_tiebreak), F.col(value_col)
    g = (
        df.select(*key_cols, b.alias("bucket"), t, i, v)
        .groupBy(*key_cols, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min(F.struct(t.alias("t"), i.alias("i"), v.alias("v"))).alias(
                "_f"
            ),
            F.max(F.struct(t.alias("t"), i.alias("i"), v.alias("v"))).alias(
                "_l"
            ),
            F.min(F.struct(v.alias("v"), t.alias("t"), i.alias("i"))).alias(
                "_mn"
            ),
            F.max(F.struct(v.alias("v"), t.alias("t"), i.alias("i"))).alias(
                "_mx"
            ),
        )
    )
    return g.select(
        *key_cols,
        "bucket",
        "n_points",
        F.col("_f.t").alias("first_ts"),
        F.col("_f.v").alias("first_v"),
        F.col("_l.t").alias("last_ts"),
        F.col("_l.v").alias("last_v"),
        F.col("_mn.t").alias("min_ts"),
        F.col("_mn.v").alias("min_v"),
        F.col("_mx.t").alias("max_ts"),
        F.col("_mx.v").alias("max_v"),
    )


def rolling_median(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    value_col: str,
    lookback: int = 6,
) -> DataFrame:
    """Exact trailing-window median per series (lookback+current rows) —
    the robust alternative to ts04's rolling mean/z for spike-laden
    telemetry (one outlier moves a 7-point mean by 1/7th of its
    magnitude but usually leaves the median untouched).

    Exactness strategy: inputs are 6dp-floored FIRST (identical doubles
    cross-engine), the frame is materialized as a sorted array via
    collect_list over the row frame + array_sort — O(k log k) per row
    with k = lookback+1 bounded and tiny, all JVM-side — and the median
    is one explicit formula (middle element, or the mean of the two
    middles for even frames) matching SQL MEDIAN over the same rounded
    inputs. At 100 TB the shape is the standard keyed-window one
    shuffle; for large k swap the array for the two-heap streaming
    median inside applyInPandas (same contract, ts06's tier).
    """

    def _r6(c: Column) -> Column:
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    w = (
        Window.partitionBy(*key_cols)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(-lookback, Window.currentRow)
    )
    v6 = _r6(F.col(value_col).cast("double"))
    staged = df.select(
        *key_cols,
        ts_col,
        order_tiebreak,
        F.array_sort(F.collect_list(v6).over(w)).alias("_frame"),
    )
    n = F.size("_frame")
    # odd frame: the middle element; even frame: mean of the two middles
    lo = F.element_at("_frame", (n / 2).cast("int"))
    hi = F.element_at("_frame", (n / 2).cast("int") + 1)
    med = F.when(
        n % 2 == 1, F.element_at("_frame", ((n + 1) / 2).cast("int"))
    ).otherwise((lo + hi) / F.lit(2.0))
    return staged.select(
        *key_cols,
        ts_col,
        order_tiebreak,
        n.cast("long").alias("n_win"),
        _r6(med).alias("rolling_median"),
    )


def compress_consecutive(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    order_tiebreak: str,
    state_col: Column,
    state_name: str = "state",
) -> DataFrame:
    """Run-length state compression: keep one row per RUN of equal
    consecutive ``state_col`` values within each series, with the run's
    length — the storage-side primitive for change-point telemetry
    (store transitions, reconstruct with LOCF; a 99%-steady signal
    shrinks 100x before it ever hits the lake).

    Shape: one keyed window pass — lag() marks run starts, a running
    count of run starts assigns run ids WITHOUT a second shuffle (same
    window partitioning), then one aggregate per run emits
    (start ts/id, state, run_len). Two window functions + one
    aggregation, all on the same partitioning key, so Catalyst plans a
    single Exchange."""
    w = Window.partitionBy(*key_cols).orderBy(ts_col, order_tiebreak)
    staged = df.select(
        *key_cols,
        ts_col,
        order_tiebreak,
        state_col.alias(state_name),
    )
    prev = F.lag(state_name).over(w)
    is_start = (
        prev.isNull() | (prev != F.col(state_name))
    ).cast("long")
    runs = staged.select(
        "*",
        F.sum(is_start)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_run_id"),
    )
    return (
        runs.groupBy(*key_cols, "_run_id")
        .agg(
            F.min(F.struct(ts_col, order_tiebreak)).alias("_start"),
            # the state is constant within a run by construction; MIN is
            # the deterministic way to say "any of them"
            F.min(state_name).alias(state_name),
            F.count(F.lit(1)).alias("run_len"),
        )
        .select(
            *key_cols,
            F.col(f"_start.{ts_col}").alias(ts_col),
            F.col(f"_start.{order_tiebreak}").alias(order_tiebreak),
            state_name,
            "run_len",
        )
    )
