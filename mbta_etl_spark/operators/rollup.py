"""Incremental time-bucket rollups (continuous aggregates).

The hypertable/continuous-aggregate pattern: a standing rollup table of
per-(bucket, key) partial aggregates that new event batches MERGE into,
so refreshing costs O(new data), never a full recompute. The reference
has no analog (its "real-time" is re-running the whole batch, SURVEY
§2.6); this is the operator a 100 TB event pipeline actually needs —
recomputing a year of rollups to ingest an hour of events is not viable.

Correctness rests on the merge algebra: every stored measure must be a
*mergeable partial* — count/sum/min/max merge directly, avg is DERIVED
from (sum, count) at read time (storing avg would make merge wrong:
avg(avg) ≠ avg). The same discipline as Spark's own partial aggregation
(map-side combine), reified into a table.

Scale shape: increment aggregates only the new batch (shuffle ~ new
partials); merge is a groupBy over (old partials ∪ new partials), which
shuffles partial ROWS (one per bucket×key), never raw events. With the
rollup table partitioned by bucket date, the merge rewrites only the
date partitions the batch touches (late data lands in whatever old
bucket it belongs to — no watermark cutoff in the batch form; the
streaming twin in streaming/ingest.py bounds lateness with watermarks).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mbta_etl_spark.pipeline.load import Published

# (name, aggregate over raw events, merge over partials)
_MEASURES = (
    ("cnt", lambda v: F.count(F.lit(1)), lambda c: F.sum(c)),
    ("sum_value", lambda v: F.sum(v), lambda c: F.sum(c)),
    ("min_value", lambda v: F.min(v), lambda c: F.min(c)),
    ("max_value", lambda v: F.max(v), lambda c: F.max(c)),
)


def rollup_increment(
    events: DataFrame,
    ts: Column,
    value: Column,
    keys: Sequence[str],
    bucket: str = "hour",
) -> DataFrame:
    """Partial-aggregate the batch into (bucket, *keys) rollup rows.
    One map-side-combinable aggregation over the new events only."""
    # date_trunc yields session-tz TIMESTAMP; cast back to NTZ so the
    # bucket is timezone-independent (same discipline as q15)
    b = F.date_trunc(bucket, ts).cast("timestamp_ntz")
    return events.groupBy(b.alias("bucket"), *keys).agg(
        *[make(value).alias(name) for name, make, _ in _MEASURES]
    )


def rollup_merge(existing: DataFrame, increment: DataFrame) -> DataFrame:
    """Merge new partials into the standing rollup: union + re-aggregate
    with each measure's merge function. Input and output schemas are
    identical, so merging is associative and idempotent-by-construction
    to re-aggregation (NOT to replaying the same batch twice — dedup
    upstream, e.g. load.merge on a batch id, owns that)."""
    group_cols = [c for c in existing.columns if c not in {n for n, _, _ in _MEASURES}]
    merged = existing.unionByName(increment)
    return merged.groupBy(*group_cols).agg(
        *[merge(F.col(name)).alias(name) for name, _, merge in _MEASURES]
    )



def rollup_step(keys: Sequence[str]):
    """The ``pipeline.load.merge`` step of a standing hourly rollup of
    (ts, value) events per ``keys``: each micro-batch's partials merged
    into the stored ones. State lives in the table, not the stream
    engine, so the aggregate survives restarts; a batch costs one
    partial aggregation of its own events plus a merge over partial
    rows, never the accumulated events. Late data merges into whichever
    old bucket it belongs to (no watermark cutoff). A batch merged twice
    would double-count cnt and sum; the merge skips a redelivered one."""

    def step(batch: DataFrame, current: Published | None) -> DataFrame:
        inc = rollup_increment(batch, F.col("ts"), F.col("value"), keys)
        return inc if current is None else rollup_merge(current.df, inc)

    return step

def rollup_read(rollup: DataFrame) -> DataFrame:
    """Read-time derived measures: avg from (sum, cnt) — the measure you
    must NOT store, because averages don't merge.

    The avg is derived from the 6dp-ROUNDED sum with an explicit
    scaled-floor (floor(x·1e6 + 0.5)/1e6), not engine round(): sum/cnt
    lands EXACTLY on a 6dp midpoint whenever cnt is a power of two and
    values are centesimal, and engine rounding implementations disagree
    on midpoint-adjacent doubles (Spark's BigDecimal shortest-repr vs
    C-style scaled rounding). Rounding the sum first makes the dividend
    bit-identical across engines (2-decimal data keeps raw sums ~1e-2
    away from any 6dp midpoint), and the shared floor formula then makes
    the derived avg bit-identical too."""
    avg = (
        F.floor(
            F.round(F.col("sum_value"), 6) / F.col("cnt") * F.lit(1000000.0)
            + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return rollup.select("*", avg.alias("avg_value"))


def sketch_rollup(
    df: DataFrame,
    ts_col: str,
    entity_col: str,
) -> DataFrame:
    """Mergeable distinct-count rollup: one HLL sketch per day bucket
    (Datasketches ``hll_sketch_agg``), per-bucket estimates plus an
    all-buckets total derived by UNIONING the bucket sketches — never by
    re-scanning raw events. This is r01's partial-aggregate algebra
    applied to COUNT(DISTINCT), the measure that otherwise cannot merge
    (distincts aren't additive): store sketches, merge sketches, read
    estimates. At 100 TB the standing rollup holds one ~KB sketch per
    bucket and a refresh touches only new buckets; a million-bucket
    union is a few MB of driver-free aggregation.

    The total row carries a null bucket (grouping-sets convention).
    Estimates carry the usual HLL error (~1.04/√(2^lgK) relative,
    ≈1.6% at lgConfigK=12).
    The r02_sketch_rollup registry entry wraps this in a COMPOSED
    oracle (round 5): the exact per-bucket distinct is computed beside
    the estimate and the hash-checked output carries (bucket, n_exact,
    est_in_bounds) — the estimate itself stays out of the hashed
    columns, while an HLL or union regression flips the in-bounds flag
    and breaks the driver hash. The merge contract (union estimate ≈
    single-pass estimate ≈ exact, within error) is additionally pinned
    in tests/test_rollup.py. For oracle-exact distincts see q24
    (two-stage exact) / r01."""
    b = F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz")
    sketches = df.groupBy(b.alias("bucket")).agg(
        F.hll_sketch_agg(entity_col).alias("_sk")
    )
    per_bucket = sketches.select(
        "bucket", F.hll_sketch_estimate("_sk").alias("distinct_entities")
    )
    total = sketches.agg(F.hll_union_agg("_sk").alias("_m")).select(
        F.lit(None).cast("timestamp_ntz").alias("bucket"),
        F.hll_sketch_estimate("_m").alias("distinct_entities"),
    )
    return per_bucket.unionAll(total)


def cms_rollup(
    tokens: DataFrame,
    token_col: str = "token",
    part_col: str = "source",
    depth: int = 4,
    width: int = 64,
    topk: int = 10,
) -> DataFrame:
    """Count-Min Sketch as a mergeable rollup, audited against exact
    counts — the frequency-sketch member of the rollup family (r01 sums,
    r02 HLL distinct, r03 histogram quantiles, this point frequencies).
    The stored partial table is per-(partition, row, col) cell counts of
    a depth×width sketch whose merge is SUM — cell-wise addition, the
    same algebra as r01 — so a standing sketch answers "how often does
    token X appear" over any partition subset at O(depth) read cost
    with no token dictionary stored at all: O(partitions · depth ·
    width) integers regardless of vocabulary size. Hash family is
    md5(token || ':' || row) mod width — engine-portable, replayed
    bit-for-bit by the DuckDB oracle.

    The read side estimates each of the exact top-``topk`` tokens as
    min over rows of its cell count, and emits the estimate beside the
    exact count and the overcount (est - exact, provably >= 0: every
    occurrence of the token lands in its own cell; collisions only
    add). The audit makes the sketch's one-sided error measurable —
    the number a pipeline reads before trusting CMS at 100 TB, where
    the exact count needs a full shuffle and the sketch needs none.

    Scale shape: one explode(depth) over the token table feeds one
    map-side-combinable groupBy — cells, not tokens, cross the
    shuffle boundary (≤ partitions·depth·width rows). The top-k probe
    joins k·depth cell keys against the width·depth merged sketch,
    both broadcast-sized.
    """
    from mbta_etl_spark.functions.texthash import md5_32

    tok = F.col(token_col)
    rows = F.explode(
        F.sequence(F.lit(0), F.lit(depth - 1))
    ).alias("r")
    keyed = tokens.select(tok.alias("token"), F.col(part_col).alias("part")).select(
        "token", "part", rows
    )
    cells = keyed.select(
        "part",
        "r",
        (md5_32(F.concat_ws(":", F.col("token"), F.col("r"))) % width).alias("c"),
    )
    # stored partials: per-(partition, row, col) counts — merge = SUM
    partials = cells.groupBy("part", "r", "c").agg(F.count(F.lit(1)).alias("cnt"))
    merged = partials.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))
    exact = (
        tokens.groupBy(tok.alias("token"))
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "token")
        .limit(topk)
    )
    probes = exact.select(
        "token",
        "exact_cnt",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("r"),
    ).select(
        "token",
        "exact_cnt",
        "r",
        (md5_32(F.concat_ws(":", F.col("token"), F.col("r"))) % width).alias("c"),
    )
    est = (
        probes.join(F.broadcast(merged), ["r", "c"])
        .groupBy("token")
        .agg(F.first("exact_cnt").alias("exact_cnt"), F.min("cnt").alias("est_cnt"))
    )
    return est.select(
        "token",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
    ).orderBy(F.desc("exact_cnt"), "token")


def histogram_quantile_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    quantiles: Sequence[float],
    lo: float = 0.0,
    width: float = 25.0,
    nbins: int = 20,
) -> DataFrame:
    """Mergeable fixed-bin histogram rollup with a quantile READ, audited
    against the exact percentile — the additive-sketch answer to "p95
    over any time range without rescanning events". Per-(day, bin)
    counts are the stored partials (integers: merge = SUM, exactly
    r01's algebra), the merged histogram is cumulated over its O(nbins)
    rows, and each requested quantile is linearly interpolated inside
    the first bin whose cumulative count reaches q*N. One summary row
    per quantile: the histogram estimate, the exact interpolated
    percentile from a full sort, and their absolute gap — the
    estimator's resolution bound (≤ bin width) made measurable.

    Scale shape: the partial table is O(buckets × nbins) integers and
    merges associatively, so a standing rollup serves any-range
    quantiles at O(nbins) read cost while exact percentiles need a full
    re-sort per query; the audit quantifies exactly what that trade
    buys. Everything after the one fact-scan aggregate runs on
    nbins-bounded broadcast rows — no second shuffle, no collect.
    Interpolation arithmetic is plain IEEE doubles in a pinned
    parenthesization, replayed term-for-term by the oracle; results are
    6dp-floored at emission only.
    """
    from pyspark.sql import Window

    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    v = F.col(value_col).cast("double")
    b = F.date_trunc("day", F.col(ts_col)).cast("timestamp_ntz")
    bin_id = F.least(
        F.lit(nbins - 1),
        F.greatest(F.lit(0), F.floor((v - F.lit(lo)) / F.lit(width))),
    )
    # stored partials: per-(day, bin) counts — the mergeable rollup table
    partials = df.groupBy(b.alias("bucket"), bin_id.alias("bin")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # merge step: drop the time axis (any-range read = SUM over buckets)
    merged = partials.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    cum = merged.select(
        "bin", "cnt", F.sum("cnt").over(Window.orderBy("bin")).alias("cum")
    )
    exacts = [
        r6(F.percentile(v, F.lit(q))).alias(f"exact_{i}")
        for i, q in enumerate(quantiles)
    ]
    stats = df.agg(F.count(F.lit(1)).alias("n"), *exacts)
    spark = df.sparkSession
    qdf = spark.createDataFrame(
        [(float(q), i) for i, q in enumerate(quantiles)], "q double, qi int"
    )
    exact_col = None
    for i in range(len(quantiles)):
        c = F.col(f"exact_{i}")
        exact_col = (
            F.when(F.col("qi") == i, c)
            if exact_col is None
            else exact_col.when(F.col("qi") == i, c)
        )
    targeted = qdf.crossJoin(F.broadcast(stats)).select(
        "q",
        "n",
        (F.col("q") * F.col("n").cast("double")).alias("target"),
        exact_col.alias("exact_value"),
    )
    prev = (F.col("cum") - F.col("cnt")).cast("double")
    est = (
        F.lit(lo)
        + F.col("bin").cast("double") * F.lit(width)
        + F.lit(width) * (F.col("target") - prev) / F.col("cnt").cast("double")
    )
    hit = targeted.join(
        F.broadcast(cum), F.col("cum").cast("double") >= F.col("target")
    )
    picked = hit.groupBy("q").agg(
        F.first("n").alias("n"),
        F.min_by(est, F.col("bin")).alias("_est"),
        F.first("exact_value").alias("exact_value"),
    )
    err = F.abs(r6(F.col("_est")) - F.col("exact_value"))
    return picked.select(
        "q",
        "n",
        r6(F.col("_est")).alias("est_value"),
        "exact_value",
        r6(err).alias("abs_err"),
    ).orderBy("q")
