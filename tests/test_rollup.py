"""Incremental rollup (continuous aggregate): merge algebra and derived
measures — merging per-batch partials must equal one full aggregation."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from mbta_etl_spark.operators import rollup as ru


def _events_df(spark, rows):
    return spark.createDataFrame(
        [(i, t, k, float(v)) for i, (t, k, v) in enumerate(rows)],
        ["event_id", "ts", "event_type", "value"],
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))


ROWS = [
    ("2024-01-01 10:05:00", "click", 1.0),
    ("2024-01-01 10:15:00", "click", 3.0),
    ("2024-01-01 10:45:00", "view", 10.0),
    ("2024-01-01 11:05:00", "click", 5.0),
    ("2024-01-01 11:20:00", "view", 2.0),
    ("2024-01-01 11:59:00", "view", 4.0),
]


def _canon(df):
    return sorted(
        (r["bucket"], r["event_type"], r["cnt"], round(r["sum_value"], 6),
         r["min_value"], r["max_value"])
        for r in df.collect()
    )


def test_merge_equals_full_recompute(spark):
    """Partials built per-batch then merged == one aggregation over the
    union of batches — the property that makes O(new data) refresh
    sound."""
    all_rows = _events_df(spark, ROWS)
    b1 = _events_df(spark, ROWS[:3])
    b2 = _events_df(spark, ROWS[3:])
    args = (F.col("ts"), F.col("value"), ["event_type"], "hour")
    full = ru.rollup_increment(all_rows, *args)
    merged = ru.rollup_merge(
        ru.rollup_increment(b1, *args), ru.rollup_increment(b2, *args)
    )
    assert _canon(full) == _canon(merged)


def test_merge_associative(spark):
    """(a ⊕ b) ⊕ c == a ⊕ (b ⊕ c): batches can arrive in any grouping."""
    args = (F.col("ts"), F.col("value"), ["event_type"], "hour")
    a = ru.rollup_increment(_events_df(spark, ROWS[:2]), *args)
    b = ru.rollup_increment(_events_df(spark, ROWS[2:4]), *args)
    c = ru.rollup_increment(_events_df(spark, ROWS[4:]), *args)
    left = ru.rollup_merge(ru.rollup_merge(a, b), c)
    right = ru.rollup_merge(a, ru.rollup_merge(b, c))
    assert _canon(left) == _canon(right)


def test_streaming_rollup_converges_to_full_recompute(spark, tmp_path):
    """The foreachBatch continuous aggregate: after draining two
    micro-batches, the published rollup table equals one aggregation
    over all events — and the table stays readable (atomic publish)
    throughout."""
    import json

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampNTZType,
    )

    from mbta_etl_spark.pipeline.load import merge_stream

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    src = tmp_path / "in"
    src.mkdir()
    table = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for i, (t, k, v) in enumerate(rows):
                f.write(json.dumps(
                    {"event_id": i, "ts": t, "event_type": k, "value": v}) + "\n")

    def drain():
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            merge_stream(stream, table, ckpt, ru.rollup_step(["event_type"]))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_batch("b1.jsonl", ROWS[:3])
    drain()
    assert spark.read.parquet(table).count() > 0  # readable after batch 1
    write_batch("b2.jsonl", ROWS[3:])
    drain()

    full = ru.rollup_increment(
        _events_df(spark, ROWS), F.col("ts"), F.col("value"),
        ["event_type"], "hour",
    )
    got = _canon(spark.read.parquet(table))
    assert got == _canon(full)


def test_read_derives_avg_not_avg_of_avgs(spark):
    """avg must come from merged (sum, cnt): clicks in the 10:00 bucket
    are 1.0 and 3.0 in different batches — avg 2.0, not avg-of-avgs
    skewed by batch sizes."""
    args = (F.col("ts"), F.col("value"), ["event_type"], "hour")
    merged = ru.rollup_merge(
        ru.rollup_increment(_events_df(spark, ROWS[:1]), *args),
        ru.rollup_increment(_events_df(spark, ROWS[1:]), *args),
    )
    out = {
        (r["bucket"], r["event_type"]): r["avg_value"]
        for r in ru.rollup_read(merged).collect()
    }
    assert out[(dt.datetime(2024, 1, 1, 10), "click")] == 2.0
    assert out[(dt.datetime(2024, 1, 1, 11), "view")] == 3.0


def test_sketch_rollup_union_equals_single_pass(spark):
    """The mergeability contract: estimate(union of per-bucket sketches)
    tracks estimate(one full-corpus sketch) within HLL error — union is
    lossless over the registers but mode transitions (sparse→dense) make
    the states near-identical, not bitwise equal — and both stay within
    error of the exact distinct count."""
    import datetime as dt

    from pyspark.sql import functions as F

    from mbta_etl_spark.operators.rollup import sketch_rollup

    rows = [
        (dt.datetime(2024, 1, 1 + (i % 3), 8), i % 500) for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "ts timestamp_ntz, user_id long")
    out = {r["bucket"]: r["distinct_entities"] for r in sketch_rollup(
        df, "ts", "user_id").collect()}
    single = (
        df.agg(F.hll_sketch_agg("user_id").alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("est"))
        .collect()[0]["est"]
    )
    exact_total = 500
    assert abs(out[None] - single) / exact_total < 0.02
    assert abs(out[None] - exact_total) / exact_total < 0.05
    assert abs(single - exact_total) / exact_total < 0.05
    for bucket, est in out.items():
        if bucket is not None:
            assert abs(est - 500) / 500 < 0.05  # every user active daily


def test_cms_rollup_one_sided_error_and_merge_algebra(spark):
    """CMS contract: the estimate never undercounts (every occurrence
    lands in its own cell; collisions only add), and the merged sketch
    equals the sum of per-partition partial sketches — SUM really is
    the merge, so partition subsets compose."""
    from pyspark.sql import functions as F

    from mbta_etl_spark.operators.rollup import cms_rollup

    rows = [(f"tok{i % 37}", f"src{i % 3}") for i in range(2000)]
    df = spark.createDataFrame(rows, "token string, source string")
    out = cms_rollup(df, "token", "source", depth=4, width=32, topk=8).collect()
    assert len(out) == 8
    for r in out:
        assert r["overcount"] >= 0
        assert r["est_cnt"] >= r["exact_cnt"]
    # top-8 of 37 uniform-ish tokens: exact counts are 2000/37-sized
    assert all(r["exact_cnt"] >= 54 for r in out)
    # merged sketch is bounded by depth x width cells regardless of vocab
    sub = cms_rollup(
        df.filter(F.col("source") == "src0"), "token", "source", 4, 32, 8
    ).collect()
    for r in sub:
        assert r["overcount"] >= 0


def test_merge_rollup_batch_redelivery_is_exactly_once(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between table publish and
    checkpoint commit redelivers the same batch id. The batch id
    published atomically with the data must make the redelivered merge
    of the rollup step a no-op — without it, cnt/sum double-count."""
    from mbta_etl_spark.pipeline.load import merge

    table = str(tmp_path / "rollup")
    step = ru.rollup_step(["event_type"])
    b0 = _events_df(spark, ROWS[:3])
    b1 = _events_df(spark, ROWS[3:])
    merge(b0, table, 0, step)
    once = _canon(spark.read.parquet(table))
    merge(b0, table, 0, step)  # redelivery
    assert _canon(spark.read.parquet(table)) == once
    merge(b1, table, 1, step)  # next batch merges
    after = _canon(spark.read.parquet(table))
    assert after != once
    merge(b1, table, 1, step)  # redelivery again
    assert _canon(spark.read.parquet(table)) == after


def test_claim_batch_raises_on_id_regression(spark, tmp_path):
    """A batch id BEHIND the published one cannot be a redelivery (only
    the single committed id replays) — it means the checkpoint was
    wiped or a fresh stream was pointed at an old table. Treating it as
    redelivery would silently drop new data; the rollup merge must fail
    loudly instead, and leave the published rollup as it was."""
    import pytest

    from mbta_etl_spark.pipeline.load import merge

    table = str(tmp_path / "rollup")
    step = ru.rollup_step(["event_type"])
    merge(_events_df(spark, ROWS[:3]), table, 5, step)
    before = _canon(spark.read.parquet(table))
    with pytest.raises(RuntimeError, match="lineage break"):
        merge(_events_df(spark, ROWS[3:]), table, 2, step)
    assert _canon(spark.read.parquet(table)) == before
