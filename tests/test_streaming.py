"""Streaming-path tests: snapshot file-stream → transform → upsert merge
(availableNow drain), and watermarked windowed aggregation semantics."""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mbta_etl_spark.streaming.ingest import run_upsert_stream, windowed_event_counts
from streamutil import drain_query


def _snapshot(vid, speed, updated_at="2024-01-15T10:30:00-05:00"):
    return {
        "id": vid,
        "type": "vehicle",
        "attributes": {
            "updated_at": updated_at,
            "speed": speed,
            "occupancy_status": "MANY_SEATS_AVAILABLE",
            "longitude": -71.0,
            "latitude": 42.0,
            "label": f"lbl-{vid}",
            "direction_id": 0,
            "current_status": "IN_TRANSIT_TO",
            "bearing": 90,
        },
    }


def test_streaming_upsert_end_to_end(spark, tmp_path):
    snap_dir = tmp_path / "snapshots"
    snap_dir.mkdir()
    table = str(tmp_path / "vehicles")
    ckpt = str(tmp_path / "ckpt")

    with open(snap_dir / "s1.jsonl", "w") as f:
        f.write(json.dumps(_snapshot("veh-A", 10.0)) + "\n")
        f.write(json.dumps(_snapshot("veh-B", 20.0)) + "\n")

    q = run_upsert_stream(spark, str(snap_dir), table, ckpt, available_now=True)
    drain_query(q)
    out = {r["id"]: r["speed"] for r in spark.read.parquet(table).collect()}
    assert out == {"veh-A": 10.0, "veh-B": 20.0}

    # second snapshot: update A, add C; resume from the checkpoint
    time.sleep(1.1)  # later ingested_at so the new batch wins
    with open(snap_dir / "s2.jsonl", "w") as f:
        f.write(json.dumps(_snapshot("veh-A", 55.0)) + "\n")
        f.write(json.dumps(_snapshot("veh-C", 30.0)) + "\n")

    q = run_upsert_stream(spark, str(snap_dir), table, ckpt, available_now=True)
    drain_query(q)
    out = {r["id"]: r["speed"] for r in spark.read.parquet(table).collect()}
    assert out == {"veh-A": 55.0, "veh-B": 20.0, "veh-C": 30.0}


EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ]
)


def test_windowed_counts_batch_semantics(spark):
    """The windowed rollup is a plain DataFrame function — verify window
    boundary assignment on a batch frame."""
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 10, 5), 1.0),
        (2, dt.datetime(2024, 1, 1, 10, 59), 2.0),
        (3, dt.datetime(2024, 1, 1, 11, 0), 4.0),  # next window edge
    ]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    out = {
        r["window_start"]: (r["cnt"], r["sum_value"])
        for r in windowed_event_counts(df).collect()
    }
    assert out[dt.datetime(2024, 1, 1, 10, 0)] == (2, 3.0)
    assert out[dt.datetime(2024, 1, 1, 11, 0)] == (1, 4.0)


def test_windowed_counts_streaming_with_late_data(spark, tmp_path):
    """File-stream the events through the watermarked agg in append mode:
    a late-but-within-watermark row lands in its original window."""
    import datetime as dt

    src = tmp_path / "events"
    src.mkdir()
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt2")

    def write_batch(name, rows):
        with open(src / name, "w") as f:
            for eid, ts, v in rows:
                f.write(json.dumps({"event_id": eid, "ts": ts, "value": v}) + "\n")

    write_batch(
        "b1.jsonl",
        [
            (1, "2024-01-01T10:05:00", 1.0),
            (2, "2024-01-01T13:00:00", 8.0),  # advances watermark past 10:xx
            (3, "2024-01-01T10:30:00", 2.0),  # late but within 2h watermark
        ],
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA).json(str(src))
    )
    q = (
        windowed_event_counts(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_query(q)
    # append mode emits only windows sealed by the watermark; with max ts
    # 13:00 and 2h delay, watermark=11:00 seals the 10:00 window
    out = {
        r["window_start"]: (r["cnt"], r["sum_value"])
        for r in spark.read.parquet(sink).collect()
    }
    assert out[dt.datetime(2024, 1, 1, 10, 0)] == (2, 3.0)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """First arrival of each event_id is emitted; a later re-delivery in a
    later micro-batch is dropped while its key is inside the watermark
    horizon."""
    from mbta_etl_spark.streaming.ingest import dedup_stream_by_key

    src = tmp_path / "events"
    src.mkdir()
    rows1 = [
        {"event_id": 1, "ts": "2024-01-15T10:00:00", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-15T10:01:00", "value": 2.0},
    ]
    rows2 = [
        {"event_id": 1, "ts": "2024-01-15T10:02:00", "value": 99.0},  # dup key
        {"event_id": 3, "ts": "2024-01-15T10:03:00", "value": 3.0},
    ]
    with open(src / "a.jsonl", "w") as f:
        for r in rows1:
            f.write(json.dumps(r) + "\n")
    with open(src / "b.jsonl", "w") as f:
        for r in rows2:
            f.write(json.dumps(r) + "\n")
    # FileStreamSource orders by modification time; pin distinct mtimes so
    # "a then b" is deterministic instead of a same-millisecond tie
    import os

    now = time.time()
    os.utime(src / "a.jsonl", (now - 100, now - 100))
    os.utime(src / "b.jsonl", (now, now))

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # force >1 micro-batch
        .json(str(src))
    )
    deduped = dedup_stream_by_key(stream, ["event_id"], "ts", "2 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_query(q)
    got = {
        r["event_id"]: r["value"]
        for r in spark.sql("SELECT * FROM dedup_sink").collect()
    }
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}  # first arrival wins, dup dropped


def test_sliding_windows_overlap(spark):
    """Batch-semantics check: a row falls into duration/slide windows."""
    import datetime as dt

    from mbta_etl_spark.streaming.ingest import sliding_window_rates

    rows = [(1, dt.datetime(2024, 1, 1, 10, 20), 6.0)]
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    out = sliding_window_rates(df).collect()
    starts = sorted(r["window_start"] for r in out)
    # 1h window sliding by 15m: the 10:20 row is in 4 windows
    assert starts == [
        dt.datetime(2024, 1, 1, 9, 30),
        dt.datetime(2024, 1, 1, 9, 45),
        dt.datetime(2024, 1, 1, 10, 0),
        dt.datetime(2024, 1, 1, 10, 15),
    ]
    assert all(r["cnt"] == 1 and r["avg_value"] == 6.0 for r in out)


def test_stream_static_enrichment(spark, tmp_path):
    """Streaming events joined to a static dimension inside a micro-batch."""
    from mbta_etl_spark.streaming.ingest import enrich_stream

    src = tmp_path / "events"
    src.mkdir()
    with open(src / "a.jsonl", "w") as f:
        for eid, et in [(1, "click"), (2, "view"), (3, "signup")]:
            f.write(
                json.dumps(
                    {"event_id": eid, "ts": "2024-01-15T10:00:00", "value": 1.0,
                     "event_type": et}
                )
                + "\n"
            )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("event_type", StringType()),
        ]
    )
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1)], "event_type string, weight double"
    )
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        enrich_stream(stream, dim, "event_type")
        .writeStream.format("memory")
        .queryName("enriched_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_query(q)
    got = {
        r["event_id"]: r["weight"]
        for r in spark.sql("SELECT * FROM enriched_sink").collect()
    }
    assert got == {1: 1.0, 2: 0.1, 3: None}  # left join keeps unmatched


def test_stream_stream_interval_join(spark, tmp_path):
    """Clicks attribute to impressions with the same user within 10
    minutes; a later click stays unmatched (state stays bounded by the
    interval + watermark, checked implicitly by the join completing)."""
    from mbta_etl_spark.streaming.ingest import interval_join_streams

    imp_dir = tmp_path / "impressions"
    clk_dir = tmp_path / "clicks"
    imp_dir.mkdir()
    clk_dir.mkdir()
    with open(imp_dir / "i.jsonl", "w") as f:
        f.write(json.dumps({"imp_id": 1, "imp_user": 7,
                            "imp_ts": "2024-01-15T10:00:00"}) + "\n")
        f.write(json.dumps({"imp_id": 2, "imp_user": 8,
                            "imp_ts": "2024-01-15T10:00:00"}) + "\n")
    with open(clk_dir / "c.jsonl", "w") as f:
        # in-window click for user 7; out-of-window click for user 8
        f.write(json.dumps({"click_id": 10, "click_user": 7,
                            "click_ts": "2024-01-15T10:05:00"}) + "\n")
        f.write(json.dumps({"click_id": 11, "click_user": 8,
                            "click_ts": "2024-01-15T10:30:00"}) + "\n")
    imp_schema = StructType(
        [
            StructField("imp_id", LongType()),
            StructField("imp_user", LongType()),
            StructField("imp_ts", TimestampType()),
        ]
    )
    clk_schema = StructType(
        [
            StructField("click_id", LongType()),
            StructField("click_user", LongType()),
            StructField("click_ts", TimestampType()),
        ]
    )
    imps = spark.readStream.schema(imp_schema).json(str(imp_dir))
    clks = spark.readStream.schema(clk_schema).json(str(clk_dir))
    joined = interval_join_streams(
        imps, clks, "imp_user", "click_user", "imp_ts", "click_ts"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_query(q)
    rows = spark.sql("SELECT imp_id, click_id FROM attrib_sink").collect()
    assert {(r["imp_id"], r["click_id"]) for r in rows} == {(1, 10)}


def test_streaming_session_windows_merge_and_close(spark, tmp_path):
    """Session windows over a file stream: rows within the gap fuse into
    one growing session; a far-apart row opens a second session."""
    import datetime as dt

    from mbta_etl_spark.streaming.ingest import session_window_counts

    src = tmp_path / "sess_events"
    src.mkdir()
    rows = [
        (1, "2024-01-15T10:00:00", 1.0, "click"),
        (2, "2024-01-15T10:10:00", 1.0, "click"),  # within gap: same session
        (3, "2024-01-15T14:00:00", 1.0, "click"),  # far: new session
    ]
    with open(src / "a.jsonl", "w") as f:
        for eid, ts, v, et in rows:
            f.write(
                json.dumps(
                    {"event_id": eid, "ts": ts, "value": v, "event_type": et}
                )
                + "\n"
            )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
            StructField("event_type", StringType()),
        ]
    )
    stream = spark.readStream.schema(schema).json(str(src))
    out_rows = []
    q = (
        session_window_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_test")
        .start()
    )
    try:
        q.processAllAvailable()
        out_rows = spark.sql("SELECT * FROM sess_test").collect()
    finally:
        q.stop()
    got = sorted(
        (r["session_start"], r["session_end"], r["n_events"]) for r in out_rows
    )
    assert len(got) == 2
    # first session: 10:00 merged with 10:10, ends 10:10 + 30m gap
    assert got[0][2] == 2
    assert got[0][1] - got[0][0] == dt.timedelta(minutes=40)
    # second session: single row, 30m span
    assert got[1][2] == 1
    assert got[1][1] - got[1][0] == dt.timedelta(minutes=30)


def test_streaming_near_dup_ingest(spark, tmp_path):
    """Ingest-time NEAR-dedup with an on-disk band index: batch 1 seeds
    the index; batch 2's exact copy and one-token-changed near copy of a
    batch-1 doc are both dropped by band collision, a genuinely new doc
    survives, and an intra-batch exact dup keeps only the smaller id."""
    import os

    from mbta_etl_spark.streaming.dedup_stream import start_near_dup_ingest_stream

    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "falls softly on the quiet village roofs tonight"
    )
    src = tmp_path / "docs"
    src.mkdir()
    rows1 = [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": "an entirely different story about spark "
                              "clusters shuffling petabytes of tokens"},
    ]
    near = base.replace("dog", "cat")  # one token changed: near copy of 1
    fresh = ("completely novel content mentioning neither animals nor "
             "weather just raw unduplicated prose for the index")
    rows2 = [
        {"doc_id": 10, "text": base},   # exact copy of 1 -> dropped
        {"doc_id": 11, "text": near},   # near copy of 1 -> dropped
        {"doc_id": 12, "text": fresh},  # new -> kept
        {"doc_id": 13, "text": fresh},  # intra-batch dup of 12 -> dropped
    ]
    with open(src / "a.jsonl", "w") as f:
        for r in rows1:
            f.write(json.dumps(r) + "\n")
    with open(src / "b.jsonl", "w") as f:
        for r in rows2:
            f.write(json.dumps(r) + "\n")
    now = time.time()
    os.utime(src / "a.jsonl", (now - 100, now - 100))
    os.utime(src / "b.jsonl", (now, now))

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)  # a then b as separate batches
        .json(str(src))
    )
    q = start_near_dup_ingest_stream(
        stream,
        str(tmp_path / "store"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    drain_query(q)
    kept = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert kept == [1, 2, 12]
    # the index holds bands for exactly the survivors
    idx_docs = sorted(
        r["doc_id"]
        for r in spark.read.parquet(str(tmp_path / "store"))
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert idx_docs == [1, 2, 12]


def test_streaming_dedup_state_survives_restart(spark, tmp_path):
    """Stateful recovery: the dedup state store is rebuilt from the
    checkpoint across a FULL query restart — a key first seen before
    the restart is still recognized as a duplicate after it. This is
    the recovery contract a 100 TB ingest leans on (executor loss,
    deploy, backfill pause): exactly-once within the watermark horizon
    across restarts, not just within one query lifetime."""
    import os

    from mbta_etl_spark.streaming.ingest import dedup_stream_by_key

    src = tmp_path / "events"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "out")
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )

    def write_file(name, rows, age):
        path = src / name
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        now = time.time()
        os.utime(path, (now - age, now - age))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            dedup_stream_by_key(stream, ["event_id"], "ts", "2 hours")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_query(q)

    write_file("a.jsonl", [
        {"event_id": 1, "ts": "2024-01-15T10:00:00", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-15T10:01:00", "value": 2.0},
    ], age=100)
    run_once()  # first query lifetime ends here

    # new files arrive while the query is DOWN: a re-delivery of key 1
    # and a fresh key 3; then a second, fully restarted query runs
    write_file("b.jsonl", [
        {"event_id": 1, "ts": "2024-01-15T10:02:00", "value": 99.0},
        {"event_id": 3, "ts": "2024-01-15T10:03:00", "value": 3.0},
    ], age=0)
    run_once()

    got = {
        r["event_id"]: r["value"]
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {1: 1.0, 2: 2.0, 3: 3.0}  # key 1's redelivery dropped


def test_constant_utc_offset_guard():
    """The watermarked replay entries assume the session zone's
    NTZ->LTZ cast is a UNIFORM shift over the data span; a zone with a
    DST transition inside the span must raise loudly instead of
    letting the streamed result silently diverge from the NTZ oracle.
    Transition-free spans and fixed-offset names pass."""
    import datetime as dt

    import pytest as _pytest

    from mbta_etl_spark.streaming.replay import assert_constant_utc_offset

    mn = dt.datetime(2024, 1, 1, 0, 0, 7)
    mx = dt.datetime(2024, 1, 30, 23, 57, 12)
    # no January transition in these
    assert_constant_utc_offset("UTC", mn, mx)
    assert_constant_utc_offset("America/New_York", mn, mx)
    assert_constant_utc_offset("+05:30", mn, mx)
    assert_constant_utc_offset("GMT+8", mn, mx)
    # a spring-forward span is caught (NY jumps -05:00 -> -04:00 on
    # 2024-03-10), as is a southern-hemisphere DST end (Santiago
    # leaves -03:00 on 2024-04-07)
    with _pytest.raises(ValueError, match="changes UTC offset"):
        assert_constant_utc_offset(
            "America/New_York",
            dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 31),
        )
    with _pytest.raises(ValueError, match="changes UTC offset"):
        assert_constant_utc_offset(
            "America/Santiago",
            dt.datetime(2024, 4, 1), dt.datetime(2024, 4, 30),
        )
    # a malformed (empty) zone name must fail loudly, not slip through
    # the fixed-offset fast path ('' is a substring of "+-", so the old
    # `name[:1] in "+-"` test was vacuously True for it)
    with _pytest.raises(Exception):
        assert_constant_utc_offset("", mn, mx)


def test_session_window_late_batch_fragments_and_drops(spark, tmp_path):
    """Pins the late-data semantics st04's time-monotone lander exists
    to avoid (VERDICT r5 item 8: previously implied, not asserted), as
    MEASURED on Spark 4.1 rather than as folklore: when a batch arrives
    behind the watermark, its rows are NOT dropped wholesale up front —
    the first late row still emits a session, but TRUNCATED to the
    fragment seen in that batch (the already-passed watermark closes it
    immediately), and the session's remaining rows arriving in later
    batches are then silently discarded. Either way the result diverges
    from batch sessionization, which is exactly why land_replay_log
    pins ascending file mtimes: the SAME rows with the SAME batch
    membership produce the exact batch answer when batches replay in
    time order, and a lossy fragment when they don't."""
    import datetime as dt

    from mbta_etl_spark.plans.registry import _session_window_agg
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
    )

    # key 1: ONE session of two rows 10 min apart (gap is 30 min), the
    # rows placed in two different batches; key 2: a day later, so its
    # batch pushes the watermark far past key 1's whole session;
    # sentinel flushes the tail
    t0 = dt.datetime(2024, 1, 15, 10, 0)
    rows = [
        (1, "2024-01-15 10:00:00", 1.0),
        (1, "2024-01-15 10:10:00", 2.0),
        (2, "2024-01-16 12:00:00", 3.0),
        (-1, "2099-01-01 00:00:00", 0.0),  # sentinel
    ]

    def replay(order):  # order[i] = replay batch index of rows[i]
        df = spark.createDataFrame(
            [(u, t, v, order[i]) for i, (u, t, v) in enumerate(rows)],
            "user_id long, _t string, value double, rk long",
        ).select(
            "user_id", F.col("_t").cast("timestamp_ntz").alias("ts"),
            "value", "rk",
        )
        in_dir = str(tmp_path / f"in_{''.join(map(str, order))}")
        land_replay_log(df, in_dir, 4, "rk")
        stream = (
            open_replay_stream(spark, in_dir, df.schema)
            .drop("rk")
            .withColumn("ts", F.col("ts").cast("timestamp"))
        )
        sess = _session_window_agg(stream.withWatermark("ts", "10 minutes"))
        qname = f"late_frag_{'_'.join(map(str, order))}"
        q = (
            sess.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_query(q)
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events,
             r.sum_value)
            for r in spark.sql(f"SELECT * FROM {qname}").collect()
            if r.user_id == 1
        }

    # time-monotone replay: the split session merges in STATE across
    # batches and emits once, exactly the batch answer
    assert replay([0, 1, 2, 3]) == {
        (1, t0, t0 + dt.timedelta(minutes=40), 2, 3.0)
    }
    # out-of-order replay (key 2 FIRST): the 10:00 row emits a session
    # TRUNCATED at 10:30 (watermark already past it closes the fragment
    # immediately), and the 10:10 row is silently discarded
    assert replay([1, 2, 0, 3]) == {
        (1, t0, t0 + dt.timedelta(minutes=30), 1, 1.0)
    }


def test_interval_overlap_streams_equals_batch_join(spark, tmp_path):
    """st05's harness: the dual-watermarked stream-stream interval join
    equals the batch bin-bucketed interval_overlap_join regardless of
    batch count — including a pair whose two sides land in DIFFERENT
    micro-batches (the purchase arrives two batches after its click, so
    the match comes out of buffered join state, not a same-batch hash
    join), the reversed order (purchase first, click later), and the
    strict-overlap boundary (windows that exactly touch must NOT
    join)."""
    from mbta_etl_spark.operators.temporal import interval_overlap_join
    from mbta_etl_spark.streaming.ingest import interval_overlap_streams
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
    )

    # (user, id, ts, replay-batch) — rk is time-monotone per side, the
    # watermark discipline every replayed stream needs
    clicks_rows = [
        (7, 100, "2024-01-15 10:00:00", 0),   # matches purchase 2 batches later
        (8, 101, "2024-01-15 10:00:00", 0),   # touch-only: must NOT join
        (9, 102, "2024-01-15 10:01:00", 1),   # click AFTER its purchase
        (5, 103, "2024-01-15 23:00:00", 2),   # no purchase for this user
    ]
    purch_rows = [
        (9, 200, "2024-01-15 10:00:00", 0),   # overlaps click 102 by 60s
        (8, 201, "2024-01-15 10:05:00", 1),   # b_start == a_end: excluded
        (7, 202, "2024-01-15 10:04:30", 2),   # overlaps click 100 by 30s
    ]

    def _mk(rows, id_name, ts_name, user_name):
        df = spark.createDataFrame(
            rows, f"{user_name} long, {id_name} long, _t string, rk long"
        )
        return df.select(
            user_name, id_name,
            F.col("_t").cast("timestamp_ntz").alias(ts_name), "rk",
        )

    clicks_src = _mk(clicks_rows, "a_id", "a_ts", "user_id")
    purch_src = _mk(purch_rows, "b_id", "b_ts", "b_user")

    # batch twin: explicit [ts, ts+5m) x [ts, ts+2m) windows
    batch = {
        (r.user_id, r.a_id, r.b_id, r.overlap_s)
        for r in interval_overlap_join(
            clicks_src.select(
                "user_id", F.col("a_id").alias("id"),
                F.col("a_ts").alias("start_ts"),
                F.expr("a_ts + INTERVAL 5 MINUTES").alias("end_ts"),
            ),
            purch_src.select(
                F.col("b_user").alias("user_id"),
                F.col("b_id").alias("id"),
                F.col("b_ts").alias("start_ts"),
                F.expr("b_ts + INTERVAL 2 MINUTES").alias("end_ts"),
            ),
            "user_id",
        ).collect()
    }
    assert batch == {(7, 100, 202, 30.0), (9, 102, 200, 60.0)}

    for n in (1, 3):
        cdir = str(tmp_path / f"c{n}")
        pdir = str(tmp_path / f"p{n}")
        land_replay_log(clicks_src, cdir, n, "rk")
        land_replay_log(purch_src, pdir, n, "rk")
        clicks = (
            open_replay_stream(spark, cdir, clicks_src.schema)
            .drop("rk")
            .withColumn("a_ts", F.col("a_ts").cast("timestamp"))
        )
        purchases = (
            open_replay_stream(spark, pdir, purch_src.schema)
            .drop("rk")
            .withColumn("b_ts", F.col("b_ts").cast("timestamp"))
        )
        joined = interval_overlap_streams(
            clicks, purchases, "user_id", "b_user", "a_ts", "b_ts",
            a_window="5 minutes", b_window="2 minutes",
        ).select(
            "user_id", "a_id", "b_id",
            (
                F.expr(
                    "timestampdiff(MICROSECOND, greatest(a_ts, b_ts), "
                    "least(a_ts + INTERVAL 5 MINUTES, "
                    "b_ts + INTERVAL 2 MINUTES))"
                )
                / F.lit(1_000_000.0)
            ).alias("overlap_s"),
        )
        q = (
            joined.writeStream.format("memory")
            .queryName(f"st05_unit_{n}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain_query(q)
        got = {
            (r.user_id, r.a_id, r.b_id, r.overlap_s)
            for r in spark.sql(f"SELECT * FROM st05_unit_{n}").collect()
        }
        assert got == batch, f"divergence at n_batches={n}"


def test_interval_overlap_streams_left_outer_null_emission(spark, tmp_path):
    """st06's harness: in a LEFT-OUTER stream-stream interval join, an
    unmatched left row emits its NULL-padded result only when the
    global watermark proves no right-side partner can still arrive —
    and since the global watermark is the MIN across sources, a
    far-future sentinel must ride BOTH streams or the tail never
    flushes. Asserts the exact final table: one matched pair (sides in
    different batches) plus one unmatched click with NULL purchase
    columns."""
    from mbta_etl_spark.streaming.ingest import interval_overlap_streams
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
    )

    clicks_rows = [
        (7, 100, "2024-01-15 10:00:00", 0),   # matched (purchase one batch later)
        (5, 101, "2024-01-15 10:00:00", 0),   # unmatched: NULL row
        (-2, -1, "2099-01-01 00:00:00", 2),   # sentinel
    ]
    purch_rows = [
        # right-side filler: occupies the purchase source's FIRST file so
        # the matching purchase is consumed one micro-batch AFTER click
        # 100 — the match must come out of buffered left-outer join
        # state, not a same-batch hash join (with one file per side per
        # trigger, both sources' first files land in the same batch);
        # unmatched on the right of a left join, it emits nothing
        (9, 199, "2024-01-15 09:00:00", 0),
        (7, 200, "2024-01-15 10:04:30", 1),   # overlaps click 100 by 30s
        (-3, -1, "2099-01-01 00:00:00", 2),   # sentinel
    ]

    def _mk(rows, user_name, id_name, ts_name):
        df = spark.createDataFrame(
            rows, f"{user_name} long, {id_name} long, _t string, rk long"
        )
        return df.select(
            user_name, id_name,
            F.col("_t").cast("timestamp_ntz").alias(ts_name), "rk",
        )

    clicks_src = _mk(clicks_rows, "user_id", "a_id", "a_ts")
    purch_src = _mk(purch_rows, "b_user", "b_id", "b_ts")
    cdir, pdir = str(tmp_path / "c"), str(tmp_path / "p")
    land_replay_log(clicks_src, cdir, 3, "rk")
    land_replay_log(purch_src, pdir, 3, "rk")
    clicks = (
        open_replay_stream(spark, cdir, clicks_src.schema)
        .drop("rk")
        .withColumn("a_ts", F.col("a_ts").cast("timestamp"))
    )
    purchases = (
        open_replay_stream(spark, pdir, purch_src.schema)
        .drop("rk")
        .withColumn("b_ts", F.col("b_ts").cast("timestamp"))
    )
    joined = interval_overlap_streams(
        clicks, purchases, "user_id", "b_user", "a_ts", "b_ts",
        a_window="5 minutes", b_window="2 minutes", how="left_outer",
    ).select("user_id", "a_id", "b_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("st06_unit")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_query(q)
    got = {
        (r.user_id, r.a_id, r.b_id)
        for r in spark.sql("SELECT * FROM st06_unit").collect()
        if r.user_id >= 0
    }
    assert got == {(7, 100, 200), (5, 101, None)}


def test_stream_join_late_rows_lazy_eviction(spark, tmp_path):
    """The join-state analog of
    test_session_window_late_batch_fragments_and_drops (VERDICT r6 item
    8), pinning the MEASURED Spark 4.1 semantics — which are lazier
    than the docs suggest: stream-stream join INPUT rows are NOT
    watermark-filtered, so lateness manifests only through state
    eviction, and eviction is lazy (within a batch the probe runs
    before the remove phase). Concretely, with a 1-minute watermark
    delay:

    - a purchase arriving in the FIRST batch that runs with the
      advanced watermark still joins its long-expired click — the
      click's state is only removed at the end of that batch;
    - a purchase arriving ONE BATCH LATER finds the state gone and
      silently produces nothing, where the batch join produces a pair.

    Implication the st05/st06 docstrings rely on: their batch
    equivalence comes from the time-monotone lander producing NO late
    rows at all — not from any input-side late filtering, which does
    not exist for joins."""
    from mbta_etl_spark.streaming.ingest import interval_overlap_streams
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
    )

    clicks_rows = [
        (1, 100, "2024-01-15 10:00:00", 0),
        (2, 101, "2024-01-15 12:00:00", 1),
        (4, 104, "2024-01-15 13:00:00", 2),
        (5, 105, "2024-01-15 13:30:00", 3),
    ]
    purch_rows = [
        (1, 200, "2024-01-15 10:00:30", 0),  # pairs with click 100
        (2, 201, "2024-01-15 12:00:30", 1),  # pairs with click 101
        (4, 204, "2024-01-15 13:00:30", 2),  # fresh batch-2 pair
        # LATE in batch 2: the watermark entering this batch is
        # min(12:00, 12:00:30) - 1m = 11:59, far past click 100's
        # window end (10:05) — yet this row STILL pairs, because the
        # batch's probe runs before its remove phase (lazy eviction)
        (1, 202, "2024-01-15 10:01:00", 2),
        (5, 205, "2024-01-15 13:30:30", 3),  # fresh batch-3 pair
        # LATE in batch 3: click 100's state was removed at the end of
        # batch 2, so this equally-overlapping row produces NOTHING
        (1, 203, "2024-01-15 10:02:00", 3),
    ]

    def _mk(rows, id_name, ts_name, user_name):
        df = spark.createDataFrame(
            rows, f"{user_name} long, {id_name} long, _t string, rk long"
        )
        return df.select(
            user_name, id_name,
            F.col("_t").cast("timestamp_ntz").alias(ts_name), "rk",
        )

    clicks_src = _mk(clicks_rows, "a_id", "a_ts", "user_id")
    purch_src = _mk(purch_rows, "b_id", "b_ts", "b_user")
    cdir = str(tmp_path / "c")
    pdir = str(tmp_path / "p")
    land_replay_log(clicks_src, cdir, 4, "rk")
    land_replay_log(purch_src, pdir, 4, "rk")
    clicks = (
        open_replay_stream(spark, cdir, clicks_src.schema)
        .drop("rk")
        .withColumn("a_ts", F.col("a_ts").cast("timestamp"))
    )
    purchases = (
        open_replay_stream(spark, pdir, purch_src.schema)
        .drop("rk")
        .withColumn("b_ts", F.col("b_ts").cast("timestamp"))
    )
    joined = interval_overlap_streams(
        clicks, purchases, "user_id", "b_user", "a_ts", "b_ts",
        a_window="5 minutes", b_window="2 minutes",
        watermark="1 minute",
    ).select("user_id", "a_id", "b_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("st_late_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain_query(q)
    got = {
        (r.user_id, r.a_id, r.b_id)
        for r in spark.sql("SELECT * FROM st_late_join").collect()
    }
    fresh = {(1, 100, 200), (2, 101, 201), (4, 104, 204), (5, 105, 205)}
    lazy_late = (1, 100, 202)   # one batch late: still joins
    dropped_late = (1, 100, 203)  # two batches late: state gone
    assert got == fresh | {lazy_late}
    # the batch join contains BOTH late pairs — the difference is
    # exactly the watermark-horizon trade the st docstrings argue
    batch_pairs = {
        (r.user_id, r.a_id, r.b_id)
        for r in clicks_src.join(
            purch_src,
            (F.col("user_id") == F.col("b_user"))
            & (F.col("b_ts") > F.col("a_ts") - F.expr("INTERVAL 2 minutes"))
            & (F.col("b_ts") < F.col("a_ts") + F.expr("INTERVAL 5 minutes")),
        ).collect()
    }
    assert batch_pairs == fresh | {lazy_late, dropped_late}


def test_stream_sessions_wall_time_across_dst(spark, tmp_path):
    """st04's round-7 discipline: watermarked session windows must
    measure WALL-time gaps (the NTZ oracle's semantics) even when the
    session zone has a DST transition inside the data span. User 1's
    two events straddle America/New_York's 2024-03-10 spring-forward:
    63 wall-minutes apart (two sessions, gap > 30m) but 3 PHYSICAL
    minutes apart — the old session-zone cast would merge them into
    one session. Runs the exact st04 plumbing (wall-instant relabeling
    in, session_window, _ntz_from_wall_instant out) under the hostile
    zone and checks the streamed sessions equal the batch NTZ
    sessionization."""
    from mbta_etl_spark.plans.registry import (
        _ntz_from_wall_instant,
        _session_window_agg,
        _wall_instant,
    )
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
        time_quantile_key,
    )

    rows = [
        (1, "2024-03-10 01:58:00", 1.0),
        (1, "2024-03-10 03:01:00", 2.0),   # 63 wall min later: NEW session
        (2, "2024-03-10 03:05:00", 4.0),
        (2, "2024-03-10 03:20:00", 8.0),   # 15 wall min: same session
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # batch twin on NTZ (q18a's expression): the wall-time truth
        batch = {
            (r.user_id, r.session_start, r.session_end, r.n_events,
             r.sum_value)
            for r in _session_window_agg(ev).collect()
        }
        import datetime as dt

        assert batch == {
            (1, dt.datetime(2024, 3, 10, 1, 58),
             dt.datetime(2024, 3, 10, 2, 28), 1, 1.0),
            (1, dt.datetime(2024, 3, 10, 3, 1),
             dt.datetime(2024, 3, 10, 3, 31), 1, 2.0),
            (2, dt.datetime(2024, 3, 10, 3, 5),
             dt.datetime(2024, 3, 10, 3, 50), 2, 12.0),
        }

        keyed = time_quantile_key(ev, "ts", 2, require_uniform_shift=False)
        sentinel = spark.range(1).select(
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("2099-01-01 00:00:00").cast("timestamp_ntz").alias("ts"),
            F.lit(0.0).alias("value"),
            F.lit(1).cast("long").alias("replay_key"),
        )
        keyed = keyed.unionByName(sentinel)
        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "sessions")
        ckpt = str(tmp_path / "ckpt")
        land_replay_log(keyed, in_dir, 2, "replay_key")
        stream = (
            open_replay_stream(spark, in_dir, keyed.schema)
            .drop("replay_key")
            .withColumn("ts", _wall_instant("ts"))
        )
        sess = _session_window_agg(
            stream.withWatermark("ts", "2 hours"),
            bound_to_ntz=_ntz_from_wall_instant,
        )
        q = (
            sess.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(
                lambda closed, bid: closed.write.mode("overwrite").parquet(
                    f"{out_dir}/batch_id={bid}"
                )
            )
            .trigger(availableNow=True)
            .start()
        )
        drain_query(q)
        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events,
             r.sum_value)
            for r in spark.read.parquet(out_dir)
            .drop("batch_id")
            .filter(F.col("user_id") != -1)
            .collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got == batch


def test_wall_micros_is_zone_free(spark):
    """_wall_micros must encode an NTZ wall time as its exact epoch
    microseconds in ANY session zone — including wall times INSIDE a
    spring-forward gap, where the zone-routing alternatives
    (timestampdiff, unix_* conversions) silently shift by the gap
    width. Checked against Python's own zone-free encoding."""
    import datetime as dt

    from mbta_etl_spark.plans.registry import _wall_micros

    vals = [
        "2024-03-10 01:59:00.123456",  # just before the NY gap
        "2024-03-10 02:01:00",         # INSIDE the gap (nonexistent)
        "2024-03-10 02:30:00",         # inside the gap
        "2024-03-10 03:01:00",         # just after
        "2024-11-03 01:30:00",         # ambiguous (fall-back repeat)
        "2024-01-05 12:00:00",         # plain
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string").select(
        "s", F.col("s").cast("timestamp_ntz").alias("ts")
    )
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("America/New_York", "UTC", "Pacific/Chatham"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = {
                r.s: r.us
                for r in df.select(
                    "s", _wall_micros(F.col("ts")).alias("us")
                ).collect()
            }
            for s in vals:
                fmt = (
                    "%Y-%m-%d %H:%M:%S.%f" if "." in s
                    else "%Y-%m-%d %H:%M:%S"
                )
                wall = dt.datetime.strptime(s, fmt).replace(
                    tzinfo=dt.timezone.utc
                )
                assert got[s] == int(wall.timestamp() * 1_000_000), (
                    tz, s,
                )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_stream_join_wall_time_across_dst(spark, tmp_path):
    """The round-6 st05/st06 caveat, closed: the streamed interval
    join must measure WALL time (the NTZ oracle's semantics) even when
    the session zone has a DST transition inside the data span. Data
    straddles America/New_York's 2024-03-10 spring-forward gap: user
    1's click and purchase are 63 wall-minutes apart (no overlap) but
    only 3 PHYSICAL minutes apart — the old session-zone cast would
    emit a spurious pair. Runs the exact registry plumbing
    (_land_pair_streams -> interval_overlap_streams on the _wall_instant
    columns -> _pair_overlap_select -> _run_join_replay) under the
    hostile zone and checks the result equals the wall-time batch
    answer."""
    from mbta_etl_spark.plans.registry import (
        _ST_JOIN_A_WINDOW,
        _ST_JOIN_B_WINDOW,
        _land_pair_streams,
        _pair_overlap_select,
        _run_join_replay,
    )
    from mbta_etl_spark.streaming.ingest import interval_overlap_streams

    rows = [
        # (event_id, user_id, ts, event_type)
        (1, 1, "2024-03-10 01:58:00", "click"),
        (101, 1, "2024-03-10 03:01:00", "purchase"),  # 63 wall min away
        (2, 2, "2024-03-10 01:58:00", "click"),
        (102, 2, "2024-03-10 01:59:00", "purchase"),  # overlap 120 s
        (3, 3, "2024-03-10 03:05:00", "click"),
        (103, 3, "2024-03-10 03:06:00", "purchase"),  # overlap 120 s
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # document the failure mode being guarded against: under the
        # session-zone cast, user 1's pair is 180 physical seconds
        # apart — inside the 5-minute window, a spurious match
        phys = ev.select(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            "event_id",
        ).collect()
        us = {r.event_id: r.us for r in phys}
        assert (us[101] - us[1]) == 180 * 1_000_000

        base = str(tmp_path / "dst_join")
        clicks, purchases = _land_pair_streams(spark, ev, base)
        joined = _pair_overlap_select(
            interval_overlap_streams(
                clicks, purchases, "user_id", "b_user", "a_wm", "b_wm",
                a_window=_ST_JOIN_A_WINDOW, b_window=_ST_JOIN_B_WINDOW,
            )
        )
        got = {
            (r.user_id, r.a_id, r.b_id, r.overlap_s)
            for r in _run_join_replay(spark, joined, base).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert got == {(2, 2, 102, 120.0), (3, 3, 103, 120.0)}


def test_stream_exact_dedup_equiv_split_invariant(spark, tmp_path):
    """st01's harness: the final standing table equals the one-shot
    batch exact dedup regardless of batch count — including duplicate
    groups whose copies land in DIFFERENT micro-batches (doc_id % n
    splits 0/4 and 1/5 apart), which is where a first-wins streaming
    dedup would diverge from the merge algebra."""
    from mbta_etl_spark.operators.dedup import exact_dedup_groups
    from mbta_etl_spark.streaming.dedup_stream import stream_exact_dedup_equiv

    rows = [
        (0, "alpha beta gamma"),
        (4, "alpha beta gamma"),   # dup of 0, different batch at n=4? no:
        (1, "delta epsilon"),      # 0 and 4 share batch at n=4; 1 and 5
        (5, "delta epsilon"),      # share batch at n=4 but not at n=3
        (2, "unique two"),
        (3, "unique three"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        (r.text_sha): (r.n_copies, r.keep_doc_id)
        for r in exact_dedup_groups(
            docs, F.col("text"), F.col("doc_id")
        ).collect()
    }
    for n in (1, 3, 4):
        got = {
            r.text_sha: (r.n_copies, r.keep_doc_id)
            for r in stream_exact_dedup_equiv(
                docs, str(tmp_path / f"wd{n}"), n_batches=n
            ).collect()
        }
        assert got == batch, f"divergence at n_batches={n}"


def test_dir_bytes_reads_uri_paths(spark, tmp_path, monkeypatch):
    """The data-derived stream pin sizes from the landed bytes through
    Hadoop's FileSystem: a ``file://`` URI (the shape a DFS scratch dir
    takes) reads the same bytes as a bare path, where an ``os.walk``
    read 0 and left the pin at its floor. A missing path counts 0."""
    from mbta_etl_spark.streaming import replay

    sizes = {"a/part-0.json": 1000, "a/part-1.json": 234, "b/x.json": 66}
    for rel, n in sizes.items():
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(b"x" * n)
    uri = "file://" + str(tmp_path)
    assert replay._dir_bytes(spark, uri) == sum(sizes.values())
    assert replay._dir_bytes(spark, str(tmp_path / "a"), uri + "/b") == 1300
    assert replay._dir_bytes(spark, uri + "/missing") == 0

    monkeypatch.delenv("SPARK_GRAFT_STREAM_PIN", raising=False)
    monkeypatch.setattr(replay, "_PIN_ADVISORY_BYTES", 100)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        with replay.pinned_stream_parallelism(spark, 2, input_dirs=[uri]):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
