"""applyInPandasWithState: per-user running profile across micro-batches —
state must persist between batches via the checkpoint."""

from __future__ import annotations

import json

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)

from mbta_etl_spark.streaming.stateful import user_profile_stream
from streamutil import drain_query

IN_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("value", DoubleType()),
    ]
)


def _write(src, name, rows):
    with open(src / name, "w") as f:
        for uid, ts, v in rows:
            f.write(json.dumps({"user_id": uid, "ts": ts, "value": v}) + "\n")


def _drain(spark, src, sink, ckpt):
    stream = spark.readStream.schema(IN_SCHEMA).json(str(src))

    # parquet sink can't do update mode — append each micro-batch's
    # emissions via foreachBatch instead
    def _append(batch_df, batch_id):
        batch_df.write.mode("append").parquet(sink)

    q = (
        user_profile_stream(stream)
        .writeStream.foreachBatch(_append)
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    drain_query(q)


def test_stateful_profile_accumulates_across_batches(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _write(src, "b1.jsonl", [
        (1, "2024-01-01T10:00:00", 5.0),
        (1, "2024-01-01T10:05:00", 7.0),
        (2, "2024-01-01T09:00:00", 1.0),
    ])
    _drain(spark, src, sink, ckpt)

    _write(src, "b2.jsonl", [
        (1, "2024-01-01T11:00:00", 3.0),
        (3, "2024-01-01T12:00:00", 9.0),
    ])
    _drain(spark, src, sink, ckpt)

    import datetime as dt

    # latest emission per user wins (update-per-batch appends)
    rows = sorted(
        spark.read.parquet(sink).collect(),
        key=lambda r: (r["user_id"], r["n_events"]),
    )
    latest = {r["user_id"]: r for r in rows}
    assert latest[1]["n_events"] == 3
    assert latest[1]["sum_value"] == 15.0
    assert latest[1]["last_ts"] == dt.datetime(2024, 1, 1, 11, 0)
    assert latest[2]["n_events"] == 1
    assert latest[3]["sum_value"] == 9.0


def test_profile_stream_split_invariant(spark, tmp_path):
    """st07's harness: the standing table produced by
    user_profile_stream merged through load.merge_stream with
    replace_profiles (GroupState fold + last-write-wins merge) equals
    the one-shot batch aggregate REGARDLESS of how the replay splits —
    including keys spanning micro-batches, the cross-batch state path.
    (Redelivery: tests/test_pipeline.py::
    test_merge_is_exactly_once_per_batch_id.)"""
    import datetime as dt

    from pyspark.sql import functions as F

    from mbta_etl_spark.pipeline.load import merge_stream
    from mbta_etl_spark.streaming.replay import (
        land_replay_log,
        open_replay_stream,
    )
    from mbta_etl_spark.streaming.stateful import replace_profiles

    rows = [
        # user 1 spans all batches at n=4 (event_ids 0..3)
        (0, 1, "2024-01-01 10:00:00", 5.0),
        (1, 1, "2024-01-01 10:05:00", 7.0),
        (2, 1, "2024-01-01 11:00:00", 3.0),
        (3, 1, "2024-01-01 09:00:00", 2.5),
        # user 2: two batches
        (4, 2, "2024-01-01 09:00:00", 1.0),
        (5, 2, "2024-01-02 09:00:00", 4.0),
        # user 3: one event
        (6, 3, "2024-01-01 12:00:00", 9.0),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    def _run(n_batches: int, tag: str):
        base = tmp_path / tag
        in_dir = str(base / "in")
        table = str(base / "profiles")
        ckpt = str(base / "ckpt")
        src = ev.withColumn("replay_key", F.col("event_id"))
        land_replay_log(src, in_dir, n_batches, "replay_key")
        stream = open_replay_stream(spark, in_dir, src.schema).select(
            "user_id", "ts", "value"
        )
        q = (
            merge_stream(user_profile_stream(stream), table, ckpt, replace_profiles)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r.user_id: (r.n_events, r.sum_value, r.last_ts)
            for r in spark.read.parquet(table).collect()
        }

    split4 = _run(4, "n4")
    split1 = _run(1, "n1")
    expected = {
        1: (4, 17.5, dt.datetime(2024, 1, 1, 11, 0)),
        2: (2, 5.0, dt.datetime(2024, 1, 2, 9, 0)),
        3: (1, 9.0, dt.datetime(2024, 1, 1, 12, 0)),
    }
    assert split4 == expected
    assert split1 == expected


def test_stateful_profile_rocksdb_state_store(spark, tmp_path):
    """The RocksDB-backed state store tier, actually executed: the same
    applyInPandasWithState profile runs with RocksDBStateStoreProvider,
    so per-key state spills to disk instead of the executor heap — the
    configuration that matters for hot-key state at 100 TB. (The
    transformWithStateInPandas API additionally needs a protobuf runtime,
    absent here; this pins the RocksDB store itself.)"""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "in"
        src.mkdir()
        sink = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        _write(src, "b1.jsonl", [
            (1, "2024-01-01T10:00:00", 5.0),
            (2, "2024-01-01T09:00:00", 1.0),
        ])
        _drain(spark, src, sink, ckpt)
        _write(src, "b2.jsonl", [(1, "2024-01-01T11:00:00", 3.0)])
        _drain(spark, src, sink, ckpt)

        rows = sorted(
            spark.read.parquet(sink).collect(),
            key=lambda r: (r["user_id"], r["n_events"]),
        )
        latest = {r["user_id"]: r for r in rows}
        assert latest[1]["n_events"] == 2
        assert latest[1]["sum_value"] == 8.0
        assert latest[2]["n_events"] == 1
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_transform_with_state_accumulates(spark, tmp_path):
    """transformWithStateInPandas: running count/max survives across
    micro-batches in RocksDB-backed ValueState. The API serializes state
    over protobuf; skip where the protobuf runtime is unavailable (the
    operator itself is pure PySpark API surface)."""
    import pytest

    pytest.importorskip("google.protobuf.descriptor")
    from mbta_etl_spark.streaming.stateful import running_extrema_stream

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src = tmp_path / "in"
        src.mkdir()
        sink = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")

        def drain():
            stream = spark.readStream.schema(IN_SCHEMA).json(str(src))

            def _append(batch_df, batch_id):
                batch_df.write.mode("append").parquet(sink)

            q = (
                running_extrema_stream(stream)
                .writeStream.foreachBatch(_append)
                .option("checkpointLocation", ckpt)
                .outputMode("update")
                .trigger(availableNow=True)
                .start()
            )
            drain_query(q)

        _write(src, "b1.jsonl", [
            (1, "2024-01-01T10:00:00", 5.0),
            (1, "2024-01-01T10:05:00", 7.0),
            (2, "2024-01-01T09:00:00", 1.0),
        ])
        drain()
        _write(src, "b2.jsonl", [(1, "2024-01-01T11:00:00", 3.0)])
        drain()

        rows = sorted(
            spark.read.parquet(sink).collect(),
            key=lambda r: (r["user_id"], r["n_events"]),
        )
        latest = {r["user_id"]: r for r in rows}
        assert latest[1]["n_events"] == 3
        assert latest[1]["max_value"] == 7.0
        assert latest[2]["n_events"] == 1
        assert latest[2]["max_value"] == 1.0
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
