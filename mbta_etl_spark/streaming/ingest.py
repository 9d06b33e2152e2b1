"""Structured Streaming variants of the reference's ingest loop.

The reference is a one-shot batch re-run per CLI invocation, with the
UPSERT absorbing re-ingestion (SURVEY §2.6); here the same three stages
run continuously:

- **source**: a file-stream of JSON snapshots (the landing pattern for a
  polled HTTP API at scale — pollers write snapshots to object storage,
  the stream picks them up).
- **transform**: the exact batch ``transform()`` — Structured Streaming
  reuses unmodified batch expressions.
- **sink**: ``foreachBatch`` → the same upsert merge (``load.merge``),
  giving the reference's last-write-wins semantics per micro-batch,
  exactly once per batch id; or a
  watermarked ``dropDuplicates`` for at-most-once per key within the
  lateness horizon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from mbta_etl_spark.pipeline.load import merge_stream, upsert_step
from mbta_etl_spark.pipeline.schema import RAW_VEHICLE_SCHEMA
from mbta_etl_spark.pipeline.transform import transform


def stream_vehicle_snapshots(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    """File-stream of JSONL vehicle snapshots with the declared raw
    schema (schema must be explicit for streaming reads)."""
    return spark.readStream.schema(RAW_VEHICLE_SCHEMA).json(snapshot_dir)


def run_upsert_stream(
    spark: SparkSession,
    snapshot_dir: str,
    table_path: str,
    checkpoint_dir: str,
) -> DataStreamWriter:
    """Continuous ETL: stream snapshots → batch transform → each
    micro-batch upserted under its id (``load.merge`` with
    ``load.upsert_step``), so a redelivered micro-batch is skipped, not
    merged again. Returns the writer; the caller picks the trigger
    (``availableNow`` drains what is there and stops) and starts it.

    Within one micro-batch several snapshots may carry the same id; the
    merge keeps the newest ``ingested_at`` (one value per micro-batch),
    then the later row in partition order. Spark packs file splits
    largest-first, so between two snapshot files of one micro-batch that
    order is not their arrival order."""
    records = transform(stream_vehicle_snapshots(spark, snapshot_dir))
    return merge_stream(records, table_path, checkpoint_dir, upsert_step)


def dedup_stream_by_key(
    events: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: emit the FIRST arrival of each key, drop
    re-deliveries within the watermark horizon
    (``dropDuplicatesWithinWatermark``).

    This is the streaming arm of the dedup suite (batch arm:
    operators/dedup.exact_dedup_groups). State is one entry per key in
    the state store, partitioned by key like any keyed operator, and the
    watermark is what makes it 100 TB-safe: per-key state older than the
    horizon is evicted, so the store holds only the horizon's keys
    instead of growing without bound. The trade is at-least-once beyond
    the horizon — a key re-delivered later than ``watermark_delay`` is
    emitted again; size the horizon to the source's re-delivery window.
    """
    return events.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
        key_cols
    )


def interval_overlap_streams(
    a: DataFrame,
    b: DataFrame,
    a_key: str,
    b_key: str,
    a_ts: str,
    b_ts: str,
    a_window: str = "5 minutes",
    b_window: str = "2 minutes",
    watermark: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INTERVAL-OVERLAP join: each a-row owns the window
    [a_ts, a_ts + a_window), each b-row [b_ts, b_ts + b_window), and a
    pair joins when the windows overlap, i.e.
    ``b_ts > a_ts - b_window AND b_ts < a_ts + a_window`` (strict: two
    windows that merely touch do not overlap). The predicate is written
    directly on the two WATERMARKED event-time columns so the engine
    derives eviction bounds for BOTH state stores: an a-row drops once
    the global watermark passes a_ts + a_window, a b-row once it passes
    b_ts + b_window — state proportional to the window horizon, never
    the stream history. This is the streaming twin of the batch
    ``operators/temporal.interval_overlap_join`` (bin-bucketed there;
    here the engine's state store plays the bins' role). Column names
    must be disjoint across the two streams.

    ``how`` extends the same predicate to outer variants ("left_outer",
    "right_outer", "full_outer"): the engine emits the matched rows
    eagerly and the NULL-padded unmatched rows only when the watermark
    passes the row's window end (it must be certain no partner can
    still arrive), so a bounded replay needs the final watermark pushed
    past the last real window on BOTH sides — e.g. a far-future
    sentinel row per stream — or the tail's unmatched rows never
    emit."""
    wa = a.withWatermark(a_ts, watermark)
    wb = b.withWatermark(b_ts, watermark)
    cond = (
        (F.col(a_key) == F.col(b_key))
        & (F.col(b_ts) > F.col(a_ts) - F.expr(f"INTERVAL {b_window}"))
        & (F.col(b_ts) < F.col(a_ts) + F.expr(f"INTERVAL {a_window}"))
    )
    return wa.join(wb, cond, how)


def enrich_stream(
    events: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join: the static side is re-resolved per
    micro-batch (a dimension refresh is picked up without restarting the
    query) and joined stateless — no watermark, no state store. Spark
    broadcasts the static side when it's small; this is the streaming
    analog of the dimension joins in q17/q30."""
    return events.join(F.broadcast(dim), on, how)
