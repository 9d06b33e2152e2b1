"""Streaming continuous aggregate: the incremental rollup (operators/
rollup.py) driven by Structured Streaming — each micro-batch partial-
aggregates its own events and merges into the standing rollup table via
the same atomic publish the upsert sink uses.

This is the foreachBatch form of a materialized view: state lives in the
TABLE (mergeable partials), not the stream engine, so the aggregate
survives restarts for free. foreachBatch is AT-LEAST-once — the
checkpoint can redeliver the last batch after a crash between publish
and commit — so each merge records its batch id in the published
version's manifest (data + id commit in one symlink swap) and skips
redelivered ids, making the merge exactly-once end to end.

Scale: per micro-batch cost is one partial aggregation of the batch plus
a merge shuffle over partial ROWS (bucket × key cardinality), never the
accumulated raw events. Late data merges into whichever old bucket it
belongs to — no watermark cutoff; add one if the rollup table's bucket
range must stay bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mbta_etl_spark.operators.rollup import rollup_increment, rollup_merge
from mbta_etl_spark.pipeline.load import (
    atomic_publish,
    claim_batch,
    read_published,
)


def merge_rollup_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    keys: list[str],
) -> None:
    """One idempotent foreachBatch merge of hourly partials. foreachBatch
    is AT-LEAST-once (a crash between the table publish and the checkpoint commit
    redelivers the same batch id on restart), so the merge records the
    batch id in the published version's manifest — data and batch id
    commit in one symlink swap — and the shared ``claim_batch`` guard
    skips a redelivered batch (and fails loudly on an id regression,
    which means checkpoint/table lineage broke). That
    makes the merge exactly-once end to end; without it a replayed
    batch would double-count into cnt/sum."""
    current = read_published(batch_df.sparkSession, table_path)
    if not claim_batch(table_path, current, batch_id):
        return  # redelivered batch: already merged and published
    inc = rollup_increment(batch_df, F.col("ts"), F.col("value"), keys)
    merged = inc if current is None else rollup_merge(current.df, inc)
    atomic_publish(merged, table_path, batch_id)


def start_rollup_stream(
    events: DataFrame,
    table_path: str,
    checkpoint: str,
):
    """events stream (ts, value, event_type) → continuously-merged hourly
    rollup table at ``table_path``. Returns the StreamingQuery."""
    return (
        events.writeStream.foreachBatch(
            lambda batch_df, batch_id: merge_rollup_batch(
                batch_df, batch_id, table_path, ["event_type"]
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
