"""Streaming heavy hitters: a standing Misra–Gries summary table merged
per micro-batch (foreachBatch), the streaming twin of the batch two-pass
operator in operators/frequent.py.

State lives in the TABLE (an MG summary is mergeable, Agarwal et al.
PODS'12), not the stream engine, so like streaming/rollup.py the
aggregate survives restarts via checkpoint replay; redelivered batches
(foreachBatch is at-least-once) are skipped through the batch id
the version manifest commits with the data, making the merges
exactly-once. Per-batch cost: one batch-sized groupBy plus a
merge over <= 2*capacity summary rows; standing state is O(capacity)
regardless of stream length. Counts are LOWER BOUNDS with error at most
N/capacity — the consumer reads "keys that might exceed phi" and, as in
the batch operator, an exact recount of the candidate set turns the
sketch into an exact answer whenever one is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mbta_etl_spark.operators.frequent import mg_merge, mg_summarize
from mbta_etl_spark.pipeline.load import (
    atomic_publish,
    claim_batch,
    read_published,
)


def merge_mg_batch(
    batch_df: DataFrame,
    batch_id: int,
    table_path: str,
    key: str,
    capacity: int,
) -> None:
    """One idempotent foreachBatch merge. foreachBatch is AT-LEAST-once,
    so the merge records the batch id in the published version's
    manifest (data + id commit in one symlink swap) and
    the shared ``claim_batch`` guard skips a redelivered batch (raising
    on id regression = broken checkpoint/table lineage). Without the
    skip, a replayed batch would inflate effective N past the trim
    bound (error > N/capacity), which would break the 'candidates ⊇
    true heavy hitters' guarantee the exact-recount consumers (st03)
    rely on."""
    current = read_published(batch_df.sparkSession, table_path)
    if not claim_batch(table_path, current, batch_id):
        return  # redelivered batch: already merged and published
    inc = mg_summarize(batch_df, key, capacity)
    out = inc if current is None else mg_merge(current.df, inc, key, capacity)
    atomic_publish(out, table_path, batch_id)


def start_heavy_hitter_stream(
    keyed: DataFrame,
    table_path: str,
    checkpoint: str,
    key: str = "k",
    capacity: int = 50,
    available_now: bool = False,
):
    """keyed stream (one column ``key``) → continuously-merged MG
    summary table at ``table_path``. Returns the StreamingQuery.
    ``available_now=True`` runs a bounded replay (process everything
    available, then terminate) — the st03 equivalence-harness mode;
    the default is a continuous stream."""
    writer = (
        keyed.writeStream.foreachBatch(
            lambda batch_df, batch_id: merge_mg_batch(
                batch_df, batch_id, table_path, key, capacity
            )
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
