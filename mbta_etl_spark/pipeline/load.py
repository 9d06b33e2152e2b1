"""S3 — upsert sink (reference pipeline/load.go:6-39).

The reference does a transactional ``INSERT OR REPLACE`` keyed on the
``id`` PRIMARY KEY — last write wins, all-or-nothing. Plain parquet has no
MERGE, so the idiomatic stand-in is read-merge-rewrite with a
window-dedup (SURVEY §2.1 S3): union the new batch with the existing
table, keep the newest row per key, write a fresh version directory, and
atomically repoint readers at it. With a transactional table format
(Delta/Iceberg) this whole module collapses to
``MERGE INTO target USING batch ON key``.

Layout: ``path`` is a symlink to an immutable version directory
(``<path>.v-<n>``) holding the part files and a ``_version.json``
manifest: the written Spark schema, the row count and the streaming
batch id (format in README "Table layout"). The manifest is written
inside the dir before the link swap, so it commits with the data, and
publishing is a single ``os.replace(tmp_link, path)`` — atomic on POSIX —
so a reader resolves either the old version or the new one, never a
half-written or missing table. :func:`read_published` is the one reader:
it resolves the link once and reads that version dir, so a query keeps
its files across the next publish, which keeps the version it replaced
and sweeps the older ones. A crash at any point leaves the current
version intact; stale version dirs and temp links from crashed writers
are swept on the next successful publish.

:func:`merge` is the one writer: the vehicles upsert here and the
streaming rollup, Misra–Gries and profile tables differ only in the
step that builds the next version from the batch and the current one.
A micro-batch's id commits with its data, which makes foreachBatch
redelivery a no-op (Structured Streaming's idempotent-sink contract).

Scale shape: the merge is a keyed window on ``id``. A poll pass merges
a ~10k-row batch into a ~12k-row table, where fixed costs outweigh the
data work, so the merge is shaped for that:

- the stored version is read with the schema its manifest records,
  because a parquet read without one launches a footer job to infer a
  schema this code wrote. A batch whose column names or types differ
  from the recorded ones fails loudly, before any write;
- when the merge input is estimated to be no larger than the session's
  broadcast threshold, the union (or, on the first pass, the batch) is
  coalesced into one partition. One partition already clusters every
  key, so the window needs no exchange and the pass is one job of one
  task: reading, merging and writing. A hash partitioning into one
  partition would still run a shuffle-map job, and the session's 32
  shuffle partitions, sized for the registry, cost more than the data
  at poll scale. The estimate needs no job: the manifest's row count
  times the row width, plus the batch plan's size statistic. A larger
  merge, such as a streaming backfill of many snapshots, keeps the
  session's shuffle, so AQE still coalesces and splits it and the write
  stays parallel;
- each batch row carries its position (``monotonically_increasing_id``),
  so of two rows with one id in one ordered payload the later wins, as
  in the reference's ordered ``INSERT OR REPLACE`` loop.

At 100 TB you would (a) partition the table (e.g. by route/day) and
rewrite only partitions containing incoming keys (the batch's
key→partition map is small and driver-computable), or (b) use a format
with merge-on-read. The version dir + manifest + atomic link is a
poor-man's table log — the per-version metadata record those formats
write before the commit, minus the per-file granularity.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.types import StructType

from mbta_etl_spark.operators.core import latest_by_key

# a version dir's manifest; the leading "_" keeps parquet readers off it
_MANIFEST = "_version.json"


class Published(NamedTuple):
    """The version a table path links to: its data, read from the version
    dir with the schema the manifest records, the manifest's row count,
    and the streaming batch id that wrote it (None outside a stream)."""

    df: DataFrame
    rows: int
    batch_id: int | None


def read_published(spark: SparkSession, path: str) -> Published | None:
    """The published version at ``path``, or None when nothing is there.
    The link is resolved once, so the DataFrame keeps reading that
    version across the next publish, and the recorded schema means no
    job runs. Anything else at ``path`` (a plain directory, or a link to
    a dir with no manifest) raises ``ValueError``."""
    base = path.rstrip("/")
    if not os.path.lexists(base):
        return None
    version_dir = os.path.realpath(base)
    manifest = os.path.join(version_dir, _MANIFEST)
    if not (os.path.islink(base) and os.path.isfile(manifest)):
        raise ValueError(
            f"{base} is not a published table: it must link to a version "
            f"dir holding {_MANIFEST}"
        )
    with open(manifest) as f:
        m = json.load(f)
    df = spark.read.schema(StructType.fromJson(m["schema"])).parquet(version_dir)
    return Published(df, m["rows"], m["batch_id"])


def _next_version_dir(base: str) -> str:
    n = 0
    while True:
        cand = f"{base}.v-{n:08d}"
        if not os.path.exists(cand):
            return cand
        n += 1


def atomic_publish(df: DataFrame, path: str, batch_id: int | None) -> None:
    """Write ``df`` and its manifest as a fresh immutable version dir and
    atomically point ``path`` (a symlink) at it. Readers resolving
    mid-swap see either the old version or the new — never a missing or
    half-written table. The row count is observed on the write itself,
    so the manifest adds no job. ``batch_id`` is the streaming
    micro-batch being merged (None outside a stream): recorded with the
    data, it commits in the same swap, which is what lets :func:`merge`
    make at-least-once foreachBatch redelivery exactly-once.

    After the swap every other version is swept — older versions, and
    the dirs and temp links of crashed writers — except the one the swap
    replaced, which a reader opened before the swap may still scan."""
    base = path.rstrip("/")
    version_dir = _next_version_dir(base)
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(version_dir)
    manifest = {
        "schema": df.schema.jsonValue(),
        "rows": obs.get["rows"],
        "batch_id": batch_id,
    }
    with open(os.path.join(version_dir, _MANIFEST), "w") as f:
        json.dump(manifest, f)

    # atomic symlink replacement (os.replace of a symlink over a symlink
    # is atomic on POSIX; a temp link in the same dir guarantees
    # same-filesystem rename)
    replaced = os.readlink(base) if os.path.islink(base) else None
    tmp_link = version_dir + ".publish"
    if os.path.lexists(tmp_link):
        os.remove(tmp_link)
    os.symlink(os.path.basename(version_dir), tmp_link)
    os.replace(tmp_link, base)

    keep = {os.path.basename(version_dir), replaced}
    parent = os.path.dirname(base) or "."
    prefix = os.path.basename(base) + ".v-"
    for name in os.listdir(parent):
        if not name.startswith(prefix) or name in keep:
            continue
        full = os.path.join(parent, name)
        if os.path.isdir(full) and not os.path.islink(full):
            shutil.rmtree(full)
        else:
            os.remove(full)


def fits_one_task(spark: SparkSession, size: int) -> bool:
    """Whether an input estimated at ``size`` bytes of Spark's in-memory
    rows is small enough to run in one task: no larger than the
    session's broadcast threshold (``autoBroadcastJoinThreshold``, -1
    turns this off). The merge and the CLI queries share this rule."""
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return size <= limit


def plan_size(df: DataFrame) -> int:
    """The size statistic of ``df``'s analyzed plan, computed without a
    job: a file scan reports its files' bytes, a source with no size
    Long.MaxValue."""
    return df._jdf.queryExecution().analyzed().stats().sizeInBytes()


def _fits_one_partition(spark: SparkSession, batch: DataFrame, rows: int) -> bool:
    """Whether the merge input fits one task (:func:`fits_one_task`):
    the stored ``rows`` times the row width, plus the batch plan's size
    statistic."""
    return fits_one_task(
        spark, rows * batch._jdf.schema().defaultSize() + plan_size(batch)
    )


def merge(
    batch: DataFrame,
    path: str,
    batch_id: int | None,
    step: Callable[[DataFrame, Published | None], DataFrame],
) -> None:
    """Publish ``step(batch, current)`` as the next version of the table
    at ``path``, where ``current`` is its published version
    (:func:`read_published`, None before the first write). Every writer
    of a published table goes through here, so the protocol is written
    once: read the current version, build the next from it, publish it
    with the batch id in one swap (:func:`atomic_publish`).

    ``batch_id`` is the streaming micro-batch being merged (None outside
    a stream). foreachBatch is at-least-once: a crash between the
    publish and the checkpoint commit redelivers the committed batch on
    restart. The id is recorded with the data, so:

    - an id equal to the published one is that redelivery, and is
      skipped without building anything;
    - an id behind the published one cannot come from redelivery: the
      checkpoint was wiped, or a fresh stream points at an old table.
      Skipping it would silently drop data batch after batch, so it
      raises ``RuntimeError``; reset the table and the checkpoint
      together.

    A step that reads the batch more than once may ``persist()`` it; it
    is released here once the version is published."""
    base = path.rstrip("/")
    current = read_published(batch.sparkSession, base)
    committed = None if current is None else current.batch_id
    if batch_id is not None and committed is not None:
        if batch_id == committed:
            return  # redelivered batch: already merged and published
        if batch_id < committed:
            raise RuntimeError(
                f"streaming merge lineage break at {base}: batch id "
                f"{batch_id} is behind the published id {committed} — the "
                f"checkpoint no longer matches the table (wiped checkpoint "
                f"or fresh stream over an old table). Reset both together."
            )
    cached = batch.is_cached
    try:
        atomic_publish(step(batch, current), base, batch_id)
    finally:
        if batch.is_cached and not cached:
            batch.unpersist()


def merge_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    step: Callable[[DataFrame, Published | None], DataFrame],
) -> DataStreamWriter:
    """A writer that merges each micro-batch of ``stream`` into the
    table at ``path`` through :func:`merge`, under its micro-batch id.
    The caller picks the trigger and starts the query."""
    return (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: merge(batch, path, batch_id, step)
        )
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )


def upsert_step(batch: DataFrame, current: Published | None) -> DataFrame:
    """The vehicles table's :func:`merge` step: last write wins, keyed
    on ``id``. The newest ``ingested_at`` wins. Ties on it prefer the
    incoming batch (the reference's REPLACE always wins, load.go:14),
    and among batch rows the later one in the batch's partition order.
    For one ordered payload (``etl.run``) that is the reference's
    ordered ``INSERT OR REPLACE`` loop, load.go:23-32, which leaves the
    last occurrence of an id; a batch read from several files has no
    such order between them.

    The stored version's recorded column names and types must equal the
    batch's; a mismatch raises ``ValueError`` before anything is
    written. A merge estimated to be no larger than
    ``autoBroadcastJoinThreshold``, the first pass's included, is
    coalesced into one partition and runs with no shuffle; a larger one
    shuffles on ``id`` as the session's defaults decide."""
    # batch order, so the last in-batch occurrence of a key wins
    new = batch.withColumns(
        {"_src": F.lit(1), "_ord": F.monotonically_increasing_id()}
    )
    if current is None:
        merged = new
    else:
        have = {f.name: f.dataType.simpleString() for f in current.df.schema}
        want = {f.name: f.dataType.simpleString() for f in batch.schema}
        if have != want:
            raise ValueError(
                f"the stored table has columns {sorted(have.items())}, "
                f"the batch has {sorted(want.items())}"
            )
        old = current.df.withColumns({"_src": F.lit(0), "_ord": F.lit(0)})
        merged = new.unionByName(old)
    rows = 0 if current is None else current.rows
    if _fits_one_partition(batch.sparkSession, batch, rows):
        # one partition already clusters every key: no exchange is planned
        merged = merged.coalesce(1)
    return latest_by_key(
        merged, ["id"], [F.desc("ingested_at"), F.desc("_src"), F.desc("_ord")]
    ).drop("_src", "_ord")


def upsert_parquet(batch: DataFrame, path: str) -> None:
    """Upsert ``batch`` into the vehicles table at ``path``
    (:func:`upsert_step`), outside any stream."""
    merge(batch, path, None, upsert_step)
