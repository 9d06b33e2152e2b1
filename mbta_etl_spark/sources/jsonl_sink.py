"""A custom SINK via the Python DataSource API (Spark 4) — the write
side of the connector surface (``sources/http_json.py`` covers the
read + streaming-offsets side).

Protocol demonstrated end-to-end: each task's ``write(iterator)``
streams its partition to a uniquely-named JSONL shard and returns a
WriterCommitMessage carrying (path, row count); the driver's
``commit(messages)`` runs exactly once after ALL tasks succeed and
publishes the manifest — the atomic-visibility contract every real sink
(object store, warehouse, queue) builds on. ``abort`` removes the
orphaned shards so failed jobs leave nothing visible.

Scale: tasks write independently (no coordination until commit), so
throughput scales with partitions; the manifest is O(#files).
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)

MANIFEST = "_MANIFEST.json"


@dataclass
class _ShardCommit(WriterCommitMessage):
    path: str
    n_rows: int


class _JsonlWriter(DataSourceWriter):
    def __init__(self, options: dict):
        self._path = options["path"]

    def write(self, iterator) -> _ShardCommit:
        os.makedirs(self._path, exist_ok=True)
        shard = os.path.join(self._path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(shard, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _ShardCommit(path=shard, n_rows=n)

    def commit(self, messages) -> None:
        manifest = {
            "files": sorted(
                ({"path": m.path, "n_rows": m.n_rows}
                 for m in messages if m is not None),
                key=lambda d: d["path"],
            ),
            "total_rows": sum(m.n_rows for m in messages if m is not None),
        }
        with open(os.path.join(self._path, MANIFEST), "w") as f:
            json.dump(manifest, f, sort_keys=True)

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class JsonlSinkDataSource(DataSource):
    """``df.write.format("jsonl_sink").option("path", p).save()``"""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite: bool) -> DataSourceWriter:
        return _JsonlWriter(self.options)


def register(spark) -> None:
    spark.dataSource.register(JsonlSinkDataSource)
