"""Physical data layout for scale: bucketed tables and salting — the
mechanics that decide whether a 100 TB job shuffles.

The reference's analog is its B-tree indexes (SURVEY §2.1 S4,
reference pipeline/pipeline.go:56-57): in Spark land the stand-ins are
partition pruning (directory layout), bucketing (co-located joins), and
within-file ordering (row-group min/max pruning).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Bucketed managed table: joins/aggregations keyed on ``bucket_col``
    between tables with matching bucketing need NO exchange — the shuffle
    was paid once at write time. This is how a repeatedly-joined 100 TB
    fact table should land. ``path`` makes it an external table at an
    explicit location (for callers that cannot rely on the session
    warehouse dir being writable)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    if path:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)


def salted_key(key: Column, n_salts: int) -> tuple[Column, Column]:
    """(salted_key, salt) for skew mitigation: spread a hot key across
    ``n_salts`` sub-keys for the heavy side; the light side is exploded
    across all salts so every sub-key still joins. AQE's skew-join split
    handles moderate skew automatically; salting is the manual tool for
    pathological keys (one key = double-digit % of rows)."""
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    return F.concat(key.cast("string"), F.lit("#"), salt.cast("string")), salt


def salted_count(
    df: DataFrame, key: Column, n_salts: int, out_key: str = "key"
) -> DataFrame:
    """Two-phase skew-proof aggregation: count by (key, salt) first — the
    hot key's load spreads over n_salts reducers — then re-aggregate the
    (at most n_salts × distinct-keys) partials."""
    _, salt = salted_key(key, n_salts)
    partial = (
        df.select(key.alias(out_key), salt.alias("_salt"))
        .groupBy(out_key, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(out_key).agg(F.sum("_partial").cast("long").alias("cnt"))
