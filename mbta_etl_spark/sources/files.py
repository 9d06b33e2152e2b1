"""File-format sources: parquet footer introspection.

The reference's only persistent format is its SQLite file (reference
pipeline/load.go:6-39); a Spark engine instead meets data as files on
object storage, and the footers of those files are what partition
pruning and row-group skipping decide from.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def footer_stats(
    spark: SparkSession, table_path: str, stat_col: str
) -> DataFrame:
    """Parquet footer introspection WITHOUT scanning data: per row group
    the row count, column count, uncompressed/compressed bytes, and the
    min/max statistics of ``stat_col`` — the table you read when
    partition pruning or row-group skipping misbehaves (src02/src04
    measure skipping; this shows the stats the skipper sees).

    Distributed shape: the file list rides a JVM-side literal array
    (spark.range + element_at — no Python RDD scan) and each task opens
    only FOOTERS via pyarrow inside mapInPandas. At a 10^5-file table
    this is a metadata-only parallel sweep: bytes touched ~ footer size
    per file, never the data.

    Robustness (ADVICE r3): a writer may omit row-group statistics
    (``st is None``), ``stat_col`` may be absent from some files (e.g. a
    hive partition column lives in the path, not the footer), and stats
    may be non-integer — all of those degrade to NULL ``stat_min`` /
    ``stat_max`` for the affected row groups instead of an opaque
    executor task failure."""
    import os

    if os.path.isdir(table_path):
        files = sorted(
            os.path.join(root, f)
            for root, _, names in os.walk(table_path)
            for f in names
            if f.endswith(".parquet")
        )
    else:
        files = [table_path]
    base = table_path if os.path.isdir(table_path) else os.path.dirname(
        table_path
    )
    arr = F.array(*[F.lit(f) for f in files])
    fdf = spark.range(len(files)).select(
        F.element_at(arr, (F.col("id") + 1).cast("int")).alias("path")
    )

    def _scan(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for path in pdf["path"]:
                md = pq.ParquetFile(path).metadata
                names = md.schema.names
                ci = names.index(stat_col) if stat_col in names else None
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    st = (
                        rg.column(ci).statistics if ci is not None else None
                    )
                    comp = sum(
                        rg.column(j).total_compressed_size
                        for j in range(rg.num_columns)
                    )
                    # missing column / omitted stats / non-integer stat
                    # values all collapse to NULL min/max for this row
                    # group rather than failing the task
                    try:
                        lo = int(st.min) if st is not None else None
                        hi = int(st.max) if st is not None else None
                    except (TypeError, ValueError):
                        lo = hi = None
                    out.append(
                        (
                            os.path.relpath(path, base),
                            i,
                            rg.num_rows,
                            rg.num_columns,
                            rg.total_byte_size,
                            comp,
                            lo,
                            hi,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "file",
                    "row_group",
                    "n_rows",
                    "n_cols",
                    "uncompressed_bytes",
                    "compressed_bytes",
                    "stat_min",
                    "stat_max",
                ],
            )

    return fdf.mapInPandas(
        _scan,
        schema="file string, row_group long, n_rows long, n_cols long,"
        " uncompressed_bytes long, compressed_bytes long,"
        " stat_min long, stat_max long",
    )
