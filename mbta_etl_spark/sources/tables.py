"""Parquet table loader for the driver's synthetic testdata.

Analog of the reference's table scan (S2, reference pipeline/queries.go:164-186),
except the scan is a distributed columnar parquet read with predicate
pushdown and column pruning supplied by Catalyst, not a row cursor.

At 100 TB these reads would be partitioned-directory parquet/iceberg scans;
the API surface here is identical (``spark.read.parquet(path)``), so the
only scale change is the path layout and partition-pruning predicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mbta_etl_spark.session import tune_session


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Never collects; callers keep the plan lazy.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects; we read it as a long (``nanosAsLong``) and truncate to
    microseconds as TIMESTAMP_NTZ — the same truncation DuckDB applies, so
    oracle comparisons agree.
    """
    tune_session(spark)
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr("CAST(timestamp_micros(ts DIV 1000) AS TIMESTAMP_NTZ)"),
        )
    return df
