"""ETL orchestration (reference pipeline/pipeline.go:66-91): extract →
transform → load, any stage error aborts the run.

The reference's "real-time" model is re-running this batch per CLI
invocation with the upsert absorbing re-ingestion (SURVEY §2.6); the
streaming module offers the continuous variant of the same three stages.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession

from mbta_etl_spark.pipeline.load import upsert_parquet
from mbta_etl_spark.pipeline.transform import transform
from mbta_etl_spark.sources import http_json

log = logging.getLogger(__name__)

DEFAULT_API_URL = "https://api-v3.mbta.com/vehicles"


def run(
    spark: SparkSession,
    table_path: str,
    api_url: str = DEFAULT_API_URL,
    body: str | None = None,
) -> int:
    """One ETL pass. ``body`` lets tests/offline runs inject a pre-fetched
    payload instead of hitting the network. Returns records loaded."""
    log.info("Starting ETL pipeline...")
    if body is None:
        body = http_json.fetch_json(api_url)  # abort-on-error (S1)
    raw = http_json.ingest_payload(spark, body)
    records = transform(raw)
    # record count via the Observation API: the metric rides the upsert's
    # own write action instead of a separate count() job — one scan of
    # the batch, not two (at 100 TB the difference is a full extra pass)
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    records = records.observe(obs, F.count(F.lit(1)).alias("n"))
    upsert_parquet(records, table_path)
    n = int(obs.get["n"])
    log.info("ETL complete: %d records loaded", n)
    return n


# the upstream API allows 1000 req/min unauthenticated
# (reference README.md:199) — never poll faster than this floor
MIN_POLL_INTERVAL_S = 60.0 / 1000.0


def run_polling(
    spark: SparkSession,
    table_path: str,
    interval_s: float,
    iterations: int,
    api_url: str = DEFAULT_API_URL,
    body_provider=None,
    _sleep=None,
) -> list[int]:
    """The continuous form of the reference's re-run model: the reference
    achieves "real-time" by re-invoking ``-run`` (main.go:30-45, SURVEY
    §2.6) with the upsert absorbing re-ingestion; this drives the same
    batch pass on a fixed interval in-process. Each pass is the full
    abort-on-error pipeline; a failed pass stops the loop (the reference
    exits on any stage error, pipeline.go:70-87) — state is consistent
    because the upsert publishes atomically.

    ``body_provider`` (iteration -> payload str) replaces the network for
    tests/offline replay; ``_sleep`` is injectable for tests. The interval
    is clamped to the upstream rate limit. Returns per-pass record counts.

    Scale shape: each pass is one small-batch merge into the keyed table —
    the micro-batch pattern of Structured Streaming's foreachBatch done
    manually (streaming/ingest.py holds the readStream variant); at high
    fan-in you'd switch to that and let the engine pipeline fetch/merge.
    """
    import time

    sleep = _sleep or time.sleep
    interval_s = max(interval_s, MIN_POLL_INTERVAL_S)
    counts: list[int] = []
    for i in range(iterations):
        if i > 0:
            sleep(interval_s)
        body = body_provider(i) if body_provider is not None else None
        counts.append(run(spark, table_path, api_url=api_url, body=body))
    return counts
