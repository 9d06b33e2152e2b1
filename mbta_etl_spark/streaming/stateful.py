"""Custom stateful streaming operators, one per Python state tier.

- ``user_profile_stream``: a per-user running profile (event count,
  value sum, last-seen timestamp) maintained across micro-batches with
  applyInPandasWithState's explicit GroupState; ``replace_profiles``
  merges its emissions into a standing table.
- ``running_extrema_stream``: a per-user running (count, max) held in a
  named ValueState by transformWithStateInPandas, Spark 4's typed-state
  successor; ``ensure_protobuf_runtime`` makes it runnable in a vanilla
  session.

This is the escape hatch for stateful semantics Spark's built-in
streaming aggregations can't express (per-key custom accumulators,
decay logic, conditional resets). State lives in the state store —
checkpointed, recoverable, partitioned by the grouping key, so the
operator scales like any keyed aggregation.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)

from mbta_etl_spark.pipeline.load import Published

PROFILE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts", TimestampNTZType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_ts_micros", LongType()),
    ]
)


def _update_profile(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    # fresh-state seed for last_us is None, not 0: a 0 seed would clamp
    # pre-1970 (negative-epoch) timestamps via max() and emit 1970-01-01
    # instead of MAX(ts)
    n, total, last_us = state.get if state.exists else (0, 0.0, None)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        batch_max_us = int(pd.to_datetime(pdf["ts"]).astype("int64").max() // 1000)
        last_us = (
            batch_max_us if last_us is None else max(last_us, batch_max_us)
        )
    state.update((n, total, last_us))
    # sum_value emits RAW: readers round once at read time (r01's float
    # discipline — rounding here AND at read would double-round, and
    # Python round() is banker's while the SQL oracles round half-up)
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "sum_value": [total],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        }
    )


def user_profile_stream(events: DataFrame) -> DataFrame:
    """events stream (user_id, ts, value) → per-user running profile,
    emitted once per group per micro-batch (update mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=PROFILE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def replace_profiles(batch: DataFrame, current: Published | None) -> DataFrame:
    """The ``pipeline.load.merge`` step of a standing per-user table of
    update-mode emissions (``user_profile_stream``,
    ``running_extrema_stream``). Each emission is the key's FULL
    cumulative row (the kernel folds state before emitting), so the
    merge is pure last-write-wins: the batch replaces its keys' rows
    and keys absent from it keep theirs. It shuffles one row per key
    seen in the batch plus one per standing key, never raw events.

    Over a stored table the batch appears twice in the plan (anti-join
    probe and union arm), and a micro-batch DataFrame may be recomputed
    per appearance, re-executing the upstream stateful subtree, which
    must run exactly once per batch. So it is persisted here and
    released by the merge after the publish (ADVICE r7 item 1; Spark's
    foreachBatch docs make the same persist-a-reused-batchDF
    recommendation)."""
    if current is None:
        return batch
    batch.persist()
    return current.df.join(
        batch.select("user_id"), "user_id", "left_anti"
    ).unionByName(batch)


COUNTER_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("max_value", DoubleType()),
    ]
)


def ensure_protobuf_runtime(spark) -> None:
    """Make a protobuf runtime importable on BOTH sides of an
    already-running session, so the transformWithStateInPandas tier
    (whose state client speaks protobuf to the JVM's state server) can
    run in a VANILLA session — the round-6 blocker for driver-checking
    this tier. The sandbox has no pip protobuf, but the container's
    Google Cloud SDK bundles a pure-Python runtime one minor behind
    PySpark's gencode; protobuf's own escape hatch covers the skew.

    Driver side: a plain sys.path append. Worker side is the measured
    part: Python workers are forked by the JVM with the env captured
    at JVM launch PLUS ``sc.environment`` — which IS consulted per
    Python function and is mutable post-launch — so appending to
    PYTHONPATH there reaches workers spawned after this call (probed
    on Spark 4.1: a vanilla session + this call runs
    transformWithStateInPandas end to end). A driver-importable
    protobuf is NOT sufficient to return early: if it resolves from
    the shim path (a prior call in this process patched sys.path, but
    THIS session's JVM launched without it), the session's worker
    environment still needs the patch — only a genuinely installed
    runtime (workers inherit site-packages) is a true no-op. Raises
    ImportError when no runtime can be found — a clear error instead
    of the worker's opaque crash. Path/env-var constants are shared
    with conftest.py's pre-launch shim via mbta_etl_spark.protoshim
    so the two copies can never drift."""
    import os
    import sys

    from mbta_etl_spark.protoshim import (
        SDK_PROTOBUF_PATH,
        VERSION_CHECK_ESCAPE_ENV,
    )

    try:
        import google.protobuf as _pb
    except ImportError:
        _pb = None
    if _pb is not None:
        pb_root = os.path.abspath(
            os.path.dirname(os.path.dirname(os.path.abspath(_pb.__file__)))
        )
        shim_root = os.path.abspath(SDK_PROTOBUF_PATH)
        # proper path containment, not a string prefix — a sibling dir
        # like <shim>_extras must count as a REAL install, not a shim
        # (ADVICE r7 item 2)
        from_shim = (
            os.path.commonpath([pb_root, shim_root]) == shim_root
        )
        if not from_shim:
            return  # real install: workers resolve it the same way
    elif not os.path.isdir(
        os.path.join(SDK_PROTOBUF_PATH, "google", "protobuf")
    ):
        raise ImportError(
            "transformWithStateInPandas needs a protobuf runtime: "
            "pip install protobuf (none importable, and no bundled "
            "SDK runtime found to shim)"
        )
    if SDK_PROTOBUF_PATH not in sys.path:
        sys.path.append(SDK_PROTOBUF_PATH)
    os.environ.setdefault(VERSION_CHECK_ESCAPE_ENV, "true")
    # also export to os.environ so a FUTURE session's JVM inherits it
    if SDK_PROTOBUF_PATH not in os.environ.get("PYTHONPATH", ""):
        os.environ["PYTHONPATH"] = (
            os.environ.get("PYTHONPATH", "")
            + os.pathsep
            + SDK_PROTOBUF_PATH
        ).lstrip(os.pathsep)
    env = spark.sparkContext.environment
    if SDK_PROTOBUF_PATH not in env.get("PYTHONPATH", ""):
        env["PYTHONPATH"] = (
            env.get("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
            + os.pathsep
            + SDK_PROTOBUF_PATH
        ).lstrip(os.pathsep)
    env[VERSION_CHECK_ESCAPE_ENV] = "true"


def running_extrema_stream(events: DataFrame) -> DataFrame:
    """The transformWithStateInPandas tier (Spark 4's successor to
    applyInPandasWithState): per-user running count + max value held in a
    named ValueState. Differences that matter at scale: state is
    schema'd and composable (multiple named ValueState/ListState/MapState
    per key instead of one tuple), timers replace the single timeout
    conf, and the state store backend is RocksDB — state spills to disk,
    so hot keys aren't bounded by executor heap.

    Requires the RocksDB state store provider (set by the caller/test
    via spark.sql.streaming.stateStore.providerClass) and a working
    protobuf runtime (PySpark serializes this API's state over proto;
    the test suite import-skips where protobuf is unavailable).
    """
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    state_schema = StructType(
        [StructField("cnt", LongType()), StructField("mx", DoubleType())]
    )

    class _Extrema(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            cnt, mx = 0, float("-inf")
            if self._agg.exists():
                prev = self._agg.get()
                cnt, mx = int(prev[0]), float(prev[1])
            for pdf in rows:
                cnt += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            self._agg.update((cnt, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [cnt], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Extrema(),
        outputStructType=COUNTER_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
