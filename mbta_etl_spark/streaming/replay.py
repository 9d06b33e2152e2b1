"""Deterministic replay-log landing for streaming/batch equivalence
entries (st01-st06): split a batch DataFrame into ``n_batches``
JSONL files — one per intended micro-batch — so a file source with
``maxFilesPerTrigger=1`` under an availableNow trigger replays it as a
multi-batch stream. The split key is ``pmod(key, n_batches)`` (pmod,
not %, so SIGNED keys — e.g. an xxhash64-derived id — land in a valid
batch instead of a ``_b=-1`` directory the rename loop would silently
destroy); NULL keys route deterministically to batch 0. Batch
composition is a pure function of the data (replayable, host-order
independent). Executors write the data; the driver only RENAMES the
single part file per batch (metadata work, O(n_batches)).

Timestamp fidelity: JSON's default TIMESTAMP_NTZ format truncates to
milliseconds, so the landing pins a microsecond format on the writer —
and ``open_replay_stream`` pins the SAME format on the reader — making
the round trip exact for the micros this repo's tables carry
(load_table truncates parquet nanos to micros). Entries should open
the landed log through ``open_replay_stream`` so the two options can
never drift apart.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_TS_NTZ_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def land_replay_log(
    df: DataFrame, in_dir: str, n_batches: int, split_col: str
) -> None:
    import glob
    import os
    import shutil

    shutil.rmtree(in_dir, ignore_errors=True)
    os.makedirs(in_dir, exist_ok=True)
    # ONE scan of the source: a hive-partitioned write on the batch id.
    # repartition(n, "_b") puts each batch id entirely in one task, so
    # every partition directory holds exactly one part file (one FILE
    # per intended micro-batch — maxFilesPerTrigger=1 then replays the
    # landing as exactly n_batches batches). The partition column stays
    # out of the JSON payload, so the replayed schema equals df.schema.
    staging = os.path.join(in_dir, "_staging")
    batch_of = F.pmod(
        F.coalesce(F.col(split_col), F.lit(0)), F.lit(n_batches)
    ).cast("int")
    (
        df.withColumn("_b", batch_of)
        .repartition(n_batches, "_b")
        .write.partitionBy("_b")
        .option("timestampNTZFormat", _TS_NTZ_FORMAT)
        .mode("overwrite")
        .json(staging)
    )
    import time

    now = time.time()
    for b in range(n_batches):
        files = glob.glob(os.path.join(staging, f"_b={b}", "part-*.json"))
        if not files:  # an empty batch lands no file — nothing to replay
            continue
        (part_file,) = files
        dest = os.path.join(in_dir, f"batch_{b}.json")
        os.rename(part_file, dest)
        # the file source orders files by MODIFICATION TIME, and the
        # four renames land within one clock tick — pin strictly
        # ascending mtimes so batch k is always replayed k-th. Without
        # this the pickup order is arbitrary, and for watermarked
        # consumers (st04/st05) an out-of-order time-range batch
        # arrives behind the watermark and silently corrupts the
        # result (measured on session windows: the first late row
        # emits a truncated session fragment, the rest are discarded —
        # pinned by tests/test_streaming.py::
        # test_session_window_late_batch_fragments_and_drops).
        os.utime(dest, (now - n_batches + b, now - n_batches + b))
    shutil.rmtree(staging, ignore_errors=True)


def assert_constant_utc_offset(tz_name: str, mn, mx) -> None:
    """Fail LOUDLY if the session timezone changes UTC offset anywhere
    in [mn, mx] (naive wall datetimes, 6-hour probe grid).

    A watermarked consumer that CASTS NTZ event times to LTZ in the
    session zone (watermarks require LTZ) implicitly assumes the cast
    is a UNIFORM shift: across a DST transition it is not — wall-time
    arithmetic (session gaps, window overlaps) diverges between the
    LTZ stream and an NTZ SQL oracle by the offset step, a silent hash
    mismatch. This guard turns that silent divergence into an explicit
    error for any such consumer. As of round 7 NO registry entry needs
    it — st04/st05/st06 moved to the zone-free wall-instant relabeling
    (registry._wall_instant / _ntz_from_wall_instant), which is exact
    across transitions — so it survives as the conservative default
    for FUTURE consumers that take the session-zone-cast shortcut
    (time_quantile_key applies it unless require_uniform_shift=False).
    Fixed-offset zone names (UTC, GMT+8, +05:30) are constant by
    construction; region names are probed via zoneinfo."""
    import datetime as dt

    name = tz_name.strip()
    # tuple membership, not `in "+-"`: an empty name would make the
    # substring test vacuously True and silently bypass the DST guard
    if name.upper() in ("UTC", "Z", "GMT") or name[:1] in ("+", "-") or (
        name.upper().startswith(("GMT+", "GMT-", "UTC+", "UTC-"))
    ):
        return
    from zoneinfo import ZoneInfo

    tz = ZoneInfo(name)
    probe = mn
    offsets = set()
    while probe <= mx:
        offsets.add(probe.replace(tzinfo=tz).utcoffset())
        probe += dt.timedelta(hours=6)
    offsets.add(mx.replace(tzinfo=tz).utcoffset())
    if len(offsets) > 1:
        raise ValueError(
            f"session timezone {tz_name!r} changes UTC offset within "
            f"the replay span [{mn} .. {mx}] ({sorted(str(o) for o in offsets)}); "
            "the NTZ->LTZ watermark cast is not a uniform shift here, so "
            "the streamed result would silently diverge from the NTZ "
            "batch oracle — run with a transition-free session zone, or "
            "rework the entry to compute its event-time arithmetic on "
            "NTZ columns carried through the operator"
        )


def time_quantile_key(
    df: DataFrame,
    ts_col: str,
    n_batches: int,
    require_uniform_shift: bool = True,
) -> DataFrame:
    """Append a ``replay_key`` column holding the TIME-MONOTONE batch
    index a watermarked replay needs (st04/st05): the actual data span
    is split into ``n_batches`` contiguous day ranges, so batch k+1's
    rows are never earlier than batch k's and no batch arrives behind
    the watermark. A split on dayofmonth alone would silently
    interleave months, put later data in earlier batches, and corrupt
    the result (truncated session fragments + discarded rows — pinned
    by test_session_window_late_batch_fragments_and_drops). One scalar
    min/max agg (driver-side metadata only); day arithmetic runs on
    NTZ-derived wall dates, so it is TZ-free. Consumers landing
    multiple streams from one source (st05) must call this ONCE on the
    shared frame before splitting sides, so the landings stay mutually
    aligned batch-for-batch. By default also guards the NTZ->LTZ
    uniform-shift assumption of any watermarked consumer that CASTS to
    the session zone (see assert_constant_utc_offset) — a conservative
    default for NEW consumers; as of round 7 every registry entry
    (st04/st05/st06) uses the zone-free wall-instant relabeling
    instead and passes ``require_uniform_shift=False``, being correct
    across DST transitions by construction."""
    mn, mx = df.agg(F.min(ts_col), F.max(ts_col)).first()
    if require_uniform_shift:
        assert_constant_utc_offset(
            df.sparkSession.conf.get("spark.sql.session.timeZone"), mn, mx
        )
    n_days = (mx.date() - mn.date()).days + 1
    days_per_batch = max(1, -(-n_days // n_batches))
    day_off = F.datediff(
        F.col(ts_col).cast("date"),
        F.lit(mn.date().isoformat()).cast("date"),
    )
    return df.withColumn(
        "replay_key",
        F.least(
            F.floor(day_off / F.lit(days_per_batch)),
            F.lit(n_batches - 1),
        ).cast("long"),
    )


def open_replay_stream(
    spark, in_dir: str, schema: StructType
) -> DataFrame:
    """File-source reader matched to ``land_replay_log``'s writer: one
    landed file per micro-batch, and the same microsecond
    TIMESTAMP_NTZ format so timestamps replay bit-exactly."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("timestampNTZFormat", _TS_NTZ_FORMAT)
        .json(in_dir)
    )


def _dir_bytes(spark, *paths: str) -> int:
    """Total file bytes under the given paths, through the session's
    Hadoop FileSystem so ``file:``, ``hdfs:`` and bare paths take one
    code path (``os.walk`` reads 0 bytes on a URI). A missing path
    counts 0."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    total = 0
    for p in paths:
        path = jvm.org.apache.hadoop.fs.Path(p)
        fs = path.getFileSystem(conf)
        if fs.exists(path):
            total += fs.getContentSummary(path).getLength()
    return total


# target post-shuffle partition size for the data-derived pin term —
# guide §2.2's 100 MB-1 GB band, low end because streaming state adds
# per-partition overhead on top of the data
_PIN_ADVISORY_BYTES = 64 * 1024 * 1024


@contextmanager
def pinned_stream_parallelism(spark, n: int = 8, input_dirs=None):
    """Pin ``spark.sql.shuffle.partitions`` around a bounded streaming
    replay, restoring the session value after. ``SPARK_GRAFT_STREAM_PIN``
    overrides ``n`` for A/B experiments (and is the scale knob a real
    deployment would set to its executor count).

    Scale adaptivity (r9, VERDICT r8 item 4): the measured tier value
    ``n`` is a FLOOR, not the answer — when ``input_dirs`` (the landed
    replay logs) are given, the pin becomes
    ``max(n, min(ceil(input_bytes / 64 MB), session shuffle
    partitions))``: at bench scale the landings are a few MB so the
    floor wins and behavior is exactly the measured tier A/B below; at
    production scale the data term grows past the floor and the pin
    rises to the session's own shuffle sizing (the deployment-set
    value), so 4-8 state-store partitions can never strangle a real
    load. The env override still wins over everything.

    Why 8 at test scale — the round-8 measured A/B (sf0.1, local[32],
    32 session partitions vs 8 pinned, identical outputs):

        st01 dedup        7.7 -> 2.7 s    st04 sessions   7.3 -> 3.8 s
        st02 rollup       3.8 -> 2.8 s    st07 profiles   9.7 -> 5.2 s
        st03 MG sketch    7.1 -> 3.8 s    st08 dedup-wm   7.2 -> 3.3 s
        st10 ValueState  15.7 -> 8.2 s    st09 stateless  2.4 -> 2.3 s

    Every STATEFUL streaming face is bound by per-partition-per-batch
    state machinery (store instantiation, and for the
    transformWithState tier the state-server handshake), not by
    per-row work, so partitions x batches is the bill. st09 (no state
    store) is flat, as the model predicts. st07 had been measured
    ~40% SLOWER pinned in round 7 — that reversed when round 8's
    persist() fix in merge_profile_batch stopped the
    applyInPandasWithState subtree from executing twice per batch;
    with the kernel running once, the handshake dominates again.

    Round-8 optimization pass, second A/B (same protocol, warm pass of
    --repeat 2, seconds at n=8 / n=4 / n=2):

        st01  2.58 / 2.20 / 2.58     st05  6.51 / 5.26 / 4.87
        st02  3.00 / 2.91 / 3.26     st06  6.86 / 5.02 / 4.93
        st03  3.54 / 3.42 / 3.62     st07  6.37 / 8.31 / 10.98
        st04  4.81 / 4.28 / 4.18     st08  3.76 / 3.38 / 3.23
                                     st10  7.89 / 8.86 / 12.89

    Two tiers emerge: faces whose per-batch cost is JVM state-store
    machinery (st01-st06, st08) keep improving down to 4 — store count
    IS their bill; faces whose per-batch cost is an Arrow/pandas kernel
    plus a per-partition Python worker round-trip (st07
    applyInPandasWithState, st10 transformWithStateInPandas + state
    server) REVERSE below 8 because fewer partitions serialize the
    Python-side work. So JVM-state replays pin 4 and Python-state
    replays pin 8 (callers pass n accordingly). At 100 TB the knob
    reverses for all of them: match executor count, because
    per-partition DATA, not store count, becomes the bill (the
    _run_join_replay economics note)."""
    import os

    if input_dirs:
        session_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        derived = -(-_dir_bytes(spark, *input_dirs) // _PIN_ADVISORY_BYTES)
        n = max(n, min(derived, session_n))
    n = int(os.environ.get("SPARK_GRAFT_STREAM_PIN", n))
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
