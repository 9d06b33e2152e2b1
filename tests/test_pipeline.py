"""Extract / load / vehicle-query tests mirroring the reference's suite
(main_test.go): extract error semantics, upsert last-write-wins, top-10,
summary stats, route CASE dead arm, bearing histogram edges."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from mbta_etl_spark.operators import core
from mbta_etl_spark.pipeline import vehicle_queries as vq
from mbta_etl_spark.pipeline.load import atomic_publish, read_published, upsert_parquet
from mbta_etl_spark.pipeline.schema import VEHICLE_SCHEMA
from mbta_etl_spark.sources import http_json

NOW = datetime.datetime(2024, 1, 15, 12, 0, 0)


def _vehicle(i, speed=0.0, bearing=0, vid=None, status="IN_TRANSIT_TO",
             occ="MANY_SEATS_AVAILABLE", direction=0, ingested=NOW):
    return (
        vid or f"veh-{i}", f"label-{i}", 42.0, -71.0, float(speed), direction,
        status, occ, int(bearing), NOW, ingested,
    )


def _vehicles_df(spark, rows):
    return spark.createDataFrame(rows, schema=VEHICLE_SCHEMA)


# --- extract (S1) ---------------------------------------------------------

def test_extract_success(spark):
    """Canonical 1-vehicle payload decodes (main_test.go:18-69)."""
    body = json.dumps({
        "data": [{
            "id": "test-vehicle-1", "type": "vehicle",
            "attributes": {
                "updated_at": "2024-01-15T10:30:00-05:00", "speed": 25.5,
                "occupancy_status": "MANY_SEATS_AVAILABLE", "longitude": -71.06,
                "latitude": 42.35, "label": "1234", "direction_id": 0,
                "current_status": "IN_TRANSIT_TO", "bearing": 180,
            },
        }]
    })
    df = http_json.ingest_payload(spark, body)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["id"] == "test-vehicle-1"
    assert rows[0]["attributes"]["label"] == "1234"
    # unknown fields would be dropped by the schema; nullable missing ok


def test_extract_invalid_json(spark):
    with pytest.raises(http_json.ExtractError):
        http_json.ingest_payload(spark, "{not json")


def test_extract_missing_data_array(spark):
    with pytest.raises(http_json.ExtractError):
        http_json.ingest_payload(spark, json.dumps({"nope": []}))


# --- load (S3) ------------------------------------------------------------

def test_load_success(spark, tmp_path):
    """Row persisted, count==1 (main_test.go:250-296)."""
    path = str(tmp_path / "vehicles")
    upsert_parquet(_vehicles_df(spark, [_vehicle(1, speed=25.5)]), path)
    assert spark.read.parquet(path).count() == 1


def test_load_handles_duplicates(spark, tmp_path):
    """Same id re-loaded → 1 row, newest speed wins (main_test.go:299-359)."""
    path = str(tmp_path / "vehicles")
    later = NOW + datetime.timedelta(minutes=5)
    upsert_parquet(_vehicles_df(spark, [_vehicle(1, vid="dup", speed=25.5)]), path)
    upsert_parquet(
        _vehicles_df(spark, [_vehicle(1, vid="dup", speed=30.0, ingested=later)]),
        path,
    )
    out = spark.read.parquet(path).collect()
    assert len(out) == 1
    assert out[0]["speed"] == 30.0


def test_load_atomic_publish_layout(spark, tmp_path):
    """The table path is a symlink atomically repointed at immutable
    version dirs — no missing-table window during the swap (VERDICT r1
    flaw in the rename-pair swap). A publish keeps the version it
    replaced and sweeps the ones before it."""
    import os

    path = str(tmp_path / "vehicles")
    upsert_parquet(_vehicles_df(spark, [_vehicle(1, speed=1.0)]), path)
    assert os.path.islink(path)
    v1 = os.path.realpath(path)
    assert spark.read.parquet(path).count() == 1

    upsert_parquet(_vehicles_df(spark, [_vehicle(2, speed=2.0)]), path)
    v2 = os.path.realpath(path)
    assert v2 != v1
    assert os.path.isdir(v1)  # the replaced version is kept for its readers
    assert spark.read.parquet(path).count() == 2
    upsert_parquet(_vehicles_df(spark, [_vehicle(3, speed=3.0)]), path)
    assert not os.path.exists(v1)  # ...and swept by the next publish
    assert os.path.isdir(v2)
    assert sorted(os.listdir(tmp_path)) == sorted(
        ["vehicles", os.path.basename(v2), os.readlink(path)]
    )
    # the link target is relative → table survives a parent-dir move
    assert not os.path.isabs(os.readlink(path))


def test_reader_spans_a_publish(spark, tmp_path):
    """A query opened on the table before a publish still runs after it:
    the reader scans the version dir it resolved, and the publish keeps
    the version it replaced. The second publish removes that version."""
    import os

    from mbta_etl_spark.pipeline.load import read_published

    path = str(tmp_path / "vehicles")
    upsert_parquet(_vehicles_df(spark, [_vehicle(1)]), path)
    first = os.path.realpath(path)
    reader = read_published(spark, path).df
    upsert_parquet(_vehicles_df(spark, [_vehicle(2)]), path)
    assert reader.count() == 1
    upsert_parquet(_vehicles_df(spark, [_vehicle(3)]), path)
    assert not os.path.exists(first)
    assert read_published(spark, path).df.count() == 3


def _manifest(path):
    import os

    with open(os.path.join(os.path.realpath(path), "_version.json")) as f:
        return json.load(f)


def test_run_records_manifest(spark, tmp_path):
    """Each version carries a manifest with the written schema (the
    vehicle schema), its row count and a null batch id for an ETL pass;
    ``read_published`` hands back the recorded schema and count."""
    from pyspark.sql.types import StructType

    from mbta_etl_spark.pipeline import etl
    from mbta_etl_spark.pipeline.load import read_published

    path = str(tmp_path / "vehicles")
    passes = [[("a", 1.0), ("b", 2.0)], [("b", 3.0), ("c", 4.0)]]
    for vehicles in passes:
        etl.run(spark, path, body=_payload(vehicles))
        m = _manifest(path)
        # names and types: a parquet read makes every column nullable
        recorded = StructType.fromJson(m["schema"])
        assert [(f.name, f.dataType) for f in recorded] == [
            (f.name, f.dataType) for f in VEHICLE_SCHEMA
        ]
        assert m["rows"] == spark.read.parquet(path).count()
        assert m["batch_id"] is None
    assert m["rows"] == 3
    published = read_published(spark, path)
    assert published.rows == 3 and published.batch_id is None
    assert [f.name for f in published.df.schema] == VEHICLE_SCHEMA.names


def _step_batches(spark, name):
    """A build step for load.merge and three batches, each of which
    changes the table it merges into."""
    from mbta_etl_spark.operators.frequent import mg_step
    from mbta_etl_spark.operators.rollup import rollup_step
    from mbta_etl_spark.pipeline.load import upsert_step
    from mbta_etl_spark.streaming.stateful import replace_profiles

    later = NOW + datetime.timedelta(minutes=5)
    if name == "rollup":
        return rollup_step(["event_type"]), [
            spark.createDataFrame(
                [("a", NOW, v)], "event_type string, ts timestamp, value double"
            )
            for v in (1.0, 2.0, 3.0)
        ]
    if name == "mg":
        return mg_step("k", 10), [
            spark.createDataFrame(rows, "k string")
            for rows in ([("a",), ("b",), ("a",)], [("a",)], [("c",)])
        ]
    if name == "profile":
        return replace_profiles, [
            spark.createDataFrame(
                [(user, n, n * 1.5, NOW)],
                "user_id long, n_events long, sum_value double, "
                "last_ts timestamp_ntz",
            )
            for user, n in ((1, 2), (1, 5), (2, 1))
        ]
    return upsert_step, [
        _vehicles_df(spark, [_vehicle(1, speed=1.0)]),
        _vehicles_df(spark, [_vehicle(1, speed=2.0, ingested=later)]),
        _vehicles_df(spark, [_vehicle(2, ingested=later)]),
    ]


@pytest.mark.parametrize("name", ["rollup", "mg", "profile", "upsert"])
def test_merge_is_exactly_once_per_batch_id(spark, tmp_path, name):
    """Every build step gets one batch-id rule from load.merge: the
    id lands in the version's manifest with the data, a redelivered id
    is a no-op (the version and its rows stay as they were, even for a
    batch that would change them), and an id behind the published one
    raises. No batch is left cached: the profile step's persist is
    released after the publish, and the other steps cache nothing."""
    import os

    from mbta_etl_spark.pipeline.load import merge

    from pyspark import StorageLevel

    step, (b0, b1, b2) = _step_batches(spark, name)
    path = str(tmp_path / name)

    def state():
        return os.path.realpath(path), sorted(
            tuple(r) for r in read_published(spark, path).df.collect()
        )

    merge(b0, path, 4, step)
    assert _manifest(path)["batch_id"] == 4
    assert _manifest(path)["rows"] == spark.read.parquet(path).count()
    first = state()
    merge(b1, path, 4, step)  # redelivery of the committed id
    assert state() == first
    merge(b1, path, 7, step)
    assert _manifest(path)["batch_id"] == 7
    second = state()
    assert second[1] != first[1]
    with pytest.raises(RuntimeError, match="lineage break"):
        merge(b2, path, 5, step)  # behind the published id
    assert state() == second
    assert all(b.storageLevel == StorageLevel.NONE for b in (b0, b1, b2))


@pytest.mark.parametrize("layout", ["real_dir", "no_manifest"])
def test_load_rejects_unpublished_table(spark, tmp_path, layout):
    """A path that is a plain parquet dir, or a link to a version with no
    manifest, is not a published table: the upsert raises ValueError
    naming the path before any write, and the path is left as it was."""
    import os

    path = str(tmp_path / "vehicles")
    if layout == "real_dir":
        _vehicles_df(spark, [_vehicle(1)]).write.parquet(path)
    else:
        upsert_parquet(_vehicles_df(spark, [_vehicle(1)]), path)
        os.remove(os.path.join(os.path.realpath(path), "_version.json"))
    before = sorted(os.listdir(tmp_path))
    target = os.readlink(path) if os.path.islink(path) else None
    with pytest.raises(ValueError, match="vehicles is not a published table"):
        upsert_parquet(_vehicles_df(spark, [_vehicle(2)]), path)
    assert sorted(os.listdir(tmp_path)) == before
    assert (os.readlink(path) if os.path.islink(path) else None) == target
    assert spark.read.parquet(path).count() == 1


def test_load_tie_prefers_incoming_batch(spark, tmp_path):
    """Equal ingested_at → REPLACE semantics: the new batch wins
    (reference load.go:14 always replaces)."""
    path = str(tmp_path / "vehicles")
    upsert_parquet(_vehicles_df(spark, [_vehicle(1, vid="t", speed=1.0)]), path)
    upsert_parquet(_vehicles_df(spark, [_vehicle(1, vid="t", speed=2.0)]), path)
    out = spark.read.parquet(path).collect()
    assert len(out) == 1 and out[0]["speed"] == 2.0


@pytest.mark.parametrize(
    "drift", ["extra", "missing", "retyped"],
    ids=["extra_column", "missing_column", "retyped_column"],
)
def test_load_stored_column_mismatch_raises_before_write(spark, tmp_path, drift):
    """The stored version is read with the batch's schema, so a stored
    version whose columns or types differ must still fail loudly: it
    raises before any write, and the link still resolves to the old
    version."""
    import os

    path = str(tmp_path / "vehicles")
    stored = _vehicles_df(spark, [_vehicle(1)])
    stored = {
        "extra": lambda df: df.withColumn("extra", F.lit(1)),
        "missing": lambda df: df.drop("bearing"),
        "retyped": lambda df: df.withColumn("bearing", F.col("bearing").cast("bigint")),
    }[drift](stored)
    upsert_parquet(stored, path)
    published = os.path.realpath(path)
    with pytest.raises(ValueError, match="columns"):
        upsert_parquet(_vehicles_df(spark, [_vehicle(2)]), path)
    assert os.path.realpath(path) == published
    assert sorted(os.listdir(tmp_path)) == ["vehicles", os.path.basename(published)]
    assert [r["id"] for r in spark.read.parquet(path).collect()] == ["veh-1"]


def test_load_one_partition_only_for_small_merges(spark, tmp_path, monkeypatch):
    """The merge goes to one partition only when the stored rows (the
    manifest's count) plus the batch's plan estimate fit under the
    broadcast threshold, and then its plan holds no exchange; a batch
    with no size estimate, or a threshold of -1, keeps the session's
    shuffle."""
    from mbta_etl_spark.pipeline import load
    from mbta_etl_spark.pipeline.load import _fits_one_partition, read_published

    path = str(tmp_path / "vehicles")
    upsert_parquet(_vehicles_df(spark, [_vehicle(i) for i in range(100)]), path)
    rows = read_published(spark, path).rows
    assert rows == 100
    unsized = _vehicles_df(spark, [_vehicle(1)])  # a Python-list RDD
    assert not _fits_one_partition(spark, unsized, rows)
    small = spark.createDataFrame(unsized.toArrow(), VEHICLE_SCHEMA)  # local rows
    assert _fits_one_partition(spark, small, rows)
    assert not _fits_one_partition(spark, small, 10**9)  # too many stored rows

    published, publish = [], load.atomic_publish

    def keep_plan(df, dest, batch_id):
        published.append(df._jdf.queryExecution().executedPlan().toString())
        publish(df, dest, batch_id)

    monkeypatch.setattr(load, "atomic_publish", keep_plan)
    upsert_parquet(small, path)
    assert "Exchange" not in published[-1]
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert not _fits_one_partition(spark, small, rows)
        upsert_parquet(small, path)
        assert "Exchange hashpartitioning(id" in published[-1]
    finally:
        spark.conf.set(key, saved)


# --- ETL orchestration (reference pipeline.go:66-91 + re-run model) -------

def _payload(vehicles):
    return json.dumps({
        "data": [
            {
                "id": vid, "type": "vehicle",
                "attributes": {
                    "updated_at": "2024-01-15T10:30:00-05:00", "speed": speed,
                    "occupancy_status": "MANY_SEATS_AVAILABLE",
                    "longitude": -71.0, "latitude": 42.0, "label": vid,
                    "direction_id": 0, "current_status": "IN_TRANSIT_TO",
                    "bearing": 0,
                },
            }
            for vid, speed in vehicles
        ]
    })


def test_run_polling_reingests_with_upsert(spark, tmp_path):
    """The continuous re-run model: three polling passes, overlapping ids —
    the upsert absorbs re-ingestion (load.go:14), so the table converges
    to one row per id with the newest values. Sleep is injected: the loop
    must sleep iterations-1 times with the rate-limit-clamped interval."""
    from mbta_etl_spark.pipeline import etl

    path = str(tmp_path / "vehicles")
    bodies = [
        _payload([("a", 10.0), ("b", 20.0)]),
        _payload([("b", 25.0), ("c", 30.0)]),
        _payload([("a", 11.0)]),
    ]
    sleeps = []
    counts = etl.run_polling(
        spark, path, interval_s=0.0, iterations=3,
        body_provider=lambda i: bodies[i], _sleep=sleeps.append,
    )
    assert counts == [2, 2, 1]
    assert len(sleeps) == 2
    assert all(s >= etl.MIN_POLL_INTERVAL_S for s in sleeps)
    rows = {r["id"]: r["speed"] for r in spark.read.parquet(path).collect()}
    assert rows == {"a": 11.0, "b": 25.0, "c": 30.0}


def _payload_with(overrides, extra=()):
    """One vehicle per ``{vid: {attr: value}}`` entry, attributes patched
    over the canonical vehicle, then the raw ``extra`` data elements."""
    doc = json.loads(_payload([(vid, 1.0) for vid in overrides]))
    for item in doc["data"]:
        item["attributes"].update(overrides[item["id"]])
    doc["data"].extend(extra)
    return json.dumps(doc)


def test_run_coerces_json_numbers_and_drops_null_element(spark, tmp_path):
    """json.Unmarshal fills a float64 from an integral number, and a null
    data[] element is a zero-value row that T1 drops. This decoder also
    fills an int from an integral float, a rule of its own: Go rejects
    ``180.0`` for an int. None of them aborts the pass."""
    from mbta_etl_spark.pipeline import etl

    path = str(tmp_path / "vehicles")
    body = _payload_with(
        {"s": {"speed": 10}, "l": {"latitude": 42}, "b": {"bearing": 180.0}},
        extra=[None],
    )
    assert etl.run(spark, path, body=body) == 3
    rows = {r["id"]: r for r in spark.read.parquet(path).collect()}
    assert set(rows) == {"s", "l", "b"}
    assert rows["s"]["speed"] == 10.0
    assert rows["l"]["latitude"] == 42.0
    assert rows["b"]["bearing"] == 180


def test_run_replaces_lone_surrogate_escape(spark, tmp_path):
    """A lone surrogate escape (``"\\ud800"``) decodes to U+FFFD, as
    Go's decoder substitutes it, and a valid pair (``"\\ud83d\\ude00"``)
    still decodes to one character."""
    from mbta_etl_spark.pipeline import etl

    path = str(tmp_path / "vehicles")
    body = _payload_with({"s": {"label": "\ud800"}, "p": {"label": "\U0001F600"}})
    assert '"\\ud800"' in body and '"\\ud83d\\ude00"' in body
    assert etl.run(spark, path, body=body) == 2
    labels = {r["id"]: r["label"] for r in spark.read.parquet(path).collect()}
    assert labels == {"s": "\ufffd", "p": "\U0001F600"}


_NON_FINITE = ["NaN", "Infinity", "-Infinity", "1E400", "-1e400", "9" * 400]


@pytest.mark.parametrize(
    "key, token",
    [("speed", '"fast"'), ("bearing", str(2**40))]
    + [("speed", t) for t in _NON_FINITE]
    + [("extra", t) for t in _NON_FINITE[:3]],
    ids=["string_speed", "bearing_overflow", "nan", "infinity", "neg_infinity", "1e400",
         "neg_1e400", "int_past_double", "unknown_key_nan", "unknown_key_infinity",
         "unknown_key_neg_infinity"],
)
def test_ingest_type_conflict_aborts_before_write(spark, tmp_path, key, token):
    """A type conflict or width overflow aborts the pass with ExtractError
    before anything is written: the published version is untouched. So
    do the NaN and Infinity tokens anywhere, and a number past the double
    range in a float64, as Go's decoder rejects them (a syntax error, and
    strconv.ParseFloat's range error)."""
    import os

    from mbta_etl_spark.pipeline import etl

    path = str(tmp_path / "vehicles")
    etl.run(spark, path, body=_payload([("a", 5.0)]))
    published = os.path.realpath(path)
    bad = _payload_with({"a": {}, "x": {key: "@@"}}).replace('"@@"', token)
    with pytest.raises(http_json.ExtractError):
        http_json.ingest_payload(spark, bad)
    with pytest.raises(http_json.ExtractError):
        etl.run(spark, path, body=bad)
    assert os.path.realpath(path) == published
    assert sorted(os.listdir(tmp_path)) == ["vehicles", os.path.basename(published)]
    assert [r["id"] for r in spark.read.parquet(path).collect()] == ["a"]


@pytest.mark.parametrize("token", _NON_FINITE[3:])
def test_out_of_range_number_in_unknown_key_decodes(token):
    """Go skips an unknown key's value without converting it, so a
    number past the double range there does not abort."""
    body = _payload_with({"a": {}, "x": {"extra": "@@"}}).replace('"@@"', token)
    assert len(http_json.parse_payload(body)) == 2


@pytest.mark.parametrize("n", [3, 5000], ids=["under_slices", "over_slices"])
def test_run_keeps_last_in_batch_duplicate(spark, tmp_path, n):
    """An id twice in one payload publishes its LAST occurrence, as the
    reference's ordered INSERT OR REPLACE loop does (load.go:23-32), on
    the first pass and over a stored version. 3 rows are fewer than the
    batch's local partitions, 5000 span all of them."""
    from mbta_etl_spark.pipeline import etl

    path = str(tmp_path / "vehicles")
    fill = [(f"v{i}", 1.0) for i in range(n - 2)]
    body = _payload([("DUP", 2.0)] + fill + [("DUP", 3.0)])
    for _ in range(2):
        assert etl.run(spark, path, body=body) == n
        rows = spark.read.parquet(path).filter("id = 'DUP'").collect()
        assert [r["speed"] for r in rows] == [3.0]


def _jobs(spark, group, thunk):
    """(what ``thunk()`` returns, Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = thunk()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _run_jobs(spark, group, path, body):
    """(records loaded, Spark jobs run) for one ``etl.run`` pass."""
    from mbta_etl_spark.pipeline import etl

    return _jobs(spark, group, lambda: etl.run(spark, path, body=body))


def test_run_over_stored_table_runs_one_job(spark, tmp_path):
    """A pass over an existing table runs one Spark job, the write: the
    small merge is coalesced into one task, so no shuffle map job runs,
    and the stored version's schema is pinned, so no footer job infers
    it."""
    from mbta_etl_spark.pipeline import etl

    path = str(tmp_path / "vehicles")
    etl.run(spark, path, body=_payload([("a", 1.0), ("b", 2.0)]))
    body = _payload([("b", 3.0), ("c", 4.0)])
    assert _run_jobs(spark, f"one-job-{tmp_path.name}", path, body) == (2, 1)
    rows = {r["id"]: r["speed"] for r in spark.read.parquet(path).collect()}
    assert rows == {"a": 1.0, "b": 3.0, "c": 4.0}


def test_first_run_runs_one_job(spark, tmp_path):
    """The first pass, with nothing stored, is one job too: the batch
    alone fits one partition."""
    path = str(tmp_path / "vehicles")
    body = _payload([("a", 1.0), ("b", 2.0), ("a", 3.0)])
    assert _run_jobs(spark, f"first-{tmp_path.name}", path, body) == (3, 1)
    rows = {r["id"]: r["speed"] for r in spark.read.parquet(path).collect()}
    assert rows == {"a": 3.0, "b": 2.0}


def test_ingest_lineage_has_no_python_rdd(spark):
    """The snapshot reaches the JVM as an Arrow table: the executed plan's
    RDD lineage has no PythonRDD, so no job on the batch (the upsert's
    shuffle-map stage included) ships its rows through Python workers."""
    df = http_json.ingest_payload(spark, _payload([("a", 1.0), ("b", 2.0)]))
    lineage = df._jdf.queryExecution().executedPlan().execute().toDebugString()
    assert "PythonRDD" not in lineage
    assert df.count() == 2


@pytest.mark.parametrize(
    "body, expect",
    [
        (_payload_with({"n": {}}, extra=[None]), {"n": {}}),
        (
            _payload_with({"hi": {"bearing": 2**31 - 1}, "lo": {"bearing": -(2**31)}}),
            {"hi": {"bearing": 2**31 - 1}, "lo": {"bearing": -(2**31)}},
        ),
        (
            _payload_with({"u": {"label": "Ünïcødé 🚋 東京"}}),
            {"u": {"label": "Ünïcødé 🚋 東京"}},
        ),
        (json.dumps({"data": []}), {}),
        (json.dumps({"data": [{"id": "bare", "type": "vehicle"}]}), {}),
        (
            json.dumps({"data": [{"id": "v", "attributes": {"label": "v"}}]}),
            {"v": {"speed": 0.0, "bearing": 0, "current_status": "UNKNOWN"}},
        ),
    ],
    ids=["null_element", "bearing_int32_edges", "non_ascii_label",
         "empty_data", "no_attributes", "sparse_attributes"],
)
def test_ingest_arrow_rows_match_row_conversion(spark, body, expect):
    """Edge payloads give the declared raw schema, and the same transformed
    rows through the Arrow hand-off as through createDataFrame(list) of
    the projected tuples, with the values expected."""
    from mbta_etl_spark.pipeline.schema import RAW_VEHICLE_SCHEMA
    from mbta_etl_spark.pipeline.transform import transform

    raw = http_json.ingest_payload(spark, body)
    assert raw.schema == RAW_VEHICLE_SCHEMA
    tuples = http_json._project_rows(http_json._decode_envelope(body), RAW_VEHICLE_SCHEMA)
    now = F.lit("2024-01-15 12:00:00").cast("timestamp")
    got = transform(raw, now).collect()
    want = transform(spark.createDataFrame(tuples, RAW_VEHICLE_SCHEMA), now).collect()
    assert sorted(got) == sorted(want)
    by_id = {r["id"]: r for r in got}
    assert set(by_id) == set(expect)
    for vid, values in expect.items():
        assert {k: by_id[vid][k] for k in values} == values


# --- vehicle queries ------------------------------------------------------

_QUERIES = {
    "top10": vq.top10_fastest,
    "routes": vq.route_breakdown,
    "stats": vq.summary_stats,
    "bearing": lambda v: vq.vehicles_by_bearing(v, 180.0, 45.0),
    "bearing_summary": vq.bearing_summary,
    "count": vq.count_vehicles,
    "speed": lambda v: vq.vehicle_speed(v, "R-7"),
}


def test_vehicle_queries_run_one_job_over_a_small_table(spark, tmp_path):
    """Over a small published table each CLI query is one Spark job: its
    input fits one task, so it is coalesced into one partition and no
    exchange, broadcast or range-partition sample runs. With the size
    rule off (a broadcast threshold of -1) the plan keeps its exchange,
    and every query answers the same, rows and order, either way."""
    from mbta_etl_spark.pipeline.load import read_published

    path = str(tmp_path / "vehicles")
    rows = [
        _vehicle(i, speed=(i * 3) % 11, bearing=(i * 37) % 361,
                 vid=f"{'ROGBy'[i % 5]}-{i}", direction=i % 2)
        for i in range(40)
    ]
    upsert_parquet(_vehicles_df(spark, rows), path)
    vehicles = read_published(spark, path).df
    one_task = {}
    for name, query in _QUERIES.items():
        one_task[name], jobs = _jobs(
            spark, f"{name}-{tmp_path.name}", lambda q=query: q(vehicles).collect()
        )
        assert jobs == 1, name
    assert one_task["count"][0]["n"] == 40

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = vq.route_breakdown(vehicles)._jdf.queryExecution().executedPlan()
        assert "Exchange" in plan.toString()
        for name, query in _QUERIES.items():
            assert query(vehicles).collect() == one_task[name], name
    finally:
        spark.conf.set(key, saved)


def test_top10_fastest(spark):
    """15 rows speeds 0..70 step 5 → 10 results sorted desc, max 70
    (main_test.go:362-421)."""
    df = _vehicles_df(spark, [_vehicle(i, speed=i * 5) for i in range(15)])
    out = vq.top10_fastest(df).collect()
    assert len(out) == 10
    speeds = [r["speed"] for r in out]
    assert speeds == sorted(speeds, reverse=True)
    assert speeds[0] == 70.0


def test_summary_stats(spark):
    """3 rows speeds 10/20/30 → avg 20, max 30 (main_test.go:424-495)."""
    df = _vehicles_df(spark, [_vehicle(i, speed=s) for i, s in enumerate([10, 20, 30])])
    row = vq.summary_stats(df).collect()[0]
    assert row["total_vehicles"] == 3
    assert row["average_speed"] == 20.0
    assert row["max_speed"] == 30.0
    assert row["moving_vehicles"] == 3
    assert row["percent_moving"] == 100.0
    # discrete percentiles, offsets n//2=1, 9n//10=2, 95n//100=2 → 20,30,30
    assert (row["p50"], row["p90"], row["p95"]) == (20.0, 30.0, 30.0)


def test_summary_stats_occupancy_pcts(spark):
    """The three occupancy share columns are MANY/FEW/UNKNOWN
    (queries.go:104-111) — UNKNOWN is the normalized empty-occupancy
    bucket (transform.go:62-67), so it must be reported, and FULL must
    not appear as a share column."""
    df = _vehicles_df(
        spark,
        [
            _vehicle(1, occ="MANY_SEATS_AVAILABLE"),
            _vehicle(2, occ="MANY_SEATS_AVAILABLE"),
            _vehicle(3, occ="FEW_SEATS_AVAILABLE"),
            _vehicle(4, occ="UNKNOWN"),
        ],
    )
    row = vq.summary_stats(df).collect()[0]
    assert row["occupancy_many_seats_available_pct"] == 50.0
    assert row["occupancy_few_seats_available_pct"] == 25.0
    assert row["occupancy_unknown_pct"] == 25.0
    assert "occupancy_full_pct" not in row.asDict()


def test_summary_stats_no_moving(spark):
    df = _vehicles_df(spark, [_vehicle(i, speed=0) for i in range(3)])
    stats = vq.summary_stats(df)
    row = stats.collect()[0]
    assert row["moving_vehicles"] == 0
    assert row["p50"] is None and row["p90"] is None and row["p95"] is None
    types = dict(stats.dtypes)
    assert [types[c] for c in ("p50", "p90", "p95")] == ["double"] * 3


def test_summary_stats_over_an_empty_published_table(spark, tmp_path):
    """An empty table reports zero vehicles and null shares, as SQLite's
    NULL for a division by zero; ANSI Spark would raise DIVIDE_BY_ZERO."""
    path = str(tmp_path / "vehicles")
    atomic_publish(_vehicles_df(spark, []), path, None)
    stats = vq.summary_stats(read_published(spark, path).df)
    (row,) = stats.collect()
    shares = ["percent_moving", *(c for c in stats.columns if c.endswith("_pct"))]
    assert row["total_vehicles"] == 0 and len(shares) == 4
    assert all(row[c] is None for c in shares)
    assert {dict(stats.dtypes)[c] for c in shares} == {"double"}


def test_route_breakdown_dead_arm(spark):
    """'ynk...' ids classify as Bus — the reference's dead CASE arm
    (queries.go:31-32), preserved."""
    rows = [
        _vehicle(1, vid="R-123", speed=10),
        _vehicle(2, vid="O-1", speed=20),
        _vehicle(3, vid="G-2", speed=30),
        _vehicle(4, vid="B-9", speed=40),
        _vehicle(5, vid="y100", speed=50),
        _vehicle(6, vid="ynk-5", speed=60),
        _vehicle(7, vid="Z-0", speed=70),
    ]
    out = {r["route_type"]: r for r in vq.route_breakdown(_vehicles_df(spark, rows)).collect()}
    assert out["Bus"]["count"] == 2  # y100 AND ynk-5
    assert "Commuter Rail" not in out
    assert out["Other"]["count"] == 1


def test_bearing_between_no_wraparound(spark):
    """target=5 delta=10 → [-5,15]: excludes 355/359 (queries.go:189-198
    quirk replicated)."""
    rows = [_vehicle(i, bearing=b, vid=f"b{b}") for i, b in enumerate([0, 5, 15, 16, 355, 359])]
    out = vq.vehicles_by_bearing(_vehicles_df(spark, rows), 5, 10).collect()
    assert sorted(r["bearing"] for r in out) == [0, 5, 15]


def test_bearing_summary_buckets(spark):
    """Every 45° boundary + North wrap + 360 fallback + zero-filled buckets
    (queries.go:224-276, FIXTURES bearing set)."""
    bearings = [0, 5, 22, 23, 337, 338, 355, 359, 360, 90, 180]
    rows = [_vehicle(i, bearing=b, vid=f"c{i}") for i, b in enumerate(bearings)]
    got = vq.bearing_summary(_vehicles_df(spark, rows)).collect()
    assert [r["direction"] for r in got] == sorted(core.CARDINAL_DIRS)
    out = {r["direction"]: r["cnt"] for r in got}
    assert len(out) == 8  # all buckets materialized
    # North: 0,5,22,338,355,359,360 (>=337.5 or <22.5, plus 360 fallback)
    assert out["North"] == 7
    assert out["Northeast"] == 1  # 23
    assert out["Northwest"] == 1  # 337 (292.5<=337<337.5)
    assert out["East"] == 1  # 90
    assert out["South"] == 1  # 180
    assert out["Southeast"] == 0
    assert out["Southwest"] == 0
    assert out["West"] == 0


def test_point_lookup(spark):
    df = _vehicles_df(spark, [_vehicle(1, vid="A", speed=33.0)])
    out = vq.vehicle_speed(df, "A").collect()
    assert len(out) == 1 and out[0]["speed"] == 33.0
    assert vq.vehicle_speed(df, "missing").count() == 0
