"""CLI dispatch tests (mbta_etl_spark/cli.py): the paper's own surface —
`--run --input` loads a payload, each of the seven `--query` names
renders, an unknown query exits 1 with usage, `--sql` runs over the
`vehicles` view — and the registry surface: `--registry list`
enumerates every entry, a named entry renders against --sf-dir, and an
unknown name exits 1. The session factory is patched to the shared test
session (and stop() neutered) so the CLI's lifecycle doesn't tear down
the suite's SparkSession."""

from __future__ import annotations

import json

import pytest

from tests.conftest import SF_DIR_SMALL

# (id, speed, bearing): one vehicle per route arm the queries classify
VEHICLES = [("R-1", 30.5, 180), ("O-2", 20.0, 90), ("y3", 0.0, 200)]


def _patched_cli(spark, monkeypatch):
    from mbta_etl_spark import cli

    monkeypatch.setattr(cli, "get_spark", lambda name: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    return cli


def test_cli_registry_list_enumerates_all_entries(spark, monkeypatch, capsys):
    cli = _patched_cli(spark, monkeypatch)
    assert cli.main(["--registry", "list"]) == 0
    names = capsys.readouterr().out.split()
    from mbta_etl_spark.plans import registry

    assert set(names) == set(registry.queries())


def test_cli_registry_runs_named_entry(spark, monkeypatch, capsys):
    cli = _patched_cli(spark, monkeypatch)
    rc = cli.main(
        ["--registry", "q12_count", "--sf-dir", SF_DIR_SMALL]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "6000" in out  # lineitem rows at sf0.001


def test_cli_registry_unknown_entry_exits_1(spark, monkeypatch, capsys):
    cli = _patched_cli(spark, monkeypatch)
    assert cli.main(["--registry", "nope_not_real"]) == 1
    assert "unknown registry entry" in capsys.readouterr().err


def _payload() -> str:
    return json.dumps({"data": [
        {
            "id": vid, "type": "vehicle",
            "attributes": {
                "updated_at": "2024-01-15T10:30:00-05:00", "speed": speed,
                "occupancy_status": "MANY_SEATS_AVAILABLE",
                "longitude": -71.0, "latitude": 42.0, "label": vid,
                "direction_id": 0, "current_status": "IN_TRANSIT_TO",
                "bearing": bearing,
            },
        }
        for vid, speed, bearing in VEHICLES
    ]})


@pytest.fixture(scope="module")
def vehicles_db(spark, tmp_path_factory):
    """A vehicles table loaded from the payload by one ETL pass."""
    from mbta_etl_spark.pipeline import etl

    db = str(tmp_path_factory.mktemp("cli") / "vehicles")
    etl.run(spark, db, body=_payload())
    return db


def test_cli_run_loads_input_payload(spark, monkeypatch, capsys, tmp_path):
    cli = _patched_cli(spark, monkeypatch)
    payload = tmp_path / "payload.json"
    payload.write_text(_payload())
    db = str(tmp_path / "vehicles")
    assert cli.main(["--run", "--input", str(payload), "--db", db]) == 0
    assert f"ETL complete: {len(VEHICLES)} records loaded" in capsys.readouterr().out
    assert spark.read.parquet(db).count() == len(VEHICLES)


# --query name -> (extra args, text its rendered table must contain)
QUERY_CASES = {
    "top10": ([], "R-1"),
    "routes": ([], "Orange Line"),
    "stats": ([], "total_vehicles"),
    "bearing": (["--target", "180", "--delta", "10"], "R-1"),
    "bearing_summary": ([], "South"),
    "count": ([], str(len(VEHICLES))),
    "speed": (["--id", "O-2"], "20.0"),
}


@pytest.mark.parametrize("query", list(QUERY_CASES))
def test_cli_query_renders(spark, monkeypatch, capsys, vehicles_db, query):
    args, expect = QUERY_CASES[query]
    cli = _patched_cli(spark, monkeypatch)
    assert cli.main(["--query", query, "--db", vehicles_db, *args]) == 0
    assert expect in capsys.readouterr().out


def test_cli_unknown_query_exits_1_with_usage(spark, monkeypatch, capsys, vehicles_db):
    """main.go:142-150: an unknown query name prints usage and exits 1."""
    cli = _patched_cli(spark, monkeypatch)
    assert cli.main(["--query", "nope", "--db", vehicles_db]) == 1
    captured = capsys.readouterr()
    assert "unknown query: nope" in captured.err
    assert captured.out.startswith("usage:")


def test_cli_sql_counts_loaded_vehicles(spark, monkeypatch, capsys, vehicles_db):
    """S2's generic SQL cursor: any SQL string over the `vehicles` view."""
    cli = _patched_cli(spark, monkeypatch)
    sql = "select count(*) as n_loaded from vehicles"
    assert cli.main(["--sql", sql, "--db", vehicles_db]) == 0
    header, value = [
        line.strip("| ") for line in capsys.readouterr().out.splitlines()
        if line.startswith("|")
    ]
    assert (header, value) == ("n_loaded", str(len(VEHICLES)))


@pytest.mark.parametrize(
    "args",
    [["--query", "count"], ["--sql", "select count(*) from vehicles"]],
    ids=["query", "sql"],
)
def test_cli_opening_the_table_runs_no_job(
    spark, monkeypatch, capsys, vehicles_db, args
):
    """`--query` and `--sql` open the table through ``read_published``,
    with the schema its manifest records, so no job infers it."""
    cli = _patched_cli(spark, monkeypatch)
    sc = spark.sparkContext
    group = f"cli-open-{args[0]}"
    opened = []

    def read_published(spark, path):
        sc.setJobGroup(group, "open the vehicles table")
        try:
            opened.append(cli_read(spark, path))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return opened[-1]

    cli_read = cli.read_published
    monkeypatch.setattr(cli, "read_published", read_published)
    assert cli.main([*args, "--db", vehicles_db]) == 0
    assert len(opened) == 1 and opened[0].rows == len(VEHICLES)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert str(len(VEHICLES)) in capsys.readouterr().out


@pytest.mark.parametrize("args", [["--query", "count"], ["--sql", "select 1"]],
                         ids=["query", "sql"])
def test_cli_absent_db_exits_1_naming_path(spark, monkeypatch, capsys, tmp_path, args):
    cli = _patched_cli(spark, monkeypatch)
    db = str(tmp_path / "nowhere")
    assert cli.main([*args, "--db", db]) == 1
    assert db in capsys.readouterr().err
