"""CLI drop-in test: the reference's pipelines dispatched by name through
run_pipeline with injected (offline) inputs — the switch path a reference
user would take."""

import pytest

from sanef_election_dashboard_etl_spark.cli import (
    PIPELINES, Args, jdbc_from_args, rest_from_args, run_pipeline,
)
from sanef_election_dashboard_etl_spark.sources.rest import RestSource

from .conftest import fake_fetcher_from_dict, rows


@pytest.fixture(scope="module")
def inputs(spark):
    munis = spark.createDataFrame(
        [(1, 101, "BUF", "Buffalo City", 1), (3, 301, "JHB", "Johannesburg", 1)],
        "ProvinceID int, MunicipalityID int, Municipality string, "
        "MunicipalityName string, MunicTypeID int")
    wards = spark.createDataFrame(
        [(1, 101, 10100001), (3, 301, 30100001)],
        "ProvinceID int, MunicipalityID int, WardID long")
    cw = spark.createDataFrame(
        [(1, 1091, 101, 7, 7, 7, 10, 6, 0, 1),
         (2, 1091, 301, 8, 8, 8, 10, 6, 0, 0)],
        "pklCouncilWinnerID long, fklEEID int, fklMunicipalityID int, "
        "fklPartyID int, fklLeadingPartyID int, fklMajorityPartyID int, "
        "lCouncilSeatsAvailable int, lTotalPartySeatsWon int, bDraw int, bHung int")
    party = spark.createDataFrame(
        [(7, "Party Seven", "P7"), (8, "Party Eight", "P8")],
        "pklPartyID long, sPartyName string, sPartyAbbr string")
    ee_vd = spark.createDataFrame(
        [(10100001, 78), (30100001, 78)], "fklWardId long, pkfklDelimID int")
    vd_votes = spark.createDataFrame(
        [(1091, 10100001, 1, 50), (1091, 30100001, 1, 0)],
        "fklEEId int, fklWardId long, fklVotingDistrict long, lTotalVotesCast long")
    vd_stats = spark.createDataFrame(
        [(1091, 10100001, 1000, 700)],
        "pkfklEEID int, fklWardID long, lRegisteredVoters long, lVoterTurnout long")
    return {
        "munis": munis, "wards": wards,
        "tables": {
            "LED_GIS_CouncilWinners": cw, "PCR_Party": party,
            "EE_VotingDistricts": ee_vd,
            "LED_GIS_Display_VotingDistrict": vd_votes,
            "Fact_LGE_Master_VDStats": vd_stats,
        },
    }


def test_reset_branch_all_pipelines(spark, inputs):
    for name in PIPELINES:
        out = run_pipeline(spark, name, reset=True)
        assert out.count() == 1


def test_hung_councils_through_cli(spark, inputs):
    out = run_pipeline(spark, "hung_councils", tables=inputs["tables"],
                       munis=inputs["munis"], wards=inputs["wards"])
    assert rows(out) == [("EC", "Hung", 1), ("EC", "Outright Majority", 0),
                         ("GT", "Hung", 0), ("GT", "Outright Majority", 1)]


def test_voter_turnout_through_cli(spark, inputs):
    # ward 30100001 has a zero-vote district -> only 10100001 completed
    out = run_pipeline(spark, "voter_turnout", tables=inputs["tables"],
                       munis=inputs["munis"], wards=inputs["wards"])
    assert rows(out) == [(10100001, "Didn't Vote", 300), (10100001, "Voted", 700)]


def _production_rest(name: str, responses: dict) -> RestSource:
    """The CLI's own per-pipeline source (real endpoint template + schema),
    with only the network call swapped for a fixture — so these tests
    exercise the exact URLs and payload schemas production uses."""
    import dataclasses

    a = Args.from_argv(["https://wazi", "tok", "1384", "iec_tok", name,
                        "dbhost", "LED", "user", "pw", "dont-reset"])
    return dataclasses.replace(rest_from_args(a, name),
                               fetcher=fake_fetcher_from_dict(responses))


def test_seats_won_through_cli_with_fake_rest(spark, inputs):
    base = "https://api.elections.org.za/api/v1/LGESeatCalculationResults" \
           "?ElectoralEventID=1091"
    responses = {
        f"{base}&ProvinceID=1&MunicipalityID=101": {
            "MunicipalityID": 101,
            "PartyResults": [{"Name": "ANC", "WardSeats": 3, "PRSeats": 2}]},
        f"{base}&ProvinceID=3&MunicipalityID=301": {
            "MunicipalityID": 301, "PartyResults": []},
    }
    out = run_pipeline(spark, "seats_won", tables=inputs["tables"],
                       munis=inputs["munis"], wards=inputs["wards"],
                       rest=_production_rest("seats_won", responses))
    assert rows(out) == [("BUF", "ANC", "PR", 2), ("BUF", "ANC", "Ward", 3)]


def test_ward_votes_by_party_through_cli_with_fake_rest(spark, inputs):
    # ward 30100001 has a zero-vote district -> only 10100001 is fetched
    base = "https://api.elections.org.za/api/v1/LGEBallotResults" \
           "?ElectoralEventID=1091"
    responses = {
        f"{base}&ProvinceID=1&MunicipalityID=101&WardID=10100001": {
            "WardID": "10100001",
            "PartyBallotResults": [{"Name": "ANC", "TotalValidVotes": 500},
                                   {"Name": "DA", "TotalValidVotes": 300}]},
    }
    out = run_pipeline(spark, "ward_votes_by_party", tables=inputs["tables"],
                       munis=inputs["munis"], wards=inputs["wards"],
                       rest=_production_rest("ward_votes_by_party", responses))
    assert rows(out) == [("10100001", "ANC", 500), ("10100001", "DA", 300)]


def test_ward_councillor_elected_through_cli_with_fake_rest(spark, inputs):
    # array payload (COUNCILLOR_SCHEMA) — a BALLOT-schema'd source fails
    # analysis here, which is exactly the bug this test pins down
    url = "https://api.elections.org.za/api/v1/CouncilorsByEvent" \
          "?ElectoralEventID=1091&ProvinceID=1"
    responses = {url: [
        {"WardID": "W1", "Name": "Alice", "PartyName": "ANC"},
        {"WardID": "W1", "Name": "Bob", "PartyName": "DA"},
        {"WardID": "W2", "Name": "Cara", "PartyName": "EFF"},
    ]}
    out = run_pipeline(
        spark, "ward_councillor_elected", tables=inputs["tables"],
        munis=inputs["munis"], wards=inputs["wards"],
        rest=_production_rest("ward_councillor_elected", responses))
    assert rows(out) == [("W1", "Alice - ANC"), ("W2", "Cara - EFF")]


def test_reset_literals_match_reference(spark, inputs):
    # councils_won_by_party resets with 'Party Name' (SANEF_Uploader.py:314),
    # seats_won pins Seat Type to 'Ward' (:566)
    cwp = run_pipeline(spark, "councils_won_by_party", reset=True)
    assert cwp.columns == ["Geography", "Party Name", "Count"]
    sw = run_pipeline(spark, "seats_won", reset=True)
    assert rows(sw) == [("None", "-", "Ward", 0)]


def test_args_contract():
    with pytest.raises(SystemExit):
        Args.from_argv(["too", "few"])
    a = Args.from_argv(["https://wazi", "tok", "1384", "iec_tok", "hung_councils",
                        "dbhost", "LED", "user", "pw", "dont-reset"])
    assert a.iec_endpoint == "hung_councils"
    src = jdbc_from_args(a)
    assert src.reader_options(dbtable="PCR_Party")["url"] == \
        "jdbc:sqlserver://dbhost;databaseName=LED"


def test_unknown_pipeline_rejected(spark):
    with pytest.raises(SystemExit):
        run_pipeline(spark, "nope", reset=True)


def test_from_env_contract():
    # SANEF_Uploader.sh:5-15 expands exactly these env vars into argv,
    # with a hardcoded trailing 'dont-reset'
    env = {"WAZI_ENDPOINT": "https://wazi", "WAZI_TOKEN": "tok",
           "DATASET_ID": "1384", "IEC_TOKEN": "iec_tok",
           "IEC_ENDPOINT": "hung_councils", "DB_SERVER": "dbhost",
           "DB": "LED", "DB_USERNAME": "user", "DB_PASSWORD": "pw"}
    a = Args.from_env(env)
    assert a.iec_endpoint == "hung_councils"
    assert a.reset_dataset == "dont-reset"  # the shim's literal default
    a2 = Args.from_env({**env, "RESET_DATASET": "reset"})
    assert a2.reset_dataset == "reset"
    with pytest.raises(SystemExit):
        Args.from_env({"WAZI_ENDPOINT": "only-one"})


def test_main_from_env_reset_end_to_end(spark, monkeypatch, tmp_path):
    """A container user's reset run: env vars alone, no argv, no
    delimitations/ files, no network (WAZI_ENDPOINT=none skips upload).
    Must write the reset CSV under datasets/."""
    import csv
    import glob

    from sanef_election_dashboard_etl_spark import cli

    monkeypatch.chdir(tmp_path)
    for k, v in {"WAZI_ENDPOINT": "none", "WAZI_TOKEN": "t",
                 "DATASET_ID": "1384", "IEC_TOKEN": "t",
                 "IEC_ENDPOINT": "hung_councils", "DB_SERVER": "h",
                 "DB": "d", "DB_USERNAME": "u", "DB_PASSWORD": "p",
                 "RESET_DATASET": "reset"}.items():
        monkeypatch.setenv(k, v)
    assert cli.main(["--from-env"]) == 0
    files = glob.glob(str(tmp_path / "datasets" / "hung_councils-*.csv"))
    assert len(files) == 1
    with open(files[0]) as fh:
        got = list(csv.reader(fh))
    assert got[0] == ["Geography", "Councils", "Count"] and len(got) == 2


def test_fixture_canary_detects_drift(tmp_path):
    # tools/fixture_canary.py (VERDICT r5 items 1a/8): same data ->
    # same fingerprint regardless of row order; any value change trips
    # it; the committed FIXTURES.md snapshot parses and matches itself.
    import sys as _sys
    _sys.path.insert(0, "/root/repo/tools")
    import duckdb

    import fixture_canary as fc

    con = duckdb.connect()
    p1 = str(tmp_path / "t1.parquet")
    p2 = str(tmp_path / "t2.parquet")
    p3 = str(tmp_path / "t3.parquet")
    con.execute(f"COPY (SELECT i AS id, 'v' || i AS s FROM range(100) r(i)) "
                f"TO '{p1}' (FORMAT PARQUET)")
    con.execute(f"COPY (SELECT i AS id, 'v' || i AS s FROM range(100) r(i) "
                f"ORDER BY i DESC) TO '{p2}' (FORMAT PARQUET)")
    con.execute(f"COPY (SELECT i AS id, 'v' || (i+1) AS s FROM range(100) "
                f"r(i)) TO '{p3}' (FORMAT PARQUET)")
    f1 = fc.table_fingerprint(con, p1)
    assert f1 == fc.table_fingerprint(con, p2)      # order-independent
    assert f1 != fc.table_fingerprint(con, p3)      # value drift trips
    assert f1[0] == 100
    # the committed snapshot for sf0.001 parses and round-trips the
    # renderer (self-consistency of the FIXTURES.md format)
    snap = fc.parse_snapshot("/root/testdata/sf0.001")
    assert snap is not None and len(snap) == 10
    block = fc.render_block("/root/testdata/sf0.001", snap)
    reparsed = {}
    for line in block.splitlines()[1:-1]:
        t, n, x = line.split()
        reparsed[t] = (int(n), int(x))
    assert reparsed == snap
