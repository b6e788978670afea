"""Pipeline golden tests (SURVEY.md §5.2 layer 3): the nine reference DAGs
on small reference-shaped fixtures (FIXTURES.md §1-2), expected outputs
checked row-exact, plus each output schema contract and the reset branch."""

import pytest

from sanef_election_dashboard_etl_spark.plans import pipelines as P
from sanef_election_dashboard_etl_spark.sources.literal import reset_rows

from .conftest import rows


@pytest.fixture(scope="module")
def munis(spark):
    # (ProvinceID, MunicipalityID, Municipality, MunicipalityName, MunicTypeID)
    return spark.createDataFrame(
        [(1, 101, "BUF", "Buffalo City", 1),
         (1, 102, "NMA", "Nelson Mandela", 1),
         (3, 301, "JHB", "Johannesburg", 1)],
        "ProvinceID int, MunicipalityID int, Municipality string, "
        "MunicipalityName string, MunicTypeID int")


@pytest.fixture(scope="module")
def wards(spark):
    return spark.createDataFrame(
        [(1, 101, 10100001), (1, 101, 10100002), (3, 301, 30100001)],
        "ProvinceID int, MunicipalityID int, WardID long")


@pytest.fixture(scope="module")
def council_winners(spark):
    # (pkl, fklEEID, fklMunicipalityID, fklPartyID, ..., bDraw, bHung)
    def row(pk, muni, party, hung):
        return (pk, 1091, muni, party, party, party, 10, 6, 0, hung)

    return spark.createDataFrame(
        [row(1, 101, 7, 1), row(2, 102, 7, 0), row(3, 301, 8, 0)],
        "pklCouncilWinnerID long, fklEEID int, fklMunicipalityID int, "
        "fklPartyID int, fklLeadingPartyID int, fklMajorityPartyID int, "
        "lCouncilSeatsAvailable int, lTotalPartySeatsWon int, bDraw int, bHung int")


def test_hung_councils(spark, council_winners, munis):
    out = P.hung_councils(council_winners, munis)
    assert out.columns == ["Geography", "Councils", "Count"]
    assert rows(out) == [
        ("EC", "Hung", 1), ("EC", "Outright Majority", 1),
        ("GT", "Hung", 0), ("GT", "Outright Majority", 1)]


def test_councils_won_by_party(spark, council_winners, munis):
    party = spark.createDataFrame(
        [(7, "Party Seven", "P7"), (8, "Party Eight", "P8")],
        "pklPartyID long, sPartyName string, sPartyAbbr string")
    out = P.councils_won_by_party(council_winners, party, munis)
    assert out.columns == ["Geography", "Party", "Count"]
    assert rows(out) == [("EC", "Party Seven", 1), ("GT", "Party Eight", 1)]


def test_list_of_hung_councils(spark, council_winners, munis):
    out = P.list_of_hung_councils(council_winners, munis)
    assert out.columns == ["Geography", "Contents"]
    got = rows(out)
    assert len(got) == 1 and got[0][0] == "EC"
    assert got[0][1] == (
        "<ul><li><a href = https://sanef-local-gov.openup.org.za/#geo:BUF>"
        "BUF - Buffalo City </a> </li></ul>")


def test_completed_wards_anti_join(spark, wards):
    ee_vd = spark.createDataFrame(
        [(10100001, 78), (10100002, 78), (30100001, 78), (99, 12)],
        "fklWardId long, pkfklDelimID int")
    vd_votes = spark.createDataFrame(
        [(1091, 10100001, 1, 100), (1091, 10100001, 2, 50),
         (1091, 10100002, 1, 0),          # zero-sum district -> unfinished
         (1091, 30100001, 1, 70),
         (999, 10100001, 3, 0)],          # other election, ignored
        "fklEEId int, fklWardId long, fklVotingDistrict long, lTotalVotesCast long")
    out = P.completed_wards(ee_vd, vd_votes, wards)
    assert rows(out) == [(1, 101, 10100001), (3, 301, 30100001)]


def test_completed_wards_keeps_multiplicity_and_null_keys(spark):
    """Duplicate EE_VotingDistricts rows, a WardID repeated in the wards
    dim and NULL keys on every side: each wards row whose ward is in the
    delimitation and has no zero-vote district comes out once, NULL keys
    match nothing. One exchange runs, the one under the vote-sum agg."""
    wards = spark.createDataFrame(
        [(1, 101, 10100001), (1, 101, 10100001),   # repeated WardID rows
         (1, 102, 10100001), (1, 101, 10100002), (3, 301, 30100001),
         (3, 301, None), (9, 999, 99)],
        "ProvinceID int, MunicipalityID int, WardID long")
    ee_vd = spark.createDataFrame(
        [(10100001, 78), (10100001, 78), (10100002, 78),
         (30100001, 78), (30100001, 78), (30100001, 78),
         (None, 78), (40000001, 78),      # NULL, and a ward not in the dim
         (99, 12)],                        # other delimitation
        "fklWardId long, pkfklDelimID int")
    vd_votes = spark.createDataFrame(
        [(1091, 10100001, 1, 100), (1091, 10100001, 1, 0),
         (1091, 10100002, 1, 0), (1091, 10100002, 1, 0),   # unfinished twice
         (1091, None, 7, 0),                                # NULL unfinished key
         (1091, 30100001, 1, 70), (1091, 30100001, 2, None),
         (999, 30100001, 3, 0)],           # other election, ignored
        "fklEEId int, fklWardId long, fklVotingDistrict long, lTotalVotesCast long")
    out = P.completed_wards(ee_vd, vd_votes, wards)
    assert rows(out) == [(1, 101, 10100001), (1, 101, 10100001),
                         (1, 102, 10100001), (3, 301, 30100001)]

    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    exchanges = [ln for ln in final.splitlines()
                 if "Exchange hashpartitioning" in ln]
    assert len(exchanges) == 1, final
    assert "fklVotingDistrict" in exchanges[0], final


def test_voter_turnout(spark, wards):
    completed = spark.createDataFrame(
        [(1, 101, 10100001)], "ProvinceID int, MunicipalityID int, WardID long")
    vd_stats = spark.createDataFrame(
        [(1091, 10100001, 1000, 300), (1091, 10100001, 1000, 400),
         (1091, 30100001, 500, 100)],
        "pkfklEEID int, fklWardID long, lRegisteredVoters long, lVoterTurnout long")
    out = P.voter_turnout(vd_stats, completed)
    assert out.columns == ["Geography", "Voter Turnout", "Count"]
    assert rows(out) == [(10100001, "Didn't Vote", 300),
                         (10100001, "Voted", 700)]


def test_ward_votes_by_party_explode(spark):
    ballots = spark.createDataFrame(
        [(("W1", [("ANC", 120), ("DA", 80)]),)],
        "payload struct<WardID string, PartyBallotResults "
        "array<struct<Name string, TotalValidVotes long>>>")
    out = P.ward_votes_by_party(ballots)
    assert out.columns == ["Geography", "Party", "Count"]
    assert rows(out) == [("W1", "ANC", 120), ("W1", "DA", 80)]


def test_ward_councillor_elected_dedup(spark):
    payload = [[("W1", "Alice", "ANC"), ("W1", "Bob", "DA"), ("W2", "Cara", "DA")]]
    councillors = spark.createDataFrame(
        [(p,) for p in payload],
        "payload array<struct<WardID string, Name string, PartyName string>>")
    out = P.ward_councillor_elected(councillors)
    assert out.columns == ["Geography", "Contents"]
    assert rows(out) == [("W1", "Alice - ANC"), ("W2", "Cara - DA")]


def test_seats_won_stack(spark, munis):
    seat_payloads = spark.createDataFrame(
        [((101, [("ANC", 3, 2)]),), (None,)],
        "payload struct<MunicipalityID int, PartyResults "
        "array<struct<Name string, WardSeats int, PRSeats int>>>")
    out = P.seats_won(seat_payloads, munis)
    assert out.columns == ["Geography", "Party Name", "Seat Type", "Count"]
    assert rows(out) == [("BUF", "ANC", "PR", 2), ("BUF", "ANC", "Ward", 3)]


def test_ward_and_pr_votes_pipelines(spark):
    completed = spark.createDataFrame(
        [(1, 101, 10100001)], "ProvinceID int, MunicipalityID int, WardID long")
    wc = spark.createDataFrame(
        [(1091, 10100001, 10100001, "Alice", "ANC", 55),
         (1091, 99999999, 99999999, "Zed", "XX", 9)],
        "fklEEId int, fklWardId long, WardID long, CandidateName string, "
        "PartyName string, Votes long")
    out = P.ward_votes_by_candidate(wc, completed)
    assert rows(out) == [(10100001, "ANC - Alice", 55)]

    wr = spark.createDataFrame(
        [(1091, 10100001, 10100001, "ANC", 500),
         (1091, 99999999, 99999999, "XX", 1)],
        "fklEEId int, fklWardId long, WardID long, PartyName string, Votes long")
    out2 = P.pr_votes_by_party(wr, completed)
    assert rows(out2) == [(10100001, "ANC", 500)]


def test_reset_rows_contracts(spark):
    out = reset_rows(spark, "geo_party_count")
    assert out.columns == ["Geography", "Party", "Count"]
    assert rows(out) == [("None", "-", 0)]
    assert reset_rows(spark, "geo_turnout_count").columns == \
        ["Geography", "Voter Turnout", "Count"]


def test_voter_turnout_multi_registered_anomaly(spark, wards):
    """Reference fidelity (:471-472): a ward with two distinct
    lRegisteredVoters values contributes their SUM to tvoters."""
    completed = spark.createDataFrame(
        [(1, 101, 10100001)], "ProvinceID int, MunicipalityID int, WardID long")
    vd_stats = spark.createDataFrame(
        [(1091, 10100001, 1000, 300),
         (1091, 10100001, 800, 100)],   # anomalous second registered value
        "pkfklEEID int, fklWardID long, lRegisteredVoters long, lVoterTurnout long")
    out = P.voter_turnout(vd_stats, completed)
    assert rows(out) == [(10100001, "Didn't Vote", 1400),
                         (10100001, "Voted", 400)]
