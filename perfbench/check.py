"""Output checks, computed independently of the engine in DuckDB.

- Registry operations: `REGISTRY[name].oracle` runs in DuckDB over the
  generated parquet tables and is compared with the Spark rows the way
  tools/check_oracle.py compares them (row count, column names,
  order-insensitive value hash of the canonicalized rows).
- Election pipelines: expected results are SQL over the generated
  tables plus the IEC payloads the fetcher serves, compared against a
  read-back of the CSV the pipeline wrote (header, then rows as a
  multiset of strings).

Every check returns None when the output is right, else a one-line
reason.
"""

from __future__ import annotations

import csv
import hashlib
import os

import duckdb

from . import gen

PROVINCE = {1: "EC", 2: "FS", 3: "GT", 4: "KZN", 5: "MP", 6: "NC",
            7: "LIM", 8: "NW", 9: "WC"}
IEC_API = "https://api.elections.org.za"


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per generated parquet table."""
    con = duckdb.connect()
    for fn in sorted(os.listdir(data_dir)):
        if fn.endswith(".parquet"):
            path = os.path.join(data_dir, fn).replace("'", "''")
            con.sql(f'CREATE VIEW "{fn[:-8]}" AS SELECT * FROM read_parquet(\'{path}\')')
    return con


# --------------------------------------------------------------------------
# registry operations
# --------------------------------------------------------------------------


def value_hash(rows, cols) -> str:
    from check_oracle import canon  # tools/check_oracle.py, on sys.path

    h = hashlib.sha256()
    for r in canon(rows, cols):
        h.update(repr(r).encode())
    return h.hexdigest()


def check_oracle(con, oracle_sql: str, rows, cols) -> str | None:
    rel = con.sql(oracle_sql)
    ocols, orows = rel.columns, rel.fetchall()
    if len(rows) != len(orows):
        return f"rowcount spark={len(rows)} duckdb={len(orows)}"
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in ocols):
        return f"cols spark={sorted(cols)} duckdb={sorted(ocols)}"
    if value_hash(rows, [c.lower() for c in cols]) != \
            value_hash(orows, [c.lower() for c in ocols]):
        return "value hash mismatch"
    return None


# --------------------------------------------------------------------------
# election pipelines
# --------------------------------------------------------------------------

HEADERS = {
    "ward_votes_by_party": ["Geography", "Party", "Count"],
    "voter_turnout": ["Geography", "Voter Turnout", "Count"],
    "ward_votes_by_candidate": ["Geography", "Party", "Count"],
    "ward_councillor_elected": ["Geography", "Contents"],
    "pr_votes_by_party": ["Geography", "Party", "Count"],
    "seats_won": ["Geography", "Party Name", "Seat Type", "Count"],
    "hung_councils": ["Geography", "Councils", "Count"],
    "councils_won_by_party": ["Geography", "Party", "Count"],
    "list_of_hung_councils": ["Geography", "Contents"],
}

_PROV = "CASE m.ProvinceID " + " ".join(
    f"WHEN {k} THEN '{v}'" for k, v in PROVINCE.items()) + " END"
_CW = (f"FROM LED_GIS_CouncilWinners cw JOIN munis m "
       f"ON cw.fklMunicipalityID = m.MunicipalityID WHERE cw.fklEEID = {gen.EE_ID}")

EXPECTED_SQL = {
    "ward_votes_by_party": "SELECT WardID, Name, TotalValidVotes FROM ballots",
    "voter_turnout": f"""
        WITH lvl1 AS (
          SELECT fklWardID, lRegisteredVoters, SUM(lVoterTurnout) AS votes
          FROM Fact_LGE_Master_VDStats
          WHERE pkfklEEID = {gen.EE_ID}
            AND fklWardID IN (SELECT WardID FROM completed)
          GROUP BY fklWardID, lRegisteredVoters),
        pw AS (SELECT fklWardID AS g, SUM(votes) AS tvotes,
                      SUM(lRegisteredVoters) AS tvoters
               FROM lvl1 GROUP BY fklWardID)
        SELECT g, 'Voted', tvotes FROM pw
        UNION ALL SELECT g, 'Didn''t Vote', tvoters - tvotes FROM pw""",
    "ward_votes_by_candidate": f"""
        SELECT WardID, PartyName || ' - ' || CandidateName, Votes
        FROM LED_GIS_Display_Ward_WardCandidates
        WHERE fklEEId = {gen.EE_ID}
          AND fklWardId IN (SELECT WardID FROM completed)""",
    "ward_councillor_elected": """
        SELECT WardID, MIN(Name || ' - ' || PartyName)
        FROM councillors GROUP BY WardID""",
    "pr_votes_by_party": f"""
        SELECT WardID, PartyName, Votes FROM LED_GIS_Display_Ward
        WHERE fklEEId = {gen.EE_ID}
          AND fklWardId IN (SELECT WardID FROM completed)""",
    "seats_won": """
        SELECT m.Municipality, s.Name, 'Ward', s.WardSeats
        FROM seats s JOIN munis m USING (MunicipalityID)
        UNION ALL
        SELECT m.Municipality, s.Name, 'PR', s.PRSeats
        FROM seats s JOIN munis m USING (MunicipalityID)""",
    "hung_councils": f"""
        SELECT {_PROV} AS g, 'Hung', SUM(bHung) {_CW} GROUP BY g
        UNION ALL
        SELECT {_PROV} AS g, 'Outright Majority', COUNT(*) - SUM(bHung)
        {_CW} GROUP BY g""",
    "councils_won_by_party": f"""
        SELECT {_PROV} AS g, p.sPartyName, COUNT(*)
        FROM LED_GIS_CouncilWinners cw
        JOIN munis m ON cw.fklMunicipalityID = m.MunicipalityID
        JOIN PCR_Party p ON cw.fklPartyID = p.pklPartyID
        WHERE cw.fklEEID = {gen.EE_ID} AND cw.bHung = 0
        GROUP BY g, p.sPartyName""",
    "list_of_hung_councils": f"""
        SELECT {_PROV} AS g,
          '<ul>' || string_agg(
            '<li><a href = https://sanef-local-gov.openup.org.za/#geo:'
            || m.Municipality || '>' || m.Municipality || ' - '
            || m.MunicipalityName || ' </a> </li>', ''
            ORDER BY m.Municipality) || '</ul>'
        {_CW} AND cw.bHung = 1 GROUP BY g""",
}

COMPLETED_SQL = f"""
    WITH unfinished AS (
      SELECT fklWardId FROM LED_GIS_Display_VotingDistrict
      WHERE fklEEId = {gen.EE_ID}
      GROUP BY fklWardId, fklVotingDistrict
      HAVING SUM(lTotalVotesCast) = 0),
    complete AS (
      SELECT DISTINCT fklWardId FROM EE_VotingDistricts
      WHERE pkfklDelimID = {gen.DELIM_ID}
        AND fklWardId NOT IN (SELECT fklWardId FROM unfinished))
    SELECT w.ProvinceID, w.MunicipalityID, w.WardID
    FROM complete c JOIN wards w ON c.fklWardId = w.WardID"""


def _url(path: str, qs: str) -> str:
    return f"{IEC_API}{path}?ElectoralEventID={gen.EE_ID}{qs}"


def election_expected(data_dir: str, seed: int) -> dict[str, list[tuple[str, ...]]]:
    """{pipeline: sorted expected CSV rows}, from the generated tables and
    the payloads the fetcher serves for the keys each pipeline fetches."""
    import pyarrow as pa

    con = connect(data_dir)
    for name, fn, spec in (
            ("wards", "Wards.csv",
             "'ProvinceID': 'INT', 'MunicipalityID': 'INT', 'WardID': 'BIGINT'"),
            ("munis", "Munis.csv",
             "'ProvinceID': 'INT', 'MunicipalityID': 'INT', 'Municipality': 'VARCHAR', "
             "'MunicipalityName': 'VARCHAR', 'MunicTypeID': 'INT'")):
        con.sql(f"CREATE TABLE {name} AS SELECT * FROM read_csv("
                f"'{os.path.join(data_dir, fn)}', header = true, columns = {{{spec}}})")
    con.sql(f"CREATE TABLE completed AS {COMPLETED_SQL}")

    ballots = []
    for p, m, w in con.sql("SELECT * FROM completed").fetchall():
        body = gen.iec_payload(seed, _url("/api/v1/LGEBallotResults",
                                          f"&ProvinceID={p}&MunicipalityID={m}&WardID={w}"))
        ballots += [(body["WardID"], r["Name"], r["TotalValidVotes"])
                    for r in body["PartyBallotResults"]]
    councillors = [(c["WardID"], c["Name"], c["PartyName"]) for c in gen.iec_payload(
        seed, _url("/api/v1/CouncilorsByEvent", "&ProvinceID=1"))]
    seats = []
    for p, m in con.sql("SELECT ProvinceID, MunicipalityID FROM munis").fetchall():
        body = gen.iec_payload(seed, _url("/api/v1/LGESeatCalculationResults",
                                          f"&ProvinceID={p}&MunicipalityID={m}"))
        seats += [(body["MunicipalityID"], r["Name"], r["WardSeats"], r["PRSeats"])
                  for r in body["PartyResults"]]
    for name, cols, rows in (
            ("ballots", ("WardID", "Name", "TotalValidVotes"), ballots),
            ("councillors", ("WardID", "Name", "PartyName"), councillors),
            ("seats", ("MunicipalityID", "Name", "WardSeats", "PRSeats"), seats)):
        con.from_arrow(pa.table({c: [r[i] for r in rows]
                                 for i, c in enumerate(cols)})).create(name)

    out = {}
    for name, sql in EXPECTED_SQL.items():
        out[name] = sorted(tuple("" if v is None else str(v) for v in r)
                           for r in con.sql(sql).fetchall())
    con.close()
    return out


def check_csv(path: str, header: list[str], expected: list[tuple[str, ...]]) -> str | None:
    with open(path, newline="", encoding="utf-8") as fh:
        got = list(csv.reader(fh))
    if not got or got[0] != header:
        return f"header {got[:1]} != {header}"
    rows = sorted(tuple(r) for r in got[1:])
    if len(rows) != len(expected):
        return f"rowcount csv={len(rows)} expected={len(expected)}"
    if rows != expected:
        diff = next((a, b) for a, b in zip(rows, expected) if a != b)
        return f"row mismatch, first: csv={diff[0]} expected={diff[1]}"
    return None
