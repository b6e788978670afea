"""The nine reference pipelines as declarative DataFrame DAGs.

Each function re-expresses one SANEF_Uploader.py pipeline (SURVEY.md §2.12)
as a pure composition of the §2 operator library, parameterized by its
input DataFrames (facts/dims/fetched payloads), so tests inject
reference-shaped fixtures (FIXTURES.md §1-2) and production injects
JDBC/REST sources. Output schemas follow the dashboard contract
(FIXTURES.md §3) exactly.

Key rewrites vs the reference (documented, intentional — SURVEY.md §4.2):
- N+1 per-ward query loops -> single joins (J7).
- two-groupby-then-merge -> one grouped aggregation (J3).
- per-row dimension lookups -> broadcast joins (J5/J6).
- implicit input-order dedup/concat -> explicit ordering (A8/A9/A10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..functions.maps import recode_map
from ..operators import relational as R

# ProvinceID -> province code recode (SANEF_Uploader.py:226, :281, :348).
PROVINCE_CODES = {"9": "WC", "8": "NW", "7": "LIM", "6": "NC", "5": "MP",
                  "4": "KZN", "3": "GT", "2": "FS", "1": "EC"}

# REST payload schemas (FIXTURES.md §2; duck-typed in the reference :78-84).
BALLOT_SCHEMA = StructType([
    StructField("WardID", StringType()),
    StructField("PartyBallotResults", ArrayType(StructType([
        StructField("Name", StringType()),
        StructField("TotalValidVotes", LongType()),
    ]))),
])
COUNCILLOR_SCHEMA = ArrayType(StructType([
    StructField("WardID", StringType()),
    StructField("Name", StringType()),
    StructField("PartyName", StringType()),
]))
SEAT_SCHEMA = StructType([
    StructField("MunicipalityID", IntegerType()),
    StructField("PartyResults", ArrayType(StructType([
        StructField("Name", StringType()),
        StructField("WardSeats", IntegerType()),
        StructField("PRSeats", IntegerType()),
    ]))),
])


def _recode_province(df: DataFrame, col: str = "ProvinceID") -> DataFrame:
    """E3+E4: int -> str cast, then dict recode (unmatched -> NULL)."""
    return df.withColumn(col, recode_map(F.col(col).cast("string"), PROVINCE_CODES))


# --------------------------------------------------------------------------
# check_completed_wards (SANEF_Uploader.py:383-417) — the J4 showcase
# --------------------------------------------------------------------------


def completed_wards(ee_voting_districts: DataFrame,
                    voting_district_votes: DataFrame, wards: DataFrame,
                    ee_id: int = 1091, delim_id: int = 78) -> DataFrame:
    """Wards (delimitation `delim_id`) with no zero-vote voting district:
    wards ⋉ EE_VotingDistricts(delim) ▷ unfinished, where `unfinished` is
    agg -> HAVING 0. The reference ships this as one nested SQL string
    (:385-401) that DISTINCTs both sides of the anti-join and then joins
    the wards dim; here the wards dim is the left side throughout, so no
    DISTINCT is needed: a semi-join returns each `wards` row at most once
    and an anti-join ignores duplicates on its right side. The rows and
    their multiplicity are the reference's (a `WardID` repeated in
    `wards` still comes out once per `wards` row; NULL keys match
    nothing). Both right sides are ward-id sets, bounded by the country's
    voting districts, and are broadcast by hint, since a JDBC scan has no
    size estimate: the only exchange is the one under the vote-sum agg."""
    unfinished = R.having_eq(
        voting_district_votes.filter(F.col("fklEEId") == ee_id),
        ["fklWardId", "fklVotingDistrict"],
        F.sum("lTotalVotesCast"), "VDTotalVotesCast", 0,
    ).select(F.col("fklWardId").alias("WardID"))
    in_delim = (ee_voting_districts.filter(F.col("pkfklDelimID") == delim_id)
                .select(F.col("fklWardId").alias("WardID")))
    return (R.anti_join(R.semi_join(wards, F.broadcast(in_delim), "WardID"),
                        F.broadcast(unfinished), "WardID")
            .select("ProvinceID", "MunicipalityID", "WardID"))


# --------------------------------------------------------------------------
# The nine dashboard pipelines
# --------------------------------------------------------------------------


def ward_votes_by_party(ballots: DataFrame) -> DataFrame:
    """1378 (:427-444): fetched ballot payloads -> explode -> project.
    `ballots` carries a `payload` BALLOT_SCHEMA struct per ward."""
    return (ballots
            .select(F.col("payload.WardID").alias("Geography"),
                    F.explode("payload.PartyBallotResults").alias("r"))
            .select("Geography",
                    F.col("r.Name").alias("Party"),
                    F.col("r.TotalValidVotes").alias("Count")))


def voter_turnout(vd_stats: DataFrame, completed: DataFrame,
                  ee_id: int = 1091) -> DataFrame:
    """1386 (:450-495): de-looped J7 join + per-ward agg + stack.

    Faithful two-level aggregation: the reference's SQL groups by
    (ward, lRegisteredVoters) summing turnout (:468), then `tvoters` /
    `tvotes` sum over that frame's rows (:471-472) — so a ward with
    several distinct registered-voter values (a data anomaly) contributes
    the SUM of the distinct values, and the drop_duplicates (:474) keeps
    one output row per ward. Same shape here, minus the per-ward loop."""
    lvl1 = (R.semi_join(
        vd_stats.filter(F.col("pkfklEEID") == ee_id),
        completed.select(F.col("WardID").alias("fklWardID")), "fklWardID")
        .groupBy("fklWardID", "lRegisteredVoters")
        .agg(F.sum("lVoterTurnout").alias("votes")))
    per_ward = (lvl1.groupBy("fklWardID")
                .agg(F.sum("votes").alias("tvotes"),
                     F.sum("lRegisteredVoters").alias("tvoters")))
    return R.stack_pairs(
        per_ward.withColumnRenamed("fklWardID", "Geography"),
        ["Geography"],
        [("Voted", F.col("tvotes")),
         ("Didn't Vote", F.col("tvoters") - F.col("tvotes"))],
        "Voter Turnout", "Count")


def ward_votes_by_candidate(ward_candidates: DataFrame,
                            completed: DataFrame, ee_id: int = 1091) -> DataFrame:
    """1379 (:94-124): per-ward candidate rows, party - candidate concat.
    One join replaces the reference's per-ward query loop (:110-114)."""
    wc = ward_candidates.filter(F.col("fklEEId") == ee_id)
    joined = R.semi_join(wc, completed.select(
        F.col("WardID").alias("fklWardId")), "fklWardId")
    return joined.select(
        F.col("WardID").alias("Geography"),
        F.concat_ws(" - ", "PartyName", "CandidateName").alias("Party"),
        F.col("Votes").alias("Count"))


def ward_councillor_elected(councillors: DataFrame) -> DataFrame:
    """1382 (:133-148): councillor payloads -> Name - Party contents,
    first-wins dedup per ward. The reference's O(n²) membership scan
    (:144-147) becomes a keyed keep-first dedup; first-wins order is the
    (Name, PartyName) sort — explicit, unlike the fetch-completion order."""
    rows = (councillors
            .select(F.explode("payload").alias("c"))
            .select(F.col("c.WardID").alias("Geography"),
                    F.concat_ws(" - ", "c.Name", "c.PartyName").alias("Contents")))
    return R.dedup_keep_first(rows, ["Geography"], [F.col("Contents").asc()])


def pr_votes_by_party(ward_results: DataFrame, completed: DataFrame,
                      ee_id: int = 1091) -> DataFrame:
    """1380 (:155-184): PR ballot rows per completed ward."""
    wr = ward_results.filter(F.col("fklEEId") == ee_id)
    joined = R.semi_join(wr, completed.select(
        F.col("WardID").alias("fklWardId")), "fklWardId")
    return joined.select(
        F.col("WardID").alias("Geography"),
        F.col("PartyName").alias("Party"),
        F.col("Votes").alias("Count"))


def seats_won(seat_payloads: DataFrame, munis: DataFrame) -> DataFrame:
    """1383 (:559-602): null-drop -> explode PartyResults -> muni code
    lookup (broadcast, replaces the per-row .loc at :580) -> Ward/PR stack."""
    exploded = (seat_payloads
                .na.drop(subset=["payload"])
                .select(F.col("payload.MunicipalityID").alias("MunicipalityID"),
                        F.explode("payload.PartyResults").alias("p")))
    with_geo = R.dim_join(exploded, munis.select("MunicipalityID", "Municipality"),
                          "MunicipalityID")
    base = with_geo.select(
        F.col("Municipality").alias("Geography"),
        F.col("p.Name").alias("Party Name"),
        F.col("p.WardSeats").alias("ward_seats"),
        F.col("p.PRSeats").alias("pr_seats"))
    return R.stack_pairs(
        base, ["Geography", "Party Name"],
        [("Ward", F.col("ward_seats")), ("PR", F.col("pr_seats"))],
        "Seat Type", "Count")


def hung_councils(council_winners: DataFrame, munis: DataFrame,
                  ee_id: int = 1091) -> DataFrame:
    """1384 (:192-248): scan winners -> broadcast muni join -> province
    recode -> fused sum+count (J3 rewrite) -> Hung/Outright stack."""
    cw = council_winners.filter(F.col("fklEEID") == ee_id)
    joined = R.dim_join(cw, munis,
                        cw.fklMunicipalityID == munis.MunicipalityID)
    recoded = _recode_province(joined)
    agg = R.grouped_sum_count(recoded, ["ProvinceID"], F.col("bHung"),
                              "hung", "total")
    return R.stack_pairs(
        agg.withColumnRenamed("ProvinceID", "Geography"),
        ["Geography"],
        [("Hung", F.col("hung")),
         ("Outright Majority", F.col("total") - F.col("hung"))],
        "Councils", "Count")


def councils_won_by_party(council_winners: DataFrame, party: DataFrame,
                          munis: DataFrame, ee_id: int = 1091) -> DataFrame:
    """1385 (:306-360): winners with an outright majority (bHung = 0),
    joined to munis + party dims, counted by (province, party)."""
    cw = council_winners.filter((F.col("bHung") == 0) & (F.col("fklEEID") == ee_id))
    joined = R.dim_join(cw, munis, cw.fklMunicipalityID == munis.MunicipalityID)
    joined = R.dim_join(joined, party,
                        joined.fklPartyID == party.pklPartyID)
    recoded = _recode_province(joined)
    return (recoded.groupBy(F.col("ProvinceID").alias("Geography"),
                            F.col("sPartyName").alias("Party"))
            .agg(F.count(F.lit(1)).alias("Count")))


def list_of_hung_councils(council_winners: DataFrame, munis: DataFrame,
                          ee_id: int = 1091) -> DataFrame:
    """1424 (:255-299): hung councils per province as an ordered HTML list.
    pandas iterates rows in input order; here the <li> items are ordered by
    municipality code (A10 determinism note, SURVEY.md §7 risk b)."""
    cw = council_winners.filter((F.col("bHung") == 1) & (F.col("fklEEID") == ee_id))
    joined = R.dim_join(cw, munis, cw.fklMunicipalityID == munis.MunicipalityID)
    recoded = _recode_province(joined)
    li = F.format_string(
        "<li><a href = https://sanef-local-gov.openup.org.za/#geo:%s>%s - %s </a> </li>",
        "Municipality", "Municipality", "MunicipalityName")
    out = R.grouped_ordered_concat(
        recoded, "ProvinceID", li, F.col("Municipality"), "Contents",
        prefix="<ul>", suffix="</ul>")
    return out.withColumnRenamed("ProvinceID", "Geography")


def admit_increment(corpus: DataFrame, new: DataFrame,
                    min_tokens: int = 5) -> DataFrame:
    """The incremental-training admission pipeline as a PURE
    (corpus, new) -> admitted function (§7 delta path; the registry
    entry pipe_incremental_ingest wraps it): snapshot_diff narrows the
    next crawl to added/changed docs, a token-count gate drops shorts,
    and a normalized-fingerprint anti-join against the STANDING corpus
    rejects re-encodes of anything already seen. Output
    (doc_id, status, n_tokens).

    Being a pure DataFrame function is what makes the streaming twin
    free (streaming/pipelines.py doctrine): run it per micro-batch over
    the arriving slice of `new` in foreachBatch and the UNION of the
    per-batch outputs equals the one-shot batch run, because every stage
    is per-doc-key local — the diff join touches only the batch's keys,
    the gate is per-row, and the corpus-fingerprint side is static.
    That equivalence is property-tested in
    tests/test_streaming.py::test_incremental_ingest_stream_equals_batch.
    """
    from ..operators import relational as RL
    from ..operators.text import fingerprint

    d = RL.snapshot_diff(corpus.select("doc_id", "text"), new,
                         key="doc_id", cols=["text"])
    delta = d.filter(F.col("status").isin("added", "changed"))
    cand = (new.join(delta, "doc_id")
            .select("doc_id", "status", "text",
                    F.size(F.split(F.trim("text"), r"\s+"))
                    .cast("long").alias("n_tokens")))
    corpus_fp = corpus.select(fingerprint(F.col("text")).alias("fp")) \
        .distinct()
    admitted = (cand.filter(F.col("n_tokens") >= min_tokens)
                .join(corpus_fp,
                      fingerprint(F.col("text")) == F.col("fp"),
                      "left_anti"))
    return admitted.select("doc_id", "status", "n_tokens")
