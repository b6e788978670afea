"""The benchmark's operations, one list per workload.

An operation is one user-visible unit of work: its plan build (a
registry function, or `cli.run_pipeline` with the inputs a CLI run
reads) followed by its sink (`sinks.write_csv_single`, or a `noop`
write). Every public function an operation calls is reached through its
module attribute, so a traced run can wrap it.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sanef_election_dashboard_etl_spark import cli, queries
from sanef_election_dashboard_etl_spark.sources import files, rest

from . import gen

ELECTION = cli.PIPELINES
# scan+aggregate, six-way join and anti-join; all with small outputs,
# because the warm-up collects each result for its DuckDB check.
# text_bm25_topk persists its inverted index through cache.scoped_persist,
# so the cache layer has work on this workload too. Four operations keep
# a run, with its two measured passes, inside the per-run time budget
# (README.md, "Run time").
OLAP = ("q1_pricing_summary", "q5_local_supplier_volume", "j4_anti_join",
        "text_bm25_topk")
CORPUS = ("dedup_jaccard_prefix", "dedup_simhash_arrow",
          "dedup_pagerank_centrality", "sim_topk_cosine", "sim_hybrid_rrf",
          "text_bm25_topk", "pipe_training_data_prep")

# fact tables each pipeline reads (cli.run_pipeline's `t(...)` calls)
_COMPLETED = ("EE_VotingDistricts", "LED_GIS_Display_VotingDistrict")
PIPELINE_TABLES = {
    "ward_votes_by_party": _COMPLETED,
    "voter_turnout": ("Fact_LGE_Master_VDStats",) + _COMPLETED,
    "ward_votes_by_candidate": ("LED_GIS_Display_Ward_WardCandidates",) + _COMPLETED,
    "ward_councillor_elected": (),
    "pr_votes_by_party": ("LED_GIS_Display_Ward",) + _COMPLETED,
    "seats_won": (),
    "hung_councils": ("LED_GIS_CouncilWinners",),
    "councils_won_by_party": ("LED_GIS_CouncilWinners", "PCR_Party"),
    "list_of_hung_councils": ("LED_GIS_CouncilWinners",),
}


@dataclass
class Op:
    name: str
    build: Callable[[], DataFrame]
    csv_path: str | None = None      # None: the op ends in a noop write


def _observed(df: DataFrame):
    """`df` observing (row count, order-insensitive row hash) in the job
    that consumes it, so every execution's output is checked."""
    obs = Observation()
    h = F.sum(F.pmod(F.xxhash64(*[df[c] for c in df.columns]), F.lit(2**31 - 1)))
    return df.observe(obs, F.count(F.lit(1)).alias("n"), h.alias("h")), obs


def noop_write(df: DataFrame) -> tuple:
    """`noop` sink; returns the output's observed fingerprint."""
    odf, obs = _observed(df)
    odf.write.format("noop").mode("overwrite").save()
    return obs.get["n"], obs.get["h"]


def observed_collect(df: DataFrame) -> tuple[list, tuple]:
    """The rows and observed fingerprint of one execution (warm-up)."""
    odf, obs = _observed(df)
    rows = [tuple(r) for r in odf.collect()]
    return rows, (obs.get["n"], obs.get["h"])


def election_ops(spark, data_dir: str, out_dir: str, fetcher) -> list[Op]:
    def build(name: str) -> Callable[[], DataFrame]:
        def run() -> DataFrame:
            munis = files.read_csv_dim(spark, os.path.join(data_dir, "Munis.csv"),
                                       cli.MUNIS_SCHEMA)
            wards = files.read_csv_dim(spark, os.path.join(data_dir, "Wards.csv"),
                                       cli.WARDS_SCHEMA)
            tables = {t: files.read_parquet(spark, os.path.join(data_dir, f"{t}.parquet"))
                      for t in PIPELINE_TABLES[name]}
            src = None
            if name in cli.REST_ENDPOINTS:
                path, schema = cli.REST_ENDPOINTS[name]
                src = rest.RestSource(
                    f"{cli.IEC_API}{path}?ElectoralEventID={gen.EE_ID}{{}}",
                    schema, fetcher=fetcher)
            return cli.run_pipeline(spark, name, tables=tables, rest=src,
                                    munis=munis, wards=wards, ee_id=gen.EE_ID,
                                    delim_id=gen.DELIM_ID)
        return run

    return [Op(n, build(n), os.path.join(out_dir, f"{n}.csv")) for n in ELECTION]


def registry_ops(spark, data_dir: str, names) -> list[Op]:
    def build(name: str) -> Callable[[], DataFrame]:
        return lambda: queries.REGISTRY[name].fn(spark, data_dir)
    return [Op(n, build(n)) for n in names]
