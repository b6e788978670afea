"""JDBC sources (SURVEY.md §2.1 S2-S5).

The reference pulls facts from SQL Server through pyodbc cursors with
hand-concatenated SQL strings (SANEF_Uploader.py:112, :208, :385-401).
Engine equivalents:

- S2 (whole table):      `JdbcSource(...).table(spark, "PCR_Party")`
- S3 (pushed predicate): `.table(...).filter(col("fklEEId") == 1091)` —
  Catalyst pushes equality/comparison conjunctions into the remote WHERE
  clause (JDBCRelation pushdown), which also eliminates the reference's
  SQL-injection-by-concatenation pattern.
- S4 (nested query):     re-expressed in DataFrame ops (plans/pipelines.py
  `completed_wards`) so Catalyst decides what to push.
- S5 (agg pushdown):     DSv2 JDBC aggregate pushdown where the dialect
  supports it; otherwise Spark computes the aggregate after the scan —
  correct either way.

Exercised END TO END over a real java.sql connection in
tests/test_jdbc_and_stateful.py::test_jdbc_live_round_trip_derby using
embedded Derby (the one JDBC driver that ships inside the Spark
distribution): whole-table scan and predicate pushdown asserted in the
physical plan (`PushedFilters: [GreaterThan(...)]`). SQL Server
specifics (the reference's engine) remain covered by the option-contract
tests — no sqlserver jar in this container.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class JdbcSource:
    """Connection spec: url like jdbc:sqlserver://host;databaseName=db."""

    url: str
    user: str | None = None
    password: str | None = None
    driver: str | None = None

    def reader_options(self, dbtable: str) -> dict[str, str]:
        """The exact option dict handed to spark.read.format('jdbc') —
        exposed separately so tests can assert it without a driver."""
        opts = {"url": self.url, "fetchsize": "10000"}
        if self.user is not None:
            opts["user"] = self.user
        if self.password is not None:
            opts["password"] = self.password
        if self.driver is not None:
            opts["driver"] = self.driver
        opts["dbtable"] = dbtable
        return opts

    def table(self, spark: SparkSession, dbtable: str) -> DataFrame:
        """S2/S3/S5: lazy scan of a remote table; chain .filter/.select and
        Catalyst pushes them down."""
        return spark.read.format("jdbc") \
            .options(**self.reader_options(dbtable)).load()
