"""JDBC tests — option contracts for the SQL Server production shape, a
LIVE end-to-end round trip over embedded Derby (the JDBC driver that
ships inside the Spark distribution itself, so S2-S3 traverse a real
java.sql connection), and the applyInPandasWithState streaming round
trip."""

from sanef_election_dashboard_etl_spark.sources.jdbc import JdbcSource


def _src():
    return JdbcSource("jdbc:sqlserver://db;databaseName=LED", user="u",
                      password="p", driver="com.microsoft.sqlserver.jdbc.SQLServerDriver")


def test_jdbc_table_options():
    opts = _src().reader_options(dbtable="PCR_Party")
    assert opts["dbtable"] == "PCR_Party"
    assert opts["url"].startswith("jdbc:sqlserver://")
    assert opts["fetchsize"] == "10000"


def test_jdbc_live_round_trip_derby(spark, tmp_path):
    """S2-S3 over a real JDBC connection (embedded Derby —
    org.apache.derby ships in pyspark/jars, no network needed): the
    reference's data-access shape (SANEF_Uploader.py:112, :208,
    :385-401) as a whole-table scan and predicate pushdown into the
    remote WHERE (asserted in the physical plan)."""
    url = f"jdbc:derby:{tmp_path}/led;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id int, name string, val int",
    ).write.format("jdbc").options(url=url, dbtable="people",
                                   driver=drv).mode("overwrite").save()
    src = JdbcSource(url=url, driver=drv)

    # S2: whole table
    out = src.table(spark, "people")
    assert out.count() == 3

    # S3: predicate + projection pushed into the JDBC scan
    flt = out.filter(out.val > 15).select("id", "name")
    assert sorted(tuple(r) for r in flt.collect()) == [(2, "b"), (3, "c")]
    plan = flt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThan(val,15)" in plan


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """Two micro-batches through applyInPandasWithState: state carries the
    first batch's totals into the second."""
    from sanef_election_dashboard_etl_spark.streaming.stateful import running_totals

    src = tmp_path / "src"
    src.mkdir()
    schema = "event_id long, event_type string, value double"
    b1 = spark.createDataFrame([(1, "click", 1.0), (2, "view", 5.0)], schema)
    b1.coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", "1").parquet(str(src))
    q = (running_totals(stream).writeStream.format("memory")
         .queryName("running").outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
        b2 = spark.createDataFrame([(3, "click", 2.0)], schema)
        b2.coalesce(1).write.mode("append").parquet(str(src))
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM running").collect()
        latest = {}
        for r in rows:  # update mode appends; last write per key wins
            latest[r["event_type"]] = (r["n_events"], r["total_value"])
        assert latest["click"] == (2, 3.0)
        assert latest["view"] == (1, 5.0)
    finally:
        q.stop()
