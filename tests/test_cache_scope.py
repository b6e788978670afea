"""cache_scope() lifecycle hygiene (VERDICT r9 item 5): operator
persists taken inside a scope are released at scope exit — no net
increase in the context's persistent RDDs — while out-of-scope
behavior (persist until clearCache, the index-reuse architecture)
is unchanged."""

import os

import pytest
from pyspark.sql import functions as F

from sanef_election_dashboard_etl_spark.cache import cache_scope, scoped_persist


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture()
def corpus(spark):
    rows = [(i, f"alpha beta gamma delta doc{i} beta") for i in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_scope_releases_bm25_index(spark, corpus):
    spark.catalog.clearCache()
    queries = spark.createDataFrame(
        [(1, "alpha"), (1, "beta"), (2, "delta")],
        "query_id long, term string")
    base = _n_persisted(spark)
    with cache_scope() as scope:
        from sanef_election_dashboard_etl_spark.operators.text import bm25_topk
        out = bm25_topk(corpus, queries, k=5)
        assert out.count() > 0          # action inside the scope
        assert scope, "bm25 persist did not register with the scope"
        assert _n_persisted(spark) > base
    assert _n_persisted(spark) == base


def test_scope_releases_pagerank_caches(spark):
    spark.catalog.clearCache()
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3), (4, 5)],
        "id_a long, id_b long")
    base = _n_persisted(spark)
    with cache_scope():
        from sanef_election_dashboard_etl_spark.operators.dedup import pagerank
        pr = pagerank(pairs)
        assert pr.count() > 0
        assert _n_persisted(spark) > base
    assert _n_persisted(spark) == base


def test_nested_scopes_release_innermost_first(spark, corpus):
    spark.catalog.clearCache()
    base = _n_persisted(spark)
    with cache_scope() as outer:
        a = scoped_persist(corpus.select("doc_id"))
        a.count()
        mid = _n_persisted(spark)
        assert mid > base
        with cache_scope() as inner:
            b = scoped_persist(corpus.select("text"))
            b.count()
            assert _n_persisted(spark) > mid
            assert b in inner and b not in outer
        assert _n_persisted(spark) == mid  # inner released, outer intact
    assert _n_persisted(spark) == base


def test_no_scope_preserves_persist_until_clear(spark, corpus):
    spark.catalog.clearCache()
    base = _n_persisted(spark)
    df = scoped_persist(corpus.select("doc_id"))
    df.count()
    assert _n_persisted(spark) > base   # resident: out-of-scope contract
    spark.catalog.clearCache()
    assert _n_persisted(spark) == base


def test_scope_releases_on_exception(spark, corpus):
    spark.catalog.clearCache()
    base = _n_persisted(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with cache_scope():
            df = scoped_persist(corpus.withColumn("n", F.lit(1)))
            df.count()
            assert _n_persisted(spark) > base
            raise RuntimeError("boom")
    assert _n_persisted(spark) == base


def test_cli_main_runs_pipeline_inside_cache_scope(spark, monkeypatch,
                                                   tmp_path):
    """r11 (VERDICT r10 item 5): cli.main wraps the pipeline build AND
    the CSV write in one cache_scope, so any index a composed pipeline
    pins via scoped_persist is released when the run finishes — zero
    net persistent RDDs in a long-lived session. Proven by injecting a
    run_pipeline that persists its result the way the composed
    operators do: resident during the scoped write, gone after main."""
    import glob

    from sanef_election_dashboard_etl_spark import cli

    monkeypatch.chdir(tmp_path)
    for k, v in {"WAZI_ENDPOINT": "none", "WAZI_TOKEN": "t",
                 "DATASET_ID": "1384", "IEC_TOKEN": "t",
                 "IEC_ENDPOINT": "hung_councils", "DB_SERVER": "h",
                 "DB": "d", "DB_USERNAME": "u", "DB_PASSWORD": "p",
                 "RESET_DATASET": "reset"}.items():
        monkeypatch.setenv(k, v)
    spark.catalog.clearCache()
    base = _n_persisted(spark)
    real = cli.run_pipeline
    seen = {}

    def persisting(spark_, name, **kw):
        out = scoped_persist(real(spark_, name, **kw))
        out.count()     # materialize: the cache must be LIVE in-run
        seen["resident_during_run"] = _n_persisted(spark_) > base
        return out

    monkeypatch.setattr(cli, "run_pipeline", persisting)
    assert cli.main(["--from-env"]) == 0
    assert seen["resident_during_run"]
    assert _n_persisted(spark) == base     # released by main's scope
    assert glob.glob(str(tmp_path / "datasets" / "hung_councils-*.csv"))


def test_spread_cpu_scan_key_col_elides_downstream_agg_exchange(
        spark, tmp_path):
    """spread_cpu_scan(key_col=) (r12): the keyed spread must plan a
    hashpartitioning exchange on the key, and a downstream aggregate
    whose grouping keys are a superset of {key} must satisfy its
    distribution from it (no Exchange of its own) — the property the
    bm25/tfidf/shingle builds rely on. Round-robin default unchanged."""
    import pyspark.sql.functions as F

    from sanef_election_dashboard_etl_spark.catalog import spread_cpu_scan

    path = str(tmp_path / "docs.parquet")
    spark.range(200).selectExpr(
        "id AS doc_id", "concat('tok', id % 7, ' tok', id % 3) AS text"
    ).coalesce(1).write.parquet(path)
    src = spark.read.parquet(path)  # single tiny file => gate fires

    spread = spread_cpu_scan(src, key_col="doc_id")
    agg = (spread
           .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
           .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    plan = agg._sc._jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted")
    assert "hashpartitioning(doc_id" in plan
    # exactly one Exchange: the keyed spread; the (doc_id, tok) groupBy
    # must not add one
    n_exchanges = sum(1 for ln in plan.splitlines()
                      if ln.strip().startswith("(")
                      and ") Exchange" in ln)
    assert n_exchanges == 1, plan
    # values identical to the round-robin build
    rr = spread_cpu_scan(src)
    agg_rr = (rr.select("doc_id",
                        F.explode(F.split("text", " ")).alias("tok"))
              .groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf")))
    assert sorted(map(tuple, agg.collect())) == \
        sorted(map(tuple, agg_rr.collect()))


def test_persist_if_heavy_gates_on_source_size(spark, tmp_path):
    """persist_if_heavy (r11): a small file-backed source stays
    unpersisted (the fixture-scale A/B showed the fill costs more than
    the re-computed subtree), a source past the byte threshold persists
    and registers with the enclosing scope, and a non-file-backed plan
    persists unconditionally."""
    from sanef_election_dashboard_etl_spark.cache import persist_if_heavy

    spark.catalog.clearCache()
    path = str(tmp_path / "src.parquet")
    spark.range(100).selectExpr(
        "id AS doc_id", "concat('tok', id) AS text").write.parquet(path)
    src = spark.read.parquet(path)

    base = _n_persisted(spark)
    out = persist_if_heavy(src.select("doc_id"))
    out.count()
    assert _n_persisted(spark) == base, "small source must not persist"

    with cache_scope() as scope:
        out = persist_if_heavy(src.select("doc_id"), min_bytes=1)
        out.count()
        assert scope, "past-threshold persist must register with scope"
        assert _n_persisted(spark) > base
    assert _n_persisted(spark) == base

    with cache_scope() as scope:
        lit = spark.createDataFrame([(1,)], "x long")
        persist_if_heavy(lit).count()
        assert scope, "non-file-backed plan must persist unconditionally"
    assert _n_persisted(spark) == base


def test_input_bytes_restats_a_file_that_comes_back(tmp_path, monkeypatch):
    """A vanished input file gives None, and the next call stats the
    file again once it is back; a path-set with a remote URI gives None
    without statting anything."""
    from sanef_election_dashboard_etl_spark.catalog import input_bytes

    part = tmp_path / "part-0.parquet"
    files = [f"file://{part}"]
    assert input_bytes(files) is None
    part.write_bytes(b"x" * 123)
    assert input_bytes(files) == 123

    def no_stat(*args, **kwargs):
        raise AssertionError("a remote path-set was statted")

    monkeypatch.setattr(os, "stat", no_stat)
    assert input_bytes(["s3a://bucket/part-0.parquet"]) is None
    assert input_bytes([*files, "s3a://bucket/part-1.parquet"]) is None


def test_input_bytes_follows_a_file_rewritten_in_place(spark, tmp_path):
    """A parquet file rewritten at the same path is sized again."""
    from sanef_election_dashboard_etl_spark.catalog import input_bytes

    path = tmp_path / "t.parquet"
    spark.range(10).toPandas().to_parquet(path)
    files = spark.read.parquet(str(path)).inputFiles()
    assert input_bytes(files) == path.stat().st_size
    spark.range(5000).toPandas().to_parquet(path)
    assert spark.read.parquet(str(path)).inputFiles() == files
    assert input_bytes(files) == path.stat().st_size
