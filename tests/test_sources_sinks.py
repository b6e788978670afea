"""Source/sink adapter tests (SURVEY.md §2.1): REST fetch via mapInPandas
with an injected offline fetcher, CSV sinks, HTTP upload adapter."""

import csv
import json
import os

from sanef_election_dashboard_etl_spark import sinks
from sanef_election_dashboard_etl_spark.plans.pipelines import BALLOT_SCHEMA
from sanef_election_dashboard_etl_spark.sources.files import read_csv_dim
from sanef_election_dashboard_etl_spark.sources.rest import RestSource, fetch_json

from .conftest import fake_fetcher_from_dict, rows


def test_rest_source_fetch_parse_and_error_surface(spark):
    responses = {
        "https://api.test/ward/W1": {
            "WardID": "W1",
            "PartyBallotResults": [{"Name": "ANC", "TotalValidVotes": 100}]},
        "https://api.test/ward/W2": {
            "WardID": "W2",
            "PartyBallotResults": [{"Name": "DA", "TotalValidVotes": 60}]},
    }
    src = RestSource("https://api.test/ward/{}", BALLOT_SCHEMA,
                     fake_fetcher_from_dict(responses))
    keys = spark.createDataFrame([("W1",), ("W2",), ("W404",)], "ward string")
    out = src.fetch(keys, "ward")
    got = {r["ward"]: r for r in out.collect()}
    assert got["W1"]["payload"]["WardID"] == "W1"
    assert got["W1"]["error"] is None
    assert got["W2"]["payload"]["PartyBallotResults"][0]["TotalValidVotes"] == 60
    # failures surface as an error column, not silent drops (vs reference :43-46)
    assert got["W404"]["payload"] is None
    assert "KeyError" in got["W404"]["error"]


def test_rest_fetches_overlap_inside_one_partition(spark):
    """One fetch partition, 16 slow URLs: the fetcher runs on several
    threads at once, rows keep their input order (later URLs finish
    first) and one failing URL still yields its own error row."""
    def fetch(url):
        import threading
        import time

        i = int(url[1:])
        time.sleep(0.2 + 0.005 * (15 - i))
        if i == 5:
            raise RuntimeError(f"boom {url}")
        return json.dumps({"url": url, "thread": threading.get_ident()})

    urls = [f"u{i:02d}" for i in range(16)]
    params = spark.createDataFrame([(u,) for u in urls], "url string").coalesce(1)
    out = fetch_json(params, "url", "url string, thread long", fetch,
                     parallelism=1).collect()
    assert [r["url"] for r in out] == urls
    bad = out[5]
    assert bad["payload"] is None and bad["error"] == "RuntimeError: boom u05"
    good = [r for r in out if r["url"] != "u05"]
    assert all(r["error"] is None and r["payload"]["url"] == r["url"] for r in good)
    assert len({r["payload"]["thread"] for r in good}) > 1


def test_csv_dim_source_schema_explicit(spark, tmp_path):
    p = tmp_path / "dim.csv"
    p.write_text("ProvinceID,MunicipalityID,WardID\n1,101,10100001\n")
    df = read_csv_dim(spark, str(p),
                      schema="ProvinceID int, MunicipalityID int, WardID long")
    assert df.dtypes == [("ProvinceID", "int"), ("MunicipalityID", "int"),
                         ("WardID", "bigint")]
    assert rows(df) == [(1, 101, 10100001)]


def test_write_csv_single(spark, tmp_path):
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    path = str(tmp_path / "out" / "result.csv")
    sinks.write_csv_single(df, path)
    with open(path) as fh:
        got = sorted(tuple(r) for r in csv.reader(fh))
    assert ("k", "v") in got and ("a", "1") in got and ("b", "2") in got


def test_write_csv_single_parallel_preserves_sort_order(spark, tmp_path):
    """The sink collects in partition order, so a sorted multi-partition
    frame must land globally sorted under one header line."""
    df = (spark.range(0, 1000)
          .selectExpr("id", "cast(id % 7 as string) as grp")
          .orderBy("id"))
    path = str(tmp_path / "sorted.csv")
    sinks.write_csv_single(df, path)
    with open(path) as fh:
        rows_ = list(csv.reader(fh))
    assert rows_[0] == ["id", "grp"]
    ids = [int(r[0]) for r in rows_[1:]]
    assert ids == sorted(ids) and len(ids) == 1000


def test_write_csv_single_matches_pandas_to_csv(spark, tmp_path):
    """Same bytes as the reference's `to_csv(index=False)`: leading and
    trailing spaces kept, embedded quotes doubled, commas and newlines
    quoted, NULL as an empty field; and the file reads back unchanged."""
    import pandas as pd

    texts = ["  padded ", 'say "hi"', "a,b", "line1\nline2", "", None]
    data = [(t, i) for i, t in enumerate(texts)]
    df = spark.createDataFrame(data, "s string, n bigint")
    path = str(tmp_path / "quoting.csv")
    assert sinks.write_csv_single(df, path) == path
    want = pd.DataFrame(data, columns=["s", "n"]).to_csv(index=False)
    with open(path, "rb") as fh:
        assert fh.read() == want.encode("utf-8")
    with open(path, newline="") as fh:
        back = list(csv.reader(fh))
    assert back == [["s", "n"]] + [[t or "", str(i)] for t, i in data]


def test_write_csv_single_empty_frame_writes_header_only(spark, tmp_path):
    df = spark.createDataFrame([], "Geography string, Count bigint")
    path = str(tmp_path / "empty.csv")
    sinks.write_csv_single(df, path)
    with open(path, "rb") as fh:
        assert fh.read() == b"Geography,Count\n"


def test_upload_http_adapter_injectable(tmp_path):
    p = tmp_path / "f.csv"
    p.write_text("x\n1\n")
    calls = []

    def poster(url, path, meta, token):
        calls.append((url, path, meta, token))
        return {"status": 201}

    out = sinks.upload_http(str(p), "https://dash.test", 1384, "tok",
                            poster=poster)
    assert out == {"status": 201}
    assert calls[0][0] == "https://dash.test/api/v1/datasets/1384/upload/"
    # default payload must be the reference's exact form dict
    # (SANEF_Uploader.py:61: payload = {'update': True, 'overwrite': True})
    assert calls[0][2] == {"update": True, "overwrite": True}


def test_timestamped_name_shape():
    name = sinks.timestamped_name("hung_councils-")
    assert name.startswith("hung_councils-") and name.endswith(".csv")


def test_multipart_form_body(tmp_path):
    # the default (no-poster) upload path must produce the reference API's
    # expected body: form fields update/overwrite + a named 'file' part
    # (SANEF_Uploader.py:60-63), not raw CSV bytes
    p = tmp_path / "up.csv"
    p.write_text("x\n1\n")
    body = sinks.multipart_form(str(p), {"update": True, "overwrite": True},
                                "BOUND")
    text = body.decode()
    assert 'Content-Disposition: form-data; name="update"\r\n\r\nTrue' in text
    assert 'Content-Disposition: form-data; name="overwrite"\r\n\r\nTrue' in text
    assert ('Content-Disposition: form-data; name="file"; '
            'filename="up.csv"') in text
    assert "x\n1\n" in text
    assert text.endswith("--BOUND--\r\n")


def test_partitioned_parquet_write_prunes_partitions(spark, tmp_path):
    """Hive-partitioned layout: a filter on the partition column must
    become a PartitionFilter (planner skips whole directories — the
    coarse-grained sibling of z-order's row-group pruning)."""
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i, ["en", "es", "de"][i % 3], f"doc {i}") for i in range(300)],
        "doc_id long, lang string, text string")
    path = str(tmp_path / "parts")
    df.write.partitionBy("lang").mode("overwrite").parquet(path)

    scan = spark.read.parquet(path).filter(F.col("lang") == "en")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "lang" in plan.split(
        "PartitionFilters")[1][:80]
    # and the pruned read returns exactly the one partition
    assert scan.count() == 100


def test_partitioned_write_helper_prunes_and_single_file_per_dir(
        spark, tmp_path):
    """layout.partitioned_write: the pre-shuffle on the partition key
    must yield ONE file per directory (not one per input task), and a
    literal predicate must confine inputFiles to the matching dir."""
    import pyspark.sql.functions as F

    from sanef_election_dashboard_etl_spark.operators.layout import \
        partitioned_write

    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 5:02d}", i * 10) for i in range(200)],
        "id long, day string, v long").repartition(4)
    path = partitioned_write(df, str(tmp_path / "bydate"), ["day"])
    import glob
    import os
    for d in glob.glob(os.path.join(path, "day=*")):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)
    scan = spark.read.parquet(path).filter(F.col("day") == "2024-01-03")
    assert scan.count() == 40
    plan = scan._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1][:120]
    assert "2024-01-03" in pf          # literal prunes at planning time
    # directory-level pruning, runtime-metric-proven: the scan node must
    # have READ exactly one of the five day files
    scan.collect()
    leaves = scan._jdf.queryExecution().executedPlan().collectLeaves()
    n_files = next(leaves.apply(i).metrics().apply("numFiles").value()
                   for i in range(leaves.size())
                   if leaves.apply(i).metrics().contains("numFiles"))
    assert n_files == 1


def test_partitioned_write_dynamic_overwrite_replaces_only_touched_day(
        spark, tmp_path):
    """Daily re-ingest idiom: overwriting with a batch that only holds
    day 2 must leave every other day's directory intact."""
    import pyspark.sql.functions as F

    from sanef_election_dashboard_etl_spark.operators.layout import \
        partitioned_write

    base = spark.createDataFrame(
        [(i, f"d{i % 3}", "old") for i in range(30)],
        "id long, day string, tag string")
    path = partitioned_write(base, str(tmp_path / "dyn"), ["day"])
    patch = spark.createDataFrame(
        [(100 + i, "d1", "new") for i in range(5)],
        "id long, day string, tag string")
    partitioned_write(patch, path, ["day"])
    back = spark.read.parquet(path)
    got = {r["day"]: r["n"] for r in
           back.groupBy("day").agg(F.count("*").alias("n")).collect()}
    assert got == {"d0": 10, "d1": 5, "d2": 10}
    assert back.filter(F.col("tag") == "old").count() == 20


def test_merge_schema_reads_evolving_partitions(spark, tmp_path):
    """Schema drift tolerance: a later ingest adds a column; mergeSchema
    unions the schemas (old rows -> NULL), and a reader pinned to the
    OLD projection still prunes the new column entirely."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string") \
        .write.mode("append").parquet(path)
    spark.createDataFrame([(2, "b", 9.5)],
                          "id long, v string, score double") \
        .write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "v", "score"}
    got = {r["id"]: r["score"] for r in merged.collect()}
    assert got == {1: None, 2: 9.5}

    # legacy projection: the added column never reaches the scan
    legacy = merged.select("id", "v")
    plan = legacy._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema: struct<id:bigint,v:string>" in plan


def test_permissive_csv_carries_corrupt_records(spark, tmp_path):
    """Ingest robustness: malformed CSV rows land in the
    _corrupt_record column under PERMISSIVE mode instead of failing the
    100 TB job (FAILFAST stays the dim-load default in sources.files —
    S1's dims are small and must be perfect; crawled feeds are not)."""
    p = tmp_path / "feed.csv"
    p.write_text("id,qty\n1,10\n2,notanumber\n3,30\n")
    df = (spark.read
          .schema("id int, qty int, _corrupt_record string")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .option("header", "true").csv(str(p)))
    rows = {r["id"]: (r["qty"], r["_corrupt_record"]) for r in df.collect()}
    assert rows[1] == (10, None) and rows[3] == (30, None)
    assert rows[2][0] is None and "notanumber" in rows[2][1]


def test_jsonl_roundtrip_and_failfast(spark, tmp_path):
    """write_jsonl -> read_jsonl round-trips values exactly; a malformed
    line kills the job (FAILFAST)."""
    from pyspark.sql.types import (LongType, StringType, StructField,
                                   StructType)

    from sanef_election_dashboard_etl_spark.sinks import write_jsonl
    from sanef_election_dashboard_etl_spark.sources.files import read_jsonl

    df = spark.createDataFrame(
        [(1, "hello é世 world"), (2, 'quotes " and \\ slashes')],
        "doc_id long, text string")
    path = str(tmp_path / "out")
    write_jsonl(df, path, n_files=2)
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("text", StringType())])
    back = read_jsonl(spark, path, schema)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "a.jsonl").write_text(
        '{"doc_id": 1, "text": "ok"}\nnot json at all\n'
        '{"doc_id": 2, "text": "fine"}\n')
    import pytest as _pytest
    strict = read_jsonl(spark, str(feed), schema)
    with _pytest.raises(Exception):
        strict.collect()


def test_dataset_fingerprint_semantics(spark):
    from sanef_election_dashboard_etl_spark.operators.profile import (
        dataset_fingerprint)
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, t string")
    dup = spark.createDataFrame([(1, "x"), (2, "y"), (1, "x")],
                                "id long, t string")
    fa = dataset_fingerprint(a).collect()[0]
    fd = dataset_fingerprint(dup).collect()[0]
    # duplicate-row multiplicity: xor cancels the repeated row back to
    # the OTHER row's hash, sum moves — the documented localization
    assert fa["sum_fp"] != fd["sum_fp"]
    assert fa["xor_fp"] != fd["xor_fp"] or fa["n_rows"] != fd["n_rows"]
    # order/partitioning independence
    fb = dataset_fingerprint(a.repartition(7)).collect()[0]
    assert (fa["n_rows"], fa["xor_fp"], fa["sum_fp"]) == \
        (fb["n_rows"], fb["xor_fp"], fb["sum_fp"])
    # empty dataset folds to zeros, not nulls
    fe = dataset_fingerprint(a.filter("id < 0")).collect()[0]
    assert (fe["n_rows"], fe["xor_fp"], int(fe["sum_fp"])) == (0, 0, 0)
    assert fe["sum_fp_mod"] == 0
    # the bigint twin fold (VERDICT r5 item 1b): exact decimal sum
    # reduced mod 2^61 — consistent with the decimal column, inside
    # bigint range, and as partition-independent as the decimal
    for row in (fa, fd, fb):
        assert row["sum_fp_mod"] == int(row["sum_fp"]) % (1 << 61)
        assert 0 <= row["sum_fp_mod"] < (1 << 61)
    assert fa["sum_fp_mod"] == fb["sum_fp_mod"]


def test_avro_roundtrip_types(spark, tmp_path):
    """r8: pip PySpark bundles AvroFileFormat (no module jar) — the
    sources.files helpers must round-trip typed columns through the
    fully-qualified format, including arrays and timestamps (Avro
    logical type timestamp-micros)."""
    from pyspark.sql import functions as F

    from sanef_election_dashboard_etl_spark.sources.files import (
        read_avro, write_avro)

    df = spark.range(10).select(
        F.col("id"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("row"), F.col("id")).alias("s"),
        F.array(F.col("id"), F.col("id") + 1).alias("arr"),
        F.timestamp_micros((F.col("id") * 1_000_000).cast("long"))
         .alias("ts"))
    path = str(tmp_path / "avro_rt")
    write_avro(df, path)
    back = read_avro(spark, path)
    assert dict(back.dtypes) == dict(df.dtypes)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))


def test_values_df_matches_createdataframe_and_plans_local(spark):
    """values_df (r11): byte-identical schema+rows to createDataFrame but
    planned as LocalTableScan — no Python-RDD scan on literal subtrees."""
    from sanef_election_dashboard_etl_spark.sources.literal import values_df

    cases = [
        # strings incl. quote/backslash, NULL, negative long
        ([("it's", -7), ("a\\b", None)], "s string, n long"),
        # doubles must round-trip exactly; ints stay int
        ([(0.1, 3), (-2.5e-8, None)], "x double, y int"),
        # arrays of bigint (the bloom-words shape), incl. 2^62
        ([([1, 2, 1 << 62],), ([],)], "bloom_words array<bigint>"),
        # backticked names with spaces (the reset-row contracts)
        ([("None", "-", 0)],
         "Geography string, `Party Name` string, Count long"),
        ([(True,), (None,)], "b boolean"),
    ]
    for rows_in, schema in cases:
        a = spark.createDataFrame(
            rows_in, schema.replace("array<bigint>", "array<long>"))
        b = values_df(spark, rows_in, schema)
        assert a.schema == b.schema, schema
        assert a.collect() == b.collect(), schema
    plan = values_df(spark, [("q",)], "t string")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_parquet_schema_cache_rereads_a_rewritten_table(spark, tmp_path):
    """A repeated read takes the session's cached schema and gives the
    inferred read's schema and rows; a table rewritten at the same path
    with a new schema is inferred again."""
    from sanef_election_dashboard_etl_spark import catalog
    from sanef_election_dashboard_etl_spark.sources.files import read_parquet

    path = str(tmp_path / "t.parquet")
    (spark.range(20).selectExpr("id", "cast(id AS string) AS s", "id % 3 AS k")
     .write.partitionBy("k").parquet(path))
    inferred = read_parquet(spark, path)
    assert catalog._SCHEMAS[spark][os.path.realpath(path)][2] == inferred.schema
    cached = read_parquet(spark, path)
    assert cached.schema == inferred.schema == spark.read.parquet(path).schema
    assert rows(cached) == rows(spark.read.parquet(path))
    # each hit is a fresh reader, so a self-join resolves both sides
    assert cached.alias("a").join(read_parquet(spark, path).alias("b"), "id").count() == 20

    spark.range(5).selectExpr("id", "id * 1.5 AS x").write.mode("overwrite").parquet(path)
    again = read_parquet(spark, path)
    assert again.columns == ["id", "x"]
    assert rows(again) == rows(spark.read.parquet(path))


def test_parquet_schema_cache_follows_inference_confs(spark, tmp_path):
    import pandas as pd

    from sanef_election_dashboard_etl_spark.catalog import read_parquet

    path = str(tmp_path / "b.parquet")
    pd.DataFrame({"b": [b"x", b"yz"]}).to_parquet(path)
    key = "spark.sql.parquet.binaryAsString"
    assert dict(read_parquet(spark, path).dtypes)["b"] == "binary"
    spark.conf.set(key, "true")
    try:
        assert dict(read_parquet(spark, path).dtypes)["b"] == "string"
    finally:
        spark.conf.unset(key)
    assert dict(read_parquet(spark, path).dtypes)["b"] == "binary"
