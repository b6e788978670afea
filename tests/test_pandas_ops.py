"""UDF-tier operator tests (operators/pandas_ops.py)."""

from sanef_election_dashboard_etl_spark.operators.pandas_ops import tokens_per_char


def test_scalar_pandas_udf(spark):
    df = spark.createDataFrame([(1, "ab cd"), (2, ""), (3, "x")],
                               "id long, text string")
    got = {r["id"]: r["d"] for r in
           df.select("id", tokens_per_char("text").alias("d")).collect()}
    assert got[1] == 2 / 5
    assert got[2] == 0.0
    assert got[3] == 1.0


def test_udtf_chunking_covers_every_token_once(spark):
    from sanef_election_dashboard_etl_spark.operators.pandas_ops import (
        ChunkDocument,
    )

    spark.udtf.register("chunk_document_t", ChunkDocument)
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "solo"), (3, "   "), (4, None)],
        "doc_id long, text string")
    df.createOrReplaceTempView("udtf_t_docs")
    rows = spark.sql("""
        SELECT d.doc_id, c.chunk_index, c.chunk_text, c.n_tokens
        FROM udtf_t_docs d, LATERAL chunk_document_t(d.text, 4) c
    """).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 10 tokens at size 4 -> chunks of 4, 4, 2; concatenation restores doc
    one = sorted(by_doc[1], key=lambda r: r["chunk_index"])
    assert [r["n_tokens"] for r in one] == [4, 4, 2]
    assert " ".join(r["chunk_text"] for r in one) == "a b c d e f g h i j"
    assert [r["n_tokens"] for r in by_doc[2]] == [1]
    # empty / null docs generate no rows
    assert 3 not in by_doc and 4 not in by_doc
