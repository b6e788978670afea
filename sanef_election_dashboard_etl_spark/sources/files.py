"""File sources (SURVEY.md §2.1 S1, plus parquet).

The reference reads its dimension CSVs with inferred schemas
(SANEF_Uploader.py:33-36) — the engine is schema-explicit: every CSV gets
a declared StructType, because inference is the reference's biggest
correctness hazard (SURVEY.md §1.2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .. import catalog


def read_csv_dim(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """S1: header CSV with explicit schema (no inference pass — a full
    extra scan at 100 TB)."""
    return (spark.read.schema(schema)
            .option("header", True)
            .option("mode", "FAILFAST")
            .csv(path))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet with its schema inferred once per session
    (`catalog.read_parquet`)."""
    return catalog.read_parquet(spark, path)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Schema-explicit JSONL (newline-delimited JSON) ingest — the
    interchange format training-data pipelines exchange corpora in.
    Same discipline as read_csv_dim: a DECLARED schema, because
    inference costs a full extra scan at 100 TB and silently widens
    types between drops, and FAILFAST (a corpus load should die
    loudly). JSONL is splittable line-by-line, so a directory of .jsonl
    files parallelizes like CSV; pair with sinks.write_jsonl for
    round-trip export."""
    return (spark.read.schema(schema)
            .option("mode", "FAILFAST")
            .json(path))


# Fully-qualified fallback for the Avro connector: pip-distributed
# PySpark 4.x BUNDLES org.apache.spark.sql.avro.AvroFileFormat inside
# spark-sql (35 classes, probe r8) but ships no spark-avro module jar,
# so the ServiceLoader alias "avro" is unregistered and
# format("avro") throws the historical "external data source" error.
# The class itself loads and runs — name it explicitly and the full
# reader/writer works offline. On a cluster with the module deployed
# the short name resolves first, so behavior is identical.
AVRO_FORMAT_FQCN = "org.apache.spark.sql.avro.AvroFileFormat"


def _avro_format(spark: SparkSession) -> str:
    """Prefer the registered short name (real clusters with spark-avro
    deployed); fall back to the bundled FQCN (this sandbox's pip
    distribution)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001 — capability probe
            "org.apache.spark.sql.avro.AvroDataSourceV2")
        return "avro"
    except Exception:
        return AVRO_FORMAT_FQCN


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro ingest — the row-oriented interchange format Kafka/streaming
    drops arrive in. Splittable blocks parallelize like parquet; schema
    travels in the file (no inference scan). Column pruning applies;
    row-oriented storage means no predicate pushdown — land avro, but
    rewrite to parquet/ORC for the analytic tier."""
    return spark.read.format(_avro_format(spark)).load(path)


def write_avro(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Avro export for row-oriented consumers (streaming replays,
    schema-registry pipelines)."""
    df.write.format(_avro_format(df.sparkSession)).mode(mode).save(path)
