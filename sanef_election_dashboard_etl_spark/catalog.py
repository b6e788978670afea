"""Named-table catalog over the parquet fixtures.

The reference loads its two dimension CSVs eagerly at module import
(SANEF_Uploader.py:33-36) and pulls facts ad hoc through pyodbc cursors.
Here every table is a lazily-scanned DataFrame resolved by name from a
scale-factor directory (TESTDATA.md): Catalyst prunes columns and pushes
filters into the parquet scan, so "load" costs nothing until an action runs.
"""

from __future__ import annotations

import os
import stat
import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One named table as a lazy parquet scan.

    `events.ts` normalizes to session-zoned TimestampType (UTC) whatever
    the fixture's physical encoding — testdata generations have shipped
    both TIMESTAMP(NANOS) (arrives as long nanos under
    `spark.sql.legacy.parquet.nanosAsLong`, set by session.tune; integer
    `div` to micros — epoch nanos exceed double's 2^53 exact-integer
    range) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (arrives as
    TIMESTAMP_NTZ; reinterpreted as UTC instants, matching how the DuckDB
    oracle treats the same naive values)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    from pyspark.sql import functions as F

    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.to_timestamp(F.col("ts")))
    return df


# SQL confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# session -> real path -> (inference confs, file stamps, inferred schema)
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[str, tuple]] = \
    weakref.WeakKeyDictionary()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, inferring the schema once per session.

    Inference reads the footers over py4j: ~105 ms a read on a 4-CPU
    host, against ~16 ms with the schema supplied. A later read of the
    same real path, with the same inference confs and the same stamps
    (`_stamps`) gets the schema back and still builds a fresh reader:
    a cached DataFrame would share attribute ids and break self-joins.
    A path that is not a local file or directory (a remote URI, a glob)
    is read as it is."""
    local = _local_path(path)
    if local is None:
        return spark.read.parquet(path)
    real = os.path.realpath(local)
    try:
        stamps = _stamps(real)
    except OSError:  # no such path (a glob, or gone): Spark resolves it
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    schemas = _SCHEMAS.setdefault(spark, {})
    hit = schemas.get(real)
    if hit is not None and hit[:2] == (confs, stamps):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    schemas[real] = (confs, stamps, df.schema)
    return df


def _local_path(uri: str) -> str | None:
    """Filesystem path of a local path or `file:` URI; None if remote."""
    if uri.startswith("file:"):
        uri = uri[5:]
        while uri.startswith("//"):
            uri = uri[1:]
        return uri
    return None if "://" in uri else uri


def _stamps(path: str) -> tuple[tuple[str, int, int], ...]:
    """(path, size, mtime_ns) of `path` and of every entry below it.

    Rewriting, adding or removing a file changes the result; raises
    OSError when `path` is gone."""
    st = os.stat(path)
    out = [(path, st.st_size, st.st_mtime_ns)]
    dirs = [path] if stat.S_ISDIR(st.st_mode) else []
    while dirs:
        with os.scandir(dirs.pop()) as entries:
            for e in entries:
                st = e.stat()
                out.append((e.path, st.st_size, st.st_mtime_ns))
                if stat.S_ISDIR(st.st_mode):
                    dirs.append(e.path)
    return tuple(out)


def spread_cpu_scan(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """Adaptive repartition-after-read for CPU-heavy per-row work over
    under-parallel scans (optimization guide §2.5 "input skew: one huge
    unsplittable file ... repartition immediately after the read").

    Parquet scans parallelize at ROW-GROUP granularity: a single-row-group
    file is one task no matter how many cores the session has, so an
    expensive map stage (tokenize+hash, per-pair cosine, signature
    builds) downstream of a small/unsplittable input runs on one core of
    32 (r11 stage profile: dedup_minhash_lsh's shingle map = 433 ms on 1
    task; cosine_pairs = 850 ms on 1 task, twice). This helper inserts a
    round-robin repartition to the session parallelism ONLY when the
    scan is under-parallel: estimated scan tasks (input bytes / 128 MiB,
    floored at the file count) must be under half the target, which at
    production file counts/sizes is never true — the repartition is
    scale-adaptive by construction, not a local[32] constant, and the
    at-scale "corpus never shuffles" plan claims hold exactly where they
    matter. Callers apply it to the NARROW projection that feeds the
    expensive work, so the moved bytes are the columns the work needs.
    Deterministic under retries (sort-before-repartition, Spark default);
    every registry operator is partition-count-independent by the
    cross-engine determinism rules, so results are unchanged.

    `key_col` (r12, guide §2.4): hash-partition the spread on that
    column instead of round-robin. Same gate, same task count, same
    rows — but a downstream aggregate whose grouping keys form a
    SUPERSET of {key_col} then satisfies its ClusteredDistribution from
    the spread itself (HashPartitioning-subset rule, the same property
    the rrf fusion repartition exploits), so the aggregate's own
    Exchange is elided wherever the spread fires; and a keyed
    repartition skips round-robin's sort-before-repartition local
    sort. Use it when the expensive map stage feeds a groupBy keyed by
    the row's identity (bm25's (doc, dl, token) tf build, tfidf's
    (doc, token) tf build); keep round-robin when downstream keys
    don't include a per-input-row column (token/gram-keyed
    aggregates), where hash-by-key buys nothing and round-robin's
    exact evenness is preferable. Skew note: key_col must be
    fine-grained (a per-document id), never a low-cardinality
    attribute — the gate only fires on under-parallel scans, but a
    hot key would concentrate the map work the spread exists to
    spread."""
    from .session import default_parallelism

    want = default_parallelism()
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file-sourced plans: leave as-is
        return df
    if not files:
        return df
    total = input_bytes(files)
    if total is None:  # remote store / vanished file: trust split planning
        return df
    est_tasks = max(len(files), -(-total // (128 << 20)))
    if est_tasks * 2 > want:
        return df
    if key_col is not None:
        from pyspark.sql import functions as F

        return df.repartition(want, F.col(key_col))
    return df.repartition(want)


def input_bytes(files: list[str]) -> int | None:
    """Total byte size of a scan's input files, statted on every call.

    None = not locally statable (a remote URI, or a file vanished):
    callers apply their own conservative default (spread_cpu_scan
    trusts the store's split planning; persist_if_heavy assumes
    heavy). A path-set with a remote URI is answered without a stat."""
    paths = [_local_path(f) for f in files]
    if None in paths:
        return None
    try:
        return sum(os.stat(p).st_size for p in paths)
    except OSError:
        return None


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` works alongside
    the DataFrame API (same names the DuckDB oracle uses)."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
