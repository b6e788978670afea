"""Named-table catalog over the parquet fixtures.

The reference loads its two dimension CSVs eagerly at module import
(SANEF_Uploader.py:33-36) and pulls facts ad hoc through pyodbc cursors.
Here every table is a lazily-scanned DataFrame resolved by name from a
scale-factor directory (TESTDATA.md): Catalyst prunes columns and pushes
filters into the parquet scan, so "load" costs nothing until an action runs.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


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

    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.to_timestamp(F.col("ts")))
    return df


def spread_cpu_scan(df: DataFrame, parallelism: int | None = None,
                    key_col: str | None = None) -> DataFrame:
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

    want = int(parallelism or default_parallelism())
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
    """Total byte size of a scan's input files, memoized per path-set.

    None = not locally statable (remote URI, or a file vanished):
    callers apply their own conservative default (spread_cpu_scan
    trusts the store's split planning; persist_if_heavy assumes
    heavy). A remote path-set's None memoizes too — repeated calls on a
    remote table must not re-walk the path list — but a vanished file's
    does not: it may be back on the next call."""
    try:
        return _input_bytes(tuple(files))
    except OSError:
        return None


# spread_cpu_scan / cache.persist_if_heavy stat every input file on the
# driver PER CALL — O(files) syscalls each time the same table feeds
# another operator (VERDICT r11 item 6). Parquet part files are
# write-once, so a path-set's total size is memoized; lru_cache keeps no
# result of a call that raised, so an OSError is not.
@functools.lru_cache(maxsize=1024)
def _input_bytes(files: tuple[str, ...]) -> int | None:
    total = 0
    for uri in files:
        path = uri
        if path.startswith("file:"):
            path = path[5:]
            while path.startswith("//"):
                path = path[1:]
        elif "://" in path:
            return None  # remote store
        total += os.path.getsize(path)
    return total


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so `spark.sql` works alongside
    the DataFrame API (same names the DuckDB oracle uses)."""
    for name, df in load_all(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
