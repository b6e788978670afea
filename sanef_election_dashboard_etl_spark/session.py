"""SparkSession construction and runtime tuning.

The reference (SANEF_Uploader.py) is a single-process pandas script; its
"session" is module import (SURVEY.md §3.1). Here the session is an explicit
builder with the scale-relevant settings on by default:

- AQE (adaptive query execution): runtime partition coalescing + skew-join
  splitting, so plans built for 100 TB also run well on kB-scale fixtures.
- Arrow: every pandas-UDF boundary is Arrow-batched.
- UTC session timezone: timestamp <-> epoch conversions must be engine- and
  host-independent (the DuckDB oracle computes epochs timezone-naively).
- Broadcast threshold 64 MB: dimension tables (the reference's Wards/Munis
  CSVs, ~kB) must always hash-broadcast, never shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SQL confs that are runtime-settable; applied both at build time and by
# `tune()` onto sessions we did not create (the driver passes us its own).
# Includes shuffle.partitions: a vanilla external session otherwise runs
# every registry query with Spark's default 200 — observed as 200-task
# stages in driver_sim before this was set here.
_RUNTIME_CONF = {
    "spark.sql.shuffle.partitions": str(int(os.environ.get(
        "SPARK_GRAFT_CPUS", "32"))),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # the events fixture carries TIMESTAMP(NANOS) parquet, which Spark's
    # vectorized reader rejects; read as long nanos, catalog.py converts
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "sanef-etl-spark",
              master: str | None = None) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    local[$SPARK_GRAFT_CPUS] by default; on a real cluster callers pass
    their own master and the same SQL confs apply. `SPARK_GRAFT_MASTER`
    overrides from the environment — e.g. `local-cluster[2,4,1024]`
    spawns REAL worker JVMs (separate heaps, real serialization, real
    broadcasts) so the gates can prove no query leans on single-JVM
    shared state; see tools/full_check.sh and SCALE.md.
    """
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or os.environ.get("SPARK_GRAFT_MASTER")
                or f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # saveAsTable targets (bucketed-join tests); static conf, so set at
        # build — keep managed tables out of the repo working dir
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"))
    )
    for k, v in _RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


_PKG_ZIP: str | None = None


def _ship_package(spark: SparkSession) -> None:
    """Distribute this package to executor Python workers (addPyFile).

    In local[*] mode executors share the driver's process and inherit
    its sys.path, which silently masks a deployment bug: cloudpickle
    serializes module-level functions BY REFERENCE, so any UDF closure
    touching this package makes real executors re-import it — and a
    worker JVM's python has no /root/repo on its path. Found the honest
    way: the local-cluster[2,4,*] gate failed multimodal_features with
    ModuleNotFoundError on the executor. addPyFile is the cluster-real
    fix (ships the same zip a spark-submit --py-files deployment would)
    and is a no-op cost in plain local mode. Each addPyFile also
    adds a sys.path entry, so a zip already in the context's Python
    includes is not added again. The check stays in Python: the public
    `sc.listFiles` costs ~30 ms of py4j calls on a 4-CPU host, and
    every registry call and pipeline run tunes its session."""
    global _PKG_ZIP
    if _PKG_ZIP is None:
        import shutil
        import tempfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        stem = os.path.join(tempfile.gettempdir(),
                            f"sanef_etl_spark_pkg_{os.getpid()}")
        _PKG_ZIP = shutil.make_archive(
            stem, "zip", root_dir=os.path.dirname(pkg_dir),
            base_dir=os.path.basename(pkg_dir))
    try:
        sc = spark.sparkContext
        if os.path.basename(_PKG_ZIP) not in sc._python_includes:
            sc.addPyFile(_PKG_ZIP)
    except Exception:
        # an already-stopped or restricted context must not break session
        # construction; plain local mode never needed the file anyway
        pass


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an externally created session.

    Idempotent and cheap; every driver-facing entry point calls this so
    correctness (UTC epochs) and plan quality (AQE, broadcast) do not depend
    on who built the session.
    """
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    _ship_package(spark)   # external sessions may run real executors too
    return spark
