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

Start-up: the reference deploys one process per dashboard refresh, so the
driver JVM's start is paid per run, and most of it is HotSpot loading and
verifying Spark's classes. When this module launches the JVM it maps a
JDK dynamic class-data-sharing (CDS) archive of those classes from
`.cache/cds/` at the checkout root; a process that finds none starts
normally and builds one in a separate JVM (see `_launch`).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
import sys
import time

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """`SPARK_GRAFT_CPUS`, else the CPUs this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


# SQL confs that are runtime-settable; applied both at build time and by
# `tune()` onto sessions we did not create (the driver passes us its own).
# Includes shuffle.partitions: a vanilla external session otherwise runs
# every registry query with Spark's default 200 — observed as 200-task
# stages in driver_sim before this was set here.
_RUNTIME_CONF = {
    "spark.sql.shuffle.partitions": str(default_parallelism()),
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


# Python worker daemon that skips re-reading unchanged zip archives on
# every task (see its docstring); its directory holds only that module
WORKER_DAEMON = "sanef_worker_daemon"
WORKER_DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "_worker_daemon")


def get_spark(app_name: str = "sanef-etl-spark",
              master: str | None = None) -> SparkSession:
    """Build (or fetch) a tuned SparkSession.

    local[default_parallelism()] by default; on a real cluster callers pass
    their own master and the same SQL confs apply. `SPARK_GRAFT_MASTER`
    overrides from the environment — e.g. `local-cluster[2,4,1024]`
    spawns REAL worker JVMs (separate heaps, real serialization, real
    broadcasts) so the gates can prove no query leans on single-JVM
    shared state; see tools/full_check.sh and SCALE.md. With a local or
    local-cluster master, Python workers start through `WORKER_DAEMON`.
    """
    cpus = default_parallelism()
    conf = {
        "spark.app.name": app_name,
        "spark.master": (master or os.environ.get("SPARK_GRAFT_MASTER")
                         or f"local[{cpus}]"),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # saveAsTable targets (bucketed-join tests); static conf, so set at
        # build — keep managed tables out of the repo working dir
        "spark.sql.warehouse.dir": os.environ.get("SPARK_GRAFT_WAREHOUSE",
                                                  "/tmp/spark-warehouse"),
        # Compiled generated classes live in a Guava cache of this many
        # entries (static conf, Spark's default 100), split over 4
        # segments of ~25: a working set near 100 classes evicts its own
        # hot entries, so every warm query recompiles, and HotSpot profiles
        # and JIT-compiles each new class from zero. Measured on a 4-CPU
        # host: perfbench's olap_relational compiles 98 classes on its
        # first pass and 51-52 again on every later one; election_dashboard
        # 103, then 54. 1000 (4 x 250) holds ~10x that working set.
        "spark.sql.codegen.cache.maxEntries": "1000",
        # PySpark wraps every `functions.*` call and Column operator to
        # record its Python call site: two active-session lookups, a conf
        # read and an origin set/clear over py4j per call. Off, one
        # `hung_councils` build makes 268 py4j calls instead of 478.
        # The cost: analysis errors lose their "== DataFrame ==" call
        # site (error class and message stay). PySpark reads this once
        # per Python process, so it is set at launch only.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        **_RUNTIME_CONF,
    }
    if conf["spark.master"] == "local" or conf["spark.master"].startswith(
            ("local[", "local-cluster[")):
        # executors on the driver's filesystem can start the worker daemon
        # from this checkout; elsewhere the stock daemon runs
        conf["spark.python.daemon.module"] = WORKER_DAEMON
        conf["spark.executorEnv.PYTHONPATH"] = WORKER_DAEMON_DIR
    spark = _launch(conf)
    _ship_package(spark)
    return spark


# -- JDK class-data sharing --------------------------------------------------
# Measured on a 4-CPU host: get_spark plus a first action takes ~10 s
# without an archive and ~5 s with one. The archive (~140 MB) holds the
# classes one driver start loads; it is only valid for the JDK and the
# classpath it was dumped with, so its file name hashes exactly those
# (never JVM options: callers pass per-run -D flags). A mismatch is safe,
# the JVM then maps nothing. CDS refuses a non-empty directory on the
# classpath, and Spark puts its conf dir there, so the archive is used
# only when that dir holds no config (just *.template files) and is then
# swapped for an empty dir of ours, which changes nothing Spark reads.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CDS_DIR = os.path.join(_ROOT, ".cache", "cds")
# this process's last JVM launch: "hit" = the JVM mapped the archive,
# "miss" = it started without one, "off" = CDS not applicable (the
# JVM is not ours, the conf dir holds config, or CDS_DIR is read-only)
cds = "off"
# a build lock older than this is left from a crashed or failed build
_LOCK_STALE_S = 600.0
# set in the archive-building child only: the dump target, and the guard
# that keeps that child from building an archive of its own
_dump_to: str | None = None
_build: subprocess.Popen | None = None
# classpath entries the launcher adds from the environment; a dir there
# would make the dump fail, so any of them keeps CDS off
_CLASSPATH_ENV = ("SPARK_CLASSPATH", "SPARK_DIST_CLASSPATH",
                  "HADOOP_CONF_DIR", "YARN_CONF_DIR")


def _launch(conf: dict[str, str]) -> SparkSession:
    """getOrCreate with the CDS archive when this call starts the JVM.

    On a miss the archive is built by a child Python (`_build_archive`)
    started at once, in its own session so a killed process group does
    not take it down. It runs at the lowest CPU priority, and a normal
    interpreter exit waits for it (`_at_exit`), so the next process
    finds the archive; a process that ends with `os._exit` leaves it to
    finish alone. An archive the JVM cannot start with (a truncated file
    crashes it with SIGBUS, it does not fall back) is deleted and the
    start retried without it."""
    global cds

    def start(java_opts: str | None = None) -> SparkSession:
        builder = SparkSession.builder
        for k, v in conf.items():
            builder = builder.config(k, v)
        if java_opts:
            builder = builder.config("spark.driver.defaultJavaOptions", java_opts)
        return builder.getOrCreate()

    if (SparkContext._active_spark_context is not None
            or "PYSPARK_GATEWAY_PORT" in os.environ):
        return start()   # not our JVM to configure
    archive = _cds_archive()
    if archive is None:
        cds = "off"
        return start()
    if _dump_to is not None:
        return start(f"-XX:ArchiveClassesAtExit={_dump_to}")
    if os.path.isfile(archive):
        try:
            spark = start(f"-XX:SharedArchiveFile={archive} -Xshare:auto "
                          "-Xlog:cds=off -Xlog:cds+dynamic=off")
        except PySparkRuntimeError as exc:
            if exc.getCondition() != "JAVA_GATEWAY_EXITED":
                raise
            os.unlink(archive)
        else:
            cds = "hit" if _mapped(archive) else "miss"
            return spark
    cds = "miss"
    spark = start()
    _spawn_build(archive)
    return spark


def _cds_archive() -> str | None:
    """Archive path for this JDK and classpath, or None (CDS off).

    Points SPARK_CONF_DIR at CDS_DIR/conf, an empty dir, when the
    effective conf dir holds only templates; leaves it alone otherwise."""
    from pyspark.find_spark_home import _find_spark_home

    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return None
    spark_home = _find_spark_home()
    empty = os.path.join(CDS_DIR, "conf")
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        if os.path.realpath(conf_dir) != os.path.realpath(empty) and os.path.isdir(conf_dir):
            if any(not n.endswith(".template") for n in os.listdir(conf_dir)):
                return None
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty) or not os.access(CDS_DIR, os.W_OK):
            return None
        key = _cds_key(spark_home, empty)
    except OSError:
        return None
    os.environ["SPARK_CONF_DIR"] = empty
    return os.path.join(CDS_DIR, f"{key}.jsa")


def _cds_key(spark_home: str, conf_dir: str) -> str:
    """Hash of the classpath inputs: the java binary spark-class runs,
    $SPARK_HOME/jars (name, size, mtime) and the conf dir path."""
    java_home = os.environ.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java"))
    if java is None:
        raise FileNotFoundError("java")
    java = os.path.realpath(java)
    st = os.stat(java)
    h = hashlib.sha256(f"{java} {st.st_size} {st.st_mtime_ns}\n{conf_dir}\n".encode())
    for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"{e.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:20]


def _mapped(archive: str) -> bool:
    """Whether the driver JVM mapped `archive` (its path is in the maps)."""
    try:
        with open(f"/proc/{SparkContext._gateway.proc.pid}/maps", encoding="utf-8") as fh:
            return os.path.realpath(archive) in fh.read()
    except OSError:
        return False


def _spawn_build(archive: str) -> None:
    """Start `_build_archive` unless another process holds the build lock."""
    global _build
    lock = f"{archive}.lock"
    try:
        if time.time() - os.path.getmtime(lock) > _LOCK_STALE_S:
            os.unlink(lock)
    except OSError:
        pass
    try:
        os.close(os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
    except OSError:   # a build is in progress (or CDS_DIR turned read-only)
        return
    work_dir = os.path.join(CDS_DIR, f"build-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    # the build must not depend on this process's temp dirs (a caller
    # may delete them when it ends) or JVM options
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_GRAFT_MASTER")}
    env.update(TMPDIR=work_dir, SPARK_LOCAL_DIRS=work_dir, SPARK_GRAFT_CPUS="1",
               SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_GRAFT_WAREHOUSE=os.path.join(work_dir, "warehouse"),
               PYTHONPATH=os.pathsep.join(
                   p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p))
    code = (f"from {__package__}.session import _build_archive; "
            f"_build_archive({archive!r}, {CDS_DIR!r})")
    with open(f"{archive}.log", "w", encoding="utf-8") as log:
        _build = subprocess.Popen([sys.executable, "-c", code], env=env, cwd=work_dir,
                                  stdin=subprocess.DEVNULL, stdout=log,
                                  stderr=subprocess.STDOUT, start_new_session=True)


def _build_archive(archive: str, cds_dir: str) -> None:
    """Dump the archive from a fresh driver that exits cleanly.

    Runs in the child `_spawn_build` starts. The JVM writes the dump at
    exit, so the session is stopped and the gateway's stdin closed, and
    the file is renamed into place only after the JVM exited 0: a
    partial archive would crash every later start. A failed build keeps
    the lock, so the next attempt waits for it to go stale."""
    global CDS_DIR, _dump_to
    os.nice(19)
    CDS_DIR = cds_dir
    _dump_to = f"{archive}.tmp-{os.getpid()}"
    work_dir = os.getcwd()
    try:
        spark = get_spark("cds-build")
        spark.range(1).count()
        jvm = SparkContext._gateway.proc
        spark.stop()
        jvm.stdin.close()
        if jvm.wait(timeout=_LOCK_STALE_S) != 0 or not os.path.getsize(_dump_to):
            raise RuntimeError(f"CDS dump failed (JVM exit {jvm.returncode})")
        os.replace(_dump_to, archive)
        os.unlink(f"{archive}.lock")
    finally:
        if os.path.exists(_dump_to):
            os.unlink(_dump_to)
        shutil.rmtree(work_dir, ignore_errors=True)


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
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        _PKG_ZIP = os.path.join(tempfile.gettempdir(),
                                f"sanef_etl_spark_pkg_{os.getpid()}.zip")
        with zipfile.ZipFile(_PKG_ZIP, "w", zipfile.ZIP_DEFLATED) as zf:
            for d, subdirs, files in os.walk(pkg_dir):
                subdirs[:] = [n for n in subdirs if n != "__pycache__"]
                for f in files:
                    path = os.path.join(d, f)
                    zf.write(path, os.path.relpath(path, _ROOT))
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
    on who built the session. Static confs cannot be set on a running
    session, so one this package did not launch keeps Spark's defaults
    for them, among them the codegen class cache size `get_spark` sets.
    It also keeps PySpark's call-site capture (`dataFrameDebugging`),
    which PySpark may already have read for the process.
    """
    for k, v in _RUNTIME_CONF.items():
        spark.conf.set(k, v)
    _ship_package(spark)   # external sessions may run real executors too
    return spark


@atexit.register
def _at_exit() -> None:
    """Remove this process's package zip; wait for an archive build it
    started, so the next process finds the archive."""
    if _PKG_ZIP is not None and os.path.exists(_PKG_ZIP):
        os.unlink(_PKG_ZIP)
    if _build is not None:
        try:
            _build.wait(timeout=_LOCK_STALE_S)
        except subprocess.TimeoutExpired:
            pass
