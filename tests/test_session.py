"""Session construction: `tune` may run on every entry point, so it must
leave the session as it found it after the first call; `get_spark` maps a
class-data-sharing (CDS) archive when it launches the JVM itself, sizes
the codegen class cache, and starts Python workers through the worker
daemon on local masters."""

import json
import os
import subprocess
import sys

import pytest

from sanef_election_dashboard_etl_spark import session
from sanef_election_dashboard_etl_spark.session import tune

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_repeated_tune_ships_the_package_once(spark):
    tune(spark)
    sc = spark.sparkContext
    before = (len(sys.path), len(sc._python_includes))
    for _ in range(5):
        tune(spark)
    assert (len(sys.path), len(sc._python_includes)) == before


def test_warm_queries_compile_no_generated_code(spark):
    """More distinct generated classes than Spark's stock codegen cache
    (100 entries in 4 segments) holds: the second round of the same
    queries compiles nothing. `tune` leaves the static cache size alone."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    frames = [spark.range(0, 8, 1, 1).selectExpr(f"id * {i} + {i}")
              for i in range(64)]
    for df in frames:
        df.collect()
    before = compiles.getCount()
    for df in frames:
        df.collect()
    assert compiles.getCount() == before

    tune(spark)   # setting the static conf at runtime would raise
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_get_spark_turns_call_site_capture_off(spark):
    """No py4j call-site bookkeeping around each `functions.*` call, and
    an analysis error still names what failed."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
    with pytest.raises(AnalysisException, match="no_such_column"):
        spark.range(1).select("no_such_column")


@pytest.mark.parametrize("cpus, want", [(None, 1), ("3", 3)])
def test_parallelism_follows_the_usable_cpus(cpus, want):
    """Unset, `SPARK_GRAFT_CPUS` falls back to the CPUs the process may
    run on (here pinned to one), for both the local master's width and
    the shuffle partitions; set, it wins."""
    script = ("import json, os; os.sched_setaffinity(0, {min(os.sched_getaffinity(0))}); "
              "from sanef_election_dashboard_etl_spark import session as s; "
              "print(json.dumps([s.default_parallelism(), "
              "s._RUNTIME_CONF['spark.sql.shuffle.partitions']]))")
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    env["PYTHONPATH"] = ROOT
    if cpus is not None:
        env["SPARK_GRAFT_CPUS"] = cpus
    run = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=60)
    assert run.returncode == 0, run.stderr[-3000:]
    assert json.loads(run.stdout) == [want, str(want)]


@pytest.fixture()
def cds_dir(tmp_path, monkeypatch):
    """CDS_DIR redirected to a fresh dir, an empty conf dir in effect;
    the module state and SPARK_CONF_DIR are restored afterwards."""
    (tmp_path / "spark-conf").mkdir()
    monkeypatch.setattr(session, "CDS_DIR", str(tmp_path / "cds"))
    monkeypatch.setattr(session, "cds", session.cds)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "spark-conf"))
    return tmp_path / "cds"


def test_cds_key_ignores_jvm_options(cds_dir, monkeypatch):
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                       '--driver-java-options "-Djava.io.tmpdir=/run-1" pyspark-shell')
    first = session._cds_archive()
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                       '--driver-java-options "-Djava.io.tmpdir=/run-2 -Xss4m" pyspark-shell')
    assert first is not None and session._cds_archive() == first


def test_cds_key_follows_the_jars(cds_dir, tmp_path, monkeypatch):
    jars = tmp_path / "spark-home" / "jars"
    jars.mkdir(parents=True)
    jar = jars / "spark-core.jar"
    jar.write_bytes(b"PK" * 100)
    monkeypatch.setenv("SPARK_HOME", str(jars.parent))
    keys = [session._cds_archive()]
    os.utime(jar, ns=(10**18, 10**18))
    keys.append(session._cds_archive())
    jar.write_bytes(b"PK" * 101)
    os.utime(jar, ns=(10**18, 10**18))
    keys.append(session._cds_archive())
    assert None not in keys and len(set(keys)) == 3


def _driver(cds_dir, conf_dir, code: str = "") -> dict:
    """Run a fresh driver process against `cds_dir`; its report."""
    script = "\n".join([
        "import json, os",
        "from sanef_election_dashboard_etl_spark import session",
        f"session.CDS_DIR = {str(cds_dir)!r}",
        "spark = session.get_spark('cds-test', master='local[1]')",
        "assert spark.range(3).count() == 3",
        "report = {'cds': session.cds, 'conf_dir': os.environ['SPARK_CONF_DIR']}",
        code,
        "print(json.dumps(report))",
    ])
    env = {k: v for k, v in os.environ.items()
           if k not in (*session._CLASSPATH_ENV, "PYSPARK_SUBMIT_ARGS", "SPARK_GRAFT_MASTER")}
    env.update(SPARK_CONF_DIR=str(conf_dir), SPARK_GRAFT_CPUS="1",
               SPARK_GRAFT_DRIVER_MEM="1g", PYTHONPATH=ROOT)
    run = subprocess.run([sys.executable, "-c", script], env=env, cwd=cds_dir.parent,
                         capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    return json.loads(run.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def built_cds(tmp_path_factory):
    """Two fresh drivers in sequence over an empty CDS_DIR: the first
    misses and builds the archive before it exits, the second maps it."""
    tmp = tmp_path_factory.mktemp("cds-built")
    (tmp / "spark-conf").mkdir()
    ship = ("import zipfile; report['zip'] = session._PKG_ZIP; "
            "report['pycache'] = any('__pycache__' in n for n in "
            "zipfile.ZipFile(session._PKG_ZIP).namelist())")
    return tmp, [_driver(tmp / "cds", tmp / "spark-conf", ship) for _ in range(2)]


def test_cds_first_driver_builds_and_second_maps(built_cds):
    tmp, reports = built_cds
    assert [r["cds"] for r in reports] == ["miss", "hit"]
    assert len(list((tmp / "cds").glob("*.jsa"))) == 1
    # no lock, dump temp file or build dir is left behind
    assert sorted(p.name for p in (tmp / "cds").iterdir()
                  if not p.name.endswith((".jsa", ".jsa.log"))) == ["conf"]
    # the shipped package zip has no bytecode and is gone at exit
    assert not any(r["pycache"] or os.path.exists(r["zip"]) for r in reports)


def test_cds_truncated_archive_is_deleted_and_start_retried(built_cds):
    tmp, _ = built_cds
    (archive,) = (tmp / "cds").glob("*.jsa")
    archive.chmod(0o644)
    with open(archive, "r+b") as fh:
        fh.truncate(archive.stat().st_size // 2)
    # a build in progress elsewhere: this driver must not rebuild
    (tmp / "cds" / f"{archive.name}.lock").touch()
    report = _driver(tmp / "cds", tmp / "spark-conf")
    assert report["cds"] == "miss"
    assert not archive.exists()


def test_cds_off_when_the_conf_dir_holds_config(tmp_path):
    conf = tmp_path / "spark-conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    (tmp_path / "cds").mkdir()
    report = _driver(tmp_path / "cds", conf)
    assert report == {"cds": "off", "conf_dir": str(conf)}
    assert not list((tmp_path / "cds").iterdir())


def _worker_daemon():
    """The worker daemon module, loaded from its file (it is not part of
    the package's import tree)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "sanef_worker_daemon",
        os.path.join(session.WORKER_DAEMON_DIR, "sanef_worker_daemon.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _write_zip(path, names):
    import zipfile

    with zipfile.ZipFile(path, "w") as zf:
        for n in names:
            zf.writestr(n, "x = 1\n")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13 reads zip archives lazily; nothing is patched")
def test_worker_daemon_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    import zipimport

    daemon = _worker_daemon()
    archive = tmp_path / "lib.zip"
    _write_zip(archive, ["a.py"])
    first = zipimport.zipimporter(str(archive))
    files = first._files
    # importers that exist when the daemon starts are not read again
    monkeypatch.setitem(sys.path_importer_cache, str(archive), first)
    daemon.remember_loaded()
    second = zipimport.zipimporter(str(archive))
    for importer in (first, second, first):
        daemon.invalidate_caches(importer)
        assert importer._files is files
    _write_zip(archive, ["a.py", "b.py"])
    os.utime(archive, ns=(10**18, 10**18))
    daemon.invalidate_caches(second)
    assert second._files is not files and "b.py" in second._files
    daemon.invalidate_caches(first)
    assert first._files is second._files


def test_worker_daemon_keeps_pyspark_zip_read_across_tasks(spark):
    """The second Python task's `invalidate_caches()` (pyspark's worker
    also calls it before every task) leaves the directory the worker's
    pyspark.zip importers hold untouched."""
    def probe(_):
        import importlib
        import sys
        import zipimport

        zips = [i for i in sys.path_importer_cache.values()
                if isinstance(i, zipimport.zipimporter)
                and i.archive.endswith("pyspark.zip")]
        before = [i._files for i in zips]
        importlib.invalidate_caches()
        yield len(zips), all(i._files is f for i, f in zip(zips, before))

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == session.WORKER_DAEMON
    sc.parallelize([0], 1).mapPartitions(probe).collect()
    ((n, kept),) = sc.parallelize([0], 1).mapPartitions(probe).collect()
    assert n > 0 and kept


def test_worker_daemon_dir_exposes_no_package(tmp_path):
    """Workers get the daemon dir on their PYTHONPATH: it must not make
    the package importable, or a missing addPyFile would go unnoticed."""
    assert sorted(n for n in os.listdir(session.WORKER_DAEMON_DIR)
                  if n != "__pycache__") == ["sanef_worker_daemon.py"]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = session.WORKER_DAEMON_DIR

    def imports(module):
        return subprocess.run([sys.executable, "-c", f"import {module}"], env=env,
                              cwd=tmp_path, capture_output=True).returncode == 0

    assert imports(session.WORKER_DAEMON)
    assert not imports("sanef_election_dashboard_etl_spark")
