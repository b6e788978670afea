"""Per-stage time/bytes breakdown for registry queries (guide §1.1).

The shipped session runs with spark.ui.enabled=false, so this tool
builds its own UI-enabled session (the shipped confs otherwise) and,
after executing each query to the noop sink, reads per-stage metrics
from the local UI REST API (localhost only — no external network).
Output: one table per query, a row per stage of the LAST timed run,
with executor run/CPU time, shuffle read/write bytes and task counts —
the "which stage is the time going to" instrument the optimization
guide opens with.

Usage: python tools/stage_profile.py <query> [<query> ...]
       [--sf-dir /root/testdata/sf0.1] [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from sanef_election_dashboard_etl_spark import session as SESS
from sanef_election_dashboard_etl_spark.queries import REGISTRY


def build_spark(cpus: int) -> SparkSession:
    builder = (
        SparkSession.builder.appName("stage-profile")
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4047")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse"))
    for k, v in SESS._RUNTIME_CONF.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def api(path: str):
    with urllib.request.urlopen(f"http://localhost:4047/api/v1/{path}") as r:
        return json.loads(r.read())


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args(argv)

    spark = build_spark(SESS.default_parallelism())
    spark.sparkContext.setLogLevel("ERROR")
    app_id = spark.sparkContext.applicationId

    def run(df):
        df.write.format("noop").mode("overwrite").save()

    for name in args.queries:
        df = REGISTRY[name].fn(spark, args.sf_dir)
        spark.catalog.clearCache()
        run(df)  # warm (codegen JIT)
        for _ in range(args.reps - 1):
            spark.catalog.clearCache()
            run(df)
        # timed, measured run: note job ids before/after
        spark.catalog.clearCache()
        jobs_before = {j["jobId"] for j in api(f"applications/{app_id}/jobs")}
        t0 = time.perf_counter()
        spark.sparkContext.setJobDescription(f"profile:{name}")
        run(df)
        spark.sparkContext.setJobDescription(None)
        wall = time.perf_counter() - t0
        jobs = [j for j in api(f"applications/{app_id}/jobs")
                if j["jobId"] not in jobs_before]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        rows = []
        for sid in stage_ids:
            try:
                for att in api(f"applications/{app_id}/stages/{sid}"):
                    rows.append(att)
            except Exception:
                pass
        rows.sort(key=lambda s: -s.get("executorRunTime", 0))
        print(f"\n== {name}: wall {wall:.3f}s, {len(jobs)} jobs, "
              f"{len(rows)} stages ==")
        print(f"{'run_ms':>7} {'cpu_ms':>7} {'tasks':>5} {'in_MB':>7} "
              f"{'shR_MB':>7} {'shW_MB':>7}  name")
        for s in rows:
            print(f"{s.get('executorRunTime', 0):>7} "
                  f"{s.get('executorCpuTime', 0) // 1_000_000:>7} "
                  f"{s.get('numCompleteTasks', 0):>5} "
                  f"{s.get('inputBytes', 0) / 1e6:>7.1f} "
                  f"{s.get('shuffleReadBytes', 0) / 1e6:>7.2f} "
                  f"{s.get('shuffleWriteBytes', 0) / 1e6:>7.2f}  "
                  f"{s.get('name', '')[:70]}")
        sub = [(s.get("submissionTime"), s.get("completionTime"))
               for s in rows]
        print(f"total executorRunTime "
              f"{sum(s.get('executorRunTime', 0) for s in rows)} ms across "
              f"{sum(s.get('numCompleteTasks', 0) for s in rows)} tasks"
              f" ({len(sub)} stages)")


if __name__ == "__main__":
    main()
