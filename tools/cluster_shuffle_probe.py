"""Local-cluster vs local[N] shuffle probe (VERDICT r4 item 8): times the
most shuffle-intensive ops at 10x scale (/tmp/sf1, 6M-row lineitem /
50k docs) under

  a) local[8]                 — single JVM, shuffles are memory copies
  b) local-cluster[2,4,2048]  — two REAL worker JVMs: shuffle blocks
                                serialize, cross a socket, and broadcasts
                                actually transfer

with the same total core count (8) and shuffle partitions, so the delta
isolates what single-JVM mode hides: serialization cost, network-ish
transfer, per-executor memory pressure. A query whose local[8] win
evaporates on local-cluster was leaning on shared-heap artifacts.

    python tools/cluster_shuffle_probe.py      # prints table + JSON line

Each mode runs in a SEPARATE subprocess (Spark masters can't be swapped
in-process); one warm rep then best-of-3 noop-sink executions per query,
plan built off the clock.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

SF_DIR = "/tmp/sf1"
# the five heaviest shufflers at 10x (SCALING.md): high-cardinality
# 2-key agg + anti join, carried-key agg, full sort (range exchange),
# minhash banding joins + verification, k-gram span index
QUERIES = ["j4_anti_join", "a5_sum_carried_key", "o1_full_sort",
           "dedup_minhash_lsh", "dedup_substring_stats"]

WORKER = r"""
import json, sys, time
sys.path.insert(0, "/root/repo")
from sanef_election_dashboard_etl_spark.queries import REGISTRY
from sanef_election_dashboard_etl_spark.session import get_spark
sf_dir, names = sys.argv[1], sys.argv[2].split(",")
spark = get_spark("cluster-probe")
spark.sparkContext.setLogLevel("ERROR")
def run(df): df.write.format("noop").mode("overwrite").save()
run(spark.range(1))
out = {}
for name in names:
    df = REGISTRY[name].fn(spark, sf_dir); df.schema
    spark.catalog.clearCache(); run(df)          # warm
    reps = []
    for _ in range(3):
        spark.catalog.clearCache()
        t0 = time.perf_counter(); run(df); reps.append(time.perf_counter() - t0)
    out[name] = round(min(reps), 3)
print("PROBE_RESULT " + json.dumps(out))
"""


def run_mode(master: str) -> dict[str, float]:
    env = dict(os.environ, SPARK_GRAFT_MASTER=master, SPARK_GRAFT_CPUS="8")
    proc = subprocess.run(
        [sys.executable, "-c", WORKER, SF_DIR, ",".join(QUERIES)],
        env=env, capture_output=True, text=True, timeout=1800)
    for line in proc.stdout.splitlines():
        if line.startswith("PROBE_RESULT "):
            return json.loads(line[len("PROBE_RESULT "):])
    raise RuntimeError(
        f"{master}: no result line\n{proc.stdout[-2000:]}\n"
        f"{proc.stderr[-2000:]}")


def main() -> None:
    local = run_mode("local[8]")
    print(f"local[8]: {local}", flush=True)
    cluster = run_mode("local-cluster[2,4,2048]")
    print(f"local-cluster[2,4,2048]: {cluster}", flush=True)
    print("| query | local[8] | local-cluster[2,4] | delta |")
    print("|---|---|---|---|")
    for q in QUERIES:
        d = cluster[q] / local[q] if local[q] else float("nan")
        print(f"| {q} | {local[q]:.3f}s | {cluster[q]:.3f}s | {d:.2f}x |")
    print(json.dumps({"local": local, "cluster": cluster}))


if __name__ == "__main__":
    main()
