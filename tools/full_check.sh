#!/usr/bin/env bash
# One-shot verification: tests + oracle gates + plan audit + bench.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== lint: no plan->RDD conversion in pkg/ (VERDICT r10 item 6) =="
if grep -rn '\.rdd' sanef_election_dashboard_etl_spark/ --include='*.py'; then
    echo "FAIL: .rdd touch in pkg/ — forces full plan->RDD conversion"
    exit 1
fi

echo "== pytest =="
python -m pytest tests/ -q

echo "== CDS archive: two fresh drivers, the second must map it =="
for n in 1 2; do
    state=$(python -c '
import time
t0 = time.perf_counter()
from sanef_election_dashboard_etl_spark import session
session.get_spark("cds-check").range(1).count()
print(f"cds-check {session.cds} setup_s={time.perf_counter() - t0:.1f}")
' 2>/dev/null)
    echo "$state"
done
case "$state" in
    "cds-check hit "*) ;;
    *) echo "FAIL: the second driver did not map the CDS archive"; exit 1 ;;
esac

echo "== Python worker daemon: a fresh session's worker must run its zip check =="
if ! python -c '
import sys
from sanef_election_dashboard_etl_spark import session
def where(_):
    import sys, zipimport
    yield tuple(sys.version_info[:2]), zipimport.zipimporter.invalidate_caches.__code__.co_filename
sc = session.get_spark("daemon-check").sparkContext
((ver, src),) = sc.parallelize([0], 1).mapPartitions(where).collect()
print(f"daemon-check python {ver[0]}.{ver[1]}: invalidate_caches from {src}")
sys.exit(0 if ver >= (3, 13) or src.endswith("/sanef_worker_daemon.py") else 1)
' 2>/dev/null; then
    echo "FAIL: the worker's zipimporter.invalidate_caches is not the daemon's"
    exit 1
fi

echo "== oracle gate sf0.001 =="
python tools/check_oracle.py /root/testdata/sf0.001 | tail -2
echo "== oracle gate sf0.01 (driver scale) =="
python tools/check_oracle.py /root/testdata/sf0.01 | tail -2

echo "== plan assertions =="
python tools/explain_audit.py

echo "== pushdown-duplication audit =="
python tools/dup_expr_audit.py | tail -1

echo "== driver-protocol simulation (vanilla session) =="
python tools/driver_sim.py | tail -1

echo "== multi-JVM gate (real executors, real serialization) =="
SPARK_GRAFT_MASTER='local-cluster[2,4,2048]' SPARK_GRAFT_CPUS=8 \
    python tools/check_oracle.py /root/testdata/sf0.001 | tail -2

echo "== bench =="
python3 perfbench/run.py --workload election_dashboard --seed 7 --seconds 21
python3 perfbench/run.py --workload olap_relational --seed 7 --seconds 21

echo "== perfbench tests (the package names it wraps must still exist) =="
python -m pytest perfbench/tests -q
