"""Benchmark of the election-dashboard engine, run from the repository root:

    python3 perfbench/run.py --workload election_dashboard --seed 1 \
        --seconds 21 --trace 0

Workloads: election_dashboard (the nine CLI pipelines, CSV sink),
olap_relational (relational registry queries, noop sink) and
corpus_curation (dedup/similarity/text registry queries, noop sink);
see perfbench/README.md. The run generates the workload's inputs from
`--seed` under `.perfbench/` in the repository root, then

- with `--trace 0` prints the end-to-end metrics, set-up time being that
  of the measured driver process (one sample: a second fresh driver would
  cost a fifth of the run, README.md "Run time");
- with `--trace 1` prints the per-layer metrics of a traced run.

Spark runs as local[k], k = min(4, usable CPUs), with the shipped
session configuration. The last stdout line is one JSON object
{correct, attempted, failed, metrics}. A run that cannot complete exits
non-zero without printing it.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("election_dashboard", "olap_relational", "corpus_curation")
DEADLINE_S = 170.0    # whole run, including every child process


class RunError(Exception):
    pass


def child_env(run_dir: str, k: int) -> dict[str, str]:
    """Environment of every driver process: local[k], shipped session
    defaults, and all scratch files inside `run_dir`."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {key: v for key, v in os.environ.items()
           if key not in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM",
                          "PYSPARK_SUBMIT_ARGS")}
    env.update(
        SPARK_GRAFT_CPUS=str(k),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "pyspark-shell"),
    )
    return env


class Child:
    """The driver process; its set-up time runs from spawn to READY."""

    def __init__(self, args: list[str], env: dict[str, str], deadline: float):
        self.deadline = deadline
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "worker.py"), *args],
            cwd=ROOT, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
            start_new_session=True)

    def wait_ready(self) -> float:
        buf = b""
        while b"READY\n" not in buf:
            left = self.deadline - time.perf_counter()
            if left <= 0:
                raise RunError("driver set-up passed the deadline")
            ready, _, _ = select.select([self.proc.stdout], [], [], left)
            if ready:
                chunk = os.read(self.proc.stdout.fileno(), 4096)
                if not chunk:
                    raise RunError(f"driver exited before READY (rc={self.proc.wait()})")
                buf += chunk
        return time.perf_counter() - self.t0

    def finish(self) -> None:
        try:
            rc = self.proc.wait(timeout=max(1.0, self.deadline - time.perf_counter()))
        except subprocess.TimeoutExpired:
            raise RunError("driver passed the deadline") from None
        if rc != 0:
            raise RunError(f"driver exited with {rc}")

    def kill(self) -> None:
        """SIGKILL the process group (driver, JVM, Python workers) and
        wait until every member is gone."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.proc.stdout.close()
        for _ in range(400):
            try:
                os.killpg(self.proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.025)
        raise RunError(f"process group {self.proc.pid} outlived SIGKILL")


def run(args) -> dict:
    from perfbench import gen

    deadline = time.perf_counter() + DEADLINE_S
    k = min(4, len(os.sched_getaffinity(0)))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    shutil.rmtree(run_dir, ignore_errors=True)
    c = None
    try:
        rows = gen.generate(args.workload, args.seed, data_dir, args.scale)
        print(f"[perfbench] {args.workload} seed={args.seed} k={k} inputs "
              f"{gen.fingerprint(data_dir)[:16]} {rows}", file=sys.stderr)
        with open(os.path.join(data_dir, "manifest.json"), "w", encoding="utf-8") as fh:
            json.dump(rows, fh)
        out = os.path.join(run_dir, "result.json")
        c = Child(["--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--data", data_dir, "--work", run_dir, "--out", out],
                  child_env(run_dir, k), deadline)
        setup_s = c.wait_ready()
        c.finish()
        with open(out, encoding="utf-8") as fh:
            result = json.load(fh)
        if args.trace:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            stem = f"{args.workload}-{args.seed}"
            shutil.move(os.path.join(run_dir, f"spans-{stem}.json"),
                        os.path.join(WORK, "traces", f"spans-{stem}.json"))
        else:
            result["metrics"]["setup_s"] = {"value": setup_s, "unit": "s"}
        return result
    finally:
        if c is not None:
            c.kill()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the reference shape (tests)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sanef_election_dashboard_etl_spark",
                                       "__init__.py")):
        print("perfbench: the package is not next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still reaps its drivers (run()'s finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    except RunError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    print(json.dumps(result["detail"]), file=sys.stderr)
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed",
                                             "metrics")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
