"""One Spark driver process of a benchmark run (started by run.py).

    python3 perfbench/worker.py --workload W --seed N --seconds S \
        --trace 0|1 --data DIR --work DIR --out FILE

It builds the shipped session (`session.get_spark`), runs one trivial
action and prints READY, which is where run.py stops its set-up clock.
Then:

1. warm-up passes (`WARMUP_PASSES`): the first runs every operation
   once and checks its output against DuckDB; a registry operation's
   observed output fingerprint becomes the reference for its later
   executions. The JIT keeps speeding the operations up for a few passes,
   so later warm-up passes keep that trend out of the measured ones;
2. measured passes, a single-client closed loop over the operations,
   within `--seconds` (at least one pass); with `--trace 1` the first half
   of the time runs untraced and the second half traced, so the tracing
   overhead is measured in the run;
3. writes {attempted, failed, correct, metrics, detail} to `--out`.

The package and the benchmark's Spark-side modules are imported after
READY, so set-up time covers only what a CLI run imports to get its
session.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

# per-request service time of the IEC stand-in. Not a model of the remote
# API's latency (none is recorded): it is kept well below the engine's own
# per-operation overhead so the workload measures the engine's fan-out,
# not a network stand-in (README.md, "IEC fetcher", gives its share)
FETCH_SERVICE_S = 0.0005
OP_TIMEOUT_S = 60.0        # an operation slower than this counts as failed
# untimed passes before the measured ones; olap_relational's operations
# speed up for longer (on a 4-CPU host its pass time falls from ~7.5 s
# to ~5 s over its first four passes after the cold one)
WARMUP_PASSES = {"election_dashboard": 2, "olap_relational": 3,
                 "corpus_curation": 2}
LAYERS = ("bench", "session", "catalog", "sources", "plans", "operators",
          "sinks", "cache")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, spark, workload: str, seed: int, data_dir: str,
                 work_dir: str, rec):
        from sanef_election_dashboard_etl_spark import queries

        from perfbench import check, gen, workloads

        self.sc, self.rec, self.workload = spark.sparkContext, rec, workload
        with open(os.path.join(data_dir, "manifest.json"), encoding="utf-8") as fh:
            self.manifest = json.load(fh)
        self.acc = (self.sc.accumulator(0), self.sc.accumulator(0.0),
                    self.sc.accumulator(0))
        self.expected: dict = {}
        self.con = None
        if workload == "election_dashboard":
            out_dir = os.path.join(work_dir, "out")
            os.makedirs(out_dir, exist_ok=True)
            fetcher = gen.IecFetcher(seed, FETCH_SERVICE_S, self.acc)
            self.ops = workloads.election_ops(spark, data_dir, out_dir, fetcher)
            self.expected = check.election_expected(data_dir, seed)
        else:
            names = workloads.OLAP if workload == "olap_relational" else workloads.CORPUS
            self.ops = workloads.registry_ops(spark, data_dir, names)
            self.con = check.connect(data_dir)
        self.oracles = {op.name: queries.REGISTRY[op.name].oracle
                        for op in self.ops if self.con is not None}
        self.reference: dict[str, tuple] = {}   # noop op -> observed fingerprint
        self.broken: dict[str, str] = {}        # op -> warm-up check failure
        self.rows: dict[str, int] = {}          # op -> generated input rows read
        self.next_id = 0

    # ---------------------------------------------------------------- ops

    def _execute(self, op, warm: bool):
        from sanef_election_dashboard_etl_spark import cache, sinks

        from perfbench import workloads

        rec = self.rec
        t0 = time.perf_counter()
        with rec.span("bench.op"):
            cm = cache.cache_scope()
            scope = cm.__enter__()
            try:
                df = op.build()
                t_build = time.perf_counter()
                if op.csv_path:
                    sinks.write_csv_single(df, op.csv_path)
                    out = None
                elif warm:
                    out = workloads.observed_collect(df)
                else:
                    out = workloads.noop_write(df)
            finally:
                with rec.span("cache.release"):
                    cm.__exit__(None, None, None)
        t1 = time.perf_counter()
        return t1 - t0, t_build - t0, len(scope), out, df

    def _verify(self, op, out) -> str | None:
        from perfbench import check

        if op.name in self.broken:
            return self.broken[op.name]
        if op.csv_path:
            return check.check_csv(op.csv_path, check.HEADERS[op.name],
                                   self.expected[op.name])
        if out != self.reference[op.name]:
            return f"output fingerprint {out} != reference {self.reference[op.name]}"
        return None

    def _sched(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        stages: set[int] = set()
        jobs = st.getJobIdsForGroup(group)
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = ran = 0
        for s in stages:
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks + si.numFailedTasks:
                ran += 1
                tasks += si.numCompletedTasks + si.numFailedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks,
                "failed_tasks": failed}

    def run_op(self, op, phase: str, pass_no: int, warm: bool = False) -> dict:
        op_id = self.next_id
        self.next_id += 1
        group = f"perfbench-{op_id}"
        if self.rec.enabled:
            self.sc.setJobGroup(group, op.name)
        self.rec.op_id = op_id
        acc0 = [a.value for a in self.acc]
        res = {"id": op_id, "op": op.name, "phase": phase, "pass": pass_no}
        t0 = time.perf_counter()
        try:
            lat, build_s, persists, out, df = self._execute(op, warm)
            res.update(latency_s=lat, build_s=build_s, persists=persists)
            if warm:
                out = self._warm_check(op, df, out)
            err = self._verify(op, out)
        except Exception as exc:  # an operation failure is a measurement
            res.update(latency_s=time.perf_counter() - t0, build_s=0.0, persists=0)
            err = f"{type(exc).__name__}: {str(exc).splitlines()[0] if str(exc) else ''}"
            if warm:
                self.broken[op.name] = err
        self.rec.op_id = None
        if err is None and res["latency_s"] > OP_TIMEOUT_S:
            err = f"timeout: {res['latency_s']:.1f}s > {OP_TIMEOUT_S}s"
        res["error"] = err
        res["fetch"] = [a.value - v for a, v in zip(self.acc, acc0)]
        if op.csv_path and os.path.exists(op.csv_path):
            res["csv_bytes"] = os.path.getsize(op.csv_path)
        if self.rec.enabled:
            res["sched"] = self._sched(group)
        if warm:
            self.rows[op.name] = (self._input_rows(df) if err is None else 0) \
                + int(res["fetch"][2])
        if err:
            print(f"[perfbench] FAIL {op.name} ({phase}): {err}", file=sys.stderr)
        return res

    def _warm_check(self, op, df, out):
        """First execution: check a registry op's collected rows against
        its DuckDB oracle and pin its fingerprint as the reference."""
        from perfbench import check

        if op.csv_path:
            return out   # every execution reads its CSV back against DuckDB
        rows, fp = out
        err = check.check_oracle(self.con, self.oracles[op.name], rows, df.columns)
        if err:
            self.broken[op.name] = f"oracle check: {err}"
        self.reference[op.name] = fp
        return fp

    def _input_rows(self, df) -> int:
        total = 0
        for uri in df.inputFiles():
            base = os.path.basename(uri)
            total += self.manifest.get(base[:-8] if base.endswith(".parquet") else base, 0)
        return total

    # -------------------------------------------------------------- passes

    def run_passes(self, phase: str, seconds: float) -> list[list[dict]]:
        """Whole passes over the operations within `seconds`: another pass
        starts while one as long as the last would still end in time."""
        passes: list[list[dict]] = []
        start = time.perf_counter()
        while True:
            t = time.perf_counter()
            passes.append([self.run_op(op, phase, len(passes)) for op in self.ops])
            now = time.perf_counter()
            if 2 * now - t - start > seconds:
                return passes


def end_to_end(bench: Bench, passes: list[list[dict]]) -> dict:
    """op_p50_s is the median across the operations of each one's median
    latency over the passes: a burst of host noise in one execution does
    not move it, and it does not shift with the number of passes."""
    ops = [r for p in passes for r in p]
    lat = [statistics.median(r["latency_s"] for r in ops if r["op"] == op.name)
           for op in bench.ops]
    rates = [sum(bench.rows[r["op"]] for r in p) / sum(r["latency_s"] for r in p)
             for p in passes]
    failed = sum(1 for r in ops if r["error"])
    return {
        "op_p50_s": {"value": statistics.median(lat), "unit": "s"},
        "rows_per_s": {"value": statistics.median(rates), "unit": "1/s"},
        "ok_op_share": {"value": 1.0 - failed / len(ops), "unit": "ratio"},
    }


def per_layer(bench: Bench, rec, untraced: list[list[dict]],
              traced: list[list[dict]], get_spark_s: float, jvm_pid: int) -> dict:
    ops = [r for p in traced for r in p]
    n = len(ops)
    ids = {r["id"] for r in ops}
    spans = rec.spans_of(ids)
    tot = rec.totals(spans)

    def ms(name: str) -> float:
        return tot.get(name, (0, 0.0))[1] * 1000.0 / n

    def calls(name: str) -> float:
        return tot.get(name, (0, 0.0))[0] / n

    def mean(key) -> float:
        return sum(key(r) for r in ops) / n

    def pass_mean(ps) -> float:
        return statistics.fmean(sum(r["latency_s"] for r in p) for p in ps)

    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "session.tune.calls": (calls("session.tune"), "count"),
        "session.tune.ms": (ms("session.tune"), "ms"),
        "catalog.table.calls": (calls("catalog.table"), "count"),
        "catalog.table.ms": (ms("catalog.table"), "ms"),
        "sources.files.read_csv_dim.ms": (ms("sources.files.read_csv_dim"), "ms"),
        "sources.rest.fetch.build_ms": (ms("sources.rest.fetch"), "ms"),
        "sources.rest.fetcher.calls": (mean(lambda r: r["fetch"][0]), "count"),
        "sources.rest.fetcher.ms": (mean(lambda r: r["fetch"][1]), "ms"),
        "sources.rest.fetcher.rows": (mean(lambda r: r["fetch"][2]), "count"),
        "plans.run_pipeline.build_ms": (ms("plans.run_pipeline"), "ms"),
        "operators.build_ms": (ms("operators.registry_fn"), "ms"),
        # Spark is lazy: a registry op's executor work runs in its noop
        # sink's action, so that span is the operators' execution time
        "operators.exec_s": (ms("sinks.noop") / 1000.0, "s"),
        "sinks.write_csv_single.s": (ms("sinks.write_csv_single") / 1000.0, "s"),
        "sinks.csv.bytes": (mean(lambda r: r.get("csv_bytes", 0)), "B"),
        "cache.scope.persists": (mean(lambda r: r["persists"]), "count"),
        "cache.scope.release_ms": (ms("cache.release"), "ms"),
    }
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = (mean(lambda r, k=k: r["sched"][k]), "count")
    self_t = rec.self_times(spans)
    for layer in LAYERS:
        m[f"self_ms.{layer}"] = (self_t.get(layer, 0.0) * 1000.0 / n, "ms")
    # G1 sizes the heap adaptively, so the peak varies ~20% between runs:
    # reported here, without a regression bound
    m["jvm.peak_rss_mb"] = (_vm_hwm_mb(jvm_pid), "MB")
    m["trace.overhead_ms"] = (
        (pass_mean(traced) - pass_mean(untraced)) * 1000.0 / len(bench.ops), "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def op_detail(bench: Bench, rec, traced: list[list[dict]]) -> dict:
    """Per-operation breakdown of the traced passes."""
    out = {}
    for op in bench.ops:
        rs = [r for p in traced for r in p if r["op"] == op.name]
        tot = rec.totals(rec.spans_of({r["id"] for r in rs}))
        d = {"latency_s": statistics.median(r["latency_s"] for r in rs),
             "build_ms": statistics.median(r["build_s"] for r in rs) * 1000.0,
             "input_rows": bench.rows[op.name]}
        d.update({f"{k}.ms": v[1] * 1000.0 / len(rs) for k, v in tot.items()})
        d.update({f"spark.{k}": statistics.fmean(r["sched"][k] for r in rs)
                  for k in ("jobs", "stages", "tasks", "failed_tasks")})
        out[op.name] = d
    return out


def install_patches(rec, bench: Bench) -> None:
    """Wrap the package's public functions each layer exposes."""
    from sanef_election_dashboard_etl_spark import (catalog, cli, queries,
                                                    session, sinks)
    from sanef_election_dashboard_etl_spark.operators import relational
    from sanef_election_dashboard_etl_spark.plans import pipelines
    from sanef_election_dashboard_etl_spark.sources import files, rest

    from perfbench import workloads

    for owner in (session, cli, queries):
        rec.patch(owner, "tune", "session.tune")
    for owner in (catalog, queries):
        rec.patch(owner, "table", "catalog.table")
    rec.patch(files, "read_csv_dim", "sources.files.read_csv_dim")
    rec.patch(files, "read_parquet", "sources.files.read_parquet")
    rec.patch(rest.RestSource, "fetch", "sources.rest.fetch")
    rec.patch(cli, "run_pipeline", "plans.run_pipeline")
    for fn in ("completed_wards",) + tuple(cli.PIPELINES):
        rec.patch(pipelines, fn, f"plans.{fn}")
    for fn in ("having_eq", "dim_join", "anti_join", "semi_join",
               "grouped_sum_count", "dedup_keep_first", "grouped_ordered_concat",
               "stack_pairs"):
        rec.patch(relational, fn, f"operators.relational.{fn}")
    if bench.workload != "election_dashboard":
        for op in bench.ops:
            rec.patch(queries.REGISTRY[op.name], "fn", "operators.registry_fn")
    rec.patch(sinks, "write_csv_single", "sinks.write_csv_single")
    rec.patch(workloads, "noop_write", "sinks.noop")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data")
    ap.add_argument("--work")
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    from sanef_election_dashboard_etl_spark import session

    from perfbench.trace import NullRecorder, Recorder

    t0 = time.perf_counter()
    spark = session.get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    print("READY", flush=True)

    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001
    phases = {}
    t = time.perf_counter()
    bench = Bench(spark, args.workload, args.seed, args.data, args.work,
                  NullRecorder())
    phases["checks_prepared_s"], t = time.perf_counter() - t, time.perf_counter()
    warm = [bench.run_op(op, "warmup", 0, warm=True) for op in bench.ops]
    for n in range(1, WARMUP_PASSES[args.workload]):
        warm += [bench.run_op(op, "warmup", n) for op in bench.ops]
    phases["warmup_s"], t = time.perf_counter() - t, time.perf_counter()
    if args.trace:
        untraced = bench.run_passes("untraced", args.seconds / 2)
        rec = bench.rec = Recorder()
        install_patches(rec, bench)
        traced = bench.run_passes("traced", args.seconds / 2)
        rec.restore()
        measured = untraced + traced
        metrics = per_layer(bench, rec, untraced, traced, get_spark_s, jvm_pid)
        detail = op_detail(bench, rec, traced)
        rec.dump(os.path.join(args.work, f"spans-{args.workload}-{args.seed}.json"))
    else:
        measured = bench.run_passes("measured", args.seconds)
        metrics = end_to_end(bench, measured)
        detail = {op.name: [round(r["latency_s"], 4) for p in [warm] + measured
                            for r in p if r["op"] == op.name] for op in bench.ops}
    phases["measured_s"] = time.perf_counter() - t
    attempted = sum(len(p) for p in measured)
    failed = sum(1 for p in measured for r in p if r["error"])
    result = {"attempted": attempted, "failed": failed,
              "correct": failed == 0 and not any(r["error"] for r in warm),
              "metrics": metrics,
              "detail": {"passes": len(measured), "ops": detail,
                         "input_rows": bench.rows, "phases": phases}}
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    # run.py reaps the JVM and its Python workers with the process group;
    # a graceful SparkContext shutdown would only lengthen every run
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    raise SystemExit(main())
