"""Micro-batch profile of the streaming operators (VERDICT r11 item 6).

The streaming surface (streaming/windows.py, streaming/stateful.py) is
covered by end-to-end tests but had never been PROFILED — its batch
twins (events_tumbling, events_sessionize) are benched, the streaming
plans were only asserted. This tool drives each streaming operator the
way the tests do (file source over the fixture's events table, memory
sink, processAllAvailable) and reports the engine's own per-batch
timings from StreamingQueryProgress: triggerExecution (total),
addBatch (the plan execution), getBatch/latestOffset (source), plus
state-store rows/memory for the stateful ones.

The fixture events table is staged once into N parquet files in a temp
dir so every operator sees the same source split into `--batches`
micro-batches (maxFilesPerTrigger=1) — per-batch numbers are therefore
comparable across operators. Side-effect-free: writes only under /tmp.

Usage: python tools/streaming_profile.py [--sf-dir /root/testdata/sf0.1]
       [--batches 4] [--ops op1,op2,...]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sanef_election_dashboard_etl_spark import catalog, session as SESS
from sanef_election_dashboard_etl_spark.streaming import stateful, windows


def stage_source(spark, sf_dir: str, out: str, batches: int) -> str:
    ev = catalog.table(spark, sf_dir, "events")
    src = os.path.join(out, "events_src")
    ev.repartition(batches).write.mode("overwrite").parquet(src)
    return src


def read_stream(spark, src: str):
    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src))


def profile(name: str, stream_df, out_mode: str = "update"):
    q = (stream_df.writeStream.format("memory").queryName(f"p_{name}")
         .outputMode(out_mode).start())
    q.processAllAvailable()
    progs = [p for p in (q.recentProgress or []) if p.get("numInputRows")]
    rows = []
    for p in progs:
        d = p.get("durationMs", {})
        st = p.get("stateOperators") or []
        rows.append({
            "rows": p.get("numInputRows", 0),
            "trigger_ms": d.get("triggerExecution", 0),
            "addBatch_ms": d.get("addBatch", 0),
            "getBatch_ms": d.get("getBatch", 0) + d.get("latestOffset", 0),
            "state_rows": sum(s.get("numRowsTotal", 0) for s in st),
            "state_MB": round(sum(s.get("memoryUsedBytes", 0)
                                  for s in st) / 2**20, 2),
        })
    q.stop()
    total_trig = sum(r["trigger_ms"] for r in rows)
    total_add = sum(r["addBatch_ms"] for r in rows)
    print(f"== {name}: {len(rows)} batches, "
          f"trigger total {total_trig} ms, addBatch total {total_add} ms ==")
    print("  rows  trig_ms  addB_ms  getB_ms  state_rows  state_MB")
    for r in rows:
        print(f"  {r['rows']:>5} {r['trigger_ms']:>7} {r['addBatch_ms']:>7} "
              f"{r['getBatch_ms']:>7} {r['state_rows']:>10} {r['state_MB']:>8}")
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--ops", default="")
    args = ap.parse_args()

    cpus = SESS.default_parallelism()
    from pyspark.sql import SparkSession
    spark = SESS.tune(
        SparkSession.builder.appName("streaming-profile")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # recentProgress keeps only this many updates (default 100); room
        # for every data batch plus a no-data batch after each, so the
        # per-batch totals never undercount a large --batches
        .config("spark.sql.streaming.numRecentProgressUpdates",
                str(max(100, 2 * args.batches)))
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="stream_profile_")
    try:
        src = stage_source(spark, args.sf_dir, tmp, args.batches)
        ckroot = os.path.join(tmp, "ck")

        def ck(name):
            return os.path.join(ckroot, name)

        stream = read_stream(spark, src)
        wm = windows.with_watermark(stream, "ts", "10 minutes")

        ops = {
            "tumbling_counts": lambda: windows.tumbling_counts(wm),
            "sliding_counts": lambda: windows.sliding_counts(wm),
            "session_counts": lambda: windows.session_counts(wm),
            "dedup_stream": lambda: windows.dedup_stream(
                stream, ["user_id", "event_type"]),
            "enrich_stream": lambda: windows.enrich_stream(
                stream,
                catalog.table(spark, args.sf_dir, "events")
                .select("event_type").distinct()
                .withColumn("dim_attr", F.length("event_type")),
                "event_type"),
            "interval_join_streams": lambda: windows.interval_join_streams(
                read_stream(spark, src).where("event_type = 'click'"),
                read_stream(spark, src).where("event_type = 'purchase'"),
                "user_id"),
            "running_totals": lambda: stateful.running_totals(stream),
        }
        append_mode = {"tumbling_counts", "sliding_counts", "session_counts",
                       "dedup_stream", "enrich_stream",
                       "interval_join_streams"}
        wanted = [o for o in args.ops.split(",") if o] or list(ops)
        for name in wanted:
            spark.conf.set("spark.sql.streaming.checkpointLocation", ck(name))
            mode = "append" if name in append_mode else "update"
            try:
                profile(name, ops[name](), out_mode=mode)
            except Exception as exc:  # noqa: BLE001 — report and move on
                print(f"== {name}: FAILED — {type(exc).__name__}: "
                      f"{str(exc).splitlines()[0][:160]}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
