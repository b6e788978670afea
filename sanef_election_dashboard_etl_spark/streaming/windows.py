"""Structured Streaming surface (SURVEY.md §2.10 / §7 extension).

The reference is a cron-rerun batch snapshot (full overwrite per run,
SANEF_Uploader.py:61). Its streaming generalization: the same DataFrame
transformations applied to a `readStream` source with watermarked event-time
windows, and the dashboard upload as a `foreachBatch` sink.

Every builder here works on BOTH batch and streaming DataFrames (the
transformations are identical by design — that is the point of Structured
Streaming), so batch tests validate semantics and one streaming test
validates wiring. Epoch-bucket variants of these windows (used by the
oracle-checked batch queries) live in queries.py; these use native
`F.window`/`F.session_window`, the scale path with watermark state cleanup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_watermark(df: DataFrame, ts_col: str = "ts",
                   delay: str = "10 minutes") -> DataFrame:
    """Late-data bound: state for windows older than max(event time) - delay
    is dropped — unbounded state is the #1 streaming-at-scale failure."""
    return df.withWatermark(ts_col, delay)


def tumbling_counts(df: DataFrame, duration: str = "5 minutes",
                    ts_col: str = "ts", keys: tuple[str, ...] = ("event_type",),
                    value_col: str = "value") -> DataFrame:
    """Tumbling event-time window aggregation (counts + sum)."""
    return (df.groupBy(F.window(ts_col, duration).alias("w"), *keys)
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(value_col).alias("total_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"), *keys,
                    "n_events", "total_value"))


def sliding_counts(df: DataFrame, duration: str = "10 minutes",
                   slide: str = "5 minutes", ts_col: str = "ts",
                   keys: tuple[str, ...] = ("event_type",)) -> DataFrame:
    """Sliding (overlapping) event-time windows."""
    return (df.groupBy(F.window(ts_col, duration, slide).alias("w"), *keys)
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"), *keys, "n_events"))


def session_counts(df: DataFrame, gap: str = "30 minutes", ts_col: str = "ts",
                   key: str = "user_id") -> DataFrame:
    """Native session windows (gap-based). In streaming mode requires a
    watermark; state per open session only."""
    return (df.groupBy(F.session_window(ts_col, gap).alias("w"), key)
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(key, F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "n_events"))


def run_to_memory_sink(stream_df: DataFrame, query_name: str,
                       output_mode: str = "update"):
    """Test harness: drive a streaming plan into an in-memory table.
    Caller awaits `processAllAvailable()` then reads `SELECT * FROM name`."""
    return (stream_df.writeStream.format("memory")
            .queryName(query_name).outputMode(output_mode).start())


def foreach_batch_upload(result: DataFrame, write_batch) -> "object":
    """S9 streaming sink: per micro-batch, hand the (small) result to the
    driver-side upload adapter — the reference's full-overwrite POST
    (SANEF_Uploader.py:57-64) becomes `write_batch(df, epoch_id)`."""
    return (result.writeStream.outputMode("complete")
            .foreachBatch(write_batch).start())


def dedup_stream(df: DataFrame, keys: list[str], ts_col: str = "ts",
                 delay: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: keep the first event per `keys` within the
    watermark horizon (dropDuplicatesWithinWatermark) — the ingestion-time
    twin of batch exact_dedup. State is bounded by the watermark delay:
    a key's entry is evicted once the watermark passes its event time, so
    memory is O(arrival rate x delay), not O(stream history). Use content
    fingerprints (dedup.fingerprint) as the key for doc-level dedup of a
    document firehose."""
    return (df.withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(keys))


def enrich_stream(stream: DataFrame, dim: DataFrame, key: str,
                  how: str = "left") -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to each
    streaming row (the reference's per-row lookup loops, as a join the
    micro-batch planner re-executes against the CURRENT dim snapshot
    every batch — a dim refresh is picked up without restarting the
    query). Stateless: no watermark needed, unmatched rows pass through
    with nulls under `how='left'`. At scale the dim side behaves like
    any batch join build side (broadcast when small); the stream side
    is never shuffled for a broadcast build."""
    return stream.join(F.broadcast(dim), key, how)


def interval_join_streams(left: DataFrame, right: DataFrame, key: str,
                          left_ts: str = "ts", right_ts: str = "ts",
                          within: str = "15 minutes",
                          left_delay: str = "10 minutes",
                          right_delay: str = "10 minutes") -> DataFrame:
    """Stream-stream inner join bounded by an event-time interval: a
    right-stream event matches a left-stream event with the same `key`
    whose timestamp falls in [right_ts - within, right_ts]. The batch
    twin is temporal.interval_join (j12); here both sides are unbounded,
    so BOTH invariants that make stream-stream joins viable at scale are
    mandatory and encoded rather than left to the caller:

    - watermarks on both inputs (state for rows older than the watermark
      is dropped — without them the join buffers both streams forever);
    - a time-range predicate tying the two event times (gives the state
      manager an eviction bound per row, state is O(rate x horizon)).

    Column hygiene: the right ts is exposed as `{right_ts}_r` so self-
    joins of one source (e.g. clicks x purchases split from a single
    events stream) don't collide."""
    lt, rt = F.col(f"l.{left_ts}"), F.col(f"r.{right_ts}")
    l = left.withWatermark(left_ts, left_delay).alias("l")
    r = right.withWatermark(right_ts, right_delay).alias("r")
    cond = ((F.col(f"l.{key}") == F.col(f"r.{key}"))
            & (lt >= rt - F.expr(f"INTERVAL {within}"))
            & (lt <= rt))
    drop_r_key = F.col(f"r.{key}")
    return (l.join(r, cond, "inner")
            .withColumn(f"{right_ts}_r", rt)
            .drop(drop_r_key).drop(rt))


def observe_stream(df: DataFrame, name: str, metrics: dict) -> DataFrame:
    """Per-micro-batch pipeline metrics with ZERO extra passes: `observe`
    attaches named aggregate expressions to the streaming plan, and each
    batch's values arrive in that batch's StreamingQueryProgress under
    `observedMetrics[name]` (read them in a StreamingQueryListener's
    onQueryProgress, or from `query.lastProgress`). The ingest monitors
    (rows admitted, nulls seen, drift inputs) ride the batch job itself
    instead of a second aggregation over the micro-batch."""
    return df.observe(name, *[c.alias(n) for n, c in metrics.items()])
