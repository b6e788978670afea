"""Frequency sketches: count-min sketch and heavy hitters.

North-star extension (SURVEY.md §7 step 4): the reference's only frequency
work is exact group-by counting (SANEF_Uploader.py:300-314 Results counts);
at 100 TB the interesting questions are approximate — "how often does this
token/URL/key occur" without materializing a billion-row exact count table.

Scale design:
- The CMS is represented AS A DATAFRAME of (j, bucket, cnt) rows — depth x
  width rows TOTAL regardless of input cardinality (4 x 256 = 1024 rows for
  the defaults). Building it is one narrow posexplode (depth rows per input
  row, map-side combinable) plus one shuffle keyed by (j, bucket) whose key
  space is exactly depth x width — bounded, uniform (hash buckets), no skew.
- Point estimates broadcast the tiny sketch to the probe side; the probe
  table never shuffles. min() over the depth rows per key is the classic
  CMS upper-bound estimate (Cormode & Muthukrishnan 2005).
- heavy_hitters_fraction is the exact twin: one hash-partial-agg groupBy
  + HAVING. At 100 TB you run the CMS first to find *candidate* hot keys
  cheaply, then verify candidates exactly — same two-phase shape as the
  MinHash candidate/verify split in operators/dedup.py.

Hash portability: `portable=True` uses the md5-derived 60-bit hash
(operators/dedup.py portable_hash) so a DuckDB oracle reproduces the sketch
bit-for-bit; the default xxhash64 path is ~2x faster and is what you run in
production. Both are deterministic (no RNG at eval time), so estimates are
reproducible across runs and cluster layouts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import portable_hash


def _bucket(key: Column, j: int, width: int, portable: bool) -> Column:
    """Row j's bucket for `key`: hash of 'j|key' mod width. Salting the
    hash input with the row index gives depth independent hash functions
    from one base hash."""
    salted = F.concat_ws("|", F.lit(str(j)), key.cast("string"))
    h = portable_hash(salted) if portable else F.xxhash64(salted)
    return F.pmod(h, F.lit(width)).cast("int")


def count_min_sketch(df: DataFrame, key_col: str, depth: int = 4,
                     width: int = 256, portable: bool = False,
                     weight_col: str | None = None) -> DataFrame:
    """Build a count-min sketch of `key_col` as (j, bucket, cnt) rows.

    One posexplode (narrow) + one bounded-key-space groupBy. The result has
    at most depth*width rows — collect-safe and broadcast-safe at any input
    scale, which is the whole point of a sketch.

    `weight_col` (r12): build the SAME sketch from pre-aggregated
    (key, count) rows — cnt(j, bucket) = SUM(weight) over the keys hashing
    there, exactly the integers the raw-row build produces (the standard
    weighted CMS update). Callers that already materialize per-key counts
    (sketch_cms_tokens keeps the exact counts next to the estimates) hash
    depth x |distinct keys| values instead of depth x |rows| — one corpus
    pass and O(vocab) md5 work instead of two passes and O(corpus) — and
    the shared counts subtree is exchange-reused with the exact branch at
    runtime (OPTIMIZATION_r12.md gives the before/after stage counts).

    Weight contract: every weight must be non-NULL and non-negative. SUM
    would skip a NULL, and a negative weight breaks the never-
    underestimates invariant, so either would silently diverge from the
    raw-row build. Both are ENFORCED with raise_error (the numeric.py
    GUARD style): the action fails instead of returning a wrong sketch."""
    key = F.col(key_col)
    buckets = F.array(*[_bucket(key, j, width, portable)
                        for j in range(depth)])
    if weight_col is None:
        return (df.select(F.posexplode(buckets).alias("j", "bucket"))
                  .groupBy("j", "bucket")
                  .agg(F.count(F.lit(1)).alias("cnt")))
    w = F.col(weight_col)
    checked = F.when(w.isNull() | (w < 0), F.raise_error(F.lit(
        f"count_min_sketch: weight_col {weight_col!r} must be non-NULL "
        "and non-negative"))).otherwise(w)
    return (df.select(F.posexplode(buckets).alias("j", "bucket"),
                      checked.alias("__w"))
              .groupBy("j", "bucket")
              .agg(F.sum("__w").cast("long").alias("cnt")))


def cms_estimate(sketch: DataFrame, probes: DataFrame, key_col: str,
                 depth: int = 4, width: int = 256,
                 portable: bool = False) -> DataFrame:
    """Estimate each probe key's frequency from a sketch built with the
    SAME (depth, width, portable) parameters.

    Returns (key, est_count). est_count >= true count always (CMS never
    underestimates); the overestimate shrinks as width grows. The sketch is
    broadcast (<= depth*width rows); probes never shuffle except the final
    per-key min, which is keyed by the probe key itself."""
    key = F.col(key_col)
    buckets = F.array(*[_bucket(key, j, width, portable)
                        for j in range(depth)])
    probe_buckets = probes.select(
        key.alias("key"), F.posexplode(buckets).alias("j", "bucket"))
    return (probe_buckets
            .join(F.broadcast(sketch), ["j", "bucket"], "left")
            .na.fill({"cnt": 0})  # empty bucket => estimate 0 from that row
            .groupBy("key")
            .agg(F.min("cnt").alias("est_count")))


def heavy_hitters_fraction(df: DataFrame, key_col: str, num: int = 1,
                           den: int = 50) -> DataFrame:
    """Exact heavy hitters with a scale-invariant threshold: keys whose
    count is >= num/den of all rows (default 2%).

    The threshold compares `cnt * den >= total * num` — pure integer
    arithmetic, so the cutoff is bit-identical across engines (a float
    `cnt >= 0.02 * total` would hinge on decimal-vs-double literal typing).
    The 1-row total is broadcast; only the key groupBy shuffles."""
    counts = (df.groupBy(F.col(key_col).alias("key"))
                .agg(F.count(F.lit(1)).alias("cnt")))
    total = counts.agg(F.sum("cnt").cast("long").alias("total"))
    return (counts.crossJoin(F.broadcast(total))
                  .filter(F.col("cnt") * den >= F.col("total") * num)
                  .select("key", "cnt"))


def hll_shard_cardinality(df: DataFrame, key_col: str, shard_col: str,
                          lg_k: int = 12) -> DataFrame:
    """Mergeable distinct-count: one Datasketches HLL sketch per shard
    (hll_sketch_agg), merged to a global estimate (hll_union_agg) without
    ever re-touching the raw rows.

    THIS is the 100 TB count-distinct pattern: exact count_distinct needs
    a shuffle of every distinct key to one reducer per group; sketches
    make the second phase O(shards x 2^lg_k bytes) — per-shard sketches
    build map-side, the union reduces ~KB-sized binaries, and historical
    shards' sketches can be persisted and re-merged forever without
    re-reading the data (the property exact counts can never have).
    Estimate error ~1.04/sqrt(2^lg_k) (~1.6% at the lg_k=12 default).

    Output: one row per shard plus the '<all>' union row —
    (shard, est_distinct, n_rows). Estimates are DETERMINISTIC for a
    given input (the sketch hash is seeded), so the output is stable
    across runs and partitionings; there is no SQL-expressible DuckDB
    twin (its HLL differs), so the registry entry is rows-only with
    a13_count_distinct as the exact oracle-checked sibling."""
    per = (df.groupBy(F.col(shard_col).alias("shard"))
             .agg(F.hll_sketch_agg(key_col, F.lit(lg_k)).alias("sk"),
                  F.count(F.lit(1)).alias("n_rows")))
    shard_rows = per.select(
        "shard", F.hll_sketch_estimate("sk").alias("est_distinct"),
        "n_rows")
    union_row = per.agg(
        F.lit("<all>").alias("shard"),
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
         .alias("est_distinct"),
        F.sum("n_rows").cast("long").alias("n_rows"))
    return shard_rows.unionByName(union_row)
