"""Data-layout clustering: Z-order (Morton) multi-column co-sort.

North-star extension (SURVEY.md §7 step 4): the reference writes its CSV
outputs in whatever order the query produced (SANEF_Uploader.py:70-76,
df.to_csv) — at 605-line/10-file scale layout is irrelevant. At 100 TB it
is decisive: parquet row-group min/max pruning only skips data when rows
that are close in *key space* are close in *file space*. A plain sort
clusters one column; Z-ordering interleaves the bits of several columns
so a range predicate on ANY of them prunes row groups.

Scale design:
- `z_value` is a pure bit-interleave expression — fully native
  (shiftright / bitwiseAND / shiftleft folded with bitwiseOR), stays
  inside whole-stage codegen, no UDF and no extra pass.
- Column normalization (min-max -> bits-wide integer rank space) needs
  one global min/max per column: a single tiny agg broadcast back via
  crossJoin — O(1) rows moved, never a per-row shuffle.
- `z_order` then does ONE range-repartition shuffle on the z-value plus
  an in-partition sort. That is the same shuffle count as a plain
  `ORDER BY`, so Z-ordering is free relative to any sorted write.
- Integer-exact math throughout (floor division on an exactly-divisible
  numerator) so an engine-portable oracle reproduces z-values
  bit-for-bit. Exactness bound: (max-min) * (2**bits - 1) must stay
  below 2**53 (double-exact integers) — with 16 bits/column that allows
  key spans up to ~1.37e11, far past any TPC-H key space.

Choosing `bits`: per-column resolution. bits*ncols must stay < 63
(BIGINT); 8-16 bits/column is the usual operating point — row-group
pruning only needs enough resolution to separate row groups, not rows.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def z_value(cols: Sequence[Column], bits: int = 8) -> Column:
    """Morton-interleave the low `bits` bits of each column (already
    scaled to [0, 2**bits)): output bit (i*ncols + j) = bit i of col j.
    Pure codegen-friendly expression: bits*ncols OR-folded terms."""
    n = len(cols)
    if bits * n > 62:
        raise ValueError(f"bits*ncols = {bits * n} exceeds BIGINT range")
    terms = [
        F.shiftleft(
            F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)),
            i * n + j)
        for j, c in enumerate(cols)
        for i in range(bits)
    ]
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def scale_expr(col: Column, cmin: Column, cmax: Column,
               bits: int = 8) -> Column:
    """Min-max scale an integer column into [0, 2**bits) using exact
    integer arithmetic — (v - min) * (2**bits - 1) floor-div (max - min),
    computed as (num - num % span) / span so the division is exact and
    DuckDB's `//` reproduces it bit-for-bit. Constant columns map to 0."""
    span = cmax.cast("long") - cmin.cast("long")
    num = (col.cast("long") - cmin.cast("long")) * F.lit((1 << bits) - 1)
    exact_div = ((num - F.pmod(num, span)) / span).cast("long")
    return F.when(span == F.lit(0), F.lit(0).cast("long")) \
            .otherwise(exact_div)


def with_z_value(df: DataFrame, cols: Sequence[str], bits: int = 8,
                 out_col: str = "z") -> DataFrame:
    """Append the Morton z-value of integer columns `cols` as `out_col`.

    One tiny global-agg pass for per-column min/max (broadcast crossJoin,
    O(1) rows moved), then a single narrow projection for the scale +
    interleave — the input never shuffles."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    bounds = df.agg(*aggs)
    scaled = [
        scale_expr(F.col(c), F.col(f"__min_{c}"), F.col(f"__max_{c}"), bits)
        for c in cols
    ]
    return (df.crossJoin(F.broadcast(bounds))
              .withColumn(out_col, z_value(scaled, bits))
              .drop(*[f"__min_{c}" for c in cols],
                    *[f"__max_{c}" for c in cols]))


def z_order(df: DataFrame, cols: Sequence[str], bits: int = 8,
            num_partitions: int | None = None) -> DataFrame:
    """Cluster `df` for multi-column pruning: range-repartition on the
    z-value and sort within partitions, then drop the helper column.

    Exactly one shuffle (RangePartitioning on z) — the same cost as a
    plain sorted write, but min/max parquet footers now prune on EVERY
    z'd column. Write the result with `df.write.parquet(...)`."""
    zdf = with_z_value(df, cols, bits=bits, out_col="__z")
    if num_partitions:
        zdf = zdf.repartitionByRange(num_partitions, F.col("__z"))
    else:
        zdf = zdf.repartitionByRange(F.col("__z"))
    return zdf.sortWithinPartitions("__z").drop("__z")


def bucketed_write(df: DataFrame, table: str, keys: Sequence[str],
                   n_buckets: int, sort_keys: Sequence[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Write `df` as a bucketed (hash-clustered) parquet table: rows are
    hash-partitioned on `keys` into `n_buckets` files per write task,
    optionally sorted by `sort_keys` within each bucket.

    THE co-located-join layout at 100 TB: two tables bucketed on the
    same key with the same bucket count join with ZERO exchanges — the
    bucket spec replaces the shuffle both sides would otherwise pay on
    EVERY join (Exchange elimination is test- and audit-asserted, and
    measured in SCALE.md BUCKETING). Same story for aggregations on the
    bucket key: the partial agg becomes final directly. `sort_keys`
    additionally drop the per-join sort (SortMergeJoin reads the bucket
    files already ordered).

    Worth paying one up-front clustered write when a fact table is
    joined/aggregated on the same key repeatedly (the fact-to-fact
    orders x lineitem shape where neither side broadcasts); pick
    n_buckets so one bucket ~ one task's worth of data (128-512 MB).
    Bucket pruning also applies: an equality predicate on the bucket
    key scans 1/n_buckets of the files.

    The reference re-reads its SQL tables per query with no layout
    control (SANEF_Uploader.py:33-38); this is the Spark-native answer
    to the repeated self-join workloads it runs row-at-a-time.

    Uses the session catalog (`saveAsTable` — bucket metadata lives in
    the metastore; a path-based parquet write cannot carry it). With the
    default in-memory catalog a PREVIOUS session's managed-table
    directory can survive in the warehouse with no catalog entry, which
    makes saveAsTable refuse (LOCATION_ALREADY_EXISTS) even in
    overwrite mode — so an overwrite first drops the table and any
    orphaned location."""
    if mode == "overwrite":
        import os
        import shutil
        from urllib.parse import urlparse

        spark = df.sparkSession
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")
        wh = spark.conf.get("spark.sql.warehouse.dir")
        wh_path = urlparse(wh).path if "://" in wh or wh.startswith("file:") \
            else wh
        shutil.rmtree(os.path.join(wh_path, table.lower()),
                      ignore_errors=True)
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *keys)
    if sort_keys:
        w = w.sortBy(*sort_keys)
    w.saveAsTable(table)


def partitioned_write(df: DataFrame, path: str,
                      partition_by: Sequence[str],
                      mode: str = "overwrite") -> str:
    """Hive-style directory partitioning — the third layout tool next to
    Z-order (range clustering) and buckets (hash clustering): rows land
    in `path/key=value/` directories, and a literal predicate on the
    partition key becomes a PartitionFilter that skips whole directories
    at PLANNING time (no file is opened, no row group read — stronger
    than min/max pruning, which still reads footers).

    The 100 TB operating rules encoded here:
    - partition keys must be COARSE (date, region, source): each distinct
      value is a directory; a high-cardinality key (user_id) creates
      millions of tiny files and kills the driver's file listing. Use
      Z-order/buckets for fine keys.
    - the write shuffles on the partition key first (`repartition` on the
      key) so each task writes each directory once — without it, every
      input task appends a file into every directory (tasks x values
      small files, the classic partitioned-write mistake).
    - dynamic overwrite replaces only the directories the new data
      touches (partitionOverwriteMode=dynamic), the idiom for daily
      re-ingestion into a date-partitioned corpus: rewriting one day
      never touches the other 10 years.

    The reference rewrites whole CSVs per run (SANEF_Uploader.py:70-76);
    date-partitioned parquet is the Spark-native equivalent of its
    per-election-cycle output files, with pruning for free."""
    (df.repartition(*[F.col(c) for c in partition_by])
       .write.format("parquet").mode(mode)
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy(*partition_by).save(path))
    return path


def global_row_number(df: DataFrame, order_by: Sequence[str],
                      id_alias: str = "global_id",
                      num_partitions: int | None = None) -> DataFrame:
    """Contiguous 1-based global row numbers in `order_by` order WITHOUT a
    single-partition sort — the scalable zipWithIndex, DataFrame-native.

    Training pipelines need a deterministic dense index over the corpus
    (sample ids for shard manifests, resumable epoch cursors, eval-split
    bookkeeping). The naive `row_number() OVER (ORDER BY ...)` plans a
    global window: every row exchanges into ONE partition and one task
    numbers 100 TB alone. This op keeps the work distributed:

    1. ONE range-repartition shuffle (`repartitionByRange` + in-partition
       sort) — the same exchange any total ORDER BY pays, no more — then
       `localCheckpoint` pins the materialized partitions so the two
       reads below see identical layout (range sampling is re-executed
       otherwise, and the count/number passes could disagree).
    2. A per-partition COUNT — the only thing collected is one row per
       partition (metadata-sized, like AQE stats), cumulated into start
       offsets on the driver and closed over by the numbering stage.
    3. An Arrow `mapInPandas` pass that assigns offset + local position
       per batch — no second shuffle, no Python row loop; ids are
       `np.arange` per batch.

    Range partition i holds keys <= partition i+1's, so
    offset(i) + local rank == global rank exactly. `order_by` must be a
    TOTAL order (include a unique tiebreak column) for the ids to be
    reproducible run-to-run and engine-to-engine.

    `localCheckpoint` materializes the ENTIRE dataset on executor local
    storage (memory spilling to disk) with NON-RELIABLE lineage: losing
    any executor after the checkpoint fails the job, and the
    local-storage footprint is the full corpus — the right price at
    notebook/job scale (no HDFS round-trip).

    Scale notes: cost is one range exchange + one metadata agg; the
    numbering stage is narrow. Skewed key ranges are the range
    partitioner's problem (its sampling equalizes rows per partition,
    not key spans), so heavy duplicate keys still spread as long as the
    tiebreak column differs. Reference parity: SANEF_Uploader.py has no
    index assignment (pandas RangeIndex is implicit); this is the §7
    extension surface for dataset manifests.
    """
    import numpy as np
    from pyspark.sql.types import LongType, StructField, StructType

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_by]
    ranged = (df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
              .localCheckpoint(eager=True))
    with_pid = ranged.withColumn("__pid", F.spark_partition_id())
    counts = {int(r["__pid"]): int(r["cnt"]) for r in
              with_pid.groupBy("__pid").agg(
                  F.count(F.lit(1)).alias("cnt")).collect()}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = StructType(
        list(ranged.schema.fields) + [StructField(id_alias, LongType())])

    def number_partition(batches):
        base = None
        pos = 0
        for pdf in batches:
            k = len(pdf)
            if k:
                if base is None:
                    base = offsets[int(pdf["__pid"].iloc[0])]
                ids = np.arange(base + pos + 1, base + pos + 1 + k,
                                dtype="int64")
                pos += k
            else:
                ids = np.empty(0, dtype="int64")
            out = pdf.drop(columns="__pid")
            out[id_alias] = ids
            yield out

    return with_pid.mapInPandas(number_partition, out_schema)


def epoch_shuffle(df: DataFrame, id_col: str, seed: int = 0,
                  id_alias: str = "global_id",
                  num_partitions: int | None = None) -> DataFrame:
    """Seeded global permutation of a corpus with dense 1-based position
    ids — the reproducible epoch shuffle a training data loader consumes.

    Orders rows by `md5(id || ':' || seed)` (engine-portable: identical
    hex in Spark and DuckDB, so the permutation is verifiable against a
    plain ROW_NUMBER oracle) with `id_col` as the total-order tiebreak,
    then assigns positions via `global_row_number` — one range shuffle,
    never a single-partition sort. A new `seed` is a fresh independent
    permutation; same seed is bit-identical run-to-run.
    """
    key = F.md5(F.concat(F.col(id_col).cast("string"),
                         F.lit(f":{seed}"))).alias("__shuffle_key")
    keyed = df.select(key, "*")
    numbered = global_row_number(keyed, ["__shuffle_key", id_col],
                                 id_alias=id_alias,
                                 num_partitions=num_partitions)
    return numbered.drop("__shuffle_key")
