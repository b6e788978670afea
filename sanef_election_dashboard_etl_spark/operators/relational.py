"""Relational operator library (SURVEY.md §2, operator ids P/E/J/A/W/O/U/R).

Each function is a pure DataFrame -> DataFrame (or Column) transformation,
named after the reference behavior it re-expresses, with the reference
citation in its docstring. Design rules (SURVEY.md §4):

- Declarative only: Catalyst handles pushdown, pruning, join strategy.
- Dimension joins take an explicit `broadcast=True` default — the
  reference's Wards/Munis/Party tables are tiny and must never shuffle.
- No driver-side loops, no collect(): the reference's N+1 per-ward query
  loops (SANEF_Uploader.py:110-124, :170-184, :466-491) become single joins.
- Determinism: anything order-sensitive (keep-first dedup, grouped string
  concat) takes explicit ordering, because pandas' implicit input order
  does not exist in a distributed engine.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# Projections / filters (P1-P8)
# --------------------------------------------------------------------------


def project_rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """P1: project + rename, the reference's per-row dict construction
    (SANEF_Uploader.py:79-85, :118-124). mapping: src col -> out name."""
    return df.select(*[F.col(src).alias(dst) for src, dst in mapping.items()])


def filter_conj(df: DataFrame, *preds: Column) -> DataFrame:
    """P3/P4: conjunctive predicate (SANEF_Uploader.py:112, :172, :270).
    Catalyst pushes the conjunction into the source scan."""
    out = df
    for p in preds:
        out = out.filter(p)
    return out


def having_eq(df: DataFrame, keys: Sequence[str], agg: Column,
              alias: str, value) -> DataFrame:
    """P5: filter-on-aggregate (HAVING) — the reference's zero-vote voting
    district subquery (SANEF_Uploader.py:390-396)."""
    return (df.groupBy(*keys).agg(agg.alias(alias))
            .filter(F.col(alias) == value))


def drop_null(df: DataFrame, *cols: str) -> DataFrame:
    """P8: null-drop on fetched results (SANEF_Uploader.py:577)."""
    return df.na.drop(subset=list(cols))


# --------------------------------------------------------------------------
# Joins (J1-J7)
# --------------------------------------------------------------------------


def dim_join(fact: DataFrame, dim: DataFrame, on, how: str = "inner",
             broadcast: bool = True) -> DataFrame:
    """J1/J2/J5/J6: fact x small-dimension equi-join
    (SANEF_Uploader.py:223, :278, :344-345, :408-411, :580).

    Broadcast by default: at 100 TB the fact side never moves — a hash map
    of the dim ships to every executor and the join is map-side, shuffle-free.
    """
    d = F.broadcast(dim) if broadcast else dim
    return fact.join(d, on, how)


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J4: LEFT JOIN ... IS NULL rewritten as a true anti-join
    (SANEF_Uploader.py:385-401). Catalyst plans broadcast-anti when the
    right side is small, else a shuffled hash anti — both beat
    materializing the outer join."""
    return left.join(right, on, "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """J7 (filter form): fact ⋉ key-set. Replaces the reference's N+1
    one-query-per-ward loops (SANEF_Uploader.py:110-124) with one
    distributed join."""
    return left.join(right, on, "left_semi")


# --------------------------------------------------------------------------
# Aggregations (A1-A11)
# --------------------------------------------------------------------------


def grouped_sum_count(df: DataFrame, keys: Sequence[str], flag: Column,
                      sum_alias: str = "flagged",
                      cnt_alias: str = "total") -> DataFrame:
    """A1+A2+J3 fused: the reference computes sum(bHung) and count(bHung)
    as two groupbys then merges them (SANEF_Uploader.py:228-231); one
    grouped aggregation is semantically identical and removes a join —
    an intentional rewrite (SURVEY.md §2.4 J3)."""
    return df.groupBy(*keys).agg(
        F.sum(flag.cast("long")).alias(sum_alias),
        F.count(F.lit(1)).alias(cnt_alias),
    )


def dedup_keep_first(df: DataFrame, keys: Sequence[str],
                     order_by: Sequence[Column]) -> DataFrame:
    """A8/A9: deterministic keep-first dedup.

    pandas `drop_duplicates(subset=...)` keeps the first row in input order
    (SANEF_Uploader.py:474); a distributed engine has no input order, so the
    tie-break is an explicit `order_by`. Implemented as row_number over a
    window — one shuffle on `keys`, no join."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def grouped_ordered_concat(df: DataFrame, key: str, item: Column,
                           order_by: Column, alias: str,
                           prefix: str = "", suffix: str = "") -> DataFrame:
    """A10: per-group ordered string fold — the reference's per-province
    <ul><li>... HTML build (SANEF_Uploader.py:283-299).

    pandas iterates groups in input order; here the order is explicit:
    collect (order_key, item) structs, sort_array (sorts by the struct's
    first field), then join. Stays in native expressions — no UDAF."""
    pairs = F.collect_list(F.struct(order_by.alias("o"), item.alias("i")))
    ordered = F.transform(F.sort_array(pairs), lambda s: s["i"])
    return df.groupBy(key).agg(
        F.concat(F.lit(prefix), F.array_join(ordered, ""), F.lit(suffix)).alias(alias)
    )


def window_total(df: DataFrame, value: Column, alias: str,
                 partition_by: Sequence[str] = ()) -> DataFrame:
    """A6/W1: whole-frame (or per-group) total attached as a column
    (SANEF_Uploader.py:471-472). Empty partitionBy = global total: fine at
    dashboard result sizes, a deliberate single-partition bottleneck at
    100 TB — callers at scale pass partition keys."""
    w = Window.partitionBy(*[F.col(c) for c in partition_by])
    return df.withColumn(alias, F.sum(value).over(w))


# --------------------------------------------------------------------------
# Windows (W2 + engine surface)
# --------------------------------------------------------------------------


def rank_in_group(df: DataFrame, keys: Sequence[str],
                  order_by: Sequence[Column], alias: str = "rank") -> DataFrame:
    """W2/O3 generalized: row_number per group with a total (deterministic)
    ordering — the engine's top-k-per-key primitive."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(alias, F.row_number().over(w))


def lag_delta(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column],
              value: Column, alias: str = "delta") -> DataFrame:
    """Per-key ordered difference (engine surface for sessionization §7)."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return df.withColumn(alias, value - F.lag(value).over(w))


# --------------------------------------------------------------------------
# Total sort (O1)
# --------------------------------------------------------------------------

MID_SORT_BYTES = 256 << 20  # est units; past this, session config/AQE rules


def total_sort(df: DataFrame, *order_by: Column | str,
               small_bytes: int = 8 << 20) -> DataFrame:
    """O1: total sort (the reference's whole-frame `sort_values`,
    SANEF_Uploader.py:433).

    Large inputs take Spark's native path: range-sampling pass to pick
    partition bounds, range exchange, per-partition Tungsten sort — the
    only strategy that scales (partitions sort independently; output is
    globally ordered by partition id). That is the 100 TB path.

    Small inputs (Catalyst-estimated plan size <= ``small_bytes``) skip
    the sampling job and the exchange entirely: ``coalesce(1) +
    sortWithinPartitions`` is a single-stage single-partition sort. At
    result/dashboard scale the extra range-sampling *job* (a full second
    pass over the input) costs more than the sort itself — measured at
    sf0.1 (600k rows) it is ~2x the whole query (SCALE.md 'full sort').
    The decision reads Catalyst's sizeInBytes statistic driver-side (no
    job runs) — the same signal AQE uses to re-plan exchanges; with a
    parquet source it reflects file size scaled by column pruning, so it
    is available before any action. Falls back to the scalable path if
    statistics are unavailable (e.g. Spark Connect).

    Threshold calibration (measured at sf1, 6M rows): the parquet-backed
    estimate is COMPRESSED bytes x pruning fraction and undersells the
    in-memory row size ~7x, so the threshold must be set in estimate
    units, not in-memory units. 8 MB est (~2M narrow rows) is the
    crossover: below it the single-stage sort wins (sf0.1: 2.5 MB est,
    0.25s vs 0.65s range); above it the parallel range sort wins (sf1:
    25 MB est, 0.55s at 16 partitions vs 2.5s single-stage — the 64 MB
    r4-initial threshold mis-routed sf1 to coalesce(1) and lost 4.5x).
    """
    try:
        est = int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except Exception:  # pragma: no cover - connect / stats unavailable
        est = small_bytes + 1
    if est <= small_bytes:
        return df.coalesce(1).sortWithinPartitions(*order_by)
    if est <= MID_SORT_BYTES:
        # Mid-size range sort: pin the partition count from the estimate
        # (~2 MB est per partition ~ one in-memory sort run per core-sized
        # chunk) instead of inheriting spark.sql.shuffle.partitions, which
        # at this scale is tuned for aggregate exchanges, not full-row
        # sorts (sf1 measured: 4 inherited partitions 1.17s, pinned 12-16
        # 0.55s). Same plan shape as orderBy (range exchange + Tungsten
        # sort, globally ordered by partition id).
        n = max(8, min(200, est >> 21))
        return (df.repartitionByRange(n, *order_by)
                .sortWithinPartitions(*order_by))
    return df.orderBy(*order_by)


# --------------------------------------------------------------------------
# Reshaping (R1-R4) and set ops (U1-U2)
# --------------------------------------------------------------------------


def stack_pairs(df: DataFrame, keep: Sequence[str],
                pairs: Sequence[tuple[str, Column]],
                label_alias: str, value_alias: str) -> DataFrame:
    """R1/R2/R3: unpivot one row into len(pairs) labeled rows — the
    reference's Voted/Didn't-Vote, Hung/Outright, Ward/PR row pairs
    (SANEF_Uploader.py:476-491, :233-248, :582-597).

    Built as explode(array(struct...)) — narrow (no shuffle), codegen'd."""
    structs = F.array(*[
        F.struct(F.lit(lbl).alias(label_alias), val.cast("long").alias(value_alias))
        for lbl, val in pairs
    ])
    ex = df.select(*keep, F.explode(structs).alias("__s"))
    return ex.select(*keep, f"__s.{label_alias}", f"__s.{value_alias}")


def union_by_name(*dfs: DataFrame) -> DataFrame:
    """U1: the reference's heterogeneous `Results.append` accumulation
    (SANEF_Uploader.py:443, :573) — rows are built by column *name*, so
    unionByName, never positional union."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


# --------------------------------------------------------------------------
# Skew + co-location tooling (SCALE.md: the 100 TB joins)
# --------------------------------------------------------------------------


def salted_join(skewed: DataFrame, other: DataFrame, on: str,
                salt_buckets: int = 16, how: str = "inner") -> DataFrame:
    """Skew-safe equi-join: append a random-ish salt to the skewed side's
    key and explode the other side across all salt values, so one hot key
    spreads over `salt_buckets` reducers instead of one straggler task.

    The salt is `pmod(hash(all columns), buckets)` on the skewed side —
    deterministic per row, uniform per key. Use when AQE's skew splitting
    is unavailable (e.g. a non-AQE engine mode) or the skew is known ahead
    of time; AQE handles the rest of the cases (session default).
    """
    salted_l = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(*skewed.columns), F.lit(salt_buckets)))
    salted_r = other.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))))
    out = salted_l.join(salted_r, [on, "__salt"], how)
    return out.drop("__salt")


def snapshot_diff(old: DataFrame, new: DataFrame, key: str,
                  cols: Sequence[str]) -> DataFrame:
    """Dataset-version diff: per-key status `added | removed | changed |
    unchanged` between two corpus snapshots — the primitive behind
    incremental training (re-train only on added+changed), ingest audits,
    and drift dashboards.

    Each side reduces to (key, md5-of-`cols`) BEFORE the join, so the
    full-outer exchange moves 32-byte fingerprints, never payloads —
    at 100 TB the text column stays columnar-pruned in the scans and the
    shuffle is ~rowcount x 40 bytes. One shuffle on `key`; the digest is
    concat_ws over canonical string casts with a 0x1f separator (no
    value ambiguity), null-folded to '' so it is engine-portable
    (oracle replays it verbatim). Reference parity: SANEF_Uploader.py
    overwrites outputs wholesale (:55, :70-76) — versioned diffing is
    the §7 extension that makes re-ingest incremental.
    """
    def digest(df: DataFrame) -> DataFrame:
        parts = [F.coalesce(F.col(c).cast("string"), F.lit(""))
                 for c in cols]
        return df.select(F.col(key),
                         F.md5(F.concat_ws("\x1f", *parts)).alias("__d"))

    o = digest(old).alias("o")
    n = digest(new).alias("n")
    joined = o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
    status = (F.when(F.col(f"o.{key}").isNull(), F.lit("added"))
               .when(F.col(f"n.{key}").isNull(), F.lit("removed"))
               .when(F.col("o.__d") != F.col("n.__d"), F.lit("changed"))
               .otherwise(F.lit("unchanged")))
    return joined.select(
        F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}")).alias(key),
        status.alias("status"))


def merge_aggregates(base: DataFrame, delta: DataFrame,
                     keys: Sequence[str], sum_cols: Sequence[str],
                     count_col: str = "n") -> DataFrame:
    """Incremental aggregate maintenance: fold a pre-aggregated `base`
    rollup and a SAME-SHAPED `delta` rollup into the updated rollup —
    the pattern that keeps a 100 TB fact table's summary current by
    touching only the day's arrivals. Works because counts and sums are
    commutative monoids: merge(agg(A), agg(B)) == agg(A union B), so
    the base corpus is NEVER re-read; derived ratios (avg = sum/count)
    are recomputed after the merge, not merged (averages are not
    mergeable, their numerators and denominators are).

    Both inputs carry `keys + sum_cols + count_col` (build the delta
    side with the same groupBy that built the base — aggregating raw
    delta rows first keeps the union input delta-sized). The merge is
    one groupBy over base_groups + delta_groups rows: at 100 TB the
    base rollup is group-cardinality-sized, not corpus-sized, so this
    is a metadata-scale job. Integer sums stay bigint-exact; for double
    measures pre-round into DECIMAL upstream (numeric.py discipline) so
    the merge stays order-independent.

    New-in-delta keys appear, base-only keys persist (union, not join —
    no null-handling asymmetry). Output: keys + sum_cols + count_col,
    one row per key."""
    cols = [*keys, *sum_cols, count_col]
    u = base.select(*cols).unionByName(delta.select(*cols))
    return u.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.sum(count_col).alias(count_col))


def scd2_merge(old: DataFrame, new: DataFrame, key: str,
               cols: Sequence[str], v_old: int = 1,
               v_new: int = 2) -> DataFrame:
    """Type-2 slowly-changing-dimension history between two snapshot
    versions: every key's content gets a validity interval
    [valid_from, valid_to) in ingest-version units — the lakehouse
    primitive for "what did this dimension row say when epoch N
    trained?". unchanged -> one open row; changed -> the old row closes
    at v_new and a new open row appears; removed -> closed old row;
    added -> open new row.

    Same digest-before-join shape as `snapshot_diff` (the full-outer
    exchange moves (key, 32-byte md5) pairs, never payloads) with both
    digests carried through, then two narrow selects union the
    old-side and new-side interval rows — no second shuffle. Versions
    are caller-supplied longs (ingest sequence numbers), not wall
    clocks: reruns are bit-identical. Output (key, digest, valid_from,
    valid_to) with NULL valid_to = currently live.
    """
    def digest(df: DataFrame) -> DataFrame:
        parts = [F.coalesce(F.col(c).cast("string"), F.lit(""))
                 for c in cols]
        return df.select(F.col(key),
                         F.md5(F.concat_ws("\x1f", *parts)).alias("__d"))

    o = digest(old).alias("o")
    n = digest(new).alias("n")
    j = (o.join(n, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
         .select(F.coalesce(F.col(f"o.{key}"), F.col(f"n.{key}"))
                  .alias(key),
                 F.col("o.__d").alias("__od"), F.col("n.__d").alias("__nd")))
    old_rows = (j.filter(F.col("__od").isNotNull())
                .select(F.col(key), F.col("__od").alias("digest"),
                        F.lit(v_old).cast("long").alias("valid_from"),
                        F.when(F.col("__nd").isNull() |
                               (F.col("__nd") != F.col("__od")),
                               F.lit(v_new).cast("long"))
                         .otherwise(F.lit(None).cast("long"))
                         .alias("valid_to")))
    new_rows = (j.filter(F.col("__nd").isNotNull() &
                         (F.col("__od").isNull() |
                          (F.col("__od") != F.col("__nd"))))
                .select(F.col(key), F.col("__nd").alias("digest"),
                        F.lit(v_new).cast("long").alias("valid_from"),
                        F.lit(None).cast("long").alias("valid_to")))
    return old_rows.unionByName(new_rows)
