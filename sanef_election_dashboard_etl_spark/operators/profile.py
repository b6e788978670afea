"""One-pass table profiling (data-quality observability).

A 100 TB ingest needs schema-drift and quality monitoring BEFORE anything
trains on the data: null-rate spikes, cardinality collapses, and range
drift are the classic upstream-pipeline failures (the Deequ/dbt-test
problem). The reference has no equivalent (it trusts its SQL tables,
SANEF_Uploader.py:33-38); this is the Spark-native profiler the engine's
own fixtures are validated with.

Scale design: ONE aggregate pass computes every column's stats
simultaneously (count/nulls/exact-distinct/min/max as a single wide agg —
Spark plans the distincts via one expand + partial aggs, still one scan of
the table), then a `stack` unpivot reshapes the single result row into one
row per column. No per-column jobs, no driver-side loops; cost is the one
scan regardless of column count.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column profile in one scan:
    (column_name, n_rows, n_nulls, n_distinct, min_value, max_value).

    min/max are canonical strings so the output schema is uniform across
    column types (numeric strings round-trip exactly for integral and
    x.0-double values; timestamp columns should be profiled via an
    explicit date_format projection if cross-engine string parity
    matters — Spark and SQL engines disagree on trailing fractional
    zeros)."""
    cols = list(cols or df.columns)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"__nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __mn_{c}, __mx_{c}" for c in cols)
    return (row.selectExpr(
        "__n",
        f"stack({len(cols)}, {stacked}) AS "
        "(column_name, __nn, n_distinct, min_value, max_value)")
        .select("column_name",
                F.col("__n").cast("long").alias("n_rows"),
                (F.col("__n") - F.col("__nn")).cast("long").alias("n_nulls"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
                "min_value", "max_value"))


def categorical_drift_tvd(old: DataFrame, new: DataFrame,
                          dim_col: str) -> DataFrame:
    """Distribution drift between two dataset versions on a categorical
    column, as total-variation distance — the ingest-gate alarm ("this
    crawl's source mix shifted 12% from last week's") that decides
    whether a new snapshot may enter the training mix.

    TVD = 0.5 * sum_c |p_old(c) - p_new(c)| is chosen over KL/PSI
    deliberately: it is a bounded metric ([0,1], no log blowups on
    empty cells) AND integer-exact cross-engine — each |p_a - p_b|
    term is |cnt_a * tot_b - cnt_b * tot_a| / (tot_a * tot_b), so the
    whole sum is one exact integer numerator over an exact denominator;
    the ONLY floating-point step is the final single division (a PSI's
    per-cell ln() would diverge between engines in the last ulps).

    Scale: two grouped counts (one shuffle each, map-side combined to
    |categories| rows), a full-outer join on the category (tiny), and a
    1-row aggregate. Output: one row (tvd double, n_old, n_new long) —
    exact up to 2^53-scale numerators (|rows|^2 per term; beyond that,
    pre-divide counts by a common factor or accept the documented ulp).
    """
    def counted(df: DataFrame, side: str) -> DataFrame:
        return (df.groupBy(F.col(dim_col).alias("__c"))
                  .agg(F.count(F.lit(1)).alias(f"cnt_{side}")))

    o, n = counted(old, "a").alias("o"), counted(new, "b").alias("n")
    # null-safe key match: a NULL category is a real cell (missing
    # source labels drift too); a plain equi-join would split it into
    # two unmatched rows and overcount the gap
    cells = (o.join(n, F.col("o.__c").eqNullSafe(F.col("n.__c")),
                    "full_outer")
              .select(F.coalesce("cnt_a", F.lit(0)).alias("ca"),
                      F.coalesce("cnt_b", F.lit(0)).alias("cb")))
    tot = cells.agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb"),
        F.collect_list(F.struct("ca", "cb")).alias("cs"))
    # numerator = sum |ca*tb - cb*ta| folded JVM-side over the exact
    # per-cell longs; one row, so collect_list is |categories|-sized
    num = F.aggregate(
        "cs", F.lit(0).cast("long"),
        lambda acc, s: acc + F.abs(s["ca"] * F.col("tb")
                                   - s["cb"] * F.col("ta")))
    return tot.select(
        (num.cast("double")
         / (F.lit(2).cast("double") * F.col("ta").cast("double")
            * F.col("tb").cast("double"))).alias("tvd"),
        F.col("ta").alias("n_old"), F.col("tb").alias("n_new"))


def numeric_drift_ks(old: DataFrame, new: DataFrame,
                     val_col: str) -> DataFrame:
    """Distribution drift on a NUMERIC column as the two-sample
    Kolmogorov-Smirnov statistic — max over values of the empirical CDF
    gap — the numeric sibling of `categorical_drift_tvd` (doc-length
    drift, quality-score drift, token-count drift between snapshots).

    Same exactness design as TVD: each CDF gap is
    |cum_a * tot_b - cum_b * tot_a| / (tot_a * tot_b), so the max is
    picked over exact integers and only ONE final double division runs —
    engine-identical, no per-cell float accumulation.

    Scale: two grouped counts (one shuffle each, map-side combined to
    |distinct values| rows) + a cumulative-sum window over the merged
    DISTINCT-value table. That window is a global order — fine exactly
    because it runs on distinct VALUES, not rows: quantize/bin
    continuous columns first (floor, round, width-bucket) so the value
    domain is bounded; the op is O(|domain|) post-aggregation
    regardless of corpus size. Output: one row
    (ks double, n_old long, n_new long).
    """
    from pyspark.sql import Window

    def counted(df: DataFrame, side: str) -> DataFrame:
        return (df.groupBy(F.col(val_col).alias("__v"))
                  .agg(F.count(F.lit(1)).alias(f"cnt_{side}")))

    o = counted(old, "a").alias("o")
    n = counted(new, "b").alias("n")
    # null-safe key match (see categorical_drift_tvd); null values sort
    # first in the CDF order, identically in both engines under the
    # oracle's NULLS FIRST
    cells = (o.join(n, F.col("o.__v").eqNullSafe(F.col("n.__v")),
                    "full_outer")
             .select(F.coalesce("o.__v", "n.__v").alias("__v"),
                     F.coalesce("cnt_a", F.lit(0)).alias("ca"),
                     F.coalesce("cnt_b", F.lit(0)).alias("cb")))
    w = (Window.orderBy(F.asc_nulls_first("__v"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = cells.select(F.sum("ca").over(w).alias("cuma"),
                       F.sum("cb").over(w).alias("cumb"))
    return _ks_finish(cum)


def _ks_finish(cum: DataFrame) -> DataFrame:
    """Fold the cumulative table to the KS row: totals are the LAST
    cumulative values (max, since cums are monotone); the numerator max
    needs totals per row, delivered by a 1-row broadcast crossJoin (the
    same O(1)-rows scalar pattern as layout.with_z_value)."""
    tot = cum.agg(F.max("cuma").alias("ta"), F.max("cumb").alias("tb"))
    return (cum.crossJoin(F.broadcast(tot))
            .agg(F.max(F.abs(F.col("cuma") * F.col("tb")
                             - F.col("cumb") * F.col("ta"))).alias("num"),
                 F.max("ta").alias("ta"), F.max("tb").alias("tb"))
            .select((F.col("num").cast("double")
                     / (F.col("ta").cast("double")
                        * F.col("tb").cast("double"))).alias("ks"),
                    F.col("ta").alias("n_old"), F.col("tb").alias("n_new")))


def key_skew(df: DataFrame, key_col: str, top_n: int = 10) -> DataFrame:
    """Join/agg-key skew diagnosis: the top-`top_n` heaviest keys with
    their row share and their multiple of the median key weight — the
    numbers that decide BEFORE a 100 TB join whether to salt
    (j11_salted_skew_join), broadcast, or let AQE's skew-join split
    handle it. A key at 1000x median with 5% row share is a straggler
    guarantee; this makes that a measured fact instead of a post-mortem.

    One groupBy on the key builds the per-key histogram; the summary
    (total rows, distinct keys, exact median key weight) is ONE 1-row
    aggregate broadcast back; top-N is a WindowGroupLimit over the
    key-cardinality-sized (not corpus-sized) count table. The exact
    median sorts key counts — swap percentile for percentile_approx at
    extreme key cardinality (the winsorize contract: exact tier =
    verification configuration).

    The top-N itself is orderBy().limit() — TakeOrderedAndProject keeps
    per-partition heaps and never globally sorts the count table (a
    global row_number window would funnel every key through ONE
    partition); the rank column is a window over the N survivors only.

    share and skew_vs_median are single IEEE divisions of exact inputs
    (engine-exact). Output (rank, key[string], cnt, share,
    skew_vs_median, n_keys)."""
    from pyspark.sql import Window

    counts = (df.groupBy(F.col(key_col).cast("string").alias("key"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    stats = counts.agg(
        F.sum("cnt").alias("__total"),
        F.count(F.lit(1)).alias("n_keys"),
        F.percentile("cnt", F.lit(0.5)).alias("__median"))
    top = counts.orderBy(F.col("cnt").desc(), F.col("key").asc()) \
        .limit(top_n)
    w = Window.orderBy(F.col("cnt").desc(), F.col("key").asc())
    return (top
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .crossJoin(F.broadcast(stats))
            .select("rank", "key", "cnt",
                    (F.col("cnt").cast("double")
                     / F.col("__total").cast("double")).alias("share"),
                    (F.col("cnt").cast("double")
                     / F.col("__median")).alias("skew_vs_median"),
                    F.col("n_keys").cast("long").alias("n_keys")))


def dataset_fingerprint(df: DataFrame,
                        cols: Sequence[str] | None = None) -> DataFrame:
    """Order-independent content fingerprint of a dataset — ONE row
    (n_rows, xor_fp, sum_fp) that any engine can recompute to verify a
    100 TB copy/export/ingest without a row-by-row compare: each row
    canonicalizes to md5(concat_ws(0x1f, string casts, null->'')) (the
    snapshot_diff digest discipline), hashes to the portable 60-bit
    integer, and folds two ways:

    - xor_fp: bit_xor of the hashes — overflow-free, order- and
      partition-independent, but SET semantics (a row appearing twice
      cancels itself).
    - sum_fp: exact DECIMAL(38,0) sum of the hashes — MULTISET
      semantics (duplicate rows shift the sum), order-independent
      exact, headroom to ~10^20 rows before 38 digits saturate.
    - sum_fp_mod: sum_fp reduced mod 2^61, published as BIGINT — the
      same multiset fold in a type every engine/harness normalizes
      identically. VERDICT r5 item 1b: the r5 driver red row on this
      query's hash could not be reproduced locally at any scale; the
      DECIMAL(38,0) column was the only suspect surface (a harness that
      floats a 38-digit decimal rounds it differently per engine). The
      bigint twin localizes any future divergence: xor+mod green with
      sum red = decimal normalization; all red = fixture drift (see
      tools/fixture_canary.py).

    Disagreement between the pair localizes the failure class: sum
    moved + xor moved = rows changed; sum moved + xor same = duplicate
    multiplicity changed. Combined with n_rows this is the manifest a
    write audit stores and the cheap equality side of snapshot_diff
    (fingerprints first, per-key diff only when they disagree).

    Scale: one narrow projection + one 3-value aggregate — map-side
    partial folds, a single 1-row result; the corpus never shuffles.
    Mergeable across shards: xor of xors, sum of sums, sum of counts
    (the HLL shard-merge pattern, exactly)."""
    cols = list(cols or df.columns)
    from .dedup import portable_hash
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    h = portable_hash(F.concat_ws("\x1f", *parts))
    return df.select(h.alias("__h")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.bit_xor("__h"), F.lit(0).cast("long"))
         .alias("xor_fp"),
        F.coalesce(F.sum(F.col("__h").cast("decimal(38,0)")),
                   F.lit(0).cast("decimal(38,0)")).alias("sum_fp")) \
        .withColumn(
            # exact decimal fold, ONE final mod to a bigint-safe range:
            # 2^61 > any 60-bit row hash, and the decimal % decimal
            # result is a small decimal both engines cast to the same
            # bigint (no double ever touches the value)
            "sum_fp_mod",
            (F.col("sum_fp") % F.lit(2305843009213693952)
             .cast("decimal(38,0)")).cast("long"))


def trend_ols(df: DataFrame, x_col, y_col, group_col: str,
              y_scale: int = 2) -> DataFrame:
    """Per-group least-squares trend line — the drift family's THIRD
    axis: TVD says the categorical mix moved, KS says a numeric
    distribution moved, the OLS slope says a metric is moving IN TIME
    and how fast (quality score decaying over a crawl, value-per-event
    drifting between snapshots). slope/intercept of y over x within
    each group, closed form.

    Exactness (the TVD/KS discipline — exact integer/decimal parts,
    float only in a fixed final expression): x re-bases against the
    GLOBAL min (one 1-row broadcast; slopes are shift-invariant, and it
    kills the epoch-magnitude cancellation that would otherwise eat the
    double subtraction), y casts to DECIMAL(18, y_scale) — `y_scale`
    must cover the input's TRUE decimal scale (numeric.py rule; the
    cast is then a no-op, not a rounding). All five per-group sums
    (n, Sx, Sy, Sxx, Sxy) are bigint/decimal exact, order- and
    partition-independent; widths stay under 38 digits by construction
    (x' spans the data's time RANGE, not the epoch). The slope is then
    ONE fixed-shape double expression over exact inputs —
    (n*Sxy - Sx*Sy) / (n*Sxx - Sx*Sx) — every cast/mult/sub/div
    IEEE-correctly-rounded, so both engines produce the identical
    double. intercept = (Sy - slope*Sx)/n, in x'-space (i.e. the fitted
    y AT the global min x; add slope*(x0) externally for epoch-space).

    Single-value groups (den = 0) yield NULL slope/intercept via an
    explicit guard (ANSI division). Scale: one 1-row agg + one grouped
    agg — two scans, map-side-combined, nothing but group rows
    shuffles. Output (group, n, slope, intercept)."""
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    base = df.agg(F.min(x).alias("__x0"))
    t = (df.crossJoin(F.broadcast(base))
         .select(F.col(group_col),
                 (x - F.col("__x0")).cast("long").alias("__xr"),
                 y.cast(f"decimal(18,{y_scale})").alias("__yd")))
    xd = F.col("__xr").cast("decimal(19,0)")
    g = t.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("__xr").cast("decimal(38,0)")).alias("__sx"),
        F.sum("__yd").alias("__sy"),
        F.sum(xd * xd).alias("__sxx"),
        F.sum(xd * F.col("__yd")).alias("__sxy"))
    nd = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double")
    den = nd * sxx - sx * sx
    slope = F.when(den != 0, (nd * sxy - sx * sy) / den)
    intercept = F.when(den != 0,
                       (sy - ((nd * sxy - sx * sy) / den) * sx) / nd)
    return g.select(group_col, F.col("n").cast("long").alias("n"),
                    slope.alias("slope"), intercept.alias("intercept"))


def data_card(df: DataFrame, source_col: str = "source",
              lang_col: str = "lang", id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Per-source corpus data card: the one-table report a dataset
    release ships next to the shards (docs, unique-content count, dup
    rate, token volume, language mix) — and the go/no-go glance before
    an expensive training run.

    Columns per source: n_docs, n_unique_docs (distinct normalized
    fingerprints), dup_rate = (n_docs-n_unique)/n_docs, n_tokens,
    avg_doc_tokens, n_langs, top_lang (mode, ties broken by lang).
    Ratios are exact bigint counts with ONE final double division
    (numeric.py rules).

    Shape: one narrow projection (fingerprint + token count are
    expressions) feeding two grouped aggregates — a per-source agg
    (count-distinct on the 32-byte digest) and a (source, lang) count
    whose argmax is a WindowGroupLimit over source-count rows. Sources
    and languages are few by nature: every shuffle here is
    metadata-sized relative to the scan; the text never moves.
    """
    from .text import fingerprint, tokens

    base = df.select(
        F.col(source_col).alias("source"), F.col(lang_col).alias("lang"),
        fingerprint(F.col(text_col)).alias("__fp"),
        F.size(tokens(F.col(text_col))).cast("long").alias("__nt"))
    # r11 (guide §2.3 shuffle fewer bytes): the old single aggregate
    # carried TWO count-distincts (fp, lang), so Spark planned an
    # Expand — every base row tripled through the partial aggregate and
    # the source exchange. Two-level instead: groupBy(source, fp) first
    # (map-side partial collapses exact duplicates), then a source
    # rollup whose map-side partial is |sources|-sized; n_langs rides
    # the (source, lang) branch it was always derivable from. Same
    # bigints: n_docs = sum of per-fp counts, n_unique_docs = count of
    # non-NULL-fp groups (countDistinct excluded NULLs), n_tokens = sum
    # of per-group sums, n_langs = count of non-NULL-lang groups.
    g1 = base.groupBy("source", "__fp").agg(
        F.count(F.lit(1)).alias("__c"),
        F.sum("__nt").alias("__t"))
    per_source = g1.groupBy("source").agg(
        F.sum("__c").cast("long").alias("n_docs"),
        F.sum(F.col("__fp").isNotNull().cast("long")).cast("long")
         .alias("n_unique_docs"),
        F.sum("__t").cast("long").alias("n_tokens"))
    from pyspark.sql import Window
    lc = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("__n"))
    w = Window.partitionBy("source").orderBy(
        F.desc("__n"), F.asc("lang"))
    # count("lang") skips the NULL-lang group — countDistinct semantics;
    # the unordered spec shares the rank window's source partitioning
    # (no extra exchange) and leaves WindowGroupLimit applicable to the
    # rank window.
    top = (lc.withColumn("n_langs", F.count("lang").over(
               Window.partitionBy("source")).cast("long"))
           .withColumn("__r", F.row_number().over(w))
           .filter(F.col("__r") == 1)
           .select("source", F.col("lang").alias("top_lang"), "n_langs"))
    return (per_source.join(top, "source")
            .select("source", "n_docs", "n_unique_docs",
                    ((F.col("n_docs") - F.col("n_unique_docs"))
                     .cast("double") / F.col("n_docs").cast("double"))
                    .alias("dup_rate"),
                    "n_tokens",
                    (F.col("n_tokens").cast("double") /
                     F.col("n_docs").cast("double")).alias("avg_doc_tokens"),
                    "n_langs", "top_lang"))


def data_card_state(df: DataFrame, source_col: str = "source",
                    lang_col: str = "lang",
                    text_col: str = "text") -> tuple[DataFrame, DataFrame]:
    """Mergeable state for `data_card`: (counts, fps) where counts is
    the (source, lang) grain with additive n_docs/n_tokens and fps is
    the DISTINCT (source, fingerprint) table. Two states merge without
    re-reading any text — counts re-aggregate (sums are monoids, the
    merge_aggregates argument) and fp sets union-distinct; the state
    is 32 bytes per unique doc plus a (sources x langs) count table,
    so a 100 TB corpus's card updates at digest cost, not scan cost.
    """
    from .text import fingerprint, tokens

    base = df.select(
        F.col(source_col).alias("source"), F.col(lang_col).alias("lang"),
        fingerprint(F.col(text_col)).alias("fp"),
        F.size(tokens(F.col(text_col))).cast("long").alias("nt"))
    counts = base.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"))
    fps = base.select("source", "fp").distinct()
    return counts, fps


def data_card_merge(counts_a: DataFrame, fps_a: DataFrame,
                    counts_b: DataFrame, fps_b: DataFrame
                    ) -> tuple[DataFrame, DataFrame]:
    """Merge two data-card states (base + delta ingest): counts add at
    the (source, lang) grain, fingerprint sets union-distinct."""
    counts = (counts_a.unionByName(counts_b)
              .groupBy("source", "lang")
              .agg(F.sum("n_docs").cast("long").alias("n_docs"),
                   F.sum("n_tokens").cast("long").alias("n_tokens")))
    fps = fps_a.unionByName(fps_b).distinct()
    return counts, fps


def data_card_from_state(counts: DataFrame, fps: DataFrame) -> DataFrame:
    """Finish a (counts, fps) state into the exact `data_card` schema —
    merge(state(base), state(delta)) finished here equals
    data_card(base UNION delta) row for row (test- and oracle-
    asserted), which is what makes the card maintainable incrementally.
    """
    per_source = counts.groupBy("source").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"))
    uniq = fps.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_unique_docs"))
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy(
        F.desc("n_docs"), F.asc("lang"))
    top = (counts.withColumn("__r", F.row_number().over(w))
           .filter(F.col("__r") == 1)
           .select("source", F.col("lang").alias("top_lang")))
    return (per_source.join(uniq, "source").join(top, "source")
            .select("source", "n_docs", "n_unique_docs",
                    ((F.col("n_docs") - F.col("n_unique_docs"))
                     .cast("double") / F.col("n_docs").cast("double"))
                    .alias("dup_rate"),
                    "n_tokens",
                    (F.col("n_tokens").cast("double") /
                     F.col("n_docs").cast("double")).alias("avg_doc_tokens"),
                    "n_langs", "top_lang"))


def numeric_drift_binned(old: DataFrame, new: DataFrame, value_col: str,
                         n_bins: int = 32) -> DataFrame:
    """The 100 TB tier of `numeric_drift_ks`: equi-width bins over the
    exact combined [min, max] range, then `categorical_drift_tvd` over
    the bin ids — the binned-first swap the KS docstring promises for
    continuous columns whose DISTINCT-value table is too large for the
    exact cumulative walk (KS state is O(domain); this tier's is
    O(n_bins) regardless of cardinality).

    Determinism: the bin index floor((x - lo) * n_bins / (hi - lo)) is
    the SAME IEEE expression shape in both engines (subtract, multiply,
    divide, floor — all correctly rounded, identical operand order =
    identical bits), clamped to [0, n_bins-1] so hi itself lands in the
    last bin; a degenerate hi == lo range puts everything in bin 0.
    Bounds come from ONE exact min/max aggregate over the union
    (broadcast back as a 1-row cross join); NULL values form their own
    drift cell via the TVD gate's null-safe key.

    Shape: one tiny bounds agg + two grouped bin counts + the TVD
    finish — nothing here scales with distinct-value cardinality.
    Output: one row (tvd, n_old, n_new), same contract as the exact
    gates.
    """
    both = (old.select(F.col(value_col).alias("__x"))
            .unionByName(new.select(F.col(value_col).alias("__x"))))
    bounds = both.agg(F.min("__x").alias("__lo"),
                      F.max("__x").alias("__hi"))

    def binned(df: DataFrame) -> DataFrame:
        d = df.select(F.col(value_col).alias("__x")) \
              .crossJoin(F.broadcast(bounds))
        idx = F.floor((F.col("__x").cast("double") -
                       F.col("__lo").cast("double")) *
                      F.lit(float(n_bins)) /
                      (F.col("__hi").cast("double") -
                       F.col("__lo").cast("double")))
        safe = F.when(F.col("__x").isNull(), F.lit(None).cast("long")) \
                .when(F.col("__hi") == F.col("__lo"),
                      F.lit(0).cast("long")) \
                .otherwise(F.least(F.lit(n_bins - 1).cast("long"),
                                   F.greatest(F.lit(0).cast("long"),
                                              idx.cast("long"))))
        return d.select(safe.alias("__bin"))

    return categorical_drift_tvd(binned(old), binned(new), "__bin")


def constraint_check(df: DataFrame,
                     constraints: Sequence[tuple]) -> DataFrame:
    """Declarative data-quality constraint suite evaluated in ONE scan
    (the Deequ/dbt-test contract): every constraint folds to a counting
    aggregate inside a single wide aggregate row, then a `stack` unpivot
    emits one row per constraint — cost is the one table scan no matter
    how many constraints are declared (the `profile` discipline; no
    per-constraint jobs, no driver loops).

    Constraint forms (tuples):
      ("not_null", col)             — violations = NULL rows
      ("unique", col)               — violations = non-null rows beyond
                                      the first per value (n - distinct)
      ("range", col, lo, hi)        — non-null values outside [lo, hi]
      ("in_set", col, values)       — non-null values not in `values`
      ("matches", col, pattern)     — non-null values not rlike pattern
      ("non_negative", col)         — non-null values < 0

    Output: (check_name, column_name, n_rows, n_violations, passed) —
    one row per constraint, passed = n_violations == 0. NULL values
    violate only "not_null": every other predicate scopes to non-null
    values, so a nullable column reports its null-rate and its
    value-rule health independently (the Deequ completeness/compliance
    split).

    Scale: the wide agg runs partial (map-side combine); "unique" adds
    one expand-shuffled COUNT(DISTINCT) per uniqueness constraint —
    the only non-narrow piece, same cost class as profile()'s
    n_distinct. The reference trusts its upstream tables outright
    (SANEF_Uploader.py:33-38); this is the ingest gate a 100 TB
    pipeline runs BEFORE anything trains on the data."""
    n = F.count(F.lit(1))
    aggs = [n.alias("__n")]
    rows = []  # (check_name, column_name, violation agg alias)
    for i, c in enumerate(constraints):
        kind, col = c[0], c[1]
        alias = f"__v{i}"
        nn = F.col(col).isNotNull()
        if kind == "not_null":
            viol = F.sum(F.when(~nn, 1).otherwise(0))
        elif kind == "unique":
            viol = F.count(F.col(col)) - F.count_distinct(F.col(col))
        elif kind == "range":
            lo, hi = c[2], c[3]
            viol = F.sum(F.when(
                nn & ((F.col(col) < F.lit(lo)) | (F.col(col) > F.lit(hi))),
                1).otherwise(0))
        elif kind == "in_set":
            viol = F.sum(F.when(nn & ~F.col(col).isin(*c[2]), 1)
                         .otherwise(0))
        elif kind == "matches":
            viol = F.sum(F.when(nn & ~F.col(col).rlike(c[2]), 1)
                         .otherwise(0))
        elif kind == "non_negative":
            viol = F.sum(F.when(nn & (F.col(col) < 0), 1).otherwise(0))
        else:
            raise ValueError(f"unknown constraint kind: {kind!r}")
        aggs.append(viol.cast("long").alias(alias))
        rows.append((kind, col, alias))
    row = df.agg(*aggs)
    stacked = ", ".join(f"'{k}', '{c}', {a}" for k, c, a in rows)
    return (row.selectExpr(
        "__n",
        f"stack({len(rows)}, {stacked}) AS "
        "(check_name, column_name, __viol)")
        .select("check_name", "column_name",
                F.col("__n").cast("long").alias("n_rows"),
                F.coalesce(F.col("__viol"), F.lit(0)).cast("long")
                 .alias("n_violations"))
        .withColumn("passed", F.col("n_violations") == 0))


def k_anonymity(df: DataFrame, quasi_cols: Sequence[str],
                k: int) -> DataFrame:
    """k-anonymity audit over a quasi-identifier column set: one row
    (k, n_rows, n_groups, min_group_size, n_groups_below_k,
    n_rows_below_k, anonymity_ok) — a privacy gate for training-data
    release (rows whose quasi-identifier combination is shared by fewer
    than k records are re-identification risks; publishing requires
    n_rows_below_k = 0 or a suppression/generalization pass on the
    flagged groups).

    NULL quasi-values group as their own equivalence class (groupBy
    semantics match DuckDB GROUP BY on NULLs), which is the
    conservative read: an absent attribute is still an attribute.

    Scale: one shuffle at the quasi-key grain with full map-side
    combine, then a 1-row fold of the group-size table — the same
    two-level shape as profile_key_skew; nothing scales with k. All
    outputs are exact integers (no ratio is published — callers
    comparing risk across releases divide the exact counts
    themselves, the RATIO RULE)."""
    cnt = df.groupBy(*[F.col(c) for c in quasi_cols]) \
            .agg(F.count(F.lit(1)).alias("__gn"))
    below = F.col("__gn") < k
    return (cnt.agg(
        F.lit(k).cast("long").alias("k"),
        F.sum("__gn").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("__gn").cast("long").alias("min_group_size"),
        F.sum(F.when(below, 1).otherwise(0)).cast("long")
         .alias("n_groups_below_k"),
        F.sum(F.when(below, F.col("__gn")).otherwise(0)).cast("long")
         .alias("n_rows_below_k"))
        .withColumn("anonymity_ok", F.col("n_rows_below_k") == 0))
