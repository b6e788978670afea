"""Operator unit tests (SURVEY.md §5.2 layer 1): tiny inline frames,
exact expected rows. Edge cases called out in the survey: E4
unmatched-key->NULL, A8 deterministic dedup, A10 ordering, J4 empty side."""

import pyspark.sql.functions as F
import pytest

from sanef_election_dashboard_etl_spark.functions.maps import recode_map
from sanef_election_dashboard_etl_spark.operators import relational as R

from .conftest import rows


def test_project_rename(spark):
    df = spark.createDataFrame([(1, "a")], "x int, y string")
    out = R.project_rename(df, {"y": "name", "x": "id"})
    assert out.columns == ["name", "id"]
    assert rows(out) == [("a", 1)]


def test_recode_map_unmatched_is_null(spark):
    df = spark.createDataFrame([("1",), ("2",), ("99",)], "k string")
    out = df.select(recode_map("k", {"1": "EC", "2": "FS"}).alias("v"))
    assert rows(out) == [(None,), ("EC",), ("FS",)]


def test_dim_join_broadcast_plan(spark):
    fact = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k int, v int")
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k int, name string")
    out = R.dim_join(fact, dim, "k")
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()
    assert rows(out, "k", "v", "name") == [(1, 10, "a"), (2, 20, "b")]


def test_anti_join_and_empty_right(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    right = spark.createDataFrame([(2,)], "k int")
    assert rows(R.anti_join(left, right, "k")) == [(1,), (3,)]
    empty = right.filter(F.col("k") < 0)
    assert rows(R.anti_join(left, empty, "k")) == [(1,), (2,), (3,)]


def test_semi_plus_anti_partition_left(spark):
    """Property: semi ⊎ anti == left (SURVEY §5.2 layer 4)."""
    left = spark.createDataFrame([(i,) for i in range(20)], "k int")
    right = spark.createDataFrame([(i,) for i in range(0, 20, 3)], "k int")
    semi = R.semi_join(left, right, "k")
    anti = R.anti_join(left, right, "k")
    assert semi.count() + anti.count() == left.count()
    assert rows(semi.unionByName(anti)) == rows(left)


def test_grouped_sum_count_fused(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 0), ("a", 1), ("b", 0)], "g string, flag int")
    out = R.grouped_sum_count(df, ["g"], F.col("flag"), "hung", "total")
    assert rows(out) == [("a", 2, 3), ("b", 0, 1)]


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("w1", "z"), ("w1", "a"), ("w2", "m")], "k string, v string")
    out = R.dedup_keep_first(df, ["k"], [F.col("v").asc()])
    assert rows(out) == [("w1", "a"), ("w2", "m")]


def test_grouped_ordered_concat(spark):
    df = spark.createDataFrame(
        [("p1", "b"), ("p1", "a"), ("p2", "c")], "g string, item string")
    out = R.grouped_ordered_concat(
        df, "g", F.concat(F.lit("<li>"), "item", F.lit("</li>")),
        F.col("item"), "contents", "<ul>", "</ul>")
    assert rows(out) == [("p1", "<ul><li>a</li><li>b</li></ul>"),
                         ("p2", "<ul><li>c</li></ul>")]


def test_stack_pairs_row_count_and_values(spark):
    df = spark.createDataFrame([("g1", 5, 8)], "geo string, hung long, total long")
    out = R.stack_pairs(df, ["geo"],
                        [("Hung", F.col("hung")),
                         ("Outright", F.col("total") - F.col("hung"))],
                        "Councils", "Count")
    assert out.columns == ["geo", "Councils", "Count"]
    assert rows(out) == [("g1", "Hung", 5), ("g1", "Outright", 3)]


def test_stack_k_multiplies_rows(spark):
    df = spark.createDataFrame([(i, i, i) for i in range(7)],
                               "geo int, a long, b long")
    out = R.stack_pairs(df, ["geo"], [("A", F.col("a")), ("B", F.col("b"))],
                        "L", "C")
    assert out.count() == 14


def test_window_total(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "g string, v int")
    tot = R.window_total(df, F.col("v"), "t")
    assert set(r["t"] for r in tot.collect()) == {6}


def test_union_by_name_reordered_columns(spark):
    a = spark.createDataFrame([(1, "x")], "id int, name string")
    b = spark.createDataFrame([("y", 2)], "name string, id int")
    assert rows(R.union_by_name(a, b)) == [(1, "x"), (2, "y")]


def test_having_eq(spark):
    df = spark.createDataFrame(
        [("w1", 0), ("w1", 0), ("w2", 5)], "k string, v int")
    out = R.having_eq(df, ["k"], F.sum("v"), "s", 0)
    assert rows(out) == [("w1", 0)]


def test_salted_join_matches_plain_join(spark):
    # one hot key (0) plus a tail; salted result must equal the plain join
    fact = spark.createDataFrame(
        [(0, i) for i in range(50)] + [(k, 0) for k in range(1, 5)],
        "k int, v int")
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(5)],
                                "k int, name string")
    plain = rows(fact.join(dim, "k").select("k", "v", "name"))
    salted = rows(R.salted_join(fact, dim, "k", salt_buckets=4)
                  .select("k", "v", "name"))
    assert salted == plain


def test_bucketed_join_eliminates_exchange(spark, tmp_path):
    """Co-located join: both sides bucketed on the join key -> SortMergeJoin
    with NO Exchange (the 100 TB repeated-join pattern, SCALE.md Joins)."""
    import pyspark.sql.functions as F2
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(0, 1000).withColumn("v", F2.col("id") * 2)
        b = spark.range(0, 1000).withColumn("w", F2.col("id") * 3)
        a.write.bucketBy(8, "id").sortBy("id").mode("overwrite") \
            .saveAsTable("bt_a")
        b.write.bucketBy(8, "id").sortBy("id").mode("overwrite") \
            .saveAsTable("bt_b")
        joined = spark.table("bt_a").join(spark.table("bt_b"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_partition_pruning(spark, tmp_path):
    """Hive-partitioned write + partition-filter read: the scan must list
    only the matching partition directories (PartitionFilters in the plan,
    the mechanism behind date-partitioned 100 TB layouts)."""
    df = spark.createDataFrame(
        [(d, i, float(i)) for d in ("2024-01-01", "2024-01-02", "2024-01-03")
         for i in range(10)],
        "day string, id int, v double")
    path = str(tmp_path / "parts")
    df.write.partitionBy("day").mode("overwrite").parquet(path)

    q = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "2024-01-02" in plan
    assert q.count() == 10
    # non-partition predicate lands in PushedFilters instead
    q2 = spark.read.parquet(path).filter(F.col("id") > 5)
    plan2 = q2._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,5)]" in plan2


def test_window_total_partitioned(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "g string, v int")
    out = R.window_total(df, F.col("v"), "t", partition_by=("g",))
    got = {(r["g"], r["v"]): r["t"] for r in out.collect()}
    assert got[("a", 1)] == 3 and got[("a", 2)] == 3 and got[("b", 5)] == 5


def test_total_sort_stats_picked_strategy(spark):
    # VERDICT r3 item 2: small inputs take the single-stage coalesce(1)
    # sort (no range-sampling job, no exchange); large estimates keep the
    # scalable range-exchange path.
    df = spark.range(1000).withColumn("v", (F.col("id") * 37 % 101).cast("double"))
    small = R.total_sort(df, "v", "id")
    plan = small._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan and "Coalesce 1" in plan
    got = [r["v"] for r in small.collect()]
    assert got == sorted(got)
    # force the mid tier with a tiny threshold: range exchange with a
    # PINNED partition count (REPARTITION_BY_NUM), not the session's
    # shuffle.partitions (VERDICT r4: the inherited micro-calibration
    # count starved the sf1 sort)
    big = R.total_sort(df, "v", "id", small_bytes=1)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan_big
    assert "REPARTITION_BY_NUM" in plan_big
    got_big = [r["v"] for r in big.collect()]
    assert got_big == sorted(got_big)
    # force the large tier (est above MID_SORT_BYTES): native orderBy,
    # partition count left to session config / AQE
    orig = R.MID_SORT_BYTES
    R.MID_SORT_BYTES = 1
    try:
        huge = R.total_sort(df, "v", "id", small_bytes=1)
    finally:
        R.MID_SORT_BYTES = orig
    plan_huge = huge._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan_huge
    assert "REPARTITION_BY_NUM" not in plan_huge
    got_huge = [r["v"] for r in huge.collect()]
    assert got_huge == sorted(got_huge)


def test_snapshot_diff_statuses(spark):
    """added/removed/changed/unchanged classified per key; digests cover
    multiple columns; null column values fold to '' (portable digest)."""
    from pyspark.sql import functions as F

    from sanef_election_dashboard_etl_spark.operators.relational import \
        snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k long, t string, v long")
    new = spark.createDataFrame(
        [(1, "a", 10),          # unchanged
         (2, "B", 20),          # changed (t)
         (4, None, 41),         # changed (v; null t folds identically)
         (5, "e", 50)],         # added      (3 removed)
        "k long, t string, v long")
    got = {r["k"]: r["status"] for r in
           snapshot_diff(old, new, "k", ["t", "v"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed",
                   4: "changed", 5: "added"}


def test_davg_units_matches_decimal_mean_and_ties(spark):
    # the TIE RULE template: exact-integer mean, half-away-from-zero at
    # out_scale — including the sf0.1-surfaced exact-half case
    # 0.616992/192 = 0.0032135 (digit-5 at scale 7 -> rounds UP at 4... 
    # the quotient lands ON a half at the rounding digit)
    from sanef_election_dashboard_etl_spark.functions.numeric import (
        davg, davg_units)

    # the r6 sf0.1-surfaced tie, exactly as davg sees it: sum(l_discount)
    # = 0.616992 (su in 1e-6 units), n = 192, rounded at 4 ->
    # mean*10^4 = 616992/(100*192) = 32.135 EXACTLY on the half ->
    # half-away gives 32.14e-4... i.e. mu = 32 (32.135 -> digit-1 half?
    # no: mu = rha(616992/19200) = rha(32.135) = 32) -- assert against
    # the independently-computed exact rational instead of hand math
    from fractions import Fraction

    def rha(fr):
        q, r = divmod(abs(fr.numerator) * 2 + fr.denominator,
                      2 * fr.denominator)
        return q if fr >= 0 else -q

    df = spark.createDataFrame([(616992, 192)], "su long, n long")
    out = df.select(davg_units(F.col("su"), F.col("n"), in_scale=6,
                               out_scale=4).alias("m")).collect()[0]["m"]
    assert out == rha(Fraction(616992 * 10 ** 4, 10 ** 6 * 192)) / 1e4
    # a TRUE tie: 3/2 at scale 0 -> half-away = 2 (not banker's 2 /
    # floor 1); negative mirror -> -2 (not floor's -2... distinguishes
    # from toward-zero -1)
    d2 = spark.createDataFrame([(3, 2), (-3, 2)], "su long, n long")
    got = sorted(r["m"] for r in d2.select(
        davg_units(F.col("su"), F.col("n"), in_scale=0,
                   out_scale=0).alias("m")).collect())
    assert got == [-2.0, 2.0]
    # davg == davg_units composition on a plain mean
    vals = [(1.25,), (2.75,), (3.10,)]
    d2 = spark.createDataFrame(vals, "x double")
    got = d2.agg(davg("x", scale=2, out_scale=4).alias("m")).collect()[0]["m"]
    assert got == round((1.25 + 2.75 + 3.10) / 3, 4)


def test_davg_units_guard_raises_past_exactness_bound(spark):
    # ADVICE r6: the 2^53 exactness contract is ENFORCED, not documented —
    # a sum whose 2*|units|+count dividend exceeds 2^53 must fail loudly
    # instead of silently losing bits in the long->double hop.
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from sanef_election_dashboard_etl_spark.functions.numeric import (
        davg_units)

    df = spark.createDataFrame([(2 ** 53, 1)], "su long, n long")
    with pytest.raises(SparkRuntimeException, match="davg exactness"):
        df.select(davg_units(F.col("su"), F.col("n"), in_scale=0,
                             out_scale=0).alias("m")).collect()


def test_sum_units_equals_decimal_sum_and_units_to_double_rounds(spark):
    # the r7 fast path: scaled-long accumulation must equal the decimal
    # sum bit-for-bit, and the integer round must equal decimal ROUND
    from sanef_election_dashboard_etl_spark.functions.numeric import (
        sum_units, units_to_double)

    vals = [(1.005,), (2.335,), (-0.015,), (7.12,)]
    df = spark.createDataFrame(vals, "x double")
    got = df.agg(
        units_to_double(sum_units("x", scale=4), 4, 2).alias("a"),
        F.round(F.sum(F.col("x").cast("decimal(18,4)")), 2).cast("double")
        .alias("b")).collect()[0]
    assert got["a"] == got["b"]
    # out_scale == in_scale passthrough
    same = df.agg(
        units_to_double(sum_units("x", scale=2), 2, 2).alias("a"),
        F.round(F.sum(F.col("x").cast("decimal(18,2)")), 2).cast("double")
        .alias("b")).collect()[0]
    assert same["a"] == same["b"]


def test_units_guard_null_sum_passes_through(spark):
    # SUM over zero rows is NULL; the 2^52/2^53 guards must pass NULL
    # through (q6-style empty filters), not raise
    from sanef_election_dashboard_etl_spark.functions.numeric import (
        davg_units, sum_units, units_to_double)

    df = spark.createDataFrame([(1.0,)], "x double").filter("x > 99")
    got = df.agg(
        units_to_double(sum_units("x", scale=4), 4, 2).alias("a"),
        davg_units(F.sum(F.col("x").cast("long")), F.count(F.lit(1)))
        .alias("b")).collect()[0]
    assert got["a"] is None


def test_units_helpers_cross_engine_tie_cases(spark):
    # Adversarial half-tie values straight against DuckDB — the contract
    # the oracle gate checks end-to-end, pinned at the helper level.
    # Sums land EXACTLY on .xx5 at the cent digit (1.005, 2.675 — the
    # classic double-tie values), positive and negative, where a
    # round-after-double-cast would split the engines.
    import duckdb
    from sanef_election_dashboard_etl_spark.functions.numeric import (
        davg_units, sum_units, units_to_double)

    cases = [
        [1.005], [2.675], [-1.005], [-2.675],
        [0.0025, 0.0025],                 # sum 0.005 -> cents tie
        [1.0049999, 0.0000001],           # adversarial near-tie
        [-0.0025, -0.0025],
        [0.616992],                       # the r6 sf0.1 tie numerator
        [7.12, -7.115],                   # signed cancellation near zero
    ]
    rows_ = [(i, float(v)) for i, vs in enumerate(cases) for v in vs]
    df = spark.createDataFrame(rows_, "g long, x double")
    got = {r["g"]: (r["s"], r["m"]) for r in df.groupBy("g").agg(
        units_to_double(sum_units("x", scale=4), 4, 2).alias("s"),
        davg_units((F.sum(F.col("x").cast("decimal(12,4)"))
                    * F.lit(10 ** 4)).cast("long"),
                   F.count(F.lit(1)), in_scale=4, out_scale=4).alias("m"),
    ).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(g BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows_)
    oracle = con.execute("""
        SELECT g,
               CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), 2) AS DOUBLE),
               CAST(CASE WHEN su >= 0 THEN (2*su + n) // (2*n)
                    ELSE -((-2*su + n) // (2*n)) END AS DOUBLE) / 10000.0
        FROM (SELECT g,
                     CAST(SUM(CAST(x AS DECIMAL(18,4))) * 10000 AS BIGINT)
                         AS su,
                     COUNT(*) AS n
              FROM t GROUP BY g) q
        JOIN t USING (g) GROUP BY g, su, n
    """).fetchall()
    # dedupe the join fan-out
    oracle = {g: (s, m) for g, s, m in oracle}
    assert got == oracle, (got, oracle)


def test_dratio_units_ties_and_big_magnitudes(spark):
    # the q8/q14 template: exact half-away ratio in decimal(38,0)
    from sanef_election_dashboard_etl_spark.functions.numeric import (
        dratio_units)

    df = spark.createDataFrame(
        [(3, 20000), (-3, 20000),                 # exact half: 1.5e-4
         (10 ** 17, 3 * 10 ** 17),                # far beyond 2^53
         (1, 3)],
        "nu long, du long")
    got = [r["r"] for r in df.select(
        dratio_units(F.col("nu"), F.col("du"), out_scale=4)
        .alias("r")).collect()]
    assert got == [2 / 1e4, -2 / 1e4, 0.3333, 0.3333]
    # mult path (the q14 percentage form): 100 * 1/3 at 4 -> 33.3333
    pct = df.filter("nu = 1").select(
        dratio_units(F.col("nu"), F.col("du"), out_scale=4, mult=100)
        .alias("r")).collect()[0]["r"]
    assert pct == 33.3333


def test_lratio_units_matches_dratio_and_guard(spark):
    # r8: ratio() runs the primitive-long half-away form (lratio_units);
    # its values must be IDENTICAL to the decimal dratio_units form on
    # every in-bound input (incl. exact halves and negatives), and the
    # 2^53 exactness contract must fail loudly, davg-style.
    from fractions import Fraction

    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from sanef_election_dashboard_etl_spark.functions.numeric import (
        dratio_units, lratio_units)

    def rha(fr):
        q, r = divmod(abs(fr.numerator) * 2 + fr.denominator,
                      2 * fr.denominator)
        return q if fr >= 0 else -q

    rows = [(1, 16), (3, 2), (-3, 2), (0, 7), (1, 3), (9999, 10000),
            (12345, 67), (-1, 16)]
    df = spark.createDataFrame(rows, "nu long, du long")
    got = df.select("nu", "du",
                    lratio_units(F.col("nu"), F.col("du")).alias("l"),
                    dratio_units(F.col("nu"), F.col("du")).alias("d")
                    ).collect()
    for r in got:
        exact = rha(Fraction(r["nu"] * 10 ** 4, r["du"])) / 1e4
        assert r["l"] == r["d"] == exact, (r["nu"], r["du"])
    # guard window: 2*nu*1e4 >= 2^53 but < 2^63 (past 2^63 ANSI's own
    # long-overflow error fires first — also loud, different message)
    big = spark.createDataFrame([(10 ** 12, 1)], "nu long, du long")
    with pytest.raises(SparkRuntimeException, match="lratio exactness"):
        big.select(lratio_units(F.col("nu"), F.col("du")).alias("l")) \
           .collect()


def test_lratio_guard_catches_double_wrap_with_ansi_off(spark):
    """r9 review catch: under non-ANSI Spark an int64 multiply WRAPS,
    and a DOUBLE wrap can land q back in [0, 2^53) — nu ~ 9.2e14 wraps
    a = nu*2e4 negative, then num = a*2 + du wraps again to a small
    positive, so the old (q >= 0) & (q < 2^53) guard passed and a
    silently wrong ratio came back. The pre-multiply |nu| bound must
    raise instead, on every ANSI setting."""
    import pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from sanef_election_dashboard_etl_spark.functions.numeric import (
        lratio_units)

    prior = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        df = spark.createDataFrame([(922_337_203_685_478, 1)],
                                   "nu long, du long")
        with pytest.raises(SparkRuntimeException, match="lratio exactness"):
            df.select(lratio_units(F.col("nu"), F.col("du")).alias("l")) \
              .collect()
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prior)
