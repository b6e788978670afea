"""Property tests (SURVEY.md §5.2 layer 4) with hypothesis-generated
inputs: algebraic invariants the reference semantics imply."""

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from sanef_election_dashboard_etl_spark.operators import relational as R

SLOW = settings(max_examples=8, deadline=None,
                suppress_health_check=list(HealthCheck))

flags = st.lists(
    st.tuples(st.sampled_from(["EC", "FS", "GT"]), st.integers(0, 1)),
    min_size=1, max_size=25)


@given(data=flags)
@SLOW
def test_hung_plus_outright_equals_total(spark, data):
    """R2 invariant (SANEF_Uploader.py:239-247): per group,
    Hung + Outright Majority == total councils."""
    df = spark.createDataFrame(data, "g string, hung int")
    agg = R.grouped_sum_count(df, ["g"], F.col("hung"), "hung", "total")
    stacked = R.stack_pairs(agg, ["g"],
                            [("Hung", F.col("hung")),
                             ("Outright Majority", F.col("total") - F.col("hung"))],
                            "Councils", "Count")
    recombined = (stacked.groupBy("g").agg(F.sum("Count").alias("s"))
                  .join(agg, "g"))
    assert recombined.filter(F.col("s") != F.col("total")).count() == 0
    # stack multiplies rows by k
    assert stacked.count() == 2 * agg.count()


keys = st.lists(st.integers(0, 30), min_size=1, max_size=40)


@given(left=keys, right=keys)
@SLOW
def test_anti_semi_partition(spark, left, right):
    """J4 invariant: semi ⊎ anti == left, for arbitrary key multisets."""
    ldf = spark.createDataFrame([(k,) for k in left], "k int")
    rdf = spark.createDataFrame([(k,) for k in right], "k int")
    semi = R.semi_join(ldf, rdf, "k")
    anti = R.anti_join(ldf, rdf, "k")
    assert semi.count() + anti.count() == len(left)
    assert sorted(r["k"] for r in semi.unionByName(anti).collect()) == \
        sorted(left)


@given(data=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)),
                     min_size=1, max_size=30))
@SLOW
def test_dedup_keep_first_minimality(spark, data):
    """A8 invariant: exactly one row per key, and it is the ordered-first."""
    df = spark.createDataFrame(data, "k int, v int")
    out = R.dedup_keep_first(df, ["k"], [F.col("v").asc(), F.col("k").asc()])
    got = {r["k"]: r["v"] for r in out.collect()}
    expect = {}
    for k, v in data:
        expect[k] = min(expect.get(k, v), v)
    assert got == expect


@given(texts=st.lists(
    st.text(alphabet="ab c", min_size=1, max_size=30), min_size=2, max_size=8))
@SLOW
def test_jaccard_bounds_and_identity(spark, texts):
    """Jaccard pairs: 0 < j <= 1 always; j == 1.0 exactly for documents
    with identical token sets."""
    from sanef_election_dashboard_etl_spark.operators import dedup as D
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    pairs = D.ngram_jaccard_pairs(docs, n=1, min_jaccard=0.0).collect()
    for r in pairs:
        assert 0.0 < r["jaccard"] <= 1.0
    # identical-token-set pairs must appear with jaccard 1.0
    def tokset(t):
        return frozenset(t.split())
    same = [(a, b) for a in range(len(texts)) for b in range(a + 1, len(texts))
            if tokset(texts[a]) == tokset(texts[b]) and tokset(texts[a])]
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    for a, b in same:
        assert got.get((a, b)) == 1.0


@given(n_dup=st.integers(2, 4))
@SLOW
def test_minhash_never_misses_identical_docs(spark, n_dup):
    """LSH candidate generation can miss near-dups, but identical documents
    have identical signatures in every band — they can never be missed."""
    from sanef_election_dashboard_etl_spark.operators import dedup as D
    docs = [(i, "alpha beta gamma delta epsilon zeta") for i in range(n_dup)]
    docs += [(100, "totally different words entirely here now")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"])
             for r in D.minhash_lsh_pairs(df, n=1, k=16, bands=4,
                                          min_jaccard=0.99).collect()}
    for a in range(n_dup):
        for b in range(a + 1, n_dup):
            assert (a, b) in pairs


edge_sets = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=1, max_size=30).filter(
        lambda es: any(a != b for a, b in es))


@given(edges=edge_sets)
@SLOW
def test_connected_components_match_union_find(spark, edges):
    """The iterative Spark min-label propagation must agree with a plain
    driver-side union-find on every random edge set."""
    from sanef_election_dashboard_etl_spark.operators.dedup import (
        connected_components,
    )

    edges = [(a, b) for a, b in edges if a != b]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member id per root
    members: dict[int, list[int]] = {}
    for v in parent:
        members.setdefault(find(v), []).append(v)
    expect = {v: min(vs) for r, vs in members.items() for v in vs}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["doc_id"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == expect
    from sanef_election_dashboard_etl_spark.operators.dedup import (
        connected_components_logn,
    )
    got_logn = {r["doc_id"]: r["component"]
                for r in connected_components_logn(df).collect()}
    assert got_logn == expect


def test_cc_logn_beats_min_label_rounds_on_deep_chain(spark):
    """On a path graph (worst-case diameter) the star algorithm must
    converge in ~log2(n) rounds where min-label needs ~n."""
    from sanef_election_dashboard_etl_spark.operators.dedup import (
        connected_components,
        connected_components_logn,
    )

    n = 24
    chain = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a long, id_b long")
    flat = {r["doc_id"]: r["component"]
            for r in connected_components(chain, max_iter=n).collect()}
    star = {r["doc_id"]: r["component"]
            for r in connected_components_logn(chain).collect()}
    assert flat == star == {i: 0 for i in range(n)}
    assert connected_components_logn.last_rounds < \
        connected_components.last_rounds
    assert connected_components_logn.last_rounds <= 8  # ~2 log2(24)


pairs8 = st.lists(st.tuples(st.integers(0, 255), st.integers(0, 255)),
                  min_size=1, max_size=30, unique=True)


@given(vals=pairs8)
@SLOW
def test_z_value_is_injective_and_bounded(spark, vals):
    """Morton interleave is a bijection on [0,256)^2 -> [0,65536):
    distinct inputs give distinct z, and z stays within 2*bits bits."""
    from sanef_election_dashboard_etl_spark.operators.layout import z_value

    df = spark.createDataFrame(vals, "a long, b long")
    zs = [r["z"] for r in
          df.select(z_value([F.col("a"), F.col("b")], 8).alias("z")).collect()]
    assert len(set(zs)) == len(vals)
    assert all(0 <= z < 1 << 16 for z in zs)


def test_decimal_round_convention_matches_duckdb_at_half_cent(spark):
    """Regression pin for the sf1-surfaced cent-rounding divergence
    (SF1.md, functions/numeric.py ROUNDING RULE): a scale-4 decimal sum
    landing exactly on .xx50 must round to the same cents value in Spark
    and DuckDB. The engine convention rounds in the DECIMAL domain and
    casts to double after; rounding after the cast diverges on exactly
    these ties (q7/q9 at 6M rows)."""
    import duckdb

    rows = [(0, 33833097.0425), (0, 33833097.0425),  # 67666194.0850 -> .09
            (1, 0.0025), (1, 0.0025),                # 0.0050        -> .01
            (2, -0.0025), (2, -0.0025)]              # -0.0050       -> -.01
    df = spark.createDataFrame(rows, "g int, v double")
    got = {r["g"]: r["s"] for r in df.groupBy("g").agg(
        F.round(F.sum(F.col("v").cast("decimal(18,4)")), 2)
         .cast("double").alias("s")).collect()}
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame(
        {"g": [g for g, _ in rows], "v": [v for _, v in rows]}))
    want = dict(con.sql(
        "SELECT g, CAST(ROUND(SUM(CAST(v AS DECIMAL(18,4))), 2) AS DOUBLE)"
        " FROM t GROUP BY g").fetchall())
    assert got == want
    assert got == {0: 67666194.09, 1: 0.01, 2: -0.01}


money_rows = st.lists(
    st.tuples(st.integers(0, 3),                       # group
              st.integers(-10**9, 10**9),              # cents*100 (scale 4)
              ),
    min_size=1, max_size=40)


@given(rows=money_rows)
@SLOW
def test_decimal_sum_convention_matches_duckdb_fuzzed(spark, rows):
    """Fuzzed cross-engine determinism for the numeric.py convention:
    arbitrary scale-4 money values (constructed exactly as i/10^4, the
    class lineitem's price*discount products live in), random groups —
    the decimal-domain sum+round must match DuckDB to the last bit,
    ties included. This is the generative form of the q7/q9 sf1 catch."""
    import duckdb
    import pandas as pd

    data = [(g, i / 10_000.0) for g, i in rows]
    df = spark.createDataFrame(data, "g int, v double")
    got = {r["g"]: r["s"] for r in df.groupBy("g").agg(
        F.round(F.sum(F.col("v").cast("decimal(18,4)")), 2)
         .cast("double").alias("s")).collect()}
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"g": [g for g, _ in data],
                                    "v": [v for _, v in data]}))
    want = dict(con.sql(
        "SELECT g, CAST(ROUND(SUM(CAST(v AS DECIMAL(18,4))), 2) AS DOUBLE)"
        " FROM t GROUP BY g").fetchall())
    assert got == want


# --- ExactSubstr span dedup vs a brute-force reference ---------------------

def _brute_dup_spans(docs, k):
    """Reference: mark every position whose k-gram occurs in >=2 distinct
    docs, expand to token coverage, merge contiguous coverage."""
    from collections import defaultdict
    grams = defaultdict(set)
    toks = {d: t.split() for d, t in docs}
    for d, t in toks.items():
        for i in range(len(t) - k + 1):
            grams[" ".join(t[i:i + k])].add(d)
    spans = {}
    for d, t in toks.items():
        covered = set()
        for i in range(len(t) - k + 1):
            if len(grams[" ".join(t[i:i + k])]) >= 2:
                covered.update(range(i, i + k))
        merged, run = [], None
        for p in sorted(covered):
            if run and p == run[1] + 1:
                run[1] = p
            else:
                run = [p, p]
                merged.append(run)
        spans[d] = [(s, e - s + 1) for s, e in merged]
    return {(d, s, ln) for d, sp in spans.items() for s, ln in sp}


# Small token alphabet forces cross-doc gram collisions; doc length up to
# 14 tokens with k=3 exercises sub-k docs, full-dup docs, and overlap
# chains.
span_corpora = st.lists(
    st.lists(st.sampled_from("abcde"), min_size=0, max_size=14),
    min_size=2, max_size=6)


@given(corpus=span_corpora)
@SLOW
def test_duplicated_spans_match_bruteforce(spark, corpus):
    docs = [(i, " ".join(t)) for i, t in enumerate(corpus)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from sanef_election_dashboard_etl_spark.operators import dedup as D
    got = {(r["doc_id"], r["span_start"], r["span_tokens"])
           for r in D.duplicated_spans(df, k=3).collect()}
    assert got == _brute_dup_spans(docs, 3)


mix_docs = st.lists(
    st.tuples(st.integers(0, 2),               # source index
              st.integers(1, 30)),             # token count
    min_size=1, max_size=40)


@given(data=mix_docs, b1=st.integers(0, 200), b2=st.integers(0, 200))
@SLOW
def test_temperature_mixture_budget_monotone(spark, data, b1, b2):
    """Invariant: the temperature mixture at a smaller token budget is a
    SUBSET of the mixture at a larger one (per-source thresholds are
    monotone in the budget and the hash filter is fixed) — the property
    that makes budget extensions incremental re-admissions instead of
    corpus rebuilds. Also: repartitioning never changes the doc set."""
    from sanef_election_dashboard_etl_spark.operators import \
        sampling as SMP
    lo, hi = sorted((b1, b2))
    rows = [(i, f"s{s}", "t " * (n - 1) + "t")
            for i, (s, n) in enumerate(data)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    small = {r["doc_id"]
             for r in SMP.temperature_mixture(df, budget_tokens=lo,
                                              alpha=0.5).collect()}
    big = {r["doc_id"]
           for r in SMP.temperature_mixture(df, budget_tokens=hi,
                                            alpha=0.5).collect()}
    assert small <= big
    again = {r["doc_id"]
             for r in SMP.temperature_mixture(df.repartition(5),
                                              budget_tokens=hi,
                                              alpha=0.5).collect()}
    assert again == big


corpus_texts = st.lists(
    st.text(alphabet="ab ", min_size=1, max_size=20),
    min_size=1, max_size=12)


@given(texts=corpus_texts)
@SLOW
def test_bm25_scores_positive_and_unmatched_absent(spark, texts):
    """BM25 invariants under the Lucene idf form: every emitted score is
    strictly positive (idf never goes negative, tf >= 1), docs sharing
    no query term never appear, and a doc containing a query term DOES
    appear when k covers the candidate count."""
    from sanef_election_dashboard_etl_spark.operators import text as T
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    q = spark.createDataFrame([("q", "a")], "query_id string, term string")
    got = T.bm25_topk(df, q, k=len(texts)).collect()
    matched = {i for i, t in rows if "a" in t.split()}
    assert {r["doc_id"] for r in got} == matched
    assert all(r["score"] > 0 for r in got)


word = st.text(alphabet="abcde", min_size=1, max_size=3)
docs_strategy = st.lists(
    st.lists(word, min_size=1, max_size=8).map(" ".join),
    min_size=2, max_size=10)


@given(texts=docs_strategy)
@SLOW
def test_jaccard_prefix_pairs_equals_naive_on_random_corpora(spark, texts):
    """Prefix filtering is an exact optimization: on arbitrary random
    corpora its output is identical to the naive inverted-index join
    (pairs AND rounded scores), at threshold 0.5."""
    from sanef_election_dashboard_etl_spark.operators import dedup as D
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    grams = D.token_set(df)
    naive = sorted(map(tuple,
                       D.jaccard_pairs(grams, min_jaccard=0.5).collect()))
    pref = sorted(map(tuple, D.jaccard_prefix_pairs(
        grams, min_jaccard=0.5).collect()))
    assert pref == naive


edges_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=1, max_size=25)


@given(edges=edges_strategy)
@SLOW
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-ordered triangle counting equals the brute-force
    enumeration on arbitrary small graphs, and the per-node total is
    always divisible by 3 in aggregate (each triangle has 3 corners)."""
    from itertools import combinations

    from sanef_election_dashboard_etl_spark.operators import dedup as D
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if not canon:
        return
    df = spark.createDataFrame(sorted(canon), "id_a long, id_b long")
    got = {r.id: r.n_triangles for r in D.triangle_counts(df).collect()}
    nodes = sorted({v for e in canon for v in e})
    expect = {v: 0 for v in nodes}
    for a, b, c in combinations(nodes, 3):
        if ({(a, b), (a, c), (b, c)} <= canon):
            expect[a] += 1
            expect[b] += 1
            expect[c] += 1
    assert got == expect
    assert sum(got.values()) % 3 == 0


@given(total=st.integers(min_value=1, max_value=5000),
       n=st.integers(min_value=1, max_value=64))
@settings(max_examples=300, deadline=None)
def test_ntile_closed_form_matches_sql_ntile(total, n):
    """The distributed ccnet bucketing (text.ccnet_buckets default)
    replaces NTILE with a piecewise integer closed form over the global
    rank: with q = total DIV n, m = total MOD n, buckets 1..m hold q+1
    rows, the rest q (SQL NTILE front-loads the remainder). Property:
    the formula reproduces NTILE for EVERY (total, n) — including
    total < n, exact division, and remainder cases — the n=7 divergence
    of the naive floor((r-1)*n/total)+1 form is what this guards."""
    q, m = divmod(total, n)
    got = []
    for rank0 in range(total):
        if rank0 < m * (q + 1):
            b = rank0 // (q + 1) + 1
        else:
            b = m + (rank0 - m * (q + 1)) // q + 1
        got.append(b)
    # reference NTILE: first m buckets size q+1, remaining size q,
    # buckets numbered 1..min(n, total), non-decreasing
    ref = []
    for bucket in range(1, n + 1):
        size = q + 1 if bucket <= m else q
        ref.extend([bucket] * size)
    assert got == ref[:total]
    assert got == sorted(got)
    assert got[0] == 1 and got[-1] == min(n, total)


@given(nu=st.integers(0, 10 ** 7), du=st.integers(1, 10 ** 7),
       t=st.sampled_from([0.0, 0.05, 0.1, 0.3, 0.5, 0.8, 0.9, 0.99, 1.0]))
@settings(max_examples=300, deadline=None,
          suppress_health_check=list(HealthCheck))
def test_keep_ratio_ge_matches_rounded_compare(nu, du, t):
    """_keep_ratio_ge's integer cross-multiply must select EXACTLY the
    set the pre-r8 `rounded_ratio >= t` filter selected: mu >= m with
    mu the half-away units integer and m = _threshold_units(t). Pure
    integer replay (no Spark needed): the predicate is
    2e4*nu >= (2m-1)*du, the reference is double(mu/1e4) >= t — the
    comparison both engines evaluate."""
    from sanef_election_dashboard_etl_spark.operators.dedup import (
        _threshold_units)
    mu = (2 * nu * 10 ** 4 + du) // (2 * du)  # half-away (nonneg)
    reference = (mu / 10 ** 4) >= t           # IEEE double, as in-plan
    m = _threshold_units(t)
    predicate = 2 * 10 ** 4 * nu >= (2 * m - 1) * du
    assert predicate == reference, (nu, du, t, mu, m)
