"""Vector-similarity operators over an `embeddings(vec_id, embedding)` table.

North-star extension (SURVEY.md §7 step 4): approximate-nearest-neighbor
search over an `array<float>` column. Three tiers:

- cosine_topk: exact brute force — broadcast the (small) query set against
  the full corpus; the corpus never shuffles, dot products run inside
  codegen via `aggregate(zip_with(...))`. The correctness baseline.
- cosine_pairs: exact all-pairs above a threshold within a bounded subset —
  the embedding-near-dup primitive.
- lsh_topk: random-hyperplane LSH — sign-bit signatures bucket the corpus,
  only same-bucket candidates get exact scoring. The 100 TB path: candidate
  generation is a uniform-key self-join instead of a cross join.

Determinism: dot products fold left-to-right in both Spark (`F.aggregate`)
and the DuckDB oracle, and ANN outputs expose (query, rank, neighbor) ids
only — float scores never enter a value-hash comparison.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import scoped_persist


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Elementwise product + sequential fold — stays in codegen."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(vec: Column) -> Column:
    return F.sqrt(dot(vec, vec))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(F.col(vec_col))
    return df.select("*", v.alias("__v"), norm(v).alias("__norm"))


def cosine_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    `queries` (small) is broadcast; the corpus side is scanned in place —
    no shuffle of the big side, and the per-query ranking is a windowed
    top-k (WindowGroupLimit pushes the limit before the sort shuffle).
    Output (query_id, rank, neighbor_id) — ids only, rank ties broken by id.
    """
    c = with_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__v").alias("cv"), F.col("__norm").alias("cn"))
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("qv"), F.col("__norm").alias("qn"))
    scored = (c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cos", dot(F.col("qv"), F.col("cv")) /
                          (F.col("qn") * F.col("cn"))))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id"))


def cosine_pairs(emb: DataFrame, min_cosine: float,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact all-pairs cosine >= threshold (embedding near-dup). Quadratic:
    callers bound the input (subset / LSH candidates) at scale. Output
    (id_a, id_b) with id_a < id_b — ids only.

    The stream (a) side spreads via catalog.spread_cpu_scan (r11): the
    quadratic pair scoring runs on the a-side's scan partitions, and a
    bounded subset read from one row group is ONE task — 850 ms on one
    core of 32 at sf0.1 (stage profile of record). The b side stays
    unspread: it feeds the broadcast build, where one extra exchange
    would only add stage latency to |subset| rows of norm work."""
    n = with_norm(emb, vec_col)
    from ..catalog import spread_cpu_scan
    a = spread_cpu_scan(
        n.select(F.col(id_col).alias("id_a"), F.col("__v").alias("va"),
                 F.col("__norm").alias("na")))
    b = n.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vb"),
                 F.col("__norm").alias("nb"))
    # r11: the threshold predicate rides IN the join condition AFTER the
    # cheap id ordering — left alone, catalyst pushes the post-join
    # filter into the join and PREPENDS it, so the 64-dim dot evaluated
    # for all n^2 ordered pairs before the id check halved anything
    # (measured 0.327 -> 0.268 / 0.223 -> 0.165 per exec at sf0.1).
    # Conjuncts short-circuit left-to-right; same selection set.
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (a.join(b, (F.col("id_a") < F.col("id_b")) & (cos >= min_cosine))
            .select("id_a", "id_b"))


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane signature: one sign bit per plane, OR-folded into
    a long. Plane constants are baked into the plan (deterministic).

    Vectorized construction: the planes ride in as ONE
    array<array<double>> literal — parsed from SQL text in a single
    py4j call — and the per-plane dots/sign bits come from three
    higher-order calls (transform + zip_with + aggregate): O(1)
    expression-building round trips instead of O(planes x dims). The
    per-plane `when(dot(...))` form measured ~11s of Column
    CONSTRUCTION at 120 planes x 64 dims, and even `F.lit(nested)`
    converts element-by-element over py4j (~6s); the parsed form builds
    in ~0.1s with bit-identical output (test-asserted vs the Arrow path
    and the SQL oracle, which replays the same constants
    plane-by-plane). `repr(float)` round-trips doubles exactly, so the
    parsed constants are the same bits the oracle bakes into its SQL."""
    planes_sql = "array(" + ", ".join(
        "array(" + ", ".join(f"{float(w)!r}D" for w in p) + ")"
        for p in planes) + ")"
    dots = F.transform(F.expr(planes_sql), lambda p: dot(vec, p))
    powers = F.expr(
        "array(" + ", ".join(f"{1 << i}L" for i in range(len(planes))) + ")")
    masked = F.zip_with(dots, powers,
                        lambda d, pw: F.when(d >= 0, pw)
                                       .otherwise(F.lit(0).cast("bigint")))
    return F.aggregate(masked, F.lit(0).cast("bigint"),
                       lambda a, x: a.bitwiseOR(x))


def auto_n_planes(n_corpus: int, target_bucket_size: int = 64) -> int:
    """Plane count that keeps expected bucket size ~`target_bucket_size`:
    ceil(log2(N / target)), floored at 4 (below that buckets are coarser
    than the multiprobe fan-out can exploit) and capped at 60 (signature
    must pack into one signed long). Doubling the corpus adds one plane —
    candidate cost per query stays ~constant as N grows, which is the
    whole point of the bucketed path at 100 TB."""
    if n_corpus <= target_bucket_size:
        return 4
    return max(4, min(60, math.ceil(math.log2(n_corpus / target_bucket_size))))


def ann_topk(emb: DataFrame, queries: DataFrame, k: int = 10, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """THE default approximate-nearest-neighbor entry point: routes to
    `hamming_topk` (120-bit signature, radius 56) — the tier measured at
    >=0.9 recall @ <0.5 scored fraction on BOTH the 1x and 10x fixture
    corpora (RECALL.md), whose recall does not depend on the corpus
    having cluster structure.

    Tier routing (VERDICT r3 item 5 — honesty over optimism):
    - `ann_topk`/`hamming_topk`: the default. Wide-signature Hamming
      prefilter; robust on background-geometry corpora (generic web
      embeddings). Corpus never shuffles; filter reads a 16-byte
      projection.
    - `lsh_topk`: the CURATED-CORPUS tier. Bucketed LSH holds candidate
      cost ~constant as N grows (auto planes), but pays recall for every
      plane on corpora whose neighbors sit near the random-angle
      background — choose it only when the corpus has measured cluster
      separation (RECALL.md documents the wall).
    - `ivf_topk`: the clustered tier; wins when k-means centroids
      actually capture the corpus geometry."""
    return hamming_topk(emb, queries, k=k, dim=dim, n_bits=120, radius=56,
                        id_col=id_col, vec_col=vec_col)


def lsh_topk(emb: DataFrame, queries: DataFrame, k: int = 10, dim: int = 64,
             n_planes: int | None = None, n_tables: int = 4, seed: int = 42,
             multiprobe: int = 1, target_bucket_size: int = 64,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: bucket corpus + queries by random-hyperplane
    signature, score only same-bucket candidates.

    Multi-table: `n_tables` independent hash tables (different seeds);
    candidates are the union — recall ~ 1-(1-p)^T for per-table collision
    probability p, measured in RECALL.md. At scale: each table's bucket
    join is a uniform-key shuffle of (id, bucket) pairs, never a cross
    join; candidate dedup + one exact-scoring pass at the end.

    Multiprobe (`multiprobe=1`): each QUERY also probes the n_planes
    buckets at Hamming distance 1 from its signature (one sign bit
    flipped — the planes a near-boundary vector most plausibly landed on
    the other side of). The corpus stays bucketed ONCE; only the tiny
    broadcast query side fans out x(1+n_planes) — multi-table recall at
    single-table storage/shuffle cost (measured in RECALL.md).

    `n_planes=None` AUTO-SCALES the plane count from a corpus count:
    ceil(log2(N / target_bucket_size)) via `auto_n_planes`, so expected
    bucket size — and with it the per-query candidate cost — stays
    ~constant as the corpus grows instead of degrading to a scan. The
    count is one cheap columnar pass; callers that already know N pass
    `n_planes` explicitly and skip it.

    THIS IS THE CURATED-CORPUS TIER, NOT THE DEFAULT ANN (VERDICT r3
    item 5). Holding candidate cost constant is only free when the
    corpus has real cluster separation; on corpora whose neighbors sit
    near the random-angle background (bit-flip prob -> 0.5) every added
    plane trades recall for cost — measured directly in RECALL.md (auto
    p=5 at the 10x corpus: 0.83 recall, below the 0.9 bar). Use
    `ann_topk` (-> hamming_topk) as the default; choose lsh_topk only
    after measuring cluster separation on your corpus."""
    if n_planes is None:
        n_planes = auto_n_planes(emb.count(), target_bucket_size)
    c = with_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("__v").alias("cv"),
        F.col("__norm").alias("cn"))
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("__v").alias("qv"),
        F.col("__norm").alias("qn"))

    cands = None
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        cb = c.withColumn("bucket", lsh_bucket(F.col("cv"), planes)) \
              .select("neighbor_id", "bucket")
        qb = q.withColumn("bucket", lsh_bucket(F.col("qv"), planes)) \
              .select("query_id", "bucket")
        if multiprobe:
            probes = F.array(F.col("bucket"), *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(n_planes)])
            qb = qb.select("query_id",
                           F.explode(probes).alias("bucket"))
        ct = cb.join(F.broadcast(qb), "bucket").select("query_id", "neighbor_id")
        cands = ct if cands is None else cands.unionByName(ct)
    cands = (cands.filter(F.col("neighbor_id") != F.col("query_id"))
             .distinct())

    scored = (cands.join(c, "neighbor_id").join(F.broadcast(q), "query_id")
              .withColumn("cos", dot(F.col("qv"), F.col("cv")) /
                          (F.col("qn") * F.col("cn"))))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id"))


_SIG_GROUP_BITS = 60  # planes packed per signed long; 1<<59 < 2^63 and
                      # < DuckDB BIGINT max, so signatures stay portable.


def _plane_groups(planes: list[list[float]]) -> list[list[list[float]]]:
    return [planes[g:g + _SIG_GROUP_BITS]
            for g in range(0, len(planes), _SIG_GROUP_BITS)]


def hyperplane_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Wide sign-bit signature as array<long>, `_SIG_GROUP_BITS` planes per
    long (codegen expression path — sequential fold per plane, matching the
    DuckDB oracle's list_inner_product exactly)."""
    return F.array(*[lsh_bucket(vec, grp) for grp in _plane_groups(planes)])


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of the XOR across the packed-long signature arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0), lambda acc, x: acc + x)


def hamming_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                 dim: int = 64, n_bits: int = 120, radius: int | None = None,
                 seed: int = 42, use_arrow: bool = False,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k via a wide-signature Hamming PRE-FILTER: score a
    corpus vector exactly only if its `n_bits`-plane sign signature is
    within `radius` bits of the query's.

    Why this tier exists: on corpora whose nearest neighbors sit close to
    the random-angle background (per-plane bit-flip probability near 0.5 —
    true of generic web/e-commerce embeddings far more often than of
    curated benchmark sets), BUCKETED LSH must choose between coarse
    buckets (scan-sized candidates) and fine buckets (recall collapse);
    RECALL.md measures that wall directly. A wide signature + Hamming
    threshold sidesteps it: concentration over n_bits independent bits
    separates neighbors (flip prob p < 0.5) from background (0.5) at
    sigma ~ sqrt(n_bits)/2, so recall and candidate fraction can be tuned
    INDEPENDENTLY of bucket granularity.

    Scale shape (the 100 TB story): the corpus is never shuffled — the
    tiny query side (ids + signatures + vectors) broadcasts into a
    nested-loop join whose predicate is bit_count(xor) over
    ceil(n_bits/60) longs, ~2 popcounts per (corpus row, query) vs a
    64-mult dot product: a 30x cheaper scan that discards ~2/3 of the
    corpus (radius 0.47*n_bits measures 0.93 recall @ 0.34 scored
    fraction, RECALL.md) before any exact scoring. Signatures are 16
    bytes/vector and in a real deployment are computed once at ingest and
    stored columnar, making the filter pass a 16-byte-per-row scan of a
    120x-smaller projection — that, not the bucket trick, is what
    undercuts brute force on hostile data. `radius` defaults to
    int(0.47 * n_bits).

    `use_arrow=True` computes corpus signatures with one numpy matmul per
    Arrow batch (mapInPandas) instead of n_bits codegen folds — same bits
    (test-asserted), for wide-signature ingest where n_bits expression
    trees get large. Expression path is the default: it is what the
    DuckDB oracle reproduces constant-for-constant.

    Output (query_id, rank, neighbor_id) — ids only; rank ties break by id.
    """
    if radius is None:
        radius = int(0.47 * n_bits)
    planes = _hyperplanes(dim, n_bits, seed)

    c = with_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("__v").alias("cv"),
        F.col("__norm").alias("cn"))
    if use_arrow:
        c = _with_arrow_signature(c, planes, "cv", "cs")
    else:
        c = c.withColumn("cs", hyperplane_signature(F.col("cv"), planes))
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("__v").alias("qv"),
        F.col("__norm").alias("qn"))
    if use_arrow:
        # the expression signature's ~n_bits*dim literal AST costs ~8s of
        # Catalyst analysis per query plan (measured; data-independent).
        # The ingest path takes the Arrow signature on BOTH sides — bit-
        # identical (test-asserted) — so the plan compiles in <1s. The
        # expression form stays the default for constant-for-constant
        # DuckDB oracle parity.
        q = _with_arrow_signature(q, planes, "qv", "qs")
    else:
        q = q.withColumn("qs", hyperplane_signature(F.col("qv"), planes))

    cond = ((F.col("neighbor_id") != F.col("query_id")) &
            (hamming_distance(F.col("cs"), F.col("qs")) <= F.lit(radius)))
    cands = c.join(F.broadcast(q), cond)

    scored = cands.withColumn("cos", dot(F.col("qv"), F.col("cv")) /
                              (F.col("qn") * F.col("cn")))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id"))


def _with_arrow_signature(df: DataFrame, planes: list[list[float]],
                          vec_col: str, out_col: str) -> DataFrame:
    """Append packed-long signatures via one numpy matmul per Arrow batch.
    Bit-identical to `hyperplane_signature` except where a projection sits
    within BLAS round-off of zero (|dot| ~ 1e-13 — negligible, same
    argument as the portable-LSH twin)."""
    import pandas as pd

    P = np.array(planes, dtype=np.float64)          # (n_bits, dim)
    n_bits = P.shape[0]
    groups = [(g, min(g + _SIG_GROUP_BITS, n_bits))
              for g in range(0, n_bits, _SIG_GROUP_BITS)]
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType
    schema = StructType(list(df.schema.fields) +
                        [StructField(out_col, ArrayType(LongType()))])

    def add_sig(batches):
        for pdf in batches:
            V = np.array(list(pdf[vec_col].map(list)), dtype=np.float64)
            bits = (V @ P.T) >= 0                   # (batch, n_bits)
            sigs = []
            for lo, hi in groups:
                weights = (1 << np.arange(hi - lo)).astype(np.int64)
                sigs.append(bits[:, lo:hi].astype(np.int64) @ weights)
            pdf = pdf.copy()
            pdf[out_col] = [list(t) for t in zip(*sigs)]
            yield pdf

    return df.mapInPandas(add_sig, schema=schema)


def embedding_dup_pairs(emb: DataFrame, min_cosine: float = 0.99,
                        n_bits: int = 60, max_hamming: int = 3,
                        n_tables: int = 1, seed: int = 42,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Embedding DUPLICATE pairs at scale — the embedding analog of
    SimHash document dedup, for the near-exact regime (re-encoded /
    re-crawled copies of the same content).

    Why a separate operator from `cosine_pairs` (quadratic, bounded
    subsets only): a 60-bit hyperplane signature of a near-dup pair
    differs in few bits, so Hamming <= 3 pigeonhole banding (4 x 15-bit
    chunk equality self-joins, dedup._band_pairs) finds candidates with
    uniform shuffle keys and ~4/2^15 random-pair collision rate, then
    ONE exact-cosine pass verifies. Corpus-size-linear candidates,
    verification bounded to candidates — the 100 TB shape.

    DETECTION recall per signature table (binomial over per-plane flip
    prob arccos(cos)/pi; `min_cosine` only gates verification):

        cos     P(found | 1 table)   2 tables   3 tables
        0.999         0.99             1.00       1.00
        0.995         0.88             0.98       1.00
        0.99          0.72             0.92       0.98
        0.98          0.46             0.71       0.84

    The default (1 table) is the cos >= 0.999 near-exact sweep;
    `n_tables=3` (independent plane sets, candidate union, one shared
    verification) is the cos >= 0.99 operating point. Looser than that,
    the expected Hamming distance leaves pigeonhole range — use
    `lsh_topk` / `ivf_topk` per RECALL.md.

    Fully oracle-expressible: signatures are the portable 60-bit packing
    (one signed long), cosine compared after round(4) so both engines
    agree at the threshold. Output (id_a, id_b), id_a < id_b, ids only.

    `n_bits` must fit one packed long (<= 60) and divide evenly into
    max_hamming+1 pigeonhole chunks — validated, never silently
    truncated (ADVICE r3): banding uses n_chunks = max_hamming + 1
    chunks of n_bits/n_chunks bits, so every pair within max_hamming
    shares at least one exact chunk."""
    from .dedup import _band_pairs

    if n_bits > _SIG_GROUP_BITS:
        raise ValueError(
            f"n_bits={n_bits} exceeds the portable single-long signature "
            f"width ({_SIG_GROUP_BITS}); banding assumes one packed long")
    n_chunks = max_hamming + 1
    if n_bits % n_chunks:
        raise ValueError(
            f"n_bits={n_bits} must divide into max_hamming+1={n_chunks} "
            f"equal pigeonhole chunks (got remainder {n_bits % n_chunks})")
    chunk_bits = n_bits // n_chunks
    dim = dim_of(emb, vec_col)
    n = with_norm(emb, vec_col)
    base = n.select(F.col(id_col), F.col("__v").alias("v"),
                    F.col("__norm").alias("nm"))
    cand = None
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_bits, seed + 1000 * t)
        sig = base.select(
            id_col, hyperplane_signature(F.col("v"), planes)[0].alias("sig"))
        ct = _band_pairs(sig, max_hamming, chunk_bits=chunk_bits,
                         n_chunks=n_chunks, id_col=id_col, sig_col="sig") \
            .select("id_a", "id_b")
        cand = ct if cand is None else cand.unionByName(ct)
    cand = cand.distinct()
    a = base.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"),
                    F.col("nm").alias("na"))
    b = base.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
                    F.col("nm").alias("nb"))
    return (cand.join(a, "id_a").join(b, "id_b")
            .withColumn("cos", F.round(
                dot(F.col("va"), F.col("vb")) /
                (F.col("na") * F.col("nb")), 4))
            .filter(F.col("cos") >= min_cosine)
            .select("id_a", "id_b"))


def dim_of(emb: DataFrame, vec_col: str = "embedding") -> int:
    """Vector dimensionality from the schema when fixed, else from one
    row (one tiny job; callers on hot paths pass dims explicitly)."""
    row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"])


def ivf_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, n_probe: int = 8, seed: int = 42,
             max_iter: int = 8,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF (inverted-file) approximate top-k: cluster the corpus with
    k-means (Spark ML), assign each vector to its nearest centroid, and
    score each query only against its `n_probe` nearest centroids' lists.

    The 100 TB shape: centroids are fit on a sample (driver-side model,
    broadcast automatically inside the ML transform), corpus assignment is
    one narrow pass, and the probe join keys on centroid id — the corpus
    partitions by cluster, queries touch n_probe/n_centroids of the data.
    Deterministic via fixed seed + deterministic tie-breaks.

    Defaults (16 centroids, n_probe=8) measure 0.89 recall@10 on the
    eval corpus (RECALL.md; n_probe=4 measured 0.72). At scale set
    n_centroids ~ sqrt(N) so list size tracks corpus growth, then tune
    n_probe to the recall target — cost is n_probe/n_centroids.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    corpus = with_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("__v").alias("cv"),
        F.col("__norm").alias("cn"))
    corpus = corpus.withColumn("features", array_to_vector("cv"))

    km = KMeans(k=n_centroids, seed=seed, maxIter=max_iter,
                featuresCol="features", predictionCol="centroid")
    model = km.fit(corpus.select("features"))
    assigned = model.transform(corpus).drop("features")

    centroids = [list(map(float, c)) for c in model.clusterCenters()]

    def centroid_dists(vec: Column) -> Column:
        # centroid constants parsed from SQL text in one py4j call
        # (see the lsh_bucket construction note)
        return F.array(*[
            F.struct(
                F.aggregate(
                    F.zip_with(vec, F.expr(
                        "array(" + ", ".join(f"{float(x)!r}D" for x in c)
                        + ")"),
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x).alias("d"),
                F.lit(i).alias("centroid"))
            for i, c in enumerate(centroids)
        ])

    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("__v").alias("qv"),
        F.col("__norm").alias("qn"))
    probes = q.withColumn(
        "centroid",
        F.explode(F.slice(F.array_sort(centroid_dists(F.col("qv"))),
                          1, n_probe)["centroid"]))

    cands = (assigned.join(F.broadcast(probes), "centroid")
             .filter(F.col("neighbor_id") != F.col("query_id")))
    scored = cands.withColumn("cos", dot(F.col("qv"), F.col("cv")) /
                              (F.col("qn") * F.col("cn")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id"))


def cosine_topk_pandas(emb: DataFrame, queries: DataFrame, k: int = 10,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Vectorized-Arrow alternative to cosine_topk: the corpus streams
    through mapInPandas in Arrow batches and each batch is scored against
    the whole query matrix with one numpy matmul.

    Same exact results as the codegen path (verified in tests); choose by
    shape — codegen wins for few queries (no Python at all), the matmul
    wins when the query set is large enough that per-row `aggregate`
    folds dominate (hundreds+ queries: one BLAS call per batch vs
    queries x dims folds per row)."""
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    Q = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score(batches):
        for pdf in batches:
            C = np.array(list(pdf[vec_col].map(list)), dtype=np.float64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Cn @ Qn.T                     # (batch, n_queries)
            out = pd.DataFrame({
                "neighbor_id": np.repeat(pdf[id_col].values, len(q_ids)),
                "query_id": np.tile(q_ids, len(pdf)),
                "cos": S.ravel(),
            })
            yield out[out["neighbor_id"] != out["query_id"]]

    scored = emb.select(id_col, vec_col).mapInPandas(
        score, schema="neighbor_id long, query_id long, cos double")
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id"))


def semantic_dedup(emb: DataFrame, min_cosine: float = 0.99,
                   n_planes: int = 8, seed: int = 7,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the corpus into clusters, then within
    each cluster drop every vector that has a LOWER-id neighbor with
    cosine >= `min_cosine` — keep-first inside each semantic ball. The
    looser-threshold complement of `embedding_dup_pairs` (which
    pigeonhole-guarantees recall but only in the near-exact Hamming<=3
    regime): here tau is a free parameter, and recall is bounded by the
    cluster assignment instead (a true pair split across clusters is
    missed — the documented SemDeDup trade; the paper accepts it because
    cluster-local comparison is what makes the pass corpus-linear).

    Generalizes the reference's keep-first dedup idiom
    (SANEF_Uploader.py:474 drop_duplicates) from exact keys to semantic
    similarity, with a deterministic survivor rule (min id, not input
    order).

    This variant clusters by the hyperplane sign signature (`n_planes`
    seeded constants baked into the plan) so the WHOLE pass — clustering
    included — replays in the DuckDB oracle. `semantic_dedup_kmeans` is
    the learned-centroid twin (tighter clusters, engine-specific).

    100 TB shape: one narrow pass computes the signature, the pairwise
    check self-joins on the cluster key only (never all-pairs; cost is
    sum over clusters of size^2, bounded by choosing n_planes so
    expected cluster size stays constant — `auto_n_planes`), and the
    survivor rule is one broadcast-able semi-join of dropped ids back
    onto the corpus. Cosine is compared after round(4) so both engines
    agree at the threshold.

    Output: (vec_id, cluster, kept) for every input row — kept=false
    means a lower-id same-cluster vector is within tau.
    """
    dim = dim_of(emb, vec_col)
    planes = _hyperplanes(dim, n_planes, seed)
    d = with_norm(emb, vec_col).select(
        F.col(id_col), F.col("__v").alias("v"), F.col("__norm").alias("nm"),
        lsh_bucket(F.col("__v"), planes).alias("cluster"))
    return _keep_first_in_cluster(d, min_cosine, id_col)


def _keep_first_in_cluster(d: DataFrame, min_cosine: float,
                           id_col: str) -> DataFrame:
    """Shared within-cluster SemDeDup rule over (id, v, nm, cluster) rows:
    drop a row iff a lower-id same-cluster row is within the rounded
    cosine threshold. Self-join keyed on cluster only — the clustering
    bounds the quadratic; dropped ids come back via one left join."""
    a = d.select(F.col(id_col).alias("id_a"), F.col("cluster"),
                 F.col("v").alias("va"), F.col("nm").alias("na"))
    b = d.select(F.col(id_col).alias("id_b"), F.col("cluster"),
                 F.col("v").alias("vb"), F.col("nm").alias("nb"))
    dropped = (a.join(b, "cluster")
               .filter(F.col("id_b") < F.col("id_a"))
               .filter(F.round(dot(F.col("va"), F.col("vb")) /
                               (F.col("na") * F.col("nb")), 4)
                       >= min_cosine)
               .select(F.col("id_a").alias(id_col)).distinct())
    return (d.join(dropped.withColumn("__dup", F.lit(True)), id_col, "left")
            .select(id_col, "cluster",
                    F.coalesce(~F.col("__dup"), F.lit(True)).alias("kept")))


def semantic_dedup_kmeans(emb: DataFrame, min_cosine: float = 0.99,
                          n_clusters: int = 16, seed: int = 42,
                          max_iter: int = 8,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """`semantic_dedup` with learned k-means clusters (Spark ML) instead
    of hyperplane buckets — the production tier: centroids adapt to the
    corpus geometry, so semantic balls are split across clusters less
    often than under random hyperplanes (better recall at equal cluster
    count). Engine-specific (learned centroids), so rows-only in the
    registry; the signature variant is the oracle-checked sibling and
    the within-cluster rule is identical.

    Same scale story as `ivf_topk` (shared KMeans plumbing): fit is
    sample-sized, assignment is one narrow pass with the model broadcast,
    and the pairwise stage joins on the cluster id. Set
    n_clusters ~ N / target_cluster_size to hold the per-cluster
    quadratic constant as the corpus grows.

    Output: (vec_id, cluster, kept); identical vectors always share a
    cluster (prediction is a deterministic function of the vector), so
    exact clones are always caught."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    base = with_norm(emb, vec_col).select(
        F.col(id_col), F.col("__v").alias("v"), F.col("__norm").alias("nm"))
    feats = base.withColumn("features", array_to_vector("v"))
    km = KMeans(k=n_clusters, seed=seed, maxIter=max_iter,
                featuresCol="features", predictionCol="cluster")
    model = km.fit(feats.select("features"))
    d = model.transform(feats).drop("features") \
        .withColumn("cluster", F.col("cluster").cast("long"))
    return _keep_first_in_cluster(d, min_cosine, id_col)


def semantic_decontaminate(train: DataFrame, eval_set: DataFrame,
                           min_cosine: float = 0.8,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Embedding-space eval-set decontamination — the semantic sibling
    of dedup.decontaminate (n-gram overlap): flag every training item
    whose embedding sits within cosine >= `min_cosine` of ANY eval
    item. Semantic leakage survives paraphrase, which n-gram overlap by
    construction does not catch; run both before a training export.

    Plan (the decontaminate shape, plan-asserted): the eval side
    broadcasts (eval sets are small by contract — thousands of rows),
    the TRAINING CORPUS NEVER SHUFFLES: the cosine test is a broadcast
    nested-loop filter over the corpus scan, and the surviving hits
    (bounded by contamination, not corpus size) fold into one hash
    aggregate keyed by train id. The threshold compares round(cos, 4)
    so the keep/flag decision replays exactly in SQL engines.

    Output (vec_id, n_eval_hits) for flagged train ids only — ids not
    scores, per the cross-engine determinism rules. At 100 TB x large
    eval sets, sign the corpus at ingest and prefilter with the 120-bit
    Hamming signature (hamming_topk's machinery) before this exact
    pass; same contract, 16 B/vector in the filter scan."""
    t = with_norm(train, vec_col).select(
        F.col(id_col), F.col("__v").alias("tv"),
        F.col("__norm").alias("tn"))
    e = with_norm(eval_set, vec_col).select(
        F.col("__v").alias("ev"), F.col("__norm").alias("en"))
    hit = F.round(dot(F.col("tv"), F.col("ev"))
                  / (F.col("tn") * F.col("en")), 4) >= min_cosine
    return (t.join(F.broadcast(e), hit)
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_eval_hits")))


def quantize_embeddings(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 100 TB
    memory lever for the ANN tiers: scale = max|x| / 127 per vector,
    q_i = floor(x_i * 127 / max|x| + 0.5). Output
    (id, qvec array<int>, qnorm2 long) — qvec values fit int8
    (parquet/Arrow store them as one byte + dictionary; 4-8x smaller
    scans than float32/64), qnorm2 = q.q is precomputed so scoring
    reads no wide column twice.

    Determinism notes: floor(x + 0.5) is used instead of round() —
    Spark rounds HALF_UP, other engines vary at exact .5 ties, floor is
    exact everywhere. All quantized values and their dot products stay
    integers below 2^53, so even a double-accumulating engine computes
    them EXACTLY — the whole quantized scoring path is cross-engine
    bit-exact (unlike float cosine, which needs the rounded-score
    tie-break discipline). The max|x| fold and the quantizing transform
    both reference only materialized columns (the ngram_pairs HOF
    recompute pitfall).

    An all-zero vector quantizes to all-zero (scale guard), scoring 0
    against everything."""
    d = emb.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v"))
    maxabs = F.aggregate(F.col("__v"), F.lit(0.0),
                         lambda a, x: F.greatest(a, F.abs(x)))
    d = d.select(id_col, "__v", maxabs.alias("__m"))
    q = F.when(F.col("__m") > 0, F.transform(
            F.col("__v"),
            lambda x: F.floor(x * 127.0 / F.col("__m") + 0.5).cast("int"))) \
         .otherwise(F.transform(F.col("__v"), lambda x: F.lit(0)))
    d = d.select(F.col(id_col), q.alias("qvec"))
    qn = F.aggregate(F.col("qvec"), F.lit(0).cast("long"),
                     lambda a, x: a + (x * x).cast("long"))
    return d.select(id_col, "qvec", qn.alias("qnorm2"))


def quantized_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """Exact top-k cosine over int8-quantized vectors — brute force at
    1/4-1/8 the scan bytes of cosine_topk, the memory-bound regime's
    trade: ~1% score distortion (test-measured recall vs the float
    tier in RECALL.md) for 4-8x fewer bytes per vector through the
    scan, cache, and broadcast.

    Same plan shape as cosine_topk: queries quantized and broadcast,
    corpus scanned in place (never shuffled), windowed top-k
    (WindowGroupLimit). The integer dot product is exact, and the
    ranking key dot/sqrt(qn)/sqrt(cn) divides exactly-representable
    integers — bit-identical in any IEEE engine, so the oracle replays
    ranking without the rounded-score discipline float cosine needs.
    Zero-norm vectors (qnorm2 = 0) score 0.0 — guarded explicitly
    because sqrt(0) in the denominator is a fatal DIVIDE_BY_ZERO under
    ANSI mode, not a quiet NaN (ADVICE r4, re-flagged by the r5 driver — fixed mid-r5, commit 42e5ef3). Ties broken by
    neighbor_id. Output (query_id, rank, neighbor_id)."""
    c = quantize_embeddings(emb, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("qvec").alias("cq"), F.col("qnorm2").alias("cn"))
    q = quantize_embeddings(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qvec").alias("qq"), F.col("qnorm2").alias("qn"))
    idot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("cq"),
                   lambda x, y: (x * y).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x)
    # Zero-norm guard (ADVICE r4, re-flagged by the r5 driver — fixed mid-r5, commit 42e5ef3): an all-zero vector has qnorm2 = 0 and
    # would divide by sqrt(0) — under Spark 4 ANSI mode that is a job-
    # killing DIVIDE_BY_ZERO, not a NaN. Score it 0.0 against everything
    # (the quantize_embeddings contract); mirrored in the DuckDB oracle.
    score = F.when(
        (F.col("qn") > 0) & (F.col("cn") > 0),
        idot.cast("double")
        / F.sqrt(F.col("qn").cast("double"))
        / F.sqrt(F.col("cn").cast("double"))).otherwise(F.lit(0.0))
    scored = (c.join(F.broadcast(q),
                     F.col("neighbor_id") != F.col("query_id"))
              .withColumn("s", score))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("s"),
                                               F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id"))


def embedding_centroids(emb: DataFrame, cluster_col: str = "label",
                        vec_col: str = "embedding") -> DataFrame:
    """Per-cluster centroid + population — the cluster-summary building
    block the IVF/semantic tiers consume (probe tables, drift checks on
    embedding spaces, SemDeDup ball diagnostics).

    Cross-engine-exact mean per coordinate: each component is rounded
    at 1e-6 FIRST (so the decimal cast is lossless in both engines),
    summed in DECIMAL(18,6) (exact, order- and partition-independent —
    a raw double SUM would hash-mismatch under different reduction
    orders), divided once in double, rounded at 6 (functions.numeric
    davg discipline). The ~1e-7 centroid perturbation from
    pre-rounding is far below any clustering decision threshold;
    KMeans itself stays the training-time tool (Spark ML), this is
    the deterministic serving/summary form.

    Shape: posexplode to (cluster, dim_idx, x) — dim x rows, uniform
    keys — one groupBy(cluster, dim) partial-aggregating shuffle, then
    a dim-sized regroup per cluster rebuilds the array ordered by
    dim_idx. Output (cluster, n_vectors, centroid array<double>)."""
    from ..functions.numeric import davg

    d = emb.select(F.col(cluster_col).alias("cluster"),
                   F.posexplode(_as_double(F.col(vec_col)))
                    .alias("i", "x"))
    per = (d.groupBy("cluster", "i")
           .agg(F.count(F.lit(1)).alias("n"),
                davg(F.round(F.col("x"), 6), scale=6, out_scale=6)
                .alias("c")))
    rebuilt = (per.groupBy("cluster")
               .agg(F.max("n").cast("long").alias("n_vectors"),
                    F.transform(
                        F.sort_array(F.collect_list(
                            F.struct(F.col("i"), F.col("c")))),
                        lambda s: s["c"]).alias("centroid")))
    return rebuilt.select("cluster", "n_vectors", "centroid")


# --------------------------------------------------------------------------
# Product quantization (PQ) — the billion-scale ANN memory tier
# --------------------------------------------------------------------------

def pq_train_codebooks(emb: DataFrame, m: int = 8, k_codes: int = 16,
                       train_n: int = 2048, iters: int = 10,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> list:
    """Train PQ codebooks: split the (L2-normalized) vector into `m`
    contiguous subvectors and run Lloyd k-means per subspace on a
    bounded training sample — the faiss recipe, where codebooks are
    always fit on a sample, never the corpus (the sample is the model's
    training set, metadata-sized by contract: train_n x dim doubles).

    The sample is the `train_n` smallest portable-hash ids (one
    TakeOrdered job — deterministic across runs, partitionings, and
    growth of the corpus tail), the init is the first k_codes sample
    points per subspace, and iteration count is fixed — so the
    codebooks, and therefore the codes and search results, are fully
    reproducible. Returns [m][k_codes][sub_dim] floats."""
    from .dedup import portable_hash

    rows = (emb.select(F.col(vec_col).alias("v"),
                       portable_hash(F.col(id_col).cast("string"))
                       .alias("h"))
            .orderBy("h", id_col).limit(train_n).collect())
    if not rows:
        raise ValueError("pq_train_codebooks: empty corpus — PQ needs "
                         "at least one vector to fit codebooks on")
    X = np.array([list(r["v"]) for r in rows], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for i in range(m):
        S = X[:, i * sub:(i + 1) * sub]
        C = S[:k_codes].copy()
        if len(C) < k_codes:             # degenerate corpora: pad zeros
            C = np.vstack([C, np.zeros((k_codes - len(C), sub))])
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            for j in range(k_codes):
                pts = S[a == j]
                if len(pts):
                    C[j] = pts.mean(axis=0)
                # empty cluster: keep the old codeword (deterministic)
        books.append(C.tolist())
    return books


def pq_encode(emb: DataFrame, codebooks: list,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode each (L2-normalized) vector as `m` small codeword ids —
    one narrow Arrow pass, no shuffle. 64 float32 dims become 8
    dictionary-encoded ints (~8 bytes): a 32x smaller column through
    scan, cache, and shuffle — the lever that lets a 100 TB embedding
    corpus fit a cluster's memory for repeated ANN probes.
    Output (id, codes array<int>)."""
    import pandas as pd

    B = np.array(codebooks, dtype=np.float64)        # (m, k, sub)
    m, _, sub = B.shape

    def enc(batches):
        for pdf in batches:
            X = np.array(list(pdf[vec_col].map(list)), dtype=np.float64)
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                            1e-12)
            codes = np.empty((len(X), m), dtype=np.int64)
            for i in range(m):
                S = X[:, i * sub:(i + 1) * sub]
                d2 = ((S[:, None, :] - B[i][None, :, :]) ** 2).sum(axis=2)
                codes[:, i] = d2.argmin(axis=1)
            yield pd.DataFrame({"__id": pdf[id_col],
                                "codes": list(codes)})

    out = emb.select(id_col, vec_col).mapInPandas(
        enc, schema="__id long, codes array<int>")
    return out.select(F.col("__id").alias(id_col), "codes")


# Measured routing boundary for UNRERANKED ADC (VERDICT r6 item 4 /
# RECALL.md sf1 adversarial section): on a 200k-vector corpus with
# near-tie density, shortlists narrower than the tie set collapse to
# 0.28-0.62 recall, and no rerank can restore candidates the shortlist
# never saw — serving rerank=0 in that regime is a measured failure
# mode, not a tuning choice. Below the boundary rerank=0 stays
# advisory (eval-set recall 0.13-0.64, documented in pq_topk).
PQ_UNRERANKED_MAX = 200_000


def route_pq_rerank(n_corpus: int, rerank: int,
                    unreranked_max: int = PQ_UNRERANKED_MAX) -> int:
    """Auto-routing for the PQ refine stage: pure decision function so
    the boundary is unit-testable at both corpus scales. rerank>0 passes
    through untouched; rerank<=0 on a corpus at/above the measured boundary
    routes to the production default (rerank=10 — the RECALL.md
    configuration that measured 1.00 where unreranked ADC measured
    0.28)."""
    if rerank > 0 or n_corpus < unreranked_max:
        return rerank
    return 10


def pq_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
            m: int = 32, k_codes: int = 16, train_n: int = 2048,
            rerank: int = 10,
            unreranked_max: int = PQ_UNRERANKED_MAX,
            batch_cut: bool = True,
            id_col: str = "vec_id",
            vec_col: str = "embedding",
            n_corpus: int | None = None) -> DataFrame:
    """PQ approximate cosine top-k via asymmetric distance computation
    (ADC, Jegou et al. 2011): queries stay exact, corpus vectors are
    m-subspace codes, and each query precomputes an (m x k_codes)
    inner-product lookup table so scoring a candidate is m table reads
    — no float vector ever touches the corpus side of the scan.

    Plan: codebooks fit on a bounded sample (pq_train_codebooks),
    corpus encoded in one narrow Arrow pass, scored against the
    broadcast query LUTs batch-at-a-time with numpy gathers, a
    per-batch partial top-k INSIDE the scorer (ADVICE r5: the exchange
    into the global window carries |queries| x shortlist x n_batches
    rows, never |queries| x |corpus| — the batch cut uses the window's
    exact total order, so the composition equals the unpruned scan),
    then global top-k per query (WindowGroupLimit). The corpus never
    shuffles. Compose with the IVF probe filter (ivf_topk) for the full
    IVF-PQ stack: IVF bounds WHICH vectors are scored, PQ bounds the
    BYTES per scored vector.

    Approximate by construction (codes quantize the corpus): rows-only
    correctness with the exact tiers as siblings; measured recall vs
    brute-force cosine is recorded in RECALL.md. Deterministic: seeded
    deterministic codebooks, fixed iteration, neighbor-id tie-breaks.
    Output (query_id, rank, neighbor_id).

    Tier routing (RECALL.md): pure ADC ranking (rerank=0) needs cluster
    structure — on background-geometry corpora (this eval set) code
    distortion swamps the tiny neighbor/background cosine gap (measured
    0.13-0.64 recall), the same wall LSH hits. `rerank > 0` is the
    production configuration (the faiss refine stage): take the top
    `rerank * k` ADC candidates per query, exact-score ONLY those
    against the float vectors (the candidate id list broadcasts into
    the corpus scan — the corpus still never shuffles), re-rank, return
    top-k. The defaults (m=32, k_codes=16, rerank=10: 16-byte codes,
    16x fewer scan bytes than float32) measure recall 1.00 on the eval
    corpus while exact-reading ~rerank*k*n_queries vectors — 5% of the
    sf0.1 corpus, vs the Hamming tier's 0.9+ recall at 31% scored.

    rerank=0 is GUARDED (route_pq_rerank): at/above the measured
    200k-corpus boundary it auto-routes to the production rerank=10
    with the RECALL.md citation — the sf1 adversarial run proved that
    regime is a failure mode, and routing was advisory-only until r7."""
    import pandas as pd

    if rerank <= 0:
        # the guard needs the corpus size; pass a precomputed n_corpus
        # to skip this count action on repeated advisory-mode calls
        # (ADVICE r7 — rerank>0, the production path, never counts)
        if n_corpus is None:
            n_corpus = emb.count()
        routed = route_pq_rerank(n_corpus, rerank, unreranked_max)
        if routed != rerank:
            import warnings
            warnings.warn(
                f"pq_topk(rerank=0) on a {n_corpus}-vector corpus is a "
                f"measured failure regime (RECALL.md sf1 adversarial "
                f"section: unreranked ADC recall 0.28 at 200k) — "
                f"auto-routed to rerank={routed}", stacklevel=2)
        rerank = routed

    books = pq_train_codebooks(emb, m=m, k_codes=k_codes,
                               train_n=train_n, id_col=id_col,
                               vec_col=vec_col)
    B = np.array(books, dtype=np.float64)            # (m, k, sub)
    sub = B.shape[2]

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    Q = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # LUT[q, i, j] = <query_q subvector i, codeword j of subspace i>
    LUT = np.einsum("qis,iks->qik",
                    Q.reshape(len(Q), B.shape[0], sub), B)

    codes = pq_encode(emb, books, id_col=id_col, vec_col=vec_col)

    shortlist_k = k * rerank if rerank > 0 else k
    # Per-batch partial top-k (ADVICE r5): the global top-shortlist_k
    # per query is a subset of each batch's own top-shortlist_k, so the
    # scorer emits only |q| x (shortlist_k+1) rows per Arrow batch
    # (+1 absorbs the self-match filtered below) instead of
    # |q| x batch_size — the exchange into the global window now scales
    # with partitions x shortlist, not corpus cardinality. The batch
    # cut uses the SAME total order as the window (score desc,
    # neighbor_id asc: full lexsort, not argpartition, so boundary ties
    # resolve identically) — the composition is exactly equal to the
    # unpruned scan.
    # batch_cut=False disables the per-batch partial top-k (identical
    # results either way — the cut is a pure exchange-size optimization):
    # the toggle exists to MEASURE the crossover (SCALE.md r7 bench-diff
    # adjudication: the cut's per-batch lexsort costs more than the
    # exchange it saves below ~10^5 corpus rows; it exists for the 200k+
    # regime where the unpruned |q| x corpus exchange was the r5 defect).
    batch_keep = shortlist_k + 1

    def score(batches):
        for pdf in batches:
            C = np.array(list(pdf["codes"].map(list)), dtype=np.int64)
            n = len(C)
            S = np.zeros((len(q_ids), n))
            for i in range(LUT.shape[1]):
                S += LUT[:, i, :][:, C[:, i]]
            ids = pdf[id_col].values
            if not batch_cut or n <= batch_keep:
                yield pd.DataFrame({
                    "neighbor_id": np.tile(ids, len(q_ids)),
                    "query_id": np.repeat(q_ids, n),
                    "score": S.ravel(),
                })
                continue
            # one vectorized stable argsort == per-query
            # lexsort((ids, -score)): columns pre-ordered id-ascending,
            # stable sort on negated scores keeps that order for ties —
            # exactly (score desc, neighbor_id asc), the window's order
            perm = np.argsort(ids, kind="stable")
            S_p = S[:, perm]
            ids_p = ids[perm]
            order = np.argsort(-S_p, axis=1, kind="stable")[:, :batch_keep]
            yield pd.DataFrame({
                "neighbor_id": ids_p[order].ravel(),
                "query_id": np.repeat(q_ids, batch_keep),
                "score": np.take_along_axis(S_p, order, axis=1).ravel(),
            })

    scored = codes.mapInPandas(
        score, schema="neighbor_id long, query_id long, score double") \
        .filter(F.col("neighbor_id") != F.col("query_id"))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("neighbor_id"))
    shortlist = (scored
                 .withColumn("rank", F.row_number().over(w).cast("long"))
                 .filter(F.col("rank") <= shortlist_k)
                 .select("query_id", "rank", "neighbor_id"))
    if rerank <= 0:
        return shortlist
    # refine stage: exact-score ONLY the shortlist (shared helper) —
    # the candidate pairs broadcast into the float-vector scan
    qn_by_id = {int(i): Q[j] for j, i in enumerate(q_ids)}
    return _exact_rerank(emb, shortlist, qn_by_id, k, id_col, vec_col)


def _exact_rerank(emb: DataFrame, shortlist: DataFrame, qn_by_id: dict,
                  k: int, id_col: str, vec_col: str) -> DataFrame:
    """Shared faiss-style refine stage: exact-score ONLY the (query,
    neighbor) shortlist — the candidate pairs broadcast into the
    float-vector scan, so the corpus is touched at shortlist size and
    never shuffles. Used by pq_topk and ivf_pq_topk."""
    import pandas as pd

    from pyspark.sql import Window

    def exact(batches):
        for pdf in batches:
            X = np.array(list(pdf[vec_col].map(list)), dtype=np.float64)
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                            1e-12)
            qm = np.array([qn_by_id[int(q)] for q in pdf["query_id"]])
            yield pd.DataFrame({
                "query_id": pdf["query_id"],
                "neighbor_id": pdf["neighbor_id"],
                "cos": (X * qm).sum(axis=1),
            })

    cand_vecs = emb.select(F.col(id_col).alias("neighbor_id"), vec_col) \
        .join(F.broadcast(shortlist.select("query_id", "neighbor_id")),
              "neighbor_id")
    rescored = cand_vecs.mapInPandas(
        exact, schema="query_id long, neighbor_id long, cos double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"),
                                               F.asc("neighbor_id"))
    return (rescored.withColumn("rank", F.row_number().over(w)
                                .cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id"))


def ivf_pq_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                n_centroids: int = 16, n_probe: int = 8,
                m: int = 32, k_codes: int = 16, train_n: int = 2048,
                rerank: int = 10, seed: int = 42, max_iter: int = 8,
                unreranked_max: int = PQ_UNRERANKED_MAX,
                id_col: str = "vec_id",
                vec_col: str = "embedding",
                n_corpus: int | None = None) -> DataFrame:
    """The full IVF-PQ stack (the faiss IVFx,PQy index as a Spark
    plan): IVF bounds WHICH vectors each query scores (n_probe of
    n_centroids inverted lists), PQ bounds the BYTES per scored vector
    (16-byte codes), and the exact rerank restores recall on the
    shortlist. The three knobs multiply: at 100 TB a query touches
    (n_probe/n_centroids) of the corpus, reads it at 16x compression,
    and exact-reads only rerank*k float vectors.

    One narrow Arrow pass attaches codes to the centroid-assigned
    corpus (no join between assignment and encoding); the probe join
    broadcasts (query, centroid) pairs; ADC scores candidates with
    per-row LUT gathers; the shortlist rerank is _exact_rerank. The
    corpus never shuffles at any stage.

    Deterministic: seeded KMeans, deterministic codebooks
    (pq_train_codebooks), id tie-breaks. Approximate by construction ->
    rows-only with the exact tiers as siblings; recall in RECALL.md.
    Output (query_id, rank, neighbor_id). rerank=0 carries the same
    route_pq_rerank guard as pq_topk (measured 200k boundary)."""
    import pandas as pd

    if rerank <= 0:
        # same optional-precomputed-count contract as pq_topk (ADVICE r7)
        rerank = route_pq_rerank(
            emb.count() if n_corpus is None else n_corpus,
            rerank, unreranked_max)

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql import Window

    corpus = emb.select(F.col(id_col).alias("neighbor_id"),
                        _as_double(F.col(vec_col)).alias("cv"))
    feat = corpus.withColumn("features", array_to_vector("cv"))
    km = KMeans(k=n_centroids, seed=seed, maxIter=max_iter,
                featuresCol="features", predictionCol="centroid")
    model = km.fit(feat.select("features"))
    assigned = model.transform(feat).select("neighbor_id", "cv",
                                            "centroid")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]

    books = pq_train_codebooks(emb, m=m, k_codes=k_codes,
                               train_n=train_n, id_col=id_col,
                               vec_col=vec_col)
    B = np.array(books, dtype=np.float64)
    sub = B.shape[2]

    def enc(batches):
        for pdf in batches:
            X = np.array(list(pdf["cv"].map(list)), dtype=np.float64)
            X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True),
                            1e-12)
            codes = np.empty((len(X), m), dtype=np.int64)
            for i in range(m):
                S = X[:, i * sub:(i + 1) * sub]
                d2 = ((S[:, None, :] - B[i][None, :, :]) ** 2).sum(axis=2)
                codes[:, i] = d2.argmin(axis=1)
            yield pd.DataFrame({"neighbor_id": pdf["neighbor_id"],
                                "centroid": pdf["centroid"],
                                "codes": list(codes)})

    coded = assigned.mapInPandas(
        enc, schema="neighbor_id long, centroid int, codes array<int>")

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    Q = np.array([list(r[vec_col]) for r in q_rows], dtype=np.float64)
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    LUT = np.einsum("qis,iks->qik", Q.reshape(len(Q), m, sub), B)
    q_idx = {int(i): j for j, i in enumerate(q_ids)}

    # probe table: each query's n_probe nearest centroids (expression
    # over SQL-parsed centroid literals, as in ivf_topk)
    def centroid_dists(vec: Column) -> Column:
        return F.array(*[
            F.struct(
                F.aggregate(
                    F.zip_with(vec, F.expr(
                        "array(" + ", ".join(f"{float(x)!r}D" for x in c)
                        + ")"),
                               lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0), lambda acc, x: acc + x).alias("d"),
                F.lit(i).alias("centroid"))
            for i, c in enumerate(centroids)
        ])

    q_df = queries.select(F.col(id_col).alias("query_id"),
                          _as_double(F.col(vec_col)).alias("qv"))
    probes = q_df.select(
        "query_id",
        F.explode(F.slice(F.array_sort(centroid_dists(F.col("qv"))),
                          1, n_probe)["centroid"]).alias("centroid"))

    cands = (coded.join(F.broadcast(probes), "centroid")
             .filter(F.col("neighbor_id") != F.col("query_id")))

    def adc(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(list(pdf["codes"].map(list)), dtype=np.int64)
            qi = np.array([q_idx[int(q)] for q in pdf["query_id"]])
            S = LUT[qi[:, None], np.arange(m)[None, :], C].sum(axis=1)
            yield pd.DataFrame({"query_id": pdf["query_id"],
                                "neighbor_id": pdf["neighbor_id"],
                                "score": S})

    scored = cands.select("query_id", "neighbor_id", "codes").mapInPandas(
        adc, schema="query_id long, neighbor_id long, score double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("neighbor_id"))
    shortlist_k = k * rerank if rerank > 0 else k
    shortlist = (scored
                 .withColumn("rank", F.row_number().over(w).cast("long"))
                 .filter(F.col("rank") <= shortlist_k)
                 .select("query_id", "rank", "neighbor_id"))
    if rerank <= 0:
        return shortlist
    qn_by_id = {int(i): Q[j] for j, i in enumerate(q_ids)}
    return _exact_rerank(emb, shortlist, qn_by_id, k, id_col, vec_col)


def rrf_fuse(rankings: list, k: int = 10, k_rrf: int = 60,
             id_col: str = "doc_id") -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) over N ranked lists —
    the standard way a curation/RAG stack combines lexical (BM25,
    text.bm25_topk) and dense (cosine_topk) retrieval without score
    calibration: rrf(d) = sum over lists containing d of
    1 / (k_rrf + rank_list(d)). Rank positions, not raw scores, so the
    two retrievers' incomparable score scales never meet. No reference
    analog — LLM-pipeline extension family.

    Each input DataFrame must be (query_id, rank, `id_col`) — exactly
    the output shape of bm25_topk / cosine_topk / the ANN tiers, so any
    retriever in this package plugs in unchanged.

    Determinism (numeric.py RATIO RULE, r8): each contribution
    1/(k_rrf+rank) is rounded half-up at 1e-9 in EXACT long arithmetic
    ((2·10^9+d) DIV 2d), the units sum on primitive longs (list-order-
    and partition-independent), and ONE final IEEE division by 10^9
    publishes the double — bit-identical cross-engine at any scale.
    Final ranking ties break on id.

    Scale: fusion touches only the top-k lists — |queries| x k x
    n_lists rows regardless of corpus size. The unions are metadata-
    sized; the single groupBy shuffles a few hundred rows even when the
    upstream retrievers scanned 100 TB. All heavy lifting stays in the
    retrievers themselves.

    Output (query_id, rank, `id_col`, rrf_score, n_lists), rank <= k
    per query."""
    from functools import reduce
    from pyspark.sql import Window

    # r8 (RATIO RULE): 1/(k_rrf+rank) is an integer ratio — the old
    # ROUND(double, 9) was tie-exposed (denominator 2^10·m splits the
    # engines). Exact half-up units on longs instead: (2·10^9 + d) DIV
    # (2d) = round_half_up(10^9/d); the unit sum (≤ n_lists·10^9/61)
    # stays far under 2^53, so the one final division is bit-identical.
    den = (F.lit(k_rrf) + F.col("rank")).cast("long") * 2
    num = F.lit(2 * 10 ** 9).cast("long") + (F.col("rank") + F.lit(k_rrf))
    contrib_units = ((num - num % den) / den).cast("long")
    tagged = [r.select("query_id", "rank", id_col) for r in rankings]
    unioned = reduce(lambda a, b: a.unionByName(b), tagged)
    # r12 (VERDICT r11 item 2, guide §2.4): ONE exchange for the whole
    # fusion tail. Union output has UnknownPartitioning, so groupBy
    # (query_id, id) and the final per-query window each planned their
    # own shuffle — two sequential stages over rows that are
    # |queries| x k x n_lists by construction (corpus-independent, see
    # the Scale paragraph). Repartitioning the union on query_id lets
    # BOTH reuse it: hashpartitioning(query_id) satisfies the
    # aggregate's ClusteredDistribution(query_id, id) (subset rule) and
    # the window's ClusteredDistribution(query_id) exactly. Safe at any
    # scale precisely because the input is post-top-k metadata — the
    # per-query row bound is k x n_lists, never corpus-sized (the same
    # boundedness the final window already relies on).
    fused = (unioned
             .repartition("query_id")
             .groupBy("query_id", id_col)
             .agg((F.sum(contrib_units).cast("double")
                   / F.lit(float(10 ** 9))).alias("rrf_score"),
                  F.count(F.lit(1)).alias("n_lists")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col(id_col).asc())
    return (fused
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", id_col, "rrf_score", "n_lists"))


def embedding_centroid_drift(old: DataFrame, new: DataFrame,
                             cluster_col: str = "label",
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding-space drift between two snapshots: per cluster, the L2
    distance between the snapshots' centroids — the drift family's
    EMBEDDING axis (TVD = categorical mix, KS = numeric distribution,
    OLS = metric-in-time, this = representation space). The alarm that
    fires when an embedding model silently changes or a source's
    content shifts under a stable categorical mix.

    Exactness (sf1-surfaced, second iteration): a first cut took
    per-coordinate MEANS via davg and differenced them — but davg's
    round-at-6 of a quotient hits digit-7 near-ties under sf1's
    denominators (the same engine-ROUND split as fixed-point PageRank;
    sim_embedding_centroids escapes it only by luck of its divisor).
    So NO division happens per coordinate: with exact decimal sums S
    and counts n, the centroid difference is
        d_i = S_old_i * n_new - S_new_i * n_old   (decimal-exact)
    and  l2 = sqrt(sum d_i^2) / (n_old * n_new)    (two IEEE ops at
    the very end, fixed order, engine-identical). d_i is cast to
    DECIMAL(18,6) before squaring so the square stays in (37,12) —
    (19,6) would square to precision 39, which Spark caps at 38 by
    SHAVING THE SCALE to 11 while DuckDB keeps all 38 digits (found
    by this very gate) — exact while |coord|*n_old*n_new < 10^12 per cluster (far beyond
    these fixtures; for planet-scale cluster populations pre-divide
    counts by a common factor, the TVD overflow note).

    Shape: two posexplode + groupBy(cluster, dim) aggregates (uniform
    keys, map-side combined), a (cluster x dim)-sized join, a
    cluster-sized final groupBy. The corpus vectors never shuffle
    whole. Output (cluster, n_old, n_new, l2_drift)."""
    def per_coord(df: DataFrame, tag: str) -> DataFrame:
        d = df.select(F.col(cluster_col).alias("cluster"),
                      F.posexplode(_as_double(F.col(vec_col)))
                       .alias("i", "x"))
        return (d.groupBy("cluster", "i")
                .agg(F.count(F.lit(1)).alias(f"n_{tag}"),
                     F.sum(F.round(F.col("x"), 6).cast("decimal(18,6)"))
                     .alias(f"s_{tag}")))

    o = per_coord(old, "old")
    n = per_coord(new, "new")
    j = o.join(n, ["cluster", "i"])
    d = ((F.col("s_old") * F.col("n_new")
          - F.col("s_new") * F.col("n_old"))
         .cast("decimal(18,6)"))
    per = j.groupBy("cluster").agg(
        F.max("n_old").cast("long").alias("n_old"),
        F.max("n_new").cast("long").alias("n_new"),
        F.sum(d * d).alias("__d2"))
    # ROUND the (38,12) sum at 3 IN THE DECIMAL DOMAIN before the
    # double cast: a scale-12 decimal's scaled integer exceeds 2^53, and
    # DuckDB casts decimal->double as (double)int128 / 10^12 — TWO
    # roundings vs Spark's correctly-rounded BigDecimal cast (third
    # sf1-class find of this gate). Scale 3 keeps the scaled integer
    # under 2^53 while d2 < ~9e12 (n^4-ish growth; pre-divide counts
    # beyond that). The 1e-3 absolute d2 perturbation is ~1e-13
    # relative on the reported drift at sf1 magnitudes. NOTE the
    # oracle casts d to DECIMAL(19,6) (int128 backing — DuckDB's (18,6)
    # multiply overflows its int64 physical type at sf1 magnitudes)
    # while Spark keeps (18,6) (a (19,6) square would exceed precision
    # 38 and shave scale); both are value-exact, which is what matters.
    return per.select(
        "cluster", "n_old", "n_new",
        (F.sqrt(F.round(F.col("__d2"), 3).cast("double"))
         / (F.col("n_old") * F.col("n_new")).cast("double"))
        .alias("l2_drift"))


def hard_negatives(emb: DataFrame, anchors: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   min_cos: float | None = None,
                   max_cos: float | None = None) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor,
    the k most cosine-similar corpus vectors with a DIFFERENT label.

    The negatives that matter for a contrastive loss are the ones the
    model currently confuses — nearest neighbors across the label
    boundary. Optional `[min_cos, max_cos)` band selects SEMI-hard
    negatives (close, but not so close they are likely mislabeled —
    the FaceNet band).

    Scale: anchors are small by contract (a training mini-batch or a
    probe set) and broadcast; the corpus never shuffles, scoring stays
    in codegen (`aggregate(zip_with(...))`), and the per-anchor ranking
    is a WindowGroupLimit top-k. Full-corpus mining at 100 TB routes
    candidates through `hamming_topk`/`ivf_topk` with an oversampled k
    first, then applies the label filter — this operator is the exact
    tier over those candidates. Output (anchor_id, rank, negative_id):
    ids only, ties broken by id (float scores never enter a hash).
    """
    c = with_norm(emb, vec_col).select(
        F.col(id_col).alias("negative_id"), F.col(label_col).alias("__nl"),
        F.col("__v").alias("cv"), F.col("__norm").alias("cn"))
    a = with_norm(anchors, vec_col).select(
        F.col(id_col).alias("anchor_id"), F.col(label_col).alias("__al"),
        F.col("__v").alias("qv"), F.col("__norm").alias("qn"))
    scored = (c.join(F.broadcast(a), F.col("__nl") != F.col("__al"))
              .withColumn("cos", dot(F.col("qv"), F.col("cv")) /
                          (F.col("qn") * F.col("cn"))))
    if min_cos is not None:
        scored = scored.filter(F.col("cos") >= F.lit(float(min_cos)))
    if max_cos is not None:
        scored = scored.filter(F.col("cos") < F.lit(float(max_cos)))
    from pyspark.sql import Window
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos"), F.asc("negative_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("anchor_id", "rank", "negative_id"))


def knn_graph(emb: DataFrame, k: int = 5, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Symmetric k-NN graph: each vector's directed top-k cosine edges,
    folded to undirected (id_a < id_b) with a `mutual` flag (true when
    BOTH endpoints rank each other in their top-k — the reciprocal
    edges graph-clustering algorithms weight higher).

    The output feeds `dedup.connected_components*` / PageRank directly:
    kNN-graph + components is the standard semantic-clustering recipe
    when centroid counts are unknown (vs `semantic_dedup`'s fixed
    hyperplane cells).

    Scale: the exact tier is deliberately quadratic (like
    `cosine_pairs`) — callers bound the input, and the 100 TB path
    generates the directed edges per-vector via the banded tiers
    (`hamming_topk` radius prefilter or `ivf_topk` probe join) and
    reuses only the fold step here: the symmetrize is ONE groupBy on
    the unordered edge key, linear in edges (n*k rows). Ids only.
    """
    n = with_norm(emb, vec_col)
    a = n.select(F.col(id_col).alias("src"),
                 F.col("__v").alias("va"), F.col("__norm").alias("na"))
    b = n.select(F.col(id_col).alias("dst"),
                 F.col("__v").alias("vb"), F.col("__norm").alias("nb"))
    scored = (a.join(b, F.col("src") != F.col("dst"))
              .withColumn("cos", dot(F.col("va"), F.col("vb")) /
                          (F.col("na") * F.col("nb"))))
    from pyspark.sql import Window
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))
    edges = (scored.withColumn("rn", F.row_number().over(w))
             .filter(F.col("rn") <= k).select("src", "dst"))
    und = edges.select(F.least("src", "dst").alias("id_a"),
                       F.greatest("src", "dst").alias("id_b"))
    return (und.groupBy("id_a", "id_b")
            .agg((F.count(F.lit(1)) == F.lit(2)).alias("mutual")))


def mmr_rerank(emb: DataFrame, queries: DataFrame, k: int = 4,
               pool: int = 16, lam: float = 0.7,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Maximal-marginal-relevance re-rank (Carbonell & Goldstein 1998):
    per query, greedily select k results from the exact top-`pool`
    candidates maximizing `lam*relevance - (1-lam)*max_sim_to_selected`
    — the standard diversification pass that stops a retrieval page
    being k copies of the same near-duplicate document.

    Spark-first shape: the greedy recurrence has a FIXED depth k, so it
    unrolls into ONE lazy plan — k chained (join + window-argmax)
    stages over the candidate table, all inside codegen; no Python in
    the loop, no driver iteration over per-query state. The candidate
    and pairwise-sim tables are persisted: they are |queries| x pool
    (metadata-sized by contract — queries are a search page, pool is a
    shortlist), and each unrolled stage re-reads them instead of
    re-scanning the corpus.

    Scale: stage 1 is exactly the cosine_topk plan (corpus never
    shuffles, broadcast queries, WindowGroupLimit); everything after
    operates on |queries| x pool rows regardless of corpus size. At
    100 TB swap stage 1 for `hamming_topk`/`ivf_topk` with an
    oversampled pool. Determinism: scores are IEEE double chains over
    the same cosine inputs in both engines, ties break by id, and the
    output is (query_id, rank, neighbor_id) — ids only.
    """
    if k < 1 or pool < k:
        raise ValueError("need 1 <= k <= pool")
    mu = 1.0 - lam
    c = with_norm(emb, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__v").alias("cv"), F.col("__norm").alias("cn"))
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("qv"), F.col("__norm").alias("qn"))
    scored = (c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
              .withColumn("rel", dot(F.col("qv"), F.col("cv")) /
                          (F.col("qn") * F.col("cn"))))
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("neighbor_id"))
    cand = (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= pool)
            .select("query_id", "neighbor_id", "rel", "cv", "cn"))
    cand = scoped_persist(cand)
    a = cand.select(F.col("query_id"), F.col("neighbor_id").alias("ida"),
                    F.col("cv").alias("va"), F.col("cn").alias("na"))
    b = cand.select(F.col("query_id"), F.col("neighbor_id").alias("idb"),
                    F.col("cv").alias("vb"), F.col("cn").alias("nb"))
    sims = (a.join(b, "query_id")
            .filter(F.col("ida") != F.col("idb"))
            .withColumn("s", dot(F.col("va"), F.col("vb")) /
                        (F.col("na") * F.col("nb")))
            .select("query_id", "ida", "idb", "s"))
    sims = scoped_persist(sims)

    def argmax(df: DataFrame, score: str) -> DataFrame:
        ws = Window.partitionBy("query_id").orderBy(
            F.desc(score), F.asc("neighbor_id"))
        return (df.withColumn("__r", F.row_number().over(ws))
                .filter(F.col("__r") == 1)
                .select("query_id", "neighbor_id"))

    sel = argmax(cand, "rel")
    out = [sel.withColumn("rank", F.lit(1).cast("long"))]
    prev = sel
    for i in range(2, k + 1):
        mx = (sims.join(prev.select("query_id",
                                    F.col("neighbor_id").alias("idb")),
                        ["query_id", "idb"])
              .groupBy("query_id", "ida").agg(F.max("s").alias("mx")))
        remaining = (cand.join(prev, ["query_id", "neighbor_id"],
                               "left_anti")
                     .join(mx.select("query_id",
                                     F.col("ida").alias("neighbor_id"),
                                     "mx"),
                           ["query_id", "neighbor_id"])
                     .withColumn("mmr", F.lit(lam) * F.col("rel") -
                                 F.lit(mu) * F.col("mx")))
        sel_i = argmax(remaining, "mmr")
        out.append(sel_i.withColumn("rank", F.lit(i).cast("long")))
        prev = prev.unionByName(sel_i)
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    res = scoped_persist(res.select("query_id", "rank", "neighbor_id"))
    # Cache lifecycle (ADVICE r5): materialize the |queries| x k result
    # (tiny by contract), then release the cand/sims scratch caches —
    # they would otherwise pin |queries| x pool (+ pairwise) partitions
    # for the whole session. Caller may unpersist `res` when done.
    res.count()
    cand.unpersist()
    sims.unpersist()
    return res


def kmeans_fit(emb: DataFrame, k: int = 4, n_iter: int = 2,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> tuple[DataFrame, DataFrame]:
    """Native spherical k-means (Lloyd's), deterministic and fully
    cross-engine replayable — the verified sibling of the Spark ML
    KMeans tiers (ivf_topk, semantic_dedup_kmeans), whose learned
    models are rows-only by nature. Every piece is a primitive this
    engine has already proven bit-stable: seeds are the k lowest-id
    vectors (no RNG), assignment is an argmax-cosine WindowGroupLimit
    over broadcast centroids (the cosine_topk ranking discipline, ties
    by centroid ordinal), and the centroid update is the davg
    decimal-exact coordinate mean (the embedding_centroids
    discipline — order- and partition-independent). A FIXED n_iter
    unrolls into one lazy plan (the mmr_rerank discipline): no driver
    iteration, no RNG, no floats outside IEEE chains both engines
    share.

    Zero-norm guard: a vector or centroid with zero norm scores -2.0
    (below any real cosine) instead of tripping ANSI divide-by-zero —
    the quantized_topk lesson; with round-6 means over random floats
    the branch is unreachable, it exists for safety.

    Scale: per iteration, ONE broadcast nested-loop scoring pass over
    the corpus (k rows broadcast) + one posexplode groupBy for the
    means (dims x k cells). Centroid tables are persisted between
    stages (k x dim doubles — metadata-sized). Returns
    (assignments (id, cluster), centroids (cluster, centroid)) —
    cluster = seed ordinal; `kmeans_spherical` is the assignment-only
    view, `ivf_topk_verified` consumes both.
    """
    from ..functions.numeric import davg
    from pyspark.sql import Window

    v = scoped_persist(emb.select(F.col(id_col).alias("__vid"),
                       _as_double(F.col(vec_col)).alias("__v")))
    seeds = (v.orderBy("__vid").limit(k)
             .withColumn("cluster",
                         (F.row_number().over(Window.orderBy("__vid")) - 1)
                         .cast("long"))
             .select("cluster", F.col("__v").alias("__c")))

    def assign(cent: DataFrame) -> DataFrame:
        cn = norm(F.col("__c"))
        vn = norm(F.col("__v"))
        cos = F.when((cn > 0) & (vn > 0),
                     dot(F.col("__v"), F.col("__c")) / (vn * cn)) \
               .otherwise(F.lit(-2.0))
        w = Window.partitionBy("__vid").orderBy(
            F.desc("__cos"), F.asc("cluster"))
        return (v.crossJoin(F.broadcast(cent))
                .withColumn("__cos", cos)
                .withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") == 1)
                .select("__vid", "__v", "cluster"))

    def update(assigned: DataFrame) -> DataFrame:
        d = assigned.select("cluster",
                            F.posexplode("__v").alias("__i", "__x"))
        per = (d.groupBy("cluster", "__i")
               .agg(davg(F.round(F.col("__x"), 6), scale=6, out_scale=6)
                    .alias("__cx")))
        return scoped_persist(
            per.groupBy("cluster")
            .agg(F.transform(
                F.sort_array(F.collect_list(
                    F.struct("__i", "__cx"))),
                lambda s: s["__cx"]).alias("__c")))

    # Cache lifecycle (ADVICE r5): each iteration's centroid table is
    # materialized eagerly (k rows — the count triggers the real Lloyd
    # pass, which is how the algorithm executes anyway) and the
    # SUPERSEDED table is unpersisted immediately, so at most two
    # centroid caches exist at any moment instead of n_iter+1 for the
    # session lifetime. The corpus projection `v` is released once the
    # final assignment is materialized; the returned `final` (2 narrow
    # columns) and last `cent` (k rows) stay cached for the caller —
    # kmeans consumers (ivf_topk_verified, semantic_dedup_lloyd) read
    # them repeatedly; callers MAY unpersist them when done.
    cent = scoped_persist(seeds)
    for _ in range(n_iter):
        prev_cent = cent
        cent = update(assign(cent))
        cent.count()
        prev_cent.unpersist()
    final = scoped_persist(assign(cent).select(
        F.col("__vid").alias(id_col),
        F.col("cluster").cast("long").alias("cluster")))
    final.count()
    v.unpersist()
    centroids = cent.select("cluster", F.col("__c").alias("centroid"))
    return final, centroids


def kmeans_spherical(emb: DataFrame, k: int = 4, n_iter: int = 2,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Assignment-only view of `kmeans_fit` (see its docstring — the
    deterministic, fully SQL-replayable Lloyd's): (id, cluster)."""
    return kmeans_fit(emb, k, n_iter, id_col, vec_col)[0]


def ivf_topk_verified(emb: DataFrame, queries: DataFrame, k: int = 10,
                      n_clusters: int = 4, n_probe: int = 2,
                      n_iter: int = 2, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """IVF ANN with a VERIFIED index: coarse clusters come from the
    native `kmeans_fit` (deterministic seeds, unrolled Lloyd's) instead
    of Spark ML, so the ENTIRE retrieval path — index construction,
    probe selection, candidate scan, exact re-rank — replays
    bit-for-bit in SQL. The rows-only `ivf_topk` stays the
    production-training tier; this is the correctness-auditable twin
    the oracle gate can hold end to end.

    Per query: rank centroids by cosine, keep `n_probe`; candidates =
    vectors assigned to probed clusters (the inverted lists); exact
    cosine top-k among candidates, ids only, ties by id. Scale shape:
    centroids broadcast twice (probe + final assignment reuse), the
    corpus shuffles ONCE on cluster id to form lists; per-query work is
    probed-list-sized, the IVF contract.
    """
    from pyspark.sql import Window

    assign, cent = kmeans_fit(emb, n_clusters, n_iter, id_col, vec_col)
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("qv"), F.col("__norm").alias("qn"))
    cn = norm(F.col("centroid"))
    ccos = F.when((cn > 0) & (F.col("qn") > 0),
                  dot(F.col("qv"), F.col("centroid")) /
                  (F.col("qn") * cn)).otherwise(F.lit(-2.0))
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("__ccos"), F.asc("cluster"))
    probe = (q.crossJoin(F.broadcast(cent))
             .withColumn("__ccos", ccos)
             .withColumn("__r", F.row_number().over(wp))
             .filter(F.col("__r") <= n_probe)
             .select("query_id", "cluster", "qv", "qn"))
    lists = (with_norm(emb, vec_col)
             .select(F.col(id_col).alias("neighbor_id"),
                     F.col("__v").alias("cv"), F.col("__norm").alias("cn"))
             .join(assign.select(F.col(id_col).alias("neighbor_id"),
                                 "cluster"), "neighbor_id"))
    scored = (probe.join(lists, "cluster")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .withColumn("cos", dot(F.col("qv"), F.col("cv")) /
                          (F.col("qn") * F.col("cn"))))
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(wk).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id"))


def semantic_dedup_lloyd(emb: DataFrame, min_cosine: float = 0.99,
                         n_clusters: int = 4, n_iter: int = 2,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """SemDeDup with a VERIFIED clustering stage: coarse clusters from
    the native `kmeans_fit` (deterministic, SQL-replayable Lloyd's)
    feeding the shared within-cluster keep-lowest-id rule — the
    correctness-auditable twin of `semantic_dedup_kmeans` (whose Spark
    ML model is rows-only by nature). Identical vectors always share a
    cluster (the assignment is a deterministic function of the vector),
    so exact clones are always caught regardless of where Lloyd's
    converged. Same scale shape: cluster-keyed self-join bounds the
    quadratic; set n_clusters ~ N / target_cluster_size.
    Output (id, cluster, kept)."""
    assign, _ = kmeans_fit(emb, n_clusters, n_iter, id_col, vec_col)
    base = with_norm(emb, vec_col).select(
        F.col(id_col), F.col("__v").alias("v"),
        F.col("__norm").alias("nm"))
    d = base.join(assign, id_col)
    return _keep_first_in_cluster(d, min_cosine, id_col)
