"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

North-star extensions (SURVEY.md §7 step 4) generalizing the reference's
two dedup idioms — `drop_duplicates(subset=...)` (SANEF_Uploader.py:474)
and membership-scan dedup (:144-148) — to the operators a 100 TB
training-data pipeline needs.

Scale design notes (the point of each variant):
- exact_dedup: hash-groupBy on a digest — one shuffle keyed by md5, no
  skew (digests are uniform).
- ngram_jaccard_pairs: *exact* all-pairs similarity via an inverted-index
  self-join on shingles. Quadratic in bucket size — correct baseline and
  oracle-checkable, but at 100 TB you bound it (candidate subset) or go to:
- minhash_lsh_pairs: signature size k, b bands — candidate generation cost
  is O(rows x b) with uniform band-hash keys; only candidates get the
  exact-Jaccard verification join. This is the scale path.
- simhash64: one 64-bit signature per doc; banding on 16-bit chunks finds
  Hamming<=d neighbors with 4 shuffle-light self-joins.

All randomness is compile-time constants (seeded parameters baked into the
plan), so results are reproducible across runs and cluster layouts.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import scoped_persist
from ..functions.numeric import ratio
from .text import fingerprint, tokens

# Large prime < 2^31 for the (a*h + b) % P minhash family; parameters are
# fixed-seed so plans are deterministic.
_P = 2_147_483_647


def _minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(k)]


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                fp_fn=fingerprint) -> DataFrame:
    """Exact dedup on normalized-content digest; survivor = min id per
    digest (deterministic, unlike pandas keep='first' which leans on input
    order). Returns (survivor_id, n_copies, fingerprint). `fp_fn` picks
    the normalization tier: `text.fingerprint` (whitespace/case, default)
    or `text.fingerprint_loose` (punctuation-insensitive "fuzzy exact")."""
    return (df.select(F.col(id_col), fp_fn(F.col(text_col)).alias("fp"))
            .groupBy("fp")
            .agg(F.min(id_col).alias("survivor_id"),
                 F.count(F.lit(1)).alias("n_copies"))
            .select("survivor_id", "n_copies", "fp"))


def shingles(df: DataFrame, n: int = 3, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Distinct n-token shingles per doc as (id, shingle) rows.

    Built with transform over a token-index sequence — narrow, no UDF.
    Docs shorter than n tokens contribute their full token string."""
    # Materialize the token array as a named column first: referencing the
    # raw split() expression inside the lambda would re-tokenize the whole
    # text for every element_at (O(tokens^2) per doc — measured 9x slower).
    # spread_cpu_scan (r11): the shingle transform is the expensive map
    # stage of every shingle-keyed dedup op (433 ms on ONE task at sf0.1,
    # stage profile of record) — spread the narrow doc rows first when
    # the scan is under-parallel; no-op at production file counts.
    # r12: round-robin DELIBERATELY, not key_col=id (the token_set /
    # bm25 / tfidf builds key their spread): this n-gram transform is
    # the heaviest per-row map in the family, and the keyed variant was
    # MEASURED slower — interleaved A/B of dedup_minhash_lsh read +10%
    # in 3/3 pairs with hash(doc_id) (0.729 vs 0.593 mins) while the
    # exchanges it elides are tiny at any config; round-robin's exact
    # row evenness beats hash's statistical evenness exactly where the
    # map dominates. token_set's cheaper map measured the opposite
    # (jaccard −10%, 3/3), hence the split.
    from ..catalog import spread_cpu_scan
    with_toks = spread_cpu_scan(df.select(F.col(id_col), F.col(text_col))) \
        .select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    toks = F.col("__toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    # F.get, not element_at: 0-based and null-on-out-of-bounds, so docs
    # shorter than n tokens yield their full token string instead of
    # throwing under ANSI mode (concat_ws skips the nulls)
    grams = F.transform(idx, lambda i: F.concat_ws(
        " ", *[F.get(toks, i + j) for j in range(n)]))
    return (with_toks
            .select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))
            .na.drop(subset=["shingle"])
            # split(trim('')) yields [''] — an empty/whitespace-only doc
            # would otherwise contribute an empty-string shingle that
            # survives na.drop and makes two empty docs jaccard-1.0 matches
            .filter(F.col("shingle") != ""))


def token_set(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Distinct unigram tokens per doc (1-shingles). Empty-string tokens
    (the residue of empty/whitespace-only docs) are dropped — see
    shingles(). Spreads under-parallel scans like shingles() (r11),
    hash-keyed on the doc id (r12) so per-doc aggregates downstream
    ride the spread exchange."""
    from ..catalog import spread_cpu_scan
    return spread_cpu_scan(df.select(F.col(id_col), F.col(text_col)),
                           key_col=id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("shingle")) \
        .filter(F.col("shingle") != "")


def drop_hot_shingles(grams: DataFrame, max_df: int,
                      id_col: str = "doc_id") -> DataFrame:
    """Document-frequency cap: drop shingles appearing in > max_df docs.

    The scale guard for every shingle-keyed self-join: one boilerplate
    shingle in 1% of a 100 TB corpus makes that join key quadratic
    (10^10 × 10^10 pairs from a single key). High-DF shingles carry almost
    no similarity signal (they match everything), so capping them bounds
    per-key join fan-out at max_df² while leaving near-dup semantics
    essentially intact — the standard trick from large-scale dedup
    pipelines. The hot set is tiny by construction (few shingles can
    exceed a large DF) → broadcast anti-join, no extra shuffle of grams."""
    hot = (grams.groupBy("shingle")
           .agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") > max_df)
           .select("shingle"))
    return grams.join(F.broadcast(hot), "shingle", "left_anti")


def _threshold_units(t: float, out_scale: int = 4) -> int:
    """Smallest integer m such that double(m / 10^out_scale) >= t — the
    exact integer image of the engine's `rounded_ratio >= t` filters.
    Python float arithmetic IS IEEE double, i.e. identical to the
    comparison Spark/DuckDB evaluate, so the passing set {mu >= m} is
    bit-for-bit the set `double(mu/10^s) >= t` selected before r8."""
    p = 10 ** out_scale
    m = max(0, int(-(-t * p // 1)))  # ceil without float re-rounding
    while m > 0 and (m - 1) / p >= t:
        m -= 1
    while m / p < t:
        m += 1
    return m


def _keep_ratio_ge(nu, du, t: float, out_scale: int = 4):
    """Integer-exact predicate equivalent to `ratio(nu, du, s) >= t`
    for NONNEGATIVE integer nu with du >= 1. The du >= 1 contract is
    ENFORCED in the predicate (ADVICE r8): `ratio` returns NULL for
    du=0 and the old filter dropped the row; the bare cross-multiply
    would instead keep it (0 >= 0), so the predicate ANDs `du > 0` —
    one cheap long comparison — to make a future empty-denominator
    caller reproduce the drop semantics rather than emit a NULL-ratio
    pair. (All current dedup sites have du = union/least of sizes
    >= 1, so no selection set changes.)

    r8 plan postmortem: `withColumn("jaccard", ratio(..)).filter(..)`
    lets predicate pushdown substitute the WHOLE rounding chain into a
    join condition — with `nu = size(array_intersect(..))` the
    substitution evaluated array_intersect 24x per candidate pair
    (measured on dedup_jaccard_prefix; PLANS.md assertion now caps it).
    The filter is therefore expressed directly on the units integer:

        mu >= m  <=>  (2*nu*10^s + du) div (2*du) >= m
                 <=>  2*10^s*nu >= (2m - 1)*du          (floor-div, du>0)

    — two cheap long multiplies in the join condition, zero divisions,
    zero branches; the rounded display value is projected ABOVE the
    filter, for survivors only. Selection set unchanged (oracle WHERE
    clauses keep their `rounded >= t` form and match by construction).
    Overflow: 2e4*nu and du*(2m-1) < 2^63 need nu, du < 4.6e14 —
    structurally guaranteed for per-doc shingle counts (a Spark row
    caps at 2 GB ~ 2e9 shingles); ANSI mode fails loudly beyond."""
    m = _threshold_units(t, out_scale)
    return (du > F.lit(0)) & \
        (nu * F.lit(2 * 10 ** out_scale) >= du * F.lit(2 * m - 1))


def jaccard_pairs(grams: DataFrame, id_col: str = "doc_id",
                  min_jaccard: float = 0.5,
                  max_df: int | None = None) -> DataFrame:
    """Exact Jaccard over (id, shingle) rows via inverted-index self-join.

    |A ∩ B| from the join on shingle, sizes from a per-doc count; Jaccard =
    inter / (|A| + |B| - inter). Output (id_a, id_b, jaccard) with
    id_a < id_b. The shingle join is the shuffle; the size table is tiny
    and broadcast.

    `max_df` (recommended at scale) drops shingles with document frequency
    above the cap BEFORE the self-join (drop_hot_shingles); sizes are
    computed on the filtered space so Jaccard stays internally consistent
    (it becomes Jaccard over informative shingles — slightly approximate
    vs the unfiltered measure, bounded join fan-out in exchange)."""
    if max_df is not None:
        grams = drop_hot_shingles(grams, max_df, id_col)
    # r11: the size agg and BOTH self-join sides re-execute the shingle
    # subtree without this persist (same finding as jaccard_prefix_pairs);
    # gated on source size — at fixture scale the fill costs more than
    # re-running a bounded tokenize on idle cores (A/B of record)
    from pyspark import StorageLevel
    from ..cache import persist_if_heavy
    grams = persist_if_heavy(grams, StorageLevel.MEMORY_AND_DISK)
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = grams.select(F.col(id_col).alias("id_a"), "shingle")
    b = grams.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    uni = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    jac = (inter
           .join(F.broadcast(sz_a), "id_a")
           .join(F.broadcast(sz_b), "id_b")
           .filter(_keep_ratio_ge(F.col("inter"), uni, min_jaccard))
           .withColumn("jaccard", ratio(F.col("inter"), uni, 4)))
    return jac.select("id_a", "id_b", "jaccard")


def ngram_jaccard_pairs(df: DataFrame, n: int = 3, min_jaccard: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram-shingle Jaccard dedup pairs (baseline / oracle path)."""
    g = shingles(df, n, id_col, text_col) if n > 1 else token_set(df, id_col, text_col)
    return jaccard_pairs(g, id_col, min_jaccard, max_df=max_df)


def minhash_signatures(grams: DataFrame, k: int = 32, seed: int = 42,
                       id_col: str = "doc_id") -> DataFrame:
    """k-permutation MinHash signature per doc over (id, shingle) rows.

    Base hash = xxhash64(shingle) folded into [0, P); each permutation is
    (a*h + b) % P with fixed-seed (a, b). One aggregation -> k min columns;
    map-side partial aggregation keeps the shuffle tiny (one row per doc)."""
    params = _minhash_params(k, seed)
    h = F.pmod(F.xxhash64("shingle"), F.lit(_P)).alias("h")
    with_h = grams.select(F.col(id_col), h)
    mins = [F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(_P))).alias(f"mh_{i}")
            for i, (a, b) in enumerate(params)]
    # the set size rides along in the same aggregation; no caller reads
    # it now that minhash_lsh_pairs takes sizes from its per-doc sets
    return with_h.groupBy(id_col).agg(*mins, F.count(F.lit(1)).alias("sz"))


def minhash_lsh_pairs(df: DataFrame, n: int = 3, k: int = 32, bands: int = 8,
                      min_jaccard: float = 0.5, seed: int = 42,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_df: int | None = None) -> DataFrame:
    """MinHash + LSH near-dup pairs with exact-Jaccard verification.

    signature (k mins) -> b bands of k/b rows -> band-hash bucket join ->
    candidate pairs -> verify true Jaccard on candidates only. At 100 TB
    the verification join touches only the candidate set (vs the quadratic
    all-pairs of ngram_jaccard_pairs). Output (id_a, id_b, jaccard).

    `max_df` caps shingle document frequency before signatures AND the
    candidate-verification join (drop_hot_shingles) — boilerplate shingles
    otherwise both skew the verification join key and drag unrelated docs'
    signatures together.

    Verification (VERDICT r3 item 6 — at sf0.1 the exact verification
    join was ~70% of the wall) uses per-doc shingle SETS (collect_set —
    one shuffle, no sort; set semantics are exact because shingles()
    emits distinct grams) joined to candidates map-side via a broadcast
    of the bounded candidate-pair list, intersection by
    array_intersect. The shingle table is never sorted and only
    candidate docs' sets travel into the pair join. Measured at sf0.1:
    1.45s -> 0.88s wall against a sort-merge join of candidates with
    the raw (id, shingle) table. Skew note: a doc in many candidate
    pairs ships its set once per pair — bounded by banding + max_df."""
    assert k % bands == 0
    rows_per_band = k // bands
    grams = shingles(df, n, id_col, text_col) if n > 1 else token_set(df, id_col, text_col)
    if max_df is not None:
        grams = drop_hot_shingles(grams, max_df, id_col)
    # the shingle table feeds two consumers (signatures, per-doc sets):
    # persist it instead of recomputing the tokenize+explode twice.
    grams = scoped_persist(grams)
    # sig feeds both sides of the band self-join; one row per doc (k
    # longs + count), so persist it rather than re-running the gram
    # aggregation per side.
    sig = scoped_persist(minhash_signatures(grams, k, seed, id_col))

    band_structs = F.array(*[
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(*[F.col(f"mh_{bi * rows_per_band + j}")
                         for j in range(rows_per_band)]).alias("bhash"))
        for bi in range(bands)
    ])
    banded = sig.select(F.col(id_col), F.explode(band_structs).alias("b")) \
                .select(id_col, "b.band", "b.bhash")

    lhs = banded.select(F.col(id_col).alias("id_a"), "band", "bhash")
    rhs = banded.select(F.col(id_col).alias("id_b"), "band", "bhash")
    candidates = (lhs.join(rhs, ["band", "bhash"])
                  .filter(F.col("id_a") < F.col("id_b"))
                  .select("id_a", "id_b").distinct())

    # per-doc shingle sets: one shuffle (hash agg, no sort); exact
    # because shingles() emits distinct grams per doc. The bounded
    # candidate list broadcasts, so only candidate docs' sets
    # survive into the pair join map-side — no gram sort, no gram
    # shuffle beyond the one aggregation. Set sizes come free from
    # the arrays (no separate size-lookup joins).
    sets = grams.groupBy(id_col).agg(
        F.collect_set("shingle").alias("__set"))
    aa = sets.select(F.col(id_col).alias("id_a"),
                     F.col("__set").alias("__sa"))
    bb = sets.select(F.col(id_col).alias("id_b"),
                     F.col("__set").alias("__sb"))
    pairs = (aa.join(F.broadcast(candidates), "id_a")
             .join(bb, "id_b")
             .select("id_a", "id_b",
                     F.size(F.array_intersect("__sa", "__sb"))
                      .cast("long").alias("inter"),
                     F.size("__sa").cast("long").alias("sz_a"),
                     F.size("__sb").cast("long").alias("sz_b")))
    uni = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    verified = (pairs
                .filter(_keep_ratio_ge(F.col("inter"), uni, min_jaccard))
                .withColumn("jaccard", ratio(F.col("inter"), uni, 4)))
    return verified.select("id_a", "id_b", "jaccard")


def simhash64(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc: per-token xxhash64, +-1 vote per bit,
    sign -> bit. Explodes tokens x 64 bit-positions — acceptable because
    the per-(doc,bit) partial sums combine map-side; for very long docs a
    Pandas-UDF bit-count variant is the escape hatch. Returns
    (id, simhash long)."""
    tok = (df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
           .withColumn("h", F.xxhash64("token")))
    bits = tok.select(
        id_col, "h",
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("i"))
    votes = (bits
             .withColumn("bit", F.expr("(h >> i) & 1"))
             .groupBy(id_col, "i")
             .agg(F.sum(F.col("bit") * 2 - 1).alias("vote")))
    return (votes
            .withColumn("contrib", F.expr(
                "CASE WHEN vote >= 0 THEN shiftleft(1L, i) ELSE 0L END"))
            .groupBy(id_col)
            .agg(F.sum("contrib").alias("simhash")))


def simhash_pairs(df: DataFrame, max_hamming: int = 3,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-dup pairs by SimHash banding: 4 x 16-bit chunks; any pair within
    Hamming distance 3 shares at least one exact chunk (pigeonhole), so the
    4 chunk-equality self-joins find all candidates; verify with bit_count
    of xor. Output (id_a, id_b, hamming)."""
    sig = simhash64(df, id_col, text_col)
    chunks = sig.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.expr(f"(simhash >> {16 * c}) & 65535").alias("cval"))
            for c in range(4)
        ])).alias("b")).select(id_col, "simhash", "b.chunk", "b.cval")
    lhs = chunks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
                        "chunk", "cval")
    rhs = chunks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
                        "chunk", "cval")
    cand = (lhs.join(rhs, ["chunk", "cval"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b").distinct())
    return (cand.withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b") ))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def portable_hash(c) -> "F.Column":
    """Engine-portable 60-bit hash: first 15 hex digits of md5, parsed as
    an integer. Identical in Spark (conv base16->10) and DuckDB
    ('0x'||hex)::BIGINT — lets LSH signatures be oracle-verified end to
    end. ~2x slower than xxhash64 (md5 + string slicing), so the default
    pipeline keeps xxhash64; this is the verification configuration."""
    col = c if not isinstance(c, str) else F.col(c)
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10) \
            .cast("long")


def minhash_lsh_pairs_portable(df: DataFrame, n: int = 3, k: int = 16,
                               bands: int = 4, min_jaccard: float = 0.5,
                               seed: int = 42, id_col: str = "doc_id",
                               text_col: str = "text",
                               max_df: int | None = None) -> DataFrame:
    """minhash_lsh_pairs with portable (md5-derived) hashes everywhere:
    same banding pipeline, every stage reproducible in ANSI SQL. Band key
    is md5 over the '|'-joined row signature."""
    assert k % bands == 0
    rows_per_band = k // bands
    params = _minhash_params(k, seed)
    grams = shingles(df, n, id_col, text_col) if n > 1 else token_set(df, id_col, text_col)
    if max_df is not None:
        grams = drop_hot_shingles(grams, max_df, id_col)
    grams = scoped_persist(grams)

    h = F.pmod(portable_hash("shingle"), F.lit(_P)).alias("h")
    with_h = grams.select(F.col(id_col), h)
    mins = [F.min(F.pmod(F.lit(a) * F.col("h") + F.lit(b), F.lit(_P))).alias(f"mh_{i}")
            for i, (a, b) in enumerate(params)]
    sig = with_h.groupBy(id_col).agg(*mins, F.count(F.lit(1)).alias("sz"))

    band_structs = F.array(*[
        F.struct(
            F.lit(bi).alias("band"),
            F.md5(F.concat_ws("|", *[
                F.col(f"mh_{bi * rows_per_band + j}").cast("string")
                for j in range(rows_per_band)]).cast("binary")).alias("bhash"))
        for bi in range(bands)
    ])
    banded = sig.select(F.col(id_col), F.explode(band_structs).alias("b")) \
                .select(id_col, "b.band", "b.bhash")
    lhs = banded.select(F.col(id_col).alias("id_a"), "band", "bhash")
    rhs = banded.select(F.col(id_col).alias("id_b"), "band", "bhash")
    candidates = (lhs.join(rhs, ["band", "bhash"])
                  .filter(F.col("id_a") < F.col("id_b"))
                  .select("id_a", "id_b").distinct())

    sizes = sig.select(F.col(id_col), F.col("sz"))
    # never broadcast the shingle table (see minhash_lsh_pairs)
    a = grams.select(F.col(id_col).alias("id_a"), "shingle").hint("merge")
    b = grams.select(F.col(id_col).alias("id_b"), "shingle").hint("merge")
    inter = (candidates.join(a, "id_a").join(b, ["id_b", "shingle"])
             .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter")))
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    uni = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    verified = (inter.join(F.broadcast(sz_a), "id_a").join(F.broadcast(sz_b), "id_b")
                .filter(_keep_ratio_ge(F.col("inter"), uni, min_jaccard))
                .withColumn("jaccard", ratio(F.col("inter"), uni, 4)))
    return verified.select("id_a", "id_b", "jaccard")


def simhash_pairs_portable(df: DataFrame, max_hamming: int = 3,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """simhash_pairs with the engine-portable 60-bit hash (portable_hash),
    15-bit-chunk banding (4 chunks; pigeonhole covers Hamming<=3) — every
    stage reproducible in ANSI SQL, so the SimHash pipeline itself is
    oracle-verified like the portable MinHash variant. Token multiplicity
    (term frequency) weights the bit votes, same as simhash64."""
    tok = (df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token"))
           .withColumn("h", portable_hash("token")))
    bits = tok.select(id_col, "h",
                      F.explode(F.sequence(F.lit(0), F.lit(59))).alias("i"))
    votes = (bits
             .withColumn("bit", F.expr("(h >> i) & 1"))
             .groupBy(id_col, "i")
             .agg(F.sum(F.col("bit") * 2 - 1).alias("v")))
    sig = (votes
           .withColumn("contrib", F.expr(
               "CASE WHEN v >= 0 THEN shiftleft(1L, i) ELSE 0L END"))
           .groupBy(id_col)
           .agg(F.sum("contrib").alias("sh")))
    chunks = sig.select(
        id_col, "sh",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.expr(f"(sh >> {15 * c}) & 32767").alias("cval"))
            for c in range(4)
        ])).alias("b")).select(id_col, "sh", "b.chunk", "b.cval")
    lhs = chunks.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"),
                        "chunk", "cval")
    rhs = chunks.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"),
                        "chunk", "cval")
    cand = (lhs.join(rhs, ["chunk", "cval"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b").distinct())
    return (cand.withColumn("hamming",
                            F.bit_count(F.expr("sh_a ^ sh_b")).cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def simhash_signature_arrow(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n_bits: int = 64,
                            portable: bool = False,
                            sig_col: str = "simhash") -> DataFrame:
    """SimHash signatures WITHOUT the tokens x n_bits row blowup
    (the expression path's one scale hazard: a 1k-token doc becomes 64k
    (doc, bit) rows before the partial agg — 64x shuffle-input inflation
    on a long-document corpus).

    Shape: token hashes are computed JVM-side as ONE array column
    (transform over tokens — xxhash64 or the engine-portable md5 hash —
    no explode), then a single mapInPandas pass per Arrow batch unpacks
    hashes into a (total_tokens, n_bits) numpy bit matrix, scatter-adds
    the +-1 votes per doc, and packs sign bits into the signature long.
    One row per doc ever leaves the stage; nothing shuffles until the
    caller's banding join. Integer-only arithmetic end to end, so the
    result is BIT-IDENTICAL to the expression path (test-asserted) and,
    with `portable=True`, to the ANSI-SQL oracle.

    Docs whose token array is empty or null are dropped, matching the
    expression path (explode emits no rows for either). Note
    whitespace-only text still yields one empty-string token under
    `tokens()` — identically in both paths."""
    import numpy as np
    import pandas as pd

    if portable:
        n_bits = 60
        hash_fn = portable_hash
    else:
        hash_fn = lambda t: F.xxhash64(t)  # noqa: E731 — *args-style
        # builtins are not lambda-compatible for higher-order functions
    hashed = df.select(
        F.col(id_col),
        F.transform(tokens(F.col(text_col)), lambda t: hash_fn(t)).alias("hs"))

    def fold(batches):
        powers = (1 << np.arange(n_bits, dtype=np.uint64))
        for pdf in batches:
            keep = pdf["hs"].map(lambda h: h is not None and len(h) > 0)
            pdf = pdf[keep]
            if not len(pdf):
                continue
            counts = pdf["hs"].map(len).to_numpy()
            H = np.concatenate([np.asarray(h, dtype=np.int64)
                                for h in pdf["hs"]])
            # bit k of the two's-complement little-endian bytes == the
            # expression path's (h >> k) & 1 — unpackbits gives the whole
            # (tokens, 64) bit matrix as uint8 in one pass
            bits = np.unpackbits(H.view(np.uint8).reshape(len(H), 8),
                                 axis=1, bitorder="little")[:, :n_bits]
            # hashes arrive grouped by doc -> segmented sum, no scatter
            offsets = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=offsets[1:])
            ones = np.add.reduceat(bits, offsets, axis=0, dtype=np.int64)
            votes = 2 * ones - counts[:, None]     # (+1 per set bit, -1 else)
            sig = ((votes >= 0).astype(np.uint64) * powers).sum(
                axis=1, dtype=np.uint64).astype(np.int64)  # wraps = 2's compl
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy(), sig_col: sig})

    return hashed.mapInPandas(fold, schema=f"{id_col} long, {sig_col} long")


def _band_pairs(sig: DataFrame, max_hamming: int, chunk_bits: int,
                n_chunks: int, id_col: str,
                sig_col: str = "simhash",
                max_df: int | None = None) -> DataFrame:
    """Pigeonhole banding over a packed signature: split into `n_chunks`
    chunks of `chunk_bits`; any pair within Hamming distance < n_chunks
    shares at least one exact chunk, so n_chunks chunk-equality self-joins
    find all candidates; verify with bit_count of xor.

    `max_df` is the hot-band guard (r5, SCALING.md candidate-density
    probe): band buckets holding more than max_df signatures are dropped
    from BOTH join sides. Without it candidate pairs are quadratic in
    corpus size — the band key space is fixed (2^chunk_bits values per
    chunk) and signature chunks cluster on shared vocabulary, so bucket
    df grows with n and sum C(df,2) grows with n^2 (measured 12-15x per
    10x docs). With it, candidates <= max_df * n_chunks * n — linear.
    Recall contract: a true pair is lost only if EVERY chunk the two
    signatures share lands in a hot bucket; pairs at Hamming <=
    n_chunks-2 share >= 2 chunks and need two hot hits. Hot buckets are
    dominated by exact-duplicate signature clusters, which exact dedup
    (dedup_exact) should consume before near-dup banding at scale."""
    mask = (1 << chunk_bits) - 1
    chunks = sig.select(
        id_col, sig_col,
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.expr(f"({sig_col} >> {chunk_bits * c}) & {mask}")
                      .alias("cval"))
            for c in range(n_chunks)
        ])).alias("b")).select(id_col, sig_col, "b.chunk", "b.cval")
    if max_df is not None:
        hot = (chunks.groupBy("chunk", "cval")
               .agg(F.count(F.lit(1)).alias("__df"))
               .filter(F.col("__df") > max_df).select("chunk", "cval"))
        chunks = chunks.join(F.broadcast(hot), ["chunk", "cval"],
                             "left_anti")
    lhs = chunks.select(F.col(id_col).alias("id_a"),
                        F.col(sig_col).alias("sh_a"), "chunk", "cval")
    rhs = chunks.select(F.col(id_col).alias("id_b"),
                        F.col(sig_col).alias("sh_b"), "chunk", "cval")
    cand = (lhs.join(rhs, ["chunk", "cval"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b").distinct())
    return (cand.withColumn("hamming",
                            F.bit_count(F.expr("sh_a ^ sh_b")).cast("long"))
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def simhash_pairs_arrow(df: DataFrame, max_hamming: int = 3,
                        portable: bool = False, id_col: str = "doc_id",
                        text_col: str = "text",
                        max_df: int | None = None) -> DataFrame:
    """simhash_pairs with the Arrow signature stage (no row blowup) —
    same banding and verification as the expression variants. With
    `portable=True` the pipeline is bit-identical to
    `simhash_pairs_portable` and shares its ANSI-SQL oracle; the default
    xxhash64 form is bit-identical to `simhash_pairs` (both
    test-asserted). This is the production configuration for long-doc
    corpora; the expression paths stay as the oracle twins.

    `max_df` (the hot-band guard, see _band_pairs) is the 100 TB knob:
    the r5 candidate-density probe (SCALING.md) measured unguarded band
    candidates growing 12-15x per 10x docs — set it (e.g. 50) on any
    corpus that hasn't been exact-deduped first."""
    if portable:
        sig = simhash_signature_arrow(df, id_col, text_col, portable=True,
                                      sig_col="sh")
        return _band_pairs(sig, max_hamming, chunk_bits=15, n_chunks=4,
                           id_col=id_col, sig_col="sh", max_df=max_df)
    sig = simhash_signature_arrow(df, id_col, text_col, n_bits=64)
    out = _band_pairs(sig, max_hamming, chunk_bits=16, n_chunks=4,
                      id_col=id_col, sig_col="simhash", max_df=max_df)
    # expression simhash_pairs leaves bit_count's int type; match it
    return out.withColumn("hamming", F.col("hamming").cast("int"))


def simhash_signature_wide(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           portable: bool = False) -> DataFrame:
    """128-bit SimHash signatures (two packed longs sh_hi/sh_lo) via the
    Arrow fold — the wide tier for corpora above ~200k
    docs. Two independent 64-bit hash families per token: xxhash64(t)
    and xxhash64(t, 1) (seed-style second column; with portable=True,
    two md5-derived 60-bit hashes — portable_hash(t) and
    portable_hash(t || '#2') — giving a 120-bit signature replayable in
    ANSI SQL). Same vote semantics as simhash_signature_arrow, same
    one-row-per-doc output discipline; bit k of sh_lo votes on hash
    family 1, bit k of sh_hi on family 2."""
    import numpy as np
    import pandas as pd

    if portable:
        n_bits = 60
        h1 = lambda t: portable_hash(t)                     # noqa: E731
        h2 = lambda t: portable_hash(F.concat(t, F.lit("#2")))  # noqa: E731
    else:
        n_bits = 64
        h1 = lambda t: F.xxhash64(t)                        # noqa: E731
        h2 = lambda t: F.xxhash64(t, F.lit(1))              # noqa: E731
    # materialize the token array ONCE, then hash it twice — two
    # transform(tokens(...)) calls would re-tokenize the document per
    # family (the ngram_pairs HOF lesson, CLAUDE.md)
    hashed = (df.select(F.col(id_col),
                        tokens(F.col(text_col)).alias("__toks"))
              .select(F.col(id_col),
                      F.transform("__toks", h1).alias("h_lo"),
                      F.transform("__toks", h2).alias("h_hi")))

    def fold_one(col: pd.Series, counts: "np.ndarray") -> "np.ndarray":
        import numpy as np
        powers = (1 << np.arange(n_bits, dtype=np.uint64))
        H = np.concatenate([np.asarray(h, dtype=np.int64) for h in col])
        bits = np.unpackbits(H.view(np.uint8).reshape(len(H), 8),
                             axis=1, bitorder="little")[:, :n_bits]
        offsets = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=offsets[1:])
        ones = np.add.reduceat(bits, offsets, axis=0, dtype=np.int64)
        votes = 2 * ones - counts[:, None]
        return ((votes >= 0).astype(np.uint64) * powers).sum(
            axis=1, dtype=np.uint64).astype(np.int64)

    def fold(batches):
        import numpy as np
        for pdf in batches:
            keep = pdf["h_lo"].map(lambda h: h is not None and len(h) > 0)
            pdf = pdf[keep]
            if not len(pdf):
                continue
            counts = pdf["h_lo"].map(len).to_numpy()
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "sh_lo": fold_one(pdf["h_lo"], counts),
                "sh_hi": fold_one(pdf["h_hi"], counts),
            })

    return hashed.mapInPandas(
        fold, schema=f"{id_col} long, sh_lo long, sh_hi long")


def simhash_pairs_wide(df: DataFrame, max_hamming: int = 3,
                       portable: bool = False, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_df: int | None = None) -> DataFrame:
    """SimHash near-dup pairs over the WIDE (128-bit; 120 portable)
    signature: 4 chunks of 32 (30) bits — pigeonhole still covers
    Hamming <= 3, but the band key space is 2^32 (2^30) per chunk
    instead of 2^16, dividing uniform random collisions by ~2^16. This
    is the configuration for corpora above ~200k docs: at
    64 bits, banding saturates near ~3M docs (every bucket crosses any
    useful max_df and the guard would drop them all); at 128 bits the
    same corpus has ~2^-16 of the bucket occupancy and the guard is
    back to trimming genuine clone clusters only.

    Note the similarity semantics: max_hamming is an ABSOLUTE radius,
    so 3/128 bits is a stricter cosine threshold than 3/64 — pick the
    radius for the signature width (6 at 128 bits approximates 3 at 64;
    pigeonhole then needs n_chunks=7, traded here for the default
    strict radius which keeps the 4-join plan). Verification is
    bit_count(xor) summed over both longs. Output (id_a, id_b,
    hamming). Same hot-band max_df guard as _band_pairs."""
    chunk_bits = 30 if portable else 32
    sig = simhash_signature_wide(df, id_col, text_col, portable=portable)
    mask = (1 << chunk_bits) - 1
    chunks = sig.select(
        id_col, "sh_lo", "sh_hi",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.expr(f"(sh_lo >> {chunk_bits * c}) & {mask}")
                      .alias("cval"))
            for c in range(2)
        ] + [
            F.struct(F.lit(2 + c).alias("chunk"),
                     F.expr(f"(sh_hi >> {chunk_bits * c}) & {mask}")
                      .alias("cval"))
            for c in range(2)
        ])).alias("b")).select(id_col, "sh_lo", "sh_hi",
                               "b.chunk", "b.cval")
    if max_df is not None:
        hot = (chunks.groupBy("chunk", "cval")
               .agg(F.count(F.lit(1)).alias("__df"))
               .filter(F.col("__df") > max_df).select("chunk", "cval"))
        chunks = chunks.join(F.broadcast(hot), ["chunk", "cval"],
                             "left_anti")
    lhs = chunks.select(F.col(id_col).alias("id_a"),
                        F.col("sh_lo").alias("lo_a"),
                        F.col("sh_hi").alias("hi_a"), "chunk", "cval")
    rhs = chunks.select(F.col(id_col).alias("id_b"),
                        F.col("sh_lo").alias("lo_b"),
                        F.col("sh_hi").alias("hi_b"), "chunk", "cval")
    cand = (lhs.join(rhs, ["chunk", "cval"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "lo_a", "lo_b", "hi_a", "hi_b")
            .distinct())
    ham = (F.bit_count(F.expr("lo_a ^ lo_b"))
           + F.bit_count(F.expr("hi_a ^ hi_b"))).cast("long")
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 20) -> DataFrame:
    """Cluster near-dup PAIRS into components: (doc_id, component) where
    `component` is the smallest doc id reachable through the pair graph.
    This is the step that turns pairwise dedup output into "keep one doc
    per duplicate cluster" (canonical = the doc whose id == component).

    Iterative min-label propagation: every vertex starts labeled with
    itself; each round every vertex takes the min of its own and its
    neighbors' labels; stop when a round changes nothing (convergence
    needs O(graph diameter) rounds — near-dup clusters are shallow, so
    2-4 rounds in practice). Each round is one broadcast-free shuffle
    join (labels x edges, both keyed on vertex) + a min-groupBy; lineage
    is truncated per round with localCheckpoint so the plan doesn't grow
    with iterations (on a real cluster, use a checkpoint dir /
    reliable checkpoint instead — same call shape).

    The early-stop `changed` count is one tiny driver action per round —
    deliberate: iterative graph algorithms are driver-coordinated in
    every Spark formulation (including GraphX/GraphFrames). At extreme
    diameters, switch to the large-star/small-star formulation (Kiveris
    et al., "Connected Components in MapReduce", SOCC'14) which
    converges in O(log n) rounds with the same per-round join shape.

    Only vertices that appear in `pairs` are returned (docs with no dup
    pair are their own singleton components; union them in downstream if
    needed). Deterministic: min over ids."""
    fwd = pairs.select(F.col(id_a).cast("long").alias("u"),
                       F.col(id_b).cast("long").alias("v"))
    edges = fwd.union(fwd.select(F.col("v").alias("u"),
                                 F.col("u").alias("v"))).distinct()
    edges = scoped_persist(edges)
    labels = (edges.select("u").distinct()
              .select(F.col("u").alias("v"), F.col("u").alias("label")))
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        nbr = (edges.join(labels.withColumnRenamed("v", "u"), "u")
                    .select("v", "label"))
        new_labels = (labels.union(nbr)
                      .groupBy("v").agg(F.min("label").alias("label"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.join(labels.withColumnRenamed("label", "old"),
                                   "v")
                   .filter(F.col("label") != F.col("old")).count())
        labels = new_labels
        if changed == 0:
            break
    connected_components.last_rounds = rounds
    edges.unpersist()
    return labels.select(F.col("v").alias("doc_id"),
                         F.col("label").alias("component"))


def connected_components_logn(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_iter: int = 40) -> DataFrame:
    """Connected components in O(log n) ROUNDS via alternating
    large-star/small-star (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC'14) — the deep-graph answer to
    `connected_components`' O(diameter) min-label rounds. Same output
    contract: (doc_id, component = min reachable id), only vertices
    appearing in `pairs`.

    Each round halves (at least) the height of every tree in the edge
    forest instead of shaving one hop, so a 100-deep dup chain converges
    in ~7 rounds, not 100:
    - large-star(u): connect every strictly-larger neighbor v of u to
      m = min(N(u) + {u}) — emitted edges (v, m) are always
      (bigger, smaller), so the set stays normalized for free.
    - small-star(u): over the (big -> small) directed edges, connect u
      and all its smaller neighbors to their min.
    Both are one groupBy (per-node min) + one self-join (redirect) on
    uniform vertex keys — the same shuffle shape as a min-label round;
    the win is purely round count. Fixed point = every component a star
    rooted at its min id; stability of the star set under both
    operations is what the convergence check tests (set equality via
    two tiny actions on the checkpointed round output; iterative graph
    algorithms are driver-coordinated in every Spark formulation).

    Deterministic: min over ids everywhere. Rounds used is exposed as
    `connected_components_logn.last_rounds` (one round = large + small)."""
    E = (pairs.select(
            F.greatest(F.col(id_a).cast("long"),
                       F.col(id_b).cast("long")).alias("u"),
            F.least(F.col(id_a).cast("long"),
                    F.col(id_b).cast("long")).alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct()
         .localCheckpoint(eager=True))
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # large-star over the symmetric neighborhood
        nbr = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (nbr.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("mv", "u").alias("m")))
        large = (nbr.filter(F.col("v") > F.col("u"))
                 .join(mins, "u")
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct())
        # small-star over the (big -> small) directed edges
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))  # m < u
        redirected = large.join(mins2, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v"))
        kept = mins2.select("u", F.col("m").alias("v"))
        E2 = (redirected.union(kept)
              .filter(F.col("u") != F.col("v"))
              .distinct()
              .localCheckpoint(eager=True))
        if E2.count() == E.count() and E2.exceptAll(E).isEmpty():
            E = E2
            break
        E = E2
    connected_components_logn.last_rounds = rounds
    roots = E.select(F.col("v")).distinct().select(
        F.col("v").alias("doc_id"), F.col("v").alias("component"))
    return (E.select(F.col("u").alias("doc_id"),
                     F.col("v").alias("component"))
            .union(roots)
            .groupBy("doc_id").agg(F.min("component").alias("component")))


def decontaminate(train: DataFrame, eval_set: DataFrame, n: int = 3,
                  min_overlap: int = 1, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Training-set decontamination (the GPT-3-style n-gram rule): flag
    every training doc sharing >= `min_overlap` distinct n-gram shingles
    with ANY eval/benchmark doc. Returns (doc_id, eval_doc_id,
    n_shared) pairs — the removal list plus its evidence, so audits can
    inspect WHY a doc was dropped.

    Scale shape: shingle both sides (narrow), inverted-index join keyed
    on the shingle — the eval side is benchmarks (thousands of docs,
    millions of shingles), so its shingle table broadcasts and the
    training corpus NEVER shuffles; one groupBy on the (train, eval)
    pair counts the evidence. Hot boilerplate shingles get the same
    max_df guard as jaccard_pairs (drop_hot_shingles) upstream if the
    eval set contains templated text."""
    tg = (shingles(train, n=n, id_col=id_col, text_col=text_col)
          .select(F.col(id_col).alias("doc_id"), "shingle"))
    eg = (shingles(eval_set, n=n, id_col=id_col, text_col=text_col)
          .select(F.col(id_col).alias("eval_doc_id"), "shingle"))
    return (tg.join(F.broadcast(eg), "shingle")
              .groupBy("doc_id", "eval_doc_id")
              .agg(F.count(F.lit(1)).alias("n_shared"))
              .filter(F.col("n_shared") >= min_overlap))


# --------------------------------------------------------------------------
# Bloom-filter membership: the no-corpus-shuffle incremental dedup tier
# --------------------------------------------------------------------------

def bloom_positions(fp, m_bits: int, k: int = 5) -> list["F.Column"]:
    """k portable bit positions in [0, m_bits) for one fingerprint:
    position_i = portable_hash(fp || ':' || i) mod m. md5-derived, so the
    identical positions fall out of the same SQL in DuckDB — the whole
    filter is oracle-replayable, and membership never depends on engine
    hash internals."""
    col = fp if not isinstance(fp, str) else F.col(fp)
    return [F.pmod(portable_hash(F.concat(col, F.lit(f":{i}"))),
                   F.lit(m_bits)).alias(f"pos{i}")
            for i in range(k)]


def build_bloom(fps: DataFrame, m_bits: int, k: int = 5,
                fp_col: str = "fp") -> list[int]:
    """DISTRIBUTED Bloom-filter build over a fingerprint column: explode
    each fingerprint into its k bit positions, map to (word_index,
    bit_mask), and OR-aggregate per 64-bit word — one shuffle keyed on
    word index (at most m/64 keys), then collect the dense word array
    (m/64 longs — 2 KiB per 2^17 bits) to the driver.

    The corpus itself never leaves the executors and no per-row state
    reaches the driver: only the OR-folded words do. Returns the dense
    little-endian word list (index = bit // 64, bit set =
    word & (1 << (bit % 64)))."""
    n_words = (m_bits + 63) // 64
    pos = (fps.select(F.explode(F.array(
               *[p.cast("long") for p in bloom_positions(F.col(fp_col),
                                                         m_bits, k)]))
               .alias("pos")))
    rows = (pos.select(
                (F.col("pos") / 64).cast("long").alias("w"),
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(pos % 64 AS INT))").alias("mask"))
            .groupBy("w").agg(F.bit_or("mask").alias("word"))
            .collect())
    words = [0] * n_words
    for r in rows:
        words[r["w"]] = r["word"]
    return words


def incremental_dedup_bloom(corpus: DataFrame, batch: DataFrame,
                            m_bits: int = 1 << 17, k: int = 5,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Incremental ingest dedup with a Bloom-filter prefilter — exact
    output (identical to the plain digest anti-join; the filter only
    routes rows), but the corpus NEVER shuffles:

    1. Build an m-bit Bloom filter over the corpus digest set
       (`build_bloom` — distributed OR-fold, m/64 longs to the driver).
    2. Probe each batch digest against the words (attached as a one-row
       broadcast, k element_at + bit tests per row — pure codegen).
       Bloom negatives are DEFINITELY new: admitted with no join at all.
    3. Bloom positives (true dups + ~fpr of the batch) are the only rows
       that touch the corpus: an inner join with the POSITIVE side
       broadcast finds which are genuinely present — the corpus digest
       table streams through a BroadcastHashJoin probe with no Exchange —
       and the (tiny) found set anti-joins back.

    Contrast with `dedup_incremental` (plain anti-join): that plan
    shuffles BOTH sides once the corpus digest table outgrows the
    broadcast threshold (32 bytes x 10^11 docs = TBs at 100 TB scale).
    Here the big side is scanned in place; what broadcasts is m/64
    words (sized by corpus cardinality: ~10 bits/key for ~1% fpr,
    fitting ~10^9 keys in ~1.25 GB — beyond that, shard the digest
    space and probe per-shard filters) plus the bloom-positive slice.

    Batch-side work is k md5 calls per row; `m_bits` must comfortably
    exceed k * corpus cardinality or fpr degrades toward 1 and every
    row routes through the exact join (output stays exact either way).
    """
    spark = corpus.sparkSession
    fp = fingerprint(F.col(text_col))
    # No distinct(): the OR-fold and the semi-join below are both
    # duplicate-insensitive, and a distinct would be exactly the corpus
    # shuffle this operator exists to avoid.
    corpus_fps = corpus.select(fp.alias("fp"))
    words = build_bloom(corpus_fps, m_bits, k)
    # values_df (LocalTableScan), not createDataFrame: the RDD-literal
    # form pays defaultParallelism Python-worker round trips per action
    from ..sources.literal import values_df
    bloom = values_df(spark, [(words,)], "bloom_words array<bigint>")

    probed = (batch.select(F.col(id_col), fp.alias("fp"))
              .crossJoin(F.broadcast(bloom)))
    hit = None
    for i, pos in enumerate(bloom_positions(F.col("fp"), m_bits, k)):
        probed = probed.withColumn(f"__p{i}", pos)
        h = F.expr(f"(element_at(bloom_words, CAST(__p{i} DIV 64 AS INT) + 1)"
                   f" & shiftleft(CAST(1 AS BIGINT),"
                   f" CAST(__p{i} % 64 AS INT))) != 0")
        hit = h if hit is None else hit & h
    probed = probed.select(id_col, "fp", hit.alias("__maybe"))

    fresh = probed.filter(~F.col("__maybe")).select(id_col)
    maybe = probed.filter(F.col("__maybe")).select(id_col, "fp")
    found = (corpus_fps
             .join(F.broadcast(maybe.select("fp").distinct()), "fp",
                   "left_semi")
             .distinct())
    admitted = (maybe.join(F.broadcast(found), "fp", "left_anti")
                .select(id_col))
    return fresh.unionByName(admitted)


def gram_positions(df: DataFrame, k: int = 8, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Positional k-token grams: one (id, pos, gram) row per window start.

    Unlike `shingles` (distinct set per doc, for Jaccard), positions are
    kept — the substage for span-level dedup, where WHERE in the doc a
    repeat occurs matters. Docs shorter than k tokens emit nothing (the
    sequence() upper bound would go negative, which Spark's sequence
    treats as a descending range — filtered out up front).

    Narrow per-row expansion (transform + posexplode), no shuffle; output
    size is the corpus token count, same asymptotics as `shingles`.

    r11: the input projection spreads via catalog.spread_cpu_scan — the
    tokenize+slice+array_join window map is the CPU-heavy stage and an
    under-parallel scan ran it on 2 tasks of 32 at sf0.1 (stage profile
    of pipe_training_data_prep: 558 ms on 2 tasks). No-op at production
    file counts, so the "only the k-gram shuffle moves the corpus"
    at-scale claim is unchanged. r12: the spread hashes on the doc id —
    the span-reconstruction aggregates downstream (islands
    groupBy(id, isl), per-doc span rollups) are id-superset-keyed and
    ride the spread exchange where it fires."""
    from ..catalog import spread_cpu_scan
    df = spread_cpu_scan(df.select(F.col(id_col), F.col(text_col)),
                         key_col=id_col)
    return (df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
            .filter(F.size("__toks") >= k)
            .select(id_col,
                    F.posexplode(F.expr(
                        f"transform(sequence(0, size(__toks) - {k}), "
                        f"i -> array_join(slice(__toks, i + 1, {k}), ' '))"
                    )).alias("pos", "gram"))
            .select(id_col, F.col("pos").cast("long").alias("pos"), "gram"))


def duplicated_spans(df: DataFrame, k: int = 8, min_df: int = 2,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Cross-document duplicated substring spans — the ExactSubstr dedup
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better") re-expressed for Spark at k-token resolution.

    The paper builds a corpus-wide suffix array (a single-node, globally
    sorted structure) to find byte spans repeated >= 2 times. A suffix
    array does not distribute; the shuffle-native equivalent detects
    every repeated span of >= k tokens exactly:

    1. `gram_positions`: (doc, pos, k-gram) — narrow, corpus-linear.
    2. gram -> distinct-doc frequency; grams in >= `min_df` docs are
       duplicated. One shuffle keyed by xxhash64(gram), so the exchange
       carries 8-byte uniform keys, not text. A span repeated in >=
       min_df docs is exactly a maximal run of duplicated k-grams, so no
       information is lost vs the suffix array down to resolution k
       (spans shorter than k are invisible — the paper's own dedup
       threshold, 50 BPE tokens, plays this role).
    3. join positions back to duplicated grams (same uniform key; fan-out
       is |dup positions|, linear — never pairwise, unlike Jaccard).
    4. per-doc interval merge of [pos, pos+k-1] windows: running
       max(end) window -> island flag -> prefix-sum island id -> one row
       per maximal span. Overlapping AND adjacent windows merge (start
       <= prev_end + 1), so a span is a maximal contiguous duplicated
       region. Partitioned by doc, narrow after one shuffle.

    Returns (doc_id, span_start, span_tokens), one row per maximal
    duplicated span. The 64-bit digest has ~1e-9 corpus-level collision
    odds, which would only over-mark a span; the DuckDB oracle checks
    the hashed key directly since grams never appear in the output."""
    g = gram_positions(df, k=k, id_col=id_col, text_col=text_col)
    g = g.select(id_col, "pos", F.xxhash64("gram").alias("gkey"))
    if min_df == 2:
        # Default path: "gram in >= 2 distinct docs" is exactly
        # min(doc) != max(doc) over the gram partition — ONE exchange on
        # gkey (a pair of cheap window aggs), instead of the general
        # path's count-distinct aggregate PLUS a join back that re-scans
        # and re-shuffles the gram table (2x the data movement; measured
        # 1.19s -> 0.69s at sf0.1). WindowExec buffers one gram-group at
        # a time (rows are ~24 B narrow; a boilerplate gram in 10^6 docs
        # buffers ~24 MB and spills beyond that) — linear cost either
        # way, unlike shingle self-joins where hot keys go quadratic.
        wg = Window.partitionBy("gkey")
        starts = (g.select(id_col, "pos",
                           (F.min(id_col).over(wg)
                            != F.max(id_col).over(wg)).alias("__dup"))
                  .filter(F.col("__dup"))
                  .select(id_col, F.col("pos").alias("s"),
                          (F.col("pos") + k - 1).alias("e")))
    else:
        dup = (g.groupBy("gkey")
               .agg(F.count_distinct(F.col(id_col)).alias("df"))
               .filter(F.col("df") >= min_df)
               .select("gkey"))
        starts = g.join(dup, "gkey").select(
            id_col, F.col("pos").alias("s"),
            (F.col("pos") + k - 1).alias("e"))
    w = Window.partitionBy(id_col).orderBy("s")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = starts.select(
        id_col, "s", "e",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-2)) + 1, 1)
        .otherwise(0).alias("__new"))
    islands = flagged.select(
        id_col, "s", "e",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).alias("__isl"))
    return (islands.groupBy(id_col, "__isl")
            .agg(F.min("s").alias("span_start"),
                 (F.max("e") - F.min("s") + 1).alias("span_tokens"))
            .select(id_col, "span_start", "span_tokens"))


def duplicated_span_stats(df: DataFrame, k: int = 8, min_df: int = 2,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Per-doc duplicated-coverage stats over `duplicated_spans`:
    (doc_id, n_tokens, n_dup_spans, dup_tokens, dup_frac_bp). Every doc
    appears (left join; zero spans -> zeros), so this is the filter
    input for "drop docs >X% duplicated" curation rules.

    dup_frac_bp is basis points via integer arithmetic
    (10000 * dup_tokens DIV n_tokens): exact and identical in every
    engine, sidestepping double round-at-tie divergence (CLAUDE.md
    rounding rule) that a round(frac, 4) would risk on exact ratios."""
    spans = duplicated_spans(df, k=k, min_df=min_df, id_col=id_col,
                             text_col=text_col)
    per_doc = (spans.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_dup_spans"),
                    F.sum("span_tokens").alias("dup_tokens")))
    # null text counts 0 tokens (greatest/coalesce guards both of
    # Spark's size()-of-null conventions — the sampling.py ADVICE r3
    # pattern) and a 0-token doc gets frac 0, not a NULL division —
    # identical guards in the oracle keep rows aligned by construction
    # if a future fixture generation ships null text.
    toks = df.select(
        F.col(id_col),
        F.greatest(F.lit(0),
                   F.coalesce(F.size(tokens(F.col(text_col))), F.lit(0)))
        .cast("long").alias("n_tokens"))
    dup_tokens = F.coalesce("dup_tokens", F.lit(0))
    return (toks.join(per_doc, id_col, "left")
            .select(id_col, "n_tokens",
                    F.coalesce("n_dup_spans", F.lit(0)).cast("long")
                    .alias("n_dup_spans"),
                    dup_tokens.cast("long").alias("dup_tokens"),
                    F.when(F.col("n_tokens") > 0,
                           F.floor(F.lit(10000) * dup_tokens
                                   / F.col("n_tokens")).cast("long"))
                    .otherwise(F.lit(0).cast("long"))
                    .alias("dup_frac_bp")))


def strip_duplicated_spans(df: DataFrame, k: int = 8, min_df: int = 2,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """The removal half of ExactSubstr dedup: rebuild each doc's text
    with every cross-doc duplicated span cut out (the paper deletes the
    repeated bytes rather than the whole doc — most of a crawl doc is
    unique even when boilerplate repeats).

    Re-assembly is ROW-LOCAL (r9, VERDICT r8 item 6): the per-doc span
    list is tiny by construction (maximal merged spans, a handful per
    affected doc), so it aggregates to one array per doc and BROADCASTS
    into the corpus scan; each doc rebuilds its text in one expression —
    filter(tokens, (tok, i) -> no span covers i) — with no token
    explode, no token shuffle, and no ordered-concat window. The r8
    shape (posexplode -> broadcast anti-join -> two window passes ->
    rebuild join) moved every corpus token through a doc-keyed window
    twice; profiled as the dominant stage of pipe_training_data_prep
    (2.32s of 2.97s cumulative stage walls at sf0.1; fresh-session
    pipeline best-of 2.97s -> 2.25s after the rewrite). At 100 TB the contrast
    is starker: corpus tokens never leave their input partitions; the
    only full-corpus exchange left in ExactSubstr is the k-gram
    detection shuffle inside duplicated_spans, which is the algorithm.

    Returns (doc_id, clean_text, n_tokens_kept). Docs made empty keep a
    row with clean_text = '' (curation decides what to do with them)."""
    spans = duplicated_spans(df, k=k, min_df=min_df, id_col=id_col,
                             text_col=text_col)
    span_arrs = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_tokens"))
        .alias("__spans"))
    covered = lambda i: F.exists(  # noqa: E731 — inline plan fragment
        "__spans",
        lambda sp: (i >= sp["span_start"])
        & (i < sp["span_start"] + sp["span_tokens"]))
    kept = F.when(
        F.col("__spans").isNull(), F.col("__toks")).otherwise(
        F.filter("__toks", lambda tok, i: ~covered(i.cast("long"))))
    # NULL text -> NULL token array: empty output row, like the old
    # explode path (size() is isNull-guarded because size(NULL) is -1
    # under non-ANSI configs and NULL under ANSI). `kept` materializes
    # in its OWN projection: inlining it into all three output
    # expressions would evaluate the O(tokens x spans) filter/exists
    # chain three times per row (higher-order functions are
    # interpreted, no codegen CSE — r9 review catch); CollapseProject
    # keeps the two projections separate because the alias is consumed
    # more than once by non-cheap expressions.
    from ..catalog import spread_cpu_scan
    rebuild_in = spread_cpu_scan(
        df.select(F.col(id_col), F.col(text_col)))
    return (rebuild_in.select(F.col(id_col),
                              tokens(F.col(text_col)).alias("__toks"))
            .join(F.broadcast(span_arrs), id_col, "left")
            .select(id_col, kept.alias("__kept"))
            .select(id_col,
                    F.coalesce(F.array_join("__kept", " "), F.lit(""))
                    .alias("clean_text"),
                    F.when(F.col("__kept").isNull(), F.lit(0))
                    .otherwise(F.size("__kept")).cast("long")
                    .alias("n_tokens_kept")))


def containment_pairs(df: DataFrame, n: int = 3,
                      min_containment: float = 0.8,
                      id_col: str = "doc_id", text_col: str = "text",
                      max_df: int | None = None) -> DataFrame:
    """Asymmetric containment similarity C(A,B) = |A ∩ B| / |A| over
    n-gram shingle sets — the doc-IN-doc detector Jaccard structurally
    misses: a tweet quoted inside a long article has Jaccard ~0 (union
    is the article) but containment ~1. The curation uses: drop quoted/
    wrapped re-publications while keeping the host doc, and
    containment-style decontamination (an eval item pasted into a long
    training doc).

    Same inverted-index plan as jaccard_pairs (ONE shingle-keyed
    shuffle, size table broadcast, `max_df` hot-shingle guard applies);
    only the denominator changes, so both directions fall out of the
    one intersection row. Output (id_small, id_big, containment): the
    SMALLER set's coverage inside the bigger (ties by id), one row per
    unordered pair, containment rounded(4) for threshold portability."""
    grams = shingles(df, n, id_col, text_col) if n > 1 \
        else token_set(df, id_col, text_col)
    if max_df is not None:
        grams = drop_hot_shingles(grams, max_df, id_col)
    # r11: sizes + both self-join sides read grams (see jaccard_pairs);
    # size-gated persist, same rationale
    from pyspark import StorageLevel
    from ..cache import persist_if_heavy
    grams = persist_if_heavy(grams, StorageLevel.MEMORY_AND_DISK)
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = grams.select(F.col(id_col).alias("id_a"), "shingle")
    b = grams.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    sz_a = sizes.select(F.col(id_col).alias("id_a"),
                        F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"),
                        F.col("sz").alias("sz_b"))
    scored = (inter
              .join(F.broadcast(sz_a), "id_a")
              .join(F.broadcast(sz_b), "id_b"))
    small_first = F.col("sz_a") < F.col("sz_b")
    tie = (F.col("sz_a") == F.col("sz_b")) & (F.col("id_a") < F.col("id_b"))
    pick_a = small_first | tie
    out = (scored
           .filter(_keep_ratio_ge(F.col("inter"),
                                  F.least("sz_a", "sz_b"),
                                  min_containment))
           .select(
               F.when(pick_a, F.col("id_a")).otherwise(F.col("id_b"))
               .alias("id_small"),
               F.when(pick_a, F.col("id_b")).otherwise(F.col("id_a"))
               .alias("id_big"),
               ratio(F.col("inter"), F.least("sz_a", "sz_b"), 4)
               .alias("containment")))
    return out


def fuzzy_edit_pairs(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", key_len: int = 33,
                     max_edits: int = 2,
                     max_df: int | None = None) -> DataFrame:
    """Character-level near-duplicate pairs by edit distance — the fuzzy
    twin MinHash misses: one-keystroke variants (typos, re-encodes,
    tracking-suffix URLs, OCR slips) whose token sets barely overlap as
    shingles but whose CHARACTERS are >94% identical.

    PassJoin-style pigeonhole banding (Li et al., VLDB'12 — public):
    the match key is the first `key_len` chars of `text_col` (docs
    shorter than `key_len` are out of scope here — exact/normalized
    dedup owns them, dedup.py exact_dups). The key splits into
    `max_edits + 1` aligned chunks, so <=max_edits edits leave at least
    one chunk untouched; that chunk appears in the other key as the
    same-width window shifted by at most `max_edits` positions (keys are
    equal length, so every untouched chunk's image stays in range).
    Candidates are therefore (chunk_index, value) equi-join hits of
    probe chunks vs shifted index windows — never an all-pairs — then
    verified with an exact `levenshtein(key_a, key_b) <= max_edits`.

    Scale notes: probes are (max_edits+1) rows/doc and windows
    ~(max_edits+1)*(2*max_edits+1) rows/doc, both linear; the only
    shuffle keys on (chunk_index, value). Hot chunks (boilerplate
    openings shared across DIFFERENT keys) fan the candidate join out
    quadratically like hot shingles do — measured 3.16x time per 10x
    docs unguarded on the word-salad fixtures (SCALING.md). `max_df`
    is the same guard minhash uses (dedup.py:92): window values whose
    document frequency exceeds it are dropped from candidate
    generation via a broadcast anti-join (the hot set is tiny by
    construction). Recall caveat, stated honestly: a true pair is
    missed only if EVERY untouched-chunk match between the two keys is
    hot — for max_edits=2 that needs all its surviving chunk hits to
    exceed max_df, so unique-ish variants (typos of distinct content)
    are unaffected while boilerplate-prefix armies (which exact/
    normalized dedup already collapses) are excluded from the
    quadratic join. Default None = exact. Verification is
    O(key_len^2) per CANDIDATE, bounded by the banding. Output:
    (id_a, id_b, dist), id_a < id_b, one row per verified pair.
    """
    n_chunks = max_edits + 1
    if key_len % n_chunks:
        raise ValueError(f"key_len {key_len} must divide into "
                         f"{n_chunks} equal chunks")
    w = key_len // n_chunks

    keyed = (df.filter(F.length(F.col(text_col)) >= key_len)
               .select(F.col(id_col).alias("__id"),
                       F.substring(F.col(text_col), 1, key_len)
                        .alias("__key")))

    probes = keyed.select(
        "__id", "__key",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("ci"),
                     F.substring("__key", 1 + w * i, w).alias("cv"))
            for i in range(n_chunks)])).alias("c")) \
        .select("__id", "__key", "c.ci", "c.cv")

    windows = []
    for i in range(n_chunks):
        for d in range(-max_edits, max_edits + 1):
            pos = 1 + w * i + d
            if 1 <= pos <= key_len - w + 1:
                windows.append(
                    F.struct(F.lit(i).alias("ci"),
                             F.substring("__key", pos, w).alias("cv")))
    index = keyed.select(
        F.col("__id").alias("__idb"), F.col("__key").alias("__keyb"),
        F.explode(F.array(*windows)).alias("c")) \
        .select("__idb", "__keyb", "c.ci", "c.cv")

    if max_df is not None:
        hot = (index.groupBy("ci", "cv")
               .agg(F.count(F.lit(1)).alias("__df"))
               .filter(F.col("__df") > max_df).select("ci", "cv"))
        probes = probes.join(F.broadcast(hot), ["ci", "cv"], "left_anti")
        index = index.join(F.broadcast(hot), ["ci", "cv"], "left_anti")

    cand = (probes.join(index, ["ci", "cv"])
            .filter(F.col("__id") < F.col("__idb"))
            .select(F.col("__id").alias("id_a"),
                    F.col("__idb").alias("id_b"),
                    "__key", "__keyb")
            .distinct())
    return (cand
            .withColumn("dist", F.levenshtein("__key", "__keyb")
                        .cast("long"))
            .filter(F.col("dist") <= max_edits)
            .select("id_a", "id_b", "dist"))


def source_overlap_matrix(df: DataFrame, group_col: str = "source",
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Cross-source duplication matrix — the mixing-time diagnostic for
    "how much of source A is also in source B": per ordered source
    pair (src_a < src_b), the number of distinct normalized content
    fingerprints (text.fingerprint — whitespace/case-folded md5) both
    sides contain, with per-source distinct totals and the Jaccard of
    the two fingerprint sets. Feeds mixture/epoch decisions
    (sampling.mixture_sample / epoch_repeat): a pair with high overlap
    double-counts its shared content at whatever combined epoch rate
    the mix assigns.

    Shape: (source, fp) is distinct-reduced FIRST (map-side partial
    dedup on a uniform 32-byte digest key), the self-join is keyed on
    the digest, and the output matrix covers EVERY ordered source pair
    (src_a < src_b) — C(|sources|, 2) rows, tiny — including pairs
    with zero shared fingerprints (n_shared = 0, jaccard 0.0), so a
    consumer iterating "all pairs" never silently misses one (ADVICE
    r4: the old inner-join shape dropped zero-overlap pairs). The pair
    universe is built from the metadata-sized totals table; the only
    corpus-sized shuffle moves fingerprints, never text; identical to
    the snapshot_diff / incremental-ingest digest discipline.

    Output (src_a, src_b, n_shared, n_a, n_b, jaccard)."""
    from ..functions.numeric import ratio

    fps = (df.select(F.col(group_col).alias("src"),
                     fingerprint(F.col(text_col)).alias("fp"))
           .distinct())
    totals = fps.groupBy("src").agg(F.count(F.lit(1)).alias("n"))
    a = fps.select(F.col("src").alias("src_a"), "fp")
    b = fps.select(F.col("src").alias("src_b"), "fp")
    shared = (a.join(b, "fp")
              .filter(F.col("src_a") < F.col("src_b"))
              .groupBy("src_a", "src_b")
              .agg(F.count(F.lit(1)).alias("n_shared")))
    # all ordered pairs from the totals table (sources-squared, tiny —
    # the BroadcastNestedLoop below is over metadata, not the corpus)
    ta = totals.select(F.col("src").alias("src_a"),
                       F.col("n").alias("n_a"))
    tb = totals.select(F.col("src").alias("src_b"),
                       F.col("n").alias("n_b"))
    pairs = ta.join(F.broadcast(tb), F.col("src_a") < F.col("src_b"))
    out = pairs.join(F.broadcast(shared), ["src_a", "src_b"], "left")
    n_sh = F.coalesce(F.col("n_shared"), F.lit(0)).cast("long")
    denom = F.col("n_a") + F.col("n_b") - n_sh
    return out.select(
        "src_a", "src_b", n_sh.alias("n_shared"), "n_a", "n_b",
        ratio(n_sh, denom).alias("jaccard"))


def contamination_score(train: DataFrame, eval_set: DataFrame, n: int = 3,
                        threshold: float = 0.1, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Per-document eval-contamination FRACTION — the scoring companion
    to `decontaminate` (which emits the removal-pair evidence list):
    for every training doc, the share of its distinct n-gram shingles
    that appear anywhere in the eval/benchmark set, plus a keep/drop
    verdict at `threshold`. This is the PaLM/Llama-style contamination
    metric ("document is dirty if >= X% of its n-grams hit the eval
    set"), which tolerates incidental single-shingle collisions that a
    raw min_overlap count would flag on long documents.

    EVERY training doc appears in the output (clean docs score 0.0) —
    left join from the per-doc shingle totals, so the result doubles as
    a corpus-level contamination profile, not just a removal list.

    Determinism: the fraction is ONE bigint/bigint double division
    (IEEE-correctly-rounded, engine-exact); `+ 0.0` is unnecessary as
    both counts are >= 0. Verdict compares the exact double against the
    threshold literal.

    Scale shape (same as decontaminate): the eval shingle table is
    benchmark-sized and BROADCASTS — the training corpus never
    shuffles for the match; the per-doc totals are one groupBy on the
    training doc id. Output (doc_id, n_shingles, n_contaminated,
    contamination, keep)."""
    tg = (shingles(train, n=n, id_col=id_col, text_col=text_col)
          .select(F.col(id_col).alias("doc_id"), "shingle"))
    eg = (shingles(eval_set, n=n, id_col=id_col, text_col=text_col)
          .select("shingle").distinct())
    totals = tg.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"))
    hits = (tg.join(F.broadcast(eg), "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_contaminated")))
    frac = (F.col("n_contaminated").cast("double")
            / F.col("n_shingles").cast("double"))
    return (totals.join(hits, "doc_id", "left")
            .withColumn("n_contaminated",
                        F.coalesce(F.col("n_contaminated"), F.lit(0))
                        .cast("long"))
            .withColumn("contamination", frac)
            .withColumn("keep",
                        (F.col("contamination") < F.lit(float(threshold)))
                        .cast("long"))
            .select("doc_id", "n_shingles", "n_contaminated",
                    "contamination", "keep"))


def pagerank(pairs: DataFrame, n_iter: int = 3, damping: float = 0.85,
             id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """PageRank over an undirected pair graph (near-dup pairs, link
    graphs): the centrality signal curation stacks use to pick the
    CANONICAL document of a duplicate cluster (the most-connected
    member, vs dedup_canonical_pick's quality-score rule) and to
    propagate quality through web link graphs (Common-Crawl-style
    harmonic/PageRank corpus weighting). Nodes are the pair endpoints;
    each undirected pair becomes two directed edges, so every node has
    out-degree >= 1 and there are no dangling-mass corrections.

    FIXED-POINT arithmetic (sf1-surfaced): a first cut kept ranks as
    doubles rounded at 12 per iteration, and at 6M-row scale the graph's
    symmetric structure produced sums sitting a hair from a digit-12
    boundary — Spark rounds the double's exact binary expansion, DuckDB
    rounds via value*10^12 float scaling, and the two disagreed in the
    last digit (the numeric.py ROUNDING RULE failure class, caught by
    the /tmp/sf1 gate like q7/q9's half-cent ties in r4). So the whole
    recurrence is integers — picoranks, units of 1e-12:

        R_0(v)    = 10^12 DIV N
        c(u)      = R_t(u) DIV deg(u)            per out-edge
        R_{t+1}(v)= (tn*10^12) DIV (td*N) + (dn * sum c) DIV dd

    with damping expressed as the exact rational dn/dd (0.85 = 17/20;
    `damping` must be exactly representable as Fraction(str(damping)),
    e.g. two decimal digits). Integer division truncates identically in
    every engine (operands are non-negative), bigint sums are
    order-independent exact, nothing overflows (17 * 10^12 << 2^63) —
    so the result is partition- and engine-exact BY CONSTRUCTION, and
    the unrolled SQL oracle replays it bit for bit. Floor drops leak
    <= (2N + E) * 1e-12 mass per iteration (immaterial for ranking;
    documented, not corrected). The final score is ONE double division
    R / 10^12 — correctly rounded, engine-identical.

    Scale: each iteration is one edge-keyed join + one groupBy on the
    destination — the Pregel shape. r9: the edge table and the degree
    table PERSIST (lazy, MEMORY_AND_DISK), edges pre-partitioned on the
    source key — without this, every iteration's plan re-expands the
    upstream pair-generation subtree (DataFrame self-references are
    duplicated, not CTE-reused), so the pair-generation join ran ~8x
    inside one 3-iteration action — immaterial for the fixture's cheap
    cosine pairs but catastrophic when pairs come from a 100 TB
    shingle join. The u-partitioned cache also feeds deg with no
    exchange and lets each iteration's edge join reuse one
    partitioning. Together with the fused zero-fill below, interleaved
    A/B at sf0.1: 1.64-1.75s -> 1.40-1.53s best, values identical.
    The loop still builds ONE lazy plan (fine for the 3-5 iterations
    centrality needs); at 100 TB checkpoint R_t per iteration like
    connected_components does. Cache lifecycle (r10, VERDICT r9 item
    5): the two persisted relations route through cache.scoped_persist
    — wrap the call plus its consuming actions in `with cache_scope():`
    to release them structurally at scope exit; outside a scope they
    live until unpersist/clearCache, the same deliberate index-is-a-
    table trade-off as bm25_topk's persisted tf index and the minhash
    shingle caches (the caller owns the session-level cache budget).
    Output (node_id, pagerank_fp [picoranks], pagerank [double]) for
    every node in the pair graph; isolated docs (no pairs) are absent
    by construction."""
    from fractions import Fraction

    frac = Fraction(str(damping))
    if frac.denominator > 1000:
        raise ValueError(
            f"damping must be a short exact decimal (got {damping}); "
            f"fixed-point PageRank needs an exact rational")
    dn, dd = frac.numerator, frac.denominator
    tfrac = Fraction(1) - frac
    tn, td = tfrac.numerator, tfrac.denominator
    scale = 10 ** 12
    from pyspark import StorageLevel

    # r11: both edge directions come from ONE pass over `pairs` via
    # explode(array(struct)) — the previous unionByName duplicated the
    # whole pair-generation subtree (DataFrame self-references are
    # duplicated, not CTE-reused), so the quadratic cosine scoring ran
    # once PER BRANCH in every cache fill (stage profile: two 64-task
    # scoring stages, 2.3s + 1.9s executor time at sf0.1 — the
    # dominant cost of dedup_pagerank_centrality). Same edge multiset,
    # so the integer recurrence and its oracle are untouched.
    edges = (pairs.select(F.explode(F.array(
                F.struct(F.col(id_a).alias("u"), F.col(id_b).alias("v")),
                F.struct(F.col(id_b).alias("u"), F.col(id_a).alias("v"))))
             .alias("e"))
             .select("e.u", "e.v")
             .repartition("u")
             # r12 (guide §2.4): cache the edges SORTED on the join key.
             # Each iteration's edges ⋈ r sort-merge join re-sorted the
             # cached o(E) relation from scratch (n_iter Sort nodes over
             # the same InMemoryTableScan in the r12 before-plan under the
             # bench config); with the cache built pre-sorted the scan's
             # outputOrdering satisfies every iteration's SMJ
             # requirement and the per-iteration sorts are elided. Row
             # order is not observable in any output (fixed-point sums
             # are order-independent). NOTE (measured r12): under AQE
             # the cached plan is wrapped in AdaptiveSparkPlanExec,
             # which reports UnknownPartitioning/no ordering to
             # consumers in Spark 4.1.2 — partitioning+ordering reuse
             # fires on AQE-off sessions (the documented micro-scale
             # calibration); AQE sessions instead rely on runtime
             # SMJ->BHJ conversion once the tiny r side materializes.
             .sortWithinPartitions("u"))
    edges = scoped_persist(edges, StorageLevel.MEMORY_AND_DISK)
    deg = scoped_persist(
        edges.groupBy("u").agg(F.count(F.lit(1)).alias("d")),
        StorageLevel.MEMORY_AND_DISK)
    nn = deg.agg(F.count(F.lit(1)).alias("nn"))
    # r11: r carries the node's out-degree `d` alongside the rank, so
    # each iteration joins edges to ONE small table instead of two
    # (edges JOIN r JOIN deg had the static deg re-joined onto the
    # EDGE-grain stream every iteration; attaching d when r is produced
    # moves that join to the node-grain table — strictly less work at
    # any scale, same arithmetic).
    r = (deg.crossJoin(F.broadcast(nn))
         .select("u", F.expr(f"CAST({scale} AS BIGINT) DIV nn")
                 .alias("r"), "d"))
    # r9 depth cut: zero-contribution nodes used to be restored with a
    # per-iteration LEFT JOIN of sums back onto the node list; unioning
    # one (v, 0) row per node INTO the contribution aggregate folds
    # that join into the groupBy exchange the iteration already pays —
    # same bigint sums (x + 0), one fewer join per iteration. The zero
    # rows read the persisted deg cache, not a recompute.
    zeros = deg.select(F.col("u").alias("v"),
                       F.lit(0).cast("long").alias("c"))
    for it in range(n_iter):
        contrib = (edges
                   .join(r, "u")
                   .select("v", F.expr("r DIV d").alias("c")))
        sums = (contrib.unionByName(zeros)
                .groupBy("v").agg(F.sum("c").alias("s")))
        r = (sums.crossJoin(F.broadcast(nn))
             .select(F.col("v").alias("u"), F.expr(
                 f"CAST({tn} AS BIGINT) * {scale} DIV ({td} * nn) "
                 f"+ CAST({dn} AS BIGINT) * s DIV {dd}")
                 .alias("r")))
        if it + 1 < n_iter:  # the final ranks never feed another DIV d
            r = r.join(deg, "u")
    return r.select(F.col("u").alias("node_id"),
                    F.col("r").alias("pagerank_fp"),
                    (F.col("r").cast("double") / F.lit(float(scale)))
                    .alias("pagerank"))


def triangle_counts(pairs: DataFrame, id_a: str = "id_a",
                    id_b: str = "id_b") -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected pair graph — the transitivity measure that separates
    tight duplicate cliques (near-1 coefficients: every pair agrees)
    from chain-shaped false-positive paths (near-0: A~B~C but A!~C,
    the banding-artifact shape worth re-verifying).

    The scalable formulation is the DEGREE-ORDERED orientation (Cohen,
    "Graph Twiddling in a MapReduce World", 2009): orient every edge
    from its lower-(degree, id) endpoint to the higher one, join
    oriented edges on the source to enumerate wedges, and close each
    wedge against the canonical edge set. Every triangle is counted
    exactly ONCE (at its minimum-(degree, id) vertex), and per-source
    fan-out is bounded by out-degree, which orientation caps at
    ~sqrt(m) even on skewed graphs — the whole reason this shape
    survives power-law degree distributions at 100 TB where a naive
    neighbor self-join is hub-quadratic. Three hash joins on ids, one
    explode, one groupBy; coefficient = 2T/(deg*(deg-1)) with a
    singleton guard, integer-exact until the one final division.

    Output: (id, degree, n_triangles, clustering_coef) — every vertex
    of the input graph represented, zero-triangle vertices included.
    """
    e = (pairs.select(F.least(id_a, id_b).alias("u"),
                      F.greatest(id_a, id_b).alias("v"))
         .filter(F.col("u") != F.col("v")).distinct())
    both = e.select(F.col("u").alias("id")).unionByName(
        e.select(F.col("v").alias("id")))
    deg = both.groupBy("id").agg(F.count(F.lit(1)).cast("long")
                                 .alias("degree"))
    du = deg.select(F.col("id").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | \
        ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = ed.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("t"))
    o1 = oriented.select("s", F.col("t").alias("t1"))
    o2 = oriented.select("s", F.col("t").alias("t2"))
    wedges = (o1.join(o2, "s").filter(F.col("t1") < F.col("t2")))
    tri = wedges.join(
        e.select(F.col("u").alias("t1"), F.col("v").alias("t2")),
        ["t1", "t2"])
    per_node = (tri.select(F.col("s").alias("id"))
                .unionByName(tri.select(F.col("t1").alias("id")))
                .unionByName(tri.select(F.col("t2").alias("id")))
                .groupBy("id").agg(F.count(F.lit(1)).cast("long")
                                   .alias("n_triangles")))
    return (deg.join(per_node, "id", "left")
            .select("id", "degree",
                    F.coalesce(F.col("n_triangles"), F.lit(0))
                     .cast("long").alias("n_triangles"),
                    F.when(F.col("degree") >= 2,
                           (2.0 * F.coalesce(F.col("n_triangles"),
                                             F.lit(0)).cast("double")) /
                           (F.col("degree") *
                            (F.col("degree") - 1)).cast("double"))
                     .otherwise(F.lit(0.0)).alias("clustering_coef")))


def jaccard_prefix_pairs(grams: DataFrame, id_col: str = "doc_id",
                         min_jaccard: float = 0.5) -> DataFrame:
    """Exact Jaccard pairs via PREFIX FILTERING (Chaudhuri et al. ICDE
    2006; PPJoin, Xiao et al. WWW 2008) — same output as
    `jaccard_pairs` (test-asserted), far fewer candidates: the exact
    set-similarity join that scales WITHOUT MinHash's probabilistic
    recall trade.

    Order every doc's shingles by global rarity (document frequency
    asc, shingle asc — a total order both engines reproduce); index
    only each doc's first p = s - ceil(t*s) + 1 shingles. Pigeonhole:
    two sets with Jaccard >= t overlap in > s - p elements, so their
    rarity-prefixes must share a shingle — joining prefix-to-prefix
    loses nothing, and prefixes concentrate in RARE shingles, so the
    join's per-key fan-out collapses exactly where the naive inverted
    index explodes (hot shingles land in nobody's prefix). A size
    filter (t*max_size <= min_size) prunes further before exact
    verification on collect_set arrays.

    All pigeonhole arithmetic is INTEGER-exact: t enters as its exact
    double rational num/den (`float.as_integer_ratio`), ceil(t*s) =
    (num*s + den - 1) div den — no float rounding can over-prune a
    boundary pair (a t*max float round-up could silently drop a pair
    with Jaccard == t). Shuffles: df count + per-doc rank window +
    prefix self-join (bounded) + array verify on candidates only.
    """
    num, den = float(min_jaccard).as_integer_ratio()
    # r11: FIVE plan branches read `grams` (sizes, dfr, the ranked join,
    # the verification sets, and the candidate semi-join) and DataFrame
    # self-references re-execute the upstream tokenize/shingle subtree
    # per branch (stage profile: four 32-task tokenize stages per
    # action). Persist it once — the same index-is-a-table posture as
    # the minhash shingle caches; scope-releasable via cache_scope().
    # Size-gated (cache.persist_if_heavy): the interleaved A/B read the
    # unconditional persist neutral-to-negative at sf0.1/sf1 (fill +
    # memory-store copy vs re-tokenizing 200 bounded docs on idle
    # cores), while at corpus scale the 5x re-tokenize is the waste.
    from pyspark import StorageLevel
    from ..cache import persist_if_heavy
    grams = persist_if_heavy(grams, StorageLevel.MEMORY_AND_DISK)
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    dfr = grams.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy("__df", "shingle")
    ranked = (grams.join(dfr, "shingle")
              .withColumn("__r", F.row_number().over(w)))
    pre = (ranked.join(sizes, id_col)
           .filter(F.col("__r") <=
                   F.col("sz") -
                   F.expr(f"({num}L * sz + {den - 1}L) div {den}L") + 1)
           .select(F.col(id_col), F.col("shingle")))
    a = pre.select(F.col(id_col).alias("id_a"), "shingle")
    b = pre.select(F.col(id_col).alias("id_b"), "shingle")
    sz_a = sizes.select(F.col(id_col).alias("id_a"),
                        F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"),
                        F.col("sz").alias("sz_b"))
    cand = (a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct()
            .join(F.broadcast(sz_a), "id_a")
            .join(F.broadcast(sz_b), "id_b")
            .filter(F.least("sz_a", "sz_b") * den >=
                    F.greatest("sz_a", "sz_b") * num)
            .select("id_a", "id_b"))
    docs_in = (cand.select(F.col("id_a").alias(id_col))
               .unionByName(cand.select(F.col("id_b").alias(id_col)))
               .distinct())
    sets = (grams.join(docs_in, id_col, "left_semi")
            .groupBy(id_col)
            .agg(F.collect_set("shingle").alias("__s"),
                 F.count(F.lit(1)).alias("sz")))
    va = sets.select(F.col(id_col).alias("id_a"),
                     F.col("__s").alias("__sa"), F.col("sz").alias("sz_a"))
    vb = sets.select(F.col(id_col).alias("id_b"),
                     F.col("__s").alias("__sb"), F.col("sz").alias("sz_b"))
    uni = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    ver = (cand.join(va, "id_a").join(vb, "id_b")
           .withColumn("inter",
                       F.size(F.array_intersect("__sa", "__sb"))
                        .cast("long"))
           .filter(_keep_ratio_ge(F.col("inter"), uni, min_jaccard))
           .withColumn("jaccard", ratio(F.col("inter"), uni, 4)))
    return ver.select("id_a", "id_b", "jaccard")
