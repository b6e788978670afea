"""Cross-engine-deterministic numeric aggregation helpers.

Floating-point SUM is order-dependent: Spark's partial/final hash aggregate
adds doubles in a different order than a single-threaded engine, so raw
`SUM(double)` will differ from the DuckDB oracle in the last ulps and fail a
value-hash comparison. The engine-wide convention is therefore:

    aggregate doubles through DECIMAL (exact, order-independent), then cast
    the exact result back to double.

`CAST(x AS DECIMAL(18,2))` of the *same* input double is deterministic in
both engines (ties at .xx5 would need the binary double to be exactly on the
boundary, which is unrepresentable), the decimal SUM is exact, and the final
decimal->double cast is the IEEE-nearest double of the same exact value in
both engines. Derived ratios divide two already-identical doubles, which is
again bit-identical. Mirrors: `ROUND(CAST(SUM(CAST(x AS DECIMAL(18,2))) AS
DOUBLE), 2)` on the oracle side.

This also holds at 100 TB: decimal aggregation is whole-stage-codegen'd and
partial-aggregated map-side exactly like double sums.

ROUNDING RULE (sf1-surfaced, r4): the no-op-round argument above only holds
when the round scale EQUALS the decimal scale. When the sum's scale exceeds
the displayed scale (e.g. SUM(DECIMAL(18,4)) rounded to cents), the exact
sum regularly lands on .xx50 — and rounding that tie AFTER the double cast
diverges between engines (Spark rounds the double's exact binary expansion
HALF_UP; DuckDB rounds via value*100 float arithmetic). Two of 148 queries
failed exactly this way at 6M rows (q7/q9, SF1.md). Therefore: round in
the DECIMAL domain, cast to double after —
    Spark : F.round(F.sum(x.cast("decimal(18,4)")), 2).cast("double")
    oracle: CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), 2) AS DOUBLE)
Both engines round decimal ties half-away-from-zero (probe-verified
positive and negative), so the cents value is identical by construction.

CAST RULE (sf1-surfaced, r5): a DECIMAL -> DOUBLE cast is bit-identical
cross-engine ONLY while the decimal's SCALED INTEGER fits in 2^53.
Spark casts via BigDecimal.doubleValue() (one correctly-rounded step);
DuckDB computes (double)int128 / 10^scale — TWO roundings that diverge
once the int128 itself needs rounding to double. profile_embedding_drift
hit this with a (38,12) sum whose scaled integer was ~2.4e16: d2 values
agreed decimal-exactly, the CASTS disagreed in the last ulp. Therefore:
before any decimal->double cast, ROUND in the decimal domain to a scale
where |value| * 10^scale < 2^53 (~9e15). All scale<=6 money/score sums
here are safely inside the bound; audit any decimal with scale >= 9.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def davg_units(su: Column, n: Column, in_scale: int = 0,
               out_scale: int = 4) -> Column:
    """TIE RULE template (r6/r7): exact-integer mean from an ALREADY-EXACT
    bigint sum `su` in 10^-in_scale units plus a count `n`, rounded
    half-away-from-zero at out_scale with no double touching the value
    before the final error-free division (see davg below for why).

    Shared by davg (post-aggregation), q1's avg_qty (mean over an
    existing long sum — no second decimal aggregate needed), and
    agg_incremental_merge's mergeable numerator/denominator mean
    (ADVICE r6: one template, no hand-rolled copies to drift).

    GUARD (ADVICE r6): exactness of the final double division requires
    the dividend 2*|su*10^k| + d < 2^53 — beyond that the long->double
    hop silently loses bits and the cross-engine bit-identity breaks
    with no signal (e.g. sum(l_quantity)*2e4 at ~sf1000). The bound is
    now ENFORCED with raise_error: out-of-headroom fails loudly instead
    of drifting. Cost is one post-aggregation branch per GROUP, not per
    row."""
    up = 10 ** max(0, out_scale - in_scale)
    down = 10 ** max(0, in_scale - out_scale)
    s2 = su * F.lit(up)
    d = n * F.lit(down)
    num = F.abs(s2) * 2 + d
    den = d * 2
    # exact floor division on longs: subtract the remainder, then the
    # double division of an exact multiple below 2^53 is error-free
    q = num - num % den
    # NULL su (SUM over zero rows) passes through as NULL, like SUM.
    # Guard soundness under non-ANSI Spark (ADVICE r8 + r9 review): an
    # int64 overflow WRAPS instead of raising there, and a DOUBLE wrap
    # can land back in [0, 2^53), so neither q < 2^53 nor q >= 0 alone
    # is sound. PRE-MULTIPLY bounds close the wrap class on BOTH
    # operands (ADVICE r9: su_ok alone left d = n*10^(in-out) able to
    # wrap under a huge count with in_scale >> out_scale — a
    # wrapped-small-positive d could land q back in [0, 2^53) with a
    # silently wrong mean): |su|*up*2 and n*down*2 each stay < 2^53 by
    # construction, so no product wraps; the q checks then bound the
    # +d tail.
    su_ok = F.abs(su) < F.lit(2 ** 53 // (2 * up))
    n_ok = n < F.lit(2 ** 53 // (2 * down))
    mu = F.when(
        su.isNull() | (su_ok & n_ok & (q >= F.lit(0)) & (q < F.lit(2 ** 53))),
        (q / den).cast("long")
    ).otherwise(F.raise_error(F.lit(
        "davg exactness bound exceeded: 2*|sum_units| + count >= 2^53; "
        "reduce out_scale or pre-aggregate (functions/numeric.py GUARD)")))
    mu = F.when(s2 < 0, -mu).otherwise(mu)
    return mu.cast("double") / F.lit(float(10 ** out_scale))


def davg(c: ColumnOrName, scale: int = 2, out_scale: int = 4,
         precision: int = 18) -> Column:
    """Order-independent mean, rounded at out_scale in EXACT INTEGER
    arithmetic (r6 TIE RULE — the sf0.1 full-registry sweep caught the
    old round(double_quotient) form splitting the engines): when the
    exact quotient sum/count lands ON a half at digit out_scale+1
    (e.g. 0.616992/192 = 0.0032135 exactly), the double quotient is
    0.0032134999... and Spark's exact-expansion HALF_UP rounds DOWN
    while DuckDB's scaled round goes UP. No double may touch the value
    before the final division:

        su  = sum(decimal(x, scale)) * 10^scale          -- exact units
        d   = count * 10^max(0, scale-out_scale)
        s2  = su * 10^max(0, out_scale-scale)
        mu  = sign(s2) * ((2*|s2| + d) DIV (2*d))        -- half-AWAY
        out = mu / 10^out_scale                          -- exact / pow10

    Every step is bigint-exact (callers keep |su| and 2|s2|+d under
    2^53 — fixture sums are far below); the one double division at the
    end divides exact integers and is IEEE-identical cross-engine.
    Oracle mirror (scale=6, out_scale=4 shown):

        CAST(CASE WHEN su >= 0 THEN (2*su + d) // (2*d)
                  ELSE -((-2*su + d) // (2*d)) END AS DOUBLE) / 10000.0
        -- su = CAST(SUM(CAST(x AS DECIMAL(18,6))) * 1000000 AS BIGINT)
        -- d  = COUNT(*) * 100

    Half-away-from-zero matches both engines' ROUND semantics for the
    non-tie values the old form produced, so previously-green entries
    keep their values; only true ties (where the engines disagreed)
    move — to the decimal-correct answer.

    COST NOTE (r7, q1 postmortem): pick `precision` as SMALL as the
    row values allow. Spark's SUM(decimal(p,s)) accumulator is
    decimal(p+10, s): at p<=8 it stays int64-backed inside the hash
    aggregate; at the default p=18 it widens to decimal(28,s) —
    Int128/BigDecimal-backed, measurably slower per row. Values are
    unaffected (the double->decimal cast rounds identically at any
    covering precision; out-of-range rows fail loudly under ANSI
    instead of silently truncating)."""
    dec = _col(c).cast(f"decimal({precision},{scale})")
    su = (F.sum(dec) * F.lit(10 ** scale)).cast("long")
    return davg_units(su, F.count(F.lit(1)), in_scale=scale,
                      out_scale=out_scale)


def ratio(num: ColumnOrName, den: ColumnOrName, out_scale: int = 4) -> Column:
    """Deterministic ratio of two exact INTEGER-VALUED columns (den > 0
    by caller contract; NULL when den = 0), rounded half-away-from-zero
    in exact integer arithmetic. r7: was ROUND(double/double, s) — for
    integer inputs the exact rational CAN land on a half at the round
    digit (e.g. 1/16 at scale 4), the same engine-splitting tie class
    davg/dratio_units retired for means and ratio-of-sums. Mirror with
    queries._dratio_units_sql."""
    n, d = _col(num), _col(den)
    return F.when(d == 0, F.lit(None).cast("double")).otherwise(
        lratio_units(n, d, out_scale=out_scale))


def lratio_units(nu: Column, du: Column, out_scale: int = 4,
                 mult: int = 1) -> Column:
    """LONG fast path of dratio_units for PER-ROW bounded integer
    quotients (r8 bench postmortem): dratio_units' decimal(38,0) ops are
    Int128/BigDecimal-backed — fine per GROUP post-aggregation, but the
    r8 migration routed PER-PAIR jaccard/containment and PER-DOC token
    ratios through it and the dedup/text bench rows regressed 20-45%
    (dedup_jaccard_prefix 0.52->0.68s at sf0.1). This variant runs the
    identical half-away-from-zero integer round on primitive longs
    (whole-stage codegen), exactly like davg_units:

        mu  = sign(nu) * ((2*|nu|*mult*10^s + du) DIV (2*du))
        out = mu / 10^s            -- error-free: exact multiple < 2^53

    Values are identical to dratio_units by construction (same exact
    integer quotient), so oracle mirrors (_dratio_units_sql) need no
    change. Caller contract: nu/du integer-valued, du > 0, and
    2*|nu|*mult*10^s + du < 2^53 — counts per doc/pair/group up to
    ~4.6e14/mult/10^s. The bound is ENFORCED (raise_error, davg GUARD
    discipline); ANSI mode additionally fails loudly on any long
    overflow before the check. Use dratio_units for ratio-of-sums whose
    numerators can exceed the bound (money-volume shares at large sf)."""
    a = F.abs(nu).cast("long") * F.lit(mult * 10 ** out_scale)
    num = a * 2 + du.cast("long")
    den = du.cast("long") * 2
    q = num - num % den
    # Guard soundness under non-ANSI Spark (ADVICE r8 + r9 review):
    # wraps don't raise there, and a DOUBLE wrap of the multiply can
    # land q back in [0, 2^53) — so the sound check is the PRE-MULTIPLY
    # bound on |nu| (below it, a*2 < 2^53 and nothing wraps); the q
    # checks then bound the +du tail.
    nu_ok = F.abs(nu).cast("long") < \
        F.lit(2 ** 53 // (2 * mult * 10 ** out_scale))
    mu = F.when(
        nu.isNull() | du.isNull()
        | (nu_ok & (q >= F.lit(0)) & (q < F.lit(2 ** 53))),
        (q / den).cast("long")
    ).otherwise(F.raise_error(F.lit(
        "lratio exactness bound exceeded: 2*|num|*mult*10^scale + den >= "
        "2^53; use dratio_units (functions/numeric.py lratio_units)")))
    mu = F.when(nu < 0, -mu).otherwise(mu)
    return mu.cast("double") / F.lit(float(10 ** out_scale))


def dratio_units(nu: Column, du: Column, out_scale: int = 4,
                 mult: int = 1) -> Column:
    """Exact half-away-from-zero ratio mult*nu/du at out_scale (r7):
    retires the ROUND(double/double, s) quotient form for INTEGER-EXACT
    numerator/denominator pairs (q8 market share, q14 promo pct — the
    same tie class davg killed for means: a quotient landing exactly on
    a half at the round digit is unrepresentable in double and the
    engines' ROUND implementations split).

    Unlike davg_units (long arithmetic, exact only under 2^53), this
    runs the integer round in decimal(38,0): numerators up to ~1e33
    stay exact, so volume-sum ratios survive any scale factor. All ops
    (cast, multiply, %, subtract, divide-of-an-exact-multiple) are
    decimal-exact in both engines; the final cast to long is of a value
    <= mult*10^out_scale (a share/percentage), trivially < 2^53. Cost
    is per GROUP, post-aggregation. nu/du must be integer-valued
    columns in the SAME units (the units cancel); du > 0.

    DuckDB mirror (nu >= 0, mult=100, out_scale=4 shown):
        CAST((2 * nu * 100 * 10000 + du) // (2 * du) AS DOUBLE) / 10000.0
    with nu/du the scaled-integer sums as HUGEINT/BIGINT."""
    n38 = "decimal(38,0)"
    a = F.abs(nu.cast(n38)) * F.lit(mult * 10 ** out_scale).cast(n38)
    d = du.cast(n38)
    num = a * 2 + d
    den = d * 2
    # (num - num % den) is an exact multiple of den, so the decimal
    # division yields the exact integer quotient at any result scale
    mu = ((num - num % den) / den).cast("long")
    mu = F.when(nu < 0, -mu).otherwise(mu)
    return mu.cast("double") / F.lit(float(10 ** out_scale))


def sum_units(c: ColumnOrName, scale: int, precision: int = 12) -> Column:
    """Exact bigint sum in 10^-scale units — the FAST PATH for decimal-
    exact double aggregation (r7, q1 postmortem).

    `SUM(decimal)` with a >int64 accumulator (input precision > 8) runs
    the hash aggregate on Int128/BigDecimal updates; converting each row
    to its scaled integer FIRST keeps the whole aggregate on primitive
    longs (whole-stage codegen, map-side combine untouched). Measured on
    the q1 shape at sf0.1: decimal(18,4) product sum 0.602s -> 0.394s
    with sums bit-identical (per-row decimal cast semantics preserved —
    the double->decimal rounding point is the SAME cast as before; the
    units multiply decimal(p,s) * decimal(d,0) stays <= precision 18 so
    every step is long-backed and exact).

    Caller contract: |x| < 10^(precision-scale) per row (ANSI mode makes
    an overflow LOUD, not silent), and precision + digits(10^scale) + 1
    <= 18 so the per-row multiply stays long-backed — the default
    (12, scale<=4) covers money/score columns with 10^8 headroom.
    The sum itself is validated by the 2^53 guard at the point the
    units become a double (units_to_double / davg_units)."""
    dec = _col(c).cast(f"decimal({precision},{scale})")
    mul = F.lit(10 ** scale).cast(f"decimal({len(str(10 ** scale))},0)")
    assert precision + len(str(10 ** scale)) + 1 <= 18, \
        "per-row units multiply would leave the int64-backed domain"
    return F.sum((dec * mul).cast("long"))


def units_to_double(su: Column, in_scale: int, out_scale: int) -> Column:
    """Exact bigint units -> ROUND(value, out_scale) as DOUBLE, rounding
    half-away-from-zero in pure integer arithmetic (TIE RULE form), with
    the same 2^53 loud guard as davg_units. Mirrors the oracle's
    `CAST(ROUND(SUM(CAST(x AS DECIMAL(p,in_scale))), out_scale) AS
    DOUBLE)` bit-identically: the integer half-away round equals the
    decimal-domain ROUND, and the final division of exact integers is
    the same correctly-rounded double as the decimal->double cast."""
    if out_scale > in_scale:
        raise ValueError("units_to_double only rounds DOWN in scale")
    if out_scale == in_scale:
        q = F.abs(su)
        den = 1
    else:
        den = 10 ** (in_scale - out_scale)
        num = F.abs(su) * 2 + den
        q = ((num - num % (2 * den)) / (2 * den)).cast("long")
    # NULL su (SUM over zero rows) passes through as NULL, like SUM
    q = F.when(
        su.isNull() | (F.abs(su) < F.lit(2 ** 52)), q
    ).otherwise(F.raise_error(F.lit(
        "units_to_double exactness bound exceeded: |sum_units| >= 2^52; "
        "reduce scale or pre-aggregate (functions/numeric.py GUARD)")))
    signed = F.when(su < 0, -q).otherwise(q)
    return signed.cast("double") / F.lit(float(10 ** out_scale))
