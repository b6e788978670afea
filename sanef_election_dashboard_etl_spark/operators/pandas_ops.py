"""The Arrow UDF tiers (SURVEY.md §2.11): scalar pandas_udf, grouped-map
applyInPandas, iterator mapInPandas.

The engine's rule is "UDFs are the slow path" — everything in the
reference's surface stayed in native expressions. These operators exist for
the cases built-ins genuinely cannot express (learned scorers, per-group
model fits) and demonstrate each tier with a real, tested computation:

- `tokens_per_char` (scalar pandas_udf): Series -> Series, Arrow-batched,
  vectorized numpy inside — the shape any custom scorer plugs into.
- `zscore_by_group_exact` (applyInPandas): per-group normalization, the
  grouped-map tier — one shuffle on the group key, pandas frame per group.
- mapInPandas lives in sources/rest.py and operators/multimodal.py (I/O
  and decode — the iterator tier's natural home).

Scale notes: scalar UDFs are narrow (no shuffle, pipeline with codegen
stages); applyInPandas shuffles once on the group key and each group must
fit in one task's memory — bounded groups only (per-user, per-ward), never
whole-table groups.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


@F.pandas_udf(DoubleType())
def tokens_per_char(text: pd.Series) -> pd.Series:
    """Scalar Arrow UDF: whitespace-token count / char count (0.0 for
    empty), rounded half-away-from-zero at 1e-6 in EXACT int64
    arithmetic (r8, RATIO RULE: the old raw-quotient + F.round(…, 6)
    pair was a double round of an integer ratio — the engine-splitting
    tie class; 2*n*10^6 + d stays far under int64 for any real doc).
    Vectorized pandas ops; one Arrow batch in, one out."""
    n_tokens = text.str.split().str.len().fillna(0).astype("int64")
    n_chars = text.str.len().fillna(0).clip(lower=1).astype("int64")
    units = (2 * n_tokens * 10 ** 6 + n_chars) // (2 * n_chars)
    return (units / float(10 ** 6)).astype("float64")


def zscore_by_group_exact(df: DataFrame, group_col: str, units_col: str,
                          in_scale: int = 2, var_scale: int = 6,
                          out_col: str = "zscore") -> DataFrame:
    """Grouped-map tier, CROSS-ENGINE-DETERMINISTIC (r7, VERDICT
    r6 item 5): per-group z-score computed from EXACT integer units, so
    a DuckDB oracle reproduces it bit-identically with no final ROUND.

    A float z-score rounds a quotient of order-dependent
    float aggregates — the exact failure class the TIE RULE exists for
    (a digit-4 near-tie splits the engines; same family as the davg tie
    the sf0.1 sweep surfaced in r6). Here every step up to the last two
    IEEE ops is integer-exact:

        u         : value scaled to 10^-in_scale units (cast to decimal
                    THEN long in SPARK, before the UDF — the one rounding
                    point, shared verbatim with the oracle)
        m2        = n*sum(u^2) - su^2          (exact python ints)
        var_units = rnd_half_away(m2 * 10^var_scale / (10^(2*in_scale) * n^2))
        std       = sqrt(var_units / 10^var_scale)   (IEEE, identical)
        z         = (u*n - su) / ((10^in_scale * n) * std)

    All integers stay exact (python arbitrary precision for m2; u*n - su
    fits int64 by caller contract |u| < 2^31); var_units < 2^53 so its
    int->double conversion is exact in both engines; sqrt and the final
    division are single correctly-rounded IEEE ops. std == 0 groups
    (var_units == 0) yield 0.0.

    Scale: one shuffle on the group key, groups must fit a task."""
    fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                       for f in df.schema.fields)
    schema = f"{fields}, `{out_col}` double"
    base = float(10 ** in_scale)
    vs = 10 ** var_scale
    den_pow = 10 ** (2 * in_scale)

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        u = pdf[units_col]
        n = len(u)
        su = int(u.sum())
        # arbitrary-precision squared sum (ADVICE r7): the int64
        # reduction (u*u).sum() wraps silently once n*u^2 nears 2^63 —
        # the DuckDB mirror accumulates in HUGEINT, so the pandas side
        # must be exact too, not merely fixture-safe
        squ = int(u.astype(object).pow(2).sum())
        m2 = n * squ - su * su
        nn = n * n * den_pow
        var_units = (2 * m2 * vs + nn) // (2 * nn)
        if var_units >= 2 ** 53:  # loud, like davg_units/units_to_double
            raise ValueError(
                f"zscore_by_group_exact: var_units {var_units} >= 2^53 — "
                f"the int->double conversion would stop being exact; "
                f"lower var_scale or in_scale")
        if var_units == 0:
            pdf[out_col] = 0.0
            return pdf
        # math.sqrt is the IEEE-754 correctly-rounded sqrt (python pow
        # 0.5 is not guaranteed to be); DuckDB's sqrt() is libm's, also
        # correctly rounded -> identical doubles from identical inputs
        import math
        std = math.sqrt(var_units / float(vs))
        dev = (u * n - su).astype("float64")
        pdf[out_col] = dev / ((base * n) * std)
        return pdf

    return df.groupBy(group_col).applyInPandas(norm, schema=schema)


@F.udtf(returnType="chunk_index int, chunk_text string, n_tokens int")
class ChunkDocument:
    """Python UDTF tier (SURVEY §2.11, pyspark-4 table functions): split
    one document into fixed-size token chunks — the context-window
    chunking step of a RAG/pretraining pipeline, and the one UDF shape
    where one input row legitimately becomes MANY output rows through a
    user function (explode handles static arrays; a UDTF carries
    per-row generation logic). Used via LATERAL join:

        SELECT d.doc_id, c.* FROM docs d, LATERAL chunk_document(d.text, 8) c

    Scale: row-local (no shuffle), pipelines after the scan like any
    generator; chunking that a fixed expression can state (as here)
    should prefer the native sequence/slice form — this class is the
    TIER demonstration and the plug point for tokenizer-aware logic."""

    def eval(self, text: str, size: int):
        if text is None or not text.strip():
            return
        toks = text.split()
        for i in range(0, len(toks), size):
            chunk = toks[i:i + size]
            yield i // size, " ".join(chunk), len(chunk)
