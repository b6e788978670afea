"""Persisted-intermediate lifecycle hygiene (VERDICT r9 item 5).

Several operators persist an intermediate because their plan reads it
more than once per action (the minhash gram/signature tables, the
PageRank edge/degree caches, BM25's inverted index, IVF centroids...).
That is the production architecture — an index is a table — but by
default those MEMORY_AND_DISK residents live until `clearCache()`, so
a long-lived session composing many operators accumulates them. This
module makes the cleanup structural instead of caller's-problem:

    from sanef_election_dashboard_etl_spark.cache import cache_scope

    with cache_scope():
        top = bm25_topk(docs, queries)       # persists its tf index
        top.write.parquet(...)               # action runs INSIDE scope
    # <- every persist taken inside the scope is now released

Every operator persist routes through `scoped_persist`: outside any
scope it behaves exactly like `.persist(...)` (index reuse across
actions keeps working — the 100 TB posture), inside a scope the
DataFrame is registered and unpersisted (blocking) at scope exit,
innermost scope first. Scopes nest; each persist belongs to the
innermost active scope. Thread-local, so parallel driver threads
don't release each other's caches.

Contract: run the actions that consume the operator's result inside
the scope. Unpersisting only drops the cached blocks — a DataFrame
that escapes the scope stays correct (InMemoryTableScan recomputes
missing partitions) but loses the reuse the persist existed for.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_LOCAL = threading.local()


def _scopes() -> list[list[DataFrame]]:
    st = getattr(_LOCAL, "scopes", None)
    if st is None:
        st = _LOCAL.scopes = []
    return st


def scoped_persist(df: DataFrame, level=None) -> DataFrame:
    """`df.persist(level)` that registers with the innermost active
    `cache_scope()` (no-op registration when none is active)."""
    df = df.persist(level) if level is not None else df.persist()
    st = _scopes()
    if st:
        st[-1].append(df)
    return df


def persist_if_heavy(df: DataFrame, level=None,
                     min_bytes: int = 256 << 20) -> DataFrame:
    """`scoped_persist` gated on the estimated SOURCE size (r11) — for
    intermediates read by several plan branches where the re-computed
    subtree is cheap at fixture scale but corpus-linear at production
    scale (the Jaccard/PPJoin shingle tables: 4-5 branches re-execute
    the tokenize+explode subtree per action).

    Interleaved A/Bs measured the unconditional persist NEUTRAL to
    slightly NEGATIVE at sf0.1/sf1 (the fill + memory-store copy costs
    more than re-running a 200-doc tokenize on otherwise-idle cores),
    while at 100 TB re-tokenizing the corpus per branch is the
    dominant waste — so the gate mirrors catalog.spread_cpu_scan's
    input-bytes estimator: persist only when the scanned source
    exceeds `min_bytes`. Non-file-backed plans (literals, streams)
    persist unconditionally — their size is unknowable and the persist
    is the safe default."""
    from .catalog import input_bytes

    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file-sourced plan
        return scoped_persist(df, level)
    if not files:  # literals/streams report no files — size unknowable
        return scoped_persist(df, level)
    # input_bytes stats every file on every call (no memo), so a table
    # rewritten in place is sized again
    total = input_bytes(files)
    if total is None:  # remote store / vanished file: assume heavy
        return scoped_persist(df, level)
    if total < min_bytes:
        return df
    return scoped_persist(df, level)


@contextmanager
def cache_scope():
    """Release every operator persist taken inside the block at exit.

    Yields the (mutable) list of registered DataFrames, mostly for
    tests/debugging. Unpersist is blocking so `getPersistentRDDs` is
    deterministic immediately after the block; exceptions inside the
    block still release the scope's caches.
    """
    scope: list[DataFrame] = []
    _scopes().append(scope)
    try:
        yield scope
    finally:
        _scopes().pop()
        for df in reversed(scope):
            try:
                df.unpersist(blocking=True)
            except Exception:  # noqa: BLE001 — a stopped session must
                pass           # not mask the caller's own exception
