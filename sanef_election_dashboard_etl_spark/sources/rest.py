"""REST JSON source (SURVEY.md §2.1 S6/S7).

The reference fetches one JSON document per ward/municipality with an
asyncio fan-out on the driver (SANEF_Uploader.py:38-48, :443, :573). The
engine turns that into *executor* parallelism: a DataFrame of request
params is partitioned across the cluster and each partition's rows are
fetched inside `mapInPandas` (Arrow-batched in/out), then parsed with an
explicit `from_json` schema — never schemaless duck-typing (:78-84).

Inside each partition the requests overlap, as the reference's
`asyncio.gather` did: a thread pool runs the fetcher, at most
`MAX_IN_FLIGHT` requests at once over all fetch partitions
(`max(1, MAX_IN_FLIGHT // n)` threads in each of `n` tasks), and rows
keep their input order. The fetcher is therefore called from several
threads at once and must be thread-safe. `bearer_fetcher` opens a new
`urllib` connection per call (nothing is pooled or kept alive between
URLs).

Every caller passes its fetcher, so tests (and the offline fixtures)
substitute a deterministic local function for the network call —
SURVEY.md §7 risk (a).
Error semantics: each URL's failure surfaces in that row's `error` column
with a NULL payload, never silently swallowed (the reference
prints-and-drops at :43-46, :377-379; SURVEY.md §5.2 non-goal)."""

from __future__ import annotations

from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

Fetcher = Callable[[str], str]

# Requests in flight at once over all fetch partitions (aiohttp's default
# connector, which the reference used, allows 100 connections).
MAX_IN_FLIGHT = 64


def bearer_fetcher(token: str) -> Fetcher:
    """Authenticated fetcher: every request carries
    ``Authorization: Bearer <token>`` (SANEF_Uploader.py:29, :41). The
    closure ships the token to executors; stdlib only, and every call
    opens its own `urllib` connection."""
    import urllib.request

    def fetch(url: str) -> str:
        req = urllib.request.Request(
            url, headers={"Authorization": f"Bearer {token}"})
        with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
            return resp.read().decode("utf-8")

    return fetch


def fetch_json(params: DataFrame, url_col: str, payload_schema: StructType,
               fetcher: Fetcher,
               parallelism: int | None = None) -> DataFrame:
    """Fan-out fetch: params (one row per request) -> (params..., payload).

    Repartitions the request table into `parallelism` tasks (default: the
    context's default parallelism) so fetches spread across all executor
    slots, and each task runs its URLs on `max(1, MAX_IN_FLIGHT // n)`
    threads, so `fetcher` must be thread-safe. The pool lives for one
    partition. Parses with the declared schema. Output columns: all param
    columns + `payload` (struct) + `error`, in input order per partition;
    a URL whose fetch raised has a NULL payload and its error text.
    """
    n = parallelism or params.sparkSession.sparkContext.defaultParallelism
    threads = max(1, MAX_IN_FLIGHT // n)
    cols = params.columns

    def attempt(url: str) -> tuple[str | None, str | None]:
        try:
            return fetcher(url), None
        except Exception as exc:  # surface, don't swallow
            return None, f"{type(exc).__name__}: {exc}"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with ThreadPoolExecutor(max_workers=threads) as pool:
            for pdf in batches:
                results = list(pool.map(attempt, pdf[url_col]))
                out = pdf.copy()
                out["__raw"] = [raw for raw, _ in results]
                out["error"] = [err for _, err in results]
                yield out

    raw_schema = ", ".join(f"`{c}` {params.schema[c].dataType.simpleString()}"
                           for c in cols)
    fetched = params.repartition(n).mapInPandas(
        run, schema=f"{raw_schema}, __raw string, error string")
    return (fetched
            .withColumn("payload", F.from_json("__raw", payload_schema))
            .drop("__raw"))


@dataclass(frozen=True)
class RestSource:
    """Declarative spec for a keyed REST endpoint (the IEC API shape):
    url_template.format(key) fetched per key row."""

    url_template: str
    payload_schema: StructType
    fetcher: Fetcher

    def fetch(self, keys: DataFrame, key_col: str) -> DataFrame:
        params = keys.withColumn(
            "__url", F.format_string(self.url_template.replace("{}", "%s"),
                                     F.col(key_col).cast("string")))
        out = fetch_json(params, "__url", self.payload_schema, self.fetcher)
        return out.drop("__url")
