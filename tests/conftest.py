import json

import pytest

from sanef_election_dashboard_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def rows(df, *cols):
    """Sorted tuples for order-insensitive equality."""
    picked = df.select(*cols) if cols else df
    # None sorts first (stringified key) so NULL-bearing rows compare fine
    return sorted((tuple(r) for r in picked.collect()),
                  key=lambda t: tuple((v is not None, str(v)) for v in t))


def fake_fetcher_from_dict(responses: dict[str, dict]):
    """Deterministic offline REST fetcher: url -> JSON text of its fixture;
    an unknown url raises KeyError (surfacing in the row's `error`)."""

    def fetch(url: str) -> str:
        if url not in responses:
            raise KeyError(f"no fixture for {url}")
        return json.dumps(responses[url])

    return fetch
