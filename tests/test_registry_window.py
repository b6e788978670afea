"""Registry contract: REGISTRY keeps registration order, every rows-only
entry names an oracle-checked sibling, rows-only outputs stay driver-canon
safe, and band oracles are well formed."""

import builtins
import importlib
import re
import subprocess

import sanef_election_dashboard_etl_spark.queries as queries
from sanef_election_dashboard_etl_spark.queries import REGISTRY


def test_registry_order_is_registration_order(monkeypatch):
    """REGISTRY is the @query registration order, a reload rebuilds the
    same order, and importing the module starts no subprocess and reads
    no CORRECTNESS_r*.json record."""
    with open(queries.__file__) as fh:
        expected = re.findall(r'^@query\("([^"]+)"', fh.read(), re.M)
    assert list(queries.REGISTRY) == expected

    # record rather than raise: an import-time caller could swallow it
    started, opened = [], []
    real_open = builtins.open

    def no_subprocess(*args, **kwargs):
        started.append(args)
        raise OSError("no subprocess at import")

    def recording_open(file, *args, **kwargs):
        opened.append(str(file))
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(subprocess, "run", no_subprocess)
    monkeypatch.setattr(subprocess, "Popen", no_subprocess)
    monkeypatch.setattr(builtins, "open", recording_open)
    importlib.reload(queries)
    monkeypatch.undo()
    assert list(queries.REGISTRY) == expected
    assert not started, f"import started subprocesses: {started}"
    assert not [f for f in opened if "CORRECTNESS_r" in f], opened


def test_rows_only_entries_name_sibling():
    """CLAUDE.md rule, machine-checked (VERDICT r4 item 6): every
    rows-only registry entry (oracle=None) names an EXISTING,
    oracle-checked sibling via the @query sibling= field, and no
    oracle-checked entry carries a dangling sibling tag."""
    rows_only = {n: q for n, q in REGISTRY.items() if q.oracle is None}
    assert rows_only, "expected some rows-only entries"
    for name, q in rows_only.items():
        assert q.sibling, f"{name}: rows-only entry must name a sibling"
        assert q.sibling in REGISTRY, f"{name}: sibling {q.sibling} unknown"
        assert REGISTRY[q.sibling].oracle is not None, \
            f"{name}: sibling {q.sibling} is not oracle-checked"
    for name, q in REGISTRY.items():
        if q.oracle is not None:
            assert q.sibling is None, \
                f"{name}: oracle-checked entries don't carry sibling="


def test_rows_only_outputs_are_driver_canon_safe(spark):
    """Driver canon contract (r8 postmortem, VERDICT r8 item 2): the
    driver's rows-only canonicalizer pandas-sorts ALL columns, so a
    top-level array/map/struct cell (unhashable under factorize) turns
    a correct answer into a driver-RED row — exactly how
    text_bpe_tokenize errored in the r8 window. Machine-check the
    contract at plan-build time: no oracle-less entry may expose a
    complex top-level column (array_join / to_json the surface in the
    registry entry; keep the rich type on the operator API)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    sf_dir = "/root/testdata/sf0.001"
    offenders = {}
    for name, q in REGISTRY.items():
        if q.oracle is not None:
            continue
        schema = q.fn(spark, sf_dir).schema
        bad = [f.name for f in schema.fields
               if isinstance(f.dataType, (ArrayType, MapType, StructType))]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        f"rows-only entries with driver-unhashable columns: {offenders}")


def test_band_oracle_entries_are_well_formed():
    """r8 (VERDICT r7 item 6): tolerance oracles ride ON TOP of the
    rows-only+sibling contract — a band entry still has oracle=None and
    a hash-matched sibling of record, and band_eps is a real bound."""
    banded = {n: q for n, q in REGISTRY.items() if q.band_oracle is not None}
    assert banded, "expected the sketch entries to carry band oracles"
    for name, q in banded.items():
        assert q.oracle is None, f"{name}: band oracles are for rows-only"
        assert q.sibling in REGISTRY, f"{name}: band entry needs a sibling"
        assert 0.0 < q.band_eps <= 0.10, f"{name}: band_eps out of range"
    for name, q in REGISTRY.items():
        if q.band_oracle is None:
            assert q.band_eps == 0.0, f"{name}: eps without band oracle"
