"""The benchmark's own tests: generator determinism, checkers that reject
a corrupted output, and a tiny-input run of every workload.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench import check, gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _fh:
    SPEC = json.load(_fh)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generators_are_seed_deterministic(workload, tmp_path):
    fps = {}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.generate(workload, seed, str(tmp_path / name), scale=0.05)
        fps[name] = gen.fingerprint(str(tmp_path / name))
    assert fps["a"] == fps["b"]
    assert fps["a"] != fps["c"]


def test_iec_payload_is_a_function_of_seed_and_url():
    url = (f"{check.IEC_API}/api/v1/LGEBallotResults?ElectoralEventID=1091"
           "&ProvinceID=3&MunicipalityID=12&WardID=10012001")
    assert gen.iec_payload(1, url) == gen.iec_payload(1, url)
    assert gen.iec_payload(1, url) != gen.iec_payload(2, url)
    fetch = gen.IecFetcher(1, 0.0)
    assert json.loads(fetch(url)) == gen.iec_payload(1, url)


def test_csv_check_rejects_corrupted_output(tmp_path):
    data = str(tmp_path / "data")
    gen.generate("election_dashboard", 3, data, scale=0.05)
    expected = check.election_expected(data, 3)
    name = "voter_turnout"
    assert expected[name]
    header = check.HEADERS[name]

    def write(rows) -> str:
        path = str(tmp_path / f"{name}.csv")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(",".join(header) + "\n")
            fh.writelines(",".join(r) + "\n" for r in rows)
        return path

    assert check.check_csv(write(expected[name]), header, expected[name]) is None
    bad = list(expected[name])
    bad[0] = bad[0][:-1] + (str(int(bad[0][-1]) + 1),)
    assert "mismatch" in check.check_csv(write(bad), header, expected[name])
    assert "rowcount" in check.check_csv(write(bad[1:]), header, expected[name])


def test_oracle_check_rejects_corrupted_output(tmp_path):
    from sanef_election_dashboard_etl_spark.queries import REGISTRY

    data = str(tmp_path / "data")
    gen.generate("olap_relational", 3, data, scale=0.05)
    con = check.connect(data)
    oracle = REGISTRY["q1_pricing_summary"].oracle
    rel = con.sql(oracle)
    cols, rows = rel.columns, rel.fetchall()
    assert rows
    assert check.check_oracle(con, oracle, rows, cols) is None
    bad = [tuple(rows[0][:-1]) + ("corrupt",)] + rows[1:]
    assert check.check_oracle(con, oracle, bad, cols) == "value hash mismatch"
    assert "rowcount" in check.check_oracle(con, oracle, rows[1:], cols)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["election_dashboard", "olap_relational",
                                      "corpus_curation"])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(res["metrics"][m["name"]]["value"] > 0 for m in spec)
    else:
        layers = [m["name"] for m in spec if m["name"].startswith("self_ms.")]
        assert sum(res["metrics"][n]["value"] for n in layers) > 0


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for fn in os.listdir(os.path.join(ROOT, "perfbench")):
        src = os.path.join(ROOT, "perfbench", fn)
        if os.path.isfile(src):
            (bench / fn).write_bytes(open(src, "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "election_dashboard",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
