"""Seeded input generators for the three benchmark workloads.

Every table is a pure function of (seed, scale): the same seed writes
byte-identical parquet/CSV files, a different seed different ones
(`fingerprint` hashes a generated directory to prove it). Generators
only write below the directory they are given.

- `election`: the reference's dimension CSVs (Wards 4,468 rows, Munis
  257 rows at scale 1) plus the seven fact tables `cli.run_pipeline`
  reads, spanning three electoral events. The IEC REST payloads are not
  files: `iec_payload` derives each one from (seed, url), so the
  executor-side fetcher and the checker build identical payloads.
- `relational`: TPC-H-shaped tables with the value domains of the
  repository's sf0.1 fixture (600k lineitem, 150k orders at scale 1),
  built from a seed-drawn key salt and row permutation. The
  olap_relational workload adds a small corpus (`olap`) for its one
  persisting operation.
- `corpus`: `documents` (5,000 docs over the fixture's 30-word
  vocabulary, with seeded near-duplicate clusters) and `embeddings`
  (2,000 64-d float vectors around 10 label centroids), redrawn from the
  same seed while a text_bm25_topk score is a rounding half-tie.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from urllib.parse import parse_qs, urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EE_ID = 1091           # cli.run_pipeline default electoral event
DELIM_ID = 78          # cli.run_pipeline default delimitation
EVENTS = (EE_ID, 1000, 402)
N_PARTIES = 30
BM25_REDRAWS = 20      # corpus draws per seed before giving up (corpus)


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng(
        [seed, int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")])


def _write_parquet(out_dir: str, name: str, cols: dict) -> int:
    tbl = pa.table(cols)
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")
    return tbl.num_rows


def _write_csv(out_dir: str, name: str, header: list[str], rows) -> int:
    n = 0
    with open(os.path.join(out_dir, name), "w", encoding="utf-8") as fh:
        fh.write(",".join(header) + "\n")
        for r in rows:
            fh.write(",".join(str(v) for v in r) + "\n")
            n += 1
    return n


def _repeat_ids(rng, ids, lo: int, hi: int):
    """Each id repeated a seeded lo..hi-1 times (a one-to-many child key)."""
    counts = rng.integers(lo, hi, size=len(ids))
    return np.repeat(ids, counts)


# --------------------------------------------------------------------------
# election_dashboard
# --------------------------------------------------------------------------


def election(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """Write Wards.csv, Munis.csv and the fact parquet tables; return
    {table: rows}."""
    rng = _rng(seed, "election")
    n_munis = max(9, int(257 * scale))
    n_wards = max(n_munis, int(4468 * scale))
    rows: dict[str, int] = {}

    muni_ids = np.arange(1, n_munis + 1) + int(rng.integers(0, 1000))
    muni_prov = rng.permutation(np.arange(n_munis) % 9 + 1)
    muni_type = rng.integers(1, 4, size=n_munis)
    prov_of = dict(zip(muni_ids.tolist(), muni_prov.tolist()))
    rows["Munis.csv"] = _write_csv(
        out_dir, "Munis.csv",
        ["ProvinceID", "MunicipalityID", "Municipality", "MunicipalityName",
         "MunicTypeID"],
        ((p, m, f"M{m}", f"Municipality {m}", t)
         for m, p, t in zip(muni_ids.tolist(), muni_prov.tolist(),
                            muni_type.tolist())))

    ward_muni = np.concatenate([muni_ids,
                                rng.choice(muni_ids, n_wards - n_munis)])
    ward_muni = ward_muni[rng.permutation(n_wards)]
    seq: dict[int, int] = {}
    ward_ids = []
    for m in ward_muni.tolist():
        seq[m] = seq.get(m, 0) + 1
        ward_ids.append(10_000_000 + m * 1000 + seq[m])
    ward_ids = np.array(ward_ids, dtype=np.int64)
    rows["Wards.csv"] = _write_csv(
        out_dir, "Wards.csv", ["ProvinceID", "MunicipalityID", "WardID"],
        ((prov_of[m], m, w) for m, w in zip(ward_muni.tolist(),
                                            ward_ids.tolist())))

    party_ids = np.arange(1, N_PARTIES + 1, dtype=np.int64)
    rows["PCR_Party"] = _write_parquet(out_dir, "PCR_Party", {
        "pklPartyID": party_ids,
        "sPartyName": [f"Party {p:02d}" for p in party_ids.tolist()],
        "sPartyAbbr": [f"P{p}" for p in party_ids.tolist()],
    })

    ev_m = np.repeat(np.array(EVENTS, dtype=np.int32), n_munis)
    rows["LED_GIS_CouncilWinners"] = _write_parquet(
        out_dir, "LED_GIS_CouncilWinners", {
            "pklCouncilWinnerID": np.arange(len(ev_m), dtype=np.int64),
            "fklEEID": ev_m,
            "fklMunicipalityID": np.tile(muni_ids, len(EVENTS)).astype(np.int32),
            "fklPartyID": rng.integers(1, N_PARTIES + 1, size=len(ev_m)).astype(np.int32),
            "bHung": (rng.random(len(ev_m)) < 0.2).astype(np.int32),
        })

    vd_ward = _repeat_ids(rng, ward_ids, 2, 9)
    vd_ids = 5_000_000 + rng.permutation(len(vd_ward)).astype(np.int64)
    other = rng.random(len(vd_ward)) < 0.3
    rows["EE_VotingDistricts"] = _write_parquet(out_dir, "EE_VotingDistricts", {
        "pkfklDelimID": np.concatenate([np.full(len(vd_ward), DELIM_ID),
                                        np.full(int(other.sum()), DELIM_ID - 1)]
                                       ).astype(np.int32),
        "fklWardId": np.concatenate([vd_ward, vd_ward[other]]),
        "fklVotingDistrict": np.concatenate([vd_ids, vd_ids[other]]),
    })

    n_vd = len(vd_ward)
    ev_vd = np.repeat(np.array(EVENTS, dtype=np.int32), n_vd)
    cast = rng.integers(50, 3000, size=len(ev_vd))
    # ~1.5% zero-vote districts in the target event: their wards are the
    # "unfinished" ones completed_wards anti-joins away
    cast[:n_vd][rng.random(n_vd) < 0.015] = 0
    rows["LED_GIS_Display_VotingDistrict"] = _write_parquet(
        out_dir, "LED_GIS_Display_VotingDistrict", {
            "fklEEId": ev_vd,
            "fklWardId": np.tile(vd_ward, len(EVENTS)),
            "fklVotingDistrict": np.tile(vd_ids, len(EVENTS)),
            "lTotalVotesCast": cast.astype(np.int64),
        })
    reg = rng.integers(500, 5000, size=len(ev_vd))
    rows["Fact_LGE_Master_VDStats"] = _write_parquet(
        out_dir, "Fact_LGE_Master_VDStats", {
            "pkfklEEID": ev_vd,
            "fklWardID": np.tile(vd_ward, len(EVENTS)),
            "fklVotingDistrict": np.tile(vd_ids, len(EVENTS)),
            "lRegisteredVoters": reg.astype(np.int64),
            "lVoterTurnout": (reg * rng.random(len(reg))).astype(np.int64),
        })

    ev_w = np.repeat(np.array(EVENTS, dtype=np.int32), n_wards)
    counts = rng.integers(3, 11, size=len(ev_w))
    wr_ward = np.repeat(np.tile(ward_ids, len(EVENTS)), counts)
    wr_ev = np.repeat(ev_w, counts)
    rows["LED_GIS_Display_Ward"] = _write_parquet(out_dir, "LED_GIS_Display_Ward", {
        "fklEEId": wr_ev,
        "fklWardId": wr_ward,
        "WardID": wr_ward,
        "PartyName": [f"Party {p:02d}" for p in
                      rng.integers(1, N_PARTIES + 1, size=len(wr_ward)).tolist()],
        "Votes": rng.integers(0, 5000, size=len(wr_ward)).astype(np.int64),
    })
    counts = rng.integers(2, 7, size=len(ev_w))
    wc_ward = np.repeat(np.tile(ward_ids, len(EVENTS)), counts)
    wc_ev = np.repeat(ev_w, counts)
    rows["LED_GIS_Display_Ward_WardCandidates"] = _write_parquet(
        out_dir, "LED_GIS_Display_Ward_WardCandidates", {
            "fklEEId": wc_ev,
            "fklWardId": wc_ward,
            "WardID": wc_ward,
            "PartyName": [f"Party {p:02d}" for p in
                          rng.integers(1, N_PARTIES + 1, size=len(wc_ward)).tolist()],
            "CandidateName": [f"Candidate {c}" for c in
                              rng.integers(0, 10**6, size=len(wc_ward)).tolist()],
            "Votes": rng.integers(0, 5000, size=len(wc_ward)).astype(np.int64),
        })
    return rows


def iec_payload(seed: int, url: str):
    """The IEC API's JSON body for one request, a pure function of
    (seed, url) shaped like plans.pipelines BALLOT_SCHEMA,
    COUNCILLOR_SCHEMA or SEAT_SCHEMA by the endpoint path."""
    parts = urlsplit(url)
    qs = {k: v[0] for k, v in parse_qs(parts.query).items()}
    r = random.Random(f"{seed}|{url}")
    if parts.path.endswith("/LGEBallotResults"):
        return {"WardID": qs["WardID"], "PartyBallotResults": [
            {"Name": f"Party {r.randrange(1, N_PARTIES + 1):02d}",
             "TotalValidVotes": r.randrange(0, 5000)}
            for _ in range(r.randrange(3, 11))]}
    if parts.path.endswith("/CouncilorsByEvent"):
        # several councillor rows per ward: the pipeline's keep-first
        # dedup has real work to do
        wards = [10_000_000 + r.randrange(10**6) for _ in range(150)]
        return [{"WardID": str(r.choice(wards)),
                 "Name": f"Councillor {r.randrange(10**6)}",
                 "PartyName": f"Party {r.randrange(1, N_PARTIES + 1):02d}"}
                for _ in range(r.randrange(300, 400))]
    if parts.path.endswith("/LGESeatCalculationResults"):
        return {"MunicipalityID": int(qs["MunicipalityID"]), "PartyResults": [
            {"Name": f"Party {r.randrange(1, N_PARTIES + 1):02d}",
             "WardSeats": r.randrange(0, 30), "PRSeats": r.randrange(0, 30)}
            for _ in range(r.randrange(2, 9))]}
    raise KeyError(f"no IEC endpoint for {url}")


def payload_rows(body) -> int:
    """Entries in one payload (party results, councillors or seats)."""
    if isinstance(body, list):
        return len(body)
    return len(body.get("PartyBallotResults") or body.get("PartyResults") or ())


class IecFetcher:
    """Deterministic stand-in for the IEC API, injected into RestSource.

    Each request sleeps a fixed `service_s` (the recorded per-request
    service time) and returns `iec_payload(seed, url)`. When `acc` is a
    (calls, ms, rows) triple of Spark accumulators, every request adds
    to it from the executor side."""

    def __init__(self, seed: int, service_s: float, acc=None):
        self.seed = seed
        self.service_s = service_s
        self.acc = acc

    def __call__(self, url: str) -> str:
        t0 = time.perf_counter()
        time.sleep(self.service_s)
        body = iec_payload(self.seed, url)
        text = json.dumps(body)
        if self.acc is not None:
            calls, ms, rows = self.acc
            calls.add(1)
            rows.add(payload_rows(body))
            ms.add((time.perf_counter() - t0) * 1000.0)
        return text


# --------------------------------------------------------------------------
# olap_relational
# --------------------------------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "SMALL", "MEDIUM", "ECONOMY", "STANDARD", "PROMO"]
PART_WORDS = ["large", "hot", "blue", "green", "ring", "bolt", "nut", "gear"]
EPOCH_1995_US = 788_918_400 * 1_000_000
DAY_US = 86_400 * 1_000_000


def _permuted(rng, cols: dict) -> dict:
    n = len(next(iter(cols.values())))
    order = rng.permutation(n)
    return {k: (np.asarray(v)[order] if not isinstance(v, list)
                else [v[i] for i in order.tolist()]) for k, v in cols.items()}


def _money(rng, lo: float, hi: float, n: int):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100.0, 2)


def relational(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    rng = _rng(seed, "relational")
    n_cust = max(100, int(15000 * scale))
    n_supp = max(20, int(1000 * scale))
    n_part = max(100, int(20000 * scale))
    n_ord = max(500, int(150000 * scale))
    salt = int(rng.integers(1, 1000)) * 1_000_000
    rows: dict[str, int] = {}

    def choice(vals: list[str], n: int) -> list[str]:
        return [vals[i] for i in rng.integers(0, len(vals), size=n).tolist()]

    rows["region"] = _write_parquet(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    rows["nation"] = _write_parquet(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    cust = salt + np.arange(n_cust, dtype=np.int64)
    rows["customer"] = _write_parquet(out_dir, "customer", _permuted(rng, {
        "c_custkey": cust,
        "c_name": [f"Customer#{k:012d}" for k in cust.tolist()],
        "c_nationkey": rng.integers(0, 25, size=n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": choice(SEGMENTS, n_cust)}))
    supp = salt + np.arange(n_supp, dtype=np.int64)
    rows["supplier"] = _write_parquet(out_dir, "supplier", _permuted(rng, {
        "s_suppkey": supp,
        "s_name": [f"Supplier#{k:012d}" for k in supp.tolist()],
        "s_nationkey": rng.integers(0, 25, size=n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}))
    part = salt + np.arange(n_part, dtype=np.int64)
    w1, w2 = choice(PART_WORDS, n_part), choice(PART_WORDS, n_part)
    rows["part"] = _write_parquet(out_dir, "part", _permuted(rng, {
        "p_partkey": part,
        "p_name": [f"{a} {b}" for a, b in zip(w1, w2)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part).tolist()],
        "p_type": choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, size=n_part).astype(np.int32),
        "p_retailprice": _money(rng, 900.0, 2000.0, n_part)}))

    okeys = salt + np.arange(n_ord, dtype=np.int64)
    odate = EPOCH_1995_US + rng.integers(0, 2404, size=n_ord) * DAY_US
    rows["orders"] = _write_parquet(out_dir, "orders", _permuted(rng, {
        "o_orderkey": okeys,
        "o_custkey": rng.choice(cust, n_ord),
        "o_orderstatus": choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": choice(PRIORITIES, n_ord)}))
    counts = rng.integers(1, 8, size=n_ord)
    n_li = int(counts.sum())
    starts = np.repeat(np.cumsum(counts) - counts, counts)
    ship = np.repeat(odate, counts) + rng.integers(1, 122, size=n_li) * DAY_US
    rows["lineitem"] = _write_parquet(out_dir, "lineitem", _permuted(rng, {
        "l_orderkey": np.repeat(okeys, counts),
        "l_partkey": rng.choice(part, n_li),
        "l_suppkey": rng.choice(supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, size=n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": choice(["A", "N", "R"], n_li),
        "l_linestatus": choice(["O", "F"], n_li),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))}))
    return rows


# --------------------------------------------------------------------------
# corpus_curation
# --------------------------------------------------------------------------

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "en", "zh", "de", "fr", "es"]


def corpus(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """`documents` and `embeddings`. The tables are redrawn, from the same
    seed, while text_bm25_topk would meet a rounding half-tie
    (`bm25_half_ties`), so every seed gives a corpus the check passes."""
    for attempt in range(BM25_REDRAWS):
        rows = _corpus(_rng(seed, f"corpus/{attempt}" if attempt else "corpus"),
                       out_dir, scale)
        if not bm25_half_ties(out_dir):
            return rows
    raise RuntimeError(f"seed {seed}: {BM25_REDRAWS} corpora all meet a BM25 half-tie")


def bm25_half_ties(out_dir: str) -> int:
    """Scores among each text_bm25_topk query's ten best whose exact
    DECIMAL(38,6) sum lies halfway between two 4-decimal values. The
    package rounds that sum half-up, the DuckDB oracle rounds its DOUBLE
    cast (seed 41 at scale 0.1: 1.36895 gives 1.369 against 1.3689), so
    such a score fails the output check. That disagreement is the
    package's; the benchmark only keeps its inputs clear of it."""
    import duckdb

    from sanef_election_dashboard_etl_spark.queries import REGISTRY

    sql = REGISTRY["text_bm25_topk"].oracle
    score = "ROUND(CAST(SUM(c) AS DOUBLE), 4) + 0.0 AS score"
    final = "SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, score"
    if score not in sql or final not in sql:
        raise RuntimeError("text_bm25_topk's oracle changed; update bm25_half_ties")
    sql = sql.replace(score, f"{score}, SUM(c) AS exact").replace(
        final, "SELECT count(*)").replace(
        "WHERE rank <= 5", "WHERE rank <= 10 AND exact * 10000 - floor(exact * 10000) = 0.5")
    con = duckdb.connect()
    try:
        path = os.path.join(out_dir, "documents.parquet").replace("'", "''")
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        return con.sql(sql).fetchone()[0]
    finally:
        con.close()


def _corpus(rng: np.random.Generator, out_dir: str, scale: float) -> dict[str, int]:
    n_docs = max(400, int(5000 * scale))
    n_vec = max(400, int(2000 * scale))
    rows: dict[str, int] = {}
    docs: list[list[str]] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 0 and u < 0.08:
            # near-duplicate of a recent document: 1-2 token edits + marker
            toks = list(docs[int(rng.integers(max(0, i - 40), i))])
            for _ in range(int(rng.integers(1, 3))):
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, 30))]
            toks.append("dup")
        elif i > 0 and u < 0.085:
            toks = list(docs[int(rng.integers(0, i))])
        else:
            toks = [VOCAB[j] for j in rng.integers(0, 30, size=int(rng.integers(10, 101))).tolist()]
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    rows["documents"] = _write_parquet(out_dir, "documents", _permuted(rng, {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), size=n_docs).tolist()],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)}))

    labels = rng.integers(0, 10, size=n_vec)
    centroids = rng.normal(size=(10, 64))
    vecs = (centroids[labels] + 1.2 * rng.normal(size=(n_vec, 64))).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_vec * 64 + 1, 64, dtype=np.int32)),
        pa.array(vecs.reshape(-1), pa.float32()))
    order = rng.permutation(n_vec)
    rows["embeddings"] = _write_parquet(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64)[order],
        "embedding": emb.take(pa.array(order)),
        "label": labels.astype(np.int32)[order]})
    return rows


def olap(seed: int, out_dir: str, scale: float = 1.0) -> dict[str, int]:
    """`relational` plus a 500-document corpus (400 at small scales) for
    text_bm25_topk, which reads documents 0-299."""
    rows = relational(seed, out_dir, scale)
    rows.update(corpus(seed, out_dir, 0.1 * min(scale, 1.0)))
    return rows


GENERATORS = {"election_dashboard": election, "olap_relational": olap,
              "corpus_curation": corpus}


def generate(workload: str, seed: int, out_dir: str,
             scale: float = 1.0) -> dict[str, int]:
    """Write `workload`'s inputs for `seed` into the empty-or-new
    `out_dir`; return {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    return GENERATORS[workload](seed, out_dir, scale)


def fingerprint(out_dir: str) -> str:
    """sha256 over every generated file's name and bytes."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
