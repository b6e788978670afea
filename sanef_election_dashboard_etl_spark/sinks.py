"""Sinks (SURVEY.md §2.1 S8/S9).

S8: the reference writes one timestamped CSV with pandas `to_csv`
(SANEF_Uploader.py:51-55). Dashboard results are small (at most tens of
thousands of rows) by construction, so `write_csv_single` collects the
result to the driver in one action and writes it with the stdlib CSV
writer: the same bytes as `to_csv(index=False)`, with no Spark write job
and no temporary directory. Large training extracts go through
`write_jsonl`, a distributed write.

S9: the dashboard upload (multipart POST, overwrite semantics, :57-64) is
a driver-side adapter *outside* the Spark plan; in streaming mode it is the
foreachBatch body (streaming/)."""

from __future__ import annotations

import csv
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame


def timestamped_name(prefix: str) -> str:
    """Reference filename scheme (SANEF_Uploader.py:51): ddMMyyyy-HHmm."""
    return f"{prefix}{datetime.now(timezone.utc).strftime('%d%m%Y-%H%M')}.csv"


def write_csv_single(df: DataFrame, path: str) -> str:
    """Small-result CSV sink with the reference's single-file contract
    (SANEF_Uploader.py:55: `to_csv(index=False)`). One action,
    `toArrow()`, collects the result in partition order, so a sorted
    frame stays sorted. The stdlib writer then produces pandas' quoting:
    QUOTE_MINIMAL, doubled quotes, NULL as an empty field. Values are
    written in their Python text form, as pandas writes them. Returns
    `path`."""
    table = df.toArrow()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", newline="", encoding="utf-8") as fh:
        out = csv.writer(fh, lineterminator="\n")
        out.writerow(table.column_names)
        out.writerows(zip(*(col.to_pylist() for col in table.columns)))
    return path


def multipart_form_bytes(data: bytes, filename: str, meta: dict,
                         boundary: str) -> bytes:
    """multipart/form-data body: one form part per meta field (booleans
    stringified 'True'/'False', matching requests' form encoding of the
    reference's payload dict) plus `data` as a named 'file' part
    (SANEF_Uploader.py:60-63)."""
    parts = []
    for k, v in meta.items():
        parts.append(
            (f"--{boundary}\r\n"
             f'Content-Disposition: form-data; name="{k}"\r\n\r\n'
             f"{v}\r\n").encode())
    parts.append(
        (f"--{boundary}\r\n"
         f'Content-Disposition: form-data; name="file"; '
         f'filename="{filename}"\r\n'
         f"Content-Type: text/csv\r\n\r\n").encode() + data + b"\r\n")
    parts.append(f"--{boundary}--\r\n".encode())
    return b"".join(parts)


def multipart_form(path: str, meta: dict, boundary: str) -> bytes:
    """multipart_form_bytes over a file on disk (the driver-side S9 path)."""
    with open(path, "rb") as fh:
        data = fh.read()
    return multipart_form_bytes(data, os.path.basename(path), meta, boundary)


def upload_http(path: str, endpoint: str, dataset_id: int, token: str,
                poster=None) -> dict:
    """S9 adapter: multipart POST of the written file to the dashboard API
    (SANEF_Uploader.py:57-64) — a 'file' part plus update/overwrite form
    fields, exactly the body shape requests.post(data=, files=) produces
    for the reference, which always posts
    {'update': True, 'overwrite': True} (SANEF_Uploader.py:61).
    `poster` is injectable for tests; default uses urllib so the engine
    adds no HTTP dependency."""
    url = f"{endpoint}/api/v1/datasets/{dataset_id}/upload/"
    meta = {"update": True, "overwrite": True}
    if poster is not None:
        return poster(url, path, meta, token)
    import urllib.request
    import uuid

    boundary = f"----spark-etl-{uuid.uuid4().hex}"
    body = multipart_form(path, meta, boundary)
    req = urllib.request.Request(
        url, data=body,
        headers={"Authorization": f"Token {token}",
                 "Content-Type": f"multipart/form-data; boundary={boundary}"})
    with urllib.request.urlopen(req, timeout=60) as resp:  # noqa: S310
        return {"status": resp.status}


def write_jsonl(df, path: str, n_files: int | None = None) -> None:
    """Export as JSONL (one JSON object per line) — the training-data
    interchange format consumers (tokenizer pipelines, data loaders)
    read directly. A plain distributed `.json()` write: every partition
    streams its own file, no driver funnel (the single-file CSV is a
    dashboard-upload contract; training export wants many files).
    `n_files` round-robin-repartitions for even file sizes (one narrow
    exchange — use it when upstream partitioning is skewed)."""
    w = df.repartition(n_files) if n_files else df
    w.write.mode("overwrite").json(path)
