"""Pluggable remote blob sources (SURVEY §2 S5 HTTP / S6 S3 / S9 Azure).

The reference fetches inputs imperatively on one node (HTTP GET in
``imerg_pipeline.py:63-70``, API download in ``seas5_pipeline.py:47-51``,
Azure blob up/down in ``azure_utils.py:27-123``). The Spark-first shape is
different: ingestion is a DATAFRAME PROBLEM —

    manifest(ref string, ...)  →  fetch_blobs(manifest, fetcher)
                               →  blobs(ref, bytes, n_bytes, status, err)

The fetch runs inside ``mapInPandas`` so a 1e6-object manifest downloads
with partition-level parallelism, bounded by ``concurrency`` (repartition
count = max in-flight fetchers — the polite-to-the-origin rate knob), with
per-ref status captured as DATA rather than raised, so one dead object
does not kill a 12-hour ingest. Failed refs are re-driven by the coverage
anti-join (operators/coverage.py missing_dates / streaming/incremental.py
pending_partitions) — fetch, like every other stage, is resumable.

This sandbox has no network, so the shipped fetchers are:

* ``file_fetcher``  — local paths / file:// (REAL, used by tests; also the
                      correct adapter for any mounted object store).
* ``http_fetcher``  — stdlib urllib GET with bounded retry/backoff; real
                      code, exercised only where the cluster has egress.
* S3/Azure         — for COLUMNAR data do NOT route bytes through Python:
                      ``spark.read.parquet("s3a://...")`` (or abfss://)
                      lets the JVM connectors stream + prune natively.
                      This layer is for OPAQUE payloads (zips, GRIBs,
                      API responses) only; plug a boto3/azure SDK callable
                      in as ``fetcher`` where those SDKs exist.

A fetcher is any ``Callable[[str], bytes]`` — inject credentials/session
via closure; it is constructed INSIDE the task (pass a factory) when the
client is not picklable.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

FETCH_SCHEMA = "ref string, bytes binary, n_bytes bigint, status string, err string"

Fetcher = Callable[[str], bytes]


def file_fetcher(ref: str) -> bytes:
    """Local filesystem / file:// adapter (real in every environment)."""
    path = ref[7:] if ref.startswith("file://") else ref
    with open(path, "rb") as f:
        return f.read()


def http_fetcher(ref: str, timeout: float = 30.0) -> bytes:
    """Stdlib HTTP(S) GET (imerg_pipeline.py:63-70 analog). No external
    deps; raises on non-2xx so the retry wrapper sees it."""
    import urllib.request

    with urllib.request.urlopen(ref, timeout=timeout) as resp:  # noqa: S310
        return resp.read()


def with_retry(fetcher: Fetcher, attempts: int = 3, backoff_s: float = 1.0) -> Fetcher:
    """Bounded deterministic retry/backoff wrapper (backoff_s * 2^k)."""

    def wrapped(ref: str) -> bytes:
        last: Exception | None = None
        for k in range(attempts):
            try:
                return fetcher(ref)
            except Exception as e:  # noqa: BLE001 — captured, re-raised after retries
                last = e
                if k + 1 < attempts:
                    time.sleep(backoff_s * (2**k))
        raise last  # type: ignore[misc]

    return wrapped


def fetch_blobs(
    manifest: DataFrame,
    fetcher: Fetcher | None = None,
    fetcher_factory: Callable[[], Fetcher] | None = None,
    ref_col: str = "ref",
    concurrency: int | None = None,
) -> DataFrame:
    """Distributed blob fetch: manifest of refs → (ref, bytes, status).

    ``concurrency`` bounds in-flight fetchers via the partition count
    (default: cluster parallelism). Errors become rows
    (status='error', bytes=NULL), never task failures — rerun the
    manifest anti-joined on status='ok' refs to resume.
    """
    if (fetcher is None) == (fetcher_factory is None):
        raise ValueError("pass exactly one of fetcher / fetcher_factory")
    n = concurrency or manifest.sparkSession.sparkContext.defaultParallelism
    refs = manifest.select(ref_col).repartition(n, ref_col)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        f = fetcher if fetcher is not None else fetcher_factory()
        for pdf in batches:
            out = {"ref": [], "bytes": [], "n_bytes": [], "status": [], "err": []}
            for ref in pdf[ref_col]:
                try:
                    blob = f(ref)
                    out["bytes"].append(blob)
                    out["n_bytes"].append(len(blob))
                    out["status"].append("ok")
                    out["err"].append(None)
                except Exception as e:  # noqa: BLE001 — error-as-data by design
                    out["bytes"].append(None)
                    out["n_bytes"].append(0)
                    out["status"].append("error")
                    out["err"].append(f"{type(e).__name__}: {e}")
                out["ref"].append(ref)
            yield pd.DataFrame(out)

    # pandas frame on purpose: the input is refs, not blobs, and the batch
    # is bound by fetch I/O; a failed fetch becomes an error row
    return refs.mapInPandas(kernel, schema=FETCH_SCHEMA)


# ------------------------------------------------------- ranged fetchers ---

RangeFetcher = Callable[[str, int, int], bytes]


def file_range_fetcher(ref: str, offset: int, length: int) -> bytes:
    """Seek+read adapter — local files / any mounted store."""
    path = ref[7:] if ref.startswith("file://") else ref
    with open(path, "rb") as f:
        f.seek(offset)
        return f.read(length)


def http_range_fetcher(ref: str, offset: int, length: int, timeout: float = 30.0) -> bytes:
    """HTTP Range GET (bytes=offset-end) — the transport COGs are designed
    for: a 206 returns exactly the requested window, so reading one
    overview of a 100 GB remote raster moves kilobytes. Stdlib only; real
    code, exercised where the cluster has egress (sandbox has none)."""
    import urllib.request

    req = urllib.request.Request(ref, headers={"Range": f"bytes={offset}-{offset + length - 1}"})
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return r.read()


def ranged(fetch: RangeFetcher, ref: str):
    """Bind a ref: (offset, length) -> bytes closure for the COG partial
    reader (tiff.decode_tif_overview_ranged)."""
    return lambda offset, length: fetch(ref, offset, length)
