"""S11: genuine zip-archive sources — build + member-explode over REAL
container bytes.

The reference's FloodScan feed delivers rolling 90-day zip archives; the
pipeline lists members, parses each member's date from its filename, and
selectively extracts only wanted dates (floodscan_pipeline.py:184-218).
The distributed analog: archives are rows of a binary column, and one
``mapInArrow`` kernel per task takes them from ``images.BlobBatch``,
parses the central directory, CRC-checks and extracts members, and emits
one relational row per member — after which member selection is ordinary
DataFrame semi-join logic, exactly like every other filter in the engine.

Scale notes: one archive blob is one Arrow element, so per-task memory is
bounded by (batch rows) x (largest archive); zip64-sized blobs are
rejected by the codec — at 100 TB an oversized archive must be re-sharded
upstream, not smuggled through a 4 GiB+ Arrow cell.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import corpus, ziparchive
from .images import BlobBatch


def build_monthly_archives(months: DataFrame, month_col: str = "m") -> DataFrame:
    """Deterministically synthesize one zip archive per month: a member
    per day named with the reference's compact-date grammar
    (``aer_sfed_area_300s_v{yyyyMMdd}_v05r01.tif``,
    floodscan_pipeline.py:50-52 / date_utils.py compact form), payload =
    the ISO date string repeated day-of-month times (content is a pure
    function of the member date, so a decompress/CRC bug shows up as a
    value divergence downstream).

    One archive per task row via applyInPandas — identical input months
    yield bit-identical archives (fixed header timestamps)."""


    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        out_a, out_b = [], []
        for m in pdf[month_col]:
            first = pd.Timestamp(m).normalize().replace(day=1)
            days = pd.date_range(first, first + pd.offsets.MonthEnd(0), freq="D")
            members = [
                (
                    f"aer_sfed_area_300s_v{d.strftime('%Y%m%d')}_v05r01.tif",
                    (d.strftime("%Y-%m-%d") * d.day).encode(),
                )
                for d in days
            ]
            out_a.append(first.strftime("%Y-%m"))
            out_b.append(ziparchive.encode_zip(members))
        return pd.DataFrame({"archive": out_a, "zip_bytes": out_b})

    # pandas frame on purpose: the member calendar is pandas date
    # arithmetic (Timestamp, date_range, MonthEnd) over one month per group
    return months.select(month_col).distinct().groupBy(month_col).applyInPandas(
        encode, schema="archive string, zip_bytes binary"
    )


def explode_zip_members(archives: DataFrame, verify_payload_date: bool = False) -> DataFrame:
    """One row per member of each ``(archive, zip_bytes)`` row: (archive,
    member_name, member_size), CRC-verified extraction through the
    from-scratch central-directory reader. With ``verify_payload_date``
    the kernel additionally asserts each member's decompressed payload
    begins with the ISO form of the date embedded in its filename —
    corrupt content fails the task instead of silently flowing on."""

    def members(blob) -> list[tuple[str, int]]:
        import re

        buf = bytes(blob)
        out = []
        for m in ziparchive.list_members(buf):
            payload = ziparchive.read_member(buf, m)  # CRC check
            if verify_payload_date:
                g = re.search(r"(\d{8})", m.name)
                iso = f"{g[1][:4]}-{g[1][4:6]}-{g[1][6:]}"
                if not payload.startswith(iso.encode()):
                    raise ValueError(f"payload/filename date mismatch in {m.name!r}")
            out.append((m.name, len(payload)))
        return out

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            per_archive = BlobBatch(b, "zip_bytes").map(members)
            owner = np.repeat(np.arange(b.num_rows), [len(m) for m in per_archive])
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("archive").take(pa.array(owner)),
                    pa.array([n for m in per_archive for n, _ in m], pa.string()),
                    pa.array([z for m in per_archive for _, z in m], pa.int64()),
                ],
                names=["archive", "member_name", "member_size"],
            )

    return archives.select("archive", "zip_bytes").mapInArrow(
        kernel, schema="archive string, member_name string, member_size long"
    )


def materialized_monthly_archives(spark, sf_dir: str) -> str:
    """Materialize the per-month zip corpus for ``sf_dir`` once and return
    its parquet path. Mirrors production (archives are STORED objects, not
    generated inline) and keeps archive-consuming queries at exactly ONE
    Python stage — the member-explode kernel (same rule as
    corpus.materialized_images: chaining generate→parse Arrow kernels
    ships the binary column across two JVM↔Python boundaries)."""
    return corpus.stored(
        corpus.sf_name(sf_dir, "_ziparch"),
        lambda p: build_monthly_archives(
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .select(F.date_trunc("month", "o_orderdate").alias("m"))
            .distinct()
        ).write.parquet(p),
    )
