"""Declarative retrieval requests → Catalyst-prunable scans (SURVEY §2 S7/S8).

The reference talks to MARS/CDS with imperative request dicts
(``seas5_pipeline.py:56-75``: date list, leadtime months, area bbox, grid)
and downloads whatever comes back. The Spark-first inversion: the request
is a DECLARATIVE SPEC compiled into

  1. relational predicates on an existing table — all of which Catalyst
     pushes into the parquet/Iceberg scan (date range, leadtime set,
     bbox as a cell-prefilter + exact coordinate range), and
  2. the EXPECTED-partition DataFrame (dates x leadtimes), which drives
     coverage/backfill via the anti-join (operators/coverage.py) and the
     remote fetch manifest (sources/remote.py) for objects not yet local.

So "query the archive API" becomes "prune the lakehouse scan; fetch only
the anti-join remainder" — at 100 TB the pushed predicates mean the
pruned data is never read, not merely filtered.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import grid


@dataclass(frozen=True)
class RequestSpec:
    """MARS/CDS-shaped retrieval request (seas5_pipeline.py:56-75)."""

    date_start: str  # inclusive ISO date
    date_end: str  # inclusive ISO date
    leadtimes: tuple[int, ...] = (1, 2, 3)
    bbox: tuple[float, float, float, float] | None = None  # W, S, E, N
    grid_res: int = 6  # cell res for the bbox prefilter
    extra: dict = field(default_factory=dict)  # param/levtype/... passthrough


def request_predicates(
    spec: RequestSpec,
    date_col: str,
    leadtime_col: str | None = None,
    lon_col: str | None = None,
    lat_col: str | None = None,
):
    """Compile the spec to a single pushable boolean Column."""
    pred = F.col(date_col).between(
        F.lit(spec.date_start).cast("date"), F.lit(spec.date_end).cast("date")
    )
    if leadtime_col is not None:
        pred = pred & F.col(leadtime_col).isin(list(spec.leadtimes))
    if spec.bbox is not None and lon_col is not None and lat_col is not None:
        w, s, e, n = spec.bbox
        pred = (
            pred
            & F.col(lon_col).between(F.lit(w), F.lit(e))
            & F.col(lat_col).between(F.lit(s), F.lit(n))
        )
    return pred


def pruned_scan(
    df: DataFrame,
    spec: RequestSpec,
    date_col: str,
    leadtime_col: str | None = None,
    lon_col: str | None = None,
    lat_col: str | None = None,
    cell_col: str | None = None,
) -> DataFrame:
    """Apply the spec's predicates; if the table carries a precomputed
    ``cell_col`` (Iceberg layout), prepend the coarse bbox cell-prefilter
    so partition pruning, not row filtering, removes the bulk."""
    if spec.bbox is not None and cell_col is not None and cell_col in df.columns:
        w, s, e, n = spec.bbox
        df = df.where(grid.cell_isin(cell_col, grid.cover_rect_np(w, s, e, n, spec.grid_res)))
    return df.where(request_predicates(spec, date_col, leadtime_col, lon_col, lat_col))


def expected_partitions(spark: SparkSession, spec: RequestSpec) -> DataFrame:
    """(date, leadtime) grid the request promises — the coverage spec the
    backfill anti-join runs against (pipeline.py:173-213)."""
    days = (
        dt.date.fromisoformat(spec.date_end) - dt.date.fromisoformat(spec.date_start)
    ).days
    dates = spark.range(0, days + 1).select(
        F.date_add(F.lit(spec.date_start).cast("date"), F.col("id").cast("int")).alias("date")
    )
    import pandas as pd

    lt = spark.createDataFrame(
        pd.DataFrame({"leadtime": list(spec.leadtimes)}), "leadtime int"
    )
    return dates.crossJoin(F.broadcast(lt))


# re-exported for callers that want the bare cell list (e.g. manifests)
__all__ = ["RequestSpec", "request_predicates", "pruned_scan", "expected_partitions", "grid"]
