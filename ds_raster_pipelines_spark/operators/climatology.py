"""Climatology operators (SURVEY J1, S13): the FloodScan band merge and
multi-band baseline cube
(the reference's ``src/pipelines/floodscan_pipeline.py:369-411``).

The rolling mean, day-of-year climatology and ensemble mean (SURVEY
A5/A4/A1) are the registry's exact-cents queries ``window_rolling_centered``,
``doy_climatology`` and ``ensemble_mean``; the cube is persisted through
``sinks.write_cube_nc``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def band_merge(
    a: DataFrame, b: DataFrame, keys: list[str], how: str = "outer"
) -> DataFrame:
    """J1: multi-band coordinate merge — xr.merge of SFED/MFED rasters
    (floodscan_pipeline.py:369-378) as a full outer equi-join on the
    integer grid keys. On bucketed tables this is shuffle-free."""
    return a.join(b, keys, how)


def multiband_baseline(
    merged: DataFrame,
    band_cols: list[str],
    key_col: str = "cell_id",
    date_col: str = "date",
) -> DataFrame:
    """S13: the FloodScan baseline CUBE — per-(doy, cell) climatology of
    every band of the merged SFED+MFED table in one aggregate pass
    (floodscan_pipeline.py:405-410 persists exactly this multi-variable
    dataset). One shuffle on (doy, key); column per band, so the cube
    re-reads as a single coordinate-aligned table (the parquet analog of
    the reference's multi-variable NetCDF)."""
    aggs = []
    for b in band_cols:
        aggs += [
            F.avg(b).alias(f"{b}_baseline"),
            F.count(b).alias(f"{b}_n"),
        ]
    return merged.groupBy(
        F.dayofyear(F.col(date_col)).alias("doy"), key_col
    ).agg(*aggs)
