"""The flagship plan as the driver builds it: JVM round trips per plan, the
partition-prune list, the pushed scan filter, the broadcasts left in the
final plans of the flagship and the zonal kernel, and results on a stored
pcell corpus against closed forms of the tile ids."""

from __future__ import annotations

import gc
import re
import time

import numpy as np
import pytest

from ds_raster_pipelines_spark import corpus, grid
from ds_raster_pipelines_spark.operators.pip import (
    _points_in_rings,
    cover_cells_driver,
    cover_local_pdf,
)
from ds_raster_pipelines_spark.operators.raster import zonal_pixel_stats, zonal_value_histogram
from ds_raster_pipelines_spark.plans.flagship import FLAGSHIP_RES, flagship

N_TILES = 6000


@pytest.fixture(scope="module")
def tiles(spark, tmp_path_factory):
    """A corpus stored the way the flagship reads it: with a pcell column."""
    path = str(tmp_path_factory.mktemp("plan_build") / "tiles")
    ids = spark.range(0, N_TILES, 1, 4).withColumnRenamed("id", "i")
    corpus._write_corpus(ids, path, n_rows=N_TILES)
    return path


def _drain_py4j_deletes(spark) -> None:
    """Let Python free unreachable JVM proxies and wait until their delete
    commands (sent from py4j's finalizer thread) have gone out."""
    gc.collect()
    pending = spark.sparkContext._gateway._gateway_client.finalizer_deque
    deadline = time.time() + 5
    while pending and time.time() < deadline:
        time.sleep(0.01)
    time.sleep(0.1)


def test_flagship_plan_build_py4j_budget(spark, tiles, monkeypatch):
    """Building the flagship plan takes under two hundred Python→JVM round
    trips (180 with the cell-filter prune; 205 when the prune was a
    broadcast semi-join). A builder that makes one JVM object per literal
    (the prune list's Column.isin made ~1,800 on its own) blows the
    budget."""
    import py4j.clientserver as cs

    images = spark.read.parquet(tiles)
    admin = corpus.admin_df(spark)
    _drain_py4j_deletes(spark)
    calls = []
    send = cs.ClientServerConnection.send_command

    def counting(self, command):
        calls.append(command[:1])
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    flagship(images, admin)
    monkeypatch.undo()
    assert 0 < len(calls) < 200, len(calls)


def _final_plan(df) -> str:
    """The final adaptive plan of a collected DataFrame. The executed
    plan's text prints the final plan, then the initial one."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    return plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]


def test_flagship_final_plan_broadcasts_the_cover_once(spark, tiles):
    """The cell prune is a filter: the only broadcast left is the PIP
    join's cover, and no semi-join runs."""
    plan = _final_plan(flagship(spark.read.parquet(tiles), corpus.admin_df(spark)))
    assert plan.count("BroadcastExchange") == 1, plan
    assert "LeftSemi" not in plan, plan


@pytest.mark.parametrize("reduce", [zonal_pixel_stats, zonal_value_histogram])
def test_zonal_final_plan_has_no_broadcast(spark, tiles, reduce):
    """The zonal kernel prunes by a filter and emits ``adm_id`` itself, so
    its plan needs no broadcast and no join at all; and no sort, so the one
    exchange is the aggregate's."""
    images = corpus.footprint_cols_for_images(spark.read.parquet(tiles))
    plan = _final_plan(reduce(images, corpus.admin_df(spark), res=6))
    assert "BroadcastExchange" not in plan, plan
    assert "Join" not in plan, plan
    assert len(re.findall(r"\bExchange ", plan)) == 1, plan


@pytest.mark.parametrize("admin_df", [corpus.admin_df, corpus.admin_holed_df])
def test_prune_parents_from_cover_cells(spark, admin_df):
    """The flagship's partition-prune list — the pcell parents of the cover
    cells — equals covering every geometry again at PCELL_RES."""
    _, geoms, cover = cover_local_pdf(admin_df(spark), FLAGSHIP_RES)
    parents = np.unique(grid.parent_np(cover["cell_id"].to_numpy(), corpus.PCELL_RES))
    assert parents.tolist() == cover_cells_driver(geoms, corpus.PCELL_RES)


def test_flagship_scan_keeps_pcell_inset_filter(spark, tiles):
    """The one-expression prune list still lowers to an INSET filter that
    is pushed to the parquet scan, and the final plan's scan reads only
    what the decode kernel and the join need: no caption, phash or
    image_id crosses the Arrow boundary."""
    df = flagship(spark.read.parquet(tiles), corpus.admin_df(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert re.search(r"pcell#\d+L INSET", scan), scan
    assert "PushedFilters: [In(pcell," in scan, scan
    scan = next(line for line in _final_plan(df).splitlines() if "FileScan parquet" in line)
    assert not re.search(r"\b(caption|phash|image_id)#", scan), scan


@pytest.mark.parametrize("admin_df,rects", [
    (corpus.admin_df, corpus.admin_rects),
    (corpus.admin_holed_df, corpus.admin_holed_rects),  # holes + MULTIPOLYGON
])
def test_flagship_matches_closed_form(spark, tiles, admin_df, rects):
    """Per-zone tile count and value sum == the half-open ray cast over the
    closed-form tile centroids and decoded means."""
    i = np.arange(N_TILES, dtype=np.int64)
    lon = -180.0 + 0.25 * ((i * 13) % 1440) + 0.125
    lat = 90.0 - 0.25 * ((i * 7) % 720) - 0.125
    mean = np.array([corpus.expected_decoded_mean(int(k)) for k in i])
    want = {}
    for rec in rects():
        inside = _points_in_rings(lon, lat, corpus.parse_wkb_geometry(rec["geom_wkb"]))
        if inside.any():
            want[rec["adm_id"]] = (int(inside.sum()), float(mean[inside].sum()))
    rows = flagship(spark.read.parquet(tiles), admin_df(spark)).collect()
    assert {r["adm_id"]: (r["n_tiles"], r["sum_value"]) for r in rows} == want
    assert len(want) >= 10
