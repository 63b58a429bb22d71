"""Holed-polygon + MULTIPOLYGON geometry fidelity (r7, VERDICT r6 item 1).

The reference's real consumption input is admin shapefiles
(``examples/era5_cogs.md:164-172``) — routinely MultiPolygons with holes.
These tests pin WKB parse fidelity, even-odd parity classification across
interior rings, the half-open edge rule on hole edges, the interior-cell
('full') shortcut's hole-awareness, and engine-vs-naive-oracle agreement
on the holed fixture corpus.
"""

from __future__ import annotations

import numpy as np
import pytest

from ds_raster_pipelines_spark import corpus, grid
from ds_raster_pipelines_spark.operators.pip import (
    _cover_geometry,
    _points_in_rings,
    contains_wkb_udf,
    pip_join,
    pip_join_distributed,
)

# 10x10 outer square with a 2x2 hole at (4..6), plus a disjoint 2x2 part
# at (20..22) — the canonical holed-multipart fixture.
OUTER = corpus.rect_ring(0.0, 0.0, 10.0, 10.0)
HOLE = corpus.rect_ring(4.0, 4.0, 6.0, 6.0)
PART2 = corpus.rect_ring(20.0, 20.0, 22.0, 22.0)
WKB_HOLED = corpus.wkb_polygon([OUTER, HOLE])
WKB_MULTI = corpus.wkb_multipolygon([[OUTER, HOLE], [PART2]])


def test_parse_wkb_geometry_polygon_with_hole():
    parts = corpus.parse_wkb_geometry(WKB_HOLED)
    assert len(parts) == 1 and len(parts[0]) == 2
    assert np.allclose(parts[0][0], np.asarray(OUTER))
    assert np.allclose(parts[0][1], np.asarray(HOLE))


def test_parse_wkb_geometry_multipolygon():
    parts = corpus.parse_wkb_geometry(WKB_MULTI)
    assert [len(p) for p in parts] == [2, 1]
    assert np.allclose(parts[1][0], np.asarray(PART2))


def _cls(lon, lat, parts):
    return _points_in_rings(np.asarray([lon], float), np.asarray([lat], float), parts)[0]


PARTS_HOLED = [[np.asarray(OUTER, float), np.asarray(HOLE, float)]]
PARTS_MULTI = PARTS_HOLED + [[np.asarray(PART2, float)]]


def test_parity_interior_hole_part():
    # strictly inside outer, away from hole -> inside
    assert _cls(2.0, 2.0, PARTS_MULTI)
    # strictly inside the hole -> outside (parity: crosses both rings)
    assert not _cls(5.0, 5.0, PARTS_MULTI)
    # inside the disjoint second part -> inside
    assert _cls(21.0, 21.0, PARTS_MULTI)
    # between the parts -> outside
    assert not _cls(15.0, 15.0, PARTS_MULTI)


def test_hole_edge_half_open_mirrors():
    # half-open: outer left/bottom in, right/top out; for a HOLE the
    # convention mirrors — a point on the hole's left/bottom edge is
    # inside-the-hole, hence OUTSIDE the polygon, while the hole's
    # right/top edge belongs to the polygon.
    assert not _cls(4.0, 5.0, PARTS_HOLED)  # hole left edge
    assert not _cls(5.0, 4.0, PARTS_HOLED)  # hole bottom edge
    assert _cls(6.0, 5.0, PARTS_HOLED)  # hole right edge
    assert _cls(5.0, 6.0, PARTS_HOLED)  # hole top edge
    # outer ring unchanged by the hole
    assert _cls(0.0, 5.0, PARTS_HOLED)  # outer left edge in
    assert not _cls(10.0, 5.0, PARTS_HOLED)  # outer right edge out


def test_cover_full_flag_hole_aware():
    res = 7  # cell width 360/2^8 = 1.40625 deg — hole spans multiple cells
    cells, full = _cover_geometry(PARTS_HOLED, res)
    a, b, c, d = grid.cell_bounds_np(cells)
    for k in np.nonzero(full)[0]:
        # every corner of a 'full' cell must be parity-inside (not in hole)
        for lon, lat in ((a[k], b[k]), (a[k], d[k]), (c[k], b[k]), (c[k], d[k])):
            assert _cls(float(lon), float(lat), PARTS_HOLED), (lon, lat)
    # there must BE full cells (interior shortcut is live), and no cell
    # overlapping the hole may be full
    assert full.any()
    hole_overlap = (a < 6.0) & (c > 4.0) & (b < 6.0) & (d > 4.0)
    assert not (full & hole_overlap).any()


def test_cover_multipart_covers_both_parts():
    res = 7
    cells, _ = _cover_geometry(PARTS_MULTI, res)
    cellset = set(cells.tolist())
    assert int(grid.encode_np(np.array([21.0]), np.array([21.0]), res)[0]) in cellset
    assert int(grid.encode_np(np.array([5.0]), np.array([5.0]), res)[0]) in cellset
    # a disjoint-part gap cell may appear in the bbox-union cover only if
    # bboxes overlap it — here they don't span (10..20)x(10..20)
    assert int(grid.encode_np(np.array([15.0]), np.array([15.0]), res)[0]) not in cellset


@pytest.fixture(scope="module")
def holed_points(spark):
    import pandas as pd

    pts = [
        ("in_outer", 2.5, 2.5),
        ("in_hole", 5.0, 5.0),
        ("in_part2", 21.0, 21.0),
        ("outside", 15.0, 15.0),
        ("hole_left_edge", 4.0, 5.0),
        ("hole_top_edge", 5.0, 6.0),
    ]
    return spark.createDataFrame(
        pd.DataFrame(pts, columns=["pid", "lon_c", "lat_c"]),
        schema="pid string, lon_c double, lat_c double",
    )


@pytest.fixture(scope="module")
def multi_admin(spark):
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"adm_id": ["M1"], "geom_wkb": [WKB_MULTI]}),
        schema="adm_id string, geom_wkb binary",
    )


def _pids(df):
    return sorted(r["pid"] for r in df.select("pid").collect())


def test_pip_join_holed_half_open(spark, holed_points, multi_admin):
    out = pip_join(holed_points, multi_admin, res=5, refine="wkb")
    assert _pids(out) == ["hole_top_edge", "in_outer", "in_part2"]


def test_pip_join_distributed_holed_matches(spark, holed_points, multi_admin):
    out = pip_join_distributed(holed_points, multi_admin, res=5)
    assert _pids(out) == ["hole_top_edge", "in_outer", "in_part2"]


def test_contains_wkb_udf_holed(spark, holed_points):
    import pyspark.sql.functions as F

    udf = contains_wkb_udf()
    df = holed_points.withColumn("wkb", F.lit(WKB_MULTI))
    got = {
        r["pid"]: r["inside"]
        for r in df.select(
            "pid", udf(F.col("lon_c"), F.col("lat_c"), F.col("wkb")).alias("inside")
        ).collect()
    }
    assert got == {
        "in_outer": True,
        "in_hole": False,
        "in_part2": True,
        "outside": False,
        "hole_left_edge": False,
        "hole_top_edge": True,
    }


def test_holed_fixture_engine_vs_naive_oracle(spark):
    """pip_join over the graded holed fixture == per-point numpy parity."""
    import pandas as pd
    import pyspark.sql.functions as F

    rng = np.random.default_rng(7)
    lon = rng.uniform(-179.9, 179.9, 4000)
    lat = rng.uniform(-89.9, 89.9, 4000)
    pts = spark.createDataFrame(
        pd.DataFrame({"pid": np.arange(4000), "lon_c": lon, "lat_c": lat}),
        schema="pid bigint, lon_c double, lat_c double",
    )
    out = (
        pip_join(pts, corpus.admin_holed_df(spark), res=5, refine="wkb")
        .groupBy("adm_id").agg(F.count("*").alias("n"))
        .collect()
    )
    got = {r["adm_id"]: r["n"] for r in out}
    want: dict[str, int] = {}
    for rec in corpus.admin_holed_rects():
        n = int(_points_in_rings(lon, lat, corpus.parse_wkb_geometry(rec["geom_wkb"])).sum())
        if n:
            want[rec["adm_id"]] = n
    assert got == want


def test_pip_join_distributed_salted_identical(spark):
    """Explicit hot-cell salting changes the shuffle layout, never the
    rows (r7, VERDICT r6 item 7)."""
    import pandas as pd
    import pyspark.sql.functions as F

    n = 30_000
    i = F.col("id")
    # ~30% of points pile onto one location (one hot res-5 cell)
    pts = spark.range(n).select(
        i.alias("pid"),
        F.when(i % 10 < 3, F.lit(-150.123)).otherwise(
            -180.0 + F.pmod(i * 37.0001, F.lit(360.0))
        ).alias("lon_c"),
        F.when(i % 10 < 3, F.lit(-55.377)).otherwise(
            -90.0 + F.pmod(i * 17.0003, F.lit(180.0))
        ).alias("lat_c"),
    )
    adm = corpus.admin_df(spark)

    def agg(j):
        return (
            j.groupBy("adm_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("pid").alias("s"))
            .orderBy("adm_id")
            .toPandas()
        )

    plain = agg(pip_join_distributed(pts, adm, res=5))
    salted = agg(pip_join_distributed(pts, adm, res=5, n_salt=8, hot_threshold=1000))
    pd.testing.assert_frame_equal(plain, salted)


def test_zonal_value_histogram_marginals_match_stats(spark):
    """The hist kernel's per-zone marginals (sum of n_px, sum of
    value*n_px) must equal the stats kernel's px_count/px_sum on the
    SAME holed/multipart fixture — the two reductions share the scanline
    runs but not accumulation code, so drift in either (count/sum vs
    value histogram) breaks the identity."""
    from pyspark.sql import functions as F

    from ds_raster_pipelines_spark import corpus
    from ds_raster_pipelines_spark.operators.raster import (
        zonal_pixel_stats,
        zonal_value_histogram,
    )

    images = corpus.footprint_cols_for_images(
        spark.read.parquet(corpus.materialized_images(spark, "/root/testdata/sf0.001"))
    )
    adm = corpus.admin_holed_df(spark)
    hist = (
        zonal_value_histogram(images, adm, res=5)
        .groupBy("adm_id")
        .agg(
            F.sum("n_px").alias("px_count"),
            F.sum(F.col("value") * F.col("n_px")).alias("px_sum"),
        )
    )
    stats = zonal_pixel_stats(images, adm, res=5).select(
        "adm_id", "px_count", "px_sum"
    )
    h = {r["adm_id"]: (r["px_count"], r["px_sum"]) for r in hist.collect()}
    s = {r["adm_id"]: (r["px_count"], r["px_sum"]) for r in stats.collect()}
    assert h == s and len(h) > 0


# Zones for the zonal kernel against the per-pixel ray cast: a triangle, a
# concave (two reflex vertices) polygon, and a hexagon with a triangular
# hole, with vertices off the 0.25 deg tile grid so edges cut tile
# interiors; and an axis rect whose four edges lie exactly on pixel
# centres (x = lon0 + (j + 0.5) / 256 on the 64x64 tiles, exact in binary),
# so the half-open convention decides its edge pixels.
NON_RECT_ZONES = {
    "tri": [[(-120.03, -35.07), (40.09, -20.05), (-30.07, 60.03), (-120.03, -35.07)]],
    "concave": [[(10.03, -60.07), (150.09, -50.03), (90.05, 0.07), (160.07, 45.09),
                 (20.05, 30.03), (60.09, -10.05), (10.03, -60.07)]],
    "hex_holed": [
        [(-120.07, 10.03), (-100.05, 45.09), (-60.03, 45.09), (-40.09, 10.03),
         (-60.03, -25.07), (-100.05, -25.07), (-120.07, 10.03)],
        [(-95.03, 0.05), (-65.07, 0.05), (-80.09, 30.07), (-95.03, 0.05)],
    ],
    "rect_on_centres": [corpus.rect_ring(
        -46.75 + 5.5 / 256, 18.25 - 60.5 / 256, -17.25 + 40.5 / 256, 57.75 - 3.5 / 256
    )],
}


def test_zonal_non_rect_matches_per_pixel_reference(spark):
    """The zonal kernel (cover prune, per-part bbox pre-check, scanline
    runs) must count and sum exactly the pixels a
    driver-side per-pixel reference finds: every tile decoded, every pixel
    center classified by _points_in_rings. Checked for both reductions
    (stats and value histogram)."""
    import pandas as pd

    from ds_raster_pipelines_spark import codecs
    from ds_raster_pipelines_spark.operators.raster import (
        zonal_pixel_stats,
        zonal_value_histogram,
    )

    images = corpus.footprint_cols_for_images(
        spark.read.parquet(corpus.materialized_images(spark, "/root/testdata/sf0.001"))
    )
    adm = spark.createDataFrame(
        pd.DataFrame({
            "adm_id": list(NON_RECT_ZONES),
            "geom_wkb": [corpus.wkb_polygon(r) for r in NON_RECT_ZONES.values()],
        }),
        schema="adm_id string, geom_wkb binary",
    )
    ref_stats: dict[str, tuple[int, int]] = {}
    ref_hist: dict[tuple[str, int], int] = {}
    for row in images.select("bytes", "fmt", "w", "h", "lon0", "lat_top").collect():
        w, h = row["w"], row["h"]
        px = codecs.decode_tile(bytes(row["bytes"]), row["fmt"], w, h)
        lon, lat = np.meshgrid(
            row["lon0"] + (np.arange(w) + 0.5) * (0.25 / w),
            row["lat_top"] - (np.arange(h) + 0.5) * (0.25 / h),
        )
        for adm_id, rings in NON_RECT_ZONES.items():
            mask = _points_in_rings(
                lon.ravel(), lat.ravel(), [[np.asarray(r) for r in rings]]
            ).reshape(h, w)
            if not mask.any():
                continue
            cnt, tot = ref_stats.get(adm_id, (0, 0))
            ref_stats[adm_id] = (cnt + int(mask.sum()), tot + int(px[mask].sum()))
            for v, k in zip(*np.unique(px[mask], return_counts=True)):
                ref_hist[(adm_id, int(v))] = ref_hist.get((adm_id, int(v)), 0) + int(k)
    assert set(ref_stats) == set(NON_RECT_ZONES)

    stats = {
        r["adm_id"]: (r["px_count"], r["px_sum"])
        for r in zonal_pixel_stats(images, adm, res=5).collect()
    }
    assert stats == ref_stats
    hist = {
        (r["adm_id"], r["value"]): r["n_px"]
        for r in zonal_value_histogram(images, adm, res=5).collect()
    }
    assert hist == ref_hist


def test_pip_join_distributed_salted_hot_cells_only(spark):
    """r8 (ADVICE r7 medium): n_salt + hot_cells WITHOUT hot_threshold
    must construct (the second, adm_id-keyed salted join derives its hot
    set by mapping the cells through the cover) and return rows identical
    to the unsalted join."""
    import pandas as pd
    import pyspark.sql.functions as F

    from ds_raster_pipelines_spark import grid

    n = 20_000
    i = F.col("id")
    pts = spark.range(n).select(
        i.alias("pid"),
        F.when(i % 10 < 3, F.lit(-150.123)).otherwise(
            -180.0 + F.pmod(i * 37.0001, F.lit(360.0))
        ).alias("lon_c"),
        F.when(i % 10 < 3, F.lit(-55.377)).otherwise(
            -90.0 + F.pmod(i * 17.0003, F.lit(180.0))
        ).alias("lat_c"),
    )
    adm = corpus.admin_df(spark)
    hot = (
        pts.select(grid.encode_col(F.col("lon_c"), F.col("lat_c"), 5).alias("cell_id"))
        .groupBy("cell_id").count().where(F.col("count") > 1000).select("cell_id")
    )

    def agg(j):
        return (
            j.groupBy("adm_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("pid").alias("s"))
            .orderBy("adm_id")
            .toPandas()
        )

    plain = agg(pip_join_distributed(pts, adm, res=5))
    salted = agg(pip_join_distributed(pts, adm, res=5, n_salt=8, hot_cells=hot))
    pd.testing.assert_frame_equal(plain, salted)


def test_wkb_is_parsed_only_by_corpus_and_pip():
    """Inside the package only corpus.py and operators/pip.py parse WKB:
    every other module takes its geometries, in parts form, from pip's one
    guarded reader (local_geometries)."""
    import ast
    from pathlib import Path

    pkg = Path(corpus.__file__).resolve().parent
    callers = set()
    for p in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name == "parse_wkb_geometry":
                    callers.add(p.relative_to(pkg).as_posix())
    assert callers == {"corpus.py", "operators/pip.py"}, callers
