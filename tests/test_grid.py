"""Grid index: numpy, Spark-expression, and SQL implementations agree."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from ds_raster_pipelines_spark import grid


def test_encode_decode_roundtrip():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)
    for res in (0, 3, 7, 15, 26):
        cell = grid.encode_np(lon, lat, res)
        r, ix, iy = grid.decode_np(cell)
        assert (r == res).all()
        nx, ny = grid.nx_ny(res)
        assert (ix >= 0).all() and (ix < nx).all()
        assert (iy >= 0).all() and (iy < ny).all()
        # centroid of the cell re-encodes to the same cell
        clon, clat = grid.centroid_np(cell)
        assert (grid.encode_np(clon, clat, res) == cell).all()


def test_bounds_contain_point():
    rng = np.random.default_rng(1)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    cell = grid.encode_np(lon, lat, 6)
    a, b, c, d = grid.cell_bounds_np(cell)
    assert (lon >= a).all() and (lon <= c).all()
    assert (lat >= b).all() and (lat <= d).all()


def test_parent_contains_child():
    lon, lat = np.array([12.34]), np.array([-45.6])
    child = grid.encode_np(lon, lat, 9)
    parent = grid.parent_np(child, 4)
    assert parent[0] == grid.encode_np(lon, lat, 4)[0]


def test_grid_disk_counts_and_wrap():
    # interior cell: full (2k+1)^2 ring
    cell = int(grid.encode_np(np.array([0.0]), np.array([0.0]), 5)[0])
    disk = grid.grid_disk_np(cell, 1)
    assert len(disk) == 9 and cell in disk
    # pole row: clipped
    top = int(grid.encode_np(np.array([0.0]), np.array([89.9]), 5)[0])
    assert len(grid.grid_disk_np(top, 1)) == 6
    # antimeridian: wraps, still 9
    am = int(grid.encode_np(np.array([-179.99]), np.array([0.0]), 5)[0])
    disk = grid.grid_disk_np(am, 1)
    assert len(disk) == 9
    ixs = [c & grid.IX_MASK for c in disk]
    nx, _ = grid.nx_ny(5)
    assert nx - 1 in ixs  # wrapped neighbour


def test_cover_rect():
    cells = grid.cover_rect_np(-10, -10, 10, 10, 4)
    # every covering cell's bounds intersect the rect
    a, b, c, d = grid.cell_bounds_np(cells)
    assert (c >= -10).all() and (a <= 10).all()
    assert (d >= -10).all() and (b <= 10).all()
    # and the rect corners are covered
    for lon, lat in [(-10, -10), (10, 10), (0, 0)]:
        assert grid.encode_np(np.array([lon]), np.array([lat]), 4)[0] in set(cells.tolist())


@pytest.mark.parametrize("res", [2, 5, 9])
def test_sql_matches_numpy(res):
    rng = np.random.default_rng(7)
    nx, ny = grid.nx_ny(res)
    # random points plus exact cell edges and the ±180/±90 clamps
    lon = np.concatenate([rng.uniform(-180, 180, 300), -180.0 + np.arange(nx + 1) * (360.0 / nx),
                          [180.0, -180.0]])
    lat = np.concatenate([rng.uniform(-90, 90, 300), 90.0 - np.arange(nx + 1) % (ny + 1)
                          * (180.0 / ny), [-90.0, 90.0]])
    want = grid.encode_np(lon, lat, res)
    import pandas as pd

    con = duckdb.connect()

    con.register("pts", pd.DataFrame({"lon": lon, "lat": lat}))
    got = con.execute(
        f"SELECT {grid.encode_sql('lon', 'lat', res)} AS cell FROM pts"
    ).df()["cell"].to_numpy()
    assert (got == want).all()
    pr = max(res - 3, 0)
    want_p = grid.parent_np(want, pr)
    got_p = con.execute(
        f"SELECT {grid.parent_sql(grid.encode_sql('lon', 'lat', res), pr, res)} AS p FROM pts"
    ).df()["p"].to_numpy()
    assert (got_p == want_p).all()


def test_spark_exprs_match_numpy(spark):
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    res = 6
    nx, ny = grid.nx_ny(res)
    # random points, then every exact cell edge (the floor lands on an
    # integer), the grid's outer edges and the poles/antimeridian, which
    # clamp into the first/last row and column
    edge_lon = -180.0 + np.arange(nx + 1) * (360.0 / nx)
    edge_lat = 90.0 - np.arange(ny + 1) * (180.0 / ny)
    lon = np.concatenate([
        rng.uniform(-180, 180, 400), edge_lon, np.zeros(ny + 1),
        [180.0, -180.0, 180.0, -180.0, 0.0, 0.0],
    ])
    lat = np.concatenate([
        rng.uniform(-90, 90, 400), np.zeros(nx + 1), edge_lat,
        [90.0, -90.0, -90.0, 90.0, 90.0, -90.0],
    ])
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    pdf = df.select(
        grid.encode_col("lon", "lat", res).alias("cell"),
        grid.encode_col(F.col("lon"), F.col("lat"), res).alias("cell_from_cols"),
    ).toPandas()
    want = grid.encode_np(lon, lat, res)
    assert (pdf["cell"].to_numpy() == want).all()
    assert (pdf["cell_from_cols"].to_numpy() == want).all()
    r, ix, iy = grid.decode_np(want[-6:])
    assert ix.tolist() == [nx - 1, 0, nx - 1, 0, nx // 2, nx // 2]
    assert iy.tolist() == [0, ny - 1, ny - 1, 0, 0, ny - 1]
    # parent + centroid + disk via Spark
    cells = want
    df2 = spark.createDataFrame(pd.DataFrame({"cell": cells}))
    pdf = df2.select(
        grid.parent_col(F.col("cell"), 3, res).alias("p"),
        grid.grid_disk_col(F.col("cell"), 1, res).alias("disk"),
        *[c.alias(n) for c, n in zip(grid.centroid_cols("cell", res), ["clon", "clat"])],
    ).toPandas()
    assert (pdf["p"].to_numpy() == grid.parent_np(cells, 3)).all()
    clon, clat = grid.centroid_np(cells)
    assert (pdf["clon"].to_numpy() == clon).all() and (pdf["clat"].to_numpy() == clat).all()
    for k in range(len(cells)):
        assert list(pdf["disk"].iloc[k]) == grid.grid_disk_np(int(cells[k]), 1)


def test_written_pcell_matches_numpy(spark, tmp_path):
    """The pcell column corpus._write_corpus stores equals encode_np of the
    closed-form tile centroids, including the tiles whose centroid sits
    exactly on a res-5 cell edge (ids with (i*13) % 1440 == 22 or
    (i*7) % 720 == 22: 0.25*22 + 0.125 = 5.625, one cell width)."""
    from ds_raster_pipelines_spark import corpus

    ids = np.arange(3000, dtype=np.int64)
    on_edge = ((ids * 13) % 1440 == 22) | ((ids * 7) % 720 == 22)
    assert on_edge.sum() >= 4
    path = str(tmp_path / "tiles")
    corpus._write_corpus(spark.range(0, len(ids), 1, 2).withColumnRenamed("id", "i"), path,
                         n_rows=len(ids))
    got = spark.read.parquet(path).select("i", "pcell").toPandas().sort_values("i")
    assert got["i"].tolist() == ids.tolist()
    lon = -180.0 + 0.25 * ((ids * 13) % 1440) + 0.125
    lat = 90.0 - 0.25 * ((ids * 7) % 720) - 0.125
    assert (got["pcell"].to_numpy() == grid.encode_np(lon, lat, corpus.PCELL_RES)).all()


def test_compact_cells_against_numpy_reference(spark):
    """grid.compact_cells == an independent recursive numpy compaction on
    random leaf sets, and exact coverage is preserved (uncompacting the
    result reproduces the leaf set exactly)."""
    import numpy as np
    import pandas as pd

    from ds_raster_pipelines_spark import grid

    def np_compact(leaves: set[int], res: int, min_res: int) -> set[tuple[int, int]]:
        cur = {(c, res) for c in leaves}
        for r in range(res, min_res, -1):
            level = [c for c, cr in cur if cr == r]
            parents = {}
            for c in level:
                p = int(grid.parent_np(np.array([c]), r - 1)[0])
                parents.setdefault(p, []).append(c)
            for p, kids in parents.items():
                if len(kids) == 4:
                    cur -= {(k, r) for k in kids}
                    cur.add((p, r - 1))
        return cur

    rng = np.random.default_rng(3)
    res, min_res = 6, 2
    for trial in range(3):
        nx, ny = grid.nx_ny(res)
        # mix: one aligned complete 8x8 block + random scatter
        bx, by = 8 * int(rng.integers(0, nx // 8)), 8 * int(rng.integers(0, ny // 8))
        block = {
            (res << grid.RES_SHIFT) | ((by + j) << grid.IY_SHIFT) | (bx + i)
            for i in range(8)
            for j in range(8)
        }
        scatter = {
            (res << grid.RES_SHIFT) | (int(rng.integers(0, ny)) << grid.IY_SHIFT)
            | int(rng.integers(0, nx))
            for _ in range(300)
        }
        leaves = block | scatter
        want = np_compact(leaves, res, min_res)
        got_df = grid.compact_cells(
            spark.createDataFrame(pd.DataFrame({"cell_id": sorted(leaves)})),
            res=res, min_res=min_res,
        )
        got = {(int(r.cell_id), int(r.res)) for r in got_df.collect()}
        assert got == want, (trial, len(got ^ set(want)))
        # the aligned block really collapsed below leaf res
        assert any(cr < res for _, cr in got)
        # exact cover: expanding every compacted cell back to leaves
        # reproduces the input set exactly (no loss, no spill-over)
        expanded = set()
        for c, cr in got:
            dr = res - cr
            ix = c & grid.IX_MASK
            iy = (c >> grid.IY_SHIFT) & grid.IY_MASK
            for di in range(1 << dr):
                for dj in range(1 << dr):
                    expanded.add(
                        (res << grid.RES_SHIFT)
                        | (((iy << dr) + dj) << grid.IY_SHIFT)
                        | ((ix << dr) + di)
                    )
        assert expanded == leaves


def test_uncompact_inverts_compact(spark):
    import numpy as np
    import pandas as pd

    from ds_raster_pipelines_spark import grid

    rng = np.random.default_rng(11)
    res, mr = 6, 3
    nx, ny = grid.nx_ny(res)
    leaves = sorted(
        {
            int((res << grid.RES_SHIFT) | (int(rng.integers(0, ny)) << grid.IY_SHIFT)
                | int(rng.integers(0, nx)))
            for _ in range(400)
        }
        | {
            (res << grid.RES_SHIFT) | ((16 + j) << grid.IY_SHIFT) | (32 + i)
            for i in range(8) for j in range(8)
        }
    )
    df = spark.createDataFrame(pd.DataFrame({"cell_id": leaves}))
    comp = grid.compact_cells(df, res=res, min_res=mr)
    assert comp.count() < len(leaves)  # the aligned block collapsed
    back = sorted(r.cell_id for r in grid.uncompact_cells(comp, res=res).collect())
    assert back == leaves


# ---- Z-order layout clustering (operators/layout.py) --------------------

from pyspark.sql import functions as F  # noqa: E402


def test_zorder_three_impls_agree(spark):
    import pandas as pd

    from ds_raster_pipelines_spark.operators import layout

    rng = np.random.default_rng(3)
    ix = rng.integers(0, 1 << 16, 500)
    iy = rng.integers(0, 1 << 16, 500)
    want = layout.zorder_np(ix, iy)
    # numpy vs SQL twin
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"ix": ix, "iy": iy}))
    got_sql = con.execute(
        f"SELECT {layout.zorder_sql('ix', 'iy')} AS z FROM t"
    ).df()["z"].to_numpy()
    assert np.array_equal(got_sql, want)
    # numpy vs Spark Column
    df = spark.createDataFrame(pd.DataFrame({"ix": ix, "iy": iy}))
    got_col = np.array(
        [r["z"] for r in df.select(layout.zorder_key(F.col("ix"), F.col("iy")).alias("z")).collect()]
    )
    assert np.array_equal(got_col, want)


def test_zorder_aligned_block_is_contiguous():
    from ds_raster_pipelines_spark.operators.layout import zorder_np

    xs, ys = np.meshgrid(np.arange(24, 32), np.arange(40, 48))
    z = zorder_np(xs.ravel(), ys.ravel())
    assert len(np.unique(z)) == 64
    assert z.max() - z.min() == 63  # aligned 8x8 block = one contiguous range
