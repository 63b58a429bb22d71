"""Pure-math hierarchical cell index (H3/S2-style) — the distribution key.

The reference avoids float-coordinate joins by rounding coordinates to 4 dp
(``/root/reference/src/utils/raster_utils.py:35-39``); we solve the same
problem structurally with integer cell ids so every spatial join is an exact
equi-join (SURVEY.md §4 "Grid-key snapping").

Scheme (quadtree-on-equirectangular, square cells):
  at resolution ``r``: nx = 2**(r+1) columns over lon [-180, 180),
                       ny = 2**r      rows    over lat [ 90, -90)  (north-up)
  ix = clamp(floor((lon + 180) / 360 * nx), 0, nx-1)
  iy = clamp(floor(( 90 - lat) / 180 * ny), 0, ny-1)
  cell_id = (r << 54) | (iy << 27) | ix          -- fits a signed int64, r <= 26

Implementations, cross-checked in tests/test_grid.py:
  * numpy (vectorized, for Arrow kernels and goldens);
  * SQL text (``encode_sql``, ``centroid_sql``, ``parent_sql`` ...), the
    single text form of each formula: the DuckDB oracle runs it as is and
    Spark runs it through ``encode_col`` / ``centroid_cols`` /
    ``parent_col`` / ``grid_disk_col`` as ONE ``F.expr`` — JVM arithmetic
    in whole-stage codegen, NO Python UDF, and built in a fixed few
    Python→JVM round trips, where composing Column objects pays one per
    literal and operator (plus one more when Python frees it).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_SHIFT = 54
IY_SHIFT = 27
IX_MASK = (1 << 27) - 1
IY_MASK = (1 << 27) - 1
MAX_RES = 26

# ---------------------------------------------------------------- numpy ---


def nx_ny(res: int) -> tuple[int, int]:
    return 1 << (res + 1), 1 << res


def encode_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized lon/lat -> cell_id (int64)."""
    nx, ny = nx_ny(res)
    ix = np.clip(np.floor((np.asarray(lon, np.float64) + 180.0) / 360.0 * nx), 0, nx - 1).astype(np.int64)
    iy = np.clip(np.floor((90.0 - np.asarray(lat, np.float64)) / 180.0 * ny), 0, ny - 1).astype(np.int64)
    return (np.int64(res) << RES_SHIFT) | (iy << IY_SHIFT) | ix


def decode_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """cell_id -> (res, ix, iy)."""
    cell = np.asarray(cell, np.int64)
    return (cell >> RES_SHIFT).astype(np.int64), cell & IX_MASK, (cell >> IY_SHIFT) & IY_MASK


def centroid_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    res, ix, iy = decode_np(cell)
    nx = (np.int64(1) << (res + 1)).astype(np.float64)
    ny = (np.int64(1) << res).astype(np.float64)
    lon = -180.0 + (ix + 0.5) * 360.0 / nx
    lat = 90.0 - (iy + 0.5) * 180.0 / ny
    return lon, lat


def cell_bounds_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(min_lon, min_lat, max_lon, max_lat) of each cell."""
    res, ix, iy = decode_np(cell)
    nx = (np.int64(1) << (res + 1)).astype(np.float64)
    ny = (np.int64(1) << res).astype(np.float64)
    wx, wy = 360.0 / nx, 180.0 / ny
    min_lon = -180.0 + ix * wx
    max_lat = 90.0 - iy * wy
    return min_lon, max_lat - wy, min_lon + wx, max_lat


def parent_np(cell: np.ndarray, parent_res: int) -> np.ndarray:
    res, ix, iy = decode_np(cell)
    dr = res - parent_res
    if np.any(dr < 0):
        raise ValueError("parent_res must be <= cell res")
    return (np.int64(parent_res) << RES_SHIFT) | ((iy >> dr) << IY_SHIFT) | (ix >> dr)


def grid_disk_np(cell: int, k: int) -> list[int]:
    """k-ring neighborhood (incl. centre), deterministic row-major order.

    Longitude wraps; latitude rows outside [0, ny) are dropped — mirrors
    the halo semantics of chunked COG neighbour reads (SURVEY J7).
    """
    res, ix, iy = decode_np(np.asarray([cell]))
    res, ix, iy = int(res[0]), int(ix[0]), int(iy[0])
    nx, ny = nx_ny(res)
    out = []
    for dy in range(-k, k + 1):
        y = iy + dy
        if y < 0 or y >= ny:
            continue
        for dx in range(-k, k + 1):
            x = (ix + dx) % nx
            out.append((res << RES_SHIFT) | (y << IY_SHIFT) | x)
    return out


def cover_rect_np(min_lon: float, min_lat: float, max_lon: float, max_lat: float, res: int) -> np.ndarray:
    """All cell ids at ``res`` intersecting the closed rectangle.

    The distributed form of the reference's polygon clip pre-filter
    (``examples/era5_cogs.md:177``): polygons explode to covering cells,
    tiles equi-join on cell_id, exact refine afterwards (filter-refine).
    """
    nx, ny = nx_ny(res)
    ix0 = int(np.clip(np.floor((min_lon + 180.0) / 360.0 * nx), 0, nx - 1))
    ix1 = int(np.clip(np.floor((max_lon + 180.0) / 360.0 * nx), 0, nx - 1))
    iy0 = int(np.clip(np.floor((90.0 - max_lat) / 180.0 * ny), 0, ny - 1))
    iy1 = int(np.clip(np.floor((90.0 - min_lat) / 180.0 * ny), 0, ny - 1))
    ixs = np.arange(ix0, ix1 + 1, dtype=np.int64)
    iys = np.arange(iy0, iy1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys)
    return (np.int64(res) << RES_SHIFT) | (gy.ravel() << IY_SHIFT) | gx.ravel()


# ---------------------------------------------------------------- spark ---


def encode_col(lon: str | Column, lat: str | Column, res: int) -> Column:
    """Spark Column: lon/lat -> cell_id, one ``F.expr`` over
    :func:`encode_sql`. ``lon``/``lat`` are Spark-SQL text (a column name
    or an expression); a plain column reference ``F.col(name)`` is taken
    as its name."""
    return F.expr(encode_sql(_sql_text(lon), _sql_text(lat), res))


def cell_isin(cell: str, cells) -> Column:
    """``cell IN (c1, c2, ...)`` over integer cell ids, as one ``F.expr``:
    the same few JVM round trips however long the list (``Column.isin``
    builds a JVM literal per element). ``cell`` is Spark-SQL text, as in
    :func:`encode_col`: a column name or an expression such as an
    :func:`encode_sql`. The optimizer lowers a long list to an ``INSET``
    filter, pushed to the parquet scan when ``cell`` is a stored column.
    No cells: matches no row. The literals carry the BIGINT suffix: an
    unsuffixed one is parsed through a decimal first, which doubled the
    time to parse and analyze a 427-cell list (37 → 20 ms, 4-core VM)."""
    ints = ", ".join(f"{int(c)}L" for c in cells)
    return F.expr(f"({cell}) IN ({ints})" if ints else "false")


def _sql_text(x: str | Column) -> str:
    if isinstance(x, str):
        return x
    # a column reference renders as its bare name; quoted, anything else
    # fails to resolve instead of parsing as something unintended
    return "`" + x._jc.toString().replace("`", "``") + "`"


def parent_col(cell: str | Column, parent_res: int, res: int) -> Column:
    """Parent cell at ``parent_res``, one ``F.expr`` over :func:`parent_sql`
    (caller states the child res so the shift is a literal — keeps the
    expression foldable). ``cell`` is Spark-SQL text, as in
    :func:`encode_col`."""
    if res - parent_res < 0:
        raise ValueError("parent_res must be <= res")
    return F.expr(parent_sql(_sql_text(cell), parent_res, res))


def centroid_cols(cell: str | Column, res: int) -> tuple[Column, Column]:
    """Spark Columns (lon, lat) of each cell's centre at ``res``, one
    ``F.expr`` each over :func:`centroid_sql`."""
    lon, lat = centroid_sql(_sql_text(cell), res)
    return F.expr(lon), F.expr(lat)


def grid_disk_col(cell: str | Column, k: int, res: int) -> Column:
    """Array column of the k-ring neighbour cell ids (row-major, lon-wrap,
    lat-clip), one ``F.expr`` over sequence/transform/flatten: pure JVM,
    no UDF, exactly mirrors grid_disk_np. ``cell`` is Spark-SQL text, as
    in :func:`encode_col`."""
    nx, ny = nx_ny(res)
    c = _sql_text(cell)
    ix, iy = ix_sql(c), iy_sql(c)
    return F.expr(
        f"flatten(transform(sequence({-k}, {k}), dy -> CASE"
        f" WHEN {iy} + dy >= 0 AND {iy} + dy < {ny}"
        f" THEN transform(sequence({-k}, {k}), dx -> cast({int(res) << RES_SHIFT} as bigint)"
        f" | (({iy} + dy) << {IY_SHIFT}) | cast(pmod({ix} + dx, {nx}) as bigint))"
        f" ELSE cast(array() as array<bigint>) END))"
    )


# ------------------------------------------------------------------ sql ---
# The single text form of each formula, valid in Spark SQL and DuckDB alike
# (encode_col/centroid_cols wrap it; encode_np is its numpy twin). Literals
# that must be DOUBLE are written by dbl_sql: a bare ``180.0`` is DECIMAL
# in both engines (``0.25 * i`` would come out DECIMAL, not DOUBLE).


def dbl_sql(x: float) -> str:
    """``x`` as a DOUBLE literal in Spark SQL and DuckDB: the exponent form
    ``180.0e0`` (``180.0D`` is Spark-only — DuckDB reads the D as an alias)."""
    r = repr(float(x))
    return r if "e" in r else f"{r}e0"


def encode_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    nx, ny = nx_ny(res)
    ix = (
        f"least(greatest(cast(floor((({lon_expr}) + {dbl_sql(180)}) / {dbl_sql(360)} * {nx})"
        f" as bigint), 0), {nx - 1})"
    )
    iy = (
        f"least(greatest(cast(floor(({dbl_sql(90)} - ({lat_expr})) / {dbl_sql(180)} * {ny})"
        f" as bigint), 0), {ny - 1})"
    )
    return f"(cast({int(res) << RES_SHIFT} as bigint) | ({iy} << {IY_SHIFT}) | {ix})"


def ix_sql(cell_expr: str) -> str:
    return f"(({cell_expr}) & {IX_MASK})"


def iy_sql(cell_expr: str) -> str:
    return f"((({cell_expr}) >> {IY_SHIFT}) & {IY_MASK})"


def parent_sql(cell_expr: str, parent_res: int, res: int) -> str:
    dr = res - parent_res
    return (
        f"(cast({parent_res << RES_SHIFT} as bigint)"
        f" | (({iy_sql(cell_expr)} >> {dr}) << {IY_SHIFT})"
        f" | ({ix_sql(cell_expr)} >> {dr}))"
    )


def centroid_sql(cell_expr: str, res: int) -> tuple[str, str]:
    nx, ny = nx_ny(res)
    lon = f"({dbl_sql(-180)} + ({ix_sql(cell_expr)} + {dbl_sql(0.5)}) * {dbl_sql(360.0 / nx)})"
    lat = f"({dbl_sql(90)} - ({iy_sql(cell_expr)} + {dbl_sql(0.5)}) * {dbl_sql(180.0 / ny)})"
    return lon, lat


# ------------------------------------------------- distributed compaction ---


def compact_cells(cells, res: int, min_res: int = 0, cell_col: str = "cell_id"):
    """H3-style ``compact``: the minimal mixed-resolution cover of a cell
    set — every complete 4-sibling group collapses into its parent,
    recursively (coverage manifests, mosaic footprints, prune lists
    shrink by orders of magnitude on dense regions).

    Closed-form lowering instead of an iterative collapse loop (r8 s4,
    ONE aggregation instead of one per level): each leaf explodes
    map-side to its ancestors at every res in [min_res, res] (self
    included), one groupBy(c, res) counts leaves under each candidate —
    ``a`` at res r is COMPLETE iff all 4**(res-r) leaves under it are
    present (at the leaf level every leaf is trivially complete) — and
    the compacted set is exactly the complete cells whose ONE-LEVEL
    parent is not complete, one anti-join on the parent cell id (the
    res field is embedded in the id, so a single equi key covers all
    levels; min_res rows survive because their parent level was never
    generated). Flat DAG: one exchange + one anti-join, no driver-side
    iteration, no lineage growth. Returns (cell_id, res) rows."""
    from pyspark.sql import functions as F  # noqa: F811

    if not 0 <= min_res < res:
        raise ValueError("need 0 <= min_res < res")
    base = cells.select(F.col(cell_col).cast("long").alias("c")).distinct()
    anc = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        parent_col("c", r, res).alias("c"),
                        F.lit(r).alias("res"),
                    )
                    for r in range(min_res, res + 1)
                ]
            )
        ).alias("a")
    ).select("a.c", "a.res")
    comp = (
        anc.groupBy("c", "res")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.expr(f"n == shiftleft(cast(1 as bigint), cast(2 * ({res} - res) as int))"))
        .select("c", "res")
    )
    # dynamic one-level parent: res field (r-1) | iy>>1 | ix>>1 — the
    # per-row analog of parent_sql(c, r-1, r)
    parent_dyn = F.expr(
        f"(shiftleft(cast(res - 1 as bigint), {RES_SHIFT})"
        f" | (({iy_sql('c')} >> 1) << {IY_SHIFT}) | ({ix_sql('c')} >> 1))"
    )
    parents = comp.where(F.col("res") < res).select(F.col("c").alias("_p"))
    out = comp.join(parents, parent_dyn == F.col("_p"), "left_anti")
    return out.select(F.col("c").alias(cell_col), "res")


def uncompact_cells(cells, res: int, cell_col: str = "cell_id"):
    """Inverse of compact_cells: mixed-resolution rows back to uniform
    leaves at ``res``. Pure Column ops: each cell explodes to its
    4**(res-r) descendants via one ``sequence``+``explode`` (no UDF);
    a compact→uncompact round trip reproduces the leaf set exactly
    (asserted in tests/test_grid.py)."""
    from pyspark.sql import functions as F  # noqa: F811

    c = f"cast({cell_col} as bigint)"
    out = cells.select(
        F.expr(f"({c}) & {IX_MASK}").alias("_ix"),
        F.expr(f"(({c}) >> {IY_SHIFT}) & {IY_MASK}").alias("_iy"),
        F.expr(f"cast({res} - (({c}) >> {RES_SHIFT}) as int)").alias("_dr"),
        F.expr(f"shiftleft(1L, cast({res} - (({c}) >> {RES_SHIFT}) as int))").alias("_s"),
    ).select(
        "_ix", "_iy", "_dr", "_s",
        F.explode(F.expr("sequence(0L, _s * _s - 1)")).alias("_k"),
    )
    leaf = F.expr(
        f"cast({res << RES_SHIFT} as bigint)"
        f" | (shiftleft(_iy, _dr) + (_k div _s)) << {IY_SHIFT}"
        f" | (shiftleft(_ix, _dr) + (_k % _s))"
    )
    return out.select(leaf.alias(cell_col))
