"""kNN tile-neighbour lookup (SURVEY J7) — the resampling-halo join.

Distributed form of the implicit neighbour reads in the reference's
rolling/reproject operations (``floodscan_pipeline.py:406``; chunked COG
halo reads ``examples/read_seas5_cogs.md:77-78``): each tile's k-ring of
grid cells (deterministic row-major order, longitude wrap, latitude clip)
is exploded and equi-joined back against the tile table — a self-join on
integer cell ids, never a theta join.

At scale: the explode multiplies rows by (2k+1)^2 map-side; the shuffle is
the equi-join on neighbour cell_id. On a cell-bucketed table the join is
co-located (shuffle-free).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import grid


def knn_ring_join(
    tiles: DataFrame,
    k: int,
    res: int,
    cell_col: str = "cell_id",
    payload_cols: list[str] | None = None,
) -> DataFrame:
    """For every tile, the tiles in its k-ring: (cell_id, neighbor_cell_id,
    ring payload...). Ring membership includes the centre cell."""
    left = tiles.select(
        F.col(cell_col),
        F.explode(grid.grid_disk_col(cell_col, k, res)).alias("neighbor_cell_id"),
    )
    right_cols = [F.col(cell_col).alias("neighbor_cell_id")] + [
        F.col(c).alias(f"neighbor_{c}") for c in (payload_cols or [])
    ]
    right = tiles.select(*right_cols)
    return left.join(right, "neighbor_cell_id")


def halo_counts(tiles: DataFrame, k: int, res: int, cell_col: str = "cell_id") -> DataFrame:
    """Per-cell count of occupied neighbour cells (incl. itself) — the
    halo-availability census used to plan resampling."""
    cells = tiles.select(cell_col).distinct()
    joined = knn_ring_join(cells, k, res, cell_col)
    return joined.groupBy(cell_col).agg(F.count(F.lit(1)).alias("n_neighbors"))
