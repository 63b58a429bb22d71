"""Point-in-polygon spatial join — filter-refine, the core new operator.

Distributed form of the reference's polygon clip
(``examples/era5_cogs.md:177,210`` — ``rio.clip`` with and without
``all_touched``), SURVEY.md §2.3 J5:

  1. COVER   : polygons explode to the H3/S2-style cells intersecting them
               (coarse, integer keys).
  2. FILTER  : tiles equi-join polygons on cell_id — broadcast when the
               polygon side is small (admin tables are), salted SMJ when a
               cell is hot (operators/skew.py).
  3. REFINE  : exact geometric containment — a vectorized even-odd
               ray-cast over WKB rings, Arrow-batched (no per-row Python);
               or a JVM-only bbox predicate for axis-aligned geometries.

One geometry form: "parts", the output of ``corpus.parse_wkb_geometry`` —
a list of polygon parts, each a list of (n, 2) float64 rings, exterior
first, then holes. Every function here takes geometries in that form.

One edge rule: half-open, the bare even-odd ray cast of
:func:`_points_in_rings`. For an axis-aligned rectangle the left/bottom
edges are inside and the right/top edges are out, so a point on the edge
shared by two abutting polygons joins exactly one. The bbox refine, the
per-row-WKB refine and the scanline zonal kernel (operators/raster.py)
all reproduce it.

Tiles join by centroid (the reference's default clip: a tile belongs iff
its centroid is inside); ``pip_all_touched`` in the query registry is the
``all_touched`` form.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import grid
from ..corpus import PCELL_RES, parse_wkb_geometry

# ----------------------------------------------------------- cover stage ---


def _is_axis_rect(parts: list) -> bool:
    """True if the geometry is one part of one axis-aligned rectangle ring
    (exact refine is then a pure-JVM between-predicate — no Python stage)."""
    if len(parts) != 1 or len(parts[0]) != 1 or len(parts[0][0]) != 5:
        return False
    ring = parts[0][0]
    return len(set(ring[:, 0].tolist())) == 2 and len(set(ring[:, 1].tolist())) == 2


def _cover_geometry(parts: list, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells of a (multi)polygon + per-cell 'full' flag.

    Cover = union over parts of the part-exterior bbox cover. full=True ⇒
    the closed cell is entirely inside the geometry: all 4 corners
    parity-inside across ALL rings (a corner in a hole is parity-outside)
    and no ring edge's bbox — hole edges included — overlaps the cell.
    Conservative: may flag interior cells near an edge as boundary, never
    the reverse; a hole or a whole small part strictly inside a cell puts
    its edges in the cell bbox, so that cell can never be 'full'. Full
    cells skip the exact refine — Raptor-style interior shortcut (at
    scale interior cells dominate)."""
    covers = [
        grid.cover_rect_np(
            float(ext[:, 0].min()), float(ext[:, 1].min()),
            float(ext[:, 0].max()), float(ext[:, 1].max()), res,
        )
        for ext, *_ in parts
    ]
    cells = np.unique(np.concatenate(covers)) if covers else np.array([], np.int64)
    a, b, c, d = grid.cell_bounds_np(cells)
    inside = np.ones(len(cells), dtype=bool)
    for cx, cy in ((a, b), (a, d), (c, b), (c, d)):
        inside &= _points_in_rings(cx, cy, parts)
    near_edge = np.zeros(len(cells), dtype=bool)
    for ring in (r for part in parts for r in part):
        x, y = ring[:, 0], ring[:, 1]
        for e in range(len(ring) - 1):
            ex0, ex1 = min(x[e], x[e + 1]), max(x[e], x[e + 1])
            ey0, ey1 = min(y[e], y[e + 1]), max(y[e], y[e + 1])
            near_edge |= (a <= ex1) & (c >= ex0) & (b <= ey1) & (d >= ey0)
    return cells, inside & ~near_edge


def polygon_cover_cells(admin: DataFrame, res: int) -> DataFrame:
    """(adm_id, cell_id, full) covering triples at ``res``.

    Runs distributed (mapInPandas over the polygon table's ``adm_id`` and
    ``geom_wkb``) so it scales to large polygon sets; the per-part bbox of
    each WKB geometry bounds the cover. For a 1000-executor cluster the
    output is what gets broadcast — cap cell explosion by choosing ``res``
    so |cells per polygon| stays ~1e2-1e3 (SURVEY.md §7 risk register).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # per-row loop is over GEOMETRIES (blobs), not points
            covers = [_cover_geometry(parse_wkb_geometry(w), res) for w in pdf["geom_wkb"]]
            yield pd.DataFrame(
                {
                    "adm_id": np.repeat(
                        pdf["adm_id"].to_numpy(dtype=object), [len(c) for c, _ in covers]
                    ),
                    "cell_id": np.concatenate([c for c, _ in covers] + [np.zeros(0, np.int64)]),
                    "full": np.concatenate([f for _, f in covers] + [np.zeros(0, bool)]),
                }
            )

    # pandas frame on purpose: one row per polygon (a small table); the
    # cost is each geometry's cover walk, not the conversion
    return admin.select("adm_id", "geom_wkb").mapInPandas(
        kernel, schema="adm_id string, cell_id bigint, full boolean"
    )


# ---------------------------------------------------------- refine stage ---


def _points_in_rings(lon: np.ndarray, lat: np.ndarray, parts: list) -> np.ndarray:
    """Half-open even-odd ray cast of points against one geometry, over
    every ring of every part (edge loops are over the few polygon
    vertices; points are the vectorized axis). Parity across exterior +
    interior rings classifies holes for free: a point inside a hole
    crosses both rings ⇒ even ⇒ outside; a point in any disjoint part
    crosses only that part's exterior ⇒ odd ⇒ inside.

    On-edge points follow the bare ray cast: for an axis-aligned
    rectangle, left/bottom edges are inside, right/top are out. For a hole
    the rule mirrors: a point on the hole's left/bottom edge is
    inside-the-hole, hence OUTSIDE the polygon. Points strictly
    interior/exterior are unaffected.
    """
    inside = np.zeros(lon.shape, dtype=bool)
    for ring in (r for part in parts for r in part):
        x, y = ring[:, 0], ring[:, 1]
        for e in range(len(ring) - 1):  # closed ring
            x1, y1, x2, y2 = x[e], y[e], x[e + 1], y[e + 1]
            crosses = (y1 > lat) != (y2 > lat)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x1 + (lat - y1) * (x2 - x1) / (y2 - y1)
            inside ^= crosses & (lon < xint)
    return inside


def contains_wkb_udf():
    """Exact PIP refine against a per-row WKB column (POLYGON with holes
    or MULTIPOLYGON). Groups the batch by polygon so the ray cast runs
    vectorized once per distinct geometry per batch. NOTE: prefer
    contains_indexed_udf — shipping WKB per candidate row pays the
    binary→pandas conversion on every row; the indexed form ships
    geometries once."""

    @F.pandas_udf(T.BooleanType())
    def _contains(lon: pd.Series, lat: pd.Series, wkb: pd.Series) -> pd.Series:
        lon_v = lon.to_numpy(np.float64)
        lat_v = lat.to_numpy(np.float64)
        out = np.zeros(len(lon_v), dtype=bool)
        codes, uniques = pd.factorize(wkb, use_na_sentinel=True)
        for g, blob in enumerate(uniques):
            mask = codes == g
            out[mask] = _points_in_rings(lon_v[mask], lat_v[mask], parse_wkb_geometry(blob))
        return pd.Series(out)

    return _contains


def contains_indexed_udf(geoms: list):
    """Exact PIP refine against a small geometry dictionary: candidates
    carry only an int geometry index; the parsed geometries ship to
    executors once (closure/broadcast), not per row. Right-sized for
    admin-boundary workloads (1e2-1e5 polygons); for 1e7+ polygons switch
    to the per-row-WKB form with dictionary-encoded geometry batches."""

    @F.pandas_udf(T.BooleanType())
    def _contains(lon: pd.Series, lat: pd.Series, gi: pd.Series) -> pd.Series:
        lon_v = lon.to_numpy(np.float64)
        lat_v = lat.to_numpy(np.float64)
        gi_v = gi.to_numpy(np.int64)
        out = np.zeros(len(lon_v), dtype=bool)
        for g in np.unique(gi_v):
            mask = gi_v == g
            if g < 0:  # interior-cell shortcut: inside by construction
                out[mask] = True
            else:
                out[mask] = _points_in_rings(lon_v[mask], lat_v[mask], geoms[g])
        return pd.Series(out)

    return _contains


# ------------------------------------------------------------- full join ---


def cover_cells_driver(geoms: list, res: int) -> list[int]:
    """Distinct covering cell ids at ``res`` for a list of geometries,
    computed driver-side (no Spark job) — used for partition-pruning isin
    lists."""
    out: set[int] = set()
    for parts in geoms:
        cells, _ = _cover_geometry(parts, res)
        out.update(cells.tolist())
    return sorted(out)


def prune_tiles(images: DataFrame, cells, lon_sql: str, lat_sql: str, res: int) -> DataFrame:
    """The rows of ``images`` whose point (``lon_sql``, ``lat_sql``, Spark-
    SQL text) lies in one of ``cells`` (cell ids at ``res``, computed on
    the driver). The filter step of filter-refine, run before any pixel is
    decoded: a table stored with a ``pcell`` column first loses every
    partition that holds none of the cells' parents (those files are never
    read), then one ``IN`` filter on the point's cell drops the rest. No
    join, so no exchange and no extra Spark job."""
    cells = np.unique(np.asarray(cells, dtype=np.int64))
    if "pcell" in images.columns:
        parents = np.unique(grid.parent_np(cells, PCELL_RES))
        images = images.where(grid.cell_isin("pcell", parents)).drop("pcell")
    return images.where(grid.cell_isin(grid.encode_sql(lon_sql, lat_sql, res), cells))


COVER_SCHEMA = (
    "adm_id string, cell_id bigint, full boolean, _gi int,"
    " _mnx double, _mny double, _mxx double, _mxy double"
)


# Above this many polygons the driver-side readers refuse (the collect +
# ring parse would silently funnel the whole geometry table through the
# driver); pip_join and the flagship switch to the distributed plan.
MAX_LOCAL_POLYGONS = 10_000


class PolygonSetTooLarge(ValueError):
    pass


def local_geometries(admin: DataFrame) -> tuple[list, list]:
    """(rows, geoms): the ``adm_id``/``geom_wkb`` rows of a broadcast-small
    polygon table, collected to the driver, and each row's geometry in
    parts form. The one driver-side reader of a polygon table.

    GUARDED: collects at most MAX_LOCAL_POLYGONS + 1 rows (read at call
    time) and raises PolygonSetTooLarge beyond that — a million-polygon
    admin table must go through the distributed cover
    (polygon_cover_cells), never the driver."""
    limit = MAX_LOCAL_POLYGONS
    rows = admin.select("adm_id", "geom_wkb").limit(limit + 1).collect()
    if len(rows) > limit:
        raise PolygonSetTooLarge(
            f"admin table exceeds {limit} polygons; use the distributed cover "
            "(polygon_cover_cells / pip_join auto-switch), or pre-partition "
            "the admin table (e.g. per region) and union the results"
        )
    return rows, [parse_wkb_geometry(r["geom_wkb"]) for r in rows]


def cover_local_pdf(admin: DataFrame, res: int):
    """Driver-side cover build for broadcast-small polygon tables: one
    guarded collect (:func:`local_geometries`), zero extra Spark jobs (the
    distributed polygon_cover_cells costs a python stage + broadcast per
    query — measurable serial time when the parallel part is seconds).
    pip_join auto-switches on PolygonSetTooLarge.

    Returns (adm_rows, geoms, cover_pdf): the geometries in parts form and
    the cover as a pandas frame with the COVER_SCHEMA columns — every
    cover cell of every geometry, plus what a downstream refine needs
    (geometry index + bbox bounds)."""
    rows, geoms = local_geometries(admin)
    recs = []
    for gi, (r, parts) in enumerate(zip(rows, geoms)):
        cells, full = _cover_geometry(parts, res)
        allv = np.vstack([rg for part in parts for rg in part])
        mnx, mny = float(allv[:, 0].min()), float(allv[:, 1].min())
        mxx, mxy = float(allv[:, 0].max()), float(allv[:, 1].max())
        recs.extend(
            (r["adm_id"], int(c), bool(f), gi, mnx, mny, mxx, mxy)
            for c, f in zip(cells.tolist(), full.tolist())
        )
    cover = pd.DataFrame(
        recs, columns=["adm_id", "cell_id", "full", "_gi", "_mnx", "_mny", "_mxx", "_mxy"]
    )
    return rows, geoms, cover


def cover_local(spark, admin: DataFrame, res: int):
    """:func:`cover_local_pdf` with the cover as a Spark DataFrame.

    Returns (adm_rows, geoms, cover_df). The cover carries everything a
    downstream refine needs, so ONE broadcast serves the whole PIP join —
    every extra tiny broadcast is a full defaultParallelism-task job
    (~0.3 s on this box). The cover DataFrame is single-slice (tiny local
    relation)."""
    rows, geoms, cover = cover_local_pdf(admin, res)
    # Arrow local relation, NOT createDataFrame(python_list): the pickled-
    # row RDD path costs ~7 s PER EVALUATION on this box (python worker
    # deserialization) even coalesced to 1 slice, and the cover is
    # re-evaluated by every broadcast — measured as the entire fixed
    # overhead of the sf0.1 flagship. The pandas→Arrow path is ~0.25 s.
    return rows, geoms, spark.createDataFrame(cover, schema=COVER_SCHEMA)


def pip_join(
    points: DataFrame,
    admin: DataFrame,
    res: int,
    lon_col: str = "lon_c",
    lat_col: str = "lat_c",
    refine: str = "wkb",
    cover: DataFrame | None = None,
    rings: list | None = None,
    adm_rows: list | None = None,
) -> DataFrame:
    """points (with lon/lat) ⨝ admin polygons. Returns points + adm_id.

    ``refine='auto'`` : geometry specialization — if every geometry is an
                        axis-aligned rectangle the exact refine lowers to a
                        pure-JVM between-predicate (zero extra Python
                        stages in the task pipeline); otherwise the generic
                        ray-cast UDF runs.
    ``refine='wkb'``  : force the generic exact ray-cast kernel.
    ``refine='bbox'`` : force the JVM between-predicate (rects only).

    ``cover``, ``rings`` and ``adm_rows`` are a prebuilt
    :func:`cover_local` result (``rings`` is its geometry list, parts
    form); without them the cover is built here.

    Every refine mode and the distributed path classify on-edge points by
    the one half-open rule of :func:`_points_in_rings`.
    """
    helper_cols = ["full", "_gi", "_mnx", "_mny", "_mxx", "_mxy"]
    lon, lat = f"`{lon_col}`", f"`{lat_col}`"
    pts = points.withColumn("cell_id", grid.encode_col(lon, lat, res))
    if cover is None or rings is None or adm_rows is None:
        try:
            adm_rows, rings, cover = cover_local(points.sparkSession, admin, res)
        except PolygonSetTooLarge:
            # large-geometry regime: nothing may pass through the driver —
            # switch to the fully distributed cover + per-row-WKB refine
            return pip_join_distributed(points, admin, res, lon_col, lat_col)
    if refine == "auto":
        refine = "bbox" if all(_is_axis_rect(g) for g in rings) else "wkb"
    cand = pts.join(F.broadcast(cover), "cell_id")
    if refine == "bbox":
        # exact refine for axis-rect geometries as codegen'd half-open
        # interval predicates (the bounds travel inside the single cover
        # broadcast) — zero extra Python stages in the task pipeline
        in_rect = f"{lon} >= _mnx AND {lon} < _mxx AND {lat} >= _mny AND {lat} < _mxy"
        return cand.where(F.expr(f"`full` OR ({in_rect})")).drop(*helper_cols)
    # interior shortcut: candidates in 'full' cells are inside by
    # construction (the UDF gets -1 and short-circuits them vectorized).
    # Kept as ONE plan branch: splitting full/edge into a union would
    # re-execute everything upstream of the candidates — including the
    # decode kernel — twice.
    refine_udf = contains_indexed_udf(rings)
    gi = F.when(F.col("full"), F.lit(-1)).otherwise(F.col("_gi"))
    return cand.where(refine_udf(F.col(lon_col), F.col(lat_col), gi)).drop(*helper_cols)


def pip_join_distributed(
    points: DataFrame,
    admin: DataFrame,
    res: int,
    lon_col: str = "lon_c",
    lat_col: str = "lat_c",
    cover: DataFrame | None = None,
    n_salt: int | None = None,
    hot_cells: DataFrame | None = None,
    hot_threshold: int | None = None,
) -> DataFrame:
    """PIP join for LARGE polygon tables (beyond MAX_LOCAL_POLYGONS): no
    driver collect, no geometry closure.

    Plan: distributed cover (polygon_cover_cells, one Arrow stage over the
    polygon table) → shuffle equi-join points⨝cover on cell_id → shuffle
    join on adm_id to attach each candidate's own WKB → exact ray-cast
    refine with contains_wkb_udf (batches factorized by geometry, so each ring
    parses once per batch, and interior-cell candidates skip the geometry
    entirely). Two shuffles + two Arrow stages — the shape that survives a
    10^6-polygon admin table on 1000 executors, where the broadcast plan
    cannot even build. Skew note: one giant polygon covering many cells
    concentrates its candidates on one adm_id; AQE skew-join handles the
    join side, and the refine is per-row so no single task must hold the
    polygon's whole candidate set.

    Semantics match pip_join(refine='wkb'): interior ('full') cells skip
    the ray cast, edge cells get the exact even-odd test.

    EXPLICIT skew handling (north rule): pass ``n_salt`` (with
    ``hot_cells`` or ``hot_threshold``) to salt the points⨝cover shuffle
    on hot cell ids — dense polygon areas concentrate cover rows on few
    cells, and in the beyond-broadcast regime (1e6+ polygons, where this
    plan is the only option) one hot cell otherwise pins its whole
    candidate set on one task. Hot cells spread n_salt ways; cover rows
    for hot cells replicate once per salt; results are IDENTICAL to the
    unsalted join (bench.py --pip-skew asserts this), only the shuffle
    layout changes. AQE's skew split remains the runtime fallback when
    salting is off.
    """
    pts = points.withColumn("cell_id", grid.encode_col(f"`{lon_col}`", f"`{lat_col}`", res))
    if cover is None:
        cover = polygon_cover_cells(admin, res)
    if n_salt is not None:
        from .skew import salted_join

        # ROW-unique salt, not value-derived: the canonical hot cell is
        # many points at the SAME coordinates (duplicated geotags, a
        # default location, a city centroid) — xxhash64(lon, lat) would
        # assign every such row ONE salt and spread nothing (measured:
        # 0.95x, i.e. pure overhead, on a planted same-coordinate hot
        # cell). monotonically_increasing_id is per-row; a task retry may
        # re-salt rows differently, which is harmless — any salt joins
        # the same replicated cover/geometry rows, so results are
        # identical under every salt assignment (pytest-asserted).
        salt_expr = F.xxhash64(
            F.col(lon_col), F.col(lat_col), F.monotonically_increasing_id()
        )
        cand = salted_join(
            pts, cover, "cell_id", n_salt,
            salt_expr=salt_expr,
            hot=hot_cells, threshold=hot_threshold,
        )
        # the WKB-attach join must be salted TOO: it keys on adm_id, and a
        # hot cell's candidates all carry the same adm_id — an unsalted
        # second exchange would re-funnel every candidate the first salt
        # just spread back onto ONE task, and the refine (whose per-row
        # cost is linear in ring vertices) would run hot-task-bound.
        # Measured on a planted 25%-hot cell with 512-vertex rings:
        # salting only the first join was a wash (1.03x); salting both
        # spreads the refine (bench.py --pip-skew).
        # When the caller selected hot CELLS explicitly (hot_cells given,
        # hot_threshold None — a combination that used to raise
        # ValueError inside the second salted_join, ADVICE r7), derive
        # the hot adm_ids by mapping those cells through the cover: an
        # adm_id is hot iff one of its cover cells is.
        if hot_threshold is None and hot_cells is not None:
            hot_adm = (
                cover.join(hot_cells, "cell_id")
                .select("adm_id")
                .distinct()
            )
            withwkb = salted_join(
                cand, admin.select("adm_id", "geom_wkb"), "adm_id", n_salt,
                salt_expr=salt_expr, hot=hot_adm,
            )
        else:
            withwkb = salted_join(
                cand, admin.select("adm_id", "geom_wkb"), "adm_id", n_salt,
                salt_expr=salt_expr, threshold=hot_threshold,
            )
    else:
        cand = pts.join(cover, "cell_id")
        withwkb = cand.join(admin.select("adm_id", "geom_wkb"), "adm_id")
    refine = contains_wkb_udf()
    keep = F.col("full") | refine(F.col(lon_col), F.col(lat_col), F.col("geom_wkb"))
    return withwkb.where(keep).drop("full", "geom_wkb")
