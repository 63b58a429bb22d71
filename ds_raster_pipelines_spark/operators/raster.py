"""Raster↔vector kernels: rasterize (polygon→per-tile pixel mask) and
pixel-level zonal statistics — the distributed form of the reference's
``ds.rio.clip(gdf.geometry)`` + per-admin mean loop
(``/root/reference/examples/era5_cogs.md:177,204-224``), at PIXEL
granularity (``all_touched``-style: every pixel whose *center* falls inside
the geometry contributes, matching rasterio's default clip semantics).

Plan shape (scale-first):
  1. PRUNE before decode: tiles whose centre cell is in no polygon's
     ring-expanded cover are dropped by pip.prune_tiles, a filter on
     driver-computed cells (no join, no broadcast) — the "clip when
     initially reading" move the reference wishes it did
     (era5_cogs.md:174-176).
  2. One Arrow kernel: decode tile → per-polygon reduction (count/sum or
     value histogram) over the pixel runs a scanline finds per centre row
     (native.zonal_runs). Pixels never leave the kernel; its rows carry
     the adm_id itself.
  3. Integer sums → groupBy(adm_id) exact aggregation.

Geometry dictionary ships via closure (admin tables are broadcast-small).
Every polygon takes the same path: a pixel counts when its centre is inside
by the half-open even-odd rule of pip._points_in_rings (pip_join's one rule),
which is also the per-pixel fallback when no C compiler is present.

Every tile kernel here (zonal, histogram, coarsen, vectorize, resample,
reproject) is one ``mapInArrow`` stage that reads its batch through
``sources.images.TileBatch`` and keeps only its own reduction: decode,
payload-size and decoded-shape checks, COG overview reads and the F3
orientation flips all live in the reader. Coarsen, vectorize, resample and
reproject reduce (n, h, w) stacks from ``TileBatch.stacks``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import grid, native
from ..sources.images import TileBatch
from .pip import _points_in_rings, cover_cells_driver, local_geometries, prune_tiles


def zonal_pixel_stats(
    images: DataFrame,
    admin: DataFrame,
    res: int,
    span_deg: float = 0.25,
    overview_level: int = 0,
) -> DataFrame:
    """Per-admin pixel mean/count over decoded tiles.

    ``images`` must carry the footprint anchor columns ``lon0`` (west
    edge) and ``lat_top`` (north edge); each tile spans ``span_deg``
    degrees. The kernel is corpus-agnostic — it reads the geo-transform
    from columns, never from an id formula (attach them with e.g.
    corpus.footprint_cols_for_images). Tiles stored in flipped pixel
    order are normalized via optional ``lon_ascending`` /
    ``lat_descending`` boolean columns (F3 check-and-flip,
    reference raster_utils.py:42-73).

    ``overview_level`` > 0 reads the tiles' REDUCED-RESOLUTION pages
    instead of full resolution (COG corpora only — the zoomed-out read
    path a COG exists for: each level halves both dims, so level L scans
    4^-L of the pixels). The geo-transform scales automatically (pixel
    centres derive from the per-level dims).

    Output: (adm_id, px_count, px_sum, px_mean) — integer-exact sums, so
    bit-identical across engines and parallelism levels.
    """
    return _zonal_pixel_reduce(
        images, admin, res, span_deg, overview_level, mode="stats"
    )


def zonal_value_histogram(
    images: DataFrame,
    admin: DataFrame,
    res: int,
    span_deg: float = 0.25,
    overview_level: int = 0,
) -> DataFrame:
    """Per-admin pixel-VALUE histogram over decoded tiles — the
    landcover-fraction / class-composition zonal aggregate (per-zone
    per-class pixel counts; rasterstats' ``categorical=True``). Same
    prune + scanline machinery as zonal_pixel_stats, but the kernel's
    per-geometry reduction is a 256-bin value count instead of a sum: a
    batch leaves the kernel as <= n_geoms x 256 rows no matter how many
    pixels it decoded — the map-side-partial shape a 100 TB
    class-composition scan needs.

    Output: (adm_id, value, n_px), only (zone, value) pairs that occur.
    """
    return _zonal_pixel_reduce(
        images, admin, res, span_deg, overview_level, mode="hist"
    )


def zonal_majority(
    images: DataFrame,
    admin: DataFrame,
    res: int,
    span_deg: float = 0.25,
    overview_level: int = 0,
) -> DataFrame:
    """Per-admin MAJORITY pixel value (zonal mode — dominant landcover
    class per zone), with the deterministic (n_px desc, value asc)
    tie-break. Output: (adm_id, mode_value, mode_px, px_count)."""
    hist = zonal_value_histogram(images, admin, res, span_deg, overview_level)
    w = Window.partitionBy("adm_id").orderBy(F.col("n_px").desc(), F.col("value"))
    return (
        hist.withColumn("_rk", F.row_number().over(w))
        .withColumn("px_count", F.sum("n_px").over(Window.partitionBy("adm_id")))
        .where(F.col("_rk") == 1)
        .select(
            "adm_id",
            F.col("value").alias("mode_value"),
            F.col("n_px").alias("mode_px"),
            "px_count",
        )
        .orderBy("adm_id")
    )


def _zonal_pixel_reduce(
    images: DataFrame,
    admin: DataFrame,
    res: int,
    span_deg: float,
    overview_level: int,
    mode: str,
) -> DataFrame:
    missing = {"lon0", "lat_top"} - set(images.columns)
    if missing:
        raise ValueError(f"images needs footprint columns {sorted(missing)}")
    # the kernel ships the geometry dictionary in its closure: the guarded
    # reader refuses beyond the broadcast-small regime
    rows, geoms = local_geometries(admin)
    adm_ids = np.array([r["adm_id"] for r in rows], dtype=object)
    half = span_deg / 2.0

    # 1. prune tiles before decode, on the tile centre's cell. The cover is
    # expanded by straddle rings: a tile can straddle a cell edge, putting
    # pixels in a covered cell while its centre cell is outside. The ring
    # count scales with the tile span — a fixed one-ring disk silently
    # drops contributing tiles once span_deg exceeds the cell width at
    # ``res`` (5.625 deg at res 6). All driver-side: zero Spark jobs.
    cell_width = 360.0 / grid.nx_ny(res)[0]
    n_rings = max(1, int(np.ceil(span_deg / cell_width)))
    expanded: set[int] = set()
    for c in cover_cells_driver(geoms, res):
        expanded.update(grid.grid_disk_np(c, n_rings))
    pruned = prune_tiles(
        images,
        np.fromiter(expanded, np.int64),
        f"`lon0` + {grid.dbl_sql(half)}",
        f"`lat_top` - {grid.dbl_sql(half)}",
        res,
    )

    # 2. decode + per-polygon reduction in one Arrow kernel. Tiles are
    # pre-checked against per-PART exterior bboxes: with the geometry bbox a
    # 2-part geometry spanning the globe would scan every tile in between.
    g_edges = [np.vstack([np.hstack([r[:-1], r[1:]]) for p in g for r in p]) for g in geoms]
    edges = np.ascontiguousarray(np.vstack(g_edges + [np.zeros((0, 4))]), dtype=np.float64)
    edge_off = np.cumsum([0] + [len(e) for e in g_edges], dtype=np.int64)
    part_bbox = [
        (g, p[0][:, 0].min(), p[0][:, 1].min(), p[0][:, 0].max(), p[0][:, 1].max())
        for g, parts in enumerate(geoms)
        for p in parts
    ]
    n_geoms = len(geoms)
    schema = "adm_id string, " + (
        "value int, n_px bigint" if mode == "hist" else "px_count bigint, px_sum bigint"
    )
    out_names = [c.split()[0] for c in schema.split(", ")]

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            tb = TileBatch(b, overview_level)
            lon0 = b.column("lon0").to_numpy(zero_copy_only=False).astype(np.float64)
            lat_top = b.column("lat_top").to_numpy(zero_copy_only=False).astype(np.float64)
            # 1) (tile k, geometry g) pairs whose bboxes meet
            pairs = [np.zeros(0, dtype=np.int64)]
            for g, rx0, ry0, rx1, ry1 in part_bbox:
                hit = (
                    (lon0 <= rx1) & (lon0 + span_deg >= rx0)
                    & (lat_top - span_deg <= ry1) & (lat_top >= ry0)
                )
                pairs.append(np.flatnonzero(hit) * n_geoms + g)
            pair = np.unique(np.concatenate(pairs))
            pair_k, pair_g = pair // n_geoms, pair % n_geoms
            # 2) decode each hit tile once, flips applied, into one buffer
            hit_k = np.unique(pair_k)
            # per tile on purpose: only hit tiles, ragged, at their offsets
            tiles = [np.zeros(0, dtype=np.uint8)] + [tb.pixels(k).ravel() for k in hit_k]
            px_off = np.zeros(tb.n, dtype=np.int64)
            px_off[hit_k] = np.cumsum([t.size for t in tiles[:-1]])
            px = np.concatenate(tiles)
            # 3-5) one scanline call over every pair, or the reference
            out = np.zeros((n_geoms, 256 if mode == "hist" else 2), dtype=np.int64)
            _reduce_pairs(px, px_off, tb.w, tb.h, lon0, lat_top, span_deg, edges, edge_off,
                          geoms, pair_k, pair_g, out)
            if mode == "hist":
                gi, val = np.nonzero(out)
                cols = [val.astype(np.int32), out[gi, val]]
            else:
                gi = np.flatnonzero(out[:, 0])
                cols = [out[gi, 0], out[gi, 1]]
            yield pa.RecordBatch.from_arrays(
                [pa.array(adm_ids[gi], pa.string()), *map(pa.array, cols)], names=out_names
            )

    # project to EXACTLY the columns the kernel reads before the Python
    # boundary (guide §4.1): mapInArrow is opaque to column pruning, so
    # without this every tile also ships its caption/phash/id payload
    # through Arrow (and reads them off parquet).
    partial = TileBatch.select(pruned, "lon0", "lat_top").mapInArrow(kernel, schema=schema)

    # 3. exact integer aggregation. No global orderBy: a range sort adds a
    # sampling job and an exchange for one row per zone, and consumers
    # re-shuffle (zonal_majority/_quantiles) or row-sort (the oracle).
    if mode == "hist":
        return partial.groupBy("adm_id", "value").agg(F.sum("n_px").alias("n_px"))
    return (
        partial.groupBy("adm_id")
        .agg(F.sum("px_count").alias("px_count"), F.sum("px_sum").alias("px_sum"))
        .select(
            "adm_id",
            "px_count",
            "px_sum",
            (F.col("px_sum").cast("double") / F.col("px_count")).alias("px_mean"),
        )
    )


def _reduce_pairs(px, px_off, ws, hs, lon0, lat_top, span_deg, edges, edge_off,
                  geoms, pair_k, pair_g, out) -> None:
    """Add each (tile pair_k[p], geometry pair_g[p]) pair's pixels into
    ``out`` (see native.zonal_runs): one scanline call, or without the
    native library the per-pixel ray cast it reproduces bit for bit."""
    if not len(pair_k) or native.zonal_runs(
        px, px_off, ws, hs, lon0, lat_top, span_deg, edges, edge_off, pair_k, pair_g, out
    ):
        return
    for k, g in zip(pair_k, pair_g):
        w, h = int(ws[k]), int(hs[k])
        lon, lat = np.meshgrid(
            lon0[k] + (np.arange(w) + 0.5) * (span_deg / w),
            lat_top[k] - (np.arange(h) + 0.5) * (span_deg / h),
        )
        inside = _points_in_rings(lon.ravel(), lat.ravel(), geoms[g])
        vals = px[px_off[k] : px_off[k] + w * h][inside]
        if out.shape[1] == 2:
            out[g] += (vals.size, vals.sum(dtype=np.int64))
        else:
            out[g] += np.bincount(vals, minlength=256)


def pixel_histogram(images: DataFrame) -> DataFrame:
    """Corpus-wide pixel-value histogram: per-row value counts
    (TileBatch.histograms — one C pass over the raw/qnt payloads in place,
    a bincount per decoded tile), summed into per-batch partial counts,
    then an exact integer groupBy(value) aggregation.

    The map-side bincount is the partial-aggregate trick at kernel level:
    a batch of B 64x64 tiles leaves the kernel as ≤256 rows, so the
    shuffle is O(batches x 256) regardless of pixel count — the right
    shape for value-distribution scans (nodata audits, QC thresholds,
    radiometric drift) over a 100 TB corpus. Honors the F3 orientation
    flags trivially (histogram is flip-invariant; flags need no action).

    Output: (value int, n_px bigint), only values that occur.
    """

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            counts = TileBatch(b).histograms().sum(axis=0)
            nz = np.nonzero(counts)[0]
            yield pa.RecordBatch.from_arrays(
                [pa.array(nz.astype(np.int32)), pa.array(counts[nz])],
                names=["value", "n_px"],
            )

    partial = TileBatch.select(images).mapInArrow(kernel, schema="value int, n_px bigint")
    return partial.groupBy("value").agg(F.sum("n_px").alias("n_px"))


def coarsen_histogram(images: DataFrame, factor: int = 2, quant: int = 1000) -> DataFrame:
    """Spatial downsample (xarray ``coarsen``-style block mean, the
    reference's resample-to-coarser-grid step) fused with a value
    histogram: decode → (h/f, f, w/f, f) block-mean reduction per tile →
    milli-quantized exact counts. The coarsened pixels never leave the
    kernel; a batch exits as one row per distinct coarse value — the same
    map-side-partial shape as pixel_histogram, so resampling a 100 TB
    corpus shuffles kilobytes.

    Output: (value_milli bigint, n_px bigint) where value_milli =
    round(block_mean * quant).
    """

    def _block_sum(stack: np.ndarray, f: int) -> np.ndarray:
        """Exact integer block sums of a (n, h, w) uint8 stack.  For the
        practical factors (f <= 16, block sum <= 255*f*f < 2^16) the sum
        accumulates f*f strided uint16 adds — r8 measured 12x over the
        reshape + multi-axis int64 sum, which iterates the 5-D view with
        upcasting; bigger factors keep the general form."""
        n, h, w = stack.shape
        ch, cw = h // f, w // f
        v = stack[:, : ch * f, : cw * f]
        if 255 * f * f <= np.iinfo(np.uint16).max:
            acc = np.zeros((n, ch, cw), dtype=np.uint16)
            for dy in range(f):
                for dx in range(f):
                    acc += v[:, dy::f, dx::f]
            return acc.astype(np.int64)
        return v.reshape(n, ch, f, cw, f).sum(axis=(2, 4), dtype=np.int64)

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            # per-BATCH tally: r8 measured the old per-tile np.unique
            # (a sort per entropy-coded tile) at >half the kernel — all
            # coarse values accumulate into one array and a single
            # unique/bincount-style pass emits the partial counts
            scale = quant / (factor * factor)
            parts = [np.zeros(0, dtype=np.int64)] + [
                np.rint(_block_sum(stack, factor) * scale).astype(np.int64).ravel()
                for _, stack in TileBatch(b).stacks()
            ]
            # values are bounded (block means of uint8 pixels times quant:
            # 0..255*quant), so a bincount + nonzero replaces the sort-based
            # np.unique (r8 measured 83 -> 7 ms per 2M-value batch);
            # identical (value, count) pairs.
            cnt_full = np.bincount(np.concatenate(parts), minlength=255 * quant + 1)
            vals = np.nonzero(cnt_full)[0].astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(vals, pa.int64()), pa.array(cnt_full[vals], pa.int64())],
                names=["value_milli", "n_px"],
            )

    partial = TileBatch.select(images).mapInArrow(kernel, schema="value_milli bigint, n_px bigint")
    return partial.groupBy("value_milli").agg(F.sum("n_px").alias("n_px"))


def vectorize_mask(images: DataFrame, threshold: int, span_deg: float = 0.25) -> DataFrame:
    """Mask→vector extraction: per tile, the bounding boxes of the
    connected runs of pixels >= threshold, emitted as lon/lat rects —
    the inverse kernel of rasterize (reference writes rasters only; this
    gives the engine the mask→polygon direction). Row-run variant (exact
    for our column-gradient tiles; a full CCL is a plug-in kernel).

    Requires footprint columns ``lon0``/``lat_top`` (attach with
    corpus.footprint_cols_for_images); honors the F3 orientation flags."""
    missing = {"lon0", "lat_top"} - set(images.columns)
    if missing:
        raise ValueError(f"images needs footprint columns {sorted(missing)}")

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            tb = TileBatch(b)
            ii = b.column("i").to_numpy(zero_copy_only=False).astype(np.int64)
            lon0 = b.column("lon0").to_numpy(zero_copy_only=False).astype(np.float64)
            lat_top = b.column("lat_top").to_numpy(zero_copy_only=False).astype(np.float64)
            # per tile: first masked row/column, one past the last, count
            y0, y1, x0, x1, npx = (np.zeros(tb.n, dtype=np.int64) for _ in range(5))
            for rows, stack in tb.stacks():
                if not stack.size:  # zero-pixel tiles mask nothing
                    continue
                mask = stack >= threshold
                for lo, hi, hit in ((y0, y1, mask.any(axis=2)), (x0, x1, mask.any(axis=1))):
                    lo[rows] = hit.argmax(axis=1)
                    hi[rows] = hit.shape[1] - hit[:, ::-1].argmax(axis=1)
                npx[rows] = mask.sum(axis=(1, 2))
            k = np.flatnonzero(npx)
            w, h = tb.w[k], tb.h[k]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ii[k]),
                    pa.array(lon0[k] + x0[k] * span_deg / w),
                    pa.array(lat_top[k] - y1[k] * span_deg / h),
                    pa.array(lon0[k] + x1[k] * span_deg / w),
                    pa.array(lat_top[k] - y0[k] * span_deg / h),
                    pa.array(npx[k]),
                ],
                names=["i", "min_lon", "min_lat", "max_lon", "max_lat", "n_px_masked"],
            )

    return TileBatch.select(images, "i", "lon0", "lat_top").mapInArrow(
        kernel,
        schema="i bigint, min_lon double, min_lat double, max_lon double, max_lat double, n_px_masked bigint",
    )


# ------------------------------------------------- bilinear resample ------


def bilinear_resample(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Arbitrary-ratio bilinear resample (float64 output) — the kernel of
    the reference's grid-alignment step (``reproject_match`` onto a
    differently-spaced lat/lon grid, examples/mars_aws_seas5_grid.md:61-72)
    for the axis-aligned EPSG:4326 case, where reprojection IS separable
    per-axis interpolation.

    Pixel-center convention (GDAL/rasterio): output center x maps to
    source coordinate u = (x + 0.5) * (w / out_w) - 0.5, clamped to the
    edge (replicate). Separable: one vectorized 1-D pass per axis — no
    per-pixel Python, no scipy."""
    a = px.astype(np.float64)

    def axis_interp(arr: np.ndarray, n_out: int, axis: int) -> np.ndarray:
        # axis is -2 (rows) or -1 (cols): arbitrary leading batch dims are
        # supported — the math is pure elementwise lerp + gather, so a
        # stacked call is bit-identical to per-tile calls (pytest-pinned)
        lo, hi, frac = _interp_tables(arr.shape[axis], n_out)
        lo_v = np.take(arr, lo, axis=axis)
        hi_v = np.take(arr, hi, axis=axis)
        if axis == -2:
            frac = frac[:, None]
        return lo_v + (hi_v - lo_v) * frac

    return axis_interp(axis_interp(a, out_h, -2), out_w, -1)


def _interp_tables(n_in: int, n_out: int):
    """(lo, hi, frac) gather tables of one axis (see bilinear_resample),
    shared by bilinear_resample and the native kernel so the C lerp
    consumes bit-identical inputs."""
    u = (np.arange(n_out) + 0.5) * (n_in / n_out) - 0.5
    u = np.clip(u, 0.0, n_in - 1.0)
    lo = np.floor(u).astype(np.int64)
    hi = np.minimum(lo + 1, n_in - 1)
    frac = np.ascontiguousarray(u - lo, dtype=np.float64)
    return lo, hi, frac


def resample_bilinear_stats(
    images: DataFrame, out_w: int, out_h: int, quant: int = 1_000_000
) -> DataFrame:
    """Decode each tile, bilinear-resample to (out_h, out_w), and emit the
    resampled mean in integer ``quant`` units — (i, w2, h2, rs_mean_q).
    One Arrow stage (decode + resample fused: resampled pixels never
    materialize outside the kernel, same scan-pipelining story as the
    zonal kernels). Exactness: means are rounded to integer units inside
    the kernel, so downstream aggregation is order-independent."""

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            tb = TileBatch(b)
            n = tb.n
            # one separable interp per stack, in C (r8 s4: 37.6 -> ~7
            # us/tile at sf1.0) or numpy; both are elementwise over the same
            # tables, so bit-identical to per-tile calls (pytest-pinned).
            # Row means reduce each tile's floats in the same pairwise
            # order as rs.mean() per tile.
            means = np.empty(n, dtype=np.float64)
            for rows, stack in tb.stacks():
                _, th, tw = stack.shape
                tabs = (*_interp_tables(th, out_h), *_interp_tables(tw, out_w))
                rs = np.empty((len(rows), out_h, out_w), dtype=np.float64)
                tmp = np.empty(out_h * tw, dtype=np.float64)
                if not native.bilinear_stack(stack, tabs, rs, tmp):
                    rs = bilinear_resample(stack, out_h, out_w)
                means[rows] = rs.reshape(len(rows), -1).mean(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("i"),
                    pa.array(np.full(n, out_w, dtype=np.int32)),
                    pa.array(np.full(n, out_h, dtype=np.int32)),
                    pa.array(np.rint(means * quant).astype(np.int64)),
                ],
                names=["i", "w2", "h2", "rs_mean_q"],
            )

    return TileBatch.select(images, "i").mapInArrow(
        kernel, schema="i bigint, w2 int, h2 int, rs_mean_q bigint"
    )


# ------------------------------------------- cross-CRS reprojection -------


WEBMERC_MAX_LAT = 85.0511  # Web-Mercator domain clip (spec: ±85.051129)


def merc_y(lat_deg: np.ndarray) -> np.ndarray:
    """Unit-sphere Mercator northing: y = ln(tan(π/4 + φ/2)). The sphere
    radius cancels out of every grid mapping below, so R never appears."""
    return np.log(np.tan(np.pi / 4.0 + np.radians(lat_deg) / 2.0))


def webmercator_row_map(
    lat_top: float, span_deg: float, src_h: int, out_h: int
) -> np.ndarray:
    """Fractional SOURCE row index for each output row of an output grid
    that is uniform in Web-Mercator northing over the tile's lat span
    (the reproject_match analog for EPSG:4326 → EPSG:3857,
    /root/reference/examples/mars_aws_seas5_grid.md:61-72). The x axis
    needs no map: Mercator easting is linear in longitude, so for an
    axis-aligned tile the warp is separable and columns pass through.

    Pixel-center convention both ways (GDAL/rasterio): output row r sits
    at northing y_t − (r+0.5)·(y_t−y_b)/out_h; source rows are uniform in
    LATITUDE at lat_top − (s+0.5)·span/src_h. Clamped to [0, src_h−1]
    (edge replicate). Mirrors the SQL oracle's formula term for term."""
    lat_bot = lat_top - span_deg
    if lat_top > WEBMERC_MAX_LAT or lat_bot < -WEBMERC_MAX_LAT:
        raise ValueError("tile outside the Web-Mercator domain (|lat| > 85.0511)")
    y_t = merc_y(np.float64(lat_top))
    y_b = merc_y(np.float64(lat_bot))
    r = np.arange(out_h, dtype=np.float64)
    y_r = y_t - (r + 0.5) * (y_t - y_b) / out_h
    phi = np.degrees(2.0 * np.arctan(np.exp(y_r)) - np.pi / 2.0)
    u = (src_h / span_deg) * (lat_top - phi) - 0.5
    return np.clip(u, 0.0, src_h - 1.0)


def warp_rows(px: np.ndarray, u: np.ndarray, subpix: int = 256) -> np.ndarray:
    """1-D vertical warp: bilinear along axis 0 at fractional source rows
    ``u``, with source coordinates snapped to 1/subpix of a pixel first —
    the fixed-subpixel-precision discipline of real warpers (GDAL does
    the same), which ALSO makes every interpolated value an exact dyadic
    rational: downstream fixed-point sums are bit-reproducible across
    engines and partitionings."""
    uq = np.rint(u * subpix) / subpix
    lo = np.floor(uq).astype(np.int64)
    hi = np.minimum(lo + 1, px.shape[0] - 1)
    frac = (uq - lo)[:, None]
    a = px.astype(np.float64)
    return a[lo] + (a[hi] - a[lo]) * frac


def reproject_webmercator(px: np.ndarray, lat_top: float, span_deg: float = 0.25) -> np.ndarray:
    """Equirectangular (EPSG:4326) tile → Web-Mercator (EPSG:3857) grid
    over the same footprint. Separable closed form: row warp only."""
    return warp_rows(px, webmercator_row_map(lat_top, span_deg, px.shape[0], px.shape[0]))


def reproject_webmercator_sum256(images: DataFrame) -> DataFrame:
    """Graded reprojection surface: decode each tile, TRANSPOSE it (the
    corpus gradient runs along x; the transpose makes pixel values vary
    with the warped axis, so a row-map bug becomes a value divergence —
    an unwarped-axis gradient would hide it), reproject to the
    Web-Mercator grid over the tile's own footprint, and emit the warped
    pixel sum in exact 1/256 fixed-point units as a bigint. With 1/256
    subpixel snapping every warped value is dyadic, so the ×256 sum is an
    exact integer — bit-reproducible across engines and partitionings.
    ONE Arrow stage (decode + transpose + warp + sum fused). The warp runs
    in integers on the tiles of a stack that share a latitude band, with
    one row map per band and batch: with uq = rint(u·256), lo = uq >> 8
    and F = uq & 255, output ×256 is (256−F)·a[lo] + F·a[hi] ≤ 255·256,
    exactly ``warp_rows`` ×256, in uint16. On the stored corpora a
    128-row stack in storage order holds about one tile per band, so the
    band loop runs about once per tile; the saving is the cached row map
    and the integer warp, not work shared across tiles.
    ``reproject_webmercator`` per tile is its test twin."""

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            tb = TileBatch(b)
            lat_top = b.column("lat_top").to_numpy(zero_copy_only=False).astype(np.float64)
            out_s = np.zeros(tb.n, dtype=np.int64)
            maps = {}  # (lat_top, width) -> (lo, hi, F): one row map per band
            for rows, stack in tb.stacks():
                # rows of the transpose are columns: warp along x in place
                n_x = stack.shape[2]
                bands, band = np.unique(lat_top[rows], return_inverse=True)
                for j, lat in enumerate(bands):
                    if (lat, n_x) not in maps:
                        uq = np.rint(webmercator_row_map(lat, 0.25, n_x, n_x) * 256).astype(np.int64)
                        lo = uq >> 8
                        maps[lat, n_x] = lo, np.minimum(lo + 1, n_x - 1), (uq & 255).astype(np.uint16)
                    lo, hi, f = maps[lat, n_x]
                    a = stack[band == j]
                    warped = (256 - f) * a[:, :, lo] + f * a[:, :, hi]
                    out_s[rows[band == j]] = warped.sum(axis=(1, 2), dtype=np.int64)
            yield pa.RecordBatch.from_arrays(
                [b.column("i"), pa.array(out_s)], names=["i", "rp_sum_256"]
            )

    return TileBatch.select(images, "i", "lat_top").mapInArrow(
        kernel, schema="i bigint, rp_sum_256 bigint"
    )


def zonal_quantiles(
    images: DataFrame,
    admin: DataFrame,
    res: int,
    q_bps: tuple[int, ...] = (5000, 9000),
    span_deg: float = 0.25,
    overview_level: int = 0,
) -> DataFrame:
    """Per-admin EXACT pixel-value quantiles, derived from the
    zonal_value_histogram reduction: with uint8 pixels the full
    per-zone value distribution is <= 256 rows, so exact order
    statistics need no sort of pixels and no sketch — the q-th quantile
    is the smallest value whose cumulative count clears q (integer
    cross-multiplication: cum * 10000 >= q_bp * total, so quantile
    selection is bit-exact across engines). This is the bounded-domain
    special case where the exact answer costs the same as the
    approximate one; for continuous-valued rasters see
    operators/sketches.quantile_sketch (mergeable histogram state).

    Output: (adm_id, px_count, q<bp>_value ...) one column per q_bp.
    """
    hist = zonal_value_histogram(images, admin, res, span_deg, overview_level)
    w_cum = (
        Window.partitionBy("adm_id")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("n_px").over(w_cum)).withColumn(
        "total", F.sum("n_px").over(Window.partitionBy("adm_id"))
    )
    aggs = [F.max("total").alias("px_count")]
    for q in q_bps:
        aggs.append(
            F.min(
                F.when(F.col("cum") * 10000 >= F.lit(q) * F.col("total"), F.col("value"))
            ).alias(f"q{q}_value")
        )
    return cum.groupBy("adm_id").agg(*aggs).orderBy("adm_id")
