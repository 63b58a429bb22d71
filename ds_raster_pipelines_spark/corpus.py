"""Deterministic synthetic image+caption corpus and admin polygons.

Shape per BASELINE.json input_hint:
    images(image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
           caption:string, phash:int64)

Every field of image ``i`` is a closed-form function of ``i`` (FIXTURES.md
§1), so the DuckDB oracle can verify the *decoded* pipeline output
analytically without ever seeing the bytes:

    pixels[py, px] = px + (i % 97)                (uint8, max 159 — no wrap)
    fmt            = qnt if i%16==0 else png if i%4==0 else raw
    decoded mean   = (i%97) + 31.5   lossless   |  (i%97) + 31.0   qnt
    decoded min    = (i%97)          lossless   |  c - c%2         qnt
    decoded max    = (i%97) + 63     lossless   |  (c+63)-(c+63)%2 qnt
    caption        = "tile {i} of synthetic corpus"   (byte-exact propagation)
    phash          = (i * 2654435761) % 2147483647
    footprint      = 0.25 deg tile on the ERA5-style global grid
                     (reference src/config/era5_config.yml grid_resolution),
                     filled in strided order so any prefix of ids spreads
                     over the whole globe:
                     lon0 = -180 + 0.25*((i*13) % 1440),
                     lat_top = 90 - 0.25*((i*7) % 720)

Admin polygons (FIXTURES.md §2): 28 disjoint integer-bound rectangles + 4
rectangles stacked over one hot region (induces hot-cell skew for the
salted-join path). Integer bounds guarantee no centroid-on-edge ties
(centroids sit at x.125 offsets).
"""

from __future__ import annotations

import os
import shutil
import struct
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codecs

TILE_W = 64
TILE_H = 64
C_MOD = 97  # pixel offset modulus
PHASH_A = 2654435761
PHASH_P = 2147483647

# ------------------------------------------------------------- numpy gen ---


def pixels_for(i: int) -> np.ndarray:
    """Ground-truth uint8 pixels of image i (pre-encoding)."""
    px = np.arange(TILE_W, dtype=np.uint8)
    row = px + np.uint8(i % C_MOD)
    return np.tile(row, (TILE_H, 1))


def fmt_for(i: int) -> str:
    if i % 16 == 0:
        return "qnt"
    if i % 4 == 0:
        return "png"
    return "raw"


def caption_for(i: int) -> str:
    return f"tile {i} of synthetic corpus"


def expected_decoded_mean(i: int) -> float:
    c = i % C_MOD
    return c + (31.0 if fmt_for(i) == "qnt" else 31.5)


# ------------------------------------------------------------- spark gen ---

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash bigint"
)


def images_from_ids(
    ids: DataFrame,
    id_col: str = "i",
    partitions: int | None = None,
    extra_cols: list[str] | None = None,
    orientation: str = "canonical",
    fmt_override: str | None = None,
) -> DataFrame:
    """Build the images table from a DataFrame of int64 ids.

    Metadata columns are pure JVM expressions; only the byte payload is
    produced in an Arrow-batched kernel (mapInPandas) — vectorized pixel
    synthesis, per-row only for the entropy-coded png format.

    The id stream is repartitioned before the kernel: the testdata tables
    are single parquet files (1 scan partition), which would serialize the
    whole decode on one core. On a real Iceberg corpus the scan already
    has file-level parallelism; pass ``partitions=0`` to skip the shuffle.

    ``orientation`` models the reference's south-up / lon-descending
    sources (raster_utils.py check-and-flip, F3): ``flip_lon`` stores each
    tile mirrored along x with ``lon_ascending=false``; ``flip_lat``
    stores it mirrored along y with ``lat_descending=false``. Footprints
    are unchanged — only the pixel storage order differs; decode kernels
    normalize back using the flag columns.

    ``fmt_override`` stores every tile in one format instead of the
    default raw/png/qnt mix — e.g. ``"tif"`` (strip PackBits TIFF) or
    ``"cog"`` (tiled TIFF + overview), the reference's on-disk formats.
    """
    if orientation not in ("canonical", "flip_lon", "flip_lat"):
        raise ValueError(orientation)
    if fmt_override is not None and fmt_override not in codecs.ALL_FMTS:
        raise ValueError(fmt_override)
    if partitions != 0:
        n_parts = partitions or ids.sparkSession.sparkContext.defaultParallelism
        ids = ids.repartition(n_parts, id_col)
    extra_cols = extra_cols or []
    orient_meta = []
    if orientation != "canonical":
        orient_meta = [
            F.lit(orientation != "flip_lon").alias("lon_ascending"),
            F.lit(orientation != "flip_lat").alias("lat_descending"),
        ]
    meta = ids.select(
        *[F.col(c) for c in extra_cols],
        F.col(id_col).cast("long").alias("i"),
        F.format_string("img%010d", F.col(id_col)).alias("image_id"),
        F.lit(TILE_W).cast("int").alias("w"),
        F.lit(TILE_H).cast("int").alias("h"),
        (
            F.lit(fmt_override)
            if fmt_override
            else F.when(F.col(id_col) % 16 == 0, "qnt")
            .when(F.col(id_col) % 4 == 0, "png")
            .otherwise("raw")
        ).alias("fmt"),
        F.concat(F.lit("tile "), F.col(id_col).cast("string"), F.lit(" of synthetic corpus")).alias(
            "caption"
        ),
        ((F.col(id_col) * F.lit(PHASH_A)) % F.lit(PHASH_P)).cast("long").alias("phash"),
        *orient_meta,
    )

    extra_schema = "".join(
        f"{f.name} {f.dataType.simpleString()}, "
        for f in ids.schema.fields
        if f.name in extra_cols
    )
    out_schema = extra_schema + "i bigint, " + IMAGES_SCHEMA
    out_cols = extra_cols + ["i", "image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    if orientation != "canonical":
        out_schema += ", lon_ascending boolean, lat_descending boolean"
        out_cols += ["lon_ascending", "lat_descending"]

    def gen_bytes(batches):
        px_base = np.arange(TILE_W, dtype=np.uint8)
        for pdf in batches:
            ii = pdf["i"].to_numpy()
            offs = (ii % C_MOD).astype(np.uint8)
            # (B, h, w) vectorized synthesis
            rows = px_base[None, :] + offs[:, None]
            blobs = []
            for i, r, f in zip(ii, rows, pdf["fmt"].to_numpy()):
                tile = np.tile(r, (TILE_H, 1))
                if orientation == "flip_lon":
                    tile = tile[:, ::-1]
                elif orientation == "flip_lat":
                    tile = tile[::-1, :]
                meta = None
                if f in ("nc", "nc4", "nc_packed", "nc4_packed"):
                    # the NetCDF container embeds real georeferencing —
                    # coordinate vars must agree with the footprint columns
                    # (footprint_cols_for_images) so a consumer reading the
                    # blob's own lat/lon lands on the same grid
                    meta = {
                        "lon0": -180.0 + 0.25 * ((int(i) * 13) % 1440),
                        "lat_top": 90.0 - 0.25 * ((int(i) * 7) % 720),
                        "span_deg": 0.25,
                        "date_days": int(i) % 366,
                    }
                blobs.append(codecs.encode_tile(np.ascontiguousarray(tile), f, meta))
            pdf = pdf.assign(bytes=pd.Series(blobs, index=pdf.index, dtype=object))
            yield pdf[out_cols]

    # pandas frame on purpose: the generator carries the caller's extra
    # columns through unchanged (pdf.assign + projection)
    return meta.mapInPandas(gen_bytes, schema=out_schema)


# Generator version — bump when the corpus definition changes so stale
# materializations are regenerated.
CORPUS_VERSION = "v3-pcell"

# Iceberg-style layout: the corpus is partitioned by the parent cell of the
# tile centroid at this resolution, so spatial prunes become PARTITION
# pruning — pruned tiles' bytes are never read, not merely filtered.
# res 5 → ≤2048 directories; repartition("pcell") gives one file per dir.
PCELL_RES = 5


def _with_pcell(df: DataFrame, id_col: str = "i") -> DataFrame:
    from . import grid

    pts = centroid_cols_for_images(df, id_col)
    return pts.withColumn(
        "pcell", grid.encode_col("lon_c", "lat_c", PCELL_RES)
    ).drop("lon_c", "lat_c")


def _write_corpus(
    ids: DataFrame,
    path: str,
    id_col: str = "i",
    n_rows: int | None = None,
    orientation: str = "canonical",
    fmt_override: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Generate + write the corpus partitioned by pcell.

    Order matters at scale: the pcell shuffle happens on the ID STREAM
    (longs), BEFORE byte generation — shuffling generated bytes would move
    the whole corpus (16 GB at 4M tiles) through the exchange. After the
    cheap shuffle each task holds few pcells, so partitionBy produces few,
    large files.

    Directory partitioning only pays when partitions are well-filled; for
    small corpora (< ~500 rows/pcell) pcell stays a plain column and the
    spatial prune becomes a pushed parquet filter instead of partition
    pruning — same semantics, no small-files explosion."""
    ids_p = _with_pcell(ids.select(F.col(id_col).cast("long").alias("i")))
    if n_rows is None:
        n_rows = ids_p.count()
    if n_rows >= 500 * (1 << (2 * PCELL_RES + 1)):
        n_parts = max(ids.sparkSession.sparkContext.defaultParallelism * 2, 64)
        ids_p = ids_p.repartitionByRange(n_parts, "pcell", "i")
        images = images_from_ids(
            ids_p, partitions=0, extra_cols=["pcell"], orientation=orientation,
            fmt_override=fmt_override,
        )
        images.write.mode(mode).partitionBy("pcell").parquet(path)
    else:
        images = images_from_ids(
            ids_p, extra_cols=["pcell"], orientation=orientation, fmt_override=fmt_override
        )
        images.write.mode(mode).parquet(path)


# Root of the stored-table cache: every materialized_* table lives at
# CACHE_ROOT/CORPUS_VERSION/<name> and is built at most once per version.
CACHE_ROOT = "/tmp/spark_graft_corpus"

# Ids per append job of a chunked build (materialized_images_n halves it
# beyond 64M tiles; see there).
IMAGES_CHUNK = 4_000_000
DOCS_CHUNK = 8_000_000


def stored(name: str, write: Callable[[str], None]) -> str:
    """Path of the stored table ``name``, calling ``write(path)`` first if
    it is not complete yet.

    A table is complete once its ``_SUCCESS`` marker exists (Spark's
    committer writes it last), so a directory without one is the partial
    output of a killed build: it is removed before ``write`` runs, and
    ``write`` may use a plain ``.write.parquet(path)``."""
    path = f"{CACHE_ROOT}/{CORPUS_VERSION}/{name}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        shutil.rmtree(path, ignore_errors=True)
        write(path)
    return path


def stored_chunked(
    spark: SparkSession, name: str, n: int, chunk: int, write_ids: Callable[[DataFrame, str], None]
) -> str:
    """``stored`` for a table over ids 0..n-1 built as resumable append
    jobs: ``write_ids(ids, tmp)`` appends the rows of one ``spark.range``
    chunk (column ``id``) to the staging directory ``tmp``.

    Per-chunk resume (multi-hour builds must survive a kill): a manifest
    records each chunk's id-range AFTER its append job commits. Spark's
    FileOutputCommitter stages task files under _temporary and commits at
    job end, so a killed chunk leaves only staging dirs — scrub those, skip
    manifested chunks, and the restart continues where the last commit
    left off. This is the same lineage-manifest discipline the Iceberg
    snapshot log uses (streaming/incremental.py), applied to staging."""

    def build(path: str) -> None:
        tmp = f"{path}.__building__"
        manifest = f"{tmp}/_CHUNKS_DONE"
        done: set[int] = set()
        if os.path.exists(manifest):
            with open(manifest) as f:
                done = {int(line.split()[0]) for line in f if line.strip()}
            for root, dirs, _files in os.walk(tmp):
                for d in list(dirs):
                    if d == "_temporary":
                        shutil.rmtree(os.path.join(root, d))
                        dirs.remove(d)
        elif os.path.exists(tmp):
            shutil.rmtree(tmp)  # pre-manifest partial: no way to trust it
        for lo in range(0, n, chunk):
            if lo in done:
                continue
            hi = min(lo + chunk, n)
            write_ids(spark.range(lo, hi, 1, spark.sparkContext.defaultParallelism), tmp)
            with open(manifest, "a") as f:
                f.write(f"{lo} {hi}\n")
        os.remove(manifest)
        # crash-window guard (ADVICE r7): a chunk whose append committed
        # but whose manifest line was never written is re-appended on
        # resume, silently duplicating up to one chunk of rows. Validate
        # the total row count before publishing (metadata-only parquet
        # count); on mismatch rebuild from scratch.
        if spark.read.parquet(tmp).count() != n:
            shutil.rmtree(tmp)
            return build(path)
        os.rename(tmp, path)
        open(f"{path}/_SUCCESS", "a").close()

    return stored(name, build)


def sf_name(sf_dir: str, suffix: str = "") -> str:
    """Stored-table name of a table derived from ``sf_dir``."""
    return sf_dir.rstrip("/").replace("/", "_").lstrip("_") + suffix


def order_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus id stream of ``sf_dir``: one ``i`` per o_orderkey, so the
    DuckDB oracle sees the identical deterministic id set.

    Materializers hand _write_corpus this ID STREAM, not an images plan:
    column pruning cannot reach through mapInPandas, so a generated images
    DataFrame would synthesize every tile's bytes TWICE (once under the
    pcell/count derivation, once for the write)."""
    return spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("i")
    )


def stored_per_order(
    spark: SparkSession, sf_dir: str, suffix: str, build: Callable[[DataFrame], DataFrame]
) -> str:
    """``stored`` table ``sf_name(sf_dir, suffix)`` of one generated blob
    row per order id: ``build`` maps the id stream, hash-spread over one
    partition per core, to the rows."""
    return stored(
        sf_name(sf_dir, suffix),
        lambda p: build(
            order_ids(spark, sf_dir).repartition(spark.sparkContext.defaultParallelism, "i")
        ).write.parquet(p),
    )


def materialized_images(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the synthetic corpus for ``sf_dir`` as a cell-partitioned
    parquet table (once), and return its path.

    This mirrors production: the image corpus is a stored Iceberg-layout
    table (partitioned by coarse cell), not something generated inline — so
    the flagship query has exactly ONE Python stage (the decode kernel).
    Chaining Arrow kernels (generate → decode) ships the binary column
    across two JVM↔Python boundaries, which measures at >10x the kernel
    cost; never do that.
    """
    return stored(sf_name(sf_dir), lambda p: _write_corpus(order_ids(spark, sf_dir), p))


def materialized_images_flipped(
    spark: SparkSession, sf_dir: str, orientation: str = "flip_lon"
) -> str:
    """Same corpus stored in a flipped pixel orientation (F3 ingest case:
    south-up / lon-descending sources). Footprints identical; the decode
    kernels must normalize via the lon_ascending/lat_descending columns
    for downstream stats to match the canonical corpus."""
    return stored(
        sf_name(sf_dir, f"_{orientation}"),
        lambda p: _write_corpus(order_ids(spark, sf_dir), p, orientation=orientation),
    )


def materialized_images_fmt(spark: SparkSession, sf_dir: str, fmt: str = "tif") -> str:
    """Same corpus stored with every tile in one on-disk format — e.g.
    ``tif`` (strip PackBits) / ``cog`` (tiled + overview), the reference's
    actual raster containers (floodscan_pipeline.py:384, pipeline.py:277).
    Pixel values identical to the canonical corpus (both lossless), so the
    closed-form pixel oracles apply with the qnt branch dropped."""
    return stored(
        sf_name(sf_dir, f"_{fmt}"),
        lambda p: _write_corpus(order_ids(spark, sf_dir), p, fmt_override=fmt),
    )


def materialized_images_n(spark: SparkSession, n: int) -> str:
    """Materialize an n-tile corpus (ids 0..n-1) — used by the scaling
    benchmark, where the workload must be compute-dominated at both
    parallelism levels (sf0.1's 150k tiles finish in seconds and measure
    scheduler overhead, not scaling)."""
    # Generation runs in chunked append JOBS: bounding per-task output
    # volume sidesteps a python-runner flow-control wedge observed on this
    # box when a single byte-generating task emits ~2 GB (worker stuck in
    # tcp_sendmsg / task thread in epoll at 32M tiles x 64 tasks) — and at
    # warehouse scale you'd stage a 128 GB corpus as resumable chunked
    # jobs anyway. Per-task output volume must stay well under the
    # python-runner socket envelope (~500 MB/task is the edge: a
    # 128M-tile build at 4M-tile chunks put ~525 MB on each of 32
    # generator tasks and a worker crashed mid-write with a broken Arrow
    # pipe — same failure family as the round-3 2 GB wedge). Halve the
    # chunk beyond 64M tiles: ~260 MB/task, comfortably inside the
    # envelope.
    chunk = IMAGES_CHUNK if n <= 64_000_000 else IMAGES_CHUNK // 2
    # n_rows=n skips the count job and keeps the layout decision
    # (partitionBy vs plain) identical across chunks
    return stored_chunked(
        spark, f"range_{n}", n, chunk,
        lambda ids, tmp: _write_corpus(
            ids.withColumnRenamed("id", "i"), tmp, n_rows=n, mode="append"
        ),
    )


# ------------------------------------------------------- admin polygons ---


def rect_ring(min_lon: float, min_lat: float, max_lon: float, max_lat: float) -> list:
    """Closed CCW ring of an axis-aligned rectangle, as (x, y) tuples."""
    return [
        (min_lon, min_lat),
        (max_lon, min_lat),
        (max_lon, max_lat),
        (min_lon, max_lat),
        (min_lon, min_lat),
    ]


def wkb_polygon(rings: list) -> bytes:
    """Little-endian WKB POLYGON from closed rings (ring 0 = exterior,
    rest = interior rings / holes). Each ring is a sequence of (x, y)."""
    out = bytearray(struct.pack("<BII", 1, 3, len(rings)))
    for ring in rings:
        out += struct.pack("<I", len(ring))
        for x, y in ring:
            out += struct.pack("<dd", float(x), float(y))
    return bytes(out)


def wkb_multipolygon(parts: list) -> bytes:
    """Little-endian WKB MULTIPOLYGON; ``parts`` is a list of polygons,
    each a list of closed rings (exterior first)."""
    out = bytearray(struct.pack("<BII", 1, 6, len(parts)))
    for rings in parts:
        out += wkb_polygon(rings)
    return bytes(out)


def wkb_polygon_rect(min_lon: float, min_lat: float, max_lon: float, max_lat: float) -> bytes:
    """Little-endian WKB POLYGON of an axis-aligned rectangle (CCW ring)."""
    return wkb_polygon([rect_ring(min_lon, min_lat, max_lon, max_lat)])


def _read_rings(data: bytes, off: int) -> tuple[list[np.ndarray], int]:
    (nrings,) = struct.unpack_from("<I", data, off)
    off += 4
    rings = []
    for _ in range(nrings):
        (npts,) = struct.unpack_from("<I", data, off)
        off += 4
        ring = np.frombuffer(data, dtype="<f8", count=npts * 2, offset=off)
        rings.append(ring.reshape(npts, 2).copy())
        off += npts * 16
    return rings, off


def parse_wkb_geometry(data: bytes) -> list[list[np.ndarray]]:
    """WKB POLYGON or MULTIPOLYGON (little-endian) -> list of parts, each
    part a list of (n, 2) float64 rings [exterior, hole, ...].

    This output ("parts") is the one geometry form of the PIP layer
    (operators/pip.py), parsed there and here only (reference consumes
    admin shapefiles — routinely MultiPolygons with
    holes, ``examples/era5_cogs.md:164-172``). Even-odd ray-cast parity
    across ALL rings of all parts classifies holed/multipart geometries
    correctly as long as parts are disjoint and holes nest once (the
    simple-features validity rules)."""
    bo, typ = struct.unpack_from("<BI", data, 0)
    if bo != 1:
        raise ValueError("big-endian WKB unsupported")
    if typ == 3:
        rings, _ = _read_rings(data, 5)
        if not rings:
            raise ValueError("WKB POLYGON with zero rings")
        return [rings]
    if typ == 6:
        (nparts,) = struct.unpack_from("<I", data, 5)
        off = 9
        parts = []
        for _ in range(nparts):
            bo2, typ2 = struct.unpack_from("<BI", data, off)
            if bo2 != 1 or typ2 != 3:
                raise ValueError("MULTIPOLYGON member is not a LE POLYGON")
            rings, off = _read_rings(data, off + 5)
            parts.append(rings)
        if not parts:
            raise ValueError("WKB MULTIPOLYGON with zero parts")
        return parts
    raise ValueError(f"unsupported WKB geometry type {typ}")


def admin_rects(offset: float = 0.0) -> list[dict]:
    """The 32 deterministic admin rectangles (28 disjoint + 4 hot-stacked).

    ``offset`` shifts every bound by a constant (disjointness preserved).
    A fractional offset makes the rect edges cut through tile interiors,
    so pixel-window queries become position-sensitive — integer bounds
    align with the 0.25-deg grid and every window is a (mirror-invariant)
    full tile, which would make orientation bugs invisible."""
    rects = []
    for j in range(28):
        col, row = j % 7, j // 7
        min_lon = -170.0 + 48.0 * col
        width = 10.0 + 3.0 * (j % 5)
        min_lat = -60.0 + 32.0 * row
        height = 8.0 + 2.0 * (j % 7)
        rects.append((j, min_lon, min_lat, min_lon + width, min_lat + height))
    for k in range(4):  # hot region: 4 overlapping rects over one area
        j = 28 + k
        rects.append((j, -60.0 - k, 0.0 - k, -10.0 + k, 30.0 + k))
    if offset:
        rects = [(j, a + offset, b + offset, c + offset, d + offset) for j, a, b, c, d in rects]
    out = []
    for j, a, b, c, d in rects:
        out.append(
            {
                "adm_id": f"ADM{j:03d}",
                "adm_level": 1,
                "min_lon": a,
                "min_lat": b,
                "max_lon": c,
                "max_lat": d,
                "geom_wkb": wkb_polygon_rect(a, b, c, d),
                "area_deg2": (c - a) * (d - b),
            }
        )
    return out


def admin_df(spark: SparkSession, offset: float = 0.0) -> DataFrame:
    return spark.createDataFrame(
        pd.DataFrame(admin_rects(offset)),
        schema=(
            "adm_id string, adm_level int, min_lon double, min_lat double,"
            " max_lon double, max_lat double, geom_wkb binary, area_deg2 double"
        ),
    )


def admin_sql_values(alias: str = "admin", offset: float = 0.0) -> str:
    """Inline VALUES relation with identical constants, for the oracle."""
    rows = ",\n    ".join(
        f"('{r['adm_id']}', {r['min_lon']!r}, {r['min_lat']!r}, {r['max_lon']!r}, {r['max_lat']!r})"
        for r in admin_rects(offset)
    )
    return (
        f"(VALUES\n    {rows}\n) AS {alias}(adm_id, min_lon, min_lat, max_lon, max_lat)"
    )


# ------------------------------------------- holed / multipart polygons ---
# Deterministic fixture exercising the full WKB fidelity the reference's
# admin shapefiles need (examples/era5_cogs.md:164-172): interior rings
# (holes) and MULTIPOLYGON parts. All bounds are integers while tile
# centroids sit at .125-offsets, so no point ever lies ON a ring — the
# closed-BETWEEN oracle and the half-open engine agree exactly.

_EMPTY_RECT = (1.0, 1.0, 0.0, 0.0)  # BETWEEN 1 AND 0 matches nothing


def admin_holed_rects() -> list[dict]:
    """12 geometries: every one has a 30x24-deg outer rect; j%3!=2 cuts a
    rectangular hole; j%2==1 adds a disjoint second part (MULTIPOLYGON).
    The numeric bounds ride along so the DuckDB oracle can express
    membership as (in outer AND NOT in hole) OR in part2."""
    out = []
    for j in range(12):
        c, r = j % 4, j // 4
        lon0, lat0 = -160.0 + 44.0 * c, -70.0 + 45.0 * r
        o = (lon0, lat0, lon0 + 30.0, lat0 + 24.0)
        h = _EMPTY_RECT
        if j % 3 != 2:
            h = (
                lon0 + 5.0 + (j % 4),
                lat0 + 4.0 + (j % 3) * 2.0,
                lon0 + 14.0 + (j % 5),
                lat0 + 12.0 + (j % 2) * 3.0,
            )
        p = _EMPTY_RECT
        if j % 2 == 1:
            p = (
                lon0 + 33.0,
                lat0 + 2.0 + (j % 3) * 4.0,
                lon0 + 40.0,
                lat0 + 12.0 + (j % 3) * 4.0,
            )
        rings = [rect_ring(*o)]
        if h is not _EMPTY_RECT:
            rings.append(rect_ring(*h))
        if p is not _EMPTY_RECT:
            blob = wkb_multipolygon([rings, [rect_ring(*p)]])
        else:
            blob = wkb_polygon(rings)
        out.append({"adm_id": f"HOL{j:03d}", "geom_wkb": blob, "o": o, "h": h, "p": p})
    return out


def admin_holed_df(spark: SparkSession) -> DataFrame:
    """Engine-side holed admin table: adm_id + WKB ONLY — membership must
    come from the geometry, not numeric hint columns."""
    rows = admin_holed_rects()
    return spark.createDataFrame(
        pd.DataFrame({"adm_id": [r["adm_id"] for r in rows],
                      "geom_wkb": [r["geom_wkb"] for r in rows]}),
        schema="adm_id string, geom_wkb binary",
    )


def admin_holed_sql_values(alias: str = "adm") -> str:
    rows = ",\n    ".join(
        "('{a}', {b})".format(
            a=r["adm_id"],
            b=", ".join(repr(v) for v in (*r["o"], *r["h"], *r["p"])),
        )
        for r in admin_holed_rects()
    )
    return (
        f"(VALUES\n    {rows}\n) AS {alias}(adm_id,"
        " o_mnx, o_mny, o_mxx, o_mxy,"
        " h_mnx, h_mny, h_mxx, h_mxy,"
        " p_mnx, p_mny, p_mxx, p_mxy)"
    )


def admin_holed_signed_sql_values(alias: str = "adm") -> str:
    """Signed-rectangle decomposition for PIXEL-window oracles: each
    geometry unpivots to (outer, +1), (hole, -1), (part2, +1) rows (empty
    sentinels dropped). A pixel-window contribution multiplied by sign
    and summed reproduces the holed/multipart membership exactly, because
    the hole rect is strictly inside the outer rect and parts are
    disjoint."""
    recs = []
    for r in admin_holed_rects():
        recs.append((r["adm_id"], 1, *r["o"]))
        if r["h"] is not _EMPTY_RECT:
            recs.append((r["adm_id"], -1, *r["h"]))
        if r["p"] is not _EMPTY_RECT:
            recs.append((r["adm_id"], 1, *r["p"]))
    rows = ",\n    ".join(
        f"('{a}', {s}, {mnx!r}, {mny!r}, {mxx!r}, {mxy!r})"
        for a, s, mnx, mny, mxx, mxy in recs
    )
    return (
        f"(VALUES\n    {rows}\n) AS {alias}(adm_id, sgn, min_lon, min_lat, max_lon, max_lat)"
    )


def admin_holed_shapefile_zip() -> bytes:
    """``admin_holed_rects`` as a zipped ESRI shapefile (hol.shp/.shx/.dbf)
    — byte-deterministic, the exact shape of the reference's admin ingest
    (``hti.shp.zip`` → extract → ``gpd.read_file``,
    ``examples/era5_cogs.md:164-172``). Holes/parts survive only through
    ring winding, so the zipped fixture grades the shapefile codec's
    winding→nesting logic against the same hole-aware oracle."""
    from . import shapefile, ziparchive

    rows = admin_holed_rects()
    shp, shx = shapefile.write_shp(
        [parse_wkb_geometry(r["geom_wkb"]) for r in rows]
    )
    dbf = shapefile.write_dbf(
        [("ADM_ID", "C", 12, 0)], [(r["adm_id"],) for r in rows]
    )
    return ziparchive.encode_zip(
        [("hol.shp", shp), ("hol.shx", shx), ("hol.dbf", dbf)]
    )


def admin_holed_sql_on(lon: str = "lon_c", lat: str = "lat_c") -> str:
    """Oracle membership predicate for admin_holed_rects geometries."""
    return (
        f"(({lon} BETWEEN o_mnx AND o_mxx AND {lat} BETWEEN o_mny AND o_mxy"
        f" AND NOT ({lon} BETWEEN h_mnx AND h_mxx AND {lat} BETWEEN h_mny AND h_mxy))"
        f" OR ({lon} BETWEEN p_mnx AND p_mxx AND {lat} BETWEEN p_mny AND p_mxy))"
    )


# -------------------------------------------------- SQL-side derivations ---
# Oracle text fragments; must stay in sync with images_from_ids (tested).


def images_meta_sql(i_expr: str = "o_orderkey") -> dict[str, str]:
    i = f"({i_expr})"
    return {
        "i": i,
        "fmt": f"(CASE WHEN {i} % 16 = 0 THEN 'qnt' WHEN {i} % 4 = 0 THEN 'png' ELSE 'raw' END)",
        "caption": f"('tile ' || cast({i} as varchar) || ' of synthetic corpus')",
        "phash": f"(({i} * {PHASH_A}) % {PHASH_P})",
        "lon_c": f"(-180.0 + 0.25 * (({i} * 13) % 1440) + 0.125)",
        "lat_c": f"(90.0 - 0.25 * (({i} * 7) % 720) - 0.125)",
        "decoded_mean": (
            f"(CASE WHEN {i} % 16 = 0 THEN ({i} % {C_MOD}) + 31.0"
            f" ELSE ({i} % {C_MOD}) + 31.5 END)"
        ),
    }


def centroid_sql_for_images(i_col: str = "i") -> tuple[str, str]:
    """The tile-centroid (lon, lat) as Spark-SQL text over the id column
    (matches images_meta_sql; DOUBLE literals so both stay DOUBLE)."""
    from .grid import dbl_sql as d

    i = f"`{i_col}`"
    return (
        f"({d(-180)} + {d(0.25)} * (({i} * 13) % 1440) + {d(0.125)})",
        f"({d(90)} - {d(0.25)} * (({i} * 7) % 720) - {d(0.125)})",
    )


def centroid_cols_for_images(df: DataFrame, i_col: str = "i") -> DataFrame:
    """Attach the tile-centroid lon/lat (:func:`centroid_sql_for_images`,
    one ``F.expr`` per column)."""
    lon, lat = centroid_sql_for_images(i_col)
    # chained withColumn: one JVM call each (withColumns converts its
    # name and Column lists element by element)
    return df.withColumn("lon_c", F.expr(lon)).withColumn("lat_c", F.expr(lat))


def footprint_cols_for_images(df: DataFrame, i_col: str = "i") -> DataFrame:
    """Attach the tile footprint anchor (lon0 = west edge, lat_top = north
    edge) as columns. The raster kernels (operators/raster.py) consume
    ONLY these columns — the corpus-specific strided-fill formula lives
    here, not in the operators."""
    from .grid import dbl_sql as d

    i = f"`{i_col}`"
    return df.withColumn(
        "lon0", F.expr(f"{d(-180)} + {d(0.25)} * (({i} * 13) % 1440)")
    ).withColumn("lat_top", F.expr(f"{d(90)} - {d(0.25)} * (({i} * 7) % 720)"))


# ----------------------------------------------- big synthetic documents ---
# Corpus-scale text for the dedup/LLM-path scaling bench (VERDICT r6
# item 3): the graded dedup family is oracle-proven at sf0.01/sf0.1 (5k
# docs); this builder makes the SAME statistical shape at >=4M docs so the
# minhash->LSH->verify->CC chain can be benched compute-dominated.
# Generation is pure Column exprs (JVM codegen, zero Python) and
# deterministic from doc_id alone, so the corpus is identical across
# parallelism levels and chunked builds.

_DOC_VOCAB = [
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "vector", "query", "agg", "table", "hash",
    "slow", "filter", "customer", "stream", "key", "group", "join", "row",
    "page", "index", "merge", "cache", "disk", "block", "shard", "range",
    "plan", "stage", "task", "node", "core", "byte", "word", "text",
    "tile", "pixel", "band", "cell", "zone", "grid", "point", "ring",
    "frame", "codec", "audio", "image", "token", "model", "train", "eval",
    "clean", "score", "count", "label", "sample", "bucket", "probe", "salt",
]


def synthetic_docs(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """ids -> (doc_id, text, lang, source, n_chars), schema-compatible
    with the driver's documents table.

    Near-dup structure (what a dedup bench must have): every doc with
    doc_id % 5 == 4 is a MUTATED COPY of doc_id - 2 — same word sequence
    except positions k % 11 == 3 are re-drawn from the copy's own id, so
    the pair's Jaccard is ~0.75-0.9 (above the 0.5 verify threshold,
    below exact-dup). ~20% of docs therefore near-duplicate another doc
    two ids away — ids land in different partitions under range
    partitioning, so candidate pairs genuinely cross partitions."""
    v = F.array(*[F.lit(w) for w in _DOC_VOCAB])
    nv = len(_DOC_VOCAB)

    def pick(*seed):
        # token = stem + hash-derived numeric suffix: ~6.4M distinct
        # tokens (64 stems x 99991 suffixes), so UNRELATED docs share ~no
        # words — without this, a 64-word vocabulary at 4M docs makes
        # every LSH bucket a giant collision cluster and the bench would
        # measure the hot-bucket cap, not the join
        h = F.abs(F.xxhash64(*seed))
        return F.concat(
            F.element_at(v, (h % nv + 1).cast("int")),
            F.lit("_"),
            (h % 99991).cast("string"),
        )

    i = F.col(id_col)
    is_dup = (i % 5 == 4) & (i >= 2)
    base = F.when(is_dup, i - 2).otherwise(i)
    n_words = F.lit(22) + F.pmod(base, F.lit(17))
    words = F.transform(
        F.sequence(F.lit(0), (n_words - 1).cast("int")),
        lambda k: F.when(is_dup & (k % 11 == 3), pick(i, k, F.lit("mut")))
        .otherwise(pick(base, k)),
    )
    text = F.array_join(words, " ")
    return ids.select(
        i.alias("doc_id"),
        text.alias("text"),
        F.element_at(F.array(F.lit("en"), F.lit("en"), F.lit("de"), F.lit("fr"), F.lit("zh")),
                     (F.pmod(i, F.lit(5)) + 1).cast("int")).alias("lang"),
        F.concat(F.lit("src"), F.pmod(i, F.lit(10)).cast("string")).alias("source"),
        F.length(text).cast("long").alias("n_chars"),
    )


def materialized_docs_n(spark: SparkSession, n: int) -> str:
    """Materialize an n-doc synthetic documents table (resumable chunked
    append jobs, see stored_chunked)."""
    return stored_chunked(
        spark, f"docs_{n}", n, DOCS_CHUNK,
        lambda ids, tmp: synthetic_docs(ids.withColumnRenamed("id", "doc_id"))
        .write.mode("append").parquet(tmp),
    )
