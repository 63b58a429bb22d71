"""Every tile kernel reads its Arrow batch through ``TileBatch``, so a
malformed row fails the same way whichever kernel meets it.

Two malformed rows: a raw payload 64 bytes short of its 64x64 dims, and a
png that decodes to 32x64 in a row that says 64x64. Each kernel must raise
the reader's canonical message for both; ``decode_stats(on_error="null")``
must instead return them as ``decode_ok=false`` rows.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from ds_raster_pipelines_spark import codecs, corpus
from ds_raster_pipelines_spark.sources.images import TileBatch

TILE = corpus.pixels_for(0)  # 64x64 uint8
LON0, LAT_TOP = 10.0, 20.0

MALFORMED = {
    "truncated_raw": (
        codecs.encode_tile(TILE, "raw")[:-64],
        "raw",
        "payload size mismatch for fixed-size fmt at row 0: 4032 bytes for 4096 pixels",
    ),
    "short_png": (
        codecs.encode_tile(TILE[:32], "png"),
        "png",
        r"tile 0 decoded to \(32, 64\), not 64x64",
    ),
}


def _images(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "i": list(range(len(rows))),
                "image_id": [f"img{k}" for k in range(len(rows))],
                "bytes": [blob for blob, _ in rows],
                "w": [64] * len(rows),
                "h": [64] * len(rows),
                "fmt": [fmt for _, fmt in rows],
                "caption": [corpus.caption_for(k) for k in range(len(rows))],
                "phash": [0] * len(rows),
                "lon0": [LON0] * len(rows),
                "lat_top": [LAT_TOP] * len(rows),
            }
        ),
        schema="i bigint, image_id string, bytes binary, w int, h int, fmt string,"
        " caption string, phash bigint, lon0 double, lat_top double",
    )


def _zonal(images):
    from ds_raster_pipelines_spark.operators.raster import zonal_pixel_stats

    admin = images.sparkSession.createDataFrame(
        pd.DataFrame(
            {"adm_id": ["A"], "geom_wkb": [corpus.wkb_polygon_rect(9.0, 19.0, 11.0, 21.0)]}
        ),
        schema="adm_id string, geom_wkb binary",
    )
    return zonal_pixel_stats(images, admin, res=4)


def _kernels():
    from ds_raster_pipelines_spark import sinks
    from ds_raster_pipelines_spark.operators import raster
    from ds_raster_pipelines_spark.sources import images as src

    return {
        "decode_stats": src.decode_stats,
        "decode_features": src.decode_features,
        "decode_verify": src.decode_verify,
        "zonal_pixel_stats": _zonal,
        "pixel_histogram": raster.pixel_histogram,
        "coarsen_histogram": raster.coarsen_histogram,
        "vectorize_mask": lambda df: raster.vectorize_mask(df, threshold=0),
        "resample_bilinear_stats": lambda df: raster.resample_bilinear_stats(df, 48, 48),
        "reproject_webmercator_sum256": raster.reproject_webmercator_sum256,
        "reencode_cog": sinks.reencode_cog,
    }


KERNELS = list(_kernels())


@pytest.mark.parametrize("kernel", KERNELS)
@pytest.mark.parametrize("case", list(MALFORMED))
def test_every_kernel_raises_the_canonical_error(spark, kernel, case):
    blob, fmt, message = MALFORMED[case]
    out = _kernels()[kernel](_images(spark, [(blob, fmt)]))
    with pytest.raises(Exception, match=message):
        out.collect()


def test_tolerant_decode_stats_nulls_both_malformed_rows(spark):
    from ds_raster_pipelines_spark.sources.images import decode_stats

    rows = [(blob, fmt) for blob, fmt, _ in MALFORMED.values()]
    rows.append((codecs.encode_tile(TILE, "raw"), "raw"))
    got = decode_stats(_images(spark, rows), on_error="null").orderBy("i").collect()
    assert [r["decode_ok"] for r in got] == [False, False, True]
    assert all(r["mean_value"] is None for r in got[:2])
    assert got[2]["mean_value"] == TILE.mean()


def _batch(rows, flags=False, dims=None):
    """A tile batch of ``rows`` (blob, fmt[, lon_ascending, lat_descending]),
    each 64x64 unless ``dims`` gives its (h, w)."""
    dims = dims or [(64, 64)] * len(rows)
    cols = {
        "bytes": pa.array([blob for blob, *_ in rows], pa.binary()),
        "fmt": pa.array([fmt for _, fmt, *_ in rows]),
        "w": pa.array([w for _, w in dims], pa.int32()),
        "h": pa.array([h for h, _ in dims], pa.int32()),
    }
    if flags:
        cols["lon_ascending"] = pa.array([r[2] for r in rows])
        cols["lat_descending"] = pa.array([r[3] for r in rows])
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


@pytest.mark.parametrize("fmt", ["raw", "png"])
def test_flipped_row_reads_as_its_canonical_twin(fmt):
    """A tile stored mirrored, with its flag saying so, reads back as the
    canonical tile; the canonical raw row is a view of the Arrow buffer."""
    stored = {
        (True, True): TILE,
        (False, True): TILE[:, ::-1],
        (True, False): TILE[::-1, :],
        (False, False): TILE[::-1, ::-1],
    }
    tb = TileBatch(
        _batch([(codecs.encode_tile(px, fmt), fmt, *f) for f, px in stored.items()], flags=True)
    )
    for k in range(len(stored)):
        assert np.array_equal(tb.pixels(k), TILE)
    assert tb.fixed.all() == (fmt == "raw")
    if fmt == "raw":
        assert np.shares_memory(tb.pixels(0), tb.data)


def test_tolerant_reader_leaves_bad_rows_to_the_caller():
    blob, fmt, message = MALFORMED["truncated_raw"]
    rows = [(codecs.encode_tile(TILE, "raw"), "raw"), (blob, fmt)]
    with pytest.raises(ValueError, match=message.replace("row 0", "row 1")):
        TileBatch(_batch(rows))
    tb = TileBatch(_batch(rows), tolerant=True)
    assert tb.bad.tolist() == [False, True]
    assert tb.fixed.tolist() == [True, False]


def _mixed_batch():
    """(batch, canonical tiles): 64x64 and 32x32 rows interleaved, raw, qnt
    and png rows interleaved, and rows stored mirrored with their flags."""
    rng = np.random.default_rng(7)
    rows, dims, tiles = [], [], []
    for k in range(40):
        h = w = 32 if k % 3 == 1 else 64
        px = rng.integers(0, 256, (h, w), dtype=np.uint8)
        fmt = ("raw", "png", "qnt", "raw")[k % 4]
        lon_asc, lat_desc = k % 5 != 2, k % 7 != 3
        stored = px[:: 1 if lat_desc else -1, :: 1 if lon_asc else -1]
        rows.append((codecs.encode_tile(np.ascontiguousarray(stored), fmt), fmt, lon_asc, lat_desc))
        dims.append((h, w))
        tiles.append(px & 0xFE if fmt == "qnt" else px)
    return _batch(rows, flags=True, dims=dims), tiles


def test_stacks_read_every_row_once_as_its_canonical_tile(monkeypatch):
    """Mixed shapes, fixed and png rows interleaved and flipped rows: every
    row comes back once, in a uint8 C-contiguous stack of its own shape, as
    its canonical tile."""
    monkeypatch.setattr(TileBatch, "STACK_ROWS", 8)
    batch, tiles = _mixed_batch()
    seen = []
    for rows, stack in TileBatch(batch).stacks():
        assert stack.dtype == np.uint8 and stack.flags.c_contiguous
        assert 0 < len(rows) <= 8 and stack.shape[0] == len(rows)
        assert list(rows) == sorted(rows)
        for j, k in enumerate(rows):
            assert np.array_equal(stack[j], tiles[k])
        seen += list(rows)
    assert sorted(seen) == list(range(len(tiles)))


def test_stacks_raise_the_canonical_errors():
    """A truncated raw row fails as the reader does; a png that decodes to
    the wrong shape fails when its stack is read."""
    blob, fmt, message = MALFORMED["truncated_raw"]
    good = (codecs.encode_tile(TILE, "raw"), "raw")
    with pytest.raises(ValueError, match=message.replace("row 0", "row 1")):
        list(TileBatch(_batch([good, (blob, fmt), good])).stacks())
    blob, fmt, message = MALFORMED["short_png"]
    with pytest.raises(ValueError, match=message.replace("tile 0", "tile 1")):
        list(TileBatch(_batch([good, (blob, fmt), good])).stacks())


def _footprint_batch(n=300):
    """Corpus tiles with footprint columns: a first full stack of raw rows,
    then corpus formats, 32x32 rows and flipped rows; seven latitude
    bands."""
    batch, _ = _mixed_batch()
    head = _batch([(codecs.encode_tile(corpus.pixels_for(i).T.copy(), "raw"), "raw", True, True)
                   for i in range(TileBatch.STACK_ROWS)], flags=True)
    tail = _batch([(codecs.encode_tile(corpus.pixels_for(i), corpus.fmt_for(i)),
                    corpus.fmt_for(i), True, True) for i in range(n)], flags=True)
    t = pa.Table.from_batches([head, batch, tail])
    k = np.arange(t.num_rows)
    t = (
        t.append_column("i", pa.array(k + 1000, pa.int64()))
        .append_column("lon0", pa.array(-20.0 + 0.25 * (k % 11)))
        .append_column("lat_top", pa.array(60.0 - 0.25 * (k % 7)))
    )
    return t.combine_chunks().to_batches()[0]


def _per_tile(kernel: str, b):
    """The per-tile reference of each stacked kernel over batch ``b``."""
    from ds_raster_pipelines_spark.operators import raster

    tb = TileBatch(b)
    pxs = [tb.pixels(k) for k in range(tb.n)]
    cols = b.to_pydict()
    if kernel == "reproject_webmercator_sum256":
        return [(i, int(np.rint(raster.reproject_webmercator(px.T, lat).sum() * 256.0)))
                for i, px, lat in zip(cols["i"], pxs, cols["lat_top"])]
    if kernel == "resample_bilinear_stats":
        return [(i, 48, 40, int(np.rint(raster.bilinear_resample(px, 40, 48).mean() * 1e6)))
                for i, px in zip(cols["i"], pxs)]
    if kernel == "coarsen_histogram":
        counts: dict[int, int] = {}
        for px in pxs:
            h, w = px.shape
            blocks = px.reshape(h // 2, 2, w // 2, 2).sum(axis=(1, 3), dtype=np.int64)
            for v in np.rint(blocks * (1000 / 4)).astype(np.int64).ravel().tolist():
                counts[v] = counts.get(v, 0) + 1
        return sorted(counts.items())
    out = []
    for i, px, lon0, lat_top in zip(cols["i"], pxs, cols["lon0"], cols["lat_top"]):
        ys, xs = np.nonzero(px >= 100)
        if len(ys):
            h, w = px.shape
            out.append((i, lon0 + xs.min() * 0.25 / w, lat_top - (ys.max() + 1) * 0.25 / h,
                        lon0 + (xs.max() + 1) * 0.25 / w, lat_top - ys.min() * 0.25 / h,
                        len(ys)))
    return out


STACKED = {
    "reproject_webmercator_sum256": lambda raster, df: raster.reproject_webmercator_sum256(df),
    "resample_bilinear_stats": lambda raster, df: raster.resample_bilinear_stats(df, 48, 40),
    "coarsen_histogram": lambda raster, df: raster.coarsen_histogram(df, factor=2),
    "vectorize_mask": lambda raster, df: raster.vectorize_mask(df, threshold=100),
}


@pytest.mark.parametrize("toolchain", [True, False])
@pytest.mark.parametrize("kernel", list(STACKED))
def test_stacked_kernel_equals_its_per_tile_reference(spark, kernel, toolchain, kernel_frame,
                                                      drop_toolchain):
    """Each kernel ported to ``stacks()`` returns exactly what its per-tile
    reference returns, with the native library and without a toolchain.
    (``spark`` only lets coarsen_histogram build its final aggregate's
    Column.)"""
    from ds_raster_pipelines_spark import native
    from ds_raster_pipelines_spark.operators import raster

    if not toolchain:
        drop_toolchain()
    b = _footprint_batch()
    kernel_frame.columns = b.schema.names
    run = STACKED[kernel](raster, kernel_frame)
    before = native.fallbacks["bilinear_stack"]
    got = [tuple(r.values()) for r in pa.Table.from_batches(list(run([b]))).to_pylist()]
    assert sorted(got) == sorted(_per_tile(kernel, b))
    if kernel == "resample_bilinear_stats":  # the one native call among them
        assert (native.fallbacks["bilinear_stack"] > before) == (native.get_lib() is None)
    assert toolchain or native.get_lib() is None


def _call_sites(path, names):
    """(line, scope) of every call to ``names`` in ``path``: the scope is
    the top-level function, or ``Class.method``."""
    import ast

    found = []
    for top in ast.parse(path.read_text()).body:
        scopes = [(top, getattr(top, "name", None))]
        if isinstance(top, ast.ClassDef):
            scopes = [(m, f"{top.name}.{getattr(m, 'name', '')}") for m in top.body]
        for node, scope in scopes:
            for n in ast.walk(node):
                if isinstance(n, ast.Call):
                    f = n.func
                    if (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) in names:
                        found.append((n.lineno, scope))
    return found


PKG = Path(__file__).resolve().parent.parent / "ds_raster_pipelines_spark"
PKG_FILES = sorted(PKG.rglob("*.py"))


def _rel(p):
    return p.relative_to(PKG).as_posix()


def test_tile_decoders_are_called_only_by_the_reader():
    """Inside the package, a tile is decoded by codecs.py/tiff.py themselves
    or by TileBatch — a kernel with its own decode loop would bring back its
    own size checks and orientation handling."""
    callers = [
        f"{_rel(p)}:{line} ({scope})"
        for p in PKG_FILES if _rel(p) not in ("codecs.py", "tiff.py")
        for line, scope in _call_sites(p, {"decode_tile", "decode_tif_overview"})
    ]
    assert callers and all(
        c.startswith("sources/images.py:") and "(TileBatch." in c for c in callers
    ), callers


PER_TILE = "# per tile on purpose:"
# (module, scope) of every TileBatch.pixels call in the package; every other
# kernel reads its rows through TileBatch.stacks
PIXELS_SITES = {
    ("operators/raster.py", "_zonal_pixel_reduce"),  # the hit tiles only
    ("sinks.py", "reencode_cog"),  # the COG encoder takes one tile
    ("sources/images.py", "TileBatch.histograms"),  # entropy-coded rows
    ("sources/images.py", "TileBatch.stacks"),  # the reader itself
    ("sources/images.py", "_decode_stats_batch"),  # entropy-coded rows
    ("sources/images.py", "decode_verify"),  # per-id ground truth
}


def test_per_tile_pixel_reads_are_the_sanctioned_ones():
    """A new per-tile loop over ``pixels(k)`` fails here: the sanctioned
    sites are listed, and each carries a comment that says why."""
    found, unmarked = set(), []
    for p in PKG_FILES:
        lines = p.read_text().splitlines()
        for line, scope in _call_sites(p, {"pixels"}):
            found.add((_rel(p), scope))
            if not any(PER_TILE in ln for ln in lines[max(0, line - 4) : line]):
                unmarked.append(f"{_rel(p)}:{line} ({scope})")
    assert found == PIXELS_SITES, sorted(found ^ PIXELS_SITES)
    assert not unmarked, f"pixels() calls without a '{PER_TILE}' comment: {unmarked}"
