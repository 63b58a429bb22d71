"""Every tile kernel reads its Arrow batch through ``TileBatch``, so a
malformed row fails the same way whichever kernel meets it.

Two malformed rows: a raw payload 64 bytes short of its 64x64 dims, and a
png that decodes to 32x64 in a row that says 64x64. Each kernel must raise
the reader's canonical message for both; ``decode_stats(on_error="null")``
must instead return them as ``decode_ok=false`` rows.
"""

from __future__ import annotations

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


def _batch(rows, flags=False):
    cols = {
        "bytes": pa.array([blob for blob, *_ in rows], pa.binary()),
        "fmt": pa.array([fmt for _, fmt, *_ in rows]),
        "w": pa.array([64] * len(rows), pa.int32()),
        "h": pa.array([64] * len(rows), pa.int32()),
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


READERS = {"decode_tile", "decode_tif_overview"}


def _reader_calls(path):
    """(line, enclosing class) of every call to a READERS name in ``path``."""
    import ast

    found = []

    def visit(node, cls):
        if isinstance(node, ast.ClassDef):
            cls = node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in READERS:
                found.append((node.lineno, cls))
        for child in ast.iter_child_nodes(node):
            visit(child, cls)

    visit(ast.parse(path.read_text()), None)
    return found


def test_tile_decoders_are_called_only_by_the_reader():
    """Inside the package, a tile is decoded by codecs.py/tiff.py themselves
    or by TileBatch — a kernel with its own decode loop would bring back its
    own size checks and orientation handling."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "ds_raster_pipelines_spark"
    callers = []
    for p in sorted(pkg.rglob("*.py")):
        rel = p.relative_to(pkg).as_posix()
        if rel in ("codecs.py", "tiff.py"):
            continue
        callers += [f"{rel}:{line} ({cls})" for line, cls in _reader_calls(p)]
    assert callers and all(
        c.startswith("sources/images.py:") and c.endswith("(TileBatch)") for c in callers
    ), callers
