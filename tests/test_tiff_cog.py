"""TIFF codec (strips/tiles, PackBits) + COG sink round-trip gates."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ds_raster_pipelines_spark import codecs, corpus, tiff


@pytest.mark.parametrize("comp", [tiff.COMP_NONE, tiff.COMP_PACKBITS])
@pytest.mark.parametrize(
    "shape", [(64, 64), (70, 50), (16, 16), (1, 1), (33, 129)]
)
def test_tif_strip_and_cog_roundtrip(comp, shape):
    rng = np.random.default_rng(shape[0] * 1000 + shape[1])
    for px in (
        rng.integers(0, 256, size=shape, dtype=np.uint8),  # incompressible
        np.full(shape, 7, dtype=np.uint8),  # one run
        np.tile(np.arange(shape[1], dtype=np.uint8), (shape[0], 1)),  # gradient
    ):
        assert np.array_equal(tiff.decode_tif(tiff.encode_tif(px, compression=comp)), px)
        c = tiff.encode_cog(px, compression=comp)
        assert np.array_equal(tiff.decode_tif(c), px)
        if shape[0] % 2 == 0 and shape[1] % 2 == 0:
            assert np.array_equal(tiff.decode_tif_overview(c), tiff.overview_2x(px))


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=600))
def test_packbits_roundtrip_property(raw):
    assert tiff.packbits_decode(tiff.packbits_encode(raw), len(raw)) == raw


def test_packbits_prefers_runs():
    run_heavy = bytes([9] * 4096)
    assert len(tiff.packbits_encode(run_heavy)) <= 2 * (4096 // 128 + 1)


def test_cog_multi_overview_pyramid():
    """overviews=3 builds a 64->32->16->8 pyramid: every level decodes to
    the iterated 2x2-mean of the one above; decode_tif still returns
    full-res; requesting a level beyond the pyramid raises."""
    rng = np.random.default_rng(12)
    px = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    c = tiff.encode_cog(px, overviews=3)
    assert np.array_equal(tiff.decode_tif(c), px)
    level = px
    for lv in (1, 2, 3):
        level = tiff.overview_2x(level)
        got = tiff.decode_tif_overview(c, lv)
        assert got.shape == (64 >> lv, 64 >> lv)
        assert np.array_equal(got, level)
    with pytest.raises(ValueError, match="overview"):
        tiff.decode_tif_overview(c, 4)
    # odd level stops the pyramid cleanly before a fractional 2x step
    c2 = tiff.encode_cog(rng.integers(0, 256, size=(20, 20), dtype=np.uint8), overviews=3)
    assert tiff.decode_tif_overview(c2, 1).shape == (10, 10)
    assert tiff.decode_tif_overview(c2, 2).shape == (5, 5)
    with pytest.raises(ValueError, match="overview"):
        tiff.decode_tif_overview(c2, 3)  # 5x5 has no clean 2x reduction


def test_corpus_fmt_tif_decodes_to_ground_truth():
    for i in [0, 1, 4, 16, 97, 1439]:
        px = corpus.pixels_for(i)
        for fmt in ("tif", "cog"):
            blob = codecs.encode_tile(px, fmt)
            assert blob[:4] == b"II*\x00"
            assert np.array_equal(
                codecs.decode_tile(blob, fmt, corpus.TILE_W, corpus.TILE_H), px
            )


def test_cog_sink_write_rescan_identical(spark, tmp_path):
    """S12 gate: decode → COG re-encode → validated write → rescan must
    reproduce the pre-sink pixel stats bit-exactly (the reference's
    validate-then-write-COG flow, pipeline.py:262-293)."""
    from ds_raster_pipelines_spark.operators.raster import zonal_pixel_stats
    from ds_raster_pipelines_spark.sinks import reencode_cog, write_cog_corpus

    ids = spark.range(0, 300).withColumnRenamed("id", "i")
    images = corpus.images_from_ids(ids)  # mixed raw/png/qnt
    adm = corpus.admin_df(spark, offset=0.07)
    before = zonal_pixel_stats(
        corpus.footprint_cols_for_images(images), adm, res=6
    ).orderBy("adm_id").toPandas()

    # green report -> write happens
    ok_report = images.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("w") == corpus.TILE_W, 0).otherwise(1)).alias("bad_w"),
    )
    path = str(tmp_path / "cog_corpus")
    assert write_cog_corpus(images, ok_report, path)

    rescanned = spark.read.parquet(path)
    assert rescanned.select("fmt").distinct().collect()[0][0] == "cog"
    # S9 tier semantics: processed COG output carries HOT + image/tiff
    # (reference pipeline.py:285-292); raw blobs default COOL/octet-stream
    tiers = rescanned.select("blob_tier", "content_type").distinct().collect()
    assert [(t["blob_tier"], t["content_type"]) for t in tiers] == [("HOT", "image/tiff")]
    from ds_raster_pipelines_spark.sinks import with_storage_properties

    raw_props = (
        with_storage_properties(images)  # not processed
        .select("blob_tier", "content_type")
        .distinct()
        .collect()
    )
    assert {(r["blob_tier"], r["content_type"]) for r in raw_props} == {
        ("COOL", "application/octet-stream")
    }
    after = zonal_pixel_stats(
        corpus.footprint_cols_for_images(rescanned), adm, res=6
    ).orderBy("adm_id").toPandas()
    assert before.equals(after)

    # every written blob is a real multi-IFD TIFF whose overview matches
    # the deterministic 2x2-mean downsample of its decoded pixels
    sample = rescanned.orderBy("i").limit(5).select("i", "bytes").collect()
    for r in sample:
        px = tiff.decode_tif(bytes(r["bytes"]))
        assert np.array_equal(
            tiff.decode_tif_overview(bytes(r["bytes"])), tiff.overview_2x(px)
        )

    # red report -> gate refuses, nothing written
    bad_report = images.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("w") == -1, 0).otherwise(1)).alias("bad_w"),
    )
    blocked = str(tmp_path / "blocked")
    assert not write_cog_corpus(images, bad_report, blocked)
    import os

    assert not os.path.exists(blocked)


def test_overview_guard_rejects_non_cog(spark):
    """overview_level>0 on a non-COG corpus must fail at first-batch time
    with a clear message, not die mid-decode on a missing overview IFD
    (ADVICE r3: mixed-format corpora silently entered the shift math)."""
    from ds_raster_pipelines_spark.operators.raster import zonal_pixel_stats

    ids = spark.range(0, 50).withColumnRenamed("id", "i")
    images = corpus.images_from_ids(ids)  # mixed raw/png/qnt — no COGs
    adm = corpus.admin_df(spark, offset=0.07)
    out = zonal_pixel_stats(
        corpus.footprint_cols_for_images(images), adm, res=6, overview_level=1
    )
    with pytest.raises(Exception, match="fmt='cog'"):
        out.collect()


def test_cog_ranged_overview_read(tmp_path):
    """The point of the COG layout: reading an overview fetches the header
    prefix + that page's segments ONLY — a small fraction of the blob —
    and decodes bit-identically to the full-blob path. Exercised both via
    a counting in-memory fetcher and the real file:// range adapter."""
    from ds_raster_pipelines_spark.sources.remote import file_range_fetcher, ranged

    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, size=(256, 256), dtype=np.uint8)  # incompressible
    blob = tiff.encode_cog(px, tile=64, overviews=2)

    calls = {"bytes": 0, "n": 0}

    def mem_fetch(offset, length):
        calls["bytes"] += min(length, len(blob) - offset)
        calls["n"] += 1
        return blob[offset : offset + length]

    got, fetched = tiff.decode_tif_overview_ranged(mem_fetch, level=2)
    assert np.array_equal(got, tiff.decode_tif_overview(blob, 2))
    # level-2 page is 64x64 of a 256x256 blob -> tiny fraction of bytes
    assert fetched < len(blob) // 4, (fetched, len(blob))
    assert calls["bytes"] <= fetched + 4096

    # real file:// transport
    p = tmp_path / "cog.tif"
    p.write_bytes(blob)
    got2, fetched2 = tiff.decode_tif_overview_ranged(
        ranged(file_range_fetcher, f"file://{p}"), level=1
    )
    assert np.array_equal(got2, tiff.decode_tif_overview(blob, 1))
    assert fetched2 < len(blob)  # level 1 = 1/4 the pixels

    # non-COG bytes fail fast
    with pytest.raises(ValueError, match="little-endian"):
        tiff.decode_tif_overview_ranged(lambda o, l: b"not a tiff at all"[o : o + l])


def test_ranged_read_truncated_cog_fails_fast():
    """A fetcher that runs out of bytes before the IFD chain parses must
    raise, not spin (ADVICE r4: b'' growth stalled the probe loop)."""
    blob = tiff.encode_cog(np.zeros((64, 64), dtype=np.uint8), tile=32, overviews=1)
    short = blob[:6]  # magic parses, IFD offset points past EOF

    def eof_fetch(offset, length):
        return short[offset : offset + length]

    with pytest.raises(ValueError, match="truncated COG"):
        tiff.decode_tif_overview_ranged(eof_fetch, probe=4)
