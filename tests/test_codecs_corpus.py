"""Codecs round-trip, PSNR gate, corpus determinism, PIP kernel goldens."""

from __future__ import annotations

import numpy as np
import pytest

from ds_raster_pipelines_spark import codecs, corpus
from ds_raster_pipelines_spark.operators.pip import _points_in_rings


@pytest.mark.parametrize("i", [0, 1, 4, 16, 96, 97, 1439, 123456])
def test_codec_roundtrip_and_psnr(i):
    px = corpus.pixels_for(i)
    fmt = corpus.fmt_for(i)
    blob = codecs.encode_tile(px, fmt)
    back = codecs.decode_tile(blob, fmt, corpus.TILE_W, corpus.TILE_H)
    if fmt in codecs.LOSSLESS_FMTS:
        assert np.array_equal(px, back)
        assert codecs.psnr(px, back) == float("inf")
    else:
        p = codecs.psnr(px, back)
        assert p >= 40.0, f"lossy PSNR gate failed: {p}"


def test_png_is_real_png():
    px = corpus.pixels_for(8)
    blob = codecs.encode_png(px)
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert b"IHDR" in blob and b"IDAT" in blob and b"IEND" in blob


def test_expected_decoded_mean_closed_form():
    for i in [0, 1, 3, 4, 16, 32, 96, 97, 200, 991]:
        px = corpus.pixels_for(i)
        blob = codecs.encode_tile(px, corpus.fmt_for(i))
        back = codecs.decode_tile(blob, corpus.fmt_for(i), corpus.TILE_W, corpus.TILE_H)
        assert back.mean(dtype=np.float64) == corpus.expected_decoded_mean(i)


def test_wkb_roundtrip():
    blob = corpus.wkb_polygon_rect(-10, -5, 20, 15)
    [[ring]] = corpus.parse_wkb_geometry(blob)
    assert ring.shape == (5, 2)
    assert ring[0].tolist() == [-10, -5] and ring[2].tolist() == [20, 15]


def test_ray_cast_golden():
    rect = corpus.parse_wkb_geometry(corpus.wkb_polygon_rect(0, 0, 10, 10))
    lon = np.array([5.0, -1.0, 10.5, 0.125, 9.875])
    lat = np.array([5.0, 5.0, 5.0, 0.125, 9.875])
    assert _points_in_rings(lon, lat, rect).tolist() == [True, False, False, True, True]
    # non-rectangular: triangle
    import struct

    tri_pts = [(0, 0), (10, 0), (0, 10), (0, 0)]
    tri = struct.pack("<BIII", 1, 3, 1, 4) + b"".join(struct.pack("<dd", x, y) for x, y in tri_pts)
    lon = np.array([1.0, 6.0, 4.0])
    lat = np.array([1.0, 6.0, 4.0])
    tri_parts = corpus.parse_wkb_geometry(tri)
    assert _points_in_rings(lon, lat, tri_parts).tolist() == [True, False, True]


def test_admin_rects_disjoint_and_hot():
    rects = corpus.admin_rects()
    assert len(rects) == 32
    base = [r for r in rects if int(r["adm_id"][3:]) < 28]
    for a in range(len(base)):
        for b in range(a + 1, len(base)):
            ra, rb = base[a], base[b]
            sep = (
                ra["max_lon"] <= rb["min_lon"]
                or rb["max_lon"] <= ra["min_lon"]
                or ra["max_lat"] <= rb["min_lat"]
                or rb["max_lat"] <= ra["min_lat"]
            )
            assert sep, f"{ra['adm_id']} overlaps {rb['adm_id']}"
    hot = [r for r in rects if int(r["adm_id"][3:]) >= 28]
    # all four hot rects share a common region (induces skew)
    assert max(r["min_lon"] for r in hot) < min(r["max_lon"] for r in hot)
    assert max(r["min_lat"] for r in hot) < min(r["max_lat"] for r in hot)


def test_orientation_flip_normalization(spark):
    """F3: a lon-descending corpus (mirrored pixel rows + orientation
    flags) must produce pixel-level zonal stats identical to the canonical
    corpus once the kernel flip-normalizes; ignoring the flags diverges."""
    from ds_raster_pipelines_spark.operators.raster import zonal_pixel_stats

    ids = spark.range(0, 400).withColumnRenamed("id", "i")
    # fractional admin bounds: rect edges cut tile interiors, so pixel
    # windows are partial and position-sensitive (integer bounds see only
    # full windows, which are mirror-invariant — the flip would be hidden)
    adm = corpus.admin_df(spark, offset=0.07)
    canon = corpus.footprint_cols_for_images(corpus.images_from_ids(ids))
    flip = corpus.footprint_cols_for_images(
        corpus.images_from_ids(ids, orientation="flip_lon")
    )
    a = zonal_pixel_stats(canon, adm, res=6).orderBy("adm_id").toPandas()
    b = zonal_pixel_stats(flip, adm, res=6).orderBy("adm_id").toPandas()
    assert a.equals(b)
    # a reader that drops the orientation flags sees mirrored gradients
    c = zonal_pixel_stats(
        flip.drop("lon_ascending", "lat_descending"), adm, res=6
    ).orderBy("adm_id").toPandas()
    assert not a["px_sum"].equals(c["px_sum"])


def test_bilinear_resample_matches_bruteforce():
    """Separable fast path == direct per-output-pixel bilinear evaluation,
    on tiles varying along BOTH axes and for up/down/non-integer ratios."""
    import numpy as np

    from ds_raster_pipelines_spark.operators.raster import bilinear_resample

    def brute(px, oh, ow):
        h, w = px.shape
        a = px.astype(np.float64)
        out = np.empty((oh, ow))
        for y in range(oh):
            v = min(max((y + 0.5) * h / oh - 0.5, 0.0), h - 1.0)
            y0 = int(np.floor(v)); y1 = min(y0 + 1, h - 1); fy = v - y0
            for x in range(ow):
                u = min(max((x + 0.5) * w / ow - 0.5, 0.0), w - 1.0)
                x0 = int(np.floor(u)); x1 = min(x0 + 1, w - 1); fx = u - x0
                top = a[y0, x0] * (1 - fx) + a[y0, x1] * fx
                bot = a[y1, x0] * (1 - fx) + a[y1, x1] * fx
                out[y, x] = top * (1 - fy) + bot * fy
        return out

    rng = np.random.default_rng(7)
    for (h, w), (oh, ow) in [((8, 8), (6, 10)), ((5, 7), (7, 5)), ((4, 4), (4, 4)),
                             ((16, 16), (12, 12)), ((3, 9), (10, 2))]:
        px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
        assert np.allclose(bilinear_resample(px, oh, ow), brute(px, oh, ow)), (h, w, oh, ow)
    # identity at equal size
    px = rng.integers(0, 256, size=(6, 6), dtype=np.uint8)
    assert np.array_equal(bilinear_resample(px, 6, 6), px.astype(np.float64))


def test_dct_codec_psnr_and_determinism():
    """The real lossy transform codec: JPEG-like 8x8 DCT + Annex-K
    quantization + zlib. Smooth corpus gradients survive q=90 BIT-exactly
    (all 97 classes); white noise (the adversarial input) clears the
    input_hint's 40 dB gate at q=95; encoding is deterministic."""
    import numpy as np

    from ds_raster_pipelines_spark import codecs

    for c in range(97):
        px = ((np.arange(64)[None, :] + c)).astype(np.uint8).repeat(64, axis=0)
        blob = codecs.encode_dct(px, 90)
        assert np.array_equal(codecs.decode_dct(blob), px), c
        assert len(blob) < 64 * 64 // 8  # >8x smaller than raw
    rng = np.random.default_rng(0)
    noise = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    assert codecs.psnr(noise, codecs.decode_dct(codecs.encode_dct(noise, 95))) >= 40.0
    assert codecs.encode_dct(noise, 95) == codecs.encode_dct(noise.copy(), 95)
    # container goes through the generic entry points
    assert np.array_equal(codecs.decode_tile(codecs.encode_tile(noise, "dct"), "dct", 64, 64),
                          codecs.decode_dct(codecs.encode_dct(noise, 90)))
    # dims guard
    import pytest as _pytest

    with _pytest.raises(ValueError, match="divisible"):
        codecs.encode_dct(np.zeros((10, 10), np.uint8))


def test_corpus_chunked_build_resumes(spark, tmp_path, monkeypatch):
    """Kill/resume of the chunked stored-table build, from both callers
    (range image corpus, synthetic docs): a restart must skip manifested
    chunks, scrub uncommitted staging, and produce the exact row set a
    clean build produces (ids 0..n-1, no dupes, no holes)."""
    import os

    monkeypatch.setattr(corpus, "IMAGES_CHUNK", 100)
    monkeypatch.setattr(corpus, "DOCS_CHUNK", 100)
    cases = [
        # (materializer, n, table name, id column, per-chunk writer it calls)
        (corpus.materialized_images_n, 350, "range_350", "i", "_write_corpus"),
        (corpus.materialized_docs_n, 250, "docs_250", "doc_id", "synthetic_docs"),
    ]
    for build, n, name, id_col, writer in cases:
        def ids(path):
            return sorted(r[0] for r in spark.read.parquet(path).select(id_col).collect())

        # clean build as the golden
        monkeypatch.setattr(corpus, "CACHE_ROOT", str(tmp_path / "golden"))
        golden = ids(build(spark, n))
        assert golden == list(range(n))

        # killed build: the third chunk dies after two chunks committed
        monkeypatch.setattr(corpus, "CACHE_ROOT", str(tmp_path / "cache"))
        real, calls = getattr(corpus, writer), []

        def dying(*a, real=real, calls=calls, **k):
            calls.append(1)
            if len(calls) == 3:
                raise RuntimeError("killed")
            return real(*a, **k)

        monkeypatch.setattr(corpus, writer, dying)
        with pytest.raises(RuntimeError, match="killed"):
            build(spark, n)
        monkeypatch.setattr(corpus, writer, real)
        tmp = f"{tmp_path}/cache/{corpus.CORPUS_VERSION}/{name}.__building__"
        with open(f"{tmp}/_CHUNKS_DONE") as f:
            assert [line.split()[0] for line in f] == ["0", "100"]
        os.makedirs(f"{tmp}/_temporary/0")  # uncommitted staging from the kill

        assert ids(build(spark, n)) == golden
        assert not os.path.exists(tmp)


def test_stored_paths_pinned(tmp_path, monkeypatch):
    """Every materializer returns CACHE_ROOT/CORPUS_VERSION/<name> under the
    name existing caches use (bench.py hard-codes the default root and the
    range_<n> name), and never rebuilds a table whose _SUCCESS exists."""
    import os

    from ds_raster_pipelines_spark.sources import archives, gribfiles, multimodal

    assert corpus.CACHE_ROOT == "/tmp/spark_graft_corpus"
    monkeypatch.setattr(corpus, "CACHE_ROOT", str(tmp_path))
    real_stored = corpus.stored

    def never_write(path):
        pytest.fail(f"stored table rebuilt: {path}")

    monkeypatch.setattr(corpus, "stored", lambda name, write: real_stored(name, never_write))
    sf, key = "/root/testdata/sf0.001", "root_testdata_sf0.001"
    cases = [  # spark=None: a write callback that ran would fail on it too
        (lambda: corpus.materialized_images(None, sf), key),
        (lambda: corpus.materialized_images(None, sf + "/"), key),
        (lambda: corpus.materialized_images_flipped(None, sf), f"{key}_flip_lon"),
        (lambda: corpus.materialized_images_fmt(None, sf), f"{key}_tif"),
        (lambda: corpus.materialized_images_fmt(None, sf, "nc4_packed"), f"{key}_nc4_packed"),
        (lambda: corpus.materialized_images_n(None, 350), "range_350"),
        (lambda: corpus.materialized_docs_n(None, 250), "docs_250"),
        (lambda: archives.materialized_monthly_archives(None, sf), f"{key}_ziparch"),
        (lambda: gribfiles.materialized_ensemble_files(None, sf), f"{key}_grib"),
        (lambda: gribfiles.materialized_complex_files(None, sf), f"{key}_grib_cx2"),
        (lambda: gribfiles.materialized_production_files(None, sf), f"{key}_grib_prod"),
        (lambda: multimodal.materialized_mulaw_corpus(None, sf), f"{key}_mulaw"),
        (lambda: multimodal.materialized_flac_corpus(None, sf), f"{key}_flac"),
        (lambda: multimodal.materialized_wav_corpus(None, sf), f"{key}_wav"),
        (lambda: multimodal.materialized_video_corpus(None, sf), f"{key}_avi"),
        (lambda: multimodal.materialized_video_corpus(None, sf, codec="mjpeg"),
         f"{key}_avi_mjpeg"),
        (lambda: multimodal.materialized_mp2_corpus(None, sf), f"{key}_mp2"),
    ]
    for materialize, name in cases:
        expected = f"{tmp_path}/{corpus.CORPUS_VERSION}/{name}"
        os.makedirs(expected, exist_ok=True)
        open(f"{expected}/_SUCCESS", "a").close()
        assert materialize() == expected


def test_coarsen_histogram_batched_tally_matches_naive(spark):
    """r8: the per-batch tally + chunk-stacked entropy path must count
    exactly what a naive per-tile loop counts over a mixed-format
    corpus slice."""
    import numpy as np

    from ds_raster_pipelines_spark import codecs, corpus
    from ds_raster_pipelines_spark.operators.raster import coarsen_histogram

    images = spark.read.parquet(
        corpus.materialized_images(spark, "/root/testdata/sf0.001")
    )
    got = {
        r["value_milli"]: r["n_px"]
        for r in coarsen_histogram(images, factor=2).collect()
    }
    ref: dict[int, int] = {}
    for row in images.select("bytes", "fmt", "w", "h").collect():
        px = codecs.decode_tile(bytes(row["bytes"]), row["fmt"], row["w"], row["h"])
        h, w = px.shape
        ch, cw = h // 2, w // 2
        blocks = px[: ch * 2, : cw * 2].reshape(ch, 2, cw, 2).sum(
            axis=(1, 3), dtype=np.int64
        )
        for v in np.rint(blocks * (1000 / 4)).astype(np.int64).ravel().tolist():
            ref[v] = ref.get(v, 0) + 1
    assert got == ref
