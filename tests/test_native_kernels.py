"""Native (C) kernel parity gates — r8 optimization round.

The native entropy-walk in native.py must be bit-for-bit interchangeable
with the pure-Python loop it accelerates, including error behaviour.
These tests force both paths over the same streams; if the toolchain is
absent the build falls back silently, in which case the parity tests
trivially pass (both runs use Python) and the build test records why.
"""

from __future__ import annotations

import re
import shutil

import numpy as np
import pytest

from ds_raster_pipelines_spark import jpeg, native


def _decode_python(blob: bytes) -> np.ndarray:
    saved = native._lib
    native._lib = None
    try:
        return jpeg.decode_jpeg(blob)
    finally:
        native._lib = saved


def test_native_build_available():
    """The sandbox ships cc; the kernel library should build.  If this
    environment ever loses the compiler the engine still works (Python
    fallback), but we want to KNOW the fast path disappeared."""
    lib = native.get_lib()
    assert lib is not None, f"native build failed: {native.build_error}"


def test_native_scan_parity_noisy_images():
    """Random (worst-case AC density) images at many sizes/qualities:
    native and Python walks must produce identical pixels."""
    rng = np.random.RandomState(42)
    for trial in range(12):
        h = 40 + (trial * 7) % 41  # non-multiples of 8 included
        w = 40 + (trial * 11) % 53
        img = rng.randint(0, 256, size=(h, w), dtype=np.uint8)
        blob = jpeg.encode_jpeg(img, 30 + trial * 5)
        assert np.array_equal(jpeg.decode_jpeg(blob), _decode_python(blob))


def test_native_scan_parity_gradient_corpus_frames():
    """The MJPEG video corpus frame domain (97 gradient offsets) stays
    bit-exact through the native path — the property the graded
    video_frame_stats_mjpeg oracle relies on."""
    base = np.arange(64, dtype=np.uint8)[None, :]
    for c in range(0, 97, 7):
        fr = (base + np.uint8(c)).repeat(64, axis=0)
        blob = jpeg.encode_jpeg(fr, 90)
        px = jpeg.decode_jpeg(blob)
        assert np.array_equal(px, fr)
        assert np.array_equal(px, _decode_python(blob))


def test_native_error_parity_truncated_stream():
    """A truncated entropy stream raises the SAME exception through the
    native path (which bails to Python) as through pure Python."""
    rng = np.random.RandomState(0)
    blob = jpeg.encode_jpeg(rng.randint(0, 256, (64, 64), dtype=np.uint8), 90)
    trunc = blob[: len(blob) // 2] + b"\xff\xd9"

    def outcome(fn):
        try:
            fn(trunc)
            return None
        except Exception as exc:  # noqa: BLE001 — comparing exact surface
            return f"{type(exc).__name__}: {exc}"

    native_err = outcome(jpeg.decode_jpeg)
    python_err = outcome(_decode_python)
    assert native_err == python_err
    assert native_err is not None


@pytest.mark.parametrize("quality", [50, 90])
def test_native_matches_python_after_fallback_reset(quality):
    """After a native bail-out (malformed stream), the next well-formed
    decode must still be correct — the zz buffer is re-zeroed."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (64, 64), dtype=np.uint8)
    blob = jpeg.encode_jpeg(img, quality)
    bad = blob[: len(blob) // 2] + b"\xff\xd9"
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(bad)
    assert np.array_equal(jpeg.decode_jpeg(blob), _decode_python(blob))


def test_decode_jpeg_batch_equals_single():
    """decode_jpeg_batch_stats (shared-header groups, sums inside the
    native IDCT) equals (px.size, px.sum()) over per-frame decode_jpeg
    over mixed sizes, qualities and the corpus gradient domain; odd
    dimensions (13x21) take the per-frame crop path and stay exact."""
    rng = np.random.RandomState(11)
    blobs = []
    for t in range(25):
        img = rng.randint(
            0, 256, size=(40 + (t * 7) % 41, 40 + (t * 11) % 53), dtype=np.uint8
        )
        blobs.append(jpeg.encode_jpeg(img, 30 + t * 2))
    base = np.arange(64, dtype=np.uint8)[None, :]
    for c in range(0, 97, 11):
        blobs.append(jpeg.encode_jpeg((base + np.uint8(c)).repeat(64, axis=0), 90))
    for h, w in ((13, 21), (64, 64), (48, 40)):
        blobs.append(jpeg.encode_jpeg(rng.randint(0, 256, size=(h, w)).astype(np.uint8), 85))
    before = native.fallbacks.copy()
    got = jpeg.decode_jpeg_batch_stats(blobs)
    if native.get_lib() is not None:
        assert not native.fallbacks - before  # every frame took the native path
    want = [(px.size, int(px.sum(dtype=np.int64))) for px in map(jpeg.decode_jpeg, blobs)]
    assert got == want


def test_native_idct_parity_dense_random_stacks():
    """The sparse-basis native IDCT (jpeg_idct_blocks) must be BYTE-equal
    to the numpy matmul path on dense random coefficient stacks — the
    worst case for summation-order drift (every block runs all 64 basis
    accumulations)."""
    from ds_raster_pipelines_spark.codecs import _dct_scaled_q

    if native.get_lib() is None:
        pytest.skip("no native lib")
    rng = np.random.RandomState(7)
    zz = rng.randint(-300, 300, size=(64 * 64, 64)).astype(np.int32)
    for qual in (5, 50, 90):
        q = _dct_scaled_q(qual).astype(np.int32)
        a = jpeg._pixels_from_zz(zz, q, 64, 8, 8, 64, 64)
        saved = native._lib
        native._lib = None
        try:
            b = jpeg._pixels_from_zz(zz, q, 64, 8, 8, 64, 64)
        finally:
            native._lib = saved
        assert np.array_equal(a, b)


def test_native_idct_parity_decode_dct():
    """codecs.decode_dct routes through the same native kernel; byte-
    parity with its einsum fallback over random tiles at many qualities,
    plus exact round-trip on the smooth corpus gradient domain."""
    from ds_raster_pipelines_spark import codecs

    if native.get_lib() is None:
        pytest.skip("no native lib")
    rng = np.random.RandomState(3)
    for qual in (10, 50, 90, 99):
        for _ in range(8):
            im = rng.randint(0, 256, size=(64, 64)).astype(np.uint8)
            blob = codecs.encode_dct(im, qual)
            a = codecs.decode_dct(blob)
            saved = native._lib
            native._lib = None
            try:
                b = codecs.decode_dct(blob)
            finally:
                native._lib = saved
            assert np.array_equal(a, b)
    base = np.arange(64, dtype=np.uint8)[None, :]
    for c in range(0, 97, 13):
        fr = (base + np.uint8(c)).repeat(64, axis=0)
        assert np.array_equal(codecs.decode_dct(codecs.encode_dct(fr, 90)), fr)
    # a payload with more blocks than its header's frame holds, or a frame
    # that is not whole blocks: the numpy path's error, never a native write
    import struct
    import zlib

    for w, h, nblocks in ((8, 8, 40), (12, 12, 1)):
        blob = codecs._DCT_MAGIC + struct.pack("<HHB", w, h, 90) + zlib.compress(
            np.ones(64 * nblocks, "<i2").tobytes()
        )
        with pytest.raises(ValueError) as got:
            codecs.decode_dct(blob)
        saved = native._lib
        native._lib = None
        try:
            with pytest.raises(ValueError) as want:
                codecs.decode_dct(blob)
        finally:
            native._lib = saved
        assert str(got.value) == str(want.value)


def test_native_idct_odd_dims_crop():
    """Non-multiple-of-8 frames: the native frame-layout write must crop
    identically to the numpy assembly path."""
    if native.get_lib() is None:
        pytest.skip("no native lib")
    rng = np.random.RandomState(5)
    for h, w in ((13, 21), (8, 9), (63, 65), (1, 1)):
        img = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        blob = jpeg.encode_jpeg(img, 80)
        a = jpeg.decode_jpeg(blob)
        assert a.shape == (h, w)
        assert np.array_equal(a, _decode_python(blob))


def _parse_avi_python(blob: bytes):
    from ds_raster_pipelines_spark import avi

    saved = native._lib
    native._lib = None
    try:
        return avi.parse_avi(blob)
    finally:
        native._lib = saved


def test_native_avi_scan_parity_and_truncation():
    """native.avi_scan == parse_avi on real MJPG/DCT containers, and on
    EVERY truncation prefix it either falls back (None -> Python decides,
    trivially identical) or returns exactly what Python returns — the
    native path must never succeed where Python raises."""
    from ds_raster_pipelines_spark import avi

    rng = np.random.default_rng(7)
    frames = [
        rng.integers(0, 256, size=(24, 32), dtype=np.uint8) for _ in range(5)
    ]
    blobs = [
        avi.encode_avi_mjpeg(frames, fps=10, quality=90),
        avi.encode_avi_dct(frames, fps=25),
    ]
    for blob in blobs:
        m = _parse_avi_python(blob)
        r = native.avi_scan(blob)
        if r is None:  # no toolchain: fallback covers everything
            continue
        w, h, usec, handler, fr = r
        fps = round(1_000_000 / usec) if usec else 0
        assert (w, h, fps, handler, fr) == (m.w, m.h, m.fps, m.handler, m.frames)
        for cut in list(range(0, 120)) + list(range(120, len(blob), 13)):
            t = blob[:cut]
            rt = native.avi_scan(t)
            if rt is None:
                continue
            mt = _parse_avi_python(t)  # must not raise if native succeeded
            wt, ht, usect, handlert, frt = rt
            fpst = round(1_000_000 / usect) if usect else 0
            assert (wt, ht, fpst, handlert, frt) == (
                mt.w, mt.h, mt.fps, mt.handler, mt.frames,
            )


def test_native_avi_scan_flag_byte_corruption():
    """Flipping single bytes across the header/index region: native must
    fall back or agree with Python on every corrupted variant."""
    from ds_raster_pipelines_spark import avi

    rng = np.random.default_rng(11)
    frames = [rng.integers(0, 256, size=(16, 16), dtype=np.uint8) for _ in range(3)]
    blob = bytearray(avi.encode_avi_mjpeg(frames, fps=10, quality=90))
    hdr_end = min(len(blob), 400)
    for pos in range(0, hdr_end):
        for flip in (0xFF, 0x01):
            b = bytes(blob[:pos] + bytes([blob[pos] ^ flip]) + blob[pos + 1:])
            r = native.avi_scan(b)
            if r is None:
                continue
            try:
                m = _parse_avi_python(b)
            except Exception as exc:  # pragma: no cover - parity violation
                raise AssertionError(
                    f"native succeeded where python raises at byte {pos}: {exc}"
                )
            w, h, usec, handler, fr = r
            fps = round(1_000_000 / usec) if usec else 0
            assert (w, h, fps, handler, fr) == (m.w, m.h, m.fps, m.handler, m.frames)


def _frame_stats(off, data, every_n=1, offset=0):
    """avi.frame_stats_columns regrouped per blob: [[(n_px, sum_px), ...], ...]."""
    from ds_raster_pipelines_spark import avi

    counts, npx, spx = avi.frame_stats_columns(off, data, every_n, offset)
    pairs = iter(zip(npx.tolist(), spx.tolist()))
    return [[next(pairs) for _ in range(c)] for c in counts.tolist()]


def test_native_avi_scan_truncated_strh_falls_back():
    """A buffer that ends inside a ``vids`` stream header: Python slices a
    short handler, so the native walk must fall back instead of reporting
    ``handler=b""``, and frame_stats_columns raises parse_avi's error.  The
    movi list comes first so the walk gets that far."""
    import struct

    import pyarrow as pa

    from ds_raster_pipelines_spark import avi
    from ds_raster_pipelines_spark.sources.images import _binary_offsets_data

    strh = b"strh" + struct.pack("<I", 6) + b"vidsMJ"  # 2 of 4 handler bytes
    strl = b"LIST" + struct.pack("<I", 4 + len(strh)) + b"strl" + strh
    hdrl = b"LIST" + struct.pack("<I", 4 + len(strl)) + b"hdrl" + strl
    body = b"AVI " + avi._list(b"movi", avi._chunk(b"00dc", b"\x00\x01")) + hdrl
    blob = b"RIFF" + struct.pack("<I", len(body)) + body

    assert native.avi_scan(blob) is None
    assert avi.parse_avi(blob).handler == _parse_avi_python(blob).handler == b"MJ"
    with pytest.raises(NotImplementedError) as want:
        avi.decode_avi_frames(blob)
    assert repr(b"MJ") in str(want.value)
    off, data = _binary_offsets_data(pa.array([blob], type=pa.binary()))
    with pytest.raises(NotImplementedError) as got:
        _frame_stats(off, data)
    assert str(got.value) == str(want.value)


def test_native_avi_scan_grows_past_frame_cap(monkeypatch):
    """A video with more frames than the scratch buffers hold stays on the
    native walk (the buffers grow) and equals the Python parse."""
    from ds_raster_pipelines_spark import avi

    if native.get_lib() is None:
        pytest.skip("no toolchain: Python parse is the only path")
    n = 5000
    assert n > native._AVI_FRAME_CAP
    blob = avi.encode_avi([bytes([k % 251, 1, k % 7]) for k in range(n)], 8, 8)
    monkeypatch.setattr(native, "_AVI_SCRATCH", None)
    r = native.avi_scan(blob)
    assert r is not None and native._AVI_SCRATCH[0] >= n
    m = _parse_avi_python(blob)
    w, h, usec, handler, fr = r
    assert len(fr) == n
    assert (w, h, round(1_000_000 / usec), handler, fr) == (m.w, m.h, m.fps, m.handler, m.frames)
    small = avi.encode_avi([b"\x00" * 10], 8, 8)  # grown buffers serve small videos too
    assert native.avi_scan(small)[4] == _parse_avi_python(small).frames


def test_frame_stats_arrow_equals_multi():
    """frame_stats_columns over Arrow (offsets, data) views == (px.size,
    px.sum()) over decode_avi_frames, for MJPG and DCT handlers, 16x24
    frames and 64x64 ones (MJPG sums inside the native IDCT), all
    sampling phases, and with the native library forced off."""
    import pyarrow as pa

    from ds_raster_pipelines_spark import avi
    from ds_raster_pipelines_spark.sources.images import _binary_offsets_data

    rng = np.random.default_rng(3)
    blobs = []
    for k in range(8):
        shape = (64, 64) if k >= 4 else (16, 24)
        frames = [
            rng.integers(0, 256, size=shape, dtype=np.uint8)
            for _ in range(2 + k % 3)
        ]
        enc = avi.encode_avi_mjpeg if k % 2 else avi.encode_avi_dct
        blobs.append(enc(frames, fps=10))
    arr = pa.array(blobs, type=pa.binary())
    off, data = _binary_offsets_data(arr)
    for every_n, offset in ((1, 0), (2, 0), (2, 1), (3, 1)):
        expect = [
            [(px.size, int(px.sum(dtype=np.int64))) for px in avi.decode_avi_frames(b, every_n, offset)]
            for b in blobs
        ]
        assert _frame_stats(off, data, every_n, offset) == expect
        saved = native._lib
        native._lib = None
        try:
            assert _frame_stats(off, data, every_n, offset) == expect
        finally:
            native._lib = saved


def _dri_frame(px: np.ndarray) -> bytes:
    """A 64x64 baseline JFIF of ``px`` with a restart interval: DRI=32
    blocks, the halves' scans joined by RST0 (each half restarts its DC
    predictor, as an encoder with restart markers writes it)."""
    import struct

    def split(b: bytes) -> tuple[bytes, bytes]:
        s = b.index(b"\xff\xda")
        end = s + 2 + struct.unpack_from(">H", b, s + 2)[0]
        return b[:end], b[end:-2]

    head, _ = split(jpeg.encode_jpeg(px, 90))
    sos = head.index(b"\xff\xda")
    dri = b"\xff\xdd" + struct.pack(">HH", 4, 32)
    return (head[:sos] + dri + head[sos:] + split(jpeg.encode_jpeg(px[:32], 90))[1]
            + b"\xff\xd0" + split(jpeg.encode_jpeg(px[32:], 90))[1] + b"\xff\xd9")


def _arrow_blobs(blobs):
    import pyarrow as pa

    from ds_raster_pipelines_spark.sources.images import _binary_offsets_data

    return _binary_offsets_data(pa.array(blobs, type=pa.binary()))


def _reference_stats(blob: bytes, every_n: int) -> list:
    from ds_raster_pipelines_spark import avi

    return [(px.size, int(px.sum(dtype=np.int64))) for px in avi.decode_avi_frames(blob, every_n)]


def test_frame_stats_batch_isolates_odd_blobs(monkeypatch):
    """Healthy MJPEG AVIs mixed with a DCT0 blob, a blob whose frames use a
    restart interval, one with another DQT and a 60x60 one: the batch path
    equals the per-blob reference in row order, exactly the four odd blobs
    re-run alone, and the healthy blobs stay on the one native pass."""
    from ds_raster_pipelines_spark import avi
    from ds_raster_pipelines_spark.sources.multimodal import video_frames_for

    healthy = [avi.encode_avi_mjpeg(video_frames_for(i)) for i in range(7)]
    odd = {
        1: avi.encode_avi_dct(video_frames_for(20)),
        3: avi.encode_avi([_dri_frame(f) for f in video_frames_for(21)], 64, 64,
                          handler=b"MJPG"),
        4: avi.encode_avi_mjpeg(video_frames_for(22), quality=50),
        6: avi.encode_avi_mjpeg([f[:60, :60].copy() for f in video_frames_for(23)]),
    }
    blobs = list(healthy)
    for k in sorted(odd):
        blobs.insert(k, odd[k])
    off, data = _arrow_blobs(blobs)
    rows = []
    real = avi._per_blob_stats
    monkeypatch.setattr(avi, "_per_blob_stats",
                        lambda o, d, e, s, r, w: rows.extend(r) or real(o, d, e, s, r, w))
    for every_n in (1, 2, 3):
        rows.clear()
        before = native.fallbacks["avi_mjpeg_segments"]
        got = _frame_stats(off, data, every_n)
        if native.get_lib() is not None:
            assert native.fallbacks["avi_mjpeg_segments"] - before == len(odd)
            assert rows == sorted(odd)
        assert got == [_reference_stats(b, every_n) for b in blobs]
        assert got == [_frame_stats(off[k : k + 2], data, every_n)[0]
                       for k in range(len(blobs))]


def _outcome(fn):
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 — comparing the exact surface
        return f"{type(e).__name__}: {e}"


@pytest.mark.parametrize("toolchain", [True, False])
def test_frame_stats_batch_sweep_equals_per_blob_path(toolchain, drop_toolchain):
    """One blob of a healthy three-blob batch cut at every prefix and with
    each single byte flipped: the batch kernel under BlobBatch equals the
    per-blob path over the same batch, or raises its ``bytes row k: ...``
    error, with and without a toolchain."""
    import pyarrow as pa

    from ds_raster_pipelines_spark import avi
    from ds_raster_pipelines_spark.sources.images import BlobBatch

    rng = np.random.default_rng(5)
    blobs = [
        avi.encode_avi_mjpeg([rng.integers(0, 256, (16, 16), dtype=np.uint8)
                              for _ in range(3)])
        for _ in range(3)
    ]
    if not toolchain:
        drop_toolchain()
    victim = blobs[1]
    variants = [victim[:cut] for cut in range(len(victim))]
    variants += [victim[:p] + bytes([victim[p] ^ (0xFF if p % 2 else 0x01)]) + victim[p + 1 :]
                 for p in range(len(victim))]
    native_rows = 0
    for v in variants:
        b = pa.record_batch({"bytes": pa.array([blobs[0], v, blobs[2]], pa.binary())})
        want = _outcome(lambda: BlobBatch(b).whole(
            lambda o, d: avi._per_blob_stats(o, d, 2, 0, range(len(o) - 1), {})))
        before = native.fallbacks["avi_mjpeg_segments"]
        got = _outcome(lambda: BlobBatch(b).whole(lambda o, d: _frame_stats(o, d, 2)))
        assert got == want, len(v)
        native_rows += native.fallbacks["avi_mjpeg_segments"] == before
    assert (native_rows > 0) == toolchain


def test_avi_mjpeg_segments_rejects_bad_arrays():
    """Offsets out of the data buffer, a float offset array, a bad sample
    and a header that is not a JPEG prefix through SOS raise before C."""
    from ds_raster_pipelines_spark import avi
    from ds_raster_pipelines_spark.sources.multimodal import video_frames_for

    blob = avi.encode_avi_mjpeg(video_frames_for(0))
    off, data = _arrow_blobs([blob, blob])
    frame = blob[avi.parse_avi(blob).frames[0][0]:]
    header = frame[: jpeg._parse_header(frame)[8]]
    good = native.avi_mjpeg_segments(off, data, 2, 0, header)
    if good is not None:
        assert good[0].tolist() == [len(video_frames_for(0)[::2])] * 2
    for bad in [
        (off + len(blob), data, 2, 0, header),
        (off[::-1].copy(), data, 2, 0, header),
        (off - 1, data, 2, 0, header),
        (off.astype(float), data, 2, 0, header),
        (off, data.astype(np.int16), 2, 0, header),
        (off, data, 0, 0, header),
        (off, data, 2, -1, header),
        (off, data, 2, 0, header[: header.index(b"\xff\xda")]),
        (off, data, 2, 0, header[:1]),
        (off, data, 2, 0, header[1:]),
    ]:
        with pytest.raises(ValueError):
            native.avi_mjpeg_segments(*bad)


def test_jpeg_idct_blocks_sums_only_equals_pixel_sums():
    """With no pixel buffer the IDCT returns the same per-frame sums as
    with one; with neither it raises."""
    rng = np.random.default_rng(9)
    zz = rng.integers(-40, 40, size=(6 * 4, 64)).astype(np.int32)
    q = jpeg._q_raster(np.full((8, 8), 3, dtype=np.int32))
    px = np.empty((6, 16, 16), dtype=np.uint8)
    with_px, only = np.zeros(6, np.int64), np.zeros(6, np.int64)
    if not native.jpeg_idct_blocks(zz, q, jpeg._IDCT_BASIS, jpeg._ZZ2R, 2, 4, px, with_px):
        pytest.skip("no toolchain: the numpy IDCT is the only path")
    assert native.jpeg_idct_blocks(zz, q, jpeg._IDCT_BASIS, jpeg._ZZ2R, 2, 4, None, only)
    assert with_px.tolist() == only.tolist() == px.reshape(6, -1).sum(axis=1).tolist()
    with pytest.raises(ValueError):
        native.jpeg_idct_blocks(zz, q, jpeg._IDCT_BASIS, jpeg._ZZ2R, 2, 4, None, None)


def test_native_bilinear_stack_bitexact():
    """C bilinear_stack == numpy bilinear_resample bit-for-bit on random
    uint8 stacks across shapes/ratios (upsample, downsample, identity,
    non-integer)."""
    from ds_raster_pipelines_spark.operators.raster import (
        _interp_tables,
        bilinear_resample,
    )

    if native.get_lib() is None:
        pytest.skip("no toolchain: numpy path is the only path")
    rng = np.random.default_rng(5)
    for (h, w), (oh, ow) in [
        ((64, 64), (48, 48)),
        ((64, 64), (64, 64)),
        ((16, 24), (31, 7)),
        ((7, 5), (13, 11)),
        ((1, 1), (3, 3)),
    ]:
        px = rng.integers(0, 256, size=(9, h, w), dtype=np.uint8)
        expect = bilinear_resample(px, oh, ow)
        out = np.empty((9, oh, ow), dtype=np.float64)
        tmp = np.empty(oh * w, dtype=np.float64)
        tabs = (*_interp_tables(h, oh), *_interp_tables(w, ow))
        assert native.bilinear_stack(px, tabs, out, tmp)
        assert np.array_equal(out, expect), (h, w, oh, ow)


def test_decode_features_vectorized_bitexact():
    """The vectorized decode_features inner math (payload-direct C
    histogram + batched center/normalize) must produce bit-identical
    float32 embeddings to the original per-tile loop (decode_tile +
    bincount + per-vector mean/norm), over every corpus pixel class and
    random histograms."""
    from ds_raster_pipelines_spark import corpus

    bins, shift = 16, 4

    def old_embed(px):
        hist = np.bincount(px.ravel() >> shift, minlength=bins)
        v = hist.astype(np.float64)
        v -= v.mean()
        nrm = np.linalg.norm(v)
        return (v / nrm if nrm else v).astype(np.float32)

    hists = []
    expect = []
    for c in range(97):
        px = corpus.pixels_for(c)
        expect.append(old_embed(px))
        hists.append(np.bincount(px.ravel() >> shift, minlength=bins))
    rng = np.random.default_rng(13)
    for _ in range(200):
        h = rng.integers(0, 5000, size=bins)
        v = h.astype(np.float64)
        v -= v.mean()
        nrm = np.linalg.norm(v)
        expect.append((v / nrm if nrm else v).astype(np.float32))
        hists.append(h)
    hists.append(np.zeros(bins, dtype=np.int64))  # zero-norm row
    v = np.zeros(bins, dtype=np.float64)
    expect.append(v.astype(np.float32))

    m = np.asarray(hists, dtype=np.int64)
    v = m.astype(np.float64)
    v -= v.mean(axis=1, keepdims=True)
    nrm = np.sqrt((v * v).sum(axis=1))
    flat = (v / np.where(nrm == 0.0, 1.0, nrm)[:, None]).astype(np.float32)
    assert np.array_equal(flat, np.asarray(expect))

    # C histogram == decode+bincount for raw AND qnt payloads (the LSB
    # clear is invisible to any shift >= 1)
    if native.get_lib() is not None:
        from ds_raster_pipelines_spark import codecs

        blobs = [corpus.pixels_for(c).tobytes() for c in range(5)]
        data = np.frombuffer(b"".join(blobs), np.uint8)
        bounds = np.zeros(2 * len(blobs), dtype=np.int64)
        lens = np.cumsum([len(x) for x in blobs])
        bounds[1::2] = lens
        bounds[2::2] = lens[:-1]
        out = np.zeros((len(blobs), bins), dtype=np.int64)
        assert native.hist_segments(data, bounds, shift, bins, out)
        for k, blob in enumerate(blobs):
            px_raw = codecs.decode_tile(blob, "raw", 64, 64)
            assert np.array_equal(
                out[k], np.bincount(px_raw.ravel() >> shift, minlength=bins)
            )
            px_qnt = codecs.decode_tile(blob, "qnt", 64, 64)
            assert np.array_equal(
                out[k], np.bincount(px_qnt.ravel() >> shift, minlength=bins)
            )


@pytest.mark.parametrize("bins", [256, 16])
def test_tile_batch_histograms_match_per_tile_bincount(bins, drop_toolchain):
    """TileBatch.histograms at pixel_histogram's 256 bins and decode_features'
    16 equals a bincount of each decoded tile: with the native segment
    histogram over the raw/qnt rows, and without the toolchain, where every
    row takes the bincount."""
    import pyarrow as pa

    from ds_raster_pipelines_spark import codecs, corpus
    from ds_raster_pipelines_spark.sources.images import TileBatch

    shift = int(np.log2(256 // bins))
    rows = [(codecs.encode_tile(corpus.pixels_for(i), fmt), fmt)
            for i, fmt in enumerate(["raw", "qnt", "png", "tif", "dct"] * 3)]
    b = pa.RecordBatch.from_arrays(
        [pa.array([blob for blob, _ in rows], pa.binary()), pa.array([f for _, f in rows]),
         pa.array([64] * len(rows), pa.int32()), pa.array([64] * len(rows), pa.int32())],
        names=["bytes", "fmt", "w", "h"],
    )
    ref = np.stack([
        np.bincount(codecs.decode_tile(blob, fmt, 64, 64).ravel() >> shift, minlength=bins)
        for blob, fmt in rows
    ])
    if native.get_lib() is not None:
        np.testing.assert_array_equal(TileBatch(b).histograms(shift, bins), ref)
    drop_toolchain()
    np.testing.assert_array_equal(TileBatch(b).histograms(shift, bins), ref)
    assert native.fallbacks["hist_segments"] == 1


def _raw_tiles_batch(sizes, seed):
    """Arrow batch in the decode_stats input shape: raw tiles of ``sizes``
    pixels each (w=size, h=1), random bytes."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    k = len(sizes)
    blobs = [rng.integers(0, 256, n, dtype=np.uint8).tobytes() for n in sizes]
    return pa.RecordBatch.from_arrays(
        [pa.array(range(k), pa.int64()), pa.array([f"t{j}" for j in range(k)]),
         pa.array(["c"] * k), pa.array(["raw"] * k), pa.array([0] * k, pa.int64()),
         pa.array(blobs, pa.binary()), pa.array(sizes, pa.int32()), pa.array([1] * k, pa.int32())],
        names=["i", "image_id", "caption", "fmt", "phash", "bytes", "w", "h"],
    )


def _decode_both_paths(batch, drop_toolchain, caplog):
    """decode_stats on one batch with the native library, then without it
    (the no-toolchain path: the numpy reduceat reference): byte-identical
    output, the failed build logged exactly once per process, and the
    fallback counted."""
    from ds_raster_pipelines_spark.sources.images import _decode_stats_batch

    native.get_lib()
    with_lib = _decode_stats_batch(batch, False)
    drop_toolchain()
    with caplog.at_level("WARNING", logger=native.__name__):
        assert native.get_lib() is None and native.get_lib() is None
        assert native.seg_sum_min_max(np.zeros(4, np.uint8), np.array([0, 4])) is None
        without = _decode_stats_batch(batch, False)
    warnings = [r for r in caplog.records if r.name == native.__name__]
    assert len(warnings) == 1 and warnings[0].levelname == "WARNING"
    assert native.build_error and native.build_error in warnings[0].getMessage()
    assert native.fallbacks["seg_sum_min_max"] > 0
    assert with_lib.equals(without)


def test_seg_sum_min_max_parity_gaps_and_trailing():
    """C per-segment sum/min/max == the numpy reduceat reference over random
    segment layouts: gaps between segments, segments of 1..200 bytes, and
    a last segment ending exactly at the end of the data buffer (the
    reference's ``trailing`` branch) or before it."""
    from ds_raster_pipelines_spark.sources.images import seg_sum_min_max_reference

    if native.get_lib() is None:
        pytest.skip("no toolchain: numpy path is the only path")
    rng = np.random.default_rng(11)
    for trial in range(40):
        nseg = int(rng.integers(1, 30))
        lens = rng.integers(1, 200, nseg)
        gaps = rng.integers(0, 3, nseg) * rng.integers(0, 50, nseg)
        starts = np.cumsum(gaps + np.concatenate([[0], lens[:-1]]))
        ends = starts + lens
        tail = 0 if trial % 2 else int(rng.integers(1, 40))
        data = rng.integers(0, 256, int(ends[-1]) + tail, dtype=np.uint8)
        bounds = np.empty(2 * nseg, dtype=np.int64)
        bounds[0::2], bounds[1::2] = starts, ends
        got = native.seg_sum_min_max(data, bounds)
        want = seg_sum_min_max_reference(data, bounds)
        for g, w in zip(got, want):
            assert g.dtype == w.dtype and np.array_equal(g, w), trial


def test_decode_stats_fixed_path_parity_trailing_segment(drop_toolchain, caplog):
    """Full-size raw tiles, the last one ending at the end of the Arrow
    data buffer: native and no-toolchain decode give identical stats."""
    _decode_both_paths(_raw_tiles_batch([4096, 1, 4096, 333, 4096], 1), drop_toolchain, caplog)


def test_decode_stats_fixed_path_parity_zero_pixel_row(drop_toolchain, caplog):
    """A zero-pixel raw row (w=0): the C kernel declines the empty segment
    and the numpy reference answers, so both paths agree exactly."""
    from ds_raster_pipelines_spark.sources.images import _binary_offsets_data

    batch = _raw_tiles_batch([4096, 0, 4096], 2)
    off, data = _binary_offsets_data(batch.column(5))
    assert native.seg_sum_min_max(data, np.repeat(off, 2)[1:-1]) is None
    with np.errstate(divide="ignore", invalid="ignore"):
        _decode_both_paths(batch, drop_toolchain, caplog)


def test_binding_table_matches_c_source():
    """_SIGNATURES declares exactly the exported (non-static) C entries of
    _C_SRC, one argument code per parameter, each code matching the
    parameter's C type, and every entry resolves on the loaded library."""
    src = re.sub(r"/\*.*?\*/", "", native._C_SRC, flags=re.S)
    defs = re.findall(r"^long (\w+)\(([^)]*)\)", src, re.M)
    assert {name for name, _ in defs} == set(native._SIGNATURES)
    for name, params in defs:
        codes = [
            "p" if "*" in prm else {"long": "l", "int64_t": "q", "int": "i"}[prm.split()[-2]]
            for prm in (" ".join(x.split()) for x in params.split(","))
        ]
        assert "".join(codes) == native._SIGNATURES[name], name
    lib = native.get_lib()
    if lib is not None:
        for name in native._SIGNATURES:
            assert getattr(lib, name).argtypes, name


def test_kernel_cache_keyed_on_cpu_flags(monkeypatch, tmp_path):
    """Two CPU-flag strings give two cache paths, and a library planted at
    the other CPU's path is never loaded."""
    lib = native.get_lib()
    if lib is None:
        pytest.skip("no toolchain: nothing to cache")
    monkeypatch.setattr(native, "_CACHE_ROOT", str(tmp_path))
    here, other = "flags : fpu sse2 avx2", "flags : fpu sse2 avx512f"
    assert native._so_path(here) != native._so_path(other)
    shutil.copy(lib._name, native._so_path(here))
    with open(native._so_path(other), "wb") as fh:
        fh.write(b"a library built for another CPU")
    monkeypatch.setattr(native, "_cpu_flags", lambda: here)
    got = native._build()
    assert got is not None and got._name == native._so_path(here)


SPAN = 0.25


def _zonal_case(dims, seed):
    """Three tiles of ``dims`` (w, h) side by side and geometries over
    them: random closed polylines, an axis rect plus a random ring that
    cuts a hole where they overlap, all with vertices on pixel centres (so
    centres meet edges and edges run along centre rows), an unclosed ring
    (odd crossing counts), a two-part geometry, and a 150-tooth comb that
    crosses each of its rows ~300 times."""
    w, h = dims
    rng = np.random.default_rng(seed)
    lon0 = 10.0 + SPAN * np.arange(3.0)
    lat_top = np.full(3, 20.0)

    def centre():
        t = rng.integers(3)
        return (lon0[t] + (rng.integers(w) + 0.5) * (SPAN / w),
                lat_top[t] - (rng.integers(h) + 0.5) * (SPAN / h))

    def rect(x0, y0, x1, y1):
        return np.asarray([(x0, y0), (x1, y0), (x1, y1), (x0, y1), (x0, y0)])

    def poly(n):
        ring = np.asarray([centre() for _ in range(n)])
        return np.vstack([ring, ring[:1]])

    (ax, ay), (bx, by) = sorted([centre(), centre()])
    teeth = np.linspace(10.0, 10.0 + 3 * SPAN, 301)
    comb = [(teeth[0], 19.95)] + [
        (x, 19.76 if t % 2 else 19.99) for t, x in enumerate(teeth)
        for _ in range(2)][1:-1] + [(teeth[-1], 19.95), (teeth[0], 19.95)]
    geoms = [
        [poly(rng.integers(3, 12))] for _ in range(6)
    ] + [
        [rect(min(ax, bx), min(ay, by), max(ax, bx), max(ay, by)), poly(4)],
        [poly(8)[:-1]],
        [rect(10.01, 19.8, 10.1, 19.9), rect(10.3, 19.8, 10.7, 19.99)],
        [np.asarray(comb, dtype=float)],
    ]
    g_edges = [np.vstack([np.hstack([r[:-1], r[1:]]) for r in g]) for g in geoms]
    edges = np.ascontiguousarray(np.vstack(g_edges))
    edge_off = np.cumsum([0] + [len(e) for e in g_edges], dtype=np.int64)
    px = rng.integers(0, 256, 3 * w * h, dtype=np.uint8)
    px_off = np.arange(3, dtype=np.int64) * w * h
    ws, hs = np.full(3, w, dtype=np.int64), np.full(3, h, dtype=np.int64)
    pair_k, pair_g = (a.ravel() for a in np.meshgrid(np.arange(3), np.arange(len(geoms))))
    parts = [[g] for g in geoms]  # each geometry one part: parity is over all its rings
    return (px, px_off, ws, hs, lon0, lat_top, SPAN, edges, edge_off), parts, (pair_k, pair_g)


def _zonal_reference(args, geoms, pairs, ncol):
    """Per-pixel pip._points_in_rings over every pixel of every pair."""
    from ds_raster_pipelines_spark.operators.pip import _points_in_rings

    px, px_off, ws, hs, lon0, lat_top, span = args[:7]
    out = np.zeros((len(geoms), ncol), dtype=np.int64)
    for k, g in zip(*pairs):
        w, h = int(ws[k]), int(hs[k])
        lon, lat = np.meshgrid(lon0[k] + (np.arange(w) + 0.5) * (span / w),
                               lat_top[k] - (np.arange(h) + 0.5) * (span / h))
        vals = px[px_off[k]:px_off[k] + w * h][_points_in_rings(lon.ravel(), lat.ravel(), geoms[g])]
        out[g] += (vals.size, int(vals.sum())) if ncol == 2 else np.bincount(vals, minlength=256)
    return out


@pytest.mark.parametrize("dims", [(64, 64), (32, 32), (37, 23)])
def test_zonal_runs_matches_per_pixel_ray_cast(dims, drop_toolchain):
    """The scanline kernel counts exactly the pixels the half-open ray cast
    puts inside, in both reductions; without the toolchain the per-pixel
    fallback gives the same output and is counted."""
    from ds_raster_pipelines_spark.operators.raster import _reduce_pairs

    for seed in range(4):
        args, geoms, pairs = _zonal_case(dims, seed)
        for ncol in (2, 256):
            ref = _zonal_reference(args, geoms, pairs, ncol)
            assert ref[:, 0].any() and ref[-1].any()
            if native.get_lib() is not None:
                out = np.zeros_like(ref)
                assert native.zonal_runs(*args, *pairs, out)
                np.testing.assert_array_equal(out, ref)
    drop_toolchain()
    for ncol in (2, 256):
        out = np.zeros((len(geoms), ncol), dtype=np.int64)
        _reduce_pairs(*args, geoms, *pairs, out)
        np.testing.assert_array_equal(out, _zonal_reference(args, geoms, pairs, ncol))
    assert native.fallbacks["zonal_runs"] == 2


def test_zonal_runs_rejects_bad_arrays():
    """A pixel buffer shorter than its tiles, a float offset array or a
    pair naming a missing geometry raises before reaching C."""
    args, geoms, (pair_k, pair_g) = _zonal_case((16, 16), 0)
    out = np.zeros((len(geoms), 2), dtype=np.int64)
    for bad in [
        ((args[0][:-1], *args[1:]), pair_k, pair_g),
        ((args[0], args[1].astype(float), *args[2:]), pair_k, pair_g),
        (args, pair_k, pair_g + len(geoms)),
    ]:
        with pytest.raises(ValueError):
            native.zonal_runs(*bad[0], bad[1], bad[2], out)
