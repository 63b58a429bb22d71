"""Tile decode kernels — the distributed analog of the reference's raster
scan + normalize stage (S1/S3/S4 + F1-F5 in SURVEY.md §2).

All pixel math is inside ``mapInPandas`` over Arrow batches (input_hint: no
per-row Python in the relational plan; inside a batch the per-image loop is
over *blobs*, each decoded with vectorized numpy). Decode emits per-tile
statistics rather than raw pixels so the downstream relational plan stays
columnar and shuffle-light — pixels never cross a shuffle boundary.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import codecs, corpus, native

DECODE_STATS_SCHEMA = (
    "i bigint, image_id string, caption string, fmt string, phash bigint,"
    " mean_value double, min_value double, max_value double, n_px bigint"
)


def _binary_offsets_data(arr) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy (offsets, data) views of an Arrow binary or string array
    (large types included) — avoids materializing per-row Python objects
    (the dominant cost of the pandas path: converting a big binary column
    to pandas is slower than the decode math itself).  An array without a
    data buffer (every value empty or null) gets a one-byte zero buffer,
    so ``data`` always has an address."""
    import pyarrow as pa

    large = pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type)
    bufs = arr.buffers()
    off = np.frombuffer(bufs[1], np.int64 if large else np.int32)
    off = off[arr.offset : arr.offset + len(arr) + 1]
    data = np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None else np.zeros(1, np.uint8)
    return off.astype(np.int64, copy=False), data


def seg_sum_min_max_reference(data: np.ndarray, bounds: np.ndarray):
    """numpy reference of native.seg_sum_min_max: (sums, mins, maxs) of
    each segment data[bounds[2k]:bounds[2k+1]]. Segment reduceat — ONE
    pass over the data buffer per reduction. (A fancy-index gather here
    builds an int64 index matrix 8x the payload size per batch; under
    32-way worker concurrency the page faults + bandwidth made the kernel
    ~40x slower — measured.)"""
    trailing = bounds[-1] == len(data)
    b = bounds[:-1] if trailing else bounds
    # accumulate in int64 via the ufunc dtype — no widened copy
    sums = np.add.reduceat(data, b, dtype=np.int64)[0::2]
    mn = np.minimum.reduceat(data, b)[0::2]
    mx = np.maximum.reduceat(data, b)[0::2]
    return sums, mn, mx


def _decode_stats_batch(b, tolerant: bool):
    """decode_stats on one Arrow record batch (see there)."""
    import pyarrow as pa

    n = b.num_rows
    names = b.schema.names
    col = {name: b.column(i) for i, name in enumerate(names)}
    fmts = np.asarray(col["fmt"].to_pylist(), dtype=object)
    ws = col["w"].to_numpy(zero_copy_only=False)
    hs = col["h"].to_numpy(zero_copy_only=False)
    arr = col["bytes"]
    if arr.null_count and not tolerant:
        raise ValueError("null bytes in images table")
    off, data = _binary_offsets_data(arr)
    mean = np.full(n, np.nan)
    mn = np.full(n, np.nan)
    mx = np.full(n, np.nan)
    ok = np.ones(n, dtype=bool)
    npx = (ws.astype(np.int64)) * hs.astype(np.int64)
    seg_len = off[1:] - off[:-1]
    # vectorized fast path: fixed-size uncompressed payloads reduce per
    # segment straight off the Arrow data buffer — the C kernel in one
    # pass, or the numpy reference
    fixed = (fmts == "raw") | (fmts == "qnt")
    bad_size = fixed & (seg_len != npx)
    if bad_size.any():
        if not tolerant:
            k = int(np.nonzero(bad_size)[0][0])
            raise ValueError(
                f"payload size mismatch for fixed-size fmt at row {k}: "
                f"{seg_len[k]} bytes for {npx[k]} pixels"
            )
        ok[bad_size] = False
    good_fixed = fixed & ~bad_size
    if good_fixed.any():
        idx = np.nonzero(good_fixed)[0]
        bounds = np.empty(2 * len(idx), dtype=np.int64)
        bounds[0::2] = off[idx]
        bounds[1::2] = off[idx + 1]
        stats = native.seg_sum_min_max(data, bounds)
        if stats is None:
            stats = seg_sum_min_max_reference(data, bounds)
        sums, lo, hi = stats
        mean[idx] = sums / npx[idx]
        mn[idx] = lo
        mx[idx] = hi
    for k in np.nonzero(~fixed)[0]:
        try:
            px = codecs.decode_tile(
                data[off[k] : off[k + 1]].tobytes(), fmts[k], int(ws[k]), int(hs[k])
            )
        except Exception:
            if not tolerant:
                raise
            ok[k] = False
            continue
        mean[k] = px.mean(dtype=np.float64)
        mn[k] = float(px.min())
        mx[k] = float(px.max())
    arrays = [
        col["i"],
        col["image_id"],
        col["caption"],
        col["fmt"],
        col["phash"],
        pa.array(mean, pa.float64(), from_pandas=True),
        pa.array(mn, pa.float64(), from_pandas=True),
        pa.array(mx, pa.float64(), from_pandas=True),
        pa.array(npx),
    ]
    names_out = ["i", "image_id", "caption", "fmt", "phash",
                 "mean_value", "min_value", "max_value", "n_px"]
    if tolerant:
        arrays.append(pa.array(ok))
        names_out.append("decode_ok")
    return pa.RecordBatch.from_arrays(arrays, names=names_out)


def decode_stats(images: DataFrame, on_error: str = "raise") -> DataFrame:
    """images -> per-tile decoded stats. Columns preserved: i, image_id,
    caption (byte-exact propagation — input_hint invariant), fmt, phash.

    mapInArrow kernel: string/int columns pass through as Arrow arrays
    (zero conversion); the binary column is sliced from the Arrow buffers
    directly. Fixed-size formats (raw/qnt) reduce per segment straight off
    the data buffer (native.seg_sum_min_max, or its numpy reference);
    entropy-coded formats (png/tif) fall back to per-blob decode. Pixels
    never leave the kernel — only stats do, so nothing pixel-sized ever
    crosses a shuffle.

    ``on_error``: ``"raise"`` (default — a corrupt blob fails the task;
    payload-size mismatches on the fixed-size path are detected, never
    silently mis-averaged) or ``"null"`` — ERROR-AS-DATA: bad blobs yield
    NULL stats plus ``decode_ok=false``, so one poisoned object out of
    10^12 quarantines itself as a row instead of killing a 12-hour job
    (the decode-side analog of the fetch layer's status column)."""
    if on_error not in ("raise", "null"):
        raise ValueError(on_error)
    tolerant = on_error == "null"
    schema = DECODE_STATS_SCHEMA + (", decode_ok boolean" if tolerant else "")

    def kernel(batches):
        for b in batches:
            yield _decode_stats_batch(b, tolerant)

    return images.mapInArrow(kernel, schema=schema)


FEATURES_SCHEMA = "vec_id bigint, embedding array<float>"


def decode_features(images: DataFrame, bins: int = 16) -> DataFrame:
    """Image FEATURE EXTRACTION: decode each tile and emit an L2-normalized
    ``bins``-dim intensity-histogram vector in the ``embeddings`` shape
    (vec_id, embedding array<float>) — so every ANN / embedding-near-dup
    operator (operators/similarity.py) composes directly on image content:
    decode → features → sign-LSH/IVF near-dup is the whole image pipeline
    with no new join machinery. One Arrow stage; per-blob decode + one
    bincount per image (vectorized, no per-pixel Python).

    Features are MEAN-CENTERED before normalization: raw histograms are
    all-nonnegative, which would put every vector on the same side of
    every sign-LSH hyperplane (one giant bucket — the LSH degenerates to
    all-pairs). Centering splits the sign bits, keeping the bucketed
    operators bucketed."""

    shift = int(np.log2(256 // bins))

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            names = b.schema.names
            col = {name: b.column(i) for i, name in enumerate(names)}
            fmts = np.asarray(col["fmt"].to_pylist(), dtype=object)
            ws = col["w"].to_numpy(zero_copy_only=False).astype(np.int64)
            hs = col["h"].to_numpy(zero_copy_only=False).astype(np.int64)
            off, data = _binary_offsets_data(col["bytes"])
            seg_len = off[1:] - off[:-1]
            hists = np.zeros((n, bins), dtype=np.int64)
            # fixed-size payloads bin STRAIGHT off the data buffer (r8
            # s4): bin = byte >> shift, and qnt's decode (LSB clear) is
            # invisible to any shift >= 1, so payload bytes and decoded
            # pixels bin identically; one bincount per chunk with
            # (row << log2(bins)) | bin keys replaces the per-blob
            # decode + bincount loop (pytest-pinned equal).
            fixed = (
                ((fmts == "raw") | (fmts == "qnt"))
                & (seg_len == ws * hs)
                & (shift >= 1)
            )
            idx = np.nonzero(fixed)[0]
            if len(idx):
                from .. import native as _native

                bounds = np.empty(2 * len(idx), dtype=np.int64)
                bounds[0::2] = off[idx]
                bounds[1::2] = off[idx + 1]
                sub_h = np.zeros((len(idx), bins), dtype=np.int64)
                if _native.hist_segments(data, bounds, shift, bins, sub_h):
                    hists[idx] = sub_h
                else:  # no toolchain: per-segment numpy bincount twin
                    for j, k in enumerate(idx):
                        hists[k] = np.bincount(
                            data[off[k] : off[k + 1]] >> shift, minlength=bins
                        )
            for k in np.nonzero(~fixed)[0]:
                px = codecs.decode_tile(
                    data[off[k] : off[k + 1]].tobytes(), fmts[k], int(ws[k]), int(hs[k])
                )
                hists[k] = np.bincount(px.ravel() >> shift, minlength=bins)
            # center + L2-normalize, vectorized: row means and pairwise
            # row sums reduce 16 contiguous f64 exactly like the old
            # per-vector calls (norm's BLAS dot vs the pairwise row sum
            # is the one op-order change — pytest pins bit-equal f32
            # embeddings over every corpus pixel class and random hists)
            v = hists.astype(np.float64)
            v -= v.mean(axis=1, keepdims=True)
            nrm = np.sqrt((v * v).sum(axis=1))
            flat = (v / np.where(nrm == 0.0, 1.0, nrm)[:, None]).astype(
                np.float32
            )
            emb = pa.ListArray.from_arrays(
                np.arange(0, (n + 1) * bins, bins, dtype=np.int32),
                pa.array(flat.ravel(), pa.float32()),
            )
            yield pa.RecordBatch.from_arrays(
                [col["i"], emb], names=["vec_id", "embedding"]
            )

    return images.select("i", "bytes", "fmt", "w", "h").mapInArrow(
        kernel, schema=FEATURES_SCHEMA
    )


VERIFY_SCHEMA = "i bigint, fmt string, psnr double, caption_ok boolean, lossless_exact boolean"


def decode_verify(images: DataFrame) -> DataFrame:
    """Per-row invariant check vs the analytic ground truth (input_hint):
    decoded pixels allclose for lossless fmts, PSNR>=40dB for lossy, and
    byte-exact caption propagation. Distributed constraint operator in the
    style of the reference's validate_dataset gate
    (/root/reference/src/pipelines/pipeline.py:275-276)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            ii = pdf["i"].to_numpy()
            fmts = pdf["fmt"].to_numpy()
            blobs = pdf["bytes"].to_numpy()
            ws = pdf["w"].to_numpy()
            hs = pdf["h"].to_numpy()
            caps = pdf["caption"].to_numpy()
            psnr_v = np.empty(n)
            cap_ok = np.empty(n, dtype=bool)
            exact = np.empty(n, dtype=object)
            for k in range(n):
                i = int(ii[k])
                truth = corpus.pixels_for(i)
                px = codecs.decode_tile(blobs[k], fmts[k], int(ws[k]), int(hs[k]))
                psnr_v[k] = codecs.psnr(truth, px)
                cap_ok[k] = caps[k] == corpus.caption_for(i)
                exact[k] = bool(np.array_equal(truth, px)) if fmts[k] in codecs.LOSSLESS_FMTS else None
            yield pd.DataFrame(
                {
                    "i": ii,
                    "fmt": fmts,
                    "psnr": psnr_v,
                    "caption_ok": cap_ok,
                    "lossless_exact": exact,
                }
            )

    return images.mapInPandas(kernel, schema=VERIFY_SCHEMA)
