"""Tile decode kernels — the distributed analog of the reference's raster
scan + normalize stage (S1/S3/S4 + F1-F5 in SURVEY.md §2).

Every tile kernel in the engine (here, in operators/raster.py and in
sinks.py) runs inside ``mapInArrow`` and reads its Arrow batch through
ONE reader, ``TileBatch``: the tile columns, the fixed-size payloads that
reduce straight off the Arrow buffer, the canonical errors for a malformed
row, and the F3 orientation flips live there and nowhere else (input_hint:
no per-row Python in the relational plan; inside a batch a kernel reduces
same-shape tile stacks or the payloads in place, never loops per tile
unless it must). Decode emits
per-tile statistics rather than raw pixels so the downstream relational
plan stays columnar and shuffle-light — pixels never cross a shuffle
boundary.

Every other container kernel (audio, AVI video, GRIB, zip, shapefile,
NetCDF) reads its blob column through ``BlobBatch``, the non-tile twin,
and every generated container corpus is built by ``blob_table``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .. import codecs, corpus, native, tiff

TILE_COLUMNS = ("bytes", "fmt", "w", "h")
_DECODED_COLUMNS = ("bytes", "w", "h")  # decode_stats consumes these
FLIP_COLUMNS = ("lon_ascending", "lat_descending")


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


class BlobBatch:
    """One Arrow record batch of opaque container blobs (audio, video,
    GRIB, zip, shapefile, NetCDF), read the one way every blob kernel reads
    it — the non-tile twin of ``TileBatch``, and the only place a bad blob
    is caught:

    * a null ``col`` raises ``null <col> in blob table at row k``;
    * a blob its decoder rejects raises ``<col> row k: <decoder message>``,
      chained from the decoder's own exception (a ``struct.error`` on a
      short buffer included).

    ``map`` hands a decoder each row's payload as a zero-copy memoryview of
    the Arrow data buffer; ``whole`` hands a batched kernel the column's
    ``(off, data)`` views for one native call over every blob."""

    def __init__(self, b, col: str = "bytes"):
        arr = b.column(col)
        if arr.null_count:
            k = int(np.flatnonzero(arr.is_null().to_numpy(zero_copy_only=False))[0])
            raise ValueError(f"null {col} in blob table at row {k}")
        self.col = col
        self.n = b.num_rows
        self.off, self.data = _binary_offsets_data(arr)
        self._view = memoryview(self.data)

    def _error(self, k: int, e: Exception) -> ValueError:
        return ValueError(f"{self.col} row {k}: {e}")

    def map(self, decode, *cols, rows=None) -> list:
        """``[decode(payload_k, *(c[k] for c in cols)) for k in rows]``
        (every row by default), each failure reported as its row's
        canonical error."""
        off, out = self.off.tolist(), []  # int offsets: numpy scalars slice slower
        for k in range(self.n) if rows is None else rows:
            try:
                out.append(decode(self._view[off[k] : off[k + 1]], *[c[k] for c in cols]))
            except Exception as e:
                raise self._error(k, e) from e
        return out

    def whole(self, kernel):
        """``kernel(off, data)`` over the whole batch in one call. Only when
        it raises is each row re-run alone, to name the first row that
        fails by itself; the error path pays for that, the normal path
        pays nothing."""
        try:
            return kernel(self.off, self.data)
        except Exception:
            for k in range(self.n):
                try:
                    kernel(self.off[k : k + 2], self.data)
                except Exception as e:
                    raise self._error(k, e) from e
            raise


def blob_table(ids: DataFrame, encode_one, col: str = "bytes") -> DataFrame:
    """``(i bigint, <col> binary)``: one ``encode_one(i)`` blob per id of
    ``ids.i`` — the builder behind every generated container corpus."""

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            ids_ = b.column("i").to_numpy(zero_copy_only=False).astype(np.int64)
            blobs = pa.array([encode_one(int(i)) for i in ids_], pa.binary())
            yield pa.RecordBatch.from_arrays([pa.array(ids_), blobs], names=["i", col])

    return ids.select("i").mapInArrow(kernel, schema=f"i bigint, {col} binary")


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


class TileBatch:
    """One Arrow record batch of image tiles, read the one way every tile
    kernel reads it. The only code that knows the tile columns
    (``TILE_COLUMNS`` plus the optional F3 flags ``FLIP_COLUMNS``, reference
    raster_utils.py:42-73), and the only place a malformed row is caught:

    * ``fixed`` — raw/qnt rows whose payload is exactly ``w*h`` bytes. qnt
      is LSB-cleared at encode time (codecs.py:84), so for both the payload
      bytes ARE the pixels and a kernel may reduce them straight off
      ``data`` (``bounds(idx)`` gives the segment table).
    * ``bad`` — null or wrong-size raw/qnt rows, which a ``tolerant``
      reader leaves for the caller to null out; otherwise they raise here
      ("payload size mismatch ...", never a silent mis-count).
    * ``pixels(k)`` — the (h, w) uint8 tile in canonical orientation (flips
      applied as views); a decoded shape other than the row's raises.
    * ``stacks()`` — every row as (n, h, w) uint8 stacks of one shape, for
      kernels whose reduction vectorizes over a leading tile axis.

    ``overview_level`` > 0 reads each tile's reduced-resolution COG page;
    ``w``/``h`` are then the per-level dims.
    """

    # rows per stack: block sums ran as fast per tile at 8, 32 or 128 rows,
    # and slower as one 4,096-row stack (out of cache)
    STACK_ROWS = 128

    def __init__(self, b, overview_level: int = 0, tolerant: bool = False):
        self.n = b.num_rows
        self.level = overview_level
        self.fmt = np.asarray(b.column("fmt").to_pylist(), dtype=object)
        ws = b.column("w").to_numpy(zero_copy_only=False).astype(np.int64)
        hs = b.column("h").to_numpy(zero_copy_only=False).astype(np.int64)
        if overview_level:  # pixel centres follow the per-level dims
            # fail fast on misuse: only COG blobs carry overview pages, and
            # the per-level dims are only exact when the dims divide by
            # 2^level (a mixed or odd-dim corpus would die mid-decode)
            bad_fmt = self.fmt[self.fmt != "cog"]
            if bad_fmt.size:
                raise ValueError(
                    f"overview_level={overview_level} requires fmt='cog' "
                    f"for every tile; got {sorted(set(bad_fmt))[:3]}"
                )
            step = 1 << overview_level
            odd = (ws % step != 0) | (hs % step != 0)
            if odd.any():
                k = int(np.flatnonzero(odd)[0])
                raise ValueError(
                    f"overview_level={overview_level} needs dims divisible "
                    f"by {step}; tile {int(ws[k])}x{int(hs[k])} is not"
                )
            ws, hs = ws >> overview_level, hs >> overview_level
        self.w, self.h = ws, hs
        arr = b.column("bytes")
        if arr.null_count and not tolerant:
            raise ValueError("null bytes in images table")
        self.off, self.data = _binary_offsets_data(arr)
        fixed = (self.fmt == "raw") | (self.fmt == "qnt")
        self.bad = fixed & (self.off[1:] - self.off[:-1] != ws * hs)
        if self.bad.any() and not tolerant:
            k = int(np.flatnonzero(self.bad)[0])
            raise ValueError(
                f"payload size mismatch for fixed-size fmt at row {k}: "
                f"{self.off[k + 1] - self.off[k]} bytes for {ws[k] * hs[k]} pixels"
            )
        if arr.null_count:
            self.bad |= arr.is_null().to_numpy(zero_copy_only=False)
        self.fixed = fixed & ~self.bad
        names = b.schema.names
        self.flip_x, self.flip_y = (
            ~b.column(c).to_numpy(zero_copy_only=False).astype(bool)
            if c in names else np.zeros(self.n, dtype=bool)
            for c in FLIP_COLUMNS
        )

    @staticmethod
    def select(df: DataFrame, *extra: str) -> DataFrame:
        """``df`` projected to ``extra`` plus the tile columns and whichever
        orientation flags it carries: mapInArrow is opaque to column
        pruning, so a kernel must ship exactly what it reads (guide §4.1).
        Names go as SQL text: one JVM round trip each, not three."""
        cols = [*extra, *TILE_COLUMNS, *(c for c in FLIP_COLUMNS if c in df.columns)]
        return df.selectExpr(*(f"`{c}`" for c in cols))

    def bounds(self, idx: np.ndarray) -> np.ndarray:
        """Interleaved (start, end) offsets into ``data`` of rows ``idx`` —
        the segment table of native.seg_sum_min_max / hist_segments."""
        out = np.empty(2 * len(idx), dtype=np.int64)
        out[0::2] = self.off[idx]
        out[1::2] = self.off[idx + 1]
        return out

    def pixels(self, k: int) -> np.ndarray:
        h, w = int(self.h[k]), int(self.w[k])
        seg = self.data[self.off[k] : self.off[k + 1]]
        if self.fixed[k]:
            px = seg.reshape(h, w)  # a view of the Arrow buffer
        else:
            blob = seg.tobytes()
            if self.level:
                px = tiff.decode_tif_overview(blob, self.level)
            else:
                px = codecs.decode_tile(blob, self.fmt[k], w, h)
            if px.shape != (h, w):
                raise ValueError(f"tile {k} decoded to {px.shape}, not {h}x{w}")
        if self.flip_x[k] or self.flip_y[k]:  # a no-op slice still builds a view
            px = px[:: -1 if self.flip_y[k] else 1, :: -1 if self.flip_x[k] else 1]
        return px

    def stacks(self):
        """Yield ``(rows, stack)`` over every row: ``stack`` is the (n, h, w)
        uint8 C-contiguous array of rows ``rows`` (ascending, one shape,
        at most STACK_ROWS) in canonical orientation. Every row is copied
        in once through ``pixels(k)``, so the size, shape and null errors
        are the ones ``pixels`` raises."""
        shape = self.h << 32 | self.w
        for key in np.unique(shape):
            same = np.flatnonzero(shape == key)
            h, w = divmod(int(key), 1 << 32)
            for c0 in range(0, len(same), self.STACK_ROWS):
                rows = same[c0 : c0 + self.STACK_ROWS]
                stack = np.empty((len(rows), h, w), dtype=np.uint8)
                for j, k in enumerate(rows):
                    # per tile on purpose: the reader's own copy or decode
                    stack[j] = self.pixels(k)
                yield rows, stack

    def histograms(self, shift: int = 0, bins: int = 256) -> np.ndarray:
        """(n, bins) int64 per-row counts of ``pixel >> shift``. The fixed
        rows count in one native.hist_segments pass straight off ``data``
        (their payload bytes are the pixels; no copy, no int64 upcast);
        every other row, and every row when no toolchain is present, takes
        a bincount of ``pixels(k)``."""
        out = np.zeros((self.n, bins), dtype=np.int64)
        done = self.fixed.copy()
        idx = np.flatnonzero(done)
        sub = np.zeros((len(idx), bins), dtype=np.int64)
        if len(idx) and native.hist_segments(self.data, self.bounds(idx), shift, bins, sub):
            out[idx] = sub
        else:
            done[:] = False
        for k in np.flatnonzero(~done):
            # per tile on purpose: entropy-coded rows, or no toolchain
            out[k] = np.bincount(self.pixels(k).ravel() >> shift, minlength=bins)
        return out


def _decode_stats_batch(b, tolerant: bool):
    """decode_stats on one Arrow record batch (see there)."""
    import pyarrow as pa

    tb = TileBatch(b, tolerant=tolerant)
    npx = tb.w * tb.h
    mean, mn, mx = (np.full(tb.n, np.nan) for _ in range(3))
    ok = ~tb.bad
    # vectorized fast path: fixed-size payloads reduce per segment straight
    # off the Arrow data buffer — the C kernel in one pass, or the numpy
    # reference
    idx = np.flatnonzero(tb.fixed)
    if len(idx):
        bounds = tb.bounds(idx)
        stats = native.seg_sum_min_max(tb.data, bounds)
        if stats is None:
            stats = seg_sum_min_max_reference(tb.data, bounds)
        sums, lo, hi = stats
        mean[idx] = sums / npx[idx]
        mn[idx] = lo
        mx[idx] = hi
    for k in np.flatnonzero(ok & ~tb.fixed):
        # per tile on purpose: entropy-coded rows, each caught alone
        try:
            px = tb.pixels(k)
        except Exception:
            if not tolerant:
                raise
            ok[k] = False
            continue
        mean[k] = px.mean(dtype=np.float64)
        mn[k] = float(px.min())
        mx[k] = float(px.max())
    cols = {c: b.column(c) for c in b.schema.names if c not in _DECODED_COLUMNS}
    for name, v in (("mean_value", mean), ("min_value", mn), ("max_value", mx)):
        cols[name] = pa.array(v, pa.float64(), from_pandas=True)  # NaN -> null
    cols["n_px"] = pa.array(npx)
    if tolerant:
        cols["decode_ok"] = pa.array(ok)
    return pa.RecordBatch.from_arrays(list(cols.values()), names=list(cols))


def decode_stats(images: DataFrame, on_error: str = "raise") -> DataFrame:
    """images -> per-tile decoded stats: every input column but ``bytes``,
    ``w`` and ``h`` passes through (captions byte-exact — input_hint
    invariant), then mean_value, min_value, max_value and n_px. A caller
    that reads fewer columns projects first (``TileBatch.select``).

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
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in images.schema.fields if f.name not in _DECODED_COLUMNS]
        + ["mean_value double, min_value double, max_value double, n_px bigint"]
        + (["decode_ok boolean"] if tolerant else [])
    )

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
    with no new join machinery. One Arrow stage; the per-row histograms
    come from TileBatch.histograms (no per-pixel Python).

    Features are MEAN-CENTERED before normalization: raw histograms are
    all-nonnegative, which would put every vector on the same side of
    every sign-LSH hyperplane (one giant bucket — the LSH degenerates to
    all-pairs). Centering splits the sign bits, keeping the bucketed
    operators bucketed."""

    shift = int(np.log2(256 // bins))

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            hists = TileBatch(b).histograms(shift, bins)
            n = len(hists)
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
                [b.column("i"), emb], names=["vec_id", "embedding"]
            )

    return TileBatch.select(images, "i").mapInArrow(kernel, schema=FEATURES_SCHEMA)


VERIFY_SCHEMA = "i bigint, fmt string, psnr double, caption_ok boolean, lossless_exact boolean"


def decode_verify(images: DataFrame) -> DataFrame:
    """Per-row invariant check vs the analytic ground truth (input_hint):
    decoded pixels allclose for lossless fmts, PSNR>=40dB for lossy, and
    byte-exact caption propagation. Distributed constraint operator in the
    style of the reference's validate_dataset gate
    (/root/reference/src/pipelines/pipeline.py:275-276)."""

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            tb = TileBatch(b)
            ii = b.column("i").to_numpy(zero_copy_only=False)
            caps = b.column("caption").to_pylist()
            psnr_v = np.empty(tb.n)
            cap_ok = np.empty(tb.n, dtype=bool)
            exact = []
            for k in range(tb.n):
                i = int(ii[k])
                truth = corpus.pixels_for(i)
                # per tile on purpose: each row against its id's ground truth
                px = tb.pixels(k)
                psnr_v[k] = codecs.psnr(truth, px)
                cap_ok[k] = caps[k] == corpus.caption_for(i)
                exact.append(
                    bool(np.array_equal(truth, px)) if tb.fmt[k] in codecs.LOSSLESS_FMTS else None
                )
            yield pa.RecordBatch.from_arrays(
                [b.column("i"), b.column("fmt"), pa.array(psnr_v), pa.array(cap_ok),
                 pa.array(exact, pa.bool_())],
                names=["i", "fmt", "psnr", "caption_ok", "lossless_exact"],
            )

    return TileBatch.select(images, "i", "caption").mapInArrow(kernel, schema=VERIFY_SCHEMA)
