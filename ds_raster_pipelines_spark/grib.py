"""From-scratch GRIB2 container codec — stdlib struct + numpy.

GRIB is the reference's PRIMARY input: ERA5 monthly means and SEAS5
forecasts are opened with the cfgrib engine (era5_pipeline.py:59-66,
seas5_pipeline.py:108-123), including **header-level message selection**
via ``filter_by_keys={"dataType": "fcmean"}`` — messages are chosen by
their product-definition keys BEFORE any data unpacking. This module
implements the public WMO FM 92 GRIB edition-2 wire format directly
(same from-scratch pattern as tiff.py / netcdf.py / ziparchive.py):

* Section structure 0-8 with spec octet layouts: indicator (``GRIB`` +
  discipline + edition + 64-bit total length), identification,
  grid definition **template 3.0** (regular lat/lon grid, microdegree
  coordinates, scanning mode), product definition **template 4.1**
  (individual ensemble forecast: parameter category/number, generating
  process, forecast time, perturbation number, ensemble size),
  data representation **template 5.0** (simple packing: IEEE-754
  reference value R, binary scale E, decimal scale D, bits per value),
  bitmap indicator (255 = none), data, ``7777`` terminator.
* Multi-message files: GRIB messages are simply concatenated;
  ``scan_messages`` walks the file returning each message's keys and
  offsets WITHOUT touching section 7 — the filter-before-decode path.
* Simple packing decode/encode, vectorized bit-unpacking for any
  bits-per-value 1..32 (np.unpackbits over the packed stream):
  ``value = (R + X * 2**E) * 10**-D``.
* Complex packing **template 5.2** (general group splitting: per-group
  reference values + widths + scaled lengths, byte-aligned streams) and
  **template 5.3** (complex packing + 1st/2nd-order spatial
  differencing: sign-magnitude extra descriptors g1[, g2], gmin at the
  head of section 7) — the packings real ERA5/SEAS5 GRIBs ship with and
  that the reference reads transparently via cfgrib
  (era5_pipeline.py:59-66).
* Section 6 **bitmaps** (indicator 0): NaN cells are encoded as absent
  points; decode scatters present values back onto the full grid.

Sections 3 and 4 follow the exact WMO octet layouts (template 3.0 is a
72-octet section: basic angle + subdivisions as two uint32 at octets
39-46; template 4.1 is 37 octets: both 6-byte fixed-surface blocks, so
perturbationNumber sits at octet 36) — verified by offset asserts in
tests/test_grib.py.

Not implemented (raises): GRIB1 (edition byte 1), grid templates beyond
3.0, product templates beyond 4.0/4.1, packing templates beyond
5.0/5.2/5.3 (jpeg/ccsds/png), section-6 indicator 254 (re-use of a
previously defined bitmap). The errors are explicit so unsupported
real-world files fail loudly.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"GRIB"


class GribMessage:
    """Header keys of one message + offsets for lazy data decode."""

    __slots__ = (
        "offset", "length", "discipline", "param_category", "param_number",
        "template", "forecast_time", "perturbation", "n_ens", "ni", "nj",
        "lat1_mdeg", "lon1_mdeg", "di_mdeg", "dj_mdeg",
        "ref_value", "binary_scale", "decimal_scale", "bits_per_value",
        "n_points", "packing_template", "_s5_offset", "_bitmap_offset",
        "_data_offset", "_data_len",
    )



def _sect(n: int, body: bytes) -> bytes:
    return struct.pack(">IB", 5 + len(body), n) + body


def _pack_bits(x: np.ndarray, nbits: int) -> bytes:
    """Pack unsigned ints into a big-endian bit stream (MSB first)."""
    if nbits < 1 or nbits > 32:
        raise ValueError("bits_per_value in 1..32")
    n = len(x)
    # byte-wise: big-endian byte image -> unpackbits -> keep low nbits
    allbits = np.unpackbits(
        x.astype(">u8").view(np.uint8).reshape(n, 8), axis=1
    )
    flat = allbits[:, 64 - nbits :].reshape(-1)
    pad = (-len(flat)) % 8
    if pad:
        flat = np.concatenate([flat, np.zeros(pad, dtype=np.uint8)])
    return np.packbits(flat).tobytes()


def _unpack_bits(buf: bytes, n: int, nbits: int) -> np.ndarray:
    if n <= 16:
        # tiny streams (complex packing's 2-3-group descriptor vectors):
        # one Python big-int beats ~6 numpy dispatches by ~10x; identical
        # integers (pytest-pinned against the numpy path)
        nbytes = (n * nbits + 7) // 8
        acc = int.from_bytes(buf[:nbytes], "big")
        total = nbytes * 8
        mask = (1 << nbits) - 1
        return np.array(
            [(acc >> (total - (k + 1) * nbits)) & mask for k in range(n)],
            dtype=np.uint64,
        )
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8))[: n * nbits]
    bits = bits.reshape(n, nbits)
    pad = (-nbits) % 8
    if pad:
        bits = np.concatenate([np.zeros((n, pad), np.uint8), bits], axis=1)
    packed = np.packbits(bits, axis=1)  # (n, <=4 byte columns)
    out = np.zeros(n, dtype=np.uint64)
    for k in range(packed.shape[1]):
        out = (out << np.uint64(8)) | packed[:, k]
    return out


def _unpack_bits_rows(bufs: list[bytes], n: int, nbits: int) -> np.ndarray:
    """Row-batched _unpack_bits over ``k`` EQUAL-LENGTH buffers -> (k, n).

    Integer-exact and row-for-row identical to per-buffer _unpack_bits
    (pytest-pinned); one numpy op chain serves every row, amortizing the
    ~10 us of per-call dispatch that dominated tiny (64-value) message
    grids.  Working set stays cache-resident for ensemble-file-sized k."""
    k = len(bufs)
    a = np.frombuffer(b"".join(bufs), dtype=np.uint8).reshape(k, -1)
    bits = np.unpackbits(a, axis=1)[:, : n * nbits].reshape(k * n, nbits)
    pad = (-nbits) % 8
    if pad:
        bits = np.concatenate([np.zeros((k * n, pad), np.uint8), bits], axis=1)
    packed = np.packbits(bits, axis=1)
    out = np.zeros(k * n, dtype=np.uint64)
    for c in range(packed.shape[1]):
        out = (out << np.uint64(8)) | packed[:, c]
    return out.reshape(k, n)


# --------------------------- complex packing (templates 5.2 / 5.3) ---------

_GROUP_LEN = 32  # encoder's fixed group size (general group splitting)
_SD_OCTETS = 4  # octets per extra spatial-differencing descriptor


def _sm_bytes(v: int, ww: int = _SD_OCTETS) -> bytes:
    """Sign-magnitude integer, ``ww`` octets, MSB = sign (GRIB2 regs 92.1.5)."""
    mag = abs(int(v))
    if mag >= 1 << (8 * ww - 1):
        raise ValueError(f"descriptor {v} does not fit {ww} sign-magnitude octets")
    if v < 0:
        mag |= 1 << (8 * ww - 1)
    return mag.to_bytes(ww, "big")


def _sm_read(buf: bytes, pos: int, ww: int) -> int:
    u = int.from_bytes(buf[pos : pos + ww], "big")
    sign = u >> (8 * ww - 1)
    mag = u & ((1 << (8 * ww - 1)) - 1)
    return -mag if sign else mag


def _bit_rows(v: np.ndarray, w: int) -> np.ndarray:
    """MSB-first bit expansion: (n,) uints at width w -> (n*w,) 0/1 bytes."""
    allb = np.unpackbits(v.astype(">u8").view(np.uint8).reshape(v.size, 8), axis=1)
    return allb[:, 64 - w :].reshape(-1)


def _encode_complex(x: np.ndarray, packing: int, order: int):
    """Pack non-negative ints with general group splitting (template 5.2)
    or group splitting after 1st/2nd-order spatial differencing (5.3).

    Returns (bits_for_group_references, section-5 octets 22..47[,48-49],
    section-7 bytes). Stream layout per the spec and the NCEP g2lib
    reading convention: [extra descriptors g1[, g2], gmin — 5.3 only,
    sign-magnitude] then group references, group widths, scaled group
    lengths — each stream padded to a byte boundary — then the group
    values bit-contiguously, padded at the end."""
    n = x.size
    d = x.astype(np.int64)
    head = b""
    if packing == 3:
        if order not in (1, 2):
            raise NotImplementedError(f"spatial differencing order {order}")
        if n <= order:
            raise ValueError("too few points for spatial differencing")
        ivals = [int(d[i]) for i in range(order)]
        diff = np.empty(n, np.int64)
        diff[:order] = 0
        if order == 1:
            diff[1:] = d[1:] - d[:-1]
        else:
            diff[2:] = d[2:] - 2 * d[1:-1] + d[:-2]
        gmin = int(diff[order:].min())
        diff[order:] -= gmin
        d = diff
        head = b"".join(_sm_bytes(v) for v in ivals) + _sm_bytes(gmin)

    # fixed-size groups, vectorized: pad the tail with a value already in
    # the last group (cannot change its min/width); the padded cells pack
    # as trailing bits the decoder never reads (it uses the true last
    # length from section-5 octets 43-46)
    L = _GROUP_LEN
    ng = max(1, (n + L - 1) // L)
    dp = np.concatenate([d, np.full(ng * L - n, d[-1] if n else 0, np.int64)])
    dg = dp.reshape(ng, L)
    refs = dg.min(axis=1)
    offs = (dg - refs[:, None]).astype(np.uint64)
    maxs = offs.max(axis=1)
    # exact bit_length for ints < 2**53 via frexp on the float image
    widths = np.where(maxs > 0, np.frexp(maxs.astype(np.float64))[1], 0).astype(np.int64)
    lens = np.full(ng, L, np.int64)
    lens[-1] = n - (ng - 1) * L if n else 0
    wmax = int(widths.max())
    if wmax:
        # one bit-expansion at the max width, then per-group column mask
        # (keep the LOW w_i bits = last w_i columns); boolean indexing in
        # C order yields exactly the group-ordered value stream
        allb = _bit_rows(offs.reshape(-1), wmax).reshape(ng, L, wmax)
        colmask = np.arange(wmax)[None, None, :] >= (wmax - widths)[:, None, None]
        val_bits = [allb[np.broadcast_to(colmask, allb.shape)]]
    else:
        val_bits = []

    nbits_ref = max(1, int(refs.max()).bit_length()) if refs.max() > 0 else 1
    wref = int(widths.min())
    wspan = int((widths - wref).max())
    wbits = max(1, wspan.bit_length())
    lbits = max(1, int(lens.max()).bit_length())
    last_len = int(lens[-1])

    tail = struct.pack(
        ">BBIIIBBIBIB",
        1,  # octet 22: group splitting method = general
        0,  # octet 23: missing value management = none
        0, 0,  # octets 24-31: primary/secondary missing value substitutes
        ng,  # octets 32-35
        wref, wbits,  # octets 36-37
        0,  # octets 38-41: reference for group lengths
        1,  # octet 42: length increment
        last_len,  # octets 43-46: true length of last group
        lbits,  # octet 47
    )
    if packing == 3:
        tail += struct.pack(">BB", order, _SD_OCTETS)  # octets 48-49

    stream = bytearray(head)
    stream += _pack_bits(refs.astype(np.uint64), nbits_ref)
    stream += _pack_bits((widths - wref).astype(np.uint64), wbits)
    stream += _pack_bits(lens.astype(np.uint64), lbits)
    if val_bits:
        allbits = np.concatenate(val_bits)
        pad = (-len(allbits)) % 8
        if pad:
            allbits = np.concatenate([allbits, np.zeros(pad, np.uint8)])
        stream += np.packbits(allbits).tobytes()
    return nbits_ref, tail, bytes(stream)


def _decode_complex(buf: bytes, m: "GribMessage") -> np.ndarray:
    """Reverse of _encode_complex for any conformant 5.2/5.3 stream
    (group geometry read from the wire, not assumed)."""
    b = m._s5_offset  # offset of section-5 octet 6

    def o(k: int) -> int:  # spec octet number -> buffer offset
        return b + (k - 6)

    if buf[o(23)] != 0:
        raise NotImplementedError("GRIB missing-value management not supported")
    (ng,) = struct.unpack_from(">I", buf, o(32))
    wref, wbits = buf[o(36)], buf[o(37)]
    (lref,) = struct.unpack_from(">I", buf, o(38))
    linc = buf[o(42)]
    (last_len,) = struct.unpack_from(">I", buf, o(43))
    lbits = buf[o(47)]
    nbits = m.bits_per_value
    n = m.n_points

    pos = m._data_offset
    if m.packing_template == 3:
        sd_order, ww = buf[o(48)], buf[o(49)]
        ivals = [_sm_read(buf, pos + i * ww, ww) for i in range(sd_order)]
        gmin = _sm_read(buf, pos + sd_order * ww, ww)
        pos += (sd_order + 1) * ww

    def stream(count: int, width: int) -> np.ndarray:
        nonlocal pos
        if width == 0:
            return np.zeros(count, np.int64)
        nbytes = (count * width + 7) // 8
        out = _unpack_bits(buf[pos : pos + nbytes], count, width).astype(np.int64)
        pos += nbytes
        return out

    refs = stream(ng, nbits)
    widths = wref + stream(ng, wbits)
    lens = lref + linc * stream(ng, lbits)
    if ng:
        lens[-1] = last_len
    if int(lens.sum()) != n:
        raise ValueError(f"group lengths sum {int(lens.sum())} != n_points {n}")

    total_bits = int((lens * widths).sum())
    bits = np.unpackbits(
        np.frombuffer(buf[pos : pos + (total_bits + 7) // 8], dtype=np.uint8)
    ).astype(np.int64)
    # vectorized ragged unpack: each value v in group g occupies
    # widths[g] bits at a contiguous start offset; peel one bit position
    # per pass (<= 32 passes of whole-array ops, no per-group loop)
    gid = np.repeat(np.arange(ng), lens)
    wv = widths[gid]
    vstart = np.concatenate([[0], np.cumsum(wv)[:-1]])
    wmax = int(widths.max()) if ng else 0
    vals = np.zeros(n, np.int64)
    if wmax and n <= 4096:
        # gather-matrix unpack (r8): one (n, wmax) fancy-index + masked
        # shift-sum replaces the wmax-pass peel loop (~4 numpy dispatches
        # PER BIT POSITION — the dominant cost on SMALL ensemble grids;
        # isolated 53.7 -> 18.8 us at n=64).  Identical integers: bit j
        # of value v contributes bits[vstart_v + j] << (wv_v - 1 - j).
        # SMALL GRIDS ONLY: at production grid sizes (r8 measured
        # grib_production_volume 0.73 -> 1.75 s when applied at n=65k)
        # the (n, wmax) intermediates blow the cache while the peel
        # loop's whole-array passes are already well vectorized.
        ks = np.arange(wmax)
        pad_bits = np.concatenate([bits, np.zeros(wmax, np.int64)])
        wv_c = wv[:, None]
        valid = ks[None, :] < wv_c
        idx = vstart[:, None] + ks[None, :]
        shift = np.where(valid, wv_c - 1 - ks[None, :], 0)
        vals[:] = ((pad_bits[idx] * valid) << shift).sum(axis=1)
    else:
        for k in range(wmax):
            sel = wv > k
            vals[sel] = (vals[sel] << 1) | bits[vstart[sel] + k]
    out = refs[gid] + vals

    if m.packing_template == 3:
        out[sd_order:] += gmin
        if sd_order == 1:
            out[0] = ivals[0]
            out = np.cumsum(out)
        else:
            z = np.empty(n, np.int64)
            z[0] = 0
            z[1] = ivals[1] - ivals[0]
            z[2:] = out[2:]
            z[1:] = np.cumsum(z[1:])
            out = ivals[0] + np.cumsum(z)
            out[0] = ivals[0]
    return out


def encode_message(
    values: np.ndarray,
    *,
    discipline: int = 0,
    param_category: int = 1,
    param_number: int = 52,
    template: int = 1,
    forecast_time: int = 0,
    perturbation: int = 0,
    n_ens: int = 1,
    lat1_deg: float = 90.0,
    lon1_deg: float = 0.0,
    d_deg: float = 0.25,
    decimal_scale: int = 0,
    binary_scale: int = 0,
    ref_date: tuple[int, int, int] = (2024, 1, 1),
    packing: int = 0,
    spatial_order: int = 2,
) -> bytes:
    """One GRIB2 message for a (nj, ni) lat/lon grid.

    ``template`` 1 = individual ensemble forecast (4.1, carries
    perturbation number); 0 = deterministic analysis/forecast (4.0).
    ``packing`` selects the data-representation template: 0 = simple
    (5.0), 2 = complex/group splitting (5.2), 3 = complex + spatial
    differencing of ``spatial_order`` 1 or 2 (5.3). NaN cells become a
    section-6 bitmap (absent points) under any packing. Packing is LOSSY
    in general: values quantize to the grid R + X * 2**binary_scale
    (then / 10**decimal_scale), R = min. Choose the scales so your data
    lands on that grid for a bit-exact round-trip (integers at D=E=0,
    quarter-steps at E=-2, ...)."""
    grid = np.ascontiguousarray(values, dtype=np.float64)
    if grid.ndim != 2:
        raise ValueError("values must be 2-D (nj, ni)")
    nj, ni = grid.shape
    npts = ni * nj

    flat = grid.reshape(-1)
    nan_mask = np.isnan(flat)
    if nan_mask.any():
        bitmap = (~nan_mask).astype(np.uint8)
        flat = flat[~nan_mask]
    else:
        bitmap = None
    n_present = flat.size

    dec = 10.0 ** decimal_scale
    binf = 2.0 ** binary_scale
    scaled = flat * dec
    # reference value is stored as IEEE float32: round it DOWN so every
    # (scaled - r) stays non-negative after the narrowing
    r = float(np.float32(scaled.min())) if n_present else 0.0
    if n_present and r > scaled.min():
        r = float(np.nextafter(np.float32(r), np.float32(-np.inf)))
    x = np.maximum(np.round((scaled - r) / binf), 0).astype(np.uint64)
    span = int(x.max()) if n_present else 0
    if packing == 0:
        nbits = max(1, span.bit_length())
    elif packing in (2, 3):
        nbits, s5_tail, s7_complex = _encode_complex(x, packing, spatial_order)
    else:
        raise NotImplementedError(f"packing template 5.{packing} not supported")

    s1 = struct.pack(
        ">HHBBBHBBBBBBB", 74, 0, 2, 1, 1,
        ref_date[0], ref_date[1], ref_date[2], 0, 0, 0, 0, 1,
    )
    # grid definition template 3.0 (regular lat/lon, microdegrees)
    lat1 = int(round(lat1_deg * 1e6))
    lon1 = int(round(lon1_deg * 1e6)) % 360_000_000
    d_m = int(round(d_deg * 1e6))
    lat2 = lat1 - (nj - 1) * d_m
    lon2 = (lon1 + (ni - 1) * d_m) % 360_000_000
    s3 = (
        struct.pack(">BIBBH", 0, npts, 0, 0, 0)  # source, npts, 0, 0, template 3.0
        + struct.pack(">BBIBIBI", 6, 0, 0, 0, 0, 0, 0)  # earth shape, octets 15-30
        + struct.pack(">II", ni, nj)  # octets 31-38
        + struct.pack(">II", 0, 0)  # basic angle + subdivisions, octets 39-46
        + struct.pack(">iI", lat1, lon1)  # octets 47-54
        + struct.pack(">B", 0x30)  # resolution/component flags, octet 55
        + struct.pack(">iI", lat2, lon2)  # octets 56-63
        + struct.pack(">II", d_m, d_m)  # Di/Dj, octets 64-71
        + struct.pack(">B", 0x00)  # octet 72, scanning mode: +i, -j
    )
    # product definition template 4.0 / 4.1 (octets 10-22: parameter +
    # generating process + cutoff + time unit (1=hour) + forecast time;
    # octets 23-34: BOTH 6-byte fixed surfaces, second = 255 missing)
    pdt = struct.pack(
        ">BBBBBHBBI", param_category, param_number, 2, 0, 0, 0, 0, 1, forecast_time
    ) + struct.pack(">BBIBBI", 1, 0, 0, 255, 0, 0)
    if template == 1:
        pdt += struct.pack(">BBB", 1, perturbation, n_ens)  # octets 35-37
    elif template != 0:
        raise NotImplementedError(f"product template 4.{template} not supported")
    s4 = struct.pack(">HH", 0, template) + pdt
    s5_common = struct.pack(
        ">IHfhhBB", n_present, packing, np.float32(r), binary_scale, decimal_scale,
        nbits, 0,
    )
    if packing == 0:
        s5 = s5_common
        s7 = _pack_bits(x, nbits)
    else:
        s5 = s5_common + s5_tail
        s7 = s7_complex
    if bitmap is None:
        s6 = struct.pack(">B", 255)  # no bitmap
    else:
        s6 = struct.pack(">B", 0) + np.packbits(bitmap).tobytes()

    body = (
        _sect(1, s1) + _sect(3, s3) + _sect(4, s4) + _sect(5, s5)
        + _sect(6, s6) + _sect(7, s7) + b"7777"
    )
    total = 16 + len(body)
    s0 = _MAGIC + struct.pack(">HBBQ", 0, discipline, 2, total)
    return s0 + body


def encode_file(messages: list[bytes]) -> bytes:
    """A GRIB FILE is plain message concatenation (how ERA5/SEAS5 ship
    ensembles and forecast months in one download)."""
    return b"".join(messages)


def scan_messages(buf: bytes) -> list[GribMessage]:
    """Walk a multi-message file, parsing ONLY headers (sections 0-6
    metadata + the data section's offsets). Data stays packed — this is
    what makes filter_by_keys free: selection happens on these keys and
    only surviving messages ever run the bit-unpack.

    Fast path (r8): the fixed-offset section walk is translated to C
    (native.grib_scan) — same fields, same unsupported-variant guards;
    any file the C subset cannot prove it parses identically (error
    return) re-runs this Python walk for exact behavior and messages."""
    from . import native

    scanned = native.grib_scan(bytes(buf))
    if scanned is not None:
        fields, refs = scanned
        out = []
        for row, ref in zip(fields.tolist(), refs.tolist()):
            m = GribMessage()
            (m.offset, m.length, m.discipline, m.param_category,
             m.param_number, m.template, m.forecast_time, m.perturbation,
             m.n_ens, m.ni, m.nj, m.lat1_mdeg, m.lon1_mdeg, m.di_mdeg,
             m.dj_mdeg, m.n_points, m.packing_template, m.bits_per_value,
             m._bitmap_offset, m._data_offset, m._data_len, m._s5_offset,
             m.binary_scale, m.decimal_scale) = row
            m.ref_value = ref
            out.append(m)
        return out
    out = []
    pos = 0
    n = len(buf)
    while pos < n:
        if buf[pos : pos + 4] != _MAGIC:
            raise ValueError(f"no GRIB indicator at offset {pos}")
        edition = buf[pos + 7]
        if edition != 2:
            raise NotImplementedError(f"GRIB edition {edition} not supported")
        m = GribMessage()
        m._bitmap_offset = -1  # no section 6 seen yet
        m.packing_template = 0
        m.offset = pos
        m.discipline = buf[pos + 6]
        (m.length,) = struct.unpack_from(">Q", buf, pos + 8)
        p = pos + 16
        end = pos + m.length
        while p < end - 4:
            slen, snum = struct.unpack_from(">IB", buf, p)
            body = p + 5
            if snum == 3:
                (tmpl,) = struct.unpack_from(">H", buf, body + 7)
                if tmpl != 0:
                    raise NotImplementedError(f"grid template 3.{tmpl} not supported")
                g = body + 9 + 16  # skip earth-shape octets 15-30
                m.ni, m.nj = struct.unpack_from(">II", buf, g)
                g += 8 + 8  # past Ni/Nj + basic angle/subdivision uint32 pair
                m.lat1_mdeg, m.lon1_mdeg = struct.unpack_from(">iI", buf, g)
                g += 8 + 1 + 8  # past La1/Lo1, resolution flags, La2/Lo2
                m.di_mdeg, m.dj_mdeg = struct.unpack_from(">II", buf, g)
            elif snum == 4:
                (m.template,) = struct.unpack_from(">H", buf, body + 2)
                if m.template not in (0, 1):
                    raise NotImplementedError(
                        f"product template 4.{m.template} not supported"
                    )
                t = body + 4
                m.param_category, m.param_number = struct.unpack_from(">BB", buf, t)
                (m.forecast_time,) = struct.unpack_from(">I", buf, t + 9)
                if m.template == 1:
                    # octet 36 = perturbationNumber, 37 = numberOfForecastsInEnsemble
                    m.perturbation, m.n_ens = struct.unpack_from(">BB", buf, t + 26)
                else:
                    m.perturbation, m.n_ens = 0, 1
            elif snum == 5:
                m.n_points, tmpl = struct.unpack_from(">IH", buf, body)
                if tmpl not in (0, 2, 3):
                    raise NotImplementedError(f"packing template 5.{tmpl} not supported")
                m.packing_template = tmpl
                m._s5_offset = body
                (rv,) = struct.unpack_from(">f", buf, body + 6)
                m.ref_value = float(rv)
                m.binary_scale, m.decimal_scale = struct.unpack_from(">hh", buf, body + 10)
                m.bits_per_value = buf[body + 14]
            elif snum == 6:
                ind = buf[body]
                if ind == 255:
                    m._bitmap_offset = -1
                elif ind == 0:
                    m._bitmap_offset = body + 1
                else:
                    raise NotImplementedError(
                        f"bitmap indicator {ind} (pre-defined/re-used bitmap) not supported"
                    )
            elif snum == 7:
                m._data_offset = body
                m._data_len = slen - 5
            p += slen
        if buf[end - 4 : end] != b"7777":
            raise ValueError("GRIB message missing 7777 terminator")
        out.append(m)
        pos = end
    return out


def decode_values(buf: bytes, m: GribMessage) -> np.ndarray:
    """Unpack one scanned message's grid: (nj, ni) float64 (NaN where a
    section-6 bitmap marks points absent)."""
    if m.packing_template == 0:
        x = _unpack_bits(
            buf[m._data_offset : m._data_offset + m._data_len],
            m.n_points, m.bits_per_value,
        ).astype(np.int64)
    else:
        x = _decode_complex(buf, m)
    v = (m.ref_value + x.astype(np.float64) * 2.0 ** m.binary_scale) * (
        10.0 ** -m.decimal_scale
    )
    if m._bitmap_offset >= 0:
        npts = m.ni * m.nj
        present = np.unpackbits(
            np.frombuffer(
                buf[m._bitmap_offset : m._bitmap_offset + (npts + 7) // 8],
                dtype=np.uint8,
            )
        )[:npts].astype(bool)
        if int(present.sum()) != m.n_points:
            raise ValueError("bitmap population != section-5 point count")
        full = np.full(npts, np.nan)
        full[present] = v
        v = full
    return v.reshape(m.nj, m.ni)


def decode_values_simple_batch(buf: bytes, msgs: list[GribMessage]) -> np.ndarray:
    """Batched decode for simple-packed, bitmap-free messages sharing
    (bits_per_value, n_points, data length, binary/decimal scale) —
    the ensemble-file shape, where members differ only in reference
    value and packed bits.  Returns (k, n_points) float64 rows equal to
    each message's ``decode_values(...).ravel()`` (same per-element float
    expression; only the numpy dispatch is amortized)."""
    m0 = msgs[0]
    x = _unpack_bits_rows(
        [buf[m._data_offset : m._data_offset + m._data_len] for m in msgs],
        m0.n_points,
        m0.bits_per_value,
    ).astype(np.int64)
    refs = np.array([m.ref_value for m in msgs], dtype=np.float64)
    return (refs[:, None] + x.astype(np.float64) * 2.0 ** m0.binary_scale) * (
        10.0 ** -m0.decimal_scale
    )

