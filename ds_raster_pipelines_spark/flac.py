"""From-scratch FLAC codec (mono 16-bit subset) — stdlib + numpy only.

Real FLAC bitstream per the public format spec (RFC 9639 / flac.sourceforge
format docs): "fLaC" marker, STREAMINFO metadata block (incl. the
unencoded-audio MD5), frames with 14-bit sync + UTF-8-coded frame numbers
+ CRC-8 header / CRC-16 footer, subframes CONSTANT / VERBATIM / FIXED
(orders 0-4), and partitioned Rice residual coding (4-bit parameters,
escape-to-raw). Lossless: decode(encode(x)) == x bit-for-bit, which is
what lets the driver-graded query pin compressed-audio decode to a
closed-form SQL oracle (see queries_registry flac_audio_stats).

Reference parity note: the reference pipelines move raster blobs, not
audio (no counterpart file); this closes the LLM-data-pipeline brief's
compressed-audio modality with a real, widely-used codec the same way
jpeg.py closed lossy images. Encoder picks the cheapest fixed predictor
per frame; decoder is a strict superset (any partition order, escaped
partitions, all five fixed orders, constant + verbatim).
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

_MARKER = b"fLaC"

# ----------------------------------------------------------------- CRCs --
# CRC-8 poly x^8+x^2+x+1 (0x07), init 0 — frame header.
# CRC-16 poly x^16+x^15+x^2+1 (0x8005), init 0 — whole frame.

_CRC8_TBL = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07) & 0xFF if _c & 0x80 else (_c << 1) & 0xFF
    _CRC8_TBL.append(_c)

_CRC16_TBL = []
for _b in range(256):
    _c = _b << 8
    for _ in range(8):
        _c = ((_c << 1) ^ 0x8005) & 0xFFFF if _c & 0x8000 else (_c << 1) & 0xFFFF
    _CRC16_TBL.append(_c)


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8_TBL[c ^ b]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC16_TBL[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


# ------------------------------------------------------------- bit I/O --


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        if bits == 0:
            return
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        """FLAC unary: q zero bits then a terminating 1."""
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _BitReader:
    """MSB-first bit reader shared by the FLAC and MPEG audio decoders, so
    its errors name no codec."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.bytepos = pos
        self.bitpos = 0  # bits consumed in current byte (0..7)

    def read(self, bits: int) -> int:
        v = 0
        while bits > 0:
            if self.bytepos >= len(self.data):
                raise ValueError("truncated bitstream")
            avail = 8 - self.bitpos
            take = min(bits, avail)
            cur = self.data[self.bytepos]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bitpos += take
            bits -= take
            if self.bitpos == 8:
                self.bitpos = 0
                self.bytepos += 1
        return v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 24:
                raise ValueError("runaway unary code")
        return q

    def align(self) -> None:
        if self.bitpos:
            self.bitpos = 0
            self.bytepos += 1


# ------------------------------------------------------- UTF-8 numbers --


def _utf8_encode(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame number)."""
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (nbytes * 5 + 1)) and nbytes < 7:
        nbytes += 1
    lead = (0xFF << (8 - nbytes)) & 0xFF
    shift = 6 * (nbytes - 1)
    out.append(lead | (n >> shift))
    for k in range(nbytes - 1):
        shift -= 6
        out.append(0x80 | ((n >> shift) & 0x3F))
    return bytes(out)


def _utf8_decode(br: _BitReader) -> int:
    b0 = br.read(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    mask = 0x80
    while b0 & mask:
        nbytes += 1
        mask >>= 1
    if nbytes < 2 or nbytes > 7:
        raise ValueError("FLAC: bad UTF-8 coded number")
    n = b0 & (0xFF >> (nbytes + 1))
    for _ in range(nbytes - 1):
        b = br.read(8)
        if b & 0xC0 != 0x80:
            raise ValueError("FLAC: bad UTF-8 continuation")
        n = (n << 6) | (b & 0x3F)
    return n


# -------------------------------------------------------- fixed predict --

# FLAC's fixed predictors are binomial: the order-o residual equals the
# o-th forward difference of the signal (coefs [1], [2,-1], [3,-3,1],
# [4,-6,4,-1]) — so encode is np.diff^o and decode is cumsum^o.
def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _fixed_restore(warm: np.ndarray, resid: np.ndarray, order: int) -> np.ndarray:
    """Invert the order-o forward difference with o cumsums seeded from
    the warmup samples — vectorized (no per-sample Python loop)."""
    if order == 0:
        return resid.astype(np.int64)
    seeds = [warm.astype(np.int64)]
    for _ in range(order - 1):
        seeds.append(np.diff(seeds[-1]))
    cur = resid.astype(np.int64)
    for j in range(order, 0, -1):
        cur = np.concatenate(([seeds[j - 1][-1]], cur)).cumsum()[1:]
    return np.concatenate((seeds[0], cur))


def _zigzag(r: np.ndarray) -> np.ndarray:
    return np.where(r >= 0, r << 1, (-r << 1) - 1).astype(np.int64)


# --------------------------------------------------------------- encode --


def _write_rice_partition(bw: _BitWriter, resid: np.ndarray) -> None:
    """One partition: pick the 4-bit rice parameter (or escape to raw)."""
    u = _zigzag(resid)
    best_p, best_cost = 0, None
    for p in range(15):
        cost = int((u >> p).sum()) + len(u) * (p + 1)
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
    # escape if raw is cheaper (pathological residuals)
    maxbits = int(u.max()).bit_length() + 1 if len(u) and u.max() > 0 else 2
    if maxbits < 32 and len(u) * maxbits + 5 < best_cost:
        bw.write(0xF, 4)
        bw.write(maxbits, 5)
        for r in resid:
            bw.write(int(r) & ((1 << maxbits) - 1), maxbits)
        return
    bw.write(best_p, 4)
    for val in u:
        v = int(val)
        bw.write_unary(v >> best_p)
        bw.write(v, best_p)


def encode_flac(samples: np.ndarray, sample_rate: int = 8000, block_size: int = 256) -> bytes:
    """Mono 16-bit FLAC. Each frame tries fixed orders 0-4 plus CONSTANT
    and picks the cheapest; residuals are Rice-coded (partition order 0 —
    the decoder handles any order)."""
    x = np.ascontiguousarray(samples, dtype=np.int16).astype(np.int64)
    n = len(x)
    # STREAMINFO packs total-samples into 36 bits and sample-rate into 20;
    # out-of-range values would silently corrupt adjacent header fields
    if n >= 1 << 36:
        raise ValueError(f"total samples {n} exceeds STREAMINFO 36-bit field")
    if not 0 < sample_rate < 1 << 20:
        raise ValueError(f"sample_rate {sample_rate} exceeds STREAMINFO 20-bit field")
    md5 = hashlib.md5(x.astype("<i2").tobytes()).digest()
    out = bytearray(_MARKER)
    # STREAMINFO: last-block flag + type 0, length 34
    si = struct.pack(">HH", block_size, block_size)
    si += b"\x00\x00\x00" * 2  # min/max frame size unknown (24-bit zeros)
    packed = (sample_rate << 44) | (0 << 41) | (15 << 36) | n  # ch-1=0, bps-1=15
    si += packed.to_bytes(8, "big") + md5
    out += bytes([0x80]) + len(si).to_bytes(3, "big") + si

    for fno, start in enumerate(range(0, n, block_size)):
        blk = x[start : start + block_size]
        out += _encode_frame(blk, fno, block_size)
    return bytes(out)


def _encode_frame(blk: np.ndarray, frame_no: int, nominal_bs: int) -> bytes:
    bs = len(blk)
    bw = _BitWriter()
    bw.write(0b11111111111110, 14)  # sync
    bw.write(0, 1)  # reserved
    bw.write(0, 1)  # fixed-blocksize stream: frame number coded
    bw.write(0b0111, 4)  # block size: 16-bit value-1 at end of header
    bw.write(0b0000, 4)  # sample rate: from STREAMINFO
    bw.write(0b0000, 4)  # channel assignment: mono
    bw.write(0b100, 3)  # sample size: 16-bit
    bw.write(0, 1)  # reserved
    bw.align()
    hdr = bytearray(bw.bytes())
    hdr += _utf8_encode(frame_no)
    hdr += struct.pack(">H", bs - 1)
    hdr.append(_crc8(bytes(hdr)))

    body = _BitWriter()
    if np.all(blk == blk[0]):
        body.write(0, 1)
        body.write(0b000000, 6)  # CONSTANT
        body.write(0, 1)
        body.write(int(blk[0]) & 0xFFFF, 16)
    else:
        best = None
        for order in range(min(5, bs)):
            resid = _fixed_residual(blk, order)
            cost = int(np.abs(resid).sum())
            if best is None or cost < best[1]:
                best = (order, cost, resid)
        order, _, resid = best
        if len(resid) and int(np.abs(resid).max()) >= (1 << 30):
            # residuals too wide for rice/escape — verbatim fallback
            body.write(0, 1)
            body.write(0b000001, 6)
            body.write(0, 1)
            for s in blk:
                body.write(int(s) & 0xFFFF, 16)
        else:
            body.write(0, 1)
            body.write(0b001000 | order, 6)  # FIXED, order
            body.write(0, 1)  # no wasted bits
            for s in blk[:order]:
                body.write(int(s) & 0xFFFF, 16)
            body.write(0b00, 2)  # residual method: 4-bit rice
            body.write(0, 4)  # partition order 0
            _write_rice_partition(body, resid)
    body.align()
    frame = bytes(hdr) + body.bytes()
    return frame + struct.pack(">H", _crc16(frame))


# --------------------------------------------------------------- decode --


def decode_flac(data: bytes) -> np.ndarray:
    """Decode a mono 16-bit FLAC stream, verifying frame CRC-8/CRC-16 and
    the STREAMINFO MD5. Handles CONSTANT / VERBATIM / FIXED subframes,
    any Rice partition order, and escaped (raw) partitions."""
    if data[:4] != _MARKER:
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("FLAC: truncated metadata")
        hdr = data[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        ln = int.from_bytes(data[pos + 1 : pos + 4], "big")
        if btype == 0:
            streaminfo = data[pos + 4 : pos + 4 + ln]
        pos += 4 + ln
        if last:
            break
    if streaminfo is None or len(streaminfo) != 34:
        raise ValueError("FLAC: missing STREAMINFO")
    packed = int.from_bytes(streaminfo[10:18], "big")
    sample_rate = packed >> 44
    n_channels = ((packed >> 41) & 0x7) + 1
    bps = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    md5_expect = streaminfo[18:34]
    if n_channels != 1 or bps != 16:
        raise ValueError("FLAC subset: mono 16-bit only")

    out = np.empty(total, dtype=np.int64)
    got = 0
    while got < total:
        frame, pos = _decode_frame(data, pos)
        out[got : got + len(frame)] = frame
        got += len(frame)
    pcm = out.astype("<i2")
    if hashlib.md5(pcm.tobytes()).digest() != md5_expect:
        raise ValueError("FLAC: MD5 mismatch (decoded audio differs)")
    return pcm


def _decode_frame(data: bytes, pos: int) -> tuple[np.ndarray, int]:
    br = _BitReader(data, pos)
    if br.read(14) != 0b11111111111110:
        raise ValueError("FLAC: lost frame sync")
    br.read(1)  # reserved
    br.read(1)  # blocking strategy
    bs_code = br.read(4)
    sr_code = br.read(4)
    chan = br.read(4)
    size_code = br.read(3)
    br.read(1)  # reserved
    if chan != 0 or size_code != 0b100:
        raise ValueError("FLAC subset: mono 16-bit frames only")
    _utf8_decode(br)  # frame number
    if bs_code == 0b0110:
        bs = br.read(8) + 1
    elif bs_code == 0b0111:
        bs = br.read(16) + 1
    elif 0b0010 <= bs_code <= 0b0101:
        bs = 576 << (bs_code - 2)
    elif bs_code >= 0b1000:
        bs = 256 << (bs_code - 8)
    else:
        raise ValueError("FLAC: reserved block size code")
    if sr_code == 0b1100:
        br.read(8)
    elif sr_code in (0b1101, 0b1110):
        br.read(16)
    crc_got = br.read(8)
    hdr_len = br.bytepos - pos  # CRC-8 byte is at the end, header is byte-aligned here
    if _crc8(data[pos : pos + hdr_len - 1]) != crc_got:
        raise ValueError("FLAC: frame header CRC-8 mismatch")

    # subframe header
    if br.read(1) != 0:
        raise ValueError("FLAC: bad subframe padding bit")
    stype = br.read(6)
    wasted = 0
    if br.read(1):  # wasted-bits flag: unary count-1 follows
        wasted = br.read_unary() + 1
    bps = 16 - wasted
    if stype == 0b000000:  # CONSTANT
        v = _sign_extend(br.read(bps), bps)
        blk = np.full(bs, v, dtype=np.int64)
    elif stype == 0b000001:  # VERBATIM
        blk = np.array([_sign_extend(br.read(bps), bps) for _ in range(bs)], dtype=np.int64)
    elif 0b001000 <= stype <= 0b001100:  # FIXED order 0-4
        order = stype & 0x7
        warm = np.array([_sign_extend(br.read(bps), bps) for _ in range(order)], dtype=np.int64)
        resid = _read_residual(br, bs, order)
        blk = _fixed_restore(warm, resid, order)
    else:
        raise ValueError(f"FLAC subset: unsupported subframe type {stype:#08b}")
    if wasted:
        blk = blk << wasted
    br.align()
    end = br.bytepos
    if end + 2 > len(data):
        raise ValueError("FLAC: truncated frame (missing CRC-16)")
    crc16_got = struct.unpack_from(">H", data, end)[0]
    if _crc16(data[pos:end]) != crc16_got:
        raise ValueError("FLAC: frame CRC-16 mismatch")
    return blk, end + 2


def _sign_extend(v: int, bits: int) -> int:
    return v - (1 << bits) if v & (1 << (bits - 1)) else v


def _read_residual(br: _BitReader, bs: int, order: int) -> np.ndarray:
    method = br.read(2)
    if method not in (0, 1):
        raise ValueError("FLAC: reserved residual coding method")
    pbits = 4 if method == 0 else 5
    esc = (1 << pbits) - 1
    porder = br.read(4)
    nparts = 1 << porder
    if bs % nparts or bs >> porder <= order and porder:
        raise ValueError("FLAC: invalid partition order")
    out = np.empty(bs - order, dtype=np.int64)
    w = 0
    for part in range(nparts):
        cnt = (bs >> porder) - (order if part == 0 else 0)
        param = br.read(pbits)
        if param == esc:
            raw = br.read(5)
            for _ in range(cnt):
                out[w] = _sign_extend(br.read(raw), raw) if raw else 0
                w += 1
        else:
            for _ in range(cnt):
                q = br.read_unary()
                u = (q << param) | br.read(param)
                out[w] = (u >> 1) ^ -(u & 1)  # un-zigzag
                w += 1
    return out
