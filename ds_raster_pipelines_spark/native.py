"""Optional native (C via ctypes) kernels for bitstream-serial hot loops.

The engine's Arrow kernels hand whole batches to vectorized numpy wherever
the work is data-parallel (the §4.2 sweet spot).  A few codec inner loops
are *bitstream-serial* — each step's length depends on the previous symbol
— so they cannot be vectorized and run as per-symbol Python loops (the
JPEG entropy walk was measured at ~0.5 ms/frame, >80% of the MJPEG video
stat kernel).  For exactly those loops this module compiles a tiny
dependency-free C translation unit at first use with the system C
compiler and loads it through ctypes.

Design rules:

* the C function is a LINE-FOR-LINE translation of the pure-Python loop
  it replaces (same state machine, same truncation/overrun guards), and
  the Python loop stays in the codebase as the always-available fallback;
* any C-side error (nonzero return) re-runs the Python path so error
  MESSAGES and exception types are byte-identical to the fallback;
* compilation is attempted once per process, guarded by a file lock, and
  cached under /tmp — concurrent Python workers share one build.  The
  cache key covers the source, the compile command, the machine type and
  the CPU flags, so a ``-march=native`` library built on one CPU is never
  loaded on another.  A missing compiler or failed build selects the
  Python path, records ``build_error`` on this module and logs it once
  per process as a WARNING;
* the bindings are one table (``_SIGNATURES``: argument codes per C
  entry) and every wrapper calls the C entry through ``_call``.  Each
  call that takes the Python path — library missing, or input declined
  by the kernel — is counted in ``fallbacks`` by kernel name.

Everything here is public knowledge: ITU-T T.81 for the JPEG scan
structure, the C89 standard library, and the ctypes module docs.
"""

from __future__ import annotations

import collections
import ctypes
import hashlib
import logging
import os
import platform
import subprocess
import tempfile

import numpy as np

_C_SRC = r"""
#include <stdint.h>
#include <string.h>

/* Baseline-JPEG entropy-coded scan walk: decode `nblocks` 8x8 blocks'
 * zigzag coefficients from an UNSTUFFED entropy segment.  Mirrors
 * jpeg.py's _BitReader/decode loop exactly, including the zero-padded
 * peek past end-of-data and the consumed-bits truncation guard.
 *
 * dc_sym/ac_sym: 65536-entry int16 prefix LUTs (-1 = invalid code);
 * dc_len/ac_len: matching uint8 code lengths.
 * zz: nblocks*64 int32, caller-zeroed.  dc_in: DPCM predictor coming in
 * (0 at scan/restart start).  Returns the outgoing predictor (>= -32768)
 * on success or a negative error code < -100000 on any malformed input
 * (caller falls back to the Python decoder for exact error semantics).
 */
#define ERR (-1000000)
/* scan_core: the walk itself.  dc8s/dc8l/ac8s/ac8l are optional 256-entry
 * FIRST-LEVEL LUTs (codes of length <= 8 resolve from the top byte — an
 * L1-resident probe; the 64K second-level tables are L2-sized and their
 * misses dominated the walk at ~35 ns/symbol).  Entry -1 = fall through
 * to the exact 16-bit probe; results are identical by the prefix-LUT
 * property (a <= 8-bit code's symbol is constant over all low bytes). */
static long scan_core(const unsigned char *d, long n,
                      const int16_t *dc_sym, const uint8_t *dc_len,
                      const int16_t *ac_sym, const uint8_t *ac_len,
                      long nblocks, int32_t *zz, long dc_in,
                      const int16_t *dc8s, const uint8_t *dc8l,
                      const int16_t *ac8s, const uint8_t *ac8l)
{
    uint32_t acc = 0;
    long nbits = 0, pos = 0, filled = 0;
    long dc_prev = dc_in;
    long bi, total_bits = n * 8;

#define FILL(need)                                                       \
    while (nbits < (need)) {                                             \
        uint32_t b = (pos < n) ? d[pos] : 0u;                            \
        pos++;                                                           \
        acc = ((acc & 0xFFFFFFu) << 8) | b;                              \
        nbits += 8;                                                      \
        filled += 8;                                                     \
    }
#define OVERRUN() (filled - nbits > total_bits)

    for (bi = 0; bi < nblocks; bi++) {
        uint32_t p;
        int32_t *row = zz + bi * 64;
        int s, k;
        FILL(16);
        p = (acc >> (nbits - 16)) & 0xFFFFu;
        if (dc8s && (s = dc8s[p >> 8]) >= 0) {
            nbits -= dc8l[p >> 8];
        } else {
            s = dc_sym[p];
            if (s < 0)
                return ERR - 1; /* invalid DC Huffman code */
            nbits -= dc_len[p];
        }
        if (nbits < 0 || OVERRUN())
            return ERR - 2; /* truncated stream */
        if (s) {
            long v;
            FILL(s);
            nbits -= s;
            if (OVERRUN())
                return ERR - 2;
            v = (acc >> nbits) & ((1u << s) - 1u);
            if (v < (1L << (s - 1)))
                v = v - (1L << s) + 1;
            dc_prev += v;
        }
        row[0] = (int32_t)dc_prev;
        k = 1;
        while (k < 64) {
            int sym, sz;
            FILL(16);
            p = (acc >> (nbits - 16)) & 0xFFFFu;
            if (ac8s && (sym = ac8s[p >> 8]) >= 0) {
                nbits -= ac8l[p >> 8];
            } else {
                sym = ac_sym[p];
                if (sym < 0)
                    return ERR - 1; /* invalid AC Huffman code */
                nbits -= ac_len[p];
            }
            if (nbits < 0 || OVERRUN())
                return ERR - 2;
            if (sym == 0x00) /* EOB */
                break;
            if (sym == 0xF0) { /* ZRL */
                k += 16;
                continue;
            }
            k += sym >> 4;
            sz = sym & 0x0F;
            if (k >= 64)
                return ERR - 3; /* AC run past block end */
            if (sz == 0)
                return ERR - 4; /* undefined run/size (Python raises too) */
            {
                long v;
                FILL(sz);
                nbits -= sz;
                if (OVERRUN())
                    return ERR - 2;
                v = (acc >> nbits) & ((1u << sz) - 1u);
                if (v < (1L << (sz - 1)))
                    v = v - (1L << sz) + 1;
                row[k] = (int32_t)v;
            }
            k++;
        }
    }
    return dc_prev;
}

/* Decode nseg independent entropy segments (each starts from a zero DPCM
 * predictor: one whole no-restart frame, or one restart interval) in ONE
 * call, amortizing the foreign-call overhead that dominated per-frame
 * decodes.  seg_off has nseg+1 entries into the concatenated UNSTUFFED
 * bodies; seg_blocks[i] blocks are written at zz + zz_off[i]*64.
 * Returns 0 or the first failing segment's error code (caller falls back
 * to the Python decoder for exact error semantics).
 */
long jpeg_decode_scan_multi(const unsigned char *data, const int64_t *seg_off,
                            const int64_t *seg_blocks, const int64_t *zz_off,
                            long nseg,
                            const int16_t *dc_sym, const uint8_t *dc_len,
                            const int16_t *ac_sym, const uint8_t *ac_len,
                            int32_t *zz)
{
    int16_t dc8s[256], ac8s[256];
    uint8_t dc8l[256], ac8l[256];
    long i;
    for (i = 0; i < 256; i++) {
        long idx = i << 8;
        dc8s[i] = (dc_sym[idx] >= 0 && dc_len[idx] <= 8) ? dc_sym[idx] : -1;
        dc8l[i] = dc_len[idx];
        ac8s[i] = (ac_sym[idx] >= 0 && ac_len[idx] <= 8) ? ac_sym[idx] : -1;
        ac8l[i] = ac_len[idx];
    }
    for (i = 0; i < nseg; i++) {
        int32_t *zseg = zz + zz_off[i] * 64;
        long j, nz = seg_blocks[i] * 64;
        long rc;
        /* zero here (first touch, cache-resident) so the caller can
         * hand np.empty instead of paying a second full zeroing pass
         * over the ~nblocks*256-byte coefficient buffer in Python */
        for (j = 0; j < nz; j++)
            zseg[j] = 0;
        rc = scan_core(data + seg_off[i],
                       seg_off[i + 1] - seg_off[i],
                       dc_sym, dc_len, ac_sym, ac_len,
                       seg_blocks[i], zseg, 0,
                       dc8s, dc8l, ac8s, ac8l);
        if (rc <= -1000000)
            return rc;
    }
    return 0;
}

/* Dequantize + inverse DCT + epilogue for a stack of 8x8 blocks, the
 * per-block form of jpeg.py's _pixels_from_zz: for every block,
 * P = sum over nonzero zigzag coefficients k of
 *     (zz[k] * q[raster(k)]) * basis[raster(k)]   (+ 128, rint, clip).
 * basis row r is the flattened outer product D[u,:] (x) D[v,:] for
 * r = u*8 + v (the exact algebraic expansion of D^T C D), supplied by
 * the caller from the SAME _DCT_D the numpy path uses.  Skipping zero
 * coefficients is exact (their term is exactly 0.0), and the corpus
 * frames carry ~3 nonzeros per block, so this does ~200 flops/block
 * where the dense matmul pair does 1024 plus numpy dispatch.
 * rint() honors the default round-half-to-even mode == np.rint.
 */
#include <math.h>
/* Writes each 8x8 block STRAIGHT INTO its frame's raster layout: block
 * bi belongs to frame bi / bpf at block row/col (b / nbx, b % nbx), so
 * the numpy side needs no reshape/swapaxes copy at all (frames come out
 * as (nframes, nby*8, nbx*8) uint8, crop-by-view downstream). */
long jpeg_idct_blocks(const int32_t *zz, long nblocks,
                      const int32_t *q,          /* 64, raster order */
                      const double *basis,       /* 64*64, row-major */
                      const unsigned char *zz2r, /* zigzag k -> raster r */
                      long nbx, long bpf,        /* blocks per row / frame */
                      unsigned char *out,        /* nblocks*64, frame layout,
                                                    or NULL: sums only */
                      int64_t *frame_sums)       /* per-frame pixel sums
                                                    (PADDED frame!), or NULL */
{
    long bi;
    long wpx = nbx * 8;
    for (bi = 0; bi < nblocks; bi++) {
        const int32_t *row = zz + bi * 64;
        long f = bi / bpf, b = bi % bpf;
        double acc[64];
        int k, m, r2, c2;
        for (m = 0; m < 64; m++)
            acc[m] = 0.0;
        for (k = 0; k < 64; k++) {
            int32_t c = row[k];
            if (c) {
                int r = zz2r[k];
                double v = (double)c * (double)q[r];
                const double *bas = basis + r * 64;
                for (m = 0; m < 64; m++)
                    acc[m] += v * bas[m];
            }
        }
        /* branch-free epilogue so the compiler can use packed round/
         * min/max (the branchy clip form ran one scalar round + two
         * compares + a branch per pixel and dominated the kernel) */
        for (m = 0; m < 64; m++) {
            double p = rint(acc[m] + 128.0);
            p = p < 0.0 ? 0.0 : p;
            p = p > 255.0 ? 255.0 : p;
            acc[m] = p;
        }
        {
            unsigned char blk[64];
            for (m = 0; m < 64; m++)
                blk[m] = (unsigned char)acc[m];
            if (out) {
                unsigned char *px =
                    out + f * bpf * 64 + (b / nbx) * 8 * wpx + (b % nbx) * 8;
                for (r2 = 0; r2 < 8; r2++)
                    for (c2 = 0; c2 < 8; c2++)
                        px[r2 * wpx + c2] = blk[r2 * 8 + c2];
            }
            if (frame_sums) {
                long bs = 0;
                for (m = 0; m < 64; m++)
                    bs += blk[m];
                frame_sums[f] += bs;
            }
        }
    }
    return 0;
}

/* Per-message EXACT integer sum over a GRIB2 data section, for the
 * D=E=0, R=0 case where decoded values are raw packed integers (the
 * graded GRIB corpora) — sum and count per message without ever
 * materializing a float array.  Mirrors grib.py _unpack_bits /
 * _decode_complex / decode_values for packing templates 0, 2 and 3
 * (second-order spatial differencing) plus the section-6 bitmap
 * population check.  A message this subset cannot prove exact returns
 * 0 and the caller decodes it on the Python path instead.
 *
 * f (10 int64 slots):
 *  [0]=packing_template [1]=bits_per_value [2]=n_points [3]=data_offset
 *  [4]=data_len [5]=s5_offset [6]=bitmap_offset(-1 none) [7]=ni [8]=nj
 *  [9]=integral reference value (v = R + x with E=0, D=0)
 */
static uint64_t rdbits(const unsigned char *p, long bitpos, int w)
{
    long byte = bitpos >> 3;
    int off = (int)(bitpos & 7);
    int nb = (off + w + 7) >> 3;
    uint64_t acc = 0;
    int i;
    for (i = 0; i < nb; i++)
        acc = (acc << 8) | p[byte + i];
    return (acc >> (nb * 8 - off - w)) & ((w >= 64) ? ~0ULL : ((1ULL << w) - 1));
}
static long sm_read(const unsigned char *buf, long pos, int ww)
{
    uint64_t u = 0;
    int i;
    for (i = 0; i < ww; i++)
        u = (u << 8) | buf[pos + i];
    if (u >> (8 * ww - 1))
        return -(long)(u & ((1ULL << (8 * ww - 1)) - 1));
    return (long)u;
}
static int msg_sum_exact(const unsigned char *buf, long n, const int64_t *f,
                         int64_t *out_sum, int64_t *out_cnt)
{
    long tmpl = f[0], nbits = f[1], npts = f[2];
    long dpos = f[3], dlen = f[4], s5 = f[5], bmo = f[6];
    long ni = f[7], nj = f[8], iref = f[9];
    int64_t sum = 0;
    long k;
    if (npts < 0 || nbits < 0 || nbits > 32 || dpos < 0 || dpos + dlen > n)
        return 0;
    if (bmo >= 0) { /* bitmap population must equal n_points */
        long full = ni * nj, pc = 0, nby = (full + 7) / 8;
        int extra = (int)(nby * 8 - full);
        if (bmo + nby > n)
            return 0;
        for (k = 0; k < nby; k++)
            pc += __builtin_popcount(buf[bmo + k]);
        if (extra) { /* pad bits past ni*nj never count */
            unsigned last = buf[bmo + nby - 1] & ((1u << extra) - 1u);
            pc -= __builtin_popcount(last);
        }
        if (pc != npts)
            return 0; /* Python raises the canonical error */
    }
    if (tmpl == 0) {
        if (nbits == 0 || (npts * nbits + 7) / 8 > dlen)
            return 0;
        for (k = 0; k < npts; k++)
            sum += (int64_t)rdbits(buf + dpos, k * nbits, (int)nbits);
    } else if (tmpl == 2 || tmpl == 3) {
        long o = s5 - 6; /* spec octet number k lives at o + k */
        long ng, lref, last_len, pos, sd = 0, gmin = 0;
        long ivals[2] = {0, 0};
        int wref, wbits, linc, lbits, ww = 0;
        long gi, vi, dbits, dmax;
        long p_refs, p_wid, p_len, p_data;
        int64_t v = 0, d = 0;
        if (s5 < 0 || o + 50 > n || buf[o + 23] != 0)
            return 0; /* missing-value mgmt: Python raises */
        ng = ((long)buf[o + 32] << 24) | ((long)buf[o + 33] << 16) |
             ((long)buf[o + 34] << 8) | buf[o + 35];
        wref = buf[o + 36];
        wbits = buf[o + 37];
        lref = ((long)buf[o + 38] << 24) | ((long)buf[o + 39] << 16) |
               ((long)buf[o + 40] << 8) | buf[o + 41];
        linc = buf[o + 42];
        last_len = ((long)buf[o + 43] << 24) | ((long)buf[o + 44] << 16) |
                   ((long)buf[o + 45] << 8) | buf[o + 46];
        lbits = buf[o + 47];
        pos = dpos;
        if (tmpl == 3) {
            sd = buf[o + 48];
            ww = buf[o + 49];
            if (sd < 1 || sd > 2 || ww < 1 || ww > 8 || npts < sd ||
                pos + (sd + 1) * ww > n)
                return 0;
            for (k = 0; k < sd; k++)
                ivals[k] = sm_read(buf, pos + k * ww, ww);
            gmin = sm_read(buf, pos + sd * ww, ww);
            pos += (sd + 1) * ww;
        }
        if (ng < 0 || npts == 0)
            return 0;
        p_refs = pos;
        p_wid = p_refs + (ng * nbits + 7) / 8;
        p_len = p_wid + (ng * wbits + 7) / 8;
        p_data = p_len + (ng * lbits + 7) / 8;
        if (p_data > n)
            return 0;
        dmax = (n - p_data) * 8;
        dbits = 0;
        vi = 0;
        for (gi = 0; gi < ng; gi++) {
            long gref = nbits ? (long)rdbits(buf + p_refs, gi * nbits,
                                             (int)nbits)
                              : 0;
            long gw = wref + (wbits ? (long)rdbits(buf + p_wid, gi * wbits,
                                                   wbits)
                                    : 0);
            long glen = (gi == ng - 1)
                            ? last_len
                            : lref + linc * (lbits ? (long)rdbits(
                                                         buf + p_len,
                                                         gi * lbits, lbits)
                                                   : 0);
            if (glen < 0 || vi + glen > npts || gw < 0 || gw > 32 ||
                dbits + glen * gw > dmax)
                break;
            for (k = 0; k < glen; k++, vi++) {
                long x = gref +
                         (gw ? (long)rdbits(buf + p_data, dbits, (int)gw) : 0);
                dbits += gw;
                if (tmpl == 2) {
                    sum += x;
                } else if (sd == 1) {
                    if (vi == 0)
                        v = ivals[0];
                    else
                        v += x + gmin;
                    sum += v;
                } else { /* sd == 2 */
                    if (vi == 0) {
                        v = ivals[0];
                    } else if (vi == 1) {
                        d = ivals[1] - ivals[0];
                        v += d;
                    } else {
                        d += x + gmin;
                        v += d;
                    }
                    sum += v;
                }
            }
        }
        if (gi != ng || vi != npts)
            return 0; /* bad geometry: Python raises */
    } else {
        return 0;
    }
    *out_sum = sum + iref * npts; /* v = R + x, R integral */
    *out_cnt = npts;
    return 1;
}

/* GRIB2 multi-message header scan: mirrors grib.py scan_messages —
 * sections 0/3/4/5/6/7 field extraction at fixed offsets, data kept
 * packed.  Returns the message count, or a negative error code for ANY
 * condition the Python scanner would raise on OR any variant this
 * subset does not cover (caller then re-runs the Python scanner for
 * exact behavior/messages).  Per message NSLOT int64 slots + 1 double:
 *  [0]=offset [1]=length [2]=discipline [3]=param_category
 *  [4]=param_number [5]=template [6]=forecast_time [7]=perturbation
 *  [8]=n_ens [9]=ni [10]=nj [11]=lat1_mdeg [12]=lon1_mdeg [13]=di_mdeg
 *  [14]=dj_mdeg [15]=n_points [16]=packing_template [17]=bits_per_value
 *  [18]=bitmap_offset(-1 none) [19]=data_offset [20]=data_len
 *  [21]=s5_offset [22]=binary_scale [23]=decimal_scale; ref_value in
 *  refs[i].
 */
#define GERR (-2000000)
#define NSLOT 24
static uint32_t rd32(const unsigned char *d) {
    return ((uint32_t)d[0] << 24) | ((uint32_t)d[1] << 16) |
           ((uint32_t)d[2] << 8) | d[3];
}
static uint16_t rd16(const unsigned char *d) {
    return (uint16_t)(((uint16_t)d[0] << 8) | d[1]);
}
long grib_scan(const unsigned char *buf, long n, long max_msgs,
               int64_t *out, double *refs)
{
    long pos = 0, mi = 0;
    while (pos < n) {
        int64_t *m;
        long end, p;
        int seen = 0;
        uint64_t mlen;
        if (mi >= max_msgs)
            return GERR - 9;
        if (pos + 16 > n || buf[pos] != 'G' || buf[pos + 1] != 'R' ||
            buf[pos + 2] != 'I' || buf[pos + 3] != 'B')
            return GERR - 1; /* no GRIB indicator */
        if (buf[pos + 7] != 2)
            return GERR - 2; /* edition != 2 */
        m = out + mi * NSLOT;
        m[0] = pos;
        m[2] = buf[pos + 6];
        mlen = 0;
        {
            int k;
            for (k = 0; k < 8; k++)
                mlen = (mlen << 8) | buf[pos + 8 + k];
        }
        if (mlen < 20 || pos + (long)mlen > n)
            return GERR - 3;
        m[1] = (int64_t)mlen;
        end = pos + (long)mlen;
        p = pos + 16;
        m[7] = 0;   /* perturbation default (template 0) */
        m[8] = 1;   /* n_ens default */
        m[16] = 0;  /* packing_template default */
        m[18] = -1; /* no bitmap */
        while (p < end - 4) {
            long slen, body;
            int snum;
            if (p + 5 > n)
                return GERR - 3;
            slen = rd32(buf + p);
            snum = buf[p + 4];
            body = p + 5;
            if (slen < 5 || p + slen > end)
                return GERR - 3;
            if (snum == 3) {
                long g;
                if (rd16(buf + body + 7) != 0)
                    return GERR - 4; /* grid template != 0 */
                g = body + 9 + 16;
                m[9] = rd32(buf + g);
                m[10] = rd32(buf + g + 4);
                g += 16;
                m[11] = (int32_t)rd32(buf + g);   /* La1, signed */
                m[12] = rd32(buf + g + 4);        /* Lo1 */
                g += 17;
                m[13] = rd32(buf + g);
                m[14] = rd32(buf + g + 4);
                seen |= 1;
            } else if (snum == 4) {
                long t;
                int tmpl = rd16(buf + body + 2);
                if (tmpl != 0 && tmpl != 1)
                    return GERR - 5; /* product template unsupported */
                m[5] = tmpl;
                t = body + 4;
                m[3] = buf[t];
                m[4] = buf[t + 1];
                m[6] = rd32(buf + t + 9);
                if (tmpl == 1) {
                    m[7] = buf[t + 26];
                    m[8] = buf[t + 27];
                }
                seen |= 2;
            } else if (snum == 5) {
                int tmpl;
                m[15] = rd32(buf + body);
                tmpl = rd16(buf + body + 4);
                if (tmpl != 0 && tmpl != 2 && tmpl != 3)
                    return GERR - 6; /* packing template unsupported */
                m[16] = tmpl;
                m[21] = body;
                {
                    union { uint32_t u; float f; } cv;
                    cv.u = rd32(buf + body + 6);
                    refs[mi] = (double)cv.f;
                }
                m[22] = (int16_t)rd16(buf + body + 10);
                m[23] = (int16_t)rd16(buf + body + 12);
                m[17] = buf[body + 14];
                seen |= 4;
            } else if (snum == 6) {
                int ind = buf[body];
                if (ind == 255)
                    m[18] = -1;
                else if (ind == 0)
                    m[18] = body + 1;
                else
                    return GERR - 7; /* pre-defined bitmap unsupported */
            } else if (snum == 7) {
                m[19] = body;
                m[20] = slen - 5;
                seen |= 8;
            }
            p += slen;
        }
        if (buf[end - 4] != '7' || buf[end - 3] != '7' ||
            buf[end - 2] != '7' || buf[end - 1] != '7')
            return GERR - 8; /* missing 7777 terminator */
        if (seen != 15)
            return GERR - 10; /* a section this subset requires is absent */
        mi++;
        pos = end;
    }
    return mi;
}
/* Whole-batch GRIB file walk: for each file, scan headers (same subset
 * as grib_scan), apply the compiled key filter (alts of (slot, value)
 * probes, slot -1 = never matches), prove the exact-integer condition
 * (E=0, D=0, integral reference), and emit one row per surviving
 * message: (file_idx, forecast_time, perturbation, sum, n_present).
 * ok_file[f]=0 sends the WHOLE file to the Python fallback (unsupported
 * variant, >64 messages, non-exact scaling, malformed stream — the
 * Python path decodes identically or raises the canonical error).
 * Returns rows emitted, or -1 when out_cap rows would be exceeded
 * (caller retries with a bigger buffer).
 */
long grib_files_sum(const unsigned char *bufs, const int64_t *file_off,
                    long nfiles,
                    const int64_t *alt_off, const int64_t *probe_slot,
                    const int64_t *probe_val, long nalt,
                    int64_t *out, long out_cap, unsigned char *ok_file)
{
    long fi, nrows = 0;
    for (fi = 0; fi < nfiles; fi++) {
        const unsigned char *buf = bufs + file_off[fi];
        long n = file_off[fi + 1] - file_off[fi];
        int64_t fields[64 * NSLOT];
        double refs[64];
        long nm, mi;
        ok_file[fi] = 0;
        nm = grib_scan(buf, n, 64, fields, refs);
        if (nm < 0)
            continue;
        /* pass 1: filter + exactness proof for every surviving message */
        {
            long good = 1;
            long start_rows = nrows;
            for (mi = 0; mi < nm && good; mi++) {
                const int64_t *m = fields + mi * NSLOT;
                double r = refs[mi];
                int match = (nalt == 0);
                long ai, pi;
                for (ai = 0; ai < nalt && !match; ai++) {
                    int am = 1;
                    for (pi = alt_off[ai]; pi < alt_off[ai + 1] && am; pi++) {
                        long s = probe_slot[pi];
                        if (s < 0 || m[s] != probe_val[pi])
                            am = 0;
                    }
                    match = am;
                }
                if (!match)
                    continue;
                if (m[22] != 0 || m[23] != 0 || r != (double)(int64_t)r ||
                    r >= 1099511627776.0 || r <= -1099511627776.0) {
                    good = 0; /* not provably exact: whole file falls back */
                    break;
                }
                {
                    int64_t f10[10];
                    int64_t s_out, c_out;
                    f10[0] = m[16]; f10[1] = m[17]; f10[2] = m[15];
                    f10[3] = m[19]; f10[4] = m[20]; f10[5] = m[21];
                    f10[6] = m[18]; f10[7] = m[9];  f10[8] = m[10];
                    f10[9] = (int64_t)r;
                    if (!msg_sum_exact(buf, n, f10, &s_out, &c_out)) {
                        good = 0;
                        break;
                    }
                    if (nrows >= out_cap)
                        return -1;
                    out[nrows * 5 + 0] = fi;
                    out[nrows * 5 + 1] = m[6];
                    out[nrows * 5 + 2] = m[7];
                    out[nrows * 5 + 3] = s_out;
                    out[nrows * 5 + 4] = c_out;
                    nrows++;
                }
            }
            if (!good) {
                nrows = start_rows; /* drop this file's partial rows */
                continue;
            }
        }
        ok_file[fi] = 1;
    }
    return nrows;
}

/* AVI (RIFF) container walk: LINE-FOR-LINE translation of avi.parse_avi
 * (header walk, movi scan, idx1 parse + cross-validation) WITHOUT
 * touching payload bytes.  Any anomaly — bad magic, chunk overrun,
 * short header, idx1/movi disagreement, declared-frame mismatch —
 * returns AVIERR and the caller re-runs the pure-Python parse so
 * exception types/messages stay identical.  More frames than `cap`
 * returns AVICAP: the caller grows its buffers and calls again.
 *
 * meta out: [0]=w [1]=h [2]=usec_per_frame [3]=handler packed LE.
 * frame_off/frame_size out: `cap`-sized.  Returns the frame count. */
#define AVIERR (-1)
#define AVICAP (-2)
static uint32_t rd32le(const unsigned char *d, int64_t p)
{
    return (uint32_t)d[p] | ((uint32_t)d[p + 1] << 8)
         | ((uint32_t)d[p + 2] << 16) | ((uint32_t)d[p + 3] << 24);
}
long avi_scan(const unsigned char *d, int64_t n,
              int64_t *meta, int64_t *frame_off, int64_t *frame_size,
              long cap)
{
    if (n < 12 || d[0] != 'R' || d[1] != 'I' || d[2] != 'F' || d[3] != 'F'
        || d[8] != 'A' || d[9] != 'V' || d[10] != 'I' || d[11] != ' ')
        return AVIERR;
    int64_t end = 8 + (int64_t)rd32le(d, 4);
    if (end > n) end = n;
    int64_t w = 0, h = 0, usec = 0, declared = 0;
    int64_t handler = -1;  /* -1 = never set (python: handler = b"") */
    int64_t movi_data = -1, movi_end = -1;
    int64_t idx_data = -1, idx_size = -1;

    int64_t pos = 12;
    while (pos + 8 <= end) {
        const unsigned char *fcc = d + pos;
        int64_t size = (int64_t)rd32le(d, pos + 4);
        int64_t data = pos + 8;
        if (data + size > end) return AVIERR; /* chunk overruns parent */
        if (fcc[0] == 'L' && fcc[1] == 'I' && fcc[2] == 'S' && fcc[3] == 'T') {
            if (data + 4 > n) return AVIERR;
            if (d[data] == 'h' && d[data+1] == 'd' && d[data+2] == 'r' && d[data+3] == 'l') {
                int64_t p2 = data + 4, e2 = data + size;
                while (p2 + 8 <= e2) {
                    const unsigned char *f2 = d + p2;
                    int64_t s2 = (int64_t)rd32le(d, p2 + 4);
                    int64_t d2 = p2 + 8;
                    if (d2 + s2 > e2) return AVIERR;
                    if (f2[0]=='a' && f2[1]=='v' && f2[2]=='i' && f2[3]=='h') {
                        if (d2 + 40 > n) return AVIERR; /* py: struct.error */
                        usec = (int64_t)rd32le(d, d2);
                        declared = (int64_t)rd32le(d, d2 + 16);
                        w = (int64_t)rd32le(d, d2 + 32);
                        h = (int64_t)rd32le(d, d2 + 36);
                    } else if (f2[0]=='L' && f2[1]=='I' && f2[2]=='S' && f2[3]=='T'
                               && d2 + 4 <= n
                               && d[d2]=='s' && d[d2+1]=='t' && d[d2+2]=='r' && d[d2+3]=='l') {
                        int64_t p3 = d2 + 4, e3 = d2 + s2;
                        while (p3 + 8 <= e3) {
                            const unsigned char *f3 = d + p3;
                            int64_t s3 = (int64_t)rd32le(d, p3 + 4);
                            int64_t d3 = p3 + 8;
                            if (d3 + s3 > e3) return AVIERR;
                            if (f3[0]=='s' && f3[1]=='t' && f3[2]=='r' && f3[3]=='h'
                                && d3 + 4 <= n
                                && d[d3]=='v' && d[d3+1]=='i' && d[d3+2]=='d' && d[d3+3]=='s') {
                                /* py slices a short handler here */
                                if (d3 + 8 > n) return AVIERR;
                                handler = (int64_t)rd32le(d, d3 + 4);
                            }
                            p3 = d3 + s3 + (s3 % 2);
                        }
                    }
                    p2 = d2 + s2 + (s2 % 2);
                }
            } else if (d[data]=='m' && d[data+1]=='o' && d[data+2]=='v'
                       && d[data+3]=='i') {
                movi_data = data;
                movi_end = data + size;
            }
        } else if (fcc[0]=='i' && fcc[1]=='d' && fcc[2]=='x' && fcc[3]=='1') {
            idx_data = data;
            idx_size = size;
        }
        pos = data + size + (size % 2);
    }
    if (movi_data < 0) return AVIERR; /* py: "AVI without a movi list" */

    /* movi scan (the authoritative walk) */
    long nf = 0;
    int64_t p = movi_data + 4;
    while (p + 8 <= movi_end) {
        const unsigned char *fcc = d + p;
        int64_t size = (int64_t)rd32le(d, p + 4);
        int64_t data = p + 8;
        if (data + size > movi_end) return AVIERR;
        if ((fcc[2]=='d' && (fcc[3]=='c' || fcc[3]=='b'))) {
            if (nf >= cap) return AVICAP; /* caller grows the buffers */
            frame_off[nf] = data;
            frame_size[nf] = size;
            nf++;
        }
        p = data + size + (size % 2);
    }

    if (idx_data >= 0) {
        /* idx1 entries must resolve to EXACTLY the scanned frames */
        long k = 0;
        for (int64_t off = idx_data; off < idx_data + idx_size; off += 16) {
            /* py unpacks EVERY entry before the ckid test — short tail
             * entries raise struct.error even when non-matching */
            if (off + 16 > n) return AVIERR;
            const unsigned char *ck = d + off;
            if (!(ck[2]=='d' && (ck[3]=='c' || ck[3]=='b'))) continue;
            int64_t ck_off = (int64_t)rd32le(d, off + 8);
            int64_t ck_size = (int64_t)rd32le(d, off + 12);
            int64_t abs_hdr = movi_data + ck_off;
            int rel_ok = (abs_hdr + 2 <= n && d[abs_hdr]=='0' && d[abs_hdr+1]=='0');
            int abs_ok = (ck_off + 2 <= n && d[ck_off]=='0' && d[ck_off+1]=='0');
            if (!rel_ok && abs_ok) abs_hdr = ck_off; /* absolute-offset muxer */
            if (k >= nf || frame_off[k] != abs_hdr + 8 || frame_size[k] != ck_size)
                return AVIERR; /* py: "idx1 disagrees with the movi chunk walk" */
            k++;
        }
        if (k != nf) return AVIERR;
    }
    if (declared && declared != nf) return AVIERR; /* py: avih mismatch */
    meta[0] = w; meta[1] = h; meta[2] = usec; meta[3] = handler;
    return nf;
}

/* MJPEG-in-AVI front end for a whole Arrow binary column (off: nblobs+1
 * offsets into data): per blob, the avi_scan walk, then every every_n-th
 * frame from `offset`.  A kept frame must start with the caller's batch
 * header hdr[0, hdr_len) -- the JPEG prefix up to the entropy data, which
 * alone decides jpeg.py's header parse, so the comparison is exact.  Its
 * entropy data runs from hdr_len to the LAST ff d9 (raw.rfind), and is
 * unstuffed (ff 00 -> ff, left to right, == bytes.replace) into `bodies`;
 * seg_off[s], seg_off[s+1] bound segment s.  nkept[k] is blob k's kept
 * frame count, or -1 when the blob must take the per-blob Python path:
 * an AVI anomaly, a handler other than MJPG, more frames than `cap`, or a
 * kept frame with another header or no EOI after it.  frame_off /
 * frame_size are avi_scan's `cap`-sized scratch.  Returns the segment
 * count, or AVIERR when bodies_cap or seg_cap is too small. */
long avi_mjpeg_segments(const unsigned char *data, const int64_t *off, long nblobs,
                        long every_n, long offset,
                        const unsigned char *hdr, long hdr_len,
                        int64_t *frame_off, int64_t *frame_size, long cap,
                        int64_t *nkept, unsigned char *bodies, int64_t bodies_cap,
                        int64_t *seg_off, long seg_cap)
{
    int64_t meta[4];
    int64_t nb = 0;
    long nseg = 0, k, j;
    seg_off[0] = 0;
    for (k = 0; k < nblobs; k++) {
        const unsigned char *d = data + off[k];
        long nf = avi_scan(d, off[k + 1] - off[k], meta, frame_off, frame_size, cap);
        long seg0 = nseg;
        int64_t nb0 = nb;
        nkept[k] = -1;
        if (nf < 0 || meta[3] != ('M' | 'J' << 8 | 'P' << 16 | (int64_t)'G' << 24))
            continue;
        for (j = offset; j < nf; j += every_n) {
            const unsigned char *f = d + frame_off[j];
            int64_t fs = frame_size[j], end = -1, p;
            if (fs < hdr_len + 2 || memcmp(f, hdr, hdr_len) != 0)
                break;
            for (p = fs - 2; p >= hdr_len; p--)
                if (f[p] == 0xFF && f[p + 1] == 0xD9) {
                    end = p;
                    break;
                }
            if (end < 0)
                break;
            if (nseg >= seg_cap || nb + (end - hdr_len) > bodies_cap)
                return AVIERR;
            for (p = hdr_len; p < end; p++) {
                bodies[nb++] = f[p];
                if (f[p] == 0xFF && p + 1 < end && f[p + 1] == 0x00)
                    p++;
            }
            seg_off[++nseg] = nb;
        }
        if (j < nf) { /* a kept frame left the fast path: drop the blob */
            nseg = seg0;
            nb = nb0;
            continue;
        }
        nkept[k] = nseg - seg0;
    }
    return nseg;
}

/* Separable bilinear resample over a stack of same-shape uint8 tiles:
 * the gather/lerp passes of operators/raster.bilinear_resample with the
 * index/fraction tables PRECOMPUTED BY THE CALLER from the exact numpy
 * expressions — C only replays  lo_v + (hi_v - lo_v) * frac  per element
 * in f64 (row axis first, then cols; -ffp-contract=off, so every
 * multiply-add rounds exactly like numpy and results are bit-identical,
 * pytest-pinned).  tmp: caller scratch of out_h*w doubles. */
long bilinear_stack(const unsigned char *px, long n, long h, long w,
                    const int64_t *lo_y, const int64_t *hi_y,
                    const double *fr_y, long out_h,
                    const int64_t *lo_x, const int64_t *hi_x,
                    const double *fr_x, long out_w,
                    double *tmp, double *out)
{
    long t, y, x;
    for (t = 0; t < n; t++) {
        const unsigned char *a = px + t * h * w;
        double *o = out + t * out_h * out_w;
        for (y = 0; y < out_h; y++) {
            const unsigned char *rlo = a + lo_y[y] * w;
            const unsigned char *rhi = a + hi_y[y] * w;
            double f = fr_y[y];
            double *tr = tmp + y * w;
            for (x = 0; x < w; x++) {
                double lv = (double)rlo[x];
                double hv = (double)rhi[x];
                tr[x] = lv + (hv - lv) * f;
            }
        }
        for (y = 0; y < out_h; y++) {
            const double *tr = tmp + y * w;
            double *orow = o + y * out_w;
            for (x = 0; x < out_w; x++) {
                double lv = tr[lo_x[x]];
                double hv = tr[hi_x[x]];
                orow[x] = lv + (hv - lv) * fr_x[x];
            }
        }
    }
    return 0;
}

/* Per-segment intensity histograms over a binary column's data buffer:
 * for segment k (bytes [bounds[2k], bounds[2k+1])), count byte >> shift
 * into out[k*bins .. k*bins+bins).  Integer counts — exact by nature. */
long hist_segments(const unsigned char *data, const int64_t *bounds,
                   long nseg, long shift, long bins, int64_t *out)
{
    long k;
    int64_t i;
    for (k = 0; k < nseg; k++) {
        int64_t *h = out + k * bins;
        int64_t b0 = bounds[2 * k], b1 = bounds[2 * k + 1];
        for (i = b0; i < b1; i++) {
            long v = data[i] >> shift;
            if (v >= bins)
                return -1; /* shift/bins mismatch */
            h[v]++;
        }
    }
    return 0;
}

/* Per-segment sum, min and max over a binary column's data buffer in one
 * pass: segment k is bytes [bounds[2k], bounds[2k+1]) of data[0..n).
 * An empty or out-of-range segment returns -1 and the caller runs its
 * numpy reference (np.*.reduceat has its own answer for empty segments).
 * The fixed 64-byte inner loop is what -O2 vectorizes (a loop with an
 * unknown trip count stays scalar there: measured 6x slower). */
long seg_sum_min_max(const unsigned char *data, int64_t n, const int64_t *bounds,
                     long nseg, int64_t *sums, unsigned char *mins,
                     unsigned char *maxs)
{
    long k;
    int j;
    for (k = 0; k < nseg; k++) {
        int64_t b0 = bounds[2 * k], b1 = bounds[2 * k + 1], i;
        uint64_t s = 0;
        unsigned char lo = 255, hi = 0;
        if (b0 < 0 || b1 > n || b0 >= b1)
            return -1;
        for (i = b0; i + 64 <= b1; i += 64) {
            const unsigned char *p = data + i;
            uint32_t part = 0;
            unsigned char l = 255, h = 0;
            for (j = 0; j < 64; j++) {
                part += p[j];
                l = p[j] < l ? p[j] : l;
                h = p[j] > h ? p[j] : h;
            }
            s += part;
            lo = l < lo ? l : lo;
            hi = h > hi ? h : hi;
        }
        for (; i < b1; i++) {
            unsigned char v = data[i];
            s += v;
            lo = v < lo ? v : lo;
            hi = v > hi ? v : hi;
        }
        sums[k] = (int64_t)s;
        mins[k] = lo;
        maxs[k] = hi;
    }
    return 0;
}

/* Smallest j in [0, w] whose pixel centre lon0 + (j + 0.5) * dx is >= a
 * (the centres ascend in j, so the guess is corrected by exact steps). */
static long first_ge(double a, double lon0, double dx, long w)
{
    double g = ceil((a - lon0) / dx - 0.5);
    long j = !(g > 0) ? 0 : g > w ? w : (long)g;
    while (j > 0 && lon0 + ((double)(j - 1) + 0.5) * dx >= a)
        j--;
    while (j < w && lon0 + ((double)j + 0.5) * dx < a)
        j++;
    return j;
}

/* Scanline zonal reduction (Raptor-style pixel runs) over (tile k,
 * geometry g) pairs.  Tile k is a w x h uint8 raster at px + px_off[k];
 * pixel (i, j) has its centre at lon0 + (j + 0.5) * (span / w),
 * lat_top - (i + 0.5) * (span / h).  Geometry g owns the (x1, y1, x2, y2)
 * rows [edge_off[g], edge_off[g+1]) of edges: every edge of every ring.
 * Per centre row the crossings are pip._points_in_rings' expressions in the
 * same order; a centre is inside when an odd number of crossings lie above
 * it, so the pixels are bit for bit that half-open ray cast's.  Pair p adds
 * into out row pair_g[p]: (count, sum) when ncol == 2, else a 256-bin value
 * histogram.  xs: scratch of the largest per-geometry edge count. */
long zonal_runs(const unsigned char *px, const int64_t *px_off,
                const int64_t *ws, const int64_t *hs, const double *lon0,
                const double *lat_top, const double *span,
                const double *edges, const int64_t *edge_off,
                const int64_t *pair_k, const int64_t *pair_g, long npairs,
                long ncol, double *xs, int64_t *out)
{
    long p, i, j, r, e, n, a, b;
    for (p = 0; p < npairs; p++) {
        long k = pair_k[p], g = pair_g[p], w = ws[k], h = hs[k];
        double dx = span[0] / (double)w, dy = span[0] / (double)h;
        int64_t *o = out + ncol * g, cnt = 0, sum = 0;
        for (i = 0; i < h; i++) {
            const unsigned char *row = px + px_off[k] + i * w;
            double lat = lat_top[k] - ((double)i + 0.5) * dy;
            for (n = 0, e = edge_off[g]; e < edge_off[g + 1]; e++) {
                const double *q = edges + 4 * e;
                if ((q[1] > lat) != (q[3] > lat)) {
                    double v = q[0] + (lat - q[1]) * (q[2] - q[0]) / (q[3] - q[1]);
                    for (j = n++; j > 0 && xs[j - 1] > v; j--)
                        xs[j] = xs[j - 1];
                    xs[j] = v;
                }
            }
            /* odd n (an unclosed ring): the first run starts at -inf */
            for (r = n & 1 ? -1 : 0; r < n; r += 2) {
                a = r < 0 ? 0 : first_ge(xs[r], lon0[k], dx, w);
                b = first_ge(xs[r + 1], lon0[k], dx, w);
                for (j = a; j < b; j++)
                    if (ncol == 2)
                        cnt++, sum += row[j];
                    else
                        o[row[j]]++;
            }
        }
        if (ncol == 2)
            o[0] += cnt, o[1] += sum;
    }
    return 0;
}

/* ---- MD5 (RFC 1321, from-scratch reference implementation) -------- */
typedef struct { uint32_t a, b, c, d; } md5st;
static const uint32_t MD5K[64] = {
    0xd76aa478u,0xe8c7b756u,0x242070dbu,0xc1bdceeeu,0xf57c0fafu,0x4787c62au,
    0xa8304613u,0xfd469501u,0x698098d8u,0x8b44f7afu,0xffff5bb1u,0x895cd7beu,
    0x6b901122u,0xfd987193u,0xa679438eu,0x49b40821u,0xf61e2562u,0xc040b340u,
    0x265e5a51u,0xe9b6c7aau,0xd62f105du,0x02441453u,0xd8a1e681u,0xe7d3fbc8u,
    0x21e1cde6u,0xc33707d6u,0xf4d50d87u,0x455a14edu,0xa9e3e905u,0xfcefa3f8u,
    0x676f02d9u,0x8d2a4c8au,0xfffa3942u,0x8771f681u,0x6d9d6122u,0xfde5380cu,
    0xa4beea44u,0x4bdecfa9u,0xf6bb4b60u,0xbebfbc70u,0x289b7ec6u,0xeaa127fau,
    0xd4ef3085u,0x04881d05u,0xd9d4d039u,0xe6db99e5u,0x1fa27cf8u,0xc4ac5665u,
    0xf4292244u,0x432aff97u,0xab9423a7u,0xfc93a039u,0x655b59c3u,0x8f0ccc92u,
    0xffeff47du,0x85845dd1u,0x6fa87e4fu,0xfe2ce6e0u,0xa3014314u,0x4e0811a1u,
    0xf7537e82u,0xbd3af235u,0x2ad7d2bbu,0xeb86d391u};
static const uint8_t MD5S[64] = {
    7,12,17,22,7,12,17,22,7,12,17,22,7,12,17,22,
    5,9,14,20,5,9,14,20,5,9,14,20,5,9,14,20,
    4,11,16,23,4,11,16,23,4,11,16,23,4,11,16,23,
    6,10,15,21,6,10,15,21,6,10,15,21,6,10,15,21};
#define ROTL32(x, s) (((x) << (s)) | ((x) >> (32 - (s))))
static void md5_block(md5st *st, const uint8_t *p)
{
    uint32_t M[16], A = st->a, B = st->b, C = st->c, D = st->d;
    int i;
    for (i = 0; i < 16; i++)
        M[i] = (uint32_t)p[4*i] | ((uint32_t)p[4*i+1] << 8)
             | ((uint32_t)p[4*i+2] << 16) | ((uint32_t)p[4*i+3] << 24);
    for (i = 0; i < 64; i++) {
        uint32_t F, tmp;
        int g;
        if (i < 16)      { F = (B & C) | (~B & D);        g = i; }
        else if (i < 32) { F = (D & B) | (~D & C);        g = (5*i + 1) & 15; }
        else if (i < 48) { F = B ^ C ^ D;                 g = (3*i + 5) & 15; }
        else             { F = C ^ (B | ~D);              g = (7*i) & 15; }
        F += A + MD5K[i] + M[g];
        tmp = D; D = C; C = B; B += ROTL32(F, MD5S[i]); A = tmp;
    }
    st->a += A; st->b += B; st->c += C; st->d += D;
}
/* first 7 hex digits of md5(msg) as an integer (== Spark/DuckDB
 * conv(substring(md5(x),1,7),16,10): hex digests are byte-ordered, so
 * 7 hex chars = the digest's top 28 bits) */
static int64_t md5_prefix28(const uint8_t *msg, int64_t len)
{
    md5st st = {0x67452301u, 0xefcdab89u, 0x98badcfeu, 0x10325476u};
    uint8_t tail[128];
    int64_t i, full = len / 64, rem = len % 64, tl;
    for (i = 0; i < full; i++)
        md5_block(&st, msg + i * 64);
    for (i = 0; i < rem; i++) tail[i] = msg[full * 64 + i];
    tail[rem] = 0x80;
    tl = (rem + 1 <= 56) ? 56 : 120;
    for (i = rem + 1; i < tl; i++) tail[i] = 0;
    {
        uint64_t bits = (uint64_t)len * 8;
        for (i = 0; i < 8; i++) tail[tl + i] = (uint8_t)(bits >> (8 * i));
    }
    md5_block(&st, tail);
    if (tl == 120) md5_block(&st, tail + 64);
    /* digest bytes: a,b,c,d little-endian; first 3.5 bytes */
    {
        uint8_t d0 = (uint8_t)(st.a), d1 = (uint8_t)(st.a >> 8),
                d2 = (uint8_t)(st.a >> 16), d3 = (uint8_t)(st.a >> 24);
        return ((int64_t)d0 << 20) | ((int64_t)d1 << 12)
             | ((int64_t)d2 << 4) | ((int64_t)d3 >> 4);
    }
}

/* Per-doc MinHash signatures, the C form of the md5-strategy
 * tokenize -> md5_int(word) -> groupBy(doc).min((a_j*wid+b_j) %% p)
 * chain: words are the nonempty ' '-split segments of the text range
 * (duplicates don't move a min, so no dedup is needed); wid is the
 * 28-bit md5 hex prefix, identical to Spark/DuckDB md5 arithmetic.
 * out: ndocs*k int64, caller-filled with -1 (-1 survives = no words,
 * the expression form emits no row for such docs). */
long minhash_doc_sigs(const unsigned char *texts, const int64_t *offs,
                      long ndocs, const int64_t *pa, const int64_t *pb,
                      long k, int64_t p, int64_t *out)
{
    long di, j;
    for (di = 0; di < ndocs; di++) {
        const unsigned char *t = texts + offs[di];
        int64_t len = offs[di + 1] - offs[di];
        int64_t *o = out + di * k;
        int64_t s = 0, e;
        while (s <= len) {
            e = s;
            while (e < len && t[e] != ' ')
                e++;
            if (e > s) { /* nonempty word */
                int64_t wid = md5_prefix28(t + s, e - s);
                for (j = 0; j < k; j++) {
                    int64_t v = (pa[j] * wid + pb[j]) % p;
                    if (o[j] < 0 || v < o[j])
                        o[j] = v;
                }
            }
            s = e + 1;
        }
    }
    return 0;
}

/* Char-n-gram LM scoring: per doc, walk UTF-8 CODE POINTS (split('')
 * semantics — astral chars are single elements), slide an n-window,
 * pack each gram as cp0<<42 | cp1<<21 | cp2 (bijective for n <= 3,
 * code points < 2^21), probe the caller-built open-addressing table of
 * packed keys -> logp_micro (computed IN THE JVM — no libm here, so no
 * log()/rounding drift), default logp0 on miss, and emit exact int64
 * (n_grams, sum logp_micro) per doc.  Returns 0, or -1 on malformed
 * UTF-8 (caller falls back to the expression path for the batch). */
long lm_score_docs(const unsigned char *texts, const int64_t *offs,
                   long ndocs, long n,
                   const int64_t *keys, const int64_t *vals, long mask,
                   int64_t logp0,
                   int64_t *n_grams, int64_t *logp_sum)
{
    long di;
    int64_t ring[8];
    if (n < 1 || n > 3)
        return -2;
    for (di = 0; di < ndocs; di++) {
        const unsigned char *t = texts + offs[di];
        int64_t len = offs[di + 1] - offs[di];
        int64_t i = 0, ncp = 0, grams = 0, sum = 0;
        while (i < len) {
            unsigned c = t[i];
            int64_t cp;
            if (c < 0x80) { cp = c; i += 1; }
            else if ((c >> 5) == 0x6) {
                if (i + 1 >= len || (t[i+1] & 0xC0) != 0x80) return -1;
                cp = ((int64_t)(c & 0x1F) << 6) | (t[i+1] & 0x3F); i += 2;
            } else if ((c >> 4) == 0xE) {
                if (i + 2 >= len || (t[i+1] & 0xC0) != 0x80
                    || (t[i+2] & 0xC0) != 0x80) return -1;
                cp = ((int64_t)(c & 0x0F) << 12) | ((int64_t)(t[i+1] & 0x3F) << 6)
                   | (t[i+2] & 0x3F); i += 3;
            } else if ((c >> 3) == 0x1E) {
                if (i + 3 >= len || (t[i+1] & 0xC0) != 0x80
                    || (t[i+2] & 0xC0) != 0x80 || (t[i+3] & 0xC0) != 0x80) return -1;
                cp = ((int64_t)(c & 0x07) << 18) | ((int64_t)(t[i+1] & 0x3F) << 12)
                   | ((int64_t)(t[i+2] & 0x3F) << 6) | (t[i+3] & 0x3F); i += 4;
            } else {
                return -1;
            }
            ring[ncp % 8] = cp;
            ncp++;
            if (ncp >= n) {
                int64_t key = 0;
                long k;
                for (k = 0; k < n; k++)
                    key = (key << 21) | ring[(ncp - n + k) % 8];
                {
                    uint64_t hsh = (uint64_t)key * 0x9E3779B97F4A7C15ull;
                    long slot = (long)((hsh >> 32) & (uint64_t)mask);
                    int64_t v = logp0;
                    while (keys[slot] != -1) {
                        if (keys[slot] == key) { v = vals[slot]; break; }
                        slot = (slot + 1) & mask;
                    }
                    sum += v;
                    grams++;
                }
            }
        }
        n_grams[di] = grams;
        logp_sum[di] = sum;
    }
    return 0;
}

/* Positional word n-gram hashes, the C form of
 * positional_word_ngrams(...) + md5_int(gram):  the gram string
 * array_join(slice(split(text,' '), i, n), ' ') is BYTE-IDENTICAL to
 * the original text range [word_start[i], word_end[i+n-1]) (split on a
 * literal single space re-joined with single spaces reproduces empty
 * segments exactly), so the hash runs straight over the text buffer —
 * no gram strings are ever built.  count_only=1: per-doc window counts
 * only.  Otherwise fills pos (0-based window start) and h.  Returns
 * total windows, -1 on cap overflow, -2 when n exceeds the ring. */
long md5_word_grams(const unsigned char *texts, const int64_t *offs,
                    long ndocs, long n, int count_only,
                    int64_t *counts, int32_t *pos_out, int64_t *h_out,
                    int64_t cap)
{
    int64_t total = 0;
    int64_t ends_ring[512]; /* byte end of the last n word segments */
    long di;
    if (n < 1 || n >= 512)
        return -2;
    for (di = 0; di < ndocs; di++) {
        const unsigned char *t = texts + offs[di];
        int64_t len = offs[di + 1] - offs[di];
        int64_t m = 1, i, wins;
        for (i = 0; i < len; i++)
            if (t[i] == ' ') m++;
        wins = (m >= n) ? (m - n + 1) : 0;
        counts[di] = wins;
        if (count_only) { total += wins; continue; }
        if (wins <= 0) continue;
        if (total + wins > cap) return -1;
        {
            int64_t start = 0;  /* byte start of window k's first word */
            int64_t e = 0;      /* scan cursor */
            int64_t nwords = 0; /* word ends collected so far */
            int64_t k = 0;      /* next window index */
            while (k < wins) {
                while (e < len && t[e] != ' ')
                    e++;
                ends_ring[nwords % n] = e; /* end of word `nwords` */
                nwords++;
                e++; /* past the space */
                if (nwords >= n) {
                    int64_t gend = ends_ring[(nwords - 1) % n];
                    pos_out[total] = (int32_t)k;
                    h_out[total] = md5_prefix28(t + start, gend - start);
                    total++;
                    k++;
                    while (start < len && t[start] != ' ')
                        start++;
                    start++; /* next word begins after the space */
                }
            }
        }
    }
    return (long)total;
}

"""

_CACHE_ROOT = os.environ.get("SPARK_GRAFT_NATIVE_DIR", "/tmp/spark_graft_native")

# -march=native: inline rint() as a rounding insn (a libm CALL per pixel at
# baseline -O2 dominated the IDCT kernel); -ffp-contract=off: NO fma
# contraction — the sparse-IDCT sums must round every multiply-add like the
# numpy path does (byte-parity pytest); -fno-math-errno: allow the inline
# form (results unchanged for finite args).
_CC = ["cc", "-O2", "-march=native", "-ffp-contract=off", "-fno-math-errno", "-fPIC", "-shared"]

# The binding table: exported C entry -> argument codes.  Every entry
# returns long.  p = pointer, declared c_void_p (_call passes a numpy array
# as its data address; bytes, an int address or None pass unchanged),
# l = long, q = int64_t, i = int.  A pytest checks it against _C_SRC.
_SIGNATURES = {
    "jpeg_decode_scan_multi": "pppplppppp",
    "jpeg_idct_blocks": "plpppllpp",
    "grib_scan": "pllpp",
    "grib_files_sum": "pplppplplp",
    "avi_scan": "pqpppl",
    "avi_mjpeg_segments": "pplllplpplppqpl",
    "bilinear_stack": "plllppplppplpp",
    "hist_segments": "pplllp",
    "seg_sum_min_max": "pqplppp",
    "zonal_runs": "pppppppppppllpp",
    "minhash_doc_sigs": "pplpplqp",
    "lm_score_docs": "ppllpplqpp",
    "md5_word_grams": "ppllipppq",
}
_CTYPES = {"p": ctypes.c_void_p, "l": ctypes.c_long, "q": ctypes.c_int64, "i": ctypes.c_int}

_lib = None
_lib_tried = False
build_error: str | None = None  # inspected by tests
# calls that took the Python path, by kernel name: the library is missing
# or the kernel declined its input
fallbacks: collections.Counter = collections.Counter()


def _cpu_flags() -> str:
    """The ``flags`` line of /proc/cpuinfo, or "" where there is none."""
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("flags"):
                    return line.strip()
    except OSError:
        pass
    return ""


def _so_path(cpu_flags: str) -> str:
    """Cache path of the compiled library.  -march=native code can die with
    SIGILL on another CPU, so a shared cache keys the library on the source,
    the compile command, the machine type and the CPU flags.  A compiler
    change cannot cause SIGILL and is not part of the key."""
    key = "\0".join([_C_SRC, " ".join(_CC), platform.machine(), cpu_flags])
    digest = hashlib.md5(key.encode()).hexdigest()[:16]
    return os.path.join(_CACHE_ROOT, f"kernels_{digest}.so")


def _build() -> ctypes.CDLL | None:
    """Compile (once per cache key, machine-wide) and load the kernel library."""
    global build_error
    so_path = _so_path(_cpu_flags())
    if not os.path.exists(so_path):
        try:
            os.makedirs(_CACHE_ROOT, exist_ok=True)
            # exclusive build lock: many Python workers import this module
            # concurrently; exactly one compiles, the rest wait on flock
            import fcntl

            with open(so_path + ".lock", "w") as lk:
                fcntl.flock(lk, fcntl.LOCK_EX)
                if not os.path.exists(so_path):
                    with tempfile.TemporaryDirectory(dir=_CACHE_ROOT) as td:
                        src = os.path.join(td, "kernels.c")
                        with open(src, "w") as fh:
                            fh.write(_C_SRC)
                        tmp_so = os.path.join(td, "kernels.so")
                        cmd = [*_CC, "-o", tmp_so, src, "-lm"]
                        try:
                            subprocess.run(
                                cmd, check=True, capture_output=True, timeout=120
                            )
                        except subprocess.CalledProcessError:
                            # pre--march=native toolchains: portable build
                            subprocess.run(
                                [a for a in cmd if a != "-march=native"],
                                check=True,
                                capture_output=True,
                                timeout=120,
                            )
                        os.rename(tmp_so, so_path)  # atomic publish
        except Exception as exc:  # no compiler / read-only tmp / race loss
            build_error = f"{type(exc).__name__}: {exc}"
            return None
    try:
        lib = ctypes.CDLL(so_path)
        for name, codes in _SIGNATURES.items():
            fn = getattr(lib, name)
            fn.restype = ctypes.c_long
            fn.argtypes = [_CTYPES[c] for c in codes]
        return lib
    except Exception as exc:
        build_error = f"{type(exc).__name__}: {exc}"
        return None


def get_lib() -> ctypes.CDLL | None:
    """The compiled kernel library, or None if unavailable (use fallback).
    The build is tried once per process; a failure is logged then."""
    global _lib, _lib_tried
    if not _lib_tried:
        _lib = _build()
        _lib_tried = True
        if _lib is None:
            logging.getLogger(__name__).warning(
                "native kernels unavailable, using the Python fallbacks: %s",
                build_error,
            )
    return _lib


def _call(name: str, *args) -> int | None:
    """Run C entry ``name``, passing numpy arrays as their data address.
    None, counted in ``fallbacks``, when the library is missing."""
    lib = get_lib()
    if lib is None:
        fallbacks[name] += 1
        return None
    return getattr(lib, name)(
        *[a.ctypes.data if isinstance(a, np.ndarray) else a for a in args]
    )


# LUT, quant and basis arrays are memoized by their owners (jpeg._LUT_CACHE,
# jpeg._q_raster, codecs), so their addresses can be memoized too — reading
# ``.ctypes.data`` was a measurable share of the per-call cost.  The memo
# holds a reference to each array, so an address can never dangle.
_ADDR_CACHE: dict[int, tuple[np.ndarray, int]] = {}


def _addr(arr: np.ndarray) -> int:
    hit = _ADDR_CACHE.get(id(arr))
    if hit is None or hit[0] is not arr:
        hit = _ADDR_CACHE[id(arr)] = (arr, arr.ctypes.data)
    return hit[1]


def jpeg_idct_blocks(
    zz: np.ndarray,
    q_raster: np.ndarray,
    basis: np.ndarray,
    zz_to_raster: bytes,
    nbx: int,
    blocks_per_frame: int,
    out: np.ndarray | None,
    frame_sums: np.ndarray | None = None,
) -> bool:
    """Dequant + IDCT + (+128, rint, clip) for a (N, 64) int32 zigzag
    stack, written straight into ``out`` = (nframes, nby*8, nbx*8) uint8
    frame layout (no numpy reshape/swapaxes pass needed).  When
    ``frame_sums`` (int64, zeroed, one slot per frame) is given, the
    kernel also accumulates each PADDED frame's pixel sum — callers must
    only use it when h, w are multiples of 8 (no crop); with ``out`` None
    it computes the sums alone and writes no pixels.  Returns False
    when the native library is unavailable — callers run the numpy
    matmul path instead.  ``basis`` must be the 64x64 float64 outer-
    product expansion of the SAME DCT matrix the numpy path uses (the
    parity pytest pins byte-equality between the two paths)."""
    if out is None and frame_sums is None:
        raise ValueError("jpeg_idct_blocks: needs out, frame_sums or both")
    return _call(
        "jpeg_idct_blocks", zz, zz.shape[0], _addr(q_raster), _addr(basis),
        zz_to_raster, nbx, blocks_per_frame, out, frame_sums,
    ) is not None


def grib_files_sum(
    bufs: bytes,
    file_off: np.ndarray,
    alt_off: np.ndarray,
    probe_slot: np.ndarray,
    probe_val: np.ndarray,
):
    """Scan + key-filter + exact integer sums for a whole BATCH of GRIB
    files in one native call.  ``bufs`` is the files' bytes concatenated,
    ``file_off`` int64 (nfiles+1) offsets; the filter is alts of
    (slot, value) probes in CSR form (``alt_off`` over
    ``probe_slot``/``probe_val``; zero alts = keep everything).
    Returns (rows, ok_file) — rows int64 (nrows, 5):
    (file_idx, forecast_time, perturbation, sum, n_present); files with
    ok_file False must take the Python path — or None when the native
    library is unavailable."""
    nfiles = len(file_off) - 1
    ok = np.zeros(nfiles, dtype=np.uint8)
    cap = max(nfiles * 16, 1024)
    while True:
        out = np.empty((cap, 5), dtype=np.int64)
        rc = _call(
            "grib_files_sum", bufs, file_off, nfiles, alt_off, probe_slot,
            probe_val, len(alt_off) - 1, out, cap, ok,
        )
        if rc is None:
            return None
        if rc >= 0:
            fallbacks["grib_files_sum"] += nfiles - int(ok.sum())
            return out[:rc], ok.astype(bool)
        cap *= 4  # out_cap overflow: retry bigger (bounded by total bytes)


GRIB_SCAN_SLOTS = 24


def grib_scan(buf: bytes, max_msgs: int = 64):
    """Scan GRIB2 message headers natively.  Returns (fields, refs) —
    int64 (n_msgs, 24) + float64 (n_msgs,) — or None when the library is
    unavailable or the file needs the Python scanner (unsupported
    variant / malformed stream: the caller re-runs grib.scan_messages
    for exact error behavior).  The default cap is sized for the common
    multi-message file (zeroing a 4096-row buffer per call was ~70% of
    the native scan's wall time); a file with more messages retries once
    at the 4096 ceiling (GERR-9 from the C side)."""
    out = np.empty((max_msgs, GRIB_SCAN_SLOTS), dtype=np.int64)
    refs = np.empty(max_msgs, dtype=np.float64)
    rc = _call("grib_scan", buf, len(buf), max_msgs, out, refs)
    if rc == -2000009 and max_msgs < 4096:  # GERR-9: message-count cap
        return grib_scan(buf, 4096)
    if rc is None:
        return None
    if rc < 0:
        fallbacks["grib_scan"] += 1
        return None
    return out[:rc], refs[:rc]


def jpeg_decode_scan_multi(
    bodies: bytes,
    seg_off: np.ndarray,
    seg_blocks: np.ndarray,
    zz_off: np.ndarray,
    dc_sym: np.ndarray,
    dc_len: np.ndarray,
    ac_sym: np.ndarray,
    ac_len: np.ndarray,
    zz: np.ndarray,
) -> bool:
    """Decode many entropy segments (whole no-restart frames, or restart
    intervals) in one native call; segment i's ``seg_blocks[i]`` blocks
    land at ``zz[zz_off[i]:]``, zeroed first.  False means unavailable or
    malformed: the caller runs the Python scan, which decodes or raises
    the canonical error."""
    rc = _call(
        "jpeg_decode_scan_multi", bodies, seg_off, seg_blocks, zz_off, len(seg_blocks),
        _addr(dc_sym), _addr(dc_len), _addr(ac_sym), _addr(ac_len), zz,
    )
    if rc is None:
        return False
    if rc <= -1000000:
        fallbacks["jpeg_decode_scan_multi"] += 1
        return False
    return True


_AVI_FRAME_CAP = 4096  # initial scratch capacity, in frames
_AVI_CAP = -2  # avi_scan's AVICAP: more frames than the buffers hold
# per-process scratch, reused across calls (it removes the 64 KB of numpy
# allocations that dominated per-call cost) and doubled whenever a video
# has more frames than it holds
_AVI_SCRATCH: tuple | None = None


def _avi_scratch(cap: int) -> tuple:
    global _AVI_SCRATCH
    meta = np.zeros(4, dtype=np.int64)
    off = np.empty(cap, dtype=np.int64)
    size = np.empty(cap, dtype=np.int64)
    _AVI_SCRATCH = (cap, meta, off, size, meta.ctypes.data, off.ctypes.data, size.ctypes.data)
    return _AVI_SCRATCH


def avi_scan(buf):
    """Native AVI container walk over ``bytes`` or an
    ``(address, length)`` tuple pointing into a pinned buffer (an Arrow
    data buffer held alive by the caller).  Returns
    ``(w, h, usec_per_frame, handler_bytes, [(payload_off, size), ...])``
    or ``None`` when the native library is unavailable or the walk hit
    ANY anomaly — the caller must then run avi.parse_avi (pure Python)
    so exception types and messages are byte-identical.  A video with
    more frames than the scratch buffers hold grows them and walks again.

    Single-threaded only: the output buffers are one module-level scratch
    per process (Spark Python workers run one task at a time)."""
    ptr, blen = buf if isinstance(buf, tuple) else (buf, len(buf))
    cap, meta, off, size, meta_p, off_p, size_p = _AVI_SCRATCH or _avi_scratch(_AVI_FRAME_CAP)
    rc = _call("avi_scan", ptr, blen, meta_p, off_p, size_p, cap)
    while rc == _AVI_CAP:
        cap, meta, off, size, meta_p, off_p, size_p = _avi_scratch(2 * cap)
        rc = _call("avi_scan", ptr, blen, meta_p, off_p, size_p, cap)
    if rc is None:
        return None
    if rc < 0:
        fallbacks["avi_scan"] += 1
        return None
    hv = int(meta[3])
    handler = b"" if hv < 0 else hv.to_bytes(4, "little")
    return (
        int(meta[0]),
        int(meta[1]),
        int(meta[2]),
        handler,
        list(zip(off[:rc].tolist(), size[:rc].tolist())),
    )


_SOI, _SOS = b"\xff\xd8", b"\xff\xda"


def avi_mjpeg_segments(off: np.ndarray, data: np.ndarray, every_n: int, offset: int,
                       header: bytes):
    """One native pass over an Arrow binary column of MJPEG AVIs (``off``
    int64 offsets into the ``data`` uint8 buffer): the AVI walk, the
    ``offset::every_n`` frame sample, the check that each kept frame starts
    with ``header`` (a JPEG prefix from SOI through SOS, as
    jpeg._parse_header reads it), and the unstuffed entropy data of
    every kept frame.  Returns ``(nkept, bodies, seg_off)``: nkept[k] is
    blob k's kept frame count, or -1 when blob k must take the per-blob
    path (counted in ``fallbacks``); segment s is
    ``bodies[seg_off[s]:seg_off[s + 1]]``, in blob order.  None when the
    library is unavailable.  Arrays of another dtype or layout, offsets
    out of bounds, a bad sample or a header that is not such a prefix
    raise ValueError.

    Single-threaded only: it shares avi_scan's scratch buffers."""
    if not (off.dtype == np.int64 and data.dtype == np.uint8 and off.ndim == data.ndim == 1
            and off.flags.c_contiguous and data.flags.c_contiguous and len(off) >= 1
            and off[0] >= 0 and (np.diff(off) >= 0).all() and off[-1] <= len(data)
            and every_n >= 1 and offset >= 0
            and header.startswith(_SOI) and _SOS in header):
        raise ValueError("avi_mjpeg_segments: an array, the sample or the header is out of bounds")
    n = len(off) - 1
    span = int(off[-1] - off[0])
    nkept = np.empty(n, dtype=np.int64)
    # unstuffing only shrinks, and kept frames are disjoint chunks of at
    # least 8 + len(header) bytes, so neither buffer can overflow
    bodies = np.empty(max(span, 1), dtype=np.uint8)
    seg_cap = span // (8 + len(header)) + 1
    seg_off = np.empty(seg_cap + 1, dtype=np.int64)
    cap, _meta, _off, _size, _meta_p, off_p, size_p = _AVI_SCRATCH or _avi_scratch(_AVI_FRAME_CAP)
    rc = _call(
        "avi_mjpeg_segments", data, off, n, every_n, offset, header, len(header),
        off_p, size_p, cap, nkept, bodies, len(bodies), seg_off, seg_cap,
    )
    if rc is None:
        return None
    if rc < 0:
        raise RuntimeError("avi_mjpeg_segments: output buffers sized too small")
    fallbacks["avi_mjpeg_segments"] += int((nkept < 0).sum())
    return nkept, bodies, seg_off[: rc + 1]


def md5_word_grams(texts, offs: np.ndarray, n: int):
    """Per-doc positional word-n-gram md5 hashes over a concatenated text
    buffer (Arrow offsets layout).  Returns (counts, pos, h) with counts
    int64[ndocs], pos int32[total], h int64[total] — or None when the
    native library is unavailable (caller uses the Column-expression
    path, which is the always-correct fallback)."""
    ndocs = len(offs) - 1
    counts = np.zeros(ndocs, dtype=np.int64)
    offs = np.ascontiguousarray(offs, dtype=np.int64)
    total = _call("md5_word_grams", texts, offs, ndocs, n, 1, counts, None, None, 0)
    if total is None:
        return None
    if total >= 0:
        pos = np.empty(total, dtype=np.int32)
        h = np.empty(total, dtype=np.int64)
        rc = _call("md5_word_grams", texts, offs, ndocs, n, 0, counts, pos, h, total)
        if rc == total:
            return counts, pos, h
    fallbacks["md5_word_grams"] += 1
    return None


def bilinear_stack(px: np.ndarray, tabs: tuple, out: np.ndarray, tmp: np.ndarray) -> bool:
    """C separable bilinear over a (n, h, w) uint8 stack into the (n,
    out_h, out_w) float64 ``out`` using precomputed (lo_y, hi_y, fr_y,
    lo_x, hi_x, fr_x) gather tables.  False = library unavailable."""
    lo_y, hi_y, fr_y, lo_x, hi_x, fr_x = tabs
    n, h, w = px.shape
    return _call(
        "bilinear_stack", px, n, h, w, lo_y, hi_y, fr_y, out.shape[1],
        lo_x, hi_x, fr_x, out.shape[2], tmp, out,
    ) is not None


def hist_segments(
    data: np.ndarray, bounds: np.ndarray, shift: int, bins: int, out: np.ndarray
) -> bool:
    """Per-segment byte>>shift histograms into out[nseg, bins] (int64,
    caller-zeroed).  False = unavailable/mismatch, caller falls back."""
    rc = _call("hist_segments", data, bounds, out.shape[0], shift, bins, out)
    if rc is not None and rc != 0:
        fallbacks["hist_segments"] += 1
    return rc == 0


def seg_sum_min_max(data: np.ndarray, bounds: np.ndarray):
    """(sums int64, mins uint8, maxs uint8) of each segment
    data[bounds[2k]:bounds[2k+1]] of a uint8 buffer, in one pass — or None
    when the library is unavailable or a segment is empty or out of range
    (the caller runs its numpy reference)."""
    data = np.ascontiguousarray(data, dtype=np.uint8)
    bounds = np.ascontiguousarray(bounds, dtype=np.int64)
    nseg = len(bounds) // 2
    sums = np.empty(nseg, dtype=np.int64)
    mins = np.empty(nseg, dtype=np.uint8)
    maxs = np.empty(nseg, dtype=np.uint8)
    rc = _call("seg_sum_min_max", data, len(data), bounds, nseg, sums, mins, maxs)
    if rc is not None and rc != 0:
        fallbacks["seg_sum_min_max"] += 1
    return (sums, mins, maxs) if rc == 0 else None


def zonal_runs(px, px_off, ws, hs, lon0, lat_top, span: float, edges, edge_off,
               pair_k, pair_g, out: np.ndarray) -> bool:
    """Add the pixels of each (tile pair_k[p], geometry pair_g[p]) pair
    whose centre the half-open ray cast of pip._points_in_rings puts
    inside into ``out`` ([n_geoms, 2] count and sum, or [n_geoms, 256]
    value histogram); tile k is hs[k] x ws[k] pixels of px from px_off[k].
    False = library unavailable, the caller runs that ray cast per pixel.
    Arrays of another dtype or layout, or out of bounds, raise ValueError."""
    k, g = pair_k, pair_g
    arrays = (px, px_off, ws, hs, lon0, lat_top, edges, edge_off, k, g, out)
    if not (all(a.dtype == t and a.flags.c_contiguous
                for a, t in zip(arrays, "u1 i8 i8 i8 f8 f8 f8 i8 i8 i8 i8".split()))
            and out.shape[1] in (2, 256)
            and len(lon0) == len(lat_top) == len(ws) == len(hs) == len(px_off)
            and edge_off[0] >= 0 and (np.diff(edge_off) >= 0).all() and 4 * edge_off[-1] <= edges.size
            and ((k >= 0) & (k < len(ws)) & (g >= 0) & (g < min(len(out), len(edge_off) - 1))).all()
            and ((ws[k] > 0) & (hs[k] > 0) & (px_off[k] >= 0)
                 & (px_off[k] + ws[k] * hs[k] <= len(px))).all()):
        raise ValueError("zonal_runs: an array has the wrong dtype, layout or bounds")
    xs = np.empty(max(1, int(np.diff(edge_off).max(initial=0))))
    return _call(
        "zonal_runs", px, px_off, ws, hs, lon0, lat_top, np.array([span]), edges,
        edge_off, k, g, len(k), out.shape[1], xs, out,
    ) is not None


def minhash_doc_sigs(texts, offs: np.ndarray, pa: np.ndarray, pb: np.ndarray, p: int):
    """Per-doc md5-strategy MinHash signature matrix out[ndocs, k]
    (int64; -1 rows = doc had no words), or None when the native
    library is unavailable."""
    ndocs = len(offs) - 1
    out = np.full((ndocs, len(pa)), -1, dtype=np.int64)
    offs = np.ascontiguousarray(offs, dtype=np.int64)
    rc = _call("minhash_doc_sigs", texts, offs, ndocs, pa, pb, len(pa), p, out)
    return None if rc is None else out


def lm_score_docs(texts, offs: np.ndarray, n: int, keys: np.ndarray,
                  vals: np.ndarray, logp0: int):
    """Per-doc (n_grams, logp_micro) against an open-addressing packed
    LM table (keys/vals pow2-sized, -1 = empty).  None = unavailable or
    malformed UTF-8 — caller uses the expression path."""
    ndocs = len(offs) - 1
    ng = np.zeros(ndocs, dtype=np.int64)
    lp = np.zeros(ndocs, dtype=np.int64)
    offs = np.ascontiguousarray(offs, dtype=np.int64)
    rc = _call("lm_score_docs", texts, offs, ndocs, n, keys, vals, len(keys) - 1, logp0, ng, lp)
    if rc is not None and rc != 0:
        fallbacks["lm_score_docs"] += 1
    return (ng, lp) if rc == 0 else None


def build_lm_table(pairs, pack):
    """Open-addressing (keys, vals) arrays for lm_score_docs from
    (gram_string, logp) pairs; ``pack`` maps a gram to its int64 key."""
    size = 1
    while size < 4 * max(1, len(pairs)):
        size *= 2
    keys = np.full(size, -1, dtype=np.int64)
    vals = np.zeros(size, dtype=np.int64)
    mask = size - 1
    for g, v in pairs:
        key = pack(g)
        slot = ((key * 0x9E3779B97F4A7C15) % (1 << 64)) >> 32 & mask
        while keys[slot] != -1 and keys[slot] != key:
            slot = (slot + 1) & mask
        keys[slot] = key
        vals[slot] = v
    return keys, vals
