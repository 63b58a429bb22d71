"""From-scratch ESRI Shapefile codec (.shp / .shx / .dbf), stdlib + numpy.

The reference consumes admin boundaries as zipped shapefiles via
``geopandas.read_file`` (``examples/era5_cogs.md:164-172`` — Haiti admin
COD ``hti.shp.zip`` → ``gpd.read_file("tmp/hti_adm1.shp")``; also
``examples/mars_aws_seas5_grid.md:173``).  This module implements the
public format itself ("ESRI Shapefile Technical Description", ESRI
whitepaper, July 1998; dBASE III .dbf layout) so the engine can ingest
that exact input shape without geopandas/GDAL:

* ``.shp``   — 100-byte header (big-endian file code 9994, LE version
  1000, shape type, bbox), then records of (big-endian record header,
  LE shape content).  Implemented shapes: Null (0), Point (1),
  Polygon (5) and PolygonZ (15, Z/M ignored on read).
* ``.shx``   — record index: (offset, content length) in 16-bit words.
* ``.dbf``   — dBASE III attribute table: 0x03 version byte, field
  descriptor array ('C' char / 'N' numeric), fixed-width records.

Polygon semantics (the part that silently corrupts zonal stats when
done wrong): a shapefile Polygon record is a FLAT list of rings; holes
are distinguished from exteriors ONLY by winding order — clockwise
(negative shoelace area in x-east/y-north axes) = exterior,
counter-clockwise = hole — and a hole belongs to the exterior ring that
contains it (even-odd containment of any hole vertex).  ``read_shp``
re-nests rings into parts ``[[exterior, hole, ...], ...]`` — the same
structure ``corpus.parse_wkb_geometry`` yields — so one feature maps to
a WKB POLYGON or MULTIPOLYGON losslessly.
"""

from __future__ import annotations

import struct

import numpy as np

SHP_NULL = 0
SHP_POINT = 1
SHP_POLYGON = 5
SHP_POLYGONZ = 15

_FILE_CODE = 9994
_VERSION = 1000


# --------------------------------------------------------------- rings ---


def ring_signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area of a closed (n,2) ring — positive = CCW."""
    x, y = ring[:, 0], ring[:, 1]
    return float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]) / 2.0)


def _point_in_ring(px: float, py: float, ring: np.ndarray) -> bool:
    """Even-odd ray cast (half-open: crossing rule [y0<=py<y1) XOR ...)."""
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    cond = (y0 <= py) != (y1 <= py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xs = x0 + (py - y0) * (x1 - x0) / (y1 - y0)
    return bool(np.count_nonzero(cond & (px < xs)) % 2)


def _oriented(ring, clockwise: bool) -> np.ndarray:
    arr = np.asarray(ring, dtype="f8")
    if not np.array_equal(arr[0], arr[-1]):
        arr = np.vstack([arr, arr[:1]])
    if (ring_signed_area(arr) < 0) != clockwise:
        arr = arr[::-1]
    return arr


def nest_rings(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Flat shapefile rings → [[exterior, hole, ...], ...] parts.

    Winding classifies (CW exterior / CCW hole); each hole attaches to
    the smallest-area exterior that contains its first vertex (shapefile
    validity says exactly one does; smallest-area breaks nested-island
    ties the conservative way).  A hole whose vertex no exterior
    contains is promoted to its own exterior rather than dropped — a
    dropped ring is a silent wrong zonal answer, the failure mode this
    codec exists to avoid."""
    exts: list[tuple[float, np.ndarray]] = []
    holes: list[np.ndarray] = []
    for r in rings:
        a = ring_signed_area(r)
        if a > 0:
            holes.append(r)
        else:
            exts.append((abs(a), r))
    if not exts:  # all-CCW writer (QGIS-repaired files exist) — flip roles
        exts = [(abs(ring_signed_area(r)), r) for r in holes]
        holes = []
    exts.sort(key=lambda t: -t[0])
    parts = [[r] for _, r in exts]
    areas = [a for a, _ in exts]
    for h in holes:
        px, py = float(h[0, 0]), float(h[0, 1])
        best, best_area = None, None
        for i, part in enumerate(parts):
            if _point_in_ring(px, py, part[0]) and (
                best is None or areas[i] < best_area
            ):
                best, best_area = i, areas[i]
        if best is None:
            parts.append([h])
            areas.append(abs(ring_signed_area(h)))
        else:
            parts[best].append(h)
    return parts


# ----------------------------------------------------------------- .shp ---


def _bbox(points: np.ndarray) -> tuple[float, float, float, float]:
    return (
        float(points[:, 0].min()),
        float(points[:, 1].min()),
        float(points[:, 0].max()),
        float(points[:, 1].max()),
    )


def write_shp(geoms: list) -> tuple[bytes, bytes]:
    """Geometries → (shp_bytes, shx_bytes).

    Each geometry is either ``None`` (Null shape), an ``(x, y)`` tuple
    (Point), or parts ``[[exterior_ring, hole_ring, ...], ...]`` with
    rings as (x,y) sequences — exteriors are emitted clockwise and holes
    counter-clockwise per the spec, whatever the input orientation.

    The spec allows ONE shape type per file (plus Null); mixing Point and
    Polygon inputs raises instead of emitting a header whose type is
    whichever non-null geometry came last (ADVICE r7)."""
    if any(isinstance(g, tuple) for g in geoms) and any(
        g is not None and not isinstance(g, tuple) for g in geoms
    ):
        raise ValueError(
            "write_shp: mixed Point and Polygon geometries — the shapefile "
            "spec requires a single shape type per file (plus Null)"
        )
    shp_type = SHP_NULL
    records = []
    boxes = []
    for g in geoms:
        if g is None:
            records.append(struct.pack("<i", SHP_NULL))
            continue
        if isinstance(g, tuple):
            shp_type = SHP_POINT
            records.append(struct.pack("<idd", SHP_POINT, g[0], g[1]))
            boxes.append(np.array([g], dtype="f8"))
            continue
        shp_type = SHP_POLYGON
        flat: list[list] = []
        for part in g:
            flat.append(_oriented(part[0], clockwise=True))
            for hole in part[1:]:
                flat.append(_oriented(hole, clockwise=False))
        pts = np.concatenate(flat)
        boxes.append(pts)
        starts, n = [], 0
        for ring in flat:
            starts.append(n)
            n += len(ring)
        content = bytearray(struct.pack("<i", SHP_POLYGON))
        content += struct.pack("<4d", *_bbox(pts))
        content += struct.pack("<ii", len(flat), len(pts))
        content += struct.pack(f"<{len(starts)}i", *starts)
        content += pts.astype("<f8").tobytes()
        records.append(bytes(content))

    allpts = np.concatenate(boxes) if boxes else np.zeros((1, 2))
    header = bytearray(100)
    struct.pack_into(">i", header, 0, _FILE_CODE)
    struct.pack_into("<ii", header, 28, _VERSION, shp_type)
    struct.pack_into("<4d", header, 36, *_bbox(allpts))  # zmin..mmax stay 0

    shp = bytearray(header)
    shx_recs = bytearray()
    for i, content in enumerate(records):
        shx_recs += struct.pack(">ii", len(shp) // 2, len(content) // 2)
        shp += struct.pack(">ii", i + 1, len(content) // 2)
        shp += content
    struct.pack_into(">i", shp, 24, len(shp) // 2)
    shx = bytearray(header)
    struct.pack_into(">i", shx, 24, (100 + len(shx_recs)) // 2)
    return bytes(shp), bytes(shx + shx_recs)


def read_shp(data: bytes) -> list:
    """.shp bytes → list of geometries: ``None`` (Null), ``(x, y)``
    (Point), or parts ``[[exterior, hole, ...], ...]`` of (n,2) float64
    rings (Polygon/PolygonZ; ring winding re-nested, see module doc)."""
    if len(data) < 100:
        raise ValueError("shp: truncated header")
    (code,) = struct.unpack_from(">i", data, 0)
    if code != _FILE_CODE:
        raise ValueError(f"shp: bad file code {code}")
    version, _ftype = struct.unpack_from("<ii", data, 28)
    if version != _VERSION:
        raise ValueError(f"shp: unsupported version {version}")
    (flen_words,) = struct.unpack_from(">i", data, 24)
    end = min(flen_words * 2, len(data))
    out = []
    off = 100
    while off + 8 <= end:
        _recno, clen = struct.unpack_from(">ii", data, off)
        off += 8
        rec_end = off + clen * 2
        if rec_end > end:
            raise ValueError("shp: record overruns file length")
        (styp,) = struct.unpack_from("<i", data, off)
        if styp == SHP_NULL:
            out.append(None)
        elif styp == SHP_POINT:
            x, y = struct.unpack_from("<dd", data, off + 4)
            out.append((x, y))
        elif styp in (SHP_POLYGON, SHP_POLYGONZ):
            nparts, npts = struct.unpack_from("<ii", data, off + 36)
            starts = list(struct.unpack_from(f"<{nparts}i", data, off + 44))
            pts_off = off + 44 + 4 * nparts
            pts = np.frombuffer(
                data, dtype="<f8", count=npts * 2, offset=pts_off
            ).reshape(npts, 2)
            rings = []
            for i, s in enumerate(starts):
                e = starts[i + 1] if i + 1 < nparts else npts
                ring = pts[s:e].astype("f8")
                if len(ring) and not np.array_equal(ring[0], ring[-1]):
                    ring = np.vstack([ring, ring[:1]])
                if len(ring) >= 4:
                    rings.append(ring)
            out.append(nest_rings(rings))
        else:
            raise ValueError(f"shp: unsupported shape type {styp}")
        off = rec_end
    return out


# ----------------------------------------------------------------- .dbf ---


def write_dbf(fields: list[tuple[str, str, int, int]], rows: list[tuple]) -> bytes:
    """dBASE III writer. ``fields`` = (name≤10, 'C'|'N', length, decimals)."""
    for name, ftyp, flen, _dec in fields:
        if len(name) > 10 or ftyp not in ("C", "N") or not 0 < flen < 255:
            raise ValueError(f"dbf: bad field descriptor {name!r}")
    rec_len = 1 + sum(f[2] for f in fields)
    hdr_len = 32 + 32 * len(fields) + 1
    out = bytearray(32)
    out[0] = 0x03
    out[1:4] = bytes([99, 1, 1])  # fixed date: deterministic bytes
    struct.pack_into("<i", out, 4, len(rows))
    struct.pack_into("<hh", out, 8, hdr_len, rec_len)
    for name, ftyp, flen, dec in fields:
        d = bytearray(32)
        d[:11] = name.encode("ascii").ljust(11, b"\0")
        d[11] = ord(ftyp)
        d[16], d[17] = flen, dec if ftyp == "N" else 0
        out += d
    out += b"\x0d"
    for row in rows:
        rec = bytearray(b" ")
        for (name, ftyp, flen, dec), v in zip(fields, row):
            if ftyp == "C":
                s = str(v).encode("ascii")[:flen].ljust(flen, b" ")
            else:
                s = (f"{float(v):.{dec}f}" if dec else str(int(v))).encode("ascii")
                if len(s) > flen:
                    raise ValueError(f"dbf: {name} value {v!r} overflows width {flen}")
                s = s.rjust(flen, b" ")
            rec += s
        out += rec
    return bytes(out + b"\x1a")


def read_dbf(data: bytes) -> list[dict]:
    """dBASE III reader → list of {field: str|int|float} (deleted rows
    skipped; 'N' parses to int when decimals==0 and the text has no '.')."""
    if not data or data[0] not in (0x02, 0x03, 0x83):
        raise ValueError("dbf: not a dBASE II/III file")
    nrec, hdr_len, rec_len = struct.unpack_from("<ihh", data, 4)
    fields = []
    off = 32
    while off < hdr_len - 1 and data[off] != 0x0D:
        name = data[off : off + 11].split(b"\0")[0].decode("ascii")
        ftyp = chr(data[off + 11])
        flen, dec = data[off + 16], data[off + 17]
        fields.append((name, ftyp, flen, dec))
        off += 32
    out = []
    off = hdr_len
    for _ in range(nrec):
        if off + rec_len > len(data):
            raise ValueError("dbf: truncated record section")
        rec = data[off : off + rec_len]
        off += rec_len
        if rec[0:1] == b"*":  # deleted
            continue
        row, p = {}, 1
        for name, ftyp, flen, dec in fields:
            raw = rec[p : p + flen].decode("ascii", "replace")
            p += flen
            if ftyp == "N":
                t = raw.strip()
                row[name] = (
                    None if not t else float(t) if (dec or "." in t) else int(t)
                )
            else:
                row[name] = raw.rstrip()
        out.append(row)
    return out


# ------------------------------------------------------------- features ---


def read_features(shp: bytes, dbf: bytes | None = None) -> list[dict]:
    """(shp, dbf) → [{**attributes, "parts": geometry}] — the
    ``gpd.read_file`` shape of the reference flow, minus the GeoDataFrame."""
    geoms = read_shp(shp)
    attrs = read_dbf(dbf) if dbf else [{} for _ in geoms]
    if len(attrs) != len(geoms):
        raise ValueError(
            f"shapefile: {len(geoms)} shapes but {len(attrs)} dbf records"
        )
    return [{**a, "parts": g} for a, g in zip(attrs, geoms)]


def feature_wkb(parts) -> bytes | None:
    """Re-nested parts → WKB POLYGON / MULTIPOLYGON bytes (None for Null
    or Point shapes — callers decide how to carry those)."""
    from . import corpus

    if parts is None or isinstance(parts, tuple):
        return None
    rings = [[tuple(map(float, p)) for p in r] for r in parts[0]]
    if len(parts) == 1:
        return corpus.wkb_polygon(rings)
    return corpus.wkb_multipolygon(
        [[[tuple(map(float, p)) for p in r] for r in part] for part in parts]
    )
