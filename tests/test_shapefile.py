"""ESRI Shapefile codec + source tests.

The reference ingests admin boundaries as zipped shapefiles
(``examples/era5_cogs.md:164-172``); these tests pin the from-scratch
codec's ring-winding semantics (CW exterior / CCW hole), hole→exterior
re-nesting, the dBASE attribute path, and the distributed source.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ds_raster_pipelines_spark import corpus, shapefile as sf, ziparchive


def rect(mnx, mny, mxx, mxy):
    return [(mnx, mny), (mxx, mny), (mxx, mxy), (mnx, mxy), (mnx, mny)]


def test_signed_area_orientation():
    ccw = np.asarray(rect(0, 0, 2, 1), dtype="f8")
    assert sf.ring_signed_area(ccw) == pytest.approx(2.0)
    assert sf.ring_signed_area(ccw[::-1]) == pytest.approx(-2.0)


def test_roundtrip_holed_multipart_fixture():
    rows = corpus.admin_holed_rects()
    geoms = [corpus.parse_wkb_geometry(r["geom_wkb"]) for r in rows]
    shp, shx = sf.write_shp(geoms)
    feats = sf.read_features(
        shp,
        sf.write_dbf([("ADM_ID", "C", 12, 0)], [(r["adm_id"],) for r in rows]),
    )
    assert [f["ADM_ID"] for f in feats] == [r["adm_id"] for r in rows]
    for r, f in zip(rows, feats):
        orig = corpus.parse_wkb_geometry(r["geom_wkb"])
        back = corpus.parse_wkb_geometry(sf.feature_wkb(f["parts"]))
        assert len(back) == len(orig)
        for pa, pb in zip(orig, back):
            assert len(pa) == len(pb)  # same ring count incl. holes
            for ra, rb in zip(pa, pb):
                assert set(map(tuple, ra.tolist())) == set(map(tuple, rb.tolist()))


def test_winding_is_the_only_hole_signal():
    # identical coordinates, winding flipped: hole becomes an island
    outer, inner = rect(0, 0, 10, 10), rect(2, 2, 5, 5)
    shp_holed, _ = sf.write_shp([[[outer, inner]]])
    holed = sf.read_shp(shp_holed)[0]
    assert len(holed) == 1 and len(holed[0]) == 2  # one part, one hole
    shp_islands, _ = sf.write_shp([[[outer], [inner]]])
    islands = sf.read_shp(shp_islands)[0]
    # nested exteriors: both are parts (the codec does not invent holes)
    assert len(islands) == 2 and all(len(p) == 1 for p in islands)


def test_hand_built_second_flavor_stream():
    """Hand-assembled .shp (NOT via write_shp): hole ring FIRST, then its
    exterior, in one record — legal per spec (ring order is free, winding
    is normative) — plus a PolygonZ record whose Z/M section must be
    skipped via the record-length walk."""
    hole = np.asarray(rect(2, 2, 4, 4), dtype="f8")          # CCW = hole
    outer = np.asarray(rect(0, 0, 8, 8), dtype="f8")[::-1]   # CW = exterior
    pts = np.vstack([hole, outer])
    content = struct.pack("<i", 5) + struct.pack("<4d", 0, 0, 8, 8)
    content += struct.pack("<ii", 2, len(pts))
    content += struct.pack("<2i", 0, len(hole))
    content += pts.astype("<f8").tobytes()

    zpts = np.asarray(rect(20, 20, 21, 21), dtype="f8")[::-1]
    zcontent = struct.pack("<i", 15) + struct.pack("<4d", 20, 20, 21, 21)
    zcontent += struct.pack("<ii", 1, len(zpts))
    zcontent += struct.pack("<i", 0)
    zcontent += zpts.astype("<f8").tobytes()
    # Z range + Z values + M range + M values (all zeros)
    zcontent += struct.pack(f"<{4 + 2 * len(zpts)}d", *([0.0] * (4 + 2 * len(zpts))))

    body = b""
    for i, c in enumerate((content, zcontent)):
        body += struct.pack(">ii", i + 1, len(c) // 2) + c
    header = bytearray(100)
    struct.pack_into(">i", header, 0, 9994)
    struct.pack_into(">i", header, 24, (100 + len(body)) // 2)
    struct.pack_into("<ii", header, 28, 1000, 5)
    struct.pack_into("<4d", header, 36, 0, 0, 21, 21)

    g0, g1 = sf.read_shp(bytes(header) + body)
    assert len(g0) == 1 and len(g0[0]) == 2          # re-nested: exterior+hole
    assert sf.ring_signed_area(g0[0][0]) < 0          # exterior stored CW
    assert set(map(tuple, g0[0][1].tolist())) == set(map(tuple, hole.tolist()))
    assert len(g1) == 1 and len(g1[0]) == 1           # Z payload skipped cleanly


def test_orphan_hole_promoted_not_dropped():
    lonely_ccw = np.asarray(rect(50, 50, 55, 55), dtype="f8")
    outer = np.asarray(rect(0, 0, 10, 10), dtype="f8")[::-1]
    parts = sf.nest_rings([outer, lonely_ccw])
    assert len(parts) == 2  # the orphan CCW ring became its own part


def test_all_ccw_file_fallback():
    # a writer that never oriented rings: both CCW → both exteriors
    a = np.asarray(rect(0, 0, 3, 3), dtype="f8")
    b = np.asarray(rect(10, 0, 13, 3), dtype="f8")
    parts = sf.nest_rings([a, b])
    assert len(parts) == 2 and all(len(p) == 1 for p in parts)


def test_null_and_point_shapes():
    # one shape type per file (plus Null) — r8 aligns write_shp with the
    # spec (mixed Point+Polygon now raises; see the dedicated test below),
    # so the Null/Point and Null/Polygon cases round-trip separately
    shp, shx = sf.write_shp([None, (12.5, -3.25)])
    geoms = sf.read_shp(shp)
    assert geoms[0] is None
    assert geoms[1] == (12.5, -3.25)
    # .shx: 100-byte header, then one (offset, length) pair of big-endian
    # 16-bit-word counts per record
    idx = [(2 * o, 2 * n) for o, n in struct.iter_unpack(">ii", shx[100:])]
    assert len(idx) == 2
    for off, ln in idx:  # every index entry points at a real record header
        (recno,) = struct.unpack_from(">i", shp, off)
        assert 1 <= recno <= 2
        (clen,) = struct.unpack_from(">i", shp, off + 4)
        assert clen * 2 == ln
    shp2, shx2 = sf.write_shp([None, [[rect(0, 0, 1, 1)]]])
    geoms2 = sf.read_shp(shp2)
    assert geoms2[0] is None
    assert len(geoms2[1]) == 1
    assert len(shx2) == 100 + 2 * 8


def test_dbf_types_and_deleted_rows():
    data = sf.write_dbf(
        [("NAME", "C", 8, 0), ("POP", "N", 10, 0), ("AREA", "N", 12, 3)],
        [("abc", 1234, 5.5), ("de", -7, 0.125)],
    )
    rows = sf.read_dbf(data)
    assert rows[0] == {"NAME": "abc", "POP": 1234, "AREA": 5.5}
    assert rows[1]["POP"] == -7 and rows[1]["AREA"] == pytest.approx(0.125)
    # mark record 0 deleted in-place
    nrec, hdr_len, rec_len = struct.unpack_from("<ihh", data, 4)
    mut = bytearray(data)
    mut[hdr_len] = ord("*")
    assert [r["NAME"] for r in sf.read_dbf(bytes(mut))] == ["de"]


def test_dbf_rejects_overflow_and_bad_fields():
    with pytest.raises(ValueError):
        sf.write_dbf([("TOolongNAME", "C", 4, 0)], [])
    with pytest.raises(ValueError):
        sf.write_dbf([("N", "N", 3, 0)], [(12345,)])


def test_bad_magic_rejected():
    with pytest.raises(ValueError):
        sf.read_shp(b"\x00" * 100)
    with pytest.raises(ValueError):
        sf.read_dbf(b"\xff\x00")


def test_zipped_source_distributed(spark):
    import pandas as pd

    from ds_raster_pipelines_spark.sources.shapefiles import (
        zipped_shapefile_features,
    )

    blobs = spark.createDataFrame(
        pd.DataFrame({"src": ["hol.shp.zip"],
                      "blob": [corpus.admin_holed_shapefile_zip()]}),
        schema="src string, blob binary",
    )
    feats = zipped_shapefile_features(blobs).collect()
    assert len(feats) == 12
    assert {f["attrs"]["ADM_ID"] for f in feats} == {
        r["adm_id"] for r in corpus.admin_holed_rects()
    }
    for f in feats:
        assert f["src"] == "hol.shp.zip!hol.shp"
        corpus.parse_wkb_geometry(bytes(f["geom_wkb"]))  # valid WKB out


def test_write_shp_rejects_mixed_shape_types():
    """r8 (ADVICE r7): one shape type per file (plus Null) — mixing Point
    and Polygon raises instead of emitting a spec-violating header."""
    import pytest

    from ds_raster_pipelines_spark import shapefile

    square = [[[(0.0, 0.0), (0.0, 1.0), (1.0, 1.0), (1.0, 0.0)]]]
    with pytest.raises(ValueError, match="mixed Point and Polygon"):
        shapefile.write_shp([(1.0, 2.0), square])
    # homogeneous inputs (with Nulls) still fine
    shapefile.write_shp([(1.0, 2.0), None])
    shapefile.write_shp([square, None])
