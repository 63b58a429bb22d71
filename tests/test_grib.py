"""From-scratch GRIB2 codec tests — grib.py (the reference's primary
ERA5/SEAS5 input container, opened via cfgrib with filter_by_keys)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ds_raster_pipelines_spark import grib


def test_message_structure_conforms():
    """Wire-format spot checks against the public FM 92 layout: magic,
    edition octet, 64-bit total length, section numbering, terminator."""
    g = np.arange(12, dtype=np.float64).reshape(3, 4)
    b = grib.encode_message(g)
    assert b[:4] == b"GRIB"
    assert b[7] == 2  # edition 2
    (total,) = struct.unpack_from(">Q", b, 8)
    assert total == len(b)
    assert b[-4:] == b"7777"
    # first section after the indicator is section 1
    slen, snum = struct.unpack_from(">IB", b, 16)
    assert snum == 1


def test_multi_message_scan_and_lazy_decode():
    g1 = np.arange(64, dtype=np.float64).reshape(8, 8)
    g2 = (np.arange(64, dtype=np.float64) * 2).reshape(8, 8)
    buf = grib.encode_file(
        [
            grib.encode_message(g1, template=1, perturbation=3, n_ens=7, forecast_time=2),
            grib.encode_message(g2, template=0, param_number=8),
        ]
    )
    ms = grib.scan_messages(buf)
    assert [m.template for m in ms] == [1, 0]
    assert ms[0].perturbation == 3 and ms[0].n_ens == 7 and ms[0].forecast_time == 2
    assert ms[1].param_number == 8 and ms[1].perturbation == 0
    assert (ms[0].ni, ms[0].nj) == (8, 8)
    assert ms[0].lat1_mdeg == 90_000_000 and ms[0].di_mdeg == 250_000
    assert np.array_equal(grib.decode_values(buf, ms[0]), g1)
    assert np.array_equal(grib.decode_values(buf, ms[1]), g2)


def test_packing_scales():
    rng = np.random.default_rng(5)
    # binary scale: quarter-steps exact at E=-2
    q = (rng.integers(0, 500, size=(6, 6)) * 0.25).astype(np.float64)
    mb = grib.encode_message(q, binary_scale=-2)
    assert np.array_equal(grib.decode_values(mb, grib.scan_messages(mb)[0]), q)
    # decimal scale: tenths at D=1
    d = rng.integers(0, 100, size=(4, 5)) / 10.0
    md = grib.encode_message(d, decimal_scale=1)
    assert np.allclose(grib.decode_values(md, grib.scan_messages(md)[0]), d, atol=1e-12)
    # constant grid -> 1 bit per value
    c = np.full((5, 5), 42.0)
    mc = grib.encode_message(c)
    m = grib.scan_messages(mc)[0]
    assert m.bits_per_value == 1
    assert np.array_equal(grib.decode_values(mc, m), c)


def test_unsupported_rejected():
    with pytest.raises(ValueError, match="GRIB"):
        grib.scan_messages(b"not grib bytes")
    g = np.zeros((2, 2))
    b = bytearray(grib.encode_message(g))
    b[7] = 1  # pretend GRIB1
    with pytest.raises(NotImplementedError, match="edition 1"):
        grib.scan_messages(bytes(b))
    with pytest.raises(NotImplementedError, match="4.7"):
        grib.encode_message(g, template=7)


@settings(max_examples=25, deadline=None)
@given(
    nj=st.integers(1, 10),
    ni=st.integers(1, 10),
    seed=st.integers(0, 2**31 - 1),
    span=st.sampled_from([1, 2, 255, 1000, 65535]),
)
def test_roundtrip_property(nj, ni, seed, span):
    rng = np.random.default_rng(seed)
    g = rng.integers(0, span + 1, size=(nj, ni)).astype(np.float64)
    b = grib.encode_message(g)
    m = grib.scan_messages(b)[0]
    assert np.array_equal(grib.decode_values(b, m), g)


def test_spark_key_filter_drops_before_decode(spark):
    """The S2 filter semantics end-to-end: decoys of the wrong parameter
    are dropped at header level; surviving rows carry exact grid sums."""
    from ds_raster_pipelines_spark.sources.gribfiles import (
        ENSEMBLE_PARAM,
        FC_MONTHS,
        N_ENS,
        build_ensemble_files,
        explode_grib_ensemble,
        message_values,
    )
    from pyspark.sql import functions as F

    ids = spark.range(0, 20).select(F.col("id").alias("i"))
    files = build_ensemble_files(ids)
    out = explode_grib_ensemble(
        files,
        filter_keys={
            "parameterNumber": ENSEMBLE_PARAM,
            "productDefinitionTemplateNumber": 1,
        },
    ).toPandas()
    assert len(out) == 20 * N_ENS * len(FC_MONTHS)  # decoys filtered
    row = out[(out["i"] == 7) & (out["fc_month"] == 2) & (out["member"] == 3)]
    assert row["grid_sum"].tolist() == [int(message_values(7, 3, 2).sum())]
    # no filter -> decoys appear (2 extra messages per file)
    all_rows = explode_grib_ensemble(files, filter_keys=None).toPandas()
    assert len(all_rows) == 20 * (N_ENS * len(FC_MONTHS) + 2)


def test_request_spec_compiles_to_grib_filter(spark):
    """S7 x S2: a MARS-shaped RequestSpec lowers to GRIB header filters —
    the request's leadtime list selects forecast months at the message
    level, params ride through extra."""
    from ds_raster_pipelines_spark.plans.requests import RequestSpec
    from ds_raster_pipelines_spark.sources.gribfiles import (
        ENSEMBLE_PARAM,
        N_ENS,
        build_ensemble_files,
        explode_grib_ensemble,
        request_filter_keys,
    )
    from pyspark.sql import functions as F

    spec = RequestSpec(
        date_start="2024-01-01",
        date_end="2024-01-31",
        leadtimes=(1,),  # month 2 messages must be dropped
        extra={
            "parameterNumber": ENSEMBLE_PARAM,
            "productDefinitionTemplateNumber": 1,
        },
    )
    keys = request_filter_keys(spec)
    assert keys == [
        {
            "parameterNumber": ENSEMBLE_PARAM,
            "productDefinitionTemplateNumber": 1,
            "forecastTime": 1,
        }
    ]
    ids = spark.range(0, 10).select(F.col("id").alias("i"))
    out = explode_grib_ensemble(build_ensemble_files(ids), filter_keys=keys).toPandas()
    assert set(out["fc_month"]) == {1}
    assert len(out) == 10 * N_ENS
    # multi-leadtime spec = OR over alternatives
    spec2 = RequestSpec("2024-01-01", "2024-01-31", leadtimes=(1, 2), extra=spec.extra)
    out2 = explode_grib_ensemble(
        build_ensemble_files(ids), filter_keys=request_filter_keys(spec2)
    ).toPandas()
    assert set(out2["fc_month"]) == {1, 2} and len(out2) == 10 * N_ENS * 2


def test_production_size_grid_roundtrip():
    """A realistic ERA5-shaped message: the full 0.25-degree global grid
    (721 x 1440 = 1,038,240 points) packs and round-trips exactly; the
    per-message Python overhead measured on the 8x8 synthetic corpus
    amortizes to nothing at this size (one message ~= one task's work)."""
    lat = np.arange(721)[:, None]
    lon = np.arange(1440)[None, :]
    g = ((lat * 3 + lon * 7) % 4000).astype(np.float64)  # 12-bit span
    b = grib.encode_message(g, lat1_deg=90.0, lon1_deg=0.0, d_deg=0.25)
    m = grib.scan_messages(b)[0]
    assert (m.nj, m.ni) == (721, 1440)
    assert m.bits_per_value == 12
    assert np.array_equal(grib.decode_values(b, m), g)
    # packed size ~ n*12/8 bytes, far below float64
    assert len(b) < 721 * 1440 * 2


def test_incremental_grib_ingest_resume(spark, tmp_path):
    """Composition: newly-arriving GRIB files ingest through the
    checkpoint/lineage manifest (S14 x S1) — a killed run resumes exactly
    the un-committed file batches, and the final table equals a clean
    one-shot ingest."""
    from ds_raster_pipelines_spark.sources.gribfiles import (
        ENSEMBLE_PARAM,
        build_ensemble_files,
        explode_grib_ensemble,
    )
    from ds_raster_pipelines_spark.streaming.incremental import IncrementalRun
    from pyspark.sql import functions as F

    def batch(p):  # files 10*p .. 10*p+9 arrive as partition p
        ids = spark.range(p * 10, p * 10 + 10).select(F.col("id").alias("i"))
        rows = explode_grib_ensemble(
            build_ensemble_files(ids),
            filter_keys={"parameterNumber": ENSEMBLE_PARAM},
        )
        return rows.select(
            (F.col("i") * 100 + F.col("fc_month") * 10 + F.col("member")).alias("cell_id"),
            "grid_sum",
        )

    out = str(tmp_path / "grib_run")
    run = IncrementalRun(spark, out)
    planned = [0, 1, 2]
    for p in [0]:  # first batch lands, then the job "dies"
        run.commit_partition(p, batch(p), cell_col="cell_id")
    run2 = IncrementalRun(spark, out)
    assert run2.pending_partitions(planned) == [1, 2]
    for p in run2.pending_partitions(planned):
        run2.commit_partition(p, batch(p), cell_col="cell_id")
    assert run2.verify(cell_col="cell_id").count() == 0
    got = run2.read().orderBy("cell_id").toPandas()[["cell_id", "grid_sum"]]
    want = (
        batch(0).unionByName(batch(1)).unionByName(batch(2))
        .orderBy("cell_id").toPandas()[["cell_id", "grid_sum"]]
    )
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))


def _section_sizes(b: bytes) -> dict[int, int]:
    sizes, p = {}, 16
    while p < len(b) - 4:
        slen, snum = struct.unpack_from(">IB", b, p)
        sizes[snum] = slen
        p += slen
    return sizes


def test_section_octet_layouts_conform_to_spec():
    """ADVICE r4: sections 3 and 4 must be the TRUE WMO template sizes —
    template 3.0 is a 72-octet section (basic angle + subdivisions are
    two uint32s), template 4.1 is 37 octets (two 6-byte fixed-surface
    blocks), 4.0 is 34; perturbationNumber sits at section-4 octet 36."""
    g = np.arange(12, dtype=np.float64).reshape(3, 4)
    ens = grib.encode_message(g, template=1, perturbation=9, n_ens=11)
    det = grib.encode_message(g, template=0)
    s_ens, s_det = _section_sizes(ens), _section_sizes(det)
    assert s_ens[3] == 72 and s_det[3] == 72
    assert s_ens[4] == 37 and s_det[4] == 34
    assert s_ens[5] == 21 and s_det[5] == 21  # template 5.0

    # locate section 4 and check the spec octet positions directly
    p = 16
    while True:
        slen, snum = struct.unpack_from(">IB", ens, p)
        if snum == 4:
            break
        p += slen
    assert ens[p + 35] == 9  # octet 36: perturbationNumber
    assert ens[p + 36] == 11  # octet 37: numberOfForecastsInEnsemble
    assert ens[p + 22] == 1  # octet 23: first fixed surface type (ground)
    assert ens[p + 28] == 255  # octet 29: second fixed surface = missing

    m = grib.scan_messages(ens)[0]
    assert (m.perturbation, m.n_ens) == (9, 11)


@pytest.mark.parametrize("packing,order", [(2, 0), (3, 1), (3, 2)])
def test_complex_packing_roundtrip_matches_simple(packing, order):
    """Templates 5.2/5.3 decode to EXACTLY what simple packing decodes
    for the same integer-valued field (both are lossless at D=E=0)."""
    rng = np.random.default_rng(7)
    g = rng.integers(-500, 4000, size=(37, 53)).astype(np.float64)
    simple = grib.encode_message(g)
    cx = grib.encode_message(g, packing=packing, spatial_order=max(order, 1))
    ms, mc = grib.scan_messages(simple)[0], grib.scan_messages(cx)[0]
    assert mc.packing_template == packing
    vs = grib.decode_values(simple, ms)
    vc = grib.decode_values(cx, mc)
    assert np.array_equal(vs, vc)
    assert np.array_equal(vc, g)
    # section 5 sizes per spec: 5.2 = 47 octets, 5.3 = 49
    assert _section_sizes(cx)[5] == (49 if packing == 3 else 47)


@settings(max_examples=25, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    packing=st.sampled_from([0, 2, 3]),
    nj=st.integers(2, 40),
    ni=st.integers(2, 40),
)
def test_packing_property_roundtrip(seed, packing, nj, ni):
    rng = np.random.default_rng(seed)
    g = rng.integers(-(2 ** 14), 2 ** 14, size=(nj, ni)).astype(np.float64)
    b = grib.encode_message(g, packing=packing)
    m = grib.scan_messages(b)[0]
    assert np.array_equal(grib.decode_values(b, m), g)


def test_bitmap_nan_roundtrip_all_packings():
    """NaN cells become a section-6 bitmap; decode scatters values back
    and leaves NaN at absent points — under simple AND complex packing."""
    rng = np.random.default_rng(3)
    g = rng.integers(0, 1000, size=(16, 24)).astype(np.float64)
    g[rng.random(g.shape) < 0.3] = np.nan
    for packing in (0, 2, 3):
        b = grib.encode_message(g, packing=packing)
        m = grib.scan_messages(b)[0]
        assert m.n_points == int(np.isfinite(g).sum())
        got = grib.decode_values(b, m)
        assert np.array_equal(np.isnan(got), np.isnan(g))
        assert np.array_equal(got[np.isfinite(g)], g[np.isfinite(g)])


def test_constant_field_and_tiny_grid_edge_cases():
    const = np.full((4, 4), 7.0)
    for packing in (0, 2, 3):
        b = grib.encode_message(const, packing=packing)
        assert np.array_equal(grib.decode_values(b, grib.scan_messages(b)[0]), const)
    # fewer points than the spatial-differencing order -> loud error
    with pytest.raises(ValueError, match="too few points"):
        grib.encode_message(np.ones((1, 2)), packing=3, spatial_order=2)


def test_all_nan_grid_roundtrips_as_empty_bitmap():
    g = np.full((4, 6), np.nan)
    for packing in (0, 2):
        b = grib.encode_message(g, packing=packing)
        m = grib.scan_messages(b)[0]
        v = grib.decode_values(b, m)
        assert m.n_points == 0 and np.isnan(v).all() and v.shape == (4, 6)


def test_unpack_bits_rows_matches_per_buffer():
    """r8 parity gate: the row-batched unpack used by
    decode_values_simple_batch is integer-identical to per-buffer
    _unpack_bits at every width class (byte-aligned and not)."""
    import numpy as np

    from ds_raster_pipelines_spark import grib

    rng = np.random.RandomState(7)
    for nbits in (1, 7, 8, 10, 13, 24, 32):
        vals = rng.randint(0, 1 << nbits, size=(6, 41)).astype(np.uint64)
        rows = [grib._pack_bits(v, nbits) for v in vals]
        got = grib._unpack_bits_rows(rows, 41, nbits)
        for r in range(len(rows)):
            ref = grib._unpack_bits(rows[r], 41, nbits)
            assert np.array_equal(got[r], ref)
            assert np.array_equal(got[r], vals[r])


def test_decode_values_simple_batch_matches_decode_values():
    """Batched ensemble decode equals per-message decode_values row for
    row (same float expression, amortized dispatch)."""
    import numpy as np

    from ds_raster_pipelines_spark import grib
    from ds_raster_pipelines_spark.sources import gribfiles

    msgs = []
    for t in gribfiles.FC_MONTHS:
        for mm in range(gribfiles.N_ENS):
            msgs.append(
                grib.encode_message(
                    gribfiles.message_values(321, mm, t),
                    template=1,
                    param_number=gribfiles.ENSEMBLE_PARAM,
                    forecast_time=t,
                    perturbation=mm,
                    n_ens=gribfiles.N_ENS,
                    packing=0,
                )
            )
    blob = grib.encode_file(msgs)
    scanned = grib.scan_messages(blob)
    batch = grib.decode_values_simple_batch(blob, scanned)
    for row, m in zip(batch, scanned):
        assert np.array_equal(row, grib.decode_values(blob, m).ravel())


def test_unpack_bits_small_n_matches_numpy_path():
    """r8: the Python-big-int fast path for tiny descriptor streams is
    integer-identical to the numpy unpack at every width."""
    import numpy as np

    from ds_raster_pipelines_spark import grib

    rng = np.random.RandomState(1)
    for nbits in (1, 5, 8, 10, 13, 24, 31):
        for n in (1, 2, 3, 8, 16):
            vals = rng.randint(0, 1 << min(nbits, 30), size=n).astype(np.uint64)
            packed = grib._pack_bits(vals, nbits)
            small = grib._unpack_bits(packed, n, nbits)
            big = grib._unpack_bits_rows([packed], n, nbits)[0]
            assert np.array_equal(small, vals)
            assert np.array_equal(small, big)


def test_native_grib_scan_parity_and_error_fallback():
    """r8: the native header scan yields field-for-field identical
    GribMessage lists to the Python walk across packing/bitmap variants,
    and malformed streams raise the exact Python error (C bails,
    Python re-walks)."""
    import numpy as np

    import ds_raster_pipelines_spark.native as nat
    from ds_raster_pipelines_spark import grib
    from ds_raster_pipelines_spark.sources import gribfiles

    def build(i, packing=0, with_bitmap=False):
        msgs = []
        for t in gribfiles.FC_MONTHS:
            for mm in range(gribfiles.N_ENS):
                vals = gribfiles.message_values(i, mm, t)
                if with_bitmap:
                    g = np.arange(64).reshape(8, 8)
                    vals = np.where((g + i) % 11 == 0, np.nan, vals)
                msgs.append(
                    grib.encode_message(
                        vals, template=1, param_number=52, forecast_time=t,
                        perturbation=mm, n_ens=5, packing=packing,
                    )
                )
            msgs.append(
                grib.encode_message(
                    np.full((8, 8), 999.0), template=0, param_number=8,
                    forecast_time=t,
                )
            )
        return grib.encode_file(msgs)

    for packing, bm in ((0, False), (2, False), (3, True)):
        blob = build(11, packing, bm)
        nat_msgs = grib.scan_messages(blob)
        saved = nat._lib
        nat._lib = None
        try:
            py_msgs = grib.scan_messages(blob)
        finally:
            nat._lib = saved
        assert len(nat_msgs) == len(py_msgs)
        for x, y in zip(nat_msgs, py_msgs):
            for s in x.__slots__:
                assert getattr(x, s, None) == getattr(y, s, None), s

    bad = build(3)[:-2]

    def outcome(fn):
        try:
            fn(bad)
            return None
        except Exception as exc:  # noqa: BLE001
            return f"{type(exc).__name__}: {exc}"

    e_native = outcome(grib.scan_messages)
    saved = nat._lib
    nat._lib = None
    try:
        e_python = outcome(grib.scan_messages)
    finally:
        nat._lib = saved
    assert e_native == e_python is not None or e_native == e_python


def _ensemble_rows(frame, ids, filter_keys, packing=0, with_bitmap=False):
    """The rows explode_grib_ensemble yields for hand-built files, run in
    this process on Arrow batches (``frame`` is the DataFrame stand-in)."""
    import pyarrow as pa

    from ds_raster_pipelines_spark.sources.gribfiles import (
        build_ensemble_files,
        explode_grib_ensemble,
    )

    batch = pa.record_batch({"i": pa.array(ids, pa.int64())})
    files = list(build_ensemble_files(frame, packing=packing, with_bitmap=with_bitmap)([batch]))
    kernel = explode_grib_ensemble(frame, filter_keys=filter_keys)
    return sorted(tuple(r.values()) for r in pa.Table.from_batches(list(kernel(files))).to_pylist())


def test_grib_files_sum_matches_python_fallback(kernel_frame, drop_toolchain):
    """The whole-batch native walk (grib_files_sum) must produce the same
    relational rows as the pure-Python scan/filter/decode path — same
    filter semantics (decoys dropped), same sums/counts with and without
    bitmap, across simple and complex+spatial-diff packings. Each leg
    must take the path it names: no file falls back on the native leg,
    and the native call is refused without the toolchain."""
    from ds_raster_pipelines_spark import native
    from ds_raster_pipelines_spark.sources.gribfiles import ENSEMBLE_PARAM

    if native.get_lib() is None:
        pytest.skip("no native lib")
    keys = {"parameterNumber": ENSEMBLE_PARAM, "productDefinitionTemplateNumber": 1}
    cases = ((0, False), (3, True), (2, False))

    def run():
        return [_ensemble_rows(kernel_frame, [5, 10, 11, 20], keys, p, bm) for p, bm in cases]

    before = native.fallbacks["grib_files_sum"]
    got = run()
    assert native.fallbacks["grib_files_sum"] == before, native.fallbacks
    drop_toolchain()
    want = run()
    assert native.get_lib() is None
    assert native.fallbacks["grib_files_sum"] == len(cases), native.fallbacks
    for (packing, bitmap), g, w in zip(cases, got, want):
        assert g == w, f"packing={packing} bitmap={bitmap}"
        # decoys must have been dropped on both paths
        assert len(g) == 4 * 2 * 5


def test_grib_files_sum_unknown_key_never_matches(kernel_frame, drop_toolchain):
    """An unknown cfgrib key in the filter makes the alt never match on
    BOTH paths (the None-sentinel semantics)."""
    from ds_raster_pipelines_spark import native

    if native.get_lib() is None:
        pytest.skip("no native lib")
    before = native.fallbacks["grib_files_sum"]
    assert _ensemble_rows(kernel_frame, [3], {"noSuchKey": 1}) == []
    assert native.fallbacks["grib_files_sum"] == before, native.fallbacks
    drop_toolchain()
    assert _ensemble_rows(kernel_frame, [3], {"noSuchKey": 1}) == []
    assert native.fallbacks["grib_files_sum"] == 1, native.fallbacks


@pytest.mark.parametrize("value", [52, 52.0, 52.5])
def test_grib_filter_value_matches_like_python_eq(value, kernel_frame, drop_toolchain):
    """``parameterNumber`` 52, 52.0 and 52.5 keep the same rows with and
    without a toolchain: a value an int equals probes as that int on the
    native path, as the Python path's ``==`` has it."""
    import pyarrow as pa

    from ds_raster_pipelines_spark.sources.gribfiles import (
        ENSEMBLE_PARAM,
        build_ensemble_files,
        explode_grib_ensemble,
    )

    ids = pa.record_batch({"i": pa.array([3, 4], pa.int64())})
    files = list(build_ensemble_files(kernel_frame)([ids]))
    kernel = explode_grib_ensemble(kernel_frame, filter_keys={"parameterNumber": value})

    def rows():
        return sorted(pa.Table.from_batches(list(kernel(files))).to_pylist(),
                      key=lambda r: tuple(r.values()))

    with_lib = rows()
    drop_toolchain()
    assert rows() == with_lib
    assert len(with_lib) == (0 if value == 52.5 else 2 * 2 * 5)
    assert ENSEMBLE_PARAM == 52
