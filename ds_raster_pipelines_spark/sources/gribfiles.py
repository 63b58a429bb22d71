"""S1/S2 over GENUINE GRIB2 bytes: build multi-message ensemble files and
explode them with header-level key filtering — the reference's primary
ingest shape (era5_pipeline.py:59-66 opens ERA5 monthly GRIB;
seas5_pipeline.py:108-123 opens SEAS5 ensembles with
``filter_by_keys={"dataType": "fcmean"}`` and then takes the ensemble
mean over the ``number`` dimension).

Distributed form: GRIB files are rows of a binary column; one Arrow
kernel scans each file's message HEADERS, applies the key filter before
any data unpack (exactly what makes filter_by_keys cheap in cfgrib), and
decodes only surviving messages into relational rows. Ensemble-mean /
unit-conversion then happen as ordinary DataFrame aggregation — the
reference's ``ds.mean(dim="number")`` becomes a groupBy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .. import corpus, grib, native

GRID_N = 8  # 8x8 grid per message (values fit 10-bit simple packing)
N_ENS = 5
FC_MONTHS = (1, 2)
ENSEMBLE_PARAM = 52  # the wanted parameter (tprate-like)
DECOY_PARAM = 8  # deterministic non-ensemble messages the filter must drop


def message_values(i: int, member: int, fc_month: int) -> np.ndarray:
    """Deterministic grid for (file i, ensemble member, forecast month):
    v_g = (i*7 + member*13 + fc_month*29 + g*3) % 1000 — integers, so
    simple packing at D=E=0 round-trips bit-exactly and every aggregate
    has a closed form."""
    g = np.arange(GRID_N * GRID_N, dtype=np.int64)
    return ((i * 7 + member * 13 + fc_month * 29 + g * 3) % 1000).astype(
        np.float64
    ).reshape(GRID_N, GRID_N)


NAN_MOD = 11  # bitmap variant: cell g of file i is absent iff (g+i) % NAN_MOD == 0


def build_ensemble_files(
    ids: DataFrame, id_col: str = "i", packing: int = 0, with_bitmap: bool = False
) -> DataFrame:
    """One GRIB2 file per id: N_ENS members x FC_MONTHS ensemble messages
    (product template 4.1) plus two DECOY messages (template 4.0, a
    different parameter) whose values would poison every downstream sum if
    the key filter ever leaked them through. ``packing`` selects the data
    representation (0 simple / 2 complex / 3 complex+spatial-diff);
    ``with_bitmap`` blanks cells (g+i) % NAN_MOD == 0 to NaN, which the
    encoder turns into a section-6 bitmap — the ERA5-land ocean-mask
    shape (real ERA5/SEAS5 GRIBs ship complex-packed and bitmapped;
    the reference reads them transparently via cfgrib,
    era5_pipeline.py:59-66)."""

    def kernel(batches):
        for pdf in batches:
            blobs = []
            for i in pdf[id_col].astype(int):
                msgs = []
                for t in FC_MONTHS:
                    for m in range(N_ENS):
                        vals = message_values(i, m, t)
                        if with_bitmap:
                            g = np.arange(GRID_N * GRID_N).reshape(GRID_N, GRID_N)
                            vals = np.where((g + i) % NAN_MOD == 0, np.nan, vals)
                        msgs.append(
                            grib.encode_message(
                                vals,
                                template=1,
                                param_number=ENSEMBLE_PARAM,
                                forecast_time=t,
                                perturbation=m,
                                n_ens=N_ENS,
                                packing=packing,
                            )
                        )
                    # decoy: deterministic field of the wrong parameter
                    msgs.append(
                        grib.encode_message(
                            np.full((GRID_N, GRID_N), 999.0),
                            template=0,
                            param_number=DECOY_PARAM,
                            forecast_time=t,
                        )
                    )
                blobs.append(grib.encode_file(msgs))
            yield pd.DataFrame({"i": pdf[id_col].astype(np.int64), "grib_bytes": blobs})

    return ids.select(id_col).mapInPandas(kernel, schema="i bigint, grib_bytes binary")


def request_filter_keys(spec) -> list[dict]:
    """S7 compilation: a MARS-shaped RequestSpec (plans/requests.py)
    lowered to GRIB header filters — the request's leadtime list becomes
    per-message ``forecastTime`` alternatives and ``spec.extra`` carries
    the parameter keys verbatim (the reference's request dict ships
    'leadtime_month': [1..7] and param codes, seas5_pipeline.py:56-75).
    Returns a LIST of key dicts: a message survives if it matches ANY
    (OR over leadtimes, AND within a dict)."""
    base = dict(spec.extra)
    return [dict(base, forecastTime=int(lt)) for lt in spec.leadtimes]


def explode_grib_ensemble(
    files: DataFrame,
    filter_keys: dict | list[dict] | None = None,
    bytes_col: str = "grib_bytes",
    id_col: str = "i",
) -> DataFrame:
    """One row per SURVIVING message: (id, forecast_time, member,
    grid_sum). ``filter_keys`` (one dict, or a list of alternative dicts —
    e.g. request_filter_keys output) is matched against each message's
    header keys (grib.GribMessage.key()) BEFORE the data section is
    unpacked — the S2 filter_by_keys semantics; non-matching messages
    cost one header parse and zero decode work."""
    alts = (
        None
        if not filter_keys
        else ([filter_keys] if isinstance(filter_keys, dict) else list(filter_keys))
    )
    # pre-compile the cfgrib-vocabulary filter to attribute probes: the
    # per-message key() dict build was ~10% of a file walk; the attribute
    # names are the same ones key() exposes (unknown keys never match,
    # preserving the dict-filter semantics via a None sentinel)
    _KEY_ATTR = {
        "discipline": "discipline",
        "parameterCategory": "param_category",
        "parameterNumber": "param_number",
        "productDefinitionTemplateNumber": "template",
        "forecastTime": "forecast_time",
        "perturbationNumber": "perturbation",
    }
    attr_alts = (
        None
        if alts is None
        else [
            [(_KEY_ATTR.get(kk), vv) for kk, vv in alt.items()] for alt in alts
        ]
    )
    # the same cfgrib keys as native.grib_scan field-slot indices, for the
    # whole-file native path below (unknown keys never match, as above)
    _KEY_SLOT = {
        "discipline": 2,
        "parameterCategory": 3,
        "parameterNumber": 4,
        "productDefinitionTemplateNumber": 5,
        "forecastTime": 6,
        "perturbationNumber": 7,
    }
    slot_alts = (
        None
        if alts is None
        else [
            [(_KEY_SLOT.get(kk), vv) for kk, vv in alt.items()] for alt in alts
        ]
    )

    # compile the filter to the CSR (slot, value) form grib_files_sum
    # takes.  slot -1 = a probe that never matches — the EXACT Python
    # semantics for unknown keys (None sentinel) and non-integer values
    # (int attribute == non-int is always False).
    if slot_alts is None:
        alt_off_np = np.zeros(1, dtype=np.int64)
        probe_slot_np = np.zeros(0, dtype=np.int64)
        probe_val_np = np.zeros(0, dtype=np.int64)
    else:
        p_slots: list[int] = []
        p_vals: list[int] = []
        offs = [0]
        for alt in slot_alts:
            for s, vv in alt:
                if s is None or not isinstance(vv, int):
                    p_slots.append(-1)
                    p_vals.append(0)
                else:
                    p_slots.append(s)
                    p_vals.append(int(vv))
            offs.append(len(p_slots))
        alt_off_np = np.array(offs, dtype=np.int64)
        probe_slot_np = np.array(p_slots, dtype=np.int64)
        probe_val_np = np.array(p_vals, dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            ids, fts, mems, sums, pres = [], [], [], [], []
            parts = []
            blobs = [bytes(b) for b in pdf[bytes_col]]
            iarr = np.array([int(x) for x in pdf[id_col]], dtype=np.int64)
            okf = None
            if blobs:
                # ONE native call per Arrow batch (r8): scan + key filter
                # + exact-integer per-message sums for every file at once
                # (native.grib_files_sum) — the per-file Python walk
                # (scan_messages objects, per-file ctypes calls, numpy
                # slicing) was ~60 us/file against a ~2 us C cost.  Files
                # the kernel cannot prove exact (scaled values, fractional
                # reference, unsupported variant, malformed stream) get
                # ok_file=0 and take the Python path below unchanged.
                off = np.zeros(len(blobs) + 1, dtype=np.int64)
                np.cumsum([len(b) for b in blobs], out=off[1:])
                res = native.grib_files_sum(
                    b"".join(blobs), off, alt_off_np, probe_slot_np,
                    probe_val_np,
                )
                if res is not None:
                    rows, okf = res
                    if len(rows):
                        parts.append(
                            (
                                iarr[rows[:, 0]],
                                rows[:, 1].astype(np.int32),
                                rows[:, 2].astype(np.int32),
                                rows[:, 3],
                                rows[:, 4],
                            )
                        )
            for fidx, (i, buf) in enumerate(zip(iarr, blobs)):
                if okf is not None and okf[fidx]:
                    continue  # handled natively above
                surv = []
                for m in grib.scan_messages(buf):
                    if attr_alts is not None:
                        if not any(
                            all(
                                a is not None and getattr(m, a) == vv
                                for a, vv in alt
                            )
                            for alt in attr_alts
                        ):
                            continue  # dropped pre-decode
                    surv.append(m)
                    ids.append(int(i))
                    fts.append(m.forecast_time)
                    mems.append(m.perturbation)
                # WITHIN-FILE batched decode for the common ensemble shape
                # (simple packing, no bitmap, identical width/points/
                # scales): one numpy chain for the whole member stack,
                # row-identical to per-message decode_values.  This is
                # NOT the r6 cross-message experiment that batched 10k
                # messages per Arrow batch and lost 4-7x to float64
                # memory traffic — a file's ~10 tiny grids stay cache-
                # resident, so only the ~10 us/message numpy dispatch is
                # amortized.  Bitmapped/complex messages keep the
                # per-message path.
                batchable = [
                    m
                    for m in surv
                    if m.packing_template == 0 and m._bitmap_offset < 0
                ]
                grouped = None
                if len(batchable) == len(surv) and len(surv) > 1:
                    key0 = (
                        surv[0].bits_per_value, surv[0].n_points,
                        surv[0]._data_len, surv[0].binary_scale,
                        surv[0].decimal_scale,
                    )
                    if all(
                        (m.bits_per_value, m.n_points, m._data_len,
                         m.binary_scale, m.decimal_scale) == key0
                        for m in surv
                    ):
                        grouped = grib.decode_values_simple_batch(buf, surv)
                if grouped is not None and np.isfinite(grouped).all():
                    sums.extend(int(s) for s in grouped.sum(axis=1))
                    pres.extend([grouped.shape[1]] * len(surv))
                else:
                    for m in surv:
                        v = grib.decode_values(buf, m)
                        fin = np.isfinite(v)
                        sums.append(int(v[fin].sum()))
                        pres.append(int(fin.sum()))
            if ids:
                parts.append(
                    (
                        np.array(ids, dtype=np.int64),
                        np.array(fts, dtype=np.int32),
                        np.array(mems, dtype=np.int32),
                        np.array(sums, dtype=np.int64),
                        np.array(pres, dtype=np.int64),
                    )
                )
            cols = (
                [np.concatenate([p[k] for p in parts]) for k in range(5)]
                if parts
                else [
                    np.array([], dtype=np.int64),
                    np.array([], dtype=np.int32),
                    np.array([], dtype=np.int32),
                    np.array([], dtype=np.int64),
                    np.array([], dtype=np.int64),
                ]
            )
            yield pd.DataFrame(
                {
                    id_col: cols[0],
                    "fc_month": cols[1],
                    "member": cols[2],
                    "grid_sum": cols[3],
                    "n_present": cols[4],
                }
            )

    return files.mapInPandas(
        kernel,
        schema=f"{id_col} bigint, fc_month int, member int, grid_sum bigint, n_present bigint",
    )


def materialized_ensemble_files(spark, sf_dir: str) -> str:
    """Materialize the per-order GRIB file corpus for ``sf_dir`` once and
    return its parquet path — GRIB downloads are stored blobs in
    production, and scanning them keeps the consuming query at ONE Python
    stage (the scan/filter/decode kernel)."""
    return corpus.stored_per_order(spark, sf_dir, "_grib", build_ensemble_files)


def materialized_complex_files(spark, sf_dir: str) -> str:
    """The complex-packed (template 5.3) + bitmapped variant of the
    ensemble corpus — the wire shape real ERA5/SEAS5 downloads use."""
    from pyspark.sql import functions as F

    # 1/5 subsample: this corpus grades CODEC correctness (every
    # template-5.3 + bitmap branch still runs per message); tiny 8x8
    # grids make per-message overhead dominate, and the throughput
    # evidence lives in the production-size corpus
    return corpus.stored_per_order(
        spark, sf_dir, "_grib_cx2",
        lambda ids: build_ensemble_files(
            ids.where(F.col("i") % 5 == 0), packing=3, with_bitmap=True
        ),
    )


# ------------------------- production-shaped corpus (big messages) ---------

PROD_NI, PROD_NJ = 360, 181  # 1-degree global grid, 65 160 points/message
PROD_N_ENS = 51  # the real SEAS5 ensemble size
PROD_FILES = 16


def prod_message_values(i: int, member: int) -> np.ndarray:
    """(i*7 + member*13 + g*3) % 1000 over the 1-degree grid — integers,
    exact under any packing at D=E=0, closed-form aggregable."""
    g = np.arange(PROD_NI * PROD_NJ, dtype=np.int64)
    return ((i * 7 + member * 13 + g * 3) % 1000).astype(np.float64).reshape(
        PROD_NJ, PROD_NI
    )


def build_production_files(ids: DataFrame, id_col: str = "i") -> DataFrame:
    """SEAS5-download-shaped files: FEW files, each 51 complex-packed
    (5.3) messages over a production-size grid — the amortization regime
    the synthetic 8x8 corpus cannot exercise (per-message overhead is
    noise here; throughput is the bit-plane kernels)."""

    def kernel(batches):
        for pdf in batches:
            blobs = []
            for i in pdf[id_col].astype(int):
                msgs = [
                    grib.encode_message(
                        prod_message_values(i, m),
                        template=1,
                        param_number=ENSEMBLE_PARAM,
                        forecast_time=1,
                        perturbation=m,
                        n_ens=PROD_N_ENS,
                        packing=3,
                    )
                    for m in range(PROD_N_ENS)
                ]
                blobs.append(grib.encode_file(msgs))
            yield pd.DataFrame({"i": pdf[id_col].astype(np.int64), "grib_bytes": blobs})

    return ids.select(id_col).mapInPandas(kernel, schema="i bigint, grib_bytes binary")


def materialized_production_files(spark, sf_dir: str) -> str:
    return corpus.stored(
        corpus.sf_name(sf_dir, "_grib_prod"),
        lambda p: build_production_files(
            corpus.order_ids(spark, sf_dir)
            .orderBy("i")
            .limit(PROD_FILES)
            .repartition(PROD_FILES, "i")
        ).write.parquet(p),
    )
