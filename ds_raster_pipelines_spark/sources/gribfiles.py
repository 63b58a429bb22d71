"""S1/S2 over GENUINE GRIB2 bytes: build multi-message ensemble files and
explode them with header-level key filtering — the reference's primary
ingest shape (era5_pipeline.py:59-66 opens ERA5 monthly GRIB;
seas5_pipeline.py:108-123 opens SEAS5 ensembles with
``filter_by_keys={"dataType": "fcmean"}`` and then takes the ensemble
mean over the ``number`` dimension).

Distributed form: GRIB files are rows of a binary column, built through
``images.blob_table`` and read through ``images.BlobBatch``; one
``mapInArrow`` kernel scans each file's message HEADERS, applies the key
filter before any data unpack (exactly what makes filter_by_keys cheap in
cfgrib), and decodes only surviving messages into relational rows. Ensemble-mean /
unit-conversion then happen as ordinary DataFrame aggregation — the
reference's ``ds.mean(dim="number")`` becomes a groupBy.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .. import corpus, grib, native
from .images import BlobBatch, blob_table

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
    ids: DataFrame, packing: int = 0, with_bitmap: bool = False
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

    def encode(i: int) -> bytes:
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
        return grib.encode_file(msgs)

    return blob_table(ids, encode, "grib_bytes")


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
    files: DataFrame, filter_keys: dict | list[dict] | None = None
) -> DataFrame:
    """One row per SURVIVING message of each ``(i, grib_bytes)`` file:
    (i, fc_month, member, grid_sum, n_present). ``filter_keys`` (one dict,
    or a list of alternative dicts — e.g. request_filter_keys output) is
    matched against each message's header keys (cfgrib's filter_by_keys names)
    BEFORE the data section is unpacked — the S2 filter_by_keys semantics;
    non-matching messages cost one header parse and zero decode work."""
    alts = [filter_keys] if isinstance(filter_keys, dict) else list(filter_keys or [])
    # each cfgrib key as (native.grib_scan field slot, GribMessage
    # attribute), so neither path builds a per-message key() dict (~10% of
    # a file walk); an unknown key never matches
    key_map = {
        "discipline": (2, "discipline"),
        "parameterCategory": (3, "param_category"),
        "parameterNumber": (4, "param_number"),
        "productDefinitionTemplateNumber": (5, "template"),
        "forecastTime": (6, "forecast_time"),
        "perturbationNumber": (7, "perturbation"),
    }
    attr_alts = [[(key_map.get(k, (None, None))[1], v) for k, v in alt.items()] for alt in alts]
    # the CSR (slot, value) probes grib_files_sum takes.  A value equal
    # to an int64 (52, 52.0, np.int32(52)) probes as that int, because the
    # Python path's int attribute == 52.0 holds; slot -1 never matches —
    # the Python semantics for unknown keys and for values no int equals
    # (52.5, "52", nan)
    def probe(k, v):
        try:
            iv = int(v)
        except (TypeError, ValueError, OverflowError):
            return -1, 0
        ok = k in key_map and iv == v and -(2**63) <= iv < 2**63
        return (key_map[k][0], iv) if ok else (-1, 0)

    probes = [[probe(k, v) for k, v in alt.items()] for alt in alts]
    alt_off = np.cumsum([0] + [len(p) for p in probes], dtype=np.int64)
    probe_slot = np.array([sl for p in probes for sl, _ in p], dtype=np.int64)
    probe_val = np.array([v for p in probes for _, v in p], dtype=np.int64)

    def file_rows(buf) -> np.ndarray:
        """(forecast_time, member, grid_sum, n_present) int64 rows of one
        file's surviving messages — the Python path."""
        surv = []
        for m in grib.scan_messages(buf):
            if attr_alts and not any(
                all(a is not None and getattr(m, a) == v for a, v in alt) for alt in attr_alts
            ):
                continue  # dropped pre-decode
            surv.append(m)
        # WITHIN-FILE batched decode for the common ensemble shape
        # (simple packing, no bitmap, identical width/points/scales): one
        # numpy chain for the whole member stack, row-identical to
        # per-message decode_values.  This is NOT the r6 cross-message
        # experiment that batched 10k messages per Arrow batch and lost
        # 4-7x to float64 memory traffic — a file's ~10 tiny grids stay
        # cache-resident, so only the ~10 us/message numpy dispatch is
        # amortized.  Bitmapped/complex messages keep the per-message path.
        grouped = None
        if len(surv) > 1 and all(
            m.packing_template == 0 and m._bitmap_offset < 0 for m in surv
        ):
            key0 = (
                surv[0].bits_per_value, surv[0].n_points, surv[0]._data_len,
                surv[0].binary_scale, surv[0].decimal_scale,
            )
            if all(
                (m.bits_per_value, m.n_points, m._data_len, m.binary_scale,
                 m.decimal_scale) == key0
                for m in surv
            ):
                grouped = grib.decode_values_simple_batch(buf, surv)
        if grouped is not None and np.isfinite(grouped).all():
            sums = [int(s) for s in grouped.sum(axis=1)]
            pres = [grouped.shape[1]] * len(surv)
        else:
            sums, pres = [], []
            for m in surv:
                v = grib.decode_values(buf, m)
                fin = np.isfinite(v)
                sums.append(int(v[fin].sum()))
                pres.append(int(fin.sum()))
        fts = [m.forecast_time for m in surv]
        mems = [m.perturbation for m in surv]
        return np.array(list(zip(fts, mems, sums, pres)), np.int64).reshape(-1, 4)

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            bb = BlobBatch(b, "grib_bytes")
            # ONE native call per Arrow batch (r8), straight over the Arrow
            # (offsets, data) buffers: scan + key filter + exact-integer
            # (file, forecast_time, member, sum, n_present) rows for every
            # file at once.  Files the kernel cannot prove exact (scaled
            # values, fractional reference, unsupported variant, malformed
            # stream) get ok_file=0 and take the Python path.
            res = native.grib_files_sum(bb.data, bb.off, alt_off, probe_slot, probe_val)
            rows, okf = res if res is not None else (np.zeros((0, 5), np.int64), None)
            slow = np.arange(bb.n) if okf is None else np.flatnonzero(~okf)
            rows = np.concatenate(
                [rows]
                + [np.column_stack([np.full(len(r), k), r])
                   for k, r in zip(slow, bb.map(file_rows, rows=slow))]
            )
            ids = b.column("i").to_numpy(zero_copy_only=False).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[rows[:, 0]]), pa.array(rows[:, 1].astype(np.int32)),
                 pa.array(rows[:, 2].astype(np.int32)), pa.array(rows[:, 3]),
                 pa.array(rows[:, 4])],
                names=["i", "fc_month", "member", "grid_sum", "n_present"],
            )

    return files.select("i", "grib_bytes").mapInArrow(
        kernel, schema="i bigint, fc_month int, member int, grid_sum bigint, n_present bigint"
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


def build_production_files(ids: DataFrame) -> DataFrame:
    """SEAS5-download-shaped files: FEW files, each 51 complex-packed
    (5.3) messages over a production-size grid — the amortization regime
    the synthetic 8x8 corpus cannot exercise (per-message overhead is
    noise here; throughput is the bit-plane kernels)."""
    return blob_table(
        ids,
        lambda i: grib.encode_file(
            [
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
        ),
        "grib_bytes",
    )


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
