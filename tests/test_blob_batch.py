"""Every non-tile container kernel reads its Arrow batch through
``BlobBatch`` and every generated corpus is built through ``blob_table``.

Each blob reader gets two bad rows: a null blob and a truncated one (half
the file, or one byte short where the container's index sits at the end).
Each must raise the reader's canonical message: ``null <col> in blob table
at row k`` for the null, and ``<col> row k: <decoder message>`` for the
truncated blob, where the decoder message is whatever the codec itself
raises on that blob.  The builders' blobs are pinned by sha256, so every
stored corpus stays valid without a corpus version bump.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from ds_raster_pipelines_spark import avi, corpus, flac, grib, mpeg_audio, netcdf, ziparchive
from ds_raster_pipelines_spark.sources import gribfiles, multimodal


def _wav():
    return multimodal.encode_wav(np.sin(np.arange(400) / 7.0) * 0.5)


def _flac():
    return flac.encode_flac(multimodal.flac_samples_for(3))


def _mp2():
    return mpeg_audio.encode_mp2(multimodal.mp2_samples_for(3))


def _zip():
    return ziparchive.encode_zip(
        [(f"aer_sfed_area_300s_v202001{d:02d}_v05r01.tif", f"2020-01-{d:02d}".encode() * d)
         for d in (1, 2, 3)]
    )


def _grib():
    return grib.encode_file(
        [grib.encode_message(gribfiles.message_values(3, m, 1), template=1,
                             param_number=gribfiles.ENSEMBLE_PARAM, forecast_time=1,
                             perturbation=m, n_ens=gribfiles.N_ENS)
         for m in range(gribfiles.N_ENS)]
    )


def _avi(codec="dct"):
    enc = {"dct": avi.encode_avi_dct, "mjpeg": avi.encode_avi_mjpeg}[codec]
    return enc(multimodal.video_frames_for(3))


def _nc():
    keys = np.arange(5, dtype=np.int64)
    return netcdf.encode_nc(
        dims={"row": 5},
        variables=[
            netcdf.NcVar("k_hi", ("row",), (keys >> 32).astype(np.int32)),
            netcdf.NcVar("k_lo", ("row",), keys.astype(np.int32)),
            netcdf.NcVar("v", ("row",), keys * 0.5),
        ],
        global_attrs={"doy": np.int32(1), "bands": "v"},
    )


def _half(blob):
    return blob[: len(blob) // 2]


def _short(blob):
    return blob[:-1]


def _blobs(spark, col, blob, **extra):
    """A one-row table: ``extra`` columns plus the blob column ``col``."""
    cols = {**{k: [v] for k, v in extra.items()}, col: [blob]}
    types = {str: "string", int: "bigint"}
    schema = ", ".join(
        [f"{k} {types[type(v)]}" for k, v in extra.items()] + [f"{col} binary"]
    )
    return spark.createDataFrame(pd.DataFrame(cols), schema=schema)


def _read_cube(spark, blob, tmp_path):
    """read_cube_nc over a two-shard table whose second shard is ``blob``
    (the first, valid shard gives the reader its schema)."""
    from ds_raster_pipelines_spark.sinks import read_cube_nc

    path = str(tmp_path / "cube")
    (tmp_path / "cube").mkdir()
    pq.write_table(
        pa.table({"doy": pa.array([1, 2], pa.int32()),
                  "nc_bytes": pa.array([_nc(), blob], pa.binary())}),
        f"{path}/part-0.parquet",
    )
    return read_cube_nc(spark, path, key_col="k")


def _readers():
    """name -> (blob column, valid blob, truncation, local decode of a
    truncated blob, run(spark, blob, tmp_path) -> DataFrame)."""
    from ds_raster_pipelines_spark.sources.archives import explode_zip_members
    from ds_raster_pipelines_spark.sources.shapefiles import zipped_shapefile_features

    def media(fn, **kw):
        return lambda spark, blob, _: fn(_blobs(spark, "bytes", blob, i=3), **kw)

    def clips(fn, mod, **kw):
        return lambda spark, blob, _: fn(
            _blobs(spark, "bytes", blob, media_id="m", mod=mod), **kw
        )

    return {
        "audio_stats_exact[wav]": (
            "bytes", _wav(), _half, multimodal.decode_wav, media(multimodal.audio_stats_exact)),
        "audio_stats_exact[flac]": (
            "bytes", _flac(), _half, flac.decode_flac, media(multimodal.audio_stats_exact)),
        "mp2_psnr_stats": (
            "bytes", _mp2(), _half, mpeg_audio.decode_mp2, media(multimodal.mp2_psnr_stats)),
        "audio_features": (
            "bytes", _wav(), _half, multimodal.decode_wav, clips(multimodal.audio_features, "wav")),
        "sample_frames": (
            "bytes", _avi(), _half, avi.parse_avi,
            clips(multimodal.sample_frames, "avi", every_n=2)),
        "video_frame_stats[dct]": (
            "bytes", _avi(), _half, avi.parse_avi, media(multimodal.video_frame_stats)),
        "video_frame_stats[mjpeg]": (
            "bytes", _avi("mjpeg"), _half, avi.parse_avi, media(multimodal.video_frame_stats)),
        "explode_zip_members": (
            "zip_bytes", _zip(), _short, ziparchive.list_members,
            lambda spark, blob, _: explode_zip_members(
                _blobs(spark, "zip_bytes", blob, archive="2020-01"))),
        "explode_grib_ensemble": (
            "grib_bytes", _grib(), _half, grib.scan_messages,
            lambda spark, blob, _: gribfiles.explode_grib_ensemble(
                _blobs(spark, "grib_bytes", blob, i=3))),
        "zipped_shapefile_features": (
            "blob", corpus.admin_holed_shapefile_zip(), _short, ziparchive.decode_zip,
            lambda spark, blob, _: zipped_shapefile_features(
                _blobs(spark, "blob", blob, src="hol.shp.zip"))),
        "read_cube_nc": (
            "nc_bytes", _nc(), _half, netcdf.decode_nc, _read_cube),
    }


READERS = list(_readers())


def _row(name):
    return 1 if name == "read_cube_nc" else 0


@pytest.mark.parametrize("name", READERS)
def test_reader_reads_the_valid_blob(spark, name, tmp_path):
    *_, run = _readers()[name]
    assert run(spark, _readers()[name][1], tmp_path).count() > 0


@pytest.mark.parametrize("name", READERS)
def test_null_blob_raises_the_canonical_error(spark, name, tmp_path):
    col, *_, run = _readers()[name]
    with pytest.raises(Exception, match=f"null {col} in blob table at row {_row(name)}"):
        run(spark, None, tmp_path).collect()


@pytest.mark.parametrize("name", READERS)
def test_truncated_blob_raises_the_canonical_error(spark, name, tmp_path):
    col, blob, cut, decode, run = _readers()[name]
    with pytest.raises(Exception) as local:
        decode(cut(blob))
    message = re.escape(f"{col} row {_row(name)}: {local.value}")
    with pytest.raises(Exception, match=message):
        run(spark, cut(blob), tmp_path).collect()


def test_truncated_wav_raises():
    """A cut data chunk used to decode as a shorter clip (39 of 100
    samples at half length, 99 with one byte missing)."""
    blob = multimodal.encode_wav(np.zeros(100))
    assert len(multimodal.decode_wav(blob)) == 100
    for cut in (122, 243):
        with pytest.raises(ValueError, match="WAV chunk b'data' overruns the blob"):
            multimodal.decode_wav(blob[:cut])


def test_truncated_mp2_error_names_no_other_codec():
    blob = _mp2()
    messages = set()
    for cut in range(1, len(blob), 7):
        try:
            mpeg_audio.decode_mp2(blob[:cut])
        except ValueError as e:
            messages.add(str(e))
    assert "truncated bitstream" in messages
    assert not any("FLAC" in m for m in messages)


def _batch(blobs, col="bytes"):
    return pa.RecordBatch.from_arrays([pa.array(blobs, pa.binary())], names=[col])


def test_blob_views_are_zero_copy_and_offset_aware():
    from ds_raster_pipelines_spark.sources.images import BlobBatch

    blobs = [b"abc", b"", b"defgh", b"ij"]
    bb = BlobBatch(_batch(blobs).slice(1))
    assert bb.map(bytes) == blobs[1:]
    assert np.shares_memory(bb.map(lambda v: np.frombuffer(v, np.uint8))[1], bb.data)
    assert bb.map(len) == [0, 5, 2]
    assert bb.map(lambda blob, x: bytes(blob) + x, [b"1", b"2", b"3"], rows=[2]) == [b"ij3"]


def test_whole_batch_kernel_names_the_failing_row():
    from ds_raster_pipelines_spark.sources.images import BlobBatch

    def kernel(off, data):
        for k in range(len(off) - 1):
            if data[off[k] : off[k + 1]].tobytes() == b"bad":
                raise ValueError("bad blob")
        return len(off) - 1

    assert BlobBatch(_batch([b"ok", b"ok"])).whole(kernel) == 2
    with pytest.raises(ValueError, match="^bytes row 2: bad blob$") as e:
        BlobBatch(_batch([b"ok", b"ok", b"bad", b"bad"])).whole(kernel)
    assert str(e.value.__cause__) == "bad blob"


# sha256 over ids 0..63 (0..15 for the 722 KB production files) of each
# builder's blobs in id order, as built before every builder moved onto
# blob_table.
GOLDEN = {
    "wav": "9e071e3ca0abaaa58a9c4c6d5915edd972281cc5201e6965bf990de615ccbe13",
    "mulaw": "1a85e32401e3ffb6ff15508a18f78ae68147acd580bd7196bcb6e859a042f303",
    "flac": "3f2a899e16f458b708a8c07097ffb19001ce8d2e87f4f1550ea62e03aae330df",
    "video_dct": "fe8894d471787062d1e005ff261cde662ccb2dd8e90ad2700a772673062e831d",
    "video_mjpeg": "a5671f2a56bf79ee11895ed007b45080287e22de21255ae306807928525bfd67",
    "mp2": "c51ef37536ed2e791d123fb0a2015693e1f30cfe2285b1c965aad1f7b93b679b",
    "ensemble": "0591bed2f5bc656749281f006da09747b676b19c48e9049c1a7b616bda43f055",
    "ensemble_cx": "6995433dfcd33358da858f50605a45560441d90b54cbe12c613791e04ed2b7d9",
    "production": "e56eb2e112e23bf362c31f58bb1d4e39ced7851c1df1d0e46a4663cee7cba7a9",
}


def _builders():
    mm, gf = multimodal, gribfiles
    return {
        "wav": mm.build_wav_corpus,
        "mulaw": mm.build_mulaw_corpus,
        "flac": mm.build_flac_corpus,
        "video_dct": mm.build_video_corpus,
        "video_mjpeg": lambda ids: mm.build_video_corpus(ids, codec="mjpeg"),
        "mp2": mm.build_mp2_corpus,
        "ensemble": gf.build_ensemble_files,
        "ensemble_cx": lambda ids: gf.build_ensemble_files(ids, packing=3, with_bitmap=True),
        "production": gf.build_production_files,
    }


@pytest.mark.parametrize("name", list(GOLDEN))
def test_builder_blobs_are_byte_identical(spark, name):
    n = 16 if name == "production" else 64
    ids = spark.range(0, n, 1, 4).withColumnRenamed("id", "i")
    df = _builders()[name](ids)
    col = "grib_bytes" if name in ("ensemble", "ensemble_cx", "production") else "bytes"
    assert df.columns == ["i", col]
    h = hashlib.sha256()
    for _, blob in sorted((r["i"], bytes(r[col])) for r in df.collect()):
        h.update(blob)
    assert h.hexdigest() == GOLDEN[name]
