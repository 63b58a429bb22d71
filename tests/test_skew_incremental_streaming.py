"""Salted join equivalence, checkpoint/resume lineage, streaming/batch
consistency, multimodal plumbing, rasterize kernels."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def test_salted_join_equals_plain(spark):
    from ds_raster_pipelines_spark.operators.skew import hot_keys, salted_join

    # skewed big side: key 7 has 5000 rows, others 10
    big = spark.range(0, 5000).select(
        F.lit(7).alias("k"), F.col("id").alias("row_id")
    ).unionByName(
        spark.range(5000, 5200).select((F.col("id") % 20).alias("k"), F.col("id").alias("row_id"))
    )
    small = spark.createDataFrame(
        pd.DataFrame({"k": list(range(20)), "payload": [f"p{j}" for j in range(20)]})
    )
    hot = hot_keys(big, "k", threshold=1000)
    assert [r["k"] for r in hot.collect()] == [7]
    plain = big.join(small, "k").orderBy("row_id").toPandas()
    salted = salted_join(
        big, small, "k", n_salt=8, salt_expr=F.xxhash64("row_id"), threshold=1000
    ).orderBy("row_id").toPandas()
    assert plain[["k", "row_id", "payload"]].equals(salted[["k", "row_id", "payload"]])
    # outer join parity too
    plain_l = big.join(small, "k", "left").count()
    salted_l = salted_join(
        big, small, "k", n_salt=8, salt_expr=F.xxhash64("row_id"), threshold=1000, how="left"
    ).count()
    assert plain_l == salted_l


def test_incremental_checkpoint_resume(spark, tmp_path):
    from ds_raster_pipelines_spark.streaming.incremental import IncrementalRun

    out = str(tmp_path / "run")

    def build(p):
        return spark.range(p * 100, p * 100 + 50).select(
            F.col("id").alias("cell_id"), (F.col("id") * 2).alias("v")
        )

    run = IncrementalRun(spark, out)
    planned = [0, 1, 2, 3]
    assert run.pending_partitions(planned) == [0, 1, 2, 3]
    for p in [0, 1]:
        m = run.commit_partition(p, build(p), cell_col="cell_id")
        assert m["n_rows"] == 50 and m["min_cell"] == p * 100
    # simulate a kill: partitions 2,3 never committed → resume sees them
    run2 = IncrementalRun(spark, out)
    assert run2.pending_partitions(planned) == [2, 3]
    for p in run2.pending_partitions(planned):
        run2.commit_partition(p, build(p), cell_col="cell_id")
    assert run2.pending_partitions(planned) == []
    assert run2.read().count() == 200
    # lineage verify: intact
    assert run2.verify(cell_col="cell_id").count() == 0
    # metrics: balanced partitions → skew ratio 1.0
    met = run2.metrics()
    assert met["partitions"] == 4 and met["rows_total"] == 200
    assert met["skew_ratio"] == 1.0


def test_incremental_redelivery_upsert(spark, tmp_path):
    """I2/I3: a late re-delivery of an already-committed dated partition
    (the reference FloodScan rolling 90-day archive re-ships committed
    dates — floodscan_pipeline.py:54,424) must re-commit idempotently:
    one manifest row per partition, identical counts/checksums for
    identical data, updated lineage for changed data."""
    from ds_raster_pipelines_spark.streaming.incremental import IncrementalRun

    out = str(tmp_path / "run")

    def build(p, bump=0):
        return spark.range(p * 100, p * 100 + 50).select(
            F.col("id").alias("cell_id"), (F.col("id") * 2 + bump).alias("v")
        )

    run = IncrementalRun(spark, out)
    first = {p: run.commit_partition(p, build(p), cell_col="cell_id") for p in [0, 1, 2]}

    # identical re-delivery of the overlapping window [1, 2]
    for p in [1, 2]:
        again = run.commit_partition(p, build(p), cell_col="cell_id")
        assert again == first[p]  # counts + checksums exactly stable
    man = run.manifest().orderBy("part").toPandas()
    assert man["part"].tolist() == [0, 1, 2]  # no duplicate rows
    assert run.verify(cell_col="cell_id").count() == 0
    assert run.read().count() == 150
    assert run.pending_partitions([0, 1, 2, 3]) == [3]

    # corrected re-delivery: data changed -> manifest row must follow
    changed = run.commit_partition(1, build(1, bump=1), cell_col="cell_id")
    assert changed["n_rows"] == 50 and changed["checksum"] != first[1]["checksum"]
    man2 = run.manifest().orderBy("part").toPandas()
    assert man2["part"].tolist() == [0, 1, 2]
    assert run.verify(cell_col="cell_id").count() == 0


def test_multiband_cube_roundtrip(spark, tmp_path):
    """S13: SFED+MFED merge -> per-(doy, cell) multi-band baseline cube ->
    persist -> re-read must be BIT-exact, and the baseline-update step
    (anomaly vs baseline) must produce identical results from the re-read
    cube (reference persists and re-opens the cube at
    floodscan_pipeline.py:369-378,410)."""
    from ds_raster_pipelines_spark.operators.climatology import (
        band_merge,
        multiband_baseline,
    )

    n = 3000
    base = spark.range(0, n).select(
        (F.col("id") % 50).alias("cell_id"),
        F.date_add(F.lit("2000-01-01").cast("date"), (F.col("id") % 90).cast("int")).alias("date"),
        F.col("id").alias("i"),
    )
    sfed = base.select("cell_id", "date", (F.col("i") % 17 / 16.0).alias("sfed"))
    mfed = base.where(F.col("i") % 3 != 0).select(
        "cell_id", "date", (F.col("i") % 23 / 22.0).alias("mfed")
    )
    merged = band_merge(sfed, mfed, ["cell_id", "date"])
    cube = multiband_baseline(merged, ["sfed", "mfed"])
    path = str(tmp_path / "cube")
    cube.write.mode("overwrite").parquet(path)
    # the stored schema pinned to the plan's: dtype drift on re-read is an
    # error at plan time, not a silent cast
    reread = spark.read.schema(cube.schema).parquet(path).select(cube.columns)
    # file sources are always nullable in Spark; names + dtypes must match
    assert [(f.name, f.dataType) for f in reread.schema.fields] == [
        (f.name, f.dataType) for f in cube.schema.fields
    ]
    a = cube.orderBy("doy", "cell_id").toPandas()
    b = reread.orderBy("doy", "cell_id").toPandas()
    assert a.equals(b)  # bit-exact round-trip incl. float64 baselines

    # baseline-update usability: anomalies computed against the re-read
    # cube equal those against the in-memory cube
    def anomalies(c):
        return (
            merged.withColumn("doy", F.dayofyear("date"))
            .join(c, ["doy", "cell_id"])
            .select("cell_id", "date", (F.col("sfed") - F.col("sfed_baseline")).alias("anom"))
            .orderBy("cell_id", "date", "anom")  # total order: (cell_id, date) repeats
            .toPandas()
        )

    assert anomalies(cube).equals(anomalies(reread))


def test_checksum_order_insensitive(spark):
    from ds_raster_pipelines_spark.streaming.incremental import partition_manifest

    df1 = spark.range(0, 1000, 1, 1).select((F.col("id") % 4).alias("p"), F.col("id").alias("v"))
    df2 = spark.range(0, 1000, 1, 13).select((F.col("id") % 4).alias("p"), F.col("id").alias("v"))
    m1 = partition_manifest(df1, "p").orderBy("part").toPandas()
    m2 = partition_manifest(df2.repartition(7), "p").orderBy("part").toPandas()
    assert m1[["part", "n_rows", "checksum"]].equals(m2[["part", "n_rows", "checksum"]])


def test_multimodal_plumbing(spark):
    from ds_raster_pipelines_spark import avi
    from ds_raster_pipelines_spark.sources.multimodal import (
        audio_features,
        sample_frames,
        video_frames_for,
    )

    blobs = [bytes(range(256)) * 8, b"\x00\x01" * 500]
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": ["a", "b"], "bytes": blobs, "mod": ["wav", "wav"]})
    )
    # wav decode is real, so these raw streams fail the RIFF parse
    with pytest.raises(Exception, match="RIFF"):
        audio_features(media).collect()
    # the same bytes are a valid raw int16 stream
    pcm16 = media.withColumn("mod", F.lit("pcm16"))
    feats = audio_features(pcm16).orderBy("media_id").toPandas()
    assert feats["n_samples"].tolist() == [1024, 500]
    assert (feats["rms"] > 0).all()
    videos = [avi.encode_avi_dct(video_frames_for(i)) for i in (0, 3)]  # 8 and 11 frames
    clips = spark.createDataFrame(
        pd.DataFrame({"media_id": ["a", "b"], "bytes": videos, "mod": ["avi", "avi"]})
    )
    frames = sample_frames(clips, every_n=4).toPandas()
    assert frames.groupby("media_id")["frame_idx"].apply(list).to_dict() == {
        "a": [0, 1], "b": [0, 1, 2]
    }
    want = [p for v in videos for p in avi.frame_payloads(v, 4)]
    got = frames.sort_values(["media_id", "frame_idx"])["frame_bytes"].map(bytes).tolist()
    assert got == want


def test_vectorize_mask_golden(spark):
    from ds_raster_pipelines_spark import corpus
    from ds_raster_pipelines_spark.operators.raster import vectorize_mask

    ids = spark.range(0, 200).withColumnRenamed("id", "i")
    images = corpus.footprint_cols_for_images(corpus.images_from_ids(ids, partitions=0))
    out = vectorize_mask(images, threshold=100).toPandas().set_index("i")
    for i in out.index[:20]:
        c = int(i) % 97
        # column gradient px+c: masked cols are px >= 100-c
        first_px = max(0, 100 - c)
        assert first_px <= 63
        exp_cols = 64 - first_px
        assert out.loc[i, "n_px_masked"] == exp_cols * 64
    # tiles whose max (c+63) < 100 have no masked pixels → absent
    absent = [i for i in range(200) if (i % 97) + 63 < 100 and corpus.fmt_for(i) != "qnt"]
    assert all(i not in out.index for i in absent)


def test_wav_decode_real_path(spark):
    """Audio WAV decode is REAL (pure-numpy RIFF parser) — features over a
    synthesized 16-bit PCM WAV must match the analytic signal, through the
    actual decode_audio path (no fake codec)."""
    import numpy as np
    import pandas as pd

    from ds_raster_pipelines_spark.sources.multimodal import (
        audio_features,
        decode_wav,
        encode_wav,
    )

    t = np.arange(1600) / 16000.0
    sig = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    blob = encode_wav(sig)
    rt = decode_wav(blob)
    assert len(rt) == 1600
    assert np.abs(rt - sig).max() < 1e-3  # 16-bit quantization only
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": ["w1"], "bytes": [blob], "mod": ["wav"]}),
        schema="media_id string, bytes binary, mod string",
    )
    feats = audio_features(media).toPandas()
    assert feats.loc[0, "n_samples"] == 1600
    assert abs(feats.loc[0, "rms"] - 0.5 / np.sqrt(2)) < 1e-3
    assert abs(feats.loc[0, "peak"] - 0.5) < 1e-3
    # compressed codecs stay honestly stubbed
    import pytest as _pytest

    from ds_raster_pipelines_spark.sources.multimodal import decode_audio

    with _pytest.raises(NotImplementedError):
        decode_audio(b"\x00" * 16, "mp3")


def test_watermark_drops_late_events(spark, tmp_path):
    """Watermark semantics, for real: in append mode a window only emits
    once the watermark passes its end, and an event older than
    (max event time - delay) is DROPPED, not aggregated late."""
    import os

    import pandas as pd

    stage = str(tmp_path / "wm_in")
    os.makedirs(stage)
    schema = "ts timestamp, v int"

    def write(times):
        spark.createDataFrame(
            pd.DataFrame({"ts": pd.to_datetime(times), "v": [1] * len(times)}),
            schema=schema,
        ).write.mode("append").parquet(stage)

    write(["2020-01-01 10:15:00", "2020-01-01 11:05:00"])
    stream = (
        spark.readStream.schema(schema).parquet(stage).withWatermark("ts", "2 hours")
    )
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("win"))
        .count()
        .select(F.col("win.start").alias("win_start"), "count")
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName("wm_test").start()
    try:
        q.processAllAvailable()  # batch 1: watermark -> 11:05 - 2h = 09:05
        # batch 2: 08:30 is BEHIND the watermark (dropped); 14:00 advances
        # the watermark to 12:00, finalizing the 10:00 and 11:00 windows
        write(["2020-01-01 08:30:00", "2020-01-01 14:00:00"])
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM wm_test").toPandas()
    starts = set(out["win_start"].dt.strftime("%H:%M"))
    assert "10:00" in starts and "11:00" in starts  # finalized on watermark pass
    assert "08:00" not in starts  # late event dropped, never emitted


def test_manifest_swap_crash_recovery(spark, tmp_path):
    """A crash inside commit_partition's upsert swap must never leave the
    run without a readable manifest: if only the renamed-aside backup
    exists, manifest() recovers it and resume degrades to recomputing the
    in-flight partition (ADVICE r3: the old rmtree-then-rename swap had a
    window with NO manifest directory at all)."""
    import os
    import shutil

    from ds_raster_pipelines_spark.streaming.incremental import IncrementalRun

    out = str(tmp_path / "run")

    def build(p):
        return spark.range(p * 100, p * 100 + 50).select(
            F.col("id").alias("cell_id"), (F.col("id") * 2).alias("v")
        )

    run = IncrementalRun(spark, out)
    for p in [0, 1]:
        run.commit_partition(p, build(p), cell_col="cell_id")
    # simulate the mid-swap crash point: old manifest renamed aside, new
    # one never moved into place
    os.rename(run.manifest_dir, run.manifest_dir + "._old")
    run2 = IncrementalRun(spark, out)
    man = run2.manifest().orderBy("part").toPandas()
    assert list(man["part"]) == [0, 1]  # recovered from the backup
    assert run2.pending_partitions([0, 1, 2]) == [2]
    # a later successful commit clears any leftover backup
    run2.commit_partition(0, build(0), cell_col="cell_id")
    assert not os.path.exists(run2.manifest_dir + "._old")
    assert run2.verify(cell_col="cell_id").count() == 0
    shutil.rmtree(out, ignore_errors=True)


def test_cube_netcdf_sink_roundtrip(spark, tmp_path):
    """S13 over a GENUINE NetCDF container: the multi-band cube written as
    one classic NetCDF-3 blob per doy (sinks.write_cube_nc) and re-read
    (read_cube_nc) must be bit-exact — float64 baselines, int64 cell ids
    through the hi/lo NC_INT split, and counts all identical. Negative
    cell ids exercise the sign-safe split."""
    from ds_raster_pipelines_spark.operators.climatology import (
        band_merge,
        multiband_baseline,
    )
    from ds_raster_pipelines_spark.sinks import read_cube_nc, write_cube_nc

    n = 3000
    base = spark.range(0, n).select(
        # mix huge positive and negative int64 keys (beyond 2^53)
        F.when(
            F.col("id") % 2 == 0, (F.col("id") % 50) * F.lit(1 << 54) + F.col("id") % 7
        )
        .otherwise(-((F.col("id") % 50) * F.lit(1 << 53) + 11))
        .alias("cell_id"),
        F.date_add(F.lit("2000-01-01").cast("date"), (F.col("id") % 90).cast("int")).alias(
            "date"
        ),
        F.col("id").alias("i"),
    )
    sfed = base.select("cell_id", "date", (F.col("i") % 17 / 16.0).alias("sfed"))
    mfed = base.where(F.col("i") % 3 != 0).select(
        "cell_id", "date", (F.col("i") % 23 / 22.0).alias("mfed")
    )
    cube = multiband_baseline(band_merge(sfed, mfed, ["cell_id", "date"]), ["sfed", "mfed"])
    path = str(tmp_path / "cube_nc")
    write_cube_nc(cube, path)
    reread = read_cube_nc(spark, path)
    a = cube.orderBy("doy", "cell_id").toPandas()
    b = reread.select(cube.columns).orderBy("doy", "cell_id").toPandas()
    assert list(a.columns) == list(b.columns)
    import numpy as np

    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            # SQL NULL (avg over zero rows) legitimately round-trips as
            # IEEE NaN through the NetCDF double — bit-exact otherwise
            assert np.array_equal(av, bv, equal_nan=True), c
        else:
            assert av.tolist() == bv.tolist(), c

    # every blob is a real classic NetCDF file (magic + parseable header)
    from ds_raster_pipelines_spark import netcdf as nc_mod

    blobs = spark.read.parquet(path).collect()
    assert len(blobs) == 90  # one shard per doy
    f = nc_mod.decode_nc(bytes(blobs[0]["nc_bytes"]))
    assert f.attrs["bands"] == "sfed_baseline sfed_n mfed_baseline mfed_n"


def test_streaming_container_decode_twin(spark, tmp_path):
    """Container decode kernels are streaming-transparent: the same
    audio_stats_exact Arrow kernel over a readStream of WAV blobs (files
    arriving in two micro-batches) produces exactly the batch result —
    the shape a continuously-arriving raster/audio feed runs at scale."""
    import pandas as pd

    from ds_raster_pipelines_spark.sources.multimodal import (
        audio_stats_exact,
        build_wav_corpus,
    )

    stage = str(tmp_path / "wav_stage")

    def write(lo, hi):
        ids = spark.range(lo, hi).select(F.col("id").alias("i"))
        build_wav_corpus(ids).write.mode("append").parquet(stage)

    write(0, 30)
    batch_df = spark.read.parquet(stage)
    schema = batch_df.schema
    stream = spark.readStream.schema(schema).parquet(stage)
    q = (
        audio_stats_exact(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("wav_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        write(30, 50)  # second arrival
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM wav_stream").orderBy("i").toPandas()
    want = audio_stats_exact(spark.read.parquet(stage)).orderBy("i").toPandas()
    assert len(got) == 50
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))


def test_mulaw_companding_exact_on_grid_and_stable():
    """G.711 mu-law: grid levels round-trip bit-exactly; arbitrary int16
    re-quantizes to a FIXED point (decode(encode(q)) == q); WAV container
    with audio_format 7 + fact chunk decodes through the same chunk walk."""
    import numpy as np

    from ds_raster_pipelines_spark.sources import multimodal as mm

    rng = np.random.default_rng(0)
    e, m = rng.integers(0, 8, 500), rng.integers(0, 16, 500)
    sgn = np.where(rng.random(500) < 0.5, -1, 1)
    levels = (sgn * (((m * 8 + 132) << e) - 132)).astype(np.int16)
    assert np.array_equal(mm.ulaw_decode(mm.ulaw_encode(levels)), levels)

    x = rng.integers(-32768, 32768, 5000).astype(np.int16)
    q = mm.ulaw_decode(mm.ulaw_encode(x))
    assert np.array_equal(mm.ulaw_decode(mm.ulaw_encode(q)), q)
    # known ITU vectors: 0 -> 0xFF, -1 -> 0x7F (complemented codes)
    assert mm.ulaw_encode(np.array([0], np.int16))[0] == 0xFF
    assert mm.ulaw_encode(np.array([-1], np.int16))[0] == 0x7F
    assert mm.ulaw_decode(np.array([0xFF], np.uint8))[0] == 0

    blob = mm.encode_wav_mulaw(levels)
    got = np.rint(mm.decode_wav(blob) * 32768.0).astype(np.int16)
    assert np.array_equal(got, levels)


def test_ima_adpcm_wav_psnr_and_block_structure():
    """IMA ADPCM (audio_format 0x11): 4-bit nibbles, ~4x compression,
    sequential prediction; decode must track block headers and trim the
    fact-chunk sample count. Lossy -> PSNR gate, not equality."""
    import numpy as np

    from ds_raster_pipelines_spark.sources import multimodal as mm

    t = np.arange(2111)  # not a multiple of the block size
    sig = (9000 * np.sin(t / 25) + 2500 * np.sin(t / 6)).astype(np.int16)
    blob = mm.encode_wav_adpcm(sig)
    dec = np.rint(mm.decode_wav(blob) * 32768.0).astype(np.int32)
    assert len(dec) == len(sig)  # fact chunk trimmed the padding
    mse = float(np.mean((dec - sig.astype(np.int32)) ** 2))
    psnr = 10 * np.log10(32768.0 ** 2 / mse)
    assert psnr >= 40.0, psnr
    assert len(blob) < 2 * len(sig) * 0.35  # genuinely ~4x smaller (+ headers)
    # first sample of each block is stored verbatim in the header
    assert dec[0] == sig[0]


def test_snapshot_time_travel_and_expiry(spark, tmp_path):
    """Iceberg-style table semantics on the incremental runner: every
    commit appends a snapshot; read_at(sid) reconstructs the table state
    at that snapshot BIT-EXACTLY even after later commits replaced a
    partition; expire_snapshots drops only unreachable versions."""
    import pandas as pd

    from ds_raster_pipelines_spark.streaming.incremental import IncrementalRun

    run = IncrementalRun(spark, str(tmp_path / "tbl"))

    def pdf(vals):
        return spark.createDataFrame(pd.DataFrame({"v": vals}))

    run.commit_partition(1, pdf([10, 11]))      # snapshot 1
    run.commit_partition(2, pdf([20]))          # snapshot 2
    run.commit_partition(3, pdf([30, 31, 32]))  # snapshot 3
    assert run.current_snapshot_id() == 3
    snap3 = run.read_at(3).orderBy("part", "v").toPandas()

    # late re-delivery replaces partition 2 -> snapshot 4
    run.commit_partition(2, pdf([99, 98]))
    assert run.current_snapshot_id() == 4

    now = run.read_at(4).orderBy("part", "v").toPandas()
    assert sorted(now[now.part == 2].v.tolist()) == [98, 99]
    # time travel: the PRE-re-delivery state is still byte-reconstructable
    back = run.read_at(3).orderBy("part", "v").toPandas()
    assert back.equals(snap3)
    assert sorted(back[back.part == 2].v.tolist()) == [20]
    # current read() view matches the latest snapshot
    live = run.read().withColumn("part", F.col("part").cast("int"))
    assert sorted(r.v for r in live.where("part = 2").collect()) == [98, 99]

    # expiry below snapshot 4 drops the archived v2 of partition 2
    assert run.expire_snapshots(older_than_sid=4) == 1
    with pytest.raises(Exception):
        run.read_at(3).collect()  # below the horizon: archive gone
    assert run.read_at(4).count() == 7  # live reads unaffected
    # snapshot log remains the audit trail
    assert [s["snapshot_id"] for s in run.snapshots()] == [1, 2, 3, 4]


def test_zonal_refresh_incremental_no_rescan(spark, tmp_path):
    """Fold-then-merge zonal maintenance: (1) incremental == batch;
    (2) folded partitions are NEVER rescanned — proven by deleting the
    folded partitions' DATA and refreshing again (state alone must
    answer); (3) a crashed fold (partial dir without _SUCCESS) is
    rebuilt."""
    import shutil

    from pyspark.sql import functions as F

    from ds_raster_pipelines_spark import corpus
    from ds_raster_pipelines_spark.operators.raster import zonal_pixel_stats
    from ds_raster_pipelines_spark.streaming.incremental import (
        IncrementalRun,
        zonal_refresh,
    )

    images = corpus.footprint_cols_for_images(
        spark.read.parquet(corpus.materialized_images(spark, "/root/testdata/sf0.001"))
    )
    adm = corpus.admin_df(spark)
    run = IncrementalRun(spark, str(tmp_path / "run"))
    state = str(tmp_path / "state")
    for part in (0, 1):
        run.commit_partition(part, images.where(F.pmod(F.col("i"), F.lit(2)) == part))
    inc = {r["adm_id"]: tuple(r)[1:] for r in zonal_refresh(run, adm, 6, state).collect()}
    batch = {r["adm_id"]: tuple(r)[1:] for r in zonal_pixel_stats(images, adm, 6).collect()}
    assert inc == batch
    # crashed fold: a part dir without _SUCCESS must be rebuilt, not trusted
    shutil.rmtree(f"{state}/part=1/")
    import os

    os.makedirs(f"{state}/part=1")
    open(f"{state}/part=1/garbage.parquet", "w").write("")
    inc2 = {r["adm_id"]: tuple(r)[1:] for r in zonal_refresh(run, adm, 6, state).collect()}
    assert inc2 == batch
    # late re-delivery: re-committing a partition with DIFFERENT data must
    # invalidate its fold (checksum marker mismatch) and re-fold it
    run.commit_partition(
        1, images.where(F.pmod(F.col("i"), F.lit(2)) == 1).where(F.col("i") < 300)
    )
    part_tiles = spark.read.parquet(f"{run.data_dir}/part=0").unionByName(
        spark.read.parquet(f"{run.data_dir}/part=1")
    )
    redelivered = {
        r["adm_id"]: tuple(r)[1:]
        for r in zonal_pixel_stats(part_tiles, adm, 6).collect()
    }
    inc_r = {r["adm_id"]: tuple(r)[1:] for r in zonal_refresh(run, adm, 6, state).collect()}
    assert inc_r == redelivered and inc_r != batch
    # restore and re-fold for the no-rescan leg
    run.commit_partition(1, images.where(F.pmod(F.col("i"), F.lit(2)) == 1))
    zonal_refresh(run, adm, 6, state)
    # no-rescan: remove the DATA of both folded partitions — the merged
    # answer must come from state alone
    shutil.rmtree(run.data_dir)
    os.makedirs(run.data_dir)
    inc3 = {r["adm_id"]: tuple(r)[1:] for r in zonal_refresh(run, adm, 6, state).collect()}
    assert inc3 == batch
    # empty run: a fresh IncrementalRun with no commits yields an empty,
    # correctly-typed view (not a path error)
    empty = zonal_refresh(
        IncrementalRun(spark, str(tmp_path / "run2")), adm, 6, str(tmp_path / "state2")
    )
    assert empty.count() == 0 and empty.columns == ["adm_id", "px_count", "px_sum", "px_mean"]
