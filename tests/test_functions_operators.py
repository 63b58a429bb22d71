"""Golden tests for scalar functions and temporal operators — modeled on
the reference's parametrized unit tests (tests/test_leadtime_utils.py,
tests/test_date_utils.py)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ds_raster_pipelines_spark.functions import scalars as S


@pytest.fixture(scope="module")
def sdf(spark):
    return spark.range(1)


def _one(df, col):
    return df.select(col.alias("v")).collect()[0]["v"]


# --- F10 leadtime arithmetic: golden pairs mirror the reference's
# tests/test_leadtime_utils.py:11-64 ---


@pytest.mark.parametrize(
    "issued,valid,lead",
    [(1, 1, 0), (1, 4, 3), (11, 2, 3), (12, 1, 1), (6, 5, 11)],
)
def test_to_leadtime(sdf, issued, valid, lead):
    assert _one(sdf, S.to_leadtime(F.lit(issued), F.lit(valid))) == lead


@pytest.mark.parametrize(
    "month,lead,fc",
    [(1, 0, 1), (1, 3, 4), (11, 3, 2), (12, 1, 1), (6, 11, 5)],
)
def test_to_fc_month(sdf, month, lead, fc):
    assert _one(sdf, S.to_fc_month(F.lit(month), F.lit(lead))) == fc


@pytest.mark.parametrize(
    "month,year,lead,fc_year",
    [(1, 2020, 0, 2020), (11, 2020, 3, 2021), (12, 2020, 1, 2021), (6, 2020, 5, 2020)],
)
def test_to_fc_year(sdf, month, year, lead, fc_year):
    assert _one(sdf, S.to_fc_year(F.lit(month), F.lit(year), F.lit(lead))) == fc_year


@pytest.mark.parametrize(
    "start,n,want",
    [(1, 3, [1, 2, 3]), (11, 4, [11, 12, 1, 2]), (12, 1, [12])],
)
def test_leadtime_months(sdf, start, n, want):
    assert _one(sdf, S.leadtime_months_col(F.lit(start), n)) == want


# --- F1/F2 ---


@pytest.mark.parametrize("lon,want", [(190.0, -170.0), (-190.0, 170.0), (0.0, 0.0), (359.75, -0.25)])
def test_lon_normalize(sdf, lon, want):
    assert _one(sdf, S.lon_normalize(F.lit(lon))) == want


# --- F7: the reference's 6-filename extraction corpus
# (tests/test_date_utils.py:73-97 + filename grammars) ---


@pytest.mark.parametrize(
    "fname,date,prefix",
    [
        ("precip_reanalysis_v2020-06-01.tif", "2020-06-01", "v"),
        ("daily_precip_em_i1990-12-01_lt6.tif", "1990-12-01", "i"),
        ("aer_mfed_area_300s_20231129_v05r01.tif", "2023-11-29", None),
        ("imerg-v7-imerg-daily-late-2024-01-02.tif", "2024-01-02", "-"),
        ("aer_floodscan_sfed_area_flooded_fraction_africa_90days_2024-02-26.zip", "2024-02-26", "_"),
    ],
)
def test_date_from_filename(spark, fname, date, prefix):
    df = spark.createDataFrame(pd.DataFrame({"f": [fname]}))
    d, p = S.date_from_filename(F.col("f"))
    row = df.select(d.alias("d"), p.alias("p")).collect()[0]
    assert str(row["d"]) == date
    assert row["p"] == prefix


# --- F9 date ranges: exact counts mirror tests/test_date_utils.py:10-51 ---


def test_date_range_counts(spark):
    # golden lengths from the reference corpus (tests/test_date_utils.py:18,25)
    assert S.date_range_df(spark, "1998-01-01", "2024-01-01", "D").count() == 9497
    assert S.date_range_df(spark, "2004-01-01", "2024-01-01", "D").count() == 7306
    assert S.date_range_df(spark, "2020-01-01", "2020-12-01", "M").count() == 12
    assert S.date_range_df(spark, "1981-01-01", "2024-01-01", "Y").count() == 44


# --- coverage operators ---


def test_missing_dates_and_coverage(spark):
    from ds_raster_pipelines_spark.operators.coverage import coverage_pct, missing_dates

    expected = S.date_range_df(spark, "2020-01-01", "2020-06-01", "M")
    existing = spark.createDataFrame(
        pd.DataFrame({"date": pd.to_datetime(["2020-01-01", "2020-03-01", "2020-06-01"]).date})
    )
    missing = [str(r["date"]) for r in missing_dates(expected, existing).collect()]
    assert missing == ["2020-02-01", "2020-04-01", "2020-05-01"]
    cov = coverage_pct(expected, existing).collect()[0]
    assert cov["n_expected"] == 6 and cov["n_present"] == 3 and cov["coverage_pct"] == 50.0


def test_validation_report_and_gate(spark):
    from ds_raster_pipelines_spark.operators.validate import (
        assert_schema,
        validated_write_gate,
        validation_report,
    )

    good = spark.createDataFrame(pd.DataFrame({"lon_c": [0.0, 10.0], "lat_c": [0.0, -20.0]}))
    bad = spark.createDataFrame(pd.DataFrame({"lon_c": [0.0, 200.0], "lat_c": [95.0, -20.0]}))
    assert validated_write_gate(good, validation_report(good))
    rep = validation_report(bad).collect()[0]
    assert rep["v1_lon_oob"] == 1 and rep["v1_lat_oob"] == 1
    assert not validated_write_gate(bad, validation_report(bad))
    assert assert_schema(good, {"lon_c": "double", "missing": "int"}) == ["missing column missing"]


def test_metadata_completeness_runtime_gate(spark):
    """V4: present-but-empty attrs must be caught at runtime (the static
    schema gate cannot see them)."""
    import pandas as pd

    from ds_raster_pipelines_spark.operators.validate import metadata_completeness

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "units": ["mm", "", "mm"],
                "source": ["s", "s", None],
                "version": ["v1", "v1", "v1"],
            }
        ),
        schema="units string, source string, version string",
    )
    out = metadata_completeness(df).toPandas().set_index("field")
    assert out.loc["units", "n_missing"] == 1    # empty string
    assert out.loc["source", "n_missing"] == 1   # null
    assert out.loc["version", "n_missing"] == 0
    assert (out["n_rows"] == 3).all()


def test_request_spec_pushdown_and_expected(spark):
    """S7: the declarative request compiles to predicates Catalyst pushes
    into the parquet scan (PushedFilters on the raw date column), and to
    the expected-partition grid the backfill anti-join consumes."""
    from pyspark.sql import functions as F

    from ds_raster_pipelines_spark.plans.requests import (
        RequestSpec,
        expected_partitions,
        pruned_scan,
    )

    spec = RequestSpec("1996-01-01", "1996-03-31", leadtimes=(1, 2))
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    pr = pruned_scan(
        o.withColumn("date", F.to_date("o_orderdate")), spec, date_col="date"
    )
    plan = pr._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "o_orderdate" in plan.split("PushedFilters")[1][:200]
    exp = expected_partitions(spark, spec).toPandas()
    assert len(exp) == 91 * 2  # 91 days x 2 leadtimes
    assert set(exp["leadtime"]) == {1, 2}


def test_asof_join_golden(spark):
    """asof_join: latest-at-or-before semantics, <= at equal timestamps,
    inner drops unmatched probes, left keeps them NULL; plan has no
    cartesian (tag-union + window, one shuffle)."""
    import pandas as pd

    from ds_raster_pipelines_spark.operators.timeseries import asof_join

    build = spark.createDataFrame(
        pd.DataFrame(
            {"k": [1, 1, 2], "rts": pd.to_datetime(["2020-01-01 00:00:10",
                                                    "2020-01-01 00:00:20",
                                                    "2020-01-01 00:00:05"]),
             "v": ["a", "b", "c"]}
        )
    )
    probe = spark.createDataFrame(
        pd.DataFrame(
            {"k": [1, 1, 1, 2], "ts": pd.to_datetime(["2020-01-01 00:00:15",
                                                      "2020-01-01 00:00:20",
                                                      "2020-01-01 00:00:25",
                                                      "2020-01-01 00:00:04"]),
             "pid": [100, 101, 102, 103]}
        )
    )
    out = asof_join(probe, build, on=["k"], probe_ts="ts", build_ts="rts").toPandas()
    got = out.set_index("pid")["v"].to_dict()
    assert got == {100: "a", 101: "b", 102: "b"}  # 101: equal ts -> '<=' wins
    left = asof_join(probe, build, on=["k"], probe_ts="ts", build_ts="rts", how="left")
    lp = left.toPandas().set_index("pid")["v"]
    assert lp[103] is None or pd.isna(lp[103])
    plan = left._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_bucketed_join_is_shuffle_free(spark):
    """Bucketing for co-located joins: two tables bucketed+sorted on the
    join key join WITHOUT any Exchange — the pre-shuffled layout big
    fact-to-fact joins need at 100 TB (broadcast only fits small dims)."""
    from pyspark.sql import functions as F

    import shutil

    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    # a fresh derby metastore may not know about stale warehouse dirs
    for t in ("bkt_a", "bkt_b"):
        shutil.rmtree(f"/tmp/spark_graft_warehouse/{t}", ignore_errors=True)
    a = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(0, 10000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_a")
    b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_b")
    # small test tables would auto-broadcast; at fact-to-fact scale they
    # would not — force the SMJ path the bucketing exists for
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: zero shuffle
        assert joined.count() == 10000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_asof_join_matches_bruteforce(spark):
    """Randomized as-of join vs a per-row brute-force reference: duplicate
    keys, probe keys missing from the build side, and build rows whose
    VALUE is legitimately NULL (the inner-mode match flag must keep those
    probes — a matched NULL is not an unmatched probe)."""
    import numpy as np
    import pandas as pd

    from ds_raster_pipelines_spark.operators.timeseries import asof_join

    rng = np.random.default_rng(7)
    for trial in range(3):
        n_b, n_p = 40, 120
        base = pd.Timestamp("2024-01-01")
        b = pd.DataFrame(
            {
                "k": rng.integers(0, 5, n_b),
                "ts": base + pd.to_timedelta(rng.integers(0, 1000, n_b), unit="m"),
                "v": rng.integers(0, 99, n_b).astype("int64"),
            }
        ).drop_duplicates(["k", "ts"])
        p = pd.DataFrame(
            {
                "k": rng.integers(0, 7, n_p),  # keys 5,6 never in build
                "ts": base + pd.to_timedelta(rng.integers(0, 1000, n_p), unit="m"),
                "pid": np.arange(n_p, dtype="int64"),
            }
        )
        # NULLs injected JVM-side (pandas NaN would arrive as NaN doubles,
        # which last(ignorenulls) treats as values, not nulls)
        bdf = spark.createDataFrame(b, "k long, ts timestamp, v long").withColumn(
            "v", F.when(F.col("v") < 20, None).otherwise(F.col("v"))
        )
        pdf_ = spark.createDataFrame(p, "k long, ts timestamp, pid long")
        b_ref = b.assign(v=b.v.where(b.v >= 20, other=pd.NA))

        def brute(row):
            c = b_ref[(b_ref.k == row.k) & (b_ref.ts <= row.ts)]
            if c.empty:
                return (False, pd.NA)
            return (True, c.loc[c.ts.idxmax(), "v"])

        expect = p.apply(brute, axis=1, result_type="expand")
        expect.columns = ["matched", "v"]

        inner = (
            asof_join(pdf_, bdf, on=["k"], probe_ts="ts", build_ts="ts", values=["v"])
            .toPandas()
            .set_index("pid")
        )
        left = (
            asof_join(pdf_, bdf, on=["k"], probe_ts="ts", build_ts="ts", values=["v"], how="left")
            .toPandas()
            .set_index("pid")
        )
        assert sorted(inner.index) == sorted(p.pid[expect.matched].tolist()), trial
        assert len(left) == n_p
        for pid in p.pid:
            matched, v = expect.loc[pid, "matched"], expect.loc[pid, "v"]
            got = left.loc[pid, "v"]
            if not matched or pd.isna(v):
                assert pd.isna(got), (trial, pid)
                if matched:  # matched build row with NULL value: inner KEEPS it
                    assert pid in inner.index, (trial, pid)
            else:
                assert got == v, (trial, pid)


def test_webmercator_reprojection_properties():
    """Cross-CRS warp kernel: monotone row map, brute-force agreement,
    domain guard."""
    import numpy as np
    import pytest

    from ds_raster_pipelines_spark.operators import raster

    for lat_top in (85.0, 45.0, 10.0, 0.125, -30.0, -84.8):
        u = raster.webmercator_row_map(lat_top, 0.25, 64, 64)
        assert np.all(np.diff(u) > 0)  # strictly south-increasing
        assert 0.0 <= u[0] and u[-1] <= 63.0
        # Mercator stretches poleward: the half of the tile nearer the
        # equator is sampled denser than the poleward half
        mid = abs(u[32] - 31.5)
        assert mid < 1.0  # map stays near-linear at tile scale

    # brute-force per-pixel reimplementation must agree exactly
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(64, 64), dtype=np.uint8)
    lat_top = 52.25
    got = raster.reproject_webmercator(px, lat_top)
    u = raster.webmercator_row_map(lat_top, 0.25, 64, 64)
    uq = np.rint(u * 256) / 256
    brute = np.empty((64, 64))
    for r in range(64):
        lo = int(np.floor(uq[r]))
        hi = min(lo + 1, 63)
        f = uq[r] - lo
        for x in range(64):
            brute[r, x] = px[lo, x] + (float(px[hi, x]) - px[lo, x]) * f
    assert np.array_equal(got, brute)

    # domain guard: poleward of the Web-Mercator clip raises
    with pytest.raises(ValueError, match="Web-Mercator domain"):
        raster.webmercator_row_map(89.0, 0.25, 64, 64)
    with pytest.raises(ValueError, match="Web-Mercator domain"):
        raster.webmercator_row_map(-85.0, 0.25, 64, 64)


def test_decode_wav_multichannel_mulaw_averages():
    """Stereo mu-law WAV: channels deinterleaved and averaged, matching
    the PCM path's documented contract."""
    import struct

    import numpy as np

    from ds_raster_pipelines_spark.sources import multimodal as mm

    left = mm.mulaw_samples_for(3)
    right = mm.mulaw_samples_for(3)  # identical channels -> mean == mono
    inter = np.empty(2 * len(left), dtype="<i2")
    inter[0::2], inter[1::2] = left, right
    codes = mm.ulaw_encode(inter).tobytes()
    fmt = struct.pack("<HHIIHHH", 7, 2, 8000, 16000, 2, 8, 0)
    blob = mm._riff_wave(
        [(b"fmt ", fmt), (b"fact", struct.pack("<I", len(left))), (b"data", codes)]
    )
    got = mm.decode_wav(blob)
    mono = mm.decode_wav(mm.encode_wav_mulaw(left))
    assert len(got) == len(mono)
    assert np.array_equal(got, mono)


def test_bucketed_join_is_shuffle_and_sort_free(spark):
    """Two same-spec bucketed tables must sort-merge-join with ZERO
    Exchange and ZERO per-query Sort — the layout pays the shuffle once
    at write time (operators/layout.write_bucketed). A broadcast would
    also show no Exchange, so the join is merge-hinted and the plan must
    actually be a SortMergeJoin over bucketed scans."""
    import pandas as pd

    from ds_raster_pipelines_spark.operators.layout import (
        bucketed_join,
        write_bucketed,
    )

    n = 5000
    left = spark.createDataFrame(
        pd.DataFrame({"k": [i % 97 for i in range(n)], "v": list(range(n))})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k2": list(range(97)), "w": [i * 10 for i in range(97)]})
    )
    write_bucketed(left, "t_bkt_left", "k", n_buckets=8)
    write_bucketed(right, "t_bkt_right", "k2", n_buckets=8)
    joined = bucketed_join(spark, "t_bkt_left", "t_bkt_right", "k", "k2")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert "Sort " not in plan.replace("SortMergeJoin", ""), plan
    # result parity with the plain join
    got = sorted((r["k"], r["v"], r["w"]) for r in joined.collect())
    exp = sorted(
        (r["k"], r["v"], r["w"])
        for r in left.join(right, left["k"] == right["k2"]).collect()
    )
    assert got == exp


def test_bilinear_resample_stacked_equals_per_tile():
    """r8 parity gate: the chunked stacked interp in
    resample_bilinear_stats is bit-identical to per-tile
    bilinear_resample (the lerp is elementwise; batching only adds a
    leading axis), including the quantized-mean rounding."""
    import numpy as np

    from ds_raster_pipelines_spark.operators.raster import bilinear_resample

    rng = np.random.RandomState(5)
    tiles = [rng.randint(0, 256, (64, 64)).astype(np.uint8) for _ in range(40)]
    ref = np.array(
        [int(round(bilinear_resample(t, 48, 48).mean() * 1_000_000)) for t in tiles]
    )
    stack = np.stack(tiles)
    means = bilinear_resample(stack, 48, 48).reshape(len(tiles), -1).mean(axis=1)
    got = np.rint(means * 1_000_000).astype(np.int64)
    assert np.array_equal(ref, got)
    # 2-D public API unchanged
    one = bilinear_resample(tiles[0], 48, 48)
    assert one.shape == (48, 48)
    assert np.array_equal(one, bilinear_resample(stack, 48, 48)[0])
