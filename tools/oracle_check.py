"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB over the same parquet tables, then compares row count,
column names, and an order-insensitive value comparison (columns sorted by
name, rows sorted, exact match for ints/strings, tight tolerance report
for floats). Usage:

    python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
            try:
                df[c] = df[c].dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _dtype_class(dt) -> str:
    """Coarse dtype class for driver-hash prediction: the driver's value
    hash is rendering-sensitive (int 123 vs float 123.0 vs Decimal('123')
    hash differently), so any cross-class mismatch between the Spark and
    DuckDB pandas frames is a failure even when values compare equal.
    Round-1 lesson (ADVICE.md): DuckDB types uncast SUM(BIGINT) as HUGEINT,
    which lands in pandas as float64/object while Spark gives int64."""
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    return "object"


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(sdf.columns) != sorted(odf.columns):
        errs.append(f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return errs
    if len(sdf) != len(odf):
        errs.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
        return errs
    import datetime

    for c in sorted(sdf.columns):
        sc, oc = _dtype_class(sdf[c].dtype), _dtype_class(odf[c].dtype)
        # Spark DATE lands in pandas as object(datetime.date) while DuckDB
        # gives datetime64 — the driver's hash treats these as equal
        # (trivial_aggs passed r01 with exactly this pairing), so allow it.
        if {sc, oc} == {"object", "datetime"}:
            objcol = sdf[c] if sc == "object" else odf[c]
            if len(objcol) and isinstance(objcol.iloc[0], (datetime.date, datetime.datetime)):
                continue
        if sc != oc:
            errs.append(
                f"col {c}: dtype class mismatch spark={sdf[c].dtype}({sc}) "
                f"oracle={odf[c].dtype}({oc}) — driver hash would differ"
            )
        elif sc == "object" and len(odf):
            st = type(sdf[c].iloc[0]).__name__ if len(sdf) else "?"
            ot = type(odf[c].iloc[0]).__name__
            if st != ot and {st, ot} != {"str", "str"}:
                errs.append(f"col {c}: object payload types differ spark={st} oracle={ot}")
    if errs:
        return errs
    s, o = normalize(sdf), normalize(odf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            a = sv.to_numpy(np.float64)
            b = ov.to_numpy(np.float64)
            exact = np.array_equal(a, b, equal_nan=True)
            if not exact:
                both = np.isfinite(a) & np.isfinite(b)
                diff = np.abs(a[both] - b[both])
                errs.append(
                    f"col {c}: NOT bit-exact; max abs diff {diff.max() if diff.size else 'nan'}"
                    f" ({int((~np.isclose(a, b, rtol=1e-9, atol=1e-9, equal_nan=True)).sum())} rows beyond 1e-9)"
                )
        else:
            neq = sv.astype(str).to_numpy() != ov.astype(str).to_numpy()
            if neq.any():
                k = int(np.argmax(neq))
                errs.append(f"col {c}: {int(neq.sum())} mismatches, first at row {k}: "
                            f"spark={sv.iloc[k]!r} oracle={ov.iloc[k]!r}")
    return errs


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from ds_raster_pipelines_spark.session import get_spark

    qs = entry_mod.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print(f"not registered: {', '.join(unknown)}", file=sys.stderr)
        return 2
    run = [name for name in qs if not only or name in only]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark("oracle_check", cpus=cpus, shuffle_partitions=cpus)
    con = duck_con(sf_dir)
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name in run:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows={len(sdf)} (rows-only, no oracle) [{time.time()-t0:.1f}s]")
            if len(sdf) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        errs = compare(name, sdf, odf)
        if errs:
            failures += 1
            print(f"FAIL {name}: rows={len(sdf)}")
            for e in errs:
                print(f"     {e}")
        else:
            print(f"ok   {name}: rows={len(sdf)} MATCH [{time.time()-t0:.1f}s]")
    print(f"\n{failures} failures / {len(run)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
