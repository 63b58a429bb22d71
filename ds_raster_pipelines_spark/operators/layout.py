"""Z-order (Morton) data-layout clustering — the warehouse-side locality
optimization (Iceberg sort orders / Databricks OPTIMIZE ZORDER) for the
engine's spatial keys.

Why it exists at 100 TB: file skipping works off per-file min/max column
stats. Writing tiles in row-major cell order gives a 2-D bbox query
``height`` distinct file ranges; writing in Morton order folds both axes
into ONE key whose ranges align with axis-aligned rectangles, so the
same bbox touches a handful of files. The cluster key is one SQL text
(``zorder_sql``, run by Spark and DuckDB alike: JVM codegen, no UDF) with
a numpy twin, in the grid.py tradition.

Reference analog: none (the reference writes one COG per date); this is
the table-layout discipline its Databricks production jobs would rely
on (reference README.md:44) made explicit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..grid import _sql_text

# magic-number bit spread: 16-bit value -> even bit positions of 32 bits
_SPREAD = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def zorder_key(ix: str | Column, iy: str | Column) -> Column:
    """Morton-interleave two 16-bit grid indices into one cluster key: one
    ``F.expr`` over :func:`zorder_sql`. ``ix``/``iy`` are Spark-SQL text,
    as in :func:`grid.encode_col` (a plain ``F.col(name)`` is taken as its
    name)."""
    return F.expr(zorder_sql(_sql_text(ix), _sql_text(iy)))


def zorder_np(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    x = np.asarray(ix, np.int64)
    y = np.asarray(iy, np.int64)
    for sh, mask in _SPREAD:
        x = (x | (x << sh)) & mask
        y = (y | (y << sh)) & mask
    return x | (y << 1)


def _spread_sql(e: str) -> str:
    for sh, mask in _SPREAD:
        e = f"((({e}) | (({e}) << {sh})) & {mask})"
    return e


def zorder_sql(ix_expr: str, iy_expr: str) -> str:
    """The Morton key as SQL text, valid in Spark SQL and DuckDB alike."""
    return f"({_spread_sql(f'cast({ix_expr} as bigint)')} | ({_spread_sql(f'cast({iy_expr} as bigint)')} << 1))"


# ------------------------------------------------ bucketed co-location ---


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 16
) -> None:
    """Materialize ``df`` as a Hive-bucketed, per-bucket-sorted parquet
    table: every row lands in bucket ``hash(key) % n_buckets`` and each
    bucket file is sorted by ``key``.

    This is the warehouse-side answer to repeated big⨝big joins on the
    same key (the brief's "co-locate joins via bucketing"): two tables
    bucketed the same way sort-merge-join with ZERO Exchange and ZERO
    per-query Sort — the shuffle is paid once at write time and amortized
    over every subsequent join/agg on that key. At 100 TB the bucket
    count is sized so one bucket ≈ one task's memory budget; here 16
    keeps tiny test corpora honest (multiple rows per bucket)."""
    import os
    import shutil

    spark = df.sparkSession
    # the metastore (in-memory/derby) is per-process while the warehouse
    # dir persists: drop BOTH, or a fresh session trips over the old
    # location (LOCATION_ALREADY_EXISTS)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file://")
    wh = wh.removeprefix("file:")  # bare file:/path URIs (no authority)
    shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)
    # one file per bucket: repartition on the SAME hash the bucketing
    # uses, so each task owns exactly one bucket. Spark elides the
    # per-query Sort only when every bucket is a single sorted file —
    # multi-file buckets would re-sort on every read, silently paying
    # back the layout's whole point.
    df.repartition(n_buckets, F.col(key)).write.bucketBy(n_buckets, key).sortBy(
        key
    ).format("parquet").saveAsTable(table)


def bucketed_join(
    spark, left_table: str, right_table: str, key_l: str, key_r: str
) -> DataFrame:
    """Join two same-spec bucketed tables on their bucket keys via
    sort-merge (hinted, so a small side is NOT broadcast — the point is
    the co-located plan shape, which a broadcast would mask). With
    matching bucket specs Spark's bucketed scan feeds the SMJ directly:
    ``.explain`` shows no Exchange and no Sort on either side."""
    # Spark ≥3.0 ignores bucket sort metadata on read unless
    # spark.sql.legacy.bucketedTableScan.outputOrdering is set
    # (multi-file buckets would need a merge); write_bucketed guarantees
    # the single-sorted-file-per-bucket precondition. The conf is set at
    # SESSION CREATION (session.py) with the other engine confs — setting
    # it here leaked a legacy-behavior conf into every later query on the
    # shared session (ADVICE r7).
    left = spark.table(left_table).hint("merge")
    right = spark.table(right_table).hint("merge")
    return left.join(right, left[key_l] == right[key_r])
