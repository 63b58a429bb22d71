"""Temporal-coverage reconciliation (SURVEY J4/A6/A7/I2).

Distributed form of the reference's ``check_coverage`` / ``_get_missing_dates``
(``/root/reference/src/pipelines/pipeline.py:154-213``): an expected-dates
series (declarative coverage spec) anti-joined against the distinct dates
present in the output table. This anti-join is also the resume driver of the
checkpoint layer (streaming/incremental.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def missing_dates(expected: DataFrame, existing: DataFrame, date_col: str = "date") -> DataFrame:
    """J4: expected LEFT ANTI existing (pipeline.py:210)."""
    return expected.join(existing, date_col, "left_anti").orderBy(date_col)


def coverage_pct(expected: DataFrame, existing: DataFrame, date_col: str = "date") -> DataFrame:
    """A7: percentage of expected dates present (pipeline.py:211).
    Expressed as one aggregate over a left join — a single pass."""
    e = existing.select(F.col(date_col).alias(date_col)).distinct().withColumn("_present", F.lit(1))
    return (
        expected.join(e, date_col, "left")
        .agg(
            F.count(F.lit(1)).alias("n_expected"),
            F.sum(F.coalesce(F.col("_present"), F.lit(0))).alias("n_present"),
        )
        .select(
            "n_expected",
            "n_present",
            (F.col("n_present") * 100.0 / F.col("n_expected")).alias("coverage_pct"),
        )
    )


def grace_trim(expected: DataFrame, date_col: str = "date", periods: int = 2) -> DataFrame:
    """The reference drops the trailing ``[:-2]`` periods (pipeline.py:207)
    as a late-data grace window. Deterministic predicate form: keep dates
    strictly below the (periods)-th-from-max expected date."""
    top = expected.orderBy(F.col(date_col).desc()).limit(periods).agg(F.min(date_col).alias("_cut"))
    return expected.join(F.broadcast(top), F.col(date_col) < F.col("_cut")).drop("_cut")
