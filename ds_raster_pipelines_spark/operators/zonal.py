"""Zonal statistics — the flagship aggregation (SURVEY.md §2.4 A3).

Distributed form of the reference's per-admin clip→mean loop
(``/root/reference/examples/era5_cogs.md:204-224``) followed by the
stats↔geometry hash join (``:226``): one PIP join then one hash aggregate.
Partial aggregation (map-side combine) is native; the only shuffle is the
final groupBy on adm_id (32-ish keys — trivially small reduce side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zonal_stats(
    joined: DataFrame,
    value_col: str,
    keys: list[str] | None = None,
    round_dp: int | None = 6,
    fixed_scale: int | None = None,
) -> DataFrame:
    """Per-zone avg/min/max/sum/count of ``value_col``.

    ``fixed_scale`` accumulates sum/avg in integer fixed-point
    (sum(round(v*scale) as long) / scale): the aggregate is then exact and
    ORDER-INDEPENDENT by construction — bit-identical across engines and
    parallelism for any input, not just inputs whose values happen to be
    exact binary fractions. Pick scale = 1/resolution of the value domain
    (the flagship's tile means are multiples of 0.5 → scale 2; raw-double
    accumulation would only be deterministic here by luck of exactness).
    min/max are order-independent already and stay on the raw doubles.

    ``round_dp`` additionally quantizes the float outputs (BASELINE.md
    correctness gate: identical hashes at local[8] vs local[32]).
    """
    keys = keys or ["adm_id"]
    v = f"`{value_col}`"

    def r(c: str) -> str:
        return f"round({c}, {round_dp})" if round_dp is not None else c

    if fixed_scale is not None:
        iv = f"cast(sum(cast(round({v} * {fixed_scale}, 0) as bigint)) as double)"
        sum_expr = f"{iv} / {fixed_scale}"
        avg_expr = f"{iv} / ({fixed_scale} * count(1))"
    else:
        sum_expr = f"sum({v})"
        avg_expr = f"avg({v})"
    out = {
        "avg_value": r(avg_expr),
        "min_value": r(f"min({v})"),
        "max_value": r(f"max({v})"),
        "sum_value": r(sum_expr),
        "n_tiles": "count(1)",
    }
    # one F.expr per output column: a fixed few JVM round trips each
    return joined.groupBy(*keys).agg(*[F.expr(f"{e} AS {n}") for n, e in out.items()])


def zonal_stats_weighted(
    joined: DataFrame,
    value_col: str,
    weight_col: str,
    keys: list[str] | None = None,
    round_dp: int | None = 6,
    fixed_scale: int = 2,
) -> DataFrame:
    """Weighted per-zone mean: sum(w*v)/sum(w) — the population- or
    area-weighted zonal aggregate (the exposure-style consumption of the
    reference's zonal outputs). Weights must be integers (or pre-quantized
    to integers) and values quantize by ``fixed_scale``, so both
    accumulators are exact longs: order-independent, bit-identical across
    engines and parallelism — never accumulate a float product."""
    keys = keys or ["adm_id"]
    w = f"cast(`{weight_col}` as bigint)"
    iv = f"cast(round(`{value_col}` * {fixed_scale}, 0) as bigint)"
    wavg = f"cast(sum({w} * {iv}) as double) / ({fixed_scale} * sum({w}))"
    if round_dp is not None:
        wavg = f"round({wavg}, {round_dp})"
    return joined.groupBy(*keys).agg(
        F.expr(f"{wavg} AS wavg_value"),
        F.expr(f"sum({w}) AS sum_weight"),
        F.expr("count(1) AS n_tiles"),
    )
