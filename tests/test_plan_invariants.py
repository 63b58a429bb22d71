"""Global physical-plan invariants over EVERY registered query.

PLANS.md claims two engine-wide invariants; this test enforces them for
the whole registry instead of a sampled few, so a future query cannot
regress them silently:

* no CartesianProduct — the only sanctioned exception is the labeled
  exact-ANN baseline (ann_cosine_topk), which exists as the recall
  yardstick for the bucketed paths;
* at most ONE Python stage (MapInArrow / MapInPandas / EvalPython) —
  bytes cross the JVM<->Python boundary exactly once per query (chaining
  byte-carrying kernels measured >10x the kernel cost, BASELINE.md);
* no "Cannot infer the eval type" warning while building the plan — a
  Python UDF whose type hints PySpark cannot read warns on every build.

Plans are BUILT, never executed (dedup_components is skipped: its
iterative construction runs jobs eagerly by design — its plan shape is
asserted per-round in the dedup suite).
"""

from __future__ import annotations

import re
import warnings

import pytest

SF = "/root/testdata/sf0.001"

SANCTIONED_CARTESIAN = {"ann_cosine_topk"}
CONSTRUCTION_EXECUTES = {
    "dedup_components",
    "multiband_cube_nc_roundtrip",
    "delete_merge_on_read",
    "bucketed_colocated_join",  # one-time bucketed-table writes
    "incremental_zonal_refresh",  # commits + state folds
}
# The fully DISTRIBUTED PIP plan has exactly two Arrow stages by design —
# geometry-parse cover over the POLYGON table + ray-cast refine over the
# CANDIDATE table (operators/pip.py pip_join_distributed docstring). They
# run over different, small-row relations: no byte column crosses the
# JVM<->Python boundary twice, which is what the 1-stage invariant
# protects (chaining byte-carrying kernels measured >10x the kernel cost).
SANCTIONED_TWO_ARROW = {"pip_zonal_holed_distributed"}

_PY_STAGE = re.compile(r"MapInArrow|MapInPandas|FlatMapGroupsInPandas|EvalPython")


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_every_query_plan_holds_invariants(spark):
    import __spark_entry__ as m

    failures = []
    for name, fn in m.queries().items():
        if name in CONSTRUCTION_EXECUTES:
            continue
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            plan = _physical(fn(spark, SF))
        if any("Cannot infer the eval type" in str(w.message) for w in caught):
            failures.append(f"{name}: Cannot infer the eval type from type hints")
        if "CartesianProduct" in plan and name not in SANCTIONED_CARTESIAN:
            failures.append(f"{name}: CartesianProduct")
        # count DISTINCT Python-stage nodes: a persisted relation's cached
        # plan is printed once per reference (e.g. band_sig's signature
        # kernel under 4 InMemoryRelation occurrences) but executes once —
        # identical node text (same expression ids) collapses; genuinely
        # separate stages carry different expression ids and still count.
        stages = {
            line.lstrip(" :+-*")
            for line in plan.splitlines()
            if _PY_STAGE.search(line)
        }
        n_py = len(stages)
        if n_py > (2 if name in SANCTIONED_TWO_ARROW else 1):
            failures.append(f"{name}: {n_py} Python stages")
    assert not failures, failures


def test_flagship_scan_is_pruned(spark):
    """The flagship scan must carry the pcell partition-prune filter and a
    pruned ReadSchema (bytes only reach the one decode kernel)."""
    from ds_raster_pipelines_spark import corpus
    from ds_raster_pipelines_spark.plans.flagship import flagship

    images = spark.read.parquet(corpus.materialized_images(spark, SF))
    plan = _physical(flagship(images, corpus.admin_df(spark)))
    assert re.search(r"PushedFilters: \[.*pcell", plan) or "pcell#" in plan
    assert plan.count("MapInArrow") == 1
