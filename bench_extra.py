"""Per-query isolation bench (guide §1.4) — NOT the driver's harness.

bench.py is frozen for measurement; this file exists so optimization work
can time individual queries with the noop sink, capture
``.explain("formatted")`` plans, and compare before/after without running
the whole suite.  Usage:

    python bench_extra.py --queries embedding_near_dup,semdedup_prune \
        [--sf-dir /root/testdata/sf0.1] [--reps 3] \
        [--explain-dir plans/r08 --explain-suffix before]

Prints one JSON line per query: {"query": ..., "samples": [...], "min": ...}.
Timing methodology matches bench.py: warm corpus materialization first
(construction outside the timer except for iterative plans), then
min-of-N noop-sink materializations.
"""

from __future__ import annotations

import argparse
import json
import os
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

ITERATIVE_QUERIES = {"dedup_components"}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--explain-suffix", default="before")
    ap.add_argument("--no-time", action="store_true", help="explain only")
    args = ap.parse_args()

    from ds_raster_pipelines_spark.session import get_spark
    import __spark_entry__ as entry_mod

    # cores: $SPARK_GRAFT_CPUS, else every core of the host (session.get_spark)
    spark = get_spark("bench_extra")
    qs = entry_mod.queries()
    names = [n.strip() for n in args.queries.split(",") if n.strip()]

    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra: {name} (warm)")
        df = qs[name](args.sf_dir and spark, args.sf_dir)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                f"{args.explain_dir}/{name}_{args.explain_suffix}.txt", "w"
            ) as fh:
                fh.write(plan)
        if args.no_time:
            print(json.dumps({"query": name, "explained": True}))
            continue
        samples = []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"bench_extra: {name} rep{rep}")
            if name in ITERATIVE_QUERIES:
                t0 = time.time()
                d = qs[name](spark, args.sf_dir)
            else:
                d = qs[name](spark, args.sf_dir)
                t0 = time.time()
            d.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        print(
            json.dumps(
                {"query": name, "samples": samples, "min": min(samples),
                 "sf_dir": args.sf_dir}
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
