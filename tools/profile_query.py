"""Per-query profiler for the optimization rounds.

Times one or more catalog queries in isolation (guide §1): each timed run
drives the full result through the noop sink (computes every column, no
collect cost) AND separately via the bench's .count() action so the numbers
stay comparable with bench.py's series. Captures .explain("formatted") to
plans/<tag>/<query>_<suffix>.txt when --plans TAG[:SUFFIX] is given.

Usage:
    python tools/profile_query.py [--sf DIR] [--reps N] [--plans r11:before] [q_name...]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, ".")

from thymeflow_back_spark.queries import catalog  # noqa: E402
from thymeflow_back_spark.operators.cachereg import release_pinned, set_memo  # noqa: E402
from thymeflow_back_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="TAG[:SUFFIX] -> plans/TAG/<q>_SUFFIX.txt")
    ap.add_argument("--bench-caches", action="store_true",
                    help="enable the bench harness's cross-query memo (operators/cachereg)")
    ap.add_argument("names", nargs="*", help="catalog rows (default: the bench set)")
    args = ap.parse_args()
    names = args.names or [n for n, q in catalog.QUERIES.items() if q.bench]

    spark = get_spark("profile")
    if args.bench_caches:
        set_memo(True)

    # same session warmers as bench.py (JVM, parquet footers, Arrow pool)
    next(iter(catalog.QUERIES.values())).spark(spark, args.sf).count()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()

    plan_dir = suffix = None
    if args.plans:
        tag, _, suffix = args.plans.partition(":")
        suffix = suffix or "before"
        plan_dir = os.path.join("plans", tag)
        os.makedirs(plan_dir, exist_ok=True)

    for name in names:
        q = catalog.QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        if plan_dir:
            df = q.spark(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plan_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
            release_pinned()
        cold = None
        counts, noops = [], []
        for i in range(args.reps + 1):
            t0 = time.time()
            q.spark(spark, args.sf).count()
            dt = time.time() - t0
            release_pinned()
            if i == 0:
                cold = dt
            else:
                counts.append(dt)
        for _ in range(args.reps):
            t0 = time.time()
            q.spark(spark, args.sf).write.format("noop").mode("overwrite").save()
            noops.append(time.time() - t0)
            release_pinned()
        print(
            f"{name}: cold={cold:.3f} "
            f"count_med={statistics.median(counts):.3f} (reps {['%.3f' % c for c in counts]}) "
            f"noop_med={statistics.median(noops):.3f} (reps {['%.3f' % c for c in noops]})",
            flush=True,
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
