"""Query profiler for the analytics registry.

For each headline query: time DataFrame CONSTRUCTION (driver-side plan
building — register views, py4j round trips, any plan-time collect) apart
from EXECUTION (the bench's count() action), run three passes, and dump
`.explain("formatted")` to plans/profile/<query>_<tag>.txt.

Usage:
    python tools/profile.py [--tag before] [--queries a,b,c]
        [--sf-dir /root/testdata/sf0.1] [--noop]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import __spark_entry__ as entrymod  # noqa: E402
from bench import BENCH_QUERIES  # noqa: E402
from kafka_firehose_nozzle_spark.session import (  # noqa: E402
    configure_shuffle_for_input,
    get_spark,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="before")
    ap.add_argument("--queries", default="")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--noop", action="store_true",
                    help="also time one noop-sink pass (full materialization)")
    ap.add_argument("--plans-only", action="store_true")
    args = ap.parse_args()

    names = [q for q in args.queries.split(",") if q] or BENCH_QUERIES
    spark = get_spark("kfn-profile")
    configure_shuffle_for_input(spark, args.sf_dir)
    qs = entrymod.queries()

    # same warm-up as bench.py
    spark.read.parquet(f"{args.sf_dir}/region.parquet").count()
    spark.read.parquet(f"{args.sf_dir}/events.parquet").groupBy(
        "event_type"
    ).count().count()

    plans_dir = os.path.join(HERE, "plans", "profile")
    os.makedirs(plans_dir, exist_ok=True)

    out = {}
    for name in names:
        rec: dict = {}
        sc = spark.sparkContext
        sc.setJobDescription(f"profile:{name}:build")
        t0 = time.perf_counter()
        df = qs[name](spark, args.sf_dir)
        rec["build_sec"] = round(time.perf_counter() - t0, 3)

        t0 = time.perf_counter()
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        rec["explain_sec"] = round(time.perf_counter() - t0, 3)
        with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w") as f:
            f.write(plan)
        rec["n_exchange"] = plan.count("Exchange")
        rec["n_python"] = (
            plan.count("BatchEvalPython")
            + plan.count("ArrowEvalPython")
            + plan.count("MapInArrow")
            + plan.count("MapInPandas")
            + plan.count("FlatMapGroupsInPandas")
        )
        if args.plans_only:
            out[name] = rec
            print(name, json.dumps(rec))
            continue

        # bench.py's _release(), untimed between passes: without it the
        # localCheckpoint-heavy queries (roundtrip, embedding_dup_pairs,
        # lsh_dup_components) stack one checkpoint per pass per query in
        # the shared 32 GB heap and the session degrades into GC thrash —
        # observed passes of 37-82 s for queries the bench (which DOES
        # release) runs in 2-3 s on the same idle host.
        def _release():
            for rdd in sc._jsc.getPersistentRDDs().values():
                rdd.unpersist(True)
            spark.catalog.clearCache()
            sc._jvm.System.gc()

        passes = []
        for i in range(3):
            sc.setJobDescription(f"profile:{name}:pass{i}")
            # rebuild each pass exactly like bench._best_of_3 does
            t0 = time.perf_counter()
            qs[name](spark, args.sf_dir).count()
            passes.append(round(time.perf_counter() - t0, 3))
            _release()
        rec["passes"] = passes
        rec["min_sec"] = min(passes)
        if args.noop:
            sc.setJobDescription(f"profile:{name}:noop")
            t0 = time.perf_counter()
            qs[name](spark, args.sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            rec["noop_sec"] = round(time.perf_counter() - t0, 3)
        sc.setJobDescription(None)
        out[name] = rec
        print(name, json.dumps(rec), flush=True)

    print("PROFILE " + json.dumps(out))


if __name__ == "__main__":
    main()
