"""Query profiler.

For each named query: dump `.explain("formatted")` to
<out>/<name>_<tag>.txt, then time the computation with the noop sink
(computes every column, no sink cost, no count() column pruning)
best-of-N, with each job labelled by the output directory's name, the
tag and the query.

Usage:
    python tools/profile_queries.py plans/r12 [--tag before|after] [--reps 3] q1 q2 ...
    python tools/profile_queries.py plans/r12 --tag before --top 25   # slowest from BENCH_DETAIL
    python tools/profile_queries.py plans/r12 --plan-only q1           # explain only, no timing

Prints one line per query: name, noop seconds per rep, plan stats
(#Exchange, join nodes, Python-eval nodes). Plan dumps are committed so
a reader can check claims without running Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_seattle_call_data_spark.operators.util import clear_caches
from etl_seattle_call_data_spark.plans.queries import REGISTRY
from etl_seattle_call_data_spark.session import get_spark


def plan_stats(plan: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", plan))
    joins = re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)\b",
        plan,
    )
    py = re.findall(r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)\b", plan)
    jc: dict[str, int] = {}
    for j in joins:
        jc[j] = jc.get(j, 0) + 1
    parts = [f"exch={n_ex}"]
    if jc:
        parts.append(",".join(f"{k}x{v}" for k, v in sorted(jc.items())))
    if py:
        parts.append("PY:" + ",".join(sorted(set(py))))
    return " ".join(parts)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("out", help="directory for the plan dumps; its name labels the jobs")
    ap.add_argument("names", nargs="*", help="registry queries to profile")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--top", type=int, default=0, help="add the N slowest queries in BENCH_DETAIL.json")
    ap.add_argument("--plan-only", action="store_true", help="explain only, no timing")
    ns = ap.parse_intermixed_args()
    tag, names = ns.tag, list(ns.names)

    if ns.top:
        detail = json.load(open(os.path.join(ROOT, "BENCH_DETAIL.json")))
        ranked = sorted(detail["queries"].items(), key=lambda kv: -kv[1])
        names.extend(n for n, _ in ranked[: ns.top] if n not in names)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(ns.out, exist_ok=True)
    label = os.path.basename(os.path.normpath(ns.out))
    spark = get_spark(app_name=f"profile_{label}_{tag}")

    # Warm footers/codegen like bench.py does so rep-1 numbers are sane.
    for w in ("events_by_type", "q1_pricing_summary", "profile_orders",
              "doc_token_stats", "embedding_dim_stats", "star_join_region_revenue"):
        REGISTRY[w].spark(spark, sf_dir).count()

    for name in names:
        df = REGISTRY[name].spark(spark, sf_dir)
        jvm = df.sparkSession._jvm
        plan = df._jdf.queryExecution().explainString(
            jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(os.path.join(ns.out, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        if ns.plan_only:
            print(f"{name}: [{plan_stats(plan)}] (plan only)")
            continue
        times = []
        for _ in range(ns.reps):
            t0 = time.perf_counter()
            d = REGISTRY[name].spark(spark, sf_dir)
            spark.sparkContext.setJobDescription(f"{label}-{tag}:{name}")
            d.write.format("noop").mode("overwrite").save()
            spark.sparkContext.setJobDescription(None)
            times.append(time.perf_counter() - t0)
        ts = " ".join(f"{t:.3f}" for t in times)
        print(f"{name}: noop[{ts}] best={min(times):.3f} [{plan_stats(plan)}]")
    clear_caches()


if __name__ == "__main__":
    main()
