"""Optimization-round measurement probe (guide §1).

Captures normalized optimized plans and (optionally) isolated best-of-N
noop-sink timings for named queries, without running the full bench.

Usage:
  python tools/plan_probe.py --plans-dir /tmp/plans --suffix before q1 q2
  python tools/plan_probe.py --time 3 q1 q2            # timings only
  python tools/plan_probe.py --plans-dir /tmp/plans --suffix after --time 3 q1

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default: the CPUs this process may run on).

Plan files land as <plans-dir>/<query>_<suffix>.txt: the optimized
logical plan, normalized (`normalize_plan`) so that two captures of the
same code diff empty and captures of two commits diff only where the
plans differ. The header carries the physical plan's Exchange count and
the sha256 of the query's DuckDB oracle SQL, so one `diff -r` of two
captures checks plan identity and oracle identity together.
Timings print as one JSON line per query. Plans are captured from the
SAME DataFrame object that gets timed, in a fresh-claims session
(caches released first) so the cold plan is what's recorded (matches
test_plans.py's convention of releasing the shared tier before pinning
shapes).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

#: session-local numbering in plan text: expression ids, PySpark's
#: global lambda-variable counter, exchange plan ids, and the RDD
#: attributes of a checkpointed relation
_PLAN_NOISE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\bx_\d+#"), "x_#"),
    (re.compile(r" ?\[plan_id=\d+\]"), ""),
    (re.compile(r"LogicalRDD \[[^\]]*\], false"), "LogicalRDD"),
]


def normalize_plan(plan: str) -> str:
    for pattern, repl in _PLAN_NOISE:
        plan = pattern.sub(repl, plan)
    return plan


def _sha256(oracle: str | None) -> str:
    if oracle is None:
        return "none (rows-only check)"
    return hashlib.sha256(oracle.encode()).hexdigest()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("names", nargs="+")
    p.add_argument("--plans-dir", default=None)
    p.add_argument("--suffix", default="before")
    p.add_argument("--time", type=int, default=0, metavar="N",
                   help="best-of-N noop-sink timings per query")
    p.add_argument("--shared-cold", action="store_true",
                   help="release the shared index tier before EACH "
                        "query (cold index build charged)")
    args = p.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from etl_portfolio_project_spark import api, caches
    from etl_portfolio_project_spark.session import get_spark

    spark = get_spark(app_name="plan_probe")
    spark.read.parquet(f"{sf_dir}/orders.parquet").count()  # warm

    if args.plans_dir:
        os.makedirs(os.path.join(_REPO, args.plans_dir), exist_ok=True)

    out: dict[str, float] = {}
    for name in args.names:
        spec = api.REGISTRY.get(name)
        if spec is None:
            print(f"!! unknown query: {name}", file=sys.stderr)
            continue
        if args.shared_cold:
            caches.release_shared_all()
        spark.sparkContext.setJobDescription(f"probe: {name}")
        caches.release_all()  # fresh-claims build: cold plan shape
        df = spec.builder(spark, sf_dir)
        if args.plans_dir:
            qe = df._jdf.queryExecution()
            physical = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
            n_ex = physical.count("Exchange")
            n_py = physical.count("EvalPython") + physical.count("MapInPandas") \
                + physical.count("MapInArrow") + physical.count("FlatMapGroupsInPandas")
            path = os.path.join(
                _REPO, args.plans_dir, f"{name}_{args.suffix}.txt"
            )
            # ADVICE r13: builders run eager claim jobs at BUILD time,
            # so claimed relations print as InMemoryRelation subtrees
            # here (their build cost is charged when the builder runs,
            # not inside this captured plan) — same convention
            # test_plans.py pins (fresh claims, cold shared tier only
            # under --shared-cold).
            header = (
                "-- plan_probe capture: fresh-claims build "
                "(caches.release_all() before builder). Claimed "
                "relations appear as InMemoryRelation; their build "
                "cost is paid at claim time inside the builder, "
                "outside this plan.\n"
                f"-- physical plan: Exchange={n_ex}, PythonNodes={n_py}\n"
                f"-- oracle sha256: {_sha256(spec.oracle)}\n"
            )
            with open(path, "w") as f:
                f.write(header + normalize_plan(qe.optimizedPlan().toString()))
            print(f"{name}: plan -> {path} "
                  f"(Exchange={n_ex}, PythonNodes={n_py})")
        best = float("inf")
        for _ in range(max(args.time, 0)):
            caches.release_all()
            if args.shared_cold:
                caches.release_shared_all()
            t0 = time.perf_counter()
            d2 = spec.builder(spark, sf_dir)
            d2.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        if args.time:
            out[name] = round(best, 3)
            print(json.dumps({"query": name, "best_of": args.time,
                              "sec": out[name]}))
        caches.release_all()
        spark._jvm.System.gc()
    if out:
        print(json.dumps({"total": round(sum(out.values()), 3),
                          "queries": out}))


if __name__ == "__main__":
    main()
