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
Timings print as one JSON line per query. Both passes run through
`tools.runner.run_registry`, which releases the claimed caches before
each query, so the captured plan is the cold, fresh-claims plan
(test_plans.py's convention too); the timed runs rebuild the query.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys

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
    from tools.runner import noop_sink, run_registry

    spark = get_spark(app_name="plan_probe")
    spark.read.parquet(f"{sf_dir}/orders.parquet").count()  # warm

    for name in sorted(set(args.names) - set(api.REGISTRY)):
        print(f"!! unknown query: {name}", file=sys.stderr)
    names = [n for n in args.names if n in api.REGISTRY]

    def capture_plan(name, spec, df) -> None:
        qe = df._jdf.queryExecution()
        physical = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
        n_ex = physical.count("Exchange")
        n_py = physical.count("EvalPython") + physical.count("MapInPandas") \
            + physical.count("MapInArrow") + physical.count("FlatMapGroupsInPandas")
        path = os.path.join(_REPO, args.plans_dir, f"{name}_{args.suffix}.txt")
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
        print(f"{name}: plan -> {path} (Exchange={n_ex}, PythonNodes={n_py})")

    def run(action, runs: int = 1) -> dict[str, float]:
        """Best seconds of each query in `names` that ran `action`.
        Under --shared-cold every build starts without the shared
        index tier: it is released before the first and after each run."""
        def cold(name, spec, df):
            try:
                return action(name, spec, df)
            finally:
                caches.release_shared_all()

        if args.shared_cold:
            caches.release_shared_all()
        out = {}
        each = cold if args.shared_cold else action
        for name, rec in run_registry(spark, sf_dir, names, each, runs):
            if rec.status == "ok":
                out[name] = rec.seconds
            else:
                print(f"!! {name}: {rec.status}", *rec.problems,
                      sep="\n", file=sys.stderr)
        return out

    if args.plans_dir:
        os.makedirs(os.path.join(_REPO, args.plans_dir), exist_ok=True)
        run(capture_plan)
    if args.time:
        out = run(noop_sink, args.time)
        for name, sec in out.items():
            print(json.dumps({"query": name, "best_of": args.time,
                              "sec": sec}))
        print(json.dumps({"total": round(sum(out.values()), 3),
                          "queries": out}))


if __name__ == "__main__":
    main()
