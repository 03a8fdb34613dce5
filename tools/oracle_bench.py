"""Time every DuckDB oracle at the bench SF — the absolute anchor for
the "within 2× of baseline" perf gate (r4 VERDICT #5).

The reference publishes no numbers (BASELINE.md documents the
absence), so this records the one comparable absolute measurement the
environment CAN produce: single-process DuckDB running the oracle SQL
on the same parquet at the same SF. The engines aren't comparable at
cluster scale (DuckDB has no distribution story), but a query where
Spark at local[32] loses to single-threaded-ish DuckDB is a strong
LOCAL inefficiency signal worth explaining.

Writes ORACLE_BENCH.json {"sf": .., "oracle_sec": {name: sec}}.
bench.py merges it into BENCH_DETAIL.json as `spark_vs_duckdb` ratios
when the SFs match.

Usage: python tools/oracle_bench.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from tools.verify_local import duck_con  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    import re

    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from etl_portfolio_project_spark import api

    con = duck_con(sf_dir)
    out: dict[str, float] = {}
    for name, spec in sorted(api.REGISTRY.items()):
        if spec.oracle is None:
            continue
        best = float("inf")
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                con.execute(spec.oracle).fetchall()
                best = min(best, time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001 - record, don't abort
            print(f"[err] {name}: {e}", file=sys.stderr)
            continue
        out[name] = round(best, 4)
        print(f"{name}: {out[name]}s", flush=True)

    path = os.path.join(_REPO, "ORACLE_BENCH.json")
    with open(path, "w") as f:
        json.dump({"sf": sf, "oracle_sec": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"\nwrote {path}: {len(out)} oracles, "
          f"total {round(sum(out.values()), 2)}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
