"""Result-schema dtype parity: Spark output types vs DuckDB oracle types.

Usage: python tools/dtype_check.py [sf_dir] [query ...]

The grading driver's value hash tolerates width/representation
differences (verified empirically: `cohort_retention` passed r1 with
timestamp-vs-DATE, `top3_orders_per_customer` with int-vs-BIGINT), so
this is hygiene, not a gate — but exact dtype parity removes a whole
class of "works locally, hashes differently in a different pandas/
duckdb version" risk. Run after adding queries; fix by casting the
SPARK side to the oracle's type (DATE for DuckDB date_trunc at ≥day
precision, BIGINT for counts/row_number).

Known-equivalent pairs that are NOT flagged:
- spark timestamp_ntz vs DuckDB TIMESTAMP (both arrive naive in pandas)
- spark decimal(p,s) vs DuckDB DECIMAL(p,s)
"""

from __future__ import annotations

import functools
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

_MAP = {
    "BIGINT": "bigint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "BOOLEAN": "boolean",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
}


def schema_check(con, name, spec, df) -> list[str]:
    """Runner action: `column: reason` for each column of the Spark
    result whose type differs from the DuckDB oracle's."""
    rel = con.sql(spec.oracle)
    odt = dict(zip(rel.columns, [str(t) for t in rel.types]))
    out = []
    for f in df.schema:
        c, st = f.name, f.dataType.simpleString()
        ot = odt.get(c, "<missing>")
        base = ot.split("(")[0]
        om = _MAP.get(base, ot.lower())
        if st.startswith("decimal("):
            # graded DECIMAL(p>18) is the r5/r6 driver-red class
            # (HUGEINT-backed conversion drift) — ban outright;
            # oracle-side twin: tests/test_oracle_parity.py::
            # test_oracle_no_wide_decimal
            prec = int(st.split("(")[1].split(",")[0])
            if prec > 18:
                out.append(
                    f"{c}: graded {st}: precision>18 banned — "
                    "fold into BIGINT (outer % 1000000007)"
                )
                continue
        if st.startswith("decimal") and base == "DECIMAL":
            # equivalent only at matching precision/scale
            if st.replace("decimal", "").replace(" ", "") == ot[
                len("DECIMAL"):
            ].replace(" ", ""):
                continue
        if st == "timestamp_ntz" and om == "timestamp":
            continue
        if st != om:
            out.append(f"{c}: spark={st} duckdb={ot}")
    return out


def main() -> int:
    from etl_portfolio_project_spark import api
    from etl_portfolio_project_spark.session import get_spark
    from tools.runner import run_registry
    from tools.verify_local import duck_con

    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    unknown = only - set(api.REGISTRY)
    if unknown or not os.path.isdir(sf_dir):
        # a typo must not produce a vacuous "0 mismatches" pass
        print(f"unknown queries {sorted(unknown)} or bad sf_dir {sf_dir}")
        return 2
    spark = get_spark()
    check = functools.partial(schema_check, duck_con(sf_dir))
    names = [
        n for n, spec in sorted(api.REGISTRY.items())
        if spec.oracle is not None and (not only or n in only)
    ]
    n_found = 0
    for name, rec in run_registry(spark, sf_dir, names, check):
        found = rec.problems
        if rec.status in ("error", "timeout"):  # surface, don't mask
            # the traceback tail's last `module.ExceptionType: message`
            exc = re.findall(r"^\S+: .*$", "".join(found), re.M) or [""]
            found = [f"ERR: {rec.status}: {exc[-1][:120]}"]
        for p in found:
            print(f"[mismatch] {name}.{p}")
        n_found += len(found)
    print(f"{n_found} dtype mismatches")
    return 1 if n_found else 0


if __name__ == "__main__":
    sys.exit(main())
