"""The benchmark's workloads and their correctness oracles.

A workload is a fixed list of steps run back to back; one pass over
the list is one iteration. A step is either the loan pipeline
(`pipelines.loan_pipeline.run_pipeline`, both parquet sinks) or a
registered query, whose builder runs and whose result is collected to
the driver. Every iteration's output is checked against the DuckDB
oracle of `api.oracle_sql()`, computed once per run over the same
inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb

from . import data

LOAN_STEP = "run_pipeline"
#: the vector-search step; the `operators.similarity` metrics cover it alone
SEARCH_STEP = "ann_ivfpq_topk"
#: registry queries whose oracles describe the loan pipeline's sinks
LOAN_SINKS = ("loan_final", "loan_monthly_schedule")


@dataclass(frozen=True)
class Workload:
    name: str
    steps: tuple[str, ...]
    #: untimed iterations before the timed ones: the first pays codegen,
    #: JIT and index builds; a second, where it is cheap, lets the JIT settle
    warmup: int = 1


WORKLOADS = {w.name: w for w in [
    Workload(
        "loan_etl",
        (LOAN_STEP,),
        warmup=2,
    ),
    Workload(
        "corpus_index",
        ("corpus_release_pipeline", SEARCH_STEP,
         "stream_embedding_index_ingest"),
    ),
]}


def duck_con(input_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in data.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(input_dir, t)}.parquet')"
        )
    return con


class Oracle:
    """Expected outputs of one workload over one input directory."""

    def __init__(self, workload: Workload, input_dir: str):
        from etl_portfolio_project_spark import api

        self.con = duck_con(input_dir)
        oracles = api.oracle_sql()
        self.expected = {}
        for step in workload.steps:
            if step == LOAN_STEP:
                for sink in LOAN_SINKS:
                    self.con.execute(f"CREATE TABLE expected_{sink} AS {oracles[sink]}")
            else:
                self.expected[step] = self.con.execute(oracles[step]).df()

    def check_sinks(self, paths: dict[str, str]) -> tuple[int, list[str]]:
        """Compare both parquet sinks with the oracle tables, as bags
        of rows (exact values). Returns (rows written, problems)."""
        rows, problems = 0, []
        for sink in LOAN_SINKS:
            got = f"read_parquet('{paths[sink]}/*.parquet')"
            want = f"expected_{sink}"
            cols = sorted(r[0] for r in self.con.execute(f"DESCRIBE {want}").fetchall())
            have = sorted(r[0] for r in self.con.execute(f"DESCRIBE SELECT * FROM {got}").fetchall())
            if cols != have:
                problems.append(f"{sink}: columns {have} != {cols}")
                continue
            sel = ", ".join(f'"{c}"' for c in cols)
            n, extra, missing = self.con.execute(
                f"SELECT (SELECT count(*) FROM {got}), "
                f"(SELECT count(*) FROM (SELECT {sel} FROM {got} EXCEPT ALL SELECT {sel} FROM {want})), "
                f"(SELECT count(*) FROM (SELECT {sel} FROM {want} EXCEPT ALL SELECT {sel} FROM {got}))"
            ).fetchone()
            rows += n
            if extra or missing:
                problems.append(f"{sink}: {extra} unexpected rows, {missing} missing rows")
        return rows, problems

    def check_result(self, step: str, result) -> list[str]:
        from tools.verify_local import compare

        return compare(step, result, self.expected[step])
