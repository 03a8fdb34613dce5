"""tools/runner.run_registry is the one loop that builds and runs
registered queries: every query ends with a status, whatever its
builder or action does, and the tools built on it run in a session
with get_spark()'s default parallelism."""

from __future__ import annotations

import sys
import time
from types import SimpleNamespace

from etl_portfolio_project_spark import api, session

from .conftest import SF_SMALL

#: a builder that raises, one whose result differs from its oracle,
#: and one that matches its oracle
FAULTY_REGISTRY = {
    "a_raises": SimpleNamespace(
        builder=lambda s, _sf: s.table("no_such_table"),
        oracle="SELECT range AS id FROM range(8)",
    ),
    "b_differs": SimpleNamespace(
        builder=lambda s, _sf: s.range(8),
        oracle="SELECT range + 1 AS id FROM range(8)",
    ),
    "c_matches": SimpleNamespace(
        builder=lambda s, _sf: s.range(8),
        oracle="SELECT range AS id FROM range(8)",
    ),
}


def _record_get_spark(monkeypatch, spark) -> list:
    """Make the tools' get_spark return the test session and record
    the `cpus` each call asked for."""
    asked = []

    def fake(*args, cpus=None, **kwargs):
        asked.append(cpus)
        return spark

    monkeypatch.setattr(session, "get_spark", fake)
    return asked


def test_statuses_cover_ok_fail_error_and_timeout(spark, monkeypatch):
    from tools.runner import run_registry

    monkeypatch.setattr(api, "REGISTRY", FAULTY_REGISTRY)

    def action(name, spec, df):
        return ["differs"] if name == "b_differs" else []

    out = list(run_registry(spark, SF_SMALL, FAULTY_REGISTRY, action, 2))
    assert [(n, r.status) for n, r in out] == [
        ("a_raises", "error"),
        ("b_differs", "fail"),
        ("c_matches", "ok"),
    ]
    assert "no_such_table" in out[0][1].problems[0]
    assert out[1][1].problems == ["differs"]
    assert out[2][1].seconds is not None
    assert out[2][1].codegen_compiles is not None
    assert all(r.heap_mb > 0 for _, r in out)

    monkeypatch.setenv("SPARK_GRAFT_QUERY_TIMEOUT", "1")
    [(_, rec)] = run_registry(
        spark, SF_SMALL, ["c_matches"], lambda *_: time.sleep(3)
    )
    assert rec.status == "timeout"


def test_verify_checks_every_query_after_a_builder_raises(
    spark, monkeypatch, capsys
):
    """One raising builder is that query's `error`; the queries after
    it are still checked against their oracles."""
    from tools import verify_local

    monkeypatch.setattr(api, "REGISTRY", FAULTY_REGISTRY)
    asked = _record_get_spark(monkeypatch, spark)
    monkeypatch.setattr(sys, "argv", ["verify_local.py", SF_SMALL])
    assert verify_local.main() == 1
    out = capsys.readouterr().out
    assert "[ERROR] a_raises" in out
    assert "[FAIL] b_differs (8 rows)" in out
    assert "[ok]   c_matches: 8 rows match oracle exactly" in out
    assert "FAILED: ['a_raises', 'b_differs']" in out
    assert asked == [None]  # get_spark's nproc default


def test_dtype_check_runs_in_the_default_session(spark, monkeypatch, capsys):
    from tools import dtype_check

    monkeypatch.setattr(api, "REGISTRY", FAULTY_REGISTRY)
    asked = _record_get_spark(monkeypatch, spark)
    monkeypatch.setattr(
        sys, "argv", ["dtype_check.py", SF_SMALL, "b_differs", "c_matches"]
    )
    assert dtype_check.main() == 0
    assert capsys.readouterr().out.endswith("0 dtype mismatches\n")
    assert asked == [None]  # get_spark's nproc default
