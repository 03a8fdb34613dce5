"""Unit tests for the changed-code regrade emitter
(tools/rotation_check.py): git hunks → changed top-level names, and
the same-module fixpoint expansion. Uses a synthetic git repo so the
real repo's state doesn't affect the assertions."""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

import rotation_check as rc  # noqa: E402

V1 = '''CONST_A = 1


def helper():
    return CONST_A


def untouched():
    return 42


def mentions_only():
    """Calls nothing changed; this docstring names helper."""
    # nor does this comment: helper, CONST_A
    return "helper CONST_A"


SQL_X = f"{helper()}"
'''

V2 = '''CONST_A = 2


def helper():
    return CONST_A + 1


def untouched():
    return 42


def mentions_only():
    """Calls nothing changed; this docstring names helper."""
    # nor does this comment: helper, CONST_A
    return "helper CONST_A"


SQL_X = f"{helper()}"
'''


def _git(cwd, *args):
    return subprocess.run(
        ["git", *args], cwd=cwd, capture_output=True, text=True, check=True
    ).stdout.strip()


def test_changed_toplevel_names_and_expansion(tmp_path, monkeypatch):
    repo = tmp_path / "r"
    repo.mkdir()
    _git(repo, "init", "-q")
    _git(repo, "config", "user.email", "t@t")
    _git(repo, "config", "user.name", "t")
    f = repo / "mod.py"
    f.write_text(V1)
    _git(repo, "add", "mod.py")
    _git(repo, "commit", "-qm", "v1")
    base = _git(repo, "rev-parse", "HEAD")
    f.write_text(V2)

    monkeypatch.setattr(rc, "_REPO", str(repo))
    names = rc.changed_toplevel_names(base, "mod.py")
    # CONST_A and helper changed; untouched and SQL_X did not (their
    # LINES are unchanged — SQL_X only changes via the fixpoint)
    assert names == {"CONST_A", "helper"}

    # fixpoint: SQL_X's f-string field calls helper → it is changed
    # too; untouched references nothing changed, and mentions_only
    # names changed symbols only in a docstring, comment and string
    # → both stay out
    assert rc.expand_within_module("mod.py", names) == {
        "CONST_A", "helper", "SQL_X"
    }

    # module_importers on the real repo must find streaming.stateful
    # as an importer of streaming.events (the r4 blind spot)
    monkeypatch.setattr(rc, "_REPO", _REPO)
    importers = rc.module_importers("etl_portfolio_project_spark.streaming.events")
    assert "etl_portfolio_project_spark.streaming.stateful" in importers


def test_regrade_follows_the_importing_chain():
    """`schedule.monthly_schedule` is called by
    `loan_pipeline.loan_monthly_schedule`, which api's registered
    builder calls: a change two imports away from the registry must
    still regrade the query that runs it. `loan_final` runs no
    schedule code and stays out; a change to
    `loan_pipeline.joined_loans`, which both loan builders call,
    regrades both."""

    def reach(module: str, names: set[str]) -> set[str]:
        changed = rc.changed_by_module(
            f"etl_portfolio_project_spark.{module}", names
        )
        return rc.queries_reaching(changed, rc.oracle_constants())

    sched = reach("operators.schedule", {"monthly_schedule"})
    assert "loan_monthly_schedule" in sched
    assert "loan_final" not in sched
    joined = reach("pipelines.loan_pipeline", {"joined_loans"})
    assert {"loan_final", "loan_monthly_schedule"} <= joined


def test_unparseable_file_falls_back_to_module(tmp_path, monkeypatch):
    repo = tmp_path / "r"
    repo.mkdir()
    _git(repo, "init", "-q")
    _git(repo, "config", "user.email", "t@t")
    _git(repo, "config", "user.name", "t")
    f = repo / "bad.py"
    f.write_text("x = 1\n")
    _git(repo, "add", "bad.py")
    _git(repo, "commit", "-qm", "v1")
    base = _git(repo, "rev-parse", "HEAD")
    f.write_text("def broken(:\n")
    monkeypatch.setattr(rc, "_REPO", str(repo))
    assert rc.changed_toplevel_names(base, "bad.py") is None


def test_material_from_sources_classifies_docstring_vs_code():
    """Docstring-only and comment-only edits are cosmetic; a changed
    expression, a changed SQL constant, and a renamed-away name are
    material."""
    from tools.rotation_check import material_from_sources

    old = '''
def f(x):
    """old words."""
    return x + 1  # comment

Q_SQL = "SELECT 1"

def g(y):
    return y * 2
'''
    new = '''
def f(x):
    """completely reworded docstring."""
    return x + 1  # different comment

Q_SQL = "SELECT 2"

def g(y):
    return y * 3
'''
    names = {"f", "Q_SQL", "g"}
    got = material_from_sources(old, new, names)
    assert got == {"Q_SQL", "g"}  # f is docstring/comment-only

    # a REMOVED top-level name (present in old, absent in new) is
    # material — its consumers must regrade
    assert "g" in material_from_sources(old, "f = 1", {"g"})

    # unparseable old source degrades to all-material (conservative)
    assert material_from_sources("def (", new, {"f"}) == {"f"}
