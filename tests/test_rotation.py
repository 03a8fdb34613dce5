"""Grading-window rotation guard.

The driver grades only the FIRST 50 registry entries per round. api.py
self-rotates the window from the accumulated CORRECTNESS_r*.json
verdicts; these tests go red if that rotation would ever leave a
registered query permanently ungraded (VERDICT r2 "What's wrong" #1).
"""

from __future__ import annotations

from etl_portfolio_project_spark import api


def test_every_nongreen_query_is_in_the_window():
    green, _graded = api._graded_verdicts()
    names = list(api.REGISTRY)
    front = set(names[: api._WINDOW])
    stranded = [n for n in names if n not in green and n not in front]
    # If more than _WINDOW queries need grading, the overflow is
    # unavoidable this round but must consist only of never-graded
    # names that will rotate forward next round (they stay non-green,
    # so grading_window() re-fronts them automatically).
    nongreen = [n for n in names if n not in green]
    if len(nongreen) <= api._WINDOW:
        assert stranded == [], (
            f"non-green queries outside the front-{api._WINDOW} grading "
            f"window: {stranded} — rotation is stale"
        )
    else:
        # window must be FULLY spent on non-green queries
        assert all(n not in green for n in names[: api._WINDOW]), (
            "grading window wastes slots on already-green queries while "
            f"{len(nongreen) - api._WINDOW} non-green queries overflow"
        )


def test_window_is_front_loaded_with_never_graded():
    """Never-graded queries precede re-confirmations in the ordering."""
    green, graded = api._graded_verdicts()
    names = list(api.REGISTRY)
    seen_reconfirm = False
    for n in names[: api._WINDOW]:
        if n in green:
            seen_reconfirm = True
        else:
            assert not seen_reconfirm, (
                f"non-green query {n!r} ordered after a re-confirmation — "
                "it could fall out of a shrunken window"
            )


def test_reconfirm_names_exist():
    unknown = [n for n in api._RECONFIRM if n not in api.REGISTRY]
    assert unknown == [], f"_RECONFIRM references unknown queries: {unknown}"


def test_every_spec_has_a_module():
    """QuerySpec.module feeds the changed-code regrade map
    (tools/rotation_check.py --emit-regrade); an empty module would
    silently exempt a query from regrading."""
    missing = [
        n for n, s in api.REGISTRY.items()
        if not s.module.startswith("etl_portfolio_project_spark")
    ]
    assert missing == [], f"specs with no usable module: {missing}"


def test_regrade_list_enters_window(tmp_path, monkeypatch):
    """Names in REGRADE.json surface in grading_window() ahead of
    _RECONFIRM padding."""
    import json

    # pick two green queries that are NOT _RECONFIRM picks
    green, _ = api._graded_verdicts()
    picks = [
        n for n in api.REGISTRY
        if n in green and n not in api._RECONFIRM
    ][:2]
    (tmp_path / "REGRADE.json").write_text(
        json.dumps({"queries": picks + ["nonexistent_query"]})
    )
    monkeypatch.setattr(api, "_repo_root", lambda: str(tmp_path))
    window = api.grading_window()[: api._WINDOW]
    for p in picks:
        assert p in window, f"regrade pick {p!r} missing from window"
    assert "nonexistent_query" not in window


def test_classify_verdict_rules():
    some_oracle = next(
        n for n, s in api.REGISTRY.items() if s.oracle is not None
    )
    assert api.classify_verdict(
        some_oracle, {"hash_match": True, "rows_match": True}
    ) == "green"
    assert api.classify_verdict(
        some_oracle, {"hash_match": False, "rows_match": True}
    ) == "red"
    assert api.classify_verdict(
        some_oracle, {"err": "boom"}
    ) == "red"
    # rows-only row for a spec that HAS an oracle → red (awaiting hash)
    assert api.classify_verdict(
        some_oracle, {"err": "no_oracle", "spark_rows": 10}
    ) == "red"
    # rows-only row for a spec with NO oracle → green by design
    no_oracle = [n for n, s in api.REGISTRY.items() if s.oracle is None]
    if no_oracle:
        assert api.classify_verdict(
            no_oracle[0], {"err": "no_oracle", "spark_rows": 10}
        ) == "rows_only"


def test_rows_only_specs_do_not_burn_age_tail_slots():
    """VERDICT r13 #3: a rows-only-by-design spec (oracle=None) that
    already holds its rows_only grade must not re-enter the grading
    window via the age tail — it can never hash-match and drags the
    driver's n_correct below the window size. It may only appear while
    non-green (never graded / red)."""
    green, _ = api._graded_verdicts()
    window = api.grading_window()[: api._WINDOW]
    offenders = [
        n
        for n in window
        if api.REGISTRY[n].oracle is None and n in green
    ]
    assert offenders == [], (
        f"green rows-only specs burning graded slots: {offenders}"
    )
