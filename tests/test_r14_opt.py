"""Focused tests for the r14 OPTIMIZATION round's operator-internal
changes (OPTIMIZATION_r14.md). Each change must keep values
bit-identical — these tests pin the specific internals that changed.
"""

from __future__ import annotations

import pytest

from etl_portfolio_project_spark import api


def _sei_epoch_plan(spark) -> str:
    from etl_portfolio_project_spark.operators.similarity import (
        _sei_epoch_sql,
    )

    vecs = spark.range(4).selectExpr(
        "id AS vec_id",
        "array(CAST(id AS DOUBLE)) AS vec",
        "1.0D AS norm",
        "array(named_struct('tbl', 0, 'bucket', id)) AS tb",
    )
    vecs.createOrReplaceTempView("sei_vecs")
    vecs.createOrReplaceTempView("sei_idx")
    return (
        spark.sql(_sei_epoch_sql())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


def _sid_epoch_plan(spark) -> str:
    from etl_portfolio_project_spark.operators.dedup import _sid_epoch_sql

    sigs = spark.range(4).selectExpr(
        "id AS doc_id",
        "array(id) AS items",
        "transform(sequence(0, 31), i -> id + i) AS sig",
    )
    sigs.createOrReplaceTempView("sid_sigs")
    sigs.createOrReplaceTempView("sid_idx")
    return (
        spark.sql(_sid_epoch_sql())
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )


@pytest.mark.parametrize("plan_fn", [_sei_epoch_plan, _sid_epoch_plan])
def test_stream_epoch_joins_broadcast_the_batch_side(spark, plan_fn):
    """r14 opt (guide §3): every per-epoch index join in the two
    streaming-ingest operators must be a broadcast join with the
    BATCH-derived side as the build side — the index grows without
    bound and must never be shuffled or broadcast. The epoch SQL is
    module-level exactly so this shape is pinned without running the
    stream."""
    plan = plan_fn(spark)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4, plan


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
