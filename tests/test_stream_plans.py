"""Streaming state/plan contracts — the stream twin of SHUFFLE_BUDGET.

Batch queries pin shuffle-exchange counts (test_plans.py); streams have
no batch plan to inspect, but their scale contract is just as
assertable: the number of DATA micro-batches the bounded harness input
splits into (a batch-splitting regression multiplies per-commit
overhead), the number of stateful operators (an accidental extra
dedup/agg doubles state), the state-store partition count (sized
deliberately per operator class — see _run_to_table's measurement
notes), and a ceiling on state rows where EVICTION is the contract
(watermarked outer joins must not buffer the corpus). Observed via
StreamingQueryProgress, recorded by `record_stream_stats`
(VERDICT r7 item 4).
"""

from __future__ import annotations

import pytest

from etl_portfolio_project_spark import api, caches
from etl_portfolio_project_spark.streaming import events as EV

from .conftest import SF_SMALL

#: registry name → (stats key, data batches, state ops,
#:                  state partitions, max state rows at SF_SMALL)
#: state_rows bounds are ~|keys| with slack for store-format rows;
#: None = unpinned (complete-mode aggs whose state IS the result).
STREAM_CONTRACT = {
    # single-file source → exactly one data batch for the plain reads
    "stream_tumbling_5min": ("stream_tumbling_5min", 1, 1, 1, None),
    "stream_sliding_windows": ("stream_sliding_windows", 1, 1, 1, None),
    "stream_session_windows": ("stream_session_windows", 1, 1, 8, None),
    # dropDuplicatesWithinWatermark = its own state op + the count agg
    "stream_dedup_events": ("stream_dedup_events", 1, 2, 4, None),
    "stream_click_purchase_join": (
        "stream_click_purchase_join", 1, 1, 1, None),
    # [events + sentinel 1] then [sentinel 2] at maxFilesPerTrigger=2
    # → exactly 2 batches (r9 consolidation); the sentinels advance
    # the watermark so the join state EVICTS — a corpus-sized
    # numRowsTotal here means eviction broke
    "stream_click_purchase_left_join": (
        "stream_click_purchase_left_join", 2, 1, 1, 50),
    "stream_enriched_by_segment": (
        "stream_enriched_by_segment", 1, 1, 1, None),
    "stream_approx_quantiles": ("stream_quantile_sketch", 1, 1, 1, None),
    "stream_user_stats": ("stream_user_stats", 1, 1, 8, None),
    # foreachBatch harnesses keep NO store state (their state lives in
    # parquet generations / the checkpoint WAL)
    "stream_latest_user_event": ("stream_latest_user_event", 1, 0, 0, 0),
    # two phases × one file each with a shared checkpoint — a batch
    # count of 3+ means restart re-processed committed offsets
    "stream_checkpoint_restart_ingest": (
        "stream_checkpoint_restart_ingest", 2, 0, 0, 0),
    # SD_NBATCH pre-split batches through the banded index
    "stream_incremental_dedup": ("stream_incremental_dedup", 4, 0, 0, 0),
    # SE_NBATCH pre-split batches through the persisted LSH index
    # (foreachBatch: state lives in parquet generations + manifests)
    "stream_embedding_index_ingest": (
        "stream_embedding_index_ingest", 4, 0, 0, 0),
    # 3 synthetic epochs from the Python DataSource reader
    "stream_python_datasource_ingest": (
        "stream_python_datasource_ingest", 3, 0, 0, 0),
}


@pytest.fixture(scope="module")
def stream_stats(spark):
    """Run every registered stream once at SF_SMALL, collect stats."""
    out = {}
    for name in sorted(n for n in api.REGISTRY if n.startswith("stream_")):
        if name not in STREAM_CONTRACT:
            # test_every_stream_query_has_a_contract reports the
            # missing name cleanly; a KeyError here would error out
            # every parametrized case instead
            continue
        api.REGISTRY[name].builder(spark, SF_SMALL).count()
        caches.release_all()
        out[STREAM_CONTRACT[name][0]] = dict(
            EV.LAST_RUN_STATS[STREAM_CONTRACT[name][0]]
        )
    return out


def test_every_stream_query_has_a_contract():
    streams = {n for n in api.REGISTRY if n.startswith("stream_")}
    missing = sorted(streams - set(STREAM_CONTRACT))
    assert not missing, f"stream queries without a contract: {missing}"


@pytest.mark.parametrize("name", sorted(STREAM_CONTRACT))
def test_stream_contract(stream_stats, name):
    key, batches, ops, parts, rows_max = STREAM_CONTRACT[name]
    got = stream_stats[key]
    assert got["batches"] == batches, (name, got)
    assert got["state_ops"] == ops, (name, got)
    # the effective count is min(designed, session shuffle partitions)
    # — a session-config-dependent value, so pin the designed BOUND
    # (CLAUDE.md: grade the contract bound, never the session value)
    assert got["state_partitions"] <= parts, (name, got)
    assert (got["state_partitions"] > 0) == (ops > 0), (name, got)
    if rows_max is not None:
        assert got["state_rows"] <= rows_max, (name, got)


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
