"""Focused tests for the r14 OPTIMIZATION round's operator-internal
changes (OPTIMIZATION_r14.md). Each change must keep values
bit-identical — these tests pin the specific internals that changed.
"""

from __future__ import annotations

import json
import threading
import warnings

import pytest

from etl_portfolio_project_spark import api


def test_conf_json_malformed_raises_named_error(monkeypatch):
    """ADVICE r13: malformed SPARK_GRAFT_CONF_JSON must fail with an
    error naming the env var, not a bare json traceback."""
    from etl_portfolio_project_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", "{not json")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CONF_JSON"):
        get_spark(app_name="tests", cpus=4, driver_memory="4g")


def test_conf_json_warns_when_session_preexists(spark, monkeypatch):
    """ADVICE r13: getOrCreate() applies RUNTIME-settable builder
    confs to a pre-existing session but silently ignores STATIC ones
    (e.g. spark.driver.memory) — the operator must get a warning
    signal for the ignored class, also when the session was created
    on another thread (the active session is thread-local)."""
    from etl_portfolio_project_spark.session import get_spark

    monkeypatch.setenv(
        "SPARK_GRAFT_CONF_JSON",
        json.dumps(
            {
                "spark.graft.test.runtime": "took-effect",  # runtime: applies
                "spark.driver.memory": "31g",  # static: ignored -> warn
            }
        ),
    )
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_CONF_JSON"):
        got = get_spark(app_name="tests", cpus=4, driver_memory="4g")
    # runtime-settable conf DID land on the reused session
    assert got.conf.get("spark.graft.test.runtime") == "took-effect"

    caught = []

    def other_thread():
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            get_spark(app_name="tests", cpus=4, driver_memory="4g")
        caught.extend(w)

    t = threading.Thread(target=other_thread)
    t.start()
    t.join(timeout=120)
    assert not t.is_alive()
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "SPARK_GRAFT_CONF_JSON" in str(w.message)
        for w in caught
    ), [str(w.message) for w in caught]


def _builder_conf(monkeypatch, **kwargs) -> dict:
    """The confs get_spark hands a fresh builder, captured without
    starting a second SparkSession."""
    from pyspark.sql import SparkSession

    captured = {}

    class _Stop(Exception):
        pass

    class _FakeBuilder:
        def master(self, *_a):
            return self

        def appName(self, *_a):
            return self

        def config(self, k, v):
            captured[k] = v
            return self

        def getOrCreate(self):
            raise _Stop()

    monkeypatch.setattr(
        SparkSession, "builder", _FakeBuilder(), raising=False
    )
    from etl_portfolio_project_spark.session import get_spark

    with pytest.raises(_Stop):
        get_spark(**kwargs)
    return captured


def test_conf_json_applies_on_fresh_builder(monkeypatch):
    """The env override must land in the builder AFTER extra_conf
    (env intent wins over code-level defaults)."""
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF_JSON", json.dumps({"spark.graft.test": "env"})
    )
    conf = _builder_conf(monkeypatch, extra_conf={"spark.graft.test": "code"})
    assert conf["spark.graft.test"] == "env"


@pytest.mark.parametrize(
    "heap,page_mb",
    [("2g", 1), ("4g", 1), ("16g", 2), ("64g", 8), ("512g", 64), ("1t", 64)],
)
def test_page_size_rule(heap, page_mb):
    """One task's 8192-page table must still cover the heap; the page
    is never below 1 MB or above 64 MB."""
    from etl_portfolio_project_spark.session import page_size_bytes
    from etl_portfolio_project_spark.sources.registry import _size_bytes

    assert page_size_bytes(_size_bytes(heap, 0)) == page_mb << 20


def test_live_session_uses_derived_page_size(spark):
    from etl_portfolio_project_spark.session import page_size_bytes

    mm = spark.sparkContext._jsc.sc().env().memoryManager()
    assert mm.pageSizeBytes() == page_size_bytes(4 << 30)


def test_page_size_follows_the_larger_heap(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CONF_JSON", raising=False)
    conf = _builder_conf(monkeypatch, driver_memory="16g")
    assert conf["spark.buffer.pageSize"] == "2m"
    conf = _builder_conf(
        monkeypatch,
        driver_memory="2g",
        extra_conf={"spark.executor.memory": "64g"},
    )
    assert conf["spark.buffer.pageSize"] == "8m"


@pytest.mark.parametrize("source", ["extra_conf", "env"])
def test_explicit_page_size_wins(monkeypatch, source):
    explicit = {"spark.buffer.pageSize": "16m"}
    if source == "env":
        monkeypatch.setenv("SPARK_GRAFT_CONF_JSON", json.dumps(explicit))
        conf = _builder_conf(monkeypatch)
    else:
        monkeypatch.delenv("SPARK_GRAFT_CONF_JSON", raising=False)
        conf = _builder_conf(monkeypatch, extra_conf=explicit)
    assert conf["spark.buffer.pageSize"] == "16m"


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
