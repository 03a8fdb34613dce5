"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys

import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import data, trace  # noqa: E402
from perfbench.summary import summary  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


def test_summary_matches_statistics_quartiles():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    s = summary(values)
    q1, q2, q3 = statistics.quantiles(values, n=4)
    assert (s["n"], s["q1"], s["median"], s["q3"]) == (10, q1, q2, q3)


def test_summary_of_one_sample_is_its_own_quartiles():
    assert summary([2.5]) == {"n": 1, "median": 2.5, "q1": 2.5, "q3": 2.5,
                              "min": 2.5, "max": 2.5}
    assert summary([]) == {"n": 0}


def test_covered_is_the_clipped_union():
    assert trace.covered([], 0.0, 10.0) == 0.0
    # overlapping, nested and out-of-range intervals
    assert trace.covered([(1, 3), (2, 5), (4, 4.5), (9, 12)], 0.0, 10.0) == 5.0
    assert trace.covered([(-5, 2)], 0.0, 10.0) == 2.0


def _span(sid, parent, start, end, main=True, layer="x"):
    return trace.Span(sid, f"{layer}.f{sid}", layer, parent, main, start=start, end=end)


def test_self_times_add_up_to_the_root():
    spans = [
        _span(1, None, 0.0, 10.0, layer="perfbench"),
        _span(2, 1, 1.0, 4.0, layer="a"),
        _span(3, 2, 2.0, 3.0, layer="b"),
        _span(4, 1, 5.0, 7.0, main=False, layer="b"),  # a callback thread's
        _span(5, None, 20.0, 30.0),  # another root: not in the tree
    ]
    tree = trace.build_tree(spans, 1)
    assert sorted(tree.spans) == [1, 2, 3, 4]
    assert tree.self_s == {1: 5.0, 2: 2.0, 3: 1.0, 4: 2.0}
    assert sum(tree.self_s.values()) == spans[0].duration


def test_overlapping_children_are_subtracted_once():
    spans = [_span(1, None, 0.0, 10.0), _span(2, 1, 1.0, 4.0),
             _span(3, 1, 3.0, 6.0, main=False)]
    assert trace.build_tree(spans, 1).self_s[1] == 5.0


def test_jobs_charged_by_group_then_by_window():
    from perfbench.status import Job

    spans = [_span(1, None, 0, 10), _span(2, 1, 1, 5), _span(3, 1, 5, 9, main=False)]
    spans[0].first_job, spans[0].end_job = 0, 6
    spans[1].first_job, spans[1].end_job = 1, 4
    tree = trace.build_tree(spans, 1)
    jobs = [
        Job(0, f"{trace.GROUP_PREFIX}1"),
        Job(1, f"{trace.GROUP_PREFIX}2"),
        Job(2, "stream-run-id"),  # inside span 2's window
        Job(4, None),  # after span 2: the root's
        Job(5, f"{trace.GROUP_PREFIX}3"),  # group of a span on another thread
        Job(7, None),  # outside every window: not charged
    ]
    trace.charge_jobs(tree, jobs)
    assert {s: [j.job_id for j in js] for s, js in tree.jobs.items()} == {
        1: [0, 4], 2: [1, 2], 3: [5]}


def test_metric_names():
    names = [m["name"] for m in BENCHMARK["end_to_end"] + BENCHMARK["per_layer"]]
    assert len(names) == len(set(names))
    assert all(METRIC_NAME.fullmatch(n) for n in names)
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(WORKLOADS)
    tree = trace.build_tree([_span(1, None, 0, 1)], 1)
    total = {"input_bytes": 0, "input_rows": 0}
    emitted = set(trace.layer_metrics(tree, {}, {}, total, 0, 0, [], 4))
    emitted |= {f"{trace.HARNESS}.run_s", "trace.overhead_s"}
    assert emitted == {m["name"] for m in BENCHMARK["per_layer"]}


def test_inputs_are_a_seeded_permutation(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    assert data.write_inputs(str(a), 1) == data.write_inputs(str(b), 1)
    data.write_inputs(str(c), 2)
    for t in data.TABLES:
        ta, tb, tc = (pq.read_table(d / f"{t}.parquet") for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc)
        key = ta.column_names[0]
        assert ta.sort_by(key).equals(tc.sort_by(key))


NESTED_PLAN = """\
AdaptiveSparkPlan (9)
+- == Final Plan ==
   HashAggregate (8)
   +- ShuffleQueryStage (7)
      +- Exchange (6)
         +- InMemoryTableScan (1)
               +- InMemoryRelation (2)
                     +- AdaptiveSparkPlan (5)
                        +- == Final Plan ==
                           :- Exchange (3)
                           +- == Initial Plan ==
                              +- Exchange (4)
                        +- Exchange (3)
+- == Initial Plan ==
   HashAggregate (11)
   +- Exchange (10)


(6) Exchange
(10) Exchange
"""


def test_exchanges_skip_initial_plans_at_any_depth():
    from perfbench.status import executed_exchanges

    # 6 and 3 ran; 4 and 10 are initial plans; 3 is printed twice
    assert executed_exchanges(NESTED_PLAN) == 2


@pytest.fixture(scope="module")
def spark():
    from etl_portfolio_project_spark.session import get_spark

    from perfbench.status import RETENTION_CONF

    s = get_spark(app_name="perfbench-tests", cpus=2, driver_memory="1g",
                  extra_conf={**RETENTION_CONF, "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_job_group_counters_on_a_toy_query(spark):
    from perfbench.status import StatusReader

    status = StatusReader(spark)
    tracer = trace.Tracer(spark, status)
    df = spark.range(0, 10_000, numPartitions=4).selectExpr("id % 3 AS k")
    with tracer.span("outer", "a") as outer:
        with tracer.span("inner", "b"):
            assert df.groupBy("k").count().count() == 3
        df.write.format("noop").mode("overwrite").save()
    status.drain()
    tree = trace.build_tree(tracer.spans, outer.sid)
    trace.charge_jobs(tree, status.jobs(outer.first_job, outer.end_job))
    inner = next(s for s in tree.spans if s != outer.sid)
    outer_c = status.counters(tree.jobs[outer.sid])
    inner_c = status.counters(tree.jobs[inner])
    assert outer_c.jobs >= 1 and inner_c.jobs >= 1
    assert outer_c.jobs + inner_c.jobs == outer.end_job - outer.first_job
    assert inner_c.shuffle_write_bytes > 0 and outer_c.shuffle_write_bytes == 0
    assert inner_c.tasks >= 4 and inner_c.cpu_s > 0
    table = trace.layer_table(tree, status.counters)
    assert table["a"]["jobs"] == outer.end_job - outer.first_job  # inclusive
    assert table["b"]["jobs"] == inner_c.jobs
    # restricted to the spans under the inner span
    assert set(trace.layer_table(tree, status.counters, inner)) == {"b"}
    # the job group is restored to nothing after the outermost span
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_exchanges_of_executed_plans(spark):
    """An adaptive plan prints its initial plan too; only the exchanges
    of the plan that ran are counted."""
    from perfbench.status import StatusReader, executed_exchanges

    status = StatusReader(spark)
    df = spark.range(0, 10_000, numPartitions=4).selectExpr("id % 3 AS k", "id AS v")
    other = spark.range(0, 1_000).selectExpr("id % 5 AS k", "id AS w")
    status.drain()
    first = status.execution_count()
    assert len(df.groupBy("k").count().collect()) == 3
    assert len(df.hint("merge").join(other.hint("merge"), "k").groupBy("k").count().collect()) == 3
    status.drain()
    plans = status.plans(first, status.execution_count())
    # one per side of the join; the groupBy reuses the join's partitioning
    assert [executed_exchanges(p) for p in plans] == [1, 2]
    assert "== Initial Plan ==" in plans[0]
