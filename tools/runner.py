"""The one loop that builds and runs registered queries.

bench.py, the SF ladder (tools/scaling_probe.py), the oracle differ
(tools/verify_local.py), the dtype check (tools/dtype_check.py) and the
plan probe (tools/plan_probe.py) all run `api.REGISTRY` queries through
`run_registry`, passing only what they do with each built DataFrame
(the `action`). The runner owns what is the same for all of them: the
job group and its watchdog (SPARK_GRAFT_QUERY_TIMEOUT seconds, default
300), per-query fault isolation, the cache release and GC between
queries, and the timings.
"""

from __future__ import annotations

import os
import threading
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator


@dataclass
class QueryRun:
    """What one registered query did under `run_registry`."""

    #: "ok"; "fail" (the action returned problems); "error" (the
    #: builder or the action raised); "timeout" (the watchdog fired)
    status: str = "ok"
    #: best completed run, builder included
    seconds: float | None = None
    #: Janino compiles during the last run: nonzero means the code
    #: cache thrashed or the query generates different code per run
    codegen_compiles: int | None = None
    #: driver heap in use after the query's release and a full GC, so
    #: state a query leaves behind shows as a step in this series
    heap_mb: float | None = None
    #: what the action found, or the traceback tail of what raised
    problems: list[str] = field(default_factory=list)


def noop_sink(name, spec, df) -> None:
    """Timing action: execute every column through a noop-format write
    (count() would let Catalyst prune the projections)."""
    df.write.format("noop").mode("overwrite").save()


def run_registry(
    spark,
    sf_dir: str,
    names: Iterable[str],
    action: Callable[..., list[str] | None],
    runs: int = 1,
) -> Iterator[tuple[str, QueryRun]]:
    """Build each registered query in `names` over `sf_dir` and call
    `action(name, spec, df)` on it, `runs` times, yielding
    `(name, QueryRun)` as each query finishes. The action returns the
    problems it found (none means ok). A run that raises, times out or
    fails ends that query's runs. The seconds include the builder:
    streaming builders run the whole stream inside the builder call.
    Each run rebuilds the DataFrame, so nothing is reused between
    runs: AQE re-plans and every shuffle and stream re-executes."""
    from etl_portfolio_project_spark import api, caches

    timeout_s = float(os.environ.get("SPARK_GRAFT_QUERY_TIMEOUT", "300"))
    heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Janino compiles, i.e. generated-code cache misses (in local mode
    # the executors share the driver's JVM)
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    sc = spark.sparkContext

    # The watchdog stops streams (their jobs run outside the job group)
    # and cancels the group only while its run is still the current
    # generation, checked under the lock: a Timer that fires as a run
    # ends must not cancel the next run, and one that fired is seen.
    gen = {"current": 0, "fired": 0}
    lock = threading.Lock()

    def _cancel(my_gen: int, group: str) -> None:
        with lock:
            if gen["current"] != my_gen:
                return
            gen["fired"] = my_gen
            try:
                for q in spark.streams.active:
                    q.stop()
            except Exception:
                pass
            try:
                sc.cancelJobGroup(group)
            except Exception:
                pass

    # A live claimed cache is a plan tree Spark's CacheManager compares
    # against during every later query's analysis, so each query
    # starts with none.
    caches.release_all()
    for name in names:
        spec = api.REGISTRY[name]
        rec = QueryRun()
        best = float("inf")
        for run_i in range(runs):
            gen["current"] += 1
            my_gen = gen["current"]
            group = f"run-{name}-{run_i}"
            sc.setJobGroup(group, name, True)
            watchdog = threading.Timer(timeout_s, _cancel, (my_gen, group))
            watchdog.start()
            c0 = compiles.getCount()
            t0 = time.perf_counter()
            try:
                problems = action(name, spec, spec.builder(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
            except Exception:
                rec.status = "error"
                rec.problems = [traceback.format_exc(limit=3)[-500:]]
            finally:
                with lock:
                    gen["current"] += 1  # invalidate any in-flight Timer
                watchdog.cancel()
                # PySpark's SparkContext has no clearJobGroup(); reset
                # the thread-local property directly
                sc.setLocalProperty("spark.jobGroup.id", None)
            if gen["fired"] == my_gen:
                rec.status = "timeout"
            if rec.status != "ok":
                break
            rec.seconds = round(best, 3)
            rec.codegen_compiles = compiles.getCount() - c0
            if problems:
                rec.status, rec.problems = "fail", list(problems)
                break
        caches.release_all()
        # JVM garbage accumulated across a long session taxes later
        # large-collect queries (measured src_join_projection 1.29 s
        # fresh, 1.59 s after 50 assorted queries, 1.25 s after a full
        # GC). A GC here, outside the timed window, keeps per-query
        # numbers comparable regardless of registry size and order.
        spark._jvm.System.gc()
        rec.heap_mb = round(heap.getHeapMemoryUsage().getUsed() / 2**20, 1)
        yield name, rec
