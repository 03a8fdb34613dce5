"""Benchmark harness — times every registered query at the bench SF.

Usage: python bench.py
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_CPUS   (default: the CPUs this process may run on)

Prints ONE compact JSON line (the driver captures only a bounded tail
of stdout — VERDICT r2: a ~4 KB line lost its front and parsed as
null, so the line carries totals + the 10 slowest queries only):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {<10 slowest>: sec}, "n_queries": N, "n_errors": N,
   "sf": <float>}
The FULL per-query map (and error tracebacks) goes to
BENCH_DETAIL.json next to this file.

Each query is fully executed via a noop-format write (count() would
let Catalyst prune the projections we want to measure).
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
import time
import traceback

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


#: perf-canary subset — FROZEN; do not add/remove names (cross-round
#: comparability is the whole point). Chosen r9: stable timings,
#: one per operator class, no streams/caches/session indexes.
CANARY_QUERIES = [
    "filter_pushdown",
    "dedup_exact",
    "top_words",
    "monthly_revenue",
    "gopher_quality_flags",
    "embedding_dim_profile",
    "sessionize_events",
    "tpch_q3_shipping_priority",
    "agg_pricing_summary",
    "loan_final",
]

#: heavy-canary subset — FROZEN from r11 (+1 r12); the cheap canary
#: above is insensitive to load that smears only long multi-stage DAGs
#: (r11 observation: a 2.0× session carried an in-band cheap canary
#: while incremental_release_diff ran 2.7× its own best). These are
#: the suite's stable heavy tail; their SUITE timings are reused (no
#: extra runs), so heavy_canary_total decomposes a wall move into
#: ambient-load-on-heavies vs real change the same way canary_total
#: does for the cheap classes. r12 adds multivector_maxsim_topk
#: (VERDICT r11 #3): its 10.57 s driver outlier was invisible to both
#: canaries because none covered the generated-expression scoring
#: class; as a member its own cross-session band is tracked directly.
#: r13 adds stream_embedding_index_ingest (VERDICT r12 #1): at 9.5 s
#: driver / 6.0 s builder it became the suite's most expensive query
#: while sitting in NEITHER canary — the exact blind-spot class that
#: hid multivector_maxsim_topk in r11.
HEAVY_CANARY_QUERIES = [
    "corpus_release_pipeline",
    "dedup_keep_best",
    "bitext_margin_mining",
    "stream_incremental_dedup",
    "multivector_maxsim_topk",
    "stream_embedding_index_ingest",
]


def _load_receipt() -> dict:
    """Machine-load snapshot (VERDICT r12 #3): /proc/loadavg plus this
    process's cumulative CPU seconds, so a later reader can decompose
    a wall-clock smear into ambient co-tenant load vs real change
    mechanically instead of via hand-written prose in PERF_ANCHOR.md
    (load_1m far above our own CPU-rate between snapshots ⇒ external
    co-tenant load)."""
    rec: dict = {"unix_ts": int(time.time())}
    try:
        with open("/proc/loadavg") as f:
            parts = f.read().split()
        rec["load_1m"] = float(parts[0])
        rec["load_5m"] = float(parts[1])
        rec["load_15m"] = float(parts[2])
    except (OSError, ValueError, IndexError):
        pass
    try:
        t = os.times()
        rec["proc_cpu_sec"] = round(t.user + t.system, 2)
    except OSError:
        pass
    return rec


def codegen_compiles(spark) -> int:
    """Janino compiles so far in this JVM, i.e. generated-code cache
    misses (in local mode the executors share the driver's JVM)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from etl_portfolio_project_spark import api
    from etl_portfolio_project_spark.session import get_spark

    load_before = _load_receipt()
    spark = get_spark(app_name="bench")

    def _jvm_cpu_sec() -> float | None:
        # the bench's real CPU burn lives in the JVM child, which
        # os.times() can't see while it's still running. py4j can't
        # reach com.sun.management's getProcessCpuTime (it reflects on
        # the public interface only), so read the child's utime+stime
        # straight from /proc/<pid>/stat (fields 14-15, clock ticks).
        try:
            me = os.getpid()
            hz = os.sysconf("SC_CLK_TCK")
            total = 0.0
            for pid in os.listdir("/proc"):
                if not pid.isdigit():
                    continue
                try:
                    with open(f"/proc/{pid}/stat") as f:
                        parts = f.read().rsplit(")", 1)[1].split()
                    # after comm: field 1 = state, 2 = ppid,
                    # 12/13 = utime/stime (0-indexed post-comm)
                    if int(parts[1]) != me:
                        continue
                    with open(f"/proc/{pid}/comm") as f:
                        if f.read().strip() != "java":
                            continue
                    total += (int(parts[11]) + int(parts[12])) / hz
                except (OSError, ValueError, IndexError):
                    continue
            return round(total, 2) if total > 0 else None
        except (OSError, ValueError):
            return None
    # warm the JVM/session (codegen, parquet footer caches) so the
    # alphabetically-first query doesn't absorb cold-start cost
    spark.read.parquet(f"{sf_dir}/orders.parquet").count()

    # Perf canary (VERDICT r8 item 5): a FIXED 10-query subset timed
    # in the fresh session BEFORE the full suite, recorded separately.
    # Canary code never changes round-to-round (stable queries across
    # scan/join/agg/window/text/embedding classes, no streams, no
    # session caches), so a canary-vs-canary move between rounds is
    # ambient session/machine drift by construction, while a suite
    # move WITHOUT a canary move is a real regression — the
    # decomposition PERF_ANCHOR previously reconstructed by hand.
    canary = time_queries(
        spark, sf_dir, [n for n in CANARY_QUERIES if n in api.REGISTRY]
    )["seconds"]

    suite = time_queries(spark, sf_dir, sorted(api.REGISTRY))
    timings = suite["seconds"]
    errors = suite["errors"]

    total = round(sum(timings.values()), 3)
    run_ts = int(time.time())
    detail = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "errors": errors,
        # matches the compact line's run_ts (provenance)
        "run_unix_ts": run_ts,
        "runner": os.environ.get("SPARK_GRAFT_RUNNER", "unspecified"),
        # fresh-session fixed-subset drift reference (r9): compare to
        # the previous round's canary before reading anything into a
        # suite-total move
        "canary": canary,
        "canary_total": round(sum(canary.values()), 3),
        "heavy_canary_total": round(
            sum(timings.get(n, 0.0) for n in HEAVY_CANARY_QUERIES), 3
        ),
        # mechanized ambient-load receipt (VERDICT r12 #3): loadavg +
        # cumulative CPU before/after the run, and a per-query load_1m
        # sample — (load_1m - bench's own CPU rate) >> 0 reads as
        # co-tenant load, decomposable without prose
        "load_before": load_before,
        "load_after": {**_load_receipt(), "jvm_cpu_sec": _jvm_cpu_sec()},
        "query_load_1m": suite["load_1m"],
        "codegen_compiles": suite["codegen_compiles"],
    }
    # Absolute perf anchor (r4 VERDICT #5): if tools/oracle_bench.py
    # has recorded DuckDB oracle wall times at this SF, publish the
    # per-query spark/duckdb ratio. >1 means Spark at local[N] lost to
    # single-process DuckDB — a strong local-inefficiency signal (the
    # engines aren't comparable at cluster scale, where only Spark
    # distributes; see PERF_ANCHOR.md for the outlier analysis).
    try:
        with open(os.path.join(_REPO, "ORACLE_BENCH.json")) as f:
            ob = json.load(f)
        if abs(ob.get("sf", -2) - sf) < 1e-9:
            ratios = {
                n: round(t / ob["oracle_sec"][n], 2)
                for n, t in timings.items()
                if ob["oracle_sec"].get(n)
            }
            detail["spark_vs_duckdb"] = ratios
            # material outliers only: at harness SFs nearly EVERY
            # query "loses" to DuckDB because Spark pays a fixed
            # ~0.3-1 s per-query floor (job scheduling, shuffle
            # machinery, state stores) on data DuckDB finishes in
            # milliseconds — see PERF_ANCHOR.md. Flag the ones where
            # the gap is too big for the floor to explain.
            detail["spark_materially_slower"] = sorted(
                n for n, r in ratios.items()
                if r > 3.0 and timings[n] > 0.7
            )
    except (OSError, ValueError, KeyError):
        pass
    with open(os.path.join(_REPO, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(compact_line(timings, errors, total, sf, run_ts)))


#: Best of RUNS full build+execute cycles per query. Run 1 pays the
#: one-time Janino codegen of each stage; the min reflects steady-state
#: throughput (what matters at scale, where codegen is amortized over
#: hours) and is robust to transient co-process load. Each cycle
#: rebuilds the DataFrame, so nothing is reused between runs — AQE
#: re-plans and all shuffles/streams re-execute.
RUNS = 2


def time_queries(spark, sf_dir: str, names: list[str]) -> dict:
    """Build and fully execute each registered query in `names` over
    `sf_dir`, RUNS times, and return one record of per-query dicts:
    "seconds" (best run), "codegen_compiles" (Janino compiles during
    the LAST run: nonzero means the code cache thrashed or the query
    generates different code per run), "errors" (a traceback tail for
    each query that raised) and "load_1m" (the 1-minute loadavg right
    after the query, so a single-query smear can be attributed to a
    load spike without external monitoring).

    Per-query fault isolation (round-1 lesson: one broken query zeroed
    the whole bench): every query gets try/except plus a watchdog that
    cancels its Spark jobs/streams after SPARK_GRAFT_QUERY_TIMEOUT
    seconds, so a hung stream can't stall the caller."""
    from etl_portfolio_project_spark import api, caches

    timeout_s = float(os.environ.get("SPARK_GRAFT_QUERY_TIMEOUT", "300"))
    rec: dict[str, dict] = {
        "seconds": {}, "codegen_compiles": {}, "errors": {}, "load_1m": {}
    }

    # Watchdog cancels ONLY the timed query's job group, and only if
    # that query is still the current generation — a Timer that fires
    # just as the query completes must not cancel the NEXT query's
    # jobs (ADVICE r2: the old cancelAllJobs raced exactly that way).
    # Streams are stopped too (their jobs run on stream threads,
    # outside the job group), guarded by the same generation check.
    gen_box = {"gen": 0}

    def _make_cancel(my_gen: int, group: str):
        def _cancel() -> None:
            if gen_box["gen"] != my_gen:
                return  # query already finished; don't touch successor
            try:
                for q in spark.streams.active:
                    q.stop()
            except Exception:
                pass
            try:
                spark.sparkContext.cancelJobGroup(group)
            except Exception:
                pass

        return _cancel

    for name in names:
        spec = api.REGISTRY[name]
        best = float("inf")
        err: str | None = None
        for run_i in range(RUNS):
            gen_box["gen"] += 1
            group = f"bench-{name}-{run_i}"
            spark.sparkContext.setJobGroup(group, name, True)
            watchdog = threading.Timer(
                timeout_s, _make_cancel(gen_box["gen"], group)
            )
            watchdog.start()
            # time the builder too: streaming builders execute the
            # whole readStream→sink job inside the builder call
            c0 = codegen_compiles(spark)
            t0 = time.perf_counter()
            try:
                df = spec.builder(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
                if run_i == RUNS - 1:
                    rec["codegen_compiles"][name] = (
                        codegen_compiles(spark) - c0
                    )
            except Exception:
                err = traceback.format_exc(limit=3)[-500:]
                break
            finally:
                gen_box["gen"] += 1  # invalidate any in-flight Timer
                watchdog.cancel()
                # PySpark's SparkContext has no clearJobGroup(); reset
                # the thread-local property directly
                spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None
                )
        if best < float("inf"):
            rec["seconds"][name] = round(best, 3)
        else:
            rec["errors"][name] = err or "unknown"
        try:
            with open("/proc/loadavg") as f:
                rec["load_1m"][name] = float(f.read().split()[0])
        except (OSError, ValueError, IndexError):
            pass
        # Isolate queries from each other: drop this query's claimed
        # caches before the next one starts (outside the timed window).
        # NOTE: run 2's re-claim already unpersisted run 1's generation
        # (one live generation per key), so there is no cross-run data
        # reuse to protect — this only clears the LAST run's leftovers.
        # Left live, every cached plan tree taxes the analysis of all
        # later queries via CacheManager plan matching and accumulates
        # executor memory.
        caches.release_all()
        # Session-age hygiene (r5 verdict #4, root-caused in r6): JVM
        # garbage accumulated across a long bench session taxes the
        # large-collect queries — measured src_join_projection 1.29 s
        # fresh → 1.59 s after 50 assorted queries → 1.25 s after a
        # full GC. The headline is the SUM of timed regions, so a GC
        # here (outside the timed window) costs wall only, and makes
        # per-query numbers comparable across rounds regardless of
        # registry size/order (grading_window reorders every round —
        # that position shift was r5's "uniform +0.3 s drift").
        spark._jvm.System.gc()
    return rec


def compact_line(
    timings: dict[str, float],
    errors: dict[str, str],
    total: float,
    sf: float,
    run_ts: int = 0,
) -> dict:
    """Driver-facing summary: totals + the 10 slowest queries. MUST
    stay well under ~2 KB serialized — the driver keeps only a bounded
    tail of stdout, and an oversized line loses its front and parses
    as null (round-2 failure mode; tests pin the size)."""
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    # batch/stream split (VERDICT r9 item 4a): the 13 streaming
    # queries carry a measured ~0.9 s/micro-batch machinery FLOOR at
    # harness SFs (PERF_ANCHOR "Streaming floor decomposition") that
    # amortizes at scale — publishing the split lets the perf gate
    # read the floor-free batch total without ungating any stream.
    # Membership comes from the registry's canonical marker, not a
    # name-prefix match (ADVICE r10); test_bench_contract pins the
    # marker against a docstring-stripped source scan for streaming
    # entry points, so neither side can silently drift.
    from etl_portfolio_project_spark.api import STREAMING_QUERIES

    stream_sec = round(
        sum(t for n, t in timings.items() if n in STREAMING_QUERIES), 3
    )
    return {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "batch_sec": round(total - stream_sec, 3),
        "stream_sec": stream_sec,
        "sf": sf,
        "run_ts": run_ts,  # matches BENCH_DETAIL run_unix_ts → provenance
    }


if __name__ == "__main__":
    main()
