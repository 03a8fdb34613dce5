"""The repo benchmark: one workload, driven as a closed loop by one client.

    python3 perfbench/run.py --workload loan_etl --seed 1 --seconds 10 --trace 0

Each iteration starts when the previous one has finished. The run
writes seeded inputs (perfbench/data.py), computes the DuckDB oracles,
starts `session.get_spark` at `local[nproc]`, and runs the workload's
warm-up iterations, charged with the session start to `setup_s`. It
then times iterations until `--seconds` have passed (at least one),
checks every iteration's output against the oracles outside the timed
window, and reads the Spark status store at the end.

`--trace 0` prints the end-to-end metrics. `--trace 1` alternates
untraced and traced iterations and prints the per-layer metrics; the
traced iterations record spans around every public function of the
program (perfbench/trace.py).

The last line of stdout is one JSON object: correct, attempted, failed
and metrics ({name: {value, unit}}). The full record (samples,
quartiles, environment, per-layer table, spans) goes to
`.perfbench_work/results/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
MIN_ITERATIONS = 1
#: a traced run needs at least one traced and one untraced iteration
MIN_TRACED_RUN_ITERATIONS = 2


def declared_units() -> dict[str, str]:
    """Unit of every metric, as BENCHMARK.json declares it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}


@dataclass
class Sample:
    """One timed iteration."""

    seconds: float = 0.0
    rows: int = 0
    problems: list[str] = field(default_factory=list)
    first_job: int = 0
    end_job: int = 0
    first_exec: int = 0
    end_exec: int = 0
    root: int | None = None
    traced: bool = False
    step_s: dict[str, float] = field(default_factory=dict)
    #: CPU time of the driver JVM and this process during the timed part
    proc_cpu_s: float = 0.0

    @property
    def ok(self) -> bool:
        return not self.problems


class Runner:
    def __init__(self, spark, workload, input_dir: str, sink_dir: str, oracle, status):
        self.spark = spark
        self.workload = workload
        self.input_dir = input_dir
        self.sink_dir = sink_dir
        self.oracle = oracle
        self.status = status
        self.jvm_pid = spark.sparkContext._gateway.proc.pid

    def _step(self, step: str, tracer):
        from etl_portfolio_project_spark import api
        from etl_portfolio_project_spark.pipelines import loan_pipeline

        from perfbench.trace import HARNESS, PACKAGE
        from perfbench.workloads import LOAN_STEP

        def span(name, layer, execute=False):
            return tracer.span(name, layer, execute) if tracer else nullcontext()

        with span(f"{HARNESS}.{step}", HARNESS):
            if step == LOAN_STEP:
                return loan_pipeline.run_pipeline(self.spark, self.input_dir, self.sink_dir)
            spec = api.REGISTRY[step]
            layer = spec.module[len(PACKAGE) + 1:]
            with span(f"{layer}.{spec.raw.__name__}", layer):
                df = spec.builder(self.spark, self.input_dir)
            with span(f"{layer}.{step}.execute", layer, execute=True):
                return df.toPandas()

    def iteration(self, tracer=None) -> Sample:
        from etl_portfolio_project_spark import caches

        from perfbench.trace import HARNESS
        from perfbench.workloads import LOAN_STEP

        self.status.drain()
        s = Sample(first_job=self.status.job_count(),
                   first_exec=self.status.execution_count(), traced=tracer is not None)
        outputs = []
        root = tracer.span(f"{HARNESS}.iteration", HARNESS) if tracer else nullcontext()
        c0 = process_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            with root as r:
                for step in self.workload.steps:
                    t = time.perf_counter()
                    outputs.append((step, self._step(step, tracer)))
                    s.step_s[step] = time.perf_counter() - t
        except Exception:
            s.problems.append(traceback.format_exc(limit=4)[-1500:])
        s.seconds = time.perf_counter() - t0
        s.proc_cpu_s = process_cpu_s(self.jvm_pid) - c0
        s.root = r.sid if tracer else None
        for step, out in outputs:  # outside the timed window
            if step == LOAN_STEP:
                rows, problems = self.oracle.check_sinks(out)
            else:
                rows, problems = len(out), self.oracle.check_result(step, out)
            s.rows += rows
            s.problems += [f"{step}: {p}" for p in problems]
        if tracer:
            tracer.sample_storage()
        caches.release_all()
        self.status.drain()
        s.end_job = self.status.job_count()
        s.end_exec = self.status.execution_count()
        return s


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_cpu_s(jvm_pid: int) -> float:
    """User + system CPU seconds of the driver JVM (all its threads) and
    of this process so far."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        # the fields after the parenthesised command name
        utime, stime = f.read().rsplit(")", 1)[1].split()[11:13]
    me = os.times()
    return (int(utime) + int(stime)) / os.sysconf("SC_CLK_TCK") + me.user + me.system


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def steal_s() -> float:
    """CPU time the hypervisor gave to others since boot (all CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def retained_mb(spark) -> float:
    """Driver JVM heap still in use after a full GC. Unpersisted blocks
    and unreferenced shuffles and broadcasts are removed asynchronously
    after a GC, so collect, let the cleaner run, and collect again."""
    jvm = spark._jvm
    jvm.System.gc()
    time.sleep(1)
    jvm.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed() / 2**20


def start_session(cpus: int, work: str):
    from etl_portfolio_project_spark.session import get_spark

    from perfbench.status import RETENTION_CONF

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        driver_memory=DRIVER_MEMORY,
        extra_conf={
            **RETENTION_CONF,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM it was launched in, and wait."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_loop(seconds: float, iterate, min_iterations: int = MIN_ITERATIONS) -> list[Sample]:
    """Call `iterate(i)` until `seconds` have passed and at least
    `min_iterations` ran."""
    samples: list[Sample] = []
    start = time.perf_counter()
    while len(samples) < min_iterations or time.perf_counter() - start < seconds:
        samples.append(iterate(len(samples)))
    return samples


def end_to_end(samples: list[Sample], status, setup_s: float, retained: float) -> tuple[dict, dict]:
    from perfbench.summary import summary

    cpu = [status.counters(status.jobs(s.first_job, s.end_job)).cpu_s for s in samples]
    run = summary([s.seconds for s in samples])
    rows = summary([s.rows for s in samples])["median"]
    values = {
        "setup_s": setup_s,
        # the mean: a sum of task CPU times already, and steadier than
        # the median of the few iterations a window holds
        "cpu_s": sum(cpu) / len(cpu),
        "retained_mb": retained,
    }
    # wall time per iteration is recorded but not a bounded metric: on a
    # shared host it moves with other guests' load (README, "Noise")
    detail = {"run_s": run, "rows_per_s": rows / run["median"], "cpu_s": summary(cpu),
              "proc_cpu_s": summary([s.proc_cpu_s for s in samples]),
              "rows_per_iteration": rows}
    return values, detail


def traced_readings(samples: list[Sample], tracer, status, progress_by_iter, storage_by_iter, cpus):
    """Per-layer metrics (median over traced iterations), the layer
    table and spans of the last traced iteration, and the overhead."""
    from perfbench import trace
    from perfbench.status import executed_exchanges
    from perfbench.summary import summary
    from perfbench.workloads import SEARCH_STEP

    per_iter, self_sums, last = [], [], None
    for i, s in enumerate(samples):
        if not s.traced:
            continue
        jobs = status.jobs(s.first_job, s.end_job)
        tree = trace.build_tree(tracer.spans, s.root)
        trace.charge_jobs(tree, jobs)
        table = trace.layer_table(tree, status.counters)
        search = [sid for sid, sp in tree.spans.items() if sp.name == f"{trace.HARNESS}.{SEARCH_STEP}"]
        search_table = trace.layer_table(tree, status.counters, search[0]) if search else {}
        exchanges = sum(executed_exchanges(p) for p in status.plans(s.first_exec, s.end_exec))
        per_iter.append(trace.layer_metrics(
            tree, table, search_table, status.counters(jobs).as_dict(), exchanges,
            storage_by_iter[i], progress_by_iter[i], cpus,
        ))
        self_sums.append(sum(tree.self_s.values()))
        last = (tree, table, progress_by_iter[i])
    metrics = {k: summary([m[k] for m in per_iter])["median"] for k in per_iter[0]}
    untraced = summary([s.seconds for s in samples if not s.traced])["median"]
    traced = summary([s.seconds for s in samples if s.traced])["median"]
    metrics[f"{trace.HARNESS}.run_s"] = untraced
    metrics["trace.overhead_s"] = traced - untraced
    tree, table, progress = last
    self_total = sum(tree.self_s.values())
    detail = {
        "untraced_run_s": untraced,
        "traced_run_s": traced,
        "overhead_s": traced - untraced,
        # all spans' self times of a traced iteration add up to it; net
        # of the overhead they must account for the untraced iteration
        "span_self_sum_s": summary(self_sums)["median"],
        "unaccounted_s": summary(self_sums)["median"] - traced,
        "layers": {
            layer: {**row, "self_share": row["self_s"] / self_total}
            for layer, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"])
        },
        "stream_progress": progress,
        "spans": [
            {"id": s.sid, "name": s.name, "layer": s.layer, "parent": s.parent,
             "main_thread": s.main, "start_s": s.start - tree.spans[min(tree.spans)].start,
             "duration_s": s.duration, "self_s": tree.self_s[s.sid],
             "jobs": [j.job_id for j in tree.jobs.get(s.sid, ())]}
            for s in sorted(tree.spans.values(), key=lambda s: s.start)
        ],
    }
    return metrics, detail


def run(workload_name: str, seed: int, seconds: float, traced: bool,
        tables_dir: str) -> tuple[dict, dict]:
    import pyspark

    from perfbench import data
    from perfbench.status import StatusReader
    from perfbench.workloads import WORKLOADS, Oracle

    workload = WORKLOADS[workload_name]
    cpus = nproc()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    # spark-submit first runs a small launcher JVM, outside the driver's options
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # SPARK_LOCAL_DIRS would override spark.local.dir outside the checkout
    for var in ("SPARK_GRAFT_CONF_JSON", "SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS"):
        os.environ.pop(var, None)
    env = {"workload": workload_name, "seed": seed, "seconds": seconds, "trace": int(traced),
           "cpus": cpus, "master": f"local[{cpus}]", "driver_memory": DRIVER_MEMORY,
           "python": sys.version.split()[0], "pyspark": pyspark.__version__,
           "loadavg_before": loadavg()}
    steal_before = steal_s()
    spark = None
    try:
        input_dir = os.path.join(work, "input")
        env["input_dir"] = os.path.relpath(input_dir, ROOT)
        env["tables"] = os.path.relpath(tables_dir, ROOT)
        env["input_rows"] = data.write_inputs(input_dir, seed, tables_dir)
        oracle = Oracle(workload, input_dir)

        t0 = time.perf_counter()
        spark = start_session(cpus, work)
        session_s = time.perf_counter() - t0
        env["java"] = spark._jvm.System.getProperty("java.version")
        status = StatusReader(spark)
        runner = Runner(spark, workload, input_dir, os.path.join(work, "sinks"), oracle, status)
        warmups = [runner.iteration() for _ in range(workload.warmup)]
        setup_s = time.perf_counter() - t0
        # read before the timed loop: the status store keeps every job of
        # the run, so the heap grows with the number of timed iterations
        retained = retained_mb(spark)

        if traced:
            from perfbench.trace import Tracer, stream_listener

            tracer, listener = Tracer(spark, status), stream_listener()
            spark.streams.addListener(listener)
            progress, storage = [], []

            def iterate(i: int) -> Sample:
                # traced, untraced, untraced, traced, ...: over four
                # iterations a steady drift cancels out of the two medians
                listener.events, tracer.storage_peak = [], 0
                if i % 4 in (1, 2):
                    sample = runner.iteration()
                else:
                    tracer.install()
                    try:
                        sample = runner.iteration(tracer)
                    finally:
                        tracer.uninstall()
                progress.append(listener.events)
                storage.append(tracer.storage_peak)
                return sample

            samples = timed_loop(seconds, iterate, MIN_TRACED_RUN_ITERATIONS)
            metrics, detail = traced_readings(samples, tracer, status, progress, storage, cpus)
        else:
            samples = timed_loop(seconds, lambda i: runner.iteration())
            metrics, detail = end_to_end(samples, status, setup_s, retained)
        detail.update(session_s=session_s, setup_s=setup_s,
                      warmup_s=[w.seconds for w in warmups],
                      warmup_step_s=[w.step_s for w in warmups],
                      warmup_problems=[w.problems for w in warmups],
                      samples=[{"seconds": s.seconds, "proc_cpu_s": s.proc_cpu_s,
                                "step_s": s.step_s, "rows": s.rows,
                                "traced": s.traced, "problems": s.problems}
                               for s in samples])
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_after"] = loadavg()
    env["steal_s"] = steal_s() - steal_before
    failed = sum(not s.ok for s in samples + warmups)
    units = declared_units()
    result = {
        "correct": failed == 0,
        "attempted": len(samples) + len(warmups),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    detail["error_ratio"] = failed / result["attempted"]
    return result, {"env": env, "result": result, **detail}


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tables", default=None,
                   help="directory of the four input tables (default: the sf0.01 "
                        "copies in perfbench/tables)")
    args = p.parse_args(argv)
    try:
        import etl_portfolio_project_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in this checkout ({e})", file=sys.stderr)
        return 2
    from perfbench.data import TABLES_DIR

    tables_dir = os.path.abspath(args.tables) if args.tables else TABLES_DIR
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), tables_dir)
    out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"perfbench: detail in {os.path.relpath(out, ROOT)}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
