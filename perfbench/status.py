"""Read Spark's status stores over py4j.

Job ids are allocated in submission order, so the jobs of one timed
interval are exactly the ids between two reads of the scheduler's job
counter, whichever thread submitted them (stream micro-batches run on
their own threads). Counters are summed per stage, each stage once.
The store is read after the timed loop; the session is started with
retention limits high enough that no job of the run is evicted.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, fields

#: confs the status reader needs; none of them changes a query plan
RETENTION_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    output_rows: int = 0

    def add(self, other: Counters) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    def as_dict(self) -> dict:
        return {f.name: getattr(self, f.name) for f in fields(self)}


@dataclass
class Job:
    job_id: int
    group: str | None
    stage_ids: list[int] = field(default_factory=list)


_EXCHANGE_NODE = re.compile(r"[+:]- (?:\* )?Exchange \((\d+)\)")


def executed_exchanges(plan: str) -> int:
    """Distinct shuffle `Exchange` operators in the trees of a formatted
    executed plan, subqueries and cached relations included.

    An adaptive plan prints the plan that ran under `== Final Plan ==`
    and the one it started from under `== Initial Plan ==`, at any depth
    (a cached relation carries its own). A subtree under an initial-plan
    marker did not run: its lines, connected deeper than the marker, are
    skipped. An operator printed more than once (a cached relation read
    twice) has one id and counts once.
    """
    ids, skip_deeper_than = set(), None
    for line in plan.splitlines():
        if not line.strip():  # the end of a tree
            skip_deeper_than = None
            continue
        # the column a node hangs from: its connector, or for the first
        # node under a marker, which has none, its indentation
        col = max(line.rfind("+- "), line.rfind(":- "))
        if col < 0:
            col = len(line) - len(line.lstrip())
        if skip_deeper_than is not None:
            if col > skip_deeper_than:
                continue
            skip_deeper_than = None
        if "== Initial Plan ==" in line:
            skip_deeper_than = col
        elif m := _EXCHANGE_NODE.search(line):
            ids.add(m.group(1))
    return len(ids)


class StatusReader:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stages: dict[int, Counters] = {}

    def job_count(self) -> int:
        """Jobs submitted so far in this session (the next job's id)."""
        return self._sc.dagScheduler().numTotalJobs()

    def execution_count(self) -> int:
        """SQL executions recorded so far (call `drain` first)."""
        return self._sql.executionsCount()

    def drain(self) -> None:
        """Wait until every posted listener event has been applied."""
        self._sc.listenerBus().waitUntilEmpty()

    def jobs(self, first: int, end: int) -> list[Job]:
        out = []
        store = self._sc.statusStore()
        for j in range(first, end):
            data = store.job(j)
            group = data.jobGroup()
            # one call for the ids: iterating a JVM collection over py4j
            # ends in an exception that costs ~0.1 s
            ids = data.stageIds().mkString(",")
            out.append(Job(
                j,
                group.get() if group.isDefined() else None,
                [int(s) for s in ids.split(",") if s],
            ))
        return out

    def stage(self, stage_id: int) -> Counters:
        c = self._stages.get(stage_id)
        if c is None:
            s = self._sc.statusStore().lastStageAttempt(stage_id)
            ran = s.status().toString() != "SKIPPED"
            c = Counters(
                stages=int(ran),
                tasks=s.numCompleteTasks() if ran else 0,
                run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9,
                gc_s=s.jvmGcTime() / 1e3,
                input_bytes=s.inputBytes(),
                input_rows=s.inputRecords(),
                shuffle_read_bytes=s.shuffleReadBytes(),
                shuffle_write_bytes=s.shuffleWriteBytes(),
                output_bytes=s.outputBytes(),
                output_rows=s.outputRecords(),
            )
            self._stages[stage_id] = c
        return c

    def counters(self, jobs: list[Job]) -> Counters:
        total = Counters(jobs=len(jobs))
        seen: set[int] = set()
        for job in jobs:
            for sid in job.stage_ids:
                if sid not in seen:
                    seen.add(sid)
                    total.add(self.stage(sid))
        return total

    def plans(self, first: int, end: int) -> list[str]:
        """Final physical plans (formatted) of SQL executions [first, end)."""
        if end <= first:
            return []
        return [
            e.physicalPlanDescription()
            for e in self._conv.asJava(self._sql.executionsList(first, end - first))
        ]

    def storage_bytes(self) -> int:
        """Bytes currently held by persisted RDDs (memory + disk)."""
        return sum(i.memSize() + i.diskSize() for i in self._sc.getRDDStorageInfo())
