"""Read Spark's live status store through py4j (the UI may be off).

Jobs are selected by job group: the benchmark sets a group before it
calls into the program, and every job the call starts carries it. Phases
of a call are keyed by the job's action (``collect``, ``parquet``, …,
taken from the job name ``"<action> at <call site>"``) and by the table
the query touches (a path the benchmark chose), never by a line number.
"""

from __future__ import annotations

from dataclasses import dataclass, field


def _iter(scala_iterable):
    it = scala_iterable.iterator()
    while it.hasNext():
        yield it.next()


def _epoch_s(opt_date) -> float | None:
    return opt_date.get().getTime() / 1000.0 if opt_date.isDefined() else None


@dataclass
class StageInfo:
    num_tasks: int
    run_ms: int
    shuffle_write_bytes: int
    spill_bytes: int
    task_ms: list[int]


@dataclass
class Execution:
    """One SQL execution (one DataFrame action) and its jobs."""
    action: str
    start: float
    end: float
    plan: str
    job_ids: list[int] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass
class GroupReport:
    job_ids: list[int]
    executions: list[Execution]
    # jobs that ran outside any SQL execution (e.g. parallel file listing)
    loose_jobs: list[Execution]
    stages: list[StageInfo]

    @property
    def shuffle_write_bytes(self) -> int:
        return sum(s.shuffle_write_bytes for s in self.stages)

    @property
    def spill_bytes(self) -> int:
        return sum(s.spill_bytes for s in self.stages)

    def task_max_over_median(self) -> float:
        """Max over median task time in the stage that ran longest (the
        stage whose skew costs the most wall time)."""
        busiest = max((s for s in self.stages if s.task_ms),
                      key=lambda s: s.run_ms, default=None)
        if busiest is None:
            return 1.0
        ordered = sorted(busiest.task_ms)
        med = ordered[(len(ordered) - 1) // 2]
        return max(ordered) / med if med > 0 else 1.0


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._store = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def _stage(self, stage_id: int) -> StageInfo | None:
        sd = self._store.lastStageAttempt(stage_id)
        if sd.status().toString() != "COMPLETE":
            return None  # skipped: its shuffle output was reused
        tasks = [t.duration().get() for t in _iter(self._store.taskList(
            stage_id, sd.attemptId(), sd.numTasks()))
            if t.duration().isDefined()]
        return StageInfo(sd.numTasks(), sd.executorRunTime(),
                         sd.shuffleWriteBytes(),
                         sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                         tasks)

    def group_report(self, group: str) -> GroupReport:
        ids = self.job_ids(group)
        wanted = set(ids)
        jobs = {j: self._store.job(j) for j in ids}
        executions: list[Execution] = []
        in_exec: set[int] = set()
        for e in _iter(self._sql.executionsList()):
            ejobs = sorted(int(k) for k in _iter(e.jobs().keys()))
            if not ejobs or not wanted.issuperset(ejobs):
                continue
            in_exec.update(ejobs)
            end = _epoch_s(e.completionTime())
            executions.append(Execution(
                action=jobs[ejobs[0]].name().split(" at ")[0],
                start=e.submissionTime() / 1000.0,
                end=end if end is not None else e.submissionTime() / 1000.0,
                plan=e.physicalPlanDescription(), job_ids=ejobs))
        loose = []
        for j in ids:
            if j in in_exec:
                continue
            jd = jobs[j]
            start = _epoch_s(jd.submissionTime()) or 0.0
            # a job outside SQL (file listing) names its paths in its
            # description
            desc = jd.description()
            loose.append(Execution(
                action=jd.name().split(" at ")[0], start=start,
                end=_epoch_s(jd.completionTime()) or start,
                plan=desc.get() if desc.isDefined() else jd.name(),
                job_ids=[j]))
        stages = []
        for j in ids:
            for sid in _iter(jobs[j].stageIds()):
                info = self._stage(int(sid))
                if info is not None:
                    stages.append(info)
        return GroupReport(ids, executions, loose, stages)


def classify(ex: Execution, tables: dict[str, str]) -> str:
    """Phase name of an execution: the first ``tables`` entry (name →
    path) whose path the plan mentions, prefixed by ``write`` or the
    action. ``tables`` is ordered: list a table before any table its
    queries also read."""
    is_write = "InsertIntoHadoopFsRelationCommand" in ex.plan
    for name, path in tables.items():
        if path in ex.plan:
            return f"{'write' if is_write else ex.action}:{name}"
    return f"{'write' if is_write else ex.action}:other"
