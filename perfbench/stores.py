"""Read Spark's own status stores after a traced pass.

Both stores are filled by listeners whether or not the web UI runs
(``spark.ui.enabled=false`` in this engine's session):

- the core store, ``sc._jsc.sc().statusStore()``: jobs with their job
  group and submit/complete times, and per-stage task totals;
- the SQL store, ``sharedState().statusStore()``: per-execution SQL
  metrics (the Python-worker timings and bytes) and the final adaptive
  plan.

Only Spark's public status-store classes are called, through py4j; one
round trip returns each Scala collection as a string where possible.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench.layers import count_exchanges, parse_sql_metric

PYTHON_METRICS = {
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
}


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    stage_ids: list[int]


@dataclass
class Stage:
    stage_id: int
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    input_rows: int
    output_bytes: int
    output_rows: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    shuffle_fetch_wait_s: float
    shuffle_write_s: float
    spill_bytes: int
    result_bytes: int
    skew: float  # max / median task run time; 1.0 for a single task


@dataclass
class Execution:
    execution_id: int
    start: float
    job_ids: list[int]
    exchanges: int
    python: dict = field(default_factory=dict)


def _ids(scala_iterable) -> list[int]:
    text = scala_iterable.mkString(",")
    return [int(x) for x in text.split(",") if x]


def _opt_time(option) -> float | None:
    return option.get().getTime() / 1000.0 if option.isDefined() else None


class StatusStores:
    """Handles to both stores of one session, plus the cursors that
    separate what a pass added from what was there before it."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._core = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gateway = spark.sparkContext._gateway
        self._quantiles = gateway.new_array(gateway.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def drain(self) -> None:
        """Block until every queued listener event reached the stores."""
        self._bus.waitUntilEmpty()

    def max_job_id(self) -> int:
        return max(_ids_from_list(self._core.jobsList(None), "jobId"), default=-1)

    def max_execution_id(self) -> int:
        ids = _ids_from_list(self._sql.executionsList(), "executionId")
        return max(ids, default=-1)

    def jobs_after(self, job_id: int) -> list[Job]:
        out = []
        for jd in _iterate(self._core.jobsList(None)):
            jid = jd.jobId()
            if jid <= job_id:
                continue
            start = _opt_time(jd.submissionTime())
            end = _opt_time(jd.completionTime())
            if start is None:  # never submitted (all stages skipped)
                continue
            group = jd.jobGroup()
            out.append(
                Job(
                    job_id=jid,
                    group=group.get() if group.isDefined() else None,
                    start=start,
                    end=end if end is not None else start,
                    stage_ids=_ids(jd.stageIds()),
                )
            )
        out.sort(key=lambda j: j.job_id)
        return out

    def stage(self, stage_id: int) -> Stage | None:
        """Totals of a stage's last attempt; ``None`` if it was skipped
        (its output was reused) or has left the store."""
        try:
            sd = self._core.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - py4j wraps NoSuchElementException
            return None
        if sd.status().toString() in ("SKIPPED", "PENDING"):
            return None
        tasks = sd.numTasks()
        skew = 1.0
        if tasks > 1:
            summary = self._core.taskSummary(stage_id, sd.attemptId(), self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                skew = top / med if med > 0 else 1.0
        return Stage(
            stage_id=stage_id,
            tasks=tasks,
            failed_tasks=sd.numFailedTasks(),
            run_s=sd.executorRunTime() / 1e3,
            cpu_s=sd.executorCpuTime() / 1e9,
            gc_s=sd.jvmGcTime() / 1e3,
            input_bytes=sd.inputBytes(),
            input_rows=sd.inputRecords(),
            output_bytes=sd.outputBytes(),
            output_rows=sd.outputRecords(),
            shuffle_read_bytes=sd.shuffleReadBytes(),
            shuffle_write_bytes=sd.shuffleWriteBytes(),
            shuffle_fetch_wait_s=sd.shuffleFetchWaitTime() / 1e3,
            shuffle_write_s=sd.shuffleWriteTime() / 1e9,
            spill_bytes=sd.diskBytesSpilled(),
            result_bytes=sd.resultSize(),
            skew=skew,
        )

    def executions_after(self, execution_id: int) -> list[Execution]:
        out = []
        for ex in _iterate(self._sql.executionsList()):
            eid = ex.executionId()
            if eid <= execution_id:
                continue
            out.append(self._execution(ex))
        return out

    def _execution(self, ex) -> Execution:
        eid = ex.executionId()
        wanted = {}
        for entry in ex.metrics().mkString("\n").splitlines():
            # SQLPlanMetric(name,accumulatorId,metricType)
            body = entry[len("SQLPlanMetric(") : -1]
            name, acc, _kind = body.rsplit(",", 2)
            if name in PYTHON_METRICS:
                wanted[int(acc)] = PYTHON_METRICS[name]
        python: dict[str, float] = {}
        if wanted:
            # one round trip; values hold newlines, so split on RS
            rendered = self._sql.executionMetrics(eid).mkString("\x1e")
            for entry in rendered.split("\x1e"):
                acc, _, value = entry.partition(" -> ")
                key = wanted.get(int(acc)) if acc else None
                if key is not None:
                    python[key] = python.get(key, 0.0) + parse_sql_metric(value)
        return Execution(
            execution_id=eid,
            start=ex.submissionTime() / 1000.0,
            job_ids=_ids(ex.jobs().keys()),
            exchanges=count_exchanges(ex.physicalPlanDescription()),
            python=python,
        )


def _iterate(java_list):
    it = java_list.iterator()
    while it.hasNext():
        yield it.next()


def _ids_from_list(java_list, getter: str) -> list[int]:
    return [getattr(x, getter)() for x in _iterate(java_list)]
