"""Traced passes: spans from the benchmark's side, counts from Spark's.

A traced pass does the same work as an untraced one: it runs every query
under its own job group (``perfbench:<query>``) and times two phases
around the calls into the engine, build (``fn``) and exec (the noop
write).  Planning is read from the engine, not redone: a
``QueryExecutionListener`` registered for the pass keeps the
optimization and planning phases of every SQL execution that ran, noop
writes and build-time collects alike.  After the pass it waits for the
listener bus to drain and reads the jobs, stages and SQL executions the
pass added to Spark's status stores.  A job belongs to the query whose
group it carries or, if its thread did not inherit the group, to the
query whose window it starts in (there is one client); a planning phase
belongs to the query whose window it starts in.

Spans: pass -> query -> {build, exec} -> {job, optimization, planning},
each job and phase under the query phase it started in.  Self times
follow ``layers.self_times``.  ``driver.self_s`` of a query is its wall
time minus the union of its job intervals, so self time plus job-active
time equals wall time.

While a traced pass runs, ``lineage.pin`` and ``functions.literal.
literal_df`` are replaced, in their own module and in every module that
imported them by name, by wrappers that count calls and rows and then
call the original.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

from pyspark.java_gateway import ensure_callback_server_started

from perfbench.layers import Span, interval_union, parse_phases, self_times
from perfbench.stores import PYTHON_METRICS, StatusStores

# per-layer metrics and their units; the first group is summed over the
# queries of a pass
SUMMED = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "lineage.pin_calls": "count",
    "catalyst.plan_s": "s",
    "catalyst.exchanges": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_bytes": "bytes",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "driver.self_s": "s",
    "driver.result_bytes": "bytes",
    "driver.literal_rows": "count",
    "sinks.output_bytes": "bytes",
    "sinks.output_rows": "count",
}
PER_LAYER = {
    **SUMMED,
    "exec.busy_frac": "ratio",  # run_s / (job-active wall x cores)
    "exec.skew_max": "ratio",  # largest max/median task time of any stage
    "sinks.tmp_bytes": "bytes",  # what the pass left in the run's temp dir
    "host.canary_cpu_s": "s",
    "host.canary_shuffle_s": "s",
    "trace.overhead_frac": "ratio",  # traced pass wall / untraced - 1
}
# layers whose self time can dominate a query
LAYERS = ("plans", "catalyst", "driver", "exec", "shuffle", "python")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            with contextlib.suppress(OSError):
                total += os.lstat(os.path.join(root, f)).st_size
    return total


class Counters:
    """Calls into ``lineage.pin`` and rows into ``literal_df``."""

    def __init__(self):
        self.pin_calls = 0
        self.literal_rows = 0


@contextlib.contextmanager
def wrapped_engine(counters: Counters):
    """Install the counting wrappers; restore the originals on exit."""
    from openseizuredatabase_spark import lineage
    from openseizuredatabase_spark.functions import literal

    pin, literal_df = lineage.pin, literal.literal_df

    def counted_pin(df):
        counters.pin_calls += 1
        return pin(df)

    def counted_literal_df(spark, rows, ddl):
        rows = list(rows)
        counters.literal_rows += len(rows)
        return literal_df(spark, rows, ddl)

    patched = []
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("openseizuredatabase_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            if value is pin or value is literal_df:
                patched.append((mod, attr, value))
                setattr(mod, attr, counted_pin if value is pin else counted_literal_df)
    try:
        yield
    finally:
        for mod, attr, value in patched:
            setattr(mod, attr, value)


class PlanningListener:
    """A ``QueryExecutionListener``, served through py4j's callback
    server, that keeps the optimization and planning phases of every SQL
    execution that ends while it is registered: the planning the engine
    did for the executions that actually ran, noop writes included."""

    PHASES = ("optimization", "planning")

    def __init__(self, spark):
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager = spark._jsparkSession.listenerManager()
        self.phases: set[tuple[str, float, float]] = set()

    @contextlib.contextmanager
    def registered(self):
        self.phases = set()
        self._manager.register(self)
        try:
            yield self
        finally:
            self._manager.unregister(self)

    def _keep(self, qe) -> None:
        # a QueryExecution that runs twice reports the same phases twice
        for phase, (start, end) in parse_phases(qe.tracker().phases().mkString(" | ")).items():
            if phase in self.PHASES:
                self.phases.add((phase, start, end))

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        self._keep(qe)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        self._keep(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    def __init__(self, run, cpus: int, tmp_dir: str):
        self.run = run
        self.cpus = cpus
        self.tmp_dir = tmp_dir
        self.stores = StatusStores(run.spark)
        self.listener = PlanningListener(run.spark)
        self.spans: list[Span] = []
        self.passes: list[dict] = []  # per-pass layer totals
        self.queries: list[dict] = []  # per-query records, all passes

    def traced_pass(self) -> None:
        run, sc = self.run, self.run.spark.sparkContext
        self.stores.drain()
        job0, ex0 = self.stores.max_job_id(), self.stores.max_execution_id()
        tmp0 = dir_bytes(self.tmp_dir)
        counters = Counters()
        windows = []  # (name, start, build_end, end, pins, literal rows)

        def traced(name: str) -> None:
            pins, rows = counters.pin_calls, counters.literal_rows
            sc.setJobGroup(f"perfbench:{name}", name)
            try:
                t0 = time.time()
                df = run.build(name)
                t1 = time.time()
                run.execute(df)
                t2 = time.time()
            finally:
                sc._jsc.clearJobGroup()
            windows.append((name, t0, t1, t2, counters.pin_calls - pins,
                            counters.literal_rows - rows))

        with wrapped_engine(counters), self.listener.registered() as listener:
            start, wall = run.run_pass(traced)
            self.stores.drain()  # every execution's phases have arrived
        jobs = self.stores.jobs_after(job0)
        executions = self.stores.executions_after(ex0)
        self._record(start, start + wall, windows, jobs, executions, listener.phases,
                     dir_bytes(self.tmp_dir) - tmp0)

    def _record(self, start, end, windows, jobs, executions, phases, tmp_bytes) -> None:
        pass_idx = len(self.spans)
        self.spans.append(Span("pass", start, end, None, {"n": len(self.passes)}))
        by_query: dict[str, list] = {w[0]: [] for w in windows}
        for job in jobs:
            owner = None
            if job.group and job.group.startswith("perfbench:"):
                owner = job.group[len("perfbench:"):]
            else:
                owner = next((w[0] for w in windows if w[1] <= job.start <= w[3]), None)
            if owner in by_query:
                by_query[owner].append(job)
        # the tracker's clock ticks in milliseconds: allow one tick
        planning: dict[str, list] = {w[0]: [] for w in windows}
        for phase in phases:
            owner = next((w[0] for w in windows if w[1] - 1e-3 <= phase[1] <= w[3]), None)
            if owner is not None:
                planning[owner].append(phase)
        totals = dict.fromkeys(SUMMED, 0.0)
        totals.update({"exec.skew_max": 1.0, "job_active_s": 0.0, "wall_s": end - start})
        layer_time = dict.fromkeys(LAYERS, 0.0)
        for name, t0, t1, t2, pins, literal_rows in windows:
            q = self._query(pass_idx, name, t0, t1, t2, by_query[name], executions,
                            planning[name])
            q["lineage.pin_calls"] = pins
            q["driver.literal_rows"] = literal_rows
            self.queries.append(q)
            for key in SUMMED:
                totals[key] += q[key]
            totals["exec.skew_max"] = max(totals["exec.skew_max"], q["exec.skew_max"])
            totals["job_active_s"] += q["job_active_s"]
            for layer in LAYERS:
                layer_time[layer] += q["layer_s"][layer]
        totals["exec.busy_frac"] = (
            totals["exec.run_s"] / (totals["job_active_s"] * self.cpus)
            if totals["job_active_s"] > 0 else 0.0
        )
        totals["sinks.tmp_bytes"] = tmp_bytes
        totals["layer_s"] = layer_time
        self.passes.append(totals)

    def _query(self, pass_idx, name, t0, t1, t2, jobs, executions, planning) -> dict:
        spans = self.spans
        q_idx = len(spans)
        spans.append(Span(name, t0, t2, pass_idx))
        build_idx, exec_idx = q_idx + 1, q_idx + 2
        spans.append(Span("build", t0, t1, q_idx))
        spans.append(Span("exec", t1, t2, q_idx))
        build_jobs = 0
        for job in jobs:
            build_jobs += job.start < t1
            spans.append(Span(f"job {job.job_id}", job.start, job.end,
                              build_idx if job.start < t1 else exec_idx,
                              {"stages": job.stage_ids}))
        for phase, a, b in sorted(planning, key=lambda p: p[1]):
            spans.append(Span(phase, a, b, build_idx if a < t1 else exec_idx))
        catalyst = [(a, b) for _phase, a, b in planning]
        job_active = interval_union([(j.start, j.end) for j in jobs], t0, t2)
        seen, stages = set(), []
        for job in jobs:
            for sid in job.stage_ids:
                if sid not in seen:
                    seen.add(sid)
                    stage = self.stores.stage(sid)
                    if stage is not None:
                        stages.append(stage)
        job_ids = {j.job_id for j in jobs}
        mine = [e for e in executions
                if job_ids.intersection(e.job_ids) or (not e.job_ids and t0 <= e.start <= t2)]
        python = {key: sum(e.python.get(key, 0.0) for e in mine)
                  for key in PYTHON_METRICS.values()}
        wall = t2 - t0
        run_s = sum(s.run_s for s in stages)
        rec = {
            "query": name,
            "pass": len(self.passes),
            "wall_s": wall,
            "plans.build_s": t1 - t0,
            "plans.build_jobs": build_jobs,
            "catalyst.plan_s": sum(b - a for a, b in catalyst),
            "catalyst.exchanges": sum(e.exchanges for e in mine),
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": sum(s.tasks for s in stages),
            "exec.run_s": run_s,
            "exec.cpu_s": sum(s.cpu_s for s in stages),
            "exec.gc_s": sum(s.gc_s for s in stages),
            "exec.failed_tasks": sum(s.failed_tasks for s in stages),
            "exec.skew_max": max((s.skew for s in stages), default=1.0),
            "shuffle.write_bytes": sum(s.shuffle_write_bytes for s in stages),
            "shuffle.read_bytes": sum(s.shuffle_read_bytes for s in stages),
            "shuffle.fetch_wait_s": sum(s.shuffle_fetch_wait_s for s in stages),
            "shuffle.spill_bytes": sum(s.spill_bytes for s in stages),
            **python,
            "sources.input_bytes": sum(s.input_bytes for s in stages),
            "sources.input_rows": sum(s.input_rows for s in stages),
            "driver.self_s": wall - job_active,
            "driver.result_bytes": sum(s.result_bytes for s in stages),
            "sinks.output_bytes": sum(s.output_bytes for s in stages),
            "sinks.output_rows": sum(s.output_rows for s in stages),
            "job_active_s": job_active,
        }
        rec["coverage"] = (rec["driver.self_s"] + job_active) / wall if wall > 0 else 1.0
        # exclusive layer times: build self time is plans, optimization
        # and planning are catalyst, the rest of the driver's self time is
        # driver, and the job-active time splits by each layer's share of
        # task time
        selfs = self_times([
            Span(s.name, s.start, s.end, None if s.parent < q_idx else s.parent - q_idx)
            for s in spans[q_idx:]
        ])
        plans_s = selfs[build_idx - q_idx]
        catalyst_s = interval_union(catalyst, t0, t2)
        py_s = min(python["python.run_s"], run_s)
        shuffle_task_s = min(
            rec["shuffle.fetch_wait_s"] + sum(s.shuffle_write_s for s in stages), run_s - py_s
        )
        share = job_active / run_s if run_s > 0 else 0.0
        rec["layer_s"] = {
            "plans": plans_s,
            "catalyst": catalyst_s,
            "driver": max(rec["driver.self_s"] - plans_s - catalyst_s, 0.0),
            "exec": job_active - (py_s + shuffle_task_s) * share,
            "shuffle": shuffle_task_s * share,
            "python": py_s * share,
        }
        rec["dominant_layer"] = max(rec["layer_s"], key=rec["layer_s"].get)
        return rec

    def summary(self, untraced_wall_s: float) -> dict:
        """Per-layer metrics: the median over traced passes of each pass
        total, plus the trace's own overhead against untraced passes."""
        out = {
            key: statistics.median(p[key] for p in self.passes)
            for key in (*SUMMED, "exec.busy_frac", "exec.skew_max", "sinks.tmp_bytes")
        }
        traced_wall = statistics.median(p["wall_s"] for p in self.passes)
        out["trace.overhead_frac"] = traced_wall / untraced_wall_s - 1.0
        layer_s = {layer: sum(p["layer_s"][layer] for p in self.passes) for layer in LAYERS}
        return {
            "metrics": out,
            "layer_s": layer_s,
            "dominant_layer": max(layer_s, key=layer_s.get),
            "queries": self.queries,
        }

    def spans_out(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "self_s": st, **s.attrs}
            for s, st in zip(self.spans, selfs)
        ]
