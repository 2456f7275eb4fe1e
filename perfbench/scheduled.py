"""Scheduled-pipeline workloads: DAGs registered on ``Scheduler`` with a
``RunStateStore`` in their run kwargs, driven by ``run_pending(now=…)``
on a simulated clock, with one client that reads the control plane
after every poll.

One op is one pipeline run, timed from its cron due instant (the real
time ``run_pending`` is called for the simulated tick) to its run record
being committed by ``RunStateStore.record_run``. The reads after a poll
(``GET /stats``, ``GET /pipelines/{name}``, one ``xcom_pull``) are not
part of any op's latency but do take time from the run, so they lower
ops per minute.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass, field

from .trace import Tracer, median

#: the reference DAGs' 60 s DagRun budget: a run committed later than
#: this after its due instant counts as timed out
RUN_BUDGET_S = 60.0


def critical_path(pipeline, run) -> float:
    """Longest dependency chain of task elapsed times in one run."""
    finish: dict[str, float] = {}
    for name in pipeline._topo_order():
        res = run.tasks.get(name)
        finish[name] = (res.elapsed if res else 0.0) + max(
            (finish[d] for d in pipeline.tasks[name].depends_on), default=0.0
        )
    return max(finish.values(), default=0.0)


@dataclass
class Commit:
    pipeline: object
    run: object
    start: float
    end: float
    jobs: int


class StoreProbe:
    """Delegates to a ``RunStateStore`` and timestamps every
    ``record_run``: the commit instant ends an op. While tracing it
    also reads the Spark job counter at each commit, so each run's jobs
    are the counter's delta since the previous commit."""

    def __init__(self, store, tracer: Tracer, jobs):
        self._store = store
        self._tracer = tracer
        self.jobs = jobs
        self.commits: list[Commit] = []
        self.job_mark = 0

    def record_run(self, pipeline, run) -> None:
        t0 = time.perf_counter()
        jobs = 0
        if self._tracer.on:
            now = self._tracer.charge(self.jobs)
            jobs, self.job_mark = now - self.job_mark, now
        self._store.record_run(pipeline, run)
        t1 = time.perf_counter()
        if self._tracer.on:
            self.job_mark = self._tracer.charge(self.jobs)
        self.commits.append(Commit(pipeline, run, t0, t1, jobs))

    def __getattr__(self, name):
        return getattr(self._store, name)


@dataclass
class Layers:
    """Per-layer samples gathered on traced ops."""

    fires: int = 0
    retries: int = 0
    run_s: list = field(default_factory=list)
    task_s: list = field(default_factory=list)
    overhead_s: list = field(default_factory=list)
    jobs: list = field(default_factory=list)


Op = tuple[float, bool, str]


class ScheduledWorkload:
    """Subclasses set ``now`` (the simulated start) and ``tick``, and
    provide ``generate``, ``pipelines``, ``expected_fires``,
    ``check_run`` and ``xcom_expectation``."""

    tick: dt.timedelta
    #: DAG variables passed with every scheduled run
    variables: dict[str, str] = {}
    #: polls after the first one that still run before timing starts
    warm_polls = 0

    def __init__(self, seed: int, workdir: str, tracer: Tracer):
        self.seed = seed
        self.workdir = workdir
        self.tracer = tracer
        self.first = True
        self.tick_no = 0
        self.runs_by: dict[str, int] = {}
        self.ok_by: dict[str, int] = {}
        self.layers = Layers()
        self.check_s = 0.0
        self.state_dir = os.path.join(workdir, "state")

    # -- hooks -------------------------------------------------------------

    def pipelines(self, spark) -> list:
        raise NotImplementedError

    def expected_fires(self, fire: dt.datetime, first: bool) -> set[str]:
        raise NotImplementedError

    def check_run(self, commit: Commit, fire: dt.datetime) -> str | None:
        raise NotImplementedError

    def xcom_expectation(self) -> tuple[str, str, object]:
        """(pipeline, task, value) the client's ``xcom_pull`` must read."""
        raise NotImplementedError

    # -- run loop ----------------------------------------------------------

    def setup(self, spark) -> None:
        from airflow_spark.pipeline import ControlPlane, RunStateStore, Scheduler

        with self.tracer.span("catalog.load"):
            self.dags = self.pipelines(spark)
            tracker = spark.sparkContext.statusTracker()
            self.probe = StoreProbe(
                RunStateStore(spark, self.state_dir),
                self.tracer,
                lambda: max(tracker.getJobIdsForGroup(None), default=-1) + 1,
            )
            self.scheduler = Scheduler(spark)
            for p in self.dags:
                self.scheduler.register(
                    p, variables=self.variables, state_store=self.probe, profile="dev"
                )
            self.api = ControlPlane(
                spark, self.dags, state_store=self.probe, scheduler=self.scheduler
            )
        if self.tracer.enabled:
            for p in self.dags:
                for t in p.tasks.values():
                    if t.expand_over is not None:
                        t.fn = self._element_probe(t.fn)

    def _element_probe(self, fn):
        def probed(ctx, element):
            t0 = time.perf_counter()
            try:
                return fn(ctx, element)
            finally:
                self.tracer.add("pipeline.core.expand_element", t0, time.perf_counter())

        return probed

    def warm_up(self) -> None:
        """The first poll fires every registered DAG once (catchup=False
        runs the latest interval of the past day); ``warm_polls`` more
        follow it."""
        for _ in range(1 + self.warm_polls):
            bad = [d for _, ok, d in self.step() if not ok]
            if bad:
                raise RuntimeError(f"warm-up poll failed: {bad}")
        self.take_check_s()

    def take_check_s(self) -> float:
        s, self.check_s = self.check_s, 0.0
        return s

    def boundary(self) -> bool:
        return True  # a poll always completes within one step

    def finish(self) -> list[str]:
        return []

    def step(self) -> list[Op]:
        """One closed-loop client step: poll the scheduler at the next
        simulated tick, then read the control plane."""
        tr = self.tracer
        tr.op = self.tick_no
        self.probe.commits = []
        if tr.on:
            self.probe.job_mark = tr.charge(self.probe.jobs)
        mark = len(tr.spans)
        due = time.perf_counter()
        with tr.span("pipeline.scheduler.tick"):
            runs = self.scheduler.run_pending(now=self.now)
        fire = self.now
        c0 = time.perf_counter()
        ops: list[Op] = []
        errors: list[str] = []
        fired = {c.pipeline.name for c in self.probe.commits}
        want = self.expected_fires(fire, self.first)
        if fired != want or len(runs) != len(self.probe.commits):
            errors.append(f"poll {fire}: fired {sorted(fired)}, expected {sorted(want)}")
        for c in self.probe.commits:
            name = c.pipeline.name
            latency = c.end - due
            err = self.check_run(c, fire)
            if err is None and latency > RUN_BUDGET_S:
                err = f"{name}@{fire}: committed {latency:.1f}s after due"
            ops.append((latency, err is None, err or ""))
            self.runs_by[name] = self.runs_by.get(name, 0) + 1
            self.ok_by[name] = self.ok_by.get(name, 0) + (c.run.status == "success")
            if tr.on:
                self._trace_commit(c, mark)
        self.check_s += time.perf_counter() - c0
        errors += self._read_control_plane()
        if errors:
            ops = [(lat, False, "; ".join(errors)) for lat, _, _ in ops] or [
                (0.0, False, "; ".join(errors))
            ]
        self.first = False
        self.now += self.tick
        self.tick_no += 1
        return ops

    def _trace_commit(self, c: Commit, mark: int) -> None:
        tr, lay = self.tracer, self.layers
        run_start = c.start - c.run.elapsed
        run_sid = tr.add("pipeline.core.run", run_start, c.start)
        for s in tr.spans[mark:]:
            if s.name == "pipeline.core.expand_element" and run_start <= s.start <= c.start:
                s.parent = run_sid
        tr.add("pipeline.state.record", c.start, c.end)
        lay.fires += 1
        lay.run_s.append(c.run.elapsed)
        lay.overhead_s.append(c.run.elapsed - critical_path(c.pipeline, c.run))
        lay.jobs.append(c.jobs)
        for res in c.run.tasks.values():
            if res.status in ("success", "failed"):
                lay.task_s.append(res.elapsed)
            lay.retries += max(res.attempts - 1, 0)
            for el in res.elements or ():
                lay.retries += max(el.get("attempts", 1) - 1, 0)

    def _read_control_plane(self) -> list[str]:
        errors = []
        with self.tracer.span("pipeline.api.stats"):
            status, body = self.api.dispatch("GET", "/stats")
        got = {r["pipeline"]: (r["n_runs"], r["n_success"]) for r in body.get("pipelines", [])}
        want = {k: (n, self.ok_by[k]) for k, n in self.runs_by.items()}
        if status != 200 or got != want:
            errors.append(f"GET /stats -> {status} {got}, expected {want}")
        p = self.dags[self.tick_no % len(self.dags)]
        with self.tracer.span("pipeline.api.pipeline"):
            status, body = self.api.dispatch("GET", f"/pipelines/{p.name}")
        if status != 200 or set(body.get("tasks", {})) != set(p.tasks):
            errors.append(f"GET /pipelines/{p.name} -> {status}")
        pipeline, task, value = self.xcom_expectation()
        with self.tracer.span("pipeline.state.xcom_pull"):
            got_value = self.probe.xcom_pull(pipeline, task)
        if got_value != value:
            errors.append(f"xcom_pull {pipeline}.{task} -> {got_value!r}, expected {value!r}")
        return errors

    def per_layer(self) -> dict[str, float]:
        d, lay = self.tracer.durations, self.layers
        n_files = sum(
            f.endswith(".parquet") for _, _, fs in os.walk(self.state_dir) for f in fs
        )
        return {
            "pipeline.scheduler.tick_s": median(d("pipeline.scheduler.tick")),
            "pipeline.scheduler.fires": lay.fires,
            "pipeline.core.run_s": median(lay.run_s),
            "pipeline.core.task_s": median(lay.task_s),
            "pipeline.core.expand_element_s": median(d("pipeline.core.expand_element")),
            "pipeline.core.overhead_s": median(lay.overhead_s),
            "pipeline.core.spark_jobs": median(lay.jobs),
            "pipeline.core.retries": lay.retries,
            "pipeline.state.record_s": median(d("pipeline.state.record")),
            "pipeline.state.files": n_files,
            "pipeline.state.xcom_pull_s": median(d("pipeline.state.xcom_pull")),
            "pipeline.api.stats_s": median(d("pipeline.api.stats")),
            "pipeline.api.pipeline_s": median(d("pipeline.api.pipeline")),
        }
