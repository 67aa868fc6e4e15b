"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded by the benchmark's own code around its calls into
each layer's public functions. Every span carries its name, start,
end, parent span and op id, and is kept in memory until the run writes
them out at exit. Each span also sets the Spark job group to
``op<id>:<span>``, so that every job the span launches can be read
back from Spark's status store and charged to that span.

In an untraced run ``Tracer(enabled=False)`` makes every span a no-op:
no job groups are set and the status store is never read.

``Tracer.problems`` checks the charging of jobs to spans, which every
job-based per-layer figure rests on: every job the op submitted must
be charged to one of its spans, and run inside that span.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

# how far, in seconds, a job's recorded start or end may lie outside
# the span charged with it
JOB_SLACK_S = 0.05


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""


@dataclass
class Job:
    job_id: int
    group: str
    start: float
    end: float
    stages: int
    tasks: int
    executor_run_s: float
    executor_cpu_s: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class OpTrace:
    op_id: int
    kind: str
    start: float
    end: float = 0.0
    spans: list[Span] = field(default_factory=list)
    jobs: list[Job] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    # ids of the Spark jobs submitted while the op ran: [first, next)
    first_job: int = 0
    next_job: int = 0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(iv: list[tuple[float, float]], lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in iv if min(e, hi) > max(s, lo)]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.ops: list[OpTrace] = []
        self._op: OpTrace | None = None
        self._stack: list[Span] = []
        self._next_span = 0

    # -- recording -----------------------------------------------------

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        """One op: the root of its spans. The op's own root span has the
        op's name, so a layer that owns the whole op (the orchestrator's
        tick) is the root span itself."""
        if not self.enabled:
            yield None
            return
        dag = self.spark.sparkContext._jsc.sc().dagScheduler()
        rec = OpTrace(op_id, kind, time.time(), first_job=dag.nextJobId())
        self._op = rec
        try:
            with self.span(kind):
                yield rec
        finally:
            rec.end = time.time()
            rec.next_job = dag.nextJobId()
            self._op = None
            self.spark.sparkContext.setJobGroup("perfbench:idle", "between ops")
            self._collect_jobs(rec)
            self.ops.append(rec)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled or self._op is None:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            self._next_span,
            name,
            self._op.op_id,
            parent.span_id if parent else None,
            time.time(),
            group=f"op{self._op.op_id}:{name}:{self._next_span}",
        )
        self._next_span += 1
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, f"perfbench op {sp.op_id} {name}")
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._op.spans.append(sp)
            if parent is not None:
                sc.setJobGroup(parent.group, f"perfbench op {sp.op_id} {parent.name}")

    def catalyst(self, df) -> None:
        """Count the Catalyst phase times of ``df``'s query execution."""
        if not (self.enabled and self._op is not None):
            return
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            if p.isDefined():
                self.count(f"catalyst.{phase}_s", p.get().durationMs() / 1e3)

    def count(self, name: str, value: float) -> None:
        """A count recorded at the current span boundary."""
        if self.enabled and self._op is not None:
            self._op.counts[name] = self._op.counts.get(name, 0) + value

    # -- status store --------------------------------------------------

    def _collect_jobs(self, rec: OpTrace) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # job-end events reach the status store through the async
        # listener bus; drain it so the op's last jobs are visible
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for sp in rec.spans:
            for jid in tracker.getJobIdsForGroup(sp.group):
                jd = store.job(jid)
                sub, done = jd.submissionTime(), jd.completionTime()
                start = sub.get().getTime() / 1000 if sub.isDefined() else sp.start
                end = done.get().getTime() / 1000 if done.isDefined() else sp.end
                job = Job(jid, sp.group, start, end, 0, 0, 0.0, 0.0, 0, 0, 0)
                it = jd.stageIds().iterator()
                while it.hasNext():
                    sd = store.lastStageAttempt(it.next())
                    if sd.status().toString() == "SKIPPED":
                        continue
                    job.stages += 1
                    job.tasks += sd.numTasks()
                    job.executor_run_s += sd.executorRunTime() / 1e3
                    job.executor_cpu_s += sd.executorCpuTime() / 1e9
                    job.shuffle_read_bytes += sd.shuffleReadBytes()
                    job.shuffle_write_bytes += sd.shuffleWriteBytes()
                    job.spill_bytes += sd.diskBytesSpilled()
                rec.jobs.append(job)

    # -- accounting ----------------------------------------------------

    @staticmethod
    def breakdown(rec: OpTrace) -> dict:
        """Self time per span name for one op, with Spark job time.

        A span's self time is its duration minus the time its child
        spans cover; it includes the Spark jobs the span launched
        itself. ``driver_gap_s`` is the op's wall time minus the time
        any of its jobs ran."""
        wall = rec.end - rec.start
        children: dict[int, list[Span]] = {}
        for sp in rec.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        self_s: dict[str, float] = {}
        for sp in rec.spans:
            kids = [(c.start, c.end) for c in children.get(sp.span_id, [])]
            covered = _union(_clip(kids, sp.start, sp.end))
            self_s[sp.name] = self_s.get(sp.name, 0.0) + sp.end - sp.start - covered
        job_union = _union(_clip([(j.start, j.end) for j in rec.jobs], rec.start, rec.end))
        return {
            "wall_s": wall,
            "self_s": self_s,
            "job_s": job_union,
            "driver_gap_s": wall - job_union,
        }

    @staticmethod
    def problems(rec: OpTrace) -> list[str]:
        """What is wrong with the charging of ``rec``'s jobs: a job the
        op submitted that no span's job group claims (a layer that runs
        jobs on another thread, or sets its own job group), or a job
        that ran outside the span charged with it. The status store
        keeps milliseconds, and posts a job's end just after the caller
        resumes, hence ``JOB_SLACK_S``."""
        out = []
        lost = sorted(set(range(rec.first_job, rec.next_job)) - {j.job_id for j in rec.jobs})
        if lost:
            out.append(f"jobs {lost} are charged to no span")
        spans = {sp.group: sp for sp in rec.spans}
        for j in rec.jobs:
            sp = spans[j.group]
            if j.start < sp.start - JOB_SLACK_S or j.end > sp.end + JOB_SLACK_S:
                out.append(
                    f"job {j.job_id} ran {j.start - sp.start:.3f}..{j.end - sp.start:.3f} s "
                    f"into span {sp.name} of {sp.end - sp.start:.3f} s"
                )
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for rec in self.ops:
                fh.write(json.dumps(asdict(rec)) + "\n")
