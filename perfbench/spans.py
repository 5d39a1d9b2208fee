"""In-memory spans with Spark job/stage/task counts, kept in the benchmark.

A span records its name, start, end and parent.  A *Spark* span also sets
the thread's job group to its name while it is the innermost span, and on
exit reads ``statusTracker`` for the jobs that group ran, then restores
the parent's job group.  So a span's own counts are the jobs that ran
while it was innermost; totals add the children's.  Driver-only spans
(pure numpy kernels) skip the job-group calls.

``instrument`` wraps the layer entry points of the package for the
duration of a traced operation, patching the names where ``detection``
looks them up, and restores them on exit.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
DESC_KEY = "spark.job.description"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    spark: bool
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0


class NullTracer:
    """Untraced runs: the same call sites, no recording."""

    recording = False

    @contextlib.contextmanager
    def span(self, name: str, *, spark: bool = True):
        yield None


class Tracer:
    recording = True

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.counters: dict[str, int] = {}
        self._stack: list[int] = []
        self._seen_jobs: set[int] = set()

    # -- recording -----------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, *, spark: bool = True):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, start=time.perf_counter(), parent=parent, spark=spark)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        if spark:
            prev = (self.sc.getLocalProperty(GROUP_KEY), self.sc.getLocalProperty(DESC_KEY))
            self.sc.setJobGroup(name, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if spark:
                self._collect(sp)
                self.sc.setLocalProperty(GROUP_KEY, prev[0])
                self.sc.setLocalProperty(DESC_KEY, prev[1])

    def _collect(self, sp: Span) -> None:
        tracker = self.sc.statusTracker()
        new = sorted(set(tracker.getJobIdsForGroup(sp.name)) - self._seen_jobs)
        self._seen_jobs.update(new)
        sp.jobs = new
        for jid in new:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                st = tracker.getStageInfo(sid)
                # a skipped stage (shuffle output reused) ran no task
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue
                sp.stages += 1
                sp.tasks += st.numCompletedTasks + st.numFailedTasks
                sp.failed_tasks += st.numFailedTasks

    def count(self, name: str) -> None:
        self.counters[name] = self.counters.get(name, 0) + 1

    def mark(self) -> tuple[int, dict[str, int]]:
        """Position to slice the spans and counters of one operation."""
        return len(self.spans), dict(self.counters)

    # -- instrumentation -----------------------------------------------
    @contextlib.contextmanager
    def instrument(self):
        import patternly_spark.detection as det

        tracer = self
        AD = det.AnomalyDetection
        saved = {
            "method": {m: AD.__dict__[m] for m in ("_quantize", "_cluster_labels", "_fit_library", "_reduce_step")},
            "func": {f: getattr(det, f) for f in ("score_sequences", "genesess", "llk_batch", "simulate")},
        }
        m, f = saved["method"], saved["func"]

        def spark_method(name, orig):
            def wrapped(self, *a, **kw):
                with tracer.span(name):
                    return orig(self, *a, **kw)
            return wrapped

        def quantize(self, df):
            # the complex cut-points are fitted on the first call of a fit;
            # later calls only build column expressions
            fits = self.quantize and (self.quantizer is None or not self.quantizer.fitted)
            with tracer.span("quantize.cutpoints" if fits else "quantize.expr"):
                return m["_quantize"](self, df)

        def driver_func(name, orig):
            def wrapped(*a, **kw):
                with tracer.span(name, spark=False):
                    return orig(*a, **kw)
            return wrapped

        def score_sequences(*a, **kw):
            tracer.count("llk.score_calls")  # lazy: builds a plan, runs no job
            return f["score_sequences"](*a, **kw)

        AD._quantize = quantize
        AD._cluster_labels = spark_method("detection.cluster", m["_cluster_labels"])
        AD._fit_library = spark_method("genesess.library", m["_fit_library"])
        AD._reduce_step = spark_method("detection.reduce_step", m["_reduce_step"])
        det.score_sequences = score_sequences
        det.genesess = driver_func("genesess.mint", f["genesess"])
        det.llk_batch = driver_func("llk.driver", f["llk_batch"])
        det.simulate = driver_func("simulate.bootstrap", f["simulate"])
        try:
            yield self
        finally:
            for name, orig in m.items():
                setattr(AD, name, orig)
            for name, orig in f.items():
                setattr(det, name, orig)

    # -- summaries -----------------------------------------------------
    def to_records(self) -> list[dict]:
        return [
            {
                "id": i, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end, "spark": s.spark,
                "jobs": len(s.jobs), "stages": s.stages, "tasks": s.tasks, "failed_tasks": s.failed_tasks,
            }
            for i, s in enumerate(self.spans)
        ]


def summarize(spans: list[Span], lo: int = 0, hi: int | None = None) -> dict[str, dict]:
    """Per span name over ``spans[lo:hi]``: calls, total seconds, self
    seconds (duration minus the union of child intervals) and inclusive
    job/stage/task counts."""
    hi = len(spans) if hi is None else hi
    children: dict[int, list[int]] = {}
    for i in range(lo, hi):
        p = spans[i].parent
        if p is not None:
            children.setdefault(p, []).append(i)

    def inclusive(i: int) -> tuple[int, int, int, int]:
        s = spans[i]
        acc = [len(s.jobs), s.stages, s.tasks, s.failed_tasks]
        for c in children.get(i, ()):
            for k, v in enumerate(inclusive(c)):
                acc[k] += v
        return tuple(acc)

    out: dict[str, dict] = {}
    for i in range(lo, hi):
        s = spans[i]
        covered, cur_end = 0.0, None
        for a, b in sorted((spans[c].start, spans[c].end) for c in children.get(i, ())):
            if cur_end is None or a > cur_end:
                covered += b - a
                cur_end = b
            elif b > cur_end:
                covered += b - cur_end
                cur_end = b
        jobs, stages, tasks, failed = inclusive(i)
        row = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0,
                                      "tasks": 0, "failed_tasks": 0})
        row["calls"] += 1
        row["s"] += s.end - s.start
        row["self_s"] += (s.end - s.start) - covered
        # a span nested in a same-named span is already in its parent's counts
        if s.parent is None or spans[s.parent].name != s.name:
            row["jobs"] += jobs
            row["stages"] += stages
            row["tasks"] += tasks
            row["failed_tasks"] += failed
    return out
