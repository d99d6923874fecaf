"""Spans and Spark accounting for the traced run.

A span records its name, start, end, parent and the Spark jobs that ran
under it. Entering a span gives the driver thread a job group named after
the span, so `statusTracker().getJobIdsForGroup` attributes each job, and
the SQL status store attributes each SQL execution (its description is the
group), to the innermost open span. Spans stay in memory; `Tracer.dump`
writes them out when the run ends.

`install` wraps the public functions and methods of each engine layer from
here, so the engine itself carries no tracing code. `NullTracer` is what an
untraced run uses: its spans cost one context-manager entry and record
nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import logging
import re
import time
from collections import Counter


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "jobs")

    def __init__(self, sid: int, name: str, parent: int | None):
        self.sid, self.name, self.parent = sid, name, parent
        self.start = self.end = 0.0
        self.jobs: list[int] = []

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.sid}"

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class _LogCounter(logging.Handler):
    """Counts the engine's JSON log records by message."""

    def __init__(self, counts: Counter):
        super().__init__(logging.INFO)
        self.counts = counts

    def emit(self, record: logging.LogRecord) -> None:
        try:
            self.counts[json.loads(record.getMessage()).get("message", "?")] += 1
        except ValueError:
            self.counts["unparsed"] += 1


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.log_counts: Counter = Counter()

    # ------------------------------------------------------------ spans
    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.group)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished top-level span timed before the tracer existed."""
        s = Span(len(self.spans), name, None)
        s.start, s.end = start, end
        self.spans.append(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **k):
            with self.span(name):
                return orig(*a, **k)

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap each layer's public entry points and count engine log
        records. Call once, before the workload runs."""
        from bbc_news_etl_pipeline_spark.operators import corpus_incremental as CI
        from bbc_news_etl_pipeline_spark.sources.event_log import EventLog
        from bbc_news_etl_pipeline_spark.sources.lake import LakeTable
        from bbc_news_etl_pipeline_spark.streaming import replay as R

        for fn in ("replay", "plan_epochs", "apply_epoch"):
            self.wrap(R, fn, f"replay.{fn}")
        for m in ("segments", "max_seq", "max_schema_version", "read_range"):
            self.wrap(EventLog, m, f"event_log.{m}")
        for m in (
            "resume_point", "commit", "current_manifest", "manifest",
            "list_epoch_files", "check_constraints", "acquire_writer_lease",
            "release_writer_lease", "read_key", "read_changes", "read_state",
            "compact",
        ):
            self.wrap(LakeTable, m, f"lake.{m}")
        self.wrap(CI, "incremental_corpus_update", "corpus_incremental.update")
        log = logging.getLogger("cdc.engine")
        log.setLevel(logging.INFO)
        log.propagate = False
        log.addHandler(_LogCounter(self.log_counts))

    # ------------------------------------------------------ span queries
    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def subtree(self, root: Span, kids: dict[int, list[Span]]) -> list[Span]:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, ()))
        return out

    def outermost(self, root: Span, names: set[str], kids) -> list[Span]:
        """Spans named in `names` under `root` with no such ancestor below it."""
        out, todo = [], list(kids.get(root.sid, ()))
        while todo:
            s = todo.pop()
            if s.name in names:
                out.append(s)
            else:
                todo.extend(kids.get(s.sid, ()))
        return out

    @staticmethod
    def self_ms(span: Span, kids) -> float:
        """Duration minus the part of it that child spans cover."""
        return span.ms - _union_ms(
            [(c.start * 1000.0, c.end * 1000.0) for c in kids.get(span.sid, ())],
            span.start * 1000.0, span.end * 1000.0,
        )

    # -------------------------------------------------- Spark accounting
    def collect_spark(self) -> "SparkFacts":
        """Read jobs, stages, tasks and SQL executions for every span from
        the status stores. Runs after the workload, outside its timings."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        facts = SparkFacts()
        for s in self.spans:
            s.jobs = sorted(int(j) for j in st.getJobIdsForGroup(s.group))
            for j in s.jobs:
                facts.add_job(st, store, j)
        groups = {s.group: s.sid for s in self.spans}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for k in range(execs.size()):
            e = execs.apply(k)
            sid = groups.get(e.description())
            if sid is not None:
                facts.add_execution(sql, e, sid)
        return facts

    def summary(self) -> dict:
        """Per span name: count, total and self ms."""
        kids = self.children()
        out: dict[str, dict] = {}
        for s in self.spans:
            row = out.setdefault(s.name, {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
            row["count"] += 1
            row["total_ms"] += s.ms
            row["self_ms"] += self.self_ms(s, kids)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "log_events": dict(self.log_counts),
                    "summary": self.summary(),
                    "spans": [
                        {
                            "id": s.sid, "name": s.name, "parent": s.parent,
                            "start": s.start, "end": s.end, "jobs": s.jobs,
                        }
                        for s in self.spans
                    ],
                },
                f,
            )


def _union_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_NUM_UNIT = re.compile(r"([\d.,]+)\s*([A-Za-z]+)")
#: SQL metrics of the Arrow/Python exec nodes -> execution record key
_PYTHON_METRICS = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "python_bytes_out",
    "data returned from Python workers": "python_bytes_in",
}


def sql_metric_value(text: str) -> float:
    """Parse a formatted SQL metric ('75 ms', '1.3 s', '44.0 KiB', or the
    'total (min, med, max ...)\\n<total> (...)' form) to ms or bytes."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = _NUM_UNIT.search(body)
    if not m:
        return 0.0
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class SparkFacts:
    """Per-job and per-execution numbers keyed for span aggregation."""

    STAGE_FIELDS = (
        "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
        "scheduler_delay_ms", "input_bytes", "failed_tasks",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    )

    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.execs: dict[int, list[dict]] = {}  # span id -> executions

    def add_job(self, tracker, store, jid: int) -> None:
        if jid in self.jobs:
            return
        j = store.job(jid)
        rec = {f: 0.0 for f in self.STAGE_FIELDS}
        rec["start"] = _opt_ms(j.submissionTime())
        rec["end"] = _opt_ms(j.completionTime())
        for sid in tracker.getJobInfo(jid).stageIds:
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += sd.numTasks()
            rec["failed_tasks"] += sd.numFailedTasks()
            rec["executor_run_ms"] += sd.executorRunTime()
            rec["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            rec["input_bytes"] += sd.inputBytes()
            rec["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            rec["shuffle_read_bytes"] += sd.shuffleReadBytes()
            rec["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tasks = store.taskList(sid, sd.attemptId(), 1 << 20)
            rec["scheduler_delay_ms"] += sum(
                tasks.apply(i).schedulerDelay() for i in range(tasks.size())
            )
        self.jobs[jid] = rec

    def add_execution(self, sql, e, span_id: int) -> None:
        eid = e.executionId()
        metrics = sql.executionMetrics(eid)
        nodes = sql.planGraph(eid).allNodes()
        rec = {"write": False, "python_ms": 0.0, "python_bytes_out": 0.0,
               "python_bytes_in": 0.0}
        for i in range(nodes.size()):
            n = nodes.apply(i)
            name = n.name()
            if name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                rec["write"] = True
            if "Python" not in name and "Arrow" not in name:
                continue
            ms = n.metrics()
            for q in range(ms.size()):
                m = ms.apply(q)
                val = metrics.get(m.accumulatorId())
                if not val.isDefined():
                    continue
                key = _PYTHON_METRICS.get(m.name())
                if key:
                    rec[key] += sql_metric_value(val.get())
        start, end = e.submissionTime(), e.completionTime()
        rec["ms"] = (
            float(end.get().getTime() - start) if end.isDefined() else 0.0
        )
        self.execs.setdefault(span_id, []).append(rec)

    def jobs_under(self, spans) -> list[dict]:
        return [self.jobs[j] for s in spans for j in s.jobs if j in self.jobs]

    def execs_under(self, spans) -> list[dict]:
        return [x for s in spans for x in self.execs.get(s.sid, ())]

    @staticmethod
    def job_intervals(jobs) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]]
