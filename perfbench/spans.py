"""In-memory spans with Spark job-tag attribution.

A span wraps one of the benchmark's own calls into the program (an HTTP
request, ``parse``, ``QueryEngine.run_get``, a registry ``fn``, the final
action). While a span is open on a thread, every Spark job that thread
submits carries the span's job tag (``SparkContext.addJobTag``), so after
the run the status store tells which jobs, stages and tasks each span
caused. Spans stay in memory; ``resolve`` reads the status store once, at
the end, outside every timed interval.

A job carries the tags of every span open on its thread; it belongs to the
innermost (latest-opened) of them.
"""

from __future__ import annotations

import itertools
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_PREFIX = "pb-"

_PY_RUN = "time to run Python workers"
_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # time.time(), comparable with the status store's clock
    end: float = 0.0
    tag: str | None = None
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # resolved JobStats

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


@dataclass
class JobStats:
    job_id: int
    submit_ms: int
    end_ms: int
    stages: int = 0
    tasks: int = 0
    queue_ms: int = 0
    executor_run_ms: int = 0
    executor_cpu_ms: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_records: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0
    python_ms: float = 0.0


class Tracer:
    """Collects spans; with ``enabled`` False every call is a no-op, so the
    untraced run executes the same benchmark code without tags."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # wall time the tracer itself spends inside timed intervals
        self.self_s = 0.0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, tag: bool = True, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        st = self._stack()
        sp = Span(
            next(self._ids), name, st[-1].sid if st else attrs.pop("parent", None),
            time.time(), attrs=attrs,
        )
        sc = self.spark.sparkContext
        if tag:
            sp.tag = f"{TAG_PREFIX}{sp.sid}"
            sc.addJobTag(sp.tag)
        st.append(sp)
        with self._lock:
            self.spans.append(sp)
            self.self_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.end = time.time()
            st.pop()
            if sp.tag:
                sc.removeJobTag(sp.tag)
            with self._lock:
                self.self_s += time.perf_counter() - t1

    def open_request_tag(self, name: str, **attrs) -> Span | None:
        """A span whose job tag stays on the calling thread after return:
        for a server handler thread, so the action the server runs after
        ``execute`` returns is still attributed. The thread's stale tags
        are cleared first, in case the thread is reused."""
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        sc.clearJobTags()
        sp = Span(next(self._ids), name, None, time.time(), attrs=attrs)
        sp.tag = f"{TAG_PREFIX}{sp.sid}"
        sc.addJobTag(sp.tag)
        with self._lock:
            self.spans.append(sp)
            self.self_s += time.perf_counter() - t0
        return sp

    def catalyst(self, df) -> dict:
        """Force analysis, optimization and planning of ``df``'s
        QueryExecution and read the planning tracker's phase times plus
        the physical operator counts of the executed plan."""
        if not self.enabled:
            return {}
        t0 = time.perf_counter()
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
        ms = 0
        it = phases.iterator()
        while it.hasNext():
            ms += it.next()._2().durationMs()
        with self._lock:
            self.self_s += time.perf_counter() - t0
        return {
            "catalyst_ms": float(ms),
            "exchanges": len(re.findall(r"(?m)^[\s:+\-*]*Exchange ", plan)),
            "smj": plan.count("SortMergeJoin"),
            "bhj": plan.count("BroadcastHashJoin"),
        }

    # -- resolution -------------------------------------------------------

    def resolve(self) -> None:
        """Attach each tagged job, with its stage metrics, to its span."""
        if not self.enabled or not self.spans:
            return
        by_tag = {s.tag: s for s in self.spans if s.tag}
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        seen_stages: set[int] = set()
        owned: list[tuple[Span, object]] = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            tags = [t for t in _seq(j.jobTags()) if t in by_tag]
            if not tags:
                continue
            owner = max((by_tag[t] for t in tags), key=lambda s: s.sid)
            owned.append((owner, j))
        owned.sort(key=lambda oj: oj[1].jobId())
        py_ms = self._python_ms_by_job()
        for span, j in owned:
            sub = _date_ms(j.submissionTime())
            js = JobStats(j.jobId(), sub, _date_ms(j.completionTime()) or sub)
            first_launch = None
            for sid in _seq(j.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — stage evicted or never run
                    continue
                if str(s.status()) == "SKIPPED":
                    continue
                js.stages += 1
                js.tasks += s.numCompleteTasks()
                js.executor_run_ms += s.executorRunTime()
                js.executor_cpu_ms += s.executorCpuTime() / 1e6
                js.input_bytes += s.inputBytes()
                js.shuffle_read_bytes += s.shuffleReadBytes()
                js.shuffle_write_bytes += s.shuffleWriteBytes()
                js.shuffle_records += s.shuffleWriteRecords()
                js.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
                js.peak_exec_mem_bytes = max(
                    js.peak_exec_mem_bytes, s.peakExecutionMemory()
                )
                launched = _date_ms(s.firstTaskLaunchedTime())
                if launched and (first_launch is None or launched < first_launch):
                    first_launch = launched
            if first_launch is not None and sub:
                js.queue_ms = max(0, first_launch - sub)
            js.python_ms = py_ms.get(js.job_id, 0.0)
            span.jobs.append(js)

    def _python_ms_by_job(self) -> dict[int, float]:
        """``time to run Python workers`` SQL metric of each SQL execution,
        credited to the execution's first job."""
        out: dict[int, float] = {}
        sq = self.spark._jsparkSession.sharedState().statusStore()
        execs = sq.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            ms = e.metrics()
            ids = [
                ms.apply(k).accumulatorId()
                for k in range(ms.size())
                if ms.apply(k).name() == _PY_RUN
            ]
            job_ids = sorted(int(x) for x in _seq(e.jobs().keys()))
            if not ids or not job_ids:
                continue
            vals = sq.executionMetrics(e.executionId())
            total = 0.0
            for acc in ids:
                v = vals.get(acc)
                if v.isDefined():
                    total += parse_duration_ms(v.get())
            out[job_ids[0]] = out.get(job_ids[0], 0.0) + total
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.sid, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end, "tag": s.tag,
                "self_ms": self_ms(s, self.spans), **s.attrs,
                "jobs": [vars(j) for j in s.jobs],
            }
            for s in self.spans
        ]


def parse_duration_ms(text: str) -> float:
    """Total of a formatted Spark timing metric: the first duration after
    the ``total (min, med, max ...)`` header, or the only one."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)]


def self_ms(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it its child spans cover."""
    kids = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.sid and c.end > c.start
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (span.end - span.start - covered) * 1e3)


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _date_ms(opt) -> int:
    """Scala ``Option[java.util.Date]`` → epoch ms (0 when empty)."""
    return int(opt.get().getTime()) if opt.isDefined() else 0
