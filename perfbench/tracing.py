"""Traced-run instrumentation: spans, Spark's own counters, stream progress.

Everything here lives in the benchmark's files and wraps calls into the
program's layers from the outside; the program itself is not modified.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
from dataclasses import asdict, dataclass, field

#: StageData fields summed per op: (counter name, accessor, scale).
_STAGE_FIELDS = (
    ("task_busy_s", "executorRunTime", 1e-3),
    ("task_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_mb", "inputBytes", 1e-6),
    ("output_mb", "outputBytes", 1e-6),
    ("shuffle_read_mb", "shuffleReadBytes", 1e-6),
    ("shuffle_write_mb", "shuffleWriteBytes", 1e-6),
    ("spill_mb", "diskBytesSpilled", 1e-6),
    ("failed_tasks", "numFailedTasks", 1),
)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. `overhead_s` is time spent in the tracer
    and the counter reads it drives, so the cost of tracing is known."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, op, attrs))
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int | None,
            op: int | None, **attrs) -> None:
        self.spans.append(Span(name, start, end, parent, op, attrs))

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its children cover."""
        s = self.spans[idx]
        kids = sorted(
            (c.start, c.end) for c in self.spans
            if c.parent == idx and c.end > c.start
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in kids:
            a, b = max(a, s.start), min(b, s.end)
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (s.end - s.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class SparkCounters:
    """Reads jobs and stages from Spark's status store, in job-id order.

    Each `take_split()` returns the totals of the jobs submitted since
    the previous call. Streaming micro-batches run under their own job group,
    so attribution is by job-id range, which a closed loop with one
    client keeps unambiguous. A stage reused by a later job is counted
    once, by the job that ran it."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._next_job = 0
        self._seen_stages: set[int] = set()

    def take_split(self, split_unix: float | None) -> dict[str, dict]:
        """Totals of the new jobs, split into those submitted before
        `split_unix` ("build") and after it ("exec"); with no split time
        every job counts as "build". `write_s` is the duration of the
        jobs whose stages wrote output."""
        self._bus.waitUntilEmpty()
        out = {phase: self._zero() for phase in ("build", "exec")}
        while True:
            try:
                job = self._store.job(self._next_job)
            except Exception:  # py4j NoSuchElementException: no such job yet
                break
            sub, done = job.submissionTime(), job.completionTime()
            submitted = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
            phase = "build" if split_unix is None or submitted < split_unix \
                else "exec"
            acc = out[phase]
            acc["jobs"] += 1
            wrote = False
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in self._seen_stages:
                    continue
                try:
                    st = self._store.lastStageAttempt(sid)
                except Exception:  # py4j NoSuchElementException: never submitted
                    continue
                if st.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                self._seen_stages.add(sid)
                acc["stages"] += 1
                acc["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                for name, getter, scale in _STAGE_FIELDS:
                    acc[name] += getattr(st, getter)() * scale
                wrote = wrote or st.outputBytes() > 0
            if wrote and done.isDefined():
                acc["write_s"] += done.get().getTime() / 1e3 - submitted
            self._next_job += 1
        return out

    @staticmethod
    def _zero() -> dict:
        out = dict.fromkeys([n for n, _, _ in _STAGE_FIELDS], 0.0)
        out.update(jobs=0, stages=0, tasks=0, write_s=0.0)
        return out

    def storage_mb(self, spark) -> float:
        """Memory held by persisted blocks right now."""
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / 1e6


class StreamListener:
    """Collects micro-batch progress through a StreamingQueryListener."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        sink = self.batches

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ts = dt.datetime.strptime(
                    p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ"
                ).replace(tzinfo=dt.timezone.utc)
                ops = p.stateOperators or []
                sink.append({
                    "start_unix": ts.timestamp(),
                    "trigger_ms": p.durationMs.get("triggerExecution", 0),
                    "add_batch_ms": p.durationMs.get("addBatch", 0),
                    "input_rows": p.numInputRows,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
