"""Spans for one traced run, recorded from the benchmark's side only.

``Tracer.patch`` wraps a public function of a module (or a method of a class)
for the duration of a ``with`` block; each call becomes a span with a name,
start, end and parent. Every span gets its own Spark job group, so after the
run each Spark job — and through it each stage — is attributed to the
innermost span that was open when it started (``spark_counts``). Spans stay
in memory until ``breakdown`` turns them into per-name totals.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from dataclasses import dataclass, field

#: stage fields summed into a span's Spark counts
_STAGE_FIELDS = (
    "tasks",
    "executor_busy_s",
    "input_bytes",
    "shuffle_write_bytes",
    "output_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    calls: dict[str, int] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, prefix: str = "runbench") -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _group(self, sid: int) -> str:
        return f"{self.prefix}-{sid}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(self._group(s.sid), name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(self._group(parent.sid), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def patch(self, stack: contextlib.ExitStack, owner, attr: str, name=None) -> None:
        """Wrap ``owner.attr`` in a span until ``stack`` closes. ``name`` is a
        span name or a callable ``(args, kwargs) -> span name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else (name or attr)
            with self.span(label):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        stack.callback(setattr, owner, attr, orig)

    def count(self, stack: contextlib.ExitStack, owner, attr: str, what: str) -> None:
        """Count calls of ``owner.attr`` per innermost span until ``stack`` closes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self._stack:
                calls = self._stack[-1].calls
                calls[what] = calls.get(what, 0) + 1
            return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        stack.callback(setattr, owner, attr, orig)

    def _finished_jobs(self):
        """Status-store JobData of every finished job, once the listener bus
        has caught up (the store works with the UI disabled)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        return _jiter(jsc.statusStore().jobsList(self.sc._jvm.java.util.ArrayList()).iterator())

    def _span_of(self, job) -> int | None:
        group = job.jobGroup()
        if not group.isDefined() or not group.get().startswith(self.prefix + "-"):
            return None
        return int(group.get().rsplit("-", 1)[1])

    def spark_counts(self) -> dict[int, dict]:
        """Spark jobs, stages and stage metrics per span id (own jobs only)."""
        out = {s.sid: dict.fromkeys(("jobs", "stages") + _STAGE_FIELDS, 0) for s in self.spans}
        stage_owner: dict[int, int] = {}
        for job in self._finished_jobs():
            sid = self._span_of(job)
            if sid is None or sid not in out:
                continue
            out[sid]["jobs"] += 1
            for stage_id in _jiter(job.stageIds().iterator()):
                stage_owner[stage_id] = sid
        jvm = self.sc._jvm
        stages = self.sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        for st in _jiter(stages.iterator()):
            sid = stage_owner.get(st.stageId())
            ran = st.numCompleteTasks() + st.numFailedTasks()
            if sid is None or ran == 0:
                continue  # not ours, or skipped (its shuffle output was reused)
            c = out[sid]
            c["stages"] += 1
            c["tasks"] += ran
            c["executor_busy_s"] += st.executorRunTime() / 1000.0
            c["input_bytes"] += st.inputBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["output_bytes"] += st.outputBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def sql_output_rows(self, sid: int, node_word: str) -> int:
        """Σ "number of output rows" of the plan nodes whose name contains
        ``node_word``, over the SQL executions that ran jobs of span ``sid``."""
        jobs = {job.jobId() for job in self._finished_jobs() if self._span_of(job) == sid}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        total = 0
        for ex in _jiter(sql.executionsList().iterator()):
            if not any(j in jobs for j in _jiter(ex.jobs().keys().iterator())):
                continue
            values = sql.executionMetrics(ex.executionId())
            for node in _jiter(sql.planGraph(ex.executionId()).allNodes().iterator()):
                if node_word not in node.name():
                    continue
                for m in _jiter(node.metrics().iterator()):
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v.isDefined():
                        total += int(v.get().replace(",", ""))
        return total

    def breakdown(self, root: Span, counts: dict[int, dict]) -> dict:
        """Per span name below ``root`` — the one top-level span the tracer
        recorded: calls, total and self seconds, Spark counts (inclusive of
        child spans). ``other_s`` is the root's own time, so Σ self_s +
        other_s equals the root's wall time."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def inclusive(s: Span) -> dict:
            c = dict(counts.get(s.sid, {}))
            for ch in children.get(s.sid, []):
                for k, v in inclusive(ch).items():
                    c[k] = c.get(k, 0) + v
            return c

        names: dict[str, dict] = {}
        for s in self.spans:
            if s is root:
                continue
            own = s.duration - sum(ch.duration for ch in children.get(s.sid, []))
            agg = names.setdefault(
                s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "spark": {}}
            )
            agg["calls"] += 1
            agg["total_s"] += s.duration
            agg["self_s"] += own
            for k, v in inclusive(s).items():
                agg["spark"][k] = agg["spark"].get(k, 0) + v
        other = root.duration - sum(ch.duration for ch in children.get(root.sid, []))
        return {
            "wall_s": root.duration,
            "other_s": other,
            "spans": names,
            "run_spark": inclusive(root),
        }


def _jiter(it):
    """Iterate a JVM (Scala or Java) iterator from Python."""
    while it.hasNext():
        yield it.next()


def parquet_span_name(args, kwargs) -> str:
    """``write:<dir name>`` for ``DataFrameWriter.parquet(self, path, ...)``."""
    path = kwargs.get("path", args[1] if len(args) > 1 else "")
    return "write:" + os.path.basename(os.path.normpath(str(path)))
