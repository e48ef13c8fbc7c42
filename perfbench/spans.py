"""In-memory spans and per-operation Spark counters for the traced run.

Spans are recorded from the benchmark's own code, around its calls into
the engine, and only when tracing is on; an untraced run only times each
operation. Each span has a name, start, end,
parent span and operation id. Spark counters come from the status
tracker and status store (both work with ``spark.ui.enabled=false``)
under one job group per traced operation, and are read after the pass so
that reading them is not part of any operation's time.
"""

from __future__ import annotations

import contextlib
import time
from collections.abc import Iterator

SPARK_COUNTERS = (
    "catalyst_s", "jobs", "stages", "tasks", "idle_s", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)
_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    """Span recorder. ``enabled`` may be switched between passes; the
    py4j command counter is installed once, and only for a traced run."""

    def __init__(self, spark, traced_run: bool):
        self.enabled = False
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._parent: int | None = None
        self._op: str | None = None
        self._py4j_calls = 0
        if traced_run:
            self._count_py4j_commands()

    def _count_py4j_commands(self) -> None:
        """Count every py4j command except ``m`` (memory release), whose
        number depends on when Python's garbage collector runs."""
        client = self._sc._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith("m\n"):
                self._py4j_calls += 1
            return send(command, *args, **kwargs)

        client.send_command = counted

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        """Record a child span of the current one, with the number of py4j
        commands sent inside it."""
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self._op, "parent": self._parent,
               "start": time.perf_counter(), "end": None, "py4j_calls": 0}
        self.spans.append(rec)
        outer, self._parent = self._parent, len(self.spans) - 1
        calls = self._py4j_calls
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self._py4j_calls - calls
            self._parent = outer

    @contextlib.contextmanager
    def op(self, op_id: str) -> Iterator[dict]:
        """One operation: a root ``op`` span when tracing, and always its
        wall time in the yielded record's ``wall``."""
        rec: dict = {"id": op_id, "group": f"perfbench-{op_id}", "qe": []}
        if self.enabled:
            self._sc.setJobGroup(rec["group"], op_id)
        self._op = op_id
        t0 = time.perf_counter()
        try:
            with self.span("op"):
                yield rec
        finally:
            rec["wall"] = time.perf_counter() - t0
            self._op = None
            if self.enabled:
                self._sc.setLocalProperty("spark.jobGroup.id", None)

    def harvest(self, ops: list[dict], window: str) -> None:
        """Fill ``rec["spark"]`` for each traced op: Catalyst phase time of
        the queries whose QueryExecution the op recorded, and job, stage
        and task counters of its job group. ``idle_s`` is the time inside
        the op's ``window`` spans that no stage was running."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        epoch = time.time() - time.perf_counter()
        for rec in ops:
            c = rec["spark"] = dict.fromkeys(SPARK_COUNTERS, 0)
            for qe in rec.pop("qe"):
                phases = qe.tracker().phases()
                c["catalyst_s"] += sum(
                    phases.apply(p).durationMs() for p in _PHASES if phases.contains(p)
                ) / 1e3
            busy = []
            for job in tracker.getJobIdsForGroup(rec["group"]):
                c["jobs"] += 1
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["executor_run_s"] += sd.executorRunTime() / 1e3
                    c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["gc_s"] += sd.jvmGcTime() / 1e3
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c["spill_bytes"] += sd.diskBytesSpilled()
                    if sd.submissionTime().isDefined() and sd.completionTime().isDefined():
                        busy.append((
                            sd.submissionTime().get().getTime() / 1e3 - epoch,
                            sd.completionTime().get().getTime() / 1e3 - epoch,
                        ))
            windows = [(s["start"], s["end"]) for s in self.spans
                       if s["op"] == rec["id"] and s["name"] == window]
            c["idle_s"] = sum(
                (end - start) - _covered(start, end, busy) for start, end in windows
            )

    def layer_times(self, op_ids: set[str]) -> dict[str, dict[str, float]]:
        """Total and self time per span name over the given ops. Self time
        is a span's duration minus the part its child spans cover; the
        ``op`` span's self time is the residual no child accounts for."""
        out: dict[str, dict[str, float]] = {}
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["op"] in op_ids and s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        for i, s in enumerate(self.spans):
            if s["op"] not in op_ids:
                continue
            t = out.setdefault(s["name"], {"total_s": 0.0, "self_s": 0.0, "py4j_calls": 0})
            t["total_s"] += s["end"] - s["start"]
            t["self_s"] += s["end"] - s["start"] - child_time.get(i, 0.0)
            t["py4j_calls"] += s["py4j_calls"]
        return out

    def op_residuals(self) -> list[float]:
        """Per traced op: its wall time minus its child spans' time."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [
            s["end"] - s["start"] - child_time.get(i, 0.0)
            for i, s in enumerate(self.spans) if s["name"] == "op"
        ]

    def dump(self, t0: float) -> list[dict]:
        """Spans with times in seconds since ``t0``, for writing out."""
        return [
            {**s, "id": i, "start": s["start"] - t0, "end": s["end"] - t0}
            for i, s in enumerate(self.spans)
        ]


def _covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    total, reach = 0.0, start
    for a, b in clipped:
        if b > reach:
            total += b - max(a, reach)
            reach = b
    return total
