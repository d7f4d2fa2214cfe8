"""Spans, Spark job attribution and streaming progress for the traced run.

Spans are recorded by the benchmark around each call it makes into the
engine.  Each span has a name, start, end, parent and a shared id (one
per commit or query, one for the stream phase; chunk-level timing comes
from the tailer's own per-batch log).  Spans stay in memory and are
written out as JSON lines when the run ends.  A layer's self time is
its span's duration minus the part of that interval covered by its
child spans.

Spark work is credited to the calling layer through a thread-local
property (``perfbench.caller``) set around each call; the JSON event log
is parsed with the standard library.  Jobs carrying a streaming query id
are credited to the layer registered for that query, and untagged jobs
to ``background``.
"""

from __future__ import annotations

import json
import pathlib
import time
from contextlib import contextmanager

from common import median, tree_cpu

CALLER_KEY = "perfbench.caller"
STREAM_QUERY_KEY = "sql.streaming.queryId"
STREAM_BATCH_KEY = "streaming.sql.batchId"


class Span:
    __slots__ = ("id", "name", "trace_id", "parent", "start", "end", "cpu_start", "cpu_end", "jit_start", "jit_end")

    def __init__(self, sid: int, name: str, trace_id, parent):
        self.id, self.name, self.trace_id, self.parent = sid, name, trace_id, parent
        self.start = self.end = self.cpu_start = self.cpu_end = self.jit_start = self.jit_end = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def cpu_seconds(self) -> float:
        """CPU time the process tree used during the span outside the
        JVM's JIT compiler (zero unless the span was opened with
        ``cpu=True``)."""
        return self.cpu_end - self.cpu_start

    @property
    def jit_seconds(self) -> float:
        """CPU time of the JVM's JIT compiler threads during the span."""
        return self.jit_end - self.jit_start

    def as_dict(self) -> dict:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    """Times every span; keeps and tags them only when ``enabled``.

    The workloads read end-to-end timings from the same spans, so the
    untraced run pays two clock reads per call and nothing else.  When
    enabled, jobs the benchmark itself runs (set-up, checks) are tagged
    ``perfbench`` so that only the engine's own untagged work counts as
    ``background``."""

    def __init__(self, spark=None, *, enabled: bool = False):
        self.enabled = enabled
        self._sc = spark.sparkContext if (spark is not None and enabled) else None
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        if self._sc is not None:
            self._sc.setLocalProperty(CALLER_KEY, "perfbench")

    @contextmanager
    def span(self, name: str, trace_id=None, *, caller: str | None = None, cpu: bool = False):
        parent = self._stack[-1] if self._stack else None
        if trace_id is None and parent is not None:
            trace_id = parent.trace_id
        s = Span(len(self.spans), name, trace_id, parent.id if parent else None)
        if self.enabled:
            self.spans.append(s)
        self._stack.append(s)
        prev = None
        if self._sc is not None and caller is not None:
            prev = self._sc.getLocalProperty(CALLER_KEY)
            self._sc.setLocalProperty(CALLER_KEY, caller)
        if cpu:
            s.cpu_start, s.jit_start = tree_cpu()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if cpu:
                s.cpu_end, s.jit_end = tree_cpu()
            self._stack.pop()
            if self._sc is not None and caller is not None:
                self._sc.setLocalProperty(CALLER_KEY, prev)

    def write(self, path: pathlib.Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.as_dict()) + "\n")


# ------------------------------------------------------------ self time
def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Summed self time per span name."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _covered(s["start"], s["end"], kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


# ------------------------------------------------------------ event log
SPARK_FIELDS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_skew",
)


def parse_event_log(lines, stream_callers: dict[str, tuple[str, int]] | None = None) -> dict[str, dict]:
    """Per-caller task totals from Spark JSON event-log ``lines``.

    ``stream_callers`` maps a streaming query id to (caller, first
    batch id to credit); earlier batches are the benchmark's warm-up.

    ``task_skew`` is max÷median task run time of the caller's heaviest
    stage (largest summed run time)."""
    stream_callers = stream_callers or {}
    stage_caller: dict[int, str] = {}
    stage_runs: dict[int, list[float]] = {}
    out: dict[str, dict] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            caller = props.get(CALLER_KEY) or "background"
            stream = stream_callers.get(props.get(STREAM_QUERY_KEY, ""))
            if stream is not None:
                name, first_batch = stream
                caller = name if int(props.get(STREAM_BATCH_KEY, -1)) >= first_batch else "perfbench"
            for sid in ev.get("Stage IDs", []):
                stage_caller.setdefault(sid, caller)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            m = ev.get("Task Metrics") or {}
            caller = stage_caller.get(sid, "background")
            acc = out.setdefault(caller, {f: 0.0 for f in SPARK_FIELDS})
            run_s = m.get("Executor Run Time", 0) / 1e3
            acc["tasks"] += 1
            acc["executor_run_s"] += run_s
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            stage_runs.setdefault(sid, []).append(run_s)
    heaviest: dict[str, tuple[float, int]] = {}
    for sid, runs in stage_runs.items():
        caller = stage_caller.get(sid, "background")
        if sum(runs) > heaviest.get(caller, (-1.0, 0))[0]:
            heaviest[caller] = (sum(runs), sid)
    for caller, (_, sid) in heaviest.items():
        runs = stage_runs[sid]
        mid = median(runs)
        out[caller]["task_skew"] = max(runs) / mid if mid > 0 else 1.0
    return out


def _log_part(path: pathlib.Path) -> tuple[str, int]:
    """Sort key of a (rolling) event-log file: ``events_<n>_<app>``."""
    head = path.name.split("_")
    return str(path.parent), int(head[1]) if head[0] == "events" and head[1].isdigit() else 0


def read_event_logs(eventlog_dir: pathlib.Path, stream_callers: dict[str, tuple[str, int]]) -> dict[str, dict]:
    """Parse every application log under ``eventlog_dir``, plain or
    rolling (``eventlog_v2_<app>/events_<n>_<app>``)."""
    files = [
        f
        for f in eventlog_dir.rglob("*")
        if f.is_file() and (f.parent == eventlog_dir or f.name.startswith("events_"))
    ]
    lines: list[str] = []
    for f in sorted(files, key=_log_part):
        lines += f.read_text().splitlines()
    return parse_event_log(lines, stream_callers)


def spark_metrics(per_caller: dict[str, dict], callers: list[str]) -> dict[str, float]:
    return {
        f"spark.{c}.{f}": float(per_caller.get(c, {}).get(f, 0.0))
        for c in callers
        for f in SPARK_FIELDS
    }


# ---------------------------------------------------- streaming progress
STREAM_DURATIONS = (
    "triggerExecution",
    "addBatch",
    "queryPlanning",
    "walCommit",
    "latestOffset",
    "getBatch",
)


def make_progress_listener():
    """A ``StreamingQueryListener`` that keeps each non-empty progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows:
                self.progress.append(
                    {"rows": p.numInputRows, "durationMs": dict(p.durationMs)}
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def progress_metrics(progress: list[dict]) -> dict[str, float]:
    out = {
        "stream.batches": float(len(progress)),
        "stream.rows_per_batch": sum(p["rows"] for p in progress) / max(len(progress), 1),
    }
    for k in STREAM_DURATIONS:
        out[f"stream.{k}_ms"] = median([p["durationMs"].get(k, 0) for p in progress])
    out["stream.overhead_ms"] = median(
        [
            p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0)
            for p in progress
        ]
    )
    return out
