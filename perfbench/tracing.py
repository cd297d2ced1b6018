"""Benchmark-side tracing: spans, Spark event-log attribution, the
streaming progress listener and the /proc memory sampler.

Nothing here instruments the engine. Spans are recorded around the
benchmark's own calls into each layer; execution statistics come from
Spark's own event log and streaming progress events.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """In-memory span recorder. Disabled, every method is a no-op so the
    untraced run pays nothing but the ``with`` statement."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        with self._lock:
            sid = len(self.spans)
            if parent is None and self._stack:
                parent = self._stack[-1]
            if op is None and parent is not None:
                op = self.spans[parent]["op"]
            rec = {"id": sid, "name": name, "op": op, "parent": parent,
                   "start": time.time(), "end": None}
            self.spans.append(rec)
        # spans opened from another thread (foreachBatch callbacks) pass
        # their parent explicitly and stay off the main-thread stack
        nested = threading.current_thread() is threading.main_thread()
        if nested:
            self._stack.append(sid)
        try:
            yield sid
        finally:
            rec["end"] = time.time()
            if nested:
                self._stack.pop()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# Phases a query op's jobs are attributed to, innermost first: a job
# submitted while a catalog span is open (nested in build) is a catalog
# job.
QUERY_PHASES = ("catalog", "build", "exec")

# PySpark's Python-UDF SQL metrics, by their display names (times in ms).
_UDF_METRICS = {
    "time to run Python workers": ("udf.python_s", 1e-3),
    "time to start Python workers": ("udf.boot_s", 1e-3),
    "data sent to Python workers": ("udf.bytes_sent", 1.0),
}


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the uncompressed application log(s) under
    ``log_dir``, single-file or rolling (Spark 4's ``eventlog_v2_*``
    directories of ``events_<n>_*`` files)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isfile(path) and not os.path.basename(path).startswith("appstatus"):
            with open(path) as fh:
                for line in fh:
                    try:
                        events.append(json.loads(line))
                    except json.JSONDecodeError:
                        pass  # the line a live writer has not finished
    return events


def attribute_jobs(events: list[dict], spans: list[dict]) -> dict:
    """Sum event-log job, stage and task statistics per op and phase.

    A job belongs to the op whose id its job group names
    (``op-<id>``), and to the innermost phase span of that op open at
    its submission time (``other`` if none is). Returns
    ``{(op, phase): {metric: value}}``."""
    by_op = defaultdict(list)
    for s in spans:
        if s["name"] in QUERY_PHASES and s["op"] is not None:
            by_op[s["op"]].append(s)
    stage_key: dict[int, tuple] = {}
    out: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
        if not group.startswith("op-"):
            continue
        op = int(group[3:])
        t = ev["Submission Time"] / 1000.0
        phase = next((name for name in QUERY_PHASES if any(
            s["start"] <= t <= s["end"] for s in by_op[op] if s["name"] == name)), "other")
        out[(op, phase)]["jobs"] += 1
        for sid in ev.get("Stage IDs", []):
            stage_key[sid] = (op, phase)
    stages_seen = set()
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev.get("Stage ID")
        key = stage_key.get(sid)
        if key is None:
            continue
        acc = out[key]
        if (sid, ev.get("Stage Attempt ID")) not in stages_seen:
            stages_seen.add((sid, ev.get("Stage Attempt ID")))
            acc["stages"] += 1
        acc["tasks"] += 1
        m = ev.get("Task Metrics") or {}
        acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
        acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        sr = m.get("Shuffle Read Metrics") or {}
        acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        for a in (ev.get("Task Info") or {}).get("Accumulables", []):
            hit = _UDF_METRICS.get(a.get("Name"))
            if hit is not None:
                acc[hit[0]] += float(a.get("Update") or 0) * hit[1]
    return {k: dict(v) for k, v in out.items()}


def by_phase(attr: dict) -> dict[str, dict]:
    """Fold ``attribute_jobs`` output over ops: ``{phase: {metric: value}}``."""
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for (_, phase), m in attr.items():
        for k, v in m.items():
            out[phase][k] += v
    return {k: dict(v) for k, v in out.items()}


class ProgressListener:
    """Collects ``durationMs`` and input-row counts of every streaming
    progress event, plus termination notices, from Spark's listener
    bus. ``make`` builds the PySpark listener lazily, so importing this
    module needs no Spark."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._cv = threading.Condition()

    def make(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with outer._cv:
                    outer.progress.append({
                        "run_id": str(p.runId),
                        "rows": p.numInputRows,
                        "durationMs": dict(p.durationMs),
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated.add(str(event.runId))
                    outer._cv.notify_all()

        return _Listener()

    def wait_terminated(self, run_id: str, timeout: float = 30.0) -> None:
        """Progress events arrive asynchronously; wait for the run's
        termination notice so every progress event of it is in. (A
        query restarted from its checkpoint keeps its id; each start has
        a new run id.)"""
        with self._cv:
            self._cv.wait_for(lambda: run_id in self.terminated, timeout)


def _tree_pids(root: int) -> list[int]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of a process tree (the driver JVM and the Python
    workers it forks), sampled from /proc on a background thread."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(_rss_bytes(p) for p in _tree_pids(self.root_pid))
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
