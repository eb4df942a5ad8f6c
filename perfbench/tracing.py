"""Tracing for the benchmark's traced runs (``--trace 1``).

Everything here observes the engine from outside, through public seams:

- :class:`Tracer` keeps spans in memory (name, start, end, parent) around
  the benchmark's own calls into ``kse.session``, ``kse.catalog``,
  ``kse.registry``, the noop materialize and the JSONL sink, and writes
  them out once, when the run ends.
- :func:`eventlog_conf` turns on Spark's own event log (uncompressed, not
  rolling, local directory); :func:`read_eventlog` folds its task records
  into per-job-group totals, so stages map to queries by job group.
- :class:`ProgressListener` is a ``StreamingQueryListener`` that keeps
  every progress event (``recentProgress`` keeps only the last 100). The
  stream workload registers it on untraced runs too, since its check and
  its tail timings read these events.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations_ms(self, name: str, **match) -> list[float]:
        return [
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["name"] == name and "end" in s and all(s.get(k) == v for k, v in match.items())
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


@contextmanager
def patched(obj, attr: str, wrap):
    """Replace ``obj.attr`` with ``wrap(original)`` for the block."""
    orig = getattr(obj, attr)
    setattr(obj, attr, wrap(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


def timed_call(tracer: Tracer, name: str):
    """Wrapper factory for :func:`patched`: one span per call."""

    def wrap(fn):
        def inner(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return inner

    return wrap


def timed_sink(tracer: Tracer):
    """Wrapper for ``JsonlIndexer.foreach_batch``: spans around the
    callable it returns, i.e. around each micro-batch's sink write."""

    def wrap(foreach_batch):
        def inner(self, index, id_col):
            write = foreach_batch(self, index, id_col)

            def traced_write(batch_df, batch_id):
                with tracer.span("sinks.indexer.write", batch_id=batch_id):
                    write(batch_df, batch_id)

            return traced_write

        return inner

    return wrap


# ---- Spark event log -------------------------------------------------------

def eventlog_conf(directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
    }


_ZERO = {
    "jobs": 0, "tasks": 0, "scan_tasks": 0, "task_run_ms": 0, "task_cpu_ms": 0.0,
    "gc_ms": 0, "scheduler_delay_ms": 0, "shuffle_write_bytes": 0,
    "shuffle_read_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
    "python_bytes_sent": 0, "python_bytes_received": 0,
}


def read_eventlog(directory: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, and summed task metrics.

    Scheduler delay per task is Spark UI's definition: task duration minus
    executor run, deserialize and result-serialization time, floored at 0.
    Python bytes come from the Arrow/pandas-UDF operators' SQL metrics
    (task accumulables named "data sent to/returned from Python workers").
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}
    for path in glob.glob(os.path.join(directory, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    g = groups.setdefault(group, dict(_ZERO))
                    g["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    info = ev["Task Info"]
                    g = groups[group]
                    g["tasks"] += 1
                    run = tm.get("Executor Run Time", 0)
                    g["task_run_ms"] += run
                    g["task_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    g["gc_ms"] += tm.get("JVM GC Time", 0)
                    g["scheduler_delay_ms"] += max(
                        0,
                        info["Finish Time"] - info["Launch Time"] - run
                        - tm.get("Executor Deserialize Time", 0)
                        - tm.get("Result Serialization Time", 0),
                    )
                    sw = tm.get("Shuffle Write Metrics", {})
                    sr = tm.get("Shuffle Read Metrics", {})
                    g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    inp = tm.get("Input Metrics", {})
                    g["input_bytes"] += inp.get("Bytes Read", 0)
                    if inp.get("Records Read", 0) > 0:
                        g["scan_tasks"] += 1
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name == "data sent to Python workers":
                            g["python_bytes_sent"] += int(acc.get("Update", 0))
                        elif name == "data returned from Python workers":
                            g["python_bytes_received"] += int(acc.get("Update", 0))
    return groups


def sum_groups(groups: dict[str, dict], prefix: str) -> dict:
    """Totals over every job group whose id starts with ``prefix``."""
    total = dict(_ZERO)
    for group, g in groups.items():
        if group.startswith(prefix):
            for k, v in g.items():
                total[k] += v
    return total


# ---- streaming progress ----------------------------------------------------

class ProgressListener(StreamingQueryListener):
    """Keeps every progress event, as parsed JSON, per run id."""

    def __init__(self):
        self.events: list[dict] = []
        self._cond = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        rec = json.loads(event.progress.json)
        with self._cond:
            self.events.append(rec)
            self._cond.notify_all()

    def onQueryTerminated(self, event):
        pass

    def wait_for(self, run_id: str, batch_id: int, timeout: float = 30.0) -> list[dict]:
        """The run's events once the one for ``batch_id`` has arrived: the
        listener bus is asynchronous, so a terminated query's last events
        can still be in flight."""
        deadline = time.monotonic() + timeout
        with self._cond:
            while not any(e["runId"] == run_id and e["batchId"] == batch_id for e in self.events):
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"no progress event for batch {batch_id} of run {run_id}")
                self._cond.wait(left)
            return [e for e in self.events if e["runId"] == run_id]
