"""Per-layer measurement from outside the program: time windows, Spark's own
event log, and a streaming progress listener.

Every traced call is recorded as a named wall-clock window. After the session
stops, the uncompressed event log is read once and each job and task is
charged to the window its submission or launch time falls in. The workloads
are single-client closed loops, so windows never overlap.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

# SQL metric names Spark 4.1 attaches to Arrow/pandas UDF operators
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "python_worker_s",
    "python_bytes_in", "python_bytes_out",
)


class Windows:
    """Named wall-clock windows in epoch milliseconds (the event log's clock)."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []

    def run(self, name: str, fn, *args):
        t0 = time.time() * 1000
        try:
            return fn(*args)
        finally:
            self.spans.append((name, t0, time.time() * 1000))

    def charge(self, event_dir: str) -> dict[str, dict[str, float]]:
        """Sum engine metrics per window name from every event log in `event_dir`."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
        spans = sorted(self.spans, key=lambda s: s[1])

        def owner(ms: float) -> str | None:
            for name, t0, t1 in spans:
                if t0 <= ms <= t1:
                    return name
            return None

        for path in glob.glob(os.path.join(event_dir, "*")):
            if not os.path.isfile(path):
                continue
            stage_owner: dict[int, str] = {}
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        name = owner(ev["Submission Time"])
                        if name:
                            out[name]["jobs"] += 1
                            for sid in ev.get("Stage IDs", []):
                                stage_owner[sid] = name
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        name = stage_owner.get(info["Stage ID"])
                        if name and "Completion Time" in info:
                            out[name]["stages"] += 1
                    elif kind == "SparkListenerTaskEnd":
                        _charge_task(ev, owner, out)
        return out


def _charge_task(ev: dict, owner, out) -> None:
    info = ev["Task Info"]
    name = owner(info["Launch Time"])
    if not name:
        return
    row = out[name]
    row["tasks"] += 1
    tm = ev.get("Task Metrics") or {}
    row["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000
    row["gc_s"] += tm.get("JVM GC Time", 0) / 1000
    row["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    row["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        upd = acc.get("Update")
        if upd is None:
            continue
        if acc.get("Name") == PY_RUN:
            row["python_worker_s"] += float(upd) / 1000  # a timing metric: ms
        elif acc.get("Name") == PY_SENT:
            row["python_bytes_in"] += float(upd)
        elif acc.get("Name") == PY_RECV:
            row["python_bytes_out"] += float(upd)


def total(rows: dict[str, dict[str, float]], names) -> dict[str, float]:
    acc = dict.fromkeys(FIELDS, 0.0)
    for n in names:
        for k, v in rows.get(n, {}).items():
            acc[k] += v
    return acc


def per_op(rows: dict[str, dict[str, float]]) -> dict[int, dict[str, float]]:
    """Totals per traced operation: windows are named `op.<i>` or `op.<i>.<part>`."""
    names: dict[int, list[str]] = defaultdict(list)
    for name in rows:
        parts = name.split(".")
        if parts[0] == "op":
            names[int(parts[1])].append(name)
    return {i: total(rows, ns) for i, ns in names.items()}


def noop_write(df) -> None:
    """Execute the whole plan without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def progress_listener():
    """A StreamingQueryListener that keeps each progress's durationMs map and
    each termination, for the streaming probe."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.progress: list[dict] = []
            self.terminated = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress.append({
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated += 1

        def wait_terminated(self, n: int, timeout_s: float = 10.0) -> None:
            """Listener events arrive asynchronously; wait for the n-th end."""
            deadline = time.perf_counter() + timeout_s
            while time.perf_counter() < deadline:
                with self.lock:
                    if self.terminated >= n:
                        return
                time.sleep(0.02)

        def take(self) -> list[dict]:
            with self.lock:
                out, self.progress = self.progress, []
            return out

    return Listener()


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under `path`."""
    files = size = 0
    for d, _, names in os.walk(path):
        for f in names:
            files += 1
            size += os.path.getsize(os.path.join(d, f))
    return files, size
