"""What the traced run records, from outside the engine.

* :func:`parse_event_log` turns Spark's JSON event log (written
  uncompressed, see :func:`event_log_conf`) into the ``exec.*``
  metrics, counting only tasks launched inside a time window.
  Standard library only.
* :class:`ProgressRecorder` keeps every streaming progress report
  whole (phases, state operators, watermark, source offsets).
* :class:`RssSampler` samples the resident memory of this process
  and every descendant (the JVM and its Python workers) from /proc.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql.streaming import StreamingQueryListener


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that write a plain-JSON event log to ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


# SQL metrics of the Python-worker boundary, by the name Spark gives them
_PY_INIT = ("time to start Python workers", "time to initialize Python workers")
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
# SQL metric types whose values are nanoseconds / milliseconds
_NS, _MS = "nsTiming", "timing"


def _metric_types(plan: dict, out: dict[int, str]) -> None:
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for child in plan.get("children", ()):
        _metric_types(child, out)


def _seconds(value: float, metric_type: str) -> float:
    if metric_type == _NS:
        return value / 1e9
    return value / 1e3  # "timing" and anything unlabelled are milliseconds


def parse_event_log(log_dir: str, window_ms: tuple[float, float]) -> dict[str, float]:
    """``exec.*`` totals over jobs submitted and tasks launched inside
    ``window_ms`` (epoch milliseconds, inclusive)."""
    lo, hi = window_ms
    types: dict[int, str] = {}
    out = dict.fromkeys(
        (
            "exec.jobs", "exec.tasks", "exec.task_time_s", "exec.gc_s",
            "exec.scan_bytes", "exec.shuffle_write_bytes",
            "exec.shuffle_read_bytes", "exec.spill_bytes",
            "exec.python_init_s", "exec.python_run_s", "exec.python_bytes_sent",
        ),
        0.0,
    )
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _metric_types(ev.get("sparkPlanInfo", {}), types)
                elif kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", -1) <= hi:
                        out["exec.jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    if not lo <= info.get("Launch Time", -1) <= hi:
                        continue
                    _add_task(out, ev.get("Task Metrics") or {}, info, types)
    return out


def _add_task(out: dict, tm: dict, info: dict, types: dict[int, str]) -> None:
    out["exec.tasks"] += 1
    out["exec.task_time_s"] += tm.get("Executor Run Time", 0) / 1e3
    out["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    out["exec.scan_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
    out["exec.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
        "Shuffle Bytes Written", 0
    )
    rd = tm.get("Shuffle Read Metrics", {})
    out["exec.shuffle_read_bytes"] += rd.get("Local Bytes Read", 0) + rd.get(
        "Remote Bytes Read", 0
    )
    out["exec.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", ()):
        name, update = acc.get("Name"), acc.get("Update")
        if update is None or name not in (*_PY_INIT, _PY_RUN, _PY_SENT):
            continue
        value = float(update)
        if name == _PY_SENT:
            out["exec.python_bytes_sent"] += value
        else:
            key = "exec.python_run_s" if name == _PY_RUN else "exec.python_init_s"
            out[key] += _seconds(value, types.get(acc.get("ID"), _MS))


class ProgressRecorder(StreamingQueryListener):
    """Keeps each ``StreamingQueryProgress`` as its full JSON dict."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def descendants(root: int) -> list[int]:
    """Process ids of every live descendant of ``root``."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm", encoding="utf-8") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background sampler of :func:`tree_rss_bytes` for this process."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        """Stop sampling; safe to call more than once."""
        self._stop.set()
        self._thread.join()
