"""Measurement from outside the engine: call spans, process-tree RSS, and
the Spark event log of a traced run."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory: name, start, end, parent and run id. The
    benchmark opens one span per pass and one per call phase (build,
    exec) inside it; ``self_s`` is a span's duration minus what its
    children cover."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def start(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": sid, "name": name, "parent": parent, "run": self.run_id,
                           "start": time.perf_counter(), "end": None, **attrs})
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> float:
        assert self._stack and self._stack[-1] == sid, "spans must nest"
        self._stack.pop()
        s = self.spans[sid]
        s["end"] = time.perf_counter()
        return s["end"] - s["start"]

    def unwind(self, name: str | None = None) -> None:
        """End the open spans (only those called ``name``, if given) after
        an exception skipped their ``end``."""
        while self._stack and (name is None or self.spans[self._stack[-1]]["name"] == name):
            self.end(self._stack[-1])

    def with_self_time(self) -> list[dict]:
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - child_s[s["id"]]})
        return out


# ---------------------------------------------------------------------------
# peak RSS of this process and all its descendants (driver JVM, Python workers)
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children_map(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds in a
    daemon thread; ``stop()`` joins it and returns the peak in bytes."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._halt.is_set():
            rss = tree_rss_bytes(pid)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._halt.wait(self.interval)

    def reset(self) -> None:
        """Forget the peak so far (memory used before this point)."""
        with self._lock:
            self.peak = 0

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._halt.set()
        self._thread.join(timeout=10)
        return self.peak


def process_start_epoch() -> float:
    """Wall-clock time this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# Spark event log (uncompressed JSON lines; Spark 4 may roll it into
# eventlog_v2_*/events_* files)
# ---------------------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RET = "data returned from Python workers"
_ROWS = "number of output rows"


def _event_files(log_dir: str) -> list[str]:
    files = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            files += sorted(glob.glob(os.path.join(p, "events_*")), key=_roll_index)
        else:
            files.append(p)
    return files


def _roll_index(path: str) -> int:
    try:
        return int(os.path.basename(path).split("_")[1])
    except (IndexError, ValueError):
        return 0


def _plan_metric_names(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for c in info.get("children", []):
        _plan_metric_names(c, out)


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Task and SQL-metric totals per job description.

    Returns ``{description: {jobs, tasks, executor_run_s, executor_cpu_s,
    gc_s, shuffle_write_bytes, shuffle_read_bytes, spill_bytes,
    py_worker_s, py_bytes_sent, py_bytes_returned, rows_produced}}``;
    jobs without a description land under ``""``."""
    stage_desc: dict[int, str] = {}
    acc_names: dict[int, str] = {}
    tot: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a line cut by an unflushed writer
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description", "") or ""
                    tot[desc]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_metric_names(ev.get("sparkPlanInfo", {}), acc_names)
                elif kind == "SparkListenerTaskEnd":
                    d = tot[stage_desc.get(ev.get("Stage ID"), "")]
                    d["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    d["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    d["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    d["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    d["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    d["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    d["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        name = acc.get("Name") or acc_names.get(acc.get("ID"), "")
                        try:
                            upd = float(acc.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        if name == _PY_TIME:
                            d["py_worker_s"] += upd / 1e3  # SQL timing metrics are in ms
                        elif name == _PY_SENT:
                            d["py_bytes_sent"] += upd
                        elif name == _PY_RET:
                            d["py_bytes_returned"] += upd
                        elif name == _ROWS:
                            d["rows_produced"] += upd
    return {k: dict(v) for k, v in tot.items()}


def planning_s(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s own
    QueryExecution, from its QueryPlanningTracker. Forces physical
    planning of that QueryExecution first (the noop write plans a copy)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.values().iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next().durationMs()
    return total_ms / 1e3
