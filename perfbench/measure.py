"""Process-tree CPU and memory accounting, spans, and the Spark event-log
reader.

All of it observes the program from outside: ``/proc`` for the benchmark
process and every descendant (the Spark JVM, the PySpark daemon and its
forked workers), spans recorded around the benchmark's own calls into the
program, and the JSON event log of Spark's own ``EventLoggingListener``,
attached to the session for a traced pass (``EventLog``).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


# -- process tree ---------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = root or os.getpid()
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited process waiting to be reaped
    (state Z) counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] not in ("Z", "X")
    except OSError:
        return False


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime of every live process in the tree plus the reaped
    children each one has waited for (cutime+cstime). A forked Python
    worker that exits is reaped by the daemon, so its CPU moves into the
    daemon's cutime and a before/after difference stays exact."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (field 3); utime..cstime are fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_pss_mb(root: int | None = None) -> float:
    """Summed proportional set size of the tree. Forked workers share pages
    with the daemon; PSS splits each shared page among its users, so the
    sum counts it once where an RSS sum counts it per process."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: time the hypervisor ran
    something else while this VM's vCPUs were runnable."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class PssSampler:
    """Background thread sampling the tree's summed PSS every ``interval``
    seconds; keeps the peak and its own CPU cost."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.samples: list[tuple[float, float]] = []  # (time, MB)
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        t0 = time.thread_time()
        while not self._stop.is_set():
            self.samples.append((time.time(), tree_pss_mb()))
            self._stop.wait(self.interval)
        self.cpu_s = time.thread_time() - t0

    @property
    def peak_mb(self) -> float:
        return max((mb for _t, mb in self.samples), default=0.0)

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=30)


# -- spans ----------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent and run id. ``enabled=False``
    makes ``span`` a plain context manager that records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (catalog write records, the
        run_volatile barrier clock)."""
        if not self.enabled:
            return -1
        self.spans.append(
            {
                "id": len(self.spans),
                "name": name,
                "start": start,
                "end": end,
                "parent": parent,
                "run": self.run_id,
                **attrs,
            }
        )
        return len(self.spans) - 1

    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the union of its children's intervals
        (clipped to the parent)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        selft = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": selft[s["id"]]}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.id: int | None = None

    def __enter__(self) -> "_Span":
        self.start = time.time()
        if self.tracer.enabled:
            self.id = self.tracer.add(
                self.name, self.start, self.start, self.tracer.current(), **self.attrs
            )
            self.tracer._stack.append(self.id)
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()
        if self.tracer.enabled:
            self.tracer._stack.pop()
            self.tracer.spans[self.id]["end"] = self.end


class BarrierClock(dict):
    """A ``stage_times`` dict for ``run_volatile`` that also keeps when each
    barrier finished, so barrier spans can be placed on the wall clock."""

    def __init__(self):
        super().__init__()
        self.events: list[tuple[str, float, float]] = []

    def __setitem__(self, key, value) -> None:
        prev = self.get(key, 0.0)
        super().__setitem__(key, value)
        now = time.time()
        self.events.append((key, now - (value - prev), now))


# -- Spark event log ------------------------------------------------------


class EventLog:
    """Spark's own ``EventLoggingListener`` attached to a live session for
    the duration of a ``with`` block, so the standard JSON event log holds
    exactly the jobs run inside it. Attaching at run time (instead of
    ``spark.eventLog.enabled``, which is fixed for a session) lets one
    process interleave traced and untraced passes."""

    def __init__(self, spark, log_dir: str, name: str):
        self.spark = spark
        self.path = os.path.join(log_dir, name)
        self._log_dir = log_dir
        self._name = name

    def __enter__(self) -> "EventLog":
        sc = self.spark.sparkContext
        jsc, jvm = sc._jsc.sc(), sc._jvm
        conf = (
            jsc.conf()
            .clone()
            .set("spark.eventLog.compress", "false")
            .set("spark.eventLog.rolling.enabled", "false")
            .set("spark.eventLog.overwrite", "true")
        )
        self._jsc = jsc
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            self._name,
            jvm.scala.Option.empty(),
            jvm.java.net.URI("file://" + os.path.abspath(self._log_dir)),
            conf,
            sc._jsc.hadoopConfiguration(),
        )
        self._listener.start()
        jsc.addSparkListener(self._listener)
        return self

    def __exit__(self, *exc) -> None:
        # deliver every queued event of the block before detaching
        self._jsc.listenerBus().waitUntilEmpty()
        self._jsc.removeSparkListener(self._listener)
        self._listener.stop()

# Accumulable names the Python runners register in Spark 4.1
# (PythonSQLMetrics); a rename must fail the parser test, not read as 0.
ACC_TO_PYTHON = "data sent to Python workers"
ACC_FROM_PYTHON = "data returned from Python workers"
ACC_PY_RUN = "time to run Python workers"
ACC_PY_BOOT = ("time to start Python workers", "time to initialize Python workers")


def read_event_log(path: str) -> list[dict]:
    events = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                events.append(json.loads(line))
    return events


def _acc_value(acc: dict) -> float:
    v = acc.get("Value", 0)
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def job_windows(events: list[dict]) -> list[dict]:
    """One record per job: id, submit time (s since epoch) and stage ids."""
    return [
        {
            "job": e["Job ID"],
            "submit": e["Submission Time"] / 1000.0,
            "stages": e.get("Stage IDs", []),
        }
        for e in events
        if e.get("Event") == "SparkListenerJobStart"
    ]


def summarize(events: list[dict]) -> dict:
    """Totals over one event log: task counts and times from TaskEnd,
    Python/Arrow accumulables from StageCompleted, and the worst stage's
    max/median task time."""
    jobs = job_windows(events)
    stages = {s for j in jobs for s in j["stages"]}
    out = {
        "jobs": len(jobs),
        "tasks": 0,
        "task_s": 0.0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "peak_exec_mem_mb": 0.0,
        "max_stage_skew": 1.0,
        "to_python_mb": 0.0,
        "from_python_mb": 0.0,
        "python_run_s": 0.0,
        "python_boot_s": 0.0,
    }
    per_stage: dict[int, list[float]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerTaskEnd" and e.get("Stage ID") in stages:
            m = e.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            out["tasks"] += 1
            out["task_s"] += run_s
            out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            out["shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 2**20
            out["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
            out["peak_exec_mem_mb"] = max(
                out["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / 2**20
            )
            per_stage.setdefault(e["Stage ID"], []).append(run_s)
        elif kind == "SparkListenerStageCompleted":
            info = e.get("Stage Info") or {}
            if info.get("Stage ID") not in stages:
                continue
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                if name == ACC_TO_PYTHON:
                    out["to_python_mb"] += _acc_value(acc) / 2**20
                elif name == ACC_FROM_PYTHON:
                    out["from_python_mb"] += _acc_value(acc) / 2**20
                elif name == ACC_PY_RUN:
                    out["python_run_s"] += _acc_value(acc) / 1000.0
                elif name in ACC_PY_BOOT:
                    out["python_boot_s"] += _acc_value(acc) / 1000.0
    for times in per_stage.values():
        med = statistics.median(times)
        if len(times) > 1 and med > 0:
            out["max_stage_skew"] = max(out["max_stage_skew"], max(times) / med)
    return out


def attribute_jobs(events: list[dict], spans: list[dict]) -> dict[int, list[int]]:
    """Job ids per span, by submit time. Jobs started from run_volatile's
    thread pools carry no job description, so the innermost span whose
    interval holds the submit time owns the job."""
    out: dict[int, list[int]] = {}
    for j in job_windows(events):
        best = None
        for s in spans:
            if s["start"] <= j["submit"] <= s["end"]:
                if best is None or s["end"] - s["start"] < best["end"] - best["start"]:
                    best = s
        if best is not None:
            out.setdefault(best["id"], []).append(j["job"])
    return out
