"""Measurement plumbing shared by the workloads.

Everything here observes the program from outside: a ``/proc`` sampler
for memory and CPU steal, a span recorder that wraps public methods for
the traced run, a reader for Spark's uncompressed event log, and the
session factory that points every scratch file into the work directory.
"""

from __future__ import annotations

import functools
import json
import math
import os
import threading
import time
from collections import defaultdict


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile; 0.0 for an empty list."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


# ---------------------------------------------------------------- /proc


def _cpu_times() -> tuple[int, int]:
    """(busy, steal) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = (fields + [0] * 8)[:8]
    return user + nice + system + irq + softirq, steal


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
        # the command name may contain spaces; ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(d))
    return kids


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of ``root`` and its descendants: forked
    Python workers share pages with their daemon, so summing RSS would
    count those pages once per worker."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class ProcSampler:
    """Samples the resident memory (PSS) of this process tree -- driver,
    JVM, Python workers -- every ``PERIOD_S`` seconds, and the host's CPU
    steal between start and stop."""

    PERIOD_S = 0.5

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._cpu0 = self._cpu1 = (0, 0)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_pss_bytes(os.getpid()))
            self._stop.wait(self.PERIOD_S)

    def start(self) -> "ProcSampler":
        self._cpu0 = _cpu_times()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._cpu1 = _cpu_times()
        self._stop.set()
        self._thread.join()

    @property
    def peak_rss_mb(self) -> float:
        return self.peak_bytes / 2**20

    @property
    def steal_frac(self) -> float:
        busy = self._cpu1[0] - self._cpu0[0]
        steal = self._cpu1[1] - self._cpu0[1]
        return steal / (busy + steal) if busy + steal > 0 else 0.0


# ---------------------------------------------------------------- spans


class Spans:
    """In-memory (name, start, end, parent) records around wrapped calls.

    ``wrap`` replaces a method on its class with a timing shim; ``restore``
    puts the originals back.  Nothing is wrapped in an untraced run.
    """

    def __init__(self):
        self.records: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[type, str, object]] = []

    def span(self, name: str):
        spans = self

        class _Span:
            def __enter__(self):
                stack = getattr(spans._local, "stack", None)
                if stack is None:
                    stack = spans._local.stack = []
                self.rec = {
                    "name": name,
                    "parent": stack[-1]["name"] if stack else None,
                    "start": time.time(),
                }
                stack.append(self.rec)
                return self.rec

            def __exit__(self, *exc):
                self.rec["end"] = time.time()
                spans._local.stack.pop()
                spans.records.append(self.rec)
                return False

        return _Span()

    def wrap(self, cls: type, method: str, name: str) -> None:
        original = cls.__dict__[method]

        @functools.wraps(original)
        def shim(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(cls, method, shim)
        self._patched.append((cls, method, original))

    def restore(self) -> None:
        for cls, method, original in reversed(self._patched):
            setattr(cls, method, original)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [r for r in self.records if r["name"] == name and "end" in r]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r) + "\n")


# ---------------------------------------------------------------- event log


class EventLog:
    """Jobs and stages parsed from one uncompressed Spark event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    self.jobs[ev["Job ID"]] = {
                        "submit_ms": ev.get("Submission Time", 0),
                        "props": ev.get("Properties") or {},
                        "stage_ids": ev.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = stage_tasks[ev["Stage ID"]]
                    acc["run_ms"] += m.get("Executor Run Time", 0)
                    acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                    acc["gc_ms"] += m.get("JVM GC Time", 0)
                    acc["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    acc["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    accs = {
                        a.get("Name"): a.get("Value")
                        for a in info.get("Accumulables", [])
                        if a.get("Name")
                    }
                    self.stages[info["Stage ID"]] = {"accums": accs}
        for sid, st in self.stages.items():
            st.update(stage_tasks.get(sid, {}))

    def jobs_between(self, start_s: float, end_s: float) -> list[int]:
        lo, hi = start_s * 1000.0, end_s * 1000.0
        return [j for j, info in self.jobs.items() if lo <= info["submit_ms"] <= hi]

    def stage_sums(self, job_ids) -> dict[str, float]:
        """Summed task metrics and Python-boundary accumulators of the
        stages the given jobs ran (skipped stages contribute nothing)."""
        sids = {s for j in job_ids for s in self.jobs[j]["stage_ids"] if s in self.stages}
        out: dict[str, float] = defaultdict(float)
        out["stages"] = len(sids)
        for s in sids:
            st = self.stages[s]
            for k in ("run_ms", "cpu_ns", "gc_ms", "spill_b", "shuffle_read_b", "shuffle_write_b"):
                out[k] += st.get(k, 0.0)
            for name, value in st["accums"].items():
                if name in _PYTHON_ACCUMS:
                    out[_PYTHON_ACCUMS[name]] += _accum_number(value)
        return out


_PYTHON_ACCUMS = {
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_returned_b",
}


def _accum_number(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


# ---------------------------------------------------------------- session


def spark_session(work: str, event_log_dir: str | None = None):
    """The engine's ``get_spark`` (``local[SPARK_GRAFT_CPUS]``) with scratch
    files kept under ``work`` and, for the traced run, an uncompressed
    non-rolling event log."""
    from data_stream_flink_user_address_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
