"""Outside-in observation: spans, Spark status-store harvests, process memory.

Nothing here reaches into the engine. Spans wrap the benchmark's own calls
into the engine's public functions; Spark numbers come from the SQL status
store and the status tracker that Spark keeps whether or not the UI runs;
memory comes from ``/proc``.
"""

from __future__ import annotations

import os
import re
import threading

# SQL metric name (as Spark labels it) -> (metric key, kind)
SQL_METRICS = {
    "shuffle bytes written": ("shuffle_write_mb", "size"),
    "spill size": ("spill_mb", "size"),
    "data sent to Python workers": ("arrow_sent_mb", "size"),
    "data returned from Python workers": ("arrow_recv_mb", "size"),
    "time to run Python workers": ("python_run_s", "time"),
    "time to initialize Python workers": ("python_init_s", "time"),
    "time to start Python workers": ("python_start_s", "time"),
}

_SIZE = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
         "TiB": 2.0 ** 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
         "h": 3600.0}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*),(\d+),(\w+)\)$")
_SEP = "\u0001"


def parse_metric_value(text: str, kind: str) -> float:
    """Parse one status-store value into MB or seconds.

    Spark renders a metric either as a bare total (``"472.0 B"``,
    ``"6 ms"``) or as ``"total (min, med, max ...)\\n<total> (<min>, ...)"``;
    the total is the first field of the last line."""
    line = text.strip().split("\n")[-1]
    head = line.split(" (")[0].strip().replace(",", "")
    num, _, unit = head.partition(" ")
    value = float(num)
    if kind == "size":
        return value * _SIZE[unit] / 2.0 ** 20
    return value * _TIME[unit]


class SparkHarvester:
    """Per-range totals of SQL metrics plus job and task counts.

    SQL execution ids are sequential, so a pass is the id range between two
    ``mark()`` calls; the store keeps at most
    ``spark.sql.ui.retainedExecutions`` (default 1000) executions, so
    harvest each pass as soon as it ends."""

    def __init__(self, spark):
        self.spark = spark
        self.store = spark._jsparkSession.sharedState().statusStore()

    def mark(self) -> int:
        """The first execution id that a later action will get."""
        ids = self.store.executionsList()
        n = ids.size()
        return ids.apply(n - 1).executionId() + 1 if n else 0

    def harvest(self, start: int, stop: int, job_group: str | None) -> dict:
        out = {key: 0.0 for key, _ in SQL_METRICS.values()}
        executions = 0
        for eid in range(start, stop):
            opt = self.store.execution(eid)
            if not opt.isDefined():
                continue
            executions += 1
            names = {}
            for item in opt.get().metrics().mkString(_SEP).split(_SEP):
                m = _PLAN_METRIC.match(item)
                if m and m.group(1) in SQL_METRICS:
                    names[m.group(2)] = SQL_METRICS[m.group(1)]
            for item in self.store.executionMetrics(eid).mkString(_SEP).split(_SEP):
                acc, _, value = item.partition(" -> ")
                if acc in names:
                    key, kind = names.pop(acc)  # an id can repeat in the plan list
                    out[key] += parse_metric_value(value, kind)
        out["sql_executions"] = float(executions)
        jobs = tasks = 0
        if job_group is not None:
            tracker = self.spark.sparkContext.statusTracker()
            for job in tracker.getJobIdsForGroup(job_group):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                jobs += 1
                for stage in info.stageIds:
                    st = tracker.getStageInfo(stage)
                    if st is not None:
                        tasks += st.numCompletedTasks
        out["jobs"] = float(jobs)
        out["tasks"] = float(tasks)
        return out


class Spans:
    """In-memory span log: (name, parent, start, end) in perf_counter
    seconds, written out with the result when the run ends."""

    def __init__(self):
        self.records: list = []
        self._lock = threading.Lock()

    def add(self, name: str, start: float, end: float,
            parent: str | None = None) -> None:
        with self._lock:
            self.records.append({"name": name, "parent": parent,
                                 "start": start, "end": end})

    def total(self, name: str, parent: str | None = None) -> float:
        return sum(r["end"] - r["start"] for r in self.records
                   if r["name"] == name
                   and (parent is None or r["parent"] == parent))


def _children(root: int) -> list:
    """All live descendants of ``root`` (pids), read from /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def _pss_bytes(pid: int) -> int:
    """Proportional set size: pages shared between processes (the Python
    workers forked from one daemon, a JVM child caught between fork and
    exec) are split among them instead of counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class MemorySampler:
    """Peak summed PSS of this process and every descendant (the Spark JVM
    and its Python workers), sampled from /proc on a daemon thread."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self.peak_parts: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        me = os.getpid()
        sizes = {p: _pss_bytes(p) for p in [me] + _children(me)}
        total = sum(sizes.values())
        if total > self.peak:
            self.peak = total
            self.peak_parts = {"self_mb": sizes[me] / 2.0 ** 20,
                               "children_mb": sorted(
                                   (v / 2.0 ** 20 for p, v in sizes.items()
                                    if p != me), reverse=True)}
        return total

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak / 2.0 ** 20
