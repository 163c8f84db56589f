"""Metric derivation from the artifacts a run leaves behind.

Everything here is a pure function over plain Python data or files on
disk: streaming progress JSON, a Spark event log and ``/proc``. No
Spark session is needed, so the benchmark's own tests exercise these
rules on small synthetic inputs.
"""

from __future__ import annotations

import json
import math
import os
import statistics

#: Percentiles the reporting rule may choose from, highest first.
PERCENTILES = (99.9, 99.0, 90.0, 50.0)

#: durationMs keys reported as ``trigger.<key>_ms`` (row query only).
TRIGGER_KEYS = ("latestOffset", "getBatch", "queryPlanning", "walCommit",
                "commitOffsets", "addBatch")


# -- percentiles --------------------------------------------------------------

def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, min_beyond: int = 10) -> float | None:
    """The highest percentile in ``PERCENTILES`` that has at least
    ``min_beyond`` of ``n`` samples beyond it, or None when even the
    median lacks them."""
    for p in PERCENTILES:
        # rounded: 100 * (1 - 0.9) is 9.999999999999998 in binary
        if round(n * (100.0 - p) / 100.0, 6) >= min_beyond:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median plus the highest percentile the sample supports, with the
    sample count stated."""
    out = {"n": len(values)}
    if not values:
        return out
    out["p50"] = percentile(values, 50.0)
    tail = tail_percentile(len(values))
    if tail is not None and tail > 50.0:
        out["tail_p"] = tail
        out["tail"] = percentile(values, tail)
    return out


# -- streaming progress -------------------------------------------------------

def trigger_metrics(progress: list[dict]) -> dict:
    """``trigger.*`` from one query's progress events: the median of
    each ``durationMs`` component over batches that read input, the
    median fixed overhead (``triggerExecution`` - ``addBatch``) and the
    batch count."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    out: dict[str, float] = {"trigger.batches": float(len(batches))}
    for key in TRIGGER_KEYS:
        vals = [float(p["durationMs"][key]) for p in batches
                if key in p.get("durationMs", {})]
        out[f"trigger.{key}_ms"] = statistics.median(vals) if vals else 0.0
    over = [float(p["durationMs"]["triggerExecution"]
                  - p["durationMs"].get("addBatch", 0))
            for p in batches if "triggerExecution" in p.get("durationMs", {})]
    out["trigger.overhead_ms"] = statistics.median(over) if over else 0.0
    return out


def trigger_seconds(progress: list[dict]) -> list[float]:
    """``triggerExecution`` in seconds for every batch that read input."""
    return [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress
            if p.get("numInputRows", 0) > 0
            and "triggerExecution" in p.get("durationMs", {})]


def input_rows(progress: list[dict]) -> int:
    return int(sum(p.get("numInputRows", 0) for p in progress))


def window_metrics(progress: list[dict]) -> dict:
    """``windows.*`` from the window query's progress: state rows and
    bytes after the last batch, total rows dropped by the watermark and
    the median state time per batch (all updates + commit)."""
    ops = [(p, p.get("stateOperators") or []) for p in progress]
    ops = [(p, o) for p, o in ops if o]
    if not ops:
        return {"windows.state_rows": 0.0, "windows.state_bytes": 0.0,
                "windows.rows_dropped_by_watermark": 0.0,
                "windows.state_ms": 0.0}
    last = max(ops, key=lambda po: po[0].get("batchId", -1))[1]
    state_ms = [sum(o.get("allUpdatesTimeMs", 0) + o.get("commitTimeMs", 0)
                    for o in os_) for p, os_ in ops
                if p.get("numInputRows", 0) > 0]
    return {
        "windows.state_rows": float(sum(o.get("numRowsTotal", 0)
                                        for o in last)),
        "windows.state_bytes": float(sum(o.get("memoryUsedBytes", 0)
                                         for o in last)),
        "windows.rows_dropped_by_watermark": float(sum(
            o.get("numRowsDroppedByWatermark", 0)
            for _, os_ in ops for o in os_)),
        "windows.state_ms": statistics.median(state_ms) if state_ms else 0.0,
    }


# -- Spark event log ----------------------------------------------------------

def read_event_log(path: str) -> list[dict]:
    """Events of one application: a single JSON-lines file, or a rolling
    log directory (``eventlog_v2_*``) of ``events_<n>_*`` parts."""
    if os.path.isdir(path):
        parts = sorted((n for n in os.listdir(path)
                        if n.startswith("events_")),
                       key=lambda n: int(n.split("_")[1]))
        return [e for n in parts
                for e in read_event_log(os.path.join(path, n))]
    events = []
    with open(path) as f:
        for line in f:
            if line.strip():
                events.append(json.loads(line))
    return events


def _plan_metric_names(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metric_names(child, out)


def spark_totals(events: list[dict], t0: float, t1: float) -> dict:
    """Executor-side totals for jobs submitted and tasks launched in
    [t0, t1] (unix seconds): job and task counts, executor CPU, task
    GC time and shuffle bytes written, plus the parquet bytes scanned
    (the scans' "size of files read" plan metric, summed over SQL
    executions started in the interval; the tasks' input metrics miss
    local parquet reads). GC time is summed per task, so concurrent
    tasks count a shared pause more than once."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    jobs = sum(1 for e in events if e.get("Event") == "SparkListenerJobStart"
               and lo <= e.get("Submission Time", -1) <= hi)
    tasks = cpu_ns = gc_ms = shuffle = 0
    names: dict[int, str] = {}
    in_window: set[int] = set()
    read = 0
    for e in events:
        kind = e.get("Event", "").rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart",
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_metric_names(e.get("sparkPlanInfo", {}), names)
            if kind == "SparkListenerSQLExecutionStart" and lo <= e.get(
                    "time", -1) <= hi:
                in_window.add(e["executionId"])
        elif kind == "SparkListenerDriverAccumUpdates":
            if e.get("executionId") in in_window:
                read += sum(v for a, v in e.get("accumUpdates", [])
                            if names.get(a) == "size of files read")
        elif kind == "SparkListenerTaskEnd":
            if not lo <= e.get("Task Info", {}).get("Launch Time", -1) <= hi:
                continue
            m = e.get("Task Metrics") or {}
            tasks += 1
            cpu_ns += m.get("Executor CPU Time", 0)
            gc_ms += m.get("JVM GC Time", 0)
            shuffle += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
    return {"jobs": jobs, "tasks": tasks, "executor_cpu_s": cpu_ns / 1e9,
            "jvm_gc_s": gc_ms / 1000.0, "shuffle_bytes": shuffle,
            "bytes_read": read}


# -- spans --------------------------------------------------------------------

def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span's duration minus the
    part of it covered by its direct children (spans naming it as
    parent)."""
    by_id = {s["id"]: s for s in spans}
    child_cover: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") in by_id:
            child_cover.setdefault(s["parent"], []).append(
                (s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered = _union_length(child_cover.get(s["id"], []),
                                s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + (
            s["end"] - s["start"] - covered)
    return out


def _union_length(intervals: list[tuple[float, float]], lo: float,
                  hi: float) -> float:
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


# -- /proc --------------------------------------------------------------------

def proc_children(proc_root: str = "/proc") -> dict[int, list[int]]:
    """Parent pid → child pids from ``/proc/<pid>/stat``."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc_root, name, "stat")) as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces or parens; fields resume after the
        # last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int, kids: dict[int, list[int]]) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_kib(pid: int, proc_root: str = "/proc") -> int:
    """Resident memory of one process in KiB, as its proportional set
    size (pages shared with other processes, such as forked Python
    workers, split between them) where the kernel reports it, else its
    RSS. 0 if the process has gone."""
    for name, key in (("smaps_rollup", "Pss:"), ("status", "VmRSS:")):
        try:
            with open(os.path.join(proc_root, str(pid), name)) as f:
                for line in f:
                    if line.startswith(key):
                        return int(line.split()[1])
        except OSError:
            continue
    return 0


def cpu_times(proc_root: str = "/proc") -> dict[str, int]:
    """Host-wide CPU time in clock ticks from the ``cpu`` line of
    ``/proc/stat``: busy (user through softirq, guest time excluded),
    idle (with iowait) and steal (time the hypervisor gave this
    machine's CPUs to others)."""
    with open(os.path.join(proc_root, "stat")) as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6],
            "idle": v[3] + v[4], "steal": v[7]}


def pressure_stall_s(resource: str, proc_root: str = "/proc") -> float:
    """Total time some task stalled on ``resource`` (cpu, memory, io)
    since boot, from pressure stall information; 0 where the kernel
    does not report it."""
    try:
        with open(os.path.join(proc_root, "pressure", resource)) as f:
            for line in f:
                if line.startswith("some"):
                    return int(line.rsplit("total=", 1)[1]) / 1e6
    except OSError:
        pass
    return 0.0


def tree_rss_mib(pid: int, proc_root: str = "/proc") -> float:
    kids = proc_children(proc_root)
    return sum(rss_kib(p, proc_root)
               for p in descendants(pid, kids)) / 1024.0


def _stat_fields(path: str) -> list[str] | None:
    """Fields of a ``stat`` file from field 3 (state) on; None if the
    process or thread has gone."""
    try:
        with open(path) as f:
            # comm may contain spaces or parens; fields resume after
            # the last ')'
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def cpu_s(pid: int, proc_root: str = "/proc") -> float:
    """CPU seconds one process has used, its reaped children's
    included (``utime + stime + cutime + cstime``); 0 if it has gone."""
    fields = _stat_fields(os.path.join(proc_root, str(pid), "stat"))
    # fields[0] is field 3 (state); utime..cstime are fields 14-17
    return (sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")
            if fields else 0.0)


def threads_cpu_s(pid: int, name_part: str, proc_root: str = "/proc") -> float:
    """CPU seconds used by the live threads of a process whose name
    contains ``name_part`` (``utime + stime`` of each)."""
    tasks = os.path.join(proc_root, str(pid), "task")
    try:
        tids = os.listdir(tasks)
    except OSError:
        return 0.0
    ticks = 0
    for tid in tids:
        try:
            with open(os.path.join(tasks, tid, "comm")) as f:
                if name_part not in f.read():
                    continue
        except OSError:
            continue
        fields = _stat_fields(os.path.join(tasks, tid, "stat"))
        if fields:
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int, skip_threads: str | None = None,
               proc_root: str = "/proc") -> tuple[float, float]:
    """CPU seconds used so far by a process and its live descendants,
    as (total less the threads named like ``skip_threads``, those
    threads). Time a hypervisor steals and time other processes hold
    the CPU are not counted, so differences of this are steadier than
    wall time on a shared host."""
    total = skipped = 0.0
    for p in descendants(pid, proc_children(proc_root)):
        total += cpu_s(p, proc_root)
        if skip_threads:
            skipped += threads_cpu_s(p, skip_threads, proc_root)
    return total - skipped, skipped
