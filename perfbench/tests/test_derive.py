"""Metric derivation on small synthetic inputs; no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import derive


# -- percentile rule ----------------------------------------------------------

@pytest.mark.parametrize("n, want", [
    (19, None),      # the median has only 9.5 samples beyond it
    (20, 50.0),
    (99, 50.0),
    (100, 90.0),     # exactly 10 beyond p90, despite 0.1 not being exact
    (999, 90.0),
    (1000, 99.0),
    (10000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert derive.tail_percentile(n) == want


def test_summarize_states_count_and_supported_tail():
    s = derive.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100
    assert s["p50"] == pytest.approx(50.5)
    assert s["tail_p"] == 90.0
    assert s["tail"] == pytest.approx(90.1)
    small = derive.summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0}


def test_percentile_interpolates_and_rejects_empty():
    assert derive.percentile([0.0, 10.0], 25) == pytest.approx(2.5)
    with pytest.raises(ValueError):
        derive.percentile([], 50)


# -- progress JSON ------------------------------------------------------------

def _progress(batch, rows, total, add, **dur):
    d = {"triggerExecution": total, "addBatch": add, "latestOffset": 5,
         "getBatch": 1, "queryPlanning": 3, "walCommit": 7,
         "commitOffsets": 6}
    d.update(dur)
    return {"batchId": batch, "numInputRows": rows, "durationMs": d,
            "timestamp": "2026-01-01T00:00:00.000Z"}


def test_trigger_metrics_are_medians_over_batches_with_input():
    prog = [
        _progress(0, 100, 1000, 900, walCommit=10),
        _progress(1, 100, 1200, 1000, walCommit=30),
        _progress(2, 100, 1500, 1100, walCommit=20),
        _progress(3, 0, 50, 0, walCommit=999),   # idle: ignored
    ]
    m = derive.trigger_metrics(prog)
    assert m["trigger.batches"] == 3
    assert m["trigger.walCommit_ms"] == 20
    assert m["trigger.addBatch_ms"] == 1000
    assert m["trigger.latestOffset_ms"] == 5
    # triggerExecution - addBatch: 100, 200, 400
    assert m["trigger.overhead_ms"] == 200
    assert derive.trigger_seconds(prog) == [1.0, 1.2, 1.5]
    assert derive.input_rows(prog) == 300


def test_trigger_metrics_without_batches_read_zero():
    m = derive.trigger_metrics([_progress(0, 0, 10, 0)])
    assert m["trigger.batches"] == 0
    assert m["trigger.overhead_ms"] == 0.0


def test_window_metrics_from_state_operators():
    def p(batch, rows, total, mem, dropped, upd, commit):
        return {"batchId": batch, "numInputRows": rows, "stateOperators": [{
            "numRowsTotal": total, "memoryUsedBytes": mem,
            "numRowsDroppedByWatermark": dropped,
            "allUpdatesTimeMs": upd, "commitTimeMs": commit}]}

    m = derive.window_metrics([p(0, 10, 5, 100, 0, 10, 5),
                               p(1, 10, 7, 300, 2, 20, 10),
                               p(2, 0, 6, 200, 1, 1, 1)])
    assert m["windows.state_rows"] == 6        # after the last batch
    assert m["windows.state_bytes"] == 200
    assert m["windows.rows_dropped_by_watermark"] == 3
    assert m["windows.state_ms"] == pytest.approx(22.5)  # median of 15, 30


# -- event log ----------------------------------------------------------------

def _task(launch_ms, cpu_ns, gc_ms, shuffle):
    return {"Event": "SparkListenerTaskEnd",
            "Task Info": {"Launch Time": launch_ms},
            "Task Metrics": {
                "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Input Metrics": {"Bytes Read": 7}}}


SQL = "org.apache.spark.sql.execution.ui."


def _sql_start(execution, time_ms, scan_acc):
    scan = {"nodeName": "Scan parquet", "children": [], "metrics": [
        {"name": "size of files read", "accumulatorId": scan_acc},
        {"name": "number of files read", "accumulatorId": scan_acc + 1}]}
    return {"Event": SQL + "SparkListenerSQLExecutionStart",
            "executionId": execution, "time": time_ms,
            "sparkPlanInfo": {"nodeName": "Write", "metrics": [],
                              "children": [scan]}}


def test_spark_totals_attributes_jobs_and_tasks_to_the_window(tmp_path):
    events = [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
        {"Event": "SparkListenerJobStart", "Submission Time": 500},
        {"Event": "SparkListenerJobStart", "Submission Time": 1500},
        {"Event": "SparkListenerJobStart", "Submission Time": 2500},
        _task(400, 9_000_000_000, 9, 9),      # before the window
        _sql_start(0, 600, 10),
        {"Event": SQL + "SparkListenerDriverAccumUpdates",
         "executionId": 0, "accumUpdates": [[10, 999], [11, 1]]},
        _sql_start(1, 1100, 20),
        _task(1200, 2_000_000_000, 30, 100),
        _task(1900, 500_000_000, 20, 0),
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Launch Time": 1300}},
        # AQE re-plans execution 1: its new scan node reports too
        {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 1, "sparkPlanInfo": {"metrics": [
             {"name": "size of files read", "accumulatorId": 30}]}},
        {"Event": SQL + "SparkListenerDriverAccumUpdates",
         "executionId": 1, "accumUpdates": [[20, 1000], [21, 2], [30, 24]]},
    ]
    path = tmp_path / "eventlog_v2_local-1"
    path.mkdir()
    # a rolling log: parts in index order, 10 after 2
    (path / "appstatus_local-1").write_text("")
    for i, part in ((2, events[:5]), (10, events[5:])):
        (path / f"events_{i}_local-1").write_text(
            "\n".join(json.dumps(e) for e in part) + "\n")
    read = derive.read_event_log(str(path))
    assert read == events
    tot = derive.spark_totals(read, 1.0, 2.0)
    assert tot == {"jobs": 1, "tasks": 3, "executor_cpu_s": 2.5,
                   "jvm_gc_s": 0.05, "shuffle_bytes": 100,
                   "bytes_read": 1024}


# -- spans --------------------------------------------------------------------

def test_self_times_subtract_the_union_of_children():
    spans = [
        {"id": 0, "name": "batch", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "prep", "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "name": "write", "parent": 0, "start": 2.0, "end": 6.0},
        {"id": 3, "name": "write", "parent": 0, "start": 8.0, "end": 9.0},
        {"id": 4, "name": "inner", "parent": 2, "start": 3.0, "end": 4.0},
    ]
    st = derive.self_times(spans)
    assert st["batch"] == pytest.approx(10 - 5 - 1)   # covered 1-6, 8-9
    assert st["write"] == pytest.approx(4 - 1 + 1)
    assert st["prep"] == pytest.approx(2.0)
    assert st["inner"] == pytest.approx(1.0)


def test_span_recorder_nests_and_inherits_batch_id():
    from perfbench.spans import SpanRecorder

    rec = SpanRecorder()

    def write(self, df, batch_id):
        return prep(df)

    def prep(df):
        return df

    write = rec.wrap(write, "write", batch_arg=2)
    prep = rec.wrap(prep, "prep")
    assert write(None, "df", 7) == "df"
    by_name = {s["name"]: s for s in rec.spans}
    assert by_name["prep"]["parent"] == by_name["write"]["id"]
    assert by_name["prep"]["batch_id"] == 7
    assert by_name["write"]["parent"] is None


# -- /proc --------------------------------------------------------------------

def _stat(pid, comm, ppid, ticks=(0, 0, 0, 0)):
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime
    return (f"{pid} ({comm}) S {ppid} 1 1 0 -1 0 0 0 0 0 "
            + " ".join(str(t) for t in ticks) + " 20 0\n")


def _fake_proc(root, pid, ppid, rss_kib, comm="java", pss_kib=None,
               ticks=(0, 0, 0, 0)):
    d = root / str(pid)
    d.mkdir()
    (d / "stat").write_text(_stat(pid, comm, ppid, ticks))
    (d / "status").write_text(f"Name:\t{comm}\nVmRSS:\t{rss_kib} kB\n")
    if pss_kib is not None:
        (d / "smaps_rollup").write_text(
            f"Rss:\t{rss_kib} kB\nPss:\t{pss_kib} kB\n")


def test_tree_rss_sums_descendants_only(tmp_path):
    _fake_proc(tmp_path, 10, 1, 1024)
    # a forked worker: PSS, not RSS, so shared pages count once
    _fake_proc(tmp_path, 11, 10, 8192, comm="py (worker) x", pss_kib=2048)
    _fake_proc(tmp_path, 12, 11, 1024)
    _fake_proc(tmp_path, 13, 1, 9999)          # not ours
    (tmp_path / "self").mkdir()                # non-pid entries are skipped
    assert sorted(derive.descendants(10, derive.proc_children(
        str(tmp_path)))) == [10, 11, 12]
    assert derive.tree_rss_mib(10, str(tmp_path)) == pytest.approx(4.0)
    assert derive.rss_kib(99, str(tmp_path)) == 0


def test_tree_cpu_leaves_out_named_threads(tmp_path):
    hz = os.sysconf("SC_CLK_TCK")
    # the JVM: 400 ticks in all, 200 of them in a live JIT thread
    _fake_proc(tmp_path, 10, 1, 0, ticks=(300, 100, 0, 0))
    for tid, comm, ticks in ((10, "java", (100, 50)),
                             (20, "C2 CompilerThre", (150, 50))):
        t = tmp_path / "10" / "task" / str(tid)
        t.mkdir(parents=True)
        (t / "comm").write_text(comm + "\n")
        (t / "stat").write_text(_stat(tid, comm, 1, ticks + (0, 0)))
    # a worker daemon with a reaped child's time in cutime/cstime
    _fake_proc(tmp_path, 11, 10, 0, comm="python3", ticks=(60, 40, 70, 30))
    _fake_proc(tmp_path, 13, 1, 0, ticks=(999, 0, 0, 0))     # not ours
    cpu, jit = derive.tree_cpu_s(10, "CompilerThre", str(tmp_path))
    assert jit == pytest.approx(200 / hz)
    assert cpu == pytest.approx((400 - 200 + 200) / hz)
    assert derive.tree_cpu_s(10, proc_root=str(tmp_path)) == (
        pytest.approx(600 / hz), 0.0)
    assert derive.cpu_s(99, str(tmp_path)) == 0.0
