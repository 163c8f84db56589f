#!/usr/bin/env python3
"""Layer-attributed benchmark of the spec-driven clip→graph engine.

    python3 perfbench/run.py --workload {backfill,graph_batch} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs come from ``--seed``; each
run builds them (outside its timings), sets up, measures for
``--seconds``, checks the committed output against the inputs, and
prints each metric by name with its unit, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones in ``BENCHMARK.json``; with
``--trace 1`` they are the per-layer ones, from span wrappers, the
Spark event log, streaming progress and staged plans. A per-layer
metric a workload does not exercise reads 0 and is listed under
``not_measured`` in the run's artifact
(``.perfbench_out/<workload>-seed<N>-trace<T>.json``), which also
records the host and the CPU stolen from it during the measured phase.

End-to-end metrics (the bounded ones in ``BENCHMARK.json``):

- ``setup_s``: session start plus the median of three set-up rounds
  (compile the spec, build the job, run it on warm-up input).
- ``cpu_us_per_item``: CPU time of this process tree (driver JVM,
  Python workers, this process) per input item (clip; lineitem row)
  in one drain or graph pass, median over the run. Time the
  hypervisor steals or other processes hold the CPU is not counted;
  the JVM's JIT compiler threads, which compile on their own schedule,
  are left out and reported as ``jvm.jit_cpu_s``.

Wall-clock figures spread by a third or more between runs on a shared
host, past any bound the benchmark may set, so they are printed by
name and kept in the artifact but not bounded: backfill
``clips_per_s`` (input clips / median drain wall), ``batch_p50_s``
(median row-query trigger time) and ``read_merged_s``; graph_batch
``graph_batch_s`` (median wall of one spec→run_job→noop pass); and
``peak_rss_mb``, the peak summed resident memory (PSS) of the process
tree sampled from ``/proc`` every 0.2 s (its median over the measured
phase is the per-layer ``memory.rss_mb``).

Failures count against ``attempted`` (clips per drain for backfill,
oracle rows for graph_batch); a run that raises prints no metrics and
exits 1.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "dataflow_flex_templates_spark"
#: every run must end within this, the first of a checkout excepted
RUN_LIMIT_S = 170
FIRST_RUN_LIMIT_S = 850
DRIVER_MEMORY_CAP_MIB = 2048
#: HotSpot names its JIT compiler threads "C1 CompilerThre…" and
#: "C2 CompilerThre…"
JIT_THREADS = "CompilerThre"

# the benchmark imports itself as a package from the checkout root
sys.path[:1] = [ROOT]

from perfbench import derive, fixtures, spans, workloads  # noqa: E402

CACHE = os.path.join(ROOT, ".perfbench_cache")
OUT = os.path.join(ROOT, ".perfbench_out")
POOL_SEED = 42


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=0,
                    help="Spark task slots (default and maximum: nproc)")
    ap.add_argument("--c1", action="store_true",
                    help="internal: single-core backfill baseline")
    ap.add_argument("--prepare", metavar="RUN_DIR",
                    help="internal: build this run's inputs, then exit")
    return ap.parse_args(argv)


# -- host ---------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_facts(cores: int, driver_mib: int) -> dict:
    import numpy
    import pyspark

    return {"nproc": nproc(), "cores_used": cores,
            "mem_total_mib": mem_total_mib(),
            "driver_memory_mib": driver_mib,
            "loadavg_before": loadavg(),
            "python": sys.version.split()[0],
            "pyspark": pyspark.__version__, "numpy": numpy.__version__}


def configure_env(run_dir: str, driver_mib: int) -> None:
    """Point every temp, local and worker path into the run directory
    and make the engine importable by Python workers."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_DRIVER_MEMORY": f"{driver_mib}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        # every JVM, the launcher's too: no hsperfdata file in /tmp
        # compiler threads that outlive the run keep their CPU time
        # readable, so it can be left out of the program's
        "JAVA_TOOL_OPTIONS": (f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
                              "-XX:-UseDynamicNumberOfCompilerThreads"),
    })
    tempfile.tempdir = tmp
    os.environ.pop("SPARK_GRAFT_STATE_STORE", None)


def start_spark(run_dir: str, cores: int, event_log: bool):
    from dataflow_flex_templates_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    extra = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        logs = os.path.join(run_dir, "eventlog")
        os.makedirs(logs, exist_ok=True)
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": "file://" + logs,
                      "spark.eventLog.compress": "false"})
    spark = get_spark("perfbench", cores=cores, extra=extra,
                      state_store="hdfs")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it launched, and wait for
    the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap_descendants(timeout_s: float = 20.0) -> None:
    """Wait for every process this one started (JVM, Python workers) to
    end; kill what outlives the timeout."""
    me = os.getpid()
    deadline = time.time() + timeout_s
    while True:
        left = [p for p in derive.descendants(me, derive.proc_children())
                if p != me and _alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.time() + 5
            timeout_s = 0
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Summed resident memory of this process tree, sampled every 0.2 s
    as (time, MiB) pairs."""

    def __init__(self):
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

        #: CPU seconds this sampler's thread has used, so that the
        #: process tree's CPU time can leave it out
        self.cpu_s = 0.0

    def _run(self):
        while not self._stop.is_set():
            self.samples.append((time.time(),
                                 derive.tree_rss_mib(os.getpid())))
            self.cpu_s = time.thread_time()
            self._stop.wait(0.2)

    def peak_mib(self) -> float:
        return max(m for _, m in self.samples)

    def median_mib(self, t0: float, t1: float) -> float:
        """Median of the samples taken between ``t0`` and ``t1``."""
        return statistics.median(m for t, m in self.samples
                                 if t0 <= t <= t1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


# -- inputs -------------------------------------------------------------------

def prepare(args, run_dir: str, cores: int) -> dict:
    """Build this run's inputs (child process, so the pool's memory is
    returned before the measured process starts). Returns the fixture
    description, also written to ``<run_dir>/fixture.json``."""
    import numpy as np

    os.makedirs(CACHE, exist_ok=True)
    pool_path = fixtures.pool_dir(CACHE, workloads.POOL_CLIPS, POOL_SEED)
    built = False
    if not fixtures.pool_ready(pool_path):
        spark = start_spark(run_dir, cores, event_log=False)
        try:
            fixtures.build_pool(spark, pool_path, workloads.POOL_CLIPS,
                                POOL_SEED)
        finally:
            stop_spark(spark)
        built = True
    pool = fixtures.read_pool(pool_path)
    head = pool.slice(0, 2048)
    kernel = spans.kernel_us_per_clip(
        (head.column("bytes").to_pandas(), head.column("codec").to_pandas()))
    rng = np.random.default_rng(args.seed)
    fx = {"pool": pool_path, "pool_built": built,
          "kernel_us_per_clip": kernel}
    data = os.path.join(run_dir, "data")
    if args.workload == "backfill":
        per_file = workloads.BACKFILL_PER_FILE
        fx["warm"] = os.path.join(data, "warm")
        fixtures.derive_clips(pool, fx["warm"],
                              workloads.WARMUP_FILES * per_file, per_file,
                              rng, f"w{args.seed}")
        n = (workloads.BACKFILL_FILES_PER_TRIGGER * per_file if args.c1
             else workloads.BACKFILL_CLIPS)
        fx["input"] = os.path.join(data, "backlog")
        fx["files"] = fixtures.derive_clips(pool, fx["input"], n, per_file,
                                            rng, f"c{args.seed}")
    else:
        fx["warm"] = fixtures.tpch_dir(CACHE, args.seed,
                                       workloads.GRAPH_WARMUP_SCALE)
        fixtures.build_tpch(fx["warm"], args.seed,
                            workloads.GRAPH_WARMUP_SCALE)
        fx["input"] = fixtures.tpch_dir(CACHE, args.seed,
                                        workloads.GRAPH_SCALE)
        fx["rows"] = fixtures.build_tpch(fx["input"], args.seed,
                                         workloads.GRAPH_SCALE)["lineitem"]
    if "files" in fx:
        import pyarrow.parquet as pq

        fx["rows"] = sum(pq.ParquetFile(p).metadata.num_rows
                         for p in fx["files"])
    with open(os.path.join(run_dir, "fixture.json"), "w") as f:
        json.dump(fx, f)
    return fx


def prepare_in_child(args, run_dir: str, cores: int) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--cores", str(cores),
           "--prepare", run_dir] + (["--c1"] if args.c1 else [])
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(os.path.join(run_dir, "fixture.json")) as f:
        return json.load(f)


# -- the measured run ---------------------------------------------------------

class Bench:
    """State of one measured run, filled in by a workload function."""

    def __init__(self, args, run_dir: str, cores: int, fixture: dict):
        self.seconds = args.seconds
        self.tracing = bool(args.trace)
        self.run_dir = run_dir
        self.cores = cores
        self.fixture = fixture
        self.spark = None
        self.session_s = 0.0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.named_metrics: dict[str, dict] = {}
        self.detail: dict = {}
        self.attempted = 0
        self.failed = 0
        self.input_bytes = 0
        self.measured = None
        self.rss = None
        self.jit_cpu_s = 0.0
        self._t_start = time.perf_counter()
        self.recorder = spans.SpanRecorder() if self.tracing else None

    def phase(self, name: str) -> None:
        """Record when a phase of the run ended, in seconds from the
        start of the measured process."""
        self.detail.setdefault("phase_end_s", {})[name] = (
            time.perf_counter() - self._t_start)

    def work_dir(self, name: str) -> str:
        path = os.path.join(self.run_dir, "work", name)
        os.makedirs(path, exist_ok=True)
        return path

    @contextlib.contextmanager
    def traced(self):
        """The measured phase: span wrappers when tracing; records the
        host's busy CPU, its stolen share and pressure stalls, so a
        reader can tell a slow host from slow code."""
        tick = os.sysconf("SC_CLK_TCK")
        stalls = ("cpu", "memory", "io")
        self.phase("warm_up")
        host0, t0 = derive.cpu_times(), time.time()
        self.cpu_s()
        jit0 = self.jit_cpu_s
        psi0 = [derive.pressure_stall_s(r) for r in stalls]
        with (self.recorder.install() if self.recorder
              else contextlib.nullcontext()):
            yield
        host1 = derive.cpu_times()
        self.cpu_s()
        self.layer["jvm.jit_cpu_s"] = self.jit_cpu_s - jit0
        self.phase("measured")
        d = {k: host1[k] - host0[k] for k in host0}
        self.detail["measured_phase"] = {
            "wall_s": time.time() - t0,
            "host_busy_s": d["busy"] / tick,
            "steal_frac": d["steal"] / max(1, sum(d.values())),
            **{f"{r}_stall_s": derive.pressure_stall_s(r) - v
               for r, v in zip(stalls, psi0)}}

    def setup_done(self, rounds: list[float], compile_ms: float) -> None:
        self.e2e["setup_s"] = self.session_s + statistics.median(rounds)
        self.layer["session.start_s"] = self.session_s
        self.layer["session.warmup_s"] = rounds[0]
        self.layer["spec.compile_ms"] = compile_ms
        self.detail["setup_rounds_s"] = rounds
        self.phase("setup")

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process tree (driver JVM,
        Python workers, this process), less the memory sampler's and
        less the JVM's JIT compiler threads', which compile on their
        own schedule and spread a pass's CPU time by a third."""
        cpu, jit = derive.tree_cpu_s(os.getpid(), JIT_THREADS)
        self.jit_cpu_s = jit
        return cpu - self.rss.cpu_s

    def named(self, name: str, value: float, unit: str, **info) -> None:
        self.named_metrics[name] = {"value": value, "unit": unit,
                                    **{k: v for k, v in info.items()
                                       if v is not None}}

    def window(self, t0: float, t1: float, batches: int,
               passes: int = 1) -> None:
        """The measured interval, for attributing event-log totals."""
        self.measured = (t0, t1, max(batches, 1), passes)

    def staged(self, job, input_dir: str, rows: int) -> dict:
        return spans.staged_layers(self.spark, job, input_dir, rows,
                                   self.cores, self.work_dir("staged"))

    def explain(self, wall: float, rows: int, batches: int) -> None:
        """How much of a drain's per-clip cost (wall x cores / clips)
        the staged layers plus the trigger overhead account for."""
        per_clip = wall * self.cores * 1e6 / rows
        staged = sum(self.layer[k] for k in (
            "sources.scan_us_per_clip",
            "functions.arrow_boundary_us_per_clip",
            "functions.audio_features_us_per_clip",
            "spec_stream.prepare_us_per_clip",
            "plans.apply_target_us_per_clip", "sink.write_us_per_clip"))
        trigger = (self.layer["trigger.overhead_ms"] * batches * 1000.0
                   * self.cores / rows)
        self.layer["trace.e2e_us_per_clip"] = per_clip
        self.layer["trace.explained_frac"] = (staged + trigger) / per_clip
        self.layer["trace.unexplained_us_per_clip"] = (
            per_clip - staged - trigger)

    def event_log_layers(self) -> None:
        logs = os.path.join(self.run_dir, "eventlog")
        names = os.listdir(logs) if os.path.isdir(logs) else []
        if not names or self.measured is None:
            return
        events = derive.read_event_log(os.path.join(logs, names[0]))
        t0, t1, batches, passes = self.measured
        tot = derive.spark_totals(events, t0, t1)
        self.layer.update({
            "spark.jobs_per_batch": tot["jobs"] / batches,
            "spark.tasks_per_batch": tot["tasks"] / batches,
            "spark.executor_cpu_s": tot["executor_cpu_s"],
            "spark.jvm_gc_s": tot["jvm_gc_s"],
            "spark.shuffle_bytes": float(tot["shuffle_bytes"]),
            "sources.read_amplification": (
                tot["bytes_read"] / (self.input_bytes * passes)
                if self.input_bytes else 0.0),
        })
        self.detail["event_log"] = {**tot, "batches": batches,
                                    "passes": passes,
                                    "input_bytes": self.input_bytes}


def c1_baseline(args, cores: int) -> float:
    """``spec_stream.clips_per_s_c1`` from a single-core child run."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload",
           "backfill", "--seed", str(args.seed), "--seconds",
           str(args.seconds), "--cores", "1", "--c1"]
    out = subprocess.run(cmd, check=True, capture_output=True, text=True,
                         timeout=RUN_LIMIT_S).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"][
        "items_per_s"]["value"]


def declared_metrics() -> tuple[list[dict], list[dict]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def _timeout(signum, frame):
    raise TimeoutError("benchmark run exceeded its time limit")


def measure(args, run_dir: str, cores: int) -> tuple[Bench, dict]:
    driver_mib = min(DRIVER_MEMORY_CAP_MIB, mem_total_mib() // 5)
    configure_env(run_dir, driver_mib)
    host = host_facts(cores, driver_mib)
    t_start = time.time()
    fixture = prepare_in_child(args, run_dir, cores)
    limit = FIRST_RUN_LIMIT_S if fixture["pool_built"] else RUN_LIMIT_S
    signal.alarm(max(30, int(limit - (time.time() - t_start))))
    bench = Bench(args, run_dir, cores, fixture)
    bench.layer["functions.kernel_us_per_clip"] = fixture[
        "kernel_us_per_clip"]
    with RssSampler() as rss:
        bench.rss = rss
        t = time.perf_counter()
        bench.spark = start_spark(run_dir, cores, event_log=bench.tracing)
        bench.session_s = time.perf_counter() - t
        bench.phase("session")
        host["java"] = bench.spark._jvm.System.getProperty("java.version")
        try:
            if args.c1:
                workloads.backfill_c1(bench)
            else:
                workloads.WORKLOADS[args.workload](bench)
        finally:
            bench.phase("checked")
            stop_spark(bench.spark)
            reap_descendants()
            bench.phase("stopped")
    if bench.measured:
        bench.layer["memory.rss_mb"] = rss.median_mib(*bench.measured[:2])
    bench.layer["memory.peak_rss_mb"] = rss.peak_mib()
    bench.named("peak_rss_mb", rss.peak_mib(), "MiB")
    if bench.tracing:
        bench.event_log_layers()
        bench.layer.update({
            f"self_s.{k}": v
            for k, v in derive.self_times(bench.recorder.spans).items()})
        if args.workload == "backfill":
            signal.alarm(0)
            bench.layer["spec_stream.clips_per_s_c1"] = c1_baseline(
                args, cores)
    host["loadavg_after"] = loadavg()
    return bench, host


def report(args, bench: Bench, host: dict) -> dict:
    e2e_decl, layer_decl = declared_metrics()
    decl = layer_decl if args.trace else e2e_decl
    source = bench.layer if args.trace else bench.e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in decl}
    if args.c1:  # the baseline child's throughput, for its parent
        metrics["items_per_s"] = {"value": bench.e2e["items_per_s"],
                                  "unit": "1/s"}
    w = args.workload
    print(f"# {w} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} host={json.dumps(host)}")
    for name, m in bench.named_metrics.items():
        extra = {k: v for k, v in m.items() if k not in ("value", "unit")}
        print(f"{w} {name} = {m['value']:.6g} {m['unit']}"
              + (f" {json.dumps(extra)}" if extra else ""))
    for name, m in metrics.items():
        print(f"{w} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{w} failed_frac = {bench.failed / max(bench.attempted, 1):.6g} "
          f"ratio ({bench.failed}/{bench.attempted})")
    artifact = {
        "workload": w, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host, "fixture": bench.fixture,
        "end_to_end": bench.e2e, "named": bench.named_metrics,
        "layer": bench.layer, "detail": bench.detail,
        "not_measured": sorted(m["name"] for m in layer_decl
                               if m["name"] not in bench.layer),
        "attempted": bench.attempted, "failed": bench.failed,
    }
    if bench.recorder is not None:
        artifact["spans"] = bench.recorder.spans
    if not args.c1:  # the baseline child reports to its parent only
        os.makedirs(OUT, exist_ok=True)
        with open(os.path.join(OUT, f"{w}-seed{args.seed}-trace{args.trace}"
                                    f".json"), "w") as f:
            json.dump(artifact, f, indent=1, default=str)
    return {"correct": bench.attempted > 0 and bench.failed == 0,
            "attempted": bench.attempted, "failed": bench.failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__init__.py")):
        print(f"perfbench: {ENGINE}/ not found under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    cores = args.cores or nproc()
    if cores > nproc():
        print(f"perfbench: --cores {cores} exceeds nproc={nproc()}",
              file=sys.stderr)
        return 2
    if args.prepare:
        os.makedirs(args.prepare, exist_ok=True)
        prepare(args, args.prepare, cores)
        return 0
    run_dir = os.path.join(ROOT, ".perfbench_run",
                           f"{args.workload}-{os.getpid()}")
    signal.signal(signal.SIGALRM, _timeout)
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(143))
    try:
        bench, host = measure(args, run_dir, cores)
        result = report(args, bench, host)
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
