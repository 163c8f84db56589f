"""The two workloads, their set-up and their correctness checks.

Each workload function takes a ``Bench`` (see ``run.py``) and fills
``bench.e2e`` (end-to-end metrics), ``bench.layer`` (per-layer
metrics), ``bench.attempted`` / ``bench.failed`` and ``bench.detail``.
Only public entry points drive the engine: ``parse_job_spec``,
``SpecStreamJob.run_to_completion``, ``ExactlyOnceTable.read_merged``
and ``graph.build.run_job``.

Both workloads warm up on the measured input, then repeat their
measured unit (a drain, a graph job) for ``--seconds``, at least
MIN_REPEATS times, and report medians: on a shared host a single short
measurement moves by a sixth from one second to the next.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from perfbench import derive, fixtures, spans

HERE = os.path.dirname(os.path.abspath(__file__))
CLIP_SPEC = os.path.join(HERE, "clip_spec.json")

WATERMARK_S = 60
#: Set-up is repeated this many times per run; ``setup_s`` takes the
#: median round.
SETUP_ROUNDS = 3
MIN_REPEATS = 2
#: backfill: each drain reads BACKFILL_CLIPS clips in files of
#: BACKFILL_PER_FILE, BACKFILL_FILES_PER_TRIGGER files per micro-batch.
BACKFILL_CLIPS = 2000
BACKFILL_PER_FILE = 250
BACKFILL_FILES_PER_TRIGGER = 4
WARMUP_FILES = 1
#: distinct clips synthesized once per checkout: half again a drain, so
#: seeds pick different subsets
POOL_CLIPS = BACKFILL_CLIPS + BACKFILL_CLIPS // 2
#: graph_batch table scales (1.0 = TPC-H SF1 row counts).
GRAPH_SCALE = 0.05
GRAPH_WARMUP_SCALE = 0.01
#: untimed passes over the measured tables before timing, for the JIT
GRAPH_WARM_PASSES = 2


# -- helpers ------------------------------------------------------------------

def progress_of(query) -> list[dict]:
    """A query's progress events as plain dicts."""
    return [json.loads(p.json) for p in query.recentProgress]


def prepare_clips(df):
    """The decode prefix ``scripts/submit_clip_graph.py --spec`` runs."""
    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.functions.audio import (
        normalize_transcript,
        with_audio_features,
    )

    return (with_audio_features(df)
            .withColumn("transcript_norm",
                        normalize_transcript(F.col("transcript")))
            .drop("bytes"))


def clip_job(input_dir: str, work_dir: str, max_files: int):
    """Parse the flagship clip spec and build its stream job. Returns
    the job and the compile time in ms."""
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )
    from dataflow_flex_templates_spark.testing.clips import (
        clips_spark_schema,
    )

    t = time.perf_counter()
    with open(CLIP_SPEC) as f:
        spec = parse_job_spec(f.read())
    job = SpecStreamJob(
        spec, input_dir=input_dir, input_schema=clips_spark_schema(),
        output_dir=os.path.join(work_dir, "out"),
        checkpoint_dir=os.path.join(work_dir, "ckpt"),
        watermark=f"{WATERMARK_S} seconds", max_files_per_trigger=max_files,
        prepare_fn=prepare_clips, prepare_preserves="*")
    return job, (time.perf_counter() - t) * 1000.0


def clip_setup(bench) -> None:
    """Set-up rounds: compile the spec, build the job and drain the
    warm-up files on a fresh checkpoint."""
    rounds, compile_ms = [], []
    for r in range(SETUP_ROUNDS):
        t = time.perf_counter()
        job, ms = clip_job(bench.fixture["warm"], bench.work_dir(f"warm{r}"),
                           BACKFILL_FILES_PER_TRIGGER)
        job.run_to_completion(bench.spark, timeout_s=120)
        rounds.append(time.perf_counter() - t)
        compile_ms.append(ms)
    bench.setup_done(rounds, statistics.median(compile_ms))


def _files_bytes(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _read_merged_s(bench, job) -> float:
    return sum(spans.noop_s(job.read_merged(bench.spark, name))
               for name in ("Clip", "ENCODED_AS"))


def _files_live(job) -> int:
    n = 0
    for name in ("Clip", "ENCODED_AS"):
        data = os.path.join(job.tables[name].path, "data")
        for _, _, files in os.walk(data):
            n += sum(f.endswith(".parquet") for f in files)
    return n


def check_clips(bench, job, input_files: list[str], dropped: int) -> None:
    """Committed output against the input files: one Clip per distinct
    clip_id, one ENCODED_AS per distinct (clip_id, codec), every
    duplicated clip_id won by its rev2 transcript, n_samples equal to
    round(sr_hz * dur_ms / 1000) and never null, and window
    conservation. Spark counts watermark drops after partial
    aggregation, so sum(n_clips) + drops is only bounded above by the
    input rows; below, every row not late by more than the watermark
    must be counted."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    spark = bench.spark
    inp = pq.read_table(input_files, columns=[
        "clip_id", "codec", "sr_hz", "dur_ms", "event_time"]).to_pandas()
    dup_ids = set(inp.loc[inp.duplicated("clip_id"), "clip_id"])
    want = inp.drop_duplicates("clip_id").set_index("clip_id")
    want["n_samples"] = [int(round(s * d / 1000.0))
                         for s, d in zip(want["sr_hz"], want["dur_ms"])]

    got = (job.read_merged(spark, "Clip")
           .select("clip_id", "codec", "n_samples", "transcript_norm")
           .toPandas().set_index("clip_id"))
    poison = int(got["n_samples"].isna().sum())
    both = want.join(got, how="inner", lsuffix="_want")
    wrong = both.index[(both["n_samples"].fillna(-1).astype("int64")
                        != both["n_samples_want"]).to_numpy()
                       | (both["codec"] != both["codec_want"]).to_numpy()]
    lost_rev = {c for c in dup_ids if c in got.index and not str(
        got.at[c, "transcript_norm"]).endswith("rev2")}
    bad = (set(want.index) - set(got.index)) | set(wrong) | lost_rev
    extra = len(got) - len(both)

    edges = (job.read_merged(spark, "ENCODED_AS")
             .select("clip_id", "codec").toPandas())
    want_edges = set(zip(want.index, want["codec"]))
    got_edges = list(zip(edges["clip_id"], edges["codec"]))
    bad |= {c for c, _ in want_edges - set(got_edges)}
    extra += len(got_edges) - len(set(got_edges) & want_edges)

    rows = len(inp)
    late = int(fixtures.late_mask(inp["clip_id"], inp["event_time"],
                                  WATERMARK_S).sum())
    n_clips = int((job.read_merged(spark, "CodecWindow")
                   .agg(F.sum("n_clips")).first()[0]) or 0)
    window_gap = (max(0, n_clips + dropped - rows)
                  + max(0, rows - late - n_clips))

    bench.attempted += len(want)
    bench.failed += min(len(want), len(bad) + extra + window_gap)
    bench.layer["functions.poison_rows"] = max(
        float(poison), bench.layer.get("functions.poison_rows", 0.0))
    bench.detail.setdefault("check", []).append({
        "distinct_clips": len(want), "input_rows": rows,
        "missing_or_wrong": len(bad), "unexpected_rows": extra,
        "duplicates": len(dup_ids), "rev2_lost": len(lost_rev),
        "window_n_clips": n_clips, "watermark_dropped": dropped,
        "late_rows": late,
        "window_conservation_gap": window_gap, "poison_rows": poison,
    })


# -- backfill -----------------------------------------------------------------

def _drain(bench, tag: str):
    """One availableNow drain of the backlog on a fresh checkpoint.
    Returns (job, row progress, window progress, wall seconds, CPU
    seconds of the process tree)."""
    job, _ = clip_job(bench.fixture["input"], bench.work_dir(tag),
                      BACKFILL_FILES_PER_TRIGGER)
    t, c = time.perf_counter(), bench.cpu_s()
    row_q, win_q = job.run_to_completion(bench.spark, timeout_s=150).queries
    return (job, progress_of(row_q), progress_of(win_q),
            time.perf_counter() - t, bench.cpu_s() - c)


def backfill(bench) -> None:
    """availableNow drains of a pre-written clip table in large
    micro-batches, repeated on fresh checkpoints."""
    clip_setup(bench)
    files = bench.fixture["files"]
    # untimed: the JIT compiles the paths the input's sizes take
    bench.detail["warm_input_s"] = _drain(bench, "warm_input")[3]
    if bench.tracing:
        untraced_s = _drain(bench, "untraced")[3]
    drains = []
    t0 = time.time()
    with bench.traced():
        while len(drains) < MIN_REPEATS or time.time() - t0 < bench.seconds:
            drains.append(_drain(bench, f"drain{len(drains)}"))
    t1 = time.time()
    rows = derive.input_rows(drains[0][1])
    walls = [d[3] for d in drains]
    row_prog = [p for d in drains for p in d[1]]
    batch = derive.summarize(derive.trigger_seconds(row_prog))
    wall = statistics.median(walls)
    bench.e2e["items_per_s"] = rows / wall
    bench.e2e["cpu_us_per_item"] = (
        statistics.median(d[4] for d in drains) * 1e6 / rows)
    bench.e2e["latency_p50_s"] = batch["p50"]
    bench.named("clips_per_s", rows / wall, "clips/s", n=len(walls))
    bench.named("batch_p50_s", batch["p50"], "s", n=batch["n"])
    if "tail" in batch:
        bench.named(f"batch_p{batch['tail_p']:g}_s", batch["tail"], "s",
                    n=batch["n"])
    bench.detail["drain_s"] = walls
    bench.detail["drain_cpu_s"] = [d[4] for d in drains]
    bench.layer.update(derive.trigger_metrics(row_prog))
    job, _, win_prog, _, _ = drains[-1]
    bench.layer.update(derive.window_metrics(win_prog))
    bench.layer["sink.files_live"] = float(_files_live(job))
    bench.window(t0, t1, batches=sum(
        len(derive.trigger_seconds(d[1])) + len(derive.trigger_seconds(d[2]))
        for d in drains), passes=len(drains))
    read_s = _read_merged_s(bench, job)
    bench.named("read_merged_s", read_s, "s")
    bench.layer["sink.read_merged_s"] = read_s
    for job, _, win_prog, _, _ in drains:
        dropped = int(derive.window_metrics(win_prog)[
            "windows.rows_dropped_by_watermark"])
        check_clips(bench, job, files, dropped)
    bench.input_bytes = _files_bytes(files)
    if bench.tracing:
        bench.layer["trace.overhead_frac"] = wall / untraced_s - 1.0
        bench.layer.update(bench.staged(job, bench.fixture["input"], rows))
        bench.explain(wall, rows, batches=len(derive.trigger_seconds(
            drains[-1][1])))


def backfill_c1(bench) -> None:
    """Single-core drain of one micro-batch of clips after one warm-up
    drain: the baseline for parallel efficiency."""
    job, _ = clip_job(bench.fixture["warm"], bench.work_dir("warm"),
                      BACKFILL_FILES_PER_TRIGGER)
    job.run_to_completion(bench.spark, timeout_s=150)
    _, row_prog, _, wall, _ = _drain(bench, "main")
    bench.e2e["items_per_s"] = derive.input_rows(row_prog) / wall


# -- graph_batch --------------------------------------------------------------

GRAPH_TABLES = ("customer", "orders", "lineitem")


def _register(spark, tables_dir: str) -> None:
    for t in GRAPH_TABLES:
        (spark.read.parquet(os.path.join(tables_dir, f"{t}.parquet"))
         .createOrReplaceTempView(t))


def _graph_once(spark):
    from dataflow_flex_templates_spark.graph import build
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    import __spark_entry__

    spec = parse_job_spec(json.dumps(__spark_entry__.FLAGSHIP_SPEC))
    res = build.run_job(spark, spec)
    spans.noop_s(res.nodes)
    spans.noop_s(res.relationships)
    return res


def graph_batch(bench) -> None:
    """The reference's batch path: FLAGSHIP_SPEC through run_job."""
    spark = bench.spark
    rounds, compile_ms = [], []
    _register(spark, bench.fixture["warm"])
    for _ in range(SETUP_ROUNDS):
        t = time.perf_counter()
        _graph_once(spark)
        rounds.append(time.perf_counter() - t)
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    import __spark_entry__

    for _ in range(SETUP_ROUNDS):
        t = time.perf_counter()
        parse_job_spec(json.dumps(__spark_entry__.FLAGSHIP_SPEC))
        compile_ms.append((time.perf_counter() - t) * 1000.0)
    bench.setup_done(rounds, statistics.median(compile_ms))

    _register(spark, bench.fixture["input"])
    for _ in range(GRAPH_WARM_PASSES):
        _graph_once(spark)
    untraced = _graph_repeats(bench)[0] if bench.tracing else None
    with bench.traced():
        walls, res, t0, t1 = _graph_repeats(bench)
    s = derive.summarize(walls)
    lineitems = bench.fixture["rows"]
    bench.e2e["latency_p50_s"] = s["p50"]
    bench.e2e["items_per_s"] = lineitems / s["p50"]
    bench.e2e["cpu_us_per_item"] = (
        statistics.median(bench.detail["pass_cpu_s"][-1]) * 1e6 / lineitems)
    bench.named("graph_batch_s", s["p50"], "s", n=s["n"])
    bench.window(t0, t1, batches=len(walls), passes=len(walls))
    check_graph(bench, res)
    bench.input_bytes = _files_bytes([
        os.path.join(bench.fixture["input"], f"{t}.parquet")
        for t in GRAPH_TABLES])
    if bench.tracing:
        bench.layer["graph.run_job_s"] = statistics.median(
            sp["end"] - sp["start"] for sp in bench.recorder.spans
            if sp["name"] == "graph.run_job")
        for name in ("Customer", "Part", "ORDERED"):
            bench.layer[f"plans.target_s.{name.lower()}"] = spans.noop_s(
                res.target_frames[name])
        bench.layer["trace.overhead_frac"] = (
            s["p50"] / statistics.median(untraced) - 1.0)


def _graph_repeats(bench) -> tuple:
    """Repeat the graph job for ``--seconds`` (at least
    MIN_REPEATS times). Returns (walls, last result, t0, t1)."""
    walls, cpus = [], []
    t0 = time.time()
    while len(walls) < MIN_REPEATS or time.time() - t0 < bench.seconds:
        t, c = time.perf_counter(), bench.cpu_s()
        res = _graph_once(bench.spark)
        walls.append(time.perf_counter() - t)
        cpus.append(bench.cpu_s() - c)
    bench.detail.setdefault("pass_wall_s", []).append(walls)
    bench.detail.setdefault("pass_cpu_s", []).append(cpus)
    return walls, res, t0, time.time()


def check_graph(bench, res) -> None:
    """The three jobspec_* outputs against DuckDB's oracle_sql() over
    the same parquet, projected and rounded as queries() does. Rows
    that differ count as failed."""
    import duckdb
    from pyspark.sql import functions as F

    import __spark_entry__

    frames = {
        "jobspec_customer_nodes": res.target_frames["Customer"].select(
            "custkey", "name", "mktsegment"),
        "jobspec_part_nodes_agg": res.target_frames["Part"].select(
            "partkey", F.round("revenue", 4).alias("revenue"), "total_qty"),
        "jobspec_ordered_edges": res.target_frames["ORDERED"].select(
            "custkey", "partkey", "qty", "n_lines"),
    }
    oracle = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    try:
        for t in GRAPH_TABLES:
            path = os.path.join(bench.fixture["input"], f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        report = {}
        for name, df in frames.items():
            want = con.execute(oracle[name]).arrow()
            n_want = want.num_rows
            cols = sorted(df.columns)
            if cols != sorted(want.column_names):
                bench.attempted += n_want
                bench.failed += n_want
                report[name] = {"oracle_rows": n_want,
                                "schema_mismatch": [cols, want.column_names]}
                continue
            con.register("got", df.toArrow())
            con.register("want", want)
            sel = ", ".join(
                f"round({c}, 4)" if str(want.schema.field(c).type)
                in ("double", "float") else c for c in cols)
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM (SELECT {sel} FROM got "
                f"EXCEPT ALL SELECT {sel} FROM want)) + (SELECT count(*) "
                f"FROM (SELECT {sel} FROM want EXCEPT ALL "
                f"SELECT {sel} FROM got))").fetchone()[0]
            bench.attempted += n_want
            bench.failed += min(n_want, diff)
            report[name] = {"oracle_rows": n_want, "differing_rows": diff}
    finally:
        con.close()
    bench.detail["check"] = report


WORKLOADS = {"backfill": backfill, "graph_batch": graph_batch}
