"""Spec-driven continuous pipeline (streaming.spec_stream): the SAME
JobSpec produces row-identical graph tables in batch (run_job) and as a
Structured Streaming job (SpecStreamJob) — the north_rule's
exactly-once / determinism contract — plus windowed grouped targets,
checkpoint resume, W7 audit tee, and W8 reset.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from dataflow_flex_templates_spark.streaming.clip_graph import prepare_clips
from dataflow_flex_templates_spark.testing.clips import (
    clips_spark_schema,
    make_clips_pdf,
)

N_CLIPS = 300


def _spec():
    return {
        "sources": [{"type": "bigquery", "name": "clips",
                     "query": "SELECT 1"}],
        "targets": [
            {"name": "Clip", "type": "node", "source": "clips",
             "mode": "merge",
             "mappings": [
                 {"constant": "Clip", "role": "label"},
                 {"field": "clip_id", "name": "clip_id", "role": "key",
                  "type": "String"},
                 {"field": "sr_hz", "name": "sr_hz", "role": "property",
                  "type": "Long"},
                 {"field": "dur_ms", "name": "dur_ms", "role": "property",
                  "type": "Long"},
                 {"field": "codec", "name": "codec", "role": "property",
                  "type": "String"},
                 {"field": "n_samples", "name": "n_samples",
                  "role": "property", "type": "Long"},
                 {"field": "transcript_norm", "name": "transcript_norm",
                  "role": "property", "type": "String"},
             ]},
            {"name": "ENCODED_AS", "type": "edge", "source": "clips",
             "mode": "merge",
             "mappings": [
                 {"constant": "ENCODED_AS", "role": "type",
                  "fragment": "rel"},
                 {"field": "clip_id", "name": "clip_id", "role": "key",
                  "fragment": "source", "label": "Clip", "type": "String"},
                 {"field": "codec", "name": "codec", "role": "key",
                  "fragment": "target", "label": "Codec", "type": "String"},
                 {"field": "dur_ms", "name": "dur_ms", "role": "property",
                  "type": "Long"},
             ]},
            {"name": "CodecWindow", "type": "node", "source": "clips",
             "mode": "merge",
             "transform": {
                 "group": True,
                 "window": {"type": "tumbling", "duration": "10 seconds"},
                 "aggregations": [
                     {"expr": "count(*)", "field": "n_clips"},
                     {"expr": "sum(dur_ms)", "field": "total_ms"},
                 ],
             },
             "mappings": [
                 {"constant": "CodecWindow", "role": "label"},
                 {"field": "codec", "name": "codec", "role": "key",
                  "type": "String"},
                 {"field": "n_clips", "name": "n_clips", "role": "property",
                  "type": "Long"},
                 {"field": "total_ms", "name": "total_ms",
                  "role": "property", "type": "Long"},
             ]},
        ],
    }


def _parse(spec_dict):
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    return parse_job_spec(json.dumps(spec_dict))


@pytest.fixture(scope="module")
def stream_env(spark):
    """Chronologically-chunked clip input (stream arrival ≈ event order,
    disorder bounded by the watermark) + one completed SpecStreamJob."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root = tempfile.mkdtemp(prefix="spec_stream_")
    inp = os.path.join(root, "input")
    pdf = make_clips_pdf(N_CLIPS, seed=11, dup_rate=0.05, late_rate=0.0,
                         max_dur_ms=500)
    chunk = len(pdf) // 6 + 1
    for i in range(0, len(pdf), chunk):
        spark.createDataFrame(pdf.iloc[i:i + chunk],
                              schema=clips_spark_schema()) \
            .coalesce(1).write.mode("append").parquet(inp)

    job = SpecStreamJob(
        _parse(_spec()),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out"),
        checkpoint_dir=os.path.join(root, "ckpt"),
        watermark="60 seconds",
        max_files_per_trigger=2,
        salt_buckets=8,
        salt_cols=("codec",),
        prepare_fn=prepare_clips, prepare_preserves="*",
        audit_dir=os.path.join(root, "audit"),
    )
    job.run_to_completion(spark, timeout_s=900)
    yield root, inp, pdf, job
    shutil.rmtree(root, ignore_errors=True)


def _batch_oracle(spark, inp):
    """The SAME spec through the batch engine with the SAME
    deterministic event-time ordinal."""
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        event_time_ordinal,
    )

    raw = spark.read.schema(clips_spark_schema()).parquet(inp)
    prepared = prepare_clips(event_time_ordinal(raw, "event_time"))
    spec = _parse(_spec())
    # windowed target runs in the streaming path only
    spec.targets = [t for t in spec.targets if t.transform.window is None]
    return run_job(spark, spec, source_frames={"clips": prepared})


def test_ignore_corrupt_files_knob(spark, stream_env):
    """A garbage file in the input dir (crashed upstream writer) kills
    the stream by default; with ignore_corrupt_files=True the job
    completes on the valid files — the file-level sibling of the
    per-row poison tolerance."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    inp2 = os.path.join(root, "input_corrupt")
    shutil.copytree(inp, inp2)
    with open(os.path.join(inp2, "part-garbage.parquet"), "wb") as f:
        f.write(b"PAR1 this is not a parquet file")

    def mk(tag, ignore):
        return SpecStreamJob(
            _parse(_spec()),
            input_dir=inp2,
            input_schema=clips_spark_schema(),
            output_dir=os.path.join(root, f"out_corrupt_{tag}"),
            checkpoint_dir=os.path.join(root, f"ckpt_corrupt_{tag}"),
            watermark="60 seconds",
            max_files_per_trigger=2,
            prepare_fn=prepare_clips, prepare_preserves="*",
            ignore_corrupt_files=ignore,
        )

    with pytest.raises(Exception):
        mk("fail", False).run_to_completion(spark, timeout_s=300)

    j = mk("ok", True)
    j.run_to_completion(spark, timeout_s=900)
    got = j.read_merged(spark, "Clip")
    assert got.count() == pdf["clip_id"].nunique()


def test_parallelism_invariance(spark, stream_env):
    """North-rule determinism clause, evidenced directly: the SAME
    spec over the SAME input commits IDENTICAL merged tables at
    different parallelism configurations (shuffle partitions 4 vs 32,
    micro-batching 1 vs 6 files/trigger, salted vs unsalted) — the
    event-time-dominant LWW ordinal is a pure function of the row, so
    winners cannot depend on task layout or batch boundaries."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env

    def run(tag, mfpt, salt, shuffle):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
        try:
            j = SpecStreamJob(
                _parse(_spec()),
                input_dir=inp,
                input_schema=clips_spark_schema(),
                output_dir=os.path.join(root, f"out_par_{tag}"),
                checkpoint_dir=os.path.join(root, f"ckpt_par_{tag}"),
                watermark="60 seconds",
                max_files_per_trigger=mfpt,
                salt_buckets=salt,
                prepare_fn=prepare_clips, prepare_preserves="*",
            )
            j.run_to_completion(spark, timeout_s=900)
            return (j.read_merged(spark, "Clip").toPandas()
                    .sort_values("clip_id").reset_index(drop=True))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    a = run("a", mfpt=1, salt=0, shuffle=4)
    b = run("b", mfpt=6, salt=8, shuffle=32)
    cols = ["clip_id", "sr_hz", "dur_ms", "codec", "n_samples",
            "transcript_norm"]
    assert a[cols].equals(b[cols])
    assert len(a) == pdf["clip_id"].nunique()


def test_auto_compaction_preserves_merge(spark, stream_env):
    """compact_every=2: mid-stream compaction folds committed batches
    into the base WITHOUT changing the merged result — same rows as
    the uncompacted job over the same input, and a base snapshot
    exists (read amplification bounded on long streams)."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    j = SpecStreamJob(
        _parse(_spec()),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_autocompact"),
        checkpoint_dir=os.path.join(root, "ckpt_autocompact"),
        watermark="60 seconds",
        max_files_per_trigger=1,
        prepare_fn=prepare_clips, prepare_preserves="*",
        compact_every=2,
    )
    j.run_to_completion(spark, timeout_s=900)
    assert j.tables["Clip"].base_info() is not None
    got = (j.read_merged(spark, "Clip").toPandas()
           .sort_values("clip_id").reset_index(drop=True))
    want = (job.read_merged(spark, "Clip").toPandas()
            .sort_values("clip_id").reset_index(drop=True))
    cols = ["clip_id", "sr_hz", "codec", "n_samples", "transcript_norm"]
    assert got[cols].equals(want[cols])
    # windowed tables compact on the same cadence, same merged result
    assert j.tables["CodecWindow"].base_info() is not None
    gw = (j.read_merged(spark, "CodecWindow").toPandas()
          .sort_values(["window_start", "codec"]).reset_index(drop=True))
    ww = (job.read_merged(spark, "CodecWindow").toPandas()
          .sort_values(["window_start", "codec"]).reset_index(drop=True))
    assert gw[["window_start", "codec", "n_clips"]].equals(
        ww[["window_start", "codec", "n_clips"]])


def test_row_targets_match_batch(spark, stream_env):
    root, inp, pdf, job = stream_env
    batch = _batch_oracle(spark, inp)

    got_nodes = (job.read_merged(spark, "Clip").toPandas()
                 .sort_values("clip_id").reset_index(drop=True))
    want_nodes = (batch.target_frames["Clip"].toPandas()
                  .sort_values("clip_id").reset_index(drop=True))
    cols = ["clip_id", "sr_hz", "dur_ms", "codec", "n_samples",
            "transcript_norm"]
    assert got_nodes[cols].equals(want_nodes[cols])
    assert len(got_nodes) == pdf["clip_id"].nunique()
    # LWW: every duplicated clip_id is won by its later rev2 transcript
    dup_ids = pdf[pdf.duplicated("clip_id", keep=False)]["clip_id"].unique()
    assert len(dup_ids) > 0
    winners = got_nodes[got_nodes["clip_id"].isin(dup_ids)]
    assert winners["transcript_norm"].str.endswith("rev2").all()

    got_edges = (job.read_merged(spark, "ENCODED_AS").toPandas()
                 .sort_values(["clip_id", "codec"]).reset_index(drop=True))
    want_edges = (batch.target_frames["ENCODED_AS"].toPandas()
                  .sort_values(["clip_id", "codec"]).reset_index(drop=True))
    ecols = ["clip_id", "codec", "dur_ms"]
    assert got_edges[ecols].equals(want_edges[ecols])


def test_windowed_target_matches_batch_group(spark, stream_env):
    """Final merged windowed aggregate == global batch GROUP BY per
    (window, codec): cumulative update-mode emission + arrival LWW."""
    import duckdb

    root, inp, pdf, job = stream_env
    got = job.read_merged(spark, "CodecWindow").toPandas()
    if got["window_start"].dt.tz is None:
        got["window_start"] = got["window_start"].dt.tz_localize("UTC")
    oracle = duckdb.sql(
        "SELECT time_bucket(INTERVAL 10 SECONDS, event_time) ws, codec, "
        "count(*) n_clips, sum(dur_ms) total_ms FROM pdf GROUP BY 1, 2"
    ).df()
    om = {(r["ws"], r["codec"]): (r["n_clips"], r["total_ms"])
          for _, r in oracle.iterrows()}
    assert len(got) == len(om)
    for _, r in got.iterrows():
        want = om[(r["window_start"], r["codec"])]
        assert (r["n_clips"], r["total_ms"]) == want, (
            r["window_start"], r["codec"], (r["n_clips"], r["total_ms"]),
            want)


def test_audit_tee_w7(spark, stream_env):
    """W7 audit sink (GcsLogTransform analogue): every micro-batch's
    prepared rows teed as parquet; total == input rows."""
    root, inp, pdf, job = stream_env
    audit = os.path.join(root, "audit")
    batches = [d for d in os.listdir(audit) if d.startswith("batch=")]
    assert batches
    total = spark.read.parquet(
        *[os.path.join(audit, b) for b in batches]).count()
    assert total == len(pdf)


def test_exactly_once_counts(spark, stream_env):
    root, inp, pdf, job = stream_env
    # in-batch LWW collapses duplicate keys before the sink, so commits
    # are bounded by [distinct keys, input rows] — no loss, no dupes
    committed = job.tables["Clip"].total_committed_rows()
    assert pdf["clip_id"].nunique() <= committed <= len(pdf)
    info = job.tables["Clip"].commit_info(
        job.tables["Clip"].committed_batches()[0])
    assert info["rows"] > 0 and info["partitions"]


def test_kill_and_resume(spark, stream_env):
    """Kill after first committed batch → resume completes exactly-once
    with tables identical to the uninterrupted run."""
    import time

    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env

    def mk(tag_dirs_same=True):
        return SpecStreamJob(
            _parse(_spec()),
            input_dir=inp,
            input_schema=clips_spark_schema(),
            output_dir=os.path.join(root, "out_resume"),
            checkpoint_dir=os.path.join(root, "ckpt_resume"),
            watermark="60 seconds",
            max_files_per_trigger=1,
            prepare_fn=prepare_clips, prepare_preserves="*",
        )

    def n_listeners():
        return len(spark._jsparkSession.streams().listListeners())

    n0 = n_listeners()
    j1 = mk()
    q = j1.start(spark, available_now=True)
    deadline = time.time() + 300
    while (not j1.tables["Clip"].committed_batches()
           and time.time() < deadline):
        time.sleep(0.5)
    # kill: stop() interrupts the micro-batch thread; awaitTermination
    # may surface the cancellation as a StreamingQueryException — that
    # IS the kill, not a failure. Poll until every query is fully down
    # before resuming on the same checkpoint.
    q.stop()
    # the stopped run's progress listener is session-global: it must go
    assert n_listeners() == n0
    try:
        q.awaitTermination(60)
    except Exception:
        pass
    kill_deadline = time.time() + 120
    while q.isActive and time.time() < kill_deadline:
        time.sleep(0.2)
    assert not q.isActive, "queries did not stop after kill"
    assert j1.tables["Clip"].committed_batches(), "no commit before kill"

    j2 = mk()
    j2.run_to_completion(spark, timeout_s=900)
    nodes = j2.read_merged(spark, "Clip").toPandas()
    assert len(nodes) == pdf["clip_id"].nunique()
    assert (pdf["clip_id"].nunique()
            <= j2.tables["Clip"].total_committed_rows() <= len(pdf))
    # resumed run == uninterrupted run, row for row
    a = (job.read_merged(spark, "Clip").toPandas()
         .sort_values("clip_id").reset_index(drop=True))
    b = nodes.sort_values("clip_id").reset_index(drop=True)
    cols = ["clip_id", "n_samples", "transcript_norm"]
    assert a[cols].equals(b[cols])


def _state_partitions(checkpoint: str) -> int:
    """State partitions of a stateful query's first operator."""
    return sum(1 for d in os.listdir(os.path.join(checkpoint, "state", "0"))
               if d.isdigit())


def test_state_partitions_match_task_slots(spark, stream_env):
    """The session runs one shuffle partition per task slot, so a
    drained windowed query has that many state partitions, and each
    windowed batch commits at most that many parquet parts."""
    root, inp, pdf, job = stream_env
    slots = spark.sparkContext.defaultParallelism
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == slots
    assert _state_partitions(
        os.path.join(root, "ckpt", "win_codecwindow")) == slots
    tbl = job.tables["CodecWindow"]
    assert tbl.committed_batches()
    for b in tbl.committed_batches():
        d = os.path.join(tbl.path, "data", f"batch={b}")
        parts = [f for f in os.listdir(d)
                 if f.startswith("part-") and f.endswith(".parquet")]
        assert len(parts) <= slots, (b, parts)


def test_resume_keeps_first_run_state_partitions(spark, stream_env):
    """A checkpoint first started at 8 shuffle partitions keeps 8 state
    partitions when it resumes under the session default (Spark
    restores the count from the offset log), and the resumed run's
    merged tables equal the uninterrupted run's."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    inp2 = os.path.join(root, "input_p8")
    os.makedirs(inp2)
    files = sorted((f for f in os.listdir(inp)
                    if f.startswith("part-") and f.endswith(".parquet")),
                   key=lambda f: os.path.getmtime(os.path.join(inp, f)))

    def run():
        j = SpecStreamJob(
            _parse(_spec()),
            input_dir=inp2,
            input_schema=clips_spark_schema(),
            output_dir=os.path.join(root, "out_p8"),
            checkpoint_dir=os.path.join(root, "ckpt_p8"),
            watermark="60 seconds",
            max_files_per_trigger=2,
            prepare_fn=prepare_clips, prepare_preserves="*",
        )
        j.run_to_completion(spark, timeout_s=900)
        return j

    half = len(files) // 2
    for f in files[:half]:
        shutil.copy(os.path.join(inp, f), inp2)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        run()
    finally:
        spark.conf.set(key, old)
    ckpt = os.path.join(root, "ckpt_p8", "win_codecwindow")
    assert _state_partitions(ckpt) == 8

    for f in files[half:]:
        shutil.copy(os.path.join(inp, f), inp2)
    j = run()
    assert _state_partitions(ckpt) == 8
    for t in ("Clip", "ENCODED_AS", "CodecWindow"):
        assert _merged_sorted(spark, j, t).equals(
            _merged_sorted(spark, job, t)), t


def test_metrics_cover_runs_longer_than_progress_ring(spark, stream_env):
    """metrics_summary() counts every batch and every input row of a
    run longer than Spark's retained progress ring, and the job never
    attaches a session-global listener."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env

    def n_listeners():
        return len(spark._jsparkSession.streams().listListeners())

    n0 = n_listeners()
    key = "spark.sql.streaming.numRecentProgressUpdates"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "3")
    try:
        j = SpecStreamJob(
            _parse(_spec()),
            input_dir=inp,
            input_schema=clips_spark_schema(),
            output_dir=os.path.join(root, "out_ring"),
            checkpoint_dir=os.path.join(root, "ckpt_ring"),
            watermark="60 seconds",
            max_files_per_trigger=1,
            prepare_fn=prepare_clips, prepare_preserves="*",
        )
        q = j.start(spark, available_now=True)
        assert n_listeners() == n0
        assert q.awaitTermination(900), "stream not drained in 900s"
        q.stop()
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert n_listeners() == n0

    def batches(query_dir):
        d = os.path.join(root, "ckpt_ring", query_dir, "commits")
        return sum(1 for f in os.listdir(d) if f.isdigit())

    n_rows, n_win = batches("rows"), batches("win_codecwindow")
    assert n_rows >= 6 and n_win >= 6, (n_rows, n_win)
    s = j.metrics_summary()
    assert s["batches"] == n_rows + n_win, s
    # each of the two queries reads every input row once
    assert s["input_rows"] == 2 * len(pdf), s


def test_reset_w8(spark, stream_env):
    """W8 reset (Neo4jConnection.resetDatabase analogue): output and
    checkpoint dropped; a fresh run repopulates."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    j = SpecStreamJob(
        _parse(_spec()),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_reset"),
        checkpoint_dir=os.path.join(root, "ckpt_reset"),
        max_files_per_trigger=3,
        prepare_fn=prepare_clips, prepare_preserves="*",
    )
    j.run_to_completion(spark, timeout_s=900)
    assert j.tables["Clip"].committed_batches()
    j.reset()
    assert not j.tables["Clip"].committed_batches()
    assert not os.path.exists(os.path.join(root, "ckpt_reset"))
    j.run_to_completion(spark, timeout_s=900)
    assert (j.read_merged(spark, "Clip").count()
            == pdf["clip_id"].nunique())


def test_grouped_target_without_window_rejected(spark):
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    spec = _spec()
    spec["targets"][2]["transform"].pop("window")
    with pytest.raises(ValueError, match="window"):
        SpecStreamJob(
            _parse(spec), input_dir="/nonexistent",
            input_schema=clips_spark_schema(),
            output_dir=tempfile.mkdtemp(), checkpoint_dir=tempfile.mkdtemp())


def test_state_dedup_same_final_table(spark, stream_env):
    """Composing the watermark-evicted keyed LWW state op upstream cuts
    sink traffic but leaves the final merged tables row-identical."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    j = SpecStreamJob(
        _parse(_spec()),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_sd"),
        checkpoint_dir=os.path.join(root, "ckpt_sd"),
        watermark="60 seconds",
        max_files_per_trigger=2,
        prepare_fn=prepare_clips, prepare_preserves="*",
        state_dedup_key="clip_id",
    )
    j.run_to_completion(spark, timeout_s=900)
    a = (job.read_merged(spark, "Clip").toPandas()
         .sort_values("clip_id").reset_index(drop=True))
    b = (j.read_merged(spark, "Clip").toPandas()
         .sort_values("clip_id").reset_index(drop=True))
    cols = ["clip_id", "n_samples", "transcript_norm"]
    assert a[cols].equals(b[cols])
    # the state op may only reduce (never increase) committed rows
    assert (j.tables["Clip"].total_committed_rows()
            <= job.tables["Clip"].total_committed_rows())


def test_actions_phases_in_stream(spark, stream_env):
    """D1 action ordering around the continuous pipeline: preload
    creates state before the stream starts; postload observes it."""
    root, inp, pdf, job = stream_env
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    spec = _spec()
    spec["actions"] = [
        {"name": "pre", "type": "cypher", "execute_after": "start",
         "options": [{"cypher": "CREATE OR REPLACE TEMP VIEW pre_marker "
                                "AS SELECT 1 AS ok"}]},
        {"name": "post", "type": "bigquery", "execute_after": "loads",
         "options": [{"sql": "SELECT * FROM pre_marker"}]},
    ]
    j = SpecStreamJob(
        _parse(spec),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_act"),
        checkpoint_dir=os.path.join(root, "ckpt_act"),
        max_files_per_trigger=3,
        prepare_fn=prepare_clips, prepare_preserves="*",
    )
    j.run_to_completion(spark, timeout_s=900)
    assert [r["name"] for r in j.action_results] == ["pre", "post"]


def test_session_window_spec_target(spark, stream_env):
    """Session-window spec target runs in APPEND mode (Spark forbids
    update for session aggs): every emitted (watermark-closed) session
    matches the batch session oracle exactly."""
    import duckdb

    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    # dedicated input spanning ~10 min (the shared fixture spans ~15 s,
    # so no 5 s-gap session would ever close under a 30 s watermark)
    pdf = make_clips_pdf(300, seed=21, dup_rate=0.0, late_rate=0.0,
                         watermark_s=30, max_step_ms=4000, max_dur_ms=400)
    inp = os.path.join(root, "input_sess")
    chunk = len(pdf) // 6 + 1
    for i in range(0, len(pdf), chunk):
        spark.createDataFrame(pdf.iloc[i:i + chunk],
                              schema=clips_spark_schema()) \
            .coalesce(1).write.mode("append").parquet(inp)
    spec = _spec()
    spec["targets"] = [{
        "name": "UserSession", "type": "node", "source": "clips",
        "mode": "merge",
        "transform": {
            "group": True,
            "window": {"type": "session", "gap": "5 seconds"},
            "aggregations": [
                {"expr": "count(*)", "field": "n"},
                {"expr": "sum(dur_ms)", "field": "total_ms"},
            ],
        },
        "mappings": [
            {"constant": "UserSession", "role": "label"},
            {"field": "codec", "name": "codec", "role": "key",
             "type": "String"},
            {"field": "n", "name": "n", "role": "property", "type": "Long"},
            {"field": "total_ms", "name": "total_ms", "role": "property",
             "type": "Long"},
        ],
    }]
    j = SpecStreamJob(
        _parse(spec),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_sess"),
        checkpoint_dir=os.path.join(root, "ckpt_sess"),
        watermark="30 seconds",
        max_files_per_trigger=2,
    )
    j.run_to_completion(spark, timeout_s=900)
    got = j.read_merged(spark, "UserSession").toPandas()
    if len(got) and got["window_start"].dt.tz is None:
        got["window_start"] = got["window_start"].dt.tz_localize("UTC")
    oracle = duckdb.sql("""
        WITH o AS (
          SELECT codec, event_time, dur_ms,
                 CASE WHEN event_time - lag(event_time) OVER
                        (PARTITION BY codec ORDER BY event_time)
                      > INTERVAL 5 SECONDS
                      OR lag(event_time) OVER
                        (PARTITION BY codec ORDER BY event_time) IS NULL
                 THEN 1 ELSE 0 END AS new_s
          FROM pdf),
        s AS (SELECT *, SUM(new_s) OVER (PARTITION BY codec
              ORDER BY event_time ROWS UNBOUNDED PRECEDING) AS sid FROM o)
        SELECT codec, MIN(event_time) AS ws, COUNT(*) AS n,
               SUM(dur_ms) AS total_ms
        FROM s GROUP BY codec, sid""").df()
    om = {(r["codec"], r["ws"]): (r["n"], r["total_ms"])
          for _, r in oracle.iterrows()}
    assert len(got) > 0
    for _, r in got.iterrows():
        key = (r["codec"], r["window_start"])
        assert key in om, key
        assert (r["n"], r["total_ms"]) == om[key], (key, r["n"], om[key])


def test_continuous_mode_incremental_files(spark, stream_env):
    """True continuous operation (no availableNow): the job picks up
    files appended AFTER start and commits them exactly-once."""
    import time

    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    inp2 = os.path.join(root, "input_cont")
    half = len(pdf) // 2
    spark.createDataFrame(pdf.iloc[:half], schema=clips_spark_schema()) \
        .coalesce(1).write.mode("append").parquet(inp2)

    j = SpecStreamJob(
        _parse({k: v for k, v in _spec().items()}),
        input_dir=inp2,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_cont"),
        checkpoint_dir=os.path.join(root, "ckpt_cont"),
        max_files_per_trigger=4,
        prepare_fn=prepare_clips, prepare_preserves="*",
    )
    q = j.start(spark, available_now=False)
    try:
        deadline = time.time() + 300
        while (not j.tables["Clip"].committed_batches()
               and time.time() < deadline):
            time.sleep(0.5)
        assert j.tables["Clip"].committed_batches(), "first half not committed"

        # append the second half while the query is live
        spark.createDataFrame(pdf.iloc[half:], schema=clips_spark_schema()) \
            .coalesce(1).write.mode("append").parquet(inp2)
        want = pdf["clip_id"].nunique()
        while time.time() < deadline:
            try:
                if j.read_merged(spark, "Clip").count() == want:
                    break
            except ValueError:
                pass
            time.sleep(1.0)
        assert j.read_merged(spark, "Clip").count() == want
    finally:
        q.stop()


def test_joined_two_stream_pipeline(spark, stream_env):
    """The north_rule's clip↔transcript stateful stream-stream join
    keyed on clip_id runs upstream of the spec-driven pipeline: audio
    and transcript arrive as SEPARATE streams, the joined rows flow
    through the same targets, and the merged graph equals the
    single-stream batch oracle row-for-row."""
    from pyspark.sql import types as T

    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    audio_dir = os.path.join(root, "in_audio")
    script_dir = os.path.join(root, "in_scripts")
    audio_schema = T.StructType(
        [f for f in clips_spark_schema() if f.name != "transcript"])
    script_schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
    ])
    chunk = len(pdf) // 6 + 1
    for i in range(0, len(pdf), chunk):
        part = pdf.iloc[i:i + chunk]
        spark.createDataFrame(
            part.drop(columns=["transcript"]), schema=audio_schema) \
            .coalesce(1).write.mode("append").parquet(audio_dir)
        spark.createDataFrame(
            part[["clip_id", "transcript", "event_time"]],
            schema=script_schema) \
            .coalesce(1).write.mode("append").parquet(script_dir)

    spec = _spec()
    spec["targets"] = [t for t in spec["targets"]
                       if "window" not in (t.get("transform") or {})]
    j = SpecStreamJob(
        _parse(spec),
        input_dir=audio_dir,
        input_schema=audio_schema,
        output_dir=os.path.join(root, "out_join"),
        checkpoint_dir=os.path.join(root, "ckpt_join"),
        watermark="60 seconds",
        max_files_per_trigger=2,
        prepare_fn=prepare_clips, prepare_preserves="*",
        join_input_dir=script_dir,
        join_schema=script_schema,
        join_window="5 minutes",
    )
    j.run_to_completion(spark, timeout_s=900)

    # batch oracle over the SAME joined relation (duplicate keys join
    # into a cross product on both paths; the deterministic ordinal
    # picks the same winner from identical rows), column order matching
    # clip_transcript_join's output so the tie-break hash is identical
    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        event_time_ordinal,
    )

    audio_b = spark.read.schema(audio_schema).parquet(audio_dir).alias("c")
    script_b = spark.read.schema(script_schema).parquet(script_dir).alias("t")
    joined_b = audio_b.join(script_b,
                            F.col("c.clip_id") == F.col("t.clip_id")).select(
        F.col("c.clip_id").alias("clip_id"), F.col("c.bytes").alias("bytes"),
        F.col("c.sr_hz").alias("sr_hz"), F.col("c.dur_ms").alias("dur_ms"),
        F.col("c.codec").alias("codec"),
        F.col("t.transcript").alias("transcript"),
        F.col("c.event_time").alias("event_time"))
    prepared = prepare_clips(event_time_ordinal(joined_b, "event_time"))
    bspec = _parse(spec)
    batch = run_job(spark, bspec, source_frames={"clips": prepared})

    got = (j.read_merged(spark, "Clip").toPandas()
           .sort_values("clip_id").reset_index(drop=True))
    want = (batch.target_frames["Clip"].toPandas()
            .sort_values("clip_id").reset_index(drop=True))
    cols = ["clip_id", "sr_hz", "dur_ms", "codec", "n_samples",
            "transcript_norm"]
    assert got[cols].equals(want[cols])
    assert len(got) == pdf["clip_id"].nunique()


def test_w5_parallelism_knob_applied(spark, stream_env):
    """node_write_parallelism, when explicitly set, bounds the written
    partition count per batch (W5 — the reference's vestigial random-key
    throttle realized as repartition-before-write)."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    spec = _spec()
    spec["config"] = {"node_write_parallelism": 2,
                      "edge_write_parallelism": 1}
    spec["targets"] = [t for t in spec["targets"]
                       if "window" not in (t.get("transform") or {})]
    j = SpecStreamJob(
        _parse(spec),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_w5"),
        checkpoint_dir=os.path.join(root, "ckpt_w5"),
        max_files_per_trigger=6,
        prepare_fn=prepare_clips, prepare_preserves="*",
    )
    j.run_to_completion(spark, timeout_s=900)
    for b in j.tables["Clip"].committed_batches():
        info = j.tables["Clip"].commit_info(b)
        assert len(info["partitions"]) <= 2, info
    for b in j.tables["ENCODED_AS"].committed_batches():
        info = j.tables["ENCODED_AS"].commit_info(b)
        assert len(info["partitions"]) <= 1, info


def test_execute_after_name_streaming(spark, stream_env):
    """D1 named barrier in the streaming runner: an execute_after_name
    action fires after its target's table is fully committed and sees
    the MERGED rows via the published target_<name> view."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    spec = _spec()
    spec["targets"] = [t for t in spec["targets"]
                       if "window" not in (t.get("transform") or {})]
    spec["actions"] = [
        {"name": "after_clip", "type": "cypher",
         "execute_after": "node", "execute_after_name": "Clip",
         "options": [{"cypher":
                      "CREATE OR REPLACE TEMP VIEW stream_named_seen AS "
                      "SELECT count(*) AS n FROM target_Clip"}]},
        {"name": "tail", "type": "cypher", "execute_after": "loads",
         "options": [{"cypher": "SELECT 1 AS one"}]},
    ]
    j = SpecStreamJob(
        _parse(spec),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_named"),
        checkpoint_dir=os.path.join(root, "ckpt_named"),
        max_files_per_trigger=3,
        prepare_fn=prepare_clips, prepare_preserves="*",
    )
    j.run_to_completion(spark, timeout_s=900)
    names = [r["name"] for r in j.action_results]
    assert names == ["after_clip", "tail"]
    # the named action observed the FULLY MERGED table (one row per key)
    assert (spark.table("stream_named_seen").first()["n"]
            == pdf["clip_id"].nunique())


def test_windowed_target_skips_prepare_when_raw_suffices(spark, stream_env):
    """A windowed target aggregating only RAW input columns must not
    pay the (decode-heavy) prepare stage in its own streaming query;
    one that references prepared columns must."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    calls = []

    def counting_prepare(df):
        calls.append(1)
        return prepare_clips(df)

    # CodecWindow aggregates codec/dur_ms — raw columns. With the
    # caller's prepare_preserves="*" guarantee and no row-level target
    # in the spec, prepare must never run at all (windowed-only spec:
    # a row path would legitimately call prepare per micro-batch and
    # race this assertion — the round-2 flake).
    spec = _spec()
    spec["targets"] = [t for t in spec["targets"]
                       if t["name"] == "CodecWindow"]
    j = SpecStreamJob(
        _parse(spec),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_skipprep"),
        checkpoint_dir=os.path.join(root, "ckpt_skipprep"),
        max_files_per_trigger=6,
        prepare_fn=counting_prepare,
        prepare_preserves="*",
    )
    q = j.start(spark, available_now=True)
    q.awaitTermination(600)
    q.stop()
    assert len(calls) == 0, f"raw-only windowed target ran prepare: {calls}"

    # a windowed target over a PREPARED column does invoke prepare at
    # plan build
    calls2 = []

    def counting_prepare2(df):
        calls2.append(1)
        return prepare_clips(df)

    spec2 = _spec()
    spec2["targets"] = [t for t in spec2["targets"]
                        if t["name"] == "CodecWindow"]
    spec2["targets"][0]["transform"]["aggregations"] = [
        {"expr": "count(*)", "field": "n_clips"},
        {"expr": "sum(n_samples)", "field": "total_ms"},  # prepared col
    ]
    j2 = SpecStreamJob(
        _parse(spec2),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_prep2"),
        checkpoint_dir=os.path.join(root, "ckpt_prep2"),
        max_files_per_trigger=6,
        prepare_fn=counting_prepare2,
    )
    q2 = j2.start(spark, available_now=True)
    assert len(calls2) >= 1  # fallback path engaged at plan build
    q2.awaitTermination(600)
    q2.stop()

    # WITHOUT a prepare_preserves declaration the shortcut must not
    # engage, even for a raw-columns-only target: prepare_fn could be
    # rewriting those columns in place (same name, new values), which
    # column presence cannot detect (round-2 ADVICE).
    calls3 = []

    def counting_prepare3(df):
        calls3.append(1)
        return prepare_clips(df)

    spec3 = _spec()
    spec3["targets"] = [t for t in spec3["targets"]
                        if t["name"] == "CodecWindow"]
    j3 = SpecStreamJob(
        _parse(spec3),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_prep3"),
        checkpoint_dir=os.path.join(root, "ckpt_prep3"),
        max_files_per_trigger=6,
        prepare_fn=counting_prepare3,
    )
    q3 = j3.start(spark, available_now=True)
    assert len(calls3) >= 1, "default must run prepare at plan build"
    q3.awaitTermination(600)
    q3.stop()


def test_session_window_spec_target_matches_batch(spark, stream_env):
    """A SESSION-window grouped target through SpecStreamJob (append
    mode — each session emits once when the watermark closes it)
    equals the batch session_window GROUP BY, given a far-future flush
    row that closes every session."""
    import duckdb
    from datetime import timedelta

    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    # append a flush file: one far-future row per codec pushes the
    # watermark past every real event so all sessions close
    far = pdf["event_time"].max() + timedelta(hours=2)
    flush = pdf.drop_duplicates("codec").copy()
    flush["event_time"] = far
    flush["clip_id"] = "flush_" + flush["codec"]
    inp2 = os.path.join(root, "input_sess_full")
    import shutil as _sh
    _sh.copytree(inp, inp2)
    spark.createDataFrame(flush, schema=clips_spark_schema()) \
        .coalesce(1).write.mode("append").parquet(inp2)

    spec = {
        "sources": [{"type": "bigquery", "name": "clips",
                     "query": "SELECT 1"}],
        "targets": [{
            "name": "CodecSession", "type": "node", "source": "clips",
            "mode": "merge",
            "transform": {
                "group": True,
                "window": {"type": "session", "gap": "5 seconds"},
                "aggregations": [
                    {"expr": "count(*)", "field": "n_clips"},
                    {"expr": "sum(dur_ms)", "field": "total_ms"},
                ],
            },
            "mappings": [
                {"constant": "CodecSession", "role": "label"},
                {"field": "codec", "name": "codec", "role": "key",
                 "type": "String"},
                {"field": "n_clips", "name": "n_clips",
                 "role": "property", "type": "Long"},
                {"field": "total_ms", "name": "total_ms",
                 "role": "property", "type": "Long"},
            ],
        }],
    }
    j = SpecStreamJob(
        _parse(spec),
        input_dir=inp2,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_sess_full"),
        checkpoint_dir=os.path.join(root, "ckpt_sess_full"),
        watermark="60 seconds",
        max_files_per_trigger=2,
    )
    j.run_to_completion(spark, timeout_s=900)
    got = j.read_merged(spark, "CodecSession").toPandas()
    got = got[~got["codec"].isna()]
    if got["window_start"].dt.tz is None:
        got["window_start"] = got["window_start"].dt.tz_localize("UTC")

    # DuckDB session oracle over the REAL rows (flush rows excluded:
    # they form their own sessions; drop them by timestamp)
    oracle = duckdb.sql("""
        WITH ordered AS (
          SELECT codec, event_time, dur_ms,
                 CASE WHEN event_time - lag(event_time) OVER w
                           > INTERVAL 5 SECONDS
                       OR lag(event_time) OVER w IS NULL
                      THEN 1 ELSE 0 END AS new_sess
          FROM pdf WINDOW w AS (PARTITION BY codec ORDER BY event_time)),
        sess AS (
          SELECT codec, event_time, dur_ms,
                 SUM(new_sess) OVER (PARTITION BY codec ORDER BY event_time
                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM ordered)
        SELECT MIN(event_time) AS ws, codec,
               COUNT(*) AS n_clips, SUM(dur_ms) AS total_ms
        FROM sess GROUP BY codec, sid
    """).df()
    om = {}
    for _, r in oracle.iterrows():
        ws = r["ws"]
        if ws.tz is None:
            ws = ws.tz_localize("UTC")
        om[(ws, r["codec"])] = (r["n_clips"], r["total_ms"])
    real = got[got["window_start"] < pd_far(far)]
    assert len(real) == len(om), (len(real), len(om))
    for _, r in real.iterrows():
        assert (r["n_clips"], r["total_ms"]) == om[
            (r["window_start"], r["codec"])]


def pd_far(ts):
    import pandas as pd

    t = pd.Timestamp(ts)
    return t.tz_localize("UTC") if t.tz is None else t


def test_sliding_window_spec_target_matches_batch(spark, stream_env):
    """A SLIDING-window grouped target through SpecStreamJob (update
    mode + arrival LWW) equals the batch sliding GROUP BY per
    (window_start, codec)."""
    import duckdb

    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env
    spec = {
        "sources": [{"type": "bigquery", "name": "clips",
                     "query": "SELECT 1"}],
        "targets": [{
            "name": "CodecSlide", "type": "node", "source": "clips",
            "mode": "merge",
            "transform": {
                "group": True,
                "window": {"type": "sliding", "duration": "20 seconds",
                           "slide": "10 seconds"},
                "aggregations": [
                    {"expr": "count(*)", "field": "n_clips"},
                ],
            },
            "mappings": [
                {"constant": "CodecSlide", "role": "label"},
                {"field": "codec", "name": "codec", "role": "key",
                 "type": "String"},
                {"field": "n_clips", "name": "n_clips",
                 "role": "property", "type": "Long"},
            ],
        }],
    }
    j = SpecStreamJob(
        _parse(spec),
        input_dir=inp,
        input_schema=clips_spark_schema(),
        output_dir=os.path.join(root, "out_slide"),
        checkpoint_dir=os.path.join(root, "ckpt_slide"),
        watermark="60 seconds",
        max_files_per_trigger=2,
    )
    j.run_to_completion(spark, timeout_s=900)
    got = j.read_merged(spark, "CodecSlide").toPandas()
    if got["window_start"].dt.tz is None:
        got["window_start"] = got["window_start"].dt.tz_localize("UTC")
    oracle = duckdb.sql("""
        WITH offs AS (SELECT 0 AS o UNION ALL SELECT 1),
        win AS (
          SELECT time_bucket(INTERVAL 10 SECONDS, event_time)
                 - o * INTERVAL 10 SECONDS AS ws, codec
          FROM pdf, offs)
        SELECT ws, codec, COUNT(*) AS n FROM win GROUP BY 1, 2
    """).df()
    om = {}
    for _, r in oracle.iterrows():
        ws = r["ws"]
        if ws.tz is None:
            ws = ws.tz_localize("UTC")
        om[(ws, r["codec"])] = r["n"]
    assert len(got) == len(om), (len(got), len(om))
    for _, r in got.iterrows():
        assert r["n_clips"] == om[(r["window_start"], r["codec"])]


def test_metrics_summary_and_late_warning(spark, stream_env, caplog):
    """SpecStreamJob surfaces per-batch metrics (input rows, late
    drops, latency percentiles) and warns loudly when the watermark
    silently drops a meaningful share of rows."""
    import logging

    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    import pandas as pd

    root, inp, pdf, job = stream_env
    # Round-2 flake: a single run over 5 chunk files relied on the
    # file source separating on-time and late rows into distinct
    # micro-batches; under suite load the chunks coalesced, the late
    # rows arrived WITH their watermark-advancing peers, and nothing
    # was dropped. Deterministic form: run the on-time rows to
    # completion first (the watermark is then COMMITTED to the
    # checkpoint), append rows an hour older than it, and resume —
    # every appended row is late regardless of batching.
    ontime = make_clips_pdf(150, seed=33, dup_rate=0.0, late_rate=0.0,
                            max_step_ms=2000, max_dur_ms=300)
    inp2 = os.path.join(root, "input_late")
    spark.createDataFrame(ontime, schema=clips_spark_schema()) \
        .coalesce(1).write.mode("append").parquet(inp2)
    spec = _spec()
    spec["targets"] = [t for t in spec["targets"]
                       if t["name"] == "CodecWindow"]

    def mk():
        return SpecStreamJob(
            _parse(spec),
            input_dir=inp2,
            input_schema=clips_spark_schema(),
            output_dir=os.path.join(root, "out_late"),
            checkpoint_dir=os.path.join(root, "ckpt_late"),
            watermark="10 seconds",
            max_files_per_trigger=1,
        )

    mk().run_to_completion(spark, timeout_s=900)

    n_late = 40
    late = ontime.iloc[:n_late].copy()
    late["clip_id"] = [f"late_{i:06d}" for i in range(n_late)]
    late["event_time"] = late["event_time"] - pd.Timedelta(hours=1)
    spark.createDataFrame(late, schema=clips_spark_schema()) \
        .coalesce(1).write.mode("append").parquet(inp2)

    j = mk()
    with caplog.at_level(logging.WARNING,
                         logger="dataflow_flex_templates_spark"
                                ".streaming.spec_stream"):
        j.run_to_completion(spark, timeout_s=900)
    s = j.metrics_summary()
    assert s is not None and s["input_rows"] == n_late, s
    # numRowsDroppedByWatermark counts rows reaching the STATE operator
    # — i.e. post-partial-aggregation (window, codec) groups, not raw
    # input rows — so it lands in (0, n_late]; every group formed from
    # the hour-late rows must have been dropped, which the output
    # check below pins exactly.
    assert 0 < s["rows_dropped_by_watermark"] <= n_late, s
    assert any("watermark dropped" in r.message for r in caplog.records)
    # and none of the late rows leaked into the merged windowed table:
    # their windows all end an hour before the committed watermark
    got = j.read_merged(spark, "CodecWindow")
    cutoff = ontime["event_time"].min() - pd.Timedelta(minutes=30)
    assert got.filter(f"window_start < timestamp'{cutoff}'").count() == 0


def test_schema_evolution_across_restart(spark, stream_env):
    """Operational reality at 10^12 scale: specs evolve. Adding a
    property mapping on a checkpoint resume must work — new batches
    carry the new column, old committed rows read back as null for it,
    and the LWW merge still yields one row per key."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root, inp, pdf, job = stream_env

    def mk(with_extra):
        spec = _spec()
        spec["targets"] = [t for t in spec["targets"]
                           if t["name"] == "Clip"]
        if not with_extra:
            spec["targets"][0]["mappings"] = [
                m for m in spec["targets"][0]["mappings"]
                if m.get("name") != "n_samples"]
        return SpecStreamJob(
            _parse(spec),
            input_dir=inp,
            input_schema=clips_spark_schema(),
            output_dir=os.path.join(root, "out_evolve"),
            checkpoint_dir=os.path.join(root, "ckpt_evolve"),
            max_files_per_trigger=1,
            prepare_fn=prepare_clips, prepare_preserves="*",
        )

    import time

    # phase 1: run WITHOUT n_samples until a couple of commits land
    j1 = mk(with_extra=False)
    q = j1.start(spark, available_now=True)
    deadline = time.time() + 300
    while (len(j1.tables["Clip"].committed_batches()) < 2
           and time.time() < deadline):
        time.sleep(0.5)
    q.stop()
    try:
        q.awaitTermination(60)
    except Exception:
        pass
    while q.isActive:
        time.sleep(0.2)
    n_before = len(j1.tables["Clip"].committed_batches())
    assert n_before >= 1

    # phase 2: resume from the same checkpoint WITH n_samples added
    j2 = mk(with_extra=True)
    j2.run_to_completion(spark, timeout_s=900)
    assert len(j2.tables["Clip"].committed_batches()) > n_before

    merged = j2.read_merged(spark, "Clip")
    assert "n_samples" in merged.columns
    got = merged.toPandas()
    assert len(got) == pdf["clip_id"].nunique()
    # rows whose LWW winner was committed before the evolution read
    # back null; rows committed after carry real sample counts
    assert got["n_samples"].notna().any()


def test_windowed_target_distinct_count_sketch(spark):
    """A windowed grouped target can declare a DISTINCT-count aggregate
    via approx_count_distinct — the sketch-backed form Structured
    Streaming actually supports (exact COUNT(DISTINCT) is unsupported
    on streams; the HLL++ buffer keeps per-(window, key) state bounded
    however many distinct ids the window sees). At the tiny per-window
    cardinalities here the sparse HLL++ representation is exact, so
    the merged table must EQUAL the batch distinct count."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    root = tempfile.mkdtemp(prefix="spec_stream_acd_")
    try:
        inp = os.path.join(root, "input")
        # dup_rate 0.3 => distinct clip_id per window strictly < count
        pdf = make_clips_pdf(250, seed=23, dup_rate=0.3, late_rate=0.0,
                             max_dur_ms=400)
        chunk = len(pdf) // 4 + 1
        for i in range(0, len(pdf), chunk):
            spark.createDataFrame(pdf.iloc[i:i + chunk],
                                  schema=clips_spark_schema()) \
                .coalesce(1).write.mode("append").parquet(inp)

        spec = {
            "version": "1",
            "sources": [{"name": "clips", "type": "parquet", "uri": inp}],
            "targets": [
                {"name": "CodecUniques", "type": "node", "source": "clips",
                 "mode": "merge",
                 "transform": {
                     "group": True,
                     "window": {"type": "tumbling",
                                "duration": "10 seconds"},
                     "aggregations": [
                         {"expr": "count(*)", "field": "n_rows"},
                         {"expr": "approx_count_distinct(clip_id, 0.01)",
                          "field": "n_uniq"},
                     ],
                 },
                 "mappings": [
                     {"constant": "CodecUniques", "role": "label"},
                     {"field": "codec", "name": "codec", "role": "key",
                      "type": "String"},
                     {"field": "n_rows", "name": "n_rows",
                      "role": "property", "type": "Long"},
                     {"field": "n_uniq", "name": "n_uniq",
                      "role": "property", "type": "Long"},
                 ]},
            ],
        }
        job = SpecStreamJob(
            _parse(spec),
            input_dir=inp,
            input_schema=clips_spark_schema(),
            output_dir=os.path.join(root, "out"),
            checkpoint_dir=os.path.join(root, "ckpt"),
            watermark="60 seconds",
            max_files_per_trigger=2,
        )
        job.run_to_completion(spark, timeout_s=900)

        import duckdb

        got = job.read_merged(spark, "CodecUniques").toPandas()
        if got["window_start"].dt.tz is None:
            got["window_start"] = got["window_start"].dt.tz_localize("UTC")
        oracle = duckdb.sql(
            "SELECT time_bucket(INTERVAL 10 SECONDS, event_time) ws, codec,"
            " count(*) n_rows, count(DISTINCT clip_id) n_uniq"
            " FROM pdf GROUP BY 1, 2").df()
        om = {(r["ws"], r["codec"]): (r["n_rows"], r["n_uniq"])
              for _, r in oracle.iterrows()}
        assert len(got) == len(om)
        saw_dup_window = False
        for _, r in got.iterrows():
            n_rows, n_uniq = om[(r["window_start"], r["codec"])]
            assert r["n_rows"] == n_rows
            assert r["n_uniq"] == n_uniq, (r["codec"], r["n_uniq"], n_uniq)
            saw_dup_window |= bool(n_uniq < n_rows)
        assert saw_dup_window, "fixture produced no duplicate window"
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------- chaos matrix

def _two_stream_inputs(spark, root, pdf, tag):
    """Audio + transcript sides of the same clip set, chronologically
    chunked into 6 files each (mfpt=1 → ~6 micro-batches per side)."""
    from pyspark.sql import types as T

    audio_dir = os.path.join(root, f"in_audio_{tag}")
    script_dir = os.path.join(root, f"in_scripts_{tag}")
    audio_schema = T.StructType(
        [f for f in clips_spark_schema() if f.name != "transcript"])
    script_schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
    ])
    chunk = len(pdf) // 6 + 1
    for i in range(0, len(pdf), chunk):
        part = pdf.iloc[i:i + chunk]
        spark.createDataFrame(
            part.drop(columns=["transcript"]), schema=audio_schema) \
            .coalesce(1).write.mode("append").parquet(audio_dir)
        spark.createDataFrame(
            part[["clip_id", "transcript", "event_time"]],
            schema=script_schema) \
            .coalesce(1).write.mode("append").parquet(script_dir)
    return audio_dir, script_dir, audio_schema, script_schema


@pytest.fixture(scope="module")
def chaos_env(spark, stream_env):
    """The flagship two-stream (clip↔transcript join) spec job WITH the
    windowed target, run once uninterrupted — the golden tables every
    kill/resume run must reproduce byte-for-byte."""
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    from datetime import timedelta

    from dataflow_flex_templates_spark.testing.clips import EPOCH

    root, inp, pdf, job = stream_env
    # Spread event times to 3 s/row (~15 min span): the stock fixture
    # packs all 300 clips into ~7 s, so under the 60 s watermark no
    # session EVER closes and the windowed target would emit nothing.
    pdf = pdf.copy().reset_index(drop=True)
    pdf["event_time"] = [EPOCH + timedelta(seconds=3 * i)
                         for i in range(len(pdf))]
    audio_dir, script_dir, audio_schema, script_schema = \
        _two_stream_inputs(spark, root, pdf, "chaos")

    # Tumbling/sliding windowed targets emit cumulative UPDATEs, and
    # Spark forbids a stream-stream join upstream of an update-mode
    # sink — session windows are the append-mode windowed shape that
    # composes with the join (multiple stateful operators, append).
    spec = _spec()
    for t in spec["targets"]:
        if "window" in (t.get("transform") or {}):
            t["transform"]["window"] = {"type": "session",
                                        "gap": "10 seconds"}

    def mk(tag):
        return SpecStreamJob(
            _parse(spec),
            input_dir=audio_dir,
            input_schema=audio_schema,
            output_dir=os.path.join(root, f"out_chaos_{tag}"),
            checkpoint_dir=os.path.join(root, f"ckpt_chaos_{tag}"),
            watermark="60 seconds",
            max_files_per_trigger=1,
            prepare_fn=prepare_clips, prepare_preserves="*",
            join_input_dir=script_dir,
            join_schema=script_schema,
            join_window="5 minutes",
        )

    golden = mk("golden")
    golden.run_to_completion(spark, timeout_s=900)
    want = {t: _merged_sorted(spark, golden, t)
            for t in ("Clip", "ENCODED_AS", "CodecWindow")}
    assert len(want["Clip"]) == pdf["clip_id"].nunique()
    assert len(want["CodecWindow"]) > 0
    return mk, want


def _merged_sorted(spark, job, target):
    pdf = job.read_merged(spark, target).toPandas()
    cols = sorted(pdf.columns)
    return (pdf[cols].sort_values(cols, kind="mergesort")
            .reset_index(drop=True))


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
@pytest.mark.parametrize("kill_after", [0, 1, 2, 3, 4])
def test_chaos_kill_resume_matrix(spark, chaos_env, kill_after, provider):
    """Systematic kill/resume sweep (round-3 verdict ask #5, widened to
    both state-store providers in round 5): kill the flagship
    join+windowed spec-stream job after the (kill_after+1)-th committed
    row batch, resume from the same checkpoint, and require ALL merged
    tables — node, edge, AND windowed — byte-identical to the
    uninterrupted (default-provider) run. Exactly-once must hold at
    EVERY batch boundary AND under BOTH state backends: the HDFS-backed
    default and RocksDB (the off-heap store 10^12 dedup keys need;
    provider engagement itself is proven by
    test_state_scale.test_rocksdb_state_store_provider_runs — here the
    claim is that kill/resume state recovery is byte-equivalent)."""
    import time

    from dataflow_flex_templates_spark.session import STATE_STORE_PROVIDERS

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, STATE_STORE_PROVIDERS[provider])
    try:
        mk, want = chaos_env
        tag = f"k{kill_after}_{provider}"
        j = mk(tag)
        q = j.start(spark, available_now=True)
        deadline = time.time() + 600
        drained = False
        while time.time() < deadline:
            if len(j.tables["Clip"].committed_batches()) > kill_after:
                break
            if not q.isActive:
                drained = True  # stream finished before the kill point
                break
            time.sleep(0.05)
        if not drained:
            q.stop()
            try:
                q.awaitTermination(60)
            except Exception:
                pass  # cancellation surfacing as StreamingQueryException
            while q.isActive and time.time() < deadline:
                time.sleep(0.2)
            assert not q.isActive, "queries did not stop after kill"
            # resume on the same checkpoint/output
            j2 = mk(tag)
            j2.run_to_completion(spark, timeout_s=900)
        else:
            j2 = j

        for t in ("Clip", "ENCODED_AS", "CodecWindow"):
            got = _merged_sorted(spark, j2, t)
            assert got.equals(want[t]), (
                f"{t} diverged after kill@{kill_after} ({provider}): "
                f"{len(got)} vs {len(want[t])} rows")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
