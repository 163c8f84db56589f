"""Streaming semantics tests (SURVEY.md §5 item 4; exactly-once,
replay and kill-and-resume of the clip→graph job are in
test_spec_stream.py):
- exactly-once sink commit protocol
- tumbling/sliding/session windows with watermark late-data drop
- stateful stream-stream clip↔transcript join
- applyInPandasWithState LWW dedup
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from dataflow_flex_templates_spark.testing.clips import (
    clips_spark_schema,
    make_clips_pdf,
)

N_CLIPS = 300


@pytest.fixture(scope="module")
def clip_dirs(spark):
    root = tempfile.mkdtemp(prefix="clips_stream_")
    inp = os.path.join(root, "input")
    pdf = make_clips_pdf(N_CLIPS, seed=42, dup_rate=0.05)
    df = spark.createDataFrame(pdf, schema=clips_spark_schema())
    # 6 files → multiple micro-batches at maxFilesPerTrigger=2
    df.repartition(6).write.parquet(inp)
    yield root, inp, pdf
    shutil.rmtree(root, ignore_errors=True)


def test_tumbling_window_with_watermark(spark, tmp_path):
    """Windowed count per codec over the stream == batch oracle,
    excluding rows dropped as late (beyond watermark)."""
    import duckdb
    from dataflow_flex_templates_spark.streaming.windows import tumbling_agg
    from dataflow_flex_templates_spark.testing.clips import clips_spark_schema

    root = str(tmp_path)
    # spread event time over ~10 min so windows close under the watermark
    pdf = make_clips_pdf(300, seed=9, dup_rate=0.0, late_rate=0.02,
                         watermark_s=30, max_step_ms=2000, max_dur_ms=500)
    # write chronological chunks as separate files so stream arrival
    # order ≈ generation order (bounded disorder ≤ watermark, as a real
    # ingest log would be); repartition() would scatter the timeline
    # across files and violate the watermark contract by design
    inp = os.path.join(root, "win_in")
    chunk = len(pdf) // 6 + 1
    for i in range(0, len(pdf), chunk):
        spark.createDataFrame(pdf.iloc[i:i + chunk],
                              schema=clips_spark_schema()) \
            .coalesce(1).write.mode("append").parquet(inp)
    stream = (spark.readStream.schema(clips_spark_schema())
              .option("maxFilesPerTrigger", 2).parquet(inp))
    agg = tumbling_agg(stream, "event_time", "10 seconds", ["codec"],
                       {"n": "count(*)", "total_ms": "sum(dur_ms)"},
                       watermark="30 seconds")
    out_dir = os.path.join(root, "win_out")
    q = (agg.writeStream.outputMode("append")
         .format("parquet").option("path", out_dir)
         .option("checkpointLocation", os.path.join(root, "win_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    got = spark.read.parquet(out_dir).toPandas()
    if got["window_start"].dt.tz is None:
        got["window_start"] = got["window_start"].dt.tz_localize("UTC")
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch oracle for that window exactly
    oracle = duckdb.sql(
        "SELECT time_bucket(INTERVAL 10 SECONDS, event_time) ws, codec, "
        "count(*) n, sum(dur_ms) total_ms FROM pdf GROUP BY 1,2").df()
    om = {(r["ws"], r["codec"]): (r["n"], r["total_ms"])
          for _, r in oracle.iterrows()}
    assert len(got) > 0
    mismatches = []
    for _, r in got.iterrows():
        key = (r["window_start"], r["codec"])
        if key not in om:
            mismatches.append(("extra", key))
            continue
        n, tot = om[key]
        # late rows beyond the watermark are dropped from the stream →
        # stream count ≤ oracle count; equality when no late row fell
        # in this window
        if not (r["n"] <= n and r["total_ms"] <= tot):
            mismatches.append((key, r["n"], n))
    assert not mismatches, mismatches[:5]
    # and most windows should be exact (late rate is ~2%)
    exact = sum(1 for _, r in got.iterrows()
                if om.get((r["window_start"], r["codec"]),
                          (None, None))[0] == r["n"])
    assert exact >= 0.8 * len(got)


def test_session_window_batch_parity(spark):
    """Session windows (gap 5s) on a small bounded frame vs hand oracle."""
    from dataflow_flex_templates_spark.streaming.windows import session_agg
    import pandas as pd

    rows = [
        ("u1", "2025-01-01 00:00:00"), ("u1", "2025-01-01 00:00:03"),
        ("u1", "2025-01-01 00:00:20"),  # new session (gap > 5s)
        ("u2", "2025-01-01 00:00:01"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["uid", "ts"]))
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    out = session_agg(df, "ts", "5 seconds", ["uid"], {"n": "count(*)"})
    got = {(r["uid"], str(r["window_start"])): r["n"] for r in out.collect()}
    assert got[("u1", "2025-01-01 00:00:00")] == 2
    assert got[("u1", "2025-01-01 00:00:20")] == 1
    assert got[("u2", "2025-01-01 00:00:01")] == 1


def test_stream_stream_join(spark, clip_dirs):
    """Audio stream ⋈ transcript stream on clip_id within the join
    window — every on-time clip finds its transcript exactly once."""
    from dataflow_flex_templates_spark.streaming.windows import clip_transcript_join
    from dataflow_flex_templates_spark.testing.clips import clips_spark_schema
    import pyspark.sql.functions as F

    root, inp, pdf = clip_dirs
    audio = (spark.readStream.schema(clips_spark_schema())
             .option("maxFilesPerTrigger", 3).parquet(inp)
             .drop("transcript"))
    scripts = (spark.readStream.schema(clips_spark_schema())
               .option("maxFilesPerTrigger", 3).parquet(inp)
               .select("clip_id", "transcript", "event_time"))
    joined = clip_transcript_join(
        audio.withColumn("transcript", F.lit(None).cast("string")).drop("transcript"),
        scripts, watermark="120 seconds", join_window="5 minutes")
    out_dir = os.path.join(root, "join_out")
    q = (joined.writeStream.outputMode("append")
         .format("parquet").option("path", out_dir)
         .option("checkpointLocation", os.path.join(root, "join_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)
    got = spark.read.parquet(out_dir).toPandas()
    # self-join on identical streams: every (row, matching row) pair within
    # the window; for unique clip_ids exactly 1 match, dups → n^2 pairs
    counts = pdf.groupby("clip_id").size()
    expected = int((counts ** 2).sum())
    assert len(got) == expected


def test_lww_dedup_state(spark, tmp_path):
    """applyInPandasWithState keyed LWW: one winner per key, latest
    event_time wins, state evicted by watermark timeout."""
    from dataflow_flex_templates_spark.streaming.dedup_state import lww_dedup_stream
    from dataflow_flex_templates_spark.testing.clips import clips_spark_schema

    root = str(tmp_path)
    pdf = make_clips_pdf(300, seed=5, dup_rate=0.05, late_rate=0.0,
                         max_dur_ms=400)
    inp = os.path.join(root, "lww_in")
    chunk = len(pdf) // 6 + 1
    for i in range(0, len(pdf), chunk):
        spark.createDataFrame(pdf.iloc[i:i + chunk],
                              schema=clips_spark_schema()) \
            .coalesce(1).write.mode("append").parquet(inp)
    stream = (spark.readStream.schema(clips_spark_schema())
              .option("maxFilesPerTrigger", 2).parquet(inp)
              .select("clip_id", "transcript", "event_time")
              .withWatermark("event_time", "60 seconds"))
    winners = lww_dedup_stream(stream, "clip_id")
    out_dir = os.path.join(root, "lww_out")
    # update-mode emission → sink via foreachBatch (parquet format only
    # supports append); mirrors how the real job consumes the state op
    def write(df, bid):
        df.write.mode("append").parquet(out_dir)

    q = (winners.writeStream.outputMode("update")
         .foreachBatch(write)
         .option("checkpointLocation", os.path.join(root, "lww_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)
    got = spark.read.parquet(out_dir).toPandas()
    # update-style emission: a key may be emitted once per batch it
    # improves in; final winner per key = max event_time row
    final = (got.sort_values("event_time").groupby("clip_id").tail(1))
    oracle = (pdf.sort_values("event_time").groupby("clip_id").tail(1))
    assert len(final) == pdf["clip_id"].nunique()
    merged = final.merge(oracle, on="clip_id", suffixes=("_got", "_want"))
    assert (merged["transcript_got"] == merged["transcript_want"]).all()


def test_iceberg_merge_sql_generation():
    """Cluster-path Iceberg sink: the MERGE INTO statement realizes W2/W3
    (CypherGenerator MERGE semantics) with the LWW order guard."""
    from dataflow_flex_templates_spark.streaming.iceberg import merge_into_sql

    sql = merge_into_sql("cat.db.nodes", "src_v", ["clip_id"],
                         ["codec", "rms"], order_col="__seq__")
    assert "MERGE INTO cat.db.nodes t USING src_v s" in sql
    assert "t.`clip_id` = s.`clip_id`" in sql
    assert "WHEN MATCHED AND s.`__seq__` >= t.`__seq__` THEN UPDATE" in sql
    assert "WHEN NOT MATCHED THEN INSERT (`clip_id`, `codec`, `rms`)" in sql

    plain = merge_into_sql("t1", "v", ["a", "b"], ["c"])
    assert "WHEN MATCHED THEN UPDATE SET t.`c` = s.`c`" in plain


class _FakeDF:
    def __init__(self, rows):
        self._rows = rows

    def limit(self, n):
        return _FakeDF(self._rows[:n])

    def count(self):
        return len(self._rows)


class _FakeConf:
    def __init__(self, log):
        self._log = log

    def set(self, k, v):
        self._log.append(("conf_set", k, v))

    def unset(self, k):
        self._log.append(("conf_unset", k))


class _FakeSparkWapCatalog:
    """Just enough of a SparkSession + Iceberg catalog to observe the
    single-commit protocol: MERGE while spark.wap.id is set records a
    snapshot carrying wap.id in its summary; `<table>.snapshots` with
    the summary['wap.id'] predicate replays those records."""

    def __init__(self):
        self.log: list = []
        self.conf = _FakeConf(self.log)
        self.snapshots: list[str] = []  # committed wap ids
        self._wap: str | None = None

    def sql(self, q: str):
        self.log.append(("sql", q))
        if "FROM cat.db.nodes.snapshots" in q:
            import re

            m = re.search(r"summary\['wap\.id'\] = '(\d+)'", q)
            hit = m and m.group(1) in self.snapshots
            return _FakeDF([1] if hit else [])
        if q.startswith("MERGE INTO"):
            # the commit inherits the session's current wap id
            cur = [e for e in self.log if e[0] == "conf_set"
                   and e[1] == "spark.wap.id"]
            unset = [e for e in self.log if e[0] == "conf_unset"]
            assert len(cur) > len(unset), \
                "MERGE must run while spark.wap.id is set"
            self.snapshots.append(cur[-1][2])
            return _FakeDF([])
        raise AssertionError(f"unexpected SQL in wap protocol: {q}")


def test_iceberg_wap_single_commit_protocol():
    """protocol='wap': one atomic MERGE carries the batch id in its own
    snapshot summary — no log INSERT, no crash window — and a replayed
    batch id is detected from the snapshots metadata table."""
    from dataflow_flex_templates_spark.streaming.iceberg import (
        IcebergMergeSink,
    )

    sink = IcebergMergeSink("cat.db.nodes", ["clip_id"],
                            order_col="__seq__", protocol="wap")
    fake = _FakeSparkWapCatalog()

    class _BatchDF:
        sparkSession = fake
        columns = ["clip_id", "codec", "__seq__"]

        def createOrReplaceTempView(self, name):
            fake.log.append(("view", name))

    sink(_BatchDF(), 7)
    sqls = [q for op, q in [e[:2] for e in fake.log] if op == "sql"]
    assert len([q for q in sqls if q.startswith("MERGE INTO")]) == 1
    assert not any("INSERT INTO" in q for q in sqls), \
        "single-commit protocol must not write a side log"
    assert fake.snapshots == ["7"]
    # conf hygiene: wap.id unset after the commit
    assert ("conf_unset", "spark.wap.id") in fake.log

    # replay: batch 7 is found in the snapshot summaries and skipped
    class _ReplayDF(_BatchDF):
        class _W:
            def format(self, f):
                fake.log.append(("noop_write", f))
                return self

            def mode(self, m):
                return self

            def save(self):
                return None

        write = _W()

    sink(_ReplayDF(), 7)
    assert fake.snapshots == ["7"], "replay must not re-MERGE"
    assert ("noop_write", "noop") in fake.log


def test_exactly_once_crash_between_data_and_commit(spark, tmp_path):
    """Kill window in the filesystem sink: crash AFTER the batch data
    write but BEFORE the atomic commit-record publish. On retry the
    batch dir is clobbered (mode=overwrite) and committed once — the
    merged table equals the clean run's, with a single commit record."""
    import os

    from dataflow_flex_templates_spark.streaming.sink import (
        ExactlyOnceTable,
    )

    rows = [("k1", "a", 1), ("k2", "b", 2), ("k1", "c", 3)]
    df = spark.createDataFrame(rows, "k string, v string, __seq__ long")

    t = ExactlyOnceTable(str(tmp_path / "t"), key_cols=["k"],
                         order_col="__seq__")

    real_rename = os.rename
    boom = {"armed": True}

    def crashing_rename(src, dst):
        if boom["armed"] and "_commits" in dst:
            boom["armed"] = False
            raise OSError("injected crash before commit publish")
        return real_rename(src, dst)

    os.rename = crashing_rename
    try:
        with pytest.raises(OSError, match="injected crash"):
            t.write_batch(df, 0)
    finally:
        os.rename = real_rename

    # data landed but the batch is NOT committed — exactly the window
    assert not t.is_committed(0)
    assert os.path.isdir(str(tmp_path / "t" / "data" / "batch=0"))

    # foreachBatch retry re-runs the same batch id
    t.write_batch(df, 0)
    assert t.committed_batches() == [0]
    got = {r["k"]: r["v"] for r in t.read_merged(spark).collect()}
    assert got == {"k1": "c", "k2": "b"}


def test_salted_repartition_spreads_skewed_file_layout(spark, tmp_path):
    """Skew knob (north_rule): a single-file input (the degenerate
    hot-partition layout) decodes in ~1 task without salting; with
    salt_buckets=8 on codec the rows spread across ≥6 tasks."""
    import pyspark.sql.functions as F

    from dataflow_flex_templates_spark.streaming.clip_graph import (
        clip_graph_spec,
        prepare_clips,
    )
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    inp = str(tmp_path / "one_file")
    make_clips_df(spark, 400, seed=8).coalesce(1).write.parquet(inp)
    df = spark.read.parquet(inp)

    def n_parts(tag, **salt):
        job = SpecStreamJob(
            clip_graph_spec(), input_dir=inp,
            input_schema=clips_spark_schema(),
            output_dir=str(tmp_path / f"o_{tag}"),
            checkpoint_dir=str(tmp_path / f"c_{tag}"),
            prepare_fn=prepare_clips, prepare_preserves="*", **salt)
        return (job.prepare_batch(df)
                .select(F.spark_partition_id().alias("p"))
                .groupBy("p").count().count())

    assert n_parts("base") <= 2        # one small file → ~one split
    # salt spreads the hot layout
    assert n_parts("salted", salt_buckets=8, salt_cols=("codec",)) >= 6


def test_late_rows_dropped_and_counted(spark, tmp_path):
    """Rows later than the watermark are dropped by the stateful agg
    AND surfaced in the metrics summary (north_rule: 'late rows
    dropped + counted')."""
    from dataflow_flex_templates_spark.streaming.metrics import (
        ProgressRecorder,
    )
    from dataflow_flex_templates_spark.streaming.windows import tumbling_agg
    from dataflow_flex_templates_spark.testing.clips import clips_spark_schema

    root = str(tmp_path)
    pdf = make_clips_pdf(300, seed=17, dup_rate=0.0, late_rate=0.1,
                         watermark_s=30, max_step_ms=2000, max_dur_ms=400)
    inp = os.path.join(root, "in")
    chunk = len(pdf) // 6 + 1
    for i in range(0, len(pdf), chunk):
        import pyspark.sql  # noqa: F401

        from dataflow_flex_templates_spark.session import get_spark  # noqa

        spark.createDataFrame(pdf.iloc[i:i + chunk],
                              schema=clips_spark_schema()) \
            .coalesce(1).write.mode("append").parquet(inp)

    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        stream = (spark.readStream.schema(clips_spark_schema())
                  .option("maxFilesPerTrigger", 1).parquet(inp))
        agg = tumbling_agg(stream, "event_time", "10 seconds", ["codec"],
                           {"n": "count(*)"}, watermark="30 seconds")
        q = (agg.writeStream.outputMode("update")
             .foreachBatch(lambda df, bid: df.write.format("noop")
                           .mode("overwrite").save())
             .option("checkpointLocation", os.path.join(root, "ckpt"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(600), "stream not drained in 600s"
        # Harvest progress synchronously from the query handle:
        # listener-bus delivery can lag >15s under host load (the
        # test_metrics_summary flake's root cause) — never poll the
        # async listener for a drained run's metrics.
        rec.absorb([json.loads(p.json) for p in q.recentProgress])
        s = rec.summary()
        # ~10% of rows are generated far beyond the watermark
        assert s["rows_dropped_by_watermark"] > 0, s
    finally:
        spark.streams.removeListener(rec)


def test_compaction_and_time_travel(spark, tmp_path):
    """Small-file compaction (Iceberg rewrite_data_files analogue):
    folding committed batches into one pre-merged base changes neither
    the merged view nor exactly-once replay skipping; later batches
    still override per key; time travel reads the table as of a batch;
    travel below the compaction horizon is refused."""
    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.streaming.sink import (
        ExactlyOnceTable,
    )

    t = ExactlyOnceTable(str(tmp_path / "tbl"), key_cols=["k"],
                         order_col="seq")

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v string, seq long")

    t.write_batch(batch([("a", "v0", 0), ("b", "v0", 1)]), 0)
    t.write_batch(batch([("a", "v1", 10), ("c", "v1", 11)]), 1)
    t.write_batch(batch([("b", "v2", 20)]), 2)

    before = sorted(tuple(r) for r in t.read_merged(spark).collect())
    asof1 = sorted(tuple(r) for r in
                   t.read_merged(spark, as_of=1).collect())
    assert asof1 == [("a", "v1"), ("b", "v0"), ("c", "v1")]

    files_before = sum(
        1 for _, _, fs in __import__("os").walk(t.path)
        for f in fs if f.endswith(".parquet"))
    manifest = t.compact(spark, partitions=1)
    assert manifest["through"] == 2
    files_after = sum(
        1 for _, _, fs in __import__("os").walk(t.path)
        for f in fs if f.endswith(".parquet"))
    assert files_after < files_before

    # merged view identical after compaction
    assert sorted(tuple(r) for r in t.read_merged(spark).collect()) == before

    # exactly-once replay of a covered batch id is still a no-op
    rec = t.write_batch(batch([("a", "SHOULD_NOT_APPEAR", 99)]), 1)
    assert rec["batch_id"] == 1  # returned the original commit record
    assert sorted(tuple(r) for r in t.read_merged(spark).collect()) == before

    # a genuinely new batch still overrides per key
    t.write_batch(batch([("a", "v3", 30)]), 3)
    got = dict((r["k"], r["v"]) for r in t.read_merged(spark).collect())
    assert got == {"a": "v3", "b": "v2", "c": "v1"}

    # time travel below the compaction horizon is refused loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="compaction horizon"):
        t.read_merged(spark, as_of=1)
    # ...but at/above the horizon it works
    asof3 = dict((r["k"], r["v"]) for r in
                 t.read_merged(spark, as_of=3).collect())
    assert asof3 == {"a": "v3", "b": "v2", "c": "v1"}

    # second compaction folds the base + new batch
    t.compact(spark, partitions=1)
    assert t.base_info()["through"] == 3
    got2 = dict((r["k"], r["v"]) for r in t.read_merged(spark).collect())
    assert got2 == got


def test_lineage_surface(spark, tmp_path):
    """Per-partition lineage is queryable: one row per (batch,
    partition), row counts summing to the committed totals."""
    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.streaming.sink import (
        ExactlyOnceTable,
    )

    t = ExactlyOnceTable(str(tmp_path / "lt"), key_cols=["k"],
                         order_col="seq")
    t.write_batch(spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, seq long")
        .repartition(2), 0)
    t.write_batch(spark.createDataFrame(
        [("d", 4)], "k string, seq long"), 1)
    lin = t.lineage(spark)
    pdf = lin.toPandas()
    assert set(pdf["batch_id"]) == {0, 1}
    assert pdf["rows"].sum() == 4
    per_batch = pdf.groupby("batch_id")["rows"].sum().to_dict()
    assert per_batch == {0: 3, 1: 1}
    assert (lin.groupBy("batch_id").agg(F.sum("rows").alias("n"))
            .filter("n <= 0").count() == 0)


def test_windowed_topk_stream_equals_batch(spark, tmp_path):
    """Streaming heavy hitters: rank_topk applied per foreachBatch over
    the append-mode windowed-count stream equals the batch
    topk_per_window over the same (non-late) rows — valid because a
    watermark advance releases EVERY key of a closed window into the
    same micro-batch (per-window completeness, asserted per batch)."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.streaming.windows import (
        rank_topk,
        topk_per_window,
    )
    from dataflow_flex_templates_spark.testing.clips import clips_spark_schema

    pdf = make_clips_pdf(400, seed=13, dup_rate=0.0, late_rate=0.0,
                         watermark_s=30, max_step_ms=2000, max_dur_ms=400)
    inp = os.path.join(str(tmp_path), "in")
    chunk = len(pdf) // 6 + 1
    for i in range(0, len(pdf), chunk):
        spark.createDataFrame(pdf.iloc[i:i + chunk],
                              schema=clips_spark_schema()) \
            .coalesce(1).write.mode("append").parquet(inp)

    stream = (spark.readStream.schema(clips_spark_schema())
              .option("maxFilesPerTrigger", 2).parquet(inp))
    counts = topk_per_window(stream, "event_time", "10 seconds",
                             "codec", 2, watermark="30 seconds")
    out = os.path.join(str(tmp_path), "out")
    completeness: list[tuple] = []

    def sink(batch_df, bid):
        # per-window completeness: a window_start seen in an earlier
        # batch must never reappear (its keys all emitted together)
        for r in batch_df.select("window_start").distinct().collect():
            completeness.append((r["window_start"], bid))
        rank_topk(batch_df, "codec", 2).write.mode("append").parquet(out)

    q = (counts.writeStream.outputMode("append").foreachBatch(sink)
         .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    seen: dict = {}
    for ws, bid in completeness:
        assert seen.setdefault(ws, bid) == bid, \
            f"window {ws} split across batches {seen[ws]} and {bid}"

    got = sorted((r["window_start"], r["codec"], r["n"], r["rank"])
                 for r in spark.read.parquet(out).collect())
    batch_df = spark.createDataFrame(pdf, schema=clips_spark_schema())
    want_all = topk_per_window(batch_df, "event_time", "10 seconds",
                               "codec", 2)
    # append mode withholds windows the final watermark never closed;
    # compare only emitted windows, and require a healthy emitted set
    emitted = {ws for ws, _, _, _ in got}
    want = sorted((r["window_start"], r["codec"], r["n"], r["rank"])
                  for r in want_all.collect()
                  if r["window_start"] in emitted)
    assert len(got) > 10
    assert got == want


def test_read_changes_cdc(spark, tmp_path):
    """Changelog between snapshots: inserts, update pre/post images,
    an identical rewrite emits NOTHING, and applying the changelog to
    the before-snapshot reconstructs the after-snapshot exactly."""
    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.streaming.sink import (
        ExactlyOnceTable,
    )

    tbl = ExactlyOnceTable(str(tmp_path / "t"), ["k"])
    mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
    tbl.write_batch(mk([(i, f"v{i}") for i in range(1, 7)]), 0)
    tbl.write_batch(mk([(5, "V5"), (6, "V6"),      # updates
                        (7, "v7"), (8, "v8"),      # inserts
                        (4, "v4")]), 1)            # identical rewrite
    tbl.write_batch(mk([(9, "v9"), (5, "W5")]), 2)

    ch = {(r["k"], r["_change_type"]): r["v"]
          for r in tbl.read_changes(spark, 0, 1).collect()}
    assert ch == {(7, "insert"): "v7", (8, "insert"): "v8",
                  (5, "update_before"): "v5", (5, "update_after"): "V5",
                  (6, "update_before"): "v6", (6, "update_after"): "V6"}

    # to_batch defaults to latest (batch 2): key 5 diff is v5 → W5
    ch2 = {(r["k"], r["_change_type"]): r["v"]
           for r in tbl.read_changes(spark, 0).collect()}
    assert ch2[(5, "update_after")] == "W5"
    assert (9, "insert") in ch2

    # reconstruction: before + changelog == after
    changes = tbl.read_changes(spark, 0)
    before = tbl.read_merged(spark, as_of=0)
    gone = changes.filter(
        F.col("_change_type").isin("update_before", "delete")).select("k")
    add = (changes.filter(F.col("_change_type")
                          .isin("insert", "update_after"))
           .select("k", "v"))
    rebuilt = before.join(gone, "k", "anti").unionByName(add)
    after = tbl.read_merged(spark)
    assert (sorted(map(tuple, rebuilt.collect()))
            == sorted(map(tuple, after.collect())))

    # empty delta → zero rows, schema intact
    assert tbl.read_changes(spark, 2).count() == 0
    assert tbl.read_changes(spark, 2).columns == ["k", "v", "_change_type"]


def test_audio_health_windowed_stream_equals_batch(spark, tmp_path):
    """Corpus-health drift per event-time window: the audio_health
    counters (pandas-UDF decode) aggregate under a watermark in
    streaming exactly as in batch — the health monitor a 10^12-clip
    ingest pipeline runs continuously."""
    import os

    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.functions.audio import (
        with_audio_health,
    )
    from dataflow_flex_templates_spark.streaming.windows import (
        tumbling_agg,
    )
    from dataflow_flex_templates_spark.testing.clips import (
        clips_spark_schema,
        make_health_clips_pdf,
    )

    pdf = make_health_clips_pdf(60)
    inp = os.path.join(str(tmp_path), "in")
    chunk = len(pdf) // 4 + 1
    for i in range(0, len(pdf), chunk):
        spark.createDataFrame(pdf.iloc[i:i + chunk],
                              schema=clips_spark_schema()) \
            .coalesce(1).write.mode("append").parquet(inp)

    aggs = {
        "n": "count(*)",
        "clipped_total": "sum(clipped_samples)",
        "clipping_clips": "sum(cast(clipping as long))",
        "dropout_clips": "sum(cast(dropout as long))",
        "dc_clips": "sum(cast(dc_bias as long))",
    }

    def drift(df):
        return tumbling_agg(with_audio_health(df), "event_time",
                            "10 seconds", [], aggs,
                            watermark="20 seconds")

    stream = (spark.readStream.schema(clips_spark_schema())
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = os.path.join(str(tmp_path), "out")
    q = (drift(stream).writeStream.outputMode("append")
         .foreachBatch(lambda b, _:
                       b.write.mode("append").parquet(out))
         .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    got = sorted(tuple(r) for r in spark.read.parquet(out)
                 .select("window_start", *aggs).collect())
    emitted = {g[0] for g in got}
    assert len(emitted) >= 3          # several windows actually closed
    batch = spark.createDataFrame(pdf, schema=clips_spark_schema())
    want = sorted(tuple(r) for r in drift(batch)
                  .select("window_start", *aggs).collect()
                  if r["window_start"] in emitted)
    assert got == want
    # ground truth drift: exactly 15 of each defect class overall
    full = {r["window_start"]: r for r in drift(batch).collect()}
    assert sum(r["clipping_clips"] for r in full.values()) == 15
    assert sum(r["dropout_clips"] for r in full.values()) == 15
    assert sum(r["dc_clips"] for r in full.values()) == 15


def test_expire_commits_bounds_log_and_keeps_exactly_once(spark, tmp_path):
    """Commit-log expiration (Iceberg expire_snapshots analogue):
    markers below the compaction horizon fold into one watermark
    record; reads, replay skipping, totals and changelogs survive;
    expiring before compaction or reading changes below the watermark
    is refused."""
    import os as _os

    import pytest as _pytest

    from dataflow_flex_templates_spark.streaming.sink import (
        ExactlyOnceTable,
    )

    t = ExactlyOnceTable(str(tmp_path / "tbl"), key_cols=["k"],
                         order_col="seq")

    def batch(rows):
        return spark.createDataFrame(rows, "k string, v string, seq long")

    with _pytest.raises(ValueError, match="before compact"):
        t.expire_commits()

    t.write_batch(batch([("a", "v0", 0), ("b", "v0", 1)]), 0)
    t.write_batch(batch([("a", "v1", 10)]), 1)
    t.write_batch(batch([("c", "v1", 20)]), 2)
    total_before = t.total_committed_rows()
    merged_before = sorted(tuple(r) for r in t.read_merged(spark).collect())

    t.compact(spark, partitions=1)
    rec = t.expire_commits()
    assert rec["through"] == 2 and rec["n_expired"] == 3
    assert rec["expired_rows"] == total_before

    # marker files are gone; the log is now O(1)
    markers = [f for f in _os.listdir(t._commits_dir)
               if f.endswith(".json") and f[0].isdigit()]
    assert markers == []
    # ...but every guarantee holds:
    assert sorted(tuple(r)
                  for r in t.read_merged(spark).collect()) == merged_before
    assert t.total_committed_rows() == total_before
    for b in (0, 1, 2):
        assert t.is_committed(b)
    replay = t.write_batch(batch([("a", "SHOULD_NOT_APPEAR", 99)]), 1)
    assert replay["batch_id"] == 2  # summarized horizon record
    assert sorted(tuple(r)
                  for r in t.read_merged(spark).collect()) == merged_before

    # new work after expiry: commit, changelog from the horizon, then a
    # second compact+expire cycle accumulates monotone counters
    t.write_batch(batch([("a", "v3", 30)]), 3)
    ch = {(r["k"], r["_change_type"]): r["v"]
          for r in t.read_changes(spark, from_batch=2).collect()}
    assert ch == {("a", "update_before"): "v1",
                  ("a", "update_after"): "v3"}
    with _pytest.raises(ValueError, match="expiration watermark"):
        t.read_changes(spark, from_batch=0)
    t.compact(spark, partitions=1)
    rec2 = t.expire_commits()
    assert rec2["through"] == 3 and rec2["n_expired"] == 4
    assert rec2["expired_rows"] == total_before + 1
    got = dict((r["k"], r["v"]) for r in t.read_merged(spark).collect())
    assert got == {"a": "v3", "b": "v0", "c": "v1"}


def test_run_debounce_kernel():
    """Closed-form recurrence cases incl. exact-boundary reopen and
    equal-timestamp ties."""
    from dataflow_flex_templates_spark.streaming.debounce import (
        run_debounce,
    )

    # cooldown 10: 0 emits, 5 suppressed, 10 emits (>= boundary),
    # 19 suppressed (vs last_emit 10), 20 emits
    ev = [(0, 1), (5, 2), (10, 3), (19, 4), (20, 5)]
    out, last = run_debounce(ev, 10)
    assert out == [(0, 1), (10, 3), (20, 5)] and last == 20
    # ties: first ordinal emits, second suppressed
    out, _ = run_debounce([(7, 1), (7, 2)], 10)
    assert out == [(7, 1)]
    # cooldown 0: everything emits; resumed state suppresses
    assert run_debounce([(1, 0), (2, 0)], 0)[0] == [(1, 0), (2, 0)]
    assert run_debounce([(3, 0)], 10, last_emit=0)[0] == []


def test_debounce_stream_equals_batch(spark, tmp_path):
    """Streaming debounce (watermark-gated buffer) emits exactly the
    batch recurrence over the same non-late rows — including
    out-of-order arrivals within the watermark that land in later
    files."""
    import os
    from datetime import datetime, timedelta, timezone

    import pandas as pd
    from pyspark.sql import types as T

    from dataflow_flex_templates_spark.streaming.debounce import (
        debounce_batch,
        debounce_stream,
    )

    schema = T.StructType([
        T.StructField("user", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("ord", T.LongType()),
    ])
    t0 = datetime(2025, 4, 1, tzinfo=timezone.utc)

    def ts(s):
        return t0 + timedelta(seconds=s)

    # u1 fires every 4s; cooldown 10s → emissions at 0,12,24,...
    # u2 has an out-of-order row (t=33 arrives before t=31)
    chunks = [
        [("u1", ts(0), 0), ("u1", ts(4), 1), ("u2", ts(2), 2)],
        [("u1", ts(8), 3), ("u1", ts(12), 4), ("u2", ts(33), 5)],
        [("u1", ts(16), 6), ("u2", ts(31), 7)],   # 31 after 33: disorder
        [("u1", ts(24), 8), ("u1", ts(20), 9)],
        [("u1", ts(1000), 10), ("u2", ts(1000), 11)],  # flush the tail
    ]
    inp = str(tmp_path / "in")
    for rows in chunks:
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["user", "event_time", "ord"]),
            schema=schema).coalesce(1).write.mode("append").parquet(inp)

    cooldown = 10_000_000
    batch_df = spark.read.parquet(inp)
    want = sorted(tuple(r) for r in debounce_batch(
        batch_df, "user", cooldown, ordinal_col="ord").collect())

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp)
              .withWatermark("event_time", "15 seconds"))
    out = str(tmp_path / "out")
    q = (debounce_stream(stream, "user", cooldown, ordinal_col="ord")
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    # the final flush rows themselves are never finalized (watermark
    # stops 15 s short) — compare on the finalized prefix
    want_final = [w for w in want if w[1] < ts(985).replace(tzinfo=None)]
    assert got == want_final
    assert len(got) >= 5


def test_run_bloom_dedup_kernel():
    """Kernel invariants: no false negatives (a key never emits twice),
    chunked feeding with carried words equals one-shot feeding, and a
    tiny filter forces deterministic false-positive suppression."""
    from dataflow_flex_templates_spark.streaming.bloom_dedup import (
        run_bloom_dedup,
    )

    items = sorted((ts, o, k) for o, (ts, k) in enumerate(
        (i * 7 % 97, i % 13) for i in range(200)))
    m_bits, k = 1 << 12, 4
    whole, _ = run_bloom_dedup(items, [0] * (m_bits // 64), m_bits, k)
    # no false negatives: at most one emission per key
    keys = [v for _, _, v in whole]
    assert len(keys) == len(set(keys))
    # chunked == whole when words carry over
    words = [0] * (m_bits // 64)
    chunked = []
    for lo in range(0, len(items), 37):
        em, words = run_bloom_dedup(items[lo:lo + 37], words, m_bits, k)
        chunked.extend(em)
    assert chunked == whole
    # 64-bit filter + many keys → some first occurrences suppressed,
    # identically on re-run (pure function of the sequence)
    tiny = [(i, i, i * 1_000_003) for i in range(300)]
    em1, _ = run_bloom_dedup(tiny, [0], 64, 4)
    em2, _ = run_bloom_dedup(tiny, [0], 64, 4)
    assert em1 == em2 and 0 < len(em1) < 300


def test_bloom_dedup_stream_equals_batch(spark, tmp_path):
    """Streaming bloom dedup (watermark-gated buffer, persistent words
    state) emits exactly the batch path's rows over the same finalized
    prefix — including duplicate keys split across micro-batches and
    out-of-order arrivals within the watermark."""
    import os
    from datetime import datetime, timedelta, timezone

    import pandas as pd
    from pyspark.sql import types as T

    from dataflow_flex_templates_spark.streaming.bloom_dedup import (
        bloom_dedup_batch,
        bloom_dedup_stream,
    )

    schema = T.StructType([
        T.StructField("key", T.LongType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("ord", T.LongType()),
    ])
    t0 = datetime(2025, 4, 1, tzinfo=timezone.utc)

    def ts(s):
        return t0 + timedelta(seconds=s)

    # keys 1..6 with duplicates spread across chunks; key 2's true
    # first occurrence (t=5) arrives in a LATER file than its t=9 row
    chunks = [
        [(1, ts(0), 0), (2, ts(9), 1), (3, ts(2), 2)],
        [(1, ts(12), 3), (2, ts(5), 4), (4, ts(14), 5)],
        [(5, ts(30), 6), (3, ts(31), 7), (1, ts(33), 8)],
        [(6, ts(50), 9), (2, ts(51), 10)],
        [(1, ts(1000), 11), (6, ts(1000), 12)],  # flush the tail
    ]
    inp = str(tmp_path / "in")
    for rows in chunks:
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["key", "event_time", "ord"]),
            schema=schema).coalesce(1).write.mode("append").parquet(inp)

    kw = dict(event_time_col="event_time", ordinal_col="ord",
              m_bits=1 << 10, n_shards=4, k=4)
    batch_df = spark.read.parquet(inp)
    want = sorted(tuple(r) for r in bloom_dedup_batch(
        batch_df, "key", **kw).collect())
    # sanity: key 2 emits its t=5 row (event-time order, not arrival)
    k2 = [w for w in want if w[0] == 2]
    assert len(k2) == 1 and k2[0][1] == ts(5).replace(tzinfo=None)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp)
              .withWatermark("event_time", "15 seconds"))
    out = str(tmp_path / "out")
    q = (bloom_dedup_stream(stream, "key", **kw)
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    want_final = [w for w in want if w[1] < ts(985).replace(tzinfo=None)]
    assert got == want_final
    assert len(got) >= 5


def test_ewma_stream_equals_batch(spark, tmp_path):
    """Streaming EWMA (python kernel, watermark-gated state) is
    byte-equal to the batch Catalyst fold over the same non-late
    rows, with the carry surviving across micro-batches and
    out-of-order arrivals inside the watermark re-sorted."""
    import os
    from datetime import datetime, timedelta, timezone

    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dataflow_flex_templates_spark.operators.temporal import (
        ewma_smooth,
    )
    from dataflow_flex_templates_spark.streaming.ewma import ewma_stream

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
        T.StructField("v", T.LongType()),
    ])
    t0 = datetime(2025, 4, 1, tzinfo=timezone.utc)

    def ts(s):
        return t0 + timedelta(seconds=s)

    chunks = [
        [("a", ts(0), 10), ("a", ts(4), 20), ("b", ts(2), 100)],
        [("a", ts(8), 0), ("b", ts(33), 50)],
        [("a", ts(16), 40), ("b", ts(31), 0)],   # 31 after 33: disorder
        [("a", ts(24), 7), ("a", ts(20), 3)],    # disorder within key
        [("a", ts(1000), 1), ("b", ts(1000), 1)],  # flush the tail
    ]
    inp = str(tmp_path / "in")
    for rows in chunks:
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["k", "event_time", "v"]),
            schema=schema).coalesce(1).write.mode("append").parquet(inp)

    batch = spark.read.parquet(inp).withColumn(
        "o", F.unix_micros("event_time"))
    want = sorted(tuple(r) for r in ewma_smooth(
        batch, "k", "o", "v").collect())

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp)
              .withWatermark("event_time", "15 seconds"))
    out = str(tmp_path / "out")
    q = (ewma_stream(stream, "k", "v")
         .writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    got = sorted(
        (r["k"],
         int(r["event_time"].replace(tzinfo=timezone.utc).timestamp()
             * 1_000_000),
         r["value"], r["ewma_q"])
        for r in spark.read.parquet(out).collect())
    # flush rows are never finalized (watermark stops 15 s short)
    want_final = [w for w in want if w[1] < 985_000_000 + int(
        t0.timestamp() * 1_000_000)]
    assert got == want_final
    assert len(got) == 9


def test_scd2_incremental_equals_batch(spark):
    """The streaming fold's associativity law: folding ordered
    micro-batches through scd2_apply_batch (tails store + closed log)
    lands on EXACTLY the history scd2_history rebuilds from the full
    change stream — including runs that span batch boundaries
    (merge-into-tail), changes at a batch's first row (tail close),
    and keys untouched by a batch (tail carry-through). Driven at
    chunk sizes 1 (every row its own batch — worst case) and 4."""
    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.operators.relational import (
        scd2_history,
    )
    from dataflow_flex_templates_spark.streaming.scd2_stream import (
        scd2_apply_batch,
    )

    rows = [
        ("u1", 10, 1, "a"), ("u1", 20, 2, "a"), ("u1", 30, 3, "b"),
        ("u1", 40, 4, "b"), ("u1", 50, 5, "a"),
        ("u2", 10, 6, "x"), ("u2", 10, 7, "y"),
        ("u3", 5, 8, None), ("u3", 9, 9, None), ("u3", 12, 10, "z"),
    ]
    schema = "user string, ts long, eid long, st string"
    full = spark.createDataFrame(rows, schema)
    want = sorted(
        (tuple(r) for r in
         scd2_history(full, ["user"], "ts", ["st"], ["eid"]).collect()),
        key=repr)

    ordered = sorted(rows, key=lambda r: (r[1], r[2]))
    for chunk in (1, 4):
        tails = spark.createDataFrame(
            [], "user string, version int, st string, valid_from long")
        closed_all = []
        for i in range(0, len(ordered), chunk):
            b = spark.createDataFrame(ordered[i:i + chunk], schema)
            closed, tails = scd2_apply_batch(
                b, tails, ["user"], "ts", ["st"], ["eid"])
            closed_all.extend(tuple(r) for r in closed.collect())
            # materialize like a store (the driver row's parquet
            # round-trip); also breaks the growing lineage
            tails = spark.createDataFrame(
                tails.collect(), schema=tails.schema)
        got = sorted(
            (*c, 0) for c in closed_all)
        got += sorted(
            (r["user"], r["version"], r["st"], r["valid_from"],
             None, 1) for r in tails.collect())
        assert sorted(got, key=repr) == want, f"chunk={chunk}"


def test_cc_incremental_equals_batch(spark):
    """The incremental-CC fold's associativity law: folding pair
    micro-batches through cc_apply_batch (append-only node_labels +
    path-compressed rep_root) lands on EXACTLY the labels
    cluster_duplicates rebuilds from the full pair set. The fixture
    forces every store transition: cross-batch component merges, a
    NEW node becoming the new component minimum (old roots re-point),
    redelivered duplicate pairs (contract to loops, cost nothing),
    same-component pairs, and a final merge-of-merges. Chunk sizes 1
    (every pair its own batch — worst case), 4, and one-shot."""
    from dataflow_flex_templates_spark.operators.dedup import (
        cluster_duplicates,
    )
    from dataflow_flex_templates_spark.streaming.cc_stream import (
        cc_apply_batch,
        resolve_labels,
    )

    pairs = [
        (5, 6), (10, 11),      # two fresh components (roots 5, 10)
        (6, 10),               # cross-batch merge -> root 5
        (2, 11),               # new node IS the new min -> root 2
        (5, 6),                # redelivered duplicate: contracts away
        (20, 21), (22, 23),
        (21, 22),              # chain merge -> root 20
        (1, 23),               # late new min -> root 1
        (30, 31),              # untouched component
        (2, 30),               # merge comp(2) with comp(30) -> root 2
        (31, 20),              # merge-of-merges: everything -> root 1
        (6, 11),               # same-component pair: pure no-op
    ]
    schema = "id_a long, id_b long"
    full = spark.createDataFrame(pairs, schema)
    want = sorted(
        (r["id"], r["cluster_rep"])
        for r in cluster_duplicates(full).collect())

    for chunk in (1, 4, len(pairs)):
        node_labels = spark.createDataFrame([], "id long, first_rep long")
        rep_root = spark.createDataFrame([], "rep long, root long")
        for i in range(0, len(pairs), chunk):
            b = spark.createDataFrame(pairs[i:i + chunk], schema)
            new_rows, rep_root = cc_apply_batch(b, node_labels, rep_root)
            # materialize like a store (the driver row's parquet
            # round-trip); node_labels is append-only
            node_labels = spark.createDataFrame(
                node_labels.collect() + new_rows.collect(),
                schema=node_labels.schema)
            rep_root = spark.createDataFrame(
                rep_root.collect(), schema=rep_root.schema)
        got = sorted(
            (r["id"], r["cluster_rep"])
            for r in resolve_labels(node_labels, rep_root).collect())
        assert got == want, f"chunk={chunk}"
        # the forest is roots-sized and fully path-compressed: every
        # stored root is a FINAL component representative
        reps = {r["rep"]: r["root"] for r in rep_root.collect()}
        final = {cr for _, cr in want}
        assert set(reps.values()) <= final, f"chunk={chunk}"
        for rep, root in reps.items():
            assert reps.get(root, root) == root, f"chunk={chunk}"


def test_lsh_incremental_equals_batch(spark):
    """The streaming LSH fold's law: the union of pairs emitted across
    micro-batches (each pair exactly once, when its later doc arrives)
    == minhash_lsh_pairs over the full corpus — same signatures, same
    band hashes (shared band_buckets), same exact-Jaccard verify. The
    fixture has near-dup pairs inside one batch, across adjacent
    batches, and spanning the whole stream, plus a redelivered doc id
    (dropped: a document is signed exactly once)."""
    from dataflow_flex_templates_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from dataflow_flex_templates_spark.streaming.lsh_stream import (
        lsh_apply_batch,
    )

    base = ("the quick brown fox jumps over the lazy dog while "
            "the rain in spain stays mainly on the plain")
    docs = [
        (1, base),
        (2, base + " tonight"),                    # near-dup of 1
        (3, "completely different text about spark structured "
            "streaming state stores and watermarks"),
        (4, base.replace("quick", "swift")),       # near-dup of 1/2
        (5, "another unrelated document mentioning parquet row "
            "groups and bucketed joins"),
        (6, base),                                 # exact dup of 1
        (7, "completely different text about spark structured "
            "streaming state stores and watermark eviction"),  # ~3
        (2, "REDELIVERED id two with other text"),  # dropped
        (8, base + " tonight again"),              # ~1/2/4/6
    ]
    schema = "doc_id long, text string"
    # batch semantics: first occurrence of an id wins
    first = {}
    for i, t in docs:
        first.setdefault(i, t)
    full = spark.createDataFrame(sorted(first.items()), schema)
    want = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_pairs(full, threshold=0.5).collect())
    assert want, "fixture must produce near-dup pairs"
    assert any(a != 1 and b == 6 for a, b, _ in want) or any(
        a == 1 and b == 6 for a, b, _ in want)

    for chunk in (1, 4, len(docs)):
        buckets = spark.createDataFrame(
            [], "id long, band int, bh long")
        shingles = spark.createDataFrame(
            [], "id long, sh array<string>, sh_size int")
        got = []
        for i in range(0, len(docs), chunk):
            b = spark.createDataFrame(docs[i:i + chunk], schema)
            pairs, new_bk, new_sh = lsh_apply_batch(
                b, buckets, shingles, threshold=0.5)
            got.extend((r["id_a"], r["id_b"], r["jaccard"])
                       for r in pairs.collect())
            buckets = spark.createDataFrame(
                buckets.collect() + new_bk.collect(),
                schema=buckets.schema)
            shingles = spark.createDataFrame(
                shingles.collect() + new_sh.collect(),
                schema=shingles.schema)
        assert sorted(got) == want, f"chunk={chunk}"
        assert len(got) == len(set(got)), f"chunk={chunk}: dup emit"


def test_hll_incremental_equals_batch(spark):
    """The streaming-HLL fold's law: compacting the strict-increase
    upsert changelog over ANY batch split == hll_registers over the
    full input (MAX is associative; the per-row register derivation is
    deterministic). The fixture forces every transition: a register
    created, later raised by a different value, re-observed at a
    LOWER rho (no emission), and an identically re-delivered batch
    (zero upserts — redelivery contracts away)."""
    from dataflow_flex_templates_spark.operators.sketch import (
        hll_registers,
    )
    from dataflow_flex_templates_spark.streaming.hll_stream import (
        compact_log,
        hll_apply_batch,
    )

    rows = [("click", f"u{i}") for i in range(40)] \
        + [("view", f"u{i}") for i in range(15, 55)] \
        + [("click", f"u{i}") for i in range(20)]   # re-observations
    schema = "event_type string, user_id string"
    full = spark.createDataFrame(rows, schema)
    want = sorted(
        (r["event_type"], r["reg_idx"], r["max_rho"])
        for r in hll_registers(full, "user_id", ["event_type"],
                               p=5).collect())
    assert want, "fixture must populate registers"

    for chunk in (7, 25, len(rows)):
        log = spark.createDataFrame(
            [], "event_type string, reg_idx long, max_rho long")
        emitted = 0
        for i in range(0, len(rows), chunk):
            b = spark.createDataFrame(rows[i:i + chunk], schema)
            store = compact_log(log, ["event_type"])
            ups = hll_apply_batch(b, store, "user_id",
                                  ["event_type"], p=5)
            got_ups = ups.collect()
            emitted += len(got_ups)
            log = spark.createDataFrame(
                log.collect() + got_ups, schema=log.schema)
        got = sorted(
            (r["event_type"], r["reg_idx"], r["max_rho"])
            for r in compact_log(log, ["event_type"]).collect())
        assert got == want, f"chunk={chunk}"
        # boundedness: every emission was a strict increase, so the
        # changelog cannot exceed registers x (65-p) and in practice
        # stays near the register count
        assert emitted <= len(want) * (65 - 5), f"chunk={chunk}"

    # redelivery safety: folding the WHOLE input against its own
    # compacted log emits nothing
    store = compact_log(log, ["event_type"])
    assert hll_apply_batch(full, store, "user_id", ["event_type"],
                           p=5).count() == 0

    # register-schema clash guard
    import pytest as _pytest
    bad = full.withColumn("max_rho", full["user_id"])
    with _pytest.raises(ValueError, match="max_rho"):
        hll_apply_batch(bad, store, "user_id", ["event_type"], p=5)
