"""Spec-driven continuous pipeline: a JobSpec executed as ONE
Structured Streaming query.

This is the streaming twin of ``graph.build.run_job`` and the direct
realization of the north_star: the reference's JSON-job-spec-driven
row→graph-entity construction (GcpToNeo4j.run:164-295) re-expressed as
a continuous pipeline. Each micro-batch runs the SAME target compiler
(`plans.compiler.apply_target`) the batch engine uses — so batch and
stream are semantically identical by construction — and commits every
target through a batchId-idempotent exactly-once sink, node targets
before edge targets (D2, InputRefactoring.java:75-81) within the
micro-batch.

MERGE last-writer-wins ordering is event-time-dominant and fully
deterministic: the ordinal is

    unix_millis(event_time) * 2^20  +  pmod(xxhash64(all columns), 2^20)

so replays, restarts, and different parallelism levels commit
row-identical merged tables (the north_rule exactly-once contract).
``event_time_ordinal`` exposes the same expression for batch oracles.

Skew: per-row decode needs no co-location, so by default the batch is
not shuffled at all. ``salt_buckets``/``salt_cols`` spread a skewed
FILE layout (e.g. one giant file per hot codec) across tasks with a
salted repartition before the (expensive) prepare stage (SURVEY
§2.10); AQE handles residual imbalance.

The clip→graph flagship is ``streaming.clip_graph``'s spec, schema and
prepare stage run on this engine.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_flex_templates_spark.plans.compiler import (
    ORDINAL_COL,
    _typed_expr,
    apply_target,
    compile_target,
)
from dataflow_flex_templates_spark.spec.model import JobSpec, Target, TargetType
from dataflow_flex_templates_spark.spec.refactor import refactor_job_spec
from dataflow_flex_templates_spark.spec.validator import validate_job_spec
from dataflow_flex_templates_spark.streaming.metrics import ProgressRecorder
from dataflow_flex_templates_spark.streaming.sink import ExactlyOnceTable

#: Tie-break width: 2^20 hash buckets within one event-time millisecond.
_TIE_BITS = 20


def event_time_ordinal(df: DataFrame, time_col: str) -> DataFrame:
    """Attach the deterministic event-time-dominant LWW ordinal.

    Used identically by the streaming job and by batch oracles so both
    produce the same winners (SURVEY §7.3 deterministic tie-break).
    Millisecond resolution keeps the product within int64; ties inside
    one millisecond break on a content hash — deterministic under
    replay and any parallelism.
    """
    data_cols = [c for c in df.columns if c != ORDINAL_COL]
    return df.withColumn(
        ORDINAL_COL,
        F.unix_millis(F.col(time_col).cast("timestamp"))
        * F.lit(1 << _TIE_BITS).cast("long")
        + F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]),
                 F.lit(1 << _TIE_BITS)).cast("long"),
    )


def windowed_target_stream(
    df: DataFrame, target: Target, time_col: str
) -> tuple[DataFrame, list[str]]:
    """Compile a grouped+windowed target into a STATEFUL streaming
    aggregation plan (Catalyst streaming hash-agg, update mode).

    This is how the reference's only aggregation form — WHERE + GROUP
    BY all-mapped-fields + agg list (ModelUtils.getTargetSql:153-229) —
    becomes unbounded per the north_rule: the event-time window joins
    the natural key, state is evicted by the upstream watermark, and
    each trigger emits the UPDATED cumulative value for changed
    (window, key) groups. Merged with arrival-order LWW at the sink,
    the final table equals the batch GROUP BY per closed window.

    Returns (plan, merge_key_columns).
    """
    tr = target.transform
    w = tr.window
    if w is None:
        raise ValueError(
            f"grouped target {target.name!r} needs transform.window in "
            "streaming mode (batch GROUP BY over an unbounded stream is "
            "undefined; SURVEY §2.10)")
    if tr.where:
        df = df.filter(tr.where)
    if w.kind == "tumbling":
        wcol, wname = F.window(F.col(time_col), w.duration), "window"
    elif w.kind == "sliding":
        wcol = F.window(F.col(time_col), w.duration, w.slide)
        wname = "window"
    elif w.kind == "session":
        wcol = F.session_window(F.col(time_col), w.gap)
        wname = "session_window"
    else:
        raise ValueError(f"unknown window kind: {w.kind}")

    present = [f for f in target.mapped_fields if f in df.columns]
    g = df.groupBy(wcol, *[F.col(f) for f in present]).agg(
        *[F.expr(a.expr).alias(a.field) for a in tr.aggregations])
    g = g.select(
        F.col(f"{wname}.start").alias("window_start"),
        F.col(f"{wname}.end").alias("window_end"),
        *present, *[a.field for a in tr.aggregations],
    )
    ct = compile_target(target)
    exprs = [F.col("window_start"), F.col("window_end")]
    for m, name in ct.out_cols:
        exprs.append(_typed_expr(m).alias(name))
    keys = ["window_start"] + (
        ct.key_cols if target.target_type == TargetType.node
        else ct.src_key_cols + ct.tgt_key_cols)
    return g.select(*exprs), keys


class MultiQuery:
    """Handle over the job's streaming queries (row path + one per
    windowed target)."""

    def __init__(self, queries: list,
                 on_done: Callable[[], None] | None = None):
        self.queries = queries
        #: called once, when the run is over: stop(), an awaitTermination
        #: that saw every query end, or one that a failed query raised from
        self._on_done = on_done

    def _done(self) -> None:
        if self._on_done is not None:
            on_done, self._on_done = self._on_done, None
            on_done()

    @property
    def isActive(self) -> bool:  # noqa: N802 — mirrors StreamingQuery
        return any(q.isActive for q in self.queries)

    def awaitTermination(self, timeout_s: int | None = None):  # noqa: N802
        """Wait for every query; with a timeout, returns True only if
        ALL queries terminated within it (mirrors StreamingQuery's
        bool-on-timeout contract so callers can raise on partial runs).
        """
        import time

        deadline = None if timeout_s is None else time.monotonic() + timeout_s
        done = True
        try:
            for q in self.queries:
                remaining = (None if deadline is None
                             else max(0.1, deadline - time.monotonic()))
                finished = q.awaitTermination(remaining)
                if remaining is not None and not finished:
                    done = False
        except Exception:  # a failed query (StreamingQueryException)
            self._done()
            raise
        if done:
            self._done()
        return done if timeout_s is not None else None

    def stop(self) -> None:
        for q in self.queries:
            if q.isActive:
                q.stop()
        self._done()


class _ProgressTap:
    """A foreachBatch function that first records its query's previous
    batch (``lastProgress``) and then runs ``fn``. Every batch is thus
    recorded while the run lasts, however few of them Spark's progress
    ring (``spark.sql.streaming.numRecentProgressUpdates``) retains."""

    def __init__(self, fn: Callable[[DataFrame, int], None],
                 recorder: ProgressRecorder) -> None:
        self.fn = fn
        self.recorder = recorder
        self.query = None  # set by attach() once the query has started

    def attach(self, query):
        self.query = query
        return query

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        last = self.query.lastProgress if self.query is not None else None
        if last is not None:
            self.recorder.absorb([json.loads(last.json)])
        self.fn(df, batch_id)


class SpecStreamJob:
    """Run a JobSpec continuously over a streaming source.

    Parameters
    ----------
    spec:
        Parsed (unrefactored is fine) JobSpec. Exactly the same spec
        language the batch engine runs; every active target gets its
        own exactly-once output table under ``output_dir``.
    input_dir / input_schema:
        Streaming file source (parquet dir standing in for the Iceberg
        table; on a cluster this is ``readStream.format("iceberg")``).
    prepare_fn:
        Optional shared prefix applied once per micro-batch before the
        per-target plans (e.g. vectorized PCM decode + transcript
        normalization). The reference's shared-source reuse
        (GcpToNeo4j.java:197-202).
    prepare_preserves:
        Caller's declaration of which RAW input columns ``prepare_fn``
        passes through with values unchanged (``"*"`` = every surviving
        input column; dropping columns is fine, rewriting them in place
        is not). A windowed target may then skip the prepare stage
        (and its decode cost) when every column it references is
        preserved. Default ``()`` — never skip: a prepare_fn that
        rewrites a column in place (same name, new values) must not be
        silently bypassed by a column-presence heuristic.
    event_time_col:
        When present, LWW ordering is event-time-dominant (see
        ``event_time_ordinal``); otherwise arrival order per batch.
    """

    def __init__(
        self,
        spec: JobSpec,
        input_dir: str,
        input_schema: T.StructType,
        output_dir: str,
        checkpoint_dir: str,
        source_name: str | None = None,
        event_time_col: str | None = "event_time",
        watermark: str = "60 seconds",
        max_files_per_trigger: int = 4,
        salt_buckets: int = 0,
        salt_cols: tuple[str, ...] = (),
        prepare_fn: Callable[[DataFrame], DataFrame] | None = None,
        prepare_preserves: tuple[str, ...] | str = (),
        compact_every: int = 0,
        ignore_corrupt_files: bool = False,
        audit_dir: str | None = None,
        runtime_tokens: dict[str, str] | None = None,
        state_dedup_key: str | None = None,
        http_fn: Callable | None = None,
        join_input_dir: str | None = None,
        join_schema: T.StructType | None = None,
        join_window: str = "5 minutes",
    ):
        refactor_job_spec(spec, runtime_tokens)
        validate_job_spec(spec)
        self.spec = spec
        self.input_dir = input_dir
        self.input_schema = input_schema
        self.output_dir = output_dir
        self.checkpoint_dir = checkpoint_dir
        self.source_name = source_name or next(iter(spec.sources))
        self.event_time_col = event_time_col
        self.watermark = watermark
        self.max_files_per_trigger = max_files_per_trigger
        self.salt_buckets = salt_buckets
        self.salt_cols = salt_cols
        self.prepare_fn = prepare_fn
        self.prepare_preserves = prepare_preserves
        #: When > 0, fold the row-path tables' committed micro-batch
        #: files into the LWW-pre-merged base every N batches (the
        #: Iceberg rewrite_data_files cadence): a day of 5 s triggers
        #: is ~17k commits, and without periodic compaction read
        #: amplification grows O(batches). compact() is crash-safe and
        #: keeps commit markers, so exactly-once replay is unaffected.
        self.compact_every = compact_every
        #: Poison FILES (truncated/garbage parquet from a crashed
        #: upstream writer): when True the file source skips them with
        #: a warning instead of failing every micro-batch that lists
        #: them — the file-level sibling of the per-row poison
        #: tolerance in the decode UDFs. Default False: silently
        #: skipping input is a data-loss decision the operator must
        #: make explicitly.
        self.ignore_corrupt_files = ignore_corrupt_files
        self.audit_dir = audit_dir
        #: When set, compose the watermark-evicted keyed LWW state op
        #: (dedup_state.lww_dedup_stream, north_rule's "dedup state is a
        #: watermark-evicted keyed hash map") upstream of the row-target
        #: path: only keys whose winner changed reach the sink. Final
        #: merged tables are identical with or without it (the sink's
        #: MERGE applies the same (event_time, tie-break) order); the
        #: state op just cuts sink traffic on duplicate-heavy streams.
        #: Windowed agg targets keep the raw stream — winner re-emission
        #: would double-count inside aggregations.
        self.state_dedup_key = state_dedup_key
        self.http_fn = http_fn
        self.action_results: list[dict] = []
        self._recorder = None
        #: Optional second stream (transcripts): the north_rule's
        #: stateful clip↔transcript stream-stream join keyed on clip_id
        #: runs UPSTREAM of the target pipeline — joined rows flow into
        #: the same per-target plans. Both sides are watermarked; join
        #: state is bounded by watermark + join_window.
        self.join_input_dir = join_input_dir
        self.join_schema = join_schema
        self.join_window = join_window

        self.tables: dict[str, ExactlyOnceTable] = {}
        active = [t for t in spec.targets if t.active]
        #: row-level targets — foreachBatch MERGE path
        self._targets: list[Target] = []
        #: static frames for join-transform sources (filled in start())
        self._join_frames: dict[str, DataFrame] = {}
        #: grouped+windowed targets — stateful streaming agg queries
        self._win_targets: list[Target] = []
        for t in active:
            tr = t.transform
            if tr.union:
                raise ValueError(
                    f"target '{t.name}': union transforms are batch-only"
                    " — a static union would re-append its rows every"
                    " micro-batch; model multi-shard streams as multiple"
                    " input files/dirs instead")
            if tr.window is not None:
                self._win_targets.append(t)
                ct = compile_target(t)
                keys = ["window_start"] + (
                    ct.key_cols if t.target_type == TargetType.node
                    else ct.src_key_cols + ct.tgt_key_cols)
                # Arrival-order LWW: the LAST cumulative update per
                # (window, key) is the final windowed aggregate.
                self.tables[t.name] = ExactlyOnceTable(
                    os.path.join(output_dir, f"win_{t.name.lower()}"),
                    key_cols=keys)
                continue
            if tr.group or tr.aggregations:
                raise ValueError(
                    f"grouped target {t.name!r} needs transform.window "
                    "in streaming mode (SURVEY §2.10)")
            self._targets.append(t)
            ct = compile_target(t)
            keys = (ct.key_cols if t.target_type == TargetType.node
                    else ct.src_key_cols + ct.tgt_key_cols)
            kind = "nodes" if t.target_type == TargetType.node else "edges"
            self.tables[t.name] = ExactlyOnceTable(
                os.path.join(output_dir, f"{kind}_{t.name.lower()}"),
                key_cols=keys, order_col=ORDINAL_COL)

    # -- per-micro-batch ---------------------------------------------------

    def _raw_plan_safe(self, target: Target, raw_cols: list[str]) -> bool:
        """May this windowed target's plan read the RAW stream instead
        of prepare_fn's output?  True only when every raw column the
        target could reference (mapped fields, WHERE tokens, aggregate
        expression tokens) is declared preserved by the caller.  Token
        matching is conservative: a false positive (e.g. a SQL keyword
        that happens to name a raw column) merely forces the prepared
        path, never the unsafe one."""
        import re

        preserved = (set(raw_cols) if self.prepare_preserves == "*"
                     else set(self.prepare_preserves))
        tr = target.transform
        refs: set[str] = set(target.mapped_fields)
        for a in tr.aggregations:
            refs |= set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", a.expr))
        if tr.where:
            refs |= set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", tr.where))
        return (refs & set(raw_cols)) <= preserved

    def prepare_batch(self, batch_df: DataFrame) -> DataFrame:
        df = batch_df
        if self.salt_buckets > 1:
            salts = [F.col(c) for c in self.salt_cols]
            df = df.repartition(
                self.salt_buckets, *salts,
                F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                       F.lit(self.salt_buckets)))
        if self.event_time_col and self.event_time_col in df.columns:
            df = event_time_ordinal(df, self.event_time_col)
        if self.prepare_fn is not None:
            df = self.prepare_fn(df)
        return df

    def _write_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if all(t.is_committed(batch_id) for t in self.tables.values()):
            # restart replay — exactly-once skip of the table writes,
            # but the batch itself must still be consumed (Spark 4
            # state-store commit validation; see sink.write_batch)
            batch_df.write.format("noop").mode("overwrite").save()
            return
        prepared = self.prepare_batch(batch_df).persist()
        try:
            if self.audit_dir:  # W7 audit tee (GcsLogTransform.java:38-67)
                audit_path = os.path.join(self.audit_dir,
                                          f"batch={batch_id}")
                if self.spec.config.audit_format == "avro":
                    # avro_type=avro (GcsLogTransform.java:51) — public
                    # Avro container format, one file per partition.
                    # Idempotence: a foreachBatch retry must replace the
                    # batch dir, not append to it (the parquet branch
                    # gets this from mode('overwrite') + the committer).
                    from dataflow_flex_templates_spark.streaming.avro_io import (
                        write_avro_dir,
                    )

                    shutil.rmtree(audit_path, ignore_errors=True)
                    write_avro_dir(prepared, audit_path)
                else:
                    prepared.write.mode("overwrite").parquet(audit_path)
            # D2: spec.targets is nodes-first after refactor.
            cfg = self.spec.config
            for t in self._targets:
                inp = prepared
                if t.transform.join is not None:
                    from dataflow_flex_templates_spark.plans.compiler import (
                        apply_join,
                    )

                    j = t.transform.join
                    inp = apply_join(
                        inp, self._join_frames[j.with_source], j)
                out = apply_target(spark, inp, t, keep_ordinal=True)
                # W5 write-parallelism knob (CreateKvTransform analogue):
                # applied only when the spec sets it explicitly.
                key = ("node_write_parallelism"
                       if t.target_type == TargetType.node
                       else "edge_write_parallelism")
                par = (cfg.node_parallelism
                       if t.target_type == TargetType.node
                       else cfg.edge_parallelism)
                if cfg.wants(key) and par > 0:
                    out = out.repartition(par)
                self.tables[t.name].write_batch(out, batch_id)
            if (self.compact_every > 0
                    and (batch_id + 1) % self.compact_every == 0):
                for t in self._targets:
                    tbl = self.tables[t.name]
                    base = tbl.base_info()
                    # only when new batches accumulated past the base
                    if tbl.committed_batches() and (
                            base is None
                            or tbl.committed_batches()[-1]
                            > base["through"]):
                        tbl.compact(spark)
        finally:
            prepared.unpersist()

    # -- lifecycle ---------------------------------------------------------

    def read_stream(self, spark: SparkSession) -> DataFrame:
        reader = (spark.readStream
                  .schema(self.input_schema)
                  .option("maxFilesPerTrigger",
                          self.max_files_per_trigger))
        if self.ignore_corrupt_files:
            reader = reader.option("ignoreCorruptFiles", "true")
        df = reader.parquet(self.input_dir)
        if self.join_input_dir is not None:
            from dataflow_flex_templates_spark.streaming.windows import (
                clip_transcript_join,
            )

            scripts = (spark.readStream
                       .schema(self.join_schema)
                       .option("maxFilesPerTrigger",
                               self.max_files_per_trigger)
                       .parquet(self.join_input_dir))
            # the join applies watermarks to both sides itself
            return clip_transcript_join(
                df, scripts, watermark=self.watermark,
                join_window=self.join_window,
                time_col=self.event_time_col)
        if self.event_time_col and self.event_time_col in df.columns:
            df = df.withWatermark(self.event_time_col, self.watermark)
        return df

    def metrics_summary(self) -> dict | None:
        """Per-batch metrics summary (latency percentiles, input rows,
        late rows dropped by the watermark) of the latest run — None
        before the job has started. Complete once the run is over: the
        last batches' progress is taken when the queries end."""
        if self._recorder is None:
            return None
        return self._recorder.summary()

    def start(self, spark: SparkSession, available_now: bool = True
              ) -> "MultiQuery":
        from dataflow_flex_templates_spark.graph.actions import run_actions

        # Latency + late-drop accounting for every query this job
        # launches (it also drives the silent-data-loss warning in
        # run_to_completion), read from the queries' own handles: a
        # session-global listener would cost dozens of py4j calls per
        # progress event of every query in the session.
        rec = self._recorder = ProgressRecorder()

        # D1 preload phases before any query launches
        # (GcpToNeo4j.run:173; JobSpec.getPreloadActions:81-89).
        self.action_results += run_actions(
            spark, self.spec.actions, "start", self.http_fn)
        self.action_results += run_actions(
            spark, self.spec.actions, "sources", self.http_fn)

        # Join-transform sources (roadmap-item extension) read ONCE as
        # static frames → every declared join is a stream-static join.
        from dataflow_flex_templates_spark.sources.readers import (
            read_source,
        )

        self._join_frames = {}
        for t in self.spec.targets:
            j = t.transform.join
            if j is not None and j.with_source not in self._join_frames:
                # ordinal=False: a static dimension has no arrival
                # order to carry, and monotonically_increasing_id in
                # the joined subtree fails streaming analysis even
                # when pruned (the unsupported-ops check runs on the
                # analyzed plan, before column pruning)
                self._join_frames[j.with_source] = read_source(
                    spark, self.spec.sources[j.with_source],
                    ordinal=False)

        queries = []
        if self._targets:
            row_stream = self.read_stream(spark)
            if self.state_dedup_key:
                from dataflow_flex_templates_spark.streaming.dedup_state import (
                    lww_dedup_stream,
                )

                row_stream = lww_dedup_stream(
                    row_stream, self.state_dedup_key,
                    event_time_col=self.event_time_col)
            tap = _ProgressTap(self._write_batch, rec)
            writer = (row_stream.writeStream
                      .outputMode("update" if self.state_dedup_key
                                  else "append")
                      .foreachBatch(tap)
                      .option("checkpointLocation",
                              os.path.join(self.checkpoint_dir, "rows"))
                      .queryName(f"spec_stream_{self.source_name}"))
            if available_now:
                writer = writer.trigger(availableNow=True)
            queries.append(tap.attach(writer.start()))
        for t in self._win_targets:
            stream = self.read_stream(spark)
            if t.transform.join is not None:
                from dataflow_flex_templates_spark.plans.compiler import (
                    apply_join,
                )

                jw = t.transform.join
                stream = apply_join(
                    stream, self._join_frames[jw.with_source], jw)
            # Each windowed target is its own streaming query re-reading
            # the source; running the shared prepare stage (vectorized
            # PCM decode — the dominant cost) for a window that only
            # aggregates RAW columns would decode every payload twice.
            # The shortcut is gated on `prepare_preserves` (the caller's
            # guarantee those raw values survive prepare_fn unchanged) —
            # column PRESENCE alone cannot detect an in-place rewrite.
            if self.prepare_fn is not None and not self._raw_plan_safe(
                    t, stream.columns):
                plan, _keys = windowed_target_stream(
                    self.prepare_fn(stream), t, self.event_time_col)
            else:
                try:
                    plan, _keys = windowed_target_stream(
                        stream, t, self.event_time_col)
                except AnalysisException:
                    # a referenced column exists only post-prepare
                    if self.prepare_fn is None:
                        raise
                    plan, _keys = windowed_target_stream(
                        self.prepare_fn(stream), t, self.event_time_col)
            table = self.tables[t.name]

            def sink(df, bid, table=table):
                table.write_batch(df, bid)
                # same read-amplification bound as the row path: the
                # windowed tables' update-mode commits accumulate small
                # files just as fast
                if (self.compact_every > 0
                        and (bid + 1) % self.compact_every == 0):
                    base = table.base_info()
                    batches = table.committed_batches()
                    if batches and (base is None
                                    or batches[-1] > base["through"]):
                        table.compact(df.sparkSession)

            # Tumbling/sliding aggs emit cumulative UPDATEs (final LWW
            # merge = batch GROUP BY); session windows only support
            # APPEND — each session emits once when the watermark
            # closes it (sessions still open at end-of-stream stay in
            # state, the documented streaming semantics).
            mode = ("append" if t.transform.window.kind == "session"
                    else "update")
            tap = _ProgressTap(sink, rec)
            writer = (plan.writeStream
                      .outputMode(mode)
                      .foreachBatch(tap)
                      .option("checkpointLocation",
                              os.path.join(self.checkpoint_dir,
                                           f"win_{t.name.lower()}"))
                      .queryName(f"spec_stream_win_{t.name}"))
            if available_now:
                writer = writer.trigger(availableNow=True)
            queries.append(tap.attach(writer.start()))
        # the last batches' progress (the foreachBatch calls only ever
        # see the batch before theirs) once the run is over
        return MultiQuery(queries, on_done=lambda: rec.absorb(
            [json.loads(p.json) for q in queries for p in q.recentProgress]))

    def run_to_completion(self, spark: SparkSession, timeout_s: int = 600):
        from dataflow_flex_templates_spark.graph.actions import (
            run_actions,
            run_named_actions,
        )
        from dataflow_flex_templates_spark.plans.compiler import (
            make_valid_identifier,
        )

        q = self.start(spark, available_now=True)
        # Hard-fail on timeout: an unfinished availableNow run means the
        # merged tables are partial, and every downstream read (oracle
        # rows, named-barrier actions, metrics) would silently operate
        # on short data. Same contract as __spark_entry__._await_or_raise.
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise RuntimeError(
                f"SpecStreamJob: availableNow run timed out ({timeout_s} s)"
                " — refusing to treat partial target tables as complete")
        q.stop()  # takes the queries' last progress
        # Silent data loss is the #1 streaming footgun: if the watermark
        # dropped a meaningful share of input rows (out-of-order input
        # beyond the configured delay), say so loudly instead of
        # committing a quietly-short windowed table.
        s = self.metrics_summary()
        if s and s["input_rows"]:
            frac = s["rows_dropped_by_watermark"] / s["input_rows"]
            if frac > 0.01:
                import logging

                logging.getLogger(__name__).warning(
                    "SpecStreamJob: watermark dropped %d of %d input "
                    "rows (%.1f%%) as late — the input's event-time "
                    "disorder exceeds the '%s' watermark; windowed "
                    "targets are under-counted",
                    s["rows_dropped_by_watermark"], s["input_rows"],
                    100 * frac, self.watermark)
        # D1 named barriers: in a drained availableNow run every target
        # is complete; publish each merged table as a temp view and fire
        # its execute_after_name actions in D2 order (nodes first — the
        # spec is already nodes-first after refactor).
        for t in self.spec.targets:
            if not t.active or t.name not in self.tables:
                continue
            named = [a for a in self.spec.actions
                     if a.execute_after_name == t.name]
            if named:
                self.read_merged(spark, t.name).createOrReplaceTempView(
                    f"target_{make_valid_identifier(t.name)}")
                self.action_results += run_named_actions(
                    spark, self.spec.actions, t.name, self.http_fn)
        # post-load phases after all queries drained (D1: nodes/edges/
        # loads barriers collapse to completion of the run).
        for phase in ("nodes", "edges"):
            self.action_results += run_actions(
                spark, self.spec.actions, phase, self.http_fn)
        return q

    def read_merged(self, spark: SparkSession, target_name: str) -> DataFrame:
        return self.tables[target_name].read_merged(spark)

    # -- W8 reset (Neo4jConnection.resetDatabase:149-164) ------------------

    def reset(self) -> None:
        """Drop all committed output and the checkpoint — the analogue
        of the reference's ``CREATE OR REPLACE DATABASE`` reset_db."""
        import shutil

        for tbl in self.tables.values():
            shutil.rmtree(tbl.path, ignore_errors=True)
        shutil.rmtree(self.checkpoint_dir, ignore_errors=True)
        if self.audit_dir:
            shutil.rmtree(self.audit_dir, ignore_errors=True)
        for tbl in self.tables.values():
            tbl.__init__(tbl.path, tbl.key_cols, tbl.order_col)
