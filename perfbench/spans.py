"""Tracing for the traced run: span recorders wrapped around the
engine's public calls at runtime, and the staged plans that split one
clip's cost across layers.

The engine's source is not touched. ``SpanRecorder.install`` swaps in
wrappers for the duration of a ``with`` block and restores the
originals on exit. Spans stay in memory until the run writes its trace
artifact.
"""

from __future__ import annotations

import contextlib
import functools
import os
import threading
import time


class SpanRecorder:
    """In-memory spans: name, start, end, parent span and batch id. A
    span's parent is the innermost open span on the same thread; a
    span without its own batch id inherits its parent's."""

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next_id = 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str, batch_arg: int | None = None):
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = rec._stack()
            parent = stack[-1] if stack else None
            with rec._lock:
                sid = rec._next_id
                rec._next_id += 1
            batch = (args[batch_arg] if batch_arg is not None
                     and len(args) > batch_arg else
                     parent["batch_id"] if parent else None)
            span = {"id": sid, "name": name, "batch_id": batch,
                    "parent": parent["id"] if parent else None,
                    "thread": threading.get_ident(), "start": time.time()}
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span["end"] = time.time()
                stack.pop()
                with rec._lock:
                    rec.spans.append(span)

        return wrapper

    @contextlib.contextmanager
    def install(self):
        """Wrap the layer boundaries the benchmark traces:
        ``SpecStreamJob._write_batch`` (the per-batch root),
        ``SpecStreamJob.prepare_batch``, ``ExactlyOnceTable.write_batch``,
        ``apply_target`` as ``spec_stream`` references it, and
        ``graph.build.run_job``."""
        from dataflow_flex_templates_spark.graph import build
        from dataflow_flex_templates_spark.streaming import sink, spec_stream

        job_cls = spec_stream.SpecStreamJob
        patches = [
            (job_cls, "_write_batch", "spec_stream.batch", 2),
            (job_cls, "prepare_batch", "spec_stream.prepare_batch", None),
            (sink.ExactlyOnceTable, "write_batch", "sink.write_batch", 2),
            (spec_stream, "apply_target", "plans.apply_target", None),
            (build, "run_job", "graph.run_job", None),
        ]
        saved = []
        try:
            for owner, attr, name, batch_arg in patches:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(orig, name, batch_arg))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)


def noop_s(df) -> float:
    """Wall seconds to run ``df`` into the noop sink."""
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def staged_layers(spark, job, input_dir: str, rows: int, cores: int,
                  work_dir: str) -> dict:
    """Split one clip's cost on a static copy of the stream's input.

    Each stage adds one layer to the plan before it and writes to the
    noop sink; a layer's cost is its stage minus the previous one, as
    wall x cores / rows in microseconds. The Arrow boundary stage sends
    the payloads through a pandas UDF whose body ignores them.
    ``apply_target`` and the sink run over a persisted prepared frame so
    they pay no decode.
    ``sink.commit_ms`` is ``write_batch`` minus a plain parquet write
    of the same persisted frame (median of three pairs, summed over the
    row targets)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from dataflow_flex_templates_spark.functions.audio import (
        with_audio_features,
    )
    from dataflow_flex_templates_spark.streaming.sink import ExactlyOnceTable
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        apply_target,
    )
    from dataflow_flex_templates_spark.testing.clips import (
        clips_spark_schema,
    )

    @pandas_udf(T.LongType())
    def touch(b):
        # the payloads cross into Python; the body does no work on them
        return pd.Series(np.zeros(len(b), dtype=np.int64))

    def us(seconds: float) -> float:
        return seconds * cores * 1e6 / rows

    def best_of_two(df) -> float:
        # the less disturbed of two runs: layer costs are differences of
        # stages, and a one-off stall in either stage would swamp them
        return min(noop_s(df), noop_s(df))

    raw = spark.read.schema(clips_spark_schema()).parquet(input_dir)
    scan = best_of_two(raw)
    boundary = best_of_two(raw.withColumn("n", touch(F.col("bytes"))))
    decode = best_of_two(with_audio_features(raw))
    prepared = job.prepare_batch(raw).persist()
    t = time.perf_counter()
    prepared.count()
    prepare = time.perf_counter() - t

    apply_s = write_s = commit_s = 0.0
    outs = []
    try:
        for k, target in enumerate(tgt for tgt in job.spec.targets
                                   if tgt.active
                                   and tgt.transform.window is None):
            out = apply_target(spark, prepared, target, keep_ordinal=True)
            apply_s += noop_s(out)
            out = out.persist()
            out.count()
            outs.append(out)
            proto = job.tables[target.name]
            plain, full = [], []
            for rep in range(3):
                base = os.path.join(work_dir, f"stage_{k}_{rep}")
                t = time.perf_counter()
                out.write.mode("overwrite").parquet(base + "_plain")
                plain.append(time.perf_counter() - t)
                table = ExactlyOnceTable(base + "_table", proto.key_cols,
                                         proto.order_col)
                t = time.perf_counter()
                table.write_batch(out, 0)
                full.append(time.perf_counter() - t)
            write_s += sorted(full)[1]
            commit_s += sorted(full)[1] - sorted(plain)[1]
    finally:
        for out in outs:
            out.unpersist()
        prepared.unpersist()
    return {
        "sources.scan_us_per_clip": us(scan),
        "functions.arrow_boundary_us_per_clip": us(boundary - scan),
        "functions.audio_features_us_per_clip": us(decode - boundary),
        "spec_stream.prepare_us_per_clip": us(prepare - decode),
        "plans.apply_target_us_per_clip": us(apply_s),
        "sink.write_us_per_clip": us(write_s),
        "sink.commit_ms": commit_s * 1000.0,
    }


def kernel_us_per_clip(pool_sample) -> float:
    """``audio_features.func`` on a pinned 2,048-row pandas batch,
    without Spark: the host epoch sentinel. Median of three calls."""
    import statistics

    from dataflow_flex_templates_spark.functions.audio import audio_features

    b, c = pool_sample
    times = []
    for _ in range(3):
        t = time.perf_counter()
        audio_features.func(b, c)
        times.append(time.perf_counter() - t)
    return statistics.median(times) * 1e6 / len(b)
