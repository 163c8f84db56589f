"""One exactly-once runner for the streaming folds.

Every ``*_apply_batch`` fold in this package is a pure function of
(micro-batch, store) returning the batch's output and the next store.
:func:`run_fold` runs a streaming DataFrame through such a step and
commits each frame the step returns — outputs and store alike —
through the :class:`~.sink.ExactlyOnceTable` protocol, one keyless
table per frame under ``root/<name>``:

- a **snapshot** frame (tails, an open bin, a roots forest, a
  bounded sample) replaces the store each batch; it is read back from
  that one batch's data only;
- a **log** frame (emitted rows, an append-only store) is appended
  each batch; it is read back as every batch committed so far.

The fold's committed point is the smallest last-committed batch
across its frames, and a batch always reads the state as of the
batch before it. A crash between two frames' commit markers therefore
replays the batch against the same pre-batch state, and the frames
that already committed it skip their write (``write_batch``'s own
replay skip, which still consumes the batch, so stateful upstreams
stay valid). A replay of a fully committed batch writes nothing. A
restart reads the store from disk: nothing is kept in memory between
batches. This needs the step to be deterministic given (batch,
state), which every fold's docstring already requires.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping

from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame, SparkSession

from dataflow_flex_templates_spark.streaming.sink import ExactlyOnceTable

Step = Callable[[DataFrame, Mapping[str, DataFrame]], dict[str, DataFrame]]


def await_or_raise(q, name: str, timeout_s: int = 600) -> None:
    """awaitTermination with a hard failure on timeout: an availableNow
    query that hasn't finished means the sink parquet is partial —
    surfacing that as an explicit error beats an oracle hash mismatch
    downstream. The query is stopped on every exit path (finished,
    failed, timed out or interrupted)."""
    try:
        done = q.awaitTermination(timeout_s)
    finally:
        q.stop()
    if not done:
        raise RuntimeError(
            f"{name}: availableNow query timed out ({timeout_s} s) — "
            "refusing to read partial output")


class _State(dict):
    """The fold's frames as of one batch, each read on first access: a
    step that never looks at an output log never lists it."""

    def __init__(self, read: Callable[[str], DataFrame]):
        super().__init__()
        self._read = read

    def __missing__(self, name: str) -> DataFrame:
        self[name] = frame = self._read(name)
        return frame


def run_fold(spark: SparkSession, stream: DataFrame, root: str, step: Step,
             *, snapshots: dict[str, str] | None = None,
             logs: dict[str, str] | None = None) -> dict[str, DataFrame]:
    """Drain ``stream`` (``availableNow``) through ``step`` and return
    every frame as of the last committed batch.

    ``snapshots`` and ``logs`` map each frame name to its DDL schema.
    ``step(batch_df, state)`` gets the frames as of the previous batch
    (the empty declared schemas before the first one) and must return
    exactly one frame per declared name, of the declared schema;
    anything else raises ``ValueError``. The Spark checkpoint lives in
    ``root/_checkpoint``, so a second call on the same ``root``
    resumes where the first stopped. An exception raised inside a
    batch is re-raised here, after the query is stopped.
    """
    snapshots, logs = dict(snapshots or {}), dict(logs or {})
    if set(snapshots) & set(logs):
        raise ValueError(f"frames declared both snapshot and log: "
                         f"{sorted(set(snapshots) & set(logs))}")
    names = [*snapshots, *logs]
    empty = {n: spark.createDataFrame([], ddl)
             for n, ddl in {**snapshots, **logs}.items()}
    tables = {n: ExactlyOnceTable(os.path.join(root, n), key_cols=[])
              for n in names}

    def committed_point() -> int:
        return min((t.committed_batches() or [-1])[-1]
                   for t in tables.values())

    def state(point: int) -> _State:
        def read(name: str) -> DataFrame:
            if point < 0:
                return empty[name]
            if name in snapshots:
                return tables[name].read_batch(spark, point,
                                               empty[name].schema)
            # keyless, so the merged read is the whole log as of
            # ``point`` without the sink's order column
            return (tables[name].read_merged(spark, as_of=point)
                    .select(*empty[name].columns))
        return _State(read)

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        point = committed_point()
        if point < batch_id - 1:
            raise RuntimeError(
                f"{root}: frames committed through batch {point}, but "
                f"the stream is at batch {batch_id}")
        frames = step(batch_df, state(min(point, batch_id - 1)))
        if set(frames) != set(names):
            raise ValueError(f"{root}: step returned frames "
                             f"{sorted(frames)}, declared {sorted(names)}")
        for n in names:
            if _shape(frames[n]) != _shape(empty[n]):
                raise ValueError(f"{root}: frame {n!r} is "
                                 f"{_shape(frames[n])}, declared "
                                 f"{_shape(empty[n])}")
        for n in names:
            tables[n].write_batch(frames[n], batch_id)

    failure: list[BaseException] = []

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            fold_batch(batch_df, batch_id)
        except BaseException as e:
            failure.append(e)
            raise

    q = (stream.writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", os.path.join(root, "_checkpoint"))
         .trigger(availableNow=True).start())
    try:
        await_or_raise(q, root)
    except StreamingQueryException:
        if failure:
            raise failure[0] from None
        raise
    final = state(committed_point())
    return {n: final[n] for n in names}


def _shape(df: DataFrame) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
