"""Incremental (streaming) compaction triggering.

The batch planner (`operators/shard.py compaction_plan`) bins small
files into ~target-byte rewrite groups. On a continuous ingest
pipeline the file-metadata stream never ends — but a rewrite group's
membership is a pure function of the small-file byte PREFIX SUM (the
same observation that made `shard_stream` a |keys|-sized fold), and a
bin is IMMUTABLE the moment a later small file starts in a higher
bin: no future file can join it. So compaction can trigger
continuously — emit each group the micro-batch its bin closes, hand
it to a rewrite task, and never look at it again — instead of
re-planning the whole table.

Fold state per key (two pieces, both bounded):

- ``cum_bytes`` — the small-file byte prefix sum (one scalar; the
  exact `shard_stream` tails shape);
- the OPEN bin's file rows — bounded by the bin's byte capacity
  (< target + min_file_bytes bytes of files), NOT by stream length.

Per batch: bin the batch's small files through the IDENTICAL shared
algebra (`shard.with_running_bytes`, shifted by the tails offset —
boundaries cannot drift from the batch planner's), prepend the open
bin, emit every bin that closed (``rewrite`` if ≥ 2 files, else the
batch planner's singleton ``keep`` demotion), carry the still-open
bin. Healthy files (≥ ``min_file_bytes``) emit ``keep`` immediately —
they never enter state at all. ONE close reconciliation flushes the
last open bin per key (the only decision needing end-of-stream
knowledge — `conformance_stream`'s missing_right pattern).

Law: emissions(folds) ∪ close == ``compaction_plan`` over the union,
byte-for-byte at ANY batch split under ordered ingestion (the same
CDC-replay precondition as `shard_stream`/`scd2_stream`) — pinned at
chunk sizes 1/4/all by
tests/test_shard.py::test_compaction_incremental_equals_batch, which
is what lets the driver row `stream_compaction` share the batch row's
oracle.

Store shape #9 in the streaming-fold family: per-key scalar + open
group buffer (a bounded look-back window whose contents flush on a
data-defined boundary, not a time watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_flex_templates_spark.operators.shard import (
    _check_clash,
    checked_size,
    demote_singleton_groups,
    with_running_bytes,
)

# the demotion algebra is the batch planner's own helper — ONE
# definition, so the fold law cannot drift (shared-kernel pattern,
# like with_running_bytes for the binning itself)
_finish = demote_singleton_groups


def compaction_apply_batch(batch_df: DataFrame, tails: DataFrame,
                           open_bin: DataFrame, target_bytes: int,
                           min_file_bytes: int,
                           key_col: str = "source",
                           id_col: str = "file_id",
                           size_col: str = "size_bytes",
                           ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Fold one ordered micro-batch of file metadata.

    ``tails``: ``(key_col, cum_bytes)`` small-file prefix sums;
    ``open_bin``: ``(key_col, id_col, size_col, group_idx)`` — the
    not-yet-closed bin's files (both empty on the first batch).
    Returns ``(emitted, new_tails, new_open_bin)``; ``emitted`` has
    the batch planner's output shape (… ``group_idx``, ``action``)
    and contains the batch's healthy keeps plus every bin this batch
    CLOSED. Call :func:`compaction_finalize` once at end of stream.
    """
    if min_file_bytes > target_bytes:
        raise ValueError(
            f"min_file_bytes ({min_file_bytes}) must be <= "
            f"target_bytes ({target_bytes})")
    internal = ("action", "__base__", "__grp_n", "cum_bytes", "__open__",
                "__add__")
    _check_clash(batch_df, "group_idx", *internal)
    _check_clash(open_bin, *internal)
    batch_df = batch_df.withColumn(size_col,
                                   checked_size(batch_df, size_col))
    sz = F.col(size_col)
    # emitted/stored columns are exactly open_bin's schema (+ action):
    # callers carrying extra manifest metadata (path, etag, ...)
    # declare it in the open_bin store schema and it flows through
    # both the buffer and the emissions — mirroring the batch
    # planner, which passes every input column through.
    carry = [c for c in open_bin.columns if c != "group_idx"]
    missing = [c for c in carry if c not in batch_df.columns]
    if missing:
        raise ValueError(
            f"open_bin columns {missing} absent from the batch — the "
            f"store schema must be batch columns + group_idx")
    healthy = (batch_df.select(*carry)
               .where(sz >= F.lit(int(min_file_bytes)))
               .withColumn("group_idx", F.lit(None).cast("long"))
               .withColumn("action", F.lit("keep")))

    small = batch_df.select(*carry) \
        .where(sz < F.lit(int(min_file_bytes)))
    cum = with_running_bytes(small, target_bytes, key_col, id_col,
                             F.col(size_col))
    t = tails.select(F.col(key_col),
                     F.col("cum_bytes").alias("__base__"))
    binned = (cum.join(t, on=key_col, how="left")
              .withColumn("__base__",
                          F.coalesce("__base__", F.lit(0)))
              .withColumn("group_idx",
                          F.expr(f"(__base__ + __cum_bytes - __sz) "
                                 f"div {int(target_bytes)}")
                          .cast("long"))
              .drop("__sz", "__cum_bytes", "__base__"))
    pool = open_bin.unionByName(
        binned.select(*open_bin.columns))

    # a key's open bin is its max group_idx seen so far; every lower
    # bin just closed. |pool| is bounded (open bins + one batch), so
    # these are sketch-sized windows, never corpus scans.
    from pyspark.sql.window import Window

    wk = (Window.partitionBy(key_col)
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    pool = pool.withColumn("__open__", F.max("group_idx").over(wk))
    closed = pool.where(F.col("group_idx") < F.col("__open__")) \
        .drop("__open__")
    new_open = pool.where(F.col("group_idx") == F.col("__open__")) \
        .drop("__open__")

    emitted = healthy.unionByName(_finish(closed, key_col))

    adds = small.groupBy(key_col).agg(
        F.sum(sz).alias("__add__"))
    new_tails = (tails.join(adds, on=key_col, how="full")
                 .select(F.col(key_col),
                         (F.coalesce("cum_bytes", F.lit(0))
                          + F.coalesce("__add__", F.lit(0)))
                         .cast("long").alias("cum_bytes")))
    return emitted, new_tails, new_open


def compaction_finalize(open_bin: DataFrame,
                        key_col: str = "source") -> DataFrame:
    """Close reconciliation: flush every key's last open bin with the
    same singleton demotion the batch planner applies — the one
    decision that needs end-of-stream knowledge."""
    return _finish(open_bin, key_col)
