"""Incremental (streaming) output-shard assignment.

The batch operator (`operators/shard.py assign_shards`) bins a whole
corpus into target-byte output shards from each key's running byte
total. A continuous ingest pipeline — the north-star writer path:
clips arriving forever, files landing at ~target size — cannot
re-window 10^12 accumulated rows per micro-batch. But the binning is
a pure function of the PREFIX SUM, so the only state a fold needs is
one scalar per key: the cumulative byte count already ingested. This
module maintains exactly that — a |keys|-sized **tails** store
``(key, cum_bytes)`` — and folds each micro-batch with pure DataFrame
algebra:

- run the batch alone through the IDENTICAL shared window expression
  (`shard.with_running_bytes` — same algebra object the batch
  operator uses, so boundaries cannot drift between the twins);
- left-join the |batch-keys| tail offsets and shift:
  ``shard_idx = (base + cum_in_batch - size) div target``;
- advance the tails: ``base + batch_total`` per touched key, carry
  untouched keys through.

Correctness precondition: **ordered ingestion** per key on the id
column (batch N+1's rows sort after batch N's for their key — the
same CDC-replay precondition as `scd2_stream`; an out-of-order
source must be watermark-buffered upstream first). Under it,
fold(batches) == assign_shards(union of batches) EXACTLY — prefix
sums are associative — the law pinned at chunk sizes 1/4/all by
tests/test_shard.py::test_shard_incremental_equals_batch, and held
to the batch row's DuckDB oracle by the driver row
`stream_shard_plan`.

Scale shape per micro-batch: one exchange+sort over the BATCH, one
keyed join against a |keys|-sized store (broadcast in practice: one
row per key), zero reads of accumulated data. Redelivery safety is
the store's job, not this function's: `streaming/fold.py run_fold`
commits the tails and the batch output through the exactly-once sink
and hands a re-run batch the PRE-batch tails, so it reproduces the
same assignment.

Store shape #6 in the streaming-fold family: tails-of-versions
(scd2), k-per-group (bottom-k), union-find (CC), inverted buckets
(LSH), monotone registers (HLL), and now per-key scalar accumulators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataflow_flex_templates_spark.operators.shard import (
    _SHARD_COL,
    _check_clash,
    with_running_bytes,
)


def shard_apply_batch(batch_df: DataFrame, tails: DataFrame,
                      target_bytes: int, key_col: str = "source",
                      id_col: str = "doc_id",
                      size: Column | str = "size_bytes",
                      ) -> tuple[DataFrame, DataFrame]:
    """Fold one ordered micro-batch into the shard store.

    ``tails`` columns: ``(key_col, cum_bytes)`` — bytes already
    ingested per key (empty on the first batch). Returns
    ``(assigned, new_tails)``: ``assigned`` is the batch with its
    final ``shard_idx`` column (append-only — a row's shard never
    changes later, because later rows only extend the prefix), and
    ``new_tails`` replaces ``tails`` wholesale.
    """
    _check_clash(batch_df, "__base__", "cum_bytes")
    cum = with_running_bytes(batch_df, target_bytes, key_col, id_col,
                             size)
    t = tails.select(F.col(key_col),
                     F.col("cum_bytes").alias("__base__"))
    j = cum.join(t, on=key_col, how="left") \
        .withColumn("__base__", F.coalesce("__base__", F.lit(0)))
    assigned = (j.withColumn(
        _SHARD_COL,
        F.expr(f"(__base__ + __cum_bytes - __sz) div "
               f"{int(target_bytes)}").cast("long"))
        .drop("__sz", "__cum_bytes", "__base__"))

    # Per-key batch total == MAX(__cum_bytes), but SUM(__sz) is the
    # same number WITHOUT the window: Catalyst prunes the unused
    # Window node from this branch (plan-verified), so the store
    # update is a plain partial+final hash agg — |keys| rows cross
    # the wire, not the batch — instead of a second full
    # Exchange+Sort+Window pass over the batch.
    batch_totals = (cum.groupBy(key_col)
                    .agg(F.sum("__sz").alias("__add__")))
    new_tails = (tails.join(batch_totals, on=key_col, how="full")
                 .select(
                     F.col(key_col),
                     (F.coalesce("cum_bytes", F.lit(0))
                      + F.coalesce("__add__", F.lit(0)))
                     .cast("long").alias("cum_bytes")))
    return assigned, new_tails
