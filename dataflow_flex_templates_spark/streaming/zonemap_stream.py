"""Incremental (streaming) zone-map maintenance.

The batch operator (`operators/zonemap.py zone_map`) computes
per-shard column bounds over a whole corpus. A continuous ingest
pipeline — the north-star writer path, clips landing forever into
target-byte shards (`streaming/shard_stream.py`) — needs the
data-skipping index to track the table WITHOUT rescanning it: this is
exactly what an Iceberg writer does when each commit's manifest
carries the new files' column metrics. Zone-map stats form an exact
commutative semigroup —

    min ⊕ min = least,  max ⊕ max = greatest,
    nulls ⊕ nulls = +,  n_rows ⊕ n_rows = +

— so the fold per micro-batch is: sketch the BATCH ALONE through the
identical ``zone_map`` (same algebra object as the batch twin, so the
stats cannot drift), then one keyed full-outer join against the
|shards|-sized store merging each stat with its ⊕. Nothing ever
re-reads accumulated data; the per-batch changelog is just the
touched shards' merged rows — the write set of an Iceberg
``MERGE WHEN MATCHED`` on the shard key.

Associativity of every ⊕ makes fold(batches) == zone_map(union) at
ANY batch split — pinned at chunk sizes 1/4/all by
tests/test_zonemap.py::test_zonemap_incremental_equals_batch — which
is what lets the driver row `stream_zone_map` share the batch row's
DuckDB oracle. The BOUNDS half of the merge is additionally
idempotent (least/greatest absorb re-delivery; pinned by
test_zonemap_redelivery_bounds_idempotent); the COUNT half is not, so
redelivery safety for counts is the store's job — `streaming/fold.py
run_fold` commits the store exactly once per batch and replays a
re-run batch against the pre-batch store, as for `shard_stream.py`.

Store shape #8 in the streaming-fold family (docs/SCALE.md): after
tails, k-per-group, union-find, inverted buckets, monotone
registers, per-key scalars, and stateless+close — now keyed
semigroup accumulators: one stat tuple per shard, merged with the
stats' own ⊕.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_flex_templates_spark.operators.zonemap import zone_map


def zone_map_apply_batch(batch_df: DataFrame, store: DataFrame,
                         shard_cols: list[str],
                         stat_cols: list[str],
                         ) -> tuple[DataFrame, DataFrame]:
    """Fold one micro-batch into the zone-map store.

    ``store`` has ``zone_map`` output shape (empty on the first
    batch). Returns ``(changelog, new_store)``: ``changelog`` is the
    merged rows of the shards this batch touched (the upsert write
    set); ``new_store`` replaces ``store`` wholesale and equals
    ``zone_map`` over everything ingested so far.

    Scale per batch: one hash-agg over the BATCH (|batch-shards|
    rows out), one keyed join against the |shards|-sized store —
    broadcast-scale both sides; accumulated data is never re-read.
    """
    bz = zone_map(batch_df, shard_cols, stat_cols)

    def side(df: DataFrame, tag: str) -> DataFrame:
        # one projection, not a withColumnRenamed chain — a
        # continuously running stream re-analyzes this plan every
        # trigger, so keep the unresolved tree flat
        return df.select(*[
            F.col(c) if c in shard_cols
            else F.col(c).alias(f"__{tag}_{c}")
            for c in df.columns])

    j = side(store, "s").join(side(bz, "b"), on=shard_cols,
                              how="full")
    merged_cols = [
        (F.coalesce("__s_n_rows", F.lit(0))
         + F.coalesce("__b_n_rows", F.lit(0)))
        .cast("long").alias("n_rows")]
    for c in stat_cols:
        # least/greatest skip NULL operands, which is exactly the
        # semigroup identity: an absent side (or an all-null shard,
        # whose bound is NULL) must not move the other side's bound.
        merged_cols += [
            F.least(f"__s_{c}_min", f"__b_{c}_min")
             .alias(f"{c}_min"),
            F.greatest(f"__s_{c}_max", f"__b_{c}_max")
             .alias(f"{c}_max"),
            (F.coalesce(f"__s_{c}_nulls", F.lit(0))
             + F.coalesce(f"__b_{c}_nulls", F.lit(0)))
            .cast("long").alias(f"{c}_nulls"),
        ]
    merged = j.select(*shard_cols, *merged_cols,
                      F.col("__b_n_rows").isNotNull()
                       .alias("__touched"))
    changelog = merged.filter("__touched").drop("__touched")
    new_store = merged.drop("__touched")
    return changelog, new_store
