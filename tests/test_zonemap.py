"""Zone-map data-skipping index (operators/zonemap.py) and its
incremental streaming twin (streaming/zonemap_stream.py): exact stat
values incl. null/all-null shards, pruning soundness swept over every
bound pair, the single-Exchange plan, the fold law at chunk splits
1/4/all, and bounds idempotence under redelivery."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataflow_flex_templates_spark.operators.zonemap import (
    prune_shards,
    zone_map,
)
from dataflow_flex_templates_spark.streaming.zonemap_stream import (
    zone_map_apply_batch,
)

SCHEMA = "shard string, v long, s string"
ROWS = [
    ("a", 5, "x"), ("a", None, "y"), ("a", 9, None),
    ("b", -3, "m"), ("b", 7, "m"),
    ("c", None, None), ("c", None, None),  # all-null shard
]


def test_zone_map_values(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    got = {r["shard"]: r.asDict()
           for r in zone_map(df, ["shard"], ["v", "s"]).collect()}
    assert got["a"] == {"shard": "a", "n_rows": 3, "v_min": 5,
                        "v_max": 9, "v_nulls": 1, "s_min": "x",
                        "s_max": "y", "s_nulls": 1}
    assert got["b"] == {"shard": "b", "n_rows": 2, "v_min": -3,
                        "v_max": 7, "v_nulls": 0, "s_min": "m",
                        "s_max": "m", "s_nulls": 0}
    # all-null shard: bounds NULL, counts exact
    assert got["c"] == {"shard": "c", "n_rows": 2, "v_min": None,
                        "v_max": None, "v_nulls": 2, "s_min": None,
                        "s_max": None, "s_nulls": 2}


def test_zone_map_guards(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    with pytest.raises(ValueError, match="non-empty"):
        zone_map(df, [], ["v"])
    clash = df.withColumnRenamed("s", "v_min")
    with pytest.raises(ValueError, match="clash"):
        zone_map(clash, ["shard", "v_min"], ["v"])
    with pytest.raises(ValueError, match=r"duplicate shard_cols: \['shard'\]"):
        zone_map(df, ["shard", "shard"], ["v"])
    with pytest.raises(ValueError, match=r"duplicate stat_cols: \['v'\]"):
        zone_map(df, ["shard"], ["v", "s", "v"])


def test_prune_shards_names_missing_stats(spark):
    zm = zone_map(spark.createDataFrame(ROWS, SCHEMA), ["shard"], ["v"])
    with pytest.raises(ValueError, match="'s_min', 's_max', 's_nulls'"):
        prune_shards(zm, "s", "a", "b")
    with pytest.raises(ValueError, match=r"missing \['v_nulls'\]"):
        prune_shards(zm.drop("v_nulls"), "v", 0, 5)


def test_zone_map_single_exchange(spark):
    """One Exchange, with map-side partial min/max/count — |shards|
    rows cross the wire regardless of input size."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = zone_map(df, ["shard"], ["v", "s"])
    out.collect()
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan and "partial_max" in plan


def test_prune_soundness_sweep(spark):
    """For EVERY (lo, hi) pair over the value range: a shard holding a
    matching row is never skipped. False positives allowed; false
    negatives are a correctness bug."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    zm = zone_map(df, ["shard"], ["v", "s"])
    truth = {}  # shard -> sorted non-null values
    for shard, v, _ in ROWS:
        truth.setdefault(shard, [])
        if v is not None:
            truth[shard].append(v)
    bounds = [None, -5, -3, 0, 5, 7, 9, 12]
    for lo in bounds:
        for hi in bounds:
            kept = {r["shard"] for r in
                    prune_shards(zm, "v", lo, hi)
                    .filter("might_match").collect()}
            for shard, vals in truth.items():
                has_match = any(
                    (lo is None or v >= lo) and (hi is None or v <= hi)
                    for v in vals)
                if has_match:
                    assert shard in kept, (shard, lo, hi)
    # all-null shard only survives with include_nulls
    assert "c" not in {r["shard"] for r in
                       prune_shards(zm, "v", -100, 100)
                       .filter("might_match").collect()}
    assert "c" in {r["shard"] for r in
                   prune_shards(zm, "v", -100, 100, include_nulls=True)
                   .filter("might_match").collect()}


def test_prune_actually_skips(spark):
    """The flag has teeth: a selective predicate leaves provably-empty
    shards out (no degenerate keep-everything behavior)."""
    df = spark.createDataFrame(ROWS, SCHEMA)
    zm = zone_map(df, ["shard"], ["v"])
    kept = {r["shard"] for r in prune_shards(zm, "v", 8, 20)
            .filter("might_match").collect()}
    assert kept == {"a"}  # b's max is 7, c is all-null


@pytest.mark.parametrize("chunk", [1, 4, len(ROWS)])
def test_zonemap_incremental_equals_batch(spark, chunk):
    """Streaming-fold law: folding any batch split through
    zone_map_apply_batch yields a store identical to zone_map over
    the union (MIN/MAX/SUM are associative and commutative — no
    ordering precondition at all, unlike the shard fold)."""
    whole = spark.createDataFrame(ROWS, SCHEMA)
    want = sorted(map(tuple,
                      zone_map(whole, ["shard"], ["v", "s"]).collect()))
    store = spark.createDataFrame(
        [], "shard string, n_rows long, v_min long, v_max long, "
            "v_nulls long, s_min string, s_max string, s_nulls long")
    store_schema = store.schema
    for i in range(0, len(ROWS), chunk):
        batch = spark.createDataFrame(ROWS[i:i + chunk], SCHEMA)
        changelog, store = zone_map_apply_batch(
            batch, store, ["shard"], ["v", "s"])
        # changelog is exactly the touched shards' merged rows
        touched = {r[0] for r in batch.select("shard").distinct()
                   .collect()}
        assert ({r["shard"] for r in changelog.collect()} == touched)
        store = spark.createDataFrame(store.collect(), store_schema)
    assert sorted(map(tuple, store.collect())) == want


def test_zonemap_redelivery_bounds_idempotent(spark):
    """least/greatest absorb a re-delivered batch: bounds unchanged,
    counts double (why count redelivery safety belongs to the store's
    transactional write, as documented)."""
    batch = spark.createDataFrame(ROWS, SCHEMA)
    empty = spark.createDataFrame(
        [], "shard string, n_rows long, v_min long, v_max long, "
            "v_nulls long, s_min string, s_max string, s_nulls long")
    _, once = zone_map_apply_batch(batch, empty, ["shard"], ["v", "s"])
    _, twice = zone_map_apply_batch(batch, once, ["shard"], ["v", "s"])
    a = {r["shard"]: r.asDict() for r in once.collect()}
    b = {r["shard"]: r.asDict() for r in twice.collect()}
    for shard in a:
        for c in ("v_min", "v_max", "s_min", "s_max"):
            assert b[shard][c] == a[shard][c]
        for c in ("n_rows", "v_nulls", "s_nulls"):
            assert b[shard][c] == 2 * a[shard][c]


def test_zonemap_prunes_real_scan(spark, sf_dir):
    """End-to-end skip over the documents table: shard by file id,
    index n_chars, prune for a range, and verify (1) soundness vs the
    real rows, (2) the surviving-shard scan returns exactly the full
    scan's matches."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .withColumn("file_id", F.expr("doc_id div 100"))
    zm = zone_map(docs, ["source", "file_id"], ["n_chars"])
    lo, hi = 200, 400
    kept = prune_shards(zm, "n_chars", lo, hi).filter("might_match") \
        .select("source", "file_id")
    pruned_scan = docs.join(F.broadcast(kept), ["source", "file_id"]) \
        .filter((F.col("n_chars") >= lo) & (F.col("n_chars") <= hi))
    full_scan = docs.filter((F.col("n_chars") >= lo)
                            & (F.col("n_chars") <= hi))
    assert (sorted(r["doc_id"] for r in pruned_scan.collect())
            == sorted(r["doc_id"] for r in full_scan.collect()))
