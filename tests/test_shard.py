"""Writer-side output-shard sizing (operators/shard.py): closed-form
assignment, packing invariants, and the one-file-per-shard write —
the measured durable fix for the hotfile skew regime (BASELINE.md)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from dataflow_flex_templates_spark.operators.shard import (
    assign_shards,
    shard_plan,
    write_sized,
)


def test_assign_shards_closed_form(spark):
    # key k: sizes 600,600,600 at target 1000 -> cum 600/1200/1800,
    # starts 0/600/1200 -> shards 0,0,1. Oversize row (2500 > target)
    # occupies bins 0..2 of its own key: next row starts at 2500 ->
    # shard 2 (indices may skip — cum-space binning, documented).
    rows = [("k", 1, 600), ("k", 2, 600), ("k", 3, 600),
            ("big", 1, 2500), ("big", 2, 600)]
    df = spark.createDataFrame(
        rows, "source string, doc_id long, size_bytes long")
    got = {(r["source"], r["doc_id"]): r["shard_idx"]
           for r in assign_shards(df, 1000).collect()}
    assert got == {("k", 1): 0, ("k", 2): 0, ("k", 3): 1,
                   ("big", 1): 0, ("big", 2): 2}


def test_shard_plan_invariants(spark):
    """Totals preserved exactly; every shard except the last per key
    carries > target - max_size bytes; no shard exceeds
    target + max_size - 1; id ranges of consecutive shards do not
    overlap (binning follows the (key, id) total order)."""
    import random

    rng = random.Random(7)
    rows = [(f"s{i % 3}", i, rng.randrange(50, 900))
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "source string, doc_id long, size_bytes long")
    target = 2000
    plan = shard_plan(df, target).collect()

    by_key_total = {}
    for r in plan:
        by_key_total[r["source"]] = (
            by_key_total.get(r["source"], 0) + r["shard_bytes"])
        assert r["shard_bytes"] < target + 900
        assert r["fill_permille"] == r["shard_bytes"] * 1000 // target
    want = {f"s{k}": sum(s for key, _, s in rows if key == f"s{k}")
            for k in range(3)}
    assert by_key_total == want
    assert sum(r["n_rows"] for r in plan) == len(rows)

    for key in ("s0", "s1", "s2"):
        shards = sorted((r for r in plan if r["source"] == key),
                        key=lambda r: r["shard_idx"])
        for a, b in zip(shards, shards[1:]):
            assert a["last_id"] < b["first_id"]
        for r in shards[:-1]:  # all but the last: bin crossed target
            assert r["shard_bytes"] > target - 900


def test_shard_plan_matches_assignment(spark):
    rows = [("a", i, 100 + (i * 37) % 500) for i in range(100)]
    df = spark.createDataFrame(
        rows, "source string, doc_id long, size_bytes long")
    assigned = assign_shards(df, 1500)
    regroup = (assigned.groupBy("source", "shard_idx")
               .agg(F.count("*").alias("n_rows"),
                    F.sum("size_bytes").alias("shard_bytes")))
    plan = shard_plan(df, 1500).select(
        "source", "shard_idx", "n_rows", "shard_bytes")
    assert sorted(map(tuple, regroup.collect())) == \
        sorted(map(tuple, plan.collect()))


def test_assign_shards_guards(spark):
    df = spark.createDataFrame(
        [("a", 1, 10)], "source string, doc_id long, size_bytes long")
    with pytest.raises(ValueError, match="target_bytes"):
        assign_shards(df, 0)
    clash = df.withColumn("shard_idx", F.lit(1))
    with pytest.raises(ValueError, match="clash"):
        assign_shards(clash, 100)


def test_write_sized_one_file_per_shard(spark, sf_dir, tmp_path):
    """The layout contract: exactly ONE parquet data file per planned
    shard directory, lossless round trip, and per-directory byte
    totals equal to the plan's shard_bytes."""
    docs = (spark.read.parquet(os.path.join(sf_dir,
                                            "documents.parquet"))
            .select("doc_id", "source", "text",
                    F.length("text").cast("long")
                    .alias("size_bytes")))
    target = 2000
    out = str(tmp_path / "sized")
    n = write_sized(docs, out, target)
    plan = {(r["source"], r["shard_idx"]): r
            for r in shard_plan(docs, target).collect()}
    assert n == len(plan)

    dirs = glob.glob(os.path.join(out, "source=*", "shard_idx=*"))
    assert len(dirs) == n
    for d in dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, d

    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    got = {(r["source"], r["shard_idx"]): r for r in
           (back.groupBy("source", "shard_idx")
            .agg(F.sum(F.length("text")).alias("b"),
                 F.count("*").alias("c")).collect())}
    assert set(got) == set(plan)
    for k, r in got.items():
        assert r["b"] == plan[k]["shard_bytes"]
        assert r["c"] == plan[k]["n_rows"]


@pytest.mark.parametrize("chunk", [1, 4, 10**9])
def test_shard_incremental_equals_batch(spark, chunk):
    """Streaming-fold law: under ordered ingestion, the union of
    per-batch assignments == assign_shards over the whole input,
    byte-for-byte, at any batch split (prefix sums are associative).
    Also pins that tails advance to the exact per-key byte totals."""
    import random

    from dataflow_flex_templates_spark.streaming.shard_stream import (
        shard_apply_batch,
    )

    rng = random.Random(11)
    rows = [(f"s{i % 3}", i, rng.randrange(50, 900))
            for i in range(120)]
    schema = "source string, doc_id long, size_bytes long"
    whole = spark.createDataFrame(rows, schema)
    target = 1500
    want = sorted(map(tuple, assign_shards(whole, target).collect()))

    tails = spark.createDataFrame([], "source string, cum_bytes long")
    got = []
    for i in range(0, len(rows), min(chunk, len(rows))):
        batch = spark.createDataFrame(rows[i:i + chunk], schema)
        assigned, tails = shard_apply_batch(batch, tails, target)
        got.extend(map(tuple, assigned.collect()))
        tails = spark.createDataFrame(tails.collect(),
                                      "source string, cum_bytes long")
    assert sorted(got) == want

    totals = {k: v for k, v in tails.collect()}
    for k in ("s0", "s1", "s2"):
        assert totals[k] == sum(s for key, _, s in rows if key == k)


def test_shard_apply_batch_guards(spark):
    from dataflow_flex_templates_spark.streaming.shard_stream import (
        shard_apply_batch,
    )

    tails = spark.createDataFrame([], "source string, cum_bytes long")
    clash = spark.createDataFrame(
        [("a", 1, 10, 0)],
        "source string, doc_id long, size_bytes long, cum_bytes long")
    with pytest.raises(ValueError, match="clash"):
        shard_apply_batch(clash, tails, 100)


# ---- compaction planning -------------------------------------------


def test_compaction_plan_closed_form(spark):
    """Hand-checked: smalls bin by the shared running-sum algebra,
    a small file alone in its bin is demoted to keep (merging one
    file buys nothing), healthy files always keep with NULL group."""
    from dataflow_flex_templates_spark.operators.shard import (
        compaction_plan,
    )

    rows = [("A", 1, 100), ("A", 2, 200), ("A", 3, 300),
            ("A", 4, 350),            # cum 950, starts at 600 -> bin 1, alone
            ("A", 5, 450),            # >= min: keep
            ("B", 1, 50)]             # only small in B: singleton keep
    df = spark.createDataFrame(
        rows, "source string, file_id long, size_bytes long")
    got = {(r["source"], r["file_id"]): (r["action"], r["group_idx"])
           for r in compaction_plan(df, target_bytes=500,
                                    min_file_bytes=400).collect()}
    assert got == {
        ("A", 1): ("rewrite", 0), ("A", 2): ("rewrite", 0),
        ("A", 3): ("rewrite", 0), ("A", 4): ("keep", None),
        ("A", 5): ("keep", None), ("B", 1): ("keep", None)}


def test_compaction_plan_invariants(spark):
    """Random metadata: output is a permutation of the input files;
    every rewrite group has >= 2 files and carries <= target +
    max_small - 1 bytes; every kept file is healthy or a singleton."""
    import random

    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.operators.shard import (
        compaction_plan,
    )

    rng = random.Random(5)
    rows = [(f"s{i % 4}", i, rng.randrange(10, 2000))
            for i in range(300)]
    df = spark.createDataFrame(
        rows, "source string, file_id long, size_bytes long")
    target, mn = 1500, 900
    plan = compaction_plan(df, target, mn).collect()
    assert sorted((r["source"], r["file_id"], r["size_bytes"])
                  for r in plan) == sorted(rows)
    groups = {}
    for r in plan:
        if r["action"] == "rewrite":
            assert r["size_bytes"] < mn and r["group_idx"] is not None
            groups.setdefault((r["source"], r["group_idx"]), []) \
                .append(r["size_bytes"])
        else:
            assert r["group_idx"] is None
    for sizes in groups.values():
        assert len(sizes) >= 2
        assert sum(sizes) < target + mn  # max small size < mn
    # the plan reused the binning Exchange for the demotion window
    out = compaction_plan(df, target, mn)
    out.collect()
    plan_str = (out._jdf.queryExecution().executedPlan().toString()
                .split("== Initial Plan ==")[0])
    assert plan_str.count("Exchange hashpartitioning") == 1


def test_compaction_plan_guards(spark):
    import pytest

    from dataflow_flex_templates_spark.operators.shard import (
        compaction_plan,
    )

    df = spark.createDataFrame(
        [("A", 1, 10)], "source string, file_id long, size_bytes long")
    with pytest.raises(ValueError, match="min_file_bytes"):
        compaction_plan(df, 100, 200)
    with pytest.raises(ValueError, match="clash"):
        compaction_plan(df.withColumn("action", df.source), 100, 50)


@pytest.mark.parametrize("chunk", [1, 4, 60])
def test_compaction_incremental_equals_batch(spark, chunk):
    """Streaming-fold law: under ordered ingestion, emissions(folds)
    ∪ close == compaction_plan over the whole metadata table,
    byte-for-byte at any batch split — a bin is immutable once a
    later small file starts a higher bin, so groups trigger the
    moment they close."""
    import random

    from dataflow_flex_templates_spark.operators.shard import (
        compaction_plan,
    )
    from dataflow_flex_templates_spark.streaming.compaction_stream import (
        compaction_apply_batch,
        compaction_finalize,
    )

    rng = random.Random(31)
    rows = [(f"s{i % 3}", i, rng.randrange(10, 2000))
            for i in range(60)]
    schema = "source string, file_id long, size_bytes long"
    target, mn = 1500, 900
    whole = spark.createDataFrame(rows, schema)
    want = sorted(map(tuple, compaction_plan(whole, target, mn)
                      .select("source", "file_id", "size_bytes",
                              "group_idx", "action").collect()))

    tails = spark.createDataFrame([], "source string, cum_bytes long")
    open_schema = ("source string, file_id long, size_bytes long, "
                   "group_idx long")
    open_bin = spark.createDataFrame([], open_schema)
    got = []
    for i in range(0, len(rows), chunk):
        batch = spark.createDataFrame(rows[i:i + chunk], schema)
        emitted, tails, open_bin = compaction_apply_batch(
            batch, tails, open_bin, target, mn)
        got.extend(map(tuple, emitted.select(
            "source", "file_id", "size_bytes", "group_idx",
            "action").collect()))
        tails = spark.createDataFrame(
            tails.collect(), "source string, cum_bytes long")
        open_bin = spark.createDataFrame(open_bin.collect(),
                                         open_schema)
    got.extend(map(tuple, compaction_finalize(open_bin).select(
        "source", "file_id", "size_bytes", "group_idx",
        "action").collect()))
    assert sorted(got) == want


def test_compaction_stream_guards(spark):
    import pytest as _pytest

    from dataflow_flex_templates_spark.streaming.compaction_stream import (
        compaction_apply_batch,
    )

    df = spark.createDataFrame(
        [("A", 1, 10)], "source string, file_id long, size_bytes long")
    tails = spark.createDataFrame([], "source string, cum_bytes long")
    ob = spark.createDataFrame(
        [], "source string, file_id long, size_bytes long, group_idx long")
    with _pytest.raises(ValueError, match="min_file_bytes"):
        compaction_apply_batch(df, tails, ob, 100, 200)
    with _pytest.raises(ValueError, match="clash"):
        compaction_apply_batch(df.withColumn("action", df.source),
                               tails, ob, 100, 50)
    # a carried column named like the fold's internal __open__ would be
    # overwritten by it (batch side and store side alike)
    with _pytest.raises(ValueError, match="clash"):
        compaction_apply_batch(df.withColumn("__open__", df.file_id),
                               tails, ob.withColumn("__open__", ob.file_id),
                               100, 50)
    with _pytest.raises(ValueError, match="clash"):
        compaction_apply_batch(df, tails,
                               ob.withColumn("__open__", ob.file_id),
                               100, 50)


def test_compaction_null_size_raises(spark):
    """A NULL size is a broken manifest: both the batch planner and
    the streaming fold fail fast instead of silently losing the file
    (NULL fails both the small and the healthy predicate)."""
    import pytest as _pytest

    from dataflow_flex_templates_spark.operators.shard import (
        compaction_plan,
    )
    from dataflow_flex_templates_spark.streaming.compaction_stream import (
        compaction_apply_batch,
    )

    df = spark.createDataFrame(
        [("A", 1, 100), ("A", 2, None)],
        "source string, file_id long, size_bytes long")
    with _pytest.raises(Exception, match="NULL size_bytes"):
        compaction_plan(df, 500, 400).collect()
    tails = spark.createDataFrame([], "source string, cum_bytes long")
    ob = spark.createDataFrame(
        [], "source string, file_id long, size_bytes long, group_idx long")
    emitted, _, _ = compaction_apply_batch(df, tails, ob, 500, 400)
    with _pytest.raises(Exception, match="NULL size_bytes"):
        emitted.collect()


def test_compaction_stream_carries_extra_columns(spark):
    """Extra manifest metadata (path, etag, ...) declared in the
    open_bin store schema flows through the buffer and emissions —
    parity with the batch planner, which passes all input columns."""
    from dataflow_flex_templates_spark.streaming.compaction_stream import (
        compaction_apply_batch,
        compaction_finalize,
    )

    rows = [("A", 1, 100, "p1"), ("A", 2, 200, "p2"),
            ("A", 3, 900, "p3")]
    df = spark.createDataFrame(
        rows, "source string, file_id long, size_bytes long, path string")
    tails = spark.createDataFrame([], "source string, cum_bytes long")
    ob = spark.createDataFrame(
        [], "source string, file_id long, size_bytes long, "
            "path string, group_idx long")
    emitted, tails, ob = compaction_apply_batch(df, tails, ob, 500, 400)
    final = emitted.unionByName(compaction_finalize(ob))
    got = {r["file_id"]: r["path"] for r in final.collect()}
    assert got == {1: "p1", 2: "p2", 3: "p3"}
    # a store schema demanding a column the batch lacks raises
    import pytest as _pytest

    bad_ob = spark.createDataFrame(
        [], "source string, file_id long, size_bytes long, "
            "etag string, group_idx long")
    with _pytest.raises(ValueError, match="absent from the batch"):
        compaction_apply_batch(df.drop("path"), tails, bad_ob, 500, 400)
