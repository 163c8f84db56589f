"""The exactly-once fold runner `run_fold` (streaming/fold.py).

Three store shapes, each on a tiny input of 3 micro-batches, must match
an uninterrupted golden run frame for frame after (a) a crash between
two frames' commits of batch 1, (b) a replay of a fully committed
batch and (c) a restart from a copy of the store on disk. No scenario
kills a process on a timer: each crash point is injected.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dataflow_flex_templates_spark.streaming.fold import (
    await_or_raise,
    run_fold,
)
from dataflow_flex_templates_spark.streaming.sink import ExactlyOnceTable


def _cc(spark):
    """Union-find: the labels log is read back as state, rep_root is a
    snapshot."""
    from dataflow_flex_templates_spark.streaming.cc_stream import (
        cc_apply_batch,
    )

    def step(batch, state):
        labels, rep = cc_apply_batch(batch, state["labels"], state["rep"])
        return {"labels": labels, "rep": rep}

    files = [[(1, 2), (3, 4)], [(2, 3), (5, 6)], [(6, 7), (4, 1)]]
    return ("id_a long, id_b long", files, step,
            {"rep": "rep long, root long"},
            {"labels": "id long, first_rep long"})


def _compaction(spark):
    """Two snapshots plus an output log; batch 0 holds only healthy
    files, so the open bin it commits is empty."""
    from dataflow_flex_templates_spark.streaming.compaction_stream import (
        compaction_apply_batch,
    )

    def step(batch, state):
        emitted, tails, open_bin = compaction_apply_batch(
            batch, state["tails"], state["open"], target_bytes=100,
            min_file_bytes=50)
        return {"emitted": emitted, "tails": tails, "open": open_bin}

    files = [[("a", 0, 80), ("b", 1, 90)],
             [("a", 2, 30), ("a", 3, 40), ("b", 4, 20)],
             [("a", 5, 40), ("a", 6, 30), ("b", 7, 60)]]
    return ("source string, file_id long, size_bytes long", files, step,
            {"tails": "source string, cum_bytes long",
             "open": "source string, file_id long, size_bytes long, "
                     "group_idx long"},
            {"emitted": "source string, file_id long, size_bytes long, "
                        "group_idx long, action string"})


def _decontaminate(spark):
    """Stateless: one verdict log, nothing read back."""
    from dataflow_flex_templates_spark.operators.text import decontaminate

    words = [f"w{i}" for i in range(40)]
    bench = spark.createDataFrame(
        [(100, " ".join(words[:12]))], "doc_id long, text string")

    def step(batch, state):
        return {"verdicts": decontaminate(batch, bench, n=8)}

    files = [[(i, " ".join(words[i:i + 10])) for i in (k, k + 4)]
             for k in range(3)]
    return ("doc_id long, text string", files, step, {},
            {"verdicts": "doc_id long, hit_ngrams long, "
                         "contaminated boolean"})


SHAPES = {"cc": _cc, "compaction": _compaction,
          "decontaminate": _decontaminate}


class _Env:
    def __init__(self, spark, shape):
        (self.schema, self.files, self.step, self.snapshots,
         self.logs) = SHAPES[shape](spark)
        self.spark = spark
        self.names = [*self.snapshots, *self.logs]

    def run(self, root, inp):
        stream = (self.spark.readStream.schema(self.schema)
                  .option("maxFilesPerTrigger", 1).parquet(inp))
        return run_fold(self.spark, stream, root, self.step,
                        snapshots=self.snapshots, logs=self.logs)

    def committed(self, root):
        return {n: ExactlyOnceTable(os.path.join(root, n), [])
                .committed_batches() for n in self.names}


def _sorted(frames):
    out = {}
    for name, df in frames.items():
        assert "__seq__" not in df.columns, name
        pdf = df.toPandas()
        out[name] = (pdf.sort_values(list(pdf.columns), kind="mergesort")
                     .reset_index(drop=True))
    return out


def _assert_frames(got, want):
    assert sorted(got) == sorted(want)
    for name in want:
        assert got[name].equals(want[name]), (
            f"{name}:\n{got[name]}\nvs golden\n{want[name]}")


class _Crash(RuntimeError):
    pass


@pytest.fixture(scope="module")
def runs(spark, tmp_path_factory):
    """Per shape, built once and shared by the scenarios: the golden
    frames and root of an uninterrupted run, and a root whose run
    crashed inside batch 1 — the last frame's commit raised after the
    others committed (for a one-frame fold: before its only commit) —
    plus a copy of that crashed root at a path no run has used."""
    cache = {}

    def get(shape):
        if shape in cache:
            return cache[shape]
        env = _Env(spark, shape)
        base = tmp_path_factory.mktemp(shape)
        inp = str(base / "in")
        for rows in env.files:
            spark.createDataFrame(rows, env.schema).coalesce(1) \
                .write.mode("append").parquet(inp)
        golden = _sorted(env.run(str(base / "golden"), inp))

        real_write = ExactlyOnceTable.write_batch
        calls = []

        def crashing_write(self, df, batch_id, extra_metrics=None):
            if batch_id == 1:
                calls.append(self.path)
                if len(calls) == len(env.names):
                    raise _Crash("injected crash before the last commit")
            return real_write(self, df, batch_id, extra_metrics)

        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(ExactlyOnceTable, "write_batch", crashing_write)
            with pytest.raises(_Crash):
                env.run(str(base / "crashed"), inp)
        assert not spark.streams.active
        shutil.copytree(base / "crashed", base / "crashed_copy")
        cache[shape] = env, inp, base, golden
        return cache[shape]
    return get


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_crash_between_frame_commits(runs, shape):
    """(a) A new run_fold on the crashed root replays batch 1 against
    the pre-batch state; the frames that committed it skip their
    write."""
    env, inp, base, golden = runs(shape)
    root = str(base / "crashed")
    committed = env.committed(root)
    assert committed[env.names[-1]] == [0]
    assert all(committed[n] == [0, 1] for n in env.names[:-1])
    _assert_frames(_sorted(env.run(root, inp)), golden)


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_replay_of_committed_batch_adds_nothing(runs, shape, tmp_path):
    """(b) Deleting the Spark checkpoint's last commit makes the rerun
    replay a batch every frame already committed: no log gains rows
    and no frame changes."""
    env, inp, base, golden = runs(shape)
    root = tmp_path / "fold"
    shutil.copytree(base / "golden", root)
    tables = {n: ExactlyOnceTable(str(root / n), []) for n in env.names}
    before = {n: (t.committed_batches(), t.total_committed_rows())
              for n, t in tables.items()}
    commits = root / "_checkpoint" / "commits"
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(commits / str(last))

    got = _sorted(env.run(str(root), inp))
    assert (commits / str(last)).exists(), "the batch was not replayed"
    assert {n: (t.committed_batches(), t.total_committed_rows())
            for n, t in tables.items()} == before
    _assert_frames(got, golden)


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_restart_reads_store_from_disk(runs, shape):
    """(c) The restart runs on a copy of the crashed root that no run
    in this process has used, so its state can only come from the
    files on disk."""
    env, inp, base, golden = runs(shape)
    _assert_frames(_sorted(env.run(str(base / "crashed_copy"), inp)),
                   golden)


def _listener_count(spark):
    return len(spark._jsparkSession.streams().listListeners())


@pytest.mark.parametrize("failure", ["step_raises", "undeclared_frame"])
def test_failed_batch_stops_query_and_reraises(spark, tmp_path, failure):
    """A batch that fails — the step raises on batch 1, or returns a
    frame that was not declared — ends the query, leaves no listener
    behind and re-raises the batch's own error."""
    inp = str(tmp_path / "in")
    for rows in ([(1,)], [(2,)]):
        spark.createDataFrame(rows, "x long").coalesce(1) \
            .write.mode("append").parquet(inp)
    stream = (spark.readStream.schema("x long")
              .option("maxFilesPerTrigger", 1).parquet(inp))
    batches = []

    def step(batch, state):
        batches.append(batch)
        if len(batches) == 1:
            return {"out": batch}
        if failure == "step_raises":
            raise _Crash("step failed on batch 1")
        return {"typo": batch}

    listeners = _listener_count(spark)
    with pytest.raises(_Crash if failure == "step_raises" else ValueError):
        run_fold(spark, stream, str(tmp_path / "fold"), step,
                 logs={"out": "x long"})
    assert len(batches) == 2
    assert not spark.streams.active
    assert _listener_count(spark) == listeners


def test_timeout_stops_query(spark):
    q = (spark.readStream.format("rate").option("rowsPerSecond", 1).load()
         .writeStream.format("noop").start())
    with pytest.raises(RuntimeError, match="timed out"):
        await_or_raise(q, "rate", timeout_s=1)
    assert not q.isActive


def test_empty_snapshot_does_not_fall_back(spark, tmp_path):
    """A snapshot that empties reads back as an empty frame of its
    declared schema, not as the last batch that had rows."""
    inp = str(tmp_path / "in")
    for rows in ([(10,), (11,)], [(1,)]):
        spark.createDataFrame(rows, "x long").coalesce(1) \
            .write.mode("append").parquet(inp)
    stream = (spark.readStream.schema("x long")
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = run_fold(spark, stream, str(tmp_path / "fold"),
                   lambda batch, _: {"big": batch.where(F.col("x") >= 10)},
                   snapshots={"big": "x long"})
    assert out["big"].columns == ["x"]
    assert out["big"].count() == 0
