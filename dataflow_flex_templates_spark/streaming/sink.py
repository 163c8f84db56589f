"""Exactly-once idempotent table sink.

Replaces the reference's Neo4jBlockingUnwindFn (one blocking Cypher
transaction per flushed row-buffer — transforms/
Neo4jBlockingUnwindFn.java:62-140) with a micro-batch commit protocol:

  foreachBatch(batch_id, df):
    1. if batch_id already committed → skip (restart replays are no-ops)
    2. write the batch's rows under data/batch=<id>/ (overwrite: a
       half-written attempt from a crash is safely clobbered; no
       _SUCCESS marker, since step 3 is the commit)
    3. atomically record the commit (tmp-file + os.rename) together
       with per-partition lineage counts and metrics

Combined with Structured Streaming checkpointing this yields
exactly-once: each source offset range maps to one batch_id, and a
batch either commits once or not at all.

The table is **merge-on-read** (like Iceberg MOR): committed batches
are appends keyed by (natural key, ordinal); `read_merged` applies the
MERGE last-writer-wins window at read time. On a real cluster this maps
1:1 onto Iceberg `MERGE INTO` in `foreachBatch` with the batch_id
stamped in commit properties (SURVEY.md §2.10 W2); the commit/skip
logic is identical.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ExactlyOnceTable:
    """A local-filesystem table with atomic, batchId-idempotent commits."""

    def __init__(self, path: str, key_cols: list[str],
                 order_col: str = "__seq__"):
        self.path = path
        self.key_cols = key_cols
        self.order_col = order_col
        self._commits_dir = os.path.join(path, "_commits")
        self._data_dir = os.path.join(path, "data")
        os.makedirs(self._commits_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)

    # -- commit log ------------------------------------------------------

    def _commit_file(self, batch_id: int) -> str:
        return os.path.join(self._commits_dir, f"{batch_id:020d}.json")

    def _watermark_file(self) -> str:
        return os.path.join(self._commits_dir, "_watermark.json")

    def watermark_info(self) -> dict | None:
        """Commit-log expiration record (see :meth:`expire_commits`)."""
        if os.path.exists(self._watermark_file()):
            with open(self._watermark_file()) as f:
                return json.load(f)
        return None

    def commit_watermark(self) -> int:
        wm = self.watermark_info()
        return int(wm["through"]) if wm else -1

    def is_committed(self, batch_id: int) -> bool:
        return (batch_id <= self.commit_watermark()
                or os.path.exists(self._commit_file(batch_id)))

    def committed_batches(self) -> list[int]:
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(self._commits_dir)
            if f.endswith(".json") and f.split(".")[0].isdigit()
        )

    def commit_info(self, batch_id: int) -> dict:
        with open(self._commit_file(batch_id)) as f:
            return json.load(f)

    # -- write path ------------------------------------------------------

    def write_batch(self, df: DataFrame, batch_id: int,
                    extra_metrics: dict | None = None) -> dict:
        """Idempotent batch write. Returns the commit record (or the
        previously committed one on replay)."""
        if self.is_committed(batch_id):
            # Restart replay: the TABLE write is skipped (exactly-once),
            # but the batch must still be fully PROCESSED — Spark 4
            # validates that every stateful operator's state stores
            # commit for the replayed batch (an early return raises
            # STATE_STORE_COMMIT_VALIDATION_FAILED and kills the
            # query), and downstream batches need the recomputed state
            # lineage anyway. A noop-format write consumes every
            # partition without producing output.
            df.write.format("noop").mode("overwrite").save()
            if os.path.exists(self._commit_file(batch_id)):
                return self.commit_info(batch_id)
            # marker expired into the watermark: return the summary
            wm = self.watermark_info() or {}
            return {"batch_id": int(wm.get("through", batch_id)),
                    "expired": True, **wm}

        batch_dir = os.path.join(self._data_dir, f"batch={batch_id}")
        if self.order_col in df.columns:
            # Caller supplied the LWW order (e.g. unix_micros(event_time)
            # for event-time-dominant MERGE) — keep it.
            out = df
        else:
            # Default: arrival order (batch_id, row ordinal) — matches the
            # reference's Cypher-MERGE arrival-order semantics.
            out = df.withColumn(
                self.order_col,
                F.lit(batch_id).cast("long") * F.lit(1 << 31)
                + F.monotonically_increasing_id() % (1 << 31),
            )
        _parquet_writer(out).parquet(batch_dir)

        # Per-partition lineage: rows per task partition, read from the
        # written parquet FOOTERS (the audit-sink analogue of
        # GcsLogTransform, W7). Footer metadata costs ~ms per file and —
        # unlike a groupBy(spark_partition_id).count() pass — adds NO
        # extra Spark job per commit, which at one commit per
        # micro-batch per table is the difference between 1 and 2 full
        # scans of every batch.
        part_counts = _footer_part_counts(batch_dir)

        record = {
            "batch_id": batch_id,
            "rows": int(sum(part_counts.values())),
            "partitions": part_counts,
            "columns": out.columns,
            "committed_at_unix": time.time(),
            "epoch_id": str(uuid.uuid4()),
        }
        record.update(extra_metrics or {})
        _publish_json(self._commit_file(batch_id), record)
        return record

    # -- compaction (Iceberg rewrite_data_files analogue) ----------------

    def _base_file(self) -> str:
        return os.path.join(self._commits_dir, "_base.json")

    def base_info(self) -> dict | None:
        if os.path.exists(self._base_file()):
            with open(self._base_file()) as f:
                return json.load(f)
        return None

    def compact(self, spark: SparkSession, partitions: int = 8) -> dict:
        """Fold every committed batch into one base snapshot.

        At one commit per micro-batch per table, a long-running stream
        accumulates O(batches x partitions) small files — the classic
        read-amplification killer (a day at 5 s triggers is ~17k
        commits). Compaction rewrites the committed data as a single
        LWW-PRE-MERGED base (order column retained, so batches
        committed AFTER the base still override per key at read time)
        and deletes the covered batch directories. Commit markers are
        kept: a restart replaying a covered batch_id still hits
        ``is_committed`` and skips — exactly-once is unaffected. The
        swap is crash-safe: the base is staged, published via the
        atomic ``_base.json`` rename, and only then are covered batch
        dirs removed (a crash in between leaves duplicates of already-
        merged rows, which the LWW read collapses).

        Maps to Iceberg's ``rewrite_data_files`` + snapshot expiry on
        a real cluster. Returns the new base manifest.
        """
        batches = self.committed_batches()
        if not batches:
            raise ValueError(f"nothing to compact in {self.path}")
        through = batches[-1]
        df = self.read_appends(spark)
        if self.key_cols:
            from dataflow_flex_templates_spark.plans.compiler import (
                lww_latest,
            )

            out_order = df.columns
            df = lww_latest(df, self.key_cols, self.order_col,
                            keep_order=True).select(*out_order)
        staging = os.path.join(self._data_dir,
                               f"_basestage_{uuid.uuid4().hex[:8]}")
        _parquet_writer(df.repartition(partitions)).parquet(staging)
        prev = self.base_info()
        base_dir = os.path.join(self._data_dir, f"base-{through}")
        if os.path.isdir(base_dir):
            import shutil
            shutil.rmtree(base_dir)
        os.rename(staging, base_dir)
        manifest = {
            "through": through,
            "dir": f"base-{through}",
            "columns": df.columns,
            "partitions": _footer_part_counts(base_dir),
            "compacted_at_unix": time.time(),
        }
        _publish_json(self._base_file(), manifest)
        import shutil
        for b in batches:  # covered data now lives in the base
            shutil.rmtree(os.path.join(self._data_dir, f"batch={b}"),
                          ignore_errors=True)
        if prev and prev["dir"] != manifest["dir"]:
            shutil.rmtree(os.path.join(self._data_dir, prev["dir"]),
                          ignore_errors=True)
        return manifest

    def expire_commits(self) -> dict:
        """Fold per-batch commit markers at or below the compaction
        horizon into one watermark record (Iceberg expire_snapshots'
        commit-log half).

        :meth:`compact` already rewrites covered DATA into the base,
        but the marker files must outlive it for exactly-once replay
        skipping — at one commit per micro-batch (~17k/day at 5 s
        triggers) the _commits dir itself becomes the unbounded state.
        Expiration keeps the guarantee in O(1): markers ≤
        ``base.through`` are summarized (count + total rows, monotone
        across repeated expirations) into ``_watermark.json``, which
        is published atomically BEFORE any marker is deleted — a crash
        in between leaves markers that are merely redundant with the
        watermark, never a replay hole. ``is_committed`` answers True
        for any batch at or below the watermark, so a restart
        replaying an expired batch still skips its table write.
        Per-batch lineage below the watermark is gone by design (the
        aggregate survives in the record); time travel below the
        compaction horizon was already impossible."""
        base = self.base_info()
        if base is None:
            raise ValueError(
                f"expire_commits before compact in {self.path}: markers "
                "cover live data and must be retained")
        through = int(base["through"])
        prev = self.watermark_info()
        expirable = [b for b in self.committed_batches() if b <= through]
        n = len(expirable)
        rows = sum(self.commit_info(b)["rows"] for b in expirable)
        record = {
            "through": through,
            "n_expired": n + (prev["n_expired"] if prev else 0),
            "expired_rows": rows + (prev["expired_rows"] if prev else 0),
            "expired_at_unix": time.time(),
        }
        _publish_json(self._watermark_file(), record)
        for b in expirable:                     # now redundant
            try:
                os.remove(self._commit_file(b))
            except FileNotFoundError:
                pass
        return record

    # -- read path -------------------------------------------------------

    def _live_paths(self, batches: list[int],
                    as_of: int | None = None) -> list[str]:
        base = self.base_info()
        paths: list[str] = []
        floor = -1
        if base is not None:
            if as_of is not None and as_of < base["through"]:
                raise ValueError(
                    f"time travel to batch {as_of} is below the compaction "
                    f"horizon {base['through']} (covered snapshots were "
                    "rewritten; expire-aware readers must pin before "
                    "compaction)")
            paths.append(os.path.join(self._data_dir, base["dir"]))
            floor = base["through"]
        for b in batches:
            if b <= floor or (as_of is not None and b > as_of):
                continue
            p = os.path.join(self._data_dir, f"batch={b}")
            if os.path.isdir(p) and any(
                    f.endswith(".parquet") for f in os.listdir(p)):
                paths.append(p)
        return paths

    def read_appends(self, spark: SparkSession,
                     as_of: int | None = None) -> DataFrame:
        """All committed rows (no merge) — audit/lineage view.
        ``as_of`` time-travels to the table state at that batch id."""
        batches = self.committed_batches()
        if not batches and self.base_info() is None:
            raise ValueError(f"no committed batches in {self.path}")
        paths = self._live_paths(batches, as_of)
        if not paths:
            raise ValueError(f"all committed batches empty in {self.path}")
        # mergeSchema: spec evolution adds columns over a table's life;
        # without it Spark infers the schema from ONE batch's footer and
        # silently drops columns the other batches carry
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
        # project back to the union of every commit's recorded column
        # list (first-appearance order), so the read schema is what the
        # commits recorded, in commit order, whatever order mergeSchema
        # produced. Commits from before column recording fall back to
        # the physical schema.
        cols: list[str] = []
        any_recorded = False
        base = self.base_info()
        if base and base.get("columns"):
            any_recorded = True
            cols.extend(base["columns"])
        for b in batches:
            rec = self.commit_info(b).get("columns")
            if rec:
                any_recorded = True
                cols.extend(c for c in rec if c not in cols)
        if any_recorded:
            df = df.select(*[c for c in cols if c in df.columns])
        return df

    def read_batch(self, spark: SparkSession, batch_id: int,
                   schema) -> DataFrame:
        """The rows committed batch ``batch_id`` alone wrote, read with
        ``schema`` (order column left out). A batch that wrote no rows
        reads as an empty frame of ``schema``, never as an older
        batch."""
        if not self.is_committed(batch_id):
            raise ValueError(f"batch {batch_id} is not committed in "
                             f"{self.path}")
        return spark.read.schema(schema).parquet(
            os.path.join(self._data_dir, f"batch={batch_id}"))

    def read_merged(self, spark: SparkSession,
                    as_of: int | None = None) -> DataFrame:
        """MERGE-on-read: last writer (highest sequence) wins per key.

        Hash-agg formulation (max over (seq, cols) structs) rather than
        a row_number window: map-side partial combine collapses
        duplicate keys before the shuffle and no sort is needed — the
        plan that survives a 100x scale-up."""
        df = self.read_appends(spark, as_of=as_of)
        if not self.key_cols:
            return df.drop(self.order_col)
        from dataflow_flex_templates_spark.plans.compiler import lww_latest

        out_order = [c for c in df.columns if c != self.order_col]
        return lww_latest(df, self.key_cols, self.order_col).select(*out_order)

    def total_committed_rows(self) -> int:
        wm = self.watermark_info()
        return ((wm["expired_rows"] if wm else 0)
                + sum(self.commit_info(b)["rows"]
                      for b in self.committed_batches()))

    def lineage(self, spark: SparkSession) -> DataFrame:
        """Per-partition lineage as a queryable DataFrame: one row per
        (batch, partition) with its row count, commit time and epoch —
        the audit surface the north_rule's 'per-partition lineage and
        metrics' asks for, derived from the commit records already
        written at zero extra cost per batch."""
        rows = []
        for b in self.committed_batches():
            info = self.commit_info(b)
            parts = info.get("partitions") or {"-": info["rows"]}
            for pid, n in sorted(parts.items()):
                rows.append((int(b), str(pid), int(n),
                             float(info["committed_at_unix"]),
                             str(info.get("epoch_id", ""))))
        return spark.createDataFrame(
            rows, "batch_id long, partition string, rows long, "
                  "committed_at double, epoch_id string")

    def read_changes(self, spark: SparkSession, from_batch: int,
                     to_batch: int | None = None) -> DataFrame:
        """Changelog between two committed snapshots (CDC read — the
        analogue of Iceberg's changelog / create_changelog_view):
        one row per changed key with ``_change_type`` in
        ``insert | delete | update_before | update_after`` (update
        emits pre- AND post-image, Iceberg's convention). Covers keys
        changed in batches ``(from_batch, to_batch]``; ``to_batch``
        defaults to the latest commit.

        Scale shape: only keys APPENDED in the delta batches can
        differ between the snapshots (the sink is append+LWW, nothing
        else mutates state), so both snapshot reads are semi-joined
        down to the delta key set before the full-outer diff — output
        and join state are bounded by the delta size, not the table.
        The two MOR snapshot scans remain; a native Iceberg changelog
        avoids them via manifest pruning, which is the documented
        upgrade path. ``from_batch`` must sit at or above the
        compaction horizon (same rule as any time travel)."""
        if -1 < from_batch < self.commit_watermark():
            raise ValueError(
                f"changelog from batch {from_batch} is below the commit "
                f"expiration watermark {self.commit_watermark()}")
        batches = self.committed_batches()
        if not batches:
            base = self.base_info()
            if base is None:
                raise ValueError(f"no committed batches in {self.path}")
            batches = [int(base["through"])]  # fully expired: base only
        if to_batch is None:
            to_batch = batches[-1]
        delta = [b for b in batches if from_batch < b <= to_batch]
        after = self.read_merged(spark, as_of=to_batch)
        val_cols = [c for c in after.columns if c not in self.key_cols]
        out_schema = [*self.key_cols, *val_cols, "_change_type"]
        if not delta:
            return (after.limit(0)
                    .withColumn("_change_type", F.lit("")).select(*out_schema))
        delta_dirs = [d for d in
                      (os.path.join(self._data_dir, f"batch={b}")
                       for b in delta) if os.path.isdir(d)]
        if not delta_dirs:            # all delta batches were empty
            return (after.limit(0)
                    .withColumn("_change_type", F.lit("")).select(*out_schema))
        touched = (spark.read.option("mergeSchema", "true")
                   .parquet(*delta_dirs).select(*self.key_cols).distinct())
        after_s = (after.join(touched, self.key_cols, "semi")
                   .select(*self.key_cols,
                           F.struct(*val_cols).alias("_a")))
        if (any(b <= from_batch for b in batches)
                or 0 <= self.commit_watermark() <= from_batch):
            before = self.read_merged(spark, as_of=from_batch)
            for c in val_cols:        # schema evolution: null-pad
                if c not in before.columns:
                    before = before.withColumn(c, F.lit(None))
            before_s = (before.join(touched, self.key_cols, "semi")
                        .select(*self.key_cols,
                                F.struct(*val_cols).alias("_b")))
        else:
            before_s = after_s.limit(0).withColumnRenamed("_a", "_b")
        j = before_s.join(after_s, self.key_cols, "full_outer")
        ins = (j.filter(F.col("_b").isNull() & F.col("_a").isNotNull())
               .select(*self.key_cols, "_a.*",
                       F.lit("insert").alias("_change_type")))
        dels = (j.filter(F.col("_a").isNull() & F.col("_b").isNotNull())
                .select(*self.key_cols, "_b.*",
                        F.lit("delete").alias("_change_type")))
        upd = j.filter(F.col("_a").isNotNull() & F.col("_b").isNotNull()
                       & ~F.col("_a").eqNullSafe(F.col("_b")))
        upd_b = upd.select(*self.key_cols, "_b.*",
                           F.lit("update_before").alias("_change_type"))
        upd_a = upd.select(*self.key_cols, "_a.*",
                           F.lit("update_after").alias("_change_type"))
        return (ins.unionByName(dels).unionByName(upd_b).unionByName(upd_a)
                .select(*out_schema))


def _parquet_writer(df: DataFrame):
    """Overwrite-mode parquet writer for table data. No ``_SUCCESS``
    marker: the table's ``_commits`` record is the commit, and the
    marker plus its ``.crc`` are two more files per table per batch
    (each a spawned ``chmod`` on a local filesystem without native
    libhadoop) that nothing reads."""
    return (df.write.mode("overwrite")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs",
                    "false"))


def _publish_json(path: str, record: dict) -> None:
    """Write ``record`` to a unique tmp file, then atomically rename it
    onto ``path``: readers see the old file or the whole new one."""
    tmp = path + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.rename(tmp, path)


def _footer_part_counts(batch_dir: str) -> dict[str, int]:
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    part_counts: dict[str, int] = {}
    if not os.path.isdir(batch_dir):
        return part_counts
    names = [fn for fn in sorted(os.listdir(batch_dir))
             if fn.endswith(".parquet")]

    def rows(fn: str) -> int:
        return pq.ParquetFile(os.path.join(batch_dir, fn)).metadata.num_rows

    with ThreadPoolExecutor(min(16, max(len(names), 1))) as ex:
        counts = list(ex.map(rows, names))
    for fn, n in zip(names, counts):
        pid = fn.split("-")[1] if fn.startswith("part-") else fn
        part_counts[pid] = part_counts.get(pid, 0) + int(n)
    return part_counts
