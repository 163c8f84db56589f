"""Zone-map (data-skipping) index: per-shard column statistics and
provably-sound predicate pruning.

At 10^12 rows the cheapest scan is the one never issued. Table
formats skip work by keeping per-file column bounds in metadata —
Iceberg manifests record lower/upper bounds, null and row counts per
data file, and a query planner prunes files whose bounds cannot
contain a match. The sandbox has no Iceberg runtime (BASELINE.md),
and the reference engine (neo4j-partners/dataflow-flex-templates)
reads whatever its source query returns with no skipping layer at
all — so this module reifies the mechanism as first-class DataFrame
algebra over the repo's own shard model (`operators/shard.py` plans
the files; this module indexes them):

- ``zone_map`` — per-shard stats for chosen columns: ``{c}_min``,
  ``{c}_max`` (same type as ``c``; NULL when the shard is all-null),
  ``{c}_nulls`` and ``n_rows``. ONE partial+final hash aggregation —
  min/max/count all combine map-side, so |shards| rows cross the
  wire regardless of corpus size, and the resulting index is
  metadata-scale (broadcastable) by construction.
- ``prune_shards`` — marks each shard ``might_match`` for a range
  predicate ``lo <= c <= hi`` using only the index. The flag is
  SOUND: a shard containing any matching row is always kept (the
  property `tests/test_zonemap.py` sweeps exhaustively); false
  positives are allowed — that is the zone-map contract. Pure
  projection: zero shuffle, zero data reads.

Everything is exact integer/order algebra (MIN/MAX/COUNT — no
floats, no approximation), so a SQL oracle reproduces the index
bit-for-bit; the streaming twin (`streaming/zonemap_stream.py`)
maintains the same index incrementally and matches it at any batch
split because MIN/MAX/SUM are associative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# one clash-guard definition repo-wide (also used by the shard and
# compaction modules) so the error contract cannot drift
from dataflow_flex_templates_spark.operators.shard import _check_clash


def _stat_names(stat_cols: list[str]) -> list[str]:
    out = ["n_rows"]
    for c in stat_cols:
        out += [f"{c}_min", f"{c}_max", f"{c}_nulls"]
    return out


def zone_map(df: DataFrame, shard_cols: list[str],
             stat_cols: list[str]) -> DataFrame:
    """Per-shard column statistics: one output row per distinct
    ``shard_cols`` tuple carrying ``n_rows`` plus, for every stat
    column ``c``: ``{c}_min`` / ``{c}_max`` (NULL iff the shard has
    no non-null value of ``c``) and ``{c}_nulls``.

    Scale: one Exchange on ``shard_cols``; every aggregate has a
    partial implementation so the map side combines to |shards|
    rows before the shuffle. Stat columns must be orderable (any
    atomic Spark type); the payload column of an audio table is not
    — index its metadata (``dur_ms``, ``sr_hz``, byte length), never
    ``bytes`` itself.
    """
    if not shard_cols or not stat_cols:
        raise ValueError("shard_cols and stat_cols must be non-empty")
    for name, cols in (("shard_cols", shard_cols), ("stat_cols", stat_cols)):
        dups = sorted({c for c in cols if cols.count(c) > 1})
        if dups:
            raise ValueError(f"duplicate {name}: {dups}")
    _check_clash(df.select(*shard_cols), *_stat_names(stat_cols))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in stat_cols:
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
             .cast("long").alias(f"{c}_nulls"),
        ]
    return df.groupBy(*shard_cols).agg(*aggs)


def prune_shards(zmap: DataFrame, col: str, lo=None, hi=None,
                 include_nulls: bool = False) -> DataFrame:
    """The zone map with a ``might_match`` flag for the predicate
    ``lo <= col <= hi`` (either bound may be None = unbounded;
    ``include_nulls`` additionally keeps shards holding NULLs, for
    predicates that match NULL such as ``c IS NULL OR ...``).

    Soundness rule: a shard can be skipped only when its bounds
    PROVE emptiness — ``max < lo`` or ``min > hi`` over the non-null
    values (an all-null shard has NULL bounds and proves itself
    empty of non-null matches). Downstream: ``filter(might_match)``
    then join the surviving shard ids back to the scan — at scale
    this is Iceberg's manifest pruning expressed over the index
    table, and the index side is |shards|-sized, so the join
    broadcasts.
    """
    missing = [c for c in _stat_names([col])[1:] if c not in zmap.columns]
    if missing:
        raise ValueError(
            f"zone map has no stats for {col!r}: missing {missing}")
    mn, mx = F.col(f"{col}_min"), F.col(f"{col}_max")
    overlap = mn.isNotNull()
    if lo is not None:
        overlap = overlap & (mx >= F.lit(lo))
    if hi is not None:
        overlap = overlap & (mn <= F.lit(hi))
    flag = overlap
    if include_nulls:
        flag = flag | (F.col(f"{col}_nulls") > 0)
    return zmap.withColumn("might_match", flag)
