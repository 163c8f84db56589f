"""Exact distributed order statistics — quantiles without a sort.

The classic way to take an exact median of 10^12 rows is a global
sort: one full-payload range Exchange, the single most expensive plan
shape Spark has. But an exact nearest-rank quantile only needs the
CDF at O(log range) probe points: binary-search the VALUE SPACE, one
`count(x <= mid)` aggregate per step (distributed selection — the
Blum et al./`k`-th-element lineage, in its value-bisection form for
integer domains). Each step is a shuffle-free scan: partial counts
combine map-side, a single scalar row reaches the driver; memory per
executor is O(1), and the column-pruned scan is the entire cost —
``log2(range)`` passes, typically 30-40, each embarrassingly
parallel, versus a sort's full network round trip of the data.

All requested probes share each pass (one conditional-sum column per
unresolved probe), so the pass count is the MAX of the per-probe
searches, not the sum.

This is the EXACT path in the repo's quantile family: bottom-k gives
a one-pass mergeable sample (`sketch.bottomk_quantiles`), histograms
give windowed streaming drift (`sketch.histogram_quantile`), and this
gives bit-exact answers with zero shuffle when exactness is the
contract (SLA percentiles, curriculum duration cut points). Nearest
rank is ``1 + (p·(n-1)) div 1000`` — the same integer read-off as
``bottomk_quantiles``, so the two paths agree on their shared probes
by construction. Integer-valued columns only (the bisection needs a
discrete total order; quantize floats first, e.g. to cents, the
repo-wide convention).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@contextmanager
def _persisted(df: DataFrame):
    """Cache ``df`` for the block: every bisection pass re-reads it,
    and without the cache each of the 30-40 passes re-runs the
    upstream lineage (joins, UDFs) of a derived input."""
    df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def exact_quantiles(df: DataFrame, value_col: str,
                    probs_permille: list[int]) -> DataFrame:
    """Exact nearest-rank quantiles of an integer column, one row per
    probe: ``(p_permille, q_value)`` where ``q_value`` is the
    smallest value whose CDF reaches rank ``1 + (p·(n-1)) div 1000``
    over the non-NULL rows — always an actual data value.

    Driver-side loop, executor-side work: each iteration is ONE
    aggregate job (no shuffle — partial sums combine map-side) that
    advances every unresolved probe's binary search at once; at most
    ``ceil(log2(max - min + 1)) + 1`` iterations total.
    """
    probs = [int(p) for p in probs_permille]
    bad = [p for p in probs if not 0 <= p <= 1000]
    if bad:
        raise ValueError(
            f"probs_permille must be in [0, 1000], got {bad}")
    if len(set(probs)) != len(probs):
        raise ValueError(f"duplicate probes: {sorted(probs)}")
    spark = df.sparkSession
    out_schema = "p_permille long, q_value long"
    vals = (df.select(F.col(value_col).cast("long").alias("v"))
            .where(F.col("v").isNotNull()))
    with _persisted(vals):
        head = vals.agg(F.count(F.lit(1)).alias("n"),
                        F.min("v").alias("lo"),
                        F.max("v").alias("hi")).first()
        n = head["n"]
        if n == 0:
            return spark.createDataFrame([], out_schema)
        ranks = {p: 1 + (p * (n - 1)) // 1000 for p in probs}
        # invariant per probe: the answer lies in [lo, hi]
        bounds = {p: [head["lo"], head["hi"]] for p in probs}
        while True:
            mids = {p: (lo + hi) // 2
                    for p, (lo, hi) in bounds.items() if lo < hi}
            if not mids:
                break
            row = vals.agg(*[
                F.sum(F.when(F.col("v") <= F.lit(m), 1).otherwise(0))
                 .alias(f"c{p}") for p, m in mids.items()]).first()
            for p, m in mids.items():
                if row[f"c{p}"] >= ranks[p]:
                    bounds[p][1] = m      # answer is <= mid
                else:
                    bounds[p][0] = m + 1  # CDF too small: answer > mid
        return spark.createDataFrame(
            [(p, bounds[p][0]) for p in probs], out_schema)


def exact_quantiles_grouped(df: DataFrame, value_col: str,
                            group_col: str,
                            probs_permille: list[int],
                            max_groups: int = 10_000) -> DataFrame:
    """Per-group exact nearest-rank quantiles — e.g. duration cut
    points per codec for curriculum binning — by running EVERY
    group's and probe's binary search simultaneously:
    ``(group_col, p_permille, q_value)``.

    Each iteration: broadcast-join the |unresolved (group, probe)|
    midpoint table (map-side, no payload shuffle), then one hash agg
    whose partials combine map-side — shuffle volume is
    |groups × probes| scalar rows per pass, never data. Pass count is
    the MAX over groups of ``log2(group range)``. The scan cost per
    pass is |rows × unresolved probes per group| conditional sums —
    bounded by the probe count, the price of exactness without a
    per-group sort (which would range-Exchange the full payload).

    ``group_col`` cardinality must be driver-bounded (codecs,
    languages, shards — not user ids): bounds live driver-side like
    pagerank's convergence state; ``max_groups`` guards the contract.
    NULL groups and NULL values are excluded.
    """
    probs = [int(p) for p in probs_permille]
    bad = [p for p in probs if not 0 <= p <= 1000]
    if bad:
        raise ValueError(
            f"probs_permille must be in [0, 1000], got {bad}")
    if len(set(probs)) != len(probs):
        raise ValueError(f"duplicate probes: {sorted(probs)}")
    spark = df.sparkSession
    vals = (df.select(F.col(group_col).alias("g"),
                      F.col(value_col).cast("long").alias("v"))
            .where(F.col(group_col).isNotNull()
                   & F.col(value_col).isNotNull()))
    with _persisted(vals):
        g_field = vals.schema.fields[0]
        heads = vals.groupBy("g").agg(
            F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"),
            F.max("v").alias("hi")).collect()
        if len(heads) > max_groups:
            raise ValueError(
                f"{len(heads)} groups exceeds max_groups={max_groups} — "
                f"grouped bisection keeps per-group bounds driver-side; "
                f"use bottomk_quantiles for high-cardinality groups")
        # bounds[(g, p)] = [lo, hi]; rank r = 1 + (p*(n-1)) div 1000
        ranks, bounds = {}, {}
        for h in heads:
            for p in probs:
                ranks[(h["g"], p)] = 1 + (p * (h["n"] - 1)) // 1000
                bounds[(h["g"], p)] = [h["lo"], h["hi"]]
        from pyspark.sql.types import (
            LongType,
            StructField,
            StructType,
        )

        mid_schema = StructType([
            g_field, StructField("p", LongType()),
            StructField("mid", LongType())])
        while True:
            mids = [(g, p, (lo + hi) // 2)
                    for (g, p), (lo, hi) in bounds.items() if lo < hi]
            if not mids:
                break
            mdf = spark.createDataFrame(mids, mid_schema)
            counted = (vals.join(F.broadcast(mdf), on="g")
                       .groupBy("g", "p")
                       .agg(F.sum(F.when(F.col("v") <= F.col("mid"), 1)
                                  .otherwise(0)).alias("c"),
                            F.first("mid").alias("mid")).collect())
            for r in counted:
                key = (r["g"], r["p"])
                if r["c"] >= ranks[key]:
                    bounds[key][1] = r["mid"]
                else:
                    bounds[key][0] = r["mid"] + 1
        out_schema = StructType([
            g_field, StructField("p_permille", LongType()),
            StructField("q_value", LongType())])
        return spark.createDataFrame(
            [(g, p, bounds[(g, p)][0]) for (g, p) in sorted(
                bounds, key=repr)], out_schema) \
            .withColumnRenamed("g", group_col)
