"""Incremental (streaming) connected components over near-dup pairs.

The batch operator (`operators/dedup.py cluster_duplicates`) rebuilds
component labels from the full pair set — O(log diameter) rounds of
min-label propagation over EVERY edge. A continuous dedup pipeline
cannot re-run that over 10^12 accumulated pairs per micro-batch; the
production pattern implemented here is an out-of-core union-find
split into two stores folded per batch:

- ``node_labels`` (id, first_rep): APPEND-ONLY — each node is written
  exactly once, at first sight, with the root its component had in
  that batch. Never rewritten, never re-read beyond keyed lookups of
  the current batch's node ids.
- ``rep_root`` (rep, root): the union-find forest over historical
  roots, kept fully PATH-COMPRESSED (every row points directly at its
  current root) by composing each batch's merge mapping into it. Its
  size is the number of roots ever minted (≤ one per component ever
  created), and the rows rewritten per batch are only those whose
  root was merged this batch.

Per micro-batch fold (`cc_apply_batch`):

1. resolve the batch's endpoint ids to current roots — one keyed
   lookup join against ``node_labels`` (batch-sized, not
   store-sized) composed with the broadcast ``rep_root``; ids never
   seen before resolve to themselves;
2. CONTRACT the batch's edges to root space and drop loops — edges
   inside an existing component vanish here, so a re-delivered
   duplicate pair costs nothing downstream;
3. run the batch-local `cluster_duplicates` on the contracted edges
   (batch-bounded input, so the propagation loop is over a graph the
   size of ONE micro-batch) → a merge mapping old_root → new_root;
4. compose the mapping into ``rep_root`` (broadcast hash join, no
   shuffle of the store) and append newly-minted roots;
5. append first-sight rows for the batch's new ids.

Labels read-out: ``node_labels ⋈ rep_root`` on first_rep (rep_root
broadcasts) → (id, cluster_rep).

Correctness: roots are always the MINIMUM id of their component
(cluster_duplicates guarantees it per batch over contracted node ids
that are themselves component minima, and min is associative), so
fold(any batch split of the pairs) == cluster_duplicates(all pairs)
exactly — the associativity law pinned by
tests/test_streaming.py::test_cc_incremental_equals_batch (chunk
sizes 1 and 4) and held to the batch row's recursive-CTE DuckDB
oracle by the driver row `stream_cc`.

Scale shape per micro-batch: one keyed-lookup join sized by the
batch, one contracted-CC loop sized by the batch, one broadcast
compose over ``rep_root``. Nothing ever re-reads the accumulated
pairs or rewrites ``node_labels``; at 10^12 pairs both stores live
in a keyed table (Iceberg MERGE) and the per-batch MERGE touches
O(batch + merged-roots) rows. Reference parity: this is the
streaming continuation of the MERGE-dedup node construction
(CypherGenerator.java MERGE-on-keys), applied to the dedup-grouping
stage of a training pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataflow_flex_templates_spark.operators.dedup import (
    cluster_duplicates,
)


def resolve_labels(node_labels: DataFrame,
                   rep_root: DataFrame) -> DataFrame:
    """(id, cluster_rep) for every id ever seen: one broadcast join —
    ``rep_root`` is path-compressed, so resolution is a single hop."""
    r = F.broadcast(rep_root.select(F.col("rep"),
                                    F.col("root").alias("cluster_rep")))
    return (node_labels.join(r, node_labels["first_rep"] == r["rep"],
                             "left")
            .select(F.col("id"),
                    F.coalesce(F.col("cluster_rep"),
                               F.col("first_rep")).alias("cluster_rep")))


def cc_apply_batch(batch_pairs: DataFrame, node_labels: DataFrame,
                   rep_root: DataFrame, max_iters: int = 25,
                   ) -> tuple[DataFrame, DataFrame]:
    """Fold one micro-batch of undirected pairs (id_a, id_b) into the
    incremental CC store.

    ``node_labels``: (id long, first_rep long), append-only.
    ``rep_root``:    (rep long, root long), path-compressed.

    Returns ``(new_node_rows, new_rep_root)``: rows to APPEND to
    ``node_labels``, and the replacement ``rep_root`` (callers using
    a keyed store MERGE only the changed/new rows; `streaming/fold.py`
    commits it as a snapshot per batch — it is roots-sized, not
    nodes-sized).
    """
    edges = (batch_pairs
             .select(F.col("id_a").cast("long").alias("a"),
                     F.col("id_b").cast("long").alias("b"))
             .where(F.col("a") != F.col("b")))
    batch_ids = (edges.select(F.col("a").alias("id"))
                 .unionByName(edges.select(F.col("b").alias("id")))
                 .distinct())

    # 1. resolve to current roots: known ids hop first_rep → root
    #    (rep_root is compressed: one hop suffices); new ids are their
    #    own root. The join against node_labels is keyed by the
    #    BATCH's ids — a state-store point-lookup shape.
    known = (batch_ids.join(node_labels, "id")
             .join(F.broadcast(rep_root),
                   F.col("first_rep") == F.col("rep"), "left")
             .select(F.col("id"),
                     F.coalesce(F.col("root"),
                                F.col("first_rep")).alias("cur")))
    resolved = (batch_ids.join(known, "id", "left")
                .select(F.col("id"),
                        F.coalesce(F.col("cur"), F.col("id"))
                        .alias("cur"),
                        F.col("cur").isNull().alias("is_new"))
                .localCheckpoint(eager=True))

    # 2. contract to root space; loops (same-component pairs) vanish
    ra = resolved.select(F.col("id").alias("a"),
                         F.col("cur").alias("ra"))
    rb = resolved.select(F.col("id").alias("b"),
                         F.col("cur").alias("rb"))
    contracted = (edges.join(ra, "a").join(rb, "b")
                  .where(F.col("ra") != F.col("rb"))
                  .select(F.col("ra").alias("id_a"),
                          F.col("rb").alias("id_b"))
                  .distinct())

    # 3. batch-local CC over the contracted (batch-bounded) graph →
    #    merge mapping old_root → new_root (= min id, preserving the
    #    root-is-component-min invariant)
    mapping = (cluster_duplicates(contracted, max_iters=max_iters)
               .select(F.col("id").alias("m_rep"),
                       F.col("cluster_rep").alias("m_root"))
               .localCheckpoint(eager=True))

    # 4. compose into rep_root: a store row whose root was merged away
    #    this batch re-points at the new root (broadcast hash join —
    #    mapping is batch-bounded — so the store is scanned, never
    #    shuffled). Rows stay one-hop compressed because mapping
    #    values are FINAL roots for this batch.
    m = F.broadcast(mapping)
    composed = (rep_root.join(m, rep_root["root"] == m["m_rep"], "left")
                .select(F.col("rep"),
                        F.coalesce(F.col("m_root"),
                                   F.col("root")).alias("root")))

    # 5. first-sight node rows: new ids, labeled with this batch's
    #    final root (mapping covers every contracted endpoint; an id
    #    absent from it kept its resolved root)
    new_node_rows = (resolved.where("is_new")
                     .join(m, resolved["cur"] == m["m_rep"], "left")
                     .select(F.col("id"),
                             F.coalesce(F.col("m_root"), F.col("cur"))
                             .alias("first_rep")))

    # 6. mint (root, root) rows for roots new to the forest: only
    #    FINAL roots enter the store — one row per component ever
    #    created, NOT one per contracted node — which is what keeps
    #    rep_root roots-sized. Every first_rep value ever appended to
    #    node_labels is covered (new rows' first_rep unioned in
    #    defensively, though it always equals some m_root).
    existing_reps = rep_root.select("rep")
    minted = (mapping.select(F.col("m_root").alias("rep"))
              .unionByName(new_node_rows.select(
                  F.col("first_rep").alias("rep")))
              .distinct()
              .join(F.broadcast(existing_reps), "rep", "left_anti")
              .withColumn("root", F.col("rep")))
    new_rep_root = composed.unionByName(minted)
    return new_node_rows, new_rep_root
