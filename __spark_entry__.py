"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship spec-driven graph job at sf0.001.
``queries()`` — one entry per implemented operator family
(SURVEY.md §2 + training-data pipeline ops), each a callable
(spark, sf_dir) → DataFrame.
``oracle_sql()`` — DuckDB-equivalent SQL for every SQL-expressible
query (same column names/aliases both sides). Non-SQL-expressible ops
(streaming state, LSH approximations, audio decode) ship without an
oracle → rows-only check; their exact semantics are pytest-verified
against numpy/DuckDB oracles in tests/.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_flex_templates_spark.streaming.fold import (
    await_or_raise,
    run_fold,
)

# --------------------------------------------------------------------------
# Flagship job spec: the reference's northwind 3-target shape re-expressed
# over the TPC-H-ish testdata (orders ⋈ lineitem ⋈ customer as the SQL
# source, S1) — Customer nodes (group dedup), Part nodes (aggregations),
# ORDERED edges (aggregations keyed on customer+part).
# --------------------------------------------------------------------------

FLAGSHIP_SPEC = {
    "config": {"node_write_batch_size": 5000, "edge_write_batch_size": 1000},
    "sources": [{
        "type": "bigquery",     # = SQL-text source, executed as spark.sql
        "name": "order_lines",
        "query": """
            SELECT c.c_custkey, c.c_name, c.c_mktsegment, c.c_acctbal,
                   l.l_partkey, l.l_quantity, l.l_extendedprice, l.l_discount,
                   o.o_orderkey, o.o_orderdate
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
        """,
    }],
    "targets": [
        {"node": {
            "source": "order_lines", "name": "Customer", "mode": "merge",
            "transform": {"group": True},
            "mappings": {
                "labels": ["\"Customer\""],
                "keys": [{"c_custkey": "custkey"}],
                "properties": {"strings": [{"c_name": "name"},
                                           {"c_mktsegment": "mktsegment"}]},
            },
        }},
        {"node": {
            "source": "order_lines", "name": "Part", "mode": "merge",
            "transform": {
                "group": True,
                "aggregations": [
                    {"expr": "SUM(l_extendedprice*(1-l_discount))",
                     "field": "revenue"},
                    {"expr": "SUM(l_quantity)", "field": "total_qty"},
                ],
            },
            "mappings": {
                "labels": ["\"Part\""],
                "keys": [{"l_partkey": "partkey"}],
                "properties": {"doubles": [{"revenue": "revenue"},
                                           {"total_qty": "total_qty"}]},
            },
        }},
        {"edge": {
            "source": "order_lines", "name": "ORDERED", "mode": "merge",
            "transform": {
                "group": True,
                "aggregations": [
                    {"expr": "SUM(l_quantity)", "field": "qty"},
                    {"expr": "COUNT(*)", "field": "n_lines"},
                ],
            },
            "mappings": {
                "type": "\"ORDERED\"",
                "source": {"label": "\"Customer\"", "key": {"c_custkey": "custkey"}},
                "target": {"label": "\"Part\"", "key": {"l_partkey": "partkey"}},
                "properties": {"doubles": [{"qty": "qty"}],
                               "longs": [{"n_lines": "n_lines"}]},
            },
        }},
    ],
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _load(spark: SparkSession, sf_dir: str) -> None:
    for t in TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _write_chunks(spark: SparkSession, pdf, schema, path: str,
                  rows_per_file: int) -> None:
    """Append ``pdf`` to ``path`` as one parquet file per
    ``rows_per_file`` rows, in row order: a file stream reading it with
    ``maxFilesPerTrigger`` replays it in exactly those micro-batches."""
    for i in range(0, len(pdf), rows_per_file):
        spark.createDataFrame(pdf.iloc[i:i + rows_per_file], schema=schema) \
            .coalesce(1).write.mode("append").parquet(path)


def _run_flagship(spark: SparkSession, sf_dir: str):
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    spec = parse_job_spec(json.dumps(FLAGSHIP_SPEC))
    return run_job(spark, spec)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _run_flagship(spark, "/root/testdata/sf0.001").nodes


# --------------------------------------------------------------------------
# queries() — driver-checkable operator inventory
# --------------------------------------------------------------------------

def _q_jobspec_customer_nodes(spark, sf_dir):
    res = _run_flagship(spark, sf_dir)
    return res.target_frames["Customer"].select(
        F.col("custkey"), F.col("name"), F.col("mktsegment"))


def _q_jobspec_part_nodes_agg(spark, sf_dir):
    res = _run_flagship(spark, sf_dir)
    return res.target_frames["Part"].select(
        "partkey", F.round("revenue", 4).alias("revenue"), "total_qty")


def _q_jobspec_ordered_edges(spark, sf_dir):
    res = _run_flagship(spark, sf_dir)
    return res.target_frames["ORDERED"].select(
        "custkey", "partkey", "qty", "n_lines")


def _q_graph_degrees(spark, sf_dir):
    """Graph analytics over the engine's own output: out-degree
    distribution of the flagship Purchases graph (distinct products
    per customer → nodes per degree). Two hash aggs over the edge
    frame — the sanity profile every graph load should publish."""
    res = _run_flagship(spark, sf_dir)
    edges = res.target_frames["ORDERED"]
    deg = (edges.groupBy("custkey")
           .agg(F.count_distinct("partkey").alias("out_degree")))
    return (deg.groupBy("out_degree")
            .agg(F.count("*").alias("n_nodes"))
            .orderBy("out_degree"))


def _q_where_order_limit(spark, sf_dir):
    """P4 WHERE + A1 group + O1 order + O3 limit through the generated
    SQL of a spec target."""
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    spec = parse_job_spec(json.dumps({
        "sources": [{"type": "bigquery", "name": "s",
                     "query": "SELECT o_custkey, o_totalprice, o_orderstatus FROM orders"}],
        "targets": [{"node": {
            "source": "s", "name": "Big", "mode": "append",
            "transform": {"group": True,
                          "aggregations": [
                              {"expr": "SUM(o_totalprice)", "field": "spend"},
                              {"expr": "COUNT(*)", "field": "n_orders"}],
                          "where": "o_orderstatus = 'F'",
                          "order_by": "spend DESC, o_custkey ASC",
                          "limit": 50},
            "mappings": {"labels": ["\"C\""], "keys": [{"o_custkey": "custkey"}],
                         "properties": {"doubles": [{"spend": "spend"}],
                                        "longs": [{"n_orders": "n_orders"}]}},
        }}],
    }))
    out = run_job(spark, spec).target_frames["Big"]
    return out.select("custkey", F.round("spend", 4).alias("spend"), "n_orders")


def _q_cast_expand(spark, sf_dir):
    """P5 typed casting: all-string source → typed target row with
    try_cast null-on-failure + P2 constant injection."""
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    strings = spark.sql("""
        SELECT CAST(o_orderkey AS STRING) AS ok,
               CAST(o_totalprice AS STRING) AS price,
               CASE WHEN o_orderkey % 7 = 0 THEN 'oops'
                    ELSE CAST(o_orderdate AS STRING) END AS odate
        FROM orders""")
    strings.createOrReplaceTempView("orders_str")
    spec = parse_job_spec(json.dumps({
        "sources": [{"type": "bigquery", "name": "s",
                     "query": "SELECT * FROM orders_str"}],
        "targets": [{
            "name": "O", "type": "node", "source": "s", "mode": "append",
            "mappings": [
                {"constant": "Order", "name": "Order", "role": "label"},
                {"field": "ok", "name": "orderkey", "role": "key", "type": "Long"},
                {"field": "price", "name": "price", "role": "property", "type": "Float"},
                {"field": "odate", "name": "odate", "role": "property", "type": "Date"},
                {"constant": "northwind", "name": "src_system",
                 "role": "property", "type": "String"},
            ],
        }],
    }))
    return run_job(spark, spec).target_frames["O"].select(
        "orderkey", F.round("price", 4).alias("price"),
        F.col("odate").cast("string").alias("odate"), "src_system")


def _q_merge_lww(spark, sf_dir):
    """A4/W2 MERGE last-writer-wins dedup on a natural key with the
    deterministic (ordinal) tie-break: latest event per user wins."""
    from dataflow_flex_templates_spark.plans.compiler import ORDINAL_COL
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    ev = (spark.table("events")
          .withColumn(ORDINAL_COL,
                      F.col("event_id").cast("long")))  # arrival = event_id
    spec = parse_job_spec(json.dumps({
        "sources": [{"type": "bigquery", "name": "s", "query": "SELECT 1"}],
        "targets": [{"node": {
            "source": "s", "name": "U", "mode": "merge",
            "mappings": {"labels": ["\"User\""], "keys": [{"user_id": "user_id"}],
                         "properties": {"strings": [{"event_type": "last_event_type"}],
                                        "doubles": [{"value": "last_value"}]}},
        }}],
    }))
    out = run_job(spark, spec, source_frames={"s": ev}).target_frames["U"]
    return out.select("user_id", "last_event_type",
                      F.round("last_value", 4).alias("last_value"))


def _q_tumbling_window(spark, sf_dir):
    from dataflow_flex_templates_spark.streaming.windows import tumbling_agg

    _load(spark, sf_dir)
    out = tumbling_agg(spark.table("events"), "ts", "1 hour", ["event_type"],
                       {"n": "count(*)", "total_value": "round(sum(value), 4)"})
    return out.select(F.unix_micros(F.col("window_start").cast("timestamp")).alias("window_start"),
                      "event_type", "n", "total_value")


def _q_windowed_topk(spark, sf_dir):
    """Windowed heavy hitters (SURVEY §2.10 extension): top-5 users by
    event count per 1-hour tumbling window, ties broken by user_id.
    Streaming exactness of the same operator (rank applied per
    micro-batch over the append-mode count stream) is pytest-proven
    in tests/test_streaming.py; this is the batch plan."""
    from dataflow_flex_templates_spark.streaming.windows import (
        topk_per_window,
    )

    _load(spark, sf_dir)
    out = topk_per_window(spark.table("events"), "ts", "1 hour",
                          "user_id", 5)
    return out.select(
        F.unix_micros(F.col("window_start").cast("timestamp"))
         .alias("window_start"),
        "user_id",
        F.col("n").cast("long").alias("n"),
        F.col("rank").cast("long").alias("rank"))


def _q_sliding_window(spark, sf_dir):
    from dataflow_flex_templates_spark.streaming.windows import sliding_agg

    _load(spark, sf_dir)
    out = sliding_agg(spark.table("events"), "ts", "2 hours", "1 hour",
                      ["event_type"], {"n": "count(*)"})
    return out.select(F.unix_micros(F.col("window_start").cast("timestamp")).alias("window_start"),
                      "event_type", "n")


def _q_session_window(spark, sf_dir):
    from dataflow_flex_templates_spark.streaming.windows import session_agg

    _load(spark, sf_dir)
    out = session_agg(spark.table("events"), "ts", "5 minutes", ["user_id"],
                      {"n": "count(*)", "total_value": "round(sum(value), 4)"})
    return out.select(F.unix_micros(F.col("window_start").cast("timestamp")).alias("window_start"),
                      "user_id", "n", "total_value")


def _q_text_profile(spark, sf_dir):
    from dataflow_flex_templates_spark.operators.text import text_profile

    _load(spark, sf_dir)
    return text_profile(spark.table("documents")).select(
        "doc_id", "n_tokens", "fp", "punct_ratio", "stopword_ratio",
        "quality", "lang_pred")


def _q_lang_id_ngram(spark, sf_dir):
    """N-gram (character-trigram profile) language ID over documents —
    the multi-language upgrade of text_profile's lang_pred: per-language
    trigram occurrence counts via pure replace() arithmetic (JVM
    whole-stage codegen), argmax with fixed tie-break priority."""
    from dataflow_flex_templates_spark.operators.text import lang_id_ngram

    _load(spark, sf_dir)
    return lang_id_ngram(spark.table("documents"))


def _q_repetition_profile(spark, sf_dir):
    """Gopher-style repetition filters: top-word character fraction +
    duplicated-2-gram character fraction per document (the repetition
    half of the Gopher quality rules; gopher_quality covers the
    length/symbol half)."""
    from dataflow_flex_templates_spark.operators.text import (
        repetition_profile,
    )

    _load(spark, sf_dir)
    return repetition_profile(spark.table("documents"))


def _q_pii_scan(spark, sf_dir):
    """PII scan + mask over documents with deterministic synthetic PII
    spliced in (the raw corpus has none): doc_id % 7 gains an email,
    % 11 a phone, % 13 an ipv4 — derived identically in the oracle, so
    counts AND the masked-text md5 are exact cross-engine checks."""
    from dataflow_flex_templates_spark.operators.text import pii_scan

    _load(spark, sf_dir)
    d = spark.table("documents")
    t2 = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" reach user_"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit(" call 555-123-4567")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 13 == 0,
               F.lit(" ip 10.0.0.1")).otherwise(F.lit("")))
    return pii_scan(d.select("doc_id", t2.alias("text")))


_SAMPLE_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.1}


def _q_stratified_sample(spark, sf_dir):
    """Deterministic per-source sampling (the training-mix knob):
    membership = md5-prefix threshold on doc_id — a pure function of
    the key, identical across engines/partitionings/retries, so the
    DuckDB oracle recomputes the same predicate from the same
    fractions (operators/sampling.py)."""
    from dataflow_flex_templates_spark.operators.sampling import (
        stratified_sample,
    )

    _load(spark, sf_dir)
    return stratified_sample(
        spark.table("documents"), _SAMPLE_FRACTIONS,
        default_fraction=0.25).select("doc_id", "source")


def _q_gopher_quality(spark, sf_dir):
    """Gopher-rules-style quality flags + keep decision (one scan,
    all-JVM expressions)."""
    from dataflow_flex_templates_spark.operators.text import gopher_flags

    _load(spark, sf_dir)
    return gopher_flags(spark.table("documents")).select(
        "doc_id", "flag_too_few_tokens", "flag_mean_word_len",
        "flag_symbol_heavy", "flag_ellipsis_lines", "flag_no_stopwords",
        "keep")


def _q_token_counts(spark, sf_dir):
    """Token counting two ways: whitespace + BPE-ish GPT-2 pre-tokenizer
    regex (LLM token budgeting without a merges table)."""
    from dataflow_flex_templates_spark.operators.text import (
        bpe_token_count,
        token_count,
    )

    _load(spark, sf_dir)
    d = spark.table("documents")
    return d.select("doc_id",
                    token_count(F.col("text")).alias("ws_tokens"),
                    bpe_token_count(F.col("text")).alias("bpe_tokens"))


def _q_vocabulary(spark, sf_dir):
    """Top-200 corpus vocabulary (occurrences + doc frequency,
    deterministic tie-break) — explode → hash agg →
    TakeOrderedAndProject. Oracle: the same algebra in genuine SQL."""
    from dataflow_flex_templates_spark.operators.text import vocabulary

    _load(spark, sf_dir)
    return vocabulary(spark.table("documents"), k=200)


def _q_curriculum_bins(spark, sf_dir):
    """Curriculum binning: documents assigned to length deciles via
    ntile(10) under a TOTAL order (n_chars, doc_id) — ANSI ntile
    semantics (bucket sizes differ by at most one, earlier buckets
    take the remainder) are engine-identical given a total order.
    Pure built-in window; one shuffle. Oracle: the same ntile SQL."""
    _load(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_chars").asc(), F.col("doc_id").asc())
    return (spark.table("documents")
            .select("doc_id", F.col("n_chars").cast("long")
                    .alias("n_chars"))
            .withColumn("decile", F.ntile(10).over(w).cast("long")))


def _q_vocab_coverage(spark, sf_dir):
    """Tokenizer-economics curve: cumulative corpus-token coverage
    permille by vocabulary rank (top-30 head) — array-side total (no
    second explode), broadcast scalar, k-row cumsum window. Oracle:
    the same cumulative algebra in SQL."""
    from dataflow_flex_templates_spark.operators.text import (
        vocabulary_coverage,
    )

    _load(spark, sf_dir)
    return vocabulary_coverage(spark.table("documents"), k=30)


def _q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling (training-mix upweighting):
    50 documents drawn with probability increasing in n_chars —
    integer priorities (md5-prefix uniform // weight) so the SQL
    oracle replays the exact selection. Plans as
    TakeOrderedAndProject (no full-input shuffle)."""
    from dataflow_flex_templates_spark.operators.sampling import (
        weighted_sample,
    )

    _load(spark, sf_dir)
    out = weighted_sample(spark.table("documents"), k=50,
                          weight_col="n_chars")
    return out.select("doc_id", "n_chars", "priority_q")


def _q_salient_terms(spark, sf_dir):
    """Top-3 salient terms per document — TF-IDF family with an
    integer rarity weight (scale // df) so scores are exactly
    reproducible cross-engine (log-IDF rides libm rounding). One tf
    agg + one broadcast-able df agg + a WindowGroupLimit top-k.
    Oracle: the identical integer algebra in SQL."""
    from dataflow_flex_templates_spark.operators.text import salient_terms

    _load(spark, sf_dir)
    return salient_terms(spark.table("documents"), k=3)


def _q_oov_rate(spark, sf_dir):
    """Per-doc OOV stats against the top-10 corpus vocabulary —
    broadcast vocab join, integer counts. Oracle: the same two-stage
    algebra in genuine SQL."""
    from dataflow_flex_templates_spark.operators.text import (
        oov_stats,
        vocabulary,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents")
    return oov_stats(docs, vocabulary(docs, k=10))


def _q_corpus_health(spark, sf_dir):
    """Multi-level corpus composition (ROLLUP over lang × source with
    explicit grouping bits; exact-integer measures). One Expand +
    single partial/final hash agg — the provenance-mix monitor a
    curation pipeline runs per snapshot. Oracle: the identical ROLLUP
    in DuckDB SQL."""
    from dataflow_flex_templates_spark.operators.text import corpus_health

    _load(spark, sf_dir)
    return corpus_health(spark.table("documents"))


def _q_pivot_lang_matrix(spark, sf_dir):
    """Explicit-values PIVOT: source × lang matrix of doc counts and
    n_chars totals with row margins — ONE partial+final hash agg over
    CASE expressions, no distinct-discovery pass, schema bounded by
    the declared value list. Oracle: the identical CASE algebra."""
    from dataflow_flex_templates_spark.operators.relational import (
        pivot_matrix,
    )

    _load(spark, sf_dir)
    return pivot_matrix(spark.table("documents"), "source", "lang",
                        ["de", "en", "es", "fr", "zh"], "n_chars")


def _q_ewma_chars(spark, sf_dir):
    """Per-source integer EWMA over the doc_id-ordered n_chars series
    — the whole recurrence runs JVM-side (array_sort + aggregate fold
    + posexplode), no Python kernel. Oracle: the same truncating
    recurrence as a DuckDB recursive CTE."""
    from dataflow_flex_templates_spark.operators.temporal import (
        ewma_smooth,
    )

    _load(spark, sf_dir)
    return ewma_smooth(spark.table("documents"), "source", "doc_id",
                       "n_chars", alpha_num=3, alpha_den=10)


def _q_ewma_stream_chars(spark, sf_dir):
    """The streaming twin of ewma_chars: documents replayed as a
    chunked file stream (event_time = EPOCH + doc_id s, injective and
    order-preserving), smoothed by the watermark-gated
    applyInPandasWithState EWMA whose carry survives micro-batch
    boundaries. Per-source flush rows far past the end finalize every
    real row, then are filtered out. Oracle: the SAME recursive CTE
    as the batch row — the streaming path must land on identical
    smoothed values."""
    import os
    import tempfile
    from datetime import timedelta

    import pandas as pd

    from dataflow_flex_templates_spark.streaming.ewma import ewma_stream
    from dataflow_flex_templates_spark.testing.clips import EPOCH

    _load(spark, sf_dir)
    pdf = (spark.table("documents")
           .select("source", "doc_id", "n_chars")
           .orderBy("doc_id").toPandas())
    pdf["event_time"] = pdf["doc_id"].map(
        lambda d: EPOCH + timedelta(seconds=int(d)))
    pdf = pdf[["source", "event_time", "n_chars"]]
    schema = "source string, event_time timestamp, n_chars long"
    root = tempfile.mkdtemp(prefix="entry_ewma_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, pdf, schema, inp, len(pdf) // 8 + 1)
    far = EPOCH + timedelta(days=30)
    flush = pd.DataFrame(
        [(s, far, 0) for s in sorted(pdf["source"].unique())],
        columns=["source", "event_time", "n_chars"])
    _write_chunks(spark, flush, schema, inp, len(flush))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp)
              .withWatermark("event_time", "10 seconds"))
    out_dir = os.path.join(root, "out")
    q = (ewma_stream(stream, "source", "n_chars")
         .writeStream.outputMode("append").format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", os.path.join(root, "ck"))
         .trigger(availableNow=True).start())
    await_or_raise(q, "ewma_stream_chars")
    epoch_us = int(EPOCH.timestamp()) * 1_000_000
    return (spark.read.parquet(out_dir)
            .filter(F.col("event_time") < F.lit(EPOCH + timedelta(days=1)))
            .select("source",
                    ((F.unix_micros("event_time") - F.lit(epoch_us))
                     / F.lit(1_000_000)).cast("long").alias("doc_id"),
                    F.col("value").alias("n_chars"),
                    "ewma_q"))


def _q_corpus_diff(spark, sf_dir):
    """Snapshot diff between corpus v1 (documents verbatim) and a v2
    derived arithmetically: doc_id%13==0 dropped, doc_id%7!=0 kept
    as-is, doc_id%7==0 edited (' edited' appended), plus new docs
    (doc_id+100000) for doc_id%11==0. One full-outer join on
    (key, md5-fp) — the shuffle carries 32-byte fingerprints, never
    text. Oracle: the identical derivation + CASE in SQL."""
    from dataflow_flex_templates_spark.operators.relational import (
        snapshot_diff,
    )

    _load(spark, sf_dir)
    v1 = spark.table("documents").select("doc_id", "text")
    v2 = spark.sql("""
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN concat(text, ' edited')
                    ELSE text END AS text
        FROM documents WHERE doc_id % 13 != 0
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text
        FROM documents WHERE doc_id % 11 = 0
    """)
    return snapshot_diff(v1, v2, ["doc_id"], ["text"])


def _wer_pairs_sql(doc_filter: str = "1=1",
                   table: str = "documents") -> str:
    """(ref, hyp) pair derivation shared by the batch and streaming
    WER rows: every 5th word substituted with 'xxx', every 7th
    deleted, every 11th duplicated — a realistic S/D/I mix, pure
    higher-order-function algebra (zero shuffle). Must mirror
    _wer_oracle_sql's derivation token for token."""
    return rf"""
        WITH base AS (
          SELECT doc_id,
                 lower(regexp_replace(trim(text), '\\s+', ' ')) AS nt
          FROM {table} WHERE {doc_filter}),
        wd AS (
          SELECT doc_id, nt, filter(split(nt, ' '), x -> length(x) > 0) AS w
          FROM base)
        SELECT doc_id, nt AS ref,
               CASE WHEN size(w) = 0 THEN '' ELSE
                 array_join(flatten(transform(sequence(1, size(w)), i ->
                   CASE WHEN i % 7 = 0 THEN slice(w, 1, 0)
                        WHEN i % 11 = 0 THEN array(
                            CASE WHEN i % 5 = 0 THEN 'xxx'
                                 ELSE element_at(w, i) END,
                            CASE WHEN i % 5 = 0 THEN 'xxx'
                                 ELSE element_at(w, i) END)
                        ELSE array(CASE WHEN i % 5 = 0 THEN 'xxx'
                                        ELSE element_at(w, i) END)
                   END)), ' ')
               END AS hyp
        FROM wd
    """


def _q_word_timestamps(spark, sf_dir):
    """Per-word timing interpolation (operators/asr.word_timestamps):
    spread each document's synthetic clip duration (n_chars x 40 ms)
    over its words proportionally to word length, integer-exact. Zero
    shuffle on the Spark side — cumulative offsets are folded INSIDE
    the per-row word array, then posexploded; the oracle recomputes
    the same boundaries with unnest + window cumsum (sums cast to
    BIGINT — DuckDB HUGEINT floats through pandas otherwise)."""
    from dataflow_flex_templates_spark.operators.asr import (
        word_timestamps,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", (F.col("n_chars") * 40).alias("dur_ms"), "text")
    return word_timestamps(docs, "doc_id", "dur_ms", "text")


def _q_subtitle_cues(spark, sf_dir):
    """Subtitle-cue segmentation (operators/asr.subtitle_cues): cut
    each document's interpolated word timeline into 3-second display
    cues with a reading-speed (chars/sec x10) QA column. Zero shuffle
    — timing and cue grouping are folds inside the per-row word array;
    the oracle re-derives the cues by GROUPing the word_timestamps
    algebra BY start_ms // 3000."""
    from dataflow_flex_templates_spark.operators.asr import (
        subtitle_cues,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", (F.col("n_chars") * 40).alias("dur_ms"), "text")
    return subtitle_cues(docs, cue_ms=3000, id_col="doc_id",
                         dur_col="dur_ms", text_col="text")


def _q_subtitle_qa(spark, sf_dir):
    """Per-document subtitle QA rollup — the acceptance gate applied
    after cue generation: cue count, words, how many cues exceed the
    ~20 chars/sec reading-speed bar (cps_x10 > 200), and the worst
    cue's cps. One keyed shuffle on doc_id over the zero-shuffle
    subtitle_cues map; docs whose every cue passes carry qa_pass=1."""
    from dataflow_flex_templates_spark.operators.asr import (
        subtitle_cues,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", (F.col("n_chars") * 40).alias("dur_ms"), "text")
    cues = subtitle_cues(docs, cue_ms=3000)
    return (cues.groupBy("doc_id")
            .agg(F.count("*").alias("n_cues"),
                 F.sum("n_words").alias("n_words"),
                 F.sum(F.when(F.col("cps_x10") > 200, 1)
                       .otherwise(0)).alias("n_fast_cues"),
                 F.max("cps_x10").alias("max_cps_x10"))
            .withColumn("qa_pass",
                        F.when(F.col("n_fast_cues") == 0, F.lit(1))
                        .otherwise(F.lit(0)).cast("int")))


def _q_subtitle_srt(spark, sf_dir):
    """SubRip rendering (operators/asr.srt_render): contiguous 1-based
    sequence numbers per document (row_number over cue_idx — the ONE
    keyed shuffle), the HH:MM:SS,mmm timing line (bigint div/mod +
    C-style padding, identical in both engines), and the assembled
    block. Oracle: row_number + printf over the subtitle_cues CTE."""
    from dataflow_flex_templates_spark.operators.asr import (
        srt_render,
        subtitle_cues,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", (F.col("n_chars") * 40).alias("dur_ms"), "text")
    return srt_render(subtitle_cues(docs, cue_ms=3000))


def _q_mixture_plan(spark, sf_dir):
    """Temperature-based training-mix planning
    (operators/sampling.mixture_plan): per-source token totals
    flattened through share^0.5 and a 10M-token budget split by the
    smoothed weights. One map-side-collapsing hash agg + broadcast
    totals; the double algebra (pow/sum) is IEEE-identical in DuckDB
    to well past the 4-decimal compare rounding."""
    from dataflow_flex_templates_spark.operators.sampling import (
        mixture_plan,
    )

    _load(spark, sf_dir)
    return mixture_plan(spark.table("documents"), "source", "n_chars",
                        alpha=0.5, budget_tokens=10_000_000)


def _q_specaugment_plan(spark, sf_dir):
    """Deterministic SpecAugment mask planning
    (operators/asr.specaugment_plan): one time + one frequency mask
    per clip from a seeded LCG on doc_id — pure bigint algebra, zero
    shuffle, bit-equal across engines. The plan (not the draw) is what
    ships to the masking UDF, so retries and replays mask
    identically."""
    from dataflow_flex_templates_spark.operators.asr import (
        specaugment_plan,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", (F.col("n_chars") * 40).alias("dur_ms"))
    return specaugment_plan(docs)


def _q_stream_srt_emit(spark, sf_dir):
    """Streaming twin of subtitle_srt: documents replayed as a chunked
    file stream, each micro-batch rendered to SRT fields and committed
    exactly once by `run_fold` (streaming/fold.py). The
    pipeline is row-local per DOCUMENT (every cue of a doc derives
    from its one input row, and the srt_seq window partitions by
    doc_id), so batch boundaries cannot split a document's sequence —
    which is exactly what the shared oracle checks: the continuous
    path must land byte-identical to the batch row's SQL."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.operators.asr import (
        srt_render,
        subtitle_cues,
    )

    _load(spark, sf_dir)
    pdf = (spark.table("documents")
           .select("doc_id", (F.col("n_chars") * 40).alias("dur_ms"),
                   "text")
           .orderBy("doc_id").toPandas())
    schema = "doc_id long, dur_ms long, text string"
    root = tempfile.mkdtemp(prefix="entry_srt_stream_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, pdf, schema, inp, len(pdf) // 8 + 1)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    return run_fold(
        spark, stream, os.path.join(root, "fold"),
        lambda batch, _: {"cues": srt_render(subtitle_cues(batch,
                                                           cue_ms=3000))},
        logs={"cues": "doc_id long, srt_seq int, cue_idx long, "
                      "start_ms long, end_ms long, timing string, "
                      "text string, srt_block string"})["cues"]


def _q_stream_mixture_monitor(spark, sf_dir):
    """Windowed training-mix drift monitor: the document stream's
    per-source token share per minute bucket — the continuous
    counterpart of mixture_plan's corpus-wide shares, i.e. the signal
    that tells a pipeline its mix is drifting BEFORE the corpus-level
    plan goes stale. Stateful tumbling window (watermark-gated, append
    mode, flush row past the watermark finalizes the tail bucket, then
    is filtered out); the within-bucket share is a read-side window
    over the already-aggregated (bucket, source) rows. Oracle: GROUP
    BY doc_id//60 (event_time = EPOCH + doc_id s is injective)."""
    import os
    import tempfile
    from datetime import timedelta

    import pandas as pd

    from dataflow_flex_templates_spark.streaming.windows import (
        tumbling_agg,
    )
    from dataflow_flex_templates_spark.testing.clips import EPOCH

    _load(spark, sf_dir)
    pdf = (spark.table("documents").select("source", "doc_id", "n_chars")
           .orderBy("doc_id").toPandas())
    pdf["event_time"] = pdf["doc_id"].map(
        lambda d: EPOCH + timedelta(seconds=int(d)))
    pdf = pdf[["source", "event_time", "n_chars"]]
    schema = "source string, event_time timestamp, n_chars long"
    root = tempfile.mkdtemp(prefix="entry_mixmon_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, pdf, schema, inp, len(pdf) // 8 + 1)
    far = EPOCH + timedelta(days=30)
    flush = pd.DataFrame([("__flush__", far, 0)],
                         columns=["source", "event_time", "n_chars"])
    _write_chunks(spark, flush, schema, inp, len(flush))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    agg = tumbling_agg(stream, "event_time", "60 seconds", ["source"],
                       {"n_docs": "count(*)",
                        "tokens": "sum(n_chars)"},
                       watermark="10 seconds")
    out_dir = os.path.join(root, "out")
    q = (agg.writeStream.outputMode("append").format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", os.path.join(root, "ck"))
         .trigger(availableNow=True).start())
    await_or_raise(q, "stream_mixture_monitor")
    epoch_us = int(EPOCH.timestamp()) * 1_000_000
    got = (spark.read.parquet(out_dir)
           .filter(F.col("source") != "__flush__")
           .select(((F.unix_micros("window_start") - F.lit(epoch_us))
                    / F.lit(60_000_000)).cast("long").alias("win_idx"),
                   "source", "n_docs", "tokens"))
    return got.withColumn(
        "share_ppm",
        F.expr("tokens * 1000000L div "
               "sum(tokens) over (partition by win_idx)"))


def _q_wer_transcripts(spark, sf_dir):
    """Word-error-rate between each document's transcript and a
    deterministically perturbed hypothesis (see _wer_pairs_sql).
    Spark side: Arrow-batched numpy DP kernel (operators/asr.py),
    zero shuffle, vocabulary-independent. Oracle: a COMPLETELY
    different algorithm — each distinct word encoded as one ASCII
    char corpus-wide, then DuckDB's byte-level levenshtein — so
    agreement is a cross-algebra proof (validated: 500/500 docs)."""
    from dataflow_flex_templates_spark.operators.asr import wer_stats

    _load(spark, sf_dir)
    pairs = spark.sql(_wer_pairs_sql())
    return wer_stats(pairs, "ref", "hyp", "doc_id")


def _q_stream_wer(spark, sf_dir):
    """Continuous transcript-revision QA: the reference transcript
    stream and a revised-hypothesis stream (same deterministic S/D/I
    perturbation as wer_transcripts) arrive on two watermarked file
    streams, stream-stream INNER join on clip_id within a 1-minute
    event-time range, then the WER kernel (operators/asr.py) scores
    each joined pair in-stream — the gate an ASR curation pipeline
    runs as revisions land. Inner join emits on match (no eviction
    wait), availableNow drains everything. Oracle: the shared
    cross-algebra WER SQL over doc_id < 200."""
    import os
    import tempfile
    from datetime import timedelta

    import pandas as pd
    from pyspark.sql import types as T

    from dataflow_flex_templates_spark.operators.asr import wer_stats
    from dataflow_flex_templates_spark.testing.clips import EPOCH

    _load(spark, sf_dir)
    pairs = (spark.sql(_wer_pairs_sql("doc_id < 200"))
             .orderBy("doc_id").toPandas())

    ref_schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("ref", T.StringType()),
        T.StructField("l_time", T.TimestampType())])
    hyp_schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("hyp", T.StringType()),
        T.StructField("r_time", T.TimestampType())])
    lrows, rrows = [], []
    for doc_id, ref, hyp in zip(pairs["doc_id"], pairs["ref"],
                                pairs["hyp"]):
        doc_id = int(doc_id)
        ts = EPOCH + timedelta(seconds=doc_id)
        cid = f"doc_{doc_id:06d}"
        lrows.append((cid, ref, ts))
        rrows.append((cid, hyp, ts + timedelta(seconds=2)))

    root = tempfile.mkdtemp(prefix="entry_swer_")
    lin, rin = os.path.join(root, "l"), os.path.join(root, "r")
    chunk = len(lrows) // 6 + 1
    _write_chunks(spark, pd.DataFrame(lrows, columns=["clip_id", "ref",
                                                      "l_time"]),
                  ref_schema, lin, chunk)
    _write_chunks(spark, pd.DataFrame(rrows, columns=["clip_id", "hyp",
                                                      "r_time"]),
                  hyp_schema, rin, chunk)

    ls = (spark.readStream.schema(ref_schema)
          .option("maxFilesPerTrigger", 2).parquet(lin)
          .withWatermark("l_time", "10 seconds"))
    rs = (spark.readStream.schema(hyp_schema)
          .option("maxFilesPerTrigger", 2).parquet(rin)
          .withWatermark("r_time", "10 seconds"))
    joined = ls.join(
        rs,
        (ls.clip_id == rs.clip_id)
        & (rs.r_time >= ls.l_time)
        & (rs.r_time <= ls.l_time + F.expr("interval 1 minute")),
        "inner").select(ls.clip_id, "ref", "hyp")
    scored = wer_stats(joined, "ref", "hyp", "clip_id")
    out_dir, ck = os.path.join(root, "out"), os.path.join(root, "ck")
    q = (scored.writeStream.outputMode("append").format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    await_or_raise(q, "stream_wer")
    return spark.read.parquet(out_dir).select(
        "clip_id", "ref_words", "hyp_words", "wer_distance",
        "wer_permille")


#: Shared utterance-stream fixture for asr_session_assembly: each
#: event becomes one utterance (speaker = user_id, spoken at ts), the
#: text being the first 8 whitespace tokens of a deterministically
#: chosen document (doc_id = event_id % |documents|). Both engines
#: compute the identical fixture, so the oracle checks the ASSEMBLY
#: semantics, not the synthesis.
_UTTERANCES_SPARK_SQL = """
    WITH n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT e.user_id, e.ts, e.event_id,
           array_join(slice(split(trim(d.text), '\\\\s+'), 1, 8), ' ')
             AS utt
    FROM events e
    CROSS JOIN n
    JOIN documents d ON d.doc_id = e.event_id % n.n_docs
"""


#: SRT-rendering oracle (row_number + printf over the cue algebra),
#: shared by the batch row and its streaming twin so the continuous
#: path is held to byte-identical output.
_SUBTITLE_SRT_ORACLE_SQL = r"""
            WITH arrs AS (
              SELECT doc_id, n_chars * 40 AS dur_ms,
                     list_filter(
                       regexp_split_to_array(trim(text, ' '), '\s+'),
                       x -> x != '') AS words
              FROM documents
            ), w AS (
              SELECT doc_id, dur_ms,
                     unnest(words) AS word,
                     generate_subscripts(words, 1) AS idx1
              FROM arrs
            ), c AS (
              SELECT doc_id, dur_ms, idx1, word,
                     CAST(sum(length(word)) OVER (
                       PARTITION BY doc_id ORDER BY idx1) AS BIGINT)
                       AS cum_after,
                     CAST(sum(length(word)) OVER (
                       PARTITION BY doc_id) AS BIGINT) AS total
              FROM w
            ), timed AS (
              SELECT doc_id, idx1, word,
                     dur_ms * (cum_after - length(word)) // total
                       AS start_ms,
                     dur_ms * cum_after // total AS end_ms
              FROM c
            ), cues AS (
              SELECT doc_id, start_ms // 3000 AS cue_idx,
                     MIN(start_ms) AS start_ms, MAX(end_ms) AS end_ms,
                     string_agg(word, ' ' ORDER BY idx1) AS text
              FROM timed GROUP BY doc_id, start_ms // 3000
            ), seqd AS (
              SELECT doc_id,
                     CAST(row_number() OVER (
                       PARTITION BY doc_id ORDER BY cue_idx)
                       AS INT) AS srt_seq,
                     cue_idx, start_ms, end_ms, text,
                     printf('%02d:%02d:%02d,%03d --> %02d:%02d:%02d,%03d',
                            start_ms // 3600000, start_ms // 60000 % 60,
                            start_ms // 1000 % 60, start_ms % 1000,
                            end_ms // 3600000, end_ms // 60000 % 60,
                            end_ms // 1000 % 60, end_ms % 1000) AS timing
              FROM cues
            )
            SELECT doc_id, srt_seq, cue_idx, start_ms, end_ms, timing,
                   text,
                   CAST(srt_seq AS VARCHAR) || chr(10) || timing
                     || chr(10) || text AS srt_block
            FROM seqd
        """


_ASR_SESSION_ORACLE_SQL = r"""
    WITH utt AS (
      SELECT e.user_id, e.ts, e.event_id,
             array_to_string(
               (regexp_split_to_array(trim(d.text, ' '),
                                      '\s+'))[1:8], ' ') AS utt
      FROM events e
      JOIN documents d
        ON d.doc_id = e.event_id %
           (SELECT count(*) FROM documents)),
    ordered AS (
      SELECT *,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 5 MINUTES
                       OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM utt
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT *,
             SUM(new_sess) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered)
    SELECT epoch_us(MIN(ts)) AS window_start, user_id,
           COUNT(*) AS n_utt,
           string_agg(utt, ' ' ORDER BY ts, event_id)
             AS transcript
    FROM sess GROUP BY user_id, sid
"""


def _q_asr_session_assembly(spark, sf_dir):
    """Utterance→conversation assembly: the step after per-clip ASR in
    a speech-training pipeline — group utterances into gap-based
    sessions per speaker and concatenate transcripts in event-time
    order. Spark side: the same session_agg operator the streaming
    path uses (F.session_window, 5-minute gap), with the ordered
    concat expressed as array_sort(collect_list(struct(ts, event_id,
    utt))) → transform → array_join — one shuffle, no window-function
    second pass, order guaranteed by the struct sort (not by input
    partitioning, so it is retry/AQE-stable). The documents join is
    fixture synthesis only (broadcast dim); a production utterance
    stream arrives with its text inline. Oracle: DuckDB lag/cumsum
    sessionization + string_agg(... ORDER BY ts, event_id)."""
    from dataflow_flex_templates_spark.streaming.windows import session_agg

    _load(spark, sf_dir)
    utt = spark.sql(_UTTERANCES_SPARK_SQL)
    out = session_agg(
        utt, "ts", "5 minutes", ["user_id"],
        {"n_utt": "count(*)",
         "transcript": ("array_join(transform(array_sort("
                        "collect_list(struct(ts, event_id, utt))), "
                        "x -> x.utt), ' ')")})
    return out.select(
        F.unix_micros(F.col("window_start").cast("timestamp"))
         .alias("window_start"),
        "user_id", F.col("n_utt").cast("long").alias("n_utt"),
        "transcript")


def _q_stream_session_assembly(spark, sf_dir):
    """Streaming twin of asr_session_assembly: the same utterance
    fixture replayed as a chunked file stream (8 files in global ts
    order), assembled by a WATERMARKED session-window aggregation in
    append mode — Spark merges per-key session state across
    micro-batches and emits a session only once its window end + gap
    falls behind the watermark, so each conversation appears exactly
    once with its transcript in event-time order. Per-user flush rows
    30 days past the end push the final watermark so every real
    session finalizes; their own (far-future) sessions are filtered
    out. Oracle: the SAME sessionization SQL as the batch row — the
    streaming path must land on identical assembled transcripts."""
    import os
    import tempfile
    from datetime import timedelta

    import pandas as pd

    from dataflow_flex_templates_spark.streaming.windows import session_agg

    _load(spark, sf_dir)
    pdf = (spark.sql(_UTTERANCES_SPARK_SQL)
           .select("user_id", F.col("ts").cast("timestamp").alias("ts"),
                   "event_id", "utt")
           .orderBy("ts", "event_id").toPandas())
    schema = "user_id long, ts timestamp, event_id long, utt string"
    root = tempfile.mkdtemp(prefix="entry_sess_asm_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, pdf, schema, inp, len(pdf) // 8 + 1)
    far = pdf["ts"].max() + timedelta(days=30)
    flush = pd.DataFrame(
        [(u, far, 0, "") for u in sorted(pdf["user_id"].unique())],
        columns=["user_id", "ts", "event_id", "utt"])
    _write_chunks(spark, flush, schema, inp, len(flush))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp)
              .withWatermark("ts", "10 seconds"))
    sess = session_agg(
        stream, "ts", "5 minutes", ["user_id"],
        {"n_utt": "count(*)",
         "transcript": ("array_join(transform(array_sort("
                        "collect_list(struct(ts, event_id, utt))), "
                        "x -> x.utt), ' ')")})
    out_dir = os.path.join(root, "out")
    q = (sess.writeStream.outputMode("append").format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", os.path.join(root, "ck"))
         .trigger(availableNow=True).start())
    await_or_raise(q, "stream_session_assembly")
    cutoff = F.lit(far - timedelta(days=1))
    return (spark.read.parquet(out_dir)
            .filter(F.col("window_start") < cutoff)
            .select(F.unix_micros("window_start").alias("window_start"),
                    "user_id",
                    F.col("n_utt").cast("long").alias("n_utt"),
                    "transcript"))


def _q_json_props_stats(spark, sf_dir):
    """Semi-structured extraction: events.props carries a JSON blob;
    pull $.k out with the JVM json path evaluator (get_json_object —
    no Python, no UDF), then exact integer aggregates per event_type.
    Oracle: DuckDB's ->> operator on the same strings."""
    _load(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (spark.table("events")
            .select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("k").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"),
                 F.count(F.when(F.col("k").isNull(), 1))
                 .alias("n_null_k")))


def _q_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines source format: a deterministic events slice is
    written as JSONL (distributed writer), read back with an explicit
    schema (no inference scan — the 100-TB-safe path), and aggregated.
    The oracle derives from the base `events` table directly, so a
    green row proves the JSONL round trip is lossless — including
    exact double round-tripping through the text encoding (floor-cents
    on the re-read values must match the originals)."""
    import os
    import tempfile

    from pyspark.sql import types as T

    _load(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_jsonl_")
    path = os.path.join(root, "events_jsonl")
    (spark.table("events").filter("event_id < 2000")
     .select("event_id", "event_type", "value")
     .write.mode("overwrite").json(path))
    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType())])
    back = spark.read.schema(schema).json(path)
    return (back.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.floor(F.col("value") * 100)).alias("sum_cents"),
                 F.min("event_id").alias("min_event_id"),
                 F.max("event_id").alias("max_event_id")))


def _q_segment_clips(spark, sf_dir):
    """ASR decode-window planning: split orders-derived clip metadata
    (dur 500-9499 ms) into ≤3 s segments with 500 ms overlap —
    metadata-only sequence+explode, zero shuffle, no bytes touched.
    Oracle: identical integer boundary arithmetic via range+unnest."""
    from dataflow_flex_templates_spark.operators.audio_pack import (
        segment_clips,
    )

    _load(spark, sf_dir)
    clips = spark.sql("""
        SELECT CAST(o_orderkey AS BIGINT) AS clip_id,
               CAST(o_orderkey % 9000 + 500 AS INT) AS dur_ms
        FROM orders""")
    return segment_clips(clips, max_ms=3000, overlap_ms=500)


def _q_top_docs_per_source(spark, sf_dir):
    """Top-3 longest documents per (lang, source) — grouped top-N via
    rank window + filter, which Spark compiles to WindowGroupLimit
    (map-side per-group pruning BEFORE the shuffle; see PLANS.md).
    Tie-break doc_id ASC makes the output total-order deterministic.
    Oracle: identical row_number algebra in SQL."""
    from dataflow_flex_templates_spark.operators.relational import (
        top_n_per_group,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", "lang", "source",
        F.length("text").cast("long").alias("n_chars_exact"))
    return top_n_per_group(
        docs, ["lang", "source"],
        [F.col("n_chars_exact").desc(), F.col("doc_id").asc()], 3
    ).withColumn("rnk", F.col("rnk").cast("long"))


def _q_asr_curation_pipeline(spark, sf_dir):
    """Flagship audio-axis composition — the curation chain an ASR
    training pipeline runs end-to-end, each stage an independently
    driver-proven operator:
      1. exact dedup on the normalized transcript (the library's
         operators.dedup.exact_dedup — md5 fingerprint, min-doc_id
         keeper) — the input corpus is extended with mirror
         duplicates (doc_id+100000 for doc_id%10==0, same text) so
         the stage provably removes rows. Dedup runs FIRST: it is a
         cheap hash-agg, and every duplicate it removes skips the
         O(words^2) WER kernel entirely;
      2. WER gate on the keepers: transcript vs perturbed revision
         (asr.wer_stats), keep wer_permille <= 350 (revision diverged
         too far = drop — sf0.01 permille spans 291-400, so the gate
         genuinely splits). Stage order does not change the result
         (duplicates score identically), only the cost;
      3. survivors become clips (arithmetic dur_ms) packed into
         duration-sorted training batches with exact padding
         economics (audio_pack.pack_clip_batches).
    Output: per-batch packing economics of the curated corpus. The
    oracle re-derives ALL THREE stages in one SQL query (cross-algebra
    WER + md5 dedup + row_number packing)."""
    from dataflow_flex_templates_spark.operators.asr import wer_stats
    from dataflow_flex_templates_spark.operators.audio_pack import (
        pack_clip_batches,
    )
    from dataflow_flex_templates_spark.operators.dedup import exact_dedup

    _load(spark, sf_dir)
    spark.sql("""
        CREATE OR REPLACE TEMP VIEW documents_ext AS
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text
        FROM documents WHERE doc_id % 10 = 0
    """)
    keepers = (exact_dedup(spark.table("documents_ext"))
               .select(F.col("keeper_id").alias("doc_id")))
    pairs = (spark.sql(_wer_pairs_sql(table="documents_ext"))
             .join(keepers, "doc_id"))
    scored = wer_stats(pairs, "ref", "hyp", "doc_id")
    kept = scored.filter("wer_permille <= 350").select("doc_id")
    clips = kept.withColumn(
        "dur_ms", (100 + (F.col("doc_id") % 7) * 50).cast("int"))
    return pack_clip_batches(clips, batch_size=8, n_shards=4,
                             id_col="doc_id")


def _q_pack_audio_batches(spark, sf_dir):
    """Duration-bucketed ASR training batches over an orders-derived
    clip-metadata table (clip_id = o_orderkey, dur_ms arithmetic):
    per-shard sorted batching + exact padding economics. One shuffle
    (shard), window + agg reuse the same partitioning. Oracle: the
    identical row_number/group algebra in SQL."""
    from dataflow_flex_templates_spark.operators.audio_pack import (
        pack_clip_batches,
    )

    _load(spark, sf_dir)
    clips = spark.sql("""
        SELECT CAST(o_orderkey AS BIGINT) AS clip_id,
               CAST(o_orderkey % 9000 + 500 AS INT) AS dur_ms
        FROM orders""")
    return pack_clip_batches(clips, batch_size=32, n_shards=8)


def _q_shard_plan(spark, sf_dir):
    """Writer-side output-shard sizing plan (the measured durable fix
    for the hotfile skew regime — BASELINE.md): metadata-only
    cumulative-byte binning of documents into ~2000-byte output
    shards per source, one data-sized Exchange. Oracle: the identical
    running-sum window + integer-div algebra in SQL."""
    from dataflow_flex_templates_spark.operators.shard import shard_plan

    _load(spark, sf_dir)
    docs = spark.table("documents").select(
        "doc_id", "source",
        F.length("text").cast("long").alias("size_bytes"))
    return shard_plan(docs, target_bytes=2000)


def _q_stream_shard_plan(spark, sf_dir):
    """Streaming twin of shard_plan — the north-star writer path run
    CONTINUOUSLY: documents replayed in doc_id order as a chunked
    file stream, each micro-batch assigned its final output shards by
    `streaming/shard_stream.py shard_apply_batch` against a
    |keys|-sized tails store (one cumulative-byte scalar per source);
    no batch ever re-reads accumulated rows, and a row's shard never
    changes after emission (later rows only extend the prefix). The
    binning window is the SAME algebra object as the batch operator
    (`shard.with_running_bytes`), so the per-shard summary lands
    byte-identical to the batch row — and this row shares its
    oracle."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.streaming.shard_stream import (
        shard_apply_batch,
    )

    _load(spark, sf_dir)
    docs = (spark.table("documents")
            .select("doc_id", "source",
                    F.length("text").cast("long").alias("size_bytes"))
            .orderBy("doc_id").toPandas())
    schema = "doc_id long, source string, size_bytes long"
    root = tempfile.mkdtemp(prefix="entry_shard_stream_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, docs, schema, inp, len(docs) // 5 + 1)

    def step(batch, state):
        assigned, tails = shard_apply_batch(batch, state["tails"],
                                            target_bytes=2000)
        return {"assigned": assigned, "tails": tails}

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    assigned = run_fold(
        spark, stream, os.path.join(root, "fold"), step,
        snapshots={"tails": "source string, cum_bytes long"},
        logs={"assigned": "source string, doc_id long, size_bytes long, "
                          "shard_idx long"})["assigned"]
    return (assigned.groupBy("source", "shard_idx")
            .agg(F.count("*").alias("n_rows"),
                 F.sum("size_bytes").alias("shard_bytes"),
                 F.min("doc_id").alias("first_id"),
                 F.max("doc_id").alias("last_id"))
            .withColumn("fill_permille",
                        F.expr("shard_bytes * 1000L div 2000")
                        .cast("long")))


def _q_zone_map_index(spark, sf_dir):
    """Zone-map (data-skipping) index over the documents table: one
    stats row per (source, 100-doc file) shard — MIN/MAX/nulls for
    n_chars and lang plus row counts; the Iceberg-manifest column
    metrics an engine needs to prune a 10^12-row scan, as a
    first-class operator (operators/zonemap.py). ONE partial+final
    hash agg (plan-asserted); exact integer/order algebra, so the
    SQL oracle matches bit-for-bit."""
    from dataflow_flex_templates_spark.operators.zonemap import zone_map

    _load(spark, sf_dir)
    docs = spark.table("documents") \
        .withColumn("file_id", F.expr("doc_id div 100"))
    return zone_map(docs, ["source", "file_id"], ["n_chars", "lang"])


def _q_zone_prune(spark, sf_dir):
    """Metadata-only predicate pruning over the zone-map index: which
    (source, file) shards MIGHT hold documents with 200 <= n_chars
    <= 800. Sound by construction (a shard with a match is never
    skipped — swept in tests/test_zonemap.py); pure projection over
    the |shards|-sized index, zero data reads. Oracle: the same
    bounds-overlap rule in SQL."""
    from dataflow_flex_templates_spark.operators.zonemap import (
        prune_shards,
        zone_map,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents") \
        .withColumn("file_id", F.expr("doc_id div 100"))
    zm = zone_map(docs, ["source", "file_id"], ["n_chars"])
    return prune_shards(zm, "n_chars", 200, 800).select(
        "source", "file_id", "n_rows", "n_chars_min", "n_chars_max",
        "might_match")


def _q_stream_zone_map(spark, sf_dir):
    """The zone-map index maintained INCREMENTALLY over the document
    stream (streaming/zonemap_stream.py): each micro-batch is
    sketched ALONE through the identical zone_map and ⊕-merged into
    a |shards|-sized store via one keyed join — the write set of an
    Iceberg MERGE on the shard key; accumulated data is never
    re-read. MIN/MAX/SUM associativity makes the fold == the batch
    index at ANY split (law-tested at chunks 1/4/all), so this row
    shares the batch row's oracle algebra."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.streaming.zonemap_stream import (
        zone_map_apply_batch,
    )

    _load(spark, sf_dir)
    docs = (spark.table("documents")
            .withColumn("file_id", F.expr("doc_id div 100"))
            .select("doc_id", "source", "file_id", "n_chars", "lang")
            .orderBy("doc_id").toPandas())
    schema = ("doc_id long, source string, file_id long, "
              "n_chars long, lang string")
    root = tempfile.mkdtemp(prefix="entry_zonemap_stream_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, docs, schema, inp, len(docs) // 5 + 1)

    store_schema = ("source string, file_id long, n_rows long, "
                    "n_chars_min long, n_chars_max long, "
                    "n_chars_nulls long, lang_min string, "
                    "lang_max string, lang_nulls long")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    return run_fold(
        spark, stream, os.path.join(root, "fold"),
        lambda batch, state: {"store": zone_map_apply_batch(
            batch, state["store"], ["source", "file_id"],
            ["n_chars", "lang"])[1]},
        snapshots={"store": store_schema})["store"]


def _q_token_heavy_hitters(spark, sf_dir):
    """EXACT corpus heavy hitters over the word-bigram stream without
    shuffling the vocabulary: per-partition Misra-Gries summaries
    (bounded k rows each — Agarwal et al. mergeable summaries) give a
    PROVEN candidate superset, then a broadcast exact-count pass
    keeps bigrams above 1 permille of all bigram occurrences. The
    1-permille threshold is deliberately marginal for this corpus
    (uniform share ≈ 1.09 permille), so the exactness contract is
    doing real work. Oracle: plain GROUP BY / HAVING — the operator's
    output is exact and partitioning-invariant by construction."""
    from dataflow_flex_templates_spark.operators.sketch import (
        heavy_hitters,
    )
    from dataflow_flex_templates_spark.operators.text import norm_text

    _load(spark, sf_dir)
    toks = F.filter(F.split(norm_text(F.col("text")), " "),
                    lambda x: F.length(x) > 0)
    words = spark.table("documents").select(toks.alias("w"))
    bg = F.explode(F.expr(
        "transform(slice(w, 1, greatest(size(w) - 1, 0)),"
        " (x, i) -> concat(x, ' ', element_at(w, i + 2)))"))
    bigrams = words.select(bg.alias("bigram"))
    return heavy_hitters(bigrams, "bigram", threshold_permille=1)


def _q_exact_quantiles(spark, sf_dir):
    """EXACT corpus quantiles without a sort: value-space bisection —
    log2(range) shuffle-free scan passes, each one conditional-sum
    aggregate advancing every probe's binary search at once
    (operators/selection.py; the exact path beside the bottom-k
    sample and histogram estimates). Oracle: nearest-rank read-off
    1 + (p·(n-1)) div 1000 over the sorted column — the formula both
    repo quantile paths share."""
    from dataflow_flex_templates_spark.operators.selection import (
        exact_quantiles,
    )

    _load(spark, sf_dir)
    return exact_quantiles(spark.table("documents"), "n_chars",
                           [0, 100, 250, 500, 750, 900, 1000])


def _q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning over a file-metadata table (the
    read-side heal for historical layout damage; `write_sized`
    prevents new damage): healthy files keep, small files bin into
    ~target rewrite groups via the SAME running-sum algebra as
    shard_plan, and a small file alone in its bin demotes to keep.
    Metadata-only — |files| rows, ONE Exchange (the demotion window
    reuses the binning partitioning, plan-asserted in tests). Oracle:
    the identical window algebra in SQL."""
    from dataflow_flex_templates_spark.operators.shard import (
        compaction_plan,
    )

    _load(spark, sf_dir)
    files = (spark.table("documents")
             .groupBy("source", F.expr("doc_id div 50").alias("file_id"))
             .agg(F.sum(F.length("text")).cast("long")
                  .alias("size_bytes")))
    plan = compaction_plan(files, target_bytes=3000,
                           min_file_bytes=1000)
    # keep rows have NULL group_idx; the cross-engine hash compares
    # NULL numerics as NaN != NaN, so surface the driver row with the
    # repo's -1 sentinel (same convention as other nullable integers)
    return plan.withColumn("group_idx",
                           F.coalesce("group_idx", F.lit(-1))
                           .cast("long"))


def _q_exact_quantiles_by_lang(spark, sf_dir):
    """Per-group exact quantiles (curriculum cut points per language)
    via simultaneous per-group value-space bisection: every group and
    probe advances in the same pass — broadcast midpoint join + one
    map-side-combined hash agg per iteration, |groups×probes| scalar
    rows shuffled, never data. Group cardinality is driver-bounded by
    contract (langs/codecs — guarded). Oracle: per-group nearest-rank
    read-off."""
    from dataflow_flex_templates_spark.operators.selection import (
        exact_quantiles_grouped,
    )

    _load(spark, sf_dir)
    return exact_quantiles_grouped(spark.table("documents"), "n_chars",
                                   "lang", [250, 500, 750])


def _q_stream_decontaminate(spark, sf_dir):
    """The contamination firewall run IN the ingest pipeline instead
    of as an offline pass: per micro-batch, the batch's documents go
    through the batch `decontaminate` operator VERBATIM against the
    static broadcast benchmark n-gram set. A document's verdict
    depends only on its own text and the benchmark (row-local), so
    batch boundaries cannot change any flag — union(per-batch
    verdicts) == the batch operator over the union, which is why this
    row shares `decontaminate`'s oracle byte-for-byte (the same
    stateless-fold argument as stream_srt_emit/stream_conformance)."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.operators.text import (
        decontaminate,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents")
    bench = docs.filter((F.col("doc_id") % 17) == 3) \
        .select("doc_id", "text").toPandas()
    pdf = docs.select("doc_id", "text").orderBy("doc_id").toPandas()
    schema = "doc_id long, text string"
    root = tempfile.mkdtemp(prefix="entry_decon_stream_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, pdf, schema, inp, len(pdf) // 6 + 1)

    bench_df = spark.createDataFrame(bench, schema=schema)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    return run_fold(
        spark, stream, os.path.join(root, "fold"),
        lambda batch, _: {"verdicts": decontaminate(batch, bench_df, n=8)},
        logs={"verdicts": "doc_id long, hit_ngrams long, "
                          "contaminated boolean"})["verdicts"]


def _q_stream_compaction(spark, sf_dir):
    """Compaction run CONTINUOUSLY (streaming/compaction_stream.py):
    rewrite groups trigger the micro-batch their byte-bin closes — a
    bin is immutable once a later small file starts a higher bin —
    against a tails store (small-file byte prefix sums) plus the open
    bin's buffered rows; healthy files emit keep immediately and
    never enter state. One close reconciliation flushes each key's
    last open bin (the only end-of-stream decision). Binning is the
    SAME shared `with_running_bytes` algebra as the batch planner, so
    emissions ∪ close == compaction_plan at any split (law-tested
    1/4/all) — this row shares the batch row's oracle."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.streaming.compaction_stream import (
        compaction_apply_batch,
        compaction_finalize,
    )

    _load(spark, sf_dir)
    files = (spark.table("documents")
             .groupBy("source", F.expr("doc_id div 50").alias("file_id"))
             .agg(F.sum(F.length("text")).cast("long")
                  .alias("size_bytes"))
             .orderBy("file_id", "source").toPandas())
    schema = "source string, file_id long, size_bytes long"
    root = tempfile.mkdtemp(prefix="entry_compaction_stream_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, files, schema, inp, len(files) // 5 + 1)

    def step(batch, state):
        emitted, tails, open_bin = compaction_apply_batch(
            batch, state["tails"], state["open"], target_bytes=3000,
            min_file_bytes=1000)
        return {"emitted": emitted, "tails": tails, "open": open_bin}

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = run_fold(
        spark, stream, os.path.join(root, "fold"), step,
        snapshots={"tails": "source string, cum_bytes long",
                   "open": "source string, file_id long, size_bytes long, "
                           "group_idx long"},
        logs={"emitted": "source string, file_id long, size_bytes long, "
                         "group_idx long, action string"})
    return (out["emitted"].unionByName(compaction_finalize(out["open"]))
            .withColumn("group_idx",
                        F.coalesce("group_idx", F.lit(-1))
                        .cast("long")))


def _q_merge_intervals(spark, sf_dir):
    """Interval union per key (gaps-and-islands over RANGES — merged
    speech regions from VAD segments, activity coverage windows):
    each event projects a 6-hour half-open interval; overlapping /
    touching intervals merge into maximal islands. Exact integer
    algebra, ONE Exchange (both windows + the island aggregate share
    the key partitioning). The continuous path is Spark's native
    session_window with the same gap (streaming/windows.py) — this is
    its batch twin. Oracle: the identical recurrence in SQL."""
    from dataflow_flex_templates_spark.operators.temporal import (
        merge_intervals,
    )

    _load(spark, sf_dir)
    iv = (spark.table("events")
          .select("user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("s_us"))
          .withColumn("e_us",
                      F.col("s_us") + F.lit(21_600_000_000)))
    return merge_intervals(iv, "user_id", "s_us", "e_us")


def _q_interval_gaps(spark, sf_dir):
    """The dual of merge_intervals: the maximal EMPTY ranges between
    a key's activity islands (silence between speech regions,
    coverage holes). Derived by ONE lead window over the merged
    |islands| result - same key partitioning, no second Exchange
    (plan-asserted). Oracle: the merge recurrence + lead in SQL."""
    from dataflow_flex_templates_spark.operators.temporal import (
        interval_gaps,
    )

    _load(spark, sf_dir)
    iv = (spark.table("events")
          .select("user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("s_us"))
          .withColumn("e_us",
                      F.col("s_us") + F.lit(21_600_000_000)))
    return interval_gaps(iv, "user_id", "s_us", "e_us")


def _q_funnel_view_click_purchase(spark, sf_dir):
    """Ordered view→click→purchase funnel per user over events —
    chained same-partition window aggregates, ONE shuffle (PLANS.md).
    Oracle: the identical nested-window algebra as stacked CTEs."""
    from dataflow_flex_templates_spark.operators.relational import (
        funnel_steps,
    )

    _load(spark, sf_dir)
    return funnel_steps(spark.table("events"), "user_id", "ts",
                        "event_type", ["view", "click", "purchase"])


# Gaps-and-islands SCD2 (shared by the batch row and its streaming
# twin): first-or-changed rows are version openers; lead() over the
# opener set closes each interval. IS DISTINCT FROM = Spark's
# null-safe struct inequality; high-date close keeps the open
# interval's valid_to non-null for the cross-engine hash.
_SCD2_ORACLE_SQL = """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             event_type,
             lag(event_type) OVER w0 AS prev_state,
             ROW_NUMBER() OVER w0 AS rn
      FROM events
      WINDOW w0 AS (PARTITION BY user_id
                    ORDER BY epoch_us(ts), event_id)),
    changes AS (
      SELECT * FROM e
      WHERE rn = 1
         OR prev_state IS DISTINCT FROM event_type)
    SELECT user_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
           event_type AS state,
           CAST(ts_us AS BIGINT) AS valid_from_us,
           CAST(COALESCE(LEAD(ts_us) OVER w,
                         253402300799000000) AS BIGINT)
             AS valid_to_us,
           CAST(CASE WHEN LEAD(ts_us) OVER w IS NULL
                     THEN 1 ELSE 0 END AS BIGINT) AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY ts_us, event_id)
"""


def _q_scd2_user_state(spark, sf_dir):
    """Type-2 SCD history of each user's event_type state over the
    events change stream — the generalization of the reference's MERGE
    last-writer-wins (reference ModelUtils merge semantics keep ONLY
    the final state; SCD2 keeps every state with [valid_from,
    valid_to) micro-second intervals, and LWW is its is_current=1
    slice). One exchange + one sort for the whole history (PLANS.md).
    Oracle: the identical gaps-and-islands window algebra."""
    from dataflow_flex_templates_spark.operators.relational import (
        scd2_history,
    )

    _load(spark, sf_dir)
    ev = (spark.table("events")
          .select("user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("ts_us"),
                  "event_id", "event_type"))
    out = scd2_history(ev, ["user_id"], "ts_us", ["event_type"],
                       ["event_id"])
    # warehouse-idiomatic high-date close for the open interval
    # (9999-12-31T23:59:59Z in micros) — also keeps the column
    # non-null for the cross-engine hash (NULL bigint → NaN float in
    # both engines' pandas bridges, and NaN != NaN kills the multiset
    # compare; is_current already flags the open version)
    return out.select(
        "user_id", F.col("version").cast("long").alias("version"),
        F.col("event_type").alias("state"),
        F.col("valid_from").alias("valid_from_us"),
        F.coalesce(F.col("valid_to"), F.lit(253402300799000000))
        .alias("valid_to_us"), "is_current")


def _q_stream_scd2(spark, sf_dir):
    """Streaming twin of scd2_user_state: the events change stream
    replayed as 6 files in (ts, event_id) commit order, each
    micro-batch folded into the dimension by
    `streaming/scd2_stream.py scd2_apply_batch` — a |keys|-sized
    TAILS store (each key's open version) plus an append-only CLOSED
    log; no operation ever re-reads the accumulated history. The
    fold is exact under ordered ingestion (the CDC-log replay this
    fixture models), so closed ∪ open must land byte-identical to
    the batch row's full-rebuild SQL — the shared oracle checks
    precisely that."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.streaming.scd2_stream import (
        scd2_apply_batch,
    )

    _load(spark, sf_dir)
    ev = (spark.table("events")
          .select("user_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                  .alias("ts_us"),
                  "event_id", "event_type"))
    pdf = ev.orderBy("ts_us", "event_id").toPandas()
    schema = "user_id long, ts_us long, event_id long, event_type string"
    root = tempfile.mkdtemp(prefix="entry_scd2_stream_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, pdf, schema, inp, len(pdf) // 6 + 1)

    def step(batch, state):
        closed, tails = scd2_apply_batch(
            batch, state["tails"], ["user_id"], "ts_us", ["event_type"],
            ["event_id"])
        return {"closed": closed, "tails": tails}

    tails_schema = ("user_id long, version int, event_type string, "
                    "valid_from long")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = run_fold(spark, stream, os.path.join(root, "fold"), step,
                   snapshots={"tails": tails_schema},
                   logs={"closed": f"{tails_schema}, valid_to long"})

    closed = out["closed"].select(
        "user_id", F.col("version").cast("long").alias("version"),
        F.col("event_type").alias("state"),
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
        F.lit(0).cast("long").alias("is_current"))
    open_rows = out["tails"].select(
        "user_id", F.col("version").cast("long").alias("version"),
        F.col("event_type").alias("state"),
        F.col("valid_from").alias("valid_from_us"),
        F.lit(253402300799000000).alias("valid_to_us"),
        F.lit(1).cast("long").alias("is_current"))
    return closed.unionByName(open_rows)


_BOTTOMK_ORACLE_SQL = """
    WITH s AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents),
    samp AS (
      SELECT source, doc_id, n_chars FROM s WHERE rk <= 64),
    r AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id) AS vr,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM samp)
    SELECT source, p AS p_permille, n_chars AS q_value
    FROM r CROSS JOIN (SELECT UNNEST([500, 900, 990]) AS p)
    WHERE vr = 1 + (p * (n - 1)) // 1000
"""


def _q_stream_bottomk(spark, sf_dir):
    """Streaming twin of bottomk_quantiles: the documents table
    replayed in 6 micro-batch files; each batch's LOCAL bottom-k
    merges into a ≤ k-rows/group tails table (`bottomk_merge` —
    stored hashes reused, never recomputed), so state is bounded at
    k rows per group forever and the accumulated input is never
    re-read. Bottom-k's exact mergeability (bottom-k(A∪B) == merge
    of bottom-k's) makes the fold equal the batch row's one-shot
    sample BYTE-FOR-BYTE — the shared oracle checks precisely that."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.operators.sketch import (
        bottomk_merge,
        bottomk_quantiles,
        bottomk_sample,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "source", "n_chars")
    pdf = docs.orderBy("doc_id").toPandas()
    schema = "doc_id long, source string, n_chars long"
    root = tempfile.mkdtemp(prefix="entry_bk_stream_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, pdf, schema, inp, len(pdf) // 6 + 1)

    def step(batch, state):
        local = bottomk_sample(batch, "doc_id", ["n_chars"],
                               group_cols=["source"], k=64)
        return {"sample": bottomk_merge(state["sample"], local,
                                        id_col="doc_id",
                                        group_cols=["source"], k=64)}

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    final = run_fold(
        spark, stream, os.path.join(root, "fold"), step,
        snapshots={"sample": "source string, rk int, hk string, "
                             "doc_id long, n_chars long"})["sample"]
    return bottomk_quantiles(final, "n_chars", "doc_id",
                             group_cols=["source"])


def _q_rollup_corpus(spark, sf_dir):
    """source × lang ROLLUP of doc counts and n_chars totals —
    re-aggregated from the finest level (one data shuffle + tiny
    subtotal aggs with a ReusedExchange) instead of native rollup's
    Expand, which would triple the shuffled rows at 10^12 docs.
    GROUPING()-compatible grp_* flags disambiguate rolled-up NULLs.
    Oracle: native GROUP BY ROLLUP with GROUPING()."""
    from dataflow_flex_templates_spark.operators.relational import (
        rollup_agg,
    )

    _load(spark, sf_dir)
    return rollup_agg(spark.table("documents"), ["source", "lang"],
                      "n_chars")


def _q_profile_events(spark, sf_dir):
    """Per-column data-quality profile of events (null/exact-distinct/
    min/max, one aggregation pass via Spark's Expand multi-distinct
    strategy). The float column is deliberately excluded: double→
    string rendering is not cross-engine-stable (scientific-notation
    thresholds differ), and a profile gate reads ints/strings/times.
    Oracle: per-column UNION ALL aggregates."""
    from dataflow_flex_templates_spark.operators.profile import (
        profile_table,
    )

    _load(spark, sf_dir)
    return profile_table(
        spark.table("events"),
        ["event_id", "ts", "user_id", "event_type", "props"])


def _q_retention_cohorts(spark, sf_dir):
    """Daily cohort retention triangle over events — DISTINCT
    (user, day) pairs at the scan, integer-exact day indexing, every
    shuffle carries two longs per active-user-day. Oracle: identical
    cohort/offset algebra with DuckDB integer division."""
    from dataflow_flex_templates_spark.operators.temporal import (
        retention_cohorts,
    )

    _load(spark, sf_dir)
    return retention_cohorts(spark.table("events"), "user_id", "ts")


def _q_rolling_user_stats(spark, sf_dir):
    """Per-user trailing 10-minute RANGE-frame window over events:
    count + cent-exact value sum per event row. True time-range frame
    (deterministic under timestamp ties), single keyed shuffle.
    Oracle: the identical RANGE BETWEEN algebra in DuckDB on
    epoch-microsecond integers."""
    from dataflow_flex_templates_spark.operators.temporal import (
        rolling_stats,
    )

    _load(spark, sf_dir)
    ev = spark.table("events")
    return rolling_stats(ev, "user_id", "ts", "value",
                         window_us=600_000_000)


def _q_bigram_novelty(spark, sf_dir):
    """Per-doc LM-style bigram novelty vs the corpus top-100 bigram
    head — array-side bigram build (no shuffle), one corpus hash agg,
    TakeOrdered head, broadcast membership probe, integer permille
    score. Oracle: the same algebra via DuckDB list SQL."""
    from dataflow_flex_templates_spark.operators.text import bigram_novelty

    _load(spark, sf_dir)
    return bigram_novelty(spark.table("documents"), k=100)


def _q_doc_chunks(spark, sf_dir):
    """Context-window chunking: overlapping token-bounded training
    chunks (40-token chunks, 8-token overlap so the small fixture docs
    split) — split → explode(sequence) → slice → md5, all JVM, no
    shuffle. Oracle: the same chunk algebra in DuckDB list SQL."""
    from dataflow_flex_templates_spark.operators.text import (
        chunk_documents,
    )

    _load(spark, sf_dir)
    return chunk_documents(spark.table("documents"), chunk_tokens=40,
                           overlap=8)


def _q_pack_chunks(spark, sf_dir):
    """Concat-and-cut sequence packing of the doc_chunks output into
    128-token training sequences across 8 shards — one shuffle (on
    shard), exact integer window arithmetic. Oracle: the identical
    running-sum algebra as DuckDB window SQL."""
    from dataflow_flex_templates_spark.operators.text import (
        chunk_documents,
        pack_chunks,
    )

    _load(spark, sf_dir)
    chunks = chunk_documents(spark.table("documents"), chunk_tokens=40,
                             overlap=8)
    return pack_chunks(chunks, budget_tokens=128, n_shards=8)


def _q_chunk_dedup(spark, sf_dir):
    """Paragraph-level exact dedup over the doc_chunks output (the C4
    move): group identical chunk_md5, keeper = lowest (doc_id,
    chunk_idx). Oracle: row_number window over the same chunk set."""
    from dataflow_flex_templates_spark.operators.text import (
        chunk_documents,
        chunk_dedup,
    )

    _load(spark, sf_dir)
    return chunk_dedup(chunk_documents(spark.table("documents"),
                                       chunk_tokens=40, overlap=8))


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: docs sharing any word 8-gram with the
    'benchmark' slice (doc_id % 17 == 3) are flagged; benchmark n-gram
    set is broadcast so the corpus never shuffles. Oracle: the full
    n-gram overlap join re-run in DuckDB."""
    from dataflow_flex_templates_spark.operators.text import decontaminate

    _load(spark, sf_dir)
    docs = spark.table("documents")
    bench = docs.filter((F.col("doc_id") % 17) == 3)
    return decontaminate(docs, bench, n=8)


def _q_compression_ratio(spark, sf_dir):
    """zlib compression-ratio quality signal per doc (repetitiveness /
    perplexity proxy). Oracle: per-doc (raw_len, comp_len) pinned from
    the identical Python twin; ratio + flag arithmetic genuine SQL."""
    from dataflow_flex_templates_spark.operators.text import (
        compression_stats,
    )

    _load(spark, sf_dir)
    return compression_stats(spark.table("documents"))


def _q_exact_dedup(spark, sf_dir):
    from dataflow_flex_templates_spark.operators.dedup import exact_dedup

    _load(spark, sf_dir)
    return exact_dedup(spark.table("documents"))


def _q_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard pairs through the DF-BOUNDED inverted index
    (max_df drops hot shingles from candidate generation only; the
    array_intersect verify recomputes true Jaccard, so output equals
    the unbounded exact path — proven in tests/test_operators.py)."""
    from dataflow_flex_templates_spark.operators.dedup import ngram_jaccard_pairs

    _load(spark, sf_dir)
    docs = spark.table("documents").filter("doc_id < 120")
    return ngram_jaccard_pairs(docs, threshold=0.18, n=3, max_df=100)


def _q_edit_distance_pairs(spark, sf_dir):
    """Fuzzy-dup pairs verified by exact Levenshtein over DF-bounded
    shingle candidates (the strictest verifier — catches in-place
    edits that set-overlap scores miss). Genuine SQL oracle: DuckDB
    levenshtein has identical semantics."""
    from dataflow_flex_templates_spark.operators.dedup import (
        edit_distance_pairs,
    )

    _load(spark, sf_dir)
    return edit_distance_pairs(spark.table("documents"), max_df=50,
                               min_sim_permille=500)


def _q_dedup_clusters(spark, sf_dir):
    """Connected-components dedup grouping over exact-jaccard pairs
    (iterative min-label propagation; DuckDB oracle = recursive CTE
    transitive closure)."""
    from dataflow_flex_templates_spark.operators.dedup import (
        cluster_duplicates,
        ngram_jaccard_pairs,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").filter("doc_id < 120")
    pairs = ngram_jaccard_pairs(docs, threshold=0.18, n=3)
    return cluster_duplicates(pairs).select("id", "cluster_rep")


def _q_stream_cc(spark, sf_dir):
    """The dedup_clusters row run CONTINUOUSLY: the same exact-jaccard
    near-dup pairs replayed as a pair stream, each micro-batch folded
    by `streaming/cc_stream.py cc_apply_batch` into an APPEND-ONLY
    node_labels store plus a roots-sized path-compressed rep_root
    forest — no batch ever re-reads the accumulated pairs or rewrites
    a node row. Roots are component minima (min is associative), so
    the fold is exact at ANY batch split and the final
    resolve_labels read-out lands byte-identical to the batch row's
    recursive-CTE transitive-closure oracle — which this row shares."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )
    from dataflow_flex_templates_spark.streaming.cc_stream import (
        cc_apply_batch,
        resolve_labels,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").filter("doc_id < 120")
    pairs = (ngram_jaccard_pairs(docs, threshold=0.18, n=3)
             .select(F.col("id_a").cast("long"),
                     F.col("id_b").cast("long"))
             .orderBy("id_a", "id_b").toPandas())
    root = tempfile.mkdtemp(prefix="entry_cc_stream_")
    inp = os.path.join(root, "in")
    schema = "id_a long, id_b long"
    _write_chunks(spark, pairs, schema, inp, len(pairs) // 5 + 1)

    def step(batch, state):
        labels, rep = cc_apply_batch(batch, state["labels"], state["rep"])
        return {"labels": labels, "rep": rep}

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    out = run_fold(spark, stream, os.path.join(root, "fold"), step,
                   snapshots={"rep": "rep long, root long"},
                   logs={"labels": "id long, first_rep long"})
    return resolve_labels(out["labels"], out["rep"])


def _q_dedup_keep(spark, sf_dir):
    """End-to-end dedup filter: drop every non-representative member of
    a near-dup component; keep representatives + unpaired docs."""
    from dataflow_flex_templates_spark.operators.dedup import (
        dedup_keep,
        ngram_jaccard_pairs,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").filter("doc_id < 120")
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, n=3)
    return dedup_keep(pairs, docs).select("doc_id")


def _q_embedding_neardup(spark, sf_dir):
    from dataflow_flex_templates_spark.operators.dedup import embedding_neardup_pairs

    _load(spark, sf_dir)
    return embedding_neardup_pairs(
        spark.table("embeddings").filter("vec_id < 300"), threshold=0.3)


def _q_embedding_neardup_lsh(spark, sf_dir):
    """LSH-prefiltered embedding near-dup pairs (sub-quadratic, exact
    cosine verify → precision 1.0; recall pytest-verified). Rows-only."""
    from dataflow_flex_templates_spark.operators.dedup import (
        embedding_neardup_lsh,
    )

    _load(spark, sf_dir)
    return embedding_neardup_lsh(
        spark.table("embeddings").filter("vec_id < 300"),
        threshold=0.3, n_planes=4, n_tables=16)


def _q_cosine_topk(spark, sf_dir):
    from dataflow_flex_templates_spark.operators.similarity import cosine_topk

    _load(spark, sf_dir)
    vecs = spark.table("embeddings").filter("vec_id < 300")
    qs = spark.table("embeddings").filter("vec_id < 12")
    return cosine_topk(vecs, qs, k=5)


def _q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup. Oracle: band-bucket candidates pinned from
    the pure-Python XXH64 twin (testing/twins.py, bit-exact vs
    Catalyst) + exact-Jaccard verification re-derived in DuckDB SQL."""
    from dataflow_flex_templates_spark.operators.dedup import minhash_lsh_pairs

    _load(spark, sf_dir)
    docs = spark.table("documents").filter("doc_id < 120")
    return minhash_lsh_pairs(docs, num_hashes=32, bands=16, threshold=0.18)


def _q_stream_minhash_lsh(spark, sf_dir):
    """The minhash_lsh row run CONTINUOUSLY: the same documents
    replayed as a chunked file stream, each micro-batch folded by
    `streaming/lsh_stream.py lsh_apply_batch` into APPEND-ONLY bucket
    and shingle stores; near-dup pairs are emitted exactly once, the
    moment the later document of the pair arrives — no batch ever
    rescans the accumulated corpus. Same signatures, same band hashes
    (shared band_buckets), same exact-Jaccard verify, so the union of
    emitted pairs is byte-identical to the batch row's output — and
    this row shares its oracle."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.streaming.lsh_stream import (
        lsh_apply_batch,
    )

    _load(spark, sf_dir)
    docs = (spark.table("documents").filter("doc_id < 120")
            .select("doc_id", "text").orderBy("doc_id").toPandas())
    root = tempfile.mkdtemp(prefix="entry_lsh_stream_")
    inp = os.path.join(root, "in")
    schema = "doc_id long, text string"
    _write_chunks(spark, docs, schema, inp, len(docs) // 5 + 1)

    def step(batch, state):
        pairs, buckets, shingles = lsh_apply_batch(
            batch, state["buckets"], state["shingles"],
            num_hashes=32, bands=16, threshold=0.18)
        return {"pairs": pairs, "buckets": buckets, "shingles": shingles}

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    return run_fold(
        spark, stream, os.path.join(root, "fold"), step,
        logs={"pairs": "id_a long, id_b long, jaccard double",
              "buckets": "id long, band int, bh long",
              "shingles": "id long, sh array<string>, sh_size int"},
    )["pairs"]


def _q_simhash(spark, sf_dir):
    """SimHash fingerprints. Oracle: signatures recomputed by the
    pure-Python XXH64 twin (independent implementation of the public
    XXH64 spec) pinned as a DuckDB VALUES table."""
    from dataflow_flex_templates_spark.operators.dedup import simhash

    _load(spark, sf_dir)
    return simhash(spark.table("documents").filter("doc_id < 200"))


def _q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via pigeonhole block bucketing —
    GUARANTEED recall 1.0 at Hamming ≤ 3 (operators/dedup.py). Oracle:
    twin-pinned signatures + brute-force xor/bit_count pairing in SQL."""
    from dataflow_flex_templates_spark.operators.dedup import simhash_pairs

    _load(spark, sf_dir)
    return (simhash_pairs(spark.table("documents").filter("doc_id < 500"),
                          max_hamming=3)
            .select("id_a", "id_b",
                    F.col("hamming").cast("long").alias("hamming")))


def _q_lsh_ann_topk(spark, sf_dir):
    """LSH-bucketed ANN (approximation → rows-only driver check)."""
    from dataflow_flex_templates_spark.operators.similarity import lsh_ann_topk

    _load(spark, sf_dir)
    vecs = spark.table("embeddings").filter("vec_id < 300")
    qs = spark.table("embeddings").filter("vec_id < 12")
    return lsh_ann_topk(vecs, qs, k=5, dim=64, n_planes=3, n_tables=16)


def _q_winnow_fingerprints(spark, sf_dir):
    """Rolling-hash winnowing fingerprints (MOSS) per document,
    Arrow-batched numpy kernel, exploded to (doc_id, fingerprint) rows.
    Oracle: the ENTIRE winnowing algebra (k-gram polynomial rolling
    hash mod 2^64 folded to 61 bits, sliding-window min, robust
    position dedup) re-expressed in DuckDB SQL over HUGEINT — a fully
    independent recomputation, no pinned constants."""
    from dataflow_flex_templates_spark.operators.text import (
        winnow_fingerprints,
    )

    _load(spark, sf_dir)
    return (winnow_fingerprints(spark.table("documents").filter("doc_id < 200"))
            .select("doc_id", F.explode("fingerprints").alias("fingerprint")))


def _q_winnow_overlap(spark, sf_dir):
    """Shared-winnowing-fingerprint near-dup pairs (MOSS): inverted
    fingerprint index → pair counts ≥ 8. Oracle: the winnowing CTE +
    the same self-join re-derived in SQL. min_shared=50 keeps the
    pair set selective on the highly-templated synthetic corpus."""
    from dataflow_flex_templates_spark.operators.text import (
        winnow_overlap_pairs,
    )

    _load(spark, sf_dir)
    return winnow_overlap_pairs(
        spark.table("documents").filter("doc_id < 200"), min_shared=50)


def _q_ivf_ann_topk(spark, sf_dir):
    """IVF-FLAT ANN, deterministic variant (lloyd_iters=0: hash-seeded
    centroids + sequential-fold distances — bit-reproducible outside
    the engine). Oracle: cell candidates pinned from the pure-Python
    IVF twin + exact SQL cosine re-rank. The Lloyd-refined variant
    (distributed float means, engine-dependent) keeps its recall
    pytest instead."""
    from dataflow_flex_templates_spark.operators.similarity import ivf_topk

    _load(spark, sf_dir)
    vecs = spark.table("embeddings").filter("vec_id < 300")
    qs = spark.table("embeddings").filter("vec_id < 12")
    return ivf_topk(vecs, qs, k=5, n_centroids=12, nprobe=4,
                    lloyd_iters=0)


def _q_audio_decode_stats(spark, sf_dir):
    """Vectorized PCM decode (pandas UDF) over the synthetic clip table
    — per-codec amplitude stats. Oracle: the same aggregates
    recomputed single-process by the numpy twin (no Spark), pinned as
    a VALUES table; per-row SNR≥30dB additionally pytest-verified."""
    from dataflow_flex_templates_spark.functions.audio import with_audio_features
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    return (with_audio_features(clips)
            .groupBy("codec")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("rms"), 4).alias("avg_rms"),
                 F.round(F.avg("zcr"), 4).alias("avg_zcr"))
            .orderBy("codec"))


def _q_audio_vad_stats(spark, sf_dir):
    """Energy-gate VAD segmentation (decode → 20 ms frame energies →
    voiced-run counting) in one Arrow pass per clip; per-codec integer
    aggregates make the numpy-twin VALUES oracle EXACT (no float
    rounding anywhere)."""
    from dataflow_flex_templates_spark.functions.audio import vad_stats
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    v = vad_stats()
    return (clips.withColumn("__v__", v(F.col("bytes"), F.col("codec"),
                                        F.col("sr_hz")))
            .groupBy("codec")
            .agg(F.count("*").alias("n"),
                 F.sum("__v__.n_frames").alias("total_frames"),
                 F.sum("__v__.voiced_frames").alias("total_voiced"),
                 F.sum("__v__.n_segments").alias("total_segments"))
            .orderBy("codec"))


def _q_audio_resample_stats(spark, sf_dir):
    """Decode → linear-resample to 16 kHz → summarize, one Arrow pass
    per clip (the audio analogue of image resize). Rows-only; SNR of
    the resampling kernel is pytest-verified."""
    from dataflow_flex_templates_spark.functions.audio import resample_stats
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    rs = resample_stats(16000)
    return (clips.withColumn("__rs__", rs(F.col("bytes"), F.col("codec"),
                                          F.col("sr_hz")))
            .groupBy("sr_hz")
            .agg(F.count("*").alias("n"),
                 F.sum("__rs__.n_samples_out").alias("total_out_samples"),
                 F.round(F.avg("__rs__.rms_out"), 4).alias("avg_rms"))
            .orderBy("sr_hz"))


def _q_speed_perturb(spark, sf_dir):
    """Kaldi-style speed perturbation (functions/audio.
    speed_perturb_stats): each clip replayed at 0.9x/1.0x/1.1x —
    decode ONCE per clip, resample per factor in the same Arrow pass,
    then roll up the augmented corpus per (factor, codec). Oracle:
    single-process numpy twin (same kernels) pinned as VALUES;
    aggregation re-done in DuckDB."""
    from dataflow_flex_templates_spark.functions.audio import (
        speed_perturb_stats,
    )
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    sp = speed_perturb_stats()
    return (clips
            .withColumn("__sp__", sp(F.col("bytes"), F.col("codec"),
                                     F.col("sr_hz")))
            .select("codec", F.explode("__sp__").alias("__p__"))
            .groupBy(F.col("__p__.factor_x100").alias("factor_x100"),
                     "codec")
            .agg(F.count("*").alias("n"),
                 F.sum("__p__.n_samples_out").alias("total_out_samples"),
                 F.round(F.avg("__p__.rms_out"), 4).alias("avg_rms"))
            .orderBy("factor_x100", "codec"))


def _q_noise_mix(spark, sf_dir):
    """SNR-targeted additive-noise augmentation (functions/audio.
    noise_mix_stats): each clip re-issued at 20/10/5 dB over
    deterministic counter-based white noise — decode ONCE per clip,
    generate + mix the noise per target in the same Arrow pass (noise
    is never materialized or shuffled), then roll up the augmented
    corpus per (snr, codec). Oracle: numpy twin calling the SAME
    shared kernel, pinned as VALUES; aggregation re-done in DuckDB."""
    from dataflow_flex_templates_spark.functions.audio import (
        noise_mix_stats,
    )
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    nm = noise_mix_stats()
    return (clips
            .withColumn("__nm__", nm(F.col("bytes"), F.col("codec"),
                                     F.col("sr_hz")))
            .select("codec", F.explode("__nm__").alias("__p__"))
            .groupBy(F.col("__p__.snr_db").alias("snr_db"), "codec")
            .agg(F.count("*").alias("n"),
                 F.sum("__p__.n_samples").alias("total_samples"),
                 F.round(F.avg("__p__.rms_mixed"), 4)
                  .alias("avg_rms_mixed"))
            .orderBy("snr_db", "codec"))


def _q_reverb_aug(spark, sf_dir):
    """Synthetic-RIR reverberation (functions/audio.reverb_stats):
    each clip convolved with deterministic 120/300 ms-RT60 room
    responses — with speed perturbation and noise mixing, the third
    standard ASR augmentation. Decode ONCE, build + FFT-convolve the
    RIR per target in the same Arrow pass (the RIR is a pure function
    of (sr, rt60), never materialized or shuffled), roll up per
    (rt60, codec). Oracle: numpy twin via the SAME shared kernel,
    pinned as VALUES; aggregation re-done in DuckDB."""
    from dataflow_flex_templates_spark.functions.audio import (
        reverb_stats,
    )
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    rv = reverb_stats()
    return (clips
            .withColumn("__rv__", rv(F.col("bytes"), F.col("codec"),
                                     F.col("sr_hz")))
            .select("codec", F.explode("__rv__").alias("__p__"))
            .groupBy(F.col("__p__.rt60_ms").alias("rt60_ms"), "codec")
            .agg(F.count("*").alias("n"),
                 F.sum("__p__.n_samples").alias("total_samples"),
                 F.round(F.avg("__p__.rms_out"), 4).alias("avg_rms_out"))
            .orderBy("rt60_ms", "codec"))


def _q_speaking_rate(spark, sf_dir):
    """Cross-modal alignment gate (operators/asr.speaking_rate_gate):
    transcript words-per-minute against the AUDIO duration — the
    zero-shuffle, zero-Python curation check that catches
    clip↔transcript mis-pairings before any decode runs. Integer
    div rates, per-(codec, flag) rollup. Oracle: per-clip word/char
    counts twin-pinned; rates, flags, and rollup genuine SQL."""
    from dataflow_flex_templates_spark.operators.asr import (
        speaking_rate_gate,
    )
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    g = speaking_rate_gate(clips)
    return (g.groupBy("codec", "rate_flag")
            .agg(F.count("*").alias("n"),
                 F.sum("n_words").alias("total_words"),
                 F.sum("wpm_x10").alias("sum_wpm_x10"),
                 F.sum("cps_x10").alias("sum_cps_x10"))
            .orderBy("codec", "rate_flag"))


def _q_audio_spectral_stats(spark, sf_dir):
    """Decode → FFT → spectral summary (centroid/bandwidth/rolloff/
    flatness) in one Arrow pass per clip, rolled up per codec. Oracle:
    single-process numpy-twin aggregates pinned as a VALUES table."""
    from dataflow_flex_templates_spark.functions.audio import (
        spectral_features,
    )
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    sf = spectral_features(F.col("bytes"), F.col("codec"), F.col("sr_hz"))
    return (clips.withColumn("__sf__", sf)
            .groupBy("codec")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("__sf__.centroid_hz"), 3).alias("avg_centroid"),
                 F.round(F.avg("__sf__.bandwidth_hz"), 3).alias("avg_bandwidth"),
                 F.round(F.avg("__sf__.rolloff_hz"), 3).alias("avg_rolloff"),
                 F.round(F.avg("__sf__.flatness"), 4).alias("avg_flatness"))
            .orderBy("codec"))


def _q_audio_health(spark, sf_dir):
    """Corpus-health scan (clipping / dropout / DC-bias detection) over
    the deterministic defect-injected clip fixture: one Arrow decode
    pass → exact integer counters per clip, then integer-arithmetic
    defect flags and a per-codec rollup, all JVM-side. Oracle: per-clip
    counters pinned from the numpy twin; every flag and the aggregation
    re-run as genuine SQL."""
    from dataflow_flex_templates_spark.functions.audio import (
        with_audio_health,
    )
    from dataflow_flex_templates_spark.testing.clips import (
        make_health_clips_df,
    )

    clips = make_health_clips_df(spark)
    return (with_audio_health(clips)
            .groupBy("codec")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("clipping").cast("long"))
                  .alias("clips_clipping"),
                 F.sum(F.col("dropout").cast("long"))
                  .alias("clips_dropout"),
                 F.sum(F.col("dc_bias").cast("long"))
                  .alias("clips_dc_bias"),
                 F.sum(F.col("healthy").cast("long"))
                  .alias("clips_healthy"),
                 F.sum("clipped_samples").alias("total_clipped"),
                 F.max("max_quiet_run").alias("max_quiet_run"))
            .orderBy("codec"))


def _q_audio_loudness(spark, sf_dir):
    """Loudness normalization (gain staging) over the clip fixture:
    decode → per-clip int64 gain counters (RMS nano-units, gain in
    milli-dB to a hot -3 dBFS target, post-gain clip count and peak) in
    one Arrow pass, rolled up per codec with exact integer SUM/MAX
    arithmetic. Oracle: per-clip counters pinned from the numpy twin,
    rollup genuine SQL."""
    from dataflow_flex_templates_spark.functions.audio import (
        loudness_stats,
    )
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    ld = loudness_stats(target_db=-3.0)(F.col("bytes"), F.col("codec"))
    return (clips.withColumn("__ld__", ld)
            .groupBy("codec")
            .agg(F.count("*").alias("n"),
                 F.sum("__ld__.rms_q").alias("sum_rms_q"),
                 F.sum("__ld__.gain_mdb").alias("sum_gain_mdb"),
                 F.sum("__ld__.post_clipped").alias("total_post_clipped"),
                 F.max("__ld__.post_peak_q").alias("max_post_peak_q"))
            .orderBy("codec"))


def _q_audio_mel_stats(spark, sf_dir):
    """ASR front-end features: framed power spectrogram → triangular
    HTK-mel filterbank → per-band mean log energy, quantized to
    int64 milli-log units at the clip boundary, rolled up per codec
    with exact integer SUMs. Oracle: per-clip band vectors pinned
    from the numpy twin, rollup genuine SQL."""
    from dataflow_flex_templates_spark.functions.audio import mel_stats
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    mel = mel_stats()(F.col("bytes"), F.col("codec"), F.col("sr_hz"))
    bands = [F.sum(F.element_at("__mel__", i + 1)).alias(f"sum_m{i}")
             for i in range(8)]
    return (clips.withColumn("__mel__", mel)
            .groupBy("codec")
            .agg(F.count(F.lit(1)).alias("n"), *bands)
            .orderBy("codec"))


def _q_audio_mfcc_stats(spark, sf_dir):
    """MFCCs (orthonormal DCT-II of the quantized log-mel vector) —
    the last stage of the standard ASR front-end chain
    decode→mel→MFCC, int64 milli-units per coefficient, per-codec
    exact integer SUM rollup. Oracle: per-clip coefficient vectors
    pinned from the numpy twin, rollup genuine SQL."""
    from dataflow_flex_templates_spark.functions.audio import mfcc_stats
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    mf = mfcc_stats()(F.col("bytes"), F.col("codec"), F.col("sr_hz"))
    coefs = [F.sum(F.element_at("__mf__", i + 1)).alias(f"sum_c{i}")
             for i in range(5)]
    return (clips.withColumn("__mf__", mf)
            .groupBy("codec")
            .agg(F.count(F.lit(1)).alias("n"), *coefs)
            .orderBy("codec"))


def _q_audio_pitch_stats(spark, sf_dir):
    """Pitch / zero-crossing prosody features (FFT-autocorrelation
    argmax over the 50–400 Hz lag band, integer-quantized at the clip
    boundary) — the flat-pitch / tone-contamination curation signal.
    One Arrow decode pass, per-codec exact integer rollup. Oracle:
    per-clip integers pinned from the numpy twin, rollup genuine SQL."""
    from dataflow_flex_templates_spark.functions.audio import pitch_stats
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    p = pitch_stats()(F.col("bytes"), F.col("codec"), F.col("sr_hz"))
    return (clips.withColumn("__p__", p)
            .groupBy("codec")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("__p__.zcr_n").alias("sum_zcr"),
                 F.sum("__p__.pitch_lag").alias("sum_lag"),
                 F.sum("__p__.pitch_mhz").alias("sum_pitch_mhz"),
                 F.sum("__p__.conf_ppm").alias("sum_conf_ppm"))
            .orderBy("codec"))


def _q_audio_transcode(spark, sf_dir):
    """Lossy-extension-codec ingest gate (G.711 A-law + IMA ADPCM,
    functions/codecs.py): decode each clip and score it against the
    reference waveform re-derived from clip_id alone — the per-row
    decoded-PCM SNR invariant as a measured column. ADPCM is 4
    bits/sample, so at a 100 TB scan this codec path reads 1/4 the
    bytes of pcm_s16le. Oracle: per-clip integers pinned from the
    numpy twin, per-codec rollup genuine SQL."""
    from dataflow_flex_templates_spark.functions.audio import (
        transcode_fidelity_stats,
    )
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 200, seed=77, max_dur_ms=800,
                          codec_choices=["alaw", "adpcm_ima"])
    tc = transcode_fidelity_stats()(
        F.col("bytes"), F.col("codec"), F.col("clip_id"),
        F.col("sr_hz"), F.col("dur_ms"))
    return (clips.withColumn("__tc__", tc)
            .groupBy("codec")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("__tc__.n_samples").alias("sum_samples"),
                 F.sum("__tc__.sum_abs_q").alias("sum_abs_q"),
                 F.min("__tc__.snr_mdb").alias("min_snr_mdb"),
                 F.sum((F.col("__tc__.snr_mdb") >= F.lit(30000))
                       .cast("long")).alias("clips_snr30_ok"))
            .orderBy("codec"))


def _q_wav_ingest(spark, sf_dir):
    """WAV/RIFF container ingest (sources/wav.py): binaryFile scan →
    chunk-walk parse → clip-table rows, stereo downmixed by exact
    integer mean, LIST-chunk pad bytes walked, one truncated poison
    file degrading to ok=false. Oracle: the fixture facts are fully
    derivable without Spark (testing/wavio.py twin), pinned as VALUES."""
    import tempfile

    from dataflow_flex_templates_spark.sources.wav import read_wav_dir
    from dataflow_flex_templates_spark.testing.wavio import (
        write_wav_fixture_dir,
    )

    d = tempfile.mkdtemp(prefix="wav_fixture_")
    write_wav_fixture_dir(d, n_files=40)
    # poison row's NULL fields → -1 sentinel: NaN-vs-NaN compares
    # unequal in the driver's value canonicalization
    return (read_wav_dir(spark, d)
            .select("clip_id", "ok",
                    F.coalesce("sr_hz", F.lit(-1)).alias("sr_hz"),
                    F.coalesce("n_channels", F.lit(-1))
                     .alias("n_channels"),
                    F.coalesce("n_frames", F.lit(-1)).alias("n_frames"),
                    F.coalesce("dur_ms", F.lit(-1)).alias("dur_ms"),
                    F.coalesce("sum_abs", F.lit(-1)).alias("sum_abs"))
            .orderBy("clip_id"))


def _q_utterance_segments(spark, sf_dir):
    """VAD-run utterance splitting: one row per voiced segment
    (clip_id, seg_idx, start_frame, n_frames) — decode + segment in
    one Arrow pass, JVM posexplode. Oracle: the runs re-derived by the
    numpy twin, pinned as a VALUES table (exact integers)."""
    from dataflow_flex_templates_spark.functions.audio import (
        utterance_segments,
    )
    from dataflow_flex_templates_spark.testing.clips import make_clips_df

    clips = make_clips_df(spark, 300, seed=42)
    return utterance_segments(clips).orderBy("clip_id", "seg_idx")


def _q_trim_silence(spark, sf_dir):
    """Leading/trailing silence trim over the padded-silence fixture —
    one Arrow decode pass to exact integer trim counters, per-codec
    integer rollup. Oracle: per-clip counters pinned from the numpy
    twin; the aggregation genuine SQL."""
    from dataflow_flex_templates_spark.functions.audio import (
        trim_silence_stats,
    )
    from dataflow_flex_templates_spark.testing.clips import (
        make_trim_clips_df,
    )

    clips = make_trim_clips_df(spark)
    t = trim_silence_stats()(F.col("bytes"), F.col("codec"))
    return (clips.withColumn("__t__", t)
            .groupBy("codec")
            .agg(F.count("*").alias("n"),
                 F.sum("__t__.n_samples").alias("total_samples"),
                 F.sum("__t__.lead_quiet").alias("total_lead"),
                 F.sum("__t__.trail_quiet").alias("total_trail"),
                 F.sum("__t__.n_kept").alias("total_kept"))
            .orderBy("codec"))


def _q_audio_fp_neardup(spark, sf_dir):
    """Audio near-duplicate pairs over the deterministic near-dup clip
    fixture (base clips + gain/noise variants): landmark spectral-peak
    fingerprints, posting-list candidate join bounded by max_df, exact
    aligned-frame verification — the text-dedup architecture on the
    audio payload. Oracle: candidate generation AND verification
    re-run as genuine SQL over the twin-pinned fingerprint rows."""
    from dataflow_flex_templates_spark.operators.audio_dedup import (
        audio_neardup_pairs,
    )
    from dataflow_flex_templates_spark.testing.clips import (
        make_neardup_clips_df,
    )

    clips = make_neardup_clips_df(spark)
    return (audio_neardup_pairs(clips, min_match_frames=2,
                                min_match_pct=60, max_df=8)
            .orderBy("clip_a", "clip_b"))


def _q_bloom_registers(spark, sf_dir):
    """Bloom filter as an open 64-bit-word register table (per
    event_type over user_id, m=4096 bits, k=4 via Kirsch–Mitzenmacher
    double hashing of one xxhash64) — the mergeable membership sketch
    / runtime-filter primitive. Oracle: per-user hash pinned (xxhash64
    twin); the position/word/bit algebra re-run as genuine SQL."""
    from dataflow_flex_templates_spark.operators.sketch import (
        bloom_registers,
    )

    _load(spark, sf_dir)
    return bloom_registers(spark.table("events"), "user_id",
                           ["event_type"], m_bits=1 << 12, k=4)


def _q_cms_registers(spark, sf_dir):
    """Count-min sketch counter table (per event_type over user_id,
    width=256, depth=4) — approximate per-key frequency in bounded
    state; merge is SUM, estimate is MIN over rows. Oracle: pinned
    user hashes + the position/count algebra as genuine SQL."""
    from dataflow_flex_templates_spark.operators.sketch import (
        cms_registers,
    )

    _load(spark, sf_dir)
    return cms_registers(spark.table("events"), "user_id",
                         ["event_type"], width=1 << 8, depth=4)


def _q_hll_user_registers(spark, sf_dir):
    """HyperLogLog register table (p=6) for distinct users per
    event_type — the mergeable cardinality sketch as an OPEN integer
    table (operators/sketch.py). Oracle: per-user xxhash64 twin-pinned;
    the full register/rho algebra (shift/mask/bin/lpad/strpos + MAX)
    re-run as genuine SQL."""
    from dataflow_flex_templates_spark.operators.sketch import (
        hll_registers,
    )

    _load(spark, sf_dir)
    return hll_registers(spark.table("events"), "user_id",
                         ["event_type"], p=6)


def _q_stream_hll(spark, sf_dir):
    """The hll_user_registers row run CONTINUOUSLY: the same events
    replayed as a stream, each micro-batch sketched ALONE and folded
    by `streaming/hll_stream.py hll_apply_batch` into a keyed register
    store through a STRICT-INCREASE upsert changelog — one register
    emits at most 65-p rows EVER regardless of stream length, and a
    re-delivered batch emits nothing. MAX is associative, so the
    compacted log is byte-identical to the batch row's register table
    at ANY batch split — this row shares that row's
    register-algebra DuckDB oracle."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.streaming.hll_stream import (
        compact_log,
        hll_apply_batch,
    )

    _load(spark, sf_dir)
    events = spark.table("events").select("event_type", "user_id")
    root = tempfile.mkdtemp(prefix="entry_hll_stream_")
    inp = os.path.join(root, "in")
    # 5 stream files ~= 5 micro-batches under maxFilesPerTrigger=1
    events.repartition(5).write.parquet(inp)

    stream = (spark.readStream.schema(events.schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    log = run_fold(
        spark, stream, os.path.join(root, "fold"),
        lambda batch, state: {"log": hll_apply_batch(
            batch, compact_log(state["log"], ["event_type"]), "user_id",
            ["event_type"], p=6)},
        logs={"log": "event_type string, reg_idx long, max_rho long"},
    )["log"]
    return compact_log(log, ["event_type"])


def _q_clip_conformance(spark, sf_dir):
    """Migration conformance gate — the north-star acceptance check
    (per-row decoded-PCM SNR ≥ 30 dB + transcript equality) as an
    operator: full-outer join two keyed clip tables, decode both
    payloads in one Arrow pass, verdict per clip_id. Fixture: the
    shared (left, right) builder exercising all seven statuses.
    Oracle: the twin re-derives every verdict with the same
    decode/snr kernels (pinned VALUES); comparison genuine SQL."""
    from dataflow_flex_templates_spark.operators.conformance import (
        clip_conformance,
    )
    from dataflow_flex_templates_spark.testing.clips import (
        clips_spark_schema,
        conformance_fixture_pdfs,
    )

    left_pdf, right_pdf = conformance_fixture_pdfs()
    schema = clips_spark_schema()
    left = spark.createDataFrame(left_pdf, schema=schema)
    right = spark.createDataFrame(right_pdf, schema=schema)
    out = clip_conformance(left, right)
    # NULL evidence ints → -1 sentinels for the hash compare (NaN is
    # unhashable across engines; operator semantics keep the NULLs)
    return out.select(
        "clip_id", "status",
        F.coalesce(F.col("n_left"), F.lit(-1)).alias("n_left"),
        F.coalesce(F.col("n_right"), F.lit(-1)).alias("n_right"),
        F.coalesce(F.col("snr_mdb"), F.lit(-1)).alias("snr_mdb"),
        "transcript_equal")


def _q_stream_conformance(spark, sf_dir):
    """The migration gate run CONTINUOUSLY — the north-star acceptance
    check over the new system's output AS IT STREAMS: per micro-batch,
    the static reference restricted to the batch's ids (left-semi)
    through the batch operator VERBATIM (same UDF, same status
    algebra — `streaming/conformance_stream.py`), verdicts appended;
    at close, ONE reconciliation anti-join emits the missing_right
    rows via the same operator against an empty right side. No state
    beyond the verdict sink; no batch re-reads accumulated output.
    union(folds) ∪ close == the batch full-outer gate byte-for-byte
    (law-tested at chunks 1/4/all) — so this row shares the batch
    row's oracle."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.streaming.conformance_stream import (
        conformance_apply_batch,
        finalize_missing_right,
    )
    from dataflow_flex_templates_spark.testing.clips import (
        clips_spark_schema,
        conformance_fixture_pdfs,
    )

    left_pdf, right_pdf = conformance_fixture_pdfs()
    schema = clips_spark_schema()
    left = spark.createDataFrame(left_pdf, schema=schema)

    root = tempfile.mkdtemp(prefix="entry_conf_stream_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, right_pdf, schema, inp,
                  len(right_pdf) // 4 + 1)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp))
    verdicts = run_fold(
        spark, stream, os.path.join(root, "fold"),
        lambda batch, _: {"verdicts": conformance_apply_batch(left, batch)},
        logs={"verdicts": "clip_id string, status string, n_left long, "
                          "n_right long, snr_mdb long, "
                          "transcript_equal boolean"})["verdicts"]
    closed = verdicts.unionByName(
        finalize_missing_right(left, verdicts))
    return closed.select(
        "clip_id", "status",
        F.coalesce(F.col("n_left"), F.lit(-1)).alias("n_left"),
        F.coalesce(F.col("n_right"), F.lit(-1)).alias("n_right"),
        F.coalesce(F.col("snr_mdb"), F.lit(-1)).alias("snr_mdb"),
        "transcript_equal")


def _q_hll_windowed(spark, sf_dir):
    """Windowed HLL registers: distinct-user sketch per 1-hour event
    window — state ≤ 2^p longs per window however many users it saw.
    Streaming parity (same aggregate under a watermark) is
    pytest-proven; this is the batch plan. Oracle: pinned user hashes
    + time_bucket + the register algebra in SQL."""
    from dataflow_flex_templates_spark.operators.sketch import (
        hll_registers_windowed,
    )

    _load(spark, sf_dir)
    out = hll_registers_windowed(spark.table("events"), "ts", "1 hour",
                                 "user_id", p=6)
    return out.select(
        F.unix_micros(F.col("window_start").cast("timestamp"))
         .alias("window_start"),
        "reg_idx", "max_rho")


def _q_value_hist_windowed(spark, sf_dir):
    """Per-hour fixed-width histogram of event values per event_type —
    the mergeable distribution sketch (operators/sketch.py) as a
    windowed plan; identical shape runs as a streaming aggregate under
    a watermark. Oracle: genuine SQL (time_bucket + floor), no pinned
    constants."""
    from dataflow_flex_templates_spark.operators.sketch import (
        histogram_registers_windowed,
    )

    _load(spark, sf_dir)
    out = histogram_registers_windowed(
        spark.table("events"), "ts", "1 hour", "value", 5.0,
        ["event_type"])
    return out.select(
        F.unix_micros(F.col("window_start").cast("timestamp"))
         .alias("window_start"),
        "event_type", "bin_idx", "n")


def _q_value_hist_quantile(spark, sf_dir):
    """p50/p95/p99 of event value per event_type read off the
    histogram sketch — deterministic (integer cum-count threshold,
    then one float multiply), so the SQL oracle reproduces it exactly
    rather than approximately."""
    from dataflow_flex_templates_spark.operators.sketch import (
        histogram_quantile,
        histogram_registers,
    )

    _load(spark, sf_dir)
    regs = histogram_registers(spark.table("events"), "value", 5.0,
                               ["event_type"])
    return histogram_quantile(regs, [0.5, 0.95, 0.99], 5.0,
                              ["event_type"])


def _q_bottomk_quantiles(spark, sf_dir):
    """Per-source n_chars quantiles read off a bottom-k (KMV) sample
    sketch — the k=64 rows with the smallest md5(doc_id) per source, a
    deterministic MERGEABLE uniform sample (state ≤ k rows/group at
    any corpus size; WindowGroupLimit keeps each map task's local
    bottom-k before the exchange). Sample selection and nearest-rank
    pick are pure hash/integer algebra, so the SQL oracle replays the
    exact estimates."""
    from dataflow_flex_templates_spark.operators.sketch import (
        bottomk_quantiles,
        bottomk_sample,
    )

    _load(spark, sf_dir)
    samp = bottomk_sample(spark.table("documents"), "doc_id",
                          ["n_chars"], group_cols=["source"], k=64)
    return bottomk_quantiles(samp, "n_chars", "doc_id",
                             group_cols=["source"])


def _q_value_hist_drift(spark, sf_dir):
    """Hour-over-hour distribution-drift alarm per event_type: L1
    distance between consecutive windows of the fixed-width histogram
    sketch, computed on exact integers (|a_i*B - b_i*A| summed) so the
    SQL oracle reproduces the number bit-for-bit. The drift operand is
    the tiny register table, never raw rows."""
    from dataflow_flex_templates_spark.operators.sketch import (
        histogram_drift,
        histogram_registers_windowed,
    )

    _load(spark, sf_dir)
    regs = histogram_registers_windowed(
        spark.table("events"), "ts", "1 hour", "value", 5.0,
        ["event_type"])
    out = histogram_drift(regs, "1 hour", ["event_type"])
    return out.select(
        F.unix_micros(F.col("window_start").cast("timestamp"))
         .alias("window_start"),
        "event_type", "tot_prev", "tot_cur", "drift_num", "drift")


def _q_audio_text_quality(spark, sf_dir):
    """Audio+transcript pair-quality scan (speech-dataset analogue of
    the Gopher filters) over the LWW-MERGED document-derived clip
    table: VAD voicing + normalized token counts → integer-arithmetic
    flags. Oracle: winning transcript + flags in plain SQL over
    `documents`; only the waveform-derived VAD counts are twin-pinned."""
    from dataflow_flex_templates_spark.functions.audio import (
        clip_text_quality,
    )
    from dataflow_flex_templates_spark.plans.compiler import lww_latest
    from dataflow_flex_templates_spark.testing.clips import (
        make_doc_clips_df,
    )

    _load(spark, sf_dir)
    clips = make_doc_clips_df(
        spark, spark.table("documents").filter("doc_id < 300"))
    merged = lww_latest(
        clips.withColumn("__seq__", F.unix_micros("event_time")),
        ["clip_id"], "__seq__").drop("__seq__")
    q = clip_text_quality(merged)
    return q.select("clip_id", F.col("dur_ms").cast("long").alias("dur_ms"),
                    "n_frames", "voiced_frames", "n_tokens",
                    "too_short", "empty_transcript", "low_density",
                    "high_density", "silence_heavy", "keep")


def _q_sink_changelog(spark, sf_dir):
    """CDC read over the exactly-once sink (Iceberg changelog
    analogue): batch 0 seeds doc_id<150, batch 1 revises every
    doc_id%5==0 transcript (" rev2") and inserts 150≤doc_id<180;
    read_changes emits insert + update pre/post-image rows. Oracle:
    the same delta derived with plain SQL over `documents`."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.streaming.sink import (
        ExactlyOnceTable,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "text")
    tbl = ExactlyOnceTable(
        os.path.join(tempfile.mkdtemp(prefix="entry_cdc_"), "t"),
        ["doc_id"])
    row = lambda d: d.select(
        "doc_id", F.col("text").alias("transcript"),
        F.length("text").cast("long").alias("n_chars"))
    tbl.write_batch(row(docs.filter("doc_id < 150")), 0)
    upd = docs.filter("doc_id < 150 AND doc_id % 5 = 0") \
              .withColumn("text", F.concat("text", F.lit(" rev2")))
    ins = docs.filter("doc_id >= 150 AND doc_id < 180")
    tbl.write_batch(row(upd).unionByName(row(ins)), 1)
    return tbl.read_changes(spark, 0)


def _q_streaming_clip_graph(spark, sf_dir):
    """End-to-end streaming job (exactly-once sink, LWW merge) run to
    completion on a DOCUMENT-DERIVED clip stream: every clip column is
    deterministic arithmetic over the `documents` table (including a
    later " rev2" transcript revision for doc_id%5==0 that must win
    under MERGE), so the merged node table has a genuine DuckDB SQL
    oracle — decode sample counts, normalization, and LWW all checked
    row-for-row against `SELECT ... FROM documents`."""
    import tempfile

    from dataflow_flex_templates_spark.streaming.clip_graph import (
        clip_graph_spec,
        clips_spark_schema,
        prepare_clips,
    )
    from dataflow_flex_templates_spark.streaming.spec_stream import SpecStreamJob
    from dataflow_flex_templates_spark.testing.clips import make_doc_clips_df

    _load(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_stream_")
    clips = make_doc_clips_df(
        spark, spark.table("documents").filter("doc_id < 200"))
    clips.repartition(4).write.mode("overwrite").parquet(f"{root}/in")
    job = SpecStreamJob(
        clip_graph_spec(), input_dir=f"{root}/in",
        input_schema=clips_spark_schema(), output_dir=f"{root}/out",
        checkpoint_dir=f"{root}/ckpt", max_files_per_trigger=2,
        prepare_fn=prepare_clips, prepare_preserves="*")
    job.run_to_completion(spark)
    return job.read_merged(spark, "Clip").select(
        "clip_id", "sr_hz", "dur_ms", "codec", "n_samples",
        "transcript_norm")


def _q_spec_stream_graph(spark, sf_dir):
    """North-star flagship: the SAME JSON job spec the batch engine
    runs, executed as a continuous Structured Streaming pipeline
    (SpecStreamJob) — vectorized decode, event-time-deterministic LWW
    MERGE, exactly-once commits. Runs over the DOCUMENT-DERIVED clip
    stream so the merged output has a genuine DuckDB oracle (see
    _q_streaming_clip_graph); batch/stream row-identity is additionally
    pytest-verified (tests/test_spec_stream.py)."""
    import json as _json
    import tempfile

    from dataflow_flex_templates_spark.spec.parser import parse_job_spec
    from dataflow_flex_templates_spark.streaming.clip_graph import (
        clips_spark_schema,
        prepare_clips,
    )
    from dataflow_flex_templates_spark.streaming.spec_stream import SpecStreamJob
    from dataflow_flex_templates_spark.testing.clips import make_doc_clips_df

    spec = parse_job_spec(_json.dumps({
        "sources": [{"type": "bigquery", "name": "clips",
                     "query": "SELECT 1"}],
        "targets": [{
            "name": "Clip", "type": "node", "source": "clips",
            "mode": "merge",
            "mappings": [
                {"constant": "Clip", "role": "label"},
                {"field": "clip_id", "name": "clip_id", "role": "key",
                 "type": "String"},
                {"field": "codec", "name": "codec", "role": "property",
                 "type": "String"},
                {"field": "n_samples", "name": "n_samples",
                 "role": "property", "type": "Long"},
                {"field": "transcript_norm", "name": "transcript_norm",
                 "role": "property", "type": "String"},
            ],
        }],
    }))

    _load(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_spec_stream_")
    clips = make_doc_clips_df(
        spark, spark.table("documents").filter("doc_id < 200"))
    clips.repartition(4).write.mode("overwrite").parquet(f"{root}/in")
    job = SpecStreamJob(
        spec, input_dir=f"{root}/in", input_schema=clips_spark_schema(),
        output_dir=f"{root}/out", checkpoint_dir=f"{root}/ckpt",
        max_files_per_trigger=2, prepare_fn=prepare_clips)
    job.run_to_completion(spark)
    return job.read_merged(spark, "Clip").select(
        "clip_id", "codec", "n_samples", "transcript_norm")


def _q_bloom_dedup(spark, sf_dir):
    """Bloom-gated first-occurrence dedup (O(1)-state dedup at
    10^12-key scale): emits each key's first event unless a bloom
    false positive suppresses it — a deterministic function of the
    key sequence. Batch path here; streaming parity pytest-proven.
    Oracle: genuine first-occurrence SQL minus the twin-pinned FP
    victim set (empty at this size — fully genuine)."""
    from dataflow_flex_templates_spark.streaming.bloom_dedup import (
        bloom_dedup_batch,
    )

    _load(spark, sf_dir)
    out = bloom_dedup_batch(spark.table("events"), "user_id",
                            event_time_col="ts", ordinal_col="event_id",
                            m_bits=1 << 12, n_shards=8, k=4)
    return out.select("user_id",
                      F.unix_micros("event_time").alias("ts_us"),
                      F.col("ord").alias("event_id"))


def _q_jobspec_join_transform(spark, sf_dir):
    """Join transform INSIDE the job spec — the reference's own
    roadmap item (docs/README.md:182 "Supporting join transformations
    inside the job"), designed and shipped in this engine's grammar:
    orders joined to customer on custkey inside the target's
    transform, then grouped per nation-of-customer with aggregates.
    Oracle: the equivalent plain SQL join+group."""
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    spec = parse_job_spec(json.dumps({
        "sources": [
            {"type": "bigquery", "name": "orders",
             "query": "SELECT o_orderkey, o_custkey AS custkey, "
                      "o_totalprice FROM orders"},
            {"type": "bigquery", "name": "customers",
             "query": "SELECT c_custkey AS custkey, c_nationkey, "
                      "c_mktsegment FROM customer"},
        ],
        "targets": [{
            "name": "SegmentNation", "type": "node", "source": "orders",
            "mode": "append",
            "transform": {
                "join": {"with": "customers", "on": ["custkey"],
                         "how": "inner", "broadcast": True},
                "group": True,
                "aggregations": [
                    {"expr": "count(*)", "field": "n_orders"},
                    {"expr": "round(sum(o_totalprice), 2)",
                     "field": "revenue"},
                ],
            },
            "mappings": [
                {"constant": "SegmentNation", "role": "label"},
                {"field": "c_nationkey", "name": "nationkey",
                 "role": "key", "type": "Long"},
                {"field": "c_mktsegment", "name": "mktsegment",
                 "role": "key", "type": "String"},
                {"field": "n_orders", "name": "n_orders",
                 "role": "property", "type": "Long"},
                {"field": "revenue", "name": "revenue",
                 "role": "property", "type": "Float"},
            ],
        }],
    }))
    out = run_job(spark, spec).target_frames["SegmentNation"]
    return out.select("nationkey", "mktsegment", "n_orders", "revenue")


def _q_triangle_count(spark, sf_dir):
    """Per-node triangle counts (degree-ordered orientation, the
    O(m^1.5) Schank–Wagner algorithm) over a deterministic 150-node
    graph derived from orders. Exact integer order key (deg·2^32 +
    node) makes the orientation — and therefore every wedge and
    triangle — reproducible in the SQL oracle."""
    from dataflow_flex_templates_spark.operators.graphalgo import (
        triangle_counts,
    )

    _load(spark, sf_dir)
    e = (spark.table("orders")
         .select((F.col("o_custkey") % 150).cast("long").alias("src"),
                 (F.col("o_orderkey") % 150).cast("long").alias("dst")))
    return triangle_counts(e)


def _q_bloom_prejoin(spark, sf_dir):
    """Runtime-filter pattern end-to-end: a Bloom filter built from
    the dimension side's keys (BUILDING-segment customers) broadcasts
    and prunes the orders scan BEFORE the exact join — no false
    negatives, so pruned ⨝ dim ≡ orders ⨝ dim, which is exactly what
    the oracle checks (plain SQL semi-join + group). At 100 TB this is
    the pre-join fact-scan pruning documented in docs/SCALE.md; the
    probe side never shuffles (register table broadcasts)."""
    from dataflow_flex_templates_spark.operators.sketch import (
        bloom_might_contain,
        bloom_registers,
    )

    _load(spark, sf_dir)
    dim = (spark.table("customer")
           .filter(F.col("c_mktsegment") == "BUILDING")
           .select(F.col("c_custkey").alias("key")))
    regs = bloom_registers(dim, "key", m_bits=1 << 14, k=4)
    orders = spark.table("orders").select("o_custkey", "o_orderstatus")
    # probe the DISTINCT key set (bloom_might_contain's contract —
    # it collapses probe-row multiplicity), then rejoin the surviving
    # keys to the fact rows; both joins broadcast
    cand = bloom_might_contain(
        regs, orders.select("o_custkey").distinct(),
        "o_custkey", m_bits=1 << 14, k=4)
    keep = cand.filter("might_contain").select("o_custkey")
    pruned = orders.join(F.broadcast(keep), "o_custkey")
    exact = pruned.join(F.broadcast(dim),
                        pruned["o_custkey"] == dim["key"])
    return (exact.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n_orders"))
            .orderBy("o_orderstatus"))


def _q_jobspec_union_transform(spark, sf_dir):
    """Union transform inside the job spec (multi-shard ingest): two
    SQL sources covering disjoint halves of orders are appended
    (unionByName) before the grouped aggregate — one logical source
    from N physical shards. Oracle: the same aggregate over the whole
    table."""
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    spec = parse_job_spec(json.dumps({
        "sources": [
            {"type": "bigquery", "name": "even",
             "query": "SELECT o_orderkey, o_orderstatus, o_totalprice "
                      "FROM orders WHERE o_orderkey % 2 = 0"},
            {"type": "bigquery", "name": "odd",
             "query": "SELECT o_orderkey, o_orderstatus, o_totalprice "
                      "FROM orders WHERE o_orderkey % 2 = 1"},
        ],
        "targets": [{
            "name": "Status", "type": "node", "source": "even",
            "mode": "append",
            "transform": {
                "union": ["odd"],
                "group": True,
                "aggregations": [
                    {"expr": "count(*)", "field": "n_orders"},
                    {"expr": "round(sum(o_totalprice), 2)",
                     "field": "revenue"},
                ],
            },
            "mappings": [
                {"constant": "Status", "role": "label"},
                {"field": "o_orderstatus", "name": "status",
                 "role": "key", "type": "String"},
                {"field": "n_orders", "name": "n_orders",
                 "role": "property", "type": "Long"},
                {"field": "revenue", "name": "revenue",
                 "role": "property", "type": "Float"},
            ],
        }],
    }))
    out = run_job(spark, spec).target_frames["Status"]
    return out.select("status", "n_orders", "revenue")


def _q_pagerank(spark, sf_dir):
    """Integer-exact PageRank, 10 iterations, over the supplier→part
    supply graph (distinct lineitem pairs; part ids offset so the two
    key spaces don't collide). Ranks live in nano-units with integer
    multiply/floor-div/sum per iteration — exactly associative, so the
    DuckDB oracle (the same recurrence unrolled as 10 chained CTEs)
    reproduces every rank bit-for-bit; a float formulation would drift
    across engines after the first SUM reassociation."""
    from dataflow_flex_templates_spark.operators.graphalgo import (
        pagerank_int,
    )

    _load(spark, sf_dir)
    e = (spark.table("lineitem")
         .select(F.col("l_suppkey").cast("long").alias("src"),
                 (F.col("l_partkey") + F.lit(1_000_000))
                 .cast("long").alias("dst"))
         .distinct())
    return pagerank_int(e, iterations=10).select("node", "rank_q")


def _q_bfs_levels(spark, sf_dir):
    """Multi-source BFS over the UNDIRECTED supplier↔part supply
    graph (the pagerank edge set plus its reverse): minimum hop
    distance from the suppliers with suppkey % 97 == 0, bounded at 4
    hops. Oracle: bounded recursive CTE + min(level) GROUP BY."""
    from dataflow_flex_templates_spark.operators.graphalgo import (
        bfs_levels,
    )

    _load(spark, sf_dir)
    e = (spark.table("lineitem")
         .select(F.col("l_suppkey").cast("long").alias("src"),
                 (F.col("l_partkey") + F.lit(1_000_000))
                 .cast("long").alias("dst"))
         .distinct())
    und = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    sources = (e.select(F.col("src").alias("node")).distinct()
               .filter("node % 97 = 0"))
    return bfs_levels(und, sources, max_hops=4)


def _q_shortest_paths(spark, sf_dir):
    """Multi-source bounded-hop WEIGHTED shortest paths over the same
    undirected supplier↔part graph as bfs_levels, with deterministic
    integer weights w = (src + dst) % 19 + 1 (symmetric, so both
    directions of an undirected edge agree). Unlike BFS, a longer-in-
    hops path can win on weight, so the operator is Bellman-Ford with
    an improvements-only frontier. Oracle: the identical recurrence
    unrolled as 4 chained CTEs (generated) — integer MIN/+ are exactly
    associative, so bit-equal across engines."""
    from dataflow_flex_templates_spark.operators.graphalgo import (
        shortest_paths,
    )

    _load(spark, sf_dir)
    e = (spark.table("lineitem")
         .select(F.col("l_suppkey").cast("long").alias("src"),
                 (F.col("l_partkey") + F.lit(1_000_000))
                 .cast("long").alias("dst"))
         .distinct()
         .withColumn("w", (F.col("src") + F.col("dst")) % 19 + 1))
    und = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"),
                                 F.col("w")))
    sources = (e.select(F.col("src").alias("node")).distinct()
               .filter("node % 97 = 0"))
    return shortest_paths(und, sources, max_hops=4)


def _q_asof_join(spark, sf_dir):
    """As-of join (backward): each purchase event enriched with the
    user's latest at-or-before view event's value — the align-stream-
    to-latest-revision operator (clip→newest calibration row at decode
    time). Spark lacks ASOF JOIN; a naive l.ts>=r.ts join plans as
    BroadcastNestedLoopJoin. operators/temporal.py rewrites it as
    union-tag + one window sort per key: single shuffle, O(n log n),
    no join explosion. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from dataflow_flex_templates_spark.operators.temporal import asof_join

    _load(spark, sf_dir)
    ev = spark.table("events")
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max_by("value", "event_id").alias("view_value")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts", "event_id",
                         F.col("value").alias("purchase_value")))
    out = asof_join(purchases, views, on="ts", by=["user_id"],
                    values=["view_value"])
    # unmatched rows → sentinels, not nulls (cross-engine null
    # canonicalization is the recurring hash-mismatch source)
    return out.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "purchase_value",
        F.coalesce("view_value", F.lit(-1.0)).alias("view_value"),
        F.coalesce(F.unix_micros(F.col("asof_ts").cast("timestamp")),
                   F.lit(-1)).alias("asof_ts_us"))


def _q_range_join(spark, sf_dir):
    """Bucketed range join: per promo window (3 days after every
    97th order's date, no key equality) count lineitem shipments
    falling inside — windowed incident attribution over a fact table.
    Never a NestedLoop/Cartesian: intervals explode to 1-day buckets,
    points hash to one bucket, equi-join + exact recheck (candidate
    cost bounded by bucket occupancy — the 100-TB path). Oracle: the
    naive inequality join in DuckDB."""
    from dataflow_flex_templates_spark.operators.temporal import (
        range_join_buckets,
    )

    _load(spark, sf_dir)
    day_us = 86_400_000_000
    iv = (spark.table("orders")
          .filter(F.col("o_orderkey") % 97 == 0)
          .select("o_orderkey", F.col("o_orderdate").alias("w_start"),
                  (F.col("o_orderdate") + F.expr("INTERVAL 3 DAYS"))
                  .alias("w_end")))
    pts = spark.table("lineitem").select("l_shipdate")
    joined = range_join_buckets(iv, pts, "w_start", "w_end",
                                "l_shipdate", bucket=day_us)
    return (joined.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("n_shipped")))


def _q_resample_locf(spark, sf_dir):
    """Fixed-grid resampling with last-observation-carried-forward:
    one row per user per UTC day between their first and last event,
    carrying the newest at-or-before event value — the gap-free
    feature-grid builder. Grid is sequence+explode (JVM), fill is the
    as-of kernel (one shuffle). Oracle: DuckDB generate_series +
    ASOF LEFT JOIN."""
    from dataflow_flex_templates_spark.operators.temporal import (
        resample_locf,
    )

    _load(spark, sf_dir)
    obs = (spark.table("events")
           .groupBy("user_id", "ts")
           .agg(F.max_by("value", "event_id").alias("value")))
    out = resample_locf(obs, on="ts", by=["user_id"], values=["value"],
                        step=86_400_000_000)
    return out.select(
        "user_id",
        F.unix_micros(F.col("grid_ts").cast("timestamp"))
        .alias("grid_ts_us"),
        F.coalesce("value", F.lit(-1.0)).alias("value"),
        F.coalesce(F.unix_micros(F.col("asof_ts").cast("timestamp")),
                   F.lit(-1)).alias("asof_ts_us"))


def _q_streaming_features(spark, sf_dir):
    """CONTINUOUS ASR feature extraction: the clip stream decodes and
    computes loudness gain-staging + 8-band log-mel INSIDE the
    spec-driven streaming pipeline (vectorized Arrow UDFs in
    prepare_fn, MERGE-LWW per clip, exactly-once sink), proving the
    audio front-end runs end-to-end in the continuous engine — not
    just as batch queries. Oracle: the twin-pinned per-clip integer
    features joined in SQL (duplicate fixture rows carry identical
    payloads, so DISTINCT collapses them)."""
    import tempfile

    from dataflow_flex_templates_spark.spec.parser import parse_job_spec
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )
    from dataflow_flex_templates_spark.testing.clips import (
        clips_spark_schema,
        make_clips_pdf,
    )

    root = tempfile.mkdtemp(prefix="entry_feat_")
    pdf = make_clips_pdf(300, seed=42)   # the oracle pins' fixture
    _write_chunks(spark, pdf, clips_spark_schema(), f"{root}/in",
                  len(pdf) // 4 + 1)

    def prepare(df):
        from dataflow_flex_templates_spark.functions.audio import (
            loudness_stats,
            mel_stats,
        )

        out = (df.withColumn("__ld__", loudness_stats(target_db=-3.0)(
                   F.col("bytes"), F.col("codec")))
               .withColumn("__mel__", mel_stats()(
                   F.col("bytes"), F.col("codec"), F.col("sr_hz"))))
        out = (out.withColumn("gain_mdb", F.col("__ld__.gain_mdb"))
               .withColumn("post_clipped", F.col("__ld__.post_clipped")))
        for i in range(8):
            out = out.withColumn(f"mel_{i}",
                                 F.element_at("__mel__", i + 1))
        return out.drop("bytes", "__ld__", "__mel__")

    mappings = [
        {"constant": "FeatClip", "role": "label"},
        {"field": "clip_id", "name": "clip_id", "role": "key",
         "type": "String"},
        {"field": "gain_mdb", "name": "gain_mdb", "role": "property",
         "type": "Long"},
        {"field": "post_clipped", "name": "post_clipped",
         "role": "property", "type": "Long"},
    ] + [{"field": f"mel_{i}", "name": f"mel_{i}", "role": "property",
          "type": "Long"} for i in range(8)]
    spec = parse_job_spec(json.dumps({
        "sources": [{"type": "bigquery", "name": "clips",
                     "query": "SELECT 1"}],
        "targets": [{"name": "FeatClip", "type": "node",
                     "source": "clips", "mode": "merge",
                     "mappings": mappings}],
    }))
    job = SpecStreamJob(
        spec, input_dir=f"{root}/in", input_schema=clips_spark_schema(),
        output_dir=f"{root}/out", checkpoint_dir=f"{root}/ckpt",
        watermark="60 seconds", max_files_per_trigger=2,
        prepare_fn=prepare)
    job.run_to_completion(spark)
    return job.read_merged(spark, "FeatClip").select(
        "clip_id", "gain_mdb", "post_clipped",
        *[f"mel_{i}" for i in range(8)])


def _q_asof_enrich_stream(spark, sf_dir):
    """CONTINUOUS as-of enrichment (streaming twin of `asof_join`):
    purchase and view events arrive on two watermarked streams;
    each finalized purchase emits with the user's latest at-or-before
    view observation, carried in O(1) keyed state across micro-batches
    (streaming/asof_stream.py). Emission set is a pure function of
    (input, watermark delay), independent of batching: a probe emits
    iff ts <= final watermark = min(max purchase ts, max view ts)
    floored to ms minus the 1 h delay. Oracle: DuckDB ASOF LEFT JOIN
    with the same cutoff re-derived in SQL."""
    import tempfile

    from dataflow_flex_templates_spark.streaming.asof_stream import (
        asof_enrich_stream,
    )

    _load(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_asof_")
    ev = spark.table("events")
    (ev.filter(F.col("event_type") == "purchase")
     .select("user_id", "ts", "event_id")
     .repartition(4).write.mode("overwrite").parquet(f"{root}/probe"))
    (ev.filter(F.col("event_type") == "view")
     .select("user_id", "ts", "event_id", "value")
     .repartition(4).write.mode("overwrite").parquet(f"{root}/build"))

    p_schema = "user_id long, ts timestamp, event_id long"
    b_schema = "user_id long, ts timestamp, event_id long, value double"
    probe = (spark.readStream.schema(p_schema)
             .option("maxFilesPerTrigger", 2).parquet(f"{root}/probe")
             .withWatermark("ts", "1 hour"))
    build = (spark.readStream.schema(b_schema)
             .option("maxFilesPerTrigger", 2).parquet(f"{root}/build")
             .withWatermark("ts", "1 hour"))
    q = (asof_enrich_stream(probe, build, on="ts", by="user_id",
                            values=["value"], probe_ord_col="event_id",
                            build_ord_col="event_id")
         .writeStream.outputMode("append").format("parquet")
         .option("path", f"{root}/out")
         .option("checkpointLocation", f"{root}/ckpt")
         .trigger(availableNow=True).start())
    await_or_raise(q, "asof_enrich_stream")
    out = spark.read.parquet(f"{root}/out")
    return out.select(
        "user_id",
        F.unix_micros(F.col("event_time").cast("timestamp"))
        .alias("ts_us"),
        F.col("ord").alias("event_id"),
        F.coalesce("value", F.lit(-1.0)).alias("view_value"),
        F.coalesce(F.unix_micros(F.col("asof_ts").cast("timestamp")),
                   F.lit(-1)).alias("asof_ts_us"),
        F.coalesce("asof_ord", F.lit(-1)).alias("asof_ord"))


def _q_sessionize(spark, sf_dir):
    """Batch sessionization: assign each event a per-user session id
    (30-min inactivity gap) — the cumulative-flag window idiom
    (session_id = running sum of gap>threshold markers), the batch
    complement of the streaming session_window aggregate. One shuffle
    on user_id, two window passes over the same sort. Oracle: the
    identical window algebra in SQL."""
    _load(spark, sf_dir)
    from pyspark.sql import Window

    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_micros(F.col("ts").cast("timestamp")),
                  "event_id"))
    gap_us = 30 * 60 * 1_000_000
    ev = (spark.table("events")
          .withColumn("ts_us",
                      F.unix_micros(F.col("ts").cast("timestamp")))
          .withColumn("prev_us", F.lag("ts_us").over(w))
          .withColumn("new_sess",
                      (F.col("prev_us").isNull()
                       | (F.col("ts_us") - F.col("prev_us") > gap_us))
                      .cast("long")))
    w2 = (Window.partitionBy("user_id")
          .orderBy("ts_us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (ev.withColumn("session_id", F.sum("new_sess").over(w2))
            .select("user_id", "ts_us", "event_id", "session_id"))


def _q_cusum_changepoint(spark, sf_dir):
    """CUSUM drift/burst alarms over per-type hourly event counts —
    S_t = max(0, S_{t-1} + x_t - target - slack), alarm and reset at
    S >= threshold. A sequential per-key recurrence (like debounce /
    MERGE-LWW) in pure integer arithmetic; downstream of any windowed
    aggregate it is the standard error-burst detector. Oracle: the
    recurrence re-derived as a recursive CTE."""
    from dataflow_flex_templates_spark.operators.changepoint import (
        cusum_alarms,
    )

    _load(spark, sf_dir)
    hourly = (spark.table("events")
              .groupBy("event_type",
                       F.window("ts", "1 hour").alias("w"))
              .agg(F.count(F.lit(1)).alias("x"))
              .select("event_type", F.col("w.start").alias("ts"), "x"))
    out = cusum_alarms(hourly, "event_type", "x",
                       target=3, slack=0, threshold=8, time_col="ts")
    return out.select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "s_q")


def _q_debounce(spark, sf_dir):
    """Per-key debounce/throttle over events: at most one emission per
    user per 30-minute cooldown, re-opening relative to the LAST
    EMISSION (a sequential recurrence no windowed aggregate
    expresses). Batch path here; streaming parity pytest-proven.
    Oracle: the recurrence re-derived as a recursive CTE."""
    from dataflow_flex_templates_spark.streaming.debounce import (
        debounce_batch,
    )

    _load(spark, sf_dir)
    out = debounce_batch(spark.table("events"), "user_id",
                         cooldown_us=1_800_000_000,
                         event_time_col="ts", ordinal_col="event_id")
    return out.select("user_id",
                      F.unix_micros("event_time").alias("ts_us"),
                      F.col("ord").alias("event_id"))


def _q_cep_sequence_detect(spark, sf_dir):
    """CEP sequence detection (view→click→purchase within 12 h per
    user) over the `events` table replayed as an out-of-order stream:
    watermark-gated buffered matching via applyInPandasWithState.
    Oracle: the pattern automaton re-expressed as a DuckDB RECURSIVE
    CTE over the same `events` view — a fully independent SQL
    recomputation of the stateful streaming op."""
    import os
    import tempfile
    from datetime import timedelta

    import pandas as pd

    from dataflow_flex_templates_spark.streaming.cep import detect_sequence

    _load(spark, sf_dir)
    pdf = (spark.table("events")
           .select("user_id", "event_type", F.col("ts").alias("event_time"))
           .orderBy("event_time").toPandas())
    schema = "user_id long, event_type string, event_time timestamp"
    root = tempfile.mkdtemp(prefix="entry_cep_")
    inp = os.path.join(root, "in")
    # chronological chunks: stream arrival order ≈ event order, so the
    # advancing watermark never drops a yet-to-arrive event
    _write_chunks(spark, pdf, schema, inp, len(pdf) // 8 + 1)
    # per-user flush rows far past the end push the watermark over every
    # real event; 'flush' is not in the pattern so the automaton ignores
    # them (and the batch oracle, which never sees them, agrees)
    far = pdf["event_time"].max() + timedelta(days=2)
    users = sorted(pdf["user_id"].unique())
    _write_chunks(spark, pd.DataFrame([(u, "flush", far) for u in users],
                                      columns=pdf.columns),
                  schema, inp, len(users))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2).parquet(inp)
              .withWatermark("event_time", "1 hour"))
    matches = detect_sequence(stream, "user_id", "event_type",
                              ["view", "click", "purchase"],
                              within="12 hours")
    matches = run_fold(
        spark, matches, os.path.join(root, "fold"),
        lambda batch, _: {"matches": batch},
        logs={"matches": "user_id long, match_start timestamp, "
                         "match_end timestamp, n_events int"})["matches"]
    return (matches
            .select("user_id",
                    F.unix_micros("match_start").alias("match_start"),
                    F.unix_micros("match_end").alias("match_end"),
                    F.col("n_events").cast("long").alias("n_events")))


def _q_cep_absence_detect(spark, sf_dir):
    """CEP NEGATION pattern (click with no purchase within 6 h per
    user) over the `events` table replayed as an out-of-order stream:
    a trigger is only decided once the watermark clears its deadline,
    so out-of-order witnesses are never missed. The same per-user
    far-future flush rows as cep_sequence_detect push the watermark
    past every real deadline, making EVERY trigger decidable — the
    oracle is then a plain NOT-EXISTS anti-join, no horizon to model."""
    import os
    import tempfile
    from datetime import timedelta

    import pandas as pd

    from dataflow_flex_templates_spark.streaming.cep import detect_absence

    _load(spark, sf_dir)
    pdf = (spark.table("events")
           .select("user_id", "event_type", F.col("ts").alias("event_time"))
           .orderBy("event_time").toPandas())
    schema = "user_id long, event_type string, event_time timestamp"
    root = tempfile.mkdtemp(prefix="entry_cep_abs_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, pdf, schema, inp, len(pdf) // 8 + 1)
    far = pdf["event_time"].max() + timedelta(days=2)
    users = sorted(pdf["user_id"].unique())
    _write_chunks(spark, pd.DataFrame([(u, "flush", far) for u in users],
                                      columns=pdf.columns),
                  schema, inp, len(users))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 2).parquet(inp)
              .withWatermark("event_time", "1 hour"))
    alerts = detect_absence(stream, "user_id", "event_type",
                            trigger="click", expected="purchase",
                            within="6 hours")
    alerts = run_fold(
        spark, alerts, os.path.join(root, "fold"),
        lambda batch, _: {"alerts": batch},
        logs={"alerts": "user_id long, trigger_time timestamp, "
                        "deadline timestamp"})["alerts"]
    return (alerts
            .select("user_id",
                    F.unix_micros("trigger_time").alias("trigger_us"),
                    F.unix_micros("deadline").alias("deadline_us")))


def _q_stream_stream_join(spark, sf_dir):
    """Stateful clip↔transcript stream-stream join keyed on clip_id
    (J2 / north_rule): audio rows and transcript rows arrive on two
    watermarked streams, join within the event-time window, then flow
    through the spec target pipeline (decode + normalize + MERGE).
    Document-derived input → genuine DuckDB oracle over `documents`."""
    import json as _json
    import tempfile

    from dataflow_flex_templates_spark.spec.parser import parse_job_spec
    from dataflow_flex_templates_spark.streaming.clip_graph import prepare_clips
    from dataflow_flex_templates_spark.streaming.spec_stream import SpecStreamJob
    from dataflow_flex_templates_spark.testing.clips import make_doc_clips_df
    from pyspark.sql import types as T

    _load(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="entry_ssj_")
    # one base row per clip on each side (no rev2 duplicates: both join
    # legs carry the clip's event_time, so LWW between two joined
    # transcript versions would tie on the order key). The base row is
    # selected deterministically as min(event_time) per clip_id — the
    # rev2 row is always 1 s later — rather than dropDuplicates, which
    # keeps an arbitrary row per key and only matched the oracle while
    # insertion order happened to survive the local partitioning.
    raw = make_doc_clips_df(
        spark, spark.table("documents").filter("doc_id < 200"))
    base = raw.join(
        raw.groupBy("clip_id").agg(F.min("event_time").alias("event_time")),
        ["clip_id", "event_time"])
    base.persist()
    clips_side = base.drop("transcript")
    scripts_side = base.select("clip_id", "transcript", "event_time")
    clips_side.repartition(4).write.mode("overwrite").parquet(f"{root}/clips")
    scripts_side.repartition(4).write.mode("overwrite").parquet(
        f"{root}/scripts")
    base.unpersist()

    clips_schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
    ])
    scripts_schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
    ])

    spec = parse_job_spec(_json.dumps({
        "sources": [{"type": "bigquery", "name": "joined",
                     "query": "SELECT 1"}],
        "targets": [{
            "name": "JoinedClip", "type": "node", "source": "joined",
            "mode": "merge",
            "mappings": [
                {"constant": "JoinedClip", "role": "label"},
                {"field": "clip_id", "name": "clip_id", "role": "key",
                 "type": "String"},
                {"field": "codec", "name": "codec", "role": "property",
                 "type": "String"},
                {"field": "n_samples", "name": "n_samples",
                 "role": "property", "type": "Long"},
                {"field": "transcript_norm", "name": "transcript_norm",
                 "role": "property", "type": "String"},
            ],
        }],
    }))

    job = SpecStreamJob(
        spec, input_dir=f"{root}/clips", input_schema=clips_schema,
        output_dir=f"{root}/out", checkpoint_dir=f"{root}/ckpt",
        max_files_per_trigger=2, prepare_fn=prepare_clips,
        watermark="120 seconds",
        join_input_dir=f"{root}/scripts", join_schema=scripts_schema,
        join_window="5 minutes")
    job.run_to_completion(spark)
    return job.read_merged(spark, "JoinedClip").select(
        "clip_id", "codec", "n_samples", "transcript_norm")


def _q_stream_stream_left_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER join (clip stream ⟕
    transcript stream on clip_id + event-time range): matched rows
    emit inner-join style; unmatched clips emit null-padded ONLY
    after the watermark proves no transcript can still arrive —
    Spark's outer-join state eviction, exercised end-to-end. Both
    sides derive arithmetically from `documents` (transcripts exist
    only for doc_id % 3 != 0), so the oracle is a plain SQL CASE.
    Flush rows on both streams push the final watermark; they are
    filtered from the result."""
    import os
    import tempfile
    from datetime import timedelta

    import pandas as pd
    from pyspark.sql import types as T

    from dataflow_flex_templates_spark.testing.clips import EPOCH

    _load(spark, sf_dir)
    docs = (spark.table("documents").filter("doc_id < 200")
            .select("doc_id", "text", "n_chars").orderBy("doc_id")
            .toPandas())
    left_schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("l_time", T.TimestampType())])
    right_schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("has_t", T.LongType()),
        T.StructField("r_time", T.TimestampType())])
    lrows, rrows = [], []
    for doc_id, text, n_chars in zip(docs["doc_id"], docs["text"],
                                     docs["n_chars"]):
        doc_id = int(doc_id)
        ts = EPOCH + timedelta(seconds=doc_id)
        cid = f"doc_{doc_id:06d}"
        lrows.append((cid, int(n_chars), ts))
        if doc_id % 3 != 0:
            rrows.append((cid, text, 1, ts + timedelta(seconds=2)))
    flush_t = EPOCH + timedelta(days=30)
    lrows.append(("flush", 0, flush_t))
    rrows.append(("flush", "", 1, flush_t))

    root = tempfile.mkdtemp(prefix="entry_ssloj_")
    lin, rin = os.path.join(root, "l"), os.path.join(root, "r")
    chunk = len(lrows) // 6 + 1
    _write_chunks(spark, pd.DataFrame(lrows, columns=["clip_id", "n_chars",
                                                      "l_time"]),
                  left_schema, lin, chunk)
    _write_chunks(spark, pd.DataFrame(rrows, columns=["clip_id",
                                                      "transcript",
                                                      "has_t", "r_time"]),
                  right_schema, rin, chunk)

    ls = (spark.readStream.schema(left_schema)
          .option("maxFilesPerTrigger", 2).parquet(lin)
          .withWatermark("l_time", "10 seconds"))
    rs = (spark.readStream.schema(right_schema)
          .option("maxFilesPerTrigger", 2).parquet(rin)
          .withWatermark("r_time", "10 seconds"))
    joined = ls.join(
        rs,
        (ls.clip_id == rs.clip_id)
        & (rs.r_time >= ls.l_time)
        & (rs.r_time <= ls.l_time + F.expr("interval 1 minute")),
        "leftOuter").select(ls.clip_id, "n_chars", "transcript", "has_t")
    out_dir, ck = os.path.join(root, "out"), os.path.join(root, "ck")
    q = (joined.writeStream.outputMode("append").format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    await_or_raise(q, "stream_stream_left_join")
    res = spark.read.parquet(out_dir).filter("clip_id <> 'flush'")
    if res.count() < len(docs):
        # outer state not fully evicted (watermark landed short): one
        # more flush file forces a batch that drains it
        for path, schema, row, cols in (
                (lin, left_schema,
                 ("flush2", 0, flush_t + timedelta(days=1)),
                 ["clip_id", "n_chars", "l_time"]),
                (rin, right_schema,
                 ("flush2", "", 1, flush_t + timedelta(days=1)),
                 ["clip_id", "transcript", "has_t", "r_time"])):
            _write_chunks(spark, pd.DataFrame([row], columns=cols),
                          schema, path, 1)
        q = (joined.writeStream.outputMode("append").format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        await_or_raise(q, "stream_stream_left_join")
        res = spark.read.parquet(out_dir).filter(
            "clip_id NOT LIKE 'flush%'")
    return res.select(
        "clip_id", "n_chars", "transcript",
        F.coalesce(F.col("has_t"), F.lit(0)).cast("long").alias("matched"))


def _q_stream_dedup_within_wm(spark, sf_dir):
    """Spark's built-in streaming dedup
    (dropDuplicatesWithinWatermark): first arrival per clip_id wins,
    state evicted once the watermark passes the kept row's event time
    plus the delay — the engine-native complement to the
    bloom_dedup / MERGE-LWW rows on this board. Determinism contract:
    the revision rows replay in a LATER micro-batch than every base
    row (own file, maxFilesPerTrigger=1), so 'first arrival' is
    well-defined; within a single batch Spark keeps an arbitrary row.
    Oracle: base rows, i.e. `documents` verbatim."""
    import os
    import tempfile
    from datetime import timedelta

    import pandas as pd
    from pyspark.sql import types as T

    from dataflow_flex_templates_spark.testing.clips import EPOCH

    _load(spark, sf_dir)
    docs = (spark.table("documents")
            .select("doc_id", "text", "n_chars").orderBy("doc_id")
            .toPandas())
    schema = T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("event_time", T.TimestampType())])
    base, revs = [], []
    for doc_id, text, n_chars in zip(docs["doc_id"], docs["text"],
                                     docs["n_chars"]):
        doc_id = int(doc_id)
        ts = EPOCH + timedelta(seconds=doc_id)
        cid = f"doc_{doc_id:06d}"
        base.append((cid, text, int(n_chars), ts))
        if doc_id % 5 == 0:
            revs.append((cid, (text or "") + " rev2", int(n_chars),
                         ts + timedelta(seconds=1)))
    cols = ["clip_id", "transcript", "n_chars", "event_time"]
    root = tempfile.mkdtemp(prefix="entry_ddwm_")
    inp = os.path.join(root, "in")
    _write_chunks(spark, pd.DataFrame(base, columns=cols), schema, inp,
                  len(base) // 6 + 1)
    # every revision lands AFTER all base files → later micro-batch
    _write_chunks(spark, pd.DataFrame(revs, columns=cols), schema, inp,
                  len(revs))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(inp)
              .withWatermark("event_time", "1 hour"))
    deduped = stream.dropDuplicatesWithinWatermark(["clip_id"])
    out_dir = os.path.join(root, "out")
    q = (deduped.writeStream.outputMode("append").format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", os.path.join(root, "ck"))
         .trigger(availableNow=True).start())
    await_or_raise(q, "stream_dedup_within_wm")
    return (spark.read.parquet(out_dir)
            .select("clip_id", "transcript", "n_chars"))


def _q_actions_named_barrier(spark, sf_dir):
    """D1 execute_after_name: an action that waits on ONE named target
    (GcpToNeo4j.java:333-336, BeamBlock.java:38-104) — it runs right
    after target Part completes and observes exactly Part's rows via
    the published target_Part view; the unnamed 'loads' action still
    runs at the phase boundary after it."""
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    spec = parse_job_spec(json.dumps({
        "sources": [{"type": "bigquery", "name": "s",
                     "query": "SELECT l_partkey, l_quantity FROM lineitem"}],
        "targets": [{"node": {
            "source": "s", "name": "Part", "mode": "append",
            "transform": {"group": True,
                          "aggregations": [{"expr": "SUM(l_quantity)",
                                            "field": "qty"}]},
            "mappings": {"labels": ["\"Part\""],
                         "keys": [{"l_partkey": "partkey"}],
                         "properties": {"doubles": [{"qty": "qty"}]}},
        }}],
        "actions": [
            {"name": "audit_part", "type": "cypher",
             "execute_after": "node", "execute_after_name": "Part",
             "options": [{"cypher":
                          "CREATE OR REPLACE TEMP VIEW named_part_audit AS "
                          "SELECT COUNT(*) AS n_parts, "
                          "round(SUM(qty), 4) AS total_qty "
                          "FROM target_Part"}]},
            {"name": "post", "type": "bigquery", "execute_after": "loads",
             "options": [{"sql": "SELECT 1 AS one"}]},
        ],
    }))
    out = run_job(spark, spec)
    # named action fired at its target's barrier, before the phase action
    assert [r["name"] for r in out.action_results] == ["audit_part", "post"]
    # snapshot the 1-row audit view: a later query's run_job may
    # republish target_Part (the flagship also names a Part target),
    # and the driver may evaluate frames lazily
    audit = spark.table("named_part_audit")
    return spark.createDataFrame(audit.collect(), audit.schema)


def _q_text_source_csv(spark, sf_dir):
    """S3 text scan + S6 dialect + all-string ingest
    (utils/BeamUtils.java:125-135) + per-target typed casting."""
    import os
    import tempfile

    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    path = os.path.join(tempfile.gettempdir(),
                        f"graft_csv_{abs(hash(sf_dir)) & 0xFFFFFF:x}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (spark.table("nation")
         .select("n_nationkey", "n_name", "n_regionkey")
         .coalesce(1).write.mode("overwrite").csv(path))
    spec = parse_job_spec(json.dumps({
        "sources": [{"type": "text", "name": "s", "uri": path,
                     "format": "DEFAULT",
                     "ordered_field_names": "n_nationkey,n_name,n_regionkey"}],
        "targets": [{
            "name": "Nation", "type": "node", "source": "s", "mode": "merge",
            "mappings": [
                {"constant": "Nation", "role": "label"},
                {"field": "n_nationkey", "name": "nationkey", "role": "key",
                 "type": "Long"},
                {"field": "n_name", "name": "name", "role": "property",
                 "type": "String"},
                {"field": "n_regionkey", "name": "regionkey",
                 "role": "property", "type": "Long"},
            ],
        }],
    }))
    return run_job(spark, spec).target_frames["Nation"].select(
        "nationkey", "name", "regionkey")


MUSICIANS_ROWS = [["Brian", 12, "guitar", "red"],
                  ["Carol", 8, "drums", "blue"],
                  ["Dana", 15, "bass", "green"],
                  ["Evan", 3, "keys", "black"]]


def _q_inline_source(spark, sf_dir):
    """S4 inline data scan (ListOfStringToRowFn semantics): rows embedded
    in the spec JSON, all-string, typed per mappings."""
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    spec = parse_job_spec(json.dumps({
        "sources": [{"type": "text", "name": "s",
                     "ordered_field_names":
                         "name,experience,instrument,instrument_color",
                     "data": MUSICIANS_ROWS}],
        "targets": [{
            "name": "Musician", "type": "node", "source": "s",
            "mode": "merge",
            "mappings": [
                {"constant": "Musician", "role": "label"},
                {"field": "name", "name": "name", "role": "key",
                 "type": "String"},
                {"field": "experience", "name": "experience",
                 "role": "property", "type": "Long"},
                {"field": "instrument", "name": "instrument",
                 "role": "property", "type": "String"},
            ],
        }],
    }))
    return run_job(spark, spec).target_frames["Musician"].select(
        "name", "experience", "instrument")


def _q_token_substitution(spark, sf_dir):
    """P7 $var substitution into source SQL
    (ModelUtils.replaceVariableTokens:358-378)."""
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    spec = parse_job_spec(json.dumps({
        "sources": [{"type": "bigquery", "name": "s",
                     "query": "SELECT o_orderkey, o_totalprice FROM orders "
                              "WHERE o_orderstatus = '$status'"}],
        "targets": [{"node": {
            "source": "s", "name": "O", "mode": "append",
            "mappings": {"labels": ["\"O\""], "keys": [{"o_orderkey": "orderkey"}],
                         "properties": {"doubles": [{"o_totalprice": "price"}]}},
        }}],
    }))
    out = run_job(spark, spec, runtime_tokens={"status": "P"})
    return out.target_frames["O"].select(
        "orderkey", F.round("price", 4).alias("price"))


def _q_actions_pipeline(spark, sf_dir):
    """X1/X2 SQL actions with D1 ordering: a preload action creates the
    view the source reads; a post-load action audits it."""
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    spec = parse_job_spec(json.dumps({
        "sources": [{"type": "bigquery", "name": "s",
                     "query": "SELECT * FROM act_top_parts"}],
        "targets": [{"node": {
            "source": "s", "name": "TopPart", "mode": "merge",
            "mappings": {"labels": ["\"TopPart\""],
                         "keys": [{"l_partkey": "partkey"}],
                         "properties": {"doubles": [{"qty": "qty"}]}},
        }}],
        "actions": [
            {"name": "mkview", "type": "cypher", "execute_after": "start",
             "options": [{"cypher":
                          "CREATE OR REPLACE TEMP VIEW act_top_parts AS "
                          "SELECT l_partkey, SUM(l_quantity) AS qty "
                          "FROM lineitem GROUP BY l_partkey "
                          "HAVING SUM(l_quantity) > 150"}]},
            {"name": "audit", "type": "bigquery", "execute_after": "loads",
             "options": [{"sql": "SELECT count(*) FROM act_top_parts"}]},
        ],
    }))
    out = run_job(spark, spec)
    assert [r["name"] for r in out.action_results] == ["mkview", "audit"]
    return out.target_frames["TopPart"].select(
        "partkey", F.round("qty", 4).alias("qty"))


def _q_automap_nodes(spark, sf_dir):
    """automap=true: every unmapped source column auto-becomes a
    property (the reference parses this flag but never implemented it
    — TargetMapper.java:64, roadmap docs/README.md:183; live and
    opt-in here)."""
    from dataflow_flex_templates_spark.graph.build import run_job
    from dataflow_flex_templates_spark.spec.parser import parse_job_spec

    _load(spark, sf_dir)
    spec = parse_job_spec(json.dumps({
        "sources": [{"type": "bigquery", "name": "s",
                     "query": "SELECT n_nationkey, n_name, n_regionkey "
                              "FROM nation"}],
        "targets": [{
            "name": "Nation", "type": "node", "source": "s",
            "mode": "append", "automap": True,
            "mappings": [
                {"constant": "Nation", "role": "label"},
                {"field": "n_nationkey", "name": "nationkey",
                 "role": "key", "type": "Long"},
            ],
        }],
    }))
    return run_job(spark, spec).target_frames["Nation"].select(
        "nationkey", "n_name", "n_regionkey")


def _q_training_pipeline(spark, sf_dir):
    """End-to-end training-data pipeline composed from the operator
    library: Gopher quality filter → exact dedup (keep min-id per
    fingerprint) → token budgeting, rolled up per source. The whole
    chain is one declarative plan (filter → hash-agg keeper join →
    projection → final agg) and has a single-SQL oracle."""
    from dataflow_flex_templates_spark.operators.dedup import exact_dedup
    from dataflow_flex_templates_spark.operators.text import (
        bpe_token_count,
        gopher_flags,
        token_count,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents")
    kept = gopher_flags(docs).filter(F.col("keep")) \
        .select("doc_id", "text", "source")
    keepers = exact_dedup(kept).select(
        F.col("keeper_id").alias("doc_id"))
    deduped = kept.join(keepers, "doc_id")
    return (deduped
            .select("source",
                    token_count(F.col("text")).alias("ws"),
                    bpe_token_count(F.col("text")).alias("bpe"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ws").alias("ws_tokens"),
                 F.sum("bpe").alias("bpe_tokens"))
            .orderBy("source"))


def _q_training_pipeline_v2(spark, sf_dir):
    """The full training-data chain with every round-3 stage composed:
    Gopher quality filter AND repetition filter → exact dedup (keep
    min-id per fingerprint) → deterministic stratified sample (the
    training-mix knob) → token budgeting per source. One declarative
    plan; the oracle re-derives every stage in a single SQL query from
    the same proven building blocks."""
    from dataflow_flex_templates_spark.operators.dedup import exact_dedup
    from dataflow_flex_templates_spark.operators.sampling import (
        stratified_sample,
    )
    from dataflow_flex_templates_spark.operators.text import (
        bpe_token_count,
        gopher_flags,
        repetition_profile,
        token_count,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents")
    quality = gopher_flags(docs).filter(F.col("keep")) \
        .select("doc_id", "text", "source")
    # repetition is a per-doc metric, so computing it only over the
    # quality survivors is result-identical and skips the explode +
    # hash-agg work for already-rejected docs — the stage ordering you
    # want at 100 TB (cheapest filters first)
    rep_keep = repetition_profile(quality).filter(
        F.col("keep_repetition")).select("doc_id")
    kept = quality.join(rep_keep, "doc_id")
    keepers = exact_dedup(kept).select(
        F.col("keeper_id").alias("doc_id"))
    deduped = kept.join(keepers, "doc_id")
    sampled = stratified_sample(deduped, _SAMPLE_FRACTIONS,
                                default_fraction=0.25)
    return (sampled
            .select("source",
                    token_count(F.col("text")).alias("ws"),
                    bpe_token_count(F.col("text")).alias("bpe"))
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ws").alias("ws_tokens"),
                 F.sum("bpe").alias("bpe_tokens"))
            .orderBy("source"))


def _q_training_pipeline_v3(spark, sf_dir):
    """The chunk-level training-data chain: Gopher quality filter →
    benchmark decontamination (drop docs sharing an 8-gram with the
    doc_id%17==3 slice) → context-window chunking (40/8) →
    paragraph-level chunk dedup (keep lowest (doc,idx) per md5) →
    concat-and-cut packing into 128-token sequences over 8 shards →
    per-shard packing summary. One declarative plan; the oracle
    re-derives all five stages in a single SQL query from the same
    proven building blocks."""
    from dataflow_flex_templates_spark.operators.text import (
        chunk_dedup,
        chunk_documents,
        decontaminate,
        gopher_flags,
        pack_chunks,
    )

    _load(spark, sf_dir)
    docs = spark.table("documents")
    quality = gopher_flags(docs).filter(F.col("keep")) \
        .select("doc_id", "text")
    bench = docs.filter((F.col("doc_id") % 17) == 3)
    clean_ids = (decontaminate(quality, bench, n=8)
                 .filter(~F.col("contaminated")).select("doc_id"))
    clean = quality.join(clean_ids, "doc_id")
    chunks = chunk_documents(clean, chunk_tokens=40, overlap=8)
    keepers = chunk_dedup(chunks).select(
        F.col("keeper_id").alias("doc_id"),
        F.col("keeper_chunk_idx").alias("chunk_idx"), "chunk_md5")
    kept = chunks.join(keepers, ["doc_id", "chunk_idx", "chunk_md5"],
                       "semi")
    packed = pack_chunks(kept, budget_tokens=128, n_shards=8)
    return (packed.groupBy("shard")
            .agg(F.count("*").alias("n_chunks"),
                 F.sum("chunk_len").alias("total_tokens"),
                 (F.max("seq_id") + 1).alias("n_sequences"),
                 F.sum(F.col("straddles").cast("long"))
                  .alias("straddled"))
            .orderBy("shard"))


def _q_drop_empty_rows(spark, sf_dir):
    """P6 drop-all-null rows (transforms/DeleteEmptyRowsFn.java:12-29)."""
    from dataflow_flex_templates_spark.graph.build import drop_empty_rows

    _load(spark, sf_dir)
    sparse = spark.sql("""
        SELECT CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderkey END
                 AS orderkey,
               CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderstatus END
                 AS status
        FROM orders""")
    return drop_empty_rows(sparse)


def _q_frame_sample_plan(spark, sf_dir):
    """Multimodal frame-sampling pre-pass: frame indices from metadata
    only (operators/multimodal.py) — bounds decode work before the
    expensive kernel."""
    from dataflow_flex_templates_spark.operators.multimodal import (
        frame_sample_plan,
    )

    _load(spark, sf_dir)
    media = spark.sql("""
        SELECT CAST(o_orderkey AS STRING) AS media_id,
               CAST(o_orderkey % 9000 + 500 AS INT) AS dur_ms
        FROM orders""")
    return frame_sample_plan(media, every_ms=1000).select(
        "media_id", "n_frames")


def _q_media_features(spark, sf_dir):
    """Multimodal binary decode plumbing (stub kernel, real Arrow
    batch shape) — rows-only driver check."""
    from dataflow_flex_templates_spark.operators.multimodal import (
        extract_media_features,
    )

    _load(spark, sf_dir)
    media = spark.sql("""
        SELECT CAST(doc_id AS STRING) AS media_id,
               encode(text, 'utf-8') AS bytes,
               'raw' AS format,
               CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height
        FROM documents WHERE doc_id < 100""")
    return extract_media_features(media).select(
        "media_id", "format", "n_bytes")


def _q_image_decode_stats(spark, sf_dir):
    """REAL image decode (PPM/PGM/BMP byte parsing, numpy-only) over
    document-derived synthetic images → per-channel means. Oracle:
    every pixel is closed-form arithmetic over (doc_id, x, y), so the
    channel means are re-derived in pure SQL — the decode path itself
    is what the check exercises."""
    from dataflow_flex_templates_spark.operators.multimodal import (
        image_stats,
    )
    from dataflow_flex_templates_spark.testing.images import (
        make_doc_images_df,
    )

    _load(spark, sf_dir)
    media = make_doc_images_df(
        spark, spark.table("documents").filter("doc_id < 300"))
    return image_stats(media).select(
        "media_id", "format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"))


def _q_image_resize_stats(spark, sf_dir):
    """Decode → nearest-neighbour resize to 8×4 → channel means in the
    same Arrow pass. Oracle: the resize index map (src = (i*in)//out)
    is integer arithmetic, so the resized means are SQL-derivable."""
    from dataflow_flex_templates_spark.operators.multimodal import (
        image_stats,
    )
    from dataflow_flex_templates_spark.testing.images import (
        make_doc_images_df,
    )

    _load(spark, sf_dir)
    media = make_doc_images_df(
        spark, spark.table("documents").filter("doc_id < 300"))
    return image_stats(media, resize_to=(8, 4)).select(
        "media_id", "format",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"))


def _q_video_frame_stats(spark, sf_dir):
    """REAL raw-video frame extraction (offset math over concatenated
    grayscale frames) sampled every 2nd frame → per-frame mean +
    motion-vs-previous-sample, one Arrow pass. Oracle: pixels are
    closed-form over (doc_id, frame, x, y), so both statistics are
    re-derived in pure SQL."""
    from dataflow_flex_templates_spark.operators.multimodal import (
        video_frame_stats,
    )
    from dataflow_flex_templates_spark.testing.images import (
        make_doc_videos_df,
    )

    _load(spark, sf_dir)
    media = make_doc_videos_df(
        spark, spark.table("documents").filter("doc_id < 300"))
    return video_frame_stats(media, every_n=2).select(
        "media_id", F.col("frame_idx").cast("long").alias("frame_idx"),
        F.round("mean_v", 6).alias("mean_v"),
        F.round("motion", 6).alias("motion"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "jobspec_customer_nodes": _q_jobspec_customer_nodes,
        "jobspec_part_nodes_agg": _q_jobspec_part_nodes_agg,
        "jobspec_ordered_edges": _q_jobspec_ordered_edges,
        "graph_degrees": _q_graph_degrees,
        "where_order_limit": _q_where_order_limit,
        "cast_expand": _q_cast_expand,
        "merge_lww": _q_merge_lww,
        "tumbling_window": _q_tumbling_window,
        "windowed_topk": _q_windowed_topk,
        "sliding_window": _q_sliding_window,
        "session_window": _q_session_window,
        "text_profile": _q_text_profile,
        "lang_id_ngram": _q_lang_id_ngram,
        "stratified_sample": _q_stratified_sample,
        "repetition_profile": _q_repetition_profile,
        "pii_scan": _q_pii_scan,
        "exact_dedup": _q_exact_dedup,
        "token_counts": _q_token_counts,
        "vocabulary": _q_vocabulary,
        "salient_terms": _q_salient_terms,
        "weighted_sample": _q_weighted_sample,
        "oov_rate": _q_oov_rate,
        "corpus_health": _q_corpus_health,
        "bigram_novelty": _q_bigram_novelty,
        "pivot_lang_matrix": _q_pivot_lang_matrix,
        "ewma_chars": _q_ewma_chars,
        "ewma_stream_chars": _q_ewma_stream_chars,
        "corpus_diff": _q_corpus_diff,
        "wer_transcripts": _q_wer_transcripts,
        "word_timestamps": _q_word_timestamps,
        "subtitle_cues": _q_subtitle_cues,
        "subtitle_qa": _q_subtitle_qa,
        "subtitle_srt": _q_subtitle_srt,
        "mixture_plan": _q_mixture_plan,
        "specaugment_plan": _q_specaugment_plan,
        "stream_srt_emit": _q_stream_srt_emit,
        "stream_mixture_monitor": _q_stream_mixture_monitor,
        "pack_audio_batches": _q_pack_audio_batches,
        "shard_plan": _q_shard_plan,
        "stream_shard_plan": _q_stream_shard_plan,
        "zone_map_index": _q_zone_map_index,
        "zone_prune": _q_zone_prune,
        "stream_zone_map": _q_stream_zone_map,
        "token_heavy_hitters": _q_token_heavy_hitters,
        "exact_quantiles": _q_exact_quantiles,
        "exact_quantiles_by_lang": _q_exact_quantiles_by_lang,
        "compaction_plan": _q_compaction_plan,
        "stream_compaction": _q_stream_compaction,
        "merge_intervals": _q_merge_intervals,
        "interval_gaps": _q_interval_gaps,
        "rolling_user_stats": _q_rolling_user_stats,
        "stream_wer": _q_stream_wer,
        "asr_session_assembly": _q_asr_session_assembly,
        "stream_session_assembly": _q_stream_session_assembly,
        "top_docs_per_source": _q_top_docs_per_source,
        "asr_curation_pipeline": _q_asr_curation_pipeline,
        "segment_clips": _q_segment_clips,
        "json_props_stats": _q_json_props_stats,
        "jsonl_roundtrip": _q_jsonl_roundtrip,
        "funnel_view_click_purchase": _q_funnel_view_click_purchase,
        "scd2_user_state": _q_scd2_user_state,
        "stream_scd2": _q_stream_scd2,
        "rollup_corpus": _q_rollup_corpus,
        "retention_cohorts": _q_retention_cohorts,
        "profile_events": _q_profile_events,
        "bfs_levels": _q_bfs_levels,
        "shortest_paths": _q_shortest_paths,
        "vocab_coverage": _q_vocab_coverage,
        "curriculum_bins": _q_curriculum_bins,
        "compression_ratio": _q_compression_ratio,
        "doc_chunks": _q_doc_chunks,
        "pack_chunks": _q_pack_chunks,
        "chunk_dedup": _q_chunk_dedup,
        "decontaminate": _q_decontaminate,
        "stream_decontaminate": _q_stream_decontaminate,
        "gopher_quality": _q_gopher_quality,
        "ngram_jaccard": _q_ngram_jaccard,
        "edit_distance_pairs": _q_edit_distance_pairs,
        "dedup_clusters": _q_dedup_clusters,
        "stream_cc": _q_stream_cc,
        "dedup_keep": _q_dedup_keep,
        "embedding_neardup": _q_embedding_neardup,
        "embedding_neardup_lsh": _q_embedding_neardup_lsh,
        "cosine_topk": _q_cosine_topk,
        "minhash_lsh": _q_minhash_lsh,
        "stream_minhash_lsh": _q_stream_minhash_lsh,
        "simhash": _q_simhash,
        "simhash_pairs": _q_simhash_pairs,
        "lsh_ann_topk": _q_lsh_ann_topk,
        "ivf_ann_topk": _q_ivf_ann_topk,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "winnow_overlap": _q_winnow_overlap,
        "audio_decode_stats": _q_audio_decode_stats,
        "audio_resample_stats": _q_audio_resample_stats,
        "speed_perturb": _q_speed_perturb,
        "noise_mix": _q_noise_mix,
        "speaking_rate": _q_speaking_rate,
        "reverb_aug": _q_reverb_aug,
        "audio_vad_stats": _q_audio_vad_stats,
        "audio_spectral_stats": _q_audio_spectral_stats,
        "audio_fp_neardup": _q_audio_fp_neardup,
        "audio_health": _q_audio_health,
        "audio_loudness": _q_audio_loudness,
        "audio_mel_stats": _q_audio_mel_stats,
        "audio_mfcc_stats": _q_audio_mfcc_stats,
        "audio_pitch_stats": _q_audio_pitch_stats,
        "audio_transcode": _q_audio_transcode,
        "wav_ingest": _q_wav_ingest,
        "trim_silence": _q_trim_silence,
        "utterance_segments": _q_utterance_segments,
        "bloom_registers": _q_bloom_registers,
        "cms_registers": _q_cms_registers,
        "hll_user_registers": _q_hll_user_registers,
        "stream_hll": _q_stream_hll,
        "clip_conformance": _q_clip_conformance,
        "stream_conformance": _q_stream_conformance,
        "hll_windowed": _q_hll_windowed,
        "value_hist_windowed": _q_value_hist_windowed,
        "value_hist_quantile": _q_value_hist_quantile,
        "bottomk_quantiles": _q_bottomk_quantiles,
        "stream_bottomk": _q_stream_bottomk,
        "value_hist_drift": _q_value_hist_drift,
        "audio_text_quality": _q_audio_text_quality,
        "sink_changelog": _q_sink_changelog,
        "streaming_clip_graph": _q_streaming_clip_graph,
        "spec_stream_graph": _q_spec_stream_graph,
        "stream_stream_join": _q_stream_stream_join,
        "stream_stream_left_join": _q_stream_stream_left_join,
        "stream_dedup_within_wm": _q_stream_dedup_within_wm,
        "bloom_dedup": _q_bloom_dedup,
        "jobspec_join_transform": _q_jobspec_join_transform,
        "jobspec_union_transform": _q_jobspec_union_transform,
        "bloom_prejoin": _q_bloom_prejoin,
        "triangle_count": _q_triangle_count,
        "pagerank": _q_pagerank,
        "asof_join": _q_asof_join,
        "asof_enrich_stream": _q_asof_enrich_stream,
        "streaming_features": _q_streaming_features,
        "range_join": _q_range_join,
        "resample_locf": _q_resample_locf,
        "sessionize": _q_sessionize,
        "cusum_changepoint": _q_cusum_changepoint,
        "debounce": _q_debounce,
        "cep_sequence_detect": _q_cep_sequence_detect,
        "cep_absence_detect": _q_cep_absence_detect,
        "text_source_csv": _q_text_source_csv,
        "inline_source": _q_inline_source,
        "token_substitution": _q_token_substitution,
        "actions_pipeline": _q_actions_pipeline,
        "actions_named_barrier": _q_actions_named_barrier,
        "automap_nodes": _q_automap_nodes,
        "training_pipeline": _q_training_pipeline,
        "training_pipeline_v2": _q_training_pipeline_v2,
        "training_pipeline_v3": _q_training_pipeline_v3,
        "drop_empty_rows": _q_drop_empty_rows,
        "frame_sample_plan": _q_frame_sample_plan,
        "media_features": _q_media_features,
        "image_decode_stats": _q_image_decode_stats,
        "image_resize_stats": _q_image_resize_stats,
        "video_frame_stats": _q_video_frame_stats,
    }


# --------------------------------------------------------------------------
# oracle_sql() — DuckDB equivalents (same aliases, same rounding)
#
# Hash-derived operators split their oracle: candidate sets /
# signatures come from the pure-Python twins (testing/twins.py —
# independent XXH64 + sequential-fold LSH, verified bit-exact against
# Catalyst in tests/test_twins.py), pinned into
# testing/oracle_constants.json by scripts/gen_oracle_constants.py
# (NO Spark involved); the similarity/aggregation half is genuine SQL
# over the same parquet views.
# --------------------------------------------------------------------------

_STOPWORDS_SQL = ("['a','and','are','as','at','be','by','for','from','has',"
                  "'he','in','is','it','its','of','on','that','the','to',"
                  "'was','were','will','with']")

def _wer_oracle_sql(doc_filter: str, id_select: str,
                    table: str = "documents") -> str:
    """Cross-algebra WER oracle shared by the batch row
    (wer_transcripts, whole corpus, doc_id key) and the streaming row
    (stream_wer, doc_id < 200, clip_id key): distinct words -> 1-based
    rank -> chr(1+rank) (DuckDB levenshtein is BYTE-level, so the
    encode must stay ASCII; corpus vocab is 32 words incl. 'xxx' — far
    under 126). Word-level distance == char-distance of the encoded
    strings. The hyp derivation mirrors _q_wer_transcripts exactly."""
    return rf"""
        WITH base AS (
          SELECT doc_id,
                 lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                   AS nt
          FROM {table} WHERE {doc_filter}),
        wd AS (
          SELECT doc_id,
                 list_filter(string_split(nt, ' '),
                             x -> length(x) > 0) AS w
          FROM base),
        pairs AS (
          SELECT doc_id, w AS rw,
            flatten(list_transform(range(1, len(w) + 1), i ->
              CASE WHEN i % 7 = 0 THEN CAST([] AS VARCHAR[])
                   WHEN i % 11 = 0 THEN
                     [CASE WHEN i % 5 = 0 THEN 'xxx' ELSE w[i] END,
                      CASE WHEN i % 5 = 0 THEN 'xxx' ELSE w[i] END]
                   ELSE [CASE WHEN i % 5 = 0 THEN 'xxx'
                              ELSE w[i] END] END)) AS hw
          FROM wd),
        vocab AS (
          SELECT list(DISTINCT x ORDER BY x) AS wl FROM (
            SELECT unnest(rw) AS x FROM pairs
            UNION ALL SELECT unnest(hw) FROM pairs)),
        enc AS (
          SELECT doc_id, rw, hw,
            list_aggregate(list_transform(rw,
              t -> chr(1 + list_position(wl, t))),
              'string_agg', '') AS er,
            list_aggregate(list_transform(hw,
              t -> chr(1 + list_position(wl, t))),
              'string_agg', '') AS eh
          FROM pairs, vocab)
        SELECT {id_select},
          CAST(len(rw) AS BIGINT) AS ref_words,
          CAST(len(hw) AS BIGINT) AS hyp_words,
          CAST(levenshtein(COALESCE(er, ''), COALESCE(eh, ''))
               AS BIGINT) AS wer_distance,
          CASE WHEN len(rw) = 0 THEN NULL
               ELSE CAST(levenshtein(COALESCE(er, ''),
                                     COALESCE(eh, '')) * 1000
                         // len(rw) AS BIGINT)
          END AS wer_permille
        FROM enc
    """


#: Shared by ewma_chars (batch Catalyst fold) and ewma_stream_chars
#: (applyInPandasWithState) — both must reproduce this recurrence.
_EWMA_CHARS_SQL = r"""
    WITH RECURSIVE s AS (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY doc_id) AS rn
      FROM documents),
    e AS (
      SELECT source, doc_id, n_chars, rn,
             n_chars AS ewma_q
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.source, s.doc_id, s.n_chars, s.rn,
             (3 * s.n_chars + 7 * e.ewma_q) // 10
      FROM s JOIN e ON s.source = e.source
                   AND s.rn = e.rn + 1)
    SELECT source, doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(ewma_q AS BIGINT) AS ewma_q
    FROM e
"""

_CONSTANTS = None

#: The sf dir scripts/gen_oracle_constants.py pinned its constants
#: from (the driver's correctness tier). Queries in SF_PINNED_QUERIES
#: have oracles that embed constants derived from that sf's
#: text/embedding PAYLOADS, so their oracle SQL is correct only at
#: this sf. (The audio constants derive from doc_id alone via
#: testing/clips.py's deterministic synth, so audio oracles hold at
#: every sf — they are not in the set.) To sweep another tier,
#: regenerate constants there (SPARK_GRAFT_ORACLE_SF_DIR +
#: SPARK_GRAFT_ORACLE_CONST_OUT) and point
#: SPARK_GRAFT_ORACLE_CONSTANTS at the result.
ORACLE_PINNED_SF_DIR = "/root/testdata/sf0.01"
SF_PINNED_QUERIES = frozenset({
    "simhash", "simhash_pairs", "minhash_lsh", "stream_minhash_lsh",
    "lsh_ann_topk", "ivf_ann_topk", "embedding_neardup_lsh",
    "compression_ratio",
})


def _constants() -> dict:
    global _CONSTANTS
    if _CONSTANTS is None:
        import os

        path = os.environ.get(
            "SPARK_GRAFT_ORACLE_CONSTANTS",
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)),
                "dataflow_flex_templates_spark", "testing",
                "oracle_constants.json"))
        with open(path) as f:
            _CONSTANTS = json.load(f)
    return _CONSTANTS


def _values_table(rows, cols: list[str]) -> str:
    """Render rows as a DuckDB inline VALUES relation."""
    def lit(v):
        if v is None:
            return "NULL"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        return repr(v)

    body = ", ".join(
        "(" + ", ".join(lit(v) for v in row) + ")" for row in rows)
    return f"(VALUES {body}) AS t({', '.join(cols)})"


#: Shared winnowing CTE (doc_id < 200): k=5-gram polynomial rolling
#: hash mod 2^64 folded to 61 bits over HUGEINT, window w=4 sliding
#: min, robust positional dedup — the full algebra of
#: operators/text.winnow_fingerprints_np re-derived in SQL.
_WINNOW_SQL = r"""
    WITH norm AS (
      SELECT doc_id,
             lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g')) AS nt
      FROM documents WHERE doc_id < 200),
    chars AS (SELECT doc_id, nt, length(nt) AS n FROM norm),
    grams AS (
      SELECT doc_id,
        CASE WHEN n >= 5 THEN
          list_transform(generate_series(1, n - 4),
            i -> CAST(
              ((((((((ord(substring(nt, i, 1)) & 65535)::HUGEINT
                   * 1000003
                 + (ord(substring(nt, i+1, 1)) & 65535))
                   % 18446744073709551616) * 1000003
                 + (ord(substring(nt, i+2, 1)) & 65535))
                   % 18446744073709551616) * 1000003
                 + (ord(substring(nt, i+3, 1)) & 65535))
                   % 18446744073709551616) * 1000003
                 + (ord(substring(nt, i+4, 1)) & 65535))
                   % 18446744073709551616
                   % 2305843009213693952 AS BIGINT))
        ELSE [] END AS g
      FROM chars),
    winnowed AS (
      SELECT doc_id,
        CASE
          WHEN len(g) = 0 THEN []
          WHEN len(g) < 4 THEN [g[list_position(g, list_min(g))]]
          ELSE (
            list_transform(
              list_filter(generate_series(1, len(g) - 3),
                i -> i = 1 OR
                  (i - 1 + list_position(g[i:i+3],
                                         list_min(g[i:i+3]))) !=
                  (i - 2 + list_position(g[i-1:i+2],
                                         list_min(g[i-1:i+2])))),
              i -> list_min(g[i:i+3]))
          )
        END AS fps
      FROM grams)
"""


#: DuckDB twin of functions.audio.normalize_transcript (same op order:
#: lower/trim → strip non-letter/digit/apostrophe → collapse ws → trim).
def _norm_transcript_sql(col: str) -> str:
    return ("trim(regexp_replace(regexp_replace(lower(trim(" + col + ", ' ')), "
            r"'[^\p{L}\p{N}'' ]+', ' ', 'g'), '\s+', ' ', 'g'), ' ')")


def oracle_sql() -> dict[str, str]:
    from dataflow_flex_templates_spark.operators.text import lang_trigram_sql

    _lt = lang_trigram_sql("text")
    _lang_id_sql = f"""
        WITH t AS (SELECT doc_id, {_lt['__norm__']} AS nt FROM documents),
        s AS (SELECT doc_id,
                     {_lt['en']} AS score_en, {_lt['de']} AS score_de,
                     {_lt['fr']} AS score_fr, {_lt['es']} AS score_es
              FROM t)
        SELECT doc_id, score_en, score_de, score_fr, score_es,
               CASE WHEN score_en >= score_de AND score_en >= score_fr
                         AND score_en >= score_es AND score_en > 0 THEN 'en'
                    WHEN score_de >= score_fr AND score_de >= score_es
                         AND score_de > 0 THEN 'de'
                    WHEN score_fr >= score_es AND score_fr > 0 THEN 'fr'
                    WHEN score_es > 0 THEN 'es'
                    ELSE 'unk' END AS lang
        FROM s
    """
    from dataflow_flex_templates_spark.operators.sampling import (
        stratified_sample_sql,
    )

    _sample_pred = stratified_sample_sql(_SAMPLE_FRACTIONS,
                                         default_fraction=0.25)
    out = {
        "lang_id_ngram": _lang_id_sql,
        "stratified_sample": f"""
            SELECT doc_id, source FROM documents WHERE {_sample_pred}
        """,
        "repetition_profile": r"""
            WITH d AS (
              SELECT doc_id,
                     string_split(lower(regexp_replace(trim(text, ' '),
                                  '\s+', ' ', 'g')), ' ') AS w
              FROM documents),
            wc AS (
              SELECT doc_id, word, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(w) AS word FROM d)
              WHERE length(word) > 0 GROUP BY 1, 2),
            agg AS (
              SELECT doc_id, MAX(c) AS maxc,
                     SUM(c * length(word)) AS tot
              FROM wc GROUP BY 1),
            tw AS (
              SELECT wc.doc_id, MIN(word) AS top_word,
                     ANY_VALUE(agg.maxc) AS maxc,
                     ANY_VALUE(agg.tot) AS tot
              FROM wc JOIN agg ON wc.doc_id = agg.doc_id
                              AND wc.c = agg.maxc
              GROUP BY wc.doc_id),
            gc AS (
              SELECT doc_id, g, COUNT(*) AS c
              FROM (SELECT doc_id,
                           unnest(list_transform(range(1, len(w)),
                                  i -> w[i] || ' ' || w[i + 1])) AS g
                    FROM d WHERE len(w) >= 2)
              GROUP BY 1, 2),
            dup AS (
              SELECT doc_id,
                     SUM(CASE WHEN c >= 2 THEN c * length(g)
                         ELSE 0 END)::DOUBLE
                       / SUM(c * length(g)) AS raw
              FROM gc GROUP BY 1)
            SELECT tw.doc_id, top_word,
                   round(maxc * length(top_word) / tot::DOUBLE, 6)
                     AS top_word_frac,
                   round(coalesce(dup.raw, 0), 6) AS dup_2gram_frac,
                   (round(maxc * length(top_word) / tot::DOUBLE, 6)
                      <= 0.10
                    AND round(coalesce(dup.raw, 0), 6) <= 0.40)
                     AS keep_repetition
            FROM tw LEFT JOIN dup ON tw.doc_id = dup.doc_id
        """,
        "pii_scan": r"""
            WITH t AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 7 = 0
                         THEN ' reach user_' || CAST(doc_id AS VARCHAR)
                              || '@example.com' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                         THEN ' call 555-123-4567' ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                         THEN ' ip 10.0.0.1' ELSE '' END AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(text,
                     '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS BIGINT)
                     AS n_phone,
                   CAST(len(regexp_extract_all(text,
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
                     AS BIGINT) AS n_ipv4,
                   md5(regexp_replace(regexp_replace(regexp_replace(
                     text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '[EMAIL]', 'g'),
                     '\b\d{3}[- ]\d{3}[- ]\d{4}\b', '[PHONE]', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                     '[IPV4]', 'g')) AS masked_md5
            FROM t
        """,
        "jobspec_customer_nodes": """
            SELECT c_custkey AS custkey, c_name AS name,
                   c_mktsegment AS mktsegment
            FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders
                                WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem))
        """,
        "jobspec_part_nodes_agg": """
            SELECT l.l_partkey AS partkey,
                   round(SUM(l.l_extendedprice*(1-l.l_discount)), 4) AS revenue,
                   round(SUM(l.l_quantity), 4) AS total_qty
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1
        """,
        "jobspec_ordered_edges": """
            SELECT c.c_custkey AS custkey, l.l_partkey AS partkey,
                   round(SUM(l.l_quantity), 4) AS qty,
                   COUNT(*) AS n_lines
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        """,
        "graph_degrees": """
            WITH e AS (
              SELECT DISTINCT c.c_custkey AS ck, l.l_partkey AS pk
              FROM lineitem l
              JOIN orders o ON l.l_orderkey = o.o_orderkey
              JOIN customer c ON o.o_custkey = c.c_custkey),
            d AS (SELECT ck, COUNT(*) AS out_degree FROM e GROUP BY ck)
            SELECT CAST(out_degree AS BIGINT) AS out_degree,
                   COUNT(*) AS n_nodes
            FROM d GROUP BY out_degree ORDER BY out_degree
        """,
        "where_order_limit": """
            SELECT o_custkey AS custkey,
                   round(SUM(o_totalprice), 4) AS spend,
                   COUNT(*) AS n_orders
            FROM orders WHERE o_orderstatus = 'F'
            GROUP BY 1 ORDER BY SUM(o_totalprice) DESC, o_custkey ASC LIMIT 50
        """,
        "cast_expand": """
            SELECT o_orderkey AS orderkey,
                   round(o_totalprice, 4) AS price,
                   CASE WHEN o_orderkey % 7 = 0 THEN NULL
                        ELSE strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
                   END AS odate,
                   'northwind' AS src_system
            FROM orders
        """,
        "merge_lww": """
            SELECT user_id,
                   arg_max(event_type, event_id) AS last_event_type,
                   round(arg_max(value, event_id), 4) AS last_value
            FROM events GROUP BY 1
        """,
        "tumbling_window": """
            SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start,
                   event_type, COUNT(*) AS n,
                   round(SUM(value), 4) AS total_value
            FROM events GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type
        """,
        # Histogram sketch: bin construction and quantile read-off are
        # plain SQL in both engines (floor / cum-sum window / ceil)
        "value_hist_windowed": """
            SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS window_start,
                   event_type,
                   CAST(floor(value / 5.0) AS BIGINT) AS bin_idx,
                   COUNT(*) AS n
            FROM events WHERE value IS NOT NULL
            GROUP BY time_bucket(INTERVAL 1 HOUR, ts), event_type,
                     floor(value / 5.0)
        """,
        "value_hist_quantile": """
            WITH r AS (
              SELECT event_type,
                     CAST(floor(value / 5.0) AS BIGINT) AS b,
                     COUNT(*) AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
            c AS (
              SELECT event_type, b,
                     SUM(n) OVER (PARTITION BY event_type ORDER BY b) AS cum,
                     SUM(n) OVER (PARTITION BY event_type) AS tot
              FROM r)
            SELECT event_type, CAST(q AS DOUBLE) AS q,
                   CAST((MIN(b) + 1) * 5.0 AS DOUBLE) AS q_value
            FROM c CROSS JOIN (SELECT UNNEST([0.5, 0.95, 0.99]) AS q)
            WHERE cum >= ceil(q * tot) GROUP BY event_type, q
        """,
        # bottom-k sample: identical md5-order selection and integer
        # nearest-rank pick — the estimate replays bit-for-bit; the
        # streaming fold shares it (exact mergeability == one-shot)
        "bottomk_quantiles": _BOTTOMK_ORACLE_SQL,
        "stream_bottomk": _BOTTOMK_ORACLE_SQL,
        # drift: same integer L1 algebra, consecutive windows joined
        # on the shifted bucket start
        "value_hist_drift": """
            WITH h AS (
              SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, event_type,
                     CAST(floor(value / 5.0) AS BIGINT) AS b,
                     COUNT(*) AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2, 3),
            j AS (
              SELECT COALESCE(c.w, p.w + INTERVAL 1 HOUR) AS w,
                     COALESCE(c.event_type, p.event_type) AS event_type,
                     COALESCE(c.n, 0) AS n_cur,
                     COALESCE(p.n, 0) AS n_prev
              FROM h c FULL OUTER JOIN h p
                ON c.w = p.w + INTERVAL 1 HOUR
               AND c.event_type = p.event_type AND c.b = p.b),
            t AS (
              SELECT w, event_type,
                     CAST(SUM(n_cur) AS BIGINT) AS tot_cur,
                     CAST(SUM(n_prev) AS BIGINT) AS tot_prev
              FROM j GROUP BY 1, 2)
            SELECT epoch_us(j.w) AS window_start, j.event_type,
                   t.tot_prev, t.tot_cur,
                   CAST(SUM(ABS(n_prev * tot_cur - n_cur * tot_prev))
                        AS BIGINT) AS drift_num,
                   round(CAST(SUM(ABS(n_prev * tot_cur - n_cur * tot_prev))
                              AS BIGINT)
                         / (t.tot_prev * t.tot_cur), 4) AS drift
            FROM j JOIN t ON j.w = t.w AND j.event_type = t.event_type
            WHERE t.tot_cur > 0 AND t.tot_prev > 0
            GROUP BY j.w, j.event_type, t.tot_prev, t.tot_cur
        """,
        # CDC changelog: delta derived in plain SQL over documents
        "sink_changelog": """
            WITH upd AS (
              SELECT doc_id, text || ' rev2' AS text FROM documents
              WHERE doc_id < 150 AND doc_id % 5 = 0),
            ins AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id >= 150 AND doc_id < 180)
            SELECT doc_id, text AS transcript,
                   CAST(length(text) AS BIGINT) AS n_chars,
                   'insert' AS _change_type
            FROM ins
            UNION ALL
            SELECT d.doc_id, d.text, CAST(length(d.text) AS BIGINT),
                   'update_before'
            FROM documents d JOIN upd USING (doc_id)
            UNION ALL
            SELECT doc_id, text, CAST(length(text) AS BIGINT),
                   'update_after'
            FROM upd
        """,
        # windowed heavy hitters: same window math, same tie-break
        "windowed_topk": """
            WITH c AS (
              SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts))
                       AS window_start,
                     user_id, COUNT(*) AS n
              FROM events
              GROUP BY time_bucket(INTERVAL 1 HOUR, ts), user_id),
            r AS (
              SELECT *, row_number() OVER (PARTITION BY window_start
                         ORDER BY n DESC, user_id ASC) AS rank
              FROM c)
            SELECT window_start, user_id, CAST(n AS BIGINT) AS n,
                   CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 5
        """,
        "sliding_window": """
            WITH offs AS (SELECT 0 AS o UNION ALL SELECT 1),
            win AS (
              SELECT time_bucket(INTERVAL 1 HOUR, ts)
                     - TO_HOURS(o) AS ws, event_type
              FROM events, offs)
            SELECT epoch_us(ws) AS window_start,
                   event_type, COUNT(*) AS n
            FROM win GROUP BY ws, event_type
        """,
        "session_window": """
            WITH ordered AS (
              SELECT user_id, ts, value,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                               > INTERVAL 5 MINUTES OR
                               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events),
            sess AS (
              SELECT user_id, ts, value,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM ordered)
            SELECT epoch_us(MIN(ts)) AS window_start,
                   user_id, COUNT(*) AS n, round(SUM(value), 4) AS total_value
            FROM sess GROUP BY user_id, sid
        """,
        "text_profile": f"""
            WITH t AS (
              SELECT *, trim(text, ' ') AS tt,
                     lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g')) AS nt
              FROM documents),
            tok AS (
              SELECT *,
                CASE WHEN length(tt)=0 THEN 0
                     ELSE len(regexp_split_to_array(tt, '\\s+')) END AS n_tokens,
                CASE WHEN length(nt)=0 THEN 0
                     ELSE len(list_filter(string_split(nt, ' '),
                              x -> list_contains({_STOPWORDS_SQL}, x))) END AS stop_hits,
                CASE WHEN length(nt)=0 THEN 1
                     ELSE len(string_split(nt, ' ')) END AS nt_tokens,
                (length(tt) - length(regexp_replace(tt, '[.!?,;:]', '', 'g')))
                  / greatest(length(tt), 1) AS praw
              FROM t)
            SELECT doc_id, n_tokens, md5(nt) AS fp,
                   round(praw, 6) AS punct_ratio,
                   round(stop_hits / greatest(nt_tokens, 1), 6) AS stopword_ratio,
                   round(0.5 * least(n_tokens / 100.0, 1.0)
                         + 0.5 * least(stop_hits / greatest(nt_tokens,1) * 4.0, 1.0)
                         - 0.25 * least(praw * 5.0, 1.0), 6) AS quality,
                   CASE WHEN stop_hits >= 2
                             AND stop_hits / greatest(nt_tokens,1) >= 0.15
                        THEN 'en' ELSE 'unk' END AS lang_pred
            FROM tok
        """,
        "gopher_quality": rf"""
            WITH t AS (
              SELECT doc_id, text,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g')) AS nt
              FROM documents),
            m AS (
              SELECT doc_id, text, nt,
                     string_split(nt, ' ') AS toks,
                     len(string_split(nt, ' ')) AS n_tok
              FROM t),
            f AS (
              SELECT doc_id,
                     n_tok < 5 AS flag_too_few_tokens,
                     (list_sum(list_transform(toks, x -> length(x)))
                      / greatest(n_tok, 1)) AS mean_len,
                     (length(text) - length(regexp_replace(
                        text, '[#@~^*+=|<>]', '', 'g')))
                       / greatest(length(text), 1)::DOUBLE AS sym_ratio,
                     ((length(text) - length(replace(text, '...', ''))) / 3)
                       * 10.0 AS ell10,
                     n_tok,
                     len(list_filter(toks,
                         x -> list_contains({_STOPWORDS_SQL}, x))) AS stops
              FROM m)
            SELECT doc_id, flag_too_few_tokens,
                   (mean_len < 2.0 OR mean_len > 12.0) AS flag_mean_word_len,
                   sym_ratio > 0.10 AS flag_symbol_heavy,
                   ell10 > n_tok AS flag_ellipsis_lines,
                   stops = 0 AS flag_no_stopwords,
                   NOT (flag_too_few_tokens
                        OR mean_len < 2.0 OR mean_len > 12.0
                        OR sym_ratio > 0.10 OR ell10 > n_tok
                        OR stops = 0) AS keep
            FROM f
        """,
        "token_counts": r"""
            SELECT doc_id,
                   CASE WHEN length(trim(text, ' ')) = 0 THEN 0
                        ELSE len(regexp_split_to_array(trim(text, ' '), '\s+'))
                   END AS ws_tokens,
                   len(regexp_extract_all(text,
                       '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
                     AS bpe_tokens
            FROM documents
        """,
        # k must mirror _q_vocabulary (200); tie-break (count DESC,
        # word ASC) is total, so rank/limit are deterministic.
        "weighted_sample": """
            WITH p AS (
              SELECT doc_id, n_chars,
                     (CAST(concat('0x',
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 7))
                           AS BIGINT) * 1000000000) // n_chars
                       AS priority_q
              FROM documents WHERE n_chars > 0)
            SELECT doc_id, n_chars, priority_q
            FROM p ORDER BY priority_q ASC, doc_id ASC LIMIT 50
        """,
        "salient_terms": r"""
            WITH t AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            w AS (
              SELECT doc_id, unnest(string_split(nt, ' ')) AS term
              FROM t),
            wf AS (SELECT * FROM w WHERE length(term) > 0),
            tf AS (
              SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
              FROM wf GROUP BY doc_id, term),
            dfq AS (
              SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
              FROM wf GROUP BY term),
            s AS (
              SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
                     tf.tf * (1000000 // dfq.df) AS score_q
              FROM tf JOIN dfq USING (term)),
            r AS (
              SELECT *, row_number() OVER (
                        PARTITION BY doc_id
                        ORDER BY score_q DESC, term ASC) AS rank
              FROM s)
            SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df,
                   CAST(score_q AS BIGINT) AS score_q
            FROM r WHERE rank <= 3
        """,
        "vocabulary": r"""
            WITH t AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            w AS (
              SELECT doc_id, unnest(string_split(nt, ' ')) AS word
              FROM t),
            c AS (
              SELECT word, COUNT(*) AS n_occurrences,
                     COUNT(DISTINCT doc_id) AS n_docs
              FROM w WHERE length(word) > 0 GROUP BY word),
            r AS (
              SELECT *, row_number() OVER (ORDER BY n_occurrences DESC,
                                           word ASC) AS rank
              FROM c)
            SELECT CAST(rank AS BIGINT) AS rank, word,
                   n_occurrences, n_docs
            FROM r WHERE rank <= 200
        """,
        # (n_chars, doc_id) total order mirrors _q_curriculum_bins;
        # ANSI ntile is engine-identical under a total order.
        "curriculum_bins": """
            SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
                   CAST(ntile(10) OVER (ORDER BY n_chars ASC,
                                        doc_id ASC) AS BIGINT)
                     AS decile
            FROM documents
        """,
        # k=30 mirrors _q_vocab_coverage; total counts ALL corpus
        # token occurrences (not just the head), so coverage converges
        # to 1000 only if the corpus vocabulary fits the head.
        "vocab_coverage": r"""
            WITH t AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            w AS (
              SELECT doc_id, unnest(string_split(nt, ' ')) AS word
              FROM t),
            ww AS (SELECT word FROM w WHERE length(word) > 0),
            tot AS (SELECT COUNT(*) AS total_occ FROM ww),
            c AS (
              SELECT word, COUNT(*) AS n_occurrences
              FROM ww GROUP BY word),
            r AS (
              SELECT *, row_number() OVER (ORDER BY n_occurrences DESC,
                                           word ASC) AS rank
              FROM c),
            cum AS (
              SELECT rank, word, n_occurrences,
                     SUM(n_occurrences) OVER (ORDER BY rank)
                       AS cum_occurrences
              FROM r WHERE rank <= 30)
            SELECT CAST(rank AS BIGINT) AS rank, word,
                   CAST(n_occurrences AS BIGINT) AS n_occurrences,
                   CAST(cum_occurrences AS BIGINT) AS cum_occurrences,
                   CAST(total_occ AS BIGINT) AS total_occ,
                   CAST(cum_occurrences * 1000 // total_occ AS BIGINT)
                     AS coverage_permille
            FROM cum, tot
        """,
        # k must mirror _q_oov_rate (top-10 vocabulary).
        "oov_rate": r"""
            WITH t AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            w AS (
              SELECT doc_id, unnest(string_split(nt, ' ')) AS word
              FROM t),
            ww AS (SELECT doc_id, word FROM w WHERE length(word) > 0),
            c AS (
              SELECT word, COUNT(*) AS n_occurrences
              FROM ww GROUP BY word),
            v AS (
              SELECT word FROM c
              ORDER BY n_occurrences DESC, word ASC LIMIT 10),
            k AS (
              SELECT ww.doc_id, COUNT(*) AS n_tokens,
                     SUM(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END)
                       AS oov_tokens
              FROM ww LEFT JOIN v USING (word) GROUP BY ww.doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(k.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(COALESCE(k.oov_tokens, 0) AS BIGINT)
                     AS oov_tokens
            FROM documents d LEFT JOIN k USING (doc_id)
        """,
        # gid formula must mirror corpus_health (grouping(lang)*2 +
        # grouping(source)); measures are exact integers (sum div
        # count, never a float mean).
        "corpus_health": r"""
            SELECT lang, source,
                   CAST(GROUPING(lang) AS BIGINT) * 2
                     + CAST(GROUPING(source) AS BIGINT) AS gid,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(MAX(n_chars) AS BIGINT) AS max_chars,
                   CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS avg_chars_q
            FROM documents GROUP BY ROLLUP(lang, source)
        """,
        # Value list must mirror _q_pivot_lang_matrix; totals count
        # only the declared values (a lang outside the list is not a
        # pivot column, so it must not leak into the margins).
        "pivot_lang_matrix": r"""
            SELECT source,
                   CAST(SUM(CASE WHEN lang='de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
                   CAST(SUM(CASE WHEN lang='en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
                   CAST(SUM(CASE WHEN lang='es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
                   CAST(SUM(CASE WHEN lang='fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
                   CAST(SUM(CASE WHEN lang='zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh,
                   CAST(COALESCE(SUM(CASE WHEN lang='de' THEN n_chars END), 0) AS BIGINT) AS sum_de,
                   CAST(COALESCE(SUM(CASE WHEN lang='en' THEN n_chars END), 0) AS BIGINT) AS sum_en,
                   CAST(COALESCE(SUM(CASE WHEN lang='es' THEN n_chars END), 0) AS BIGINT) AS sum_es,
                   CAST(COALESCE(SUM(CASE WHEN lang='fr' THEN n_chars END), 0) AS BIGINT) AS sum_fr,
                   CAST(COALESCE(SUM(CASE WHEN lang='zh' THEN n_chars END), 0) AS BIGINT) AS sum_zh,
                   CAST(SUM(CASE WHEN lang IN ('de','en','es','fr','zh')
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_total,
                   CAST(COALESCE(SUM(CASE WHEN lang IN ('de','en','es','fr','zh')
                            THEN n_chars END), 0) AS BIGINT) AS sum_total
            FROM documents GROUP BY source
        """,
        # alpha (3/10) must mirror _q_ewma_chars; // floors like
        # Spark's div on the all-positive n_chars series. The
        # streaming twin must land on the SAME values, so it shares
        # the oracle verbatim.
        "ewma_chars": _EWMA_CHARS_SQL,
        "ewma_stream_chars": _EWMA_CHARS_SQL,
        # v2 derivation must mirror _q_corpus_diff exactly; fp is the
        # same prefix-free length-prefix encoding as snapshot_diff
        # (len:value, NULL -> 'N' — immune to separator-collision and
        # NULL-vs-sentinel collision). '||' (not concat) so NULL text
        # propagates like Spark concat inside the v2 derivation.
        "corpus_diff": r"""
            WITH v2 AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' edited'
                          ELSE text END AS text
              FROM documents WHERE doc_id % 13 != 0
              UNION ALL
              SELECT CAST(doc_id + 100000 AS BIGINT) AS doc_id, text
              FROM documents WHERE doc_id % 11 = 0),
            o AS (SELECT doc_id,
                         md5(COALESCE(length(text) || ':' || text, 'N'))
                           AS fp_old
                  FROM documents),
            n AS (SELECT doc_id,
                         md5(COALESCE(length(text) || ':' || text, 'N'))
                           AS fp_new
                  FROM v2)
            SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                   CASE WHEN o.fp_old IS NULL THEN 'added'
                        WHEN n.fp_new IS NULL THEN 'removed'
                        WHEN o.fp_old != n.fp_new THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   o.fp_old, n.fp_new
            FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        """,
        # Both WER rows share _wer_oracle_sql (cross-algebra encode +
        # byte-levenshtein); stream_wer is the doc_id<200 clip-keyed
        # slice that flows through the stream-stream join first.
        "wer_transcripts": _wer_oracle_sql("1=1", "doc_id"),
        # Same integer boundary algebra as operators/asr.word_timestamps,
        # re-derived via unnest + window cumsum. Sums CAST to BIGINT:
        # DuckDB window SUM yields HUGEINT, which pandas converts to
        # float64 (the training_pipeline round-2 lesson).
        "word_timestamps": r"""
            WITH arrs AS (
              SELECT doc_id, n_chars * 40 AS dur_ms,
                     list_filter(
                       regexp_split_to_array(trim(text, ' '), '\s+'),
                       x -> x != '') AS words
              FROM documents
            ), w AS (
              SELECT doc_id, dur_ms,
                     unnest(words) AS word,
                     generate_subscripts(words, 1) AS idx1
              FROM arrs
            ), c AS (
              SELECT doc_id, dur_ms, idx1 - 1 AS word_idx, word,
                     CAST(sum(length(word)) OVER (
                       PARTITION BY doc_id ORDER BY idx1) AS BIGINT)
                       AS cum_after,
                     CAST(sum(length(word)) OVER (
                       PARTITION BY doc_id) AS BIGINT) AS total
              FROM w
            )
            SELECT doc_id, CAST(word_idx AS BIGINT) AS word_idx, word,
                   dur_ms * (cum_after - length(word)) // total
                     AS start_ms,
                   dur_ms * cum_after // total AS end_ms
            FROM c
        """,
        # Cue grid over the same word-timing algebra: a word joins the
        # cue containing its start (start_ms // 3000); start/end are
        # the first word's start / last word's end; cps_x10 is the
        # reading-speed gate (chars/sec x10, integer div, NULL on
        # zero-duration cues).
        "subtitle_cues": r"""
            WITH arrs AS (
              SELECT doc_id, n_chars * 40 AS dur_ms,
                     list_filter(
                       regexp_split_to_array(trim(text, ' '), '\s+'),
                       x -> x != '') AS words
              FROM documents
            ), w AS (
              SELECT doc_id, dur_ms,
                     unnest(words) AS word,
                     generate_subscripts(words, 1) AS idx1
              FROM arrs
            ), c AS (
              SELECT doc_id, dur_ms, idx1, word,
                     CAST(sum(length(word)) OVER (
                       PARTITION BY doc_id ORDER BY idx1) AS BIGINT)
                       AS cum_after,
                     CAST(sum(length(word)) OVER (
                       PARTITION BY doc_id) AS BIGINT) AS total
              FROM w
            ), timed AS (
              SELECT doc_id, idx1, word,
                     dur_ms * (cum_after - length(word)) // total
                       AS start_ms,
                     dur_ms * cum_after // total AS end_ms
              FROM c
            ), cues AS (
              SELECT doc_id, start_ms // 3000 AS cue_idx,
                     MIN(start_ms) AS start_ms, MAX(end_ms) AS end_ms,
                     COUNT(*) AS n_words,
                     string_agg(word, ' ' ORDER BY idx1) AS text
              FROM timed GROUP BY doc_id, start_ms // 3000
            )
            SELECT doc_id, cue_idx, start_ms, end_ms, n_words, text,
                   CASE WHEN end_ms > start_ms
                        THEN CAST(length(text) AS BIGINT) * 10000
                             // (end_ms - start_ms)
                        ELSE NULL END AS cps_x10
            FROM cues
        """,
        # SRT rendering over the same cue algebra: row_number gives the
        # contiguous per-doc sequence, printf the %02d/%03d-padded
        # timing line (C-style both engines), chr(10) the block joins.
        # ONE oracle serves both the batch row and its streaming twin
        # (stream_srt_emit): the continuous path must land
        # byte-identical.
        "subtitle_srt": _SUBTITLE_SRT_ORACLE_SQL,
        "stream_srt_emit": _SUBTITLE_SRT_ORACLE_SQL,
        # Windowed mix-drift monitor: minute buckets are doc_id//60 in
        # both engines (event_time = EPOCH + doc_id s is injective and
        # order-preserving); shares are integer-ppm within the bucket.
        "stream_mixture_monitor": r"""
            WITH per AS (
              SELECT doc_id // 60 AS win_idx, source,
                     COUNT(*) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS tokens
              FROM documents GROUP BY 1, 2
            ), tot AS (
              SELECT win_idx, CAST(SUM(tokens) AS BIGINT) AS win_tokens
              FROM per GROUP BY win_idx
            )
            SELECT p.win_idx, p.source, p.n_docs, p.tokens,
                   p.tokens * 1000000 // t.win_tokens AS share_ppm
            FROM per p JOIN tot t ON p.win_idx = t.win_idx
        """,
        # Identical pow/sum double algebra; integer ppm via //.
        "mixture_plan": r"""
            WITH per AS (
              SELECT source, COUNT(*) AS n_rows,
                     CAST(SUM(n_chars) AS BIGINT) AS tokens
              FROM documents GROUP BY source
            ), tot AS (
              SELECT CAST(SUM(tokens) AS BIGINT) AS t,
                     SUM(pow(CAST(tokens AS DOUBLE), 0.5)) AS ws
              FROM per
            )
            SELECT source, n_rows, tokens,
                   tokens * 1000000 // t AS natural_share_ppm,
                   pow(CAST(tokens AS DOUBLE), 0.5) / ws AS weight,
                   pow(CAST(tokens AS DOUBLE), 0.5) / ws * 10000000.0
                     AS planned_tokens,
                   pow(CAST(tokens AS DOUBLE), 0.5) / ws * 10000000.0
                     * 1000.0 / CAST(tokens AS DOUBLE) AS epochs_x1000
            FROM per, tot
        """,
        # The same three-step LCG bigint recurrence; % is remainder on
        # non-negative operands in both engines, so every mask field
        # is bit-exact.
        "specaugment_plan": r"""
            WITH d AS (
              SELECT doc_id, (n_chars * 40) // 10 AS n_frames
              FROM documents
            ), r AS (
              SELECT doc_id, n_frames,
                     (doc_id * 1103515245 + 12345) % 2147483648 AS r1
              FROM d
            ), r2t AS (
              SELECT *, (r1 * 1103515245 + 12345) % 2147483648 AS r2
              FROM r
            ), r3t AS (
              SELECT *, (r2 * 1103515245 + 12345) % 2147483648 AS r3
              FROM r2t
            ), tw AS (
              SELECT doc_id, n_frames, r1, r2, r3,
                     CASE WHEN n_frames >= 1 THEN
                       r1 % (least(100, n_frames // 2) + 1)
                     END AS t_mask_w,
                     CASE WHEN n_frames >= 1 THEN
                       r2 % (least(27, 79) + 1)
                     END AS f_mask_w
              FROM r3t
            )
            SELECT doc_id, n_frames,
                   CASE WHEN n_frames >= 1 THEN
                     r2 % (n_frames - t_mask_w + 1)
                   END AS t_mask_start,
                   t_mask_w,
                   CASE WHEN n_frames >= 1 THEN
                     r3 % (80 - f_mask_w)
                   END AS f_mask_start,
                   f_mask_w
            FROM tw
        """,
        # Per-doc QA rollup over the same cue algebra; SUMs CAST to
        # BIGINT (DuckDB HUGEINT), NULL cps never counts as fast.
        "subtitle_qa": r"""
            WITH arrs AS (
              SELECT doc_id, n_chars * 40 AS dur_ms,
                     list_filter(
                       regexp_split_to_array(trim(text, ' '), '\s+'),
                       x -> x != '') AS words
              FROM documents
            ), w AS (
              SELECT doc_id, dur_ms,
                     unnest(words) AS word,
                     generate_subscripts(words, 1) AS idx1
              FROM arrs
            ), c AS (
              SELECT doc_id, dur_ms, idx1, word,
                     CAST(sum(length(word)) OVER (
                       PARTITION BY doc_id ORDER BY idx1) AS BIGINT)
                       AS cum_after,
                     CAST(sum(length(word)) OVER (
                       PARTITION BY doc_id) AS BIGINT) AS total
              FROM w
            ), timed AS (
              SELECT doc_id, idx1, word,
                     dur_ms * (cum_after - length(word)) // total
                       AS start_ms,
                     dur_ms * cum_after // total AS end_ms
              FROM c
            ), cues AS (
              SELECT doc_id, start_ms // 3000 AS cue_idx,
                     MIN(start_ms) AS start_ms, MAX(end_ms) AS end_ms,
                     COUNT(*) AS n_words,
                     string_agg(word, ' ' ORDER BY idx1) AS text
              FROM timed GROUP BY doc_id, start_ms // 3000
            ), scored AS (
              SELECT doc_id, n_words,
                     CASE WHEN end_ms > start_ms
                          THEN CAST(length(text) AS BIGINT) * 10000
                               // (end_ms - start_ms)
                          ELSE NULL END AS cps_x10
              FROM cues
            )
            SELECT doc_id, COUNT(*) AS n_cues,
                   CAST(SUM(n_words) AS BIGINT) AS n_words,
                   CAST(SUM(CASE WHEN cps_x10 > 200 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_fast_cues,
                   MAX(cps_x10) AS max_cps_x10,
                   CAST(CASE WHEN SUM(CASE WHEN cps_x10 > 200 THEN 1
                                           ELSE 0 END) = 0
                             THEN 1 ELSE 0 END AS INT) AS qa_pass
            FROM scored GROUP BY doc_id
        """,
        "stream_wer": _wer_oracle_sql(
            "doc_id < 200",
            "'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS clip_id"),
        # Same lag/cumsum sessionization as session_window's oracle
        # (identical gap semantics: strictly-greater-than-gap opens a
        # session, matching F.session_window's half-open [start,
        # last+gap) on this data); assembly order pinned by
        # (ts, event_id) — mirrors the Spark struct sort.
        "asr_session_assembly": _ASR_SESSION_ORACLE_SQL,
        # streaming twin — byte-identical target: same oracle
        "stream_session_assembly": _ASR_SESSION_ORACLE_SQL,
        # Three-stage composed oracle mirroring _q_asr_curation_pipeline:
        # WER gate (<=350 permille, via the shared cross-algebra WER
        # subquery over the mirror-extended corpus) -> md5 exact dedup
        # (min-doc_id keeper; removes the mirrors) -> duration-sorted
        # packing (batch_size=8, n_shards=4).
        "asr_curation_pipeline": f"""
            WITH ext AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 100000 AS doc_id, text
              FROM documents WHERE doc_id % 10 = 0),
            wer AS (
              SELECT doc_id, wer_permille
              FROM ({_wer_oracle_sql("1=1", "doc_id", table="ext")})),
            keep_wer AS (
              SELECT doc_id FROM wer WHERE wer_permille <= 350),
            fp AS (
              SELECT doc_id,
                     md5(lower(regexp_replace(trim(text, ' '),
                                              '\\s+', ' ', 'g'))) AS f
              FROM ext),
            keepers AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
            kept AS (
              SELECT k.doc_id FROM keep_wer k
              JOIN keepers USING (doc_id)),
            clips AS (
              SELECT doc_id,
                     CAST(100 + (doc_id % 7) * 50 AS INT) AS dur_ms
              FROM kept),
            assigned AS (
              SELECT doc_id % 4 AS shard, dur_ms,
                     (row_number() OVER (PARTITION BY doc_id % 4
                                         ORDER BY dur_ms, doc_id) - 1)
                       // 8 AS batch_id
              FROM clips),
            agg AS (
              SELECT shard, batch_id,
                     CAST(COUNT(*) AS BIGINT) AS n_clips,
                     CAST(MAX(dur_ms) AS BIGINT) AS max_dur_ms,
                     CAST(SUM(dur_ms) AS BIGINT) AS sum_dur_ms
              FROM assigned GROUP BY shard, batch_id)
            SELECT shard, batch_id, n_clips, max_dur_ms, sum_dur_ms,
                   CAST(max_dur_ms * n_clips AS BIGINT) AS padded_ms,
                   CASE WHEN max_dur_ms * n_clips = 0 THEN 0
                        ELSE CAST((max_dur_ms * n_clips - sum_dur_ms)
                                  * 1000 // (max_dur_ms * n_clips)
                                  AS BIGINT)
                   END AS waste_permille
            FROM agg
        """,
        # Edge set, sources (%97), undirected union, and the 4-hop
        # bound all mirror _q_bfs_levels; UNION (distinct) bounds the
        # recursion, min(level) = first-reach BFS level.
        "bfs_levels": """
            WITH RECURSIVE e AS (
              SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
                     CAST(l_partkey + 1000000 AS BIGINT) AS dst
              FROM lineitem),
            und AS (
              SELECT src, dst FROM e
              UNION ALL SELECT dst AS src, src AS dst FROM e),
            srcs AS (
              SELECT DISTINCT src AS node FROM e WHERE src % 97 = 0),
            r AS (
              SELECT node, 0 AS lvl FROM srcs
              UNION
              SELECT u.dst AS node, r.lvl + 1 AS lvl
              FROM r JOIN und u ON u.src = r.node
              WHERE r.lvl < 4)
            SELECT node, CAST(MIN(lvl) AS BIGINT) AS level
            FROM r GROUP BY node
        """,
        # column list mirrors _q_profile_events; timestamps render
        # identically ('YYYY-MM-DD HH:MM:SS.ffffff') on both engines.
        "profile_events": """
            SELECT 'event_id' AS column,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(*) FILTER (event_id IS NULL) AS BIGINT)
                     AS n_nulls,
                   CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
                   CAST(MIN(event_id) AS VARCHAR) AS min_str,
                   CAST(MAX(event_id) AS VARCHAR) AS max_str
            FROM events
            UNION ALL
            SELECT 'ts', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) FILTER (ts IS NULL) AS BIGINT),
                   CAST(COUNT(DISTINCT ts) AS BIGINT),
                   CAST(MIN(ts) AS VARCHAR), CAST(MAX(ts) AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) FILTER (user_id IS NULL) AS BIGINT),
                   CAST(COUNT(DISTINCT user_id) AS BIGINT),
                   CAST(MIN(user_id) AS VARCHAR),
                   CAST(MAX(user_id) AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) FILTER (event_type IS NULL) AS BIGINT),
                   CAST(COUNT(DISTINCT event_type) AS BIGINT),
                   CAST(MIN(event_type) AS VARCHAR),
                   CAST(MAX(event_type) AS VARCHAR)
            FROM events
            UNION ALL
            SELECT 'props', CAST(COUNT(*) AS BIGINT),
                   CAST(COUNT(*) FILTER (props IS NULL) AS BIGINT),
                   CAST(COUNT(DISTINCT props) AS BIGINT),
                   CAST(MIN(props) AS VARCHAR),
                   CAST(MAX(props) AS VARCHAR)
            FROM events
        """,
        # period = 86400000000 us (1 day) mirrors retention_cohorts'
        # default; // is DuckDB integer division (exact like the
        # Spark t - t%p derivation).
        "retention_cohorts": """
            WITH days AS (
              SELECT DISTINCT user_id,
                     epoch_us(ts) // 86400000000 AS day
              FROM events),
            cohort AS (
              SELECT user_id, MIN(day) AS cohort_day
              FROM days GROUP BY user_id)
            SELECT c.cohort_day,
                   d.day - c.cohort_day AS day_offset,
                   CAST(COUNT(*) AS BIGINT) AS n_users
            FROM days d JOIN cohort c USING (user_id)
            GROUP BY c.cohort_day, d.day - c.cohort_day
        """,
        # Steps ['view','click','purchase'] mirror the query; the
        # chained >= tie semantics are identical nested-window algebra.
        "funnel_view_click_purchase": """
            WITH ev AS (
              SELECT user_id, epoch_us(ts) AS t_us, event_type AS et
              FROM events),
            s0 AS (
              SELECT *, min(CASE WHEN et = 'view' THEN t_us END)
                        OVER (PARTITION BY user_id) AS step_0_us
              FROM ev),
            s1 AS (
              SELECT *, min(CASE WHEN et = 'click'
                                 AND t_us >= step_0_us THEN t_us END)
                        OVER (PARTITION BY user_id) AS step_1_us
              FROM s0),
            s2 AS (
              SELECT *, min(CASE WHEN et = 'purchase'
                                 AND t_us >= step_1_us THEN t_us END)
                        OVER (PARTITION BY user_id) AS step_2_us
              FROM s1)
            SELECT user_id,
                   CAST(max(step_0_us) AS BIGINT) AS step_0_us,
                   CAST(max(step_1_us) AS BIGINT) AS step_1_us,
                   CAST(max(step_2_us) AS BIGINT) AS step_2_us,
                   CAST(CASE WHEN max(step_2_us) IS NOT NULL THEN 3
                             WHEN max(step_1_us) IS NOT NULL THEN 2
                             WHEN max(step_0_us) IS NOT NULL THEN 1
                             ELSE 0 END AS BIGINT) AS depth
            FROM s2 GROUP BY user_id
        """,
        "scd2_user_state": _SCD2_ORACLE_SQL,
        # the incremental fold must land byte-identical to the
        # full-rebuild SQL — same oracle as the batch row
        "stream_scd2": _SCD2_ORACLE_SQL,
        # Native ROLLUP + GROUPING() — the engine-side re-aggregation
        # rewrite must be level-for-level identical to the lattice.
        "rollup_corpus": """
            SELECT source, lang,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
                     AS sum_n_chars,
                   CAST(GROUPING(source) AS BIGINT) AS grp_source,
                   CAST(GROUPING(lang) AS BIGINT) AS grp_lang
            FROM documents
            GROUP BY ROLLUP(source, lang)
        """,
        # Derives from the BASE table (not the temp JSONL files): a
        # green row therefore proves the Spark JSONL write+read is
        # lossless, incl. exact double round-trip through text.
        "jsonl_roundtrip": """
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(CAST(floor(value * 100) AS BIGINT))
                        AS BIGINT) AS sum_cents,
                   CAST(MIN(event_id) AS BIGINT) AS min_event_id,
                   CAST(MAX(event_id) AS BIGINT) AS max_event_id
            FROM events WHERE event_id < 2000 GROUP BY event_type
        """,
        # TRY_CAST mirrors Spark's .cast('long') null-on-failure
        # semantics: n_null_k counts missing keys AND non-integer
        # values identically on both engines.
        "json_props_stats": """
            WITH e AS (
              SELECT event_type,
                     TRY_CAST(props->>'k' AS BIGINT) AS k
              FROM events)
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(k) AS BIGINT) AS sum_k,
                   CAST(MIN(k) AS BIGINT) AS min_k,
                   CAST(MAX(k) AS BIGINT) AS max_k,
                   CAST(COUNT(*) FILTER (k IS NULL) AS BIGINT)
                     AS n_null_k
            FROM e GROUP BY event_type
        """,
        # max_ms=3000 / overlap=500 (stride 2500) mirror
        # _q_segment_clips; ceil on double is exact at these
        # magnitudes (granularity 1/stride >> ulp).
        "segment_clips": """
            WITH clips AS (
              SELECT CAST(o_orderkey AS BIGINT) AS clip_id,
                     CAST(o_orderkey % 9000 + 500 AS INT) AS dur_ms
              FROM orders),
            n AS (
              SELECT clip_id, dur_ms,
                     CASE WHEN dur_ms <= 3000 THEN 1
                          ELSE 1 + CAST(ceil((dur_ms - 3000) / 2500.0)
                                        AS BIGINT)
                     END AS n_segs
              FROM clips)
            SELECT clip_id,
                   CAST(dur_ms AS BIGINT) AS dur_ms_total,
                   CAST(u.seg_idx AS BIGINT) AS seg_idx,
                   CAST(u.seg_idx * 2500 AS BIGINT) AS start_ms,
                   CAST(least(u.seg_idx * 2500 + 3000, dur_ms)
                        AS BIGINT) AS end_ms,
                   CAST(least(u.seg_idx * 2500 + 3000, dur_ms)
                        - u.seg_idx * 2500 AS BIGINT) AS seg_ms
            FROM n, unnest(range(0, n_segs)) AS u(seg_idx)
        """,
        # n=3 and the (len DESC, doc_id ASC) total order must mirror
        # _q_top_docs_per_source.
        "top_docs_per_source": """
            SELECT doc_id, lang, source, n_chars_exact,
                   CAST(rnk AS BIGINT) AS rnk
            FROM (
              SELECT doc_id, lang, source,
                     CAST(length(text) AS BIGINT) AS n_chars_exact,
                     row_number() OVER (
                       PARTITION BY lang, source
                       ORDER BY length(text) DESC, doc_id ASC) AS rnk
              FROM documents)
            WHERE rnk <= 3
        """,
        # batch_size=32 / n_shards=8 mirror _q_pack_audio_batches;
        # (dur, id) ordering makes row_number total-order identical.
        "pack_audio_batches": r"""
            WITH clips AS (
              SELECT CAST(o_orderkey AS BIGINT) AS clip_id,
                     CAST(o_orderkey % 9000 + 500 AS INT) AS dur_ms
              FROM orders),
            assigned AS (
              SELECT clip_id % 8 AS shard, dur_ms,
                     (row_number() OVER (PARTITION BY clip_id % 8
                                         ORDER BY dur_ms, clip_id) - 1)
                       // 32 AS batch_id
              FROM clips),
            agg AS (
              SELECT shard, batch_id,
                     CAST(COUNT(*) AS BIGINT) AS n_clips,
                     CAST(MAX(dur_ms) AS BIGINT) AS max_dur_ms,
                     CAST(SUM(dur_ms) AS BIGINT) AS sum_dur_ms
              FROM assigned GROUP BY shard, batch_id)
            SELECT shard, batch_id, n_clips, max_dur_ms, sum_dur_ms,
                   CAST(max_dur_ms * n_clips AS BIGINT) AS padded_ms,
                   CASE WHEN max_dur_ms * n_clips = 0 THEN 0
                        ELSE CAST((max_dur_ms * n_clips - sum_dur_ms)
                                  * 1000 // (max_dur_ms * n_clips)
                                  AS BIGINT)
                   END AS waste_permille
            FROM agg
        """,
        # target_bytes=2000 mirrors _q_shard_plan; (source, doc_id)
        # ordering makes the running sum — hence every shard boundary
        # — total-order identical across engines.
        "shard_plan": r"""
            WITH sized AS (
              SELECT source, doc_id,
                     CAST(length(text) AS BIGINT) AS sz
              FROM documents),
            assigned AS (
              SELECT source, doc_id, sz,
                     (SUM(sz) OVER (PARTITION BY source ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) - sz) // 2000 AS shard_idx
              FROM sized)
            SELECT source, CAST(shard_idx AS BIGINT) AS shard_idx,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(SUM(sz) AS BIGINT) AS shard_bytes,
                   MIN(doc_id) AS first_id, MAX(doc_id) AS last_id,
                   CAST(SUM(sz) * 1000 // 2000 AS BIGINT)
                     AS fill_permille
            FROM assigned GROUP BY source, shard_idx
        """,
        # file_id = doc_id div 100 mirrors _q_zone_map_index; zone-map
        # stats are exact MIN/MAX/COUNT, so the match is bit-for-bit.
        "zone_map_index": r"""
            SELECT source, doc_id // 100 AS file_id,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MIN(n_chars) AS n_chars_min,
                   MAX(n_chars) AS n_chars_max,
                   CAST(COUNT(*) - COUNT(n_chars) AS BIGINT)
                     AS n_chars_nulls,
                   MIN(lang) AS lang_min, MAX(lang) AS lang_max,
                   CAST(COUNT(*) - COUNT(lang) AS BIGINT)
                     AS lang_nulls
            FROM documents GROUP BY source, doc_id // 100
        """,
        # [200, 800] mirrors _q_zone_prune; the overlap rule is the
        # operator's documented soundness contract (skip only when the
        # bounds PROVE emptiness; all-null shards have NULL bounds).
        "zone_prune": r"""
            WITH zm AS (
              SELECT source, doc_id // 100 AS file_id,
                     CAST(COUNT(*) AS BIGINT) AS n_rows,
                     MIN(n_chars) AS n_chars_min,
                     MAX(n_chars) AS n_chars_max
              FROM documents GROUP BY source, doc_id // 100)
            SELECT source, file_id, n_rows, n_chars_min, n_chars_max,
                   (n_chars_min IS NOT NULL
                    AND n_chars_max >= 200
                    AND n_chars_min <= 800) AS might_match
            FROM zm
        """,
        # stream_zone_map folds the same index incrementally;
        # MIN/MAX/SUM associativity == batch at any split (law-tested),
        # so the oracle is the batch index with the stream row's
        # column set.
        "stream_zone_map": r"""
            SELECT source, doc_id // 100 AS file_id,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   MIN(n_chars) AS n_chars_min,
                   MAX(n_chars) AS n_chars_max,
                   CAST(COUNT(*) - COUNT(n_chars) AS BIGINT)
                     AS n_chars_nulls,
                   MIN(lang) AS lang_min, MAX(lang) AS lang_max,
                   CAST(COUNT(*) - COUNT(lang) AS BIGINT)
                     AS lang_nulls
            FROM documents GROUP BY source, doc_id // 100
        """,
        # threshold 1 permille mirrors _q_token_heavy_hitters; the
        # operator is exact by construction (MG candidates + exact
        # verify), so the oracle is the plain GROUP BY / HAVING it
        # replaces at scale. Bigram CTEs mirror bigram_novelty's.
        "token_heavy_hitters": r"""
            WITH t AS (
              SELECT lower(regexp_replace(trim(text, ' '),
                                          '\s+', ' ', 'g')) AS nt
              FROM documents),
            ws AS (
              SELECT list_filter(string_split(nt, ' '),
                                 x -> length(x) > 0) AS w
              FROM t),
            b AS (
              SELECT w[i] || ' ' || w[i+1] AS bigram
              FROM ws, UNNEST(range(1, greatest(len(w), 1))) AS r(i)),
            tot AS (SELECT COUNT(*) AS total FROM b)
            SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) * 1000 // (SELECT total FROM tot)
                        AS BIGINT) AS share_permille
            FROM b GROUP BY bigram
            HAVING COUNT(*) * 1000 > (SELECT total FROM tot) * 1
        """,
        # probes mirror _q_exact_quantiles; nearest rank is the shared
        # 1 + (p*(n-1)) div 1000 read-off, 1-based over ORDER BY value.
        "exact_quantiles": r"""
            WITH v AS (SELECT n_chars AS x FROM documents
                       WHERE n_chars IS NOT NULL),
            o AS (SELECT x, row_number() OVER (ORDER BY x) AS rn
                  FROM v),
            t AS (SELECT COUNT(*) AS n FROM v),
            p AS (SELECT unnest([0, 100, 250, 500, 750, 900, 1000])
                         AS p_permille)
            SELECT CAST(p.p_permille AS BIGINT) AS p_permille,
                   CAST(o.x AS BIGINT) AS q_value
            FROM p, t, o
            WHERE o.rn = 1 + (p.p_permille * (t.n - 1)) // 1000
        """,
        # probes mirror _q_exact_quantiles_by_lang; per-group
        # nearest-rank over PARTITION BY lang.
        "exact_quantiles_by_lang": r"""
            WITH v AS (SELECT lang, n_chars AS x FROM documents
                       WHERE lang IS NOT NULL
                         AND n_chars IS NOT NULL),
            o AS (SELECT lang, x,
                         row_number() OVER (PARTITION BY lang
                                            ORDER BY x) AS rn,
                         COUNT(*) OVER (PARTITION BY lang) AS n
                  FROM v),
            p AS (SELECT unnest([250, 500, 750]) AS p_permille)
            SELECT o.lang,
                   CAST(p.p_permille AS BIGINT) AS p_permille,
                   CAST(o.x AS BIGINT) AS q_value
            FROM p, o
            WHERE o.rn = 1 + (p.p_permille * (o.n - 1)) // 1000
        """,
        # the dual: lead(start) over the merged islands; same 6-hour
        # intervals as merge_intervals.
        "interval_gaps": r"""
            WITH iv AS (
              SELECT user_id, epoch_us(ts) AS s,
                     epoch_us(ts) + 21600000000 AS e
              FROM events),
            m AS (
              SELECT user_id, s, e,
                     MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS pme
              FROM iv),
            o AS (
              SELECT *, CASE WHEN pme IS NULL OR s > pme
                             THEN 1 ELSE 0 END AS opens
              FROM m),
            isl0 AS (
              SELECT *, SUM(opens) OVER (PARTITION BY user_id
                          ORDER BY s, e ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) - 1 AS island_idx
              FROM o),
            isl AS (
              SELECT user_id, island_idx, MIN(s) AS start, MAX(e) AS e
              FROM isl0 GROUP BY user_id, island_idx),
            g AS (
              SELECT user_id, island_idx AS gap_idx, e AS gap_start,
                     lead(start) OVER (PARTITION BY user_id
                                       ORDER BY island_idx) AS gap_end
              FROM isl)
            SELECT user_id, CAST(gap_idx AS BIGINT) AS gap_idx,
                   gap_start, gap_end,
                   CAST(gap_end - gap_start AS BIGINT) AS gap_len
            FROM g WHERE gap_end IS NOT NULL
        """,
        # 6-hour half-open intervals mirror _q_merge_intervals; the
        # opener recurrence (prior running-max end + gap 0) is the
        # operator's own algebra re-run in SQL.
        "merge_intervals": r"""
            WITH iv AS (
              SELECT user_id, epoch_us(ts) AS s,
                     epoch_us(ts) + 21600000000 AS e
              FROM events),
            m AS (
              SELECT user_id, s, e,
                     MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS pme
              FROM iv),
            o AS (
              SELECT *, CASE WHEN pme IS NULL OR s > pme
                             THEN 1 ELSE 0 END AS opens
              FROM m),
            isl AS (
              SELECT *, SUM(opens) OVER (PARTITION BY user_id
                          ORDER BY s, e ROWS BETWEEN UNBOUNDED
                          PRECEDING AND CURRENT ROW) - 1 AS island_idx
              FROM o)
            SELECT user_id, CAST(island_idx AS BIGINT) AS island_idx,
                   MIN(s) AS start, MAX(e) AS "end",
                   CAST(COUNT(*) AS BIGINT) AS n_intervals
            FROM isl GROUP BY user_id, island_idx
        """,
        # stream_compaction emits each group when its bin closes +
        # one close flush; emissions == the batch planner at any split
        # (law-tested), so the oracle is compaction_plan's SQL.
        "stream_compaction": r"""
            WITH f AS (
              SELECT source, doc_id // 50 AS file_id,
                     CAST(SUM(length(text)) AS BIGINT) AS size_bytes
              FROM documents GROUP BY source, doc_id // 50),
            small AS (
              SELECT *,
                     (SUM(size_bytes) OVER (PARTITION BY source
                        ORDER BY file_id ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW)
                      - size_bytes) // 3000 AS g
              FROM f WHERE size_bytes < 1000),
            grp AS (
              SELECT *, COUNT(*) OVER (PARTITION BY source, g) AS gn
              FROM small)
            SELECT source, file_id, size_bytes,
                   CASE WHEN gn > 1 THEN CAST(g AS BIGINT)
                        ELSE CAST(-1 AS BIGINT) END AS group_idx,
                   CASE WHEN gn > 1 THEN 'rewrite' ELSE 'keep' END
                     AS action
            FROM grp
            UNION ALL
            SELECT source, file_id, size_bytes,
                   CAST(-1 AS BIGINT) AS group_idx,
                   'keep' AS action
            FROM f WHERE size_bytes >= 1000
        """,
        # target 3000 / min 1000 / file = doc_id div 50 mirror
        # _q_compaction_plan; binning is the shard_plan running-sum
        # algebra over the small-file subset; singleton bins keep.
        "compaction_plan": r"""
            WITH f AS (
              SELECT source, doc_id // 50 AS file_id,
                     CAST(SUM(length(text)) AS BIGINT) AS size_bytes
              FROM documents GROUP BY source, doc_id // 50),
            small AS (
              SELECT *,
                     (SUM(size_bytes) OVER (PARTITION BY source
                        ORDER BY file_id ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW)
                      - size_bytes) // 3000 AS g
              FROM f WHERE size_bytes < 1000),
            grp AS (
              SELECT *, COUNT(*) OVER (PARTITION BY source, g) AS gn
              FROM small)
            SELECT source, file_id, size_bytes,
                   CASE WHEN gn > 1 THEN CAST(g AS BIGINT)
                        ELSE CAST(-1 AS BIGINT) END AS group_idx,
                   CASE WHEN gn > 1 THEN 'rewrite' ELSE 'keep' END
                     AS action
            FROM grp
            UNION ALL
            SELECT source, file_id, size_bytes,
                   CAST(-1 AS BIGINT) AS group_idx,
                   'keep' AS action
            FROM f WHERE size_bytes >= 1000
        """,
        # window_us=600000000 mirrors _q_rolling_user_stats; floor()
        # (not CAST) for the cents so both engines agree on negatives.
        "rolling_user_stats": r"""
            SELECT user_id,
                   epoch_us(ts) AS t_us,
                   CAST(floor(value * 100) AS BIGINT) AS val_cents,
                   event_id,
                   CAST(count(*) OVER w AS BIGINT) AS n_window,
                   CAST(sum(CAST(floor(value * 100) AS BIGINT))
                        OVER w AS BIGINT) AS sum_cents_window
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 600000000 PRECEDING
                         AND CURRENT ROW)
        """,
        # k must mirror _q_bigram_novelty (top-100 bigram head);
        # tie-break (n DESC, bigram ASC) mirrors the Spark TakeOrdered.
        "bigram_novelty": r"""
            WITH t AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            ws AS (
              SELECT doc_id,
                     list_filter(string_split(nt, ' '),
                                 x -> length(x) > 0) AS w
              FROM t),
            b AS (
              SELECT doc_id, w[i] || ' ' || w[i+1] AS bigram
              FROM ws, UNNEST(range(1, greatest(len(w), 1))) AS r(i)),
            c AS (SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram),
            h AS (SELECT bigram FROM c
                  ORDER BY n DESC, bigram ASC LIMIT 100),
            j AS (
              SELECT b.doc_id, b.bigram, h.bigram IS NOT NULL AS hit
              FROM b LEFT JOIN h ON b.bigram = h.bigram)
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(SUM(CASE WHEN NOT hit THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_novel,
                   CAST(COUNT(DISTINCT CASE WHEN NOT hit THEN bigram END)
                     AS BIGINT) AS n_novel_distinct,
                   CAST(SUM(CASE WHEN NOT hit THEN 1 ELSE 0 END) * 1000
                     // COUNT(*) AS BIGINT) AS novelty_permille
            FROM j GROUP BY doc_id
        """,
        # Chunk/step constants must mirror _q_doc_chunks (40, overlap 8
        # → step 32); token algebra mirrors token_counts.
        "doc_chunks": r"""
            WITH t AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            s AS (
              SELECT doc_id, CASE WHEN nt = '' THEN CAST([] AS VARCHAR[])
                                  ELSE string_split(nt, ' ') END AS toks
              FROM t),
            c AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) <= 40 THEN 1
                          ELSE 1 + (len(toks) - 40 + 31) // 32 END AS nc
              FROM s WHERE len(toks) > 0),
            x AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, nc - 1)) AS g
              FROM c)
            SELECT doc_id, CAST(g AS BIGINT) AS chunk_idx,
                   CAST(g * 32 AS BIGINT) AS start_tok,
                   CAST(len(toks[g*32+1 : g*32+40]) AS BIGINT)
                     AS chunk_len,
                   md5(array_to_string(toks[g*32+1 : g*32+40], ' '))
                     AS chunk_md5
            FROM x
        """,
        # Budget/shard constants must mirror _q_pack_chunks (128, 8);
        # chunk constants mirror doc_chunks (40/32).
        "pack_chunks": r"""
            WITH t AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            s AS (
              SELECT doc_id, CASE WHEN nt = '' THEN CAST([] AS VARCHAR[])
                                  ELSE string_split(nt, ' ') END AS toks
              FROM t),
            c AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) <= 40 THEN 1
                          ELSE 1 + (len(toks) - 40 + 31) // 32 END AS nc
              FROM s WHERE len(toks) > 0),
            x AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, nc - 1)) AS g
              FROM c),
            chunks AS (
              SELECT doc_id, CAST(g AS BIGINT) AS chunk_idx,
                     CAST(len(toks[g*32+1 : g*32+40]) AS BIGINT)
                       AS chunk_len
              FROM x),
            p AS (
              SELECT doc_id % 8 AS shard, doc_id, chunk_idx, chunk_len,
                     SUM(chunk_len) OVER (PARTITION BY doc_id % 8
                                          ORDER BY doc_id, chunk_idx
                                          ROWS UNBOUNDED PRECEDING)
                       AS cum
              FROM chunks)
            SELECT CAST(shard AS BIGINT) AS shard, doc_id, chunk_idx,
                   chunk_len,
                   CAST((cum - chunk_len) // 128 AS BIGINT) AS seq_id,
                   CAST((cum - chunk_len) % 128 AS BIGINT) AS offset,
                   ((cum - 1) // 128) != ((cum - chunk_len) // 128)
                     AS straddles
            FROM p
        """,
        "chunk_dedup": r"""
            WITH t AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            s AS (
              SELECT doc_id, CASE WHEN nt = '' THEN CAST([] AS VARCHAR[])
                                  ELSE string_split(nt, ' ') END AS toks
              FROM t),
            c AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) <= 40 THEN 1
                          ELSE 1 + (len(toks) - 40 + 31) // 32 END AS nc
              FROM s WHERE len(toks) > 0),
            x AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, nc - 1)) AS g
              FROM c),
            ch AS (
              SELECT doc_id, CAST(g AS BIGINT) AS chunk_idx,
                     md5(array_to_string(toks[g*32+1 : g*32+40], ' '))
                       AS chunk_md5
              FROM x),
            ranked AS (
              SELECT *,
                     row_number() OVER (PARTITION BY chunk_md5
                                        ORDER BY doc_id, chunk_idx)
                       AS rn,
                     COUNT(*) OVER (PARTITION BY chunk_md5) AS nd
              FROM ch)
            SELECT chunk_md5, doc_id AS keeper_id,
                   chunk_idx AS keeper_chunk_idx,
                   CAST(nd AS BIGINT) AS n_dupes
            FROM ranked WHERE rn = 1
        """,
        # n-gram width must mirror _q_decontaminate (n=8 → slice i:i+7,
        # last start = len-7); benchmark slice doc_id % 17 == 3.
        "decontaminate": r"""
            WITH t AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            s AS (
              SELECT doc_id, CASE WHEN nt = '' THEN CAST([] AS VARCHAR[])
                                  ELSE string_split(nt, ' ') END AS toks
              FROM t),
            g AS (
              SELECT doc_id, array_to_string(toks[i : i+7], ' ') AS ngram
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1,
                               greatest(len(toks) - 7, 0))) AS i
                    FROM s)),
            b AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 17 = 3),
            h AS (SELECT g.doc_id, COUNT(DISTINCT g.ngram) AS hit_ngrams
                  FROM g JOIN b USING (ngram) GROUP BY g.doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(h.hit_ngrams, 0) AS BIGINT) AS hit_ngrams,
                   COALESCE(h.hit_ngrams, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN h USING (doc_id)
        """,
        # stream_decontaminate folds the SAME operator per batch with
        # zero state (row-local verdicts) - identical contract, same SQL.
        "stream_decontaminate": r"""
            WITH t AS (
              SELECT doc_id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            s AS (
              SELECT doc_id, CASE WHEN nt = '' THEN CAST([] AS VARCHAR[])
                                  ELSE string_split(nt, ' ') END AS toks
              FROM t),
            g AS (
              SELECT doc_id, array_to_string(toks[i : i+7], ' ') AS ngram
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1,
                               greatest(len(toks) - 7, 0))) AS i
                    FROM s)),
            b AS (SELECT DISTINCT ngram FROM g WHERE doc_id % 17 = 3),
            h AS (SELECT g.doc_id, COUNT(DISTINCT g.ngram) AS hit_ngrams
                  FROM g JOIN b USING (ngram) GROUP BY g.doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(h.hit_ngrams, 0) AS BIGINT) AS hit_ngrams,
                   COALESCE(h.hit_ngrams, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN h USING (doc_id)
        """,
        "exact_dedup": """
            SELECT md5(lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g'))) AS fp,
                   MIN(doc_id) AS keeper_id, COUNT(*) AS n_dupes
            FROM documents GROUP BY 1
        """,
        # Constants must mirror _q_edit_distance_pairs: shingle n=3,
        # max_df=50, min sim 500‰ over the FULL documents table.
        "edit_distance_pairs": r"""
            WITH norm AS (
              SELECT doc_id AS id,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g'))
                       AS nt
              FROM documents),
            sh AS (
              SELECT id, nt, list_distinct(list_transform(
                       generate_series(1, greatest(length(nt)-2, 1)),
                       i -> substring(nt, i, 3))) AS s
              FROM norm),
            inv AS (SELECT id, unnest(s) AS g FROM sh),
            rare AS (SELECT g FROM inv GROUP BY g HAVING COUNT(*) <= 50),
            binv AS (SELECT inv.id, inv.g FROM inv JOIN rare USING (g)),
            cands AS (
              SELECT DISTINCT a.id AS id_a, b.id AS id_b
              FROM binv a JOIN binv b ON a.g = b.g AND a.id < b.id),
            sc AS (
              SELECT id_a, id_b,
                     CAST(levenshtein(na.nt, nb.nt) AS BIGINT) AS lev,
                     greatest(length(na.nt), length(nb.nt)) AS maxlen
              FROM cands JOIN norm na ON na.id = id_a
                         JOIN norm nb ON nb.id = id_b)
            SELECT id_a, id_b, lev,
                   CAST(CASE WHEN maxlen = 0 THEN 1000
                        ELSE (maxlen - lev) * 1000 // maxlen
                   END AS BIGINT) AS sim_permille
            FROM sc
            WHERE (CASE WHEN maxlen = 0 THEN 1000
                   ELSE (maxlen - lev) * 1000 // maxlen END) >= 500
        """,
        "ngram_jaccard": """
            WITH norm AS (
              SELECT doc_id AS id,
                     lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g')) AS nt
              FROM documents WHERE doc_id < 120),
            sh AS (
              SELECT id, list_distinct(list_transform(
                       generate_series(1, greatest(length(nt)-2, 1)),
                       i -> substring(nt, i, 3))) AS s
              FROM norm),
            inv AS (SELECT id, len(s) AS sz, unnest(s) AS g FROM sh),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                     COUNT(*) AS inter
              FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
              GROUP BY 1,2,3,4)
            SELECT id_a, id_b,
                   round(inter / (sz_a + sz_b - inter), 6) AS jaccard
            FROM pairs WHERE inter / (sz_a + sz_b - inter) >= 0.18
        """,
        "dedup_clusters": """
            WITH RECURSIVE norm AS (
              SELECT doc_id AS id,
                     lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g')) AS nt
              FROM documents WHERE doc_id < 120),
            sh AS (
              SELECT id, list_distinct(list_transform(
                       generate_series(1, greatest(length(nt)-2, 1)),
                       i -> substring(nt, i, 3))) AS s
              FROM norm),
            inv AS (SELECT id, len(s) AS sz, unnest(s) AS g FROM sh),
            cand AS (
              SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                     COUNT(*) AS inter
              FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
              GROUP BY 1,2,3,4),
            pairs AS (
              SELECT id_a, id_b FROM cand
              WHERE inter / (sz_a + sz_b - inter) >= 0.18),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id)
            SELECT id, MIN(r) AS cluster_rep FROM reach GROUP BY id
        """,
        "dedup_keep": """
            WITH RECURSIVE norm AS (
              SELECT doc_id AS id,
                     lower(regexp_replace(trim(text, ' '), '\\s+', ' ', 'g')) AS nt
              FROM documents WHERE doc_id < 120),
            sh AS (
              SELECT id, list_distinct(list_transform(
                       generate_series(1, greatest(length(nt)-2, 1)),
                       i -> substring(nt, i, 3))) AS s
              FROM norm),
            inv AS (SELECT id, len(s) AS sz, unnest(s) AS g FROM sh),
            cand AS (
              SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                     COUNT(*) AS inter
              FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
              GROUP BY 1,2,3,4),
            pairs AS (
              SELECT id_a, id_b FROM cand
              WHERE inter / (sz_a + sz_b - inter) >= 0.5),
            edges AS (
              SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach(id, r) AS (
              SELECT a, a FROM edges
              UNION
              SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id),
            losers AS (
              SELECT id FROM reach GROUP BY id HAVING id != MIN(r))
            SELECT doc_id FROM documents
            WHERE doc_id < 120 AND doc_id NOT IN (SELECT id FROM losers)
        """,
        "embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
                     AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.vec_id < b.vec_id
            WHERE a.vec_id < 300 AND b.vec_id < 300
              AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.3
        """,
        "cosine_topk": """
            WITH v AS (SELECT * FROM embeddings WHERE vec_id < 300),
                 q AS (SELECT * FROM embeddings WHERE vec_id < 12),
            sc AS (
              SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                     round(list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]), 6)
                       AS cosine,
                     row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       list_cosine_similarity(q.embedding::DOUBLE[], v.embedding::DOUBLE[]) DESC,
                       v.vec_id ASC) AS rank
              FROM q, v WHERE q.vec_id != v.vec_id)
            SELECT query_id, neighbor_id, cosine, rank FROM sc WHERE rank <= 5
        """,
        "text_source_csv": """
            SELECT n_nationkey AS nationkey, n_name AS name,
                   n_regionkey AS regionkey
            FROM nation
        """,
        "inline_source": """
            SELECT * FROM (VALUES
              ('Brian', CAST(12 AS BIGINT), 'guitar'),
              ('Carol', 8, 'drums'),
              ('Dana', 15, 'bass'),
              ('Evan', 3, 'keys')) AS t(name, experience, instrument)
        """,
        "token_substitution": """
            SELECT o_orderkey AS orderkey, round(o_totalprice, 4) AS price
            FROM orders WHERE o_orderstatus = 'P'
        """,
        "actions_pipeline": """
            SELECT l_partkey AS partkey, round(SUM(l_quantity), 4) AS qty
            FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 150
        """,
        "drop_empty_rows": """
            SELECT o_orderkey AS orderkey, o_orderstatus AS status
            FROM orders WHERE o_orderkey % 5 <> 0
        """,
        "frame_sample_plan": """
            SELECT CAST(o_orderkey AS VARCHAR) AS media_id,
                   CAST(greatest(floor((o_orderkey % 9000 + 500) / 1000.0), 1)
                        AS INT) AS n_frames
            FROM orders
        """,
        "media_features": """
            SELECT CAST(doc_id AS VARCHAR) AS media_id, 'raw' AS format,
                   octet_length(encode(text)) AS n_bytes
            FROM documents WHERE doc_id < 100
        """,
        "actions_named_barrier": """
            SELECT COUNT(*) AS n_parts, round(SUM(qty), 4) AS total_qty
            FROM (SELECT l_partkey, SUM(l_quantity) AS qty
                  FROM lineitem GROUP BY 1)
        """,
        "automap_nodes": """
            SELECT n_nationkey AS nationkey, n_name, n_regionkey
            FROM nation
        """,
        # document-derived images: pixels are closed-form arithmetic
        # over (doc_id, x, y), so the channel means of the REAL decoded
        # PPM/PGM/BMP bytes are re-derived in pure SQL
        "image_decode_stats": """
            WITH d AS (
              SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h,
                     ['ppm', 'bmp', 'pgm'][doc_id % 3 + 1] AS fmt
              FROM documents WHERE doc_id < 300),
            m AS (
              SELECT doc_id, w, h, fmt,
                list_sum(list_transform(generate_series(0, w - 1),
                         x -> (x * 255) // (w - 1)))
                  / CAST(w AS DOUBLE) AS mr,
                list_sum(list_transform(generate_series(0, h - 1),
                         y -> (y * 255) // (h - 1)))
                  / CAST(h AS DOUBLE) AS mg,
                (w - 1) / 2.0 + (h - 1) / 2.0 AS mb
              FROM d)
            SELECT 'img_' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                     AS media_id,
                   fmt AS format,
                   CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
                   round(mr, 6) AS mean_r,
                   round(CASE WHEN fmt = 'pgm' THEN mr ELSE mg END, 6)
                     AS mean_g,
                   round(CASE WHEN fmt = 'pgm' THEN mr ELSE mb END, 6)
                     AS mean_b
            FROM m
        """,
        "image_resize_stats": """
            WITH d AS (
              SELECT doc_id, 16 + doc_id % 16 AS w, 8 + doc_id % 8 AS h,
                     ['ppm', 'bmp', 'pgm'][doc_id % 3 + 1] AS fmt
              FROM documents WHERE doc_id < 300),
            m AS (
              SELECT doc_id, w, h, fmt,
                list_sum(list_transform(generate_series(0, 7),
                         xo -> (((xo * w) // 8) * 255) // (w - 1)))
                  / 8.0 AS mr,
                list_sum(list_transform(generate_series(0, 3),
                         yo -> (((yo * h) // 4) * 255) // (h - 1)))
                  / 4.0 AS mg,
                list_sum(list_transform(generate_series(0, 7),
                         xo -> (xo * w) // 8)) / 8.0
                + list_sum(list_transform(generate_series(0, 3),
                           yo -> (yo * h) // 4)) / 4.0 AS mb
              FROM d)
            SELECT 'img_' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                     AS media_id,
                   fmt AS format,
                   CAST(8 AS BIGINT) AS width, CAST(4 AS BIGINT) AS height,
                   round(mr, 6) AS mean_r,
                   round(CASE WHEN fmt = 'pgm' THEN mr ELSE mg END, 6)
                     AS mean_g,
                   round(CASE WHEN fmt = 'pgm' THEN mr ELSE mb END, 6)
                     AS mean_b
            FROM m
        """,
        "training_pipeline": rf"""
            WITH t AS (
              SELECT doc_id, text, source,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g')) AS nt
              FROM documents),
            m AS (
              SELECT *, string_split(nt, ' ') AS toks,
                     len(string_split(nt, ' ')) AS n_tok
              FROM t),
            f AS (
              SELECT doc_id, text, source, nt,
                     n_tok < 5 AS f1,
                     (list_sum(list_transform(toks, x -> length(x)))
                      / greatest(n_tok, 1)) AS mean_len,
                     (length(text) - length(regexp_replace(
                        text, '[#@~^*+=|<>]', '', 'g')))
                       / greatest(length(text), 1)::DOUBLE AS sym_ratio,
                     ((length(text) - length(replace(text, '...', ''))) / 3)
                       * 10.0 AS ell10,
                     n_tok,
                     len(list_filter(toks,
                         x -> list_contains({_STOPWORDS_SQL}, x))) AS stops
              FROM m),
            kept AS (
              SELECT doc_id, text, source, md5(nt) AS fp
              FROM f
              WHERE NOT (f1 OR mean_len < 2.0 OR mean_len > 12.0
                         OR sym_ratio > 0.10 OR ell10 > n_tok
                         OR stops = 0)),
            dedup AS (
              SELECT * FROM kept
              WHERE doc_id IN (SELECT MIN(doc_id) FROM kept GROUP BY fp))
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN length(trim(text, ' ')) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text, ' '), '\s+'))
                       END) AS BIGINT) AS ws_tokens,
                   CAST(SUM(len(regexp_extract_all(text,
                       '''s|''t|''re|''ve|''m|''ll|''d| ?\p{{L}}+| ?\p{{N}}+| ?[^\s\p{{L}}\p{{N}}]+')))
                     AS BIGINT) AS bpe_tokens
            FROM dedup GROUP BY source ORDER BY source
        """,
        # v2 adds the round-3 stages to the chain: repetition filter
        # (rep CTEs = the repetition_profile oracle's keep predicate)
        # between quality and dedup, then the deterministic stratified
        # sample after dedup. Same CASTs as v1 (DuckDB HUGEINT sums).
        "training_pipeline_v2": rf"""
            WITH t AS (
              SELECT doc_id, text, source,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g')) AS nt
              FROM documents),
            m AS (
              SELECT *, string_split(nt, ' ') AS toks,
                     len(string_split(nt, ' ')) AS n_tok
              FROM t),
            f AS (
              SELECT doc_id, text, source, nt,
                     n_tok < 5 AS f1,
                     (list_sum(list_transform(toks, x -> length(x)))
                      / greatest(n_tok, 1)) AS mean_len,
                     (length(text) - length(regexp_replace(
                        text, '[#@~^*+=|<>]', '', 'g')))
                       / greatest(length(text), 1)::DOUBLE AS sym_ratio,
                     ((length(text) - length(replace(text, '...', ''))) / 3)
                       * 10.0 AS ell10,
                     n_tok,
                     len(list_filter(toks,
                         x -> list_contains({_STOPWORDS_SQL}, x))) AS stops
              FROM m),
            wc AS (
              SELECT doc_id, word, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(toks) AS word FROM m)
              WHERE length(word) > 0 GROUP BY 1, 2),
            agg AS (
              SELECT doc_id, MAX(c) AS maxc,
                     SUM(c * length(word)) AS tot
              FROM wc GROUP BY 1),
            tw AS (
              SELECT wc.doc_id, MIN(word) AS top_word,
                     ANY_VALUE(agg.maxc) AS maxc,
                     ANY_VALUE(agg.tot) AS tot
              FROM wc JOIN agg ON wc.doc_id = agg.doc_id
                              AND wc.c = agg.maxc
              GROUP BY wc.doc_id),
            gc AS (
              SELECT doc_id, g, COUNT(*) AS c
              FROM (SELECT doc_id,
                           unnest(list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])) AS g
                    FROM m WHERE len(toks) >= 2)
              GROUP BY 1, 2),
            dupg AS (
              SELECT doc_id,
                     SUM(CASE WHEN c >= 2 THEN c * length(g)
                         ELSE 0 END)::DOUBLE
                       / SUM(c * length(g)) AS raw
              FROM gc GROUP BY 1),
            rep_keep AS (
              SELECT tw.doc_id
              FROM tw LEFT JOIN dupg ON tw.doc_id = dupg.doc_id
              WHERE round(maxc * length(top_word) / tot::DOUBLE, 6)
                      <= 0.10
                AND round(coalesce(dupg.raw, 0), 6) <= 0.40),
            kept AS (
              SELECT doc_id, text, source, md5(nt) AS fp
              FROM f
              WHERE NOT (f1 OR mean_len < 2.0 OR mean_len > 12.0
                         OR sym_ratio > 0.10 OR ell10 > n_tok
                         OR stops = 0)
                AND doc_id IN (SELECT doc_id FROM rep_keep)),
            dedup AS (
              SELECT * FROM kept
              WHERE doc_id IN (SELECT MIN(doc_id) FROM kept GROUP BY fp)),
            sampled AS (
              SELECT * FROM dedup WHERE {{SAMPLE_PRED}})
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(CASE WHEN length(trim(text, ' ')) = 0 THEN 0
                       ELSE len(regexp_split_to_array(trim(text, ' '), '\s+'))
                       END) AS BIGINT) AS ws_tokens,
                   CAST(SUM(len(regexp_extract_all(text,
                       '''s|''t|''re|''ve|''m|''ll|''d| ?\p{{L}}+| ?\p{{N}}+| ?[^\s\p{{L}}\p{{N}}]+')))
                     AS BIGINT) AS bpe_tokens
            FROM sampled GROUP BY source ORDER BY source
        """.replace("{SAMPLE_PRED}", _sample_pred),
        # v3 chunk-level chain; constants mirror _q_training_pipeline_v3
        # (quality = gopher keep; decon n=8 vs doc_id%17==3; chunks
        # 40/32; pack 128 over 8 shards).
        "training_pipeline_v3": rf"""
            WITH t AS (
              SELECT doc_id, text,
                     lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g')) AS nt
              FROM documents),
            m AS (
              SELECT *, string_split(nt, ' ') AS toks,
                     len(string_split(nt, ' ')) AS n_tok
              FROM t),
            f AS (
              SELECT doc_id, nt, toks,
                     n_tok < 5 AS f1,
                     (list_sum(list_transform(toks, x -> length(x)))
                      / greatest(n_tok, 1)) AS mean_len,
                     (length(text) - length(regexp_replace(
                        text, '[#@~^*+=|<>]', '', 'g')))
                       / greatest(length(text), 1)::DOUBLE AS sym_ratio,
                     ((length(text) - length(replace(text, '...', ''))) / 3)
                       * 10.0 AS ell10,
                     n_tok,
                     len(list_filter(toks,
                         x -> list_contains({_STOPWORDS_SQL}, x))) AS stops
              FROM m),
            q AS (
              SELECT doc_id, nt, toks FROM f
              WHERE NOT (f1 OR mean_len < 2.0 OR mean_len > 12.0
                         OR sym_ratio > 0.10 OR ell10 > n_tok
                         OR stops = 0)),
            bg AS (
              SELECT DISTINCT array_to_string(toks[i : i+7], ' ') AS ngram
              FROM (SELECT toks,
                           unnest(generate_series(1,
                               greatest(len(toks) - 7, 0))) AS i
                    FROM m WHERE doc_id % 17 = 3)),
            qg AS (
              SELECT doc_id, array_to_string(toks[i : i+7], ' ') AS ngram
              FROM (SELECT doc_id, toks,
                           unnest(generate_series(1,
                               greatest(len(toks) - 7, 0))) AS i
                    FROM q)),
            dirty AS (
              SELECT DISTINCT qg.doc_id FROM qg JOIN bg USING (ngram)),
            clean AS (
              SELECT q.* FROM q ANTI JOIN dirty USING (doc_id)),
            cc AS (
              SELECT doc_id, toks,
                     CASE WHEN len(toks) <= 40 THEN 1
                          ELSE 1 + (len(toks) - 40 + 31) // 32 END AS nc
              FROM clean WHERE len(toks) > 0),
            x AS (
              SELECT doc_id, toks,
                     unnest(generate_series(0, nc - 1)) AS g
              FROM cc),
            ch AS (
              SELECT doc_id, CAST(g AS BIGINT) AS chunk_idx,
                     CAST(len(toks[g*32+1 : g*32+40]) AS BIGINT)
                       AS chunk_len,
                     md5(array_to_string(toks[g*32+1 : g*32+40], ' '))
                       AS chunk_md5
              FROM x),
            ranked AS (
              SELECT *, row_number() OVER (PARTITION BY chunk_md5
                                           ORDER BY doc_id, chunk_idx)
                          AS rn
              FROM ch),
            kept AS (SELECT doc_id, chunk_idx, chunk_len
                     FROM ranked WHERE rn = 1),
            p AS (
              SELECT doc_id % 8 AS shard, chunk_len,
                     SUM(chunk_len) OVER (PARTITION BY doc_id % 8
                                          ORDER BY doc_id, chunk_idx
                                          ROWS UNBOUNDED PRECEDING)
                       AS cum
              FROM kept)
            SELECT CAST(shard AS BIGINT) AS shard,
                   CAST(COUNT(*) AS BIGINT) AS n_chunks,
                   CAST(SUM(chunk_len) AS BIGINT) AS total_tokens,
                   CAST(MAX((cum - chunk_len) // 128) + 1 AS BIGINT)
                     AS n_sequences,
                   CAST(SUM(CASE WHEN ((cum - 1) // 128)
                                      != ((cum - chunk_len) // 128)
                            THEN 1 ELSE 0 END) AS BIGINT) AS straddled
            FROM p GROUP BY shard ORDER BY shard
        """,
        # winnowing: the whole algebra (k=5-gram polynomial rolling hash
        # mod 2^64 folded to 61 bits, window w=4 min, robust positional
        # dedup) re-derived in SQL over HUGEINT — no pinned constants
        "winnow_fingerprints": _WINNOW_SQL + """
            SELECT doc_id, unnest(fps) AS fingerprint FROM winnowed
        """,
        "winnow_overlap": _WINNOW_SQL + """
            , fp AS (
              SELECT DISTINCT doc_id AS id, unnest(fps) AS fp
              FROM winnowed)
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS shared_fp
            FROM fp a JOIN fp b ON a.fp = b.fp AND a.id < b.id
            GROUP BY 1, 2 HAVING COUNT(*) >= 50
        """,
        "video_frame_stats": """
            WITH d AS (
              SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
                     4 + doc_id % 5 AS nf
              FROM documents WHERE doc_id < 300),
            fr AS (
              SELECT doc_id, w, h,
                     unnest(generate_series(0, nf - 1)) AS k
              FROM d)
            SELECT 'vid_' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                     AS media_id,
                   CAST(k AS BIGINT) AS frame_idx,
                   round((w - 1) / 2.0 + k * (h - 1) / 2.0, 6) AS mean_v,
                   round(CASE WHEN k = 0 THEN 0.0
                              ELSE 2 * (h - 1) / 2.0 END, 6) AS motion
            FROM fr WHERE k % 2 = 0
        """,
        # CEP automaton (non-overlapping, first-match-restart, span ≤
        # within) as a recursive CTE stepping every user one event per
        # iteration — a fully independent SQL recomputation of the
        # CEP negation: every trigger is decidable (flush rows push the
        # watermark past all deadlines), so absence = a NOT-EXISTS
        # anti-join over the same events view. 6 h = 21_600_000_000 us.
        "cep_absence_detect": """
            WITH ev AS (
              SELECT user_id, event_type AS ev, epoch_us(ts) AS ts
              FROM events)
            SELECT t.user_id,
                   t.ts AS trigger_us,
                   t.ts + 21600000000 AS deadline_us
            FROM ev t
            WHERE t.ev = 'click'
              AND NOT EXISTS (
                SELECT 1 FROM ev w
                WHERE w.user_id = t.user_id AND w.ev = 'purchase'
                  AND w.ts > t.ts AND w.ts <= t.ts + 21600000000)
        """,
        # applyInPandasWithState streaming op
        # Cooldown must mirror _q_debounce (30 min = 1.8e9 us). The
        # sequential emission recurrence walks each user's time-ordered
        # events via a recursive CTE.
        "sessionize": """
            WITH e AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                     lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS prev_us
              FROM events),
            f AS (
              SELECT *, CASE WHEN prev_us IS NULL
                               OR ts_us - prev_us > 1800000000
                             THEN 1 ELSE 0 END AS new_sess
              FROM e)
            SELECT user_id, ts_us, event_id,
                   CAST(SUM(new_sess) OVER (
                     PARTITION BY user_id
                     ORDER BY ts_us, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
            FROM f
        """,
        "cusum_changepoint": """
            WITH RECURSIVE h AS (
              SELECT event_type,
                     epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS w_us,
                     CAST(COUNT(*) AS BIGINT) AS x,
                     row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY time_bucket(INTERVAL 1 HOUR, ts)) AS rn
              FROM events
              GROUP BY event_type, time_bucket(INTERVAL 1 HOUR, ts)),
            walk AS (
              SELECT event_type, rn, w_us,
                     greatest(0, x - 3) AS s_pre,
                     CASE WHEN greatest(0, x - 3) >= 8 THEN 0
                          ELSE greatest(0, x - 3) END AS s,
                     greatest(0, x - 3) >= 8 AS alarm
              FROM h WHERE rn = 1
              UNION ALL
              SELECT h.event_type, h.rn, h.w_us,
                     greatest(0, w.s + h.x - 3),
                     CASE WHEN greatest(0, w.s + h.x - 3) >= 8 THEN 0
                          ELSE greatest(0, w.s + h.x - 3) END,
                     greatest(0, w.s + h.x - 3) >= 8
              FROM walk w
              JOIN h ON h.event_type = w.event_type AND h.rn = w.rn + 1)
            SELECT event_type, w_us AS ts_us,
                   CAST(s_pre AS BIGINT) AS s_q
            FROM walk WHERE alarm
        """,
        "debounce": """
            WITH RECURSIVE o AS (
              SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts), event_id)
                       AS rn
              FROM events),
            walk AS (
              SELECT user_id, rn, ts_us, event_id,
                     TRUE AS emitted, ts_us AS last_emit
              FROM o WHERE rn = 1
              UNION ALL
              SELECT o.user_id, o.rn, o.ts_us, o.event_id,
                     o.ts_us >= w.last_emit + 1800000000 AS emitted,
                     CASE WHEN o.ts_us >= w.last_emit + 1800000000
                          THEN o.ts_us ELSE w.last_emit END
              FROM walk w
              JOIN o ON o.user_id = w.user_id AND o.rn = w.rn + 1)
            SELECT user_id, ts_us, event_id
            FROM walk WHERE emitted
        """,
        "cep_sequence_detect": """
            WITH RECURSIVE ev AS (
              SELECT user_id, event_type AS ev, epoch_us(ts) AS ts,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_type) AS rn
              FROM events),
            step(user_id, rn, stage, mstart, emit_start, emit_end) AS (
              SELECT user_id, 0, 0, CAST(-1 AS BIGINT),
                     CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
              FROM (SELECT DISTINCT user_id FROM ev)
              UNION ALL
              SELECT e.user_id, e.rn,
                CASE
                  WHEN e.ev = (CASE s2.stage WHEN 0 THEN 'view'
                               WHEN 1 THEN 'click'
                               WHEN 2 THEN 'purchase' END)
                    THEN CASE WHEN s2.stage = 2 THEN 0
                              ELSE s2.stage + 1 END
                  WHEN s2.stage > 0 AND e.ev = 'view' THEN 1
                  ELSE s2.stage END,
                CASE
                  WHEN e.ev = (CASE s2.stage WHEN 0 THEN 'view'
                               WHEN 1 THEN 'click'
                               WHEN 2 THEN 'purchase' END)
                    THEN CASE WHEN s2.stage = 2 THEN -1
                              WHEN s2.stage = 0 THEN e.ts
                              ELSE s2.mstart END
                  WHEN s2.stage > 0 AND e.ev = 'view' THEN e.ts
                  ELSE s2.mstart END,
                CASE WHEN s2.stage = 2 AND e.ev = 'purchase'
                     THEN s2.mstart END,
                CASE WHEN s2.stage = 2 AND e.ev = 'purchase'
                     THEN e.ts END
              FROM step s
              JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1
              CROSS JOIN LATERAL (SELECT
                  CASE WHEN s.stage > 0 AND s.mstart >= 0
                            AND e.ts - s.mstart > 43200000000
                       THEN 0 ELSE s.stage END AS stage,
                  CASE WHEN s.stage > 0 AND s.mstart >= 0
                            AND e.ts - s.mstart > 43200000000
                       THEN CAST(-1 AS BIGINT) ELSE s.mstart END AS mstart
                ) s2
            )
            SELECT user_id, emit_start AS match_start,
                   emit_end AS match_end, CAST(3 AS BIGINT) AS n_events
            FROM step WHERE emit_start IS NOT NULL
        """,
    }

    # document-derived streaming jobs: pure SQL over `documents`
    # (arithmetic clip columns + normalization + rev2 LWW resolution)
    _doc_clip_cols = """
          'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS clip_id,
          CAST([8000, 16000, 44100][doc_id % 3 + 1] AS BIGINT) AS sr_hz,
          CAST(100 + (doc_id % 7) * 50 AS BIGINT) AS dur_ms,
          ['pcm_s16le', 'pcm_f32le', 'ulaw'][doc_id % 3 + 1] AS codec,
          CAST([8000, 16000, 44100][doc_id % 3 + 1]
               * (100 + (doc_id % 7) * 50) / 1000 AS BIGINT) AS n_samples
    """
    win_norm = _norm_transcript_sql(
        "CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END")
    base_norm = _norm_transcript_sql("text")
    out["streaming_clip_graph"] = f"""
        SELECT {_doc_clip_cols},
               {win_norm} AS transcript_norm
        FROM documents WHERE doc_id < 200
    """
    out["spec_stream_graph"] = f"""
        SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS clip_id,
               ['pcm_s16le', 'pcm_f32le', 'ulaw'][doc_id % 3 + 1] AS codec,
               CAST([8000, 16000, 44100][doc_id % 3 + 1]
                    * (100 + (doc_id % 7) * 50) / 1000 AS BIGINT)
                 AS n_samples,
               {win_norm} AS transcript_norm
        FROM documents WHERE doc_id < 200
    """
    out["stream_stream_join"] = f"""
        SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS clip_id,
               ['pcm_s16le', 'pcm_f32le', 'ulaw'][doc_id % 3 + 1] AS codec,
               CAST([8000, 16000, 44100][doc_id % 3 + 1]
                    * (100 + (doc_id % 7) * 50) / 1000 AS BIGINT)
                 AS n_samples,
               {base_norm} AS transcript_norm
        FROM documents WHERE doc_id < 200
    """
    # doc_id % 3 != 0 gate must mirror _q_stream_stream_left_join's
    # transcript-side generator; unmatched clips carry NULL transcript
    # and matched = 0 (the null-padded outer emission).
    out["stream_stream_left_join"] = """
        SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS clip_id,
               CAST(n_chars AS BIGINT) AS n_chars,
               CASE WHEN doc_id % 3 <> 0 THEN text END AS transcript,
               CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END
                 AS BIGINT) AS matched
        FROM documents WHERE doc_id < 200
    """
    # First-arrival-wins: the rev2 revisions replay later, so the kept
    # row per clip_id is exactly the base document row.
    out["stream_dedup_within_wm"] = """
        SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS clip_id,
               text AS transcript,
               CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
    """

    try:
        const = _constants()
    except OSError:
        # constants file missing (e.g. partial checkout): the affected
        # queries degrade to rows-only checks instead of breaking the
        # whole oracle board. Regenerate with
        # scripts/gen_oracle_constants.py.
        return out

    # simhash signatures: pinned from the pure-Python XXH64 twin
    sim_vals = _values_table(const["simhash"], ["id", "simhash"])
    out["simhash"] = f"""
        SELECT CAST(id AS BIGINT) AS id, CAST(simhash AS BIGINT) AS simhash
        FROM {sim_vals} WHERE id < 200
    """
    # simhash near-dup pairs: twin signatures + brute-force SQL pairing
    out["simhash_pairs"] = f"""
        WITH sims AS (
          SELECT CAST(id AS BIGINT) AS id,
                 CAST(simhash AS BIGINT) AS simhash
          FROM {sim_vals} WHERE id < 500)
        SELECT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT)
                 AS hamming
        FROM sims a JOIN sims b ON a.id < b.id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """
    # minhash LSH: twin band-bucket candidates + exact Jaccard in SQL
    mh_cand = _values_table(const["minhash_candidates"], ["id_a", "id_b"])
    out["minhash_lsh"] = rf"""
        WITH cand AS (
          SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b
          FROM {mh_cand}),
        norm AS (
          SELECT doc_id AS id,
                 lower(regexp_replace(trim(text, ' '), '\s+', ' ', 'g')) AS nt
          FROM documents WHERE doc_id < 120),
        sh AS (
          SELECT id, list_distinct(list_transform(
                   generate_series(1, greatest(length(nt)-2, 1)),
                   i -> substring(nt, i, 3))) AS s
          FROM norm),
        inv AS (SELECT id, len(s) AS sz, unnest(s) AS g FROM sh),
        pairs AS (
          SELECT a.id AS id_a, b.id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
                 COUNT(*) AS inter
          FROM inv a JOIN inv b ON a.g = b.g AND a.id < b.id
          GROUP BY 1,2,3,4),
        jac AS (
          SELECT id_a, id_b,
                 round(inter / (sz_a + sz_b - inter), 6) AS jaccard
          FROM pairs WHERE inter / (sz_a + sz_b - inter) >= 0.18)
        SELECT j.id_a, j.id_b, j.jaccard
        FROM jac j JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
    """
    # embedding near-dup LSH: twin bucket candidates + exact SQL cosine
    nd_cand = _values_table(const["neardup_lsh_candidates"],
                            ["id_a", "id_b"])
    out["embedding_neardup_lsh"] = f"""
        WITH cand AS (
          SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b
          FROM {nd_cand})
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6)
                 AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.id_a
        JOIN embeddings b ON b.vec_id = c.id_b
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) >= 0.3
    """
    # LSH ANN top-k: twin candidates + exact SQL cosine re-rank
    ann_cand = _values_table(const["lsh_ann_candidates"],
                             ["query_id", "neighbor_id"])
    out["lsh_ann_topk"] = f"""
        WITH cand AS (
          SELECT CAST(query_id AS BIGINT) AS query_id,
                 CAST(neighbor_id AS BIGINT) AS neighbor_id
          FROM {ann_cand}),
        sc AS (
          SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.embedding::DOUBLE[],
                                              v.embedding::DOUBLE[]), 6)
                   AS cosine
          FROM cand c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings v ON v.vec_id = c.neighbor_id),
        rk AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM sc)
        SELECT query_id, neighbor_id, cosine, rank FROM rk WHERE rank <= 5
    """
    # audio stats: single-process numpy-twin aggregates
    out["audio_decode_stats"] = f"""
        SELECT codec, CAST(n AS BIGINT) AS n,
               CAST(avg_rms AS DOUBLE) AS avg_rms,
               CAST(avg_zcr AS DOUBLE) AS avg_zcr
        FROM {_values_table(const["audio_decode_stats"],
                            ["codec", "n", "avg_rms", "avg_zcr"])}
        ORDER BY codec
    """
    out["audio_vad_stats"] = f"""
        SELECT codec, CAST(n AS BIGINT) AS n,
               CAST(total_frames AS BIGINT) AS total_frames,
               CAST(total_voiced AS BIGINT) AS total_voiced,
               CAST(total_segments AS BIGINT) AS total_segments
        FROM {_values_table(const["audio_vad_stats"],
                            ["codec", "n", "total_frames",
                             "total_voiced", "total_segments"])}
        ORDER BY codec
    """
    out["audio_resample_stats"] = f"""
        SELECT CAST(sr_hz AS BIGINT) AS sr_hz, CAST(n AS BIGINT) AS n,
               CAST(total_out_samples AS BIGINT) AS total_out_samples,
               CAST(avg_rms AS DOUBLE) AS avg_rms
        FROM {_values_table(const["audio_resample_stats"],
                            ["sr_hz", "n", "total_out_samples", "avg_rms"])}
        ORDER BY sr_hz
    """
    if "audio_spectral_stats" in const:
        out["audio_spectral_stats"] = f"""
            SELECT codec, CAST(n AS BIGINT) AS n,
                   CAST(avg_centroid AS DOUBLE) AS avg_centroid,
                   CAST(avg_bandwidth AS DOUBLE) AS avg_bandwidth,
                   CAST(avg_rolloff AS DOUBLE) AS avg_rolloff,
                   CAST(avg_flatness AS DOUBLE) AS avg_flatness
            FROM {_values_table(const["audio_spectral_stats"],
                                ["codec", "n", "avg_centroid",
                                 "avg_bandwidth", "avg_rolloff",
                                 "avg_flatness"])}
            ORDER BY codec
        """
    if "speed_perturb" in const:
        out["speed_perturb"] = f"""
            SELECT CAST(factor_x100 AS BIGINT) AS factor_x100, codec,
                   CAST(n AS BIGINT) AS n,
                   CAST(total_out_samples AS BIGINT)
                     AS total_out_samples,
                   CAST(avg_rms AS DOUBLE) AS avg_rms
            FROM {_values_table(const["speed_perturb"],
                                ["factor_x100", "codec", "n",
                                 "total_out_samples", "avg_rms"])}
            ORDER BY factor_x100, codec
        """
    if "noise_mix" in const:
        out["noise_mix"] = f"""
            SELECT CAST(snr_db AS BIGINT) AS snr_db, codec,
                   CAST(n AS BIGINT) AS n,
                   CAST(total_samples AS BIGINT) AS total_samples,
                   CAST(avg_rms_mixed AS DOUBLE) AS avg_rms_mixed
            FROM {_values_table(const["noise_mix"],
                                ["snr_db", "codec", "n",
                                 "total_samples", "avg_rms_mixed"])}
            ORDER BY snr_db, codec
        """
    if "reverb_aug" in const:
        out["reverb_aug"] = f"""
            SELECT CAST(rt60_ms AS BIGINT) AS rt60_ms, codec,
                   CAST(n AS BIGINT) AS n,
                   CAST(total_samples AS BIGINT) AS total_samples,
                   CAST(avg_rms_out AS DOUBLE) AS avg_rms_out
            FROM {_values_table(const["reverb_aug"],
                                ["rt60_ms", "codec", "n",
                                 "total_samples", "avg_rms_out"])}
            ORDER BY rt60_ms, codec
        """
    # Speaking-rate gate: per-clip word/char counts pinned from the
    # fixture twin; rates (integer //), flags, and the rollup are
    # genuine SQL — mirrors the audio_health pinning split.
    if "speaking_rate" in const:
        sr_t = _values_table(const["speaking_rate"],
                             ["clip_id", "codec", "dur_ms",
                              "n_words", "n_chars"])
        out["speaking_rate"] = f"""
            WITH g AS (
              SELECT codec, n_words,
                     n_words * 600000 // dur_ms AS wpm_x10,
                     n_chars * 10000 // dur_ms AS cps_x10
              FROM {sr_t}),
            f AS (
              SELECT codec, n_words, wpm_x10, cps_x10,
                     CASE WHEN wpm_x10 < 1500 THEN 'slow'
                          WHEN wpm_x10 > 9000 THEN 'fast'
                          ELSE 'ok' END AS rate_flag
              FROM g)
            SELECT codec, rate_flag, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(n_words) AS BIGINT) AS total_words,
                   CAST(SUM(wpm_x10) AS BIGINT) AS sum_wpm_x10,
                   CAST(SUM(cps_x10) AS BIGINT) AS sum_cps_x10
            FROM f GROUP BY codec, rate_flag
            ORDER BY codec, rate_flag
        """
    # Audio health: per-clip waveform counters pinned (numpy twin);
    # defect flags + per-codec rollup genuine SQL. Thresholds must
    # mirror functions/audio.with_audio_health defaults: clipping at
    # 1 per-mille of samples, dropout run ≥ 20 ms, |DC| > 0.01 (1e7 in
    # 1e-9 units).
    if "audio_health" in const:
        ah = _values_table(const["audio_health"],
                           ["clip_id", "codec", "sr_hz", "n_samples",
                            "clipped", "quiet", "max_quiet_run", "dc_q"])
        out["audio_health"] = f"""
            WITH h AS (
              SELECT codec, CAST(sr_hz AS BIGINT) AS sr_hz,
                     CAST(n_samples AS BIGINT) AS n_samples,
                     CAST(clipped AS BIGINT) AS clipped,
                     CAST(max_quiet_run AS BIGINT) AS max_quiet_run,
                     CAST(dc_q AS BIGINT) AS dc_q
              FROM {ah}),
            f AS (
              SELECT codec, clipped, max_quiet_run,
                     (clipped * 1000 > n_samples) AS clipping,
                     (max_quiet_run * 1000 >= sr_hz * 20) AS dropout,
                     (abs(dc_q) > 10000000) AS dc_bias
              FROM h)
            SELECT codec, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN clipping THEN 1 ELSE 0 END)
                        AS BIGINT) AS clips_clipping,
                   CAST(SUM(CASE WHEN dropout THEN 1 ELSE 0 END)
                        AS BIGINT) AS clips_dropout,
                   CAST(SUM(CASE WHEN dc_bias THEN 1 ELSE 0 END)
                        AS BIGINT) AS clips_dc_bias,
                   CAST(SUM(CASE WHEN NOT clipping AND NOT dropout
                                  AND NOT dc_bias
                            THEN 1 ELSE 0 END) AS BIGINT)
                     AS clips_healthy,
                   CAST(SUM(clipped) AS BIGINT) AS total_clipped,
                   CAST(MAX(max_quiet_run) AS BIGINT) AS max_quiet_run
            FROM f GROUP BY codec ORDER BY codec
        """
    # Loudness: per-clip int64 gain counters twin-pinned; per-codec
    # rollup genuine SQL (exact integer SUM/MAX, no float rounding).
    if "audio_loudness" in const:
        al = _values_table(const["audio_loudness"],
                           ["clip_id", "codec", "rms_q", "gain_mdb",
                            "post_clipped", "post_peak_q"])
        out["audio_loudness"] = f"""
            SELECT codec, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(rms_q) AS BIGINT) AS sum_rms_q,
                   CAST(SUM(gain_mdb) AS BIGINT) AS sum_gain_mdb,
                   CAST(SUM(post_clipped) AS BIGINT)
                     AS total_post_clipped,
                   CAST(MAX(post_peak_q) AS BIGINT) AS max_post_peak_q
            FROM {al} GROUP BY codec ORDER BY codec
        """
    # Log-mel: per-clip int64 band vectors twin-pinned; per-codec band
    # rollup genuine SQL (exact integer SUMs).
    if "audio_mel" in const:
        am = _values_table(const["audio_mel"],
                           ["clip_id", "codec"]
                           + [f"m{i}" for i in range(8)])
        sums = ", ".join(f"CAST(SUM(m{i}) AS BIGINT) AS sum_m{i}"
                         for i in range(8))
        out["audio_mel_stats"] = f"""
            SELECT codec, CAST(COUNT(*) AS BIGINT) AS n, {sums}
            FROM {am} GROUP BY codec ORDER BY codec
        """
    # Streaming feature pipeline: per-clip loudness+mel pins joined
    # (duplicate fixture rows carry identical payloads → DISTINCT).
    if "audio_loudness" in const and "audio_mel" in const:
        al2 = _values_table(const["audio_loudness"],
                            ["clip_id", "codec", "rms_q", "gain_mdb",
                             "post_clipped", "post_peak_q"])
        am2 = _values_table(const["audio_mel"],
                            ["clip_id", "codec"]
                            + [f"m{i}" for i in range(8)])
        mel_cols = ", ".join(f"CAST(m.m{i} AS BIGINT) AS mel_{i}"
                             for i in range(8))
        out["streaming_features"] = f"""
            SELECT DISTINCT l.clip_id,
                   CAST(l.gain_mdb AS BIGINT) AS gain_mdb,
                   CAST(l.post_clipped AS BIGINT) AS post_clipped,
                   {mel_cols}
            FROM (SELECT * FROM {al2}) l
            JOIN (SELECT * FROM {am2}) m ON l.clip_id = m.clip_id
        """
    # MFCC: per-clip int64 coefficient vectors twin-pinned; rollup SQL.
    if "audio_mfcc" in const:
        amf = _values_table(const["audio_mfcc"],
                            ["clip_id", "codec"]
                            + [f"c{i}" for i in range(5)])
        csums = ", ".join(f"CAST(SUM(c{i}) AS BIGINT) AS sum_c{i}"
                          for i in range(5))
        out["audio_mfcc_stats"] = f"""
            SELECT codec, CAST(COUNT(*) AS BIGINT) AS n, {csums}
            FROM {amf} GROUP BY codec ORDER BY codec
        """
    # Pitch/ZCR: per-clip int64 prosody features twin-pinned; rollup SQL.
    if "audio_pitch" in const:
        ap = _values_table(const["audio_pitch"],
                           ["clip_id", "codec", "zcr_n", "pitch_lag",
                            "pitch_mhz", "conf_ppm"])
        out["audio_pitch_stats"] = f"""
            SELECT codec, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(zcr_n) AS BIGINT) AS sum_zcr,
                   CAST(SUM(pitch_lag) AS BIGINT) AS sum_lag,
                   CAST(SUM(pitch_mhz) AS BIGINT) AS sum_pitch_mhz,
                   CAST(SUM(conf_ppm) AS BIGINT) AS sum_conf_ppm
            FROM {ap} GROUP BY codec ORDER BY codec
        """
    # WAV ingest: fixture facts fully derivable without Spark
    # (testing/wavio.py writer/parser twin) — pinned VALUES, the
    # SELECT/ORDER genuine SQL; the poison file carries NULL fields.
    if "wav_ingest" in const:
        wv = _values_table(const["wav_ingest"],
                           ["clip_id", "ok", "sr_hz", "n_channels",
                            "n_frames", "dur_ms", "sum_abs"])
        out["wav_ingest"] = f"""
            SELECT clip_id, ok, CAST(sr_hz AS INTEGER) AS sr_hz,
                   CAST(n_channels AS INTEGER) AS n_channels,
                   CAST(n_frames AS BIGINT) AS n_frames,
                   CAST(dur_ms AS INTEGER) AS dur_ms,
                   CAST(sum_abs AS BIGINT) AS sum_abs
            FROM {wv} ORDER BY clip_id
        """
    # Clip conformance: the twin re-derives every per-clip verdict
    # (status algebra independently re-implemented; decode/snr kernels
    # shared) from the SAME fixture builder — pinned VALUES, the
    # SELECT/ordering genuine SQL.
    if "clip_conformance" in const:
        cf = _values_table(const["clip_conformance"],
                           ["clip_id", "status", "n_left", "n_right",
                            "snr_mdb", "transcript_equal"])
        out["clip_conformance"] = f"""
            SELECT clip_id, status,
                   COALESCE(CAST(n_left AS BIGINT), -1) AS n_left,
                   COALESCE(CAST(n_right AS BIGINT), -1) AS n_right,
                   COALESCE(CAST(snr_mdb AS BIGINT), -1) AS snr_mdb,
                   CAST(transcript_equal AS BOOLEAN) AS transcript_equal
            FROM {cf} ORDER BY clip_id
        """
    # Transcode fidelity: per-clip decode-vs-reference integers pinned
    # (lossy alaw/adpcm_ima fixture); rollup + SNR gate genuine SQL.
    if "audio_transcode" in const:
        at = _values_table(const["audio_transcode"],
                           ["clip_id", "codec", "n_samples",
                            "sum_abs_q", "snr_mdb"])
        out["audio_transcode"] = f"""
            SELECT codec, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(n_samples) AS BIGINT) AS sum_samples,
                   CAST(SUM(sum_abs_q) AS BIGINT) AS sum_abs_q,
                   CAST(MIN(snr_mdb) AS BIGINT) AS min_snr_mdb,
                   CAST(SUM(CASE WHEN snr_mdb >= 30000 THEN 1 ELSE 0
                            END) AS BIGINT) AS clips_snr30_ok
            FROM {at} GROUP BY codec ORDER BY codec
        """
    # Compression ratio: per-doc zlib sizes pinned (identical-Python
    # twin); ratio/flag arithmetic genuine SQL. Threshold must mirror
    # _q_compression_ratio (300 per-mille).
    if "compression" in const:
        cz = _values_table(const["compression"],
                           ["doc_id", "raw_len", "comp_len"])
        out["compression_ratio"] = f"""
            WITH c AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     CAST(raw_len AS BIGINT) AS raw_len,
                     CAST(comp_len AS BIGINT) AS comp_len
              FROM {cz}),
            r AS (
              SELECT *, CASE WHEN raw_len = 0 THEN 1000
                             ELSE comp_len * 1000 // raw_len
                        END AS ratio_permille
              FROM c)
            SELECT doc_id, raw_len, comp_len,
                   CAST(ratio_permille AS BIGINT) AS ratio_permille,
                   ratio_permille < 300 AS repetitive
            FROM r
        """
    # Join transform inside the job spec (reference roadmap item):
    # the oracle is the equivalent plain SQL join+group.
    out["jobspec_join_transform"] = """
        SELECT c.c_nationkey AS nationkey,
               c.c_mktsegment AS mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               round(SUM(o.o_totalprice), 2) AS revenue
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_mktsegment
    """
    # Triangle counting: the same degree-ordered orientation algebra.
    out["triangle_count"] = """
        WITH e0 AS (
          SELECT o_custkey % 150 AS a, o_orderkey % 150 AS b
          FROM orders),
        und AS (
          SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
          FROM e0 WHERE a <> b),
        nodes AS (SELECT a AS node FROM und UNION SELECT b FROM und),
        deg AS (
          SELECT node, COUNT(*) AS deg FROM (
            SELECT a AS node FROM und
            UNION ALL SELECT b FROM und) GROUP BY node),
        dk AS (SELECT node, deg * 4294967296 + node AS k FROM deg),
        o AS (
          SELECT CASE WHEN da.k < db.k THEN und.a ELSE und.b END AS u,
                 CASE WHEN da.k < db.k THEN und.b ELSE und.a END AS v,
                 greatest(da.k, db.k) AS kv
          FROM und
          JOIN dk da ON da.node = und.a
          JOIN dk db ON db.node = und.b),
        ww AS (
          SELECT o1.u, o1.v, o2.v AS w
          FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.kv < o2.kv),
        tri AS (
          SELECT ww.u, ww.v, ww.w FROM ww
          JOIN o ON o.u = ww.v AND o.v = ww.w),
        corners AS (
          SELECT u AS node FROM tri
          UNION ALL SELECT v FROM tri
          UNION ALL SELECT w FROM tri),
        cnt AS (SELECT node, COUNT(*) AS n FROM corners GROUP BY node)
        SELECT CAST(n.node AS BIGINT) AS node,
               CAST(COALESCE(c.n, 0) AS BIGINT) AS n_triangles
        FROM nodes n LEFT JOIN cnt c ON c.node = n.node
    """
    # Bloom prejoin: no false negatives → pruned ⨝ dim ≡ plain join.
    out["bloom_prejoin"] = """
        SELECT o.o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus
    """
    # Union transform: shards re-assembled = the whole table.
    out["jobspec_union_transform"] = """
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               round(SUM(o_totalprice), 2) AS revenue
        FROM orders GROUP BY o_orderstatus
    """
    # PageRank: the identical integer recurrence unrolled as 10
    # chained CTEs (generated) — bit-exact with the Spark loop.
    from dataflow_flex_templates_spark.operators.graphalgo import (
        pagerank_unrolled_sql,
    )
    out["pagerank"] = pagerank_unrolled_sql(
        "edges", iterations=10,
        edges_sql="SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src, "
                  "CAST(l_partkey + 1000000 AS BIGINT) AS dst "
                  "FROM lineitem")
    # Weighted shortest paths: the Bellman-Ford recurrence unrolled as
    # 4 chained CTEs (generated) — integer MIN/+ are exactly
    # associative, so bit-equal with the frontier-optimized Spark loop.
    from dataflow_flex_templates_spark.operators.graphalgo import (
        shortest_paths_unrolled_sql,
    )
    out["shortest_paths"] = shortest_paths_unrolled_sql(
        "wund", "srcs", max_hops=4,
        edges_sql="WITH de AS ("
                  " SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,"
                  " CAST(l_partkey + 1000000 AS BIGINT) AS dst"
                  " FROM lineitem),"
                  " we AS (SELECT src, dst,"
                  " (src + dst) % 19 + 1 AS w FROM de)"
                  " SELECT src, dst, w FROM we"
                  " UNION ALL SELECT dst, src, w FROM we",
        sources_sql="SELECT DISTINCT CAST(l_suppkey AS BIGINT)"
                    " AS node FROM lineitem WHERE l_suppkey % 97 = 0")
    # As-of join: DuckDB's native ASOF LEFT JOIN is the oracle for the
    # union-tag + window kernel (equal-time matches included by both).
    out["asof_join"] = """
        WITH v AS (
          SELECT user_id, ts, max_by(value, event_id) AS view_value
          FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        p AS (
          SELECT user_id, ts, event_id, value AS purchase_value
          FROM events WHERE event_type = 'purchase')
        SELECT p.user_id, p.event_id, epoch_us(p.ts) AS ts_us,
               p.purchase_value,
               COALESCE(v.view_value, -1.0) AS view_value,
               COALESCE(epoch_us(v.ts), -1) AS asof_ts_us
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND p.ts >= v.ts
    """
    # Streaming as-of: same ASOF oracle, restricted to probes the
    # final watermark finalized — wm = min(max side maxima) floored to
    # ms (Spark's EventTimeStats tracks ms) minus the 1 h delay. Build
    # rows needed by any finalized probe are themselves finalized
    # (their ts <= probe ts <= wm), so no cutoff on the build side.
    out["asof_enrich_stream"] = """
        WITH v AS (
          SELECT user_id, ts, max_by(value, event_id) AS value,
                 MAX(event_id) AS event_id
          FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        p AS (
          SELECT user_id, ts, event_id FROM events
          WHERE event_type = 'purchase'),
        wm AS (
          SELECT (LEAST(
                    (SELECT MAX(epoch_us(ts)) // 1000 FROM p),
                    (SELECT MAX(epoch_us(ts)) // 1000
                     FROM events WHERE event_type = 'view'))
                  - 3600000) * 1000 AS wm_us)
        SELECT p.user_id, epoch_us(p.ts) AS ts_us, p.event_id,
               COALESCE(v.value, -1.0) AS view_value,
               COALESCE(epoch_us(v.ts), -1) AS asof_ts_us,
               COALESCE(v.event_id, -1) AS asof_ord
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND p.ts >= v.ts, wm
        WHERE epoch_us(p.ts) <= wm.wm_us
    """
    # Range join: the oracle is the naive inequality join the Spark
    # side refuses to plan (bucket explosion + equi-join instead).
    out["range_join"] = """
        SELECT o.o_orderkey, CAST(COUNT(*) AS BIGINT) AS n_shipped
        FROM (SELECT o_orderkey, o_orderdate AS w0,
                     o_orderdate + INTERVAL 3 DAY AS w1
              FROM orders WHERE o_orderkey % 97 = 0) o
        JOIN lineitem l
          ON l.l_shipdate >= o.w0 AND l.l_shipdate < o.w1
        GROUP BY o.o_orderkey
    """
    # LOCF resample: per-user daily grid via generate_series, filled
    # with DuckDB ASOF LEFT JOIN — same epoch-aligned grid arithmetic
    # as resample_locf (floor to step in integer microseconds).
    out["resample_locf"] = """
        WITH o AS (
          SELECT user_id, ts, max_by(value, event_id) AS value
          FROM events GROUP BY user_id, ts),
        b AS (
          SELECT user_id,
                 make_timestamp((epoch_us(MIN(ts)) // 86400000000)
                                * 86400000000) AS g0,
                 MAX(ts) AS t1
          FROM o GROUP BY user_id),
        g AS (
          SELECT user_id,
                 unnest(generate_series(g0, t1, INTERVAL 1 DAY))
                   AS grid_ts
          FROM b)
        SELECT g.user_id, epoch_us(g.grid_ts) AS grid_ts_us,
               COALESCE(o.value, -1.0) AS value,
               COALESCE(epoch_us(o.ts), -1) AS asof_ts_us
        FROM g ASOF LEFT JOIN o
          ON g.user_id = o.user_id AND g.grid_ts >= o.ts
    """
    # Bloom dedup: first-occurrence selection is genuine SQL; only the
    # FP-victim key set (deterministic hash collisions) is twin-pinned
    # — empty at this fixture size, making the oracle fully genuine.
    if "bloom_dedup_fp_victims" in const:
        victims = const["bloom_dedup_fp_victims"]
        anti = (f"AND user_id NOT IN ({', '.join(map(str, victims))})"
                if victims else "")
        out["bloom_dedup"] = f"""
            SELECT user_id, ts_us, event_id FROM (
              SELECT user_id, epoch_us(ts) AS ts_us, event_id,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY epoch_us(ts), event_id)
                       AS rn
              FROM events)
            WHERE rn = 1 {anti}
        """
    # Utterance segments: twin-pinned VAD runs (exact integers).
    if "utterance_segments" in const:
        us = _values_table(const["utterance_segments"],
                           ["clip_id", "seg_idx", "start_frame",
                            "n_frames"])
        out["utterance_segments"] = f"""
            SELECT clip_id, CAST(seg_idx AS BIGINT) AS seg_idx,
                   CAST(start_frame AS BIGINT) AS start_frame,
                   CAST(n_frames AS BIGINT) AS n_frames
            FROM {us} ORDER BY clip_id, seg_idx
        """
    # Trim-silence: per-clip counters pinned; per-codec rollup SQL.
    if "trim_silence" in const:
        ts = _values_table(const["trim_silence"],
                           ["clip_id", "codec", "n_samples",
                            "lead_quiet", "trail_quiet", "n_kept"])
        out["trim_silence"] = f"""
            SELECT codec, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(n_samples) AS BIGINT) AS total_samples,
                   CAST(SUM(lead_quiet) AS BIGINT) AS total_lead,
                   CAST(SUM(trail_quiet) AS BIGINT) AS total_trail,
                   CAST(SUM(n_kept) AS BIGINT) AS total_kept
            FROM {ts} GROUP BY codec ORDER BY codec
        """
    # HLL registers: per-user hash pinned (xxhash64 twin); register/rho
    # algebra genuine SQL. Constants must mirror operators/sketch.py
    # p=6: shift 58, mask 2^58-1, empty-suffix rho 59.
    # Bloom registers: per-user hash pinned; Kirsch–Mitzenmacher
    # position algebra + word/bit packing genuine SQL. Constants must
    # mirror _q_bloom_registers: m=4096, k=4; bit 63 needs the CASE
    # (DuckDB checks 1<<63 overflow, Spark wraps to min-long).
    if "user_hash" in const:
        uh = _values_table(const["user_hash"], ["user_id", "h"])
        out["bloom_registers"] = f"""
            WITH uh AS (
              SELECT CAST(user_id AS BIGINT) AS user_id,
                     CAST(h AS BIGINT) AS h
              FROM {uh}),
            e AS (SELECT DISTINCT event_type, user_id FROM events),
            hh AS (
              SELECT e.event_type,
                     ((h >> 32) & 4294967295) AS h1,
                     ((h & 4294967295) | 1) AS h2
              FROM e JOIN uh USING (user_id)),
            pos AS (
              SELECT event_type,
                     ((h1 + i * h2) % 4096 + 4096) % 4096 AS bit_pos
              FROM (SELECT event_type, h1, h2,
                           unnest([0, 1, 2, 3]) AS i
                    FROM hh))
            SELECT event_type,
                   CAST(bit_pos // 64 AS BIGINT) AS word_idx,
                   CAST(bit_or(CASE WHEN bit_pos % 64 = 63
                                    THEN -9223372036854775808
                                    ELSE 1::BIGINT
                                         << CAST(bit_pos % 64 AS INT)
                               END) AS BIGINT) AS bits
            FROM pos GROUP BY event_type, word_idx
        """
    # CMS counters: pinned hashes; K-M positions + COUNT genuine SQL.
    # Constants must mirror _q_cms_registers: width=256, depth=4. No
    # DISTINCT — CMS counts event rows, not users.
    if "user_hash" in const:
        uh = _values_table(const["user_hash"], ["user_id", "h"])
        out["cms_registers"] = f"""
            WITH uh AS (
              SELECT CAST(user_id AS BIGINT) AS user_id,
                     CAST(h AS BIGINT) AS h
              FROM {uh}),
            hh AS (
              SELECT e.event_type,
                     ((h >> 32) & 4294967295) AS h1,
                     ((h & 4294967295) | 1) AS h2
              FROM events e JOIN uh USING (user_id)),
            pos AS (
              SELECT event_type, CAST(d AS BIGINT) AS row_idx,
                     ((h1 + d * h2) % 256 + 256) % 256 AS col_idx
              FROM (SELECT event_type, h1, h2,
                           unnest([0, 1, 2, 3]) AS d
                    FROM hh))
            SELECT event_type, row_idx,
                   CAST(col_idx AS BIGINT) AS col_idx,
                   COUNT(*) AS n
            FROM pos GROUP BY event_type, row_idx, col_idx
        """
    if "user_hash" in const:
        uh = _values_table(const["user_hash"], ["user_id", "h"])
        out["hll_user_registers"] = f"""
            WITH h AS (
              SELECT CAST(user_id AS BIGINT) AS user_id,
                     CAST(h AS BIGINT) AS h
              FROM {uh}),
            e AS (SELECT DISTINCT event_type, user_id FROM events),
            r AS (
              SELECT e.event_type,
                     ((h.h >> 58) & 63) AS reg_idx,
                     CASE WHEN (h.h & 288230376151711743) = 0 THEN 59
                          ELSE strpos(lpad(bin(h.h & 288230376151711743),
                                           58, '0'), '1')
                     END AS rho
              FROM e JOIN h USING (user_id))
            SELECT event_type, CAST(reg_idx AS BIGINT) AS reg_idx,
                   CAST(MAX(rho) AS BIGINT) AS max_rho
            FROM r GROUP BY event_type, reg_idx
        """
    if "user_hash" in const:
        uh = _values_table(const["user_hash"], ["user_id", "h"])
        out["hll_windowed"] = f"""
            WITH h AS (
              SELECT CAST(user_id AS BIGINT) AS user_id,
                     CAST(h AS BIGINT) AS h
              FROM {uh}),
            e AS (SELECT DISTINCT time_bucket(INTERVAL 1 HOUR, ts) AS wb,
                         user_id
                  FROM events),
            r AS (
              SELECT e.wb,
                     ((h.h >> 58) & 63) AS reg_idx,
                     CASE WHEN (h.h & 288230376151711743) = 0 THEN 59
                          ELSE strpos(lpad(bin(h.h & 288230376151711743),
                                           58, '0'), '1')
                     END AS rho
              FROM e JOIN h USING (user_id))
            SELECT epoch_us(wb) AS window_start,
                   CAST(reg_idx AS BIGINT) AS reg_idx,
                   CAST(MAX(rho) AS BIGINT) AS max_rho
            FROM r GROUP BY wb, reg_idx
        """
    # Audio+text pair quality: transcripts + every flag are genuine SQL
    # over documents; only the waveform-derived VAD counts are pinned.
    # Thresholds must mirror functions/audio.clip_text_quality defaults:
    # min_dur 150, density 100..200 tok/s, voiced ≥ 20%.
    if "clip_vad_doc300" in const:
        vad_vals = _values_table(const["clip_vad_doc300"],
                                 ["clip_id", "n_frames", "voiced_frames"])
        out["audio_text_quality"] = f"""
            WITH c AS (
              SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                       AS clip_id,
                     CAST(100 + (doc_id % 7) * 50 AS BIGINT) AS dur_ms,
                     {win_norm} AS nt
              FROM documents WHERE doc_id < 300),
            t AS (
              SELECT clip_id, dur_ms,
                     CASE WHEN nt = '' THEN 0
                          ELSE CAST(len(string_split(nt, ' ')) AS BIGINT)
                     END AS n_tokens
              FROM c),
            v AS (
              SELECT clip_id, CAST(n_frames AS BIGINT) AS n_frames,
                     CAST(voiced_frames AS BIGINT) AS voiced_frames
              FROM {vad_vals}),
            f AS (
              SELECT t.clip_id, t.dur_ms, v.n_frames, v.voiced_frames,
                     t.n_tokens,
                     t.dur_ms < 150 AS too_short,
                     t.n_tokens = 0 AS empty_transcript,
                     t.n_tokens * 1000 < t.dur_ms * 100 AS low_density,
                     t.n_tokens * 1000 > t.dur_ms * 200 AS high_density,
                     v.voiced_frames * 100 < v.n_frames * 20
                       AS silence_heavy
              FROM t JOIN v USING (clip_id))
            SELECT *, NOT (too_short OR empty_transcript OR low_density
                           OR high_density OR silence_heavy) AS keep
            FROM f
        """
    # Audio fingerprint near-dup: only the DSP half (decode → FFT →
    # landmark subfp per frame) is twin-pinned; posting-list DF bound,
    # candidate self-join, and exact aligned-frame verification are
    # all genuine SQL — the same split as minhash/simhash oracles.
    # Params must mirror _q_audio_fp_neardup: max_df=8,
    # min_match_frames=2, min_match_pct=60.
    if "audio_fp" in const:
        afp = _values_table(const["audio_fp"],
                            ["clip_id", "frame_idx", "subfp"])
        out["audio_fp_neardup"] = f"""
            WITH fp AS (
              SELECT clip_id, CAST(frame_idx AS BIGINT) AS frame_idx,
                     CAST(subfp AS BIGINT) AS subfp
              FROM {afp}),
            sizes AS (
              SELECT clip_id, COUNT(*) AS frames FROM fp GROUP BY clip_id),
            bounded AS (
              SELECT fp.* FROM fp
              JOIN (SELECT frame_idx, subfp FROM fp
                    GROUP BY frame_idx, subfp HAVING COUNT(*) <= 8) r
                USING (frame_idx, subfp)),
            cand AS (
              SELECT DISTINCT a.clip_id AS clip_a, b.clip_id AS clip_b
              FROM bounded a JOIN bounded b
                ON a.frame_idx = b.frame_idx AND a.subfp = b.subfp
               AND a.clip_id < b.clip_id),
            m AS (
              SELECT c.clip_a, c.clip_b, COUNT(*) AS match_frames
              FROM cand c
              JOIN fp fa ON fa.clip_id = c.clip_a
              JOIN fp fb ON fb.clip_id = c.clip_b
               AND fb.frame_idx = fa.frame_idx AND fb.subfp = fa.subfp
              GROUP BY c.clip_a, c.clip_b)
            SELECT m.clip_a, m.clip_b,
                   CAST(m.match_frames AS BIGINT) AS match_frames,
                   CAST(sa.frames AS BIGINT) AS frames_a,
                   CAST(sb.frames AS BIGINT) AS frames_b
            FROM m
            JOIN sizes sa ON sa.clip_id = m.clip_a
            JOIN sizes sb ON sb.clip_id = m.clip_b
            WHERE m.match_frames >= 2
              AND m.match_frames * 100 >= LEAST(sa.frames, sb.frames) * 60
            ORDER BY clip_a, clip_b
        """
    # IVF ANN top-k (lloyd_iters=0 deterministic index): twin cell
    # candidates + exact SQL cosine re-rank
    ivf_cand = _values_table(const["ivf_candidates"],
                             ["query_id", "neighbor_id"])
    out["ivf_ann_topk"] = f"""
        WITH cand AS (
          SELECT CAST(query_id AS BIGINT) AS query_id,
                 CAST(neighbor_id AS BIGINT) AS neighbor_id
          FROM {ivf_cand}),
        sc AS (
          SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.embedding::DOUBLE[],
                                              v.embedding::DOUBLE[]), 6)
                   AS cosine
          FROM cand c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings v ON v.vec_id = c.neighbor_id),
        rk AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM sc)
        SELECT query_id, neighbor_id, cosine, rank FROM rk WHERE rank <= 5
    """
    # Incremental streaming CC: the fold is exact at any batch split
    # (roots are component minima; min is associative), so the batch
    # row's transitive-closure oracle IS the streaming row's oracle.
    out["stream_cc"] = out["dedup_clusters"]
    # Incremental streaming LSH: each pair emitted exactly once (when
    # its later doc arrives), same band hashes + exact-Jaccard verify
    # as the batch operator, so the union of emissions == the batch
    # row — whose oracle this row shares.
    out["stream_minhash_lsh"] = out["minhash_lsh"]
    # Incremental streaming HLL: strict-increase upsert changelog;
    # MAX is associative, so the compacted log == the batch register
    # table at any split — the batch row's oracle IS this row's.
    if "hll_user_registers" in out:
        out["stream_hll"] = out["hll_user_registers"]
    # Incremental streaming shard assignment: binning is a pure
    # function of the per-key prefix sum, which the tails store
    # carries exactly, so the fold's summary == the batch row's plan
    # byte-for-byte — whose oracle this row shares.
    out["stream_shard_plan"] = out["shard_plan"]
    # Streaming migration gate: every verdict except missing_right is
    # row-local (one (left, right) pair), and the close reconciliation
    # recovers missing_right exactly, so union(folds) ∪ close == the
    # batch full-outer gate byte-for-byte — whose oracle this shares.
    if "clip_conformance" in out:
        out["stream_conformance"] = out["clip_conformance"]
    return out


if __name__ == "__main__":
    from dataflow_flex_templates_spark.session import get_spark

    s = get_spark("entry-smoke", cores=8)
    df = entry(s)
    print("entry rows:", df.count())
    df.show(5, truncate=False)
    s.stop()
