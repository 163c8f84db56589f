"""The clip→graph flagship as data: the clip table's schema, its shared
decode prefix and the two-relation job spec that ``SpecStreamJob`` runs
over it (a ``Clip`` node per clip_id and an ``ENCODED_AS`` edge to its
``Codec``)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataflow_flex_templates_spark.functions.audio import (
    normalize_transcript,
    with_audio_features,
)
from dataflow_flex_templates_spark.spec.model import JobSpec
from dataflow_flex_templates_spark.spec.parser import parse_job_spec


def clips_spark_schema() -> T.StructType:
    """The clip table (BASELINE.json ``input_hint``)."""
    return T.StructType([
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("dur_ms", T.IntegerType()),
        T.StructField("codec", T.StringType()),
        T.StructField("transcript", T.StringType()),
        T.StructField("event_time", T.TimestampType()),
    ])


def prepare_clips(df: DataFrame) -> DataFrame:
    """Decode + normalize, then drop the raw payload: nothing downstream
    reads it, and dropping it keeps the persisted micro-batch a few
    doubles per row instead of tens of KB of PCM."""
    return (with_audio_features(df)
            .withColumn("transcript_norm",
                        normalize_transcript(F.col("transcript")))
            .drop("bytes"))


def clip_graph_spec() -> JobSpec:
    """A new JobSpec on every call: ``SpecStreamJob`` refactors the
    spec it is given in place."""
    def prop(field: str, typ: str) -> dict:
        return {"field": field, "name": field, "role": "property",
                "type": typ}

    return parse_job_spec({
        "sources": [{"type": "bigquery", "name": "clips",
                     "query": "SELECT 1"}],
        "targets": [
            {"name": "Clip", "type": "node", "source": "clips",
             "mode": "merge",
             "mappings": [
                 {"constant": "Clip", "role": "label"},
                 {"field": "clip_id", "name": "clip_id", "role": "key",
                  "type": "String"},
                 prop("sr_hz", "Long"), prop("dur_ms", "Long"),
                 prop("codec", "String"), prop("n_samples", "Long"),
                 prop("rms", "Float"), prop("peak", "Float"),
                 prop("zcr", "Float"), prop("transcript_norm", "String"),
             ]},
            {"name": "ENCODED_AS", "type": "edge", "source": "clips",
             "mode": "merge",
             "mappings": [
                 {"constant": "ENCODED_AS", "role": "type",
                  "fragment": "rel"},
                 {"field": "clip_id", "name": "clip_id", "role": "key",
                  "fragment": "source", "label": "Clip", "type": "String"},
                 {"field": "codec", "name": "codec", "role": "key",
                  "fragment": "target", "label": "Codec", "type": "String"},
             ]},
        ],
    })
