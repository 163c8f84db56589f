"""Deterministic synthetic clip table (FIXTURES.md F1).

Schema (BASELINE.json ``input_hint``):
  clip_id:string, bytes:binary, sr_hz:int, dur_ms:int, codec:string,
  transcript:string, event_time:timestamp

Every clip's waveform is a sine/chirp mixture seeded by a stable hash
of clip_id — so any process (generator, engine test, oracle) can
re-derive the exact reference waveform from the clip_id alone and check
decoded-PCM SNR ≥ 30 dB without shipping ground truth around.

Skew is built in deliberately (70% sr=16000, 80% codec=pcm_s16le) to
exercise hot-partition salting; ~1% duplicate clip_ids (later
event_time, different transcript revision) exercise MERGE
last-writer-wins; a late-data tail beyond the watermark exercises
drop/count paths.
"""

from __future__ import annotations

import hashlib
import math
import random
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd

from dataflow_flex_templates_spark.functions.audio import encode_pcm_np
from dataflow_flex_templates_spark.streaming.clip_graph import (  # noqa: F401
    clips_spark_schema,
)

SR_CHOICES = [16000, 8000, 22050, 44100]
SR_WEIGHTS = [0.70, 0.14, 0.10, 0.06]
CODEC_CHOICES = ["pcm_s16le", "pcm_f32le", "ulaw"]
CODEC_WEIGHTS = [0.80, 0.12, 0.08]

_WORDS = ("the quick brown fox jumps over lazy dog alpha beta gamma delta "
          "spark stream window merge node edge clip audio signal test data "
          "graph key value batch state join dedup shard salt skew").split()

EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)


def _seed(clip_id: str) -> int:
    return int.from_bytes(hashlib.sha256(clip_id.encode()).digest()[:8], "big")


def reference_waveform(clip_id: str, sr_hz: int, dur_ms: int) -> np.ndarray:
    """Deterministic float32 waveform in [-1,1] for a clip — the ground
    truth for decoded-PCM allclose/SNR checks."""
    rng = np.random.default_rng(_seed(clip_id))
    n = int(round(sr_hz * dur_ms / 1000.0))
    t = np.arange(n, dtype=np.float64) / sr_hz
    f0 = 100.0 + float(rng.uniform(0, 300))
    f1 = 500.0 + float(rng.uniform(0, 2000))
    # sine + linear chirp + second harmonic; peak ~0.9
    w = (0.5 * np.sin(2 * math.pi * f0 * t)
         + 0.3 * np.sin(2 * math.pi * (f0 + (f1 - f0) * t / max(t[-1], 1e-9) / 2) * t)
         + 0.1 * np.sin(2 * math.pi * 2 * f0 * t))
    return (w * 0.9 / max(1e-9, np.max(np.abs(w)))).astype(np.float32)


def reference_transcript(clip_id: str) -> str:
    """Seeded word sequence with mixed case/whitespace/punctuation so
    normalization is observable (FIXTURES.md F1)."""
    rng = random.Random(_seed(clip_id) ^ 0x5EED)
    if rng.random() < 0.02:
        return ""
    k = rng.randrange(3, 14)
    words = [rng.choice(_WORDS) for _ in range(k)]
    out = []
    for w in words:
        if rng.random() < 0.2:
            w = w.upper()
        elif rng.random() < 0.2:
            w = w.capitalize()
        if rng.random() < 0.15:
            w += rng.choice([",", ".", "!", "?", ";"])
        out.append(w)
    sep = "  " if rng.random() < 0.1 else " "
    return sep.join(out) + ("  " if rng.random() < 0.1 else "")


def make_clips_pdf(
    n: int,
    seed: int = 42,
    dup_rate: float = 0.01,
    late_rate: float = 0.02,
    watermark_s: int = 60,
    max_dur_ms: int = 2000,
    max_step_ms: int = 50,
    codec_choices: list[str] | None = None,
    codec_weights: list[float] | None = None,
) -> pd.DataFrame:
    """Generate n clips (+ duplicates) as a pandas DataFrame.

    event_time is monotone-ish with bounded disorder (≤ watermark) plus
    a late tail (≫ watermark) for drop/count tests.
    """
    rng = random.Random(seed)
    codecs = codec_choices if codec_choices is not None else CODEC_CHOICES
    weights = codec_weights if codec_weights is not None else (
        CODEC_WEIGHTS if codec_choices is None else [1.0] * len(codecs))
    rows = []
    t = EPOCH
    for i in range(n):
        clip_id = f"clip_{i:012d}"
        sr = rng.choices(SR_CHOICES, SR_WEIGHTS)[0]
        codec = rng.choices(codecs, weights)[0]
        dur = rng.randrange(200, max_dur_ms)
        w = reference_waveform(clip_id, sr, dur)
        payload = encode_pcm_np(w, codec)
        t = t + timedelta(milliseconds=rng.randrange(0, max_step_ms))
        jitter = timedelta(seconds=rng.uniform(0, watermark_s * 0.5))
        ts = t - jitter
        if rng.random() < late_rate:
            ts = t - timedelta(seconds=watermark_s * 10)  # very late
        rows.append((clip_id, payload, sr, dur, codec,
                     reference_transcript(clip_id), ts))
        if rng.random() < dup_rate:
            # duplicate key, later event_time, revised transcript → the
            # revision must win under MERGE LWW
            rows.append((clip_id, payload, sr, dur, codec,
                         reference_transcript(clip_id) + " rev2",
                         ts + timedelta(seconds=1)))
    return pd.DataFrame(
        rows,
        columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec",
                 "transcript", "event_time"],
    )


def make_clips_df(spark, n: int, seed: int = 42, **kw):
    pdf = make_clips_pdf(n, seed=seed, **kw)
    return spark.createDataFrame(pdf, schema=clips_spark_schema())


def write_clips_parquet(spark, path: str, n: int, seed: int = 42,
                        partitions: int = 8, **kw) -> str:
    df = make_clips_df(spark, n, seed=seed, **kw)
    df.repartition(partitions).write.mode("overwrite").parquet(path)
    return path


# ------------------------------------------------------------------
# Document-derived clips: a clip table whose every column is a
# DETERMINISTIC ARITHMETIC function of the driver's pre-registered
# `documents` table, so end-to-end STREAMING jobs get a genuine DuckDB
# SQL oracle (`SELECT ... FROM documents`) instead of a rows-only
# check. doc_id % 5 == 0 docs additionally emit a later " rev2"
# transcript revision — the MERGE last-writer-wins case the oracle
# resolves with a CASE on doc_id.
# ------------------------------------------------------------------

DOC_SR = [8000, 16000, 44100]        # sr_hz   = DOC_SR[doc_id % 3]
DOC_CODEC = ["pcm_s16le", "pcm_f32le", "ulaw"]  # codec = [doc_id % 3]
#: dur_ms = 100 + (doc_id % 7) * 50 — every sr*dur/1000 is integral.


def make_doc_clips_pdf(docs: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, text) rows → deterministic clip rows (see above)."""
    rows = []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        doc_id = int(doc_id)
        sr = DOC_SR[doc_id % 3]
        dur = 100 + (doc_id % 7) * 50
        codec = DOC_CODEC[doc_id % 3]
        clip_id = f"doc_{doc_id:06d}"
        payload = encode_pcm_np(reference_waveform(clip_id, sr, dur), codec)
        ts = EPOCH + timedelta(seconds=doc_id)
        text = text or ""
        rows.append((clip_id, payload, sr, dur, codec, text, ts))
        if doc_id % 5 == 0:
            rows.append((clip_id, payload, sr, dur, codec, text + " rev2",
                         ts + timedelta(seconds=1)))
    return pd.DataFrame(
        rows,
        columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec",
                 "transcript", "event_time"],
    )


#: DuckDB twin of the derivation above, for splicing into oracle SQL.
DOC_CLIPS_SQL = """
    SELECT 'doc_' || lpad(CAST(doc_id AS VARCHAR), 6, '0') AS clip_id,
           CAST([8000, 16000, 44100][doc_id % 3 + 1] AS BIGINT) AS sr_hz,
           CAST(100 + (doc_id % 7) * 50 AS BIGINT) AS dur_ms,
           ['pcm_s16le', 'pcm_f32le', 'ulaw'][doc_id % 3 + 1] AS codec,
           CAST([8000, 16000, 44100][doc_id % 3 + 1]
                * (100 + (doc_id % 7) * 50) / 1000 AS BIGINT) AS n_samples,
           CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END
             AS winning_transcript
    FROM documents
"""


def make_doc_clips_df(spark, docs_df):
    """Spark wrapper: ``docs_df`` needs (doc_id, text) columns."""
    pdf = make_doc_clips_pdf(
        docs_df.select("doc_id", "text").orderBy("doc_id").toPandas())
    return spark.createDataFrame(pdf, schema=clips_spark_schema())


# ------------------------------------------------------------------
# Near-duplicate clip fixture: base clips plus DETERMINISTIC audio
# perturbations that a real ingest pipeline produces (gain change on
# re-mastering; low-level additive noise from transcode chains). Used
# by operators/audio_dedup.py tests and the audio_fp_neardup driver
# query; scripts/gen_oracle_constants.py pins the fingerprints of
# EXACTLY this table (same constants below) for the SQL oracle.
# ------------------------------------------------------------------

AFP_N_BASE = 45       #: driver-query fixture size
AFP_SEED = 11         #: driver-query fixture seed
AFP_NOISE_DB = -40.0  #: additive-noise variant level


def make_neardup_clips_pdf(n_base: int = AFP_N_BASE,
                           seed: int = AFP_SEED) -> pd.DataFrame:
    """n_base base clips; base i%3==0 gets a gain-0.9 float32 variant
    ("_g"), i%3==1 a −40 dB-noise re-quantized variant ("_n"), i%3==2
    none (negative control). Ground-truth near-dup pairs are exactly
    (base, base+suffix) — every variant keeps its base's sample count,
    sr and duration, so fingerprint frames align."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_base):
        sr = rng.choices(SR_CHOICES, SR_WEIGHTS)[0]
        dur = rng.randrange(400, 1200)
        cid = f"afp_{seed}_{i:04d}"
        base = encode_pcm_np(reference_waveform(cid, sr, dur), "pcm_s16le")
        ts = EPOCH + timedelta(seconds=i)
        tx = reference_transcript(cid)
        rows.append((cid, base, sr, dur, "pcm_s16le", tx, ts))
        from dataflow_flex_templates_spark.functions.audio import decode_pcm_np

        w = decode_pcm_np(base, "pcm_s16le")
        if i % 3 == 0:
            v = w * np.float32(0.9)
            rows.append((cid + "_g", encode_pcm_np(v, "pcm_f32le"), sr,
                         dur, "pcm_f32le", tx, ts + timedelta(seconds=1)))
        elif i % 3 == 1:
            nz = np.random.default_rng(_seed(cid + "_n")).standard_normal(
                len(w)).astype(np.float32)
            v = w + nz * np.float32(10.0 ** (AFP_NOISE_DB / 20.0))
            rows.append((cid + "_n", encode_pcm_np(v, "pcm_s16le"), sr,
                         dur, "pcm_s16le", tx, ts + timedelta(seconds=1)))
    return pd.DataFrame(
        rows,
        columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec",
                 "transcript", "event_time"],
    )


def make_neardup_clips_df(spark, n_base: int = AFP_N_BASE,
                          seed: int = AFP_SEED):
    return spark.createDataFrame(make_neardup_clips_pdf(n_base, seed),
                                 schema=clips_spark_schema())


# ------------------------------------------------------------------
# Health-defect clip fixture: base clips plus DETERMINISTIC injected
# defects a real ingest pipeline produces (hard-limiter clipping from
# bad gain staging; dropout windows from transfer glitches; DC bias
# from broken capture hardware). Used by the audio_health driver query
# and tests; scripts/gen_oracle_constants.py pins the per-clip health
# counters of EXACTLY this table for the SQL oracle.
# ------------------------------------------------------------------

AH_N_BASE = 60   #: driver-query fixture size
AH_SEED = 13     #: driver-query fixture seed


def make_health_clips_pdf(n_base: int = AH_N_BASE,
                          seed: int = AH_SEED) -> pd.DataFrame:
    """n_base clips cycling the three codecs; defect by i%4:
    1 → clipped (gain ×2.5 hard-limited at encode), 2 → dropout
    (a zeroed 60 ms window one third in), 3 → DC bias (+0.05),
    0 → clean control. Ground truth is exactly the i%4 class."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_base):
        sr = rng.choices(SR_CHOICES, SR_WEIGHTS)[0]
        dur = rng.randrange(300, 1200)
        cid = f"ah_{seed}_{i:04d}"
        codec = CODEC_CHOICES[i % 3]
        w = reference_waveform(cid, sr, dur).astype(np.float64)
        kind = i % 4
        if kind == 1:
            w = w * 2.5                      # encode clips to [-1, 1]
        elif kind == 2:
            lo = len(w) // 3
            w[lo: lo + int(sr * 0.06)] = 0.0
        elif kind == 3:
            w = w * 0.8 + 0.05               # keep |w| < 1 post-bias
        payload = encode_pcm_np(w.astype(np.float32), codec)
        rows.append((cid, payload, sr, dur, codec,
                     reference_transcript(cid),
                     EPOCH + timedelta(seconds=i)))
    return pd.DataFrame(
        rows,
        columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec",
                 "transcript", "event_time"],
    )


def make_health_clips_df(spark, n_base: int = AH_N_BASE,
                         seed: int = AH_SEED):
    return spark.createDataFrame(make_health_clips_pdf(n_base, seed),
                                 schema=clips_spark_schema())


# ------------------------------------------------------------------
# Edge-silence clip fixture: base clips padded with DETERMINISTIC
# leading/trailing digital silence (i%3 × 40 ms head, i%4 × 30 ms
# tail) — used by the trim_silence driver query and tests; the padded
# amounts ARE the ground truth the trim must recover.
# ------------------------------------------------------------------

TRIM_N_BASE = 45   #: driver-query fixture size
TRIM_SEED = 17     #: driver-query fixture seed


def make_trim_clips_pdf(n_base: int = TRIM_N_BASE,
                        seed: int = TRIM_SEED) -> pd.DataFrame:
    rng = random.Random(seed)
    rows = []
    for i in range(n_base):
        sr = rng.choices(SR_CHOICES, SR_WEIGHTS)[0]
        dur = rng.randrange(300, 900)
        cid = f"tr_{seed}_{i:04d}"
        codec = CODEC_CHOICES[i % 3]
        w = reference_waveform(cid, sr, dur)
        head = np.zeros((i % 3) * int(sr * 0.04), np.float32)
        tail = np.zeros((i % 4) * int(sr * 0.03), np.float32)
        padded = np.concatenate([head, w, tail])
        rows.append((cid, encode_pcm_np(padded, codec), sr, dur, codec,
                     reference_transcript(cid),
                     EPOCH + timedelta(seconds=i)))
    return pd.DataFrame(
        rows,
        columns=["clip_id", "bytes", "sr_hz", "dur_ms", "codec",
                 "transcript", "event_time"],
    )


def make_trim_clips_df(spark, n_base: int = TRIM_N_BASE,
                       seed: int = TRIM_SEED):
    return spark.createDataFrame(make_trim_clips_pdf(n_base, seed),
                                 schema=clips_spark_schema())


# ------------------------------------------------------------------
# Distributed generator — the scale path. make_clips_pdf is a driver
# loop (fine at 1e3); benchmarks and any 1e5+ generation must fan the
# synthesis out to executors. All per-clip randomness is derived from
# (seed, clip index) alone, so generation is embarrassingly parallel
# and any worker reproduces any clip independently (same property the
# waveform already has via hash(clip_id)).
# ------------------------------------------------------------------

def generate_clips_distributed(
    spark,
    n: int,
    seed: int = 42,
    dup_rate: float = 0.01,
    late_rate: float = 0.02,
    watermark_s: int = 60,
    max_dur_ms: int = 2000,
    step_ms: int = 25,
    num_partitions: int | None = None,
    codec_weights: list[float] | None = None,
    sr_weights: list[float] | None = None,
    codec_choices: list[str] | None = None,
):
    """Synthesize n clips as a distributed DataFrame via mapInPandas.

    event_time is ``EPOCH + i*step_ms - jitter`` (jitter ≤ watermark/2,
    late tail ≫ watermark) — index-derivable, unlike make_clips_pdf's
    sequential walk, so partitions generate independently.

    ``codec_weights`` / ``sr_weights`` override the stock distributions
    (aligned with CODEC_CHOICES / SR_CHOICES) — e.g. [0.92, 0.05, 0.03]
    for the north rule's hot-codec skew stress. ``codec_choices``
    swaps the codec set itself (e.g. to make ADPCM the hot codec for
    the expensive-decode salting quadrant); when given, weights align
    with it and default to uniform.
    """
    schema = clips_spark_schema()
    num_partitions = num_partitions or max(
        8, spark.sparkContext.defaultParallelism * 2)
    codecs = (codec_choices if codec_choices is not None
              else CODEC_CHOICES)
    cw = codec_weights if codec_weights is not None else (
        CODEC_WEIGHTS if codec_choices is None else [1.0] * len(codecs))
    sw = sr_weights if sr_weights is not None else SR_WEIGHTS

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = random.Random((seed << 32) ^ i)
                clip_id = f"clip_{i:012d}"
                sr = rng.choices(SR_CHOICES, sw)[0]
                codec = rng.choices(codecs, cw)[0]
                dur = rng.randrange(200, max_dur_ms)
                payload = encode_pcm_np(
                    reference_waveform(clip_id, sr, dur), codec)
                t = EPOCH + timedelta(milliseconds=i * step_ms)
                ts = t - timedelta(seconds=rng.uniform(0, watermark_s * 0.5))
                if rng.random() < late_rate:
                    ts = t - timedelta(seconds=watermark_s * 10)
                tr = reference_transcript(clip_id)
                rows.append((clip_id, payload, sr, dur, codec, tr, ts))
                if rng.random() < dup_rate:
                    rows.append((clip_id, payload, sr, dur, codec,
                                 tr + " rev2", ts + timedelta(seconds=1)))
            yield pd.DataFrame(
                rows, columns=["clip_id", "bytes", "sr_hz", "dur_ms",
                               "codec", "transcript", "event_time"])

    return (spark.range(0, n, numPartitions=num_partitions)
            .mapInPandas(gen, schema=schema))


# ------------------------------------------------------------------
# Migration-conformance fixture: a (left, right) clip-table pair where
# `right` derives from `left` by clip-indexed mutations covering every
# operators/conformance.py status. Pure pandas/numpy — the driver row
# and the oracle twin (scripts/gen_oracle_constants.py) build the
# IDENTICAL tables from this one function, so the pinned verdicts
# cannot drift from the fixture.
# ------------------------------------------------------------------

_CONF_ITEMSIZE = {"pcm_s16le": 2, "pcm_f32le": 4, "ulaw": 1}


def conformance_fixture_pdfs(n: int = 240, seed: int = 77):
    """(left_pdf, right_pdf). Mutation by clip index i % 8:

      0  row dropped from right            -> missing_right
      1  transcript + " EDITED"            -> transcript_diff
      2  transcoded to adpcm_ima           -> pass / snr_below_floor
                                              (codec physics per clip)
      3  transcoded to alaw                -> pass (typically ≥30 dB)
      4  payload truncated to half         -> length_mismatch
      5  codec relabeled "mp3"             -> poison (unknown codec)
      6  waveform ×0.999, re-encoded       -> pass (high SNR)
      7  byte-identical                    -> pass (SNR capped 200 dB)

    plus 3 right-only clips                -> missing_left.
    """
    from dataflow_flex_templates_spark.functions.audio import (
        decode_pcm_np,
    )

    left = make_clips_pdf(n, seed=seed, dup_rate=0.0, late_rate=0.0,
                          max_dur_ms=800)
    rows = []
    for _, r in left.iterrows():
        i = int(r["clip_id"].rsplit("_", 1)[1])
        k = i % 8
        if k == 0:
            continue
        row = r.copy()
        if k == 1:
            row["transcript"] = r["transcript"] + " EDITED"
        elif k == 2:
            w = decode_pcm_np(r["bytes"], r["codec"])
            row["bytes"] = encode_pcm_np(w, "adpcm_ima")
            row["codec"] = "adpcm_ima"
        elif k == 3:
            w = decode_pcm_np(r["bytes"], r["codec"])
            row["bytes"] = encode_pcm_np(w, "alaw")
            row["codec"] = "alaw"
        elif k == 4:
            item = _CONF_ITEMSIZE[r["codec"]]
            half = (len(r["bytes"]) // 2 // item) * item
            row["bytes"] = r["bytes"][:half]
        elif k == 5:
            row["codec"] = "mp3"
        elif k == 6:
            w = decode_pcm_np(r["bytes"], r["codec"])
            row["bytes"] = encode_pcm_np(w * np.float32(0.999),
                                         r["codec"])
        rows.append(row)
    right = pd.DataFrame(rows).reset_index(drop=True)

    extra = []
    for j in range(3):
        cid = f"clip_extra_{j:03d}"
        sr, dur = 16000, 300
        w = reference_waveform(cid, sr, dur)
        extra.append((cid, encode_pcm_np(w, "pcm_s16le"), sr, dur,
                      "pcm_s16le", reference_transcript(cid), EPOCH))
    right = pd.concat(
        [right, pd.DataFrame(extra, columns=list(left.columns))],
        ignore_index=True)
    return left, right
