"""Benchmark inputs, all made from the run's seed.

Clip workloads: ``generate_clips_distributed`` synthesizes a pool of
distinct clips once per checkout (stock 80/12/8 codec mix; cached under
``.perfbench_cache`` keyed by size and layout, because synthesis costs
~1 ms of CPU per clip). Each run then derives its own input from the
pool and its seed: a seeded permutation picks and orders the clips,
which get fresh ids, event times (25 ms apart with up to 30 s of
disorder), 2% late rows (600 s behind) and 1% duplicates carrying a
``rev2`` transcript one second later. The derived files are written
per run and deleted with it.

graph_batch: the three TPC-H-shaped tables the flagship spec joins,
drawn with numpy from the seed and cached keyed by (seed, scale).
Prices are integers and discounts are 0 or 1/16, so every aggregate the
oracle rounds to four places is exact in binary floating point and both
engines round it the same way.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2025-01-01T00:00:00Z in microseconds, the clip generator's epoch.
EPOCH_US = 1735689600 * 1_000_000
STEP_US = 25_000
JITTER_US = 30_000_000
LATE_US = 600_000_000
DUP_RATE = 0.01
LATE_RATE = 0.02

CLIP_SCHEMA = pa.schema([
    ("clip_id", pa.string()),
    ("bytes", pa.binary()),
    ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()),
    ("codec", pa.string()),
    ("transcript", pa.string()),
    ("event_time", pa.timestamp("us", tz="UTC")),
])


def pool_dir(cache: str, n: int, seed: int) -> str:
    return os.path.join(cache, f"clip-pool-n{n}-s{seed}")


def pool_ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def build_pool(spark, path: str, n: int, seed: int) -> None:
    """Synthesize ``n`` distinct clips with the engine's distributed
    generator (no duplicates or late rows: runs add their own)."""
    from dataflow_flex_templates_spark.testing.clips import (
        generate_clips_distributed,
    )

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (generate_clips_distributed(spark, n, seed=seed, dup_rate=0.0,
                                late_rate=0.0, num_partitions=max(8, n // 500))
     .write.parquet(tmp))
    os.rename(tmp, path)


def read_pool(path: str) -> pa.Table:
    # one chunk per column: random-access take over many chunks is
    # ~20x slower
    return pq.read_table(path, columns=["bytes", "sr_hz", "dur_ms", "codec",
                                        "transcript"]).combine_chunks()


def derive_clips(pool: pa.Table, out_dir: str, n: int, per_file: int,
                 rng: np.random.Generator, id_prefix: str) -> list[str]:
    """Write ``n`` clips picked from ``pool`` as files of ``per_file``
    clips (plus their duplicates). Returns the file paths in order."""
    if n > pool.num_rows:
        raise ValueError(f"pool holds {pool.num_rows} clips, {n} requested")
    os.makedirs(out_dir, exist_ok=True)
    pick = rng.permutation(pool.num_rows)[:n]
    paths = []
    for k, lo in enumerate(range(0, n, per_file)):
        rows = pool.take(pa.array(pick[lo:lo + per_file]))
        m = rows.num_rows
        idx = np.arange(lo, lo + m)
        t = EPOCH_US + idx * STEP_US - rng.integers(0, JITTER_US, m)
        t = np.where(rng.random(m) < LATE_RATE, t - LATE_US, t)
        dup = rng.random(m) < DUP_RATE
        ids = [f"{id_prefix}_{i:07d}" for i in idx]
        transcripts = rows.column("transcript").to_pylist()
        # each duplicate follows its original, as the generator does
        order = np.repeat(np.arange(m), np.where(dup, 2, 1))
        second = np.zeros(len(order), dtype=bool)
        second[1:] = order[1:] == order[:-1]
        table = pa.table({
            "clip_id": pa.array([ids[i] for i in order]),
            "bytes": rows.column("bytes").take(pa.array(order)),
            "sr_hz": rows.column("sr_hz").take(pa.array(order)),
            "dur_ms": rows.column("dur_ms").take(pa.array(order)),
            "codec": rows.column("codec").take(pa.array(order)),
            "transcript": pa.array([
                transcripts[i] + (" rev2" if s else "")
                for i, s in zip(order, second)]),
            "event_time": pa.array(t[order] + second * 1_000_000,
                                   pa.timestamp("us", tz="UTC")),
        }, schema=CLIP_SCHEMA)
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


def late_mask(clip_ids, event_time, watermark_s: int) -> np.ndarray:
    """Rows whose event time trails their clip's slot (from the index
    in its id) by more than the watermark: the injected late rows."""
    idx = np.array([int(c.rsplit("_", 1)[1]) for c in clip_ids])
    slot_us = EPOCH_US + idx * STEP_US
    t_us = (event_time.dt.tz_localize(None).to_numpy()
            .astype("datetime64[us]").astype(np.int64))
    return t_us < slot_us - watermark_s * 1_000_000


# -- graph_batch tables -------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def tpch_dir(cache: str, seed: int, scale: float) -> str:
    return os.path.join(cache, f"tpch-s{seed}-sf{scale}")


def build_tpch(path: str, seed: int, scale: float) -> dict[str, int]:
    """customer/orders/lineitem at ``scale`` (1.0 = TPC-H SF1 row
    counts), with the columns the flagship spec and its oracle read.
    Returns row counts. Cached: a finished directory is reused."""
    done = os.path.join(path, "_SUCCESS")
    if not os.path.exists(done):
        rng = np.random.default_rng(seed)
        n_cust = int(150_000 * scale)
        n_ord = int(1_500_000 * scale)
        n_part = int(200_000 * scale)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        ck = np.arange(1, n_cust + 1, dtype=np.int64)
        pq.write_table(pa.table({
            "c_custkey": ck,
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_mktsegment": pa.array(SEGMENTS).take(
                pa.array(rng.integers(0, len(SEGMENTS), n_cust))),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        }), os.path.join(tmp, "customer.parquet"))
        ok = np.arange(1, n_ord + 1, dtype=np.int64)
        # as in TPC-H, a third of the customers place no orders
        active = ck[ck % 3 != 0]
        pq.write_table(pa.table({
            "o_orderkey": ok,
            "o_custkey": rng.choice(active, n_ord),
            "o_orderdate": pa.array(
                (EPOCH_US - rng.integers(0, 2400, n_ord) * 86_400_000_000),
                pa.timestamp("us")),
        }), os.path.join(tmp, "orders.parquet"))
        lines = rng.integers(1, 8, n_ord)
        lk = np.repeat(ok, lines)
        n_li = len(lk)
        pk = rng.integers(1, n_part + 1, n_li)
        qty = rng.integers(1, 51, n_li).astype(np.float64)
        retail = (900 + pk % 1101).astype(np.float64)
        pq.write_table(pa.table({
            "l_orderkey": lk,
            "l_partkey": pk,
            "l_quantity": qty,
            "l_extendedprice": qty * retail,
            "l_discount": np.where(rng.random(n_li) < 0.5, 0.0, 0.0625),
        }), os.path.join(tmp, "lineitem.parquet"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        os.rename(tmp, path)
    return {t: pq.ParquetFile(os.path.join(path, f"{t}.parquet"))
            .metadata.num_rows for t in ("customer", "orders", "lineitem")}
