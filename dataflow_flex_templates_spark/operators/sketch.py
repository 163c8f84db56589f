"""Mergeable cardinality sketches (HyperLogLog) as DataFrame plans.

At 10^12-row scale an exact COUNT(DISTINCT) shuffles every distinct
key; an HLL register table is 2^p integers per group no matter the
cardinality, merges by element-wise MAX (unions across partitions,
days, or tables for free), and is incrementally maintainable — the
standard OLAP sketch (Flajolet et al. 2007; the same design behind
Spark's approx_count_distinct, re-expressed here as an OPEN register
table instead of an opaque binary so it is storable, mergeable in
plain SQL, and oracle-checkable integer-for-integer).

Determinism contract: the hash is Spark's ``xxhash64`` (seed 42),
re-implemented byte-exactly by testing/xxh.py, so a DuckDB oracle can
reproduce every register from pinned per-key hashes while the
register/rho algebra itself is plain SQL in both engines (shift/mask/
bin/lpad/strpos — identical semantics, verified in tests).

Plan shape: one narrow projection (hash → reg_idx, rho), one hash
aggregation with map-side partial MAX — shuffle volume ≤ groups × 2^p
rows regardless of input cardinality.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hll_cols(value_col: str, p: int):
    """(reg_idx, rho) column expressions. Only shift/mask/bin/lpad/
    instr — every op has identical semantics in DuckDB (>>&/bin/lpad/
    strpos), so the oracle re-derives registers in plain SQL."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    sfx_bits = 64 - p
    mask = (1 << sfx_bits) - 1
    h = F.xxhash64(F.col(value_col))
    idx = F.shiftright(h, sfx_bits).bitwiseAND(F.lit((1 << p) - 1))
    suffix = h.bitwiseAND(F.lit(mask))
    rho = (F.when(suffix == 0, F.lit(sfx_bits + 1))
           .otherwise(F.instr(F.lpad(F.bin(suffix), sfx_bits, "0"), "1")))
    return idx.cast("long").alias("reg_idx"), rho.cast("long").alias("rho")


def hll_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    p: int = 6,
) -> DataFrame:
    """(group_cols..., reg_idx, max_rho) — the HLL register table.

    ``reg_idx`` = top ``p`` bits of xxhash64(value); ``max_rho`` = MAX
    over values of (1 + leading zeros of the remaining 64-p bits).
    Registers never observed by any value are simply absent (implicit
    rho 0) — keeps the output sparse and union-friendly.
    """
    idx, rho = _hll_cols(value_col, p)
    return (df.select(*group_cols, idx, rho)
            .groupBy(*group_cols, "reg_idx")
            .agg(F.max("rho").alias("max_rho")))


def hll_registers_windowed(
    df: DataFrame,
    time_col: str,
    window_duration: str,
    value_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    p: int = 6,
    watermark: str | None = None,
) -> DataFrame:
    """HLL register table per event-time tumbling window — the
    streaming distinct-count sketch (unique users per hour, unique
    clips per day). Works unchanged as a batch plan or as a streaming
    aggregate: MAX is an ordinary agg, so watermark-based state
    eviction and append-mode emission apply exactly as for any
    windowed count, and the state per (window, group) is ≤ 2^p longs
    no matter how many distinct values the window saw — the unbounded
    `dropDuplicates` memory problem this replaces. Emitted register
    rows for different days/windows later merge with
    :func:`hll_merge` (drop the window columns first) for
    arbitrary-range rollups without touching raw data."""
    if watermark:
        df = df.withWatermark(time_col, watermark)
    idx, rho = _hll_cols(value_col, p)
    proj = df.select(F.col(time_col), *group_cols, idx, rho)
    return (proj.groupBy(F.window(F.col(time_col), window_duration),
                         *group_cols, "reg_idx")
            .agg(F.max("rho").alias("max_rho"))
            .select(F.col("window.start").alias("window_start"),
                    *group_cols, "reg_idx", "max_rho"))


def hll_merge(*register_dfs: DataFrame,
              group_cols: list[str] | tuple[str, ...] = ()) -> DataFrame:
    """Union register tables (same p) — element-wise MAX. The whole
    point of the sketch: merging pre-aggregated days/tables/partitions
    without touching raw data."""
    out = register_dfs[0]
    for d in register_dfs[1:]:
        out = out.unionByName(d)
    return (out.groupBy(*group_cols, "reg_idx")
            .agg(F.max("max_rho").alias("max_rho")))


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str] | tuple[str, ...] = (),
    p: int = 6,
) -> DataFrame:
    """Cardinality estimate per group from a register table — the
    classic bias-corrected harmonic mean with the small-range
    linear-counting correction. Float math lives ONLY here, at the
    very end; construction and merge stay integer-exact."""
    m = 1 << p
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / m))
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("_z_seen"),
        F.count("*").alias("_n_seen"))
    # absent registers contribute 2^0 = 1 each to the harmonic sum
    z = F.col("_z_seen") + (F.lit(m) - F.col("_n_seen"))
    zeros = F.lit(m) - F.col("_n_seen")  # registers still at 0
    raw = F.lit(alpha * m * m) / z
    est = F.when((raw <= 2.5 * m) & (zeros > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
                 ).otherwise(raw)
    return agg.select(*group_cols,
                      F.round(est).cast("long").alias("approx_distinct"))


def hll_error_bound(p: int = 6) -> float:
    """Typical relative standard error: 1.04 / sqrt(2^p)."""
    return 1.04 / math.sqrt(1 << p)


# ---------------------------------------------------------------------------
# Fixed-width histogram sketch — the quantile/mergeable-distribution
# counterpart to the HLL register table. State per group is the number
# of OCCUPIED bins (≤ (hi-lo)/bin_width when clamped), merge is a
# plain SUM, and every number is an integer count — so unlike t-digest
# or KLL the whole sketch is exactly reproducible by a SQL oracle and
# diffable across engines. Quantiles read off the cumulative counts
# with bin_width resolution, which is the precision contract a
# monitoring/telemetry rollup (p99 window-emit latency per codec at
# 10^12 rows) actually needs.
# ---------------------------------------------------------------------------


def _hist_bin(value_col: str, bin_width: float,
              lo: float | None, hi: float | None):
    """bin_idx column: floor(clamp(value)/w). Clamping bounds state for
    unbounded tails; floor/least/greatest have identical DuckDB
    semantics so the oracle recomputes bins bit-for-bit."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be > 0, got {bin_width}")
    v = F.col(value_col).cast("double")
    if lo is not None:
        v = F.greatest(v, F.lit(float(lo)))
    if hi is not None:
        v = F.least(v, F.lit(float(hi)))
    return F.floor(v / F.lit(float(bin_width))).cast("long").alias("bin_idx")


def histogram_registers(
    df: DataFrame,
    value_col: str,
    bin_width: float,
    group_cols: list[str] | tuple[str, ...] = (),
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """(group..., bin_idx, n) — count per fixed-width bin. One narrow
    projection + one hash agg with map-side combine; shuffle volume ≤
    groups × occupied bins regardless of row count. NULL values are
    dropped (no bin), matching SQL COUNT semantics."""
    b = _hist_bin(value_col, bin_width, lo, hi)
    return (df.where(F.col(value_col).isNotNull())
            .select(*group_cols, b)
            .groupBy(*group_cols, "bin_idx")
            .agg(F.count("*").alias("n")))


def histogram_registers_windowed(
    df: DataFrame,
    time_col: str,
    window_duration: str,
    value_col: str,
    bin_width: float,
    group_cols: list[str] | tuple[str, ...] = (),
    lo: float | None = None,
    hi: float | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Per-event-time-window histogram — identical plan batch or
    streaming (COUNT is an ordinary agg: watermark eviction and
    append-mode emission apply as for any windowed count). Emitted
    window rows later merge with :func:`histogram_merge` (drop the
    window columns) for arbitrary-range distribution rollups."""
    if watermark:
        df = df.withWatermark(time_col, watermark)
    b = _hist_bin(value_col, bin_width, lo, hi)
    proj = (df.where(F.col(value_col).isNotNull())
            .select(F.col(time_col), *group_cols, b))
    return (proj.groupBy(F.window(F.col(time_col), window_duration),
                         *group_cols, "bin_idx")
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("window_start"),
                    *group_cols, "bin_idx", "n"))


def histogram_merge(*register_dfs: DataFrame,
                    group_cols: list[str] | tuple[str, ...] = ()) -> DataFrame:
    """Union histogram tables (same bin_width/clamp) — element-wise
    SUM, the merge that makes pre-aggregated windows/days/partitions
    roll up without touching raw data."""
    out = register_dfs[0]
    for d in register_dfs[1:]:
        out = out.unionByName(d)
    return (out.groupBy(*group_cols, "bin_idx")
            .agg(F.sum("n").alias("n")))


def histogram_quantile(
    registers: DataFrame,
    qs: list[float] | tuple[float, ...],
    bin_width: float,
    group_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Per-group quantile estimates from a histogram table: for each q
    the upper edge of the first bin where the cumulative count reaches
    ceil(q * total) — deterministic integer threshold then one float
    multiply, so a SQL oracle reproduces it exactly. Error ≤ bin_width
    by construction. Plan: one window cum-sum partitioned by group
    (registers are already tiny) + a small cross join with the quantile
    list."""
    from pyspark.sql import Window

    for q in qs:
        if not 0 < q <= 1:
            raise ValueError(f"quantile must be in (0, 1], got {q}")
    gc = list(group_cols)
    w = (Window.partitionBy(*gc).orderBy("bin_idx")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = registers.select(
        *gc, "bin_idx",
        F.sum("n").over(w).alias("cum_n"),
        F.sum("n").over(Window.partitionBy(*gc)).alias("total_n"))
    qdf = registers.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double")
    hit = (cum.crossJoin(F.broadcast(qdf))
           .where(F.col("cum_n") >= F.ceil(F.col("q") * F.col("total_n"))))
    return (hit.groupBy(*gc, "q")
            .agg(F.min("bin_idx").alias("_b"))
            .select(*gc, "q",
                    ((F.col("_b") + 1) * F.lit(float(bin_width)))
                    .alias("q_value")))


def histogram_drift(
    windowed_registers: DataFrame,
    window_duration: str,
    group_cols: list[str] | tuple[str, ...] = (),
) -> DataFrame:
    """Distribution drift between CONSECUTIVE windows of a
    :func:`histogram_registers_windowed` table — the corpus-shift /
    data-quality alarm for a continuously ingesting pipeline (a codec
    whose value distribution jumps between hours is a misconfigured
    upstream, not more data).

    Per (group, window) the L1 distance to the previous window's
    histogram is computed in INTEGER space: with counts a_i (prev,
    total A) and b_i (cur, total B),

        drift_num = sum_i |a_i * B - b_i * A|

    which equals A*B * L1(fractions) — exact integers end to end, so a
    SQL oracle reproduces it bit-for-bit; ``drift`` is the normalized
    L1 in [0, 2] derived by one final division. Windows with no
    predecessor are omitted. Plan: the register table is tiny (windows
    × groups × bins), so this is a self-equi-join on shifted
    window_start + one agg — never touches raw rows."""
    cur = windowed_registers
    prev = (windowed_registers
            .withColumn("window_start",
                        F.col("window_start")
                        + F.expr(f"INTERVAL {window_duration}"))
            .withColumnRenamed("n", "n_prev"))
    gc = list(group_cols)
    keys = ["window_start", *gc, "bin_idx"]
    joined = (cur.join(prev, keys, "full_outer")
              .select(*keys,
                      F.coalesce("n", F.lit(0)).alias("n_cur"),
                      F.coalesce("n_prev", F.lit(0)).alias("n_prev")))
    w_tot = joined.groupBy("window_start", *gc).agg(
        F.sum("n_cur").alias("tot_cur"),
        F.sum("n_prev").alias("tot_prev"))
    out = (joined.join(w_tot, ["window_start", *gc])
           .where((F.col("tot_cur") > 0) & (F.col("tot_prev") > 0))
           .groupBy("window_start", *gc, "tot_cur", "tot_prev")
           .agg(F.sum(F.abs(F.col("n_prev") * F.col("tot_cur")
                            - F.col("n_cur") * F.col("tot_prev")))
                .alias("drift_num")))
    return out.select(
        "window_start", *gc, "tot_prev", "tot_cur", "drift_num",
        F.round(F.col("drift_num")
                / (F.col("tot_prev") * F.col("tot_cur")), 4).alias("drift"))


# ---------------------------------------------------------------------------
# Bloom filter as an open 64-bit-word register table — the membership
# counterpart to the HLL/histogram sketches: build once over a key
# column, merge by element-wise BIT_OR, probe with a broadcast join.
# The scale use-case is the runtime filter: a 10^12-row fact scan
# pre-filtered by a dimension-side bloom drops non-joining rows before
# the shuffle (the same idea as Spark's injected runtime bloom filters,
# but storable, mergeable in plain SQL, and oracle-checkable
# integer-for-integer).
# ---------------------------------------------------------------------------


def _bloom_positions(value_col: str, m_bits: int, k: int):
    """k bit positions via Kirsch–Mitzenmacher double hashing over ONE
    xxhash64: h1 = high 32 bits, h2 = (low 32 bits | 1) — odd so all
    positions cycle; position_i = (h1 + i*h2) mod m. Pure shift/mask/
    mod arithmetic with identical two's-complement semantics in DuckDB,
    so an oracle re-derives every word from pinned hashes alone."""
    if m_bits & (m_bits - 1) or m_bits < 64:
        raise ValueError(f"m_bits must be a power of two ≥ 64: {m_bits}")
    h = F.xxhash64(F.col(value_col))
    h1 = F.shiftright(h, 32).bitwiseAND(F.lit(0xFFFFFFFF))
    h2 = h.bitwiseAND(F.lit(0xFFFFFFFF)).bitwiseOR(F.lit(1))
    return [F.pmod(h1 + i * h2, F.lit(m_bits)) for i in range(k)]


def bloom_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    m_bits: int = 1 << 12,
    k: int = 4,
) -> DataFrame:
    """(group..., word_idx, bits) — Bloom filter words; absent words
    are implicitly zero (sparse, union-friendly). One narrow projection
    (k positions per row via posexplode of an array literal-sized k)
    + one BIT_OR hash agg with map-side combine; shuffle ≤ groups ×
    m_bits/64 rows regardless of input cardinality."""
    pos = _bloom_positions(value_col, m_bits, k)
    exploded = (df.select(*group_cols, F.explode(F.array(*pos))
                          .alias("bit_pos")))
    return (exploded
            .select(*group_cols,
                    F.shiftright(F.col("bit_pos"), 6).cast("long")
                     .alias("word_idx"),
                    F.expr("shiftleft(1L, cast(bit_pos % 64 as int))")
                     .alias("bit"))
            .groupBy(*group_cols, "word_idx")
            .agg(F.bit_or("bit").alias("bits")))


def bloom_merge(*register_dfs: DataFrame,
                group_cols: list[str] | tuple[str, ...] = ()) -> DataFrame:
    """Union bloom tables (same m_bits/k) — element-wise BIT_OR."""
    out = register_dfs[0]
    for d in register_dfs[1:]:
        out = out.unionByName(d)
    return (out.groupBy(*group_cols, "word_idx")
            .agg(F.bit_or("bits").alias("bits")))


def bloom_might_contain(
    registers: DataFrame,
    probes: DataFrame,
    value_col: str,
    join_cols: list[str] | tuple[str, ...] = (),
    m_bits: int = 1 << 12,
    k: int = 4,
) -> DataFrame:
    """Probe rows → (probes..., might_contain). No false negatives by
    construction; false-positive rate ≈ (1 - e^{-kn/m})^k. The register
    table is tiny (≤ m_bits/64 words per group) — Catalyst broadcasts
    it, so probing never shuffles the probe side.

    Output is one row per DISTINCT probe row (the final groupBy keys on
    every probe column) — duplicate probe rows collapse; carry an
    explicit row-id column in ``probes`` to keep them apart. Probe
    columns may not be named ``bit_pos``/``word_idx``/``bit``/``bits``
    (internal working columns) — raises on clash."""
    clash = {"bit_pos", "word_idx", "bit", "bits"} & set(probes.columns)
    if clash:
        raise ValueError(
            f"probe column collides with internal working columns: "
            f"{sorted(clash)}")
    pos = _bloom_positions(value_col, m_bits, k)
    pcols = [c for c in probes.columns]
    exploded = (probes.select(*pcols, F.explode(F.array(*pos))
                              .alias("bit_pos"))
                .withColumn("word_idx",
                            F.shiftright(F.col("bit_pos"), 6).cast("long"))
                .withColumn("bit",
                            F.expr("shiftleft(1L, "
                                   "cast(bit_pos % 64 as int))")))
    joined = exploded.join(F.broadcast(registers),
                           [*join_cols, "word_idx"], "left")
    hit = (F.coalesce(F.col("bits"), F.lit(0))
           .bitwiseAND(F.col("bit")) == F.col("bit"))
    return (joined.withColumn("__hit__", hit.cast("int"))
            .groupBy(*pcols)
            .agg((F.min("__hit__") == 1).alias("might_contain")))


# ---------------------------------------------------------------------------
# Count-min sketch as an open counter table — approximate per-key
# frequencies in bounded state: depth × width integer cells per group
# no matter how many distinct keys, merge by element-wise SUM, point
# estimate = MIN over the depth rows (one-sided error: never an
# undercount, overcount ≤ e/width × total with prob 1 - e^-depth).
# Same determinism contract as the bloom/HLL registers: one xxhash64,
# Kirsch–Mitzenmacher row positions, everything else plain integer SQL.
# ---------------------------------------------------------------------------


def _cms_cells(value_col: str, width: int, depth: int):
    """depth (row_idx, col_idx) pairs per input row."""
    if width & (width - 1) or width < 2:
        raise ValueError(f"width must be a power of two ≥ 2: {width}")
    h = F.xxhash64(F.col(value_col))
    h1 = F.shiftright(h, 32).bitwiseAND(F.lit(0xFFFFFFFF))
    h2 = h.bitwiseAND(F.lit(0xFFFFFFFF)).bitwiseOR(F.lit(1))
    return [F.struct(F.lit(d).cast("long").alias("row_idx"),
                     F.pmod(h1 + d * h2, F.lit(width)).cast("long")
                     .alias("col_idx"))
            for d in range(depth)]


def cms_registers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    width: int = 1 << 10,
    depth: int = 4,
) -> DataFrame:
    """(group..., row_idx, col_idx, n) — the CMS counter table; cells
    never touched stay implicitly zero (sparse). One narrow projection
    + explode(depth) + COUNT hash agg with map-side combine; shuffle
    ≤ groups × depth × width rows regardless of input size."""
    cells = _cms_cells(value_col, width, depth)
    return (df.select(*group_cols, F.explode(F.array(*cells))
                      .alias("c"))
            .select(*group_cols, F.col("c.row_idx"), F.col("c.col_idx"))
            .groupBy(*group_cols, "row_idx", "col_idx")
            .agg(F.count("*").alias("n")))


def cms_merge(*register_dfs: DataFrame,
              group_cols: list[str] | tuple[str, ...] = ()) -> DataFrame:
    """Union CMS tables (same width/depth) — element-wise SUM."""
    out = register_dfs[0]
    for d in register_dfs[1:]:
        out = out.unionByName(d)
    return (out.groupBy(*group_cols, "row_idx", "col_idx")
            .agg(F.sum("n").alias("n")))


def cms_estimate(
    registers: DataFrame,
    probes: DataFrame,
    value_col: str,
    join_cols: list[str] | tuple[str, ...] = (),
    width: int = 1 << 10,
    depth: int = 4,
) -> DataFrame:
    """Probe rows → (probes..., est_count) = MIN over the depth cells.
    The register table is tiny — broadcast — so probing never shuffles
    the probe side; absent cells read as zero."""
    cells = _cms_cells(value_col, width, depth)
    pcols = list(probes.columns)
    exploded = (probes.select(*pcols, F.explode(F.array(*cells))
                              .alias("c"))
                .select(*pcols, F.col("c.row_idx"), F.col("c.col_idx")))
    joined = exploded.join(F.broadcast(registers),
                           [*join_cols, "row_idx", "col_idx"], "left")
    return (joined
            .groupBy(*pcols)
            .agg(F.min(F.coalesce(F.col("n"), F.lit(0)))
                 .alias("est_count")))


def bloom_registers_windowed(
    df: DataFrame,
    time_col: str,
    window_duration: str,
    value_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    m_bits: int = 1 << 12,
    k: int = 4,
    watermark: str | None = None,
) -> DataFrame:
    """Per-event-time-window bloom words — identical plan batch or
    streaming (BIT_OR is an ordinary agg: watermark eviction and
    append-mode emission apply as for any windowed count). Emitted
    window rows later merge with :func:`bloom_merge` (drop the window
    column) for arbitrary-range membership rollups — e.g. "was this
    clip_id ingested during any hour of last week" without raw data."""
    if watermark:
        df = df.withWatermark(time_col, watermark)
    pos = _bloom_positions(value_col, m_bits, k)
    proj = (df.select(F.col(time_col), *group_cols,
                      F.explode(F.array(*pos)).alias("bit_pos"))
            .select(F.col(time_col), *group_cols,
                    F.shiftright(F.col("bit_pos"), 6).cast("long")
                     .alias("word_idx"),
                    F.expr("shiftleft(1L, cast(bit_pos % 64 as int))")
                     .alias("bit")))
    return (proj.groupBy(F.window(F.col(time_col), window_duration),
                         *group_cols, "word_idx")
            .agg(F.bit_or("bit").alias("bits"))
            .select(F.col("window.start").alias("window_start"),
                    *group_cols, "word_idx", "bits"))


def cms_registers_windowed(
    df: DataFrame,
    time_col: str,
    window_duration: str,
    value_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    width: int = 1 << 10,
    depth: int = 4,
    watermark: str | None = None,
) -> DataFrame:
    """Per-event-time-window CMS counters — the streaming frequency
    sketch (hot-key detection per hour in depth×width state). Window
    rows merge with :func:`cms_merge` for range rollups."""
    if watermark:
        df = df.withWatermark(time_col, watermark)
    cells = _cms_cells(value_col, width, depth)
    proj = (df.select(F.col(time_col), *group_cols,
                      F.explode(F.array(*cells)).alias("c"))
            .select(F.col(time_col), *group_cols,
                    F.col("c.row_idx"), F.col("c.col_idx")))
    return (proj.groupBy(F.window(F.col(time_col), window_duration),
                         *group_cols, "row_idx", "col_idx")
            .agg(F.count("*").alias("n"))
            .select(F.col("window.start").alias("window_start"),
                    *group_cols, "row_idx", "col_idx", "n"))


# -- bottom-k sample sketch (mergeable uniform sample / quantiles) -------

_BK_INTERNAL = {"hk", "rk"}


def bottomk_sample(
    df: DataFrame,
    id_col: str,
    value_cols: list[str] | tuple[str, ...],
    group_cols: list[str] | tuple[str, ...] = (),
    k: int = 64,
) -> DataFrame:
    """(group_cols..., rk, hk, id_col, value_cols...) — the ``k`` rows
    whose ``md5(id)`` hashes smallest per group: a bottom-k / KMV
    sketch (Bar-Yossef et al. 2002) carrying payload columns, i.e. a
    MERGEABLE deterministic uniform row sample.

    Why this beats ``TABLESAMPLE`` / ``rand()`` at 10^12 rows: the
    sample is a pure function of the ids (reproducible across runs,
    engines, and retries — the md5 hex order is identical in Spark
    and DuckDB, so an oracle can replay the exact selection), its
    state is ≤ k rows per group no matter the input size, and
    bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) exactly —
    per-partition, per-day, or per-table sketches union for free
    (:func:`bottomk_merge`), the property rand() sampling lacks.

    Plan shape: one narrow projection, then ``row_number() <= k``
    which Spark compiles to WindowGroupLimit — each map task keeps
    only its local bottom-k BEFORE the exchange, so shuffle volume is
    ≤ tasks × k rows regardless of input size.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    clash = _BK_INTERNAL & set(df.columns)
    if clash:
        raise ValueError(
            f"bottomk_sample input may not contain internal column "
            f"names {sorted(clash)}")
    from pyspark.sql.window import Window

    hk = F.md5(F.col(id_col).cast("string")).alias("hk")
    w = (Window.partitionBy(*[F.col(c) for c in group_cols])
         .orderBy(F.col("hk"), F.col(id_col)))
    return (df.select(*group_cols, F.col(id_col), *value_cols, hk)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(*group_cols, "rk", "hk", id_col, *value_cols))


def bottomk_merge(
    *sample_dfs: DataFrame,
    id_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    k: int = 64,
) -> DataFrame:
    """Union bottom-k sketches and re-take the global bottom-k. The
    stored ``hk`` is reused (never recomputed), so merging is pure
    window algebra over ≤ inputs × k rows per group."""
    from functools import reduce

    from pyspark.sql.window import Window

    uni = reduce(lambda a, b: a.unionByName(b), sample_dfs)
    w = (Window.partitionBy(*[F.col(c) for c in group_cols])
         .orderBy(F.col("hk"), F.col(id_col)))
    return (uni.drop("rk")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(*sample_dfs[0].columns))


def bottomk_quantiles(
    sample_df: DataFrame,
    value_col: str,
    id_col: str,
    group_cols: list[str] | tuple[str, ...] = (),
    probs_permille: tuple[int, ...] = (500, 900, 990),
) -> DataFrame:
    """(group_cols..., p_permille, q_value) — nearest-rank quantile
    estimates read off a :func:`bottomk_sample` (or any ≤-sample-sized
    DataFrame): element at 1-based rank ``1 + (p·(n−1)) div 1000`` of
    the sample ordered by (value, id). All-integer algebra (true
    ``div``, no doubles), so a SQL oracle reproduces the estimates
    bit-for-bit; the estimate's accuracy is the standard bottom-k
    guarantee (uniform sample of size k → rank error O(n/√k)).

    The input is sketch-sized (≤ k rows per group), so the window
    sort and the ×|probs| explode are over k rows, never the corpus.
    """
    bad = [p for p in probs_permille if not 0 <= int(p) <= 1000]
    if bad:
        raise ValueError(
            f"probs_permille must be in [0, 1000] (permille), got {bad}"
            " — a larger value maps to a rank past the sample and the"
            " row would silently vanish")
    clash = {"vr", "n", "p_permille", "q_value"} & set(sample_df.columns)
    if clash:
        raise ValueError(
            f"bottomk_quantiles input may not contain internal "
            f"column names {sorted(clash)}")
    from pyspark.sql.window import Window

    gb = [F.col(c) for c in group_cols]
    w = Window.partitionBy(*gb).orderBy(F.col(value_col), F.col(id_col))
    wn = (Window.partitionBy(*gb)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    ranked = (sample_df
              .withColumn("vr", F.row_number().over(w))
              .withColumn("n", F.count(F.lit(1)).over(wn)))
    probs = F.explode(
        F.array(*[F.lit(int(p)) for p in probs_permille])).alias("p_permille")
    return (ranked.select(*group_cols, "vr", "n",
                          F.col(value_col).alias("q_value"), probs)
            .filter(F.expr("vr = 1 + (p_permille * (n - 1)) div 1000"))
            .select(*group_cols, "p_permille", "q_value"))


def _mg_merge(acc, vc, k: int):
    """One Misra-Gries MERGE-REDUCE step over pandas Series of counts
    indexed by key: add ``vc`` into ``acc`` (None = empty), and when
    more than ``k`` keys remain subtract the (k+1)-th largest count and
    keep the positives. Counts stay int64: ``Series.add`` with
    ``fill_value`` aligns through NaN and so adds in float64, exact
    only below 2^53; reindexing both sides with an integer fill first
    keeps the sum integral."""
    if acc is not None:
        keys = acc.index.union(vc.index)
        vc = acc.reindex(keys, fill_value=0) + vc.reindex(keys, fill_value=0)
    acc = vc.astype("int64")
    if len(acc) > k:
        acc = acc - acc.nlargest(k + 1).iloc[-1]
        acc = acc[acc > 0]
    return acc


def mg_summaries(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries frequency summaries: ≤ ``k`` rows
    ``(key_col, __lb)`` per input partition, where ``__lb`` is a
    LOWER BOUND on the key's count in that partition understating it
    by at most ``partition_rows / (k + 1)`` (Misra & Gries 1982;
    merged per Arrow batch with the MERGE-REDUCE rule of Agarwal et
    al., "Mergeable Summaries": add counts, subtract the (k+1)-th
    largest, keep positives — each subtraction of ``d`` retires ≥
    ``(k+1)·d`` stored mass, which is what bounds the total
    understatement).

    Python boundary: this is the one sketch whose fold is inherently
    sequential, so it runs via ``mapInPandas`` — per Arrow batch one
    vectorized ``value_counts`` + one vectorized Series add/filter
    over a ≤ ``k + batch_distinct`` accumulator; no per-row Python.
    NULL keys are excluded (documented; a frequency of NULLs is a
    null-count, not a heavy hitter).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if "__lb" in df.columns:
        raise ValueError("input may not contain internal column __lb")
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    keyed = df.select(key_col).where(F.col(key_col).isNotNull())
    out_schema = StructType([keyed.schema.fields[0],
                             StructField("__lb", LongType())])

    def fold(batches):
        acc = None
        for pdf in batches:
            acc = _mg_merge(acc, pdf[key_col].value_counts(), k)
        if acc is not None and len(acc):
            yield pd.DataFrame({key_col: acc.index, "__lb": acc.values})

    return keyed.mapInPandas(fold, out_schema)


def heavy_hitters(df: DataFrame, key_col: str,
                  threshold_permille: int, slack: int = 2) -> DataFrame:
    """EXACT heavy hitters — every key whose frequency strictly
    exceeds ``threshold_permille``/1000 of the non-null rows, with its
    exact count and ``share_permille`` (integer div) — computed
    WITHOUT ever shuffling the full key space.

    Two passes:

    1. candidates: per-partition Misra-Gries summaries of size
       ``k = slack · ceil(1000 / threshold_permille)``. Union of
       summaries understates a key's global count by at most
       ``total / (k+1) < total · threshold/1000``, so every true
       heavy hitter survives with ``__lb > 0`` — the candidate set
       is a PROVEN superset (swept in tests), sized ≤ partitions × k
       regardless of cardinality.
    2. verify: broadcast the candidate keys, exact-count only them
       (map-side combine → ≤ |candidates| rows per partition cross
       the wire), keep those above threshold.

    The output is therefore exact and split/partitioning-invariant —
    a plain GROUP-BY/HAVING oracle matches bit-for-bit — while the
    shuffle volume is bounded by ``partitions × k + |candidates|``
    rows: at 10^12 tokens an exact token-frequency HAVING would
    shuffle the whole vocabulary; this shuffles a few thousand rows.
    ``slack ≥ 1`` only tightens summaries (smaller decrements, fewer
    false candidates); correctness needs just ``k ≥ 1000/threshold``.
    """
    thr = int(threshold_permille)
    if not 1 <= thr <= 1000:
        raise ValueError(
            f"threshold_permille must be in [1, 1000], got {thr}")
    if slack < 1:
        raise ValueError(f"slack must be >= 1, got {slack}")
    k = slack * math.ceil(1000 / thr)
    # only key_col is selected, so the clash that matters is the key
    # itself colliding with an output/internal name
    if key_col in {"n", "share_permille", "__total", "__lb"}:
        raise ValueError(
            f"key_col may not be named one of the internal/output "
            f"columns ('n', 'share_permille', '__total', '__lb'); "
            f"got {key_col!r} — alias it first")
    keyed = df.select(key_col).where(F.col(key_col).isNotNull())
    candidates = mg_summaries(keyed, key_col, k) \
        .select(key_col).distinct()
    total = keyed.agg(F.count(F.lit(1)).alias("__total"))
    counted = (keyed.join(F.broadcast(candidates), key_col)
               .groupBy(key_col).agg(F.count(F.lit(1)).alias("n")))
    return (counted.crossJoin(F.broadcast(total))
            .where(F.expr(f"n * 1000 > __total * {thr}"))
            .withColumn("share_permille",
                        F.expr("n * 1000 div __total").cast("long"))
            .drop("__total"))
