"""HyperLogLog register-table sketch: twin-exact construction,
merge-by-MAX identity, estimate accuracy on known cardinalities."""

from __future__ import annotations

import pytest

from dataflow_flex_templates_spark.operators.sketch import (
    hll_error_bound,
    hll_estimate,
    hll_merge,
    hll_registers,
)


@pytest.fixture(scope="module")
def spark():
    from dataflow_flex_templates_spark.session import get_spark

    s = get_spark("test-sketch", cores=4)
    yield s


def _py_registers(values, p=6):
    from dataflow_flex_templates_spark.testing.xxh import xxh64_long

    regs = {}
    for v in values:
        u = xxh64_long(v) & ((1 << 64) - 1)
        idx = u >> (64 - p)
        sfx = u & ((1 << (64 - p)) - 1)
        rho = (64 - p) + 1 if sfx == 0 else (64 - p) - sfx.bit_length() + 1
        regs[idx] = max(regs.get(idx, 0), rho)
    return regs


def test_registers_match_python_twin(spark):
    vals = [i * 37 for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r["reg_idx"]: r["max_rho"]
           for r in hll_registers(df, "v").collect()}
    assert got == _py_registers(vals)


def test_merge_equals_whole_and_partitioning_invariance(spark):
    vals = list(range(2000))
    whole = spark.createDataFrame([(v,) for v in vals], "v long")
    a = whole.filter("v % 3 = 0")
    b = whole.filter("v % 3 != 0")
    merged = hll_merge(hll_registers(a, "v"), hll_registers(b, "v"))
    direct = hll_registers(whole.repartition(7), "v")
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, direct.collect())))


def test_windowed_registers_streaming_parity(spark, tmp_path):
    """hll_registers_windowed is the SAME plan batch and streaming:
    every window the append-mode stream emits carries exactly the
    batch-computed registers for that window, and all non-final
    windows are emitted (watermark closes them)."""
    import os

    import pandas as pd

    from dataflow_flex_templates_spark.operators.sketch import (
        hll_registers_windowed,
    )

    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = [(base + pd.Timedelta(seconds=i), (i * 13) % 97)
            for i in range(600)]
    pdf = pd.DataFrame(rows, columns=["ts", "uid"])
    inp = str(tmp_path / "in")
    chunk = 120
    for i in range(0, len(pdf), chunk):  # chronological files
        spark.createDataFrame(pdf.iloc[i:i + chunk],
                              schema="ts timestamp, uid long") \
            .coalesce(1).write.mode("append").parquet(inp)

    batch_df = spark.read.parquet(inp)
    batch = {(r["window_start"], r["reg_idx"]): r["max_rho"]
             for r in hll_registers_windowed(
                 batch_df, "ts", "1 minute", "uid").collect()}

    stream = (spark.readStream.schema("ts timestamp, uid long")
              .option("maxFilesPerTrigger", 1).parquet(inp))
    agg = hll_registers_windowed(stream, "ts", "1 minute", "uid",
                                 watermark="30 seconds")
    out = str(tmp_path / "out")
    q = (agg.writeStream.outputMode("append").format("parquet")
         .option("path", out)
         .option("checkpointLocation", os.path.join(str(tmp_path), "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(600)

    emitted = {(r["window_start"], r["reg_idx"]): r["max_rho"]
               for r in spark.read.parquet(out).collect()}
    assert emitted, "no windows closed under the watermark"
    for k, v in emitted.items():
        assert batch[k] == v
    # every window except those the final watermark can't close is out
    final_wm = max(pdf["ts"]) - pd.Timedelta(seconds=30)
    closed = {ws for ws, _ in batch
              if ws + pd.Timedelta(minutes=1) <= final_wm.tz_localize(
                  None if ws.tzinfo is None else "UTC")}
    assert closed <= {ws for ws, _ in emitted}


@pytest.mark.parametrize("n_distinct", [10, 150, 3000])
def test_estimate_accuracy(spark, n_distinct):
    rows = [(i % n_distinct, "g") for i in range(3 * n_distinct)]
    df = spark.createDataFrame(rows, "v long, g string")
    est = hll_estimate(hll_registers(df, "v", ["g"]),
                       ["g"]).collect()[0]["approx_distinct"]
    # 3x the typical relative standard error (1.04/sqrt(64) ≈ 13%)
    assert abs(est - n_distinct) <= max(3, 3 * hll_error_bound(6) * n_distinct)


# --- fixed-width histogram sketch ---


def test_histogram_matches_python_twin(spark):
    import math

    from dataflow_flex_templates_spark.operators.sketch import (
        histogram_registers,
    )

    vals = [0.01 * i * i for i in range(300)] + [None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {r["bin_idx"]: r["n"]
           for r in histogram_registers(df, "v", 0.5).collect()}
    want: dict[int, int] = {}
    for v in vals:
        if v is None:
            continue
        b = math.floor(v / 0.5)
        want[b] = want.get(b, 0) + 1
    assert got == want


def test_histogram_merge_identity_and_clamp(spark):
    from dataflow_flex_templates_spark.operators.sketch import (
        histogram_merge,
        histogram_registers,
    )

    vals = [(float(i % 97), "g") for i in range(1000)]
    whole = spark.createDataFrame(vals, "v double, g string")
    a, b = whole.filter("v < 40"), whole.filter("v >= 40")
    kw = dict(bin_width=2.0, group_cols=["g"], lo=0.0, hi=50.0)
    merged = histogram_merge(histogram_registers(a, "v", **kw),
                             histogram_registers(b, "v", **kw),
                             group_cols=["g"])
    direct = histogram_registers(whole.repartition(5), "v", **kw)
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, direct.collect())))
    # clamping bounds the state: no bin beyond hi/bin_width
    assert max(r["bin_idx"] for r in direct.collect()) <= 25


def test_histogram_quantile_within_bin_width(spark):
    import numpy as np

    from dataflow_flex_templates_spark.operators.sketch import (
        histogram_quantile,
        histogram_registers,
    )

    rng = np.random.RandomState(7)
    vals = rng.gamma(3.0, 50.0, size=5000)
    df = spark.createDataFrame([(float(v), "g") for v in vals],
                               "v double, g string")
    regs = histogram_registers(df, "v", 5.0, ["g"])
    out = {r["q"]: r["q_value"]
           for r in histogram_quantile(regs, [0.5, 0.95, 0.99], 5.0,
                                       ["g"]).collect()}
    for q in (0.5, 0.95, 0.99):
        exact = float(np.quantile(vals, q))
        assert abs(out[q] - exact) <= 5.0 + 1e-9, (q, out[q], exact)


def test_histogram_drift_integer_twin_and_alarm(spark):
    """drift_num == the python integer formula on every consecutive
    window pair, and a deliberately shifted window shows much larger
    drift than a same-distribution one."""
    import math

    import pandas as pd

    from dataflow_flex_templates_spark.operators.sketch import (
        histogram_drift,
        histogram_registers_windowed,
    )

    base = pd.Timestamp("2026-01-01")
    rows = []
    for i in range(900):
        w = i % 3  # three 1-minute windows
        # windows 0 and 1 share a distribution; window 2 is shifted
        v = float((i * 7) % 50) + (200.0 if w == 2 else 0.0)
        rows.append((base + pd.Timedelta(minutes=w, seconds=i % 60), v))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["ts", "v"]),
                               schema="ts timestamp, v double")
    regs = histogram_registers_windowed(df, "ts", "1 minute", "v", 10.0)
    got = {r["window_start"]: (r["tot_prev"], r["tot_cur"], r["drift_num"],
                               r["drift"])
           for r in histogram_drift(regs, "1 minute").collect()}

    # python twin
    hists: dict = {}
    for ts, v in rows:
        w = ts.floor("min")
        hists.setdefault(w, {})
        b = math.floor(v / 10.0)
        hists[w][b] = hists[w].get(b, 0) + 1
    want = {}
    for w, h in hists.items():
        p = hists.get(w - pd.Timedelta(minutes=1))
        if not p:
            continue
        ta, tb = sum(p.values()), sum(h.values())
        num = sum(abs(p.get(b, 0) * tb - h.get(b, 0) * ta)
                  for b in set(p) | set(h))
        want[w] = (ta, tb, num, round(num / (ta * tb), 4))
    assert set(got) == {w.to_pydatetime() for w in want}
    for w, exp in want.items():
        assert got[w.to_pydatetime()] == exp
    drifts = sorted(v[3] for v in want.values())
    assert drifts[0] < 0.1 and drifts[-1] > 1.5  # stable pair vs shift


def test_bloom_no_false_negatives_and_fp_bound(spark):
    """Every inserted key probes true (bloom guarantee); absent-key
    false-positive rate stays within 3x the theoretical
    (1-e^{-kn/m})^k."""
    import math

    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.operators.sketch import (
        bloom_might_contain,
        bloom_registers,
    )

    m_bits, k, n = 1 << 12, 4, 200
    keys = spark.range(0, n).select(F.col("id").cast("long")
                                    .alias("user_id"))
    reg = bloom_registers(keys, "user_id", m_bits=m_bits, k=k)
    present = bloom_might_contain(reg, keys, "user_id",
                                  m_bits=m_bits, k=k).collect()
    assert all(r["might_contain"] for r in present)

    absent = spark.range(1_000_000, 1_003_000).select(
        F.col("id").cast("long").alias("user_id"))
    fp = sum(r["might_contain"] for r in bloom_might_contain(
        reg, absent, "user_id", m_bits=m_bits, k=k).collect())
    theo = (1 - math.exp(-k * n / m_bits)) ** k
    assert fp / 3000 <= max(3 * theo, 0.01), (fp, theo)


def test_bloom_merge_equals_whole(spark):
    """BIT_OR merge of per-slice bloom tables equals the whole-input
    table — the union-across-partitions/days property."""
    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.operators.sketch import (
        bloom_merge,
        bloom_registers,
    )

    df = spark.range(0, 500).select(
        F.col("id").cast("long").alias("user_id"),
        (F.col("id") % 3).cast("string").alias("g"))
    whole = bloom_registers(df, "user_id", ["g"])
    parts = [bloom_registers(df.filter(F.col("user_id") % 2 == i),
                             "user_id", ["g"]) for i in (0, 1)]
    merged = bloom_merge(*parts, group_cols=["g"])
    a = {(r["g"], r["word_idx"]): r["bits"] for r in whole.collect()}
    b = {(r["g"], r["word_idx"]): r["bits"] for r in merged.collect()}
    assert a == b


def test_cms_one_sided_error_and_merge(spark):
    """CMS never undercounts; overcount stays within the e/width bound
    at 95%+ of keys; SUM-merge of slices equals the whole table; and
    estimates match a per-key ground truth on a skewed stream."""
    import math

    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.operators.sketch import (
        cms_estimate,
        cms_merge,
        cms_registers,
    )

    width, depth = 1 << 10, 4
    # skewed frequencies: key i appears (i % 50) + 1 times
    df = (spark.range(0, 300)
          .select(F.col("id").cast("long").alias("user_id"),
                  ((F.col("id") % 50) + 1).alias("reps"))
          .select("user_id",
                  F.explode(F.sequence(F.lit(1), F.col("reps"))))
          .select("user_id"))
    total = df.count()
    truth = {r["user_id"]: r["c"] for r in
             df.groupBy("user_id").agg(F.count("*").alias("c")).collect()}

    reg = cms_registers(df, "user_id", width=width, depth=depth)
    probes = df.select("user_id").distinct()
    est = {r["user_id"]: r["est_count"] for r in
           cms_estimate(reg, probes, "user_id", width=width,
                        depth=depth).collect()}
    bound = math.e / width * total
    over = 0
    for k, t in truth.items():
        assert est[k] >= t, (k, est[k], t)       # one-sided guarantee
        if est[k] - t > bound:
            over += 1
    assert over / len(truth) < 0.05

    parts = [cms_registers(df.filter(F.col("user_id") % 2 == i),
                           "user_id", width=width, depth=depth)
             for i in (0, 1)]
    merged = {(r["row_idx"], r["col_idx"]): r["n"]
              for r in cms_merge(*parts).collect()}
    whole = {(r["row_idx"], r["col_idx"]): r["n"] for r in reg.collect()}
    assert merged == whole


def test_bloom_cms_windowed_streaming_parity(spark, tmp_path):
    """bloom/cms windowed register tables are the SAME plan batch and
    streaming; emitted windows match the batch registers exactly, and
    merging window rows reproduces the all-time sketch."""
    import os

    import pandas as pd

    from dataflow_flex_templates_spark.operators.sketch import (
        bloom_merge,
        bloom_registers,
        bloom_registers_windowed,
        cms_merge,
        cms_registers,
        cms_registers_windowed,
    )

    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = [(base + pd.Timedelta(seconds=i), (i * 7) % 83)
            for i in range(600)]
    pdf = pd.DataFrame(rows, columns=["ts", "uid"])
    inp = str(tmp_path / "in")
    for i in range(0, len(pdf), 120):
        spark.createDataFrame(pdf.iloc[i:i + 120],
                              schema="ts timestamp, uid long") \
            .coalesce(1).write.mode("append").parquet(inp)
    batch_df = spark.read.parquet(inp)

    for name, windowed, whole, merge, keycols, valcol in [
        ("bloom",
         lambda d, **kw: bloom_registers_windowed(
             d, "ts", "1 minute", "uid", m_bits=1 << 10, k=3, **kw),
         lambda d: bloom_registers(d, "uid", m_bits=1 << 10, k=3),
         bloom_merge, ["word_idx"], "bits"),
        ("cms",
         lambda d, **kw: cms_registers_windowed(
             d, "ts", "1 minute", "uid", width=1 << 8, depth=3, **kw),
         lambda d: cms_registers(d, "uid", width=1 << 8, depth=3),
         cms_merge, ["row_idx", "col_idx"], "n"),
    ]:
        batch = {tuple(r[c] for c in ("window_start", *keycols)):
                 r[valcol] for r in windowed(batch_df).collect()}
        stream = (spark.readStream.schema("ts timestamp, uid long")
                  .option("maxFilesPerTrigger", 1).parquet(inp))
        out = str(tmp_path / f"out_{name}")
        q = (windowed(stream, watermark="30 seconds")
             .writeStream.outputMode("append").format("parquet")
             .option("path", out)
             .option("checkpointLocation",
                     os.path.join(str(tmp_path), f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(600)
        emitted = {tuple(r[c] for c in ("window_start", *keycols)):
                   r[valcol] for r in spark.read.parquet(out).collect()}
        assert emitted, f"{name}: no windows closed"
        for kk, v in emitted.items():
            assert batch[kk] == v, (name, kk)
        # window rows merge back to the all-time sketch
        merged = {tuple(r[c] for c in keycols): r[valcol]
                  for r in merge(
                      windowed(batch_df).drop("window_start")).collect()}
        allt = {tuple(r[c] for c in keycols): r[valcol]
                for r in whole(batch_df).collect()}
        assert merged == allt, name


# -- bottom-k sample sketch ----------------------------------------------


def _bk_twin(rows, k=4):
    """Python twin of bottomk_sample: k smallest (md5(id), id) per g."""
    import hashlib

    by_g = {}
    for g, i, v in rows:
        hk = hashlib.md5(str(i).encode()).hexdigest()
        by_g.setdefault(g, []).append((hk, i, v))
    out = {}
    for g, lst in by_g.items():
        lst.sort()
        out[g] = [(rk + 1, hk, i, v)
                  for rk, (hk, i, v) in enumerate(lst[:k])]
    return out


def test_bottomk_sample_twin_merge_and_plan(spark):
    from dataflow_flex_templates_spark.operators.sketch import (
        bottomk_merge,
        bottomk_sample,
    )

    rows = [("a", i, i * 7 % 23) for i in range(40)] + \
           [("b", 1000 + i, i) for i in range(9)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    got = bottomk_sample(df, "id", ["v"], group_cols=["g"], k=4)
    # WindowGroupLimit: map tasks keep local bottom-k pre-exchange
    assert "WindowGroupLimit" in got._jdf.queryExecution().executedPlan() \
        .toString()
    want = _bk_twin(rows, k=4)
    by_g = {}
    for r in got.collect():
        by_g.setdefault(r["g"], []).append(
            (r["rk"], r["hk"], r["id"], r["v"]))
    assert {g: sorted(v) for g, v in by_g.items()} == want
    # mergeability: bottom-k(A ∪ B) == merge(bottom-k(A), bottom-k(B))
    a = bottomk_sample(df.filter("id % 2 = 0"), "id", ["v"],
                       group_cols=["g"], k=4)
    b = bottomk_sample(df.filter("id % 2 = 1"), "id", ["v"],
                       group_cols=["g"], k=4)
    merged = bottomk_merge(a, b, id_col="id", group_cols=["g"], k=4)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, got.collect()))


def test_bottomk_quantiles_exact_when_k_covers_group(spark):
    from dataflow_flex_templates_spark.operators.sketch import (
        bottomk_quantiles,
        bottomk_sample,
    )

    rows = [("g1", i, (i * 13) % 101) for i in range(25)]
    df = spark.createDataFrame(rows, "g string, id long, v long")
    samp = bottomk_sample(df, "id", ["v"], group_cols=["g"], k=64)
    got = {(r["g"], r["p_permille"]): r["q_value"]
           for r in bottomk_quantiles(
               samp, "v", "id", group_cols=["g"]).collect()}
    vals = sorted(((i * 13) % 101, i) for i in range(25))
    n = len(vals)
    for p in (500, 900, 990):
        want = vals[(p * (n - 1)) // 1000][0]
        assert got[("g1", p)] == want, p


def test_bottomk_quantile_accuracy_on_subsample(spark):
    from dataflow_flex_templates_spark.operators.sketch import (
        bottomk_quantiles,
        bottomk_sample,
    )

    n = 4000
    rows = [("g", i, i) for i in range(n)]  # v uniform 0..n-1
    df = spark.createDataFrame(rows, "g string, id long, v long")
    samp = bottomk_sample(df, "id", ["v"], group_cols=["g"], k=256)
    got = {r["p_permille"]: r["q_value"]
           for r in bottomk_quantiles(
               samp, "v", "id", group_cols=["g"]).collect()}
    # uniform values: sample rank error O(n/sqrt(k)) -> generous 4x
    tol = 4 * n / (256 ** 0.5)
    for p in (500, 900, 990):
        true_q = p * (n - 1) // 1000
        assert abs(got[p] - true_q) <= tol, (p, got[p], true_q)


def test_bottomk_internal_column_clash_raises(spark):
    import pytest as _pytest

    from dataflow_flex_templates_spark.operators.sketch import (
        bottomk_quantiles,
        bottomk_sample,
    )

    df = spark.createDataFrame([("a", 1, 2)], "g string, id long, rk long")
    with _pytest.raises(ValueError, match="internal column"):
        bottomk_sample(df, "id", ["rk"], group_cols=["g"])
    df2 = spark.createDataFrame([("a", 1, 2)], "g string, id long, vr long")
    with _pytest.raises(ValueError, match="internal"):
        bottomk_quantiles(df2, "vr", "id", group_cols=["g"])


def test_bottomk_quantiles_rejects_out_of_range_permille(spark):
    import pytest as _pytest

    from dataflow_flex_templates_spark.operators.sketch import (
        bottomk_quantiles,
        bottomk_sample,
    )

    df = spark.createDataFrame([("a", 1, 2)], "g string, id long, v long")
    samp = bottomk_sample(df, "id", ["v"], group_cols=["g"])
    with _pytest.raises(ValueError, match="permille"):
        bottomk_quantiles(samp, "v", "id", group_cols=["g"],
                          probs_permille=(500, 1500))


# ---- Misra-Gries exact heavy hitters -------------------------------


def _exact_hh(spark, df, key, thr):
    from pyspark.sql import functions as F

    keyed = df.select(key).where(F.col(key).isNotNull())
    total = keyed.count()
    return sorted(
        (r[key], r["n"], r["n"] * 1000 // total)
        for r in keyed.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
        .collect() if r["n"] * 1000 > total * thr)


def test_heavy_hitters_skewed_exact(spark):
    """Zipf-ish skew across 8 partitions at a marginal threshold:
    output == plain GROUP-BY/HAVING exactly (counts AND permilles)."""
    import random

    from dataflow_flex_templates_spark.operators.sketch import (
        heavy_hitters,
    )

    rng = random.Random(7)
    # 20k rows: 3 hot keys ~10% each, 2 marginal ~1%, tail of 5000
    rows = []
    for _ in range(20_000):
        u = rng.random()
        if u < 0.30:
            rows.append(f"hot{int(u * 10)}",)
        elif u < 0.32:
            rows.append(f"marginal{int((u - 0.30) * 100)}",)
        else:
            rows.append(f"tail{rng.randrange(5000)}",)
    df = spark.createDataFrame([(w,) for w in rows], "word string") \
        .repartition(8)
    got = sorted(map(tuple, heavy_hitters(df, "word", 10).collect()))
    assert got == _exact_hh(spark, df, "word", 10)
    assert any(k.startswith("hot") for k, _, _ in got)


def test_heavy_hitters_truncation_pressure(spark):
    """k far below the distinct-key count (threshold 100 permille →
    k=20 vs 5000 tail keys): summaries truncate constantly and the
    hot key must still surface with its exact count."""
    import random

    from dataflow_flex_templates_spark.operators.sketch import (
        heavy_hitters,
        mg_summaries,
    )

    rng = random.Random(13)
    rows = [("HOT",) if rng.random() < 0.3
            else (f"t{rng.randrange(5000)}",) for _ in range(10_000)]
    df = spark.createDataFrame(rows, "word string").repartition(4)
    got = sorted(map(tuple, heavy_hitters(df, "word", 100).collect()))
    assert got == _exact_hh(spark, df, "word", 100)
    assert [k for k, _, _ in got] == ["HOT"]
    # candidate machinery stayed bounded: ≤ partitions × k rows
    summ = mg_summaries(df, "word", 20)
    assert summ.count() <= 4 * 20


def test_heavy_hitters_uniform_empty(spark):
    """Uniform 100-key input at threshold 20 permille (uniform share
    is 10): no key qualifies, and no false positive appears."""
    from dataflow_flex_templates_spark.operators.sketch import (
        heavy_hitters,
    )

    rows = [(f"k{i % 100}",) for i in range(5000)]
    df = spark.createDataFrame(rows, "word string").repartition(6)
    assert heavy_hitters(df, "word", 20).count() == 0


def test_heavy_hitters_nulls_and_types(spark):
    """NULL keys are excluded from both counting and the total; long
    keys keep their type through the Arrow summary path."""
    from dataflow_flex_templates_spark.operators.sketch import (
        heavy_hitters,
    )

    rows = [(7,)] * 60 + [(None,)] * 40 + [(1,), (2,), (3,), (4,)]
    df = spark.createDataFrame(rows, "uid long")
    got = {r["uid"]: (r["n"], r["share_permille"])
           for r in heavy_hitters(df, "uid", 500).collect()}
    # total is 64 non-null rows; 7 has 60/64 = 937 permille
    assert got == {7: (60, 937)}
    assert isinstance(next(iter(got)), int)


def test_heavy_hitters_guards(spark):
    import pytest

    from dataflow_flex_templates_spark.operators.sketch import (
        heavy_hitters,
        mg_summaries,
    )

    df = spark.createDataFrame([("a",)], "word string")
    with pytest.raises(ValueError, match="threshold_permille"):
        heavy_hitters(df, "word", 0)
    with pytest.raises(ValueError, match="slack"):
        heavy_hitters(df, "word", 10, slack=0)
    with pytest.raises(ValueError, match="alias it first"):
        heavy_hitters(df.withColumnRenamed("word", "n"), "n", 10)
    with pytest.raises(ValueError, match="k must be"):
        mg_summaries(df, "word", 0)
    with pytest.raises(ValueError, match="__lb"):
        mg_summaries(df.withColumn("__lb", df.word), "word", 5)


def test_mg_summary_lower_bound_guarantee(spark):
    """The MG contract the exactness proof rests on: for EVERY key,
    summary lb ≤ true count, and understatement ≤ total/(k+1) summed
    across partitions — checked on a single partition where the bound
    is per-run exact."""
    import random

    from pyspark.sql import functions as F

    from dataflow_flex_templates_spark.operators.sketch import (
        mg_summaries,
    )

    rng = random.Random(99)
    rows = [(f"w{rng.randrange(300)}",) for _ in range(6000)]
    df = spark.createDataFrame(rows, "word string").coalesce(1)
    k = 50
    lb = {r["word"]: r["__lb"]
          for r in mg_summaries(df, "word", k).collect()}
    true = {r["word"]: r["n"]
            for r in df.groupBy("word").agg(
                F.count(F.lit(1)).alias("n")).collect()}
    assert len(lb) <= k
    for w, n in true.items():
        got = lb.get(w, 0)
        assert got <= n
        assert n - got <= len(rows) // (k + 1) + 1


def test_mg_merge_keeps_int64_counts():
    """A merge that brings new keys must keep the accumulator int64
    and exact (a float64 add loses 2^53 + 1), both with and without a
    reduce step."""
    import pandas as pd

    from dataflow_flex_templates_spark.operators.sketch import _mg_merge

    acc = _mg_merge(None, pd.Series({"a": 3, "b": 1}), k=8)
    acc = _mg_merge(acc, pd.Series({"b": 2, "c": 5}), k=8)
    assert acc.dtype == "int64"
    assert acc.to_dict() == {"a": 3, "b": 3, "c": 5}
    # k=2 forces the reduce: subtract the 3rd largest (3), keep > 0
    big = pd.Series({"d": 2**53 + 1})
    red = _mg_merge(acc, big, k=2)
    assert red.dtype == "int64"
    assert red.to_dict() == {"c": 2, "d": 2**53 + 1 - 3}
