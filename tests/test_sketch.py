"""Deterministic HLL (functions/sketch.py): python md5 replica, the
max-merge shard property, and the accuracy band at m=256."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from theta_spark.functions.sketch import _alpha, hll_estimate, hll_registers


def _py_hll(keys, b):
    m, W = 1 << b, 60 - b
    regs = {}
    for k in keys:
        h = int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
        idx, w = h >> W, h & ((1 << W) - 1)
        rank = (W + 1) if w == 0 else (W + 1 - w.bit_length())
        regs[idx] = max(regs.get(idx, 0), rank)
    s = sum(1 << (W + 1 - mx) for mx in regs.values()) + (m - len(regs)) * (
        1 << (W + 1)
    )
    est = _alpha(m) * m * m * float(1 << (W + 1)) / s
    return regs, s, round(est, 4)


def test_hll_matches_python_replica(spark):
    keys = [f"k{i}" for i in range(1000)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    for b in (4, 8):
        exp_regs, exp_s, exp_est = _py_hll(keys, b)
        regs = {r.idx: r.mx for r in hll_registers(df, "key", b=b).collect()}
        assert regs == exp_regs, b
        row = hll_estimate(df, "key", b=b).collect()[0]
        assert row.s_scaled == exp_s and row.est == exp_est


def test_hll_shard_merge_equals_whole(spark):
    """Registers from two shards, max-merged, give the identical
    estimate — the distributed property."""
    keys = [f"k{i}" for i in range(2000)]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    whole = {r.idx: r.mx for r in hll_registers(df, "key", b=6).collect()}
    a = hll_registers(df.filter(F.crc32(F.col("key")) % 2 == 0), "key", b=6)
    bdf = hll_registers(df.filter(F.crc32(F.col("key")) % 2 == 1), "key", b=6)
    merged = {
        r.idx: r.mx
        for r in a.unionByName(bdf).groupBy("idx").agg(F.max("mx").alias("mx")).collect()
    }
    assert merged == whole


def test_hll_accuracy_band_m256(spark):
    """m=256 -> ~6.5% relative std error; allow 3 sigma on one draw."""
    n = 5000
    df = spark.createDataFrame([(f"item-{i}",) for i in range(n)], "key string")
    est = hll_estimate(df, "key", b=8).collect()[0].est
    assert abs(est - n) / n < 0.2, est


def test_hll_dedup_and_grouping(spark):
    """Duplicates don't move registers; groups are independent."""
    rows = [(f"g{i % 2}", f"k{i % 50}") for i in range(1000)]
    df = spark.createDataFrame(rows, "g string, key string")
    out = {r.g: r for r in hll_estimate(df, "key", ("g",), b=8).collect()}
    # g0 sees k0..k48 even, g1 odd: 25 distinct each
    exp0 = _py_hll([f"k{i}" for i in range(0, 50, 2)], 8)
    exp1 = _py_hll([f"k{i}" for i in range(1, 50, 2)], 8)
    assert out["g0"].s_scaled == exp0[1] and out["g0"].est == exp0[2]
    assert out["g1"].s_scaled == exp1[1] and out["g1"].est == exp1[2]


def test_cms_overestimates_and_matches_python(spark):
    """CMS: est >= exact for EVERY key (collisions only inflate); sketch
    counts match a python replica; bucket-wise ADD merges shards."""
    import collections

    keys = [f"k{i % 30}" for i in range(600)] + ["hot"] * 400
    df = spark.createDataFrame([(k,) for k in keys], "key string")

    from theta_spark.functions.sketch import cms_heavy_hitters, cms_sketch

    d, w = 3, 32
    sk = {(r.row_j, r.bucket): r.cnt for r in cms_sketch(df, "key", d, w).collect()}
    exp = collections.Counter()
    for k in keys:
        for j in range(d):
            exp[(j, _py_draw_cms(k, j) % w)] += 1
    assert sk == dict(exp)

    hh = cms_heavy_hitters(df, "key", d, w, k=5).collect()
    assert hh[0].key == "hot" and hh[0].exact == 400 and hh[0].est >= 400
    for r in hh:
        assert r.est >= r.exact

    # shard merge: sketches add bucket-wise (deterministic index split)
    idf = spark.createDataFrame(list(enumerate(keys)), "idx long, key string")
    import pyspark.sql.functions as F2
    a = cms_sketch(idf.filter(F2.col("idx") < 500), "key", d, w)
    bdf = cms_sketch(idf.filter(F2.col("idx") >= 500), "key", d, w)
    merged = {
        (r.row_j, r.bucket): r.cnt
        for r in a.unionByName(bdf)
        .groupBy("row_j", "bucket")
        .agg(F2.sum("cnt").alias("cnt"))
        .collect()
    }
    assert merged == sk


def _py_draw_cms(key, j):
    return int(hashlib.md5(f"{key}#cms{j}#0".encode()).hexdigest()[:8], 16)


# ------------------------------------------------------------ exact quantiles
def test_exact_quantiles_definitional_and_bucket_invariant(spark):
    from theta_spark.functions.sketch import exact_quantiles

    import math

    vals = [5, 5, 5, 7, 9, 9, 12, 40, 40, 41, 100, 100, 100, 100, 3]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    qs = [1, 250, 500, 750, 999, 1000]
    got = {
        r["q_permille"]: r["v"]
        for r in exact_quantiles(df, "x", qs, bucket_width=10).collect()
    }
    srt, n = sorted(vals), len(vals)
    # type-1 quantile: smallest element whose rank reaches ceil(q*n/1000)
    want = {q: srt[max(math.ceil(q * n / 1000), 1) - 1] for q in qs}
    assert got == want
    # bucketing is an implementation detail: widths cannot move a quantile
    got2 = {
        r["q_permille"]: r["v"]
        for r in exact_quantiles(df, "x", qs, bucket_width=3).collect()
    }
    assert got2 == got
    # p1000 is the max, p~0+ is the min
    assert got[1000] == max(vals) and got[1] == min(vals)


def test_exact_quantiles_scans_its_input_once(spark):
    """The histogram feeds the prefix sum's two branches and the total;
    it is cut once, so the input is read by one task per partition and
    its scan node is not repeated in the executed plan."""
    from theta_spark.functions.sketch import exact_quantiles

    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def counted(batches):
        reads.add(1)
        yield from batches

    vals = [5, 5, 5, 7, 9, 9, 12, 40, 40, 41, 100, 100, 100, 100, 3]
    df = spark.createDataFrame([(v,) for v in vals], "x long").coalesce(1).mapInArrow(counted, "x long")
    q = exact_quantiles(df, "x", [1, 500, 1000], bucket_width=10)
    assert {r["q_permille"]: r["v"] for r in q.collect()} == {1: 3, 500: 12, 1000: 100}
    assert reads.value == 1
    assert q._jdf.queryExecution().executedPlan().toString().count("MapInArrow") <= 1
