"""Deterministic HyperLogLog (Flajolet et al. 2007) — distributed
cardinality estimation whose registers and estimate are BIT-REPRODUCIBLE
across engines, partitionings, and shards (unlike
`approx_count_distinct`, whose hash is engine-private):

- hash = first 15 md5 hex chars of the key → 60-bit integer (the SQL
  twin is ``('0x' || substr(md5(x), 1, 15))::BIGINT`` — the same idiom
  the augment/classify draws pin);
- register index = top `b` bits, rank = leading-zero count of the
  remaining ``W = 60 - b`` bits + 1 (computed EXACTLY as
  ``W + 1 - length(bin(w))``, no float log);
- the harmonic sum is kept in scaled INTEGER form:
  ``S = Σ 2^(W+1-M_j)`` over all m registers (empty register ⇒ 2^(W+1)),
  which fits i64 and sums exactly in any order — the one float op is the
  final ``alpha·m²·2^(W+1) / S`` division.

Registers merge by MAX — the property that makes the sketch distributed:
shard registers anywhere, max-combine, same estimate to the bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from theta_spark.functions.sampling import _draw32

# standard HLL bias constants by register-count
_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _alpha(m: int) -> float:
    return _ALPHA.get(m, 0.7213 / (1 + 1.079 / m))


def hll_registers(
    df: DataFrame, key_col: str, group_cols: tuple = (), b: int = 4
) -> DataFrame:
    """(group..., idx, mx): max observed rank per register — one groupBy
    with map-side partial MAX, mergeable across shards/epochs by another
    max-groupBy."""
    m = 1 << b  # noqa: F841 — documented relation idx ∈ [0, m)
    W = 60 - b
    hashed = df.select(
        *group_cols,
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # integer div/mod only — h exceeds 2^53, float division would
    # misplace boundary hashes
    split = hashed.select(
        *group_cols,
        F.expr(f"h div {1 << W}").alias("idx"),
        (F.col("h") % F.lit(1 << W)).alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(W + 1)).otherwise(
        F.lit(W + 1) - F.length(F.bin(F.col("w")))
    )
    return (
        split.select(*group_cols, "idx", rank.alias("rank"))
        .groupBy(*group_cols, "idx")
        .agg(F.max("rank").cast("long").alias("mx"))
    )


def hll_estimate(
    df: DataFrame, key_col: str, group_cols: tuple = (), b: int = 4
) -> DataFrame:
    """(group..., m, v_empty, s_scaled, est): deterministic HLL
    cardinality per group. `s_scaled` is the exact-integer harmonic sum
    (the auditable invariant an oracle hash-matches); `est` is the raw
    HLL estimate rounded at 4dp. `v_empty` is exposed so callers can
    apply the small-range linear-counting correction (m·ln(m/V)) when it
    applies — kept out of the core so the output stays float-drift-free.

    Scale shape: one narrow hash projection, one (group, idx) groupBy
    with partial max, one group-level agg — register state is O(m) per
    group no matter how many rows feed it.
    """
    regs = hll_registers(df, key_col, group_cols, b)
    return hll_estimate_from_registers(regs, group_cols, b)


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: tuple = (), b: int = 4
) -> DataFrame:
    """Estimate from an (idx, mx) register table — the merge-side half of
    the sketch: registers from any number of shards/epochs, max-combined
    (`groupBy(idx).max(mx)`), land here and give the identical estimate
    the one-shot path computes. Tolerates duplicate register rows (max
    is idempotent), which is what makes crash-replayed epoch commits
    harmless."""
    m = 1 << b
    W = 60 - b
    gb = list(group_cols)
    regs = regs.groupBy(*gb, "idx").agg(F.max("mx").cast("long").alias("mx"))
    agg = regs.groupBy(*gb).agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.sum(F.expr(f"shiftleft(1L, cast({W + 1} - mx AS int))"))
        .cast("long")
        .alias("s_present"),
    )
    top = F.lit(1 << (W + 1)).cast("long")
    s_scaled = (F.col("s_present") + (F.lit(m) - F.col("n_present")) * top).cast("long")
    num = float(_alpha(m)) * m * m * float(1 << (W + 1))
    return agg.select(
        *gb,
        F.lit(m).alias("m"),
        (F.lit(m) - F.col("n_present")).cast("long").alias("v_empty"),
        s_scaled.alias("s_scaled"),
        F.round(F.lit(num) / s_scaled, 4).alias("est"),
    )


def cms_sketch(
    df: DataFrame, key_col: str, d: int = 3, w: int = 64, weight_col: str | None = None
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005): (row j, bucket,
    cnt) — d md5-derived hash rows of w buckets each. State is O(d·w)
    REGARDLESS of stream size, counts are exact integer sums, and two
    sketches merge by bucket-wise ADD — the deterministic twin of the
    streaming frequency sketch. Hash j of key = md5-draw(key, 'cms<j>')
    % w, the same replayable-draw convention as sampling/augment.

    ONE pass over the input: the d buckets ride as an array column and
    posexplode (a union of d per-row selects would scan the stream d
    times — at the scale this sketch exists for, the extra scans are
    the dominant cost)."""
    wcol = F.col(weight_col) if weight_col else F.lit(1)
    rows = df.select(
        F.posexplode(_cms_buckets(F.col(key_col), d, w)).alias("row_j", "bucket"),
        wcol.alias("w_"),
    )
    return (
        rows.groupBy("row_j", "bucket")
        .agg(F.sum("w_").cast("long").alias("cnt"))
    )


def _cms_buckets(key, d: int, w: int):
    """Array column [bucket_0 .. bucket_{d-1}] for one key — position j
    is md5-draw(key, 'cms<j>') % w."""
    return F.array(*[(_draw32(key, f"cms{j}", 0) % w) for j in range(d)])


def cms_heavy_hitters(
    df: DataFrame, key_col: str, d: int = 3, w: int = 64, k: int = 10
) -> DataFrame:
    """Top-k heavy hitters by Count-Min estimate → (key, est, exact):
    the skew-detection pass (hot entities, hot join keys) — `est` =
    min over rows of the key's bucket count (CMS guarantees est >=
    exact; collisions only inflate), `exact` carried beside it to make
    the overestimate auditable. Deterministic cut: (est DESC, exact
    DESC, key).

    Scale shape: the sketch is O(d·w) rows; candidates are the distinct
    keys (at stream scale the candidate set comes from per-partition
    pre-aggregation, which the distinct+join here already is) joined
    against the broadcast sketch — no per-row state, no window."""
    sk = cms_sketch(df, key_col, d, w)
    exact = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("exact")
    )
    probes = exact.select(
        "key",
        "exact",
        F.posexplode(_cms_buckets(F.col("key"), d, w)).alias("row_j", "bucket"),
    )
    est = (
        probes.join(F.broadcast(sk), ["row_j", "bucket"])
        .groupBy("key", "exact")
        .agg(F.min("cnt").cast("long").alias("est"))
    )
    return (
        est.select("key", "est", "exact")
        .orderBy(F.desc("est"), F.desc("exact"), "key")
        .limit(k)
    )


# ------------------------------------------------------------ exact quantiles
def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs_permille: list[int],
    bucket_width: int = 100,
) -> DataFrame:
    """(q_permille, v): EXACT type-1 (discontinuous) quantiles of an
    integer column — the length-percentile cutoffs a corpus filter is
    tuned with ("drop below p25 / above p99"), computed distributed and
    engine-reproducibly, unlike approx_percentile whose error bound is
    merge-order-dependent.

    v(q) = MIN value whose running count reaches rank ceil(q*n/1000) —
    all-integer, so any engine agrees bit-for-bit.

    Shape: one groupBy(value) histogram (map-side partials; state =
    DISTINCT values, not rows — right for bounded-cardinality profile
    columns like lengths/counts; pre-bucket wider domains first), the
    shared two-phase prefix sum over it (prefix.py — no unpartitioned
    window; the histogram is cut once, so the input is scanned once),
    then one broadcast join of the permille list and a (q)-grouped MIN.
    The quantile list is tiny by definition."""
    from theta_spark.prefix import two_phase_cumsum

    spark = df.sparkSession
    # read three times below (the prefix sum's two branches and n_total):
    # cut once so the input is scanned once
    hist = (
        df.groupBy(F.col(value_col).cast("long").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    cum = two_phase_cumsum(
        hist.withColumn("_bkt", F.floor(F.col("v") / bucket_width).cast("long")),
        value_col="cnt",
        order_col="v",
        bucket_col="_bkt",
    )
    n_total = hist.agg(F.sum("cnt").alias("n"))
    qdf = spark.createDataFrame([(int(q),) for q in qs_permille], "q_permille int")
    ranks = qdf.crossJoin(F.broadcast(n_total)).select(
        "q_permille",
        F.expr("CAST((q_permille * n + 999) DIV 1000 AS BIGINT)").alias("rank"),
    )
    return (
        cum.crossJoin(F.broadcast(ranks))
        .filter(F.col("_cum") >= F.col("rank"))
        .groupBy("q_permille")
        .agg(F.min("v").alias("v"))
        .orderBy("q_permille")
    )
