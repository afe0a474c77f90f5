"""Driver-contract query suite: Spark DataFrame queries with DuckDB oracles.

Each QUERIES[name] is (spark, sf_dir) -> DataFrame; ORACLES[name] is the
ANSI-SQL twin DuckDB runs over the same parquet tables. Column names are
aliased identically on both sides (the driver hashes values after sorting
columns by name). Floats are rounded on both sides to avoid
engine-precision hash drift.

The suite maps SURVEY.md §2 operators onto the driver testdata tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict = {}
ORACLES: dict = {}


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------- A7 / A2-A3
@query(
    "a7_eda_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def a7_eda_stats(spark, sf_dir):
    """A7 (theta/nlp/eda/__main__.py:20-144): label histogram + length stats."""
    return (
        _load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("lang")
    )


@query(
    "a1_exact_match_metrics",
    """
    WITH pred AS (
      SELECT DISTINCT l_orderkey AS k1, l_partkey AS k2 FROM lineitem WHERE l_quantity > 25
    ), gold AS (
      SELECT DISTINCT l_orderkey AS k1, l_partkey AS k2 FROM lineitem WHERE l_extendedprice > 30000
    ), tp AS (SELECT COUNT(*) AS tp FROM pred JOIN gold USING (k1, k2)),
       cnts AS (SELECT (SELECT COUNT(*) FROM pred) AS n_pred, (SELECT COUNT(*) FROM gold) AS n_gold, tp FROM tp)
    SELECT tp,
           n_pred - tp AS fp,
           n_gold - tp AS fn,
           ROUND(tp / NULLIF(n_pred, 0), 6) AS precision_v,
           ROUND(tp / NULLIF(n_gold, 0), 6) AS recall_v
    FROM cnts
    """,
)
def a1_exact_match_metrics(spark, sf_dir):
    """A1/A3 (task_ner.py:1137-1154, 35-39): exact-match tp/fp/fn + P/R as
    semi/anti joins — pred vs gold sets derived from lineitem."""
    li = _load(spark, sf_dir, "lineitem")
    pred = li.filter(F.col("l_quantity") > 25).select(
        F.col("l_orderkey").alias("k1"), F.col("l_partkey").alias("k2")
    ).distinct()
    gold = li.filter(F.col("l_extendedprice") > 30000).select(
        F.col("l_orderkey").alias("k1"), F.col("l_partkey").alias("k2")
    ).distinct()
    tp = pred.join(gold, on=["k1", "k2"], how="left_semi").count()
    n_pred, n_gold = pred.count(), gold.count()
    return spark.createDataFrame(
        [
            (
                tp,
                n_pred - tp,
                n_gold - tp,
                round(tp / n_pred, 6) if n_pred else None,
                round(tp / n_gold, 6) if n_gold else None,
            )
        ],
        "tp long, fp long, fn long, precision_v double, recall_v double",
    )


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """A2-style pooled aggregation (TPC-H Q1 shape): map-side partial aggs,
    one shuffle on the grouping key."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q3_broadcast_join_agg",
    """
    SELECT n.n_name AS nation, ROUND(SUM(c.c_acctbal), 4) AS total_bal, COUNT(*) AS n_cust
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name <> 'EUROPE'
    GROUP BY n.n_name ORDER BY nation
    """,
)
def q3_broadcast_join_agg(spark, sf_dir):
    """Broadcast-dim join chain (SURVEY.md §2.12 label↔id lookup shape):
    small dims broadcast, no shuffle on the fact side until the agg."""
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") != "EUROPE")), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum("c_acctbal"), 4).alias("total_bal"), F.count(F.lit(1)).alias("n_cust"))
        .orderBy("nation")
    )


# ------------------------------------------------------------- W1 windowing
@query(
    "w1_segments",
    """
    SELECT doc_id,
           CAST(s_seg / 63 AS INT) AS seg_id,
           CAST(s_seg AS INT) AS s_seg,
           substr(text, CAST(s_seg AS INT) + 1, 126) AS seg_text
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(0, CAST(length(text) AS BIGINT) - 1, 63)) AS s_seg
      FROM documents
    )
    ORDER BY doc_id, seg_id
    """,
)
def w1_segments(spark, sf_dir):
    """W1 sliding-window segmentation (task_ner.py:183-233) as
    sequence+posexplode+substring over the documents table."""
    from theta_spark.operators.segmentation import segment

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        segment(d, "text", 126, 63)
        .select("doc_id", "seg_id", "s_seg", "seg_text")
        .orderBy("doc_id", "seg_id")
    )


# --------------------------------------------------------------- G2/G3/G4/G5
@query(
    "g2_dedup_docs",
    """
    SELECT text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
    FROM (SELECT doc_id, sha256(text) AS text_hash FROM documents)
    GROUP BY text_hash HAVING COUNT(*) >= 1
    ORDER BY text_hash
    """,
)
def g2_dedup_docs(spark, sf_dir):
    """G2 exact dedup by content hash (dedup family; sha256 invariant column
    per input_hint)."""
    d = _load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.sha2(F.col("text"), 256).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .orderBy("text_hash")
    )


@query(
    "g3_keep_last",
    """
    SELECT user_id, event_type, event_id AS last_event_id, ROUND(value, 6) AS last_value
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id, event_type
    """,
)
def g3_keep_last(spark, sf_dir):
    """G3 keep-last dedup (samples.py:20-31) via row_number desc."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.round("value", 6).alias("last_value"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "g4_merge_min_dups",
    """
    SELECT l_partkey, l_suppkey, COUNT(*) AS n_occurrences
    FROM lineitem GROUP BY l_partkey, l_suppkey HAVING COUNT(*) >= 2
    ORDER BY l_partkey, l_suppkey
    """,
)
def g4_merge_min_dups(spark, sf_dir):
    """G4 merge_entities(min_dups=2) (samples.py:34-45) = group-count filter."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .filter(F.col("n_occurrences") >= 2)
        .orderBy("l_partkey", "l_suppkey")
    )


@query(
    "g5_entity_vote",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS votes
    FROM events GROUP BY event_type
    HAVING COUNT(DISTINCT user_id) >= CAST(0.5 * (SELECT COUNT(DISTINCT user_id) FROM events) AS BIGINT)
    ORDER BY event_type
    """,
)
def g5_entity_vote(spark, sf_dir):
    """G5 vote (ner_models.py:14-34): keep keys voted by >= threshold*n
    distinct 'models' (users stand in for models)."""
    e = _load(spark, sf_dir, "events")
    n_models = e.select("user_id").distinct().count()
    thr = int(0.5 * n_models)
    return (
        e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("votes"))
        .filter(F.col("votes") >= thr)
        .orderBy("event_type")
    )


@query(
    "g6_dataset_diff",
    """
    WITH a AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'),
         b AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT custkey, 'a_only' AS side FROM a WHERE custkey NOT IN (SELECT custkey FROM b)
    UNION ALL
    SELECT custkey, 'b_only' AS side FROM b WHERE custkey NOT IN (SELECT custkey FROM a)
    ORDER BY side, custkey
    """,
)
def g6_dataset_diff(spark, sf_dir):
    """G6 dataset diff (theta/__main__.py:592-622) via anti-joins."""
    o = _load(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey")).distinct()
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey")).distinct()
    a_only = a.join(b, on="custkey", how="left_anti").withColumn("side", F.lit("a_only"))
    b_only = b.join(a, on="custkey", how="left_anti").withColumn("side", F.lit("b_only"))
    return a_only.unionByName(b_only).orderBy("side", "custkey")


# ----------------------------------------------------------- O: sorts/top-k
@query(
    "o6_topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, ROUND(c_acctbal, 4) AS acctbal, rk
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer
    ) WHERE rk <= 3
    ORDER BY c_mktsegment, rk
    """,
)
def o6_topk_per_group(spark, sf_dir):
    """O6 top-k per group (save_top_k semantics, arguments.py:357-360)."""
    c = _load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "c_custkey", F.round("c_acctbal", 4).alias("acctbal"), "rk")
        .orderBy("c_mktsegment", "rk")
    )


# --------------------------------------------------------------- X: splits
@query(
    "x3_kfold_sizes",
    """
    SELECT fold, COUNT(*) AS n
    FROM (SELECT o_orderkey % 5 AS fold FROM orders)
    GROUP BY fold ORDER BY fold
    """,
)
def x3_kfold_sizes(spark, sf_dir):
    """X3 deterministic k-fold assignment (utils/utils.py:384-431 analog;
    modulo instead of seeded shuffle so the oracle can reproduce it)."""
    o = _load(spark, sf_dir, "orders")
    return (
        o.select((F.col("o_orderkey") % 5).alias("fold"))
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("fold")
    )


# --------------------------------------------- joins: interval / as-of / D3
@query(
    "p4_interval_containment",
    """
    SELECT o.o_orderpriority, COUNT(*) AS n_events
    FROM events e JOIN orders o
      ON e.ts >= o.o_orderdate AND e.ts < o.o_orderdate + INTERVAL 7 DAY
      AND e.user_id = o.o_custkey % 100
    GROUP BY o.o_orderpriority ORDER BY o_orderpriority
    """,
)
def p4_interval_containment(spark, sf_dir):
    """P4 interval-containment join (task_ner.py:199-205 shape): events
    falling inside per-order 7-day windows, equi-key + range predicate."""
    e = _load(spark, sf_dir, "events")
    o = _load(spark, sf_dir, "orders")
    joined = e.join(
        o,
        on=[
            e.ts >= o.o_orderdate,
            e.ts < F.date_add(o.o_orderdate, 7).cast("timestamp"),
            e.user_id == o.o_custkey % 100,
        ],
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("o_orderpriority")
    )


@query(
    "d1_asof_pairing",
    """
    SELECT user_id, event_id, prev_purchase_id
    FROM (
      SELECT user_id, event_id, event_type,
             LAST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_purchase_id
      FROM events
    ) WHERE event_type = 'click' AND prev_purchase_id IS NOT NULL
    ORDER BY user_id, event_id
    """,
)
def d1_asof_pairing(spark, sf_dir):
    """D1's start/end pairing as an as-of window (SURVEY.md §2.12): for each
    click, the nearest preceding purchase of the same user."""
    e = _load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        e.withColumn(
            "prev_purchase_id",
            F.last(F.when(F.col("event_type") == "purchase", F.col("event_id")), ignorenulls=True).over(w),
        )
        .filter((F.col("event_type") == "click") & F.col("prev_purchase_id").isNotNull())
        .select("user_id", "event_id", "prev_purchase_id")
        .orderBy("user_id", "event_id")
    )


@query(
    "d3_gaps_islands",
    """
    SELECT user_id, session_id, COUNT(*) AS n_events, MIN(event_id) AS first_event
    FROM (
      SELECT user_id, event_id,
             -- CAST: DuckDB's windowed SUM returns HUGEINT (surfaces as
             -- float64), Spark returns bigint — value-identical but the
             -- driver's value hash diverges without the cast
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
      )
    )
    GROUP BY user_id, session_id ORDER BY user_id, session_id
    """,
)
def d3_gaps_islands(spark, sf_dir):
    """D3 BIOES-walk analog: gaps-and-islands sessionization
    (SURVEY.md §2.6 relational alternative) — lag + cumulative flag sum."""
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.col("ts").cast("timestamp_ltz").cast("long")
    prev_s = F.lag("ts").over(w).cast("timestamp_ltz").cast("long")
    flagged = e.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull() | (ts_s - prev_s > 1800), 1).otherwise(0),
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(Window.unboundedPreceding, 0)
    return (
        flagged.withColumn("session_id", F.sum("new_session").over(w2))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.min("event_id").alias("first_event"))
        .orderBy("user_id", "session_id")
    )


# ===================================================================
# Training-data pipeline operators (dedup / similarity / text analysis)
# over the documents + embeddings tables.
# ===================================================================

@query(
    "t_text_stats",
    r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS ltoks,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id, text, toks, ltoks,
             len(toks) AS n_tokens,
             CASE WHEN len(ltoks) > 0
                  THEN len(list_filter(ltoks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)))::DOUBLE / len(ltoks)
                  ELSE 0.0 END AS stop_r,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE / length(text)
                  ELSE 0.0 END AS punct_r,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks)
                  ELSE 0.0 END AS mtl,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / length(text)
                  ELSE 0.0 END AS ascii_r
      FROM t
    )
    SELECT doc_id,
           n_tokens,
           len(regexp_extract_all(text, '([A-Za-z0-9]{1,4}|[^A-Za-z0-9\s])', 1)) AS n_bpe,
           ROUND(stop_r, 4) AS stop_ratio,
           ROUND(punct_r, 4) AS punct_ratio,
           ROUND((
             (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END) +
             (CASE WHEN stop_r >= 0.05 THEN 1.0 ELSE 0.0 END) +
             (CASE WHEN punct_r <= 0.2 THEN 1.0 ELSE 0.0 END) +
             (CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END)
           ) / 4.0, 2) AS quality,
           CASE WHEN ascii_r >= 0.4 AND stop_r > 0 THEN 'en'
                WHEN ascii_r >= 0.4 THEN 'other_latin'
                ELSE 'non_latin' END AS lang_pred
    FROM m ORDER BY doc_id
    """,
)
def t_text_stats(spark, sf_dir):
    """Text analysis: token counting (whitespace + BPE-ish regex), quality
    scoring (length/stopword/punct/token-length heuristics), language-ID
    heuristic — all JVM column expressions (functions.text)."""
    from theta_spark.functions import text as T

    c = F.col("text")
    return (
        _load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            T.token_count(c).alias("n_tokens"),
            T.bpe_ish_token_count(c).alias("n_bpe"),
            F.round(T.stopword_ratio(c), 4).alias("stop_ratio"),
            F.round(T.punct_ratio(c), 4).alias("punct_ratio"),
            F.round(T.quality_score(c), 2).alias("quality"),
            T.lang_id(c).alias("lang_pred"),
        )
        .orderBy("doc_id")
    )


@query(
    "t_fingerprint",
    r"""
    SELECT doc_id,
           list_min(list_transform(
             generate_series(1, greatest(length(lower(text)) - 7, 1)),
             i -> md5(substr(lower(text), i, 8)))) AS fp
    FROM documents ORDER BY doc_id
    """,
)
def t_fingerprint(spark, sf_dir):
    """Document fingerprinting: winnowing-style min-hash over char-8-gram
    shingles (functions.text.fingerprint); md5-based, DuckDB-reproducible."""
    from theta_spark.functions.text import fingerprint

    return (
        _load(spark, sf_dir, "documents")
        .select("doc_id", fingerprint(F.col("text"), 8).alias("fp"))
        .orderBy("doc_id")
    )


@query(
    "dd_ngram_jaccard",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS tk
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(0, greatest(len(tk) - 3, 0)),
               i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS g
      FROM toks
    )
    SELECT a.doc_id AS a, b.doc_id AS b,
           ROUND(len(list_intersect(a.g, b.g))::DOUBLE
                 / len(list_distinct(a.g || b.g)), 4) AS jaccard
    FROM grams a JOIN grams b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.g, b.g))::DOUBLE / len(list_distinct(a.g || b.g)) >= 0.8
    ORDER BY a, b
    """,
)
def dd_ngram_jaccard(spark, sf_dir):
    """Near-dup doc pairs by word-3-gram Jaccard >= 0.8 via MinHash-LSH
    blocking + exact verify (functions.dedup). The oracle computes the
    exact all-pairs answer; LSH recall at this threshold is ~99.97%."""
    from theta_spark.functions.dedup import ngram_jaccard_pairs

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.8)
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("a", "b")
    )


@query(
    "dd_simhash",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS tk
      FROM documents
    ), h AS (
      SELECT doc_id,
             CAST(CASE WHEN u >= 9223372036854775808::UBIGINT
                       THEN u::HUGEINT - 18446744073709551616::HUGEINT
                       ELSE u::HUGEINT END AS BIGINT) AS sh
      FROM (
        SELECT doc_id,
               list_sum(list_transform(generate_series(0, 63), b ->
                 CASE WHEN COALESCE(list_sum(list_transform(tk, t ->
                        CASE WHEN (('0x' || substr(md5(t), 1, 16))::UBIGINT >> b) & 1 = 1
                             THEN 1 ELSE -1 END)), 0) > 0
                      THEN (1::UBIGINT << b) ELSE 0::UBIGINT END))::UBIGINT AS u
        FROM toks
      )
    )
    SELECT a.doc_id AS a, b.doc_id AS b, bit_count(xor(a.sh, b.sh)) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 3
    ORDER BY a, b
    """,
)
def dd_simhash(spark, sf_dir):
    """SimHash near-dup pairs (hamming <= 3) via 16-bit-chunk banding
    (pigeonhole-complete) + bit_count verify. The oracle recomputes the
    64-bit simhash in SQL bit-for-bit (md5 token hashes, sign aggregation,
    two's-complement wrap)."""
    from theta_spark.functions.dedup import simhash_near_dups

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_near_dups(d, "doc_id", "text", max_hamming=3).orderBy("a", "b")


_UNIT_CTE = r"""
    WITH u AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> x::DOUBLE /
               sqrt(list_sum(list_transform(embedding, y -> y::DOUBLE * y::DOUBLE)))) AS unit
      FROM embeddings
    )
"""


@query(
    "sim_bruteforce_topk",
    _UNIT_CTE
    + r"""
    , q AS (SELECT vec_id AS query_id, unit AS qu FROM u WHERE vec_id % 25 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(generate_series(1, 64), i -> c.unit[i] * q.qu[i])), 4) AS cos_sim
      FROM u c, q WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 5 ORDER BY query_id, rk
    """,
)
def sim_bruteforce_topk(spark, sf_dir):
    """ANN baseline: exact brute-force cosine top-5 for query vectors
    (vec_id % 25 == 0) over the embeddings table — zip_with/aggregate dot
    products, broadcast query side, per-query window rank."""
    from theta_spark.functions.similarity import brute_force_topk

    e = _load(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") % 25 == 0)
    return brute_force_topk(e, qs, k=5).orderBy("query_id", "rk")


@query(
    "sim_ivf_topk",
    _UNIT_CTE
    + r"""
    , q AS (SELECT vec_id AS query_id, label, unit AS qu FROM u WHERE vec_id % 25 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(generate_series(1, 64), i -> c.unit[i] * q.qu[i])), 4) AS cos_sim
      FROM u c JOIN q ON c.label = q.label AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 5 ORDER BY query_id, rk
    """,
)
def sim_ivf_topk(spark, sf_dir):
    """IVF-style ANN: candidates restricted to the query's coarse cell
    (label column as the cell id) — equi-join instead of cross join; the
    scale path for 10^9-vector corpora."""
    from theta_spark.functions.similarity import ivf_topk

    e = _load(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") % 25 == 0)
    return ivf_topk(e, qs, k=5).orderBy("query_id", "rk")


@query(
    "sim_ivf_multiprobe",
    _UNIT_CTE
    + r"""
    , dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    cent_dim AS (
      SELECT u.label AS cell, d.i AS pos, ROUND(AVG(u.unit[d.i]), 6) AS c
      FROM u CROSS JOIN dims d
      GROUP BY u.label, d.i
    ),
    cent AS (SELECT cell, list(c ORDER BY pos) AS cvec FROM cent_dim GROUP BY cell),
    q AS (SELECT vec_id AS query_id, unit AS qu FROM u WHERE vec_id % 25 = 0),
    cellscore AS (
      SELECT q.query_id, cent.cell, q.qu,
             ROUND(list_sum(list_transform(generate_series(1, 64), i -> cent.cvec[i] * q.qu[i])), 4) AS cell_sim
      FROM q CROSS JOIN cent
    ),
    probes AS (
      SELECT query_id, cell, qu FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cell_sim DESC, cell) AS prk
        FROM cellscore
      ) WHERE prk <= 2
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(generate_series(1, 64), i -> c.unit[i] * p.qu[i])), 4) AS cos_sim
      FROM u c JOIN probes p ON c.label = p.cell AND c.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 5 ORDER BY query_id, rk
    """,
)
def sim_ivf_multiprobe(spark, sf_dir):
    """IVF multi-probe ANN (nprobe=2): each query probes its two nearest
    cells by centroid cosine, recovering cross-boundary neighbors the
    single-probe variant misses — the recall lever of a real IVF index.
    Centroids via one (cell, pos) shuffle; probe list broadcast; corpus
    scanned once, never shuffled."""
    from theta_spark.functions.similarity import ivf_topk_multiprobe

    e = _load(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") % 25 == 0)
    return ivf_topk_multiprobe(e, qs, k=5, nprobe=2).orderBy("query_id", "rk")


@query(
    "dd_cosine_near_dup",
    _UNIT_CTE
    + r"""
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(list_sum(list_transform(generate_series(1, 64), i -> a.unit[i] * b.unit[i])), 4) AS cos_sim
    FROM u a JOIN u b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(list_sum(list_transform(generate_series(1, 64), i -> a.unit[i] * b.unit[i])), 4) >= 0.35
    ORDER BY a, b
    """,
)
def dd_cosine_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (>= 0.35) blocked by coarse cell."""
    from theta_spark.functions.similarity import cosine_near_dup_pairs

    e = _load(spark, sf_dir, "embeddings")
    return cosine_near_dup_pairs(e, threshold=0.35).orderBy("a", "b")


@query(
    "mm_media_features",
    r"""
    WITH b AS (
      SELECT doc_id::VARCHAR AS media_id,
             CASE WHEN ('0x' || substr(md5(text), 1, 1))::INT % 2 = 0
                  THEN 'image' ELSE 'audio' END AS kind,
             list_transform(range(0, 32),
                            i -> ('0x' || substr(sha256(text), i*2 + 1, 2))::INT) AS bytes
      FROM documents
    ), m AS (
      SELECT media_id, kind, bytes, list_sum(bytes) / 32.0 AS mu FROM b
    ), g AS (
      SELECT media_id, kind, mu,
             sqrt(list_sum(list_transform(bytes, x -> (x - mu) * (x - mu))) / 32.0) AS sd,
             CAST(floor(list_sum(bytes[1:8])  / 8.0) AS INT) AS d0,
             CAST(floor(list_sum(bytes[9:16]) / 8.0) AS INT) AS d1,
             CAST(floor(list_sum(bytes[17:24])/ 8.0) AS INT) AS d2,
             CAST(floor(list_sum(bytes[25:32])/ 8.0) AS INT) AS d3
      FROM m
    )
    SELECT media_id, kind, 32 AS n_bytes,
           floor(mu * 10000 + 0.5) / 10000.0 AS byte_mean,
           floor(sd * 10000 + 0.5) / 10000.0 AS byte_std,
           substr(md5(d0::VARCHAR || '-' || d1::VARCHAR || '-' ||
                      d2::VARCHAR || '-' || d3::VARCHAR), 1, 16) AS phash
    FROM g ORDER BY media_id
    """,
)
def mm_media_features(spark, sf_dir):
    """Multimodal plumbing: documents -> synthetic binary media table ->
    Arrow-batched feature extraction (functions.multimodal; decode stubbed
    deterministically, real decoder drops into _decode_bytes). The fake
    features are md5/sha256-derived with explicit half-up rounding, so the
    oracle rebuilds every byte statistic and the phash stand-in exactly."""
    from theta_spark.functions.multimodal import extract_media_features, synth_media_df

    d = _load(spark, sf_dir, "documents")
    media = synth_media_df(spark, d, id_col="doc_id", text_col="text")
    return extract_media_features(media, fake_decode=True).orderBy("media_id")


# The flagship KG pipeline, hash-checked: the engine runs the FULL
# segment -> score -> decode -> dedup -> triple-assembly dataflow over the
# synthetic corpus; the oracle derives the gold triple set STRUCTURALLY in
# SQL (corpus.KeyedDraws replayed as md5 draws — fully independent of the
# engine's dataflow), so any regression anywhere in the pipeline flips
# rows/hash red. DuckDB cannot run the pandas-UDF scoring stage itself;
# deriving gold from the same keyed draws is the stronger check anyway
# (it is the generation-time truth, not a second decode).
# sha256(content) rides the engine's triple rows internally (input_hint
# invariant, asserted in tests); it is projected out here because the
# oracle would otherwise have to rebuild full file contents in SQL.
_KG_GOLD_CTES = r"""ids AS (
      SELECT unnest(generate_series(0, (SELECT COUNT(*) FROM documents) - 1)) AS i
    ),
    d AS (
      SELECT i,
             'org' || (i % 7) || '/proj' || (i % 13) AS repo,
             'src/pkg' || (i % 5) || '/mod' || i || '.py' AS path,
             'mod' || i AS mod,
             'helper' || (i % 9) AS helper,
             1 + ('0x' || substr(md5('42:' || i || ':nlibs'), 1, 8))::BIGINT % 3 AS n_libs,
             ('0x' || substr(md5('42:' || i || ':libo'), 1, 8))::BIGINT % 6 AS libo,
             ('0x' || substr(md5('42:' || i || ':prof'), 1, 8))::BIGINT % 4 AS prof,
             ('0x' || substr(md5('42:' || i || ':hot'), 1, 8))::BIGINT % 5 = 0 AS hot
      FROM ids
    ),
    dd AS (
      SELECT *,
             repo || ':' || path || '@' || md5(repo || '/' || path) AS doc_id,
             CASE prof WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 1 ELSE 2 END AS n_classes,
             CASE prof WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 7 END AS n_funcs
      FROM d
    ),
    libs AS (
      SELECT mod AS subj, 'imports' AS pred,
             ['numpy', 'path', 'abc', 'jsonlib', 'client', 'logkit'][1 + (libo + j) % 6] AS obj,
             doc_id
      FROM dd, unnest(range(0, n_libs)) AS t(j)
    ),
    cls AS (
      SELECT dd.*, c,
             'handler' || (i % 11) || '_' || c AS cname,
             1 + ('0x' || substr(md5('42:' || i || ':nm' || c), 1, 8))::BIGINT % 2 AS n_methods
      FROM dd, unnest(range(0, n_classes)) AS t(c)
    ),
    cls_def AS (SELECT mod AS subj, 'defines' AS pred, cname AS obj, doc_id FROM cls),
    meth AS (
      SELECT cls.*, m,
             'process' || (i % 11) || '_' || c || '_' || m AS mname,
             CASE WHEN hot THEN 'shared_util'
                  WHEN ('0x' || substr(md5('42:' || i || ':mc' || c || '_' || m), 1, 8))::BIGINT % 2 = 0
                       THEN 'shared_util' ELSE helper END AS callee
      FROM cls, unnest(range(0, n_methods)) AS t(m)
    ),
    meth_contains AS (SELECT cname AS subj, 'contains' AS pred, mname AS obj, doc_id FROM meth),
    meth_calls AS (SELECT mname AS subj, 'calls' AS pred, callee AS obj, doc_id FROM meth),
    fns AS (
      SELECT dd.*, f,
             helper || '_' || f AS fname,
             CASE WHEN hot AND f % 2 = 0 THEN 'shared_util'
                  WHEN ('0x' || substr(md5('42:' || i || ':fc' || f), 1, 8))::BIGINT % 2 = 0
                       THEN 'shared_util' ELSE helper END AS callee
      FROM dd, unnest(range(0, n_funcs)) AS t(f)
    ),
    fn_def AS (SELECT mod AS subj, 'defines' AS pred, fname AS obj, doc_id FROM fns),
    fn_calls AS (SELECT fname AS subj, 'calls' AS pred, callee AS obj, doc_id FROM fns),
    inst AS (
      SELECT fname AS subj, 'calls' AS pred, 'handler' || (i % 11) || '_0' AS obj, doc_id
      FROM fns WHERE f = 0 AND n_classes > 0
      UNION ALL
      SELECT 'h', 'instance_of', 'handler' || (i % 11) || '_0', doc_id
      FROM fns WHERE f = 0 AND n_classes > 0
    )"""

@query(
    "kg_triples",
    "WITH "
    + _KG_GOLD_CTES
    + r"""
    SELECT DISTINCT subj, pred, obj, doc_id FROM (
      SELECT * FROM libs UNION ALL SELECT * FROM cls_def
      UNION ALL SELECT * FROM meth_contains UNION ALL SELECT * FROM meth_calls
      UNION ALL SELECT * FROM fn_def UNION ALL SELECT * FROM fn_calls
      UNION ALL SELECT * FROM inst
    ) ORDER BY doc_id, pred, subj, obj
    """,
)
def kg_triples(spark, sf_dir):
    from theta_spark.corpus import corpus_df
    from theta_spark.pipeline import extract_triples

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    corpus, _ = corpus_df(spark, n_docs, seed=42, num_partitions=8, with_docs=False)
    return (
        extract_triples(corpus)
        .select("subj", "pred", "obj", "doc_id")
        .orderBy("doc_id", "pred", "subj", "obj")
    )


@query(
    "kg_triples_prf",
    """
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           CAST(1.0 AS DOUBLE) AS precision_v,
           CAST(1.0 AS DOUBLE) AS recall_v,
           CAST(1.0 AS DOUBLE) AS f1
    """,
)
def kg_triples_prf(spark, sf_dir):
    """The flagship, oracle-checked: engine triples vs the generator's
    STRUCTURAL gold triples (corpus.py gold_triple_rows — written down at
    generation time, not produced by running the engine). The engine must
    recover the gold set exactly (P=R=F1=1.0, the BASELINE target >=0.95
    with margin); the oracle pins those values as constants plus the
    table-derived corpus size, so a regression anywhere in segment ->
    score -> decode -> dedup -> triple assembly flips this row red."""
    from theta_spark.corpus import GOLD_TRIPLES_SCHEMA, corpus_df, gold_triple_rows
    from theta_spark.metrics import triple_set_prf
    from theta_spark.pipeline import extract_triples

    n_docs = _load(spark, sf_dir, "documents").count()
    corpus, docs = corpus_df(spark, n_docs, seed=42, num_partitions=8, with_docs=True)
    pred = extract_triples(corpus)
    gold = spark.createDataFrame(gold_triple_rows(docs), GOLD_TRIPLES_SCHEMA)
    prf = triple_set_prf(pred, gold)
    return prf.select(
        F.lit(n_docs).cast("long").alias("n_docs"), "precision_v", "recall_v", "f1"
    )


# ===================================================================
# M6/D6 classification + A1-A5 metric aggregations (reference quirks)
# ===================================================================

@query(
    "m6_classify",
    r"""
    SELECT doc_id,
           CAST(list_position(scores, list_max(scores)) - 1 AS INT) AS pred_label
    FROM (
      SELECT doc_id,
             [('0x' || substr(md5('0#' || text), 1, 16))::UBIGINT,
              ('0x' || substr(md5('1#' || text), 1, 16))::UBIGINT,
              ('0x' || substr(md5('2#' || text), 1, 16))::UBIGINT,
              ('0x' || substr(md5('3#' || text), 1, 16))::UBIGINT] AS scores
      FROM documents
    ) ORDER BY doc_id
    """,
)
def m6_classify(spark, sf_dir):
    """M6/D6 (task_glue.py:295-454,653-665): Arrow-batched sequence
    classification with argmax decode; the deterministic scorer's md5
    formula is reproduced exactly by the oracle."""
    from theta_spark.operators.classify import classify_docs

    d = _load(spark, sf_dir, "documents")
    return (
        classify_docs(d, num_labels=4, id_col="doc_id", text_col="text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


_PRED_GOLD_CTE = """
    WITH pred AS (
      SELECT DISTINCT l_returnflag AS category, l_orderkey AS k1, l_partkey AS k2
      FROM lineitem WHERE l_quantity > 25
    ), gold AS (
      SELECT DISTINCT l_returnflag AS category, l_orderkey AS k1, l_partkey AS k2
      FROM lineitem WHERE l_extendedprice > 30000
    ), tp AS (
      SELECT category, COUNT(*) AS tp FROM (SELECT * FROM pred INTERSECT SELECT * FROM gold)
      GROUP BY category
    ), np AS (SELECT category, COUNT(*) AS np FROM pred GROUP BY category),
    ng AS (SELECT category, COUNT(*) AS ng FROM gold GROUP BY category),
    cats AS (SELECT category FROM pred UNION SELECT category FROM gold),
    counts AS (
      SELECT c.category,
             COALESCE(tp.tp, 0) AS tp,
             COALESCE(np.np, 0) - COALESCE(tp.tp, 0) AS fp,
             COALESCE(ng.ng, 0) - COALESCE(tp.tp, 0) AS fn
      FROM cats c LEFT JOIN tp USING (category)
      LEFT JOIN np USING (category) LEFT JOIN ng USING (category)
    ), prf AS (
      SELECT category, tp, fp, fn,
             CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) ELSE 0.0 END AS p,
             CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) ELSE 0.0 END AS r
      FROM counts
    ), prf2 AS (
      SELECT category, tp, fp, fn, p, r,
             CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0 END AS f1
      FROM prf
    )
"""


def _pred_gold_dfs(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    pred = li.filter(F.col("l_quantity") > 25).select(
        F.col("l_returnflag").alias("category"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_partkey").alias("k2"),
    )
    gold = li.filter(F.col("l_extendedprice") > 30000).select(
        F.col("l_returnflag").alias("category"),
        F.col("l_orderkey").alias("k1"),
        F.col("l_partkey").alias("k2"),
    )
    return pred, gold


@query(
    "a3_prf_per_category",
    _PRED_GOLD_CTE
    + """
    SELECT category, tp, fp, fn,
           ROUND(p, 6) AS precision_v, ROUND(r, 6) AS recall_v, ROUND(f1, 6) AS f1
    FROM prf2 ORDER BY f1 DESC, category
    """,
)
def a3_prf_per_category(spark, sf_dir):
    """A1-A3 (task_ner.py:1137-1154,35-39): per-category tp/fp/fn via
    semi/anti joins + P/R/F1 with zero-guards, sorted by F1 desc (O2)."""
    from theta_spark.metrics import prf_per_category, span_match_counts

    pred, gold = _pred_gold_dfs(spark, sf_dir)
    counts = span_match_counts(pred, gold, keys=["category", "k1", "k2"])
    return prf_per_category(counts)


@query(
    "a45_micro_macro",
    _PRED_GOLD_CTE
    + """
    , pooled AS (
      SELECT SUM(tp) AS tp, SUM(fp) AS fp, SUM(fn) AS fn FROM prf2
    ), pooled_prf AS (
      SELECT CASE WHEN tp + fp > 0 THEN tp::DOUBLE / (tp + fp) ELSE 0.0 END AS mp,
             CASE WHEN tp + fn > 0 THEN tp::DOUBLE / (tp + fn) ELSE 0.0 END AS mr
      FROM pooled
    )
    SELECT ROUND((SELECT AVG(p) FROM prf2), 6) AS micro_precision,
           ROUND((SELECT AVG(r) FROM prf2), 6) AS micro_recall,
           ROUND((SELECT AVG(f1) FROM prf2), 6) AS micro_f1,
           ROUND(mp, 6) AS macro_precision,
           ROUND(mr, 6) AS macro_recall,
           ROUND(CASE WHEN mp + mr > 0 THEN 2 * mp * mr / (mp + mr) ELSE 0.0 END, 6) AS macro_f1
    FROM pooled_prf
    """,
)
def a45_micro_macro(spark, sf_dir):
    """A4/A5 with the reference's naming quirks (task_ner.py:1216-1222,
    1292-1297): "Micro" = category-averaged (type-weighted macro), "Macro"
    = pooled-counts micro."""
    from theta_spark.metrics import macro_metrics, micro_metrics, span_match_counts

    pred, gold = _pred_gold_dfs(spark, sf_dir)
    counts = span_match_counts(pred, gold, keys=["category", "k1", "k2"])
    micro = micro_metrics(counts)
    macro = macro_metrics(counts).select("macro_precision", "macro_recall", "macro_f1")
    return micro.crossJoin(macro)


@query(
    "a4_micro_num_labels",
    _PRED_GOLD_CTE
    + """
    SELECT ROUND(SUM(p) / 4, 6) AS micro_precision,
           ROUND(SUM(r) / 4, 6) AS micro_recall,
           ROUND(SUM(f1) / 4, 6) AS micro_f1
    FROM prf2
    """,
)
def a4_micro_num_labels(spark, sf_dir):
    """A4's exact task_ner.py:1216-1222 variant: iterate ALL id2label
    categories (absent ones contribute 0) and divide by self.num_labels =
    len(categories) + 1 — here 3 returnflag categories + 1 = 4."""
    from theta_spark.metrics import micro_metrics, span_match_counts

    pred, gold = _pred_gold_dfs(spark, sf_dir)
    counts = span_match_counts(pred, gold, keys=["category", "k1", "k2"])
    return micro_metrics(counts, num_labels=4)


@query(
    "m6_pair_classify",
    r"""
    SELECT doc_id,
           CAST(list_position(scores, list_max(scores)) - 1 AS INT) AS pred_label
    FROM (
      SELECT doc_id,
             [('0x' || substr(md5('0#' || text || chr(31) || lang), 1, 16))::UBIGINT,
              ('0x' || substr(md5('1#' || text || chr(31) || lang), 1, 16))::UBIGINT,
              ('0x' || substr(md5('2#' || text || chr(31) || lang), 1, 16))::UBIGINT,
              ('0x' || substr(md5('3#' || text || chr(31) || lang), 1, 16))::UBIGINT] AS scores
      FROM documents
    ) ORDER BY doc_id
    """,
)
def m6_pair_classify(spark, sf_dir):
    """M6 sentence-pair shape (task_glue.py:80-92: GlueDataset encodes
    (text_a, text_b) pairs): classify (text, lang) through the same
    Arrow-batched stage; stand-in scores text_a + US(0x1f) + text_b, which
    the oracle reproduces with chr(31)."""
    from theta_spark.operators.classify import classify_docs

    d = _load(spark, sf_dir, "documents")
    return (
        classify_docs(d, num_labels=4, id_col="doc_id", text_col="text", text_b_col="lang")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    )


@query(
    "a6_multilabel_prf",
    r"""
    WITH p AS (
      SELECT doc_id, k FROM documents, generate_series(0, 3) t(k)
      WHERE ('0x' || substr(md5(k::VARCHAR || '#' || text), 1, 16))::UBIGINT
            > 9223372036854775808::UBIGINT
    ), g AS (
      SELECT doc_id, k FROM documents, generate_series(0, 3) t(k)
      WHERE ('0x' || substr(md5('g' || k::VARCHAR || '#' || text), 1, 4))::INT > 32768
    ), c AS (
      SELECT (SELECT COUNT(*) FROM p JOIN g USING (doc_id, k)) AS tp,
             (SELECT COUNT(*) FROM p) AS np,
             (SELECT COUNT(*) FROM g) AS ng
    ), prf AS (
      SELECT tp, np - tp AS fp, ng - tp AS fn,
             CASE WHEN np > 0 THEN tp::DOUBLE / np ELSE 0.0 END AS pv,
             CASE WHEN ng > 0 THEN tp::DOUBLE / ng ELSE 0.0 END AS rv
      FROM c
    )
    SELECT tp, fp, fn,
           ROUND(pv, 6) AS precision_v,
           ROUND(rv, 6) AS recall_v,
           ROUND(CASE WHEN pv + rv > 0 THEN 2 * pv * rv / (pv + rv) ELSE 0.0 END, 6) AS f1
    FROM prf
    """,
)
def a6_multilabel_prf(spark, sf_dir):
    """A6 multi-label P/R/F1 (task_glue.py:46-63 p_r_f1 on k-hot matrices):
    pred = the multi-label classifier (scores > 0.5), gold = an independent
    deterministic k-hot rule — both md5-derived so the oracle reproduces
    the full elementwise tp/fp/fn grid bit-for-bit."""
    from theta_spark.operators.classify import classify_docs, multilabel_prf

    d = _load(spark, sf_dir, "documents")
    pred = classify_docs(
        d, num_labels=4, id_col="doc_id", text_col="text", multi_label=True, threshold=0.5
    ).withColumnRenamed("id", "doc_id")
    ks = F.sequence(F.lit(0), F.lit(3))
    gold = d.select(
        "doc_id",
        F.filter(
            ks,
            lambda k: F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("g"), k.cast("string"), F.lit("#"), F.col("text"))),
                    1, 4,
                ),
                16, 10,
            ).cast("int")
            > 32768,
        ).alias("gold_labels"),
    )
    return multilabel_prf(pred, gold, on="doc_id")


def _m7_weights():
    from theta_spark.operators.ensemble import newton_cooling_weights

    return newton_cooling_weights(3, lamb=1 / 3)


_M7_W = _m7_weights()
_M7_FRAC = (
    "(('0x' || substr(md5(concat({m}, '|', p, '|', k, '|', doc_id)), 1, 4))::INT / 65536.0)"
)
_M7_AVG = "(" + " + ".join(
    f"{_M7_FRAC.format(m=m)} * {w!r}" for m, w in enumerate(_M7_W)
) + f") / {sum(_M7_W)!r}"


@query(
    "m7_logit_ensemble",
    f"""
    SELECT doc_id, position,
           CAST(list_position(avg_scores, list_max(avg_scores)) - 1 AS INT) AS pred_label
    FROM (
      SELECT doc_id, CAST(p AS INT) AS position,
             list_transform(generate_series(0, 3), k -> {_M7_AVG}) AS avg_scores
      FROM documents, generate_series(0, 7) t(p)
    )
    ORDER BY doc_id, position
    """,
)
def m7_logit_ensemble(spark, sf_dir):
    """M7 logit-level ensemble (ner_models.py:446-516): three 'models' emit
    per-position class-score tensors (md5-derived so the oracle can rebuild
    them); the engine averages with Newton-cooling weights exp(-t/3)
    (weight() at :476-480), divides by the weight sum as predict() does —
    all via the JVM nested zip_with in operators.ensemble.weighted_avg_probs
    — and argmax-decodes ONCE over the averaged scores."""
    from theta_spark.operators.ensemble import weighted_avg_probs

    d = _load(spark, sf_dir, "documents")

    def probs(m: int):
        return F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda p: F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda k: F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.lit(str(m)),
                                p.cast("string"),
                                k.cast("string"),
                                F.col("doc_id").cast("string"),
                            )
                        ),
                        1, 4,
                    ),
                    16, 10,
                ).cast("int")
                / F.lit(65536.0),
            ),
        )

    avg = weighted_avg_probs([probs(0), probs(1), probs(2)], _M7_W)
    return (
        d.select("doc_id", F.posexplode(avg).alias("position", "avg_scores"))
        .select(
            "doc_id",
            "position",
            (F.array_position("avg_scores", F.array_max("avg_scores")) - 1)
            .cast("int")
            .alias("pred_label"),
        )
        .orderBy("doc_id", "position")
    )


@query(
    "dd_cluster_resolve",
    r"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS tk
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(0, greatest(len(tk) - 3, 0)),
               i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS g
      FROM toks
    ), pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM grams a JOIN grams b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.g, b.g))::DOUBLE / len(list_distinct(a.g || b.g)) >= 0.8
    ), edges AS (
      SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
    ), walk(node, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, w.label FROM edges e JOIN walk w ON e.b = w.node
    )
    SELECT node AS doc_id, MIN(label) AS keeper FROM walk
    GROUP BY node ORDER BY doc_id
    """,
)
def dd_cluster_resolve(spark, sf_dir):
    """Near-dup cluster RESOLUTION — what a 100-TB dedup pipeline actually
    ends with: LSH pair stream -> connected components (alternating
    large-star/small-star) -> one keeper per cluster (min doc_id);
    singleton docs keep themselves. The oracle recomputes the exact pair
    set all-pairs and closes it transitively with a recursive CTE."""
    from theta_spark.canonicalize import connected_components
    from theta_spark.functions.dedup import ngram_jaccard_pairs

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", k=3, threshold=0.8).select("a", "b")
    comp = connected_components(pairs, nodes=d.select("doc_id"), name_col="doc_id")
    return (
        comp.select(F.col("name").alias("doc_id"), F.col("component").alias("keeper"))
        .orderBy("doc_id")
    )


# ------------------------------------------------------------------- X6
@query(
    "x6_token_augment",
    r"""
    WITH base AS (
      SELECT doc_id, text,
             string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n,
             CAST(1 + (('0x' || substr(md5(doc_id || '#p1#42'), 1, 8))::BIGINT
                       % len(string_split(text, ' '))) AS INT) AS p1,
             CAST(1 + (('0x' || substr(md5(doc_id || '#p2#42'), 1, 8))::BIGINT
                       % len(string_split(text, ' '))) AS INT) AS p2,
             ('0x' || substr(md5(doc_id || '#u#42'), 1, 8))::BIGINT / 4294967296.0 AS u
      FROM documents
    ), vocab AS (
      SELECT token, COUNT(*) AS dfreq
      FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token <> '' GROUP BY token
    ), cum AS (
      SELECT token,
             COALESCE(SUM(dfreq) OVER (ORDER BY token
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / SUM(dfreq) OVER () AS lo,
             SUM(dfreq) OVER (ORDER BY token
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / SUM(dfreq) OVER () AS hi
      FROM vocab
    )
    SELECT b.doc_id,
           array_to_string(list_transform(range(1, n + 1),
             i -> CASE WHEN i = p1 THEN '[PAD]' ELSE t[i] END), ' ') AS del_text,
           array_to_string(list_transform(range(1, n + 1),
             i -> t[CASE WHEN i = p1 THEN p2 WHEN i = p2 THEN p1 ELSE i END]), ' ') AS swap_text,
           array_to_string(list_transform(range(1, n + 1),
             i -> CASE WHEN i = p1 THEN c.token ELSE t[i] END), ' ') AS repl_text
    FROM base b JOIN cum c ON b.u >= c.lo AND b.u < c.hi
    ORDER BY doc_id
    """,
)
def x6_token_augment(spark, sf_dir):
    """X6 token-level augmentation (reference theta/utils/augment.py:96-148
    del/swap/repl) with md5-replayable draws: del splices [PAD], swap
    exchanges two positions, repl draws a replacement from the corpus-wide
    document-frequency vocab via the bucketed cumulative-interval join
    (the np.random.choice(p=freqs) analog, augment.py:76-79). The oracle
    rebuilds all three splices and the weighted draw in SQL."""
    from theta_spark.operators.augment import augment_tokens

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        augment_tokens(d, ops=("del", "swap", "repl"), seed=42)
        .select("doc_id", "del_text", "swap_text", "repl_text")
        .orderBy("doc_id")
    )


# ------------------------------------------------------------------- EMB
@query(
    "emb_hashed_ngram",
    r"""
    WITH sh AS (
      SELECT doc_id,
             list_transform(range(1, greatest(len(lower(text)) - 2, 1) + 1),
                            i -> substr(lower(text), i, 3)) AS g
      FROM documents
    ), raw AS (
      SELECT doc_id,
             list_transform(range(0, 16), j ->
               list_sum(list_transform(g, s ->
                 ('0x' || substr(md5(j::VARCHAR || '|' || s), 1, 8))::BIGINT
                   / 4294967296.0 - 0.5))) AS e
      FROM sh
    ), nrm AS (
      SELECT doc_id, e, sqrt(list_sum(list_transform(e, x -> x * x))) AS n FROM raw
    )
    SELECT doc_id, CAST(j AS INT) AS j,
           ROUND(CASE WHEN n > 0 THEN e[j + 1] / n ELSE 0.0 END, 6) AS val
    FROM nrm, range(0, 16) t(j)
    ORDER BY doc_id, j
    """,
)
def emb_hashed_ngram(spark, sf_dir):
    """documents -> embeddings: the deterministic hashed-3-gram unit-vector
    embedder (functions/embedding.py) — the same narrow stage a real
    encoder UDF drops into; exploded to (doc_id, j, val) scalars so the
    driver hash is engine-agnostic. The oracle rebuilds every hash term."""
    from theta_spark.functions.embedding import embed_docs

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        embed_docs(d, dim=16, k=3)
        .select("doc_id", F.posexplode("embedding").alias("j", "val"))
        .orderBy("doc_id", "j")
    )


# ------------------------------------------------------------------- ST
@query(
    "st_sessionize",
    r"""
    WITH f AS (
      -- floor(): Spark's timestamp->long cast truncates fractional
      -- seconds while DuckDB's ::BIGINT rounds
      SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS ts_s,
             CASE WHEN floor(epoch(ts))::BIGINT
                       - LAG(floor(epoch(ts))::BIGINT) OVER w > 1800
                       OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, event_id, ts_s,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      FROM f
    ), agg AS (
      SELECT user_id, sid, MIN(ts_s) AS session_start, MAX(ts_s) AS session_end,
             COUNT(*) AS n_events,
             first(event_id ORDER BY ts_s, event_id) AS first_event
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id, session_start, session_end, n_events, first_event
    FROM agg
    WHERE sid < (SELECT MAX(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
    ORDER BY user_id, session_start
    """,
)
def st_sessionize(spark, sf_dir):
    """Stateful sessionization, batch twin (streaming/stateful.py): the
    SAME per-user session walk that runs under applyInPandasWithState in
    a stream runs here through applyInPandas — emitting every CLOSED
    session (each user's open tail session is withheld, exactly the
    streaming append semantics before a timeout). The oracle is the
    gaps-and-islands SQL with each user's last session filtered out."""
    from theta_spark.streaming.stateful import sessionize_stream

    e = _load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return sessionize_stream(e, gap_sec=1800).orderBy("user_id", "session_start")


@query(
    "st_window_counts",
    r"""
    SELECT (floor(epoch(ts) / 600) * 600)::BIGINT AS window_start,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def st_window_counts(spark, sf_dir):
    """Event-time tumbling-window counts: the batch plan of the streaming
    `windowed_event_counts` operator (streaming/stateful.py — identical
    DataFrame code runs under readStream with a watermark). 10-minute
    windows aligned to the epoch."""
    from theta_spark.streaming.stateful import windowed_event_counts

    e = _load(spark, sf_dir, "events")
    return windowed_event_counts(e, "10 minutes").orderBy("window_start", "event_type")


# ------------------------------------------------------------------- P6
def _word_span_tags(d):
    """Deterministic, conflict-free gold tag set over a (doc_id, text)
    table: every word of length >= 6 as a single-token span with category
    (len % 6) + 1; every (5-letter, 3-letter) adjacent word pair as a
    two-token span with category 2. Shared by p6_label_encode and the
    NER EDA query; both oracles rebuild the same derivation in SQL."""
    win = Window.partitionBy("doc_id").orderBy("pos")
    words = (
        d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
        .withColumn(
            "start",
            F.coalesce(
                F.sum(F.length("w") + 1).over(win.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn("next_w", F.lead("w").over(win))
        .withColumn("next_start", F.lead("start").over(win))
    )
    singles = words.filter(F.length("w") >= 6).select(
        "doc_id",
        (F.length("w") % 6 + 1).cast("int").alias("category_id"),
        "start",
        (F.col("start") + F.length("w") - 1).alias("end"),
    )
    pairs = words.filter((F.length("w") == 5) & (F.length("next_w") == 3)).select(
        "doc_id",
        F.lit(2).cast("int").alias("category_id"),
        "start",
        (F.col("next_start") + 2).alias("end"),
    )
    return singles.unionByName(pairs)


@query(
    "p6_label_encode",
    r"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), words AS (
      SELECT doc_id, wo['pos'] AS pos, wo['w'] AS w, wo['start'] AS start
      FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(w) + 1), i -> {
          'pos': i - 1, 'w': w[i],
          'start': CASE WHEN i = 1 THEN 0
                        ELSE list_sum(list_transform(w[1:i-1], x -> len(x) + 1)) END
        })) AS wo
        FROM ws
      )
    ), wn AS (
      SELECT doc_id, w, start, start + len(w) - 1 AS fin,
             LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS next_w,
             LEAD(start) OVER (PARTITION BY doc_id ORDER BY pos) AS next_start
      FROM words
    ), tags AS (
      SELECT doc_id, CAST(len(w) % 6 + 1 AS INT) AS category_id, start, fin
      FROM wn WHERE len(w) >= 6
      UNION ALL
      SELECT doc_id, 2, start, next_start + 2
      FROM wn WHERE len(w) = 5 AND len(next_w) = 3
    ), segs AS (
      SELECT doc_id, CAST(s_seg / 63 AS INT) AS seg_id, CAST(s_seg AS INT) AS s_seg,
             substr(text, CAST(s_seg AS INT) + 1, 126) AS seg_text
      FROM (
        SELECT doc_id, text,
               unnest(generate_series(0, CAST(length(text) AS BIGINT) - 1, 63)) AS s_seg
        FROM documents
      )
    ), seg_tok AS (
      SELECT doc_id, seg_id, s_seg, seg_text, unnest(range(0, n_tok)) AS tok
      FROM (
        SELECT *, CAST(len(list_filter(string_split(seg_text, ' '), x -> x != '')) AS BIGINT) AS n_tok
        FROM segs
      )
    ), placed AS (
      -- token index of a local char offset p (single-space text): spaces
      -- before p, minus one when the window starts on a space (that space
      -- precedes token 0)
      SELECT s.doc_id, s.seg_id,
             len(substr(s.seg_text, 1, CAST(g.start - s.s_seg AS INT)))
               - len(replace(substr(s.seg_text, 1, CAST(g.start - s.s_seg AS INT)), ' ', ''))
               - CASE WHEN substr(s.seg_text, 1, 1) = ' ' THEN 1 ELSE 0 END AS s_tok,
             len(substr(s.seg_text, 1, CAST(g.fin - s.s_seg AS INT)))
               - len(replace(substr(s.seg_text, 1, CAST(g.fin - s.s_seg AS INT)), ' ', ''))
               - CASE WHEN substr(s.seg_text, 1, 1) = ' ' THEN 1 ELSE 0 END AS e_tok,
             g.category_id
      FROM segs s JOIN tags g
        ON g.doc_id = s.doc_id
       AND g.start >= s.s_seg
       AND g.fin <= s.s_seg + len(s.seg_text) - 1
    )
    SELECT t.doc_id, t.seg_id, CAST(t.tok AS INT) AS tok,
           CAST(COALESCE(MAX(CASE WHEN p.s_tok = t.tok THEN p.category_id END), 0) AS INT) AS start_id,
           CAST(COALESCE(MAX(CASE WHEN p.e_tok = t.tok THEN p.category_id END), 0) AS INT) AS end_id
    FROM seg_tok t
    LEFT JOIN placed p
      ON p.doc_id = t.doc_id AND p.seg_id = t.seg_id
     AND (p.s_tok = t.tok OR p.e_tok = t.tok)
    GROUP BY t.doc_id, t.seg_id, t.tok
    ORDER BY t.doc_id, t.seg_id, t.tok
    """,
)
def p6_label_encode(spark, sf_dir):
    """P6 train-path label encoding (task_ner.py:131-166): deterministic
    gold tags — every word of length >= 6 as a single-token span with
    category (len % 6) + 1, every (5-letter, 3-letter) adjacent word pair
    as a two-token span with category 2 (disjoint by construction, so no
    write conflicts) — projected into the W1 sliding windows as per-token
    start_ids/end_ids via the containment join + Arrow encode in
    operators.labels.encode_labels, then exploded to one row per token so
    the driver hash is engine-agnostic. The oracle rebuilds word offsets,
    tags, windows, and the char->token map in SQL."""
    from theta_spark.operators.labels import encode_labels
    from theta_spark.operators.segmentation import segment

    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    enc = encode_labels(segment(d, "text", 126, 63), _word_span_tags(d))
    return (
        enc.select(
            "doc_id", "seg_id",
            F.posexplode(F.arrays_zip("start_ids", "end_ids")).alias("tok", "ids"),
        )
        .select(
            "doc_id", "seg_id", "tok",
            F.col("ids.start_ids").alias("start_id"),
            F.col("ids.end_ids").alias("end_id"),
        )
        .orderBy("doc_id", "seg_id", "tok")
    )


@query(
    "kg_triples_prf_mlp",
    """
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           CAST(1.0 AS DOUBLE) AS precision_v,
           CAST(1.0 AS DOUBLE) AS recall_v,
           CAST(1.0 AS DOUBLE) AS f1
    """,
)
def kg_triples_prf_mlp(spark, sf_dir):
    """kg_triples_prf's twin with cfg.scorer='mlp': the TRAINED model
    (operators/neural.py MLPScorer — seeded numpy training, deterministic
    weights, batched forward), not the rule stand-in, runs the full
    segment -> score -> decode -> dedup -> triple assembly pipeline and
    must still recover the generator's structural gold exactly
    (P=R=F1=1.0). Proves the learned scorer path end-to-end through the
    driver gate, not just via pytest."""
    from theta_spark.config import PipelineConfig
    from theta_spark.corpus import GOLD_TRIPLES_SCHEMA, corpus_df, gold_triple_rows
    from theta_spark.metrics import triple_set_prf
    from theta_spark.pipeline import extract_triples

    n_docs = _load(spark, sf_dir, "documents").count()
    corpus, docs = corpus_df(spark, n_docs, seed=42, num_partitions=8, with_docs=True)
    pred = extract_triples(corpus, PipelineConfig(scorer="mlp"))
    gold = spark.createDataFrame(gold_triple_rows(docs), GOLD_TRIPLES_SCHEMA)
    return triple_set_prf(pred, gold).select(
        F.lit(n_docs).cast("long").alias("n_docs"), "precision_v", "recall_v", "f1"
    )


def _kmeans_af_cte(k: int) -> str:
    """CTE chain (starting with a comma, appended after _UNIT_CTE) that
    unrolls one deterministic Lloyd round at codebook size `k` and ends
    with `af` = the final (vec_id, unit, cell) assignment — shared by the
    IVF oracle and the SemDeDup oracle."""
    return rf"""
    , cent0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, unit AS cvec
      FROM (SELECT vec_id, unit FROM u ORDER BY vec_id LIMIT {k})
    ), a1 AS (
      SELECT vec_id, unit, cell FROM (
        SELECT u.vec_id, u.unit, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY u.vec_id
                 ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
                                i -> u.unit[i] * c.cvec[i])), 4) DESC, c.cell) AS rk
        FROM u CROSS JOIN cent0 c
      ) WHERE rk = 1
    ), dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    cent1 AS (
      SELECT cell, list(c ORDER BY pos) AS cvec FROM (
        SELECT a1.cell, d.i AS pos, ROUND(AVG(a1.unit[d.i]), 6) AS c
        FROM a1 CROSS JOIN dims d GROUP BY a1.cell, d.i
      ) GROUP BY cell
    ), af AS (
      SELECT vec_id, unit, cell FROM (
        SELECT u.vec_id, u.unit, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY u.vec_id
                 ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
                                i -> u.unit[i] * c.cvec[i])), 4) DESC, c.cell) AS rk
        FROM u CROSS JOIN cent1 c
      ) WHERE rk = 1
    )"""


def _ivf_kmeans_sql(k: int) -> str:
    """Oracle for the Lloyd-trained IVF top-k, parameterized on codebook
    size: one k-means round (init = unit vectors of the k smallest ids)
    unrolled structurally in SQL, then the single-probe IVF join. The SAME
    SQL shape serves both the literal-codebook path (tiny k) and the
    broadcast-Arrow path (large k) — the oracle sees only the contract."""
    return (
        _UNIT_CTE
        + _kmeans_af_cte(k)
        + r"""
    , q AS (SELECT vec_id AS query_id, cell, unit AS qu FROM af WHERE vec_id % 25 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND(list_sum(list_transform(generate_series(1, 64), i -> c.unit[i] * q.qu[i])), 4) AS cos_sim
      FROM af c JOIN q ON c.cell = q.cell AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 5 ORDER BY query_id, rk
    """
    )


@query("sim_ivf_kmeans_topk", _ivf_kmeans_sql(4))
def sim_ivf_kmeans_topk(spark, sf_dir):
    """IVF top-k over a LEARNED coarse quantizer: one deterministic
    Lloyd's round (k=4, init = unit vectors of the 4 smallest ids) trains
    the codebook Spark-side — centroid assignment is pure codegen over
    literal centroid arrays (zero shuffle), the update one tiny
    (cell, pos)-keyed agg — then the standard single-probe IVF join runs
    on the learned cells. Completes the ANN story: the `label` column
    stand-in is replaced by k-means cells (functions/similarity.py
    kmeans_cells_lloyd). The oracle unrolls the same Lloyd round in SQL."""
    from theta_spark.functions.similarity import ivf_topk, kmeans_cells_lloyd

    e = _load(spark, sf_dir, "embeddings")
    assign, _cents = kmeans_cells_lloyd(e, k=4, iters=1)
    with_cells = e.join(assign, on="vec_id")
    qs = with_cells.filter(F.col("vec_id") % 25 == 0)
    return ivf_topk(with_cells, qs, k=5, cell_col="cell").orderBy("query_id", "rk")


_PQ_ADC_SQL = (
    _UNIT_CTE
    + r"""
    , subs AS (
      SELECT vec_id, 0 AS sub, unit[1:32] AS svec FROM u
      UNION ALL
      SELECT vec_id, 1 AS sub, unit[33:64] AS svec FROM u
    ),
    cent0 AS (
      SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS code,
             svec AS cvec
      FROM subs
      WHERE vec_id IN (SELECT vec_id FROM u ORDER BY vec_id LIMIT 4)
    ),
    a1 AS (
      SELECT vec_id, sub, code, svec FROM (
        SELECT s.vec_id, s.sub, c.code, s.svec,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY ROUND(list_sum(list_transform(generate_series(1, 32),
                                i -> s.svec[i] * c.cvec[i])), 4) DESC, c.code) AS rk
        FROM subs s JOIN cent0 c ON s.sub = c.sub
      ) WHERE rk = 1
    ),
    sdims AS (SELECT unnest(generate_series(1, 32)) AS i),
    cent1 AS (
      SELECT sub, code, list(c ORDER BY pos) AS cvec FROM (
        SELECT a1.sub, a1.code, d.i AS pos, ROUND(AVG(a1.svec[d.i]), 6) AS c
        FROM a1 CROSS JOIN sdims d GROUP BY a1.sub, a1.code, d.i
      ) GROUP BY sub, code
    ),
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY ROUND(list_sum(list_transform(generate_series(1, 32),
                                i -> s.svec[i] * c.cvec[i])), 4) DESC, c.code) AS rk
        FROM subs s JOIN cent1 c ON s.sub = c.sub
      ) WHERE rk = 1
    ),
    q AS (SELECT vec_id AS query_id, sub, svec AS qsub FROM subs WHERE vec_id % 25 = 0),
    tbl AS (
      SELECT q.query_id, c.sub, c.code,
             ROUND(list_sum(list_transform(generate_series(1, 32),
                   i -> q.qsub[i] * c.cvec[i])), 4) AS part
      FROM q JOIN cent1 c ON q.sub = c.sub
    ),
    scored AS (
      SELECT t.query_id, e.vec_id AS neighbor_id, ROUND(SUM(t.part), 4) AS adc_sim
      FROM codes e JOIN tbl t ON e.sub = t.sub AND e.code = t.code
      WHERE e.vec_id <> t.query_id
      GROUP BY t.query_id, e.vec_id
    )
    SELECT query_id, neighbor_id, adc_sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 5 ORDER BY query_id, rk
    """
)


@query("sim_pq_adc_topk", _PQ_ADC_SQL)
def sim_pq_adc_topk(spark, sf_dir):
    """Product quantization + ADC top-k — IVF-PQ's compression half, the
    index shape a 100-TB embedding corpus actually needs (m codes per
    vector instead of dim floats; queries never read a raw corpus
    vector). Train: per-subspace Lloyd (m=2 subspaces of 32 dims, ksub=4,
    one round; all subspaces in one DataFrame pass, driver traffic =
    ksub*dim doubles). Encode: broadcast codebook tensor + Arrow argmax —
    zero shuffle, O(1) plan columns (functions/similarity.py pq_encode).
    Score: per-query (sub, code) -> dot table broadcast; corpus side
    touches only its integer codes (explode -> broadcast join -> partial-
    agg sum). The oracle unrolls the whole train->encode->ADC dataflow in
    SQL under the shared determinism contract (half-up-4 dots, lowest
    code on ties, round-6 centroid update). Exactness is pytest-pinned:
    at m=1, ksub=N, iters=0 ADC reproduces brute-force cosine top-k
    bit-for-bit."""
    from theta_spark.functions.similarity import pq_adc_topk, pq_encode, train_pq

    e = _load(spark, sf_dir, "embeddings")
    cbs = train_pq(e, m=2, ksub=4, iters=1)
    enc = pq_encode(e, cbs, m=2)
    qs = e.filter(F.col("vec_id") % 25 == 0)
    return pq_adc_topk(enc, qs, cbs, k=5, m=2).orderBy("query_id", "rk")


@query("sim_ivf_kmeans64_topk", _ivf_kmeans_sql(64))
def sim_ivf_kmeans64_topk(spark, sf_dir):
    """IVF top-k with a LARGE codebook (nlist=64): exercises the broadcast-
    codebook Arrow assignment path (functions/similarity.py
    _assign_cells_arrow) — centroids ship as ONE broadcast numpy matrix and
    each Arrow batch does a chunked matmul argmax, so the plan stays O(1)
    columns while per-row assignment cost grows O(k*dim) FLOPs. This is the
    shape a 100-TB ANN index needs (nlist in the thousands); the k=4 twin
    above keeps the literal-codegen path honest. Same oracle template,
    LIMIT 64."""
    from theta_spark.functions.similarity import ivf_topk, kmeans_cells_lloyd

    e = _load(spark, sf_dir, "embeddings")
    assign, _cents = kmeans_cells_lloyd(e, k=64, iters=1)
    with_cells = e.join(assign, on="vec_id")
    qs = with_cells.filter(F.col("vec_id") % 25 == 0)
    return ivf_topk(with_cells, qs, k=5, cell_col="cell").orderBy("query_id", "rk")


_IVFPQ_SQL = (
    _UNIT_CTE
    + r"""
    , c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, unit AS cvec
      FROM (SELECT vec_id, unit FROM u ORDER BY vec_id LIMIT 4)
    ), ca AS (
      SELECT vec_id, unit, cell FROM (
        SELECT u.vec_id, u.unit, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY u.vec_id
                 ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
                                i -> u.unit[i] * c.cvec[i])), 4) DESC, c.cell) AS rk
        FROM u CROSS JOIN c0 c
      ) WHERE rk = 1
    ), dims AS (SELECT unnest(generate_series(1, 64)) AS i),
    c1 AS (
      SELECT cell, list(c ORDER BY pos) AS cvec FROM (
        SELECT ca.cell, d.i AS pos, ROUND(AVG(ca.unit[d.i]), 6) AS c
        FROM ca CROSS JOIN dims d GROUP BY ca.cell, d.i
      ) GROUP BY cell
    ), af AS (
      SELECT vec_id, cell FROM (
        SELECT u.vec_id, c.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY u.vec_id
                 ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
                                i -> u.unit[i] * c.cvec[i])), 4) DESC, c.cell) AS rk
        FROM u CROSS JOIN c1 c
      ) WHERE rk = 1
    ),
    subs AS (
      SELECT vec_id, 0 AS sub, unit[1:32] AS svec FROM u
      UNION ALL
      SELECT vec_id, 1 AS sub, unit[33:64] AS svec FROM u
    ),
    p0 AS (
      SELECT sub, ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS code,
             svec AS cvec
      FROM subs
      WHERE vec_id IN (SELECT vec_id FROM u ORDER BY vec_id LIMIT 4)
    ),
    pa AS (
      SELECT vec_id, sub, code, svec FROM (
        SELECT s.vec_id, s.sub, c.code, s.svec,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY ROUND(list_sum(list_transform(generate_series(1, 32),
                                i -> s.svec[i] * c.cvec[i])), 4) DESC, c.code) AS rk
        FROM subs s JOIN p0 c ON s.sub = c.sub
      ) WHERE rk = 1
    ),
    sdims AS (SELECT unnest(generate_series(1, 32)) AS i),
    p1 AS (
      SELECT sub, code, list(c ORDER BY pos) AS cvec FROM (
        SELECT pa.sub, pa.code, d.i AS pos, ROUND(AVG(pa.svec[d.i]), 6) AS c
        FROM pa CROSS JOIN sdims d GROUP BY pa.sub, pa.code, d.i
      ) GROUP BY sub, code
    ),
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY ROUND(list_sum(list_transform(generate_series(1, 32),
                                i -> s.svec[i] * c.cvec[i])), 4) DESC, c.code) AS rk
        FROM subs s JOIN p1 c ON s.sub = c.sub
      ) WHERE rk = 1
    ),
    q AS (SELECT vec_id AS query_id, cell FROM af WHERE vec_id % 25 = 0),
    tbl AS (
      SELECT s.vec_id AS query_id, s.sub, c.code,
             ROUND(list_sum(list_transform(generate_series(1, 32),
                   i -> s.svec[i] * c.cvec[i])), 4) AS part
      FROM subs s JOIN p1 c ON s.sub = c.sub
      WHERE s.vec_id % 25 = 0
    ),
    member AS (
      SELECT q.query_id, a.vec_id AS neighbor_id
      FROM af a JOIN q ON a.cell = q.cell AND a.vec_id <> q.query_id
    ),
    scored AS (
      SELECT mb.query_id, mb.neighbor_id, ROUND(SUM(t.part), 4) AS adc_sim
      FROM member mb
      JOIN codes e ON e.vec_id = mb.neighbor_id
      JOIN tbl t ON t.query_id = mb.query_id AND t.sub = e.sub AND t.code = e.code
      GROUP BY mb.query_id, mb.neighbor_id
    )
    SELECT query_id, neighbor_id, adc_sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_sim DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk <= 5 ORDER BY query_id, rk
    """
)


_IVFPQ_MP_SQL = _IVFPQ_SQL.replace(
    """q AS (SELECT vec_id AS query_id, cell FROM af WHERE vec_id % 25 = 0),""",
    """q AS (
      SELECT query_id, cell FROM (
        SELECT u.vec_id AS query_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY u.vec_id
                 ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
                                i -> u.unit[i] * c.cvec[i])), 4) DESC, c.cell) AS prk
        FROM u CROSS JOIN c1 c
        WHERE u.vec_id % 25 = 0
      ) WHERE prk <= 2
    ),""",
)
assert _IVFPQ_MP_SQL != _IVFPQ_SQL  # the replace anchored


@query("sim_ivfpq_topk", _IVFPQ_SQL)
def sim_ivfpq_topk(spark, sf_dir):
    """IVF-PQ: both ANN halves composed into the index a 10^9-vector
    corpus actually serves from — a Lloyd-trained coarse quantizer prunes
    candidates to the query's cell (IVF), and scoring inside the cell
    reads only PQ codes via the broadcast ADC table (no raw corpus vector
    is touched at query time). Train both quantizers Spark-side
    (kmeans_cells_lloyd k=4; train_pq m=2, ksub=4), encode once with the
    broadcast-tensor Arrow path, then one (cell, sub, code) broadcast
    equi-join + partial-agg sum (functions/similarity.py ivfpq_adc_topk).
    The oracle unrolls BOTH trainers and the pruned ADC scoring in one
    SQL composition of the sim_ivf_kmeans_topk and sim_pq_adc_topk
    oracles — same determinism contract throughout."""
    from theta_spark.functions.similarity import (
        assign_cells,
        ivfpq_adc_topk,
        kmeans_cells_lloyd,
        pq_encode,
        train_pq,
        with_unit_vec,
    )

    e = _load(spark, sf_dir, "embeddings")
    # ONE normalized projection feeds trainer, encoder, and query side
    # (with_unit_vec is idempotent); the index build is a single fused
    # Arrow pass emitting (id, codes, cell) — no encode-then-join shuffle.
    eu = with_unit_vec(e).persist()
    _assign, cents = kmeans_cells_lloyd(eu, k=4, iters=1)
    cbs = train_pq(eu, m=2, ksub=4, iters=1)
    enc = pq_encode(eu, cbs, m=2, cents=cents)
    qs = assign_cells(eu.filter(F.col("vec_id") % 25 == 0), cents, keep_unit=True)
    # eu stays persisted: the returned plan still reads it (tiny, LRU-evicted)
    return ivfpq_adc_topk(enc, qs, cbs, k=5, m=2).orderBy("query_id", "rk")


# ===================================================================
# Graph analytics over the materialized KG (functions/graph.py)
# ===================================================================
# The KG pipeline ends at node/edge tables; these are the queries a KG
# user runs next. The driver graph derives deterministically from
# lineitem (2000 nodes, ~23k directed edges, 98 dangling, ~26k
# triangles at sf0.01) so DuckDB can rebuild it exactly; pytest runs the
# same operators over the real pipeline edge table.

_GRAPH_SQL_CTE = """ge AS (
  SELECT DISTINCT src, dst FROM (
    SELECT l_suppkey AS src, l_partkey % 2000 AS dst FROM lineitem WHERE l_quantity > 35
    UNION ALL
    SELECT l_partkey % 2000 AS src, l_suppkey AS dst FROM lineitem WHERE l_quantity <= 5
  ) WHERE src <> dst
)"""


def _graph_edges(spark, sf_dir):
    li = _load(spark, sf_dir, "lineitem")
    fwd = li.filter(F.col("l_quantity") > 35).select(
        F.col("l_suppkey").alias("src"), F.expr("l_partkey % 2000").alias("dst")
    )
    rev = li.filter(F.col("l_quantity") <= 5).select(
        F.expr("l_partkey % 2000").alias("src"), F.col("l_suppkey").alias("dst")
    )
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def _pr_recurrence_sql(
    edges: str,
    pfx: str,
    iters: int,
    init_from: str | None = None,
    damping: int = 85,
    scale: int = 10**12,
) -> str:
    """CTE definitions (comma-joined, no WITH) unrolling the exact i64
    fixed-point PageRank recurrence over edge CTE `edges`, names prefixed
    with `pfx`. `init_from` names a prior (node, ..., r) CTE to warm-start
    from (new nodes fall back to uniform base) — the SQL twin of
    pagerank(init_ranks=...)."""
    if init_from is None:
        r0 = f"{pfx}r0 AS (SELECT node, out_deg, (SELECT base FROM {pfx}params) AS r FROM {pfx}ndeg)"
    else:
        r0 = f"""{pfx}r0 AS (
  SELECT n.node, n.out_deg,
         CAST(COALESCE(p.r, (SELECT base FROM {pfx}params)) AS BIGINT) AS r
  FROM {pfx}ndeg n LEFT JOIN {init_from} p ON n.node = p.node)"""
    parts = [
        f"""{pfx}nodes AS (SELECT src AS node FROM {edges} UNION SELECT dst FROM {edges}),
{pfx}params AS (SELECT COUNT(*)::BIGINT AS nn, ({scale} // COUNT(*))::BIGINT AS base FROM {pfx}nodes),
{pfx}outd AS (SELECT src AS node, COUNT(*)::BIGINT AS out_deg FROM {edges} GROUP BY src),
{pfx}ndeg AS (SELECT n.node, COALESCE(o.out_deg, 0)::BIGINT AS out_deg
         FROM {pfx}nodes n LEFT JOIN {pfx}outd o ON n.node = o.node),
{r0}""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""{pfx}c{i} AS (
  SELECT e.dst AS node, SUM(r.r // r.out_deg)::BIGINT AS s
  FROM {edges} e JOIN {pfx}r{i - 1} r ON e.src = r.node WHERE r.out_deg > 0 GROUP BY e.dst
),
{pfx}d{i} AS (SELECT COALESCE(SUM(r), 0)::BIGINT AS dm FROM {pfx}r{i - 1} WHERE out_deg = 0),
{pfx}r{i} AS (
  SELECT n.node, n.out_deg,
    CAST((((100 - {damping}) * p.base) // 100)
         + (({damping} * (COALESCE(c.s, 0) + (d.dm // p.nn))) // 100) AS BIGINT) AS r
  FROM {pfx}ndeg n LEFT JOIN {pfx}c{i} c ON n.node = c.node CROSS JOIN {pfx}d{i} d CROSS JOIN {pfx}params p
)"""
        )
    return ",\n".join(parts)


def _pagerank_oracle_sql(iters: int = 4, damping: int = 85, scale: int = 10**12) -> str:
    return (
        "WITH "
        + _GRAPH_SQL_CTE
        + ",\n"
        + _pr_recurrence_sql("ge", "", iters, damping=damping, scale=scale)
        + f"\nSELECT node, r AS rank_s, r / {float(scale)} AS rank FROM r{iters} ORDER BY node"
    )


@query(
    "gr_degree_stats",
    f"""
    WITH {_GRAPH_SQL_CTE},
    outd AS (SELECT src AS node, COUNT(*) AS out_deg FROM ge GROUP BY src),
    ind AS (SELECT dst AS node, COUNT(*) AS in_deg FROM ge GROUP BY dst)
    SELECT COALESCE(o.node, i.node) AS node,
           COALESCE(o.out_deg, 0)::BIGINT AS out_deg,
           COALESCE(i.in_deg, 0)::BIGINT AS in_deg
    FROM outd o FULL OUTER JOIN ind i ON o.node = i.node ORDER BY node
    """,
)
def gr_degree_stats(spark, sf_dir):
    """Degree profile of the KG edge table: one groupBy per direction
    over distinct pairs, full-outer joined (functions/graph.py)."""
    from theta_spark.functions.graph import degree_stats

    return degree_stats(_graph_edges(spark, sf_dir)).orderBy("node")



def _ppr_oracle_sql(iters: int = 4, damping: int = 85, scale: int = 10**12) -> str:
    """Personalized-PageRank twin of _pagerank_oracle_sql: teleport and
    dangling mass return to the seed set (nodes divisible by 100) instead
    of uniformly — the same exact-i64 recurrence pagerank(seeds=...) runs,
    unrolled as SQL CTEs."""
    parts = [
        f"""WITH {_GRAPH_SQL_CTE},
nodes AS (SELECT src AS node FROM ge UNION SELECT dst FROM ge),
seeds AS (SELECT node FROM nodes WHERE node % 100 = 0),
params AS (SELECT COUNT(*)::BIGINT AS ns, ({scale} // COUNT(*))::BIGINT AS sbase FROM seeds),
outd AS (SELECT src AS node, COUNT(*)::BIGINT AS out_deg FROM ge GROUP BY src),
ndeg AS (SELECT n.node, COALESCE(o.out_deg, 0)::BIGINT AS out_deg,
                CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
         FROM nodes n LEFT JOIN outd o ON n.node = o.node
         LEFT JOIN seeds s ON n.node = s.node),
r0 AS (SELECT node, out_deg, is_seed,
              CAST(CASE WHEN is_seed = 1 THEN (SELECT sbase FROM params) ELSE 0 END AS BIGINT) AS r
       FROM ndeg)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""c{i} AS (
  SELECT e.dst AS node, SUM(r.r // r.out_deg)::BIGINT AS s
  FROM ge e JOIN r{i - 1} r ON e.src = r.node WHERE r.out_deg > 0 GROUP BY e.dst
),
d{i} AS (SELECT COALESCE(SUM(r), 0)::BIGINT AS dm FROM r{i - 1} WHERE out_deg = 0),
r{i} AS (
  SELECT n.node, n.out_deg, n.is_seed,
    CAST((CASE WHEN n.is_seed = 1 THEN (((100 - {damping}) * p.sbase) // 100) ELSE 0 END)
         + (({damping} * (COALESCE(c.s, 0)
            + (CASE WHEN n.is_seed = 1 THEN (d.dm // p.ns) ELSE 0 END))) // 100) AS BIGINT) AS r
  FROM ndeg n LEFT JOIN c{i} c ON n.node = c.node CROSS JOIN d{i} d CROSS JOIN params p
)"""
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, r AS rank_s, r / {float(scale)} AS rank FROM r{iters} ORDER BY node"
    )


@query("gr_pagerank", _pagerank_oracle_sql(iters=4))
def gr_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank in i64 fixed-point (functions/graph.py):
    rank mass scaled by 10^12, contributions via exact integral `div`,
    per-iteration dangling mass as a broadcast 1-row aggregate. Integer
    sums are associative, so the result is bit-identical under any
    partitioning/AQE re-plan — the oracle unrolls the same four
    iterations in SQL and hash-matches rank_s exactly."""
    from theta_spark.functions.graph import pagerank

    return pagerank(_graph_edges(spark, sf_dir), iters=4).orderBy("node")


@query("gr_ppr", _ppr_oracle_sql(iters=4))
def gr_ppr(spark, sf_dir):
    """Personalized PageRank (functions/graph.py pagerank(seeds=...)):
    "entities related to X" over the KG — teleport and dangling mass
    return to the seed set (nodes divisible by 100) instead of uniformly.
    Same one-lazy-plan / O(iters)-shuffle skeleton and exact i64
    fixed-point arithmetic as gr_pagerank, so the oracle unrolls the
    seeded recurrence in SQL and hash-matches rank_s bit for bit."""
    from theta_spark.functions.graph import graph_nodes, pagerank

    e = _graph_edges(spark, sf_dir)
    seeds = graph_nodes(e).filter(F.col("node") % 100 == 0)
    return pagerank(e, iters=4, seeds=seeds).orderBy("node")


@query(
    "gr_triangles",
    f"""
    WITH {_GRAPH_SQL_CTE},
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ge),
    nn AS (SELECT COUNT(*) AS n_nodes FROM (SELECT a AS x FROM und UNION SELECT b FROM und)),
    ne AS (SELECT COUNT(*) AS n_edges FROM und),
    nt AS (
      SELECT COUNT(*) AS n_triangles
      FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    )
    SELECT n_nodes, n_edges, n_triangles FROM nn CROSS JOIN ne CROSS JOIN nt
    """,
)
def gr_triangles(spark, sf_dir):
    """Triangle count with degree-ordered orientation (functions/graph.py):
    each undirected edge points from its (degree, id)-smaller endpoint, so
    oriented out-degree is O(sqrt(E)) and the wedge join is skew-bounded
    around hub entities; the count equals the naive a<b<c enumeration the
    oracle runs."""
    from theta_spark.functions.graph import triangle_count

    return triangle_count(_graph_edges(spark, sf_dir))


@query(
    "gr_two_hop",
    f"""
    WITH {_GRAPH_SQL_CTE},
    one AS (SELECT src AS node, dst AS reach FROM ge),
    two AS (SELECT o.node, m.dst AS reach FROM one o JOIN ge m ON o.reach = m.src),
    reach AS (
      SELECT node, COUNT(*) AS reach2 FROM (
        SELECT DISTINCT node, reach FROM (SELECT * FROM one UNION ALL SELECT * FROM two)
        WHERE node <> reach
      ) GROUP BY node
    )
    SELECT node, reach2 FROM reach ORDER BY reach2 DESC, node LIMIT 30
    """,
)
def gr_two_hop(spark, sf_dir):
    """Top-30 nodes by distinct <=2-hop reach: two equi-joins + distinct;
    hub skew in the mid-node join is AQE-split at scale
    (functions/graph.py two_hop_reach)."""
    from theta_spark.functions.graph import two_hop_reach

    return two_hop_reach(_graph_edges(spark, sf_dir), top=30)


@query(
    "gr_clustering_coeff",
    f"""
    WITH {_GRAPH_SQL_CTE},
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ge),
    deg AS (
      SELECT node, COUNT(*)::BIGINT AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
      ) GROUP BY node
    ),
    t AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
      JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    corners AS (
      SELECT node, COUNT(*)::BIGINT AS tri_cnt FROM (
        SELECT unnest([x, y, z]) AS node FROM t
      ) GROUP BY node
    )
    SELECT d.node, d.deg,
           COALESCE(c.tri_cnt, 0)::BIGINT AS tri_cnt,
           ROUND(CASE WHEN d.deg >= 2
                      THEN 2.0 * COALESCE(c.tri_cnt, 0) / (d.deg * (d.deg - 1))
                      ELSE 0.0 END, 6) AS lcc
    FROM deg d LEFT JOIN corners c ON d.node = c.node ORDER BY d.node
    """,
)
def gr_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per node (functions/graph.py
    clustering_coefficient): per-node triangle counts from the SAME
    degree-oriented skew-bounded enumeration as gr_triangles (each
    triangle row explodes to its 3 corners, one groupBy), joined to
    degrees — never materializes a node's neighbor set, so a hub with
    10^6 neighbors costs O(oriented-degree^2) = O(E) not O(deg^2). The
    oracle enumerates triangles naively (a<b<c) and must agree on every
    (node, deg, tri_cnt, lcc) row."""
    from theta_spark.functions.graph import clustering_coefficient

    return clustering_coefficient(_graph_edges(spark, sf_dir)).orderBy("node")


def _incr_pagerank_oracle_sql() -> str:
    """Warm-started PageRank oracle: 4 uniform iterations on the PRIOR
    edge subset (ge_old), then 2 refinement iterations on the FULL edge
    set initialized from the prior ranks (new nodes at uniform base) —
    the exact SQL twin of pagerank(full, iters=2, init_ranks=prior)."""
    scale = 10**12
    return (
        "WITH "
        + _GRAPH_SQL_CTE
        + ",\nge_old AS (SELECT * FROM ge WHERE (src + dst) % 10 <> 0),\n"
        + _pr_recurrence_sql("ge_old", "p", 4)
        + ",\n"
        + _pr_recurrence_sql("ge", "f", 2, init_from="pr4")
        + f"\nSELECT node, r AS rank_s, r / {float(scale)} AS rank FROM fr2 ORDER BY node"
    )


@query("gr_pagerank_incremental", _incr_pagerank_oracle_sql())
def gr_pagerank_incremental(spark, sf_dir):
    """Incremental PageRank (the KG's edge table grows per pipeline run):
    ranks from the PRIOR graph (~90% edge subset, 4 iterations from
    uniform) warm-start 2 refinement iterations over the merged full
    graph — new nodes enter at uniform base (functions/graph.py pagerank
    init_ranks). At 10^9 edges this turns every incremental update from
    a full fixed-point run into a couple of refinement sweeps; exact i64
    arithmetic end-to-end keeps it oracle-checkable bit for bit."""
    from theta_spark.functions.graph import pagerank

    full = _graph_edges(spark, sf_dir)
    old = full.filter((F.col("src") + F.col("dst")) % 10 != 0)
    prior = pagerank(old, iters=4)
    return pagerank(full, iters=2, init_ranks=prior).orderBy("node")


# ===================================================================
# A7 EDA breadth: the reference's NER and glue EDA paths
# ===================================================================

@query(
    "a7_eda_ner",
    r"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), words AS (
      SELECT doc_id, wo['pos'] AS pos, wo['w'] AS w, wo['start'] AS start
      FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(w) + 1), i -> {
          'pos': i - 1, 'w': w[i],
          'start': CASE WHEN i = 1 THEN 0
                        ELSE list_sum(list_transform(w[1:i-1], x -> len(x) + 1)) END
        })) AS wo
        FROM ws
      )
    ), wn AS (
      SELECT doc_id, w, start, start + len(w) - 1 AS fin,
             LEAD(w) OVER (PARTITION BY doc_id ORDER BY pos) AS next_w,
             LEAD(start) OVER (PARTITION BY doc_id ORDER BY pos) AS next_start
      FROM words
    ), tags AS (
      SELECT doc_id, CAST(len(w) % 6 + 1 AS INT) AS category_id, start, fin
      FROM wn WHERE len(w) >= 6
      UNION ALL
      SELECT doc_id, 2, start, next_start + 2
      FROM wn WHERE len(w) = 5 AND len(next_w) = 3
    )
    SELECT category_id,
           COUNT(*) AS n_tags,
           COUNT(DISTINCT doc_id) AS n_docs,
           ROUND(AVG(fin - start + 1), 4) AS len_mean,
           ROUND(stddev_pop(fin - start + 1), 4) AS len_std,
           CAST(MIN(fin - start + 1) AS BIGINT) AS len_min,
           CAST(MAX(fin - start + 1) AS BIGINT) AS len_max
    FROM tags GROUP BY category_id ORDER BY category_id
    """,
)
def a7_eda_ner(spark, sf_dir):
    """A7, NER path (theta/nlp/eda/__main__.py:79-103): label set, tag
    distribution, span-length mean/std/min/max per category — the
    reference's driver-side numpy loops as one groupBy over the same
    deterministic tag derivation p6_label_encode trains on."""
    d = _load(spark, sf_dir, "documents").select("doc_id", "text")
    span_len = F.col("end") - F.col("start") + 1
    return (
        _word_span_tags(d)
        .groupBy("category_id")
        .agg(
            F.count(F.lit(1)).alias("n_tags"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.round(F.avg(span_len), 4).alias("len_mean"),
            F.round(F.stddev_pop(span_len), 4).alias("len_std"),
            F.min(span_len).alias("len_min"),
            F.max(span_len).alias("len_max"),
        )
        .orderBy("category_id")
    )


@query(
    "a7_eda_glue",
    r"""
    WITH scored AS (
      SELECT doc_id, text, lang,
             CAST(list_position(scores, list_max(scores)) - 1 AS INT) AS label
      FROM (
        SELECT doc_id, text, lang,
               [('0x' || substr(md5('0#' || text), 1, 16))::UBIGINT,
                ('0x' || substr(md5('1#' || text), 1, 16))::UBIGINT,
                ('0x' || substr(md5('2#' || text), 1, 16))::UBIGINT,
                ('0x' || substr(md5('3#' || text), 1, 16))::UBIGINT] AS scores
        FROM documents
      )
    )
    SELECT label,
           COUNT(*) AS n_samples,
           ROUND(AVG(len(text)), 4) AS a_mean,
           ROUND(stddev_pop(len(text)), 4) AS a_std,
           MIN(len(text)) AS a_min,
           MAX(len(text)) AS a_max,
           ROUND(AVG(len(lang)), 4) AS b_mean,
           MIN(len(lang)) AS b_min,
           MAX(len(lang)) AS b_max
    FROM scored GROUP BY label ORDER BY label
    """,
)
def a7_eda_glue(spark, sf_dir):
    """A7, glue path (theta/nlp/eda/__main__.py:40-77): label
    distribution plus text_a/text_b length mean/std/min/max per class —
    over the same deterministic classifier m6_classify exercises
    (text_a = text, text_b = lang)."""
    from theta_spark.operators.classify import classify_docs

    d = _load(spark, sf_dir, "documents")
    labels = classify_docs(d, num_labels=4, id_col="doc_id", text_col="text").withColumnRenamed(
        "id", "doc_id"
    )
    j = d.join(labels.select("doc_id", F.col("pred_label").alias("label")), "doc_id")
    ta, tb = F.length("text"), F.length("lang")
    return (
        j.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_samples"),
            F.round(F.avg(ta), 4).alias("a_mean"),
            F.round(F.stddev_pop(ta), 4).alias("a_std"),
            F.min(ta).alias("a_min"),
            F.max(ta).alias("a_max"),
            F.round(F.avg(tb), 4).alias("b_mean"),
            F.min(tb).alias("b_min"),
            F.max(tb).alias("b_max"),
        )
        .orderBy("label")
    )


@query(
    "gr_components",
    f"""
    WITH RECURSIVE {_GRAPH_SQL_CTE},
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ge),
    sube AS (SELECT a, b FROM und WHERE (a + b) % 7 = 0),
    nodes AS (SELECT src AS node FROM ge UNION SELECT dst FROM ge),
    bidir AS (SELECT a, b FROM sube UNION SELECT b, a FROM sube),
    walk(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.a, w.label FROM bidir e JOIN walk w ON e.b = w.node
    )
    SELECT node, MIN(label) AS component FROM walk GROUP BY node ORDER BY node
    """,
)
def gr_components(spark, sf_dir):
    """Weakly connected components of the KG graph via the SAME
    alternating large-star/small-star + union-find-finisher machinery
    canonicalization uses (canonicalize.connected_components) — proving
    the CC operator is generic over any (a, b) edge table, not just the
    near-dup name graph. The edge set is deterministically sparsified
    ((a+b) % 7 = 0) so the graph splits into many non-trivial components;
    isolated nodes keep identity labels. The oracle closes the same edges
    transitively with a recursive CTE."""
    from theta_spark.canonicalize import connected_components
    from theta_spark.functions.graph import graph_nodes, undirected_edges

    ge = _graph_edges(spark, sf_dir)
    sube = undirected_edges(ge).filter((F.col("a") + F.col("b")) % 7 == 0)
    comp = connected_components(sube, nodes=graph_nodes(ge), name_col="node")
    return comp.select(
        F.col("name").alias("node"), F.col("component").alias("component")
    ).orderBy("node")


def _lpa_step_sql(i: int) -> str:
    """One synchronous LPA round in SQL: count neighbor labels, keep the
    most frequent, smallest label on ties."""
    return f"""
    l{i + 1} AS (
      SELECT node, label FROM (
        SELECT adj.node, l{i}.label, COUNT(*) AS n,
               ROW_NUMBER() OVER (PARTITION BY adj.node
                                  ORDER BY COUNT(*) DESC, l{i}.label) AS rk
        FROM adj JOIN l{i} ON adj.nbr = l{i}.node
        GROUP BY adj.node, l{i}.label
      ) WHERE rk = 1
    )"""


@query(
    "gr_label_prop",
    f"""
    WITH {_GRAPH_SQL_CTE},
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ge),
    adj AS (SELECT a AS node, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
    l0 AS (SELECT node, node AS label FROM (SELECT a AS node FROM und UNION SELECT b FROM und)),
    {",".join(_lpa_step_sql(i) for i in range(3))}
    SELECT node, label FROM l3 ORDER BY node, label
    """,
)
def gr_label_prop(spark, sf_dir):
    """Community detection over the KG: 3 rounds of SYNCHRONOUS label
    propagation with a deterministic smallest-label tie rule
    (functions/graph.py label_propagation — the fixed-step contract of
    GraphX's LabelPropagation.run, made engine-reproducible). Same
    iterative equi-join shape as PageRank: one lazy plan, 2 shuffles per
    round, AQE covers hub skew. The oracle unrolls the 3 rounds as CTEs."""
    from theta_spark.functions.graph import label_propagation

    ge = _graph_edges(spark, sf_dir)
    return (
        label_propagation(ge, steps=3)
        .select(F.col("node").cast("long"), F.col("label").cast("long"))
        .orderBy("node", "label")
    )


def _hindex_round_sql(i: int) -> str:
    """One h-index round in SQL: each node takes the H-index of its
    neighbors' current values (max over desc-rank r of min(r, c_r))."""
    return f"""
    c{i + 1} AS (
      SELECT node, MAX(LEAST(rn, c_nbr)) AS core FROM (
        SELECT adj.node, c{i}.core AS c_nbr,
               ROW_NUMBER() OVER (PARTITION BY adj.node
                                  ORDER BY c{i}.core DESC) AS rn
        FROM adj JOIN c{i} ON adj.nbr = c{i}.node
      ) GROUP BY node
    )"""


@query(
    "gr_kcore",
    f"""
    WITH {_GRAPH_SQL_CTE},
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ge),
    adj AS (SELECT a AS node, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
    c0 AS (SELECT node, COUNT(*) AS core FROM adj GROUP BY node),
    {",".join(_hindex_round_sql(i) for i in range(4))}
    SELECT node, core FROM c4 ORDER BY node
    """,
)
def gr_kcore(spark, sf_dir):
    """k-core decomposition of the KG after 4 synchronous h-index rounds
    (functions/graph.py coreness — init degree, then each node takes the
    H-index of its neighbors' values; monotone convergence to true core
    numbers is pytest-pinned on known graphs, the fixed-round contract
    keeps the query engine-reproducible like gr_label_prop). Same
    PageRank/LPA equi-join skeleton: 2 shuffles per round, values bounded
    by degree. The oracle unrolls the 4 rounds as window+agg CTEs."""
    from theta_spark.functions.graph import coreness

    ge = _graph_edges(spark, sf_dir)
    return (
        coreness(ge, rounds=4)
        .select(F.col("node").cast("long"), F.col("core").cast("long"))
        .orderBy("node")
    )


@query(
    "gr_link_pred",
    f"""
    WITH {_GRAPH_SQL_CTE},
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ge),
    nbr AS (SELECT a AS node, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT node, COUNT(*)::BIGINT AS deg FROM nbr GROUP BY node),
    cn AS (
      SELECT n1.node AS a, n2.node AS b, COUNT(*)::BIGINT AS cn
      FROM nbr n1 JOIN nbr n2 ON n1.nbr = n2.nbr AND n1.node < n2.node
      GROUP BY n1.node, n2.node
    ),
    cand AS (
      SELECT cn.a, cn.b, cn.cn FROM cn
      LEFT JOIN und ON cn.a = und.a AND cn.b = und.b WHERE und.a IS NULL
    )
    SELECT c.a, c.b, c.cn,
           ROUND(c.cn::DOUBLE / (da.deg + db.deg - c.cn), 6) AS jaccard
    FROM cand c JOIN deg da ON c.a = da.node JOIN deg db ON c.b = db.node
    ORDER BY c.cn DESC, c.a, c.b LIMIT 20
    """,
)
def gr_link_pred(spark, sf_dir):
    """KG completion: top-20 NON-edge pairs by common-neighbor count with
    neighbor-set Jaccard (functions/graph.py link_prediction) — "entities
    that should probably be linked". Pure relational wedge enumeration +
    anti-join; the ordering key is all-integer (cn DESC, a, b) so the cut
    is deterministic and the rounded Jaccard can never flip the set."""
    from theta_spark.functions.graph import link_prediction

    return (
        link_prediction(_graph_edges(spark, sf_dir), top=20)
        .select(
            F.col("a").cast("long"),
            F.col("b").cast("long"),
            F.col("cn").cast("long"),
            "jaccard",
        )
        .orderBy(F.desc("cn"), "a", "b")
    )


def _bfs_round_sql(i: int) -> str:
    """One frontier round in SQL: relax edges out of nodes settled at
    exactly dist=i, then min-merge into the settled set."""
    return f"""
    r{i + 1} AS (
      SELECT DISTINCT e.dst AS node, {i + 1} AS dist
      FROM ge e JOIN d{i} f ON e.src = f.node AND f.dist = {i}
    ),
    d{i + 1} AS (
      SELECT node, MIN(dist)::INT AS dist FROM (
        SELECT node, dist FROM d{i} UNION ALL SELECT node, dist FROM r{i + 1}
      ) GROUP BY node
    )"""


@query(
    "gr_bfs_dist",
    f"""
    WITH {_GRAPH_SQL_CTE},
    nodes AS (SELECT src AS node FROM ge UNION SELECT dst FROM ge),
    d0 AS (SELECT node, 0 AS dist FROM nodes WHERE node % 100 = 0),
    {",".join(_bfs_round_sql(i) for i in range(3))}
    SELECT node, dist FROM d3 ORDER BY node
    """,
)
def gr_bfs_dist(spark, sf_dir):
    """Multi-source BFS ("the 3-hop neighborhood of these entities"):
    exact shortest hop counts from the seed set (nodes divisible by 100)
    within 3 rounds over the DIRECTED edge set (functions/graph.py
    bfs_distances). Frontier iteration — each round joins only the nodes
    settled last round against edges, then an integer min-groupBy; no
    floats, bit-identical under any partitioning. The oracle unrolls the
    3 frontier rounds as CTEs."""
    from theta_spark.functions.graph import bfs_distances, graph_nodes

    ge = _graph_edges(spark, sf_dir)
    seeds = graph_nodes(ge).filter(F.col("node") % 100 == 0)
    return (
        bfs_distances(ge, seeds, rounds=3)
        .select(F.col("node").cast("long"), F.col("dist").cast("int"))
        .orderBy("node")
    )


@query(
    "t_bm25_topk",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS tk
      FROM documents
    ),
    pt AS (
      SELECT doc_id,
             len(tk)::DOUBLE AS dl,
             len(list_filter(tk, x -> x = 'table'))::DOUBLE AS tf0,
             len(list_filter(tk, x -> x = 'hash'))::DOUBLE AS tf1,
             len(list_filter(tk, x -> x = 'merge'))::DOUBLE AS tf2
      FROM t
    ),
    g AS (
      SELECT COUNT(*)::DOUBLE AS n, AVG(dl) AS avgdl,
             SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df0,
             SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df1,
             SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END)::DOUBLE AS df2
      FROM pt
    )
    SELECT doc_id, ROUND(
        ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5))
          * (tf0 * 2.2 / (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
      + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5))
          * (tf1 * 2.2 / (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl)))
      + ln(1.0 + (n - df2 + 0.5) / (df2 + 0.5))
          * (tf2 * 2.2 / (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
    FROM pt CROSS JOIN g
    ORDER BY bm25 DESC, doc_id LIMIT 10
    """,
)
def t_bm25_topk(spark, sf_dir):
    """Corpus retrieval: top-10 documents by Okapi BM25 (Lucene idf
    variant, k1=1.2 b=0.75) against the fixed query bag
    [table, hash, merge] (functions/text.py bm25_topk). Two jobs total at
    any corpus size: per-row tf/dl column expressions (no explode), ONE
    broadcast 1-row global aggregate, then codegen scoring and a
    TakeOrderedAndProject top-k. Ordering key is the ROUNDED score so
    ulp-level libm drift between engines cannot flip the reported set."""
    from theta_spark.functions.text import bm25_topk

    return (
        bm25_topk(_load(spark, sf_dir, "documents"), ["table", "hash", "merge"], k=10)
        .orderBy(F.desc("bm25"), "doc_id")
    )


@query(
    "t_contamination",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '') AS tk
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(0, greatest(len(tk) - 3, 0)),
               i -> array_to_string(list_slice(tk, i + 1, i + 3), ' '))) AS g
      FROM toks
    ),
    bench AS (SELECT DISTINCT unnest(g) AS shingle FROM grams WHERE doc_id % 37 = 0),
    corp AS (SELECT doc_id, unnest(g) AS shingle FROM grams WHERE doc_id % 37 <> 0)
    SELECT c.doc_id,
           COUNT(*)::BIGINT AS n_shingles,
           SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hits,
           ROUND(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS contamination
    FROM corp c LEFT JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
)
def t_contamination(spark, sf_dir):
    """Benchmark decontamination (functions/dedup.py contamination_scores):
    per-doc fraction of distinct word-3-gram shingles appearing anywhere
    in the benchmark slice (doc_id % 37 == 0) — the pre-training sweep
    against eval sets. Benchmark shingles are distinct-ed once and
    BROADCAST; the corpus side is one narrow Arrow shingle stage + a
    broadcast left join + one groupBy(doc_id). The oracle rebuilds the
    same shingling (pinned by dd_ngram_jaccard) and overlap counts."""
    from theta_spark.functions.dedup import contamination_scores

    d = _load(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    corpus = d.filter(F.col("doc_id") % 37 != 0)
    return contamination_scores(corpus, bench, k=3).orderBy("doc_id")


@query(
    "a8_epoch_loss",
    """
    WITH d AS (
      SELECT doc_id % 3 AS run_id,
             (doc_id // 3) % 6 AS epoch,
             (doc_id // 18) % 7 AS batch,
             (doc_id * 7 + n_chars * 3) % 1000 AS loss_m
      FROM documents
    ), batches AS (
      SELECT run_id, epoch, batch,
             AVG(loss_m) AS val_loss,
             COUNT(*) AS bsz
      FROM d GROUP BY run_id, epoch, batch
    )
    SELECT run_id, epoch,
           COUNT(*)::BIGINT AS n_batches,
           ROUND(AVG(val_loss), 6) AS val_loss,
           ROUND(SUM(val_loss * bsz) / SUM(bsz), 6) AS val_loss_weighted
    FROM batches GROUP BY run_id, epoch ORDER BY run_id, epoch
    """,
)
def a8_epoch_loss(spark, sf_dir):
    """A8 (theta/nlp/tasks/task.py:1300-1305, task_glue.py:692-695): epoch
    validation loss = UNWEIGHTED mean of per-batch means — the reference's
    sum(out['val_loss'] for out in outputs)/len(outputs) quirk where a short
    tail batch counts exactly as much as a full one. The metrics table is
    synthesized deterministically from documents (run/epoch/batch by doc_id,
    integer milliloss from (doc_id, n_chars)); the weighted mean rides
    beside it to expose the quirk. One groupBy per level, map-side partials,
    no window."""
    from theta_spark.operators.training import epoch_val_metrics

    d = _load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 3).alias("run_id"),
        ((F.col("doc_id") / 3).cast("long") % 6).alias("epoch"),
        ((F.col("doc_id") / 18).cast("long") % 7).alias("batch"),
        ((F.col("doc_id") * 7 + F.col("n_chars") * 3) % 1000).alias("loss_m"),
    )
    batches = d.groupBy("run_id", "epoch", "batch").agg(
        F.avg("loss_m").alias("val_loss"), F.count(F.lit(1)).alias("bsz")
    )
    return epoch_val_metrics(batches, ["val_loss"], weight_col="bsz").orderBy(
        "run_id", "epoch"
    )


@query(
    "a9_best_model",
    """
    WITH d AS (
      SELECT doc_id % 3 AS run_id,
             (doc_id // 3) % 6 AS epoch,
             (doc_id * 7 + n_chars * 3) % 1000 AS loss_m
      FROM documents
    ), ep AS (
      SELECT run_id, epoch, CAST(SUM(loss_m) % 97 AS DOUBLE) AS score
      FROM d GROUP BY run_id, epoch
    ), seq AS (
      SELECT run_id, epoch, score,
             ROW_NUMBER() OVER (PARTITION BY run_id ORDER BY epoch) AS rn,
             MIN(score) OVER (PARTITION BY run_id ORDER BY epoch
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_min
      FROM ep
    ), flags AS (
      SELECT *,
             CASE WHEN prev_min IS NULL OR score < prev_min THEN 1 ELSE 0 END
               AS is_best,
             CASE WHEN prev_min IS NULL OR score < prev_min THEN score
                  ELSE prev_min END AS best_so_far
      FROM seq
    ), waits AS (
      SELECT *,
             rn - COALESCE(MAX(CASE WHEN is_best = 1 THEN rn END)
                           OVER (PARTITION BY run_id ORDER BY epoch
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                           0) AS wait_count
      FROM flags
    ), stops AS (
      SELECT *,
             CASE WHEN wait_count >= 2 THEN 1 ELSE 0 END AS stopped,
             COALESCE(MIN(CASE WHEN wait_count >= 2 THEN rn END)
                      OVER (PARTITION BY run_id), 2147483647) AS stop_rn
      FROM waits
    ), kept AS (
      SELECT * FROM stops WHERE rn <= stop_rn
    ), sel AS (
      SELECT *,
             MAX(CASE WHEN is_best = 1 THEN rn END)
               OVER (PARTITION BY run_id) AS sel_rn
      FROM kept
    )
    SELECT run_id, epoch, score, is_best, ROUND(best_so_far, 6) AS best_so_far,
           wait_count::BIGINT AS wait_count, stopped,
           CASE WHEN rn = COALESCE(sel_rn, -1) THEN 1 ELSE 0 END AS selected
    FROM sel ORDER BY run_id, epoch
    """,
)
def a9_best_model(spark, sf_dir):
    """A9 (theta/nlp/tasks/task.py:483-518): best-model selection + early
    stopping as per-run windows — strict-improvement is_best against the
    running best (init quirk task.py:331: 0.0 when greater_is_better, +inf
    otherwise), wait_count resets on improvement, training halts at
    wait_count >= patience, and `selected` marks the surviving checkpoint
    (last is_best epoch in the trained prefix). Three concurrent runs from
    documents (per-epoch score = integer loss sum mod 97) stop at different
    epochs. Every window partitions by run_id — runs are the scale-out
    dimension (a sweep trains thousands), epochs per run are O(10)."""
    from theta_spark.operators.training import best_model_selection

    d = _load(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 3).alias("run_id"),
        ((F.col("doc_id") / 3).cast("long") % 6).alias("epoch"),
        ((F.col("doc_id") * 7 + F.col("n_chars") * 3) % 1000).alias("loss_m"),
    )
    ep = d.groupBy("run_id", "epoch").agg(
        (F.sum("loss_m") % 97).cast("double").alias("score")
    )
    out = best_model_selection(
        ep, score_col="score", greater_is_better=False, patience=2
    )
    return out.select(
        "run_id",
        "epoch",
        "score",
        "is_best",
        F.round("best_so_far", 6).alias("best_so_far"),
        F.col("wait_count").cast("long").alias("wait_count"),
        "stopped",
        "selected",
    ).orderBy("run_id", "epoch")


@query(
    "t_repetition",
    r"""
    WITH toks AS (
      SELECT doc_id, length(text) AS total_chars,
             list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                         x -> x != '') AS tk
      FROM documents
    ), base AS (
      SELECT doc_id, total_chars, len(tk) AS n_words,
             len(list_distinct(tk)) AS n_distinct, tk
      FROM toks
    ), g2 AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(0, len(tk) - 2),
               i -> array_to_string(list_slice(tk, i + 1, i + 2), ' '))) AS gram
      FROM base
    ), g2c AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM g2 GROUP BY doc_id, gram
    ), top2 AS (
      SELECT doc_id, cnt * length(gram) AS top_chars
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY cnt DESC, gram ASC) AS rn
            FROM g2c)
      WHERE rn = 1
    ), g5 AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(0, len(tk) - 5),
               i -> array_to_string(list_slice(tk, i + 1, i + 5), ' '))) AS gram
      FROM base
    ), g5c AS (
      SELECT doc_id, gram, COUNT(*) AS cnt FROM g5 GROUP BY doc_id, gram
    ), dup5 AS (
      SELECT doc_id,
             SUM(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup_chars
      FROM g5c GROUP BY doc_id
    )
    SELECT b.doc_id,
           b.n_words::BIGINT AS n_words,
           ROUND(CASE WHEN b.n_words > 0
                      THEN 1.0 - b.n_distinct::DOUBLE / b.n_words
                      ELSE 0.0 END, 6) AS dup_word_frac,
           ROUND(CASE WHEN b.total_chars > 0
                      THEN COALESCE(t.top_chars, 0)::DOUBLE / b.total_chars
                      ELSE 0.0 END, 6) AS top2_frac,
           ROUND(CASE WHEN b.total_chars > 0
                      THEN COALESCE(d.dup_chars, 0)::DOUBLE / b.total_chars
                      ELSE 0.0 END, 6) AS dup5_frac,
           CASE WHEN COALESCE(t.top_chars, 0) * 5 <= b.total_chars
                 AND COALESCE(d.dup_chars, 0) * 20 <= b.total_chars * 3
                THEN 1 ELSE 0 END AS rep_pass
    FROM base b
    LEFT JOIN top2 t USING (doc_id)
    LEFT JOIN dup5 d USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def t_repetition(spark, sf_dir):
    """Gopher repetition filters (functions/text.py repetition_stats): per-doc
    top-2-gram char fraction (deterministic tie-break), duplicate-5-gram char
    fraction, duplicate-word fraction, and the pass verdict at the Gopher
    thresholds (0.20 / 0.15) as exact integer comparisons. One narrow Arrow
    stage of integer counts — no explode, no shuffle — with division and
    rounding JVM-side. The oracle rebuilds gram counting relationally."""
    from theta_spark.functions.text import repetition_stats

    return repetition_stats(_load(spark, sf_dir, "documents")).orderBy("doc_id")


def _hits_oracle_sql(iters: int = 3) -> str:
    """Unrolled SQL twin of functions/graph.py:hits — the same integer
    recurrence (a_i = sum of h_{i-1} over in-edges, h_i = sum of a_i over
    out-edges, h_0 = 1), max-normalized once at the end."""
    parts = [
        f"""WITH {_GRAPH_SQL_CTE},
nodes AS (SELECT src AS node FROM ge UNION SELECT dst FROM ge),
h0 AS (SELECT node, CAST(1 AS BIGINT) AS v FROM nodes)"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i} AS (
  SELECT e.dst AS node, SUM(h.v)::BIGINT AS v
  FROM ge e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst
),
h{i} AS (
  SELECT e.src AS node, SUM(a.v)::BIGINT AS v
  FROM ge e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
)"""
        )
    parts.append(
        f"""base AS (
  SELECT n.node, COALESCE(a.v, 0)::BIGINT AS auth_s, COALESCE(h.v, 0)::BIGINT AS hub_s
  FROM nodes n
  LEFT JOIN a{iters} a ON n.node = a.node
  LEFT JOIN h{iters} h ON n.node = h.node
),
mx AS (SELECT MAX(auth_s) AS ma, MAX(hub_s) AS mh FROM base)"""
    )
    return (
        ",\n".join(parts)
        + """
SELECT b.node, b.auth_s, b.hub_s,
       ROUND(CASE WHEN m.ma > 0 THEN b.auth_s::DOUBLE / m.ma ELSE 0.0 END, 6) AS auth,
       ROUND(CASE WHEN m.mh > 0 THEN b.hub_s::DOUBLE / m.mh ELSE 0.0 END, 6) AS hub
FROM base b CROSS JOIN mx m ORDER BY b.node"""
    )


@query("gr_hits", _hits_oracle_sql(iters=3))
def gr_hits(spark, sf_dir):
    """HITS hubs/authorities over the KG (functions/graph.py hits): the
    power iteration run UNNORMALIZED in exact i64 (h0=1; authority = sum
    of hub scores over in-edges, hub = sum of NEW authority scores over
    out-edges), max-normalized once at the end — integer sums are
    associative so the scores are bit-identical under any partitioning,
    and the oracle unrolls the same 3 rounds as CTEs. Two shuffle joins +
    two integer aggs per round, O(iters) shuffles, overflow guarded up
    front from the degree profile."""
    from theta_spark.functions.graph import hits

    return hits(_graph_edges(spark, sf_dir), iters=3).orderBy("node")


_SEMDEDUP_SQL = (
    _UNIT_CTE.replace("WITH u AS", "WITH RECURSIVE u AS")
    + _kmeans_af_cte(4)
    + r"""
    , pairs AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND(list_sum(list_transform(generate_series(1, 64),
                  i -> a.unit[i] * b.unit[i])), 4) >= 0.35
    ), sym AS (
      SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
    ), walk(node, label) AS (
      SELECT vec_id, vec_id FROM u
      UNION
      SELECT e.a, w.label FROM sym e JOIN walk w ON e.b = w.node
    )
    SELECT w.node AS vec_id, af.cell,
           MIN(w.label) AS keeper,
           CASE WHEN MIN(w.label) = w.node THEN 1 ELSE 0 END AS kept
    FROM walk w JOIN af ON af.vec_id = w.node
    GROUP BY w.node, af.cell ORDER BY vec_id
    """
)


@query("dd_semdedup", _SEMDEDUP_SQL)
def dd_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (functions/similarity.py semantic_dedup):
    Lloyd k-means cells over the embeddings (k=4, the oracle-pinned
    quantizer), cosine >= 0.35 pairs WITHIN each cell only (the paper's
    bound on the quadratic search), connected-components group
    resolution, keeper = min vec_id. The oracle reuses the shared Lloyd
    CTE chain and closes the pair set with a recursive CTE."""
    from theta_spark.functions.similarity import semantic_dedup

    return semantic_dedup(
        _load(spark, sf_dir, "embeddings"), k=4, iters=1, threshold=0.35
    ).orderBy("vec_id")


@query(
    "t_stratified_sample",
    r"""
    WITH kept AS (
      SELECT lang, doc_id
      FROM documents
      WHERE ('0x' || substr(md5(doc_id || '#strat#42'), 1, 8))::BIGINT % 1000 <
            CASE lang WHEN 'en' THEN 250 WHEN 'de' THEN 1000
                      WHEN 'es' THEN 1000 WHEN 'fr' THEN 1000
                      WHEN 'zh' THEN 500 ELSE 0 END
    )
    SELECT lang, COUNT(*)::BIGINT AS n_kept,
           MIN(doc_id) AS min_id, MAX(doc_id) AS max_id,
           SUM(doc_id)::BIGINT AS id_sum
    FROM kept GROUP BY lang ORDER BY lang
    """,
)
def t_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling (functions/sampling.py
    stratified_sample): per-language keep rates in permille (keep all of
    the rare languages, a quarter of dominant en, half of zh) decided by
    an md5 draw modulo 1000 — ONE narrow filter, no shuffle, no count
    pass, bit-identical on any cluster/partitioning/rerun, and
    subset-composable across rates at the same seed. Aggregated per
    stratum (count + id checksums) so the oracle pins the EXACT kept
    set, not just its size."""
    from theta_spark.functions.sampling import stratified_sample

    kept = stratified_sample(
        _load(spark, sf_dir, "documents"),
        rates_permille={"en": 250, "de": 1000, "es": 1000, "fr": 1000, "zh": 500},
        stratum_col="lang",
        key_col="doc_id",
        seed=42,
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("lang")
    )


@query(
    "t_domain_mix",
    r"""
    WITH counts AS (
      SELECT lang AS domain, COUNT(*)::BIGINT AS n_docs FROM documents GROUP BY lang
    ), tot AS (SELECT SUM(n_docs)::BIGINT AS n_total FROM counts),
    base AS (
      SELECT domain, n_docs, n_total,
             CASE domain WHEN 'en' THEN 200 WHEN 'de' THEN 200 WHEN 'es' THEN 200
                         WHEN 'fr' THEN 200 WHEN 'zh' THEN 200 ELSE 0 END AS target_pm
      FROM counts CROSS JOIN tot
    ), w AS (
      SELECT *, (target_pm * n_total) AS w_num, (1000 * n_docs) AS w_den FROM base
    ), mx AS (SELECT MAX(w_num::DOUBLE / w_den) AS w_max FROM w)
    SELECT domain, n_docs,
           ROUND(n_docs::DOUBLE / n_total, 6) AS observed_share,
           ROUND(target_pm / 1000.0, 6) AS target_share,
           ROUND(CASE WHEN w_max > 0 THEN (w_num::DOUBLE / w_den) / w_max
                      ELSE 0.0 END, 6) AS weight_norm
    FROM w CROSS JOIN mx ORDER BY domain
    """,
)
def t_domain_mix(spark, sf_dir):
    """Domain-mixture reweighting (functions/sampling.py
    domain_mix_weights): observed vs target share per language and the
    normalized sampling weight that moves the mix toward a UNIFORM
    five-way target — the most under-represented language keeps rate
    1.0, the rest are downsampled proportionally (feed weight*1000 into
    stratified_sample for the exact-integer keep rule). One
    groupBy(domain) + a broadcast 1-row max; ratios are single
    divisions of exact integers."""
    from theta_spark.functions.sampling import domain_mix_weights

    return domain_mix_weights(
        _load(spark, sf_dir, "documents"),
        target_permille={"en": 200, "de": 200, "es": 200, "fr": 200, "zh": 200},
        domain_col="lang",
    ).orderBy("domain")


@query(
    "t_pack_sequences",
    r"""
    WITH d AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x != ''))::BIGINT AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS start_tok
      FROM d
    )
    SELECT doc_id, n_tokens, start_tok,
           start_tok // 128 AS bin_first,
           greatest(start_tok + n_tokens - 1, start_tok) // 128 AS bin_last,
           start_tok % 128 AS bin_offset
    FROM c ORDER BY doc_id
    """,
)
def t_pack_sequences(spark, sf_dir):
    """Concat-and-chunk sequence packing (functions/packing.py
    pack_sequences): every doc's position in the flat token stream a
    pre-training run consumes — 128-token bins, docs split across bin
    boundaries, all-integer. The global cumsum is the two-phase prefix
    sum (per-bucket window + triangular offsets join — no unpartitioned
    window); the oracle is the naive single-window cumsum the two-phase
    form is provably identical to."""
    from theta_spark.functions.packing import pack_sequences

    return pack_sequences(
        _load(spark, sf_dir, "documents"), window=128, bucket_width=1024
    ).orderBy("doc_id")


@query(
    "t_pii_redact",
    r"""
    WITH aug AS (
      SELECT doc_id,
             text ||
             CASE WHEN doc_id % 3 = 0
                  THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
             CASE WHEN doc_id % 5 = 0
                  THEN ' host 10.0.' || (doc_id % 256) || '.7' ELSE '' END ||
             CASE WHEN doc_id % 7 = 0
                  THEN ' acct 4111111111111111' ELSE '' END AS text
      FROM documents
    )
    , masked AS (
      SELECT doc_id, text,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
               AS after_email
      FROM aug
    ), masked2 AS (
      SELECT *, regexp_replace(after_email,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS after_ip
      FROM masked
    )
    SELECT doc_id,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
           len(regexp_extract_all(after_email,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
           len(regexp_extract_all(after_ip, '\b\d{9,19}\b'))::BIGINT AS n_idnum,
           regexp_replace(after_ip, '\b\d{9,19}\b', '<ID>', 'g') AS redacted
    FROM masked2 ORDER BY doc_id
    """,
)
def t_pii_redact(spark, sf_dir):
    """PII scrub (functions/text.py redact_pii): emails / IPv4 / id-like
    digit runs counted on the original text and masked with sentinels —
    pure codegen regexp columns, no UDF, scan-bound at any scale. PII is
    synthesized deterministically from doc_id on BOTH sides (the corpus
    itself is clean), so the oracle pins counts AND the full redacted
    string against DuckDB's RE2 — the patterns are restricted to the
    dialect-shared subset."""
    from theta_spark.functions.text import redact_pii

    d = _load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
                         F.lit("@example.com")),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" host 10.0."), (F.col("doc_id") % 256).cast("string"),
                         F.lit(".7")),
            ).otherwise(""),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" acct 4111111111111111"))
            .otherwise(""),
        ).alias("text"),
    )
    return redact_pii(d).select(
        "doc_id", "n_email", "n_ipv4", "n_idnum", "redacted"
    ).orderBy("doc_id")


@query(
    "t_hll_cardinality",
    r"""
    WITH h AS (
      SELECT lang, ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h
      FROM documents
    ), sp AS (
      SELECT lang, h // 72057594037927936 AS idx, h % 72057594037927936 AS w FROM h
    ), r AS (
      SELECT lang, idx,
             CASE WHEN w = 0 THEN 57 ELSE 57 - length(bin(w)) END AS rank
      FROM sp
    ), regs AS (
      SELECT lang, idx, MAX(rank) AS mx FROM r GROUP BY lang, idx
    ), agg AS (
      SELECT lang, COUNT(*) AS n_present,
             SUM((1::BIGINT << (57 - mx)))::BIGINT AS s_present
      FROM regs GROUP BY lang
    )
    SELECT lang, 16 AS m,
           (16 - n_present)::BIGINT AS v_empty,
           (s_present + (16 - n_present) * 144115188075855872)::BIGINT AS s_scaled,
           ROUND(2.482931752321306e+19 /
                 (s_present + (16 - n_present) * 144115188075855872), 4) AS est
    FROM agg ORDER BY lang
    """,
)
def t_hll_cardinality(spark, sf_dir):
    """Deterministic HyperLogLog (functions/sketch.py): per-language doc
    cardinality from md5-hashed 60-bit values — register index/rank by
    exact integer div/bin-length (no float log), harmonic sum kept as
    the exact-integer s_scaled invariant, ONE float division at the end.
    Unlike approx_count_distinct the sketch is engine-reproducible: the
    oracle rebuilds registers in SQL and hash-matches s_scaled (and the
    4dp estimate) bit for bit. Registers merge by MAX — shard anywhere,
    same answer."""
    from theta_spark.functions.sketch import hll_estimate

    return hll_estimate(
        _load(spark, sf_dir, "documents"), "doc_id", ("lang",), b=4
    ).orderBy("lang")


@query(
    "t_heavy_hitters",
    r"""
    WITH js AS (SELECT unnest(generate_series(0, 2)) AS j),
    toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> x != '')) AS key
      FROM documents
    ), stream AS (
      SELECT key, j,
             ('0x' || substr(md5(key || '#cms' || j || '#0'), 1, 8))::BIGINT % 64
               AS bucket
      FROM toks CROSS JOIN js
    ), sk AS (
      SELECT j, bucket, COUNT(*)::BIGINT AS cnt FROM stream GROUP BY j, bucket
    ), exact AS (
      SELECT key, COUNT(*)::BIGINT AS exact FROM toks GROUP BY key
    ), probes AS (
      SELECT key, exact, j,
             ('0x' || substr(md5(key || '#cms' || j || '#0'), 1, 8))::BIGINT % 64
               AS bucket
      FROM exact CROSS JOIN js
    ), est AS (
      SELECT p.key, p.exact, MIN(s.cnt)::BIGINT AS est
      FROM probes p JOIN sk s ON p.j = s.j AND p.bucket = s.bucket
      GROUP BY p.key, p.exact
    )
    SELECT key, est, exact FROM est
    ORDER BY est DESC, exact DESC, key LIMIT 10
    """,
)
def t_heavy_hitters(spark, sf_dir):
    """Count-Min heavy hitters over the token stream (functions/sketch.py
    cms_heavy_hitters): the skew-detection pass — d=3 md5 hash rows x
    w=64 buckets (O(d·w) state regardless of stream size, add-mergeable),
    est = min over rows (always >= exact; `exact` beside it makes the
    collision inflation auditable), deterministic (est, exact, key) cut.
    The oracle rebuilds sketch + probes relationally."""
    from theta_spark.functions.sketch import cms_heavy_hitters

    toks = _load(spark, sf_dir, "documents").select(
        F.explode(
            F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != "")
        ).alias("token")
    )
    return cms_heavy_hitters(toks, "token", d=3, w=64, k=10)


@query(
    "t_group_sample",
    r"""
    WITH ranked AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY ('0x' || substr(md5(doc_id || '#gsample#42'), 1, 8))::BIGINT,
                        doc_id) AS rk
      FROM documents
    ), kept AS (SELECT lang, doc_id FROM ranked WHERE rk <= 7)
    SELECT lang, COUNT(*)::BIGINT AS n_kept,
           SUM(doc_id)::BIGINT AS id_sum, MIN(doc_id) AS min_id
    FROM kept GROUP BY lang ORDER BY lang
    """,
)
def t_group_sample(spark, sf_dir):
    """Exactly-K-per-group reproducible sampling (functions/sampling.py
    group_sample): 7 uniform docs per language by md5-draw rank — Spark
    plans the partitioned window as WindowGroupLimit (per-partition
    top-K push-down, no full group sort). Aggregated with id checksums
    so the oracle pins the exact kept set."""
    from theta_spark.functions.sampling import group_sample

    kept = group_sample(
        _load(spark, sf_dir, "documents"), 7, "lang", "doc_id", seed=42
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("doc_id").cast("long").alias("id_sum"),
            F.min("doc_id").alias("min_id"),
        )
        .orderBy("lang")
    )


@query(
    "t_vocab_profile",
    r"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> x != '')) AS token
      FROM documents
    ), vocab AS (
      SELECT token, COUNT(*)::BIGINT AS freq FROM toks GROUP BY token
    ), tot AS (SELECT SUM(freq)::BIGINT AS total FROM vocab),
    top AS (
      SELECT token, freq,
             ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rank
      FROM vocab ORDER BY freq DESC, token LIMIT 20
    )
    SELECT rank, token, freq,
           ROUND(freq::DOUBLE / total, 6) AS share
    FROM top CROSS JOIN tot ORDER BY rank
    """,
)
def t_vocab_profile(spark, sf_dir):
    """Zipf vocabulary profile: top-20 tokens by corpus frequency with
    deterministic (freq DESC, token) rank and corpus share — the vocab
    health check before tokenizer training. One wordcount shuffle
    (map-side partial counts) + TakeOrderedAndProject top-20; the rank
    is a triangular join over the 20-row cut (NO unpartitioned window —
    the global sort never materializes past the per-partition heads),
    and total mass is a broadcast 1-row agg."""
    toks = _load(spark, sf_dir, "documents").select(
        F.explode(
            F.filter(F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != "")
        ).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    top = vocab.orderBy(F.desc("freq"), "token").limit(20)
    tot = vocab.agg(F.sum("freq").cast("long").alias("total"))
    ranked = (
        top.alias("a")
        .join(
            top.alias("b"),
            (F.col("b.freq") > F.col("a.freq"))
            | ((F.col("b.freq") == F.col("a.freq")) & (F.col("b.token") < F.col("a.token"))),
            "left",
        )
        .groupBy(F.col("a.token").alias("token"), F.col("a.freq").alias("freq"))
        .agg((F.count(F.col("b.token")) + 1).cast("long").alias("rank"))
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "rank", "token", "freq",
            F.round(F.col("freq") / F.col("total"), 6).alias("share"),
        )
        .orderBy("rank")
    )


@query(
    "a_kappa_langid",
    r"""
    WITH t AS (
      SELECT lang AS a,
             CASE WHEN (CASE WHEN length(text) > 0
                        THEN (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / length(text)
                        ELSE 0.0 END) >= 0.4
                   AND (CASE WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != '')) > 0
                        THEN len(list_filter(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != ''),
                                 x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)))::DOUBLE
                             / len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> x != ''))
                        ELSE 0.0 END) > 0
             THEN 'en'
             WHEN (CASE WHEN length(text) > 0
                   THEN (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / length(text)
                   ELSE 0.0 END) >= 0.4
             THEN 'other_latin'
             ELSE 'non_latin' END AS b
      FROM documents
    ), cont AS (
      SELECT a, b, COUNT(*)::BIGINT AS c FROM t GROUP BY a, b
    ), tot AS (
      SELECT SUM(c)::BIGINT AS n,
             SUM(CASE WHEN a = b THEN c ELSE 0 END)::BIGINT AS diag
      FROM cont
    ), ra AS (SELECT a AS lbl, SUM(c)::BIGINT AS ra FROM cont GROUP BY a),
    cb AS (SELECT b AS lbl, SUM(c)::BIGINT AS cb FROM cont GROUP BY b),
    s AS (
      SELECT COALESCE(SUM(ra.ra * cb.cb), 0)::BIGINT AS s
      FROM ra JOIN cb ON ra.lbl = cb.lbl
    )
    SELECT n, diag AS n_agree,
           ROUND(diag::DOUBLE / n, 6) AS po,
           ROUND(s::DOUBLE / (n * n), 6) AS pe,
           ROUND(CASE WHEN (n * n - s) <> 0
                      THEN (n * diag - s)::DOUBLE / (n * n - s)
                      WHEN diag = n THEN 1.0 ELSE 0.0 END, 6) AS kappa
    FROM tot CROSS JOIN s
    """,
)
def a_kappa_langid(spark, sf_dir):
    """Cohen's kappa (metrics.py cohens_kappa) between the documents
    table's DECLARED lang and the heuristic lang_id re-classifier — the
    annotation-QC / metadata-drift check. Integer-exact contingency
    (kappa = (n·diag − Σr·c)/(n² − Σr·c), one float division), O(labels²)
    state. Low kappa here is the honest answer: declared labels span 5
    languages, the heuristic only 3 coarse classes."""
    from theta_spark.functions.text import lang_id
    from theta_spark.metrics import cohens_kappa

    d = _load(spark, sf_dir, "documents").select(
        "lang", lang_id(F.col("text")).alias("lang_pred")
    )
    return cohens_kappa(d, "lang", "lang_pred")


@query(
    "t_bpe_pairs",
    r"""
    WITH words AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                    x -> x != '')) AS word
      FROM documents
    ), types AS (
      SELECT word, COUNT(*)::BIGINT AS wcount FROM words GROUP BY word
    ), syms AS (
      SELECT wcount,
             list_append(list_transform(generate_series(1, length(word)),
                                        i -> word[i]), '</w>') AS s
      FROM types
    ), pairs AS (
      SELECT wcount,
             unnest(list_transform(generate_series(1, len(s) - 1),
                    i -> struct_pack(a := s[i], b := s[i + 1]))) AS p
      FROM syms
    )
    SELECT p.a AS a, p.b AS b, SUM(wcount)::BIGINT AS cnt
    FROM pairs GROUP BY p.a, p.b
    ORDER BY cnt DESC, a, b LIMIT 20
    """,
)
def t_bpe_pairs(spark, sf_dir):
    """BPE tokenizer training, round-1 statistics (functions/bpe.py):
    adjacent-symbol pair counts over the WORD-TYPE table (types not
    tokens — the working set is the vocabulary) weighted by corpus
    count, with the '</w>' end marker; top-20 by (count DESC, pair) —
    the deterministic winner order the merge loop consumes. One narrow
    zip_with+explode + one groupBy sum; the full iterative trainer
    (train_bpe) is pinned against a python replica in tests (its loop is
    inherently sequential, like pagerank's rounds)."""
    from theta_spark.functions.bpe import pair_counts, word_types

    return (
        pair_counts(word_types(_load(spark, sf_dir, "documents")))
        .orderBy(F.desc("cnt"), "a", "b")
        .limit(20)
    )


# ------------------------------------------------- distributed LR training
def _ql_step_sql(i: int, lr_num: int, lr_den: int) -> str:
    """One full-batch GD step in SQL: stats s{i} (4 gradient sums + the
    accuracy numerator) at weights it{i}, then the updated it{i+1}.
    FDIV(a,b) == Python floor division (DuckDB's // truncates toward
    zero, so FLOOR-through-double it is — exact below 2^53)."""
    S, HALF, TWOS = 1_000_000, 500_000, 2_000_000
    gsum = ", ".join(
        f"SUM(CAST(FLOOR(err * m * {c} / {S}.0) AS BIGINT)) AS g{j}"
        for j, c in enumerate(("x_len", "x_space", "x_stop", "x_bias"))
    )
    wupd = ", ".join(
        f"w{j} - CAST(FLOOR({lr_num} * g{j} / ({lr_den}.0 * n)) AS BIGINT) AS w{j}"
        for j in range(4)
    )
    return f"""
    s{i} AS (
      SELECT {gsum},
             SUM(CASE WHEN (p >= {HALF}) = (y = 1) THEN 1 ELSE 0 END) AS acc
      FROM (
        SELECT q.*, p - y * {S} AS err,
               CASE WHEN z > {-TWOS} AND z < {TWOS} THEN 1 ELSE 0 END AS m
        FROM (
          SELECT q.*,
                 LEAST(GREATEST(CAST(FLOOR(z / 4.0) AS BIGINT) + {HALF}, 0), {S}) AS p
          FROM (
            SELECT q.*,
                   CAST(FLOOR((w.w0 * x_len + w.w1 * x_space + w.w2 * x_stop
                               + w.w3 * x_bias) / {S}.0) AS BIGINT) AS z
            FROM qfeats q, it{i} w
          ) q
        ) q
      )
    ),
    it{i + 1} AS (SELECT {wupd} FROM it{i}, s{i}, qn)"""


def _ql_oracle_sql(iters: int = 8, lr_num: int = 6, lr_den: int = 1) -> str:
    S = 1_000_000
    steps = ",".join(_ql_step_sql(i, lr_num, lr_den) for i in range(iters + 1))
    out = "\nUNION ALL\n".join(
        f"SELECT {i} AS iter, w0 AS w_len, w1 AS w_space, w2 AS w_stop, "
        f"w3 AS w_bias, acc AS acc_num, n AS n_rows FROM it{i}, s{i}, qn"
        for i in range(iters + 1)
    )
    return f"""
    WITH qfeats AS (
      SELECT CAST(FLOOR(LEAST(n_chars, 1000) * {S} / 1000.0) AS BIGINT) AS x_len,
             CAST(FLOOR((length(text) - length(replace(text, ' ', ''))) * {S}.0
                        / GREATEST(n_chars, 1)) AS BIGINT) AS x_space,
             LEAST(CAST(FLOOR(CAST(FLOOR((length(text) - length(replace(text, 'the', ''))) / 3.0) AS BIGINT)
                        * {S}.0
                        / GREATEST(length(text) - length(replace(text, ' ', '')) + 1, 1)) AS BIGINT), {S}) AS x_stop,
             CAST({S} AS BIGINT) AS x_bias,
             CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    qn AS (SELECT COUNT(*)::BIGINT AS n FROM qfeats),
    it0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                   CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
    {steps}
    {out}
    ORDER BY iter
    """


@query("t_train_quality_lr", _ql_oracle_sql(iters=8, lr_num=6, lr_den=1))
def t_train_quality_lr(spark, sf_dir):
    """Distributed quality-classifier TRAINING (operators/training.py
    train_quality_lr): full-batch gradient descent on a hard-sigmoid
    logistic regression, entirely in exact i64 fixed-point — the
    CCNet/GPT-3-style "keep this document?" linear filter, trained over
    the corpus itself. Integer gradients make the reduction associative,
    so the learned weight trajectory is bit-identical under any
    partitioning/AQE re-plan and the oracle can unroll all 8 iterations
    in SQL and hash-match it exactly — distributed training as a
    first-class, oracle-checked operator, not driver-side magic. Each
    iteration is one scalar aggregate over the cached feature
    projection (map-side partials, 5 i64s to the driver). Accuracy goes
    51% -> ~94% over the 8 steps; the history the query returns IS the
    training curve."""
    from theta_spark.operators.training import train_quality_lr

    return train_quality_lr(
        _load(spark, sf_dir, "documents"), iters=8, lr_num=6, lr_den=1
    ).orderBy("iter")


# ------------------------------------------------- KG embedding training
_KGE_DIMS = range(4)


def _kge_epoch_sql(k: int, margin: int = 50) -> str:
    """One full-batch TransE step in SQL at dim=4: join current tables,
    sign subgradients on violated margins, grouped integer delta sums,
    LEFT-JOIN apply (absent ids keep their vector)."""
    pd = ", ".join(
        f"eh.e{p} + er.e{p} - et.e{p} AS pd{p}, eh.e{p} + er.e{p} - etc.e{p} AS nd{p}"
        for p in _KGE_DIMS
    )
    sgn = ", ".join(
        f"SIGN(pd{p})::BIGINT AS sp{p}, SIGN(nd{p})::BIGINT AS sn{p}" for p in _KGE_DIMS
    )
    l1p = " + ".join(f"ABS(pd{p})" for p in _KGE_DIMS)
    l1n = " + ".join(f"ABS(nd{p})" for p in _KGE_DIMS)
    hrd = ", ".join(f"sn{p} - sp{p} AS d{p}" for p in _KGE_DIMS)
    tpd = ", ".join(f"sp{p} AS d{p}" for p in _KGE_DIMS)
    tcd = ", ".join(f"-sn{p} AS d{p}" for p in _KGE_DIMS)
    dsum = ", ".join(f"SUM(d{p}) AS d{p}" for p in _KGE_DIMS)
    app = ", ".join(f"e.e{p} + COALESCE(d.d{p}, 0) AS e{p}" for p in _KGE_DIMS)
    return f"""
    v{k} AS (
      SELECT h, r, t, t_corr, {sgn}
      FROM (
        SELECT tri.h, tri.r, tri.t, tri.t_corr, {pd}
        FROM tric tri
        JOIN ent{k} eh ON eh.id = tri.h
        JOIN rel{k} er ON er.id = tri.r
        JOIN ent{k} et ON et.id = tri.t
        JOIN ent{k} etc ON etc.id = tri.t_corr
      ) WHERE {l1p} + {margin} > {l1n}
    ),
    ed{k} AS (
      SELECT id, {dsum} FROM (
        SELECT h AS id, {hrd} FROM v{k}
        UNION ALL SELECT t AS id, {tpd} FROM v{k}
        UNION ALL SELECT t_corr AS id, {tcd} FROM v{k}
      ) GROUP BY id
    ),
    ent{k + 1} AS (
      SELECT e.id, {app} FROM ent{k} e LEFT JOIN ed{k} d ON e.id = d.id
    ),
    rd{k} AS (SELECT r AS id, {dsum} FROM (SELECT r, {hrd} FROM v{k}) GROUP BY id),
    rel{k + 1} AS (
      SELECT e.id, {app} FROM rel{k} e LEFT JOIN rd{k} d ON e.id = d.id
    )"""


def _kge_oracle_sql(epochs: int = 2, margin: int = 50) -> str:
    einit = ", ".join(
        f"('0x' || substr(md5(id::VARCHAR || '#kge{p}#42'), 1, 8))::BIGINT % 201 - 100 AS e{p}"
        for p in _KGE_DIMS
    )
    rinit = ", ".join(
        f"('0x' || substr(md5(id::VARCHAR || '#kger{p}#42'), 1, 8))::BIGINT % 201 - 100 AS e{p}"
        for p in _KGE_DIMS
    )
    steps = ",".join(_kge_epoch_sql(k, margin) for k in range(epochs))
    ecols = ", ".join(f"e{p}" for p in _KGE_DIMS)
    return f"""
    WITH tri AS (
      SELECT DISTINCT l_suppkey AS h,
             CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END AS r,
             l_partkey % 2000 AS t
      FROM lineitem WHERE l_quantity > 45
    ),
    tric AS (
      SELECT h, r, t,
             (t + 1 + (('0x' || substr(md5(h::VARCHAR || '#' || r::VARCHAR || '#'
                        || t::VARCHAR || '#corr#42'), 1, 8))::BIGINT % 1999)) % 2000 AS t_corr
      FROM tri
    ),
    eids AS (SELECT unnest(generate_series(0, 1999)) AS id
             UNION SELECT DISTINCT h FROM tri),
    ent0 AS (SELECT id, {einit} FROM eids),
    rids AS (SELECT unnest(generate_series(0, 2)) AS id),
    rel0 AS (SELECT id, {rinit} FROM rids),
    {steps}
    SELECT id AS node, {ecols} FROM ent{epochs} ORDER BY node
    """


@query("kge_transe", _kge_oracle_sql(epochs=2))
def kge_transe(spark, sf_dir):
    """Knowledge-graph embedding TRAINING (functions/kge.py): 2 full-batch
    TransE epochs (L1, margin 50) over a lineitem-derived triple store,
    every quantity an exact i64 — md5-keyed init, deterministic tail
    corruption, sign-vector subgradients, associative integer delta sums —
    so the learned embedding table is bit-identical under any
    partitioning and the oracle unrolls both epochs in SQL and
    hash-matches all 2000+ entity vectors. Embeddings never visit the
    driver (4 equi-joins + one grouped delta sum per epoch): the entity
    count can be 10^9. Returns the final entity table (node, e0..e3)."""
    from theta_spark.functions.kge import _draw32, init_embeddings, train_transe

    li = _load(spark, sf_dir, "lineitem")
    tri = (
        li.filter(F.col("l_quantity") > 45)
        .select(
            F.col("l_suppkey").cast("long").alias("h"),
            F.when(F.col("l_returnflag") == "A", 0)
            .when(F.col("l_returnflag") == "N", 1)
            .otherwise(2)
            .cast("long")
            .alias("r"),
            (F.col("l_partkey") % 2000).cast("long").alias("t"),
        )
        .distinct()
    )
    tric = tri.withColumn(
        "t_corr",
        (
            F.col("t")
            + 1
            + _draw32(F.concat_ws("#", "h", "r", "t"), "corr", 42) % 1999
        )
        % 2000,
    )
    ents = (
        spark.range(0, 2000).select(F.col("id"))
        .unionByName(tri.select(F.col("h").alias("id")))
        .distinct()
    )
    ent0 = init_embeddings(ents, dim=4, tag="kge", seed=42)
    rel0 = init_embeddings(spark.range(0, 3), dim=4, tag="kger", seed=42)
    ent_f, _rel_f = train_transe(ent0, rel0, tric, epochs=2, margin=50)
    return ent_f.select(
        F.col("id").alias("node"),
        *[F.col("emb")[p].alias(f"e{p}") for p in _KGE_DIMS],
    ).orderBy("node")


@query(
    "kg_pattern_match",
    "WITH "
    + _KG_GOLD_CTES
    + r""",
    gold AS (
      SELECT DISTINCT subj, pred, obj FROM (
        SELECT * FROM libs UNION ALL SELECT * FROM cls_def
        UNION ALL SELECT * FROM meth_contains UNION ALL SELECT * FROM meth_calls
        UNION ALL SELECT * FROM fn_def UNION ALL SELECT * FROM fn_calls
        UNION ALL SELECT * FROM inst
      )
    )
    SELECT DISTINCT d.subj AS module, d.obj AS fname
    FROM gold d JOIN gold c ON d.obj = c.subj
    WHERE d.pred = 'defines' AND c.pred = 'calls' AND c.obj = 'shared_util'
    ORDER BY module, fname
    """,
)
def kg_pattern_match(spark, sf_dir):
    """Conjunctive pattern query over the ENGINE-BUILT KG — the SPARQL
    shape `?m defines ?f . ?f calls shared_util` ("which modules define a
    function that touches the shared utility" — the dependency-impact
    question a code KG exists to answer). Runs the full extraction
    pipeline, then one self-equi-join of the triple table: the
    calls->shared_util side is filtered FIRST (selective pattern leg) and
    broadcast, so the join never shuffles the full triple table — the
    plan shape conjunctive-pattern engines (and Spark's own GraphFrames
    motif finding) use at scale. Oracle: the same two-leg join over the
    STRUCTURAL gold triples, so a regression in extraction OR in the
    pattern semantics flips it red."""
    from theta_spark.corpus import corpus_df
    from theta_spark.pipeline import extract_triples

    n_docs = _load(spark, sf_dir, "documents").count()
    corpus, _ = corpus_df(spark, n_docs, seed=42, num_partitions=8, with_docs=False)
    t = extract_triples(corpus).select("subj", "pred", "obj").distinct()
    defines = t.filter(F.col("pred") == "defines").select(
        F.col("subj").alias("module"), F.col("obj").alias("fname")
    )
    calls_util = (
        t.filter((F.col("pred") == "calls") & (F.col("obj") == "shared_util"))
        .select(F.col("subj").alias("fname"))
        .distinct()
    )
    return (
        defines.join(F.broadcast(calls_util), on="fname")
        .select("module", "fname")
        .distinct()
        .orderBy("module", "fname")
    )


# ------------------------------------------------- graph-ML sampling
@query(
    "gr_neighbor_sample",
    f"""
    WITH {_GRAPH_SQL_CTE},
    ranked AS (
      SELECT src AS node, dst AS nbr,
             ROW_NUMBER() OVER (
               PARTITION BY src
               ORDER BY ('0x' || substr(md5(src::VARCHAR || '#' || dst::VARCHAR
                         || '#nbr#42'), 1, 8))::BIGINT, dst
             ) AS rk
      FROM ge
    )
    SELECT node, nbr, rk FROM ranked WHERE rk <= 3 ORDER BY node, rk
    """,
)
def gr_neighbor_sample(spark, sf_dir):
    """GraphSAGE-style minibatch neighbor sampling over the KG
    (functions/graph.py neighbor_sample): each node keeps its 3
    out-neighbors with the smallest md5 edge draw — deterministic and
    replayable on any cluster, hubs cost k rows like everyone else (the
    point of sampled aggregation). One WindowGroupLimit window (top-k
    push-down, no full per-node sort — group_sample's pinned plan
    shape)."""
    from theta_spark.functions.graph import neighbor_sample

    return (
        neighbor_sample(_graph_edges(spark, sf_dir), k=3, seed=42)
        .select(F.col("node").cast("long"), F.col("nbr").cast("long"), "rk")
        .orderBy("node", "rk")
    )


def _walk_step_sql(s: int) -> str:
    return f"""
    f{s} AS (
      SELECT walk_id, walk_idx, nbr AS node FROM (
        SELECT f.walk_id, f.walk_idx, ge.dst AS nbr,
               ROW_NUMBER() OVER (
                 PARTITION BY f.walk_id, f.walk_idx
                 ORDER BY ('0x' || substr(md5(f.node::VARCHAR || '#' || ge.dst::VARCHAR
                           || '#' || f.walk_idx::VARCHAR || '#walk{s}#42'), 1, 8))::BIGINT,
                          ge.dst
               ) AS rk
        FROM f{s - 1} f JOIN ge ON ge.src = f.node
      ) WHERE rk = 1
    )"""


@query(
    "gr_random_walks",
    f"""
    WITH {_GRAPH_SQL_CTE},
    starts AS (
      SELECT DISTINCT src AS node FROM ge WHERE src % 50 = 0
    ),
    f0 AS (
      SELECT node AS walk_id, walk_idx, node
      FROM starts, (SELECT unnest(generate_series(0, 1))::INT AS walk_idx)
    ),
    {",".join(_walk_step_sql(s) for s in range(1, 4))}
    SELECT walk_id, walk_idx, step, node FROM (
      SELECT walk_id, walk_idx, 0 AS step, node FROM f0
      UNION ALL SELECT walk_id, walk_idx, 1, node FROM f1
      UNION ALL SELECT walk_id, walk_idx, 2, node FROM f2
      UNION ALL SELECT walk_id, walk_idx, 3, node FROM f3
    ) ORDER BY walk_id, walk_idx, step
    """,
)
def gr_random_walks(spark, sf_dir):
    """node2vec-style walk corpus over the KG (functions/graph.py
    random_walks): 2 walks x 3 hops from every node % 50 == 0, each hop
    moving to the out-neighbor with the smallest (edge, walk, step)-keyed
    md5 draw — the skip-gram training corpus for graph embeddings,
    bit-identical on any cluster/rerun. O(steps) shuffles; the frontier
    (|starts| x 2 rows) never grows. Oracle unrolls the 3 hops as
    window CTEs."""
    from theta_spark.functions.graph import random_walks

    ge = _graph_edges(spark, sf_dir)
    starts = ge.filter(F.col("src") % 50 == 0).select(F.col("src").alias("node")).distinct()
    return (
        random_walks(ge, starts, steps=3, walks_per_node=2, seed=42)
        .select(
            F.col("walk_id").cast("long"),
            "walk_idx",
            "step",
            F.col("node").cast("long"),
        )
        .orderBy("walk_id", "walk_idx", "step")
    )


@query("sim_ivfpq_multiprobe", _IVFPQ_MP_SQL)
def sim_ivfpq_multiprobe(spark, sf_dir):
    """IVF-PQ with multi-probe (nprobe=2): each query probes its two
    nearest coarse cells by trained-centroid cosine — the recall lever of
    the serving index (cross-boundary neighbors the single-probe variant
    misses) at exactly 2x the pruned candidate cost, never the corpus.
    Same fused one-pass index build as sim_ivfpq_topk; the query side
    carries an ARRAY of probe cells (ivfpq_adc_topk explodes it into the
    same (cell, sub, code) broadcast equi-join). Oracle: the single-probe
    IVF-PQ SQL with the query-cell CTE swapped for the probe ranking."""
    from theta_spark.functions.similarity import (
        _dot,
        ivfpq_adc_topk,
        kmeans_cells_lloyd,
        pq_encode,
        train_pq,
        with_unit_vec,
    )

    e = _load(spark, sf_dir, "embeddings")
    eu = with_unit_vec(e).persist()
    _assign, cents = kmeans_cells_lloyd(eu, k=4, iters=1)
    cbs = train_pq(eu, m=2, ksub=4, iters=1)
    enc = pq_encode(eu, cbs, m=2, cents=cents)
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "pcell int, cvec array<double>",
    )
    ranked = (
        eu.filter(F.col("vec_id") % 25 == 0)
        .crossJoin(F.broadcast(cent_df))
        .select(
            "vec_id",
            "embedding",
            "pcell",
            F.round(_dot(F.col("unit"), F.col("cvec")), 4).alias("csim"),
        )
        .withColumn(
            "prk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("pcell"))
            ),
        )
        .filter(F.col("prk") <= 2)
    )
    qs = ranked.groupBy("vec_id").agg(
        F.collect_list("pcell").alias("cell"), F.first("embedding").alias("embedding")
    )
    return ivfpq_adc_topk(enc, qs, cbs, k=5, m=2).orderBy("query_id", "rk")


@query(
    "t_quantiles",
    r"""
    WITH hist AS (
      SELECT n_chars::BIGINT AS v, COUNT(*)::BIGINT AS cnt
      FROM documents GROUP BY n_chars
    ),
    cum AS (
      SELECT v, SUM(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c
      FROM hist
    ),
    n AS (SELECT SUM(cnt)::BIGINT AS n FROM hist),
    ranks AS (
      SELECT q_permille,
             CAST(CEIL(q_permille * n / 1000.0) AS BIGINT) AS rank
      FROM (SELECT unnest([250, 500, 750, 900, 990])::INT AS q_permille), n
    )
    SELECT r.q_permille, MIN(c.v) AS v
    FROM ranks r JOIN cum c ON c.c >= r.rank
    GROUP BY r.q_permille ORDER BY q_permille
    """,
)
def t_quantiles(spark, sf_dir):
    """Exact type-1 quantiles of the document-length distribution
    (functions/sketch.py exact_quantiles) — the p25/p50/p75/p90/p99
    cutoffs corpus filters are tuned with, computed distributed with NO
    unpartitioned window (histogram + the shared two-phase prefix sum)
    and bit-reproducibly (all-integer rank math), unlike
    approx_percentile whose merge order moves the answer. The oracle is
    the definitional single-window cumsum."""
    from theta_spark.functions.sketch import exact_quantiles

    d = _load(spark, sf_dir, "documents")
    return exact_quantiles(d, "n_chars", [250, 500, 750, 900, 990]).orderBy("q_permille")
