"""Session defaults (theta_spark/session.py). The whole-stage codegen
cache holds every generated class that one pass of the graph operators or
of a refresh uses, so a second identical pass compiles no class: with
Spark's default of 100 entries, LRU eviction recompiled each of them on
every pass."""

from __future__ import annotations

from theta_spark.session import CODEGEN_CACHE_ENTRIES, spark_conf

_KEY = "spark.sql.codegen.cache.maxEntries"


def test_codegen_cache_size_default_and_override(spark):
    assert spark.conf.get(_KEY) == str(CODEGEN_CACHE_ENTRIES)
    assert spark_conf()[_KEY] == str(CODEGEN_CACHE_ENTRIES)
    assert spark_conf(extra_conf={_KEY: "64"})[_KEY] == "64"


def _compiles(spark) -> int:
    """Janino compiles of generated classes so far in this JVM."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_compile_count_sees_a_new_class(spark):
    """The counter the pass tests read is live: a query whose generated
    code differs (an inlined literal never used before) compiles a class."""
    import time

    n0 = _compiles(spark)
    spark.range(3).selectExpr(f"id * {time.time_ns()} AS x").collect()
    assert _compiles(spark) > n0


def _second_pass_compiles(spark, one_pass) -> tuple[int, int]:
    """(compiles of the first pass, compiles of an identical second one),
    with adaptive execution off. AQE re-plans a query as its stages
    finish, and which ones have finished depends on timing, so two
    identical passes can end in different final plans (measured: the
    random walks below compiled 50 new classes in one second pass of
    two). With fixed plans, a compile in the second pass is a class the
    cache evicted."""
    aqe = "spark.sql.adaptive.enabled"
    was = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try:
        n0 = _compiles(spark)
        one_pass(0)
        n1 = _compiles(spark)
        one_pass(1)
        return n1 - n0, _compiles(spark) - n1
    finally:
        spark.conf.set(aqe, was)


def test_repeated_graph_pass_compiles_nothing(spark):
    from pyspark.sql import functions as F
    from test_graph import EDGES

    from theta_spark.functions.graph import label_propagation, pagerank, random_walks

    e = spark.createDataFrame(EDGES, "src: long, dst: long")

    def graph_pass(_):
        pagerank(e, iters=8, checkpoint_every=4).collect()
        label_propagation(e, steps=6, checkpoint_every=3).collect()
        starts = e.filter(F.col("src") % 5 == 0).select(F.col("src").alias("node")).distinct()
        random_walks(e, starts, steps=6).collect()

    first, second = _second_pass_compiles(spark, graph_pass)
    assert (first, second) == (first, 0)


def test_repeated_refresh_compiles_nothing(spark, tmp_path):
    from theta_spark.corpus import CORPUS_SCHEMA, corpus_rows, generate_corpus
    from theta_spark.pipeline import run_pipeline, run_pipeline_incremental

    rows = corpus_rows(generate_corpus(40, seed=7))
    edited = [r[:4] + (r[4] + "\n# edit\n",) if i % 9 == 0 else r for i, r in enumerate(rows)]
    base, refreshed = (
        spark.createDataFrame(v, CORPUS_SCHEMA).repartition(4) for v in (rows[:36], edited[2:])
    )
    prior = str(tmp_path / "base")
    run_pipeline(spark, base, prior)

    def refresh(i):
        run_pipeline_incremental(spark, refreshed, str(tmp_path / f"refresh{i}"), prior_workdir=prior)

    first, second = _second_pass_compiles(spark, refresh)
    assert (first, second) == (first, 0)
