"""Physical-plan audits: the properties that matter at 100 TB, asserted on
explain() output — filter pushdown reaches the scan, small dims broadcast,
the fused extraction is narrow (no shuffle before the Python stage), and
triple assembly reuses one doc_id exchange."""

from pyspark.sql import functions as F

from theta_spark.config import PipelineConfig
from theta_spark.operators.triples import assemble_triples
from theta_spark.pipeline import extract_mentions_df, with_doc_id


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    d = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = d.filter(F.col("l_quantity") > 25).select("l_orderkey", "l_quantity")
    p = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,25" in p
    # column pruning: ReadSchema carries only the two needed columns
    rs = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in rs and "l_extendedprice" not in rs


def test_broadcast_join_for_small_dims(spark):
    c = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    q = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).groupBy("n_name").count()
    assert "BroadcastHashJoin" in plan_of(q)


def test_fused_extraction_is_narrow(spark, corpus50):
    m = extract_mentions_df(corpus50, PipelineConfig())
    p = plan_of(m)
    # no Exchange between the corpus scan and the Python stage: the fused
    # mapInPandas consumes the corpus partitioning directly
    before_py = p.split("MapInPandas")[0] if "MapInPandas" in p else p
    section = before_py.split("ArrowEvalPython")[0]
    assert "Exchange" not in section.split("== Physical Plan ==")[-1]


def test_triple_assembly_single_exchange(spark, corpus50):
    m = extract_mentions_df(corpus50, PipelineConfig())
    t = assemble_triples(m)
    p = plan_of(t)
    phys = p.split("== Physical Plan ==")[-1].split("== Initial Plan ==")[0]
    # exchanges: one hashpartitioning(doc_id) for the window family + the
    # final distinct's (AQE may add shuffle reads but not more writes)
    n_exchange = phys.count("Exchange hashpartitioning")
    assert n_exchange <= 2, f"{n_exchange} exchanges:\n{phys[:2000]}"
    assert "WindowGroupLimit" in phys or "Window" in phys


def test_doc_id_projection_prunes_corpus(spark, corpus50):
    d = with_doc_id(corpus50).select("doc_id")
    p = plan_of(d)
    assert "sha2" not in p.lower().split("== physical plan ==")[-1]


def test_multiprobe_corpus_never_shuffles(spark):
    """IVF multi-probe: the corpus side reaches its scorer through
    broadcast joins only — the only Exchange writes allowed are the tiny
    centroid aggregation's (cell, pos) shuffle and broadcast exchanges.
    At 10^9 vectors the corpus table must not hash-repartition."""
    from theta_spark.functions.similarity import ivf_topk_multiprobe

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") % 25 == 0)
    p = plan_of(ivf_topk_multiprobe(e, q, k=5, nprobe=2))
    phys = p.split("== Physical Plan ==")[-1].split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in phys or "BroadcastNestedLoopJoin" in phys
    # hash exchanges: centroid per-(cell,pos) agg + its rebuild + the final
    # per-query rank window; none keyed on the corpus row id
    assert "Exchange hashpartitioning(vec_id" not in phys
    assert "Exchange hashpartitioning(neighbor_id" not in phys


def test_partitioned_edges_prune_on_pred(spark, corpus50, tmp_path):
    """run_pipeline writes edges partitioned by pred (nodes by category);
    a predicate filter must prune whole partition directories at the scan
    (PartitionFilters), not read-then-filter."""
    from theta_spark.pipeline import run_pipeline

    stages = run_pipeline(spark, corpus50, str(tmp_path / "wd"), PipelineConfig(), resume=False)
    assert stages["edges"].count() > 0
    edges = spark.read.parquet(str(tmp_path / "wd" / "edges"))
    q = edges.filter(F.col("pred") == "calls")
    p = plan_of(q)
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf and "pred" in pf[0], p
    got = {r.pred for r in q.select("pred").distinct().collect()}
    assert got == {"calls"}


def test_no_unpartitioned_window_in_package():
    """VERDICT r4 #3: a Window.orderBy with no partitionBy funnels the
    whole input through ONE task — the class of driver-side bottleneck a
    100x scale-up turns into the job's wall clock. vocab_index and
    kfold_assign were the last holdouts (now two-phase prefix sum /
    partition-offset global index); keep the package at zero. A constant
    partition key (`partitionBy(F.lit(...))`) is the same single task.

    The one exemption is named here, not left to a spelling the pattern
    misses: two_phase_cumsum's running sum over the per-bucket totals,
    whose input is one row per bucket, not the input rows."""
    import pathlib
    import re

    allowed = {
        ("prefix.py", "below = Window.partitionBy(F.lit(0)).orderBy(bucket_col).rowsBetween("),
    }
    pkg = pathlib.Path(__file__).resolve().parents[1] / "theta_spark"
    offenders = []
    for py in pkg.rglob("*.py"):
        for lineno, line in enumerate(py.read_text().splitlines(), 1):
            if (py.name, line.strip()) in allowed:
                continue
            if re.search(r"Window\.orderBy\(|Window\.partitionBy\(\)|partitionBy\(F\.lit\(", line):
                offenders.append(f"{py.name}:{lineno}: {line.strip()}")
    assert offenders == [], offenders


def test_vocab_index_two_phase_matches_global_cumsum(spark):
    """The two-phase prefix sum must be bit-identical to the naive global
    cumsum (same integer sums, same final division)."""
    from pyspark.sql import Window

    from theta_spark.operators.augment import vocab_index

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    got = {r["token"]: (r["lo"], r["hi"]) for r in vocab_index(d).collect()}
    vocab = (
        d.select(F.explode(F.array_distinct(F.split("text", " "))).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("dfreq"))
    )
    w = Window.partitionBy(F.lit(0)).orderBy("token")
    ref = vocab.crossJoin(
        vocab.agg(F.sum("dfreq").alias("g"))
    ).select(
        "token",
        ((F.sum("dfreq").over(w.rowsBetween(Window.unboundedPreceding, 0)) - F.col("dfreq")) / F.col("g")).alias("lo"),
        (F.sum("dfreq").over(w.rowsBetween(Window.unboundedPreceding, 0)) / F.col("g")).alias("hi"),
    )
    exp = {r["token"]: (r["lo"], r["hi"]) for r in ref.collect()}
    assert got == exp


def test_two_phase_cumsum_has_no_nested_loop_join(spark):
    """The per-bucket offsets are a running sum over the bucket totals,
    not a triangular bucket < bucket self-join, which was O(buckets^2):
    no nested-loop or cartesian join in the plan, and the sums equal a
    sequential cumsum."""
    from theta_spark.prefix import two_phase_cumsum

    d = spark.range(1000).select(
        "id", (F.col("id") % 7).alias("v"), F.expr("id div 50").alias("bkt")
    )
    got = two_phase_cumsum(d, "v", "id", "bkt")
    p = plan_of(got)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    cum, want = 0, []
    for i in range(1000):
        cum += i % 7
        want.append((i, cum))
    assert sorted((r["id"], r["_cum"]) for r in got.collect()) == want


def test_kfold_two_phase_exact_sizes(spark):
    """ntile(k) fold sizes: first n%k folds ceil(n/k), rest floor(n/k);
    deterministic variant = global-rank modulo."""
    from theta_spark.operators.splits import kfold_assign

    d = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select("o_orderkey")
    n = d.count()
    for k in (3, 5):
        sizes = {
            r["fold"]: r["n"]
            for r in kfold_assign(d, k, seed=7).groupBy("fold").agg(F.count("*").alias("n")).collect()
        }
        base, rem = n // k, n % k
        assert sizes == {f: base + (1 if f < rem else 0) for f in range(k)}
        # deterministic variant: fold of the global i-th key == i % k
        det = kfold_assign(d, k, order_col="o_orderkey")
        rows = sorted((r["o_orderkey"], r["fold"]) for r in det.collect())
        assert all(f == i % k for i, (_, f) in enumerate(rows))


def test_large_codebook_assignment_plan_shape(spark):
    """k=64 IVF assignment goes through ONE MapInPandas stage with a
    broadcast codebook — the physical plan must not carry k literal score
    columns (plan size O(1) in k), while the tiny-k path stays pure
    codegen with NO Python stage. This pins VERDICT r4 #3's fix."""
    import numpy as np

    from theta_spark.functions.similarity import kmeans_cells_lloyd

    rng = np.random.default_rng(5)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    big, _ = kmeans_cells_lloyd(df, k=64, iters=1)  # auto -> arrow
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan_big
    assert "_s63" not in plan_big  # no per-centroid literal columns

    small, _ = kmeans_cells_lloyd(df, k=4, iters=1)  # auto -> literal
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan_small


def test_repetition_stats_is_shuffle_free(spark):
    """The Gopher repetition operator is ONE narrow Arrow stage: no
    Exchange anywhere in the physical plan (per-doc gram counting is
    row-local; only the final projection follows)."""
    from theta_spark.functions.text import repetition_stats

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = plan_of(repetition_stats(d))
    phys = p.split("== Physical Plan ==")[-1].split("== Initial Plan ==")[0]
    assert "Exchange" not in phys, phys[:1500]
    assert "MapInPandas" in p


def test_contamination_joins_broadcast(spark):
    """The benchmark shingle set is eval-set-sized: the overlap join must
    be a BroadcastHashJoin, never a sort-merge shuffle of the corpus
    shingle stream."""
    from theta_spark.functions.dedup import contamination_scores

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = d.filter(F.col("doc_id") % 37 == 0)
    corpus = d.filter(F.col("doc_id") % 37 != 0)
    p = plan_of(contamination_scores(corpus, bench, k=3))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_stratified_sample_prunes_and_stays_narrow(spark):
    """The sampling filter is one narrow stage over a pruned scan — no
    Exchange, and ReadSchema carries only the referenced columns."""
    from theta_spark.functions.sampling import stratified_sample

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang"
    )
    q = stratified_sample(d, {"en": 500}, "lang", "doc_id")
    p = plan_of(q)
    phys = p.split("== Physical Plan ==")[-1].split("== Initial Plan ==")[0]
    assert "Exchange" not in phys
    rs = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in rs and "text" not in rs


def test_neighbor_sample_plans_window_group_limit(spark):
    """The per-node top-k sample must plan as WindowGroupLimit (per-
    partition top-k push-down) — a full per-node sort would make hub
    nodes quadratic-ish at 10^9 edges."""
    from theta_spark.functions.graph import neighbor_sample

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    e = li.select(F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst"))
    p = plan_of(neighbor_sample(e, k=3))
    assert "WindowGroupLimit" in p


def test_kg_pattern_match_broadcasts_selective_leg(spark):
    """The conjunctive pattern's selective leg (calls -> shared_util) is
    broadcast: the triple table must NOT be shuffled for the join."""
    from theta_spark.corpus import corpus_df
    from theta_spark.pipeline import extract_triples

    corpus, _ = corpus_df(spark, 30, seed=42, num_partitions=2, with_docs=False)
    t = extract_triples(corpus).select("subj", "pred", "obj").distinct()
    defines = t.filter(F.col("pred") == "defines").select(
        F.col("subj").alias("module"), F.col("obj").alias("fname")
    )
    calls_util = (
        t.filter((F.col("pred") == "calls") & (F.col("obj") == "shared_util"))
        .select(F.col("subj").alias("fname"))
        .distinct()
    )
    p = plan_of(defines.join(F.broadcast(calls_util), on="fname"))
    assert "BroadcastHashJoin" in p


def test_quality_lr_iteration_agg_is_two_stage(spark):
    """One GD iteration = scan + partial agg + single final agg: exactly
    one Exchange (the 1-row final agg), no row shuffle, and the weights
    join is a broadcast — the shape whose codegen caches across
    iterations."""
    from theta_spark.operators.training import (
        QL_S,
        _QL_FEATURE_COLS,
        _fdiv,
        quality_features,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    feats = quality_features(d)
    wdf = spark.createDataFrame([(0, 0, 0, 0)], "_w0 long, _w1 long, _w2 long, _w3 long")
    fw = feats.crossJoin(F.broadcast(wdf))
    z = _fdiv(
        sum(F.col(f"_w{i}") * F.col(c) for i, c in enumerate(_QL_FEATURE_COLS)),
        F.lit(QL_S),
    )
    agg = fw.agg(F.sum(_fdiv(z, F.lit(QL_S))).alias("g"))
    p = plan_of(agg)
    phys = p.split("== Physical Plan ==")[-1].split("== Initial Plan ==")[0]
    # the weights ride a BroadcastExchange; the ONLY shuffle Exchange is
    # the SinglePartition gather feeding the final 1-row aggregate
    shuffle_nodes = {
        l.split("Exchange")[1].strip()
        for l in phys.splitlines()
        if "Exchange (" in l and "BroadcastExchange" not in l and "Reused" not in l
    }
    assert len(shuffle_nodes) == 1, phys
    assert "SinglePartition" in phys
