"""The benchmark workloads.

Each workload makes its inputs from the seed, drives the program only
through its public API (`theta_spark.pipeline`, `theta_spark.functions.graph`)
and checks every result against a reference computed without the engine.

    prepare()      write the inputs under `inputs/` and compute the reference
    warm_up(out)   untimed operations, each checked like the timed ones;
                   returns one ok flag per operation
    run(out, tr)   the timed operation; results land under `out`
    check(out)     (ok, n): whether the results equal the reference, and how
                   many triples the result holds

`tr` is the tracer's span factory: `with tr("graph.pagerank"): ...`. The
untimed, untraced passes get a no-op.
"""

from __future__ import annotations

import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kgbench.spans import no_span

# Sizes. A run (JVM start, inputs, a cold warm-up, timed passes, checks)
# takes 50-60 s on 4 vCPUs, and the time budget is 4 + 22 runs per
# workload within 3420 s. At these sizes per-job costs dominate every
# pass; they are what the engine's open work (loop helpers, lineage cuts,
# delta entity resolution) changes.
BUILD_DOCS = 3000  # ~44k resolved triples
INPUT_FILES = 16
N_CHANGED, N_NEW, N_DELETED = 30, 30, 15  # the refresh's delta: 2.5% of the base
LINEITEM_ROWS = 180_000  # sf0.03 of the TPC-H-shaped test tables: ~69k edges
PARTKEYS, SUPPKEYS = 6000, 300
PR_ITERS, PR_CHECKPOINT = 8, 4
LPA_STEPS, LPA_CHECKPOINT = 6, 3
WALK_STEPS = 6

TRIPLE_COLS = ["subj", "pred", "obj", "doc_id"]


def _write_files(table: pa.Table, path: str, n_files: int = INPUT_FILES) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


def _corpus_table(docs) -> pa.Table:
    from theta_spark.corpus import corpus_rows

    cols = list(zip(*corpus_rows(docs)))
    return pa.table({k: list(v) for k, v in zip(("repo", "path", "commit", "lang", "content"), cols)})


class IncrementalRefresh:
    """`run_pipeline_incremental` of a ~2.5% delta (changed, new and deleted
    docs) against a base that the warm-up builds with `run_pipeline`.

    The refresh re-extracts only the delta, but entity resolution
    (`canon_map`) and the `nodes` aggregate still run over the whole
    corpus, and every stage commit pays its fixed job costs."""

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.seed = spark, seed
        self.inputs = os.path.join(root, "inputs")

    def prepare(self) -> None:
        from theta_spark.corpus import doc_rng, generate_corpus, generate_doc, gold_triple_rows

        base = generate_corpus(BUILD_DOCS, seed=self.seed)
        rng = np.random.default_rng(self.seed)
        picked = rng.permutation(BUILD_DOCS)
        deleted = set(picked[:N_DELETED].tolist())
        changed = set(picked[N_DELETED : N_DELETED + N_CHANGED].tolist())
        docs = [
            # same repo/path/commit (so the same doc_id), other content
            generate_doc(doc_rng(self.seed + 1, i), i) if i in changed else d
            for i, d in enumerate(base)
            if i not in deleted
        ]
        docs += [generate_doc(doc_rng(self.seed, i), i) for i in range(BUILD_DOCS, BUILD_DOCS + N_NEW)]
        self.base_corpus = os.path.join(self.inputs, "base_corpus")
        self.corpus = os.path.join(self.inputs, "corpus")
        _write_files(_corpus_table(base), self.base_corpus)
        _write_files(_corpus_table(docs), self.corpus)
        self.base_gold = gold_triple_rows(base)
        self.gold = gold_triple_rows(docs)
        self.n_docs = len(docs)
        self.base = os.path.join(self.inputs, "base")

    def warm_up(self, out: str) -> list[bool]:
        """Build the base the refreshes run against. It runs every build
        operator, so it is also the JVM's warm-up; the delta paths stay
        cold, which is why a run's first refresh is slower than later
        ones (measured 15.4 s against 12.3-13.1 s)."""
        from theta_spark.pipeline import run_pipeline

        shutil.rmtree(self.base, ignore_errors=True)
        run_pipeline(self.spark, self.spark.read.parquet(self.base_corpus), self.base, resume=False)
        return [self.check(self.base, self.base_gold)[0]]

    def run(self, out: str, tr) -> None:
        from theta_spark.pipeline import run_pipeline_incremental

        run_pipeline_incremental(
            self.spark, self.spark.read.parquet(self.corpus), out, prior_workdir=self.base, resume=False
        )

    def check(self, workdir: str, gold: list | None = None) -> tuple[bool, int]:
        """The resolved triples (base - retired + delta for a refresh) equal
        the generator's gold triples, as a multiset."""
        from theta_spark.pipeline import read_stage

        t = read_stage(self.spark, workdir, "triples").select(*TRIPLE_COLS).toArrow()
        got = sorted(zip(*(t.column(c).to_pylist() for c in TRIPLE_COLS)))
        return got == (self.gold if gold is None else gold), len(got)


class GraphAnalytics:
    """Read-only analytics over the lineitem-derived graph of the `gr_*`
    queries: PageRank and label propagation with a lineage cut every few
    rounds, and random walks (no cut). No Python workers; each result is
    written as parquet so that the work is done and can be checked."""

    n_docs = 0

    def __init__(self, spark, root: str, seed: int):
        self.spark, self.seed = spark, seed
        self.inputs = os.path.join(root, "inputs")

    def prepare(self) -> None:
        import duckdb

        from theta_spark import queries as q

        # uniform part and supplier keys and quantities 1..50, the shape of
        # the test data's lineitem table
        rng = np.random.default_rng(self.seed)
        lineitem = pa.table(
            {
                "l_partkey": rng.integers(0, PARTKEYS, LINEITEM_ROWS),
                "l_suppkey": rng.integers(0, SUPPKEYS, LINEITEM_ROWS),
                "l_quantity": rng.integers(1, 51, LINEITEM_ROWS).astype(np.float64),
            }
        )
        con = duckdb.connect()
        con.register("lineitem", lineitem)
        edges = con.execute(f"WITH {q._GRAPH_SQL_CTE} SELECT src, dst FROM ge ORDER BY src, dst").arrow()
        self.edges = os.path.join(self.inputs, "edges")
        _write_files(edges, self.edges, n_files=8)
        self.n_edges = edges.num_rows
        self.oracle = {name: con.execute(sql).arrow() for name, sql in _oracle_sql().items()}
        con.close()

    def warm_up(self, out: str) -> list[bool]:
        """Two passes: after one, the JIT is still compiling and the next
        pass runs 0-2 s (up to 20%) slower than the one after it."""
        oks = []
        for _ in range(2):
            self.run(out, no_span)
            oks.append(self.check(out)[0])
            shutil.rmtree(out)
        return oks

    def run(self, out: str, tr) -> None:
        from pyspark.sql import functions as F

        from theta_spark.functions.graph import label_propagation, pagerank, random_walks

        edges = self.spark.read.parquet(self.edges)
        with tr("graph.pagerank"):
            pagerank(edges, iters=PR_ITERS, checkpoint_every=PR_CHECKPOINT).select(
                "node", "rank_s"
            ).write.parquet(os.path.join(out, "pagerank"))
        with tr("graph.label_propagation"):
            label_propagation(edges, steps=LPA_STEPS, checkpoint_every=LPA_CHECKPOINT).write.parquet(
                os.path.join(out, "label_propagation")
            )
        with tr("graph.random_walks"):
            starts = edges.filter(F.col("src") % 50 == 0).select(F.col("src").alias("node")).distinct()
            random_walks(edges, starts, steps=WALK_STEPS, walks_per_node=2, seed=42).write.parquet(
                os.path.join(out, "random_walks")
            )

    def check(self, out: str) -> tuple[bool, int]:
        """Each result equals its DuckDB oracle as a multiset of rows.
        The count is the analysed graph's edges: its KG triples."""
        import duckdb

        con = duckdb.connect()
        ok = True
        for name, want in self.oracle.items():
            con.register("want", want)
            cols = ", ".join(want.column_names)
            got = f"SELECT {cols} FROM read_parquet('{os.path.join(out, name)}/*.parquet')"
            diff = con.execute(
                f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL SELECT {cols} FROM want))"
                f" + (SELECT count(*) FROM (SELECT {cols} FROM want EXCEPT ALL {got}))"
            ).fetchone()[0]
            ok = ok and diff == 0
            con.unregister("want")
        con.close()
        return ok, self.n_edges


def _oracle_sql() -> dict:
    """DuckDB twins of the three analytics at the workload's depths,
    composed from the `gr_*` oracles' step generators."""
    from theta_spark import queries as q

    lpa = f"""
    WITH {q._GRAPH_SQL_CTE},
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM ge),
    adj AS (SELECT a AS node, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
    l0 AS (SELECT node, node AS label FROM (SELECT a AS node FROM und UNION SELECT b FROM und)),
    {",".join(q._lpa_step_sql(i) for i in range(LPA_STEPS))}
    SELECT node, label FROM l{LPA_STEPS}"""
    walk_steps = " UNION ALL ".join(
        f"SELECT walk_id, walk_idx, {s} AS step, node FROM f{s}" for s in range(WALK_STEPS + 1)
    )
    walks = f"""
    WITH {q._GRAPH_SQL_CTE},
    starts AS (SELECT DISTINCT src AS node FROM ge WHERE src % 50 = 0),
    f0 AS (
      SELECT node AS walk_id, walk_idx, node
      FROM starts, (SELECT unnest(generate_series(0, 1))::INT AS walk_idx)
    ),
    {",".join(q._walk_step_sql(s) for s in range(1, WALK_STEPS + 1))}
    {walk_steps}"""
    pagerank = f"SELECT node, rank_s FROM ({q._pagerank_oracle_sql(iters=PR_ITERS)})"
    # DuckDB inlines CTEs, and a PageRank round reads the previous one
    # twice, so at these depths the unmaterialized query is exponential
    return {
        name: re.sub(r"\b(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)
        for name, sql in (("pagerank", pagerank), ("label_propagation", lpa), ("random_walks", walks))
    }


WORKLOADS = {
    "incremental_refresh": IncrementalRefresh,
    "graph_analytics": GraphAnalytics,
}
