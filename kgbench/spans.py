"""Per-layer tracing for the traced run.

A traced pass wraps the program's layer entry points (module attributes of
`theta_spark.pipeline` and `theta_spark.canonicalize`, and the parquet
writer inside a stage commit) in spans. Each span

- times itself on the driver; a span's `wall_s` is its self time, its
  duration minus its child spans in the same thread. Spans in the
  concurrent commit threads overlap, so their walls can add up to more
  than the pass;
- tags the Spark jobs it submits with a job group, so that the event log's
  task metrics fold by span.

Spark runs lazily, so a layer's work happens at the action that consumes
it. To give each layer its own work, the traced pass materializes the
output of each layer span (`localCheckpoint(eager=True)`): a stage's rows
before its commit writes them, the LSH candidate and verified pairs before
connected components, and the delta docs. That extra copy is part of the
tracing overhead, which the run reports as traced wall minus plain wall.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

SPANS = [
    "extract.mentions",
    "extract.triples",
    "canonicalize.lsh",
    "canonicalize.cc",
    "pipeline.nodes",
    "pipeline.edge_provenance",
    "pipeline.edges",
    "commit.write",
    "commit.lineage",
    "delta.keys",
    "delta.resolve",
    "graph.pagerank",
    "graph.label_propagation",
    "graph.random_walks",
]
SPAN_FIELDS = {
    "wall_s": "s",
    "task_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "rows": "count",
    "jobs": "count",
}
PY_SPANS = ["extract.mentions", "extract.triples"]  # the Arrow (mapInPandas) spans
EXTRA = {
    "extract.passes_per_doc": "ratio",
    "canonicalize.candidate_pairs": "count",
    "canonicalize.verified_pairs": "count",
    "canonicalize.pair_yield": "ratio",
    "commit.files": "count",
    "commit.written_mb": "MB",
    "delta.extracted_docs": "count",
    "delta.retired_docs": "count",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "trace.traced_wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict:
    """Every per-layer metric name and its unit, in table order."""
    units = {}
    for span in SPANS:
        for field, unit in SPAN_FIELDS.items():
            units[f"{span}.{field}"] = unit
        if span in PY_SPANS:
            units[f"{span}.py_s"] = "s"
    units.update(EXTRA)
    return units


# stage name of a run_checkpointed commit -> the layer whose plan it runs
STAGE_SPANS = {
    "mentions": "extract.mentions",
    "triples": "extract.triples",
    "nodes": "pipeline.nodes",
    "edge_provenance": "pipeline.edge_provenance",
    "edges": "pipeline.edges",
    "scored_docs": "delta.keys",
    "delta_stats": "delta.keys",
}
_HELPER = "kgbench.count"  # the tracer's own row counts: excluded from the table


def no_span(_name):
    return nullcontext()


class Tracer:
    """Spans for one traced pass at a time (`with tracer.traced(tag): ...`)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._local = threading.local()
        self._lock = threading.Lock()
        self.tag = ""
        self.wall: dict = defaultdict(float)
        self.counts: dict = defaultdict(float)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _group(self, name: str | None) -> None:
        if name is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(f"kgbench/{self.tag}/{name}", name)

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        frame = [name, 0.0]  # name, time covered by child spans
        stack.append(frame)
        self._group(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            stack.pop()
            with self._lock:
                self.wall[name] += dur - frame[1]
            if stack:
                stack[-1][1] += dur
            self._group(stack[-1][0] if stack else None)

    def count(self, name: str, n: float) -> None:
        with self._lock:
            self.counts[name] += n

    def _innermost(self) -> str | None:
        stack = self._stack()
        return stack[-1][0] if stack else None

    @contextmanager
    def traced(self, tag: str):
        """Install the layer wrappers for one pass, tagging its jobs `tag`."""
        self.tag = tag
        self.wall.clear()
        self.counts.clear()
        undo = self._install()
        try:
            yield self.span
        finally:
            for obj, attr, orig in undo:
                setattr(obj, attr, orig)

    def _materialized(self, df, counter: str | None = None):
        df = df.localCheckpoint(eager=True)
        if counter:
            with self.span(_HELPER):
                self.count(counter, df.count())
        return df

    def _install(self) -> list:
        from pyspark.sql.readwriter import DataFrameWriter

        import theta_spark.canonicalize as canon
        import theta_spark.pipeline as pipe

        undo = []

        def patch(obj, attr, make):
            orig = getattr(obj, attr, None)
            if orig is None:  # the program no longer has this entry point
                return
            undo.append((obj, attr, orig))
            setattr(obj, attr, make(orig))

        def run_checkpointed(orig):
            sig = inspect.signature(orig)

            def wrapped(*args, **kwargs):
                bound = sig.bind(*args, **kwargs)
                stage, build = bound.arguments["stage"], bound.arguments["build"]
                layer = STAGE_SPANS.get(stage)

                def traced_build():
                    with self.span(layer or "commit.write"):
                        df = build()
                        return self._materialized(df) if layer else df

                bound.arguments["build"] = traced_build
                with self.span("commit.lineage"):
                    return orig(*bound.args, **bound.kwargs)

            return wrapped

        def writer_parquet(orig):
            def wrapped(writer, path, *args, **kwargs):
                if self._innermost() != "commit.lineage":
                    return orig(writer, path, *args, **kwargs)
                # a delta stage's retired-doc table is a key anti-join
                name = "delta.keys" if os.path.basename(path) == "_retired" else "commit.write"
                with self.span(name):
                    return orig(writer, path, *args, **kwargs)

            return wrapped

        def in_span(name):
            def make(orig):
                def wrapped(*args, **kwargs):
                    with self.span(name):
                        return orig(*args, **kwargs)

                return wrapped

            return make

        def jaccard_inline(orig):
            def wrapped(pairs, *args, **kwargs):
                with self.span("canonicalize.lsh"):
                    pairs = self._materialized(pairs, "canonicalize.candidate_pairs")
                    return self._materialized(orig(pairs, *args, **kwargs), "canonicalize.verified_pairs")

            return wrapped

        def corpus_delta(orig):
            def wrapped(*args, **kwargs):
                with self.span("delta.keys"):
                    reused, delta = orig(*args, **kwargs)
                    return reused, self._materialized(delta)

            return wrapped

        def scoring_entry(orig):
            def wrapped(corpus, *args, **kwargs):
                with self.span(_HELPER):
                    self.count("extract.docs_scored", corpus.count())
                return orig(corpus, *args, **kwargs)

            return wrapped

        patch(pipe, "run_checkpointed", run_checkpointed)
        patch(DataFrameWriter, "parquet", writer_parquet)
        patch(pipe, "compute_canon_map", in_span("canonicalize.cc"))
        patch(canon, "jaccard_inline", jaccard_inline)
        patch(pipe, "corpus_delta", corpus_delta)
        patch(pipe, "read_stage", in_span("delta.resolve"))
        patch(pipe, "extract_mentions_df", scoring_entry)
        patch(pipe, "extract_triples", scoring_entry)
        return undo


# Python-worker time from the task accumulables, in ms. "time to initialize
# Python workers" is left out: for a reused worker it also counts the idle
# time since its previous task (measured 3.8-5.6 s per task of a 1 s job).
_PY_RUN = "time to run Python workers"


def fold_event_log(event_log_dir: str, tag: str) -> dict:
    """{span: {task_s, gc_s, shuffle_mb, spill_mb, rows, jobs, py_s}} over
    the jobs whose group belongs to pass `tag`."""
    prefix = f"kgbench/{tag}/"
    stage_span: dict = {}
    out: dict = defaultdict(lambda: defaultdict(float))
    for path in sorted(glob.glob(os.path.join(event_log_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(prefix):
                        out[group[len(prefix):]]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if group.startswith(prefix):
                        stage_span[ev["Stage Info"]["Stage ID"]] = group[len(prefix):]
                elif kind == "SparkListenerTaskEnd":
                    span = stage_span.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if span is None or not m:
                        continue
                    acc = out[span]
                    acc["task_s"] += m["Executor Run Time"] / 1e3
                    acc["gc_s"] += m["JVM GC Time"] / 1e3
                    acc["shuffle_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
                    acc["spill_mb"] += m["Disk Bytes Spilled"] / 1e6
                    acc["rows"] += m["Input Metrics"]["Records Read"]
                    for a in ev["Task Info"].get("Accumulables", []):
                        if a.get("Name") == _PY_RUN:
                            acc["py_s"] += float(a.get("Update") or 0) / 1e3
    return out


def layer_table(folded: dict, wall: dict) -> dict:
    """Per-span fields for every span in SPANS (0 where a span did no work)."""
    table = {}
    for span in SPANS:
        acc = folded.get(span, {})
        table[f"{span}.wall_s"] = wall.get(span, 0.0)
        for field in SPAN_FIELDS:
            if field != "wall_s":
                table[f"{span}.{field}"] = float(acc.get(field, 0.0))
        if span in PY_SPANS:
            table[f"{span}.py_s"] = float(acc.get("py_s", 0.0))
    return table
