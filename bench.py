"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ..., "kg": {...}}

Headline set:
- kg_pipeline: the flagship corpus->segments->score/decode->dedup->triples
  chain on a synthetic corpus sized to the SF's documents table — the
  BASELINE.json metric (triples/sec) is reported under "kg".
- kg_graph: canonicalization (MinHash-LSH + CC) + salted nodes/edges agg.
- representative driver-contract queries (shuffle-heavy agg, broadcast
  join chain, window sessionization, segmentation fan-out, hash dedup).

Scaling evidence across parallelism levels lives in bench_scaling.py (it
spawns one JVM per level); this file is the single-process per-round bench.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _stage_wall(workdir: str, stage: str) -> float:
    import json as _json

    with open(os.path.join(workdir, stage, "_STAGE_MANIFEST.json")) as f:
        return _json.load(f)["wall_ms"] / 1000.0


# single canonical /proc/stat parser (both bench scripts live in the repo
# root and run from the same checkout; one implementation keeps the
# cross-referenced telemetry in BENCH.md consistent)
from bench_scaling import _proc_stat  # noqa: E402


def _host_calib(threads: int = 32) -> dict:
    """Fixed-work CPU calibration — a host-STATE index stamped into every
    artifact. BENCH.md §L showed the UNCHANGED round-4 code varying
    14.8s -> 22s across measurement days at near-zero nominal steal: the
    hypervisor's interference manifests as a window-level throughput
    state the steal counter misses, so cross-day wall comparisons need a
    denominator. Work: sha256 over fixed 1 MiB blocks — ALU-bound,
    allocation-free, no BLAS/JVM coupling; hashlib releases the GIL on
    large buffers, so a thread pool measures real parallel bandwidth.

    Returns seconds for one single-thread unit (512 MiB), the wall for
    `threads` concurrent units, and the effective parallel speedup. Same
    code, same bytes, every round: `t1_s` ratios across artifacts ARE the
    host-state ratio. (~0.4s + ~1s on an unloaded host.)
    """
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    block = b"\xa5" * (1 << 20)

    def unit() -> None:
        h = hashlib.sha256()
        for _ in range(512):
            h.update(block)
        h.digest()

    t0 = time.time()
    unit()
    t1 = time.time() - t0
    t0 = time.time()
    with ThreadPoolExecutor(max_workers=threads) as ex:
        list(ex.map(lambda _: unit(), range(threads)))
    tn = time.time() - t0
    # second dimension: MEMORY BANDWIDTH (a 256 MiB copy) — a JVM workload
    # can be throttled on the memory bus while ALU throughput reads clean
    # (observed: identical in-run sha unit_s on a day Spark ran 1.5x slow)
    import numpy as np

    src = np.empty(1 << 28, dtype=np.uint8)
    dst = np.empty_like(src)
    np.copyto(dst, src)  # warm-up: fault the pages in, then time the copy
    t0 = time.time()
    np.copyto(dst, src)
    tc = time.time() - t0
    return {
        "t1_s": round(t1, 3),
        "tn_s": round(tn, 3),
        "threads": threads,
        "parallel_speedup": round(threads * t1 / tn, 2) if tn > 0 else -1.0,
        "copy_gbps": round(0.25 / tc, 2) if tc > 0 else -1.0,
    }


class _InRunProber:
    """Times the SAME fixed sha256 unit as _host_calib on a background
    thread WHILE a trial runs. §H found the interference JVM-COUPLED: an
    idle-host probe (steal or calib) can read clean while the JVM's work
    is throttled, so the only trustworthy host-state sample is one taken
    inside the measurement window. One prober thread at ~50% duty cycle
    perturbs a 32-way run by <2% and rides every artifact identically, so
    it cancels out of cross-round comparisons. `in_run_unit_s` vs the
    idle `t1_s` is the in-window slowdown factor."""

    def __init__(self):
        import threading

        self._stop = threading.Event()
        self._samples: list = []
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        import hashlib

        import numpy as np

        block = b"\xa5" * (1 << 20)
        src = np.empty(1 << 27, dtype=np.uint8)  # 128 MiB copy probe
        dst = np.empty_like(src)
        np.copyto(dst, src)  # fault pages in before the first timed sample
        while not self._stop.is_set():
            t0 = time.time()
            h = hashlib.sha256()
            for _ in range(512):
                h.update(block)
            h.digest()
            t1 = time.time()
            np.copyto(dst, src)
            t2 = time.time()
            self._samples.append((t1 - t0, t2 - t1))
            self._stop.wait(0.5)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def stats(self) -> dict:
        if not self._samples:
            return {"in_run_unit_s": -1.0, "n": 0}
        sha = sorted(t for t, _ in self._samples)
        cp = sorted(t for _, t in self._samples)
        return {
            "in_run_unit_s": round(sha[len(sha) // 2], 3),  # median
            "in_run_unit_max_s": round(sha[-1], 3),
            "in_run_copy_gbps": round(0.125 / cp[len(cp) // 2], 2),
            "in_run_copy_min_gbps": round(0.125 / cp[-1], 2),
            "n": len(self._samples),
        }


def _steal_probe(window_s: float = 1.5) -> float:
    """Instantaneous host steal%% over a short idle window. The guest is
    time-shared; numbers taken while the hypervisor is handing our vCPUs
    to neighbors (steal >~1%%) are not citable (BENCH.md §W), so the kg
    section probes first and waits for a clean window."""
    b0, s0, t0 = _proc_stat()
    time.sleep(window_s)
    b1, s1, t1 = _proc_stat()
    return round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2)


def _wait_clean_window(
    threshold_pct: float = 1.0, retries: int = 4, backoff_s: float = 20.0
) -> dict:
    """Probe steal; if the window is dirty, sleep and retry (bounded).
    Returns the probe record either way — a dirty final probe ANNOTATES
    the section rather than blocking the bench (the driver needs an
    artifact even on a hostile host)."""
    probes = []
    for i in range(retries + 1):
        pct = _steal_probe()
        probes.append(pct)
        if pct < threshold_pct:
            return {"steal_probe_pct": pct, "probe_clean": True, "probes": probes}
        if i < retries:
            time.sleep(backoff_s)
    return {"steal_probe_pct": probes[-1], "probe_clean": False, "probes": probes}


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_bench(
    sf_dir: str | None = None,
    cpus: str | None = None,
    n_docs: int | None = None,
    skip_graph: bool | None = None,
) -> dict:
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    if skip_graph is None:
        skip_graph = os.environ.get("SPARK_GRAFT_BENCH_SKIP_GRAPH") == "1"

    from theta_spark.session import get_spark

    # straggler rescue for timed runs (see session.py): only genuine hangs
    # (4x the 90th-percentile task) are re-attempted
    os.environ.setdefault("SPARK_GRAFT_SPECULATION", "1")
    spark = get_spark(app_name=f"bench-{os.path.basename(sf_dir)}", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    import shutil
    import tempfile

    from theta_spark import queries as q
    from theta_spark.config import PipelineConfig
    from theta_spark.corpus import corpus_df
    from theta_spark.pipeline import run_pipeline

    from pyspark.sql import functions as F

    cfg = PipelineConfig()
    timings: dict[str, float] = {}
    kg: dict = {}

    # --- KG pipeline (the BASELINE.json metric): the real checkpoint-
    # resumable pipeline incl. parquet stage snapshots, not a cache-warmed
    # variant — what a cluster run pays per stage.
    n_docs = n_docs or int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "0")) or (
        spark.read.parquet(f"{sf_dir}/documents.parquet").count() * 10
    )
    corpus, _ = corpus_df(spark, n_docs, seed=42, num_partitions=int(cpus) * 2, with_docs=False)
    corpus = corpus.persist()
    n_chars = corpus.agg(F.sum(F.length("content"))).collect()[0][0]

    compute_only = os.environ.get("SPARK_GRAFT_BENCH_SINK") == "count"
    kg_only = os.environ.get("SPARK_GRAFT_BENCH_KG_ONLY") == "1"
    # kg best-of-N (round 4): the host exhibits SPORADIC interference
    # bursts coupled to JVM execution (~1/3 of trials run 5-20x slower
    # burning real CPU at near-zero average steal — BENCH.md §H), so a
    # single kg trial is not citable. Default 2 trials for the driver's
    # full artifact; 1 when bench_scaling drives (it does its own
    # best-of-N in separate JVMs) or in compute-only mode.
    kg_trials = int(os.environ.get("SPARK_GRAFT_BENCH_KG_TRIALS", "0")) or (
        1 if (compute_only or kg_only) else 2
    )
    hz = os.sysconf("SC_CLK_TCK")
    # steal gate (VERDICT r3 #5): r2's query section and r3's kg section were
    # both poisoned by hypervisor-steal windows; probe first, wait for a
    # clean one (bounded), and ANNOTATE the section either way so the
    # artifact says whether its kg number is citable.
    if os.environ.get("SPARK_GRAFT_BENCH_NO_PROBE") != "1":
        kg["probe"] = _wait_clean_window()
    # host-state index (§L): lets a reader normalize this artifact's walls
    # against any other round's without same-window interleaving
    kg["host_calib"] = _host_calib()

    def _kg_trial() -> tuple[dict, dict]:
        """One timed kg run -> (timings_slice, kg_metrics)."""
        workdir = tempfile.mkdtemp(prefix="kgbench_")
        tm: dict = {}
        m: dict = {}
        prober = _InRunProber().__enter__()
        try:
            b0, s0, tj0 = _proc_stat()
            t0 = time.time()
            if compute_only:
                # pure-compute variant: one count action drives corpus ->
                # extraction -> triple assembly with NO stage snapshots. The
                # sandbox's single shared local disk does not scale with
                # cores (a cluster's storage bandwidth scales with
                # executors), so this isolates the job's compute scaling
                # from that artifact. Uses extract_triples — the PRODUCTION
                # fused per-doc path run by run_pipeline/entry.
                from theta_spark.pipeline import extract_triples

                n_triples = extract_triples(corpus, cfg).count()
                t_extract = t_all = time.time() - t0
                b1, s1, tj1 = _proc_stat()
                tm["kg_pipeline"] = round(t_extract, 3)
                tm["kg_graph"] = 0.0
                m.update(
                    busy_cpu_s=round((b1 - b0) / hz, 1),
                    steal_cpu_s=round((s1 - s0) / hz, 1),
                    steal_pct=round(100.0 * (s1 - s0) / max(tj1 - tj0, 1), 1),
                    n_docs=n_docs,
                    n_chars=int(n_chars),
                    n_mentions=-1,
                    n_triples=n_triples,
                    triples_per_sec=round(n_triples / t_extract, 1),
                    docs_per_sec=round(n_docs / t_extract, 1),
                    mb_per_sec=round(n_chars / 1e6 / t_extract, 2),
                    end_to_end_sec=round(t_all, 3),
                    sink="count",
                )
                return tm, m
            if skip_graph:
                # the same one-pass mentions + triples commits as
                # run_pipeline, minus the nodes/edges graph stages
                from theta_spark.pipeline import Increment

                mentions, triples = Increment(
                    spark, corpus, workdir, None, cfg, resume=False
                ).commit_extraction()
                stages = {"mentions": mentions, "triples": triples}
            else:
                stages = run_pipeline(spark, corpus, workdir, cfg, resume=False)
            t_all = time.time() - t0
            b1, s1, tj1 = _proc_stat()
            m.update(
                busy_cpu_s=round((b1 - b0) / hz, 1),
                steal_cpu_s=round((s1 - s0) / hz, 1),
                steal_pct=round(100.0 * (s1 - s0) / max(tj1 - tj0, 1), 1),
            )
            n_mentions = stages["mentions"].count()
            n_triples = stages["triples"].count()
            t_extract = _stage_wall(workdir, "mentions") + _stage_wall(workdir, "triples")
            tm["kg_pipeline"] = round(t_extract, 3)
            tm["kg_graph"] = round(t_all - t_extract, 3)
            # per-stage walls IN the artifact (VERDICT r3 #5): kg_graph
            # decomposes into its stage commits so a regression is isolable
            # per stage without re-running. nodes/edge_provenance/
            # scored_docs commit concurrently (pipeline._commit_graph_layer)
            # — their walls overlap, so the tail ~= max(batch).
            m["stage_walls"] = {st: round(_stage_wall(workdir, st), 3) for st in stages}
            m.update(
                n_docs=n_docs,
                n_chars=int(n_chars),
                n_mentions=n_mentions,
                n_triples=n_triples,
                triples_per_sec=round(n_triples / t_extract, 1),
                docs_per_sec=round(n_docs / t_extract, 1),
                mb_per_sec=round(n_chars / 1e6 / t_extract, 2),
                end_to_end_sec=round(t_all, 3),
            )
            if not skip_graph:
                m["n_nodes"] = stages["nodes"].count()
                m["n_edges"] = stages["edges"].count()
            return tm, m
        finally:
            prober.__exit__()
            m.update(prober.stats())
            shutil.rmtree(workdir, ignore_errors=True)

    kg_all = [_kg_trial() for _ in range(kg_trials)]

    # adaptive retry (round 5): best-of-N absorbs §H's burst-poisoned
    # trials only if at least one trial landed in a clean window. When
    # even the BEST trial's in-run sha unit ran well above this bench's
    # own idle calibration, every fixed trial was degraded — spend up to
    # SPARK_GRAFT_BENCH_KG_EXTRA (default 2) additional trials hunting a
    # clean window before publishing. Ratio-gated on the same fixed-work
    # probe every artifact carries, so the retry condition is itself
    # host-state-normalized; disabled in single-trial modes (bench_scaling
    # does its own best-of-N in separate JVMs).
    calib_t1 = kg.get("host_calib", {}).get("t1_s") or 0.0

    def _best():
        return min(kg_all, key=lambda p: p[1]["end_to_end_sec"])

    def _degraded(m: dict) -> bool:
        # two independent interference modes (BENCH.md §H/§W): steal-
        # visible vCPU theft (the counter moves; >~1.5% is not citable)
        # and steal-INVISIBLE throttling (counter near zero, the fixed-
        # work sha unit runs slow vs this bench's own idle calib). Either
        # one marks the trial degraded. Measured: a 10%-steal storm ran
        # the sha unit at 1.11x calib — the unit alone misses that mode.
        u = m.get("in_run_unit_s", -1.0)
        slow_unit = calib_t1 > 0 and u > 0 and u > 1.25 * calib_t1
        return slow_unit or m.get("steal_pct", 0.0) > 1.5

    extra_budget = int(os.environ.get("SPARK_GRAFT_BENCH_KG_EXTRA", "2")) if kg_trials > 1 else 0
    extras_run = 0
    while extra_budget > 0 and _degraded(_best()[1]):
        kg_all.append(_kg_trial())
        extra_budget -= 1
        extras_run += 1
    if extras_run:
        kg["extra_trials"] = extras_run

    best_tm, best_m = _best()
    timings.update(best_tm)
    kg.update(best_m)
    if len(kg_all) > 1:
        kg["trials_all"] = [
            {
                "end_to_end_sec": m["end_to_end_sec"],
                "busy_cpu_s": m["busy_cpu_s"],
                "steal_pct": m["steal_pct"],
                "in_run_unit_s": m.get("in_run_unit_s"),
            }
            for _, m in kg_all
        ]
    corpus.unpersist()

    # --- representative relational queries (driver-contract subset) ---
    if kg_only:
        total = round(sum(timings.values()), 3)
        result = {
            "metric": "headline_total_sec", "value": total, "unit": "sec",
            "queries": timings, "sf": _sf_of(sf_dir), "cpus": int(cpus), "kg": kg,
        }
        spark.stop()
        return result

    headline = [
        "q1_pricing_summary",
        "q3_broadcast_join_agg",
        "d3_gaps_islands",
        "w1_segments",
        "g2_dedup_docs",
        "d1_asof_pairing",
        "dd_ngram_jaccard",
        "sim_ivf_topk",
        # round-3 additions: iterative-join graph analytics + train-path
        # label encoding (both oracle-checked driver queries)
        "gr_pagerank",
        "p6_label_encode",
        # round-5 additions: the composed IVF-PQ ANN index (coarse-cell
        # prune + ADC over integer codes) and the two fixed-point
        # distributed trainers — NOTE: the r5 headline includes three
        # more queries than r1-r4; compare per-query walls
        "sim_ivfpq_topk",
        "t_train_quality_lr",
        "kge_transe",
    ]
    # settle between sections: force Python GC (and give the JVM
    # ContextCleaner a beat) so cleanup of the kg section's out-of-scope
    # DataFrames — the source of the sporadic DAGScheduler "non-existent
    # accumulator" warning seen in BENCH_r02 — lands HERE, between
    # sections, not inside a timed query window
    import gc

    gc.collect()
    time.sleep(2.0)

    # one UNTIMED pass first: the first execution of each plan shape in a
    # session pays whole-stage-codegen compilation + JVM JIT (profiled: a
    # ~2s steady-state window query read 14-32s cold), which would be
    # misattributed to whichever query runs it first. Then TWO timed
    # alternating passes, best per query: the host is time-shared with
    # bursty neighbor load (BENCH_r02's query section was poisoned by one
    # degraded window — single-trial numbers are not citable here; see
    # bench_scaling.best_of for the same discipline on the scaling runs).
    qb0, qs0, qt0 = _proc_stat()
    for name in headline:
        q.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    trials: dict[str, list[float]] = {name: [] for name in headline}
    for _ in range(2):
        for name in headline:
            fn = q.QUERIES[name]
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            trials[name].append(round(time.time() - t0, 3))
    for name in headline:
        timings[name] = min(trials[name])
    qb1, qs1, qt1 = _proc_stat()
    query_section = {
        "busy_cpu_s": round((qb1 - qb0) / hz, 1),
        "steal_cpu_s": round((qs1 - qs0) / hz, 1),
        "steal_pct": round(100.0 * (qs1 - qs0) / max(qt1 - qt0, 1), 1),
        "trials_per_query": 2,
        "all_trials": trials,
    }

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "cpus": int(cpus),
        "kg": kg,
        "query_section": query_section,
    }
    spark.stop()

    # local[8] kg pair (VERDICT r3 #5): this host can actually deliver 8
    # honest cores even when 32-wide runs sit in the vCPU-steal zone, so
    # every per-round artifact carries one honest-region kg number next to
    # the local[32] one. Own JVM via bench_scaling.run_level (the subprocess
    # runs kg-only, so no recursion back through this block).
    if not skip_graph and os.environ.get("SPARK_GRAFT_BENCH_L8") != "0":
        from bench_scaling import run_level

        try:
            # best-of-2, matching the local[32] headline's methodology
            l8 = run_level(8, sf_dir, n_docs, skip_graph=False, kg_only=True, kg_trials=2)
            result["kg_local8"] = {
                "kg_pipeline": l8["queries"].get("kg_pipeline"),
                "kg_graph": l8["queries"].get("kg_graph"),
                **{
                    k: l8["kg"].get(k)
                    for k in (
                        "stage_walls", "probe", "steal_pct", "busy_cpu_s",
                        "triples_per_sec", "end_to_end_sec",
                    )
                },
                "telemetry": l8.get("telemetry"),
            }
        except Exception as exc:  # annotate, never fail the artifact
            result["kg_local8"] = {"error": str(exc)[:500]}
    return result


if __name__ == "__main__":
    out = run_bench()
    print(json.dumps(out))
    sys.stdout.flush()
