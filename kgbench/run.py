"""KG benchmark: one workload, one seed, one JSON result line.

    python3 kgbench/run.py --workload full_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run starts Spark on
local[nproc], makes the workload's inputs from the seed, runs one untimed
warm-up operation, then timed operations for about `--seconds`, and checks
every operation's output. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics (tracing off). `--trace 1`
alternates plain and traced passes in one session with the Spark event log
on, and reports the per-layer table (spans.py) and the tracing overhead.
Everything the run writes lives under .kgbench_work/ and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3  # input generation + reference, repeated for a steady setup_s

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "triples_per_s": "1/s",
    "written_mb": "MB",
    "py_peak_rss_mb": "MB",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under `work`, and
    drop the engine's own tuning variables so that runs are comparable."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the Python workers import the program from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))


def _dir_mb(path: str, stages_only: bool = False) -> tuple[float, int]:
    """MB and parquet files under `path` (only inside committed stage
    directories when `stages_only`)."""
    size, files = 0, 0
    for dirpath, _, names in os.walk(path):
        if stages_only and not _in_stage(path, dirpath):
            continue
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size / 1e6, files


def _in_stage(root: str, dirpath: str) -> bool:
    top = os.path.relpath(dirpath, root).split(os.sep)[0]
    return os.path.exists(os.path.join(root, top, "_STAGE_MANIFEST.json"))


class Run:
    def __init__(self, args, work: str):
        from kgbench.host import ProcTree, host_facts, session_conf
        from kgbench.workloads import WORKLOADS

        self.args, self.work = args, work
        self.host = host_facts()
        self.tree = ProcTree()
        self.events = os.path.join(work, "events") if args.trace else None
        self.conf = session_conf(self.host, work, self.events)
        self.attempted = self.failed = 0
        self.spark = None
        self.workload_cls = WORKLOADS[args.workload]

    def start(self) -> float:
        from theta_spark.session import get_spark

        t0 = time.perf_counter()
        n = self.host["nproc"]
        self.spark = get_spark(
            app_name=f"kgbench-{self.args.workload}",
            master=f"local[{n}]",
            shuffle_partitions=4 * n,
            extra_conf=self.conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop(self) -> None:
        """Stop Spark and wait until the JVM and every worker have exited."""
        from pyspark import SparkContext

        from kgbench.host import wait_gone

        if self.spark is None:
            return
        started = self.tree.descendants()
        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        wait_gone(started)

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def setup(self) -> float:
        """JVM start + median input generation/reference + warm-up."""
        jvm_s = self.start()
        self.wl = self.workload_cls(self.spark, self.work, self.args.seed)
        prep = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            self.wl.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for ok in self.wl.warm_up(os.path.join(self.work, "warm")):
            self.record(ok)
        warm_s = time.perf_counter() - t0
        print(
            f"# setup: jvm {jvm_s:.2f}s, inputs+reference {statistics.median(prep):.2f}s "
            f"(median of {SETUP_REPEATS}), warm-up {warm_s:.2f}s",
            file=sys.stderr,
        )
        return jvm_s + statistics.median(prep) + warm_s

    def measured_pass(self, out: str, traced=None) -> dict:
        """One timed operation, inside `traced` (a context that yields the
        span factory) when given; the output check runs outside it."""
        from kgbench.host import jvm_gc_s
        from kgbench.spans import no_span

        shutil.rmtree(out, ignore_errors=True)
        self.tree.reset_peaks()
        gc0, cpu0 = jvm_gc_s(self.spark), self.tree.cpu_s()
        with traced or contextlib.nullcontext(no_span) as span:
            t0 = time.perf_counter()
            self.wl.run(out, span)
            wall = time.perf_counter() - t0
        cpu = self.tree.cpu_s() - cpu0
        gc = jvm_gc_s(self.spark) - gc0
        peaks = self.tree.peak_rss_mb()
        written_mb, _ = _dir_mb(out)
        ok, n = self.wl.check(out)
        self.record(ok)
        return {
            "wall_s": wall,
            "cpu_s": cpu,
            "triples_per_s": n / wall,
            "written_mb": written_mb,
            "py_peak_rss_mb": peaks["python"],
            "jvm.gc_s": gc,
            "jvm.peak_rss_mb": peaks["jvm"],
        }

    def timed_loop(self, one_pass, at_least: int = 1) -> list:
        """Passes until the next one would end past --seconds."""
        results, t0 = [], time.perf_counter()
        while True:
            results.append(one_pass(len(results)))
            spent = time.perf_counter() - t0
            next_end = spent + statistics.median(r["wall_s"] for r in results)
            if len(results) >= at_least and next_end > self.args.seconds:
                return results

    def end_to_end(self) -> dict:
        setup_s = self.setup()
        passes = self.timed_loop(lambda i: self.measured_pass(os.path.join(self.work, f"pass{i}")))
        self.stop()
        values = {k: statistics.median(p[k] for p in passes) for k in END_TO_END if k != "setup_s"}
        values["setup_s"] = setup_s
        print(f"# {len(passes)} timed pass(es); walls " + " ".join(f"{p['wall_s']:.2f}" for p in passes))
        return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}

    def per_layer(self) -> dict:
        from kgbench.spans import Tracer, fold_event_log, layer_table, per_layer_units

        self.setup()
        tracer = Tracer(self.spark)
        traced: list = []

        def plain(i: int) -> dict:
            return self.measured_pass(os.path.join(self.work, f"plain{i}"))

        def pair(i: int) -> dict:
            # later passes run warmer, so the order alternates between pairs
            untraced = plain(i) if i % 2 == 0 else None
            out = os.path.join(self.work, f"traced{i}")
            p = self.measured_pass(out, tracer.traced(f"t{i}"))
            p.update(self._layer_counts(out, tracer))
            untraced = untraced or plain(i)
            p["tag"], p["untraced_wall_s"], p["wall"] = f"t{i}", untraced["wall_s"], dict(tracer.wall)
            traced.append(p)
            return {"wall_s": untraced["wall_s"] + p["wall_s"]}

        self.timed_loop(pair, at_least=2)
        self.stop()  # flushes and closes the event log
        units = per_layer_units()
        tables = []
        for p in traced:
            t = layer_table(fold_event_log(self.events, p["tag"]), p["wall"])
            t.update({k: v for k, v in p.items() if k in units})
            t["trace.traced_wall_s"] = p["wall_s"]
            t["trace.untraced_wall_s"] = p["untraced_wall_s"]
            t["trace.overhead_s"] = p["wall_s"] - p["untraced_wall_s"]
            tables.append(t)
        metrics = {k: {"value": statistics.median(t[k] for t in tables), "unit": u} for k, u in units.items()}
        _print_table(metrics, len(tables))
        return metrics

    def _layer_counts(self, out: str, tracer) -> dict:
        import pyarrow.parquet as pq

        c = tracer.counts
        cand, verified = c.get("canonicalize.candidate_pairs", 0), c.get("canonicalize.verified_pairs", 0)
        written_mb, files = _dir_mb(out, stages_only=True)
        stats = {"n_extracted": 0, "n_retired": 0}
        if os.path.exists(os.path.join(out, "delta_stats", "_STAGE_MANIFEST.json")):
            stats = pq.read_table(os.path.join(out, "delta_stats")).to_pylist()[0]
        return {
            "extract.passes_per_doc": c.get("extract.docs_scored", 0) / self.wl.n_docs if self.wl.n_docs else 0.0,
            "canonicalize.candidate_pairs": cand,
            "canonicalize.verified_pairs": verified,
            "canonicalize.pair_yield": verified / cand if cand else 0.0,
            "commit.files": files,
            "commit.written_mb": written_mb,
            "delta.extracted_docs": stats["n_extracted"],
            "delta.retired_docs": stats["n_retired"],
        }


def _print_table(metrics: dict, n_passes: int) -> None:
    from kgbench.spans import SPAN_FIELDS, SPANS

    fields = [*SPAN_FIELDS, "py_s"]
    print(f"# per-layer table (median of {n_passes} traced pass(es); wall_s is self time)")
    print("# " + f"{'span':<26}" + "".join(f"{f:>11}" for f in fields))
    for span in SPANS:
        cells = []
        for f in fields:
            key = f"{span}.{f}"
            cells.append(f"{metrics[key]['value']:>11.3f}" if key in metrics else f"{'-':>11}")
        print("# " + f"{span:<26}" + "".join(cells))
    for key, m in metrics.items():
        if not any(key.startswith(s + ".") for s in SPANS):
            print(f"# {key:<34} {m['value']:.4f} {m['unit']}")
    tw, uw = metrics["trace.traced_wall_s"]["value"], metrics["trace.untraced_wall_s"]["value"]
    print(f"# tracing overhead: traced {tw:.2f}s - untraced {uw:.2f}s = {tw - uw:+.2f}s")


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import theta_spark  # the program under test, from this checkout

        from kgbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"kgbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(theta_spark.__file__).startswith(ROOT + os.sep):
        print(f"kgbench: theta_spark comes from {theta_spark.__file__}, not from {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".kgbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate_env(work)
    # a SIGTERM still stops Spark and removes the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, work)
    try:
        print("# host: " + json.dumps({**run.host, "session_conf": run.conf}))
        metrics = run.per_layer() if args.trace else run.end_to_end()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
