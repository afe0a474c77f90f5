"""Guard (SURVEY.md §7.3): no per-row Python UDFs anywhere in the package —
input_hint mandates vectorized pandas/Arrow UDFs only."""

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "theta_spark"


def test_no_row_at_a_time_udfs():
    bad = []
    for py in PKG.rglob("*.py"):
        src = py.read_text()
        # F.udf( / udf( calls and @udf decorators (pandas_udf is allowed)
        for m in re.finditer(r"(?<!pandas_)\budf\s*\(", src):
            if "pandas_udf" not in src[max(0, m.start() - 10) : m.start() + 4]:
                bad.append((py.name, m.group(0)))
    assert not bad, bad


def test_no_rdd_usage():
    offenders = [
        py.name
        for py in PKG.rglob("*.py")
        if re.search(r"\.rdd\b|sparkContext\.parallelize", py.read_text())
    ]
    assert offenders == [], offenders


def test_no_collect_in_pipeline_hot_path():
    # driver-side collect loops defeat distribution; only queries.py (driver
    # contract scalar results) and canonicalize's fixpoint count may collect.
    # ONE documented exception: pipeline.py's stage commit collects the
    # per-output-FILE fingerprint rows (driver traffic is bounded by the
    # file count, never row count) and writes the `_lineage` file and the
    # manifest from them on the driver, with no further Spark job —
    # anything beyond that one site is a regression.
    for name in ["operators/extract.py", "operators/merge.py",
                 "operators/triples.py", "operators/segmentation.py"]:
        src = (PKG / name).read_text()
        assert ".collect()" not in src, name
    pipeline_src = (PKG / "pipeline.py").read_text()
    sites = [m.start() for m in re.finditer(r"\.collect\(\)", pipeline_src)]
    assert len(sites) == 1, f"pipeline.py collect sites: {len(sites)}"
    context = pipeline_src[max(0, sites[0] - 600): sites[0]]
    assert "lineage" in context  # the bounded per-file lineage commit
