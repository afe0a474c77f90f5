"""Every query in `__spark_entry__.queries()` against its DuckDB oracle in
`oracle_sql()` at sf0.01. tests/oracle_harness.py compares each pair by
row count plus an order-insensitive value hash."""

from __future__ import annotations

import os

import __spark_entry__ as entry
from oracle_harness import run_all

SF001 = os.path.join(os.path.dirname(entry.SF0001), "sf0.01")


def test_all_queries_match_their_oracles(spark):
    results = run_all(spark, SF001)
    bad = [(r["name"], r["status"]) for r in results if r["status"] != "match"]
    assert not bad, bad
    assert len(results) == 82
