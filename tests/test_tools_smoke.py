"""Smoke coverage for the audit tooling the verification workflow depends
on (plans.audit stats, the oracle-harness canonicalizer, the query-index
generator) — cheap guards against bitrot in code that otherwise only runs
from the command line.
"""

from __future__ import annotations

import subprocess
import sys


def test_plan_audit_counts_operators(spark, sf_dir):
    from basin_climbing_data_pipeline_spark.operators.transactions import (
        build_transactions,
    )
    from basin_climbing_data_pipeline_spark.plans.audit import audit

    st = audit(build_transactions.__wrapped__(spark, sf_dir))
    # at sf0.001 BOTH join sides fit the broadcast threshold, so the plan
    # is all-broadcast with zero shuffles — assert the counters see the
    # joins and exchanges at all, not a particular strategy mix
    assert st.n_broadcast_hash_joins >= 2
    assert st.n_exchanges >= 1
    assert st.scans and st.read_schemas


def test_check_canonicalizer_handles_all_driver_types():
    sys.path.insert(0, "/root/repo/tools")
    import datetime as dt

    from check import canon_rows, canon_value

    assert canon_value(None) == "NULL"
    assert canon_value(True) == "true"
    assert canon_value(0.0) == "0.0" and canon_value(-0.0) == "0.0"
    assert canon_value(float("nan")) == "NaN"
    assert canon_value(dt.date(2024, 1, 2)) == "2024-01-02"
    assert canon_value([1, None]) == "[1,NULL]"
    cols, lines = canon_rows(["b", "a"], [(2, 1), (4, 3)])
    assert cols == ["a", "b"]           # sorted by name
    assert lines == ["1|2", "3|4"]      # values follow the column order


def test_driver_sim_aligns_rows_by_column_name():
    from tools.driver_sim import aligned_rows

    # same data, columns in a different SELECT order and case
    spark_side = aligned_rows(["b", "A"], [(2, 1), (4, 3)])
    oracle_side = aligned_rows(["a", "B"], [(3, 4), (1, 2)])
    assert spark_side == oracle_side == [("1", "2"), ("3", "4")]


def test_query_index_generator_runs():
    out = subprocess.run(
        [sys.executable, "tools/gen_query_index.py"],
        capture_output=True, text=True, cwd="/root/repo", timeout=600,
    )
    assert out.returncode == 0
    from basin_climbing_data_pipeline_spark.registry import REGISTRY

    n = out.stdout.count("| sql |") + out.stdout.count("| rows-only |")
    assert n == len(REGISTRY)
