"""Driver-contract regression guards on the registry itself.

The registry runs in definition order with one entry per name, and the
driver canonicalizes results with pandas (sort columns by name, hash
values): a complex-typed output column (``kmeans_refine``'s former
``array<bigint>`` centroids) crashes the canonicalizer's ``sort_values``.
These tests pin both.
"""

from __future__ import annotations

import pytest

from basin_climbing_data_pipeline_spark import registry


def test_registry_is_in_definition_order_without_duplicates():
    """REGISTRY iterates in the order of the ``register("...")`` calls in
    registry.py, and every name is registered exactly once: a second
    ``register`` of the same name would silently overwrite the first
    entry while leaving the dict one entry short."""
    import os
    import re

    src = open(
        os.path.join(
            os.path.dirname(__file__),
            "..",
            "basin_climbing_data_pipeline_spark",
            "registry.py",
        )
    ).read()
    declared = re.findall(r'^register\(\s*["\']([a-z0-9_]+)["\']', src, re.M)
    assert len(declared) == len(set(declared)), [
        n for n in set(declared) if declared.count(n) > 1
    ]
    assert list(registry.REGISTRY) == declared


def test_every_query_has_an_oracle_or_documented_rows_only():
    """Each entry carries oracle SQL unless it is one of the documented
    rows-only checks (genuinely non-SQL-expressible semantics)."""
    rows_only_allowed: set[str] = set()  # flags_via_applyinpandas gained a
    # value-hash oracle in round 6; nothing is rows-only today
    missing = [
        name
        for name, (_fn, sql) in registry.REGISTRY.items()
        if sql is None and name not in rows_only_allowed
    ]
    assert not missing, missing


@pytest.mark.slow
def test_no_complex_output_types(spark, sf_dir):
    """No registered query may emit array/map/struct output columns: the
    driver canonicalizer sorts result columns with pandas, which cannot
    factorize list cells (the exact failure that made kmeans_refine the
    one red driver row in round 4).  Schema-only — builds every plan at
    sf0.001 without executing it."""
    from pyspark.sql import types as T

    bad = []
    for name, (fn, _sql) in registry.REGISTRY.items():
        schema = fn(spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, bad


def test_session_timezone_fail_loud_and_self_heal(spark, sf_dir, monkeypatch):
    """Two halves of the timezone defense: the raw events-timestamp path
    REFUSES to run under a non-UTC session (an NTZ->LTZ cast there would
    silently shift instants), and the registry wrapper SELF-HEALS — the
    driver may invoke queries() on a session it configured itself, so a
    wrapped query under a mis-tuned session must retune and produce the
    baseline rows."""
    monkeypatch.setenv("SPARK_GRAFT_NO_MATERIALIZE", "1")
    from basin_climbing_data_pipeline_spark.io import load_table

    fn = registry.REGISTRY["entry_method_counts"][0]
    baseline = sorted(map(tuple, fn(spark, sf_dir).collect()))
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # fail-loud: the raw nanos-normalization path rejects the session
        with pytest.raises(ValueError, match="timeZone"):
            load_table(spark, sf_dir, "events")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # self-heal: the wrapped registry query retunes and matches
        healed = sorted(map(tuple, fn(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert healed == baseline
