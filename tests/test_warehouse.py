"""Builder materialization: a table stored by io.materialized (here in the
per-process temp root, outside any staging pass) must be value-identical
to the raw builder output — the same guarantee the reference relies on
when downstream jobs read S3-materialized tables instead of re-deriving
them."""

from __future__ import annotations

import pytest


@pytest.mark.parametrize("builder_name", ["build_transactions", "build_checkins", "build_flags"])
def test_materialized_equals_raw(spark, sf_dir, monkeypatch, builder_name):
    from basin_climbing_data_pipeline_spark.operators import events, flags, transactions

    fn = {
        "build_transactions": transactions.build_transactions,
        "build_checkins": events.build_checkins,
        "build_flags": flags.build_flags,
    }[builder_name]

    mat = fn(spark, sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_NO_MATERIALIZE", "1")
    raw = fn(spark, sf_dir)

    assert [f.name for f in mat.schema.fields] == [f.name for f in raw.schema.fields]
    assert [f.dataType for f in mat.schema.fields] == [f.dataType for f in raw.schema.fields]
    mrows = {tuple(r) for r in mat.collect()}
    rrows = {tuple(r) for r in raw.collect()}
    assert mrows == rrows


def test_materialized_is_scan(spark, sf_dir):
    """After materialization the consumer-side plan is a bare parquet scan —
    no joins, no CASE trees; the warehouse did the work once."""
    from basin_climbing_data_pipeline_spark.operators.transactions import build_transactions
    from basin_climbing_data_pipeline_spark.plans.audit import audit

    st = audit(build_transactions(spark, sf_dir))
    assert len(st.scans) == 1
    assert st.n_exchanges == 0


def test_tracked_persist_released_by_next_registry_query(spark, sf_dir):
    """Cache-hygiene contract: a builder's tracked_persist() survives its own
    query but is unpersisted when the NEXT registry query starts, so a full
    84-query session never accumulates executor storage."""
    from pyspark.sql import functions as F

    from basin_climbing_data_pipeline_spark.io import release_caches, tracked_persist
    from basin_climbing_data_pipeline_spark.registry import REGISTRY

    release_caches()  # clean slate
    df = tracked_persist(spark.range(100).withColumn("x", F.col("id") * 2))
    assert df.count() == 100
    assert df.storageLevel.useMemory  # cached during its own query

    # any wrapped registry callable releases prior caches before building
    REGISTRY["doc_stats"][0](spark, sf_dir)
    assert not df.storageLevel.useMemory
