"""Staging-layer contract: the declarative store catalog lands every
per-source table under its family prefix, snapshots on the monthly
schedule, re-runs idempotently, and the reconciliation audit notices a
hole — the reference's nightly store discipline
(run_daily_pipeline.py + config.py:29-142) as one tested pass."""

from __future__ import annotations

import os
import shutil

from basin_climbing_data_pipeline_spark.sources import staging as st

# a small catalog slice keeps the fixture fast while still crossing four
# families and both snapshot policies
SLICE = {
    "combined_transaction_data",   # transactions, snapshot
    "checkins",                    # membership_system, no snapshot
    "customer_identifiers",        # customers, snapshot
    "conversion_cohorts",          # analytics, no snapshot
}


def test_catalog_is_well_formed():
    names = [t.name for t in st.STAGING_CATALOG]
    assert len(names) == len(set(names)), "duplicate staging table names"
    assert all(t.family for t in st.STAGING_CATALOG)
    # the reference snapshots state-like tables; the catalog must carry
    # both policies or the snapshot path is untested
    assert any(t.snapshot for t in st.STAGING_CATALOG)
    assert any(not t.snapshot for t in st.STAGING_CATALOG)
    families = {t.family for t in st.STAGING_CATALOG}
    assert families >= {
        "transactions",
        "membership_system",
        "customers",
        "analytics",
        "accounting",
        "marketing",
        "experiments",
    }


def test_run_lands_every_table_and_audit_is_clean(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    manifest = {
        r["table_name"]: r
        for r in st.run_staging(
            spark, sf_dir, root, run_date="2024-03-15", only=SLICE
        ).collect()
    }
    assert set(manifest) == SLICE
    for t in st.STAGING_CATALOG:
        if t.name not in SLICE:
            continue
        path = st.staging_path(root, t)
        assert os.path.isdir(path), f"{t.name} did not land"
        assert manifest[t.name]["n_rows"] > 0
        assert manifest[t.name]["family"] == t.family
    # mid-month run: no snapshots anywhere
    assert not any(m["snapshotted"] for m in manifest.values())
    assert st.list_snapshots(root) == []
    audit = {
        r["table_name"]: r["status"]
        for r in st.staging_reconciliation(spark, root).collect()
        if r["table_name"] in SLICE
    }
    assert all(s == "OK" for s in audit.values()), audit


def test_snapshot_day_writes_immutable_twins(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    manifest = {
        r["table_name"]: r
        for r in st.run_staging(
            spark, sf_dir, root, run_date="2024-03-01", only=SLICE
        ).collect()
    }
    want_snapshot = {
        t.name for t in st.STAGING_CATALOG if t.name in SLICE and t.snapshot
    }
    got_snapshot = {n for n, m in manifest.items() if m["snapshotted"]}
    assert got_snapshot == want_snapshot
    snaps = st.list_snapshots(root)
    assert len(snaps) == len(want_snapshot)
    assert all("snapshots/" in s and "snapshot_date=2024-03-01" in s for s in snaps)
    # the snapshot carries its date column and the full table
    t = next(t for t in st.STAGING_CATALOG if t.name in want_snapshot)
    snap_df = spark.read.parquet(
        os.path.join(root, t.family, "snapshots", t.name)
    )
    assert "snapshot_date" in snap_df.columns
    assert snap_df.count() == manifest[t.name]["n_rows"]


def test_rerun_is_idempotent(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    one = {"checkins"}
    n1 = st.run_staging(spark, sf_dir, root, only=one).collect()[0]["n_rows"]
    n2 = st.run_staging(spark, sf_dir, root, only=one).collect()[0]["n_rows"]
    assert n1 == n2, "re-run duplicated rows instead of overwriting"


def test_snapshot_day_rerun_is_idempotent(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    one = {"expense_categories"}
    t = next(t for t in st.STAGING_CATALOG if t.name in one)
    assert t.snapshot, "the case needs a snapshot-marked table"
    snap_path = os.path.join(root, t.family, "snapshots", t.name)
    counts = []
    for _ in range(2):
        st.run_staging(spark, sf_dir, root, run_date="2024-03-01", only=one)
        counts.append(spark.read.parquet(snap_path).count())
    assert counts[0] > 0
    assert counts[1] == counts[0], "snapshot-day re-run appended a second copy"


def test_reconciliation_flags_a_missing_table(spark, sf_dir, tmp_path):
    root = str(tmp_path / "store")
    st.run_staging(spark, sf_dir, root, only=SLICE)
    victim = next(t for t in st.STAGING_CATALOG if t.name == "checkins")
    shutil.rmtree(st.staging_path(root, victim))
    audit = {
        r["table_name"]: r["status"]
        for r in st.staging_reconciliation(spark, root).collect()
    }
    assert audit["checkins"] == "MISSING"
    assert all(
        audit[n] == "OK" for n in SLICE - {"checkins"}
    ), "unrelated tables must stay OK"


def test_staging_jobs_run_in_the_callers_job_group(spark, sf_dir, tmp_path):
    """Every Spark job of a pass belongs to the caller's job group, so a
    per-operation attribution of task time sees the pass, not ungrouped
    pool-thread jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("staging-test", "staging pass")
    try:
        st.run_staging(spark, sf_dir, str(tmp_path / "store"), only={"customers"})
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert set(tracker.getJobIdsForGroup(None)) - before == set()
    assert tracker.getJobIdsForGroup("staging-test"), "the pass ran no grouped job"


def test_materialized_table_is_written_once_to_the_store(spark, sf_dir, tmp_path, monkeypatch):
    """A hot builder's table lands once, at its staged path: nothing of it
    goes to the per-process temp root, and the manifest's row count (from
    the write's metrics) matches the stored table."""
    from basin_climbing_data_pipeline_spark import io

    wh = tmp_path / "wh"
    wh.mkdir()
    monkeypatch.setattr(io, "_WAREHOUSE_ROOT", str(wh))
    monkeypatch.setattr(io, "_MATERIALIZED", {})
    root = str(tmp_path / "store")
    manifest = st.run_staging(spark, sf_dir, root, only={"customers"}).collect()
    assert not list(wh.glob("*_customers")), "customers was also written to the temp root"
    t = next(t for t in st.STAGING_CATALOG if t.name == "customers")
    assert manifest[0]["n_rows"] == spark.read.parquet(st.staging_path(root, t)).count()


def test_store_binding_ends_with_the_pass(spark, sf_dir, tmp_path):
    """After a pass, a materialized builder no longer reads the store: the
    store may be moved or deleted and the builder still serves its rows."""
    from basin_climbing_data_pipeline_spark.operators.events import build_checkins

    root = str(tmp_path / "store")
    st.run_staging(spark, sf_dir, root, only={"checkins"})
    shutil.rmtree(root)
    got = {tuple(r) for r in build_checkins(spark, sf_dir).collect()}
    assert got == {tuple(r) for r in build_checkins.__wrapped__(spark, sf_dir).collect()}
