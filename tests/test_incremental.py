from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from basin_climbing_data_pipeline_spark.operators import incremental as inc


def _df(spark, rows):
    return spark.createDataFrame(rows, "id string, d date, v int")


def test_one_sided_window_merge(spark):
    d = dt.date
    existing = _df(
        spark,
        [("a", d(2024, 1, 1), 1), ("b", d(2024, 1, 5), 2), ("c", d(2024, 1, 9), 3)],
    )
    fresh = _df(spark, [("b", d(2024, 1, 5), 20), ("d", d(2024, 1, 8), 4)])
    out = inc.replace_bounded_window_merge(
        existing, fresh, "d", d(2024, 1, 5), "9999-12-31", "id", ["d", "v"]
    )
    got = {(r["id"], r["v"]) for r in out.collect()}
    # a kept (before window); b replaced by fresh; c dropped (in window, not
    # refetched); d added
    assert got == {("a", 1), ("b", 20), ("d", 4)}


def test_one_sided_window_merge_dedup_deterministic(spark):
    d = dt.date
    existing = _df(spark, [("x", d(2024, 1, 1), 5)])
    fresh = _df(
        spark, [("x", d(2024, 1, 6), 7), ("x", d(2024, 1, 6), 6)]
    )  # duplicate id in fresh window
    out = inc.replace_bounded_window_merge(
        existing, fresh, "d", d(2024, 1, 6), "9999-12-31", "id", ["d", "v"]
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["v"] == 6  # lowest v wins by order_cols


def test_bounded_merge_order_insensitive(spark):
    """Applying re-fetch windows in ANY order yields the same table — the
    bounded merge never deletes rows outside the batch's own span (the bug
    the one-sided merge had when a later window was processed first)."""
    d = dt.date
    w_early = _df(spark, [("a", d(2024, 1, 2), 1), ("b", d(2024, 1, 5), 2)])
    w_late = _df(spark, [("b", d(2024, 1, 5), 20), ("c", d(2024, 1, 9), 3)])

    def apply(existing, fresh):
        bounds = fresh.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).collect()[0]
        return inc.replace_bounded_window_merge(
            existing, fresh, "d", bounds["lo"], bounds["hi"], "id", ["d", "v"]
        )

    empty = spark.createDataFrame([], "id string, d date, v int")
    fwd = apply(apply(empty, w_early), w_late)
    rev = apply(apply(empty, w_late), w_early)
    got_fwd = {(r["id"], r["v"]) for r in fwd.collect()}
    got_rev = {(r["id"], r["v"]) for r in rev.collect()}
    # forward: b refreshed by the later window.  reverse: the early window
    # must NOT delete c (outside its span); its b copy overlaps the stored
    # span so fresh-wins puts the early value back — both orders keep all ids
    assert got_fwd == {("a", 1), ("b", 20), ("c", 3)}
    assert {i for i, _ in got_rev} == {"a", "b", "c"}


def test_bounded_merge_moved_id_keeps_one_row(spark):
    """A revised row whose date moves keeps exactly one row for its id, and
    the fresh row wins: m moves across the window start (its stored twin
    lies outside the window, so only the id dedup can drop it), n moves
    within the window."""
    d = dt.date
    existing = _df(
        spark,
        [("a", d(2024, 1, 1), 1), ("m", d(2024, 1, 4), 2), ("n", d(2024, 1, 5), 3)],
    )
    fresh = _df(spark, [("m", d(2024, 1, 6), 20), ("n", d(2024, 1, 7), 30)])
    for end in (d(2024, 1, 7), "9999-12-31"):
        out = inc.replace_bounded_window_merge(
            existing, fresh, "d", d(2024, 1, 5), end, "id", ["d", "v"]
        )
        got = sorted((r["id"], r["d"], r["v"]) for r in out.collect())
        assert got == [
            ("a", d(2024, 1, 1), 1),
            ("m", d(2024, 1, 6), 20),
            ("n", d(2024, 1, 7), 30),
        ], end


def test_append_if_absent(spark):
    d = dt.date
    existing = _df(spark, [("a", d(2024, 1, 1), 1)])
    incoming = _df(spark, [("a", d(2024, 1, 2), 99), ("b", d(2024, 1, 2), 2)])
    out = inc.append_if_absent(existing, incoming, "id")
    got = {(r["id"], r["v"]) for r in out.collect()}
    assert got == {("a", 1), ("b", 2)}


def test_snapshot_partitioned_write(spark, tmp_path):
    d = dt.date
    df = _df(spark, [("a", d(2024, 1, 1), 1)])
    path = str(tmp_path / "snaps")
    landed = {}
    for day, frame in (("2024-01-01", df), ("2024-02-01", df.withColumn("v", F.lit(2)))):
        landed[day] = str(tmp_path / f"table_{day}")
        frame.write.parquet(landed[day])
        inc.write_snapshot(landed[day], path, day)
    back = spark.read.parquet(path)
    assert back.count() == 2
    assert {str(r["snapshot_date"]) for r in back.collect()} == {
        "2024-01-01",
        "2024-02-01",
    }
    # partition pruning reads one snapshot
    one = back.filter(F.col("snapshot_date") == "2024-02-01")
    assert one.count() == 1 and one.collect()[0]["v"] == 2
    # a snapshot partition is the landed table's files, byte for byte
    for day, table_dir in landed.items():
        part = os.path.join(path, f"snapshot_date={day}")
        names = sorted(f for f in os.listdir(table_dir) if f.endswith(".parquet"))
        assert names and names == sorted(f for f in os.listdir(part) if f.endswith(".parquet"))
        for f in names:
            with open(os.path.join(table_dir, f), "rb") as a, open(os.path.join(part, f), "rb") as b:
                assert a.read() == b.read()


def test_bounded_merge_window_permutations_property(spark):
    """Property (documents the bounded merge's contract): when every window
    carries the SOURCE's rows for its span — re-fetches of the same
    provider state, the documented same-id-rows-identical assumption — any
    processing order of any window set converges to the source restricted
    to the union of spans."""
    from itertools import permutations

    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    base = dt.date(2024, 1, 1)
    # fixed source of truth: one row per id on deterministic days 0..9
    source = [(f"id{i}", base + dt.timedelta(days=(i * 3) % 10), i * 10) for i in range(8)]

    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        windows=st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 9)).map(
                lambda t: (min(t), max(t))
            ),
            min_size=1,
            max_size=3,
        )
    )
    def run(windows):
        spans = [
            (base + dt.timedelta(days=lo), base + dt.timedelta(days=hi))
            for lo, hi in windows
        ]
        expected = {
            (i, d, v)
            for (i, d, v) in source
            if any(lo <= d <= hi for lo, hi in spans)
        }
        for order in permutations(range(len(spans))):
            table = spark.createDataFrame([], "id string, d date, v int")
            for k in order:
                lo, hi = spans[k]
                fresh = _df(spark, [r for r in source if lo <= r[1] <= hi])
                table = inc.replace_bounded_window_merge(
                    table, fresh, "d", lo, hi, "id", ["d", "v"]
                )
            got = {(r["id"], r["d"], r["v"]) for r in table.collect()}
            assert got == expected, (order, windows)

    run()


def test_apply_changeset_semantics(spark):
    """Upserts replace, inserts append, deletes tombstone — and an id
    absent from the changeset is untouched."""
    from basin_climbing_data_pipeline_spark.operators.incremental import (
        apply_changeset,
    )

    existing = spark.createDataFrame(
        [(1, "a", 1), (2, "b", 1), (3, "c", 1)], "id long, val string, ver int"
    )
    changes = spark.createDataFrame(
        [(2, "B", 2, "upsert"), (3, None, 2, "delete"), (4, "d", 2, "upsert")],
        "id long, val string, ver int, op string",
    )
    out = {
        r["id"]: (r["val"], r["ver"])
        for r in apply_changeset(existing, changes, "id", "op", ["ver"]).collect()
    }
    assert out == {1: ("a", 1), 2: ("B", 2), 4: ("d", 2)}


def test_retention_triangle_monotone(spark, sf_dir):
    """Offset-0 retention is 100% by construction and no later offset can
    exceed the cohort size."""
    from basin_climbing_data_pipeline_spark.operators.cohorts import retention_triangle

    rows = retention_triangle(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_active"] <= r["cohort_size"]
        if r["week_offset"] == 0:
            assert r["pct_retained"] == 100.0
        assert r["week_offset"] >= 0


def test_diff_tables_statuses(spark):
    """added/removed/changed/unchanged must each be detected on a planted
    4-row scenario."""
    from basin_climbing_data_pipeline_spark.operators.incremental import diff_tables

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C"), (4, "d")], "id long, val string"
    )
    out = {r["status"]: r["n_rows"] for r in diff_tables(old, new, "id", ["val"]).collect()}
    assert out == {"added": 1, "removed": 1, "changed": 1, "unchanged": 1}


def test_table_diff_audit_reconciles(spark, sf_dir):
    """The diff's row accounting must reconcile with the two builds' sizes:
    |old| = removed + changed + unchanged, |new| = added + changed +
    unchanged."""
    from pyspark.sql import functions as F

    from basin_climbing_data_pipeline_spark.operators.incremental import (
        MERGE_STALE_END,
        changeset_merge,
        table_diff_audit,
    )
    from basin_climbing_data_pipeline_spark.operators.transactions import (
        build_transactions,
    )

    out = {r["status"]: r["n_rows"] for r in table_diff_audit(spark, sf_dir).collect()}
    # the audit diffs the DEDUPED stored build (unique transaction_id)
    n_old = (
        build_transactions(spark, sf_dir)
        .filter(F.col("txn_date") <= F.lit(MERGE_STALE_END).cast("date"))
        .select("transaction_id")
        .distinct()
        .count()
    )
    n_new = changeset_merge(spark, sf_dir).count()
    get = lambda k: out.get(k, 0)
    assert n_old == get("removed") + get("changed") + get("unchanged")
    assert n_new == get("added") + get("changed") + get("unchanged")
    assert get("changed") > 0  # the version bump must register as change


def test_table_diff_audit_equals_join_shape(spark, sf_dir):
    """Round-13 rewrite guard: the single-exchange two-sided diff must
    produce exactly the counts of the original construction (stored
    keep-first dedup + changeset_merge + diff_tables full-outer join)."""
    from pyspark.sql import Window

    from basin_climbing_data_pipeline_spark.operators.incremental import (
        _MERGE_ORDER_COLS,
        MERGE_STALE_END,
        changeset_merge,
        diff_tables,
        table_diff_audit,
    )
    from basin_climbing_data_pipeline_spark.operators.transactions import (
        build_transactions,
    )

    txn = build_transactions(spark, sf_dir)
    stored_raw = txn.filter(
        F.col("txn_date") <= F.lit(MERGE_STALE_END).cast("date")
    ).withColumn("row_version", F.lit(1))
    w = Window.partitionBy("transaction_id").orderBy(
        *[F.col(c) for c in _MERGE_ORDER_COLS]
    )
    stored = (
        stored_raw.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    merged = changeset_merge(spark, sf_dir)
    compare = ["txn_date", "revenue_category", "total_amount", "row_version"]
    ref = {
        r["status"]: r["n_rows"]
        for r in diff_tables(
            stored.select("transaction_id", *compare),
            merged.select("transaction_id", *compare),
            "transaction_id",
            compare,
        ).collect()
    }
    out = {r["status"]: r["n_rows"] for r in table_diff_audit(spark, sf_dir).collect()}
    assert out == ref
