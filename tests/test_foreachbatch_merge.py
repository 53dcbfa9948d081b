"""Differential test: the foreachBatch-driven window merge over overlapping
re-fetch window files equals the batch splice of the same data, and the
stateful sessionizer never moves session bounds backwards on late events."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from basin_climbing_data_pipeline_spark.io import load_table
from basin_climbing_data_pipeline_spark.streaming.foreach_merge import merge_stream


def test_foreachbatch_merge_equals_batch(spark, sf_dir, tmp_path):
    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.to_date("ts").alias("event_date"),
        "user_id",
        "event_type",
        "value",
    )
    # three OVERLAPPING re-fetch windows written as separate files — the
    # overlap rows appear in two files, so the merge must dedup by id
    src = str(tmp_path / "src")
    windows = [("2024-01-01", "2024-01-14"), ("2024-01-10", "2024-01-24"), ("2024-01-20", "2024-02-01")]
    for i, (lo, hi) in enumerate(windows):
        (
            events.filter(
                (F.col("event_date") >= F.lit(lo)) & (F.col("event_date") < F.lit(hi))
            )
            .coalesce(1)
            .withColumn("ts", F.expr("ts_us * 1000"))
            .drop("ts_us", "event_date")
            .select("event_id", "ts", "user_id", "event_type", "value")
            .write.mode("overwrite")
            .parquet(src + f"/w{i}")
        )
    # flatten the per-window dirs into one source dir of files
    import glob
    import shutil

    flat = str(tmp_path / "flat")
    import os

    os.makedirs(flat)
    for i in range(len(windows)):
        for j, f in enumerate(sorted(glob.glob(src + f"/w{i}/*.parquet"))):
            shutil.copy(f, os.path.join(flat, f"w{i}_{j}.parquet"))

    merged = merge_stream(spark, flat, str(tmp_path / "tgt"), "merge_sink_t")

    expected = events.filter(F.col("event_date") < F.lit("2024-02-01")).dropDuplicates(
        ["event_id"]
    )
    assert merged.count() == expected.count()
    m = {r["event_id"]: (r["ts_us"], r["event_type"]) for r in merged.collect()}
    e = {r["event_id"]: (r["ts_us"], r["event_type"]) for r in expected.collect()}
    assert m == e


class _FakeState:
    """Minimal GroupState stand-in for driving _sessionize directly."""

    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def test_sessionize_late_event_does_not_move_bounds_backwards():
    from basin_climbing_data_pipeline_spark.streaming.stateful import (
        SESSION_GAP_US,
        _sessionize,
    )

    state = _FakeState()
    t0 = 1_700_000_000_000_000
    # batch 1: events at t0 and t0+60s -> open session [t0, t0+60s]
    list(_sessionize((1,), iter([pd.DataFrame({"ts_us": [t0, t0 + 60_000_000]})]), state))
    assert state.get == (t0, t0 + 60_000_000, 2)
    # batch 2: a LATE event 30s after t0 (within the gap, before stored end)
    list(_sessionize((1,), iter([pd.DataFrame({"ts_us": [t0 + 30_000_000]})]), state))
    start, end, n = state.get
    assert start == t0
    assert end == t0 + 60_000_000  # must NOT move backwards
    assert n == 3
    # batch 3: event beyond the gap closes the session with correct bounds
    out = list(
        _sessionize(
            (1,), iter([pd.DataFrame({"ts_us": [end + SESSION_GAP_US + 1]})]), state
        )
    )
    closed = out[0].iloc[0]
    assert closed["session_start_us"] == t0
    assert closed["session_end_us"] == t0 + 60_000_000
    assert closed["n_events"] == 3


def test_merge_stream_starts_on_empty_source_dir(spark, tmp_path):
    """A stream may be started before its producer lands any files: the
    footer peek has nothing to read, so merge_stream falls back to the
    documented EVENTS_NANOS_SCHEMA and completes with an empty table."""
    import os

    src = str(tmp_path / "empty_src")
    os.makedirs(src)
    merged = merge_stream(spark, src, str(tmp_path / "tgt"), "merge_sink_empty")
    assert merged.count() == 0


T0_NANOS = 1_704_067_200_000_000_000  # 2024-01-01 00:00 UTC in nanos


def _land(spark, tmp_path, src, name, rows, mtime=None):
    """Land one window file ``src/<name>.parquet`` of (event_id, day)
    rows; ``mtime`` fixes its place in the file source's arrival order."""
    import os

    spark.createDataFrame(
        [(i, T0_NANOS + day * 86_400_000_000_000, 7, "visit", 1.0) for i, day in rows],
        "event_id long, ts long, user_id long, event_type string, value double",
    ).coalesce(1).write.parquet(str(tmp_path / name))
    (part,) = [f for f in os.listdir(tmp_path / name) if f.endswith(".parquet")]
    dst = os.path.join(src, f"{name}.parquet")
    os.rename(os.path.join(tmp_path, name, part), dst)
    if mtime is not None:
        os.utime(dst, (mtime, mtime))


def test_merge_stream_resumes_from_the_stored_version(spark, tmp_path):
    """The merged table survives a restart on the same target: a second
    call with no new files returns the stored table, and a window landed
    afterwards is merged into it rather than into an empty table."""
    import os

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    os.makedirs(src)

    def ids(sink):
        return sorted(r["event_id"] for r in merge_stream(spark, src, tgt, sink).collect())

    _land(spark, tmp_path, src, "w0", [(1, 0), (2, 1)])
    assert ids("resume_a") == [1, 2]
    assert ids("resume_b") == [1, 2]  # no new files: the stored table stands
    _land(spark, tmp_path, src, "w1", [(3, 4)])
    assert ids("resume_c") == [1, 2, 3]


def test_merge_stream_keeps_at_most_two_versions(spark, tmp_path):
    """Every micro-batch writes a full version ``v<k>`` of the merged
    table; superseded versions are deleted, so a replay of four windows
    (four batches) leaves at most two on disk, and the merged rows are
    those of the full replay."""
    import os
    import re

    src, tgt = str(tmp_path / "src"), str(tmp_path / "tgt")
    os.makedirs(src)
    # overlapping 2-day windows; id 2 moves from day 1 to day 2 in w1
    windows = [[(1, 0), (2, 1)], [(2, 2), (3, 3)], [(3, 3), (4, 4)], [(5, 5), (6, 6)]]
    for k, rows in enumerate(windows):
        _land(spark, tmp_path, src, f"w{k}", rows, mtime=1_000 * (k + 1))

    merged = merge_stream(spark, src, tgt, "prune_sink")
    got = sorted((r["event_id"], str(r["event_date"])) for r in merged.collect())
    assert got == [
        (1, "2024-01-01"), (2, "2024-01-03"), (3, "2024-01-04"),
        (4, "2024-01-05"), (5, "2024-01-06"), (6, "2024-01-07"),
    ]
    versions = [d for d in os.listdir(tgt) if re.fullmatch(r"v\d+", d)]
    assert 1 <= len(versions) <= 2, sorted(versions)
