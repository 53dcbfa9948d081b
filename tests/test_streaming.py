"""Streaming-layer tests: windowed counts vs batch, foreachBatch incremental
merge (the reference's ST1 replace-window splice driven by a stream)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from basin_climbing_data_pipeline_spark.operators import incremental as inc
from basin_climbing_data_pipeline_spark.streaming import events_stream as st


def test_streaming_matches_batch(spark, sf_dir):
    streamed = {tuple(r) for r in st.windowed_event_counts(spark, sf_dir).collect()}
    from basin_climbing_data_pipeline_spark.functions.money import sum_money
    from basin_climbing_data_pipeline_spark.io import load_table

    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(
            (F.floor(F.unix_micros("ts") / st.WINDOW_US) * st.WINDOW_US).alias(
                "window_start_us"
            ),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), sum_money(F.col("value")).alias("total_value"))
    )
    assert streamed == {tuple(r) for r in batch.collect()}


def test_foreachbatch_incremental_merge(spark, sf_dir, tmp_path):
    """Drive the ST1 replace-window merge from a stream: each micro-batch is
    spliced into the stored table via replace_bounded_window_merge (a
    window open to the end of time) inside foreachBatch."""
    target = str(tmp_path / "merged")
    d = dt.date

    existing = spark.createDataFrame(
        [("a", d(2024, 1, 1), 1), ("b", d(2024, 1, 5), 2)], "id string, d date, v int"
    )
    existing.write.mode("overwrite").parquet(target)

    stream = st.stream_events(spark, sf_dir).select(
        F.concat(F.lit("ev_"), F.col("event_id")).alias("id"),
        F.to_date("ts").alias("d"),
        F.lit(7).alias("v"),
    )

    def merge_batch(batch_df, _batch_id):
        stored = batch_df.sparkSession.read.parquet(target)
        merged = inc.replace_bounded_window_merge(
            stored, batch_df, "d", d(2024, 1, 3), "9999-12-31", "id", ["d", "v"]
        )
        merged.write.mode("overwrite").parquet(target + "_next")
        batch_df.sparkSession.read.parquet(target + "_next").write.mode(
            "overwrite"
        ).parquet(target)

    st._drain(stream.writeStream.foreachBatch(merge_batch), spark)

    final = spark.read.parquet(target)
    ids = {r["id"] for r in final.collect()}
    assert "a" in ids  # pre-window row kept
    assert "b" not in ids  # in-window row replaced by the refetched stream
    assert any(i.startswith("ev_") for i in ids)  # stream rows merged
    assert final.groupBy("id").count().filter(F.col("count") > 1).count() == 0


def test_stateful_sessionizer_matches_batch(spark, sf_dir):
    """Closed sessions emitted by applyInPandasWithState must equal the batch
    sessionizer's output minus each customer's final (still-open) session."""
    from basin_climbing_data_pipeline_spark.operators.events import checkin_sessions
    from basin_climbing_data_pipeline_spark.streaming.stateful import streaming_sessions

    streamed = {
        (r["customer_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in streaming_sessions(spark, sf_dir).collect()
    }
    batch = checkin_sessions(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("customer_id").orderBy(F.desc("session_start_us"))
    ranked = batch.withColumn("rn", F.row_number().over(w))

    def rows(df):
        return {
            (r["customer_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
            for r in df.collect()
        }

    closed = rows(ranked.filter(F.col("rn") > 1))
    all_sessions = rows(ranked)
    # every closed session must be emitted identically; whether the final
    # open session flushes depends on the end-of-stream timeout pass
    assert closed <= streamed <= all_sessions
    assert len(all_sessions - streamed) <= batch.select("customer_id").distinct().count()


def test_native_session_windows_invariants(spark, sf_dir):
    """session_window output must partition the checkin stream: per-customer
    sessions are disjoint, separated by >= the gap, and account for every
    checkin exactly once."""
    from basin_climbing_data_pipeline_spark.operators.events import (
        SESSION_GAP_SECONDS,
        build_checkins,
        native_session_windows,
    )

    rows = native_session_windows(spark, sf_dir).collect()
    total = sum(r["n_events"] for r in rows)
    assert total == build_checkins(spark, sf_dir).count()
    by_cust: dict[int, list] = {}
    for r in rows:
        assert r["session_start_us"] <= r["session_end_us"]
        by_cust.setdefault(r["customer_id"], []).append(r)
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    for sessions in by_cust.values():
        sessions.sort(key=lambda r: r["session_start_us"])
        for a, b in zip(sessions, sessions[1:]):
            assert b["session_start_us"] - a["session_end_us"] >= gap_us


def test_native_session_windows_matches_lag_pipeline(spark, sf_dir):
    """The built-in session_window and the lag → cumsum formulation must
    produce identical sessions (up to the documented boundary equality,
    absent from this corpus: microsecond timestamps never tie at exactly
    the 30-minute gap)."""
    from basin_climbing_data_pipeline_spark.operators.events import (
        checkin_sessions,
        native_session_windows,
    )

    native = {
        (r["customer_id"], r["session_start_us"], r["session_end_us"], r["n_events"],
         r["session_spend"])
        for r in native_session_windows(spark, sf_dir).collect()
    }
    lagged = {
        (r["customer_id"], r["session_start_us"], r["session_end_us"], r["n_events"],
         r["session_spend"])
        for r in checkin_sessions(spark, sf_dir).collect()
    }
    assert native == lagged


def test_purchase_attribution_totals(spark, sf_dir):
    """Every purchase lands in exactly one (first, last) cell; 'none'
    pairs only with 'none' (no prior touch means no touch at all)."""
    from pyspark.sql import functions as F

    from basin_climbing_data_pipeline_spark.io import load_table
    from basin_climbing_data_pipeline_spark.operators.events import (
        purchase_attribution,
    )

    rows = purchase_attribution(spark, sf_dir).collect()
    total = sum(r["n_purchases"] for r in rows)
    n_purchases = (
        load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase").count()
    )
    assert total == n_purchases
    for r in rows:
        assert (r["first_touch"] == "none") == (r["last_touch"] == "none")
        assert r["first_touch"] != "purchase" and r["last_touch"] != "purchase"


def test_visit_streaks_matches_python(spark, sf_dir):
    """Recompute the longest consecutive-day run per customer in plain
    Python from the distinct visit dates; the islands window must agree."""
    from basin_climbing_data_pipeline_spark.operators.events import (
        build_checkins,
        visit_streaks,
    )

    days_by_cust: dict[int, set] = {}
    for r in build_checkins(spark, sf_dir).select("customer_id", "checkin_date").collect():
        days_by_cust.setdefault(r["customer_id"], set()).add(r["checkin_date"])
    got = {r["customer_id"]: r for r in visit_streaks(spark, sf_dir).collect()}
    assert got.keys() == days_by_cust.keys()
    import datetime as dt

    for cust, days in list(days_by_cust.items())[:50]:
        ordered = sorted(days)
        best_len, best_start = 1, ordered[0]
        cur_len, cur_start = 1, ordered[0]
        for a, b in zip(ordered, ordered[1:]):
            if (b - a).days == 1:
                cur_len += 1
            else:
                cur_len, cur_start = 1, b
            if cur_len > best_len:
                best_len, best_start = cur_len, cur_start
        g = got[cust]
        assert g["longest_streak_days"] == best_len, cust
        assert g["streak_start"] == best_start, cust
        assert g["streak_end"] == best_start + dt.timedelta(days=best_len - 1)


def test_dedup_within_watermark_state_survives_across_batches(spark, tmp_path):
    """The 100 TB story of dropDuplicatesWithinWatermark is BOUNDED state —
    but bounded must not mean per-batch: a duplicate key arriving in a
    LATER micro-batch, still inside the watermark delay, must be dropped
    by state carried across batches.  Two files + maxFilesPerTrigger=1
    force two micro-batches; the duplicate (user 1, 'view') spans them."""
    import time
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    src_schema = pq.read_schema("/root/testdata/sf0.001/events.parquet")
    d = tmp_path / "stream_src"
    d.mkdir()

    def write(fname, rows):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], src_schema.field("ts").type),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        })
        pq.write_table(tbl, str(d / fname))

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)
    write("b1.parquet", [
        (1, t0, 1, "view", 1.0),
        (2, t0 + dt.timedelta(hours=1), 2, "view", 1.0),
    ])
    time.sleep(1.1)  # file source orders batches by modification time
    write("b2.parquet", [
        (3, t0 + dt.timedelta(hours=2), 1, "view", 1.0),   # cross-batch dup
        (4, t0 + dt.timedelta(hours=2), 3, "view", 1.0),   # genuinely new
    ])

    schema = spark.read.parquet(str(d)).schema
    from basin_climbing_data_pipeline_spark.io import normalize_event_ts

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    deduped = (
        normalize_event_ts(stream)
        .withWatermark("ts", "10 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    sink = f"dedup_xbatch_{uuid.uuid4().hex[:8]}"
    q = st._drain(
        deduped.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", str(tmp_path / "chk")),
        spark,
    )
    # two micro-batches must actually have run for the test to mean
    # anything — otherwise the dedup would be trivially within-batch
    n_batches = len(q.recentProgress)
    rows = {r["event_type"]: r["n"] for r in spark.table(sink).collect()}
    spark.catalog.dropTempView(sink)
    assert n_batches >= 2, f"expected >=2 micro-batches, got {n_batches}"
    # users 1,2,3 each counted once — user 1's second-batch copy was
    # dropped by state carried across the batch boundary
    assert rows == {"view": 3}


def test_streaming_weighted_sample_fold_equals_batch(spark, sf_dir, tmp_path):
    """Split the event stream into 3 files consumed one per micro-batch:
    the incrementally-folded top-K must equal the batch A-ES top-K
    (associative fold — batch boundaries cannot matter)."""
    import hashlib
    import math

    import pandas as pd

    from basin_climbing_data_pipeline_spark.io import normalize_event_ts
    from basin_climbing_data_pipeline_spark.streaming.events_stream import (
        STREAM_RESERVOIR_K,
        weighted_sample_fold,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    names = ["events.parquet", "events_b.parquet", "events_c.parquet"]
    for i, name in enumerate(names):
        ev.iloc[i::3].to_parquet(tmp_path / name)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = normalize_event_ts(
        spark.readStream.schema(spark.read.parquet(str(tmp_path)).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path))
    )
    got = weighted_sample_fold(stream).collect()

    scored = []
    for r in ev.itertuples():
        if not r.value > 0:
            continue
        h = int(hashlib.md5(str(r.event_id).encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        key = math.floor(math.log(u) / r.value * 1e9 + 0.5)
        scored.append((key, int(r.event_id), r.value))
    scored.sort(key=lambda t: (-t[0], t[1]))
    want = scored[: min(STREAM_RESERVOIR_K, len(scored))]

    assert [(r["event_id"], r["weight"], round(r["sel_key"] * 1e9)) for r in got] == [
        (e, w, k) for k, e, w in want
    ]
    assert [r["rank"] for r in got] == list(range(1, len(want) + 1))


def test_streaming_weighted_sample_empty_mass(spark, sf_dir, tmp_path):
    """A stream whose every event has non-positive value carries no
    sampling mass: the fold must return an EMPTY frame with the contract
    schema, not crash on the empty-state path."""
    import pandas as pd

    from basin_climbing_data_pipeline_spark.streaming.events_stream import (
        streaming_weighted_sample,
    )

    ev = pd.read_parquet(f"{sf_dir}/events.parquet").head(50).copy()
    ev["value"] = 0.0
    ev.to_parquet(tmp_path / "events.parquet")
    out = streaming_weighted_sample(spark, str(tmp_path))
    assert out.columns == ["rank", "event_id", "weight", "sel_key"]
    assert out.count() == 0


def test_await_finished_fails_loud_on_timeout():
    """A still-running availableNow query must raise, not silently hand a
    partial sink table to a value-hashed oracle entry — and the hung query
    must be stopped so it doesn't leak into later queries on the session."""
    import pytest

    class FakeQuery:
        name = "fake_sink"
        id = "deadbeef"

        def __init__(self):
            self.stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    q = FakeQuery()
    with pytest.raises(RuntimeError, match="still running"):
        st._await_finished(q, timeout=1)
    assert q.stopped


def test_await_finished_passes_through_on_drain():
    class FakeQuery:
        name = "fake_sink"
        id = "deadbeef"

        def awaitTermination(self, timeout):
            return True

        def stop(self):  # pragma: no cover - must not be called
            raise AssertionError("stop() on a drained query")

    st._await_finished(FakeQuery(), timeout=1)


def test_stream_runner_leaves_nothing_behind(spark, sf_dir):
    """After a drain the runner leaves no memory-sink view, no active
    query and the session's shuffle partitions as they were — also when
    a micro-batch raises, which must reach the caller."""
    import pytest
    from pyspark.errors import StreamingQueryException

    def sink_views():
        return [
            t.name for t in spark.catalog.listTables()
            if t.isTemporary and t.name.startswith("stream_")
        ]

    def boom(v):
        raise ValueError("batch failed")

    prior = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        counts = st.to_memory(
            st.stream_events(spark, sf_dir).groupBy("event_type").count(), "complete"
        )
        assert counts.count() > 0
        assert sink_views() == []
        assert spark.streams.active == []
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"

        failing = st.stream_events(spark, sf_dir).select(
            F.udf(boom, "long")("event_id").alias("x")
        )
        with pytest.raises(StreamingQueryException, match="batch failed"):
            st.to_memory(failing, "append")
        assert sink_views() == []
        assert spark.streams.active == []
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)


def test_streaming_value_drift_psi_matches_batch(spark, sf_dir):
    """Differential: the watermarked streaming histogram feeds the same
    PSI post-process as the batch scan, so over a static prefix the two
    forms must agree row-for-row (tumbling windows are epoch-aligned in
    both)."""
    from basin_climbing_data_pipeline_spark.operators.sketches import (
        value_drift_psi,
    )

    batch = sorted(map(tuple, value_drift_psi(spark, sf_dir).collect()))
    streamed = sorted(
        map(tuple, st.streaming_value_drift_psi(spark, sf_dir).collect())
    )
    assert batch == streamed
    assert batch, "corpus must produce at least one window pair"


def test_streaming_value_drift_psi_watermark_on_growing_prefix(spark, tmp_path):
    """Streaming semantics beyond the batch differential: feed the events
    in two file drops (second drop = a later window) and run the stream
    over the growing directory with availableNow — the drift row for the
    new window-pair must appear and match the batch form over the full
    data."""
    import shutil as _sh

    import pyarrow as pa
    import pyarrow.parquet as pq

    from basin_climbing_data_pipeline_spark.operators.sketches import (
        value_drift_psi,
    )

    src = "/root/testdata/sf0.001"
    d = tmp_path / "grow"
    d.mkdir()
    for t in ("region nation customer supplier part orders lineitem documents "
              "embeddings").split():
        _sh.copy(f"{src}/{t}.parquet", d / f"{t}.parquet")
    ev = pq.read_table(f"{src}/events.parquet")
    # first drop: all but the last 6h window of events; the "events.parquet"
    # glob the stream reads matches both file names below
    import datetime as dt

    ts = ev.column("ts").to_pylist()
    cut = max(ts) - (max(ts) - min(ts)) // 8
    first = ev.filter(pa.compute.less(ev.column("ts"), pa.scalar(cut, type=ev.schema.field("ts").type)))
    pq.write_table(first, d / "events.parquet")
    got_first = st.streaming_value_drift_psi(spark, str(d))
    n_first = got_first.count()
    # second drop: the full table replaces the prefix file
    pq.write_table(ev, d / "events.parquet")
    got_full = sorted(map(tuple, st.streaming_value_drift_psi(spark, str(d)).collect()))
    want_full = sorted(map(tuple, value_drift_psi(spark, str(d)).collect()))
    assert got_full == want_full
    assert len(got_full) >= n_first


def test_stateful_timeout_sessionizer_late_data_straddling_watermark(spark, tmp_path):
    """The event-time-timeout sessionizer under controlled micro-batches
    (maxFilesPerTrigger=1, file mtimes force arrival order) — the three
    late-arrival regimes in one scenario:

    * batch 2 carries an event LATE relative to batch 1 but inside the
      1-hour watermark delay → absorbed into the still-open session
      (bounds extend, count grows);
    * batch 3 carries an event BEHIND the watermark → dropped by the
      stateful eviction filter; instead the group's pending timeout fires
      (the session it would have joined was already gap-closed);
    * idle sessions whose end + gap falls behind the watermark flush with
      is_final=True; a session still inside the horizon stays open and is
      NOT emitted.
    """
    import os
    import shutil as _sh

    import pyarrow as pa
    import pyarrow.parquet as pq

    from basin_climbing_data_pipeline_spark.streaming.stateful import (
        sessionize_stream_with_timeout,
    )

    d = tmp_path / "sess_src"
    d.mkdir()
    T0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def us(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

    def write(name, rows, mtime):
        tbl = pa.table(
            {
                "customer_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([us(r[1]) for r in rows], pa.timestamp("us", tz="UTC")),
            }
        )
        p = str(d / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    m = dt.timedelta  # noqa: E741 — local alias for brevity
    # batch 1: c1 open session 10:00-10:10; c2 single event.  Post-batch
    # watermark = 10:10 - 1h = 09:10.
    write("a.parquet", [(1, T0), (1, T0 + m(minutes=10)), (2, T0)], 1_000)
    # batch 2: c1 late-but-inside-watermark 10:20 (absorbed), then 13:00
    # (gap-closes the first session); c99 at 15:00 pushes the post-batch
    # watermark to 14:00
    write(
        "b.parquet",
        [(1, T0 + m(minutes=20)), (1, T0 + m(hours=3)), (99, T0 + m(hours=5))],
        2_000,
    )
    # batch 3: c1 at 10:30 is BEHIND the 14:00 watermark (dropped); c99 at
    # 15:05 extends its open session (stays inside the horizon)
    write(
        "c.parquet",
        [(1, T0 + m(minutes=30)), (99, T0 + m(hours=5, minutes=5))],
        3_000,
    )

    stream = (
        spark.readStream.schema("customer_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    out = sessionize_stream_with_timeout(stream)
    got = {
        tuple(r)
        for r in st.to_memory(out, "append")
        .select("customer_id", "session_start_us", "session_end_us", "n_events", "is_final")
        .collect()
    }
    _sh.rmtree(str(d))

    want = {
        # gap-closed in batch 2: the 10:20 straggler was absorbed first
        (1, us(T0), us(T0 + m(minutes=20)), 3, False),
        # c1's 13:00 session: timeout fired once the watermark (14:00)
        # passed 13:00 + 30min; the behind-watermark 10:30 event could
        # neither join nor block it
        (1, us(T0 + m(hours=3)), us(T0 + m(hours=3)), 1, True),
        # c2 idle since batch 1: flushed by the same watermark advance
        (2, us(T0), us(T0), 1, True),
        # c99 (15:00-15:05) stays inside the horizon: NOT emitted
    }
    assert got == want


def test_flush_timeout_boundary_is_strict_less_than(spark, tmp_path):
    """Pin the < vs <= adjudication the flush oracle bakes in: a session
    whose timeout timestamp (end + gap, ms) EXACTLY equals the end-of-
    stream watermark must stay open (Spark times out a group only when
    the watermark is strictly greater); one ms later it flushes.  If a
    Spark upgrade flips this comparison, the streaming_sessions_flush
    oracle needs the same flip."""
    import shutil as _sh

    import pyarrow as pa
    import pyarrow.parquet as pq

    from basin_climbing_data_pipeline_spark import registry

    src = "/root/testdata/sf0.001"
    fn, _sql = registry.REGISTRY["streaming_sessions_flush"]
    T0 = dt.datetime(2024, 3, 1, 10, 0, 0)

    def run(clock_offset_ms):
        d = tmp_path / f"b{clock_offset_ms}"
        d.mkdir()
        for t in ("region nation customer supplier part orders lineitem "
                  "documents embeddings").split():
            _sh.copy(f"{src}/{t}.parquet", d / f"{t}.parquet")
        ref = pq.read_schema(f"{src}/events.parquet")

        def us(t):
            return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)

        # user 1 at T0; clock user 2 at T0 + 1.5h (+offset): watermark =
        # clock - 1h, user-1 timeout = T0 + 30min -> equality at offset 0
        rows = [(1, us(T0)), (2, us(T0 + dt.timedelta(hours=1, minutes=30,
                                                      milliseconds=clock_offset_ms)))]
        unit = {"us": 1, "ns": 1000}[ref.field("ts").type.unit]
        tbl = pa.table({
            "event_id": pa.array([10, 11], pa.int64()),
            "ts": pa.array([r[1] * unit for r in rows], ref.field("ts").type),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array(["view", "view"], pa.string()),
            "value": pa.array([1.0, 1.0], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        })
        pq.write_table(tbl, d / "events.parquet")
        return {tuple(r) for r in fn(spark, str(d)).collect()}

    assert run(0) == set()          # equality: nothing times out
    flushed = run(1)                # 1 ms past: user 1's session flushes
    assert {(r[0], r[3], r[4]) for r in flushed} == {(1, 1, True)}
