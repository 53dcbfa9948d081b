"""Structured Streaming over the events table.

The reference implements streaming semantics by hand in batch (SURVEY.md
§2.9): overlapping re-fetch windows as a watermark analog (ST2), incremental
merge-dedup (ST1/ST4), NDJSON webhook events consolidated over a rolling
window (ST3).  Here the same semantics run on real Structured Streaming:

- file source over the events parquet (nanos ts handled like io.load_table)
- event-time tumbling windows + watermark for late data
- ``availableNow`` trigger → memory sink, so the streaming pipeline can be
  invoked as a batch-shaped query (and checked against a SQL oracle: Spark's
  ``window()`` is epoch-aligned, so window_start = floor(ts / 6h) · 6h)
- exactly-once-ish dedup on append (ST4) via ``dropDuplicates`` before the
  windowed aggregation

Every query in the package (these, ``stateful.py`` and
``foreach_merge.merge_stream``) runs through one runner: :func:`_drain`
pins the shuffle partitions, starts the query with ``availableNow`` and
drains it fail-loud; :func:`to_memory` builds on it for the memory sink and
hands back the result detached from the sink.

At scale the same code runs continuously against a growing partitioned
prefix with checkpointing; ``foreachBatch`` + MERGE is the upsert path for
the reference's replace-window merges (ST1).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import guarded_long, guarded_long_sql

WINDOW_HOURS = 6
WINDOW_US = WINDOW_HOURS * 3600 * 1_000_000

# the documented events-table layout with ts as raw nanos-as-long.  Streams
# normally peek the real schema from parquet footers; this constant is the
# empty-source-dir fallback (foreach_merge.merge_stream) so a stream can be
# started before its producer has landed any files.
EVENTS_NANOS_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)

# stateful operators keep one state-store instance per shuffle partition; at
# this aggregate's cardinality (windows x event types) the per-store overhead
# dominates with 32 partitions (measured 9.7s -> 2.0s at sf0.1 going 32 -> 8,
# and a further ~12% across the family — ~25% on the stream-stream join,
# whose state store runs per-partition on BOTH sides — going 8 -> 4).
# On a cluster you'd size this to the state volume, not the CPU count.
STREAM_SHUFFLE_PARTITIONS = 4


def _await_finished(q, timeout: int = 300) -> None:
    """Drain an availableNow query; FAIL LOUD on timeout.

    ``awaitTermination(timeout=...)`` returns False while the query is
    still running — ignoring that and reading the sink would return a
    partial, wrong-but-plausible result (worst failure mode for a
    value-hashed oracle entry).  Only :func:`_drain` calls it, and every
    query in this package starts through :func:`_drain`."""
    if not q.awaitTermination(timeout=timeout):
        q.stop()
        raise RuntimeError(
            f"streaming query {q.name or q.id} still running after {timeout}s"
        )


def _drain(writer, spark: SparkSession, partitions: int = STREAM_SHUFFLE_PARTITIONS):
    """The one stream runner: start a configured ``DataStreamWriter`` with
    ``availableNow`` and drain it through :func:`_await_finished`, with
    ``spark.sql.shuffle.partitions`` pinned to ``partitions`` (the value is
    baked into the query's state layout at start) and restored however
    the query ends.  Returns the finished query."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        q = writer.trigger(availableNow=True).start()
        _await_finished(q)
        return q
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def to_memory(
    df: DataFrame, output_mode: str, partitions: int = STREAM_SHUFFLE_PARTITIONS
) -> DataFrame:
    """Drain a streaming frame into a memory sink under a unique name and
    return the result detached from the sink: checkpointed (its blocks
    are freed with the frame) and the sink's view dropped, so per-call
    sink tables do not pile up in driver memory over a registry session."""
    spark = df.sparkSession
    sink = f"stream_{uuid.uuid4().hex[:12]}"
    writer = df.writeStream.outputMode(output_mode).format("memory").queryName(sink)
    try:
        _drain(writer, spark, partitions)
        return spark.table(sink).localCheckpoint()
    finally:
        spark.catalog.dropTempView(sink)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, ts normalized to TIMESTAMP.

    File streams need the schema up front; peek at the batch footer (a
    metadata-only read) so the stream adapts to whichever ts encoding the
    current testdata generation uses (see io.normalize_event_ts)."""
    from ..io import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw)


def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6-hour event counts per type with a 1-hour watermark,
    executed with availableNow into a memory sink and returned as a batch
    DataFrame (oracle-comparable: epoch-aligned windows)."""
    from ..functions.money import sum_money

    stream = stream_events(spark, sf_dir).withWatermark("ts", "1 hour").dropDuplicates(
        ["event_id"]
    )
    agg = (
        stream.groupBy(
            F.window("ts", f"{WINDOW_HOURS} hours").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            sum_money(F.col("value")).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return to_memory(agg, "complete").orderBy("window_start_us", "event_type")


def sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (12h length, 6h slide) per event type — each event
    lands in exactly two windows.  Same availableNow → memory-sink execution
    shape as the tumbling variant."""
    from ..functions.money import sum_money

    stream = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(
            F.window("ts", f"{2 * WINDOW_HOURS} hours", f"{WINDOW_HOURS} hours").alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            sum_money(F.col("value")).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return to_memory(agg, "complete").orderBy("window_start_us", "event_type")


def sliding_event_counts_sql() -> str:
    """Oracle: each event contributes to the two 12h windows whose starts
    are floor(ts/6h)*6h and that minus 6h (Spark sliding windows are
    epoch-aligned on the slide)."""
    from ..functions.money import sum_money_sql

    return f"""
WITH contrib AS (
  SELECT event_type, value,
         (epoch_us(ts::TIMESTAMP) // {WINDOW_US}) * {WINDOW_US}
           - o.off * {WINDOW_US} AS window_start_us
  FROM events, (SELECT unnest([0, 1]) AS off) o
)
SELECT window_start_us, event_type, count(*) AS n_events,
       {sum_money_sql('value')} AS total_value
FROM contrib
GROUP BY 1, 2
ORDER BY 1, 2
"""


def windowed_event_counts_sql() -> str:
    """Oracle for the streamed aggregation (Spark tumbling windows are
    epoch-aligned, so window_start = floor(ts/6h)*6h).  Distinct-user counts
    are left out of the gate: streaming aggregation only supports
    approx_count_distinct, whose HLL estimate has no DuckDB equivalent.

    The oracle mirrors the stream's ``dropDuplicates(event_id)`` with a
    keep-one per event_id (deterministic arg-min pick).  Contract note:
    the stream's dedup exists for at-least-once feeds, where a duplicate
    event_id is a RETRANSMISSION carrying the identical payload — then any
    surviving copy is equal and both engines agree; duplicate ids with
    *different* payloads are out of contract (Spark's pick would be
    arrival-order-dependent, i.e. nondeterministic by definition)."""
    from ..functions.money import sum_money_sql

    return f"""
WITH dedup AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY event_id
                                 ORDER BY ts, event_type, value) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT (epoch_us(ts::TIMESTAMP) // {WINDOW_US}) * {WINDOW_US} AS window_start_us,
       event_type,
       count(*) AS n_events,
       {sum_money_sql('value')} AS total_value
FROM dedup
GROUP BY 1, 2
ORDER BY 1, 2
"""


def streaming_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup: ``dropDuplicatesWithinWatermark`` on
    (user_id, event_type) — the operator for at-least-once feeds where
    duplicates arrive within a bounded delay, so state for a key can be
    EVICTED once the watermark passes it (plain ``dropDuplicates`` keys
    state forever; at 100 TB/day that state is the bottleneck, eviction is
    the point).  Counts surviving rows per event type.

    Determinism note: within-watermark dedup keeps the FIRST-processed row
    per key, which is arrival-order-dependent — so this query exposes only
    the per-key survivor COUNT (one per distinct key here: the replay fits
    inside one availableNow batch and the 10-day delay exceeds the data
    span), never survivor VALUES.  Oracle: count(DISTINCT user_id) per
    type."""
    stream = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "10 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n_unique_users"))
    return to_memory(agg, "complete").orderBy("event_type")


def streaming_dedup_counts_sql() -> str:
    return """
SELECT event_type, count(DISTINCT user_id) AS n_unique_users
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def streaming_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER JOIN with event-time bounds: attribute each
    purchase to the views by the same user in the preceding hour.  This is
    the Structured Streaming operator the windowed aggregations can't
    express — two live streams joined on key + time-range, with watermarks
    on BOTH sides so the join state (buffered unmatched rows) is evicted
    once the other stream's watermark passes the range bound; without the
    time bound + watermark the state grows without limit, which is the
    100 TB failure mode this operator exists to avoid.

    Finite replay under availableNow produces exactly the batch interval
    join of the same data — the DuckDB oracle."""
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND purchase_ts >= view_ts "
            "AND purchase_ts <= view_ts + interval 1 hour"
        ),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_event_id",
        "purchase_event_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )
    return to_memory(joined, "append").orderBy("user_id", "view_event_id", "purchase_event_id")


def streaming_attribution_join_sql() -> str:
    return """
SELECT v.user_id,
       v.event_id AS view_event_id,
       p.event_id AS purchase_event_id,
       epoch_us(p.ts::TIMESTAMP) - epoch_us(v.ts::TIMESTAMP) AS gap_us
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY v.user_id, view_event_id, purchase_event_id
"""


def streaming_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: enrich the live event stream with the customer
    dimension (market segment), then tumbling-window counts per segment —
    the canonical "enrich events with a dimension table" streaming pattern
    (the reference's batch analog: per-event customer lookups against the
    master table, customer_events_builder.py joins).

    The static side needs NO watermark and holds no join state: Spark
    re-plans it per micro-batch and broadcasts it under the join threshold
    — at 100 TB of stream the dimension stays a broadcast lookup, which is
    why stream-static is the right shape for enrichment (a stream-stream
    join would buffer the dimension in the state store for no reason).
    Unmatched events (user_id outside the dimension) drop via the inner
    join — same semantics as the oracle's JOIN."""
    from ..functions.money import sum_money
    from ..io import load_table

    segments = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    stream = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    enriched = stream.join(segments, "user_id")  # stream-static inner join
    agg = (
        enriched.groupBy(
            F.window("ts", f"{WINDOW_HOURS} hours").alias("w"),
            F.col("segment"),
        )
        .agg(
            F.count("*").alias("n_events"),
            sum_money(F.col("value")).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "segment",
            "n_events",
            "total_value",
        )
    )
    return to_memory(agg, "complete").orderBy("window_start_us", "segment")


def streaming_static_enrichment_sql() -> str:
    from ..functions.money import sum_money_sql

    return f"""
SELECT (epoch_us(e.ts::TIMESTAMP) // {WINDOW_US}) * {WINDOW_US} AS window_start_us,
       c.c_mktsegment AS segment,
       count(*) AS n_events,
       {sum_money_sql('e.value')} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# streaming weighted sample — associative top-K A-ES fold over micro-batches
# ---------------------------------------------------------------------------

STREAM_RESERVOIR_K = 40


def _aes_keyed(df: DataFrame) -> DataFrame:
    """(event_id, weight, key_nano) A-ES projection: deterministic uniform
    u from md5(event_id), key = ln(u)/w at nano fixed-point, weight =
    event value (non-positive weights carry no sampling mass and are
    excluded — mirrored in the oracle)."""
    h = F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10).cast(
        "bigint"
    )
    u = (h.cast("double") + 0.5) / 4294967296.0
    key_nano = guarded_long(F.log(u) / F.col("value") * 1000000000.0)
    return df.filter(F.col("value") > 0).select(
        "event_id", F.col("value").alias("weight"), key_nano.alias("key_nano")
    )


def streaming_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional sample of the event stream, maintained
    incrementally: :func:`weighted_sample_fold` over :func:`stream_events`."""
    return weighted_sample_fold(stream_events(spark, sf_dir))


def weighted_sample_fold(events: DataFrame) -> DataFrame:
    """Fold a streaming events frame into its weighted sample: each
    micro-batch's A-ES top-K (:data:`STREAM_RESERVOIR_K` best ``ln(u)/w``
    keys) is folded into the retained top-K via ``foreachBatch``.  Because
    top-K under a total order is associative and commutative, the final
    state equals the batch computation over all events REGARDLESS of
    micro-batch boundaries — the fold-equals-batch property the SQL oracle
    checks end-to-end and ``test_streaming.py`` proves across a 3-file
    split.  This is the streaming form of
    :func:`~..operators.sampling.weighted_reservoir_sample` — a
    sequential reservoir needs per-row state; the A-ES key turns it into
    a stateless shuffle-free fold.

    The caller owns the source, as for
    :func:`~.stateful.sessionize_stream_with_timeout`, so micro-batch
    boundaries stay controllable.  State is K rows (localCheckpointed per
    batch, bounded driver memory); at production scale the same fold
    writes a K-row table per batch — state volume is K, independent of
    stream length."""
    from pyspark.sql import Window

    spark = events.sparkSession
    state: dict[str, DataFrame] = {}

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        batch_top = batch_df.orderBy(F.desc("key_nano"), F.asc("event_id")).limit(
            STREAM_RESERVOIR_K
        )
        merged = (
            state["df"].unionByName(batch_top) if "df" in state else batch_top
        )
        state["df"] = (
            merged.orderBy(F.desc("key_nano"), F.asc("event_id"))
            .limit(STREAM_RESERVOIR_K)
            .localCheckpoint()
        )

    _drain(_aes_keyed(events).writeStream.foreachBatch(fold), spark)
    final = state.get("df")
    if final is None:
        return spark.createDataFrame(
            [], "rank int, event_id long, weight double, sel_key double"
        )
    w = Window.orderBy(F.desc("key_nano"), F.asc("event_id"))
    return (
        final.withColumn("rank", F.row_number().over(w))
        .select(
            "rank",
            "event_id",
            "weight",
            (F.col("key_nano").cast("double") / 1000000000.0).alias("sel_key"),
        )
        .orderBy("rank")
    )


def streaming_weighted_sample_sql() -> str:
    key_expr = guarded_long_sql(
        "ln((('0x' || substr(md5(event_id::varchar), 1, 8))::bigint::double + 0.5)"
        " / 4294967296.0) / value * 1000000000.0"
    )
    return f"""
WITH keyed AS (
  SELECT event_id, value AS weight,
         {key_expr} AS key_nano
  FROM events
  WHERE value > 0
),
ranked AS (
  SELECT event_id, weight, key_nano,
         row_number() OVER (ORDER BY key_nano DESC, event_id) AS rank
  FROM keyed
)
SELECT rank, event_id, weight, key_nano::double / 1000000000.0 AS sel_key
FROM ranked
WHERE rank <= {STREAM_RESERVOIR_K}
ORDER BY rank
"""


def streaming_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked windowed drift: the streaming sibling of
    ``sketches.value_drift_psi``.  The stateful stage maintains the 6-hour
    windowed value histogram per event type — windows × types × ~160
    sign-aware log buckets; the consecutive-window PSI scoring is the
    shared bounded post-process over the sink table (drift needs the
    PREVIOUS window's finished histogram, so it runs per trigger over the
    tiny aggregate, not inside the stateful operator).

    State-bound caveat: this eval shape runs ``outputMode('complete')``,
    where Spark never evicts aggregation state — here state is bounded
    only because the availableNow input is finite.  A true continuous
    deployment would switch to update/append mode with a real sink so the
    1-hour watermark actually evicts closed windows.

    Same availableNow → memory-sink execution shape as the other stream
    entries, so the result is batch-comparable and oracle-checkable."""
    from ..operators.sketches import (
        DRIFT_WINDOW_US,
        _drift_psi_over_window_counts,
        _value_bucket,
    )

    assert DRIFT_WINDOW_US == WINDOW_US  # one 6h window grid across the repo
    stream = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(
            F.window("ts", f"{WINDOW_HOURS} hours").alias("wd"),
            F.col("event_type"),
            _value_bucket().alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("wd.start")).alias("w"),
            "event_type",
            "bucket",
            "n",
        )
    )
    return _drift_psi_over_window_counts(to_memory(agg, "complete"))


def streaming_value_drift_psi_sql() -> str:
    """Oracle: identical to the batch form — Spark tumbling windows are
    epoch-aligned, so the streamed histogram equals the batch bucketing."""
    from ..operators.sketches import value_drift_psi_sql

    return value_drift_psi_sql()


def streaming_window_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per 6h window × event type on a STREAM — the query
    the windowed-counts oracle gate documented as out of reach
    (``windowed_event_counts_sql``: streaming aggregation only supports
    ``approx_count_distinct``, whose opaque HLL no oracle can mirror).
    The repo's own deterministic md5 HLL closes that gap: the stateful
    stage maintains MAX(rho) per (window, type, bucket) — a streaming-
    legal algebraic aggregate with windows × types × ≤256 rows of state —
    and the Flajolet estimate is a bounded post-process over the sink.
    The exact distinct count (computed batch-side over the same prefix,
    the eval discipline of ``hll_distinct_eval``) rides along with the
    measured relative error.

    At production scale this is the continuously-updating distinct-users
    dashboard tile: register state merges with MAX across triggers and
    across a 1000-executor shuffle identically — the determinism that
    makes the estimate reproducible run-to-run.  Like the PSI sibling
    above, the eval shape runs in complete mode over a finite availableNow
    input, which is what bounds state here; a continuous deployment would
    use update/append with a real sink so the watermark evicts windows."""
    from ..functions.money import micro as _guarded_micro
    from ..io import load_table
    from ..operators.sketches import (
        _hll_estimate_col,
        _hll_register_rows,
        _hll_scaled_registers,
    )

    stream = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    rows = _hll_register_rows(
        stream,
        [F.window("ts", f"{WINDOW_HOURS} hours").alias("wd"), F.col("event_type")],
        "user_id",
    )
    regs = rows.groupBy("wd", "event_type", "bucket").agg(
        F.max("rho").alias("max_rho")
    )
    reg_rows = to_memory(regs, "complete")
    scaled = _hll_scaled_registers(
        reg_rows.select(
            F.unix_micros(F.col("wd.start")).alias("window_start_us"),
            "event_type",
            "max_rho",
        ),
        ["window_start_us", "event_type"],
    )
    est = _hll_estimate_col()
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            (F.floor(F.unix_micros("ts") / WINDOW_US) * WINDOW_US)
            .cast("long")
            .alias("window_start_us"),
            "event_type",
        )
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        scaled.join(exact, ["window_start_us", "event_type"])
        .select(
            "window_start_us",
            "event_type",
            "n_exact",
            _guarded_micro(est).alias("hll_estimate"),
            (
                F.floor(
                    F.abs(est - F.col("n_exact")) / F.col("n_exact") * 1000000.0 + 0.5
                )
                / 1000000.0
            ).alias("rel_error"),
        )
        .orderBy("window_start_us", "event_type")
    )


def streaming_window_distinct_users_sql() -> str:
    from ..operators.sketches import HLL_ALPHA, HLL_BUCKETS, HLL_RHO_BITS

    rb = HLL_RHO_BITS
    return f"""
WITH elems AS (
  SELECT (epoch_us(ts::TIMESTAMP) // {WINDOW_US}) * {WINDOW_US} AS window_start_us,
         event_type,
         ('0x' || substr(md5(user_id::varchar), 1, 2))::bigint AS bucket,
         ('0x' || substr(md5(user_id::varchar), 3, 12))::bigint AS tail
  FROM events
),
regs AS (
  SELECT window_start_us, event_type, bucket,
         max({rb} - length(bin(tail)) + 1) AS max_rho
  FROM elems GROUP BY 1, 2, 3
),
scaled AS (
  SELECT window_start_us, event_type,
         sum((1::bigint << ({rb} - max_rho))::bigint)::bigint AS s_present,
         count(*) AS n_present
  FROM regs GROUP BY 1, 2
),
exact AS (
  SELECT (epoch_us(ts::TIMESTAMP) // {WINDOW_US}) * {WINDOW_US} AS window_start_us,
         event_type, count(DISTINCT user_id) AS n_exact
  FROM events GROUP BY 1, 2
),
raw_est AS (
  SELECT s.window_start_us, s.event_type, e.n_exact,
         ({HLL_BUCKETS} - s.n_present) AS empty,
         {HLL_ALPHA * HLL_BUCKETS * HLL_BUCKETS} /
           ((s.s_present + ({HLL_BUCKETS} - s.n_present) * {2**HLL_RHO_BITS}::bigint)
              / {float(2**HLL_RHO_BITS)}) AS raw
  FROM scaled s JOIN exact e USING (window_start_us, event_type)
),
est AS (
  SELECT window_start_us, event_type, n_exact,
         CASE WHEN raw <= {2.5 * HLL_BUCKETS} AND empty > 0
              THEN {float(HLL_BUCKETS)} * ln({float(HLL_BUCKETS)} / empty)
              ELSE raw END AS raw
  FROM raw_est
)
SELECT window_start_us, event_type, n_exact,
       CASE WHEN abs(raw) < 1000000000000.0 THEN floor((raw) * 1000000.0 + 0.5) / 1000000.0 ELSE (raw) END AS hll_estimate,
       floor(abs(raw - n_exact) / n_exact * 1000000.0 + 0.5) / 1000000.0 AS rel_error
FROM est
ORDER BY window_start_us, event_type
"""


def streaming_benford_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed Benford first-digit monitor on the event-value STREAM: per
    6-hour tumbling window, the first-digit histogram of nonzero |value|
    with each digit's observed share and deviation from the Benford
    expectation — the continuously-updating fraud/ingest-corruption tile
    (a keyed-in or synthetic value batch bends the digit curve long
    before any aggregate total moves; ``benford_amount_audit`` is the
    whole-corpus batch form).

    The stateful stage is ONE streaming-legal aggregation: counts per
    (window, first_digit) — ≤ windows × 9 rows of state; shares and the
    Benford comparison are a bounded post-process over the sink.  First
    digits come from the decimal string of the micro-int value (no log10
    power-of-ten edge), and the expected shares are the same shared
    micro literals the batch audit uses.  Same availableNow → memory-
    sink eval shape as the other stream entries (complete mode: state is
    bounded by the finite input here; a continuous deployment would use
    update mode with a real sink)."""
    from pyspark.sql import Window

    from ..functions.money import ratio
    from ..operators.quality import BENFORD_MICRO

    stream = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    vm = guarded_long(F.col("value") * 1000000.0)
    digits = stream.select(
        F.window("ts", f"{WINDOW_HOURS} hours").alias("wd"),
        F.substring(F.abs(vm).cast("string"), 1, 1).cast("int").alias("d"),
        F.abs(vm).alias("a"),
    ).filter(F.col("a") > 0)
    agg = digits.groupBy("wd", "d").agg(F.count("*").alias("n_obs")).select(
        F.unix_micros(F.col("wd.start")).alias("window_start_us"), "d", "n_obs"
    )
    counts = to_memory(agg, "complete")
    ww = Window.partitionBy("window_start_us")
    benford = F.element_at(
        F.array(*[F.lit(b / 1_000_000.0) for b in BENFORD_MICRO]),
        F.col("first_digit"),
    )
    return (
        counts.select(
            "window_start_us",
            F.col("d").alias("first_digit"),
            "n_obs",
            F.sum("n_obs").over(ww).alias("n_window"),
        )
        .select(
            "window_start_us",
            "first_digit",
            "n_obs",
            ratio(
                F.col("n_obs").cast("double") * 1.0,
                F.col("n_window").cast("double"),
                6,
            ).alias("obs_share"),
            benford.alias("benford_share"),
            (
                ratio(
                    F.col("n_obs").cast("double") * 1.0,
                    F.col("n_window").cast("double"),
                    6,
                )
                - benford
            ).alias("deviation"),
        )
        .orderBy("window_start_us", "first_digit")
    )


def streaming_benford_drift_sql() -> str:
    """Oracle: the batch mirror — tumbling windows are epoch-aligned, so
    the streamed histogram equals batch bucketing over the same events.
    Digits the window never produced are absent on BOTH sides (unlike
    the whole-corpus batch audit's 9-row spine, a per-window spine would
    also have to invent windows; per-window absence is the contract)."""
    from ..operators.quality import BENFORD_MICRO

    b_list = ", ".join(str(b / 1_000_000.0) for b in BENFORD_MICRO)
    return f"""
WITH vals AS (
  SELECT (epoch_us(ts::TIMESTAMP) // {WINDOW_US}) * {WINDOW_US} AS window_start_us,
         abs({guarded_long_sql("value * 1000000.0")}) AS a
  FROM events
),
counts AS (
  SELECT window_start_us, substr(a::varchar, 1, 1)::int AS first_digit,
         count(*) AS n_obs
  FROM vals WHERE a > 0
  GROUP BY 1, 2
),
tot AS (
  SELECT *, sum(n_obs) OVER (PARTITION BY window_start_us) AS n_window
  FROM counts
)
SELECT window_start_us, first_digit, CAST(n_obs AS BIGINT) AS n_obs,
       floor(n_obs::double * 1.0 / n_window::double * 1000000.0 + 0.5)
         / 1000000.0 AS obs_share,
       list_extract([{b_list}]::double[], first_digit) AS benford_share,
       (floor(n_obs::double * 1.0 / n_window::double * 1000000.0 + 0.5)
          / 1000000.0
        - list_extract([{b_list}]::double[], first_digit)) AS deviation
FROM tot
ORDER BY window_start_us, first_digit
"""


def streaming_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed event-MIX drift on a stream: per 6h window, the
    Jensen-Shannon divergence between that window's event-type
    distribution and the PREVIOUS window's — the bounded, symmetric
    companion to :func:`streaming_value_drift_psi` (PSI is unbounded and
    blows up on bucket birth/death; JSD is capped at ln 2, so a pager
    threshold means the same thing in every window).

    The stateful stage maintains only (window × event_type) counts —
    windows × |types| rows of state; the consecutive-window JSD scoring
    is a bounded post-process over the sink (nano-floored p·ln(p/m)
    terms on the zero-filled type grid, the jsd_source_categories
    discipline — absent types contribute their exact Q·ln2 mass).

    Same availableNow → memory-sink shape as the other stream entries;
    oracle = the identical batch computation (epoch-aligned windows)."""
    stream = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        stream.groupBy(
            F.window("ts", f"{WINDOW_HOURS} hours").alias("wd"),
            F.col("event_type"),
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("wd.start")).alias("w"),
            "event_type",
            "n",
        )
    )
    return _jsd_over_window_counts(to_memory(agg, "complete"))


def _jsd_over_window_counts(counts):
    """Consecutive-window JSD over a (w, event_type, n) frame — bounded
    post-process shared by the streaming entry and its oracle shape."""
    from pyspark.sql import Window

    types = counts.select("event_type").distinct()
    windows = counts.select("w").distinct()
    grid = windows.crossJoin(F.broadcast(types)).join(
        counts, ["w", "event_type"], "left"
    ).select("w", "event_type", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    wt = Window.partitionBy("event_type").orderBy("w")
    ww = Window.partitionBy("w")
    paired = grid.select(
        "w",
        "event_type",
        "n",
        F.lag("n").over(wt).alias("prev_n"),
    ).withColumn("tot", F.sum("n").over(ww)).withColumn(
        "prev_tot", F.sum("prev_n").over(ww)
    )
    valid = paired.filter(F.col("prev_tot").isNotNull() & (F.col("prev_tot") > 0) & (F.col("tot") > 0))
    p = F.col("n").cast("double") / F.col("tot").cast("double")
    q = F.col("prev_n").cast("double") / F.col("prev_tot").cast("double")
    m = (p + q) / 2.0
    tp = F.when(
        F.col("n") > 0, F.floor(p * F.log(p / m) * 1000000000.0 + 0.5).cast("long")
    ).otherwise(F.lit(0))
    tq = F.when(
        F.col("prev_n") > 0, F.floor(q * F.log(q / m) * 1000000000.0 + 0.5).cast("long")
    ).otherwise(F.lit(0))
    agg2 = valid.select("w", "tot", "prev_tot", tp.alias("tp"), tq.alias("tq")).groupBy(
        "w", "tot", "prev_tot"
    ).agg(F.sum("tp").alias("sp"), F.sum("tq").alias("sq"))
    jsd = (F.col("sp") + F.col("sq")).cast("double") / 2.0e9
    micro = lambda x: F.floor(x * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return agg2.select(
        F.col("w").alias("window_start_us"),
        F.col("tot").alias("n_events"),
        F.col("prev_tot").alias("n_prev_events"),
        micro(jsd).alias("jsd_nats"),
    ).orderBy("window_start_us")


def streaming_jsd_drift_sql() -> str:
    """Oracle: identical batch computation — epoch-aligned 6h windows."""
    win = WINDOW_US
    return f"""
WITH counts AS (
  SELECT (epoch_us(ts::TIMESTAMP) // {win}) * {win} AS w, event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT wd.w, t.event_type, coalesce(c.n, 0) AS n
  FROM (SELECT DISTINCT w FROM counts) wd
  CROSS JOIN (SELECT DISTINCT event_type FROM counts) t
  LEFT JOIN counts c USING (w, event_type)
),
paired AS (
  SELECT w, event_type, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY w) AS prev_n
  FROM grid
),
tots AS (
  SELECT *, sum(n) OVER (PARTITION BY w) AS tot,
         sum(prev_n) OVER (PARTITION BY w) AS prev_tot
  FROM paired
),
valid AS (
  SELECT * FROM tots WHERE prev_tot IS NOT NULL AND prev_tot > 0 AND tot > 0
),
terms AS (
  SELECT w, tot, prev_tot,
         CASE WHEN n > 0
              THEN CAST(floor((n::double / tot::double)
                   * ln((n::double / tot::double)
                        / ((n::double / tot::double
                            + prev_n::double / prev_tot::double) / 2.0))
                   * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END AS tp,
         CASE WHEN prev_n > 0
              THEN CAST(floor((prev_n::double / prev_tot::double)
                   * ln((prev_n::double / prev_tot::double)
                        / ((n::double / tot::double
                            + prev_n::double / prev_tot::double) / 2.0))
                   * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END AS tq
  FROM valid
),
agg AS (
  SELECT w, tot, prev_tot, sum(tp) AS sp, sum(tq) AS sq
  FROM terms GROUP BY 1, 2, 3
)
SELECT w AS window_start_us, CAST(tot AS BIGINT) AS n_events,
       CAST(prev_tot AS BIGINT) AS n_prev_events,
       floor((sp + sq)::double / 2.0e9 * 1000000.0 + 0.5) / 1000000.0 AS jsd_nats
FROM agg
ORDER BY window_start_us
"""
