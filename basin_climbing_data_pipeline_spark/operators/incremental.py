"""Incremental-batch builders: window replace-merge, dedup-on-append,
snapshotting.

The reference's daily pipeline refetches a trailing window and splices it
into the stored table (ST1: keep stored rows older than the window, concat
fresh rows, dedup by id keep-first — pipeline_handler.py:429-479), keeps
monthly immutable snapshots (pipeline_handler.py:343-354), and skips rows
that already exist on append (ST4, experiment_tracking.py:86-94).

Engine equivalents:

- :func:`replace_bounded_window_merge` — the ST1 splice over a
  ``[start, end]`` window with an explicit deterministic keep-first
  ordering (SURVEY.md §4.3); the one window merge, used by the cron-batch
  splice (an open-ended window) and by the streaming sink.
  Driver-checked via :func:`merged_transactions_window` (stale stored
  table + re-fetched window over the transactions build, DuckDB oracle).
- :func:`apply_changeset` — tombstone-aware MERGE over the same
  keep-first step.
- :func:`append_if_absent` — ST4 via left-anti join.
- :func:`write_snapshot` — date-partitioned snapshot as a file copy of
  the landed table into its ``snapshot_date=<d>`` partition (the
  partition directory replaces the reference's date-suffixed object
  keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window


def _keep_first(
    unioned: DataFrame,
    id_col: str,
    flag_col: str,
    order_cols: list[str],
    range_partition: bool,
) -> DataFrame:
    """Keep one row per id: flagged rows (``flag_col`` = 1) first, then
    ``order_cols``.  Drops the rank column; the caller drops ``flag_col``.

    ``range_partition=True`` (guide §2.4 — share the exchange): callers
    that globally ORDER the output by ``id_col`` afterwards can
    range-partition the union ONCE here; RangePartitioning(id) satisfies
    both the window's clustered-distribution requirement and the final
    sort's ordered-distribution requirement, so the downstream orderBy
    adds no second exchange.  Values are identical either way — only the
    physical partitioning changes."""
    if range_partition:
        unioned = unioned.repartitionByRange(F.col(id_col).asc())
    w = Window.partitionBy(id_col).orderBy(
        F.desc(flag_col), *[F.col(c) for c in order_cols]
    )
    return (
        unioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def replace_bounded_window_merge(
    existing: DataFrame,
    fresh: DataFrame,
    date_col: str,
    window_start,
    window_end,
    id_col: str,
    order_cols: list[str],
    range_partition: bool = False,
) -> DataFrame:
    """The ST1 splice: keep existing rows strictly OUTSIDE
    ``[window_start, window_end]``, splice in the fresh rows inside it, and
    dedup by id keeping the first row under an explicit ordering (fresh
    rows win by sorting on freshness first, then ``order_cols``).

    Keeping stored rows on *both* sides of the window makes the merge
    order-insensitive for streamed re-fetch windows that arrive in ANY
    order (Spark's file source gives no ordering guarantee): a window
    processed before a later one never deletes that later window's rows.
    *Row retention* (which ids survive) is independent of arrival order;
    *values* follow last-processed-wins, which matches the reference's
    source semantics (a re-fetch returns the provider's current state, so
    overlapping windows carry identical rows for unchanged ids).  A stored
    row whose id the window carries loses to the fresh row wherever its
    date lies, so a row that moves a day keeps one copy.

    The cron-batch splice, where the newest window is authoritative for
    everything after its start, is the same call with
    ``window_end="9999-12-31"`` (Spark's largest DATE): no row lies past
    it.  For ``range_partition`` see :func:`_keep_first`."""
    kept = existing.filter(
        (F.col(date_col) < F.lit(window_start)) | (F.col(date_col) > F.lit(window_end))
    ).withColumn("_is_fresh", F.lit(0))
    incoming = fresh.filter(
        (F.col(date_col) >= F.lit(window_start)) & (F.col(date_col) <= F.lit(window_end))
    ).withColumn("_is_fresh", F.lit(1))
    return _keep_first(
        kept.unionByName(incoming), id_col, "_is_fresh", order_cols, range_partition
    ).drop("_is_fresh")


# ---------------------------------------------------------------------------
# ST1 as a driver-checked query
# ---------------------------------------------------------------------------
#
# The reference's single most-executed path is the daily transaction splice
# (pipeline_handler.py:429-479: stored table + re-fetched trailing window ->
# keep stored rows before the window, concat fresh, dedup by transaction_id
# keep-first).  Model it deterministically from the transactions build:
# "stored" is the table as fetched on MERGE_STALE_END (it lacks everything
# newer), "fresh" is the current re-fetch of the window.  row_version marks
# which side a surviving row came from, so the oracle hash proves both the
# splice boundary and fresh-wins dedup.

MERGE_WINDOW_START = "2001-06-01"
MERGE_STALE_END = "2001-07-01"

# deterministic keep-first ordering for duplicate transaction_ids: every
# output-visible column participates, so the surviving row is unique no
# matter how Spark or DuckDB breaks residual ties (SURVEY.md §4.3)
_MERGE_ORDER_COLS = [
    "txn_date",
    "description",
    "total_amount",
    "revenue_category",
    "data_source",
]


def merged_transactions_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 as a driver-checked query: splice a re-fetched trailing window
    into the stale stored transactions table (keep-before, concat fresh,
    dedup by id fresh-wins) — see the block comment above."""
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    stored = txn.filter(
        F.col("txn_date") <= F.lit(MERGE_STALE_END).cast("date")
    ).withColumn("row_version", F.lit(1))
    fresh = txn.filter(
        F.col("txn_date") >= F.lit(MERGE_WINDOW_START).cast("date")
    ).withColumn("row_version", F.lit(2))
    merged = replace_bounded_window_merge(
        stored,
        fresh,
        "txn_date",
        MERGE_WINDOW_START,
        "9999-12-31",  # one-sided: the window runs to the end of time
        "transaction_id",
        _MERGE_ORDER_COLS,
        range_partition=True,  # the orderBy below reuses the one exchange
    )
    return merged.select(
        "transaction_id", "txn_date", "revenue_category", "total_amount", "row_version"
    ).orderBy("transaction_id")


def merged_transactions_window_sql() -> str:
    from .transactions import transactions_sql

    order_sql = ", ".join(f"{c} NULLS FIRST" for c in _MERGE_ORDER_COLS)
    return f"""
WITH txn AS ({transactions_sql()}),
stored AS (
  SELECT *, 1 AS row_version FROM txn WHERE txn_date <= DATE '{MERGE_STALE_END}'
),
fresh AS (
  SELECT *, 2 AS row_version FROM txn WHERE txn_date >= DATE '{MERGE_WINDOW_START}'
),
unioned AS (
  SELECT *, 0 AS is_fresh FROM stored WHERE txn_date < DATE '{MERGE_WINDOW_START}'
  UNION ALL
  SELECT *, 1 AS is_fresh FROM fresh
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY transaction_id
              ORDER BY is_fresh DESC, {order_sql}) AS rn
  FROM unioned
)
SELECT transaction_id, txn_date, revenue_category, total_amount, row_version
FROM ranked WHERE rn = 1
ORDER BY transaction_id
"""


def append_if_absent(existing: DataFrame, incoming: DataFrame, id_col: str) -> DataFrame:
    """ST4: append only rows whose id is not already present."""
    new_rows = incoming.join(existing.select(id_col), id_col, "left_anti")
    return existing.unionByName(new_rows)


def write_snapshot(table_dir: str, path: str, snapshot_date: str) -> None:
    """Monthly immutable snapshot as a date partition: copy the files of the
    landed table at ``table_dir`` into ``path/snapshot_date=<d>/``.  A
    ``partitionBy("snapshot_date")`` table keeps the date in the directory
    name, not in its files, so the copy IS that partition — no Spark job
    rewrites the rows.

    The copy goes through the Hadoop ``FileSystem`` API (any store Spark
    writes to) into a ``_``-prefixed sibling, which readers skip, and then
    replaces only its own date's partition: a re-run on the same date
    converges while other dates' snapshots stay untouched."""
    import datetime as dt
    import uuid

    day = dt.date.fromisoformat(snapshot_date).isoformat()
    sc = SparkSession.active().sparkContext
    jvm, conf = sc._jvm, sc._jsc.hadoopConfiguration()
    Path = jvm.org.apache.hadoop.fs.Path
    src, root = Path(table_dir), Path(path)
    fs = root.getFileSystem(conf)
    part = Path(root, f"snapshot_date={day}")
    staged = Path(root, f"_snapshot_date={day}.{uuid.uuid4().hex}")
    jvm.org.apache.hadoop.fs.FileUtil.copy(src.getFileSystem(conf), src, fs, staged, False, conf)
    fs.delete(part, True)
    if not fs.rename(staged, part):
        fs.delete(staged, True)
        raise OSError(f"snapshot rename {staged} -> {part} failed")


# ---------------------------------------------------------------------------
# tombstone-aware changeset merge (the full MERGE semantics)
# ---------------------------------------------------------------------------


def apply_changeset(
    existing: DataFrame,
    changes: DataFrame,
    id_col: str,
    op_col: str,
    order_cols: list[str],
    range_partition: bool = False,
) -> DataFrame:
    """Delta-``MERGE`` semantics without Delta: ``changes`` rows carry an
    ``op_col`` in {'upsert', 'delete'}; upserts replace matching ids (or
    insert new ones), deletes tombstone them.  The reference only ever
    replaces windows (SURVEY §2.9 ST1) — this is the general CDC form its
    Klaviyo/Shopify sync targets apply on their side.

    ONE shuffle for the whole merge: union (existing tagged 0, changes
    tagged 1) → per-id window ordered (change-first, then ``order_cols``)
    → keep the winning row → drop rows whose winner is a tombstone.  The
    delete branch costs nothing extra — a tombstone simply wins its id's
    window and is filtered.  At scale this keys on the id like any MERGE."""
    ex = existing.withColumn(op_col, F.lit("upsert")).withColumn("_is_change", F.lit(0))
    ch = changes.withColumn("_is_change", F.lit(1))
    return (
        _keep_first(ex.unionByName(ch), id_col, "_is_change", order_cols, range_partition)
        .filter(F.col(op_col) != "delete")
        .drop("_is_change", op_col)
    )


def changeset_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked changeset merge: the stale stored transactions table
    receives a derived changeset — refund rows in the re-fetch window
    become DELETES (chargeback reversal), everything else an UPSERT with a
    bumped row_version — through :func:`apply_changeset`."""
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    stored = txn.filter(
        F.col("txn_date") <= F.lit(MERGE_STALE_END).cast("date")
    ).withColumn("row_version", F.lit(1))
    window_rows = txn.filter(F.col("txn_date") >= F.lit(MERGE_WINDOW_START).cast("date"))
    changes = window_rows.withColumn("row_version", F.lit(2)).withColumn(
        "op", F.when(F.col("is_refund"), "delete").otherwise("upsert")
    )
    merged = apply_changeset(
        stored, changes, "transaction_id", "op", _MERGE_ORDER_COLS,
        range_partition=True,
    )
    return merged.select(
        "transaction_id", "txn_date", "revenue_category", "total_amount", "row_version"
    ).orderBy("transaction_id")


def changeset_merge_sql() -> str:
    from .transactions import transactions_sql

    order_sql = ", ".join(f"{c} NULLS FIRST" for c in _MERGE_ORDER_COLS)
    return f"""
WITH txn AS ({transactions_sql()}),
stored AS (
  SELECT *, 1 AS row_version, 'upsert' AS op, 0 AS is_change
  FROM txn WHERE txn_date <= DATE '{MERGE_STALE_END}'
),
changes AS (
  SELECT *, 2 AS row_version,
         CASE WHEN is_refund THEN 'delete' ELSE 'upsert' END AS op,
         1 AS is_change
  FROM txn WHERE txn_date >= DATE '{MERGE_WINDOW_START}'
),
unioned AS (
  SELECT * FROM stored UNION ALL SELECT * FROM changes
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY transaction_id
              ORDER BY is_change DESC, {order_sql}) AS rn
  FROM unioned
)
SELECT transaction_id, txn_date, revenue_category, total_amount, row_version
FROM ranked WHERE rn = 1 AND op != 'delete'
ORDER BY transaction_id
"""


# ---------------------------------------------------------------------------
# table diff audit (build-over-build regression diffing)
# ---------------------------------------------------------------------------


def diff_tables(
    old: DataFrame, new: DataFrame, id_col: str, compare_cols: list[str]
) -> DataFrame:
    """Row-level diff of two builds of the same table: one row
    (added / removed / changed / unchanged → count), computed from ONE
    full-outer equi-join on the key with md5 row digests on each side —
    the data-diff a pipeline team runs between yesterday's and today's
    build before promoting it.  The digest collapses the value comparison
    to one string equality regardless of column count; at 100 TB both
    sides shuffle once on the key and the digests are computed map-side."""
    def digest(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in compare_cols])).alias(
                name
            ),
        )

    o = digest(old, "old_digest")
    n = digest(new, "new_digest")
    joined = o.join(n, id_col, "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), "added")
        .when(F.col("new_digest").isNull(), "removed")
        .when(F.col("old_digest") != F.col("new_digest"), "changed")
        .otherwise("unchanged")
    )
    return joined.select(status.alias("status")).groupBy("status").agg(
        F.count("*").alias("n_rows")
    )


def table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked diff between the STALE stored transactions table and
    the CHANGESET-MERGED build (the two states ``changeset_merge``
    produces): how many rows the merge added, removed (refund tombstones),
    changed (row_version bump) and left untouched.  The promotion gate a
    warehouse runs build-over-build, with the reference's daily splice as
    the subject (pipeline_handler.py:429-479).

    ROUND-13 OPTIMIZATION (guide §2.4 — share the exchange): the stored-side
    keep-first window, the changeset-merge window, and the full-outer diff
    join were ALL keyed on transaction_id — two table-sized exchanges + a
    sort-merge join + three scans.  Both diff sides are derivable from ONE
    pass over the stored∪changes union under the merge ordering
    (_is_change DESC, order_cols): change rows sort strictly first, so the
    MERGED winner is rank 1 (dropped if its op is a delete tombstone) and
    the STORED winner is rank n_changes+1 — among _is_change=0 rows the
    ordering restricted is exactly the stored keep-first's (order_cols).
    One exchange, one sorted window pass, per-id digests compared in the
    same partitioning (no join).  Digests are the identical md5 expression
    :func:`diff_tables` uses (row_version = _is_change + 1 on each side by
    construction), so added/removed/changed/unchanged counts are unchanged;
    ids on neither side (change-only ids whose winner is a delete) are
    filtered exactly as the full-outer join excluded them."""
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    stored = txn.filter(
        F.col("txn_date") <= F.lit(MERGE_STALE_END).cast("date")
    ).select(
        "transaction_id",
        *_MERGE_ORDER_COLS,
        F.lit(0).alias("_is_change"),
        F.lit(False).alias("_is_delete"),
    )
    changes = txn.filter(
        F.col("txn_date") >= F.lit(MERGE_WINDOW_START).cast("date")
    ).select(
        "transaction_id",
        *_MERGE_ORDER_COLS,
        F.lit(1).alias("_is_change"),
        F.col("is_refund").alias("_is_delete"),
    )
    unioned = stored.unionByName(changes)
    w = Window.partitionBy("transaction_id").orderBy(
        F.desc("_is_change"), *[F.col(c) for c in _MERGE_ORDER_COLS]
    )
    wp = Window.partitionBy("transaction_id")
    # same md5 digest as diff_tables over the compare columns
    # [txn_date, revenue_category, total_amount, row_version], with each
    # side's row_version constant-folded from _is_change
    digest = F.md5(
        F.concat_ws(
            "\x1f",
            F.col("txn_date").cast("string"),
            F.col("revenue_category").cast("string"),
            F.col("total_amount").cast("string"),
            (F.col("_is_change") + 1).cast("string"),
        )
    )
    ranked = unioned.select(
        "transaction_id",
        "_is_change",
        "_is_delete",
        digest.alias("_digest"),
        F.row_number().over(w).alias("_rn"),
        F.sum("_is_change").over(wp).alias("_n_ch"),
    )
    sides = (
        ranked.groupBy("transaction_id")
        .agg(
            F.max(
                F.when(F.col("_rn") == F.col("_n_ch") + 1, F.col("_digest"))
            ).alias("old_digest"),
            F.max(
                F.when((F.col("_rn") == 1) & ~F.col("_is_delete"), F.col("_digest"))
            ).alias("new_digest"),
        )
        .filter(F.col("old_digest").isNotNull() | F.col("new_digest").isNotNull())
    )
    status = (
        F.when(F.col("old_digest").isNull(), "added")
        .when(F.col("new_digest").isNull(), "removed")
        .when(F.col("old_digest") != F.col("new_digest"), "changed")
        .otherwise("unchanged")
    )
    return (
        sides.select(status.alias("status"))
        .groupBy("status")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("status")
    )


def table_diff_audit_sql() -> str:
    from .transactions import transactions_sql

    return f"""
WITH merged AS ({changeset_merge_sql()}),
txn AS ({transactions_sql()}),
stored_raw AS (
  SELECT transaction_id, txn_date, revenue_category, total_amount, 1 AS row_version,
         row_number() OVER (PARTITION BY transaction_id
                            ORDER BY {", ".join(c + " NULLS FIRST" for c in _MERGE_ORDER_COLS)}) AS rn
  FROM txn WHERE txn_date <= DATE '{MERGE_STALE_END}'
),
stored AS (SELECT * FROM stored_raw WHERE rn = 1),
o AS (
  SELECT transaction_id,
         md5(concat_ws(chr(31), txn_date::varchar, revenue_category,
                       total_amount::varchar, row_version::varchar)) AS old_digest
  FROM stored
),
n AS (
  SELECT transaction_id,
         md5(concat_ws(chr(31), txn_date::varchar, revenue_category,
                       total_amount::varchar, row_version::varchar)) AS new_digest
  FROM merged
),
joined AS (
  SELECT coalesce(o.transaction_id, n.transaction_id) AS id, o.old_digest, n.new_digest
  FROM o FULL OUTER JOIN n ON o.transaction_id = n.transaction_id
)
SELECT CASE WHEN old_digest IS NULL THEN 'added'
            WHEN new_digest IS NULL THEN 'removed'
            WHEN old_digest != new_digest THEN 'changed'
            ELSE 'unchanged' END AS status,
       count(*) AS n_rows
FROM joined
GROUP BY 1
ORDER BY status
"""
