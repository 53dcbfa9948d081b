"""Streaming incremental upsert: ``foreachBatch`` driving the ST1
window-splice merge (reference pipeline_handler.py:429-479 daily re-fetch,
run as a stream instead of a cron batch).

Each micro-batch is one "re-fetched window".  Spark's file source gives NO
ordering guarantee across files, so the merge must be order-insensitive:
``replace_bounded_window_merge`` keeps stored rows strictly outside the
batch's own ``[min_date, max_date]`` span — on both sides, so an
earlier-window batch processed after a later-window one never deletes the
later window's rows — splices the fresh rows in, and dedups by id (fresh
wins).  Overlapping windows replayed across batches therefore never
duplicate and never drop.  Batch ``k`` writes the merged table to its own
version directory ``target_dir/v<k>`` and the newest version on disk is
the table (the write-new-then-swap discipline).  A batch reads the newest
version below its own id, so a restarted stream resumes from what the
last run stored, and a batch re-run after a crash between its write and
its checkpoint commit never reads the directory it overwrites.  Having
read version ``prev``, batch ``k`` deletes every version older than
``prev``, so at most two versions stay on disk: ``prev`` for a re-run of
batch ``k``, and ``v<k>``.  The query starts and drains through
``events_stream._drain``, like every stream in the package.

Differential contract (tests/test_foreachbatch_merge.py): streaming the
events table as overlapping window files through this sink equals the batch
dedup of the same data, regardless of file arrival order.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import normalize_event_ts
from ..operators.incremental import replace_bounded_window_merge
from .events_stream import EVENTS_NANOS_SCHEMA, _drain

_VERSION_DIR = re.compile(r"v(\d+)")


def merge_stream(
    spark: SparkSession, source_dir: str, target_dir: str, sink_name: str
) -> DataFrame:
    """Stream event files from ``source_dir`` (one micro-batch per file via
    maxFilesPerTrigger) and maintain a merged table under ``target_dir``.
    Returns the final merged table.

    The source schema is peeked from the parquet footers (metadata-only
    read) so the stream adapts to whichever ts encoding the files use —
    nanos-as-long, TIMESTAMP_NTZ, or LTZ — via the same
    ``normalize_event_ts`` path as ``io.load_table``.  If ``source_dir``
    has no files yet (a stream started ahead of its producer), fall back to
    the documented events schema so the stream can start and pick files up
    as they land."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # fall back ONLY for a genuinely empty source dir — a corrupt or
    # unreadable file must fail loudly at startup, not silently switch the
    # stream to the nanos-as-long layout
    has_files = os.path.isdir(source_dir) and any(
        f.endswith(".parquet") for f in os.listdir(source_dir)
    )
    schema = spark.read.parquet(source_dir).schema if has_files else EVENTS_NANOS_SCHEMA
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    stream = normalize_event_ts(raw).select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.to_date("ts").alias("event_date"),
        "user_id",
        "event_type",
        "value",
    )

    def version(k: int) -> str:
        return os.path.join(target_dir, f"v{k}")

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one scalar pair per micro-batch on the driver — foreachBatch runs
        # driver-side by contract; at scale this comes from file metadata
        bounds = batch_df.agg(
            F.min("event_date").alias("lo"), F.max("event_date").alias("hi")
        ).collect()[0]
        if bounds["lo"] is None:  # empty batch
            return
        prev = _newest_version(target_dir, below=batch_id)
        if prev is None:
            existing = spark.createDataFrame([], batch_df.schema)
        else:
            existing = spark.read.parquet(version(prev))
        merged = replace_bounded_window_merge(
            existing,
            batch_df,
            "event_date",
            bounds["lo"].strftime("%Y-%m-%d"),
            bounds["hi"].strftime("%Y-%m-%d"),
            "event_id",
            ["ts_us", "event_id"],
        )
        merged.write.mode("overwrite").parquet(version(batch_id))
        if prev is not None:
            # this batch runs only after prev's batch committed, so no
            # (re-)run reads a version older than prev again; prev itself
            # stays for a re-run of this batch
            for k in _version_ids(target_dir):
                if k < prev:
                    shutil.rmtree(version(k))

    _drain(
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", os.path.join(target_dir, "_chk"))
        .queryName(sink_name),
        spark,
    )
    newest = _newest_version(target_dir)
    if newest is None:
        return spark.createDataFrame([], stream.schema)
    return spark.read.parquet(version(newest))


def _version_ids(target_dir: str) -> list[int]:
    """Batch ids ``k`` of the ``v<k>`` version directories under
    ``target_dir``."""
    if not os.path.isdir(target_dir):
        return []
    return [int(m[1]) for m in map(_VERSION_DIR.fullmatch, os.listdir(target_dir)) if m]


def _newest_version(target_dir: str, below: float = float("inf")) -> int | None:
    """The largest version id ``k < below`` under ``target_dir``, or None.
    Ids compare as integers: as text, ``v10`` sorts before ``v9``."""
    return max((k for k in _version_ids(target_dir) if k < below), default=None)
