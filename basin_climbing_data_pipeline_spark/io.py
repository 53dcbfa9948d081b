"""Table catalog + IO helpers.

The reference stores every table as one CSV object on S3 and re-reads it
whole for each job (reference data_pipeline/upload_data.py:69-93).  The new
engine's at-rest format is Parquet (columnar, predicate/projection pushdown,
partition pruning); the test catalog is the driver-generated star schema at
``/root/testdata/sf*/`` (see TESTDATA.md).

At 100 TB these readers stay valid: ``spark.read.parquet`` over a partitioned
prefix with pushed filters is exactly the cluster path; nothing here collects
to the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP (session-TZ=UTC)
    regardless of how the parquet writer encoded it: TIMESTAMP(NANOS) read
    as long via nanosAsLong, timestamp[us] without timezone (TIMESTAMP_NTZ),
    or an already-LTZ timestamp.  Different testdata generations have used
    different encodings; downstream operators all assume plain TIMESTAMP."""
    from pyspark.sql import functions as F

    t = dict(df.dtypes).get("ts")
    if t in ("bigint", "long"):
        # integer division — nanos (~1.7e18) overflow double precision, so a
        # float divide here would be off by ±1 µs
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if t == "timestamp_ntz":
        # naive-UTC semantics: the cast keeps the wall-clock instant
        # bit-identical ONLY when the session TZ is UTC — fail loudly on a
        # session not built by session.get_spark() instead of skewing instants
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz != "UTC":
            raise ValueError(
                f"normalize_event_ts requires spark.sql.session.timeZone=UTC "
                f"(got {tz!r}); NTZ->LTZ cast would shift instants"
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog: {TABLES}")
    if name == "events":
        # TIMESTAMP(NANOS) parquet is rejected by the vectorized reader;
        # read nanos as long (no-op for other encodings) and normalize.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def write_table(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Overwrite-sink analog of the reference's full-table CSV overwrite
    (reference data_pipeline/upload_data.py:37-46), as parquet with optional
    date partitioning (the reference's monthly snapshot keying,
    pipeline_handler.py:343-354, becomes partitionBy)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


# ---------------------------------------------------------------------------
# one store: builder materialization
# ---------------------------------------------------------------------------
#
# The reference persists every derived table to S3 once and downstream jobs
# READ the stored table instead of re-deriving it (data_pipeline/config.py:
# 29-142 catalog; e.g. combined_transaction_data.csv is built once by
# pipeline_handler.py:112-296 and consumed by ~10 later steps).  Here the
# staging store is that warehouse: while ``run_staging`` has a table bound
# (``bound_store``), ``materialized`` writes it straight to its staged path,
# once, and every consumer in the pass scans the staged files.  The row count
# comes from the write's own metrics (``observe_rows``) and the scan is built
# from the builder's schema, so neither costs a Spark job.  Builders called
# outside a pass (registry queries, bench.py) write to a per-process temp
# root cleaned at exit; a binding ends with its pass, so a later caller never
# reads a store that may since have been moved or deleted.
#
# Correctness is unaffected (parquet round-trips every output type exactly);
# set SPARK_GRAFT_NO_MATERIALIZE=1 to audit the raw builder plans
# (tests/test_plans.py does).

import atexit as _atexit
import contextlib as _contextlib
import functools as _functools
import hashlib as _hashlib
import shutil as _shutil
import tempfile as _tempfile
import threading as _threading
from dataclasses import dataclass as _dataclass


@_dataclass(frozen=True)
class _Stored:
    path: str
    rows: int
    scan: DataFrame


_WAREHOUSE_ROOT: str | None = None
_MATERIALIZED: dict[tuple[str, str], _Stored] = {}
_MATERIALIZE_LOCKS: dict[tuple[str, str], _threading.Lock] = {}
_REGISTRY_LOCK = _threading.Lock()
# (abspath(sf_dir), table name) -> staged path, for the running pass only
_BOUND: dict[tuple[str, str], str] = {}

# The driver testdata ships each table as ONE parquet row group, so a source
# scan is a single task no matter what maxPartitionBytes says.  Rewriting the
# warehouse tables across this many files gives every downstream consumer a
# parallel scan (measured ~2x on aggregation queries at sf0.1); on a cluster
# the same repartition-before-write is how you control output file sizing.
_WAREHOUSE_WRITE_PARTITIONS = 16


def _warehouse_root() -> str:
    global _WAREHOUSE_ROOT
    if _WAREHOUSE_ROOT is None:
        _WAREHOUSE_ROOT = _tempfile.mkdtemp(prefix="basin_spark_wh_")
        _atexit.register(_shutil.rmtree, _WAREHOUSE_ROOT, ignore_errors=True)
    return _WAREHOUSE_ROOT


def observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row-count observation: after the action that runs it,
    ``obs.get["rows"]`` holds the count, collected from the action's own
    metrics instead of a second job."""
    from pyspark.sql import functions as F

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


@_contextlib.contextmanager
def bound_store(sf_dir: str, paths: dict[str, str]):
    """Bind each named table to its staged path for the duration of one
    pass: ``materialized`` builds a bound table into that path (once) instead
    of the temp root.  A temp-root build made before the pass is set aside
    and restored after it, and the pass's own builds are forgotten, so
    nothing outside the pass reads the store."""
    root = os.path.abspath(sf_dir)
    keys = {(root, name): path for name, path in paths.items()}
    with _REGISTRY_LOCK:
        clash = sorted(k[1] for k in keys if k in _BOUND)
        if clash:
            raise RuntimeError(f"tables already bound to a running pass: {clash}")
        _BOUND.update(keys)
        set_aside = {k: _MATERIALIZED.pop(k) for k in keys if k in _MATERIALIZED}
    try:
        yield
    finally:
        with _REGISTRY_LOCK:
            for k in keys:
                _BOUND.pop(k, None)
                _MATERIALIZED.pop(k, None)
            _MATERIALIZED.update(set_aside)


def bound_rows(sf_dir: str, name: str) -> int | None:
    """Row count of ``name`` if ``materialized`` has written it to its bound
    staged path in the running pass, else None."""
    key = (os.path.abspath(sf_dir), name)
    stored = _MATERIALIZED.get(key)
    return stored.rows if stored is not None and key in _BOUND else None


_TRACKED_CACHES: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``persist()`` with session hygiene.

    Catalyst plans a self-join (or two aggregations) over the same expensive
    subtree as independent subtrees — no exchange reuse across AQE stages —
    so without a cache the subtree computes once per consumer.  A bare
    ``persist()`` fixes that but pins executor storage for the rest of the
    session: a full-registry bench/correctness run accumulates every query's
    cache.  Tracked caches are released by :func:`release_caches`, which the
    query registry invokes before building the NEXT query — within-query
    reuse runs at memory speed, across queries nothing stays resident.
    (Parquet spill was measured as the alternative: +0.9 s on
    simhash_near_pairs at sf0.1 for the round trip; memory wins.)
    """
    df.persist()
    with _REGISTRY_LOCK:
        _TRACKED_CACHES.append(df)
    return df


def release_caches() -> None:
    """Unpersist every cache registered since the last call.  Safe if a
    consumer plan still references the data — Spark recomputes on demand."""
    with _REGISTRY_LOCK:
        caches = list(_TRACKED_CACHES)
        _TRACKED_CACHES.clear()
    for df in caches:
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped


def materialized(name: str):
    """Decorator for (spark, sf_dir) -> DataFrame builders: write the output
    parquet once per (process, sf_dir), or once per pass to the table's
    staged path while it is bound, and serve every subsequent call as a
    plain scan of the stored table."""

    def deco(fn):
        @_functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
            if os.environ.get("SPARK_GRAFT_NO_MATERIALIZE"):
                return fn(spark, sf_dir)
            key = (os.path.abspath(sf_dir), name)
            stored = _MATERIALIZED.get(key)
            if stored is None:
                # per-key lock: independent builders materialize concurrently
                # (bench loads them from threads), same-key callers build once
                with _REGISTRY_LOCK:
                    lock = _MATERIALIZE_LOCKS.setdefault(key, _threading.Lock())
                with lock:
                    stored = _MATERIALIZED.get(key)
                    if stored is None:
                        stored = _MATERIALIZED[key] = _build(spark, fn(spark, sf_dir), key)
            if stored.scan.sparkSession is not spark:
                return spark.read.schema(stored.scan.schema).parquet(stored.path)
            return stored.scan

        wrapper.__wrapped__ = fn
        return wrapper

    return deco


def _build(spark: SparkSession, df: DataFrame, key: tuple[str, str]) -> _Stored:
    path = _BOUND.get(key)
    if path is None:
        sfh = _hashlib.md5(key[0].encode()).hexdigest()[:8]
        path = os.path.join(_warehouse_root(), f"{sfh}_{key[1]}")
    # coalesce, not repartition: the cap on output files is a file-count
    # bound, and paying a full extra shuffle for it doubled the write cost of
    # every materialization (measured 4.6s -> 2.3s on the transactions build
    # at sf0.1).  When the final stage has fewer partitions than the cap,
    # coalesce is a no-op and the natural layout is written; parquet
    # row-group splitting keeps downstream scan parallelism regardless of
    # file count.
    df, obs = observe_rows(df.coalesce(_WAREHOUSE_WRITE_PARTITIONS))
    write_table(df, path)
    # the builder's schema, not inference: a schema-less parquet read runs a
    # one-task footer job
    scan = spark.read.schema(df.schema).parquet(path)
    return _Stored(path, obs.get["rows"], scan)
