"""One benchmark run inside a fresh Python process (started by ``run.py``).

Imports the program, starts its session, sets the workload up, runs the
timed phase, checks every output and writes ``result.json`` into the work
directory.  With ``--trace 1`` the layer wrappers are installed before the
program's modules are imported.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
import traceback
from dataclasses import dataclass

import gen
import stats
from spans import Tracer, install_io_wrappers, install_staging_wrappers

SNAPSHOT_RUN_DATE = "2024-02-01"  # the staging layer snapshots on day 1

# the streaming_* registry queries that refresh as live tiles over the
# merged events: one of the registry's twelve, as each costs 3-8 s a run and
# the runs must fit the benchmark's budget.  Windowed event counts per type
# are the dashboard's live tile, and the cheapest of them to refresh cold.
TILE_POOL = ["streaming_windowed_counts"]
WARM_MERGES = 2  # per table, before the timed phase
# refreshes per run, at least: the tail rule keeps 10 samples beyond its
# percentile, so 20 samples make it the p50 and every further one raises it
MIN_REFRESHES = 20
CHECK_PROCESSES = 3  # nightly: staged tables fingerprinted in parallel


@dataclass(slots=True)
class Op:
    kind: str  # build | refresh | tile
    name: str
    start: float
    end: float
    ok: bool
    rows: int = 0

    @property
    def s(self) -> float:
        return self.end - self.start


class Run:
    """State shared by the workloads: session, inputs, tracer, results."""

    def __init__(self, spark, args, tracer: Tracer):
        self.spark = spark
        self.args = args
        self.tracer = tracer
        self.work = args.work
        self.sf_dir = os.path.join(self.work, "input")
        self.ops: list[Op] = []
        self.problems: list[str] = []
        self.checked = 0
        self.report: dict = {}
        self._group = 0
        self._lock = threading.Lock()

    def job_group(self, label: str) -> None:
        with self._lock:
            self._group += 1
            gid = f"op{self._group:05d}:{label}"
        self.spark.sparkContext.setJobGroup(gid, label)

    def record(self, op: Op) -> None:
        with self._lock:
            self.ops.append(op)

    def problem(self, msg: str) -> None:
        with self._lock:
            self.problems.append(msg)


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def module_of(fn) -> str:
    return getattr(fn, "__wrapped__", fn).__module__.rsplit(".", 1)[-1]


def registry_call(run: Run, name: str, sf_dir: str):
    """Build a registry query over ``sf_dir`` and force it with a noop
    write, under its own job group and (traced) plan/exec spans; returns
    the operation and the query's DataFrame (None if it failed)."""
    from basin_climbing_data_pipeline_spark.registry import REGISTRY

    fn = REGISTRY[name][0]
    mod = module_of(fn)
    run.job_group(name)
    t0 = time.perf_counter()
    df = None
    try:
        with run.tracer.span("registry.plan", module=mod, query=name):
            df = fn(run.spark, sf_dir)
        with run.tracer.span("registry.exec", module=mod, query=name):
            force(df)
    except Exception:
        df = None
        run.problem(f"{name}: {traceback.format_exc(limit=3)}")
    return Op("tile", name, t0, time.perf_counter(), df is not None), df


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class NightlyBuild:
    """One cold staging pass over the full catalog in a fresh process."""

    def __init__(self, run: Run):
        self.run = run

    def setup(self) -> None:
        from basin_climbing_data_pipeline_spark.sources import staging  # noqa: F401

    def after(self) -> None:
        pass

    def plan_frames(self):
        """Each catalog builder's own plan (``materialized`` keeps the
        undecorated builder on ``__wrapped__``)."""
        from basin_climbing_data_pipeline_spark.sources.staging import STAGING_CATALOG

        for t in STAGING_CATALOG:
            b = getattr(t.builder, "__bench_original__", t.builder)
            yield getattr(b, "__wrapped__", b)(self.run.spark, self.run.sf_dir)

    def timed(self, deadline: float) -> None:
        from basin_climbing_data_pipeline_spark.sources.staging import run_staging

        run = self.run
        self.store = os.path.join(run.work, "store")
        run.job_group("run_staging")
        t0 = time.perf_counter()
        ok = True
        try:
            self.manifest = run_staging(run.spark, run.sf_dir, self.store, run_date=SNAPSHOT_RUN_DATE).collect()
        except Exception:
            ok = False
            self.manifest = []
            run.problem(f"run_staging: {traceback.format_exc(limit=3)}")
        op = Op("build", "run_staging", t0, time.perf_counter(), ok, sum(r.n_rows for r in self.manifest))
        run.record(op)
        in_bytes = gen.dir_bytes(run.sf_dir)
        out_bytes = gen.dir_bytes(self.store) if os.path.isdir(self.store) else 0
        run.report.update(
            build_s=op.s,
            rows_landed=op.rows,
            input_bytes=in_bytes,
            store_bytes=out_bytes,
            store_bytes_per_input_byte=out_bytes / in_bytes,
        )

    def check(self) -> None:
        import multiprocessing
        from concurrent.futures import ProcessPoolExecutor

        import checks
        from basin_climbing_data_pipeline_spark.sources.staging import STAGING_CATALOG, staging_path

        run = self.run
        recorded = checks.recorded_fingerprints()
        landed = {r.table_name: r for r in self.manifest}
        # largest tables first, so the pool ends together
        globs = {t.name: f"{staging_path(self.store, t)}/*.parquet"
                 for t in sorted(STAGING_CATALOG, key=lambda t: -landed[t.name].n_rows if t.name in landed else 0)
                 if t.name in landed}
        with ProcessPoolExecutor(CHECK_PROCESSES, mp_context=multiprocessing.get_context("spawn")) as pool:
            fingerprints = dict(zip(globs, pool.map(checks.parquet_fingerprint, globs.values())))
        for t in STAGING_CATALOG:
            run.checked += 1
            if t.name not in landed:
                run.problem(f"staging {t.name}: not landed")
                continue
            got = fingerprints[t.name]
            bad = checks.diff(got, tuple(recorded[t.name]))
            if bad is None and got[1] != landed[t.name].n_rows:
                bad = f"manifest n_rows {landed[t.name].n_rows} != {got[1]}"
            if bad:
                run.problem(f"staging {t.name}: {bad}")


EVENTS_PROJ_DUCK = (
    "SELECT event_id, epoch_us(ts) AS ts_us, CAST(ts AS DATE) AS event_date,"
    " user_id, event_type, value, props FROM {src}"
)
# the stored events in the catalog's layout, for the live tiles
TILE_EVENTS_DUCK = (
    "COPY (SELECT event_id, make_timestamp(ts_us) AS ts, user_id, event_type, value, props"
    " FROM read_parquet('{src}/*.parquet') ORDER BY ts_us, event_id) TO '{dst}' (FORMAT parquet)"
)
REFRESH = {
    # table: (date column, id column, order columns)
    "events": ("event_date", "event_id", ["ts_us", "event_id"]),
    "orders": ("o_orderdate", "o_orderkey", ["o_orderkey"]),
}


class IntradayRefresh:
    """Re-fetch windows of ``events`` and ``orders`` (the transactions feed)
    land as files, alternating, in one closed loop; each is merged into its
    stored table with ``replace_bounded_window_merge`` + ``io.write_table``
    and read back at once.  Afterwards the streaming tiles refresh over the
    merged events and the landed event windows are replayed through
    ``merge_stream``."""

    def __init__(self, run: Run):
        self.run = run
        self.version = {name: 0 for name in REFRESH}
        self.landed: list[tuple[str, str, str, str]] = []  # (table, file, lo, hi)
        self.tiles: dict = {}  # tile query -> its result frame

    def _project(self, name, df):
        from pyspark.sql import functions as F

        from basin_climbing_data_pipeline_spark.io import normalize_event_ts

        if name != "events":
            return df
        return normalize_event_ts(df).select(
            "event_id", F.unix_micros("ts").alias("ts_us"), F.to_date("ts").alias("event_date"),
            "user_id", "event_type", "value", "props",
        )

    def _path(self, name, v):
        return os.path.join(self.run.work, "refresh", name, f"v{v:04d}")

    def setup(self) -> None:
        """The stored tables' first version is an input: DuckDB writes it
        from the input tables in the merge's layout (``EVENTS_PROJ_DUCK``),
        then the merge path is warmed."""
        import duckdb

        run = self.run
        with duckdb.connect() as con:
            for name in REFRESH:
                os.makedirs(self._path(name, 0))
                proj = EVENTS_PROJ_DUCK if name == "events" else "SELECT * FROM {src}"
                src = f"read_parquet('{run.sf_dir}/{name}.parquet')"
                con.execute(f"COPY ({proj.format(src=src)}) TO '{self._path(name, 0)}/part-0.parquet' (FORMAT parquet)")
        self.windows = sorted(os.listdir(os.path.join(run.work, "windows")))
        # warm the merge path outside the timed phase on the first windows
        for k, fname in enumerate(self.windows[: 2 * WARM_MERGES]):
            _idx, name, lo, hi = _parts(fname)
            run.job_group(f"warm:{fname}")
            self._merge(name, os.path.join(run.work, "windows", fname), lo, hi,
                        out=os.path.join(run.work, "refresh", f"warm{k}"))

    def plan_frames(self):
        """One window merge per table, plus the live tiles' result frames."""
        from basin_climbing_data_pipeline_spark.operators.incremental import replace_bounded_window_merge
        run = self.run
        last = {name: (f, lo, hi) for name, f, lo, hi in self.landed}
        for name, (f, lo, hi) in last.items():
            date_col, id_col, order_cols = REFRESH[name]
            yield replace_bounded_window_merge(
                run.spark.read.parquet(self._path(name, self.version[name])),
                self._project(name, run.spark.read.parquet(f)), date_col, lo, hi, id_col, order_cols)
        yield from self.tiles.values()

    def _merge(self, name, path, lo, hi, out) -> int:
        from basin_climbing_data_pipeline_spark import io
        from basin_climbing_data_pipeline_spark.operators.incremental import replace_bounded_window_merge

        run = self.run
        date_col, id_col, order_cols = REFRESH[name]
        existing = run.spark.read.parquet(self._path(name, self.version[name]))
        fresh = self._project(name, run.spark.read.parquet(path))
        with run.tracer.span("operators.incremental.merge", module="incremental"):
            merged = replace_bounded_window_merge(existing, fresh, date_col, lo, hi, id_col, order_cols)
            io.write_table(merged, out)
        with run.tracer.span("refresh.read_after_write"):
            return run.spark.read.parquet(out).count()

    def timed(self, deadline: float) -> None:
        """One closed loop over the windows in landing order, alternating
        between the two feeds.  (Two concurrent feeds phase-locked: whole
        runs settled either in step, contending, or alternating, and the
        median moved 1.3 s <-> 1.9 s between runs.)"""
        import pyarrow.parquet as pq

        run = self.run
        for name in REFRESH:
            os.makedirs(os.path.join(run.work, "landing", name))
        n_fresh = n_written = 0
        for i, fname in enumerate(self.windows[2 * WARM_MERGES:]):
            if time.perf_counter() >= deadline and i >= MIN_REFRESHES:
                break
            _idx, name, lo, hi = _parts(fname)
            table = pq.read_table(os.path.join(run.work, "windows", fname))
            dst = os.path.join(run.work, "landing", name, fname)
            run.job_group(f"refresh:{fname}")
            t_land = time.perf_counter()
            pq.write_table(table, dst)
            ok = True
            try:
                n_written += self._merge(name, dst, lo, hi, out=self._path(name, self.version[name] + 1))
                self.version[name] += 1
                self.landed.append((name, dst, lo, hi))
            except Exception:
                ok = False
                run.problem(f"refresh {fname}: {traceback.format_exc(limit=3)}")
            run.record(Op("refresh", fname, t_land, time.perf_counter(), ok, table.num_rows))
            n_fresh += table.num_rows
        refresh = [o for o in run.ops if o.kind == "refresh"]
        busy = sum(o.s for o in refresh)
        run.report.update(
            refresh_windows=len(refresh),
            refresh_rows_per_s=n_fresh / busy if busy else 0.0,
            refresh_rows_written=n_written,
            refresh_bytes_written=sum(
                gen.dir_bytes(self._path(n, v)) for n in REFRESH for v in range(1, self.version[n] + 1)
            ),
        )

    def tile_view(self) -> str:
        """A catalog directory whose ``events.parquet`` is the latest merged
        events table (the other tables link to the inputs)."""
        import duckdb

        run = self.run
        d = os.path.join(run.work, "tiles")
        os.makedirs(d)
        for t in gen.TABLES:
            if t != "events":
                os.symlink(os.path.join(run.sf_dir, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
        with duckdb.connect() as con:
            con.execute(TILE_EVENTS_DUCK.format(src=self._path("events", self.version["events"]),
                                                dst=os.path.join(d, "events.parquet")))
        return d

    def after(self) -> None:
        """Refresh the live tiles over the merged events and replay the
        landed event windows through ``merge_stream``: part of the workload,
        outside the refresh latency samples."""
        run = self.run
        self.tile_dir = self.tile_view()
        for q in TILE_POOL:
            op, df = registry_call(run, q, self.tile_dir)
            run.record(op)
            run.report[f"tile_s.{q}"] = op.s
            if df is not None:
                self.tiles[q] = df
        from basin_climbing_data_pipeline_spark.streaming.foreach_merge import merge_stream

        run.job_group("merge_stream")
        t0 = time.perf_counter()
        with run.tracer.span("streaming.merge_stream", module="streaming"):
            self.streamed = merge_stream(
                run.spark, os.path.join(run.work, "landing", "events"),
                os.path.join(run.work, "stream_out"), "bench_merge",
            )
        run.report["merge_stream_s"] = time.perf_counter() - t0

    def check(self) -> None:
        import checks

        run = self.run
        con = checks.connect(run.sf_dir)
        for name, (date_col, id_col, order_cols) in REFRESH.items():
            proj = EVENTS_PROJ_DUCK if name == "events" else "SELECT * FROM {src}"
            wins = [(f, lo, hi) for n, f, lo, hi in self.landed if n == name]
            base = proj.format(src=f"read_parquet('{run.sf_dir}/{name}.parquet')")
            checks.splice(con, base, [(proj.format(src=f"read_parquet('{f}')"), lo, hi) for f, lo, hi in wins],
                          date_col, id_col, order_cols)
            run.checked += 1
            merged_sql = f"SELECT * FROM read_parquet('{self._path(name, self.version[name])}/*.parquet')"
            bad = checks.diff(checks.duck_fingerprint(con, merged_sql),
                              checks.duck_fingerprint(con, "SELECT * FROM spliced"))
            if bad:
                run.problem(f"refresh {name} vs DuckDB splice: {bad}")
            if name == "events" and wins:
                # the stream starts empty, so it holds exactly the window days
                run.checked += 1
                cover = " OR ".join(f"event_date BETWEEN DATE '{lo}' AND DATE '{hi}'" for _f, lo, hi in wins)
                files = ", ".join(f"'{p.removeprefix('file:')}'" for p in self.streamed.inputFiles())
                bad = checks.diff(
                    checks.duck_fingerprint(con, f"SELECT * FROM read_parquet([{files}])"),
                    checks.duck_fingerprint(con, f"SELECT * EXCLUDE (props) FROM ({merged_sql}) WHERE {cover}"),
                )
                if bad:
                    run.problem(f"merge_stream vs batch merge: {bad}")
        # the tiles return their results as checkpointed frames, so
        # collecting them does not run the streams again
        from basin_climbing_data_pipeline_spark.registry import REGISTRY

        tile_con = checks.connect(self.tile_dir)
        for q, df in self.tiles.items():
            run.checked += 1
            bad = checks.check_query(df, tile_con, REGISTRY[q][1])
            if bad:
                run.problem(f"{q}: {bad}")


def _parts(fname: str) -> list[str]:
    """``<index>_<table>_<lo>_<hi>.parquet`` -> [index, table, lo, hi]."""
    return fname[: -len(".parquet")].split("_")


# which operations a workload's latency metrics are taken over
MAIN_KIND = {
    "nightly_build": ("build",),
    "intraday_refresh": ("refresh",),
}
WORKLOADS = {
    "nightly_build": NightlyBuild,
    "intraday_refresh": IntradayRefresh,
}


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------

# the operator modules the two workloads run: the staging builders' modules
# on nightly_build, incremental on intraday_refresh
OPERATOR_MODULES = (
    "transactions cohorts memberships events customers flags leads experiments linking incremental"
).split()
PLAN_KEYS = {
    "plans.shuffle_exchanges": "n_shuffle_exchanges",
    "plans.broadcast_exchanges": "n_broadcast_exchanges",
    "plans.broadcast_hash_joins": "n_broadcast_hash_joins",
    "plans.sort_merge_joins": "n_sort_merge_joins",
    "plans.bnl_joins": "n_bnl_joins",
}


LAYER_METRICS = (
    ["session.start_s", "registry.plan_s", "registry.exec_s",
     "io.load_table.calls", "io.load_table.s", "io.materialize.hits", "io.materialize.misses",
     "io.materialize.hit_ratio", "io.materialize.build_s", "io.write_table.calls", "io.write_table.s",
     "io.write_bytes", "io.persist.calls", "io.release_caches.s",
     "sources.staging.land_s", "sources.staging.rows_landed", "sources.staging.snapshots"]
    + [f"operators.{m}.s" for m in OPERATOR_MODULES]
    + ["operators.incremental.merge_s", "operators.incremental.write_amplification",
       "streaming.batches", "streaming.batch_p50_s", "streaming.input_rows_per_s",
       "streaming.state_rows", "streaming.state_bytes", "streaming.merge_stream_s"]
    + list(PLAN_KEYS)
    + ["engine.jobs", "engine.stages", "engine.tasks", "engine.task_s", "engine.task_cpu_s", "engine.gc_s",
       "engine.shuffle_read_bytes", "engine.shuffle_write_bytes", "engine.spill_bytes", "engine.input_bytes",
       "engine.failed_tasks", "engine.core_busy_ratio", "engine.max_task_over_median",
       "trace.overhead_s", "trace.overhead_ratio", "trace.spans", "trace.op_p50_s"]
)


def layer_metrics(run: Run, session_s: float, engine: dict, listener) -> dict[str, float]:
    tr = run.tracer
    spans = tr.spans
    summ = tr.summary()

    def s(name):
        return summ.get(name, {}).get("self_s", 0.0)

    def calls(name):
        return summ.get(name, {}).get("calls", 0)

    m: dict[str, float] = {"session.start_s": session_s}
    m["registry.plan_s"] = s("registry.plan")
    m["registry.exec_s"] = s("registry.exec")
    m["io.load_table.calls"] = calls("io.load_table")
    m["io.load_table.s"] = s("io.load_table")
    hits, misses = tr.counts.get("io.materialize.hits", 0), tr.counts.get("io.materialize.misses", 0)
    m["io.materialize.hits"] = hits
    m["io.materialize.misses"] = misses
    m["io.materialize.hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    m["io.materialize.build_s"] = s("io.materialize.build")
    m["io.write_table.calls"] = calls("io.write_table")
    m["io.write_table.s"] = s("io.write_table")
    m["io.write_bytes"] = tr.counts.get("io.write_bytes", 0)
    m["io.persist.calls"] = tr.counts.get("io.persist.calls", 0)
    m["io.release_caches.s"] = s("io.release_caches")

    # staging: a table's land time runs from its builder call to its last write
    land: dict[str, list[float]] = {}
    table_module: dict[str, str] = {}
    for sp in spans:
        if sp.name.startswith("sources.staging.") and sp.attrs.get("table"):
            lo, hi = land.get(sp.attrs["table"], [sp.start, sp.end])
            land[sp.attrs["table"]] = [min(lo, sp.start), max(hi, sp.end)]
            if "module" in sp.attrs:
                table_module[sp.attrs["table"]] = sp.attrs["module"]
    m["sources.staging.land_s"] = sum(hi - lo for lo, hi in land.values())
    m["sources.staging.rows_landed"] = run.report.get("rows_landed", 0)
    m["sources.staging.snapshots"] = tr.counts.get("sources.staging.snapshots", 0)
    run.report["staging_land_s"] = {k: hi - lo for k, (lo, hi) in sorted(land.items())}

    # operators: a builder module's tables' land time, inclusive of the
    # warehouse builds and writes its builders run (the builders' Spark work
    # executes inside those io calls); incremental: its merges plus writes
    per_mod = {mod: 0.0 for mod in OPERATOR_MODULES}
    for table, (lo, hi) in land.items():
        if table_module.get(table) in per_mod:
            per_mod[table_module[table]] += hi - lo
    per_mod["incremental"] = summ.get("operators.incremental.merge", {}).get("s", 0.0)
    for mod, v in per_mod.items():
        m[f"operators.{mod}.s"] = v
    m["operators.incremental.merge_s"] = per_mod["incremental"]
    fresh = sum(o.rows for o in run.ops if o.kind == "refresh")
    m["operators.incremental.write_amplification"] = (
        run.report.get("refresh_rows_written", 0) / fresh if fresh else 0.0
    )

    # streaming: micro-batch progress from the query listener
    prog = listener.progress if listener else []
    durs = [p["ms"] / 1e3 for p in prog]
    rows = sum(p["rows"] for p in prog)
    m["streaming.batches"] = len(prog)
    m["streaming.batch_p50_s"] = stats.median(durs) if durs else 0.0
    m["streaming.input_rows_per_s"] = rows / sum(durs) if sum(durs) else 0.0
    m["streaming.state_rows"] = sum(p["state_rows"] for p in prog)
    m["streaming.state_bytes"] = sum(p["state_bytes"] for p in prog)
    m["streaming.merge_stream_s"] = summ.get("streaming.merge_stream", {}).get("s", 0.0)

    m.update(engine)
    m["trace.overhead_s"] = tr.overhead_s
    m["trace.overhead_ratio"] = tr.overhead_s / run.report["timed_wall_s"]
    m["trace.spans"] = len(spans)
    return m


def ordered_layers(m: dict[str, float]) -> dict[str, float]:
    """The per-layer metrics in BENCHMARK.json order; refuses a set that
    differs from the declared one."""
    if set(m) != set(LAYER_METRICS):
        raise RuntimeError(f"layer metrics differ from LAYER_METRICS: {sorted(set(m) ^ set(LAYER_METRICS))}")
    return {k: m[k] for k in LAYER_METRICS}


def plan_counts(frames) -> dict[str, int]:
    """Physical-plan operator counts summed over the workload's distinct
    operations (built after the timed phase; nothing is executed)."""
    from basin_climbing_data_pipeline_spark.plans.audit import audit

    out = {k: 0 for k in PLAN_KEYS}
    for df in frames:
        ps = audit(df)
        for k, attr in PLAN_KEYS.items():
            out[k] += getattr(ps, attr)
    return out


class ProgressListener:
    """Collects streaming micro-batch progress (traced run only)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                outer.progress.append({
                    "ms": (p.batchDuration or 0),
                    "rows": p.numInputRows or 0,
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.progress: list[dict] = []
        self.listener = L()


# ---------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned", type=float, required=True, help="wall clock at process spawn")
    args = ap.parse_args()

    tracer = Tracer(bool(args.trace))
    if args.trace:
        install_io_wrappers(tracer)
    from basin_climbing_data_pipeline_spark.session import get_spark

    if args.trace:
        install_staging_wrappers(tracer)

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    listener = None
    if args.trace:
        listener = ProgressListener()
        spark.streams.addListener(listener.listener)

    run = Run(spark, args, tracer)
    wl = WORKLOADS[args.workload](run)
    log(f"session started in {session_s:.1f} s")
    wl.setup()
    setup_s = time.time() - args.spawned
    log(f"set up in {setup_s:.1f} s")

    from engine import EngineStatus

    eng = EngineStatus(spark) if args.trace else None
    first_stage = eng.last_stage_id() if eng else -1
    tracer.reset()
    if listener:
        listener.progress.clear()
    n_setup = len(run.ops)
    t_start = time.perf_counter()
    wl.timed(t_start + args.seconds)
    wall = time.perf_counter() - t_start
    run.report["timed_wall_s"] = wall
    log(f"timed phase {wall:.1f} s, {len(run.ops) - n_setup} operations")
    ops = run.ops[n_setup:]
    lat = [o.s for o in ops if o.ok and o.kind in MAIN_KIND[args.workload]]
    wl.after()
    traced_wall = time.perf_counter() - t_start

    layers = None
    if args.trace:
        time.sleep(1.0)  # let the listener bus deliver the last progress events
        engine_m, per_group = eng.collect(first_stage, traced_wall)
        run.report["per_op_task_s"] = per_group
        layers = layer_metrics(run, session_s, engine_m, listener)
        tracer.enabled = False  # plan audit and checks are not part of the trace
        layers["trace.op_p50_s"] = stats.median(lat) if lat else 0.0
        layers = ordered_layers({**layers, **plan_counts(wl.plan_frames())})

    try:
        wl.check()
    except Exception:
        run.problem(f"check: {traceback.format_exc(limit=5)}")

    log(f"checked {run.checked} outputs, {len(run.problems)} problems")
    attempted = len(run.ops) + run.checked
    failed = min(attempted, len(run.problems))
    metrics = {"setup_s": setup_s}
    if lat:
        v, p, n = stats.tail(lat)
        metrics.update(op_p50_s=stats.median(lat), op_tail_s=v, ops_per_s=len(lat) / wall)
        run.report["tail"] = {"percentile": p, "n": n}
        run.report["op_latencies_s"] = [round(x, 4) for x in lat]
    run.report["error_rate"] = failed / attempted
    result = {
        "attempted": attempted,
        "failed": failed,
        "problems": run.problems,
        "metrics": metrics,
        "layers": layers,
        "report": run.report,
        "config": config(spark, args),
        "spans": tracer.summary() if args.trace else None,
    }
    with open(os.path.join(args.work, "result.json"), "w") as f:
        json.dump(result, f, indent=1, default=str)
    spark.stop()
    return 0


def config(spark, args) -> dict:
    import platform

    conf = spark.conf
    jvm = spark.sparkContext._jvm
    return {
        "cores": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "aqe_min_partition_size": conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": args.seed,
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
    }


if __name__ == "__main__":
    sys.exit(main())
