"""Spans around the calls the benchmark makes into the program's layers.

The tracer lives in the benchmark, not in the program: it wraps public
functions of ``io`` and ``sources.staging`` from outside, and the workloads
open spans around the calls they make into ``registry``,
``operators.incremental`` and ``streaming``.
Spans nest per thread; a span's self time is its duration minus the part of
its interval that its children cover.  Spans stay in memory and are
summarised once, after the timed phase.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Self time of each span: its duration minus the union of its direct
    children's intervals, clipped to its own interval (children of one
    parent may overlap when they run on pool threads)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every call a
    no-op so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()

    def reset(self) -> None:
        """Drop spans and counts recorded so far (set-up work)."""
        with self._lock:
            self.spans.clear()
            self.counts.clear()
            self.overhead_s = 0.0

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, **attrs) -> int | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        st = self._stack()
        span = Span(name, 0.0, parent=st[-1] if st else None, attrs=attrs)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
        st.append(idx)
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        t0 = time.perf_counter()
        self.spans[idx].end = t0
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()
        self.overhead_s += time.perf_counter() - t0

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def wrap(self, fn, name: str, **attrs):
        @functools.wraps(fn)
        def traced(*a, **kw):
            idx = self.begin(name, **attrs)
            try:
                return fn(*a, **kw)
            finally:
                self.end(idx)

        return traced

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name: calls, total and self seconds."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "s": 0.0, "self_s": 0.0})
        for s, st in zip(self.spans, self_times(self.spans)):
            rec = out[s.name]
            rec["calls"] += 1
            rec["s"] += s.end - s.start
            rec["self_s"] += st
        return dict(out)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        self.idx = self.t.begin(self.name, **self.attrs)
        return self

    def __exit__(self, *exc):
        self.t.end(self.idx)
        return False


def install_io_wrappers(tracer: Tracer) -> None:
    """Wrap the ``io`` entry points.  Operators bind ``load_table``,
    ``materialized`` and ``tracked_persist`` by name when they are
    imported, so this must run before ``registry`` or ``sources.staging``
    is imported."""
    from basin_climbing_data_pipeline_spark import io

    io.load_table = tracer.wrap(io.load_table, "io.load_table")
    io.release_caches = tracer.wrap(io.release_caches, "io.release_caches")
    orig_persist = io.tracked_persist

    @functools.wraps(orig_persist)
    def tracked_persist(df):
        tracer.count("io.persist.calls")
        return orig_persist(df)

    io.tracked_persist = tracked_persist
    orig_write = io.write_table

    @functools.wraps(orig_write)
    def write_table(df, path, partition_by=None):
        with tracer.span("io.write_table", path=path):
            orig_write(df, path, partition_by)
        from gen import dir_bytes

        tracer.count("io.write_bytes", dir_bytes(path))

    io.write_table = write_table
    orig_materialized = io.materialized

    def materialized(name):
        deco = orig_materialized(name)

        def d(fn):
            inner = deco(fn)

            @functools.wraps(inner)
            def w(spark, sf_dir):
                # io's own record of built tables decides; a caller that
                # waits on another thread's build of the same key counts as
                # a miss too, since it paid for the build
                miss = (os.path.abspath(sf_dir), name) not in io._MATERIALIZED
                tracer.count("io.materialize.misses" if miss else "io.materialize.hits")
                with tracer.span("io.materialize.build" if miss else "io.materialize.hit", table=name):
                    return inner(spark, sf_dir)

            w.__wrapped__ = fn
            return w

        return d

    io.materialized = materialized


def install_staging_wrappers(tracer: Tracer) -> None:
    """Per-table landing spans for ``run_staging``: each catalog builder is
    wrapped (the catalog is a module-level tuple read at call time) and so
    are the staging module's own ``write_table``/``write_snapshot`` names.
    A table's land time runs from its builder call to the end of its last
    write on the same pool thread."""
    from basin_climbing_data_pipeline_spark.sources import staging

    land = threading.local()

    def builder(t):
        module = t.builder.__module__.rsplit(".", 1)[-1]

        def b(spark, sf_dir):
            land.table = t.name
            with tracer.span("sources.staging.land", table=t.name, module=module):
                return t.builder(spark, sf_dir)

        b.__bench_original__ = t.builder
        return b

    staging.STAGING_CATALOG = tuple(
        staging.StagingTable(t.name, t.family, builder(t), t.snapshot) for t in staging.STAGING_CATALOG
    )

    def after_land(fn, name):
        @functools.wraps(fn)
        def w(*a, **kw):
            with tracer.span(name, table=getattr(land, "table", None)):
                return fn(*a, **kw)

        return w

    staging.write_table = after_land(staging.write_table, "sources.staging.write")
    orig_snap = staging.write_snapshot

    def write_snapshot(df, path, snapshot_date):
        tracer.count("sources.staging.snapshots")
        return orig_snap(df, path, snapshot_date)

    staging.write_snapshot = after_land(write_snapshot, "sources.staging.snapshot")
