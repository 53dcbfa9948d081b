"""The benchmark's own tests: seeded inputs, the tail rule, span self-time
arithmetic, the names in BENCHMARK.json and the recorded fingerprints.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import stats  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _equal_tables(a, b) -> bool:
    return a.keys() == b.keys() and all(a[k].equals(b[k]) for k in a)


def test_same_seed_same_tables_and_windows():
    a, b = gen.make_tables(7, 0.1), gen.make_tables(7, 0.1)
    assert _equal_tables(a, b)
    wa, wb = gen.refresh_windows(7, a, 12), gen.refresh_windows(7, b, 12)
    assert [(n, lo, hi) for n, lo, hi, _ in wa] == [(n, lo, hi) for n, lo, hi, _ in wb]
    assert all(x[3].equals(y[3]) for x, y in zip(wa, wb))


def test_other_seed_other_inputs():
    a, b = gen.make_tables(7, 0.1), gen.make_tables(8, 0.1)
    assert not a["events"].equals(b["events"])
    assert [w[:3] for w in gen.refresh_windows(7, a, 12)] != [w[:3] for w in gen.refresh_windows(8, b, 12)]


def test_nightly_layout_changes_but_content_does_not():
    base = gen.make_tables(gen.NIGHTLY_DATA_SEED, 0.1)
    x, y = gen.shuffled(base, 1), gen.shuffled(base, 2)
    assert _equal_tables(x, gen.shuffled(base, 1))
    assert not x["lineitem"].equals(y["lineitem"])
    for name in base:
        cols = base[name].column_names
        key = [(c, "ascending") for c in cols if not c.startswith("embedding")]
        assert x[name].sort_by(key).equals(base[name].sort_by(key))


def test_windows_overlap_and_some_arrive_late():
    tables = gen.make_tables(3, 0.1)
    wins = gen.refresh_windows(3, tables, 40)
    assert [w[0] for w in wins[:4]] == ["events", "orders", "events", "orders"]
    events = [(lo, hi) for name, lo, hi, _ in wins if name == "events"]
    assert any(b[0] <= a[1] and a[0] <= b[1] for a, b in zip(events, events[1:]))  # overlap
    assert any(b[0] < a[0] for a, b in zip(events, events[1:]))  # a late arrival


def test_windows_span_two_days_and_carry_rows():
    """The reference re-fetches the last two days; at the benchmark's scale
    every window holds real rows of both feeds."""
    import datetime as dt

    tables = gen.make_tables(5, gen.SCALE)
    wins = gen.refresh_windows(5, tables, 24)
    for name, lo, hi, rows in wins:
        assert dt.date.fromisoformat(hi) - dt.date.fromisoformat(lo) == dt.timedelta(days=1)
        assert rows.num_rows >= {"events": 1000, "orders": 10}[name], (name, lo, rows.num_rows)


def test_windows_agree_on_shared_ids():
    """Every window is cut from one current state, so the merge result
    cannot depend on arrival order."""
    tables = gen.make_tables(4, 0.1)
    seen: dict[tuple, tuple] = {}
    for name, _lo, _hi, rows in gen.refresh_windows(4, tables, 30):
        idc = {"events": "event_id", "orders": "o_orderkey"}[name]
        for r in rows.to_pylist():
            key = (name, r[idc])
            row = tuple(sorted(r.items()))
            assert seen.setdefault(key, row) == row


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]  # 1..100
    v, p, n = stats.tail(xs)
    assert (v, p, n) == (90.0, 90.0, 100)
    assert sum(1 for x in xs if x > v) == 10
    v, p, n = stats.tail(list(range(1, 31)))
    assert v == 20 and sum(1 for x in range(1, 31) if x > v) == 10
    assert p == pytest.approx(100 * 20 / 30)


def test_tail_with_too_few_samples_is_the_max():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert stats.tail([float(i) for i in range(10)]) == (9.0, 100.0, 10)
    v, _p, _n = stats.tail([float(i) for i in range(11)])
    assert v == 0.0  # eleven samples: the lowest one has ten beyond it
    with pytest.raises(ValueError):
        stats.tail([])


def test_self_time_subtracts_children():
    spans = [
        Span("parent", 0.0, 10.0),
        Span("child", 1.0, 3.0, parent=0),
        Span("child", 5.0, 6.0, parent=0),
        Span("grandchild", 1.5, 2.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([7.0, 1.5, 1.0, 0.5])


def test_self_time_overlapping_and_overhanging_children():
    spans = [
        Span("parent", 0.0, 10.0),
        Span("a", 2.0, 6.0, parent=0),
        Span("b", 4.0, 8.0, parent=0),   # overlaps a: union is 2..8
        Span("c", 9.0, 12.0, parent=0),  # clipped to the parent's end
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_nests_spans_per_thread_and_summarises():
    tr = Tracer(True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == 0 and outer.parent is None
    summ = tr.summary()
    assert summ["outer"]["calls"] == 1
    assert summ["outer"]["self_s"] == pytest.approx(summ["outer"]["s"] - summ["inner"]["s"])


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        tr.count("n")
    assert tr.spans == [] and not tr.counts


def test_benchmark_json_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    assert len(names) == len(set(names))
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def test_benchmark_json_matches_the_runner():
    """Workload names are the runner's, and the per-layer list is exactly
    what the traced worker reports."""
    import run
    import worker

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS == tuple(worker.WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == set(run.UNITS)
    assert {m["name"] for m in spec["per_layer"]} == set(worker.LAYER_METRICS)


def test_recorded_fingerprints_match_the_oracles():
    """fingerprints.json is what DuckDB's oracle SQL gives on the nightly
    tables; rewrite it with ``python3 perfbench/checks.py --record``."""
    import checks

    assert checks.oracle_fingerprints() == checks.recorded_fingerprints()
