"""Global-window boundedness lint (round-10 verdict order #3).

Spark executes an unpartitioned ``Window.orderBy(...)`` — and an empty
``Window.partitionBy()`` total-frame — on a SINGLE partition ("No Partition
Defined for Window operation" warning).  That is fine, and deliberately
used, when the window's input is a bounded frame (a log-bucket offset
table, a per-source rollup, a daily calendar, a top-k head); it is the
classic 100×-scale killer when the input grows with the corpus.  Until
this test, the boundedness invariant lived in docstrings and SCALE.md
prose — one new unbounded global window would have shipped silently.

The lint walks the engine source with ``ast`` and extracts every
``Window.orderBy(...)`` call and every zero-arg ``Window.partitionBy()``,
keyed by (module, enclosing function).  Every site must appear in the
ALLOWLIST below with an explicit bounding argument, and the allowlist must
not carry stale entries — so ADDING a global window without justifying it
here fails, and so does deleting one without pruning the list.  The
synthetic-violation test proves the collector actually fires.

SCALE.md's per-family sections give the long-form versions of these
arguments; this file is the enforcement point.
"""

from __future__ import annotations

import ast
import os

ENGINE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "basin_climbing_data_pipeline_spark",
)

# Bounding-argument vocabulary (shared by many sites):
CAL = "global daily-calendar frame — one row per day, calendar-bounded"
BUCKET = "log-bucket/offset table from bucketed_prefix_rank (≤ ~610 rows)"
VOCAB = "collapsed vocabulary counts frame (distinct tokens/values, not raw rows)"
SRC = "per-source/segment rollup — rows ≤ sources × segments (dozens)"
TOPK = "input pre-limited to a top-k head before the window"
GRID = "fixed statistical grid (steps/tiers/bands/replicates — constant rows)"
KM = "distinct event-time grid, bounded by the duration horizon"
RESERVOIR = "bounded reservoir (≤ K rows, re-limited per micro-batch)"

# (module-relative path, enclosing function) -> (
#     n_global_orderBy, n_empty_partitionBy, bounding argument)
ALLOWLIST: dict[tuple[str, str], tuple[int, int, str]] = {
    ("streaming/events_stream.py", "weighted_sample_fold"): (1, 0, RESERVOIR),
    ("operators/sampling.py", "temperature_mixture_weights"): (0, 1, SRC),
    ("operators/sampling.py", "stratified_sample_alloc"): (1, 0, SRC),
    ("operators/sampling.py", "weighted_reservoir_sample"): (1, 0, TOPK),
    ("operators/sampling.py", "dsir_selection"): (0, 2, GRID + " (DSIR_BUCKETS model)"),
    ("operators/textstats.py", "eb_shrunk_source_quality"): (0, 1, SRC),
    ("operators/textstats.py", "lang_id_macro_f1"): (0, 1, SRC + " (langs² confusion matrix)"),
    ("operators/textstats.py", "jackknife_source_mean"): (3, 1, SRC + " (leave-one-source-out frame)"),
    ("operators/textstats.py", "bigram_interp_logprob"): (0, 1, VOCAB),
    ("operators/textstats.py", "vocab_coverage"): (1, 0, VOCAB),
    ("operators/textstats.py", "pmi_collocations"): (0, 2, VOCAB + " (bigram-type counts)"),
    ("operators/textstats.py", "source_token_entropy"): (0, 1, SRC),
    ("operators/textstats.py", "unigram_logprob_quality"): (0, 1, VOCAB),
    ("operators/textstats.py", "zipf_slope"): (1, 0, VOCAB + " (first-occurrence rank head)"),
    ("operators/dedup.py", "quality_dup_lift"): (0, 1, GRID + " (dup-class × quality-band)"),
    ("operators/dedup.py", "cluster_size_distribution"): (1, 1, BUCKET + " (size spectrum)"),
    # theilsen_revenue_trend delegates to theilsen_trend_bucketed since the
    # round-12 optimization (no global window of its own anymore)
    ("operators/transactions.py", "theilsen_trend_bucketed"): (1, 1, CAL),
    ("operators/transactions.py", "daily_revenue_acf"): (2, 0, CAL),
    ("operators/transactions.py", "seasonal_decomposition_daily"): (1, 0, CAL),
    ("operators/transactions.py", "revenue_changepoint"): (2, 0, CAL),
    ("operators/transactions.py", "page_hinkley_revenue_drift"): (2, 0, CAL),
    ("operators/transactions.py", "jarque_bera_daily_revenue"): (2, 0, CAL),
    ("operators/transactions.py", "durbin_watson_revenue"): (1, 1, CAL),
    ("operators/transactions.py", "runs_test_revenue"): (2, 1, CAL),
    ("operators/memberships.py", "membership_survival_km"): (2, 1, KM),
    ("operators/memberships.py", "survival_logrank_by_frequency"): (1, 1, KM),
    ("operators/memberships.py", "_km_risk_frame"): (1, 1, KM),
    ("operators/memberships.py", "intro_offer_conversion_summary"): (0, 1, GRID + " (offer summary rollup)"),
    ("operators/memberships.py", "churn_hazard_by_tenure"): (2, 1, GRID + " (tenure-month grid)"),
    ("operators/memberships.py", "nelson_aalen_hazard"): (1, 0, KM),
    ("operators/memberships.py", "km_greenwood_ci"): (1, 0, KM),
    ("operators/memberships.py", "rmst_membership"): (1, 0, KM),
    ("operators/cohorts.py", "event_funnel"): (1, 0, GRID + " (3-row funnel)"),
    ("operators/cohorts.py", "spend_deciles"): (1, 0, BUCKET),
    ("operators/cohorts.py", "_decile_rollup"): (0, 1, GRID + " (≤10 deciles)"),
    ("operators/cohorts.py", "revenue_pareto_shares"): (0, 1, GRID + " (share tiers)"),
    ("operators/cohorts.py", "rank_before"): (1, 0, VOCAB + " (per-distinct-value rollup)"),
    ("operators/quality.py", "join_key_skew_audit"): (1, 0, TOPK),
    ("operators/quality.py", "chisq_category_source"): (0, 1, SRC),
    ("operators/quality.py", "benford_amount_audit"): (0, 1, GRID + " (9 leading digits)"),
    ("operators/quality.py", "mutual_info_category_source"): (0, 1, SRC),
    ("operators/quality.py", "jsd_source_categories"): (0, 1, SRC),
    ("operators/experiments.py", "bootstrap_spend_ci"): (1, 0, GRID + " (B bootstrap replicates)"),
    ("operators/experiments.py", "cuped_variance_reduction"): (0, 1, GRID + " (2-arm scalar frame)"),
    ("operators/experiments.py", "bh_fdr_category_tests"): (2, 1, GRID + " (per-category tests)"),
    ("operators/experiments.py", "cochran_armitage_trend"): (0, 1, GRID + " (spend bands)"),
    ("operators/experiments.py", "anova_spend_by_segment"): (2, 1, SRC + " (segment moments)"),
    ("operators/experiments.py", "kruskal_wallis_spend"): (2, 1, BUCKET + " + segment moments"),
    ("operators/experiments.py", "levene_brown_forsythe"): (2, 1, SRC + " (segment moments)"),
    ("operators/experiments.py", "sequential_probe_obf"): (1, 0, GRID + " (k interim looks)"),
    ("operators/events.py", "activity_heatmap"): (0, 1, GRID + " (7×24 heatmap)"),
    ("operators/sketches.py", "histogram_quantiles"): (2, 2, BUCKET),
    ("operators/sketches.py", "sketch_decile_cuts"): (1, 1, BUCKET),
    ("operators/sketches.py", "sketch_decile_assignment"): (1, 0, BUCKET),
}


def collect_global_window_sites(src: str) -> dict[str, list[int]]:
    """{function: [n_global_orderBy, n_empty_partitionBy]} for one module.

    Flags ``Window.orderBy(...)`` (chain base — a global sort) and
    ``Window.partitionBy()`` with zero arguments (a total frame, same
    single-partition execution).  ``Window.partitionBy(keys...)`` chains
    are the partitioned fast path and are ignored.
    """
    tree = ast.parse(src)
    funcs = [
        (n.lineno, n.end_lineno, n.name)
        for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef)
    ]

    def enclosing(lineno: int) -> str:
        best = None
        for a, b, name in funcs:
            if a <= lineno <= b and (best is None or a > best[0]):
                best = (a, name)
        return best[1] if best else "<module>"

    # resolve import aliases so `from pyspark.sql import Window as W` can't
    # evade the lint (round-11 ADVICE); attribute-qualified references
    # (pyspark.sql.Window.orderBy, window_mod.Window.orderBy) match below
    # by the chain base's terminal attribute name.
    aliases = {"Window"}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            for a in node.names:
                if a.name == "Window":
                    aliases.add(a.asname or a.name)

    def is_window_base(expr: ast.expr) -> bool:
        if isinstance(expr, ast.Name):
            return expr.id in aliases
        return isinstance(expr, ast.Attribute) and expr.attr == "Window"

    out: dict[str, list[int]] = {}
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            continue
        f = node.func
        if not is_window_base(f.value):
            continue
        key = enclosing(node.lineno)
        if f.attr == "orderBy":
            out.setdefault(key, [0, 0])[0] += 1
        elif f.attr == "partitionBy" and not node.args and not node.keywords:
            out.setdefault(key, [0, 0])[1] += 1
    return out


def _scan_engine() -> dict[tuple[str, str], tuple[int, int]]:
    observed: dict[tuple[str, str], tuple[int, int]] = {}
    for dirpath, _dirs, files in os.walk(ENGINE_ROOT):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, ENGINE_ROOT)
            for func, (n_ob, n_pb) in collect_global_window_sites(
                open(path).read()
            ).items():
                observed[(rel, func)] = (n_ob, n_pb)
    return observed


def test_every_global_window_site_is_allowlisted_with_a_bounding_argument():
    observed = _scan_engine()
    allowed = {k: (a, b) for k, (a, b, _why) in ALLOWLIST.items()}
    new = {k: v for k, v in observed.items() if k not in allowed}
    assert not new, (
        "UNJUSTIFIED global window site(s) — an unpartitioned Window.orderBy "
        "or empty Window.partitionBy() moves ALL input rows to one partition; "
        "either partition the window or prove the input frame is bounded and "
        "add the site to ALLOWLIST with its bounding argument: "
        f"{sorted(new)}"
    )
    stale = {k: v for k, v in allowed.items() if k not in observed}
    assert not stale, f"stale ALLOWLIST entries (site removed — prune): {sorted(stale)}"
    drift = {
        k: (observed[k], allowed[k]) for k in observed if observed[k] != allowed[k]
    }
    assert not drift, (
        "global-window site COUNT changed (observed vs allowlisted) — re-justify: "
        f"{drift}"
    )


def test_lint_goes_red_on_a_synthetic_violation():
    """The collector must actually fire on the pattern it polices — both
    the global orderBy form and the empty-partitionBy total frame."""
    synthetic = (
        "from pyspark.sql import Window, functions as F\n"
        "def sneaky_global_rank(df):\n"
        "    w = Window.orderBy(F.desc('x'))\n"
        "    t = Window.partitionBy()\n"
        "    ok = Window.partitionBy('k').orderBy('x')  # partitioned: ignored\n"
        "    return df.withColumn('r', F.row_number().over(w))\n"
    )
    sites = collect_global_window_sites(synthetic)
    assert sites == {"sneaky_global_rank": [1, 1]}


def test_lint_sees_through_aliased_and_qualified_window_references():
    """Evasion coverage (round-11 ADVICE): an import alias, a fully-
    qualified pyspark.sql.Window, and a module-attribute Window must all
    count like the literal name — none exist in the engine today, and
    this keeps it that way."""
    synthetic = (
        "import pyspark.sql\n"
        "from pyspark.sql import window as wmod\n"
        "from pyspark.sql import Window as W\n"
        "def aliased(df):\n"
        "    a = W.orderBy('x')\n"
        "    b = pyspark.sql.Window.orderBy('x')\n"
        "    c = wmod.Window.partitionBy()\n"
        "    ok = W.partitionBy('k').orderBy('x')\n"
        "    return df\n"
    )
    sites = collect_global_window_sites(synthetic)
    assert sites == {"aliased": [2, 1]}
    assert ("operators/synthetic.py", "sneaky_global_rank") not in ALLOWLIST
