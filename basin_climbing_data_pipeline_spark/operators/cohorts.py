"""Cohort & aggregation analytics: conversion cohorts, rollup snapshots,
top-k, per-group mode, proportional distribution, group-size filters, set ops.

Re-expresses the reference's analytics layer:

- conversion cohort matrix with maturity suppression (reference
  build_conversion_rate_analysis.py:327-432 — rates become NULL when the
  window hasn't closed by as_of)
- period snapshots with an 'all' rollup (reference :435-545) via grouping
  sets
- top-N after count (reference build_customer_master.py:439)
- per-group mode with deterministic tie-break (reference
  link_refunds_to_categories.py:122-134)
- proportional distribution of unlinked refunds with deterministic
  largest-gets-remainder allocation (reference :143-200 positional
  round-robin → exact integer-cents shares here)
- family group-size filter: same last name + same date, ≥2 people
  (reference identify_family_day_passes.py:54-71)
- set ops: except (reference build_customer_master.py:309-315), covisit
  intersection (reference build_family_relationships.py:313-336), pairwise
  combinations within purchase groups (reference
  build_customer_interactions.py:93-115)

All rates use fixed-point ratios; all money uses integer cents (see
functions/money.py) so Spark and DuckDB hash identically.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import (
    dec38,
    dec38_prod,
    ratio,
    ratio_sql,
    sum_money,
    sum_money_sql,
    to_cents,
    to_cents_sql,
)

COHORT_AS_OF = dt.date(2024, 1, 20)  # mid-stream: later visits are immature

# ---------------------------------------------------------------------------
# conversion cohorts (A11)
# ---------------------------------------------------------------------------


def _day_pass_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-pass-ish visits (GUE/ENT entries) with per-customer visit numbers
    and the customer's first 2024-membership start."""
    from .events import build_checkins
    from .memberships import build_memberships_2024

    ck = build_checkins(spark, sf_dir).filter(F.col("entry_method").isin("GUE", "ENT"))
    w = Window.partitionBy("customer_id").orderBy("checkin_ts_us", "checkin_id")
    visits = ck.withColumn("visit_number", F.row_number().over(w))
    first_m = (
        build_memberships_2024(spark, sf_dir)
        .groupBy("owner_id")
        .agg(F.min("start_date").alias("first_membership_start"))
    )
    return visits.join(first_m, visits.customer_id == first_m.owner_id, "left").drop("owner_id")


_DAY_PASS_VISITS_SQL_TMPL = """
ck AS ({checkins}),
dp AS (
  SELECT *, row_number() OVER (PARTITION BY customer_id ORDER BY checkin_ts_us, checkin_id)
            AS visit_number
  FROM ck WHERE entry_method IN ('GUE', 'ENT')
),
m AS ({memberships}),
first_m AS (
  SELECT owner_id, min(start_date) AS first_membership_start FROM m GROUP BY owner_id
),
visits AS (
  SELECT dp.*, first_m.first_membership_start
  FROM dp LEFT JOIN first_m ON dp.customer_id = first_m.owner_id
)
"""


def _visits_sql() -> str:
    from .events import checkins_sql
    from .memberships import memberships_2024_sql

    return _DAY_PASS_VISITS_SQL_TMPL.format(
        checkins=checkins_sql(), memberships=memberships_2024_sql()
    )


CONVERSION_WINDOWS = (7, 30, 60, 90)  # reference build_conversion_rate_analysis.py:327-432


def conversion_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort week × visit category: entries, customers, and 7/30/60/90-day
    conversion rates, each window's rate suppressed to NULL until the window
    has closed by as_of (per-window maturity, reference
    build_conversion_rate_analysis.py:327-432; at this as_of the 60/90-day
    windows are entirely immature and report NULL, exactly as the reference
    does for young cohorts)."""
    visits = _day_pass_visits(spark, sf_dir)
    as_of = F.lit(COHORT_AS_OF.strftime("%Y-%m-%d")).cast("date")
    cat = (
        F.when(F.col("visit_number") == 1, "visit_1")
        .when(F.col("visit_number") <= 3, "visit_2_3")
        .otherwise("visit_4_plus")
    )
    fm = F.col("first_membership_start")
    conv = lambda days: (
        fm.isNotNull()
        & (fm >= F.col("checkin_date"))
        & (fm <= F.date_add(F.col("checkin_date"), days))
    )
    mature = lambda days: F.date_add(F.col("checkin_date"), days) <= as_of
    cols = [
        F.to_date(F.date_trunc("week", F.col("checkin_date"))).alias("cohort_week"),
        cat.alias("visit_category"),
        F.col("customer_id"),
    ]
    for d in CONVERSION_WINDOWS:
        cols.append(conv(d).cast("int").alias(f"conv{d}"))
        cols.append(mature(d).cast("int").alias(f"mat{d}"))
    enriched = visits.select(*cols)
    aggs = [
        F.count("*").alias("entries"),
        F.countDistinct("customer_id").alias("n_customers"),
    ]
    for d in CONVERSION_WINDOWS:
        aggs.append(F.sum(F.col(f"conv{d}") * F.col(f"mat{d}")).alias(f"conv{d}_mature"))
        aggs.append(F.sum(f"mat{d}").alias(f"entries_mature{d}"))
    agg = enriched.groupBy("cohort_week", "visit_category").agg(*aggs)
    out = ["cohort_week", "visit_category", "entries", "n_customers"]
    for d in CONVERSION_WINDOWS:
        out.append(
            F.when(
                F.col(f"entries_mature{d}") > 0,
                ratio(F.col(f"conv{d}_mature"), F.col(f"entries_mature{d}"), 4),
            ).alias(f"conv_rate_{d}d")
        )
    return agg.select(*out).orderBy("cohort_week", "visit_category")


def conversion_cohorts_sql() -> str:
    as_of = f"DATE '{COHORT_AS_OF.strftime('%Y-%m-%d')}'"
    conv_cols = "".join(
        f""",
         (first_membership_start IS NOT NULL
          AND first_membership_start >= checkin_date
          AND first_membership_start <= checkin_date + {d})::int AS conv{d},
         (checkin_date + {d} <= {as_of})::int AS mat{d}"""
        for d in CONVERSION_WINDOWS
    )
    agg_cols = "".join(
        f""",
         sum(conv{d} * mat{d}) AS conv{d}_mature, sum(mat{d}) AS entries_mature{d}"""
        for d in CONVERSION_WINDOWS
    )
    rate_cols = "".join(
        f""",
       CASE WHEN entries_mature{d} > 0
            THEN {ratio_sql(f'conv{d}_mature', f'entries_mature{d}', 4)} END AS conv_rate_{d}d"""
        for d in CONVERSION_WINDOWS
    )
    return f"""
WITH {_visits_sql()},
enriched AS (
  SELECT date_trunc('week', checkin_date)::date AS cohort_week,
         CASE WHEN visit_number = 1 THEN 'visit_1'
              WHEN visit_number <= 3 THEN 'visit_2_3'
              ELSE 'visit_4_plus' END AS visit_category,
         customer_id{conv_cols}
  FROM visits
),
agg AS (
  SELECT cohort_week, visit_category,
         count(*) AS entries,
         count(DISTINCT customer_id) AS n_customers{agg_cols}
  FROM enriched GROUP BY 1, 2
)
SELECT cohort_week, visit_category, entries, n_customers{rate_cols}
FROM agg
ORDER BY cohort_week, visit_category
"""


def period_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: weekly snapshot metrics per visit category plus an 'all' rollup
    row per week (grouping-sets re-expression of the reference's manual
    'all' concat), with per-window 7/30/60/90-day conversion rates under the
    same maturity suppression as :func:`conversion_cohorts` (reference
    build_conversion_rate_analysis.py:435-545)."""
    visits = _day_pass_visits(spark, sf_dir)
    as_of = F.lit(COHORT_AS_OF.strftime("%Y-%m-%d")).cast("date")
    cat = (
        F.when(F.col("visit_number") == 1, "visit_1")
        .when(F.col("visit_number") <= 3, "visit_2_3")
        .otherwise("visit_4_plus")
    )
    fm = F.col("first_membership_start")
    conv = lambda days: (
        fm.isNotNull()
        & (fm >= F.col("checkin_date"))
        & (fm <= F.date_add(F.col("checkin_date"), days))
    )
    mature = lambda days: F.date_add(F.col("checkin_date"), days) <= as_of
    cols = [
        F.to_date(F.date_trunc("week", F.col("checkin_date"))).alias("week"),
        cat.alias("visit_category"),
        "customer_id",
        (fm.isNotNull() & (fm >= F.col("checkin_date"))).cast("int").alias("converted_ever"),
    ]
    for d in CONVERSION_WINDOWS:
        cols.append(conv(d).cast("int").alias(f"conv{d}"))
        cols.append(mature(d).cast("int").alias(f"mat{d}"))
    base = visits.select(*cols)
    aggs = [
        F.count("*").alias("entries"),
        F.countDistinct("customer_id").alias("n_customers"),
        F.sum("converted_ever").alias("conversions"),
    ]
    for d in CONVERSION_WINDOWS:
        aggs.append(F.sum(F.col(f"conv{d}") * F.col(f"mat{d}")).alias(f"conv{d}_mature"))
        aggs.append(F.sum(f"mat{d}").alias(f"entries_mature{d}"))
    rolled = (
        base.rollup("week", "visit_category")
        .agg(*aggs)
        .filter(F.col("week").isNotNull())  # keep (week) and (week, cat) sets
    )
    out = [
        F.col("week"),
        F.coalesce("visit_category", F.lit("all")).alias("visit_category"),
        F.col("entries"),
        F.col("n_customers"),
        F.col("conversions"),
    ]
    for d in CONVERSION_WINDOWS:
        out.append(
            F.when(
                F.col(f"entries_mature{d}") > 0,
                ratio(F.col(f"conv{d}_mature"), F.col(f"entries_mature{d}"), 4),
            ).alias(f"conv_rate_{d}d")
        )
    return rolled.select(*out).orderBy("week", "visit_category")


def period_snapshots_sql() -> str:
    as_of = f"DATE '{COHORT_AS_OF.strftime('%Y-%m-%d')}'"
    conv_cols = "".join(
        f""",
         (first_membership_start IS NOT NULL
          AND first_membership_start >= checkin_date
          AND first_membership_start <= checkin_date + {d})::int AS conv{d},
         (checkin_date + {d} <= {as_of})::int AS mat{d}"""
        for d in CONVERSION_WINDOWS
    )
    rate_cols = "".join(
        f""",
       CASE WHEN sum(mat{d}) > 0
            THEN {ratio_sql(f'sum(conv{d} * mat{d})', f'sum(mat{d})', 4)} END
         AS conv_rate_{d}d"""
        for d in CONVERSION_WINDOWS
    )
    return f"""
WITH {_visits_sql()},
base AS (
  SELECT date_trunc('week', checkin_date)::date AS week,
         CASE WHEN visit_number = 1 THEN 'visit_1'
              WHEN visit_number <= 3 THEN 'visit_2_3'
              ELSE 'visit_4_plus' END AS visit_category,
         customer_id,
         (first_membership_start IS NOT NULL
          AND first_membership_start >= checkin_date)::int AS converted_ever{conv_cols}
  FROM visits
)
SELECT week, coalesce(visit_category, 'all') AS visit_category,
       count(*) AS entries,
       count(DISTINCT customer_id) AS n_customers,
       CAST(sum(converted_ever) AS BIGINT) AS conversions{rate_cols}
FROM base
GROUP BY GROUPING SETS ((week, visit_category), (week))
ORDER BY week, visit_category
"""


# ---------------------------------------------------------------------------
# top-k / mode / distribution
# ---------------------------------------------------------------------------


def top_spenders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 top-N after aggregation, deterministic tie-break on id."""
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    return (
        txn.groupBy("customer_id")
        .agg(
            sum_money(F.col("total_amount")).alias("net_spend"),
            F.count("*").alias("n_txns"),
        )
        .orderBy(F.desc("net_spend"), "customer_id")
        .limit(10)
    )


def top_spenders_sql() -> str:
    from .transactions import transactions_sql

    return f"""
WITH txn AS ({transactions_sql()})
SELECT customer_id, {sum_money_sql('total_amount')} AS net_spend, count(*) AS n_txns
FROM txn GROUP BY customer_id
ORDER BY net_spend DESC, customer_id
LIMIT 10
"""


def customer_mode_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: each customer's most frequent revenue category — count + rank
    with explicit (count desc, category asc) tie-break, the deterministic
    re-expression of pandas ``.mode()[0]``."""
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    counts = txn.groupBy("customer_id", "revenue_category").agg(F.count("*").alias("n"))
    w = Window.partitionBy("customer_id").orderBy(F.desc("n"), "revenue_category")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("customer_id", F.col("revenue_category").alias("mode_category"), F.col("n").alias("n_txns"))
        .orderBy("customer_id")
    )


def customer_mode_category_sql() -> str:
    from .transactions import transactions_sql

    return f"""
WITH txn AS ({transactions_sql()}),
counts AS (
  SELECT customer_id, revenue_category, count(*) AS n
  FROM txn GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY customer_id
                               ORDER BY n DESC, revenue_category) AS rn
  FROM counts
)
SELECT customer_id, revenue_category AS mode_category, n AS n_txns
FROM ranked WHERE rn = 1
ORDER BY customer_id
"""


def refund_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: distribute each month's refund total across categories in
    proportion to gross revenue — exact integer-cents allocation
    (allocated = refund_cents × cat_gross_cents ÷ month_gross_cents, integer
    division) with the remainder cents assigned to the largest category.
    Deterministic in any engine, unlike the reference's positional
    round-robin (link_refunds_to_categories.py:143-200)."""
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    monthly = txn.groupBy(
        F.trunc("txn_date", "month").alias("month"), "revenue_category"
    ).agg(
        F.sum(
            F.when(F.col("total_amount") > 0, to_cents(F.col("total_amount"))).otherwise(0)
        ).alias("gross_cents"),
        F.sum(
            F.when(F.col("total_amount") < 0, -to_cents(F.col("total_amount"))).otherwise(0)
        ).alias("refund_cents"),
    )
    wm = Window.partitionBy("month")
    with_tot = monthly.withColumn("month_gross", F.sum("gross_cents").over(wm)).withColumn(
        "month_refunds", F.sum("refund_cents").over(wm)
    )
    # share computed in double (identical IEEE expression in both engines →
    # deterministic); a pure BIGINT multiply overflows at large scale
    alloc = F.expr(
        "CASE WHEN month_gross > 0 THEN "
        "CAST(floor(month_refunds * (CAST(gross_cents AS DOUBLE) / month_gross)) AS BIGINT) "
        "ELSE 0 END"
    )
    with_alloc = with_tot.withColumn("alloc_cents", alloc).withColumn(
        "rn", F.row_number().over(wm.orderBy(F.desc("gross_cents"), "revenue_category"))
    )
    wsum = Window.partitionBy("month")
    final = with_alloc.withColumn(
        "alloc_total", F.sum("alloc_cents").over(wsum)
    ).withColumn(
        "alloc_cents_fixed",
        F.when(
            F.col("rn") == 1,
            F.col("alloc_cents") + (F.col("month_refunds") - F.col("alloc_total")),
        ).otherwise(F.col("alloc_cents")),
    )
    return final.select(
        "month",
        "revenue_category",
        (F.col("alloc_cents_fixed") / 100.0).alias("allocated_refund"),
        (F.col("gross_cents") / 100.0).alias("gross_revenue"),
    ).orderBy("month", "revenue_category")


def refund_distribution_sql() -> str:
    from .transactions import transactions_sql

    pos = f"CASE WHEN total_amount > 0 THEN {to_cents_sql('total_amount')} ELSE 0 END"
    neg = f"CASE WHEN total_amount < 0 THEN -{to_cents_sql('total_amount')} ELSE 0 END"
    return f"""
WITH txn AS ({transactions_sql()}),
monthly AS (
  SELECT date_trunc('month', txn_date)::date AS month, revenue_category,
         sum({pos}) AS gross_cents, sum({neg}) AS refund_cents
  FROM txn GROUP BY 1, 2
),
with_tot AS (
  SELECT *, sum(gross_cents) OVER (PARTITION BY month) AS month_gross,
            sum(refund_cents) OVER (PARTITION BY month) AS month_refunds,
            row_number() OVER (PARTITION BY month
                               ORDER BY gross_cents DESC, revenue_category) AS rn
  FROM monthly
),
with_alloc AS (
  SELECT *, CASE WHEN month_gross > 0 THEN
              CAST(floor(month_refunds * (gross_cents::DOUBLE / month_gross)) AS BIGINT)
            ELSE 0 END AS alloc_cents
  FROM with_tot
),
final AS (
  SELECT *, sum(alloc_cents) OVER (PARTITION BY month) AS alloc_total
  FROM with_alloc
)
SELECT month, revenue_category,
       (CASE WHEN rn = 1 THEN alloc_cents + (month_refunds - alloc_total)
             ELSE alloc_cents END) / 100.0 AS allocated_refund,
       gross_cents / 100.0 AS gross_revenue
FROM final
ORDER BY month, revenue_category
"""


# ---------------------------------------------------------------------------
# group-size filter + set ops
# ---------------------------------------------------------------------------


def family_day_pass_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: ≥2 people sharing a last name checking in the same day (reference
    identify_family_day_passes.py:54-71) — window count over (last_name, date)."""
    from .customers import build_customers
    from .events import build_checkins

    ck = build_checkins(spark, sf_dir).select("customer_id", "checkin_date")
    cust = build_customers(spark, sf_dir).select("customer_id", "last_name")
    joined = ck.join(F.broadcast(cust), "customer_id").distinct()
    return (
        joined.groupBy("last_name", "checkin_date")
        .agg(
            F.countDistinct("customer_id").alias("group_size"),
            F.array_join(F.sort_array(F.collect_set("customer_id")), ",").alias("member_ids"),
        )
        .filter(F.col("group_size") >= 2)
        .orderBy("last_name", "checkin_date")
    )


def family_day_pass_groups_sql() -> str:
    from .customers import customers_sql
    from .events import checkins_sql

    return f"""
WITH ck AS ({checkins_sql()}),
cust AS ({customers_sql()}),
joined AS (
  SELECT DISTINCT ck.customer_id, ck.checkin_date, cust.last_name
  FROM ck JOIN cust ON ck.customer_id = cust.customer_id
)
SELECT last_name, checkin_date,
       count(DISTINCT customer_id) AS group_size,
       array_to_string(list_sort(list_distinct(list(customer_id))), ',') AS member_ids
FROM joined
GROUP BY 1, 2 HAVING count(DISTINCT customer_id) >= 2
ORDER BY last_name, checkin_date
"""


def members_minus_active_owners(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 except: customers with MEM-method checkins who do NOT own an active
    2024 membership (the reference's family-member inference,
    build_customer_master.py:309-315)."""
    from .events import build_checkins
    from .memberships import build_memberships_2024

    mem_checkers = (
        build_checkins(spark, sf_dir)
        .filter(F.col("entry_method") == "MEM")
        .select("customer_id")
        .distinct()
    )
    active_owners = (
        build_memberships_2024(spark, sf_dir)
        .filter(F.col("status") == "ACT")
        .select(F.col("owner_id").alias("customer_id"))
        .distinct()
    )
    return mem_checkers.exceptAll(active_owners).orderBy("customer_id")


def members_minus_active_owners_sql() -> str:
    from .events import checkins_sql
    from .memberships import memberships_2024_sql

    return f"""
WITH ck AS ({checkins_sql()}),
m AS ({memberships_2024_sql()})
SELECT DISTINCT customer_id FROM ck WHERE entry_method = 'MEM'
EXCEPT
SELECT DISTINCT owner_id FROM m WHERE status = 'ACT'
ORDER BY customer_id
"""


def parent_child_covisits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 intersection: shared checkin dates between each child and their
    direct parent (reference covisit tie-break,
    build_family_relationships.py:313-336)."""
    from .customers import build_customers
    from .events import build_checkins

    ck = build_checkins(spark, sf_dir).select("customer_id", "checkin_date").distinct()
    pairs = (
        build_customers(spark, sf_dir)
        .filter(F.col("is_child"))
        .select(
            F.col("customer_id").alias("child_id"),
            F.col("parent_customer_id").alias("parent_id"),
        )
    )
    child_ck = ck.select(
        F.col("customer_id").alias("child_id"), F.col("checkin_date").alias("shared_date")
    )
    parent_ck = ck.select(
        F.col("customer_id").alias("parent_id"), F.col("checkin_date").alias("shared_date")
    )
    return (
        pairs.join(child_ck, "child_id")
        .join(parent_ck, ["parent_id", "shared_date"])
        .groupBy("child_id", "parent_id")
        .agg(F.countDistinct("shared_date").alias("shared_dates"))
        .orderBy("child_id")
    )


def parent_child_covisits_sql() -> str:
    from .customers import customers_sql
    from .events import checkins_sql

    return f"""
WITH ck AS ({checkins_sql()}),
dates AS (SELECT DISTINCT customer_id, checkin_date FROM ck),
cust AS ({customers_sql()}),
pairs AS (
  SELECT customer_id AS child_id, parent_customer_id AS parent_id
  FROM cust WHERE is_child
)
SELECT p.child_id, p.parent_id, count(DISTINCT c.checkin_date) AS shared_dates
FROM pairs p
JOIN dates c ON c.customer_id = p.child_id
JOIN dates a ON a.customer_id = p.parent_id AND a.checkin_date = c.checkin_date
GROUP BY 1, 2
ORDER BY p.child_id
"""


def same_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 pairwise combinations within groups: distinct customers sharing a
    purchase signature (same date + same item description) — the reference's
    itertools.combinations re-expressed as a within-group self-join with
    id1 < id2 (reference build_customer_interactions.py:93-115)."""
    from .transactions import build_transactions

    txn = (
        build_transactions(spark, sf_dir)
        .filter(F.col("total_amount") > 0)
        .select("customer_id", "txn_date", "description")
        .distinct()
    )
    a, b = txn.alias("a"), txn.alias("b")
    return (
        a.join(
            b,
            (F.col("a.txn_date") == F.col("b.txn_date"))
            & (F.col("a.description") == F.col("b.description"))
            & (F.col("a.customer_id") < F.col("b.customer_id")),
        )
        .groupBy(
            F.col("a.customer_id").alias("customer_id_1"),
            F.col("b.customer_id").alias("customer_id_2"),
        )
        .agg(F.count("*").alias("n_shared_purchases"))
        .orderBy("customer_id_1", "customer_id_2")
    )


def same_purchase_pairs_sql() -> str:
    from .transactions import transactions_sql

    return f"""
WITH txn AS ({transactions_sql()}),
sig AS (
  SELECT DISTINCT customer_id, txn_date, description
  FROM txn WHERE total_amount > 0
)
SELECT a.customer_id AS customer_id_1, b.customer_id AS customer_id_2,
       count(*) AS n_shared_purchases
FROM sig a JOIN sig b
  ON a.txn_date = b.txn_date AND a.description = b.description
 AND a.customer_id < b.customer_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# ordered event funnel
# ---------------------------------------------------------------------------

FUNNEL_HOP_US = 3_600_000_000  # each step must follow the previous within 1h


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order conversion funnel over the raw event stream: first
    'view' per user → first 'click' within FUNNEL_HOP_US after it → first
    'purchase' within FUNNEL_HOP_US after that click.  Output is one row
    per step with the surviving-user count and the conversion rate from
    the previous step — the product-analytics query every event pipeline
    ships (the reference's at-risk/conversion reports are the same shape
    over membership events; build_conversion_rate_analysis.py:327-432).

    Scale shape: each step is a per-user min-aggregate joined user-to-user
    (co-hashed on user_id, map-side partial min); no window over the raw
    stream, no self-join on time.  The 3-row step summary is driver-safe
    by construction.  Strict ``>`` ordering + a bounded hop keeps the
    semantics watermark-friendly (the same funnel runs incrementally on a
    stream with per-user state = last step timestamps)."""
    from ..io import load_table

    base = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    v = (
        base.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    c = (
        base.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter((F.col("ts_us") > F.col("t1")) & (F.col("ts_us") <= F.col("t1") + FUNNEL_HOP_US))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    p = (
        base.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts_us") > F.col("t2")) & (F.col("ts_us") <= F.col("t2") + FUNNEL_HOP_US))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )
    steps = (
        v.agg(F.count("*").alias("n_users")).select(F.lit(1).alias("step"), F.lit("view").alias("event_type"), "n_users")
        .unionByName(
            c.agg(F.count("*").alias("n_users")).select(F.lit(2).alias("step"), F.lit("click").alias("event_type"), "n_users")
        )
        .unionByName(
            p.agg(F.count("*").alias("n_users")).select(F.lit(3).alias("step"), F.lit("purchase").alias("event_type"), "n_users")
        )
    )
    w = Window.orderBy("step")  # 3-row frame
    prev = F.lag("n_users").over(w)
    return steps.select(
        "step",
        "event_type",
        "n_users",
        # prev > 0 guard: under ANSI mode an unguarded ratio over an empty
        # prior step (zero users reached it) THROWS, aborting the job —
        # conversion out of nothing is NULL, matching the oracle's CASE
        F.when(prev.isNull(), F.lit(1.0))
        .when(prev > 0, ratio(F.col("n_users"), prev, 6))
        .alias("conversion"),
    ).orderBy("step")


def event_funnel_sql() -> str:
    hop = FUNNEL_HOP_US
    return f"""
WITH base AS (
  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us FROM events
),
v AS (
  SELECT user_id, min(ts_us) AS t1 FROM base WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT b.user_id, min(b.ts_us) AS t2
  FROM base b JOIN v USING (user_id)
  WHERE b.event_type = 'click' AND b.ts_us > v.t1 AND b.ts_us <= v.t1 + {hop}
  GROUP BY b.user_id
),
p AS (
  SELECT b.user_id, min(b.ts_us) AS t3
  FROM base b JOIN c USING (user_id)
  WHERE b.event_type = 'purchase' AND b.ts_us > c.t2 AND b.ts_us <= c.t2 + {hop}
  GROUP BY b.user_id
),
steps AS (
  SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM v
  UNION ALL
  SELECT 2, 'click', count(*) FROM c
  UNION ALL
  SELECT 3, 'purchase', count(*) FROM p
)
SELECT step, event_type, n_users,
       CASE WHEN lag(n_users) OVER (ORDER BY step) IS NULL THEN 1.0
            WHEN lag(n_users) OVER (ORDER BY step) > 0
            THEN {ratio_sql('n_users', 'lag(n_users) OVER (ORDER BY step)', 6)}
       END AS conversion
FROM steps
ORDER BY step
"""


def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event stream:
    for each (current → next) event-type pair, the transition count and
    row-normalized probability.  The sequence-analytics primitive behind
    next-action prediction and anomaly scoring (a transition whose
    probability collapses week-over-week is a behavior change).

    Scale shape: ONE window (partition by user, order by time) produces
    the lagged pairs — the same single-shuffle shape as visit_numbers —
    then a groupBy on the 5×5 pair space; the normalizing row total rides
    a window over that tiny matrix, never the event stream."""
    from pyspark.sql import Window as W

    from ..io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("next_event", F.lead("event_type").over(w))
        .filter(F.col("next_event").isNotNull())
        .groupBy(F.col("event_type").alias("from_event"), "next_event")
        .agg(F.count("*").alias("n"))
    )
    row_total = F.sum("n").over(W.partitionBy("from_event"))
    return (
        pairs.select(
            "from_event",
            "next_event",
            "n",
            ratio(F.col("n"), row_total, 6).alias("p"),
        )
        .orderBy("from_event", "next_event")
    )


def markov_transitions_sql() -> str:
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP), event_id
         ) AS next_event
  FROM events
),
pairs AS (
  SELECT event_type AS from_event, next_event, count(*) AS n
  FROM seq WHERE next_event IS NOT NULL
  GROUP BY 1, 2
)
SELECT from_event, next_event, n,
       {ratio_sql('n', 'sum(n) OVER (PARTITION BY from_event)', 6)} AS p
FROM pairs
ORDER BY from_event, next_event
"""


ANOMALY_Z_MICRO = 2_000_000  # flag days with |z| >= 2.0


def daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days whose event volume deviates ≥ 2σ from that event type's mean —
    the ops-alerting query over the daily count series (the reference
    eyeballs the same series in its dashboards; this is the automated
    form).

    Determinism note: the z-score needs a sqrt, but IEEE-754 sqrt is
    CORRECTLY ROUNDED (unlike ln/exp), so variance assembled from exact
    integer sums (Σn, Σn² over int64 day counts) gives bit-identical
    z-scores in any engine — no micro-int staging needed before the final
    rounding.

    Scale shape: events collapse to (type, day) counts in one shuffle;
    the per-type moments are a second tiny aggregation broadcast back
    onto the day rows (window over the day table, not the event stream)."""
    from pyspark.sql import Window as W

    from ..io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("d")
    )
    daily = ev.groupBy("event_type", "d").agg(F.count("*").alias("n"))
    wt = W.partitionBy("event_type")
    # exact integer moments over the per-type day series
    stats = (
        daily.withColumn("k", F.count("*").over(wt))
        .withColumn("s1", F.sum("n").over(wt))
        .withColumn("s2", F.sum(F.col("n") * F.col("n")).over(wt))
    )
    mean = F.col("s1") / F.col("k")
    # population variance from exact sums: E[x²] − E[x]²
    var = F.col("s2") / F.col("k") - mean * mean
    z = (F.col("n") - mean) / F.sqrt(var)
    return (
        # integer-exact positive-variance guard: k·Σn² > (Σn)² — a constant
        # series has no z-score, and 0/0 NaN casts diverge across engines
        stats.filter(
            (F.col("k") >= 2)
            & (F.col("s2") * F.col("k") > F.col("s1") * F.col("s1"))
        )
        .withColumn("z_micro", F.floor(z * 1000000.0 + 0.5).cast("long"))
        .filter(F.abs(F.col("z_micro")) >= ANOMALY_Z_MICRO)
        .select("event_type", "d", "n", "z_micro")
        .orderBy("event_type", "d")
    )


def daily_anomalies_sql() -> str:
    return f"""
WITH daily AS (
  SELECT event_type, ts::TIMESTAMP::date AS d, count(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, d, n,
         count(*) OVER w AS k,
         sum(n) OVER w AS s1,
         sum(n * n) OVER w AS s2
  FROM daily
  WINDOW w AS (PARTITION BY event_type)
)
SELECT event_type, d, n,
       floor((n - s1::double / k)
             / sqrt(s2::double / k - (s1::double / k) * (s1::double / k))
             * 1000000.0 + 0.5)::bigint AS z_micro
FROM stats
WHERE k >= 2
  AND s2 * k > s1 * s1
  AND abs(floor((n - s1::double / k)
                / sqrt(s2::double / k - (s1::double / k) * (s1::double / k))
                * 1000000.0 + 0.5)) >= {ANOMALY_Z_MICRO}
ORDER BY event_type, d
"""


# ---------------------------------------------------------------------------
# ntile decile segmentation
# ---------------------------------------------------------------------------

N_SPEND_DECILES = 10


def spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer lifetime-spend decile segmentation via the ``ntile`` window:
    rank every purchasing customer into N_SPEND_DECILES equal-size buckets
    and report per-decile size, spend range, and share of total revenue —
    the whale-curve table behind "top 10% of customers drive X%" (the
    reference's top-spenders head() report, build_customer_master.py:439,
    generalized to the full distribution).

    Determinism: ntile over an ORDER BY with a total order (spend cents
    desc, customer_id) assigns identical buckets in any engine — both
    Spark and DuckDB define ntile by row position with larger buckets
    first, so the tie-break ordering is the only thing that matters.

    Scale shape: the per-customer rollup shuffles once on customer_id;
    ntile then needs a global row order, which Spark executes as a
    single-partition window — fine over the ALREADY-AGGREGATED rows (one
    per customer) at this corpus, but a scale-killer at 1e9 customers.
    This function is therefore NOT the default API: callers go through
    :func:`customer_spend_deciles`, whose default is the sketch-cut path
    and which requires ``exact=True`` to opt in to this definition.  Exact
    ntile is kept as the oracle-checkable definition."""
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    per_cust = txn.groupBy("customer_id").agg(
        F.sum(to_cents(F.col("total_amount"))).alias("spend_cents")
    )
    w = Window.orderBy(F.desc("spend_cents"), "customer_id")
    tiled = per_cust.withColumn("decile", F.ntile(N_SPEND_DECILES).over(w))
    return _decile_rollup(tiled)


def _decile_rollup(tiled: DataFrame) -> DataFrame:
    """Whale-curve rollup over (customer_id, spend_cents, decile) rows —
    shared by the exact-ntile and sketch-cut decile paths."""
    rolled = tiled.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        (F.max("spend_cents") / 100.0).alias("max_spend"),
        (F.min("spend_cents") / 100.0).alias("min_spend"),
        (F.sum("spend_cents") / 100.0).alias("decile_spend"),
        F.sum("spend_cents").alias("_cents"),
    )
    # grand total as a window over the 10-row rollup — no 1-row scalar join
    t = F.sum("_cents").over(Window.partitionBy())
    return (
        rolled.select(
            "decile",
            "n_customers",
            "max_spend",
            "min_spend",
            "decile_spend",
            # t != 0 guard: refunds make spend signed, so a corpus netting
            # to exactly zero would THROW under ANSI division — share of
            # nothing is NULL on both engines
            F.when(
                t != 0,
                ratio(F.col("_cents").cast("double") * 100.0, t.cast("double"), 2),
            ).alias("pct_of_revenue"),
        )
        .orderBy("decile")
    )


def customer_spend_deciles(
    spark: SparkSession, sf_dir: str, *, exact: bool = False
) -> DataFrame:
    """THE decile API: whale-curve table (decile 1 = top spenders) with the
    scale-safe sketch path as the DEFAULT.

    ``exact=False`` (default) derives the 9 cut points from the log-bucket
    histogram sketch (:func:`sketches.sketch_decile_cuts` — one groupBy
    onto ≤ ~160 buckets, window math over that tiny table, then a 9-row
    broadcast and a map-side comparison; nothing ever needs a global row
    order).  ``exact=True`` is the oracle-checkable ntile definition
    (:func:`spend_deciles`), which puts one row per customer through a
    single-partition window — fine at audit scale, a scale-killer at 1e9
    customers, which is why a 100-TB caller has to OPT IN to it.

    The two paths differ only where ties straddle a sketch cut point
    (a value-based cut cannot split equal values the way a row-count tile
    does); ``sketch_decile_assignment`` measures that disagreement
    per-decile, and ``tests/test_scale_paths.py`` pins the bound.

    Output-shape caveat: on a concentrated spend distribution the sketch
    cuts can be equal/duplicated, making some decile numbers unreachable
    by the ``1 + |cuts >= spend|`` assignment — the default path may then
    emit FEWER than 10 rows, whereas ``exact=True``'s ntile always emits
    10.  Downstream consumers must key on the ``decile`` column, not on a
    fixed 10-row shape (``test_scale_paths`` pins 1..10 only for the
    current corpus)."""
    if exact:
        return spend_deciles(spark, sf_dir)
    from .sketches import sketch_decile_cuts
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    per_cust = txn.groupBy("customer_id").agg(
        F.sum(to_cents(F.col("total_amount"))).alias("spend_cents")
    )
    cuts = sketch_decile_cuts(per_cust.select(F.col("spend_cents").alias("cents")))
    # decile 1 = top spenders (spend above every cut), matching the exact
    # path's DESC ntile convention: 1 + |cuts >= spend|
    tiled = (
        per_cust.join(F.broadcast(cuts))
        .groupBy("customer_id", "spend_cents")
        .agg(
            (1 + F.sum((F.col("spend_cents") <= F.col("cut")).cast("int")))
            .cast("int")
            .alias("decile")
        )
    )
    return _decile_rollup(tiled)


def spend_deciles_sql() -> str:
    from .transactions import transactions_sql

    return f"""
WITH txn AS ({transactions_sql()}),
per_cust AS (
  SELECT customer_id, sum({to_cents_sql('total_amount')}) AS spend_cents
  FROM txn GROUP BY customer_id
),
tiled AS (
  SELECT *, ntile({N_SPEND_DECILES}) OVER (ORDER BY spend_cents DESC, customer_id)
         AS decile
  FROM per_cust
),
rolled AS (
  SELECT decile,
         count(*) AS n_customers,
         max(spend_cents) / 100.0 AS max_spend,
         min(spend_cents) / 100.0 AS min_spend,
         sum(spend_cents) / 100.0 AS decile_spend,
         sum(spend_cents) AS cents
  FROM tiled GROUP BY decile
)
SELECT decile, n_customers, max_spend, min_spend, decile_spend,
       CASE WHEN (SELECT sum(cents) FROM rolled) != 0
            THEN {ratio_sql('cents::double * 100.0', '(SELECT sum(cents) FROM rolled)::double', 2)}
       END AS pct_of_revenue
FROM rolled
ORDER BY decile
"""


# ---------------------------------------------------------------------------
# retention triangle (cohort survival matrix)
# ---------------------------------------------------------------------------


def retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: customers grouped by first-checkin
    week (the cohort), each later week's active share reported as
    ``pct_retained`` — the survival-curve table behind every retention
    chart, and the companion of :func:`conversion_cohorts` (which measures
    conversion; this measures coming back).  Reference analog: the
    recency/engagement tables (build_day_pass_engagement_table.py:114-121)
    summarize the same behavior per customer; the triangle is its cohort
    rollup.

    Scale shape: first-checkin week is one groupBy on customer_id; the
    join back is keyed on the same column (co-partitioned); the triangle
    rollup grows as cohorts × offsets — tiny at any corpus size.  Weekly
    activity is DISTINCT (customer, week) so a daily regular doesn't
    inflate retention."""
    from .events import build_checkins

    ck = build_checkins(spark, sf_dir).select(
        "customer_id", F.to_date(F.date_trunc("week", F.col("checkin_date"))).alias("week")
    )
    first_week = ck.groupBy("customer_id").agg(F.min("week").alias("cohort_week"))
    active = (
        ck.distinct()
        .join(first_week, "customer_id")
        .select(
            "cohort_week",
            F.floor(F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
            "customer_id",
        )
    )
    counts = active.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("customer_id").alias("n_active")
    )
    sizes = counts.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return (
        counts.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            ratio(F.col("n_active").cast("double") * 100.0, F.col("cohort_size").cast("double"), 2).alias(
                "pct_retained"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


def retention_triangle_sql() -> str:
    from .events import checkins_sql

    return f"""
WITH ck AS ({checkins_sql()}),
weeks AS (
  SELECT DISTINCT customer_id, date_trunc('week', checkin_date)::date AS week
  FROM ck
),
first_week AS (
  SELECT customer_id, min(week) AS cohort_week FROM weeks GROUP BY customer_id
),
active AS (
  SELECT f.cohort_week,
         CAST((w.week - f.cohort_week) // 7 AS BIGINT) AS week_offset,
         w.customer_id
  FROM weeks w JOIN first_week f USING (customer_id)
),
counts AS (
  SELECT cohort_week, week_offset, count(DISTINCT customer_id) AS n_active
  FROM active GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, n_active AS cohort_size FROM counts WHERE week_offset = 0
)
SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
       {ratio_sql('c.n_active::double * 100.0', 's.cohort_size::double', 2)} AS pct_retained
FROM counts c JOIN sizes s USING (cohort_week)
ORDER BY c.cohort_week, c.week_offset
"""


# ---------------------------------------------------------------------------
# market-basket category lift
# ---------------------------------------------------------------------------

BASKET_MIN_SUPPORT = 10  # baskets containing the pair


def category_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity between revenue categories: a basket is one
    (customer, day); for every category pair bought together in at least
    ``BASKET_MIN_SUPPORT`` baskets, report support and LIFT
    (P(a∧b) / P(a)·P(b), fixed-point) — the first Apriori step, and the
    cross-sell table behind "day-pass buyers also book events".
    Reference analog: build_customer_interactions.py's same-purchase
    grouping (U4) aggregates people; this aggregates the catalog.

    Scale shape: baskets collapse to DISTINCT (basket, category) first
    (≤ 7 categories ⇒ ≤ 21 pairs per basket — the pair self-join is
    bounded by the catalog, not the basket count); singleton frequencies
    ride a category-sized broadcast.  Lift arithmetic is exact-integer
    cross-multiplication, micro-rounded once."""
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    baskets = txn.select(
        F.concat_ws("_", F.col("customer_id"), F.col("txn_date")).alias("basket"),
        "revenue_category",
    ).distinct()
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(b, F.col("a.basket") == F.col("b.basket"))
        .filter(F.col("a.revenue_category") < F.col("b.revenue_category"))
        .groupBy(
            F.col("a.revenue_category").alias("cat_a"),
            F.col("b.revenue_category").alias("cat_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= BASKET_MIN_SUPPORT)
    )
    singles = baskets.groupBy("revenue_category").agg(F.count("*").alias("n_cat"))
    totals = baskets.select(F.countDistinct("basket").alias("n_baskets"))
    sa = singles.select(F.col("revenue_category").alias("cat_a"), F.col("n_cat").alias("n_a"))
    sb = singles.select(F.col("revenue_category").alias("cat_b"), F.col("n_cat").alias("n_b"))
    joined = (
        pairs.join(F.broadcast(sa), "cat_a")
        .join(F.broadcast(sb), "cat_b")
        .join(F.broadcast(totals))
    )
    lift = (
        F.floor(
            F.col("n_ab").cast("double")
            * F.col("n_baskets")
            / (F.col("n_a").cast("double") * F.col("n_b"))
            * 1000000.0
            + 0.5
        )
        / 1000000.0
    )
    return joined.select(
        "cat_a",
        "cat_b",
        "n_ab",
        "n_a",
        "n_b",
        "n_baskets",
        lift.alias("lift"),
    ).orderBy("cat_a", "cat_b")


def category_basket_lift_sql() -> str:
    from .transactions import transactions_sql

    return f"""
WITH txn AS ({transactions_sql()}),
baskets AS (
  SELECT DISTINCT customer_id || '_' || txn_date AS basket, revenue_category
  FROM txn
),
pairs AS (
  SELECT a.revenue_category AS cat_a, b.revenue_category AS cat_b, count(*) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.basket = b.basket AND a.revenue_category < b.revenue_category
  GROUP BY 1, 2
  HAVING count(*) >= {BASKET_MIN_SUPPORT}
),
singles AS (
  SELECT revenue_category, count(*) AS n_cat FROM baskets GROUP BY 1
),
totals AS (SELECT count(DISTINCT basket) AS n_baskets FROM baskets)
SELECT p.cat_a, p.cat_b, p.n_ab,
       sa.n_cat AS n_a, sb.n_cat AS n_b, t.n_baskets,
       floor(p.n_ab::double * t.n_baskets / (sa.n_cat::double * sb.n_cat)
             * 1000000.0 + 0.5) / 1000000.0 AS lift
FROM pairs p
JOIN singles sa ON sa.revenue_category = p.cat_a
JOIN singles sb ON sb.revenue_category = p.cat_b
CROSS JOIN totals t
ORDER BY p.cat_a, p.cat_b
"""


# ---------------------------------------------------------------------------
# Pearson correlation from exact integer moments
# ---------------------------------------------------------------------------


def visit_spend_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between per-customer visit count and lifetime
    spend, from EXACT integer moments: Σx, Σy, Σxy, Σx², Σy² accumulate as
    int64 over (visits, spend-cents) — order-insensitive under any
    partitioning — and only the final normalized formula runs in floating
    point, with a fixed operand order mirrored by the oracle, then
    micro-rounded.  (Spark's built-in ``corr`` is a streaming float
    aggregation whose result depends on partition merge order — unusable
    under cross-engine value hashing; the moments form is the
    deterministic equivalent.)  Answers the gym's actual question: do
    frequent visitors spend more?

    Scale shape: two co-keyed groupBys (visits, spend) joined on the
    customer base, then one scalar aggregation of five int64 sums —
    map-side partials do everything."""
    from .customers import build_customers
    from .events import build_checkins
    from .transactions import build_transactions

    cust = build_customers(spark, sf_dir).select("customer_id")
    visits = (
        build_checkins(spark, sf_dir).groupBy("customer_id").agg(F.count("*").alias("x"))
    )
    spend = build_transactions(spark, sf_dir).groupBy("customer_id").agg(
        F.sum(to_cents(F.col("total_amount"))).alias("y")
    )
    xy = (
        cust.join(visits, "customer_id", "left")
        .join(spend, "customer_id", "left")
        .select(
            F.coalesce("x", F.lit(0)).cast("long").alias("x"),
            F.coalesce("y", F.lit(0)).cast("long").alias("y"),
        )
    )
    # y² of a big spender overflows int64 once corpora grow (measured at the
    # 4x probe); the squared moments accumulate as DECIMAL(38,0) — exact and
    # order-insensitive like the int64 path, with 38-digit headroom — and
    # drop to double once, for the final formula only
    m = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec38_prod(F.col("x"), F.col("y"))).alias("sxy"),
        F.sum(dec38_prod(F.col("x"), F.col("x"))).alias("sxx"),
        F.sum(dec38_prod(F.col("y"), F.col("y"))).alias("syy"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sxy").cast("double") / n - (F.col("sx") / n) * (F.col("sy") / n)
    vx = F.col("sxx").cast("double") / n - (F.col("sx") / n) * (F.col("sx") / n)
    vy = F.col("syy").cast("double") / n - (F.col("sy") / n) * (F.col("sy") / n)
    r = cov / F.sqrt(vx * vy)
    return m.select(
        "n",
        "sx",
        "sy",
        (F.floor(r * 1000000.0 + 0.5) / 1000000.0).alias("pearson_r"),
    )


def visit_spend_correlation_sql() -> str:
    from .customers import customers_sql
    from .events import checkins_sql
    from .transactions import transactions_sql

    return f"""
WITH cust AS ({customers_sql()}),
ck AS ({checkins_sql()}),
txn AS ({transactions_sql()}),
visits AS (SELECT customer_id, count(*) AS x FROM ck GROUP BY 1),
spend AS (
  SELECT customer_id, sum({to_cents_sql('total_amount')}) AS y
  FROM txn GROUP BY 1
),
xy AS (
  SELECT coalesce(v.x, 0)::bigint AS x, coalesce(s.y, 0)::bigint AS y
  FROM cust c
  LEFT JOIN visits v USING (customer_id)
  LEFT JOIN spend s USING (customer_id)
),
m AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(x::hugeint * y::hugeint) AS sxy,
         sum(x::hugeint * x::hugeint) AS sxx,
         sum(y::hugeint * y::hugeint) AS syy
  FROM xy
)
SELECT n, sx, sy,
       floor((sxy::double / n::double - (sx / n::double) * (sy / n::double))
             / sqrt((sxx::double / n::double - (sx / n::double) * (sx / n::double))
                    * (syy::double / n::double - (sy / n::double) * (sy / n::double)))
             * 1000000.0 + 0.5) / 1000000.0 AS pearson_r
FROM m
"""


def markov_holdout_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-sample eval of the Markov next-event model: users are split
    by md5 parity (the repo's deterministic no-``rand()`` split), the
    argmax transition is fit on the TRAIN half, and per-state accuracy is
    measured on the TEST half — the "is yesterday's transition matrix
    still predictive" number that turns :func:`markov_transitions` from a
    descriptive table into a monitored model.  States unseen in training
    surface with a NULL prediction and NULL accuracy (no silent zero).

    Scale shape: the same single user-window shuffle as
    :func:`markov_transitions` produces both halves' pairs in one pass;
    everything downstream operates on the |event types|² matrix."""
    from pyspark.sql import Window as W

    from ..io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    bucket = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 2
    )
    pairs = (
        ev.withColumn("next_event", F.lead("event_type").over(w))
        .filter(F.col("next_event").isNotNull())
        .select(
            bucket.alias("bucket"),
            F.col("event_type").alias("from_event"),
            "next_event",
        )
    )
    from ..io import tracked_persist

    pairs = tracked_persist(pairs)  # one window pass feeds both halves
    train = (
        pairs.filter(F.col("bucket") == 0)
        .groupBy("from_event", "next_event")
        .agg(F.count("*").alias("n"))
    )
    rank_w = W.partitionBy("from_event").orderBy(F.desc("n"), F.asc("next_event"))
    pred = (
        train.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") == 1)
        .select("from_event", F.col("next_event").alias("predicted_next"))
    )
    test = (
        pairs.filter(F.col("bucket") == 1)
        .groupBy("from_event", "next_event")
        .agg(F.count("*").alias("n"))
    )
    per_state = (
        test.join(F.broadcast(pred), "from_event", "left")
        .groupBy("from_event", "predicted_next")
        .agg(
            F.sum("n").alias("n_test_pairs"),
            F.sum(
                F.when(F.col("next_event") == F.col("predicted_next"), F.col("n")).otherwise(
                    F.lit(0)
                )
            ).alias("n_correct"),
        )
    )
    return per_state.select(
        "from_event",
        "predicted_next",
        "n_test_pairs",
        "n_correct",
        F.when(
            F.col("predicted_next").isNotNull(),
            ratio(F.col("n_correct"), F.col("n_test_pairs"), 6),
        ).alias("accuracy"),
    ).orderBy("from_event")


def markov_holdout_accuracy_sql() -> str:
    return f"""
WITH seq AS (
  SELECT ('0x' || substr(md5(user_id::varchar), 1, 8))::bigint % 2 AS bucket,
         event_type AS from_event,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts::TIMESTAMP), event_id
         ) AS next_event
  FROM events
),
pairs AS (SELECT * FROM seq WHERE next_event IS NOT NULL),
train AS (
  SELECT from_event, next_event, count(*) AS n
  FROM pairs WHERE bucket = 0 GROUP BY 1, 2
),
pred AS (
  SELECT from_event, next_event AS predicted_next FROM (
    SELECT from_event, next_event,
           row_number() OVER (PARTITION BY from_event ORDER BY n DESC, next_event) AS rn
    FROM train
  ) WHERE rn = 1
),
test AS (
  SELECT from_event, next_event, count(*) AS n
  FROM pairs WHERE bucket = 1 GROUP BY 1, 2
)
SELECT t.from_event, p.predicted_next,
       CAST(sum(t.n) AS BIGINT) AS n_test_pairs,
       CAST(sum(CASE WHEN t.next_event = p.predicted_next THEN t.n ELSE 0 END) AS BIGINT)
         AS n_correct,
       CASE WHEN p.predicted_next IS NOT NULL THEN
         {ratio_sql("sum(CASE WHEN t.next_event = p.predicted_next THEN t.n ELSE 0 END)",
                    "sum(t.n)", 6)}
       END AS accuracy
FROM test t LEFT JOIN pred p USING (from_event)
GROUP BY t.from_event, p.predicted_next
ORDER BY t.from_event
"""


# ---------------------------------------------------------------------------
# absorbing Markov chain — purchase-absorption probabilities + expected steps
# ---------------------------------------------------------------------------

MARKOV_ABSORB = "purchase"
MARKOV_TRANSIENT = ("click", "error", "signup", "view")  # fixed sorted order


def markov_absorption_probs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-chain analysis of the event stream: from each transient
    state, the probability the user's chain reaches ``purchase`` before
    it ENDS, and the expected number of steps to absorption — the
    fundamental-matrix readout b = (I−Q)⁻¹·r, t = (I−Q)⁻¹·1 that turns
    the raw transition matrix (``markov_transitions``) into the numbers a
    funnel owner actually wants.  The 4×4 inversion runs IN-ENGINE via
    Cramer's rule (the ``linear_probe_quality`` discipline — symbolic
    determinants over a 1-row frame), so no driver-side linear algebra
    and no MLlib.

    Chain semantics: per user, time-ordered events; a transition into
    ``purchase`` absorbs; a user's last event absorbs into END; rows out
    of ``purchase`` are excluded (each chain is the pre-purchase
    segment).  Unobserved states get identity rows (b = 0, t = 1 — the
    correct degenerate).  q entries are exact count ratios; the only
    floats are the final Cramer quotients, micro-rounded; det(I−Q) = 0
    (a closed transient loop) pins the outputs NULL on both engines.

    Scale shape: one user-window lag pass (the markov_transitions
    shuffle), a conditional aggregation onto ONE row of 4×6 counts, and
    scalar determinant arithmetic on that row."""
    from pyspark.sql import Window as W

    from ..io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    pairs = (
        ev.withColumn("next_event", F.lead("event_type").over(w))
        .filter(F.col("event_type") != MARKOV_ABSORB)
        .select(
            F.col("event_type").alias("s"),
            F.coalesce(F.col("next_event"), F.lit("__end__")).alias("t"),
        )
    )
    states = list(MARKOV_TRANSIENT)
    aggs = []
    for i, si in enumerate(states):
        for j, sj in enumerate(states):
            aggs.append(
                F.sum(((F.col("s") == si) & (F.col("t") == sj)).cast("long")).alias(
                    f"c_{i}{j}"
                )
            )
        aggs.append(
            F.sum(((F.col("s") == si) & (F.col("t") == MARKOV_ABSORB)).cast("long")).alias(
                f"cp_{i}"
            )
        )
        aggs.append(F.sum((F.col("s") == si).cast("long")).alias(f"n_{i}"))
    one = pairs.agg(*aggs)

    q = lambda i, j: (  # noqa: E731
        f"(CASE WHEN n_{i} > 0 THEN c_{i}{j}"
        f"::double / n_{i}::double ELSE 0.0 END)"
    )
    a = [
        [f"({'1.0' if i == j else '0.0'} - {q(i, j)})" for j in range(4)]
        for i in range(4)
    ]
    r = [
        f"(CASE WHEN n_{i} > 0 THEN cp_{i}::double / n_{i}::double ELSE 0.0 END)"
        for i in range(4)
    ]
    from .textstats import _det4

    det_a = _det4(a)
    sel = [F.expr(det_a).alias("det_a")]
    for i in range(4):
        mb = [[r[rr] if c == i else a[rr][c] for c in range(4)] for rr in range(4)]
        mt = [["1.0" if c == i else a[rr][c] for c in range(4)] for rr in range(4)]
        sel.append(F.expr(_det4(mb)).alias(f"db_{i}"))
        sel.append(F.expr(_det4(mt)).alias(f"dt_{i}"))
    for i in range(4):
        sel.append(F.col(f"n_{i}"))
    solved = one.select(*sel)
    micro = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    nz = F.col("det_a") != 0.0
    rows = []
    for i, s in enumerate(states):
        rows.append(
            F.struct(
                F.lit(s).alias("state"),
                F.col(f"n_{i}").alias("n_out"),
                micro(F.when(nz, F.col(f"db_{i}") / F.col("det_a"))).alias(
                    "p_absorb_purchase"
                ),
                micro(F.when(nz, F.col(f"dt_{i}") / F.col("det_a"))).alias(
                    "expected_steps"
                ),
            )
        )
    return (
        solved.select(F.explode(F.array(*rows)).alias("x"))
        .select("x.state", "x.n_out", "x.p_absorb_purchase", "x.expected_steps")
        .orderBy("state")
    )


def markov_absorption_probs_sql() -> str:
    from .textstats import _det4

    states = list(MARKOV_TRANSIENT)
    cnt_cols = []
    for i, si in enumerate(states):
        for j, sj in enumerate(states):
            cnt_cols.append(f"sum((s = '{si}' AND t = '{sj}')::bigint) AS c_{i}{j}")
        cnt_cols.append(
            f"sum((s = '{si}' AND t = '{MARKOV_ABSORB}')::bigint) AS cp_{i}"
        )
        cnt_cols.append(f"sum((s = '{si}')::bigint) AS n_{i}")
    q = lambda i, j: (  # noqa: E731
        f"(CASE WHEN n_{i} > 0 THEN c_{i}{j}::double / n_{i}::double ELSE 0.0 END)"
    )
    a = [
        [f"({'1.0' if i == j else '0.0'} - {q(i, j)})" for j in range(4)]
        for i in range(4)
    ]
    r = [
        f"(CASE WHEN n_{i} > 0 THEN cp_{i}::double / n_{i}::double ELSE 0.0 END)"
        for i in range(4)
    ]
    det_cols = [f"{_det4(a)} AS det_a"]
    for i in range(4):
        mb = [[r[rr] if c == i else a[rr][c] for c in range(4)] for rr in range(4)]
        mt = [["1.0" if c == i else a[rr][c] for c in range(4)] for rr in range(4)]
        det_cols.append(f"{_det4(mb)} AS db_{i}")
        det_cols.append(f"{_det4(mt)} AS dt_{i}")
    det_joined = ",\n         ".join(det_cols)
    cnt_joined = ",\n         ".join(cnt_cols)
    out_rows = "\n  UNION ALL\n".join(
        f"""  SELECT '{s}' AS state, CAST(n_{i} AS BIGINT) AS n_out,
         floor(CASE WHEN det_a != 0.0 THEN db_{i} / det_a END
               * 1000000.0 + 0.5) / 1000000.0 AS p_absorb_purchase,
         floor(CASE WHEN det_a != 0.0 THEN dt_{i} / det_a END
               * 1000000.0 + 0.5) / 1000000.0 AS expected_steps
  FROM solved"""
        for i, s in enumerate(states)
    )
    return f"""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us, event_id
  FROM events
),
pairs AS (
  SELECT event_type AS s,
         coalesce(lead(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts_us, event_id),
                  '__end__') AS t
  FROM ev
),
one AS (
  SELECT {cnt_joined}
  FROM pairs WHERE s != '{MARKOV_ABSORB}'
),
solved AS (
  SELECT *,
         {det_joined}
  FROM one
)
SELECT * FROM (
{out_rows}
)
ORDER BY state
"""


# ---------------------------------------------------------------------------
# robust location: trimmed + winsorized mean spend
# ---------------------------------------------------------------------------

TRIM_PCT = 10  # trimmed/winsorized fraction per side


def trimmed_winsorized_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-customer spend location: the 10%-trimmed and
    10%-winsorized means beside the raw mean — the outlier-honest
    "typical customer value" numbers (one whale moves the mean by
    dollars; it moves the trimmed mean not at all, and the winsorized
    mean by a bounded clamp).  Companion to :func:`spend_deciles`'
    whale-curve view and the Theil-Sen/OLS robust-fragile pairing.

    Exact with NO global row sort: per-distinct-value counts get global
    rank offsets from the bucketed-prefix discipline (bounded log-bucket
    offsets + bucket-partitioned windows, as ``mann_whitney_spend_utest``
    / ``theilsen_trend_bucketed``).  Each value's contribution to the
    trimmed sum is its rank-interval overlap with [k+1, n−k] — ties at
    the cut are split by RANK, exactly as a sorted-array trim would.
    Winsorized = trimmed + k·(rank-(k+1) value) + k·(rank-(n−k) value).
    All sums exact int64/decimal; the three divisions are the shared
    fixed-point ratio.

    Scale shape: one customer rollup, one shuffle onto distinct values,
    bounded-bucket windows, one scalar aggregate."""
    from ..functions.money import ratio, to_cents
    from .sketches import bucketed_prefix_rank
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    per_cust = txn.groupBy("customer_id").agg(
        F.sum(to_cents(F.col("total_amount"))).alias("cents")
    )
    per_val = per_cust.groupBy("cents").agg(F.count("*").alias("cnt"))
    ranked = bucketed_prefix_rank(per_val, "cents")
    totals = per_cust.agg(
        F.count("*").alias("n"), F.sum("cents").alias("sum_cents")
    ).select("*", F.expr(f"n * {TRIM_PCT} div 100").alias("k"))
    j = ranked.join(F.broadcast(totals))
    lo_rank, hi_rank = F.col("before") + 1, F.col("before") + F.col("cnt")
    keep_lo = F.greatest(lo_rank, F.col("k") + 1)
    keep_hi = F.least(hi_rank, F.col("n") - F.col("k"))
    ov = F.greatest(keep_hi - keep_lo + 1, F.lit(0))
    # dec38() EACH OPERAND before the multiply: cents*ov in LONG wraps
    # silently at edge magnitudes (~1e11 cents × n-bounded overlap) while
    # the DuckDB oracle's per_cust cents is already HUGEINT (round-8
    # ADVICE; same class as the Holt tap-product overflow).
    m = j.groupBy("n", "sum_cents", "k").agg(
        F.sum(dec38(F.col("cents")) * dec38(ov)).alias("trimmed_sum"),
        F.sum(ov).alias("trimmed_n"),
        F.min(F.when(hi_rank >= F.col("k") + 1, F.col("cents"))).alias("lo_cut"),
        F.min(F.when(hi_rank >= F.col("n") - F.col("k"), F.col("cents"))).alias(
            "hi_cut"
        ),
    )
    wins_sum = (
        F.col("trimmed_sum").cast("double")
        + F.col("k").cast("double") * (F.col("lo_cut") + F.col("hi_cut")).cast("double")
    )
    return m.select(
        "n",
        F.col("k").alias("k_trimmed_each_side"),
        ratio(F.col("sum_cents").cast("double"), F.col("n").cast("double"), 2).alias(
            "mean_cents"
        ),
        F.when(
            F.col("trimmed_n") > 0,
            ratio(
                F.col("trimmed_sum").cast("double"),
                F.col("trimmed_n").cast("double"),
                2,
            ),
        ).alias("trimmed_mean_cents"),
        ratio(wins_sum, F.col("n").cast("double"), 2).alias("winsorized_mean_cents"),
        F.col("lo_cut").alias("lo_cut_cents"),
        F.col("hi_cut").alias("hi_cut_cents"),
    )


def trimmed_winsorized_spend_sql() -> str:
    from ..functions.money import ratio_sql, to_cents_sql
    from .transactions import transactions_sql

    return f"""
WITH txn AS ({transactions_sql()}),
per_cust AS (
  SELECT customer_id, sum({to_cents_sql('total_amount')}) AS cents
  FROM txn GROUP BY customer_id
),
per_val AS (
  SELECT cents, count(*) AS cnt FROM per_cust GROUP BY cents
),
ranked AS (
  SELECT cents, cnt,
         coalesce(sum(cnt) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM per_val
),
totals AS (
  SELECT count(*) AS n, sum(cents) AS sum_cents,
         count(*) * {TRIM_PCT} // 100 AS k
  FROM per_cust
),
m AS (
  SELECT n, sum_cents, k,
         sum((cents * greatest(least(before + cnt, n - k)
                               - greatest(before + 1, k + 1) + 1, 0))::hugeint)
           AS trimmed_sum,
         CAST(sum(greatest(least(before + cnt, n - k)
                  - greatest(before + 1, k + 1) + 1, 0)) AS BIGINT) AS trimmed_n,
         min(CASE WHEN before + cnt >= k + 1 THEN cents END) AS lo_cut,
         min(CASE WHEN before + cnt >= n - k THEN cents END) AS hi_cut
  FROM ranked CROSS JOIN totals
  GROUP BY n, sum_cents, k
)
SELECT n, k AS k_trimmed_each_side,
       {ratio_sql('sum_cents::double', 'n::double', 2)} AS mean_cents,
       CASE WHEN trimmed_n > 0
            THEN {ratio_sql('trimmed_sum::double', 'trimmed_n::double', 2)}
       END AS trimmed_mean_cents,
       {ratio_sql('trimmed_sum::double + k::double * (lo_cut + hi_cut)::double', 'n::double', 2)} AS winsorized_mean_cents,
       CAST(lo_cut AS BIGINT) AS lo_cut_cents,
       CAST(hi_cut AS BIGINT) AS hi_cut_cents
FROM m
"""


def gini_spend_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer spend — the revenue-concentration
    number behind the whale-curve picture (:func:`spend_deciles` shows
    the curve; this is its scalar).  G = (2·Σ rank·x − (n+1)·Σx) /
    (n·Σx), computed with the bucketed-prefix ranking discipline (no
    global sort); tied values use their average rank, which leaves the
    rank-sum identity exact in 2× integer units.

    Guards: a non-positive total (net-refund corpus) has no Lorenz
    interpretation — Gini pins to NULL on both engines.

    Scale shape: one customer rollup, one shuffle onto distinct values,
    bounded-bucket windows, one scalar aggregate."""
    from ..functions.money import to_cents
    from .sketches import bucketed_prefix_rank
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    per_cust = txn.groupBy("customer_id").agg(
        F.sum(to_cents(F.col("total_amount"))).alias("cents")
    )
    per_val = per_cust.groupBy("cents").agg(F.count("*").alias("cnt"))
    ranked = bucketed_prefix_rank(per_val, "cents")
    # Σ 2·rank·x over a tied block of cnt copies at average rank
    # (before + (cnt+1)/2): 2·Σ = cnt·(2·before + cnt + 1)·x — exact ints
    m = ranked.agg(
        F.sum("cnt").alias("n"),
        # dec38() each operand BEFORE multiplying — cents*cnt and
        # cnt*(2*before+cnt+1) computed in LONG wrap silently at edge
        # magnitudes while the DuckDB oracle promotes to HUGEINT
        # (round-8 ADVICE overflow class).
        F.sum(dec38(F.col("cents")) * dec38(F.col("cnt"))).alias("sx"),
        F.sum(
            dec38(F.col("cents"))
            * dec38(F.col("cnt"))
            * (2 * dec38(F.col("before")) + dec38(F.col("cnt")) + 1)
        ).alias("rx2"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    gini = (F.col("rx2").cast("double") - (n + 1.0) * sx) / (n * sx)
    micro = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return m.select(
        "n",
        (sx / 100.0).alias("total_spend"),
        F.when(F.col("sx") > 0, micro(gini)).alias("gini"),
    )


def gini_spend_concentration_sql() -> str:
    from ..functions.money import to_cents_sql
    from .transactions import transactions_sql

    return f"""
WITH txn AS ({transactions_sql()}),
per_cust AS (
  SELECT customer_id, sum({to_cents_sql('total_amount')}) AS cents
  FROM txn GROUP BY customer_id
),
per_val AS (
  SELECT cents, count(*) AS cnt FROM per_cust GROUP BY cents
),
ranked AS (
  SELECT cents, cnt,
         coalesce(sum(cnt) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM per_val
),
m AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         sum((cents * cnt)::hugeint) AS sx,
         sum(cents::hugeint * (cnt * (2 * before + cnt + 1))::hugeint) AS rx2
  FROM ranked
)
SELECT n,
       sx::double / 100.0 AS total_spend,
       CASE WHEN sx > 0
            THEN floor((rx2::double - (n + 1)::double * sx::double)
                       / (n::double * sx::double) * 1000000.0 + 0.5) / 1000000.0
       END AS gini
FROM m
"""


def spearman_visit_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between visit count and net spend per
    customer — the monotone-association companion to
    :func:`visit_spend_correlation`'s Pearson (heavy-tailed spend makes
    Pearson whale-driven; Spearman asks "do frequent visitors RANK
    higher in spend").  Average ranks for ties on BOTH variables (exact
    half-integer ranks in 2× integer units via the bucketed-prefix
    discipline, visits vocabulary-bounded so its rank table is tiny),
    then Pearson over the rank pairs from exact decimal moments.

    Scale shape: two rank frames (each one shuffle onto distinct
    values + bounded windows), one join back to the customer base on the
    value key, one scalar moment aggregate."""
    from ..functions.money import to_cents
    from .customers import build_customers
    from .events import build_checkins
    from .sketches import bucketed_prefix_rank
    from .transactions import build_transactions

    cust = build_customers(spark, sf_dir).select("customer_id")
    visits = (
        build_checkins(spark, sf_dir).groupBy("customer_id").agg(F.count("*").alias("v"))
    )
    spend = build_transactions(spark, sf_dir).groupBy("customer_id").agg(
        F.sum(to_cents(F.col("total_amount"))).alias("s")
    )
    base = (
        cust.join(visits, "customer_id", "left")
        .join(spend, "customer_id", "left")
        .select(
            F.coalesce("v", F.lit(0)).cast("long").alias("v"),
            F.coalesce("s", F.lit(0)).cast("long").alias("s"),
        )
    )

    def rank2(col: str) -> DataFrame:
        per_val = base.groupBy(col).agg(F.count("*").alias("cnt"))
        return bucketed_prefix_rank(per_val, col).select(
            col,
            # 2 × average rank of the tied block
            (2 * F.col("before") + F.col("cnt") + 1).alias(f"r2_{col}"),
        )

    paired = base.join(F.broadcast(rank2("v")), "v").join(rank2("s"), "s")
    m = paired.agg(
        F.count("*").alias("n"),
        F.sum(dec38(F.col("r2_v"))).alias("sa"),
        F.sum(dec38(F.col("r2_s"))).alias("sb"),
        F.sum(dec38(F.col("r2_v")) * dec38(F.col("r2_s"))).alias("sab"),
        F.sum(dec38(F.col("r2_v")) * dec38(F.col("r2_v"))).alias("saa"),
        F.sum(dec38(F.col("r2_s")) * dec38(F.col("r2_s"))).alias("sbb"),
    )
    n = F.col("n").cast("double")
    cov = F.col("sab").cast("double") / n - (
        F.col("sa").cast("double") / n
    ) * (F.col("sb").cast("double") / n)
    va = F.col("saa").cast("double") / n - (
        F.col("sa").cast("double") / n
    ) * (F.col("sa").cast("double") / n)
    vb = F.col("sbb").cast("double") / n - (
        F.col("sb").cast("double") / n
    ) * (F.col("sb").cast("double") / n)
    micro = lambda c: F.floor(c * 1000000.0 + 0.5) / 1000000.0  # noqa: E731
    return m.select(
        "n",
        F.when((va > 0) & (vb > 0), micro(cov / F.sqrt(va * vb))).alias(
            "spearman_rho"
        ),
    )


def spearman_visit_spend_sql() -> str:
    from ..functions.money import to_cents_sql
    from .customers import customers_sql
    from .events import checkins_sql
    from .transactions import transactions_sql

    return f"""
WITH cust AS ({customers_sql()}),
ck AS ({checkins_sql()}),
txn AS ({transactions_sql()}),
visits AS (SELECT customer_id, count(*) AS v FROM ck GROUP BY 1),
spend AS (
  SELECT customer_id, sum({to_cents_sql('total_amount')}) AS s
  FROM txn GROUP BY 1
),
base AS (
  SELECT coalesce(vv.v, 0)::bigint AS v, coalesce(ss.s, 0)::bigint AS s
  FROM cust c
  LEFT JOIN visits vv USING (customer_id)
  LEFT JOIN spend ss USING (customer_id)
),
rv AS (
  SELECT v,
         2 * coalesce(sum(cnt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS r2_v
  FROM (SELECT v, count(*) AS cnt FROM base GROUP BY v)
),
rs AS (
  SELECT s,
         2 * coalesce(sum(cnt) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + cnt + 1 AS r2_s
  FROM (SELECT s, count(*) AS cnt FROM base GROUP BY s)
),
paired AS (
  SELECT r2_v, r2_s FROM base JOIN rv USING (v) JOIN rs USING (s)
),
m AS (
  SELECT count(*) AS n,
         sum(r2_v::hugeint) AS sa, sum(r2_s::hugeint) AS sb,
         sum(r2_v::hugeint * r2_s::hugeint) AS sab,
         sum(r2_v::hugeint * r2_v::hugeint) AS saa,
         sum(r2_s::hugeint * r2_s::hugeint) AS sbb
  FROM paired
)
SELECT n,
       CASE WHEN (saa::double / n - (sa::double / n) * (sa::double / n)) > 0
             AND (sbb::double / n - (sb::double / n) * (sb::double / n)) > 0
            THEN floor((sab::double / n - (sa::double / n) * (sb::double / n))
                 / sqrt((saa::double / n - (sa::double / n) * (sa::double / n))
                        * (sbb::double / n - (sb::double / n) * (sb::double / n)))
                 * 1000000.0 + 0.5) / 1000000.0
       END AS spearman_rho
FROM m
"""


# modified z-score convention (Iglewicz-Hoberg): 0.6745·(x−med)/MAD, flag 3.5
ROBUST_Z_SCALE_MICRO = 674_500
ROBUST_Z_FLAG_MICRO = 3_500_000


def robust_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) daily event-volume anomalies — the sibling of
    :func:`daily_anomalies` that a contaminated series actually needs:
    mean/σ anomaly detection MASKS outliers (each anomaly inflates the σ
    that judges it), while the median and the median absolute deviation
    have a 50% breakdown point.  Every day rides along with its
    Iglewicz-Hoberg modified z-score 0.6745·(n − med)/MAD and the
    standard |mz| ≥ 3.5 flag (all-rows + flag, the CUSUM output shape —
    a clean corpus answers "no anomaly" with rows, never with an empty
    frame a hash check can't tell from a broken query).

    Determinism: both medians are the deterministic lower-median rank
    pick ((k+1) div 2 over the per-type day frame, ties broken by day /
    deviation+day); MAD = 0 (constant-majority series) pins the score to
    NULL on both engines rather than dividing by zero.

    Scale shape: events collapse to (type, day) counts in one shuffle;
    every window after runs per-type over the bounded day frame (days ×
    types rows), exactly like the mean/σ sibling."""
    from pyspark.sql import Window as W

    from ..io import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("d")
    )
    daily = ev.groupBy("event_type", "d").agg(F.count("*").alias("n"))
    wt = W.partitionBy("event_type")
    ranked = daily.withColumn("k", F.count("*").over(wt)).withColumn(
        "rn", F.row_number().over(wt.orderBy("n", "d"))
    )
    med = ranked.filter(F.col("rn") == F.expr("(k + 1) div 2")).select(
        "event_type", F.col("n").alias("med")
    )
    dev = daily.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("n") - F.col("med"))
    )
    dev_ranked = dev.withColumn("k", F.count("*").over(wt)).withColumn(
        "rn", F.row_number().over(wt.orderBy("ad", "d"))
    )
    mad = dev_ranked.filter(F.col("rn") == F.expr("(k + 1) div 2")).select(
        "event_type", F.col("ad").alias("mad")
    )
    scored = dev.join(F.broadcast(mad), "event_type").withColumn(
        "mz_micro",
        F.when(
            F.col("mad") > 0,
            F.floor(
                (F.col("n") - F.col("med")).cast("double")
                / F.col("mad").cast("double")
                * (ROBUST_Z_SCALE_MICRO / 1_000_000.0)
                * 1000000.0
                + 0.5
            ).cast("long"),
        ),
    )
    # every day rides along with its score and the flag (the CUSUM output
    # shape): a clean corpus must yield rows saying "no anomaly", not an
    # empty frame a hash check can't distinguish from a broken query
    return scored.select(
        "event_type",
        "d",
        "n",
        "med",
        "mad",
        "mz_micro",
        F.when(
            F.col("mz_micro").isNotNull(),
            F.abs(F.col("mz_micro")) >= ROBUST_Z_FLAG_MICRO,
        ).alias("is_anomaly"),
    ).orderBy("event_type", "d")


def robust_daily_anomalies_sql() -> str:
    return f"""
WITH daily AS (
  SELECT event_type, ts::DATE AS d, count(*) AS n
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, count(*) OVER (PARTITION BY event_type) AS k,
         row_number() OVER (PARTITION BY event_type ORDER BY n, d) AS rn
  FROM daily
),
med AS (
  SELECT event_type, n AS med FROM ranked WHERE rn = (k + 1) // 2
),
dev AS (
  SELECT daily.event_type, daily.d, daily.n, med.med,
         abs(daily.n - med.med) AS ad
  FROM daily JOIN med USING (event_type)
),
dev_ranked AS (
  SELECT *, count(*) OVER (PARTITION BY event_type) AS k,
         row_number() OVER (PARTITION BY event_type ORDER BY ad, d) AS rn
  FROM dev
),
mad AS (
  SELECT event_type, ad AS mad FROM dev_ranked WHERE rn = (k + 1) // 2
),
scored AS (
  SELECT dev.event_type, dev.d, dev.n, dev.med, mad.mad,
         CASE WHEN mad.mad > 0
              THEN floor((dev.n - dev.med)::double / mad.mad::double
                         * {ROBUST_Z_SCALE_MICRO / 1_000_000.0!r}
                         * 1000000.0 + 0.5)::bigint END AS mz_micro
  FROM dev JOIN mad USING (event_type)
)
SELECT event_type, d, CAST(n AS BIGINT) AS n, CAST(med AS BIGINT) AS med,
       CAST(mad AS BIGINT) AS mad, mz_micro,
       CASE WHEN mz_micro IS NOT NULL
            THEN abs(mz_micro) >= {ROBUST_Z_FLAG_MICRO} END AS is_anomaly
FROM scored
ORDER BY event_type, d
"""


# ---------------------------------------------------------------------------
# round-9 segmentation / funnel-latency / LTV additions
# ---------------------------------------------------------------------------

RFM_BUCKETS = 5


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1..5 on Recency (days since
    last transaction, lower = better), Frequency (transaction count) and
    Monetary (net spend), then rolled up per (r,f,m) cell — the marketing
    segmentation the reference's at-risk / frequent-visitor flag rules
    hand-pick thresholds for (customer_flags_config.py), generalized to
    data-driven quintiles.

    Determinism under ties: scores are RANK-quantiles — score = f(count of
    customers STRICTLY below), so every customer with the same value lands
    in the same bucket in both engines (ntile would split ties by
    partition order).  Recency score is inverted (recent = 5).

    Scale shape: the monetary rank rides the sign-aware log-bucket prefix
    primitive (property-tested; negatives = net refunders); recency and
    frequency ranks run over their bounded vocabularies (calendar days /
    count-of-transactions).  Output ≤ 5³ cells."""
    from .sketches import bucketed_prefix_rank
    from .transactions import build_transactions

    from ..io import tracked_persist

    txn = build_transactions(spark, sf_dir)
    ref = txn.agg(F.max("txn_date").alias("ref_day"))
    # tracked cache: five consumers (tot + three rank vocabularies + the
    # score join) would otherwise each recompute the per-customer collapse
    # — tools/plan_report.py showed the duplicated subtree as 21 shuffles /
    # 14 BNLJ
    per_cust = tracked_persist(
        txn.groupBy("customer_id")
        .agg(
            F.max("txn_date").alias("last_day"),
            F.count("*").alias("freq"),
            F.sum(to_cents(F.col("total_amount"))).alias("cents"),
        )
        .join(F.broadcast(ref))
        .select(
            "customer_id",
            F.datediff(F.col("ref_day"), F.col("last_day")).alias("recency_days"),
            "freq",
            "cents",
        )
    )

    def rank_before(df: DataFrame, col: str, bucketed: bool) -> DataFrame:
        """(value, before) — customers with value strictly below, via the
        log-bucket primitive (unbounded vocab) or a plain vocab prefix."""
        per_val = df.groupBy(col).agg(F.count("*").alias("cnt"))
        if not bucketed:
            w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
            return per_val.select(
                col, F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("before")
            )
        return bucketed_prefix_rank(per_val, col).select(col, "before")

    tot = per_cust.agg(F.count("*").alias("n_tot"))
    # INTEGER division, exactly the oracle's `//` — a double floor(5·b/n)
    # can land one off when 5·b is an exact multiple of n
    bucket_of = F.least(
        F.lit(RFM_BUCKETS - 1),
        F.expr(f"({RFM_BUCKETS} * before) div n_tot").cast("int"),
    )
    r_rank = rank_before(per_cust, "recency_days", bucketed=False)
    f_rank = rank_before(per_cust, "freq", bucketed=False)
    m_rank = rank_before(per_cust, "cents", bucketed=True)
    scored = (
        per_cust.join(F.broadcast(tot))
        .join(
            F.broadcast(r_rank.select("recency_days", F.col("before"))), "recency_days"
        )
        .withColumn("r_score", F.lit(RFM_BUCKETS) - bucket_of)
        .drop("before")
        .join(F.broadcast(f_rank.select("freq", "before")), "freq")
        .withColumn("f_score", bucket_of + 1)
        .drop("before")
        .join(m_rank.select("cents", "before"), "cents")
        .withColumn("m_score", bucket_of + 1)
        .drop("before")
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("cents").alias("cents"),
        )
        .select(
            "r_score",
            "f_score",
            "m_score",
            "n_customers",
            (F.col("cents") / 100.0).alias("total_spend"),
            ratio(F.col("cents").cast("double"), F.col("n_customers").cast("double") * 100.0, 2).alias(
                "avg_spend"
            ),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


def rfm_segments_sql() -> str:
    from ..functions.money import ratio_sql
    from .transactions import transactions_sql

    b = RFM_BUCKETS
    return f"""
WITH txn AS ({transactions_sql()}),
ref AS (SELECT max(txn_date) AS ref_day FROM txn),
per_cust AS (
  SELECT customer_id,
         (SELECT ref_day FROM ref) - max(txn_date) AS recency_days,
         count(*) AS freq,
         sum({to_cents_sql('total_amount')}) AS cents
  FROM txn GROUP BY customer_id
),
tot AS (SELECT count(*) AS n FROM per_cust),
r_rank AS (
  SELECT recency_days,
         coalesce(sum(cnt) OVER (ORDER BY recency_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM (SELECT recency_days, count(*) AS cnt FROM per_cust GROUP BY 1)
),
f_rank AS (
  SELECT freq,
         coalesce(sum(cnt) OVER (ORDER BY freq
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM (SELECT freq, count(*) AS cnt FROM per_cust GROUP BY 1)
),
m_rank AS (
  SELECT cents,
         coalesce(sum(cnt) OVER (ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM (SELECT cents, count(*) AS cnt FROM per_cust GROUP BY 1)
),
scored AS (
  SELECT p.customer_id, p.cents,
         CAST({b} - least({b - 1}, ({b} * r.before) // t.n) AS INTEGER) AS r_score,
         CAST(least({b - 1}, ({b} * f.before) // t.n) + 1 AS INTEGER) AS f_score,
         CAST(least({b - 1}, ({b} * m.before) // t.n) + 1 AS INTEGER) AS m_score
  FROM per_cust p
  JOIN r_rank r USING (recency_days)
  JOIN f_rank f USING (freq)
  JOIN m_rank m USING (cents)
  CROSS JOIN tot t
)
SELECT r_score, f_score, m_score, count(*) AS n_customers,
       sum(cents) / 100.0 AS total_spend,
       {ratio_sql('sum(cents)::double', 'count(*)::double * 100.0', 2)} AS avg_spend
FROM scored
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def funnel_step_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long converting users take between funnel steps: the latency
    distribution (mean / median / p90, nearest-rank) of view→click and
    click→purchase for users who completed each hop — the companion
    :func:`event_funnel` needs before anyone tunes FUNNEL_HOP (a 95th-
    percentile latency near the hop cap means the window, not the
    product, is deciding conversions).

    Determinism: latencies quantize to whole SECONDS (the hop cap is 1h,
    so the vocabulary is ≤ 3600 values — a bounded frame by construction);
    median = lower-median rank (n+1) div 2, p90 = nearest-rank ceil(.9n),
    both picked by prefix-count interval cover, never a percentile UDF.

    Scale shape: the same three per-user min-aggregates as event_funnel
    (co-hashed joins on user_id), then all rank math runs on the ≤ 3600-row
    per-step second vocabulary."""
    from ..io import load_table

    base = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    v = (
        base.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    c = (
        base.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t1"))
            & (F.col("ts_us") <= F.col("t1") + FUNNEL_HOP_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"), F.min("t1").alias("t1k"))
    )
    p = (
        base.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts_us") > F.col("t2"))
            & (F.col("ts_us") <= F.col("t2") + FUNNEL_HOP_US)
        )
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"), F.min("t2").alias("t2k"))
    )
    lat = (
        c.select(
            F.lit("view_to_click").alias("hop"),
            F.floor((F.col("t2") - F.col("t1k")) / 1000000.0).cast("long").alias("lat_s"),
        )
        .unionByName(
            p.select(
                F.lit("click_to_purchase").alias("hop"),
                F.floor((F.col("t3") - F.col("t2k")) / 1000000.0)
                .cast("long")
                .alias("lat_s"),
            )
        )
    )
    per_val = lat.groupBy("hop", "lat_s").agg(F.count("*").alias("cnt"))
    win = Window.partitionBy("hop").orderBy("lat_s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wh = Window.partitionBy("hop")
    ranked = per_val.select(
        "hop",
        "lat_s",
        "cnt",
        F.coalesce(F.sum("cnt").over(win), F.lit(0)).alias("before"),
        F.sum("cnt").over(wh).alias("n"),
        F.sum(F.col("lat_s") * F.col("cnt")).over(wh).alias("s"),
    )
    med_rank = F.expr("(n + 1) div 2")
    p90_rank = F.expr("(9 * n + 9) div 10")
    covers = lambda r: (F.col("before") < r) & (r <= F.col("before") + F.col("cnt"))  # noqa: E731
    return (
        ranked.groupBy("hop", "n", "s")
        .agg(
            F.min(F.when(covers(med_rank), F.col("lat_s"))).alias("median_s"),
            F.min(F.when(covers(p90_rank), F.col("lat_s"))).alias("p90_s"),
        )
        .select(
            "hop",
            F.col("n").alias("n_users"),
            ratio(F.col("s").cast("double"), F.col("n").cast("double"), 2).alias(
                "mean_s"
            ),
            "median_s",
            "p90_s",
        )
        .orderBy("hop")
    )


def funnel_step_latency_sql() -> str:
    hop = FUNNEL_HOP_US
    return f"""
WITH base AS (
  SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS ts_us FROM events
),
v AS (
  SELECT user_id, min(ts_us) AS t1 FROM base WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT b.user_id, min(b.ts_us) AS t2, min(v.t1) AS t1k
  FROM base b JOIN v ON b.user_id = v.user_id
  WHERE b.event_type = 'click' AND b.ts_us > v.t1 AND b.ts_us <= v.t1 + {hop}
  GROUP BY b.user_id
),
p AS (
  SELECT b.user_id, min(b.ts_us) AS t3, min(c.t2) AS t2k
  FROM base b JOIN c ON b.user_id = c.user_id
  WHERE b.event_type = 'purchase' AND b.ts_us > c.t2 AND b.ts_us <= c.t2 + {hop}
  GROUP BY b.user_id
),
lat AS (
  SELECT 'view_to_click' AS hop, CAST(floor((t2 - t1k) / 1000000.0) AS BIGINT) AS lat_s FROM c
  UNION ALL
  SELECT 'click_to_purchase', CAST(floor((t3 - t2k) / 1000000.0) AS BIGINT) FROM p
),
per_val AS (
  SELECT hop, lat_s, count(*) AS cnt FROM lat GROUP BY 1, 2
),
ranked AS (
  SELECT hop, lat_s, cnt,
         coalesce(sum(cnt) OVER (PARTITION BY hop ORDER BY lat_s
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
         sum(cnt) OVER (PARTITION BY hop) AS n,
         sum(lat_s * cnt) OVER (PARTITION BY hop) AS s
  FROM per_val
)
SELECT hop, CAST(n AS BIGINT) AS n_users,
       {ratio_sql('s::double', 'n::double', 2)} AS mean_s,
       min(CASE WHEN before < (n + 1) // 2 AND (n + 1) // 2 <= before + cnt
                THEN lat_s END) AS median_s,
       min(CASE WHEN before < (9 * n + 9) // 10 AND (9 * n + 9) // 10 <= before + cnt
                THEN lat_s END) AS p90_s
FROM ranked
GROUP BY hop, n, s
ORDER BY hop
"""


def ltv_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV triangle: customers grouped by first-purchase month,
    revenue tracked by month-age, cumulative revenue per cohort member —
    the money-side counterpart of :func:`retention_triangle` (which counts
    who comes back; this one says what they're WORTH as the cohort ages,
    the curve a CAC payback decision reads).

    Exactness: cohort sizes and month-age revenue are exact integer
    cents; cumulative sums run per cohort over the bounded month-age
    frame; per-member values are single exact-int ratios.

    Scale shape: one per-customer first-month aggregate (co-hashed with
    the txn groupBy), one (cohort × age) rollup — ages are calendar-
    bounded, so the window frame is months × months."""
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    per_txn = txn.select(
        "customer_id",
        F.trunc(F.col("txn_date"), "month").alias("txn_month"),
        to_cents(F.col("total_amount")).alias("cents"),
    )
    firsts = per_txn.groupBy("customer_id").agg(
        F.min("txn_month").alias("cohort_month")
    )
    sized = firsts.groupBy("cohort_month").agg(F.count("*").alias("cohort_size"))
    aged = (
        per_txn.join(firsts, "customer_id")
        .withColumn(
            "age_months",
            F.months_between(F.col("txn_month"), F.col("cohort_month")).cast("int"),
        )
        .groupBy("cohort_month", "age_months")
        .agg(
            F.sum("cents").alias("cents"),
            F.countDistinct("customer_id").alias("active_customers"),
        )
    )
    w = Window.partitionBy("cohort_month").orderBy("age_months").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        aged.join(F.broadcast(sized), "cohort_month")
        .select(
            "cohort_month",
            "age_months",
            "cohort_size",
            "active_customers",
            (F.col("cents") / 100.0).alias("revenue"),
            F.sum("cents").over(w).alias("cum_cents"),
        )
        .select(
            "cohort_month",
            "age_months",
            "cohort_size",
            "active_customers",
            "revenue",
            (F.col("cum_cents") / 100.0).alias("cum_revenue"),
            ratio(
                F.col("cum_cents").cast("double"),
                F.col("cohort_size").cast("double") * 100.0,
                2,
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort_month", "age_months")
    )


def ltv_triangle_sql() -> str:
    from .transactions import transactions_sql

    return f"""
WITH txn AS ({transactions_sql()}),
per_txn AS (
  SELECT customer_id, date_trunc('month', txn_date)::date AS txn_month,
         {to_cents_sql('total_amount')} AS cents
  FROM txn
),
firsts AS (
  SELECT customer_id, min(txn_month) AS cohort_month FROM per_txn GROUP BY 1
),
sized AS (
  SELECT cohort_month, count(*) AS cohort_size FROM firsts GROUP BY 1
),
aged AS (
  SELECT f.cohort_month,
         CAST(datediff('month', f.cohort_month, p.txn_month) AS INTEGER) AS age_months,
         sum(p.cents) AS cents,
         count(DISTINCT p.customer_id) AS active_customers
  FROM per_txn p JOIN firsts f USING (customer_id)
  GROUP BY 1, 2
)
SELECT a.cohort_month, a.age_months,
       CAST(s.cohort_size AS BIGINT) AS cohort_size,
       CAST(a.active_customers AS BIGINT) AS active_customers,
       a.cents / 100.0 AS revenue,
       sum(a.cents) OVER (PARTITION BY a.cohort_month ORDER BY a.age_months
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         / 100.0 AS cum_revenue,
       {ratio_sql(
           "sum(a.cents) OVER (PARTITION BY a.cohort_month ORDER BY a.age_months "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::double",
           "s.cohort_size::double * 100.0",
           2,
       )} AS ltv_per_customer
FROM aged a JOIN sized s USING (cohort_month)
ORDER BY a.cohort_month, a.age_months
"""


def tukey_category_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit per revenue category: exact nearest-rank
    Q1/Q3 over transaction amounts, the 1.5·IQR fences, and how many
    transactions fall outside each — the box-plot summary behind
    :func:`transactions.suspicious_price_bands`'s hand-written bands,
    derived from the data instead (a new category needs no band config
    before mispricings surface).

    Determinism: quartiles are nearest-rank picks (ceil(n/4), ceil(3n/4))
    located by prefix-count interval cover over the per-value frame; fence
    comparisons run on 2×-scaled integer cents (2·cents vs 2·q1 − 3·IQR),
    so the .5-cent fence positions never touch floats.

    Scale shape: one (category, cents) collapse; ranking rides the
    sign-aware log-bucket prefix primitive WITHIN each category — the
    per-category vocabularies are corpus-sized, so no plain per-category
    window over values, same discipline as gini/trimmed."""
    from .sketches import bucketed_prefix_rank
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    vals = txn.select(
        "revenue_category", to_cents(F.col("total_amount")).alias("cents")
    )
    # ROUND-12 OPTIMIZATION (guide §5): per_val feeds both the ranked
    # quartile subtree and the fence-count join, and quart feeds both the
    # fence-count broadcast and the final output join — uncached, the txn
    # scan+collapse ran twice and the two-window rank subtree ran twice.
    # Both cached frames are value-vocabulary-sized (per (category, cents)
    # and per category), not row-sized.
    from ..io import tracked_persist

    per_val = tracked_persist(
        vals.groupBy("revenue_category", "cents").agg(F.count("*").alias("cnt"))
    )
    wc = Window.partitionBy("revenue_category")
    ranked = bucketed_prefix_rank(
        per_val, "cents", partition_cols=("revenue_category",)
    ).withColumn("n", F.sum("cnt").over(wc))
    q1_rank = F.expr("(n + 3) div 4")
    q3_rank = F.expr("(3 * n + 3) div 4")
    covers = lambda r: (F.col("before") < r) & (r <= F.col("before") + F.col("cnt"))  # noqa: E731
    quart = tracked_persist(
        ranked.groupBy("revenue_category", "n").agg(
            F.min(F.when(covers(q1_rank), F.col("cents"))).alias("q1"),
            F.min(F.when(covers(q3_rank), F.col("cents"))).alias("q3"),
        )
    )
    # outlier counting needs only (value, cnt) — join the quartiles onto
    # per_val, NOT onto ranked: reusing ranked here would recompute its
    # two-window subtree a second time (measured 9.8 s → ~5 s at sf0.1)
    j = per_val.join(
        F.broadcast(quart.select("revenue_category", "q1", "q3")), "revenue_category"
    )
    iqr = F.col("q3") - F.col("q1")
    below = (2 * F.col("cents")) < (2 * F.col("q1") - 3 * iqr)
    above = (2 * F.col("cents")) > (2 * F.col("q3") + 3 * iqr)
    outs = j.groupBy("revenue_category").agg(
        F.sum(F.when(below, F.col("cnt")).otherwise(F.lit(0))).alias("n_out_low"),
        F.sum(F.when(above, F.col("cnt")).otherwise(F.lit(0))).alias("n_out_high"),
    )
    return (
        quart.join(outs, "revenue_category")
        .select(
            "revenue_category",
            F.col("n").alias("n_txns"),
            (F.col("q1") / 100.0).alias("q1"),
            (F.col("q3") / 100.0).alias("q3"),
            (iqr / 100.0).alias("iqr"),
            ((2 * F.col("q1") - 3 * iqr) / 200.0).alias("fence_low"),
            ((2 * F.col("q3") + 3 * iqr) / 200.0).alias("fence_high"),
            "n_out_low",
            "n_out_high",
        )
        .orderBy("revenue_category")
    )


def tukey_category_outliers_sql() -> str:
    from .transactions import transactions_sql

    return f"""
WITH txn AS ({transactions_sql()}),
vals AS (
  SELECT revenue_category, {to_cents_sql('total_amount')} AS cents FROM txn
),
per_val AS (
  SELECT revenue_category, cents, count(*) AS cnt FROM vals GROUP BY 1, 2
),
ranked AS (
  SELECT revenue_category, cents, cnt,
         coalesce(sum(cnt) OVER (PARTITION BY revenue_category ORDER BY cents
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
         sum(cnt) OVER (PARTITION BY revenue_category) AS n
  FROM per_val
),
quart AS (
  SELECT revenue_category, n,
         min(CASE WHEN before < (n + 3) // 4 AND (n + 3) // 4 <= before + cnt
                  THEN cents END) AS q1,
         min(CASE WHEN before < (3 * n + 3) // 4 AND (3 * n + 3) // 4 <= before + cnt
                  THEN cents END) AS q3
  FROM ranked GROUP BY revenue_category, n
),
outs AS (
  SELECT r.revenue_category,
         sum(CASE WHEN 2 * r.cents < 2 * q.q1 - 3 * (q.q3 - q.q1) THEN r.cnt ELSE 0 END) AS n_out_low,
         sum(CASE WHEN 2 * r.cents > 2 * q.q3 + 3 * (q.q3 - q.q1) THEN r.cnt ELSE 0 END) AS n_out_high
  FROM ranked r JOIN quart q USING (revenue_category)
  GROUP BY r.revenue_category
)
SELECT q.revenue_category, CAST(q.n AS BIGINT) AS n_txns,
       q.q1 / 100.0 AS q1, q.q3 / 100.0 AS q3,
       (q.q3 - q.q1) / 100.0 AS iqr,
       (2 * q.q1 - 3 * (q.q3 - q.q1)) / 200.0 AS fence_low,
       (2 * q.q3 + 3 * (q.q3 - q.q1)) / 200.0 AS fence_high,
       CAST(o.n_out_low AS BIGINT) AS n_out_low,
       CAST(o.n_out_high AS BIGINT) AS n_out_high
FROM quart q JOIN outs o USING (revenue_category)
ORDER BY q.revenue_category
"""


PARETO_TOPS = (1, 5, 10, 20, 50)  # top-% customer tiers


def revenue_pareto_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration table: the share of net revenue carried by
    the top 1/5/10/20/50% of customers — the "is it really 80/20" view
    that :func:`gini_spend_concentration` compresses into one number
    (two corpora can share a Gini while one hides a whale tier; this
    table shows WHERE the mass sits).

    Determinism: the top-k cut is a rank-interval over the per-value
    frame (ties split by rank, exactly like the trimmed-mean cuts):
    top_n = ceil(p%·n); a value straddling the cut contributes only its
    in-cut copies, so both engines count identical mass.  Ranks ride the
    sign-aware log-bucket primitive — no global sort.

    Scale shape: one per-customer collapse, the bucketed rank build,
    then a broadcast 5-row tier grid over the per-value frame."""
    from .sketches import bucketed_prefix_rank
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    per_cust = txn.groupBy("customer_id").agg(
        F.sum(to_cents(F.col("total_amount"))).alias("cents")
    )
    per_val = per_cust.groupBy("cents").agg(F.count("*").alias("cnt"))
    tot = Window.partitionBy()
    # rank DESC: "before" counts customers with STRICTLY MORE spend
    ranked = (
        bucketed_prefix_rank(per_val, "cents", descending=True)
        .withColumn("n", F.sum("cnt").over(tot))
        .withColumn(
            "total_cents",
            F.sum(
                dec38_prod(F.col("cents"), F.col("cnt"))
            ).over(tot),
        )
    )
    tiers = spark.createDataFrame([(int(p),) for p in PARETO_TOPS], "top_pct int")
    j = ranked.crossJoin(F.broadcast(tiers)).withColumn(
        "top_n", F.expr("(top_pct * n + 99) div 100")
    )
    in_cut = F.greatest(
        F.lit(0),
        F.least(F.col("top_n") - F.col("before"), F.col("cnt").cast("long")),
    )
    agg = j.groupBy("top_pct", "n", "total_cents").agg(
        F.sum(dec38(in_cut) * dec38(F.col("cents"))).alias("tier_cents"),
        F.sum(in_cut).alias("tier_customers"),
    )
    return agg.select(
        "top_pct",
        F.col("tier_customers").alias("n_customers"),
        (F.col("tier_cents") / 100.0).alias("tier_revenue"),
        F.when(
            F.col("total_cents") != 0,
            ratio(
                F.col("tier_cents").cast("double"),
                F.col("total_cents").cast("double"),
                6,
            ),
        ).alias("revenue_share"),
    ).orderBy("top_pct")


def revenue_pareto_shares_sql() -> str:
    from .transactions import transactions_sql

    tiers = ", ".join(f"({p})" for p in PARETO_TOPS)
    return f"""
WITH txn AS ({transactions_sql()}),
per_cust AS (
  SELECT customer_id, sum({to_cents_sql('total_amount')}) AS cents
  FROM txn GROUP BY customer_id
),
per_val AS (
  SELECT cents, count(*) AS cnt FROM per_cust GROUP BY cents
),
ranked AS (
  SELECT cents, cnt,
         coalesce(sum(cnt) OVER (ORDER BY cents DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
         sum(cnt) OVER () AS n,
         sum(cents::hugeint * cnt::hugeint) OVER () AS total_cents
  FROM per_val
),
j AS (
  SELECT r.*, t.top_pct, (t.top_pct * r.n + 99) // 100 AS top_n
  FROM ranked r CROSS JOIN (SELECT * FROM (VALUES {tiers}) x(top_pct)) t
),
agg AS (
  SELECT top_pct, n, total_cents,
         sum(greatest(0, least(top_n - before, cnt))::hugeint * cents::hugeint)
           AS tier_cents,
         sum(greatest(0, least(top_n - before, cnt))) AS tier_customers
  FROM j GROUP BY 1, 2, 3
)
SELECT top_pct,
       CAST(tier_customers AS BIGINT) AS n_customers,
       tier_cents / 100.0 AS tier_revenue,
       CASE WHEN total_cents != 0
            THEN floor(tier_cents::double / total_cents::double * 1000000.0 + 0.5)
                 / 1000000.0 END AS revenue_share
FROM agg
ORDER BY top_pct
"""


def segment_spend_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment spend quantile table (p25/p50/p75/p90 of per-customer
    net cents) — the per-SEGMENT sibling of :func:`tukey_category_outliers`'s
    per-category quartiles and the quantile backbone the reference's
    segment dashboards read as hand-set thresholds
    (utils/customer_flags_config.py tiers); here the cuts come from the
    data.  Quantiles are exact nearest-rank picks (rank = ceil(q·n))
    located by prefix-count interval cover, so ties land identically in
    both engines.

    Scale shape: one (segment, cents) collapse; ranking rides the shared
    :func:`sketches.bucketed_prefix_rank` in PARTITIONED mode (the
    per-segment value vocabularies are corpus-sized — no plain
    per-segment sort anywhere); output ≤ 5 rows."""
    from ..functions.money import to_cents
    from .customers import build_customers
    from .sketches import bucketed_prefix_rank
    from .transactions import build_transactions

    txn = build_transactions(spark, sf_dir)
    per_cust = txn.groupBy("customer_id").agg(
        F.sum(to_cents(F.col("total_amount"))).alias("cents")
    )
    seg = build_customers(spark, sf_dir).select("customer_id", "segment")
    vals = per_cust.join(F.broadcast(seg), "customer_id").select("segment", "cents")
    per_val = vals.groupBy("segment", "cents").agg(F.count("*").alias("cnt"))
    wseg = Window.partitionBy("segment")
    ranked = bucketed_prefix_rank(
        per_val, "cents", partition_cols=("segment",)
    ).withColumn("n", F.sum("cnt").over(wseg))
    # nearest-rank targets: ceil(q·n) as pure integer arithmetic
    r25 = F.expr("(n + 3) div 4")
    r50 = F.expr("(n + 1) div 2")
    r75 = F.expr("(3 * n + 3) div 4")
    r90 = F.expr("(9 * n + 9) div 10")
    covers = lambda r: (F.col("before") < r) & (r <= F.col("before") + F.col("cnt"))  # noqa: E731
    q = ranked.groupBy("segment", "n").agg(
        F.min(F.when(covers(r25), F.col("cents"))).alias("q25"),
        F.min(F.when(covers(r50), F.col("cents"))).alias("q50"),
        F.min(F.when(covers(r75), F.col("cents"))).alias("q75"),
        F.min(F.when(covers(r90), F.col("cents"))).alias("q90"),
    )
    return q.select(
        "segment",
        F.col("n").alias("n_customers"),
        (F.col("q25") / 100.0).alias("p25"),
        (F.col("q50") / 100.0).alias("p50"),
        (F.col("q75") / 100.0).alias("p75"),
        (F.col("q90") / 100.0).alias("p90"),
    ).orderBy("segment")


def segment_spend_quantiles_sql() -> str:
    from ..functions.money import to_cents_sql
    from .customers import customers_sql
    from .transactions import transactions_sql

    return f"""
WITH txn AS ({transactions_sql()}),
cust AS ({customers_sql()}),
per_cust AS (
  SELECT customer_id, sum({to_cents_sql('total_amount')}) AS cents
  FROM txn GROUP BY customer_id
),
vals AS (
  SELECT c.segment, p.cents
  FROM per_cust p JOIN cust c USING (customer_id)
),
per_val AS (
  SELECT segment, cents, count(*) AS cnt
  FROM vals GROUP BY segment, cents
),
ranked AS (
  SELECT segment, cents, cnt,
         coalesce(sum(cnt) OVER (PARTITION BY segment ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
         sum(cnt) OVER (PARTITION BY segment) AS n
  FROM per_val
),
q AS (
  SELECT segment, n,
         min(CASE WHEN before < (n + 3) // 4
                   AND (n + 3) // 4 <= before + cnt THEN cents END) AS q25,
         min(CASE WHEN before < (n + 1) // 2
                   AND (n + 1) // 2 <= before + cnt THEN cents END) AS q50,
         min(CASE WHEN before < (3 * n + 3) // 4
                   AND (3 * n + 3) // 4 <= before + cnt THEN cents END) AS q75,
         min(CASE WHEN before < (9 * n + 9) // 10
                   AND (9 * n + 9) // 10 <= before + cnt THEN cents END) AS q90
  FROM ranked GROUP BY segment, n
)
SELECT segment, CAST(n AS BIGINT) AS n_customers,
       q25 / 100.0 AS p25, q50 / 100.0 AS p50,
       q75 / 100.0 AS p75, q90 / 100.0 AS p90
FROM q ORDER BY segment
"""
