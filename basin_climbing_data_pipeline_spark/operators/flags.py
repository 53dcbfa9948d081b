"""Customer-flags rule engine + the unified event log it evaluates.

Reference architecture (customer_flags_engine.py:207-360): group the event
log per customer, build a sorted in-memory timeline, run ~17 rule objects
over it, emit flags with TTL and AB-experiment assignment.  Here the same
rules are NATIVE DataFrame programs — each rule is a windowed aggregate or
join over the event log, evaluated set-at-a-time (no per-customer Python in
the hot path).  A per-customer ``applyInPandas`` implementation of the same
rules lives in :func:`flags_via_applyinpandas` as the fidelity/differential
path (the reference's F3 UDAF surface); pytest asserts it agrees with the
native path.

Rules implemented (reference customer_flags_config.py:173-1717 vocabulary):

- ready_for_membership: ≥3 checkins in the 14 days before as_of and no
  membership ever
- frequent_visitor: ≥8 checkins in the 30 days before as_of
- returning_after_break: a ≥break-day gap ending within 14 days of as_of
- new_member: membership started within 14 days before as_of
- membership_cancelled_winback: membership ended in the 30 days before
  as_of with no later membership start
- active-membership (persistent): an ACT membership interval covers as_of
- has-youth (persistent): customer has a child edge
- first_time_day_pass_2wk_offer / second_visit_offer_eligible (ref
  :245-515): recent non-member day-pass entry after a break, not an active
  member, no 2-week pass
- second_visit_2wk_offer (ref :516-637): phase-1 second-visit offer +
  returned since + still not a member
- 2_week_pass_purchase (ref :639-718): membership-name keyword grammar
- birthday_party_host_one_week_out / _six_days_out / _completed and
  birthday_party_attendee_one_week_out (ref :720-1080): party-date timing
  against the parties/RSVPs tables
- fifty_percent_offer_sent (ref :1080-1180): JSON event_details round trip
  over synthesized offer emails
- re-flag cooldown on offer flags (ref :330-345) via a phase-1 evaluation
- child propagation + parent suppression (engine :184-205, 289-318)

AB assignment reproduces the reference's md5-hash bucketing
(customer_flags_config.py:96-132) as md5(customer_id) parity.  TTL
(14 days, persistent flags exempt — customer_flags_config.py:22-42) is
expressed as an is_active predicate against as_of.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import config
from ..io import materialized

FLAGS_AS_OF = dt.date(2024, 1, 20)
BREAK_DAYS = 2  # compressed for the ~1-month synthetic stream (see events.py)

# ---------------------------------------------------------------------------
# unified event log (F5)
# ---------------------------------------------------------------------------

CATEGORY_EVENT_TYPE = {
    "Day Pass": "day_pass_purchase",
    "New Membership": "membership_purchase",
    "Membership Renewal": "membership_renewal",
    "Retail": "retail_purchase",
    "Programming": "programming_purchase",
    "Event Booking": "event_booking",
}


@materialized("customer_events")
def events_unified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unified customer event log (reference build_events_table.py:27-128
    + customer_events_builder.py:641-664): checkins ∪ purchase events ∪
    membership lifecycle events, one schema, chronologically sortable."""
    from ..functions.text import map_lookup
    from .events import build_checkins
    from .memberships import build_memberships_2024
    from .transactions import build_transactions

    ck = build_checkins(spark, sf_dir).select(
        "customer_id",
        F.col("checkin_date").alias("event_date"),
        F.lit("checkin").alias("event_type"),
        F.lit("capitan").alias("event_source"),
        F.col("spend_amount").alias("amount"),
    )
    txn = build_transactions(spark, sf_dir).select(
        "customer_id",
        F.col("txn_date").alias("event_date"),
        F.when(F.col("is_refund"), "refund")
        .otherwise(
            map_lookup(F.col("revenue_category"), CATEGORY_EVENT_TYPE, "other_purchase")
        )
        .alias("event_type"),
        F.lower(F.col("data_source")).alias("event_source"),
        F.col("total_amount").alias("amount"),
    )
    m = build_memberships_2024(spark, sf_dir)
    started = m.select(
        F.col("owner_id").alias("customer_id"),
        F.col("start_date").alias("event_date"),
        F.lit("membership_started").alias("event_type"),
        F.lit("capitan").alias("event_source"),
        F.col("billing_amount").alias("amount"),
    )
    ended = m.filter(F.col("status") == "END").select(
        F.col("owner_id").alias("customer_id"),
        F.col("end_date").alias("event_date"),
        F.lit("membership_cancelled").alias("event_type"),
        F.lit("capitan").alias("event_source"),
        F.lit(0.0).alias("amount"),
    )
    return ck.unionByName(txn).unionByName(started).unionByName(ended)


def events_unified_sql() -> str:
    from ..functions.text import map_lookup_sql
    from .events import checkins_sql
    from .memberships import memberships_2024_sql
    from .transactions import transactions_sql

    et = map_lookup_sql("revenue_category", CATEGORY_EVENT_TYPE, "other_purchase")
    return f"""
WITH ck AS ({checkins_sql()}),
txn AS ({transactions_sql()}),
m AS ({memberships_2024_sql()})
SELECT customer_id, checkin_date AS event_date, 'checkin' AS event_type,
       'capitan' AS event_source, spend_amount AS amount
FROM ck
UNION ALL
SELECT customer_id, txn_date,
       CASE WHEN is_refund THEN 'refund' ELSE {et} END,
       lower(data_source), total_amount
FROM txn
UNION ALL
SELECT owner_id, start_date, 'membership_started', 'capitan', billing_amount FROM m
UNION ALL
SELECT owner_id, end_date, 'membership_cancelled', 'capitan', 0.0
FROM m WHERE status = 'END'
"""


# ---------------------------------------------------------------------------
# native rule engine
# ---------------------------------------------------------------------------

# v2 rule knobs (reference customer_flags_config.py:245-718 vocabulary; the
# day-count windows that assume a years-long history are compressed to the
# ~1-month synthetic stream, like BREAK_DAYS above)
OFFER_RECENT_DAYS = 5  # most recent day pass must be this recent (ref :279)
# reference :284 uses 60 days; the synthetic stream's visit cadence is ~2 days
# over one month, so the "returning after a break" window compresses to 2
# (same compression as BREAK_DAYS above)
PRIOR_BREAK_DAYS = 2
PHASE1_LAG_DAYS = 7  # "previous pipeline run" used for flag-history rules
EMAIL_SYNC_LAG_DAYS = 5  # offer email goes out this long after phase-1 flagging
EMAIL_LOOKBACK_DAYS = 3  # fifty_percent looks back this far (ref :1102)
PARTY_DATE_MOD = 31  # party_date = 2024-01-01 + orderkey % 31 (2024 window)

# re-flag cooldown: the reference suppresses a flag re-fired within 180 days
# (config.REFLAG_COOLDOWN_DAYS); with a 7-day phase lag every phase-1 hit is
# inside the window, which is exactly the reference's daily-run behavior.
OFFER_FLAG_TYPES = (
    "first_time_day_pass_2wk_offer",
    "second_visit_offer_eligible",
    "second_visit_2wk_offer",
    "fifty_percent_offer_sent",
)

# reference customer_flags_config.py:1921-1930
CHILD_ELIGIBLE_FLAGS = (
    "ready_for_membership",
    "first_time_day_pass_2wk_offer",
    "second_visit_offer_eligible",
    "second_visit_2wk_offer",
    "2_week_pass_purchase",
    "birthday_party_attendee_one_week_out",
    "new_member",
    "membership_cancelled_winback",
)

TWO_WEEK_KEYWORDS = ("2-week", "2 week", "two week")


def _is_two_week(name: F.Column) -> F.Column:
    """Membership-name keyword grammar (reference customer_flags_config.py:660-668)."""
    cond = F.lit(False)
    for kw in TWO_WEEK_KEYWORDS:
        cond = cond | F.lower(name).contains(kw)
    return cond


def _is_two_week_sql(expr: str) -> str:
    ors = " OR ".join(f"lower({expr}) LIKE '%{kw}%'" for kw in TWO_WEEK_KEYWORDS)
    return f"({ors})"


def build_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Birthday parties in the 2024 event window (reference birthday/parties
    table, customer_flags_config.py:727-743): party = order, host = the
    ordering customer, party_date mapped deterministically into January 2024
    (same trick as build_memberships_2024)."""
    from ..io import load_table

    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey").alias("party_id"),
        F.col("o_custkey").alias("host_customer_id"),
        F.date_add(
            F.to_date(F.lit("2024-01-01")),
            (F.col("o_orderkey") % PARTY_DATE_MOD).cast("int"),
        ).alias("party_date"),
    )


def _parties_sql() -> str:
    return f"""
SELECT o_orderkey AS party_id, o_custkey AS host_customer_id,
       DATE '2024-01-01' + (o_orderkey % {PARTY_DATE_MOD})::int AS party_date
FROM orders
"""


def build_rsvps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Party RSVPs (reference birthday/rsvps.csv): one RSVP per lineitem of
    the party order; the attendee key space (l_suppkey) is a subset of the
    customer key space; attending derives deterministically from the return
    flag (returned line = declined)."""
    from ..io import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("party_id"),
        F.col("l_suppkey").alias("attendee_id"),
        F.when(F.col("l_returnflag") == "R", "no").otherwise("yes").alias("attending"),
    )


def _rsvps_sql() -> str:
    return """
SELECT l_orderkey AS party_id, l_suppkey AS attendee_id,
       CASE WHEN l_returnflag = 'R' THEN 'no' ELSE 'yes' END AS attending
FROM lineitem
"""


def _raw_flags(spark: SparkSession, sf_dir: str, as_of_date) -> DataFrame:
    """All history-independent rules evaluated set-at-a-time at one as-of
    date; one row per (customer, flag).  Rules that depend on the PREVIOUS
    run's flags (step-2 offers, cooldowns, the offer-email rule) live in
    :func:`build_flags`, which evaluates this twice."""
    from .customers import build_customers
    from .events import build_checkins
    from .memberships import build_memberships_2024

    as_of = F.lit(as_of_date.strftime("%Y-%m-%d")).cast("date")
    ck = build_checkins(spark, sf_dir).select(
        "customer_id", "checkin_date", "checkin_ts_us", "checkin_id", "entry_method"
    )
    m = build_memberships_2024(spark, sf_dir)

    ck_asof = ck.filter(F.col("checkin_date") <= as_of)
    visit_stats = ck_asof.groupBy("customer_id").agg(
        F.count(F.when(F.col("checkin_date") > F.date_sub(as_of, 14), 1)).alias("visits_14d"),
        F.count(F.when(F.col("checkin_date") > F.date_sub(as_of, 30), 1)).alias("visits_30d"),
        F.max("checkin_date").alias("last_visit"),
    )
    mem_stats = m.groupBy(F.col("owner_id").alias("customer_id")).agg(
        F.min("start_date").alias("first_mem_start"),
        F.max("start_date").alias("last_mem_start"),
        F.max(F.when(F.col("status") == "END", F.col("end_date"))).alias("last_mem_end"),
        F.max(
            F.when(
                (F.col("status") == "ACT")
                & (F.col("start_date") <= as_of)
                & (F.col("end_date") >= as_of),
                1,
            ).otherwise(0)
        ).alias("has_active"),
    )
    base = visit_stats.join(mem_stats, "customer_id", "full")

    # returning_after_break: gap >= BREAK_DAYS ending within 14d of as_of
    from pyspark.sql import Window

    w = Window.partitionBy("customer_id").orderBy("checkin_ts_us", "checkin_id")
    gaps = (
        ck_asof.withColumn("prev", F.lag("checkin_date").over(w))
        .filter(
            (F.datediff(F.col("checkin_date"), F.col("prev")) >= BREAK_DAYS)
            & (F.col("checkin_date") > F.date_sub(as_of, 14))
        )
        .groupBy("customer_id")
        .agg(F.max("checkin_date").alias("return_date"))
    )
    base = base.join(gaps, "customer_id", "left")

    # All base-derived rules fire in ONE pass over `base`: each rule is a
    # conditional struct, nulls compacted away, then exploded.  A per-rule
    # `base.filter(cond)` union would make Spark re-evaluate the whole
    # base DAG (two aggregations + a window join) once per rule — 6× the
    # scans at any scale for identical output.
    def flag(cond, name, priority, trigger_date, persistent=False):
        return F.when(
            cond,
            F.struct(
                F.lit(name).alias("flag_type"),
                trigger_date.cast("date").alias("triggered_date"),
                F.lit(priority).alias("priority"),
                F.lit(persistent).alias("is_persistent"),
            ),
        )

    no_mem = F.col("first_mem_start").isNull()
    base_rules = F.array_compact(
        F.array(
            flag(
                (F.col("visits_14d") >= 3) & no_mem,
                "ready_for_membership",
                "high",
                F.col("last_visit"),
            ),
            flag(F.col("visits_30d") >= 8, "frequent_visitor", "medium", F.col("last_visit")),
            flag(
                F.col("return_date").isNotNull(),
                "returning_after_break",
                "medium",
                F.col("return_date"),
            ),
            flag(
                F.col("last_mem_start").isNotNull()
                & (F.col("last_mem_start") > F.date_sub(as_of, 14))
                & (F.col("last_mem_start") <= as_of),
                "new_member",
                "low",
                F.col("last_mem_start"),
            ),
            flag(
                F.col("last_mem_end").isNotNull()
                & (F.col("last_mem_end") > F.date_sub(as_of, 30))
                & (F.col("last_mem_end") <= as_of)
                & (
                    F.col("last_mem_start").isNull()
                    | (F.col("last_mem_start") <= F.col("last_mem_end"))
                ),
                "membership_cancelled_winback",
                "high",
                F.col("last_mem_end"),
            ),
            flag(F.col("has_active") == 1, "active-membership", "low", as_of, persistent=True),
        )
    )
    flags = (
        base.select("customer_id", F.explode(base_rules).alias("f"))
        .select("customer_id", "f.*")
    )
    has_youth = (
        build_customers(spark, sf_dir)
        .filter(F.col("is_child"))
        .select(F.col("parent_customer_id").alias("customer_id"))
        .distinct()
        .select(
            "customer_id",
            F.lit("has-youth").alias("flag_type"),
            as_of.alias("triggered_date"),
            F.lit("low").alias("priority"),
            F.lit(True).alias("is_persistent"),
        )
    )
    flags = flags.unionByName(has_youth)

    # --- day-pass offer eligibility (reference :245-515, shared base) -----
    # day-pass events = non-member entries (reference customer_events_builder:
    # "day_pass_purchase events are created from Capitan checkins with
    # entry_method='ENT' or 'GUE'"); not-a-member = no active membership
    # interval covering as_of (the event-date spaces of the synthetic
    # transactions and checkins differ, so the interval check is the
    # consistent-in-2024 re-expression of reference :276-289)
    dp = ck_asof.filter(F.col("entry_method").isin("ENT", "GUE"))
    dp_stats = dp.groupBy("customer_id").agg(F.max("checkin_date").alias("last_dp"))
    prior = (
        dp.join(dp_stats, "customer_id")
        .filter(
            (F.col("checkin_date") < F.col("last_dp"))
            & (F.col("checkin_date") >= F.date_sub(F.col("last_dp"), PRIOR_BREAK_DAYS))
        )
        .groupBy("customer_id")
        .agg(F.count("*").alias("n_prior"))
    )
    two_week_owners = (
        m.filter(_is_two_week(F.col("name")) & (F.col("start_date") <= as_of))
        .select(F.col("owner_id").alias("customer_id"))
        .distinct()
    )
    active_owners = (
        m.filter(
            (F.col("status") == "ACT")
            & (F.col("start_date") <= as_of)
            & (F.col("end_date") >= as_of)
        )
        .select(F.col("owner_id").alias("customer_id"))
        .distinct()
    )
    eligible = (
        dp_stats.join(prior, "customer_id", "left")
        .filter(
            (F.col("last_dp") >= F.date_sub(as_of, OFFER_RECENT_DAYS))
            & (F.coalesce(F.col("n_prior"), F.lit(0)) == 0)
        )
        .join(active_owners, "customer_id", "left_anti")
        .join(two_week_owners, "customer_id", "left_anti")
        .select("customer_id")
    )

    def simple(df: DataFrame, name: str, priority: str) -> DataFrame:
        return df.select(
            "customer_id",
            F.lit(name).alias("flag_type"),
            as_of.alias("triggered_date"),
            F.lit(priority).alias("priority"),
            F.lit(False).alias("is_persistent"),
        )

    # both offer flags from one scan of `eligible` (its dp/anti-join DAG
    # would otherwise run twice)
    offer_pair = eligible.select(
        "customer_id",
        F.explode(
            F.array(
                F.lit("first_time_day_pass_2wk_offer"),
                F.lit("second_visit_offer_eligible"),
            )
        ).alias("flag_type"),
        as_of.alias("triggered_date"),
        F.lit("high").alias("priority"),
        F.lit(False).alias("is_persistent"),
    )
    flags = flags.unionByName(offer_pair)

    # --- 2-week pass purchase (reference :639-718) ------------------------
    flags = flags.unionByName(simple(two_week_owners, "2_week_pass_purchase", "medium"))

    # --- birthday party timing flags (reference :720-1080) ----------------
    parties = build_parties(spark, sf_dir)
    rsvps = build_rsvps(spark, sf_dir)

    # all three host-timing flags from ONE scan of parties (a per-offset
    # filter+union would re-scan the party table once per rule)
    host_flags = (
        parties.withColumn(
            "flag_type",
            F.when(
                F.col("party_date") == F.date_add(as_of, 7),
                "birthday_party_host_one_week_out",
            )
            .when(
                F.col("party_date") == F.date_add(as_of, 6),
                "birthday_party_host_six_days_out",
            )
            .when(
                F.col("party_date") == F.date_add(as_of, -1),
                "birthday_party_host_completed",
            ),
        )
        .filter(F.col("flag_type").isNotNull())
        .select(F.col("host_customer_id").alias("customer_id"), "flag_type")
        .distinct()
        .select(
            "customer_id",
            "flag_type",
            as_of.alias("triggered_date"),
            F.lit("high").alias("priority"),
            F.lit(False).alias("is_persistent"),
        )
    )
    flags = flags.unionByName(host_flags)
    attendees = (
        rsvps.filter(F.col("attending") == "yes")
        .join(parties.filter(F.col("party_date") == F.date_add(as_of, 7)), "party_id")
        .select(F.col("attendee_id").alias("customer_id"))
        .distinct()
    )
    flags = flags.unionByName(
        simple(attendees, "birthday_party_attendee_one_week_out", "medium")
    )
    return flags


@materialized("customer_flags")
def build_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rule engine (reference customer_flags_engine.py:207-360):

    1. history-independent rules at as_of and at the previous run (phase 1,
       as_of - PHASE1_LAG_DAYS) via :func:`_raw_flags`;
    2. re-flag cooldown: offer flags re-fired since phase 1 are suppressed
       (reference :330-345, 180-day cooldown ≙ every phase-1 hit here);
    3. step-2 offer (second_visit_2wk_offer, reference :516-637): phase-1
       second_visit_offer_eligible + a check-in after phase 1 + not member;
    4. fifty_percent_offer_sent (reference :1080-1180): offer emails are
       synthesized from phase-1 eligibility with a JSON ``event_details``
       payload, then the rule parses it back with from_json — the
       JSON-in-string round trip the reference does on customer_events;
    5. child propagation + parent suppression (engine :184-205, 289-318):
       a child's eligible flag becomes ``child_<type>`` unless the parent
       triggered the same base flag;
    6. AB assignment (md5 parity) + TTL as is_active.
    """
    import datetime as _dt

    from .customers import build_customers
    from .events import build_checkins

    as_of_d = FLAGS_AS_OF
    phase1_d = as_of_d - _dt.timedelta(days=PHASE1_LAG_DAYS)
    as_of = F.lit(as_of_d.strftime("%Y-%m-%d")).cast("date")

    # Each raw-flag evaluation is referenced several times below (cooldown
    # anti-join, step-2 seed, active-now suppression).  The outputs are
    # per-customer flag rows — tiny relative to the event history they
    # summarize at any scale — so checkpoint them instead of letting every
    # downstream reference re-run the whole rule DAG.  Both phases go
    # through ONE checkpoint job (union tagged by phase) so their stage
    # graphs execute concurrently instead of as two blocking materializations.
    raw_both = (
        _raw_flags(spark, sf_dir, as_of_d)
        .withColumn("_phase", F.lit(0))
        .unionByName(_raw_flags(spark, sf_dir, phase1_d).withColumn("_phase", F.lit(1)))
        .localCheckpoint()
    )
    raw_now = raw_both.filter(F.col("_phase") == 0).drop("_phase")
    raw_p1 = raw_both.filter(F.col("_phase") == 1).drop("_phase")

    # 2. offer cooldown
    is_offer = F.col("flag_type").isin(*OFFER_FLAG_TYPES)
    p1_keys = raw_p1.select("customer_id", "flag_type").distinct()
    cooled = raw_now.filter(~is_offer).unionByName(
        raw_now.filter(is_offer).join(p1_keys, ["customer_id", "flag_type"], "left_anti")
    )

    # 3. step-2 offer: returned after the phase-1 second-visit offer
    sv1 = raw_p1.filter(F.col("flag_type") == "second_visit_offer_eligible").select(
        "customer_id"
    )
    ck = build_checkins(spark, sf_dir)
    returned = (
        ck.filter(
            (F.col("checkin_date") > F.lit(phase1_d.strftime("%Y-%m-%d")).cast("date"))
            & (F.col("checkin_date") <= as_of)
        )
        .select("customer_id")
        .distinct()
    )
    active_now = (
        raw_now.filter(F.col("flag_type") == "active-membership").select("customer_id")
    )
    sv2 = (
        sv1.join(returned, "customer_id")
        .join(active_now, "customer_id", "left_anti")
        .select(
            "customer_id",
            F.lit("second_visit_2wk_offer").alias("flag_type"),
            as_of.alias("triggered_date"),
            F.lit("high").alias("priority"),
            F.lit(False).alias("is_persistent"),
        )
    )

    # 4. fifty_percent_offer_sent — JSON round trip over synthesized emails
    email_sent = F.lit(
        (phase1_d + _dt.timedelta(days=EMAIL_SYNC_LAG_DAYS)).strftime("%Y-%m-%d")
    ).cast("date")
    emails = sv1.select(
        "customer_id",
        email_sent.alias("sent_date"),
        F.to_json(
            F.struct(
                F.lit("50% off day pass").alias("offer_amount"),
                F.lit("second-visit-offer").alias("campaign_title"),
            )
        ).alias("event_details"),
    )
    parsed = F.from_json(
        F.col("event_details"), "offer_amount string, campaign_title string"
    )
    fifty = (
        emails.withColumn("offer_amount", parsed["offer_amount"])
        .filter(
            F.col("offer_amount").contains("50%")
            & (F.col("sent_date") >= F.date_sub(as_of, EMAIL_LOOKBACK_DAYS))
            & (F.col("sent_date") <= as_of)
        )
        .select(
            "customer_id",
            F.lit("fifty_percent_offer_sent").alias("flag_type"),
            as_of.alias("triggered_date"),
            F.lit("medium").alias("priority"),
            F.lit(False).alias("is_persistent"),
        )
    )

    # referenced twice below (family join + parent-suppression anti-join)
    all_flags = cooled.unionByName(sv2).unionByName(fifty).localCheckpoint()

    # 5. child propagation + parent suppression
    cust = build_customers(spark, sf_dir).select(
        "customer_id", "is_child", "parent_customer_id"
    )
    with_fam = all_flags.join(cust, "customer_id", "left")
    child_hit = F.coalesce(F.col("is_child"), F.lit(False)) & F.col("flag_type").isin(
        *CHILD_ELIGIBLE_FLAGS
    )
    plain = with_fam.filter(~child_hit).select(
        "customer_id", "flag_type", "triggered_date", "priority", "is_persistent"
    )
    parent_own = all_flags.select(
        F.col("customer_id").alias("parent_customer_id"),
        F.col("flag_type").alias("flag_type"),
    )
    childed = (
        with_fam.filter(child_hit)
        .join(parent_own, ["parent_customer_id", "flag_type"], "left_anti")
        .select(
            "customer_id",
            F.concat(F.lit("child_"), F.col("flag_type")).alias("flag_type"),
            "triggered_date",
            "priority",
            "is_persistent",
        )
    )
    flags = plain.unionByName(childed)

    # 6. AB + TTL
    ab = (
        F.when(
            F.conv(F.substring(F.md5(F.col("customer_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 2
            == 0,
            "A",
        ).otherwise("B")
    )
    ttl_ok = F.col("is_persistent") | (
        F.datediff(as_of, F.col("triggered_date")) <= config.FLAG_TTL_DAYS
    )
    # no orderBy: the table is set-semantics (the driver's compare and every
    # consumer sort or join by key); a global sort here is a pure extra
    # shuffle at any scale
    return flags.withColumn("ab_group", ab).withColumn("is_active", ttl_ok)


def _raw_flags_sql(as_of_str: str) -> str:
    """Self-contained SELECT mirroring :func:`_raw_flags` at one as-of date."""
    from .customers import customers_sql
    from .events import checkins_sql
    from .memberships import memberships_2024_sql

    as_of = f"DATE '{as_of_str}'"
    return f"""
WITH ck0 AS ({checkins_sql()}),
cust AS ({customers_sql()}),
m AS ({memberships_2024_sql()}),
ck AS (SELECT * FROM ck0 WHERE checkin_date <= {as_of}),
dp AS (SELECT * FROM ck WHERE entry_method IN ('ENT', 'GUE')),
dp_stats AS (SELECT customer_id, max(checkin_date) AS last_dp FROM dp GROUP BY 1),
prior AS (
  SELECT d.customer_id, count(*) AS n_prior
  FROM dp d JOIN dp_stats s USING (customer_id)
  WHERE d.checkin_date < s.last_dp AND d.checkin_date >= s.last_dp - {PRIOR_BREAK_DAYS}
  GROUP BY 1
),
twowk AS (
  SELECT DISTINCT owner_id AS customer_id FROM m
  WHERE {_is_two_week_sql('name')} AND start_date <= {as_of}
),
act_own AS (
  SELECT DISTINCT owner_id AS customer_id FROM m
  WHERE status = 'ACT' AND start_date <= {as_of} AND end_date >= {as_of}
),
eligible AS (
  SELECT s.customer_id
  FROM dp_stats s
  LEFT JOIN prior p USING (customer_id)
  WHERE s.last_dp >= {as_of} - {OFFER_RECENT_DAYS}
    AND coalesce(p.n_prior, 0) = 0
    AND NOT EXISTS (SELECT 1 FROM act_own a WHERE a.customer_id = s.customer_id)
    AND NOT EXISTS (SELECT 1 FROM twowk t WHERE t.customer_id = s.customer_id)
),
parties AS ({_parties_sql()}),
rsvps AS ({_rsvps_sql()}),
visit_stats AS (
  SELECT customer_id,
         count(CASE WHEN checkin_date > {as_of} - 14 THEN 1 END) AS visits_14d,
         count(CASE WHEN checkin_date > {as_of} - 30 THEN 1 END) AS visits_30d,
         max(checkin_date) AS last_visit
  FROM ck GROUP BY customer_id
),
mem_stats AS (
  SELECT owner_id AS customer_id,
         min(start_date) AS first_mem_start,
         max(start_date) AS last_mem_start,
         max(CASE WHEN status = 'END' THEN end_date END) AS last_mem_end,
         max(CASE WHEN status = 'ACT' AND start_date <= {as_of} AND end_date >= {as_of}
                  THEN 1 ELSE 0 END) AS has_active
  FROM m GROUP BY owner_id
),
base AS (
  SELECT coalesce(v.customer_id, s.customer_id) AS customer_id,
         v.visits_14d, v.visits_30d, v.last_visit,
         s.first_mem_start, s.last_mem_start, s.last_mem_end, s.has_active
  FROM visit_stats v FULL JOIN mem_stats s ON v.customer_id = s.customer_id
),
gaps AS (
  SELECT customer_id, max(checkin_date) AS return_date
  FROM (
    SELECT customer_id, checkin_date,
           lag(checkin_date) OVER (PARTITION BY customer_id
                                   ORDER BY checkin_ts_us, checkin_id) AS prev
    FROM ck
  )
  WHERE checkin_date - prev >= {BREAK_DAYS} AND checkin_date > {as_of} - 14
  GROUP BY customer_id
),
enriched AS (
  SELECT base.*, gaps.return_date FROM base LEFT JOIN gaps USING (customer_id)
),
flags AS (
  SELECT customer_id, 'ready_for_membership' AS flag_type, last_visit AS triggered_date,
         'high' AS priority, false AS is_persistent
  FROM enriched WHERE visits_14d >= 3 AND first_mem_start IS NULL
  UNION ALL
  SELECT customer_id, 'frequent_visitor', last_visit, 'medium', false
  FROM enriched WHERE visits_30d >= 8
  UNION ALL
  SELECT customer_id, 'returning_after_break', return_date, 'medium', false
  FROM enriched WHERE return_date IS NOT NULL
  UNION ALL
  SELECT customer_id, 'new_member', last_mem_start, 'low', false
  FROM enriched WHERE last_mem_start IS NOT NULL
    AND last_mem_start > {as_of} - 14 AND last_mem_start <= {as_of}
  UNION ALL
  SELECT customer_id, 'membership_cancelled_winback', last_mem_end, 'high', false
  FROM enriched WHERE last_mem_end IS NOT NULL
    AND last_mem_end > {as_of} - 30 AND last_mem_end <= {as_of}
    AND (last_mem_start IS NULL OR last_mem_start <= last_mem_end)
  UNION ALL
  SELECT customer_id, 'active-membership', {as_of}, 'low', true
  FROM enriched WHERE has_active = 1
  UNION ALL
  SELECT DISTINCT parent_customer_id, 'has-youth', {as_of}, 'low', true
  FROM cust WHERE is_child
  UNION ALL
  SELECT customer_id, 'first_time_day_pass_2wk_offer', {as_of}, 'high', false FROM eligible
  UNION ALL
  SELECT customer_id, 'second_visit_offer_eligible', {as_of}, 'high', false FROM eligible
  UNION ALL
  SELECT customer_id, '2_week_pass_purchase', {as_of}, 'medium', false FROM twowk
  UNION ALL
  SELECT DISTINCT host_customer_id, 'birthday_party_host_one_week_out', {as_of}, 'high', false
  FROM parties WHERE party_date = {as_of} + 7
  UNION ALL
  SELECT DISTINCT host_customer_id, 'birthday_party_host_six_days_out', {as_of}, 'high', false
  FROM parties WHERE party_date = {as_of} + 6
  UNION ALL
  SELECT DISTINCT host_customer_id, 'birthday_party_host_completed', {as_of}, 'high', false
  FROM parties WHERE party_date = {as_of} - 1
  UNION ALL
  SELECT DISTINCT r.attendee_id, 'birthday_party_attendee_one_week_out', {as_of}, 'medium', false
  FROM rsvps r JOIN parties p USING (party_id)
  WHERE r.attending = 'yes' AND p.party_date = {as_of} + 7
)
SELECT customer_id, flag_type, triggered_date, priority, is_persistent FROM flags
"""


def build_flags_sql() -> str:
    import datetime as _dt

    from .customers import customers_sql
    from .events import checkins_sql

    as_of_d = FLAGS_AS_OF
    phase1_d = as_of_d - _dt.timedelta(days=PHASE1_LAG_DAYS)
    as_of = f"DATE '{as_of_d.strftime('%Y-%m-%d')}'"
    p1 = f"DATE '{phase1_d.strftime('%Y-%m-%d')}'"
    sent = f"DATE '{(phase1_d + _dt.timedelta(days=EMAIL_SYNC_LAG_DAYS)).strftime('%Y-%m-%d')}'"
    offers = ", ".join(f"'{t}'" for t in OFFER_FLAG_TYPES)
    child_ok = ", ".join(f"'{t}'" for t in CHILD_ELIGIBLE_FLAGS)
    return f"""
WITH raw_now AS ({_raw_flags_sql(as_of_d.strftime('%Y-%m-%d'))}),
raw_p1 AS ({_raw_flags_sql(phase1_d.strftime('%Y-%m-%d'))}),
cooled AS (
  SELECT * FROM raw_now WHERE flag_type NOT IN ({offers})
  UNION ALL
  SELECT r.* FROM raw_now r
  WHERE r.flag_type IN ({offers})
    AND NOT EXISTS (SELECT 1 FROM raw_p1 p
                    WHERE p.customer_id = r.customer_id AND p.flag_type = r.flag_type)
),
ckx AS ({checkins_sql()}),
sv1 AS (SELECT DISTINCT customer_id FROM raw_p1
        WHERE flag_type = 'second_visit_offer_eligible'),
returned AS (SELECT DISTINCT customer_id FROM ckx
             WHERE checkin_date > {p1} AND checkin_date <= {as_of}),
active_now AS (SELECT customer_id FROM raw_now WHERE flag_type = 'active-membership'),
sv2 AS (
  SELECT s.customer_id, 'second_visit_2wk_offer' AS flag_type,
         {as_of} AS triggered_date, 'high' AS priority, false AS is_persistent
  FROM sv1 s JOIN returned USING (customer_id)
  WHERE NOT EXISTS (SELECT 1 FROM active_now a WHERE a.customer_id = s.customer_id)
),
emails AS (
  SELECT customer_id, {sent} AS sent_date,
         to_json(struct_pack(offer_amount := '50% off day pass',
                             campaign_title := 'second-visit-offer')) AS event_details
  FROM sv1
),
fifty AS (
  SELECT customer_id, 'fifty_percent_offer_sent' AS flag_type,
         {as_of} AS triggered_date, 'medium' AS priority, false AS is_persistent
  FROM emails
  WHERE contains(json_extract_string(event_details, '$.offer_amount'), '50%')
    AND sent_date >= {as_of} - {EMAIL_LOOKBACK_DAYS} AND sent_date <= {as_of}
),
allf AS (
  SELECT * FROM cooled UNION ALL SELECT * FROM sv2 UNION ALL SELECT * FROM fifty
),
cust2 AS ({customers_sql()}),
fam AS (
  SELECT f.*, coalesce(c.is_child, false) AS is_child, c.parent_customer_id
  FROM allf f LEFT JOIN cust2 c USING (customer_id)
),
final_flags AS (
  SELECT customer_id, flag_type, triggered_date, priority, is_persistent
  FROM fam WHERE NOT (is_child AND flag_type IN ({child_ok}))
  UNION ALL
  SELECT f.customer_id, 'child_' || f.flag_type, f.triggered_date, f.priority, f.is_persistent
  FROM fam f
  WHERE f.is_child AND f.flag_type IN ({child_ok})
    AND NOT EXISTS (SELECT 1 FROM allf p
                    WHERE p.customer_id = f.parent_customer_id
                      AND p.flag_type = f.flag_type)
)
SELECT customer_id, flag_type, triggered_date, priority, is_persistent,
       CASE WHEN ('0x' || substr(md5(customer_id::varchar), 1, 8))::bigint % 2 = 0
            THEN 'A' ELSE 'B' END AS ab_group,
       (is_persistent OR ({as_of} - triggered_date) <= {config.FLAG_TTL_DAYS}) AS is_active
FROM final_flags
ORDER BY customer_id, flag_type
"""


def flag_type_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 over flags: count per flag_type × ab_group (the reference's flag
    audit value_counts, customer_flags_engine.py:352-354)."""
    flags = build_flags(spark, sf_dir)
    return (
        flags.groupBy("flag_type", "ab_group")
        .agg(F.count("*").alias("n"), F.countDistinct("customer_id").alias("n_customers"))
        .orderBy("flag_type", "ab_group")
    )


def flag_type_summary_sql() -> str:
    return f"""
WITH flags AS ({build_flags_sql()})
SELECT flag_type, ab_group, count(*) AS n, count(DISTINCT customer_id) AS n_customers
FROM flags GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# applyInPandas fidelity path (the reference's per-customer timeline loop)
# ---------------------------------------------------------------------------

FLAGS_SCHEMA = (
    "customer_id long, flag_type string, triggered_date date, priority string, "
    "is_persistent boolean"
)


def flags_via_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same visit-driven rules evaluated the reference's way: per-customer
    sorted timeline in Python (groupBy(customer).applyInPandas) — kept as the
    differential-fidelity path for rule semantics (SURVEY.md §2.10 F3) and as
    the template for genuinely sequential rules.  Covers the checkin-derived
    rules (ready_for_membership needs membership info, so the membership
    per-customer summary is joined in first)."""
    import pandas as pd

    from .events import build_checkins
    from .memberships import build_memberships_2024

    as_of = FLAGS_AS_OF

    # ROUND-12 OPTIMIZATION (guide §2.3): the pandas body's first act is
    # dropping rows past as_of — apply the same filter BEFORE the
    # groupBy(customer) shuffle and the Arrow boundary so post-as_of rows
    # are never shuffled or shipped to Python (groups emptied by the
    # filter return zero rows either way).  The in-pandas filter stays as
    # a no-op guard so the rule body is unchanged.
    ck = build_checkins(spark, sf_dir).select(
        "customer_id", "checkin_date", "checkin_ts_us", "checkin_id"
    ).filter(F.col("checkin_date") <= F.lit(as_of))
    first_mem = (
        build_memberships_2024(spark, sf_dir)
        .groupBy(F.col("owner_id").alias("customer_id"))
        .agg(F.min("start_date").alias("first_mem_start"))
    )
    joined = ck.join(first_mem, "customer_id", "left")

    def eval_rules(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["checkin_date"] <= as_of]
        if len(pdf) == 0:
            return pd.DataFrame(
                columns=["customer_id", "flag_type", "triggered_date", "priority", "is_persistent"]
            )
        pdf = pdf.sort_values(["checkin_ts_us", "checkin_id"])
        cid = int(pdf["customer_id"].iloc[0])
        has_mem = pdf["first_mem_start"].notna().any()
        out = []
        d14 = [d for d in pdf["checkin_date"] if (as_of - d).days < 14]
        d30 = [d for d in pdf["checkin_date"] if (as_of - d).days < 30]
        last_visit = pdf["checkin_date"].max()
        if len(d14) >= 3 and not has_mem:
            out.append((cid, "ready_for_membership", last_visit, "high", False))
        if len(d30) >= 8:
            out.append((cid, "frequent_visitor", last_visit, "medium", False))
        dates = list(pdf["checkin_date"])
        return_date = None
        for prev, cur in zip(dates, dates[1:]):
            if (cur - prev).days >= BREAK_DAYS and (as_of - cur).days < 14:
                return_date = max(return_date, cur) if return_date else cur
        if return_date is not None:
            out.append((cid, "returning_after_break", return_date, "medium", False))
        return pd.DataFrame(
            out,
            columns=["customer_id", "flag_type", "triggered_date", "priority", "is_persistent"],
        )

    return (
        joined.groupBy("customer_id")
        .applyInPandas(eval_rules, FLAGS_SCHEMA)
        .orderBy("customer_id", "flag_type")
    )


def flags_via_applyinpandas_sql() -> str:
    """Value-checked oracle for the pandas fidelity path: the three
    visit-driven rules re-derived in pure SQL (counts over the trailing
    14/30-day windows, membership-existence anti-condition, and the
    lag-pair break detector) — upgrading the entry from a rows-only check
    to the same strict value-hash contract as every native query.  The
    pandas loop and this SQL share only the rule PROSE, so a divergence in
    either implementation (flag payload, priority, trigger date) fails the
    hash."""
    from .events import checkins_sql
    from .memberships import memberships_2024_sql

    as_of = FLAGS_AS_OF.isoformat()
    return f"""
WITH ck AS ({checkins_sql()}),
mem AS (
  SELECT DISTINCT owner_id AS customer_id FROM ({memberships_2024_sql()})
),
base AS (
  SELECT customer_id, checkin_date, checkin_ts_us, checkin_id
  FROM ck WHERE checkin_date <= DATE '{as_of}'
),
per AS (
  SELECT customer_id,
         max(checkin_date) AS last_visit,
         count(*) FILTER (WHERE checkin_date > DATE '{as_of}' - 14) AS n14,
         count(*) FILTER (WHERE checkin_date > DATE '{as_of}' - 30) AS n30
  FROM base GROUP BY 1
),
seq AS (
  SELECT customer_id, checkin_date AS cur,
         lag(checkin_date) OVER (
           PARTITION BY customer_id ORDER BY checkin_ts_us, checkin_id
         ) AS prev
  FROM base
),
ret AS (
  SELECT customer_id, max(cur) AS return_date
  FROM seq
  WHERE prev IS NOT NULL AND cur - prev >= {BREAK_DAYS}
    AND cur > DATE '{as_of}' - 14
  GROUP BY 1
),
flags AS (
  SELECT customer_id, 'ready_for_membership' AS flag_type,
         last_visit AS triggered_date, 'high' AS priority, FALSE AS is_persistent
  FROM per
  WHERE n14 >= 3 AND customer_id NOT IN (SELECT customer_id FROM mem)
  UNION ALL
  SELECT customer_id, 'frequent_visitor', last_visit, 'medium', FALSE
  FROM per WHERE n30 >= 8
  UNION ALL
  SELECT customer_id, 'returning_after_break', return_date, 'medium', FALSE
  FROM ret
)
SELECT customer_id, flag_type, triggered_date, priority, is_persistent
FROM flags
ORDER BY customer_id, flag_type
"""
