"""Time-series / OLAP shape operators Spark lacks as single primitives.

Four first-class operators a training-data / analytics pipeline needs that
are NOT plain groupBy/join, each with a DuckDB oracle:

* ``asof_join_events`` — the as-of (most-recent-prior) join, built as the
  union-tag + ordered-window device instead of a range join: one shuffle on
  the equi-key, linear in rows, no interval cross-product. DuckDB's native
  ``ASOF LEFT JOIN`` is the independent oracle implementation.
* ``rollup_revenue`` — ROLLUP / grouping-sets aggregate with ``grouping_id``,
  exercising Catalyst's Expand operator (one shuffle; partials combine
  map-side per grouping set). Revenue is summed as integer ten-thousandths
  so the grand-total row is exact and order-independent — a double sum over
  the whole fact table diverges between engines past the rounding guard.
* ``group_median_exact`` — exact per-group quartiles via Spark's exact
  ``percentile`` aggregate (sort-based within group). The 100 TB path is
  ``approx_percentile`` (a mergeable KLL/GK sketch); the exact form is kept
  because the driver's oracle equality demands bit-stable answers and the
  grouped frame here is one row per source.
* ``sliding_window_activity`` — trailing 7-day moving average with a RANGE
  frame over an integer day index (gap-aware: absent days shrink the frame,
  which ROWS BETWEEN would get wrong). Runs over the pre-aggregated
  (event_type, day) frame, so the windowed input is days x types, not raw
  events.

Reference parity: the reference has no time-series layer (it is a
Django-wrapped extractor); these are the beyond-reference operators the
build brief lists as first-class. Column aliases match the oracle SQL
exactly (driver hash-compares sorted-by-name columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _t(spark, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# As-of join: purchases <- most recent prior-or-equal view, per user
# --------------------------------------------------------------------------


def q_asof_join_events(spark, sf_dir):
    """As-of join without a range join: for each purchase event attach the
    most recent view (ts <= purchase ts) by the same user.

    Device: tag views side=0 / purchases side=1, union, ONE window over
    (user_id) ordered by (et, side, event_id), and carry the last non-null
    view payload forward with ``last(..., ignorenulls=True)``. Views at an
    equal timestamp sort before the purchase, matching ASOF's ``>=``
    semantics; among views tied on (user_id, et) the event_id ordering
    makes the carried row the max-event_id one, which is exactly the
    oracle's ``max_by(value, event_id)`` tie-break — so no dedup
    pre-aggregate is needed and the whole operator is ONE exchange on
    user_id plus a per-partition sort (verified in test_plan_shapes). No
    interval cross-product, so it survives 100x scale-up as long as a
    single user's history fits a partition (a skewed user would get the
    same salt+re-merge treatment as H3).
    """
    # testdata ts is TIMESTAMP_NTZ; the cast to TIMESTAMP is wall-clock
    # preserving under the repo's UTC session, matching DuckDB's epoch_us.
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("et"),
        "event_type",
        "value",
    )
    return _asof_core(ev)


def _asof_core(ev: DataFrame) -> DataFrame:
    """The union+window as-of device over a pre-projected
    (user_id, event_id, et, event_type, value) frame — split out so the
    property fuzz can drive it over arbitrary event streams (including
    planted equal-timestamp ties the parquet fixture never produces)."""
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "et", F.lit(0).alias("side"), F.col("value").alias("vv"),
        F.lit(None).cast("long").alias("pid"), "event_id",
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "et", F.lit(1).alias("side"), F.lit(None).cast("double").alias("vv"),
        F.col("event_id").alias("pid"), "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("et", "side", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tagged = views.unionByName(purch).select(
        "user_id", "et", "side", "pid",
        F.last(F.when(F.col("side") == 0, F.col("vv")), ignorenulls=True).over(w).alias("view_value"),
        F.last(F.when(F.col("side") == 0, F.col("et")), ignorenulls=True).over(w).alias("view_et"),
    )
    return tagged.where(F.col("side") == 1).select(
        F.col("pid").alias("event_id"),
        "user_id",
        F.col("et").alias("purchase_et"),
        "view_et",
        F.round("view_value", 2).alias("view_value"),
        F.when(F.col("view_et").isNotNull(), F.col("et") - F.col("view_et")).alias("gap_us"),
    )


SQL_ASOF_JOIN_EVENTS = """
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS purchase_et
  FROM events WHERE event_type = 'purchase'
), v AS (
  SELECT user_id, epoch_us(ts) AS view_et, max_by(value, event_id) AS vv
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, p.purchase_et, v.view_et,
       round(v.vv, 2) AS view_value,
       (p.purchase_et - v.view_et)::BIGINT AS gap_us
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND p.purchase_et >= v.view_et
"""


# --------------------------------------------------------------------------
# ROLLUP / grouping sets with grouping_id
# --------------------------------------------------------------------------


def q_rollup_revenue(spark, sf_dir):
    """ROLLUP(nation, year) revenue cube: per-(nation, year) subtotals,
    per-nation totals, and the grand total in one pass, tagged with the
    grouping bitmask. Catalyst plans this as Expand (3 copies of each
    aggregate input row) + one hash aggregate with map-side partials — one
    shuffle total, versus three separate groupBys + union re-scanning the
    join three times. Joins: lineitem->orders equi-join (both big, shuffle),
    then broadcast customer+nation dims onto the result."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4) * 10000)
        .cast("long")
        .alias("rev_e4"),
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    cust = F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_year", "rev_e4")
    )
    return (
        joined.rollup("n_name", "o_year")
        .agg(
            F.grouping_id().alias("gid"),
            F.round(F.sum("rev_e4") / 10000.0, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select("gid", "n_name", "o_year", "revenue", "n_items")
    )


SQL_ROLLUP_REVENUE = """
SELECT GROUPING(n_name, o_year)::BIGINT AS gid, n_name, o_year,
       round(sum(rev_e4) / 10000.0, 2) AS revenue, count(*)::BIGINT AS n_items
FROM (
  SELECT n_name, date_part('year', o_orderdate)::INT AS o_year,
         round(round(l_extendedprice * (1 - l_discount), 4) * 10000)::BIGINT AS rev_e4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
)
GROUP BY ROLLUP(n_name, o_year)
"""


# --------------------------------------------------------------------------
# Exact distributed per-group percentiles
# --------------------------------------------------------------------------


def q_group_median_exact(spark, sf_dir):
    """Exact per-source quartiles of document length (Spark's sort-based
    ``percentile`` aggregate; DuckDB ``quantile_cont`` uses the same linear
    interpolation). One shuffle on source; at 100 TB the drop-in scale path
    is ``approx_percentile`` (mergeable sketch, bounded memory) — exact is
    used here because the oracle gate hash-compares values and the grouped
    output is 20 rows."""
    docs = _t(spark, sf_dir, "documents")
    q = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("percentile(n_chars, array(0.25D, 0.5D, 0.75D))").alias("qs"),
    )
    return q.select(
        "source",
        "n_docs",
        F.round(q.qs[0], 4).alias("p25"),
        F.round(q.qs[1], 4).alias("p50"),
        F.round(q.qs[2], 4).alias("p75"),
    )


SQL_GROUP_MEDIAN_EXACT = """
SELECT source, count(*)::BIGINT AS n_docs,
       round(quantile_cont(n_chars, 0.25), 4) AS p25,
       round(quantile_cont(n_chars, 0.50), 4) AS p50,
       round(quantile_cont(n_chars, 0.75), 4) AS p75
FROM documents GROUP BY source
"""


# --------------------------------------------------------------------------
# Gap-aware sliding time window (RANGE frame)
# --------------------------------------------------------------------------


def q_sliding_window_activity(spark, sf_dir):
    """Trailing 7-day moving average of daily event volume per event_type,
    as a RANGE frame over an integer day index: days with no events shrink
    the window's denominator (the correct calendar semantics) where a ROWS
    frame would silently span gaps. The expensive part — collapsing raw
    events to (event_type, day) — is one map-side-combined aggregate; the
    window then runs on the tiny pre-aggregated frame, so the sort is
    days x types regardless of event volume."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day"),
        "value",
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("day_value"),
    )
    w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-6, 0)
    return daily.select(
        "event_type",
        "day",
        "n_events",
        "day_value",
        F.round(F.avg("n_events").over(w), 4).alias("ma7_events"),
        F.sum("n_events").over(w).alias("w7_events"),
    )


SQL_SLIDING_WINDOW_ACTIVITY = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day,
         count(*)::BIGINT AS n_events, round(sum(value), 2) AS day_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, n_events, day_value,
       round(avg(n_events) OVER w, 4) AS ma7_events,
       CAST(sum(n_events) OVER w AS BIGINT) AS w7_events
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


# --------------------------------------------------------------------------
# Calendar gap-fill + forward-fill interpolation
# --------------------------------------------------------------------------


def q_gap_fill_interpolate(spark, sf_dir):
    """Resample the event stream to a dense per-type daily grid and
    forward-fill the last observed daily value across gap days — the
    time-series densification step every downstream rolling metric
    assumes (a RANGE window is gap-AWARE; this op makes the calendar
    gap-FREE so ROWS frames and per-day ratios are valid).

    Shape: one map-side-combined aggregate to (event_type, day); the
    grid is ``sequence(min_day, max_day)`` exploded from the 5-row
    per-type bounds frame — grid size is days x types, never a function
    of event volume; one equi-join grid<-daily (broadcast at any sf:
    the DAILY side is the small one; at 100 TB the grid is still
    types x days ~ 10^5 rows) and one forward-fill window per type
    (``last(.., ignorenulls=True)`` over a running frame). No raw
    event ever enters the window sort."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).alias("day"),
        "value",
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("day_value"),
    )
    grid = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("event_type", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    filled = grid.join(daily, ["event_type", "day"], "left")
    return filled.select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.col("n_events").isNull().alias("is_gap"),
        F.last("day_value", ignorenulls=True).over(w).alias("ff_value"),
    )


SQL_GAP_FILL_INTERPOLATE = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day,
         count(*)::BIGINT AS n_events, round(sum(value), 2) AS day_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(d0, d1))::BIGINT AS day
  FROM bounds
)
SELECT g.event_type, g.day,
       coalesce(d.n_events, 0)::BIGINT AS n_events,
       (d.n_events IS NULL) AS is_gap,
       last_value(d.day_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ff_value
FROM grid g LEFT JOIN daily d USING (event_type, day)
"""


# --------------------------------------------------------------------------
# Cohort retention matrix
# --------------------------------------------------------------------------


def q_cohort_retention(spark, sf_dir):
    """Classic cohort-retention matrix: users cohorted by the ISO week
    of their first event; each cell is the distinct users from that
    cohort active k weeks later, plus the retention ratio against the
    cohort's own week-0 size.

    Shape: the cohort assignment is a slim (user_id, min week)
    aggregate; joining it back to the weekly-activity frame shuffles on
    user_id — the SAME key as the aggregate, so Catalyst reuses one
    exchange. The distinct-users cell count is the second (and last)
    shuffle. The week-0 size joins back via broadcast (one row per
    cohort week). At 100 TB the user->first-week frame is the only
    state that must co-locate, exactly like H3's winner set."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")) / 7)
        .cast("long")
        .alias("week"),
    )
    weekly = ev.distinct()
    first = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cells = (
        weekly.join(first, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )
    base = cells.where(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_users").alias("n_cohort")
    )
    return cells.join(F.broadcast(base), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        "n_cohort",
        F.round(F.col("n_users") / F.col("n_cohort"), 4).alias("retention"),
    )


SQL_COHORT_RETENTION = """
WITH weekly AS (
  SELECT DISTINCT user_id,
         (date_diff('day', DATE '1970-01-01', ts::DATE) // 7)::BIGINT AS week
  FROM events
), first AS (
  SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY 1
), cells AS (
  SELECT f.cohort_week, w.week - f.cohort_week AS week_offset,
         count(DISTINCT w.user_id)::BIGINT AS n_users
  FROM weekly w JOIN first f USING (user_id)
  GROUP BY 1, 2
)
SELECT c.cohort_week, c.week_offset, c.n_users, b.n_cohort,
       round(c.n_users / b.n_cohort::DOUBLE, 4) AS retention
FROM cells c JOIN (
  SELECT cohort_week, n_users AS n_cohort FROM cells WHERE week_offset = 0
) b USING (cohort_week)
"""


# --------------------------------------------------------------------------
# Ordered funnel conversion (view -> click -> purchase)
# --------------------------------------------------------------------------


def q_funnel_conversion(spark, sf_dir):
    """Ordered funnel per user: first view, first click AT-OR-AFTER that
    view, first purchase at-or-after that click — the sequencing makes
    this NOT a plain conditional aggregate (a click before any view
    must not count).

    Device: ONE exchange on user_id; two chained running-min windows
    over the identical (et, event_id) ordering — ``v_min`` (first view
    so far) qualifies clicks, the running min of qualified clicks
    qualifies purchases — then a per-user aggregate on the same key
    (the exchange is reused across both windows and the final
    aggregate; no self-joins, no per-stage re-scan). Ties at equal
    timestamps resolve by event_id through the shared window order, so
    both engines agree bit-exactly. ``reached`` is the funnel depth
    0-3."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("et"),
        "event_type",
    )
    return _funnel_core(ev)


def _funnel_core(ev: DataFrame) -> DataFrame:
    """The chained running-window funnel device over a pre-projected
    (user_id, event_id, et, event_type) frame — split out so tests can
    drive it over crafted streams (click-before-view, equal-timestamp
    ties) the parquet fixture may never produce."""
    w = Window.partitionBy("user_id").orderBy("et", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s1 = ev.withColumn(
        "v_min", F.min(F.when(F.col("event_type") == "view", F.col("et"))).over(w)
    )
    s2 = s1.withColumn(
        "qc",
        F.when(
            (F.col("event_type") == "click") & (F.col("et") >= F.col("v_min")),
            F.col("et"),
        ),
    ).withColumn("c_min", F.min("qc").over(w))
    s3 = s2.withColumn(
        "qp",
        F.when(
            (F.col("event_type") == "purchase") & (F.col("et") >= F.col("c_min")),
            F.col("et"),
        ),
    )
    per_user = s3.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("et"))).alias("t_view"),
        F.min("qc").alias("t_click"),
        F.min("qp").alias("t_purchase"),
    )
    return per_user.select(
        "user_id",
        "t_view",
        "t_click",
        "t_purchase",
        (
            F.col("t_view").isNotNull().cast("int")
            + F.col("t_click").isNotNull().cast("int")
            + F.col("t_purchase").isNotNull().cast("int")
        ).alias("reached"),
    )


SQL_FUNNEL_CONVERSION = """
WITH ev AS (
  SELECT user_id, event_id, epoch_us(ts) AS et, event_type FROM events
), s1 AS (
  SELECT *, min(CASE WHEN event_type = 'view' THEN et END) OVER w AS v_min
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY et, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s2 AS (
  SELECT *, CASE WHEN event_type = 'click' AND et >= v_min THEN et END AS qc
  FROM s1
), s3 AS (
  SELECT *, min(qc) OVER w AS c_min
  FROM s2 WINDOW w AS (PARTITION BY user_id ORDER BY et, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), s4 AS (
  SELECT *, CASE WHEN event_type = 'purchase' AND et >= c_min THEN et END AS qp
  FROM s3
), agg AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN et END) AS t_view,
         min(qc) AS t_click, min(qp) AS t_purchase
  FROM s4 GROUP BY user_id
)
SELECT user_id, t_view, t_click, t_purchase,
       ((t_view IS NOT NULL)::INT + (t_click IS NOT NULL)::INT
        + (t_purchase IS NOT NULL)::INT) AS reached
FROM agg
"""


# --------------------------------------------------------------------------
# Pivot: revenue years -> columns
# --------------------------------------------------------------------------

PIVOT_YEARS = list(range(1995, 2002))  # testdata orders span 1995-2001


def q_pivot_revenue_years(spark, sf_dir):
    """Nation x year revenue pivoted to one column per year. The year
    list is EXPLICIT (``pivot(col, values)``), which matters at scale:
    without it Spark runs an extra distinct-scan job over the fact
    table just to discover the columns. With it, the whole pivot is ONE
    hash aggregate with 7 conditional sums — same single-shuffle cost
    as any groupBy, integer ten-thousandths so each cell is
    summation-order exact. Dims broadcast as in rollup_revenue."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4) * 10000)
        .cast("long")
        .alias("rev_e4"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    cust = F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_year", "rev_e4")
    )
    pivoted = joined.groupBy("n_name").pivot("o_year", PIVOT_YEARS).agg(
        F.round(F.sum("rev_e4") / 10000.0, 2)
    )
    return pivoted.select(
        "n_name", *[F.col(str(y)).alias(f"y{y}") for y in PIVOT_YEARS]
    )


SQL_PIVOT_REVENUE_YEARS = """
SELECT n_name, {cells}
FROM (
  SELECT n_name, date_part('year', o_orderdate)::INT AS o_year,
         round(round(l_extendedprice * (1 - l_discount), 4) * 10000)::BIGINT AS rev_e4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
)
GROUP BY n_name
""".format(
    cells=", ".join(
        f"round(sum(CASE WHEN o_year = {y} THEN rev_e4 END) / 10000.0, 2) AS y{y}"
        for y in PIVOT_YEARS
    )
)


# --------------------------------------------------------------------------
# CUBE: all four grouping sets in one pass
# --------------------------------------------------------------------------


def q_cube_revenue(spark, sf_dir):
    """CUBE(nation, year): the (nation, year) cells, BOTH one-dimension
    marginals, and the grand total in one aggregate — the rollup's
    missing year-only marginal is exactly what CUBE adds. Catalyst
    plans Expand x4 + ONE grouped exchange with map-side partials, vs
    four groupBys re-reading the join; same integer ten-thousandths
    exactness as rollup_revenue."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4) * 10000)
        .cast("long")
        .alias("rev_e4"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    cust = F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "o_year", "rev_e4")
    )
    return (
        joined.cube("n_name", "o_year")
        .agg(
            F.grouping_id().alias("gid"),
            F.round(F.sum("rev_e4") / 10000.0, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select("gid", "n_name", "o_year", "revenue", "n_items")
    )


SQL_CUBE_REVENUE = """
SELECT GROUPING(n_name, o_year)::BIGINT AS gid, n_name, o_year,
       round(sum(rev_e4) / 10000.0, 2) AS revenue, count(*)::BIGINT AS n_items
FROM (
  SELECT n_name, date_part('year', o_orderdate)::INT AS o_year,
         round(round(l_extendedprice * (1 - l_discount), 4) * 10000)::BIGINT AS rev_e4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
)
GROUP BY CUBE(n_name, o_year)
"""


# --------------------------------------------------------------------------
# Robust outlier flagging: median absolute deviation per group
# --------------------------------------------------------------------------

MAD_K = 3.0


def q_outlier_mad(spark, sf_dir):
    """Per-source robust outlier flags on document length: a doc is an
    outlier when |n_chars - median| > 3 * MAD (the median absolute
    deviation) — the data-cleaning gate that, unlike mean/stddev
    z-scores, is not itself dragged by the outliers it hunts.

    Shape: two grouped exact-percentile aggregates on the SAME key
    (source) — first the median, then (after a broadcast join back of
    the 20-row median frame) the MAD — then a broadcast join of the
    20-row (median, mad) frame onto the scan for the per-doc flag.
    Three narrow passes, no window over the corpus; at 100 TB both
    medians become ``approx_percentile`` (mergeable sketch, same
    plan). MAD=0 groups (constant length) flag any deviation, matching
    the oracle's arithmetic exactly. Emits only flagged docs plus the
    per-source stats they were judged by."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    med = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5D)").alias("med")
    )
    dev = docs.join(F.broadcast(med), "source").select(
        "source", F.abs(F.col("n_chars") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("source").agg(
        F.expr("percentile(adev, 0.5D)").alias("mad")
    )
    stats = F.broadcast(med.join(mad, "source"))
    return (
        docs.join(stats, "source")
        .where(F.abs(F.col("n_chars") - F.col("med")) > MAD_K * F.col("mad"))
        .select(
            "source",
            "doc_id",
            "n_chars",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
        )
    )


SQL_OUTLIER_MAD = f"""
WITH med AS (
  SELECT source, quantile_cont(n_chars, 0.5) AS med
  FROM documents GROUP BY source
), mad AS (
  SELECT d.source, quantile_cont(abs(d.n_chars - m.med), 0.5) AS mad
  FROM documents d JOIN med m USING (source) GROUP BY d.source
)
SELECT d.source, d.doc_id, d.n_chars,
       round(m.med, 4) AS med, round(a.mad, 4) AS mad
FROM documents d JOIN med m USING (source) JOIN mad a USING (source)
WHERE abs(d.n_chars - m.med) > {MAD_K} * a.mad
"""


# --------------------------------------------------------------------------
# Interval overlap join (binned, no cross product)
# --------------------------------------------------------------------------

OVERLAP_BIN_S = 3600  # 1 h bins over session intervals


def q_interval_overlap_join(spark, sf_dir):
    """Per session: how many OTHER users' sessions overlap it in time —
    the interval-overlap join (concurrency analysis, co-activity
    attribution) that naive SQL writes as a theta join and that
    degenerates to a cross product at scale.

    Device: explode each interval into the 1 h bins it spans
    (sequence(start div B, end div B)), equi-join on the bin — so a
    session pair is compared ONLY if they share an hour, bounding
    candidates by (sessions active per bin)^2 per bin instead of
    n_sessions^2 — then the exact overlap predicate
    (a.start <= b.end AND b.start <= a.end), a distinct to collapse
    pairs that share several bins, and one count aggregate. The DuckDB
    oracle intentionally uses the OTHER algorithm (the direct
    inequality join) so the differential crosses algorithms, not just
    engines. Bin width trades explode factor against candidate density;
    at 100 TB it is sized so bins hold O(cluster cores) intervals, and
    a hot bin (a flash-crowd hour) is the same AQE-splittable skew as
    any hot join key."""
    from .analytics.queries import q_event_sessions

    sess = q_event_sessions(spark, sf_dir).select(
        "user_id", "session_id", "start_et", "end_et"
    )

    def bins(df, p):
        return df.select(
            F.col("user_id").alias(f"{p}_user"),
            F.col("session_id").alias(f"{p}_sid"),
            F.col("start_et").alias(f"{p}_s"),
            F.col("end_et").alias(f"{p}_e"),
            F.explode(
                F.sequence(
                    F.expr(f"start_et div {OVERLAP_BIN_S}"),
                    F.expr(f"end_et div {OVERLAP_BIN_S}"),
                )
            ).alias("bin"),
        )

    cand = (
        bins(sess, "a")
        .join(bins(sess, "b"), "bin")
        .where(F.col("a_user") != F.col("b_user"))
        .where((F.col("a_s") <= F.col("b_e")) & (F.col("b_s") <= F.col("a_e")))
        .select("a_user", "a_sid", "b_user", "b_sid")
        .distinct()
    )
    counts = cand.groupBy(
        F.col("a_user").alias("user_id"), F.col("a_sid").alias("session_id")
    ).agg(F.count(F.lit(1)).alias("n_overlaps"))
    return sess.join(counts, ["user_id", "session_id"], "left").select(
        "user_id",
        "session_id",
        "start_et",
        "end_et",
        F.coalesce("n_overlaps", F.lit(0)).alias("n_overlaps"),
    )


from .analytics.queries import SESSION_GAP_S as _GAP_S  # oracle stays in lockstep

SQL_INTERVAL_OVERLAP_JOIN = f"""
WITH e AS (
  SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS et FROM events
), f AS (
  SELECT user_id, event_id, et,
         CASE WHEN et - lag(et) OVER (PARTITION BY user_id ORDER BY et, event_id)
                   > {_GAP_S} THEN 1 ELSE 0 END AS new_sess
  FROM e
), s AS (
  SELECT user_id, et,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY et, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM f
), sess AS (
  SELECT user_id, session_id, MIN(et) AS start_et, MAX(et) AS end_et
  FROM s GROUP BY user_id, session_id
)
SELECT a.user_id, a.session_id, a.start_et, a.end_et,
       count(b.user_id)::BIGINT AS n_overlaps
FROM sess a LEFT JOIN sess b
  ON a.user_id <> b.user_id
 AND a.start_et <= b.end_et AND b.start_et <= a.end_et
GROUP BY a.user_id, a.session_id, a.start_et, a.end_et
"""



# --------------------------------------------------------------------------
# Semi-structured (JSON) property extraction + aggregate
# --------------------------------------------------------------------------


def q_json_props_stats(spark, sf_dir):
    """Per event_type statistics of the ``k`` property parsed out of the
    events table's JSON ``props`` column — the semi-structured path
    every event pipeline has (properties too sparse/ragged for real
    columns ride as JSON; hot keys get extracted and aggregated).

    ``get_json_object`` evaluates JVM-side inside the scan projection
    (no UDF, stays in whole-stage codegen) and the aggregate is one
    map-side-combined exchange over 5 types. At 100 TB the same
    expression is the extraction step that MATERIALIZES the hot key as
    a real column at ingest — parse once, not per query; this operator
    is that parse. k-decile spread (exact percentile on the 5-row
    grouped frame) rides along so the output differentiates."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("k").isNull().cast("long")).alias("n_missing"),
        F.min("k").alias("k_min"),
        F.max("k").alias("k_max"),
        F.sum("k").alias("k_sum"),
        F.round(F.expr("percentile(k, 0.5D)"), 4).alias("k_med"),
    )


SQL_JSON_PROPS_STATS = """
WITH ev AS (
  SELECT event_type, (props::JSON ->> 'k')::BIGINT AS k FROM events
)
SELECT event_type, count(*)::BIGINT AS n_events,
       SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing,
       min(k) AS k_min, max(k) AS k_max, SUM(k)::BIGINT AS k_sum,
       round(quantile_cont(k, 0.5), 4) AS k_med
FROM ev GROUP BY event_type
"""


# --------------------------------------------------------------------------
# Rate anomaly: integer-exact 2-sigma test vs trailing history
# --------------------------------------------------------------------------

ANOM_HIST_DAYS = 14
ANOM_MIN_HIST = 7
ANOM_K = 2  # flag |c - mean| > K * sample std


def q_rate_anomaly(spark, sf_dir):
    """Daily event-rate anomalies per type: flag days whose count
    deviates from the trailing 14-day history by more than 2 sample
    standard deviations — monitoring over the pipeline's own event
    stream, WITHOUT floating point: the test
    |c - s/n| > K * sqrt((n*q - s²)/(n*(n-1))) is cross-multiplied to
    the integer comparison (c*n - s)² * (n-1) > K² * n * (n*q - s²),
    so the flag is bit-identical across engines — no std ulp, no sqrt.
    (At counts near 2^31 the squares need the decimal path; counts here
    are day-grain and the docstringed overflow bound is ~3*10^9.)

    Shape: one map-side-combined daily aggregate, then three RANGE
    windows (count/sum/sum-of-squares over days -14..-1, EXCLUDING the
    tested day) sharing one exchange over the tiny (type, day) frame;
    days with under 7 history days are emitted unflagged with
    n_hist visible, never silently dropped."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-ANOM_HIST_DAYS, -1)
    )
    hist = daily.select(
        "event_type",
        "day",
        "c",
        F.count("c").over(w).alias("n_hist"),
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("s"),
        F.coalesce(F.sum(F.col("c") * F.col("c")).over(w), F.lit(0)).alias("q"),
    )
    dev = F.col("c") * F.col("n_hist") - F.col("s")
    var_num = F.col("n_hist") * F.col("q") - F.col("s") * F.col("s")
    return hist.select(
        "event_type",
        "day",
        "c",
        "n_hist",
        "s",
        (
            (F.col("n_hist") >= ANOM_MIN_HIST)
            & (dev * dev * (F.col("n_hist") - 1)
               > ANOM_K * ANOM_K * F.col("n_hist") * var_num)
        ).alias("anomaly"),
    )


SQL_RATE_ANOMALY = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
), hist AS (
  SELECT event_type, day, c,
         count(c) OVER w::BIGINT AS n_hist,
         COALESCE(sum(c) OVER w, 0)::BIGINT AS s,
         COALESCE(sum(c * c) OVER w, 0)::BIGINT AS q
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               RANGE BETWEEN {ANOM_HIST_DAYS} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, c, n_hist, s,
       (n_hist >= {ANOM_MIN_HIST}
        AND (c * n_hist - s) * (c * n_hist - s) * (n_hist - 1)
            > {ANOM_K * ANOM_K} * n_hist * (n_hist * q - s * s)) AS anomaly
FROM hist
"""


# --------------------------------------------------------------------------
# rate_trend — integer-exact OLS slope of daily volume per type
# --------------------------------------------------------------------------


def q_rate_trend(spark, sf_dir):
    """Daily-volume trend per event type as the OLS slope over
    (day, count) — is this feed growing or dying — computed
    INTEGER-EXACTLY: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) is emitted
    as its BIGINT numerator and denominator (bit-identical across
    engines; counts and day indexes are ints) next to the rounded
    ratio. One map-side-combined daily aggregate + one 5-row moment
    aggregate; the moments are mergeable sums, so the same pass runs at
    any scale."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).alias("c"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("day").alias("sx"),
        F.sum("c").alias("sy"),
        F.sum(F.col("day") * F.col("c")).alias("sxy"),
        F.sum(F.col("day") * F.col("day")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        "event_type",
        "n",
        num.alias("slope_num"),
        den.alias("slope_den"),
        F.round(num / den, 6).alias("slope"),
        (num > 0).alias("growing"),
    )


SQL_RATE_TREND = """
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type, count(*)::BIGINT AS n, sum(day)::BIGINT AS sx,
         sum(c)::BIGINT AS sy, sum(day * c)::BIGINT AS sxy,
         sum(day * day)::BIGINT AS sxx
  FROM daily GROUP BY 1
)
SELECT event_type, n,
       (n * sxy - sx * sy)::BIGINT AS slope_num,
       (n * sxx - sx * sx)::BIGINT AS slope_den,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx)::DOUBLE, 6) AS slope,
       (n * sxy - sx * sy) > 0 AS growing
FROM m
"""


# --------------------------------------------------------------------------
# revenue_share — ratio-to-report window
# --------------------------------------------------------------------------


def q_revenue_share(spark, sf_dir):
    """Each nation's share of its year's total revenue — the classic
    ratio-to-report window: one aggregate to (nation, year) integer
    ten-thousandth cells, then a window SUM partitioned by year over
    the tiny grouped frame (the windowed input is nations x years, the
    corpus never enters a window). Shares are exact-integer ratios
    rounded at 6."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4) * 10000)
        .cast("long")
        .alias("rev_e4"),
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    cust = F.broadcast(_t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    nation = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    cells = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "o_year")
        .agg(F.sum("rev_e4").alias("rev_e4"))
    )
    w = Window.partitionBy("o_year")
    return cells.select(
        "n_name",
        "o_year",
        F.round(F.col("rev_e4") / 10000.0, 2).alias("revenue"),
        F.round(F.col("rev_e4") / F.sum("rev_e4").over(w), 6).alias("share"),
    )


def q_rfm_segments(spark, sf_dir):
    """RFM (recency/frequency/monetary) user segmentation with exact
    quartile thresholds — the quantile-bucketing shape done WITHOUT a
    global ranking window: ntile()/percent_rank() over all users would
    funnel the whole user dimension through one task, so instead the
    three metric quartiles are computed as one exact-percentile
    aggregate (nine numbers) and broadcast back onto the per-user frame;
    each score is then three comparisons. Recency is scored on the
    last-activity epoch-day directly (higher = more recent) so no
    corpus-wide "now" scalar is needed.

    Costs two passes over the per-user aggregate's lineage (threshold
    subtree + scoring subtree) and nothing wider; at 100 TB swap the
    exact percentile for approx_percentile (mergeable sketch) — exact is
    used here because the oracle hash-compares values. Monetary is
    summed in exact integer cents."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_date(F.col("ts").cast("date")).alias("ep_day"),
        F.round(F.col("value") * 100).cast("long").alias("v_e2"),
    )
    users = ev.groupBy("user_id").agg(
        F.max("ep_day").alias("last_ep"),
        F.count(F.lit(1)).alias("f_n"),
        F.sum("v_e2").alias("m_e2"),
    )
    thr = users.agg(
        F.expr("percentile(last_ep, array(0.25D, 0.5D, 0.75D))").alias("rq"),
        F.expr("percentile(f_n, array(0.25D, 0.5D, 0.75D))").alias("fq"),
        F.expr("percentile(m_e2, array(0.25D, 0.5D, 0.75D))").alias("mq"),
    )
    scored = users.crossJoin(F.broadcast(thr)).select(
        "user_id",
        "last_ep",
        "f_n",
        F.round(F.col("m_e2") / 100.0, 2).alias("monetary"),
        (
            F.lit(1)
            + (F.col("last_ep") > F.col("rq")[0]).cast("int")
            + (F.col("last_ep") > F.col("rq")[1]).cast("int")
            + (F.col("last_ep") > F.col("rq")[2]).cast("int")
        ).alias("r_score"),
        (
            F.lit(1)
            + (F.col("f_n") > F.col("fq")[0]).cast("int")
            + (F.col("f_n") > F.col("fq")[1]).cast("int")
            + (F.col("f_n") > F.col("fq")[2]).cast("int")
        ).alias("f_score"),
        (
            F.lit(1)
            + (F.col("m_e2") > F.col("mq")[0]).cast("int")
            + (F.col("m_e2") > F.col("mq")[1]).cast("int")
            + (F.col("m_e2") > F.col("mq")[2]).cast("int")
        ).alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.when(
            (F.col("r_score") >= 3) & (F.col("f_score") >= 3) & (F.col("m_score") >= 3),
            F.lit("core"),
        )
        .when((F.col("r_score") >= 3) & (F.col("f_score") <= 2), F.lit("new_or_casual"))
        .when(
            (F.col("r_score") <= 2)
            & ((F.col("f_score") >= 3) | (F.col("m_score") >= 3)),
            F.lit("at_risk_valuable"),
        )
        .otherwise(F.lit("hibernating")),
    )


SQL_RFM_SEGMENTS = """
WITH u AS (
  SELECT user_id,
         max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)))::BIGINT
           AS last_ep,
         count(*)::BIGINT AS f_n,
         SUM(round(value * 100)::BIGINT) AS m_e2
  FROM events GROUP BY user_id
), thr AS (
  SELECT quantile_cont(last_ep, 0.25) AS rq1, quantile_cont(last_ep, 0.5) AS rq2,
         quantile_cont(last_ep, 0.75) AS rq3,
         quantile_cont(f_n, 0.25) AS fq1, quantile_cont(f_n, 0.5) AS fq2,
         quantile_cont(f_n, 0.75) AS fq3,
         quantile_cont(m_e2, 0.25) AS mq1, quantile_cont(m_e2, 0.5) AS mq2,
         quantile_cont(m_e2, 0.75) AS mq3
  FROM u
), scored AS (
  SELECT user_id, last_ep, f_n, round(m_e2 / 100.0, 2) AS monetary,
         1 + (last_ep > rq1)::INT + (last_ep > rq2)::INT + (last_ep > rq3)::INT
           AS r_score,
         1 + (f_n > fq1)::INT + (f_n > fq2)::INT + (f_n > fq3)::INT AS f_score,
         1 + (m_e2 > mq1)::INT + (m_e2 > mq2)::INT + (m_e2 > mq3)::INT AS m_score
  FROM u CROSS JOIN thr
)
SELECT user_id, last_ep, f_n, monetary, r_score, f_score, m_score,
       CASE
         WHEN r_score >= 3 AND f_score >= 3 AND m_score >= 3 THEN 'core'
         WHEN r_score >= 3 AND f_score <= 2 THEN 'new_or_casual'
         WHEN r_score <= 2 AND (f_score >= 3 OR m_score >= 3)
           THEN 'at_risk_valuable'
         ELSE 'hibernating'
       END AS segment
FROM scored
"""


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over the event stream: per
    user, events ordered by (ts, event_id) — the event_id tiebreak makes
    same-microsecond events deterministically ordered on both engines —
    lag() pairs each event with its predecessor, and the (prev, next)
    pair counts row-normalize into transition probabilities.

    One shuffle (the per-user sequence window); the normalizing window
    runs on the type x type grouped frame (tens of rows), never the
    corpus. A mega-user serializes their own sequence into one task —
    bounded by the heaviest single user's event count, the inherent
    cost of ordered per-user semantics (sessionize first to cut it).
    Probabilities are exact-integer ratios rounded at 6, same discipline
    as revenue_share."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(wp), 6
        ).alias("p"),
    )


SQL_EVENT_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), pairs AS (
  SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n_transitions
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT prev_type, next_type, n_transitions,
       round(n_transitions
             / (SUM(n_transitions) OVER (PARTITION BY prev_type))::DOUBLE, 6)
         AS p
FROM pairs
"""


def q_score_auc(spark, sf_dir):
    """Exact ROC-AUC of a score against a binary label — the acceptance
    metric for every model-based corpus filter (fastText quality,
    perplexity, PII classifiers): here, how well the event ``value``
    separates purchases from non-purchases. Computed via the midrank
    Mann-Whitney identity AUC = (R_pos - Np(Np+1)/2) / (Np*Nn) with exact
    tie handling, all in BIGINT: scores land on an integer cent grid, the
    rank machinery is counts-of-counts, and only the final ratio is
    rounded — so both engines agree bit-for-bit (a per-row float rank
    would not).

    Scale shape: one (score)-keyed hash aggregate collapses the corpus to
    the distinct-score frame (bounded by the score grid, not the row
    count); the exclusive prefix of group sizes over that frame uses the
    ``_global_prefix`` two-phase device, so there is no corpus-wide — or
    even frame-wide — single-task window; one four-number summary ends
    the plan. The midrank products stay under 2^63 for frames up to ~10^9
    rows per score bucket; past that, coarsen the grid (the standard
    fixed-bucket AUC estimator)."""
    from .datapipe import _global_prefix

    ev = _t(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("s"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    g = ev.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("pos").alias("np")
    )
    pre = _global_prefix(spark, g, "n", order_col="s")
    return (
        pre.agg(
            F.sum(
                F.col("np") * (2 * F.col("_pre") + F.col("n") + 1)
            ).alias("r2"),
            F.sum("np").alias("n_pos"),
            F.sum(F.col("n") - F.col("np")).alias("n_neg"),
            F.count(F.lit(1)).alias("n_scores"),
        )
        .select(
            F.col("n_pos").cast("long").alias("n_pos"),
            F.col("n_neg").cast("long").alias("n_neg"),
            F.col("n_scores").cast("long").alias("n_scores"),
            F.round(
                (F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1))
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
                6,
            ).alias("auc"),
        )
    )


PARETO_CUT = 0.8  # concentration threshold for the in_top80 flag


def q_revenue_pareto(spark, sf_dir):
    """Revenue concentration (Pareto/ABC) curve over parts: each part's
    cumulative revenue share when parts are ranked by revenue — the
    80/20 audit behind assortment and skew decisions, and the ranking
    shape ntile()/cume_dist() would single-task: instead the descending
    revenue order runs through the ``_global_prefix`` two-phase device
    (range-partition by (-revenue, partkey), local cumsums, broadcast
    chunk offsets), so no task ever holds more than ~n_parts/partitions
    rows. Revenue accumulates as integer ten-thousandths (the rollup
    discipline) and only the final share rounds; ``in_top80`` marks the
    minimal prefix of parts that reaches the cut (strict-before
    comparison, so the part that crosses the line is included)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.round(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
            * 10000
        )
        .cast("long")
        .alias("rev_e4"),
    )
    parts = li.groupBy("l_partkey").agg(F.sum("rev_e4").alias("rev_e4"))
    from .datapipe import _global_prefix

    ranked = (
        _global_prefix(
            spark,
            parts.withColumn("neg_rev", -F.col("rev_e4")).withColumn(
                "one", F.lit(1).cast("long")
            ),
            "rev_e4",
            order_col=["neg_rev", "l_partkey"],
        )
        .withColumnRenamed("_pre", "rev_before")
        .withColumnRenamed("_grand", "rev_grand")  # the count pass below
        .drop("_chunk")  # emits its own _grand/_chunk; keep revenue's
    )
    ranked = _global_prefix(
        spark, ranked, "one", order_col=["neg_rev", "l_partkey"]
    )
    return ranked.select(
        "l_partkey",
        (F.col("_pre") + 1).cast("long").alias("rank"),
        # exact integer ten-thousandths: round(rev_e4/1e4, 2) lands on
        # .xx5 boundary doubles that the two engines round apart
        F.col("rev_e4").cast("long").alias("revenue_e4"),
        F.round(
            (F.col("rev_before") + F.col("rev_e4"))
            / F.col("rev_grand").cast("double"),
            6,
        ).alias("cum_share"),
        (
            F.col("rev_before")
            < F.lit(PARETO_CUT) * F.col("rev_grand").cast("double")
        ).alias("in_top80"),
    )


SQL_REVENUE_PARETO = f"""
WITH p AS (
  SELECT l_partkey,
         SUM(round(round(l_extendedprice * (1 - l_discount), 4)
                   * 10000)::BIGINT) AS rev_e4
  FROM lineitem GROUP BY l_partkey
), r AS (
  SELECT l_partkey, rev_e4,
         COALESCE(SUM(rev_e4) OVER (
             ORDER BY rev_e4 DESC, l_partkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS rev_before,
         row_number() OVER (ORDER BY rev_e4 DESC, l_partkey) AS rank,
         SUM(rev_e4) OVER () AS grand
  FROM p
)
SELECT l_partkey, rank::BIGINT AS rank,
       rev_e4::BIGINT AS revenue_e4,
       round((rev_before + rev_e4) / grand::DOUBLE, 6) AS cum_share,
       rev_before < {PARETO_CUT} * grand::DOUBLE AS in_top80
FROM r
"""


def q_cusum_changepoint(spark, sf_dir):
    """CUSUM change-point scan per event type: the one-sided cumulative-
    sum statistic S_i = max(0, S_{i-1} + (x_i - mean)) over the daily
    count series, whose peak marks the most sustained upward departure
    from the series mean — the standard drift/level-shift detector a
    pipeline health monitor runs per metric. The recurrence's max-clamp
    makes it inherently sequential (no window frame expresses it), so it
    runs as an IN-ROW FOLD: each type's day series collects into one
    sorted array (bounded at days-per-type, ~365/yr — a metrology grain,
    never corpus-scale) and ``F.aggregate`` folds it JVM-side. All
    arithmetic is integer, scaled by n_days so the mean never becomes a
    double: S'_i = max(0, S_{i-1} + cnt_i * n - total) = n * CUSUM_i.
    ``peak_day`` is the day the global max is FIRST attained (the fold
    updates on strictly-greater, matching MIN(day) over argmax rows in
    the recursive-CTE oracle)."""
    daily = (
        _t(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_type = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "cnt"))).alias("seq")
    )
    per_type = per_type.select(
        "event_type",
        "seq",
        F.size("seq").cast("long").alias("n_days"),
        F.aggregate(
            "seq", F.lit(0).cast("long"), lambda acc, x: acc + x["cnt"]
        ).alias("total_events"),
    )
    n, tot = F.col("n_days"), F.col("total_events")

    def step(acc, x):
        s_new = F.greatest(
            F.lit(0).cast("long"), acc["s"] + x["cnt"] * n - tot
        )
        hit = s_new > acc["smax"]
        return F.struct(
            s_new.alias("s"),
            F.when(hit, s_new).otherwise(acc["smax"]).alias("smax"),
            F.when(hit, x["day"]).otherwise(acc["dmax"]).alias("dmax"),
        )

    folded = per_type.withColumn(
        "res",
        F.aggregate(
            "seq",
            F.struct(
                F.lit(0).cast("long").alias("s"),
                F.lit(-1).cast("long").alias("smax"),
                F.lit(None).cast("date").alias("dmax"),
            ),
            step,
        ),
    )
    return folded.select(
        "event_type",
        "n_days",
        "total_events",
        F.col("res.smax").alias("cusum_max"),
        F.date_format("res.dmax", "yyyy-MM-dd").alias("peak_day"),
    )


SQL_CUSUM_CHANGEPOINT = """
WITH RECURSIVE d AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*)::BIGINT AS cnt
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, count(*)::BIGINT AS n, SUM(cnt)::BIGINT AS tot
  FROM d GROUP BY 1
), r AS (
  SELECT d.event_type,
         row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn,
         d.day, d.cnt, s.n, s.tot
  FROM d JOIN s USING (event_type)
), cu AS (
  SELECT event_type, rn, day,
         GREATEST(0, cnt * n - tot)::BIGINT AS sv
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.event_type, r.rn, r.day,
         GREATEST(0, cu.sv + r.cnt * r.n - r.tot)::BIGINT
  FROM cu JOIN r ON r.event_type = cu.event_type AND r.rn = cu.rn + 1
), mx AS (
  SELECT event_type, MAX(sv) AS cusum_max FROM cu GROUP BY 1
)
SELECT s.event_type, s.n AS n_days, s.tot AS total_events, mx.cusum_max,
       strftime(MIN(cu.day) FILTER (WHERE cu.sv = mx.cusum_max),
                '%Y-%m-%d') AS peak_day
FROM s JOIN mx USING (event_type) JOIN cu USING (event_type)
GROUP BY 1, 2, 3, 4
"""


def q_seasonality_grid(spark, sf_dir):
    """Day-of-week x hour seasonality grid with an independence lift:
    observed event count per (dow, hour) cell against the count expected
    if weekday and hour were independent (row_total * col_total / grand
    — the chi-square contingency expectation), lift = observed/expected.
    One corpus aggregate lands on the 7x24 cell grain; the marginals and
    grand total are windows OVER THE 168-ROW CELL FRAME (the
    unpartitioned window is bounded at 168 rows by construction — a
    calendar grain, never data-scale — so the single-task stage is
    constant work). Expected/lift are built from the identical
    double-expression tree on both engines (integer marginal products
    would overflow int64 at 100 TB counts, so the division happens
    first)."""
    cells = (
        _t(spark, sf_dir, "events")
        .select(
            (F.dayofweek("ts") - 1).alias("dow"),
            F.hour("ts").alias("hr"),
        )
        .groupBy("dow", "hr")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w_row = Window.partitionBy("dow")
    w_col = Window.partitionBy("hr")
    w_all = Window.partitionBy()
    g = (
        cells.withColumn("row_tot", F.sum("n_events").over(w_row))
        .withColumn("col_tot", F.sum("n_events").over(w_col))
        .withColumn("grand", F.sum("n_events").over(w_all))
    )
    return g.select(
        "dow",
        "hr",
        "n_events",
        F.round(
            F.col("row_tot") * (F.col("col_tot") / F.col("grand")), 4
        ).alias("expected"),
        F.round(
            (F.col("n_events") / F.col("row_tot"))
            * (F.col("grand") / F.col("col_tot")),
            6,
        ).alias("lift"),
    )


SQL_SEASONALITY_GRID = """
WITH cells AS (
  SELECT dayofweek(ts)::INT AS dow, EXTRACT(hour FROM ts)::INT AS hr,
         count(*)::BIGINT AS n_events
  FROM events GROUP BY 1, 2
), g AS (
  SELECT dow, hr, n_events,
         SUM(n_events) OVER (PARTITION BY dow) AS row_tot,
         SUM(n_events) OVER (PARTITION BY hr) AS col_tot,
         SUM(n_events) OVER () AS grand
  FROM cells
)
SELECT dow, hr, n_events,
       round(row_tot * (col_tot::DOUBLE / grand), 4) AS expected,
       round((n_events::DOUBLE / row_tot) * (grand::DOUBLE / col_tot), 6)
         AS lift
FROM g
"""


ATTR_WINDOW_US = 7 * 86400 * 1_000_000  # 7-day attribution lookback


def q_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution: every purchase's value is split
    equally across that user's views in the preceding 7 days, and each
    view reports its accumulated credit — the marketing-analytics
    workload that as-of (last-touch) cannot express because credit fans
    out to ALL qualifying touches.

    Shape: one equi-join on user_id with the range predicate applied as
    a join filter — per-user histories are the natural unit and the join
    never goes wider than views_per_user x purchases_per_user (a
    mega-user is the usual salt/sessionize case, documented at
    event_transitions). The touch count per purchase is a window over
    pid — purchase-grain, bounded by touches-per-purchase, never the
    corpus. Credit arithmetic: integer cents divided by the integer
    touch count, both engines computing the identical rational, rounded
    at 4 after the per-view sum."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("et"),
        F.round(F.col("value") * 100).cast("long").alias("v_e2"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("et").alias("vt")
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("pid"),
        F.col("et").alias("pt"),
        "v_e2",
    )
    pairs = views.join(
        purch,
        [
            views.user_id == purch.user_id,
            views.vt <= purch.pt,
            views.vt > purch.pt - ATTR_WINDOW_US,
        ],
    ).select(views.user_id, "view_id", "pid", "v_e2")
    wp = Window.partitionBy("pid")
    credited = pairs.select(
        "user_id",
        "view_id",
        "pid",
        (F.col("v_e2") / F.count(F.lit(1)).over(wp)).alias("credit_e2"),
    )
    return credited.groupBy("user_id", "view_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.round(F.sum("credit_e2") / 100.0, 4).alias("credit"),
    )


SQL_ATTRIBUTION_LINEAR = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS et,
         round(value * 100)::BIGINT AS v_e2
  FROM events
), v AS (
  SELECT user_id, event_id AS view_id, et AS vt FROM ev
  WHERE event_type = 'view'
), p AS (
  SELECT user_id, event_id AS pid, et AS pt, v_e2 FROM ev
  WHERE event_type = 'purchase'
), pairs AS (
  SELECT v.user_id, v.view_id, p.pid, p.v_e2
  FROM v JOIN p ON p.user_id = v.user_id
   AND v.vt <= p.pt AND v.vt > p.pt - {ATTR_WINDOW_US}
), credited AS (
  SELECT user_id, view_id, pid,
         v_e2 / (count(*) OVER (PARTITION BY pid))::DOUBLE AS credit_e2
  FROM pairs
)
SELECT user_id, view_id, count(*)::BIGINT AS n_purchases,
       round(SUM(credit_e2) / 100.0, 4) AS credit
FROM credited
GROUP BY user_id, view_id
"""


AB_VALUE_MIN = 90  # premium-purchase cut — binding both ways on the fixture


def q_ab_test_purchase(spark, sf_dir):
    """Experiment readout: users are deterministically assigned to two
    variants by the portable Knuth hash of user_id (the same
    lineage-stable assignment device as stratified_sample — rand() would
    unbalance on re-run), conversion = fraction of users with >=1
    premium purchase (value > AB_VALUE_MIN — a plain any-purchase
    definition saturates to 1.0 on this fixture and zeroes the pooled
    variance), and the two-proportion pooled z-statistic decides
    significance. All counts are exact integers from two narrow
    aggregates (user-grain, then variant-grain = 2 rows); the z is
    computed once from those six integers and rounded at 4 — no per-row
    float ever aggregates.

    At 100 TB this is the shape experiment platforms actually run:
    assignment is a pure hash (no assignment table to join), the user
    rollup is one map-side-combining aggregate, and everything after is
    driver-free arithmetic on a two-row frame."""
    from .datapipe import _HASH_MOD, _HASH_MULT, _HASH_PRE

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        (
            (F.col("event_type") == "purchase")
            & (F.col("value") > AB_VALUE_MIN)
        )
        .cast("long")
        .alias("p"),
    )
    users = ev.groupBy("user_id").agg(
        F.max("p").alias("converted")
    ).select(
        (
            (F.col("user_id") % _HASH_PRE) * _HASH_MULT % _HASH_MOD % 2
        ).cast("int").alias("variant"),
        "converted",
    )
    v = users.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    stats = (
        v.agg(
            F.sum("n_users").alias("n"),
            F.sum("n_converted").alias("c"),
            F.sum(F.when(F.col("variant") == 0, F.col("n_users"))).alias("n0"),
            F.sum(F.when(F.col("variant") == 0, F.col("n_converted"))).alias(
                "c0"
            ),
            F.sum(F.when(F.col("variant") == 1, F.col("n_users"))).alias("n1"),
            F.sum(F.when(F.col("variant") == 1, F.col("n_converted"))).alias(
                "c1"
            ),
        )
        .select(
            F.round(
                (F.col("c1") / F.col("n1") - F.col("c0") / F.col("n0"))
                / F.sqrt(
                    (F.col("c") / F.col("n"))
                    * (1 - F.col("c") / F.col("n"))
                    * (1 / F.col("n0") + 1 / F.col("n1"))
                ),
                4,
            ).alias("zscore")
        )
    )
    return v.crossJoin(F.broadcast(stats)).select(
        "variant",
        "n_users",
        "n_converted",
        F.round(F.col("n_converted") / F.col("n_users"), 6).alias("cvr"),
        "zscore",
    )


SQL_AB_TEST_PURCHASE = f"""
WITH u AS (
  SELECT user_id,
         ((user_id % 2147483647) * 2654435761 % 4294967296 % 2)::INT
           AS variant,
         max(CASE WHEN event_type = 'purchase' AND value > {AB_VALUE_MIN}
                  THEN 1 ELSE 0 END)::BIGINT AS converted
  FROM events GROUP BY user_id
), v AS (
  SELECT variant, count(*)::BIGINT AS n_users,
         SUM(converted)::BIGINT AS n_converted
  FROM u GROUP BY variant
), s AS (
  SELECT round(
      (max(CASE WHEN variant = 1 THEN n_converted / n_users::DOUBLE END)
       - max(CASE WHEN variant = 0 THEN n_converted / n_users::DOUBLE END))
      / sqrt((SUM(n_converted) / SUM(n_users)::DOUBLE)
             * (1 - SUM(n_converted) / SUM(n_users)::DOUBLE)
             * (1 / max(CASE WHEN variant = 0 THEN n_users::DOUBLE END)
                + 1 / max(CASE WHEN variant = 1 THEN n_users::DOUBLE END))),
      4) AS zscore
  FROM v
)
SELECT variant, n_users, n_converted,
       round(n_converted / n_users::DOUBLE, 6) AS cvr, s.zscore
FROM v, s
"""


COPURCHASE_TOP_K = 25


def q_copurchase_pairs(spark, sf_dir):
    """Market-basket co-occurrence: the top-K part pairs that appear in
    the same order. The pair generation is IN-ROW (collect the order's
    sorted distinct parts — baskets are small by nature — then the same
    upper-triangle transform/flatten device as embedding_covariance), so
    the quadratic blowup is bounded by basket size, never by corpus
    size, and a self-join of lineitem against itself (|order| x |order|
    rows through a shuffle) never happens. One hash aggregate counts
    pairs; the top-K is TakeOrdered (per-partition heap + K-row driver
    merge), deterministically tie-broken by the pair itself."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) ->"
                " transform(slice(parts, i + 2, size(parts) - i - 1),"
                "           y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("e")
    ).select("e.pa", "e.pb")
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "pa", "pb")
        .limit(COPURCHASE_TOP_K)
    )


SQL_COPURCHASE_PAIRS = f"""
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS pa, c.l_partkey AS pb, count(*)::BIGINT AS n_orders
FROM b a JOIN b c ON c.l_orderkey = a.l_orderkey
                 AND a.l_partkey < c.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, pa, pb
LIMIT {COPURCHASE_TOP_K}
"""


BM_WORD_BITS = 63  # bits per bitmap word (63 keeps 1<<bit positive BIGINT)


def q_bitmap_distinct_window(spark, sf_dir):
    """EXACT daily + trailing-7-day distinct users via mergeable BITMAP
    words — the ClickHouse/Druid device, and the exact complement of a
    merged-HLL window count: each day's events collapse once into
    (word = user div 63, bits = OR of 1<<(user mod 63)) states; every
    overlapping window is then a bitwise-OR RANGE window over the dense
    day x word grid and a popcount rollup — the raw events are scanned
    exactly once however many windows overlap them. State is
    n_users/63 words per day (the inherent cost of exactness; HLL is
    the lossy alternative when even that is too wide). 63 bits per word
    so ``shiftleft(1L, bit)`` never touches the sign bit, which the two
    engines wrap differently.

    The oracle computes the same numbers by a DIFFERENT algorithm
    (count(DISTINCT ..) per day and per window), so the hash equality is
    a true cross-algorithm check."""
    ev = _t(spark, sf_dir, "events").select(
        F.unix_date(F.col("ts").cast("date")).cast("long").alias("day"),
        F.expr(f"user_id div {BM_WORD_BITS}").alias("w"),
        F.expr(
            f"shiftleft(1L, CAST(user_id % {BM_WORD_BITS} AS INT))"
        ).alias("b"),
    )
    daily = ev.groupBy("day", "w").agg(F.expr("bit_or(b)").alias("bits"))
    days = daily.select("day").distinct()
    words = daily.select("w").distinct()
    grid = days.crossJoin(F.broadcast(words))
    dense = grid.join(daily, ["day", "w"], "left")
    win = Window.partitionBy("w").orderBy("day").rangeBetween(-6, 0)
    merged = dense.select(
        "day",
        F.coalesce("bits", F.lit(0)).alias("bits"),
        F.expr("bit_or(bits)").over(win).alias("bits_w7"),
    )
    return merged.groupBy("day").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("distinct_day"),
        F.sum(F.bit_count(F.coalesce("bits_w7", F.lit(0))))
        .cast("long")
        .alias("distinct_w7"),
    )


SQL_BITMAP_DISTINCT_WINDOW = """
WITH ev AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))::BIGINT AS day,
         user_id
  FROM events
), d AS (
  SELECT day, count(DISTINCT user_id)::BIGINT AS distinct_day
  FROM ev GROUP BY day
), w AS (
  SELECT dd.day, count(DISTINCT ev.user_id)::BIGINT AS distinct_w7
  FROM (SELECT DISTINCT day FROM ev) dd
  JOIN ev ON ev.day BETWEEN dd.day - 6 AND dd.day
  GROUP BY dd.day
)
SELECT day, distinct_day, distinct_w7 FROM d JOIN w USING (day)
"""


SQL_SCORE_AUC = """
WITH e AS (
  SELECT round(value * 100)::BIGINT AS s,
         (event_type = 'purchase')::BIGINT AS pos
  FROM events
), g AS (
  SELECT s, count(*)::BIGINT AS n, SUM(pos)::BIGINT AS np
  FROM e GROUP BY s
), p AS (
  SELECT n, np,
         COALESCE(SUM(n) OVER (
             ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS pre
  FROM g
)
SELECT SUM(np)::BIGINT AS n_pos,
       SUM(n - np)::BIGINT AS n_neg,
       count(*)::BIGINT AS n_scores,
       round((SUM(np * (2 * pre + n + 1)) - SUM(np) * (SUM(np) + 1))
             / (2.0 * SUM(np) * SUM(n - np)), 6) AS auc
FROM p
"""


SQL_REVENUE_SHARE = """
WITH cells AS (
  SELECT n_name, date_part('year', o_orderdate)::INT AS o_year,
         SUM(round(round(l_extendedprice * (1 - l_discount), 4) * 10000)::BIGINT)
           AS rev_e4
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT n_name, o_year, round(rev_e4 / 10000.0, 2) AS revenue,
       round(rev_e4 / (SUM(rev_e4) OVER (PARTITION BY o_year))::DOUBLE, 6)
         AS share
FROM cells
"""

TIMESERIES_QUERIES: dict[str, tuple] = {
    "asof_join_events": (q_asof_join_events, SQL_ASOF_JOIN_EVENTS),
    "rollup_revenue": (q_rollup_revenue, SQL_ROLLUP_REVENUE),
    "group_median_exact": (q_group_median_exact, SQL_GROUP_MEDIAN_EXACT),
    "sliding_window_activity": (q_sliding_window_activity, SQL_SLIDING_WINDOW_ACTIVITY),
    "gap_fill_interpolate": (q_gap_fill_interpolate, SQL_GAP_FILL_INTERPOLATE),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "funnel_conversion": (q_funnel_conversion, SQL_FUNNEL_CONVERSION),
    "pivot_revenue_years": (q_pivot_revenue_years, SQL_PIVOT_REVENUE_YEARS),
    "cube_revenue": (q_cube_revenue, SQL_CUBE_REVENUE),
    "outlier_mad": (q_outlier_mad, SQL_OUTLIER_MAD),
    "interval_overlap_join": (q_interval_overlap_join, SQL_INTERVAL_OVERLAP_JOIN),
    "json_props_stats": (q_json_props_stats, SQL_JSON_PROPS_STATS),
    "rate_anomaly": (q_rate_anomaly, SQL_RATE_ANOMALY),
    "rate_trend": (q_rate_trend, SQL_RATE_TREND),
    "revenue_share": (q_revenue_share, SQL_REVENUE_SHARE),
    "event_transitions": (q_event_transitions, SQL_EVENT_TRANSITIONS),
    "rfm_segments": (q_rfm_segments, SQL_RFM_SEGMENTS),
    "score_auc": (q_score_auc, SQL_SCORE_AUC),
    "attribution_linear": (q_attribution_linear, SQL_ATTRIBUTION_LINEAR),
    "ab_test_purchase": (q_ab_test_purchase, SQL_AB_TEST_PURCHASE),
    "copurchase_pairs": (q_copurchase_pairs, SQL_COPURCHASE_PAIRS),
    "revenue_pareto": (q_revenue_pareto, SQL_REVENUE_PARETO),
    "cusum_changepoint": (q_cusum_changepoint, SQL_CUSUM_CHANGEPOINT),
    "seasonality_grid": (q_seasonality_grid, SQL_SEASONALITY_GRID),
    "bitmap_distinct_window": (
        q_bitmap_distinct_window,
        SQL_BITMAP_DISTINCT_WINDOW,
    ),
    "ewma_smooth": (None, None),  # replaced below after definition
}


# ---------------------------------------------------------------------------
# ewma_smooth — integer-exact truncated EWMA
# ---------------------------------------------------------------------------

EWMA_HORIZON = 20  # α = 1/2; weights below 2^-19 are dropped (≈ 2e-6)


def q_ewma_smooth(spark, sf_dir):
    """Exponentially-weighted moving average of the daily event count per
    type, α = 1/2, truncated at a 20-row horizon — WITHOUT floating-point
    accumulation: the weights 2^-k are scaled to integers 2^(19-k), so
    numerator and denominator are exact BIGINT window sums (max term
    c·2^19 ≈ 5e11·days — far under int64) and the single final division
    of two exactly-equal integers is the only double op, identical on
    both engines. Early rows renormalize over the weights actually
    present (the standard adjust=True EWMA), so the series has no warmup
    bias and no NULL prefix. One exchange on (event_type); the 20 lag()
    expressions share one window pass."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lags = [F.lag("c", k).over(w) for k in range(EWMA_HORIZON)]
    num = sum(
        (
            F.coalesce(lg * F.lit(1 << (EWMA_HORIZON - 1 - k)).cast("long"), F.lit(0))
            for k, lg in enumerate(lags)
        ),
        F.lit(0).cast("long"),
    )
    den = sum(
        (
            F.when(lg.isNotNull(), F.lit(1 << (EWMA_HORIZON - 1 - k)).cast("long")).otherwise(
                F.lit(0)
            )
            for k, lg in enumerate(lags)
        ),
        F.lit(0).cast("long"),
    )
    return daily.select(
        "event_type",
        "day",
        "c",
        F.round(num.cast("double") / den.cast("double"), 6).alias("ewma"),
    )


def _sql_ewma_smooth(sf: str) -> str:
    num_terms = " + ".join(
        f"coalesce(lag(c, {k}) OVER win * {1 << (EWMA_HORIZON - 1 - k)}, 0)"
        for k in range(EWMA_HORIZON)
    )
    den_terms = " + ".join(
        f"(CASE WHEN lag(c, {k}) OVER win IS NOT NULL"
        f" THEN {1 << (EWMA_HORIZON - 1 - k)} ELSE 0 END)"
        for k in range(EWMA_HORIZON)
    )
    return f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS day,
         count(*)::BIGINT AS c
  FROM events GROUP BY 1, 2
)
SELECT event_type, day, c,
       round(({num_terms})::DOUBLE / ({den_terms})::DOUBLE, 6) AS ewma
FROM daily
WINDOW win AS (PARTITION BY event_type ORDER BY day)
"""


TIMESERIES_QUERIES["ewma_smooth"] = (q_ewma_smooth, _sql_ewma_smooth)
