"""Event-stream query set: tumbling windows, sessionization, running state.

The reference's windowing surface is a tumbling processing-time window before a
keyed reduce (WordCountPreAggregate.java:178-181, SURVEY.md W1) and the AdCom
flush interval itself ("similar to a tumbling window" — WordCountPreAggregate
.java:6-8). Here the batch forms are defined over the `events` table with exact
event-time semantics (the upgrade the reference lacks — SURVEY.md W3); the
streaming forms (with watermarks) live in streaming/jobs.py and are
differentially tested against these batch plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.exact import dec_sum
from ..registry import query
from ..tables import load_table

SESSION_GAP_MIN = 30


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# --- tumbling window aggregation --------------------------------------------
@query(
    "q20_tumbling_hourly",
    "SELECT date_trunc('hour', ts) AS window_start, event_type, "
    "COUNT(*) AS n_events, CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value "
    "FROM events GROUP BY 1, 2",
    tags=("events", "window", "agg"),
    bench=True,
)
def q20_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time window per event_type (W1 batch form).

    Uses F.window — the same operator the streaming variant uses — and projects
    window.start; hour-aligned tumbles make start == date_trunc('hour', ts),
    which is the oracle formulation."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dec_sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# --- sessionization ----------------------------------------------------------
@query(
    "q21_user_sessions",
    f"""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > {SESSION_GAP_MIN} * 60 * 1000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS new_sess
      FROM events),
    sess AS (
      SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked)
    SELECT user_id, CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id
    """,
    tags=("events", "session", "window"),
    bench=True,
)
def q21_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap) per user.

    Classic lag + cumulative-sum session assignment. One hash shuffle on
    user_id serves both window functions and the final aggregate (Catalyst
    reuses the partitioning). Epoch microseconds (unix_micros / epoch_us) keep
    the gap arithmetic integer-exact in both engines."""
    ev = _events(spark, sf_dir)
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = Window.partitionBy("user_id").orderBy(*order)
    marked = ev.withColumn(
        "new_sess",
        F.when(
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > SESSION_GAP_MIN * 60 * 1_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id").agg(
        F.countDistinct("session_id").cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# --- running cumulative state -------------------------------------------------
# Batch rendering of the reference's continuous KeyedStream.reduce emissions
# (SURVEY.md R1): the running per-key aggregate AFTER each event — what the
# reference's update stream prints at every bundle flush.
@query(
    "q22_running_count",
    "SELECT event_id, user_id, "
    "CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) "
    "AS running_cnt FROM events",
    tags=("events", "window", "reference-faithful"),
)
def q22_running_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running event count at each event (continuous-emission parity)."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return _events(spark, sf_dir).select(
        "event_id", "user_id", F.row_number().over(w).cast("bigint").alias("running_cnt")
    )


# --- per-type daily stats (multi-agg over two keys) ---------------------------
@query(
    "q23_type_daily_stats",
    "SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n, "
    "(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*)) AS avg_value, MAX(value) AS max_value, "
    "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users "
    "FROM events GROUP BY 1, 2",
    tags=("events", "agg", "distinct"),
)
def q23_type_daily_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type stats: count / avg / max / distinct users in one pass."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n"),
            (dec_sum("value") / F.count(F.lit(1))).alias("avg_value"),
            F.max("value").alias("max_value"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )


# --- window frames (rolling aggregates) ---------------------------------------
# The reference has no window-function surface at all (only streaming window
# assigners); rolling frames are the batch face of its "running state" idea
# and a staple of feature engineering over event logs.
@query(
    "q24_user_rolling_value",
    "SELECT event_id, user_id, "
    "CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_value "
    "FROM events",
    tags=("events", "window"),
)
def q24_user_rolling_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 4-event value sum per user (bounded ROWS frame).

    Decimal-cast inside the frame: engines walk sliding frames in different
    orders (Spark re-adds in row order; DuckDB uses a segment tree), so
    double sums would differ in last ulps — decimal is order-independent.
    Scale: one shuffle on user_id; frame state is O(4) per row."""
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-3, Window.currentRow)
    )
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double").alias("rolling_value"),
    )


@query(
    "q25_user_value_delta",
    "SELECT event_id, user_id, "
    "value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta "
    "FROM events",
    tags=("events", "window"),
)
def q25_user_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user value change since the previous event (LAG frame; NULL first
    row per user). Exact: one double subtraction of identical operands."""
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return _events(spark, sf_dir).select(
        "event_id", "user_id", (F.col("value") - F.lag("value").over(w)).alias("delta")
    )


# --- as-of join (point-in-time lookup) ----------------------------------------
@query(
    "q26_asof_purchase_prior_view",
    "WITH views AS ("
    "  SELECT user_id, ts, event_id AS view_id, ts AS view_ts FROM events "
    "  WHERE event_type = 'view' "
    "  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1"
    "), purchases AS ("
    "  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value "
    "  FROM events WHERE event_type = 'purchase'"
    ") "
    "SELECT p.user_id, p.ts, p.purchase_id, p.purchase_value, v.view_id, v.view_ts "
    "FROM purchases p ASOF LEFT JOIN views v "
    "ON p.user_id = v.user_id AND v.ts <= p.ts",
    tags=("events", "join", "asof"),
    bench=True,
)
def q26_asof_purchase_prior_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase matched to the same user's latest view at-or-before it
    (point-in-time attribution) via operators/asof.py — one shuffle, no
    pair blow-up, oracle = DuckDB's native ASOF JOIN.

    The right side is deduped to one view per (user, ts) (max event_id) so
    the as-of tie rule is deterministic in both engines."""
    from ..operators.asof import as_of_join

    ev = _events(spark, sf_dir)
    dedup_w = Window.partitionBy("user_id", "ts").orderBy(F.col("view_id").desc())
    views = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", "ts", F.col("event_id").alias("view_id"))
        .withColumn("__rn", F.row_number().over(dedup_w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("view_ts", F.col("ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return as_of_join(purchases, views, on=["user_id"], left_ts="ts", right_ts="ts")


# --- sliding windows ----------------------------------------------------------
@query(
    "q27_sliding_2h_counts",
    "WITH wins AS (SELECT ws AS window_start FROM generate_series("
    "TIMESTAMP '2023-12-31 22:00:00', TIMESTAMP '2024-01-31 23:00:00', "
    "INTERVAL 1 HOUR) t(ws)) "
    "SELECT w.window_start, COUNT(*) AS n_events "
    "FROM events e JOIN wins w "
    "ON e.ts >= w.window_start AND e.ts < w.window_start + INTERVAL 2 HOUR "
    "GROUP BY 1",
    tags=("events", "window", "sliding"),
)
def q27_sliding_2h_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding hourly (each event lands in exactly 2 windows)
    — the sliding form of W1 via Spark's native F.window, which expands the
    overlap map-side (no join, one shuffle on the window key). The oracle
    reconstructs the same windows with generate_series + a range join."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


# --- generic interval overlap via the bucketed range join ---------------------
PROMO_START, PROMO_END = "2024-01-01 00:00:00", "2024-01-31 00:00:00"


@query(
    "q28_promo_window_stats",
    f"WITH iv AS (SELECT ws AS w_start, ws + INTERVAL 6 HOUR AS w_end "
    f"FROM generate_series(TIMESTAMP '{PROMO_START}', TIMESTAMP '{PROMO_END}', "
    "INTERVAL 5 HOUR) t(ws)) "
    "SELECT w_start AS window_start, COUNT(*) AS n_events, "
    "CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value "
    "FROM events e JOIN iv ON e.ts >= iv.w_start AND e.ts < iv.w_end "
    "GROUP BY 1",
    tags=("events", "window", "rangejoin"),
    bench=True,
)
def q28_promo_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats per overlapping irregular interval (6-hour windows opening every
    5 hours) — windows Spark's F.window cannot express directly [F.window
    requires duration % slide alignment to expand map-side; 6h/5h windows
    with arbitrary bounds need a real interval join], computed with
    operators/rangejoin.py (hash join on time buckets, never a nested
    loop)."""
    from ..operators.rangejoin import bucketed_range_join

    iv = (
        spark.range(1)
        .select(
            F.explode(
                F.sequence(
                    F.lit(PROMO_START).cast("timestamp"),
                    F.lit(PROMO_END).cast("timestamp"),
                    F.expr("INTERVAL 5 HOURS"),
                )
            ).alias("w_start")
        )
        .withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 6 HOURS"))
    )
    ev = _events(spark, sf_dir).select("ts", "value")
    joined = bucketed_range_join(ev, iv, point_ts="ts", start="w_start", end="w_end", bucket_width_s=6 * 3600)
    return joined.groupBy(F.col("w_start").alias("window_start")).agg(
        F.count("*").alias("n_events"),
        dec_sum("value").alias("sum_value"),
    )


# --- FULL OUTER reconciliation -----------------------------------------------
@query(
    "q76_purchase_error_reconcile",
    """
    WITH p AS (SELECT user_id, COUNT(*) AS n_purchases FROM events
               WHERE event_type = 'purchase' GROUP BY user_id),
    e AS (SELECT user_id, COUNT(*) AS n_errors FROM events
          WHERE event_type = 'error' GROUP BY user_id)
    SELECT COALESCE(p.user_id, e.user_id) AS user_id,
           COALESCE(n_purchases, 0) AS n_purchases,
           COALESCE(n_errors, 0) AS n_errors
    FROM p FULL OUTER JOIN e ON p.user_id = e.user_id
    """,
    tags=("join", "outer", "agg"),
)
def q76_purchase_error_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase vs error counts, keeping users present on EITHER
    side — the FULL OUTER reconciliation shape (audit two pipelines against
    each other without dropping rows unique to one).

    Both inputs aggregate before joining, so the outer join runs on
    |users|-sized relations, not raw events; the two aggs and the join
    share the user_id hash partitioning — AQE plans one shuffle per side
    and no extra exchange for the join."""
    ev = _events(spark, sf_dir)
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"))
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_errors"))
    )
    return (
        p.join(e, "user_id", "full_outer")
        .select(
            "user_id",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
        )
    )


# --- decile assignment (NTILE) -----------------------------------------------
@query(
    "q78_value_deciles",
    """
    SELECT event_type, decile, COUNT(*) AS n,
           MIN(value) AS lo, MAX(value) AS hi
    FROM (SELECT event_type, value,
                 NTILE(10) OVER (PARTITION BY event_type
                                 ORDER BY value, event_id) AS decile
          -- value IS NOT NULL symmetric with the Spark builder: engine
          -- default NULL ordering differs (Spark ASC = NULLS FIRST, DuckDB
          -- ASC = NULLS LAST), which would shift every decile boundary
          FROM events WHERE value IS NOT NULL) t
    GROUP BY event_type, decile
    """,
    tags=("window", "agg"),
)
def q78_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type decile boundaries of `value` (NTILE window; event_id breaks
    value ties so the assignment is total-ordered and engine-portable).
    The window sorts within each event_type partition — at 100 TB this is
    the rank-based twin of q71's sketch percentiles: exact, but pays a
    per-key sort; use the sketch when boundaries may be approximate."""
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        _events(spark, sf_dir)
        .filter(F.col("value").isNotNull())  # symmetric with the oracle
        .select("event_type", "value", F.ntile(10).over(w).alias("decile"))
        .groupBy("event_type", "decile")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


# --- forward as-of join (conversion lookup) -----------------------------------
@query(
    "q97_asof_next_purchase",
    "WITH purchases AS ("
    "  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value, "
    "         ts AS purchase_ts FROM events WHERE event_type = 'purchase' "
    "  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id ASC) = 1"
    "), views AS ("
    "  SELECT user_id, ts, event_id AS view_id FROM events WHERE event_type = 'view'"
    ") "
    "SELECT v.user_id, v.ts, v.view_id, p.purchase_id, p.purchase_value, "
    "       epoch_us(p.purchase_ts) - epoch_us(v.ts) AS lag_us "
    "FROM views v ASOF LEFT JOIN purchases p "
    "ON v.user_id = p.user_id AND p.ts >= v.ts",
    tags=("events", "join", "asof", "forward"),
)
def q97_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each view matched to the same user's EARLIEST purchase at-or-after it
    (forward as-of: conversion outcome + time-to-convert), via
    operators/asof.py direction="forward" — the mirrored carry of q26's
    backward point-in-time join, still one shuffle and no pair blow-up.
    Oracle = DuckDB's native ASOF JOIN with the >= inequality.

    The purchase side is deduped to one per (user, ts) (min event_id) so the
    same-timestamp tie is deterministic in both engines. lag_us is exact
    integer microseconds (unix_micros / epoch_us)."""
    from ..operators.asof import as_of_join

    ev = _events(spark, sf_dir)
    dedup_w = Window.partitionBy("user_id", "ts").orderBy(F.col("purchase_id").asc())
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withColumn("__rn", F.row_number().over(dedup_w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("purchase_ts", F.col("ts"))
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    joined = as_of_join(
        views, purchases, on=["user_id"], left_ts="ts", right_ts="ts",
        direction="forward",
    )
    return joined.select(
        "user_id",
        "ts",
        "view_id",
        "purchase_id",
        "purchase_value",
        (F.unix_micros("purchase_ts") - F.unix_micros("ts")).alias("lag_us"),
    )


# --- time-RANGE window frame --------------------------------------------------
@query(
    "q103_time_range_rolling",
    """
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(12,2)))
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rolling_1h_value,
           COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
             AS rolling_1h_events
    FROM events
    """,
    tags=("events", "window", "range-frame"),
)
def q103_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-1-hour rolling sum/count per user — a RANGE window frame over
    event TIME (q24's ROWS-frame sibling: the frame is bounded by a time
    horizon, not a row count, so bursty users aggregate everything within
    the hour). Both engines order by exact integer epoch-micros with the
    same inclusive 3.6e9-microsecond bound, so frame membership — including
    equal-timestamp peers, which RANGE frames treat as one peer group — is
    bit-identical. Decimal-cast sum keeps the money math merge-order-exact.

    Scale shape: one shuffle on user_id + an in-partition sort — the same
    lower bound as any per-key ordered scan; state per row is O(1) beyond
    the frame contents."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    ev = _events(spark, sf_dir)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(12,2)")).over(w).cast("double").alias(
            "rolling_1h_value"
        ),
        F.count("*").over(w).alias("rolling_1h_events"),
    )


# --- semi-structured props extraction -----------------------------------------
@query(
    "q104_props_extract",
    """
    SELECT event_type,
           COUNT(*) AS n,
           -- CAST: DuckDB SUM(BIGINT) yields HUGEINT, which hash-mismatches
           -- Spark's BIGINT through the driver's pandas round-trip (cf. q86)
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
    tags=("events", "json", "semi-structured"),
)
def q104_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction: parse the JSON `props` payload
    scan-side (get_json_object — codegen'd JSON path, no Python) and
    aggregate the extracted integer per event type. The shape every event
    pipeline needs: schema-on-read over a JSON blob column without a
    pre-parse ETL pass. Integer sums are exact on both engines."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


# --- gaps-and-islands: activity streaks ---------------------------------------
@query(
    "q105_activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grp AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                        AS INT) AS anchor
      FROM days
    ),
    streaks AS (
      SELECT user_id, COUNT(*) AS len, MIN(day) AS streak_start
      FROM grp GROUP BY user_id, anchor
    )
    SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           MIN(streak_start) AS first_day
    FROM streaks GROUP BY user_id
    """,
    tags=("events", "window", "gaps-islands"),
)
def q105_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the gaps-and-islands
    pattern: distinct active days, then day minus its per-user rank is
    constant within a consecutive run (the island anchor), so one GROUP BY
    on (user, anchor) yields streaks without any self-join or iteration.

    Scale shape: distinct-days dedup and the rank window share the user_id
    partitioning (one shuffle, AQE-coalesced), then two cheap aggregates;
    nothing is quadratic in days. Both engines do identical integer date
    arithmetic (day - rank days)."""
    from pyspark.sql import Window

    days = (
        _events(spark, sf_dir)
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    grp = days.withColumn("anchor", F.date_sub(F.col("day"), rn))
    streaks = grp.groupBy("user_id", "anchor").agg(
        F.count("*").alias("len"), F.min("day").alias("streak_start")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count("*").cast("bigint").alias("n_streaks"),
        F.min("streak_start").alias("first_day"),
    )


# --- ordered conversion funnel ------------------------------------------------
@query(
    "q106_conversion_funnel",
    """
    WITH stage AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS first_click_any,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase_any
      FROM events GROUP BY user_id
    ),
    funnel AS (
      SELECT user_id, first_view,
             CASE WHEN first_click_any >= first_view
                  THEN first_click_any END AS click_after_view,
             CASE WHEN first_purchase_any >= first_view
                       AND first_purchase_any >= first_click_any
                  THEN first_purchase_any END AS purchase_after_click
      FROM stage
    )
    SELECT COUNT(first_view) AS n_viewed,
           COUNT(click_after_view) AS n_clicked,
           COUNT(CASE WHEN click_after_view IS NOT NULL
                      THEN purchase_after_click END) AS n_converted
    FROM funnel
    """,
    tags=("events", "funnel", "agg"),
)
def q106_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel: users whose FIRST click is
    at-or-after their first view, and whose first purchase follows both —
    the standard product-analytics funnel computed with one conditional-min
    aggregation per user (no joins, no per-event window), then one global
    count. Two shuffles total (user agg -> 3-number final), regardless of
    corpus size."""
    ev = _events(spark, sf_dir)
    stage = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("first_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("fc"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
    )
    funnel = stage.select(
        "first_view",
        F.when(F.col("fc") >= F.col("first_view"), F.col("fc")).alias("cav"),
        F.when(
            (F.col("fp") >= F.col("first_view")) & (F.col("fp") >= F.col("fc")),
            F.col("fp"),
        ).alias("pac"),
    )
    return funnel.agg(
        F.count("first_view").alias("n_viewed"),
        F.count("cav").alias("n_clicked"),
        F.count(F.when(F.col("cav").isNotNull(), F.col("pac"))).alias("n_converted"),
    )


# --- retention cohorts --------------------------------------------------------
RETENTION_DAYS = 7  # day-offsets tracked per cohort


@query(
    "q113_retention_cohorts",
    f"""
    WITH ev AS (
      -- user_id IS NOT NULL symmetric with the Spark builder: Spark's
      -- groupBy would treat the NULL user as one cohort member while the
      -- USING join / COUNT(DISTINCT) here silently drop it
      SELECT user_id, CAST(ts AS DATE) AS d FROM events
      WHERE user_id IS NOT NULL
    ),
    firsts AS (
      SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT user_id, d FROM ev
    ),
    sizes AS (
      SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort_day
    ),
    hits AS (
      SELECT f.cohort_day, CAST(a.d - f.cohort_day AS INT) AS k,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
      FROM active a JOIN firsts f USING (user_id)
      WHERE a.d - f.cohort_day BETWEEN 0 AND {RETENTION_DAYS}
      GROUP BY 1, 2
    )
    SELECT h.cohort_day, h.k, h.n_active, s.cohort_size
    FROM hits h JOIN sizes s USING (cohort_day)
    """,
    tags=("events", "window", "cohort", "analytics"),
)
def q113_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort matrix: users grouped by their FIRST activity date
    (the cohort), counted distinct on each of the following RETENTION_DAYS
    day-offsets — the activation/retention table every product-analytics
    stack derives from an event log (the classic triangle chart input).
    Emits (cohort_day, day offset k, active users, cohort size).

    Scale shape: ONE event-scale shuffle, keyed on user_id, computes both
    the cohort day (min) and the user's active-day set (collect_set, with
    map-side partial aggregation and per-user cardinality bounded by the
    calendar) in a single aggregate; everything after operates on one row
    per USER, not per event — the day-set explode emits at most
    {RETENTION_DAYS}+1 rows per user, the (cohort, k) rollup needs no
    distinct (the day set already deduped per user), and cohort_size is
    read off the k=0 row — every user is active on their own first day,
    so the k=0 count IS the cohort size — via a window over the
    days x offsets aggregated rows (no second branch recomputing the
    event shuffle, no join). No window over the whole log, no per-day
    scans, no second pass over events."""
    ev = (
        _events(spark, sf_dir)
        .filter(F.col("user_id").isNotNull())  # symmetric with the oracle CTE
        .select("user_id", F.col("ts").cast("date").alias("d"))
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("d").alias("cohort_day"), F.collect_set("d").alias("days")
    )
    hits = (
        per_user.select("cohort_day", F.explode("days").alias("d"))
        .withColumn("k", F.datediff("d", "cohort_day"))
        .filter((F.col("k") >= 0) & (F.col("k") <= RETENTION_DAYS))
        .groupBy("cohort_day", "k")
        .agg(F.count("*").alias("n_active"))
    )
    w = Window.partitionBy("cohort_day")
    return hits.select(
        "cohort_day",
        F.col("k").cast("int").alias("k"),
        "n_active",
        F.max(F.when(F.col("k") == 0, F.col("n_active"))).over(w).alias("cohort_size"),
    )


# --- co-visitation pairs ------------------------------------------------------
COVISIT_EVENT, COVISIT_MAX_WINDOW, COVISIT_MIN_SHARED = "purchase", 200, 2

# Shared oracle CTE: the co-visitation edge relation. Defined ONCE so the two
# consumers (q140 pairs, q150 PageRank) can never disagree about what an
# edge is (the _CHUNKS_SQL pattern from queries/prep.py).
_COVISIT_EDGES_SQL = f"""act AS (
      SELECT DISTINCT date_trunc('hour', ts) AS w, user_id
      FROM events WHERE event_type = '{COVISIT_EVENT}'
    ),
    ok AS (SELECT w FROM act GROUP BY w HAVING COUNT(*) <= {COVISIT_MAX_WINDOW}),
    a2 AS (SELECT act.w, act.user_id FROM act JOIN ok USING (w)),
    covisit_p AS (SELECT x.user_id AS u1, y.user_id AS u2, COUNT(*) AS shared_hours
          FROM a2 x JOIN a2 y ON x.w = y.w AND x.user_id < y.user_id
          GROUP BY 1, 2),
    covisit_edges AS (SELECT u1, u2, shared_hours FROM covisit_p
                      WHERE shared_hours >= {COVISIT_MIN_SHARED})"""


@query(
    "q140_covisitation_pairs",
    f"""
    WITH {_COVISIT_EDGES_SQL}
    SELECT u1, u2, shared_hours FROM covisit_edges
    """,
    tags=("events", "join", "graph", "pipeline"),
)
def q140_covisitation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-visitation mining: pairs of users repeatedly active in the same
    hour window — the interaction-graph edge builder behind
    collaborative-filtering candidates and coordinated-behavior detection.

    The scale hazard is the within-window self-join: pairs grow
    quadratically in window occupancy, so (exactly like q42's stop-shingle
    cap) windows with more than COVISIT_MAX_WINDOW=200 active users are
    DROPPED before the pair join — a hot window contributes noise-floor
    edges at quadratic cost, and the cap bounds total pair volume to
    O(windows * cap^2) regardless of skew. The join itself is equi on the
    window key, never cartesian; distinct-ification happens scan-side
    before any shuffle."""
    act = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == COVISIT_EVENT)
        .select(F.date_trunc("hour", "ts").alias("w"), "user_id")
        .distinct()
    )
    ok = act.groupBy("w").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") <= COVISIT_MAX_WINDOW
    ).select("w")
    a2 = act.join(F.broadcast(ok), "w")
    b = a2.select(F.col("w").alias("w2"), F.col("user_id").alias("u2"))
    return (
        a2.select("w", F.col("user_id").alias("u1"))
        .join(b, (F.col("w") == F.col("w2")) & (F.col("u1") < F.col("u2")))
        .groupBy("u1", "u2")
        .agg(F.count(F.lit(1)).alias("shared_hours"))
        .filter(F.col("shared_hours") >= COVISIT_MIN_SHARED)
    )


@query(
    "q146_hourly_seasonality",
    """
    SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,  -- DuckDB Sunday=0, Spark Sunday=1
           CAST(hour(ts) AS INT) AS hod,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
    tags=("events", "agg", "timeseries"),
)
def q146_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality profile: event and distinct-user counts per
    (day-of-week, hour-of-day) cell — the 7x24 heatmap behind capacity
    planning and anomaly baselines (q143's trailing window models trend;
    this models the weekly cycle). One map-side-combined aggregate with at
    most 168 output groups; dayofweek/hour are identical integer functions
    on both engines under the session's UTC pin."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "q147_value_concentration",
    """
    WITH per_user AS (
      -- user_id IS NOT NULL symmetric with the Spark builder: the NTILE
      -- tie-break (user_value DESC, user_id ASC) would otherwise place a
      -- NULL-user group differently per engine (Spark ASC = NULLS FIRST,
      -- DuckDB ASC = NULLS LAST)
      SELECT user_id,
             CAST(SUM(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS user_value
      FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
      GROUP BY user_id
    ),
    ranked AS (
      SELECT user_value,
             NTILE(10) OVER (ORDER BY user_value DESC, user_id) AS decile
      FROM per_user
    )
    SELECT CAST(decile AS INT) AS decile,
           COUNT(*) AS n_users,
           -- re-lift to DECIMAL before the group sums: double addition is
           -- order-dependent in the last ulp, decimal is not
           ROUND(CAST(SUM(CAST(user_value AS DECIMAL(20,6))) AS DOUBLE), 2)
             AS decile_value,
           ROUND(CAST(SUM(CAST(user_value AS DECIMAL(20,6))) AS DOUBLE) /
                 (SELECT CAST(SUM(CAST(user_value AS DECIMAL(20,6))) AS DOUBLE)
                  FROM per_user), 6) AS value_share
    FROM ranked GROUP BY decile
    """,
    tags=("events", "window", "analytics"),
)
def q147_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration of purchase value: users bucketed into deciles
    by their total spend (largest first), with each decile's value share —
    the 80/20 readout behind whale-risk and sampling-weight decisions.

    Exactness: per-user sums are decimal (order-independent, engine
    -identical); NTILE runs over a total order (value desc, user_id) so
    bucket boundaries are deterministic; decile sums re-lift to decimal so
    group addition order cannot move the rounded cents, and the share
    divides identical doubles. The NTILE window is global but runs over the per-user
    AGGREGATE (one row per purchaser, q78's posture), not raw events —
    at 100 TB the heavy lifting stays in the keyed pre-aggregation."""
    from pyspark.sql import Window

    per_user = (
        load_table(spark, sf_dir, "events")
        # user_id non-null symmetric with the oracle: engine-default NULL
        # ordering differs (Spark NULLS FIRST vs DuckDB NULLS LAST on ASC)
        # and would move a NULL-user group across a decile boundary
        .filter((F.col("event_type") == "purchase") & F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("user_value"))
    )
    total = per_user.agg(
        F.sum(F.col("user_value").cast("decimal(20,6)")).cast("double").alias("tot")
    )
    w = Window.orderBy(F.desc("user_value"), F.asc("user_id"))
    return (
        per_user.withColumn("decile", F.ntile(10).over(w).cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.sum(F.col("user_value").cast("decimal(20,6)")).cast("double"), 2
            ).alias("decile_value"),
            F.sum(F.col("user_value").cast("decimal(20,6)")).cast("double").alias("_dv"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            "n_users",
            "decile_value",
            F.round(F.col("_dv") / F.col("tot"), 6).alias("value_share"),
        )
    )


# --- PageRank over the co-visitation graph ------------------------------------
PAGERANK_D, PAGERANK_JUMP, PAGERANK_ITERS = 0.85, 0.15, 3


def _pagerank_iter_sql(prev: str, cur: str) -> str:
    """One unrolled weighted-PageRank power-iteration step (oracle side)."""
    return f"""{cur} AS (
      SELECT s.dst AS v,
             CAST('{PAGERANK_JUMP!r}' AS DOUBLE) / nv.n
               + CAST('{PAGERANK_D!r}' AS DOUBLE)
                 * SUM(r.rank * s.w / ws.wsum) AS rank
      FROM sym s
      JOIN ws ON ws.src = s.src
      JOIN {prev} r ON r.v = s.src
      CROSS JOIN nv
      GROUP BY s.dst, nv.n)"""


@query(
    "q150_covisit_pagerank",
    f"""
    WITH {_COVISIT_EDGES_SQL},
    sym AS (SELECT u1 AS src, u2 AS dst, shared_hours AS w FROM covisit_edges
            UNION ALL
            SELECT u2, u1, shared_hours FROM covisit_edges),
    ws AS (SELECT src, SUM(w) AS wsum FROM sym GROUP BY src),
    nv AS (SELECT COUNT(*) AS n FROM ws),
    r0 AS (SELECT src AS v, CAST(1.0 AS DOUBLE) / nv.n AS rank
           FROM ws CROSS JOIN nv),
    {_pagerank_iter_sql('r0', 'r1')},
    {_pagerank_iter_sql('r1', 'r2')},
    {_pagerank_iter_sql('r2', 'r3')}
    SELECT v AS user_id, ROUND(rank, 6) AS pagerank FROM r3
    """,
    tags=("events", "graph", "iterative", "pipeline"),
    bench=True,  # headline since r6: tracks the iterative graph-loop cost
)
def q150_covisit_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over q140's co-visitation graph (damping 0.85,
    3 power iterations, edge weight = shared hours) — the link-analysis
    centrality a pipeline uses to rank users/domains by graph influence
    (the same computation ranks domains in a crawl's hyperlink graph when
    curating a pretraining corpus).

    Engine/oracle parity: the graph is undirected (symmetrized edge list),
    so every vertex has outgoing weight and there are NO dangling nodes;
    the iteration count is fixed, both engines evaluate the identical
    expression tree per edge, and the final ranks are rounded to 6 decimals
    (the q50 cosine discipline — double-sum order noise is ~1e-16, far
    below the rounding grid).

    Scale shape (the q57/kmeans loop topology): per iteration = one
    edge-scan joined to the current rank vector (both partitioned by src —
    at scale, co-partition the edge list and rank vector on src so the
    per-iteration join is shuffle-free; proven in tests/test_plans.py::
    test_pagerank_iteration_edge_side_shuffle_free_when_bucketed, where a
    src-bucketed edge table plans ONE exchange per iteration — the
    inherent groupBy(dst) re-key — vs the plain layout's edge reshuffle)
    and one groupBy(dst) with map-side partial sums; the rank vector is
    O(|V|), never collected to the driver.
    Only the vertex COUNT (one scalar) ever leaves the cluster. Iterations
    here are unrolled 3 deep — at production depth, localCheckpoint per
    round exactly as operators/components.py does."""
    from ..tables import memo, memo_relation

    # materialize the symmetric edge list ONCE (the components.py posture):
    # every iteration joins it, and without this each of the 3 unrolled
    # rounds re-executes q140's whole window/self-join pipeline — measured
    # 108 exchanges in the initial plan vs 12 with the checkpoint. Memoized
    # per events fingerprint (the persisted-graph artifact a production
    # ranker reads, pre-partitioned on src at cluster scale); the PageRank
    # iterations + final ranks stay per-run work.
    def build_sym() -> DataFrame:
        edges = q140_covisitation_pairs(spark, sf_dir)
        return edges.select(
            F.col("u1").alias("src"), F.col("u2").alias("dst"),
            F.col("shared_hours").alias("w"),
        ).unionByName(
            edges.select(
                F.col("u2").alias("src"), F.col("u1").alias("dst"),
                F.col("shared_hours").alias("w"),
            )
        )

    sym = memo_relation(
        spark, sf_dir, "q150_covisit_sym", build_sym, source_table="events"
    )
    ws = sym.groupBy("src").agg(F.sum("w").alias("wsum"))
    n = memo(
        spark, sf_dir, "q150_covisit_nv", ws.count, source_table="events"
    )
    r = ws.select(F.col("src").alias("v"), F.lit(1.0 / n).alias("rank"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            sym.join(ws, "src")
            .join(r, F.col("src") == F.col("v"))
            .select("dst", (F.col("rank") * F.col("w") / F.col("wsum")).alias("c"))
        )
        r = (
            contrib.groupBy("dst")
            .agg(
                (F.lit(PAGERANK_JUMP / n) + F.lit(PAGERANK_D) * F.sum("c")).alias("rank")
            )
            .select(F.col("dst").alias("v"), "rank")
        )
    return r.select(F.col("v").alias("user_id"), F.round("rank", 6).alias("pagerank"))


# --- community detection over the co-visitation graph -------------------------
# Communities bond on a STRICTER tie than q140's edge rule (>= 3 shared hours
# vs >= 2): at the edge threshold the graph collapses into one giant
# component (2016 single-hour pairs at sf0.01 vs 24 triple-hour pairs), and
# a community assignment that puts everyone in one group carries no signal.
COMMUNITY_MIN_SHARED = 3


@query(
    "q151_covisit_communities",
    f"""
    WITH RECURSIVE {_COVISIT_EDGES_SQL},
    strong AS (SELECT u1, u2 FROM covisit_edges
               WHERE shared_hours >= {COMMUNITY_MIN_SHARED}),
    sym AS (SELECT u1 AS a, u2 AS b FROM strong
            UNION SELECT u2, u1 FROM strong),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    cc AS (SELECT a AS user_id, LEAST(a, MIN(b)) AS community_id
           FROM reach GROUP BY a)
    SELECT community_id,
           COUNT(*) AS n_users,
           MIN(user_id) AS min_user,
           MAX(user_id) AS max_user
    FROM cc GROUP BY community_id
    """,
    tags=("events", "graph", "components", "pipeline"),
)
def q151_covisit_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the co-visitation graph: connected components
    (community_id = smallest member) rolled up to per-community size and id
    range — the cohort structure behind coordinated-behavior audits and
    group-level sampling caps (cap a COMMUNITY's training contribution, not
    just a user's). q45's component machinery applied to the interaction
    graph instead of the near-dup graph.

    Scale shape: edges come from q140's capped window join, restricted to
    strong ties (>= COMMUNITY_MIN_SHARED shared hours — see the module
    constant for why); components run the O(log n)-round two-phase star
    contraction (operators/components.py) — bounded rounds on any graph
    shape, lineage-checkpointed; the oracle states the same fixpoint as a
    recursive-CTE transitive closure (viable at oracle scale only). The
    rollup is one small groupBy on community_id."""
    from ..operators.components import connected_components_twophase

    edges = q140_covisitation_pairs(spark, sf_dir).filter(
        F.col("shared_hours") >= COMMUNITY_MIN_SHARED
    )
    cc = connected_components_twophase(edges, src="u1", dst="u2")
    return (
        cc.groupBy(F.col("cluster_id").alias("community_id"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("v").alias("min_user"),
            F.max("v").alias("max_user"),
        )
    )


# --- integer-exact weighted sampling ------------------------------------------
WSAMPLE_K = 100  # expected sample size
WSAMPLE_M = 1 << 20  # hash grid (20 bits: K*w*M < 2^63 while w < 2^36 chars/doc)
WSAMPLE_MULT = 2654435761  # Knuth multiplicative constant (q38 discipline)


@query(
    "q152_weighted_sample",
    f"""
    WITH w AS (SELECT doc_id, source, n_chars AS wt,
                      ((doc_id % 2147483648) * {WSAMPLE_MULT}) % 4294967296
                        % {WSAMPLE_M} AS h
               FROM documents),
    tot AS (SELECT SUM(wt) AS wsum FROM w)
    SELECT doc_id, source, CAST(wt AS BIGINT) AS wt
    FROM w CROSS JOIN tot
    WHERE wt > 0 AND h <= ({WSAMPLE_K} * wt * {WSAMPLE_M} - 1) // wsum
    """,
    tags=("documents", "sampling", "pipeline"),
)
def q152_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted Bernoulli (Poisson) sample: each document is kept
    with inclusion probability ~ min(1, K * w / W) where w = n_chars and
    W = total corpus weight — the weight-proportional sampler a mixture
    builder uses when documents should be drawn by importance (length,
    quality, DSIR weight) instead of uniformly (q38). Expected sample size
    is WSAMPLE_K; the decision is the PURE-INTEGER comparison
    h <= (K*w*M - 1) div W (no doubles, no ln anywhere), so both engines
    keep bit-identical doc sets and the sample is reproducible across runs,
    engines, and partitionings — the q132 integer-exactness discipline.
    The division form is exactly h*W < K*w*M (for w >= 1, all operands
    non-negative: a*b < X iff a <= (X-1) div b) but keeps every
    intermediate bounded by the PER-DOC product K*w*M < 2^63 whenever a
    single document has < 2^36 chars — the corpus-total weight W appears
    only as a divisor, so a 100 TB-class corpus (W ~ 1e14) cannot overflow
    the predicate. w = 0 docs are excluded up front (their keep probability
    is 0; the guard also keeps the numerator K*w*M - 1 non-negative so
    truncating and flooring division agree across engines).

    Scale shape: one scan computes per-doc (w, h); the only global state is
    the scalar W (one map-side-combined SUM broadcast back via a scalar
    cross join); the keep decision is scan-side with zero additional
    shuffles. Weights here are integer n_chars; a real deployment plugs in
    any integer-scaled importance score (e.g. q130's DSIR weights scaled by
    1e6 and floored) without changing the shape."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").alias("wt"),
        (((F.col("doc_id") % 2147483648) * WSAMPLE_MULT) % 4294967296
         % WSAMPLE_M).alias("h"),
    )
    tot = docs.agg(F.sum("wt").alias("wsum"))
    return (
        docs.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("wt") > 0)
            & (
                F.col("h")
                <= F.expr(f"({WSAMPLE_K} * wt * {WSAMPLE_M} - 1) div wsum")
            )
        )
        .select("doc_id", "source", F.col("wt").cast("bigint").alias("wt"))
    )


# --- exponentially-weighted moving average per user ---------------------------
# alpha = 1/2 EXACTLY: every fold step is s = 0.5*v + 0.5*s_prev, both
# multiplications exact in binary doubles (only the addition rounds), and
# both engines fold the identical sequence in the identical order — so the
# result is bit-identical without any rounding discipline.


@query(
    "q163_user_ewma",
    """
    SELECT user_id,
           list_reduce(
             list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
             (acc, x) -> CAST('0.5' AS DOUBLE) * x + CAST('0.5' AS DOUBLE) * acc)
             AS ewma_value
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
    GROUP BY user_id
    """,
    tags=("events", "feature", "fold", "pipeline"),
)
def q163_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value
    (alpha = 1/2), seeded with the first event — the time-decayed activity
    feature a training pipeline derives per entity (recency-weighted spend,
    engagement, quality). The fold is Flink's KeyedStream.reduce shape
    (reference R1) with a non-commutative, ORDER-DEPENDENT merge — exactly
    what the q155 discipline handles: both engines fold the identical
    (ts, event_id)-ordered sequence, so results are bit-identical
    (multiplication by 0.5 is exact; only additions round, identically).

    Scale shape: one user-keyed shuffle; the per-user fold runs over a
    collect_list bounded by that user's event count (fine for entity
    histories; a pathologically hot key would use the q24-style running
    window form instead, trading one pass for incremental emission). NULL
    value/ts rows are excluded up front on both engines."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        .select("user_id", "ts", "event_id", F.col("value").cast("double").alias("v"))
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "v"))
            ).alias("arr")
        )
        .select(
            "user_id",
            F.expr(
                "aggregate(slice(arr, 2, size(arr) - 1), arr[0].v, "
                "(acc, x) -> 0.5D * x.v + 0.5D * acc)"
            ).alias("ewma_value"),
        )
    )


# --- point-in-time training features (leakage-free label/feature join) ----------
@query(
    "q176_pit_training_features",
    """
    WITH e AS (SELECT event_id, ts, user_id, event_type, value FROM events
               WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    f AS (SELECT *,
                 COUNT(*) FILTER (event_type = 'view') OVER w AS prior_views,
                 COUNT(*) FILTER (event_type = 'purchase') OVER w
                   AS prior_purchases,
                 CAST(SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(value AS DECIMAL(20,6)) END) OVER w
                      AS DOUBLE) AS prior_purchase_value,
                 MIN(ts) OVER w2 AS first_seen
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_id AS label_event_id, user_id, ts,
           prior_views, prior_purchases,
           COALESCE(prior_purchase_value, CAST('0' AS DOUBLE))
             AS prior_purchase_value,
           CAST(date_diff('second', first_seen, ts) AS BIGINT)
             AS account_age_s
    FROM f WHERE event_type = 'purchase'
    """,
    tags=("events", "window", "features", "pipeline"),
)
def q176_pit_training_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME training-set construction — the feature-store
    correctness problem: for every label event (a purchase), the user's
    behavioral features computed STRICTLY BEFORE the label (prior view and
    purchase counts, prior purchase value, account age), so the training
    set can never leak the label into its own features. The strictly-prior
    frame (ROWS ... AND 1 PRECEDING, ordered (ts, event_id) — the q163
    total-order discipline) is the declarative form of what a feature
    store's as-of join does; value sums go through the exact-decimal lift.

    Scale shape: ONE user-keyed shuffle feeds every window frame, the
    label filter then prunes to purchases — no self-join, no per-label
    scans; at 100 TB this is the standard snapshot job shape."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir).filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_view = F.when(F.col("event_type") == "view", 1)
    is_buy = F.when(F.col("event_type") == "purchase", 1)
    buy_val = F.when(
        F.col("event_type") == "purchase", F.col("value").cast("decimal(20,6)")
    )
    f = (
        e.withColumn("prior_views", F.count(is_view).over(w))
        .withColumn("prior_purchases", F.count(is_buy).over(w))
        .withColumn(
            "prior_purchase_value", F.sum(buy_val).over(w).cast("double")
        )
        .withColumn("first_seen", F.min("ts").over(w2))
    )
    return f.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("label_event_id"),
        "user_id",
        "ts",
        "prior_views",
        "prior_purchases",
        F.coalesce("prior_purchase_value", F.lit(0.0)).alias("prior_purchase_value"),
        (F.unix_timestamp("ts") - F.unix_timestamp("first_seen"))
        .cast("bigint")
        .alias("account_age_s"),
    )


# --- q236: SCD2 dimension build (effective-dated versions from an event log) --------
@query(
    "q236_scd2_user_dimension",
    """
    SELECT user_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version_n,
           ts AS effective_from,
           LEAD(ts) OVER w AS effective_to,
           value,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM events WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("events", "window", "temporal", "pipeline"),
)
def q236_scd2_user_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build from an append-only event log:
    each purchase opens a new effective-dated version of the user's value
    state — (effective_from, effective_to) interval columns with the open
    version flagged is_current — the warehouse dimension a point-in-time
    join consumes (q176/q26 read exactly this shape; this operator BUILDS
    it). Version order is (ts, event_id), so same-timestamp ties are
    deterministic in both engines; a closed version's effective_to equals
    its successor's effective_from (half-open intervals, the standard SCD2
    contract).

    Scale shape: one shuffle on user_id, then a single pass per user
    (ROW_NUMBER + LEAD share one window spec, one sort). At 100 TB the
    incremental form closes only the current versions of users present in
    the new batch — an equi-join on user_id against the open-version
    partition, never a dimension rebuild (q237 IS that form, gated to
    equal this rebuild exactly)."""
    return scd2_versions(
        _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    )


def scd2_versions(ev: DataFrame) -> DataFrame:
    """SCD2 versions over any (user_id, ts, event_id, value) event relation
    — q236's body, extracted so the incremental merge (q237) builds its
    frozen corpus dimension and its batch-side versions with the IDENTICAL
    law."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version_n"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        "value",
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# --- q237: incremental SCD2 merge (the MERGE INTO pattern, gated vs the rebuild) -----
SCD2_CUTOFF = "2024-01-25"  # corpus = events before, incoming batch = at/after


@query(
    "q237_scd2_incremental_merge",
    # the merged dimension must equal q236's full rebuild EXACTLY — the
    # incremental form's whole contract (valid because every batch event is
    # strictly later than every corpus event for the same user)
    """
    SELECT user_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version_n,
           ts AS effective_from,
           LEAD(ts) OVER w AS effective_to,
           value,
           LEAD(ts) OVER w IS NULL AS is_current
    FROM events WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("events", "window", "temporal", "incremental", "pipeline"),
)
def q237_scd2_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse MERGE INTO: an incoming purchase batch (ts >=
    {SCD2_CUTOFF}) folded into the FROZEN corpus dimension (q236's law over
    ts < {SCD2_CUTOFF}) — close each affected user's open version at the
    user's first batch timestamp, append the batch's versions numbered
    from the user's corpus max, pass every untouched row through. The
    oracle is q236's FULL REBUILD: hash equality proves the merge is exact,
    which holds because a time-cutoff batch is strictly later than the
    corpus for every user (the assumption real SCD2 merges rely on — late
    data breaks them, and this gate is the test that would catch it).

    Scale shape: the corpus dimension is the persisted artifact; the merge
    touches (a) the batch (window per user over batch rows only) and (b)
    the open-version slice of affected users (equi-join on user_id — with
    the dimension partitioned by is_current, the closed-version mass is
    never read). Cost is O(batch + affected open versions), not
    O(dimension) — the q212 frozen-artifact posture on the time axis."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    cutoff = F.to_timestamp(F.lit(SCD2_CUTOFF))
    corpus_dim = scd2_versions(ev.filter(F.col("ts") < cutoff))
    batch = ev.filter(F.col("ts") >= cutoff).select(
        "user_id", "ts", "event_id", "value"
    )
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NULL-SAFE merge keys: the rebuild's window PARTITION BY groups NULL
    # user_ids as ONE key in both engines, so the merge's joins must too —
    # a plain equi-join never matches NULL and would leave the NULL group's
    # corpus open version unclosed (caught by the nulls robustness sweep)
    base = corpus_dim.groupBy("user_id").agg(
        F.max("version_n").alias("base_ver")
    ).withColumnRenamed("user_id", "_bu")
    new_rows = (
        batch.withColumn("rn", F.row_number().over(wb))
        .withColumn("next_ts", F.lead("ts").over(wb))
        .join(base, F.col("user_id").eqNullSafe(F.col("_bu")), "left")
        .select(
            "user_id",
            (F.coalesce("base_ver", F.lit(0)) + F.col("rn"))
            .cast("bigint")
            .alias("version_n"),
            F.col("ts").alias("effective_from"),
            F.col("next_ts").alias("effective_to"),
            "value",
            F.col("next_ts").isNull().alias("is_current"),
        )
    )
    first_batch = batch.groupBy("user_id").agg(
        F.min("ts").alias("first_ts")
    ).withColumnRenamed("user_id", "_fu")
    closed = corpus_dim.join(
        first_batch, F.col("user_id").eqNullSafe(F.col("_fu")), "left"
    ).select(
        "user_id",
        "version_n",
        "effective_from",
        F.when(
            F.col("is_current") & F.col("first_ts").isNotNull(), F.col("first_ts")
        )
        .otherwise(F.col("effective_to"))
        .alias("effective_to"),
        "value",
        (F.col("is_current") & F.col("first_ts").isNull()).alias("is_current"),
    )
    return closed.unionByName(new_rows)


# --- q238: temporal (point-in-time) join against the SCD2 dimension ------------------
_SCD2_DIM_SQL = """
    SELECT user_id,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS version_n,
           ts AS effective_from,
           LEAD(ts) OVER w AS effective_to,
           value
    FROM events WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query(
    "q238_temporal_state_join",
    f"""
    WITH dim AS ({_SCD2_DIM_SQL}),
    views AS (SELECT user_id, ts, event_id AS view_id FROM events
              WHERE event_type = 'view')
    SELECT v.view_id, v.user_id, v.ts, d.version_n,
           d.value AS state_value
    FROM views v LEFT JOIN dim d
      ON v.user_id = d.user_id AND d.effective_from <= v.ts
         AND (d.effective_to IS NULL OR v.ts < d.effective_to)
    """,
    tags=("events", "join", "asof", "temporal", "pipeline"),
)
def q238_temporal_state_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's temporal table join, Spark-first: every view event enriched
    with the SCD2 dimension version (q236) in effect AT the view's event
    time — the point-in-time lookup a Flink user writes as `FOR SYSTEM_TIME
    AS OF` against a versioned table. The oracle states the contract as the
    half-open interval join (effective_from <= ts < effective_to, open
    version unbounded), which matches at most one version per event BY
    CONSTRUCTION since a user's versions partition the timeline.

    The engine runs it as the as-of carry (operators/asof.py — one shuffle,
    no interval blow-up): latest effective_from <= ts picks the covering
    version, after collapsing zero-length versions (two purchases at one
    timestamp) to their highest version_n, which is exactly the version
    covering that instant under the half-open contract. Views before the
    user's first purchase keep NULL state (left semantics).

    Scale shape: one shuffle each side on user_id, the union-window carry,
    zero interval-join fan-out. At 100 TB this is the enrichment pattern
    for any versioned dimension: facts never scan closed versions."""
    from ..operators.asof import as_of_join

    dim = temporal_dim(spark, sf_dir)
    views = _events(spark, sf_dir).filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    return as_of_join(
        views, dim, on=["user_id"], left_ts="ts", right_ts="effective_from"
    ).select("view_id", "user_id", "ts", "version_n", "state_value")


def temporal_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of-ready SCD2 dimension: q236's versions with zero-length
    versions (equal effective_from within a user) collapsed to the highest
    version_n — the relation both the batch temporal join (q238) and the
    streaming enrichment (q239) look up."""
    dim = scd2_versions(
        _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    )
    wd = Window.partitionBy("user_id", "effective_from").orderBy(
        F.desc("version_n")
    )
    return (
        dim.withColumn("__rn", F.row_number().over(wd))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id", "effective_from", "version_n",
            F.col("value").alias("state_value"),
        )
    )
