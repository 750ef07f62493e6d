"""Custom aggregates (UDAF shape): metrics Spark has no built-in for,
computed as Arrow-batched grouped-map pandas UDFs (applyInPandas).

Discipline for oracle parity: keep everything integer until ONE final
float expression, written token-for-token the same in the SQL twin —
per-group numpy work is exact int64 up to 2^53, so the only float ops
are the closing divisions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import col
from pyspark.sql.window import Window

GINI_SCHEMA = "event_type string, gini double, n_users bigint"


def user_activity_gini(events: DataFrame) -> DataFrame:
    """Per event_type: Gini coefficient of per-user event counts (0 =
    perfectly even usage, →1 = one user dominates) — the inequality
    audit an ingestion operator runs to spot abuse/bot traffic.

    Stage 1 is an ordinary distributed count; only the per-type count
    VECTOR (≤ users-per-type rows) reaches Python.  Formula (sorted
    x_1..x_n ascending): G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n."""
    counts = (events.groupBy("event_type", "user_id")
              .agg(F.count("*").alias("n")))

    def _gini(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.sort(pdf["n"].to_numpy().astype("int64"))
        n = len(x)
        s = int(np.sum(np.arange(1, n + 1, dtype="int64") * x))
        t = int(x.sum())
        g = (2.0 * s) / (n * t) - (n + 1.0) / n
        return pd.DataFrame({"event_type": [pdf["event_type"].iloc[0]],
                             "gini": [round(g, 4)],
                             "n_users": [n]})

    return counts.groupBy("event_type").applyInPandas(_gini, GINI_SCHEMA)


GINI_ORACLE = """
    WITH counts AS (
        SELECT event_type, user_id, count(*) AS n
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT event_type, n,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY n, user_id) AS i
        FROM counts
    )
    SELECT event_type,
           round((2.0 * sum(i * n)) / (count(*) * sum(n))
                 - (count(*) + 1.0) / count(*), 4) AS gini,
           count(*) AS n_users
    FROM ranked GROUP BY event_type
"""


def event_path_3step(events: DataFrame, k: int = 20) -> DataFrame:
    """Top-k ordered 3-step user journeys — the (e1 → e2 → e3)
    event-type sequences that occur most often across user timelines
    (funnel DISCOVERY, vs the fixed-funnel operators that verify a
    known path).  Sliding window over each user's ts-ordered stream:
    every consecutive triple counts once.

    Determinism: per-user order is (ts, event_id) — event_id breaks
    same-timestamp ties identically in both engines; top-k rank is
    (n desc, e1, e2, e3).

    Scale shape: one shuffle on user_id for the lead() window (the
    same partitioning every sessionize/funnel op reuses), then a
    map-side-combined count over a |types|³-bounded key space —
    result is tiny regardless of corpus size."""
    from pyspark.sql import Window
    from pyspark.sql.functions import col

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
    paths = (seq.where(col("e2").isNotNull() & col("e3").isNotNull())
             .groupBy("e1", "e2", "e3")
             .agg(F.count("*").alias("n")))
    # TakeOrderedAndProject over the rollup (uniform with the top-k
    # family): the rollup is |types|³-bounded, but orderBy+limit keeps
    # the single-task sort at k rows instead of the whole rollup, and
    # the rank window then sees only the k survivors.
    top = paths.orderBy(col("n").desc(), "e1", "e2", "e3").limit(k)
    wk = Window.orderBy(col("n").desc(), "e1", "e2", "e3")
    return (top.withColumn("rank", F.row_number().over(wk))
            .select("rank", "e1", "e2", "e3", "n"))


def oracle_event_path_3step(k: int = 20) -> str:
    """DuckDB twin of event_path_3step — identical (ts, event_id)
    per-user order and (n desc, path) rank."""
    return f"""
    WITH seq AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    paths AS (SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
              FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
              GROUP BY e1, e2, e3)
    SELECT rank, e1, e2, e3, n FROM (
        SELECT *, row_number() OVER (ORDER BY n DESC, e1, e2, e3)
                   AS rank
        FROM paths)
    WHERE rank <= {k}
    """


def weekly_churn(events: DataFrame) -> DataFrame:
    """Per-week churn: of the users active in week w (Monday-start),
    how many were NOT active in week w+1.  The retention-health
    counterpart of dau_wau_stickiness — an ingestion service's first
    cohort-free engagement alarm.  The last observed week is excluded
    (its w+1 is unobservable).

    Scale shape: one distinct over (user, week) — the same shuffle key
    the activity rollups use — then a LEFT ANTI self-join on
    (user, week+7d), co-partitioned with the distinct (no extra
    shuffle under AQE), and two week-sized aggregates.  Rate is one
    bigint/bigint double division, rounded at 6dp."""
    from pyspark.sql.functions import col

    active = (events.select(
        "user_id",
        F.date_trunc("week", col("ts")).cast("date").alias("wk"))
        .distinct())
    nxt = active.select("user_id", F.date_sub(col("wk"), 7).alias("wk"))
    churned = active.join(nxt, ["user_id", "wk"], "left_anti")
    act = active.groupBy("wk").agg(F.count("*").alias("n_active"))
    chc = churned.groupBy("wk").agg(F.count("*").alias("n_churned"))
    maxwk = active.agg(F.max("wk").alias("mx"))
    return (act.join(chc, "wk", "left")
            .crossJoin(F.broadcast(maxwk))
            .where(col("wk") < col("mx"))
            .select(col("wk").alias("week_start"),
                    "n_active",
                    F.coalesce(col("n_churned"), F.lit(0))
                    .cast("bigint").alias("n_churned"),
                    F.round(F.coalesce(col("n_churned"), F.lit(0))
                            / col("n_active"), 6).alias("churn_rate")))


WEEKLY_CHURN_ORACLE = """
    WITH a AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('week', ts) AS DATE) AS wk
               FROM events),
    ch AS (SELECT a.user_id, a.wk
           FROM a LEFT JOIN a n
             ON n.user_id = a.user_id AND n.wk = a.wk + 7
           WHERE n.user_id IS NULL),
    act AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_active
            FROM a GROUP BY wk),
    chc AS (SELECT wk, CAST(count(*) AS BIGINT) AS n_churned
            FROM ch GROUP BY wk)
    SELECT act.wk AS week_start, n_active,
           CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned,
           round(coalesce(n_churned, 0) / n_active, 6) AS churn_rate
    FROM act LEFT JOIN chc ON act.wk = chc.wk
    WHERE act.wk < (SELECT max(wk) FROM a)
"""


def user_streak_histogram(events: DataFrame) -> DataFrame:
    """Histogram of each user's LONGEST consecutive-active-week streak
    (Monday-start weeks): (streak_weeks, n_users).  The habit-strength
    counterpart of weekly_churn — churn says how many leave each week,
    this says how sticky the attached ones are, the first input to a
    retention-curve model.

    Gaps-and-islands, fully distributed: one distinct over
    (user, week), a per-USER window (datediff-minus-7·row_number
    constant within a run of consecutive weeks — exact integer
    arithmetic, no float), then three map-side-combined aggregates
    stepping down user×island → user → |streak-lengths| rows.  Every
    window is partitioned by user_id; nothing global ever sorts."""
    from pyspark.sql.functions import col

    active = (events.select(
        "user_id",
        F.date_trunc("week", col("ts")).cast("date").alias("wk"))
        .distinct())
    # 1970-01-05 is a Monday: datediff is an exact multiple of 7 for
    # Monday-start weeks, so consecutive weeks differ by exactly 7.
    w = Window.partitionBy("user_id").orderBy("wk")
    grp = (F.datediff(col("wk"), F.lit("1970-01-05"))
           - 7 * F.row_number().over(w))
    streaks = (active.withColumn("_g", grp)
               .groupBy("user_id", "_g")
               .agg(F.count("*").alias("_len")))
    longest = streaks.groupBy("user_id").agg(
        F.max("_len").alias("streak_weeks"))
    return (longest.groupBy("streak_weeks")
            .agg(F.count("*").cast("bigint").alias("n_users")))


USER_STREAK_HISTOGRAM_ORACLE = """
    WITH a AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('week', ts) AS DATE) AS wk
               FROM events),
    g AS (SELECT user_id, wk,
                 date_diff('day', DATE '1970-01-05', wk)
                 - 7 * CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY wk) AS BIGINT)
                 AS grp
          FROM a),
    s AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len
          FROM g GROUP BY user_id, grp),
    l AS (SELECT user_id, max(len) AS streak_weeks
          FROM s GROUP BY user_id)
    SELECT streak_weeks, CAST(count(*) AS BIGINT) AS n_users
    FROM l GROUP BY streak_weeks
"""


def power_user_concentration(events: DataFrame) -> DataFrame:
    """One-row Pareto audit: the share of ALL events contributed by
    the top 1% / 5% / 10% of users by event count — the concentration
    alarm an ingestion service reads next to user_activity_gini (gini
    summarizes the whole curve; this prices the head, where abuse and
    bot traffic live).

    Centile membership is EXACT SQL ntile(100) over (count desc,
    user_id) — computed distributed via ranking.global_ntile (range
    repartition + per-partition row_number + broadcast offsets), never
    a single-task global sort.  All counts are exact BIGINTs; the
    three shares are final bigint/bigint divisions rounded at 6dp."""
    from data_ingestion_challenge_spark.operators.ranking import (
        global_ntile,
    )

    per_user = (events.groupBy("user_id")
                .agg(F.count("*").alias("c")))
    b = global_ntile(per_user, 100,
                     [F.col("c").desc(), F.col("user_id")],
                     out="bucket")
    return (b.agg(
        F.count("*").alias("n_users"),
        F.sum("c").alias("total_events"),
        F.sum(F.when(F.col("bucket") <= 1, F.col("c"))
              .otherwise(0)).alias("_t1"),
        F.sum(F.when(F.col("bucket") <= 5, F.col("c"))
              .otherwise(0)).alias("_t5"),
        F.sum(F.when(F.col("bucket") <= 10, F.col("c"))
              .otherwise(0)).alias("_t10"))
        .select("n_users", "total_events",
                F.round(F.col("_t1") / F.col("total_events"), 6)
                .alias("share_top1"),
                F.round(F.col("_t5") / F.col("total_events"), 6)
                .alias("share_top5"),
                F.round(F.col("_t10") / F.col("total_events"), 6)
                .alias("share_top10")))


POWER_USER_CONCENTRATION_ORACLE = """
    WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY user_id),
    b AS (SELECT c, ntile(100) OVER (ORDER BY c DESC, user_id)
                 AS bucket
          FROM c)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(c) AS BIGINT) AS total_events,
           round(CAST(sum(CASE WHEN bucket <= 1 THEN c ELSE 0 END)
                      AS BIGINT) / CAST(sum(c) AS BIGINT), 6)
               AS share_top1,
           round(CAST(sum(CASE WHEN bucket <= 5 THEN c ELSE 0 END)
                      AS BIGINT) / CAST(sum(c) AS BIGINT), 6)
               AS share_top5,
           round(CAST(sum(CASE WHEN bucket <= 10 THEN c ELSE 0 END)
                      AS BIGINT) / CAST(sum(c) AS BIGINT), 6)
               AS share_top10
    FROM b
"""


def hourly_anomaly_mad(events: DataFrame) -> DataFrame:
    """Robust volume-anomaly monitor: per (event_type, hour) count
    flagged when |n − median| > 3·MAD of the type's own hourly
    distribution — the median/MAD twin of hourly_anomaly_zscore,
    immune to the anomalies themselves inflating the threshold (one
    flood hour shifts a mean and stddev; it barely moves a median).

    Exact parity: Spark ``percentile`` == DuckDB ``quantile_cont``
    (the hourly_value_p95 pairing); counts are integers so median and
    MAD land on exact .0/.5 doubles and the 3·MAD comparison has no
    rounding boundary.  robust_z is NULL when MAD = 0 (a perfectly
    regular type), via the same nullif in both engines.

    Scale shape: the groupBy collapses the stream to |types|×|hours|
    rows map-side; the median and MAD are two tiny per-type
    aggregates over that rollup, broadcast back — the monitor costs
    one corpus scan regardless of history length."""
    h = (events.groupBy(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg(F.count("*").alias("n")))
    return mad_score_hourly(h)


def mad_score_hourly(h: DataFrame) -> DataFrame:
    """MAD-score a prebuilt (event_type, hour_ts, n) rollup — split
    out so the monitor can read a CONTINUOUSLY MAINTAINED rollup
    (streaming/incremental.run_incremental_rollup) instead of
    re-scanning event history per evaluation; hourly_anomaly_mad is
    this over the one-shot batch rollup."""
    med = (h.groupBy("event_type")
           .agg(F.percentile("n", F.lit(0.5)).alias("med")))
    hm = h.join(F.broadcast(med), "event_type")
    mad = (hm.groupBy("event_type")
           .agg(F.percentile(F.abs(F.col("n") - F.col("med")),
                             F.lit(0.5)).alias("mad")))
    dev = F.abs(F.col("n") - F.col("med"))
    return (hm.join(F.broadcast(mad), "event_type")
            .select(
                "event_type", "hour_ts", "n",
                F.round("med", 4).alias("med"),
                F.round("mad", 4).alias("mad"),
                F.round((F.col("n") - F.col("med"))
                        / F.nullif(F.col("mad"), F.lit(0)), 4)
                .alias("robust_z"),
                F.when(dev > 3 * F.col("mad"), 1).otherwise(0)
                .alias("is_anomaly")))


HOURLY_ANOMALY_MAD_ORACLE = """
    WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hour_ts,
                      CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY 1, 2),
    med AS (SELECT event_type, quantile_cont(n, 0.5) AS med
            FROM h GROUP BY event_type),
    mad AS (SELECT h.event_type,
                   quantile_cont(abs(h.n - med.med), 0.5) AS mad
            FROM h JOIN med USING (event_type)
            GROUP BY h.event_type)
    SELECT h.event_type, h.hour_ts, h.n,
           round(med.med, 4) AS med,
           round(mad.mad, 4) AS mad,
           round((h.n - med.med) / nullif(mad.mad, 0), 4)
               AS robust_z,
           CASE WHEN abs(h.n - med.med) > 3 * mad.mad
                THEN 1 ELSE 0 END AS is_anomaly
    FROM h JOIN med USING (event_type) JOIN mad USING (event_type)
"""


def user_event_type_entropy(events: DataFrame) -> DataFrame:
    """Per-user Shannon entropy (bits) of the user's event-type
    distribution — behavioral diversity: 0 = single-type automation
    (a classic bot smell next to bot_burst_flag's rate signal), high
    = organic mixed usage.

    Parity discipline: counts are exact BIGINTs; each entropy term
    (c/n)·log2(n/c) rounds to 1e-9 and sums as DECIMAL(30,9) (the
    repo's exact-sum pattern — summation-order independent), final
    value rounds at 6dp.  Scale shape: one map-side-combined groupBy
    (user, type) — bounded |types| fan-in per user — then one groupBy
    user; linear, no windows, no joins."""
    ct = (events.groupBy("user_id", "event_type")
          .agg(F.count("*").cast("bigint").alias("c")))
    n = Window.partitionBy("user_id")
    # |types| rows per user: the window shuffle key equals the
    # groupBy key, so this stays one exchange end-to-end.
    ct = ct.withColumn("n", F.sum("c").over(n)) \
           .withColumn("k", F.count("*").over(n))
    term = F.round(
        (F.col("c") / F.col("n"))
        * F.log2(F.col("n") / F.col("c")), 9).cast("decimal(30,9)")
    return (ct.groupBy("user_id", "n", "k")
            .agg(F.sum(term).alias("_h"))
            .select("user_id",
                    F.col("n").alias("n_events"),
                    F.col("k").cast("bigint").alias("n_types"),
                    F.round(F.col("_h").cast("double"), 6)
                    .alias("entropy_bits")))


USER_EVENT_TYPE_ENTROPY_ORACLE = """
    WITH ct AS (SELECT user_id, event_type,
                       CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY user_id, event_type),
    u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS k
          FROM ct GROUP BY user_id)
    SELECT u.user_id, u.n AS n_events, u.k AS n_types,
           round(CAST(sum(CAST(round((ct.c / u.n)
                                     * log2(u.n / ct.c), 9)
                               AS DECIMAL(30,9))) AS DOUBLE), 6)
               AS entropy_bits
    FROM ct JOIN u USING (user_id)
    GROUP BY u.user_id, u.n, u.k
"""


def monthly_order_growth(orders: DataFrame) -> DataFrame:
    """Per-month order volume, revenue, and month-over-month growth —
    the seasonality/trend table a demand forecast starts from (the
    §2B counterpart of the events-side rolling_7d_dau).

    Parity discipline: revenue follows the q1 msum pattern (cast to
    DECIMAL(30,6), exact sum, round 2, back to double) so the sum is
    partition-order independent; rev_growth divides two such
    IDENTICAL rounded doubles in both engines, rounded at 6dp, NULL
    for the first month via the lag.

    Scale shape: one map-side-combined groupBy to |months| rows; the
    lag window runs over that tiny rollup only (a century of months
    is 1200 rows)."""
    m = (orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date").alias("month"))
        .agg(F.count("*").alias("n_orders"),
             F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
             .alias("_rev")))
    m = m.select("month", "n_orders",
                 F.round(F.col("_rev"), 2).cast("double")
                 .alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month", "n_orders", "revenue",
        F.round((F.col("revenue") - prev) / prev, 6)
        .alias("rev_growth"))


MONTHLY_ORDER_GROWTH_ORACLE = """
    WITH m AS (SELECT CAST(date_trunc('month', o_orderdate)
                           AS DATE) AS month,
                      CAST(count(*) AS BIGINT) AS n_orders,
                      CAST(round(sum(CAST(o_totalprice
                                          AS DECIMAL(30,6))), 2)
                           AS DOUBLE) AS revenue
               FROM orders GROUP BY 1)
    SELECT month, n_orders, revenue,
           round((revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 6)
               AS rev_growth
    FROM m
"""


def customer_value_deciles(customer: DataFrame,
                           orders: DataFrame) -> DataFrame:
    """Customer-value decile table: every customer's lifetime order
    value (customers with no orders count at 0), cut into exact
    ntile(10) deciles by (value asc, custkey) via the DISTRIBUTED
    global_ntile — per decile: customer count, value bounds, mean,
    and share of total value.  The relational twin of the events-side
    RFM segmentation: a revenue-concentration readout (decile 10's
    share vs decile 1's) computed without any single-task global
    sort.  Totals are DECIMAL sums (exact); the two divisions round
    at 6dp as the final step."""
    from data_ingestion_challenge_spark.operators.ranking import (
        global_ntile,
    )

    val = (customer.select("c_custkey")
           .join(orders.select("o_custkey", "o_totalprice"),
                 col("c_custkey") == col("o_custkey"), "left")
           .groupBy("c_custkey")
           .agg(F.coalesce(
               F.sum(col("o_totalprice").cast("decimal(18,2)")),
               F.lit(0).cast("decimal(28,2)")).alias("v")))
    b = global_ntile(val, 10, [col("v"), col("c_custkey")],
                     out="decile")
    tot = b.agg(F.sum("v").alias("_t"))
    # Exact DECIMAL sums on both engines, then ONE double divide
    # (IEEE-identical) — DuckDB performs decimal division in DOUBLE,
    # so a decimal-division 'exact' path cannot hash-match anyway.
    return (b.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.min("v").cast("double").alias("min_value"),
        F.max("v").cast("double").alias("max_value"),
        F.sum("v").alias("_s"))
        .crossJoin(F.broadcast(tot))
        .select("decile", "n_customers", "min_value", "max_value",
                F.round(col("_s").cast("double")
                        / col("n_customers"), 4).alias("avg_value"),
                F.round(col("_s").cast("double")
                        / col("_t").cast("double"), 6)
                .alias("value_share")))


CUSTOMER_VALUE_DECILES_ORACLE = """
    WITH v AS (SELECT c.c_custkey,
                      CAST(coalesce(sum(o.o_totalprice), 0)
                           AS DECIMAL(28,2)) AS v
               FROM customer c LEFT JOIN orders o
                 ON o.o_custkey = c.c_custkey
               GROUP BY c.c_custkey),
    b AS (SELECT v, ntile(10) OVER (ORDER BY v, c_custkey) AS decile
          FROM v),
    t AS (SELECT sum(v) AS t FROM b)
    SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(min(v) AS DOUBLE) AS min_value,
           CAST(max(v) AS DOUBLE) AS max_value,
           round(CAST(sum(v) AS DOUBLE) / count(*), 4) AS avg_value,
           round(CAST(sum(v) AS DOUBLE)
                 / (SELECT CAST(t AS DOUBLE) FROM t), 6)
               AS value_share
    FROM b GROUP BY decile
"""


def hourly_seasonal_baseline(events: DataFrame) -> DataFrame:
    """Seasonal-naive forecast audit: predict each (event_type, hour)
    volume with the mean count of the SAME hour-of-week for that type
    (the baseline every real anomaly detector must beat), and report
    per-type MAE and the hour count — the ops readout that says how
    predictable each stream is before anyone ships a fancier model.
    Exactness: counts are BIGINTs; the hour-of-week mean and the
    absolute errors are DECIMAL-exact (count sums over a DECIMAL
    divide per group), rounded at 4dp only in the final projection —
    a float mean re-summed in a different order must not flip the
    MAE hash between engines."""
    hourly = (events
              .groupBy("event_type",
                       F.date_trunc("hour", col("ts")).alias("h"))
              .agg(F.count("*").cast("long").alias("n")))
    how = (F.dayofweek(col("h")) * 100 + F.hour(col("h"))).alias("how")
    per_how = (hourly.select("event_type", how, "n")
               .groupBy("event_type", "how")
               .agg(F.sum("n").alias("_s"),
                    F.count("*").cast("long").alias("_c")))
    joined = (hourly.select("event_type", how, "n")
              .join(per_how, ["event_type", "how"]))
    # base (hour-of-week mean) and the MAE both reduce to integer
    # sums divided ONCE in double: |n - s/c| = |n*c - s| / c, so the
    # per-row error is an exact integer ratio — summed as an exact
    # DECIMAL of fixed scale, then one final double divide.  Both
    # engines therefore round the SAME real number at 4dp.
    err = (F.abs(col("n") * col("_c") - col("_s"))
           .cast("decimal(28,9)") / col("_c"))
    return (joined.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.round((F.sum(err.cast("decimal(28,9)")).cast("double")
                 / F.count("*")), 4).alias("mae")))


HOURLY_SEASONAL_BASELINE_ORACLE = """
    WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
                           CAST(count(*) AS BIGINT) AS n
                    FROM events GROUP BY event_type,
                                         date_trunc('hour', ts)),
    keyed AS (SELECT event_type,
                     (dayofweek(h) + 1) * 100 + hour(h) AS how, n
              FROM hourly),
    base AS (SELECT event_type, how, CAST(sum(n) AS BIGINT) AS s,
                    CAST(count(*) AS BIGINT) AS c
             FROM keyed GROUP BY event_type, how)
    SELECT k.event_type, CAST(count(*) AS BIGINT) AS n_hours,
           round(CAST(sum(CAST(CAST(abs(k.n * b.c - b.s)
                                    AS DECIMAL(28,9)) / b.c
                               AS DECIMAL(28,9))) AS DOUBLE)
                 / count(*), 4) AS mae
    FROM keyed k JOIN base b
      ON b.event_type = k.event_type AND b.how = k.how
    GROUP BY k.event_type
"""


def ship_lag_by_priority(orders: DataFrame,
                         lineitem: DataFrame) -> DataFrame:
    """Per-priority fulfillment-lag profile: (o_orderpriority,
    n_lines, avg_lag_days, max_lag_days) where lag = days from order
    date to line ship date — the SLA table behind TPC-H Q4's
    late-line flavor, rolled up per priority class.

    Parity discipline: lags are exact integer day diffs (both
    engines datediff on DATE casts); the average is ONE double
    divide of an exact BIGINT sum, rounded 6dp.

    Scale shape: fact⋈fact equi-join on the order key (both sides
    shuffle on it — at 100 TB this is the bucketed-layout join the
    sources/files writers co-locate), then one map-side-combined
    groupBy to 5 rows."""
    j = lineitem.select("l_orderkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderpriority",
                      "o_orderdate"),
        col("l_orderkey") == col("o_orderkey"))
    lag = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    return (j.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_lines"),
                 F.round(F.sum(lag).cast("double") / F.count("*"), 6)
                 .alias("avg_lag_days"),
                 F.max(lag).cast("int").alias("max_lag_days")))


SHIP_LAG_BY_PRIORITY_ORACLE = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(CAST(sum(date_diff('day', CAST(o_orderdate AS DATE),
                                    CAST(l_shipdate AS DATE)))
                      AS DOUBLE) / count(*), 6) AS avg_lag_days,
           CAST(max(date_diff('day', CAST(o_orderdate AS DATE),
                              CAST(l_shipdate AS DATE))) AS INT)
               AS max_lag_days
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
"""


def returning_user_ratio_daily(events: DataFrame) -> DataFrame:
    """Growth accounting per day: (day, n_active, n_returning,
    returning_ratio) — each day's active users split into NEW (first
    ever seen that day) vs RETURNING (first seen earlier).  The
    companion of signup_cohort_retention read the other way round:
    retention slices a cohort forward, this slices each day
    backward.

    Exact integers; the ratio is one double divide rounded 6dp
    (n_active ≥ 1 by construction, never NULL).

    Scale shape: one groupBy(user) for first-seen days (user-sized,
    map-side combined), one distinct (day, user) projection, an
    equi-join on user_id, and a groupBy(day) to |days| rows —
    linear, no windows over unbounded rows."""
    fd = (events.groupBy("user_id")
          .agg(F.min(F.to_date("ts")).alias("_first_day")))
    act = (events.select(F.to_date("ts").alias("day"), "user_id")
           .distinct())
    return (act.join(fd, "user_id")
            .groupBy("day")
            .agg(F.count("*").alias("n_active"),
                 F.sum((col("_first_day") < col("day")).cast("long"))
                 .alias("n_returning"))
            .withColumn("returning_ratio",
                        F.round(col("n_returning")
                                / col("n_active"), 6)))


RETURNING_USER_RATIO_ORACLE = """
    WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
                FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events)
    SELECT day, CAST(count(*) AS BIGINT) AS n_active,
           CAST(sum(CASE WHEN fd.first_day < act.day
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_returning,
           round(sum(CASE WHEN fd.first_day < act.day
                          THEN 1 ELSE 0 END) / count(*), 6)
               AS returning_ratio
    FROM act JOIN fd USING (user_id)
    GROUP BY day
"""


# --------------------------------------------- order cadence (r14 pool)


def customer_order_gap_weeks(orders: DataFrame) -> DataFrame:
    """Customer purchase-cadence histogram: the gap between each pair
    of CONSECUTIVE orders of one customer, bucketed by week — the
    repeat-purchase rhythm table (reorder campaigns key off the modal
    gap; a fat tail at high gaps is churn risk).

    Parity discipline: gaps are exact integer day diffs on DATE-cast
    order dates; equal-date ties leave the gap multiset invariant
    (consecutive differences of a sorted multiset), and the order-key
    tiebreak pins the sequence anyway.  Scale shape: ONE c_custkey
    shuffle for the lag window (per-customer sequences are short),
    then a map-side-combined groupBy onto ≤ a few hundred bucket
    rows."""
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").cast("date"), "o_orderkey"))
    prev = F.lag(F.col("o_orderdate").cast("date")).over(w)
    gaps = (orders
            .select("o_custkey", "o_orderdate", "o_orderkey")
            .withColumn("_gap",
                        F.datediff(F.col("o_orderdate").cast("date"),
                                   prev))
            .where(F.col("_gap").isNotNull()))
    return (gaps.groupBy(
        (F.col("_gap").cast("long") / 7).cast("long")
        .alias("gap_weeks"))
        .agg(F.count("*").alias("n_gaps")))


CUSTOMER_ORDER_GAP_WEEKS_ORACLE = """
    WITH g AS (SELECT datediff('day',
                    lag(CAST(o_orderdate AS DATE)) OVER (
                        PARTITION BY o_custkey
                        ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
                    CAST(o_orderdate AS DATE)) AS gap
               FROM orders)
    SELECT CAST(gap // 7 AS BIGINT) AS gap_weeks,
           CAST(count(*) AS BIGINT) AS n_gaps
    FROM g WHERE gap IS NOT NULL
    GROUP BY 1
"""


# ------------------------------------------ engagement regularity (r14)


def user_weekly_regularity(events: DataFrame) -> DataFrame:
    """Engagement-regularity histogram: per user, the share of weeks
    ACTIVE among the weeks spanned by their first→last event, cut
    into integer deciles — the retention-shape readout (a spike at
    decile 10 is metronome users; mass at 1-2 is drive-by traffic
    with a long dormant span).

    Exact integer arithmetic end to end: active weeks is a distinct
    count, the spanned count is datediff/7 + 1 on Monday-truncated
    week DATEs (ISO weeks in BOTH engines), and the decile is integer
    `div` — no float crosses an engine boundary.  Scale shape: one
    map-side-combined distinct over (user, week), one groupBy(user),
    one tiny groupBy(decile)."""
    uw = (events.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("wk"))
        .distinct())
    per_user = (uw.groupBy("user_id")
                .agg(F.count("*").alias("active"),
                     F.min("wk").alias("first_wk"),
                     F.max("wk").alias("last_wk"))
                .withColumn(
                    "span",
                    (F.datediff("last_wk", "first_wk") / 7)
                    .cast("long") + 1))
    return (per_user
            .withColumn("regularity_decile",
                        F.expr("least((10 * active) div span, 10)")
                        .cast("int"))
            .groupBy("regularity_decile")
            .agg(F.count("*").alias("n_users")))


USER_WEEKLY_REGULARITY_ORACLE = """
    WITH uw AS (SELECT DISTINCT user_id,
                       CAST(date_trunc('week', ts) AS DATE) AS wk
                FROM events),
    pu AS (SELECT user_id, count(*) AS active,
                  datediff('day', min(wk), max(wk)) // 7 + 1 AS span
           FROM uw GROUP BY user_id)
    SELECT CAST(least((10 * active) // span, 10) AS INT)
               AS regularity_decile,
           CAST(count(*) AS BIGINT) AS n_users
    FROM pu GROUP BY 1
"""


# ---------------------------------------------- pricing rollups (r14)


def discount_band_revenue(lineitem: DataFrame) -> DataFrame:
    """Revenue and volume by integer discount band (percent) — the
    promo-effectiveness rollup behind q14/q19's point predicates: is
    the discounted revenue share worth the margin?  One
    map-side-combined groupBy to ≤ ~101 band rows; revenue and
    quantity ride the q1 msum discipline (exact DECIMAL sums →
    round → double, partition-order independent)."""
    band = F.round(col("l_discount") * 100, 0).cast("int")
    rev = (col("l_extendedprice").cast("decimal(30,6)")
           * (F.lit(1).cast("decimal(30,6)")
              - col("l_discount").cast("decimal(30,6)")))
    return (lineitem.groupBy(band.alias("discount_pct"))
            .agg(F.count("*").alias("n_lines"),
                 F.round(F.sum(rev), 2).cast("double").alias("revenue"),
                 F.round(F.sum(col("l_quantity")
                               .cast("decimal(30,6)")), 2)
                 .cast("double").alias("sum_qty")))


DISCOUNT_BAND_REVENUE_ORACLE = """
    SELECT CAST(round(l_discount * 100, 0) AS INT) AS discount_pct,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,6))
                          * (CAST(1 AS DECIMAL(30,6))
                             - CAST(l_discount AS DECIMAL(30,6)))), 2)
                AS DOUBLE) AS revenue,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(30,6))), 2)
                AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY 1
"""


def mktsegment_order_stats(customer: DataFrame,
                           orders: DataFrame) -> DataFrame:
    """Per-market-segment demand rollup: customers (including the
    order-less), orders, exact-msum revenue, and orders-per-customer
    — the segment dimension q3 filters on, surfaced as its own
    planning table.  LEFT join so empty segments keep their customer
    denominators; one join shuffle collapsing map-side into
    |segments| rows."""
    j = (customer.select("c_custkey", "c_mktsegment")
         .join(orders.select("o_custkey", "o_orderkey", "o_totalprice"),
               col("c_custkey") == col("o_custkey"), "left"))
    return (j.groupBy("c_mktsegment")
            .agg(F.countDistinct("c_custkey").alias("n_customers"),
                 F.count("o_orderkey").alias("n_orders"),
                 F.round(F.sum(col("o_totalprice")
                               .cast("decimal(30,6)")), 2)
                 .cast("double").alias("revenue"))
            .withColumn("orders_per_customer",
                        F.round(col("n_orders") / col("n_customers"),
                                6)))


MKTSEGMENT_ORDER_STATS_ORACLE = """
    SELECT c_mktsegment,
           CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_customers,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2)
                AS DOUBLE) AS revenue,
           round(count(o_orderkey) / count(DISTINCT c_custkey), 6)
               AS orders_per_customer
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_mktsegment
"""


# ---------------------------------------------- session SLA (r15 pool)


def session_duration_percentiles(events: DataFrame,
                                 gap_min: int = 30) -> DataFrame:
    """One-row session-duration SLA table: exact interpolated
    p50/p90/p99 of the 30-min-gap sessionizer's durations plus the
    session count — the engagement-depth readout next to
    session_stats' per-user rollup.  Durations are integral
    MICROSECONDS end to end (percentiles of bigints land on exact
    .0/.5 doubles in both engines — the hourly_value_p95 discipline);
    the seconds conversion is one double divide rounded 6dp.  Scale
    shape: the sessionizer's single user_id shuffle, then a global
    percentile over |sessions| longs."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_min * 60 * 1000000
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_micros(col("ts"))
           - F.unix_micros(F.lag("ts").over(w)) > gap_us),
        1).otherwise(0)
    sess = (events.select("user_id", "ts", "event_id")
            .withColumn("_new", new_sess)
            .withColumn("_seq", F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0))))
    dur = (sess.groupBy("user_id", "_seq")
           .agg((F.unix_micros(F.max("ts"))
                 - F.unix_micros(F.min("ts"))).alias("_us")))

    def _p(q):
        return F.round(F.percentile("_us", F.lit(q)) / 1000000.0, 6)

    return dur.agg(F.count("*").alias("n_sessions"),
                   _p(0.5).alias("p50_s"),
                   _p(0.9).alias("p90_s"),
                   _p(0.99).alias("p99_s"))


SESSION_DURATION_PCTL_ORACLE = """
    WITH seq AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 30 * 60 * 1000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS seq
        FROM seq
    ), dur AS (
        SELECT epoch_us(max(ts)) - epoch_us(min(ts)) AS us
        FROM sess GROUP BY user_id, seq
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           round(quantile_cont(us, 0.5) / 1000000.0, 6) AS p50_s,
           round(quantile_cont(us, 0.9) / 1000000.0, 6) AS p90_s,
           round(quantile_cont(us, 0.99) / 1000000.0, 6) AS p99_s
    FROM dur
"""


# ------------------------------------- priority seasonality (r15 pool)


def order_priority_share_by_month(orders: DataFrame) -> DataFrame:
    """Month × priority order-mix matrix with each cell's share of
    its month — does the urgent-order mix drift seasonally?  One
    map-side-combined groupBy to |months|·|priorities| rows; the
    month-total window runs over that tiny rollup; the share is one
    exact-integer double divide rounded 6dp."""
    m = (orders.groupBy(
        F.date_trunc("month", col("o_orderdate")).cast("date")
        .alias("month"),
        col("o_orderpriority").alias("priority"))
        .agg(F.count("*").alias("n_orders")))
    w = Window.partitionBy("month")
    return m.withColumn(
        "month_share",
        F.round(col("n_orders") / F.sum("n_orders").over(w), 6))


ORDER_PRIORITY_SHARE_ORACLE = """
    WITH m AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
                          AS month,
                      o_orderpriority AS priority,
                      CAST(count(*) AS BIGINT) AS n_orders
               FROM orders GROUP BY 1, 2)
    SELECT month, priority, n_orders,
           round(n_orders / sum(n_orders)
                 OVER (PARTITION BY month), 6) AS month_share
    FROM m
"""


# ------------------------------------------ traffic heatmap (r15 pool)


def value_dow_hour_heatmap(events: DataFrame) -> DataFrame:
    """(day-of-week × hour) traffic/value heatmap — the load-shape
    table capacity planning and anomaly baselines read.  dow is
    Monday=0 in BOTH engines (Spark weekday() ≡ DuckDB isodow−1 —
    dayofweek() disagrees between them and is avoided); value rides
    exact integer micros.  One map-side-combined groupBy to ≤168
    rows."""
    return (events.groupBy(
        F.weekday(col("ts")).alias("dow"),
        F.hour(col("ts")).alias("hour"))
        .agg(F.count("*").alias("n_events"),
             F.sum(F.round(col("value") * 1000000).cast("bigint"))
             .alias("value_sum_micros")))


VALUE_DOW_HOUR_HEATMAP_ORACLE = """
    SELECT CAST(isodow(ts) - 1 AS INT) AS dow,
           CAST(hour(ts) AS INT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT))
                AS BIGINT) AS value_sum_micros
    FROM events GROUP BY 1, 2
"""


# -------------------------------------- supplier geography (r15 pool)


def supplier_balance_by_region(supplier: DataFrame, nation: DataFrame,
                               region: DataFrame) -> DataFrame:
    """Per-region supplier roster health: counts, exact-decimal mean
    account balance, and the in-debt share — the procurement-risk
    rollup behind q5's geography.  Both dims broadcast (≤ hundreds
    of rows at any scale); one groupBy to |regions| rows."""
    j = (supplier
         .join(F.broadcast(nation),
               col("s_nationkey") == col("n_nationkey"))
         .join(F.broadcast(region),
               col("n_regionkey") == col("r_regionkey")))
    return (j.groupBy(col("r_name").alias("region"))
            .agg(F.count("*").alias("n_suppliers"),
                 F.round(F.sum(col("s_acctbal").cast("decimal(30,6)"))
                         .cast("double") / F.count("*"), 6)
                 .alias("avg_acctbal"),
                 F.sum((col("s_acctbal") < 0).cast("long"))
                 .alias("n_in_debt")))


SUPPLIER_BALANCE_BY_REGION_ORACLE = """
    SELECT r_name AS region,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(CAST(sum(CAST(s_acctbal AS DECIMAL(30,6)))
                      AS DOUBLE) / count(*), 6) AS avg_acctbal,
           CAST(sum(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_debt
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
"""


# ---------------------------------------- growth/monetization (r16 pool)


def user_retention_curve(events: DataFrame) -> DataFrame:
    """Classic day-k retention curve: (k_days, n_eligible, n_retained,
    retained_ratio) for k ≥ 1 — of the users first seen at least k
    days before the corpus horizon, how many were active again
    exactly k days after their first day.  The growth table every
    ingestion product reads next to DAU; signup_cohort_retention
    slices one cohort forward, this folds ALL cohorts onto a single
    offset axis.

    Exact integers; the ratio is ONE double divide rounded 6dp
    (n_eligible ≥ n_retained ≥ 1 by construction of the inner join).

    Scale shape: one groupBy(user) for first days (user-sized,
    map-side combined), one distinct (day, user) projection, an
    equi-join on user_id, a groupBy(k) to ≤ |days| rows; eligibility
    counts come from the same first-day rollup joined to the ≤|days|
    output — never a second corpus scan."""
    fd = (events.groupBy("user_id")
          .agg(F.min(F.to_date("ts")).alias("_first")))
    act = (events.select(F.to_date("ts").alias("_day"), "user_id")
           .distinct())
    horizon = act.agg(F.max("_day").alias("_h"))
    ret = (act.join(fd, "user_id")
           .select(F.datediff(col("_day"), col("_first")).alias("k_days"))
           .where(col("k_days") >= 1)
           .groupBy("k_days")
           .agg(F.count("*").alias("n_retained")))
    elig = (fd.crossJoin(F.broadcast(horizon))
            .select(F.datediff(col("_h"), col("_first"))
                    .alias("_max_k"))
            .groupBy("_max_k").agg(F.count("*").alias("_n")))
    # eligible(k) = Σ_{max_k ≥ k} n, evaluated AT ret's k values (a
    # k between two users' exact max-k offsets must not drop out):
    # a ≤|days|²-row broadcast range join over the two tiny rollups
    # — never user-sized.
    elig_k = (ret.select("k_days")
              .join(F.broadcast(elig), col("_max_k") >= col("k_days"))
              .groupBy("k_days")
              .agg(F.sum("_n").alias("n_eligible")))
    return (ret.join(elig_k, "k_days")
            .select("k_days",
                    col("n_eligible").cast("long").alias("n_eligible"),
                    "n_retained",
                    F.round(col("n_retained") / col("n_eligible"), 6)
                    .alias("retained_ratio")))


USER_RETENTION_CURVE_ORACLE = """
    WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
                FROM events GROUP BY user_id),
    act AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
            FROM events),
    h AS (SELECT max(day) AS horizon FROM act),
    ret AS (SELECT day - first_day AS k_days,
                   CAST(count(*) AS BIGINT) AS n_retained
            FROM act JOIN fd USING (user_id)
            WHERE day - first_day >= 1
            GROUP BY 1),
    mk AS (SELECT (SELECT horizon FROM h) - first_day AS max_k,
                  count(*) AS n
           FROM fd GROUP BY 1),
    elig AS (SELECT r.k_days,
                    CAST(sum(mk.n) AS BIGINT) AS n_eligible
             FROM ret r JOIN mk ON mk.max_k >= r.k_days
             GROUP BY r.k_days)
    SELECT r.k_days, e.n_eligible, r.n_retained,
           round(CAST(r.n_retained AS DOUBLE) / e.n_eligible, 6)
               AS retained_ratio
    FROM ret r JOIN elig e USING (k_days)
    WHERE r.k_days >= 1
"""


def value_by_user_tenure(events: DataFrame) -> DataFrame:
    """Monetization by account age: (tenure_band, n_events, n_users,
    value_sum) where tenure = days between a user's first-ever day
    and the event's day, banded day-0 / days-1-7 / days-8-30 /
    days-31+ — the mix table behind 'do we earn from new or from
    retained users', read next to the retention curve.

    Exact: integer day diffs, CASE bands (identical literals both
    engines), DECIMAL(30,6)-accumulated value rounded 2dp.

    Scale shape: one groupBy(user) for first days, one equi-join on
    user_id (first-day frame is user-sized, broadcast at dim scale,
    shuffle-join at corpus scale), one map-side-combined groupBy to
    4 rows."""
    fd = (events.groupBy("user_id")
          .agg(F.min(F.to_date("ts")).alias("_first")))
    t = F.datediff(F.to_date("ts"), col("_first"))
    band = (F.when(t == 0, "0d")
            .when(t <= 7, "1-7d")
            .when(t <= 30, "8-30d")
            .otherwise("31d+"))
    return (events.join(fd, "user_id")
            .groupBy(band.alias("tenure_band"))
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.round(F.sum(col("value").cast("decimal(30,6)")), 2)
                 .cast("double").alias("value_sum")))


VALUE_BY_USER_TENURE_ORACLE = """
    WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
                FROM events GROUP BY user_id),
    t AS (SELECT CAST(e.ts AS DATE) - f.first_day AS tenure,
                 e.user_id, e.value
          FROM events e JOIN fd f USING (user_id))
    SELECT CASE WHEN tenure = 0 THEN '0d'
                WHEN tenure <= 7 THEN '1-7d'
                WHEN tenure <= 30 THEN '8-30d'
                ELSE '31d+' END AS tenure_band,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(round(sum(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE)
               AS value_sum
    FROM t GROUP BY 1
"""


def order_weekday_profile(orders: DataFrame) -> DataFrame:
    """Weekday seasonality of order flow: (weekday, n_orders, revenue,
    avg_order_value) — the staffing/capacity table behind the daily
    revenue monitor.  Weekday is computed PORTABLY as
    days-since-epoch mod 7 (0 = Thursday, 1970-01-01): Spark's
    dayofweek() and DuckDB's dow disagree on both origin and range,
    so the exact integer arithmetic sidesteps the dialect entirely.

    Revenue accumulates as DECIMAL then rounds 2dp; the average is
    ONE double divide of that already-rounded total, 6dp — both
    engines perform the identical float ops on identical inputs.

    Scale shape: one linear scan, map-side-combined groupBy to 7
    rows."""
    wd = F.pmod(F.datediff(F.to_date("o_orderdate"),
                           F.to_date(F.lit("1970-01-01"))), F.lit(7))
    g = (orders.groupBy(wd.cast("int").alias("weekday"))
         .agg(F.count("*").alias("n_orders"),
              F.round(F.sum(col("o_totalprice")
                            .cast("decimal(30,6)")), 2)
              .cast("double").alias("revenue")))
    return g.withColumn(
        "avg_order_value",
        F.round(col("revenue") / col("n_orders"), 6))


ORDER_WEEKDAY_PROFILE_ORACLE = """
    WITH g AS (
        SELECT CAST(((CAST(o_orderdate AS DATE) - DATE '1970-01-01')
                     % 7 + 7) % 7 AS INT) AS weekday,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2)
                    AS DOUBLE) AS revenue
        FROM orders GROUP BY 1)
    SELECT weekday, n_orders, revenue,
           round(revenue / n_orders, 6) AS avg_order_value
    FROM g
"""


def supplier_part_breadth(lineitem: DataFrame, supplier: DataFrame,
                          nation: DataFrame) -> DataFrame:
    """Supply-base breadth per supplier nation: how many suppliers
    shipped anything, how many DISTINCT (supplier, part) lanes they
    cover, and the total quantity moved — the procurement-risk table
    (a nation with few suppliers but many lanes is a concentration
    risk; qty per lane is the utilization signal).

    Parity discipline: counts are exact; quantity accumulates as
    DECIMAL(30,6) and rounds 2dp before the one double cast.  Scale
    shape: lineitem scans once, both dims broadcast, distinct-pair
    count rides the same (suppkey, partkey) shuffle the groupBy
    needs; output is nations-sized."""
    li = lineitem.select("l_suppkey", "l_partkey", "l_quantity")
    j = (li.join(F.broadcast(supplier.select("s_suppkey",
                                             "s_nationkey")),
                 col("l_suppkey") == col("s_suppkey"))
         .join(F.broadcast(nation.select("n_nationkey", "n_name")),
               col("s_nationkey") == col("n_nationkey")))
    return (j.groupBy("n_name")
            .agg(F.countDistinct("l_suppkey").alias("n_suppliers"),
                 F.countDistinct("l_suppkey", "l_partkey")
                 .alias("n_supp_part_lanes"),
                 F.round(F.sum(col("l_quantity")
                               .cast("decimal(30,6)")), 2)
                 .cast("double").alias("total_qty")))


SUPPLIER_PART_BREADTH_ORACLE = """
    SELECT n_name,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(count(DISTINCT (l_suppkey, l_partkey)) AS BIGINT)
               AS n_supp_part_lanes,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(30,6))), 2)
                AS DOUBLE) AS total_qty
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
"""


def returns_by_nation(lineitem: DataFrame, orders: DataFrame,
                      customer: DataFrame,
                      nation: DataFrame) -> DataFrame:
    """Return rate per CUSTOMER nation: lineitems flagged 'R' as a
    share of all lineitems ordered by that nation's customers — the
    market-quality table behind q10's per-customer returned-item
    drill-down (read this first; chase customers second).

    Exact integer counts; the rate is ONE double divide rounded 6dp.
    Scale shape: the fact⋈fact order-key equi-join (bucketed layout
    at 100 TB), customer/nation dims broadcast, map-side-combined
    groupBy to nations-sized output."""
    j = (lineitem.select("l_orderkey", "l_returnflag")
         .join(orders.select("o_orderkey", "o_custkey"),
               col("l_orderkey") == col("o_orderkey"))
         .join(F.broadcast(customer.select("c_custkey",
                                           "c_nationkey")),
               col("o_custkey") == col("c_custkey"))
         .join(F.broadcast(nation.select("n_nationkey", "n_name")),
               col("c_nationkey") == col("n_nationkey")))
    g = (j.groupBy("n_name")
         .agg(F.count("*").alias("n_lines"),
              F.count_if(col("l_returnflag") == "R")
              .alias("n_returned")))
    return g.withColumn(
        "return_rate",
        F.round(col("n_returned") / col("n_lines"), 6))


RETURNS_BY_NATION_ORACLE = """
    WITH g AS (
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT)
                   AS n_returned
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name)
    SELECT n_name, n_lines, n_returned,
           round(n_returned / (1.0 * n_lines), 6) AS return_rate
    FROM g
"""


def hour_of_week_profile(events: DataFrame) -> DataFrame:
    """Traffic shape over the 168-slot week: (weekday, hour) →
    events + distinct users — the capacity-planning heatmap every
    ingestion operator keeps on a wall (quiet-slot maintenance
    windows, load-shedding thresholds).  Weekday is days-since-epoch
    mod 7 (0 = Thursday), the repo's portable spelling — Spark's
    dayofweek() and DuckDB's dow disagree on origin and range.

    Exact integers only.  Scale shape: one scan; the distinct-user
    count rides a (slot, user) shuffle bounded by slots×users; output
    is ≤ 168 rows."""
    wd = F.pmod(F.datediff(F.to_date("ts"),
                           F.to_date(F.lit("1970-01-01"))), F.lit(7))
    return (events
            .groupBy(wd.cast("int").alias("weekday"),
                     F.hour("ts").cast("int").alias("hour"))
            .agg(F.count("*").alias("n_events"),
                 F.countDistinct("user_id").alias("n_users")))


HOUR_OF_WEEK_PROFILE_ORACLE = """
    SELECT CAST(((CAST(ts AS DATE) - DATE '1970-01-01')
                 % 7 + 7) % 7 AS INT) AS weekday,
           CAST(hour(ts) AS INT) AS hour,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
"""


def weekly_new_vs_returning(events: DataFrame) -> DataFrame:
    """Weekly acquisition mix: per epoch-week, how many active users
    were NEW (first week ever seen) vs RETURNING — the growth-vs-
    retention split read next to dau_wau_stickiness (stickiness says
    how often users come back; this says whether growth is
    acquisition or habit).  Weeks are days-since-epoch / 7 truncated
    toward zero on BOTH engines (Spark double-divide + long cast,
    DuckDB `//`) — identical for the post-epoch timestamps events
    carry, and no week-truncation dialect either way.

    Scale shape: one (user, week) distinct (map-side combined), a
    per-user min-week groupBy on the SAME user-keyed shuffle, one
    broadcast-sized join back, then a week-keyed rollup to
    weeks-sized output.  Exact integers throughout."""
    uw = (events.select(
        "user_id",
        (F.datediff(F.to_date("ts"),
                    F.to_date(F.lit("1970-01-01"))) / 7)
        .cast("long").alias("week")).distinct())
    first = uw.groupBy("user_id").agg(F.min("week").alias("_w0"))
    return (uw.join(first, "user_id")
            .groupBy("week")
            .agg(F.count_if(col("week") == col("_w0"))
                 .alias("n_new"),
                 F.count_if(col("week") != col("_w0"))
                 .alias("n_returning")))


WEEKLY_NEW_VS_RETURNING_ORACLE = """
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7
                    AS BIGINT) AS week
        FROM events),
    f AS (SELECT user_id, min(week) AS w0 FROM uw GROUP BY user_id)
    SELECT week,
           CAST(count(*) FILTER (week = w0) AS BIGINT) AS n_new,
           CAST(count(*) FILTER (week != w0) AS BIGINT)
               AS n_returning
    FROM uw JOIN f USING (user_id)
    GROUP BY week
"""


def brand_return_rate(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """Return rate per part BRAND: 'R'-flagged lineitems as a share
    of the brand's shipped lines, with the returned revenue priced —
    the product-quality complement to returns_by_nation (WHO returns
    vs WHAT gets returned; a rising brand is a supplier-defect or
    catalog-mismatch signal).

    Exact integer counts and DECIMAL(30,6) revenue sums on both
    engines, then one rounded cast; the rate is ONE double divide
    rounded 6dp.  Scale shape: fact⋈dim equi-join on partkey (the dim
    broadcasts at dim<<fact; bucketed co-location at 100 TB),
    map-side-combined groupBy to a brands-sized (~25-row) output."""
    j = (lineitem.select("l_partkey", "l_returnflag",
                         "l_extendedprice", "l_discount")
         .join(F.broadcast(part.select("p_partkey", "p_brand")),
               col("l_partkey") == col("p_partkey")))
    charge = (col("l_extendedprice") * (1 - col("l_discount"))) \
        .cast("decimal(30,6)")
    g = (j.groupBy("p_brand")
         .agg(F.count("*").alias("n_lines"),
              F.count_if(col("l_returnflag") == "R")
              .alias("n_returned"),
              F.sum(F.when(col("l_returnflag") == "R", charge)
                    .otherwise(F.lit(0).cast("decimal(30,6)")))
              .alias("_rev")))
    return (g.select(
        "p_brand", "n_lines", "n_returned",
        F.round(col("n_returned") / col("n_lines"), 6)
        .alias("return_rate"),
        F.round(col("_rev"), 2).cast("double")
        .alias("returned_revenue")))


BRAND_RETURN_RATE_ORACLE = """
    WITH g AS (
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT)
                   AS n_returned,
               sum(CASE WHEN l_returnflag = 'R'
                        THEN CAST(l_extendedprice * (1 - l_discount)
                                  AS DECIMAL(30,6))
                        ELSE CAST(0 AS DECIMAL(30,6)) END) AS rev
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand)
    SELECT p_brand, n_lines, n_returned,
           round(n_returned / (1.0 * n_lines), 6) AS return_rate,
           CAST(round(rev, 2) AS DOUBLE) AS returned_revenue
    FROM g
"""


def basket_size_value_profile(lineitem: DataFrame) -> DataFrame:
    """Basket size vs basket value: per order, the line count and
    exact charge sum; then per LINE-COUNT bucket, how many orders
    land there and what they're worth on average — the
    order-composition curve a fulfillment planner reads (are big
    baskets carrying the revenue, or a long tail of singles?).

    Two-level aggregation, both map-side combinable; DECIMAL(30,6)
    exact sums on both engines with ONE double divide for the mean.
    Scale shape: first groupBy shuffles on the order key (bucketed
    co-location at 100 TB since lineitem is already order-keyed),
    second collapses to a ≤max-lines-sized output — no joins at
    all."""
    charge = (col("l_extendedprice") * (1 - col("l_discount"))) \
        .cast("decimal(30,6)")
    per_order = (lineitem
                 .groupBy("l_orderkey")
                 .agg(F.count("*").alias("n_lines"),
                      F.sum(charge).alias("_val")))
    g = (per_order.groupBy("n_lines")
         .agg(F.count("*").alias("n_orders"),
              F.sum("_val").alias("_rev")))
    return (g.select(
        "n_lines", "n_orders",
        F.round(col("_rev"), 2).cast("double").alias("revenue"),
        F.round(col("_rev").cast("double") / col("n_orders"), 6)
        .alias("avg_basket_value")))


BASKET_SIZE_VALUE_PROFILE_ORACLE = """
    WITH per_order AS (
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(30,6))) AS val
        FROM lineitem GROUP BY l_orderkey),
    g AS (
        SELECT n_lines,
               CAST(count(*) AS BIGINT) AS n_orders,
               sum(val) AS rev
        FROM per_order GROUP BY n_lines)
    SELECT n_lines, n_orders,
           CAST(round(rev, 2) AS DOUBLE) AS revenue,
           round(CAST(rev AS DOUBLE) / n_orders, 6)
               AS avg_basket_value
    FROM g
"""


def region_trade_flow(lineitem: DataFrame, orders: DataFrame,
                      customer: DataFrame, supplier: DataFrame,
                      nation: DataFrame,
                      region: DataFrame) -> DataFrame:
    """The region×region trade-flow matrix: revenue by (supplier
    region → customer region) — q5 asks "how much stays local", q7
    drills nation pairs; this is the 25-cell board-level rollup both
    start from (diagonal = intra-region trade).

    DECIMAL(30,6) exact revenue both engines, one rounded cast.
    Scale shape: the lineitem⋈orders fact⋈fact equi-join dominates
    (order-key bucketed co-location at 100 TB); customer/supplier/
    nation/region dims all broadcast; the final groupBy collapses to
    a regions²-sized output."""
    n2r = (nation
           .join(F.broadcast(region),
                 col("n_regionkey") == col("r_regionkey"))
           .select("n_nationkey", col("r_name")))
    cust_r = (customer.select("c_custkey", "c_nationkey")
              .join(F.broadcast(n2r),
                    col("c_nationkey") == col("n_nationkey"))
              .select("c_custkey",
                      col("r_name").alias("cust_region")))
    supp_r = (supplier.select("s_suppkey", "s_nationkey")
              .join(F.broadcast(n2r),
                    col("s_nationkey") == col("n_nationkey"))
              .select("s_suppkey",
                      col("r_name").alias("supp_region")))
    charge = (col("l_extendedprice") * (1 - col("l_discount"))) \
        .cast("decimal(30,6)")
    j = (lineitem.select("l_orderkey", "l_suppkey",
                         charge.alias("_charge"))
         .join(orders.select("o_orderkey", "o_custkey"),
               col("l_orderkey") == col("o_orderkey"))
         .join(F.broadcast(cust_r),
               col("o_custkey") == col("c_custkey"))
         .join(F.broadcast(supp_r),
               col("l_suppkey") == col("s_suppkey")))
    return (j.groupBy("supp_region", "cust_region")
            .agg(F.count("*").alias("n_lines"),
                 F.sum("_charge").alias("_rev"))
            .select("supp_region", "cust_region", "n_lines",
                    F.round(col("_rev"), 2).cast("double")
                    .alias("revenue")))


REGION_TRADE_FLOW_ORACLE = """
    SELECT sr.r_name AS supp_region, cr.r_name AS cust_region,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(30,6))), 2) AS DOUBLE)
               AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN region cr ON cn.n_regionkey = cr.r_regionkey
    JOIN region sr ON sn.n_regionkey = sr.r_regionkey
    GROUP BY sr.r_name, cr.r_name
"""


def order_fulfillment_days(lineitem: DataFrame,
                           orders: DataFrame) -> DataFrame:
    """Fulfillment-speed histogram: per order, the days from order
    date to the LAST line shipped (the customer-visible completion
    lag), bucketed by week — the distribution an ops team holds
    against its shipping SLA (ship_lag_by_priority slices the
    commit-to-ship leg; this is end-to-end order-to-done).

    Exact integer day diffs and counts.  Scale shape: per-order max
    is a map-side-combined groupBy on the order key, the fact⋈fact
    join rides the same key (bucketed co-location at 100 TB), and
    the week histogram collapses to a ≤dozens-row output."""
    last = (lineitem.groupBy("l_orderkey")
            .agg(F.max("l_shipdate").alias("_last")))
    j = (orders.select("o_orderkey", "o_orderdate")
         .join(last, col("o_orderkey") == col("l_orderkey")))
    days = F.datediff(F.to_date("_last"), F.to_date("o_orderdate"))
    # floor (not truncate): synthetic data carries some ship-before-
    # order rows, and the two round negative weeks differently
    wk = F.floor(days / 7).cast("long")
    return (j.groupBy(wk.alias("fulfill_week"))
            .agg(F.count("*").alias("n_orders"),
                 F.sum(days.cast("bigint")).alias("total_days"))
            .withColumn("avg_days",
                        F.round(col("total_days").cast("double")
                                / col("n_orders"), 6)))


ORDER_FULFILLMENT_DAYS_ORACLE = """
    WITH last AS (
        SELECT l_orderkey, max(l_shipdate) AS last_ship
        FROM lineitem GROUP BY l_orderkey),
    d AS (
        SELECT CAST(CAST(last_ship AS DATE)
                    - CAST(o_orderdate AS DATE) AS BIGINT) AS days
        FROM orders JOIN last ON o_orderkey = l_orderkey)
    SELECT CAST(floor(days / 7.0) AS BIGINT) AS fulfill_week,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(days) AS BIGINT) AS total_days,
           round(CAST(sum(days) AS DOUBLE) / count(*), 6) AS avg_days
    FROM d
    GROUP BY 1
"""


def event_type_hour_entropy(events: DataFrame) -> DataFrame:
    """Temporal concentration per event type: Shannon entropy (bits)
    of the type's hour-of-day distribution plus its peak hour — flat
    (≈log2 24 ≈ 4.58) means always-on machine traffic, spiky means
    human rhythm; the monitor reads this next to bot_burst_flag when
    triaging a new event type.

    Parity discipline as user_event_type_entropy: exact BIGINT
    counts, each entropy term rounds 1e-9 and sums as DECIMAL(30,9),
    final 6dp; the peak hour tie-breaks to the SMALLEST hour so the
    argmax is total cross-engine.  Scale shape: one map-side
    groupBy (type, hour) — ≤24 rows per type — then one per-type
    rollup; no joins, no unbounded windows."""
    ct = (events.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour"))
        .agg(F.count("*").cast("bigint").alias("c")))
    w = Window.partitionBy("event_type")
    ct = ct.withColumn("n", F.sum("c").over(w))
    term = F.round(
        (col("c") / col("n")) * F.log2(col("n") / col("c")),
        9).cast("decimal(30,9)")
    # total argmax order as ONE exact bigint (count first, then
    # smallest hour wins ties) — identical spelling both engines
    peak = F.expr("max_by(hour, c * 24 + (23 - hour))")
    return (ct.groupBy("event_type", "n")
            .agg(F.sum(term).alias("_h"), peak.alias("peak_hour"))
            .select("event_type",
                    col("n").alias("n_events"),
                    col("peak_hour").cast("bigint"),
                    F.round(col("_h").cast("double"), 6)
                    .alias("entropy_bits")))


EVENT_TYPE_HOUR_ENTROPY_ORACLE = """
    WITH ct AS (
        SELECT event_type,
               CAST(extract(hour FROM ts) AS INT) AS hour,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
          FROM ct GROUP BY event_type)
    SELECT ct.event_type, t.n AS n_events,
           CAST(max_by(ct.hour, ct.c * 24 + (23 - ct.hour))
                AS BIGINT) AS peak_hour,
           round(CAST(sum(CAST(round((ct.c / (1.0 * t.n))
                                     * log2(t.n / (1.0 * ct.c)), 9)
                               AS DECIMAL(30,9))) AS DOUBLE), 6)
               AS entropy_bits
    FROM ct JOIN t USING (event_type)
    GROUP BY ct.event_type, t.n
"""


def part_type_revenue_share(lineitem: DataFrame,
                            part: DataFrame) -> DataFrame:
    """Revenue share by part-type FAMILY (the first word of p_type —
    q14 prices the PROMO family against the total; this is the whole
    family breakdown): exact revenue, line counts, and each family's
    share of total revenue.

    DECIMAL(30,6) exact sums; the share is ONE double divide against
    the broadcast exact total, rounded 6dp.  Scale shape: fact⋈dim
    on partkey, map-side-combined groupBy to a families-sized
    output, then a 1-row broadcast total joined back (no second scan
    and no window over unbounded rows)."""
    fam = F.split(col("p_type"), " ").getItem(0).alias("type_family")
    charge = (col("l_extendedprice") * (1 - col("l_discount"))) \
        .cast("decimal(30,6)")
    j = (lineitem.select("l_partkey", charge.alias("_charge"))
         .join(F.broadcast(part.select("p_partkey", "p_type")),
               col("l_partkey") == col("p_partkey")))
    g = (j.groupBy(fam)
         .agg(F.count("*").alias("n_lines"),
              F.sum("_charge").alias("_rev")))
    total = g.agg(F.sum("_rev").alias("_tot"))
    return (g.join(F.broadcast(total))
            .select("type_family", "n_lines",
                    F.round(col("_rev"), 2).cast("double")
                    .alias("revenue"),
                    F.round(col("_rev").cast("double")
                            / col("_tot").cast("double"), 6)
                    .alias("revenue_share")))


PART_TYPE_REVENUE_SHARE_ORACLE = """
    WITH g AS (
        SELECT split_part(p_type, ' ', 1) AS type_family,
               CAST(count(*) AS BIGINT) AS n_lines,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(30,6))) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1),
    t AS (SELECT sum(rev) AS tot FROM g)
    SELECT type_family, n_lines,
           CAST(round(rev, 2) AS DOUBLE) AS revenue,
           round(CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE), 6)
               AS revenue_share
    FROM g, t
"""


def customer_recency_bands(orders: DataFrame,
                           customer: DataFrame) -> DataFrame:
    """Customers bucketed by order recency — days from their LAST
    order to the dataset horizon (the max order date, so the band is
    deterministic, not wall-clock): ≤30 / ≤90 / ≤365 / older — the
    churn-risk funnel a retention team sizes campaigns with, plus
    never-ordered customers as their own band.

    Exact integers; the horizon is a 1-row broadcast (computed once,
    never a window).  Scale shape: per-customer max is map-side
    combinable on the customer key; the customer dim left-joins the
    aggregate (broadcast when dim fits, shuffle-hash co-located
    otherwise); output is 5 rows."""
    horizon = orders.agg(F.max("o_orderdate").alias("_h"))
    last = (orders.groupBy("o_custkey")
            .agg(F.max("o_orderdate").alias("_last")))
    j = (customer.select("c_custkey")
         .join(last, col("c_custkey") == col("o_custkey"), "left")
         .join(F.broadcast(horizon)))
    days = F.datediff(F.to_date("_h"), F.to_date("_last"))
    band = (F.when(col("_last").isNull(), "never")
            .when(days <= 30, "d30")
            .when(days <= 90, "d90")
            .when(days <= 365, "d365")
            .otherwise("older"))
    return (j.groupBy(band.alias("recency_band"))
            .agg(F.count("*").alias("n_customers")))


CUSTOMER_RECENCY_BANDS_ORACLE = """
    WITH h AS (SELECT max(CAST(o_orderdate AS DATE)) AS horizon
               FROM orders),
    last AS (SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS d
             FROM orders GROUP BY o_custkey)
    SELECT CASE WHEN d IS NULL THEN 'never'
                WHEN horizon - d <= 30 THEN 'd30'
                WHEN horizon - d <= 90 THEN 'd90'
                WHEN horizon - d <= 365 THEN 'd365'
                ELSE 'older' END AS recency_band,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    LEFT JOIN last ON c_custkey = o_custkey
    CROSS JOIN h
    GROUP BY 1
"""


def hourly_count_autocorr(events: DataFrame) -> DataFrame:
    """Lag-1 autocorrelation of each event type's hourly count
    series — the rhythm detector: near 1 means smooth diurnal load
    (cache-friendly, forecastable), near 0 means bursty/arrival-
    driven, negative means oscillation (a retry storm signature).
    Read next to hourly_anomaly_zscore when tuning alert windows.

    Pairs are CONSECUTIVE epoch hours only (a gap contributes no
    pair, identically on both engines, via a self-join on hour+1).
    All Pearson terms are exact BIGINT sums of exact counts; the
    final correlation is ONE double expression rounded 6dp, and
    degenerate series (zero variance, <2 pairs) are dropped rather
    than emitting engine-dependent NaNs.  Scale shape: one groupBy
    to (type, hour) — bounded rows — then an hours-sized equi-join
    and a types-sized rollup."""
    hc = (events.groupBy(
        "event_type",
        # floor, not truncate-toward-zero: the oracle's `//` floors,
        # and the two diverge for pre-1970 timestamps (same reason
        # order_fulfillment_days floors).
        F.floor(F.unix_micros(col("ts")) / (3600 * 1000000))
        .cast("long").alias("h"))
        .agg(F.count("*").cast("bigint").alias("c")))
    a, b = hc.alias("a"), hc.alias("b")
    pairs = (a.join(b, (col("a.event_type") == col("b.event_type"))
                    & (col("b.h") == col("a.h") + 1))
             .select(col("a.event_type").alias("event_type"),
                     col("a.c").alias("x"), col("b.c").alias("y")))
    g = (pairs.groupBy("event_type")
         .agg(F.count("*").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(col("x") * col("x")).alias("sxx"),
              F.sum(col("y") * col("y")).alias("syy"),
              F.sum(col("x") * col("y")).alias("sxy")))
    num = (col("n") * col("sxy") - col("sx") * col("sy")) \
        .cast("double")
    den = F.sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                 .cast("double")
                 * (col("n") * col("syy") - col("sy") * col("sy"))
                 .cast("double"))
    return (g.where((col("n") >= 2)
                    & (col("n") * col("sxx") > col("sx") * col("sx"))
                    & (col("n") * col("syy") > col("sy") * col("sy")))
            .select("event_type", col("n").alias("n_pairs"),
                    F.round(num / den, 6).alias("autocorr_lag1")))


HOURLY_COUNT_AUTOCORR_ORACLE = """
    WITH hc AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2),
    pairs AS (
        SELECT a.event_type, a.c AS x, b.c AS y
        FROM hc a JOIN hc b
          ON a.event_type = b.event_type AND b.h = a.h + 1),
    g AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pairs GROUP BY event_type)
    SELECT event_type, n AS n_pairs,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6)
               AS autocorr_lag1
    FROM g
    WHERE n >= 2 AND n * sxx > sx * sx AND n * syy > sy * sy
"""


def sessions_per_user_histogram(events: DataFrame) -> DataFrame:
    """How many 30-minute-gap sessions each user accumulates,
    rolled to a histogram (n_sessions → user count) — the engagement
    frequency curve product teams read next to dau_wau_stickiness
    (same session rule as the registered sessionize, so the two
    reconcile).

    Exact integers end-to-end.  Scale shape: ONE shuffle on user_id
    feeds the lag window, the per-user sum, and nothing else; the
    histogram rollup is a second tiny exchange to a ≤max-sessions
    output."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = F.when(
        F.lag("ts").over(w).isNull()
        | (F.unix_micros(col("ts"))
           - F.unix_micros(F.lag("ts").over(w))
           > 30 * 60 * 1000000), 1).otherwise(0)
    per_user = (events.select("user_id", "ts", "event_id")
                .withColumn("_new", new_sess)
                .groupBy("user_id")
                .agg(F.sum("_new").cast("bigint")
                     .alias("n_sessions")))
    return (per_user.groupBy("n_sessions")
            .agg(F.count("*").alias("n_users")))


SESSIONS_PER_USER_HISTOGRAM_ORACLE = """
    WITH seq AS (
        SELECT user_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    pu AS (SELECT user_id, CAST(sum(new_sess) AS BIGINT)
                      AS n_sessions
           FROM seq GROUP BY user_id)
    SELECT n_sessions, CAST(count(*) AS BIGINT) AS n_users
    FROM pu GROUP BY n_sessions
"""


def funnel_conversion_delay(events: DataFrame) -> DataFrame:
    """Signup→purchase conversion DELAY distribution: for each user
    whose first purchase follows their first signup, the hours
    between, bucketed by day — funnel_signup_purchase reports HOW
    MANY convert; this is HOW FAST (the activation-campaign timing
    table).

    Exact integer microsecond diffs floored to days.  Scale shape:
    two filtered min-aggregations on user_id (same shuffle key →
    one exchange each, co-partitioned equi-join), then a days-sized
    histogram."""
    first_s = (events.where(col("event_type") == "signup")
               .groupBy("user_id")
               .agg(F.min("ts").alias("_s")))
    first_p = (events.where(col("event_type") == "purchase")
               .groupBy("user_id")
               .agg(F.min("ts").alias("_p")))
    j = (first_s.join(first_p, "user_id")
         .where(col("_p") > col("_s")))
    days = F.floor((F.unix_micros(col("_p"))
                    - F.unix_micros(col("_s")))
                   / (86400.0 * 1000000)).cast("long")
    return (j.groupBy(days.alias("delay_days"))
            .agg(F.count("*").alias("n_users")))


FUNNEL_CONVERSION_DELAY_ORACLE = """
    WITH s AS (SELECT user_id, min(ts) AS fs FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT user_id, min(ts) AS fp FROM events
          WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT CAST(floor((epoch_us(fp) - epoch_us(fs))
                      / (86400.0 * 1000000)) AS BIGINT)
               AS delay_days,
           CAST(count(*) AS BIGINT) AS n_users
    FROM s JOIN p USING (user_id)
    WHERE fp > fs
    GROUP BY 1
"""


# ================================================== r21 pool (r14-built)
# Six registration candidates built in round 14 to keep the pool one
# full round deep past r20 (verdict cadence: ≤5 registrations/round).
# Each follows the house parity discipline: exact integer / DECIMAL
# sufficient statistics on both engines, ONE double expression at the
# end, NULL guards spelled identically in the SQL twin.


def order_line_value_corr(lineitem: DataFrame,
                          orders: DataFrame) -> DataFrame:
    """Pearson correlation between an order's LINE COUNT and its
    total value, one row — the order-composition sanity check behind
    basket analytics: near-1 means value is line-driven (wide
    baskets), near-0 means a few expensive lines dominate.

    Parity discipline: x = exact BIGINT line count, y = order value
    rounded to WHOLE currency units as BIGINT.  The y-weighted sums
    (Σy², Σxy) accumulate as DECIMAL(38,0) on BOTH engines (the msum
    precedent): a BIGINT Σy² overflows past roughly sf10, and the
    failure modes DIVERGE — DuckDB's CAST raises while non-ANSI Spark
    silently wraps into a wrong correlation (r14 advice).  DECIMAL
    keeps both exact to 1e38 (≈ sf10^11) and overflow beyond that is
    a loud NULL/error on both engines, never a silent wrap.  The
    correlation itself is computed in DOUBLE on
    BOTH engines with the promotion forced BEFORE any product (the
    SQL twin spells CAST(... AS DOUBLE) explicitly — a bare
    `1.0 * n * sxx` binds to exact DECIMAL(38,1) in DuckDB, which
    would diverge from Spark's double once products pass 2^53), so
    the floating-point lossiness is bit-identical at any scale, 6dp.
    Scale shape: map-side-combined groupBy(orderkey), orderkey
    equi-join (co-partitioned; bucketed layout at scale),
    single-row agg."""
    per_order = (lineitem.groupBy("l_orderkey")
                 .agg(F.count("*").cast("bigint").alias("x")))
    j = per_order.join(
        orders.select(
            "o_orderkey",
            F.round(col("o_totalprice"), 0).cast("bigint").alias("y")),
        col("l_orderkey") == col("o_orderkey"))
    s = j.agg(F.count("*").alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(col("x") * col("x")).alias("sxx"),
              # per-row products fit BIGINT (y ≤ ~6e5 whole units);
              # only the SUMS need the DECIMAL(38,0) headroom
              F.sum((col("y") * col("y")).cast("decimal(38,0)"))
              .alias("syy"),
              F.sum((col("x") * col("y")).cast("decimal(38,0)"))
              .alias("sxy"))
    vx = 1.0 * col("n") * col("sxx") - 1.0 * col("sx") * col("sx")
    vy = 1.0 * col("n") * col("syy") - 1.0 * col("sy") * col("sy")
    r = ((1.0 * col("n") * col("sxy") - 1.0 * col("sx") * col("sy"))
         / F.sqrt(vx * vy))
    return s.select(
        col("n").alias("n_orders"),
        F.round(1.0 * col("sx") / col("n"), 6).alias("avg_lines"),
        F.when((vx > 0) & (vy > 0), F.round(r, 6))
        .otherwise(F.lit(None).cast("double"))
        .alias("corr_lines_value"))


ORDER_LINE_VALUE_CORR_ORACLE = """
    WITH per_order AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x
        FROM lineitem GROUP BY l_orderkey),
    j AS (SELECT x, CAST(round(o_totalprice, 0) AS BIGINT) AS y
          FROM per_order JOIN orders ON l_orderkey = o_orderkey),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 sum(CAST(y * y AS DECIMAL(38,0))) AS syy,
                 sum(CAST(x * y AS DECIMAL(38,0))) AS sxy
          FROM j)
    SELECT n AS n_orders,
           round(CAST(sx AS DOUBLE) / n, 6) AS avg_lines,
           CASE WHEN CAST(n AS DOUBLE) * sxx
                     - CAST(sx AS DOUBLE) * sx > 0
                 AND CAST(n AS DOUBLE) * syy
                     - CAST(sy AS DOUBLE) * sy > 0
                THEN round((CAST(n AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                           / sqrt((CAST(n AS DOUBLE) * sxx
                                   - CAST(sx AS DOUBLE) * sx)
                                  * (CAST(n AS DOUBLE) * syy
                                     - CAST(sy AS DOUBLE) * sy)),
                           6)
                ELSE NULL END AS corr_lines_value
    FROM s
"""


def weekly_event_type_share_drift(events: DataFrame) -> DataFrame:
    """Week-over-week drift of each event type's TRAFFIC SHARE — the
    mix-shift monitor: a type whose share moves several points in one
    week signals a product change, an instrumentation break, or a bot
    cohort, even when total volume looks flat.

    Parity discipline: counts and week totals are exact BIGINTs;
    share = 1.0·c/total is one double expression; drift subtracts the
    previous CONSECUTIVE week's unrounded share before the single
    6dp round (gap weeks yield NULL drift on both engines).  Scale
    shape: one map-side-combined groupBy to a (weeks × types)-sized
    frame; both windows partition over that tiny frame."""
    wk = F.floor(F.datediff(F.to_date("ts"),
                            F.to_date(F.lit("1970-01-01"))) / 7)
    c = (events.groupBy(wk.cast("bigint").alias("week"), "event_type")
         .agg(F.count("*").alias("n_events")))
    share0 = (1.0 * col("n_events")
              / F.sum("n_events").over(Window.partitionBy("week")))
    lagw = Window.partitionBy("event_type").orderBy("week")
    out = (c.withColumn("_s", share0)
           .withColumn("_prev_s", F.lag("_s").over(lagw))
           .withColumn("_prev_w", F.lag("week").over(lagw)))
    return out.select(
        "week", "event_type", "n_events",
        F.round(col("_s"), 6).alias("share"),
        F.when(col("_prev_w") == col("week") - 1,
               F.round(col("_s") - col("_prev_s"), 6))
        .otherwise(F.lit(None).cast("double")).alias("share_drift"))


WEEKLY_EVENT_TYPE_SHARE_DRIFT_ORACLE = """
    WITH c AS (
        SELECT (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS week,
               event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2),
    s0 AS (SELECT week, event_type, n_events,
                  1.0 * n_events
                  / sum(n_events) OVER (PARTITION BY week) AS s0
           FROM c),
    s AS (SELECT week, event_type, n_events, s0,
                 lag(s0) OVER (PARTITION BY event_type ORDER BY week)
                     AS prev_s,
                 lag(week) OVER (PARTITION BY event_type ORDER BY week)
                     AS prev_w
          FROM s0)
    SELECT CAST(week AS BIGINT) AS week, event_type, n_events,
           round(s0, 6) AS share,
           CASE WHEN prev_w = week - 1 THEN round(s0 - prev_s, 6)
                ELSE NULL END AS share_drift
    FROM s
"""


def brand_price_spread(part: DataFrame) -> DataFrame:
    """Per-brand catalog price profile: part count, min/max/avg
    retail price and the min-to-max spread — the assortment-width
    table a pricing analyst reads before the q14/q19 promo queries.

    min/max are exact selections of stored doubles (no accumulation);
    avg is an exact DECIMAL(30,6) sum with ONE double divide; spread
    subtracts the two selected doubles — every expression
    token-matched in the twin.  Scale shape: one map-side-combined
    groupBy to |brands| rows."""
    return (part.groupBy("p_brand")
            .agg(F.count("*").alias("n_parts"),
                 F.min("p_retailprice").alias("min_price"),
                 F.max("p_retailprice").alias("max_price"),
                 F.round(F.sum(col("p_retailprice")
                               .cast("decimal(30,6)")).cast("double")
                         / F.count("*"), 6).alias("avg_price"))
            .withColumn("price_spread",
                        F.round(col("max_price") - col("min_price"),
                                6)))


BRAND_PRICE_SPREAD_ORACLE = """
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_parts,
           min(p_retailprice) AS min_price,
           max(p_retailprice) AS max_price,
           round(CAST(sum(CAST(p_retailprice AS DECIMAL(30,6)))
                      AS DOUBLE) / count(*), 6) AS avg_price,
           round(max(p_retailprice) - min(p_retailprice), 6)
               AS price_spread
    FROM part GROUP BY p_brand
"""


def cohort_first_week_share(events: DataFrame) -> DataFrame:
    """Per signup-cohort week: how much of the cohort's LIFETIME
    activity happened in each user's first 7 days — the
    front-loadedness curve (high share = drive-by cohorts, low =
    durable habit), read next to signup_cohort_retention.

    Parity discipline: the 7-day window is an exact integer-micros
    comparison; cohort week is floor(first-event micros / week
    micros); the share is a ratio of exact BIGINT sums (never an
    average of per-user doubles) with ONE double divide.  Scale
    shape: two user-keyed shuffles (per-user rollup + first-week
    recount on the same key) and a co-partitioned join, then a
    weeks-sized rollup."""
    wk_us = 7 * 86400 * 1000000
    eu = events.select("user_id", F.unix_micros("ts").alias("tus"))
    pu = (eu.groupBy("user_id")
          .agg(F.count("*").alias("total"), F.min("tus").alias("t0")))
    fw = (eu.join(pu, "user_id")
          .where(col("tus") < col("t0") + F.lit(wk_us))
          .groupBy("user_id").agg(F.count("*").alias("fw")))
    j = pu.join(fw, "user_id")
    return (j.groupBy(F.floor(col("t0") / F.lit(wk_us))
                      .cast("bigint").alias("cohort_week"))
            .agg(F.count("*").alias("n_users"),
                 F.sum("total").alias("n_events"),
                 F.round(1.0 * F.sum("fw") / F.sum("total"), 6)
                 .alias("first_week_share")))


COHORT_FIRST_WEEK_SHARE_ORACLE = """
    WITH eu AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
    pu AS (SELECT user_id, CAST(count(*) AS BIGINT) AS total,
                  min(tus) AS t0
           FROM eu GROUP BY user_id),
    fw AS (SELECT eu.user_id, CAST(count(*) AS BIGINT) AS fw
           FROM eu JOIN pu ON eu.user_id = pu.user_id
           WHERE eu.tus < pu.t0 + CAST(604800000000 AS BIGINT)
           GROUP BY eu.user_id)
    SELECT CAST(pu.t0 // CAST(604800000000 AS BIGINT) AS BIGINT)
               AS cohort_week,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(pu.total) AS BIGINT) AS n_events,
           round(1.0 * sum(fw.fw) / sum(pu.total), 6)
               AS first_week_share
    FROM pu JOIN fw ON pu.user_id = fw.user_id
    GROUP BY 1
"""


def quantity_discount_profile(lineitem: DataFrame) -> DataFrame:
    """Average discount and exact revenue by integer QUANTITY band —
    the quantity→discount interaction surface (is bulk actually
    discounted?), the inverse axis of discount_band_revenue.

    avg_discount is an exact DECIMAL(30,6) sum with ONE double
    divide; revenue rides the q1 msum discipline.  One map-side-
    combined groupBy to ≤ ~50 quantity rows."""
    rev = (col("l_extendedprice").cast("decimal(30,6)")
           * (F.lit(1).cast("decimal(30,6)")
              - col("l_discount").cast("decimal(30,6)")))
    return (lineitem
            .groupBy(F.round(col("l_quantity"), 0).cast("int")
                     .alias("quantity"))
            .agg(F.count("*").alias("n_lines"),
                 F.round(F.sum(col("l_discount")
                               .cast("decimal(30,6)")).cast("double")
                         / F.count("*"), 6).alias("avg_discount"),
                 F.round(F.sum(rev), 2).cast("double").alias("revenue")))


QUANTITY_DISCOUNT_PROFILE_ORACLE = """
    SELECT CAST(round(l_quantity, 0) AS INT) AS quantity,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(CAST(sum(CAST(l_discount AS DECIMAL(30,6)))
                      AS DOUBLE) / count(*), 6) AS avg_discount,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,6))
                          * (CAST(1 AS DECIMAL(30,6))
                             - CAST(l_discount AS DECIMAL(30,6)))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem GROUP BY 1
"""


def value_percentiles_by_type(events: DataFrame) -> DataFrame:
    """Per event type: exact interpolated p50/p90/p99 of `value` plus
    volume — the per-type value SLA table (hourly_value_p95 slices by
    hour; this is the type-level planning view).  Spark `percentile`
    == DuckDB quantile_cont interpolation (the order_value_percentiles
    precedent); 4dp round.  One percentile shuffle per type group,
    |types| output rows."""
    from pyspark.sql.functions import lit
    return (events.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.percentile("value", lit(0.5)), 4)
                 .alias("p50_value"),
                 F.round(F.percentile("value", lit(0.9)), 4)
                 .alias("p90_value"),
                 F.round(F.percentile("value", lit(0.99)), 4)
                 .alias("p99_value")))


VALUE_PERCENTILES_BY_TYPE_ORACLE = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           round(quantile_cont(value, 0.5), 4) AS p50_value,
           round(quantile_cont(value, 0.9), 4) AS p90_value,
           round(quantile_cont(value, 0.99), 4) AS p99_value
    FROM events GROUP BY event_type
"""


# ================================================== r22 pool (r15-built)
# Registration candidates built in round 15, keeping the pool one-plus
# round deep past r20.  House parity discipline throughout: exact
# integer / DECIMAL sufficient statistics on both engines, ONE double
# expression at the end, identical NULL/tie spellings in the SQL twin.


def tax_discount_grid(lineitem: DataFrame) -> DataFrame:
    """The pricing-interaction surface: charged revenue and volume by
    (integer tax band × integer discount band) — discount_band_revenue
    slices one axis; this 2-D grid is what a pricing analyst reads to
    see whether discounts concentrate in particular tax regimes
    (evidence of channel- or region-specific promo policy).

    Exact: bands are integer percents (round-half-up on both engines
    for non-negative inputs), the charge sums as DECIMAL(30,6) with
    ONE rounded cast.  Scale shape: ONE map-side-combined groupBy
    collapsing lineitem into ≤ ~101×~9 grid rows — no joins, no
    windows."""
    charge = (col("l_extendedprice") * (1 - col("l_discount"))
              * (1 + col("l_tax"))).cast("decimal(30,6)")
    return (lineitem.groupBy(
        F.round(col("l_tax") * 100).cast("int").alias("tax_band"),
        F.round(col("l_discount") * 100).cast("int")
        .alias("discount_band"))
        .agg(F.count("*").alias("n_lines"),
             F.round(F.sum(charge), 2).cast("double").alias("revenue")))


TAX_DISCOUNT_GRID_ORACLE = """
    SELECT CAST(round(l_tax * 100) AS INT) AS tax_band,
           CAST(round(l_discount * 100) AS INT) AS discount_band,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) AS DECIMAL(30,6))), 2)
                AS DOUBLE) AS revenue
    FROM lineitem
    GROUP BY 1, 2
"""


def size_revenue_profile(lineitem: DataFrame,
                         part: DataFrame) -> DataFrame:
    """Revenue by part SIZE: how much charged revenue each p_size
    carries, over how many distinct parts and lines — the
    assortment-physicality readout next to brand_price_spread's
    price-width table (does revenue ride a few sizes, i.e. packaging
    / logistics concentration?).

    Exact BIGINT counts + DECIMAL(30,6) revenue; the per-line mean is
    ONE double divide rounded 6dp.  Scale shape: fact⋈broadcast(part)
    equi-join on partkey, one map-side-combined groupBy to a
    ≤ |sizes| (~50-row) output."""
    charge = (col("l_extendedprice") * (1 - col("l_discount"))) \
        .cast("decimal(30,6)")
    j = (lineitem.select("l_partkey", charge.alias("_c"))
         .join(F.broadcast(part.select("p_partkey", "p_size")),
               col("l_partkey") == col("p_partkey")))
    g = (j.groupBy("p_size")
         .agg(F.count("*").alias("n_lines"),
              F.countDistinct("l_partkey").alias("n_parts"),
              F.sum("_c").alias("_rev")))
    return g.select(
        "p_size", "n_parts", "n_lines",
        F.round(col("_rev"), 2).cast("double").alias("revenue"),
        F.round(col("_rev").cast("double") / col("n_lines"), 6)
        .alias("avg_line_revenue"))


SIZE_REVENUE_PROFILE_ORACLE = """
    WITH g AS (
        SELECT p_size,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               sum(CAST(l_extendedprice * (1 - l_discount)
                        AS DECIMAL(30,6))) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_size)
    SELECT p_size, n_parts, n_lines,
           CAST(round(rev, 2) AS DOUBLE) AS revenue,
           round(CAST(rev AS DOUBLE) / n_lines, 6) AS avg_line_revenue
    FROM g
"""


def value_zero_rate_by_type(events: DataFrame) -> DataFrame:
    """Per event type: how much of the value column is zero vs null
    vs informative, with the mean of the NONZERO values — the
    instrumentation-health readout a pipeline owner checks before
    trusting any value-weighted metric (a type whose zero rate jumps
    is a client emitting defaults, not activity).

    Exact BIGINT counts; the nonzero mean sums as DECIMAL(30,6)
    (msum discipline) with ONE double divide rounded 6dp; the zero
    rate is ONE divide over exact counts.  Scale shape: ONE
    map-side-combined groupBy to |types| rows."""
    nz = F.when((col("value") != 0) & col("value").isNotNull(),
                col("value").cast("decimal(30,6)"))
    g = (events.groupBy("event_type")
         .agg(F.count("*").alias("n_events"),
              F.count_if(col("value") == 0).alias("n_zero"),
              F.count_if(col("value").isNull()).alias("n_null"),
              F.sum(nz).alias("_s"),
              F.count(nz).alias("_n")))
    return g.select(
        "event_type", "n_events", "n_zero", "n_null",
        F.round(col("n_zero") / col("n_events"), 6).alias("zero_rate"),
        F.when(col("_n") > 0,
               F.round(col("_s").cast("double") / col("_n"), 6))
        .alias("mean_nonzero_value"))


VALUE_ZERO_RATE_BY_TYPE_ORACLE = """
    WITH g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(*) FILTER (value = 0) AS BIGINT) AS n_zero,
               CAST(count(*) FILTER (value IS NULL) AS BIGINT)
                   AS n_null,
               sum(CAST(value AS DECIMAL(30,6)))
                   FILTER (value != 0 AND value IS NOT NULL) AS s,
               CAST(count(*) FILTER (value != 0 AND value IS NOT NULL)
                    AS BIGINT) AS n
        FROM events GROUP BY event_type)
    SELECT event_type, n_events, n_zero, n_null,
           round(n_zero / (1.0 * n_events), 6) AS zero_rate,
           CASE WHEN n > 0 THEN round(CAST(s AS DOUBLE) / n, 6)
                ELSE NULL END AS mean_nonzero_value
    FROM g
"""


# ------------------------------------------------- r23 pool


def event_value_cv_by_type(events: DataFrame) -> DataFrame:
    """Per event type: mean / population stddev / coefficient of
    variation of the value column — the instrumentation-stability
    audit next to value_zero_rate_by_type: a type whose cv jumps
    between snapshots changed its value semantics (unit change,
    client bug), even if its mean looks plausible.

    Parity discipline (the order_line_value_corr precedent): per-row
    value and value² round to 6dp and accumulate as exact DECIMALs;
    mean/E[x²] are then each ONE double divide, variance/stddev/cv
    the identical closing float expressions token-for-token in both
    engines.  NULL values are excluded by count(value) (an all-NULL
    type yields NULL stats in both engines); cv is NULL when the
    mean is exactly 0.  Scale shape: one linear scan, map-side
    combined groupBy to |types| rows."""
    g = (events.groupBy("event_type")
         .agg(F.count("*").alias("n_events"),
              F.count("value").alias("n_valued"),
              F.sum(F.round(col("value"), 6)
                    .cast("decimal(30,6)")).alias("_s"),
              F.sum(F.round(col("value") * col("value"), 6)
                    .cast("decimal(38,6)")).alias("_s2")))
    mean = col("_s").cast("double") / col("n_valued")
    ex2 = col("_s2").cast("double") / col("n_valued")
    var = F.greatest(ex2 - mean * mean, F.lit(0.0))
    sd = F.sqrt(var)
    return (g.select("event_type", "n_events", "n_valued",
                     F.round(mean, 6).alias("mean_value"),
                     F.round(sd, 6).alias("stddev_value"),
                     F.when(mean != 0, F.round(sd / mean, 6))
                     .alias("value_cv")))


EVENT_VALUE_CV_BY_TYPE_ORACLE = """
    WITH g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(value) AS BIGINT) AS n_valued,
               sum(CAST(round(value, 6) AS DECIMAL(30,6))) AS s,
               sum(CAST(round(value * value, 6) AS DECIMAL(38,6)))
                   AS s2
        FROM events GROUP BY event_type)
    SELECT event_type, n_events, n_valued,
           round(CAST(s AS DOUBLE) / n_valued, 6) AS mean_value,
           round(sqrt(greatest(CAST(s2 AS DOUBLE) / n_valued
                               - (CAST(s AS DOUBLE) / n_valued)
                               * (CAST(s AS DOUBLE) / n_valued),
                               0.0)), 6) AS stddev_value,
           CASE WHEN CAST(s AS DOUBLE) / n_valued <> 0
                THEN round(sqrt(greatest(CAST(s2 AS DOUBLE) / n_valued
                                - (CAST(s AS DOUBLE) / n_valued)
                                * (CAST(s AS DOUBLE) / n_valued),
                                0.0))
                           / (CAST(s AS DOUBLE) / n_valued), 6)
                ELSE NULL END AS value_cv
    FROM g
"""


def orderstatus_mix_by_month(orders: DataFrame) -> DataFrame:
    """Order-status mix per order month: (month, o_orderstatus,
    n_orders, revenue, status_share) — the fulfillment-pipeline
    health trend (a rising 'O' share says fulfillment is falling
    behind intake; 'F'/'P' drift dates a process change).

    month is date_trunc cast to DATE on BOTH engines (DuckDB yields
    DATE, Spark TIMESTAMP — the monthly_order_growth dialect note);
    revenue rides the exact-DECIMAL msum discipline; status_share is
    ONE divide over the month's window total, computed on the tiny
    (months × ≤3 statuses) rollup only."""
    g = (orders.groupBy(
            F.date_trunc("month", col("o_orderdate")).cast("date")
            .alias("month"),
            "o_orderstatus")
         .agg(F.count("*").alias("n_orders"),
              F.round(F.sum(col("o_totalprice")
                            .cast("decimal(30,6)")), 2)
              .cast("double").alias("revenue")))
    w = Window.partitionBy("month")
    return g.withColumn(
        "status_share",
        F.round(col("n_orders") / F.sum("n_orders").over(w), 6))


ORDERSTATUS_MIX_BY_MONTH_ORACLE = """
    WITH g AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
                   AS month,
               o_orderstatus,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,6))), 2)
                    AS DOUBLE) AS revenue
        FROM orders GROUP BY 1, 2)
    SELECT month, o_orderstatus, n_orders, revenue,
           round(CAST(n_orders AS DOUBLE)
                 / sum(n_orders) OVER (PARTITION BY month), 6)
               AS status_share
    FROM g
"""


def monthly_return_rate(lineitem: DataFrame,
                        orders: DataFrame) -> DataFrame:
    """Returned-line share and priced returned revenue per ORDER
    month — the time axis brand_return_rate lacks: a return-rate
    regression dates to the month it shipped, which is how an ops
    team bisects a packaging/supplier change.

    Scale shape: ONE fact⋈fact join on the order key (bucket
    co-located at 100 TB — the same shape as order_fulfillment_days),
    then a map-side-combined groupBy to ≤|months| rows.  Counts are
    exact BIGINTs, returned revenue exact DECIMAL with one rounded
    cast, the rate ONE 6dp divide."""
    ret = (col("l_returnflag") == "R").cast("long")
    rev = (F.when(col("l_returnflag") == "R",
                  col("l_extendedprice") * (1 - col("l_discount")))
           .otherwise(0.0))
    return (lineitem.join(orders,
                          col("l_orderkey") == col("o_orderkey"))
            .groupBy(F.date_trunc("month", col("o_orderdate"))
                     .cast("date").alias("month"))
            .agg(F.count("*").alias("n_lines"),
                 F.sum(ret).alias("returned_lines"),
                 F.round(F.sum(F.round(rev, 6)
                               .cast("decimal(30,6)")), 2)
                 .cast("double").alias("returned_revenue"))
            .withColumn("return_rate",
                        F.round(col("returned_lines")
                                / col("n_lines"), 6)))


MONTHLY_RETURN_RATE_ORACLE = """
    WITH g AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE)
                   AS month,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1
                             ELSE 0 END) AS BIGINT) AS returned_lines,
               CAST(round(sum(CAST(round(
                        CASE WHEN l_returnflag = 'R'
                             THEN l_extendedprice * (1 - l_discount)
                             ELSE 0.0 END, 6) AS DECIMAL(30,6))), 2)
                    AS DOUBLE) AS returned_revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1)
    SELECT month, n_lines, returned_lines, returned_revenue,
           round(CAST(returned_lines AS DOUBLE) / n_lines, 6)
               AS return_rate
    FROM g
"""
