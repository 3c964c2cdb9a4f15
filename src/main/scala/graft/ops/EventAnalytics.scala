package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral analytics over the raw event stream — the funnel and
  * cohort-retention shapes every product warehouse runs daily, included
  * because a user of the reference pipeline's event store would expect
  * them from a complete engine.
  *
  * Scale posture: both operators key everything by `user_id`. The
  * funnel is ONE shuffle — three windowed conditional minima over the
  * same user partitioning (Catalyst plans a single exchange; the
  * ordered-stage dependency t1 → t2 → t3 is expressed across window
  * passes, not self-joins), then a per-user aggregate that reuses the
  * partitioning. Retention is a user-keyed aggregate, a co-keyed join
  * back, and a (cohort × offset)-keyed distinct count — the
  * `countDistinct` expand is exact; at true 100-TB event volumes swap
  * in the [[Relational.hllMergeDistinct]] sketch union per cell.
  */
object EventAnalytics {

  /** Ordered three-stage funnel: for each user, the first `s1`, the
    * first `s2` AFTER that, the first `s3` after THAT — strict
    * event-time order, so a click before the first view does not count.
    * Timestamps compare at microsecond granularity (the [[graft.Tables
    * .events]] read truncates nanos exactly as DuckDB's µs cast does).
    */
  def funnel(events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.length == 3, "funnel expects exactly three stages")
    val Seq(s1, s2, s3) = stages
    val w = Window.partitionBy("user_id")
    events
      .withColumn("t1",
        min(when(col("event_type") === s1, col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === s2 && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === s3 && col("ts") > col("t2"),
          col("ts"))).over(w))
      .groupBy("user_id")
      .agg(max(col("t1")).as("t_view"), max(col("t2")).as("t_click"),
        max(col("t3")).as("t_purchase"))
      .withColumn("stages_reached",
        when(col("t_view").isNotNull, 1).otherwise(0) +
          when(col("t_click").isNotNull, 1).otherwise(0) +
          when(col("t_purchase").isNotNull, 1).otherwise(0))
  }

  /** Oracle for [[funnel]]: the stage chain as three dependent
    * aggregates (the join form — same fixpoint as the window form). */
  def funnelSql(stages: Seq[String] = Seq("view", "click", "purchase")): String = {
    val Seq(s1, s2, s3) = stages
    s"""WITH e AS (
       |  SELECT user_id, event_type, ts::TIMESTAMP AS ts FROM events
       |), f1 AS (
       |  SELECT user_id,
       |         min(CASE WHEN event_type = '$s1' THEN ts END) AS t_view
       |  FROM e GROUP BY 1
       |), f2 AS (
       |  SELECT e.user_id, any_value(f1.t_view) AS t_view,
       |         min(CASE WHEN e.event_type = '$s2' AND e.ts > f1.t_view
       |                  THEN e.ts END) AS t_click
       |  FROM e JOIN f1 USING (user_id) GROUP BY 1
       |), f3 AS (
       |  SELECT e.user_id, any_value(f2.t_view) AS t_view,
       |         any_value(f2.t_click) AS t_click,
       |         min(CASE WHEN e.event_type = '$s3' AND e.ts > f2.t_click
       |                  THEN e.ts END) AS t_purchase
       |  FROM e JOIN f2 USING (user_id) GROUP BY 1
       |)
       |SELECT user_id, t_view, t_click, t_purchase,
       |       CAST(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END
       |          + CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END
       |          + CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END
       |          AS INTEGER) AS stages_reached
       |FROM f3""".stripMargin
  }

  /** Classic cohort retention: users grouped by first-seen day, counted
    * distinctly on each later activity day, reported as (cohort,
    * day-offset, active-user count). */
  def retention(events: DataFrame): DataFrame = {
    val cohorts = events.groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("cohort_day"))
    events.select(col("user_id"), to_date(col("ts")).as("day"))
      .join(cohorts, "user_id")
      .groupBy("cohort_day", "day")
      .agg(countDistinct(col("user_id")).as("n_active"))
      .select(col("cohort_day").cast("timestamp").as("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"),
        col("n_active"))
  }

  /** Event-type transition matrix — the Markov path-analysis counts
    * behind "where do users go after X": consecutive per-user event
    * pairs, counted by (from, to). One user-keyed window shuffle, then
    * a transition-keyed aggregate over at most |types|² groups.
    * Ordering ties break on event_id over µs-truncated timestamps, so
    * both engines walk identical sequences. */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Oracle for [[transitionMatrix]] — ordering on the µs-cast
    * timestamp so DuckDB's nanosecond reads cannot order ties
    * differently from Spark's µs-truncated ones. */
  val transitionMatrixSql: String =
    """SELECT from_type, to_type, count(*) AS n FROM (
      |  SELECT event_type AS from_type,
      |         lead(event_type, 1) OVER (PARTITION BY user_id
      |           ORDER BY ts::TIMESTAMP, event_id) AS to_type
      |  FROM events)
      |WHERE to_type IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  /** Event-type co-occurrence (market-basket shape): for every pair of
    * event types, how many users performed BOTH. Stage 1 reduces the
    * feed to distinct (user, type) rows — the only scan of the big
    * table and the only data-sized shuffle; stage 2 self-joins that
    * reduction on user_id (per-user fan-out is bounded by |types|, so
    * the join output is ≤ |types|²/2 rows per user) and folds to at
    * most |types|²/2 groups. The canonical basket-analysis plan at any
    * scale. */
  def cooccurrence(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val a = ut.select(col("user_id"), col("event_type").as("type_a"))
    val b = ut.select(col("user_id"), col("event_type").as("type_b"))
    a.join(b, Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      // (user, type_a, type_b) is unique post-distinct, so the plain
      // count IS the distinct user count — no countDistinct rescan
      .agg(count(lit(1)).as("n_users"))
  }

  /** Oracle for [[cooccurrence]]. */
  val cooccurrenceSql: String =
    """WITH ut AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |)
      |SELECT a.event_type AS type_a, b.event_type AS type_b,
      |       count(*) AS n_users
      |FROM ut a JOIN ut b USING (user_id)
      |WHERE a.event_type < b.event_type
      |GROUP BY 1, 2""".stripMargin

  /** Oracle for [[retention]]. */
  val retentionSql: String =
    """WITH c AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      |  FROM events GROUP BY 1
      |)
      |SELECT CAST(c.cohort_day AS TIMESTAMP) AS cohort_day,
      |       CAST(date_diff('day', c.cohort_day, CAST(e.ts AS DATE))
      |            AS INTEGER) AS day_offset,
      |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
      |FROM events e JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  /** Last-touch attribution: each purchase is credited to the LATEST
    * click by the same user at or before it — the marketing-analytics
    * association, which is exactly a backward as-of join
    * ([[graft.ops.AsOfJoin.asOf]]: one shuffle of both sides on
    * `user_id`, union-sort, NO per-key cross product). A purchase is
    * `attributed` only when that click falls inside the lookback
    * window; the daily digest keeps the output small and exact
    * (counts only — rates are a consumer-side division). */
  def lastTouchAttribution(events: DataFrame,
      windowDays: Int = 3): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts")).distinct()
      .withColumn("click_ts", col("ts"))
    AsOfJoin.asOf(purchases, clicks, "user_id", "ts", "click_ts", "click_ts")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(when(col("click_ts").isNotNull &&
          col("click_ts") >= col("ts") - expr(s"INTERVAL $windowDays DAYS"),
          1L).otherwise(0L)).as("n_attributed"),
        sum(when(col("click_ts").isNull, 1L).otherwise(0L)).as("n_no_touch"))
  }

  /** Oracle for [[lastTouchAttribution]] — DuckDB's native ASOF LEFT
    * JOIN expresses the same latest-click-at-or-before association. */
  def lastTouchAttributionSql(windowDays: Int = 3): String =
    s"""WITH p AS (
       |  SELECT event_id, user_id, ts::TIMESTAMP AS ts
       |  FROM events WHERE event_type = 'purchase'
       |), c AS (
       |  SELECT DISTINCT user_id, ts::TIMESTAMP AS click_ts
       |  FROM events WHERE event_type = 'click'
       |)
       |SELECT date_trunc('day', p.ts) AS day,
       |       count(*) AS n_purchases,
       |       CAST(sum(CASE WHEN c.click_ts IS NOT NULL
       |                      AND c.click_ts >= p.ts - INTERVAL $windowDays DAY
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
       |       CAST(sum(CASE WHEN c.click_ts IS NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_no_touch
       |FROM p ASOF LEFT JOIN c
       |  ON p.user_id = c.user_id AND c.click_ts <= p.ts
       |GROUP BY 1""".stripMargin

  /** Top conversion paths (extension) — the ordered-sequence aggregate
    * behind "which journeys convert": each user's first `maxSteps`
    * events as a `>`-joined path string, counted by (path, converted).
    *
    * The ordered list is `collect_list(struct(µs, event_id, type))`
    * sorted AFTER collection — `collect_list` order is
    * partition-private, but `array_sort` over the total (µs, event_id)
    * key makes the sequence engine-identical. Per-user arrays are
    * bounded by the explicit `maxSteps` cap (stated, never silent), so
    * a power user cannot blow an executor; the path table folds to at
    * most |paths| groups. */
  def conversionPaths(events: DataFrame, maxSteps: Int = 8): DataFrame =
    events
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("us"), col("event_id"),
          col("event_type").as("t")).as("step"))
      .groupBy("user_id")
      .agg(collect_list(col("step")).as("steps"))
      .select(col("user_id"),
        expr(s"slice(transform(array_sort(steps), x -> x.t), 1, $maxSteps)")
          .as("path_arr"))
      .select(
        concat_ws(">", col("path_arr")).as("path"),
        array_contains(col("path_arr"), "purchase").as("converted"))
      .groupBy("path", "converted")
      .agg(count(lit(1)).as("n_users"))

  /** Oracle for [[conversionPaths]] — DuckDB's ordered list aggregate
    * sliced to the same cap. */
  def conversionPathsSql(maxSteps: Int = 8): String =
    s"""WITH p AS (
       |  SELECT user_id,
       |         (list(event_type ORDER BY ts::TIMESTAMP, event_id))[1:$maxSteps]
       |           AS path_arr
       |  FROM events GROUP BY 1
       |)
       |SELECT array_to_string(path_arr, '>') AS path,
       |       list_contains(path_arr, 'purchase') AS converted,
       |       count(*) AS n_users
       |FROM p GROUP BY 1, 2""".stripMargin

  /** DAU/MAU stickiness (extension) — the product-health ratio: average
    * daily active users over monthly active users per calendar month.
    * Two distinct-count aggregates: (day → DAU) folds to ≤ 31 rows per
    * month before the tiny month-level average; MAU is one
    * month-keyed distinct count (exact here — at true event scale the
    * [[Relational.hllMergeDistinct]] sketch slots in per month). Only
    * observed days enter the DAU average (a dead day with zero events
    * is invisible to both engines equally). */
  def stickiness(events: DataFrame): DataFrame = {
    val dau = events
      .groupBy(date_trunc("month", col("ts")).as("month"),
        to_date(col("ts")).as("day"))
      .agg(countDistinct(col("user_id")).as("dau"))
      .groupBy("month")
      .agg(count(lit(1)).as("n_days"), sum(col("dau")).as("dau_total"))
    val mau = events
      .groupBy(date_trunc("month", col("ts")).as("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    dau.join(mau, "month")
      .select(col("month"), col("mau"), col("n_days"),
        (col("dau_total").cast("double") / col("n_days").cast("double"))
          .as("avg_dau"),
        (col("dau_total").cast("double") / col("n_days").cast("double")
          / col("mau").cast("double")).as("stickiness"))
  }

  /** Oracle for [[stickiness]]. */
  val stickinessSql: String =
    """WITH d AS (
      |  SELECT date_trunc('month', ts::TIMESTAMP) AS month,
      |         CAST(ts AS DATE) AS day,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM events GROUP BY 1, 2
      |), dm AS (
      |  SELECT month, count(*) AS n_days,
      |         CAST(sum(dau) AS BIGINT) AS dau_total
      |  FROM d GROUP BY 1
      |), m AS (
      |  SELECT date_trunc('month', ts::TIMESTAMP) AS month,
      |         CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      |  FROM events GROUP BY 1
      |)
      |SELECT dm.month, m.mau, dm.n_days,
      |       (CAST(dau_total AS DOUBLE) / CAST(n_days AS DOUBLE))
      |         AS avg_dau,
      |       (CAST(dau_total AS DOUBLE) / CAST(n_days AS DOUBLE)
      |             / CAST(m.mau AS DOUBLE)) AS stickiness
      |FROM dm JOIN m USING (month)""".stripMargin

  /** P3 (extension) — schema-on-read shredding of the raw `props` JSON
    * column: `from_json` with a declared schema, then an exact-integer
    * profile per event type. The pattern every landed semi-structured
    * feed needs before it becomes columns; the declared schema keeps
    * the parse codegen'd and null-safe (malformed JSON → NULL k,
    * counted, never thrown). */
  def propsShred(events: DataFrame): DataFrame =
    events
      .withColumn("k",
        from_json(col("props"), lit("k INT")).getField("k").cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(col("k").isNull, 1)).as("n_null"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))

  /** Oracle for [[propsShred]]. */
  val propsShredSql: String =
    """SELECT event_type, count(*) AS n,
      |       CAST(count(CASE WHEN CAST(props->>'k' AS BIGINT) IS NULL
      |                       THEN 1 END) AS BIGINT) AS n_null,
      |       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
      |       CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
      |       CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
      |FROM events
      |GROUP BY 1""".stripMargin

  /** Time-to-convert quantiles (extension) — per signup-cohort day,
    * the median and p90 latency from a user's first `view` to their
    * first subsequent `purchase`. Latencies are exact µs BIGINTs; the
    * quantiles are selected ELEMENTS of the total (latency, user_id)
    * order — bit-identical in any engine, the [[graft.ops.TradeOps
    * .robustStats]] discipline. Converted users only (an unconverted
    * latency is undefined, not infinite); the per-cohort rank window
    * runs over converted users, not events. */
  def timeToConvert(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    val perUser = events
      .withColumn("tv",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("tp",
        min(when(col("event_type") === "purchase" && col("ts") > col("tv"),
          col("ts"))).over(w))
      .groupBy("user_id")
      .agg(max(col("tv")).as("tv"), max(col("tp")).as("tp"))
      .filter(col("tp").isNotNull)
      .select(col("user_id"), to_date(col("tv")).as("cohort_day"),
        (unix_micros(col("tp")) - unix_micros(col("tv"))).as("lat_us"))
    val byLat = Window.partitionBy("cohort_day")
      .orderBy(col("lat_us"), col("user_id"))
    perUser
      .withColumn("rn", row_number().over(byLat))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cohort_day")))
      .groupBy(col("cohort_day").cast("timestamp").as("cohort_day"))
      .agg(count(lit(1)).as("n_converted"),
        max(when(col("rn") === ceil(lit(0.5) * col("n")), col("lat_us")))
          .as("median_us"),
        max(when(col("rn") === ceil(lit(0.9) * col("n")), col("lat_us")))
          .as("p90_us"))
  }

  /** Oracle for [[timeToConvert]]. */
  val timeToConvertSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view' THEN ts END) AS tv
      |  FROM events GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, any_value(u.tv) AS tv,
      |         min(CASE WHEN e.event_type = 'purchase' AND e.ts > u.tv
      |                  THEN e.ts END) AS tp
      |  FROM events e JOIN u USING (user_id) GROUP BY 1
      |), lat AS (
      |  SELECT user_id, CAST(tv AS DATE) AS cohort_day,
      |         epoch_us(tp) - epoch_us(tv) AS lat_us
      |  FROM p WHERE tp IS NOT NULL
      |), r AS (
      |  SELECT cohort_day, lat_us,
      |         row_number() OVER (PARTITION BY cohort_day
      |           ORDER BY lat_us, user_id) AS rn,
      |         count(*) OVER (PARTITION BY cohort_day) AS n
      |  FROM lat
      |)
      |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
      |       count(*) AS n_converted,
      |       CAST(max(CASE WHEN rn = ceil(0.5 * n) THEN lat_us END)
      |            AS BIGINT) AS median_us,
      |       CAST(max(CASE WHEN rn = ceil(0.9 * n) THEN lat_us END)
      |            AS BIGINT) AS p90_us
      |FROM r GROUP BY 1""".stripMargin

  /** Cohort LTV curves (extension) — cumulative purchase revenue per
    * (first-seen cohort day, account age in days): the curve a growth
    * team reads lifetime value off. Revenue stays in exact cent
    * BIGINTs; the cumulative window runs over the (cohort, age)
    * AGGREGATE — a calendar-sized table — never over user rows. */
  def ltvCurve(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
    val aged = events
      .withColumn("cohort_day", min(to_date(col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("age_days",
        datediff(to_date(col("ts")), col("cohort_day")))
      .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
    val daily = aged.groupBy("cohort_day", "age_days")
      .agg(count(lit(1)).as("n_purchases"), sum(col("vc")).as("rev"))
    val cum = Window.partitionBy("cohort_day").orderBy("age_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(col("cohort_day").cast("timestamp").as("cohort_day"),
      col("age_days").cast("long").as("age_days"), col("n_purchases"),
      sum(col("rev")).over(cum).as("cum_revenue_cents"))
  }

  /** Oracle for [[ltvCurve]]. */
  val ltvCurveSql: String =
    """WITH c AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
      |  FROM events GROUP BY 1
      |), daily AS (
      |  SELECT c.cohort_day,
      |         date_diff('day', c.cohort_day, CAST(e.ts AS DATE)) AS age_days,
      |         count(*) AS n_purchases,
      |         CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
      |           AS rev
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY 1, 2
      |)
      |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
      |       CAST(age_days AS BIGINT) AS age_days, n_purchases,
      |       CAST(sum(rev) OVER (PARTITION BY cohort_day ORDER BY age_days
      |              ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |         AS cum_revenue_cents
      |FROM daily""".stripMargin

  /** Per-user burst detection — the bot/spam-user triage a
    * training-data event pipeline runs before trusting engagement
    * signals: for each user, the MAXIMUM number of events inside any
    * trailing one-hour window, against their total volume. A user whose
    * entire history concentrates into one hour (`burst_ppm` → 10⁶) is
    * a scraper or replay artifact; an even poster sits near
    * `10⁶·window/span`. The window is a RANGE frame over integer epoch
    * micros ([−3600 s + 1 µs, now]) — range frames include all order
    * peers, so simultaneous events can't make the count
    * order-dependent, and the micros are exact BIGINTs in both
    * engines. One user-keyed shuffle serves the range window and the
    * per-user reduce; at 100 TB the frame state is bounded by the
    * densest single user-hour, not the table. */
  def burstDetect(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-(3600L * 1000000 - 1), Window.currentRow)
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("in_hour", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("in_hour")).as("max_1h"))
      .withColumn("burst_ppm", expr("(max_1h * 1000000) div n_events"))
  }

  /** Oracle for [[burstDetect]]. */
  val burstDetectSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts::TIMESTAMP) AS us FROM events
      |), h AS (
      |  SELECT user_id,
      |         count(*) OVER (PARTITION BY user_id ORDER BY us
      |           RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
      |           AS in_hour
      |  FROM e
      |)
      |SELECT user_id, count(*) AS n_events,
      |       CAST(max(in_hour) AS BIGINT) AS max_1h,
      |       (CAST(max(in_hour) AS BIGINT) * 1000000) // count(*)
      |         AS burst_ppm
      |FROM h GROUP BY 1""".stripMargin

  /** E (extension) — inter-arrival time decade histogram per event
    * type: the traffic-shape QC that separates steady feeds from bursty
    * ones (a type whose gap distribution grows a short-gap decade is a
    * retry storm; a new long-gap decade is an outage). The decade is
    * `⌊log₁₀(gap_µs)⌋` computed WITHOUT floating log — as
    * `length(CAST(gap AS STRING)) − 1`, exact and engine-identical for
    * positive integers (log10 the library function is not correctly
    * rounded and can straddle a bucket edge differently per engine).
    * Zero-µs gaps (same-microsecond events) clamp to decade 0. One
    * type-keyed ordered exchange for the lag, one map-side-combined
    * groupBy; ≤ types × 14 rows out at any scale. Σgap telescopes to
    * the type's time span, so the sums cannot overflow BIGINT. */
  def interarrival(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy("event_type")
      .orderBy(col("us"), col("event_id"))
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(ord))
      .filter(col("gap").isNotNull)
      .withColumn("decade", expr(
        "CAST(length(CAST(greatest(gap, 1) AS STRING)) - 1 AS BIGINT)"))
      .groupBy("event_type", "decade")
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap_us"),
        max(col("gap")).as("max_gap_us"),
        sum(col("gap")).as("sum_gap_us"))
  }

  /** Oracle for [[interarrival]]. */
  val interarrivalSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |         us - lag(us, 1) OVER (PARTITION BY event_type
      |           ORDER BY us, event_id) AS gap
      |  FROM (SELECT event_type, event_id, epoch_us(ts::TIMESTAMP) AS us
      |        FROM events)
      |)
      |SELECT event_type,
      |       CAST(length(CAST(greatest(gap, 1) AS VARCHAR)) - 1 AS BIGINT)
      |         AS decade,
      |       count(*) AS n_gaps,
      |       min(gap) AS min_gap_us,
      |       max(gap) AS max_gap_us,
      |       CAST(sum(gap) AS BIGINT) AS sum_gap_us
      |FROM g WHERE gap IS NOT NULL
      |GROUP BY 1, 2""".stripMargin

  /** E (extension) — stationary distribution of the event-type Markov
    * chain: where the user population settles if the observed
    * [[transitionMatrix]] dynamics run forever — the long-run
    * attention share behind "which surface ultimately owns the
    * traffic". ENTIRELY integer so the power iteration is
    * engine-exact: transition probabilities in ppm by floor division
    * of the pair counts, the distribution vector in micro units
    * (Σ ≈ 10⁶), and each of the `rounds` unrolled steps computes
    * `x'_j = Σᵢ (xᵢ·p_ij) div 10⁶` — BIGINT products (≤ 10⁶·10⁶),
    * exact sums, identical floor rounding on both engines (float
    * matrix-vector products would be partition-order-sensitive).
    * Fixed round count = determinism over convergence (the
    * [[graft.ops.Graph]] labelprop call); with ppm resolution 8
    * rounds is past the mixing time of any |types|-sized chain. The
    * iteration state is |types| rows joined to a |types|² matrix —
    * driver-free chained plans, broadcast-sized at any corpus
    * scale. */
  def markovStationary(events: DataFrame, rounds: Int = 8): DataFrame = {
    val pairs = transitionMatrix(events)
    val tot = pairs.groupBy("from_type").agg(sum(col("n")).as("tot"))
    // r17 (the mmrSelect/labelProp lesson): p is referenced by every
    // unrolled round (plus the state seed), so the un-truncated chain
    // re-derived the transition matrix — a full events scan + lag
    // window + pair aggregate — once per reference (12.5 s executor
    // time for 1.6 s of output work at sf0.1). The |types|² ppm matrix
    // is the cheapest table in the chain to pin.
    val p = pairs.join(tot, "from_type")
      .select(col("from_type"), col("to_type"),
        expr("(n * 1000000) div tot").as("p_ppm"))
      .localCheckpoint()
    val states = p.select(col("from_type").as("state")).distinct()
    val nStates = states // broadcast-sized; count via cross-join-free agg
      .agg(count(lit(1)).as("k"))
    var x = states.crossJoin(broadcast(nStates))
      .select(col("state"), expr("1000000 div k").as("x_micro"))
    // r18 adjudication: a broadcast(x) hint on the round join measured
    // SLOWER (1.25 → 1.71 s solo A/B) — AQE already picks the join
    // strategy from runtime sizes here, and the forced per-round
    // broadcast build only added barriers. Left as-is.
    for (_ <- 1 to rounds) {
      x = x.join(p, col("state") === col("from_type"))
        .groupBy(col("to_type").as("state2"))
        .agg(sum(expr("(x_micro * p_ppm) div 1000000")).as("x_micro"))
        .withColumnRenamed("state2", "state")
    }
    x.select(col("state"), col("x_micro"))
  }

  /** Oracle for [[markovStationary]] — the rounds unrolled as chained
    * MATERIALIZED CTEs (DuckDB would inline the multiply-referenced
    * matrix into an exponential plan otherwise). */
  def markovStationarySql(rounds: Int = 8): String = {
    val steps = (1 to rounds).map { r =>
      val prev = if (r == 1) "x0" else s"x${r - 1}"
      s"""x$r AS MATERIALIZED (
         |  SELECT p.to_type AS state,
         |         CAST(sum((x.x_micro * p.p_ppm) // 1000000) AS BIGINT)
         |           AS x_micro
         |  FROM $prev x JOIN p ON x.state = p.from_type
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT from_type, to_type, count(*) AS n FROM (
       |    SELECT event_type AS from_type,
       |           lead(event_type, 1) OVER (PARTITION BY user_id
       |             ORDER BY ts::TIMESTAMP, event_id) AS to_type
       |    FROM events)
       |  WHERE to_type IS NOT NULL
       |  GROUP BY 1, 2
       |), p AS MATERIALIZED (
       |  SELECT from_type, to_type,
       |         (n * 1000000) // sum(n) OVER (PARTITION BY from_type)
       |           AS p_ppm
       |  FROM pairs
       |), x0 AS MATERIALIZED (
       |  SELECT from_type AS state,
       |         1000000 // (SELECT count(DISTINCT from_type) FROM p)
       |           AS x_micro
       |  FROM (SELECT DISTINCT from_type FROM p)
       |),
       |$steps
       |SELECT state, x_micro FROM x$rounds""".stripMargin
  }

  /** E (extension) — Gini–Simpson diversity of user participation per
    * event type: `1 − Σ(n_u/N)²`, the concentration complement every
    * abuse dashboard reads as "is this event type organic or one bot"
    * (the entropy-free diversity index — Shannon needs `ln`, which is
    * not correctly rounded cross-engine; Simpson is pure rational
    * algebra). Exact BIGINT `Σn_u²` with the same overflow guard as
    * [[graft.ops.TradeOps.momentProfile]] (n_users·max(n_u)² ≤
    * 2⁶³−1, checked on wrap-proof counts — past ~3·10⁹ events per
    * user the op fails loudly instead of diverging); the index itself
    * derives through identical IEEE double expressions. Two map-side
    * combined aggregations, |types| rows out. */
  def simpsonDiversity(events: DataFrame): DataFrame =
    events
      .groupBy("event_type", "user_id")
      .agg(count(lit(1)).as("nu"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"), sum(col("nu")).as("n_events"),
        sum(expr("nu * nu")).as("sum_sq"), max(col("nu")).as("mxu"))
      .filter(expr(
        "assert_true(n_users <= (9223372036854775807 " +
          "div greatest(mxu, 1)) div greatest(mxu, 1), " +
          "'simpson_diversity: per-user counts too large for exact " +
          "BIGINT sum of squares — widen to DECIMAL(38,0)') IS NULL"))
      .drop("mxu")
      .withColumn("simpson", expr(
        """1.0 - CAST(sum_sq AS DOUBLE)
          | / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))"""
          .stripMargin))

  /** Oracle for [[simpsonDiversity]] — identical sums and index
    * expression. */
  val simpsonDiversitySql: String =
    """WITH u AS (
      |  SELECT event_type, user_id, count(*) AS nu
      |  FROM events GROUP BY 1, 2
      |)
      |SELECT event_type, count(*) AS n_users,
      |       CAST(sum(nu) AS BIGINT) AS n_events,
      |       CAST(sum(nu * nu) AS BIGINT) AS sum_sq,
      |       1.0::DOUBLE - CAST(sum(nu * nu) AS BIGINT)::DOUBLE
      |         / (CAST(sum(nu) AS BIGINT)::DOUBLE
      |            * CAST(sum(nu) AS BIGINT)::DOUBLE) AS simpson
      |FROM u GROUP BY 1""".stripMargin

  /** E (extension) — seasonal activity heat grid: events by
    * (day-of-week × hour-of-day) per event type, with the share of the
    * type's traffic in exact ppm — the capacity-planning and
    * anomaly-baseline grid ("is Tuesday 3am traffic normal for
    * clicks?"). Weekday numbering pinned to ISO (1=Mon..7=Sun) via
    * explicit formula on both engines (Spark's `dayofweek` is
    * 1=Sunday while DuckDB's `isodow` is ISO — deriving from the
    * epoch-day modulo sidesteps the convention mismatch entirely:
    * 1970-01-01 was a Thursday, so `(epoch_days + 3) % 7 + 1` is
    * ISO). One map-side-combined groupBy; ≤ types·168 rows out. */
  def seasonalProfile(events: DataFrame): DataFrame =
    events
      .withColumn("dow", expr(
        "CAST((datediff(CAST(ts AS DATE), DATE '1970-01-01') + 3) " +
          "% 7 + 1 AS BIGINT)"))
      .withColumn("hr", hour(col("ts")).cast("long"))
      .groupBy("event_type", "dow", "hr")
      .agg(count(lit(1)).as("n_events"))
      .withColumn("share_ppm", expr(
        "(n_events * 1000000) div sum(n_events) OVER " +
          "(PARTITION BY event_type)"))

  /** Oracle for [[seasonalProfile]]. */
  val seasonalProfileSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |         CAST((CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) + 3)
      |              % 7 + 1 AS BIGINT) AS dow,
      |         CAST(hour(ts::TIMESTAMP) AS BIGINT) AS hr,
      |         count(*) AS n_events
      |  FROM events GROUP BY 1, 2, 3
      |)
      |SELECT event_type, dow, hr, n_events,
      |       CAST((n_events * 1000000)
      |         // sum(n_events) OVER (PARTITION BY event_type) AS BIGINT)
      |         AS share_ppm
      |FROM g""".stripMargin

  /** E (extension) — single change-point detection on the daily event
    * rate per type (binary-segmentation step 1): the day that best
    * splits the series into two regimes by maximal
    * |mean_before − mean_after| — the "when did this feed change
    * behavior" triage behind every retry-storm/launch/outage
    * postmortem. ENTIRELY integer: daily counts are exact; the split
    * score cross-multiplies the two means onto one denominator —
    * `|cum·(n−i) − (total−cum)·i| · 10⁶ div (i·(n−i))` — so the argmax
    * compares exact ppm integers (float means would order differently
    * per engine near ties); ties break to the EARLIEST day via a
    * deterministic (score desc, day asc) rank. The heavy stage is one
    * map-side-combined (type, day) count; the scored series is
    * types × days rows — broadcast-sized at any corpus scale (overflow
    * needs total·days > 9·10¹² ppm-scaled, i.e. ~10¹² event-days). */
  def rateChange(events: DataFrame): DataFrame = {
    val ord = Window.partitionBy("event_type").orderBy("day")
    val cumW = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy("event_type")
    val pick = Window.partitionBy("event_type")
      .orderBy(col("score_ppm").desc, col("day").asc)
    events
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
      .withColumn("idx", row_number().over(ord).cast("long"))
      .withColumn("cum", sum(col("c")).over(cumW))
      .withColumn("n_days", count(lit(1)).over(tot))
      .withColumn("total", sum(col("c")).over(tot))
      .filter(col("idx") < col("n_days")) // a split needs both sides
      .withColumn("score_ppm", expr(
        "abs(cum * (n_days - idx) - (total - cum) * idx) * 1000000 " +
          "div (idx * (n_days - idx))"))
      .withColumn("rk", row_number().over(pick))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("day").as("change_day"),
        col("score_ppm"),
        expr("(cum * 1000000) div idx").as("mean_before_ppm"),
        expr("((total - cum) * 1000000) div (n_days - idx)")
          .as("mean_after_ppm"))
  }

  /** E (extension) — composite bot-likelihood triage: the productized
    * join of this tier's signals into ONE ranked list — per user,
    * burstiness ([[burstDetect]]'s max-trailing-hour share), type
    * NARROWNESS (few distinct event types = scripted), and night-hour
    * share (00–06 UTC), folded as an integer-weighted ppm score
    * (50% burst + 30% night + 20% narrowness — weights are exact
    * integer thousandths, every term already ppm, so the fold is pure
    * BIGINT algebra). Emits the top-`topN` by (score desc, user_id) —
    * a deterministic bounded output over the CARDINALITY-REDUCED
    * per-user table (the [[graft.ops.Relational.revenueDeciles]]
    * precedent: aggregate first, rank |users| rows, never rank raw
    * events). One user-keyed range window + two map-side-combined
    * aggregations. */
  def botScore(events: DataFrame, topN: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-(3600L * 1000000 - 1), Window.currentRow)
    val perUser = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("in_hour", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(col("in_hour")).as("max_1h"),
        countDistinct(col("event_type")).as("n_types"),
        sum(when(hour(col("ts")) < 6, 1L).otherwise(0L)).as("n_night"))
    val nTypes = events.agg(
      countDistinct(col("event_type")).as("total_types"))
    val scored = perUser.crossJoin(broadcast(nTypes))
      .withColumn("burst_ppm", expr("(max_1h * 1000000) div n_events"))
      .withColumn("night_ppm", expr("(n_night * 1000000) div n_events"))
      .withColumn("narrow_ppm", expr(
        "1000000 - (n_types * 1000000) div total_types"))
      .withColumn("bot_score_ppm", expr(
        "(burst_ppm * 500 + night_ppm * 300 + narrow_ppm * 200) div 1000"))
    val rank = Window.orderBy(col("bot_score_ppm").desc, col("user_id"))
    scored
      .withColumn("rank", row_number().over(rank).cast("long"))
      .filter(col("rank") <= topN)
      .select(col("rank"), col("user_id"), col("n_events"),
        col("burst_ppm"), col("night_ppm"), col("narrow_ppm"),
        col("bot_score_ppm"))
  }

  /** Oracle for [[botScore]]. */
  def botScoreSql(topN: Int = 20): String =
    s"""WITH e AS (
       |  SELECT user_id, event_type, ts::TIMESTAMP AS ts,
       |         epoch_us(ts::TIMESTAMP) AS us
       |  FROM events
       |), h AS (
       |  SELECT user_id, event_type, ts,
       |         count(*) OVER (PARTITION BY user_id ORDER BY us
       |           RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
       |           AS in_hour
       |  FROM e
       |), u AS (
       |  SELECT user_id, count(*) AS n_events,
       |         CAST(max(in_hour) AS BIGINT) AS max_1h,
       |         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       |         CAST(sum(CASE WHEN hour(ts) < 6 THEN 1 ELSE 0 END)
       |           AS BIGINT) AS n_night
       |  FROM h GROUP BY 1
       |), tt AS (
       |  SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS total_types
       |  FROM events
       |), s AS (
       |  SELECT u.user_id, u.n_events,
       |         (u.max_1h * 1000000) // u.n_events AS burst_ppm,
       |         (u.n_night * 1000000) // u.n_events AS night_ppm,
       |         1000000 - (u.n_types * 1000000) // tt.total_types
       |           AS narrow_ppm
       |  FROM u, tt
       |)
       |SELECT rank, user_id, n_events, burst_ppm, night_ppm, narrow_ppm,
       |       bot_score_ppm
       |FROM (
       |  SELECT CAST(row_number() OVER (
       |           ORDER BY (burst_ppm * 500 + night_ppm * 300
       |                     + narrow_ppm * 200) // 1000 DESC, user_id)
       |           AS BIGINT) AS rank,
       |         user_id, n_events, burst_ppm, night_ppm, narrow_ppm,
       |         (burst_ppm * 500 + night_ppm * 300 + narrow_ppm * 200)
       |           // 1000 AS bot_score_ppm
       |  FROM s)
       |WHERE rank <= $topN""".stripMargin

  /** E (extension) — audience-overlap matrix: exact Jaccard (in ppm)
    * of the DISTINCT user sets behind every event-type pair — the
    * "are these two surfaces the same people or disjoint populations"
    * read that decides whether engagement metrics can be summed or
    * double-count. Exact, not sketched ([[graft.ops.TradeOps]] ships
    * the HLL-intersection estimate tier; this is its truth
    * counterpart): one distinct projection shuffled by user, a
    * user-keyed self-join whose fan-out is bounded by |types|² PER
    * USER (types is a tiny fixed set — the join never quadratically
    * touches the corpus), then broadcast-sized per-type totals.
    * Zero-overlap pairs are absent by inner-join construction.
    * Integer ppm division only. */
  def audienceOverlap(events: DataFrame): DataFrame = {
    val tu = events.select(col("event_type"), col("user_id")).distinct()
    val sizes = tu.groupBy("event_type").agg(count(lit(1)).as("n_users"))
    val a = tu.select(col("event_type").as("type_a"), col("user_id"))
    val b = tu.select(col("event_type").as("type_b"), col("user_id"))
    a.join(b, "user_id").filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n_users").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n_users").as("n_b"))), Seq("type_b"))
      .withColumn("jaccard_ppm",
        expr("(n_common * 1000000) div (n_a + n_b - n_common)"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_common"), col("jaccard_ppm"))
  }

  /** Oracle for [[audienceOverlap]]. */
  val audienceOverlapSql: String =
    """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
      |s AS (SELECT event_type, count(*) AS n_users FROM tu GROUP BY 1),
      |i AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         count(*) AS n_common
      |  FROM tu a JOIN tu b
      |    ON a.user_id = b.user_id AND a.event_type < b.event_type
      |  GROUP BY 1, 2
      |)
      |SELECT i.type_a, i.type_b, sa.n_users AS n_a, sb.n_users AS n_b,
      |       i.n_common,
      |       (i.n_common * 1000000)
      |         // (sa.n_users + sb.n_users - i.n_common) AS jaccard_ppm
      |FROM i JOIN s sa ON sa.event_type = i.type_a
      |       JOIN s sb ON sb.event_type = i.type_b""".stripMargin

  /** Oracle for [[rateChange]] — identical integer split scores and
    * (score desc, day asc) pick. */
  val rateChangeSql: String =
    """WITH daily AS (
      |  SELECT event_type, epoch_us(ts::TIMESTAMP) // 86400000000 AS day,
      |         count(*) AS c
      |  FROM events GROUP BY 1, 2
      |), scored AS (
      |  SELECT event_type, day,
      |         CAST(row_number() OVER w AS BIGINT) AS idx,
      |         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY day
      |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
      |           AS n_days,
      |         CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT)
      |           AS total
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day)
      |), sc AS (
      |  SELECT event_type, day, cum, idx, n_days, total,
      |         abs(cum * (n_days - idx) - (total - cum) * idx) * 1000000
      |           // (idx * (n_days - idx)) AS score_ppm
      |  FROM scored WHERE idx < n_days
      |)
      |SELECT event_type, day AS change_day, score_ppm,
      |       (cum * 1000000) // idx AS mean_before_ppm,
      |       ((total - cum) * 1000000) // (n_days - idx) AS mean_after_ppm
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY event_type
      |            ORDER BY score_ppm DESC, day ASC) AS rk
      |  FROM sc)
      |WHERE rk = 1""".stripMargin

  /** Rolling 7-day active users (WAU) per day — the growth-dashboard
    * staple next to [[stickiness]]'s calendar-month DAU/MAU: for every
    * day in the corpus span, the EXACT count of distinct users active
    * in the trailing 7-day window, the day's DAU, and their ppm ratio.
    *
    * Exact distinct over a sliding window cannot ride a window
    * aggregate (distinct doesn't decompose); the scale shape is the
    * bounded fan-out join: dedup to (user, day) first (one shuffle —
    * the row count drops to active-user-days), explode each row to the
    * 7 window-ends it serves (×7, constant), then one distinct-count
    * aggregate keyed by window_end. DAU rides the SAME aggregate as a
    * conditional distinct (offset 0), so the whole op is two shuffles
    * at any corpus size. Window-ends past the last active day are
    * clipped AFTER the aggregate: a day is active iff its dau > 0, so
    * `max(window_end) FILTER (dau > 0)` over the aggregated
    * days-cardinality table is the last active day — no second fact
    * scan (the broadcast-max formulation re-read events; caught in the
    * plan audit). Ratio is exact integer ppm (`div`). Ref: capability
    * breadth beyond the reference's per-minute aggregation tier
    * (`ProcessStockStream.py:112-123`).
    */
  def rollingWau(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val offs = (0 until 7).map(lit(_))
    val all = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ud.withColumn("o", explode(array(offs: _*)))
      .withColumn("window_end", date_add(col("day"), col("o")))
      .groupBy("window_end")
      .agg(
        countDistinct(col("user_id")).as("wau"),
        countDistinct(when(col("o") === 0, col("user_id"))).as("dau"))
      // the global window runs over |days|+6 rows — broadcast-small
      .withColumn("mx",
        max(when(col("dau") > 0, col("window_end"))).over(all))
      .filter(col("window_end") <= col("mx"))
      .select(col("window_end").cast("timestamp").as("window_end"),
        col("wau"), col("dau"),
        expr("(dau * 1000000) div wau").as("dau_wau_ppm"))
  }

  /** Oracle for [[rollingWau]]. */
  val rollingWauSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), agg AS (
      |  SELECT window_end,
      |         count(DISTINCT user_id) AS wau,
      |         count(DISTINCT CASE WHEN o = 0 THEN user_id END) AS dau
      |  FROM (
      |    SELECT ud.user_id, r.range AS o,
      |           ud.day + CAST(r.range AS INTEGER) AS window_end
      |    FROM ud CROSS JOIN range(0, 7) r
      |  )
      |  GROUP BY 1
      |)
      |SELECT CAST(window_end AS TIMESTAMP) AS window_end, wau, dau,
      |       (dau * 1000000) // wau AS dau_wau_ppm
      |FROM (
      |  SELECT window_end, wau, dau,
      |         max(CASE WHEN dau > 0 THEN window_end END) OVER () AS mx
      |  FROM agg
      |)
      |WHERE window_end <= mx""".stripMargin

  /** Robust daily-rate anomaly flags per event type — the median/MAD
    * outlier rule ("which days spiked beyond 3 robust sigmas?") that
    * survives the heavy-tailed days a mean/stddev z-score would let
    * poison its own baseline ([[graft.ops.TradeOps]] a15 is the
    * z-score form; this is its robust twin). ENTIRELY integer:
    * daily counts, LOWER selected-element medians (`row_number` =
    * `(n+1) div 2` over a deterministic (value, day) order — the repo
    * median rule, no cross-engine interpolation), MAD as the same
    * selected element of |cnt − med|, and the 3σ-equivalent cut
    * `(cnt − med)·10000 > 44478·mad` (3·1.4826 in exact integer
    * ten-thousandths). All medians run on the types × days table —
    * broadcast-small at any corpus size after the one fact-scale
    * (type, day) aggregate. */
  def rateAnomaly(events: DataFrame): DataFrame = {
    val daily = events.groupBy(col("event_type"),
      to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val byType = Window.partitionBy("event_type")
    val ordCnt = Window.partitionBy("event_type")
      .orderBy(col("cnt"), col("day"))
    val med = daily
      .withColumn("rn", row_number().over(ordCnt))
      .withColumn("n", count(lit(1)).over(byType))
      .withColumn("med", max(when(col("rn") === expr("(n + 1) div 2"),
        col("cnt"))).over(byType))
      .withColumn("ad", abs(col("cnt") - col("med")))
    val ordAd = Window.partitionBy("event_type")
      .orderBy(col("ad"), col("day"))
    med
      .withColumn("rn2", row_number().over(ordAd))
      .withColumn("mad", max(when(col("rn2") === expr("(n + 1) div 2"),
        col("ad"))).over(byType))
      .select(col("event_type"), col("day").cast("timestamp").as("day"),
        col("cnt"), col("med"), col("mad"),
        (((col("cnt") - col("med")) * lit(10000L)) >
          lit(44478L) * col("mad")).as("is_anomaly"))
  }

  /** Oracle for [[rateAnomaly]]. */
  val rateAnomalySql: String =
    """WITH daily AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
      |  FROM events GROUP BY 1, 2
      |), m AS (
      |  SELECT event_type, day, cnt,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY cnt, day) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM daily
      |), m2 AS (
      |  SELECT event_type, day, cnt, n,
      |         max(CASE WHEN rn = (n + 1) // 2 THEN cnt END)
      |           OVER (PARTITION BY event_type) AS med
      |  FROM m
      |), a AS (
      |  SELECT event_type, day, cnt, n, med,
      |         abs(cnt - med) AS ad
      |  FROM m2
      |), a2 AS (
      |  SELECT event_type, day, cnt, med, ad, n,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY ad, day) AS rn2
      |  FROM a
      |)
      |SELECT event_type, CAST(day AS TIMESTAMP) AS day, cnt, med,
      |       max(CASE WHEN rn2 = (n + 1) // 2 THEN ad END)
      |         OVER (PARTITION BY event_type) AS mad,
      |       (cnt - med) * 10000 >
      |         44478 * (max(CASE WHEN rn2 = (n + 1) // 2 THEN ad END)
      |                  OVER (PARTITION BY event_type)) AS is_anomaly
      |FROM a2""".stripMargin

  /** E (extension) — user lifespan histogram: per user the whole-day
    * span between first and last event, users bucketed by whole WEEKS
    * of lifespan — the "is this audience tourists or residents" shape
    * every retention review reads next to [[retention]]'s cohort decay
    * (lifespan is the integral the cohort curve only samples).
    * ENTIRELY integer (µs epoch min/max, floor-div days, floor-div
    * weeks); one user-keyed aggregate (map-side combined) + one
    * histogram aggregate on the |users| table; ≤ a few dozen rows out
    * at any corpus size. */
  def lifespanHist(events: DataFrame): DataFrame =
    events
      .withColumn("us", unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(min(col("us")).as("mn"), max(col("us")).as("mx"),
        count(lit(1)).as("n_ev"))
      .withColumn("span_days", expr("(mx - mn) div 86400000000"))
      .groupBy(expr("span_days div 7").as("span_wk"))
      .agg(count(lit(1)).as("n_users"),
        min(col("span_days")).as("min_days"),
        max(col("span_days")).as("max_days"),
        sum(col("n_ev")).as("n_events"))

  /** E (extension, r17) — right-censored SURVIVAL risk table over
    * activity SPELLS (Kaplan-Meier input grain; a NEW class next to
    * [[lifespanHist]] / [[activeStreaks]]: both treat every observed
    * run as complete, which systematically understates the tail — a
    * spell still running when observation ends is not over, it is
    * CENSORED, and survival analysis is the standard correction). A
    * spell is a maximal run of consecutive ACTIVE HOURS for a user
    * (gaps-and-islands on the integer hour index, so the arithmetic
    * is engine-identical by construction); a spell DIES when an
    * inactive hour follows, and is CENSORED when it reaches the
    * corpus' final hour (observation stopped, not the user). Per
    * distinct spell duration, the three KM counts — `n_died`,
    * `n_censored`, `n_at_risk` (spells whose observed duration
    * reaches that length — the reverse-cumulative sum).
    *
    * The survival PROBABILITY itself (Π (n−d)/n) is deliberately NOT
    * emitted: the running product is irreducibly float and
    * libm-dependent, while the risk table is the exact sufficient
    * statistic it derives from — every consumer can fold the product
    * locally. ENTIRELY integer (µs epoch floor-div hours, island
    * offsets, conditional counts).
    *
    * 100-TB posture: one distinct over (user, hour) — map-side
    * combined, grain bounded by users × corpus hours, far below the
    * event count — then ONE user-keyed window (the islands
    * row_number) feeding a spell-keyed aggregate that reuses the
    * partitioning, a broadcast scalar horizon, and a duration-keyed
    * aggregate. The final reverse-cumulative window runs on the
    * duration-grain table, bounded by the corpus span in HOURS, not
    * by rows. */
  def survivalCurve(events: DataFrame): DataFrame = {
    val hourUs = 3600000000L
    val active = events
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $hourUs").as("hr")).distinct()
    val w = Window.partitionBy("user_id").orderBy("hr")
    val spells = active
      .withColumn("island", col("hr") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("duration_hours"), max("hr").as("last_hr"))
    val horizon = active.agg(max("hr").as("corpus_end"))
    val byDuration = spells.crossJoin(broadcast(horizon))
      .withColumn("censored", col("last_hr") === col("corpus_end"))
      .groupBy("duration_hours")
      .agg(sum(when(!col("censored"), 1L).otherwise(0L)).as("n_died"),
        sum(when(col("censored"), 1L).otherwise(0L)).as("n_censored"))
    // reverse-cumulative as a RUNNING sum over the descending order,
    // not an UNBOUNDED FOLLOWING frame: Spark evaluates a running
    // (unboundedPreceding, currentRow) frame incrementally in O(n),
    // while the moving-lower-bound unbounded-following frame
    // re-aggregates the whole tail per row — O(n²) per partition
    // (the Predict.scala scaler-stats lesson; re-learned live when
    // the r17 dense-corpus stress sweep sat in
    // UnboundedFollowingWindowFunctionFrame). Values are identical.
    val reverseCum = Window.orderBy(col("duration_hours").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDuration.withColumn("n_at_risk",
      sum(col("n_died") + col("n_censored")).over(reverseCum))
  }

  /** Oracle for [[survivalCurve]]. */
  val survivalCurveSql: String =
    """WITH h AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS hr
      |  FROM events),
      |s AS (
      |  SELECT user_id,
      |         hr - row_number() OVER (PARTITION BY user_id ORDER BY hr)
      |           AS island, hr
      |  FROM h),
      |sp AS (
      |  SELECT user_id, island, CAST(count(*) AS BIGINT) AS duration_hours,
      |         max(hr) AS last_hr
      |  FROM s GROUP BY 1, 2),
      |t AS (SELECT max(hr) AS corpus_end FROM h),
      |g AS (
      |  SELECT duration_hours,
      |         CAST(count(*) FILTER (WHERE last_hr <> corpus_end) AS BIGINT)
      |           AS n_died,
      |         CAST(count(*) FILTER (WHERE last_hr = corpus_end) AS BIGINT)
      |           AS n_censored
      |  FROM sp, t GROUP BY 1)
      |SELECT duration_hours, n_died, n_censored,
      |       CAST(sum(n_died + n_censored) OVER (ORDER BY duration_hours
      |         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
      |         AS n_at_risk
      |FROM g""".stripMargin

  /** E (extension) — daily new-vs-returning split: per calendar day,
    * how many active users are first-ever-seen that day vs returning —
    * the growth-vs-engagement decomposition of plain DAU (a flat DAU
    * can hide churn exactly replaced by acquisition; this splits it).
    * ENTIRELY integer: first-seen day is a per-user min, the split is
    * one distinct-(day, user) aggregate with a broadcastable |users|
    * first-seen join at 100 TB (or a co-partitioned merge — user-keyed
    * both sides, one exchange each). Days × 1 rows out. */
  def newReturning(events: DataFrame): DataFrame = {
    // first-seen via a whole-partition window over the DISTINCT
    // (day, user) frame instead of a separate aggregate + user-keyed
    // join: same values (min of distinct days IS the first event day),
    // one fewer corpus shuffle, and no join to plan at 100 TB.
    val wU = Window.partitionBy("user_id")
    events
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .withColumn("first_day", min(col("day")).over(wU))
      .groupBy("day")
      .agg(count(lit(1)).as("dau"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .as("n_new"))
      .select(col("day").cast("timestamp").as("day"), col("dau"),
        col("n_new"), (col("dau") - col("n_new")).as("n_returning"))
  }

  /** Oracle for [[newReturning]]. */
  val newReturningSql: String =
    """WITH fs AS (
      |  SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      |  FROM events GROUP BY 1
      |), du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
      |)
      |SELECT CAST(day AS TIMESTAMP) AS day,
      |       count(*) AS dau,
      |       CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_new,
      |       count(*) - CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0
      |         END) AS BIGINT) AS n_returning
      |FROM du JOIN fs USING (user_id)
      |GROUP BY 1""".stripMargin

  /** Oracle for [[lifespanHist]]. */
  val lifespanHistSql: String =
    """WITH u AS (
      |  SELECT user_id, min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx,
      |         count(*) AS n_ev
      |  FROM events GROUP BY 1
      |)
      |SELECT ((mx - mn) // 86400000000) // 7 AS span_wk,
      |       count(*) AS n_users,
      |       min((mx - mn) // 86400000000) AS min_days,
      |       max((mx - mn) // 86400000000) AS max_days,
      |       CAST(sum(n_ev) AS BIGINT) AS n_events
      |FROM u GROUP BY 1""".stripMargin

  /** E (extension, r15) — Pareto concentration curve of user activity:
    * users ranked by event count and cut into ten EXACT-integer rank
    * deciles (`bucket = ⌊10·(rank−1)/n_users⌋` — plain integer
    * algebra, not `ntile`, whose remainder-distribution convention
    * would be an engine-semantics dependency), each emitting its user
    * and event counts plus the cumulative event share — the "top 10%
    * of users produce X% of events" read that [[graft.ops.TradeOps
    * .giniActivity]] compresses to a single index and this op keeps
    * as the full curve. Everything is an exact BIGINT except the one
    * final share division of exact int64s. The global rank window runs
    * over the AGGREGATED user table — the [[graft.ops.TradeOps
    * .giniActivity]] posture: at 100 TB that table is ~millions of
    * rows, and the bucketed prefix-sum rank of [[graft.ops.Relational]]
    * (`distributedRank`) drops in unchanged if it ever isn't. 10 rows
    * out. */
  def paretoShare(events: DataFrame): DataFrame = {
    val byCnt = Window.orderBy(col("n_ev").desc, col("user_id"))
    val all = Window.partitionBy()
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.groupBy("user_id").agg(count(lit(1)).as("n_ev"))
      .withColumn("rn", row_number().over(byCnt).cast("long") - lit(1L))
      .withColumn("nu", count(lit(1)).over(all))
      .withColumn("decile", expr("(rn * 10) div nu + 1"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("n_ev")).as("n_events"))
      .withColumn("cum_events", sum(col("n_events")).over(cum))
      .withColumn("total", sum(col("n_events")).over(all))
      .select(col("decile"), col("n_users"), col("n_events"),
        col("cum_events"),
        (col("cum_events").cast("double") / col("total").cast("double"))
          .as("cum_share"))
  }

  /** Oracle for [[paretoShare]]. */
  val paretoShareSql: String =
    """WITH per AS (
      |  SELECT user_id, count(*) AS n_ev FROM events GROUP BY 1
      |), rk AS (
      |  SELECT n_ev,
      |         CAST(row_number() OVER (ORDER BY n_ev DESC, user_id)
      |           AS BIGINT) - 1 AS rn,
      |         count(*) OVER () AS nu
      |  FROM per
      |), b AS (
      |  SELECT (rn * 10) // nu + 1 AS decile, count(*) AS n_users,
      |         CAST(sum(n_ev) AS BIGINT) AS n_events
      |  FROM rk GROUP BY 1
      |)
      |SELECT decile, n_users, n_events,
      |       CAST(sum(n_events) OVER wc AS BIGINT) AS cum_events,
      |       CAST(CAST(sum(n_events) OVER wc AS BIGINT) AS DOUBLE)
      |         / CAST(CAST(sum(n_events) OVER () AS BIGINT) AS DOUBLE)
      |         AS cum_share
      |FROM b
      |WINDOW wc AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)""".stripMargin

  /** E (extension, r15) — ACTIVE-STREAK histogram: for every user, the
    * longest run of CONSECUTIVE active days, rolled up to
    * (max_streak, n_users) — the habit-strength meter that
    * [[lifespanHist]] (first-to-last span) and [[rollingWau]]
    * (calendar window) both miss: a 30-day lifespan can be one 30-day
    * streak or thirty isolated Mondays. Classic gaps-and-islands on
    * exact integers: distinct (user, day) → day-number minus per-user
    * `row_number` is constant exactly within a consecutive run (days
    * are distinct, so the ordering has no ties in either engine) →
    * island length = count, per-user max, histogram. Plan: one
    * distinct shuffle on (user, day), then the user-keyed window and
    * BOTH downstream aggregates ride hash(user_id) clustering (subset
    * grouping keys satisfy the distribution) — effectively 2 data
    * exchanges + one histogram-sized one; output is bounded by the
    * longest streak, not the corpus. */
  def activeStreaks(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("dn"))
    events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("dn",
        datediff(col("day"), to_date(lit("1970-01-01"))))
      .withColumn("grp", col("dn") - row_number().over(byUser))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id").agg(max(col("len")).as("max_streak"))
      .groupBy("max_streak").agg(count(lit(1)).as("n_users"))
  }

  /** E (extension, r15) — week-over-week CHURN rate: of the users
    * active in ISO week w, how many have NO activity in w+1 — the
    * subscription-health complement to [[retention]] (which keys on
    * cohort age, not calendar) and [[newReturning]] (which keys on
    * first-ever day). Weekly because churn needs ≥2 complete periods
    * and the corpus spans one calendar month; both engines truncate
    * weeks to the same ISO Monday, and "next week" is the exact
    * `+7 days` — no calendar arithmetic to diverge on. Exact counting:
    * distinct (user, week) frame, one self left-join on
    * (user, week+7d) — each row matches ≤1 row, so the join is
    * data-sized and keys on user_id — null-next means churned; the
    * final week is dropped (its "next week" hasn't happened, the
    * standard convention). `churn_rate` is ONE IEEE division of exact
    * counts. Plan: one distinct shuffle + one self-join + week-level
    * aggregates (≤ |weeks| rows from the join onward); at 100 TB the
    * join stays user-co-partitioned. */
  def churnRate(events: DataFrame): DataFrame = {
    val am = events.select(col("user_id"),
      date_trunc("week", col("ts")).as("week")).distinct()
    val nxt = am.select(col("user_id").as("uid2"),
      col("week").as("nweek"))
    val agg = am.join(nxt,
        col("user_id") === col("uid2") &&
          col("week") + expr("INTERVAL 7 DAYS") === col("nweek"),
        "left")
      .groupBy("week")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("nweek").isNull, 1L).otherwise(0L)).as("n_churned"))
    val all = Window.partitionBy()
    agg
      .withColumn("mx", max(col("week")).over(all))
      .filter(col("week") < col("mx"))
      .select(col("week"), col("n_active"), col("n_churned"),
        (col("n_churned").cast("double") / col("n_active").cast("double"))
          .as("churn_rate"))
  }

  /** Oracle for [[churnRate]]. */
  val churnRateSql: String =
    """WITH am AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts::TIMESTAMP)
      |    AS week FROM events
      |), g AS (
      |  SELECT a.week, count(*) AS n_active,
      |         CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END)
      |           AS BIGINT) AS n_churned
      |  FROM am a LEFT JOIN am b
      |    ON a.user_id = b.user_id
      |   AND a.week + INTERVAL 7 DAY = b.week
      |  GROUP BY 1
      |)
      |SELECT week, n_active, n_churned,
      |       CAST(n_churned AS DOUBLE) / CAST(n_active AS DOUBLE)
      |         AS churn_rate
      |FROM g WHERE week < (SELECT max(week) FROM g)""".stripMargin

  /** Oracle for [[activeStreaks]]. */
  val activeStreaksSql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
      |), i AS (
      |  SELECT user_id,
      |         date_diff('day', DATE '1970-01-01', day)
      |           - row_number() OVER (PARTITION BY user_id
      |               ORDER BY day) AS grp
      |  FROM d
      |), s AS (
      |  SELECT user_id, grp, count(*) AS len FROM i GROUP BY 1, 2
      |), m AS (
      |  SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak
      |  FROM s GROUP BY 1
      |)
      |SELECT max_streak, count(*) AS n_users FROM m GROUP BY 1""".stripMargin

  /** E (extension, r17) — CUPED-adjusted A/B experiment readout (a NEW
    * experimentation-analytics class: every existing e_* op describes
    * one population; this one COMPARES two arms, with the
    * variance-reduction correction any real experimentation platform
    * applies before calling a winner). CUPED (Controlled-experiment
    * Using Pre-Experiment Data, Deng et al., WSDM'13): the adjusted
    * metric Y − θ·(X − E[X]) keeps the treatment-effect estimate
    * unbiased while removing the variance explained by the
    * pre-experiment covariate X; θ = cov(X,Y)/var(X) is pooled across
    * arms (the standard choice — per-arm θ would bias the delta).
    *
    * Everything upstream of the final divisions is EXACT INTEGER and
    * oracle-replayable by construction:
    *  - the pre/post boundary is the integer-µs midpoint of the corpus
    *    span (both engines floor-div the same integers);
    *  - X = per-user pre-period event count, Y = per-user post-period
    *    count (conditional integer sums, NOT double `value` sums —
    *    SURVEY §7.4 determinism contract);
    *  - the arm is `user_id % 2` — a deterministic assignment both
    *    engines evaluate identically (the oracle-replayable-sampling
    *    rule, SURVEY §7.4, same as [[graft.ops.Pipeline]]'s
    *    balancedSample);
    *  - θ's numerator n·Σxy − Σx·Σy and denominator n·Σx² − (Σx)² are
    *    BIGINT with pure-DIV overflow guards LOUD on the Spark side
    *    (the term-scale guard n ≤ (MAX div mx) div mx proves the sums
    *    themselves never wrapped — the simpsonDiversity pattern);
    *    DuckDB aggregates in HUGEINT and fails loudly at the BIGINT
    *    cast — both engines stop at the same boundary.
    * The final θ / means / adjusted means are single IEEE expression
    * trees written identically in both engines (correctly-rounded
    * double ops on identical integer inputs ⇒ identical bits);
    * var(X) = 0 degenerates to θ = 0 via CASE, not NaN.
    *
    * 100-TB posture: one map-side-combined aggregation to user grain
    * (the only row-scale shuffle), then a 2-row arm aggregate and a
    * 1-row pooled aggregate broadcast back — no window, no sort, no
    * row-grain join. Output is exactly 2 rows at any corpus size. */
  def cupedAb(events: DataFrame): DataFrame = {
    val maxL = Long.MaxValue
    val u = events
      .select(col("user_id"), expr("unix_micros(ts)").as("t_us"))
      .crossJoin(broadcast(events.agg(
        expr("(min(unix_micros(ts)) + max(unix_micros(ts))) div 2")
          .as("mid_us"))))
      .groupBy("user_id")
      .agg(sum(when(col("t_us") < col("mid_us"), 1L).otherwise(0L)).as("x"),
        sum(when(col("t_us") >= col("mid_us"), 1L).otherwise(0L)).as("y"))
    val pooled = u.agg(
      count(lit(1)).as("p_n"), sum("x").as("p_sx"), sum("y").as("p_sy"),
      sum(expr("x * y")).as("p_sxy"), sum(expr("x * x")).as("p_sxx"),
      max(greatest(col("x"), col("y"))).as("mx"))
      .filter(expr(
        s"""assert_true(
           |  p_n <= ($maxL div greatest(mx, 1)) div greatest(mx, 1)
           |  AND p_sxy <= $maxL div greatest(p_n, 1)
           |  AND p_sxx <= $maxL div greatest(p_n, 1)
           |  AND p_sx <= $maxL div greatest(p_sy, 1)
           |  AND p_sx <= $maxL div greatest(p_sx, 1),
           |  'cuped_ab: moment sums too large for exact BIGINT theta —
           |   widen to DECIMAL(38,0)') IS NULL""".stripMargin))
      .drop("mx")
    u.groupBy(expr("user_id % 2").as("arm"))
      .agg(count(lit(1)).as("n_users"), sum("x").as("sum_x_pre"),
        sum("y").as("sum_y_post"))
      .crossJoin(broadcast(pooled))
      .select(col("arm"), col("n_users"), col("sum_x_pre"),
        col("sum_y_post"), col("p_n"), col("p_sx"),
        expr("""CASE WHEN p_n * p_sxx - p_sx * p_sx = 0 THEN 0.0
                |ELSE CAST(p_n * p_sxy - p_sx * p_sy AS DOUBLE)
                |     / CAST(p_n * p_sxx - p_sx * p_sx AS DOUBLE)
                |END""".stripMargin).as("theta"))
      .withColumn("mean_y",
        expr("CAST(sum_y_post AS DOUBLE) / CAST(n_users AS DOUBLE)"))
      .withColumn("mean_y_adj", expr(
        """CAST(sum_y_post AS DOUBLE) / CAST(n_users AS DOUBLE)
          | - theta * (CAST(sum_x_pre AS DOUBLE) / CAST(n_users AS DOUBLE)
          |            - CAST(p_sx AS DOUBLE) / CAST(p_n AS DOUBLE))"""
          .stripMargin))
      .drop("p_n", "p_sx")
  }

  /** Oracle for [[cupedAb]] — identical integer spine and IEEE trees. */
  val cupedAbSql: String =
    """WITH b AS (
      |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
      |  FROM events),
      |u AS (
      |  SELECT user_id,
      |         CAST(sum(CASE WHEN epoch_us(ts) < b.mid_us
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS x,
      |         CAST(sum(CASE WHEN epoch_us(ts) >= b.mid_us
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS y
      |  FROM events, b GROUP BY user_id, b.mid_us),
      |p AS (
      |  SELECT CAST(count(*) AS BIGINT) AS p_n,
      |         CAST(sum(x) AS BIGINT) AS p_sx,
      |         CAST(sum(y) AS BIGINT) AS p_sy,
      |         CAST(sum(x * y) AS BIGINT) AS p_sxy,
      |         CAST(sum(x * x) AS BIGINT) AS p_sxx
      |  FROM u),
      |a AS (
      |  SELECT user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS n_users,
      |         CAST(sum(x) AS BIGINT) AS sum_x_pre,
      |         CAST(sum(y) AS BIGINT) AS sum_y_post
      |  FROM u GROUP BY 1)
      |SELECT arm, n_users, sum_x_pre, sum_y_post,
      |       CASE WHEN p_n * p_sxx - p_sx * p_sx = 0 THEN 0.0
      |       ELSE CAST(p_n * p_sxy - p_sx * p_sy AS DOUBLE)
      |            / CAST(p_n * p_sxx - p_sx * p_sx AS DOUBLE)
      |       END AS theta,
      |       CAST(sum_y_post AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_y,
      |       CAST(sum_y_post AS DOUBLE) / CAST(n_users AS DOUBLE)
      |         - (CASE WHEN p_n * p_sxx - p_sx * p_sx = 0 THEN 0.0
      |            ELSE CAST(p_n * p_sxy - p_sx * p_sy AS DOUBLE)
      |                 / CAST(p_n * p_sxx - p_sx * p_sx AS DOUBLE)
      |            END)
      |           * (CAST(sum_x_pre AS DOUBLE) / CAST(n_users AS DOUBLE)
      |              - CAST(p_sx AS DOUBLE) / CAST(p_n AS DOUBLE))
      |         AS mean_y_adj
      |FROM a, p""".stripMargin
}
