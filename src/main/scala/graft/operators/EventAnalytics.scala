package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.core.Tables

/** Behavioral analytics over the event stream (the batch side of the
  * E16 family): ordered funnel conversion and weekly cohort retention —
  * the two queries every product-event warehouse runs daily.
  *
  * Both reduce to hash aggregations and equi-joins keyed on `user_id`,
  * so one user-key partitioning serves every stage; nothing is
  * windowed over the full event history and no per-user event list is
  * ever materialized (the funnel is conditional-min chaining, not a
  * sort of each user's timeline). Time arithmetic is integer epoch
  * MICROSECONDS (`unix_micros` / DuckDB `epoch_us`) — exact on both
  * engines, no calendar or timezone semantics to diverge.
  */
object EventAnalytics {

  /** Per-user event relation with integer event time. */
  private def ev(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))

  /** Declared q101: strictly-ordered funnel view → click → purchase.
    * A user converts at stage n+1 only with an event STRICTLY AFTER
    * their stage-n conversion time; each stage is min-after-previous,
    * i.e. a conditional aggregate chained through an equi-join — per
    * user state is one timestamp per stage, never an event list.
    * Output: one row per stage with the surviving user count.
    */
  def q101Funnel(spark: SparkSession, d: String): DataFrame =
    funnel(ev(spark, d), Seq("view", "click", "purchase"))

  /** Strictly-ordered n-stage funnel over (user_id, event_type, us). */
  def funnel(e: DataFrame, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty)
    // chain conditional mins: stage i keeps users with a stage-i event
    // strictly after their stage-(i−1) conversion time
    val survivors = stages.tail.scanLeft(
      e.where(col("event_type") === stages.head)
        .groupBy(col("user_id")).agg(min(col("us")).as("t"))) {
      case (prev, stage) =>
        e.where(col("event_type") === stage)
          .join(prev.select(col("user_id"), col("t").as("pt")), Seq("user_id"))
          .where(col("us") > col("pt"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t"))
    }
    survivors.zip(stages).zipWithIndex.map { case ((s, name), i) =>
      s.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("stage"), lit(name).as("event_type"),
          col("n_users"))
    }.reduce(_ unionByName _)
  }


  val q101Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS vt FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(us) AS ct FROM e JOIN v USING (user_id)
      |      WHERE event_type = 'click' AND us > vt GROUP BY 1),
      |p AS (SELECT e.user_id, min(us) AS pt FROM e JOIN c USING (user_id)
      |      WHERE event_type = 'purchase' AND us > ct GROUP BY 1)
      |SELECT CAST(1 AS INT) AS stage, 'view' AS event_type, count(*) AS n_users FROM v
      |UNION ALL SELECT CAST(2 AS INT), 'click', count(*) FROM c
      |UNION ALL SELECT CAST(3 AS INT), 'purchase', count(*) FROM p""".stripMargin

  /** Declared q102: weekly cohort retention. Cohort = the user's first
    * active epoch-week; retention row (cohort, k) counts the cohort's
    * users active in week cohort+k, k ≤ 3. Active weeks deduplicate
    * per (user, week) BEFORE the cohort join, so the join and final
    * aggregate see at most users×weeks rows, not raw events.
    */
  def q102CohortRetention(spark: SparkSession, d: String): DataFrame =
    cohortRetention(ev(spark, d), maxOffset = 3)

  /** Weekly cohort retention over (user_id, us). */
  def cohortRetention(e: DataFrame, maxOffset: Int): DataFrame = {
    val weekly = e
      .select(col("user_id"), expr("us div 604800000000").as("w"))
      .distinct()
    val cohorts = weekly.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
    weekly.join(cohorts, Seq("user_id"))
      .where(col("w") - col("cw") <= maxOffset)
      .groupBy(col("cw").as("cohort_week"),
        (col("w") - col("cw")).cast("int").as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  val q102Sql: String =
    """WITH weekly AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w FROM events),
      |coh AS (SELECT user_id, min(w) AS cw FROM weekly GROUP BY 1)
      |SELECT cw AS cohort_week, CAST(w - cw AS INT) AS week_offset,
      |  count(*) AS n_users
      |FROM weekly JOIN coh USING (user_id)
      |WHERE w - cw <= 3
      |GROUP BY 1, 2""".stripMargin

  /** Declared q103: time-series regularization — the dense
    * 15-minute-bucket frame per event type over the corpus span, with
    * empty buckets zero-filled and the per-bucket average value
    * carried forward (LOCF) across gaps. The dense frame is
    * span-bounded metadata (types × buckets, independent of event
    * count) built from one broadcast min/max row; observed buckets
    * reduce out of the raw events with one hash aggregate; the fill
    * is a per-type running `last(ignoreNulls)` window over the dense
    * frame — never over raw events. Averages go through DECIMAL so
    * both engines sum exactly (the q33 discipline); LOCF then copies
    * those exact values, so no float-order divergence exists to
    * round away.
    */
  def q103Gapfill(spark: SparkSession, d: String): DataFrame = {
    val bucketUs = 900000000L // 15 minutes
    val e = Tables.events(spark, d).select(col("event_type"),
      expr(s"unix_micros(ts) div $bucketUs").as("bucket"), col("value"))
    val observed = e.groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        avg(col("value").cast("decimal(12,4)")).cast("double").as("avg_v"))
    val span = e.agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
    val frame = e.select(col("event_type")).distinct()
      .crossJoin(broadcast(
        span.select(explode(sequence(col("b0"), col("b1"))).as("bucket"))))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame.join(observed, Seq("event_type", "bucket"), "left")
      .select(col("event_type"), col("bucket"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("avg_v"), ignoreNulls = true).over(w).as("filled_avg"))
  }

  val q103Sql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) // 900000000 AS bucket, value FROM events),
      |c AS (SELECT event_type, bucket, count(*) AS n,
      |        CAST(avg(CAST(value AS DECIMAL(12,4))) AS DOUBLE) AS avg_v
      |      FROM e GROUP BY 1, 2),
      |span AS (SELECT min(bucket) AS b0, max(bucket) AS b1 FROM e),
      |frame AS (SELECT t.event_type, h.bucket
      |          FROM (SELECT DISTINCT event_type FROM e) t
      |          CROSS JOIN (SELECT unnest(range(b0, b1 + 1)) AS bucket FROM span) h)
      |SELECT f.event_type, f.bucket, coalesce(c.n, 0) AS n_events,
      |  last_value(c.avg_v IGNORE NULLS) OVER (
      |    PARTITION BY f.event_type ORDER BY f.bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
      |FROM frame f LEFT JOIN c USING (event_type, bucket)""".stripMargin

  /** Declared q105: first-order Markov transition matrix over the
    * event stream — for each (from_type, to_type) pair of CONSECUTIVE
    * events of the same user, the transition count and the row-
    * normalized probability P(to | from). This is the "what do users
    * do next" model behind next-action prediction and anomalous-flow
    * detection.
    *
    * Ordering within a user is (event time, event_id) — the id
    * tiebreak makes the successor total and engine-reproducible under
    * equal timestamps. Shape at scale: ONE shuffle on `user_id` feeds
    * the lead() window (each user's timeline sorts within its own
    * partition — no global sort), the pair aggregate reuses nothing
    * bigger than types×types rows, and the normalizing window runs
    * over that tiny aggregate, not the events.
    */
  def q105Transitions(spark: SparkSession, d: String): DataFrame =
    transitions(Tables.events(spark, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id")))

  /** Transition matrix over (user_id, event_type, us, event_id). */
  def transitions(e: DataFrame): DataFrame = {
    val timeline = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val pairs = e
      .withColumn("to_type", lead(col("event_type"), 1).over(timeline))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val perFrom = Window.partitionBy(col("from_type"))
    pairs.select(col("from_type"), col("to_type"), col("n"),
      (col("n").cast("double") /
        sum(col("n")).over(perFrom).cast("double")).as("p"))
  }

  val q105Sql: String =
    """WITH o AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events),
      |t AS (SELECT event_type AS from_type, to_type, count(*) AS n
      |      FROM o WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
      |  CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      |FROM t""".stripMargin

  /** Declared q106: 3-step session path mining — the count of each
    * consecutive event-type trigram WITHIN a 30-minute-gap session
    * (the "common user journeys" report). Builds on the q66
    * sessionization trick, but everything — the lag that opens
    * sessions, the cumulative session id, and both leads — runs over
    * the SAME user_id partitioning, so the whole query is one shuffle
    * of the events plus a trigram-sized hash aggregate. Session
    * boundaries are enforced by leading the session id alongside the
    * event type and requiring all three to agree; no (user, session)
    * re-partitioning ever happens.
    */
  def q106SessionPaths(spark: SparkSession, d: String): DataFrame =
    sessionPaths(Tables.events(spark, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id")),
      gapUs = 30L * 60 * 1000 * 1000)

  /** Consecutive event-type trigrams within gap-based sessions, over
    * (user_id, event_type, us, event_id).
    */
  def sessionPaths(e: DataFrame, gapUs: Long): DataFrame = {
    val timeline = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val run = timeline.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e
      .withColumn("__prev", lag(col("us"), 1).over(timeline))
      .withColumn("__ns",
        when(col("__prev").isNull || col("us") - col("__prev") >= gapUs, 1)
          .otherwise(0))
      .withColumn("__sid", sum(col("__ns")).over(run))
      .withColumn("s2", lead(col("event_type"), 1).over(timeline))
      .withColumn("s3", lead(col("event_type"), 2).over(timeline))
      .withColumn("__sid3", lead(col("__sid"), 2).over(timeline))
      // sid is nondecreasing along the timeline, so sid3 == sid pins
      // the middle event's session too
      .where(col("__sid3") === col("__sid"))
      .groupBy(col("event_type").as("s1"), col("s2"), col("s3"))
      .agg(count(lit(1)).as("n"))
  }

  val q106Sql: String =
    """WITH l AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
      |    lag(epoch_us(ts)) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |s AS (
      |  SELECT user_id, event_type, us, event_id,
      |    sum(CASE WHEN prev IS NULL OR us - prev >= 1800000000
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM l),
      |p AS (
      |  SELECT event_type AS s1,
      |    lead(event_type, 1) OVER w AS s2,
      |    lead(event_type, 2) OVER w AS s3,
      |    sid,
      |    lead(sid, 2) OVER w AS sid3
      |  FROM s
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
      |SELECT s1, s2, s3, CAST(count(*) AS BIGINT) AS n
      |FROM p WHERE sid3 = sid GROUP BY 1, 2, 3""".stripMargin

  /** Declared q108: rolling z-score anomaly detection over hourly
    * event volumes — for each (event_type, hour bucket), the count,
    * the trailing-24-bucket mean/stddev (current bucket EXCLUDED so a
    * spike can't mask itself), the z-score, and an anomaly flag at
    * |z| > 2. Buckets with fewer than 12 trailing observations or
    * zero variance are suppressed (cold start / constant series).
    *
    * Scale shape: the events collapse to a (types × hours) aggregate
    * FIRST — one small shuffle — and every window runs over that
    * aggregate, partitioned by event_type; nothing windows over raw
    * events. At 100 TB the aggregate is still only types × hours rows.
    */
  def q108Anomaly(spark: SparkSession, d: String): DataFrame =
    anomalyZscore(Tables.events(spark, d)
      .select(col("event_type"), unix_micros(col("ts")).as("us")),
      bucketUs = 3600L * 1000 * 1000, trail = 24, minObs = 12, thresh = 2.0)

  /** Rolling z-score over bucketed counts of (event_type, us). */
  def anomalyZscore(e: DataFrame, bucketUs: Long, trail: Int,
      minObs: Int, thresh: Double): DataFrame = {
    val counts = e
      .groupBy(col("event_type"),
        (col("us") - pmod(col("us"), lit(bucketUs))).as("bucket"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(-trail, -1)
    counts
      .withColumn("mu", avg(col("n")).over(w))
      .withColumn("sd", stddev_samp(col("n")).over(w))
      .withColumn("n_obs", count(col("n")).over(w))
      .where(col("n_obs") >= minObs && col("sd") > 0)
      .select(col("event_type"), col("bucket"), col("n"), col("mu"),
        col("sd"),
        ((col("n") - col("mu")) / col("sd")).as("z"),
        (abs((col("n") - col("mu")) / col("sd")) > thresh).as("is_anomaly"))
  }

  /** Declared q113: 7-day rolling distinct active users per observed
    * day — the DAU/WAU family's expensive member, because COUNT
    * DISTINCT does not decompose over a sliding window (you cannot sum
    * daily distincts). The classic exact trick: dedup to (user, day)
    * pairs, then each pair CONTRIBUTES ITSELF to the 7 target days
    * [day, day+6] via one `explode(sequence(...))` — a bounded 7×
    * row expansion — and a single distinct-aggregate per target day
    * finishes it. Target days are semi-joined to observed days so the
    * output carries no phantom trailing days.
    *
    * Scale shape: raw events collapse to distinct (user, day) in one
    * shuffle; the 7× expansion is map-side; the final count-distinct
    * shuffles (user, target-day) pairs — 7× the daily-active relation,
    * independent of raw event count. No window ever sees raw events,
    * and no day requires re-scanning its trailing week.
    */
  def q113RollingDau(spark: SparkSession, d: String): DataFrame =
    rollingDistinctUsers(Tables.events(spark, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us")), windowDays = 7)

  /** Rolling `windowDays`-day distinct users over (user_id, us). */
  def rollingDistinctUsers(e: DataFrame, windowDays: Int): DataFrame = {
    val dayUs = 86400L * 1000 * 1000
    val pairs = e
      .select(col("user_id"), (col("us") - pmod(col("us"), lit(dayUs))).as("day"))
      .distinct()
    val observed = pairs.select(col("day")).distinct()
    pairs
      .select(col("user_id"),
        explode(sequence(col("day"),
          col("day") + lit((windowDays - 1) * dayUs), lit(dayUs))).as("day"))
      .join(observed, Seq("day"), "left_semi")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  /** Last-touch attribution — for every conversion event, the most
    * recent qualifying touch (same user, strictly earlier, within the
    * lookback window): the marketing-analytics primitive behind
    * "which click gets credit for this purchase".
    *
    * Scale shape: ONE shuffle on the user key; within each user
    * partition a running `max` over (touch-events only, rows strictly
    * before the current one) carries the latest touch timestamp to
    * every row — no self-join, no per-conversion rescan of the
    * trailing window. Ordering ties break on event_id (the q105
    * discipline) so equal-timestamp touch/conversion rows resolve
    * deterministically.
    */
  def lastTouchAttribution(events: DataFrame, touchType: String,
      convType: String, lookbackUs: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("__touch_us",
        max(when(col("event_type") === touchType, col("us"))).over(w))
      .where(col("event_type") === convType)
      .select(col("user_id"), col("event_id"), col("us").as("conv_us"),
        when(col("__touch_us") >= col("us") - lit(lookbackUs),
          col("__touch_us")).as("touch_us"))
  }

  /** Declared q127: purchases attributed to the latest click in the
    * preceding 7 days.
    */
  def q127Attribution(spark: SparkSession, d: String): DataFrame =
    lastTouchAttribution(
      Tables.events(spark, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us")),
      touchType = "click", convType = "purchase",
      lookbackUs = 7L * 86400L * 1000 * 1000)

  val q127Sql: String =
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |t AS (
      |  SELECT *,
      |    max(CASE WHEN event_type = 'click' THEN us END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      |  FROM e)
      |SELECT user_id, event_id, us AS conv_us,
      |  CASE WHEN touch >= us - 604800000000 THEN touch END AS touch_us
      |FROM t WHERE event_type = 'purchase'""".stripMargin

  val q113Sql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(ts) - (epoch_us(ts) % 86400000000) AS day
      |  FROM events),
      |expanded AS (
      |  SELECT user_id, day + i * 86400000000 AS day
      |  FROM pairs, range(0, 7) r(i)),
      |observed AS (SELECT DISTINCT day FROM pairs)
      |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
      |FROM expanded
      |WHERE day IN (SELECT day FROM observed)
      |GROUP BY day""".stripMargin

  /** Declared q128: the session TABLE behind q106's paths — one row
    * per gap-delimited session with its span and event count (the
    * relation every downstream engagement metric joins against).
    * Same single user-key shuffle as q106: the gap lag, the cumulative
    * session ordinal, and the per-session rollup all ride one
    * `user_id` partitioning; the final groupBy keys on
    * (user_id, session_id), so its exchange moves only map-side
    * combined session rows — session cardinality, not event
    * cardinality. Nothing here is a full-history window or a per-user
    * event list, so the plan is unchanged at 100 TB.
    */
  def q128Sessionize(spark: SparkSession, d: String): DataFrame =
    sessionize(Tables.events(spark, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id")),
      gapUs = 30L * 60 * 1000 * 1000)

  /** Gap-based sessionization over (user_id, us, event_id): one row
    * per session with start/end/duration/event count.
    */
  def sessionize(e: DataFrame, gapUs: Long): DataFrame = {
    val timeline = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val run = timeline.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e
      .withColumn("__prev", lag(col("us"), 1).over(timeline))
      .withColumn("__ns",
        when(col("__prev").isNull || col("us") - col("__prev") >= gapUs, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("__ns")).over(run))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"),
        count(lit(1)).as("n_events"))
      .withColumn("duration_us", col("end_us") - col("start_us"))
  }

  val q128Sql: String =
    """WITH l AS (
      |  SELECT user_id, epoch_us(ts) AS us, event_id,
      |    lag(epoch_us(ts)) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |s AS (
      |  SELECT user_id, us,
      |    CAST(sum(CASE WHEN prev IS NULL OR us - prev >= 1800000000
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      |  FROM l)
      |SELECT user_id, session_id,
      |  min(us) AS start_us, max(us) AS end_us,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  max(us) - min(us) AS duration_us
      |FROM s GROUP BY user_id, session_id""".stripMargin

  /** Declared q135: the daily engagement report on the q128 session
    * table — sessions, bounce rate (single-event sessions), converting
    * sessions (contain a purchase), and mean duration per start day.
    * The conversion flag rides the q128 rollup as one more `max(when)`
    * aggregate, so the whole report is STILL the single user-key
    * shuffle plus a days-cardinality re-aggregate; days are integer
    * epoch-µs day indexes (no calendar/timezone semantics to diverge).
    */
  def q135SessionKpis(spark: SparkSession, d: String): DataFrame =
    sessionKpis(Tables.events(spark, d)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id")),
      gapUs = 30L * 60 * 1000 * 1000, convType = "purchase")

  /** Daily session KPIs over (user_id, event_type, us, event_id). */
  def sessionKpis(e: DataFrame, gapUs: Long, convType: String): DataFrame = {
    val timeline = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val run = timeline.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = e
      .withColumn("__prev", lag(col("us"), 1).over(timeline))
      .withColumn("__ns",
        when(col("__prev").isNull || col("us") - col("__prev") >= gapUs, 1)
          .otherwise(0))
      .withColumn("__sid", sum(col("__ns")).over(run))
      .groupBy(col("user_id"), col("__sid"))
      .agg(
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"),
        count(lit(1)).as("n_events"),
        max(when(col("event_type") === convType, 1L).otherwise(0L))
          .as("conv"))
    sessions
      .groupBy(floor(col("start_us") / lit(86400000000L)).cast(LongType)
        .as("day"))
      .agg(
        count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("bounces"),
        sum(col("conv")).as("conv_sessions"),
        avg((col("end_us") - col("start_us")).cast(DoubleType))
          .as("avg_duration_us"))
      .withColumn("bounce_rate",
        col("bounces").cast(DoubleType) / col("n_sessions"))
      .withColumn("conv_rate",
        col("conv_sessions").cast(DoubleType) / col("n_sessions"))
  }

  val q135Sql: String =
    """WITH l AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
      |    lag(epoch_us(ts)) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |s AS (
      |  SELECT user_id, event_type, us,
      |    sum(CASE WHEN prev IS NULL OR us - prev >= 1800000000
      |             THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |            ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM l),
      |sess AS (
      |  SELECT user_id, sid, min(us) AS start_us, max(us) AS end_us,
      |    count(*) AS n_events,
      |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      |  FROM s GROUP BY user_id, sid)
      |SELECT CAST(floor(start_us / 86400000000) AS BIGINT) AS day,
      |  CAST(count(*) AS BIGINT) AS n_sessions,
      |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS bounces,
      |  CAST(sum(conv) AS BIGINT) AS conv_sessions,
      |  avg(CAST(end_us - start_us AS DOUBLE)) AS avg_duration_us,
      |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS bounce_rate,
      |  CAST(sum(conv) AS DOUBLE) / count(*) AS conv_rate
      |FROM sess GROUP BY 1""".stripMargin

  /** Exponential time-decay engagement scoring — the recency-weighted
    * activity signal ranking/freshness pipelines keep per entity:
    * score(u) = Σ_events 0.5^(age_days / halfLifeDays), age measured
    * from the corpus max timestamp (a broadcast 1-row aggregate — no
    * wall-clock dependence, so the score is reproducible and
    * oracle-checkable). One scan + one user-key hash aggregate;
    * `pow` over exact integer epoch-µs differences keeps both engines
    * bit-comparable under the 1e-6 compare.
    */
  def decayEngagement(events: DataFrame, userCol: String, tsCol: String,
      halfLifeDays: Double): DataFrame = {
    val us = unix_micros(col(tsCol))
    val maxTs = events.agg(max(us).as("__max_us"))
    events.select(col(userCol).as("user_id"), us.as("__us"))
      .crossJoin(broadcast(maxTs))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(pow(lit(0.5),
          (col("__max_us") - col("__us")).cast(DoubleType) /
            lit(86400e6 * halfLifeDays))).as("decay_score"))
  }

  /** Declared q141: 7-day-half-life engagement over the events table. */
  def q141DecayEngagement(spark: SparkSession, d: String): DataFrame =
    decayEngagement(graft.core.Tables.events(spark, d), "user_id", "ts",
      halfLifeDays = 7.0)

  val q141Sql: String =
    """WITH m AS (SELECT max(epoch_us(ts)) AS max_us FROM events)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  sum(pow(0.5, CAST(m.max_us - epoch_us(ts) AS DOUBLE) / 604800000000.0))
      |    AS decay_score
      |FROM events CROSS JOIN m
      |GROUP BY user_id""".stripMargin

  /** Kaplan–Meier survival estimate over right-censored lifetimes —
    * S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) where dᵢ lifetimes END at tᵢ and
    * nᵢ are still at risk. Rows with `censoredCol` true left
    * observation while still alive — they shrink the risk set without
    * contributing a death, which is the whole point of KM over a
    * naive duration histogram.
    *
    * Scale shape: the lifetime relation collapses to a
    * (duration → deaths, totals) support in one hash aggregate —
    * bounded by DISTINCT durations, not lifetimes. Risk sets and the
    * cumulative log-product both come from
    * [[Relational.orderedPrefixSums]] (range-partitioned above the
    * small-support cutoff); the product is `exp(Σ ln(1−dᵢ/nᵢ))` with
    * the dᵢ = nᵢ terminal factor handled by an explicit zero flag
    * rather than ln(0).
    */
  def kaplanMeier(lifetimes: DataFrame, durationCol: String,
      censoredCol: String): DataFrame = {
    val sup = lifetimes
      .groupBy(col(durationCol).as("__t"))
      .agg(sum(when(col(censoredCol), 0L).otherwise(1L)).as("__d"),
        count(lit(1)).as("__a"))
    val risked = Relational
      .orderedPrefixSums(sup, "__t", Seq("__ca" -> col("__a")))
      .withColumn("__n_risk", col("__ca_total") - col("__ca") + col("__a"))
    val factored = risked
      .withColumn("__lnf",
        when(col("__d") < col("__n_risk"),
          log(lit(1.0) - col("__d") / col("__n_risk"))).otherwise(0.0))
      .withColumn("__z",
        when(col("__d") >= col("__n_risk") && col("__d") > 0, 1.0)
          .otherwise(0.0))
    Relational
      .orderedPrefixSums(factored, "__t",
        Seq("__cl" -> col("__lnf"), "__cz" -> col("__z")))
      .where(col("__d") > 0)
      .select(col("__t").as("t_minutes"),
        col("__n_risk").cast("long").as("n_risk"),
        col("__d").as("n_events"),
        (col("__a") - col("__d")).as("n_censored"),
        when(col("__cz") > 0, 0.0).otherwise(exp(col("__cl")))
          .as("survival"))
  }

  /** Declared q152: session-duration survival. Lifetimes are
    * [[sessionize]]d sessions (30-min gap) measured in whole minutes;
    * a session whose last event falls within one gap of the end of
    * observation is right-censored — it may still be open, we only
    * know its duration is AT LEAST what we saw, which is exactly the
    * information KM's risk-set accounting preserves.
    */
  def q152Survival(spark: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val e = Tables.events(spark, d).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"))
    val m = e.agg(max(col("us")).as("__max_us"))
    val lifetimes = sessionize(e, gapUs).crossJoin(broadcast(m)).select(
      expr("duration_us div 60000000").as("t_minutes"),
      (col("end_us") > col("__max_us") - gapUs).as("censored"))
    kaplanMeier(lifetimes, "t_minutes", "censored")
  }

  val q152Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |m AS (SELECT max(us) AS max_us FROM e),
      |t AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END
      |      AS ns
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sid AS (
      |  SELECT user_id, us,
      |    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                  ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM t),
      |sess AS (
      |  SELECT user_id, session_id, min(us) AS s, max(us) AS en
      |  FROM sid GROUP BY 1, 2),
      |lt AS (
      |  SELECT (en - s) // 60000000 AS t_minutes,
      |    CASE WHEN en > m.max_us - 1800000000 THEN 1 ELSE 0 END AS cens
      |  FROM sess CROSS JOIN m),
      |sup AS (
      |  SELECT t_minutes, sum(1 - cens) AS d, count(*) AS a
      |  FROM lt GROUP BY 1),
      |pre AS (
      |  SELECT t_minutes, d, a,
      |    CAST(sum(a) OVER (ORDER BY t_minutes) AS DOUBLE) AS ca,
      |    CAST((SELECT sum(a) FROM sup) AS DOUBLE) AS tot
      |  FROM sup),
      |r AS (
      |  SELECT t_minutes, d, a, tot - ca + a AS n_risk FROM pre),
      |f AS (
      |  SELECT t_minutes, d, a, n_risk,
      |    CASE WHEN d < n_risk THEN ln(1 - d / n_risk) ELSE 0.0 END
      |      AS lnf,
      |    CASE WHEN d >= n_risk AND d > 0 THEN 1.0 ELSE 0.0 END AS z
      |  FROM r),
      |s AS (
      |  SELECT t_minutes, d, a, n_risk,
      |    sum(lnf) OVER (ORDER BY t_minutes) AS cl,
      |    sum(z) OVER (ORDER BY t_minutes) AS cz
      |  FROM f)
      |SELECT CAST(t_minutes AS BIGINT) AS t_minutes,
      |  CAST(n_risk AS BIGINT) AS n_risk,
      |  CAST(d AS BIGINT) AS n_events,
      |  CAST(a - d AS BIGINT) AS n_censored,
      |  CASE WHEN cz > 0 THEN 0.0 ELSE exp(cl) END AS survival
      |FROM s WHERE d > 0""".stripMargin

  /** Slowly-changing-dimension Type 2 history build from an event
    * stream — collapse each key's attribute timeline into validity
    * intervals (valid_from, valid_to, is_current), the warehouse
    * dimension-table shape every CDC/ELT stack maintains. Consecutive
    * equal values merge into one interval; each change closes the
    * previous interval at the new value's start (end-exclusive).
    *
    * Scale shape: ONE shuffle on the key; both windows (change-point
    * lag, interval-close lead) and the change-point filter run on that
    * same (key, time) sort order, so Catalyst plans a single exchange
    * and a single sort — no per-key arrays, no join. State per row is
    * one lag/lead value.
    */
  def scdType2(events: DataFrame, keyCol: String, attrCol: String,
      tsCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val changes = events
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .where(col("__prev").isNull || col(attrCol) =!= col("__prev"))
    changes
      .withColumn("valid_to_us", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(attrCol),
        col(tsCol).as("valid_from_us"), col("valid_to_us"),
        col("valid_to_us").isNull.as("is_current"))
  }

  /** Declared q155: SCD2 history of each user's event_type "state"
    * (runs of equal consecutive types become validity intervals).
    */
  def q155Scd2(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d).select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
    scdType2(e, "user_id", "event_type", "us", "event_id")
  }

  val q155Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS valid_from_us,
      |    event_id
      |  FROM events),
      |c AS (
      |  SELECT *, lag(event_type) OVER w AS prev
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id
      |               ORDER BY valid_from_us, event_id)),
      |ch AS (
      |  SELECT user_id, event_type, valid_from_us, event_id
      |  FROM c WHERE prev IS NULL OR event_type <> prev)
      |SELECT user_id, event_type, valid_from_us,
      |  lead(valid_from_us) OVER w AS valid_to_us,
      |  lead(valid_from_us) OVER w IS NULL AS is_current
      |FROM ch
      |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from_us, event_id)""".stripMargin

  val q108Sql: String =
    """WITH c AS (
      |  SELECT event_type,
      |    epoch_us(ts) - (epoch_us(ts) % 3600000000) AS bucket,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, bucket, n,
      |    avg(n) OVER w AS mu,
      |    stddev_samp(n) OVER w AS sd,
      |    count(n) OVER w AS n_obs
      |  FROM c
      |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
      |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, bucket, CAST(n AS BIGINT) AS n,
      |  CAST(mu AS DOUBLE) AS mu, CAST(sd AS DOUBLE) AS sd,
      |  CAST((n - mu) / sd AS DOUBLE) AS z,
      |  abs((n - mu) / sd) > 2 AS is_anomaly
      |FROM r WHERE n_obs >= 12 AND sd > 0""".stripMargin

  /** Time-to-convert distribution — per user, the lag from their FIRST
    * `fromType` event to the first `toType` event strictly after it,
    * summarized as interpolated percentiles: the latency profile of a
    * funnel edge (how long from first view to first purchase).
    *
    * Scale shape: the [[funnel]] conditional-min discipline — two
    * user-keyed aggregates and one user-keyed join; no per-user event
    * list, no window over raw events. The output is one row.
    */
  def conversionLag(events: DataFrame, fromType: String, toType: String,
      quantiles: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)): DataFrame = {
    val e = events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("__us"))
    val first = e.where(col("event_type") === fromType)
      .groupBy(col("user_id")).agg(min(col("__us")).as("__f"))
    val lag = e.where(col("event_type") === toType)
      .join(first, Seq("user_id"))
      .where(col("__us") > col("__f"))
      .groupBy(col("user_id"))
      .agg(((min(col("__us")) - max(col("__f"))) / 60000000.0)
        .as("__lag_min"))
    val qs = quantiles.zipWithIndex.map { case (q, i) =>
      percentile(col("__lag_min"), lit(q))
        .as(s"p${(q * 100).round}_minutes")
    }
    lag.agg(count(lit(1)).as("n_converted"), qs: _*)
  }

  /** Declared q169: view→purchase conversion-lag percentiles. */
  def q169ConversionLag(spark: SparkSession, d: String): DataFrame =
    conversionLag(Tables.events(spark, d), "view", "purchase")

  val q169Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |f AS (
      |  SELECT user_id, min(us) AS fv FROM e
      |  WHERE event_type = 'view' GROUP BY 1),
      |lag AS (
      |  SELECT e.user_id, (min(e.us) - max(f.fv)) / 60000000.0 AS lm
      |  FROM e JOIN f USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.us > f.fv
      |  GROUP BY 1)
      |SELECT CAST(count(*) AS BIGINT) AS n_converted,
      |  quantile_cont(lm, 0.25) AS p25_minutes,
      |  quantile_cont(lm, 0.5) AS p50_minutes,
      |  quantile_cont(lm, 0.75) AS p75_minutes,
      |  quantile_cont(lm, 0.9) AS p90_minutes
      |FROM lag""".stripMargin

  /** Declared q178: INCREMENTAL maintenance of the q128 session table —
    * the composition every event warehouse actually runs: a versioned
    * session table is built from the first half of history, the second
    * half arrives as a new batch, and only the TOUCHED USERS' sessions
    * are recomputed and MERGEd in (update-or-insert; prefix runs are
    * stable, the boundary-straddling session updates in place, new
    * sessions append — no stale row can survive because a user's old
    * session ids are always a prefix of their recomputed ids).
    * Correctness contract: the post-merge snapshot must equal the
    * from-scratch sessionization of ALL events — the oracle IS the
    * full recompute, so the incremental path can't drift.
    *
    * Scale shape: the merge touches only affected users' rows (the
    * MERGE prunes by touched keys); the recompute input is
    * user-pruned by one semi-join — cost scales with the batch's user
    * set, not history size.
    */
  /** The maintenance step itself, cut injectable for the spec: v0 =
    * sessions of events before `cutUs`, then the post-cut batch
    * triggers a user-pruned recompute MERGEd in. Returns the final
    * snapshot.
    */
  def incrementalSessions(e: DataFrame, cutUs: Long, gapUs: Long,
      path: String): DataFrame = {
    val spark = e.sparkSession
    graft.tables.DeltaLikeTable.write(
      sessionize(e.where(col("us") < cutUs), gapUs), path, "overwrite")
    val touched = e.where(col("us") >= cutUs)
      .select(col("user_id")).distinct()
    // MERGE reads its source in every internal phase (touched-file
    // semi-join, then the rewrite join) — checkpoint the recompute so
    // the sessionization runs once, not once per phase. Bounded: the
    // touched users' session rows, never raw history.
    val recomputed = sessionize(
      e.join(touched, Seq("user_id"), "left_semi"), gapUs)
      .localCheckpoint()
    graft.tables.DeltaLikeTable.forPath(spark, path)
      .as("t").merge(recomputed.as("s"),
        "t.user_id = s.user_id AND t.session_id = s.session_id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    spark.read.format("deltalike").load(path)
  }

  def q178IncrementalSessions(spark: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    def events() = Tables.events(spark, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
    // Seeding the v0 table (sessionize first-half history + overwrite
    // write) is the warehouse's PRE-EXISTING state, not the query: it
    // runs once per fixture and is timed as its own `shared:` bench
    // row. The declared row is the thing a warehouse actually re-runs
    // per batch — touched-user recompute, MERGE, snapshot read. Before
    // this split every rep paid the full history write and the 42×
    // weak ratio measured mostly the seed (BASELINE round-11 note).
    val (path, cutUs) =
      graft.core.SharedRelations.directory(spark, "sessions_v0", d) { p =>
        val e0 = events()
        // bounded driver scalar (one row): the batch split point
        val span = e0.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
          .collect().head
        val cut = (span.getLong(0) + span.getLong(1)) / 2
        graft.tables.DeltaLikeTable.write(
          sessionize(e0.where(col("us") < cut), gapUs), p.toString,
          "overwrite")
        cut
      }
    // the incremental step proper, paid per rep. Re-merging the same
    // batch is idempotent (recomputed sessions are deterministic and
    // the merge updates them in place), so bench reps 2-3 measure the
    // steady-state update-heavy merge.
    val e = events().localCheckpoint()
    val touched = e.where(col("us") >= cutUs)
      .select(col("user_id")).distinct()
    // MERGE reads its source in every internal phase (touched-file
    // semi-join, then the rewrite join) — checkpoint the recompute so
    // the sessionization runs once, not once per phase. Bounded: the
    // touched users' session rows, never raw history.
    val recomputed = sessionize(
      e.join(touched, Seq("user_id"), "left_semi"), gapUs)
      .localCheckpoint()
    graft.tables.DeltaLikeTable.forPath(spark, path)
      .as("t").merge(recomputed.as("s"),
        "t.user_id = s.user_id AND t.session_id = s.session_id")
      .whenMatchedUpdateAll()
      .whenNotMatchedInsertAll()
      .execute()
    // the maintenance loop VACUUMS what it supersedes: each rep's
    // MERGE writes a new version, and a long-lived session benching
    // many fixtures/reps would otherwise accumulate every superseded
    // version on disk until JVM shutdown (the bounded return of the
    // r6 leak). retainVersions=2 keeps the snapshot being read plus
    // one predecessor; nothing time-travels this table. The vacuum is
    // part of the timed step on purpose — production incremental
    // maintenance pays its own cleanup.
    graft.tables.DeltaLikeTable.forPath(spark, path).vacuum(retainVersions = 2)
    spark.read.format("deltalike").load(path)
  }

  /** Oracle: the from-scratch sessionization of the full event stream
    * (q128's SQL verbatim) — incremental maintenance must be
    * indistinguishable from recomputation.
    */
  val q178Sql: String = q128Sql

  /** Point-in-time dimension lookup against an SCD2 history — the
    * CONSUMER of [[scdType2]]: for each probe (key, time), the
    * dimension row whose validity interval contains that time. Built
    * on the [[AsOfJoin]] union+window discipline (one shuffle on the
    * key, ≤-semantics from the side tag), then the end-exclusive
    * upper bound check — never an interval range join.
    *
    * @param probes (keyCol, timeCol, …) rows to enrich
    * @param dim    SCD2 rows: keyCol, attrCol, valid_from_us,
    *               valid_to_us (null = open)
    * @return probes + (attr at that time, null when the time predates
    *         the key's first interval)
    */
  def scd2Lookup(probes: DataFrame, dim: DataFrame, keyCol: String,
      timeCol: String, attrCol: String): DataFrame = {
    val matched = AsOfJoin.asOf(
      probes, dim.select(col(keyCol), col(attrCol),
        col("valid_from_us"), col("valid_to_us")),
      keyCol = keyCol, leftTimeCol = timeCol,
      rightTimeCol = "valid_from_us",
      rightValueCols = Seq(attrCol, "valid_to_us"))
    // as-of gives the latest interval STARTING at-or-before the probe;
    // SCD2 validity additionally requires the probe before the
    // (end-exclusive) close — intervals are contiguous per key, so
    // this only nulls probes after a key's final close (none here) or
    // inside genuine gaps
    matched.select(probes.columns.map(col) :+
      when(col("right_valid_to_us").isNull ||
        col(timeCol) < col("right_valid_to_us"),
        col(s"right_$attrCol")).as(s"${attrCol}_at_time"): _*)
  }

  /** Declared q182: each purchase enriched with the user's event-type
    * "state" one hour earlier — SCD2 build + point-in-time lookup in
    * one query (the q155 dimension consumed at probe time).
    */
  def q182Scd2Lookup(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d).select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
    val dim = scdType2(e, "user_id", "event_type", "us", "event_id")
    val probes = e.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        (col("us") - 3600L * 1000000L).as("probe_us"))
    scd2Lookup(probes, dim, "user_id", "probe_us", "event_type")
  }

  val q182Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |  FROM events),
      |c AS (
      |  SELECT *, lag(event_type) OVER w AS prev
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |ch AS (
      |  SELECT user_id, event_type, us AS valid_from_us, event_id
      |  FROM c WHERE prev IS NULL OR event_type <> prev),
      |dim AS (
      |  SELECT user_id, event_type, valid_from_us,
      |    lead(valid_from_us) OVER w AS valid_to_us
      |  FROM ch
      |  WINDOW w AS (PARTITION BY user_id ORDER BY valid_from_us, event_id)),
      |probes AS (
      |  SELECT user_id, event_id, us - 3600000000 AS probe_us
      |  FROM e WHERE event_type = 'purchase')
      |SELECT p.user_id, p.event_id, p.probe_us,
      |  CASE WHEN d.valid_to_us IS NULL OR p.probe_us < d.valid_to_us
      |    THEN d.event_type END AS event_type_at_time
      |FROM probes p
      |ASOF LEFT JOIN dim d
      |  ON p.user_id = d.user_id AND d.valid_from_us <= p.probe_us""".stripMargin

  /** Merge overlapping (or touching) intervals per key — the
    * gaps-and-islands flatten: availability windows, maintenance
    * periods, per-event activity spans collapse to their disjoint
    * union. Differs from [[sessionize]] (which clusters POINTS by
    * gap): inputs here are INTERVALS and the island rule is
    * start ≤ running-max(prior ends).
    *
    * Scale shape: one exchange on the key; the island id is a
    * running max + cumulative flag over that same (key, start) sort;
    * one aggregate per island. No joins.
    *
    * @return per merged interval: keyCol, island_id, start, end,
    *         n_merged
    */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
      endCol: String): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col(startCol), col(endCol))
    val prior = byKey.rowsBetween(Window.unboundedPreceding, -1)
    val run = byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("__pmax", max(col(endCol)).over(prior))
      .withColumn("__new",
        when(col("__pmax").isNull || col(startCol) > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("island_id", sum(col("__new")).over(run))
      .groupBy(col(keyCol), col("island_id"))
      .agg(min(col(startCol)).as("start"), max(col(endCol)).as("end"),
        count(lit(1)).as("n_merged"))
  }

  /** Declared q189: per-user activity episodes — every event opens a
    * 90-minute span; overlapping spans flatten to disjoint episodes.
    */
  def q189MergeIntervals(spark: SparkSession, d: String): DataFrame = {
    val spanUs = 90L * 60 * 1000000
    val iv = Tables.events(spark, d).select(col("user_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) + spanUs).as("e"))
    mergeIntervals(iv, "user_id", "s", "e")
  }

  val q189Sql: String =
    """WITH iv AS (
      |  SELECT user_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + 5400000000 AS e
      |  FROM events),
      |m AS (
      |  SELECT user_id, s, e,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv),
      |f AS (
      |  SELECT user_id, s, e,
      |    CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END AS nw
      |  FROM m),
      |i AS (
      |  SELECT user_id, s, e,
      |    CAST(sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
      |  FROM f)
      |SELECT user_id, island_id, min(s) AS start, max(e) AS "end",
      |  CAST(count(*) AS BIGINT) AS n_merged
      |FROM i GROUP BY user_id, island_id""".stripMargin

  /** N-day return rate per activity day — of the users active on day
    * d, what fraction come back within the next `horizon` days: the
    * product-health retention curve ([[cohortRetention]] is anchored
    * to each user's FIRST week; this one re-anchors on every active
    * day, the "bounded-window return" KPI).
    *
    * Scale shape: events collapse to distinct (user, day) once; the
    * return probe is a bounded `horizon`-explode joined back to the
    * same relation by (user, day) — shuffle volume is horizon ×
    * user-days, independent of raw event count.
    *
    * @return per day: day, n_active, n_returning, return_rate
    */
  def returnRate(events: DataFrame, horizon: Int = 7): DataFrame = {
    val dayUs = 86400L * 1000 * 1000
    val userDays = events
      .select(col("user_id"),
        expr(s"unix_micros(ts) div $dayUs").as("day"))
      .distinct()
      // two consumers: probe side and the return target side
      .localCheckpoint()
    val probes = userDays.select(col("user_id"), col("day"),
      explode(sequence(col("day") + 1, col("day") + horizon))
        .as("__target"))
    val returned = probes
      .join(userDays.select(col("user_id").as("user_id"),
        col("day").as("__target")), Seq("user_id", "__target"), "left_semi")
      .select(col("user_id"), col("day")).distinct()
      .withColumn("__ret", lit(1L))
    userDays
      .join(returned, Seq("user_id", "day"), "left")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(coalesce(col("__ret"), lit(0L))).as("n_returning"))
      .select(col("day"), col("n_active"), col("n_returning"),
        (col("n_returning").cast("double") / col("n_active"))
          .as("return_rate"))
  }

  /** Declared q190: the 7-day return-rate curve. */
  def q190ReturnRate(spark: SparkSession, d: String): DataFrame =
    returnRate(Tables.events(spark, d), horizon = 7)

  val q190Sql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |ret AS (
      |  SELECT DISTINCT a.user_id, a.day
      |  FROM ud a JOIN ud b
      |    ON b.user_id = a.user_id
      |    AND b.day BETWEEN a.day + 1 AND a.day + 7)
      |SELECT ud.day, CAST(count(*) AS BIGINT) AS n_active,
      |  CAST(sum(CASE WHEN ret.user_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_returning,
      |  CAST(sum(CASE WHEN ret.user_id IS NOT NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*) AS return_rate
      |FROM ud LEFT JOIN ret ON ret.user_id = ud.user_id
      |  AND ret.day = ud.day
      |GROUP BY ud.day""".stripMargin

  /** Declared q203: Spark's BUILT-IN `session_window` aggregation,
    * pinned against the classic lag/cumulative-flag sessionization SQL
    * — the stock-API twin of q66's hand-rolled path (and of the
    * streaming `mapGroupsWithState` sessionizer). Semantics under
    * test (measured, spec-pinned): the window is [first event,
    * last event + gap] with a CLOSED merge boundary — an event
    * arriving EXACTLY at the current end still MERGES; only
    * `diff > gap` opens a new session (the oracle's gap test is
    * strictly-greater — note q66's hand-rolled rule uses `>=`, a
    * deliberate one-microsecond semantic difference between the two
    * declared sessionizers that both oracles pin).
    *
    * Scale shape: one user-keyed exchange; Spark plans
    * `session_window` as UpdatingSessionsExec + merge — in-partition
    * session assembly after the shuffle, no per-event window state.
    * `total_value` rounds to 6 dp (per-session double sums,
    * accumulation-order insurance).
    */
  def q203SessionWindowAgg(spark: SparkSession, d: String): DataFrame =
    Tables.events(spark, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("total_value"))
      .select(col("user_id"),
        col("sw.start").as("session_start"),
        col("sw.end").as("session_end"),
        col("n_events"), col("total_value"))

  /** Cohort LTV curves — q102's retention sibling with MONEY on the
    * y-axis: users grouped by first-seen week, and for each cohort age
    * (weeks since first event) the cumulative value per cohort member.
    * The curve family is how a growth team reads payback horizons;
    * flattening curves across recent cohorts is the early-warning
    * signal retention alone hides.
    *
    * Scale shape: one user-keyed aggregate pins each user's cohort
    * week (the only full pass over users), one join back (user-keyed),
    * one (cohort, age) aggregate, and the cumulative sum runs per
    * cohort over the calendar-bounded age axis.
    */
  def q231LtvCurve(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d)
      .where(col("value").isNotNull)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
    val cohorts = e.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("day"))).cast("date").as("cohort_week"))
      .localCheckpoint() // sized once, joined once
    val sizes = cohorts.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"))
    val byAge = e.join(cohorts, Seq("user_id"))
      .select(col("cohort_week"),
        floor(datediff(col("day"), col("cohort_week")) / 7)
          .cast("long").as("age_week"),
        col("value"))
      .groupBy(col("cohort_week"), col("age_week"))
      .agg(round(sum(col("value")), 6).as("__rev"))
    val cum = Window.partitionBy(col("cohort_week")).orderBy(col("age_week"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byAge.join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("age_week"), col("n_users"),
        round(sum(col("__rev")).over(cum) / col("n_users"), 6)
          .as("cum_ltv_per_user"))
  }

  val q231Sql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, value
      |  FROM events WHERE value IS NOT NULL),
      |cohorts AS (
      |  SELECT user_id, date_trunc('week', min(day)) AS cohort_week
      |  FROM e GROUP BY 1),
      |sizes AS (
      |  SELECT cohort_week, count(*) AS n_users FROM cohorts GROUP BY 1),
      |ba AS (
      |  SELECT c.cohort_week,
      |    CAST((day - c.cohort_week) // 7 AS BIGINT) AS age_week,
      |    round(sum(value), 6) AS rev
      |  FROM e JOIN cohorts c USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT ba.cohort_week, ba.age_week,
      |  CAST(s.n_users AS BIGINT) AS n_users,
      |  round(sum(ba.rev) OVER (PARTITION BY ba.cohort_week
      |      ORDER BY ba.age_week
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    / s.n_users, 6) AS cum_ltv_per_user
      |FROM ba JOIN sizes s USING (cohort_week)""".stripMargin

  /** Price–volume(–mix) decomposition of the half-over-half revenue
    * change per event type — the BI bridge chart's algebra: with n the
    * event count and v̄ the mean value per event in each half,
    *
    *   ΔR = (n₂−n₁)·v̄₁  +  n₂·(v̄₂−v̄₁)
    *        └ volume ┘     └  rate  ┘
    *
    * an EXACT decomposition (the two terms sum to ΔR by construction,
    * spec-pinned), so "did revenue move because we did more events or
    * richer events" has a single deterministic answer per type.
    *
    * Scale shape: one (type, half) hash aggregate — the only pass —
    * then type-domain-bounded algebra.
    */
  def q233Pvm(spark: SparkSession, d: String): DataFrame = {
    val e = Tables.events(spark, d)
      .where(col("value").isNotNull)
      .select(col("event_type"), col("value"),
        unix_micros(col("ts")).as("__us"))
    val mid = e.agg(((min(col("__us")) + max(col("__us"))) / 2).as("__mid"))
    val halves = e.crossJoin(broadcast(mid))
      .groupBy(col("event_type"), (col("__us") < col("__mid")).as("__h1"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("rev"))
    def h(first: Boolean, c: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      max(when(col("__h1") === first, c))
    halves.groupBy(col("event_type"))
      .agg(h(true, col("n")).as("n1"), h(false, col("n")).as("n2"),
        h(true, col("rev")).as("r1"), h(false, col("rev")).as("r2"))
      .where(col("n1").isNotNull && col("n2").isNotNull)
      .select(col("event_type"), col("n1"), col("n2"),
        round(col("r1"), 6).as("rev1"), round(col("r2"), 6).as("rev2"),
        round(col("r2") - col("r1"), 6).as("delta"),
        round((col("n2") - col("n1")) * (col("r1") / col("n1")), 6)
          .as("volume_effect"),
        round(col("n2") * (col("r2") / col("n2") - col("r1") / col("n1")), 6)
          .as("rate_effect"))
  }

  val q233Sql: String =
    """WITH e AS (
      |  SELECT event_type, value, epoch_us(ts) AS us
      |  FROM events WHERE value IS NOT NULL),
      |mid AS (SELECT (min(us) + max(us)) / 2 AS mid FROM e),
      |h AS (
      |  SELECT event_type, us < mid.mid AS h1,
      |    count(*) AS n, sum(value) AS rev
      |  FROM e CROSS JOIN mid GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type,
      |    max(CASE WHEN h1 THEN n END) AS n1,
      |    max(CASE WHEN NOT h1 THEN n END) AS n2,
      |    max(CASE WHEN h1 THEN rev END) AS r1,
      |    max(CASE WHEN NOT h1 THEN rev END) AS r2
      |  FROM h GROUP BY 1)
      |SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  round(r1, 6) AS rev1, round(r2, 6) AS rev2,
      |  round(r2 - r1, 6) AS delta,
      |  round((n2 - n1) * (r1 / n1), 6) AS volume_effect,
      |  round(n2 * (r2 / n2 - r1 / n1), 6) AS rate_effect
      |FROM w WHERE n1 IS NOT NULL AND n2 IS NOT NULL""".stripMargin

  val q203Sql: String =
    """WITH l AS (
      |  SELECT user_id, ts, value,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
      |  FROM events),
      |n AS (
      |  SELECT user_id, ts, value,
      |    CASE WHEN prev IS NULL
      |          OR epoch_us(ts) - epoch_us(prev) > 1800000000
      |         THEN 1 ELSE 0 END AS ns
      |  FROM l),
      |s AS (
      |  SELECT user_id, ts, value,
      |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM n)
      |SELECT user_id,
      |  min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  round(sum(value), 6) AS total_value
      |FROM s GROUP BY user_id, sid""".stripMargin

  /** Two-group log-rank test (Mantel–Cox) — "do these two cohorts'
    * survival curves differ beyond chance?", the hypothesis test that
    * belongs next to [[kaplanMeier]]'s descriptive curve. At every
    * distinct event time t: observed group-1 events d₁ₜ vs expected
    * dₜ·n₁ₜ/nₜ under the null, with hypergeometric variance
    * dₜ·(n₁ₜ/nₜ)·(n₀ₜ/nₜ)·(nₜ−dₜ)/(nₜ−1); χ² = (O₁−E₁)²/V ~ χ²(1).
    * Right-censored rows leave risk sets without contributing events,
    * exactly as in KM.
    *
    * Scale shape: ONE hash aggregate collapses lifetimes to the
    * per-time support with BOTH groups pivoted into columns (the
    * group domain is 2 by contract, so per-group risk sets need no
    * per-group window — a single [[Relational.orderedPrefixSums]]
    * pass carries both cumulative at-risk counts), and the test is
    * one global aggregate over the support. Variance terms with
    * nₜ ≤ 1 are skipped (0/0 guard, standard convention).
    *
    * @param lifetimes (duration, censored: Boolean, group: Boolean)
    * @return one row: n1, n0, o1, e1, variance, chi2 (6 dp)
    */
  def logRank(lifetimes: DataFrame, durationCol: String,
      censoredCol: String, groupCol: String): DataFrame = {
    val sup = lifetimes.groupBy(col(durationCol).as("__t")).agg(
      sum(when(col(groupCol) && !col(censoredCol), 1L).otherwise(0L))
        .as("__d1"),
      sum(when(!col(groupCol) && !col(censoredCol), 1L).otherwise(0L))
        .as("__d0"),
      sum(when(col(groupCol), 1L).otherwise(0L)).as("__a1"),
      sum(when(!col(groupCol), 1L).otherwise(0L)).as("__a0"))
    val risked = Relational
      .orderedPrefixSums(sup, "__t",
        Seq("__c1" -> col("__a1"), "__c0" -> col("__a0")))
      .select(col("__d1"), col("__d0"),
        (col("__c1_total") - col("__c1") + col("__a1")).as("__n1"),
        (col("__c0_total") - col("__c0") + col("__a0")).as("__n0"))
      .withColumn("__n", col("__n1") + col("__n0"))
      .withColumn("__d", col("__d1") + col("__d0"))
      .where(col("__d") > 0)
    val terms = risked.select(
      col("__d1").cast("double").as("__o1"),
      (col("__d") * col("__n1")).cast("double")
        ./(col("__n").cast("double")).as("__e1"),
      when(col("__n") > 1,
        col("__d").cast("double") *
          (col("__n1").cast("double") / col("__n")) *
          (col("__n0").cast("double") / col("__n")) *
          ((col("__n") - col("__d")).cast("double") / (col("__n") - 1)))
        .otherwise(0.0).as("__v"),
      col("__n1"), col("__n0"))
    terms.agg(
      max(col("__n1")).as("__maxn1"), max(col("__n0")).as("__maxn0"),
      round(sum(col("__o1")), 6).as("o1"),
      round(sum(col("__e1")), 6).as("e1"),
      round(sum(col("__v")), 6).as("variance"),
      round(pow(sum(col("__o1")) - sum(col("__e1")), 2.0) /
        sum(col("__v")), 6).as("chi2"))
      .select(col("__maxn1").cast("long").as("n1"),
        col("__maxn0").cast("long").as("n0"),
        col("o1"), col("e1"), col("variance"), col("chi2"))
  }

  /** Declared q240: do even- and odd-user sessions survive
    * differently — the q152 session lifetimes split by user parity.
    * n1/n0 report each group's initial risk-set size (= its largest
    * at-risk count, which is the count at the first event time).
    */
  def q240LogRank(spark: SparkSession, d: String): DataFrame = {
    val gapUs = 30L * 60 * 1000 * 1000
    val e = Tables.events(spark, d).select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"))
    val m = e.agg(max(col("us")).as("__max_us"))
    val lifetimes = sessionize(e, gapUs).crossJoin(broadcast(m)).select(
      expr("duration_us div 60000000").as("t_minutes"),
      (col("end_us") > col("__max_us") - gapUs).as("censored"),
      (pmod(col("user_id"), lit(2L)) === 1L).as("grp"))
    logRank(lifetimes, "t_minutes", "censored", "grp")
  }

  val q240Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |m AS (SELECT max(us) AS max_us FROM e),
      |t AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END
      |      AS ns
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
      |sid AS (
      |  SELECT user_id, us,
      |    sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                  ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM t),
      |sess AS (
      |  SELECT user_id, session_id, min(us) AS s, max(us) AS en
      |  FROM sid GROUP BY 1, 2),
      |lt AS (
      |  SELECT (en - s) // 60000000 AS tm,
      |    CASE WHEN en > m.max_us - 1800000000 THEN 1 ELSE 0 END AS cens,
      |    CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS g
      |  FROM sess CROSS JOIN m),
      |sup AS (
      |  SELECT tm,
      |    sum(CASE WHEN g = 1 AND cens = 0 THEN 1 ELSE 0 END) AS d1,
      |    sum(CASE WHEN g = 0 AND cens = 0 THEN 1 ELSE 0 END) AS d0,
      |    sum(g) AS a1, sum(1 - g) AS a0
      |  FROM lt GROUP BY 1),
      |r AS (
      |  SELECT d1, d0,
      |    (SELECT sum(a1) FROM sup) - sum(a1) OVER (ORDER BY tm) + a1
      |      AS n1,
      |    (SELECT sum(a0) FROM sup) - sum(a0) OVER (ORDER BY tm) + a0
      |      AS n0
      |  FROM sup),
      |w AS (
      |  SELECT d1, d0, n1, n0, n1 + n0 AS n, d1 + d0 AS d FROM r
      |  WHERE d1 + d0 > 0),
      |terms AS (
      |  SELECT CAST(d1 AS DOUBLE) AS o1,
      |    CAST(d * n1 AS DOUBLE) / n AS e1,
      |    CASE WHEN n > 1 THEN
      |      CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
      |        * (CAST(n0 AS DOUBLE) / n)
      |        * (CAST(n - d AS DOUBLE) / (n - 1))
      |    ELSE 0.0 END AS v, n1, n0
      |  FROM w)
      |SELECT CAST(max(n1) AS BIGINT) AS n1,
      |  CAST(max(n0) AS BIGINT) AS n0,
      |  round(sum(o1), 6) AS o1, round(sum(e1), 6) AS e1,
      |  round(sum(v), 6) AS variance,
      |  round(pow(sum(o1) - sum(e1), 2) / sum(v), 6) AS chi2
      |FROM terms""".stripMargin

  /** Stationary distribution of the first-order event-type Markov
    * chain ([[transitions]]) — the long-run visit share of each event
    * type, the "where does a user's session settle" summary that
    * turns the q105 transition matrix into one ranking. A PINNED
    * number of power iterations from the uniform start (run-to-
    * convergence is neither oracle-expressible nor stage-count-
    * deterministic; three iterations is the documented contract —
    * at q105's empirically near-uniform mixing it is already inside
    * the final 6-dp rounding).
    *
    * States are the types with OUTGOING transitions; edges into any
    * other type are dropped and each row re-normalized, so mass is
    * conserved exactly (otherwise a sink state silently leaks
    * probability every step). Each iterate rounds to 12 dp — both
    * engines then produce bit-identical vectors regardless of their
    * per-group addition order, and the final 6-dp output can never
    * sit on a rounding boundary skew.
    *
    * Scale shape: everything after the one [[transitions]] shuffle is
    * type-domain-bounded algebra (|types|² rows); the iteration joins
    * broadcast trivially.
    */
  def stationaryDistribution(trans: DataFrame,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, "at least one power iteration")
    val states = trans.select(col("from_type")).distinct()
    val p = trans
      .join(states.select(col("from_type").as("to_type")), Seq("to_type"),
        "left_semi")
      .withColumn("__tot",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .select(col("from_type"), col("to_type"),
        (col("n").cast("double") / col("__tot").cast("double")).as("__p"))
    val nStates = states.agg(count(lit(1)).as("__k"))
    var pi = states.crossJoin(broadcast(nStates))
      .select(col("from_type").as("t"),
        round(lit(1.0) / col("__k"), 12).as("pi"))
    for (_ <- 1 to iterations) {
      pi = p.join(pi.select(col("t").as("from_type"), col("pi")),
          Seq("from_type"))
        .groupBy(col("to_type").as("t"))
        .agg(round(sum(col("pi") * col("__p")), 12).as("pi"))
    }
    pi.select(col("t").as("event_type"), round(col("pi"), 6).as("pi"))
  }

  /** Declared q235: stationary event-type mix after 3 pinned power
    * iterations over the q105 transition matrix.
    */
  def q235Stationary(spark: SparkSession, d: String): DataFrame =
    stationaryDistribution(q105Transitions(spark, d), iterations = 3)

  val q235Sql: String =
    """WITH o AS (
      |  SELECT event_type,
      |    lead(event_type) OVER (
      |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
      |  FROM events),
      |t AS (SELECT event_type AS from_type, to_type, count(*) AS n
      |      FROM o WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |states AS (SELECT DISTINCT from_type FROM t),
      |p AS (
      |  SELECT from_type, to_type,
      |    CAST(n AS DOUBLE)
      |      / CAST(sum(n) OVER (PARTITION BY from_type) AS DOUBLE) AS p
      |  FROM t WHERE to_type IN (SELECT from_type FROM states)),
      |pi0 AS (
      |  SELECT from_type AS t,
      |    round(1.0 / (SELECT count(*) FROM states), 12) AS pi
      |  FROM states),
      |pi1 AS (
      |  SELECT p.to_type AS t, round(sum(pi0.pi * p.p), 12) AS pi
      |  FROM p JOIN pi0 ON pi0.t = p.from_type GROUP BY 1),
      |pi2 AS (
      |  SELECT p.to_type AS t, round(sum(pi1.pi * p.p), 12) AS pi
      |  FROM p JOIN pi1 ON pi1.t = p.from_type GROUP BY 1),
      |pi3 AS (
      |  SELECT p.to_type AS t, round(sum(pi2.pi * p.p), 12) AS pi
      |  FROM p JOIN pi2 ON pi2.t = p.from_type GROUP BY 1)
      |SELECT t AS event_type, round(pi, 6) AS pi FROM pi3""".stripMargin

  /** Off-policy evaluation of a deterministic target policy from
    * logged bandit feedback — inverse-propensity scoring (Horvitz–
    * Thompson) plus its self-normalized variant (SNIPS), the standard
    * counterfactual "what would this policy have earned on last
    * quarter's traffic" readout an experimentation / RLHF pipeline
    * runs before any live test. Logged action = event type, reward =
    * event value (null → 0), context = calendar day; the logging
    * propensity μ̂(a|day) is the empirical per-day action share, and
    * the evaluated policy plays each month's highest-total-reward
    * action (tie → min type) — fully derived from the log, so both
    * engines rebuild the identical setup.
    *
    *   w_i = 1[a_i = π(x_i)] / μ̂(a_i|day_i)
    *   V_IPS = Σ w_i r_i / n        V_SNIPS = Σ w_i r_i / Σ w_i
    *
    * Scale shape: propensities and the policy are domain-bounded
    * aggregates (days×types, months×types) that broadcast back onto
    * the fact scan — the big table is read twice (columnar-pruned),
    * never checkpointed, and the answer is one global aggregate.
    */
  def q236OffPolicy(spark: SparkSession, d: String): DataFrame =
    offPolicyIps(Tables.events(spark, d).select(
      to_date(col("ts")).as("day"),
      to_date(date_trunc("month", col("ts"))).as("month"),
      col("event_type").as("action"),
      coalesce(col("value"), lit(0.0)).as("reward")))

  /** [[q236OffPolicy]]'s core over a prepared (day, month, action,
    * reward) log — factored for direct fixture testing.
    */
  def offPolicyIps(ev: DataFrame): DataFrame = {
    val mu = ev.groupBy(col("day"), col("action"))
      .agg(count(lit(1)).as("__na"))
      .withColumn("__nd",
        sum(col("__na")).over(Window.partitionBy(col("day"))))
      .select(col("day"), col("action"),
        (col("__na").cast("double") / col("__nd").cast("double"))
          .as("__mu"))
    val byTot = Window.partitionBy(col("month"))
      .orderBy(col("__tot").desc, col("action"))
    val pi = ev.groupBy(col("month"), col("action"))
      .agg(round(sum(col("reward")), 6).as("__tot"))
      .withColumn("__rk", row_number().over(byTot))
      .where(col("__rk") === 1)
      .select(col("month"), col("action").as("__target"))
    val scored = ev
      .join(broadcast(mu), Seq("day", "action"))
      .join(broadcast(pi), Seq("month"))
      .select(
        when(col("action") === col("__target"), lit(1.0) / col("__mu"))
          .otherwise(lit(0.0)).as("__w"),
        col("reward"))
    scored.agg(
      count(lit(1)).as("n_events"),
      round(avg(when(col("__w") > 0, 1.0).otherwise(0.0)), 6)
        .as("match_rate"),
      round(sum(col("__w") * col("reward")) / count(lit(1)), 6)
        .as("ips_value"),
      round(sum(col("__w") * col("reward")) / sum(col("__w")), 6)
        .as("snips_value"))
  }

  val q236Sql: String =
    """WITH ev AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    CAST(date_trunc('month', ts) AS DATE) AS month,
      |    event_type AS action, coalesce(value, 0.0) AS reward
      |  FROM events),
      |mu AS (
      |  SELECT day, action, CAST(count(*) AS DOUBLE)
      |    / CAST(sum(count(*)) OVER (PARTITION BY day) AS DOUBLE) AS mu
      |  FROM ev GROUP BY 1, 2),
      |pi AS (
      |  SELECT month, action AS target FROM (
      |    SELECT month, action, round(sum(reward), 6) AS tot
      |    FROM ev GROUP BY 1, 2)
      |  QUALIFY row_number() OVER (PARTITION BY month
      |    ORDER BY tot DESC, action) = 1),
      |scored AS (
      |  SELECT CASE WHEN ev.action = pi.target THEN 1.0 / mu.mu
      |              ELSE 0.0 END AS w, reward
      |  FROM ev JOIN mu USING (day, action) JOIN pi USING (month))
      |SELECT CAST(count(*) AS BIGINT) AS n_events,
      |  round(avg(CASE WHEN w > 0 THEN 1.0 ELSE 0.0 END), 6) AS match_rate,
      |  round(sum(w * reward) / count(*), 6) AS ips_value,
      |  round(sum(w * reward) / sum(w), 6) AS snips_value
      |FROM scored""".stripMargin

  /** Exact Shapley-value channel attribution — the data-driven
    * alternative to [[lastTouchAttribution]]'s heuristic: each
    * channel's credit is its average marginal lift of the observed
    * coalition conversion rates, φ_i = Σ_{S∌i} |S|!(n−1−|S|)!/n! ·
    * (v(S∪i) − v(S)) (Shapley '53; the Google/GA4 "data-driven
    * attribution" model). v(S) = conversion rate of users exposed to
    * exactly coalition S; unobserved coalitions contribute v = 0.
    *
    * Scale shape: users collapse to a per-user (channel bitmask,
    * converted) row in one hash aggregate, then to ≤ 2ⁿ coalition
    * rows in a second; the Shapley sum enumerates the 2ⁿ·n
    * metadata-scale grid (n = channel count, a CONSTANT). The
    * factorial weights run through the native [[graft.functions
    * .LogGamma]] expression on both engines.
    *
    * @param exposures (channelName, perUserExposedPredicate-input
    *        aggregated column) pairs: an aggregate Column over the
    *        user's events that is TRUE when the user counts as
    *        exposed to the channel
    * @param converted aggregate Column: TRUE when the user converted
    */
  def shapleyAttribution(events: DataFrame, userCol: String,
      exposures: Seq[(String, org.apache.spark.sql.Column)],
      converted: org.apache.spark.sql.Column): DataFrame = {
    import graft.functions.GraftFunctions.lgamma
    val n = exposures.length
    val mask = exposures.zipWithIndex
      .map { case ((_, e), i) =>
        when(e, lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _)
    val users = events.groupBy(col(userCol))
      .agg(mask.as("__mask"), when(converted, 1L).otherwise(0L).as("__conv"))
    val coal = users.groupBy(col("__mask"))
      .agg(count(lit(1)).as("__n"), sum(col("__conv")).as("__k"))
    // all 2^n coalitions; unobserved ones get v = 0
    val full = coal.sparkSession.range(1L << n)
      .select(col("id").as("__mask"))
      .join(coal, Seq("__mask"), "left")
      .select(col("__mask"),
        coalesce(col("__k").cast(DoubleType) / col("__n"), lit(0.0)).as("__v"))
      .localCheckpoint()
    val withV = full.select(col("__mask").as("__s"), col("__v"))
    val vPlus = full.select(col("__mask").as("__su"), col("__v").as("__vu"))
    val channels = exposures.map(_._1)
    val grid = withV
      .crossJoin(broadcast(
        full.sparkSession.range(n).select(col("id").cast("int").as("__i"))))
      .where(expr("(shiftright(__s, __i) & 1)") === 0L)
    val popcount = (0 until n)
      .map(b => shiftright(col("__s"), b).bitwiseAND(lit(1L)))
      .reduce(_ + _)
    val weight = exp(lgamma(popcount + 1.0) + lgamma(lit(n.toDouble) - popcount) -
      lgamma(lit(n + 1.0)))
    val contrib = grid
      .withColumn("__su", expr("__s + shiftleft(1L, __i)"))
      .join(broadcast(vPlus), Seq("__su"))
      .select(col("__i"), (weight * (col("__vu") - col("__v"))).as("__c"))
      .groupBy(col("__i"))
      .agg(sum(col("__c")).as("__phi"))
    val names = typedLit(channels)
    val exposedCounts = users.agg(
      count(lit(1)).as("__users"),
      exposures.indices.map(i =>
        sum(shiftright(col("__mask"), i).bitwiseAND(lit(1L))).as(s"__e$i")
      ).toIndexedSeq: _*)
    contrib
      .crossJoin(broadcast(exposedCounts))
      .select(
        element_at(names, col("__i") + 1).as("channel"),
        (0 until n).map(i =>
          when(col("__i") === i, col(s"__e$i")))
          .reduce(coalesce(_, _)).as("n_exposed"),
        round(col("__phi"), 6).as("shapley"))
  }

  /** Declared q265: channel credit for heavy-purchaser conversion,
    * exposure = ≥ 14 events of the channel type.
    */
  def q265Shapley(spark: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(spark, d)
    def cnt(t: String) =
      sum(when(col("event_type") === t, 1L).otherwise(0L))
    shapleyAttribution(ev, "user_id",
      Seq("click" -> (cnt("click") >= 14),
        "error" -> (cnt("error") >= 14),
        "signup" -> (cnt("signup") >= 14),
        "view" -> (cnt("view") >= 14)),
      cnt("purchase") >= 14)
  }

  val q265Sql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0
      |      END) >= 14 THEN 1 ELSE 0 END
      |    + 2 * CASE WHEN sum(CASE WHEN event_type = 'error' THEN 1
      |      ELSE 0 END) >= 14 THEN 1 ELSE 0 END
      |    + 4 * CASE WHEN sum(CASE WHEN event_type = 'signup' THEN 1
      |      ELSE 0 END) >= 14 THEN 1 ELSE 0 END
      |    + 8 * CASE WHEN sum(CASE WHEN event_type = 'view' THEN 1
      |      ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS mask,
      |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1
      |      ELSE 0 END) >= 14 THEN 1 ELSE 0 END AS conv
      |  FROM events GROUP BY user_id),
      |coal AS (
      |  SELECT mask, count(*) AS n, sum(conv) AS k FROM u GROUP BY 1),
      |full_c AS (
      |  SELECT g.m AS mask,
      |    coalesce(CAST(k AS DOUBLE) / n, 0.0) AS v
      |  FROM generate_series(0, 15) AS g(m)
      |  LEFT JOIN coal ON coal.mask = g.m),
      |grid AS (
      |  SELECT s.mask AS s, i.i AS i, s.v,
      |    ((s.mask >> 0) & 1) + ((s.mask >> 1) & 1) +
      |    ((s.mask >> 2) & 1) + ((s.mask >> 3) & 1) AS sz
      |  FROM full_c s CROSS JOIN generate_series(0, 3) AS i(i)
      |  WHERE ((s.mask >> i.i) & 1) = 0),
      |contrib AS (
      |  SELECT g.i,
      |    sum(exp(lgamma(g.sz + 1.0) + lgamma(4.0 - g.sz) - lgamma(5.0))
      |      * (su.v - g.v)) AS phi
      |  FROM grid g JOIN full_c su ON su.mask = g.s + (1 << g.i)
      |  GROUP BY 1),
      |expo AS (
      |  SELECT
      |    CAST(sum((mask >> 0) & 1) AS BIGINT) AS e0,
      |    CAST(sum((mask >> 1) & 1) AS BIGINT) AS e1,
      |    CAST(sum((mask >> 2) & 1) AS BIGINT) AS e2,
      |    CAST(sum((mask >> 3) & 1) AS BIGINT) AS e3
      |  FROM u)
      |SELECT CASE i WHEN 0 THEN 'click' WHEN 1 THEN 'error'
      |    WHEN 2 THEN 'signup' ELSE 'view' END AS channel,
      |  CASE i WHEN 0 THEN e0 WHEN 1 THEN e1 WHEN 2 THEN e2 ELSE e3 END
      |    AS n_exposed,
      |  round(phi, 6) AS shapley
      |FROM contrib CROSS JOIN expo""".stripMargin

  /** Markov removal-effect channel attribution (Anderl et al. 2016) —
    * the PATH-based data-driven model beside [[shapleyAttribution]]'s
    * coalition-based one: build the first-order journey chain
    * (START → events … → first conversion | END), then credit each
    * channel by how much the conversion probability drops when the
    * channel's node is REMOVED from the chain (its incoming mass is
    * lost, not rerouted — the standard rule). Conversion probability
    * is a pinned `iterations`-step value iteration v_{t+1}(s) =
    * Σ_{s'} P(s,s')·v_t(s') with v(conv) ≡ 1, v(END) ≡ 0 — a bounded
    * unroll both engines replay exactly (the q163/q235 discipline).
    *
    * Scale shape: ONE user-keyed shuffle builds the truncated
    * timelines and their transitions; the chain collapses to a
    * (channels+2)² count matrix — DOMAIN-bounded, so the value
    * iteration runs on collected metadata (the HypothesisTests
    * bounded-collect precedent), never on the event relation. Paths
    * truncate at each user's FIRST conversion, which also makes the
    * chain conversion-absorbing.
    *
    * @return per channel: base_cvr, removed_cvr, removal_effect
    *         (= 1 − removed/base), share (effects normalized to 1)
    */
  def removalEffectAttribution(events: DataFrame, convType: String,
      channels: Seq[String], iterations: Int = 12): DataFrame = {
    require(channels.nonEmpty && !channels.contains(convType))
    val spark = events.sparkSession
    val timeline = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val ranked = events
      .withColumn("__rn", row_number().over(timeline))
    val truncated = ranked
      .withColumn("__fc", min(when(col("event_type") === convType,
        col("__rn"))).over(Window.partitionBy(col("user_id"))))
      .where(col("__fc").isNull || col("__rn") <= col("__fc"))
    val kept = Window.partitionBy(col("user_id")).orderBy(col("__rn"))
    val trans = truncated
      .withColumn("__to",
        coalesce(lead(col("event_type"), 1).over(kept), lit("END")))
      .where(col("event_type") =!= convType)
      .select(col("event_type").as("src"), col("__to").as("dst"))
      .unionAll(truncated.where(col("__rn") === 1)
        .select(lit("START").as("src"), col("event_type").as("dst")))
    // DOMAIN-bounded collect: at most (channels+2)^2 rows by contract
    val counts = trans.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val outTotals = counts.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    def cvr(drop: Option[String]): Double = {
      val probs = counts.toSeq
        .filter { case ((s, t), _) =>
          !drop.contains(s) && !drop.contains(t) }
        .map { case ((s, t), n) => (s, t, n.toDouble / outTotals(s)) }
        .sortBy { case (s, t, _) => (s, t) } // deterministic sum order
      val srcs = probs.map(_._1).distinct
      var v = Map.empty[String, Double]
      for (_ <- 1 to iterations) {
        v = srcs.map { s =>
          s -> probs.iterator.filter(_._1 == s).map { case (_, t, p) =>
            p * (if (t == convType) 1.0
                 else if (t == "END") 0.0
                 else v.getOrElse(t, 0.0))
          }.sum
        }.toMap
      }
      v.getOrElse("START", 0.0)
    }
    val base = cvr(None)
    val effects = channels.sorted.map { c =>
      val rc = cvr(Some(c))
      (c, rc, if (base > 0) 1.0 - rc / base else 0.0)
    }
    val totalEffect = effects.map(_._3).sum
    import spark.implicits._
    // rounding via the engine's round() so HALF_UP semantics match the
    // oracle's round() exactly
    effects.map { case (c, rc, e) =>
      (c, base, rc, e, if (totalEffect > 0) e / totalEffect else 0.0)
    }.toDF("channel", "base_cvr", "removed_cvr", "removal_effect", "share")
      .select(col("channel"), round(col("base_cvr"), 6).as("base_cvr"),
        round(col("removed_cvr"), 6).as("removed_cvr"),
        round(col("removal_effect"), 6).as("removal_effect"),
        round(col("share"), 6).as("share"))
  }

  /** Declared q266: removal-effect attribution of purchases over the
    * four non-conversion event types, 12 pinned iterations.
    */
  def q266RemovalEffect(spark: SparkSession, d: String): DataFrame =
    removalEffectAttribution(
      Tables.events(spark, d).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id")),
      convType = "purchase",
      channels = Seq("click", "error", "signup", "view"))

  val q266Sql: String = {
    val channels = Seq("click", "error", "signup", "view")
    val scenarios = ("full", None) +: channels.map(c => (c, Some(c)))
    val iterCtes = scenarios.flatMap { case (tag, drop) =>
      val flt = drop.map(c => s"WHERE src <> '$c' AND dst <> '$c'").getOrElse("")
      val p0 = s"p_$tag AS (SELECT src, dst, p FROM p $flt)"
      val iters = (1 to 12).map { t =>
        val prev =
          if (t == 1) "0.0"
          else s"coalesce(v.v, 0.0)"
        val join =
          if (t == 1) ""
          else s" LEFT JOIN v_${tag}_${t - 1} v ON v.s = m.dst"
        s"""v_${tag}_$t AS (
           |  SELECT m.src AS s, sum(m.p * CASE
           |    WHEN m.dst = 'purchase' THEN 1.0
           |    WHEN m.dst = 'END' THEN 0.0
           |    ELSE $prev END) AS v
           |  FROM p_$tag m$join GROUP BY 1)""".stripMargin
      }
      p0 +: iters
    }.mkString(",\n")
    val resRows = channels.map(c =>
      s"SELECT '$c' AS channel, (SELECT v FROM v_${c}_12 WHERE s = 'START') AS removed")
      .mkString("\n  UNION ALL ")
    s"""WITH r1 AS (
       |  SELECT user_id, event_type, event_id,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events),
       |r2 AS (
       |  SELECT *, min(CASE WHEN event_type = 'purchase' THEN rn END)
       |    OVER (PARTITION BY user_id) AS fc
       |  FROM r1),
       |kept AS (SELECT * FROM r2 WHERE fc IS NULL OR rn <= fc),
       |tr AS (
       |  SELECT event_type AS src,
       |    coalesce(lead(event_type) OVER (PARTITION BY user_id
       |      ORDER BY rn), 'END') AS dst
       |  FROM kept),
       |trans AS (
       |  SELECT src, dst FROM tr WHERE src <> 'purchase'
       |  UNION ALL
       |  SELECT 'START', event_type FROM kept WHERE rn = 1),
       |m AS (SELECT src, dst, count(*) AS n FROM trans GROUP BY 1, 2),
       |p AS (SELECT src, dst,
       |        CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY src) AS p
       |      FROM m),
       |$iterCtes,
       |res AS (
       |  $resRows),
       |base AS (
       |  SELECT coalesce((SELECT v FROM v_full_12 WHERE s = 'START'), 0.0) AS b)
       |SELECT channel,
       |  round(b, 6) AS base_cvr,
       |  round(coalesce(removed, 0.0), 6) AS removed_cvr,
       |  round(1 - coalesce(removed, 0.0) / b, 6) AS removal_effect,
       |  round((1 - coalesce(removed, 0.0) / b) /
       |    sum(1 - coalesce(removed, 0.0) / b) OVER (), 6) AS share
       |FROM res CROSS JOIN base""".stripMargin
  }
}
