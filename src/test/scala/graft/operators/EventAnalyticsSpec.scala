package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs
import graft.core.GraftSession

/** Funnel ordering semantics and cohort week arithmetic on planted
  * timelines — the cases a naive "has all three event types" count gets
  * wrong (out-of-order stages, equal timestamps, repeat events).
  */
class EventAnalyticsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val tempDirs = new TempDirs

  override def beforeAll(): Unit = {
    spark = GraftSession.local("event-analytics-spec", cores = 4)
  }
  override def afterAll(): Unit =
    try { if (spark != null) spark.stop() } finally tempDirs.deleteAll()

  test("funnel: strict ordering, equal-timestamp rejection, repeats harmless") {
    val sp = spark; import sp.implicits._
    val e = Seq(
      // user 1: clean conversion v(10) c(20) p(30)
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      // user 2: purchase BEFORE click — stops at click
      (2L, "view", 10L), (2L, "purchase", 15L), (2L, "click", 20L),
      // user 3: click at the SAME instant as view — strict > rejects
      (3L, "view", 10L), (3L, "click", 10L),
      // user 4: repeats; earliest valid chain v(5) c(6) p(7) wins
      (4L, "view", 5L), (4L, "view", 50L), (4L, "click", 6L),
      (4L, "click", 60L), (4L, "purchase", 7L),
      // user 5: click only, never viewed — not even in stage 1
      (5L, "click", 99L)
    ).toDF("user_id", "event_type", "us")
    val got = EventAnalytics.funnel(e, Seq("view", "click", "purchase"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((1, "view", 4L), (2, "click", 3L), (3, "purchase", 2L)))
  }

  test("gapfill: dense frame, zero-filled gaps, LOCF carries the last observed avg") {
    val out = EventAnalytics.q103Gapfill(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val types = out.map(_._1).distinct
    val buckets = out.map(_._2).distinct.sorted
    // dense: every (type, bucket) cell exactly once over the full span
    assert(out.length === types.length * buckets.length)
    assert(buckets === (buckets.min to buckets.max))
    // the fixture is sparse at 15-min grain: real gaps must exist and be zero
    val gaps = out.filter(_._3 == 0L)
    assert(gaps.nonEmpty, "no empty buckets — gap-fill untested")
    // LOCF: within a type, filled_avg changes only on observed buckets
    // and gap rows repeat the previous value (null before first obs)
    out.groupBy(_._1).foreach { case (t, rows) =>
      var lastSeen: Option[Double] = None
      rows.sortBy(_._2).foreach { case (_, b, n, filled) =>
        if (n == 0L) assert(filled === lastSeen, s"$t bucket $b LOCF broken")
        else { assert(filled.isDefined, s"$t bucket $b observed but null"); lastSeen = filled }
      }
    }
  }

  test("transitions: per-user chains, id tiebreak on equal ts, rows sum to 1") {
    val sp = spark; import sp.implicits._
    val e = Seq(
      // user 1: a(10)->b(20)->a(30); user 2: a(10)->c(20)
      (1L, "a", 10L, 100L), (1L, "b", 20L, 101L), (1L, "a", 30L, 102L),
      (2L, "a", 10L, 200L), (2L, "c", 20L, 201L),
      // user 3: equal timestamps — event_id orders b(5,id=2) after a(5,id=1)
      (3L, "a", 5L, 1L), (3L, "b", 5L, 2L),
      // user 4: single event — contributes no transition
      (4L, "z", 7L, 300L)
    ).toDF("user_id", "event_type", "us", "event_id")
    val got = EventAnalytics.transitions(e)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val byPair = got.map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    // no cross-user pair (user 1 ends 'a', user 2 starts 'a' — never a->a)
    assert(byPair.keySet === Set(("a", "b"), ("b", "a"), ("a", "c")))
    assert(byPair(("a", "b"))._1 === 2L && byPair(("a", "c"))._1 === 1L)
    // P(to|from) normalizes within from_type
    assert(math.abs(byPair(("a", "b"))._2 - 2.0 / 3) < 1e-9)
    assert(math.abs(byPair(("a", "c"))._2 - 1.0 / 3) < 1e-9)
    assert(byPair(("b", "a"))._2 === 1.0)
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-9)
    }
  }

  test("sessionPaths: trigrams never straddle a session gap or a user") {
    val sp = spark; import sp.implicits._
    val gap = 100L
    val e = Seq(
      // user 1: a b c d in one session → trigrams abc, bcd
      (1L, "a", 0L, 1L), (1L, "b", 10L, 2L), (1L, "c", 20L, 3L), (1L, "d", 30L, 4L),
      // user 2: a b | (gap) | c d e — abc/bcd straddle, only cde counts
      (2L, "a", 0L, 1L), (2L, "b", 10L, 2L),
      (2L, "c", 200L, 3L), (2L, "d", 210L, 4L), (2L, "e", 220L, 5L),
      // user 3: two events only — no trigram
      (3L, "a", 0L, 1L), (3L, "b", 10L, 2L)
    ).toDF("user_id", "event_type", "us", "event_id")
    val got = EventAnalytics.sessionPaths(e, gapUs = gap)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3))
      .toMap
    assert(got === Map(("a", "b", "c") -> 1L, ("b", "c", "d") -> 1L,
      ("c", "d", "e") -> 1L))
  }

  test("anomalyZscore: spike flagged, cold start and zero-variance suppressed") {
    val sp = spark; import sp.implicits._
    // type "x": buckets 0..29 alternate 9/11 events (noisy baseline),
    // except bucket 25 spikes to 60.
    // type "y": constant 10 per bucket — sd=0, must never appear.
    val rows = (0 until 30).flatMap { b =>
      val n = if (b == 25) 60 else if (b % 2 == 0) 9 else 11
      (0 until n).map(i => ("x", b * 100L + i % 100)) ++
        (0 until 10).map(i => ("y", b * 100L + i % 100))
    }
    val e = rows.toDF("event_type", "us")
    val all = EventAnalytics.anomalyZscore(e, bucketUs = 100L,
      trail = 24, minObs = 12, thresh = 2.0).collect()
    assert(!all.exists(_.getString(0) == "y"), "constant series leaked")
    val out = all.filter(_.getString(0) == "x")
      .map(r => r.getLong(1) / 100 -> (r.getLong(2), r.getDouble(3),
        r.getDouble(5), r.getBoolean(6))).toMap
    // cold start: buckets 0..11 have <12 trailing observations
    assert(out.keySet.min === 12L && out.keySet.max === 29L)
    // spike bucket: baseline is buckets 1..24 (12 nines, 12 elevens)
    val (n25, mu25, z25, flag25) = out(25L)
    assert(n25 === 60L && mu25 === 10.0 && z25 > 2.0 && flag25)
    // the spike is in bucket 26's trailing window → its mean jumps,
    // but 26 itself is normal and must not be flagged
    assert(out(26L)._2 > 11.0 && !out(26L)._4)
    // every bucket except the spike is unflagged
    assert(out.filter(_._1 != 25L).values.forall(!_._4))
  }

  test("rollingDistinctUsers: 7-day window, no phantom days, dedup within day") {
    val sp = spark; import sp.implicits._
    val day = 86400L * 1000 * 1000
    // u1 active days 0 and 3 (twice on day 3 — must not double count),
    // u2 day 0, u3 day 8; days 1,2,4..7 unobserved → absent from output
    val e = Seq(
      (1L, 0L * day + 5L), (1L, 3L * day), (1L, 3L * day + 99L),
      (2L, 0L * day), (3L, 8L * day)).toDF("user_id", "us")
    val out = EventAnalytics.rollingDistinctUsers(e, windowDays = 7)
      .collect().map(r => (r.getLong(0) / day, r.getLong(1))).toMap
    // day 0 window [-6,0]: u1,u2 → 2; day 3 window [-3,3]: u1,u2,u1 → 2;
    // day 8 window [2,8]: u1 (day 3), u3 → 2
    assert(out === Map(0L -> 2L, 3L -> 2L, 8L -> 2L))
    // widen the window so day 8 also sees day 0 activity
    val wide = EventAnalytics.rollingDistinctUsers(e, windowDays = 9)
      .collect().map(r => (r.getLong(0) / day, r.getLong(1))).toMap
    assert(wide === Map(0L -> 2L, 3L -> 2L, 8L -> 3L))
  }

  test("lastTouchAttribution: latest touch wins, lookback expires, ties on event_id") {
    val sp = spark; import sp.implicits._
    val day = 86400L * 1000 * 1000
    val e = Seq(
      // u1: two clicks before the purchase — the LATER one gets credit
      (1L, 1L, "click", 1L * day), (2L, 1L, "click", 2L * day),
      (3L, 1L, "purchase", 3L * day),
      // u1 second purchase 10 days after the last click — outside 7d
      (4L, 1L, "purchase", 12L * day),
      // u2: click AFTER the purchase only → unattributed
      (5L, 2L, "purchase", 1L * day), (6L, 2L, "click", 2L * day),
      // u3: click at the SAME instant, smaller event_id → counts
      (7L, 3L, "click", 5L * day), (8L, 3L, "purchase", 5L * day))
      .toDF("event_id", "user_id", "event_type", "us")
    val out = EventAnalytics.lastTouchAttribution(e, "click", "purchase",
      7L * day).collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) -1L else r.getLong(3) / day))
      .toMap
    assert(out === Map(3L -> 2L, 4L -> -1L, 5L -> -1L, 8L -> 5L))
  }

  test("cohort retention: offsets count distinct users, capped at maxOffset") {
    val sp = spark; import sp.implicits._
    val wk = 604800000000L
    val e = Seq(
      // users 1,2 start week 0; 1 returns weeks 1 and 2; 2 only week 0
      (1L, 0L * wk), (1L, 1L * wk + 5), (1L, 2L * wk), (1L, 2L * wk + 7),
      (2L, 0L * wk + 1),
      // user 3 starts week 1, returns week 5 — outside maxOffset=3
      (3L, 1L * wk), (3L, 5L * wk)
    ).toDF("user_id", "us")
    val got = EventAnalytics.cohortRetention(e, maxOffset = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === Set((0L, 0, 2L), (0L, 1, 1L), (0L, 2, 1L), (1L, 0, 1L)))
  }

  test("sessionize: gap >= threshold opens a session, spans and counts are exact") {
    val sp = spark; import sp.implicits._
    val e = Seq(
      // u1: 3 events inside one session (gaps 99, 1), then a gap of
      // EXACTLY 100 (>= threshold → new session), then a singleton
      (1L, 0L, 10L), (1L, 99L, 11L), (1L, 100L, 12L),
      (1L, 200L, 13L),
      // u2: a single event — one singleton session
      (2L, 500L, 20L)
    ).toDF("user_id", "us", "event_id")
    val got = EventAnalytics.sessionize(e, gapUs = 100L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got === Map(
      (1L, 1L) -> (0L, 100L, 3L, 100L),
      (1L, 2L) -> (200L, 200L, 1L, 0L),
      (2L, 1L) -> (500L, 500L, 1L, 0L)))
  }

  test("sessionKpis: bounce and conversion flags roll up to the session's start day") {
    val sp = spark; import sp.implicits._
    val day = 86400000000L
    val e = Seq(
      // u1 day 0: converting 2-event session (view then purchase)
      (1L, "view", 0L, 10L), (1L, "purchase", 100L, 11L),
      // u1 day 1: single-event session -> bounce
      (1L, "view", day + 5L, 12L),
      // u2: session STARTS day 0 and spills into day 1 — counted on day 0
      (2L, "view", day - 50L, 20L), (2L, "click", day + 50L, 21L)
    ).toDF("user_id", "event_type", "us", "event_id")
    val got = EventAnalytics.sessionKpis(e, gapUs = 30L * 60 * 1000 * 1000,
      convType = "purchase")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toMap
    assert(got === Map(
      0L -> (2L, 0L, 1L, 100.0), // two sessions, no bounce, one converts
      1L -> (1L, 1L, 0L, 0.0)))
  }

  test("decayEngagement: exact half-life arithmetic, anchored at the corpus max") {
    val sp = spark; import sp.implicits._
    val day = 86400000000L
    // u1: event at max ts (weight 1) and 7 days earlier (weight 0.5);
    // u2: one event 14 days before max (weight 0.25)
    val e = Seq(
      (1L, 14L * day), (1L, 7L * day),
      (2L, 0L)
    ).map { case (u, us) => (u, new java.sql.Timestamp(us / 1000)) }
      .toDF("user_id", "ts")
    val got = EventAnalytics.decayEngagement(e, "user_id", "ts", halfLifeDays = 7.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._1 === 2L && math.abs(got(1L)._2 - 1.5) < 1e-12)
    assert(got(2L)._1 === 1L && math.abs(got(2L)._2 - 0.25) < 1e-12)
  }

  test("kaplanMeier: textbook small curve with censoring") {
    val sp = spark; import sp.implicits._
    // lifetimes: deaths at t=1 (×2), censored at t=2, death at t=3
    // t=1: n=4, d=2 → S = 1/2
    // t=2: censor only — no curve point, risk set drops to 1
    // t=3: n=1, d=1 → S = 0 (terminal factor via the zero flag)
    val lt = Seq((1L, false), (1L, false), (2L, true), (3L, false))
      .toDF("t", "censored")
    val out = EventAnalytics.kaplanMeier(lt, "t", "censored")
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_risk"), r.getAs[Long]("n_events"),
          r.getAs[Long]("n_censored"), r.getAs[Double]("survival"))).toMap
    assert(out.keySet === Set(1L, 3L))
    assert(out(1L)._1 === 4L && out(1L)._2 === 2L && out(1L)._3 === 0L)
    assert(math.abs(out(1L)._4 - 0.5) < 1e-12)
    assert(out(3L)._1 === 1L && out(3L)._2 === 1L)
    assert(out(3L)._4 === 0.0)
  }

  test("kaplanMeier: censoring shrinks risk sets without killing the curve") {
    val sp = spark; import sp.implicits._
    // same deaths, extra censored mass early: S at the death times must
    // use the REDUCED risk sets, not the lifetime histogram
    val lt = Seq((1L, true), (1L, true), (2L, false), (2L, false),
      (4L, false)).toDF("t", "censored")
    val out = EventAnalytics.kaplanMeier(lt, "t", "censored")
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("survival")).toMap
    // t=2: the two censored-at-1 rows have left the risk set → n=3,
    // d=2 → S=1/3; t=4: n=1, d=1 → S=0
    assert(math.abs(out(2L) - (1.0 / 3)) < 1e-12)
    assert(out(4L) === 0.0)
  }

  test("scdType2: runs collapse to intervals, end-exclusive close, open current") {
    val sp = spark; import sp.implicits._
    // user 1: A A B A — three intervals; user 2: single open interval
    val e = Seq(
      (1L, "A", 10L, 1L), (1L, "A", 20L, 2L), (1L, "B", 30L, 3L),
      (1L, "A", 40L, 4L),
      (2L, "X", 5L, 5L)).toDF("user_id", "attr", "us", "event_id")
    val out = EventAnalytics.scdType2(e, "user_id", "attr", "us", "event_id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getBoolean(4))).toSet
    assert(out === Set(
      (1L, "A", 10L, Some(30L), false),
      (1L, "B", 30L, Some(40L), false),
      (1L, "A", 40L, None, true),
      (2L, "X", 5L, None, true)))
  }

  test("scdType2: equal-timestamp changes order by the tiebreak column") {
    val sp = spark; import sp.implicits._
    val e = Seq((1L, "A", 10L, 1L), (1L, "B", 10L, 2L))
      .toDF("user_id", "attr", "us", "event_id")
    val out = EventAnalytics.scdType2(e, "user_id", "attr", "us", "event_id")
      .collect().map(r => (r.getString(1), r.getBoolean(4))).toSet
    assert(out === Set(("A", false), ("B", true)))
  }

  test("conversionLag: first-view to first-after purchase, non-converters excluded") {
    val sp = spark; import sp.implicits._
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val e = Seq(
      (1L, "view", ts(0)), (1L, "purchase", ts(30)), (1L, "purchase", ts(90)),
      (2L, "view", ts(10)), (2L, "purchase", ts(70)),
      (3L, "purchase", ts(5)), (3L, "view", ts(10)), // purchase BEFORE view
      (4L, "view", ts(0))).toDF("user_id", "event_type", "ts")
    val r = EventAnalytics.conversionLag(e, "view", "purchase")
      .collect().head
    // users 1 (lag 30) and 2 (lag 60) convert; 3's purchase precedes
    // the view, 4 never purchases
    assert(r.getAs[Long]("n_converted") === 2L)
    assert(math.abs(r.getAs[Double]("p50_minutes") - 45.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("p25_minutes") - 37.5) < 1e-9)
    assert(math.abs(r.getAs[Double]("p90_minutes") - 57.0) < 1e-9)
  }

  test("incrementalSessions: straddling session updates in place, equals recompute") {
    val sp = spark; import sp.implicits._
    val gap = 1000L
    // user 1: session A fully before the cut; session B STRADDLES it
    // (last pre-cut event at 5000, first post-cut at 5500 — gap 500 <
    // 1000 merges them); session C fully after. user 2 only pre-cut:
    // untouched by the batch, row must survive the merge unchanged.
    val e = Seq(
      (1L, 1000L, 1L), (1L, 1500L, 2L),        // A
      (1L, 5000L, 3L), (1L, 5500L, 4L),        // B straddles cut=5200
      (1L, 9000L, 5L),                          // C
      (2L, 2000L, 6L)).toDF("user_id", "us", "event_id")
    val path = tempDirs("inc_sessions_spec")
    val got = EventAnalytics.incrementalSessions(e, cutUs = 5200L,
        gapUs = gap, path = path)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
    val full = EventAnalytics.sessionize(e, gap)
      .collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("session_id"), r.getAs[Long]("start_us"),
        r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
    assert(got === full)
    // the straddler really did merge: user 1 session 2 spans 5000-5500
    assert(got.contains((1L, 2L, 5000L, 5500L, 2L)))
    // untouched user's v0 row intact
    assert(got.contains((2L, 1L, 2000L, 2000L, 1L)))
  }

  test("scd2Lookup: interval containment, boundary exclusivity, pre-history null") {
    val sp = spark; import sp.implicits._
    val dim = Seq(
      (1L, "A", 100L, Some(200L)), (1L, "B", 200L, Some(300L)),
      (1L, "C", 300L, None)).map { case (u, a, f, t) =>
      (u, a, f, t.map(Long.box).orNull.asInstanceOf[java.lang.Long])
    }.toDF("user_id", "attr", "valid_from_us", "valid_to_us")
    val probes = Seq(
      (1L, 10L, 150L),  // inside [100,200) → A
      (1L, 11L, 200L),  // ON the boundary → end-exclusive → B
      (1L, 12L, 999L),  // open interval → C
      (1L, 13L, 50L),   // before history → null
      (2L, 14L, 150L))  // unknown key → null
      .toDF("user_id", "probe_id", "t")
    val out = EventAnalytics.scd2Lookup(probes, dim, "user_id", "t", "attr")
      .collect().map(r => r.getAs[Long]("probe_id") ->
        Option(r.getAs[String]("attr_at_time"))).toMap
    assert(out === Map(10L -> Some("A"), 11L -> Some("B"),
      12L -> Some("C"), 13L -> None, 14L -> None))
  }

  test("mergeIntervals: overlap/touch/containment merge, gaps split, keys isolate") {
    val sp = spark; import sp.implicits._
    val iv = Seq(
      (1L, 0L, 10L), (1L, 5L, 20L),    // overlap → one island
      (1L, 20L, 30L),                   // touches at 20 (s > pmax false) → merges
      (1L, 40L, 50L), (1L, 42L, 45L),  // containment inside [40,50]
      (1L, 60L, 70L),                   // gap → new island
      (2L, 0L, 5L)).toDF("u", "s", "e")
    val out = EventAnalytics.mergeIntervals(iv, "u", "s", "e")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("start"),
        r.getAs[Long]("end"), r.getAs[Long]("n_merged"))).toSet
    assert(out === Set(
      (1L, 0L, 30L, 3L), (1L, 40L, 50L, 2L), (1L, 60L, 70L, 1L),
      (2L, 0L, 5L, 1L)))
  }

  test("mergeIntervals: an early long interval swallows later short ones (running max)") {
    val sp = spark; import sp.implicits._
    // [0,100] then [10,20], [30,40]: a lag(e)-based island rule would
    // wrongly split at 30 (prev end 20); the running MAX must not
    val iv = Seq((1L, 0L, 100L), (1L, 10L, 20L), (1L, 30L, 40L))
      .toDF("u", "s", "e")
    val out = EventAnalytics.mergeIntervals(iv, "u", "s", "e").collect()
    assert(out.length === 1)
    assert(out.head.getAs[Long]("start") === 0L)
    assert(out.head.getAs[Long]("end") === 100L)
    assert(out.head.getAs[Long]("n_merged") === 3L)
  }

  test("returnRate: window boundaries exact, multiple visits count once") {
    val sp = spark; import sp.implicits._
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L + 1000L)
    val e = Seq(
      (1L, ts(0)), (1L, ts(3)),            // returns within 7 → day 0 counts
      (2L, ts(0)), (2L, ts(8)),            // day 8 is OUTSIDE (0, 7] → no
      (3L, ts(0)), (3L, ts(7)),            // exactly day 7 → inside
      (4L, ts(0)),                          // never returns
      (5L, ts(0)), (5L, ts(1)), (5L, ts(2))) // several returns, counts once
      .toDF("user_id", "ts")
    val out = EventAnalytics.returnRate(e, horizon = 7)
      .collect().map(r => r.getAs[Long]("day") ->
        (r.getAs[Long]("n_active"), r.getAs[Long]("n_returning"),
          r.getAs[Double]("return_rate"))).toMap
    // day 0: active {1..5}, returning {1, 3, 5} → 3/5
    assert(out(0L)._1 === 5L && out(0L)._2 === 3L)
    assert(math.abs(out(0L)._3 - 0.6) < 1e-12)
    // day 1 (user 5): returns on day 2 → 1/1
    assert(out(1L) === ((1L, 1L, 1.0)))
    // day 8 (user 2): nothing after → 0
    assert(out(8L)._2 === 0L)
  }

  test("stock session_window: closed merge boundary — exactly-at-end merges, +1us opens") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.functions._
    // MEASURED Spark semantics (this pin is what keeps the q203 oracle
    // honest): an event arriving EXACTLY at the session's current end
    // (last + gap) MERGES; one microsecond later opens a new session.
    // Note the deliberate contrast with q66's hand-rolled `>=` rule.
    val gapUs = 30L * 60 * 1000000
    val ts = Seq(0L, 10000000L, // base session [0s, 10s]
      10000000L + gapUs, // exactly at end -> merges
      10000000L + gapUs + gapUs + 1) // gap + 1us after the merged event -> NEW
    val e = ts.zipWithIndex.map { case (t, i) => (1L, i.toLong, t, 1.0) }
      .toDF("user_id", "event_id", "us", "value")
      .select(col("user_id"), col("event_id"),
        timestamp_micros(col("us")).as("ts"), col("value"))
    val out = e.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("sw.start")).as("s"),
        unix_micros(col("sw.end")).as("en"), col("n"))
      .orderBy(col("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 2, s"expected 2 sessions, got ${out.toSeq}")
    // session 1: first 3 events, end = (10s + gap) + gap
    assert(out(0) === ((0L, 10000000L + 2 * gapUs, 3L)))
    // session 2: the +1us straggler alone
    assert(out(1) === ((10000000L + 2 * gapUs + 1, 10000000L + 3 * gapUs + 1, 1L)))
  }

  test("q231 LTV curves: every cohort starts at age 0 and the curve never decreases") {
    val rows = EventAnalytics.q231LtvCurve(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getAs[java.sql.Date]("cohort_week").toString,
        r.getAs[Long]("age_week"), r.getAs[Long]("n_users"),
        r.getAs[Double]("cum_ltv_per_user")))
    assert(rows.nonEmpty)
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (cw, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.head._2 === 0L, s"cohort $cw must have an age-0 row")
      assert(sorted.map(_._3).distinct.size === 1,
        s"cohort $cw size must be constant across ages")
      sorted.sliding(2).filter(_.length == 2).foreach { w =>
        assert(w(1)._4 >= w(0)._4 - 1e-9,
          s"cohort $cw LTV decreased: ${w(0)._4} -> ${w(1)._4}")
      }
    }
  }

  test("q233 PVM: volume + rate effects reconstruct the revenue delta exactly") {
    val rows = EventAnalytics.q233Pvm(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val delta = r.getAs[Double]("delta")
      val v = r.getAs[Double]("volume_effect")
      val rt = r.getAs[Double]("rate_effect")
      // exact decomposition (only 6 dp rounding noise may remain)
      assert(math.abs(delta - (v + rt)) < 3e-6,
        s"${r.getAs[String]("event_type")}: $delta != $v + $rt")
      assert(math.abs(r.getAs[Double]("rev2") - r.getAs[Double]("rev1")
        - delta) < 3e-6)
    }
  }

  test("stationaryDistribution: hand power iteration, sink-edge renormalization, iterations guard") {
    val sp = spark; import sp.implicits._
    // P(A->A)=.75, P(A->B)=.25, P(B->A)=P(B->B)=.5 after dropping the
    // A->C sink edge (C has no outgoing row) and renormalizing A:
    // pi3(A) = 0.6640625 by hand from the uniform start
    val trans = Seq(
      ("A", "A", 3L), ("A", "B", 1L), ("A", "C", 4L),
      ("B", "A", 1L), ("B", "B", 1L)
    ).toDF("from_type", "to_type", "n")
      .withColumn("p",
        org.apache.spark.sql.functions.lit(0.0)) // unused; shape parity
    val pi = EventAnalytics.stationaryDistribution(trans, iterations = 3)
      .collect().map(r => r.getAs[String]("event_type") ->
        r.getAs[Double]("pi")).toMap
    assert(pi.keySet === Set("A", "B"), "sink state C must not appear")
    assert(math.abs(pi("A") - 0.6640625) < 1e-6, s"pi(A) = ${pi("A")}")
    // both components end in ...5 and round HALF_UP, so the 6-dp
    // output can carry up to 1 ulp of rounding on the sum
    assert(math.abs(pi("A") + pi("B") - 1.0) < 2e-6, "mass conserved")
    intercept[IllegalArgumentException] {
      EventAnalytics.stationaryDistribution(trans, iterations = 0)
    }
  }

  test("stationaryDistribution: symmetric 2-cycle stays uniform") {
    val sp = spark; import sp.implicits._
    val trans = Seq(("A", "B", 5L), ("B", "A", 5L))
      .toDF("from_type", "to_type", "n")
    val pi = EventAnalytics.stationaryDistribution(trans, iterations = 3)
      .collect().map(r => r.getAs[String]("event_type") ->
        r.getAs[Double]("pi")).toMap
    assert(pi("A") === 0.5 && pi("B") === 0.5)
  }

  test("offPolicyIps: hand IPS/SNIPS on a one-day log, target argmax with reward weighting") {
    val sp = spark; import sp.implicits._
    val d0 = java.sql.Date.valueOf("2024-01-05")
    val m0 = java.sql.Date.valueOf("2024-01-01")
    // actions a,a,b rewards 1,1,4: mu(a)=2/3 mu(b)=1/3; month totals
    // a=2 < b=4 -> target b; w = (0,0,3): match 1/3, IPS = 12/3 = 4,
    // SNIPS = 12/3 = 4
    val ev = Seq(
      (d0, m0, "a", 1.0), (d0, m0, "a", 1.0), (d0, m0, "b", 4.0)
    ).toDF("day", "month", "action", "reward")
    val r = EventAnalytics.offPolicyIps(ev).collect().head
    assert(r.getAs[Long]("n_events") === 3L)
    assert(math.abs(r.getAs[Double]("match_rate") - 1.0 / 3.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("ips_value") - 4.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("snips_value") - 4.0) < 1e-9)
  }

  test("offPolicyIps: total-reward tie breaks to the min action") {
    val sp = spark; import sp.implicits._
    val d0 = java.sql.Date.valueOf("2024-02-10")
    val m0 = java.sql.Date.valueOf("2024-02-01")
    // equal totals (2.0 each) -> target must be 'a' (min type); its
    // two rows match with w = 1/mu(a) = 2 -> IPS = (2+2)/4 = 1
    val ev = Seq(
      (d0, m0, "a", 1.0), (d0, m0, "a", 1.0),
      (d0, m0, "b", 2.0), (d0, m0, "c", 0.5)
    ).toDF("day", "month", "action", "reward")
    val r = EventAnalytics.offPolicyIps(ev).collect().head
    assert(math.abs(r.getAs[Double]("match_rate") - 0.5) < 1e-6)
    assert(math.abs(r.getAs[Double]("ips_value") - 1.0) < 1e-9)
  }

  test("logRank: hand Mantel-Cox on separated groups, variance term skips n<=1") {
    val sp = spark; import sp.implicits._
    // g1 events at t=1,1; g0 events at t=5,5:
    // t=1: n1=2 n0=2 d=2 d1=2 -> e1=1, v=1/3; t=5: n=2 all g0 -> e1+=0
    // O1=2 E1=1 V=1/3 -> chi2 = 3
    val lt = Seq(
      (1L, false, true), (1L, false, true),
      (5L, false, false), (5L, false, false)
    ).toDF("t", "censored", "grp")
    val r = EventAnalytics.logRank(lt, "t", "censored", "grp")
      .collect().head
    assert(r.getAs[Long]("n1") === 2L && r.getAs[Long]("n0") === 2L)
    assert(r.getAs[Double]("o1") === 2.0)
    assert(r.getAs[Double]("e1") === 1.0)
    assert(math.abs(r.getAs[Double]("variance") - 1.0 / 3.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("chi2") - 3.0) < 1e-5)
  }

  test("logRank: identical groups score chi2 0; censored rows hold risk sets without events") {
    val sp = spark; import sp.implicits._
    val lt = Seq(
      (1L, false, true), (2L, false, true),
      (1L, false, false), (2L, false, false),
      // censored at 2 in each group: at risk through t=2, no event
      (2L, true, true), (2L, true, false)
    ).toDF("t", "censored", "grp")
    val r = EventAnalytics.logRank(lt, "t", "censored", "grp")
      .collect().head
    assert(r.getAs[Long]("n1") === 3L && r.getAs[Long]("n0") === 3L)
    assert(r.getAs[Double]("o1") === 2.0)
    assert(math.abs(r.getAs[Double]("o1") - r.getAs[Double]("e1")) < 1e-9)
    assert(math.abs(r.getAs[Double]("chi2")) < 1e-9)
  }
}
