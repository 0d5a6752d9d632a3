package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class EventOpsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val steps = Seq("signup", "view", "purchase")

  private def funnelOf(rows: Seq[(Long, String, String)]) =
    EventOps.funnelUsers(
      rows.map { case (u, t, time) => (u, t, ts(time)) }
        .toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", steps)
      .collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[collection.Seq[java.lang.Long]]("times"), r.getAs[Int]("steps_completed")))
      .toMap

  test("funnel: strict ordering — later-step events before the anchor don't count") {
    val f = funnelOf(Seq(
      // user 1: purchase BEFORE signup, view after → depth 2, not 3
      (1L, "purchase", "2024-01-01 00:00:00"),
      (1L, "signup", "2024-01-01 01:00:00"),
      (1L, "view", "2024-01-01 02:00:00"),
      // user 2: full ordered funnel
      (2L, "signup", "2024-01-01 00:00:00"),
      (2L, "view", "2024-01-01 00:10:00"),
      (2L, "purchase", "2024-01-01 00:20:00"),
      // user 3: never signs up → depth 0 despite later steps
      (3L, "view", "2024-01-01 00:00:00"),
      (3L, "purchase", "2024-01-01 00:01:00")))
    assert(f(1L)._2 == 2)
    assert(f(2L)._2 == 3)
    assert(f(3L)._2 == 0)
  }

  test("funnel: anchor is the EARLIEST completion of each step (min semantics)") {
    val f = funnelOf(Seq(
      (1L, "signup", "2024-01-01 00:00:00"),
      (1L, "signup", "2024-01-01 05:00:00"), // later signup must not move the anchor
      (1L, "view", "2024-01-01 01:00:00"),
      (1L, "view", "2024-01-01 06:00:00"),
      (1L, "purchase", "2024-01-01 02:00:00")))
    val times = f(1L)._1.toSeq.map(Option(_).map(_.longValue))
    def us(s: String) = ts(s).getTime * 1000L
    assert(times == Seq(Some(us("2024-01-01 00:00:00")),
      Some(us("2024-01-01 01:00:00")), Some(us("2024-01-01 02:00:00"))))
  }

  test("funnel: same-microsecond progression counts (ts >= anchor, not >)") {
    val f = funnelOf(Seq(
      (1L, "signup", "2024-01-01 00:00:00"),
      (1L, "view", "2024-01-01 00:00:00"),
      (1L, "purchase", "2024-01-01 00:00:00")))
    assert(f(1L)._2 == 3)
  }

  test("funnel gap bound: a step outside maxStepGapMicros breaks the chain") {
    val rows = Seq(
      (1L, "signup", "2024-01-01 00:00:00"),
      (1L, "view", "2024-01-01 02:00:00"), // 2h after signup
      (1L, "purchase", "2024-01-01 02:30:00"),
      (2L, "signup", "2024-01-01 00:00:00"),
      (2L, "view", "2024-01-01 00:30:00"),
      (2L, "purchase", "2024-01-01 00:45:00"))
      .map { case (u, t, time) => (u, t, ts(time)) }
      .toDF("user_id", "event_type", "ts")
    val gap1h = EventOps.funnelUsers(rows, "user_id", "event_type", "ts",
      steps, maxStepGapMicros = Some(3600L * 1000000))
      .collect().map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("steps_completed")).toMap
    assert(gap1h(1L) == 1, "view at 2h exceeds the 1h gap")
    assert(gap1h(2L) == 3)
  }

  test("funnelCounts: per-step user counts are monotone non-increasing, types labelled") {
    val rows = Seq(
      (1L, "signup", "2024-01-01 00:00:00"),
      (1L, "view", "2024-01-01 01:00:00"),
      (1L, "purchase", "2024-01-01 02:00:00"),
      (2L, "signup", "2024-01-01 00:00:00"),
      (2L, "view", "2024-01-01 01:00:00"),
      (3L, "signup", "2024-01-01 00:00:00"),
      (4L, "view", "2024-01-01 00:00:00")) // no signup
      .map { case (u, t, time) => (u, t, ts(time)) }
      .toDF("user_id", "event_type", "ts")
    val got = EventOps.funnelCounts(rows, "user_id", "event_type", "ts", steps)
      .orderBy(col("step")).collect()
      .map(r => (r.getAs[Long]("step"), r.getAs[String]("step_type"), r.getAs[Long]("n_users")))
    assert(got.toSeq == Seq((1L, "signup", 3L), (2L, "view", 2L), (3L, "purchase", 1L)))
  }

  test("funnel plan: one shuffle on user, scan-level step filter, no window") {
    val rows = Seq((1L, "signup", ts("2024-01-01 00:00:00")))
      .toDF("user_id", "event_type", "ts")
    val plan = EventOps.funnelUsers(rows, "user_id", "event_type", "ts", steps)
      .queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, "the fold must not use a window")
    val sorts = plan.collect {
      case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.isEmpty, "sorting happens inside sort_array, not a SortExec")
  }

  test("cohortRetention: offsets anchor at first signup; pre-signup days excluded") {
    val rows = Seq(
      (1L, "signup", "2024-01-03 10:00:00"),
      (1L, "view", "2024-01-01 10:00:00"), // before cohort day → excluded
      (1L, "view", "2024-01-03 12:00:00"), // offset 0 (same day as signup)
      (1L, "click", "2024-01-05 12:00:00"), // offset 2
      (2L, "signup", "2024-01-03 00:00:00"),
      (2L, "signup", "2024-01-06 00:00:00"), // second signup ignored
      (2L, "view", "2024-01-04 00:00:00"), // offset 1
      (3L, "view", "2024-01-01 00:00:00")) // never signed up → absent
      .map { case (u, t, time) => (u, t, ts(time)) }
      .toDF("user_id", "event_type", "ts")
    val got = EventOps.cohortRetention(rows, "user_id", "event_type", "ts", "signup")
      .collect()
      .map(r => (r.getAs[String]("cohort_day"), r.getAs[Long]("day_offset"),
        r.getAs[Long]("n_active"))).toSet
    assert(got == Set(
      ("2024-01-03", 0L, 2L), // both users active on their cohort day
      ("2024-01-03", 1L, 1L), // user 2
      ("2024-01-03", 2L, 1L), // user 1
      ("2024-01-03", 3L, 1L))) // user 2's second signup event, day 6
  }

  // --- sessionize / sessionStats ---------------------------------------

  private def sessionsOf(rows: Seq[(Long, Long, String)], gapUs: Long) =
    EventOps.sessionStats(
      rows.map { case (u, id, time) => (u, id, ts(time)) }
        .toDF("user_id", "event_id", "ts"),
      "user_id", "ts", gapUs, "event_id")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("n_events"), r.getAs[Long]("duration_us")))
      .toSet

  test("sessionize: gap strictly greater than the threshold opens a session") {
    val got = sessionsOf(Seq(
      (1L, 1L, "2024-01-01 00:00:00"),
      (1L, 2L, "2024-01-01 01:00:00"),   // gap EXACTLY 1h → same session
      (1L, 3L, "2024-01-01 02:00:00.000001"), // 1h + 1µs → new session
      (2L, 4L, "2024-01-01 00:00:00")),  // separate user, own numbering
      gapUs = 3600000000L)
    assert(got == Set(
      (1L, 1L, 2L, 3600000000L),
      (1L, 2L, 1L, 0L),
      (2L, 1L, 1L, 0L)))
  }

  test("sessionize: tied timestamps never split and numbering is tie-order-free") {
    val got = sessionsOf(Seq(
      (1L, 9L, "2024-01-01 00:00:00"), // tie, listed in reverse id order
      (1L, 3L, "2024-01-01 00:00:00"),
      (1L, 5L, "2024-01-01 12:00:00")),
      gapUs = 3600000000L)
    assert(got == Set((1L, 1L, 2L, 0L), (1L, 2L, 1L, 0L)))
  }

  // --- transitionCounts ------------------------------------------------

  test("transitions: counts follow the (ts, tie) total order; p_micro is the cleared ratio") {
    val rows = Seq(
      // user 1: a -> b -> b ; user 2: a -> c. From 'a': b once, c once.
      (1L, 1L, "2024-01-01 00:00:00", "a"),
      (1L, 2L, "2024-01-01 00:01:00", "b"),
      (1L, 3L, "2024-01-01 00:02:00", "b"),
      (2L, 4L, "2024-01-01 00:00:00", "a"),
      (2L, 5L, "2024-01-01 00:01:00", "c"))
      .map { case (u, id, time, t) => (u, id, ts(time), t) }
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = EventOps.transitionCounts(rows, "user_id", "event_type", "ts", "event_id")
      .collect()
      .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("next_type"),
        r.getAs[Long]("n_trans"), r.getAs[Long]("p_micro")))
      .toSet
    assert(got == Set(
      ("a", "b", 1L, 500000L),
      ("a", "c", 1L, 500000L),
      ("b", "b", 1L, 1000000L)))
  }

  test("transitions: same-timestamp order resolves by the tie column") {
    val rows = Seq(
      (1L, 2L, "2024-01-01 00:00:00", "y"), // tie: id 1 ('x') comes first
      (1L, 1L, "2024-01-01 00:00:00", "x"),
      (1L, 3L, "2024-01-01 00:01:00", "z"))
      .map { case (u, id, time, t) => (u, id, ts(time), t) }
      .toDF("user_id", "event_id", "ts", "event_type")
    val got = EventOps.transitionCounts(rows, "user_id", "event_type", "ts", "event_id")
      .collect()
      .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("next_type")))
      .toSet
    assert(got == Set(("x", "y"), ("y", "z")))
  }

  test("scd2: runs collapse to intervals; current version open; ties by event_id") {
    val rows = Seq(
      // user 1: A A B A — runs A, B, A
      (1L, "A", "2024-01-01 00:00:00", 1L),
      (1L, "A", "2024-01-01 01:00:00", 2L),
      (1L, "B", "2024-01-01 02:00:00", 3L),
      (1L, "A", "2024-01-01 03:00:00", 4L),
      // user 2: single event
      (2L, "C", "2024-01-01 00:30:00", 5L),
      // user 3: tied timestamps ordered by event_id: B (id 6) then A (id 7)
      (3L, "B", "2024-01-01 00:00:00", 6L),
      (3L, "A", "2024-01-01 00:00:00", 7L))
      .map { case (u, a, t, id) => (u, a, ts(t), id) }
      .toDF("user_id", "attr", "ts", "event_id")
    val got = EventOps.scd2(rows, "user_id", "attr", "ts", "event_id")
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("attr"),
        r.getAs[Timestamp]("valid_from"),
        Option(r.getAs[Timestamp]("valid_to")),
        r.getAs[Boolean]("is_current")))
      .toSet
    assert(got == Set(
      (1L, "A", ts("2024-01-01 00:00:00"), Some(ts("2024-01-01 02:00:00")), false),
      (1L, "B", ts("2024-01-01 02:00:00"), Some(ts("2024-01-01 03:00:00")), false),
      (1L, "A", ts("2024-01-01 03:00:00"), None, true),
      (2L, "C", ts("2024-01-01 00:30:00"), None, true),
      (3L, "B", ts("2024-01-01 00:00:00"), Some(ts("2024-01-01 00:00:00")), false),
      (3L, "A", ts("2024-01-01 00:00:00"), None, true)))
  }

  test("scd2: null attribute values form runs (null-safe change detection)") {
    val rows = Seq(
      (1L, Option("A"), "2024-01-01 00:00:00", 1L),
      (1L, None: Option[String], "2024-01-01 01:00:00", 2L),
      (1L, None: Option[String], "2024-01-01 02:00:00", 3L),
      (1L, Option("A"), "2024-01-01 03:00:00", 4L))
      .map { case (u, a, t, id) => (u, a, ts(t), id) }
      .toDF("user_id", "attr", "ts", "event_id")
    val got = EventOps.scd2(rows, "user_id", "attr", "ts", "event_id")
      .collect().map(r => (Option(r.getAs[String]("attr")),
        r.getAs[Boolean]("is_current"))).toSet
    assert(got == Set((Some("A"), false), (None, false), (Some("A"), true)))
  }

  test("engagement: DAU/WAU/MAU reference parity on random activity") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(9)
    val base = java.time.LocalDate.of(2024, 3, 1)
    val activity = Seq.fill(600)(
      (rnd.nextInt(25).toLong, base.plusDays(rnd.nextInt(45))))
    val rows = activity.map { case (u, d) =>
      (u, Timestamp.valueOf(d.atTime(rnd.nextInt(24), 0))) }
      .toDF("user_id", "ts")
    val got = EventOps.engagement(rows, "user_id", "ts", wauDays = 7, mauDays = 30)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val ud = activity.distinct
    val days = ud.map(_._2).distinct
    assert(got.keySet == days.map(_.toString).toSet, "one row per ACTIVE day")
    for (d <- days) {
      val dau = ud.filter(_._2 == d).map(_._1).distinct.size.toLong
      val wau = ud.filter(x => !x._2.isAfter(d) &&
        x._2.isAfter(d.minusDays(7))).map(_._1).distinct.size.toLong
      val mau = ud.filter(x => !x._2.isAfter(d) &&
        x._2.isAfter(d.minusDays(30))).map(_._1).distinct.size.toLong
      assert(got(d.toString) == ((dau, wau, mau)), s"day=$d")
    }
    // windows nest: dau <= wau <= mau everywhere
    assert(got.values.forall { case (d, w, m) => d <= w && w <= m })
  }

  test("sessionPaths: prefix truncation, gap splits, complete counts") {
    val rows = Seq(
      // user 1, session 1: a>b>c (complete at maxSteps=2? no — 3 steps)
      (1L, "a", "2024-01-01 00:00:00", 1L),
      (1L, "b", "2024-01-01 00:05:00", 2L),
      (1L, "c", "2024-01-01 00:10:00", 3L),
      // user 1, session 2 after a >30min gap: a>b exactly
      (1L, "a", "2024-01-01 02:00:00", 4L),
      (1L, "b", "2024-01-01 02:01:00", 5L),
      // user 2, one session: a>b
      (2L, "a", "2024-01-01 00:00:00", 6L),
      (2L, "b", "2024-01-01 00:20:00", 7L))
      .map { case (u, t, time, id) => (u, t, ts(time), id) }
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = EventOps.sessionPaths(rows, "user_id", "event_type", "ts",
        "event_id", gapMicros = 1800000000L, maxSteps = 2)
      .collect()
      .map(r => r.getAs[String]("path") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_complete"))))
      .toMap
    // all three sessions share the a>b prefix; only two END within 2 steps
    assert(got == Map("a>b" -> ((3L, 2L))))
  }

  test("streaks: islands split on missing days; multiple events per day collapse") {
    val rows = Seq(
      // user 1: days 1,2,3 then 5,6 → longest 3, 2 streaks, 5 active
      (1L, "2024-01-01 10:00:00"), (1L, "2024-01-01 23:00:00"),
      (1L, "2024-01-02 00:30:00"), (1L, "2024-01-03 09:00:00"),
      (1L, "2024-01-05 12:00:00"), (1L, "2024-01-06 12:00:00"),
      // user 2: one day
      (2L, "2024-02-10 08:00:00"))
      .map { case (u, t) => (u, ts(t)) }.toDF("user_id", "ts")
    val got = EventOps.streaks(rows, "user_id", "ts")
      .collect()
      .map(r => r.getAs[Long]("user") ->
        ((r.getAs[Long]("longest_streak"), r.getAs[Long]("n_streaks"),
          r.getAs[Long]("n_active_days"))))
      .toMap
    assert(got == Map(1L -> ((3L, 2L, 5L)), 2L -> ((1L, 1L, 1L))))
  }

  test("sessionPaths: tie order resolves by the tie column; single-event path") {
    val rows = Seq(
      (1L, "x", "2024-01-01 00:00:00", 2L),
      (1L, "y", "2024-01-01 00:00:00", 1L), // same ts: y first by event_id
      (2L, "solo", "2024-01-01 00:00:00", 3L))
      .map { case (u, t, time, id) => (u, t, ts(time), id) }
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = EventOps.sessionPaths(rows, "user_id", "event_type", "ts",
        "event_id", gapMicros = 1800000000L, maxSteps = 5)
      .collect()
      .map(r => r.getAs[String]("path") -> r.getAs[Long]("n_sessions"))
      .toMap
    assert(got == Map("y>x" -> 1L, "solo" -> 1L))
  }

  test("multiTouchAttribution linear: equal split inside the lookback, outside excluded") {
    // conversion at t=1000 rev 300, lookback 100: touches at 920, 950,
    // 980 credit 100e6 each; 1000 (same second) and 880 excluded
    val conv = Seq((1L, 10L, 1000L, 300L)).toDF("cid", "u", "t", "rev")
    val tch = Seq(
      (101L, 10L, 920L, "click"), (102L, 10L, 950L, "view"),
      (103L, 10L, 980L, "click"), (104L, 10L, 1000L, "view"),
      (105L, 10L, 880L, "click"), (106L, 99L, 950L, "view"))
      .toDF("tid", "u", "t", "ch")
    val got = EventOps.multiTouchAttribution(conv, tch, "u", "t", "cid",
        "rev", "tid", "ch", lookbackSec = 100L, policy = "linear",
        bucketWidth = 60L)
      .collect()
      .map(r => r.getLong(1) -> ((r.getString(3), r.getLong(5)))).toMap
    assert(got.keySet == Set(101L, 102L, 103L))
    assert(got(101L) == (("first", 100000000L)))
    assert(got(102L) == (("middle", 100000000L)))
    assert(got(103L) == (("last", 100000000L)))
  }

  test("multiTouchAttribution u40: 40/20/40 positions, n=1 and n=2 degenerate") {
    val conv = Seq((1L, 1L, 1000L, 100L), (2L, 2L, 1000L, 100L),
      (3L, 3L, 1000L, 100L)).toDF("cid", "u", "t", "rev")
    val tch = Seq(
      // u1: four touches -> 40/10/10/40
      (11L, 1L, 910L, "a"), (12L, 1L, 920L, "b"),
      (13L, 1L, 930L, "c"), (14L, 1L, 940L, "d"),
      // u2: single touch -> 100%
      (21L, 2L, 950L, "a"),
      // u3: two touches -> 50/50
      (31L, 3L, 930L, "a"), (32L, 3L, 960L, "b"))
      .toDF("tid", "u", "t", "ch")
    val got = EventOps.multiTouchAttribution(conv, tch, "u", "t", "cid",
        "rev", "tid", "ch", lookbackSec = 100L, policy = "u40",
        bucketWidth = 60L)
      .collect().map(r => r.getLong(1) -> r.getLong(5)).toMap
    assert(got(11L) == 40000000L && got(14L) == 40000000L)
    assert(got(12L) == 10000000L && got(13L) == 10000000L)
    assert(got(21L) == 100000000L)
    assert(got(31L) == 50000000L && got(32L) == 50000000L)
  }
}
