package graft.operators

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}

import graft.SparkSpec

class BehaviorSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String): LocalDateTime = LocalDateTime.parse(s)

  // (event_id, ts, user_id, event_type) — minimal funnel shape
  private def ev(rows: (Long, String, Long, String)*) =
    rows.map { case (id, ts, u, tp) => (id, t(ts), u, tp) }
      .toDF("event_id", "ts", "user_id", "event_type")

  test("funnel: ordering is strict — a purchase BEFORE the first view does not count") {
    val events = ev(
      (1L, "2026-01-01T10:00:00", 1L, "view"),
      (2L, "2026-01-01T11:00:00", 1L, "purchase"), // qualifies: after view
      (3L, "2026-01-02T09:00:00", 2L, "purchase"), // u2 purchase BEFORE any view
      (4L, "2026-01-02T10:00:00", 2L, "view"),
      (5L, "2026-01-03T08:00:00", 3L, "view") // view only
    )
    val out = Behavior.funnel(events, Seq("view", "purchase"))
      .orderBy("stage_idx").as[(Int, String, Long)].collect()
    assert(out.toSeq == Seq((1, "view", 3L), (2, "purchase", 1L)))
  }

  test("funnel: a stage nobody reaches reports users = 0, not a missing row") {
    val events = ev(
      (1L, "2026-01-01T10:00:00", 1L, "view"),
      (2L, "2026-01-01T09:00:00", 1L, "purchase")) // before the view — never qualifies
    val out = Behavior.funnel(events, Seq("view", "purchase", "refund"))
      .orderBy("stage_idx").as[(Int, String, Long)].collect()
    assert(out.toSeq == Seq((1, "view", 1L), (2, "purchase", 0L), (3, "refund", 0L)))
  }

  test("funnel: same-timestamp event qualifies (>= boundary)") {
    val events = ev(
      (1L, "2026-01-01T10:00:00", 1L, "view"),
      (2L, "2026-01-01T10:00:00", 1L, "purchase"))
    val out = Behavior.funnel(events, Seq("view", "purchase"))
      .orderBy("stage_idx").as[(Int, String, Long)].collect()
    assert(out.toSeq == Seq((1, "view", 1L), (2, "purchase", 1L)))
  }

  /** The chained-join funnel the one-shuffle [[Behavior.funnel]]
    * replaced, kept verbatim as the oracle. */
  private def chainedFunnel(events: DataFrame, stages: Seq[String],
                            userCol: String = "user_id", typeCol: String = "event_type",
                            tsCol: String = "ts"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    // per-stage earliest qualifying timestamp per user, chained; each
    // stage frame is checkpointed so stage i's lineage doesn't
    // re-evaluate stages 1..i−1 (and the final union is ONE job, not a
    // driver-side count per stage)
    var reached = List.empty[(String, DataFrame)]
    stages.foreach { stage =>
      val ev = events.filter(col(typeCol) === stage)
        .select(col(userCol).as("__u"), col(tsCol).as("__t"))
      val qualified = reached.headOption match {
        case None => ev
        case Some((_, prev)) =>
          ev.join(prev.select(col("__u"), col("__ts").as("__prev")), Seq("__u"))
            .filter(col("__t") >= col("__prev"))
            .select("__u", "__t")
      }
      val first = qualified.groupBy("__u").agg(min(col("__t")).as("__ts"))
        .localCheckpoint(true)
      reached ::= (stage, first)
    }
    // scalar aggregates, not groupBy-after-union: a stage nobody
    // reaches must still report users = 0 (a grouped count would drop
    // the row entirely — and diverge from SQL's scalar COUNT(*))
    reached.reverse.zipWithIndex.map { case ((stage, df), i) =>
      df.agg(count(lit(1)).as("users"))
        .select(lit(i + 1).as("stage_idx"), lit(stage).as("stage"), col("users"))
    }.reduce(_ unionByName _)
  }

  private type Row4 = (Long, Option[LocalDateTime], Option[Long], String)

  private def nullable[T](g: Gen[T]): Gen[Option[T]] = Gen.frequency(1 -> Gen.const(None), 4 -> g.map(Some(_)))

  private def funnelOf(f: (DataFrame, Seq[String]) => DataFrame, rows: Seq[Row4],
                       stages: Seq[String]): Seq[(Int, String, Long)] =
    f(rows.toDF("event_id", "ts", "user_id", "event_type"), stages)
      .orderBy("stage_idx").as[(Int, String, Long)].collect().toSeq

  test("funnel equals the chained-join funnel on generated frames") {
    // four minutes and five users: timestamp ties and repeat users are common
    val row = for {
      ts <- nullable(Gen.choose(0, 3).map(m => t(f"2026-01-01T10:0$m:00")))
      user <- nullable(Gen.choose(1L, 5L))
      eventType <- Gen.oneOf("view", "click", "purchase", "other")
    } yield (0L, ts, user, eventType)
    val frames = Gen.frequency(1 -> Gen.const(Nil), 8 -> Gen.choose(1, 30).flatMap(Gen.listOfN(_, row)))
    // drawn with replacement, so stage names repeat; "refund" never occurs
    val stages = Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.oneOf("view", "click", "purchase", "refund")))
    def agrees(rows: Seq[Row4], st: Seq[String]): Boolean =
      funnelOf(Behavior.funnel(_, _), rows, st) == funnelOf(chainedFunnel(_, _), rows, st)
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(25),
      Prop.forAllNoShrink(frames, stages)(agrees))
    assert(result.passed, s"${result.status}")
    // each edge pinned: a NULL user and a NULL-timestamp stage-1 row
    // reach stage 1 only, the >= boundary, an unreached stage, a
    // repeated stage name
    val at = (m: Int) => Some(t(f"2026-01-01T10:0$m:00"))
    val pinned: Seq[Row4] = Seq(
      (1L, at(0), None, "view"), (2L, at(1), None, "click"),
      (3L, None, Some(1L), "view"), (4L, at(1), Some(1L), "click"),
      (5L, at(1), Some(2L), "view"), (6L, at(1), Some(2L), "click"), (7L, at(2), Some(2L), "view"))
    val want = Seq((1, "view", 3L), (2, "click", 1L), (3, "view", 1L), (4, "refund", 0L))
    assert(funnelOf(chainedFunnel(_, _), pinned, Seq("view", "click", "view", "refund")) == want)
    assert(funnelOf(Behavior.funnel(_, _), pinned, Seq("view", "click", "view", "refund")) == want)
    assert(funnelOf(Behavior.funnel(_, _), Nil, Seq("view", "click")) == Seq((1, "view", 0L), (2, "click", 0L)))
  }

  test("funnel: one action runs at most 3 Spark jobs") {
    val events = ev((1L, "2026-01-01T10:00:00", 1L, "view"), (2L, "2026-01-01T11:00:00", 1L, "click"),
      (3L, "2026-01-01T12:00:00", 1L, "purchase"), (4L, "2026-01-01T10:00:00", 2L, "view"))
    val funnel = Behavior.funnel(events, Seq("view", "click", "purchase"))
    val (out, jobs) = countingJobs(funnel.as[(Int, String, Long)].collect().toSeq.sortBy(_._1))
    assert(out == Seq((1, "view", 2L), (2, "click", 1L), (3, "purchase", 1L)))
    assert(jobs <= 3, s"$jobs Spark jobs for one funnel")
  }

  test("retention: cohort is the user's own first day; week offsets are integer floors") {
    val events = ev(
      (1L, "2026-01-01T10:00:00", 1L, "view"), // u1 cohort 01-01
      (2L, "2026-01-06T10:00:00", 1L, "view"), // day 5 → week 0
      (3L, "2026-01-09T10:00:00", 1L, "view"), // day 8 → week 1
      (4L, "2026-01-09T11:00:00", 1L, "view"), // same week, distinct-folded
      (5L, "2026-01-09T10:00:00", 2L, "view") // u2 cohort 01-09, week 0
    )
    val out = Behavior.retention(events)
      .orderBy("cohort_day", "week_offset")
      .as[(java.sql.Date, Long, Long)].collect()
      .map { case (d, w, n) => (d.toString, w, n) }
    assert(out.toSeq == Seq(
      ("2026-01-01", 0L, 1L), ("2026-01-01", 1L, 1L), ("2026-01-09", 0L, 1L)))
  }

  /** The join-based retention the per-user-window [[Behavior.retention]]
    * replaced, kept verbatim as the oracle. */
  private def joinedRetention(events: DataFrame, userCol: String = "user_id",
                              tsCol: String = "ts"): DataFrame = {
    val days = events.select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"))
    val first = days.groupBy("__u").agg(min(col("__d")).as("cohort_day"))
    val active = days.join(first, Seq("__u"))
      .select(col("__u"), col("cohort_day"),
        floor(datediff(col("__d"), col("cohort_day")) / 7).cast("long").as("week_offset"))
      .distinct()
    active.groupBy("cohort_day", "week_offset")
      .agg(count(lit(1)).as("active_users"))
  }

  test("retention equals the join-based retention on generated frames") {
    // 20 days and five users: same-week repeats, week 1-2 returns, NULL
    // users and NULL timestamps all common
    val row = for {
      ts <- nullable(Gen.choose(0, 19 * 24).map(h => t("2026-01-01T00:00:00").plusHours(h.toLong)))
      user <- nullable(Gen.choose(1L, 5L))
    } yield (0L, ts, user, "view")
    val frames = Gen.frequency(1 -> Gen.const(Nil), 8 -> Gen.choose(1, 30).flatMap(Gen.listOfN(_, row)))
    def cells(f: DataFrame => DataFrame, rows: Seq[Row4]): Set[(Option[java.sql.Date], Option[Long], Long)] =
      f(rows.toDF("event_id", "ts", "user_id", "event_type"))
        .as[(Option[java.sql.Date], Option[Long], Long)].collect().toSet
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(25),
      Prop.forAllNoShrink(frames)(rows => cells(Behavior.retention(_), rows) == cells(joinedRetention(_), rows)))
    assert(result.passed, s"${result.status}")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged with null-safe compare") {
    val prev = Seq(
      (1L, Some("a"), Some(1.0)),
      (2L, Some("b"), None), // value NULL both sides → unchanged
      (3L, Some("c"), Some(3.0)), // removed
      (4L, None: Option[String], Some(4.0)) // type NULL→"x" → changed
    ).toDF("event_id", "event_type", "value")
    val cur = Seq(
      (1L, Some("a"), Some(1.0)), // unchanged
      (2L, Some("b"), None: Option[Double]),
      (4L, Some("x"), Some(4.0)),
      (5L, Some("new"), Some(5.0)) // added
    ).toDF("event_id", "event_type", "value")
    val out = DataQuality.snapshotDiff(cur, prev, "event_id", Seq("event_type", "value"))
      .orderBy("event_id").as[(Long, String)].collect()
    assert(out.toSeq == Seq(
      (1L, "unchanged"), (2L, "unchanged"), (3L, "removed"), (4L, "changed"), (5L, "added")))
  }

  test("valuePercentiles: interpolated quantiles on a handmade distribution") {
    val df = (1 to 101).map(i => ("t", i.toDouble)).toDF("event_type", "value")
    val out = DataQuality.valuePercentiles(df, "event_type", "value")
      .as[(String, Double, Double, Double)].collect()
    // (n−1)·p lands exactly on elements for n=101
    assert(out.toSeq == Seq(("t", 51.0, 91.0, 100.0)))
  }
}
