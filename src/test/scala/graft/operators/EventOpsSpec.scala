package graft.operators

import java.time.LocalDateTime

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.TimestampNTZType

import graft.SparkSpec

class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  private def t(s: String): LocalDateTime = LocalDateTime.parse(s)

  // (event_id, ts, user_id, event_type, value, props) — driver `events` shape
  private def events: DataFrame = Seq(
    (1L, t("2026-01-01T10:00:00"), 7L, "purchase", 19.99, """{"k": 3}"""),
    (2L, t("2026-01-01T11:30:00"), 8L, "view", 0.0, """{"k": 5}"""),
    (3L, t("2026-01-02T09:00:00"), 7L, "purchase", 29.99, """{"other": 1}"""),
    (4L, t("2026-01-02T09:00:01"), 9L, "click", 0.0, null),
    (5L, t("2026-01-02T23:59:59"), 7L, "purchase", 49.99, """{"k": 11}""")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("runningCount matches the single-window form across day boundaries") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, lit}
    // multi-day per key, same-ts ties broken by event_id, a key that
    // skips a day — every seam of the prior-day-offset reconstruction
    val feed = Seq(
      (1L, t("2026-01-01T10:00:00"), "view"),
      (2L, t("2026-01-01T10:00:00"), "view"),   // tie on ts
      (3L, t("2026-01-01T11:00:00"), "click"),
      (4L, t("2026-01-02T09:00:00"), "view"),
      (5L, t("2026-01-03T09:00:00"), "click"),  // click skipped Jan 2
      (6L, t("2026-01-03T09:30:00"), "view"),
      (7L, t("2026-01-03T09:30:00"), "click")
    ).toDF("event_id", "ts", "event_type")
    val naive = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val expected = feed.select(col("event_id"), col("event_type"),
      count(lit(1)).over(naive).as("running_count"))
    val got = EventOps.runningCount(feed)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "two-level running count diverges from the single-window form")
    // the offsets frame joins broadcast; no window partitions by the
    // bare key over the full event stream
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"offsets must broadcast:\n$plan")
  }

  test("userEvents keeps only purchases and projects the envelope") {
    val out = EventOps.userEvents(events).orderBy("event_id").collect()
    assert(out.map(_.getAs[Long]("event_id")).toSeq == Seq(1L, 3L, 5L))
    assert(out.head.getAs[Double]("price") == 19.99)
  }

  test("userEvents extracts JSON path; missing key and null props give NULL") {
    val byId = EventOps.userEvents(events).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Any]("prop_k")).toMap
    assert(byId(1L) == 3)
    assert(byId(3L) == null) // props lacks $.k
  }

  test("dailySummary groups on (date, type), counts duplicates, min/max ts") {
    // Duplicate row 1 — the reference aggregates the raw tier INCLUDING dups.
    val withDup = events.unionAll(events.filter($"event_id" === 1L))
    val out = EventOps.dailySummary(withDup).collect()
      .map(r => (r.getAs[java.sql.Date]("event_date").toString, r.getAs[String]("event_type")) -> r).toMap

    assert(out(("2026-01-01", "purchase")).getAs[Long]("event_count") == 2L)
    val d2 = out(("2026-01-02", "purchase"))
    assert(d2.getAs[Long]("event_count") == 2L)
    assert(d2.getAs[LocalDateTime]("first_event") == t("2026-01-02T09:00:00"))
    assert(d2.getAs[LocalDateTime]("last_event") == t("2026-01-02T23:59:59"))
  }

  test("dailyTrend: exact OLS slope on a linear series; single-day group is NULL not NaN") {
    // counts 1,2,3 on consecutive days → slope exactly 1 event/day/day
    val rows = (for {
      (day, n) <- Seq(("2026-01-01", 1), ("2026-01-02", 2), ("2026-01-03", 3))
      i <- 0 until n
    } yield (day.hashCode.toLong * 10 + i, t(s"${day}T10:00:00"), 1L, "click", Some(1.0), None: Option[String]))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val single = Seq((99L, t("2026-01-01T10:00:00"), 1L, "view", Some(1.0), None: Option[String]))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val out = EventOps.dailyTrend(rows.unionAll(single))
      .orderBy("event_type")
      .as[(String, Long, Option[Double])].collect()
    assert(out.toSeq == Seq(("click", 3L, Some(1.0)), ("view", 1L, None)))
  }

  test("dailySummary keeps ts as TIMESTAMP_NTZ (oracle parity)") {
    val schema = EventOps.dailySummary(events).schema
    assert(schema("first_event").dataType == TimestampNTZType)
  }

  test("dedupInsert drops already-loaded keys and null staging keys") {
    val staging = Seq(
      (Some(1L), "a"), (Some(2L), "b"), (None: Option[Long], "c"), (Some(9L), "d")
    ).toDF("event_id", "payload")
    val target = Seq(1L, 5L).toDF("event_id")
    val out = EventOps.dedupInsert(staging, target).orderBy("event_id").collect()
    assert(out.map(_.getAs[Long]("event_id")).toSeq == Seq(2L, 9L))
  }

  test("dedupInsert is idempotent: second pass inserts nothing") {
    val staging = Seq((1L, "a"), (2L, "b")).toDF("event_id", "payload")
    val empty = Seq.empty[(Long, String)].toDF("event_id", "payload")
    val firstInsert = EventOps.dedupInsert(staging, empty)
    assert(firstInsert.count() == 2L)
    val afterLoad = empty.unionAll(firstInsert)
    assert(EventOps.dedupInsert(staging, afterLoad).count() == 0L)
  }

  test("dedupInsertNotIn: NULL in target key yields zero rows (SQL NOT IN)") {
    val staging = Seq((1L, "a"), (9L, "d")).toDF("event_id", "payload")
    val target = Seq(Some(1L), None).toDF("event_id")
    assert(EventOps.dedupInsertNotIn(staging, target).count() == 0L)
  }

  test("dedupInsertNotIn without build-side NULL matches dedupInsert and plans a hash join") {
    val staging = Seq((1L, "a"), (2L, "b"), (9L, "d")).toDF("event_id", "payload")
    val target = Seq(1L, 5L).toDF("event_id")
    val out = EventOps.dedupInsertNotIn(staging, target)
    assert(out.orderBy("event_id").collect().map(_.getAs[Long]("event_id")).toSeq == Seq(2L, 9L))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in plan:\n$plan")
  }

  test("userEventsVariant matches userEvents on the JSON payload (P6 via VARIANT)") {
    val a = EventOps.userEvents(events).orderBy("event_id").collect().map(_.toString).toSeq
    val b = EventOps.userEventsVariant(events).orderBy("event_id").collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("partitionByKey co-locates every key in one partition (O7)") {
    val df = EventOps.partitionByKey(events.repartition(4), "user_id")
    import org.apache.spark.sql.functions.{countDistinct, spark_partition_id}
    val spread = df.withColumn("pid", spark_partition_id())
      .groupBy("user_id").agg(countDistinct("pid").as("n"))
      .filter($"n" > 1).count()
    assert(spread == 0L)
  }

  test("withAuditColumns appends inserted_at") {
    // the stored value is truncated to micros
    val before = java.time.Instant.now().truncatedTo(java.time.temporal.ChronoUnit.MICROS)
    val out = EventOps.withAuditColumns(events.repartition(3))
    val after = java.time.Instant.now()
    assert(out.columns.contains("inserted_at"))
    assert(out.filter($"inserted_at".isNull).count() == 0L)
    // the raw and curated tables are created from this schema's DDL
    assert(out.schema("inserted_at").toDDL == "inserted_at TIMESTAMP NOT NULL")
    // one value for every row of the call, across partitions, taken
    // during the call
    val stamps = out.select($"inserted_at").collect().map(_.getTimestamp(0).toInstant).distinct
    assert(stamps.length == 1, s"one call, several values: ${stamps.toSeq}")
    assert(!stamps.head.isBefore(before) && !stamps.head.isAfter(after),
      s"${stamps.head} outside [$before, $after]")
  }

  test("sessionize: 30-min gaps split sessions; one shuffle shared across windows and agg") {
    val evs = Seq(
      (1L, t("2026-01-01T10:00:00"), 7L), // session 1
      (2L, t("2026-01-01T10:20:00"), 7L), // 20 min gap -> same session
      (3L, t("2026-01-01T10:50:01"), 7L), // 30m01s gap -> new session
      (4L, t("2026-01-01T11:20:01"), 7L), // exactly 30m -> SAME session (strict >)
      (5L, t("2026-01-01T10:00:00"), 8L)  // other user, own session
    ).toDF("event_id", "ts", "user_id")
    val out = EventOps.sessionize(evs).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_no")) ->
        r.getAs[Long]("event_count")).toMap
    assert(out == Map((7L, 1L) -> 2L, (7L, 2L) -> 2L, (8L, 1L) -> 1L), s"got $out")

    val plan = EventOps.sessionize(evs).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected ONE user_id shuffle, got $exchanges:\n$plan")
  }
}
