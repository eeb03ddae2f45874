package graft.streaming

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterEach

import graft.SparkSpec
import graft.operators.{DataQuality, EventOps}
import graft.pipeline.{PipelineFailedException, PipelineReport}
import graft.sources.{EventGenerator, JsonIngest, PartitionedJsonSink}

class StreamingPipelineSpec extends SparkSpec with BeforeAndAfterEach {

  override def beforeEach(): Unit =
    Seq(StreamingPipeline.RawTable, StreamingPipeline.EventsTable, StreamingPipeline.SummaryTable)
      .foreach(t => graft.plans.Catalog.dropIfExists(spark, t))

  test("continuous ingest: raw append, curated dedup, summary refresh, DQ gate per batch") {
    val root = Files.createTempDirectory("graft_sp").toString
    val cp = Files.createTempDirectory("graft_spcp").toString
    var reports = List.empty[PipelineReport]

    PartitionedJsonSink.write(EventGenerator.events(spark, 100, seed = 41, startEpochSeconds = 1735689600L), root)
    StreamingPipeline.start(spark, root, cp, r => reports ::= r).awaitTermination(120000)

    assert(reports.nonEmpty && reports.forall(_.ok))
    assert(spark.table(StreamingPipeline.RawTable).count() == 100L)
    assert(spark.table(StreamingPipeline.EventsTable).count() == 100L)
    val summarized = spark.table(StreamingPipeline.SummaryTable)
      .agg(org.apache.spark.sql.functions.sum("event_count")).head().getLong(0)
    assert(summarized == 100L)
    assert(reports.head.metrics("duplicate_count") == 0L)

    // land a second hour + RE-LAND the first (duplicate files): raw grows
    // at-least-once, curated stays exactly-once, gate still green
    PartitionedJsonSink.write(EventGenerator.events(spark, 50, seed = 43, startEpochSeconds = 1735689600L + 3600), root)
    PartitionedJsonSink.write(EventGenerator.events(spark, 100, seed = 41, startEpochSeconds = 1735689600L), root)
    StreamingPipeline.start(spark, root, cp, r => reports ::= r).awaitTermination(120000)

    assert(reports.head.ok)
    assert(spark.table(StreamingPipeline.RawTable).count() == 250L) // 100 + 50 + re-landed 100
    assert(spark.table(StreamingPipeline.EventsTable).count() == 150L) // deduped
    assert(reports.head.metrics("duplicate_count") == 0L && reports.head.metrics("incomplete_count") == 0L)

    // the incremental summary equals the full recompute over raw_data
    // (counts INCLUDE raw-tier duplicates — reference semantics)
    val summarizedAll = spark.table(StreamingPipeline.SummaryTable)
      .agg(org.apache.spark.sql.functions.sum("event_count")).head().getLong(0)
    assert(summarizedAll == 250L, s"incremental summary drifted: $summarizedAll")
  }

  test("a failed batch's replay re-publishes the SAME summary snapshot — no double merge") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_replay").toString
    val cp = Files.createTempDirectory("graft_replaycp").toString
    PartitionedJsonSink.write(EventGenerator.events(spark, 20, seed = 77, startEpochSeconds = 1735689600L), root)
    // poison the landing with an INCOMPLETE record (missing event_type):
    // load_raw and refresh_summary process it, evaluate_dq then fails
    // the batch, so it never commits and replays on restart
    val bad = """{"event_id":"bad-1","event_timestamp":"2025-01-01T00:00:30.000000","user_id":"user_9"}"""
    val hour = graft.sources.PartitionedJsonSink.hourPath(root, java.time.LocalDateTime.of(2025, 1, 1, 0, 0))
    val gz = new java.io.FileOutputStream(s"$hour/poison.json.gz")
    val z = new java.util.zip.GZIPOutputStream(gz)
    z.write((bad + "\n").getBytes("UTF-8")); z.close()

    def runOnce(): Unit = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingPipeline.start(spark, root, cp).awaitTermination(120000)
    }
    def summaryTotal: Long = spark.table(StreamingPipeline.SummaryTable)
      .agg(sum("event_count")).head().getLong(0)

    runOnce() // batch 0 fails at evaluate_dq, uncommitted
    val rawAfter1 = spark.table(StreamingPipeline.RawTable).count()
    val sumAfter1 = summaryTotal
    assert(sumAfter1 == 21L, s"summary after first attempt: $sumAfter1") // 20 good + 1 incomplete

    runOnce() // replay of the SAME uncommitted batch (same run id, same tag)
    assert(spark.table(StreamingPipeline.RawTable).count() == rawAfter1 * 2,
      "raw tier is at-least-once by design — the replay must re-append")
    assert(summaryTotal == sumAfter1,
      s"replayed batch double-merged the summary: ${summaryTotal} vs $sumAfter1")
  }

  test("dedup anti-join build side prunes to the batch's event-date partitions") {
    import org.apache.spark.sql.functions._
    def wire(n: Long, seed: Long, start: Long) =
      EventGenerator.events(spark, n, seed, start)
        .select(col("event_id").cast("string").as("event_id"), col("event_timestamp"),
          col("event_type"), col("user_id").cast("string").as("user_id"),
          lit(null).cast("string").as("raw_data"))
    // two separate days land in the curated tier
    StreamingPipeline.runBatch(spark,
      wire(30, 1, 1735689600L).unionByName(wire(30, 2, 1735689600L + 86400)), 1L, _ => ())
    assert(spark.table(StreamingPipeline.EventsTable).count() == 60L)

    // a batch touching only day 2 must build its anti-join against day 2 only
    val staging = wire(10, 2, 1735689600L + 86400)
      .select("event_id", "event_timestamp", "event_type", "user_id")
      .withColumn("event_date", to_date(col("event_timestamp")))
    val target = StreamingPipeline.dedupTarget(spark, EventOps.DateRange.of(staging, col("event_date")))
    val dates = target.select(countDistinct(col("event_date"))).head().getLong(0)
    assert(dates == 1L, s"build side read $dates dates, expected 1")

    val scans = target.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      s"tier scan carries no partition filters:\n${target.queryExecution.executedPlan}")

    // an empty batch builds against nothing at all
    assert(StreamingPipeline.dedupTarget(spark,
      EventOps.DateRange.of(staging.limit(0), col("event_date"))).count() == 0L)
  }

  test("per-batch summary merge reads the batch + the published summary, never all of raw_data") {
    import org.apache.spark.sql.functions._
    val batchRaw = graft.sources.EventGenerator.events(spark, 10, seed = 7)
      .select(col("event_id").cast("string").as("event_id"),
        col("event_timestamp"), col("event_type"), col("user_id").cast("string").as("user_id"))
    val plan = StreamingPipeline.mergedSummary(spark, batchRaw)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains(StreamingPipeline.RawTable),
      s"summary refresh still scans the raw tier:\n$plan")
  }

  private def event(id: String, ts: String, eventType: String = "view") =
    s"""{"event_id":"$id","event_timestamp":"$ts","event_type":"$eventType","user_id":"user_1"}"""

  private def onDay(d: Int, ids: Range): Seq[String] =
    ids.map(i => event(s"e$i", f"2025-01-$d%02dT00:${i % 60}%02d:00.000000"))

  /** `lines` landed as one gzip JSON file in a fresh directory, and that
    * directory read the way the file source reads the landing. */
  private def landed(lines: Seq[String]): (String, DataFrame) = {
    val dir = Files.createTempDirectory("graft_batch").toString
    val z = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(s"$dir/part-0.json.gz"))
    try z.write(lines.mkString("", "\n", "\n").getBytes("UTF-8")) finally z.close()
    (dir, JsonIngest.readJson(spark, dir))
  }

  /** Every scan of files under `dir` reachable from `plan`, through
    * adaptive stages and into the plans of cached relations. */
  private def scansUnder(dir: String, plan: SparkPlan): Seq[FileSourceScanExec] = plan match {
    case f: FileSourceScanExec =>
      if (f.relation.location.rootPaths.exists(_.toString.contains(dir))) Seq(f) else Nil
    case a: AdaptiveSparkPlanExec => scansUnder(dir, a.executedPlan)
    case q: QueryStageExec => scansUnder(dir, q.plan)
    case m: InMemoryTableScanExec => scansUnder(dir, m.relation.cachedPlan)
    case r: ReusedExchangeExec => scansUnder(dir, r.child)
    case c: CommandResultExec => scansUnder(dir, c.commandPhysicalPlan)
    case p => (p.children ++ p.subqueries).flatMap(scansUnder(dir, _))
  }

  /** `body`'s result and the SQL actions it ran, on `spark` and on the
    * session clones made while it runs. */
  private def sqlActions[T](body: => T): (T, Seq[QueryExecution]) = {
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = actions.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = actions.add(qe)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val out =
      try body
      finally {
        ListenerBusDrain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    (out, actions.asScala.toSeq)
  }

  test("a non-audit batch runs at most 6 SQL actions, all served by ONE scan of the landed JSON") {
    StreamingPipeline.runBatch(spark, landed(onDay(1, 1 to 20))._2, 1L, _ => ())
    val lines = onDay(2, 21 to 40) ++ Seq(
      event("e5", "2025-01-01T00:05:00.000000"),            // re-delivered
      event("e21", "2025-01-02T00:21:00.000000", "click"),  // intra-batch duplicate
      """{"event_id": "broken", """)                         // malformed
    val (dir, batch) = landed(lines)

    val (report, qes) = sqlActions(StreamingPipeline.runBatch(spark, batch, 2L, _ => ()))
    assert(report.ok && report.metrics("full_audit") == 0L)
    assert(qes.size <= 6, s"${qes.size} SQL actions:\n${qes.map(_.analyzed.simpleString(200)).mkString("\n")}")

    // distinct scan NODES (by identity): an action that re-parsed the
    // batch would plan a scan node of its own
    val scans = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean]())
    qes.foreach(qe => scansUnder(dir, qe.executedPlan).foreach(scans.add))
    assert(scans.size == 1, s"${scans.size} scans of the landed JSON")
    // ... and that one node read each landed line once
    assert(scans.asScala.head.metrics("numOutputRows").value == lines.size.toLong)
  }

  test("a non-audit batch runs at most 10 Spark jobs; its summary refresh at most 3") {
    import org.apache.spark.sql.functions._
    StreamingPipeline.runBatch(spark, landed(onDay(1, 1 to 20))._2, 1L, _ => ())
    val lines = onDay(2, 21 to 40) :+ event("e5", "2025-01-01T00:05:00.000000")
    val (report, jobs) = countingJobs(StreamingPipeline.runBatch(spark, landed(lines)._2, 2L, _ => ()))
    assert(report.ok && report.metrics("full_audit") == 0L)
    assert(jobs <= 10, s"$jobs Spark jobs for one batch")

    // the stage alone, over an existing summary: the snapshot write's
    // jobs only — neither the merge's read of the published summary nor
    // the flip infers its schema
    val rows = JsonIngest.readJson(spark, landed(onDay(3, 41 to 60))._1)
      .select("event_id", "event_timestamp", "event_type", "user_id")
    val (summaryRows, refreshJobs) = countingJobs(StreamingPipeline.refreshSummary(spark, rows, "t3"))
    assert(refreshJobs <= 3, s"$refreshJobs Spark jobs for refresh_summary")
    assert(summaryRows == spark.table(StreamingPipeline.SummaryTable).count())
    assert(spark.table(StreamingPipeline.SummaryTable).agg(sum("event_count")).head().getLong(0) == 61L)
  }

  test("one batch's report equals separate queries over the same input") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    StreamingPipeline.runBatch(spark, landed(onDay(1, 1 to 20))._2, 1L, _ => ())
    val tierBefore = spark.table(StreamingPipeline.EventsTable).select("event_id")
      .as[String].collect().toSeq.toDF("event_id")
    val (dir, batch) = landed(onDay(2, 21 to 40) ++ Seq(
      event("e5", "2025-01-01T00:05:00.000000"),            // re-delivered
      event("e21", "2025-01-02T00:21:00.000000", "click"),  // intra-batch duplicate
      """{"event_id":"e41","event_type":"view","user_id":"user_2"}""", // null timestamp
      """{"event_id": "broken", """, "not json"))           // malformed

    // the null-timestamp row is incomplete, so the gate fails the batch;
    // the report it carries holds every metric up to the gate, and the
    // gate's two counts are in its error
    var report: PipelineReport = null
    intercept[PipelineFailedException](StreamingPipeline.runBatch(spark, batch, 2L, r => report = r))
    val dq = report.stages.last
    assert(dq.stage == "evaluate_dq" && !dq.ok)
    val Counts = """.*duplicates=(\d+), incomplete=(\d+).*""".r
    val got = dq.error.get match {
      case Counts(d, i) => report.metrics ++ Map("duplicate_count" -> d.toLong, "incomplete_count" -> i.toLong)
    }

    val input = JsonIngest.readJson(spark, dir)
    val rows = input.filter(col("event_id").isNotNull)
      .select("event_id", "event_timestamp", "event_type", "user_id")
    val deduped = EventOps.dedupDeterministic(rows)
    val required = Seq("event_id", "event_timestamp", "event_type", "user_id")
    val expected = Map(
      "records_processed" -> rows.count(),
      "corrupt_rows" -> JsonIngest.corruptCount(input),
      "inserted_rows" -> deduped.join(tierBefore, Seq("event_id"), "left_anti").count(),
      "summary_rows" -> EventOps.dailySummary(spark.table(StreamingPipeline.RawTable)
        .withColumnRenamed("event_timestamp", "ts")).count(),
      "duplicate_count" -> DataQuality.duplicateCount(deduped),
      "incomplete_count" -> DataQuality.incompleteCount(deduped, required))
    assert(expected.map { case (k, _) => k -> got(k) } == expected)
    // the batch really carries what it claims to
    assert(expected == Map("records_processed" -> 23L, "corrupt_rows" -> 2L, "inserted_rows" -> 21L,
      "summary_rows" -> 4L, "duplicate_count" -> 0L, "incomplete_count" -> 1L))
  }

  test("streaming drains prune the summary to five snapshots; a pruning batch runs at most 7 SQL actions") {
    import org.apache.spark.sql.functions._
    val root = Files.createTempDirectory("graft_prune").toString
    val cp = Files.createTempDirectory("graft_prunecp").toString
    var reports = List.empty[PipelineReport]
    def land(b: Int): Unit = PartitionedJsonSink.write(
      EventGenerator.events(spark, 20, seed = 500L + b, startEpochSeconds = 1735689600L + b * 3600L), root)
    def drain(): Unit =
      StreamingPipeline.start(spark, root, cp, r => reports ::= r).awaitTermination(120000)
    for (b <- 0 until 6) { land(b); drain() }
    // the seventh batch publishes v7 and prunes v2
    land(6)
    val (_, qes) = sqlActions(drain())
    assert(reports.size == 7 && reports.forall(_.ok) && reports.head.metrics("full_audit") == 0L)
    assert(qes.size <= 7, s"${qes.size} SQL actions:\n${qes.map(_.analyzed.simpleString(200)).mkString("\n")}")

    val snapshots = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"${StreamingPipeline.SummaryTable}__snap_"))
    assert(snapshots.length == 5, snapshots.sorted.mkString(", "))
    assert(graft.plans.Catalog.tableVersions(spark, StreamingPipeline.SummaryTable) == (7L to 3L by -1L))
    assert(spark.table(StreamingPipeline.SummaryTable).agg(sum("event_count")).head().getLong(0) ==
      spark.table(StreamingPipeline.RawTable).count())
    assert(spark.table(StreamingPipeline.RawTable).count() == 140L)
  }
}
