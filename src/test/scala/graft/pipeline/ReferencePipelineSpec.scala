package graft.pipeline

import java.nio.file.Files
import java.time.LocalDateTime

import org.scalatest.BeforeAndAfterEach

import graft.SparkSpec
import graft.sources.{EventGenerator, PartitionedJsonSink}

class ReferencePipelineSpec extends SparkSpec with BeforeAndAfterEach {

  override def beforeEach(): Unit =
    Seq(ReferencePipeline.RawTable, ReferencePipeline.StagingTable,
      ReferencePipeline.EventsTable, ReferencePipeline.SummaryTable)
      .foreach(t => graft.plans.Catalog.dropIfExists(spark, t))

  test("path A: load raw + refresh summary; rerun appends (at-least-once raw tier)") {
    val batch = EventGenerator.jsonLines(EventGenerator.events(spark, 100))
    val r1 = ReferencePipeline.pathA(spark, batch)
    assert(r1.ok && r1.metrics("records_processed") == 100L)
    assert(spark.table(ReferencePipeline.RawTable).count() == 100L)

    // Re-running the same batch duplicates raw_data — that IS the
    // reference behavior (FORCE=TRUE / no offset persistence), and the
    // summary counts include the duplicates (SURVEY §7.5#4).
    val r2 = ReferencePipeline.pathA(spark, batch)
    assert(r2.ok)
    assert(spark.table(ReferencePipeline.RawTable).count() == 200L)
    val total = spark.table(ReferencePipeline.SummaryTable)
      .agg(org.apache.spark.sql.functions.sum("event_count")).head().getLong(0)
    assert(total == 200L)
    // observed during the snapshot write; equals a count of what was published
    assert(r2.metrics("summary_rows") == spark.table(ReferencePipeline.SummaryTable).count())
  }

  test("path B: end-to-end over a landed hour partition, idempotent on rerun") {
    val root = Files.createTempDirectory("graft_pb").toString
    val events = EventGenerator.events(spark, 100, startEpochSeconds = 1735689600L)
    PartitionedJsonSink.write(events, root)
    val hourDir = PartitionedJsonSink.hourPath(root, LocalDateTime.of(2025, 1, 1, 0, 0))

    val r1 = ReferencePipeline.pathB(spark, hourDir)
    assert(r1.ok)
    assert(r1.metrics("staged_rows") == 100L)
    assert(r1.metrics("corrupt_rows") == 0L)
    assert(r1.metrics("inserted_rows") == 100L)
    assert(r1.metrics("duplicate_count") == 0L && r1.metrics("incomplete_count") == 0L)

    // Same hour re-run (FORCE=TRUE reload): dedup inserts 0, gate passes.
    val r2 = ReferencePipeline.pathB(spark, hourDir)
    assert(r2.ok)
    assert(r2.metrics("inserted_rows") == 0L)
    assert(spark.table(ReferencePipeline.EventsTable).count() == 100L)
  }

  test("path B's copy stage observes staged and corrupt rows during its one write") {
    val root = Files.createTempDirectory("graft_pb_corrupt").toString
    PartitionedJsonSink.write(EventGenerator.events(spark, 30, startEpochSeconds = 1735689600L), root)
    val hourDir = PartitionedJsonSink.hourPath(root, LocalDateTime.of(2025, 1, 1, 0, 0))
    val z = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(s"$hourDir/malformed.json.gz"))
    try z.write("{\"event_id\": \"broken\", \nnot json\n".getBytes("UTF-8")) finally z.close()

    val r = ReferencePipeline.pathB(spark, hourDir)
    val staged = spark.table(ReferencePipeline.StagingTable)
    assert(r.ok && r.metrics("staged_rows") == 32L && r.metrics("staged_rows") == staged.count())
    assert(r.metrics("corrupt_rows") == 2L &&
      r.metrics("corrupt_rows") == graft.sources.JsonIngest.corruptCount(staged))
    assert(r.metrics("inserted_rows") == 30L)
  }

  test("path B's DQ gate fails the run when the curated tier is corrupt (C5)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_pb_dq").toString
    PartitionedJsonSink.write(
      EventGenerator.events(spark, 20, seed = 61, startEpochSeconds = 1735689600L), root)
    val hourDir = PartitionedJsonSink.hourPath(root, LocalDateTime.of(2025, 1, 1, 0, 0))

    // seed the curated tier with a pre-existing duplicate pair — the
    // run's own checks must then fail at evaluate_dq, not earlier
    val dup = Seq(("dup-id", java.time.LocalDateTime.parse("2025-01-01T00:00:00"), "view", "user_1"))
      .toDF("event_id", "event_timestamp", "event_type", "user_id")
      .withColumn("data", org.apache.spark.sql.functions.lit(null).cast(
        graft.sources.JsonIngest.DataSchema))
      .withColumn("device_id", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("app_version", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("os_version", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("ip_address", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("location", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("inserted_at", org.apache.spark.sql.functions.current_timestamp())
    // seed via the append path — the curated tier is a TABLE (the
    // pipeline appends to it); ctasOverwrite now publishes views
    graft.plans.Catalog.ensureTable(spark, ReferencePipeline.EventsTable, dup.schema)
    graft.plans.Catalog.insertAppend(spark, ReferencePipeline.EventsTable, dup.unionAll(dup))

    val ex = intercept[PipelineFailedException](ReferencePipeline.pathB(spark, hourDir))
    assert(ex.report.stages.last.stage == "evaluate_dq")
    assert(ex.report.metrics("duplicate_count") == 1L)
    assert(ex.getCause.getMessage.contains("Data quality check failed"))
  }

  test("path B fails the availability stage when the partition is empty") {
    val root = Files.createTempDirectory("graft_pb_empty").toString
    val ex = intercept[PipelineFailedException] {
      ReferencePipeline.pathB(spark, s"$root/year=2025/month=01/day=01/hour=00")
    }
    assert(ex.report.stages.last.stage == "check_data_availability")
  }
}
