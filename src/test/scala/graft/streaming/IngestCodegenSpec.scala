package graft.streaming

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.sum

import graft.SparkSpec
import graft.pipeline.PipelineReport
import graft.sources.{EventGenerator, PartitionedJsonSink}

/** Every drain of StreamingPipeline is a new streaming query on a new
  * session clone. Once a batch has run, the next one reuses every class
  * it generated: the clones share one class loader, and no batch
  * inlines a value of its own (such as its `inserted_at` instant).
  * Landing a batch reuses them too: the generator binds its seed and
  * start time by reference. */
class IngestCodegenSpec extends SparkSpec {

  test("a warm ingest batch compiles nothing") {
    Seq(StreamingPipeline.RawTable, StreamingPipeline.EventsTable, StreamingPipeline.SummaryTable)
      .foreach(graft.plans.Catalog.dropIfExists(spark, _))
    val root = Files.createTempDirectory("graft_ingcg").toString
    val cp = Files.createTempDirectory("graft_ingcgcp").toString
    val (fresh, redelivered) = (300L, 30L)
    def start(b: Int): Long = 1735689600L + b * 8 * 3600L
    // batch b: fresh events 8 h after batch b-1, plus the first
    // `redelivered` events of batch b-1 again
    def land(b: Int): Unit = {
      val batch = EventGenerator.events(spark, fresh, seed = 70L + b, startEpochSeconds = start(b))
      PartitionedJsonSink.write(
        if (b == 0) batch
        else batch.unionByName(EventGenerator.events(spark, redelivered, 70L + b - 1, start(b - 1))),
        root)
    }
    var reports = List.empty[PipelineReport]
    def drain(): Unit =
      StreamingPipeline.start(spark, root, cp, r => reports ::= r).awaitTermination(120000)

    for (b <- 0 until 2) { land(b); drain() }
    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiled
    land(2) // fresh seeds and start times
    val c1 = compiled
    assert(c1 == c0, s"landing the third batch compiled ${c1 - c0} classes")
    drain()
    assert(compiled == c1, s"the third batch compiled ${compiled - c1} classes")

    assert(reports.size == 3 && reports.forall(_.ok))
    val landed = 3 * fresh + 2 * redelivered
    assert(spark.table(StreamingPipeline.RawTable).count() == landed)
    assert(spark.table(StreamingPipeline.EventsTable).count() == 3 * fresh)
    assert(spark.table(StreamingPipeline.SummaryTable).agg(sum("event_count")).head().getLong(0) == landed)
  }
}
