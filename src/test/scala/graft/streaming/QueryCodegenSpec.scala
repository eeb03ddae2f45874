package graft.streaming

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{Behavior, DataQuality, EventOps}
import graft.sources.{EventGenerator, PartitionedJsonSink}

/** The analyst query mix over the tables StreamingPipeline maintains
  * (raw_data, events_curated, daily_event_summary), repeated in one
  * session: after the first pass, every class the mix generates is
  * served from the codegen cache — nothing is compiled again. */
class QueryCodegenSpec extends SparkSpec {

  private def events(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("event_timestamp").as("ts"), col("event_type"), col("user_id"))

  /** The whole result, reduced to (rows, checksum). */
  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(1L << 40))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  private val required = Seq("event_id", "ts", "event_type", "user_id")

  /** The nine queries, each over freshly resolved tables. */
  private def mix(): Seq[(Long, Long)] = {
    def tier = events(spark.table(StreamingPipeline.EventsTable))
    def raw = events(spark.table(StreamingPipeline.RawTable))
    Seq(
      () => checksum(EventOps.dailySummary(raw)),
      () => (DataQuality.duplicateCount(tier), 0L),
      () => (DataQuality.incompleteCount(tier, required), 0L),
      () => checksum(EventOps.runningCount(tier)),
      () => checksum(EventOps.sessionize(tier)),
      () => checksum(Behavior.funnel(tier, Seq("view", "click", "purchase"))),
      () => checksum(Behavior.retention(tier)),
      () => checksum(EventOps.dailyTrend(tier)),
      () => checksum(spark.table(StreamingPipeline.SummaryTable))).map(_())
  }

  test("the query mix compiles nothing after its first pass") {
    Seq(StreamingPipeline.RawTable, StreamingPipeline.EventsTable, StreamingPipeline.SummaryTable)
      .foreach(graft.plans.Catalog.dropIfExists(spark, _))
    val root = Files.createTempDirectory("graft_mix").toString
    val cp = Files.createTempDirectory("graft_mixcp").toString
    // two appends, eight days apart: daily trends and week-1 retention
    for (b <- 0 until 2) {
      PartitionedJsonSink.write(
        EventGenerator.events(spark, 300, seed = 90L + b, startEpochSeconds = 1735689600L + b * 8 * 86400L), root)
      StreamingPipeline.start(spark, root, cp).awaitTermination(120000)
    }
    assert(spark.table(StreamingPipeline.EventsTable).count() == 600L)

    def compiled: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = compiled
    val first = mix()
    assert(compiled > before, "the first pass generated no code")
    for (pass <- 2 to 3) {
      val c0 = compiled
      assert(mix() == first)
      assert(compiled == c0, s"pass $pass compiled ${compiled - c0} classes")
    }
  }
}
