package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.plans.Catalog

/** The shared INGEST-TREADMILL skeleton behind the two tier treadmills
  * ([[CurationPipeline.ingestBatch]] documents,
  * [[VectorPipeline.ingestBatch]] vectors): each supplies a
  * [[Treadmill.TierFlavor]] — dedup operators, mid-pipeline stages,
  * and a publish body over the bootstrap-vs-against reconcile shape.
  * The skeleton owns what the pipelines would otherwise copy: the
  * stage scaffolding, the empty-tier bootstrap (reconcile degenerates
  * to in-batch dedup), the kept/dropped accounting, the retrying
  * Runner, and the foreachBatch session-clone discipline
  * ([[foreachBatchStream]] — one statement for every stream).
  *
  * Contracts inherited by every flavor: batch ids are fresh and
  * monotone across slices (insertAppendOnce's idempotence class rides
  * on it), and under that discipline the running tier equals
  * batch-global dedup over all slices so far (the reconcile
  * operators' convergence contract). */
object Treadmill {

  /** One tier treadmill's closure over the skeleton, whose reconcile is
    * bootstrap-vs-against over one stored tier + band index. The
    * skeleton owns the probe stage, the reconcile-to-scratch stage
    * with its kept/dropped accounting, the stage ordering, and the
    * retrying Runner; the closure owns table names, the dedup
    * operators, any mid-pipeline stages (the doc flavor's span strip),
    * and the multi-table idempotent publish body. */
  trait TierFlavor {
    def tierTable: String
    def probeMetric: String
    def survivorsTable: String
    /** Probe-time validation (the vector flavor's frozen-params check
      * — a batch banded with foreign planes must fail LOUDLY here). */
    def validateOnProbe(spark: SparkSession, tierCount: Long): Unit = ()
    /** The reconcile: bootstrap (empty tier) self-dedups batch-globally,
      * else against the stored index — never re-hashing the tier. */
    def dedupe(spark: SparkSession, batch: DataFrame, bootstrap: Boolean): DataFrame
    /** Stages between the reconcile and the publish. */
    def middleStages: Seq[Stage] = Seq.empty
    /** The idempotent multi-table publish; sees the full metric map. */
    def publish(spark: SparkSession, metrics: Map[String, Long]): Map[String, Long]
  }

  /** One tier-treadmill slice through the shared stage machine:
    * probe → reconcile-to-scratch → flavor stages → publish, under the
    * retrying Runner. */
  def ingestTier(spark: SparkSession, batch: DataFrame, f: TierFlavor,
                 notify: PipelineReport => Unit): PipelineReport = {
    val stages = Seq(
      Stage("probe_tier") { _ =>
        val n = if (Catalog.tableExists(spark, f.tierTable))
          spark.table(f.tierTable).count() else 0L
        f.validateOnProbe(spark, n)
        Map(f.probeMetric -> n)
      },
      Stage("incremental_neardup") { m =>
        // scratch staging (sequential reads only): the publish stage
        // appends the survivors and derives their index rows; the kept
        // count is observed during the staging write — never a second
        // scan of the survivors (guide §1.4)
        val survivors = f.dedupe(spark, batch, m(f.probeMetric) == 0L)
        val kept = Catalog.overwriteTable(survivors, f.survivorsTable,
          Seq(count(lit(1)))).getLong(0)
        Map("batch_kept" -> kept, "batch_dropped" -> (m("batch_in") - kept))
      }) ++ f.middleStages ++ Seq(
      Stage("publish_batch")(m => f.publish(spark, m)))
    new Runner(stages, notify)
      .run(Map("batch_in" -> batch.count()))
  }

  /** The foreachBatch scaffolding EVERY treadmill stream shares over a
    * JSON landing — one implementation of two disciplines:
    *  - run the WHOLE treadmill on the micro-batch's session clone
    *    (scratch overwrites refresh the WRITING session's relation
    *    cache; a plan mixing the clone's batch with outer-session
    *    tables splits that cache — observed as FAILED_READ_FILE on
    *    stale survivor listings), and PIN the batch: the stages fire
    *    several actions over it and an unpersisted micro-batch
    *    re-reads the landing files for each;
    *  - after the batch, the OUTER session (which started the stream
    *    and will read the tier afterwards) drops ITS cached listings
    *    of the published tables — the clone's refreshes don't reach
    *    it. `refreshTables` resolves on the CLONE (generation pointers
    *    read current there); the refresh applies to the outer session.
    * The checkpoint dedups FILES (a restart resumes at the first
    * undiscovered slice); the treadmill's own stored index dedups
    * CONTENT, so redelivered rows cannot re-enter the tier either way.
    * Trigger.AvailableNow drains everything landed and stops — the
    * scheduled-batch deployment shape. */
  def foreachBatchStream(spark: SparkSession, landingDir: String,
                         checkpointDir: String, schema: StructType,
                         run: (SparkSession, DataFrame) => PipelineReport,
                         refreshTables: SparkSession => Seq[String],
                         label: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).json(landingDir).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val pinned = batch.toDF().persist()
        val r = try run(batch.sparkSession, pinned)
        finally pinned.unpersist(blocking = false)
        require(r.ok, s"$label ingestBatch failed in micro-batch $id: " +
          r.stages.filterNot(_.ok).map(s => s"${s.stage}: ${s.error.getOrElse("?")}").mkString("; "))
        refreshTables(batch.sparkSession)
          .foreach(t => if (Catalog.tableExists(spark, t)) spark.catalog.refreshTable(t))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
