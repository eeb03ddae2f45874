package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Multimodal
import graft.plans.Catalog

/** The shared INGEST-TREADMILL skeleton behind ALL FIVE treadmills,
  * in two closure flavors: the PERCEPTUAL modalities
  * ([[MediaPipeline]], [[VideoPipeline]], [[AudioPipeline]]) supply a
  * [[Treadmill.Modality]] closure — how to decode a batch once, how to
  * reconcile it against the stored index, which tables and metric
  * names are its own — and the TIER pipelines
  * ([[CurationPipeline.ingestBatch]] documents,
  * [[VectorPipeline.ingestBatch]] vectors) supply a
  * [[Treadmill.TierFlavor]] — dedup operators, mid-pipeline stages,
  * and a publish body over the bootstrap-vs-against reconcile shape.
  * The skeleton owns everything the round-13/14 verdicts observed
  * being copied per pipeline: the stage scaffolding, the pin lifecycle
  * (decode-once, release in finally), the empty-tier bootstrap
  * (reconcile degenerates to in-batch dedup), the caption keep-best
  * fold with its replay watermark, the idempotent multi-table publish,
  * the foreachBatch session-clone discipline
  * ([[foreachBatchStream]] — one statement for every stream), and the
  * reset. A new modality is a closure, not another copy of the
  * pipeline.
  *
  * Contracts inherited by every modality: batch ids are fresh and
  * monotone across slices (insertAppendOnce's idempotence class and
  * the caption watermark's replay guard both ride on it), and under
  * that discipline the running tier equals batch-global dedup over all
  * slices so far (the reconcile operators' convergence contract). */
object Treadmill {

  /** Everything one batch derives from its SINGLE decode pass: the
    * entity rows the tier stores, the index rows that bucket and
    * verify reconciliation, and the eager pins to release once every
    * consumer has materialized. */
  final case class BatchState(entities: DataFrame, index: DataFrame,
                              pins: Seq[DataFrame])

  /** One modality's closure over the skeleton. Table names, metric
    * names, and the reconcile operators differ; the stage structure
    * never does. */
  trait Modality {
    def idCol: String
    def tierTable: String
    def indexTable: String
    def captionsTable: String
    def batchSurvivorsTable: String
    def batchIndexTable: String
    def batchComponentsTable: String
    def batchCaptionsTable: String
    /** probe metric ("tier_media"), publish metric ("tier_media_after"),
      * and the initial metric the run seeds ("batch_in"/"batch_frames"). */
    def probeMetric: String
    def afterMetric: String
    def initialMetric: String
    def dedupStageName: String
    /** The ONE decode pass of the whole batch lifecycle. */
    def prepare(batch: DataFrame): BatchState
    /** The reconcile closure: components over cross ∪ internal pairs,
      * labeled by minimum member id. */
    def reconcile(st: BatchState, tierIdx: DataFrame): DataFrame
    /** Batch survivors from an already-computed closure. */
    def survivorsFromComponents(st: BatchState, comps: DataFrame,
                                tierIdx: DataFrame): DataFrame
    /** (skipped cross buckets, skipped in-batch buckets) — the
      * cap-never-silent metrics, read from the pins. */
    def skippedCross(st: BatchState, tierIdx: DataFrame): Long
    def skippedBatch(st: BatchState): Long
    /** Streaming landing: schema without caption columns, and the
      * split of a captioned micro-batch into (entity rows, caption
      * candidates (idCol, caption, score)). */
    def landingSchema: StructType
    def splitCaptions(batch: DataFrame): (DataFrame, DataFrame)
  }

  /** The SECOND closure flavor — the tier treadmills
    * ([[CurationPipeline.ingestBatch]] documents,
    * [[VectorPipeline.ingestBatch]] vectors), whose reconcile is
    * bootstrap-vs-against over one stored tier + band index rather
    * than the perceptual decode-once shape. The skeleton owns what the
    * two pipelines had been copying: the probe stage, the
    * reconcile-to-scratch stage with its kept/dropped accounting, the
    * stage ordering, and the retrying Runner; the closure owns table
    * names, the dedup operators, any mid-pipeline stages (the doc
    * flavor's span strip / tokenize / pack), and the multi-table
    * idempotent publish body. */
  trait TierFlavor {
    def tierTable: String
    def probeMetric: String
    def inMetric: String = "batch_in"
    def dedupStageName: String = "incremental_neardup"
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
    * same retrying Runner the perceptual flavor runs. */
  def ingestTier(spark: SparkSession, batch: DataFrame, f: TierFlavor,
                 notify: PipelineReport => Unit): PipelineReport = {
    val stages = Seq(
      Stage("probe_tier") { _ =>
        val n = if (Catalog.tableExists(spark, f.tierTable))
          spark.table(f.tierTable).count() else 0L
        f.validateOnProbe(spark, n)
        Map(f.probeMetric -> n)
      },
      Stage(f.dedupStageName) { m =>
        // scratch staging (sequential reads only): the publish stage
        // appends the survivors and derives their index rows; the kept
        // count is observed during the staging write — never a second
        // scan of the survivors (guide §1.4)
        val survivors = f.dedupe(spark, batch, m(f.probeMetric) == 0L)
        val kept = Catalog.overwriteTable(survivors, f.survivorsTable,
          Seq(count(lit(1)))).getLong(0)
        Map("batch_kept" -> kept, "batch_dropped" -> (m(f.inMetric) - kept))
      }) ++ f.middleStages ++ Seq(
      Stage("publish_batch")(m => f.publish(spark, m)))
    new Runner(stages, RetryPolicy(retries = 1), notify)
      .run(Map(f.inMetric -> batch.count()))
  }

  /** The foreachBatch scaffolding EVERY treadmill stream shares — one
    * implementation of the two disciplines the per-pipeline copies
    * kept re-stating:
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
                         format: String,
                         run: (SparkSession, DataFrame) => PipelineReport,
                         refreshTables: SparkSession => Seq[String],
                         label: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = spark.readStream.schema(schema)
    val source = format match {
      case "json" => reader.json(landingDir)
      case "parquet" => reader.parquet(landingDir)
      case other => throw new IllegalArgumentException(
        s"unsupported landing format '$other' — json or parquet")
    }
    source.writeStream
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

  /** Ingest one slice: reconcile against the stored index, optionally
    * fold the slice's caption candidates into the running keep-best
    * artifact, publish survivors + their index rows idempotently.
    *
    * `captionMinScore` is the QUALITY FLOOR on the keep-best fold
    * (verdict r15 Next #2): candidates scoring below it never enter
    * the fold, so a component whose BEST caption is garbage gets NO
    * caption at all instead of the least-garbage one — keep-best
    * alone keeps the max even when the max is junk. A finite floor
    * requires scores: a NULL score cannot certify quality and fails
    * the floor; the default (−∞) applies no filter, so score-less
    * deployments are untouched. Floored candidates still advance the
    * replay watermark (they were seen and DECIDED — a redelivery must
    * not re-present them), and the per-batch `caption_floor_dropped`
    * metric makes the cut observable. */
  def ingestBatch(spark: SparkSession, batch: DataFrame, m: Modality,
                  captions: Option[DataFrame],
                  notify: PipelineReport => Unit,
                  captionMinScore: Double = Double.NegativeInfinity): PipelineReport = {
    val idCol = m.idCol
    val stages = Seq(
      Stage("probe_tier") { _ =>
        Map(m.probeMetric -> (if (Catalog.tableExists(spark, m.tierTable))
          spark.table(m.tierTable).count() else 0L))
      },
      Stage(m.dedupStageName) { mm =>
        val st = m.prepare(batch)
        try {
          val tierIdx =
            if (mm(m.probeMetric) > 0L) spark.table(m.indexTable)
            else st.index.limit(0) // empty tier: reconcile = in-batch dedup
          // ONE closure feeds the survivor derivation, the caption
          // attribution, and the bridge metric
          Catalog.overwriteTable(m.reconcile(st, tierIdx), m.batchComponentsTable)
          // the kept count rides the staging write (guide §1.4 — no
          // second scan of the survivors)
          val kept = Catalog.overwriteTable(
            m.survivorsFromComponents(st, spark.table(m.batchComponentsTable), tierIdx),
            m.batchSurvivorsTable, Seq(count(lit(1)))).getLong(0)
          // survivor index rows come from the PIN, never a second decode
          Catalog.overwriteTable(
            st.index.join(spark.table(m.batchSurvivorsTable).select(idCol),
              Seq(idCol), "left_semi"),
            m.batchIndexTable)
          // media/audio already seeded this exact count as batch_in
          // (one entity row per batch row) — recounting would re-scan
          // the caller's unpinned batch including payload bytes; only
          // the frame-landing modalities (entities ≠ input rows) pay
          // the count, and theirs reads the checkpointed pin
          val in = if (m.initialMetric == "batch_in") mm("batch_in")
            else st.entities.count()
          val bridged = spark.table(m.batchComponentsTable)
            .join(tierIdx.select(col(idCol).as("id")).distinct(), Seq("id"), "left_semi")
            .groupBy("component").agg(count(lit(1)).as("__n"))
            .filter(col("__n") >= 2).count()
          Map("batch_in" -> in, "batch_kept" -> kept,
            "batch_dropped" -> (in - kept),
            "bridged_components" -> bridged,
            "skipped_cross_buckets" -> m.skippedCross(st, tierIdx),
            "skipped_batch_buckets" -> m.skippedBatch(st))
        } finally
          // everything reading the pins (scratch tables, counts, skip
          // metrics) has materialized above — release NOW, or a
          // long-lived treadmill session accumulates per-batch pins
          st.pins.foreach(Catalog.releasePin)
      }) ++
      (captions match {
        case None => Seq.empty[Stage]
        case Some(caps) => Seq(
          Stage("caption_reconcile") { _ =>
            import spark.implicits._
            // one-time migration for a winners table published before
            // the watermark existed: stamp every legacy row MinValue
            // (all past batches are by definition already folded)
            // through the atomic flip, so the upgrade never crashes a
            // running treadmill on an unresolved column
            if (Catalog.tableExists(spark, m.captionsTable) &&
                !spark.table(m.captionsTable).columns.contains("folded_max_id"))
              Catalog.ctasOverwrite(
                spark.table(m.captionsTable)
                  .withColumn("folded_max_id", lit(Long.MinValue)),
                m.captionsTable)
            val stored =
              if (Catalog.tableExists(spark, m.captionsTable))
                spark.table(m.captionsTable).withColumnRenamed(idCol, "media_id")
              else Seq.empty[(Long, String, Long, Option[Double], Long, Long)]
                .toDF("media_id", "kept_caption", "kept_from", "kept_score",
                  "dropped_count", "folded_max_id")
            // REPLAY GUARD: the fold is exact under stage retry (the
            // publish re-merges the same winner rows) but foreachBatch
            // is at-least-once — a redelivered batch would fold its
            // candidates a SECOND time against the already-merged
            // winners, inflating dropped_count. Ids are fresh+monotone
            // across batches, so each fold stamps its touched rows
            // with the batch's max candidate id (`folded_max_id`,
            // riding the SAME atomic merge — no commit window between
            // artifact and ledger), and candidates at or below the
            // global stamp are a redelivery: excluded, the fold
            // degenerates to a no-op.
            val watermark = stored
              .agg(coalesce(max("folded_max_id"), lit(Long.MinValue)))
              .head().getLong(0)
            val named = caps.filter(col("caption").isNotNull)
            // the quality floor: below-floor candidates never enter
            // the fold (NULL scores fail a finite floor — they cannot
            // certify quality); −∞ keeps score-less deployments exact
            val floorPass =
              if (captionMinScore.isNegInfinity) lit(true)
              else col("score").isNotNull && col("score") >= lit(captionMinScore)
            // ONE aggregate over the candidates: total, fresh count,
            // the new stamp, and the floor survivors (the caller's
            // caps plan is unpinned — separate actions would
            // re-evaluate it once each)
            val agg = named.agg(
              count(lit(1)).as("n"),
              count(when(col(idCol) > watermark, lit(1))).as("fresh"),
              max(when(col(idCol) > watermark, col(idCol))).as("mx"),
              count(when(col(idCol) > watermark && floorPass, lit(1))).as("pass")).head()
            val (total, fresh) = (agg.getLong(0), agg.getLong(1))
            // the watermark advances over ALL fresh candidates (floored
            // ones were seen and decided — a redelivery must not
            // re-present them); only floor survivors enter the fold
            val cands = named.filter(col(idCol) > watermark && floorPass)
            val touched = Catalog.overwriteTable(
              Multimodal.captionKeepBestAgainst(
                spark.table(m.batchComponentsTable), stored.drop("folded_max_id"),
                cands.withColumnRenamed(idCol, "media_id"))
                .withColumn("folded_max_id",
                  lit(if (agg.isNullAt(2)) Long.MinValue else agg.getLong(2)))
                .withColumnRenamed("media_id", idCol),
              m.batchCaptionsTable, Seq(count(lit(1)))).getLong(0)
            Map("caption_components_touched" -> touched,
              "caption_candidates" -> total,
              "caption_replay_skipped" -> (total - fresh),
              "caption_floor_dropped" -> (fresh - agg.getLong(3)))
          })
      }) ++
      Seq(
      Stage("publish_batch") { _ =>
        val survivors = spark.table(m.batchSurvivorsTable)
        val idx = spark.table(m.batchIndexTable)
        if (!Catalog.tableExists(spark, m.tierTable)) {
          Catalog.ensureTable(spark, m.tierTable, survivors.schema)
          Catalog.ensureTable(spark, m.indexTable, idx.schema)
        }
        // idempotent multi-table publish under a retrying Runner; the
        // index rows derive from the survivors (same id set), so ONE
        // min-id aggregate serves both probes (guide §1.2: one pass
        // where one pass suffices). The tier append, the index append,
        // and the caption merge write DIFFERENT artifacts from staged
        // scratch tables — submit them concurrently so the publish's
        // driver-sequential job latency overlaps (guide §2.6);
        // inParallel waits for every sibling before rethrowing, so the
        // retry path is exactly the sequential one's.
        val minId = survivors.agg(min(col(idCol))).head().get(0)
        Catalog.inParallel(
          Seq(
            () => Catalog.insertAppendOnceFrom(spark, m.tierTable, survivors, idCol, minId): Unit,
            () => Catalog.insertAppendOnceFrom(spark, m.indexTable, idx, idCol, minId): Unit) ++
          (if (captions.isEmpty) Seq.empty[() => Unit] else Seq[() => Unit]({ () =>
            // MERGE through the atomic view flip — idempotent under
            // retry (the same winner rows upsert to the same state)
            val winners = spark.table(m.batchCaptionsTable)
            if (!Catalog.tableExists(spark, m.captionsTable))
              Catalog.ctasOverwrite(winners, m.captionsTable)
            else Catalog.mergeInto(spark, m.captionsTable, winners, Seq(idCol))
          })): _*)
        Map(m.afterMetric -> spark.table(m.tierTable).count())
      })
    new Runner(stages, RetryPolicy(retries = 1), notify)
      .run(Map(m.initialMetric -> batch.count()))
  }

  /** The treadmill as a STREAM over a parquet landing —
    * [[foreachBatchStream]] around [[ingestBatch]]. With `captioned`
    * the landing rows carry two extra nullable columns (caption
    * STRING, score DOUBLE) and each micro-batch splits via the
    * modality's convention — one landing stream feeds both
    * artifacts. */
  def streamIngest(spark: SparkSession, landingDir: String, checkpointDir: String,
                   m: Modality, captioned: Boolean,
                   captionMinScore: Double = Double.NegativeInfinity)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val schema =
      if (!captioned) m.landingSchema
      else StructType(m.landingSchema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("caption",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType)))
    foreachBatchStream(spark, landingDir, checkpointDir, schema, "parquet",
      run = { (sess, pinned) =>
        val (entities, caps) =
          if (captioned) {
            val (e, c) = m.splitCaptions(pinned)
            (e, Some(c))
          } else (pinned, None)
        ingestBatch(sess, entities, m, caps, _ => (), captionMinScore)
      },
      refreshTables = _ => Seq(m.tierTable, m.indexTable, m.captionsTable),
      label = s"${m.idCol} treadmill")
  }

  /** Drop every treadmill table — a fresh-tier reset for
    * self-contained runs (the stream gate queries and specs). */
  def resetTreadmill(spark: SparkSession, m: Modality): Unit =
    Seq(m.tierTable, m.indexTable, m.captionsTable, m.batchSurvivorsTable,
      m.batchIndexTable, m.batchComponentsTable, m.batchCaptionsTable)
      .foreach(Catalog.dropIfExists(spark, _))
}
