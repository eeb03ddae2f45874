package graft.streaming

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{DataQuality, EventOps}
import graft.pipeline.{PipelineReport, RetryPolicy, Runner, Stage}
import graft.plans.Catalog
import graft.sources.JsonIngest

/** The whole reference system as ONE streaming program (SURVEY §3.1/3.2
  * "Spark re-expression"): a checkpointed stream over the Firehose
  * landing layout whose every micro-batch runs the batch pipeline —
  * raw-tier append, dedup insert into the curated tier, summary
  * refresh, DQ gate — through the stage [[Runner]] (retries, metrics,
  * notification).
  *
  * Delivery: the checkpoint dedups input files (exactly-once source);
  * the anti-join dedups rows (defense in depth — a lost checkpoint or a
  * re-landed file cannot duplicate the curated tier, proven in
  * StreamIngestSpec). `raw_data` remains at-least-once by design — the
  * reference's own semantics (FORCE=TRUE; SURVEY §7.5#4).
  */
object StreamingPipeline {

  val RawTable = "raw_data"
  val EventsTable = "events_curated"
  val SummaryTable = "daily_event_summary"

  /** Every Nth batch re-runs the DQ gate over the FULL curated tier as
    * a scheduled audit; all other batches gate only their own delta
    * (uniqueness of the delta vs the tier is already enforced by the
    * anti-join itself). */
  val FullAuditEvery = 100L

  /** The incremental summary plan for one batch: aggregate the batch,
    * then merge with the published summary — count/min/max are
    * decomposable, so (old summary ∪ batch delta) re-aggregated equals
    * the full recompute over all of raw_data, at O(|batch| + |summary|)
    * cost instead of O(history). Reading the current summary while
    * ctasOverwrite publishes the next is safe: the read is pinned to
    * the previous snapshot table, the write lands in a fresh directory.
    *
    * Documented divergence from the reference's CTAS recompute: each
    * batch merges into the summary EXACTLY ONCE (the publish is tagged
    * per (run, batch); the checkpoint's offset log pins a replayed
    * batch to the same file set, so tag == content — which also makes
    * IMMUTABLE landing files a hard precondition: editing a landed
    * file in place breaks the file source's own replay semantics AND
    * would pin a replayed batch's summary to the pre-edit snapshot;
    * Firehose-style landing is append-only by construction). A batch that
    * fails mid-run and replays re-appends raw_data (at-least-once, the
    * reference's own semantics) but does NOT re-merge the summary —
    * the summary counts true events once, where the reference's
    * recompute would have counted raw's failure-duplicates. Proven in
    * StreamingPipelineSpec's replay test. */
  private[streaming] def mergedSummary(spark: SparkSession, batchRaw: DataFrame): DataFrame = {
    val delta = EventOps.dailySummary(batchRaw.withColumnRenamed("event_timestamp", "ts"))
    if (!Catalog.tableExists(spark, SummaryTable)) delta
    else spark.table(SummaryTable).unionByName(delta)
      .groupBy("event_date", "event_type")
      .agg(sum("event_count").as("event_count"),
        min("first_event").as("first_event"),
        max("last_event").as("last_event"))
  }

  /** The refresh_summary stage: publishes [[mergedSummary]] and returns
    * its row count. Incremental: NO full raw_data rescan per batch (the
    * reference's CTAS-recompute semantics survive as the same final
    * state; the full recompute remains available as
    * Catalog.ctasOverwrite of EventOps.dailySummary(raw) for
    * compaction/backfill). Tagged by (run, batch): a stage RETRY after
    * the merged snapshot was written re-flips to it instead of merging
    * the delta twice; a new query run gets fresh tags. The published
    * summary carries its schema in the catalog, so neither the merge's
    * read of it nor the flip runs a Spark job: only the snapshot write
    * does. */
  private[streaming] def refreshSummary(spark: SparkSession, batchRaw: DataFrame, tag: String): Long =
    Catalog.ctasOverwrite(mergedSummary(spark, batchRaw), SummaryTable, tag = Some(tag),
      observe = Seq(count(lit(1)))).getLong(0)

  /** Starts the continuous ingest; drain synchronously with
    * `.awaitTermination()` (AvailableNow) or leave running. Each batch
    * report reaches `notify`. */
  def start(
      spark: SparkSession,
      landingRoot: String,
      checkpointDir: String,
      notify: PipelineReport => Unit = _ => (),
      source: graft.sources.EventSource = graft.sources.FileEventSource()): StreamingQuery = {
    // Checkpoint-scoped run id, PERSISTED IN the checkpoint: a restart
    // over the same checkpoint reuses it, so an uncommitted batch
    // replayed after a crash carries the SAME publish tag and cannot
    // double-merge the summary; a fresh or lost checkpoint mints a new
    // id, so its batches (which also re-append raw — at-least-once by
    // design) merge again, keeping summary == aggregate(raw).
    val runId = {
      val p = new org.apache.hadoop.fs.Path(checkpointDir, "graft_run_id")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val existing =
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          // a crash mid-write can leave a truncated file — treat as absent
          try Some(scala.io.Source.fromInputStream(in).mkString.trim).filter(_.nonEmpty)
          finally in.close()
        }
      existing.getOrElse {
        val id = java.util.UUID.randomUUID().toString.take(8)
        // write-temp-then-rename: the id file appears atomically or not
        // at all, never half-written
        val tmp = new org.apache.hadoop.fs.Path(checkpointDir, "graft_run_id.tmp")
        val out = fs.create(tmp, true)
        try out.write(id.getBytes("UTF-8")) finally out.close()
        fs.delete(p, false)
        fs.rename(tmp, p)
        id
      }
    }
    StreamIngest.runAvailableNow(
      source.stream(spark, landingRoot), checkpointDir,
      (batch, batchId) => { runBatch(spark, batch, batchId, notify, runId); () })
  }

  /** The anti-join build side for one batch, pruned to the batch's own
    * event-date range ([[EventOps.boundedDedupTarget]]; the immutable
    * append-only landing — already a hard precondition of the replay
    * semantics above — is what makes the batch's own range sufficient).
    * `range` is the one observed during the raw append: it spans every
    * keyed row of the batch, a superset of the deduped rows offered for
    * insertion, so the prune stays sound. A same-id row with a
    * DIFFERENT timestamp is id reuse, not re-delivery — outside the
    * reference's delivery model; the scheduled full-tier audit
    * (FullAuditEvery) still surfaces it as a DQ violation. */
  private[streaming] def dedupTarget(spark: SparkSession, range: EventOps.DateRange): DataFrame =
    EventOps.boundedDedupTarget(spark.table(EventsTable), range, "event_date")

  private val EventCols = Seq("event_id", "event_timestamp", "event_type", "user_id")

  /** One micro-batch, parsed once, deduplicated once and gated in one
    * pass (Spark's foreachBatch persist pattern: the batch's input is
    * cached for the batch's writes and released in a `finally`). The
    * SQL actions of a batch, and what each one also observes:
    *
    *  1. load_raw — the raw append. Its write job parses the landed
    *     JSON (the ONLY scan of it; the parsed 4-column projection and
    *     the corrupt flag are cached as it goes) and observes
    *     `records_processed`, `corrupt_rows` and the batch's event-date
    *     range.
    *  1. dedup_insert — the curated insert: the deterministic dedup of
    *     the cached rows (itself cached for the DQ gate), anti-joined
    *     against the tier pruned to the observed range; the write
    *     observes `inserted_rows`.
    *  1. refresh_summary — the summary snapshot write, observing
    *     `summary_rows`, then the snapshot's `CREATE TABLE` and the
    *     `CREATE VIEW` flip (catalog only, no Spark job); once five
    *     snapshots are retained, each refresh also drops the pruned
    *     one's table. A tagged retry that finds its snapshot committed
    *     skips the write and counts the snapshot instead.
    *  1. evaluate_dq — one aggregate over the cached dedup yields
    *     `duplicate_count` and `incomplete_count`; every
    *     [[FullAuditEvery]]th batch adds one over the whole tier.
    *
    * Six actions a batch, and seven once five snapshots are retained
    * (the first batch also creates the tables). */
  private[streaming] def runBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      notify: PipelineReport => Unit,
      runId: String = "run"): PipelineReport = {
    val keyed = col("event_id").isNotNull
    val parsed = batch.select(EventCols.map(col) :+ JsonIngest.CorruptRow.as("corrupt"): _*)
      .persist()
    val rows = parsed.filter(keyed).select(EventCols.map(col): _*)
    // deterministic pick, so the set dedup_insert offers and the set
    // evaluate_dq gates are one cached result
    val staging = EventOps.dedupDeterministic(rows)
      .withColumn("event_date", to_date(col("event_timestamp")))
      .persist()
    // observed by load_raw's write, read by dedup_insert
    var range: EventOps.DateRange = null
    val stages = Seq(
      Stage("load_raw") { _ =>
        val obs = Observation()
        val observed = parsed.observe(obs, count_if(col("corrupt")).as("corrupt"),
          EventOps.DateRange.aggregates(to_date(col("event_timestamp")), keyed): _*)
        val raw = EventOps.withAuditColumns(observed.filter(keyed).select(EventCols.map(col): _*))
        if (!Catalog.tableExists(spark, RawTable))
          Catalog.ensureTable(spark, RawTable, raw.schema)
        val records = Catalog.insertAppend(spark, RawTable, raw)
        val m = obs.get
        range = EventOps.DateRange.fromRow(Row(m("n"), m("dated"), m("lo"), m("hi")))
        Map("records_processed" -> records, "corrupt_rows" -> m("corrupt").asInstanceOf[Long])
      },
      Stage("dedup_insert") { _ =>
        val curated = EventOps.withAuditColumns(staging)
        if (!Catalog.tableExists(spark, EventsTable))
          Catalog.ensureTable(spark, EventsTable, curated.schema, partitionBy = Some("event_date"))
        val inserted = EventOps.withAuditColumns(
          EventOps.dedupInsert(staging, dedupTarget(spark, range)))
        Map("inserted_rows" -> Catalog.insertAppend(spark, EventsTable, inserted))
      },
      Stage("refresh_summary") { _ =>
        Map("summary_rows" -> refreshSummary(spark, rows, s"${runId}_b$batchId"))
      },
      Stage("evaluate_dq") { _ =>
        // gate the DELTA (O(batch)): the reference gates the POST-dedup
        // tier, so the scoped analog is the batch as offered for
        // insertion (the deterministic dedup dedup_insert offered —
        // intra-batch re-delivery is legitimate at-least-once input,
        // not a DQ failure); tier-level uniqueness is structural
        // (anti-join)
        val r = DataQuality.gate(staging, required = EventCols)
        // scheduled audit: periodically re-assert the invariant over the
        // whole curated tier (defense in depth, O(history) by design)
        val audited = batchId % FullAuditEvery == 0L
        if (audited) DataQuality.gate(spark.table(EventsTable), required = EventCols)
        Map("duplicate_count" -> r.duplicateCount, "incomplete_count" -> r.incompleteCount,
          "full_audit" -> (if (audited) 1L else 0L))
      })
    try new Runner(stages, RetryPolicy(retries = 1), notify).run(Map("batch_id" -> batchId))
    finally {
      staging.unpersist()
      parsed.unpersist()
    }
  }
}
