package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DataQuality, EventOps}
import graft.plans.Catalog
import graft.sources.{EventSource, FileEventSource, JsonIngest}

/** The reference's two ingestion pipelines, wired onto [[Runner]].
  *
  * Path A (`dags/kinesis_to_snowflake_dag.py:74`, C1 —
  * `load >> transform >> log`): decode a record batch, append to
  * `raw_data`, CTAS-refresh `daily_event_summary`.
  *
  * Path B (`airflow/dags/snowflake_data_pipeline.py:217`, C2 — 7 stages:
  * `sensor >> ddl >> copy >> transform >> dq >> evaluate >> email`):
  * sense the hour partition, ensure staging DDL, PERMISSIVE-load the
  * partition, dedup-insert into `events`, run the DQ queries, gate on
  * their counts, notify.
  *
  * All state between stages travels through the Runner's metric map
  * (the XCom analog) or the catalog tables — stages share no closures
  * over DataFrames, so each stage re-plans against the current table
  * state exactly as the reference's independent SQL tasks do.
  */
object ReferencePipeline {

  val RawTable = "raw_data"
  val StagingTable = "raw_data_staging"
  val EventsTable = "events_curated"
  val SummaryTable = "daily_event_summary"

  /** Columns of the curated tier (FIXTURES.md §A4: staging superset
    * minus the load-audit fields). */
  private val eventCols = Seq(
    "event_id", "event_timestamp", "event_type", "user_id", "data",
    "device_id", "app_version", "os_version", "ip_address", "location")

  /** Path A: one micro-batch of wire records → raw tier + summary refresh. */
  def pathA(spark: SparkSession, jsonLines: DataFrame,
            notify: PipelineReport => Unit = _ => ()): PipelineReport = {
    val stages = Seq(
      Stage("load_raw") { _ =>
        // P9: the reference JSON-serializes the nested `data` before
        // load (`scripts/kinesis_to_snowflake.py:88`) so it lands in
        // the VARIANT column; inserted_at is the CURRENT_TIMESTAMP()
        // default (P8) applied in the write path.
        val decoded = EventOps.withAuditColumns(
          JsonIngest.decode(jsonLines).withColumn("data", to_json(col("data"))))
        if (!Catalog.tableExists(spark, RawTable))
          Catalog.ensureTable(spark, RawTable, decoded.schema)
        Map("records_processed" -> Catalog.insertAppend(spark, RawTable, decoded))
      },
      Stage("transform_summary") { _ =>
        val summary = EventOps.dailySummary(
          spark.table(RawTable).withColumnRenamed("event_timestamp", "ts"))
        // the row count rides the snapshot write — no re-read of the
        // published view (and no schema inference of its parquet)
        val published = Catalog.ctasOverwrite(summary, SummaryTable, observe = Seq(count(lit(1))))
        Map("summary_rows" -> published.getLong(0))
      },
      Stage("log_summary") { m =>
        // the reference xcom-pulls records_processed and prints it
        log.info(s"[pipeline] records processed: ${m.getOrElse("records_processed", 0L)}")
        Map.empty
      })
    new Runner(stages, notify).run()
  }

  /** Path B: one hour partition of landed gzip JSON → curated tier with
    * dedup + DQ gate. `hourDir` is a `year=/month=/day=/hour=` path
    * (PartitionedJsonSink.hourPath). */
  def pathB(spark: SparkSession, hourDir: String,
            notify: PipelineReport => Unit = _ => (),
            source: EventSource = FileEventSource()): PipelineReport = {
    val stages = Seq(
      Stage("check_data_availability") { _ =>
        require(source.available(spark, hourDir), s"no data available under $hourDir")
        Map.empty
      },
      Stage("create_staging_table") { _ =>
        Catalog.ensureTable(spark, StagingTable, JsonIngest.StagingSchema)
        Map.empty
      },
      Stage("copy_to_staging") { _ =>
        val staged = source.readBatch(spark, hourDir)
        // per-batch staging: the scan is one hour partition, so a full
        // refresh of staging is the COPY semantics without load history
        // (FORCE=TRUE re-loads are the reference's declared behavior).
        // Plain table overwrite: staging is sequential scratch read
        // only by the stages that follow — the atomic view flip is for
        // reader-facing tiers (the summary). Both counts are observed
        // during the write: one pass over the partition, no rescans
        val counts = Catalog.overwriteTable(staged, StagingTable,
          Seq(count(lit(1)), count_if(JsonIngest.CorruptRow)))
        Map("staged_rows" -> counts.getLong(0), "corrupt_rows" -> counts.getLong(1))
      },
      Stage("transform_data") { _ =>
        if (!Catalog.tableExists(spark, EventsTable))
          Catalog.ensureTable(spark, EventsTable,
            org.apache.spark.sql.types.StructType(
              JsonIngest.StagingSchema.filter(f => eventCols.contains(f.name)) :+
                org.apache.spark.sql.types.StructField("inserted_at",
                  org.apache.spark.sql.types.TimestampType) :+
                org.apache.spark.sql.types.StructField("event_date",
                  org.apache.spark.sql.types.DateType)),
            partitionBy = Some("event_date"))
        // Intra-batch dedup (dropDuplicates) is a deliberate divergence:
        // the reference's NOT IN only guards against the target, so a
        // duplicate WITHIN one batch would insert twice and then fail
        // its own DQ gate. Same end-state discipline (events_curated
        // holds unique ids), without manufacturing a failed run.
        val staging = spark.table(StagingTable)
          .filter(col("event_id").isNotNull) // parsed rows only
          .select(eventCols.map(col): _*)
          .withColumn("event_date", to_date(col("event_timestamp")))
        // persisted: the date-range peek and the anti-join insert both
        // consume the window dedup — one evaluation, not two
        val deduped = EventOps.dedupDeterministic(staging).persist()
        try {
          // date-partitioned tier + date-bounded build side: the hourly
          // run's anti-join scans only the partitions its batch touches
          // (pre-partitioning tables fall back to the full tier scan)
          val inserted = EventOps.withAuditColumns(
            EventOps.dedupInsert(deduped,
              EventOps.boundedDedupTarget(spark.table(EventsTable), deduped)))
          Map("inserted_rows" -> Catalog.insertAppend(spark, EventsTable, inserted))
        } finally deduped.unpersist()
      },
      Stage("run_dq_checks") { _ =>
        // both checks in one pass over the tier
        val r = DataQuality.report(spark.table(EventsTable), "event_id",
          Seq("event_id", "event_timestamp", "event_type", "user_id"))
        Map("duplicate_count" -> r.duplicateCount, "incomplete_count" -> r.incompleteCount)
      },
      Stage("evaluate_dq") { m =>
        // the reference evaluator reads the check results from XCom and
        // raises ValueError on violation (snowflake_data_pipeline.py:181-202)
        require(m("duplicate_count") == 0L && m("incomplete_count") == 0L,
          s"Data quality check failed: duplicates=${m("duplicate_count")}, incomplete=${m("incomplete_count")}")
        Map.empty
      })
    new Runner(stages, notify).run()
  }

  private val log = org.slf4j.LoggerFactory.getLogger("graft.pipeline")
}
