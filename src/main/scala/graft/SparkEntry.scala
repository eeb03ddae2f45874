package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Analytics, AsofJoin, Behavior, Curation, DataQuality, EventOps, Layout, RangeJoin, Resample, Scd2, Similarity, Skew, TextDedup, TextStats}
import graft.sources.{JsonIngest, PartitionedJsonSink}
import graft.streaming.StreamIngest

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (or a
  * scale-path extension), expressed as a declarative Spark plan over
  * the driver's parquet tables. [[oracleSql]] carries the equivalent
  * DuckDB SQL for the hash-compare gate.
  *
  * Determinism rules used throughout (so Spark and DuckDB hash-match):
  *  - every result is totally ordered by an ORDER BY on output columns;
  *  - timestamps are TIMESTAMP_NTZ end-to-end (Tables.load converts the
  *    source nanos under a UTC session), so both engines see the same
  *    naive values;
  *  - order-sensitive double aggregates are either avoided or rounded;
  *  - no wall-clock audit columns in compared output (SURVEY §7.5#3).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    EventOps.dailySummary(Tables.load(spark, "/root/testdata/sf0.001", "events"))
      .orderBy("event_date", "event_type")

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.load(s, dir, "events")

  // ---------------------------------------------------------------
  // Reference surface (SURVEY §2). Dedup fixtures are built by
  // unioning slices of `events` with itself, per FIXTURES.md §B —
  // `event_id` is unique in the source table.
  // ---------------------------------------------------------------

  /** Staging batch with intra-batch duplicates: events with id%7<3
    * plus a second copy of the id%7==0 slice. */
  private def stagingFixture(s: SparkSession, dir: String): DataFrame = {
    val e = ev(s, dir)
    e.filter(col("event_id") % 7 < 3).unionAll(e.filter(col("event_id") % 7 === 0))
  }

  /** Already-loaded target tier: the id%3==0 slice. */
  private def targetFixture(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).filter(col("event_id") % 3 === 0)

  private val referenceQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P1+P3+P6+P10: user_events view — filter + projection + JSON path
    "ref_user_events" -> ((s, dir) =>
      EventOps.userEvents(ev(s, dir)).orderBy("event_id")),

    // A1+P7: daily_event_summary — group-by multi-agg over raw tier
    "ref_daily_summary" -> ((s, dir) =>
      EventOps.dailySummary(ev(s, dir)).orderBy("event_date", "event_type")),

    // P6 via Spark 4 VARIANT: parse once, typed variant_get paths.
    "ref_user_events_variant" -> ((s, dir) =>
      EventOps.userEventsVariant(ev(s, dir)).orderBy("event_id")),

    // J1+P4: idempotent dedup insert — anti-join staging vs target
    "ref_dedup_insert" -> ((s, dir) =>
      EventOps.dedupInsert(stagingFixture(s, dir), targetFixture(s, dir))
        .orderBy("event_id")),

    // A2: duplicate detection — GROUP BY key HAVING COUNT(*)>1
    "ref_dq_duplicates" -> ((s, dir) =>
      DataQuality.duplicateKeys(stagingFixture(s, dir)).orderBy("event_id")),

    // A3+P5: completeness check over synthesized NULLs
    "ref_dq_incomplete" -> ((s, dir) => {
      val staged = ev(s, dir).select(
        col("event_id"),
        nullif(col("event_type"), lit("error")).as("event_type"),
        when(col("user_id") % 97 === 0, lit(null)).otherwise(col("user_id")).as("user_id"),
        col("ts"))
      DataQuality.incompleteRows(staged, Seq("event_id", "event_type", "user_id", "ts"))
        .agg(count(lit(1)).as("incomplete_count"))
    }),

    // P2: staging superset projection (open envelope, extras NULL)
    "ref_staging_projection" -> ((s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        col("ts").as("event_timestamp"),
        col("event_type"),
        col("user_id"),
        col("value"),
        col("props").as("payload"),
        lit(null).cast("string").as("device_id"),
        lit(null).cast("string").as("app_version"))
        .orderBy("event_id")),

    // S3+P9: wire-format roundtrip — to_json the envelope, from_json it
    // back; identity against the source proves decode fidelity incl.
    // microsecond NTZ timestamps.
    "ref_json_roundtrip" -> ((s, dir) => {
      val opts = Map("timestampNTZFormat" -> JsonIngest.TsFormat)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampNTZType),
        StructField("event_type", StringType), StructField("user_id", LongType)))
      ev(s, dir)
        .select(to_json(struct(col("event_id"), col("ts"), col("event_type"), col("user_id")), opts).as("value"))
        .select(from_json(col("value"), schema, opts).as("e")).select("e.*")
        .orderBy("event_id")
    }),

    // Source-format breadth: CSV codec round-trip through the same
    // envelope columns (to_csv/from_csv are the row-level codec the
    // file source uses — same parser, no filesystem in the timer).
    // Doubles survive exactly: Spark emits the shortest round-trip
    // decimal form and parses it back to the identical bits.
    "ref_csv_roundtrip" -> ((s, dir) => {
      import scala.jdk.CollectionConverters._
      val opts = Map("timestampNTZFormat" -> JsonIngest.TsFormat)
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampNTZType),
        StructField("event_type", StringType), StructField("user_id", LongType),
        StructField("value", DoubleType)))
      ev(s, dir)
        .select(to_csv(struct(col("event_id"), col("ts"), col("event_type"),
          col("user_id"), col("value")), opts.asJava).as("line"))
        .select(from_csv(col("line"), schema, opts).as("e")).select("e.*")
        .orderBy("event_id")
    }),

    // Source-format breadth: columnar ORC round-trip through the REAL
    // filesystem path — written partitioned by event_type (zlib), read
    // back with a partition-pruning filter plus a pushed value
    // predicate, so the gate covers layout, codec, NTZ timestamps, and
    // scan pruning. Doubles and timestamps survive bit-exactly (binary
    // columnar encoding — no text parse in the loop).
    "ref_orc_roundtrip" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_orc").toString
      ev(s, dir).filter(col("event_id") % 7 === 0)
        .select(col("event_id"), col("ts"), col("event_type"), col("user_id"), col("value"))
        .write.mode("overwrite").partitionBy("event_type")
        .option("compression", "zlib").orc(tmp)
      s.read.orc(tmp)
        .filter(col("event_type") === "purchase" && col("value") > 50.0)
        .select(col("event_id"), col("ts"), col("event_type"), col("user_id"), col("value"))
        .orderBy("event_id")
    }),

    // Day-over-day deltas: lag over the daily aggregate; delta is
    // exact BIGINT, pct_change one double division (NULL on day 1).
    "ref_day_over_day" -> ((s, dir) => {
      val daily = ev(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("event_count"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily.withColumn("prev_count", lag(col("event_count"), 1).over(w))
        .withColumn("delta", col("event_count") - col("prev_count"))
        .withColumn("pct_change",
          round(col("delta").cast("double") / col("prev_count"), 6))
        .orderBy("event_type", "day")
    }),

    // P11: Firehose partition-prefix templating
    "ref_partition_template" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(date_format(col("ts"), "'year='yyyy'/month='MM'/day='dd'/hour='HH").as("partition_path"))
        .agg(count(lit(1)).as("n"))
        .orderBy("partition_path")),

    // O4: tumbling-window aggregation (batch form of the streaming agg)
    "ref_hourly_window" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts").cast("timestamp"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("event_count"))
        .select(
          col("window.start").cast("timestamp_ntz").as("window_start"),
          col("window.end").cast("timestamp_ntz").as("window_end"),
          col("event_type"), col("event_count"))
        .orderBy("window_start", "event_type")),

    // A4: running count per key (the client-side counter, made
    // relational) — two-level form: no whole-key single-task sort.
    "ref_running_count" -> ((s, dir) =>
      EventOps.runningCount(ev(s, dir)).orderBy("event_id")),

    // S5+S6: land a slice as hour-partitioned gzip JSON, PERMISSIVE-read
    // it back partition-discovered, count per partition.
    "ref_ingest_roundtrip" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_ingest").toString
      val subset = ev(s, dir).filter(col("event_id") % 11 === 0)
        .select(col("event_id"), col("ts").as("event_timestamp"), col("event_type"), col("user_id"))
      PartitionedJsonSink.write(subset, tmp)
      JsonIngest.readJson(s, tmp)
        .groupBy(col("year").cast("int").as("year"), col("month").cast("int").as("month"),
          col("day").cast("int").as("day"), col("hour").cast("int").as("hour"))
        .agg(count(lit(1)).as("n"))
        .orderBy("year", "month", "day", "hour")
    }),

    // S6 open envelope: land wire lines carrying a key the staging
    // schema never declared (`session_id`), PERMISSIVE-read them back,
    // and extract the undeclared key from the preserved raw payload —
    // the reference's VARIANT-staging fidelity, oracle-checked.
    "ref_open_envelope" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_open").toString
      val lines = ev(s, dir).filter(col("event_id") % 17 === 0)
        .select(to_json(struct(
          col("event_id"), col("ts").as("event_timestamp"), col("event_type"), col("user_id"),
          concat(lit("s-"), col("event_id")).as("session_id")),
          Map("timestampNTZFormat" -> JsonIngest.TsFormat)).as("value"))
      lines.coalesce(1).write.mode("overwrite").option("compression", "gzip").text(tmp)
      JsonIngest.readJson(s, tmp)
        .select(col("event_id").cast("long").as("event_id"),
          get_json_object(col("raw_payload"), "$.session_id").as("session_id"))
        .orderBy("event_id")
    }),

    // S2+O1/O2/O4: stream landed gzip JSON with AvailableNow and check
    // the streaming windowed aggregate against the batch oracle —
    // stream/batch consistency is the whole point of the micro-batch model.
    // (Landed FLAT: at test SFs the hive layout would mean ~700 dirs of
    // ~13 rows — a file-count artifact, not operator cost; the layout
    // path is exercised by ref_ingest_roundtrip and the e2e suites.)
    // (All stateful stream gates size their state partitions to the
    // fixture's state volume — see StreamIngest.withStatePartitions.)
    "stream_hourly_counts" -> ((s, dir) => StreamIngest.withStatePartitions(s, 8) {
      val tmp = Files.createTempDirectory("graft_stream_q").toString
      val cp = Files.createTempDirectory("graft_stream_cp").toString
      val subset = ev(s, dir).filter(col("event_id") % 13 === 0)
        .select(col("event_id").cast("string").as("event_id"), col("ts").as("event_timestamp"),
          col("event_type"), col("user_id").cast("string").as("user_id"))
      subset.coalesce(2).write
        .mode("overwrite") // createTempDirectory pre-creates the path
        .option("compression", "gzip")
        .option("timestampNTZFormat", JsonIngest.TsFormat)
        .json(tmp)
      val q = StreamIngest.windowedCounts(StreamIngest.stream(s, tmp))
        .writeStream.format("memory").queryName("stream_hourly_counts")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .start()
      // a false return means the drain timed out with the memory table
      // only partially populated — fail loudly, never compare partials
      require(q.awaitTermination(300000), "stream_hourly_counts: drain timed out")
      s.table("stream_hourly_counts")
        .select("window_start", "window_end", "event_type", "event_count", "first_event", "last_event")
        .orderBy("window_start", "event_type")
    }),

    // O4 sliding windows ON THE STREAM: 1-hour windows advancing every
    // 15 minutes — each event in exactly 4 overlapping windows; the
    // oracle replays the epoch-aligned window math in naive-timestamp
    // arithmetic (no to_timestamp, so no session-timezone dependence).
    "stream_sliding_counts" -> ((s, dir) => StreamIngest.withStatePartitions(s, 8) {
      val tmp = Files.createTempDirectory("graft_stream_sw").toString
      val cp = Files.createTempDirectory("graft_stream_sw_cp").toString
      val subset = ev(s, dir).filter(col("event_id") % 13 === 0)
        .select(col("event_id").cast("string").as("event_id"), col("ts").as("event_timestamp"),
          col("event_type"), col("user_id").cast("string").as("user_id"))
      subset.coalesce(2).write
        .mode("overwrite")
        .option("compression", "gzip")
        .option("timestampNTZFormat", JsonIngest.TsFormat)
        .json(tmp)
      val q = StreamIngest.slidingCounts(StreamIngest.stream(s, tmp))
        .writeStream.format("memory").queryName("stream_sliding_counts")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .start()
      require(q.awaitTermination(300000), "stream_sliding_counts: drain timed out")
      s.table("stream_sliding_counts")
        .select("window_start", "window_end", "event_type", "event_count", "first_event", "last_event")
        .orderBy("window_start", "event_type")
    }),

    // O4/O5 streaming-native SESSIONS: session_window runs ON THE STREAM
    // (AvailableNow over landed gzip JSON) and must match the batch
    // gap-session oracle on the same slice — the stateful surface the
    // driver's oracle previously never saw (suite-tested only).
    "stream_user_sessions" -> ((s, dir) => StreamIngest.withStatePartitions(s, 8) {
      val tmp = Files.createTempDirectory("graft_sess_q").toString
      val cp = Files.createTempDirectory("graft_sess_cp").toString
      val subset = ev(s, dir).filter(col("event_id") % 13 === 0)
        .select(col("event_id").cast("string").as("event_id"), col("ts").as("event_timestamp"),
          col("event_type"), col("user_id").cast("string").as("user_id"))
      subset.coalesce(2).write
        .mode("overwrite")
        .option("compression", "gzip")
        .option("timestampNTZFormat", JsonIngest.TsFormat)
        .json(tmp)
      val q = StreamIngest.sessionCounts(StreamIngest.stream(s, tmp))
        .writeStream.format("memory").queryName("stream_user_sessions")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .start()
      require(q.awaitTermination(300000), "stream_user_sessions: drain timed out")
      s.table("stream_user_sessions")
        .select("user_id", "session_start", "session_end", "event_count")
        .orderBy("user_id", "session_start")
    }),

    // A4×O7 streaming custom state: flatMapGroupsWithState running
    // per-user counters drained with AvailableNow; the per-user FINAL
    // running totals (max over the append stream — counts are monotone
    // within a run) must equal the batch group-by on the same slice.
    "stream_running_counts" -> ((s, dir) => StreamIngest.withStatePartitions(s, 8) {
      val tmp = Files.createTempDirectory("graft_rc_q").toString
      val cp = Files.createTempDirectory("graft_rc_cp").toString
      val subset = ev(s, dir).filter(col("event_id") % 13 === 0)
        .select(col("event_id").cast("string").as("event_id"), col("ts").as("event_timestamp"),
          col("event_type"), col("user_id").cast("string").as("user_id"))
      subset.coalesce(2).write
        .mode("overwrite")
        .option("compression", "gzip")
        .option("timestampNTZFormat", JsonIngest.TsFormat)
        .json(tmp)
      // expireIdle=false: a bounded drain with pending processing-time
      // timers never terminates (see runningUserCounts)
      val q = StreamIngest.runningUserCounts(StreamIngest.stream(s, tmp), expireIdle = false)
        .toDF()
        .writeStream.format("memory").queryName("stream_running_counts")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .start()
      require(q.awaitTermination(300000), "stream_running_counts: drain timed out")
      s.table("stream_running_counts")
        .groupBy("user_id")
        .agg(max(col("eventCount")).as("event_count"),
          max(col("purchaseCount")).as("purchase_count"))
        .orderBy("user_id")
    }),

    // J1 streaming-native: the landing carries every event TWICE (the
    // reference transport's rescan-from-TRIM_HORIZON redelivery);
    // dropDuplicatesWithinWatermark must emit each key exactly once,
    // matching the batch distinct oracle.
    "stream_dedup" -> ((s, dir) => StreamIngest.withStatePartitions(s, 8) {
      val tmp = Files.createTempDirectory("graft_dedup_q").toString
      val cp = Files.createTempDirectory("graft_dedup_cp").toString
      val subset = ev(s, dir).filter(col("event_id") % 13 === 0)
        .select(col("event_id").cast("string").as("event_id"), col("ts").as("event_timestamp"),
          col("event_type"), col("user_id").cast("string").as("user_id"))
      subset.unionByName(subset).coalesce(2).write
        .mode("overwrite")
        .option("compression", "gzip")
        .option("timestampNTZFormat", JsonIngest.TsFormat)
        .json(tmp)
      val q = StreamIngest.dedupEvents(StreamIngest.stream(s, tmp))
        .select("event_id", "event_timestamp", "event_type", "user_id")
        .writeStream.format("memory").queryName("stream_dedup")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .start()
      require(q.awaitTermination(300000), "stream_dedup: drain timed out")
      s.table("stream_dedup").orderBy("event_id")
    }),

    // C1/C2/C5 + S9/S11: the pipeline's transform chain — staging dedup,
    // anti-join insert, curated union, summary refresh — as one plan.
    // Dynamic-partition overwrite: full partitioned landing, then ONE
    // day re-lands corrected (+1000) — only that partition's files are
    // replaced, every other day must read back byte-identical. Oracle
    // computes the expected post-correction per-day profile.
    "ref_partition_overwrite_dynamic" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_dpo").toString
      val base = ev(s, dir).select(col("event_id"), col("event_type"),
        col("value"), to_date(col("ts")).as("event_date"))
      graft.plans.Catalog.overwritePartitions(base, tmp, Seq("event_date"))
      val fix = base.filter(col("event_date") === lit("2024-01-05"))
        .withColumn("value", col("value") + 1000)
      graft.plans.Catalog.overwritePartitions(fix, tmp, Seq("event_date"))
      s.read.parquet(tmp)
        .groupBy("event_date")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")), 4).cast("double").as("sum_value"))
        .orderBy("event_date")
    }),

    // Schema-evolution read: two parquet landings with DIFFERENT
    // schemas (one lacks `value`) unified by mergeSchema — old files
    // surface the missing column as NULL.
    "ref_schema_merge" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_sm").toString
      ev(s, dir).filter(col("event_id") % 2 === 0)
        .select("event_id", "event_type").write.parquet(s"$tmp/a")
      ev(s, dir).filter(col("event_id") % 2 =!= 0)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.parquet(s"$tmp/b")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/a", s"$tmp/b")
        .select(col("event_id"), col("event_type"), round(col("value"), 6).as("value"))
        .orderBy("event_id")
    }),

    // Snapshot time travel over the versioned-dir chain: publish two
    // refreshes of a summary table, then read BOTH the previous
    // snapshot (VERSION AS OF -1, via tableAsOf) and the current one.
    // The oracle recomputes each snapshot's content from the source
    // parquet — proving the retained v(n-1) directory still serves the
    // pre-refresh result after the flip.
    "ref_time_travel" -> ((s, dir) => {
      val e = ev(s, dir)
      val v1 = e.filter(col("event_type") === "purchase")
        .groupBy("event_type").agg(count(lit(1)).as("n"))
      val v2 = e.groupBy("event_type").agg(count(lit(1)).as("n"))
      graft.plans.Catalog.ctasOverwrite(v1, "tt_demo", keepVersions = 3)
      graft.plans.Catalog.ctasOverwrite(v2, "tt_demo", keepVersions = 3)
      graft.plans.Catalog.tableAsOf(s, "tt_demo", 1)
        .withColumn("snapshot", lit("previous"))
        .unionByName(s.table("tt_demo").withColumn("snapshot", lit("current")))
        .orderBy("snapshot", "event_type")
    }),

    "ref_pipeline_summary" -> ((s, dir) => {
      val staging = stagingFixture(s, dir).dropDuplicates("event_id")
      val target = targetFixture(s, dir)
      val curated = target.unionByName(EventOps.dedupInsert(staging, target))
      EventOps.dailySummary(curated).orderBy("event_date", "event_type")
    }),

    // S2+S3+C1 through the QUEUE transport (the Kinesis-consumer seam,
    // oracle-verified end-to-end): wire-serialize the staging slices,
    // publish to an embedded queue — the id%7==0 slice published TWICE
    // (at-least-once delivery) plus malformed/blank lines (O9) — drain
    // with committed-offset readBatch calls until empty, decode through
    // the shared staging projection, then run the same dedup-insert +
    // summary pipeline as ref_pipeline_summary. The queue itself is
    // driver-side by design (tests/embedded transport); the decode +
    // pipeline code it feeds is the scale path.
    // The slices stay small (%11 staging, %33 re-delivered) because the
    // queue is a DRIVER-side embedded transport: what's being verified
    // is the wire decode + offset-commit + pipeline seam, not bulk
    // throughput — the file and stream paths cover that.
    "ref_queue_pipeline" -> ((s, dir) => {
      import s.implicits._
      val e = ev(s, dir).select(col("event_id"), col("ts"), col("event_type"), col("user_id"))
      def wire(df: DataFrame): Seq[String] = sources.EventGenerator.jsonLines(
        df.select(col("event_id").cast("string").as("event_id"),
          col("ts").as("event_timestamp"), col("event_type"),
          col("user_id").cast("string").as("user_id")))
        .as[String].collect().toSeq
      val q = new sources.QueueEventSource(recordsPerBatch = 4096)
      q.publish("events", wire(e.filter(col("event_id") % 11 === 0)))
      q.publish("events", wire(e.filter(col("event_id") % 33 === 0)))
      q.publish("events", Seq("{malformed", "   ", "null"))
      var batches = List.empty[DataFrame]
      while (q.available(s, "events")) batches ::= q.readBatch(s, "events")
      val staging = batches.reduce(_ unionByName _)
        .filter(col("event_id").isNotNull) // corrupt rows out (O9)
        .select(col("event_id").cast("long").as("event_id"),
          col("event_timestamp").as("ts"), col("event_type"),
          col("user_id").cast("long").as("user_id"))
        .dropDuplicates("event_id")
      val target = e.filter(col("event_id") % 3 === 0)
      val curated = target.unionByName(EventOps.dedupInsert(staging, target))
      EventOps.dailySummary(curated).orderBy("event_date", "event_type")
    }),

    // S9/S11 extension — MERGE upsert (Snowflake MERGE INTO): a CDC
    // batch (every 5th event, value revised +100) against the curated
    // tier (every 3rd event): %15 ids are updated in place, %5-not-%3
    // ids inserted, the rest pass through untouched.
    "ref_merge_upsert" -> ((s, dir) => {
      val target = ev(s, dir).filter(col("event_id") % 3 === 0)
        .select("event_id", "event_type", "value")
      val updates = ev(s, dir).filter(col("event_id") % 5 === 0)
        .select(col("event_id"), col("event_type"), (col("value") + 100).as("value"))
      graft.plans.Catalog.mergeUpsert(target, updates, Seq("event_id"))
        .orderBy("event_id")
    }),

    // SCD Type-2 companion to the MERGE's current-rows view: per-user
    // event_type version history with effective-time ranges.
    "ref_scd2_history" -> ((s, dir) =>
      Scd2.history(ev(s, dir), key = "user_id", attrs = Seq("event_type"),
          ts = "ts", tieBreak = "event_id")
        .orderBy("user_id", "effective_from", "open_event_id")),

    // Z-order (Morton) clustering key on (customer, order day): the
    // clustered-write sort key that lets parquet row-group min/max
    // stats prune scans on EITHER dimension. Gate compares the bit
    // interleave exactly; clusterByZ (the write path) is spec-tested.
    "layout_zorder" -> ((s, dir) =>
      t(s, dir)("orders").select(col("o_orderkey"),
        Layout.zValue(Seq(col("o_custkey"),
          datediff(col("o_orderdate").cast("date"), to_date(lit("1995-01-01")))),
          bits = 16).as("z_value"))
        .orderBy("o_orderkey")),

    // Stream-stream interval join: views paired with same-user
    // purchases within 6 hours — both sides STREAM off the landed slice,
    // buffer statefully, and must emit exactly the batch inequality
    // join's pairs.
    "stream_view_purchase" -> ((s, dir) => StreamIngest.withStatePartitions(s, 8) {
      val tmp = Files.createTempDirectory("graft_ssj_q").toString
      val cp = Files.createTempDirectory("graft_ssj_cp").toString
      val subset = ev(s, dir).filter(col("event_id") % 2 === 0)
        .select(col("event_id").cast("string").as("event_id"), col("ts").as("event_timestamp"),
          col("event_type"), col("user_id").cast("string").as("user_id"))
      subset.coalesce(2).write
        .mode("overwrite")
        .option("compression", "gzip")
        .option("timestampNTZFormat", JsonIngest.TsFormat)
        .json(tmp)
      // true self-join: both sides filter ONE stream scan
      val src = StreamIngest.stream(s, tmp)
      val views = src.filter(col("event_type") === "view")
      val purchases = src.filter(col("event_type") === "purchase")
      val q = StreamIngest.intervalJoin(views, purchases, keyCol = "user_id",
          within = "6 HOUR", leftPrefix = "v_", rightPrefix = "p_")
        .select(col("v_event_id").cast("long").as("view_id"),
          col("p_event_id").cast("long").as("purchase_id"),
          col("v_user_id").cast("long").as("user_id"))
        .writeStream.format("memory").queryName("stream_view_purchase")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .start()
      require(q.awaitTermination(300000), "stream_view_purchase: drain timed out")
      s.table("stream_view_purchase").orderBy("view_id", "purchase_id")
    }),

    // Streaming CDC apply: each micro-batch MERGEs into the versioned
    // curated tier (foreachBatch → mergeUpsert → atomic view flip).
    // The landing carries every update TWICE (transport redelivery) and
    // maxFilesPerTrigger=1 forces multiple merge rounds; the final tier
    // must hold each key exactly once. `value` rides the OPEN ENVELOPE
    // (raw_payload) — it is not a declared staging column.
    // (foreachBatch: the per-batch MERGE jobs are tiny batch shuffles —
    // the same scoped conf right-sizes them.)
    "stream_cdc_upsert" -> ((s, dir) => StreamIngest.withStatePartitions(s, 8) {
      val tmp = Files.createTempDirectory("graft_cdc_q").toString
      val cp = Files.createTempDirectory("graft_cdc_cp").toString
      val updates = ev(s, dir).filter(col("event_id") % 5 === 0)
        .select(col("event_id").cast("string").as("event_id"), col("ts").as("event_timestamp"),
          col("event_type"), col("user_id").cast("string").as("user_id"),
          (col("value") + 100).as("value"))
      updates.unionByName(updates).coalesce(2).write
        .mode("overwrite")
        .option("compression", "gzip")
        .option("timestampNTZFormat", JsonIngest.TsFormat)
        .json(tmp)
      val tbl = "stream_cdc_target"
      graft.plans.Catalog.dropIfExists(s, tbl)
      val q = StreamIngest.runAvailableNow(
        StreamIngest.stream(s, tmp, maxFilesPerTrigger = Some(1)), cp,
        (batch, _) => {
          val delta = batch.select(col("event_id").cast("long").as("event_id"),
              col("event_type"),
              get_json_object(col("raw_payload"), "$.value").cast("double").as("value"))
            .dropDuplicates("event_id") // intra-batch redelivery
          val target =
            if (s.catalog.tableExists(tbl)) s.table(tbl)
            else delta.filter(lit(false))
          graft.plans.Catalog.ctasOverwrite(
            graft.plans.Catalog.mergeUpsert(target, delta, Seq("event_id")), tbl)
          ()
        })
      require(q.awaitTermination(300000), "stream_cdc_upsert: drain timed out")
      s.table(tbl).orderBy("event_id")
    }),

    // Per-type z-score outliers: exact decimal moments (order-free),
    // fixed double derivation, broadcast stats back onto the scan.
    "ref_dq_outliers" -> ((s, dir) =>
      DataQuality.zScoreOutliers(ev(s, dir), "event_type", "value", threshold = 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z_score"), 6).as("z_score"))
        .orderBy("event_id")),

    // Calendar resampling + LOCF: each user's purchase history projected
    // onto a daily grid spanning their own [first, last] purchase day,
    // gap days forward-filled with the most recent daily max.
    "ref_resample_ffill" -> ((s, dir) =>
      Resample.dailyFfill(ev(s, dir).filter(col("event_type") === "purchase"),
          key = "user_id", ts = "ts", value = "value")
        .orderBy("user_id", "day")),

    // Trailing 7-day moving average of event value per type: sliding
    // ROWS frame over the daily pre-aggregate; DECIMAL(38,12) frame
    // sums (order-free) with one final double division.
    "ref_moving_avg" -> ((s, dir) =>
      Resample.movingAverage(ev(s, dir), key = "event_type", ts = "ts",
          value = "value", windowDays = 7)
        .orderBy("event_type", "day")),

    // Per-type OLS trend of daily volume: exact BIGINT moments over
    // the daily counts, one double division for the slope.
    "ref_daily_trend" -> ((s, dir) =>
      EventOps.dailyTrend(ev(s, dir)).orderBy("event_type")),

    // Skew-mitigated aggregation: two-stage (key, salt) → key combine
    // of decomposable stats — bit-identical to the direct group-by the
    // oracle runs, whatever the salt split.
    "ref_skew_salted_stats" -> ((s, dir) =>
      Skew.saltedStats(ev(s, dir), Seq("event_type"), "value", saltFactor = 8)
        .orderBy("event_type")),

    // Windowed ranking breadth: ntile quartiles of purchase value per
    // event type (ties totally ordered by event_id), aggregated to
    // order-free per-quartile stats.
    "ref_value_quartiles" -> ((s, dir) => {
      val e = ev(s, dir).filter(col("value").isNotNull)
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
      e.withColumn("quartile", ntile(4).over(w))
        .groupBy("event_type", "quartile")
        .agg(count(lit(1)).as("event_count"),
          min("value").as("min_value"), max("value").as("max_value"))
        .orderBy("event_type", "quartile")
    }),

    // Exact interpolated p50/p90/p99 per type — Spark percentile and
    // DuckDB quantile_cont share the (n−1)·p definition.
    "ref_value_percentiles" -> ((s, dir) =>
      DataQuality.valuePercentiles(ev(s, dir), "event_type", "value")
        .orderBy("event_type")),

    // Median/MAD robust outliers (heavy-tail-safe z-score sibling);
    // exact interpolated percentiles both engines, raw-value threshold.
    "ref_dq_robust_outliers" -> ((s, dir) =>
      DataQuality.robustOutliers(ev(s, dir), "event_type", "value")
        .select("event_id", "event_type", "value", "robust_z")
        .orderBy("event_id")),

    // Mergeable histogram-sketch quantiles: 1024 integer bucket counts
    // (one map-side-combinable agg, no per-value state), linear
    // interpolation in the crossing bucket — every floor/divide
    // replayed by the oracle.
    "ref_value_hist_quantiles" -> ((s, dir) =>
      DataQuality.histogramQuantiles(ev(s, dir), "value").orderBy("q")),

    // Per-group sketch: group ranges ride as columns (no driver
    // scalars), cum window partitions by group — the surface of
    // ref_value_percentiles at sketch cost.
    "ref_value_hist_quantiles_by_type" -> ((s, dir) =>
      DataQuality.histogramQuantilesBy(ev(s, dir), "event_type", "value")
        .orderBy("event_type", "q")),

    // Ordered 3-stage funnel: earliest qualifying event per user per
    // stage, chained; counts are one union-aggregate job.
    "ref_funnel" -> ((s, dir) =>
      Behavior.funnel(ev(s, dir), Seq("view", "click", "purchase"))
        .orderBy("stage_idx")),

    // Retention matrix keyed by each user's own first active day
    // (integer week offsets — no engine-specific week truncation).
    "ref_retention" -> ((s, dir) =>
      Behavior.retention(ev(s, dir))
        .orderBy("cohort_day", "week_offset")),

    // Snapshot reconciliation: full-outer diff of two derived versions
    // of the events tier, null-safe struct compare.
    "ref_snapshot_diff" -> ((s, dir) => {
      val base = ev(s, dir).select("event_id", "event_type", "value")
      val prev = base.filter(col("event_id") % 2 === 0)
      val cur = base.filter(col("event_id") % 3 =!= 0)
        .withColumn("value",
          when(col("event_id") % 10 === 0, col("value") + 1).otherwise(col("value")))
      DataQuality.snapshotDiff(cur, prev, "event_id", Seq("event_type", "value"))
        .orderBy("event_id")
    }),

    // Stream-static enrichment: every streamed event picks up its
    // customer dim attributes via a broadcast join inside the
    // micro-batch — stateless, append-mode, no watermark.
    "stream_enrich" -> ((s, dir) => {
      val tmp = Files.createTempDirectory("graft_enrich_q").toString
      val cp = Files.createTempDirectory("graft_enrich_cp").toString
      val subset = ev(s, dir).filter(col("event_id") % 13 === 0)
        .select(col("event_id").cast("string").as("event_id"), col("ts").as("event_timestamp"),
          col("event_type"), col("user_id").cast("string").as("user_id"))
      subset.coalesce(2).write
        .mode("overwrite")
        .option("compression", "gzip")
        .option("timestampNTZFormat", JsonIngest.TsFormat)
        .json(tmp)
      val dim = t(s, dir)("customer")
      val q = StreamIngest.enrichWithDim(StreamIngest.stream(s, tmp), dim,
          col("user_id").cast("long"), col("c_custkey"),
          Seq(col("c_name"), col("c_mktsegment")), joinType = "inner")
        .select(col("event_id").cast("long").as("event_id"), col("event_type"),
          col("user_id").cast("long").as("user_id"), col("c_name"), col("c_mktsegment"))
        .writeStream.format("memory").queryName("stream_enrich")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .start()
      require(q.awaitTermination(300000), "stream_enrich: drain timed out")
      s.table("stream_enrich").orderBy("event_id")
    })
  )

  private val referenceOracles: Map[String, String] = Map(
    "ref_user_events" ->
      """SELECT event_id, ts AS event_timestamp, user_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
        |       value AS price
        |FROM events WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "ref_daily_summary" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type,
        |       COUNT(*) AS event_count, MIN(ts) AS first_event, MAX(ts) AS last_event
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ref_user_events_variant" ->
      """SELECT event_id, ts AS event_timestamp, user_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k,
        |       value AS price
        |FROM events WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "ref_dedup_insert" ->
      """WITH staging AS (
        |  SELECT * FROM events WHERE event_id % 7 < 3
        |  UNION ALL SELECT * FROM events WHERE event_id % 7 = 0
        |)
        |SELECT s.* FROM staging s
        |WHERE s.event_id IS NOT NULL
        |  AND s.event_id NOT IN (SELECT event_id FROM events WHERE event_id % 3 = 0)
        |ORDER BY event_id""".stripMargin,

    "ref_dq_duplicates" ->
      """WITH staging AS (
        |  SELECT * FROM events WHERE event_id % 7 < 3
        |  UNION ALL SELECT * FROM events WHERE event_id % 7 = 0
        |)
        |SELECT event_id, COUNT(*) AS dup_count FROM staging
        |GROUP BY event_id HAVING COUNT(*) > 1 ORDER BY event_id""".stripMargin,

    "ref_dq_incomplete" ->
      """WITH staged AS (
        |  SELECT event_id, NULLIF(event_type, 'error') AS event_type,
        |         CASE WHEN user_id % 97 = 0 THEN NULL ELSE user_id END AS user_id, ts
        |  FROM events)
        |SELECT COUNT(*) AS incomplete_count FROM staged
        |WHERE event_id IS NULL OR event_type IS NULL OR user_id IS NULL OR ts IS NULL""".stripMargin,

    "ref_staging_projection" ->
      """SELECT event_id, ts AS event_timestamp, event_type, user_id, value,
        |       props AS payload,
        |       CAST(NULL AS VARCHAR) AS device_id,
        |       CAST(NULL AS VARCHAR) AS app_version
        |FROM events ORDER BY event_id""".stripMargin,

    "ref_json_roundtrip" ->
      "SELECT event_id, ts, event_type, user_id FROM events ORDER BY event_id",

    "ref_csv_roundtrip" ->
      "SELECT event_id, ts, event_type, user_id, value FROM events ORDER BY event_id",

    "ref_orc_roundtrip" ->
      """SELECT event_id, ts, event_type, user_id, value FROM events
        |WHERE event_id % 7 = 0 AND event_type = 'purchase' AND value > 50.0
        |ORDER BY event_id""".stripMargin,

    "ref_day_over_day" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS event_count
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, event_count,
        |         lag(event_count) OVER (PARTITION BY event_type ORDER BY day) AS prev_count
        |  FROM daily)
        |SELECT event_type, day, event_count,
        |       CAST(prev_count AS BIGINT) AS prev_count,
        |       CAST(event_count - prev_count AS BIGINT) AS delta,
        |       CAST(ROUND(CAST(event_count - prev_count AS DOUBLE) / prev_count, 6) AS DOUBLE)
        |         AS pct_change
        |FROM w ORDER BY event_type, day""".stripMargin,

    "ref_partition_template" ->
      """SELECT strftime(ts, 'year=%Y/month=%m/day=%d/hour=%H') AS partition_path,
        |       COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "ref_hourly_window" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |       event_type, COUNT(*) AS event_count
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,

    "ref_running_count" ->
      """SELECT event_id, event_type,
        |       COUNT(*) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_count
        |FROM events ORDER BY event_id""".stripMargin,

    "ref_ingest_roundtrip" ->
      """SELECT CAST(EXTRACT(year FROM ts) AS INT) AS year,
        |       CAST(EXTRACT(month FROM ts) AS INT) AS month,
        |       CAST(EXTRACT(day FROM ts) AS INT) AS day,
        |       CAST(EXTRACT(hour FROM ts) AS INT) AS hour,
        |       COUNT(*) AS n
        |FROM events WHERE event_id % 11 = 0
        |GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,

    "ref_open_envelope" ->
      """SELECT event_id, 's-' || CAST(event_id AS VARCHAR) AS session_id
        |FROM events WHERE event_id % 17 = 0 ORDER BY event_id""".stripMargin,

    "stream_hourly_counts" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |       event_type, COUNT(*) AS event_count,
        |       MIN(ts) AS first_event, MAX(ts) AS last_event
        |FROM events WHERE event_id % 13 = 0
        |GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,

    // Spark sliding windows are epoch-aligned: the k-th (k < 4)
    // enclosing window of ts starts at floor(epoch/900)·900 − k·900.
    "stream_sliding_counts" ->
      """WITH w AS (
        |  SELECT e.ts, e.event_type,
        |         TIMESTAMP '1970-01-01'
        |           + to_seconds(CAST(FLOOR(epoch(e.ts) / 900) AS BIGINT) * 900 - r.k * 900)
        |           AS window_start
        |  FROM events e, range(0, 4) r(k)
        |  WHERE e.event_id % 13 = 0)
        |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end, event_type,
        |       COUNT(*) AS event_count, MIN(ts) AS first_event, MAX(ts) AS last_event
        |FROM w GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,

    // same gap-session derivation as ref_session_window, restricted to
    // the streamed slice (event_id % 13) with the landed VARCHAR user_id
    "stream_user_sessions" ->
      """WITH src AS (
        |  SELECT CAST(user_id AS VARCHAR) AS user_id, event_id, ts
        |  FROM events WHERE event_id % 13 = 0
        |), flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        |  FROM src
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS event_count
        |FROM numbered GROUP BY user_id, session_no ORDER BY 1, 2""".stripMargin,

    "stream_running_counts" ->
      """SELECT CAST(user_id AS VARCHAR) AS user_id, COUNT(*) AS event_count,
        |       COUNT(*) FILTER (event_type = 'purchase') AS purchase_count
        |FROM events WHERE event_id % 13 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // the doubled landing collapses back to the original slice — one
    // row per event_id, payload columns from that event
    "stream_dedup" ->
      """SELECT CAST(event_id AS VARCHAR) AS event_id, ts AS event_timestamp,
        |       event_type, CAST(user_id AS VARCHAR) AS user_id
        |FROM events WHERE event_id % 13 = 0 ORDER BY 1""".stripMargin,

    "ref_merge_upsert" ->
      """SELECT event_id, event_type, value + 100 AS value
        |FROM events WHERE event_id % 5 = 0
        |UNION ALL
        |SELECT event_id, event_type, value
        |FROM events WHERE event_id % 3 = 0 AND event_id % 5 <> 0
        |ORDER BY event_id""".stripMargin,

    // Post-correction per-day profile: day 2024-01-05 carries +1000
    // per row, every other day the original values.
    "ref_partition_overwrite_dynamic" ->
      """SELECT CAST(ts AS DATE) AS event_date, count(*) AS n,
        |       CAST(CAST(ROUND(SUM(CAST(value +
        |              CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05' THEN 1000 ELSE 0 END
        |            AS DECIMAL(18,6))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // mergeSchema union: even ids came from the value-less landing.
    "ref_schema_merge" ->
      """SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
        |FROM events WHERE event_id % 2 = 0
        |UNION ALL
        |SELECT event_id, event_type, CAST(ROUND(value, 6) AS DOUBLE) AS value
        |FROM events WHERE event_id % 2 <> 0
        |ORDER BY event_id""".stripMargin,

    // Each snapshot's content recomputed from source — time travel must
    // serve the PRE-refresh result for 'previous'.
    "ref_time_travel" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n, 'previous' AS snapshot
        |FROM events WHERE event_type = 'purchase' GROUP BY 1
        |UNION ALL
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n, 'current' AS snapshot
        |FROM events GROUP BY 1
        |ORDER BY snapshot, event_type""".stripMargin,

    "ref_pipeline_summary" ->
      """WITH staging AS (
        |  SELECT DISTINCT * FROM (
        |    SELECT * FROM events WHERE event_id % 7 < 3
        |    UNION ALL SELECT * FROM events WHERE event_id % 7 = 0)
        |), target AS (
        |  SELECT * FROM events WHERE event_id % 3 = 0
        |), curated AS (
        |  SELECT * FROM target
        |  UNION ALL
        |  SELECT * FROM staging s
        |  WHERE s.event_id IS NOT NULL
        |    AND s.event_id NOT IN (SELECT event_id FROM target)
        |)
        |SELECT CAST(ts AS DATE) AS event_date, event_type,
        |       COUNT(*) AS event_count, MIN(ts) AS first_event, MAX(ts) AS last_event
        |FROM curated GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Same pipeline contract as ref_pipeline_summary; the Spark side
    // routes the staging slices through the queue transport's wire
    // encode/decode, which must be value-preserving — so the oracle
    // reads the slices straight from the source table.
    "ref_queue_pipeline" ->
      """WITH staging AS (
        |  SELECT DISTINCT event_id, ts, event_type, user_id FROM (
        |    SELECT event_id, ts, event_type, user_id FROM events WHERE event_id % 11 = 0
        |    UNION ALL
        |    SELECT event_id, ts, event_type, user_id FROM events WHERE event_id % 33 = 0)
        |), target AS (
        |  SELECT event_id, ts, event_type, user_id FROM events WHERE event_id % 3 = 0
        |), curated AS (
        |  SELECT * FROM target
        |  UNION ALL
        |  SELECT * FROM staging s
        |  WHERE s.event_id IS NOT NULL
        |    AND s.event_id NOT IN (SELECT event_id FROM target)
        |)
        |SELECT CAST(ts AS DATE) AS event_date, event_type,
        |       COUNT(*) AS event_count, MIN(ts) AS first_event, MAX(ts) AS last_event
        |FROM curated GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ref_scd2_history" ->
      """WITH ordered AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |opens AS (
        |  SELECT user_id, event_type, ts AS effective_from,
        |         event_id AS open_event_id
        |  FROM ordered WHERE event_type IS DISTINCT FROM prev_type)
        |SELECT user_id, event_type, effective_from, open_event_id,
        |       lead(effective_from) OVER (PARTITION BY user_id
        |           ORDER BY effective_from, open_event_id) AS effective_to,
        |       lead(effective_from) OVER (PARTITION BY user_id
        |           ORDER BY effective_from, open_event_id) IS NULL AS is_current
        |FROM opens ORDER BY user_id, effective_from, open_event_id""".stripMargin,

    "layout_zorder" ->
      s"""SELECT o_orderkey,
         |       ${Layout.zValueSql(Seq("o_custkey",
              "date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))"), bits = 16)}
         |         AS z_value
         |FROM orders ORDER BY o_orderkey""".stripMargin,

    "stream_enrich" ->
      """SELECT e.event_id, e.event_type, e.user_id, c.c_name, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_id % 13 = 0
        |ORDER BY e.event_id""".stripMargin,

    "stream_view_purchase" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 6 HOUR
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND v.event_id % 2 = 0 AND p.event_id % 2 = 0
        |ORDER BY view_id, purchase_id""".stripMargin,

    "stream_cdc_upsert" ->
      """SELECT event_id, event_type, value + 100 AS value
        |FROM events WHERE event_id % 5 = 0
        |ORDER BY event_id""".stripMargin,

    "ref_dq_outliers" ->
      """WITH s AS (
        |  SELECT event_type, count(*) AS n,
        |         sum(CAST(value AS DECIMAL(38,12))) AS s1,
        |         sum(CAST(value * value AS DECIMAL(38,12))) AS s2
        |  FROM events WHERE value IS NOT NULL GROUP BY event_type),
        |st AS (
        |  SELECT event_type,
        |         CAST(s1 AS DOUBLE) / n AS m,
        |         sqrt(CAST(s2 AS DOUBLE) / n
        |              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) AS sd
        |  FROM s)
        |SELECT e.event_id, e.event_type, e.value,
        |       CAST(ROUND((e.value - st.m) / st.sd, 6) AS DOUBLE) AS z_score
        |FROM events e JOIN st USING (event_type)
        |WHERE e.value IS NOT NULL AND abs((e.value - st.m) / st.sd) > 3.0
        |ORDER BY e.event_id""".stripMargin,

    "ref_resample_ffill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, max(value) AS day_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
        |b AS (SELECT user_id, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
        |grid AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |                                              CAST(hi AS TIMESTAMP),
        |                                              INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b)
        |SELECT g.user_id, g.day, d.day_value,
        |       last_value(d.day_value IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ffill
        |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
        |ORDER BY g.user_id, g.day""".stripMargin,

    // DECIMAL(38,12) daily + frame sums (exact, order-free under both
    // engines' sliding-frame algorithms); the mean is the one double op.
    "ref_moving_avg" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |         sum(CAST(value AS DECIMAL(38,12))) AS day_sum,
        |         count(*) AS day_n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, day,
        |       CAST(ROUND(CAST(day_sum AS DOUBLE), 6) AS DOUBLE) AS day_sum,
        |       CAST(ROUND(CAST(win_sum AS DOUBLE) / win_n, 6) AS DOUBLE) AS moving_avg
        |FROM (SELECT event_type, day, day_sum,
        |             sum(day_sum) OVER w AS win_sum,
        |             sum(day_n) OVER w AS win_n
        |      FROM daily
        |      WINDOW w AS (PARTITION BY event_type ORDER BY day
        |                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |ORDER BY event_type, day""".stripMargin,

    // Moments stay BIGINT (CASTs guard DuckDB's HUGEINT widening);
    // NULLIF avoids a platform-dependent 0/0 on single-day groups.
    "ref_daily_trend" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type, CAST(day - DATE '1970-01-01' AS BIGINT) AS x, y FROM daily),
        |m AS (
        |  SELECT event_type, count(*) AS n_days,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM d GROUP BY event_type)
        |SELECT event_type, n_days,
        |       CAST(ROUND(CAST(n_days * sxy - sx * sy AS DOUBLE)
        |                  / NULLIF(CAST(n_days * sxx - sx * sx AS DOUBLE), 0), 6) AS DOUBLE)
        |         AS slope
        |FROM m ORDER BY event_type""".stripMargin,

    "ref_skew_salted_stats" ->
      """SELECT event_type, count(value) AS value_count,
        |       min(value) AS value_min, max(value) AS value_max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ref_value_quartiles" ->
      """SELECT event_type, CAST(quartile AS INT) AS quartile, count(*) AS event_count,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM (SELECT event_type, value,
        |             ntile(4) OVER (PARTITION BY event_type
        |                 ORDER BY value, event_id) AS quartile
        |      FROM events WHERE value IS NOT NULL)
        |GROUP BY event_type, quartile
        |ORDER BY event_type, quartile""".stripMargin,

    "ref_value_percentiles" ->
      """SELECT event_type,
        |       CAST(ROUND(quantile_cont(value, 0.5), 6) AS DOUBLE) AS p50,
        |       CAST(ROUND(quantile_cont(value, 0.9), 6) AS DOUBLE) AS p90,
        |       CAST(ROUND(quantile_cont(value, 0.99), 6) AS DOUBLE) AS p99
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Robust-z replay: median and MAD via quantile_cont (the same
    // interpolated definition as Spark's percentile), threshold on the
    // RAW ratio, zero-MAD groups excluded.
    "ref_dq_robust_outliers" ->
      """WITH v AS (SELECT event_id, event_type, value FROM events WHERE value IS NOT NULL),
        |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM v GROUP BY 1),
        |st AS (
        |  SELECT v.event_type, med.med,
        |         quantile_cont(abs(v.value - med.med), 0.5) AS mad
        |  FROM v JOIN med ON v.event_type = med.event_type GROUP BY 1, 2)
        |SELECT event_id, v.event_type, value,
        |       CAST(ROUND((value - st.med) / (1.4826 * st.mad), 6) AS DOUBLE) AS robust_z
        |FROM v JOIN st ON v.event_type = st.event_type
        |WHERE st.mad > 0 AND abs((value - st.med) / (1.4826 * st.mad)) > 3.5
        |ORDER BY event_id""".stripMargin,

    // Histogram-sketch replay: same min/max, same 1024-bucket floor
    // assignment, same cumulative crossing + in-bucket interpolation.
    "ref_value_hist_quantiles" ->
      """WITH v AS (SELECT value FROM events WHERE value IS NOT NULL),
        |mm AS (SELECT CAST(min(value) AS DOUBLE) AS lo,
        |              CAST(max(value) AS DOUBLE) AS hi, count(*) AS n FROM v),
        |bk AS (SELECT CAST(least(floor((value - mm.lo) / ((mm.hi - mm.lo) / 1024)), 1023) AS INT) AS b
        |       FROM v, mm),
        |c AS (SELECT b, count(*) AS c FROM bk GROUP BY 1),
        |cm AS (SELECT b, c, sum(c) OVER (ORDER BY b) AS cum FROM c),
        |qv AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q)
        |SELECT qv.q AS q,
        |       CAST(ROUND(mm.lo + ((mm.hi - mm.lo) / 1024)
        |              * (f.b + (qv.q * mm.n - (f.cum - f.c)) / f.c), 6) AS DOUBLE) AS estimate,
        |       CAST(mm.n AS BIGINT) AS n_values
        |FROM qv, mm,
        |  LATERAL (SELECT b, c, cum FROM cm WHERE cum >= qv.q * mm.n ORDER BY b LIMIT 1) f
        |ORDER BY q""".stripMargin,

    // Per-group replay: same machinery keyed by event_type; degenerate
    // groups (hi = lo) emit the value itself.
    "ref_value_hist_quantiles_by_type" ->
      """WITH v AS (SELECT event_type AS g, value FROM events WHERE value IS NOT NULL),
        |mm AS (SELECT g, CAST(min(value) AS DOUBLE) AS lo,
        |              CAST(max(value) AS DOUBLE) AS hi, count(*) AS n FROM v GROUP BY 1),
        |bk AS (SELECT v.g,
        |              CASE WHEN mm.hi = mm.lo THEN 0
        |                   ELSE CAST(least(floor((value - mm.lo) / ((mm.hi - mm.lo) / 1024)), 1023) AS INT)
        |              END AS b
        |       FROM v JOIN mm ON v.g = mm.g),
        |c AS (SELECT g, b, count(*) AS c FROM bk GROUP BY 1, 2),
        |cm AS (SELECT g, b, c, sum(c) OVER (PARTITION BY g ORDER BY b) AS cum FROM c),
        |qv AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q)
        |SELECT mm.g AS event_type, qv.q AS q,
        |       CAST(ROUND(CASE WHEN mm.hi = mm.lo THEN mm.lo
        |             ELSE mm.lo + ((mm.hi - mm.lo) / 1024)
        |                  * (f.b + (qv.q * mm.n - (f.cum - f.c)) / f.c) END, 6) AS DOUBLE) AS estimate,
        |       CAST(mm.n AS BIGINT) AS n_values
        |FROM mm, qv,
        |  LATERAL (SELECT b, c, cum FROM cm
        |           WHERE cm.g = mm.g AND cum >= qv.q * mm.n ORDER BY b LIMIT 1) f
        |ORDER BY event_type, q""".stripMargin,

    "ref_funnel" ->
      """WITH s1 AS (SELECT user_id AS u, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id AS u, min(e.ts) AS t
        |       FROM events e JOIN s1 ON e.user_id = s1.u AND e.ts >= s1.t
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id AS u, min(e.ts) AS t
        |       FROM events e JOIN s2 ON e.user_id = s2.u AND e.ts >= s2.t
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 1 AS stage_idx, 'view' AS stage, count(*) AS users FROM s1
        |  UNION ALL SELECT 2, 'click', count(*) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        |ORDER BY stage_idx""".stripMargin,

    "ref_retention" ->
      """WITH d AS (SELECT user_id AS u, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT u, min(day) AS cohort_day FROM d GROUP BY u),
        |a AS (SELECT DISTINCT d.u, f.cohort_day,
        |             CAST(FLOOR((d.day - f.cohort_day) / 7.0) AS BIGINT) AS week_offset
        |      FROM d JOIN f USING (u))
        |SELECT cohort_day, week_offset, count(*) AS active_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ref_snapshot_diff" ->
      """WITH prev AS (SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0),
        |cur AS (SELECT event_id, event_type,
        |               CASE WHEN event_id % 10 = 0 THEN value + 1 ELSE value END AS value
        |        FROM events WHERE event_id % 3 <> 0)
        |SELECT COALESCE(c.event_id, p.event_id) AS event_id,
        |       CASE WHEN p.event_id IS NULL THEN 'added'
        |            WHEN c.event_id IS NULL THEN 'removed'
        |            WHEN c.event_type IS NOT DISTINCT FROM p.event_type
        |             AND c.value IS NOT DISTINCT FROM p.value THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM cur c FULL OUTER JOIN prev p ON c.event_id = p.event_id
        |ORDER BY event_id""".stripMargin
  )

  // ---------------------------------------------------------------
  // LLM-data-pipeline surface (north star): dedup, similarity, text
  // analysis over documents/embeddings. Dup fixtures plant copies with
  // doc_id/vec_id + 100000; the corpus also carries its own near-dups.
  // ---------------------------------------------------------------

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  private def docDupFixture(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  private def embDupFixture(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select("vec_id", "embedding")
    e.unionByName(e.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
  }

  private val llmQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Text analysis: token/char counts, punct+stopword ratios, quality
    // score, stopword-profile language id, bag-of-words fingerprint.
    // md5Twin: the fingerprint column is the cross-engine md5 rendition
    // (the production profile defaults to the native rolling kernel,
    // gated rows-only as doc_fingerprint_native below)
    "doc_stats" -> ((s, dir) => TextStats.profile(docs(s, dir), md5Twin = true).orderBy("doc_id")),

    // Full Gopher per-document rule battery (metrics + per-rule
    // verdicts + conjunction), oracle-replayed rule by rule in DuckDB.
    "doc_gopher_quality" -> ((s, dir) =>
      TextStats.gopherRules(docs(s, dir)).orderBy("doc_id")),

    // The OTHER half of the Gopher gate — the 13-metric repetition
    // battery (dup line/para count+char fractions, top-{2,3,4}-gram
    // char coverage, dup-{5..10}-gram position-union coverage), every
    // metric and the Table-A1 conjunction replayed by DuckDB from the
    // raw text.
    "doc_gopher_repetition" -> ((s, dir) =>
      TextStats.gopherRepetition(docs(s, dir)).orderBy("doc_id")),

    // The PRODUCTION rolling fingerprint (native polynomial kernel,
    // O(1)/byte), under a FULL cross-engine oracle: DuckDB replays the
    // exact mod-2^64 window-hash + fmix64 arithmetic in HUGEINT (see
    // rollingFpOracle). The unsigned 64-bit value is compared as its
    // unsigned decimal string (conv(hex, 16, 10) — a signed LongType
    // column would render the high-bit half negative).
    "doc_fingerprint_native" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          conv(hex(TextStats.rollingFingerprint(col("text"))), 16, 10).as("rolling_fp"))
        .orderBy("doc_id")),

    // Corpus length histogram: fixed-width bucketing, partial/final agg.
    "doc_length_histogram" -> ((s, dir) =>
      docs(s, dir)
        .groupBy((floor(length(col("text")) / 100) * 100).as("length_bucket"))
        .agg(count(lit(1)).as("doc_count"))
        .orderBy("length_bucket")),

    // Quality-score quantiles per predicted language: exact interpolated
    // percentiles (sort-based, deterministic) over the profile output.
    "doc_quality_quantiles" -> ((s, dir) =>
      TextStats.profile(docs(s, dir))
        .groupBy("predicted_lang")
        .agg(
          round(expr("percentile(quality_score, 0.5)"), 6).as("p50"),
          round(expr("percentile(quality_score, 0.9)"), 6).as("p90"),
          count(lit(1)).as("doc_count"))
        .orderBy("predicted_lang")),

    // Exact dedup: clusters of normalized-content duplicates…
    "doc_exact_dup" -> ((s, dir) =>
      TextDedup.exactDupClusters(docDupFixture(s, dir)).orderBy("content_hash")),

    // …and the keep-lowest-id dedup of the same fixture.
    "doc_dedup_exact" -> ((s, dir) =>
      TextDedup.dedupExact(docDupFixture(s, dir)).select("doc_id").orderBy("doc_id")),

    // Sub-document (token-block) dedup over the duplicated-crawl
    // fixture: every block of an exact-copy doc loses the global
    // first-occurrence race, so copies reassemble empty (md5("")).
    "doc_dedup_blocks" -> ((s, dir) =>
      TextDedup.dedupBlocks(docDupFixture(s, dir)).orderBy("doc_id")),

    // Lee-et-al-style repeated spans: overlapping 20-token windows,
    // first corpus occurrence wins, overlapping dups merge to spans.
    "doc_duplicate_spans" -> ((s, dir) =>
      TextDedup.duplicateSpans(docs(s, dir), k = 20)
        .orderBy("doc_id", "span_start")),

    // ...and the text that remains after stripping those spans.
    "doc_strip_spans" -> ((s, dir) =>
      TextDedup.stripDuplicateSpans(docs(s, dir), k = 20).orderBy("doc_id")),

    // Winnowed (MOSS-style) rendition: fingerprint sampling at density
    // 2/(w+1) instead of the full grid — md5 twin so DuckDB replays
    // the exact min-hash selection, rightmost ties included.
    "doc_winnowed_spans" -> ((s, dir) =>
      TextDedup.winnowedSpans(docs(s, dir), k = 20, w = 8, md5Twin = true)
        .orderBy("doc_id", "span_start")),

    // Incremental spans: every 5th doc re-ingested as a batch against
    // the stored tier fingerprint index; the oracle replays the full
    // union (the two are provably equal when tier ids precede batch
    // ids — the gate IS the equivalence proof).
    "doc_spans_incremental" -> ((s, dir) => {
      val tier = docs(s, dir).select("doc_id", "text")
      val batch = tier.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      TextDedup.duplicateSpansAgainst(
        TextDedup.spanIndex(tier, md5Twin = true), batch, md5Twin = true)
        .orderBy("doc_id", "span_start")
    }),

    // CCNet-style boilerplate removal (token-segment rendition): a
    // 10-token header is planted on every third doc and every fifth
    // doc is duplicated, so the header segment and every aligned
    // segment of a duplicated doc cross the 2-doc frequency bar and
    // are stripped from ALL occurrences — including the first, which
    // is the semantic difference from doc_dedup_blocks.
    "doc_strip_boilerplate" -> ((s, dir) => {
      val header = "standard legal header boilerplate text appears on every page here"
      val base = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(lit(header + " "), col("text")))
          .otherwise(col("text")).as("text"))
      val fixture = base.unionByName(base.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      TextDedup.stripCommonSegments(fixture, segTokens = 10, minDocs = 2)
        .select("doc_id", "kept_segments", "removed_segments", "clean_hash")
        .orderBy("doc_id")
    }),

    // Line-delimited rendition of the same contract — the literal
    // CCNet unit. The corpus has no newlines, so the fixture makes
    // lines: a header line on every doc, the doc's own text as one
    // line, a footer line on even ids. Header+footer are stripped;
    // each doc's text line survives unless another doc's text is an
    // exact (trimmed) copy.
    "doc_strip_lines" -> ((s, dir) =>
      TextDedup.stripCommonLines(
        docs(s, dir).select(col("doc_id"),
          concat_ws("\n", lit("shared header line"), col("text"),
            when(col("doc_id") % 2 === 0, lit("shared footer line"))).as("text")),
        minDocs = 2)
        .select("doc_id", "kept_segments", "removed_segments", "clean_hash")
        .orderBy("doc_id")),

    // WITHIN-doc repeated-line strip (keep-first): fixture doubles the
    // whole body plus a planted repeat, so every body line loses its
    // second copy; oracle replays the first-occurrence filter and the
    // reassembly hash.
    "doc_strip_repeated_lines" -> ((s, dir) =>
      TextDedup.stripRepeatedLines(
        docs(s, dir).select(col("doc_id"),
          concat_ws("\n", col("text"), lit("repeat me"), col("text"),
            lit("repeat me")).as("text")))
        .select("doc_id", "kept_segments", "removed_segments", "clean_hash")
        .orderBy("doc_id")),

    // The FULL curation pipeline (CurationPipeline.runFull) as ONE
    // oracle-gated query — quality gate → (no-op) decontaminate →
    // minhash near-dup dedup → CCNet boilerplate strip → duplicate-span
    // strip, with the gate comparing the final per-doc clean-text hash.
    // A 25-token passage planted on the %7∈{1,3} docs gives the span
    // stage corpus-level work the raw table wouldn't (its duplicate
    // spans live in exact-dup docs, which dedup removes first). The
    // oracle replays every stage; banding recall at the 0.5 threshold
    // is the doc_dedup_near argument (all qualifying pairs have j≳0.9).
    "ref_curation_clean" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 7 === 1 || col("doc_id") % 7 === 3,
          concat(col("text"), lit(" " + curationPassage)))
          .otherwise(col("text")).as("text"))
      val report = graft.pipeline.CurationPipeline.runFull(s, base,
        s.emptyDataFrame.withColumn("text", lit("")).select("text"),
        jaccardThreshold = 0.5)
      require(report.ok, s"runFull failed: ${report.stages}")
      s.table(graft.pipeline.CurationPipeline.CleanTable)
        .select(col("doc_id"), md5(col("text")).as("clean_hash"))
        .orderBy("doc_id")
    }),

    // The pipeline ENDING IN THE MIX: quality gate → (no-op)
    // decontaminate → 0.5-jaccard dedup → (no-op strips: boilerMinDocs
    // maxed, spanK above any doc length) → 100% train split →
    // temperature-0.5 epoch plan over the survivors at a 1M-token
    // budget. The strips preserve token SEQUENCES (reconstruction
    // normalizes whitespace only), so the oracle counts tokens on the
    // raw text of the replayed survivor set and replays the α=0.5
    // weight/target arithmetic exactly (the doc_epoch_plan algebra
    // downstream of the ref_curation_clean survivor replay).
    "ref_curation_mix" -> ((s, dir) => {
      val report = graft.pipeline.CurationPipeline.runFull(s,
        docs(s, dir).select("doc_id", "text", "source"),
        s.emptyDataFrame.withColumn("text", lit("")).select("text"),
        jaccardThreshold = 0.5,
        boilerMinDocs = Int.MaxValue, spanK = 1000000,
        mixBudgetTokens = 1000000L)
      require(report.ok, s"runFull(mix) failed: ${report.stages}")
      require(report.metrics.contains("mix_sources"),
        "epoch_mix stage must report its source count")
      s.table(graft.pipeline.CurationPipeline.MixPlanTable).orderBy("source")
    }),

    // Cross-engine-checkable MinHash signatures (md5 variant).
    "doc_minhash_sig" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        concat_ws("|", TextDedup.minhashSignatureMd5(TextDedup.shingles(col("text"), 3), 8))
          .as("minhash_sig"))
        .orderBy("doc_id")),

    // Full MinHash-LSH near-dup pipeline (banded candidates + true-
    // Jaccard verify). Oracle is all-pairs DuckDB; parity holds because
    // every qualifying pair in this corpus has j ≥ 0.9, where 16×2
    // banding recall is 1 - (1-j²)¹⁶ ≈ 1 (miss prob ~3e-12).
    "doc_neardup_minhash" -> ((s, dir) =>
      TextDedup.nearDupPairsMinhash(docs(s, dir), numHashes = 32, bands = 16,
        jaccardThreshold = 0.5)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a_id", "b_id")),

    // EXACT n-gram Jaccard pairs via prefix filtering — deterministic
    // recall 1, so the same all-pairs oracle checks it with no
    // banding-probability caveat. Gates the AllPairs/PPJoin-style
    // candidate generator end-to-end.
    "doc_neardup_jaccard" -> ((s, dir) =>
      TextDedup.nearDupPairsJaccard(docs(s, dir), shingleN = 3, threshold = 0.5)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a_id", "b_id")),

    // Asymmetric containment |A∩B|/|A| ≥ 0.5 from the shingle inverted
    // index — ordered pairs, both directions independently thresholded.
    "doc_neardup_containment" -> ((s, dir) =>
      TextDedup.containmentPairs(docs(s, dir), shingleN = 3, threshold = 0.5)
        .select(col("a_id"), col("b_id"), round(col("containment"), 6).as("containment"))
        .orderBy("a_id", "b_id")),

    // Doc-BOUND containment: the pair stream collapses to one row per
    // contained doc (count, max, argmax container — ties → smallest
    // id) inside a map-side-combinable aggregate, so nothing pair-sized
    // is ever output — the 100 TB consumer shape.
    "doc_containment_summary" -> ((s, dir) =>
      TextDedup.containmentSummary(docs(s, dir), shingleN = 3, threshold = 0.5)
        .select(col("doc_id"), col("n_containers"),
          round(col("max_containment"), 6).as("max_containment"), col("top_container"))
        .orderBy("doc_id")),

    // Containment dedup: survivors after dropping every doc ≥0.5-
    // contained in a dominating doc (larger shingle set, ties → smaller
    // id) — dominated-by-ANY semantics, one SQL EXISTS, no closure.
    "doc_dedup_contained" -> ((s, dir) =>
      TextDedup.dedupContained(docs(s, dir), shingleN = 3, threshold = 0.5)
        .select("doc_id").orderBy("doc_id")),

    // Cross-engine-checkable SimHash signatures (md5 variant, emitted
    // as a 64-char bit string MSB-first).
    "doc_simhash_sig" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        lpad(bin(TextDedup.simhash64Md5(col("text"))), 64, "0").as("simhash_bits"))
        .orderBy("doc_id")),

    // Near-dup pairs → connected components: one (doc_id, cluster) row
    // per doc in any qualifying pair, cluster = min id of the
    // component. The DuckDB oracle recomputes the pair set (all-pairs
    // Jaccard) and closes it with a recursive CTE.
    "doc_neardup_clusters" -> ((s, dir) =>
      graft.operators.Components.connectedComponents(
        TextDedup.nearDupPairsMinhash(docs(s, dir), numHashes = 32, bands = 16,
          jaccardThreshold = 0.5))
        .select(col("id").as("doc_id"), col("component").as("cluster_id"))
        .orderBy("doc_id")),

    // Fuzzy dedup end-to-end: the corpus minus every non-canonical
    // near-dup cluster member.
    "doc_dedup_near" -> ((s, dir) =>
      TextDedup.dedupNearMinhash(docs(s, dir).select("doc_id", "text"),
        jaccardThreshold = 0.5)
        .select("doc_id").orderBy("doc_id")),

    // Keep-policy rendition: each cluster survives its LONGEST member
    // (length(text), ties min doc_id) instead of the minimum id.
    "doc_dedup_keep_best" -> ((s, dir) =>
      TextDedup.dedupNearByPriority(docs(s, dir).select("doc_id", "text"),
        length(col("text")), jaccardThreshold = 0.5)
        .select("doc_id").orderBy("doc_id")),

    // Incremental EXACT dedup (content hash vs the stored tier + the
    // in-batch first-occurrence race) — the cheap stage before the
    // near-dup reconcile; same tier/batch split as the incremental
    // fixture, copies planted from tier docs AND doubled in-batch.
    "doc_dedup_exact_incr" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val tier = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250)
        .unionByName(tier.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        .unionByName(d.filter(col("doc_id") >= 250 && col("doc_id") % 7 === 0)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      TextDedup.dedupExactAgainst(tier, batch).select("doc_id").orderBy("doc_id")
    }),

    // Incremental near-dup: a new crawl slice reconciled against the
    // STORED band index of the curated tier (tier never re-banded, never
    // shuffled). Split fixture: tier = doc_id < 250, batch = the rest
    // plus planted copies of tier docs; the oracle is batch-global
    // dedup over tier ∪ batch restricted to batch rows (equivalent
    // because tier ids precede batch ids).
    "doc_neardup_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val tier = d.filter(col("doc_id") < 250)
      val batch = d.filter(col("doc_id") >= 250)
        .unionByName(tier.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      TextDedup.nearDupAgainst(tier, batch, jaccardThreshold = 0.5,
          tierIndex = Some(TextDedup.bandIndex(tier)))
        .select("doc_id").orderBy("doc_id")
    }),

    // The ingest treadmill as a STREAM: slice 1 lands and drains
    // through the checkpointed file source (bootstrap), slice 2 (new
    // ids + planted copies of tier docs) lands and a RESTARTED query
    // on the same checkpoint picks up only the new files — the
    // scheduled-batch deployment shape. Final tier must equal
    // batch-global near-dup dedup over both slices (nearDupAgainst's
    // convergence contract), which the oracle computes all-pairs.
    "stream_doc_ingest" -> ((s, dir) => {
      import graft.pipeline.CurationPipeline
      CurationPipeline.resetTreadmill(s)
      val land = Files.createTempDirectory("graft_doc_land").toString
      val cp = Files.createTempDirectory("graft_doc_cp").toString
      val d = docs(s, dir).select("doc_id", "text")
      val slice1 = d.filter(col("doc_id") < 250)
      val slice2 = d.filter(col("doc_id") >= 250)
        .unionByName(slice1.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      slice1.coalesce(1).write.mode("append").json(land)
      val q1 = CurationPipeline.streamIngest(s, land, cp, jaccardThreshold = 0.5)
      require(q1.awaitTermination(300000), "stream_doc_ingest: slice 1 drain timed out")
      slice2.coalesce(1).write.mode("append").json(land)
      val q2 = CurationPipeline.streamIngest(s, land, cp, jaccardThreshold = 0.5)
      require(q2.awaitTermination(300000), "stream_doc_ingest: slice 2 drain timed out")
      s.table(CurationPipeline.TierTable).select("doc_id").orderBy("doc_id")
    }),

    // SimHash near-dup on the md5 signature: the Spark plan is the
    // chunked-LSH pipeline (pigeonhole bucketing is EXACT for
    // hamming ≤ 3 of 4 chunks, recall 1 by construction), so the
    // all-pairs DuckDB oracle matches it row-for-row. The xxhash64
    // signature stays the production kernel, parity-tested in-suite.
    "doc_neardup_simhash" -> ((s, dir) =>
      TextDedup.nearDupPairsSimhash(docs(s, dir), maxHamming = 3,
        sigFn = TextDedup.simhash64Md5)
        .orderBy("a_id", "b_id")),

    // Exact top-3 cosine neighbors for the probe set (the ANN baseline).
    "emb_top3_exact" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKExact(e, e.filter(col("vec_id") % 50 === 0), 3)
        .select(col("probe_id"), col("rank"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
        .orderBy("probe_id", "rank")
    }),

    // kNN label audit: neighborhood-majority label vs own label
    // (ties -> smallest label), suspects flagged — full all-pairs
    // top-8 replay like the triplet gate.
    "emb_knn_label_audit" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnLabelAudit(Similarity.topKExact(e, e, 8),
          e.select("vec_id", "label"))
        .orderBy("vec_id")
    }),

    // Contrastive triplet mining: hardest positive + hardest negative
    // per anchor from the top-8 candidate graph (exact graph here —
    // full first-principles oracle; the banded knnGraph is the drop-in
    // production provider, the triplet algebra is graph-agnostic).
    "emb_triplet_mining" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.mineTriplets(Similarity.topKExact(e, e, 8),
          e.select("vec_id", "label"))
        .select(col("anchor_id"),
          col("positive_id"), round(col("pos_sim"), 6).as("pos_sim"),
          col("negative_id"), round(col("neg_sim"), 6).as("neg_sim"))
        .orderBy("anchor_id")
    }),

    // Embedding near-dup via sign-LSH buckets + exact cosine verify.
    // Planted identical copies share buckets deterministically, and
    // they are provably the ONLY pairs the all-pairs oracle can emit:
    // the max natural cosine in this corpus is 0.51 (sf0.01) / 0.60
    // (sf0.1), measured — far below the 0.999 threshold, so LSH recall
    // on the qualifying set is exactly 1.
    "emb_neardup_cosine" -> ((s, dir) =>
      Similarity.nearDupPairsCosine(embDupFixture(s, dir), 0.999)
        .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
        .orderBy("a_id", "b_id")),

    // SemDeDup: md5-plane cluster cells, dominated-by-earlier within
    // cell at cosine >= 0.97; oracle replays cell assignment + EXISTS.
    "emb_semdedup" -> ((s, dir) =>
      Similarity.semDedup(embDupFixture(s, dir), tau = 0.97, clusterPlanes = 6)
        .orderBy("vec_id")),

    // Exact vector dedup: one hash-aggregate grouping on the embedding
    // value itself (bit-equality — both engines see the same floats).
    "emb_dedup_exact" -> ((s, dir) =>
      Similarity.dedupExactVectors(embDupFixture(s, dir)).orderBy("vec_id")),

    // Fuzzy embedding dedup: drop every near-identical cluster member
    // but the canonical (min vec_id). Planted copies are the only
    // qualifying pairs (max natural cosine far below 0.999), so the
    // all-pairs + closure oracle matches exactly.
    "emb_dedup_near" -> ((s, dir) =>
      Similarity.dedupNearCosine(embDupFixture(s, dir), 0.999)
        .select("vec_id").orderBy("vec_id")),

    // Incremental embedding near-dup: a batch of new vectors reconciled
    // against the STORED sign-LSH index of the curated tier (tier never
    // re-hashed, never shuffled). Split fixture mirrors
    // doc_neardup_incremental: tier = vec_id < 250, batch = the rest
    // plus planted copies of tier vectors; oracle is batch-global dedup
    // over tier ∪ batch restricted to batch rows.
    "emb_neardup_incremental" -> ((s, dir) => {
      val e = emb(s, dir).select("vec_id", "embedding")
      val tier = e.filter(col("vec_id") < 250)
      val batch = e.filter(col("vec_id") >= 250)
        .unionByName(tier.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      Similarity.nearDupAgainstCosine(tier, batch, 0.999,
          tierIndex = Some(Similarity.vecBandIndex(tier)))
        .select("vec_id").orderBy("vec_id")
    }),

    // The VECTOR ingest treadmill end-to-end: slice 1 bootstraps the
    // tier + band index + PQ index (and freezes the quantizer
    // generation), slice 2 (new ids + planted twins of slice-1 and
    // slice-2 vectors) reconciles against the STORED artifacts — tier
    // never re-hashed, never re-encoded. Final tier must equal
    // batch-global keep-min dedup over the whole fixture (the
    // emb_dedup_near oracle), and the PQ index must cover the tier
    // row-for-row.
    "emb_ingest_incremental" -> ((s, dir) => {
      graft.pipeline.VectorPipeline.resetTreadmill(s)
      val e = emb(s, dir).select("vec_id", "embedding")
      val slice1 = e.filter(col("vec_id") < 250)
      val slice2 = e.filter(col("vec_id") >= 250)
        .unionByName(e.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      // explicit 12-bit gate PQ resolution (treadmill defaults are
      // production m=16/ksub=256 — overkill for a 500-vector fixture)
      val r1 = graft.pipeline.VectorPipeline.ingestBatch(s, slice1, pqM = 4, pqKsub = 8)
      require(r1.ok, s"slice 1 failed: ${r1.stages}")
      val r2 = graft.pipeline.VectorPipeline.ingestBatch(s, slice2, pqM = 4, pqKsub = 8)
      require(r2.ok, s"slice 2 failed: ${r2.stages}")
      val tier = s.table(graft.pipeline.VectorPipeline.TierTable)
      require(s.table(graft.pipeline.VectorPipeline.pqIndexTable(s)).count() == tier.count(),
        "PQ index must cover the tier exactly")
      tier.select("vec_id").orderBy("vec_id")
    }),

    // The VECTOR treadmill as a STREAM: same fixture as
    // emb_ingest_incremental, driven through the checkpointed file
    // source — slice 1 lands and drains (bootstrap + generation
    // freeze), slice 2 lands and a RESTARTED query on the same
    // checkpoint picks up only the new file. Final tier must equal
    // batch-global keep-min cosine dedup over both slices (the
    // nearDupAgainstCosine convergence contract), which the oracle
    // computes all-pairs; the PQ index must cover the tier
    // row-for-row.
    "stream_vec_ingest" -> ((s, dir) => {
      import graft.pipeline.VectorPipeline
      VectorPipeline.resetTreadmill(s)
      val land = Files.createTempDirectory("graft_vec_land").toString
      val cp = Files.createTempDirectory("graft_vec_cp").toString
      val e = emb(s, dir).select("vec_id", "embedding")
      val slice1 = e.filter(col("vec_id") < 250)
      val slice2 = e.filter(col("vec_id") >= 250)
        .unionByName(e.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      slice1.coalesce(1).write.mode("append").json(land)
      val q1 = VectorPipeline.streamIngest(s, land, cp, pqM = 4, pqKsub = 8)
      require(q1.awaitTermination(300000), "stream_vec_ingest: slice 1 drain timed out")
      slice2.coalesce(1).write.mode("append").json(land)
      val q2 = VectorPipeline.streamIngest(s, land, cp, pqM = 4, pqKsub = 8)
      require(q2.awaitTermination(300000), "stream_vec_ingest: slice 2 drain timed out")
      val tier = s.table(VectorPipeline.TierTable)
      require(s.table(VectorPipeline.pqIndexTable(s)).count() == tier.count(),
        "PQ index must cover the tier exactly")
      tier.select("vec_id").orderBy("vec_id")
    }),

    // GENERATION ROLLOVER end-to-end: treadmill over two slices (no
    // planted twins — the tier is provably the whole corpus, max
    // natural cosine far below 0.999), then regenerate retrains on a
    // 70% hash-sample, re-encodes the tier into generation 2, and
    // flips the pointer atomically. The serve read
    // (VectorPipeline.queryTopK — generation-consistent stored
    // IVF-PQ + exact refine) then answers twin probes: each probe's
    // identical twin shares its argmax cell under ANY centroid set, so
    // refined rank-1 MUST equal brute-force exact rank-1 — which
    // DuckDB computes from first principles, exact sims included.
    "emb_pq_regenerate" -> ((s, dir) => {
      import graft.pipeline.VectorPipeline
      VectorPipeline.resetTreadmill(s)
      val e = emb(s, dir).select("vec_id", "embedding")
      val r1 = VectorPipeline.ingestBatch(s, e.filter(col("vec_id") < 250), pqM = 4, pqKsub = 8)
      require(r1.ok, s"slice 1 failed: ${r1.stages}")
      val r2 = VectorPipeline.ingestBatch(s, e.filter(col("vec_id") >= 250), pqM = 4, pqKsub = 8)
      require(r2.ok, s"slice 2 failed: ${r2.stages}")
      val rg = VectorPipeline.regenerate(s, coarseK = 12, pqM = 4, pqKsub = 8,
        sampleFraction = 0.7)
      require(rg.ok, s"regenerate failed: ${rg.stages}")
      require(VectorPipeline.currentGeneration(s) == 2L, "pointer must flip to generation 2")
      require(rg.metrics("tier_encoded") == s.table(VectorPipeline.TierTable).count(),
        "generation 2 must cover the tier row-for-row")
      val probes = e.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
      VectorPipeline.queryTopK(s, probes, k = 1, nprobe = 2, refine = Some(8))
        .select(col("probe_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
        .orderBy("probe_id")
    }),

    // ANN path: LSH-bucketed top-3 on md5-derived hyperplanes — the
    // ENTIRE approximate path (bucket assignment, candidate join,
    // ranking) is replicated in the DuckDB oracle, so this is a full
    // cross-engine check, not a rows-only smoke. The xxhash64 planes
    // stay the production kernel (recall characterized in
    // SimilaritySpec against the exact baseline).
    "emb_topk_lsh" -> ((s, dir) => {
      val planted = embDupFixture(s, dir)
      val dim = planted.filter(col("embedding").isNotNull)
        .select(size(col("embedding"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
      Similarity.topKLsh(planted, planted.filter(col("vec_id") >= 100000), 3, planes = 8,
        bucketOf = Similarity.lshBucketMd5(_, 8, dim))
        .select(col("probe_id"), col("rank"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
        .orderBy("probe_id", "rank")
    }),

    // ANN banded path: THE plan that runs at 100× — bands·2^r bucket
    // keys, driver-side literal plane matrix, one native dot per sign
    // bit, pair-dedup before scoring — under the same full cross-engine
    // oracle as emb_topk_lsh (which stays as the single-table twin).
    "emb_topk_lsh_banded" -> ((s, dir) => {
      val planted = embDupFixture(s, dir)
      Similarity.topKLshBanded(planted, planted.filter(col("vec_id") >= 100000), 3,
        bands = 4, planesPerBand = 8, md5Derived = true)
        .select(col("probe_id"), col("rank"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
        .orderBy("probe_id", "rank")
    }),

    // Corpus-wide kNN GRAPH (every vector a probe): the banded index
    // self-joins on (band, bucket) with capped buckets — no broadcast
    // of a probe side, no all-pairs. md5-derived planes keep the
    // oracle's candidate set bit-identical.
    "emb_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(emb(s, dir), k = 3, bands = 4, planesPerBand = 8,
          md5Derived = true, maxBucketSize = 64)
        .select(col("src_id"), col("rank"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
        .orderBy("src_id", "rank")),

    // Mutual-kNN sparsification of the same graph: reciprocal top-3
    // edges only (one checkpointed graph serves both directions).
    "emb_mutual_knn" -> ((s, dir) =>
      Similarity.mutualKnn(emb(s, dir), k = 3, bands = 4, planesPerBand = 8,
          md5Derived = true, maxBucketSize = 64)
        .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim"))
        .orderBy("a_id", "b_id")),

    // Graph COVERAGE: per-anchor degree over the full corpus, degree-0
    // anchors included — the observability row for the graph's bucket
    // cap (a vector whose every bucket is hot or singleton has NO graph
    // rows; this query is where that becomes a number instead of an
    // absence). Oracle replays the banded candidate generation and
    // right-joins back to all ids.
    "emb_knn_coverage" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnCoverage(e,
          Similarity.knnGraph(e, k = 3, bands = 4, planesPerBand = 8,
            md5Derived = true, maxBucketSize = 64))
        .orderBy("vec_id")
    }),

    // kNN graph FROM THE STORED PQ TIER: the index self-joins on its
    // coarse cell and pairs score in the compressed domain — no float
    // vector anywhere in the plan (the 100 TB answer to the LSH
    // graph's hot-bucket cost: the scan is m codes + 2 scalars per
    // row). md5 cells + md5 books so the oracle replays cell
    // assignment, encode, reconstruction, scoring, and the [2, 64]
    // cell cap from first principles.
    "emb_knn_graph_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val dim = e.filter(col("embedding").isNotNull)
        .select(size(col("embedding"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
      val books = Similarity.pqBooksMd5(4, 8, dim / 4)
      val idx = Similarity.pqIndexBy(e, Similarity.lshBucketMd5(_, 6, dim), books)
      Similarity.knnGraphPq(idx, books, k = 3, maxCellSize = 64)
        .select(col("src_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("src_id", "rank")
    }),

    // The PQ graph's EXACT re-rank tail: the compressed domain
    // (emb_knn_graph_pq's exact replayed machinery) proposes top-8
    // candidates per anchor, floats join back ONLY for those pairs,
    // and the top-3 re-rank returns TRUE cosines — the full oracle
    // replays the md5 cells, encode, PQ ranking, the refine cut, and
    // the exact re-rank, so the gate compares exact sims full-value
    // (which the PQ-only graph cannot).
    "emb_knn_graph_pq_refine" -> ((s, dir) => {
      val e = emb(s, dir)
      val dim = e.filter(col("embedding").isNotNull)
        .select(size(col("embedding"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
      val books = Similarity.pqBooksMd5(4, 8, dim / 4)
      val idx = Similarity.pqIndexBy(e, Similarity.lshBucketMd5(_, 6, dim), books)
      Similarity.knnGraphPqRefine(idx, e, books, k = 3, refine = 8, maxCellSize = 64)
        .select(col("src_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("src_id", "rank")
    }),

    // CROSS-CELL PQ graph (nprobe > 1): anchors probe their assigned
    // cell PLUS their top recon-ranked cells, with trained k-means
    // cells and trained codebooks — the production shape. Gated on the
    // twin invariant (the emb_topk_ivf style): a planted anchor's
    // identical twin shares its assigned cell under ANY quantizer, so
    // it is ALWAYS proposed, and the exact re-rank tail must put it at
    // rank 1 with sim 1 — which DuckDB computes from first principles
    // over the fixture. Output restricted to the planted anchors
    // (natural anchors' neighbors are quantizer artifacts).
    "emb_knn_graph_pq_probed" -> ((s, dir) => {
      val planted = embDupFixture(s, dir)
      val cents = Similarity.trainCentroids(planted, k = 8, iters = 2)
      val books = Similarity.trainPqBooks(planted, m = 4, ksub = 8, iters = 2)
      val idx = Similarity.pqIndex(planted, cents, books)
      val cand = Similarity.knnGraphPqProbed(idx, cents, books, k = 8, nprobe = 2,
        maxCellSize = 4096)
      Similarity.graphRefineExact(cand, planted, k = 1)
        .filter(col("src_id") >= 100000)
        .select(col("src_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
        .orderBy("src_id")
    }),

    // ANN path #2: IVF with a k-means-lite coarse quantizer, gated on
    // the provable recall property: each planted probe's identical twin
    // shares its argmax centroid (identical vector), so IVF rank-1 MUST
    // equal brute-force exact rank-1 — which DuckDB computes from first
    // principles over the fixture. Full top-3 recall is characterized
    // in SimilaritySpec.
    "emb_topk_ivf" -> ((s, dir) => {
      val planted = embDupFixture(s, dir)
      val cents = Similarity.trainCentroids(planted, k = 8, iters = 2)
      Similarity.topKIvf(planted, planted.filter(col("vec_id") >= 100000), 3, cents, nprobe = 2)
        .filter(col("rank") === 1)
        .select(col("probe_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
        .orderBy("probe_id")
    }),

    // SemDeDup over REAL k-means cells (closing the md5-cell stand-in
    // gap). Gated on the twin invariant, same style as emb_topk_ivf:
    // on this fixture every cosine-≥tau pair is an identical twin
    // (verified: max non-twin cosine < 0.9), identical vectors share
    // any pure-function cluster, so within-cell dominance equals
    // GLOBAL dominance — which DuckDB computes from first principles.
    // Cluster ids are k-means artifacts and are excluded (the md5 twin
    // emb_semdedup gates cell shape).
    "emb_semdedup_kmeans" -> ((s, dir) =>
      Similarity.semDedupKmeans(embDupFixture(s, dir), tau = 0.97, k = 8, iters = 2)
        .select(col("vec_id"), col("kept"))
        .orderBy("vec_id")),

    // Class prototypes: per-(label, dim) mean embedding. The sums are
    // exact DECIMAL (order-free — a double sum under partial
    // aggregation isn't even reproducible run-to-run); one double
    // divide at the end.
    "emb_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(emb(s, dir))
        .select(col("label"), col("dim"),
          round(col("centroid_v"), 6).as("centroid_v"))
        .orderBy("label", "dim")),

    // Int8 scalar quantization: exact double arithmetic end-to-end, so
    // the per-element codes hash-compare against the SQL replay. Codes
    // ship as a comma-joined string — the gate comparator sorts/hashes
    // scalars, and a raw array column is unhashable on the pandas side.
    "emb_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(emb(s, dir))
        .select(col("vec_id"), col("v_min"), col("v_max"),
          array_join(col("codes").cast("array<string>"), ",").as("codes"))
        .orderBy("vec_id")),

    // Top-3 cosine in the quantized domain (integer dot + O(1) scale
    // correction — deterministic, full-value oracle, same probe set as
    // the float baseline for side-by-side comparison).
    "emb_topk_quantized" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKQuantized(e, e.filter(col("vec_id") % 50 === 0), 3)
        .select(col("probe_id"), col("rank"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
        .orderBy("probe_id", "rank")
    }),

    // Product-quantization encode (Jégou et al. 2011): int8-quantize,
    // then per-subspace argmin-L2 against md5-derived integer
    // codebooks. Pure integer distances + first-minimum tie-break, so
    // DuckDB rebuilds the codebooks AND the assignment from first
    // principles — a full cross-engine check of the m-bytes-per-vector
    // index tier. m=4 subspaces × ksub=8 centroids over dim 64.
    "emb_pq_codes" -> ((s, dir) =>
      Similarity.pqEncode(emb(s, dir), Similarity.pqBooksMd5(4, 8, 16))
        .select(col("vec_id"), col("v_min"), col("v_max"),
          array_join(col("pq_codes").cast("array<string>"), ",").as("pq_codes"))
        .orderBy("vec_id")),

    // Exhaustive top-3 in the PQ-compressed domain: symmetric-distance
    // cosine over both sides' reconstructions, the topKQuantized affine
    // algebra with PQ recon codes — every Σ an exact integer sum, so
    // the whole path (codebooks, assignment, reconstruction, scores,
    // ranking) replays bit-for-bit in the oracle.
    "emb_topk_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.topKPq(e, e.filter(col("vec_id") % 50 === 0), 3,
          Similarity.pqBooksMd5(4, 8, 16))
        .select(col("probe_id"), col("rank"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
        .orderBy("probe_id", "rank")
    }),

    // IVF-PQ + EXACT re-rank (ADC+refine): the compressed domain
    // proposes 16 candidates, floats re-score only those — so unlike
    // the PQ-only gate the sim column is exact and compared full-value
    // against brute force (same oracle shape as emb_topk_ivf).
    "emb_topk_ivfpq_refine" -> ((s, dir) => {
      val planted = embDupFixture(s, dir).localCheckpoint(true)
      val cents = Similarity.trainCentroids(planted, k = 8, iters = 2)
      val books = Similarity.trainPqBooks(planted, m = 4, ksub = 8, iters = 2)
      Similarity.topKIvfPqRefine(planted, planted.filter(col("vec_id") >= 100000), 3,
          cents, books, nprobe = 2, refine = 16)
        .filter(col("rank") === 1)
        .select(col("probe_id"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
        .orderBy("probe_id")
    }),

    // IVF-PQ (IVFADC shape) twin-recall gate: TRAINED coarse centroids
    // and TRAINED codebooks — the quality path, not the md5 stand-in.
    // Each probe's identical twin shares its argmax cell (pure
    // function of the vector) and reconstructs identically, so its
    // symmetric-distance sim is the Cauchy-Schwarz maximum and IVF-PQ
    // rank-1 MUST equal exact brute-force rank-1 — which DuckDB
    // computes from first principles over raw floats. sim is excluded
    // (PQ sims are approximate by design; recall is the contract).
    "emb_topk_ivfpq" -> ((s, dir) => {
      // three consumers (centroid trainer, book trainer, the query
      // itself) each fire multiple jobs — pin the fixture once
      val planted = embDupFixture(s, dir).localCheckpoint(true)
      val cents = Similarity.trainCentroids(planted, k = 8, iters = 2)
      val books = Similarity.trainPqBooks(planted, m = 4, ksub = 8, iters = 2)
      Similarity.topKIvfPq(planted, planted.filter(col("vec_id") >= 100000), 3,
          cents, books, nprobe = 2)
        .filter(col("rank") === 1)
        .select(col("probe_id"), col("neighbor_id"))
        .orderBy("probe_id")
    }),

    // STORED IVF-PQ tier — the production read shape: the index
    // (vec_id, cell, v_min, v_max, pq_codes) persists as a catalog
    // table, the new batch (the planted twins) APPEND-encodes without
    // touching the base corpus (pqIndex is row-local, so
    // index(base) ∪ index(batch) ≡ index(base ∪ batch)), and the query
    // reads codes + two scalars from the table — no float corpus and
    // no re-encode anywhere in the read plan. Same twin-recall oracle
    // as emb_topk_ivfpq (training on the base tier only; the twin
    // invariant is training-independent).
    "emb_topk_ivfpq_stored" -> ((s, dir) => {
      val base = emb(s, dir).select("vec_id", "embedding").localCheckpoint(true)
      val cents = Similarity.trainCentroids(base, k = 8, iters = 2)
      val books = Similarity.trainPqBooks(base, m = 4, ksub = 8, iters = 2)
      val tbl = "emb_pq_index"
      graft.plans.Catalog.dropIfExists(s, tbl)
      graft.plans.Catalog.overwriteTable(Similarity.pqIndex(base, cents, books), tbl)
      val batch = base.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      graft.plans.Catalog.insertAppend(s, tbl, Similarity.pqIndex(batch, cents, books))
      Similarity.topKIvfPqStored(s.table(tbl), batch, 3, cents, books, nprobe = 2)
        .filter(col("rank") === 1)
        .select(col("probe_id"), col("neighbor_id"))
        .orderBy("probe_id")
    })
  )

  // ---------------------------------------------------------------
  // Corpus-curation surface: decontamination, deterministic sampling,
  // cardinality sketching, PII redaction, quality gating, keyword
  // extraction (graft.operators.Curation).
  // ---------------------------------------------------------------

  /** Documents with deterministic synthetic PII appended (the source
    * corpus carries none): one email and one 555-phone per doc. */
  private def piiFixture(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      concat(col("text"), lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com or call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(".")).as("text"))

  private val curationQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Benchmark decontamination: the corpus minus every doc sharing a
    // word 8-gram with the "benchmark" (prefix snippets of the %50
    // docs — those docs and their near-dups are contaminated by
    // construction: 11 hits at sf0.01, 110 at sf0.1).
    "doc_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val bench = d.filter(col("doc_id") % 50 === 0)
        .select(substring(col("text"), 1, 200).as("text"))
      Curation.decontaminate(d, bench, n = 8).select("doc_id").orderBy("doc_id")
    }),

    // Bloom-sketch rendition of the same contract: benchmark grams fold
    // into a Catalyst BloomFilterAggregate sketch shipped as a plan
    // literal; corpus pass 1 is a scan-local might_contain filter; the
    // exact gram join re-verifies only the suspects — so the oracle is
    // the exact decontaminate's, false positives notwithstanding.
    "doc_decontaminate_bloom" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val bench = d.filter(col("doc_id") % 50 === 0)
        .select(substring(col("text"), 1, 200).as("text"))
      Curation.decontaminateBloom(d, bench, n = 8).select("doc_id").orderBy("doc_id")
    }),

    // Graded contamination: per-doc benchmark 8-gram overlap fraction +
    // the soft keep decision (drop only docs past 5% overlap — a shared
    // stock phrase alone must not kill a doc at 100 TB).
    "doc_contamination" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      val bench = d.filter(col("doc_id") % 50 === 0)
        .select(substring(col("text"), 1, 200).as("text"))
      Curation.contaminationProfile(d, bench, n = 8)
        .withColumn("keep", col("overlap_frac") <= 0.05)
        .orderBy("doc_id")
    }),

    // Deterministic Bernoulli sample: keep ids hashing under 10% of the
    // u32 space — reproducible across engines/runs, no rand().
    "doc_sample_hash" -> ((s, dir) =>
      Curation.sampleByHash(docs(s, dir), 0.1).select("doc_id").orderBy("doc_id")),

    // Token-budget "epoch mix" sampling: per source, fill 20% of the
    // source's token mass in deterministic id-hash order.
    "doc_sample_budget" -> ((s, dir) =>
      Curation.sampleByTokenBudget(docs(s, dir).select("doc_id", "source", "text"),
          "source", 0.2)
        .select("doc_id", "source").orderBy("source", "doc_id")),

    // Exact per-stratum proportions: within each source lang, the 20%
    // of docs with the smallest id hashes.
    "doc_sample_stratified" -> ((s, dir) =>
      Curation.sampleStratified(docs(s, dir).select("doc_id", "lang"), "lang", 0.2)
        .orderBy("lang", "doc_id")),

    // KMV distinct-cardinality sketch of normalized doc content over
    // the dup fixture (estimate rides beside the exact count).
    "doc_distinct_kmv" -> ((s, dir) =>
      Curation.kmvDistinct(docDupFixture(s, dir),
        TextDedup.normalize(col("text")), k = 64)),

    // PII scrub: emails/phones replaced by typed tokens; compare the
    // md5 of the redacted text (byte-identical redaction) + counts.
    "doc_redact_pii" -> ((s, dir) =>
      Curation.redactPii(piiFixture(s, dir))
        .select(col("doc_id"), col("email_count"), col("phone_count"),
          md5(col("redacted")).as("redacted_hash"))
        .orderBy("doc_id")),

    // Gopher-style quality gate: keep flag + first failing rule.
    "doc_quality_filter" -> ((s, dir) =>
      Curation.qualityFilter(docs(s, dir)).orderBy("doc_id")),

    // Leakage-safe n-way split assignment (id-hash bucket ranges).
    "doc_split_assign" -> ((s, dir) =>
      Curation.splitAssign(docs(s, dir),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")),

    // Split assignment leakage-safe against NEAR-DUPS: the split key is
    // the near-dup family representative (min id of the connected
    // component), so a paraphrase family can never straddle train/test.
    // Banding recall = the doc_dedup_near argument (qualifying pairs
    // all have j >= 0.9); oracle replays all-pairs + recursive-CTE
    // components + the same md5-bucket split on the representative.
    "doc_split_leakage_safe" -> ((s, dir) => {
      val d = docs(s, dir).select("doc_id", "text")
      Curation.splitAssignByFamily(d,
          TextDedup.nearDupPairsMinhash(d, numHashes = 32, bands = 16,
            jaccardThreshold = 0.5),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "family_rep", "split").orderBy("doc_id")
    }),

    // Model-based quality gate: hashed-bag-of-words linear classifier
    // (deterministic stand-in model; integer milli-weight sums so the
    // logit is order-free and engine-exact).
    "doc_classifier_score" -> ((s, dir) =>
      Curation.classifierScore(docs(s, dir), Curation.hashedModel(s, 4096), dim = 4096)
        .orderBy("doc_id")),

    // Soft quality sampling: per-doc keep probability = squashed
    // classifier score, decided by the id-hash vs floor(rate*2^32).
    "doc_sample_quality_weighted" -> ((s, dir) =>
      Curation.sampleByQuality(docs(s, dir), Curation.hashedModel(s, 4096), dim = 4096)
        .orderBy("doc_id")),

    // Rational-idf TF-IDF: top-3 terms per document.
    "doc_tfidf_top_terms" -> ((s, dir) =>
      Curation.tfidfTopTerms(docs(s, dir), topK = 3).orderBy("doc_id", "rank")),

    // Gopher-style repetition profile: repeated-token/-trigram and
    // top-token fractions per doc.
    "doc_repetition" -> ((s, dir) =>
      Curation.repetitionStats(docs(s, dir)).orderBy("doc_id")),

    // Corpus composition: per-source doc/token counts + exact token-
    // share sampling weight.
    "doc_source_mix" -> ((s, dir) =>
      Curation.sourceMix(docs(s, dir)).orderBy("source")),

    // Temperature-flattened sampling weights (alpha = 0.5 -> sqrt,
    // correctly rounded on both engines; normalizer is a source-sorted
    // sequential fold, so every double is order-pinned).
    "doc_source_temperature" -> ((s, dir) =>
      Curation.temperatureWeights(docs(s, dir)).orderBy("source")),

    // The actionable epoch plan on top of the temperature weights:
    // per-source target tokens for a 1M-token epoch + repeat factor
    // (>1 upsample-with-repetition, <1 subsample).
    "doc_epoch_plan" -> ((s, dir) =>
      Curation.epochPlan(docs(s, dir), budgetTokens = 1000000L).orderBy("source")),

    // The plan MATERIALIZED into the actual epoch stream: per source,
    // ⌊target/token_sum⌋ integer passes + a fractional fill in
    // (id-hash, id) order (boundary doc kept), every emitted copy
    // shuffled to a dense global position on md5(seed:doc#copy). The
    // oracle replays targets, fill order, repeat expansion, and
    // shuffle rank from first principles.
    "doc_epoch_materialize" -> ((s, dir) =>
      Curation.epochMaterialize(docs(s, dir), budgetTokens = 1000000L, seed = 42L)
        .orderBy("position")),

    // ...and the epoch packed into training sequences in SHUFFLED
    // position order — the last step of the plan → epoch → batches
    // chain (two-level prefix sum over the dense positions, never a
    // global window).
    "doc_epoch_pack" -> ((s, dir) =>
      Curation.packEpoch(
        Curation.epochMaterialize(docs(s, dir), budgetTokens = 1000000L, seed = 42L),
        seqLen = 2048)
        .orderBy("position")),

    // Concat-then-slice training batch assembly: global token offsets
    // via the two-level prefix sum (never a global window).
    "doc_pack_sequences" -> ((s, dir) =>
      Curation.packSequences(docs(s, dir), seqLen = 2048).orderBy("doc_id")),

    // Per-sequence slices (the training-batch assembly contract): docs
    // straddling a 2048-token boundary emit one segment per sequence.
    "doc_pack_segments" -> ((s, dir) =>
      Curation.packSegments(docs(s, dir), seqLen = 2048).orderBy("seq_no", "doc_id")),

    // Edit-distance near-dup: prefix-blocked (capped) candidates,
    // exact Levenshtein ≤ 2 over the 120-char slice.
    "doc_neardup_levenshtein" -> ((s, dir) =>
      TextDedup.nearDupPairsLevenshtein(docs(s, dir))
        .orderBy("a", "b")),

    // Per-source duplication dashboard: exact distinct via the slim
    // (source, hash) two-level aggregate; rate = one double division.
    "doc_dup_profile" -> ((s, dir) =>
      TextDedup.dupProfile(docs(s, dir)).orderBy("source")),

    // RAG/context-window chunking: 200-char windows every 150 chars
    // (50 overlap), row-local explode. Chunk text compared by md5.
    "doc_chunk_overlap" -> ((s, dir) =>
      Curation.chunkByChars(docs(s, dir), chunkLen = 200, overlap = 50)
        .select(col("doc_id"), col("chunk_no"), col("chunk_start"),
          col("chunk_len").cast("long").as("chunk_len"),
          md5(col("chunk_text")).as("chunk_hash"))
        .orderBy("doc_id", "chunk_no")),

    // Deterministic epoch shuffle: seeded global training order via the
    // hash-prefix two-level rank (never a global window).
    "doc_shuffle_epoch" -> ((s, dir) =>
      Curation.globalShuffle(docs(s, dir).select("doc_id"), seed = 7L)
        .select("position", "doc_id").orderBy("position")),

    // Vocabulary building: corpus top-50 tokens, ties on the term.
    "doc_vocab_topk" -> ((s, dir) =>
      Curation.vocabTopK(docs(s, dir), topK = 50)
        .orderBy(col("term_count").desc, col("term"))),

    // n-gram LM counts: corpus top-50 bigrams, built row-locally from
    // the token array (no positions join).
    "doc_bigram_topk" -> ((s, dir) =>
      Curation.ngramTopK(docs(s, dir), n = 2, topK = 50)
        .orderBy(col("gram_count").desc, col("gram"))),

    // the BUDGET-WEIGHTED manifest operator in isolation: two streams
    // with arithmetic-friendly token counts; the text budget buys 2
    // full passes plus a half-stream hash-order fill, the multimodal
    // budget a third-stream fill only — the oracle replays the plan
    // arithmetic, the (id-hash, id) fill cut with the boundary
    // sequence included, the copy expansion, and the md5-rank shuffle
    // of every emitted copy
    "doc_train_order_budgeted" -> ((s, dir) => {
      val d = docs(s, dir)
      val text = d.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("seq_no"),
          (lit(10L) + col("doc_id") % 7).cast("long").as("n_tokens"))
      val mm = d.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("seq_no"),
          (lit(5L) + col("doc_id") % 11).cast("long").as("n_tokens"))
      // exact integer sums drive the budgets so the oracle can
      // re-derive them from the data at any scale factor
      val ta = text.agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
      val tb = mm.agg(coalesce(sum("n_tokens"), lit(0L))).head().getLong(0)
      Curation.trainOrderBudgeted(
          Seq("text" -> text, "multimodal" -> mm),
          Map("text" -> (2L * ta + ta / 2L), "multimodal" -> (tb / 3L)))
        .orderBy("position")
    }),

    // Unigram-LM quality signal: mean corpus frequency of each doc's
    // tokens (BIGINT sums; the mean is the single double op).
    // CCNet-style head/middle/tail per language by LM-score percentile
    // cutoffs (broadcast 2-value list per language, no per-language sort).
    "doc_ccnet_buckets" -> ((s, dir) =>
      Curation.ccnetBuckets(docs(s, dir)).orderBy("doc_id")),

    "doc_lm_score" -> ((s, dir) =>
      Curation.lmScore(docs(s, dir))
        .orderBy("doc_id")),

    // Fixed-size per-stratum sample: 10 smallest id hashes per source
    // (strata are 25 docs at sf0.01 — the cap binds at every SF).
    "doc_sample_k_per_source" -> ((s, dir) =>
      Curation.sampleKPerGroup(docs(s, dir).select("doc_id", "source"), "source", k = 10)
        .orderBy("source", "doc_id")),

    // Per-source KMV distinct-content sketch, k=16 (< stratum size at
    // every SF, so the estimate branch — not the exact fallback — is
    // what the oracle checks).
    "doc_distinct_kmv_by_source" -> ((s, dir) =>
      Curation.kmvDistinctByGroup(docs(s, dir), "source",
        TextDedup.normalize(col("text")), k = 16).orderBy("source"))
  )

  // DuckDB mirrors of the curation queries. The 8-gram derivation and
  // the raw punct/stopword ratios reuse the exact expression shapes the
  // doc_stats oracle already proves bit-identical.
  private val gram8 =
    """CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
      |     ELSE list_distinct(list_transform(range(1, len(toks)-6),
      |                        i -> array_to_string(toks[i:i+7], ' '))) END""".stripMargin

  // lazy: reuses docTokens/statsEn, declared further down the object —
  // a strict val here would capture them as null at init order
  private lazy val curationOracles: Map[String, String] = Map(
    "doc_decontaminate" ->
      s"""WITH sh AS (
         |  SELECT doc_id, $gram8 AS s
         |  FROM (SELECT doc_id,
         |               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |        FROM documents)),
         |bsh AS (
         |  SELECT $gram8 AS s
         |  FROM (SELECT string_split(lower(trim(regexp_replace(substr(text, 1, 200), '\\s+', ' ', 'g'))), ' ') AS toks
         |        FROM documents WHERE doc_id % 50 = 0)),
         |bg AS (SELECT DISTINCT unnest(s) AS gram FROM bsh),
         |cg AS (SELECT doc_id, unnest(s) AS gram FROM sh),
         |cont AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram))
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cont) ORDER BY doc_id""".stripMargin,

    // The Bloom prefilter is exact after the verify pass, so the oracle
    // is the same SQL as doc_decontaminate's.
    "doc_decontaminate_bloom" ->
      s"""WITH sh AS (
         |  SELECT doc_id, $gram8 AS s
         |  FROM (SELECT doc_id,
         |               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |        FROM documents)),
         |bsh AS (
         |  SELECT $gram8 AS s
         |  FROM (SELECT string_split(lower(trim(regexp_replace(substr(text, 1, 200), '\\s+', ' ', 'g'))), ' ') AS toks
         |        FROM documents WHERE doc_id % 50 = 0)),
         |bg AS (SELECT DISTINCT unnest(s) AS gram FROM bsh),
         |cg AS (SELECT doc_id, unnest(s) AS gram FROM sh),
         |cont AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram))
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cont) ORDER BY doc_id""".stripMargin,

    "doc_contamination" ->
      s"""WITH sh AS (
         |  SELECT doc_id, $gram8 AS s
         |  FROM (SELECT doc_id,
         |               string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
         |        FROM documents)),
         |bsh AS (
         |  SELECT $gram8 AS s
         |  FROM (SELECT string_split(lower(trim(regexp_replace(substr(text, 1, 200), '\\s+', ' ', 'g'))), ' ') AS toks
         |        FROM documents WHERE doc_id % 50 = 0)),
         |bg AS (SELECT DISTINCT unnest(s) AS gram FROM bsh),
         |cg AS (SELECT doc_id, unnest(s) AS gram FROM sh),
         |tot AS (SELECT doc_id, count(*) AS total_grams FROM cg GROUP BY 1),
         |hit AS (SELECT doc_id, count(*) AS hit_grams FROM cg JOIN bg USING (gram) GROUP BY 1)
         |SELECT doc_id, total_grams,
         |       CAST(coalesce(hit_grams, 0) AS BIGINT) AS hit_grams,
         |       CAST(ROUND(coalesce(hit_grams, 0)::DOUBLE / total_grams, 6) AS DOUBLE) AS overlap_frac,
         |       ROUND(coalesce(hit_grams, 0)::DOUBLE / total_grams, 6) <= 0.05 AS keep
         |FROM tot LEFT JOIN hit USING (doc_id) ORDER BY doc_id""".stripMargin,

    "doc_sample_hash" ->
      """SELECT doc_id FROM documents
        |WHERE CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) < 429496729
        |ORDER BY doc_id""".stripMargin,

    "doc_sample_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS tc,
        |         CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, tc,
        |         coalesce(sum(tc) OVER (PARTITION BY source ORDER BY h, doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before,
        |         sum(tc) OVER (PARTITION BY source) AS total
        |  FROM t)
        |SELECT doc_id, source FROM c
        |WHERE before < total::DOUBLE * 0.2
        |ORDER BY source, doc_id""".stripMargin,

    "doc_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |QUALIFY row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT), doc_id)
        |  <= ceil(count(*) OVER (PARTITION BY lang) * 0.2)
        |ORDER BY lang, doc_id""".stripMargin,

    "doc_distinct_kmv" ->
      """WITH fixture AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0),
        |h AS (
        |  SELECT DISTINCT
        |    CAST(CAST('0x' || substr(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 8) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS hv
        |  FROM fixture),
        |kk AS (SELECT hv FROM h ORDER BY hv LIMIT 64)
        |SELECT 64::BIGINT AS k,
        |       CAST(ROUND(CASE WHEN (SELECT count(*) FROM kk) < 64
        |                       THEN (SELECT count(*) FROM kk)::DOUBLE
        |                       ELSE 63.0 / (SELECT max(hv) FROM kk) END, 6) AS DOUBLE) AS kmv_estimate,
        |       (SELECT count(DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) FROM fixture)
        |         AS exact_distinct""".stripMargin,

    "doc_redact_pii" -> {
      val em = graft.operators.Curation.EmailPattern
      val ph = graft.operators.Curation.PhonePattern
      s"""WITH withpii AS (
         |  SELECT doc_id,
         |         text || ' Contact user' || doc_id || '@example.com or call 555-'
         |              || lpad((doc_id % 10000)::VARCHAR, 4, '0') || '.' AS t
         |  FROM documents)
         |SELECT doc_id,
         |       len(regexp_extract_all(t, '$em')) AS email_count,
         |       len(regexp_extract_all(regexp_replace(t, '$em', '<EMAIL>', 'g'), '$ph'))
         |         AS phone_count,
         |       md5(regexp_replace(regexp_replace(t, '$em', '<EMAIL>', 'g'),
         |                          '$ph', '<PHONE>', 'g')) AS redacted_hash
         |FROM withpii ORDER BY doc_id""".stripMargin
    },

    "doc_quality_filter" ->
      s"""WITH t AS ($docTokens),
         |h AS (
         |  SELECT doc_id, toks,
         |       length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
         |         / greatest(length(text), 1) AS punct_raw,
         |       len(list_filter(toks, w -> list_contains($statsEn, w)))::DOUBLE
         |         / greatest(len(toks), 1) AS stop_raw
         |  FROM t),
         |r AS (
         |  SELECT doc_id,
         |         CASE WHEN len(toks) < 25 THEN 'too_short'
         |              WHEN len(toks) > 20000 THEN 'too_long'
         |              WHEN punct_raw > 0.25 THEN 'high_punct'
         |              WHEN stop_raw < 0.02 THEN 'low_stopword' END AS drop_reason
         |  FROM h)
         |SELECT doc_id, drop_reason IS NULL AS keep, drop_reason
         |FROM r ORDER BY doc_id""".stripMargin,

    // Cutoffs computed by the SAME floor arithmetic as splitAssign, so
    // the interpolated literals cannot drift from the operator.
    "doc_split_assign" -> {
      val c1 = math.floor(0.8 * 4294967296.0).toLong
      val c2 = math.floor((0.8 + 0.1) * 4294967296.0).toLong
      s"""SELECT doc_id,
         |       CASE WHEN h < $c1 THEN 'train'
         |            WHEN h < $c2 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |             CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT) AS h
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    // Family-keyed split: all-pairs 0.5-jaccard edges → recursive-CTE
    // min-label components → the SAME md5-bucket split, hashed on the
    // family representative instead of the doc id.
    "doc_split_leakage_safe" -> {
      val c1 = math.floor(0.8 * 4294967296.0).toLong
      val c2 = math.floor((0.8 + 0.1) * 4294967296.0).toLong
      s"""WITH RECURSIVE sh AS ($docShingles),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sh a, sh b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE
         |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (
         |  SELECT id, MIN(lbl) AS rep FROM (
         |    SELECT src AS id, dst AS lbl FROM reach
         |    UNION SELECT src, src FROM edges)
         |  GROUP BY 1),
         |fam AS (
         |  SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS family_rep
         |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id)
         |SELECT doc_id, family_rep,
         |       CASE WHEN h < $c1 THEN 'train'
         |            WHEN h < $c2 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, family_rep,
         |             CAST('0x' || substr(md5(family_rep::VARCHAR), 1, 8) AS BIGINT) AS h
         |      FROM fam)
         |ORDER BY doc_id""".stripMargin
    },

    // Integer milli-weight replay of the hashed linear classifier; the
    // only floating-point op is the final division, identical IEEE in
    // both engines. Sums cast from DuckDB HUGEINT back to BIGINT.
    "doc_classifier_score" ->
      """WITH w AS (
        |  SELECT b AS bucket,
        |         CAST('0x' || substr(md5(b::VARCHAR), 1, 8) AS BIGINT) % 2001 - 1000 AS w_milli
        |  FROM (SELECT unnest(range(0, 4096)) AS b)),
        |toks AS (
        |  SELECT doc_id,
        |         unnest(string_split(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 4096 AS bucket
        |  FROM toks WHERE tok <> ''),
        |agg AS (
        |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(w.w_milli) AS BIGINT) AS w_sum_milli
        |  FROM feat f JOIN w USING (bucket) GROUP BY 1)
        |SELECT d.doc_id,
        |       COALESCE(a.n_tokens, 0) AS n_tokens,
        |       COALESCE(a.w_sum_milli, 0) AS w_sum_milli,
        |       CAST(a.w_sum_milli AS DOUBLE) / (1000.0 * a.n_tokens) AS score,
        |       COALESCE(CAST(a.w_sum_milli AS DOUBLE) / (1000.0 * a.n_tokens) > 0.0, false) AS keep
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // Soft-sampling replay: the classifier CTEs, the clamp squash, and
    // the same md5-hash-vs-floor(rate*2^32) decision.
    "doc_sample_quality_weighted" ->
      """WITH w AS (
        |  SELECT b AS bucket,
        |         CAST('0x' || substr(md5(b::VARCHAR), 1, 8) AS BIGINT) % 2001 - 1000 AS w_milli
        |  FROM (SELECT unnest(range(0, 4096)) AS b)),
        |toks AS (
        |  SELECT doc_id,
        |         unnest(string_split(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))), ' ')) AS tok
        |  FROM documents),
        |feat AS (
        |  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 4096 AS bucket
        |  FROM toks WHERE tok <> ''),
        |agg AS (
        |  SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(w.w_milli) AS BIGINT) AS w_sum_milli
        |  FROM feat f JOIN w USING (bucket) GROUP BY 1),
        |r AS (
        |  SELECT d.doc_id,
        |         COALESCE(least(greatest(
        |           (CAST(a.w_sum_milli AS DOUBLE) / (1000.0 * a.n_tokens) + 1) / 2,
        |           0.0), 1.0), 0.0) AS rate
        |  FROM documents d LEFT JOIN agg a USING (doc_id))
        |SELECT doc_id, CAST(ROUND(rate, 6) AS DOUBLE) AS keep_rate,
        |       CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT)
        |         < CAST(floor(rate * 4294967296.0) AS BIGINT) AS sampled
        |FROM r ORDER BY doc_id""".stripMargin,

    "doc_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         string_split(lower(trim(regexp_replace(coalesce(text, ''), '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |              ELSE list_transform(range(1, len(toks)-1),
        |                                  i -> array_to_string(toks[i:i+2], ' ')) END AS grams
        |  FROM t)
        |SELECT doc_id,
        |       CAST(ROUND(1.0 - len(list_distinct(toks))::DOUBLE
        |                        / greatest(len(toks), 1), 6) AS DOUBLE) AS token_repetition,
        |       CAST(ROUND(1.0 - len(list_distinct(grams))::DOUBLE
        |                        / greatest(len(grams), 1), 6) AS DOUBLE) AS gram_repetition,
        |       CAST(ROUND(list_max(list_transform(list_distinct(toks),
        |                    u -> len(list_filter(toks, x -> x = u))))::DOUBLE
        |                  / greatest(len(toks), 1), 6) AS DOUBLE) AS top_token_fraction
        |FROM g ORDER BY doc_id""".stripMargin,

    "doc_source_mix" ->
      """WITH t AS (
        |  SELECT source,
        |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents),
        |s AS (SELECT source, count(*) AS doc_count, CAST(sum(tc) AS BIGINT) AS token_sum FROM t GROUP BY 1)
        |SELECT source, doc_count, token_sum,
        |       CAST(ROUND(token_sum::DOUBLE / (SELECT sum(token_sum) FROM s), 6) AS DOUBLE) AS weight
        |FROM s ORDER BY source""".stripMargin,

    // Alpha-sampling replay: same exact-int shares, sqrt, and the same
    // sequential left fold over the source-sorted q list (list_reduce
    // == Spark aggregate since 0.0 + q1 == q1 exactly).
    "doc_source_temperature" ->
      """WITH t AS (
        |  SELECT source,
        |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents),
        |s AS (SELECT source, count(*) AS doc_count, CAST(sum(tc) AS BIGINT) AS token_sum FROM t GROUP BY 1),
        |q AS (
        |  SELECT source, doc_count, token_sum,
        |         token_sum::DOUBLE / (SELECT sum(token_sum) FROM s) AS share_raw,
        |         sqrt(token_sum::DOUBLE / (SELECT sum(token_sum) FROM s)) AS q
        |  FROM s),
        |n AS (SELECT list_reduce(list(q ORDER BY source), (a, b) -> a + b) AS qsum FROM q)
        |SELECT source, doc_count, token_sum,
        |       CAST(ROUND(share_raw, 6) AS DOUBLE) AS share,
        |       CAST(ROUND(q / n.qsum, 6) AS DOUBLE) AS weight,
        |       CAST(ROUND(q / n.qsum / share_raw, 6) AS DOUBLE) AS oversample
        |FROM q, n ORDER BY source""".stripMargin,

    // Epoch plan replay: floor on the ALREADY-6dp-ROUNDED weight (the
    // value the operator floors), then one IEEE division.
    "doc_epoch_plan" ->
      """WITH t AS (
        |  SELECT source,
        |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents),
        |s AS (SELECT source, count(*) AS doc_count, CAST(sum(tc) AS BIGINT) AS token_sum FROM t GROUP BY 1),
        |q AS (
        |  SELECT source, doc_count, token_sum,
        |         sqrt(token_sum::DOUBLE / (SELECT sum(token_sum) FROM s)) AS q
        |  FROM s),
        |n AS (SELECT list_reduce(list(q ORDER BY source), (a, b) -> a + b) AS qsum FROM q),
        |w AS (
        |  SELECT source, doc_count, token_sum,
        |         CAST(ROUND(q / n.qsum, 6) AS DOUBLE) AS weight
        |  FROM q, n)
        |SELECT source, doc_count, token_sum, weight,
        |       CAST(FLOOR(weight * 1000000) AS BIGINT) AS target_tokens,
        |       CAST(ROUND(CAST(FLOOR(weight * 1000000) AS BIGINT)::DOUBLE
        |                  / greatest(token_sum, 1), 6) AS DOUBLE) AS repeat_factor
        |FROM w ORDER BY source""".stripMargin,

    // Epoch materialization replay: the doc_epoch_plan arithmetic ->
    // per-source integer passes ⌊target/token_sum⌋ + a fractional fill
    // in (md5-hash, id) order kept while tokens-before < remainder
    // (boundary doc kept — the doc_sample_budget window form), then
    // copy expansion and the doc_shuffle_epoch md5 rank over
    // "seed:doc#copy" replica keys.
    "doc_epoch_materialize" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents),
        |s AS (SELECT source, count(*) AS doc_count, CAST(sum(tc) AS BIGINT) AS token_sum FROM t GROUP BY 1),
        |q AS (
        |  SELECT source, doc_count, token_sum,
        |         sqrt(token_sum::DOUBLE / (SELECT sum(token_sum) FROM s)) AS q
        |  FROM s),
        |n AS (SELECT list_reduce(list(q ORDER BY source), (a, b) -> a + b) AS qsum FROM q),
        |w AS (
        |  SELECT source, token_sum,
        |         CAST(ROUND(q / n.qsum, 6) AS DOUBLE) AS weight
        |  FROM q, n),
        |plan AS (
        |  SELECT source, token_sum,
        |         CAST(FLOOR(weight * 1000000) AS BIGINT) AS target_tokens
        |  FROM w),
        |rem AS (
        |  SELECT source, token_sum, target_tokens,
        |         CASE WHEN token_sum > 0
        |              THEN CAST(FLOOR(target_tokens / token_sum) AS BIGINT) ELSE 0 END AS nfull,
        |         target_tokens - CASE WHEN token_sum > 0
        |              THEN CAST(FLOOR(target_tokens / token_sum) AS BIGINT) ELSE 0 END * token_sum AS rem_budget
        |  FROM plan),
        |fill AS (
        |  SELECT doc_id, source,
        |         coalesce(sum(tc) OVER (PARTITION BY source
        |             ORDER BY CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT), doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM t),
        |extra AS (
        |  SELECT f.doc_id FROM fill f JOIN rem r USING (source)
        |  WHERE f.before < r.rem_budget),
        |copies AS (
        |  SELECT t.doc_id, t.source, t.tc,
        |         r.nfull + CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS c
        |  FROM t JOIN rem r USING (source)
        |  LEFT JOIN extra e ON e.doc_id = t.doc_id),
        |expanded AS (
        |  SELECT doc_id, source, tc, unnest(range(0, c)) AS copy
        |  FROM copies WHERE c > 0)
        |SELECT CAST(row_number() OVER (
        |         ORDER BY md5('42:' || doc_id::VARCHAR || '#' || copy::VARCHAR),
        |                  doc_id::VARCHAR || '#' || copy::VARCHAR) - 1 AS BIGINT) AS position,
        |       doc_id, CAST(copy AS BIGINT) AS copy, source, tc AS token_count
        |FROM expanded ORDER BY position""".stripMargin,

    // Epoch packing replay: the doc_epoch_materialize machinery
    // wrapped as a CTE, then the doc_pack_sequences prefix sum in
    // POSITION order.
    "doc_epoch_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents),
        |s AS (SELECT source, count(*) AS doc_count, CAST(sum(tc) AS BIGINT) AS token_sum FROM t GROUP BY 1),
        |q AS (
        |  SELECT source, doc_count, token_sum,
        |         sqrt(token_sum::DOUBLE / (SELECT sum(token_sum) FROM s)) AS q
        |  FROM s),
        |n AS (SELECT list_reduce(list(q ORDER BY source), (a, b) -> a + b) AS qsum FROM q),
        |w AS (
        |  SELECT source, token_sum,
        |         CAST(ROUND(q / n.qsum, 6) AS DOUBLE) AS weight
        |  FROM q, n),
        |plan AS (
        |  SELECT source, token_sum,
        |         CAST(FLOOR(weight * 1000000) AS BIGINT) AS target_tokens
        |  FROM w),
        |rem AS (
        |  SELECT source, token_sum, target_tokens,
        |         CASE WHEN token_sum > 0
        |              THEN CAST(FLOOR(target_tokens / token_sum) AS BIGINT) ELSE 0 END AS nfull,
        |         target_tokens - CASE WHEN token_sum > 0
        |              THEN CAST(FLOOR(target_tokens / token_sum) AS BIGINT) ELSE 0 END * token_sum AS rem_budget
        |  FROM plan),
        |fill AS (
        |  SELECT doc_id, source,
        |         coalesce(sum(tc) OVER (PARTITION BY source
        |             ORDER BY CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT), doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM t),
        |extra AS (
        |  SELECT f.doc_id FROM fill f JOIN rem r USING (source)
        |  WHERE f.before < r.rem_budget),
        |copies AS (
        |  SELECT t.doc_id, t.source, t.tc,
        |         r.nfull + CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS c
        |  FROM t JOIN rem r USING (source)
        |  LEFT JOIN extra e ON e.doc_id = t.doc_id),
        |expanded AS (
        |  SELECT doc_id, source, tc, unnest(range(0, c)) AS copy
        |  FROM copies WHERE c > 0),
        |epoch AS (
        |  SELECT CAST(row_number() OVER (
        |           ORDER BY md5('42:' || doc_id::VARCHAR || '#' || copy::VARCHAR),
        |                    doc_id::VARCHAR || '#' || copy::VARCHAR) - 1 AS BIGINT) AS position,
        |         doc_id, CAST(copy AS BIGINT) AS copy, tc
        |  FROM expanded),
        |packed AS (
        |  SELECT position, doc_id, copy, tc,
        |         CAST(coalesce(sum(tc) OVER (ORDER BY position
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        |  FROM epoch)
        |SELECT position, doc_id, copy, tc AS token_count,
        |       prev AS start_offset, CAST(prev // 2048 AS BIGINT) AS seq_no
        |FROM packed ORDER BY position""".stripMargin,

    "doc_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tc,
        |         coalesce(sum(tc) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |  FROM t)
        |SELECT doc_id, tc AS token_count, CAST(prev AS BIGINT) AS start_offset,
        |       CAST(prev // 2048 AS BIGINT) AS seq_no
        |FROM c ORDER BY doc_id""".stripMargin,

    "doc_pack_segments" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
        |              ELSE len(string_split_regex(trim(text), '\s+')) END AS tc
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(tc AS BIGINT) AS tc,
        |         CAST(coalesce(sum(tc) OVER (ORDER BY doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev
        |  FROM t),
        |s AS (
        |  SELECT doc_id, tc, prev,
        |         unnest(range(prev // 2048, (prev + tc - 1) // 2048 + 1)) AS seq_no
        |  FROM c WHERE tc > 0)
        |SELECT seq_no, doc_id,
        |       greatest(prev, seq_no * 2048) - prev AS doc_token_start,
        |       least(prev + tc, (seq_no + 1) * 2048)
        |         - greatest(prev, seq_no * 2048) AS token_len
        |FROM s ORDER BY seq_no, doc_id""".stripMargin,

    "doc_tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, rank, term, CAST(ROUND(score, 6) AS DOUBLE) AS tfidf FROM (
        |  SELECT tf.doc_id, tf.term,
        |         tf.tf * CAST((SELECT n FROM n) AS DOUBLE) / df.df AS score,
        |         row_number() OVER (PARTITION BY tf.doc_id
        |             ORDER BY tf.tf * CAST((SELECT n FROM n) AS DOUBLE) / df.df DESC, tf.term) AS rank
        |  FROM tf JOIN df USING (term))
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "doc_neardup_levenshtein" ->
      """WITH n AS (
        |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
        |  FROM documents),
        |blk AS (
        |  SELECT doc_id, t, substr(t, 1, 24) AS b FROM n),
        |ok AS (
        |  SELECT b FROM blk GROUP BY b HAVING count(*) BETWEEN 2 AND 64),
        |c AS (SELECT blk.* FROM blk JOIN ok USING (b))
        |SELECT x.doc_id AS a, y.doc_id AS b,
        |       CAST(levenshtein(substr(x.t, 1, 120), substr(y.t, 1, 120)) AS BIGINT)
        |         AS edit_distance
        |FROM c x JOIN c y ON x.b = y.b AND x.doc_id < y.doc_id
        |WHERE levenshtein(substr(x.t, 1, 120), substr(y.t, 1, 120)) <= 2
        |ORDER BY a, b""".stripMargin,

    // chunk i covers chars [i*150, i*150+200); 1 + ceil(max(len-200,0)/150)
    // chunks per doc — the exact formula chunkByChars uses.
    "doc_chunk_overlap" ->
      """SELECT doc_id, CAST(i AS BIGINT) AS chunk_no,
        |       CAST(i * 150 AS BIGINT) AS chunk_start,
        |       CAST(length(substr(text, CAST(i * 150 + 1 AS INT), 200)) AS BIGINT) AS chunk_len,
        |       md5(substr(text, CAST(i * 150 + 1 AS INT), 200)) AS chunk_hash
        |FROM documents,
        |     LATERAL (SELECT unnest(range(0,
        |         1 + CAST(ceil(greatest(length(text) - 200, 0) / 150.0) AS BIGINT))) AS i)
        |ORDER BY doc_id, chunk_no""".stripMargin,

    "doc_shuffle_epoch" ->
      """SELECT CAST(row_number() OVER (
        |         ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT)
        |         AS position,
        |       doc_id
        |FROM documents ORDER BY position""".stripMargin,

    "doc_vocab_topk" ->
      """SELECT term, count(*) AS term_count
        |FROM (SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |      FROM documents)
        |WHERE term <> ''
        |GROUP BY term
        |ORDER BY term_count DESC, term
        |LIMIT 50""".stripMargin,

    // DuckDB lists are 1-indexed and range(a,b) is [a,b): i runs
    // 1..len-1, gram i = t[i] || ' ' || t[i+1] — exactly Spark's
    // slice(toks, i, 2) for i in 1..size-1.
    "doc_bigram_topk" ->
      """WITH toks AS (
        |  SELECT string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
        |  FROM documents)
        |SELECT gram, count(*) AS gram_count
        |FROM (SELECT t[i] || ' ' || t[i+1] AS gram
        |      FROM toks, unnest(range(1, len(t))) AS r(i))
        |WHERE gram <> ''
        |GROUP BY gram
        |ORDER BY gram_count DESC, gram
        |LIMIT 50""".stripMargin,

    // first-principles budget replay: stream sums → ⌊B/T⌋ + remainder,
    // the (id-hash, id) fill cut with the boundary row kept (the
    // doc_sample_budget window form), copy expansion, md5-rank shuffle
    "doc_train_order_budgeted" ->
      """WITH streams AS (
        |  SELECT 'text' AS modality, doc_id AS seq_no, 10 + doc_id % 7 AS tc
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'multimodal', doc_id, 5 + doc_id % 11
        |  FROM documents WHERE doc_id % 3 = 0),
        |sums AS (SELECT modality, CAST(sum(tc) AS BIGINT) AS ts FROM streams GROUP BY 1),
        |plan AS (
        |  SELECT modality, ts,
        |         CASE modality WHEN 'text' THEN 2 * ts + ts // 2
        |                       ELSE ts // 3 END AS b
        |  FROM sums),
        |plan2 AS (
        |  SELECT modality, b // ts AS nfull,
        |         CAST(b - (b // ts) * ts AS DOUBLE) AS rem
        |  FROM plan),
        |h AS (
        |  SELECT modality, seq_no, tc,
        |         modality || ':' || seq_no::VARCHAR AS sid,
        |         CAST('0x' || substr(md5(modality || ':' || seq_no::VARCHAR), 1, 8) AS BIGINT) AS hh
        |  FROM streams),
        |c AS (
        |  SELECT modality, seq_no, tc, sid,
        |         coalesce(sum(tc) OVER (PARTITION BY modality ORDER BY hh, sid
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM h),
        |sel AS (
        |  SELECT c.modality, c.seq_no, c.tc, c.sid, p.nfull,
        |         CASE WHEN c.before < p.rem THEN 1 ELSE 0 END AS extra
        |  FROM c JOIN plan2 p USING (modality)),
        |copies AS (
        |  SELECT modality, seq_no, tc, sid, unnest(range(0, nfull + extra)) AS copy
        |  FROM sel WHERE nfull + extra > 0)
        |SELECT CAST(row_number() OVER (
        |         ORDER BY md5('42:' || sid || '#' || copy::VARCHAR),
        |                  sid || '#' || copy::VARCHAR) - 1 AS BIGINT) AS position,
        |       modality, CAST(seq_no AS BIGINT) AS seq_no,
        |       CAST(copy AS BIGINT) AS copy, CAST(tc AS BIGINT) AS n_tokens
        |FROM copies ORDER BY position""".stripMargin,

    // CASTs on the sums: DuckDB sum(BIGINT) widens to HUGEINT, which
    // the gate's hasher rejects even at identical values.
    // Language id + mean_cf replayed from their own oracles; cutoffs
    // via quantile_cont (the (n-1)p interpolation Spark `percentile`
    // shares — proven hash-exact by ref_value_percentiles); boundary
    // ties land in the upper bucket on both engines by the same CASE.
    "doc_ccnet_buckets" ->
      s"""WITH t AS ($docTokens),
         |hits AS (
         |  SELECT doc_id, $statsHitCols
         |  FROM t),
         |lang AS (SELECT doc_id, $statsLangCase AS predicted_lang FROM hits),
         |lmt AS (
         |  SELECT doc_id, term FROM (
         |    SELECT doc_id,
         |           unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS term
         |    FROM documents)
         |  WHERE term <> ''),
         |cf AS (SELECT term, count(*) AS cf FROM lmt GROUP BY term),
         |lm AS (
         |  SELECT lmt.doc_id,
         |         CAST(ROUND(CAST(sum(c.cf) AS DOUBLE) / count(*), 6) AS DOUBLE) AS mean_cf
         |  FROM lmt JOIN cf c USING (term) GROUP BY lmt.doc_id),
         |scored AS (
         |  SELECT l.doc_id, l.predicted_lang, COALESCE(lm.mean_cf, 0.0) AS mean_cf
         |  FROM lang l LEFT JOIN lm ON l.doc_id = lm.doc_id),
         |cuts AS (
         |  SELECT predicted_lang,
         |         quantile_cont(mean_cf, 2.0 / 3.0) AS c_head,
         |         quantile_cont(mean_cf, 1.0 / 3.0) AS c_mid
         |  FROM scored GROUP BY 1)
         |SELECT s.doc_id, s.predicted_lang, s.mean_cf,
         |       CASE WHEN s.mean_cf >= c.c_head THEN 'head'
         |            WHEN s.mean_cf >= c.c_mid THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |FROM scored s JOIN cuts c USING (predicted_lang)
         |ORDER BY s.doc_id""".stripMargin,

    "doc_lm_score" ->
      """WITH t AS (
        |  SELECT doc_id, term FROM (
        |    SELECT doc_id,
        |           unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |    FROM documents)
        |  WHERE term <> ''),
        |cf AS (SELECT term, count(*) AS cf FROM t GROUP BY term)
        |SELECT t.doc_id, count(*) AS n_tokens,
        |       CAST(sum(c.cf) AS BIGINT) AS cf_sum,
        |       CAST(ROUND(CAST(sum(c.cf) AS DOUBLE) / count(*), 6) AS DOUBLE) AS mean_cf
        |FROM t JOIN cf c USING (term)
        |GROUP BY t.doc_id
        |ORDER BY doc_id""".stripMargin,

    "doc_sample_k_per_source" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |             ORDER BY CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 8) AS BIGINT),
        |                      doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY source, doc_id""".stripMargin,

    "doc_distinct_kmv_by_source" ->
      """WITH h AS (
        |  SELECT DISTINCT source,
        |    CAST(CAST('0x' || substr(md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))), 1, 8) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS hv
        |  FROM documents),
        |r AS (SELECT source, hv,
        |             row_number() OVER (PARTITION BY source ORDER BY hv) AS rk
        |      FROM h)
        |SELECT source, 16::BIGINT AS k,
        |       CAST(ROUND(CASE WHEN count(*) < 16 THEN count(*)::DOUBLE
        |                       ELSE 15.0 / max(hv) END, 6) AS DOUBLE) AS kmv_estimate
        |FROM r WHERE rk <= 16 GROUP BY source ORDER BY source""".stripMargin
  )

  // ---------------------------------------------------------------
  // Analytical breadth over the TPC-H-ish star schema: multi-way
  // joins, agg-over-join, top-k, per-group ranking. DECIMAL aggregates
  // keep the oracle compare exact (no FP accumulation-order drift).
  // ---------------------------------------------------------------

  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables.load(s, dir, name)

  private val analyticsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> ((s, dir) =>
      Analytics.pricingSummary(t(s, dir)("lineitem"))
        .orderBy("l_returnflag", "l_linestatus")),

    // Q6 shape: conjunctive pushed filters + one scalar decimal agg.
    "q6_forecast_revenue" -> ((s, dir) =>
      Analytics.forecastRevenue(t(s, dir)("lineitem"))),

    "q3_shipping_priority" -> ((s, dir) =>
      Analytics.shippingPriority(t(s, dir)("customer"), t(s, dir)("orders"), t(s, dir)("lineitem"))),

    "q2_min_cost_supplier" -> ((s, dir) =>
      Analytics.minCostSupplier(
        t(s, dir)("part"), t(s, dir)("supplier"), t(s, dir)("nation"),
        t(s, dir)("lineitem"))
        .orderBy("p_partkey", "s_suppkey")),

    "q5_local_supplier" -> ((s, dir) =>
      Analytics.localSupplierVolume(
        t(s, dir)("region"), t(s, dir)("nation"), t(s, dir)("customer"),
        t(s, dir)("orders"), t(s, dir)("lineitem"), t(s, dir)("supplier"))
        .orderBy("n_name")),

    // Q7-shape bilateral trade: pair filter pushed into 2-row nation
    // broadcasts, crossing residual after, exact-decimal revenue.
    "q7_volume_shipping" -> ((s, dir) =>
      Analytics.volumeShipping(
        t(s, dir)("nation"), t(s, dir)("customer"), t(s, dir)("orders"),
        t(s, dir)("lineitem"), t(s, dir)("supplier"))
        .orderBy("supp_nation", "cust_nation", "l_year")),

    "q_top_order_per_customer" -> ((s, dir) =>
      Analytics.topOrderPerCustomer(t(s, dir)("customer"), t(s, dir)("orders"))
        .orderBy("c_custkey")),

    // EXISTS decorrelated to LEFT SEMI with a cross-side inequality
    // residual (TPC-H Q4's shape on the reduced schema).
    "q4_late_shipment" -> ((s, dir) =>
      Analytics.lateShipmentPriorities(t(s, dir)("orders"), t(s, dir)("lineitem"))
        .orderBy("o_orderpriority")),

    // Full CUBE over (returnflag, linestatus): four grouping sets in
    // one Expand + hash-aggregate pass; exact decimal sums.
    "q_pricing_cube" -> ((s, dir) =>
      Analytics.pricingCube(t(s, dir)("lineitem"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // Hierarchical totals: ROLLUP over (day, type) — subtotal + grand
    // total rows carry NULL group keys in both engines.
    "ref_summary_rollup" -> ((s, dir) =>
      ev(s, dir)
        .rollup(to_date(col("ts")).as("event_date"), col("event_type"))
        .agg(count(lit(1)).as("event_count"))
        .orderBy(asc_nulls_first("event_date"), asc_nulls_first("event_type"))),

    // As-of join (custom operator — Spark lacks it): each view event
    // picks up the user's most recent prior-or-equal purchase. One
    // keyed shuffle + window; DuckDB's native ASOF LEFT JOIN oracles it.
    "ref_asof_last_purchase" -> ((s, dir) => {
      val e = ev(s, dir)
      AsofJoin.asofBackward(
        e.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
        e.filter(col("event_type") === "purchase"),
        key = "user_id", ts = "ts", payload = Seq("value"), suffix = "_p")
        .select(col("event_id"), col("user_id"), col("ts"), col("value_p").as("purchase_price"))
        .orderBy("event_id")
    }),

    // As-of FORWARD: each view picks up the user's NEXT purchase at or
    // after it — same one-shuffle union-window shape, time reversed.
    "ref_asof_next_purchase" -> ((s, dir) => {
      val e = ev(s, dir)
      AsofJoin.asofForward(
        e.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
        e.filter(col("event_type") === "purchase"),
        key = "user_id", ts = "ts", payload = Seq("value"), suffix = "_p",
        tieBreak = Some("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value_p").as("next_purchase_price"))
        .orderBy("event_id")
    }),

    // As-of with TOLERANCE (the feature-store point-in-time contract):
    // latest purchase within 1 hour before the view, else NULL.
    "ref_asof_tolerance" -> ((s, dir) => {
      val e = ev(s, dir)
      AsofJoin.asofBackward(
        e.filter(col("event_type") === "view").select("event_id", "user_id", "ts"),
        e.filter(col("event_type") === "purchase"),
        key = "user_id", ts = "ts", payload = Seq("value"), suffix = "_p",
        tieBreak = Some("event_id"), tolerance = Some("1 HOUR"))
        .select(col("event_id"), col("user_id"), col("ts"), col("value_p").as("recent_purchase_price"))
        .orderBy("event_id")
    }),

    // Range join (custom operator): views inside the 30-minute window
    // after a same-user purchase — bucketed equi-join, never a
    // nested-loop inequality join. DuckDB plans the oracle's plain
    // inequality predicates with its native IEJoin.
    "ref_range_promo_views" -> ((s, dir) => {
      val e = ev(s, dir)
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
      val windows = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"),
          col("event_id").as("purchase_id"))
      RangeJoin.pointInInterval(views, windows, "ts", "w_start", "w_end",
        keys = Seq("user_id"), bucketWidthSec = 1800L)
        .select(col("view_id"), col("purchase_id"))
        .orderBy("view_id", "purchase_id")
    }),

    // Gap-based sessionization: lag-window session starts, running-sum
    // session numbers, per-session aggregate — one shuffle, shared
    // (user_id) partitioning across all three steps.
    "ref_user_sessions" -> ((s, dir) =>
      EventOps.sessionize(ev(s, dir), gapMinutes = 30)
        .orderBy("user_id", "session_no")),

    // The Spark-NATIVE gap-session operator (session_window) beside the
    // portable two-window rendition above: same 30-min gap semantics,
    // end = last event + gap, split at gap >= 30 min (half-open window).
    "ref_session_window" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"),
          session_window(col("ts").cast("timestamp"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("event_count"))
        .select(col("user_id"),
          col("w.start").cast("timestamp_ntz").as("session_start"),
          col("w.end").cast("timestamp_ntz").as("session_end"),
          col("event_count"))
        .orderBy("user_id", "session_start")),

    // Pivot / crosstab: daily counts fanned out per event type. The
    // value list is pinned so the output schema is static (an inferred
    // pivot would need an extra distinct pass and non-deterministic
    // column order).
    "ref_daily_pivot" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(to_date(col("ts")).as("event_date"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("event_date")),

    // Set difference: (user, day) pairs that viewed but did not
    // purchase that day (the set-op family the reference lacks
    // entirely; EXCEPT carries set semantics — both sides dedup).
    "ref_viewers_not_buyers" -> ((s, dir) => {
      val e = ev(s, dir)
      def slice(tpe: String) = e.filter(col("event_type") === tpe)
        .select(to_date(col("ts")).as("event_date"), col("user_id"))
      slice("view").except(slice("purchase")).orderBy("event_date", "user_id")
    }),

    // Exact distinct aggregation (two-phase distinct-agg plan).
    "ref_daily_distinct_users" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(to_date(col("ts")).as("event_date"))
        .agg(countDistinct(col("user_id")).as("distinct_users"),
          count(lit(1)).as("event_count"))
        .orderBy("event_date"))
  )

  private val analyticsOracles: Map[String, String] = Map(
    // Compared aggregates are canonicalized to DOUBLE via
    // ROUND(exact decimal, 4) narrowed to an int64-backed DECIMAL(18,4)
    // before the double cast — one exact IEEE division, bit-identical to
    // Spark's correctly-rounded BigDecimal.doubleValue (the driver's hash
    // is decimal-hostile regardless of logical type; see Analytics.scala
    // for the 2^53 headroom arithmetic).
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 4)
        |                 AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
        |       CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))), 4)
        |                 AS DECIMAL(18,4)) AS DOUBLE) AS sum_base_price,
        |       CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |           * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))), 4)
        |                 AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
        |       COUNT(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |           * CAST(l_discount AS DECIMAL(8,4))), 4)
        |                 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(8,4)) BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |       CAST(CAST(ROUND(revenue_dec, 4) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT l_orderkey, o_orderdate, o_orderpriority,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |             * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))) AS revenue_dec
        |  FROM customer, orders, lineitem
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |    AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
        |  GROUP BY 1, 2, 3 ORDER BY revenue_dec DESC, l_orderkey LIMIT 10
        |) ORDER BY revenue_dec DESC, l_orderkey""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        |       CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |           * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))), 4)
        |                 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
        |  AND c_nationkey = n_nationkey AND o_custkey = c_custkey
        |  AND l_orderkey = o_orderkey
        |  AND s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       EXTRACT(year FROM l_shipdate)::BIGINT AS l_year,
        |       CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |           * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))), 4)
        |                 AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        |FROM lineitem, supplier, nation n1, orders, customer, nation n2
        |WHERE l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
        |  AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND c_nationkey = n2.n_nationkey
        |  AND n1.n_name IN ('NATION_1', 'NATION_2')
        |  AND n2.n_name IN ('NATION_1', 'NATION_2')
        |  AND n1.n_name <> n2.n_name
        |  AND l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // Q2's correlated-subquery form verbatim — the Spark side must
    // reproduce it from the decorrelated window shape.
    "q2_min_cost_supplier" ->
      """WITH costs AS (
        |  SELECT l_partkey, l_suppkey,
        |         MIN(l_extendedprice / l_quantity) AS unit_cost
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p.p_partkey, p.p_name, s.s_suppkey, s.s_name,
        |       n.n_name AS supplier_nation,
        |       c.unit_cost AS min_unit_cost
        |FROM part p
        |JOIN costs c ON c.l_partkey = p.p_partkey
        |JOIN supplier s ON s.s_suppkey = c.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_type = 'STANDARD'
        |  AND c.unit_cost = (SELECT MIN(c2.unit_cost) FROM costs c2
        |                     WHERE c2.l_partkey = p.p_partkey)
        |ORDER BY 1, 3""".stripMargin,

    "q_top_order_per_customer" ->
      """SELECT c_custkey, c_name, o_orderkey,
        |       o_totalprice AS top_order_price
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |                           ORDER BY o_totalprice DESC, o_orderkey) = 1
        |ORDER BY c_custkey""".stripMargin,

    "q4_late_shipment" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "ref_summary_rollup" ->
      """SELECT CAST(ts AS DATE) AS event_date, event_type, COUNT(*) AS event_count
        |FROM events GROUP BY ROLLUP (1, 2)
        |ORDER BY event_date ASC NULLS FIRST, event_type ASC NULLS FIRST""".stripMargin,

    "q_pricing_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
        |       CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(12,4))), 4)
        |                 AS DECIMAL(18,4)) AS DOUBLE) AS sum_qty,
        |       CAST(CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |           * CAST(1 - CAST(l_discount AS DECIMAL(8,4)) AS DECIMAL(8,4))), 4)
        |                 AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "ref_asof_last_purchase" ->
      """SELECT v.event_id, v.user_id, v.ts, p.value AS purchase_price
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id AND v.ts >= p.ts
        |ORDER BY v.event_id""".stripMargin,

    "ref_asof_next_purchase" ->
      """SELECT v.event_id, v.user_id, v.ts, p.value AS next_purchase_price
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
        |LEFT JOIN LATERAL (
        |  SELECT value FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id AND p.ts >= v.ts
        |  ORDER BY p.ts, p.event_id LIMIT 1) p ON true
        |ORDER BY v.event_id""".stripMargin,

    "ref_asof_tolerance" ->
      """SELECT v.event_id, v.user_id, v.ts, p.value AS recent_purchase_price
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
        |LEFT JOIN LATERAL (
        |  SELECT value FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        |    AND p.ts <= v.ts AND p.ts >= v.ts - INTERVAL 1 HOUR
        |  ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) p ON true
        |ORDER BY v.event_id""".stripMargin,

    "ref_range_promo_views" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND v.event_type = 'view' AND p.event_type = 'purchase'
        | AND v.ts >= p.ts AND v.ts < p.ts + INTERVAL 30 MINUTE
        |ORDER BY 1, 2""".stripMargin,

    "ref_user_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM flagged)
        |SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
        |       MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS event_count
        |FROM numbered GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ref_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), numbered AS (
        |  SELECT user_id, ts,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM flagged)
        |SELECT user_id, MIN(ts) AS session_start,
        |       MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS event_count
        |FROM numbered GROUP BY user_id, session_no ORDER BY 1, 2""".stripMargin,

    "ref_daily_pivot" ->
      """SELECT CAST(ts AS DATE) AS event_date,
        |       COUNT(*) FILTER (event_type = 'click') AS click,
        |       COUNT(*) FILTER (event_type = 'error') AS error,
        |       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |       COUNT(*) FILTER (event_type = 'signup') AS signup,
        |       COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "ref_viewers_not_buyers" ->
      """SELECT CAST(ts AS DATE) AS event_date, user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT CAST(ts AS DATE) AS event_date, user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY event_date, user_id""".stripMargin,

    "ref_daily_distinct_users" ->
      """SELECT CAST(ts AS DATE) AS event_date,
        |       COUNT(DISTINCT user_id) AS distinct_users,
        |       COUNT(*) AS event_count
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )

  /** One per implemented operator from SURVEY.md §2 + the LLM-data
    * surface + the analytical star-schema breadth. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    referenceQueries ++ llmQueries ++ curationQueries ++ analyticsQueries

  // DuckDB renditions of the LLM-ops queries. Expression shapes mirror
  // the Spark plans 1:1 (same normalize/tokenize/round/CASE order) so
  // double arithmetic is bit-identical.
  /** The planted duplicate passage ref_curation_clean appends to the
    * %7∈{1,3} docs — shared between the Spark fixture and the oracle. */
  private val curationPassage = (0 until 25).map(i => s"curpass$i").mkString(" ")

  private val docTokens =
    """SELECT doc_id, text,
      |       CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
      |            ELSE string_split_regex(trim(text), '\s+') END AS toks
      |FROM documents""".stripMargin

  /** Shared CTE chain for the duplicate-span oracles: stride-1 20-token
    * windows → first-occurrence-wins duplicate marking → gap-and-island
    * span merge. Mirrors TextDedup.duplicateSpans step for step (the
    * Spark side groups windows by xxhash64 of the gram; the oracle by
    * the gram string itself — same partition, collision-free). */
  private val dupSpansCte =
    """t AS (SELECT doc_id,
      |       CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
      |            ELSE string_split_regex(trim(text), '\s+') END AS toks
      |FROM documents),
      |w AS (
      |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 20 + 2),
      |        i -> struct_pack(pos := i, g := array_to_string(toks[i:i+19], ' ')))) AS u
      |    FROM t WHERE len(toks) >= 20)),
      |dup AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
      |    FROM w) WHERE rn > 1),
      |marked AS (
      |  SELECT doc_id, pos,
      |         CASE WHEN pos > COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
      |                                  -1000000) + 20
      |              THEN 1 ELSE 0 END AS newgrp
      |  FROM dup),
      |grp AS (
      |  SELECT doc_id, pos,
      |         SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
      |  FROM marked),
      |spans AS (
      |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 19 AS span_end
      |  FROM grp GROUP BY doc_id, gid)""".stripMargin

  private val docShingles =
    """SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |       ELSE list_distinct(list_transform(range(1, len(toks)-1),
      |                          i -> array_to_string(toks[i:i+2], ' '))) END AS s
      |FROM (SELECT doc_id,
      |             string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |      FROM documents)""".stripMargin

  // md5-SimHash signatures as 64-char bit strings, MSB-first: output
  // position pos (0-based) carries bit j = 63-pos, where bit j of a
  // token hash is bit (j % 4) of hex digit (16 - j/4) of md5(token) —
  // the exact mapping simhash64Md5 uses.
  private val simhashSigs = {
    val digit = "(CASE WHEN ascii(substr(h, CAST(16 - ((63 - p) // 4) AS INT), 1)) >= 97 " +
      "THEN ascii(substr(h, CAST(16 - ((63 - p) // 4) AS INT), 1)) - 87 " +
      "ELSE ascii(substr(h, CAST(16 - ((63 - p) // 4) AS INT), 1)) - 48 END)"
    s"""SELECT doc_id,
       |  array_to_string(list_transform(range(0, 64), p ->
       |    CASE WHEN list_sum(list_transform(hxs, h ->
       |      CASE WHEN ($digit >> ((63 - p) % 4)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
       |    THEN '1' ELSE '0' END), '') AS sig
       |FROM (SELECT doc_id,
       |        list_transform(
       |          string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |          t -> substr(md5(t), 1, 16)) AS hxs
       |      FROM documents)""".stripMargin
  }

  // Shared doc_stats SQL fragments (also power the quantile oracle).
  private val statsEn = TextStats.Stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
  private val statsHitCols = TextStats.Stopwords.map { case (lang, stops) =>
    val l = stops.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(toks, w -> list_contains($l, w))) AS ${lang}_hits"
  }.mkString(",\n       ")
  private val statsLangCase = {
    val langs = TextStats.Stopwords.map(_._1)
    val whens = langs.zipWithIndex.map { case (lang, i) =>
      val conds = (s"${lang}_hits > 0" +: langs.drop(i + 1).map(o => s"${lang}_hits >= ${o}_hits"))
        .mkString(" AND ")
      s"WHEN $conds THEN '$lang'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  /** DuckDB replica of the native RollingMinHash kernel
    * (graft.functions.RollingMinHash): window hash h_i = Σ byte·B^k
    * mod 2^64 (HUGEINT — per-term products stay under 2^76, one mod at
    * the end), then fmix64 as elementwise list stages (xor/shift on
    * UBIGINT; the two 64×64 multiplies split at 2^32 so every
    * intermediate fits HUGEINT), then the unsigned min. The power table
    * B^0..B^16 ships as a generated literal. Byte-exact for ASCII text
    * (the fixture corpus; the kernel is byte-defined, `unicode(c)` =
    * byte only below 0x80). Validated value-identical to the JVM kernel
    * on the full sf0.01 corpus + empty/short/boundary edge cases. */
  private lazy val rollingFpOracle: String = {
    val B = 0x5DEECE66DL
    val pw = Iterator.iterate(1L)(_ * B).take(17).toSeq // B^k wraps = mod 2^64
    val pwLit = pw.map(v => java.lang.Long.toUnsignedString(v) + "::HUGEINT")
      .mkString("[", ",", "]")
    val mod = "18446744073709551616"
    val m1 = java.lang.Long.toUnsignedString(0xff51afd7ed558ccdL)
    val m2 = java.lang.Long.toUnsignedString(0xc4ceb9fe1a85ec53L)
    def mulmod(m: String) =
      s"((k % 4294967296) * $m + (((k // 4294967296) * $m) % 4294967296) * 4294967296) % $mod"
    val xs = "xor(k::UBIGINT, k::UBIGINT >> 33)::HUGEINT"
    s"""WITH pwt AS (SELECT $pwLit AS pw),
       |b AS (
       |  SELECT doc_id, list_transform(string_split(text, ''), c -> unicode(c)::HUGEINT) AS bs,
       |         length(text) AS n
       |  FROM documents),
       |h AS (
       |  SELECT doc_id,
       |    CASE WHEN n <= 16 THEN
       |      [coalesce(list_sum(list_transform(range(1, n + 1),
       |          j -> bs[CAST(j AS INT)] * pw[CAST(n - j + 1 AS INT)])), 0) % $mod]
       |    ELSE
       |      list_transform(range(1, n - 14), i ->
       |        list_sum(list_transform(range(0, 16),
       |          t -> bs[CAST(i + t AS INT)] * pw[CAST(16 - t AS INT)])) % $mod)
       |    END AS hs
       |  FROM b, pwt),
       |f1 AS (SELECT doc_id, list_transform(hs, k -> $xs) AS ks FROM h),
       |f2 AS (SELECT doc_id, list_transform(ks, k -> ${mulmod(m1)}) AS ks FROM f1),
       |f3 AS (SELECT doc_id, list_transform(ks, k -> $xs) AS ks FROM f2),
       |f4 AS (SELECT doc_id, list_transform(ks, k -> ${mulmod(m2)}) AS ks FROM f3),
       |f5 AS (SELECT doc_id, list_transform(ks, k -> $xs) AS ks FROM f4)
       |SELECT doc_id, CAST(list_min(ks) AS VARCHAR) AS rolling_fp FROM f5 ORDER BY doc_id""".stripMargin
  }

  private lazy val llmOracles: Map[String, String] = Map(
    "doc_fingerprint_native" -> rollingFpOracle,
    "doc_stats" -> {
      val en = statsEn
      val hitCols = statsHitCols
      val langCase = statsLangCase
      // SQL string literal: double the single quotes; backslashes pass through
      val bpe = TextStats.BpePattern.replace("'", "''")
      s"""WITH t AS ($docTokens),
         |h AS (
         |  SELECT doc_id, text, toks,
         |       length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
         |         / greatest(length(text), 1) AS punct_raw,
         |       len(list_filter(toks, w -> list_contains($en, w)))::DOUBLE
         |         / greatest(len(toks), 1) AS stop_raw,
         |       $hitCols
         |  FROM t)
         |SELECT doc_id,
         |       len(toks) AS token_count,
         |       length(text) AS char_count,
         |       CAST(ROUND(punct_raw, 6) AS DOUBLE) AS punct_ratio,
         |       CAST(ROUND(stop_raw, 6) AS DOUBLE) AS stopword_ratio,
         |       CAST(ROUND(least(len(toks) / 100.0, 1.0) * 0.4
         |                  + (1.0 - punct_raw) * 0.3 + stop_raw * 0.3, 6) AS DOUBLE) AS quality_score,
         |       $langCase AS predicted_lang,
         |       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint,
         |       len(regexp_extract_all(text, '$bpe')) AS bpe_token_count,
         |       CASE WHEN length(text) < 16 THEN md5(text)
         |            ELSE list_aggregate(list_transform(range(1, length(text) - 14),
         |                 i -> md5(substr(text, i, 16))), 'min') END AS rolling_fingerprint
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "doc_exact_dup" ->
      """WITH fixture AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0
        |), h AS (
        |  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS content_hash, doc_id
        |  FROM fixture)
        |SELECT content_hash, COUNT(*) AS dup_count, MIN(doc_id) AS canonical_doc_id
        |FROM h GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY 1""".stripMargin,

    "doc_dup_profile" ->
      """WITH h AS (
        |  SELECT source, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM documents)
        |SELECT source, count(*) AS n_docs, count(DISTINCT h) AS n_unique,
        |       CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dups,
        |       CAST(ROUND(CAST(count(*) - count(DISTINCT h) AS DOUBLE) / count(*), 6) AS DOUBLE)
        |         AS dup_rate
        |FROM h GROUP BY source ORDER BY source""".stripMargin,

    "doc_dedup_exact" ->
      """WITH fixture AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id FROM fixture
        |QUALIFY row_number() OVER (
        |  PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
        |  ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "doc_dedup_blocks" ->
      """WITH fixture AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0),
        |toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM fixture
        |  WHERE text IS NOT NULL AND trim(regexp_replace(text, '\s+', ' ', 'g')) <> ''),
        |blocks AS (
        |  SELECT doc_id, unnest(range(0, CAST(ceil(len(toks) / 20.0) AS BIGINT))) AS block_no,
        |         toks
        |  FROM toks),
        |btext AS (
        |  SELECT doc_id, block_no,
        |         array_to_string(toks[block_no * 20 + 1 : block_no * 20 + 20], ' ') AS block_text
        |  FROM blocks),
        |kept AS (
        |  SELECT doc_id, block_no, block_text FROM btext
        |  QUALIFY row_number() OVER (PARTITION BY block_text ORDER BY doc_id, block_no) = 1),
        |reassembled AS (
        |  SELECT doc_id, count(*) AS kept_blocks,
        |         string_agg(block_text, ' ' ORDER BY block_no) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT f.doc_id, COALESCE(r.kept_blocks, 0) AS kept_blocks,
        |       md5(COALESCE(r.text_clean, '')) AS clean_hash
        |FROM (SELECT DISTINCT doc_id FROM fixture) f
        |LEFT JOIN reassembled r USING (doc_id)
        |ORDER BY f.doc_id""".stripMargin,

    "doc_duplicate_spans" ->
      s"""WITH $dupSpansCte
         |SELECT doc_id, span_start, span_end,
         |       span_end - span_start + 1 AS span_len
         |FROM spans ORDER BY doc_id, span_start""".stripMargin,

    // The union replay: winnow tier ∪ batch, mark first-occurrence
    // dups across the whole union, keep batch spans — provably equal
    // to the incremental probe-the-stored-index path.
    "doc_spans_incremental" ->
      """WITH f AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents WHERE doc_id % 5 = 0),
        |t AS (SELECT doc_id,
        |       CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
        |            ELSE string_split_regex(trim(text), '\s+') END AS toks
        |FROM f),
        |hpt AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(toks) - 20 + 2),
        |           i -> struct_pack(pos := i,
        |                            g := md5(array_to_string(toks[i:i+19], ' ')))) AS hp
        |  FROM t WHERE len(toks) >= 20),
        |fp AS (
        |  SELECT DISTINCT doc_id, u.pos AS pos, u.g AS g FROM (
        |    SELECT doc_id, unnest(list_transform(
        |        range(1, greatest(len(hp) - 7, 1) + 1),
        |        p -> list_reverse(list_filter(hp[p:p+7],
        |               x -> x.g = list_aggregate(
        |                 list_transform(hp[p:p+7], y -> y.g), 'min')))[1])) AS u
        |    FROM hpt)),
        |dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |    FROM fp) WHERE rn > 1 AND doc_id >= 100000),
        |marked AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos > COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
        |                                  -1000000) + 20
        |              THEN 1 ELSE 0 END AS newgrp
        |  FROM dup),
        |grp AS (
        |  SELECT doc_id, pos,
        |         SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
        |  FROM marked),
        |spans AS (
        |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 19 AS span_end
        |  FROM grp GROUP BY doc_id, gid)
        |SELECT doc_id, span_start, span_end,
        |       span_end - span_start + 1 AS span_len
        |FROM spans ORDER BY doc_id, span_start""".stripMargin,

    // Winnowing replayed exactly: per-window min md5 gram hash,
    // rightmost tie (list_reverse + [1]), distinct selections, then
    // the same first-occurrence marking + island merge as the grid.
    "doc_winnowed_spans" ->
      """WITH t AS (SELECT doc_id,
        |       CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
        |            ELSE string_split_regex(trim(text), '\s+') END AS toks
        |FROM documents),
        |hpt AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(toks) - 20 + 2),
        |           i -> struct_pack(pos := i,
        |                            g := md5(array_to_string(toks[i:i+19], ' ')))) AS hp
        |  FROM t WHERE len(toks) >= 20),
        |fp AS (
        |  SELECT DISTINCT doc_id, u.pos AS pos, u.g AS g FROM (
        |    SELECT doc_id, unnest(list_transform(
        |        range(1, greatest(len(hp) - 7, 1) + 1),
        |        p -> list_reverse(list_filter(hp[p:p+7],
        |               x -> x.g = list_aggregate(
        |                 list_transform(hp[p:p+7], y -> y.g), 'min')))[1])) AS u
        |    FROM hpt)),
        |dup AS (
        |  SELECT doc_id, pos FROM (
        |    SELECT doc_id, pos, row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
        |    FROM fp) WHERE rn > 1),
        |marked AS (
        |  SELECT doc_id, pos,
        |         CASE WHEN pos > COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
        |                                  -1000000) + 20
        |              THEN 1 ELSE 0 END AS newgrp
        |  FROM dup),
        |grp AS (
        |  SELECT doc_id, pos,
        |         SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
        |  FROM marked),
        |spans AS (
        |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 19 AS span_end
        |  FROM grp GROUP BY doc_id, gid)
        |SELECT doc_id, span_start, span_end,
        |       span_end - span_start + 1 AS span_len
        |FROM spans ORDER BY doc_id, span_start""".stripMargin,

    "doc_strip_spans" ->
      s"""WITH $dupSpansCte,
         |tokpos AS (
         |  SELECT doc_id, u.i AS i, u.tok AS tok FROM (
         |    SELECT doc_id, unnest(list_transform(toks,
         |        (tok, i) -> struct_pack(i := i, tok := tok))) AS u
         |    FROM t)),
         |keep AS (
         |  SELECT tp.doc_id, tp.i, tp.tok FROM tokpos tp
         |  WHERE NOT EXISTS (SELECT 1 FROM spans s
         |                    WHERE s.doc_id = tp.doc_id
         |                      AND tp.i BETWEEN s.span_start AND s.span_end))
         |SELECT d.doc_id,
         |       COALESCE(string_agg(k.tok, ' ' ORDER BY k.i), '') AS clean_text
         |FROM documents d LEFT JOIN keep k ON d.doc_id = k.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    "doc_strip_boilerplate" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0
        |              THEN 'standard legal header boilerplate text appears on every page here ' || text
        |              ELSE text END AS text
        |  FROM documents),
        |fixture AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 100000, text FROM base WHERE doc_id % 5 = 0),
        |toks AS (
        |  SELECT doc_id, string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks
        |  FROM fixture
        |  WHERE text IS NOT NULL AND trim(regexp_replace(text, '\s+', ' ', 'g')) <> ''),
        |seg AS (
        |  SELECT doc_id, unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS seg_no,
        |         toks
        |  FROM toks),
        |stext AS (
        |  SELECT doc_id, seg_no,
        |         array_to_string(toks[seg_no * 10 + 1 : seg_no * 10 + 10], ' ') AS seg_text
        |  FROM seg),
        |common AS (
        |  SELECT seg_text FROM stext GROUP BY seg_text HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (
        |  SELECT s.doc_id, s.seg_no, s.seg_text, c.seg_text IS NOT NULL AS is_common
        |  FROM stext s LEFT JOIN common c ON s.seg_text = c.seg_text),
        |agg AS (
        |  SELECT doc_id,
        |         count(*) FILTER (WHERE NOT is_common) AS kept_segments,
        |         count(*) FILTER (WHERE is_common) AS removed_segments,
        |         string_agg(CASE WHEN NOT is_common THEN seg_text END, ' ' ORDER BY seg_no) AS text_clean
        |  FROM marked GROUP BY doc_id)
        |SELECT f.doc_id, COALESCE(a.kept_segments, 0) AS kept_segments,
        |       COALESCE(a.removed_segments, 0) AS removed_segments,
        |       md5(COALESCE(a.text_clean, '')) AS clean_hash
        |FROM (SELECT DISTINCT doc_id FROM fixture) f
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY f.doc_id""".stripMargin,

    "doc_strip_lines" ->
      """WITH fixture AS (
        |  SELECT doc_id,
        |         concat_ws(chr(10), 'shared header line', text,
        |           CASE WHEN doc_id % 2 = 0 THEN 'shared footer line' END) AS text
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id, string_split(text, chr(10)) AS ls FROM fixture),
        |raw AS (
        |  SELECT doc_id, unnest(range(0, len(ls))) AS ord, ls FROM ls),
        |seg AS (
        |  SELECT doc_id, trim(ls[ord + 1]) AS seg_text,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS seg_no
        |  FROM raw WHERE trim(ls[ord + 1]) <> ''),
        |common AS (
        |  SELECT seg_text FROM seg GROUP BY seg_text HAVING count(DISTINCT doc_id) >= 2),
        |marked AS (
        |  SELECT s.doc_id, s.seg_no, s.seg_text, c.seg_text IS NOT NULL AS is_common
        |  FROM seg s LEFT JOIN common c ON s.seg_text = c.seg_text),
        |agg AS (
        |  SELECT doc_id,
        |         count(*) FILTER (WHERE NOT is_common) AS kept_segments,
        |         count(*) FILTER (WHERE is_common) AS removed_segments,
        |         string_agg(CASE WHEN NOT is_common THEN seg_text END, chr(10) ORDER BY seg_no) AS text_clean
        |  FROM marked GROUP BY doc_id)
        |SELECT f.doc_id, COALESCE(a.kept_segments, 0) AS kept_segments,
        |       COALESCE(a.removed_segments, 0) AS removed_segments,
        |       md5(COALESCE(a.text_clean, '')) AS clean_hash
        |FROM (SELECT DISTINCT doc_id FROM fixture) f
        |LEFT JOIN agg a USING (doc_id)
        |ORDER BY f.doc_id""".stripMargin,

    // Within-doc keep-first line strip: DuckDB's 1-based indexed
    // list_filter lambda is exactly Spark's array_position test.
    "doc_strip_repeated_lines" ->
      """WITH fixture AS (
        |  SELECT doc_id,
        |         concat_ws(chr(10), text, 'repeat me', text, 'repeat me') AS text
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         list_filter(list_transform(string_split(COALESCE(text, ''), chr(10)),
        |           l -> trim(l)), l -> length(l) > 0) AS ls
        |  FROM fixture),
        |k AS (
        |  SELECT doc_id, ls,
        |         list_filter(ls, (l, i) -> list_position(ls, l) = i) AS keep
        |  FROM b)
        |SELECT doc_id,
        |       CAST(len(keep) AS BIGINT) AS kept_segments,
        |       CAST(len(ls) - len(keep) AS BIGINT) AS removed_segments,
        |       md5(array_to_string(keep, chr(10))) AS clean_hash
        |FROM k ORDER BY doc_id""".stripMargin,

    // Full-pipeline replay, stage for stage: planted fixture → quality
    // rules (the doc_quality_quantiles regexes at qualityFilter's
    // default thresholds) → all-pairs 0.5-jaccard dedup with
    // recursive-CTE components (the doc_dedup_near block) → aligned
    // 10-token boilerplate strip (the doc_strip_boilerplate block) →
    // 20-token duplicate-span strip (the doc_strip_spans block) over
    // the boiled text — ending in the same per-doc md5.
    "ref_curation_clean" ->
      s"""WITH RECURSIVE fixture AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 7 = 1 OR doc_id % 7 = 3
         |              THEN text || ' $curationPassage'
         |              ELSE text END AS text
         |  FROM documents),
         |qt AS (
         |  SELECT doc_id, text,
         |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
         |              ELSE string_split_regex(trim(text), '\\s+') END AS toks
         |  FROM fixture),
         |q AS (
         |  SELECT doc_id, text FROM qt
         |  WHERE len(toks) >= 25 AND len(toks) <= 20000
         |    AND length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
         |        / greatest(length(text), 1) <= 0.25
         |    AND len(list_filter(toks, w -> list_contains($statsEn, w)))::DOUBLE
         |        / greatest(len(toks), 1) >= 0.02),
         |sh AS (
         |  SELECT doc_id, CASE WHEN len(lt) < 3 THEN [array_to_string(lt, ' ')]
         |         ELSE list_distinct(list_transform(range(1, len(lt)-1),
         |                            i -> array_to_string(lt[i:i+2], ' '))) END AS s
         |  FROM (SELECT doc_id,
         |               string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS lt
         |        FROM q)),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sh a, sh b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE
         |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |clusters AS (
         |  SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM (
         |    SELECT src AS id, dst AS lbl FROM reach
         |    UNION SELECT src, src FROM edges)
         |  GROUP BY 1),
         |curated AS (
         |  SELECT doc_id, text FROM q
         |  WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)),
         |btoks AS (
         |  SELECT doc_id, string_split(trim(regexp_replace(text, '\\s+', ' ', 'g')), ' ') AS toks
         |  FROM curated
         |  WHERE text IS NOT NULL AND trim(regexp_replace(text, '\\s+', ' ', 'g')) <> ''),
         |bseg AS (
         |  SELECT doc_id, unnest(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT))) AS seg_no,
         |         toks
         |  FROM btoks),
         |bstext AS (
         |  SELECT doc_id, seg_no,
         |         array_to_string(toks[seg_no * 10 + 1 : seg_no * 10 + 10], ' ') AS seg_text
         |  FROM bseg),
         |bcommon AS (
         |  SELECT seg_text FROM bstext GROUP BY seg_text HAVING count(DISTINCT doc_id) >= 2),
         |bmarked AS (
         |  SELECT s.doc_id, s.seg_no, s.seg_text, c.seg_text IS NOT NULL AS is_common
         |  FROM bstext s LEFT JOIN bcommon c ON s.seg_text = c.seg_text),
         |bagg AS (
         |  SELECT doc_id,
         |         string_agg(CASE WHEN NOT is_common THEN seg_text END, ' ' ORDER BY seg_no) AS text_clean
         |  FROM bmarked GROUP BY doc_id),
         |boiled AS (
         |  SELECT c.doc_id, COALESCE(a.text_clean, '') AS text
         |  FROM curated c LEFT JOIN bagg a USING (doc_id)),
         |st AS (
         |  SELECT doc_id,
         |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
         |              ELSE string_split_regex(trim(text), '\\s+') END AS toks
         |  FROM boiled),
         |sw AS (
         |  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
         |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 20 + 2),
         |        i -> struct_pack(pos := i, g := array_to_string(toks[i:i+19], ' ')))) AS u
         |    FROM st WHERE len(toks) >= 20)),
         |sdup AS (
         |  SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos, row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn
         |    FROM sw) WHERE rn > 1),
         |smarked AS (
         |  SELECT doc_id, pos,
         |         CASE WHEN pos > COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos),
         |                                  -1000000) + 20
         |              THEN 1 ELSE 0 END AS newgrp
         |  FROM sdup),
         |sgrp AS (
         |  SELECT doc_id, pos,
         |         SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
         |  FROM smarked),
         |sspans AS (
         |  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 19 AS span_end
         |  FROM sgrp GROUP BY doc_id, gid),
         |tokpos AS (
         |  SELECT doc_id, u.i AS i, u.tok AS tok FROM (
         |    SELECT doc_id, unnest(list_transform(toks,
         |        (tok, i) -> struct_pack(i := i, tok := tok))) AS u
         |    FROM st)),
         |keep AS (
         |  SELECT tp.doc_id, tp.i, tp.tok FROM tokpos tp
         |  WHERE NOT EXISTS (SELECT 1 FROM sspans s
         |                    WHERE s.doc_id = tp.doc_id
         |                      AND tp.i BETWEEN s.span_start AND s.span_end))
         |SELECT b.doc_id,
         |       md5(COALESCE(string_agg(k.tok, ' ' ORDER BY k.i), '')) AS clean_hash
         |FROM boiled b LEFT JOIN keep k USING (doc_id)
         |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    // Mix replay: the ref_curation_clean survivor chain (quality rules
    // at the same thresholds + all-pairs 0.5-jaccard dedup with
    // recursive components; strips are parameterized to no-ops, which
    // preserve token sequences) → the doc_epoch_plan α=0.5 arithmetic
    // over the survivor set with source joined from the raw table and
    // token counts on the raw text.
    "ref_curation_mix" ->
      s"""WITH RECURSIVE qt AS (
         |  SELECT doc_id, text, source,
         |         CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN []::VARCHAR[]
         |              ELSE string_split_regex(trim(text), '\\s+') END AS toks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, text, source, len(toks) AS tc FROM qt
         |  WHERE len(toks) >= 25 AND len(toks) <= 20000
         |    AND length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
         |        / greatest(length(text), 1) <= 0.25
         |    AND len(list_filter(toks, w -> list_contains($statsEn, w)))::DOUBLE
         |        / greatest(len(toks), 1) >= 0.02),
         |sh AS (
         |  SELECT doc_id, CASE WHEN len(lt) < 3 THEN [array_to_string(lt, ' ')]
         |         ELSE list_distinct(list_transform(range(1, len(lt)-1),
         |                            i -> array_to_string(lt[i:i+2], ' '))) END AS s
         |  FROM (SELECT doc_id,
         |               string_split_regex(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS lt
         |        FROM q)),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sh a, sh b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE
         |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |clusters AS (
         |  SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM (
         |    SELECT src AS id, dst AS lbl FROM reach
         |    UNION SELECT src, src FROM edges)
         |  GROUP BY 1),
         |surv AS (
         |  SELECT source, tc FROM q
         |  WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)),
         |cnt AS (SELECT source, count(*) AS doc_count,
         |               CAST(sum(tc) AS BIGINT) AS token_sum FROM surv GROUP BY 1),
         |tw AS (
         |  SELECT source, doc_count, token_sum,
         |         sqrt(token_sum::DOUBLE / (SELECT sum(token_sum) FROM cnt)) AS qv
         |  FROM cnt),
         |nz AS (SELECT list_reduce(list(qv ORDER BY source), (a, b) -> a + b) AS qsum FROM tw),
         |wt AS (
         |  SELECT source, doc_count, token_sum,
         |         CAST(ROUND(qv / nz.qsum, 6) AS DOUBLE) AS weight
         |  FROM tw, nz)
         |SELECT source, doc_count, token_sum, weight,
         |       CAST(FLOOR(weight * 1000000) AS BIGINT) AS target_tokens,
         |       CAST(ROUND(CAST(FLOOR(weight * 1000000) AS BIGINT)::DOUBLE
         |                  / greatest(token_sum, 1), 6) AS DOUBLE) AS repeat_factor
         |FROM wt ORDER BY source""".stripMargin,

    "doc_minhash_sig" ->
      s"""WITH sh AS ($docShingles)
         |SELECT doc_id,
         |       array_to_string(list_transform(range(0, 8),
         |         h -> list_aggregate(list_transform(s, x -> md5(h::VARCHAR || ':' || x)), 'min')),
         |         '|') AS minhash_sig
         |FROM sh ORDER BY doc_id""".stripMargin,

    "doc_neardup_minhash" ->
      s"""WITH sh AS ($docShingles)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(ROUND(len(list_intersect(a.s, b.s))::DOUBLE
         |                  / len(list_distinct(list_concat(a.s, b.s))), 6) AS DOUBLE) AS jaccard
         |FROM sh a, sh b
         |WHERE a.doc_id < b.doc_id
         |  AND len(list_intersect(a.s, b.s))::DOUBLE
         |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    // Asymmetric containment truth: ordered all-pairs |A∩B|/|A|; the
    // inverted-index path must reproduce it exactly (cap cannot fire
    // at gate scale: df ≤ doc count < maxPostings).
    "doc_neardup_containment" ->
      s"""WITH sh AS ($docShingles)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(ROUND(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 6) AS DOUBLE)
         |         AS containment
         |FROM sh a, sh b
         |WHERE a.doc_id <> b.doc_id
         |  AND len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    // Doc-bound collapse of the same ordered pair truth: per contained
    // doc, count/max/argmax-container with the (containment DESC,
    // b_id ASC) tie order the struct-max implements.
    "doc_containment_summary" ->
      s"""WITH sh AS ($docShingles),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |         len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) AS containment
         |  FROM sh a, sh b
         |  WHERE a.doc_id <> b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= 0.5),
         |ranked AS (
         |  SELECT a_id, b_id, containment,
         |         row_number() OVER (PARTITION BY a_id ORDER BY containment DESC, b_id ASC) AS rn,
         |         count(*) OVER (PARTITION BY a_id) AS nc,
         |         max(containment) OVER (PARTITION BY a_id) AS mc
         |  FROM pairs)
         |SELECT a_id AS doc_id,
         |       CAST(nc AS BIGINT) AS n_containers,
         |       CAST(ROUND(mc, 6) AS DOUBLE) AS max_containment,
         |       b_id AS top_container
         |FROM ranked WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // Containment-dedup survivors: NOT EXISTS a dominating container
    // (bigger distinct-shingle set, ties → smaller id).
    "doc_dedup_contained" ->
      s"""WITH sh AS ($docShingles),
         |losers AS (
         |  SELECT DISTINCT a.doc_id
         |  FROM sh a, sh b
         |  WHERE a.doc_id <> b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= 0.5
         |    AND (len(b.s) > len(a.s) OR (len(b.s) = len(a.s) AND b.doc_id < a.doc_id)))
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin,

    // Same all-pairs truth as doc_neardup_minhash: the exact prefix-
    // filtered path must reproduce it with NO probabilistic argument.
    "doc_neardup_jaccard" ->
      s"""WITH sh AS ($docShingles)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(ROUND(len(list_intersect(a.s, b.s))::DOUBLE
         |                  / len(list_distinct(list_concat(a.s, b.s))), 6) AS DOUBLE) AS jaccard
         |FROM sh a, sh b
         |WHERE a.doc_id < b.doc_id
         |  AND len(list_intersect(a.s, b.s))::DOUBLE
         |      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
         |ORDER BY 1, 2""".stripMargin,

    "doc_length_histogram" ->
      """SELECT (length(text) // 100) * 100 AS length_bucket, COUNT(*) AS doc_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "doc_quality_quantiles" ->
      s"""WITH t AS ($docTokens),
         |h AS (
         |  SELECT doc_id, text, toks,
         |       length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
         |         / greatest(length(text), 1) AS punct_raw,
         |       len(list_filter(toks, w -> list_contains($statsEn, w)))::DOUBLE
         |         / greatest(len(toks), 1) AS stop_raw,
         |       $statsHitCols
         |  FROM t),
         |scored AS (
         |  SELECT $statsLangCase AS predicted_lang,
         |         CAST(ROUND(least(len(toks) / 100.0, 1.0) * 0.4
         |                    + (1.0 - punct_raw) * 0.3 + stop_raw * 0.3, 6) AS DOUBLE) AS q
         |  FROM h)
         |SELECT predicted_lang,
         |       CAST(ROUND(quantile_cont(q, 0.5), 6) AS DOUBLE) AS p50,
         |       CAST(ROUND(quantile_cont(q, 0.9), 6) AS DOUBLE) AS p90,
         |       COUNT(*) AS doc_count
         |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin,

    // Gopher rules replayed verbatim: every metric on the RAW value,
    // rounding only in the projection (rule verdicts must not see the
    // rounded number — same discipline as the Spark side).
    "doc_gopher_quality" ->
      s"""WITH t AS ($docTokens),
         |m AS (
         |  SELECT doc_id, toks, len(toks) AS wc,
         |         greatest(len(toks), 1)::DOUBLE AS wcd,
         |         length(regexp_replace(COALESCE(text, ''), '\\s+', '', 'g')) AS nws,
         |         len(regexp_extract_all(COALESCE(text, ''), '#'))
         |           + len(regexp_extract_all(COALESCE(text, ''), '\\.\\.\\.')) AS sym,
         |         string_split(COALESCE(text, ''), chr(10)) AS lines
         |  FROM t),
         |h AS (
         |  SELECT doc_id, wc,
         |         nws / wcd AS mean_word_len,
         |         sym / wcd AS symbol_ratio,
         |         len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) / wcd AS alpha_frac,
         |         len(list_intersect(list_distinct(list_transform(toks, w -> lower(w))),
         |             ['the','be','to','of','and','that','have','with'])) AS stopword_hits,
         |         len(list_filter(lines, l -> starts_with(trim(l), '-')
         |               OR starts_with(trim(l), '*') OR starts_with(trim(l), '•')))
         |           / greatest(len(lines), 1)::DOUBLE AS bullet_line_frac,
         |         len(list_filter(lines, l -> ends_with(trim(l), '...')))
         |           / greatest(len(lines), 1)::DOUBLE AS ellipsis_line_frac
         |  FROM m),
         |r AS (
         |  SELECT *,
         |         wc BETWEEN 50 AND 100000 AS r_word_count,
         |         mean_word_len BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
         |         symbol_ratio < 0.1 AS r_symbol_ratio,
         |         alpha_frac > 0.8 AS r_alpha_words,
         |         stopword_hits >= 2 AS r_stopwords,
         |         bullet_line_frac <= 0.9 AS r_bullet_lines,
         |         ellipsis_line_frac <= 0.3 AS r_ellipsis_lines
         |  FROM h)
         |SELECT doc_id, wc AS word_count,
         |       CAST(ROUND(mean_word_len, 6) AS DOUBLE) AS mean_word_len,
         |       CAST(ROUND(symbol_ratio, 6) AS DOUBLE) AS symbol_ratio,
         |       CAST(ROUND(alpha_frac, 6) AS DOUBLE) AS alpha_frac,
         |       stopword_hits,
         |       CAST(ROUND(bullet_line_frac, 6) AS DOUBLE) AS bullet_line_frac,
         |       CAST(ROUND(ellipsis_line_frac, 6) AS DOUBLE) AS ellipsis_line_frac,
         |       r_word_count, r_mean_word_len, r_symbol_ratio, r_alpha_words,
         |       r_stopwords, r_bullet_lines, r_ellipsis_lines,
         |       r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_alpha_words
         |       AND r_stopwords AND r_bullet_lines AND r_ellipsis_lines AS pass
         |FROM r ORDER BY doc_id""".stripMargin,

    // Repetition battery replayed metric by metric: same normalized
    // tokens, same 1-based gram grid, same position-union coverage,
    // same integer numerators over the token char mass, verdicts on
    // raw values. Numerator sums CAST out of DuckDB's HUGEINT.
    "doc_gopher_repetition" ->
      """WITH nt AS (
        |  SELECT doc_id, COALESCE(text, '') AS raw,
        |         string_split(lower(trim(regexp_replace(COALESCE(text, ''), '\s+', ' ', 'g'))), ' ') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, toks,
        |         CAST(length(replace(array_to_string(toks, ' '), ' ', '')) AS BIGINT) AS cm,
        |         list_filter(list_transform(string_split(raw, chr(10)), l -> trim(l)),
        |                     l -> length(l) > 0) AS lines,
        |         list_filter(list_transform(string_split_regex(raw, '\n{2,}'), p -> trim(p)),
        |                     p -> length(p) > 0) AS paras
        |  FROM nt),
        |pr AS (
        |  SELECT doc_id, cm,
        |         len(lines) AS nl, len(list_distinct(lines)) AS ndl,
        |         CAST(COALESCE(list_sum(list_transform(lines, l -> length(l))), 0) AS BIGINT) AS lc,
        |         CAST(COALESCE(list_sum(list_transform(list_distinct(lines), l -> length(l))), 0) AS BIGINT) AS dlc,
        |         len(paras) AS np, len(list_distinct(paras)) AS ndp,
        |         CAST(COALESCE(list_sum(list_transform(paras, p -> length(p))), 0) AS BIGINT) AS pc,
        |         CAST(COALESCE(list_sum(list_transform(list_distinct(paras), p -> length(p))), 0) AS BIGINT) AS dpc
        |  FROM b),
        |g0 AS (
        |  SELECT doc_id, n, unnest(generate_series(1, len(toks) - n + 1)) AS pos, toks
        |  FROM nt, (VALUES (2),(3),(4),(5),(6),(7),(8),(9),(10)) v(n)
        |  WHERE len(toks) >= n),
        |grid AS (
        |  SELECT doc_id, n, pos, array_to_string(toks[pos : pos + n - 1], ' ') AS gram
        |  FROM g0),
        |tc AS (
        |  SELECT doc_id, n, gram, count(*) AS c
        |  FROM grid WHERE n <= 4 GROUP BY 1, 2, 3),
        |tw AS (
        |  SELECT doc_id, n, mass FROM (
        |    SELECT doc_id, n, CAST(c * (length(gram) - (n - 1)) AS BIGINT) AS mass, gram,
        |           row_number() OVER (PARTITION BY doc_id, n
        |             ORDER BY c * (length(gram) - (n - 1)) DESC, gram DESC) AS rn
        |    FROM tc) WHERE rn = 1),
        |tp AS (
        |  SELECT doc_id,
        |         max(CASE WHEN n = 2 THEN mass END) AS top_2,
        |         max(CASE WHEN n = 3 THEN mass END) AS top_3,
        |         max(CASE WHEN n = 4 THEN mass END) AS top_4
        |  FROM tw GROUP BY doc_id),
        |dg AS (
        |  SELECT doc_id, n, list(pos) AS ps
        |  FROM grid WHERE n >= 5 GROUP BY doc_id, n, gram HAVING count(*) > 1),
        |dr AS (
        |  SELECT doc_id, n,
        |         flatten(list_transform(ps, p -> generate_series(p, p + n - 1))) AS cov
        |  FROM dg),
        |du AS (
        |  SELECT doc_id, n, list_distinct(flatten(list(cov))) AS cov
        |  FROM dr GROUP BY doc_id, n),
        |dm AS (
        |  SELECT d.doc_id, d.n,
        |         CAST(COALESCE(list_sum(list_transform(d.cov, p -> length(nt.toks[p]))), 0) AS BIGINT) AS mass
        |  FROM du d JOIN nt USING (doc_id)),
        |dp AS (
        |  SELECT doc_id,
        |         max(CASE WHEN n = 5 THEN mass END) AS dup_5,
        |         max(CASE WHEN n = 6 THEN mass END) AS dup_6,
        |         max(CASE WHEN n = 7 THEN mass END) AS dup_7,
        |         max(CASE WHEN n = 8 THEN mass END) AS dup_8,
        |         max(CASE WHEN n = 9 THEN mass END) AS dup_9,
        |         max(CASE WHEN n = 10 THEN mass END) AS dup_10
        |  FROM dm GROUP BY doc_id),
        |f AS (
        |  SELECT p.doc_id,
        |         (p.nl - p.ndl) / greatest(p.nl, 1)::DOUBLE AS dup_line_raw,
        |         (p.np - p.ndp) / greatest(p.np, 1)::DOUBLE AS dup_para_raw,
        |         (p.lc - p.dlc) / greatest(p.lc, 1)::DOUBLE AS dup_line_ch_raw,
        |         (p.pc - p.dpc) / greatest(p.pc, 1)::DOUBLE AS dup_para_ch_raw,
        |         COALESCE(t.top_2, 0) / greatest(p.cm, 1)::DOUBLE AS top2_raw,
        |         COALESCE(t.top_3, 0) / greatest(p.cm, 1)::DOUBLE AS top3_raw,
        |         COALESCE(t.top_4, 0) / greatest(p.cm, 1)::DOUBLE AS top4_raw,
        |         COALESCE(d.dup_5, 0) / greatest(p.cm, 1)::DOUBLE AS dup5_raw,
        |         COALESCE(d.dup_6, 0) / greatest(p.cm, 1)::DOUBLE AS dup6_raw,
        |         COALESCE(d.dup_7, 0) / greatest(p.cm, 1)::DOUBLE AS dup7_raw,
        |         COALESCE(d.dup_8, 0) / greatest(p.cm, 1)::DOUBLE AS dup8_raw,
        |         COALESCE(d.dup_9, 0) / greatest(p.cm, 1)::DOUBLE AS dup9_raw,
        |         COALESCE(d.dup_10, 0) / greatest(p.cm, 1)::DOUBLE AS dup10_raw
        |  FROM pr p LEFT JOIN tp t USING (doc_id) LEFT JOIN dp d USING (doc_id))
        |SELECT doc_id,
        |       CAST(ROUND(dup_line_raw, 6) AS DOUBLE) AS dup_line_frac,
        |       CAST(ROUND(dup_para_raw, 6) AS DOUBLE) AS dup_para_frac,
        |       CAST(ROUND(dup_line_ch_raw, 6) AS DOUBLE) AS dup_line_char_frac,
        |       CAST(ROUND(dup_para_ch_raw, 6) AS DOUBLE) AS dup_para_char_frac,
        |       CAST(ROUND(top2_raw, 6) AS DOUBLE) AS top_2gram_char_frac,
        |       CAST(ROUND(top3_raw, 6) AS DOUBLE) AS top_3gram_char_frac,
        |       CAST(ROUND(top4_raw, 6) AS DOUBLE) AS top_4gram_char_frac,
        |       CAST(ROUND(dup5_raw, 6) AS DOUBLE) AS dup_5gram_char_frac,
        |       CAST(ROUND(dup6_raw, 6) AS DOUBLE) AS dup_6gram_char_frac,
        |       CAST(ROUND(dup7_raw, 6) AS DOUBLE) AS dup_7gram_char_frac,
        |       CAST(ROUND(dup8_raw, 6) AS DOUBLE) AS dup_8gram_char_frac,
        |       CAST(ROUND(dup9_raw, 6) AS DOUBLE) AS dup_9gram_char_frac,
        |       CAST(ROUND(dup10_raw, 6) AS DOUBLE) AS dup_10gram_char_frac,
        |       dup_line_raw <= 0.30 AND dup_para_raw <= 0.30
        |         AND dup_line_ch_raw <= 0.20 AND dup_para_ch_raw <= 0.20
        |         AND top2_raw <= 0.20 AND top3_raw <= 0.18 AND top4_raw <= 0.16
        |         AND dup5_raw <= 0.15 AND dup6_raw <= 0.14 AND dup7_raw <= 0.13
        |         AND dup8_raw <= 0.12 AND dup9_raw <= 0.11 AND dup10_raw <= 0.10 AS pass
        |FROM f ORDER BY doc_id""".stripMargin,

    "doc_neardup_clusters" ->
      s"""WITH RECURSIVE sh AS ($docShingles),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sh a, sh b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE
         |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
         |SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM (
         |  SELECT src AS id, dst AS lbl FROM reach
         |  UNION SELECT src, src FROM edges)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "doc_dedup_near" ->
      s"""WITH RECURSIVE sh AS ($docShingles),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sh a, sh b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE
         |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |clusters AS (
         |  SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM (
         |    SELECT src AS id, dst AS lbl FROM reach
         |    UNION SELECT src, src FROM edges)
         |  GROUP BY 1)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
         |ORDER BY doc_id""".stripMargin,

    // Same cluster computation; the survivor is the longest member
    // (ties min doc_id) instead of the minimum id.
    "doc_dedup_keep_best" ->
      s"""WITH RECURSIVE sh AS ($docShingles),
         |pairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sh a, sh b
         |  WHERE a.doc_id < b.doc_id
         |    AND len(list_intersect(a.s, b.s))::DOUBLE
         |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM pairs
         |  UNION SELECT b_id, a_id FROM pairs),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |clusters AS (
         |  SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM (
         |    SELECT src AS id, dst AS lbl FROM reach
         |    UNION SELECT src, src FROM edges)
         |  GROUP BY 1),
         |scored AS (
         |  SELECT c.doc_id, c.cluster_id, length(d.text) AS score
         |  FROM clusters c JOIN documents d USING (doc_id)),
         |winners AS (
         |  SELECT doc_id FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY cluster_id
         |                             ORDER BY score DESC, doc_id) = 1)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT doc_id FROM scored
         |  WHERE doc_id NOT IN (SELECT doc_id FROM winners))
         |ORDER BY doc_id""".stripMargin,

    // Content-hash incremental dedup truth: batch rows whose normalized
    // text matches nothing in the tier and are the batch's first
    // occurrence of their text.
    "doc_dedup_exact_incr" ->
      """WITH tier AS (
        |  SELECT DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM documents WHERE doc_id < 250),
        |batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
        |  UNION ALL SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id < 250
        |  UNION ALL SELECT doc_id + 200000, text FROM documents
        |  WHERE doc_id >= 250 AND doc_id % 7 = 0),
        |hashed AS (
        |  SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
        |  FROM batch)
        |SELECT doc_id FROM hashed
        |WHERE h NOT IN (SELECT h FROM tier)
        |QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    // Batch-global truth for the incremental path: dedup tier ∪ batch,
    // keep the batch rows. Tier = doc_id < 250; batch = the rest plus
    // planted copies of tier docs (ids + 100000).
    "doc_neardup_incremental" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id < 250),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks)-1),
        |                            i -> array_to_string(toks[i:i+2], ' '))) END AS s
        |  FROM (SELECT doc_id,
        |               string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |        FROM corpus)),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |clusters AS (
        |  SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM (
        |    SELECT src AS id, dst AS lbl FROM reach
        |    UNION SELECT src, src FROM edges)
        |  GROUP BY 1)
        |SELECT doc_id FROM corpus
        |WHERE doc_id >= 250
        |  AND doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
        |ORDER BY doc_id""".stripMargin,

    // Same fixture and all-pairs machinery, but the FULL surviving tier
    // (both slices): min-id canonical of every 0.5-jaccard cluster.
    "stream_doc_ingest" ->
      """WITH RECURSIVE corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents
        |  WHERE doc_id % 5 = 0 AND doc_id < 250),
        |sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks)-1),
        |                            i -> array_to_string(toks[i:i+2], ' '))) END AS s
        |  FROM (SELECT doc_id,
        |               string_split_regex(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
        |        FROM corpus)),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id
        |    AND len(list_intersect(a.s, b.s))::DOUBLE
        |        / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |clusters AS (
        |  SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM (
        |    SELECT src AS id, dst AS lbl FROM reach
        |    UNION SELECT src, src FROM edges)
        |  GROUP BY 1)
        |SELECT doc_id FROM corpus
        |WHERE doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
        |ORDER BY doc_id""".stripMargin,

    "doc_simhash_sig" ->
      s"""WITH sigs AS ($simhashSigs)
         |SELECT doc_id, sig AS simhash_bits FROM sigs ORDER BY doc_id""".stripMargin,

    // All-pairs hamming over the md5 signatures: matches the Spark
    // chunked-LSH plan exactly because 4-chunk pigeonhole bucketing has
    // recall 1 at hamming <= 3.
    "doc_neardup_simhash" ->
      s"""WITH sigs AS ($simhashSigs)
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(len(list_filter(range(1, 65),
         |                i -> substr(a.sig, CAST(i AS INT), 1) <> substr(b.sig, CAST(i AS INT), 1))) AS INT) AS hamming
         |FROM sigs a, sigs b
         |WHERE a.doc_id < b.doc_id
         |  AND len(list_filter(range(1, 65),
         |          i -> substr(a.sig, CAST(i AS INT), 1) <> substr(b.sig, CAST(i AS INT), 1))) <= 3
         |ORDER BY 1, 2""".stripMargin,

    "emb_top3_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |probes AS (SELECT vec_id AS probe_id, v AS p FROM e WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT pr.probe_id, e.vec_id AS neighbor_id,
        |         list_dot_product(pr.p, e.v)
        |           / (sqrt(list_dot_product(pr.p, pr.p)) * sqrt(list_dot_product(e.v, e.v))) AS sim
        |  FROM probes pr, e WHERE e.vec_id <> pr.probe_id)
        |SELECT probe_id, rank, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT probe_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    // Label-audit replay: same exact top-8 candidates, per-anchor
    // label vote counts, majority by (count DESC, label ASC).
    "emb_knn_label_audit" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id, b.label AS n_label,
        |         list_dot_product(a.v, b.v)
        |           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
        |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
        |cand AS (
        |  SELECT * FROM (SELECT *,
        |           row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neighbor_id) AS rk
        |         FROM scored) WHERE rk <= 8),
        |votes AS (SELECT anchor_id, n_label, count(*) AS c FROM cand GROUP BY 1, 2),
        |maj AS (
        |  SELECT anchor_id, n_label AS knn_label, CAST(c AS BIGINT) AS votes,
        |         row_number() OVER (PARTITION BY anchor_id ORDER BY c DESC, n_label) AS rn
        |  FROM votes)
        |SELECT e.vec_id, e.label, m.knn_label, m.votes,
        |       e.label <> m.knn_label AS suspect
        |FROM e JOIN maj m ON e.vec_id = m.anchor_id
        |WHERE m.rn = 1 ORDER BY e.vec_id""".stripMargin,

    // Triplet replay: exact top-8 candidates (same ranking as the
    // Spark graph), then per anchor the max-(sim, id) same-label and
    // different-label rows; anchors missing either class are dropped.
    "emb_triplet_mining" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |scored AS (
        |  SELECT a.vec_id AS anchor_id, b.vec_id AS neighbor_id,
        |         a.label AS a_label, b.label AS n_label,
        |         list_dot_product(a.v, b.v)
        |           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS sim
        |  FROM e a, e b WHERE a.vec_id <> b.vec_id),
        |cand AS (
        |  SELECT * FROM (SELECT *,
        |           row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neighbor_id) AS rk
        |         FROM scored) WHERE rk <= 8),
        |pos AS (
        |  SELECT anchor_id, neighbor_id AS positive_id, sim AS pos_sim,
        |         row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neighbor_id DESC) AS rn
        |  FROM cand WHERE a_label = n_label),
        |neg AS (
        |  SELECT anchor_id, neighbor_id AS negative_id, sim AS neg_sim,
        |         row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neighbor_id DESC) AS rn
        |  FROM cand WHERE a_label <> n_label)
        |SELECT p.anchor_id,
        |       positive_id, CAST(ROUND(pos_sim, 6) AS DOUBLE) AS pos_sim,
        |       negative_id, CAST(ROUND(neg_sim, 6) AS DOUBLE) AS neg_sim
        |FROM pos p JOIN neg n ON p.anchor_id = n.anchor_id
        |WHERE p.rn = 1 AND n.rn = 1
        |ORDER BY p.anchor_id""".stripMargin,

    // Cluster = 6-plane md5 sign bucket (same plane family the LSH
    // oracles replay); kept ⇔ no lower-id cluster-mate at cosine
    // >= 0.97. Rule evaluated on RAW cosine — no rounding anywhere.
    "emb_semdedup" ->
      """WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
        |planes AS (
        |  SELECT p, list_transform(range(0, (SELECT dim FROM dims)), d ->
        |      CAST(CAST('0x' || substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 8) AS BIGINT) AS DOUBLE)
        |        / 2147483648.0 - 1.0) AS plane
        |  FROM range(0, 6) t(p)),
        |fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |clustered AS (
        |  SELECT vec_id, v,
        |    CAST((SELECT SUM(CASE WHEN list_dot_product(f.v, pl.plane) > 0
        |                THEN 1::BIGINT << CAST(pl.p AS INT) ELSE 0 END) FROM planes pl)
        |         AS BIGINT) AS cluster
        |  FROM fixture f)
        |SELECT c.vec_id, c.cluster,
        |       NOT EXISTS (
        |         SELECT 1 FROM clustered a
        |         WHERE a.cluster = c.cluster AND a.vec_id < c.vec_id
        |           AND list_dot_product(a.v, c.v)
        |               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.97
        |       ) AS kept
        |FROM clustered c ORDER BY vec_id""".stripMargin,

    "emb_neardup_cosine" ->
      """WITH fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       CAST(ROUND(list_dot_product(a.v, b.v)
        |         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS DOUBLE) AS sim
        |FROM fixture a, fixture b
        |WHERE a.vec_id < b.vec_id
        |  AND list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.999
        |ORDER BY 1, 2""".stripMargin,

    "emb_dedup_exact" ->
      """WITH fixture AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT MIN(vec_id) AS vec_id FROM fixture GROUP BY embedding ORDER BY 1""".stripMargin,

    // Treadmill convergence oracle: the running tier after both slices
    // equals batch-global keep-min dedup over the whole fixture —
    // the same SQL as emb_dedup_near (tier ids precede batch ids, the
    // nearDupAgainst contract).
    "emb_ingest_incremental" ->
      """WITH RECURSIVE fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM fixture a, fixture b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_dot_product(a.v, b.v)
        |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.999),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |clusters AS (
        |  SELECT id AS vec_id, MIN(lbl) AS cluster_id FROM (
        |    SELECT src AS id, dst AS lbl FROM reach
        |    UNION SELECT src, src FROM edges)
        |  GROUP BY 1)
        |SELECT vec_id FROM fixture
        |WHERE vec_id NOT IN (SELECT vec_id FROM clusters WHERE vec_id <> cluster_id)
        |ORDER BY vec_id""".stripMargin,

    // The streamed treadmill lands the SAME fixture through the
    // checkpointed file source, so batch-global keep-min dedup is the
    // identical truth (nearDupAgainstCosine's convergence contract is
    // transport-independent).
    "stream_vec_ingest" ->
      """WITH RECURSIVE fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM fixture a, fixture b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_dot_product(a.v, b.v)
        |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.999),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |clusters AS (
        |  SELECT id AS vec_id, MIN(lbl) AS cluster_id FROM (
        |    SELECT src AS id, dst AS lbl FROM reach
        |    UNION SELECT src, src FROM edges)
        |  GROUP BY 1)
        |SELECT vec_id FROM fixture
        |WHERE vec_id NOT IN (SELECT vec_id FROM clusters WHERE vec_id <> cluster_id)
        |ORDER BY vec_id""".stripMargin,

    // Rollover serve gate: the tier is the whole corpus (no planted
    // twins in the slices; max natural cosine is far below the 0.999
    // threshold, so treadmill dedup drops nothing — the
    // emb_ingest_incremental oracle run on this twin-free fixture
    // returns every vec_id). Each +200000 probe's identical twin is
    // proposed under ANY generation (same argmax cell) and the refine
    // tail returns exact cosines, so refined rank-1 = brute-force
    // exact rank-1, sims compared full-value at 6dp.
    "emb_pq_regenerate" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |probes AS (SELECT vec_id + 200000 AS probe_id, v AS p FROM e WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT pr.probe_id, c.vec_id AS neighbor_id,
        |         list_dot_product(pr.p, c.v)
        |           / (sqrt(list_dot_product(pr.p, pr.p)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM probes pr, e c)
        |SELECT probe_id, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT probe_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank = 1 ORDER BY probe_id""".stripMargin,

    // Probed-graph twin gate: exact rank-1 over the fixture for every
    // planted anchor — the twin shares the anchor's assigned cell
    // under ANY trained quantizer, is therefore always proposed, and
    // the exact re-rank tail must surface it with its true cosine.
    "emb_knn_graph_pq_probed" ->
      """WITH fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |anchors AS (SELECT vec_id AS src_id, v AS a FROM fixture WHERE vec_id >= 100000),
        |scored AS (
        |  SELECT an.src_id, c.vec_id AS neighbor_id,
        |         list_dot_product(an.a, c.v)
        |           / (sqrt(list_dot_product(an.a, an.a)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM anchors an, fixture c WHERE c.vec_id <> an.src_id)
        |SELECT src_id, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT src_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank = 1 ORDER BY src_id""".stripMargin,

    "emb_dedup_near" ->
      """WITH RECURSIVE fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM fixture a, fixture b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_dot_product(a.v, b.v)
        |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.999),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |clusters AS (
        |  SELECT id AS vec_id, MIN(lbl) AS cluster_id FROM (
        |    SELECT src AS id, dst AS lbl FROM reach
        |    UNION SELECT src, src FROM edges)
        |  GROUP BY 1)
        |SELECT vec_id FROM fixture
        |WHERE vec_id NOT IN (SELECT vec_id FROM clusters WHERE vec_id <> cluster_id)
        |ORDER BY vec_id""".stripMargin,

    // Batch-global truth for the incremental embedding path: dedup
    // tier ∪ batch, keep the batch rows (vec_id >= 250 covers the
    // planted 100000+ ids too).
    "emb_neardup_incremental" ->
      """WITH RECURSIVE fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings
        |  WHERE vec_id % 50 = 0 AND vec_id < 250),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
        |  FROM fixture a, fixture b
        |  WHERE a.vec_id < b.vec_id
        |    AND list_dot_product(a.v, b.v)
        |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.999),
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION SELECT b_id, a_id FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |clusters AS (
        |  SELECT id AS vec_id, MIN(lbl) AS cluster_id FROM (
        |    SELECT src AS id, dst AS lbl FROM reach
        |    UNION SELECT src, src FROM edges)
        |  GROUP BY 1)
        |SELECT vec_id FROM fixture
        |WHERE vec_id >= 250
        |  AND vec_id NOT IN (SELECT vec_id FROM clusters WHERE vec_id <> cluster_id)
        |ORDER BY vec_id""".stripMargin,

    // Full replica of the md5-plane LSH ANN path: same plane
    // derivation, bucket assignment, candidate join, and ranking as
    // Similarity.lshBucketMd5/topKLsh.
    "emb_topk_lsh" ->
      """WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
        |planes AS (
        |  SELECT p, list_transform(range(0, (SELECT dim FROM dims)), d ->
        |      CAST(CAST('0x' || substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 8) AS BIGINT) AS DOUBLE)
        |        / 2147483648.0 - 1.0) AS plane
        |  FROM range(0, 8) t(p)),
        |fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |bucketed AS (
        |  SELECT vec_id, v,
        |    (SELECT SUM(CASE WHEN list_dot_product(f.v, pl.plane) > 0
        |                THEN 1::BIGINT << CAST(pl.p AS INT) ELSE 0 END) FROM planes pl) AS bucket
        |  FROM fixture f),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |         list_dot_product(p.v, c.v)
        |           / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM bucketed p JOIN bucketed c ON p.bucket = c.bucket AND p.vec_id <> c.vec_id
        |  WHERE p.vec_id >= 100000)
        |SELECT probe_id, rank, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT probe_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    // kNN graph: same md5-derived planes as the banded probe oracle,
    // but EVERY vector is a probe and buckets outside [2, 64] are
    // skipped — mirroring knnGraph's cap exactly.
    "emb_knn_graph" ->
      """WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
        |planes AS (
        |  SELECT q // 8 AS band, q % 8 AS p,
        |         list_transform(range(0, (SELECT dim FROM dims)), d ->
        |      CAST(CAST('0x' || substr(md5(q::VARCHAR || ':' || d::VARCHAR), 1, 8) AS BIGINT) AS DOUBLE)
        |        / 2147483648.0 - 1.0) AS plane
        |  FROM range(0, 32) t(q)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |keyed AS (
        |  SELECT e.vec_id, pl.band,
        |         SUM(CASE WHEN list_dot_product(e.v, pl.plane) > 0
        |             THEN 1::BIGINT << CAST(pl.p AS INT) ELSE 0 END) AS bucket
        |  FROM e, planes pl GROUP BY 1, 2),
        |ok AS (SELECT band, bucket FROM keyed
        |       GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND 64),
        |kb AS (SELECT keyed.* FROM keyed JOIN ok USING (band, bucket)),
        |cands AS (
        |  SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS neighbor_id
        |  FROM kb a JOIN kb b ON a.band = b.band AND a.bucket = b.bucket
        |  WHERE a.vec_id <> b.vec_id),
        |scored AS (
        |  SELECT cd.src_id, cd.neighbor_id,
        |         list_dot_product(s.v, n.v)
        |           / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(n.v, n.v))) AS sim
        |  FROM cands cd
        |  JOIN e s ON s.vec_id = cd.src_id
        |  JOIN e n ON n.vec_id = cd.neighbor_id)
        |SELECT src_id, rank, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT src_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 3 ORDER BY src_id, rank""".stripMargin,

    // Mutual filter over the SAME ranked top-3: an edge survives only
    // when both directions are in each other's top-k.
    "emb_mutual_knn" ->
      """WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
        |planes AS (
        |  SELECT q // 8 AS band, q % 8 AS p,
        |         list_transform(range(0, (SELECT dim FROM dims)), d ->
        |      CAST(CAST('0x' || substr(md5(q::VARCHAR || ':' || d::VARCHAR), 1, 8) AS BIGINT) AS DOUBLE)
        |        / 2147483648.0 - 1.0) AS plane
        |  FROM range(0, 32) t(q)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |keyed AS (
        |  SELECT e.vec_id, pl.band,
        |         SUM(CASE WHEN list_dot_product(e.v, pl.plane) > 0
        |             THEN 1::BIGINT << CAST(pl.p AS INT) ELSE 0 END) AS bucket
        |  FROM e, planes pl GROUP BY 1, 2),
        |ok AS (SELECT band, bucket FROM keyed
        |       GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND 64),
        |kb AS (SELECT keyed.* FROM keyed JOIN ok USING (band, bucket)),
        |cands AS (
        |  SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS neighbor_id
        |  FROM kb a JOIN kb b ON a.band = b.band AND a.bucket = b.bucket
        |  WHERE a.vec_id <> b.vec_id),
        |scored AS (
        |  SELECT cd.src_id, cd.neighbor_id,
        |         list_dot_product(s.v, n.v)
        |           / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(n.v, n.v))) AS sim
        |  FROM cands cd
        |  JOIN e s ON s.vec_id = cd.src_id
        |  JOIN e n ON n.vec_id = cd.neighbor_id),
        |topk AS (
        |  SELECT src_id, neighbor_id, sim
        |  FROM (SELECT src_id, neighbor_id, sim,
        |               row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rank
        |        FROM scored)
        |  WHERE rank <= 3)
        |SELECT t.src_id AS a_id, t.neighbor_id AS b_id,
        |       CAST(ROUND(t.sim, 6) AS DOUBLE) AS sim
        |FROM topk t JOIN topk r
        |  ON r.src_id = t.neighbor_id AND r.neighbor_id = t.src_id
        |WHERE t.src_id < t.neighbor_id
        |ORDER BY a_id, b_id""".stripMargin,

    // Coverage replay: the emb_knn_graph candidate/rank machinery,
    // aggregated to per-anchor degree and RIGHT-joined to every vec_id
    // so cap-starved anchors surface as degree 0.
    "emb_knn_coverage" ->
      """WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
        |planes AS (
        |  SELECT q // 8 AS band, q % 8 AS p,
        |         list_transform(range(0, (SELECT dim FROM dims)), d ->
        |      CAST(CAST('0x' || substr(md5(q::VARCHAR || ':' || d::VARCHAR), 1, 8) AS BIGINT) AS DOUBLE)
        |        / 2147483648.0 - 1.0) AS plane
        |  FROM range(0, 32) t(q)),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |keyed AS (
        |  SELECT e.vec_id, pl.band,
        |         SUM(CASE WHEN list_dot_product(e.v, pl.plane) > 0
        |             THEN 1::BIGINT << CAST(pl.p AS INT) ELSE 0 END) AS bucket
        |  FROM e, planes pl GROUP BY 1, 2),
        |ok AS (SELECT band, bucket FROM keyed
        |       GROUP BY band, bucket HAVING count(*) BETWEEN 2 AND 64),
        |kb AS (SELECT keyed.* FROM keyed JOIN ok USING (band, bucket)),
        |cands AS (
        |  SELECT DISTINCT a.vec_id AS src_id, b.vec_id AS neighbor_id
        |  FROM kb a JOIN kb b ON a.band = b.band AND a.bucket = b.bucket
        |  WHERE a.vec_id <> b.vec_id),
        |scored AS (
        |  SELECT cd.src_id, cd.neighbor_id,
        |         list_dot_product(s.v, n.v)
        |           / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(n.v, n.v))) AS sim
        |  FROM cands cd
        |  JOIN e s ON s.vec_id = cd.src_id
        |  JOIN e n ON n.vec_id = cd.neighbor_id),
        |topk AS (
        |  SELECT src_id
        |  FROM (SELECT src_id, neighbor_id,
        |               row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rank
        |        FROM scored)
        |  WHERE rank <= 3)
        |SELECT e.vec_id, CAST(count(t.src_id) AS BIGINT) AS degree
        |FROM e LEFT JOIN topk t ON t.src_id = e.vec_id
        |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin,

    // PQ-graph replay: md5-plane cell assignment (the emb_semdedup
    // block), int8 quantize + md5 codebooks + argmin assignment +
    // reconstruction (the emb_topk_pq blocks), [2, 64] cell cap,
    // same-cell pairs scored with the affine PQ cosine, rank <= 3.
    "emb_knn_graph_pq" ->
      """WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
        |planes AS (
        |  SELECT p, list_transform(range(0, (SELECT dim FROM dims)), d ->
        |      CAST(CAST('0x' || substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 8) AS BIGINT) AS DOUBLE)
        |        / 2147483648.0 - 1.0) AS plane
        |  FROM range(0, 6) t(p)),
        |vd AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cells AS (
        |  SELECT vec_id, v,
        |    CAST((SELECT SUM(CASE WHEN list_dot_product(f.v, pl.plane) > 0
        |                THEN 1::BIGINT << CAST(pl.p AS INT) ELSE 0 END) FROM planes pl)
        |         AS BIGINT) AS cell
        |  FROM vd f),
        |mm AS (SELECT vec_id, cell, v, list_min(v) AS v_min, list_max(v) AS v_max FROM cells),
        |q AS (
        |  SELECT vec_id, cell, v_min, v_max,
        |         CASE WHEN v_max = v_min THEN list_transform(v, x -> 0)
        |              ELSE list_transform(v, x ->
        |                CAST(least(floor((x - v_min) * 255.0 / (v_max - v_min)), 255.0) AS INT)) END AS codes
        |  FROM mm),
        |books AS (
        |  SELECT j, c, list_transform(range(0, 16), i ->
        |      CAST('0x' || substr(md5('pq:' || (j * 8 + c)::VARCHAR || ':' || i::VARCHAR), 1, 2) AS INT)) AS cent
        |  FROM range(0, 4) t(j), range(0, 8) u(c)),
        |dists AS (
        |  SELECT q.vec_id, b.j, b.c, b.cent,
        |         CAST(list_sum(list_transform(range(1, 17), i ->
        |           (q.codes[CAST(b.j * 16 + i AS INT)] - b.cent[CAST(i AS INT)])
        |             * (q.codes[CAST(b.j * 16 + i AS INT)] - b.cent[CAST(i AS INT)]))) AS BIGINT) AS dist
        |  FROM q, books b),
        |assign AS (
        |  SELECT vec_id, j, c, cent,
        |         row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |  FROM dists),
        |recon AS (
        |  SELECT vec_id, flatten(list(cent ORDER BY j)) AS rc
        |  FROM assign WHERE rn = 1 GROUP BY vec_id),
        |n AS (
        |  SELECT q.vec_id, q.cell, q.v_min AS mn, (q.v_max - q.v_min) / 255.0 AS s, r.rc,
        |         CAST(len(r.rc) AS DOUBLE) AS d,
        |         CAST(CAST(list_sum(r.rc) AS BIGINT) AS DOUBLE) AS csum,
        |         CAST(CAST(list_sum(list_transform(r.rc, c -> c * c)) AS BIGINT) AS DOUBLE) AS csq
        |  FROM q JOIN recon r USING (vec_id)),
        |nn AS (SELECT *, d * mn * mn + 2.0 * mn * s * csum + s * s * csq AS normsq FROM n),
        |ok AS (SELECT cell FROM nn GROUP BY cell HAVING count(*) BETWEEN 2 AND 64),
        |kb AS (SELECT nn.* FROM nn JOIN ok USING (cell)),
        |scored AS (
        |  SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
        |         (a.d * a.mn * b.mn
        |           + a.mn * b.s * b.csum
        |           + b.mn * a.s * a.csum
        |           + a.s * b.s * CAST(CAST(list_sum(list_transform(range(1, CAST(a.d AS INT) + 1),
        |               i -> a.rc[CAST(i AS INT)] * b.rc[CAST(i AS INT)])) AS BIGINT) AS DOUBLE))
        |         / (sqrt(a.normsq) * sqrt(b.normsq)) AS sim
        |  FROM kb a JOIN kb b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
        |SELECT src_id, rank, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT src_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 3 ORDER BY src_id, rank""".stripMargin,

    // The refine oracle: the emb_knn_graph_pq machinery verbatim
    // through the PQ-scored pairs, then the top-8 refine cut on the
    // full-precision PQ sims (whose cross-engine ordering the base
    // gate already proves), then the exact-cosine re-rank over the
    // float vectors for ONLY those pairs — rank <= 3 with TRUE sims.
    "emb_knn_graph_pq_refine" ->
      """WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
        |planes AS (
        |  SELECT p, list_transform(range(0, (SELECT dim FROM dims)), d ->
        |      CAST(CAST('0x' || substr(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 8) AS BIGINT) AS DOUBLE)
        |        / 2147483648.0 - 1.0) AS plane
        |  FROM range(0, 6) t(p)),
        |vd AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |cells AS (
        |  SELECT vec_id, v,
        |    CAST((SELECT SUM(CASE WHEN list_dot_product(f.v, pl.plane) > 0
        |                THEN 1::BIGINT << CAST(pl.p AS INT) ELSE 0 END) FROM planes pl)
        |         AS BIGINT) AS cell
        |  FROM vd f),
        |mm AS (SELECT vec_id, cell, v, list_min(v) AS v_min, list_max(v) AS v_max FROM cells),
        |q AS (
        |  SELECT vec_id, cell, v_min, v_max,
        |         CASE WHEN v_max = v_min THEN list_transform(v, x -> 0)
        |              ELSE list_transform(v, x ->
        |                CAST(least(floor((x - v_min) * 255.0 / (v_max - v_min)), 255.0) AS INT)) END AS codes
        |  FROM mm),
        |books AS (
        |  SELECT j, c, list_transform(range(0, 16), i ->
        |      CAST('0x' || substr(md5('pq:' || (j * 8 + c)::VARCHAR || ':' || i::VARCHAR), 1, 2) AS INT)) AS cent
        |  FROM range(0, 4) t(j), range(0, 8) u(c)),
        |dists AS (
        |  SELECT q.vec_id, b.j, b.c, b.cent,
        |         CAST(list_sum(list_transform(range(1, 17), i ->
        |           (q.codes[CAST(b.j * 16 + i AS INT)] - b.cent[CAST(i AS INT)])
        |             * (q.codes[CAST(b.j * 16 + i AS INT)] - b.cent[CAST(i AS INT)]))) AS BIGINT) AS dist
        |  FROM q, books b),
        |assign AS (
        |  SELECT vec_id, j, c, cent,
        |         row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |  FROM dists),
        |recon AS (
        |  SELECT vec_id, flatten(list(cent ORDER BY j)) AS rc
        |  FROM assign WHERE rn = 1 GROUP BY vec_id),
        |n AS (
        |  SELECT q.vec_id, q.cell, q.v_min AS mn, (q.v_max - q.v_min) / 255.0 AS s, r.rc,
        |         CAST(len(r.rc) AS DOUBLE) AS d,
        |         CAST(CAST(list_sum(r.rc) AS BIGINT) AS DOUBLE) AS csum,
        |         CAST(CAST(list_sum(list_transform(r.rc, c -> c * c)) AS BIGINT) AS DOUBLE) AS csq
        |  FROM q JOIN recon r USING (vec_id)),
        |nn AS (SELECT *, d * mn * mn + 2.0 * mn * s * csum + s * s * csq AS normsq FROM n),
        |ok AS (SELECT cell FROM nn GROUP BY cell HAVING count(*) BETWEEN 2 AND 64),
        |kb AS (SELECT nn.* FROM nn JOIN ok USING (cell)),
        |scored AS (
        |  SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
        |         (a.d * a.mn * b.mn
        |           + a.mn * b.s * b.csum
        |           + b.mn * a.s * a.csum
        |           + a.s * b.s * CAST(CAST(list_sum(list_transform(range(1, CAST(a.d AS INT) + 1),
        |               i -> a.rc[CAST(i AS INT)] * b.rc[CAST(i AS INT)])) AS BIGINT) AS DOUBLE))
        |         / (sqrt(a.normsq) * sqrt(b.normsq)) AS sim
        |  FROM kb a JOIN kb b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
        |refine AS (
        |  SELECT src_id, neighbor_id
        |  FROM (SELECT src_id, neighbor_id,
        |               row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rank
        |        FROM scored)
        |  WHERE rank <= 8),
        |exact AS (
        |  SELECT r.src_id, r.neighbor_id,
        |         list_dot_product(s.v, n2.v)
        |           / (sqrt(list_dot_product(s.v, s.v)) * sqrt(list_dot_product(n2.v, n2.v))) AS sim
        |  FROM refine r
        |  JOIN vd s ON s.vec_id = r.src_id
        |  JOIN vd n2 ON n2.vec_id = r.neighbor_id)
        |SELECT src_id, rank, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT src_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM exact)
        |WHERE rank <= 3 ORDER BY src_id, rank""".stripMargin,

    // Full replica of the BANDED md5-plane LSH ANN path: global plane
    // index q = band*planesPerBand + p over the same md5 derivation,
    // per-band bucket keys, candidates = pairs sharing ANY band bucket
    // (deduped), then exact-cosine ranking — mirrors
    // Similarity.lshBandKeysMd5/topKLshBanded (bands=4, r=8).
    "emb_topk_lsh_banded" ->
      """WITH dims AS (SELECT len(embedding) AS dim FROM embeddings LIMIT 1),
        |planes AS (
        |  SELECT q // 8 AS band, q % 8 AS p,
        |         list_transform(range(0, (SELECT dim FROM dims)), d ->
        |      CAST(CAST('0x' || substr(md5(q::VARCHAR || ':' || d::VARCHAR), 1, 8) AS BIGINT) AS DOUBLE)
        |        / 2147483648.0 - 1.0) AS plane
        |  FROM range(0, 32) t(q)),
        |fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |keyed AS (
        |  SELECT f.vec_id, pl.band,
        |         SUM(CASE WHEN list_dot_product(f.v, pl.plane) > 0
        |             THEN 1::BIGINT << CAST(pl.p AS INT) ELSE 0 END) AS bucket
        |  FROM fixture f, planes pl GROUP BY 1, 2),
        |cands AS (
        |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
        |  FROM keyed p JOIN keyed c ON p.band = c.band AND p.bucket = c.bucket
        |  WHERE p.vec_id >= 100000 AND p.vec_id <> c.vec_id),
        |scored AS (
        |  SELECT cd.probe_id, cd.neighbor_id,
        |         list_dot_product(p.v, c.v)
        |           / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM cands cd
        |  JOIN fixture p ON p.vec_id = cd.probe_id
        |  JOIN fixture c ON c.vec_id = cd.neighbor_id)
        |SELECT probe_id, rank, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT probe_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    // IVF twin-recall gate: brute-force exact rank-1 over the fixture.
    // Each probe's identical twin shares its argmax centroid, so the
    // IVF candidate set always contains the true nearest neighbor and
    // IVF rank-1 == exact rank-1 by construction.
    "emb_topk_ivf" ->
      """WITH fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |probes AS (SELECT vec_id AS probe_id, v AS p FROM fixture WHERE vec_id >= 100000),
        |scored AS (
        |  SELECT pr.probe_id, c.vec_id AS neighbor_id,
        |         list_dot_product(pr.p, c.v)
        |           / (sqrt(list_dot_product(pr.p, pr.p)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM probes pr, fixture c WHERE c.vec_id <> pr.probe_id)
        |SELECT probe_id, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT probe_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank = 1 ORDER BY probe_id""".stripMargin,

    // Refined rank-1 is EXACT: brute-force top-1 with its true cosine
    // (the refine join re-scores in floats, so sim compares full-value).
    "emb_topk_ivfpq_refine" ->
      """WITH fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |probes AS (SELECT vec_id AS probe_id, v AS p FROM fixture WHERE vec_id >= 100000),
        |scored AS (
        |  SELECT pr.probe_id, c.vec_id AS neighbor_id,
        |         list_dot_product(pr.p, c.v)
        |           / (sqrt(list_dot_product(pr.p, pr.p)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM probes pr, fixture c WHERE c.vec_id <> pr.probe_id)
        |SELECT probe_id, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT probe_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank = 1 ORDER BY probe_id""".stripMargin,

    // Twin-invariant replay: on this fixture cosine ≥ 0.97 ⇔ identical
    // twin ⇔ same cell under ANY pure-function clustering, so the
    // within-cell EXISTS collapses to a global EXISTS — no k-means
    // replay needed.
    "emb_semdedup_kmeans" ->
      """WITH fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0)
        |SELECT c.vec_id,
        |       NOT EXISTS (
        |         SELECT 1 FROM fixture a
        |         WHERE a.vec_id < c.vec_id
        |           AND list_dot_product(a.v, c.v)
        |               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))) >= 0.97
        |       ) AS kept
        |FROM fixture c ORDER BY vec_id""".stripMargin,

    // exact DECIMAL(38,18) sums: any float→decimal last-ulp divergence
    // (≤5e-19 per element) stays far below the round-to-6 resolution
    // after the double cast.
    "emb_label_centroids" ->
      """SELECT label, CAST(i AS INT) AS dim,
        |       CAST(round(CAST(sum(CAST(embedding[CAST(i + 1 AS INT)] AS DECIMAL(38,18))) AS DOUBLE)
        |                    / count(*), 6) AS DOUBLE) AS centroid_v
        |FROM embeddings, LATERAL (SELECT unnest(range(0, len(embedding))) AS i)
        |GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,

    // Same fixed IEEE expression shape as the operator: widen to
    // DOUBLE, min/max, floor-scale, clamp — bit-identical codes
    // (joined to one comma string per row so the comparator can sort).
    "emb_quantize_int8" ->
      """WITH vd AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |mm AS (
        |  SELECT vec_id, v, list_min(v) AS v_min, list_max(v) AS v_max FROM vd)
        |SELECT vec_id, v_min, v_max,
        |       array_to_string(
        |         CASE WHEN v_max = v_min THEN list_transform(v, x -> 0)
        |              ELSE list_transform(v, x ->
        |                CAST(least(floor((x - v_min) * 255.0 / (v_max - v_min)), 255.0) AS INT))
        |         END, ',') AS codes
        |FROM mm ORDER BY vec_id""".stripMargin,

    // Replays the exact same algebra: quantize, integer sums (cast out
    // of DuckDB's HUGEINT), then the identical multiply/add order so
    // every IEEE op matches the Spark expression bit-for-bit.
    "emb_topk_quantized" ->
      """WITH vd AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |mm AS (SELECT vec_id, v, list_min(v) AS vmin, list_max(v) AS vmax FROM vd),
        |q AS (
        |  SELECT vec_id, vmin AS mn, (vmax - vmin) / 255.0 AS s,
        |         CASE WHEN vmax = vmin THEN list_transform(v, x -> 0)
        |              ELSE list_transform(v, x ->
        |                CAST(least(floor((x - vmin) * 255.0 / (vmax - vmin)), 255.0) AS INT)) END AS codes,
        |         CAST(len(v) AS DOUBLE) AS d
        |  FROM mm),
        |n AS (
        |  SELECT vec_id, mn, s, codes, d,
        |         CAST(CAST(list_sum(codes) AS BIGINT) AS DOUBLE) AS csum,
        |         CAST(CAST(list_sum(list_transform(codes, c -> c * c)) AS BIGINT) AS DOUBLE) AS csq
        |  FROM q),
        |nn AS (
        |  SELECT *, d * mn * mn + 2.0 * mn * s * csum + s * s * csq AS normsq FROM n),
        |probes AS (SELECT * FROM nn WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |         (p.d * p.mn * c.mn
        |           + p.mn * c.s * c.csum
        |           + c.mn * p.s * p.csum
        |           + p.s * c.s * CAST(CAST(list_sum(list_transform(range(1, CAST(p.d AS INT) + 1),
        |               i -> p.codes[i] * c.codes[i])) AS BIGINT) AS DOUBLE))
        |         / (sqrt(p.normsq) * sqrt(c.normsq)) AS sim
        |  FROM probes p, nn c WHERE c.vec_id <> p.vec_id)
        |SELECT probe_id, rank, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT probe_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    // PQ encode replay from first principles: the same quantize shape,
    // codebooks rebuilt from md5 (entry = first byte of
    // md5('pq:<j*8+c>:<i>')), integer L2 per subspace, ties to the
    // lowest centroid id via (dist, c) ranking — matching Spark's
    // array_position-of-first-minimum exactly.
    "emb_pq_codes" ->
      """WITH vd AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |mm AS (SELECT vec_id, v, list_min(v) AS v_min, list_max(v) AS v_max FROM vd),
        |q AS (
        |  SELECT vec_id, v_min, v_max,
        |         CASE WHEN v_max = v_min THEN list_transform(v, x -> 0)
        |              ELSE list_transform(v, x ->
        |                CAST(least(floor((x - v_min) * 255.0 / (v_max - v_min)), 255.0) AS INT)) END AS codes
        |  FROM mm),
        |books AS (
        |  SELECT j, c, list_transform(range(0, 16), i ->
        |      CAST('0x' || substr(md5('pq:' || (j * 8 + c)::VARCHAR || ':' || i::VARCHAR), 1, 2) AS INT)) AS cent
        |  FROM range(0, 4) t(j), range(0, 8) u(c)),
        |dists AS (
        |  SELECT q.vec_id, b.j, b.c,
        |         CAST(list_sum(list_transform(range(1, 17), i ->
        |           (q.codes[CAST(b.j * 16 + i AS INT)] - b.cent[CAST(i AS INT)])
        |             * (q.codes[CAST(b.j * 16 + i AS INT)] - b.cent[CAST(i AS INT)]))) AS BIGINT) AS dist
        |  FROM q, books b),
        |assign AS (
        |  SELECT vec_id, j, c,
        |         row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |  FROM dists),
        |pq AS (
        |  SELECT vec_id, string_agg(c::VARCHAR, ',' ORDER BY j) AS pq_codes
        |  FROM assign WHERE rn = 1 GROUP BY vec_id)
        |SELECT q.vec_id, q.v_min, q.v_max, pq.pq_codes
        |FROM q JOIN pq USING (vec_id) ORDER BY vec_id""".stripMargin,

    // Full PQ pipeline replay: encode (as above), reconstruct by
    // codebook lookup, then the identical affine cosine algebra as the
    // emb_topk_quantized oracle with reconstructed codes — integer
    // sums cast out of HUGEINT, one fixed IEEE multiply/add shape.
    "emb_topk_pq" ->
      """WITH vd AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |mm AS (SELECT vec_id, v, list_min(v) AS v_min, list_max(v) AS v_max FROM vd),
        |q AS (
        |  SELECT vec_id, v_min, v_max,
        |         CASE WHEN v_max = v_min THEN list_transform(v, x -> 0)
        |              ELSE list_transform(v, x ->
        |                CAST(least(floor((x - v_min) * 255.0 / (v_max - v_min)), 255.0) AS INT)) END AS codes
        |  FROM mm),
        |books AS (
        |  SELECT j, c, list_transform(range(0, 16), i ->
        |      CAST('0x' || substr(md5('pq:' || (j * 8 + c)::VARCHAR || ':' || i::VARCHAR), 1, 2) AS INT)) AS cent
        |  FROM range(0, 4) t(j), range(0, 8) u(c)),
        |dists AS (
        |  SELECT q.vec_id, b.j, b.c, b.cent,
        |         CAST(list_sum(list_transform(range(1, 17), i ->
        |           (q.codes[CAST(b.j * 16 + i AS INT)] - b.cent[CAST(i AS INT)])
        |             * (q.codes[CAST(b.j * 16 + i AS INT)] - b.cent[CAST(i AS INT)]))) AS BIGINT) AS dist
        |  FROM q, books b),
        |assign AS (
        |  SELECT vec_id, j, c, cent,
        |         row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, c) AS rn
        |  FROM dists),
        |recon AS (
        |  SELECT vec_id, flatten(list(cent ORDER BY j)) AS rc
        |  FROM assign WHERE rn = 1 GROUP BY vec_id),
        |n AS (
        |  SELECT q.vec_id, q.v_min AS mn, (q.v_max - q.v_min) / 255.0 AS s, r.rc,
        |         CAST(len(r.rc) AS DOUBLE) AS d,
        |         CAST(CAST(list_sum(r.rc) AS BIGINT) AS DOUBLE) AS csum,
        |         CAST(CAST(list_sum(list_transform(r.rc, c -> c * c)) AS BIGINT) AS DOUBLE) AS csq
        |  FROM q JOIN recon r USING (vec_id)),
        |nn AS (SELECT *, d * mn * mn + 2.0 * mn * s * csum + s * s * csq AS normsq FROM n),
        |probes AS (SELECT * FROM nn WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
        |         (p.d * p.mn * c.mn
        |           + p.mn * c.s * c.csum
        |           + c.mn * p.s * p.csum
        |           + p.s * c.s * CAST(CAST(list_sum(list_transform(range(1, CAST(p.d AS INT) + 1),
        |               i -> p.rc[CAST(i AS INT)] * c.rc[CAST(i AS INT)])) AS BIGINT) AS DOUBLE))
        |         / (sqrt(p.normsq) * sqrt(c.normsq)) AS sim
        |  FROM probes p, nn c WHERE c.vec_id <> p.vec_id)
        |SELECT probe_id, rank, neighbor_id, CAST(ROUND(sim, 6) AS DOUBLE) AS sim
        |FROM (SELECT probe_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,

    // IVF-PQ twin-recall gate: brute-force exact rank-1 over raw
    // floats — the twin invariant (identical cell, identical
    // reconstruction, Cauchy-Schwarz-maximal sim) forces IVF-PQ
    // rank-1 to coincide. Same oracle shape as emb_topk_ivf, minus
    // the approximate sim column.
    "emb_topk_ivfpq" ->
      """WITH fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |probes AS (SELECT vec_id AS probe_id, v AS p FROM fixture WHERE vec_id >= 100000),
        |scored AS (
        |  SELECT pr.probe_id, c.vec_id AS neighbor_id,
        |         list_dot_product(pr.p, c.v)
        |           / (sqrt(list_dot_product(pr.p, pr.p)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM probes pr, fixture c WHERE c.vec_id <> pr.probe_id)
        |SELECT probe_id, neighbor_id
        |FROM (SELECT probe_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank = 1 ORDER BY probe_id""".stripMargin,

    // Stored-tier twin gate: the index content equals the inline
    // encode of base ∪ twins (row-local encode), so the oracle is the
    // same exact brute-force rank-1 over raw floats.
    "emb_topk_ivfpq_stored" ->
      """WITH fixture AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id % 50 = 0),
        |probes AS (SELECT vec_id AS probe_id, v AS p FROM fixture WHERE vec_id >= 100000),
        |scored AS (
        |  SELECT pr.probe_id, c.vec_id AS neighbor_id,
        |         list_dot_product(pr.p, c.v)
        |           / (sqrt(list_dot_product(pr.p, pr.p)) * sqrt(list_dot_product(c.v, c.v))) AS sim
        |  FROM probes pr, fixture c WHERE c.vec_id <> pr.probe_id)
        |SELECT probe_id, neighbor_id
        |FROM (SELECT probe_id, neighbor_id, sim,
        |             row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        |      FROM scored)
        |WHERE rank = 1 ORDER BY probe_id""".stripMargin
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every query has an oracle: the
    * xxhash64-based kernels (SimHash, sign-LSH) gate through their
    * md5-derived twins, and IVF gates through its provable twin-recall
    * property. */
  def oracleSql: Map[String, String] =
    referenceOracles ++ llmOracles ++ curationOracles ++ analyticsOracles
}
