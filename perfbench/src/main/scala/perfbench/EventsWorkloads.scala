package perfbench

import java.io.File
import java.time.{LocalDateTime, ZoneOffset}
import java.util.zip.GZIPOutputStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Behavior, DataQuality, EventOps}
import graft.pipeline.PipelineReport
import graft.plans.Catalog
import graft.sources.{EventGenerator, PartitionedJsonSink}
import graft.streaming.StreamingPipeline

/** Workload inputs derived from the workload seed: one seed per batch,
  * so every batch carries fresh event ids (EventGenerator ids depend
  * only on (seed, row index); reusing one seed would re-deliver batch 0
  * under new-looking batches). */
object Seeds {
  def mix(seed: Long, salt: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }
}

/** The event-pipeline workloads: `events_ingest` (writes through the
  * streaming micro-batch pipeline) and `events_query` (the analyst reads
  * over the tables that pipeline maintains). */
object EventsWorkloads {

  /** `batchEvents` fresh events per landed batch, plus `redeliver` rows
    * of the previous batch landed again (at-least-once delivery) and
    * `malformed` unparseable lines; `batches` is the query history's
    * length, or the single-core baseline's batch count. Event time: `appendsPerDay` batches land on one event-day, evenly
    * spread over it, then event time jumps `dayGap` days. */
  final case class Sizes(batchEvents: Int, redeliver: Int, malformed: Int, batches: Int,
                         appendsPerDay: Int, dayGap: Int) {
    /** Epoch second of batch `b`'s first event (one event a second). */
    def start(b: Int): Long =
      BaseEpoch + (b / appendsPerDay) * dayGap * 86400L + (b % appendsPerDay) * (86400L / appendsPerDay)
  }

  /** events_ingest: big enough that the per-row cost is visible next to
    * the fixed per-batch cost (~25 Spark jobs); a batch every 8 h of
    * event time, so every third batch opens a new event-day. */
  def ingestSizes(tiny: Boolean): Sizes =
    if (tiny) Sizes(400, 20, 3, 1, appendsPerDay = 3, dayGap = 1)
    else Sizes(10000, 500, 3, 1, appendsPerDay = 3, dayGap = 1)

  /** events_query's history: five appends over three event-days four
    * days apart (two, two, one), so the tier is fragmented the way the
    * hourly loop leaves it, daily trends have a slope and retention
    * reaches week 1. No warm-up pass: the expected results run the same
    * queries first. */
  def historySizes(tiny: Boolean): Sizes =
    if (tiny) Sizes(300, 20, 3, 4, appendsPerDay = 2, dayGap = 8)
    else Sizes(1500, 100, 3, 5, appendsPerDay = 2, dayGap = 4)

  /** Set-ups per run (`Harness.setup`): the median is reported. */
  val SetupRepeats = 4

  val BaseEpoch = 1735689600L // 2025-01-01T00:00:00Z
  val Required = Seq("event_id", "ts", "event_type", "user_id")

  /** Batch `b`'s fresh events. */
  def fresh(spark: SparkSession, seed: Long, s: Sizes, b: Int): DataFrame =
    EventGenerator.events(spark, s.batchEvents, Seeds.mix(seed, b), s.start(b))

  /** The slice of batch `b - 1` that batch `b` delivers again. */
  def redelivered(spark: SparkSession, seed: Long, s: Sizes, b: Int): DataFrame =
    EventGenerator.events(spark, s.redeliver, Seeds.mix(seed, b - 1), s.start(b - 1))

  final case class Landed(fresh: Long, redelivered: Long, malformed: Long) {
    def +(o: Landed): Landed = Landed(fresh + o.fresh, redelivered + o.redelivered, malformed + o.malformed)
    def parsed: Long = fresh + redelivered
  }

  /** One event stream from an empty state: a landing root, a checkpoint
    * and the pipeline's tables, under `dir`. */
  final class Stream(h: Harness, dir: File, seed: Long, s: Sizes) {
    private val spark = h.spark
    val landing: String = new File(dir, "landing").getAbsolutePath
    private val checkpoint = new File(dir, "checkpoint").getAbsolutePath
    val reports = mutable.ArrayBuffer.empty[PipelineReport]
    /** Bytes landed per traced batch. */
    val landedBytes = mutable.ArrayBuffer.empty[Double]
    var landed = Landed(0, 0, 0)
    var batches = 0

    Seq(StreamingPipeline.RawTable, StreamingPipeline.EventsTable, StreamingPipeline.SummaryTable)
      .foreach(Catalog.dropIfExists(spark, _))

    /** Lands the next batch in the Firehose layout. */
    def land(): Landed = {
      val traced = h.tracer.current.isDefined
      val bytes0 = if (traced) Layers.dirStats(new File(landing))._1 else 0L
      val l = h.tracer.span("sources.land")(write())
      if (traced) landedBytes += (Layers.dirStats(new File(landing))._1 - bytes0).toDouble
      l
    }

    private def write(): Landed = {
      val b = batches
      val df = if (b == 0) fresh(spark, seed, s, b) else fresh(spark, seed, s, b).unionByName(redelivered(spark, seed, s, b))
      PartitionedJsonSink.write(df, landing)
      val hour = new File(PartitionedJsonSink.hourPath(landing,
        LocalDateTime.ofEpochSecond(s.start(b), 0, ZoneOffset.UTC)))
      hour.mkdirs()
      val out = new GZIPOutputStream(new java.io.FileOutputStream(new File(hour, s"malformed-b$b.json.gz")))
      try (0 until s.malformed).foreach { i =>
        out.write(s"""{"event_id": "broken-$b-$i", "event_timestamp": \n""".getBytes("UTF-8"))
      } finally out.close()
      val l = Landed(s.batchEvents, if (b == 0) 0 else s.redeliver, s.malformed)
      landed = landed + l
      batches += 1
      l
    }

    /** Drains everything landed; returns the seconds from the call to the
      * last batch report's delivery. */
    def drain(): Double = {
      val t0 = System.nanoTime()
      val startUs = h.tracer.nowUs
      var delivered = t0
      h.tracer.span("streaming.drain") {
        val q = StreamingPipeline.start(spark, landing, checkpoint, r => {
          reports += r
          delivered = System.nanoTime()
        })
        h.tracer.current.foreach(ctx => h.tracer.record("streaming.query_start", h.tracer.parent,
          ctx.op, startUs, h.streamListener.startedUs))
        q.awaitTermination()
      }
      (delivered - t0) / 1e9
    }
  }

  /** Correctness of an ingested stream against what was landed. */
  def ingestProblems(spark: SparkSession, st: Stream): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    val curated = spark.table(StreamingPipeline.EventsTable)
      .agg(count(lit(1)), countDistinct(col("event_id"))).head()
    if (curated.getLong(0) != st.landed.fresh || curated.getLong(1) != st.landed.fresh)
      p += s"events_curated holds ${curated.getLong(0)} rows / ${curated.getLong(1)} ids, landed ${st.landed.fresh} distinct ids"
    val raw = spark.table(StreamingPipeline.RawTable).count()
    if (raw != st.landed.parsed) p += s"raw_data holds $raw rows, landed ${st.landed.parsed} parsed lines"
    val summed = spark.table(StreamingPipeline.SummaryTable).agg(sum("event_count")).head()
    if (summed.isNullAt(0) || summed.getLong(0) != raw) p += s"summary event_count sums to ${summed.get(0)}, raw has $raw"
    val corrupt = st.reports.map(_.metrics.getOrElse("corrupt_rows", 0L)).sum
    if (corrupt != st.landed.malformed) p += s"reports count $corrupt corrupt rows, planted ${st.landed.malformed}"
    if (!st.reports.forall(_.ok)) p += "a batch report is not ok"
    p.toSeq
  }

  /** Appends a copy of one curated row: the deliberately corrupted tier
    * the self-check expects the checks to reject. */
  def corruptTier(spark: SparkSession, table: String): Unit = {
    val t = spark.table(table)
    val row = t.limit(1).collect().toSeq
    Catalog.insertAppend(spark, table, spark.createDataFrame(row.asJava, t.schema))
  }

  def ingest(h: Harness): Outcome = {
    val a = h.args
    val s = ingestSizes(a.tiny)
    // no warm-up batch: the set-ups before the loop run the same code
    val st = h.setup(SetupRepeats) { dir =>
      val st = new Stream(h, new File(dir, "ingest"), a.seed, s)
      st.land()
      st.drain()
      st
    }
    val spark = h.spark
    val samples = mutable.ArrayBuffer.empty[Sample]
    val tracedReports = mutable.ArrayBuffer.empty[PipelineReport]
    val elapsed = h.loop(a.seconds) { i =>
      h.op("ingest_batch", traced = i % 2 == 0) {
        val before = st.reports.size
        val l = st.land()
        val latency = st.drain()
        if (h.tracer.current.isDefined) tracedReports ++= st.reports.drop(before)
        (latency, l.parsed)
      }.map { case (latency, items) => samples += Sample(latency, items); items }.getOrElse(0L)
    }
    if (a.corrupt == "events") corruptTier(spark, StreamingPipeline.EventsTable)
    val problems = h.phase("check")(ingestProblems(spark, st))
    val layer = mutable.Map.empty[String, Double]
    if (a.trace) {
      layer ++= ingestLayer(h, st, tracedReports.toSeq)
      // the analyst mix over the tables this loop wrote: one untraced
      // pass to generate code, one traced pass
      for (on <- Seq(false, true)) Queries.foreach(q => h.within(q.name, on)(q.run(tableFrames(spark))))
      layer ++= operatorLayer(h)
    }
    Outcome(samples.toSeq, elapsed, problems, layer.toMap, afterTrace = () =>
      (Map("session.parallel_speedup" -> serialSpeedup(h, s, Stats.median(samples.map(_.latency).toSeq))),
        Seq.empty))
  }

  /** Streaming, pipeline-stage, source and table-layout metrics of the
    * traced batches of `st`. */
  private def ingestLayer(h: Harness, st: Stream, reports: Seq[PipelineReport]): Map[String, Double] =
    streamingLayer(h) ++
      Seq("load_raw", "dedup_insert", "refresh_summary", "evaluate_dq")
        .map(n => s"pipeline.${n}_s" -> Layers.medianSeconds(h, s"pipeline.$n")) ++
      Map(
        "pipeline.stage_retries" -> reports.flatMap(_.stages).map(_.attempts - 1).sum.toDouble,
        "sources.land_s" -> Layers.medianSeconds(h, "sources.land"),
        "sources.input_bytes_per_batch" -> Stats.median(st.landedBytes.toSeq),
        "sources.corrupt_rows" ->
          Stats.median(reports.map(_.metrics.getOrElse("corrupt_rows", 0L).toDouble))) ++
      planLayer(h.spark, st.landed.parsed)

  private def operatorLayer(h: Harness): Map[String, Double] =
    Queries.map(q => s"operators.${q.name}_s" -> Layers.medianSeconds(h, q.name)).toMap

  private def streamingLayer(h: Harness): Map[String, Double] =
    Seq("streaming.trigger_ms", "streaming.add_batch_ms", "streaming.bookkeeping_ms")
      .map(n => n -> Stats.median(h.tracer.samplesOf(n))).toMap +
      ("streaming.query_start_ms" ->
        Stats.median(h.tracer.spans.filter(_.name == "streaming.query_start").map(_.ms)))

  /** Stored bytes of the raw and curated tiers per event they hold, and
    * the curated tier's file count (its append fragmentation). */
  private def planLayer(spark: SparkSession, events: Long): Map[String, Double] = {
    val (rawBytes, _) = Layers.dirStats(Layers.tableDir(spark, StreamingPipeline.RawTable))
    val (tierBytes, tierFiles) = Layers.dirStats(Layers.tableDir(spark, StreamingPipeline.EventsTable))
    Map("plans.output_bytes_per_event" -> (rawBytes + tierBytes).toDouble / math.max(1L, events),
      "plans.tier_files" -> tierFiles.toDouble)
  }

  /** Starts the single-core session: `local[1]` with one shuffle
    * partition, as SPARK_GRAFT_CPUS=1 would give. */
  private def serialSession(h: Harness, dir: File): SparkSession = {
    h.stopSession()
    h.startSession(dir, master = "local[1]", shufflePartitions = 1, listen = false)
  }

  /** The single-core baseline of ingest: the same batches on a `local[1]`
    * session. Returns serial batch latency over the parallel one. */
  private def serialSpeedup(h: Harness, s: Sizes, parallelP50: Double): Double = {
    serialSession(h, new File(h.args.work, "serial"))
    val st = new Stream(h, new File(h.args.work, "serial-stream"), h.args.seed, s)
    st.land()
    st.drain()
    val serial = (0 until s.batches).map { _ => st.land(); st.drain() }
    Stats.median(serial) / parallelP50
  }

  /** What a query reads: the curated tier, the raw tier and the summary. */
  final case class Frames(tier: DataFrame, raw: DataFrame, summary: DataFrame)

  /** One query of the `events_query` mix, reduced to a (rows, checksum)
    * pair so the whole result is computed (a bare count would let the
    * optimizer prune window and aggregate columns) and can be compared
    * with the same query over the generator's frames. */
  final case class Query(name: String, run: Frames => (Long, Long))

  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(1L << 40))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  val Queries: Seq[Query] = Seq(
    Query("daily_summary", f => checksum(EventOps.dailySummary(f.raw))),
    Query("dq_duplicates", f => (DataQuality.duplicateCount(f.tier), 0L)),
    Query("dq_incomplete", f => (DataQuality.incompleteCount(f.tier, Required), 0L)),
    Query("running_count", f => checksum(EventOps.runningCount(f.tier))),
    Query("sessionize", f => checksum(EventOps.sessionize(f.tier))),
    Query("funnel", f => checksum(Behavior.funnel(f.tier, Seq("view", "click", "purchase")))),
    Query("retention", f => checksum(Behavior.retention(f.tier))),
    Query("daily_trend", f => checksum(EventOps.dailyTrend(f.tier))),
    Query("summary_read", f => checksum(f.summary)))
  require(Queries.map(_.name) == Metrics.QueryOps)

  private def events(df: DataFrame): DataFrame =
    df.select(col("event_id"), col("event_timestamp").as("ts"), col("event_type"), col("user_id"))

  /** The pipeline's tables as the queries read them. */
  private def tableFrames(spark: SparkSession): Frames =
    Frames(events(spark.table(StreamingPipeline.EventsTable)),
      events(spark.table(StreamingPipeline.RawTable)), spark.table(StreamingPipeline.SummaryTable))

  def query(h: Harness): Outcome = {
    val a = h.args
    val s = historySizes(a.tiny)
    // a set-up is the history's first batch into empty tables; the rest
    // of the history follows. Traced runs trace those later batches:
    // their streaming, pipeline and source layers describe this workload
    val st = h.setup(SetupRepeats) { dir =>
      val st = new Stream(h, new File(dir, "history"), a.seed, s)
      st.land()
      st.drain()
      st
    }
    h.phase("history") {
      for (_ <- 1 until s.batches) h.within("history_batch", a.trace) { st.land(); st.drain() }
    }
    val spark = h.spark
    val problems = mutable.ArrayBuffer.empty[String]
    h.phase("check")(problems ++= ingestProblems(spark, st))
    if (a.corrupt == "events") corruptTier(spark, StreamingPipeline.EventsTable)

    // the expected results: the same queries over the generator's frames
    // (the distinct events for the curated tier, everything landed for
    // the raw tier)
    // (the history's events are few: materialized once, they spare each
    // expected query the plan of a dozen generated and unioned frames)
    val gen = (0 until s.batches).map(b => fresh(spark, a.seed, s, b)).reduce(_ unionByName _)
      .localCheckpoint()
    val landed = (1 until s.batches).map(b => redelivered(spark, a.seed, s, b))
      .foldLeft(gen)(_ unionByName _).localCheckpoint()
    val expected = Frames(events(gen), events(landed), EventOps.dailySummary(events(landed)))
    val want = h.phase("expected")(Queries.map(q => q.name -> q.run(expected)).toMap)

    val results = mutable.Map.empty[String, Set[(Long, Long)]].withDefaultValue(Set.empty)
    val samples = mutable.ArrayBuffer.empty[Sample]
    val elapsed = h.loop(a.seconds) { cycle =>
      Queries.count { q =>
        h.op(q.name, cycle % 2 == 0)(results(q.name) += q.run(tableFrames(spark)))
          .map(_ => samples += Sample(h.ops.last.seconds, 1L)).isDefined
      }.toLong
    }
    Queries.foreach { q =>
      if (results(q.name) != Set(want(q.name)))
        problems += s"${q.name}: tier gave ${results(q.name).mkString(",")}, generator gives ${want(q.name)}"
    }
    val layer = mutable.Map.empty[String, Double]
    if (a.trace) {
      layer ++= ingestLayer(h, st, st.reports.drop(1).toSeq)
      layer ++= operatorLayer(h)
    }
    Outcome(samples.toSeq, elapsed, problems.toSeq, layer.toMap,
      afterTrace = () => serialQuerySpeedup(h, want))
  }

  /** The single-core baseline of the query mix: one pass over the same
    * tables, read from their files by a `local[1]` session. Returns the
    * serial pass's time over the parallel one (the sum of each query's
    * median), and the queries whose serial result is not the expected
    * one. */
  private def serialQuerySpeedup(h: Harness, want: Map[String, (Long, Long)]): (Map[String, Double], Seq[String]) = {
    val parallel = Queries.map(q => Stats.median(h.ops.filter(o => o.name == q.name && o.ok).map(_.seconds).toSeq)).sum
    val tier = Layers.tableDir(h.spark, StreamingPipeline.EventsTable).getPath
    val raw = Layers.tableDir(h.spark, StreamingPipeline.RawTable).getPath
    val spark = serialSession(h, h.sessionDir)
    spark.range(1).count() // the new context's first job
    val f = Frames(events(spark.read.parquet(tier)), events(spark.read.parquet(raw)),
      Catalog.tableAsOf(spark, StreamingPipeline.SummaryTable, 0))
    val t0 = System.nanoTime()
    val got = Queries.map(q => q.name -> q.run(f))
    val serial = (System.nanoTime() - t0) / 1e9
    (Map("session.parallel_speedup" -> serial / parallel),
      got.collect { case (n, r) if r != want(n) => s"$n at local[1]: got $r, want ${want(n)}" })
  }
}
