package perfbench

import java.io.File

import scala.collection.mutable

/** Command line of the JVM half of the benchmark (`run.py` builds it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: File,
    traceOut: File,
    tiny: Boolean,
    /** The table the self-check corrupts: "events", "documents" or "none". */
    corrupt: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") == "1",
      work = new File(need("work")).getAbsoluteFile,
      traceOut = new File(need("trace-out")).getAbsoluteFile,
      tiny = m.get("size").contains("tiny"),
      corrupt = m.getOrElse("corrupt", "none"))
  }
}

/** A completed operation of the measured loop: its latency as the user
  * sees it (for a batch, landing complete to report delivered) and the
  * items it processed. */
final case class Sample(latency: Double, items: Long)

/** What a workload hands back: its samples, the length of its measured
  * loop, the failed correctness checks, the per-layer metrics only it can
  * give, and the work a traced run does last (the single-core baseline,
  * which ends the workload's session), with its metrics and failed
  * checks. */
final case class Outcome(samples: Seq[Sample], elapsed: Double,
                         problems: Seq[String], layer: Map[String, Double],
                         afterTrace: () => (Map[String, Double], Seq[String]))

/** Metric names and units; `run.py` checks them against BENCHMARK.json. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "cpu_ms_per_item" -> "ms")

  val QueryOps: Seq[String] = Seq(
    "daily_summary", "dq_duplicates", "dq_incomplete", "running_count",
    "sessionize", "funnel", "retention", "daily_trend", "summary_read")

  val PerLayer: Seq[(String, String)] = Seq(
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.bookkeeping_ms" -> "ms", "streaming.query_start_ms" -> "ms",
    "pipeline.load_raw_s" -> "s", "pipeline.dedup_insert_s" -> "s",
    "pipeline.refresh_summary_s" -> "s", "pipeline.evaluate_dq_s" -> "s",
    "pipeline.stage_retries" -> "count",
    "pipeline.probe_tier_s" -> "s", "pipeline.incremental_neardup_s" -> "s",
    "pipeline.incremental_strip_spans_s" -> "s", "pipeline.publish_batch_s" -> "s",
    "sources.land_s" -> "s", "sources.input_bytes_per_batch" -> "bytes",
    "sources.corrupt_rows" -> "count",
    "session.jobs_per_op" -> "count", "session.tasks_per_op" -> "count",
    "session.task_cpu_s_per_op" -> "s", "session.gc_s_per_op" -> "s",
    "session.shuffle_bytes_per_op" -> "bytes", "session.spill_bytes" -> "bytes",
    "session.busy_ratio" -> "ratio", "session.parallel_speedup" -> "ratio",
    "plans.output_bytes_per_event" -> "bytes", "plans.tier_files" -> "count") ++
    QueryOps.map(o => s"operators.${o}_s" -> "s") ++
    Seq("trace.overhead_ratio" -> "ratio")
}

object Main {
  val Workloads: Map[String, Harness => Outcome] = Map(
    "events_ingest" -> EventsWorkloads.ingest,
    "events_query" -> EventsWorkloads.query)

  /** Exits 0 after printing the result, 3 when the run could not finish
    * or a metric was not measured (no result then). */
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val h = new Harness(args)
    val code =
      try { run(args, h); 0 }
      catch { case scala.util.control.NonFatal(e) => e.printStackTrace(); 3 }
      finally h.stopSession()
    sys.exit(code)
  }

  private def run(args: Args, h: Harness): Unit = {
    val workload = Workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(s"unknown workload ${args.workload}"))
    if (args.trace) System.setErr(new java.io.PrintStream(new StageTimingTap(h.tracer, System.err), true))
    val outcome = workload(h)
    h.peakRss = h.peakRssMb
    val problems = mutable.ArrayBuffer.from(outcome.problems)
    if (args.trace) {
      // the curation layer, then the session figures of the measured
      // operations, then the single-core baseline (it ends the session)
      val (curation, curationRetries, curationProblems) =
        h.phase("curation")(CurationPass.run(h, args.corrupt == "documents"))
      val common = Layers.common(h)
      val (serial, serialProblems) = h.phase("serial")(outcome.afterTrace())
      problems ++= curationProblems ++= serialProblems
      h.layers = common ++ outcome.layer ++ curation ++ serial +
        ("pipeline.stage_retries" -> (outcome.layer("pipeline.stage_retries") + curationRetries))
      h.tracer.writeJsonl(args.traceOut)
    }
    h.stopSession()
    report(args, h, outcome, problems.toSeq)
  }

  private def report(args: Args, h: Harness, outcome: Outcome, problems: Seq[String]): Unit = {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val samples = outcome.samples
    val items = samples.map(_.items).sum
    val latencies = samples.map(_.latency)
    if (!args.trace) {
      val v = Map(
        "setup_s" -> h.setupSeconds,
        "peak_rss_mb" -> h.peakRss,
        "cpu_ms_per_item" -> Stats.median(h.iterationCpuPerItem.toSeq) * 1e3)
      Metrics.EndToEnd.foreach { case (n, u) => metrics(n) = (v(n), u) }
    } else
      Metrics.PerLayer.foreach { case (n, u) => metrics(n) = (h.layers.getOrElse(n, Double.NaN), u) }
    val unmeasured = metrics.collect { case (n, (v, _)) if v.isNaN || v.isInfinite => n }
    if (unmeasured.nonEmpty) throw new IllegalStateException(s"metrics not measured: ${unmeasured.mkString(", ")}")
    problems.foreach(p => println(s"perfbench: check failed: $p"))
    val measured = h.ops.toSeq
    println("perfbench: setup_runs_s=" + h.setupRuns.map(t => f"$t%.3f").mkString(",") +
      h.phases.map { case (n, t) => f" ${n}_s=$t%.3f" }.mkString + " " +
      f"loop_cpu_s=${h.loopCpuSeconds}%.2f loop_jit_cpu_s=${h.loopJitSeconds}%.2f " +
      "iteration_cpu_ms_per_item=" + h.iterationCpuPerItem.map(c => f"${c * 1e3}%.4f").mkString(",") + " " +
      f"ops=${measured.size} measured_s=${outcome.elapsed}%.3f " +
      f"wall_items_per_s=${items / outcome.elapsed}%.3f wall_op_p50_s=${Stats.median(latencies)}%.3f " +
      f"wall_op_p90_s=${Stats.percentile(latencies, 90)}%.3f latencies_s=" +
      latencies.map(l => f"$l%.3f").mkString(","))
    val json = metrics.map { case (n, (v, u)) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${problems.isEmpty},"attempted":${measured.size},""" +
      s""""failed":${measured.count(!_.ok)},"metrics":$json}""")
  }

  private def fmt(v: Double): String = java.math.BigDecimal.valueOf(v).toPlainString
}

/** Per-layer metrics every workload reports: the Spark session layer
  * and the tracing overhead, both over the workload's traced measured
  * operations. */
object Layers {
  def common(h: Harness): Map[String, Double] = {
    h.drainListeners()
    val measured = h.ops.map(_.name).toSet
    val roots = h.tracer.spans.filter(s => s.parent == 0L && measured(s.name))
    val t = h.sessionListener.attribute(roots)
    val n = math.max(1, roots.size).toDouble
    val wall = roots.map(_.seconds).sum
    // per operation kind: median traced time over median untraced time,
    // combined across kinds as a geometric mean
    val ratios = h.ops.filter(_.ok).groupBy(_.name).values.toSeq.flatMap { runs =>
      val (on, off) = runs.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some(Stats.median(on.map(_.seconds).toSeq) / Stats.median(off.map(_.seconds).toSeq))
    }
    Map(
      "session.jobs_per_op" -> t.jobs / n,
      "session.tasks_per_op" -> t.tasks / n,
      "session.task_cpu_s_per_op" -> t.cpuNs / 1e9 / n,
      "session.gc_s_per_op" -> t.gcMs / 1e3 / n,
      "session.shuffle_bytes_per_op" -> t.shuffleBytes / n,
      "session.spill_bytes" -> t.spillBytes.toDouble,
      "session.busy_ratio" ->
        (if (wall > 0) t.runMs / 1e3 / (wall * graft.GraftSession.cores) else Double.NaN),
      "trace.overhead_ratio" ->
        (if (ratios.isEmpty) Double.NaN else math.exp(ratios.map(math.log).sum / ratios.size)))
  }

  /** Median duration (s) of the spans named `name`. */
  def medianSeconds(h: Harness, name: String): Double =
    Stats.median(h.tracer.spans.filter(_.name == name).map(_.seconds))

  /** A table's directory in the session's warehouse. */
  def tableDir(spark: org.apache.spark.sql.SparkSession, table: String): File =
    new File(new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath, table)

  /** Bytes and data files under a directory tree. */
  def dirStats(d: File): (Long, Long) =
    if (!d.exists) (0L, 0L)
    else if (d.isFile) (d.length, if (d.getName.endsWith(".parquet")) 1L else 0L)
    else Option(d.listFiles).toSeq.flatten.map(dirStats).foldLeft((0L, 0L)) {
      case ((b, f), (b2, f2)) => (b + b2, f + f2)
    }
}
