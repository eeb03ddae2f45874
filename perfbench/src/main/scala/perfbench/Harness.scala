package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** One measured operation: its wall time, whether it was traced, and
  * whether it failed. */
final case class OpRun(name: String, seconds: Double, traced: Boolean, ok: Boolean)

/** Session, tracing and operation bookkeeping shared by the workloads.
  *
  * With tracing on, operations alternate between traced and untraced
  * (`traced` is chosen by the workload), so one run yields both the
  * per-layer numbers and the tracing overhead. Listeners stay registered
  * throughout; they attribute nothing to untraced operations. */
final class Harness(val args: Args) {
  val tracer = new Tracer
  val sessionListener = new SessionListener(tracer)
  val streamListener = new StreamListener(tracer)
  val ops = mutable.ArrayBuffer.empty[OpRun]

  private var _spark: SparkSession = _
  def spark: SparkSession = _spark
  /** The directory the current session's warehouse is under. */
  var sessionDir: File = _
  var peakRss = 0.0
  var layers = Map.empty[String, Double]

  /** Builds the engine session (`GraftSession`, so every engine default
    * applies) with its warehouse and scratch space under `dir`. */
  def startSession(dir: File, master: String = s"local[${GraftSession.cores}]",
                   shufflePartitions: Int = GraftSession.cores,
                   listen: Boolean = args.trace): SparkSession = {
    dir.mkdirs()
    val s = GraftSession.builder(master = master, appName = "perfbench")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new File(dir, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    sessionDir = dir
    if (listen) {
      s.sparkContext.addSparkListener(sessionListener)
      s.streams.addListener(streamListener)
    }
    _spark = s
    s
  }

  def stopSession(): Unit = if (_spark != null) {
    _spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    _spark = null
  }

  /** Wall time of each set-up, in order; the first ran in a cold JVM. */
  val setupRuns = mutable.ArrayBuffer.empty[Double]

  /** Sets the workload up `times` times, each from nothing: a new
    * session over an empty warehouse in its own directory, then
    * `body(dir)` builds the starting state. Every set-up is timed, from
    * session start to the state being ready; the last one's state is
    * returned and stays in use. */
  def setup[T](times: Int)(body: File => T): T = {
    var state: Option[T] = None
    for (i <- 0 until times) {
      stopSession()
      val dir = new File(args.work, s"setup-$i")
      val t0 = System.nanoTime()
      startSession(dir)
      state = Some(body(dir))
      setupRuns += (System.nanoTime() - t0) / 1e9
    }
    state.get
  }

  /** Set-up time: the median over the run's set-ups. The first pays
    * class loading and JIT compilation; the median follows the rest. */
  def setupSeconds: Double = Stats.median(setupRuns.toSeq)

  /** Wall time of the run's unmeasured phases, for the info line. */
  val phases = mutable.LinkedHashMap.empty[String, Double]

  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Runs `body` as one measured operation, traced when `traced` and the
    * run traces. Failures are counted and swallowed: the correctness
    * checks decide what they mean. */
  def op[T](name: String, traced: Boolean)(body: => T): Option[T] = {
    val on = traced && args.trace
    val t0 = System.nanoTime()
    val r = within(name, on) {
      try Some(body) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }
    }
    ops += OpRun(name, (System.nanoTime() - t0) / 1e9, on, r.isDefined)
    r
  }

  /** Runs `body` under a root span when `on`: the span becomes the
    * parent of the spans opened inside, and of the Spark jobs started
    * inside (through a local property). */
  def within[T](name: String, on: Boolean)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val opId = tracer.newId()
      val spanId = tracer.newId()
      sc.setLocalProperty(SessionListener.SpanKey, spanId.toString)
      tracer.parent = spanId
      tracer.current = Some(OpCtx(opId, spanId))
      val startUs = tracer.nowUs
      try body
      finally {
        tracer.current = None
        tracer.parent = 0L
        sc.setLocalProperty(SessionListener.SpanKey, null)
        tracer.record(name, 0L, opId, startUs, tracer.nowUs, spanId)
      }
    }

  /** CPU time this JVM used during the measured loop, all threads, and
    * the part of it its JIT compiler threads used. */
  var loopCpuSeconds = 0.0
  var loopJitSeconds = 0.0
  /** Per loop iteration that processed items: CPU seconds per item, less
    * the JIT compiler threads' share. */
  val iterationCpuPerItem = mutable.ArrayBuffer.empty[Double]

  /** A deadline-bounded closed loop: the next operation starts only
    * after the previous one finished, until `seconds` have elapsed and
    * at least two iterations ran (a traced run alternates traced and
    * untraced ones). `iteration` returns the items it processed.
    * Returns the loop's wall time. */
  def loop(seconds: Double)(iteration: Int => Long): Double = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // start from an empty young generation, so the loop's share of GC
    // work does not depend on where the last collection fell
    System.gc()
    val jit0 = Harness.jitCpuSeconds()
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    var i = 0
    while (i < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (c, j) = (os.getProcessCpuTime, Harness.jitCpuSeconds())
      val items = iteration(i)
      val cpu = (os.getProcessCpuTime - c) / 1e9 - (Harness.jitCpuSeconds() - j)
      if (items > 0) iterationCpuPerItem += cpu / items
      i += 1
    }
    loopCpuSeconds = (os.getProcessCpuTime - cpu0) / 1e9
    loopJitSeconds = Harness.jitCpuSeconds() - jit0
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set of this JVM so far, MiB (Linux `VmHWM`). */
  def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  /** Waits until Spark has delivered every listener event posted so far. */
  def drainListeners(): Unit = org.apache.spark.BusDrain(spark.sparkContext)
}

object Harness {
  /** CPU seconds the JVM's JIT compiler threads have used (Linux
    * per-thread accounting, in 1/100 s ticks). The JVM keeps these
    * threads alive (`-XX:-UseDynamicNumberOfCompilerThreads`, set by
    * `run.py`), so no compiler time is lost with an exited thread. */
  def jitCpuSeconds(): Double =
    Option(new File("/proc/self/task").listFiles).toSeq.flatten.flatMap { t =>
      scala.util.Try {
        val st = new String(java.nio.file.Files.readAllBytes(new File(t, "stat").toPath), "UTF-8")
        val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        // fields from the 3rd on; utime and stime are the 14th and 15th
        val f = st.substring(st.lastIndexOf(')') + 2).split(" ")
        if (name.contains("CompilerThre")) (f(11).toDouble + f(12).toDouble) / 100.0 else 0.0
      }.toOption
    }.sum
}

object Stats {
  /** NaN for no values: a metric with nothing behind it fails the run. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }
}
