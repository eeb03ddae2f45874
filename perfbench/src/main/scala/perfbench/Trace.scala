package perfbench

import java.io.{File, OutputStream, PrintStream, PrintWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `op` groups every span of one benchmark
  * operation (a batch or a query); `parent` is the span that caused it
  * (0 for an operation's root span). Times are microseconds since the
  * run started. */
final case class Span(id: Long, parent: Long, op: Long, name: String, startUs: Long, endUs: Long) {
  def ms: Double = (endUs - startUs) / 1e3
  def seconds: Double = (endUs - startUs) / 1e6
}

/** The open operation a span or counter is attributed to. */
final case class OpCtx(op: Long, span: Long)

/** In-memory span store plus the layer samples that have no interval of
  * their own (per-trigger durations reported by Spark). Everything is
  * kept in memory and written once when the run ends. */
final class Tracer {
  private val t0Ns = System.nanoTime()
  private val wall0Ms = System.currentTimeMillis()
  private val ids = new AtomicLong(0L)
  private val buf = new ConcurrentLinkedQueue[Span]()
  private val samples = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()

  /** The traced operation currently running, if any. Read from Spark's
    * listener thread and from the stream-execution thread. */
  @volatile var current: Option[OpCtx] = None
  /** Innermost open span of the current traced operation. */
  @volatile var parent: Long = 0L

  def nowUs: Long = (System.nanoTime() - t0Ns) / 1000L
  /** Converts a wall-clock timestamp (Spark event times) to this run's clock. */
  def wallToUs(ms: Long): Long = (ms - wall0Ms) * 1000L
  def newId(): Long = ids.incrementAndGet()

  def record(name: String, parent: Long, op: Long, startUs: Long, endUs: Long,
             id: Long = newId()): Long = {
    buf.add(Span(id, parent, op, name, startUs, endUs))
    id
  }

  def sample(name: String, v: Double): Unit =
    samples.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(v)

  def spans: Seq[Span] = buf.asScala.toSeq
  def samplesOf(name: String): Seq[Double] =
    Option(samples.get(name)).map(_.asScala.toSeq).getOrElse(Seq.empty)

  /** Opens a child span of the current traced operation around `body`;
    * a no-op wrapper when no traced operation is open. */
  def span[T](name: String)(body: => T): T = current match {
    case None => body
    case Some(ctx) =>
      val id = newId()
      val saved = parent
      val start = nowUs
      parent = id
      try body
      finally {
        parent = saved
        record(name, saved, ctx.op, start, nowUs, id)
      }
  }

  def writeJsonl(f: File): Unit = {
    f.getAbsoluteFile.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startUs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs}}""")
    } finally w.close()
  }
}

/** Work done by Spark jobs, kept per job and attributed afterwards to
  * the traced operation whose interval contains the job's start.
  * Operations run one after another, so attribution by time is exact;
  * it also covers jobs started from pooled threads, which would carry
  * stale local properties. */
final class SessionListener(tracer: Tracer) extends SparkListener {
  import SessionListener.{Job, Work}
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageWork = new ConcurrentHashMap[Int, Work]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SessionListener.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val job = Job(tracer.wallToUs(e.time), parent, new Work)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageWork.putIfAbsent(s, job.work))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endUs = tracer.wallToUs(e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageWork.get(e.stageId)).filter(_ => e.taskMetrics != null).foreach { w =>
      val m = e.taskMetrics
      w.tasks.incrementAndGet()
      w.cpuNs.addAndGet(m.executorCpuTime)
      w.gcMs.addAndGet(m.jvmGCTime)
      w.runMs.addAndGet(m.executorRunTime)
      w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      w.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }

  /** Totals over the jobs that started inside one of `ops` (root spans);
    * records each such job as a `spark.job` span. */
  def attribute(ops: Seq[Span]): SessionListener.Totals = {
    val sorted = ops.sortBy(_.startUs).toVector
    var t = SessionListener.Totals()
    jobs.values.asScala.foreach { j =>
      sorted.find(o => j.startUs >= o.startUs && j.startUs <= o.endUs).foreach { o =>
        val w = j.work
        t = t.copy(jobs = t.jobs + 1, tasks = t.tasks + w.tasks.get,
          cpuNs = t.cpuNs + w.cpuNs.get, gcMs = t.gcMs + w.gcMs.get,
          runMs = t.runMs + w.runMs.get, shuffleBytes = t.shuffleBytes + w.shuffleBytes.get,
          spillBytes = t.spillBytes + w.spillBytes.get)
        val parent = if (j.parent != 0L && tracer.spans.exists(s => s.id == j.parent && s.op == o.op))
          j.parent else o.id
        tracer.record("spark.job", parent, o.op, j.startUs, math.max(j.startUs, j.endUs))
      }
    }
    t
  }
}

object SessionListener {
  val SpanKey = "perfbench.span"
  final class Work {
    val tasks = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val runMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }
  final case class Job(startUs: Long, parent: Long, work: Work) {
    @volatile var endUs: Long = -1L
  }
  final case class Totals(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                          runMs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0)
}

/** Streaming layer: query start (synchronous with `start()`), and the
  * per-trigger durations Spark reports in each progress event. */
final class StreamListener(tracer: Tracer) extends StreamingQueryListener {
  private val queryOp = new ConcurrentHashMap[java.util.UUID, OpCtx]()
  /** Set when the most recent query reached `onQueryStarted`. */
  @volatile var startedUs: Long = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    startedUs = tracer.nowUs
    tracer.current.foreach(ctx => queryOp.put(e.runId, OpCtx(ctx.op, tracer.parent)))
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(queryOp.get(e.progress.runId)).foreach { ctx =>
      val d = e.progress.durationMs
      val trigger = Option(d.get("triggerExecution")).map(_.longValue)
      val add = Option(d.get("addBatch")).map(_.longValue)
      (trigger, add) match {
        case (Some(t), Some(a)) =>
          val start = tracer.wallToUs(java.time.Instant.parse(e.progress.timestamp).toEpochMilli)
          tracer.record("streaming.trigger", ctx.span, ctx.op, start, start + t * 1000L)
          tracer.sample("streaming.trigger_ms", t.toDouble)
          tracer.sample("streaming.add_batch_ms", a.toDouble)
          tracer.sample("streaming.bookkeeping_ms", (t - a).toDouble)
        case _ => // a trigger that found no data runs no batch
      }
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** Turns the Runner's `[stage-timing] <stage> <seconds>` lines (printed
  * when SPARK_GRAFT_STAGE_TIMING=1) into `pipeline.<stage>` spans of the
  * traced operation; every byte still reaches the real stderr. */
final class StageTimingTap(tracer: Tracer, out: PrintStream) extends OutputStream {
  private val line = new java.io.ByteArrayOutputStream()
  private val Timing = """\[stage-timing\] (\S+) ([0-9.]+)""".r

  override def write(b: Int): Unit = synchronized {
    out.write(b)
    if (b == '\n') flushLine() else line.write(b)
  }

  private def flushLine(): Unit = {
    val s = new String(line.toByteArray, StandardCharsets.UTF_8).trim
    line.reset()
    (s, tracer.current) match {
      case (Timing(stage, secs), Some(ctx)) =>
        val end = tracer.nowUs
        tracer.record(s"pipeline.$stage", tracer.parent, ctx.op,
          end - (secs.toDouble * 1e6).toLong, end)
      case _ =>
    }
  }

  override def flush(): Unit = out.flush()
}
