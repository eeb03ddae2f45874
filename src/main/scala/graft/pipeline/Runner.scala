package graft.pipeline

import scala.collection.mutable

/** Driver-side pipeline runner (SURVEY §2 C1-C6): the engine analog of
  * the reference's Airflow DAGs.
  *
  *  - C1/C2: a linear `Seq[Stage]` executed in order (the reference
  *    DAGs are linear chains: `dags/kinesis_to_snowflake_dag.py:74`,
  *    `airflow/dags/snowflake_data_pipeline.py:217`);
  *  - C3: per-stage retry (`retries=1, retry_delay=5min` —
  *    `airflow/dags/snowflake_data_pipeline.py:36-37`);
  *  - C4: metric passing — each stage receives the accumulated metric
  *    map and returns new metrics (the XCom analog:
  *    `scripts/kinesis_to_snowflake.py:155-156`);
  *  - C5: a gate stage fails the run by throwing (the reference's
  *    `ValueError`, `airflow/dags/snowflake_data_pipeline.py:181-202`);
  *  - C6: a notification hook invoked with the terminal status
  *    (`EmailOperator`, `airflow/dags/snowflake_data_pipeline.py:205-214`).
  *
  * Orchestration state is driver-side and O(stages) — nothing here
  * touches data; stages hold the Spark plans.
  */
final case class Stage(name: String)(val body: Map[String, Long] => Map[String, Long])

final case class StageRun(stage: String, attempts: Int, ok: Boolean, error: Option[String])

final case class PipelineReport(
    ok: Boolean,
    stages: Seq[StageRun],
    metrics: Map[String, Long])

final class PipelineFailedException(val report: PipelineReport, cause: Throwable)
  extends RuntimeException(s"pipeline failed at ${report.stages.lastOption.map(_.stage).getOrElse("?")}", cause)

final class Runner(
    stages: Seq[Stage],
    notify: PipelineReport => Unit = _ => ()) {

  /** Runs stages in order; retries each up to [[Runner.Retries]]
    * times; throws [[PipelineFailedException]] if a stage exhausts its
    * retries. The notifier fires exactly once with the terminal report. */
  def run(initial: Map[String, Long] = Map.empty): PipelineReport = {
    // Profiling aid (set SPARK_GRAFT_STAGE_TIMING=1): per-stage wall
    // times to stderr — the measurement hook the optimization rounds
    // use to attribute a pipeline's cost to its stages.
    val timing = sys.env.get("SPARK_GRAFT_STAGE_TIMING").contains("1")
    var metrics = initial
    val runs = mutable.ArrayBuffer.empty[StageRun]
    for (stage <- stages) {
      var attempt = 0
      var done = false
      var lastError: Throwable = null
      while (!done && attempt <= Runner.Retries) {
        attempt += 1
        try {
          val t0 = if (timing) System.nanoTime() else 0L
          metrics = metrics ++ stage.body(metrics)
          if (timing) System.err.println(
            f"[stage-timing] ${stage.name} ${(System.nanoTime() - t0) / 1e9}%.3f")
          done = true
        } catch {
          // fatal JVM errors (OOM, linkage) and interrupts must NOT be
          // swallowed into a retry — rethrow; interrupts also restore
          // the thread's interrupt flag
          case e: InterruptedException =>
            Thread.currentThread().interrupt()
            throw e
          case scala.util.control.NonFatal(e) =>
            lastError = e
        }
      }
      runs += StageRun(stage.name, attempt, done, Option(lastError).filter(_ => !done).map(_.toString))
      if (!done) {
        val report = PipelineReport(ok = false, runs.toSeq, metrics)
        notify(report)
        throw new PipelineFailedException(report, lastError)
      }
    }
    val report = PipelineReport(ok = true, runs.toSeq, metrics)
    notify(report)
    report
  }
}

object Runner {
  /** Retries per stage after the first attempt: the reference DAGs'
    * `retries=1`. */
  val Retries = 1
}
