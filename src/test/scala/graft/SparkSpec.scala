package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test base: one session for the whole forked test JVM, built
  * on GraftSession so test behavior can't drift from Verify/Bench.
  * Shuffle partitions are dropped to 4 — test fixtures are tiny and a
  * 32-partition shuffle is pure scheduling overhead there.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the number of Spark jobs it started. */
  def countingJobs[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val out =
      try body
      finally {
        ListenerBusDrain(sc)
        sc.removeSparkListener(listener)
      }
    (out, jobs.get)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder("local[4]", "graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // fresh warehouse per test JVM: a managed-table DIRECTORY from a
      // previous run outlives the in-memory catalog and would make
      // CREATE TABLE fail with LOCATION_ALREADY_EXISTS
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
