package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.operators.EventOps

class CatalogSpec extends SparkSpec with BeforeAndAfterAll {

  override def afterAll(): Unit =
    Seq("cat_t1", "cat_view_src", "ev_bucketed", "staging_bucketed", "cat_atomic", "cat_tagged", "cat_dead", "cat_tt")
      .foreach(t => Catalog.dropIfExists(spark, t))

  test("overwritePartitions replaces only the re-landed partitions") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dpo_spec").toString
    Catalog.overwritePartitions(
      Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0)).toDF("id", "p", "v"), tmp, Seq("p"))
    def files(part: String) = new java.io.File(s"$tmp/p=$part").listFiles()
      .filter(_.getName.endsWith("parquet")).map(f => f.getName -> f.lastModified).toMap
    val bBefore = files("b")
    Catalog.overwritePartitions(Seq((9L, "a", 9.0)).toDF("id", "p", "v"), tmp, Seq("p"))
    assert(files("b") == bBefore, "untouched partition must keep its exact files")
    val back = spark.read.parquet(tmp)
    assert(back.filter($"p" === "a").select("id").as[Long].collect().toSet == Set(9L))
    assert(back.filter($"p" === "b").select("id").as[Long].collect().toSet == Set(2L))
  }

  test("tableAsOf serves retained snapshots newest-first; beyond retention throws") {
    import spark.implicits._
    Catalog.dropIfExists(spark, "cat_tt")
    def snap(n: Int) = spark.range(n.toLong).select($"id", lit(n).as("gen"))
    for (g <- 1 to 4) Catalog.ctasOverwrite(snap(g), "cat_tt", keepVersions = 3)

    val vs = Catalog.tableVersions(spark, "cat_tt")
    assert(vs.length == 3 && vs == vs.sorted.reverse)   // retention + newest first
    assert(spark.table("cat_tt").agg(max("gen")).head().getInt(0) == 4)
    assert(Catalog.tableAsOf(spark, "cat_tt", 0).count() == 4)
    assert(Catalog.tableAsOf(spark, "cat_tt", 1)
      .agg(max("gen")).head().getInt(0) == 3)           // VERSION AS OF -1
    assert(Catalog.tableAsOf(spark, "cat_tt", 2).count() == 2)
    intercept[IllegalArgumentException] {
      Catalog.tableAsOf(spark, "cat_tt", 3)             // pruned by retention
    }
  }

  test("ctasOverwrite publishes atomically: a looping reader never sees a missing or partial table") {
    import spark.implicits._
    import java.util.concurrent.atomic.AtomicReference
    Catalog.dropIfExists(spark, "cat_atomic")
    def snap(n: Int) = spark.range(n * 1000L).select($"id", lit(n).as("gen"))
    Catalog.ctasOverwrite(snap(1), "cat_atomic")

    val failure = new AtomicReference[Throwable]()
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && failure.get() == null) {
        try {
          val rows = spark.table("cat_atomic").groupBy("gen").count().collect()
          // a consistent snapshot: exactly one generation, complete
          assert(rows.length == 1, s"mixed snapshot: ${rows.mkString(",")}")
          val gen = rows.head.getAs[Int]("gen")
          val cnt = rows.head.getAs[Long]("count")
          assert(cnt == gen * 1000L, s"partial snapshot: gen $gen with $cnt rows")
        } catch { case t: Throwable => failure.set(t) }
      }
    })
    reader.start()
    try for (g <- 2 to 6) Catalog.ctasOverwrite(snap(g), "cat_atomic")
    finally { stop = true; reader.join(30000) }
    assert(failure.get() == null, s"reader observed: ${failure.get()}")
    assert(spark.table("cat_atomic").count() == 6000L)
  }

  test("tagged ctasOverwrite is idempotent per tag: a retry cannot apply its dataframe twice") {
    import spark.implicits._
    Catalog.dropIfExists(spark, "cat_tagged")
    Catalog.ctasOverwrite(spark.range(10).toDF("id"), "cat_tagged", tag = Some("b1"))
    // a retry re-derives a DIFFERENT dataframe (e.g. a merge over the
    // already-updated summary) but carries the same tag — it must
    // converge to the already-published snapshot, not re-apply
    Catalog.ctasOverwrite(spark.range(99).toDF("id"), "cat_tagged", tag = Some("b1"))
    assert(spark.table("cat_tagged").count() == 10L)
    // the NEXT batch's tag applies normally
    Catalog.ctasOverwrite(spark.range(5).toDF("id"), "cat_tagged", tag = Some("b2"))
    assert(spark.table("cat_tagged").count() == 5L)
  }

  test("tagged publish ignores a dead partial write (no _SUCCESS) and self-heals") {
    import spark.implicits._
    Catalog.dropIfExists(spark, "cat_dead")
    // simulate a write that died mid-job: the tagged version directory
    // exists but carries no _SUCCESS commit marker
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val dead = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(warehouse), "cat_dead__versions/v1__bX")
    val fs = dead.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dead)
    Catalog.ctasOverwrite(Seq(1, 2, 3, 4, 5, 6, 7).toDF("id"), "cat_dead", tag = Some("bX"))
    assert(spark.table("cat_dead").count() == 7L, "retry flipped to the dead partial snapshot")
  }

  test("a published name resolves without a Spark job: fresh, tagged retry, pruned; drop removes its tables") {
    import spark.implicits._
    val name = "cat_resolve"
    Catalog.dropIfExists(spark, name)
    def resolveJobs(): Int = countingJobs(spark.table(name))._2
    def snapshotTables(): Set[String] =
      spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(s"${name}__snap_")).toSet
    def snap(n: Int) = spark.range(n.toLong)
      .select($"id", array($"id").as("ids"), struct($"id".as("x")).as("s"), lit(n).as("gen"))

    Catalog.ctasOverwrite(snap(1), name, keepVersions = 2, tag = Some("b1"))
    assert(resolveJobs() == 0, "fresh publish")
    // the registered schema is the one the parquet files give
    assert(spark.table(name).schema == Catalog.tableAsOf(spark, name, 0).schema)

    // a retry after a write whose flip never happened: completes from
    // the committed directory and df.schema, without a job
    spark.sql(s"DROP VIEW $name")
    spark.sql(s"DROP TABLE ${name}__snap_v1")
    assert(countingJobs(Catalog.ctasOverwrite(snap(9), name, keepVersions = 2, tag = Some("b1")))._2 == 0)
    assert(resolveJobs() == 0, "tagged retry completion")
    assert(spark.table(name).agg(max("gen"), count(lit(1))).as[(Int, Long)].head() == (1, 1L))

    for (g <- 2 to 4) Catalog.ctasOverwrite(snap(g), name, keepVersions = 2, tag = Some(s"b$g"))
    assert(Catalog.tableVersions(spark, name) == Seq(4L, 3L))
    assert(resolveJobs() == 0, "after pruning")
    assert(spark.table(name).agg(max("gen"), count(lit(1))).as[(Int, Long)].head() == (4, 4L))
    assert(snapshotTables() == Set(s"${name}__snap_v3", s"${name}__snap_v4"))

    Catalog.dropIfExists(spark, name)
    assert(snapshotTables().isEmpty && !spark.catalog.tableExists(name))
    // a re-created name starts again at v1, with the new schema
    Catalog.ctasOverwrite(spark.range(3).toDF("other"), name)
    assert(spark.table(name).columns.toSeq == Seq("other") && spark.table(name).count() == 3L)
    Catalog.dropIfExists(spark, name)
  }

  test("a flip published from another session is seen by a session that already read the name") {
    // the relation cache is per session, and every streaming drain
    // publishes from a session clone: a flip that relocated one table
    // would leave this session reading the old version
    val name = "cat_sessions"
    Catalog.dropIfExists(spark, name)
    try {
      Catalog.ctasOverwrite(spark.range(3).toDF("id"), name)
      assert(spark.table(name).count() == 3L)
      val other = spark.newSession()
      Catalog.ctasOverwrite(other.range(7).toDF("id"), name)
      assert(spark.table(name).count() == 7L, "the flip from the other session was not seen")
    } finally Catalog.dropIfExists(spark, name)
  }

  test("ensureTable is idempotent; insertAppend aligns by name") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS cat_t1")
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Catalog.ensureTable(spark, "cat_t1", df.schema)
    Catalog.ensureTable(spark, "cat_t1", df.schema) // second call is a no-op
    // reversed column order still lands correctly
    assert(Catalog.insertAppend(spark, "cat_t1", df.select("v", "id")) == 2L)
    assert(spark.table("cat_t1").filter($"id" === 1L && $"v" === "a").count() == 1L)
  }

  test("bucketed curated tier joins without re-shuffling the target") {
    import spark.implicits._
    val events = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
    Catalog.ctasBucketed(events.filter($"event_id" % 3 === 0), "ev_bucketed", "event_id", 8)
    Catalog.ctasBucketed(events.filter($"event_id" % 7 < 3), "staging_bucketed", "event_id", 8)

    val target = spark.table("ev_bucketed")
    val staging = spark.table("staging_bucketed")
    val inserted = EventOps.dedupInsert(staging, target)

    // correctness unchanged vs the unbucketed plan
    val expected = EventOps.dedupInsert(
      events.filter($"event_id" % 7 < 3), events.filter($"event_id" % 3 === 0)).count()
    assert(inserted.count() == expected)

    // with broadcast off, the join must be a SortMergeJoin with NO
    // shuffle on either bucketed side (bucket layout == join keys)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = EventOps.dedupInsert(staging, target)
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("mergeUpsert: matched rows replaced, unmatched inserted, rest untouched") {
    import spark.implicits._
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("event_id", "event_type", "value")
    val updates = Seq((2L, "b2", 99.0), (4L, "d", 40.0))
      .toDF("event_id", "event_type", "value")
    val out = Catalog.mergeUpsert(target, updates, Seq("event_id"))
      .orderBy("event_id")
      .as[(Long, String, Double)].collect().toSeq
    assert(out == Seq(
      (1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)), out.toString)
  }

  test("insertAppendOnce: appends once, skips re-publish, probe pushes the min-id filter") {
    import spark.implicits._
    val tbl = "cat_append_once"
    Catalog.dropIfExists(spark, tbl)
    try {
      val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      Catalog.ensureTable(spark, tbl, b1.schema)
      assert(Catalog.insertAppendOnce(spark, tbl, b1, "id") == 2L)
      // retry of the same batch: converges, no double-append
      assert(Catalog.insertAppendOnce(spark, tbl, b1, "id") == 0L)
      assert(spark.table(tbl).count() == 2L)
      // a later (monotone-id) batch appends normally
      val b2 = Seq((3L, "c")).toDF("id", "v")
      assert(Catalog.insertAppendOnce(spark, tbl, b2, "id") == 1L)
      assert(spark.table(tbl).count() == 3L)
      // empty batch: no probe key, no append
      assert(Catalog.insertAppendOnce(spark, tbl, b1.limit(0), "id") == 0L)
      // PARTIAL batch visible (driver crash mid job-commit): simulate by
      // appending only half of batch 3 out-of-band, then re-publishing the
      // full batch — the anti-join remainder must land exactly the missing
      // row, not skip (the old probe froze the partial state forever)
      val b3 = Seq((4L, "d"), (5L, "e")).toDF("id", "v")
      b3.filter($"id" === 4L).write.mode("append").insertInto(tbl)
      assert(Catalog.insertAppendOnce(spark, tbl, b3, "id") == 1L)
      assert(spark.table(tbl).orderBy("id").as[(Long, String)].collect().toSeq ==
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
      // and the converged batch re-publish is still a no-op
      assert(Catalog.insertAppendOnce(spark, tbl, b3, "id") == 0L)
      // the probe's min-id filter reaches the parquet scan, so the
      // membership check prunes to the newest row groups at scale
      val probePlan = spark.table(tbl).filter($"id" >= 3L)
        .queryExecution.executedPlan.toString
      assert(probePlan.contains("PushedFilters") &&
        probePlan.contains("GreaterThanOrEqual(id,3)"),
        s"min-id probe must push down:\n$probePlan")
    } finally Catalog.dropIfExists(spark, tbl)
  }
}
