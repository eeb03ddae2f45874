package graft.plans

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, count, lit, min}
import org.apache.spark.sql.types.StructType

/** DDL surface (SURVEY §2 S8/S9/S10/S11) over the session catalog.
  *
  * The reference's warehouse objects and their Spark renditions:
  *  - `CREATE TABLE IF NOT EXISTS` (`sql/create_snowflake_tables.sql:8-15`,
  *    `airflow/dags/snowflake_data_pipeline.py:73-97`) → idempotent DDL
  *    against the session catalog, parquet provider;
  *  - `CREATE OR REPLACE TABLE ... AS SELECT` full refresh
  *    (`sql/create_snowflake_tables.sql:31-39`) → overwrite saveAsTable;
  *  - `CREATE OR REPLACE VIEW` (`sql/create_snowflake_tables.sql:18-28`)
  *    → catalog temp view (resolved by Catalyst's analyzer at read);
  *  - `INSERT ... SELECT` append (`airflow/dags/snowflake_data_pipeline.py:115-143`)
  *    → by-name append into the existing table.
  *
  * Tables are parquet under `spark.sql.warehouse.dir`; on a cluster the
  * same calls bind to whatever catalog the session carries — nothing
  * here assumes local mode.
  */
object Catalog {

  /** S8: idempotent CREATE TABLE. */
  def ensureTable(spark: SparkSession, name: String, schema: StructType): Unit = {
    dropOrphanLocation(spark, name)
    spark.sql(s"CREATE TABLE IF NOT EXISTS $name (${schema.toDDL}) USING PARQUET")
  }

  /** S8 variant: idempotent CREATE TABLE partitioned on `partitionCol`
    * (which must be in `schema`) — the 100 TB layout for append-heavy
    * tiers whose maintenance joins (the dedup anti-join) prune to a
    * bounded date range instead of scanning the whole tier. */
  def ensureTablePartitioned(spark: SparkSession, name: String, schema: StructType,
                             partitionCol: String): Unit = {
    dropOrphanLocation(spark, name)
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $name (${schema.toDDL}) USING PARQUET PARTITIONED BY ($partitionCol)")
  }

  /** S9: CTAS full refresh, published ATOMICALLY: the result lands in a
    * fresh versioned parquet directory and the name is then flipped to
    * it with one `CREATE OR REPLACE VIEW` — a single catalog metadata
    * operation, so a concurrent reader resolves either the previous
    * snapshot or the new one, never a missing or half-written table
    * (Snowflake's CTAS is atomic, `sql/create_snowflake_tables.sql:31-39`;
    * Delta/Iceberg would give this transactionally, neither is on the
    * classpath, so the swap is done by hand).
    *
    * The `keepVersions` most recent snapshots are retained through the
    * flip — a reader already bound to one can finish its scan as long
    * as it is not more than `keepVersions` refresh cycles behind — and
    * are pruned by later refreshes.
    *
    * `tag` makes the publish IDEMPOTENT per tag (e.g. a streaming
    * batch id): if a version directory carrying the tag already exists,
    * the dataframe is NOT recomputed — the view is (re-)flipped to that
    * directory and the call returns, so a retry firing after the data
    * was written (whether or not the flip happened) converges to the
    * same published state instead of applying the dataframe twice.
    * "Committed" is decided by the `_SUCCESS` marker, so marker
    * emission must stay enabled (GraftSession pins
    * `mapreduce.fileoutputcommitter.marksuccessfuljobs=true`); a tagged
    * dir without it is a dead partial write and is replaced. */
  def ctasOverwrite(df: DataFrame, name: String,
                    keepVersions: Int = 5, tag: Option[String] = None): Unit =
    publishSnapshot(df, name, keepVersions, tag)

  /** [[ctasOverwrite]], returning whether `df` was written: false
    * exactly on the tagged retry-completion path, which re-flips
    * without computing `df`. */
  private def publishSnapshot(df: DataFrame, name: String,
                              keepVersions: Int, tag: Option[String]): Boolean = {
    val spark = df.sparkSession
    val base = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")), s"${name}__versions")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val VersionName = """v(\d+)(?:__(.*))?""".r
    val existing: Seq[(Long, Option[String], Path)] =
      if (!fs.exists(base)) Seq.empty
      else fs.listStatus(base).toSeq.flatMap(s => s.getPath.getName match {
        case VersionName(n, t) => Some((n.toLong, Option(t), s.getPath))
        case _ => None
      })

    def flip(path: Path): Unit = {
      // one-time migration: a legacy refresh (or an external writer)
      // left a TABLE under this name — a view cannot replace it in place
      if (spark.catalog.tableExists(name) &&
          spark.catalog.getTable(name).tableType != "VIEW")
        spark.sql(s"DROP TABLE $name")
      spark.sql(s"CREATE OR REPLACE VIEW $name AS SELECT * FROM parquet.`${path.toString}`")
      spark.catalog.refreshTable(name)
    }

    // a tagged dir counts as committed ONLY with its _SUCCESS marker —
    // a write that died mid-job leaves the directory without one, and
    // flipping to it would publish a partial snapshot
    val tagged = tag.flatMap(t => existing.find(_._2.contains(t)))
    tagged match {
      case Some((_, _, path)) if fs.exists(new Path(path, "_SUCCESS")) =>
        flip(path) // idempotent completion
        false
      case other =>
        other.foreach(v => fs.delete(v._3, true)) // dead partial write: self-heal
        val next = existing.map(_._1).foldLeft(0L)(math.max) + 1
        val path = new Path(base, s"v$next" + tag.map("__" + _).getOrElse(""))
        df.write.mode("errorifexists").parquet(path.toString)
        flip(path)
        existing.filter(_._1 <= next - keepVersions).foreach(v => fs.delete(v._3, true))
        true
    }
  }

  /** [[ctasOverwrite]] returning the published snapshot's row count,
    * TAG-SAFE: the count is observed during the snapshot write when the
    * write runs, and only the tagged retry-completion path — which
    * skips the write, so nothing is observed — counts the re-flipped
    * snapshot instead. The idempotence contract is unchanged. */
  def ctasOverwriteCounted(df: DataFrame, name: String, tag: Option[String] = None): Long = {
    val obs = Observation()
    if (publishSnapshot(df.observe(obs, count(lit(1)).as("n")), name, keepVersions = 5, tag))
      obs.get("n").asInstanceOf[Long]
    else df.sparkSession.table(name).count()
  }

  /** [[ctasOverwrite]] with metrics OBSERVED during the snapshot write
    * — the write-then-rescan fusion ([[overwriteTableObserved]]) for
    * ATOMICALLY published tables. UNTAGGED ONLY, by construction: the
    * tagged idempotent path may skip recomputing the input plan
    * entirely (retry completion re-flips the committed directory), and
    * observed metrics can never fire on a skipped plan — so this
    * variant does not accept a tag, and the fusion never weakens the
    * idempotence contract. Every untagged publish always computes its
    * input exactly once, which is exactly when CollectMetrics fires. */
  def ctasOverwriteObserved(df: DataFrame, name: String,
                            metrics: Seq[org.apache.spark.sql.Column],
                            keepVersions: Int = 5): Row = {
    val obs = Observation()
    // positional aliases — the overwriteTableObserved convention
    val named = metrics.zipWithIndex.map { case (c, i) => c.as(s"__m$i") }
    ctasOverwrite(df.observe(obs, named.head, named.tail: _*), name,
      keepVersions, tag = None)
    val got = obs.get
    Row.fromSeq(metrics.indices.map(i => got(s"__m$i")))
  }

  /** Dynamic-partition overwrite: replaces ONLY the partition
    * directories present in `df` — untouched partitions keep their
    * files, where a static overwrite would truncate the whole layout.
    * THE incremental-refresh primitive at scale: re-landing one
    * corrected hour/day touches that partition's files and nothing
    * else (reference analog: the hour-scoped partition refresh of
    * scripts/kinesis_to_snowflake.py's landing layout). Spark handles
    * the swap per partition via the committer, so a concurrent reader
    * of an untouched partition never sees churn. */
  def overwritePartitions(df: DataFrame, path: String,
                          partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Committed snapshot versions of a [[ctasOverwrite]]-published
    * table, NEWEST FIRST — only directories carrying the `_SUCCESS`
    * marker count (a dead partial write is invisible here exactly as
    * it is to the flip). */
  def tableVersions(spark: SparkSession, name: String): Seq[Long] = {
    val base = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")), s"${name}__versions")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val VersionName = """v(\d+)(?:__(.*))?""".r
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.flatMap(s => s.getPath.getName match {
      case VersionName(n, _) if fs.exists(new Path(s.getPath, "_SUCCESS")) => Some(n.toLong)
      case _ => None
    }).sorted.reverse
  }

  /** Time travel over the retained snapshot chain: the table as of
    * `versionsBack` refreshes ago (0 = the newest committed snapshot).
    * Bounded by [[ctasOverwrite]]'s `keepVersions` retention — the
    * Delta/Iceberg `VERSION AS OF` contract re-expressed on the
    * versioned-directory layout (README "Permanent divergences": the
    * table FORMAT is still plain parquet; history depth is the
    * retention knob, not an unbounded log). Reads bind to the version
    * DIRECTORY, so a concurrent refresh never changes what this frame
    * scans. */
  def tableAsOf(spark: SparkSession, name: String, versionsBack: Int): DataFrame = {
    val versions = tableVersions(spark, name)
    require(versionsBack >= 0 && versionsBack < versions.length,
      s"version $versionsBack not retained for $name (have ${versions.length} snapshots)")
    val base = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")), s"${name}__versions")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val n = versions(versionsBack)
    // the tag suffix varies; resolve the concrete dir name
    val dir = fs.listStatus(base).map(_.getPath)
      .find(p => p.getName == s"v$n" || p.getName.startsWith(s"v${n}__")).get
    spark.read.parquet(dir.toString)
  }

  /** Reclaim a managed-table location whose catalog entry is gone — a
    * NEW session over a surviving warehouse dir (the in-memory catalog
    * dies with the process; the parquet directories don't). saveAsTable
    * refuses such orphans with LOCATION_ALREADY_EXISTS; since only the
    * catalog grants reads, an entry-less location is dead data and
    * reclaiming it is safe. On a metastore-backed cluster the entry
    * survives too and this is a no-op. */
  private def dropOrphanLocation(spark: SparkSession, name: String): Unit =
    if (!spark.catalog.tableExists(name)) {
      val loc = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")),
        name.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** The NON-atomic table overwrite — for sequential scratch tiers (a
    * per-batch staging table read only by the stages that follow in the
    * same run); use [[ctasOverwrite]] for anything a concurrent reader
    * may query. */
  def overwriteTable(df: DataFrame, name: String): Unit = {
    dropOrphanLocation(df.sparkSession, name)
    df.write.mode("overwrite").option("overwriteSchema", "true").saveAsTable(name)
    df.sparkSession.catalog.refreshTable(name)
  }

  /** [[overwriteTable]] with metrics OBSERVED during the write (guide
    * §1.4/§2.3: a metric the write already computes must not cost a
    * second pass): the given aggregate expressions ride the write job
    * as CollectMetrics accumulators and come back as one Row — the
    * write-then-rescan pattern (write, `spark.table(t).count()`/agg)
    * pays one extra full read of the staged data per metric batch,
    * which at 100 TB is a whole pass and in a drain of driver-
    * sequential micro-batch jobs is a whole job per stage. */
  def overwriteTableObserved(df: DataFrame, name: String,
                             metrics: Seq[org.apache.spark.sql.Column]): Row = {
    dropOrphanLocation(df.sparkSession, name)
    val obs = Observation()
    // positional aliases: Observation.get is a by-name map — re-alias
    // so the returned Row is ordered like the caller's metric list
    val named = metrics.zipWithIndex.map { case (c, i) => c.as(s"__m$i") }
    df.observe(obs, named.head, named.tail: _*)
      .write.mode("overwrite").option("overwriteSchema", "true").saveAsTable(name)
    df.sparkSession.catalog.refreshTable(name)
    val got = obs.get
    Row.fromSeq(metrics.indices.map(i => got(s"__m$i")))
  }

  /** [[overwriteTableObserved]] for the ubiquitous write-then-count. */
  def overwriteTableCounted(df: DataFrame, name: String): Long =
    overwriteTableObserved(df, name, Seq(count(lit(1)).as("n"))).getLong(0)

  /** DROP for a name that may be a table or a view (ctasOverwrite
    * publishes views; ensureTable/insertAppend make tables). Also
    * removes the versioned snapshot tree — a later re-creation of the
    * same name must never resolve a stale tag to a dead snapshot. */
  def dropIfExists(spark: SparkSession, name: String): Unit = {
    if (spark.catalog.tableExists(name)) {
      if (spark.catalog.getTable(name).tableType == "VIEW") spark.sql(s"DROP VIEW IF EXISTS $name")
      else spark.sql(s"DROP TABLE IF EXISTS $name")
    }
    val base = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")), s"${name}__versions")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
  }

  /** S10: CREATE OR REPLACE VIEW. */
  def createOrReplaceView(df: DataFrame, name: String): Unit =
    df.createOrReplaceTempView(name)

  /** S11: INSERT INTO ... SELECT, by name (positions in the reference's
    * column list are by-name too). Returns rows appended. */
  def insertAppend(spark: SparkSession, name: String, df: DataFrame): Long = {
    val cols = spark.table(name).columns
    // the appended-row count is OBSERVED during the write (CollectMetrics
    // accumulators), so the input plan (often a dedup anti-join) executes
    // exactly once with no cache pin — the previous persist+count+write
    // shape paid a second job and held the batch in storage memory for
    // the write's duration (guide §1.4: don't re-compute what the action
    // already computes)
    val obs = Observation()
    val aligned = df.select(cols.map(df.col): _*)
      .observe(obs, count(lit(1)).as("n"))
    // insertInto (positional — the select above pins table order), not
    // saveAsTable: saveAsTable append refuses partitioned targets
    // unless the writer re-declares the table's partitioning
    aligned.write.mode("append").insertInto(name)
    // The write may run on a DIFFERENT session than readers (foreachBatch
    // hands out a micro-batch session clone): drop `spark`'s cached
    // relation so its next read sees the new files.
    spark.catalog.refreshTable(name)
    obs.get("n").asInstanceOf[Long]
  }

  /** Idempotent [[insertAppend]] for RETRY-EXPOSED multi-table
    * publishes (the treadmill publish stages run under a retrying
    * Runner, and a transient failure between appends re-runs the whole
    * stage — a plain re-append would double-write the tables that
    * already committed). Rather than a skip-vs-append membership probe
    * (which assumes appends are all-or-nothing — true for an in-process
    * Runner retry, but a driver crash mid job-commit can leave a
    * PARTIAL batch visible, which a skip would then freeze forever),
    * the batch is anti-joined against the rows already present and only
    * the REMAINDER is appended. Full batch present → remainder empty →
    * no-op; nothing present → whole batch appends; partial batch →
    * exactly the missing rows append. The retry converges to
    * exactly-once under every visibility outcome.
    *
    * The anti-join never scans the whole table: batch ids are fresh and
    * monotone (the treadmill ingest contract), so filtering the scan to
    * `idCol >= min(batch)` lets parquet row-group min/max pruning skip
    * every older append — probe cost is O(recent appends), independent
    * of tier size. Returns rows appended (0 = batch already fully
    * published, or batch empty).
    *
    * Deliberately NO broadcast hint on the probe: in steady state the
    * filtered slice is one recent append and AQE broadcasts it on its
    * own, but if the monotone-id contract is ever violated (an old
    * batch re-published with a small min id) the slice is unbounded —
    * a forced broadcast would OOM the driver where a shuffled anti-join
    * merely degrades. */
  def insertAppendOnce(spark: SparkSession, name: String, df: DataFrame,
                       idCol: String): Long =
    insertAppendOnceFrom(spark, name, df,
      idCol, df.agg(min(col(idCol))).head().get(0))

  /** [[insertAppendOnce]] with the probe's min id supplied by the
    * caller — for multi-table publishes whose frames all derive from
    * ONE survivor set (tier rows, their band/span/PQ index rows, their
    * token ids): the min id over the survivors bounds every derived
    * frame's ids from below, so one aggregate serves N probes instead
    * of N aggregates (a smaller-than-true min only prunes less — the
    * anti-join stays exact). `minId == null` means the publish is
    * empty: nothing appends. */
  def insertAppendOnceFrom(spark: SparkSession, name: String, df: DataFrame,
                           idCol: String, minId: Any): Long = {
    if (minId == null) 0L // nothing to publish (also: no probe key)
    else {
      val existing = spark.table(name)
        .filter(col(idCol) >= lit(minId)).select(col(idCol))
      val remainder = df.join(existing, Seq(idCol), "left_anti")
      insertAppend(spark, name, remainder)
    }
  }

  /** MERGE (upsert) as a relational expression — Snowflake's
    * `MERGE INTO t USING u ON keys WHEN MATCHED THEN UPDATE WHEN NOT
    * MATCHED THEN INSERT` re-expressed for an engine without in-place
    * row mutation: matched target rows are REPLACED by their update row
    * (whole-row update semantics), unmatched update rows are inserted,
    * unmatched target rows pass through. `updates` must be key-unique
    * (MERGE itself errors on duplicate matches).
    *
    * Plan shape: one left-anti join of the target against the update
    * keys + a union. The update batch is the small side (CDC batches vs
    * a multi-TB tier) — AQE broadcasts it, so the TARGET NEVER SHUFFLES;
    * with a [[ctasBucketed]] target the anti-join is shuffle-free even
    * when the batch is too big to broadcast. */
  def mergeUpsert(target: DataFrame, updates: DataFrame, keyCols: Seq[String]): DataFrame =
    target.join(updates, keyCols, "left_anti")
      .unionByName(updates.select(target.columns.map(updates.col): _*))

  /** Table-level MERGE: applies [[mergeUpsert]] to a cataloged table and
    * publishes the result atomically through the versioned view flip
    * (readers resolve the pre- or post-merge snapshot, never a partial
    * merge — Snowflake MERGE's atomicity). `tag` gives per-batch retry
    * idempotence, same contract as [[ctasOverwrite]]. */
  def mergeInto(spark: SparkSession, name: String, updates: DataFrame,
                keyCols: Seq[String], tag: Option[String] = None): Unit =
    ctasOverwrite(mergeUpsert(spark.table(name), updates, keyCols), name, tag = tag)

  def tableExists(spark: SparkSession, name: String): Boolean =
    spark.catalog.tableExists(name)

  /** Bucketed + sorted table for co-located joins: both sides of an
    * equi-join bucketed on the same key with the same bucket count join
    * with NO shuffle (SortMergeJoin reads matching buckets directly).
    * This is the 100 TB shape for the curated `events` tier — the
    * hourly dedup anti-join then never re-shuffles the multi-TB target,
    * only the incoming batch. */
  def ctasBucketed(df: DataFrame, name: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("overwriteSchema", "true")
      .saveAsTable(name)

  /** Run INDEPENDENT driver-side publish actions concurrently (guide
    * §2.6: actions are only sequential because the driver calls them
    * sequentially — a multi-table publish whose frames are already
    * staged spends its wall time in per-job scheduler latency, and
    * sibling appends to DIFFERENT tables share no state). Unlike a
    * bare `Await.result(Future.sequence(...))` this waits for EVERY
    * task to finish before rethrowing the first failure — a retrying
    * caller must never start its retry while an orphaned sibling
    * append is still committing (the idempotence probe could race the
    * orphan's commit). */
  def inParallel(tasks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = tasks.map(t => Future(t())).map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    results.collectFirst { case scala.util.Failure(e) => throw e }
    ()
  }

  /** Release the RDD a `localCheckpoint(eager = true)` pinned —
    * PRECISELY, by collecting the checkpoint's own LogicalRDD from the
    * plan (never a `getPersistentRDDs` sweep, which would race
    * concurrent sessions). Only safe once every consumer of the pin has
    * materialized: driver-loop operators (Bpe.train) and the ingest
    * treadmills call this at the end of a round/batch so a long-lived
    * session holds at most one pin per concurrent batch, not one per
    * batch ever run. */
  def releasePin(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))
}
