package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** The two write functions of [[Catalog]] against the observed-write
  * variants they replaced, kept below verbatim as oracles: over
  * generated frames and metric lists, each returns the oracle's Row
  * and leaves the same table, and a tagged [[Catalog.ctasOverwrite]]
  * retry returns its first write's Row and keeps that write's rows. */
class CatalogProperties extends Properties("catalog") {

  // Spark jobs per case — keep the case count modest.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = graft.SparkSpec.session

  // ---- oracles: the observed-write variants of overwriteTable and
  // ctasOverwrite as they were before the fold, bodies verbatim ----

  private def dropOrphanLocation(spark: SparkSession, name: String): Unit =
    if (!spark.catalog.tableExists(name)) {
      val loc = new Path(new Path(spark.conf.get("spark.sql.warehouse.dir")),
        name.toLowerCase(java.util.Locale.ROOT))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  def observedOverwriteOracle(df: DataFrame, name: String,
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

  def observedPublishOracle(df: DataFrame, name: String,
                            metrics: Seq[org.apache.spark.sql.Column],
                            keepVersions: Int = 5): Row = {
    val obs = Observation()
    // positional aliases — the observedOverwriteOracle convention
    val named = metrics.zipWithIndex.map { case (c, i) => c.as(s"__m$i") }
    Catalog.ctasOverwrite(df.observe(obs, named.head, named.tail: _*), name,
      keepVersions, tag = None)
    val got = obs.get
    Row.fromSeq(metrics.indices.map(i => got(s"__m$i")))
  }

  // ---- generators ----

  private type Rows = Seq[(Long, Int, Option[String])]

  private val genRows: Gen[Rows] = for {
    n <- Gen.choose(0, 40)
    rows <- Gen.listOfN(n, for {
      id <- Gen.choose(-1000L, 1000L)
      k <- Gen.choose(-5, 5)
      s <- Gen.option(Gen.alphaStr.map(_.take(4)))
    } yield (id, k, s))
  } yield rows

  /** Aggregates over the frame's columns, integral or string valued so
    * that a re-read's summation order cannot change them. */
  private val metricPool: Seq[org.apache.spark.sql.Column] = Seq(
    count(lit(1)),
    count_if(col("k") % 2 === 0),
    sum(col("id")),
    coalesce(sum(col("k")), lit(0L)),
    max(col("s")),
    min(col("k")),
    count(when(col("s").isNull, lit(1))).as("nulls"))

  private val genMetrics = for {
    ms <- Gen.atLeastOne(metricPool)
    order <- Gen.long
  } yield new scala.util.Random(order).shuffle(ms.toSeq)

  private def frame(rows: Rows): DataFrame = {
    import spark.implicits._
    rows.toDF("id", "k", "s")
  }

  private def contents(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  property("overwriteTable returns the observed-write oracle's Row and table") =
    Prop.forAll(genRows, genMetrics) { (rows, ms) =>
      val df = frame(rows)
      val want = observedOverwriteOracle(df, "cprop_ow_oracle", ms)
      val got = Catalog.overwriteTable(df, "cprop_ow", ms)
      got == want &&
        contents(spark.table("cprop_ow")) == contents(spark.table("cprop_ow_oracle")) &&
        contents(spark.table("cprop_ow")) == contents(df)
    }

  property("untagged ctasOverwrite returns the observed-publish oracle's Row and table") =
    Prop.forAll(genRows, genMetrics) { (rows, ms) =>
      val df = frame(rows)
      val want = observedPublishOracle(df, "cprop_ctas_oracle", ms)
      val got = Catalog.ctasOverwrite(df, "cprop_ctas", observe = ms)
      got == want &&
        contents(spark.table("cprop_ctas")) == contents(spark.table("cprop_ctas_oracle")) &&
        contents(spark.table("cprop_ctas")) == contents(df)
    }

  property("a tagged retry returns the first write's Row and keeps its rows") =
    Prop.forAll(genRows, genRows, genMetrics) { (rows, retryRows, ms) =>
      val name = "cprop_tagged"
      Catalog.dropIfExists(spark, name)
      val df = frame(rows)
      val first = Catalog.ctasOverwrite(df, name, tag = Some("b1"), observe = ms)
      val retry = Catalog.ctasOverwrite(frame(retryRows), name, tag = Some("b1"), observe = ms)
      first == observedPublishOracle(df, "cprop_tagged_oracle", ms) &&
        retry == first &&
        contents(spark.table(name)) == contents(df)
    }
}
