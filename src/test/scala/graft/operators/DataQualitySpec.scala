package graft.operators

import graft.SparkSpec

class DataQualitySpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    (Some(1L), Some("purchase"), Some(7L)),
    (Some(1L), Some("view"), Some(8L)),      // dup key 1
    (Some(2L), None, Some(9L)),              // incomplete: null type
    (Some(3L), Some("click"), None),         // incomplete: null user
    (None, Some("view"), Some(5L))           // incomplete: null id
  ).toDF("event_id", "event_type", "user_id")

  test("duplicateKeys finds keys with count > 1") {
    val dups = DataQuality.duplicateKeys(df).collect()
    assert(dups.length == 1)
    assert(dups.head.getAs[Long]("event_id") == 1L)
    assert(dups.head.getAs[Long]("dup_count") == 2L)
    assert(DataQuality.duplicateCount(df) == 1L)
  }

  test("incompleteRows flags any-null rows over the required set") {
    assert(DataQuality.incompleteCount(df, Seq("event_id", "event_type", "user_id")) == 3L)
    assert(DataQuality.incompleteCount(df, Seq("event_id")) == 1L)
  }

  test("gate throws on violation with both counts in the message") {
    val e = intercept[IllegalArgumentException] {
      DataQuality.gate(df, "event_id", Seq("event_id", "event_type", "user_id"))
    }
    assert(e.getMessage.contains("duplicates=1"))
    assert(e.getMessage.contains("incomplete=3"))
  }

  test("gate passes on clean data and returns the report") {
    val clean = Seq((1L, "view", 7L), (2L, "click", 8L)).toDF("event_id", "event_type", "user_id")
    val r = DataQuality.gate(clean, "event_id", Seq("event_id", "event_type", "user_id"))
    assert(r.ok && r.duplicateCount == 0L && r.incompleteCount == 0L)
  }

  test("report, one pass, equals (duplicateCount, incompleteCount) on generated frames") {
    import org.scalacheck.{Gen, Prop, Test}
    val required = Seq("event_id", "event_type", "user_id")
    def nullable[T](g: Gen[T]): Gen[Option[T]] = Gen.frequency(1 -> Gen.const(None), 4 -> g.map(Some(_)))
    // a key space of 6 values: repeated keys and null-key groups are common
    val row = for {
      id <- nullable(Gen.choose(1L, 6L))
      eventType <- nullable(Gen.oneOf("view", "click"))
      user <- nullable(Gen.choose(1L, 9L))
    } yield (id, eventType, user)
    val frames = Gen.frequency(1 -> Gen.const(Nil), 6 -> Gen.choose(1, 20).flatMap(Gen.listOfN(_, row)))
    def agrees(rows: Seq[(Option[Long], Option[String], Option[Long])]): Boolean = {
      val f = rows.toDF("event_id", "event_type", "user_id")
      DataQuality.report(f, "event_id", required) ==
        DataQuality.Report(DataQuality.duplicateCount(f), DataQuality.incompleteCount(f, required))
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(25),
      Prop.forAll(frames)(agrees))
    assert(result.passed, s"${result.status}")
    // the edge cases, each pinned: empty, a null-key pair, a null in
    // each required column
    assert(agrees(Nil))
    assert(agrees(Seq((None, Some("view"), Some(1L)), (None, Some("view"), Some(2L)))))
    assert(agrees(Seq((Some(1L), None, Some(1L)), (Some(2L), Some("view"), None), (None, Some("x"), Some(3L)))))
    assert(DataQuality.report(df, "event_id", required) == DataQuality.Report(1L, 3L))
  }

  test("zScoreOutliers flags only the planted anomaly, per group, nulls ignored") {
    import org.apache.spark.sql.functions._
    // group a: tight cluster around 10 plus one wild value; group b: tight only
    val rows = (1L to 100L).map(i => (i, "a", Some(10.0 + (i % 5) * 0.1))) ++
      Seq((101L, "a", Some(500.0)), (102L, "a", None)) ++
      (200L until 250L).map(i => (i, "b", Some(3.0 + (i % 3) * 0.01)))
    val df = rows.toDF("event_id", "g", "v")
    val out = DataQuality.zScoreOutliers(df, "g", "v", threshold = 3.0)
      .select("event_id").as[Long].collect()
    assert(out.toSeq == Seq(101L), s"got ${out.toSeq}")
    // partition-order independence of the exact moments
    val out2 = DataQuality.zScoreOutliers(df.repartition(13), "g", "v", threshold = 3.0)
      .select("event_id", "z_score").orderBy("event_id").collect()
    val out1 = DataQuality.zScoreOutliers(df.repartition(2), "g", "v", threshold = 3.0)
      .select("event_id", "z_score").orderBy("event_id").collect()
    assert(out1.toSeq == out2.toSeq)
  }

  test("histogramQuantiles: within one bucket width of exact; degenerate range collapses") {
    import spark.implicits._
    val df = (1 to 10000).map(_.toDouble).toDF("value")
    val out = DataQuality.histogramQuantiles(df, "value", buckets = 1024).collect()
      .map(r => r.getAs[Double]("q") -> r.getAs[Double]("estimate")).toMap
    val width = (10000.0 - 1.0) / 1024
    Seq(0.5 -> 5000.0, 0.9 -> 9000.0, 0.99 -> 9900.0).foreach { case (q, exact) =>
      assert(math.abs(out(q) - exact) <= width + 1e-6,
        s"q=$q est=${out(q)} exact=$exact width=$width")
    }
    // partition-invariance: the sketch is integer counts, so merges are exact
    val out2 = DataQuality.histogramQuantiles(df.repartition(7), "value", buckets = 1024)
      .collect().map(r => r.getAs[Double]("q") -> r.getAs[Double]("estimate")).toMap
    assert(out == out2)
    // all-equal values: every quantile is the value itself
    DataQuality.histogramQuantiles(Seq.fill(100)(7.5).toDF("value"), "value").collect()
      .foreach(r => assert(r.getAs[Double]("estimate") == 7.5))
    // empty / all-null input: the guard frame, not an NPE on a NULL min
    Seq(Seq.empty[Option[Double]], Seq[Option[Double]](None, None)).foreach { vs =>
      val out3 = DataQuality.histogramQuantiles(vs.toDF("value"), "value").collect()
      assert(out3.length == 3 && out3.forall(r =>
        r.getAs[Double]("estimate") == 0.0 && r.getAs[Long]("n_values") == 0L))
    }
  }

  test("robustOutliers: catches the spike a z-score misses; zero-MAD group flags nothing") {
    import spark.implicits._
    // 30 benign values + FOUR identical huge spikes: the spikes inflate
    // mean AND std enough to mask each other from a classic z-score
    // (z ~= 2.7 < 3), while median/MAD barely move
    val benign = (1 to 30).map(i => (i.toLong, "a", 100.0 + (i % 5)))
    val spikes = (96 to 99).map(i => (i.toLong, "a", 1e6))
    val df = (benign ++ spikes :+ ((50L, "flat", 7.0)) :+ ((51L, "flat", 7.0)))
      .toDF("event_id", "event_type", "value")
    val flagged = DataQuality.robustOutliers(df, "event_type", "value").collect()
      .map(_.getAs[Long]("event_id")).toSet
    assert(flagged == (96L to 99L).toSet, s"got $flagged")
    val classic = DataQuality.zScoreOutliers(
        df.filter($"event_type" === "a").withColumnRenamed("event_type", "g")
          .withColumnRenamed("value", "v"), "g", "v", threshold = 3.0)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(classic.intersect((96L to 99L).toSet).isEmpty,
      s"masked spikes should evade the classic z-score: $classic")
    // zScoreOutliers shape contract: input columns preserved + robust_z,
    // nothing hardcoded — a frame WITHOUT event_id works
    val noId = DataQuality.robustOutliers(
      df.select($"event_type".as("grp"), $"value".as("v")), "grp", "v")
    assert(noId.columns.toSeq == Seq("grp", "v", "robust_z"))
    assert(noId.count() == 4L)
  }

  test("histogramQuantilesBy: per-group equals the single-group op; degenerate group collapses") {
    import spark.implicits._
    val df = ((1 to 5000).map(v => ("a", v.toDouble)) ++
      (1 to 300).map(v => ("b", v * 10.0)) ++
      Seq.fill(40)(("flat", 3.25))).toDF("g", "value")
    val by = DataQuality.histogramQuantilesBy(df, "g", "value").collect()
      .map(r => (r.getAs[String]("g"), r.getAs[Double]("q")) ->
        ((r.getAs[Double]("estimate"), r.getAs[Long]("n_values")))).toMap
    for (g <- Seq("a", "b", "flat")) {
      val solo = DataQuality.histogramQuantiles(
        df.filter($"g" === g).select("value"), "value").collect()
        .map(r => r.getAs[Double]("q") -> r.getAs[Double]("estimate")).toMap
      solo.foreach { case (q, est) =>
        assert(by((g, q))._1 == est, s"$g q=$q: by=${by((g, q))._1} solo=$est")
      }
    }
    assert(by(("flat", 0.9)) == ((3.25, 40L)))
    assert(by.size == 9)
  }
}
