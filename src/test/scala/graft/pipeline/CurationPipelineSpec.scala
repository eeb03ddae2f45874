package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterEach

import graft.SparkSpec

class CurationPipelineSpec extends SparkSpec with BeforeAndAfterEach {
  import spark.implicits._

  override def beforeEach(): Unit =
    Seq(CurationPipeline.PairsTable, CurationPipeline.CuratedTable,
      CurationPipeline.QualityTable, CurationPipeline.QualityTable + "_clean",
      CurationPipeline.SequencesTable, CurationPipeline.TierTable,
      CurationPipeline.BandIndexTable, CurationPipeline.BatchSurvivorsTable,
      CurationPipeline.BoilerTable, CurationPipeline.CleanTable,
      CurationPipeline.SpanIndexTable, CurationPipeline.CleanTierTable,
      CurationPipeline.BatchCleanTable, CurationPipeline.BatchSpanIndexTable)
      .foreach(t => graft.plans.Catalog.dropIfExists(spark, t))

  private def docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    .select("doc_id", "text")

  test("curation run collapses planted fuzzy family and reports zero skips on a sane corpus") {
    val fam = docs.filter($"doc_id" === 0)
    val planted = docs
      .unionByName(fam.select(($"doc_id" + 100000).as("doc_id"),
        concat($"text", lit(" tail one")).as("text")))
    val report = CurationPipeline.run(spark, planted, jaccardThreshold = 0.5)
    assert(report.ok)
    assert(report.metrics("docs_in") == planted.count())
    assert(report.metrics("skipped_buckets_minhash") == 0L,
      s"unexpected skips: ${report.metrics}")
    assert(report.metrics("docs_removed") >= 1L) // the planted copy (and corpus's own dups)
    assert(report.metrics("docs_kept") + report.metrics("docs_removed") == report.metrics("docs_in"))
    val kept = spark.table(CurationPipeline.CuratedTable)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(0L) && !kept.contains(100000L))
  }

  test("runFull strip stages: boilerplate segments vanish everywhere, shared spans keep-first") {
    // two long unique docs (far below near-dup threshold) that share a
    // planted 25-token passage, plus a 10-token header opening both —
    // the header is an aligned segment in 2 docs (CCNet strip removes
    // ALL copies), the passage is a duplicate span (keep-first)
    val header = (0 until 10).map(i => s"hdr$i").mkString(" ")
    val passage = (0 until 25).map(i => s"shared$i").mkString(" ")
    def body(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    // body lengths differ so the shared passage is NOT block-aligned in
    // doc 2 — otherwise the aligned-segment boilerplate strip would
    // claim it before the span strip ever sees it
    val planted = Seq(
      (1L, s"$header ${body("alpha", 80)} $passage"),
      (2L, s"$header ${body("beta", 83)} $passage"),
      (3L, body("gamma", 90))
    ).toDF("doc_id", "text")
    val report = CurationPipeline.runFull(spark, planted,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5,
      // identity quality gate: synthetic tokens carry no stopwords
      minTokens = 0, maxPunctRatio = 1.0, minStopwordRatio = 0.0)
    assert(report.ok, report.stages.toString)
    val m = report.metrics
    assert(m("docs_removed") == 0L, s"planted docs are not near-dups: $m")
    // header: one aligned 10-token segment x 2 docs, removed from BOTH
    assert(m("boilerplate_segments_removed") == 2L, m.toString)
    // passage: stripped from exactly one of the two docs (keep-first)
    assert(m("span_tokens_removed") >= 20L && m("span_tokens_removed") <= 35L, m.toString)
    val clean = spark.table(CurationPipeline.CleanTable)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(!clean(1L).contains("hdr0") && !clean(2L).contains("hdr0"),
      "header must vanish from every occurrence")
    assert(clean(3L).contains("gamma0") && !clean(3L).contains("hdr0"))
    val passageSurvivors = Seq(1L, 2L).count(id => clean(id).contains("shared12"))
    assert(passageSurvivors == 1, s"span strip keeps exactly the first occurrence: $clean")
    // packed sequences read the CLEAN text: total tokens must match it
    val cleanToks = spark.table(CurationPipeline.CleanTable)
      .agg(sum(size(graft.operators.TextStats.tokens($"text")))).head().getLong(0)
    assert(m("train_tokens") == cleanToks, m.toString)
  }

  test("full flow: quality gate, decontamination, dedup, and packing each report their cuts") {
    // family/benchmark bases must SURVIVE the quality gate, or the
    // planted downstream cuts never happen (a short base would be
    // quality-dropped and its fuzzy copy would sail through dedup)
    val okIds = graft.operators.Curation.qualityFilter(docs)
      .filter($"keep").select("doc_id").as[Long].collect().sorted
    val (famId, benchId) = (okIds(0), okIds(1))
    // planted rows: a too-short doc (quality drop), a fuzzy copy of the
    // family doc (dedup drop); benchmark = a snippet of another doc
    // (decontamination drop of that doc)
    val fuzzy = docs.filter($"doc_id" === famId)
      .select(($"doc_id" + 100000).as("doc_id"), concat($"text", lit(" tail one")).as("text"))
    val junk = Seq((200000L, "too short")).toDF("doc_id", "text")
    val planted = docs.unionByName(fuzzy).unionByName(junk)
    val benchmark = docs.filter($"doc_id" === benchId)
      .select(substring($"text", 1, 200).as("text"))

    val report = CurationPipeline.runFull(spark, planted, benchmark, jaccardThreshold = 0.5)
    assert(report.ok, report.stages.toString)
    val m = report.metrics
    assert(m("quality_dropped") >= 1L && m("quality_dropped_too_short") >= 1L, m.toString)
    assert(m("contaminated") >= 1L, m.toString)
    assert(m("docs_kept") + m("docs_removed") == m("decontaminated_kept"))
    val kept = spark.table(CurationPipeline.CuratedTable)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(famId) && !kept.contains(famId + 100000),
      "fuzzy family must keep only the canonical")
    assert(!kept.contains(200000L), "quality-dropped doc leaked through")
    assert(!kept.contains(benchId), "contaminated doc leaked through")

    // packing invariants: offsets strictly increase by token_count in
    // doc order, total matches the reported metric
    val packed = spark.table(CurationPipeline.SequencesTable)
      .orderBy("doc_id")
      .select("token_count", "start_offset", "seq_no").collect()
    var expect = 0L
    packed.foreach { r =>
      assert(r.getLong(1) == expect, s"offset gap at $r")
      assert(r.getLong(2) == expect / 2048)
      expect += r.getLong(0)
    }
    assert(m("train_tokens") == expect)
    assert(m("train_sequences") == packed.last.getLong(2) + 1)

    // epoch shuffle: a dense permutation over exactly the packed docs,
    // reproducible from the seed
    val order = spark.table(CurationPipeline.TrainOrderTable)
    assert(m("train_order_rows") == packed.length.toLong)
    val positions = order.select("position").collect().map(_.getLong(0)).sorted
    assert(positions.toSeq == (0L until packed.length.toLong))
    val again = graft.operators.Curation.globalShuffle(
      spark.table(CurationPipeline.SequencesTable).select("doc_id", "token_count"), seed = 42L)
      .select("doc_id", "position").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    order.select("doc_id", "position").collect()
      .foreach(r => assert(again(r.getLong(0)) == r.getLong(1), "order must be seed-reproducible"))
  }

  test("runFull with a 3-way split packs the train split only; splits partition the tier") {
    val report = CurationPipeline.runFull(spark, docs, spark.emptyDataFrame
        .withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5,
      splitWeights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(report.ok, report.stages.toString)
    val m = report.metrics
    val splitTotal = Seq("train", "val", "test").map(s => m.getOrElse(s"split_$s", 0L)).sum
    assert(splitTotal == m("docs_kept"), s"splits must partition the curated tier: $m")
    // packed docs are exactly the train split
    val trainIds = spark.table(CurationPipeline.SplitTable)
      .filter($"split" === "train").select("doc_id").as[Long].collect().toSet
    val packedIds = spark.table(CurationPipeline.SequencesTable)
      .select("doc_id").as[Long].collect().toSet
    assert(packedIds == trainIds, "packing must cover the train split exactly")
    assert(m("train_order_rows") == trainIds.size.toLong)
  }

  test("runFull epoch_mix: plan lands in the catalog, per-source targets in the metric map") {
    val srcDocs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "source")
    val budget = 500000L
    val report = CurationPipeline.runFull(spark, srcDocs,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5, mixBudgetTokens = budget)
    assert(report.ok, report.stages.toString)
    val m = report.metrics
    val plan = spark.table(CurationPipeline.MixPlanTable).collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("token_sum"), r.getAs[Double]("weight"), r.getAs[Long]("target_tokens"))))
      .toMap
    assert(plan.nonEmpty && m("mix_sources") == plan.size.toLong)
    assert(m("mix_budget_tokens") == budget)
    // every source's target is in the metric map and matches the table
    plan.foreach { case (src, (_, _, target)) =>
      assert(m(s"mix_target_tokens_$src") == target, s"$src: $m")
    }
    // targets = floor(weight * budget): sum within |sources| of budget
    val totalTarget = plan.values.map(_._3).sum
    assert(totalTarget <= budget && totalTarget >= budget - plan.size,
      s"targets $totalTarget vs budget $budget")
    // α = 0.5 flattens: smallest-share source gets weight > raw share
    val tokens = plan.view.mapValues(_._1).toMap
    val total = tokens.values.sum.toDouble
    val smallest = tokens.minBy(_._2)._1
    assert(plan(smallest)._2 > tokens(smallest) / total,
      s"temperature must upsample the smallest source: $plan")
    // without the budget the stage does not run and no plan is (re)written
    graft.plans.Catalog.dropIfExists(spark, CurationPipeline.MixPlanTable)
    val noMix = CurationPipeline.runFull(spark, srcDocs,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5)
    assert(noMix.ok && !noMix.metrics.contains("mix_sources"))
    assert(!graft.plans.Catalog.tableExists(spark, CurationPipeline.MixPlanTable))
  }

  test("runFull dedup_contained: the quote drops in favor of the containing doc; off by default") {
    // a long base doc + a ≥0.9-contained excerpt that is NOT a Jaccard
    // near-dup (asymmetric overlap: |quote| ≪ |doc|), on top of enough
    // natural corpus to keep the pipeline honest
    val base = (0 until 120).map(i => s"tok$i").mkString(" ")
    val quote = (0 until 40).map(i => s"tok$i").mkString(" ")
    val planted = docs.unionByName(Seq(
      (500000L, base), (500001L, quote)).toDF("doc_id", "text"))
    val report = CurationPipeline.runFull(spark, planted,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5, minTokens = 0, maxPunctRatio = 1.0,
      minStopwordRatio = 0.0, containmentThreshold = 0.9)
    assert(report.ok, report.stages.toString)
    assert(report.stages.exists(_.stage == "dedup_contained"))
    assert(report.metrics("contained_dropped") >= 1L, report.metrics.toString)
    assert(report.metrics("docs_kept_after_containment") +
      report.metrics("contained_dropped") == report.metrics("docs_kept"))
    val kept = spark.table(CurationPipeline.CuratedTable)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(500000L) && !kept.contains(500001L),
      "the contained quote must drop, the containing doc must survive")
    // default threshold 0: no containment stage at all
    val off = CurationPipeline.runFull(spark, planted,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5, minTokens = 0, maxPunctRatio = 1.0,
      minStopwordRatio = 0.0)
    assert(off.ok && !off.stages.exists(_.stage == "dedup_contained"))
  }

  test("runFull epoch_materialize: the mix plan becomes a shuffled epoch with per-source tokens") {
    val srcDocs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "source")
    val budget = 200000L
    val report = CurationPipeline.runFull(spark, srcDocs,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5, mixBudgetTokens = budget, materializeEpoch = true)
    assert(report.ok, report.stages.toString)
    assert(report.stages.exists(_.stage == "epoch_materialize"))
    val epoch = spark.table(CurationPipeline.EpochTable)
    // dense permutation of positions
    val agg = epoch.agg(count(lit(1)), countDistinct($"position"),
      max($"position")).head()
    assert(agg.getLong(0) == agg.getLong(1) && agg.getLong(2) == agg.getLong(0) - 1,
      s"positions must be a dense permutation: $agg")
    assert(report.metrics("epoch_rows") == agg.getLong(0))
    // per-source emitted tokens in the metric map, and each source's
    // emitted tokens reach its target (fill-until-budget overshoots by
    // at most the boundary doc; integer passes + fill never undershoot)
    val targets = spark.table(CurationPipeline.MixPlanTable).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("target_tokens")).toMap
    val emitted = epoch.groupBy("source").agg(sum("token_count").as("t")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("t")).toMap
    targets.foreach { case (src, tgt) =>
      assert(report.metrics(s"epoch_tokens_$src") == emitted(src))
      assert(emitted(src) >= tgt, s"$src emitted ${emitted(src)} < target $tgt")
    }
    // without the flag the stage does not run
    assert(!CurationPipeline.runFull(spark, srcDocs,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5, mixBudgetTokens = budget)
      .stages.exists(_.stage == "epoch_materialize"))
  }

  test("degenerate identical corpus: cap triggers, run still succeeds, skips are REPORTED") {
    val one = docs.filter($"doc_id" === 0).select("text").head().getString(0)
    val degenerate = spark.range(3000)
      .select($"id".as("doc_id"), lit(one).as("text"))
    val report = CurationPipeline.run(spark, degenerate, maxBucketSize = 100)
    assert(report.ok)
    assert(report.metrics("skipped_buckets_minhash") > 0L,
      s"cap did not report: ${report.metrics}")
    assert(report.metrics("skipped_bucket_members_minhash") >= 3000L)
    assert(report.metrics("near_dup_pairs") == 0L) // capped buckets emit no pairs
  }

  test("streamIngest: checkpointed landing slices + restart converge to the batch-global tier") {
    val land = java.nio.file.Files.createTempDirectory("graft_sil").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_sic").toString
    val s1 = docs.filter($"doc_id" < 100)
    val s2 = docs.filter($"doc_id" >= 100 && $"doc_id" < 200)
      .unionByName(docs.filter($"doc_id" % 10 === 0 && $"doc_id" < 100)
        .select(($"doc_id" + 100000).as("doc_id"), $"text"))

    s1.coalesce(1).write.mode("append").json(land)
    assert(CurationPipeline.streamIngest(spark, land, cp, jaccardThreshold = 0.5)
      .awaitTermination(120000))
    val afterS1 = spark.table(CurationPipeline.TierTable).count()

    s2.coalesce(1).write.mode("append").json(land)
    assert(CurationPipeline.streamIngest(spark, land, cp, jaccardThreshold = 0.5)
      .awaitTermination(120000))
    val tierIds = spark.table(CurationPipeline.TierTable).select("doc_id")
      .as[Long].collect().toSet
    assert(afterS1 > 0 && tierIds.size > afterS1)
    assert(!tierIds.exists(_ >= 100000L), "planted copies of tier docs must reconcile away")
    val global = graft.operators.TextDedup.dedupNearMinhash(
      s1.unionByName(s2), jaccardThreshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(tierIds == global)
    // restart with NO new files is a no-op (checkpoint dedups files)
    assert(CurationPipeline.streamIngest(spark, land, cp, jaccardThreshold = 0.5)
      .awaitTermination(120000))
    assert(spark.table(CurationPipeline.TierTable).count() == tierIds.size)
  }

  test("ingestBatch: bootstrap, then incremental slices converge to the batch-global tier") {
    // slice 1 (ids 0..99) carries an internal near-dup family; slice 2
    // (ids 100..199 + planted copies of slice-1 docs) carries cross dups
    val s1 = docs.filter($"doc_id" < 100)
      .unionByName(docs.filter($"doc_id" === 2)
        .select(($"doc_id" + 50000).as("doc_id"), concat($"text", lit(" tiny tail")).as("text")))
    // plus a NEW doc that borrows a 30-token passage from tier doc 2 —
    // far below near-dup at 0.5 (its own body dominates), so it
    // survives dedup and the SPAN treadmill must strip the passage
    val passage = docs.filter($"doc_id" === 2).select(
      array_join(slice(split(trim($"text"), "\\s+"), 1, 30), " ").as("p"))
      .head().getString(0)
    val borrower = Seq((70000L,
      (0 until 80).map(i => s"own$i").mkString(" ") + " " + passage))
      .toDF("doc_id", "text")
    val s2 = docs.filter($"doc_id" >= 100 && $"doc_id" < 200)
      .unionByName(docs.filter($"doc_id" % 10 === 0 && $"doc_id" < 100)
        .select(($"doc_id" + 100000).as("doc_id"), $"text"))
      .unionByName(borrower)

    val r1 = CurationPipeline.ingestBatch(spark, s1, jaccardThreshold = 0.5)
    assert(r1.ok && r1.metrics("tier_docs") == 0L)
    // bootstrap self-dedups: the planted copy of doc 2 must not enter the tier
    assert(!spark.table(CurationPipeline.TierTable).select("doc_id")
      .as[Long].collect().contains(50002L))

    val r2 = CurationPipeline.ingestBatch(spark, s2, jaccardThreshold = 0.5)
    assert(r2.ok && r2.metrics("tier_docs") == r1.metrics("batch_kept"))
    // every planted copy of a tier doc reconciled away
    val tierIds = spark.table(CurationPipeline.TierTable).select("doc_id")
      .as[Long].collect().toSet
    assert(!tierIds.exists(_ >= 100000L), tierIds.filter(_ >= 100000L).toString)

    // the running tier equals batch-global dedup over everything seen
    val global = graft.operators.TextDedup.dedupNearMinhash(
      s1.unionByName(s2), jaccardThreshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(tierIds == global,
      s"tier-only=${tierIds.diff(global).take(5)} global-only=${global.diff(tierIds).take(5)}")

    // the band index tracks the tier exactly (one row per doc per band)
    val idxDocs = spark.table(CurationPipeline.BandIndexTable)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(idxDocs == tierIds)

    // span treadmill: the clean tier covers exactly the doc tier, the
    // borrower lost its cross-slice passage (detected against the
    // STORED index, not a tier re-fingerprint), the first occurrence
    // (tier doc 2) kept its text, and the slice-2 metric recorded it
    val cleanMap = spark.table(CurationPipeline.CleanTierTable)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(cleanMap.keySet == tierIds, "clean tier must cover the doc tier")
    val probe = passage.split("\\s+")(12) // a mid-passage token
    assert(!cleanMap(70000L).contains(probe),
      s"borrowed passage must strip from the later doc: ${cleanMap(70000L).take(120)}")
    assert(cleanMap(70000L).contains("own5"), "the borrower's own text survives")
    assert(cleanMap(2L).contains(probe), "first occurrence keeps the passage")
    // one matched fingerprint guarantees a k=20-token span at minimum
    assert(r2.metrics("span_tokens_removed") >= 20L, r2.metrics.toString)
    // span index tracks the tier's docs
    val fpDocs = spark.table(CurationPipeline.SpanIndexTable)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(fpDocs.subsetOf(tierIds) && fpDocs.contains(70000L))
  }

  test("resetTreadmill drops every treadmill table; the next slice bootstraps a fresh tier") {
    import graft.plans.Catalog
    val treadmillTables = Seq(CurationPipeline.TierTable, CurationPipeline.BandIndexTable,
      CurationPipeline.SpanIndexTable, CurationPipeline.CleanTierTable,
      CurationPipeline.BatchSurvivorsTable, CurationPipeline.BatchCleanTable,
      CurationPipeline.BatchSpanIndexTable, CurationPipeline.BenchmarkTable,
      CurationPipeline.BenchmarkGramsTable)
    CurationPipeline.publishBenchmark(spark, Seq("held out text").toDF("text"))
    assert(CurationPipeline.ingestBatch(spark, docs.filter($"doc_id" < 100),
      jaccardThreshold = 0.5).ok)
    assert(CurationPipeline.ingestBatch(spark, docs.filter($"doc_id" >= 100 && $"doc_id" < 200),
      jaccardThreshold = 0.5).ok)
    assert(treadmillTables.forall(Catalog.tableExists(spark, _)),
      treadmillTables.filterNot(Catalog.tableExists(spark, _)).toString)

    CurationPipeline.resetTreadmill(spark)
    val left = treadmillTables.filter(Catalog.tableExists(spark, _))
    assert(left.isEmpty, s"tables left after reset: $left")

    // a third slice re-bootstraps: it is deduped on its own, as if the
    // earlier slices had never been ingested
    val s3 = docs.filter($"doc_id" >= 200 && $"doc_id" < 300)
      .unionByName(docs.filter($"doc_id" === 202)
        .select(($"doc_id" + 50000).as("doc_id"), concat($"text", lit(" tiny tail")).as("text")))
    val r3 = CurationPipeline.ingestBatch(spark, s3, jaccardThreshold = 0.5)
    assert(r3.ok && r3.metrics("tier_docs") == 0L, r3.metrics.toString)
    val tierIds = spark.table(CurationPipeline.TierTable).select("doc_id")
      .as[Long].collect().toSet
    val global = graft.operators.TextDedup.dedupNearMinhash(s3, jaccardThreshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(tierIds == global,
      s"tier-only=${tierIds.diff(global).take(5)} global-only=${global.diff(tierIds).take(5)}")
  }
}
