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

  test("runFull tokenizer_train: merges learned on the cleaned train split, published; off by default") {
    val report = CurationPipeline.runFull(spark, docs,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5, minTokens = 0, maxPunctRatio = 1.0,
      minStopwordRatio = 0.0, bpeMerges = 5)
    assert(report.ok, report.stages.toString)
    assert(report.stages.exists(_.stage == "tokenizer_train"))
    val merges = spark.table(CurationPipeline.BpeMergesTable)
    assert(merges.count() == report.metrics("bpe_merges"))
    assert(report.metrics("bpe_merges") == 5L)
    // the artifact equals training directly on the published split —
    // the stage reads SplitTable's train rows, nothing else
    val want = graft.operators.Bpe.trainTable(
      spark.table(CurationPipeline.SplitTable)
        .filter($"split" === "train").select("doc_id", "text"), 5)
      .collect().map(_.toSeq)
    assert(merges.orderBy("rank").collect().map(_.toSeq).toSeq == want.toSeq)
    // absent unless asked for
    val off = CurationPipeline.runFull(spark, docs,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5, minTokens = 0, maxPunctRatio = 1.0,
      minStopwordRatio = 0.0)
    assert(off.ok && !off.stages.exists(_.stage == "tokenizer_train"))
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

  test("runFull with a tokenizer: epoch plan and emitted tokens are in BPE units") {
    val srcDocs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "source")
    val budget = 200000L
    val report = CurationPipeline.runFull(spark, srcDocs,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5, mixBudgetTokens = budget, materializeEpoch = true,
      bpeMerges = 6)
    assert(report.ok, report.stages.toString)
    val merges = spark.table(CurationPipeline.BpeMergesTable).orderBy("rank").collect()
      .map(r => graft.operators.Bpe.Merge(r.getAs[Int]("rank"),
        r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
        r.getAs[Long]("pair_count"))).toSeq
    assert(merges.size == 6)
    val train = spark.table(CurationPipeline.SplitTable)
      .filter($"split" === "train").select("doc_id", "text")
    val bpe = graft.operators.Bpe.encodedTokenCounts(train, merges)
    // every emitted epoch row carries the doc's BPE symbol count — the
    // unit training will consume — not its whitespace count
    val epoch = spark.table(CurationPipeline.EpochTable)
    val mismatch = epoch.select("doc_id", "token_count").distinct()
      .join(bpe, Seq("doc_id"), "left")
      .filter($"token_count" =!= coalesce($"bpe_tokens", lit(0L))).count()
    assert(mismatch == 0L, "epoch token_count must be the BPE symbol count")
    // and the two units genuinely diverge on this corpus, so the
    // assertion above distinguishes them
    val diverges = train.join(bpe, Seq("doc_id"), "left")
      .filter(coalesce($"bpe_tokens", lit(0L)) =!=
        graft.operators.TextStats.tokenCount($"text").cast("long")).count()
    assert(diverges > 0L, "BPE and whitespace units must diverge on this corpus")
    // the mix plan's targets derive from BPE token sums: recompute the
    // plan independently under the published merges
    val withSrc = train.join(srcDocs.select("doc_id", "source"), Seq("doc_id"), "left")
    val wantPlan = graft.operators.Curation.epochPlan(withSrc, budget, merges = merges)
      .select("source", "target_tokens").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    val gotPlan = spark.table(CurationPipeline.MixPlanTable)
      .select("source", "target_tokens").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(gotPlan == wantPlan, s"plan not in BPE units: $gotPlan vs $wantPlan")
    // every source still meets its (BPE-unit) target
    gotPlan.foreach { case (src, tgt) =>
      val key = s"epoch_tokens_${src.orNull}"
      assert(report.metrics.getOrElse(key, 0L) >= tgt, s"$key under target $tgt")
    }
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

  test("runFull tokenize_ids stage publishes vocab, id sequences, and id-exact packs (zero UNKs)") {
    // pure-letter words: the default LetterWords domain keeps ^\p{L}+$
    // only, so a digit suffix would zero out the whole corpus
    def body(p: String, n: Int) =
      (0 until n).map(i => s"$p${('a' + i % 9).toChar}").mkString(" ")
    val planted = Seq(
      (1L, body("alpha", 60)), (2L, body("beta", 60)), (3L, body("gamma", 60)))
      .toDF("doc_id", "text")
    val report = CurationPipeline.runFull(spark, planted,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.99, minTokens = 10, maxPunctRatio = 1.0,
      minStopwordRatio = 0.0, seqLen = 32,
      bpeMerges = 4, materializeTokenIds = true)
    assert(report.ok, report.stages.toString)
    assert(report.metrics("tokenized_docs") == 3L, report.metrics.toString)
    assert(report.metrics("vocab_size") ==
      spark.table(CurationPipeline.VocabTable).count(), report.metrics.toString)
    // the published ids reproduce the operator composition exactly
    val merges = spark.table(CurationPipeline.BpeMergesTable).orderBy("rank").collect()
      .map(r => graft.operators.Bpe.Merge(r.getAs[Int]("rank"),
        r.getAs[String]("left_sym"), r.getAs[String]("right_sym"),
        r.getAs[Long]("pair_count"))).toSeq
    val train = spark.table(CurationPipeline.SplitTable)
      .filter(col("split") === "train").select("doc_id", "text")
    val want = graft.operators.Bpe.tokenizeIds(train, merges,
        spark.table(CurationPipeline.VocabTable))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = spark.table(CurationPipeline.TokenIdsTable)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(got == want)
    assert(!got.values.exists(_.contains(graft.operators.Bpe.UnkId)))
    assert(report.metrics("token_ids_total") == got.values.map(_.size.toLong).sum)
    // packed sequences: exact 32-id slices whose concatenation is the
    // doc_id-ordered stream
    val seqs = spark.table(CurationPipeline.IdSequencesTable)
      .collect().map(r => r.getAs[Long]("seq_no") -> r.getSeq[Long](1)).sortBy(_._1)
    assert(report.metrics("id_sequences") == seqs.length.toLong)
    assert(seqs.init.forall(_._2.length == 32), "every sequence but the last is full")
    assert(seqs.flatMap(_._2).toSeq == got.toSeq.sortBy(_._1).flatMap(_._2))
    // the recipe composes: AllTokens domain trains/tokenizes a digit-
    // heavy corpus through the same stages
    val codey = Seq((1L, body("x1!", 60)), (2L, body("7,z", 60))).toDF("doc_id", "text")
    val r2 = CurationPipeline.runFull(spark, codey,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.99, minTokens = 10, maxPunctRatio = 1.0,
      minStopwordRatio = 0.0, seqLen = 32,
      bpeMerges = 4, bpeDomain = graft.operators.Bpe.AllTokens,
      materializeTokenIds = true)
    assert(r2.ok, r2.stages.toString)
    assert(r2.metrics("token_ids_total") > 0L, r2.metrics.toString)
  }

  test("ingestBatch tokenize: ids append against the FROZEN vocab; UNKs are reported, never failed") {
    import graft.operators.Bpe
    CurationPipeline.resetTreadmill(spark)
    // per-doc-unique letter words (the gate fixture's argument): the
    // only near-dup pair is the planted exact copy, spans are a no-op
    def letters(n: Long) = n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    def words(id: Long) = (0 until 8).map(j => s"w${letters(id)}x${letters(j)}").mkString(" ")
    val batch1 = Seq((1L, words(1)), (2L, words(2)), (3L, words(3))).toDF("doc_id", "text")
    val batch2 = Seq(
      (4L, words(4) + " éé"), // unseen code point: 2 UNK seeds
      (5L, words(5)),
      (101L, words(1))) // exact copy of tiered doc 1 — must drop
      .toDF("doc_id", "text")
    CurationPipeline.publishTokenizer(spark, batch1, numMerges = 4)
    val r1 = CurationPipeline.ingestBatch(spark, batch1, tokenize = true)
    assert(r1.ok, r1.stages.toString)
    assert(r1.metrics("batch_unk_ids") == 0L, r1.metrics.toString)
    val r2 = CurationPipeline.ingestBatch(spark, batch2, tokenize = true)
    assert(r2.ok, r2.stages.toString)
    assert(r2.metrics("batch_unk_ids") == 2L, r2.metrics.toString)
    assert(r2.metrics("batch_token_ids") > 0L, r2.metrics.toString)
    // the published ids equal the batch-global replay over the tier's
    // CLEAN text with the frozen tokenizer (copy 101 never tokenized)
    val merges = spark.table(CurationPipeline.BpeMergesTable).orderBy("rank").collect()
      .map(r => Bpe.Merge(r.getAs[Int]("rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count"))).toSeq
    val want = Bpe.tokenizeIds(spark.table(CurationPipeline.CleanTierTable),
        merges, spark.table(CurationPipeline.VocabTable))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = spark.table(CurationPipeline.TokenIdsTable)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(got == want, s"$got vs $want")
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(4L).count(_ == Bpe.UnkId) == 2, got(4L).toString)
    // no tokenizer published -> tokenize must refuse up front
    CurationPipeline.resetTreadmill(spark)
    Seq(CurationPipeline.BpeMergesTable, CurationPipeline.VocabTable,
      CurationPipeline.TokenizerMetaTable)
      .foreach(graft.plans.Catalog.dropIfExists(spark, _))
    intercept[IllegalArgumentException] {
      CurationPipeline.ingestBatch(spark, batch1, tokenize = true)
    }
  }

  test("ingestBatch packSeqLen: sequences straddle batches via the carry; incremental == global pack") {
    import graft.operators.Bpe
    CurationPipeline.resetTreadmill(spark)
    def letters(n: Long) = n.toString.map(c => ('a' + (c - '0')).toChar).mkString
    def words(id: Long) = (0 until 5).map(j => s"p${letters(id)}q${letters(j)}").mkString(" ")
    val batch1 = Seq((1L, words(1)), (2L, words(2))).toDF("doc_id", "text")
    val batch2 = Seq((3L, words(3)), (4L, words(4)), (5L, words(5))).toDF("doc_id", "text")
    CurationPipeline.publishTokenizer(spark, batch1.unionByName(batch2), numMerges = 3)
    // seqLen 7 over ~5-symbol-per-word docs: every batch boundary cuts
    // mid-sequence, so the carry path is exercised on both batches
    val r1 = CurationPipeline.ingestBatch(spark, batch1, tokenize = true, packSeqLen = 7)
    assert(r1.ok, r1.stages.toString)
    val r2 = CurationPipeline.ingestBatch(spark, batch2, tokenize = true, packSeqLen = 7)
    assert(r2.ok, r2.stages.toString)
    val published = spark.table(CurationPipeline.IdSequencesTable)
      .collect().map(r => r.getAs[Long]("seq_no") -> r.getSeq[Long](1)).sortBy(_._1)
    assert(published.forall(_._2.length == 7), "published sequences are all exactly full")
    assert(r1.metrics("batch_full_sequences") + r2.metrics("batch_full_sequences") ==
      published.length.toLong)
    val st = spark.table(CurationPipeline.PackStateTable).head()
    assert(st.getLong(0) == published.length.toLong, "cursor equals the published count")
    val carry = Option(st.getSeq[Long](1)).getOrElse(Seq.empty[Long])
    assert(carry.length.toLong == r2.metrics("pack_carry_ids"))
    assert(carry.length < 7)
    // incremental stream (published ++ carry) == the batch-global pack
    // over the whole published id table
    val globalPack = Bpe.packIdSequences(
        spark.table(CurationPipeline.TokenIdsTable), seqLen = 7)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    val incremental = published ++
      (if (carry.isEmpty) Seq.empty else Seq(st.getLong(0) -> carry))
    assert(incremental.map(_._1).toSeq == globalPack.map(_._1).toSeq)
    assert(incremental.map(_._2.toSeq).toSeq == globalPack.map(_._2.toSeq).toSeq)
  }

  test("ingestBatch tokenize honors the stored domain marker (AllTokens artifacts tokenize digits)") {
    import graft.operators.Bpe
    CurationPipeline.resetTreadmill(spark)
    def code(id: Long) = (0 until 8).map(j => s"$id=$j;").mkString(" ")
    val batch = Seq((1L, code(1)), (2L, code(2))).toDF("doc_id", "text")
    CurationPipeline.publishTokenizer(spark, batch, numMerges = 2,
      domain = Bpe.AllTokens)
    val r = CurationPipeline.ingestBatch(spark, batch, tokenize = true)
    assert(r.ok, r.stages.toString)
    // under the DEFAULT LetterWords domain these digit/punct tokens
    // would tokenize to zero ids — the marker must win
    assert(r.metrics("batch_token_ids") > 0L, r.metrics.toString)
    assert(r.metrics("batch_unk_ids") == 0L, r.metrics.toString)
  }

  private def tokLetters(n: Long) = n.toString.map(c => ('a' + (c - '0')).toChar).mkString
  private def tokWords(id: Long) =
    (0 until 8).map(j => s"w${tokLetters(id)}x${tokLetters(j)}").mkString(" ")

  test("maybeRetrainTokenizer: UNK drift rolls the generation; retokenized tier is twin-exact; healthy → None") {
    import graft.operators.Bpe
    import graft.plans.Catalog
    CurationPipeline.resetTreadmill(spark)
    val batch1 = Seq((1L, tokWords(1)), (2L, tokWords(2)), (3L, tokWords(3)))
      .toDF("doc_id", "text")
    // every batch-2 doc carries the unseen 'é' seed — UNK share is high
    val batch2 = Seq((4L, tokWords(4) + " éé"), (5L, tokWords(5) + " éé"))
      .toDF("doc_id", "text")
    CurationPipeline.publishTokenizer(spark, batch1, numMerges = 4)
    assert(CurationPipeline.currentTokenizerGeneration(spark) == 0L)
    val r1 = CurationPipeline.ingestBatch(spark, batch1, tokenize = true)
    assert(r1.ok && r1.metrics("batch_unk_ids") == 0L, r1.metrics.toString)
    // zero UNKs so far: the generation is healthy, no rollover
    assert(CurationPipeline.maybeRetrainTokenizer(spark, maxUnkShare = 0.001).isEmpty)
    assert(CurationPipeline.currentTokenizerGeneration(spark) == 0L)
    val r2 = CurationPipeline.ingestBatch(spark, batch2, tokenize = true)
    assert(r2.ok && r2.metrics("batch_unk_ids") == 4L, r2.metrics.toString)
    // the drift ledger accumulated both batches' counts
    val (ids, unks) = CurationPipeline.tokenizerDrift(spark)
    assert(unks == 4L && ids == r1.metrics("batch_token_ids") + r2.metrics("batch_token_ids"))
    // drift fires: retrain on the clean tier, generation flips to 1
    val roll = CurationPipeline.maybeRetrainTokenizer(spark, maxUnkShare = 0.001)
    assert(roll.nonEmpty && roll.get.ok, roll.toString)
    assert(CurationPipeline.currentTokenizerGeneration(spark) == 1L)
    assert(roll.get.metrics("tier_unk_ids") == 0L, roll.get.metrics.toString)
    // the new generation's ids are twin-exact vs a from-scratch replay:
    // train on the clean tier at the budget the retrain derived (the
    // gen-0 merge COUNT — what actually published, early stop included)
    val budget = spark.table(CurationPipeline.BpeMergesTable).count().toInt
    val merges = Bpe.trainBatched(
      spark.table(CurationPipeline.CleanTierTable), numMerges = budget)
    val vocab = Bpe.vocabTable(spark.table(CurationPipeline.CleanTierTable), merges)
    val want = Bpe.tokenizeIds(spark.table(CurationPipeline.CleanTierTable), merges, vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = spark.table(CurationPipeline.tokenizerTables(spark).tokenIds)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1)).toMap
    assert(got == want, s"$got vs $want")
    // the é seeds are in the new vocab: zero UNKs anywhere
    assert(got.values.forall(!_.contains(Bpe.UnkId)))
    // fresh generation, fresh drift window: no immediate re-roll
    assert(CurationPipeline.maybeRetrainTokenizer(spark, maxUnkShare = 0.001).isEmpty)
    assert(CurationPipeline.currentTokenizerGeneration(spark) == 1L)
    // a post-rollover batch tokenizes against the NEW vocab and its
    // stats land in the NEW generation's ledger
    val batch3 = Seq((6L, tokWords(6) + " éé")).toDF("doc_id", "text")
    val r3 = CurationPipeline.ingestBatch(spark, batch3, tokenize = true)
    assert(r3.ok && r3.metrics("batch_unk_ids") == 0L, r3.metrics.toString)
    val (ids1, unks1) = CurationPipeline.tokenizerDrift(spark)
    assert(ids1 == r3.metrics("batch_token_ids") && unks1 == 0L)
    // retrain without a published tokenizer refuses up front
    CurationPipeline.resetTreadmill(spark)
    intercept[IllegalArgumentException] {
      CurationPipeline.retrainTokenizer(spark)
    }
  }

  test("retrainTokenizer repacks the sequence stream; post-rollover batches continue it (carry + cursor)") {
    import graft.operators.Bpe
    CurationPipeline.resetTreadmill(spark)
    val batch1 = Seq((1L, tokWords(1)), (2L, tokWords(2))).toDF("doc_id", "text")
    val batch2 = Seq((3L, tokWords(3) + " éé"), (4L, tokWords(4) + " éé"))
      .toDF("doc_id", "text")
    CurationPipeline.publishTokenizer(spark, batch1, numMerges = 3)
    CurationPipeline.ingestBatch(spark, batch1, tokenize = true, packSeqLen = 7)
    CurationPipeline.ingestBatch(spark, batch2, tokenize = true, packSeqLen = 7)
    val roll = CurationPipeline.maybeRetrainTokenizer(spark,
      maxUnkShare = 0.001, packSeqLen = 7)
    assert(roll.nonEmpty && roll.get.ok, roll.toString)
    assert(roll.get.metrics.contains("repacked_sequences"), roll.get.metrics.toString)
    // a batch AFTER the rollover continues the generation-1 stream
    val batch3 = Seq((5L, tokWords(5))).toDF("doc_id", "text")
    val r3 = CurationPipeline.ingestBatch(spark, batch3, tokenize = true, packSeqLen = 7)
    assert(r3.ok, r3.stages.toString)
    // published gen-1 sequences ++ carry == the batch-global pack over
    // the gen-1 id table (repacked tier + appended batch, id-for-id)
    // ids + sequences together: ONE pointer read (the multi-artifact
    // read contract — two resolver calls could straddle a rollover)
    val tt = CurationPipeline.tokenizerTables(spark)
    val published = spark.table(tt.idSequences)
      .collect().map(r => r.getAs[Long]("seq_no") -> r.getSeq[Long](1)).sortBy(_._1)
    assert(published.forall(_._2.length == 7))
    val st = spark.table(CurationPipeline.PackStateTable + "_g1").head()
    assert(st.getLong(0) == published.length.toLong, "cursor equals the published count")
    val carry = Option(st.getSeq[Long](1)).getOrElse(Seq.empty[Long])
    val globalPack = Bpe.packIdSequences(
        spark.table(tt.tokenIds), seqLen = 7)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    val incremental = published ++
      (if (carry.isEmpty) Seq.empty else Seq(st.getLong(0) -> carry))
    assert(incremental.map(_._1).toSeq == globalPack.map(_._1).toSeq)
    assert(incremental.map(_._2.toSeq).toSeq == globalPack.map(_._2.toSeq).toSeq)
    // gen-0 artifacts were pruned at keepGenerations=2? No — gen 0 is
    // within the keep window (next=1, keep=2): the old stream must
    // still read for in-flight consumers
    assert(graft.plans.Catalog.tableExists(spark, CurationPipeline.IdSequencesTable))
  }

  test("retrainTokenizer: the retokenize→flip window is repaired by the delta pass (interleaved ingest)") {
    import graft.operators.Bpe
    CurationPipeline.resetTreadmill(spark)
    val batch1 = Seq((1L, tokWords(1)), (2L, tokWords(2))).toDF("doc_id", "text")
    val batch2 = Seq((3L, tokWords(3) + " éé")).toDF("doc_id", "text")
    CurationPipeline.publishTokenizer(spark, batch1, numMerges = 3)
    CurationPipeline.ingestBatch(spark, batch1, tokenize = true, packSeqLen = 7)
    CurationPipeline.ingestBatch(spark, batch2, tokenize = true, packSeqLen = 7)
    // inject a REAL ingestBatch between the retokenize snapshot and the
    // pointer flip — the delta pass must tokenize exactly those docs
    // into the staged generation before it publishes
    val batch3 = Seq((6L, tokWords(6)), (7L, tokWords(7))).toDF("doc_id", "text")
    val r = CurationPipeline.retrainTokenizer(spark, packSeqLen = 7,
      afterRetokenize = () =>
        CurationPipeline.ingestBatch(spark, batch3, tokenize = true, packSeqLen = 7))
    assert(r.ok, r.stages.toString)
    assert(r.metrics("late_tokenized") == 2L, r.metrics.toString)
    assert(CurationPipeline.currentTokenizerGeneration(spark) == 1L)
    // the published generation covers the tier doc-for-doc (ids +
    // sequences below read from ONE tokenizerTables resolution)
    val tt = CurationPipeline.tokenizerTables(spark)
    val tierIds = spark.table(CurationPipeline.TierTable).select("doc_id")
    val tokIds = spark.table(tt.tokenIds).select("doc_id")
    assert(tierIds.exceptAll(tokIds).isEmpty && tokIds.exceptAll(tierIds).isEmpty)
    // and the id content equals the from-scratch gen-1 replay over the
    // FULL clean tier (snapshot docs AND the interleaved batch — the
    // delta docs tokenize under the new vocab, possibly with UNKs for
    // seeds the snapshot lacked)
    val merges = spark.table(CurationPipeline.BpeMergesTable + "_g1").orderBy("rank")
      .collect().map(row => Bpe.Merge(row.getAs[Int]("rank"), row.getAs[String]("left_sym"),
        row.getAs[String]("right_sym"), row.getAs[Long]("pair_count"))).toSeq
    val want = Bpe.tokenizeIds(spark.table(CurationPipeline.CleanTierTable), merges,
        spark.table(CurationPipeline.VocabTable + "_g1"))
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1)).toMap
    val got = spark.table(tt.tokenIds)
      .collect().map(row => row.getAs[Long]("doc_id") -> row.getSeq[Long](1)).toMap
    assert(got == want, s"$got vs $want")
    // the staged pack stream continued over the delta: published ++
    // carry equals the global pack of the gen-1 id table
    val published = spark.table(tt.idSequences)
      .collect().map(row => row.getAs[Long]("seq_no") -> row.getSeq[Long](1)).sortBy(_._1)
    val st = spark.table(CurationPipeline.PackStateTable + "_g1").head()
    val carry = Option(st.getSeq[Long](1)).getOrElse(Seq.empty[Long])
    val globalPack = Bpe.packIdSequences(
        spark.table(tt.tokenIds), seqLen = 7)
      .collect().map(row => row.getLong(0) -> row.getSeq[Long](1)).sortBy(_._1)
    val incremental = published ++
      (if (carry.isEmpty) Seq.empty else Seq(st.getLong(0) -> carry))
    assert(incremental.map(_._2.toSeq).toSeq == globalPack.map(_._2.toSeq).toSeq)
  }

  test("maybeRetrainTokenizer: Bytes-domain compression collapse rolls with ZERO UNKs") {
    import graft.operators.Bpe
    CurationPipeline.resetTreadmill(spark)
    // train words carry a merge-compressible "ababababab" prefix plus a
    // unique digit-letter suffix, and one shared all-letters word pins
    // the full seed alphabet; the drift words are pure digit-letter
    // strings of the SAME alphabet — every byte already seeded, so the
    // UNK share stays exactly 0 while ids-per-byte collapses
    def pat(id: Long) = ((0 until 8)
      .map(j => "ababababab" + tokLetters(id * 100 + j)) :+ "abcdefghij").mkString(" ")
    def rnd(id: Long) = (0 until 8).map(j => tokLetters(id * 1000L + j * 37L)).mkString(" ")
    val batch1 = Seq((1L, pat(1)), (2L, pat(2))).toDF("doc_id", "text")
    val batch2 = Seq((3L, rnd(3)), (4L, rnd(4))).toDF("doc_id", "text")
    CurationPipeline.publishTokenizer(spark, batch1, numMerges = 6, domain = Bpe.Bytes)
    val r1 = CurationPipeline.ingestBatch(spark, batch1, tokenize = true)
    assert(r1.ok && r1.metrics("batch_unk_ids") == 0L, r1.metrics.toString)
    // the train slice cannot inflate its own baseline
    assert(CurationPipeline.maybeRetrainTokenizer(spark,
      maxUnkShare = 0.5, maxCompressionInflation = 1.2).isEmpty)
    assert(CurationPipeline.currentTokenizerGeneration(spark) == 0L)
    val r2 = CurationPipeline.ingestBatch(spark, batch2, tokenize = true)
    assert(r2.ok && r2.metrics("batch_unk_ids") == 0L, r2.metrics.toString)
    val comp = CurationPipeline.tokenizerCompression(spark).get
    assert(comp.hasSignal && comp.inflation.get > 1.2, comp.toString)
    // the UNK trigger alone would never fire (compression opted out
    // via Infinity); the compression trigger must
    assert(CurationPipeline.maybeRetrainTokenizer(spark, maxUnkShare = 0.5,
      maxCompressionInflation = Double.PositiveInfinity).isEmpty)
    val roll = CurationPipeline.maybeRetrainTokenizer(spark,
      maxUnkShare = 0.5, maxCompressionInflation = 1.2)
    assert(roll.nonEmpty && roll.get.ok, roll.toString)
    assert(CurationPipeline.currentTokenizerGeneration(spark) == 1L)
    assert(roll.get.metrics("tier_unk_ids") == 0L, roll.get.metrics.toString)
    // fresh generation: empty ledger + its own tier baseline → healthy
    assert(CurationPipeline.maybeRetrainTokenizer(spark,
      maxUnkShare = 0.5, maxCompressionInflation = 1.2).isEmpty)
    assert(CurationPipeline.currentTokenizerGeneration(spark) == 1L)
  }

  private def channelSums: Map[String, (Long, Long, Long)] =
    CurationPipeline.tokenizerDriftByChannel(spark).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

  test("runFull after a rollover re-bootstraps generation 0: drift rows land in the LIVE ledger") {
    CurationPipeline.resetTreadmill(spark)
    val batch1 = Seq((1L, tokWords(1)), (2L, tokWords(2))).toDF("doc_id", "text")
    CurationPipeline.publishTokenizer(spark, batch1, numMerges = 3)
    CurationPipeline.ingestBatch(spark, batch1, tokenize = true)
    CurationPipeline.ingestBatch(spark,
      Seq((3L, tokWords(3) + " éé")).toDF("doc_id", "text"), tokenize = true)
    assert(CurationPipeline.maybeRetrainTokenizer(spark, maxUnkShare = 0.001).nonEmpty)
    assert(CurationPipeline.currentTokenizerGeneration(spark) == 1L)
    // a BATCH runFull over the rolled warehouse: tokenizer_train's
    // generation reset makes its artifacts generation 0 again, so the
    // bare stats table the next tokenized batch feeds IS the current
    // ledger — the rows reach maybeRetrainTokenizer, not a dead
    // generation
    def body(p: String, n: Int) = (0 until n).map(i => s"$p$i").mkString(" ")
    val planted = Seq((1L, body("alpha", 60)), (2L, body("beta", 60)))
      .toDF("doc_id", "text")
    val report = CurationPipeline.runFull(spark, planted,
      spark.emptyDataFrame.withColumn("text", lit("")).select("text"),
      jaccardThreshold = 0.5, minTokens = 10, maxPunctRatio = 1.0,
      minStopwordRatio = 0.0, bpeMerges = 3, materializeTokenIds = true)
    assert(report.ok, report.stages.toString)
    assert(CurationPipeline.currentTokenizerGeneration(spark) == 0L)
    val r = CurationPipeline.ingestBatch(spark,
      Seq((4L, tokWords(4) + " éé")).toDF("doc_id", "text"), tokenize = true)
    assert(r.ok && r.metrics("batch_token_ids") > 0L, r.metrics.toString)
    assert(CurationPipeline.tokenizerTables(spark).stats ==
      CurationPipeline.TokenizerStatsTable)
    val byChan = channelSums
    assert(byChan.keySet == Set("doc") &&
      byChan("doc")._1 == r.metrics("batch_token_ids"), byChan.toString)
    // the blended trigger read sees the same rows
    assert(CurationPipeline.tokenizerDrift(spark)._1 == byChan("doc")._1)
  }

  test("ledger schema migration: legacy rows widen with key-sign channel attribution") {
    import graft.plans.Catalog
    CurationPipeline.resetTreadmill(spark)
    val batch1 = Seq((1L, tokWords(1)), (2L, tokWords(2))).toDF("doc_id", "text")
    CurationPipeline.publishTokenizer(spark, batch1, numMerges = 3)
    CurationPipeline.ingestBatch(spark, batch1, tokenize = true)
    val statsT = CurationPipeline.tokenizerTables(spark).stats
    val fresh = spark.table(statsT)
      .select("batch_key", "token_ids", "unk_ids").as[(Long, Long, Long)].collect()
    // simulate a pre-channel (and pre-seed_chars) ledger with one doc
    // row and one caption-keyed row
    Catalog.overwriteTable(
      (fresh.toSeq :+ ((-7L, 5L, 2L))).toDF("batch_key", "token_ids", "unk_ids"),
      statsT)
    // a read BEFORE any migration attributes by key sign, read-only
    val before = channelSums
    assert(before("doc")._1 == fresh.map(_._2).sum, before.toString)
    assert(before("caption") == ((5L, 2L, 0L)), before.toString)
    // the next doc batch's append migrates the table in place
    val batch2 = Seq((3L, tokWords(3))).toDF("doc_id", "text")
    CurationPipeline.ingestBatch(spark, batch2, tokenize = true)
    val cols = spark.table(statsT).columns.toSet
    assert(cols.contains("channel") && cols.contains("seed_chars"), cols.toString)
    val after = channelSums
    assert(after("caption") == ((5L, 2L, 0L)), after.toString)
    assert(after("doc")._1 > before("doc")._1, after.toString)
  }
}
