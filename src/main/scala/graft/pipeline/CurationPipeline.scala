package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Components, Curation, TextDedup}
import graft.plans.Catalog

/** LLM-corpus curation as a [[Runner]] pipeline: near-dup pair mining →
  * cluster decisions → curated publish, with the capped-bucket SKIP
  * METRICS in the run's metric map.
  *
  * The near-dup candidate generators bound per-bucket work by dropping
  * degenerate buckets past `maxBucketSize` — at 100 TB that cap WILL
  * trigger (boilerplate families, empty text), and "observable" must
  * mean "in the PipelineReport a operator reads anyway", not "available
  * if you think to run the side query". Stages follow the reference's
  * orchestration discipline (ReferencePipeline): state travels through
  * catalog tables and the metric map, never closures over DataFrames.
  */
object CurationPipeline {

  val PairsTable = "doc_neardup_pairs"
  val CuratedTable = "documents_curated"

  /** The near-dup pair-mining + cluster-decision stages, shared by
    * [[run]] and [[runFull]] and parameterized over the corpus source
    * and the metric key carrying its input count — the skip-metric and
    * loser-derivation logic must never exist twice and drift apart.
    * `source` is a thunk (XCom discipline: runFull's source is a
    * catalog table the PREVIOUS stage publishes, which must be resolved
    * at stage-execution time, not pipeline-construction time). */
  private def dedupStages(spark: SparkSession, source: () => DataFrame,
                          inputKey: String, jaccardThreshold: Double,
                          maxBucketSize: Int): Seq[Stage] = Seq(
    Stage("near_dup_pairs") { _ =>
      // one banding pass feeds BOTH the pairs and the skip metric —
      // the cap must never truncate silently, and observing it must
      // not re-hash the corpus
      val (pairs, skippedBuckets) = TextDedup.nearDupPairsAndSkipsMinhash(source(),
        jaccardThreshold = jaccardThreshold, maxBucketSize = maxBucketSize)
      // the pair count rides the staging write (guide §1.4)
      val nPairs = Catalog.overwriteTable(pairs, PairsTable, Seq(count(lit(1)))).getLong(0)
      val skipped = skippedBuckets
        .agg(count(lit(1)).as("buckets"),
          coalesce(sum("member_count"), lit(0L)).as("members")).head()
      Map(
        "near_dup_pairs" -> nPairs,
        "skipped_buckets_minhash" -> skipped.getLong(0),
        "skipped_bucket_members_minhash" -> skipped.getLong(1))
    },
    Stage("dedup_decisions") { m =>
      val losers = Components.connectedComponents(spark.table(PairsTable))
        .filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      // reader-facing tier: atomic versioned publish; the kept count
      // rides the snapshot write (untagged ctas — guide §1.4: the
      // read-back was a full curated-tier pass per run)
      val kept = Catalog.ctasOverwrite(
        source().join(losers, Seq("doc_id"), "left_anti"), CuratedTable,
        observe = Seq(count(lit(1)))).getLong(0)
      // the input count travels via the metric map (XCom discipline) —
      // no second corpus count
      Map("docs_kept" -> kept, "docs_removed" -> (m(inputKey) - kept))
    })

  def run(spark: SparkSession, docs: DataFrame,
          jaccardThreshold: Double = 0.8,
          maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
          notify: PipelineReport => Unit = _ => ()): PipelineReport = {
    val stages = dedupStages(spark, () => docs, "docs_in", jaccardThreshold, maxBucketSize)
    new Runner(stages, notify).run(Map("docs_in" -> docs.count()))
  }

  val QualityTable = "documents_quality"
  val QualityFlagsTable = "documents_quality_flags"
  val SequencesTable = "documents_sequences"

  /** The FULL training-data flow: quality gate → benchmark
    * decontamination → near-dup dedup → boilerplate strip → duplicate-
    * span strip → leakage-safe split assignment → sequence packing
    * (train split) → epoch shuffle, each stage reading the previous
    * stage's catalog table (never a closure over a live DataFrame) and
    * reporting its drop counts in the metric map — at 100 TB every one
    * of these filters removes real data, and the run report must say
    * how much and why.
    *
    * Stage order rationale: near-dup dedup runs on RAW text (stripping
    * shared spans first would erase exactly the overlap the near-dup
    * signal needs), then the SURVIVORS get CCNet boilerplate removal
    * (segments in ≥ `boilerMinDocs` docs removed from every occurrence)
    * and Lee-et-al duplicate-span stripping (keep-first for repeated
    * ≥ `spanK`-token runs that distinct docs still share) — so packed
    * training sequences carry each passage at most once.
    *
    * `benchmark` carries the held-out eval text; pass an empty frame to
    * skip decontamination (count 0 → stage is a recorded no-op). The
    * quality thresholds are corpus-tuning parameters (identity values —
    * minTokens 0, maxPunctRatio 1, minStopwordRatio 0 — make the gate a
    * recorded pass-through, same contract as the empty benchmark).
    *
    * `containmentThreshold` > 0 adds the CONTAINMENT-DEDUP stage after
    * near-dup dedup (the RefinedWeb-style quote/excerpt drop — Jaccard
    * misses asymmetric overlap by construction); `materializeEpoch`
    * (with `mixBudgetTokens` > 0) appends the EPOCH-MATERIALIZE stage
    * publishing the actual shuffled epoch stream to [[EpochTable]]
    * with per-source emitted-token counts in the metric map.
    *
    * `mixBudgetTokens` > 0 adds the SOURCE-MIX stage — the step that
    * turns a curated corpus into a training RECIPE: the epoch plan
    * (temperature-α token targets + repeat factors per source,
    * [[Curation.epochPlan]]) over the train split, published to
    * [[MixPlanTable]] with every source's target token count in the
    * metric map. Source attribution joins back from the INPUT corpus
    * (the strip stages carry only (doc_id, text) forward); a corpus
    * with no `mixSourceCol` column fails analysis rather than silently
    * mixing (pass 0 to skip for sourceless corpora), and NULL sources
    * group as their own bucket — visible in the plan, never dropped. */
  def runFull(spark: SparkSession, docs: DataFrame, benchmark: DataFrame,
              jaccardThreshold: Double = 0.8,
              maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
              seqLen: Int = 2048,
              shuffleSeed: Long = 42L,
              splitWeights: Seq[(String, Double)] = Seq("train" -> 1.0),
              minTokens: Int = 25, maxTokens: Int = 20000,
              maxPunctRatio: Double = 0.25, minStopwordRatio: Double = 0.02,
              segTokens: Int = 10, boilerMinDocs: Int = 2, spanK: Int = 20,
              containmentThreshold: Double = 0.0,
              mixBudgetTokens: Long = 0L, mixAlpha: Double = 0.5,
              mixSourceCol: String = "source", materializeEpoch: Boolean = false,
              notify: PipelineReport => Unit = _ => ()): PipelineReport = {
    val stages = Seq[Stage](
      Stage("quality_gate") { _ =>
        // ONE qualityFilter evaluation: the (doc_id, keep, drop_reason)
        // flags land in a staging table, and both the gated corpus and
        // the per-reason drop counts derive from it — profiling the
        // raw corpus (token/punct/stopword regexes) is the expensive
        // part and must not run twice. docs_in, the kept count, AND the
        // per-reason drops all come from ONE bounded-cardinality
        // aggregate over the staged flags (one row per doc): the
        // previous shape paid a docs.count() full pass over the raw
        // corpus plus a second count of the gated table (guide §1.2 —
        // at 100 TB each was a whole corpus pass).
        // docs_in, kept, and the per-reason drops all ride the flags
        // write as observed aggregates (the reason domain is CLOSED —
        // Curation.QualityDropReasons), so the staged flags are never
        // re-scanned for metrics; zero-count reasons stay absent,
        // exactly like the previous groupBy's key set (guide §1.4)
        val reasonNames = Curation.QualityDropReasons
        val obs = Catalog.overwriteTable(
          Curation.qualityFilter(docs,
            minTokens = minTokens, maxTokens = maxTokens,
            maxPunctRatio = maxPunctRatio, minStopwordRatio = minStopwordRatio),
          QualityFlagsTable,
          Seq(count(lit(1)), count(when(col("keep"), lit(1)))) ++
            reasonNames.map(r => count(when(col("drop_reason") === r, lit(1)))))
        val flags = spark.table(QualityFlagsTable)
        Catalog.overwriteTable(
          docs.join(flags.filter(col("keep")).select("doc_id"), Seq("doc_id")), QualityTable)
        val (docsIn, kept) = (obs.getLong(0), obs.getLong(1))
        val reasons = reasonNames.zipWithIndex.collect {
          case (r, i) if obs.getLong(2 + i) > 0L =>
            s"quality_dropped_$r" -> obs.getLong(2 + i)
        }.toMap
        reasons ++ Map("docs_in" -> docsIn,
          "quality_kept" -> kept, "quality_dropped" -> (docsIn - kept))
      },
      Stage("decontaminate") { m =>
        // the benchmark snapshot PERSISTS ([[BenchmarkTable]]) with its
        // n-gram probe set, so the gate joins against stored gram hashes
        publishBenchmark(spark, benchmark)
        val quality = spark.table(QualityTable)
        val hits = Curation.contaminatedIdsFromGrams(quality, benchmarkGramsFrame(spark))
        val clean = quality.join(hits, Seq("doc_id"), "left_anti")
        // the kept count rides the staging write (guide §1.4)
        val kept = Catalog.overwriteTable(clean, QualityTable + "_clean",
          Seq(count(lit(1)))).getLong(0)
        Map("contaminated" -> (m("quality_kept") - kept), "decontaminated_kept" -> kept)
      }) ++
      dedupStages(spark, () => spark.table(QualityTable + "_clean"),
        "decontaminated_kept", jaccardThreshold, maxBucketSize) ++
      // containment dedup AFTER near-dup (RefinedWeb-style pipelines
      // run both): a ≥threshold-contained doc — the quote, the excerpt
      // — is dropped in favor of the dominating fuller text. Optional
      // (containmentThreshold <= 0 skips the stage entirely): Jaccard
      // near-dup alone misses asymmetric overlap by construction.
      // Re-publishes the curated tier through the same atomic flip,
      // with the drop count in the metric map.
      (if (containmentThreshold <= 0.0) Seq.empty[Stage] else Seq(
        Stage("dedup_contained") { m =>
          val cur = spark.table(CuratedTable)
          // kept count observed during the untagged snapshot write —
          // no read-back pass (guide §1.4)
          val kept = Catalog.ctasOverwrite(
            TextDedup.dedupContained(cur, threshold = containmentThreshold),
            CuratedTable, observe = Seq(count(lit(1)))).getLong(0)
          Map("contained_dropped" -> (m("docs_kept") - kept),
            "docs_kept_after_containment" -> kept)
        })) ++
      Seq(Stage("strip_boilerplate") { _ =>
        // CCNet segment removal over the deduped tier: a segment in
        // >= boilerMinDocs docs disappears from EVERY occurrence. The
        // staged output carries the clean text forward plus the per-doc
        // removal counts the metrics read — one evaluation, no recompute;
        // BOTH metrics (segments removed, and the post-strip token total
        // the next stage's delta needs) ride the write as observed
        // aggregates, so the staged text is never re-scanned (guide §1.4)
        val curated = spark.table(CuratedTable).select("doc_id", "text")
        val obs = Catalog.overwriteTable(
          TextDedup.stripCommonSegments(curated, segTokens = segTokens,
              minDocs = boilerMinDocs)
            .select(col("doc_id"), col("text_clean").as("text"),
              col("removed_segments")),
          BoilerTable,
          Seq(coalesce(sum("removed_segments"), lit(0L)),
            coalesce(sum(size(graft.operators.TextStats.tokens(col("text")))), lit(0L))))
        Map("boilerplate_segments_removed" -> obs.getLong(0),
          "boilerplate_tokens_after" -> obs.getLong(1))
      },
      Stage("strip_spans") { m =>
        // Lee-et-al duplicate-span strip (keep-first) on the
        // boilerplate-free text; the token delta reads the PRE-strip
        // total from the metric map (observed during the boilerplate
        // write) and the post-strip total from this write's own observed
        // aggregate — neither staged table is re-scanned.
        val boiled = spark.table(BoilerTable).select("doc_id", "text")
        val obs = Catalog.overwriteTable(
          TextDedup.stripDuplicateSpans(boiled, k = spanK)
            .select(col("doc_id"), col("clean_text").as("text")),
          CleanTable,
          Seq(coalesce(sum(size(graft.operators.TextStats.tokens(col("text")))), lit(0L))))
        Map("span_tokens_removed" -> (m("boilerplate_tokens_after") - obs.getLong(0)))
      },
      Stage("split_assign") { _ =>
        // leakage-safe id-hash split AFTER dedup (assigning before
        // would let near-dup copies of one text straddle splits);
        // downstream packs the train split only. Default 100% train →
        // recorded no-op.
        // per-split counts ride the staging write as conditional
        // aggregates (splitAssign can only emit the declared split
        // names) — the groupBy read-back was a full pass over the
        // assigned corpus (guide §1.4). Zero-count splits stay absent,
        // exactly like the groupBy's key set.
        val assigned = Curation.splitAssign(spark.table(CleanTable), splitWeights)
        val names = splitWeights.map(_._1)
        val counts = Catalog.overwriteTable(assigned, SplitTable,
          names.map(n => count(when(col("split") === n, lit(1)))))
        names.zipWithIndex.collect {
          case (n, i) if counts.getLong(i) > 0L => s"split_$n" -> counts.getLong(i)
        }.toMap
      }) ++
      (if (mixBudgetTokens <= 0L) Seq.empty[Stage] else Seq(
        Stage("epoch_mix") { _ =>
          // the training recipe over the TRAIN split: token counts come
          // from the cleaned text (what training will actually see),
          // source attribution joins back from the input corpus
          val train = spark.table(SplitTable)
            .filter(col("split") === "train").select("doc_id", "text")
          val withSrc = train.join(
            docs.select(col("doc_id"), col(mixSourceCol).as("source")),
            Seq("doc_id"), "left")
          val plan = Curation.epochPlan(withSrc, mixBudgetTokens, mixAlpha)
          Catalog.overwriteTable(plan, MixPlanTable)
          // |sources|-bounded collect: per-source targets belong in the
          // run report — a mix that silently starves a source is the
          // exact failure this stage exists to surface
          val rows = spark.table(MixPlanTable)
            .select("source", "target_tokens").collect()
          rows.map(r => s"mix_target_tokens_${r.getString(0)}" -> r.getLong(1)).toMap ++
            Map("mix_sources" -> rows.length.toLong,
              "mix_budget_tokens" -> mixBudgetTokens)
        }) ++
        (if (!materializeEpoch) Seq.empty[Stage] else Seq(
          Stage("epoch_materialize") { _ =>
            // the recipe made real: the mix plan's targets filled into
            // the actual epoch stream (integer passes + hash-order
            // fractional fill + global shuffle — Curation.epochMaterialize)
            // over the same train-split + source frame the plan read
            val train = spark.table(SplitTable)
              .filter(col("split") === "train").select("doc_id", "text")
            val withSrc = train.join(
              docs.select(col("doc_id"), col(mixSourceCol).as("source")),
              Seq("doc_id"), "left")
            Catalog.ctasOverwrite(
              Curation.epochMaterialize(withSrc, mixBudgetTokens, mixAlpha,
                seed = shuffleSeed),
              EpochTable)
            // emitted tokens per source — |sources|-bounded: the row
            // that says whether the fill actually met each target
            val rows = spark.table(EpochTable)
              .groupBy("source").agg(coalesce(sum("token_count"), lit(0L)).as("toks"),
                count(lit(1)).as("n")).collect()
            rows.map(r => s"epoch_tokens_${r.getString(0)}" -> r.getLong(1)).toMap ++
              Map("epoch_rows" -> rows.map(_.getLong(2)).sum)
          }))) ++
      Seq(Stage("pack_sequences") { _ =>
        val packed = Curation.packSequences(
          spark.table(SplitTable).filter(col("split") === "train").drop("split"),
          seqLen = seqLen)
        // both pack metrics ride the untagged snapshot write — the
        // read-back was a whole-artifact pass (guide §1.4)
        val agg = Catalog.ctasOverwrite(packed, SequencesTable,
          observe = Seq(coalesce(max(col("seq_no")) + 1, lit(0L)),
            coalesce(sum(col("token_count")), lit(0L))))
        Map("train_sequences" -> agg.getLong(0), "train_tokens" -> agg.getLong(1))
      },
      Stage("epoch_shuffle") { _ =>
        // deterministic training order over the packed docs: same seed →
        // same order on any cluster; recorded as its own versioned table
        // so an epoch is reproducible after the corpus moves on
        val order = Curation.globalShuffle(
          spark.table(SequencesTable).select("doc_id", "token_count"), seed = shuffleSeed)
        // the dense-permutation evidence rides the write (guide §1.4)
        val agg = Catalog.ctasOverwrite(order, TrainOrderTable,
          observe = Seq(count(lit(1)), coalesce(max(col("position")) + 1, lit(0L))))
        require(agg.getLong(0) == agg.getLong(1),
          s"training order must be a dense permutation: ${agg.getLong(0)} rows, max+1=${agg.getLong(1)}")
        Map("train_order_rows" -> agg.getLong(0))
      })
    // docs_in is emitted by the quality gate's flags aggregate (one row
    // per doc, same value) — seeding it here would cost a FULL extra
    // pass over the raw input corpus before any stage runs (guide §1.2)
    new Runner(stages, notify).run()
  }

  /** Persist the benchmark snapshot runFull's decontaminate stage
    * gates against ([[BenchmarkTable]]). One normalized `text` column;
    * an empty frame publishes an empty table (the gate then filters
    * nothing, deterministically). Published through the ATOMIC
    * versioned flip (ctasOverwrite), not the scratch-table overwrite:
    * a reader must resolve the pre- or post-publish snapshot, never a
    * dropped/half-written table. */
  def publishBenchmark(spark: SparkSession, benchmark: DataFrame): Unit = {
    Catalog.ctasOverwrite(benchmark.select(col("text")), BenchmarkTable)
    // the n-gram probe set is derived ONCE at publish time and persists
    // next to the snapshot. Published through the same atomic flip —
    // the two tables change together.
    Catalog.ctasOverwrite(
      Curation.benchmarkGrams(spark.table(BenchmarkTable), BenchmarkGramN),
      BenchmarkGramsTable)
  }

  /** The persisted benchmark gram set when the publish wrote one, else
    * derived from the snapshot (benchmarks published by older code) —
    * either way the identical distinct gram_hash frame. */
  private def benchmarkGramsFrame(spark: SparkSession): DataFrame =
    if (Catalog.tableExists(spark, BenchmarkGramsTable))
      spark.table(BenchmarkGramsTable)
    else Curation.benchmarkGrams(spark.table(BenchmarkTable), BenchmarkGramN)

  val TrainOrderTable = "documents_train_order"
  val MixPlanTable = "documents_mix_plan"
  val EpochTable = "documents_epoch"
  val SplitTable = "documents_split"
  val BoilerTable = "documents_boiler"
  val CleanTable = "documents_clean"

  val TierTable = "documents_tier"
  val BandIndexTable = "documents_band_index"
  val BatchSurvivorsTable = "documents_batch_survivors"
  val SpanIndexTable = "documents_span_index"
  val CleanTierTable = "documents_tier_clean"
  val BatchCleanTable = "documents_batch_clean"
  val BatchSpanIndexTable = "documents_batch_span_index"

  /** The persisted benchmark snapshot ([[publishBenchmark]]) the
    * document gate decontaminates against. */
  val BenchmarkTable = "documents_benchmark"

  /** The benchmark's distinct 8-gram hashes, derived once per publish
    * ([[publishBenchmark]]) and probed by every contamination battery. */
  val BenchmarkGramsTable = "documents_benchmark_grams"

  /** Gram width of the persisted probe set — the n every pipeline
    * battery runs [[Curation.contaminatedIds]] at. */
  private val BenchmarkGramN = 8

  /** Incremental ingest — the 100 TB operating mode, where "dedup the
    * corpus" is not an event but a treadmill: each new crawl slice is
    * reconciled against the STORED curated tier and its PERSISTED
    * (doc_id, band, bucket) LSH index, and only the survivors (plus
    * their band keys) are appended. The tier is never re-banded, never
    * re-deduplicated, never rewritten — per-batch cost is
    * O(batch + matched candidates), independent of tier size.
    *
    * First call bootstraps: the batch self-dedups batch-globally and
    * becomes the tier. Batch doc_ids must be fresh (monotone ingest
    * discipline — ids never reused across slices); under that
    * discipline the running tier equals what batch-global dedup over
    * all slices so far would keep (see nearDupAgainst's contract).
    *
    * Alongside the doc-level tier, the treadmill maintains the SPAN
    * tier: each batch's survivors are span-stripped against the stored
    * winnowed-fingerprint index ([[TextDedup.duplicateSpansAgainst]] —
    * tier fingerprints never recomputed) and the clean text lands in
    * [[CleanTierTable]] (the training-data artifact: each ≥(w+k−1)-
    * token passage at most once across all slices, first occurrence
    * kept, up to winnowing's boundary quantization). Dedup
    * reconciliation state (tier text + band index + span index) stays
    * on ORIGINAL text, so near-dup semantics never depend on what the
    * span strip removed.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame,
                  jaccardThreshold: Double = 0.8,
                  maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
                  notify: PipelineReport => Unit = _ => ()): PipelineReport = {
    // the document TIER FLAVOR over the shared treadmill skeleton:
    // probe → reconcile → span strip → publish, with the stage
    // scaffolding, kept/dropped accounting, and the retrying Runner
    // owned by Treadmill.ingestTier — this pipeline contributes only
    // the operators and the publish body
    val flavor = new Treadmill.TierFlavor {
      val tierTable = TierTable
      val probeMetric = "tier_docs"
      val survivorsTable = BatchSurvivorsTable
      def dedupe(spark: SparkSession, batch: DataFrame,
                 bootstrap: Boolean): DataFrame =
        if (bootstrap)
          TextDedup.dedupNearMinhash(batch,
            jaccardThreshold = jaccardThreshold, maxBucketSize = maxBucketSize)
        else
          TextDedup.nearDupAgainst(spark.table(TierTable), batch,
            jaccardThreshold = jaccardThreshold, maxBucketSize = maxBucketSize,
            tierIndex = Some(spark.table(BandIndexTable)))
      override def middleStages: Seq[Stage] = Seq(
      Stage("incremental_strip_spans") { _ =>
        // span treadmill: survivors strip against the STORED fingerprint
        // index (plus earlier-in-batch material); bootstrap = winnowed
        // spans within the batch alone. Both the clean text and the
        // batch's own fingerprints stage to scratch tables so publish
        // appends without recomputing either.
        val survivors = spark.table(BatchSurvivorsTable).select("doc_id", "text")
        val spans =
          if (Catalog.tableExists(spark, SpanIndexTable))
            TextDedup.duplicateSpansAgainst(spark.table(SpanIndexTable), survivors)
          else TextDedup.winnowedSpans(survivors)
        // the post-strip token total rides the write (guide §1.4) — only
        // the pre-strip total pays its own (batch-sized) aggregate
        val cleanToks = Catalog.overwriteTable(
          TextDedup.stripSpansWith(survivors, spans)
            .select(col("doc_id"), col("clean_text").as("text")),
          BatchCleanTable,
          Seq(coalesce(sum(size(graft.operators.TextStats.tokens(col("text")))), lit(0L))))
          .getLong(0)
        Catalog.overwriteTable(TextDedup.spanIndex(survivors), BatchSpanIndexTable)
        val survToks = spark.table(BatchSurvivorsTable)
          .agg(coalesce(sum(size(graft.operators.TextStats.tokens(col("text")))), lit(0L)))
          .head().getLong(0)
        Map("span_tokens_removed" -> (survToks - cleanToks))
      })
      def publish(spark: SparkSession, m: Map[String, Long]): Map[String, Long] = {
        val survivors = spark.table(BatchSurvivorsTable)
        val keys = TextDedup.bandIndex(survivors)
        val clean = spark.table(BatchCleanTable)
        val fps = spark.table(BatchSpanIndexTable)
        if (!Catalog.tableExists(spark, TierTable)) {
          Catalog.ensureTable(spark, TierTable, survivors.schema)
          Catalog.ensureTable(spark, BandIndexTable, keys.schema)
          Catalog.ensureTable(spark, CleanTierTable, clean.schema)
          Catalog.ensureTable(spark, SpanIndexTable, fps.schema)
        }
        // idempotent appends: this stage runs under a retrying Runner
        // and writes FOUR tables — a transient failure between them
        // must converge on retry, not double-append the tables that
        // already committed (batch doc_ids are fresh+monotone, so each
        // probe prunes to the newest appends — Catalog.insertAppendOnce).
        // Every appended frame derives from the SAME survivor doc set
        // (clean/fps are per-survivor projections), so ONE min-id
        // aggregate serves every probe instead of one per table (§1.2).
        // The sibling appends write DIFFERENT tables from already-staged
        // scratch frames: submit them concurrently so their per-job
        // scheduler latency overlaps instead of chaining (guide §2.6 —
        // the publish stage is the drain's largest stage and is latency-
        // bound, not work-bound). A failure in any sibling still fails
        // the stage after ALL have finished (inParallel's contract), so
        // the retry path is exactly the sequential one's.
        val minId = survivors.agg(min(col("doc_id"))).head().get(0)
        Catalog.inParallel(
          () => Catalog.insertAppendOnceFrom(spark, TierTable, survivors, "doc_id", minId): Unit,
          () => Catalog.insertAppendOnceFrom(spark, BandIndexTable, keys, "doc_id", minId): Unit,
          () => Catalog.insertAppendOnceFrom(spark, CleanTierTable, clean, "doc_id", minId): Unit,
          () => Catalog.insertAppendOnceFrom(spark, SpanIndexTable, fps, "doc_id", minId): Unit)
        Map("tier_docs_after" -> spark.table(TierTable).count())
      }
    }
    Treadmill.ingestTier(spark, batch, flavor, notify)
  }

  /** The ingest treadmill as a STREAM: a checkpointed file source over
    * the document landing layout drives [[ingestBatch]] once per
    * micro-batch — [[Treadmill.foreachBatchStream]] owns the
    * session-clone, batch-pin, and outer-refresh disciplines. The
    * checkpoint dedups FILES (a restart resumes at the first
    * undiscovered slice); the treadmill's own band/span indexes dedup
    * CONTENT, so redelivered text cannot re-enter the tier either way.
    * With Trigger.AvailableNow the query drains everything landed and
    * stops — the scheduled-batch deployment shape; a processing-time
    * trigger turns the same code into a continuous service. */
  def streamIngest(spark: SparkSession, landingDir: String, checkpointDir: String,
                   jaccardThreshold: Double = 0.8,
                   maxBucketSize: Int = TextDedup.DefaultMaxBucketSize)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Treadmill.foreachBatchStream(spark, landingDir, checkpointDir,
      org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, text STRING"),
      run = (sess, pinned) => ingestBatch(sess, pinned, jaccardThreshold,
        maxBucketSize),
      refreshTables = _ => Seq(TierTable, BandIndexTable, SpanIndexTable, CleanTierTable),
      label = "document treadmill")

  /** Drop every treadmill table — a fresh-tier reset for
    * self-contained runs (the stream gate query and specs), the
    * benchmark snapshot included. */
  def resetTreadmill(spark: SparkSession): Unit =
    Seq(TierTable, BandIndexTable, SpanIndexTable, CleanTierTable,
      BatchSurvivorsTable, BatchCleanTable, BatchSpanIndexTable,
      BenchmarkTable, BenchmarkGramsTable)
      .foreach(Catalog.dropIfExists(spark, _))
}
