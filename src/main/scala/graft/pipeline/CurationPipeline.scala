package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Components, Curation, TextDedup}
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
    * group as their own bucket — visible in the plan, never dropped.
    *
    * `bpeMerges` > 0 trains the tokenizer on the train split
    * (`bpeDomain` picks the trainable-token domain — [[Bpe.AllTokens]]
    * for code-heavy/CJK corpora — and the epoch stages inherit it, so
    * budgets stay in the tokenizer's unit); `materializeTokenIds` then
    * publishes the SHIPPABLE artifacts: the vocab table
    * ([[VocabTable]]), per-document token-id sequences
    * ([[TokenIdsTable]]), and id-exact packed training sequences
    * ([[IdSequencesTable]]), with a zero-UNK invariant enforced (the
    * train corpus can never miss a seed of its own vocab). */
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
              bpeMerges: Int = 0,
              bpeDomain: Bpe.Domain = Bpe.LetterWords,
              materializeTokenIds: Boolean = false,
              notify: PipelineReport => Unit = _ => ()): PipelineReport = {
    require(!materializeTokenIds || bpeMerges > 0,
      "token-id materialization consumes the trained tokenizer — set bpeMerges > 0")
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
      (if (bpeMerges <= 0) Seq.empty[Stage] else Seq(
        Stage("tokenizer_train") { _ =>
          // the tokenizer artifact over what training will actually
          // see: BPE merges learned on the TRAIN split's cleaned text
          // (ONE corpus-sized word count, then BATCHED |vocab|-bounded
          // merge rounds — Bpe.trainBatched, provably ≡ the sequential
          // loop). The merge table is k-sized by definition; published
          // like every other pipeline artifact, and the epoch stages
          // below read it back so their token accounting is in BPE
          // units — the unit the trained model will actually consume.
          val train = spark.table(SplitTable)
            .filter(col("split") === "train").select("doc_id", "text")
          import spark.implicits._
          // a fresh bootstrap resets any prior rollover state — the new
          // artifact is generation 0 and the pointer must say so
          resetTokenizerGenerations(spark)
          // materializeTokenIds needs the vocab too: derive it from the
          // SAME word count the training consumed (one corpus pass for
          // both — guide §1.2) and publish it here, so tokenize_ids
          // never re-scans the train split to rebuild it. Without
          // materialization no vocab is built, exactly as before.
          val (learned, vocabMetrics) =
            if (!materializeTokenIds)
              (Bpe.trainBatched(train, bpeMerges, domain = bpeDomain),
                Map.empty[String, Long])
            else {
              val (m, vocab) = Bpe.trainBatchedWithVocab(train, bpeMerges,
                domain = bpeDomain)
              // the vocab size rides the (k-sized) write — no read-back
              (m, Map("vocab_size" ->
                Catalog.overwriteTable(vocab, VocabTable, Seq(count(lit(1)))).getLong(0)))
            }
          Catalog.overwriteTable(
            learned.map(m => (m.rank, m.leftSym, m.rightSym, m.pairCount))
              .toDF("rank", "left_sym", "right_sym", "pair_count"), BpeMergesTable)
          // the artifact must say WHICH domain trained it: an encode
          // under a different domain silently mis-tokenizes, and the
          // ingest treadmill's tokenize stage resolves this back
          Catalog.overwriteTable(
            Seq(Bpe.domainName(bpeDomain)).toDF("domain"), TokenizerMetaTable)
          // the merge list is k-sized DRIVER state — its length needs no
          // read-back job (retrainTokenizer already reports merges.size)
          vocabMetrics ++ Map("bpe_merges" -> learned.size.toLong)
        }) ++
        (if (!materializeTokenIds) Seq.empty[Stage] else Seq(
          Stage("tokenize_ids") { _ =>
            // the SHIPPABLE tokenization: vocab table, per-doc token-id
            // sequences, and id-exact packed training sequences over the
            // TRAIN split — the artifacts a training job actually
            // mounts, in the unit the epoch stages below budget in.
            // packIdSequences reads the PUBLISHED id table (its pin is a
            // stored-block re-read, not a recompute — the operator's
            // documented 100 TB shape).
            val train = spark.table(SplitTable)
              .filter(col("split") === "train").select("doc_id", "text")
            val merges = loadBpeMerges(spark, bpeMerges)
            // the vocab was published by tokenizer_train from the same
            // word count the training consumed (its size is already in
            // the metric map); the (docs, ids, unks) stats ride this
            // write as observed aggregates — the id tier is written
            // once and never re-scanned for metrics (guide §1.4)
            val stats = Catalog.overwriteTable(
              Bpe.tokenizeIds(train, merges, spark.table(VocabTable),
                domain = bpeDomain),
              TokenIdsTable,
              Seq(count(lit(1)),
                coalesce(sum(size(col("token_ids"))), lit(0)).cast("long"),
                coalesce(sum(size(filter(col("token_ids"), i => i === Bpe.UnkId))),
                  lit(0)).cast("long")))
            val tokenized = spark.table(TokenIdsTable)
            val nSeqs = Catalog.overwriteTable(
              Bpe.packIdSequences(tokenized, seqLen = seqLen), IdSequencesTable,
              Seq(count(lit(1)))).getLong(0)
            // tokenizing the corpus the vocab was built FROM can never
            // miss a seed symbol — a non-zero UNK count here means the
            // vocab and the tokenizer drifted apart; fail loudly
            require(stats.getLong(2) == 0L,
              s"train-corpus tokenization produced ${stats.getLong(2)} UNK ids")
            // generation-birth compression baseline — free here (the
            // ids total is already aggregated; chars is one row-local
            // expression over the train text)
            import spark.implicits._
            val chars = train.agg(coalesce(
              sum(Bpe.seedCharCount(col("text"), bpeDomain)), lit(0L)))
              .head().getLong(0)
            Catalog.overwriteTable(
              Seq((stats.getLong(1), chars))
                .toDF("baseline_ids", "baseline_seed_chars"),
              TokenizerBaselineTable)
            Map("tokenized_docs" -> stats.getLong(0),
              "token_ids_total" -> stats.getLong(1),
              "id_sequences" -> nSeqs)
          }))) ++
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
          // tokenizer-aware when a tokenizer was trained: targets in
          // BPE units (otherwise whitespace tokens — mixing units
          // would systematically mis-budget per source)
          val plan = Curation.epochPlan(withSrc, mixBudgetTokens, mixAlpha,
            merges = loadBpeMerges(spark, bpeMerges), domain = bpeDomain)
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
                seed = shuffleSeed,
                merges = loadBpeMerges(spark, bpeMerges), domain = bpeDomain),
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

  /** The published tokenizer artifact read back as a merge list —
    * k-sized by definition (a 32k-merge vocabulary is 32k rows). Empty
    * when no tokenizer stage ran, which keeps the epoch chain in
    * whitespace-token units. */
  private def loadBpeMerges(spark: SparkSession, bpeMerges: Int): Seq[Bpe.Merge] =
    if (bpeMerges <= 0 || !Catalog.tableExists(spark, BpeMergesTable)) Nil
    else loadMergesFrom(spark, BpeMergesTable)

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

  val BpeMergesTable = "documents_bpe_merges"
  val VocabTable = "documents_bpe_vocab"
  val TokenizerMetaTable = "documents_bpe_tokenizer_meta"
  val TokenIdsTable = "documents_token_ids"
  val BatchTokenIdsTable = "documents_batch_token_ids"
  val IdSequencesTable = "documents_id_sequences"
  val PackStateTable = "documents_pack_state"
  val BatchPackTable = "documents_batch_pack"
  val DeltaTokenIdsTable = "documents_delta_token_ids"
  val DeltaPackTable = "documents_delta_pack"
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

  val TokenizerGenPointerTable = "documents_tokenizer_gen"
  val TokenizerStatsTable = "documents_tokenizer_stats"
  val TokenizerBaselineTable = "documents_tokenizer_baseline"

  /** The per-generation tokenizer artifacts ([[genName]]): what a
    * reset drops and a rollover prunes. */
  private val GenerationTables = Seq(BpeMergesTable, VocabTable,
    TokenizerMetaTable, TokenIdsTable, IdSequencesTable, PackStateTable,
    TokenizerStatsTable, TokenizerBaselineTable)

  /** The persisted benchmark snapshot ([[publishBenchmark]]) the
    * document gate decontaminates against. */
  val BenchmarkTable = "documents_benchmark"

  /** The benchmark's distinct 8-gram hashes, derived once per publish
    * ([[publishBenchmark]]) and probed by every contamination battery. */
  val BenchmarkGramsTable = "documents_benchmark_grams"

  /** Gram width of the persisted probe set — the n every pipeline
    * battery runs [[Curation.contaminatedIds]] at. */
  private val BenchmarkGramN = 8

  /** Per-generation physical names for the tokenizer artifacts — the
    * VectorPipeline rollover layout applied to the tokenizer: the next
    * generation is STAGED under names no reader resolves, and the only
    * shared mutable state is the one-row pointer. Generation 0 keeps
    * the unsuffixed names (the runFull / publishTokenizer bootstrap),
    * so every pre-rollover reader and gate sees the tables it always
    * did. */
  private def genName(base: String, gen: Long): String =
    if (gen == 0L) base else s"${base}_g$gen"

  /** The current tokenizer generation (0 = bootstrap). One 1-row read
    * of the atomically-published pointer. */
  def currentTokenizerGeneration(spark: SparkSession): Long =
    if (Catalog.tableExists(spark, TokenizerGenPointerTable))
      spark.table(TokenizerGenPointerTable).head().getLong(0)
    else 0L

  /** ALL current-generation tokenizer artifact names, resolved from ONE
    * pointer read — the multi-artifact read contract: a reader that
    * combines two artifacts (ids + vocab to decode, sequences + merges
    * to audit) MUST take both names from one [[tokenizerTables]] value;
    * two separate per-table resolver calls can straddle a concurrent
    * rollover and mix id spaces across generations (ids are only
    * meaningful against ONE vocab). */
  case class TokenizerTables(generation: Long, merges: String, vocab: String,
                             meta: String, tokenIds: String,
                             idSequences: String, packState: String,
                             stats: String)

  def tokenizerTables(spark: SparkSession): TokenizerTables = {
    val g = currentTokenizerGeneration(spark)
    TokenizerTables(g, genName(BpeMergesTable, g), genName(VocabTable, g),
      genName(TokenizerMetaTable, g), genName(TokenIdsTable, g),
      genName(IdSequencesTable, g), genName(PackStateTable, g),
      genName(TokenizerStatsTable, g))
  }

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
    * discipline — ids never reused across slices) and NON-NEGATIVE
    * (the drift ledger keys doc batches by min doc_id, and its legacy
    * migration reads a negative key as a non-doc row); under that
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
                  tokenize: Boolean = false,
                  packSeqLen: Int = 0,
                  notify: PipelineReport => Unit = _ => ()): PipelineReport = {
    // resolve the tokenizer generation ONCE per batch: every tokenizer
    // artifact this batch touches (merges, vocab, meta, ids, sequences,
    // pack state, drift stats) comes from the same generation, so a
    // rollover landing mid-batch can never mix id spaces
    val tt = tokenizerTables(spark)
    val mergesT = tt.merges
    val vocabT = tt.vocab
    val metaT = tt.meta
    val idsT = tt.tokenIds
    val seqT = tt.idSequences
    val stateT = tt.packState
    val statsT = tt.stats
    require(!tokenize || (Catalog.tableExists(spark, mergesT) &&
        Catalog.tableExists(spark, vocabT)),
      "tokenize needs a published tokenizer (merges + vocab) — train one first " +
        "(runFull bpeMerges/materializeTokenIds, or publishTokenizer)")
    require(packSeqLen <= 0 || tokenize,
      "incremental packing consumes the batch's token ids — set tokenize = true")
    // the document TIER FLAVOR over the shared treadmill skeleton:
    // probe → reconcile → (span strip / tokenize / pack) → publish,
    // with the stage scaffolding, kept/dropped accounting, and the
    // retrying Runner owned by Treadmill.ingestTier — this pipeline
    // contributes only the operators and the publish body
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
      }) ++
      (if (!tokenize) Seq.empty[Stage] else Seq(
        Stage("tokenize_batch") { _ =>
          // incremental tokenization against the FROZEN published
          // tokenizer: the batch's CLEAN text (what the tier keeps)
          // tokenizes to id sequences and stages to scratch; publish
          // appends. UNK ids are REPORTED, never failed — new text CAN
          // carry seeds the training corpus lacked, and the batch UNK
          // count is exactly the vocab-drift signal that schedules a
          // retrain (the VectorPipeline drift-loop discipline, applied
          // to the tokenizer artifact).
          val merges = loadMergesFrom(spark, mergesT)
          val domain = readTokenizerDomain(spark, metaT)
          // the (ids, unks) stats ride the staging write as observed
          // aggregates — the batch id table is never re-scanned (§1.4)
          val stats = Catalog.overwriteTable(
            Bpe.tokenizeIds(spark.table(BatchCleanTable), merges,
              spark.table(vocabT), domain = domain),
            BatchTokenIdsTable,
            Seq(coalesce(sum(size(col("token_ids"))), lit(0)).cast("long"),
              coalesce(sum(size(filter(col("token_ids"),
                i => i === lit(Bpe.UnkId)))), lit(0)).cast("long")))
          // the compression-drift denominator: seed symbols (bytes
          // under the Bytes domain) of the batch's trainable words —
          // one row-local expression over the clean text, no second
          // tokenize pass
          val chars = spark.table(BatchCleanTable).agg(
            coalesce(sum(Bpe.seedCharCount(col("text"), domain)), lit(0L)))
            .head().getLong(0)
          Map("batch_token_ids" -> stats.getLong(0),
            "batch_unk_ids" -> stats.getLong(1),
            "batch_seed_chars" -> chars)
        })) ++
      (if (packSeqLen <= 0) Seq.empty[Stage] else Seq(
        Stage("pack_batch") { _ =>
          import spark.implicits._
          // continue the packed-sequence stream from the stored state:
          // the carry (the previous batch's partial tail) rides as a
          // pseudo-doc that sorts FIRST (Long.MinValue doc_id), so
          // packing carry ++ batch IS the global pack restricted to
          // this batch's token window — batch doc_ids are monotone
          // (the treadmill's standing contract), matching the global
          // doc_id order id-for-id. Compute-only: publish_batch
          // appends the FULL sequences and flips the state LAST, so a
          // stage retry replays into insertAppendOnce dedup and never
          // double-advances the offset.
          val st = readPackState(spark, stateT)
          val carryDf =
            if (st.carry.isEmpty)
              spark.emptyDataset[(Long, Seq[Long])].toDF("doc_id", "token_ids")
            else Seq((Long.MinValue, st.carry)).toDF("doc_id", "token_ids")
          val packed = Bpe.packIdSequences(
              carryDf.unionByName(
                spark.table(BatchTokenIdsTable).select("doc_id", "token_ids")),
              seqLen = packSeqLen)
            .select((col("seq_no") + st.nextSeqNo).as("seq_no"), col("token_ids"))
          // both pack metrics (full-sequence count, carry-tail ids) ride
          // the staging write as observed aggregates — previously two
          // extra read-back jobs per micro-batch (guide §1.4)
          val obs = Catalog.overwriteTable(packed, BatchPackTable,
            Seq(count(when(size(col("token_ids")) === packSeqLen, lit(1))),
              coalesce(sum(when(size(col("token_ids")) < packSeqLen,
                size(col("token_ids")))), lit(0)).cast("long")))
          Catalog.releasePin(packed) // packIdSequences' internal input pin
          Map("batch_full_sequences" -> obs.getLong(0),
            "pack_carry_ids" -> obs.getLong(1))
        }))
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
        // (clean/fps/ids are per-survivor projections), so ONE min-id
        // aggregate serves every probe instead of one per table (§1.2).
        // The sibling appends write DIFFERENT tables from already-staged
        // scratch frames: submit them concurrently so their per-job
        // scheduler latency overlaps instead of chaining (guide §2.6 —
        // the publish stage is the drain's largest stage and is latency-
        // bound, not work-bound). A failure in any sibling still fails
        // the stage after ALL have finished (inParallel's contract), so
        // the retry path is exactly the sequential one's.
        val minId = survivors.agg(min(col("doc_id"))).head().get(0)
        if (tokenize)
          Catalog.ensureTable(spark, idsT, spark.table(BatchTokenIdsTable).schema)
        Catalog.inParallel(
          Seq(
            () => Catalog.insertAppendOnceFrom(spark, TierTable, survivors, "doc_id", minId): Unit,
            () => Catalog.insertAppendOnceFrom(spark, BandIndexTable, keys, "doc_id", minId): Unit,
            () => Catalog.insertAppendOnceFrom(spark, CleanTierTable, clean, "doc_id", minId): Unit,
            () => Catalog.insertAppendOnceFrom(spark, SpanIndexTable, fps, "doc_id", minId): Unit) ++
          (if (!tokenize) Seq.empty[() => Unit] else Seq(
            () => Catalog.insertAppendOnceFrom(spark, idsT,
              spark.table(BatchTokenIdsTable), "doc_id", minId): Unit)): _*)
        if (tokenize) {
          // the drift ledger: ONE k-sized row per tokenized batch
          // (keyed by the batch's min doc_id — fresh+monotone, so a
          // publish retry dedups through insertAppendOnce like every
          // other artifact). maybeRetrainTokenizer reads the CURRENT
          // generation's cumulative UNK share from this table — the
          // decision read never rescans the id tier. The key reuses the
          // publish's one min-id aggregate (survivors' min bounds the
          // tokenized doc set); an id-less batch (zero trainable
          // occurrences ⇒ zero token ids) appends nothing, as before.
          if (minId != null && m("batch_token_ids") > 0L)
            appendTokenizerStat(spark, statsT, minId.asInstanceOf[Long],
              m("batch_token_ids"), m("batch_unk_ids"), m("batch_seed_chars"))
        }
        if (packSeqLen > 0) {
          // full sequences append (seq_no fresh + monotone — the same
          // insertAppendOnce idempotence class); the state flips LAST,
          // so a publish retry recomputes the SAME seq_nos from the
          // old state and the append dedups instead of double-packing
          val full = spark.table(BatchPackTable)
            .filter(size(col("token_ids")) === packSeqLen)
          Catalog.ensureTable(spark, seqT, full.schema)
          Catalog.insertAppendOnce(spark, seqT, full, "seq_no")
          // the cursor derives from the PUBLISHED table (seq_nos are
          // dense per generation, so max+1 == published count), not
          // from cursor + full.count(): a retry that already wrote the
          // state once converges instead of double-advancing
          val nextSeq = spark.table(seqT)
            .agg(coalesce(max(col("seq_no")) + 1, lit(0L))).head().getLong(0)
          val tail = spark.table(BatchPackTable)
            .filter(size(col("token_ids")) < packSeqLen)
            .collect() // ≤ 1 row of < seqLen ids — k-sized by construction
          writePackState(spark, stateT, nextSeq,
            tail.headOption.map(_.getSeq[Long](1)).getOrElse(Seq.empty))
        }
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
                   maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
                   tokenize: Boolean = false,
                   packSeqLen: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Treadmill.foreachBatchStream(spark, landingDir, checkpointDir,
      org.apache.spark.sql.types.StructType.fromDDL("doc_id LONG, text STRING"),
      run = (sess, pinned) => ingestBatch(sess, pinned, jaccardThreshold,
        maxBucketSize, tokenize, packSeqLen),
      refreshTables = { sess =>
        // generation resolved on the CLONE (it read/advanced the
        // pointer); the refresh applies to the outer session
        val g = currentTokenizerGeneration(sess)
        Seq(TierTable, BandIndexTable, SpanIndexTable, CleanTierTable) ++
          Seq(TokenIdsTable, IdSequencesTable, PackStateTable, TokenizerStatsTable)
            .map(genName(_, g))
      },
      label = "document treadmill")

  /** Drop every treadmill table — a fresh-tier reset for
    * self-contained runs (the stream gate query and specs). Tokenizer
    * artifacts drop across ALL generations (suffixed names enumerate
    * through the catalog, the VectorPipeline reset discipline), and so
    * does the benchmark snapshot. */
  def resetTreadmill(spark: SparkSession): Unit = {
    val genTables = spark.catalog.listTables().collect().map(_.name)
      .filter(n => GenerationTables.exists(b => n == b || n.startsWith(b + "_g")))
    (Seq(TierTable, BandIndexTable, SpanIndexTable, CleanTierTable,
      BatchSurvivorsTable, BatchCleanTable, BatchSpanIndexTable,
      BatchTokenIdsTable, BatchPackTable, DeltaTokenIdsTable, DeltaPackTable,
      TokenizerGenPointerTable, BenchmarkTable, BenchmarkGramsTable) ++ genTables)
      .foreach(Catalog.dropIfExists(spark, _))
  }

  /** Train and publish the tokenizer artifact in one call — merges,
    * vocab, and the domain marker — the bootstrap a tokenizing ingest
    * treadmill consumes when no `runFull` has run yet. */
  def publishTokenizer(spark: SparkSession, train: DataFrame, numMerges: Int,
                       domain: Bpe.Domain = Bpe.LetterWords): Unit = {
    import spark.implicits._
    resetTokenizerGenerations(spark)
    // merges and vocab derive from ONE corpus word count (the fused
    // trainBatchedWithVocab) — the unfused pair scanned the train
    // corpus twice for the same |vocab|-bounded table
    val (merges, vocab) = Bpe.trainBatchedWithVocab(train, numMerges, domain = domain)
    Catalog.overwriteTable(
      merges.map(m => (m.rank, m.leftSym, m.rightSym, m.pairCount))
        .toDF("rank", "left_sym", "right_sym", "pair_count"), BpeMergesTable)
    Catalog.overwriteTable(vocab, VocabTable)
    Catalog.overwriteTable(
      Seq(Bpe.domainName(domain)).toDF("domain"), TokenizerMetaTable)
    // the generation-birth COMPRESSION BASELINE (ids / seed chars of
    // the artifact's own train corpus) — what the drift check compares
    // the treadmill's running ratio against. One tokenize pass, paid
    // here because the Bytes domain makes UNK counting structurally
    // blind to corpus drift (every byte is usually in-alphabet).
    writeBaseline(spark, train, merges, VocabTable, domain, TokenizerBaselineTable)
  }

  /** Tokenize `corpus` against the given artifact and persist the
    * (ids, seed_chars) compression baseline row for its generation. */
  private def writeBaseline(spark: SparkSession, corpus: DataFrame,
                            merges: Seq[Bpe.Merge], vocabT: String,
                            domain: Bpe.Domain, outT: String): Unit = {
    import spark.implicits._
    val ids = Bpe.tokenizeIds(corpus, merges, spark.table(vocabT), domain = domain)
      .agg(coalesce(sum(size(col("token_ids"))), lit(0)).cast("long"))
      .head().getLong(0)
    val chars = corpus.agg(
      coalesce(sum(Bpe.seedCharCount(col("text"), domain)), lit(0L)))
      .head().getLong(0)
    Catalog.overwriteTable(
      Seq((ids, chars)).toDF("baseline_ids", "baseline_seed_chars"), outT)
  }

  /** A fresh tokenizer bootstrap is a GENERATION RESET: publishing new
    * gen-0 artifacts while the pointer still names a survivor of an
    * old rollover would leave readers on the stale generation — drop
    * the pointer, every suffixed generation, and the drift ledger so
    * the new artifact starts at generation 0 with a clean window. The
    * gen-0 ID/SEQUENCE tables are left alone: the caller may be
    * re-publishing the same tokenizer mid-treadmill, and dropping data
    * tables is [[resetTreadmill]]'s job, not a publish side effect. */
  private def resetTokenizerGenerations(spark: SparkSession): Unit = {
    val suffixed = spark.catalog.listTables().collect().map(_.name)
      .filter(n => GenerationTables.exists(b => n.startsWith(b + "_g")))
    (suffixed.toSeq :+ TokenizerGenPointerTable :+ TokenizerStatsTable
      :+ TokenizerBaselineTable)
      .foreach(Catalog.dropIfExists(spark, _))
  }

  /** Retrain the tokenizer on the current CLEAN TIER and roll the
    * generation: the [[VectorPipeline.regenerate]] discipline applied
    * to the tokenizer artifact. Token ids are only meaningful against
    * ONE vocab, so a retrain is never an in-place vocab edit: the next
    * generation (merges, vocab, domain marker, the re-tokenized tier's
    * id table, and — when `packSeqLen > 0` — the re-packed sequence
    * stream with a fresh cursor) is STAGED under names no reader
    * resolves, the one-row pointer flips atomically, and generations
    * older than `keepGenerations` predecessors are pruned. The retrain
    * keeps the published artifact's DOMAIN and vocabulary budget
    * (current merge count) unless overridden — a drift-triggered
    * rollover must not silently change what kind of tokenizer it is.
    *
    * Cost shape at 100 TB: ONE wordCounts pass + |vocab|-bounded merge
    * rounds (training), ONE tier tokenize through the native kernel,
    * ONE pack pass — the same one-full-tier-pass class as
    * regenerate's encode stage, plus a normally-empty delta pass that
    * closes the retokenize→flip interleave window (an ingestBatch
    * landing between the tier snapshot and the flip appends docs the
    * staged ids lack; exactly those docs tokenize late and the staged
    * pack stream continues over them). Sequence numbering restarts per
    * generation: a training consumer reads one generation's stream
    * end-to-end — mixing seq_nos across vocabs is the bug, not the
    * feature. */
  def retrainTokenizer(spark: SparkSession, packSeqLen: Int = 0,
                       numMerges: Int = -1,
                       keepGenerations: Int = 2,
                       notify: PipelineReport => Unit = _ => (),
                       afterRetokenize: () => Unit = () => ()): PipelineReport = {
    require(keepGenerations >= 1, s"keepGenerations must be >= 1, got $keepGenerations")
    val gen = currentTokenizerGeneration(spark)
    require(Catalog.tableExists(spark, genName(BpeMergesTable, gen)),
      "retrain needs a published tokenizer to roll from — publishTokenizer first")
    require(Catalog.tableExists(spark, CleanTierTable),
      "retrain reads the clean tier — run at least one ingestBatch first")
    val next = gen + 1
    val domain = readTokenizerDomain(spark, genName(TokenizerMetaTable, gen))
    val mergesT = genName(BpeMergesTable, next)
    val vocabT = genName(VocabTable, next)
    val metaT = genName(TokenizerMetaTable, next)
    val idsT = genName(TokenIdsTable, next)
    val seqT = genName(IdSequencesTable, next)
    val stateT = genName(PackStateTable, next)
    val stages = Seq(
      Stage("train_next") { _ =>
        import spark.implicits._
        val budget = if (numMerges > 0) numMerges
          else spark.table(genName(BpeMergesTable, gen)).count().toInt
        // ONE word count over the clean tier feeds both the merge
        // training and the vocab's seed alphabet
        val corpus = spark.table(CleanTierTable).select("doc_id", "text")
        val (merges, vocab) = Bpe.trainBatchedWithVocab(corpus, budget, domain = domain)
        Catalog.overwriteTable(
          merges.map(m => (m.rank, m.leftSym, m.rightSym, m.pairCount))
            .toDF("rank", "left_sym", "right_sym", "pair_count"), mergesT)
        Catalog.overwriteTable(vocab, vocabT)
        Catalog.overwriteTable(Seq(Bpe.domainName(domain)).toDF("domain"), metaT)
        Map("next_generation" -> next, "bpe_merges" -> merges.size.toLong)
      },
      Stage("retokenize_tier") { _ =>
        // the (docs, ids, unks) stats ride the retokenize write as
        // observed aggregates — the full-tier id table is written once
        // and never re-scanned for metrics (guide §1.4: at 100 TB the
        // read-back was a whole tier pass)
        val stats = Catalog.overwriteTable(
          Bpe.tokenizeIds(spark.table(CleanTierTable), loadMergesFrom(spark, mergesT),
            spark.table(vocabT), domain = domain),
          idsT,
          Seq(count(lit(1)),
            coalesce(sum(size(col("token_ids"))), lit(0)).cast("long"),
            coalesce(sum(size(filter(col("token_ids"), i => i === lit(Bpe.UnkId)))),
              lit(0)).cast("long")))
        // the NEW generation's compression baseline: the tier's ratio
        // under the vocab just trained on it — free (ids already
        // aggregated; chars is one row-local expression)
        import spark.implicits._
        val chars = spark.table(CleanTierTable).agg(coalesce(
          sum(Bpe.seedCharCount(col("text"), domain)), lit(0L)))
          .head().getLong(0)
        Catalog.overwriteTable(
          Seq((stats.getLong(1), chars))
            .toDF("baseline_ids", "baseline_seed_chars"),
          genName(TokenizerBaselineTable, next))
        // REPORTED, not required: the tier snapshot here can already
        // contain docs an interleaved ingestBatch appended after
        // train_next's read — their unseen seeds are legitimate UNKs
        // (the single-writer deployment sees zero; the spec pins that)
        Map("tier_tokenized_docs" -> stats.getLong(0),
          "tier_token_ids" -> stats.getLong(1), "tier_unk_ids" -> stats.getLong(2))
      }) ++
      (if (packSeqLen <= 0) Seq.empty[Stage] else Seq(
        Stage("repack_tier") { _ =>
          val packed = Bpe.packIdSequences(
            spark.table(idsT).select("doc_id", "token_ids"), seqLen = packSeqLen)
          val full = packed.filter(size(col("token_ids")) === packSeqLen)
          // the published-sequence count rides the write (guide §1.4)
          val n = Catalog.overwriteTable(full, seqT, Seq(count(lit(1)))).getLong(0)
          val tail = packed.filter(size(col("token_ids")) < packSeqLen)
            .collect() // ≤ 1 partial row — k-sized by construction
          Catalog.releasePin(packed)
          writePackState(spark, stateT, n,
            tail.headOption.map(_.getSeq[Long](1)).getOrElse(Seq.empty))
          Map("repacked_sequences" -> n)
        })) ++
      Seq(
      Stage("stage_delta") { _ =>
        import spark.implicits._
        // test seam: the spec injects an ingestBatch here to prove the
        // delta pass repairs the retokenize→flip window
        afterRetokenize()
        // close the interleave window: docs an interleaved ingestBatch
        // appended after the retokenize snapshot are missing from the
        // staged ids — tokenize exactly that delta (normally zero rows)
        // and continue the staged pack stream over it, so the
        // generation about to be published covers the tier doc-for-doc.
        // COMPUTE-ONLY (the tokenize_batch/pack_batch discipline): the
        // delta ids AND the delta pack stage to scratch tables here,
        // and publish_generation only appends — deriving the delta
        // from the tier-vs-idsT anti-join INSIDE the publish would let
        // a retry that crashed between the id append and the sequence
        // append see an empty anti-join, skip the pack, and flip a
        // generation permanently missing the late docs' sequences.
        // Both scratch overwrites are idempotent under this stage's own
        // retry (idsT/seqT/state are untouched until publish).
        val staged = spark.table(idsT).select(col("doc_id"))
        val late = spark.table(CleanTierTable)
          .join(staged, Seq("doc_id"), "left_anti").localCheckpoint(true)
        val lateN = late.count()
        if (lateN > 0)
          Catalog.overwriteTable(
            Bpe.tokenizeIds(late, loadMergesFrom(spark, mergesT),
              spark.table(vocabT), domain = domain),
            DeltaTokenIdsTable)
        else
          Catalog.overwriteTable(
            spark.emptyDataset[(Long, Seq[Long])].toDF("doc_id", "token_ids"),
            DeltaTokenIdsTable)
        Catalog.releasePin(late)
        if (packSeqLen > 0) {
          if (lateN > 0) {
            val st = readPackState(spark, stateT)
            val carryDf =
              if (st.carry.isEmpty)
                spark.emptyDataset[(Long, Seq[Long])].toDF("doc_id", "token_ids")
              else Seq((Long.MinValue, st.carry)).toDF("doc_id", "token_ids")
            val packed = Bpe.packIdSequences(
                carryDf.unionByName(
                  spark.table(DeltaTokenIdsTable).select("doc_id", "token_ids")),
                seqLen = packSeqLen)
              .select((col("seq_no") + st.nextSeqNo).as("seq_no"), col("token_ids"))
            Catalog.overwriteTable(packed, DeltaPackTable)
            Catalog.releasePin(packed) // packIdSequences' internal input pin
          } else
            Catalog.overwriteTable(
              spark.emptyDataset[(Long, Seq[Long])].toDF("seq_no", "token_ids"),
              DeltaPackTable)
        }
        Map("late_tokenized" -> lateN)
      },
      Stage("publish_generation") { m =>
        // append-only + retry-stable: the delta comes from the SCRATCH
        // tables (never re-derived), both appends dedup through
        // insertAppendOnce, and the pack cursor derives from the
        // PUBLISHED sequence table (max seq_no + 1 — dense per
        // generation), so any retry interleaving converges on the same
        // state instead of skipping or double-advancing.
        if (m("late_tokenized") > 0) {
          Catalog.insertAppendOnce(spark, idsT,
            spark.table(DeltaTokenIdsTable), "doc_id")
          if (packSeqLen > 0) {
            val full = spark.table(DeltaPackTable)
              .filter(size(col("token_ids")) === packSeqLen)
            Catalog.insertAppendOnce(spark, seqT, full, "seq_no")
            val nextSeq = spark.table(seqT)
              .agg(coalesce(max(col("seq_no")) + 1, lit(0L))).head().getLong(0)
            val tail = spark.table(DeltaPackTable)
              .filter(size(col("token_ids")) < packSeqLen)
              .collect() // ≤ 1 partial row — k-sized by construction
            writePackState(spark, stateT, nextSeq,
              tail.headOption.map(_.getSeq[Long](1)).getOrElse(Seq.empty))
          }
        }
        // THE atomic step: one versioned flip of the pointer
        Catalog.ctasOverwrite(
          spark.range(1).select(lit(next).as("generation")), TokenizerGenPointerTable)
        // prune generations no in-flight reader can still hold
        (0L to next - 1 - keepGenerations).foreach { g =>
          GenerationTables.foreach(b => Catalog.dropIfExists(spark, genName(b, g)))
        }
        Map("generation" -> next)
      })
    new Runner(stages, notify).run()
  }

  /** One k-sized drift-ledger row, appended idempotently: run the
    * one-time schema migrations ([[migrateStatsSchema]]), ensure,
    * append. The ledger stays an APPEND TABLE (never a ctasOverwrite
    * view); the migration pin breaks the read-while-overwrite cycle.
    * Doc batches key by their min doc_id (fresh + monotone). The stored
    * `channel` column names the producing stream; document batches are
    * the only producer, so it is always "doc". */
  private def appendTokenizerStat(spark: SparkSession, statsT: String,
                                  key: Long, ids: Long, unks: Long,
                                  seedChars: Long): Unit = {
    import spark.implicits._
    val stat = Seq((key, ids, unks, seedChars, "doc"))
      .toDF("batch_key", "token_ids", "unk_ids", "seed_chars", "channel")
    migrateStatsSchema(spark, statsT)
    Catalog.ensureTable(spark, statsT, stat.schema)
    Catalog.insertAppendOnce(spark, statsT, stat, "batch_key")
  }

  /** The ledger's one-time column migrations, run before each append:
    * a ledger written before compression tracking widens with
    * seed_chars = 0 (the compression read treats a zero denominator as
    * no-signal), and one written before channel tracking widens with
    * the key-sign attribution that was the implicit contract —
    * non-negative keys are doc batches, negative keys legacy caption
    * rows (migrated as "caption"). */
  private def migrateStatsSchema(spark: SparkSession, statsT: String): Unit = {
    if (!Catalog.tableExists(spark, statsT)) return
    val cols = spark.table(statsT).columns
    if (!cols.contains("seed_chars") || !cols.contains("channel")) {
      var t = spark.table(statsT)
      if (!cols.contains("seed_chars")) t = t.withColumn("seed_chars", lit(0L))
      if (!cols.contains("channel"))
        t = t.withColumn("channel",
          when(col("batch_key") >= 0, lit("doc")).otherwise(lit("caption")))
      val migrated = t.localCheckpoint(true)
      Catalog.overwriteTable(migrated, statsT)
      Catalog.releasePin(migrated)
    }
  }

  /** The WHEN-TO-RETRAIN signal: cumulative (token_ids, unk_ids) the
    * CURRENT generation's tokenized batches reported since the
    * generation was born — the drift ledger [[ingestBatch]] appends one
    * k-sized row per batch to. The decision read is one tiny aggregate;
    * the id tier is never rescanned. A fresh generation starts with an
    * empty ledger (its own retokenize pass is generation BIRTH, not
    * served ingest — zero UNKs against the vocab it was trained with),
    * so the drift window resets at each rollover. */
  def tokenizerDrift(spark: SparkSession): (Long, Long) =
    tokenizerDriftAt(spark, currentTokenizerGeneration(spark))

  private def tokenizerDriftAt(spark: SparkSession, g: Long): (Long, Long) = {
    val statsT = genName(TokenizerStatsTable, g)
    if (!Catalog.tableExists(spark, statsT)) (0L, 0L)
    else {
      val r = spark.table(statsT).agg(
        coalesce(sum("token_ids"), lit(0L)), coalesce(sum("unk_ids"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
  }

  /** The drift signal SPLIT BY PRODUCING STREAM: one
    * (channel, token_ids, unk_ids, seed_chars) row per channel of the
    * current generation's ledger ("doc" for document batches,
    * "caption" for legacy negative-key rows). READ-ONLY: a ledger
    * written before the channel/seed_chars columns derives them in the
    * plan (key sign / 0) instead of rewriting the table from a
    * monitoring path. The roll DECISION is [[maybeRetrainTokenizer]]'s,
    * over all channels; this read is the operator-facing attribution
    * next to it. */
  def tokenizerDriftByChannel(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val statsT = genName(TokenizerStatsTable, currentTokenizerGeneration(spark))
    if (!Catalog.tableExists(spark, statsT))
      Seq.empty[(String, Long, Long, Long)]
        .toDF("channel", "token_ids", "unk_ids", "seed_chars")
    else {
      var t = spark.table(statsT)
      if (!t.columns.contains("seed_chars")) t = t.withColumn("seed_chars", lit(0L))
      if (!t.columns.contains("channel"))
        t = t.withColumn("channel",
          when(col("batch_key") >= 0, lit("doc")).otherwise(lit("caption")))
      t.groupBy("channel").agg(
        coalesce(sum("token_ids"), lit(0L)).as("token_ids"),
        coalesce(sum("unk_ids"), lit(0L)).as("unk_ids"),
        coalesce(sum("seed_chars"), lit(0L)).as("seed_chars"))
    }
  }

  /** The COMPRESSION drift signal — the trigger that still works where
    * UNK-share is structurally blind: under [[Bpe.Bytes]] seeds, encode
    * only UNKs on a byte value the train corpus never contained, so a
    * drifted corpus (new language, code influx) re-tokenizes at
    * terrible compression while the UNK share stays ~0. `inflation` is
    * the generation's cumulative ids-per-seed-char over the ledger
    * batches, relative to the generation-birth baseline (the artifact's
    * own train corpus) — 1.0 = healthy, rising toward the no-merge
    * ceiling as the vocabulary stops covering the ingest. */
  case class CompressionDrift(ids: Long, seedChars: Long,
                              baselineIds: Long, baselineSeedChars: Long) {
    /** False when any leg is zero — a degenerate baseline (empty train
      * corpus) or a zero-char ledger leaves the trigger INERT, which is
      * a monitorable state of its own, not "healthy": a caller that
      * treated it as 1.0 would never learn its compression watch is
      * blind (ADVICE r14). */
    def hasSignal: Boolean =
      ids > 0 && seedChars > 0 && baselineIds > 0 && baselineSeedChars > 0
    /** None = no signal; Some(1.0) = measured healthy. */
    def inflation: Option[Double] =
      if (!hasSignal) None
      else Some((ids.toDouble / seedChars) / (baselineIds.toDouble / baselineSeedChars))
  }

  /** None when the generation has no baseline or its ledger predates
    * compression tracking — the drift check then degrades to
    * UNK-share-only (the pre-round-14 behavior). */
  def tokenizerCompression(spark: SparkSession): Option[CompressionDrift] =
    tokenizerCompressionAt(spark, currentTokenizerGeneration(spark))

  private def tokenizerCompressionAt(spark: SparkSession,
                                     g: Long): Option[CompressionDrift] = {
    val baseT = genName(TokenizerBaselineTable, g)
    val statsT = genName(TokenizerStatsTable, g)
    if (!Catalog.tableExists(spark, baseT) || !Catalog.tableExists(spark, statsT) ||
        !spark.table(statsT).columns.contains("seed_chars")) None
    else {
      val b = spark.table(baseT).head()
      val s = spark.table(statsT).agg(
        coalesce(sum("token_ids"), lit(0L)),
        coalesce(sum("seed_chars"), lit(0L))).head()
      Some(CompressionDrift(s.getLong(0), s.getLong(1), b.getLong(0), b.getLong(1)))
    }
  }

  /** Default `maxCompressionInflation`: the Bytes-domain trigger fires
    * OUT OF THE BOX instead of being opt-in (the round-14 blindness —
    * an Infinity default meant a caller using the defaults kept the
    * exact UNK-only gap the trigger exists to close). 1.5 sits between
    * the measured bands: a generation re-tokenizing its own train
    * distribution holds inflation ≈ 1.0 (the ledger ratio IS the
    * baseline ratio), while the drift gate's uncovered-corpus slice
    * lands ≈ 1.7–1.9 (near the no-merge ceiling) — so healthy ingest
    * never grazes it and real coverage collapse clears it with margin.
    * `minIds` floors both triggers against tiny-ledger noise; pass
    * Infinity to opt back out. */
  val DefaultMaxCompressionInflation = 1.5

  /** Drift-TRIGGERED tokenizer rollover — the operational closure of
    * [[tokenizerDrift]] and [[tokenizerCompression]]: measure, decide,
    * roll. Retrains when at least `minIds` ids have been tokenized
    * this generation AND either (a) their UNK share exceeds
    * `maxUnkShare` (the vocabulary no longer covers what the treadmill
    * ingests — under-segmentation made a number), or (b) the
    * compression inflation exceeds `maxCompressionInflation` (the
    * Bytes-domain signal: drift that never UNKs still re-tokenizes at
    * collapsing compression; a no-signal drift read —
    * [[CompressionDrift.hasSignal]] false — never fires). Returns the
    * rollover report when one ran, None while the generation is still
    * healthy. A scheduler calls this after each ingest wave instead of
    * guessing when to retrain. */
  def maybeRetrainTokenizer(spark: SparkSession,
                            maxUnkShare: Double = 0.01, minIds: Long = 1L,
                            packSeqLen: Int = 0, numMerges: Int = -1,
                            keepGenerations: Int = 2,
                            maxCompressionInflation: Double = DefaultMaxCompressionInflation,
                            notify: PipelineReport => Unit = _ => ())
      : Option[PipelineReport] = {
    // ONE pointer read for the whole decision: both signals must
    // describe the SAME generation (the multi-artifact read contract)
    val g = currentTokenizerGeneration(spark)
    val (ids, unks) = tokenizerDriftAt(spark, g)
    val enough = ids >= minIds && ids > 0
    val unkFire = enough && unks.toDouble / ids > maxUnkShare
    val compFire = enough && !maxCompressionInflation.isInfinite &&
      tokenizerCompressionAt(spark, g)
        .flatMap(_.inflation).exists(_ > maxCompressionInflation)
    if (unkFire || compFire)
      Some(retrainTokenizer(spark, packSeqLen, numMerges, keepGenerations, notify))
    else None
  }

  /** The UNATTENDED deployment shape for the tokenizing treadmill:
    * drain everything landed ([[streamIngest]] with tokenize on), then
    * run the drift check and roll the tokenizer generation if it fires
    * ([[maybeRetrainTokenizer]]) — the
    * [[VectorPipeline.streamIngestAndMaintain]] discipline applied to
    * the tokenizer artifact. The check runs AFTER `awaitTermination`,
    * never inside foreachBatch — a rollover interleaved with a
    * draining batch is exactly the retokenize→flip window the delta
    * pass exists to repair; sequencing them keeps that pass a no-op.
    * A scheduler loops this one call — ingest cadence and retrain
    * cadence stop being separate jobs an operator must keep
    * consistent. */
  def streamIngestAndMaintain(spark: SparkSession, landingDir: String,
                              checkpointDir: String,
                              jaccardThreshold: Double = 0.8,
                              maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
                              packSeqLen: Int = 0,
                              maxUnkShare: Double = 0.01, minIds: Long = 1L,
                              keepGenerations: Int = 2,
                              maxCompressionInflation: Double = DefaultMaxCompressionInflation,
                              notify: PipelineReport => Unit = _ => ())
      : Option[PipelineReport] = {
    streamIngest(spark, landingDir, checkpointDir, jaccardThreshold,
      maxBucketSize, tokenize = true, packSeqLen = packSeqLen)
      .awaitTermination()
    maybeRetrainTokenizer(spark, maxUnkShare, minIds, packSeqLen,
      keepGenerations = keepGenerations,
      maxCompressionInflation = maxCompressionInflation, notify = notify)
  }

  /** The domain the published tokenizer was trained under — stored
    * next to the merges (the generation's meta table); encode under
    * any other domain silently mis-tokenizes. Missing marker (artifacts
    * published before the marker existed) = the default domain. */
  private def readTokenizerDomain(spark: SparkSession,
                                  metaTable: String = TokenizerMetaTable): Bpe.Domain =
    if (!Catalog.tableExists(spark, metaTable)) Bpe.LetterWords
    else Bpe.domainOf(spark.table(metaTable).head().getString(0))

  /** The incremental-pack cursor: the next sequence number and the
    * partial tail (< seqLen ids) the next batch continues. ONE row,
    * ≤ seqLen ids — driver-k-sized by construction. */
  private case class PackState(nextSeqNo: Long, carry: Seq[Long])

  private def readPackState(spark: SparkSession,
                            table: String = PackStateTable): PackState =
    if (!Catalog.tableExists(spark, table)) PackState(0L, Seq.empty)
    else {
      val r = spark.table(table).head()
      PackState(r.getLong(0), Option(r.getSeq[Long](1)).getOrElse(Seq.empty))
    }

  private def writePackState(spark: SparkSession, table: String,
                             nextSeqNo: Long, carry: Seq[Long]): Unit = {
    import spark.implicits._
    Catalog.overwriteTable(
      Seq((nextSeqNo, carry)).toDF("next_seq_no", "carry_ids"), table)
  }

  /** The published merge list of ONE generation's table, rank-ordered —
    * k-sized by definition. */
  private def loadMergesFrom(spark: SparkSession, table: String): Seq[Bpe.Merge] =
    spark.table(table).orderBy("rank").collect()
      .map(r => Bpe.Merge(r.getAs[Int]("rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[Long]("pair_count"))).toSeq
}
