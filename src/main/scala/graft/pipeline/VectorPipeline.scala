package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextDedup}
import graft.plans.Catalog

/** Incremental VECTOR ingest — the embedding twin of
  * [[CurationPipeline.ingestBatch]], maintaining the three stored
  * artifacts an embedding corpus needs at 100 TB so that neither dedup
  * nor ANN reads ever re-process the accumulated tier:
  *
  *  - the vector TIER (`embeddings_tier`): the deduped float corpus;
  *  - its sign-LSH BAND INDEX (`embeddings_band_index`): what each new
  *    batch equi-joins for near-dup reconciliation — the tier is never
  *    re-hashed;
  *  - its PQ INDEX (the current generation's `embeddings_pq_index_g<N>`):
  *    the compressed ANN tier ([[Similarity.pqIndex]] rows) serving
  *    [[Similarity.topKIvfPqStored]] and [[Similarity.knnGraphPq]] —
  *    the tier is never re-encoded.
  *
  * Per-batch cost is O(batch + matched candidates), independent of tier
  * size; all three artifacts grow by append only, and every append is
  * IDEMPOTENT ([[Catalog.insertAppendOnce]]): the publish stage runs
  * under a retrying Runner, and a transient failure between its three
  * appends must converge on retry instead of double-appending the
  * tables that already committed.
  *
  * GENERATIONS. The PQ coarse quantizer and codebooks are frozen per
  * index GENERATION: bootstrap trains generation 1 and persists
  * centroids + codebooks as k-sized catalog tables; every later batch
  * encodes with the same literals, so append-encoded rows stay
  * comparable forever. The banding parameters (bands, planesPerBand,
  * seed) and the dedup threshold are persisted at bootstrap too
  * ([[GenParamsTable]]) and VALIDATED on every later batch — a batch
  * banded with different planes would produce keys that never match the
  * stored index and let near-duplicates through silently.
  *
  * A growing corpus eventually outgrows its bootstrap quantizer (cells
  * skew, recall decays). [[regenerate]] is the rollover: retrain on a
  * hash-sample of the tier, re-encode the WHOLE tier into the next
  * generation's tables, then flip the single-row generation pointer
  * atomically ([[Catalog.ctasOverwrite]]'s versioned view flip — one
  * catalog op), so serving never sees a half-encoded index: a reader
  * resolves the pointer once and reads that generation's
  * centroids/books/index consistently ([[queryTopK]]). The previous
  * generation is retained through the flip for in-flight readers;
  * older ones are pruned. [[generationDrift]] is the when-to-roll
  * signal: current cell populations vs the histogram snapshotted at
  * generation birth, plus the over-cap (would-skip) flag per cell.
  *
  * Batch vec_ids must be fresh (monotone ingest discipline, the
  * [[CurationPipeline.ingestBatch]] contract): under it the running
  * tier equals what batch-global [[Similarity.dedupNearCosine]] over
  * all slices so far would keep.
  */
object VectorPipeline {

  val TierTable = "embeddings_tier"
  val BandIndexTable = "embeddings_band_index"
  val BatchSurvivorsTable = "embeddings_batch_survivors"
  val GenParamsTable = "embeddings_gen_params"
  val GenPointerTable = "embeddings_pq_generation"

  /** Per-generation physical table names. The generation-suffixed
    * layout is what makes the rollover publishable atomically: the next
    * generation is staged under names no reader resolves, and the ONLY
    * shared mutable state is the one-row pointer. */
  private def indexTableG(gen: Long) = s"embeddings_pq_index_g$gen"
  private def centsTableG(gen: Long) = s"embeddings_pq_cents_g$gen"
  private def booksTableG(gen: Long) = s"embeddings_pq_books_g$gen"
  private def cellHistTableG(gen: Long) = s"embeddings_pq_cellhist_g$gen"

  /** The current index generation (1 = bootstrap). One 1-row read of
    * the atomically-published pointer. */
  def currentGeneration(spark: SparkSession): Long =
    if (Catalog.tableExists(spark, GenPointerTable))
      spark.table(GenPointerTable).head().getLong(0)
    else 1L

  /** The current generation's PQ index table name — resolve ONCE per
    * serving read and use it for cents + books + index so the read is
    * generation-consistent even if a rollover lands mid-query. */
  def pqIndexTable(spark: SparkSession): String =
    indexTableG(currentGeneration(spark))

  /** Load the frozen coarse centroids of a generation (k-sized driver
    * collect — the same class as training's own driver literal).
    * gen < 0 resolves the current generation. */
  def loadCents(spark: SparkSession, gen: Long = -1L): Array[Array[Float]] = {
    val g = if (gen < 0) currentGeneration(spark) else gen
    spark.table(centsTableG(g)).orderBy("cell").select("centroid").collect()
      .map(_.getSeq[Float](0).toArray)
  }

  /** Load the frozen PQ codebooks of a generation (m·ksub·dsub ints). */
  def loadBooks(spark: SparkSession, gen: Long = -1L): Seq[Seq[Seq[Int]]] = {
    val g = if (gen < 0) currentGeneration(spark) else gen
    spark.table(booksTableG(g)).orderBy("j", "c").select("j", "c", "cent").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).toSeq.map(_.getSeq[Int](2).toList))
  }

  private def saveCents(spark: SparkSession, gen: Long, cents: Array[Array[Float]]): Unit = {
    import spark.implicits._
    Catalog.overwriteTable(
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid"), centsTableG(gen))
  }

  private def saveBooks(spark: SparkSession, gen: Long, books: Seq[Seq[Seq[Int]]]): Unit = {
    import spark.implicits._
    Catalog.overwriteTable(
      books.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (cent, c) => (j, c, cent) }
      }.toDF("j", "c", "cent"), booksTableG(gen))
  }

  /** Snapshot the generation's cell-population histogram at its birth —
    * the [[generationDrift]] baseline. k-sized output (one row per
    * coarse cell). */
  private def saveCellHist(spark: SparkSession, gen: Long): Unit =
    Catalog.overwriteTable(
      spark.table(indexTableG(gen)).groupBy("cell").agg(count(lit(1)).as("n")),
      cellHistTableG(gen))

  private def saveGenParams(spark: SparkSession, bands: Int, planesPerBand: Int,
                            seed: Long, threshold: Double): Unit = {
    import spark.implicits._
    Catalog.overwriteTable(
      Seq((bands, planesPerBand, seed, threshold))
        .toDF("bands", "planes_per_band", "seed", "threshold"), GenParamsTable)
  }

  /** Fail LOUDLY if a later batch arrives with banding parameters (or
    * threshold) different from the ones frozen at bootstrap: band keys
    * derived from different planes never match the stored index, so a
    * mismatched batch would pass reconciliation with its near-dups
    * UNDETECTED — the one failure mode worse than failing. */
  private def validateGenParams(spark: SparkSession, bands: Int, planesPerBand: Int,
                                seed: Long, threshold: Double): Unit = {
    val r = spark.table(GenParamsTable).head()
    val stored = (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    require(stored == ((bands, planesPerBand, seed, threshold)),
      s"vector treadmill parameter mismatch: stored (bands, planesPerBand, seed, threshold) = " +
        s"$stored but this batch passed ${(bands, planesPerBand, seed, threshold)}; " +
        "the banding generation is frozen at bootstrap — pass the stored values " +
        "(or resetTreadmill for a fresh tier)")
  }

  /** Reconcile one batch of new vectors against the stored tier and
    * append the survivors to all three artifacts. First call
    * bootstraps: batch-global dedup, quantizer training (generation 1),
    * parameter freeze, table creation. Returns the standard
    * [[PipelineReport]] with kept/dropped counts and the post-publish
    * tier size in the metric map. */
  def ingestBatch(spark: SparkSession, batch: DataFrame,
                  threshold: Double = 0.999,
                  bands: Int = 8, planesPerBand: Int = 12, seed: Long = 42L,
                  maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
                  pqM: Int = 16, pqKsub: Int = 256, coarseK: Int = 16,
                  notify: PipelineReport => Unit = _ => ()): PipelineReport = {
    // the vector TIER FLAVOR over the shared treadmill skeleton
    // (Treadmill.ingestTier owns the probe/reconcile scaffolding and
    // the retrying Runner); this pipeline contributes the cosine
    // operators, the frozen-params probe check, and the publish body
    val flavor = new Treadmill.TierFlavor {
      val tierTable = TierTable
      val probeMetric = "tier_vecs"
      val survivorsTable = BatchSurvivorsTable
      override def validateOnProbe(spark: SparkSession, tierCount: Long): Unit =
        if (tierCount > 0L) validateGenParams(spark, bands, planesPerBand, seed, threshold)
      def dedupe(spark: SparkSession, batch: DataFrame,
                 bootstrap: Boolean): DataFrame =
        if (bootstrap)
          Similarity.dedupNearCosine(batch, threshold,
            bands, planesPerBand, seed, maxBucketSize)
        else
          Similarity.nearDupAgainstCosine(spark.table(TierTable), batch, threshold,
            bands, planesPerBand, seed, maxBucketSize,
            tierIndex = Some(spark.table(BandIndexTable)))
      def publish(spark: SparkSession, m: Map[String, Long]): Map[String, Long] = {
        val survivors = spark.table(BatchSurvivorsTable)
        val bootstrap = m("tier_vecs") == 0L
        if (bootstrap) {
          // freeze the index generation + banding parameters on slice 1.
          // PIN the trainable slice once: coarse training is 1+iters
          // jobs and PQ training's quantize pass another — unpinned,
          // each re-read the survivors table and re-ran the filter
          // (guide §1.2).
          saveGenParams(spark, bands, planesPerBand, seed, threshold)
          val trainable = survivors.filter(col("embedding").isNotNull)
            .localCheckpoint(true)
          saveCents(spark, 1L, Similarity.trainCentroids(
            trainable, coarseK, iters = 2, seed))
          saveBooks(spark, 1L, Similarity.trainPqBooks(
            trainable, pqM, pqKsub, iters = 2, seed))
          Catalog.releasePin(trainable)
        }
        val gen = currentGeneration(spark)
        val cents = loadCents(spark, gen)
        val books = loadBooks(spark, gen)
        val keys = Similarity.vecBandIndex(survivors, bands, planesPerBand, seed)
        val pq = Similarity.pqIndex(survivors, cents, books)
        if (!Catalog.tableExists(spark, TierTable)) {
          Catalog.ensureTable(spark, TierTable, survivors.schema)
          Catalog.ensureTable(spark, BandIndexTable, keys.schema)
          Catalog.ensureTable(spark, indexTableG(gen), pq.schema)
        }
        // idempotent appends: batch ids are fresh+monotone, so each
        // table is probed for this batch's presence (row-group-pruned
        // to the newest appends) before writing — a retry after a
        // failure between appends completes the missing tables only.
        // keys and pq derive from the survivors (same vec_id set), so
        // ONE min-id aggregate serves all three probes (guide §1.2);
        // the three appends write different tables from the staged
        // survivors, so they submit concurrently (guide §2.6 —
        // inParallel waits for every sibling before rethrowing).
        val minId = survivors.agg(min(col("vec_id"))).head().get(0)
        Catalog.inParallel(
          () => Catalog.insertAppendOnceFrom(spark, TierTable, survivors, "vec_id", minId): Unit,
          () => Catalog.insertAppendOnceFrom(spark, BandIndexTable, keys, "vec_id", minId): Unit,
          () => Catalog.insertAppendOnceFrom(spark, indexTableG(gen), pq, "vec_id", minId): Unit)
        if (bootstrap) {
          saveCellHist(spark, 1L) // drift baseline = generation-1 birth
          Catalog.ctasOverwrite(
            spark.range(1).select(lit(1L).as("generation")), GenPointerTable)
        }
        Map("tier_vecs_after" -> spark.table(TierTable).count(),
          "pq_rows_after" -> spark.table(indexTableG(gen)).count(),
          "generation" -> gen)
      }
    }
    Treadmill.ingestTier(spark, batch, flavor, notify)
  }

  /** GENERATION ROLLOVER — the maintenance event a growing corpus is
    * guaranteed to hit: retrain the coarse quantizer + PQ codebooks on
    * a deterministic hash-sample of the stored tier, re-encode the
    * WHOLE tier into the next generation's index table (staged under
    * names no reader resolves), then flip the one-row generation
    * pointer atomically — a reader resolves either the old generation
    * or the new one, never a mixed or half-encoded index. The encode
    * scan is the one unavoidable full-tier pass (it IS the re-index);
    * training reads only the sample. The previous generation's tables
    * survive the flip for in-flight readers; generations ≤ N−2 are
    * dropped.
    *
    * Encode/score arithmetic is exact for ANY codebook, so rollover is
    * a QUALITY operation with a correctness-grade publish: for probes
    * whose true neighbor is proposed under both generations (e.g.
    * exact twins, which share the probe's argmax cell under every
    * centroid set), [[queryTopK]] answers are IDENTICAL before and
    * after — asserted by VectorPipelineSpec.
    *
    * CONCURRENT-INGEST SAFE: an [[ingestBatch]] that publishes between
    * the encode snapshot and the pointer flip appends its PQ rows to
    * the OLD generation's index only — without repair, those vectors
    * would be invisible to ANN under the new generation until the next
    * rollover. The publish stage therefore anti-joins the tier against
    * the staged index and encodes the (normally empty) delta BEFORE
    * flipping, so the published generation covers the tier
    * row-for-row under interleaving.
    *
    * `keepGenerations` predecessors are retained after the flip (an
    * in-flight reader that resolved the pointer up to that many
    * rollovers ago still reads consistently); older ones are dropped. */
  def regenerate(spark: SparkSession, coarseK: Int = 16, pqM: Int = 16, pqKsub: Int = 256,
                 iters: Int = 2, seed: Long = 42L, sampleFraction: Double = 1.0,
                 keepGenerations: Int = 2,
                 notify: PipelineReport => Unit = _ => (),
                 afterEncode: () => Unit = () => ()): PipelineReport = {
    require(sampleFraction > 0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    require(keepGenerations >= 1, s"keepGenerations must be >= 1, got $keepGenerations")
    val stages = Seq(
      Stage("train_generation") { _ =>
        val nextGen = currentGeneration(spark) + 1
        val tier = spark.table(TierTable).filter(col("embedding").isNotNull)
        // deterministic id-hash sample: same tier + seed -> same sample
        // on any cluster; at 100 TB training never reads the full tier.
        // PINNED: the sample feeds 1+iters coarse jobs, the PQ quantize
        // pass, and the report count — unpinned, every one re-scanned
        // the tier and re-ran the sample filter (guide §1.2).
        val sample = (
          if (sampleFraction >= 1.0) tier
          else tier.filter(
            pmod(xxhash64(col("vec_id"), lit(seed)), lit(1000000L)) <
              lit((sampleFraction * 1000000L).toLong))
          ).localCheckpoint(true)
        saveCents(spark, nextGen, Similarity.trainCentroids(sample, coarseK, iters, seed))
        saveBooks(spark, nextGen, Similarity.trainPqBooks(sample, pqM, pqKsub, iters, seed))
        val sampleN = sample.count()
        Catalog.releasePin(sample)
        Map("next_generation" -> nextGen, "train_sample" -> sampleN)
      },
      Stage("encode_tier") { m =>
        val nextGen = m("next_generation")
        val cents = loadCents(spark, nextGen)
        val books = loadBooks(spark, nextGen)
        // the encoded-row count rides the one full-tier encode write
        // (guide §1.4 — the read-back was a second index scan)
        val encoded = Catalog.overwriteTable(
          Similarity.pqIndex(spark.table(TierTable), cents, books), indexTableG(nextGen),
          Seq(count(lit(1)))).getLong(0)
        saveCellHist(spark, nextGen) // drift baseline = rollover time
        Map("tier_encoded" -> encoded)
      },
      Stage("publish_generation") { m =>
        val nextGen = m("next_generation")
        // test seam: VectorPipelineSpec injects an ingestBatch here to
        // prove the delta pass repairs the encode→flip window
        afterEncode()
        // close the encode→flip interleave window: vectors an
        // interleaved ingestBatch appended after the encode snapshot
        // are missing from the staged index — encode exactly that
        // delta (normally zero rows) so the generation about to be
        // published covers the tier row-for-row. Idempotent under the
        // stage's own retry (insertAppendOnce appends the remainder).
        val staged = spark.table(indexTableG(nextGen)).select(col("vec_id"))
        val late = spark.table(TierTable).join(staged, Seq("vec_id"), "left_anti")
          .localCheckpoint(true)
        val lateN = late.count()
        if (lateN > 0)
          Catalog.insertAppendOnce(spark, indexTableG(nextGen),
            Similarity.pqIndex(late, loadCents(spark, nextGen), loadBooks(spark, nextGen)),
            "vec_id")
        Catalog.releasePin(late) // the delta pin must not outlive the rollover
        // THE atomic step: one versioned view flip of the pointer
        Catalog.ctasOverwrite(
          spark.range(1).select(lit(nextGen).as("generation")), GenPointerTable)
        // prune generations no in-flight reader can still hold (the
        // newest `keepGenerations` predecessors retained through the
        // flip — the documented read window is that many rollovers)
        (1L to nextGen - 1 - keepGenerations).foreach { g =>
          Seq(indexTableG(g), centsTableG(g), booksTableG(g), cellHistTableG(g))
            .foreach(Catalog.dropIfExists(spark, _))
        }
        Map("generation" -> nextGen, "late_encoded" -> lateN)
      })
    new Runner(stages, notify).run()
  }

  /** The WHEN-TO-ROLL signal: the current generation's cell populations
    * vs the histogram snapshotted when the generation was born (cells
    * the bootstrap never saw appear as baseline_n = 0), with each
    * cell's share of its epoch and the drift between them, plus the
    * over-cap flag ([[Similarity.knnGraphPq]] SKIPS cells past
    * `maxCellSize` — a growing over-cap population is recall silently
    * decaying). k-sized output (one row per cell); share arithmetic is
    * two integer counts and one divide. */
  def generationDrift(spark: SparkSession,
                      maxCellSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    val gen = currentGeneration(spark)
    val base = spark.table(cellHistTableG(gen))
      .select(col("cell"), col("n").as("baseline_n"))
    val cur = spark.table(indexTableG(gen))
      .groupBy("cell").agg(count(lit(1)).as("current_n"))
    val joined = base.join(cur, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("baseline_n"), lit(0L)).as("baseline_n"),
        coalesce(col("current_n"), lit(0L)).as("current_n"))
    val tot = joined.agg(
      sum("baseline_n").as("__bt"), sum("current_n").as("__ct"))
    joined.crossJoin(broadcast(tot))
      .select(col("cell"), col("baseline_n"), col("current_n"),
        (col("baseline_n").cast("double") / col("__bt")).as("baseline_share"),
        (col("current_n").cast("double") / col("__ct")).as("current_share"),
        abs(col("current_n").cast("double") / col("__ct")
          - col("baseline_n").cast("double") / col("__bt")).as("share_drift"),
        (col("current_n") > maxCellSize).as("over_cap"))
  }

  /** Drift-TRIGGERED rollover — the operational closure of
    * [[generationDrift]]: measure, decide, roll. Rolls the generation
    * when the worst per-cell share drift exceeds `maxShareDrift`
    * (cell populations no longer look like the training distribution)
    * OR the fraction of index rows sitting in over-cap cells exceeds
    * `maxOverCapShare` (the share of the corpus [[Similarity.knnGraphPq]]
    * would silently skip — recall decay made a number). Returns the
    * rollover report when one ran, None when the generation is still
    * healthy; the decision read is one k-sized aggregate. A scheduled
    * pipeline calls this after each ingest wave instead of guessing
    * when to retrain. */
  def maybeRegenerate(spark: SparkSession,
                      maxShareDrift: Double = 0.05, maxOverCapShare: Double = 0.10,
                      maxCellSize: Int = TextDedup.DefaultMaxBucketSize,
                      coarseK: Int = 16, pqM: Int = 16, pqKsub: Int = 256,
                      iters: Int = 2, seed: Long = 42L,
                      sampleFraction: Double = 1.0,
                      keepGenerations: Int = 2,
                      notify: PipelineReport => Unit = _ => ()): Option[PipelineReport] = {
    val d = generationDrift(spark, maxCellSize).agg(
      coalesce(max(col("share_drift")), lit(0.0)).as("worst"),
      coalesce(sum(when(col("over_cap"), col("current_n")).otherwise(lit(0L))), lit(0L))
        .as("over"),
      coalesce(sum(col("current_n")), lit(0L)).as("total")).head()
    val worst = d.getDouble(0)
    val overShare =
      if (d.getLong(2) == 0L) 0.0 else d.getLong(1).toDouble / d.getLong(2)
    if (worst > maxShareDrift || overShare > maxOverCapShare)
      Some(regenerate(spark, coarseK, pqM, pqKsub, iters, seed, sampleFraction,
        keepGenerations, notify))
    else None
  }

  /** Generation-consistent ANN serve: resolve the pointer ONCE, then
    * read that generation's centroids, codebooks, and stored index —
    * the compressed domain proposes the refine-budget candidates per
    * probe and only those pairs touch the float tier
    * ([[Similarity.topKIvfPqStoredRefine]]), so a query's scan cost is
    * the ~m+12-byte index regardless of corpus width, and a concurrent
    * [[regenerate]] can never mix generations inside one read.
    *
    * The DEFAULT refine budget SCALES WITH THE ASK: a fixed budget
    * loses recall as nprobe grows (cross-cell candidates crowd true
    * neighbors out of the cut — the measured 12-bit crowd-out,
    * PLANS.md "Production-resolution PQ recall"), so `refine = None`
    * derives max([[DefaultRefineFloor]], nprobe·k·[[RefineScale]]).
    * `Some(n)` is the EXACT caller budget — a caller pinning serve
    * cost can request a budget tighter than the derived one (and owns
    * the recall consequence). */
  def queryTopK(spark: SparkSession, probes: DataFrame, k: Int,
                nprobe: Int = 2, refine: Option[Int] = None): DataFrame = {
    val gen = currentGeneration(spark)
    Similarity.topKIvfPqStoredRefine(
      spark.table(indexTableG(gen)), spark.table(TierTable), probes, k,
      loadCents(spark, gen), loadBooks(spark, gen), nprobe,
      refine.getOrElse(math.max(DefaultRefineFloor, nprobe * k * RefineScale)))
  }

  /** Floor of the DERIVED refine budget — keeps tiny asks (k=1,
    * nprobe=1) from starving the re-rank at coarse PQ resolution. An
    * explicit `Some(n)` budget bypasses it. */
  val DefaultRefineFloor = 32

  /** Per-(nprobe·k) multiplier for [[queryTopK]]'s derived refine
    * budget — 4 keeps refine-budget recall within a few percent of
    * candidate recall at production PQ resolution (measured at the
    * hires scale tier, PLANS.md). */
  val RefineScale = 4

  /** The vector ingest treadmill as a STREAM — the embedding twin of
    * [[CurationPipeline.streamIngest]]: a checkpointed file source over
    * the vector landing layout drives [[ingestBatch]] once per
    * micro-batch via foreachBatch. The checkpoint dedups FILES (a
    * restart resumes at the first undiscovered slice); the treadmill's
    * band index dedups CONTENT, so redelivered vectors cannot re-enter
    * the tier either way. Trigger.AvailableNow drains everything landed
    * and stops — the scheduled-batch deployment shape. */
  def streamIngest(spark: SparkSession, landingDir: String, checkpointDir: String,
                   threshold: Double = 0.999,
                   bands: Int = 8, planesPerBand: Int = 12, seed: Long = 42L,
                   maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
                   pqM: Int = 16, pqKsub: Int = 256, coarseK: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Treadmill.foreachBatchStream(spark, landingDir, checkpointDir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id LONG, embedding ARRAY<FLOAT>"),
      run = (sess, pinned) => ingestBatch(sess, pinned, threshold,
        bands, planesPerBand, seed, maxBucketSize, pqM, pqKsub, coarseK),
      refreshTables = sess => Seq(TierTable, BandIndexTable, GenParamsTable) :+
        indexTableG(currentGeneration(sess)),
      label = "vector treadmill")

  /** The UNATTENDED deployment shape: drain everything landed
    * ([[streamIngest]], Trigger.AvailableNow), then run the drift
    * check and roll the generation if it fires ([[maybeRegenerate]]).
    * The check runs AFTER `awaitTermination`, never inside
    * foreachBatch — a rollover interleaved with a draining batch is
    * exactly the encode→flip window [[regenerate]]'s delta pass exists
    * to repair; sequencing them keeps that pass a no-op. Returns the
    * rollover report when drift triggered one, None when the
    * generation is still healthy. A scheduler loops this one call —
    * ingest cadence and retrain cadence stop being separate jobs an
    * operator has to keep consistent. */
  def streamIngestAndMaintain(spark: SparkSession, landingDir: String,
                              checkpointDir: String,
                              threshold: Double = 0.999,
                              bands: Int = 8, planesPerBand: Int = 12,
                              seed: Long = 42L,
                              maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
                              pqM: Int = 16, pqKsub: Int = 256, coarseK: Int = 16,
                              maxShareDrift: Double = 0.05,
                              maxOverCapShare: Double = 0.10,
                              sampleFraction: Double = 1.0,
                              keepGenerations: Int = 2,
                              notify: PipelineReport => Unit = _ => ())
      : Option[PipelineReport] = {
    streamIngest(spark, landingDir, checkpointDir, threshold,
      bands, planesPerBand, seed, maxBucketSize, pqM, pqKsub, coarseK)
      .awaitTermination()
    maybeRegenerate(spark, maxShareDrift, maxOverCapShare, maxBucketSize,
      coarseK, pqM, pqKsub, iters = 2, seed = seed,
      sampleFraction = sampleFraction, keepGenerations = keepGenerations,
      notify = notify)
  }

  /** Drop every treadmill table across ALL generations — a
    * fresh-generation reset for self-contained runs (the gate queries
    * and specs). */
  def resetTreadmill(spark: SparkSession): Unit = {
    val genTables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("embeddings_pq_"))
    (Seq(TierTable, BandIndexTable, BatchSurvivorsTable,
      GenParamsTable, GenPointerTable) ++ genTables)
      .foreach(Catalog.dropIfExists(spark, _))
  }
}
