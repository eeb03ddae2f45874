package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for LLM training-data pipelines — the
  * steps between "raw crawl" and "training set" that are not dedup:
  * benchmark decontamination, deterministic sampling, cardinality
  * sketching, PII redaction, quality-rule filtering, and keyword
  * extraction.
  *
  * Scale discipline:
  *  - decontamination shuffles (doc_id, 16-byte gram hash) pairs only —
  *    never text; the benchmark side is a distinct gram-hash set
  *    (typically broadcastable: benchmarks are ~10⁵ docs, corpora 10¹⁰);
  *  - sampling is a stateless scan-speed filter on a hash of the id —
  *    no shuffle, reproducible across runs and engines, and stable
  *    under corpus growth (a doc's keep/drop never depends on others);
  *  - the KMV distinct sketch reduces to a per-partition top-k merge
  *    (TakeOrdered — partial limits map-side), driver state is k values;
  *  - redaction and quality rules are per-row regex/ratio projections —
  *    scan speed, no shuffle, codegen'd;
  *  - TF-IDF shuffles slim (doc_id, term) pairs; document frequency is
  *    a second aggregate over the already-distinct (doc, term) pairs
  *    (no countDistinct), joined back on the term key.
  *
  * Every hash compared cross-engine is md5-derived (u32 of the first 8
  * hex digits — the repo's established DuckDB-replicable recipe).
  */
object Curation {

  /** Uniform [0, 2^32) integer from the md5 of a value — deterministic,
    * engine-portable (DuckDB: CAST('0x' || substr(md5(v), 1, 8) AS
    * BIGINT)). The basis for sampling and the KMV sketch. */
  def hashU32(v: Column): Column =
    conv(substring(md5(v.cast("string")), 1, 8), 16, 10).cast("long")

  // ------------------------------------------------------------------
  // Benchmark decontamination
  // ------------------------------------------------------------------

  /** Corpus documents sharing at least one word `n`-gram with any
    * benchmark document — the contamination HIT LIST (doc_id rows).
    * Grams are 64-bit hashes straight from the token array (the native
    * shingle_hashes kernel — no n-gram STRINGS are ever built; the
    * string-building rendition cost 7× on the bench), so the shuffle
    * carries 8-byte keys, not text, and the benchmark gram set is
    * distinct and usually broadcast by AQE (benchmarks are orders of
    * magnitude smaller than corpora). Hit lists agree with the string
    * join up to 64-bit collisions (~|grams|²/2⁶⁵ — nil), the same
    * contract the hashed-Jaccard verify uses. */
  def contaminatedIds(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                      textCol: String = "text"): DataFrame =
    contaminatedIdsFromGrams(corpus, benchmarkGrams(benchmark, n, textCol),
      n, textCol)

  /** The benchmark's DISTINCT gram-hash set — the probe side every
    * contamination battery joins against. Split out so a run that
    * decontaminates several corpora against ONE benchmark derives the
    * set once and reuses it, instead of re-exploding and
    * re-distincting the benchmark per call. */
  def benchmarkGrams(benchmark: DataFrame, n: Int = 8,
                     textCol: String = "text"): DataFrame =
    benchmark
      .select(explode(TextDedup.hashedShingles(col(textCol), n)).as("gram_hash"))
      .distinct()

  /** [[contaminatedIds]] against an ALREADY-DERIVED benchmark gram set
    * (`gram_hash` rows, distinct — [[benchmarkGrams]]' output or a
    * persisted copy of it). Bit-identical hit list: the semi-join sees
    * the same distinct key set either way. */
  def contaminatedIdsFromGrams(corpus: DataFrame, benchGrams: DataFrame,
                               n: Int = 8, textCol: String = "text"): DataFrame =
    corpus
      .select(col("doc_id"), explode(TextDedup.hashedShingles(col(textCol), n)).as("gram_hash"))
      .join(benchGrams.select("gram_hash"), Seq("gram_hash"), "left_semi")
      .select("doc_id")
      .distinct()

  /** The corpus minus every contaminated document (train/test overlap
    * removal). The corpus re-shuffles on nothing — one left-anti join
    * against the (tiny) hit list. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                    textCol: String = "text"): DataFrame =
    corpus.join(contaminatedIds(corpus, benchmark, n, textCol), Seq("doc_id"), "left_anti")

  /** The benchmark's distinct gram hashes folded into one Bloom-filter
    * sketch — Catalyst's own `BloomFilterAggregate` (the runtime-filter
    * sketch), run DISTRIBUTED over the benchmark, with only the
    * finished sketch bytes landing on the driver (bounded by
    * `numBits/8`, not by benchmark size — the same bounded-driver-state
    * contract as the KMV sketch). `numBits <= 0` lets the aggregate
    * pick the optimal width for `expectedGrams`. */
  private[operators] def benchmarkBloom(benchmark: DataFrame, n: Int, textCol: String,
                                        expectedGrams: Long, numBits: Long = -1L): Array[Byte] = {
    val grams = benchmark
      .select(explode(TextDedup.hashedShingles(col(textCol), n)).as("gram_hash"))
      .distinct()
    val agg =
      if (numBits > 0)
        call_function("bloom_filter_agg", col("gram_hash"), lit(expectedGrams), lit(numBits))
      else call_function("bloom_filter_agg", col("gram_hash"), lit(expectedGrams))
    grams.agg(agg.as("bf")).head.getAs[Array[Byte]]("bf")
  }

  /** [[decontaminate]] re-planned for the 100 TB corpus side: instead
    * of semi-joining every corpus (doc_id, gram) pair against the
    * benchmark gram set, the benchmark folds into a Bloom sketch that
    * ships to every task as a plan literal (the LSH plane-matrix
    * discipline), so the first pass over the corpus is a SCAN-LOCAL
    * `might_contain` filter — no shuffle, no join, nothing but the
    * suspects survives. False positives are then removed by re-running
    * the EXACT gram join on the suspect docs only (sketch-sized
    * fraction of the corpus), so the result is bit-identical to
    * [[decontaminate]] at any false-positive rate — the sketch only
    * decides how much work pass 2 sees. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                         textCol: String = "text", expectedGrams: Long = 1L << 20,
                         numBits: Long = -1L): DataFrame = {
    val bf = lit(benchmarkBloom(benchmark, n, textCol, expectedGrams, numBits))
    val suspects = corpus
      .select(col("doc_id"), explode(TextDedup.hashedShingles(col(textCol), n)).as("gram_hash"))
      .filter(call_function("might_contain", bf, col("gram_hash")))
      .select("doc_id")
      .distinct()
    val confirmed = contaminatedIds(
      corpus.join(suspects, Seq("doc_id"), "left_semi"), benchmark, n, textCol)
    corpus.join(confirmed, Seq("doc_id"), "left_anti")
  }

  /** Per-document contamination PROFILE: how many of the doc's distinct
    * word `n`-grams appear anywhere in the benchmark, and the overlap
    * fraction — the graded rendition of [[contaminatedIds]] (any single
    * shared gram is too blunt at 100 TB: boilerplate phrases contaminate
    * everything). Callers threshold `overlap_frac` (see
    * [[decontaminateSoft]]).
    *
    * Same shuffle discipline as the hard variant: only (doc_id, 8-byte
    * gram hash) pairs move; the hit count is a semi-join against the
    * distinct benchmark gram set (broadcast at real benchmark sizes)
    * followed by one doc-keyed aggregate — the total-gram count rides
    * the SAME aggregate (hit flag summed, not a second pass over the
    * exploded pairs). */
  def contaminationProfile(corpus: DataFrame, benchmark: DataFrame, n: Int = 8,
                           textCol: String = "text"): DataFrame = {
    val benchGrams = benchmark
      .select(explode(TextDedup.hashedShingles(col(textCol), n)).as("gram_hash"))
      .distinct()
      .withColumn("__hit", lit(1L))
    corpus
      .select(col("doc_id"), explode(TextDedup.hashedShingles(col(textCol), n)).as("gram_hash"))
      .join(benchGrams, Seq("gram_hash"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("total_grams"),
        coalesce(sum(col("__hit")), lit(0L)).as("hit_grams"))
      .withColumn("overlap_frac",
        round(col("hit_grams").cast("double") / col("total_grams"), 6))
  }

  /** Soft decontamination: drop only documents whose benchmark n-gram
    * overlap fraction EXCEEDS `maxOverlap` (PaLM/GPT-3 style), keeping
    * docs that merely share a stock phrase. maxOverlap = 0 degenerates
    * to [[decontaminate]]. */
  def decontaminateSoft(corpus: DataFrame, benchmark: DataFrame, maxOverlap: Double,
                        n: Int = 8, textCol: String = "text"): DataFrame = {
    val hot = contaminationProfile(corpus, benchmark, n, textCol)
      .filter(col("overlap_frac") > maxOverlap)
      .select("doc_id")
    corpus.join(hot, Seq("doc_id"), "left_anti")
  }

  // ------------------------------------------------------------------
  // Deterministic sampling
  // ------------------------------------------------------------------

  /** Keep rows whose id hashes below `rate` of the u32 space — a
    * reproducible Bernoulli(rate) sample that is stable under corpus
    * growth and identical across engines/runs (unlike rand()-based
    * sampling). Stateless scan-speed filter; the threshold compare is
    * exact integer arithmetic. */
  def sampleByHash(df: DataFrame, rate: Double, idCol: String = "doc_id"): DataFrame =
    df.filter(hashU32(col(idCol)) < math.floor(rate * 4294967296.0).toLong)

  /** Named train/val/test (or any n-way) split assignment by id-hash
    * bucket ranges over the u32 space — the leakage-safe split: a doc's
    * split is a pure function of its id, so it never migrates when the
    * corpus grows, is identical on every engine/run, and co-versioned
    * docs (same id) can never straddle splits. Stateless scan-speed
    * projection; thresholds are exact integer cutoffs (floor of the
    * cumulative weight), so weights are honored to 1/2³² exactly. */
  def splitAssign(df: DataFrame, splits: Seq[(String, Double)],
                  idCol: String = "doc_id"): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split weights must sum to 1: $splits")
    val cuts = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.floor(c * 4294967296.0).toLong)
    val h = hashU32(col(idCol))
    val assigned = splits.init.zip(cuts).foldRight(lit(splits.last._1)) {
      case (((name, _), cut), rest) => when(h < cut, lit(name)).otherwise(rest)
    }
    df.withColumn("split", assigned)
  }

  /** [[splitAssign]] made leakage-safe against NEAR-DUPLICATES, not
    * just id identity: the split key is the document's near-dup FAMILY
    * representative (min doc_id of its connected component; singletons
    * are their own representative), so a family can never straddle
    * train/test — the classic eval-contamination hole a per-id split
    * leaves open (a paraphrase of a training doc lands in test with
    * probability = test weight). Pure composition: near-dup `pairs`
    * (any of the minhash/simhash/containment paths) → large-star/
    * small-star components → [[splitAssign]] hashing the
    * representative. Non-family docs never join anything heavier than
    * a left join against the (tiny) component table; the component
    * table itself is bounded by documents-with-a-near-dup, not the
    * corpus. Output adds `family_rep` beside `split` so the
    * leakage invariant (one split per family) is directly auditable. */
  def splitAssignByFamily(docs: DataFrame, pairs: DataFrame,
                          splits: Seq[(String, Double)],
                          idCol: String = "doc_id"): DataFrame = {
    val comp = Components.connectedComponents(pairs)
      .select(col("id").as(idCol), col("component").as("__rep"))
    val withRep = docs.join(comp, Seq(idCol), "left")
      .withColumn("family_rep", coalesce(col("__rep"), col(idCol)))
      .drop("__rep")
    splitAssign(withRep, splits, "family_rep")
  }

  /** Per-stratum deterministic sample: within each `strataCol` value,
    * keep the ceil(rate · |stratum|) rows with the smallest (id hash,
    * id) — exact per-stratum proportions (a plain hash filter only hits
    * them in expectation).
    *
    * NOT a row_number window per stratum: that funnels each entire
    * stratum through one task (a dominant 'en' stratum at 10¹⁰ docs is
    * a single multi-billion-row sort). Instead the u32 hash space is
    * cut into 2¹⁶ buckets (bucket = high 16 bits, so bucket-major order
    * IS hash order) and the per-stratum cut is located on the tiny
    * (stratum × bucket) count table: buckets wholly below the cut keep
    * every row via a broadcast semi-join (no sort at all), and only the
    * ONE boundary bucket per stratum — ~|stratum|/2¹⁶ rows — is ranked,
    * partitioned by (stratum, bucket). Output set is identical to the
    * naive per-stratum rank (CurationSpec asserts parity). */
  def sampleStratified(df: DataFrame, strataCol: String, rate: Double,
                       idCol: String = "doc_id"): DataFrame = {
    // struct-wrapped stratum key: equi-joins match NULL strata (the
    // naive window samples the NULL group too)
    val withH = df
      .withColumn("__sk", struct(col(strataCol)))
      .withColumn("__h", hashU32(col(idCol)))
      .withColumn("__b", floor(col("__h") / 65536L))
    val counts = withH.groupBy(col("__sk"), col("__b")).agg(count(lit(1)).as("__c"))
    val wStratum = Window.partitionBy(col("__sk"))
    val wCum = wStratum.orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)
    val cuts = counts
      .withColumn("__before", coalesce(sum(col("__c")).over(wCum), lit(0L)))
      .withColumn("__k", ceil(sum(col("__c")).over(wStratum) * rate))
    val wholeBuckets = cuts.filter(col("__before") + col("__c") <= col("__k"))
      .select(col("__sk"), col("__b"))
    val boundary = cuts
      .filter(col("__before") < col("__k") && col("__before") + col("__c") > col("__k"))
      .select(col("__sk"), col("__b"), (col("__k") - col("__before")).as("__take"))
    val keptWhole = withH.join(broadcast(wholeBuckets), Seq("__sk", "__b"), "left_semi")
    val wBucket = Window.partitionBy(col("__sk"), col("__b"))
      .orderBy(col("__h"), col(idCol))
    val keptBoundary = withH.join(broadcast(boundary), Seq("__sk", "__b"))
      .withColumn("__rn", row_number().over(wBucket))
      .filter(col("__rn") <= col("__take"))
      .drop("__take", "__rn")
    keptWhole.unionByName(keptBoundary).drop("__sk", "__h", "__b")
  }

  /** Token-budget sampling — the "epoch mixing" primitive: within each
    * `strataCol` value (corpus source), keep documents in deterministic
    * (id-hash, id) order WHILE the token count of already-kept documents
    * is below `rate` × the stratum's total tokens. The boundary document
    * (the one that crosses the budget) is kept — the standard
    * fill-until-budget contract, so every non-empty stratum contributes
    * at least one doc. Sampling by TOKEN share rather than doc count is
    * what a training mix actually needs: doc-count sampling over-weights
    * sources with short documents.
    *
    * Scale shape mirrors [[sampleStratified]] — never a per-stratum
    * global sort: per-(stratum, 2¹⁶-bucket) TOKEN sums locate the one
    * boundary bucket per stratum on a tiny count table; buckets wholly
    * inside the budget keep every row via a broadcast semi-join, buckets
    * past it drop wholesale, and only the ~|stratum|/2¹⁶ rows of the
    * boundary bucket are ranked (window partitioned by stratum AND
    * bucket). CurationSpec asserts parity with the naive per-stratum
    * running-sum window. */
  def sampleByTokenBudget(df: DataFrame, strataCol: String, rate: Double,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val withH = budgetKeyed(df, strataCol, idCol, textCol)
    val counts = withH.groupBy(col("__sk"), col("__b")).agg(sum(col("__tc")).as("__bt"))
    // budget is ONE IEEE product per stratum (rate × exact integer total)
    // — bit-identical across engines, like the sourceMix weight division
    val budgets = counts.groupBy(col("__sk")).agg(sum(col("__bt")).as("__tot"))
      .select(col("__sk"), (col("__tot").cast("double") * rate).as("__budget"))
    fillCore(withH, counts, budgets, idCol).drop("__sk", "__tc", "__h", "__b")
  }

  /** The (__sk, __tc, __h, __b)-keyed frame the fill machinery runs
    * over: struct-wrapped stratum (NULL strata join as their own
    * bucket), exact token counts, the cross-engine id hash, and its
    * 2¹⁶-range bucket prefix. Tokens are whitespace tokens (one
    * row-local regex). */
  private def budgetKeyed(df: DataFrame, strataCol: String, idCol: String,
                          textCol: String): DataFrame =
    df.withColumn("__tc", TextStats.tokenCount(col(textCol)).cast("long"))
      .withColumn("__sk", struct(col(strataCol)))
      .withColumn("__h", hashU32(col(idCol)))
      .withColumn("__b", floor(col("__h") / 65536L))

  /** The two-level fill-until-budget cut, shared by
    * [[sampleByTokenBudget]] (budget = rate × stratum total) and
    * [[epochMaterialize]] (budget = the plan's fractional remainder):
    * keep each stratum's docs in (id-hash, id) order while tokens-
    * before < budget (boundary doc kept). Never a per-stratum global
    * sort — bucket token sums locate the one boundary bucket per
    * stratum on a tiny count table; buckets wholly inside keep every
    * row via a broadcast semi-join, and only the ~|stratum|/2¹⁶ rows
    * of the boundary bucket are ranked. `budgets` is |strata|-sized:
    * (__sk, __budget DOUBLE). */
  private def fillCore(withH: DataFrame, counts: DataFrame, budgets: DataFrame,
                       idCol: String): DataFrame = {
    val wCum = Window.partitionBy(col("__sk")).orderBy(col("__b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cuts = counts
      .withColumn("__before", coalesce(sum(col("__bt")).over(wCum), lit(0L)))
      .join(broadcast(budgets), Seq("__sk"))
    // strictly-inside buckets keep every row: each member doc's
    // tokens-before is < bucket_end ≤ budget only when bucket_end <
    // budget OR the doc has tokens; bucket_end == budget with a
    // trailing zero-token doc is the one edge — route it (and every
    // budget-crossing bucket) through the exact ranked path instead
    val wholeBuckets = cuts.filter(col("__before") + col("__bt") < col("__budget"))
      .select(col("__sk"), col("__b"))
    val boundary = cuts
      .filter(col("__before") < col("__budget") &&
        col("__before") + col("__bt") >= col("__budget"))
      .select(col("__sk"), col("__b"), col("__before"), col("__budget"))
    val keptWhole = withH.join(broadcast(wholeBuckets), Seq("__sk", "__b"), "left_semi")
    val wBucket = Window.partitionBy(col("__sk"), col("__b"))
      .orderBy(col("__h"), col(idCol)).rowsBetween(Window.unboundedPreceding, -1)
    val keptBoundary = withH.join(broadcast(boundary), Seq("__sk", "__b"))
      .withColumn("__run", col("__before") + coalesce(sum(col("__tc")).over(wBucket), lit(0L)))
      .filter(col("__run") < col("__budget"))
      .drop("__before", "__budget", "__run")
    keptWhole.unionByName(keptBoundary)
  }

  /** Fixed-size per-stratum sample: the `k` rows with the smallest id
    * hashes within each stratum — the "give me 1000 examples per
    * source" contract. Deterministic, reproducible, and growth-stable
    * in the hash order (new docs displace old ones only by hashing
    * smaller, never by arrival order).
    *
    * One hash exchange on the stratum; the rank ≤ k filter plans as
    * WindowGroupLimit, so each task retains at most k rows per group
    * map-side before the shuffle — a skewed giant stratum never
    * funnels its full membership through one task's sort. */
  def sampleKPerGroup(df: DataFrame, strataCol: String, k: Int,
                      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(strataCol)).orderBy(hashU32(col(idCol)), col(idCol))
    df.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k).drop("__rk")
  }

  // ------------------------------------------------------------------
  // KMV distinct-cardinality sketch
  // ------------------------------------------------------------------

  /** K-minimum-values distinct estimate of `valueCol`: hash every value
    * to a uniform double in [0,1), keep the k smallest DISTINCT hashes,
    * estimate distinct ≈ (k−1) / h_(k). One row: (k, kmv_estimate,
    * exact_distinct) — the exact count rides along at gate scale to
    * show the sketch's error; production runs would drop it.
    *
    * Distributed shape: distinct-hash then global top-k = TakeOrdered
    * (per-partition partial limits, k values to the driver) — the
    * sketch property that makes it run on 10¹⁰ values. */
  def kmvDistinct(df: DataFrame, valueCol: Column, k: Int = 64): DataFrame = {
    val hv = df.select((hashU32(valueCol).cast("double") / 4294967296.0).as("hv"))
    val kept = hv.distinct().orderBy("hv").limit(k)
    val est = kept.agg(count(lit(1)).as("got"), max(col("hv")).as("hk"))
      .select(
        lit(k).cast("long").as("k"),
        round(when(col("got") < k, col("got").cast("double"))
          .otherwise((lit(k) - 1).cast("double") / col("hk")), 6).as("kmv_estimate"))
    est.crossJoin(df.agg(countDistinct(valueCol).as("exact_distinct")))
  }

  /** Per-group KMV: the same sketch independently per `groupCol` value
    * — "distinct documents per source" style profiling in one pass.
    * The k smallest distinct hashes per group come from a rank-capped
    * window (WindowGroupLimit retains ≤ k rows per group map-side), so
    * a giant group never funnels its full distinct set through one
    * task; driver output is |groups| rows. */
  def kmvDistinctByGroup(df: DataFrame, groupCol: String, valueCol: Column,
                         k: Int = 64): DataFrame = {
    val hv = df.select(col(groupCol).as("__grp"),
      (hashU32(valueCol).cast("double") / 4294967296.0).as("hv")).distinct()
    val w = Window.partitionBy(col("__grp")).orderBy(col("hv"))
    hv.withColumn("__rk", row_number().over(w)).filter(col("__rk") <= k)
      .groupBy(col("__grp").as(groupCol))
      .agg(count(lit(1)).as("__got"), max(col("hv")).as("__hk"))
      .select(col(groupCol), lit(k).cast("long").as("k"),
        round(when(col("__got") < k, col("__got").cast("double"))
          .otherwise((lit(k) - 1).cast("double") / col("__hk")), 6).as("kmv_estimate"))
  }

  // ------------------------------------------------------------------
  // PII redaction
  // ------------------------------------------------------------------

  /** Conservative regex subset that parses identically in Java regex
    * and RE2 (DuckDB) — the cross-engine contract of the redaction. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\b555-[0-9]{4}\\b"

  /** Replace emails and (fixture-shaped) phone numbers with typed
    * placeholder tokens and count the replacements per document — the
    * pre-training PII scrub. The phone count runs on the EMAIL-REDACTED
    * intermediate (the same text the phone pass rewrites), so each
    * count equals the number of placeholder tokens actually emitted —
    * a phone-shaped string inside an email address is consumed by the
    * email pass and must not be reported as a phone redaction. Pure
    * per-row regex projection; at 100 TB this runs at scan speed with
    * (doc_id, text) pruning. */
  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val emailRedacted = regexp_replace(col(textCol), EmailPattern, "<EMAIL>")
    docs.select(
      col("doc_id"),
      regexp_replace(emailRedacted, PhonePattern, "<PHONE>").as("redacted"),
      regexp_count(col(textCol), lit(EmailPattern)).as("email_count"),
      regexp_count(emailRedacted, lit(PhonePattern)).as("phone_count"))
  }

  // ------------------------------------------------------------------
  // Quality-rule filtering
  // ------------------------------------------------------------------

  /** Gopher-style rule gate over the [[TextStats]] profile: every doc
    * gets a keep flag and the FIRST failing rule's name (rule order is
    * the contract — deterministic across engines). Thresholds are
    * corpus-tuning parameters; defaults split the synthetic corpus.
    * Per-row projection, scan speed. */
  /** The CLOSED drop_reason domain of [[qualityFilter]], in rule order
    * — kept next to the when-chain so a consumer aggregating per reason
    * (the quality gate's observed counts) can enumerate it without a
    * groupBy pass over the flags. */
  val QualityDropReasons: Seq[String] =
    Seq("too_short", "too_long", "high_punct", "low_stopword")

  def qualityFilter(docs: DataFrame, textCol: String = "text",
                    minTokens: Int = 25, maxTokens: Int = 20000,
                    maxPunctRatio: Double = 0.25,
                    minStopwordRatio: Double = 0.02): DataFrame = {
    val t = col(textCol)
    val reason =
      when(TextStats.tokenCount(t) < minTokens, lit("too_short"))
        .when(TextStats.tokenCount(t) > maxTokens, lit("too_long"))
        .when(TextStats.punctRatio(t) > maxPunctRatio, lit("high_punct"))
        .when(TextStats.stopwordRatio(t, TextStats.Stopwords.head._2) < minStopwordRatio,
          lit("low_stopword"))
    docs.select(col("doc_id"), reason.isNull.as("keep"), reason.as("drop_reason"))
  }

  // ------------------------------------------------------------------
  // Model-based quality scoring (hashed linear classifier)
  // ------------------------------------------------------------------

  /** Deterministic stand-in for a TRAINED linear model: `dim` hashed
    * feature buckets with integer milli-weights in [-1000, 1000]
    * derived from the bucket index (the model-training step happens
    * offline and is out of engine scope — what the engine owns is the
    * SCORING plan). Replayable in any engine via the md5-u32 recipe. */
  def hashedModel(spark: org.apache.spark.sql.SparkSession, dim: Int): DataFrame =
    spark.range(dim).select(col("id").as("bucket"),
      (hashU32(col("id")) % 2001 - 1000).as("w_milli"))

  /** fastText-shape linear classifier scoring over hashed bag-of-words
    * features — the model-based quality-filter stage (CCNet/LLaMA-style
    * "does this look like reference text?" gating). Features are
    * scan-local: each token hashes to one of `dim` buckets; the weight
    * table is `dim` rows and BROADCASTS; the per-doc score is one
    * partial-aggregated integer sum — the only shuffle is doc-keyed
    * (dim + corpus-token cost, never text).
    *
    * Exactness discipline: weights are integer MILLI-units summed in
    * BIGINT (order-free), and the mean-pooled logit is one double
    * division at the end — so the score is bit-deterministic across
    * engines and partitionings, unlike a floating-point sum. Docs with
    * no tokens score NULL and keep=false. */
  def classifierScore(docs: DataFrame, weights: DataFrame, dim: Int,
                      textCol: String = "text", threshold: Double = 0.0): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(TextDedup.normalize(coalesce(col(textCol), lit(""))), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), (hashU32(col("tok")) % dim).as("bucket"))
    val agg = toks.join(broadcast(weights), Seq("bucket"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_milli")).as("w_sum_milli"))
    val score = col("w_sum_milli").cast("double") / (lit(1000.0) * col("n_tokens"))
    docs.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("w_sum_milli"), lit(0L)).as("w_sum_milli"),
        score.as("score"),
        coalesce(score > threshold, lit(false)).as("keep"))
  }

  /** Quality-WEIGHTED soft sampling — the DCLM/FineWeb-style
    * probabilistic quality filter: instead of a cliff-edge keep/drop at
    * a score threshold, each document survives with probability equal
    * to its squashed classifier score (rate = clamp((score+1)/2, 0, 1);
    * scoreless empty docs rate 0), decided DETERMINISTICALLY by
    * comparing the doc-id hash against the per-row integer cutoff
    * floor(rate·2^32) — [[sampleByHash]]'s cutoff discipline with a
    * per-document rate. A doc's fate is a pure function of (id, its
    * own text): growth-stable, engine-portable, and monotone in the
    * rate (raising a doc's quality can only ever ADD it to the
    * sample). Scan-shaped on top of [[classifierScore]]'s one feature
    * aggregate; the verdict rides on the RAW rate, rounding is
    * display-only. */
  def sampleByQuality(docs: DataFrame, weights: DataFrame, dim: Int,
                      textCol: String = "text"): DataFrame = {
    val scored = classifierScore(docs, weights, dim, textCol)
    val rate = coalesce(
      least(greatest((col("score") + 1) / 2, lit(0.0)), lit(1.0)), lit(0.0))
    scored.select(col("doc_id"), round(rate, 6).as("keep_rate"),
      (hashU32(col("doc_id")) < floor(rate * lit(4294967296.0)).cast("long"))
        .as("sampled"))
  }

  // ------------------------------------------------------------------
  // Intra-document repetition profile
  // ------------------------------------------------------------------

  /** Gopher-style repetition stats per document: fraction of repeated
    * tokens, fraction of repeated word `gramN`-grams (multiplicity
    * preserved — these grams are NOT the distinct shingle sets dedup
    * uses), and the most-frequent-token fraction. High values flag the
    * template/boilerplate/keyword-stuffing docs a quality gate should
    * drop. Pure per-row array arithmetic — scan speed, no shuffle. */
  def repetitionStats(docs: DataFrame, textCol: String = "text", gramN: Int = 3): DataFrame = {
    // NULL text profiles as empty text (the oracle coalesces the same
    // way) — split(NULL) would propagate size() = -1 into the ratios
    val toksE = split(TextDedup.normalize(coalesce(col(textCol), lit(""))), " ")
    val gramsE = when(size(toksE) < gramN, array(concat_ws(" ", toksE)))
      .otherwise(transform(sequence(lit(1), size(toksE) - (gramN - 1)),
        i => concat_ws(" ", slice(toksE, i, lit(gramN)))))
    docs
      .select(col("doc_id"), toksE.as("toks"), gramsE.as("grams"))
      .select(col("doc_id"),
        round(lit(1.0) - size(array_distinct(col("toks"))).cast("double")
          / greatest(size(col("toks")), lit(1)), 6).as("token_repetition"),
        round(lit(1.0) - size(array_distinct(col("grams"))).cast("double")
          / greatest(size(col("grams")), lit(1)), 6).as("gram_repetition"),
        round(array_max(transform(array_distinct(col("toks")),
          u => size(filter(col("toks"), x => x === u)))).cast("double")
          / greatest(size(col("toks")), lit(1)), 6).as("top_token_fraction"))
  }

  // ------------------------------------------------------------------
  // Source-mix weights
  // ------------------------------------------------------------------

  /** Per-source corpus composition: document count, token sum, and the
    * source's proportional sampling weight (token share). The weight
    * division is exact-integer → one IEEE division, engine-portable.
    * One map-side-combined aggregate; the total rides on a window over
    * the handful of aggregated source rows. */
  def sourceMix(docs: DataFrame, srcCol: String = "source",
                textCol: String = "text"): DataFrame = {
    val agg = docs.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("doc_count"),
        sum(TextStats.tokenCount(col(textCol))).as("token_sum"))
    agg.withColumn("weight",
      round(col("token_sum").cast("double")
        / sum(col("token_sum")).over(Window.partitionBy()), 6))
  }

  /** Temperature-flattened sampling weights over the [[sourceMix]]
    * shares — the multilingual alpha-sampling scheme (Conneau &
    * Lample 2019 §3.1; mT5's sampling temperature): p_i ∝ share_i^α
    * with α ∈ (0,1] flattening the head so low-resource sources are
    * upsampled. Output per source: exact doc/token counts, raw token
    * share, temperature weight, and the oversample factor
    * weight/share an epoch-builder multiplies into per-source
    * sampling rates.
    *
    * Determinism contract (what makes this gateable cross-engine):
    * shares are one IEEE division of exact BIGINT sums; α = 0.5 (the
    * gated default) goes through sqrt, which is correctly rounded on
    * both engines where pow's last ulp is libm-dependent; and the
    * weight normalizer folds the SOURCE-SORTED q list sequentially
    * (Spark `aggregate`, DuckDB `list_reduce` — same left fold, so
    * the float sum is order-pinned, not partition-order luck).
    * General α uses pow and keeps the same shape. Scale: one
    * map-side-combined aggregate to ~|sources| rows; everything after
    * is driver-trivial (broadcast 1-row normalizer join). */
  def temperatureWeights(docs: DataFrame, alpha: Double = 0.5,
                         srcCol: String = "source",
                         textCol: String = "text"): DataFrame =
    temperatureWeightsFromAgg(
      docs.groupBy(col(srcCol).as("source"))
        .agg(count(lit(1)).as("doc_count"),
          sum(TextStats.tokenCount(col(textCol))).as("token_sum")),
      alpha)

  /** [[temperatureWeights]] from an ALREADY-AGGREGATED
    * (source, doc_count, token_sum) frame — the seam that lets a
    * caller holding a profiled corpus (e.g. [[epochMaterialize]]'s
    * checkpointed keyed frame) derive the weights without a second
    * corpus scan. Identical arithmetic, |sources|-sized input. */
  def temperatureWeightsFromAgg(agg: DataFrame, alpha: Double = 0.5): DataFrame = {
    val shareRaw = col("token_sum").cast("double") /
      sum(col("token_sum")).over(Window.partitionBy())
    val qCol = if (alpha == 0.5) sqrt(shareRaw) else pow(shareRaw, lit(alpha))
    val withQ = agg.withColumn("share_raw", shareRaw).withColumn("q", qCol)
    val qsum = withQ
      .select(sort_array(collect_list(struct(col("source"), col("q")))).as("l"))
      .select(aggregate(col("l"), lit(0.0), (a, s) => a + s("q")).as("qsum"))
    withQ.crossJoin(broadcast(qsum))
      .select(col("source"), col("doc_count"), col("token_sum"),
        round(col("share_raw"), 6).as("share"),
        round(col("q") / col("qsum"), 6).as("weight"),
        round(col("q") / col("qsum") / col("share_raw"), 6).as("oversample"))
  }

  /** The epoch plan that makes [[temperatureWeights]] actionable: given
    * a total token `budget` for one training epoch, each source's
    * target token count is floor(weight · budget) and its repeat
    * factor target/token_sum tells the sampler how often to cycle the
    * source (>1 = upsample with repetition, <1 = subsample). All
    * integer arithmetic except the already-pinned weight doubles and
    * one final IEEE division, so the plan is engine-exact and
    * growth-stable. One ~|sources|-row frame — driver-trivial after
    * the same single aggregate as the weights. */
  def epochPlan(docs: DataFrame, budgetTokens: Long, alpha: Double = 0.5,
                srcCol: String = "source", textCol: String = "text"): DataFrame =
    planFromWeights(temperatureWeights(docs, alpha, srcCol, textCol), budgetTokens)

  private def planFromWeights(weights: DataFrame, budgetTokens: Long): DataFrame =
    weights
      .select(col("source"), col("doc_count"), col("token_sum"), col("weight"),
        floor(col("weight") * budgetTokens).cast("long").as("target_tokens"))
      .withColumn("repeat_factor",
        round(col("target_tokens").cast("double") /
          greatest(col("token_sum"), lit(1L)), 6))

  /** EPOCH MATERIALIZATION — the last step a training-data pipeline
    * exists for: turn the [[epochPlan]] RECIPE into the actual epoch's
    * document stream. Per source with target T and token sum S:
    *
    *  - every doc repeats ⌊T / S⌋ times (integer full passes over the
    *    source — upsampling-with-repetition when the temperature weight
    *    oversamples it);
    *  - the FRACTIONAL remainder T − ⌊T/S⌋·S is filled by one more copy
    *    of the docs that come first in (id-hash, id) order, kept while
    *    tokens-before < remainder with the boundary doc included — the
    *    [[sampleByTokenBudget]] fill contract, via the same two-level
    *    bucket cut (never a per-source global sort);
    *  - every emitted copy then takes a [[globalShuffle]] position
    *    keyed on (seed, doc_id#copy), so repeats of one document
    *    scatter across the epoch instead of clumping.
    *
    * Output: (position, doc_id, copy, source, token_count) — one row
    * per emitted copy, `position` a dense global permutation.
    * Deterministic end-to-end (plan arithmetic, md5 fill order, md5
    * shuffle), so the same corpus + budget + seed yields the same
    * epoch on any cluster — and the DuckDB oracle replays targets,
    * fill order, repeat expansion, and shuffle rank from first
    * principles.
    *
    * Scale shape: one plan aggregate (|sources| rows, broadcast back),
    * the bucket-cut fill ([[fillCore]]), one row-local bounded explode
    * (expansion factor = the epoch's oversampling, known from the
    * plan), and the bucketed-rank shuffle — no global windows, no
    * corpus-sized driver state. */
  def epochMaterialize(docs: DataFrame, budgetTokens: Long, alpha: Double = 0.5,
                       seed: Long = 42L, srcCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    // ONE corpus scan: the slim keyed frame (id, stratum, tokens, hash,
    // bucket — a few dozen bytes/doc) is pinned and every consumer —
    // the plan aggregate, the bucket counts, the fill's two join arms,
    // the expansion — reads IT, not the corpus. Unpinned, the tokenCount
    // profile re-evaluated in ~6 subtrees (42 shuffles at the gate; at
    // 100 TB, 6 corpus scans).
    val keyed = budgetKeyed(docs, srcCol, "doc_id", textCol)
      .select(col("doc_id"), col("__sk"), col("__tc"), col("__h"), col("__b"))
      .localCheckpoint(true)
    val agg = keyed.groupBy(col("__sk").getField(srcCol).as("source"))
      .agg(count(lit(1)).as("doc_count"), sum(col("__tc")).as("token_sum"))
    val plan = planFromWeights(temperatureWeightsFromAgg(agg, alpha), budgetTokens)
      .select(col("source"), col("token_sum"), col("target_tokens"))
      .withColumn("__nfull",
        when(col("token_sum") > 0,
          floor(col("target_tokens") / col("token_sum")).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("__rem", col("target_tokens") - col("__nfull") * col("token_sum"))
      // |sources|-sized and referenced by three consumers (budgets,
      // the copies join, the fill) — pin it so the weight machinery
      // (windows + ordered fold) evaluates once, not per consumer
      .localCheckpoint(true)

    val counts = keyed.groupBy(col("__sk"), col("__b")).agg(sum(col("__tc")).as("__bt"))
    val budgets = plan.select(struct(col("source").as(srcCol)).as("__sk"),
      col("__rem").cast("double").as("__budget"))
    val extra = fillCore(keyed, counts, budgets, "doc_id")
      .select(col("doc_id"), lit(1L).as("__extra"))

    val expanded = keyed
      .select(col("doc_id"), col("__sk"), col("__tc").as("token_count"))
      // join on the struct key, not the bare column: struct equality
      // treats NULL fields as equal (same mechanism as fillCore's
      // budgets join), so a NULL-source stratum — a real bucket in
      // budgetKeyed/epochPlan — keeps its ⌊T/S⌋ full passes instead of
      // null-rejecting its way to fractional-fill-only
      .join(broadcast(plan.select(struct(col("source").as(srcCol)).as("__sk"),
        col("__nfull"))), Seq("__sk"), "left")
      .withColumn("source", col("__sk").getField(srcCol))
      .join(extra, Seq("doc_id"), "left")
      .withColumn("__copies",
        coalesce(col("__nfull"), lit(0L)) + coalesce(col("__extra"), lit(0L)))
      .filter(col("__copies") > 0)
      .select(col("doc_id"), col("source"), col("token_count"),
        explode(sequence(lit(0L), col("__copies") - 1)).as("copy"))

    // one replica id per emitted copy: repeats of a doc shuffle
    // independently (md5 of "seed:doc#copy"), ties broken on the
    // replica string — both replayable byte-for-byte cross-engine
    val replicas = expanded.withColumn("__replica",
      concat_ws("#", col("doc_id").cast("string"), col("copy").cast("string")))
    globalShuffle(replicas, seed, "__replica")
      .select(col("position"), col("doc_id"), col("copy"), col("source"),
        col("token_count"))
  }

  // ------------------------------------------------------------------
  // Training-sequence packing
  // ------------------------------------------------------------------

  /** Assign documents (in doc_id order) to fixed-capacity training
    * sequences by cumulative token count: each doc reports its global
    * start offset and the sequence (`start / seqLen`) its first token
    * lands in — the deterministic concat-then-slice batching model.
    *
    * The global prefix sum is CHUNKED (three-level), not a global
    * window (an unpartitioned window funnels the corpus through one
    * task): docs prefix-sum within doc_id chunks of `chunkDocs` (a
    * partitioned window), chunk totals within superchunks of
    * `chunkDocs` chunks (another partitioned window), and only the
    * superchunk totals — one row per `chunkDocs`² docs, ~10⁴ at a
    * 10¹⁰-doc corpus — take the one unpartitioned step; the
    * broadcast-joined offsets add up to the exact global prefix. */
  def packSequences(docs: DataFrame, seqLen: Int = 2048, chunkDocs: Int = 1024,
                    textCol: String = "text"): DataFrame =
    chunkedPrefix(
      docs.select(col("doc_id"),
        TextStats.tokenCount(col(textCol)).cast("long").as("token_count")),
      "doc_id", chunkDocs)
      .select(col("doc_id"), col("token_count"),
        col("__start").as("start_offset"),
        floor(col("__start") / seqLen).cast("long").as("seq_no"))

  /** Pack the MATERIALIZED epoch stream ([[epochMaterialize]] rows)
    * into fixed training sequences — the same concat-then-slice model
    * as [[packSequences]], but in epoch POSITION order: the sequences
    * respect the shuffled training order and each repeated copy packs
    * independently at its own position. The last step of the
    * plan → epoch → batches chain; `position` is already a dense
    * permutation, so the chunked prefix sum is uniformly loaded by
    * construction. */
  def packEpoch(epoch: DataFrame, seqLen: Int = 2048,
                chunkPositions: Int = 1024): DataFrame =
    chunkedPrefix(
      // pin the slim projection: the prefix sum reads its input twice
      // (per-chunk window + chunk totals), and when `epoch` is a LIVE
      // epochMaterialize plan rather than a stored table, re-evaluating
      // it doubles the whole materialization
      epoch.select(col("position"), col("doc_id"), col("copy"), col("token_count"))
        .localCheckpoint(true),
      "position", chunkPositions)
      .select(col("position"), col("doc_id"), col("copy"), col("token_count"),
        col("__start").as("start_offset"),
        floor(col("__start") / seqLen).cast("long").as("seq_no"))

  /** The THREE-LEVEL global prefix sum shared by [[packSequences]] and
    * [[packEpoch]] — never an unbounded single-task window (an
    * unpartitioned window funnels the corpus through one task): rows
    * prefix-sum of `token_count` within `orderCol` chunks of
    * `chunkSize` (a partitioned window), the chunk totals get the SAME
    * treatment one level up ([[chunkOffsets]] — superchunks of
    * `chunkSize` chunks, another partitioned window), and only the
    * superchunk totals — one row per `chunkSize`² input rows, ~10⁴ at
    * a 10¹⁰-row corpus — pass through the single unpartitioned window.
    * The broadcast-joined offsets add up to the exact global prefix,
    * emitted as `__start`. */
  private[operators] def chunkedPrefix(df: DataFrame, orderCol: String,
                                        chunkSize: Int): DataFrame = {
    val t = df.withColumn("__chunk", floor(col(orderCol) / chunkSize))
    val win = Window.partitionBy(col("__chunk")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val inChunk = t.withColumn("__prev", coalesce(sum(col("token_count")).over(win), lit(0L)))
    val totals = t.groupBy("__chunk").agg(sum(col("token_count")).as("__ct"))
    inChunk.join(broadcast(chunkOffsets(totals, chunkSize)), Seq("__chunk"))
      .withColumn("__start", col("__prev") + col("__off"))
      .drop("__chunk", "__prev", "__off")
  }

  /** Prefix-sum the chunk totals `(__chunk, __ct)` in `__chunk` order
    * WITHOUT an unbounded single-partition window: totals prefix-sum
    * within superchunks of `chunkSize` chunks (a partitioned window),
    * and only the superchunk totals go through the unpartitioned
    * window — that frame is 1/chunkSize² of the original row count,
    * so the one serial sort the whole prefix pays is over ≤10⁴ rows
    * even at a 10¹⁰-doc corpus (the old two-level form put the full
    * 10⁷-row chunk list through it). Returns `(__chunk, __off)` with
    * `__off` = sum of all `__ct` strictly before `__chunk`.
    *
    * Measured cost of the extra level: both arms here re-derive the
    * totals aggregate lazily, so the whole prefix reads its input
    * three times instead of two (plan-audited; exchange reuse does not
    * fire across the arms — a pushed null-filter makes the subtrees
    * non-canonical). The extra pass is column-pruned to (orderCol,
    * token_count) and fully parallel — at the 500k-doc tier it costs
    * ~1-3 s inside the pack ops (within their run-to-run band, A/B in
    * PLANS.md) — which is the right trade against the serial step
    * that GROWS with the corpus: parallel slim scans survive a 1000×
    * scale-up, single-task sorts do not. */
  private def chunkOffsets(totals: DataFrame, chunkSize: Int): DataFrame = {
    val t = totals.withColumn("__super", floor(col("__chunk") / chunkSize))
    val win = Window.partitionBy(col("__super")).orderBy(col("__chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val inSuper = t.withColumn("__p", coalesce(sum(col("__ct")).over(win), lit(0L)))
    val wSupers = Window.orderBy(col("__super"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val superOffsets = t.groupBy("__super").agg(sum(col("__ct")).as("__st"))
      .withColumn("__soff", coalesce(sum(col("__st")).over(wSupers), lit(0L)))
      .select("__super", "__soff")
    inSuper.join(broadcast(superOffsets), Seq("__super"))
      .withColumn("__off", col("__p") + col("__soff"))
      .select("__chunk", "__off")
  }

  /** The per-sequence slices behind [[packSequences]] — the actual
    * training-batch assembly contract. A doc occupying global token
    * range [start, start+tc) contributes one segment to EVERY sequence
    * it straddles: sequence k gets the doc's tokens
    * [max(0, k·L − start), …) for min(start+tc, (k+1)·L) −
    * max(start, k·L) tokens. Empty docs contribute nothing.
    *
    * Same chunked prefix sum as packSequences (no global window);
    * the only new work is a bounded `sequence()` explode — a doc spans
    * ceil(tc/L)+1 sequences at most, so the expansion factor is
    * ~avg_doc_tokens/L + 1 (≈2 for 2048-token sequences over web
    * docs), a row-local flatMap with no shuffle of its own. */
  def packSegments(docs: DataFrame, seqLen: Int = 2048, chunkDocs: Int = 1024,
                   textCol: String = "text"): DataFrame = {
    val packed = packSequences(docs, seqLen, chunkDocs, textCol)
    val start = col("start_offset")
    val end = col("start_offset") + col("token_count")
    val segStart = greatest(start, col("seq_no") * seqLen)
    val segEnd = least(end, (col("seq_no") + 1) * seqLen)
    packed.filter(col("token_count") > 0)
      .withColumn("seq_no",
        explode(sequence(col("seq_no"),
          floor((end - 1) / seqLen).cast("long"))))
      .select(col("seq_no"), col("doc_id"),
        (segStart - start).as("doc_token_start"),
        (segEnd - segStart).as("token_len"))
  }

  // ------------------------------------------------------------------
  // Context-window chunking
  // ------------------------------------------------------------------

  /** Slice each document into fixed-size character windows with
    * `overlap` characters shared between neighbours — the RAG /
    * context-window preparation step (the token-exact variant is the
    * same shape over a token array). A doc of `len` chars yields
    * `1 + ceil(max(0, len - chunkLen) / stride)` chunks of up to
    * `chunkLen` chars starting every `stride = chunkLen - overlap`.
    *
    * Row-local explode — no shuffle, no window; the expansion factor is
    * ~len/stride per doc, bounded and known up front. At 100 TB this
    * runs at scan speed and parallelizes per input split. */
  def chunkByChars(docs: DataFrame, chunkLen: Int = 200, overlap: Int = 50,
                   textCol: String = "text"): DataFrame = {
    require(overlap >= 0 && overlap < chunkLen, s"overlap $overlap must be in [0, $chunkLen)")
    val stride = chunkLen - overlap
    val len = length(col(textCol))
    val nChunks = lit(1) + ceil(greatest(len - chunkLen, lit(0)).cast("double") / stride).cast("long")
    docs.select(col("doc_id"), col(textCol).as("__text"), explode(sequence(lit(0L), nChunks - 1)).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        (col("chunk_no") * stride).as("chunk_start"),
        col("__text").substr((col("chunk_no") * stride + 1).cast("int"), lit(chunkLen)).as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")))
  }

  // ------------------------------------------------------------------
  // Deterministic global shuffle (training-order assignment)
  // ------------------------------------------------------------------

  /** Assign every row a global training-order POSITION by a seeded hash
    * of its id — the deterministic "epoch shuffle" that randomizes
    * document order reproducibly (same seed → same order, any cluster
    * size, any engine).
    *
    * Order key is (md5(seed:id), id); position is its global rank.
    * Computed WITHOUT a global window: the first 4 hex digits of the
    * hash bucket rows into 2¹⁶ ranges that are PREFIXES of the sort
    * order (fixed-width lowercase hex sorts lexicographically =
    * numerically), so per-bucket ranks (a partitioned window over ~65k
    * buckets, uniformly loaded by construction) plus prefix-summed
    * bucket counts (driver-sized: 65k rows regardless of corpus size,
    * broadcast back) give the exact global rank. */
  def globalShuffle(df: DataFrame, seed: Long = 42L, idCol: String = "doc_id"): DataFrame = {
    val h = md5(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val keyed = df.withColumn("__h", h)
      .withColumn("__bucket", conv(substring(col("__h"), 1, 4), 16, 10).cast("long"))
    val wIn = Window.partitionBy(col("__bucket")).orderBy(col("__h"), col(idCol))
    val ranked = keyed.withColumn("__rank", row_number().over(wIn).cast("long"))
    val wOff = Window.orderBy(col("__bucket")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy("__bucket").agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select("__bucket", "__off")
    ranked.join(broadcast(offsets), Seq("__bucket"))
      .withColumn("position", col("__off") + col("__rank") - 1)
      .drop("__h", "__bucket", "__rank", "__off", "__n")
  }

  /** One deterministic training order over several sequence streams,
    * with per-stream TOKEN BUDGETS: a production recipe fixes how many
    * tokens of each stream one epoch consumes. Each stream supplies
    * (seq_no, n_tokens) rows; per stream with budget B and token sum
    * T, every sequence repeats ⌊B/T⌋ times (integer full passes —
    * upsampling with repetition) and the fractional remainder
    * B − ⌊B/T⌋·T fills with one more copy of the sequences that come
    * first in (id-hash, id) order, boundary sequence included — the
    * EXACT [[epochMaterialize]] per-source contract applied at the
    * sequence level, engine-replayable end to end. Every emitted copy
    * then takes a [[globalShuffle]] position keyed on
    * "modality:seq_no#copy", so repeats scatter across the epoch.
    *
    * Output: (position, modality, seq_no, copy, n_tokens) — a dense
    * global permutation; per-stream emitted tokens are one aggregate
    * over it (the `epoch_tokens_<stream>` metrics).
    *
    * Scale shape: the slim (modality, seq_no, n_tokens, hash, bucket)
    * frame is pinned and every consumer reads IT (sums, bucket counts,
    * the fill's two arms, the expansion); the fill is the two-level
    * bucket cut ([[fillCore]] — never a per-stream global sort); the
    * expansion is a row-local bounded explode (factor = the epoch's
    * oversampling, known from the plan); positions come from the
    * bucketed-rank shuffle. The plan itself is |streams|-row driver
    * arithmetic over exact integer sums. The returned plan references
    * the pin — the caller releases it (Catalog.releasePin) after
    * materializing. */
  def trainOrderBudgeted(streams: Seq[(String, DataFrame)],
                         budgets: Map[String, Long],
                         seed: Long = 42L): DataFrame = {
    require(streams.nonEmpty, "trainOrderBudgeted needs at least one stream")
    require(streams.map(_._1).distinct.size == streams.size,
      s"modality names must be distinct: ${streams.map(_._1).mkString(", ")}")
    require(streams.forall(s => budgets.contains(s._1)),
      "every stream needs a budget — missing: " +
        streams.map(_._1).filterNot(budgets.contains).mkString(", "))
    require(budgets.values.forall(_ >= 0L),
      s"budgets must be non-negative: $budgets")
    val spark = streams.head._2.sparkSession
    import spark.implicits._
    val u = streams.map { case (m, df) =>
        df.select(lit(m).as("modality"), col("seq_no"),
          col("n_tokens").cast("long").as("__tc"))
      }.reduce(_ unionByName _)
      .withColumn("__sid", concat_ws(":", col("modality"), col("seq_no")))
      .withColumn("__sk", struct(col("modality")))
      .withColumn("__h", hashU32(col("__sid")))
      .withColumn("__b", floor(col("__h") / 65536L))
      .localCheckpoint(true)
    // |streams|-bounded collect: the plan is driver arithmetic over
    // exact integer sums — a handful of rows regardless of corpus size
    val sums = u.groupBy(col("modality")).agg(sum(col("__tc")).as("__ts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plan = streams.map { case (m, _) =>
      val ts = sums.getOrElse(m, 0L)
      val nfull = if (ts > 0L) budgets(m) / ts else 0L
      (m, nfull, (budgets(m) - nfull * ts).toDouble)
    }
    val counts = u.groupBy(col("__sk"), col("__b")).agg(sum(col("__tc")).as("__bt"))
    val budgetsDf = plan.map { case (m, _, rem) => (m, rem) }
      .toDF("modality", "__budget")
      .select(struct(col("modality")).as("__sk"), col("__budget"))
    val extra = fillCore(u, counts, budgetsDf, "__sid")
      .select(col("__sid"), lit(1L).as("__extra"))
    val nfullDf = plan.map { case (m, nf, _) => (m, nf) }.toDF("modality", "__nfull")
    val expanded = u
      .join(broadcast(nfullDf), Seq("modality"))
      .join(extra, Seq("__sid"), "left")
      .withColumn("__copies",
        col("__nfull") + coalesce(col("__extra"), lit(0L)))
      .filter(col("__copies") > 0)
      .select(col("modality"), col("seq_no"), col("__tc").as("n_tokens"),
        col("__sid"), explode(sequence(lit(0L), col("__copies") - 1)).as("copy"))
    val replicas = expanded.withColumn("__rid",
      concat_ws("#", col("__sid"), col("copy").cast("string")))
    globalShuffle(replicas, seed, idCol = "__rid")
      .select(col("position"), col("modality"), col("seq_no"), col("copy"),
        col("n_tokens"))
  }

  // ------------------------------------------------------------------
  // Corpus vocabulary
  // ------------------------------------------------------------------

  /** The `topK` most frequent normalized tokens across the corpus, with
    * deterministic ties (count desc, then term asc) — the
    * vocabulary-building primitive behind tokenizer training and
    * frequency-based filtering.
    *
    * Partial-aggregated token counts (the explode never crosses the
    * wire raw — map-side combine collapses to |vocab| rows per task)
    * followed by `orderBy(...).limit(k)`, which Spark plans as
    * TakeOrderedAndProject: each task keeps only its local top-k and
    * the driver merges k-sized heaps — no global sort at any scale. */
  def vocabTopK(docs: DataFrame, topK: Int = 50, textCol: String = "text"): DataFrame =
    docs.select(explode(split(TextDedup.normalize(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("term_count"))
      .orderBy(col("term_count").desc, col("term"))
      .limit(topK)

  /** The `topK` most frequent word n-grams across the corpus — the
    * n-gram-LM / tokenizer-merge-candidate primitive (bigram counts at
    * n=2). Grams are built ROW-LOCALLY from the normalized token array
    * (`transform` over index positions — no shuffle, no join against a
    * positions table), so the only Exchange is the partial-aggregated
    * gram-count shuffle, and the top-k is TakeOrderedAndProject (per-
    * task k-heaps merged on the driver — no global sort). At 100 TB
    * the map-side combine is what bounds the wire: each task emits at
    * most its local distinct-gram count, not its token count. */
  def ngramTopK(docs: DataFrame, n: Int = 2, topK: Int = 50,
                textCol: String = "text"): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = split(TextDedup.normalize(col(textCol)), " ")
    // native kernel: one tight loop per row (the interpreted
    // transform/sequence lambda rendition — kept below for the parity
    // spec — benched ~15× slower than the same-shape vocab scan)
    docs.select(explode(call_function("word_ngrams", toks, lit(n))).as("gram"))
      .filter(col("gram") =!= "")
      .groupBy("gram").agg(count(lit(1)).as("gram_count"))
      .orderBy(col("gram_count").desc, col("gram"))
      .limit(topK)
  }

  /** The composable higher-order rendition of the gram builder —
    * exists ONLY as the parity gate for the native `word_ngrams`
    * kernel (the repo's rule: every native Expression is spec-tested
    * bit-for-bit against an independent composable formulation). */
  def ngramsComposable(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(toks, i + o)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Per-document mean corpus frequency of its tokens — the unigram-LM
    * quality signal (a doc of globally-rare tokens scores low; boiler-
    * plate scores high), the cheap stand-in for KenLM-style perplexity
    * filtering in crawl curation.
    *
    * Cross-engine exact by construction: corpus frequencies and the
    * per-doc sum are BIGINT (order-free), and the mean is ONE double
    * division of exact integers (a single correctly-rounded IEEE op).
    *
    * Scale: the token stream shuffles slim (doc_id, term) pairs once to
    * count, and the frequency join is a broadcast — a Zipf vocabulary
    * is ~10⁶–10⁷ terms at any corpus size, far under executor memory,
    * while the token stream is petabytes; broadcasting the small side
    * keeps the skewed head terms ('the', 'of') from funneling one
    * reducer the way a shuffle join on `term` would. */
  def lmScore(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(TextDedup.normalize(col(textCol)), " ")).as("term"))
      .filter(col("term") =!= "")
    val cf = toks.groupBy("term").agg(count(lit(1)).as("__cf"))
    toks.join(broadcast(cf), Seq("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("__cf").as("cf_sum"))
      .withColumn("mean_cf", round(col("cf_sum").cast("double") / col("n_tokens"), 6))
  }

  /** CCNet-style per-language quality bucketing (Wenzek et al.,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data", LREC'20): documents split into head / middle /
    * tail thirds of their LANGUAGE's LM-score distribution —
    * [[lmScore]]'s mean corpus frequency standing in for the paper's
    * KenLM perplexity (higher mean_cf ≈ commoner words ≈ lower
    * perplexity ≈ head).
    *
    * Assignment is by PERCENTILE CUTOFF, not ntile: the per-language
    * ⅓ / ⅔ exact interpolated percentiles reduce to a 2-value-per-
    * language broadcast list and each doc buckets by comparison —
    * CCNet's own deployment shape, and the scale-correct one (an
    * ntile window would sort every language's corpus slice in a
    * single task). Boundary ties all land in the upper bucket;
    * bucket populations are thirds up to tie mass. Docs with no
    * tokens score 0 (deepest tail). */
  def ccnetBuckets(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val scored = docs
      .select(col("doc_id"), TextStats.langId(col(textCol)).as("predicted_lang"))
      .join(lmScore(docs, textCol).select(col("doc_id"), col("mean_cf")),
        Seq("doc_id"), "left")
      .withColumn("mean_cf", coalesce(col("mean_cf"), lit(0.0)))
    val cuts = scored.groupBy("predicted_lang").agg(
      expr("percentile(mean_cf, 2.0D / 3.0D)").as("__c_head"),
      expr("percentile(mean_cf, 1.0D / 3.0D)").as("__c_mid"))
    scored.join(broadcast(cuts), Seq("predicted_lang"))
      .select(col("doc_id"), col("predicted_lang"), col("mean_cf"),
        when(col("mean_cf") >= col("__c_head"), lit("head"))
          .when(col("mean_cf") >= col("__c_mid"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  // ------------------------------------------------------------------
  // TF-IDF keyword extraction
  // ------------------------------------------------------------------

  /** Top-`topK` terms per document by tf · (N / df) — the rational-idf
    * rendition of TF-IDF (N/df is a strictly monotone transform of
    * log(N/df), so rankings are identical, and tf·N stays exact integer
    * arithmetic under 2^53 with ONE correctly-rounded IEEE division —
    * bit-identical across engines, where log's last-ulp behavior is
    * libm-specific). Ties break on the term string.
    *
    * `n` is the corpus document count, carried as a LAZY 1-row
    * aggregate cross-joined onto the scored pairs (the oracle's
    * `(SELECT n FROM n)` scalar) — a driver-side docs.count() here
    * would run a corpus scan merely to CONSTRUCT the query, before any
    * caller decides to execute it. Shuffles: slim (doc_id, term)
    * explode → per-doc term counts → term-keyed df aggregate over the
    * ALREADY-distinct (doc, term) rows (no countDistinct pass) → join
    * back on term → one per-doc window. */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 3, textCol: String = "text"): DataFrame = {
    val n = docs.agg(count(lit(1)).cast("double").as("__n"))
    val toks = docs.select(col("doc_id"),
      explode(split(TextDedup.normalize(col(textCol)), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, Seq("term")).crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tf") * col("__n") / col("df")).as("score"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank"), col("term"), round(col("score"), 6).as("tfidf"))
  }
}
