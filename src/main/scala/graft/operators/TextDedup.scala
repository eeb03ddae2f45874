package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for LLM training-data pipelines, at three
  * fidelity levels — exact, MinHash-LSH near-dup, SimHash near-dup.
  *
  * Scale discipline (the non-negotiable at 100 TB): NOTHING here is
  * all-pairs. Every candidate-generation step is a bucketed equi-join —
  * exact dedup buckets on a content hash, MinHash on LSH band hashes,
  * SimHash on 16-bit chunks (pigeonhole: hamming ≤ 3 of 64 bits ⇒ at
  * least one of 4 chunks identical). Expensive verification (true
  * Jaccard / exact hamming) runs only on bucket-collision candidates.
  *
  * Signatures are built entirely from codegen'd higher-order array
  * functions in a single projection — per-row work at scan speed, no
  * shuffle until the (tiny) candidate join.
  */
object TextDedup {

  /** Canonical text form: lowercase, whitespace collapsed. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  def contentHash(text: Column): Column = md5(normalize(text))

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Clusters of exact (normalized) duplicates: one row per content
    * hash held by >1 doc. One hash-aggregate — a single shuffle on the
    * 128-bit content hash, uniformly distributed, no skew. */
  def exactDupClusters(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(contentHash(col(textCol)).as("content_hash"), col("doc_id"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("dup_count"), min("doc_id").as("canonical_doc_id"))
      .filter(col("dup_count") > 1)

  /** Exact dedup keeping the lowest doc_id per content hash. A window
    * over the hash — same single shuffle as the cluster agg. */
  def dedupExact(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(contentHash(col(textCol))).orderBy(col("doc_id"))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  // ------------------------------------------------------------------
  // Token-block (sub-document) exact dedup
  // ------------------------------------------------------------------

  /** C4-style sub-document dedup, the scalable stand-in for
    * suffix-array substring dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): the corpus is cut into
    * fixed-size token blocks, each repeated block is kept only at its
    * FIRST occurrence (lexicographic (doc_id, block_no) minimum), and
    * every document is reassembled from its surviving blocks.
    *
    * Returns (doc_id, kept_blocks, clean_hash) — the md5 of the
    * reassembled text, so downstream can verify or re-materialize.
    * Empty/null docs keep zero blocks and hash the empty string.
    *
    * Plan shape: one row-local explode to (block_text, doc_id,
    * block_no), ONE shuffle grouping on the block text for the
    * first-occurrence minimum (min(struct) — map-side combinable,
    * never a global window), a slim self-equi-join to keep winners,
    * and a per-doc reassembly agg. Block text is ≤ blockTokens words,
    * uniformly distributed — no skew key. At 100 TB the grouping can
    * shuffle xxhash64(block) with a verify pass instead of the text;
    * the gate groups on the text itself so the DuckDB oracle is
    * bit-identical. */
  def dedupBlocks(docs: DataFrame, textCol: String = "text",
                  blockTokens: Int = 20): DataFrame = {
    val blocks = tokenBlocks(docs, textCol, blockTokens)
    val firstSeen = blocks
      .groupBy("block_text")
      .agg(min(struct(col("doc_id"), col("block_no"))).as("w"))
      .select(col("block_text"), col("w.doc_id").as("doc_id"), col("w.block_no").as("block_no"))
    val kept = blocks.join(firstSeen, Seq("block_text", "doc_id", "block_no"), "left_semi")
    val reassembled = kept
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_blocks"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("block_no"), col("block_text")))),
          s => s("block_text"))).as("text_clean"))
    docs.select("doc_id").join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_blocks"), lit(0L)).as("kept_blocks"),
        md5(coalesce(col("text_clean"), lit(""))).as("clean_hash"))
  }

  /** (doc_id, seg_no, seg_text): the document cut into fixed-size
    * aligned token windows. Whitespace is canonicalized BEFORE the
    * split — Java split drops trailing empty tokens while other
    * engines keep them, so a raw \s+ split is not cross-engine
    * stable; the single-space form is. Row-local (explode only). */
  private[operators] def tokenBlocks(docs: DataFrame, textCol: String,
                                     blockTokens: Int): DataFrame = {
    val norm = trim(regexp_replace(col(textCol), "\\s+", " "))
    val toks = when(col(textCol).isNull || length(norm) === 0,
        array().cast("array<string>"))
      .otherwise(split(norm, " "))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) > 0) // empty docs emit no blocks
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), (ceil(size(col("toks")) / lit(blockTokens.toDouble)) - 1).cast("int")),
          i => concat_ws(" ", slice(col("toks"), i * blockTokens + 1, lit(blockTokens))))))
      .select(col("doc_id"), col("pos").as("block_no"), col("col").as("block_text"))
  }

  // ------------------------------------------------------------------
  // Duplicate-span removal (overlapping windows, first occurrence wins)
  // ------------------------------------------------------------------

  /** One row per OVERLAPPING `k`-token window (stride 1):
    * (doc_id, pos, h) with pos 1-based and h = xxhash64 of the
    * space-joined window. The stride-1 sliding grid is what lets span
    * boundaries land on any token — [[tokenBlocks]]' aligned grid can
    * only dedup block-quantized repeats. */
  private def slidingWindows(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs
      .select(col("doc_id"), TextStats.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - (k - 1)),
        i => struct(i.as("pos"),
          xxhash64(concat_ws(" ", slice(col("toks"), i, lit(k)))).as("h")))).as("w"))
      .select(col("doc_id"), col("w.pos").as("pos"), col("w.h").as("h"))

  /** Maximal repeated token spans, in the sense of Lee et al.
    * ("Deduplicating Training Data Makes Language Models Better",
    * ACL'22 — reference behavior, not code): every `k`-token window
    * that also occurs at an earlier corpus position (earlier doc_id,
    * or earlier offset in the same doc) is a duplicate window; runs of
    * overlapping/adjacent duplicate windows merge into one span.
    * First occurrence wins — the canonical copy of a repeated passage
    * is never flagged.
    *
    * Output: (doc_id, span_start, span_end, span_len) in 1-based
    * token indices, span_end inclusive.
    *
    * Plan: one explode to slim (doc_id, pos, hash) rows; duplicate
    * marking is a row_number over the hash (uniform 64-bit keys — no
    * skew); span merging is a per-document gap-and-island over
    * positions (bounded by document length, parallel across docs).
    * Stride-1 windows cost O(tokens) rows per doc — at 100 TB winnow
    * first (sample each doc's minimizer windows with
    * [[TextStats.rollingFingerprint]]'s kernel family) and verify the
    * surviving candidates; the merge stage is unchanged. */
  def duplicateSpans(docs: DataFrame, textCol: String = "text",
                     k: Int = 20): DataFrame =
    mergeSpans(firstOccurrenceDups(slidingWindows(docs, textCol, k)), k)

  /** Duplicate marking shared by the exact and winnowed span paths:
    * every (doc_id, pos) whose window hash occurred at an earlier
    * corpus position (row_number over the hash — uniform keys, no
    * skew). */
  private def firstOccurrenceDups(wins: DataFrame): DataFrame =
    wins
      .withColumn("__rn", row_number().over(
        Window.partitionBy("h").orderBy("doc_id", "pos")))
      .filter(col("__rn") > 1)
      .select("doc_id", "pos")

  /** Gap-and-island merge of duplicate window positions into maximal
    * spans: window [pos, pos+k-1] extends the current span iff
    * pos <= prev_pos + k (overlap or adjacency). Per-document window —
    * parallel across docs, bounded by doc length within. */
  private def mergeSpans(dup: DataFrame, k: Int): DataFrame = {
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("__new",
        when(col("pos") > coalesce(lag(col("pos"), 1).over(byDoc),
          lit(Int.MinValue / 2)) + k, 1).otherwise(0))
      .withColumn("__grp", sum(col("__new")).over(byDoc))
      .groupBy("doc_id", "__grp")
      .agg(min("pos").as("span_start"), (max(col("pos")) + (k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** Winnowed document fingerprints (Schleimer/Wilkerson/Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03 — reference behavior): in every window of `w`
    * CONSECUTIVE gram positions select the minimum gram hash,
    * rightmost on ties; the distinct selections are the document's
    * fingerprints. Guarantee: any shared token run of at least
    * w + k − 1 tokens yields at least one shared fingerprint; expected
    * density is 2/(w+1) of the full stride-1 grid — THIS is the
    * documented 100 TB rendition of [[duplicateSpans]]' window stage
    * (sample, don't enumerate).
    *
    * Entirely row-local. `md5Twin` selects the cross-engine md5 hash
    * family the DuckDB oracle replays (interpreted min-per-window
    * selection); production selects xxhash64 grams with the native
    * `winnow_positions` kernel — one O(P) monotonic-deque pass,
    * parity-gated against [[winnowedFingerprintsHof]]. Documents
    * shorter than w grams winnow their whole (single-window) gram
    * list. */
  def winnowedFingerprints(docs: DataFrame, textCol: String = "text",
                           k: Int = 20, w: Int = 8,
                           md5Twin: Boolean = false): DataFrame =
    if (md5Twin) winnowedSelect(docs, textCol, k, w, g => md5(g))
    else {
      // PRODUCTION family: xxhash64 grams selected by the native
      // winnow_positions kernel — one O(P) monotonic-deque pass per
      // doc instead of O(P·w) interpreted window lambdas (the
      // [[winnowedFingerprintsHof]] parity rendition)
      val grams = gramHashArray(docs, textCol, k)
      grams.select(col("doc_id"), col("hs"),
          explode(call_function("winnow_positions", col("hs"), lit(w))).as("pos"))
        .select(col("doc_id"), col("pos"),
          element_at(col("hs"), col("pos")).as("h"))
    }

  /** Composable long-family rendition of the production path —
    * bit-for-bit parity gate for the winnow_positions kernel. */
  private[operators] def winnowedFingerprintsHof(
      docs: DataFrame, textCol: String = "text",
      k: Int = 20, w: Int = 8): DataFrame =
    winnowedSelect(docs, textCol, k, w, g => xxhash64(g))

  /** (doc_id, hs): the gram-hash ARRAY (1-based positions) per doc of
    * at least k tokens. */
  private def gramHashArray(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    val toks = TextStats.tokens(col(textCol))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), transform(
        sequence(lit(1), size(col("toks")) - (k - 1)),
        i => xxhash64(concat_ws(" ", slice(col("toks"), i, lit(k))))).as("hs"))
  }

  /** The interpreted min-per-window selection shared by the md5 twin
    * and the kernel-parity rendition: any totally ordered hash family
    * (string md5 / signed long xxhash64) drops in via `hashOf`. */
  private def winnowedSelect(docs: DataFrame, textCol: String,
                             k: Int, w: Int,
                             hashOf: Column => Column): DataFrame = {
    val toks = TextStats.tokens(col(textCol))
    docs
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), transform(
        sequence(lit(1), size(col("toks")) - (k - 1)),
        i => struct(i.as("pos"),
          hashOf(concat_ws(" ", slice(col("toks"), i, lit(k)))).as("h"))).as("hp"))
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), greatest(size(col("hp")) - (w - 1), lit(1))),
        p => {
          val win = slice(col("hp"), p, lit(w))
          val minh = array_min(transform(win, x => x.getField("h")))
          // rightmost tie: window order is positional, so the last
          // qualifying element is the highest position
          element_at(reverse(filter(win, x => x.getField("h") === minh)), 1)
        }))).as("fp"))
      .select(col("doc_id"), col("fp.pos").as("pos"), col("fp.h").as("h"))
  }

  /** The persistable winnowed-fingerprint INDEX of a curated tier —
    * slim (doc_id, pos, h) rows from the production xxhash64 family.
    * Store this once; every incoming batch probes it via
    * [[duplicateSpansAgainst]] without the tier ever being
    * re-tokenized or re-fingerprinted. */
  def spanIndex(docs: DataFrame, textCol: String = "text",
                k: Int = 20, w: Int = 8,
                md5Twin: Boolean = false): DataFrame =
    winnowedFingerprints(docs, textCol, k, w, md5Twin)

  /** Incremental duplicate-span detection: spans in `batch` documents
    * that repeat material from the stored `tierIndex` (a [[spanIndex]])
    * or from earlier in the batch itself. EXACTLY equal to running
    * [[winnowedSpans]] over tier ∪ batch and keeping the batch rows
    * whenever tier ids precede batch ids — fingerprint selection is
    * per-document, so the union changes nothing, and unlike the
    * MinHash incremental path no bucket-cap interaction can diverge.
    *
    * Plan: the batch fingerprints once (row-local kernel); a batch
    * fingerprint is duplicate iff its hash appears in the tier index
    * (left-semi — tier always wins) OR at an earlier batch position
    * (row_number within the batch's tier-missed remainder); the merge
    * stage is unchanged. Nothing shuffles the tier; the probe is one
    * hash equi-join against the stored slim index. */
  def duplicateSpansAgainst(tierIndex: DataFrame, batch: DataFrame,
                            textCol: String = "text",
                            k: Int = 20, w: Int = 8,
                            md5Twin: Boolean = false): DataFrame = {
    val bfp = winnowedFingerprints(batch, textCol, k, w, md5Twin).localCheckpoint(true)
    val hitTier = bfp.join(tierIndex.select(col("h")), Seq("h"), "left_semi")
      .select("doc_id", "pos")
    val withinBatch = firstOccurrenceDups(
      bfp.join(tierIndex.select(col("h")), Seq("h"), "left_anti"))
    // the two legs partition the batch fingerprints (semi vs anti on
    // the same tier probe) — no overlap, no distinct needed
    mergeSpans(hitTier.unionByName(withinBatch), k)
  }

  /** Approximate duplicate spans from winnowed fingerprints: the
    * [[duplicateSpans]] contract at fingerprint density — duplicate
    * marking and island merge are byte-identical to the exact path,
    * only the window stage samples. Spans are detection regions
    * (fingerprint collisions extended by k), not guaranteed-maximal:
    * runs shorter than w + k − 1 tokens may escape, boundaries are
    * quantized to selected positions. That is winnowing's documented
    * trade, in exchange for ~2/(w+1) of the grid's volume. */
  def winnowedSpans(docs: DataFrame, textCol: String = "text",
                    k: Int = 20, w: Int = 8,
                    md5Twin: Boolean = false): DataFrame =
    mergeSpans(firstOccurrenceDups(
      winnowedFingerprints(docs, textCol, k, w, md5Twin)), k)

  /** The train-on-clean-text consumer of [[duplicateSpans]]: remove
    * every duplicate-span token and rejoin the survivors — repeated
    * passages survive only at their first corpus occurrence (CCNet's
    * [[stripCommonSegments]] removes ALL occurrences; this keeps one).
    * Returns (doc_id, clean_text) for every input doc.
    *
    * The strip is row-local once the per-doc span list (few rows) is
    * joined back: tokens zip with their 1-based index and drop when
    * any span covers them — one nested higher-order expression, no
    * per-token shuffle. */
  def stripDuplicateSpans(docs: DataFrame, textCol: String = "text",
                          k: Int = 20): DataFrame =
    stripSpansWith(docs, duplicateSpans(docs, textCol, k), textCol)

  /** Strip a PRECOMPUTED (doc_id, span_start, span_end) span set out of
    * `docs` — the shared consumer behind [[stripDuplicateSpans]] (grid
    * spans) and the incremental pipeline ([[duplicateSpansAgainst]]
    * spans vs a stored tier index). Row-local once the per-doc span
    * list (few rows) broadcasts back; returns (doc_id, clean_text) for
    * every input doc. */
  def stripSpansWith(docs: DataFrame, spans: DataFrame,
                     textCol: String = "text"): DataFrame = {
    val spanLists = spans
      .groupBy("doc_id")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    val emptySpans = array().cast("array<struct<span_start:int,span_end:int>>")
    docs.join(spanLists, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", transform(
          filter(
            transform(TextStats.tokens(col(textCol)),
              (t, i) => struct(t.as("t"), (i + 1).as("i"))),
            p => !exists(coalesce(col("__spans"), emptySpans),
              s => p.getField("i").between(
                s.getField("span_start"), s.getField("span_end")))),
          p => p.getField("t"))).as("clean_text"))
  }

  // ------------------------------------------------------------------
  // Boilerplate (common-segment) removal
  // ------------------------------------------------------------------

  /** CCNet-style boilerplate removal (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): a segment that appears in >= `minDocs` DISTINCT documents
    * is boilerplate and is removed from EVERY document — including the
    * first occurrence, which is what distinguishes this from
    * [[dedupBlocks]]' keep-first contract. Segments here are the same
    * aligned fixed-size token windows as [[dedupBlocks]]; see
    * [[stripCommonLines]] for the newline-delimited rendition used on
    * real crawl text.
    *
    * Returns (doc_id, kept_segments, removed_segments, clean_hash) —
    * one row per input doc; empty/null docs keep zero segments and
    * hash the empty string.
    *
    * Plan shape: row-local explode; the document-frequency count is a
    * two-level exact distinct (distinct (seg, doc) pairs, then a
    * map-side-combinable count per segment — never count(DISTINCT)
    * with its expand), a left join to mark common segments, and one
    * per-doc reassembly agg. Segment text is the join key so the
    * DuckDB oracle is bit-identical; at 100 TB shuffle
    * xxhash64(segment) instead and carry the text only through the
    * reassembly side. The common-segment set is corpus-frequency
    * bounded (high-frequency strings are few) — AQE turns the mark
    * join into a broadcast when it fits. */
  def stripCommonSegments(docs: DataFrame, textCol: String = "text",
                          segTokens: Int = 10, minDocs: Int = 2): DataFrame =
    stripCommon(docs,
      tokenBlocks(docs, textCol, segTokens)
        .withColumnsRenamed(Map("block_no" -> "seg_no", "block_text" -> "seg_text")),
      minDocs, sep = " ")

  /** [[stripCommonSegments]] over newline-delimited lines — the
    * literal CCNet unit on real crawl text. Lines are trimmed; blank
    * lines are dropped before frequency counting (they'd otherwise be
    * the one degenerate super-frequent key). Reassembly re-joins the
    * surviving lines with "\n" in original order. */
  def stripCommonLines(docs: DataFrame, textCol: String = "text",
                       minDocs: Int = 2): DataFrame = {
    val lines = docs
      .select(col("doc_id"), posexplode(
        filter(transform(split(coalesce(col(textCol), lit("")), "\n"),
          l => trim(l)), l => length(l) > 0)))
      .select(col("doc_id"), col("pos").as("seg_no"), col("col").as("seg_text"))
    stripCommon(docs, lines, minDocs, sep = "\n")
  }

  /** Shared strip-common core over (doc_id, seg_no, seg_text). */
  private def stripCommon(docs: DataFrame, segs: DataFrame, minDocs: Int,
                          sep: String): DataFrame = {
    // Document frequency per segment, as a two-level exact distinct:
    // both phases partial-aggregate map-side; no expand, no skew (the
    // (seg, doc) pair space is near-unique by construction).
    val common = segs.select("seg_text", "doc_id").distinct()
      .groupBy("seg_text").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select(col("seg_text"), lit(true).as("__common"))
    val marked = segs.join(common, Seq("seg_text"), "left")
    // collect_list skips nulls, so the when() keeps only non-common
    // segments in the reassembly while both counters see every row.
    val reassembled = marked.groupBy("doc_id").agg(
      count(when(col("__common").isNull, 1)).as("kept_segments"),
      count(when(col("__common").isNotNull, 1)).as("removed_segments"),
      concat_ws(sep, transform(
        array_sort(collect_list(when(col("__common").isNull,
          struct(col("seg_no"), col("seg_text"))))),
        s => s("seg_text"))).as("text_clean"))
    docs.select("doc_id").join(reassembled, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("kept_segments"), lit(0L)).as("kept_segments"),
        coalesce(col("removed_segments"), lit(0L)).as("removed_segments"),
        md5(coalesce(col("text_clean"), lit(""))).as("clean_hash"),
        // the reassembled text itself, for consumers that keep
        // processing (CurationPipeline's strip stage) — gate queries
        // project it away and compare the hash
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** WITHIN-document repeated-line removal — the C4/Dolma-style
    * companion to the corpus-wide [[stripCommonLines]]: each trimmed
    * non-empty line keeps its FIRST occurrence and later repeats are
    * dropped (nav menus, footer stacks, chat-log echoes). Same segment
    * universe and output contract as [[stripCommonLines]] (blank lines
    * vanish, reassembly joins with "\n", counters + md5 hash + clean
    * text), but the whole operator is a single per-row projection:
    * first-occurrence testing is array_position within the line array,
    * so it runs at scan speed with NO shuffle — the within-doc analog
    * needs no document-frequency join at all. */
  def stripRepeatedLines(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val linesA = filter(transform(split(coalesce(col(textCol), lit("")), "\n"),
      l => trim(l)), l => length(l) > 0)
    docs
      .select(col("doc_id"), linesA.as("__ls"))
      .select(col("doc_id"), col("__ls"),
        filter(col("__ls"), (l, i) => array_position(col("__ls"), l) === i + 1).as("__keep"))
      .select(col("doc_id"),
        size(col("__keep")).cast("long").as("kept_segments"),
        (size(col("__ls")) - size(col("__keep"))).cast("long").as("removed_segments"),
        md5(concat_ws("\n", col("__keep"))).as("clean_hash"),
        concat_ws("\n", col("__keep")).as("text_clean"))
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** Word n-gram shingles of the normalized text (distinct). */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(normalize(text), " ")
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(
          sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
  }

  /** MinHash signature: for each of `numHashes` hash families, the
    * minimum xxhash64(salt, shingle) over the shingle set. One nested
    * higher-order expression — no explode, no shuffle. */
  def minhashSignature(sh: Column, numHashes: Int = 64): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      h => array_min(transform(sh, s => xxhash64(h, s))))

  /** Native fast path: distinct hashed word n-grams straight from the
    * token array (graft.functions.ShingleHashes codegen expression) —
    * no shingle STRINGS are built at all. Profiling showed string
    * construction, not hashing, dominated the composable shape. */
  def hashedShingles(text: Column, n: Int): Column =
    call_function("shingle_hashes", split(normalize(text), " "), lit(n))

  /** LSH band keys from pre-hashed shingles: band `b` hashes the minima
    * of its own `rowsPerBand` hash families. Native kernel — one tight
    * bands × families × shingles loop per row
    * (graft.functions.MinHashBandKeys); the interpreted rendition below
    * is the bit-for-bit parity gate. */
  def bandKeys(hashedShingles: Column, bands: Int, rowsPerBand: Int): Column =
    call_function("minhash_band_keys", hashedShingles, lit(bands), lit(rowsPerBand))

  /** Composable rendition of [[bandKeys]] — parity gate ONLY. Each
    * family is evaluated exactly once — deriving bands by slicing a
    * shared signature column instead would re-evaluate the whole
    * signature per band lambda (this exact shape cost round 2's first
    * bench 484 s on 5 k docs). */
  def bandKeysComposable(hashedShingles: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        xxhash64(concat_ws(",",
          transform(sequence(b * rowsPerBand, (b + 1) * rowsPerBand - 1),
            h => array_min(transform(hashedShingles, x => xxhash64(h, x)))))).as("bucket")))

  /** All unordered id pairs (a < b) within one bucket's member list. */
  private[operators] def bucketPairs(ids: Column): Column = {
    val sorted = array_sort(ids)
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, size(sorted)), y => struct(x.as("a_id"), y.as("b_id")))))
  }

  /** Slim (doc_id, band, bucket) rows — the ONE pass that evaluates the
    * `numHashes` hash families; everything downstream shuffles no text. */
  private def mhBanded(docs: DataFrame, textCol: String, shingleN: Int,
                       numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    docs
      .select(col("doc_id"), hashedShingles(col(textCol), shingleN).as("hsh"))
      .select(col("doc_id"), explode(bandKeys(col("hsh"), bands, rowsPerBand)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
  }

  /** Buckets whose membership exceeds the cap — per-bucket member
    * counts as a plain map-side-combined aggregate. */
  private[operators] def oversized(keyed: DataFrame, keys: Seq[String], maxBucketSize: Int): DataFrame =
    keyed.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("member_count"))
      .filter(col("member_count") > maxBucketSize)

  /** The shared capped candidate expansion all three near-dup paths
    * use: pre-count bucket membership, keep buckets of [2,
    * maxBucketSize] members (singletons — the vast majority — never
    * reach the collect; hot degenerate buckets are excluded BEFORE the
    * aggregation buffer exists, observable via the skippedBuckets*
    * metrics), collect the member column per bucket, expand with
    * `pairsOf`, return the exploded pair structs as column `p`. */
  private[operators] def cappedBucketPairs(
      keyed: DataFrame, keys: Seq[String], member: String,
      maxBucketSize: Int, pairsOf: Column => Column): DataFrame = {
    def keyCols = keys.map(col)
    val useful = keyed.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("member_count"))
      .filter(col("member_count").between(2, maxBucketSize))
    keyed.join(useful.select(keyCols: _*), keys)
      .groupBy(keyCols: _*).agg(collect_list(member).as("ms"))
      .select(explode(pairsOf(col("ms"))).as("p"))
  }

  /** The dropped-bucket METRIC for [[nearDupPairsMinhash]]: one row per
    * skipped (band, bucket) with its member count. Run/log it alongside
    * the pairs query — the cap must never truncate silently. */
  def skippedBucketsMinhash(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    oversized(mhBanded(docs, textCol, shingleN, numHashes, bands),
      Seq("band", "bucket"), maxBucketSize)

  /** Default candidate-bucket cap: bounds the per-bucket aggregation
    * buffer at ~80 KB of ids and the in-bucket pair expansion at
    * ~5·10⁷ — an executor-safe ceiling with headroom over any bucket a
    * working LSH scheme should produce. A bucket past the cap means a
    * degenerate key family (empty text, boilerplate); emitting its
    * O(m²) "pairs" would be dedup noise anyway. */
  val DefaultMaxBucketSize: Int = 10000

  /** Candidate pairs from LSH banding, verified with TRUE Jaccard over
    * the shingle sets; pairs are distinct with left id < right id.
    *
    * Plan shape, tuned so every expensive expression evaluates once:
    *  1. project (doc_id, band keys) — the only pass that computes the
    *     `numHashes` hash families; the exploded rows are slim
    *     (doc_id, band, bucket), so the shuffle carries no text;
    *  2. per-bucket member COUNTS (map-side combined), keeping only
    *     buckets in [2, maxBucketSize] — singletons (the vast majority)
    *     never reach the collect, and degenerate hot buckets (empty
    *     text, boilerplate families) are excluded BEFORE the buffer
    *     exists, so per-bucket memory is bounded by construction;
    *     skipped buckets are observable via [[skippedBucketsMinhash]];
    *  3. groupBy (band, bucket) → collect ids → in-bucket pair
    *     expansion (no self-join: the banding subtree would be fully
    *     re-evaluated per join branch) → distinct;
    *  4. candidate pairs (tiny) broadcast-join back to a shingle
    *     projection of the corpus, twice, for the exact-Jaccard verify.
    */
  def nearDupPairsMinhash(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    verifiedPairs(docs, textCol, shingleN, jaccardThreshold,
      mhBanded(docs, textCol, shingleN, numHashes, bands),
      Seq("band", "bucket"), maxBucketSize)

  /** [[nearDupPairsMinhash]] AND its skipped-bucket metric from ONE
    * banding pass: the slim (doc_id, band, bucket) frame is
    * checkpointed and feeds both the capped pair expansion and the
    * oversize metric — the shingle+minhash projection (the dominant
    * cost of the whole operator) runs once, where calling the pairs and
    * metric queries separately re-hashes the corpus twice. The pipeline
    * rendition (CurationPipeline) uses this. */
  def nearDupPairsAndSkipsMinhash(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): (DataFrame, DataFrame) = {
    val banded = mhBanded(docs, textCol, shingleN, numHashes, bands).localCheckpoint(true)
    (verifiedPairs(docs, textCol, shingleN, jaccardThreshold, banded,
        Seq("band", "bucket"), maxBucketSize),
      oversized(banded, Seq("band", "bucket"), maxBucketSize))
  }

  /** Capped in-bucket candidate expansion + exact-Jaccard verify over
    * the HASHED shingle sets: identical counts to string sets up to
    * 64-bit collisions (~|sh|²/2⁶⁵ per doc — nil). `keyed` carries one
    * (keys…, doc_id) row per bucket membership — LSH band buckets for
    * the MinHash path, prefix elements for the exact-Jaccard path. */
  private def verifiedPairs(docs: DataFrame, textCol: String, shingleN: Int,
                            jaccardThreshold: Double, keyed: DataFrame,
                            keys: Seq[String], maxBucketSize: Int): DataFrame = {
    val candidates =
      cappedBucketPairs(keyed, keys, "doc_id", maxBucketSize, bucketPairs)
        .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
        .distinct()
    val sh = docs.select(col("doc_id"), hashedShingles(col(textCol), shingleN).as("sh"))
    candidates
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        call_function("jaccard_long_sets", col("a_sh"), col("b_sh")).as("jaccard"))
      .filter(col("jaccard") >= jaccardThreshold)
  }

  /** Composable rendition of the Jaccard verify — parity gate ONLY for
    * the native `jaccard_long_sets` kernel (which avoids materializing
    * the intersect/union arrays it would only ever take sizes of). */
  def jaccardComposable(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Fuzzy dedup end-to-end: MinHash-LSH pairs → connected components →
    * drop every cluster member except the minimum doc_id. Docs in no
    * near-dup pair pass through untouched (left-anti against the
    * non-canonical member set — the corpus is never shuffled on
    * anything but the tiny membership list). */
  def dedupNearMinhash(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    dropNonCanonical(docs, nearDupPairsMinhash(docs, textCol, shingleN, numHashes,
      bands, jaccardThreshold, maxBucketSize))

  /** Near-dup pairs → connected components → drop every cluster member
    * except the minimum doc_id. Docs in no pair pass through untouched
    * (left-anti against the non-canonical member set — the corpus never
    * shuffles on anything but the tiny membership list). */
  private def dropNonCanonical(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = Components.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Fuzzy dedup with a KEEP POLICY: [[dedupNearMinhash]]'s exact
    * pipeline, but each near-dup cluster keeps the member MAXIMIZING
    * `score` (ties → minimum doc_id) instead of the minimum id — the
    * production contract: when a family collapses, survive the
    * longest/cleanest/highest-classifier-score rendition, not the
    * accidental first crawl. The policy costs one max_by aggregate
    * over the (tiny) cluster-membership list joined to the score
    * column; the corpus still only anti-joins the loser ids. */
  def dedupNearByPriority(
      docs: DataFrame,
      score: Column,
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val pairs = nearDupPairsMinhash(docs, textCol, shingleN, numHashes,
      bands, jaccardThreshold, maxBucketSize)
    // cluster-member-sized; checkpointed because BOTH the winner agg
    // and the loser anti-join read it (and its score join would
    // otherwise re-scan the corpus projection twice)
    val members = Components.connectedComponents(pairs)
      .join(docs.select(col("doc_id").as("id"), score.as("__score")), Seq("id"))
      .localCheckpoint(true)
    val winners = members.groupBy("component")
      .agg(max_by(col("id"), struct(col("__score"), (-col("id")).as("__neg"))).as("id"))
    val losers = members.select("id")
      .join(winners.select("id"), Seq("id"), "left_anti")
      .withColumnRenamed("id", "doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Incremental EXACT dedup: keep the members of `batch` whose
    * normalized content hash appears neither in the curated `tier` nor
    * earlier (minimum doc_id) within the batch — the cheap first stage
    * an ingest pipeline runs before [[nearDupAgainst]]. The tier side
    * is a stored/derivable hash column, never text; both legs are
    * hash-keyed (anti-join + one in-batch window over the hash), no
    * skew (uniform 128-bit keys), tier never re-deduped. */
  def dedupExactAgainst(tier: DataFrame, batch: DataFrame,
                        textCol: String = "text"): DataFrame = {
    val tierHashes = tier.select(contentHash(col(textCol)).as("__h")).distinct()
    val w = Window.partitionBy(col("__h")).orderBy(col("doc_id"))
    batch.withColumn("__h", contentHash(col(textCol)))
      .join(tierHashes, Seq("__h"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__h", "__rn")
  }

  // ------------------------------------------------------------------
  // Incremental near-dup: batch vs an existing curated tier
  // ------------------------------------------------------------------

  /** The persistable (doc_id, band, bucket) LSH index of a corpus —
    * what a curation pipeline stores for its curated tier
    * ([[graft.pipeline.CurationPipeline.BandIndexTable]]) so that each
    * incoming crawl slice bands ONCE and equi-joins the stored index,
    * instead of re-banding the whole tier per batch. At 100 TB the
    * index is ~rows × bands slim longs — a small fraction of the text
    * it summarizes. */
  def bandIndex(docs: DataFrame, textCol: String = "text", shingleN: Int = 3,
                numHashes: Int = 32, bands: Int = 16): DataFrame =
    mhBanded(docs, textCol, shingleN, numHashes, bands)

  /** Incremental fuzzy dedup: keep the members of `batch` (a new crawl
    * slice) that survive near-dup reconciliation against an existing
    * `tier` (the already-curated corpus) AND within the batch itself.
    * The tier is never modified and never re-deduplicated.
    *
    * Semantics (equal to running batch-global [[dedupNearMinhash]]
    * over tier ∪ batch and keeping the batch rows, whenever tier ids
    * precede batch ids — the natural monotone-id ingest discipline):
    * a batch doc is dropped iff its near-dup component contains ANY
    * tier doc, or it is a non-canonical (non-minimum) member of a
    * batch-only component. Tier–tier edges are irrelevant: any batch
    * doc connected to the tier through tier-internal chains is already
    * connected by its FIRST tier contact, so only batch-involved pairs
    * are ever generated.
    *
    * Plan shape: `batch` bands once (slim rows, checkpointed —
    * candidate generation and the in-batch expansion share one
    * evaluation); cross candidates are a (band, bucket) equi-join of
    * the batch keys against `tierIndex` with the combined bucket
    * population capped at `maxBucketSize` (same discipline and skip
    * observability as the batch-global path); the exact-Jaccard verify
    * computes tier shingles ONLY for candidate ids (the semi-join
    * lands before the shingle projection, so the tier text scan prunes
    * to candidates); components run over the batch-involved edge list.
    * Nothing ever shuffles the tier. */
  def nearDupAgainst(
      tier: DataFrame,
      batch: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 16,
      jaccardThreshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize,
      tierIndex: Option[DataFrame] = None): DataFrame = {
    val tIdx = tierIndex.getOrElse(bandIndex(tier, textCol, shingleN, numHashes, bands))
    val bIdx = bandIndex(batch, textCol, shingleN, numHashes, bands).localCheckpoint(true)

    // cross candidates: batch keys probe the stored tier index; buckets
    // whose combined membership exceeds the cap are excluded before any
    // pair materializes (degenerate boilerplate keys, as in the
    // batch-global path)
    val tCnt = tIdx.groupBy("band", "bucket").agg(count(lit(1)).as("__tc"))
    val bCnt = bIdx.groupBy("band", "bucket").agg(count(lit(1)).as("__bc"))
    val okBuckets = bCnt.join(tCnt, Seq("band", "bucket"))
      .filter(col("__tc") + col("__bc") <= maxBucketSize)
      .select("band", "bucket")
    val cross = bIdx.join(okBuckets, Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("doc_id").as("b_id"))
      .join(tIdx.select(col("band"), col("bucket"), col("doc_id").as("t_id")),
        Seq("band", "bucket"))
      .select(col("t_id"), col("b_id")).distinct()
      // three consumers below (both semi-join prunes + the verify join):
      // checkpoint the slim pair list once instead of re-deriving the
      // band join per consumer
      .localCheckpoint(true)

    // exact-Jaccard verify; BOTH sides prune to candidate ids BEFORE
    // the shingle projection, so text is only hashed for rows that
    // banded with something on the other side
    val tSh = tier
      .join(cross.select(col("t_id").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("t_id"), hashedShingles(col(textCol), shingleN).as("t_sh"))
    val bSh = batch
      .join(cross.select(col("b_id").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("b_id"), hashedShingles(col(textCol), shingleN).as("b_sh"))
    val crossVerified = cross
      .join(tSh, Seq("t_id")).join(bSh, Seq("b_id"))
      .filter(call_function("jaccard_long_sets", col("t_sh"), col("b_sh")) >= jaccardThreshold)
      .select(col("t_id").as("a_id"), col("b_id"))

    // in-batch pairs reuse the checkpointed index (the batch-global path)
    val internal = verifiedPairs(batch, textCol, shingleN, jaccardThreshold,
      bIdx, Seq("band", "bucket"), maxBucketSize).select("a_id", "b_id")

    val comps = Components.connectedComponents(crossVerified.unionByName(internal))
    val tierIds = tier.select(col("doc_id").as("id"))
    val tierComps = comps.join(tierIds, Seq("id"), "left_semi")
      .select("component").distinct()
    val batchComps = comps.join(tierIds, Seq("id"), "left_anti")
    val losers = batchComps.join(tierComps, Seq("component"), "left_semi").select("id")
      .unionByName(batchComps.filter(col("id") =!= col("component")).select("id"))
      .distinct().withColumnRenamed("id", "doc_id")
    batch.join(losers, Seq("doc_id"), "left_anti")
  }

  // ------------------------------------------------------------------
  // Exact n-gram Jaccard (prefix filtering)
  // ------------------------------------------------------------------

  /** One slim (doc_id, tok) row per PREFIX element of the doc's sorted
    * distinct shingle-hash set — the candidate-generation index for
    * EXACT Jaccard self-join by prefix filtering (Chaudhuri et al.,
    * SSJoin, ICDE'06; Bayardo et al., "Scaling Up All Pairs", WWW'07):
    * under any global element order, J(X,Y) ≥ t forces
    * |X∩Y| ≥ ⌈t·|X|⌉ (since |X∩Y| ≥ t·|X∪Y| ≥ t·|X|), and a pair whose
    * first |X| − ⌈t·|X|⌉ + 1 elements are all disjoint from Y cannot
    * reach that overlap — so matching prefixes is a COMPLETE candidate
    * generator, unlike MinHash banding's probabilistic recall. The
    * global order is ascending hash value: hashes are uniform, so
    * prefix tokens are frequency-balanced without the document-
    * frequency ordering pass classic AllPairs does. */
  private def jaccardPrefixed(docs: DataFrame, textCol: String, shingleN: Int,
                              threshold: Double): DataFrame =
    docs
      .select(col("doc_id"), array_sort(hashedShingles(col(textCol), shingleN)).as("sh"))
      .select(col("doc_id"),
        // epsilon guards the ceiling: when t·|X| is mathematically
        // integral the double product can land one ulp above it
        // (30 × 0.1 → 3.0000000000000004, ceil → 4), silently dropping
        // the last prefix element and losing exactly-at-threshold pairs
        explode(slice(col("sh"), lit(1),
          size(col("sh")) - ceil(size(col("sh")) * threshold - lit(1e-9)).cast("int") + 1)).as("tok"))

  /** The dropped-bucket METRIC for [[nearDupPairsJaccard]]: one row per
    * skipped prefix token with its member count. A skipped token here
    * (unlike the probabilistic paths) can lose REAL pairs — at 100 TB,
    * route skipped tokens' members to a per-token repartitioned retry
    * or raise the cap; never ignore a non-empty result. */
  def skippedBucketsJaccard(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    oversized(jaccardPrefixed(docs, textCol, shingleN, threshold),
      Seq("tok"), maxBucketSize)

  /** EXACT n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold):
    * prefix-filtered candidate generation + the same exact-Jaccard
    * verify as the MinHash path. Deterministic recall 1 (modulo the
    * bucket cap, observable via [[skippedBucketsJaccard]]) — the
    * answer MinHash banding approximates.
    *
    * Scale: the prefix index holds (1−t)·|X|+1 rows per doc (one
    * shuffle of slim (hash, id) rows); candidates are per-token
    * bucketed pairs with the shared [2, maxBucketSize] pre-count cap.
    * At t = 0.8 the index is ~20% of the corpus's shingle volume. */
  def nearDupPairsJaccard(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    verifiedPairs(docs, textCol, shingleN, threshold,
      jaccardPrefixed(docs, textCol, shingleN, threshold), Seq("tok"), maxBucketSize)

  /** Fuzzy dedup end-to-end on the exact pair set: prefix-filtered
    * Jaccard pairs → connected components → keep each cluster's
    * minimum doc_id. */
  def dedupNearJaccard(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.8,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    dropNonCanonical(docs,
      nearDupPairsJaccard(docs, textCol, shingleN, threshold, maxBucketSize))

  // ------------------------------------------------------------------
  // Containment (asymmetric Jaccard)
  // ------------------------------------------------------------------

  /** The shared slim projection for the containment path: (doc_id,
    * distinct hashed shingle set, set size). Checkpointed by callers
    * that consume it twice (postings + sizes). */
  private def shingleSets(docs: DataFrame, textCol: String, shingleN: Int): DataFrame =
    docs
      .select(col("doc_id"),
        array_distinct(hashedShingles(col(textCol), shingleN)).as("sh"))
      .select(col("doc_id"), col("sh"), size(col("sh")).as("sz"))

  /** The dropped-posting METRIC for [[containmentPairs]]: one row per
    * stop-shingle (a shingle shared by more than `maxPostings` docs)
    * with its document frequency. Like the Jaccard prefix cap, a
    * skipped posting can lose REAL pairs — surface it, never drop
    * silently. */
  /** Containment's own, much tighter default posting cap: the postings
    * SELF-join fans out df² rows per shingle, so a df-10 000 shingle
    * (fine for the collect-based minhash buckets) would alone emit 10⁸
    * join rows. df > ~10³ shingles are boilerplate by definition —
    * stop-shingles in the classic sense — and excluding them is the
    * operative scale control (a 10× clone smoke fell from 146 s to
    * seconds). Always read [[skippedPostingsContainment]] beside a
    * capped run. */
  val DefaultMaxPostings: Int = 1000

  def skippedPostingsContainment(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      maxPostings: Int = DefaultMaxPostings): DataFrame =
    oversized(
      shingleSets(docs, textCol, shingleN)
        .select(col("doc_id"), explode(col("sh")).as("h")),
      Seq("h"), maxPostings)

  /** Near-dup by CONTAINMENT C(A→B) = |A∩B| / |A| over word n-gram
    * shingle sets — the asymmetric relation Jaccard misses: a short
    * document wholly quoted inside a long one has high containment but
    * low Jaccard (Broder's resemblance-vs-containment distinction,
    * "On the resemblance and containment of documents", SEQUENCES'97).
    *
    * Output: ORDERED pairs (a_id, b_id, containment) with a ≠ b and
    * C(A→B) ≥ threshold — "A is (mostly) contained in B". Both
    * directions of a pair are emitted independently when both clear
    * the threshold.
    *
    * Plan — prefix-filtered candidates + native verify (the
    * [[nearDupPairsJaccard]] discipline carried to the asymmetric
    * measure): C(A→B) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so under the global
    * ascending-hash order the first |A| − ⌈t·|A|⌉ + 1 elements of A
    * cannot ALL miss B — joining A's sorted-set PREFIX postings
    * against B's full postings is a COMPLETE directed candidate
    * generator. Candidates dedup to slim (a_id, b_id) pairs, then ONE
    * join back to the shingle arrays verifies with the native
    * `contain_long_sets` kernel. (A naive full-postings self-join with
    * per-pair counting was quadratic in document frequency: 138 M
    * pre-aggregation rows and 113 M materialized pairs on a 10×-clone
    * 50 k corpus, nearly all below threshold; the prefix join prunes
    * by 1−t per doc on the small side and the verify touches only
    * survivors.)
    *
    * Scale: stop-shingles (document frequency > `maxPostings`) are
    * excluded from BOTH sides before the join fans out — pre-counted,
    * observable via [[skippedPostingsContainment]]. `minShingles`
    * suppresses the degenerate spam of near-empty docs (a 1-shingle
    * doc is "contained" in every doc sharing that shingle) — raise it
    * in production; the default keeps the definition pure for the
    * oracle. */
  def containmentPairs(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.9,
      maxPostings: Int = DefaultMaxPostings,
      minShingles: Int = 1): DataFrame =
    containmentPairsWithSizes(docs, textCol, shingleN, threshold, maxPostings, minShingles)
      .select("a_id", "b_id", "containment")

  /** [[containmentPairs]] plus both sides' distinct-shingle-set sizes —
    * the internal shape [[containmentSummary]]/[[dedupContained]] build
    * their dominance rule on (sizes come free from the verify join's
    * shingle projections, no extra pass). */
  private def containmentPairsWithSizes(
      docs: DataFrame,
      textCol: String,
      shingleN: Int,
      threshold: Double,
      maxPostings: Int,
      minShingles: Int): DataFrame = {
    val sets = shingleSets(docs, textCol, shingleN)
      .filter(col("sz") >= minShingles)
      .select(col("doc_id"), array_sort(col("sh")).as("sh"), col("sz"))
      .localCheckpoint(true)
    val candidates = containmentCandidates(sets, threshold, maxPostings)
      .select("a_id", "b_id").distinct()
    candidates
      .join(sets.select(col("doc_id").as("a_id"), col("sh").as("a_sh"), col("sz").as("a_sz")),
        Seq("a_id"))
      .join(sets.select(col("doc_id").as("b_id"), col("sh").as("b_sh"), col("sz").as("b_sz")),
        Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        call_function("contain_long_sets", col("a_sh"), col("b_sh")).as("containment"),
        col("a_sz"), col("b_sz"))
      .filter(col("containment") >= threshold)
  }

  /** The directed candidate generator shared by the containment family:
    * A's sorted-shingle PREFIX postings joined against full postings
    * (complete for C ≥ t — see [[containmentPairs]]), with a SIZE
    * prefilter applied at the join itself, where row count peaks:
    * C(A→B) = |A∩B|/|A| and |A∩B| ≤ |B| force |B| ≥ ⌈t·|A|⌉, a
    * necessary condition checkable from the two ints already riding
    * the postings — pairs failing it never reach the distinct, the
    * array-fetch joins, or the O(|A|+|B|) verify kernel. (On corpora
    * of mixed lengths most spurious prefix collisions are short-doc →
    * long-doc-boilerplate in the PASSING direction but long → short in
    * the pruned one; the cut is measured per run by
    * [[containmentPruningStats]].) Output: (a_id, b_id, a_sz, b_sz)
    * with possible duplicates (one per witnessing shingle). */
  private def containmentCandidates(sets: DataFrame, threshold: Double,
                                    maxPostings: Int,
                                    sizeFilter: Boolean = true): DataFrame = {
    val post = sets.select(col("doc_id"), col("sz"), explode(col("sh")).as("h"))
    // stop-shingle cap: document frequency pre-counted, hot shingles
    // excluded from both join sides before any candidate forms
    val ok = post.groupBy("h").agg(count(lit(1)).as("__df"))
      .filter(col("__df").between(2, maxPostings)).select("h")
    val full = post.join(ok, Seq("h"), "left_semi")
    // the directed small side: each doc's first (1-t)·|A|+1 sorted
    // shingles — the only elements that can witness a ≥t containment
    val prefix = sets
      .select(col("doc_id"), col("sz"),
        // same epsilon-guarded ceiling as jaccardPrefixed: an ulp-high
        // t·|A| product would shorten the prefix and lose at-threshold
        // containment pairs with suffix-only witnesses
        explode(slice(col("sh"), lit(1),
          (size(col("sh")) - ceil(size(col("sh")) * threshold - lit(1e-9)).cast("int") + 1))).as("h"))
      .join(ok, Seq("h"), "left_semi")
    val joined = prefix.select(col("h"), col("doc_id").as("a_id"), col("sz").as("a_sz"))
      .join(full.select(col("h"), col("doc_id").as("b_id"), col("sz").as("b_sz")), Seq("h"))
      .filter(col("a_id") =!= col("b_id"))
    // the size prefilter (epsilon-guarded like the prefix length:
    // never drop an at-threshold true pair to an ulp-high product)
    val sized =
      if (sizeFilter) joined.filter(col("b_sz") >= ceil(col("a_sz") * threshold - lit(1e-9)))
      else joined
    sized.select("a_id", "b_id", "a_sz", "b_sz")
  }

  /** The MEASURED cut of [[containmentCandidates]]' size prefilter —
    * one row: raw prefix-join candidate rows, rows the necessary
    * condition pruned, and surviving rows (what reaches distinct +
    * verify). A diagnostic twin of the skipped-bucket reporters: a
    * bound on coverage must be observable, and a prefilter's value
    * must be measured, not assumed. Two passes over the same postings
    * plan — run it beside the operator, not inside it. */
  def containmentPruningStats(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.9,
      maxPostings: Int = DefaultMaxPostings,
      minShingles: Int = 1): DataFrame = {
    val sets = shingleSets(docs, textCol, shingleN)
      .filter(col("sz") >= minShingles)
      .select(col("doc_id"), array_sort(col("sh")).as("sh"), col("sz"))
      .localCheckpoint(true)
    val raw = containmentCandidates(sets, threshold, maxPostings, sizeFilter = false)
    val kept = containmentCandidates(sets, threshold, maxPostings)
    raw.agg(count(lit(1)).as("raw_rows")).crossJoin(
      kept.agg(count(lit(1)).as("kept_rows")))
      .select(col("raw_rows"), (col("raw_rows") - col("kept_rows")).as("pruned_rows"),
        col("kept_rows"))
  }

  /** Per-document containment SUMMARY — the doc-bound rendition of
    * [[containmentPairs]] for 100 TB: a curation consumer rarely wants
    * the ordered pair SET (26 M rows at the 500 k clone smoke, pair-
    * bound by construction); it wants, per contained doc, how contained
    * it is and by what. The verified pair stream collapses through one
    * map-side-combinable aggregate to ONE row per contained doc
    * (container count, max containment, the argmax container — ties →
    * smallest container id), so the operator's output — and anything a
    * pipeline would persist — is bounded by |docs|, never by |pairs|.
    * The pair stream itself exists only inside the stage pipeline
    * between the verify join and the partial aggregate. */
  def containmentSummary(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.9,
      maxPostings: Int = DefaultMaxPostings,
      minShingles: Int = 1): DataFrame =
    containmentPairsWithSizes(docs, textCol, shingleN, threshold, maxPostings, minShingles)
      .groupBy(col("a_id").as("doc_id"))
      .agg(count(lit(1)).as("n_containers"),
        max(col("containment")).as("max_containment"),
        // argmax container, ties -> smallest b_id: min_by over
        // (-containment, b_id). Only the containment RATIO (a double by
        // construction) is ever negated — never the id, so the
        // tie-break stays correct for string/any orderable id types
        // (the knnLabelAudit lesson: unary minus on a non-numeric
        // column silently null-casts and corrupts the order). min_by is
        // a declarative aggregate, so the pair stream still collapses
        // map-side.
        min_by(col("b_id"),
          struct((-col("containment")).as("nc"), col("b_id").as("b")))
          .as("top_container"))
      .select("doc_id", "n_containers", "max_containment", "top_container")

  /** Containment DEDUP: drop every document ≥`threshold`-contained in a
    * DOMINATING document — larger distinct-shingle set, ties → smaller
    * doc_id (so two mutually-containing near-identical docs keep
    * exactly the earlier one, and a quote is dropped in favor of the
    * fuller text that contains it). Dominance is a plain per-pair
    * predicate (dominated-by-ANY, the [[Similarity.semDedup]] EXISTS
    * shape — no transitive closure, so the oracle is one subquery and a
    * chain of partial containments cannot collapse a whole corpus).
    * The corpus anti-joins the distinct loser ids; like
    * [[containmentSummary]] the pair stream never leaves the plan. */
  def dedupContained(
      docs: DataFrame,
      textCol: String = "text",
      shingleN: Int = 3,
      threshold: Double = 0.9,
      maxPostings: Int = DefaultMaxPostings,
      minShingles: Int = 1): DataFrame = {
    val losers =
      containmentPairsWithSizes(docs, textCol, shingleN, threshold, maxPostings, minShingles)
        .filter(col("b_sz") > col("a_sz") ||
          (col("b_sz") === col("a_sz") && col("b_id") < col("a_id")))
        .select(col("a_id").as("doc_id")).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash over the token multiset: per bit position, sum +1
    * for tokens whose hash has the bit set, -1 otherwise; the result
    * bit is 1 iff the sum is positive. Native codegen expression
    * (graft.functions.SimHash64) — per-row, shuffle-free. */
  def simhash64(text: Column): Column =
    call_function("simhash64", split(normalize(text), " "))

  /** The composable higher-order rendition of [[simhash64]] — bit-
    * identical results, interpreted lambdas. Parity reference for the
    * native expression. */
  def simhash64Hof(text: Column): Column = {
    val toks = transform(split(normalize(text), " "), t => xxhash64(t))
    val counters = aggregate(
      toks,
      array_repeat(lit(0), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (c, i) => c + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(
      zip_with(counters, sequence(lit(0), lit(63)), (c, i) => struct(c.as("c"), i.as("i"))),
      lit(0L),
      (acc, p) => acc +
        when(p.getField("c") > 0, call_function("shiftleft", lit(1L), p.getField("i"))).otherwise(0L))
  }

  /** Slim ((doc_id, sig), chunk, key) rows — the one pass that computes
    * the SimHash signature. */
  private def shChunked(docs: DataFrame, textCol: String, sigFn: Column => Column): DataFrame =
    docs
      .select(col("doc_id"), sigFn(col(textCol)).as("sim"))
      .select(col("doc_id"), col("sim"),
        explode(transform(sequence(lit(0), lit(3)),
          k => struct(k.as("chunk"),
            call_function("shiftright", col("sim"), k * 16).bitwiseAND(0xFFFFL).as("key")))).as("ck"))
      .select(struct(col("doc_id"), col("sim")).as("m"),
        col("ck.chunk").as("chunk"), col("ck.key").as("key"))

  /** The dropped-bucket METRIC for [[nearDupPairsSimhash]]: one row per
    * skipped (chunk, key) with its member count. */
  def skippedBucketsSimhash(
      docs: DataFrame,
      textCol: String = "text",
      sigFn: Column => Column = simhash64,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    oversized(shChunked(docs, textCol, sigFn), Seq("chunk", "key"), maxBucketSize)

  /** Near-dup pairs by SimHash hamming distance ≤ `maxHamming` (< 16):
    * bucket on each of the 4 16-bit chunks (pigeonhole guarantees a
    * collision for hamming ≤ 3 when probing all 4 chunk tables), verify
    * with exact popcount of the XOR.
    *
    * Same single-evaluation and bounded-bucket discipline as the
    * MinHash path: the SimHash is computed once per doc, buckets carry
    * (doc_id, sig) structs through a groupBy instead of a self-join,
    * and a pre-count keeps only buckets in [2, maxBucketSize] so one
    * degenerate signature family can never OOM an executor; skipped
    * buckets are observable via [[skippedBucketsSimhash]]. */
  def nearDupPairsSimhash(
      docs: DataFrame,
      textCol: String = "text",
      maxHamming: Int = 3,
      sigFn: Column => Column = simhash64,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val chunked = shChunked(docs, textCol, sigFn)
    val pairs =
      cappedBucketPairs(chunked, Seq("chunk", "key"), "m", maxBucketSize, memberPairs)
        .select(col("p.a.doc_id").as("a_id"), col("p.b.doc_id").as("b_id"),
          bit_count(col("p.a.sim").bitwiseXOR(col("p.b.sim"))).as("hamming"))

    pairs.filter(col("hamming") <= maxHamming)
      .groupBy("a_id", "b_id").agg(min("hamming").as("hamming")) // distinct across chunks
  }

  /** All unordered member pairs (by ascending leading id field) within
    * a bucket. */
  private def memberPairs(ms: Column): Column = {
    val sorted = array_sort(ms) // struct sort: doc_id is the leading field
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, size(sorted)), y => struct(x.as("a"), y.as("b")))))
  }

  // ------------------------------------------------------------------
  // Oracle-checkable MinHash variant (md5-based)
  // ------------------------------------------------------------------

  /** MinHash signature using md5 hex strings and lexicographic min —
    * slower than the xxhash64 path but expressible identically in
    * DuckDB, so the signature computation itself is cross-engine
    * verified (SparkEntry `doc_minhash_sig`). */
  def minhashSignatureMd5(sh: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      h => array_min(transform(sh, s => md5(concat(h.cast("string"), lit(":"), s)))))

  /** Cross-engine SimHash: the per-token 64-bit hash is the first 16
    * hex digits of md5(token) read big-endian — bit j (j=0 is the LSB)
    * is bit (j % 4) of hex digit (16 - j/4, 1-based from the left).
    * Same majority vote and result type as [[simhash64]], so it drops
    * straight into [[nearDupPairsSimhash]] via `sigFn` — the
    * [[minhashSignatureMd5]] oracle trick applied to SimHash (the
    * xxhash64 path stays the production kernel). */
  def simhash64Md5(text: Column): Column = {
    // one md5 per token, assembled into the big-endian 64-bit value of
    // the first 16 hex digits (two 32-bit conv halves — conv of all 16
    // would overflow signed long); the ±1-per-bit majority vote runs in
    // the native simhash64_hashes kernel
    val tok64 = transform(split(normalize(text), " "), t => {
      val hex = md5(t)
      val hi = conv(substring(hex, 1, 8), 16, 10).cast("long")
      val lo = conv(substring(hex, 9, 8), 16, 10).cast("long")
      call_function("shiftleft", hi, lit(32)).bitwiseOR(lo)
    })
    call_function("simhash64_hashes", tok64)
  }

  /** Per-group exact-duplication report — the curation dashboard row
    * behind "which sources are worth crawling": docs, distinct
    * contents, dup count and rate, grouped by `groupCol`.
    *
    * Exact distinct via the repo's two-level idiom (distinct on the
    * slim (group, 128-bit hash) pair, then count) — partial-aggregated
    * at every step, never a countDistinct expand over the corpus and
    * never text on the wire. The rate is two exact BIGINTs and one
    * double division. */
  def dupProfile(docs: DataFrame, textCol: String = "text",
                 groupCol: String = "source"): DataFrame = {
    val hashed = docs.select(col(groupCol), contentHash(col(textCol)).as("__h"))
    val totals = hashed.groupBy(groupCol).agg(count(lit(1)).as("n_docs"))
    val uniq = hashed.distinct().groupBy(groupCol).agg(count(lit(1)).as("n_unique"))
    totals.join(uniq, Seq(groupCol))
      .withColumn("n_dups", col("n_docs") - col("n_unique"))
      .withColumn("dup_rate", round(col("n_dups").cast("double") / col("n_docs"), 6))
  }

  // ------------------------------------------------------------------
  // Edit-distance near-dup (short-text / prefix-stable fields)
  // ------------------------------------------------------------------

  /** Near-dup pairs by exact Levenshtein distance over a bounded text
    * slice, candidates blocked on the normalized `blockPrefix`-char
    * prefix — the fuzzy-title/URL-slug dedup complement to the
    * shingle-based detectors (which need enough tokens to shingle;
    * edit distance sees single-character noise directly).
    *
    * Same candidate discipline as every near-dup path here: blocking is
    * an EQUI-join (no all-pairs), blocks are pre-counted and only sizes
    * in [2, maxBlockSize] generate pairs (a boilerplate prefix shared
    * by millions of docs degrades to a reported skip, never a quadratic
    * task), and the O(sliceLen²) DP verify runs only inside surviving
    * blocks. At 100 TB the slice bound is what keeps the verify
    * per-pair cost constant. */
  def nearDupPairsLevenshtein(docs: DataFrame, textCol: String = "text",
                              blockPrefix: Int = 24, sliceLen: Int = 120,
                              maxDist: Int = 2,
                              maxBlockSize: Int = 64): DataFrame = {
    val n = docs.select(col("doc_id"), normalize(col(textCol)).as("__t"))
      .withColumn("__blk", substring(col("__t"), 1, blockPrefix))
    val ok = n.groupBy("__blk").agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") >= 2 && col("__bn") <= maxBlockSize)
      .select("__blk")
    val blocked = n.join(ok, Seq("__blk"), "left_semi")
    val a = blocked.select(col("__blk"), col("doc_id").as("a"),
      substring(col("__t"), 1, sliceLen).as("__sa"))
    val b = blocked.select(col("__blk"), col("doc_id").as("b"),
      substring(col("__t"), 1, sliceLen).as("__sb"))
    a.join(b, Seq("__blk")).filter(col("a") < col("b"))
      .withColumn("edit_distance", levenshtein(col("__sa"), col("__sb")).cast("long"))
      .filter(col("edit_distance") <= maxDist)
      .select("a", "b", "edit_distance")
  }

  /** The dropped-block METRIC for [[nearDupPairsLevenshtein]] — same
    * observability contract as [[skippedBucketsJaccard]] /
    * skippedPostingsContainment: one row per prefix block whose
    * population exceeded `maxBlockSize` (with the count), because a
    * block the cap silences can hide REAL pairs — a pipeline must
    * report it and route those members to a raised-cap retry, never
    * read "0 pairs" as "no duplicates". */
  def skippedBlocksLevenshtein(docs: DataFrame, textCol: String = "text",
                               blockPrefix: Int = 24,
                               maxBlockSize: Int = 64): DataFrame =
    docs.select(normalize(col(textCol)).as("__t"))
      .select(substring(col("__t"), 1, blockPrefix).as("block"))
      .groupBy("block").agg(count(lit(1)).as("member_count"))
      .filter(col("member_count") > maxBlockSize)
}
