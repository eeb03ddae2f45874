package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING and application — the
  * vocabulary-building step of a training-data pipeline (Sennrich,
  * Haddow & Birch, "Neural Machine Translation of Rare Words with
  * Subword Units", ACL'16; the reference pipeline stops at word
  * counts — `scripts/transform_model.sql`-style aggregates — so this
  * is north-star surface, not a port).
  *
  * Scale shape: the corpus is scanned ONCE into a (word, freq) table
  * — |vocab|-bounded (Zipf: ~10⁶–10⁷ distinct lowercase words at ANY
  * corpus size, same argument as the classifier vocab broadcast).
  * Every merge iteration is one map-side-combinable pair-count
  * aggregate over that table plus a LIMIT 1 collect (one driver row),
  * and the per-iteration segment rewrite is a row-local string
  * replace — no corpus re-scan, no shuffle growth with iterations;
  * the working table localCheckpoints each round so lineage stays
  * O(1) instead of O(merges).
  *
  * Segmentations travel as SEPARATOR STRINGS — `" h  e  l  l  o "`,
  * every symbol wrapped in its own leading+trailing space, symbols
  * joined by a two-space boundary. Applying merge (L,R) is then
  * EXACTLY `replace(seg, " L  R ", " LR ")`: SQL replace rewrites
  * non-overlapping occurrences left-to-right, which is precisely one
  * greedy BPE merge pass ("aaaa" + (a,a) → [aa,aa]), the private
  * spaces make a partial-symbol match impossible, and the identical
  * builtin exists in DuckDB — so the whole training loop is
  * replayable by the oracle with the same string algebra.
  *
  * Domain: selectable per [[Domain]]. [[LetterWords]] (the default)
  * trains on unicode-letter words of length ≥ 2 (`^\p{L}+$` — both
  * engines' regex class; the round-11 `^[a-z]+$` domain made every
  * non-ASCII source contribute ZERO BPE tokens, systematically
  * under-weighting non-English text in tokenizer-aware epoch budgets).
  * [[AllTokens]] is the full-coverage fallback one ring further out:
  * EVERY whitespace-delimited token enters — digits, punctuation,
  * code, space-unsegmented CJK — so no source contributes zero tokens
  * and code-heavy corpora stop being under-counted in epoch budgets.
  * [[Bytes]] is the production byte-level seed (Radford et al.,
  * GPT-2 tr; Sennrich'16 §3.2's open-vocabulary limit): the [[Domain.seed]]
  * hook renders each kept word with ONE LATIN-1 CHARACTER PER UTF-8
  * BYTE (`decode(encode(w, UTF-8), ISO-8859-1)` — injective, engine-
  * builtin both sides), so the seed alphabet is bounded by 256 symbols
  * at ANY corpus size and no code point is ever out-of-alphabet — the
  * UNK surface shrinks from "unseen code point" to "unseen byte".
  *
  * Symbols can never contain the one character the separator algebra
  * reserves (U+0020): code-point domains split tokens ON it, and the
  * byte rendition cannot contain it either — 0x20 is the UTF-8
  * encoding of the space itself, UTF-8 never reuses an ASCII byte
  * inside a multi-byte sequence, and normalize collapsed every other
  * whitespace code point away. So no escape class is needed in ANY
  * domain and the whole loop, the replace algebra, and the
  * `bpe_segment` kernel are domain-agnostic: the domain changes which
  * words enter and what their seed symbols are, never how they merge.
  */
object Bpe {

  /** Which normalized tokens enter the trainable word table — the ONE
    * thing that distinguishes a letters-only tokenizer from a
    * full-coverage one (seed segmentation, training loop, replace
    * algebra, and kernel are all shared). */
  sealed trait Domain {
    private[graft] def keep(word: Column): Column
    /** Injective seed rendition of a kept word — identity for the
      * code-point-seeded domains; [[Bytes]] maps each UTF-8 byte to
      * its latin-1 code point so seeds are BYTES. Applied once, right
      * where words enter ([[wordCounts]] and the occurrence streams),
      * so training, the kernel, the vocab, and the id join all operate
      * on the rendition consistently. */
    private[graft] def seed(word: Column): Column = word
    /** Inverse of [[seed]] on any concatenation of kept-word
      * renditions (valid UTF-8 concatenates to valid UTF-8) — the
      * decode direction of the tokenizer artifact. */
    private[graft] def unseed(sym: Column): Column = sym
  }

  /** Unicode-letter words of length ≥ 2 — the natural-text domain. */
  case object LetterWords extends Domain {
    private[graft] def keep(word: Column): Column =
      word.rlike("^\\p{L}+$") && length(word) >= 2
  }

  /** EVERY non-empty whitespace-delimited token: digits, punctuation,
    * code, unsegmented CJK all contribute (single-codepoint tokens
    * enter with a 1-symbol segmentation — countable, never mergeable).
    * The codepoint-seed fallback a code-heavy corpus needs so its
    * epoch budgets stop reading zero. */
  case object AllTokens extends Domain {
    private[graft] def keep(word: Column): Column = length(word) >= 1
  }

  /** BYTE-LEVEL seeds over every non-empty token — the production
    * open-vocabulary domain. Seed symbols are single latin-1 code
    * points standing for UTF-8 bytes (a 3-byte CJK character seeds as
    * 3 symbols; merges re-assemble frequent multi-byte sequences), so
    * the alphabet is ≤ 256 at ANY corpus size — the |alphabet| term of
    * the vocab stops growing with corpus charset diversity, and encode
    * of NEW text can only UNK on a byte value the training corpus
    * never contained. Word boundaries are not tokens (the word model
    * is shared with the other domains); [[decodeIds]] inverts the
    * rendition back to UTF-8. */
  case object Bytes extends Domain {
    private[graft] def keep(word: Column): Column = length(word) >= 1
    override private[graft] def seed(word: Column): Column =
      decode(encode(word, "UTF-8"), "ISO-8859-1")
    override private[graft] def unseed(sym: Column): Column =
      decode(encode(sym, "ISO-8859-1"), "UTF-8")
  }

  /** Stable artifact names for the domains — a published tokenizer
    * must carry WHICH domain trained it (encode under a different
    * domain silently mis-tokenizes), so the catalog stores this name
    * next to the merges/vocab and consumers resolve it back. */
  def domainName(d: Domain): String = d match {
    case LetterWords => "letter_words"
    case AllTokens => "all_tokens"
    case Bytes => "bytes"
  }

  def domainOf(name: String): Domain = name match {
    case "letter_words" => LetterWords
    case "all_tokens" => AllTokens
    case "bytes" => Bytes
    case other => throw new IllegalArgumentException(
      s"unknown BPE domain '$other' (expected letter_words | all_tokens | bytes)")
  }

  /** Total SEED SYMBOLS of a text's trainable words — one row-local
    * expression, no extra corpus pass. Under [[Bytes]] this is the
    * word bytes; under the code-point domains the word chars. It is
    * the denominator of the COMPRESSION drift signal: ids/seed_chars
    * is 1.0 for a vocabulary that never merges and falls as merges
    * cover the corpus, so a drifted corpus (new language, code influx)
    * shows up as the ratio rising back toward 1 even when the UNK
    * share stays exactly zero — the failure mode byte-level seeds make
    * structurally invisible to UNK counting (encode under [[Bytes]]
    * can only UNK on a byte value the training corpus never saw). */
  def seedCharCount(text: Column, domain: Domain = LetterWords): Column =
    aggregate(
      transform(
        filter(split(TextDedup.normalize(text), " "), w => domain.keep(w)),
        w => length(domain.seed(w)).cast("long")),
      lit(0L), (acc, x) => acc + x)

  /** The ONE corpus-sized job: normalized-token word counts over the
    * trainable domain. (word, freq), |vocab|-bounded. */
  def wordCounts(docs: DataFrame, textCol: String = "text",
                 domain: Domain = LetterWords): DataFrame =
    docs.select(explode(split(TextDedup.normalize(col(textCol)), " ")).as("word"))
      .filter(domain.keep(col("word")))
      .select(domain.seed(col("word")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** " h  e  l  l  o " — each symbol owns a leading AND trailing
    * space, so a replace pattern can never match inside a symbol. */
  private[operators] def segInit(word: Column): Column =
    concat(lit(" "),
      array_join(filter(split(word, ""), s => length(s) > 0), "  "),
      lit(" "))

  private def syms(seg: Column): Column = split(trim(seg), "  ")

  /** One greedy merge pass on a segment string: SQL replace is
    * left-to-right and non-overlapping — the BPE pass semantics. */
  private[operators] def applyMerge(seg: Column, l: String, r: String): Column =
    call_function("replace", seg, lit(s" $l  $r "), lit(s" ${l}${r} "))

  /** Adjacent-pair counts over a (seg, freq) table — weighted by word
    * frequency, overlapping occurrences counted (the Sennrich
    * get_stats convention). Map-side combinable: one shuffle of at
    * most the local distinct-pair count per task. */
  def pairCounts(words: DataFrame): DataFrame = {
    val s = syms(col("seg"))
    words.select(s.as("s"), col("freq"))
      .filter(size(col("s")) >= 2)
      .select(col("freq"), explode(transform(sequence(lit(1), size(col("s")) - 1),
        i => struct(element_at(col("s"), i).as("left_sym"),
          element_at(col("s"), i + 1).as("right_sym")))).as("p"))
      .groupBy(col("p.left_sym").as("left_sym"), col("p.right_sym").as("right_sym"))
      .agg(sum(col("freq")).as("pair_count"))
  }

  /** Iteration-0 adjacent char-pair counts over the word table — the
    * merge-candidate profile (what rank 1 will pick, and the
    * SQL-provable seed of the training replay). */
  def charPairCounts(docs: DataFrame, textCol: String = "text",
                     domain: Domain = LetterWords): DataFrame =
    pairCounts(wordCounts(docs, textCol, domain)
      .select(segInit(col("word")).as("seg"), col("freq")))

  final case class Merge(rank: Int, leftSym: String, rightSym: String, pairCount: Long)

  /** Learn `numMerges` merges: per round, the (count DESC, left ASC,
    * right ASC) argmax pair — fully deterministic, DuckDB-identical
    * ordering — then one replace pass over the |vocab|-sized table.
    * Stops early when the best pair's count falls below
    * `minPairCount`. The merge list is the tokenizer artifact: k-sized
    * driver/catalog state by definition (a 32k-merge vocabulary is 32k
    * rows), never corpus-sized. */
  /** A replaced round's pinned blocks release PRECISELY via
    * [[graft.plans.Catalog.releasePin]] (never a getPersistentRDDs
    * sweep, which would race concurrent sessions). Only safe once
    * nothing will read the frame again: the next round is materialized
    * EAGERLY first. */
  private def releasePin(df: DataFrame): Unit =
    graft.plans.Catalog.releasePin(df)

  def train(docs: DataFrame, numMerges: Int, minPairCount: Long = 2L,
            textCol: String = "text", domain: Domain = LetterWords): Seq[Merge] = {
    var words = wordCounts(docs, textCol, domain)
      .select(segInit(col("word")).as("seg"), col("freq"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      val top = pairCounts(words)
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(1).collect()
      if (top.isEmpty || top(0).getAs[Long]("pair_count") < minPairCount) done = true
      else {
        val (l, rr, c) = (top(0).getAs[String]("left_sym"),
          top(0).getAs[String]("right_sym"), top(0).getAs[Long]("pair_count"))
        out += Merge(r, l, rr, c)
        // lineage stays O(1): each round's rewrite checkpoints before
        // the next round's aggregate reads it — and the REPLACED
        // round's blocks release immediately (the new checkpoint is
        // eager, so nothing can read them again): without this, a 32k-
        // merge vocabulary would leave 32k resident |vocab|-sized pins
        val prev = words
        words = words.select(applyMerge(col("seg"), l, rr).as("seg"), col("freq"))
          .localCheckpoint(true)
        releasePin(prev)
      }
      r += 1
    }
    releasePin(words)
    out.toSeq
  }

  /** [[train]] with BATCHED rounds — the production form at a 32k-merge
    * vocabulary, where one-merge-per-round is ~64k sequential driver
    * jobs (hours of scheduler latency on |vocab|-sized data). Per round
    * ONE pair-count job collects the top `batchSize` pairs and the
    * driver selects a batch that is PROVABLY what the sequential loop
    * would have picked, then ONE rewrite pass applies all of them:
    *
    *  1. walk the collected rank order (count DESC, left, right) and
    *     accept the maximal CONSECUTIVE prefix of mutually
    *     symbol-disjoint pairs (no pair consumes or produces a symbol
    *     another accepted pair touches), stopping at the FIRST
    *     conflict — a skipped conflicting pair has an unknown
    *     post-merge count, so nothing past it can be trusted. A
    *     SELF-PAIR (L,L) additionally ends its batch as the last
    *     accepted pair: its created pairs are bounded by C(L,L)
    *     itself (see below), which no conflict bound can cap;
    *  2. truncate the prefix to pairs whose count STRICTLY exceeds
    *     `bound` = the count of the first non-accepted pair (the
    *     conflict, the row after an accepted self-pair, or the last
    *     collected row when none conflicted).
    *
    * Why 2 makes batched ≡ sequential EXACTLY: a merge (L,R) only
    * changes counts of pairs touching L or R, and every pair it
    * CREATES — (X, LR), (LR, Y), (LR, LR) — is count-bounded by an old
    * pair adjacent to L or R ((X,L), (R,Y), (R,L) respectively: each
    * new occurrence maps injectively to an old one). With L ≠ R all
    * such generators conflict with the accepted pair, so they rank at
    * or below the first conflict — i.e. count ≤ `bound`. With L = R
    * the generator of every created pair is the ACCEPTED pair itself
    * (in an L-run, (LL,L)/(LL,LL) occurrences map to the very (L,L)
    * occurrences being merged), so created counts can reach C(L,L) and
    * outrank everything later in the batch — which is why a self-pair
    * closes its batch (rule 1) instead of trusting the conflict
    * bound. Accepted pairs are
    * symbol-disjoint, so their counts are invariant under the batch's
    * earlier merges, and with every accepted count > bound the
    * sequential argmax at each inner step is exactly the next accepted
    * pair (ties among accepted pairs keep their lexicographic order —
    * both engines' tie rule). An empty batch (top-1 ties its own
    * conflict) falls back to one sequential merge, so progress is
    * guaranteed; reported pair counts equal the sequential loop's by
    * the same invariance.
    *
    * Early rounds batch small (the top character pairs share e/t/h/…);
    * the 30k-merge TAIL — where the job count lives — is sparse and
    * disjoint, so rounds approach `batchSize` merges each. */
  def trainBatched(docs: DataFrame, numMerges: Int, batchSize: Int = 64,
                   minPairCount: Long = 2L, textCol: String = "text",
                   domain: Domain = LetterWords): Seq[Merge] =
    trainBatchedOnWords(wordCounts(docs, textCol, domain), numMerges,
      batchSize, minPairCount)

  /** [[trainBatched]] over an ALREADY-COMPUTED (word, freq) table — the
    * seam that lets training and the vocab derivation share ONE corpus
    * word count (guide §1.2: the corpus-sized pass must not run once
    * per consumer). `words` must be [[wordCounts]]' output (or a pinned
    * rendition of it); the merge selection is byte-identical to
    * [[trainBatched]] because wordCounts is deterministic and this is
    * the exact loop it fed. */
  def trainBatchedOnWords(wordTable: DataFrame, numMerges: Int,
                          batchSize: Int = 64,
                          minPairCount: Long = 2L): Seq[Merge] = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    var words = wordTable
      .select(segInit(col("word")).as("seg"), col("freq"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var done = false
    while (out.size < numMerges && !done) {
      val top = pairCounts(words)
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .limit(batchSize).collect()
        .map(t => (t.getAs[String]("left_sym"), t.getAs[String]("right_sym"),
          t.getAs[Long]("pair_count")))
      if (top.isEmpty || top(0)._3 < minPairCount) done = true
      else {
        val touched = scala.collection.mutable.Set.empty[String]
        val prefix = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var bound = top.last._3 // uncollected pairs all rank at or below the last row
        var walking = true
        var i = 0
        while (walking && i < top.length) {
          val p @ (l, r, c) = top(i)
          if (c < minPairCount || touched(l) || touched(r) || touched(l + r)) {
            bound = c; walking = false // first non-accepted pair caps everything below
          } else {
            prefix += p; touched += l; touched += r; touched += (l + r)
            if (l == r) {
              // SELF-PAIR: merging (L,L) creates (LL,L)/(L,LL)/(LL,LL)
              // whose counts are bounded by C(L,L) ITSELF — the one
              // generator the first-conflict bound cannot cap (it is
              // the accepted pair, not a conflict; "ababab…" runs make
              // the created pairs outrank every later candidate).
              // Sequential equivalence survives only if nothing in the
              // batch ranks after it: accept it as the batch's LAST
              // pair, with the next collected row capping the unapplied
              // remainder.
              if (i + 1 < top.length) bound = top(i + 1)._3
              walking = false
            }
          }
          i += 1
        }
        val batch = prefix.filter(_._3 > bound)
          .take(numMerges - out.size)
        val applied = if (batch.nonEmpty) batch.toSeq else Seq(top(0)) // sequential fallback
        applied.foreach { case (l, r, c) => out += Merge(out.size + 1, l, r, c) }
        val prev = words
        words = words.select(
          applied.foldLeft(col("seg")) { case (seg, (l, r, _)) => applyMerge(seg, l, r) }
            .as("seg"), col("freq"))
          .localCheckpoint(true)
        releasePin(prev)
      }
    }
    releasePin(words)
    out.toSeq
  }

  /** The learned merges as a (rank, left_sym, right_sym, pair_count)
    * frame — the gate/catalog rendition of the tokenizer artifact. */
  def trainTable(docs: DataFrame, numMerges: Int, minPairCount: Long = 2L,
                 textCol: String = "text", domain: Domain = LetterWords): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    train(docs, numMerges, minPairCount, textCol, domain)
      .map(m => (m.rank, m.leftSym, m.rightSym, m.pairCount))
      .toDF("rank", "left_sym", "right_sym", "pair_count")
  }

  /** Segment a word column with an already-learned merge list.
    * Sequential rank-order passes are the canonical apply (and
    * provably what training itself produced for every in-vocabulary
    * word). The execution path is the native `bpe_segment` kernel
    * (graft.functions.BpeSegment): the merge list travels as ONE flat
    * array<string> literal and the rank-order loop runs in plain JVM
    * code — at a production 32k-merge vocabulary the
    * [[segmentChain]] rendition is a 32k-deep nested StringReplace
    * tree (MiB-scale task binaries, codegen bails, analyzer cost
    * superlinear in depth: the PQ-kernel pathology class, PLANS.md
    * round 11), while the kernel's plan size is O(vocabulary bytes).
    * Bit-identical to the chain — property-gated by KernelProperties. */
  def segment(word: Column, merges: Seq[Merge]): Column =
    call_function("bpe_segment", word,
      typedLit(merges.sortBy(_.rank).flatMap(m => Seq(m.leftSym, m.rightSym))))

  /** The composable replace-chain rendition of [[segment]] — one
    * codegen'd StringReplace per merge, row-local. RETAINED as the
    * kernel's oracle-shaped twin (exactly like PqAssign's composable
    * rendition): correct at any merge count, but its expression tree
    * is one node PER MERGE, so it must never be used at production
    * vocabulary size. */
  def segmentChain(word: Column, merges: Seq[Merge]): Column =
    syms(merges.sortBy(_.rank).foldLeft(segInit(word)) {
      (seg, m) => applyMerge(seg, m.leftSym, m.rightSym)
    })

  /** Per-document BPE token counts over the trainable domain: the
    * distinct-word table is segmented ONCE (|vocab| replace chains,
    * not one per occurrence), then the per-word symbol count joins
    * back to the exploded occurrence stream and sums per doc. The
    * occurrence stream is deliberately NOT pinned although both join
    * arms derive from it: it is corpus-token-sized, so re-tokenizing
    * in two subtrees is the cheaper trade (contrast epochMaterialize,
    * whose pinned profile is doc-sized). */
  def encodedTokenCounts(docs: DataFrame, merges: Seq[Merge],
                         textCol: String = "text",
                         idCol: String = "doc_id",
                         domain: Domain = LetterWords): DataFrame = {
    val occurrences = docs
      .select(col(idCol), explode(split(TextDedup.normalize(col(textCol)), " ")).as("word"))
      .filter(domain.keep(col("word")))
      .select(col(idCol), domain.seed(col("word")).as("word"))
    val perWord = occurrences.select("word").distinct()
      .select(col("word"), size(segment(col("word"), merges)).cast("long").as("word_syms"))
    occurrences.join(perWord, Seq("word"))
      .groupBy(idCol).agg(sum(col("word_syms")).as("bpe_tokens"))
  }

  // ------------------------------------------------------------------
  // Tokenize-to-ids: the artifact a training run actually consumes
  // ------------------------------------------------------------------

  /** Vocab id for symbols outside the table — the UNK convention. A
    * word whose code points never appeared in the TRAINING corpus can
    * surface a seed symbol the vocab lacks at encode time. */
  val UnkId: Long = -1L

  /** The tokenizer VOCAB: one (symbol, id) row per symbol — the seed
    * alphabet (every distinct code point of the trainable word table,
    * ids in the engines' shared binary UTF-8 sort order) followed by
    * each merge's output string in rank order. A later merge CAN
    * manufacture a string an earlier entry already owns ((a,bc) and
    * (ab,c) both make "abc") — first occurrence keeps the id, so the
    * symbol→id map is a function. k-sized by definition (|alphabet| +
    * |merges| rows): the sorted-collect bootstrap is the same
    * driver-k-sized class as the centroid/codebook pulls. */
  def vocabTable(docs: DataFrame, merges: Seq[Merge], textCol: String = "text",
                 domain: Domain = LetterWords): DataFrame =
    vocabTableOnWords(docs.sparkSession, wordCounts(docs, textCol, domain), merges)

  /** [[vocabTable]] over an already-computed (word, freq) table — the
    * other half of the one-word-count seam: the seed alphabet is a
    * projection of the word table, so a caller that just trained on it
    * never re-scans the corpus to derive the vocab. Collects eagerly
    * (the vocab is k-sized by definition), so the word table's pin may
    * release as soon as this returns. */
  def vocabTableOnWords(spark: org.apache.spark.sql.SparkSession,
                        wordTable: DataFrame, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    val seeds = wordTable
      .select(explode(split(col("word"), "")).as("symbol"))
      .filter(length(col("symbol")) > 0).distinct()
      .orderBy("symbol") // engine-side binary order — never Java UTF-16 compareTo
      .as[String].collect()
    val seen = scala.collection.mutable.LinkedHashSet(seeds.toSeq: _*)
    merges.sortBy(_.rank).foreach(m => seen += (m.leftSym + m.rightSym))
    seen.toSeq.zipWithIndex
      .map { case (sym, i) => (sym, i.toLong) }
      .toDF("symbol", "id")
  }

  /** Train AND derive the vocab from ONE corpus word count — the fused
    * form every tokenizer publish should use: [[trainBatched]] and
    * [[vocabTable]] each begin with [[wordCounts]], so calling them
    * back to back scans the corpus twice for the same |vocab|-bounded
    * table. Here the word table is computed once, pinned, consumed by
    * both, and released before returning (the vocab collects eagerly).
    * Results are byte-identical to the unfused pair: wordCounts is
    * deterministic, and both consumers run their exact unfused logic
    * over it. */
  def trainBatchedWithVocab(docs: DataFrame, numMerges: Int,
                            batchSize: Int = 64, minPairCount: Long = 2L,
                            textCol: String = "text",
                            domain: Domain = LetterWords)
      : (Seq[Merge], DataFrame) = {
    val words = wordCounts(docs, textCol, domain).localCheckpoint(true)
    try {
      val merges = trainBatchedOnWords(words, numMerges, batchSize, minPairCount)
      (merges, vocabTableOnWords(docs.sparkSession, words, merges))
    } finally releasePin(words)
  }

  /** (doc_id, token_ids): the SHIPPABLE tokenization — what a training
    * run consumes against the vocab table, where [[encodedTokenCounts]]
    * ships only the budget arithmetic. The distinct-word table is
    * segmented ONCE through the native kernel, each word's symbols map
    * to vocab ids ([[UnkId]] for out-of-vocab seeds — impossible when
    * encoding the training corpus itself, pinned by spec for new text),
    * and the per-word id arrays join back to the positional occurrence
    * stream and flatten in token order. Same two-subtree trade as
    * encodedTokenCounts: the occurrence stream is corpus-token-sized,
    * so re-tokenizing in both join arms beats pinning it; the id map
    * is |vocab|-bounded and broadcasts. */
  def tokenizeIds(docs: DataFrame, merges: Seq[Merge], vocab: DataFrame,
                  textCol: String = "text", idCol: String = "doc_id",
                  domain: Domain = LetterWords): DataFrame = {
    val occurrences = docs
      .select(col(idCol),
        posexplode(split(TextDedup.normalize(col(textCol)), " ")).as(Seq("pos", "word")))
      .filter(domain.keep(col("word")))
      .select(col(idCol), col("pos"), domain.seed(col("word")).as("word"))
    val wordIds = occurrences.select("word").distinct()
      .select(col("word"),
        posexplode(segment(col("word"), merges)).as(Seq("sym_pos", "symbol")))
      .join(broadcast(vocab.select(col("symbol"), col("id"))), Seq("symbol"), "left")
      .groupBy("word")
      .agg(transform(
        array_sort(collect_list(struct(col("sym_pos"),
          coalesce(col("id"), lit(UnkId)).as("id")))),
        s => s.getField("id")).as("word_ids"))
    occurrences.join(wordIds, Seq("word"))
      .groupBy(idCol)
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("pos"), col("word_ids")))),
        p => p.getField("word_ids"))).as("token_ids"))
  }

  /** Fixed-length training sequences of REAL token ids — the last step
    * of train → vocab → tokenize: documents concatenate in `idCol`
    * order and slice at `seqLen` boundaries (the concat-then-slice
    * contract of [[Curation.packSegments]], but over materialized id
    * arrays instead of token counts). Emits (seq_no, token_ids);
    * every sequence except the final one carries exactly `seqLen` ids.
    *
    * Scale shape: the global offset is [[Curation.chunkedPrefix]]
    * (never an unpartitioned window), the straddle explode is
    * row-local and bounded by ceil(doc_tokens/seqLen)+1, and the
    * per-sequence reassembly is one hash-partitioned aggregate whose
    * groups are ≤ seqLen ids by construction. */
  def packIdSequences(tokenized: DataFrame, seqLen: Int = 2048,
                      chunkDocs: Int = 1024, idCol: String = "doc_id"): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    // pinned (the packEpoch discipline): the chunked prefix reads its
    // input twice (per-chunk window + chunk totals), and when
    // `tokenized` is a LIVE tokenizeIds plan re-evaluating it doubles
    // the whole segment/join materialization. At 100 TB the caller
    // passes the PUBLISHED tokenized table and the pin is a re-read of
    // stored blocks, not a recompute.
    val counted = tokenized.select(col(idCol), col("token_ids"),
      size(col("token_ids")).cast("long").as("token_count"))
      .localCheckpoint(true)
    // the straddle explode: a doc occupying global id range
    // [start, start+n) contributes its overlap to every seqLen window
    // it straddles — row-local, no shuffle of its own
    val start = col("__start")
    val end = col("__start") + col("token_count")
    val segStart = greatest(start, col("seq_no") * seqLen)
    val segEnd = least(end, (col("seq_no") + 1) * seqLen)
    Curation.chunkedPrefix(counted, idCol, chunkDocs)
      .filter(col("token_count") > 0)
      .withColumn("seq_no",
        explode(sequence(floor(start / seqLen).cast("long"),
          floor((end - 1) / seqLen).cast("long"))))
      .select(col("seq_no"), col(idCol).as("__d"),
        slice(col("token_ids"), (segStart - start + 1).cast("int"),
          (segEnd - segStart).cast("int")).as("__ids"))
      .groupBy("seq_no")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__d"), col("__ids")))),
        s => s.getField("__ids"))).as("token_ids"))
  }

  /** Pack the MATERIALIZED epoch stream as REAL id sequences — the
    * training batches themselves: [[Curation.epochMaterialize]] fixes
    * the shuffled position order and the per-source repetition, the
    * tokenized table supplies each doc's ids (repeated copies SHARE
    * one tokenization — the join fans out, never re-tokenizes), and
    * [[packIdSequences]] slices in POSITION order (its `idCol` seam —
    * positions are a dense permutation, so the chunked prefix is
    * uniformly loaded by construction). The epoch's `token_count`
    * equals `size(token_ids)` when both ride the same merges+domain —
    * spec-pinned, so the counts-path plan arithmetic and the shipped
    * batches can never drift apart. */
  def packEpochIds(epoch: DataFrame, tokenized: DataFrame,
                   seqLen: Int = 2048, chunkPositions: Int = 1024,
                   idCol: String = "doc_id"): DataFrame =
    packIdSequences(
      epoch.select(col("position"), col(idCol))
        .join(tokenized, Seq(idCol))
        .select(col("position"), col("token_ids")),
      seqLen, chunkPositions, idCol = "position")

  /** Decode id sequences back to text — the inspection/debug inverse
    * of [[tokenizeIds]] a curation run wants when auditing what a
    * packed sequence actually says. Ids map to vocab symbols
    * (broadcast — |vocab|-bounded), symbols concatenate in token
    * order, and the domain's [[Domain.unseed]] undoes the seed
    * rendition (identity except [[Bytes]], which re-reads the latin-1
    * byte chars as UTF-8). [[UnkId]] (or any id outside the vocab)
    * renders as U+FFFD. Inverse caveat shared with every word-model
    * tokenizer here: word BOUNDARIES are not tokens, so the decode is
    * the boundary-free concatenation of the kept words. */
  def decodeIds(tokenized: DataFrame, vocab: DataFrame,
                idCol: String = "doc_id",
                domain: Domain = LetterWords): DataFrame =
    tokenized
      .select(col(idCol), posexplode(col("token_ids")).as(Seq("pos", "id")))
      .join(broadcast(vocab.select(col("id"), col("symbol"))), Seq("id"), "left")
      .groupBy(idCol)
      .agg(domain.unseed(array_join(transform(
        array_sort(collect_list(struct(col("pos"),
          coalesce(col("symbol"), lit("�")).as("symbol")))),
        s => s.getField("symbol")), "")).as("text"))
}
