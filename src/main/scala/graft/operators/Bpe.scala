package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge TRAINING (Sennrich, Haddow & Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL'16) and
  * the matching segmentation of single words. No pipeline calls it:
  * it is the core of a deleted tokenizer stack, kept with its
  * reference-loop tests until it is cut in turn (ROADMAP item 4).
  *
  * The corpus is scanned ONCE into a (word, freq) table over
  * unicode-letter words of length ≥ 2. Every merge round is one
  * pair-count aggregate over that table plus a LIMIT 1 collect, and the
  * rewrite is a row-local string replace; the working table
  * localCheckpoints each round so lineage stays O(1).
  *
  * Segmentations travel as SEPARATOR STRINGS — `" h  e  l  l  o "`,
  * every symbol wrapped in its own leading+trailing space, symbols
  * joined by a two-space boundary. Applying merge (L,R) is then
  * EXACTLY `replace(seg, " L  R ", " LR ")`: SQL replace rewrites
  * non-overlapping occurrences left-to-right, which is precisely one
  * greedy BPE merge pass ("aaaa" + (a,a) → [aa,aa]), and the private
  * spaces make a partial-symbol match impossible. */
object Bpe {

  private def keep(word: Column): Column =
    word.rlike("^\\p{L}+$") && length(word) >= 2

  /** The ONE corpus-sized job: normalized-token word counts over the
    * trainable domain. (word, freq), |vocab|-bounded. */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(TextDedup.normalize(col(textCol)), " ")).as("word"))
      .filter(keep(col("word")))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** " h  e  l  l  o " — each symbol owns a leading AND trailing
    * space, so a replace pattern can never match inside a symbol. */
  private def segInit(word: Column): Column =
    concat(lit(" "),
      array_join(filter(split(word, ""), s => length(s) > 0), "  "),
      lit(" "))

  private def syms(seg: Column): Column = split(trim(seg), "  ")

  /** One greedy merge pass on a segment string: SQL replace is
    * left-to-right and non-overlapping — the BPE pass semantics. */
  private def applyMerge(seg: Column, l: String, r: String): Column =
    call_function("replace", seg, lit(s" $l  $r "), lit(s" ${l}${r} "))

  /** Adjacent-pair counts over a (seg, freq) table — weighted by word
    * frequency, overlapping occurrences counted (the Sennrich
    * get_stats convention). Map-side combinable. */
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

  final case class Merge(rank: Int, leftSym: String, rightSym: String, pairCount: Long)

  /** Learn `numMerges` merges: per round, the (count DESC, left ASC,
    * right ASC) argmax pair — fully deterministic — then one replace
    * pass over the |vocab|-sized table. Stops early when the best
    * pair's count falls below `minPairCount`. Each replaced round's pin
    * is released via [[graft.plans.Catalog.releasePin]] once the next
    * round has materialized eagerly, so no blocks stay resident. */
  def train(docs: DataFrame, numMerges: Int, minPairCount: Long = 2L,
            textCol: String = "text"): Seq[Merge] = {
    var words = wordCounts(docs, textCol)
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
        val prev = words
        words = words.select(applyMerge(col("seg"), l, rr).as("seg"), col("freq"))
          .localCheckpoint(true)
        graft.plans.Catalog.releasePin(prev)
      }
      r += 1
    }
    graft.plans.Catalog.releasePin(words)
    out.toSeq
  }

  /** Segment a word column with an already-learned merge list:
    * sequential rank-order replace passes, one StringReplace per merge
    * — what training itself produced for every in-vocabulary word. The
    * expression tree grows with the merge count, so this suits small
    * merge lists only. */
  def segment(word: Column, merges: Seq[Merge]): Column =
    syms(merges.sortBy(_.rank).foldLeft(segInit(word)) {
      (seg, m) => applyMerge(seg, m.leftSym, m.rightSym)
    })
}
