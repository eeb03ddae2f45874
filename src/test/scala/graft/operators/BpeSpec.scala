package graft.operators

import graft.SparkSpec

/** BPE training/apply vs a from-first-principles driver reference
  * (the Sennrich get_stats + greedy-pass merge loop on plain Scala
  * collections): the distributed separator-string algebra must
  * reproduce the reference merge sequence, counts, and segmentations
  * exactly — including overlap handling ("aaaa" + (a,a) → [aa,aa]),
  * deterministic tie-breaks, and words collapsing to one symbol. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  // ---- reference implementation (independent algebra: symbol
  // vectors, not separator strings) ----

  private def refPass(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  private def refTrain(words: Map[String, Long], numMerges: Int,
                       minPairCount: Long = 2L): (Seq[(String, String, Long)], Map[String, Vector[String]]) = {
    var segs: Map[String, Vector[String]] =
      words.keys.map(w => w -> w.split("").filter(_.nonEmpty).toVector).toMap
    val merges = Seq.newBuilder[(String, String, Long)]
    var done = false
    var round = 0
    while (round < numMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, syms) <- segs; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + words(w)
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (c < minPairCount) done = true
        else {
          merges += ((l, r, c))
          segs = segs.map { case (w, syms) => w -> refPass(syms, l, r) }
        }
      }
      round += 1
    }
    (merges.result(), segs)
  }

  private def refWordCounts(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(_.toLowerCase.trim.split("\\s+"))
      .filter(w => w.matches("^[a-z]+$") && w.length >= 2)
      .groupBy(identity).map { case (w, o) => w -> o.size.toLong }

  private def trainBoth(texts: Seq[String], n: Int): (Seq[Bpe.Merge], Seq[(String, String, Long)], Map[String, Vector[String]]) = {
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = Bpe.train(df, numMerges = n)
    val (want, segs) = refTrain(refWordCounts(texts), n)
    (got, want, segs)
  }

  test("train reproduces the reference merge loop, counts included") {
    val texts = Seq(
      "the cat sat on the mat with the other cat",
      "that hat that cat wore is the hat the cat hid",
      "low lower lowest newer newest wider widest")
    val (got, want, _) = trainBoth(texts, 8)
    assert(got.map(m => (m.leftSym, m.rightSym, m.pairCount)) == want,
      s"merge sequences diverge:\n got=$got\nwant=$want")
    assert(got.map(_.rank) == (1 to got.length))
  }

  test("overlapping pairs: counted with overlap, merged greedily non-overlapping") {
    // one word "aaaa" x3: pair (a,a) counts 3 occurrences x 3 freq = 9
    // (overlap counted), but ONE pass merges to [aa,aa]; round 2 then
    // merges (aa,aa).
    val texts = Seq("aaaa aaaa aaaa")
    val (got, want, segs) = trainBoth(texts, 3)
    assert(got.map(m => (m.leftSym, m.rightSym, m.pairCount)) == want)
    assert(got.head == Bpe.Merge(1, "a", "a", 9L))
    assert(got(1) == Bpe.Merge(2, "aa", "aa", 3L))
    assert(segs("aaaa") == Vector("aaaa"))
    // the word collapsed to ONE symbol -> no further pairs: training
    // stopped after 2 merges even though 3 were requested
    assert(got.length == 2)
  }

  test("tie-break is (count desc, left asc, right asc) — the oracle's ordering") {
    // "ab" and "ba" both appear twice; (a,b) must win rank 1
    val texts = Seq("ab ab ba ba")
    val (got, want, _) = trainBoth(texts, 1)
    assert(got.map(m => (m.leftSym, m.rightSym, m.pairCount)) == want)
    assert(got.head.leftSym == "a" && got.head.rightSym == "b")
  }

  test("random corpora: full merge sequence and segmentations match the reference") {
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abc"
      def word() = (0 until (1 + rnd.nextInt(6)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val texts = (0 until 12).map(_ => (0 until (2 + rnd.nextInt(8))).map(_ => word()).mkString(" "))
      val (got, want, segs) = trainBoth(texts, 6)
      assert(got.map(m => (m.leftSym, m.rightSym, m.pairCount)) == want,
        s"seed $seed: got=$got want=$want")
      // apply-side parity: segment() reproduces the reference segs
      val words = refWordCounts(texts).keys.toSeq.sorted
      if (words.nonEmpty && got.nonEmpty) {
        val appl = words.toDF("word")
          .select($"word", Bpe.segment($"word", got).as("s"))
          .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector).toMap
        words.foreach { w =>
          assert(appl(w) == segs(w), s"seed $seed word '$w': ${appl(w)} vs ${segs(w)}")
        }
      }
    }
  }

  test("train releases every per-round checkpoint: no resident blocks after it returns") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, "that cat hid the hat"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Bpe.train(df, numMerges = 6)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"train leaked ${leaked.size} pinned RDDs: $leaked")
  }
}
