package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

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

  test("trainBatched == train on corpora WITH conflicts in the top-B") {
    // English-ish text: the top char pairs share h/e/t, so the walk's
    // first-conflict stop and strict count bound must both bite while
    // the sequence stays exactly sequential
    val texts = Seq(
      "the cat sat on the mat with the other cat",
      "that hat that cat wore is the hat the cat hid",
      "low lower lowest newer newest wider widest")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val seq = Bpe.train(df, numMerges = 12)
    for (b <- Seq(2, 4, 8, 64)) {
      val bat = Bpe.trainBatched(df, numMerges = 12, batchSize = b)
      assert(bat == seq, s"batchSize=$b diverges:\n bat=$bat\n seq=$seq")
    }
  }

  test("trainBatched == reference on random tiny-alphabet corpora (conflict-dense)") {
    // a 3-letter alphabet makes nearly every top pair share symbols and
    // makes merges CREATE high-count pairs — the adversarial regime for
    // the new-pair domination argument
    for (seed <- Seq(1, 7, 42, 99, 123); b <- Seq(2, 5, 32)) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abc"
      def word() = (0 until (1 + rnd.nextInt(6)))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      val texts = (0 until 12).map(_ => (0 until (2 + rnd.nextInt(8))).map(_ => word()).mkString(" "))
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val bat = Bpe.trainBatched(df, numMerges = 8, batchSize = b)
      val (want, _) = refTrain(refWordCounts(texts), 8)
      assert(bat.map(m => (m.leftSym, m.rightSym, m.pairCount)) == want,
        s"seed=$seed batchSize=$b: bat=$bat want=$want")
    }
  }

  test("trainBatched == train when a SELF-PAIR dominates (ababab… runs)") {
    // the adversarial case for the conflict-bound argument: merging the
    // self-pair (ab,ab) CREATES (abab,ab)/(abab,abab) whose counts are
    // bounded by the accepted pair itself — far above the first
    // conflict — so a batch that accepts anything after the self-pair
    // diverges from the sequential loop (caught by the Bytes-drift
    // gate's patterned fixture; a self-pair must close its batch)
    def suffix(i: Int, j: Int) = f"${(i * 31 + j * 7) % 100000}%05d"
      .map(c => ('a' + (c - '0') % 10).toChar).mkString
    val texts = (0 until 20).map(i =>
      (0 until 6).map(j => "ababababab" + suffix(i, j)).mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val seq = Bpe.train(df, numMerges = 8)
    for (b <- Seq(2, 8, 64)) {
      val bat = Bpe.trainBatched(df, numMerges = 8, batchSize = b)
      assert(bat == seq, s"batchSize=$b diverges:\n bat=$bat\n seq=$seq")
    }
  }

  test("trainBatched actually batches: disjoint-pair corpus learns all merges in one round") {
    // frequencies strictly separate xy > qr > vw and the pairs share no
    // symbols — one round must accept 2 of them (the last collected row
    // caps the bound, holding vw back one round), still == sequential
    val texts = Seq(Seq.fill(9)("xy").mkString(" "), Seq.fill(7)("qr").mkString(" "),
      Seq.fill(5)("vw").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val seq = Bpe.train(df, numMerges = 3)
    val bat = Bpe.trainBatched(df, numMerges = 3, batchSize = 8)
    assert(bat == seq, s"bat=$bat seq=$seq")
    assert(bat.map(m => (m.leftSym, m.rightSym)) ==
      Seq(("x", "y"), ("q", "r"), ("v", "w")))
  }

  test("trainBatched releases every per-round checkpoint") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, "that cat hid the hat"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Bpe.trainBatched(df, numMerges = 6, batchSize = 4)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"trainBatched leaked ${leaked.size} pinned RDDs: $leaked")
  }

  test("trainBatchedWithVocab == (trainBatched, vocabTable) — the fused word count changes nothing") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, "that cat hid the hat"),
      (3L, "zür ich café café zür"))
      .toDF("doc_id", "text")
    for (domain <- Seq(Bpe.LetterWords, Bpe.AllTokens, Bpe.Bytes)) {
      val (fm, fv) = Bpe.trainBatchedWithVocab(df, numMerges = 8, domain = domain)
      val um = Bpe.trainBatched(df, numMerges = 8, domain = domain)
      assert(fm == um, s"fused merges diverged under $domain")
      val uv = Bpe.vocabTable(df, um, domain = domain)
      assert(fv.orderBy("id").collect().toSeq == uv.orderBy("id").collect().toSeq,
        s"fused vocab diverged under $domain")
    }
  }

  test("trainBatchedWithVocab releases the shared word-table pin") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, "that cat hid the hat"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Bpe.trainBatchedWithVocab(df, numMerges = 6)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"trainBatchedWithVocab leaked ${leaked.size} pinned RDDs: $leaked")
  }

  test("train releases every per-round checkpoint: no resident blocks after it returns") {
    val df = Seq((1L, "the cat sat on the mat"), (2L, "that cat hid the hat"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Bpe.train(df, numMerges = 6)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"train leaked ${leaked.size} pinned RDDs: $leaked")
  }

  test("non-ASCII sources train, encode, and earn a NON-ZERO epoch target") {
    // the round-11 ^[a-z]+$ domain made every non-ASCII word contribute
    // ZERO BPE tokens, so a non-English source's tokenizer-aware epoch
    // target silently collapsed — the widened ^\p{L}+$ domain must give
    // it real weight
    import spark.implicits._
    val docs = Seq(
      (1L, "the data table scan the data", "en"),
      (2L, "данные таблица скан данные поток данные", "ru"),
      (3L, "données flux données modèle données", "fr")).toDF("doc_id", "text", "source")
    val merges = Bpe.train(docs, numMerges = 4)
    assert(merges.nonEmpty)
    // cyrillic/accented words are IN the trainable domain now
    val counts = Bpe.encodedTokenCounts(docs, merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(2L, 0L) > 0L, s"cyrillic doc must encode to >0 BPE tokens: $counts")
    assert(counts.getOrElse(3L, 0L) > 0L, s"accented doc must encode to >0 BPE tokens: $counts")
    val plan = Curation.epochPlan(docs, budgetTokens = 1000L, merges = merges)
      .select("source", "target_tokens")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plan("ru") > 0L, s"non-ASCII source must earn a non-zero epoch target: $plan")
    assert(plan("fr") > 0L, s"non-ASCII source must earn a non-zero epoch target: $plan")
  }

  test("encodedTokenCounts sums the per-occurrence symbol counts over the trainable domain") {
    val texts = Seq(
      "aa bb aa cc 123 X?",     // '123'/'X?' outside the domain
      "bb bb aa")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.train(df, numMerges = 2)
    val (_, segs) = refTrain(refWordCounts(texts), 2)
    val wantPerDoc = texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> t.toLowerCase.trim.split("\\s+")
        .filter(w => w.matches("^[a-z]+$") && w.length >= 2)
        .map(w => segs(w).length.toLong).sum
    }.toMap
    val got = Bpe.encodedTokenCounts(df, merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == wantPerDoc, s"$got vs $wantPerDoc")
  }

  test("CODE-LIKE sources read zero under LetterWords and earn a NON-ZERO epoch target under AllTokens") {
    // the AllTokens fallback exists for exactly this bias: digits,
    // punctuation, code, and UNSEGMENTED CJK (real CJK text has no
    // spaces, so its tokens carry fullwidth punctuation and digits
    // inside — `\p{L}` alone can't admit them) contribute ZERO
    // letter-words, so a code-heavy source's tokenizer-aware epoch
    // target collapses — one ring beyond the round-12 unicode widening
    val docs = Seq(
      (1L, "the data table scan the data", "en"),
      (2L, "x = f(3, 7); y += 42; x = f(3, 7); 0xff", "code"),
      (3L, "你好，世界。 数据123。 你好，世界。 数据123。", "zh")).toDF("doc_id", "text", "source")
    val letters = Bpe.encodedTokenCounts(docs, Bpe.train(docs, numMerges = 2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(letters.getOrElse(2L, 0L) == 0L && letters.getOrElse(3L, 0L) == 0L,
      s"letters domain must read zero on code/CJK (the bias under test): $letters")
    val merges = Bpe.train(docs, numMerges = 4, domain = Bpe.AllTokens)
    val counts = Bpe.encodedTokenCounts(docs, merges, domain = Bpe.AllTokens)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(2L, 0L) > 0L, s"code doc must encode to >0 tokens: $counts")
    assert(counts.getOrElse(3L, 0L) > 0L, s"CJK doc must encode to >0 tokens: $counts")
    val plan = Curation.epochPlan(docs, budgetTokens = 1000L, merges = merges,
        domain = Bpe.AllTokens)
      .select("source", "target_tokens")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plan("code") > 0L, s"code source must earn a non-zero epoch target: $plan")
    assert(plan("zh") > 0L, s"CJK source must earn a non-zero epoch target: $plan")
  }

  test("AllTokens training matches the reference loop over the widened domain") {
    val texts = Seq("ab ab 12 12 12 x? x? 你好 你好 你好", "12 ab 你好 x?")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val words = texts.flatMap(_.toLowerCase.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val (wantMerges, segs) = refTrain(words, 4)
    val got = Bpe.train(df, numMerges = 4, domain = Bpe.AllTokens)
      .map(m => (m.leftSym, m.rightSym, m.pairCount))
    assert(got == wantMerges, s"$got vs $wantMerges")
    val wantPerDoc = texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        .map(w => segs(w).length.toLong).sum
    }.toMap
    val counts = Bpe.encodedTokenCounts(df,
        Bpe.train(df, numMerges = 4, domain = Bpe.AllTokens), domain = Bpe.AllTokens)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == wantPerDoc, s"$counts vs $wantPerDoc")
  }

  test("vocabTable: seed alphabet in binary order, merge outputs in rank order, duplicates keep the first id") {
    val df = Seq((1L, "abc abc abc bc bc ab")).toDF("doc_id", "text")
    // hand-built merge list where TWO merges manufacture the same string:
    // (a,bc) and (ab,c) both produce "abc" — the id must go to rank 2
    val merges = Seq(Bpe.Merge(1, "b", "c", 5), Bpe.Merge(2, "a", "bc", 3),
      Bpe.Merge(3, "a", "b", 1), Bpe.Merge(4, "ab", "c", 1))
    val vocab = Bpe.vocabTable(df, merges)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // seeds a < b < c get 0,1,2; then bc=3, abc=4 (rank 2), ab=5; rank 4's
    // "abc" is already present — no new row
    assert(vocab == Map("a" -> 0L, "b" -> 1L, "c" -> 2L,
      "bc" -> 3L, "abc" -> 4L, "ab" -> 5L), vocab.toString)
  }

  test("tokenizeIds: per-token id arrays flatten in token order; unseen code points map to UnkId") {
    val train = Seq((1L, "hello hello world world hello")).toDF("doc_id", "text")
    val merges = Bpe.train(train, numMerges = 3)
    val vocab = Bpe.vocabTable(train, merges)
    val idToSym = vocab.collect().map(r => r.getLong(1) -> r.getString(0)).toMap
    // encode the training corpus itself: re-expanding ids through the
    // vocab must reproduce the concatenated segmentations in order
    val out = Bpe.tokenizeIds(train, merges, vocab)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val wantSyms = "hello hello world world hello".split(" ")
      .flatMap(w => Bpe.train(train, numMerges = 3) // same merges
        .foldLeft(w.split("").toVector) { (s, m) => refPass(s, m.leftSym, m.rightSym) })
    assert(out(1L).map(idToSym) == wantSyms.toSeq, s"${out(1L).map(idToSym)} vs ${wantSyms.toSeq}")
    // NEW text with a code point the training corpus never saw → UnkId
    val fresh = Seq((9L, "hellq")).toDF("doc_id", "text") // q unseen
    val got = Bpe.tokenizeIds(fresh, merges, vocab).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(9L).contains(Bpe.UnkId), s"unseen code point must map to UnkId: $got")
    assert(got(9L).count(_ == Bpe.UnkId) == 1, got.toString)
  }

  test("packIdSequences: exact seqLen slices whose concatenation is the doc_id-ordered id stream") {
    val docs = Seq(
      (1L, "aa bb aa bb aa"), (2L, "bb aa bb"), (3L, "aa aa aa aa"), (4L, "bb bb"))
      .toDF("doc_id", "text")
    val merges = Bpe.train(docs, numMerges = 1)
    val vocab = Bpe.vocabTable(docs, merges)
    val tokenized = Bpe.tokenizeIds(docs, merges, vocab)
    val byDoc = tokenized.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val global = byDoc.toSeq.sortBy(_._1).flatMap(_._2)
    for (seqLen <- Seq(3, 4, 7)) {
      val seqs = Bpe.packIdSequences(tokenized, seqLen = seqLen, chunkDocs = 2)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
      assert(seqs.map(_._1).toSeq == seqs.indices.map(_.toLong),
        s"seq_nos must be dense from 0: ${seqs.map(_._1).toSeq}")
      assert(seqs.init.forall(_._2.length == seqLen),
        s"every sequence but the last must carry exactly $seqLen ids (seqLen=$seqLen)")
      assert(seqs.flatMap(_._2).toSeq == global,
        s"concatenated sequences must equal the global stream (seqLen=$seqLen)")
    }
  }

  private def byteSeed(w: String): String =
    new String(w.getBytes("UTF-8").map(b => (b & 0xFF).toChar))

  test("Bytes domain: training matches the reference loop over byte-seeded words") {
    val texts = Seq("héllo héllo 你好 你好 你好 x1! x1!", "你好 héllo x1! 🙂 🙂 🙂")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    // reference: seed each kept token's BYTE rendition, then the
    // untouched Sennrich loop — byte-level only changes the seeds
    val words = texts.flatMap(_.toLowerCase.trim.split("\\s+")).filter(_.nonEmpty)
      .map(byteSeed).groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val (wantMerges, segs) = refTrain(words, 5)
    val got = Bpe.train(df, numMerges = 5, domain = Bpe.Bytes)
      .map(m => (m.leftSym, m.rightSym, m.pairCount))
    assert(got == wantMerges, s"$got vs $wantMerges")
    val wantPerDoc = texts.zipWithIndex.map { case (t, i) =>
      i.toLong -> t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        .map(w => segs(byteSeed(w)).length.toLong).sum
    }.toMap
    val counts = Bpe.encodedTokenCounts(df,
        Bpe.train(df, numMerges = 5, domain = Bpe.Bytes), domain = Bpe.Bytes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts == wantPerDoc, s"$counts vs $wantPerDoc")
  }

  test("Bytes domain: tokenize → decode roundtrip reconstructs kept words (CJK, emoji, digits)") {
    val texts = Map(1L -> "Héllo 你好，世界 42x 🙂🙂 done", 2L -> "x = f(3); 0xFF")
    val df = texts.toSeq.toDF("doc_id", "text")
    val merges = Bpe.train(df, numMerges = 6, domain = Bpe.Bytes)
    val vocab = Bpe.vocabTable(df, merges, domain = Bpe.Bytes)
    val decoded = Bpe.decodeIds(
        Bpe.tokenizeIds(df, merges, vocab, domain = Bpe.Bytes), vocab,
        domain = Bpe.Bytes)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // word boundaries are not tokens: the inverse is the boundary-free
    // concatenation of the kept normalized words
    def kept(t: String) = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).mkString("")
    assert(decoded == texts.map { case (id, t) => id -> kept(t) },
      decoded.toString)
  }

  test("Bytes domain: an unseen BYTE maps to UnkId; the alphabet stays byte-bounded") {
    val train = Seq((1L, "abc abc cab")).toDF("doc_id", "text")
    val merges = Bpe.train(train, numMerges = 2, domain = Bpe.Bytes)
    val vocab = Bpe.vocabTable(train, merges, domain = Bpe.Bytes)
    // é encodes to the two bytes C3 A9 — both unseen in the ascii-only
    // corpus; c/a/b are seen, so exactly 2 UNKs
    val fresh = Seq((9L, "cabé")).toDF("doc_id", "text")
    val got = Bpe.tokenizeIds(fresh, merges, vocab, domain = Bpe.Bytes)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(9L).count(_ == Bpe.UnkId) == 2, got.toString)
    // seed rows (single-char symbols) are all latin-1 byte chars
    val seeds = vocab.collect().map(_.getString(0)).filter(_.length == 1)
    assert(seeds.forall(_.charAt(0) <= 0xFF), seeds.mkString(","))
  }

  test("Bytes domain: code and CJK sources earn non-zero epoch targets") {
    val docs = Seq(
      (1L, "the data table scan the data", "en"),
      (2L, "x = f(3, 7); y += 42; x = f(3, 7); 0xff", "code"),
      (3L, "你好，世界。 数据123。 你好，世界。 数据123。", "zh")).toDF("doc_id", "text", "source")
    val merges = Bpe.train(docs, numMerges = 4, domain = Bpe.Bytes)
    val plan = Curation.epochPlan(docs, budgetTokens = 1000L, merges = merges,
        domain = Bpe.Bytes)
      .select("source", "target_tokens")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plan("code") > 0L, s"code source must earn a non-zero epoch target: $plan")
    assert(plan("zh") > 0L, s"CJK source must earn a non-zero epoch target: $plan")
  }

  test("packEpochIds: the epoch stream packs as REAL ids; plan counts equal shipped ids per copy") {
    val docs = Seq((1L, "aa bb aa", "s1"), (2L, "bb aa", "s1"), (3L, "aa aa bb aa", "s2"))
      .toDF("doc_id", "text", "source")
    val merges = Bpe.train(docs, numMerges = 1)
    val vocab = Bpe.vocabTable(docs, merges)
    val tokenized = Bpe.tokenizeIds(docs, merges, vocab)
    val epoch = Curation.epochMaterialize(docs, budgetTokens = 40L, seed = 7L,
      merges = merges)
    // the counts-path plan arithmetic and the shipped batches can
    // never drift: same merges -> token_count == len(ids), every copy
    val joined = epoch.join(tokenized, Seq("doc_id"))
      .select(col("position"), col("token_count"),
        size(col("token_ids")).cast("long").as("n")).collect()
    assert(joined.nonEmpty && joined.forall(r => r.getLong(1) == r.getLong(2)),
      joined.mkString(";"))
    // hand composition: ids flatten in shuffled POSITION order
    // (repeated copies re-emit their doc's ids) and slice exactly
    val byDoc = tokenized.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val stream = epoch.orderBy("position").collect()
      .map(_.getAs[Long]("doc_id")).flatMap(byDoc).toSeq
    val got = Bpe.packEpochIds(epoch, tokenized, seqLen = 5, chunkPositions = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
    assert(got.flatMap(_._2).toSeq == stream, s"${got.toSeq} vs $stream")
    assert(got.init.forall(_._2.length == 5))
    assert(got.map(_._1).toSeq == got.indices.map(_.toLong))
  }

  test("decodeIds inverts tokenizeIds on identity domains; out-of-vocab ids render U+FFFD") {
    val train = Seq((1L, "hello hello world world hello")).toDF("doc_id", "text")
    val merges = Bpe.train(train, numMerges = 3)
    val vocab = Bpe.vocabTable(train, merges)
    val decoded = Bpe.decodeIds(Bpe.tokenizeIds(train, merges, vocab), vocab)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(decoded(1L) == "hellohelloworldworldhello", decoded.toString)
    val fresh = Seq((9L, "hellq")).toDF("doc_id", "text") // q unseen
    val d2 = Bpe.decodeIds(Bpe.tokenizeIds(fresh, merges, vocab), vocab)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d2(9L).count(_ == '�') == 1, d2.toString)
  }
}
