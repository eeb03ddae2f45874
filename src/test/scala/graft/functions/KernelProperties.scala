package graft.functions

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** Generator-driven adversarial coverage for the native Catalyst
  * kernels: each property batches ~30 random inputs into ONE DataFrame
  * and compares the kernel column (whole-stage codegen path) against a
  * driver-side reference implementing the documented semantics —
  * duplicates collapse, a null element common to both sides counts
  * once, empty-set ratios are NaN, winnowing treats null as +inf with
  * rightmost tie-break. The targeted unit specs pin hand-picked edges;
  * these walk the input space around them.
  */
class KernelProperties extends Properties("kernels") {

  // each case is a full Spark job over a ~30-row local relation
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = graft.SparkSpec.session

  // long arrays with heavy duplication, occasional extremes, and nulls
  private val genArr: Gen[Seq[Option[Long]]] = for {
    n <- Gen.choose(0, 50)
    vals <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.choose(-40L, 40L).map(v => Some(v)),
      2 -> Gen.choose(Long.MinValue, Long.MaxValue).map(v => Some(v)),
      1 -> Gen.const(None: Option[Long])))
  } yield vals

  private val genBatch: Gen[List[(Seq[Option[Long]], Seq[Option[Long]])]] =
    Gen.listOfN(30, Gen.zip(genArr, genArr))

  private def refSets(a: Seq[Option[Long]]): (Set[Long], Boolean) =
    (a.flatten.toSet, a.contains(None))

  private def refJaccard(a: Seq[Option[Long]], b: Seq[Option[Long]]): Double = {
    val (aS, aN) = refSets(a); val (bS, bN) = refSets(b)
    val inter = (aS & bS).size + (if (aN && bN) 1 else 0)
    val union = (aS.size + (if (aN) 1 else 0)) + (bS.size + (if (bN) 1 else 0)) - inter
    inter.toDouble / union // 0/0 -> NaN, by design
  }

  private def refContain(a: Seq[Option[Long]], b: Seq[Option[Long]]): Double = {
    val (aS, aN) = refSets(a); val (bS, bN) = refSets(b)
    val inter = (aS & bS).size + (if (aN && bN) 1 else 0)
    inter.toDouble / (aS.size + (if (aN) 1 else 0))
  }

  private def sameDouble(x: Double, y: Double): Boolean =
    java.lang.Double.compare(x, y) == 0 // NaN == NaN, -0.0 != 0.0

  private def pairResults(batch: List[(Seq[Option[Long]], Seq[Option[Long]])],
                          fn: String): Seq[Double] = {
    import spark.implicits._
    batch.toDF("a", "b")
      .select(call_function(fn, $"a", $"b").as("v"))
      .collect().map(_.getDouble(0)).toSeq
  }

  property("jaccard_long_sets matches the Set reference (dups, nulls, extremes)") =
    Prop.forAll(genBatch) { batch =>
      pairResults(batch, "jaccard_long_sets")
        .zip(batch.map { case (a, b) => refJaccard(a, b) })
        .forall { case (got, want) => sameDouble(got, want) }
    }

  property("jaccard_long_sets is symmetric") = Prop.forAll(genBatch) { batch =>
    pairResults(batch, "jaccard_long_sets")
      .zip(pairResults(batch.map(_.swap), "jaccard_long_sets"))
      .forall { case (ab, ba) => sameDouble(ab, ba) }
  }

  property("contain_long_sets matches the Set reference") =
    Prop.forAll(genBatch) { batch =>
      pairResults(batch, "contain_long_sets")
        .zip(batch.map { case (a, b) => refContain(a, b) })
        .forall { case (got, want) => sameDouble(got, want) }
    }

  property("set kernels are invariant under element order and duplication") =
    Prop.forAll(genBatch, Gen.choose(0L, 10000L)) { (batch, seed) =>
      val rnd = new scala.util.Random(seed)
      val mangled = batch.map { case (a, b) =>
        // shuffle + duplicate a random slice: the DISTINCT-set value
        // is untouched, so both ratios must be bit-identical
        def mangle(x: Seq[Option[Long]]) =
          rnd.shuffle(x ++ (if (x.isEmpty) Nil else Seq.fill(rnd.nextInt(5))(x(rnd.nextInt(x.length)))))
        (mangle(a), mangle(b))
      }
      pairResults(batch, "jaccard_long_sets").zip(pairResults(mangled, "jaccard_long_sets"))
        .forall { case (x, y) => sameDouble(x, y) } &&
      pairResults(batch, "contain_long_sets").zip(pairResults(mangled, "contain_long_sets"))
        .forall { case (x, y) => sameDouble(x, y) }
    }

  private def refWinnow(h: Seq[Option[Long]], w: Int): Seq[Int] = {
    // naive O(n*w) replay of the documented rule: null -> +inf,
    // rightmost min per window, consecutive dedup; n <= w -> the
    // single global rightmost argmin
    val vals = h.map(_.getOrElse(Long.MaxValue))
    if (vals.isEmpty) Seq.empty
    else if (vals.length <= w) {
      var best = 0
      for (i <- vals.indices) if (vals(i) <= vals(best)) best = i
      Seq(best + 1)
    } else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      for (p <- 0 to vals.length - w) {
        var best = p
        for (i <- p until p + w) if (vals(i) <= vals(best)) best = i
        val sel = best + 1
        if (out.isEmpty || out.last != sel) out += sel
      }
      out.toSeq
    }
  }

  property("winnow_positions matches the naive windowed reference") =
    Prop.forAll(Gen.listOfN(30, genArr), Gen.choose(1, 8)) { (arrs, w) =>
      import spark.implicits._
      val got = arrs.toDF("h")
        .select(call_function("winnow_positions", $"h", lit(w)).as("p"))
        .collect().map(_.getSeq[Int](0).toSeq)
      got.zip(arrs.map(refWinnow(_, w))).forall { case (g, r) => g == r }
    }

  private val genText: Gen[String] = for {
    n <- Gen.choose(0, 40)
    words <- Gen.listOfN(n, Gen.frequency(
      6 -> Gen.oneOf("alpha", "beta", "gamma", "delta", "x", "y"),
      1 -> Gen.alphaNumStr.map(_.take(12))))
  } yield words.mkString(" ")

  property("native simhash64 equals the fold rendition on random text") =
    Prop.forAll(Gen.listOfN(30, genText)) { texts =>
      import spark.implicits._
      import graft.operators.TextDedup
      texts.toDF("text")
        .select(TextDedup.simhash64($"text").as("native"),
          TextDedup.simhash64Hof($"text").as("hof"))
        .collect().forall(r => r.isNullAt(0) == r.isNullAt(1) &&
          (r.isNullAt(0) || r.getLong(0) == r.getLong(1)))
    }

  property("word_ngrams equals the composable slice rendition on random token arrays") =
    Prop.forAll(Gen.listOfN(30, genText), Gen.choose(1, 4)) { (texts, n) =>
      import spark.implicits._
      import graft.operators.Curation
      val toks = split(graft.operators.TextDedup.normalize($"text"), " ")
      texts.toDF("text")
        .select(call_function("word_ngrams", toks, lit(n)).as("native"),
          Curation.ngramsComposable(toks, n).as("comp"))
        .collect()
        .forall(r => r.getSeq[String](0) == r.getSeq[String](1))
    }

  // random PQ shapes: small value ranges force distance TIES, so the
  // first-minimum rule is exercised, not just the arithmetic
  private val genPqShape: Gen[(Int, Int, Int)] = for {
    m <- Gen.oneOf(1, 2, 4)
    ksub <- Gen.oneOf(2, 3, 8)
    dsub <- Gen.oneOf(1, 2, 3)
  } yield (m, ksub, dsub)

  private def genCode(hi: Int): Gen[Int] = Gen.frequency(
    6 -> Gen.choose(0, math.min(4, hi)), // tie-dense
    4 -> Gen.choose(0, hi))

  property("pq_assign equals the composable argmin rendition (incl. distance ties)") =
    Prop.forAll(genPqShape.flatMap { case (m, ksub, dsub) =>
      for {
        books <- Gen.listOfN(m, Gen.listOfN(ksub, Gen.listOfN(dsub, genCode(255))))
        rows <- Gen.listOfN(20, Gen.listOfN(m * dsub, genCode(255)))
      } yield (books.map(_.map(_.toSeq).toSeq).toSeq, rows)
    }) { case (books, rows) =>
      import spark.implicits._
      import graft.operators.Similarity
      rows.toDF("codes")
        .select(Similarity.pqAssignComposable($"codes", books).as("comp"),
          call_function("pq_assign", $"codes",
            lit(books.flatten.flatten.toArray),
            lit(books.length), lit(books.head.length)).as("native"))
        .collect()
        .forall(r => r.getSeq[Int](0) == r.getSeq[Int](1))
    }

  property("pq_recon equals the composable lookup rendition") =
    Prop.forAll(genPqShape.flatMap { case (m, ksub, dsub) =>
      for {
        books <- Gen.listOfN(m, Gen.listOfN(ksub, Gen.listOfN(dsub, genCode(255))))
        rows <- Gen.listOfN(20, Gen.listOfN(m, Gen.choose(0, ksub - 1)))
      } yield (books.map(_.map(_.toSeq).toSeq).toSeq, rows)
    }) { case (books, rows) =>
      import spark.implicits._
      import graft.operators.Similarity
      rows.toDF("pq_codes")
        .select(Similarity.pqReconComposable($"pq_codes", books).as("comp"),
          call_function("pq_recon", $"pq_codes",
            lit(books.flatten.flatten.toArray),
            lit(books.length), lit(books.head.length)).as("native"))
        .collect()
        .forall(r => r.getSeq[Int](0) == r.getSeq[Int](1))
    }

  property("minhash_band_keys equals the composable banding on random hash sets") =
    Prop.forAll(Gen.listOfN(30, genArr.map(_.flatten)), Gen.choose(1, 4), Gen.choose(1, 4)) {
      (sets, bands, rows) =>
        import spark.implicits._
        import graft.operators.TextDedup
        sets.toDF("hsh")
          .select(TextDedup.bandKeys($"hsh", bands, rows).as("native"),
            TextDedup.bandKeysComposable($"hsh", bands, rows).as("comp"))
          .collect()
          .forall(r => r.getSeq[org.apache.spark.sql.Row](0) ==
            r.getSeq[org.apache.spark.sql.Row](1))
    }
}
