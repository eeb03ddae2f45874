package graft.operators

import org.scalacheck.{Gen, Prop, Properties, Test}

/** Generator-driven properties over id packing: for random
  * (id, token_ids) corpora, random seqLen, and random chunking, the
  * packed stream must conserve the id-ordered input exactly (every
  * sequence but the last exactly full, seq_nos dense from 0) — the
  * straddle/offset algebra probed at shapes the deterministic specs
  * don't enumerate (empty blocks, seqLen 1, chunk boundaries inside
  * blocks). */
class BpeProperties extends Properties("bpe-pack") {

  // Spark jobs per case — keep the case count modest.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = graft.SparkSpec.session

  private val genCorpus = for {
    n <- Gen.choose(1, 40)
    seqLen <- Gen.choose(1, 17)
    chunk <- Gen.oneOf(1, 2, 7, 1024)
    lens <- Gen.listOfN(n, Gen.choose(0, 23))
    seed <- Gen.choose(0L, 1L << 40)
  } yield (lens.zipWithIndex.map { case (len, i) =>
      (i.toLong * 3 + 1,
        Seq.tabulate(len)(j => (seed + i * 31 + j) % 97))
    }, seqLen, chunk)

  property("packIdSequences conserves the id-ordered stream in exact slices") =
    Prop.forAll(genCorpus) { case (rows, seqLen, chunk) =>
      import spark.implicits._
      val out = Bpe.packIdSequences(rows.toDF("doc_id", "token_ids"),
          seqLen = seqLen, chunkDocs = chunk)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).sortBy(_._1)
      out.flatMap(_._2).toSeq == rows.sortBy(_._1).flatMap(_._2) &&
        out.dropRight(1).forall(_._2.length == seqLen) &&
        out.map(_._1).toSeq == out.indices.map(_.toLong)
    }
}
