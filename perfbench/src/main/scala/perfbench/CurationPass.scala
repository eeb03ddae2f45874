package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.pipeline.{CurationPipeline, PipelineReport}

/** The document-curation layer, measured in traced runs: the ingest
  * treadmill (`CurationPipeline.ingestBatch`: TextDedup minhash banding,
  * Components and span winnowing behind the Treadmill skeleton) over
  * fixed-size slices of a corpus shaped like the sf0.1 `documents` table
  * (a 40-word vocabulary, 30-70 words a document), with planted exact and
  * near copies of earlier documents in every slice. */
object CurationPass {

  /** Per slice: `docs` originals and the planted copies; `slices` traced
    * slices follow one untraced bootstrap slice (the empty-tier path). */
  final case class Sizes(docs: Int, exactCopies: Int, nearCopies: Int, slices: Int)

  def sizes(tiny: Boolean): Sizes =
    if (tiny) Sizes(docs = 40, exactCopies = 4, nearCopies = 4, slices = 1)
    else Sizes(docs = 100, exactCopies = 10, nearCopies = 10, slices = 2)

  val Stages: Seq[String] =
    Seq("probe_tier", "incremental_neardup", "incremental_strip_spans", "publish_batch")

  val Vocab: IndexedSeq[String] = (
    "a agg batch big column customer data fast filter group hash join key " +
    "line merge order part query row scan slow small sort spark stream " +
    "table the value vector window index shard page cache log node plan " +
    "task file").split(" ").toIndexedSeq

  private val Schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  /** One slice: its rows, and the ids of its originals (the documents the
    * tier must keep). Doc ids are fresh and increase across slices, as
    * the treadmill requires. */
  final case class Slice(rows: Seq[(Long, String)], originals: Seq[Long])

  def slice(seed: Long, s: Sizes, b: Int): Slice = {
    val stride = s.docs + s.exactCopies + s.nearCopies
    def original(g: Long): String = {
      val r = new scala.util.Random(Seeds.mix(seed, 1000003L + g))
      Seq.fill(30 + r.nextInt(41))(Vocab(r.nextInt(Vocab.size))).mkString(" ")
    }
    val originals = (0 until s.docs).map(i => (b.toLong * stride + i, original(b.toLong * s.docs + i)))
    val r = new scala.util.Random(Seeds.mix(seed, -1L - b))
    val copies = (0 until s.exactCopies + s.nearCopies).map { j =>
      // a copy of any original seen so far, this slice's included; a
      // near copy changes its last word
      val words = original(r.nextInt((b + 1) * s.docs).toLong).split(" ")
      val text =
        if (j < s.exactCopies) words.mkString(" ")
        else (words.init :+ Vocab((Vocab.indexOf(words.last) + 1) % Vocab.size)).mkString(" ")
      (b.toLong * stride + s.docs + j, text)
    }
    Slice(originals ++ copies, originals.map(_._1))
  }

  private def frame(spark: SparkSession, sl: Slice): DataFrame =
    spark.createDataFrame(sl.rows.map { case (id, t) => Row(id, t) }.asJava, Schema)

  /** Runs the treadmill from an empty tier over the bootstrap slice and
    * `slices` traced slices, each under a `curation_batch` root span.
    * Returns the stage times, the stage retries of the traced slices and
    * the failed checks: every planted
    * copy is dropped, no doc_id appears twice in the tier, every report
    * is ok. With `corrupt`, one tier row is duplicated before the
    * checks. */
  def run(h: Harness, corrupt: Boolean): (Map[String, Double], Double, Seq[String]) = {
    val spark = h.spark
    val s = sizes(h.args.tiny)
    val reports = mutable.ArrayBuffer.empty[PipelineReport]
    val kept = mutable.ArrayBuffer.empty[Long]
    CurationPipeline.resetTreadmill(spark)
    for (b <- 0 to s.slices) h.within("curation_batch", b > 0) {
      val sl = slice(h.args.seed, s, b)
      CurationPipeline.ingestBatch(spark, frame(spark, sl), notify = r => reports += r)
      kept ++= sl.originals
    }
    if (corrupt) EventsWorkloads.corruptTier(spark, CurationPipeline.TierTable)

    val problems = mutable.ArrayBuffer.empty[String]
    val tier = spark.table(CurationPipeline.TierTable).select("doc_id").collect().map(_.getLong(0))
    if (tier.length != tier.distinct.length) problems += "a doc_id appears twice in the document tier"
    val want = kept.toSet
    if (tier.toSet != want) problems += s"document tier: ${tier.toSet.diff(want).size} planted copies " +
      s"kept, ${want.diff(tier.toSet).size} originals dropped"
    if (!reports.forall(_.ok)) problems += "a curation batch report is not ok"

    (Stages.map(n => s"pipeline.${n}_s" -> Layers.medianSeconds(h, s"pipeline.$n")).toMap,
      reports.drop(1).flatMap(_.stages).map(_.attempts - 1).sum.toDouble, problems.toSeq)
  }
}
