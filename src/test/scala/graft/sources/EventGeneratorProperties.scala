package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** [[EventGenerator.events]] binds its seed and start by reference, so
  * that a landing with a new seed compiles no code. Its output must be
  * bit-identical to the generator that inlined them, kept below
  * verbatim as the oracle. */
class EventGeneratorProperties extends Properties("event-generator") {

  // Spark jobs per case — keep the case count modest.
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = graft.SparkSpec.session

  import EventGenerator.{EventTypes, Prices, ProductIds}

  /** The oracle: the generator with `lit(seed)` and `lit(startEpochSeconds)`. */
  def literalEvents(
      spark: SparkSession,
      n: Long,
      seed: Long = 42L,
      startEpochSeconds: Long = 1735689600L /* 2025-01-01T00:00:00Z */ ): DataFrame = {
    val id = col("id")
    def h(salt: Int) = abs(xxhash64(id, lit(seed), lit(salt)))
    val productIdx = pmod(h(3), lit(ProductIds.size)).cast("int")
    spark.range(n).select(
      // uuid4-shaped deterministic id: 32 hex chars of md5, dashed
      regexp_replace(
        md5(concat_ws("-", lit(seed), id)),
        "^(.{8})(.{4})(.{4})(.{4})(.{12})$", "$1-$2-$3-$4-$5").as("event_id"),
      timestamp_seconds(lit(startEpochSeconds) + id).cast("timestamp_ntz").as("event_timestamp"),
      element_at(typedLit(EventTypes), pmod(h(1), lit(EventTypes.size)).cast("int") + 1).as("event_type"),
      concat(lit("user_"), pmod(h(2), lit(1000)).cast("int") + 1).as("user_id"),
      struct(
        element_at(typedLit(ProductIds), productIdx + 1).as("product_id"),
        element_at(typedLit(Prices), productIdx + 1).as("price")).as("data"))
  }

  private val genArgs = for {
    n <- Gen.choose(0L, 500L)
    seed <- Gen.oneOf(Gen.long, Gen.choose(0L, 10000L))
    start <- Gen.choose(0L, 4102444800L) // 1970 .. 2100
  } yield (n, seed, start)

  property("events equal the literal-bound generator row for row, schema included") =
    Prop.forAll(genArgs) { case (n, seed, start) =>
      val got = EventGenerator.events(spark, n, seed, start)
      val want = literalEvents(spark, n, seed, start)
      got.schema == want.schema && got.collect().toSeq == want.collect().toSeq
    }
}
