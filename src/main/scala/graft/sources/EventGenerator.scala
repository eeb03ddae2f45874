package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic test-data generator (SURVEY §2 S1), the engine's
  * rendition of the reference producer
  * (`scripts/kinesis_data_producer.py:17-37`): uuid-shaped ids, naive
  * ISO timestamps at 1 event/second, four event types, `user_1..1000`,
  * a four-product catalog.
  *
  * Seeded and fully column-expressed: `spark.range` plus hash-derived
  * columns, so generation is distributed, codegen'd, and reproducible —
  * no driver-side loops, no executor RNG state. A billion-row fixture
  * is `events(spark, 1e9)` with the same per-row values on any cluster.
  */
object EventGenerator {

  val EventTypes: Seq[String] = Seq("view", "click", "purchase", "signup")
  val ProductIds: Seq[String] = Seq("p1", "p2", "p3", "p4")
  val Prices: Seq[Double] = Seq(19.99, 29.99, 39.99, 49.99)

  /** `n` events starting at `startEpochSeconds`, one per second (the
    * producer sleeps 1 s per record). Core envelope + `data` struct.
    */
  def events(
      spark: SparkSession,
      n: Long,
      seed: Long = 42L,
      startEpochSeconds: Long = 1735689600L /* 2025-01-01T00:00:00Z */ ): DataFrame = {
    val id = col("id")
    // seed and start are bound by reference: codegen inlines a numeric
    // literal, so each new seed or start would compile new classes
    val seedCol = udf(() => seed).asNonNullable()()
    val startCol = udf(() => startEpochSeconds).asNonNullable()()
    def h(salt: Int) = abs(xxhash64(id, seedCol, lit(salt)))
    val productIdx = pmod(h(3), lit(ProductIds.size)).cast("int")
    spark.range(n).select(
      // uuid4-shaped deterministic id: 32 hex chars of md5, dashed
      regexp_replace(
        md5(concat_ws("-", seedCol, id)),
        "^(.{8})(.{4})(.{4})(.{4})(.{12})$", "$1-$2-$3-$4-$5").as("event_id"),
      timestamp_seconds(startCol + id).cast("timestamp_ntz").as("event_timestamp"),
      element_at(typedLit(EventTypes), pmod(h(1), lit(EventTypes.size)).cast("int") + 1).as("event_type"),
      concat(lit("user_"), pmod(h(2), lit(1000)).cast("int") + 1).as("user_id"),
      struct(
        element_at(typedLit(ProductIds), productIdx + 1).as("product_id"),
        element_at(typedLit(Prices), productIdx + 1).as("price")).as("data"))
  }

  /** The wire format: one JSON object per record, exactly the
    * producer's `json.dumps(data)` envelope. Microsecond timestamp
    * format — Spark's default JSON NTZ format is millis, which would
    * silently truncate. */
  def jsonLines(events: DataFrame): DataFrame =
    events.select(to_json(struct(events.columns.map(col): _*),
      Map("timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")).as("value"))
}
