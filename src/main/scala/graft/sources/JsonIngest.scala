package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON ingest (SURVEY §2 S3/S6/S7/O9).
  *
  * Reference behavior being re-expressed:
  *  - per-record `json.loads` (`scripts/kinesis_to_snowflake.py:38-41`)
  *    → `from_json` with an explicit envelope schema;
  *  - `COPY INTO ... FILE_FORMAT(TYPE='JSON') ON_ERROR='CONTINUE'
  *    PATTERN='.*[.]gz'` over one hour partition
  *    (`airflow/dags/snowflake_data_pipeline.py:100-110`) → PERMISSIVE
  *    schema-on-read with a corrupt-record column, glob-filtered;
  *  - `S3KeySensor` availability poll
  *    (`airflow/dags/snowflake_data_pipeline.py:62-70`) → a filesystem
  *    glob check (streaming file discovery subsumes it on the stream
  *    path).
  *
  * Schemas are always declared (SURVEY §1.3): inference would re-read
  * data at 100 TB and produce drift across partitions.
  */
object JsonIngest {

  /** Microsecond NTZ format — the producer's `isoformat()` shape. The
    * JSON reader's defaults are millis; left alone they truncate. */
  val TsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"

  val DataSchema: StructType = StructType(Seq(
    StructField("product_id", StringType),
    StructField("price", DoubleType)))

  /** Core envelope (FIXTURES.md §A1). */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", StringType),
    StructField("event_timestamp", TimestampNTZType),
    StructField("event_type", StringType),
    StructField("user_id", StringType),
    StructField("data", DataSchema)))

  /** Staging superset (FIXTURES.md §A3): core + the open-envelope
    * extras the producer never fills, + the corrupt-record catch-all
    * (the reference's `raw_data` VARIANT column plays that role). */
  val StagingSchema: StructType = StructType(
    EventSchema.fields.toSeq ++ Seq(
      StructField("device_id", StringType),
      StructField("app_version", StringType),
      StructField("os_version", StringType),
      StructField("ip_address", StringType),
      StructField("location", StringType),
      StructField("raw_data", StringType) // columnNameOfCorruptRecord
    ))

  /** S3: decode a column of JSON strings into the envelope. */
  def decode(df: DataFrame, jsonCol: String = "value"): DataFrame =
    df.select(from_json(col(jsonCol), EventSchema,
      Map("timestampNTZFormat" -> TsFormat)).as("e")).select("e.*")

  /** S6/O9: batch scan of one partition directory (or a whole root) of
    * gzip JSON — PERMISSIVE, malformed lines land whole in `raw_data`
    * with every parsed column NULL, matching `ON_ERROR='CONTINUE'`.
    *
    * Open-envelope fidelity: every row ALSO carries its raw line as
    * `raw_payload`, so keys the staging schema never declared survive
    * and stay queryable (`get_json_object(raw_payload, '$.key')`) —
    * the reference's VARIANT staging keeps undeclared keys the same way
    * (`airflow/dags/snowflake_data_pipeline.py:86-87`). Implemented as
    * a text scan + `from_json` projection: one read, schema-on-read at
    * scan speed, partition discovery unchanged. */
  def readJson(spark: SparkSession, path: String, globGz: Boolean = true): DataFrame = {
    val r = spark.read
    val txt = (if (globGz) r.option("pathGlobFilter", "*.gz") else r).text(path)
    stagingProject(txt)
  }

  /** The PERMISSIVE staging projection over a `value` column of raw
    * JSON lines, shared by every transport (file scan, in-memory
    * queue, a future Kinesis/Kafka binding): malformed lines land
    * whole in `raw_data`, parsed rows carry their line as
    * `raw_payload`, extra input columns (e.g. discovered partition
    * columns) pass through. Works on batch and streaming inputs alike
    * — it is a pure projection. */
  def stagingProject(lines: DataFrame): DataFrame = {
    val opts = Map(
      "mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "raw_data",
      "timestampNTZFormat" -> TsFormat)
    val partCols = lines.columns.filterNot(_ == "value").map(col)
    lines
      // the line reader surfaces blank lines and the JSON literal
      // `null`; the JSON datasource reader skips both — they are empty
      // input, not records (a phantom all-null row would be invisible
      // to the corrupt-row metric yet counted as staged)
      .filter(length(trim(col("value"))) > 0 && trim(col("value")) =!= "null")
      .select(from_json(col("value"), StagingSchema, opts).as("e") +:
        col("value").as("raw_payload") +: partCols: _*)
      .select(col("e.*") +: col("raw_payload") +: partCols: _*)
  }

  /** The corrupt-row predicate (O9): a row the PERMISSIVE reader could
    * not parse. The one definition behind [[corruptCount]] and every
    * metric observed during a write (`count_if(CorruptRow)`), so the
    * two can never drift apart. */
  val CorruptRow: Column = col("raw_data").isNotNull && col("event_id").isNull

  /** Corrupt-row metric (O9): a scan-local filter+count — no shuffle. */
  def corruptCount(staged: DataFrame): Long =
    staged.filter(CorruptRow).count()

  /** S7: availability check — does the partition hold any data file?
    * (The sensor's poll loop belongs to the scheduler; the engine-side
    * primitive is the existence probe.) */
  def partitionAvailable(spark: SparkSession, path: String, suffix: String = ".gz"): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s => s.isFile && s.getPath.getName.endsWith(suffix))
  }
}
