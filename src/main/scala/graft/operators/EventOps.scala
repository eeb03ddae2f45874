package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational semantics of the reference pipeline, as composable
  * DataFrame transforms.
  *
  * Reference (all paths relative to
  * `/root/reference/aws-snowflake-kinesis-airflow-pipeline/`):
  *  - `user_events` view: `sql/create_snowflake_tables.sql:18-28`
  *  - `daily_event_summary` CTAS: `sql/create_snowflake_tables.sql:31-39`,
  *    refreshed at `dags/kinesis_to_snowflake_dag.py:51-59`
  *  - dedup INSERT..SELECT..NOT IN: `airflow/dags/snowflake_data_pipeline.py:115-143`
  *
  * Everything here is a declarative plan: Catalyst pushes the filters
  * and JSON-path projections into the parquet scan, splits the
  * aggregates into partial/final, and plans the anti-join as broadcast
  * when the build side is small. Nothing shuffles more than once.
  */
object EventOps {

  /** `user_events` view (create_snowflake_tables.sql:18-28): project
    * purchases with semi-structured field extraction. The reference's
    * `data:product_id::VARCHAR` / `data:price::FLOAT` VARIANT paths map
    * to `get_json_object` over the JSON `props` column — a codegen'd
    * built-in, so the whole view stays inside one WholeStageCodegen.
    */
  def userEvents(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .select(
        col("event_id"),
        col("ts").as("event_timestamp"),
        col("user_id"),
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("prop_k"),
        col("value").as("price"))

  /** `daily_event_summary` (create_snowflake_tables.sql:31-39): daily
    * tumbling aggregate, computed over raw data INCLUDING duplicates —
    * the reference groups the landing table, not the deduped tier
    * (SURVEY §7.5#4). Plain hash-aggregate: map-side partial combine,
    * one shuffle on (event_date, event_type).
    */
  def dailySummary(events: DataFrame): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("event_date"), col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        min(col("ts")).as("first_event"),
        max(col("ts")).as("last_event"))

  /** A4: per-key running event count, two-level. The direct rendition
    * — `count(*) over (partition by key order by ts, tie)` — sorts each
    * key's ENTIRE history in one task; with 4 event types that is 4
    * tasks total, at any corpus size. Instead: rank within (key, day)
    * partitions — uniform date-bounded tasks — then add the count of
    * the key's PRIOR days, a slim (keys × days)-row offset frame
    * computed with a window over day counts and broadcast back (the
    * same two-level prefix-sum idiom as [[Curation.globalShuffle]]).
    * Bit-identical to the single-window form: within a key, every row
    * of an earlier day precedes every row of a later one in (ts, tie)
    * order, so prior-day totals + within-day rank = global rank. */
  def runningCount(events: DataFrame, key: String = "event_type",
                   ts: String = "ts", tie: String = "event_id"): DataFrame = {
    val keyed = events.select(col(tie), col(key), col(ts))
      .withColumn("__day", to_date(col(ts)))
    val wIn = Window.partitionBy(col(key), col("__day")).orderBy(col(ts), col(tie))
    val wOff = Window.partitionBy(col(key)).orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col(key), col("__day"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__off", coalesce(sum(col("__n")).over(wOff), lit(0L)))
      .select(col(key), col("__day"), col("__off"))
    keyed.withColumn("__rank", row_number().over(wIn).cast("long"))
      .join(broadcast(offsets), Seq(key, "__day"))
      .select(col(tie), col(key), (col("__off") + col("__rank")).as("running_count"))
  }

  /** Per-type least-squares trend of daily event volume — "is this
    * event type growing?" as an OLS slope (events/day per day) over the
    * daily counts: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) with
    * x = epoch day, y = daily count.
    *
    * Every moment is an exact BIGINT sum over the (already tiny)
    * per-day aggregate — order-free under partial aggregation and
    * bit-identical cross-engine; only the final slope is ONE double
    * division (NULL for a degenerate single-day group rather than a
    * platform-dependent NaN/inf). Two shuffles total, the second over
    * |types| × |days| rows — independent of event volume. */
  def dailyTrend(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("y"))
      .withColumn("x", datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01"))).cast("long"))
    val m = daily.groupBy("event_type").agg(
      count(lit(1)).as("n_days"),
      sum("x").as("__sx"), sum("y").as("__sy"),
      sum(col("x") * col("y")).as("__sxy"), sum(col("x") * col("x")).as("__sxx"))
    val num = (col("n_days") * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val den = (col("n_days") * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    m.withColumn("slope", when(den === 0d, lit(null)).otherwise(round(num / den, 6)))
      .select("event_type", "n_days", "slope")
  }

  /** Idempotent dedup insert (snowflake_data_pipeline.py:115-143):
    * rows of `staging` whose key is non-null and absent from `target`.
    *
    * The reference uses `NOT IN (SELECT event_id FROM EVENTS)`. SQL
    * `NOT IN` is null-aware: one NULL in the subquery yields zero rows.
    * The reference's own DQ gate (lines 152-178) guarantees the target
    * never holds NULL keys, so `left_anti` is behaviorally identical in
    * steady state and strictly cheaper (no null-aware dual-condition
    * join). For bit-exact NOT IN semantics use [[dedupInsertNotIn]].
    *
    * Scale: the build side is just the key column of the target —
    * column-pruned at the scan. Catalyst broadcasts it when it fits
    * under autoBroadcastJoinThreshold; otherwise a shuffled anti-join
    * on the key, which AQE converts back to broadcast at runtime if
    * the pruned side turns out small.
    */
  def dedupInsert(staging: DataFrame, target: DataFrame, key: String = "event_id"): DataFrame =
    staging
      .filter(col(key).isNotNull)
      .join(target.select(key), Seq(key), "left_anti")

  /** Date-bounded dedup target: `target` pruned to the event-date range
    * `staging` actually touches — on a date-partitioned tier the
    * anti-join build side then reads O(|dates in batch|) partitions, not
    * the whole tier (at 100 TB the unpruned build side is the tier's
    * full key column per run). Sound because landed events are
    * immutable: a re-delivered duplicate carries its original timestamp
    * and therefore lands on the same event_date as the row it
    * duplicates. Targets without `dateCol` (pre-partitioning tables)
    * fall back to the full scan. */
  def boundedDedupTarget(target: DataFrame, staging: DataFrame,
                         dateCol: String = "event_date"): DataFrame =
    if (!target.columns.contains(dateCol)) target
    else boundedDedupTarget(target, DateRange.of(staging, col(dateCol)), dateCol)

  /** [[boundedDedupTarget]] with the batch's date range already known —
    * e.g. observed during an earlier write of the same rows, so the
    * prune costs no eager job. Sound for any range that covers a
    * SUPERSET of the staged rows: a wider range only prunes less. */
  def boundedDedupTarget(target: DataFrame, range: DateRange, dateCol: String): DataFrame =
    if (!target.columns.contains(dateCol)) target
    else if (range.n == 0L) target.limit(0) // empty batch: nothing can collide
    else {
      // null dates (null event_timestamp with a non-null key) are a
      // legitimate slice of the batch: their duplicates live in the
      // tier's null-date partition, which min/max skip — so count them
      // explicitly and include `dateCol IS NULL` in the prune exactly
      // when the batch carries them. A BETWEEN alone silently drops the
      // null-date build rows (NULL predicate ≠ match) and re-inserts
      // their duplicates.
      val dated =
        if (range.dated == 0L) lit(false)
        else col(dateCol).between(lit(range.lo), lit(range.hi))
      target.filter(if (range.n > range.dated) dated || col(dateCol).isNull else dated)
    }

  /** The event-date extent of a batch: `n` rows, `dated` of them with a
    * non-null date, which span `[lo, hi]` (both NULL when `dated` is 0). */
  final case class DateRange(n: Long, dated: Long, lo: java.sql.Date, hi: java.sql.Date)

  object DateRange {
    /** The four aggregates of a [[DateRange]] of `date`, over the rows
      * where `rows` holds, in field order — plain aggregates, so they
      * run as an `agg` or ride a write as observed metrics. */
    def aggregates(date: Column, rows: Column = lit(true)): Seq[Column] = Seq(
      count_if(rows).as("n"), count_if(rows && date.isNotNull).as("dated"),
      min(when(rows, date)).as("lo"), max(when(rows, date)).as("hi"))

    def fromRow(r: Row): DateRange =
      DateRange(r.getLong(0), r.getLong(1), r.getDate(2), r.getDate(3))

    /** One eager aggregate over `df`. */
    def of(df: DataFrame, date: Column): DateRange = {
      val aggs = aggregates(date)
      fromRow(df.agg(aggs.head, aggs.tail: _*).head())
    }
  }

  /** Bit-exact `NOT IN` rendition: returns no rows if `target`
    * contains a NULL key — matching SQL semantics of
    * snowflake_data_pipeline.py:142 exactly.
    *
    * NOT expressed as a single null-aware join condition: an OR at the
    * top of the join predicate prevents Catalyst from extracting
    * equi-keys, so it would plan a BroadcastNestedLoopJoin — O(n·m) at
    * 100 TB. Instead probe for a build-side NULL once (a column-pruned
    * scan with an early-out limit), then run the plain hash anti-join.
    * Same semantics, hash-join plan.
    *
    * NOTE: the NULL probe is an EAGER Spark job at call time, and it
    * snapshots the target's null-key state then — if the target mutates
    * between construction and execution of the returned plan, re-call
    * this function rather than reusing the DataFrame.
    */
  def dedupInsertNotIn(staging: DataFrame, target: DataFrame, key: String = "event_id"): DataFrame = {
    val buildHasNull = !target.where(col(key).isNull).limit(1).isEmpty
    if (buildHasNull) staging.filter(col(key).isNotNull).limit(0)
    else dedupInsert(staging, target, key)
  }

  /** `user_events` with the payload as a true Spark 4 VARIANT — the
    * closest rendition of Snowflake's `data:product_id::VARCHAR` /
    * `data:price::FLOAT` path-extraction semantics
    * (create_snowflake_tables.sql:24-25): `parse_json` once, typed
    * `variant_get` paths after. Equivalent results to [[userEvents]];
    * VARIANT's binary encoding beats re-parsing JSON text per path when
    * several fields are extracted. */
  def userEventsVariant(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "purchase")
      .withColumn("v", parse_json(col("props")))
      .select(
        col("event_id"),
        col("ts").as("event_timestamp"),
        col("user_id"),
        col("event_type"),
        try_variant_get(col("v"), "$.k", "int").as("prop_k"),
        col("value").as("price"))

  /** Keyed partitioning (SURVEY §2.6 O7): the Kinesis partition-key
    * semantics — co-locate all rows of a key so per-key processing
    * (ordering, stateful ops) never crosses partitions. One hash
    * shuffle; downstream per-key operators then shuffle nothing. */
  def partitionByKey(df: DataFrame, key: String = "user_id"): DataFrame =
    df.repartition(col(key))

  /** Deterministic intra-batch dedup: keep ONE row per key, chosen by a
    * total order over the remaining columns. Unlike `dropDuplicates`
    * (an arbitrary-pick aggregate), two INDEPENDENT evaluations of the
    * same input always pick the same row — required when a later stage
    * (e.g. a DQ gate) re-derives the deduped set rather than reading
    * the materialized result. */
  def dedupDeterministic(df: DataFrame, key: String = "event_id"): DataFrame = {
    val others = df.columns.filterNot(_ == key).map(col)
    val w = Window.partitionBy(col(key)).orderBy(others: _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Ingest-time audit column (create_snowflake_tables.sql:14 default
    * CURRENT_TIMESTAMP()): applied in the write path, since Spark
    * appends don't auto-fill defaults. Excluded from oracle compares
    * (non-deterministic by nature, SURVEY §7.5#3).
    */
  def withAuditColumns(df: DataFrame): DataFrame =
    df.withColumn("inserted_at", current_timestamp())

  /** Gap-based sessionization: per user, a new session starts whenever
    * the inactivity gap exceeds `gapMinutes`. The classic two-window
    * shape — a lag comparison marks session starts, a running sum
    * numbers them — then one aggregate per (user, session). All three
    * steps share the same (user_id) hash partitioning, so the whole
    * operator is ONE shuffle plus per-key sorts; session state never
    * materializes outside the window operators. Deterministic: ties on
    * ts order by event_id. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30,
                 tsCol: String = "ts"): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col(tsCol), col("event_id"))
    val prev = lag(col(tsCol), 1).over(w)
    events
      // NTZ-native interval comparison: a cast to instant here would
      // make session splits depend on the session timezone (and jump
      // around DST transitions), diverging from the wall-clock gap the
      // oracle computes
      .withColumn("__new_session",
        when(prev.isNull ||
          col(tsCol) > prev + expr(s"INTERVAL $gapMinutes MINUTES"), 1)
          .otherwise(0))
      .withColumn("session_no",
        sum(col("__new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("event_count"))
  }
}
