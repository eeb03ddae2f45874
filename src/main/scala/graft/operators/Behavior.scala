package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** User-behavior analytics over the event stream — the funnel /
  * retention layer a product warehouse builds on the curated events
  * tier (the reference stops at daily summaries; these are the next
  * two dashboards every consumer of that table asks for).
  *
  * Scale discipline:
  *  - the funnel shuffles the stage events once, by user, and chains
  *    the stages in per-user windows over that one partitioning;
  *  - retention reduces the corpus to the distinct (user, cohort, week)
  *    activity set FIRST, on the same by-user partitioning as its cohort
  *    window, so the wide count never sees raw events;
  *  - everything output is exact integer counts — no floats anywhere.
  */
object Behavior {

  /** Strictly-ordered funnel: stage i counts users whose earliest
    * stage-i event happens at-or-after their earliest qualifying
    * stage-(i-1) event. Emits (stage_idx, stage, users) with
    * stage_idx 1-based in the given order.
    *
    * One shuffle: the events are partitioned by user once, and per-user
    * windows chain the stages — stage i's first qualifying timestamp is
    * `min(ts)` over the user's stage-i rows with `ts >=` stage (i-1)'s.
    * One per-user aggregate turns those into reached flags and one
    * scalar aggregate counts them, so a stage nobody reaches still
    * reports users = 0 (a grouped count would drop the row — and
    * diverge from SQL's scalar COUNT(*)). A NULL user is one user and,
    * like a user whose stage-1 rows all lack a timestamp, reaches
    * stage 1 only. */
  def funnel(events: DataFrame, stages: Seq[String],
             userCol: String = "user_id", typeCol: String = "event_type",
             tsCol: String = "ts"): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val (u, t, tp) = (col("__u"), col("__t"), col("__type"))
    val first = stages.indices.map(i => s"__first$i")
    val byUser = Window.partitionBy(u)
    val chained = stages.zipWithIndex.foldLeft(
      events.filter(col(typeCol).isin(stages.distinct: _*))
        .select(col(userCol).as("__u"), col(tsCol).as("__t"), col(typeCol).as("__type"))) {
      case (df, (stage, 0)) => df.withColumn(first(0), min(when(tp === stage, t)).over(byUser))
      case (df, (stage, i)) => df.withColumn(first(i),
        min(when(u.isNotNull && tp === stage && t >= col(first(i - 1)), t)).over(byUser))
    }
    val reached = stages.indices.map(i => s"__reached$i")
    val perUser = chained.groupBy(u).agg(
      max(tp === stages.head).as(reached(0)),
      reached.indices.tail.map(i => max(col(first(i)).isNotNull).as(reached(i))): _*)
    val counts = perUser.agg(count_if(col(reached(0))).as(reached(0)),
      reached.tail.map(r => count_if(col(r)).as(r)): _*)
    counts.select(inline(array(stages.zipWithIndex.map { case (stage, i) =>
      struct(lit(i + 1).as("stage_idx"), lit(stage).as("stage"), col(reached(i)).as("users"))
    }: _*)))
  }

  /** Retention matrix: users are cohorted by their FIRST active day
    * (no week truncation — `(day − first_day) / 7` integer arithmetic
    * is engine-neutral where date_trunc('week') is not), and each
    * (cohort_day, week_offset) cell counts the distinct users active
    * that week. Exact integers end-to-end. Events without a user
    * belong to no cohort.
    *
    * The cohort day is a per-user window, not a join back to a per-user
    * aggregate: the events shuffle once by user, the distinct runs on
    * that partitioning, and the plan has no join strategy for AQE to
    * pick at run time (so a repeated query reuses its compiled code). */
  def retention(events: DataFrame, userCol: String = "user_id",
                tsCol: String = "ts"): DataFrame = {
    val active = events.filter(col(userCol).isNotNull)
      .select(col(userCol).as("__u"), to_date(col(tsCol)).as("__d"))
      .withColumn("cohort_day", min(col("__d")).over(Window.partitionBy("__u")))
      .select(col("__u"), col("cohort_day"),
        floor(datediff(col("__d"), col("cohort_day")) / 7).cast("long").as("week_offset"))
      .distinct()
    active.groupBy("cohort_day", "week_offset")
      .agg(count(lit(1)).as("active_users"))
  }
}
