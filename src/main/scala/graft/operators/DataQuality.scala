package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's data-quality gate (SURVEY §2 A2/A3/C5), as a
  * library: `airflow/dags/snowflake_data_pipeline.py:152-202` runs a
  * duplicate-count and an incomplete-row-count query per batch and
  * fails the run if either is non-zero.
  *
  * Both checks are single-pass aggregates. At scale the duplicate
  * check is one shuffle on the key with map-side partial counts; the
  * completeness check is a scan-local filter+count (no shuffle at
  * all — Catalyst plans it as partial counts merged on the driver).
  * [[report]] fuses the two into the duplicate check's one shuffle.
  */
object DataQuality {

  final case class Report(duplicateCount: Long, incompleteCount: Long) {
    def ok: Boolean = duplicateCount == 0L && incompleteCount == 0L
  }

  /** Rows sharing a key value (snowflake_data_pipeline.py:156-162):
    * `GROUP BY key HAVING COUNT(*) > 1`, then the number of such keys. */
  def duplicateKeys(df: DataFrame, key: String = "event_id"): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("dup_count")).filter(col("dup_count") > 1)

  def duplicateCount(df: DataFrame, key: String = "event_id"): Long =
    duplicateKeys(df, key).count()

  /** Completeness (snowflake_data_pipeline.py:164-170): rows where any
    * required column is NULL. */
  def incompleteRows(df: DataFrame, required: Seq[String]): DataFrame =
    df.filter(required.map(col(_).isNull).reduce(_ || _))

  def incompleteCount(df: DataFrame, required: Seq[String]): Long =
    incompleteRows(df, required).count()

  /** Both checks in ONE pass: group by key carrying each group's row
    * count and incomplete-row count, then count the groups with more
    * than one row and sum the incomplete rows. Equal to
    * `(duplicateCount, incompleteCount)` — the NULL key is one group in
    * both, and an empty input sums to 0, not NULL — at one shuffle and
    * one job instead of two scans of `df`. */
  def report(df: DataFrame, key: String, required: Seq[String]): Report = {
    val incomplete = required.map(col(_).isNull).reduce(_ || _)
    val r = df.groupBy(col(key))
      .agg(count(lit(1)).as("__n"), count_if(incomplete).as("__incomplete"))
      .agg(count_if(col("__n") > 1), coalesce(sum(col("__incomplete")), lit(0L)))
      .head()
    Report(r.getLong(0), r.getLong(1))
  }

  /** The gate (snowflake_data_pipeline.py:181-202): raises on
    * violation, mirroring the reference's ValueError. */
  def gate(df: DataFrame, key: String = "event_id",
           required: Seq[String] = Seq("event_id", "ts", "event_type", "user_id")): Report = {
    val r = report(df, key, required)
    require(r.ok,
      s"Data quality check failed: duplicates=${r.duplicateCount}, incomplete=${r.incompleteCount}")
    r
  }

  /** Per-group z-score outliers: rows whose value sits more than
    * `threshold` population standard deviations from their group's
    * mean — the distribution-shift / anomalous-value screen a curation
    * pipeline runs before training ingestion.
    *
    * Moments are ORDER-FREE: Σv and Σv² accumulate in DECIMAL (each v·v
    * is one deterministic IEEE product per row; the summation is
    * fixed-point, so the result is identical for any partition order or
    * engine), then mean/variance/σ/z derive through a fixed sequence of
    * double ops. Two scans by design: the tiny per-group moment table
    * joins back onto the row scan — at 100 TB this beats a
    * group-window (which would shuffle every row) by carrying only
    * |groups| rows across the wire. No broadcast hint: AQE picks the
    * broadcast at sane group cardinality, and a 10⁷-group frame
    * degrades to a shuffle join instead of a driver OOM. */
  def zScoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     threshold: Double = 3.0): DataFrame = {
    val v = col(valueCol)
    val stats = df.filter(v.isNotNull).groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"),
        sum(v.cast("decimal(38,12)")).as("__s1"),
        sum((v * v).cast("decimal(38,12)")).as("__s2"))
      .select(col(groupCol),
        (col("__s1").cast("double") / col("__n")).as("__mean"),
        sqrt(col("__s2").cast("double") / col("__n") -
          (col("__s1").cast("double") / col("__n")) *
            (col("__s1").cast("double") / col("__n"))).as("__sd"))
    df.filter(v.isNotNull)
      .join(stats, Seq(groupCol))
      .withColumn("z_score", (v - col("__mean")) / col("__sd"))
      .filter(abs(col("z_score")) > threshold)
      .drop("__mean", "__sd")
  }

  /** Snapshot reconciliation: classify every key across two versions of
    * a table as added / removed / changed / unchanged — the audit diff
    * behind "what did this refresh actually do", and the generic check
    * after any MERGE/CTAS publish.
    *
    * ONE full-outer equi-join on the key; change detection is a
    * null-safe struct comparison of the compared columns (NULL ⇔ NULL
    * is "same", matching SQL IS NOT DISTINCT FROM), so the whole row
    * never ships twice and no column list explodes the plan. */
  def snapshotDiff(current: DataFrame, previous: DataFrame, key: String,
                   compareCols: Seq[String]): DataFrame = {
    val cur = current.select(col(key) +: compareCols.map(col): _*)
      .withColumn("__cur", lit(true))
    val prev = previous.select(col(key) +: compareCols.map(c => col(c).as(s"__p_$c")): _*)
      .withColumn("__prev", lit(true))
    val joined = cur.join(prev, Seq(key), "full_outer")
    val same = compareCols.map(c => col(c) <=> col(s"__p_$c")).reduce(_ && _)
    joined.withColumn("status",
      when(col("__prev").isNull, lit("added"))
        .when(col("__cur").isNull, lit("removed"))
        .when(same, lit("unchanged"))
        .otherwise(lit("changed")))
      .select(col(key), col("status"))
  }

  /** Exact interpolated percentiles of `valueCol` per group (the
    * p50/p90/p99 latency-style profile). Spark's `percentile` and
    * DuckDB's `quantile_cont` share the same linear-interpolation
    * definition (h = (n−1)·p), so the gate holds cross-engine; the
    * sort is per-group inside the aggregate, never a global window. */
  def valuePercentiles(df: DataFrame, groupCol: String, valueCol: String,
                       percentiles: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val arr = percentiles.map(p => s"${p}D").mkString("array(", ", ", ")")
    df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, $arr)").as("__p"))
      .select(col(groupCol) +:
        percentiles.zipWithIndex.map { case (p, i) =>
          round(col("__p").getItem(i), 6).as(s"p${(p * 100).round}")
        }: _*)
  }

  /** Median/MAD robust outliers — [[zScoreOutliers]]' heavy-tail-safe
    * sibling: a single extreme value inflates mean AND std enough to
    * hide itself from a z-score, while the median and the median
    * absolute deviation barely move. robust_z = (x − med)/(1.4826·MAD)
    * (the Gaussian consistency constant), flagged at |rz| > threshold;
    * groups with MAD 0 (over half the values identical) flag nothing —
    * a spike there is better caught by the exact-duplicate DQ rules.
    * Two exact interpolated-percentile aggregates (cross-engine parity
    * proven by ref_value_percentiles) + per-group stat joins; the sort
    * is per-group inside the aggregate, never a global window. The
    * stat frames are one row per group and carry NO broadcast hint —
    * AQE picks the broadcast at sane group cardinality, and a
    * 10⁷-group corpus degrades to a shuffle join instead of a driver
    * OOM. Output: the input columns plus `robust_z` (same shape as
    * [[zScoreOutliers]] — no column of the caller's frame is assumed
    * beyond `groupCol`/`valueCol`). */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     threshold: Double = 3.5): DataFrame = {
    val vals = df.filter(col(valueCol).isNotNull)
    val med = vals.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5D)").as("__med"))
    val stats = vals.join(med, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("__med")).as("__med"),
        expr(s"percentile(abs($valueCol - __med), 0.5D)").as("__mad"))
    val rz = (col(valueCol) - col("__med")) / (lit(1.4826) * col("__mad"))
    vals.join(stats, Seq(groupCol))
      .filter(col("__mad") > 0 && abs(rz) > threshold)
      .withColumn("robust_z", round(rz, 6))
      .drop("__med", "__mad")
  }

  /** Quantile estimation from a fixed-width HISTOGRAM SKETCH — the
    * 100 TB path where [[valuePercentiles]]' exact per-group sort is
    * too much state: the sketch is `buckets` integer counts, built in
    * one map-side-combinable aggregate, mergeable across partitions /
    * days / tables by plain addition (counts are order-free integers),
    * with NO per-value memory. Estimates interpolate linearly inside
    * the crossing bucket (mass definition t = q·n), so accuracy is
    * bounded by the bucket width — (max−min)/buckets — not by data
    * volume. Deterministic end to end: min/max are exact, bucket
    * assignment is floor IEEE arithmetic, interpolation is one integer
    * subtraction and one division — the DuckDB oracle replays every
    * step. The min/max pass can come from scan metadata at scale; here
    * it is one aggregate. Degenerate range (all values equal) returns
    * the value for every quantile. */
  def histogramQuantiles(df: DataFrame, valueCol: String, buckets: Int = 1024,
                         qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{min => smin, max => smax}
    val vals = df.filter(col(valueCol).isNotNull)
    val mm = vals.agg(smin(col(valueCol)).cast("double").as("lo"),
      smax(col(valueCol)).cast("double").as("hi"), count(lit(1)).as("n")).head()
    // n first: on an empty/all-null input min/max aggregate to NULL and
    // getDouble would throw before the n == 0 branch could run
    val n = mm.getLong(2)
    if (n == 0L) {
      import spark.implicits._
      return qs.map(q => (q, 0.0, 0L)).toDF("q", "estimate", "n_values")
    }
    val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
    if (hi == lo) {
      import spark.implicits._
      return qs.map(q => (q, lo, n)).toDF("q", "estimate", "n_values")
    }
    val width = (hi - lo) / buckets
    val counts = vals
      .groupBy(least(floor((col(valueCol) - lo) / width), lit(buckets - 1))
        .cast("int").as("b"))
      .agg(count(lit(1)).as("c"))
    // the cum window runs over <= `buckets` AGGREGATED rows — k-sized,
    // same class as the IVF centroid collects, never the raw data
    val cum = counts.withColumn("cum",
      sum(col("c")).over(Window.orderBy(col("b"))))
    import spark.implicits._
    cum.crossJoin(qs.toDF("q"))
      .filter(col("cum") >= col("q") * n)
      .groupBy("q")
      .agg(min(struct(col("b"), col("c"), col("cum"))).as("f"))
      .select(col("q"),
        round(lit(lo) + lit(width) * (col("f.b") +
          (col("q") * n - (col("f.cum") - col("f.c"))) / col("f.c")), 6).as("estimate"),
        lit(n).as("n_values"))
  }

  /** PER-GROUP [[histogramQuantiles]], fully distributed: each group's
    * (lo, hi, n) range rides as COLUMNS from one aggregate rejoined
    * onto the scan (no driver scalars at all, so a million groups
    * cost a million 3-scalar rows, never a collect; no forced
    * broadcast either — AQE picks it while extreme group counts
    * degrade to a shuffle join), bucket counts
    * aggregate on (group, bucket), the cumulative window partitions BY
    * GROUP (each partition <= `buckets` aggregated rows — no global
    * single-task window), and the crossing pick is a per-(group, q)
    * struct-min. Degenerate groups (all values equal) emit the value
    * for every quantile. Same sketch contract as the ungrouped form:
    * mergeable integer counts, bucket-width error bound, IEEE
    * arithmetic the oracle replays. */
  def histogramQuantilesBy(df: DataFrame, groupCol: String, valueCol: String,
                           buckets: Int = 1024,
                           qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{min => smin, max => smax}
    val vals = df.filter(col(valueCol).isNotNull)
    val rng = vals.groupBy(col(groupCol).as("g"))
      .agg(smin(col(valueCol)).cast("double").as("lo"),
        smax(col(valueCol)).cast("double").as("hi"), count(lit(1)).as("n"))
    val width = (col("hi") - col("lo")) / buckets
    val counts = vals.select(col(groupCol).as("g"), col(valueCol).as("v"))
      .join(rng, Seq("g"))
      .withColumn("b",
        when(col("hi") === col("lo"), lit(0))
          .otherwise(least(floor((col("v") - col("lo")) / width), lit(buckets - 1)))
          .cast("int"))
      .groupBy("g", "b").agg(count(lit(1)).as("c"))
    val cum = counts.withColumn("cum",
      sum(col("c")).over(Window.partitionBy(col("g")).orderBy(col("b"))))
    import spark.implicits._
    cum.crossJoin(qs.toDF("q"))
      .join(rng, Seq("g"))
      .filter(col("cum") >= col("q") * col("n"))
      .groupBy("g", "q")
      .agg(min(struct(col("b"), col("c"), col("cum"))).as("f"),
        first(col("lo")).as("lo"), first(col("hi")).as("hi"), first(col("n")).as("n"))
      .select(col("g").as(groupCol), col("q"),
        round(when(col("hi") === col("lo"), col("lo"))
          .otherwise(col("lo") + (col("hi") - col("lo")) / buckets * (col("f.b") +
            (col("q") * col("n") - (col("f.cum") - col("f.c"))) / col("f.c"))), 6)
          .as("estimate"),
        col("n").as("n_values"))
  }
}
