package graft

import org.apache.spark.sql.SparkSession

/** The single session factory — Verify, Bench and every test build on
  * this so confs can never drift between entry points (round 1 died on
  * exactly that drift: a hand-rolled session without `nanosAsLong`).
  *
  * Defaults are chosen for correctness-parity with external oracles
  * (UTC session time zone, microsecond parquet timestamps) and for
  * sane local-mode execution (shuffle partitions sized to cores, AQE
  * on so skewed joins/partitions re-plan at runtime). On a real
  * cluster the same settings hold: AQE + adaptive coalescing are the
  * scale knobs, `shuffle.partitions` becomes a ceiling AQE trims.
  */
object GraftSession {

  /** Executor core count (`SPARK_GRAFT_CPUS`); also the default
    * shuffle-partition count — one partition per core keeps every
    * shuffle a single wave in local mode, and AQE coalesces below it.
    */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption).getOrElse(32)

  def builder(master: String = s"local[$cores]", appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Native engine functions (vec_dot codegen expression et al.)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // Oracle parity: external readers (DuckDB/pyarrow) read INT64
      // micros natively; INT96 is a deprecated legacy type.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Parquet codec zstd: the r17 A/B measured −38% bytes on
      // identical warehouse tables (5.30 → 3.26 MB over the same
      // three-gate run) at wall-neutral cost on a page-cached local fs,
      // and the DuckDB oracle reads ZSTD parquet natively — at 100 TB,
      // where scans are bandwidth-bound, the ratio is the win.
      .config("spark.sql.parquet.compression.codec", "zstd")
      // The driver's events table carries TIMESTAMP(NANOS); Spark only
      // reads that as LongType via this conf (Tables.load converts).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Catalog.ctasOverwrite's tagged idempotent publish decides
      // "committed" by the _SUCCESS marker — pin marker emission ON so
      // a cluster-side default (object-store deployments often disable
      // it) can't silently turn a committed snapshot into one the
      // self-heal path would delete
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "true")
      .config("spark.ui.enabled", "false")
      // The app/SQL status stores retain per-task and per-execution
      // metadata even with the UI off, at six-figure defaults
      // (retainedTasks 100k, retainedExecutions 1000) — across a
      // 40-op scale run (~2 500 stages) that metadata alone tipped
      // the peak-heap aggregate over an 8g heap (measured: per-op
      // post-release baseline stays ~300 MiB flat; the OOM was
      // cumulative driver bookkeeping, not operator state). A long-
      // lived 100 TB driver wants the same trim.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "20")
      // Spark's compiled-class cache is one JVM-wide LRU, sized once
      // from this static conf (default 100). An analyst session cycles
      // through more distinct generated classes than that, so every
      // lookup missed and each query re-ran Janino (~650 ms of CPU a
      // query for the nine-query events mix over ~8k rows). Measured
      // distinct classes, counted with an unbounded cache on a 4-cpu
      // VM (perfbench, seed 7, traced): one pass of the events query
      // mix 123, one warm ingest micro-batch 79 (67 in the drain, 12 in
      // the benchmark's landing: the compiles of one untraced batch run
      // on an emptied cache), the curation treadmill's bootstrap plus
      // one traced slice 160 + 127 — under 500 together, so 2000 keeps
      // 4x headroom. Cost: a retained generated class holds ~40 KB of
      // metaspace (~80 MB if all 2000 fill); a whole traced run
      // generates < 1000, and its peak RSS was within 1% at caps of
      // 100, 1000 and 100000 (1635-1647 MB).
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // Isolation off: each session clone (one per streaming query)
      // otherwise runs its tasks on its own class loader, and the class
      // cache is keyed by loader, so a warm ingest batch recompiled 39
      // classes its predecessor had compiled (0 with isolation off and
      // EventOps' audit instant bound by reference; 4-cpu VM, seed 7).
      // Nothing adds session artifacts (addArtifact/addJar).
      .config("spark.sql.artifact.isolation.enabled", "false")
      // NOTE: the v2 output committer was A/B-tested for the
      // many-partition JSON sink and is SLOWER on local filesystems
      // (12.2 s vs 9.7 s for the sf0.1 ingest roundtrip) — renames are
      // cheap here. On an object store it's the first knob to revisit.

  def local(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
