package graft

/** Benchmark entry: times each SparkEntry query at the given scale
  * factor and prints ONE JSON line for the driver.
  *
  * Failures are NOT timed (round 1 recorded the wall-time of six
  * crashes as a "benchmark"): a failed query is reported under
  * "errors", excluded from the total, and flips the exit code.
  */
object Bench {
  // Fixture-heavy queries (temp-dir landing + filesystem churn inside
  // the timed region — the fixture IS part of what they exercise, so
  // it cannot move out) swing ±40% run-to-run and are ~25% of the
  // total; report their MEDIAN OF 3 fresh reps so round-over-round
  // deltas track operator cost, not fs noise. Cheap queries (<3 s
  // first rep) are equally noise-dominated in absolute terms — GC or
  // codegen pauses from neighboring corpus-wide queries showed up as
  // phantom 3-4x "regressions" in round 5 — so they ALSO get
  // median-of-3 (adaptive: the two extra reps only run when the
  // first rep was cheap, bounding the added wall time).
  // (Variance note: PLANS.md.) Every name is a SparkEntry gate
  // (GateRegistrySpec checks it; a pin for a missing gate would
  // silently do nothing).
  private[graft] val fixtureHeavy: Set[String] = Set(
    "ref_ingest_roundtrip", "ref_open_envelope",
    "stream_hourly_counts", "stream_user_sessions", "stream_running_counts",
    // near-dup cluster: localCheckpoint-backed plans whose driver-run
    // timings swung 10-15x vs builder-run in round 7 (storage-memory
    // state dependent); unconditional median-of-3 + the per-query
    // storage reset below pin them
    "doc_neardup_minhash", "doc_neardup_levenshtein",
    // training/pipeline-heavy cluster: many short driver-coordinated
    // jobs (k-means/PQ training loops, staged table writes, stream
    // drains) whose single-rep numbers swung 1.5-2x between two
    // clean round-8 runs of the SAME commit; median-of-3 pins them
    "emb_topk_ivfpq", "emb_topk_ivfpq_refine", "emb_topk_ivfpq_stored",
    "emb_triplet_mining", "emb_ingest_incremental",
    "emb_pq_regenerate", "stream_vec_ingest",
    "stream_doc_ingest",
    "stream_tokenize_ingest", "stream_pack_ingest",
    "stream_tokenize_retrain", "stream_bytes_drift_retrain",
    "ref_curation_clean", "ref_curation_mix",
    // round-12 cross-context movers with UNTOUCHED code paths
    // (1.5-1.9x close-to-close, ~1x driver-run): same cold-first-rep
    // signature as dedup_near_minhash — their first reps sit right at
    // the 3 s adaptive-median cutoff, so a slow first rep skips the
    // median path exactly when it is most needed; pin them
    // unconditionally (A/B spread: PLANS.md round 13)
    "doc_dedup_contained", "doc_winnowed_spans",
    // round-14 borderline mover (1.51x, +0.85 s) on an untouched
    // path — the same cold-first-rep class; pinned
    "doc_tokenize_ids_alltext")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM + parquet footers once so timings measure the
    // queries, not classloading/codegen of the first plan. Touch every
    // fact table the corpus queries scan, not just events.
    for (t <- Seq("events", "documents", "embeddings", "lineitem"))
      try Tables.load(spark, sfDir, t).count()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $t: ${e.getMessage}") }

    val medianUnderSec = 3.0

    // LOAD EVIDENCE (round-14 verdict #1): the driver's r14 run
    // measured byte-identical code 1.38x above the same-day builder
    // close — uniform, machine-shaped inflation. Recording the 1-min
    // loadavg and the concurrent-JVM count at run start/end makes a
    // loaded run SELF-IDENTIFYING in the artifact, so a future reader
    // can adjudicate ambient load without re-running anything.
    def loadAvg1m(): Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ")(0).toDouble
      catch { case _: Throwable =>
        java.lang.management.ManagementFactory.getOperatingSystemMXBean
          .getSystemLoadAverage }
    def javaProcs(): Int =
      try {
        val procs = new java.io.File("/proc").listFiles()
        if (procs == null) -1
        else procs.count { f =>
          f.getName.forall(_.isDigit) && {
            try java.nio.file.Files.readString(
              java.nio.file.Paths.get(f.getPath, "comm")).trim == "java"
            catch { case _: Throwable => false }
          }
        }
      } catch { case _: Throwable => -1 }
    val loadStart = loadAvg1m()
    val procsStart = javaProcs()

    // local-iteration filter (unset in driver runs): comma-separated
    // query names
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)

    // The PREVIOUS recorded run's per-query times, read BEFORE this run
    // overwrites the file — the reference the in-suite mover
    // adjudication below compares against (round-15 Next #4). The file
    // is this program's own output, so the flat regex parse is exact.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_OUT.json")
    val prevQueries: Map[String, Double] =
      try {
        val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(outPath))
        val i = txt.indexOf("\"queries\":{")
        if (i < 0) Map.empty
        else {
          val body = txt.substring(i + 11, txt.indexOf('}', i))
          """"([A-Za-z0-9_]+)":([0-9.]+)""".r.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        }
      } catch { case _: Throwable => Map.empty }

    // ONE timed evaluation with the clean-storage discipline: several
    // operators localCheckpoint(eager) intermediates; across 200+
    // queries x up-to-3 reps those blocks accumulate and later
    // queries' timings become a function of storage-memory pressure
    // (round 7: same commit, 0.8 s builder-run vs 12 s driver-run on
    // doc_neardup_minhash). Dropping all persisted RDDs + the DF cache
    // after every rep makes each timing start from the same state.
    def timeOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String)
        => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      System.err.println(f"[bench] $name rep ${dt}%.3f")
      dt
    }

    var errors = List.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      try {
        def rep(): Double = timeOnce(name, fn)
        val first = rep()
        val t =
          if (fixtureHeavy(name) || first < medianUnderSec) {
            // Cold-rep guard (round-10): the FIRST rep of a cheap query
            // pays one-time JVM costs (codegen compile of a new plan
            // shape, first-touch classloading) that are NOT operator
            // cost — measured 3.5 s cold vs 0.3 s warm on
            // doc_dedup_exact, and a 1.5-3 s cold rep lands INSIDE the
            // median window and sets the median (the r9 driver run
            // recorded exactly that as a phantom 3.8-5.6x regression).
            // If both warm reps agree the first was >=1.5x off, discard
            // it for one more FRESH rep — never drop a slow rep the
            // warm reps don't contradict.
            val r2 = rep()
            val r3 = rep()
            val cold = first > 1.5 * math.max(r2, r3)
            val times = (if (cold) Seq(r2, r3, rep()) else Seq(first, r2, r3)).sorted
            times(1) // median of 3
          } else math.min(first, rep()) // heavy: min of 2 strips cold-start
        Some(name -> t)
      } catch {
        case e: Throwable =>
          errors ::= name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
      }
    }
    // IN-SUITE MOVER ADJUDICATION (round-15 Next #4): per-QUERY
    // storage/GC pressure from scenario-gate neighbors can inflate
    // tiny queries 2-18x in-suite even on a quiet machine (the load
    // block only identifies a loaded RUN). Any query whose in-suite
    // time exceeds 2x its previously-recorded value re-measures HERE,
    // after the whole suite has drained (quiet JVM, storage reset,
    // explicit GC) — the automated form of the manual
    // SPARK_GRAFT_BENCH_ONLY re-runs PLANS.md used to record. Both
    // numbers land in the JSON ("queries" = in-suite, "isolated" = the
    // re-measurement), so a reader adjudicates without re-running. The
    // 0.3 s absolute floor skips pure timer noise on sub-100 ms
    // queries; at close, in-suite ≈ recorded and this loop is empty.
    val movers = results.filter { case (n, t) =>
      prevQueries.get(n).exists(p => t > 2.0 * p && t - p > 0.3) }
    val isolated = movers.map { case (n, _) =>
      System.gc()
      val fn = SparkEntry.queries(n)
      val times = Seq(timeOnce(n, fn), timeOnce(n, fn), timeOnce(n, fn)).sorted
      n -> times(1)
    }

    // Locale.ROOT: the default-locale f"" interpolator would print
    // comma decimal separators on non-English JVMs → invalid JSON
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val iso = isolated.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = fmt(results.map(_._2).sum)
    // loadavg ~ cpus means a saturated machine: timings from such a
    // run measure the NEIGHBORS, not the engine (the r14 1.38x lesson)
    val load = s"""{"start_1m":${fmt(loadStart)},"end_1m":${fmt(loadAvg1m())},""" +
      s""""java_procs_start":$procsStart,"java_procs_end":${javaProcs()},""" +
      s""""cpus":${Runtime.getRuntime.availableProcessors()}}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"isolated":$iso,"errors":$errs,"load":$load,"sf":"$sfDir"}"""
    println(json)
    // sbt prefixes stdout with "[info] ", which defeats the driver's
    // line parser — also write the bare line to a file it can read
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write $outPath: ${e.getMessage}") }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
