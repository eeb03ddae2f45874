package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (north-star surface) —
  * brute-force exact scoring as the correctness baseline, and a
  * random-hyperplane LSH bucketed path for scale.
  *
  * Dot products are sequential higher-order folds in DOUBLE
  * (zip_with + aggregate), fully codegen'd — no UDFs, no per-row JVM
  * boxing beyond the array access.
  *
  * Scale notes:
  *  - [[topKExact]] is probe-broadcast × corpus-scan: one pass over the
  *    corpus per batch of probes, partial top-k per partition via the
  *    window, no corpus shuffle. Cost is O(|corpus|·|probes|·dim) FLOPs
  *    — the right baseline, and the oracle for the ANN path.
  *  - [[topKLsh]] buckets both sides on sign-pattern keys; only
  *    same-bucket pairs are scored. Recall is tunable via number of
  *    hyperplanes / probes-per-bucket (multi-probe = flipping one bit).
  */
object Similarity {

  /** Native codegen dot product (graft.functions.VecDot, registered by
    * GraftExtensions): a tight primitive loop in whole-stage codegen. */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** The composable higher-order rendition — identical semantics,
    * interpreted lambdas. Kept as the parity reference for VecDot. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors (cosine) for each probe vector, self
    * excluded; ties broken by neighbor id. `probes` must be small
    * enough to broadcast (it is hinted). Norms are computed once per
    * vector in the per-side projections — the per-pair work is one dot
    * product and one divide. */
  def topKExact(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val p = broadcast(probes.select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
      norm(col("embedding")).as("p_norm")))
    val scored = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      norm(col("embedding")).as("c_norm"))
      .join(p, col("probe_id") =!= col("neighbor_id")) // BNLJ over the broadcast probes: the intended one-pass scan
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm"))).as("sim"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "sim")
  }

  /** Contrastive TRIPLET MINING over a neighbor graph: for each anchor
    * that has both a same-label and a different-label neighbor among
    * its graph candidates, emit (anchor, hardest positive = most
    * similar same-label, hardest negative = most similar
    * different-label) with both sims — the (a, p, n) batch shape
    * contrastive/metric training consumes, with the negative "hard" by
    * construction. Graph-agnostic algebra: pass [[topKExact]] output
    * for provable small-scale mining (the gate shape) or [[knnGraph]]
    * for the banded-LSH production path — the 100 TB cost profile is
    * whatever the graph provider's is, this step adds only two label
    * joins (broadcast-sized (id, label) dims) and one per-anchor
    * struct-max aggregate. Ties: greater neighbor id. */
  def mineTriplets(graph: DataFrame, labels: DataFrame): DataFrame = {
    val anchor = if (graph.columns.contains("probe_id")) "probe_id" else "src_id"
    val g = graph.select(col(anchor).as("anchor_id"), col("neighbor_id"), col("sim"))
    val a = labels.select(col("vec_id").as("anchor_id"), col("label").as("a_label"))
    val n = labels.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))
    g.join(a, Seq("anchor_id")).join(n, Seq("neighbor_id"))
      .groupBy("anchor_id")
      .agg(
        max(when(col("a_label") === col("n_label"),
          struct(col("sim"), col("neighbor_id")))).as("p"),
        max(when(col("a_label") =!= col("n_label"),
          struct(col("sim"), col("neighbor_id")))).as("n"))
      .filter(col("p").isNotNull && col("n").isNotNull)
      .select(col("anchor_id"),
        col("p.neighbor_id").as("positive_id"), col("p.sim").as("pos_sim"),
        col("n.neighbor_id").as("negative_id"), col("n.sim").as("neg_sim"))
  }

  /** kNN LABEL AUDIT (label-denoise, the Confident-Learning-lite
    * shape): each vector's neighborhood label is the majority label
    * among its k graph neighbors (ties → smallest label), and rows
    * whose OWN label disagrees are flagged `suspect` — the label-error
    * triage pass a labeled training set runs before fine-tuning. Same
    * graph-agnostic contract as [[mineTriplets]]: [[topKExact]] for
    * the provable gate, [[knnGraph]] at scale; the audit itself is one
    * broadcast label join + two bounded aggregates. */
  def knnLabelAudit(graph: DataFrame, labels: DataFrame): DataFrame = {
    val anchor = if (graph.columns.contains("probe_id")) "probe_id" else "src_id"
    val n = labels.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"))
    val votes = graph.select(col(anchor).as("vec_id"), col("neighbor_id"))
      .join(n, Seq("neighbor_id"))
      .groupBy("vec_id", "n_label").agg(count(lit(1)).as("c"))
    // the tie-break is a per-anchor window ORDER BY c DESC, label ASC —
    // sort-order-safe for ANY orderable label type (the earlier
    // struct-max used unary minus on the label, which silently
    // null-casts non-numeric labels and flips ties to the LARGEST);
    // the window partitions carry <= |labels| aggregated rows each
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("c").desc, col("n_label").asc)
    val maj = votes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("n_label").as("knn_label"), col("c").as("votes"))
    labels.join(maj, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("knn_label"), col("votes"),
        (col("label") =!= col("knn_label")).as("suspect"))
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * plane `p`, dimension `d`. */
  private def planeComponent(p: Column, d: Column, seed: Long): Column =
    (pmod(xxhash64(p, d, lit(seed)), lit(2000000L)) - lit(1000000L)).cast("double") / 1000000.0

  /** Driver-side replica of [[planeComponent]] — the identical xxhash64
    * chain (`hashInt(p) → hashInt(d) → hashLong(seed)`, function seed
    * 42) evaluated once per (plane, dim) so the matrix ships as a plan
    * literal instead of being re-hashed per row. Parity with the
    * expression rendition is asserted in SimilaritySpec. */
  def xxhashPlanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    (0 until nPlanes).map { p =>
      (0 until dim).map { d =>
        var h = XXH64.hashInt(p, 42L)
        h = XXH64.hashInt(d, h)
        h = XXH64.hashLong(seed, h)
        (Math.floorMod(h, 2000000L) - 1000000L).toDouble / 1000000.0
      }
    }
  }

  /** Sign-bit bucket via the native `vec_sign_bits` kernel
    * (graft.functions.VecSignBits): the plane matrix is a foldable
    * literal referenced as a `double[][]` from generated code, and the
    * whole band is ONE expression — one tight (planes × dim) loop per
    * row. The previous unrolled `when(vec_dot > 0, 1L << p)` sum built
    * ~100 expression nodes per projection at production parameters and
    * ran 3.5× slower (measured, round 5). NULL-propagating: a null
    * embedding, null element, or dimension mismatch buckets to NULL
    * (joins nothing), never the all-negative bucket 0. */
  private def signBits(emb: Column, planes: Seq[Seq[Double]]): Column =
    call_function("vec_sign_bits", emb, typedLit(planes))

  /** Sign-pattern LSH bucket key from `planes` random hyperplanes. The
    * plane matrix is a driver-side literal ([[xxhashPlanes]]); the row
    * kernel is one native vec_sign_bits loop — no per-row hashing, no
    * interpreted lambdas. NULL for null/mismatched embeddings. */
  def lshBucket(emb: Column, planes: Int, dim: Int, seed: Long = 42L): Column =
    signBits(emb, xxhashPlanes(planes, dim, seed))

  /** The composable per-row rendition of [[lshBucket]] — re-derives the
    * plane components with xxhash64 expressions per row. Kept ONLY as
    * the parity reference for the literal-matrix kernel (planes·dim
    * hashes per row make it the wrong shape at scale). */
  def lshBucketHof(emb: Column, planes: Int, seed: Long = 42L): Column =
    aggregate(
      transform(sequence(lit(0), lit(planes - 1)), p => {
        val d = dotHof(emb, transform(sequence(lit(0), size(emb) - 1), i => planeComponent(p, i, seed)))
        struct(p.as("p"), (d > 0).as("bit"))
      }),
      lit(0L),
      (acc, s) => acc +
        when(s.getField("bit"), call_function("shiftleft", lit(1L), s.getField("p"))).otherwise(0L))

  /** Banded (multi-table) sign-LSH keys: `bands` independent tables of
    * `planesPerBand` hyperplanes each, as an array of (band, bucket)
    * structs — the MinHash-banding structure applied to hyperplane LSH.
    * Bucket space scales as bands · 2^r (vs 2^planes for one table), so
    * bucket occupancy — and with it the within-bucket candidate join —
    * stays sub-quadratic as the corpus grows; recall is governed by the
    * band count.
    *
    * The hyperplanes are a seeded driver-side literal matrix
    * (bands·r·dim floats — a few KB shipped once in the plan), and each
    * sign bit is ONE native vec_dot — no per-row component hashing, no
    * interpreted lambdas in the hot path. */
  def lshBandKeys(emb: Column, bands: Int, planesPerBand: Int, dim: Int,
                  seed: Long = 42L): Column = {
    val rng = new scala.util.Random(seed)
    // float components widened exactly to double: identical values to
    // the historical array<float> literal fed through vec_dot
    val planes: Seq[Seq[Double]] =
      Seq.fill(bands * planesPerBand)(Seq.fill(dim)((rng.nextFloat() * 2f - 1f).toDouble))
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        signBits(emb, planes.slice(b * planesPerBand, (b + 1) * planesPerBand)).as("bucket"))
    }: _*)
  }

  /** Cross-engine (DuckDB-replicable) hyperplane matrix: component
    * (q, d) = u32(first 8 hex digits of md5("q:d")) / 2^31 − 1, i.e.
    * uniform in [−1, 1). Derived ONCE driver-side — nPlanes·dim md5
    * calls total, a few KB of literals shipped in the plan — never per
    * row (the per-row md5 rendition cost planes·dim digests PER ROW and
    * regressed the gate 2.5×). Every value n/2^31−1 with n < 2^32 is
    * exactly representable in double, and DuckDB derives the identical
    * matrix as a literal table expression, so sign bits agree bitwise
    * across engines. */
  def md5Planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until nPlanes).map { q =>
      (0 until dim).map { d =>
        val bytes = md.digest(s"$q:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val u32 = java.lang.Integer.toUnsignedLong(java.nio.ByteBuffer.wrap(bytes, 0, 4).getInt)
        u32.toDouble / 2147483648.0 - 1.0
      }
    }
  }

  /** Sign-pattern LSH bucket from md5-derived hyperplanes — the
    * DuckDB-replicable twin of [[lshBucket]] (the xxhash64 path stays
    * the production kernel). The planes are a [[md5Planes]] literal and
    * each sign bit is ONE native vec_dot, so the twin runs at
    * production speed. */
  def lshBucketMd5(emb: Column, planes: Int, dim: Int): Column =
    signBits(emb, md5Planes(planes, dim))

  /** md5-plane rendition of [[lshBandKeys]]: identical banded structure
    * with the [[md5Planes]] derivation, global plane index
    * q = band·planesPerBand + p — the cross-engine twin of the
    * 100×-scale banded path. */
  def lshBandKeysMd5(emb: Column, bands: Int, planesPerBand: Int, dim: Int): Column = {
    val m = md5Planes(bands * planesPerBand, dim)
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        signBits(emb, m.slice(b * planesPerBand, (b + 1) * planesPerBand)).as("bucket"))
    }: _*)
  }

  /** Approximate top-k: score only within matching LSH buckets.
    * Probes with under-full buckets return fewer than k rows — the
    * recall/coverage trade is the point of the ANN path. */
  def topKLsh(corpus: DataFrame, probes: DataFrame, k: Int,
              planes: Int = 8, seed: Long = 42L,
              bucketOf: Column => Column = null): DataFrame = {
    val bucket: Column => Column =
      if (bucketOf == null) {
        // one-row dim peek so the plane matrix ships as a literal
        val dim = corpus.filter(col("embedding").isNotNull)
          .select(size(col("embedding"))).limit(1).collect()
          .headOption.map(_.getInt(0)).getOrElse(0)
        lshBucket(_, planes, dim, seed)
      } else bucketOf
    // null embeddings can never match anything; with NULL-propagating
    // buckets the equi-join drops them anyway — filter explicitly so the
    // scan is smaller and the intent visible
    val c = corpus.filter(col("embedding").isNotNull)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
        norm(col("embedding")).as("c_norm"),
        bucket(col("embedding")).as("bucket"))
    val p = broadcast(probes.filter(col("embedding").isNotNull)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        norm(col("embedding")).as("p_norm"),
        bucket(col("embedding")).as("bucket")))
    val scored = c.join(p, Seq("bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm"))).as("sim"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "sim")
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: k-means-lite coarse quantizer
  // ------------------------------------------------------------------

  /** Per-centroid cosine-rank scores (norm of the row vector omitted —
    * constant across candidates). Centroids ship as literals (k × dim
    * floats — driver-side small by construction); per-row cost is k
    * native dot products. */
  private def centroidScores(emb: Column, cents: Array[Array[Float]]): Column = {
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    val normsLit = typedLit(cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum)).toSeq)
    transform(sequence(lit(0), lit(cents.length - 1)),
      i => dot(emb, element_at(centsLit, i + 1)) / element_at(normsLit, i + 1))
  }

  /** Index of the max-score centroid; ties resolve to the lowest index
    * (array_position returns the first occurrence). */
  private def argmaxCentroid(emb: Column, cents: Array[Array[Float]]): Column = {
    val scored = centroidScores(emb, cents)
    (array_position(scored, array_max(scored)) - 1).cast("int")
  }

  /** The `nprobe` nearest centroid indices for a probe vector:
    * zip scores with indices, ascending struct sort, take the tail. */
  private def topCentroids(emb: Column, cents: Array[Array[Float]], nprobe: Int): Column = {
    val scored = zip_with(centroidScores(emb, cents),
      sequence(lit(0), lit(cents.length - 1)), (s, i) => struct(s.as("s"), i.as("i")))
    transform(
      slice(array_sort(scored), lit(math.max(cents.length - nprobe + 1, 1)), lit(nprobe)),
      x => x.getField("i"))
  }

  /** Deterministic k-means-lite: seeded hash-ordered init, `iters`
    * Lloyd rounds. Centroids return to the driver (k × dim — tiny);
    * each round is one assignment pass + one per-dimension mean
    * aggregation over the corpus. Empty clusters keep their previous
    * centroid. */
  def trainCentroids(vectors: DataFrame, k: Int, iters: Int = 2, seed: Long = 42L): Array[Array[Float]] = {
    var cents = vectors
      .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
      .limit(k).select("embedding")
      .collect().map(_.getSeq[Float](0).toArray)
    val dim = cents.head.length
    for (_ <- 1 to iters) {
      val means = vectors
        .select(argmaxCentroid(col("embedding"), cents).as("cid"), posexplode(col("embedding")))
        .groupBy("cid", "pos").agg(avg("col").as("m"))
        .collect()
        .groupBy(_.getAs[Int]("cid"))
        .map { case (cid, rows) =>
          val arr = new Array[Float](dim)
          rows.foreach(r => arr(r.getAs[Int]("pos")) = r.getAs[Double]("m").toFloat)
          cid -> arr
        }
      cents = cents.indices.map(i => means.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** IVF approximate top-k: corpus rows score only against probes whose
    * `nprobe` nearest centroids include the row's centroid — an
    * equi-join on centroid id. Recall/cost tune via k-centroids ×
    * nprobe; the exact baseline is [[topKExact]]. */
  def topKIvf(corpus: DataFrame, probes: DataFrame, k: Int,
              cents: Array[Array[Float]], nprobe: Int = 2): DataFrame = {
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      norm(col("embedding")).as("c_norm"),
      argmaxCentroid(col("embedding"), cents).as("cid"))
    val p = broadcast(probes.select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
      norm(col("embedding")).as("p_norm"),
      explode(topCentroids(col("embedding"), cents, nprobe)).as("cid")))
    val scored = c.join(p, Seq("cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm"))).as("sim"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "sim")
  }

  /** Slim (vec_id, band, bucket) rows — one pass evaluates all sign
    * bits; nothing downstream shuffles embeddings. The dimension peek
    * is one non-null row (the plane matrix is a plan-time literal);
    * null embeddings are excluded — they can never match anything. */
  private def lshBanded(vectors: DataFrame, bands: Int, planesPerBand: Int, seed: Long,
                        md5Derived: Boolean = false): DataFrame = {
    val nonNull = vectors.filter(col("embedding").isNotNull)
    nonNull.select(size(col("embedding"))).limit(1).collect().headOption match {
      case None => // empty corpus: empty keyed frame with the right schema
        vectors.select(col("vec_id"), lit(0).as("band"), lit(0L).as("bucket")).where(lit(false))
      case Some(r) =>
        val dim = r.getInt(0)
        val keys =
          if (md5Derived) lshBandKeysMd5(col("embedding"), bands, planesPerBand, dim)
          else lshBandKeys(col("embedding"), bands, planesPerBand, dim, seed)
        nonNull
          .select(col("vec_id"), explode(keys).as("bk"))
          .select(col("vec_id"), col("bk.band").as("band"), col("bk.bucket").as("bucket"))
    }
  }

  /** The dropped-bucket METRIC for [[nearDupPairsCosine]]: one row per
    * skipped (band, bucket) with its member count. */
  def skippedBucketsCosine(vectors: DataFrame, bands: Int = 8, planesPerBand: Int = 12,
                           seed: Long = 42L,
                           maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    TextDedup.oversized(lshBanded(vectors, bands, planesPerBand, seed),
      Seq("band", "bucket"), maxBucketSize)

  /** Near-duplicate embedding pairs: cosine ≥ threshold over banded
    * sign-LSH candidates, verified with the exact cosine — identical
    * vectors agree on EVERY band, so recall on exact-copy pairs is 1
    * regardless of banding parameters.
    *
    * Same bounded-candidate discipline as the text near-dup paths:
    * slim banded rows, per-bucket pre-count keeping [2, maxBucketSize]
    * members (hot degenerate buckets skipped — observable via
    * [[skippedBucketsCosine]]), in-bucket pair expansion, distinct,
    * then ONE join back to the vectors per side for the exact verify. */
  def nearDupPairsCosine(vectors: DataFrame, threshold: Double,
                         bands: Int = 8, planesPerBand: Int = 12, seed: Long = 42L,
                         maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    val banded = lshBanded(vectors, bands, planesPerBand, seed)
    val candidates = TextDedup.cappedBucketPairs(
      banded, Seq("band", "bucket"), "vec_id", maxBucketSize, TextDedup.bucketPairs)
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .distinct()

    val v = vectors.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    candidates
      .join(v.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"), col("nrm").as("a_norm")), Seq("a_id"))
      .join(v.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"), col("nrm").as("b_norm")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        (dot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm"))).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Exact (bitwise-identical) vector dedup: keep the minimum vec_id
    * per distinct embedding. One hash-aggregate on the vector value —
    * the cheap precursor to [[dedupNearCosine]] (run exact first so the
    * fuzzy pass never wastes candidates on bit-equal copies). */
  def dedupExactVectors(vectors: DataFrame): DataFrame =
    vectors.groupBy(col("embedding")).agg(min(col("vec_id")).as("vec_id"))
      .select("vec_id")

  /** Fuzzy embedding dedup end-to-end: cosine near-dup pairs →
    * connected components → drop every cluster member except the
    * minimum vec_id (the text-side [[TextDedup.dedupNearMinhash]]
    * applied to vectors; same shuffle discipline — the corpus is only
    * ever anti-joined on the tiny non-canonical member list). */
  def dedupNearCosine(vectors: DataFrame, threshold: Double,
                      bands: Int = 8, planesPerBand: Int = 12, seed: Long = 42L,
                      maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    val pairs = nearDupPairsCosine(vectors, threshold, bands, planesPerBand, seed, maxBucketSize)
    val losers = Components.connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("vec_id"))
    vectors.join(losers, Seq("vec_id"), "left_anti")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into clusters, then
    * within each cluster drop every vector that has a HIGHER-PRIORITY
    * (lower vec_id) cluster-mate with cosine ≥ `tau`. The cluster here
    * is the deterministic md5-plane sign bucket ([[lshBucketMd5]]) —
    * 2^`clusterPlanes` cells playing the role of the paper's k-means
    * cells, chosen so the DuckDB oracle can replay the assignment
    * bitwise (the paper's own finding is that dedup quality is robust
    * to the clustering choice; the cluster only bounds the quadratic
    * term).
    *
    * Semantics: kept(v) ⇔ NO lower-id cluster-mate within tau
    * (dominated-by-earlier; whether the dominator itself survives is
    * irrelevant) — a plain EXISTS, so the oracle is one SQL subquery,
    * and unlike transitive closure a long similarity chain cannot
    * collapse an entire cluster into one survivor. Output: every row
    * as (vec_id, cluster, kept).
    *
    * Scale: one narrow map for cluster assignment, one within-cluster
    * self-join bounded by cell population (at 100 TB raise
    * `clusterPlanes` so cells stay ~sqrt-sized — more cells = less
    * quadratic work, slightly more cross-cell misses, exactly the
    * paper's trade). The join ships (id, cluster, vec) once per side;
    * dominated ids collapse to a distinct id list before the final
    * slim left-anti mark.
    *
    * Null embeddings have no cosine to anything: they come back as
    * (vec_id, cluster = NULL, kept = true) — a row the caller can
    * route, never a silently vanished one. Pass `dim` explicitly to
    * skip the one-row probe job (it's an eager `limit(1).collect()`
    * on an arbitrary row, same pattern as [[topKLsh]]). */
  def semDedup(vectors: DataFrame, tau: Double,
               clusterPlanes: Int = 6, dim: Int = -1): DataFrame = {
    val d = if (dim >= 0) dim else vectors.filter(col("embedding").isNotNull)
      .select(size(col("embedding"))).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    semDedupBy(vectors, tau, e => lshBucketMd5(e, clusterPlanes, d))
  }

  /** [[semDedup]] over REAL k-means cells — the paper's own clustering
    * instead of the md5-plane stand-in: [[trainCentroids]] learns `k`
    * centroids ([[topKIvf]]'s coarse quantizer), every vector joins its
    * argmax-cosine cell, and the same dominated-by-earlier rule runs
    * within cells. Same scale shape (cell-bounded quadratic term; raise
    * `k` to keep cells ~sqrt-sized); the cluster ids are k-means-run
    * artifacts, so cross-engine gates compare the KEPT flags and leave
    * cell-shape checking to the md5 twin. */
  def semDedupKmeans(vectors: DataFrame, tau: Double, k: Int = 8,
                     iters: Int = 2, seed: Long = 42L): DataFrame = {
    val cents = trainCentroids(vectors.filter(col("embedding").isNotNull), k, iters, seed)
    semDedupBy(vectors, tau, e => argmaxCentroid(e, cents).cast("long"))
  }

  /** Shared SemDeDup core: cluster assignment is a pure column function
    * of the embedding (so identical vectors always share a cell — the
    * property the twin-fixture gates lean on). */
  private def semDedupBy(vectors: DataFrame, tau: Double,
                         clusterOf: Column => Column): DataFrame = {
    val clustered = vectors.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"),
        clusterOf(col("embedding")).as("cluster"),
        norm(col("embedding")).as("nrm"))
      .localCheckpoint(true)
    val dominated = clustered.select(col("cluster"), col("vec_id").as("a_id"),
        col("embedding").as("a_emb"), col("nrm").as("a_norm"))
      .join(clustered.select(col("cluster"), col("vec_id").as("b_id"),
        col("embedding").as("b_emb"), col("nrm").as("b_norm")), Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .filter(dot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")) >= tau)
      .select(col("b_id").as("vec_id")).distinct()
    vectors.select(col("vec_id"))
      .join(clustered.select(col("vec_id"), col("cluster")), Seq("vec_id"), "left")
      .join(dominated.withColumn("__drop", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        not(coalesce(col("__drop"), lit(false))).as("kept"))
  }

  /** The persistable (vec_id, band, bucket) sign-LSH index of a vector
    * corpus — the embedding-side analog of [[TextDedup.bandIndex]]: a
    * curation pipeline stores this for its curated tier so each
    * incoming batch bands once and equi-joins the stored index instead
    * of re-hashing the tier's vectors per batch. */
  def vecBandIndex(vectors: DataFrame, bands: Int = 8, planesPerBand: Int = 12,
                   seed: Long = 42L): DataFrame =
    lshBanded(vectors, bands, planesPerBand, seed)

  /** Incremental embedding near-dup: keep the members of `batch` (new
    * vectors) that survive cosine near-dup reconciliation against an
    * existing `tier` AND within the batch itself — the embedding twin
    * of [[TextDedup.nearDupAgainst]], same semantics (equal to
    * batch-global [[dedupNearCosine]] over tier ∪ batch restricted to
    * the batch when tier ids precede batch ids) and the same plan
    * discipline: the batch bands once (checkpointed — cross and
    * in-batch candidates share one evaluation), cross candidates are a
    * (band, bucket) equi-join against the STORED `tierIndex` with the
    * combined bucket population capped, the exact-cosine verify reads
    * tier vectors only for candidate ids (semi-join before the vector
    * projection), and components run over batch-involved edges only.
    * Nothing ever shuffles the tier. */
  def nearDupAgainstCosine(tier: DataFrame, batch: DataFrame, threshold: Double,
                           bands: Int = 8, planesPerBand: Int = 12, seed: Long = 42L,
                           maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
                           tierIndex: Option[DataFrame] = None): DataFrame = {
    val tIdx = tierIndex.getOrElse(vecBandIndex(tier, bands, planesPerBand, seed))
    val bIdx = vecBandIndex(batch, bands, planesPerBand, seed).localCheckpoint(true)

    val tCnt = tIdx.groupBy("band", "bucket").agg(count(lit(1)).as("__tc"))
    val bCnt = bIdx.groupBy("band", "bucket").agg(count(lit(1)).as("__bc"))
    val okBuckets = bCnt.join(tCnt, Seq("band", "bucket"))
      .filter(col("__tc") + col("__bc") <= maxBucketSize)
      .select("band", "bucket")
    val cross = bIdx.join(okBuckets, Seq("band", "bucket"))
      .select(col("band"), col("bucket"), col("vec_id").as("b_id"))
      .join(tIdx.select(col("band"), col("bucket"), col("vec_id").as("t_id")),
        Seq("band", "bucket"))
      .select(col("t_id"), col("b_id")).distinct()
      // consumed by the tier-side prune AND the verify join: checkpoint
      // the slim pair list once instead of re-deriving the band join
      .localCheckpoint(true)

    val tv = tier
      .join(cross.select(col("t_id").as("vec_id")).distinct(), Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("t_id"), col("embedding").as("t_emb"),
        norm(col("embedding")).as("t_norm"))
    val bv = batch.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      norm(col("embedding")).as("b_norm"))
    val crossVerified = cross
      .join(tv, Seq("t_id")).join(bv, Seq("b_id"))
      .filter(dot(col("t_emb"), col("b_emb")) / (col("t_norm") * col("b_norm")) >= threshold)
      .select(col("t_id").as("a_id"), col("b_id"))

    // in-batch pairs reuse the checkpointed index (the batch-global path)
    val internalCands = TextDedup.cappedBucketPairs(
      bIdx, Seq("band", "bucket"), "vec_id", maxBucketSize, TextDedup.bucketPairs)
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))
      .distinct()
    val internal = internalCands
      .join(bv.select(col("b_id").as("a_id"), col("b_emb").as("a_emb"), col("b_norm").as("a_norm")), Seq("a_id"))
      .join(bv, Seq("b_id"))
      .filter(dot(col("a_emb"), col("b_emb")) / (col("a_norm") * col("b_norm")) >= threshold)
      .select("a_id", "b_id")

    val comps = Components.connectedComponents(crossVerified.unionByName(internal))
    val tierIds = tier.select(col("vec_id").as("id"))
    val tierComps = comps.join(tierIds, Seq("id"), "left_semi")
      .select("component").distinct()
    val batchComps = comps.join(tierIds, Seq("id"), "left_anti")
    val losers = batchComps.join(tierComps, Seq("component"), "left_semi").select("id")
      .unionByName(batchComps.filter(col("id") =!= col("component")).select("id"))
      .distinct().withColumnRenamed("id", "vec_id")
    batch.join(losers, Seq("vec_id"), "left_anti")
  }

  /** Banded (multi-table) approximate top-k: candidates are neighbors
    * sharing ANY band bucket with the probe — recall rises with the
    * band count while per-band bucket occupancy stays low (bands · 2^r
    * keys). Candidate (probe, neighbor) pairs are deduped on the slim
    * id pair BEFORE scoring, so each pair is scored exactly once. */
  def topKLshBanded(corpus: DataFrame, probes: DataFrame, k: Int,
                    bands: Int = 16, planesPerBand: Int = 6, seed: Long = 42L,
                    md5Derived: Boolean = false): DataFrame = {
    val c = lshBanded(corpus.select(col("vec_id"), col("embedding")), bands, planesPerBand, seed,
      md5Derived)
      .withColumnRenamed("vec_id", "neighbor_id")
    val p = broadcast(
      lshBanded(probes.select(col("vec_id"), col("embedding")), bands, planesPerBand, seed,
        md5Derived)
        .withColumnRenamed("vec_id", "probe_id"))
    val candidates = c.join(p, Seq("band", "bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select("probe_id", "neighbor_id").distinct()

    val cv = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"),
      norm(col("embedding")).as("c_norm"))
    val pv = broadcast(probes.select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
      norm(col("embedding")).as("p_norm")))
    val scored = candidates.join(cv, Seq("neighbor_id")).join(pv, Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm"))).as("sim"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "sim")
  }

  /** Approximate k-nearest-neighbor GRAPH over the whole corpus — each
    * vector's top-`k` cosine neighbors among the candidates that share
    * any banded sign-LSH bucket with it. The corpus-wide analog of
    * [[topKLshBanded]] (which broadcasts a small probe set — the wrong
    * plan when every vector is a probe): here the corpus bands ONCE
    * into a slim (vec_id, band, bucket) index that equi-joins itself,
    * so the heaviest shuffle carries id triples, never embeddings.
    *
    * Candidate discipline matches every near-dup path in the repo:
    * buckets are pre-counted and only sizes in [2, maxBucketSize]
    * generate pairs (a degenerate bucket — e.g. the all-zeros corner a
    * zero-heavy corpus collapses into — degrades to a skip, never a
    * quadratic task), pairs dedup on the slim id pair BEFORE the
    * vectors are read, and the exact-cosine verify is two hash joins
    * against the id-keyed vector projection. Top-k is a rank-filtered
    * window (WindowGroupLimit: per-task k-heaps, no global sort). */
  def knnGraph(vectors: DataFrame, k: Int, bands: Int = 4, planesPerBand: Int = 8,
               seed: Long = 42L, md5Derived: Boolean = false,
               maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    knnGraphAndSkips(vectors, k, bands, planesPerBand, seed, md5Derived, maxBucketSize)._1

  /** [[knnGraph]] AND its skipped-bucket metric from ONE banding pass —
    * the [[TextDedup.nearDupPairsAndSkipsMinhash]] discipline for the
    * graph: the slim (vec_id, band, bucket) index is checkpointed and
    * feeds both the capped candidate join and the oversize reporter
    * (band, bucket, member_count), so the cap NEVER truncates silently.
    * For a kNN graph the stake is higher than for pair mining: a
    * vector whose every bucket is hot gets ZERO candidates — pipe the
    * graph through [[knnCoverage]] to make those anchors observable as
    * degree-0 rows. */
  def knnGraphAndSkips(vectors: DataFrame, k: Int, bands: Int = 4, planesPerBand: Int = 8,
                       seed: Long = 42L, md5Derived: Boolean = false,
                       maxBucketSize: Int = TextDedup.DefaultMaxBucketSize)
      : (DataFrame, DataFrame) = {
    val idx = lshBanded(vectors.select(col("vec_id"), col("embedding")),
      bands, planesPerBand, seed, md5Derived).localCheckpoint(true)
    val counts = idx.groupBy("band", "bucket").agg(count(lit(1)).as("__n"))
    val skipped = counts.filter(col("__n") > maxBucketSize)
      .select(col("band"), col("bucket"), col("__n").as("member_count"))
    val okBuckets = counts
      .filter(col("__n") >= 2 && col("__n") <= maxBucketSize)
      .select("band", "bucket")
    val kept = idx.join(okBuckets, Seq("band", "bucket"))
    val pairs = kept.select(col("band"), col("bucket"), col("vec_id").as("src_id"))
      .join(kept.select(col("band"), col("bucket"), col("vec_id").as("neighbor_id")),
        Seq("band", "bucket"))
      .filter(col("src_id") =!= col("neighbor_id"))
      .select("src_id", "neighbor_id").distinct()
    val v = vectors.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("__nrm"))
    val scored = pairs
      .join(v.select(col("vec_id").as("src_id"), col("embedding").as("s_emb"),
        col("__nrm").as("s_norm")), Seq("src_id"))
      .join(v.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col("__nrm").as("n_norm")), Seq("neighbor_id"))
      .select(col("src_id"), col("neighbor_id"),
        (dot(col("s_emb"), col("n_emb")) / (col("s_norm") * col("n_norm"))).as("sim"))
    val w = Window.partitionBy(col("src_id")).orderBy(col("sim").desc, col("neighbor_id"))
    (scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("src_id", "rank", "neighbor_id", "sim"),
      skipped)
  }

  /** Per-anchor DEGREE of a kNN graph over the FULL corpus: every
    * vec_id with its neighbor count, INCLUDING the degree-0 anchors
    * the graph has no row for (every bucket the vector landed in was
    * hot or a singleton). The coverage read a graph consumer (label
    * audit, triplet mining, clustering) runs before trusting the
    * graph: a dropped bucket costs pairs; a degree-0 anchor is a
    * vector the graph SILENTLY knows nothing about. One slim count
    * aggregate + a left join on ids — no embeddings move. */
  def knnCoverage(vectors: DataFrame, graph: DataFrame): DataFrame = {
    val anchor = if (graph.columns.contains("probe_id")) "probe_id" else "src_id"
    val deg = graph.groupBy(col(anchor).as("vec_id")).agg(count(lit(1)).as("degree"))
    vectors.select(col("vec_id"))
      .join(deg, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("degree"), lit(0L)).as("degree"))
  }

  /** Mutual-kNN edges: (a, b) kept only when b is in a's top-k AND a is
    * in b's top-k — the standard sparsification step between a raw kNN
    * graph and density clustering (mutual edges are far more likely to
    * be same-cluster than one-directional ones).
    *
    * The graph is evaluated ONCE (checkpointed) and serves both
    * directions; the reciprocity test is a slim (id, id) semi-join.
    * Cosine is symmetric and the kernel accumulates in index order, so
    * the two directions carry bit-identical sims — `a < b` dedups. */
  def mutualKnn(vectors: DataFrame, k: Int, bands: Int = 4, planesPerBand: Int = 8,
                seed: Long = 42L, md5Derived: Boolean = false,
                maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    mutualKnnAndSkips(vectors, k, bands, planesPerBand, seed, md5Derived, maxBucketSize)._1

  /** [[mutualKnn]] with the same skipped-bucket reporter as
    * [[knnGraphAndSkips]] (whose graph it sparsifies). */
  def mutualKnnAndSkips(vectors: DataFrame, k: Int, bands: Int = 4, planesPerBand: Int = 8,
                        seed: Long = 42L, md5Derived: Boolean = false,
                        maxBucketSize: Int = TextDedup.DefaultMaxBucketSize)
      : (DataFrame, DataFrame) = {
    val (g0, skipped) = knnGraphAndSkips(
      vectors, k, bands, planesPerBand, seed, md5Derived, maxBucketSize)
    val g = g0.select(col("src_id"), col("neighbor_id"), col("sim"))
      .localCheckpoint(true)
    val fwd = g.select(col("src_id").as("a_id"), col("neighbor_id").as("b_id"), col("sim"))
    val rev = g.select(col("neighbor_id").as("a_id"), col("src_id").as("b_id"))
    (fwd.join(rev, Seq("a_id", "b_id"), "left_semi")
      .filter(col("a_id") < col("b_id")),
      skipped)
  }

  /** Per-label mean embedding — class prototypes / cluster centroids
    * over a labeled corpus, one row per (label, dimension).
    *
    * The explode-then-aggregate shape is deliberately scale-safe: the
    * posexplode is row-local (no shuffle of its own) and the aggregate
    * partial-combines map-side, so the one Exchange carries only
    * |labels| × dim rows per task — independent of corpus size.
    *
    * Summation is DECIMAL(38,18), not DOUBLE: partial aggregation adds
    * in task-completion order, so a double sum is not reproducible
    * run-to-run (let alone engine-to-engine); fixed-point addition is
    * exact and order-free. The single final divide runs in DOUBLE
    * (one correctly-rounded IEEE op — portable). */
  def labelCentroids(embeddings: DataFrame, labelCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(labelCol).as("label"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy("label", "dim")
      .agg((sum(col("v").cast("decimal(38,18)")).cast("double") / count(lit(1)))
        .as("centroid_v"))

  /** Exact top-k cosine search in the QUANTIZED domain — the compressed
    * -tier baseline: the scan reads int8 codes (4× less than float32),
    * floats are never touched. Dequantized vectors are affine in the
    * codes (v̂ᵢ = mn + cᵢ·s), so the pair dot expands to
    *   d·mnₐ·mn_b + mnₐ·s_b·Σc_b + mn_b·sₐ·Σcₐ + sₐ·s_b·Σcₐc_b
    * where every Σ is an INTEGER sum (exact in double: codes ≤ 255,
    * so Σcₐc_b ≤ d·65025 ≪ 2⁵³) — the integer-dot-plus-scale-correction
    * shape int8 SIMD kernels use. Per-pair float work is O(1) after
    * the one integer dot; the whole score is therefore
    * bit-deterministic and DuckDB-replayable, unlike a float-sum
    * cosine. Self-norms ride the same identity with (a,a). Probes
    * broadcast; ranking is the standard per-probe window. */
  def topKQuantized(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    def qSide(df: DataFrame, id: String, p: String): DataFrame =
      quantizeInt8(df).select(col("vec_id").as(id),
        col("v_min").as(s"${p}mn"),
        ((col("v_max") - col("v_min")) / lit(255.0)).as(s"${p}s"),
        transform(col("codes"), c => c.cast("double")).as(s"${p}cd"),
        size(col("codes")).cast("double").as(s"${p}d"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c).cast("double").as(s"${p}csum"),
        aggregate(col("codes"), lit(0L), (a, c) => a + c * c).cast("double").as(s"${p}csq"))
      .withColumn(s"${p}normsq",
        col(s"${p}d") * col(s"${p}mn") * col(s"${p}mn")
          + lit(2.0) * col(s"${p}mn") * col(s"${p}s") * col(s"${p}csum")
          + col(s"${p}s") * col(s"${p}s") * col(s"${p}csq"))
    val p = broadcast(qSide(probes, "probe_id", "p_"))
    val scored = qSide(corpus, "neighbor_id", "c_")
      .join(p, col("probe_id") =!= col("neighbor_id")) // BNLJ over broadcast probes — the intended one-pass code scan
      .select(col("probe_id"), col("neighbor_id"),
        ((col("p_d") * col("p_mn") * col("c_mn")
          + col("p_mn") * col("c_s") * col("c_csum")
          + col("c_mn") * col("p_s") * col("p_csum")
          + col("p_s") * col("c_s") * call_function("vec_dot", col("p_cd"), col("c_cd")))
          / (sqrt(col("p_normsq")) * sqrt(col("c_normsq")))).as("sim"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "sim")
  }

  /** Per-vector int8 scalar quantization — the 4× storage/bandwidth
    * compression an ANN tier applies before 100 TB of float vectors
    * ship anywhere (codes rebuild as v_min + code × scale, max error
    * one quantization step). Row-local projection, scan speed, no
    * shuffle; at scale this runs inside the same stage as the scan.
    *
    * Exactness discipline: every element widens float→double (exact),
    * min/max/floor/divide run in DOUBLE with one fixed expression
    * shape, and the clamp is part of the contract — so codes are
    * bit-identical across engines. Degenerate vectors: constant →
    * all-zero codes (scale 0 carries the value in v_min); empty →
    * empty codes with NULL range; NULL → NULL through. */
  def quantizeInt8(embeddings: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding", keep: Seq[String] = Nil): DataFrame = {
    val kc = keep.map(col)
    val widened = embeddings.select(col(idCol) +: kc :+
      transform(col(vecCol), v => v.cast("double")).as("__v"): _*)
    val mm = widened.select(col(idCol) +: kc :+ col("__v") :+
      array_min(col("__v")).as("v_min") :+ array_max(col("__v")).as("v_max"): _*)
    mm.select(col(idCol) +: kc :+ col("v_min") :+ col("v_max") :+
      when(col("v_max") === col("v_min"), transform(col("__v"), _ => lit(0)))
        .otherwise(transform(col("__v"), v =>
          least(floor((v - col("v_min")) * lit(255.0) / (col("v_max") - col("v_min"))), lit(255.0))
            .cast("int")))
        .as("codes"): _*)
  }

  // ----------------------------------------------------------------
  // Product quantization (Jégou, Douze & Schmid, "Product Quantization
  // for Nearest Neighbor Search", TPAMI 2011) — the compressed ANN
  // tier BETWEEN scalar int8 and a full float index: each vector
  // stores m sub-codes (one byte each at ksub ≤ 256) plus its two
  // quantization scalars, ~m+8 bytes instead of 4·d. Everything runs
  // in the int8 CODE domain on top of [[quantizeInt8]], so encode,
  // reconstruction, and scores are pure integer arithmetic + one fixed
  // IEEE affine shape — bit-deterministic and DuckDB-replayable, the
  // same exactness discipline as [[topKQuantized]].
  // ----------------------------------------------------------------

  /** Cross-engine integer PQ codebooks: subspace j, centroid c,
    * component i = u8(first byte of md5("pq:<j·ksub+c>:<i>")) — the
    * [[md5Planes]] derivation lifted to the code domain [0, 255], so
    * DuckDB rebuilds the identical codebook from first principles.
    * (Random codebooks gate ALGEBRA, not recall — the quality path is
    * [[trainPqBooks]].) */
  def pqBooksMd5(m: Int, ksub: Int, dsub: Int): Seq[Seq[Seq[Int]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until m).map { j =>
      (0 until ksub).map { c =>
        (0 until dsub).map { i =>
          val bytes = md.digest(
            s"pq:${j * ksub + c}:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          java.lang.Byte.toUnsignedInt(bytes(0))
        }
      }
    }
  }

  /** Learned PQ codebooks: per-subspace k-means-lite over the int8 code
    * subvectors, centroids rounded back into the integer code domain so
    * the encode/score arithmetic stays exact. Training is m·iters
    * passes over 1-byte codes and returns a k·d-sized driver literal;
    * at 100 TB you train on a hash-sample — encoding is always the
    * full-corpus scan-local projection. */
  def trainPqBooks(vectors: DataFrame, m: Int, ksub: Int, iters: Int = 2,
                   seed: Long = 42L, idCol: String = "vec_id",
                   vecCol: String = "embedding"): Seq[Seq[Seq[Int]]] = {
    // Training fires m·(1+iters)+1 separate jobs; without pinning, each
    // re-executes the whole quantize lineage (interpreted higher-order
    // lambdas over every vector) — measured 22 of emb_topk_ivfpq's
    // 24 s at sf0.1. The (id, codes) frame is m bytes/vector: cheap to
    // checkpoint once, released before returning.
    val q = quantizeInt8(vectors, idCol, vecCol).filter(col("codes").isNotNull)
      .select(col(idCol), col("codes")).localCheckpoint(true)
    try {
      val dim = q.select(size(col("codes"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(0)
      require(dim > 0 && dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
      val dsub = dim / m
      // the m subspace trainings are INDEPENDENT (disjoint code slices,
      // per-subspace seeds) — submit them from a driver thread pool so
      // their Lloyd-round jobs overlap instead of serializing
      // m·(1+iters) tiny driver-coordinated jobs end to end (guide
      // §2.6: overlap independent jobs; actions are only sequential
      // because the driver calls them sequentially). Each subspace's
      // own computation — init order, assignment, means — is unchanged,
      // so the returned codebooks are bit-identical to the sequential
      // loop; results assemble in subspace order.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val trained = (0 until m).map { j =>
        Future {
          val sub = q.select(col(idCol).as("vec_id"),
            transform(slice(col("codes"), j * dsub + 1, dsub), c => c.cast("float")).as("embedding"))
          trainCentroids(sub, ksub, iters, seed + j)
            .map(_.map(v => math.min(255, math.max(0, math.round(v)))).toSeq).toSeq
        }
      }
      Await.result(Future.sequence(trained), Duration.Inf).toIndexedSeq
    } finally q.unpersist(blocking = false)
  }

  /** Per-subspace argmin-L2 assignment over an int8 `codes` column:
    * for each of the m slices, distances to the ksub codebook rows are
    * exact integer sums with FIRST-hit ties — lowest centroid id on
    * both engines. Native kernel (`graft.functions.PqAssign`): the
    * codebook travels as ONE flat array<int> literal and the argmin is
    * a generated loop — the composable rendition (kept below for
    * property parity) builds m·ksub aggregate expressions, which at
    * production resolution (m=16, ksub=256) serialized ~33 MiB task
    * binaries and fell off the codegen path. */
  private def pqAssign(codes: Column, books: Seq[Seq[Seq[Int]]]): Column =
    call_function("pq_assign", codes, booksFlat(books),
      lit(books.length), lit(books.head.length))

  /** The codebook flattened [j][c][d]-major as one array<int> literal —
    * plan size O(m·ksub·dsub) INTS IN ONE LITERAL NODE, not O(m·ksub)
    * expression subtrees. */
  private def booksFlat(books: Seq[Seq[Seq[Int]]]): Column =
    lit(books.flatten.flatten.toArray)

  /** The pre-kernel composable rendition of [[pqAssign]] — retained as
    * the executable spec the KernelProperties suite checks the kernel
    * against (same integer sums, same first-min tie rule). */
  private[graft] def pqAssignComposable(codes: Column, books: Seq[Seq[Seq[Int]]]): Column = {
    val dsub = books.head.head.length
    array(books.indices.map { j =>
      val sub = slice(codes, j * dsub + 1, dsub)
      val dists = array(books(j).map { cent =>
        aggregate(zip_with(sub, array(cent.map(v => lit(v)): _*),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)
      }: _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
  }

  /** PQ-encode a corpus: int8-quantize, then assign each code slice to
    * its codebook entry. The output row (id, v_min, v_max, pq_codes)
    * IS the persistable ANN index tier — m small ints + two scalars
    * per vector. Extra columns listed in `keep` ride through (e.g. a
    * coarse cell id computed in the same scan stage). */
  def pqEncode(embeddings: DataFrame, books: Seq[Seq[Seq[Int]]],
               idCol: String = "vec_id", vecCol: String = "embedding",
               keep: Seq[String] = Nil): DataFrame =
    quantizeInt8(embeddings, idCol, vecCol, keep)
      .select(col(idCol) +: keep.map(col) :+ col("v_min") :+ col("v_max") :+
        pqAssign(col("codes"), books).as("pq_codes"): _*)

  /** Code-domain reconstruction: concatenation of the chosen codebook
    * rows — the serve-path twin of [[pqAssign]], same one-flat-literal
    * kernel discipline (`graft.functions.PqRecon`). */
  private def pqRecon(pqCodes: Column, books: Seq[Seq[Seq[Int]]]): Column =
    call_function("pq_recon", pqCodes, booksFlat(books),
      lit(books.length), lit(books.head.length))

  /** Pre-kernel composable rendition of [[pqRecon]], retained for
    * property parity (KernelProperties). */
  private[graft] def pqReconComposable(pqCodes: Column, books: Seq[Seq[Seq[Int]]]): Column =
    flatten(array(books.indices.map { j =>
      val bookLit = array(books(j).map(cent => array(cent.map(v => lit(v)): _*)): _*)
      element_at(bookLit, element_at(pqCodes, j + 1) + 1)
    }: _*))

  /** Shared scoring-side prep: encode, reconstruct, and precompute the
    * affine-correction scalars. Dequantized vectors are affine in the
    * codes (v̂ᵢ = mn + cᵢ·s), so the [[topKQuantized]] algebra applies
    * verbatim with the PQ reconstruction standing in for the true
    * codes: every Σ is an exact integer sum, the affine shape is one
    * fixed IEEE expression — scores are bit-deterministic. */
  private def pqSide(df: DataFrame, books: Seq[Seq[Seq[Int]]], id: String,
                     p: String, keep: Seq[String] = Nil): DataFrame =
    pqScoreSide(pqEncode(df, books, keep = keep), books, id, p, keep)

  /** [[pqSide]] starting from an ALREADY-ENCODED frame
    * (vec_id, v_min, v_max, pq_codes [, keep…]) — the read path of the
    * stored index tier: reconstruction and the affine scalars derive
    * from the m-byte codes in the scan stage, the float corpus is
    * never touched. */
  private def pqScoreSide(encoded: DataFrame, books: Seq[Seq[Seq[Int]]], id: String,
                          p: String, keep: Seq[String] = Nil): DataFrame =
    encoded.select(col("vec_id").as(id) +: keep.map(col) :+
        col("v_min").as(s"${p}mn") :+
        ((col("v_max") - col("v_min")) / lit(255.0)).as(s"${p}s") :+
        pqRecon(col("pq_codes"), books).as(s"${p}rc"): _*)
      .withColumn(s"${p}cd", transform(col(s"${p}rc"), c => c.cast("double")))
      .withColumn(s"${p}d", size(col(s"${p}rc")).cast("double"))
      .withColumn(s"${p}csum", aggregate(col(s"${p}rc"), lit(0L), (a, c) => a + c).cast("double"))
      .withColumn(s"${p}csq", aggregate(col(s"${p}rc"), lit(0L), (a, c) => a + c * c).cast("double"))
      .withColumn(s"${p}normsq",
        col(s"${p}d") * col(s"${p}mn") * col(s"${p}mn")
          + lit(2.0) * col(s"${p}mn") * col(s"${p}s") * col(s"${p}csum")
          + col(s"${p}s") * col(s"${p}s") * col(s"${p}csq"))

  /** The symmetric-distance PQ cosine: [[topKQuantized]]'s affine
    * expansion over both sides' reconstructions — one integer dot plus
    * O(1) float corrections per pair. */
  private def pqSim: Column =
    ((col("p_d") * col("p_mn") * col("c_mn")
      + col("p_mn") * col("c_s") * col("c_csum")
      + col("c_mn") * col("p_s") * col("p_csum")
      + col("p_s") * col("c_s") * call_function("vec_dot", col("p_cd"), col("c_cd")))
      / (sqrt(col("p_normsq")) * sqrt(col("c_normsq")))).as("sim")

  /** Exhaustive PQ top-k — the full-replay algebra gate for the
    * compressed tier (probes broadcast, ONE scan over m-byte codes,
    * BNLJ — floats never leave the scan stage). The approximate path
    * [[topKIvfPq]] adds the coarse cells on top. */
  def topKPq(corpus: DataFrame, probes: DataFrame, k: Int,
             books: Seq[Seq[Seq[Int]]]): DataFrame = {
    val p = broadcast(pqSide(probes, books, "probe_id", "p_"))
    val scored = pqSide(corpus, books, "neighbor_id", "c_")
      .join(p, col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), pqSim)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "sim")
  }

  /** IVF-PQ approximate top-k (the paper's IVFADC shape): coarse
    * k-means cells bound the candidate set via an equi-join on cell id
    * — the corpus side is the [[pqEncode]] index plus a cell id, never
    * a reshuffled float corpus — and PQ codes score candidates in the
    * compressed domain. Recall tunes via k-cells × nprobe × ksub; the
    * planted-twin invariant (identical vector ⇒ identical cell AND
    * identical reconstruction ⇒ maximal sim) makes rank-1 provable
    * against the exact brute-force oracle. */
  /** [[topKIvfPq]] with an EXACT re-rank tail — the ADC+refine shape
    * every production IVF-PQ deployment runs: the compressed domain
    * proposes `refine` (>k) candidates per probe, and only those
    * (probe, candidate) pairs join back to the float corpus for a true
    * cosine. At 100 TB the floats are touched for refine·|probes| rows
    * via an equi-join on candidate id — never a corpus scan in the
    * float domain — so the scan cost stays the ~m-bytes/vector PQ tier
    * while the returned sims are EXACT (the gate can compare them
    * full-value, which the PQ-only path cannot). */
  def topKIvfPqRefine(corpus: DataFrame, probes: DataFrame, k: Int,
                      cents: Array[Array[Float]], books: Seq[Seq[Seq[Int]]],
                      nprobe: Int = 2, refine: Int = 32): DataFrame =
    topKIvfPqStoredRefine(pqIndex(corpus, cents, books), corpus, probes, k,
      cents, books, nprobe, refine)

  def topKIvfPq(corpus: DataFrame, probes: DataFrame, k: Int,
                cents: Array[Array[Float]], books: Seq[Seq[Seq[Int]]],
                nprobe: Int = 2): DataFrame =
    topKIvfPqStored(pqIndex(corpus, cents, books), probes, k, cents, books, nprobe)

  /** The PERSISTABLE IVF-PQ index tier of a corpus:
    * (vec_id, cell, v_min, v_max, pq_codes) — coarse cell + m sub-codes
    * + two quantization scalars per vector, ~m+12 bytes instead of 4·d
    * floats, built in ONE shuffle-free Project (cell assignment and PQ
    * encode share the scan stage; centroids/codebooks are plan
    * literals). This row IS the stored ANN tier: write it once via
    * `Catalog.overwriteTable`, append-encode each new batch with
    * another `pqIndex(batch, …)` + `insertAppend` (the
    * `doc_dedup_exact_incr` treadmill discipline — the corpus is never
    * re-encoded), and serve reads with [[topKIvfPqStored]] /
    * [[topKIvfPqStoredRefine]]. The codebook/centroid literals are the
    * index's versioning key: retraining them means rebuilding the
    * tier, so at 100 TB they are trained once on a hash-sample and
    * frozen per index generation. */
  def pqIndex(vectors: DataFrame, cents: Array[Array[Float]],
              books: Seq[Seq[Seq[Int]]]): DataFrame =
    pqIndexBy(vectors, argmaxCentroid(_, cents), books)

  /** [[pqIndex]] with a caller-chosen coarse-cell function — any pure
    * column function of the embedding (k-means argmax in production,
    * [[lshBucketMd5]] when a gate needs DuckDB to replay the cell
    * assignment from first principles). */
  def pqIndexBy(vectors: DataFrame, cellOf: Column => Column,
                books: Seq[Seq[Seq[Int]]]): DataFrame =
    pqEncode(vectors.withColumn("cell", cellOf(col("embedding"))),
      books, keep = Seq("cell"))
      .select("vec_id", "cell", "v_min", "v_max", "pq_codes")

  /** Corpus-wide kNN GRAPH served ENTIRELY from the stored PQ tier —
    * the compressed-domain answer to [[knnGraph]]'s LSH hotspot (the
    * 500 k smoke's 166.8 s knn_graph is candidate-bound on hot LSH
    * buckets): the [[pqIndex]] table self-equi-joins on the coarse
    * cell, pairs score with the symmetric-distance PQ cosine (one
    * integer dot + O(1) float corrections), and top-k is the per-task
    * rank window. NO float vector appears anywhere in the plan — the
    * scan is m codes + two scalars per row, so at 100 TB the graph
    * build reads the ~m+12-byte tier, not the 4·d-byte corpus.
    *
    * Same candidate discipline as every capped path: cells pre-count,
    * only [2, maxCellSize] populations expand (a degenerate cell
    * degrades to a REPORTED skip — see the AndSkips form — never a
    * quadratic task), and work per cell is population-bounded, so
    * total cost is Σ|cell|² — the SemDeDup trade: more cells, less
    * quadratic work, slightly more cross-cell misses. Neighbors are
    * same-cell only (nprobe=1 by construction); sims are approximate
    * (PQ-domain) — pipe through an exact re-rank where exactness
    * matters, as [[topKIvfPqStoredRefine]] does for probe reads. */
  def knnGraphPq(index: DataFrame, books: Seq[Seq[Seq[Int]]], k: Int,
                 maxCellSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    knnGraphPqAndSkips(index, books, k, maxCellSize)._1

  /** [[knnGraphPq]] AND its skipped-cell reporter (cell,
    * member_count) from the same pre-count — no silent caps. */
  def knnGraphPqAndSkips(index: DataFrame, books: Seq[Seq[Seq[Int]]], k: Int,
                         maxCellSize: Int = TextDedup.DefaultMaxBucketSize)
      : (DataFrame, DataFrame) = {
    val counts = index.groupBy("cell").agg(count(lit(1)).as("__n"))
    val skipped = counts.filter(col("__n") > maxCellSize)
      .select(col("cell"), col("__n").as("member_count"))
    val ok = counts.filter(col("__n") >= 2 && col("__n") <= maxCellSize).select("cell")
    val kept = index.join(ok, Seq("cell"))
    val a = pqScoreSide(kept, books, "src_id", "s_", keep = Seq("cell"))
    val b = pqScoreSide(kept, books, "neighbor_id", "n_", keep = Seq("cell"))
    val scored = a.join(b, Seq("cell"))
      .filter(col("src_id") =!= col("neighbor_id"))
      .select(col("src_id"), col("neighbor_id"),
        ((col("s_d") * col("s_mn") * col("n_mn")
          + col("s_mn") * col("n_s") * col("n_csum")
          + col("n_mn") * col("s_s") * col("s_csum")
          + col("s_s") * col("n_s") * call_function("vec_dot", col("s_cd"), col("n_cd")))
          / (sqrt(col("s_normsq")) * sqrt(col("n_normsq")))).as("sim"))
    val w = Window.partitionBy(col("src_id")).orderBy(col("sim").desc, col("neighbor_id"))
    (scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("src_id", "rank", "neighbor_id", "sim"),
      skipped)
  }

  /** EXACT re-rank tail for a corpus-wide graph: `cand` (src_id,
    * neighbor_id [, …]) proposes candidates — from [[knnGraphPq]],
    * [[knnGraphPqProbed]], or any other provider — and ONLY those
    * pairs equi-join back to the float `corpus` for a true cosine,
    * re-ranked to top-`k` per anchor. The graph twin of
    * [[topKIvfPqStoredRefine]]: floats are touched for |cand| rows via
    * two id-keyed hash joins, never a corpus scan in the float domain,
    * so a PQ-proposed graph keeps its ~m+12-byte scan cost while the
    * returned sims are EXACT (what triplet mining / label audit should
    * consume when sim VALUES matter, not just ranks). */
  def graphRefineExact(cand: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val v = corpus.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("__nrm"))
    val exact = cand.select("src_id", "neighbor_id")
      .join(v.select(col("vec_id").as("src_id"), col("embedding").as("s_emb"),
        col("__nrm").as("s_norm")), Seq("src_id"))
      .join(v.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"),
        col("__nrm").as("n_norm")), Seq("neighbor_id"))
      .select(col("src_id"), col("neighbor_id"),
        (dot(col("s_emb"), col("n_emb")) / (col("s_norm") * col("n_norm"))).as("sim"))
    val w = Window.partitionBy(col("src_id")).orderBy(col("sim").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("src_id", "rank", "neighbor_id", "sim")
  }

  /** [[knnGraphPq]] + the exact re-rank tail: the compressed domain
    * proposes `refine` (>k) candidates per anchor, floats join back
    * only for those pairs — the graph consumer gets EXACT sims at
    * PQ-tier scan cost. */
  def knnGraphPqRefine(index: DataFrame, corpus: DataFrame,
                       books: Seq[Seq[Seq[Int]]], k: Int, refine: Int = 16,
                       maxCellSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    graphRefineExact(knnGraphPq(index, books, refine, maxCellSize), corpus, k)

  /** Reconstruction-vs-centroid cosine scores, entirely in the
    * COMPRESSED domain: the dequantized vector is affine in the codes
    * (v̂ᵢ = mn + s·rcᵢ), so dot(v̂, c) = mn·Σcⱼ + s·Σ(rcᵢ·cᵢ) — the
    * centroid component sums and norms are plan literals, the per-cell
    * work is one [[dot]] over the reconstruction. What lets a stored
    * index row rank coarse cells WITHOUT its float vector. */
  private def reconCentroidScores(p: String, cents: Array[Array[Float]]): Column = {
    val centsLit = typedLit(cents.map(_.map(_.toDouble).toSeq).toSeq)
    val sumsLit = typedLit(cents.map(_.map(_.toDouble).sum).toSeq)
    val normsLit = typedLit(cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum)).toSeq)
    transform(sequence(lit(0), lit(cents.length - 1)), i =>
      (col(s"${p}mn") * element_at(sumsLit, i + 1)
        + col(s"${p}s") * dot(col(s"${p}cd"), element_at(centsLit, i + 1)))
        / (sqrt(col(s"${p}normsq")) * element_at(normsLit, i + 1)))
  }

  /** [[knnGraphPq]] with CROSS-CELL candidates — the nprobe>1 answer
    * to the same-cell-only blind spot (a boundary vector's true
    * nearest neighbor in an adjacent cell is invisible to the nprobe=1
    * graph, and unlike the capped cells that miss is not reported):
    * each anchor ranks the coarse centroids against its PQ
    * RECONSTRUCTION (compressed domain — no float vector anywhere in
    * the plan) and probes its top-`nprobe` cells; neighbors join on
    * their ASSIGNED cell as before. Candidate volume is bounded by
    * nprobe cell populations per anchor; the same [2, maxCellSize]
    * cap applies on the neighbor side with the skipped cells reported.
    * The probe set ALWAYS includes the anchor's assigned cell (it was
    * chosen from the float vector at encode time — strictly better
    * information than any recon ranking), so the candidate set is a
    * SUPERSET of [[knnGraphPq]]'s for every nprobe ≥ 1, plus up to
    * `nprobe` recon-ranked cells beyond it; an anchor stranded in a
    * skipped hot cell still reaches neighbors through its other
    * probes. Recall vs the LSH graph is characterized in
    * SimilaritySpec; PLANS.md records its 80k-tier measurement. */
  def knnGraphPqProbed(index: DataFrame, cents: Array[Array[Float]],
                       books: Seq[Seq[Seq[Int]]], k: Int, nprobe: Int = 2,
                       maxCellSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    knnGraphPqProbedAndSkips(index, cents, books, k, nprobe, maxCellSize)._1

  /** [[knnGraphPqProbed]] AND its skipped-cell reporter. */
  def knnGraphPqProbedAndSkips(index: DataFrame, cents: Array[Array[Float]],
                               books: Seq[Seq[Seq[Int]]], k: Int, nprobe: Int = 2,
                               maxCellSize: Int = TextDedup.DefaultMaxBucketSize)
      : (DataFrame, DataFrame) = {
    val counts = index.groupBy("cell").agg(count(lit(1)).as("__n"))
    val skipped = counts.filter(col("__n") > maxCellSize)
      .select(col("cell"), col("__n").as("member_count"))
    val ok = counts.filter(col("__n") <= maxCellSize).select("cell")
    // neighbor side: assigned cell, capped (singleton cells stay — an
    // anchor probing INTO a 1-member cell is a real candidate)
    val b = pqScoreSide(index.join(ok, Seq("cell")), books, "neighbor_id", "n_",
      keep = Seq("cell"))
    // anchor side: assigned cell + top-nprobe recon-ranked cells —
    // scores zip with cell ids, ascending struct sort, take the tail
    // (the topCentroids shape in the compressed domain), dedup against
    // the assigned cell
    val a0 = pqScoreSide(index.withColumnRenamed("cell", "__assigned"),
      books, "src_id", "s_", keep = Seq("__assigned"))
    val scoredCells = zip_with(reconCentroidScores("s_", cents),
      sequence(lit(0), lit(cents.length - 1)), (s, i) => struct(s.as("s"), i.as("i")))
    val a = a0.withColumn("cell",
      explode(array_distinct(concat(
        array(col("__assigned")),
        transform(
          slice(array_sort(scoredCells), lit(math.max(cents.length - nprobe + 1, 1)), lit(nprobe)),
          x => x.getField("i"))))))
      .drop("__assigned")
    val scored = a.join(b, Seq("cell"))
      .filter(col("src_id") =!= col("neighbor_id"))
      .select(col("src_id"), col("neighbor_id"),
        ((col("s_d") * col("s_mn") * col("n_mn")
          + col("s_mn") * col("n_s") * col("n_csum")
          + col("n_mn") * col("s_s") * col("s_csum")
          + col("s_s") * col("n_s") * call_function("vec_dot", col("s_cd"), col("n_cd")))
          / (sqrt(col("s_normsq")) * sqrt(col("n_normsq")))).as("sim"))
      // an anchor probing two cells can meet the same neighbor only
      // once (a neighbor has ONE assigned cell) — no pair dedup needed
    val w = Window.partitionBy(col("src_id")).orderBy(col("sim").desc, col("neighbor_id"))
    (scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("src_id", "rank", "neighbor_id", "sim"),
      skipped)
  }

  /** IVF-PQ top-k against the STORED index (the [[pqIndex]] row shape):
    * probes encode inline (probe sets are small), the corpus side reads
    * cell + codes + two scalars from the index table and reconstructs
    * in the scan stage — no float corpus anywhere in the plan, no
    * re-encode per query. The read is an equi-join on cell id, so scan
    * cost is the m-bytes/vector tier and candidate volume is bounded by
    * nprobe cell populations per probe. */
  def topKIvfPqStored(index: DataFrame, probes: DataFrame, k: Int,
                      cents: Array[Array[Float]], books: Seq[Seq[Seq[Int]]],
                      nprobe: Int = 2): DataFrame = {
    val c = pqScoreSide(index.withColumnRenamed("cell", "__cid"),
      books, "neighbor_id", "c_", keep = Seq("__cid"))
    val p = broadcast(
      pqSide(probes.withColumn("__cids", topCentroids(col("embedding"), cents, nprobe)),
          books, "probe_id", "p_", keep = Seq("__cids"))
        .withColumn("__cid", explode(col("__cids"))).drop("__cids"))
    val scored = c.join(p, Seq("__cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .select(col("probe_id"), col("neighbor_id"), pqSim)
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "sim")
  }

  /** [[topKIvfPqStored]] + the exact re-rank tail: the stored index
    * proposes `refine` (>k) candidates per probe in the compressed
    * domain, and ONLY those (probe, candidate) pairs equi-join back to
    * the float `corpus` for a true cosine — floats are touched for
    * refine·|probes| rows, never a corpus scan. */
  def topKIvfPqStoredRefine(index: DataFrame, corpus: DataFrame, probes: DataFrame,
                            k: Int, cents: Array[Array[Float]],
                            books: Seq[Seq[Seq[Int]]],
                            nprobe: Int = 2, refine: Int = 32): DataFrame = {
    val cand = topKIvfPqStored(index, probes, refine, cents, books, nprobe)
      .select("probe_id", "neighbor_id")
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), norm(col("embedding")).as("c_norm"))
    val p = broadcast(probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("p_emb"), norm(col("embedding")).as("p_norm")))
    val exact = cand.join(c, Seq("neighbor_id")).join(p, Seq("probe_id"))
      .select(col("probe_id"), col("neighbor_id"),
        (dot(col("p_emb"), col("c_emb")) / (col("p_norm") * col("c_norm"))).as("sim"))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("probe_id", "rank", "neighbor_id", "sim")
  }
}
