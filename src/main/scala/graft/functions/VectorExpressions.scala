package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native codegen dot product over `array<float>` / `array<double>`
  * vectors (either side may be either width; floats widen exactly to
  * double before the multiply, matching a `CAST(... AS DOUBLE[])`).
  *
  * The composable alternative (`zip_with` + `aggregate`) evaluates
  * interpreted lambda closures per element — measurable at
  * |corpus|×|probes|×dim scale. This expression generates a tight
  * primitive loop inside whole-stage codegen: no lambda dispatch, no
  * boxing, one double accumulator.
  *
  * Semantics match the higher-order fold exactly (sequential
  * accumulation in DOUBLE, null if either array or any touched element
  * is null), so the DuckDB oracle arithmetic is unchanged.
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"vec_dot requires two array<float|double> arguments, got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  // A NULL ELEMENT nullifies the result even when both array inputs are
  // non-nullable — without this override codegen would bind isNull to a
  // `false` literal and the null branch could not be emitted.
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // mismatched dimensions → null, matching the zip_with fold (which
    // pads the shorter array with null and nullifies the sum)
    if (x.numElements() != y.numElements()) return null
    val (xf, yf) = (isFloat(left), isFloat(right))
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (xf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (yf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val aGet = if (isFloat(left)) "getFloat" else "getDouble"
      val bGet = if (isFloat(right)) "getFloat" else "getDouble"
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; !${ev.isNull} && $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  $acc += (double) $a.$aGet($i) * (double) $b.$bGet($i);
         |}
         |if (!${ev.isNull}) { ${ev.value} = $acc; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Native hashed word n-gram shingles: distinct 64-bit hashes of the
  * token n-grams, computed by chaining per-token XXH64 values — no
  * n-gram STRINGS are ever built (the concat_ws/array_distinct shape
  * spent more time building shingle strings than hashing them: 4 s of
  * the sf0.1 minhash query). Fewer than `n` tokens hash the whole
  * token list as one shingle, mirroring TextDedup.shingles' fallback.
  *
  * Output order is the first-occurrence order of distinct hashes; all
  * consumers (minhash minima, set intersections) are order-blind.
  */
case class ShingleHashes(tokens: Expression, n: Expression)
  extends BinaryExpression {

  override def left: Expression = tokens
  override def right: Expression = n

  override def checkInputDataTypes(): TypeCheckResult =
    (tokens.dataType, n.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if n.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "shingle_hashes requires (array<string>, foldable int)")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override def nullable: Boolean = tokens.nullable

  @transient private lazy val gram: Int = n.eval().asInstanceOf[Int]

  override def nullSafeEval(t: Any, nv: Any): Any =
    ShingleHashes.compute(t.asInstanceOf[ArrayData], nv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // the companion object's compute gets a static forwarder on the class
    nullSafeCodeGen(ctx, ev, (tok, _) =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($tok, $gram);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ShingleHashes =
    copy(tokens = newLeft, n = newRight)
}

object ShingleHashes {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private final val Seed = 42L

  private def hashToken(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)

  /** Distinct chained-hash values of the token n-grams. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val t = tokens.numElements()
    val th = new Array[Long](t)
    var i = 0
    while (i < t) {
      th(i) = if (tokens.isNullAt(i)) Seed else hashToken(tokens.getUTF8String(i))
      i += 1
    }
    val count = if (t < n) 1 else t - n + 1
    val window = if (t < n) t else n
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    i = 0
    while (i < count) {
      var h = Seed
      var j = 0
      while (j < window) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(th(i + j), h)
        j += 1
      }
      out.add(h)
      i += 1
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr)
  }
}

/** Within-document n-gram repetition masses, one O(P) pass — the
  * kernel behind TextStats.gopherRepetition's gram family. Returns
  * `[top_mass, dup_mass]` for the token array's word n-grams:
  *
  *   - `top_mass`  = max over n-grams of occurrence-count × the gram's
  *     token char mass (joining spaces excluded) — the numerator of
  *     Gopher's top-n-gram character fraction. Ties need no break: all
  *     occurrences of a gram share one mass, and only the max VALUE is
  *     returned.
  *   - `dup_mass`  = char mass of the UNION of token positions covered
  *     by any occurrence of a gram appearing more than once — the
  *     numerator of the duplicate-n-gram coverage fraction (overlaps
  *     counted once).
  *
  * Because repetition is strictly WITHIN-document, the whole battery
  * needs no explode, no shuffle, and no n-gram string: windows are
  * chained XXH64 over per-token hashes ([[ShingleHashes]]' family;
  * same collision-free-equivalence contract vs the string-keyed
  * oracle as duplicateSpans' hash grid), counted in one open HashMap
  * pass and charged via a token-length prefix sum. The composable
  * grid rendition (explode 9·P rows → per-doc hash aggregate) spent
  * 10+ s at the 50k smoke on shuffle + list aggregation; this is a
  * per-row projection at scan speed. Fewer than `n` tokens → both
  * masses 0 (no window can repeat). */
case class NgramRepMass(tokens: Expression, n: Expression)
  extends BinaryExpression {

  override def left: Expression = tokens
  override def right: Expression = n

  override def checkInputDataTypes(): TypeCheckResult =
    (tokens.dataType, n.dataType) match {
      case (ArrayType(StringType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "ngram_rep_mass requires (array<string>, int)")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "ngram_rep_mass"
  override def nullable: Boolean = tokens.nullable || n.nullable

  override def nullSafeEval(t: Any, nv: Any): Any =
    NgramRepMass.compute(t.asInstanceOf[ArrayData], nv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (tok, nv) =>
      s"${ev.value} = graft.functions.NgramRepMass.compute($tok, $nv);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): NgramRepMass =
    copy(tokens = newLeft, n = newRight)
}

object NgramRepMass {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private final val Seed = 42L

  private def hashToken(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)

  /** `[top_mass, dup_mass]` per the class doc. O(P) time, O(P) space. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val t = tokens.numElements()
    if (n <= 0 || t < n) return new GenericArrayData(Array(0L, 0L))
    val th = new Array[Long](t)
    val lenPrefix = new Array[Long](t + 1) // char mass prefix (UTF-16 units, = length())
    var i = 0
    while (i < t) {
      if (tokens.isNullAt(i)) {
        th(i) = Seed
        lenPrefix(i + 1) = lenPrefix(i)
      } else {
        val s = tokens.getUTF8String(i)
        th(i) = hashToken(s)
        lenPrefix(i + 1) = lenPrefix(i) + s.numChars()
      }
      i += 1
    }
    val wins = t - n + 1
    val wh = new Array[Long](wins)
    val counts = new java.util.HashMap[java.lang.Long, Int](wins * 2)
    i = 0
    while (i < wins) {
      var h = Seed
      var j = 0
      while (j < n) {
        h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(th(i + j), h)
        j += 1
      }
      wh(i) = h
      counts.merge(h, 1, Integer.sum)
      i += 1
    }
    var topMass = 0L
    val covered = new Array[Boolean](t)
    i = 0
    while (i < wins) {
      val c = counts.get(wh(i)).toLong
      val mass = lenPrefix(i + n) - lenPrefix(i)
      val m = c * mass
      if (m > topMass) topMass = m
      if (c > 1) {
        var j = i
        while (j < i + n) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    var dupMass = 0L
    i = 0
    while (i < t) {
      if (covered(i)) dupMass += lenPrefix(i + 1) - lenPrefix(i)
      i += 1
    }
    new GenericArrayData(Array(topMass, dupMass))
  }
}

/** Native 64-bit SimHash over a token array — bit-for-bit identical to
  * the composable fold (`xxhash64(token)` per token with seed 42, ±1
  * per bit position, sign threshold), but one tight loop instead of
  * 64 interpreted lambda evaluations per token. */
case class SimHash64(tokens: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def child: Expression = tokens

  override def checkInputDataTypes(): TypeCheckResult = tokens.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got ${other.sql}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(t: Any): Any =
    SimHash64.compute(t.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, tok => s"graft.functions.SimHash64.compute($tok)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(tokens = newChild)
}

object SimHash64 {
  import org.apache.spark.unsafe.types.UTF8String

  private final val Seed = 42L

  def compute(tokens: ArrayData): Long = {
    val counters = new Array[Int](64)
    val t = tokens.numElements()
    var i = 0
    while (i < t) {
      // xxhash64(token) semantics: null hashes to the seed (pass-through)
      val h =
        if (tokens.isNullAt(i)) Seed
        else {
          val s = tokens.getUTF8String(i)
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
        }
      var b = 0
      while (b < 64) {
        counters(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Majority vote over PRE-hashed tokens (`array<bigint>`): the inner
    * loop of [[compute]] with the hashing factored out, so callers may
    * substitute any 64-bit token hash (the md5-derived oracle variant)
    * while the ±1-per-bit fold stays a native loop. Null hashes count
    * as the seed, mirroring xxhash64's null pass-through. */
  def computeFromHashes(hashes: ArrayData): Long = {
    val counters = new Array[Int](64)
    val t = hashes.numElements()
    var i = 0
    while (i < t) {
      val h = if (hashes.isNullAt(i)) Seed else hashes.getLong(i)
      var b = 0
      while (b < 64) {
        counters(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}

/** Native SimHash majority vote over pre-hashed tokens — see
  * [[SimHash64.computeFromHashes]]. */
case class SimHash64FromHashes(hashes: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def child: Expression = hashes

  override def checkInputDataTypes(): TypeCheckResult = hashes.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64_hashes requires array<bigint>, got ${other.sql}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64_hashes"

  override def nullSafeEval(t: Any): Any =
    SimHash64.computeFromHashes(t.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, h => s"graft.functions.SimHash64.computeFromHashes($h)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64FromHashes =
    copy(hashes = newChild)
}

/** Native winnowing-style rolling fingerprint: the unsigned minimum of
  * a polynomial rolling hash over all `w`-byte windows of the UTF-8
  * text — O(1) work per byte (one multiply-add to roll the window, one
  * murmur fmix64 to de-bias before the min), where the md5 rendition
  * ([[graft.operators.TextStats.rollingFingerprintMd5]], the
  * cross-engine oracle twin) pays one full digest per position. Same
  * structure (min over sliding windows → robust to local edits outside
  * the minimizing window); values are NOT comparable across the two —
  * different hash functions pick different minima. */
case class RollingMinHash(text: Expression, w: Expression)
  extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = w

  override def checkInputDataTypes(): TypeCheckResult =
    (text.dataType, w.dataType) match {
      case (StringType, IntegerType) if w.foldable && {
        val v = w.eval(); v != null && v.asInstanceOf[Int] > 0
      } => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "rolling_min_hash requires (string, foldable positive int)")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_min_hash"
  override def nullable: Boolean = text.nullable

  @transient private lazy val window: Int = w.eval().asInstanceOf[Int]

  override def nullSafeEval(t: Any, wv: Any): Any =
    RollingMinHash.compute(t.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, _) =>
      s"${ev.value} = graft.functions.RollingMinHash.compute($s, $window);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): RollingMinHash =
    copy(text = newLeft, w = newRight)
}

object RollingMinHash {
  import org.apache.spark.unsafe.types.UTF8String

  // odd multiplier (java.util.Random's LCG constant); arithmetic wraps
  // mod 2^64, fmix64 restores bit diffusion before the min pick
  private final val B = 0x5DEECE66DL

  private def fmix64(k0: Long): Long = {
    var k = k0
    k ^= (k >>> 33); k *= 0xff51afd7ed558ccdL
    k ^= (k >>> 33); k *= 0xc4ceb9fe1a85ec53L
    k ^= (k >>> 33); k
  }

  /** Unsigned-min of fmix64'd rolling hashes over `w`-byte windows;
    * texts shorter than `w` (and empty text) hash whole. */
  def compute(s: UTF8String, w: Int): Long = {
    val n = s.numBytes
    var h = 0L
    var i = 0
    if (n <= w) {
      while (i < n) { h = h * B + (s.getByte(i) & 0xff); i += 1 }
      return fmix64(h)
    }
    var bw = 1L
    while (i < w) { bw *= B; h = h * B + (s.getByte(i) & 0xff); i += 1 }
    var minH = fmix64(h)
    while (i < n) {
      h = h * B + (s.getByte(i) & 0xff) - bw * (s.getByte(i - w) & 0xff)
      val f = fmix64(h)
      if (java.lang.Long.compareUnsigned(f, minH) < 0) minH = f
      i += 1
    }
    minH
  }
}

/** Native sign-LSH bucket kernel: bit `p` of the result is set iff
  * dot(emb, planes[p]) > 0, with the plane matrix a FOLDABLE literal
  * evaluated once driver-side and referenced as a `double[][]` from
  * generated code — one tight (planes × dim) loop per row.
  *
  * This replaces the unrolled `when(vec_dot(...) > 0, 1L << p)` sum:
  * at 8 bands × 12 planes that shape is ~100 separate expression nodes
  * whose generated projection blows past JIT-friendly method sizes and
  * ran 3.5× slower than the interpreted HOF it replaced (measured,
  * round 5). One expression per band keeps whole-stage codegen tight
  * and is the shape that survives at 100×.
  *
  * NULL semantics (the round-4 review fix, preserved): a null
  * embedding, null element, or plane/embedding dimension mismatch
  * yields NULL — never the all-negative bucket 0, so broken rows can
  * not fabricate neighbors. Dot accumulation is sequential in DOUBLE,
  * bit-identical to chaining [[VecDot]] per plane (floats widen
  * exactly), so the DuckDB oracle arithmetic is unchanged. */
case class VecSignBits(emb: Expression, planes: Expression)
  extends BinaryExpression {

  override def left: Expression = emb
  override def right: Expression = planes

  override def checkInputDataTypes(): TypeCheckResult =
    (emb.dataType, planes.dataType) match {
      case (ArrayType(FloatType | DoubleType, _), ArrayType(ArrayType(DoubleType, _), _))
        if planes.foldable => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "vec_sign_bits requires (array<float|double>, foldable array<array<double>>)")
    }

  override def dataType: DataType = LongType
  override def prettyName: String = "vec_sign_bits"
  override def nullable: Boolean = true

  private def isFloat: Boolean = emb.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  @transient private lazy val matrix: Array[Array[Double]] = {
    val arr = planes.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(p => arr.getArray(p).toDoubleArray())
  }

  override def nullSafeEval(e: Any, p: Any): Any =
    VecSignBits.compute(e.asInstanceOf[ArrayData], matrix, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("signPlanes", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, (e, _) => {
      val r = ctx.freshName("bits")
      s"""
         |java.lang.Long $r = graft.functions.VecSignBits.compute($e, $m, $isFloat);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.longValue(); }
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecSignBits =
    copy(emb = newLeft, planes = newRight)
}

object VecSignBits {
  /** Boxed null when the embedding's length mismatches any plane or any
    * element is null; otherwise the OR of (1L << p) over planes whose
    * dot with the embedding is positive. NaN dots SET the bit: Spark
    * SQL (and DuckDB) order NaN above every value, so the when(vec_dot
    * > 0) shape this kernel replaces evaluates NaN > 0 as true — Java's
    * primitive compare would silently flip that bucket. */
  def compute(e: ArrayData, m: Array[Array[Double]], isFloat: Boolean): java.lang.Long = {
    val n = e.numElements()
    var i = 0
    while (i < n) {
      if (e.isNullAt(i)) return null
      i += 1
    }
    val v = new Array[Double](n)
    i = 0
    while (i < n) {
      v(i) = if (isFloat) e.getFloat(i).toDouble else e.getDouble(i)
      i += 1
    }
    var bits = 0L
    var p = 0
    while (p < m.length) {
      val row = m(p)
      if (row.length != n) return null
      var acc = 0.0
      var j = 0
      while (j < n) { acc += v(j) * row(j); j += 1 }
      if (acc > 0 || java.lang.Double.isNaN(acc)) bits |= (1L << p)
      p += 1
    }
    bits
  }
}

/** Session extensions registering the engine's native functions; wired
  * by GraftSession via `spark.sql.extensions`, so `vec_dot` and
  * `shingle_hashes` are callable from SQL and `call_function` on every
  * session. */
/** Native MinHash-LSH band keys over pre-hashed shingles — bit-for-bit
  * the composable `bandKeys` rendition (per hash family h:
  * `min over shingles x of xxhash64(h, x)`; per band: xxhash64 of the
  * comma-joined decimal minima — including Spark concat_ws's
  * skip-null/empty-string behavior and the IntegerType family-index
  * seed chain), but ONE tight bands × families × shingles loop per row
  * instead of bands · rowsPerBand interpreted array_min/lambda trees.
  * This is the dominant projection of every MinHash near-dup path. */
case class MinHashBandKeys(hashes: Expression, bands: Expression, rowsPerBand: Expression)
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = hashes
  override def second: Expression = bands
  override def third: Expression = rowsPerBand

  override def checkInputDataTypes(): TypeCheckResult =
    (hashes.dataType, bands.dataType, rowsPerBand.dataType) match {
      case (ArrayType(LongType, _), IntegerType, IntegerType)
        if bands.foldable && rowsPerBand.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "minhash_band_keys requires (array<bigint>, foldable int, foldable int)")
    }

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("band", IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("bucket", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "minhash_band_keys"
  override def nullable: Boolean = hashes.nullable

  @transient private lazy val nBands: Int = bands.eval().asInstanceOf[Int]
  @transient private lazy val rPerBand: Int = rowsPerBand.eval().asInstanceOf[Int]

  override def nullSafeEval(h: Any, b: Any, r: Any): Any =
    MinHashBandKeys.compute(h.asInstanceOf[ArrayData], nBands, rPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (hs, _, _) =>
      s"${ev.value} = graft.functions.MinHashBandKeys.compute($hs, $nBands, $rPerBand);")

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
                                                 newThird: Expression): MinHashBandKeys =
    copy(hashes = newFirst, bands = newSecond, rowsPerBand = newThird)
}

object MinHashBandKeys {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.catalyst.expressions.XXH64

  private final val Seed = 42L

  def compute(hashes: ArrayData, bands: Int, rowsPerBand: Int): ArrayData = {
    val n = hashes.numElements()
    val hs = new Array[Long](n)
    var k = 0
    while (k < n) { hs(k) = hashes.getLong(k); k += 1 }
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < rowsPerBand) {
        // xxhash64(h, x): IntegerType family index then LongType hash —
        // hash = hashLong(x, hashInt(h, 42))
        val seedH = XXH64.hashInt(b * rowsPerBand + j, Seed)
        if (n > 0) {
          var mn = Long.MaxValue
          var first = true
          k = 0
          while (k < n) {
            val v = XXH64.hashLong(hs(k), seedH)
            if (first || v < mn) { mn = v; first = false }
            k += 1
          }
          // concat_ws(",") drops NULL minima (empty input) entirely;
          // with n > 0 every family contributes
          if (sb.length > 0) sb.append(',')
          sb.append(mn)
        }
        j += 1
      }
      val s = UTF8String.fromString(sb.toString)
      val bucket = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, Seed)
      out(b) = InternalRow(b, bucket)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Native Jaccard similarity of two long arrays — bit-for-bit
  * `size(array_intersect(a,b)) / size(array_union(a,b))` (distinct
  * semantics, null elements common to both count once, NaN on two
  * empty sets) without materializing either result array: one pass
  * builds an open-addressed primitive set of `a`, a second streams `b`
  * counting distinct hits. This is the verify expression of every
  * MinHash/Jaccard near-dup path — it runs once per candidate PAIR,
  * the hottest multiplicity in the engine after the band keys. */
case class JaccardLongSets(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"jaccard_long_sets requires two array<bigint> arguments, got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_long_sets"
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardLongSets.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaccardLongSets.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardLongSets =
    copy(left = newLeft, right = newRight)
}

object JaccardLongSets {

  /** Minimal open-addressed long set (linear probing, parallel
    * used-flags so 0L needs no sentinel). Capacity is a power of two
    * ≥ 2× expected size — bounded by the caller's array length.
    * Shared with [[ContainLongSets]]. */
  private[functions] final class LongSet(expected: Int) {
    private val cap = Integer.highestOneBit(math.max(4, expected * 2) * 2 - 1)
    private val mask = cap - 1
    private val keys = new Array[Long](cap)
    private val used = new Array[Boolean](cap)

    private def mix(x: Long): Int = {
      var h = x ^ (x >>> 33)
      h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33
      (h & mask).toInt
    }

    /** Insert; true if the key was NOT already present. */
    def add(x: Long): Boolean = {
      var i = mix(x)
      while (used(i)) {
        if (keys(i) == x) return false
        i = (i + 1) & mask
      }
      used(i) = true; keys(i) = x
      true
    }

    def contains(x: Long): Boolean = {
      var i = mix(x)
      while (used(i)) {
        if (keys(i) == x) return true
        i = (i + 1) & mask
      }
      false
    }
  }

  def compute(a: ArrayData, b: ArrayData): Double = {
    val na0 = a.numElements()
    val nb0 = b.numElements()
    val aSet = new LongSet(na0)
    var aDistinct = 0
    var aHasNull = false
    var i = 0
    while (i < na0) {
      if (a.isNullAt(i)) aHasNull = true
      else if (aSet.add(a.getLong(i))) aDistinct += 1
      i += 1
    }
    val bSeen = new LongSet(nb0)
    var bDistinct = 0
    var bHasNull = false
    var inter = 0
    i = 0
    while (i < nb0) {
      if (b.isNullAt(i)) bHasNull = true
      else {
        val v = b.getLong(i)
        if (bSeen.add(v)) {
          bDistinct += 1
          if (aSet.contains(v)) inter += 1
        }
      }
      i += 1
    }
    val nullCommon = if (aHasNull && bHasNull) 1 else 0
    val interAll = inter + nullCommon
    val unionAll = (aDistinct + (if (aHasNull) 1 else 0)) +
      (bDistinct + (if (bHasNull) 1 else 0)) - interAll
    // two empty sets: 0/0 — same NaN the size-ratio rendition yields
    interAll.toDouble / unionAll
  }
}

/** Containment C(A→B) = |A∩B| / |A| over two long-hash sets — the
  * asymmetric sibling of [[JaccardLongSets]] with the identical
  * dedup/null discipline (inputs may carry duplicates; distinct
  * semantics; a null element common to both sides counts once).
  * Empty A → 0/0 = NaN, matching the composable size-ratio shape. */
case class ContainLongSets(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"contain_long_sets requires two array<bigint> arguments, got ${left.dataType.sql} and ${right.dataType.sql}")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "contain_long_sets"
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any =
    ContainLongSets.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ContainLongSets.compute($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ContainLongSets =
    copy(left = newLeft, right = newRight)
}

object ContainLongSets {
  def compute(a: ArrayData, b: ArrayData): Double = {
    val na0 = a.numElements()
    val nb0 = b.numElements()
    val aSeen = new JaccardLongSets.LongSet(na0)
    var aDistinct = 0
    var aHasNull = false
    var i = 0
    while (i < na0) {
      if (a.isNullAt(i)) aHasNull = true
      else if (aSeen.add(a.getLong(i))) aDistinct += 1
      i += 1
    }
    val bSeen = new JaccardLongSets.LongSet(nb0)
    var bHasNull = false
    var inter = 0
    i = 0
    while (i < nb0) {
      if (b.isNullAt(i)) bHasNull = true
      else {
        val v = b.getLong(i)
        if (bSeen.add(v) && aSeen.contains(v)) inter += 1
      }
      i += 1
    }
    val nullCommon = if (aHasNull && bHasNull) 1 else 0
    (inter + nullCommon).toDouble /
      (aDistinct + (if (aHasNull) 1 else 0))
  }
}

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
  * SIGMOD'03) over a gram-hash array: the 1-based positions of the
  * minimum hash in every window of `w` consecutive positions,
  * rightmost on ties, deduplicated (selections are non-decreasing, so
  * last-emitted suffices). Arrays of at most `w` elements winnow to
  * their single global (rightmost) argmin.
  *
  * One monotonic-deque pass — O(P) total versus the composable
  * rendition's O(P·w) interpreted window lambdas. Hash comparison is
  * SIGNED long order, identical to `array_min` in the parity
  * rendition. A null element never wins selection (treated as +inf). */
case class WinnowPositions(hashes: Expression, w: Expression)
  extends BinaryExpression {

  override def left: Expression = hashes
  override def right: Expression = w

  override def checkInputDataTypes(): TypeCheckResult =
    (hashes.dataType, w.dataType) match {
      case (ArrayType(LongType, _), IntegerType) if w.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "winnow_positions requires (array<bigint>, foldable int)")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "winnow_positions"
  override def nullable: Boolean = hashes.nullable

  @transient private lazy val win: Int = w.eval().asInstanceOf[Int]

  override def nullSafeEval(h: Any, wv: Any): Any =
    WinnowPositions.compute(h.asInstanceOf[ArrayData], win)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, _) =>
      s"${ev.value} = graft.functions.WinnowPositions.compute($h, $win);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): WinnowPositions =
    copy(hashes = newLeft, w = newRight)
}

object WinnowPositions {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def compute(a: ArrayData, w: Int): ArrayData = {
    val n = a.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Int])
    val vals = new Array[Long](n)
    var i = 0
    while (i < n) {
      vals(i) = if (a.isNullAt(i)) Long.MaxValue else a.getLong(i)
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Int]
    if (n <= w) {
      var best = 0
      i = 1
      while (i < n) { if (vals(i) <= vals(best)) best = i; i += 1 }
      out += best + 1
    } else {
      // monotonic deque of indices; popping >= on push keeps the
      // RIGHTMOST of equal minima at the front
      val dq = new Array[Int](n)
      var head = 0
      var tail = 0
      i = 0
      while (i < n) {
        while (tail > head && vals(dq(tail - 1)) >= vals(i)) tail -= 1
        dq(tail) = i; tail += 1
        val p = i - w + 1
        if (p >= 0) {
          while (dq(head) < p) head += 1
          val sel = dq(head) + 1
          if (out.isEmpty || out(out.length - 1) != sel) out += sel
        }
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** Native word n-grams over a token array: gram i is tokens
  * i..i+n-1 joined by a single space — bit-for-bit what the composable
  * `transform(sequence(...), i -> concat_ws(' ', element_at...))`
  * rendition produces, but one tight loop per row instead of an
  * interpreted higher-order lambda per position (which made corpus
  * bigram counting ~15× slower than the same-shape vocab scan).
  * Fewer than n tokens → empty array (exact n-grams only, unlike
  * [[ShingleHashes]]' whole-doc fallback shingle). */
case class WordNgrams(tokens: Expression, n: Expression)
  extends BinaryExpression {

  override def left: Expression = tokens
  override def right: Expression = n

  override def checkInputDataTypes(): TypeCheckResult =
    (tokens.dataType, n.dataType) match {
      case (ArrayType(StringType, _), IntegerType) if n.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "word_ngrams requires (array<string>, foldable int)")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  override def nullable: Boolean = tokens.nullable

  @transient private lazy val gram: Int = n.eval().asInstanceOf[Int]

  override def nullSafeEval(t: Any, nv: Any): Any =
    WordNgrams.compute(t.asInstanceOf[ArrayData], nv.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (tok, _) =>
      s"${ev.value} = graft.functions.WordNgrams.compute($tok, $gram);")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): WordNgrams =
    copy(tokens = newLeft, n = newRight)
}

object WordNgrams {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private val Space = UTF8String.fromString(" ")

  /** All exact n-grams in order (with repeats — these are counted
    * downstream, so the set-dedup ShingleHashes applies is wrong here).
    * Null tokens are SKIPPED by concatWs — element and separator both
    * dropped — matching concat_ws in the composable rendition. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val t = tokens.numElements()
    if (t < n) return new GenericArrayData(new Array[Any](0))
    val ts = new Array[UTF8String](t)
    var i = 0
    while (i < t) {
      ts(i) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](t - n + 1)
    i = 0
    while (i <= t - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = ts(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Native PQ sub-code assignment: per subspace j of m, the FIRST
  * codebook row (ties → lowest id, both engines' rule) minimizing the
  * exact integer L2 distance to the code slice. `books` is the
  * codebook flattened [j][c][d] → j·ksub·dsub + c·dsub + d as ONE
  * array<int> literal.
  *
  * This kernel exists for PLAN SIZE, not per-row arithmetic: the
  * composable rendition (an `array` of m·ksub aggregate/zip_with
  * expressions over per-centroid literal arrays) serializes a ~33 MiB
  * task binary at production resolution (m=16, ksub=256) and falls off
  * the codegen path; here the codebook is one flat literal and the
  * argmin is a tight generated loop. Semantics are bit-identical
  * (integer sums, first-minimum ties), so every oracle replay is
  * unchanged. */
case class PqAssign(codes: Expression, books: Expression, m: Expression, ksub: Expression)
  extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = codes
  override def second: Expression = books
  override def third: Expression = m
  override def fourth: Expression = ksub

  override def checkInputDataTypes(): TypeCheckResult =
    (codes.dataType, books.dataType, m.dataType, ksub.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _), IntegerType, IntegerType)
        if books.foldable && m.foldable && ksub.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "pq_assign requires (array<int>, foldable array<int>, foldable int, foldable int)")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_assign"
  override def nullable: Boolean = true

  @transient private lazy val mV: Int = m.eval().asInstanceOf[Int]
  @transient private lazy val ksubV: Int = ksub.eval().asInstanceOf[Int]

  override def nullSafeEval(c: Any, b: Any, mv: Any, kv: Any): Any =
    PqAssign.compute(c.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], mV, ksubV)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, b, _, _) => {
      s"""
         |${ev.value} = graft.functions.PqAssign.compute($c, $b, $mV, $ksubV);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): PqAssign =
    copy(codes = newFirst, books = newSecond, m = newThird, ksub = newFourth)
}

object PqAssign {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** Null on shape mismatch or any null element — mirroring the
    * composable fold, where a null touches nullify the aggregate. */
  def compute(codes: ArrayData, books: ArrayData, m: Int, ksub: Int): ArrayData = {
    val dim = codes.numElements()
    if (m <= 0 || ksub <= 0 || dim % m != 0) return null
    val dsub = dim / m
    if (books.numElements() != m * ksub * dsub) return null
    var i = 0
    while (i < dim) { if (codes.isNullAt(i)) return null; i += 1 }
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestDist = Long.MaxValue
      var c = 0
      while (c < ksub) {
        var dist = 0L
        var d = 0
        val cOff = (j * ksub + c) * dsub
        val sOff = j * dsub
        while (d < dsub) {
          val diff = (codes.getInt(sOff + d) - books.getInt(cOff + d)).toLong
          dist += diff * diff
          d += 1
        }
        if (dist < bestDist) { bestDist = dist; best = c } // strict: first min wins
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Native PQ reconstruction: concatenation of the chosen codebook rows
  * (books flattened as in [[PqAssign]]) — the serve-path twin of the
  * assignment kernel, replacing an element_at lookup over an
  * m·ksub·dsub literal-array-of-arrays expression per row. */
case class PqRecon(pqCodes: Expression, books: Expression, m: Expression, ksub: Expression)
  extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {

  override def first: Expression = pqCodes
  override def second: Expression = books
  override def third: Expression = m
  override def fourth: Expression = ksub

  override def checkInputDataTypes(): TypeCheckResult =
    (pqCodes.dataType, books.dataType, m.dataType, ksub.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _), IntegerType, IntegerType)
        if books.foldable && m.foldable && ksub.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "pq_recon requires (array<int>, foldable array<int>, foldable int, foldable int)")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_recon"
  override def nullable: Boolean = true

  @transient private lazy val mV: Int = m.eval().asInstanceOf[Int]
  @transient private lazy val ksubV: Int = ksub.eval().asInstanceOf[Int]

  override def nullSafeEval(c: Any, b: Any, mv: Any, kv: Any): Any =
    PqRecon.compute(c.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], mV, ksubV)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, b, _, _) => {
      s"""
         |${ev.value} = graft.functions.PqRecon.compute($c, $b, $mV, $ksubV);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): PqRecon =
    copy(pqCodes = newFirst, books = newSecond, m = newThird, ksub = newFourth)
}

object PqRecon {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  def compute(pqCodes: ArrayData, books: ArrayData, m: Int, ksub: Int): ArrayData = {
    if (m <= 0 || ksub <= 0 || pqCodes.numElements() != m) return null
    if (books.numElements() % (m * ksub) != 0) return null
    val dsub = books.numElements() / (m * ksub)
    val out = new Array[Int](m * dsub)
    var j = 0
    while (j < m) {
      if (pqCodes.isNullAt(j)) return null
      val c = pqCodes.getInt(j)
      if (c < 0 || c >= ksub) return null
      val cOff = (j * ksub + c) * dsub
      var d = 0
      while (d < dsub) { out(j * dsub + d) = books.getInt(cOff + d); d += 1 }
      j += 1
    }
    new GenericArrayData(out)
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Catalyst's own runtime-filter Bloom machinery, surfaced as
    // callable functions (OSS registers neither; the expressions are
    // public and battle-tested under InjectRuntimeFilter). Used by
    // Curation.decontaminateBloom for the broadcast-sketch prefilter.
    ext.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_filter_agg"),
      (children: Seq[Expression]) => children match {
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new BloomFilterAggregate(c, n, b)
        case _ => throw new IllegalArgumentException(
          "bloom_filter_agg(col[, estimatedNumItems[, numBits]])")
      }))
    ext.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "might_contain"),
      (children: Seq[Expression]) => BloomFilterMightContain(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) => ShingleHashes(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("ngram_rep_mass"),
      new ExpressionInfo(classOf[NgramRepMass].getName, "ngram_rep_mass"),
      (children: Seq[Expression]) => NgramRepMass(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => SimHash64(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("simhash64_hashes"),
      new ExpressionInfo(classOf[SimHash64FromHashes].getName, "simhash64_hashes"),
      (children: Seq[Expression]) => SimHash64FromHashes(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("rolling_min_hash"),
      new ExpressionInfo(classOf[RollingMinHash].getName, "rolling_min_hash"),
      (children: Seq[Expression]) => RollingMinHash(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("vec_sign_bits"),
      new ExpressionInfo(classOf[VecSignBits].getName, "vec_sign_bits"),
      (children: Seq[Expression]) => VecSignBits(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => WordNgrams(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_band_keys"),
      new ExpressionInfo(classOf[MinHashBandKeys].getName, "minhash_band_keys"),
      (children: Seq[Expression]) => MinHashBandKeys(children.head, children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("jaccard_long_sets"),
      new ExpressionInfo(classOf[JaccardLongSets].getName, "jaccard_long_sets"),
      (children: Seq[Expression]) => JaccardLongSets(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("contain_long_sets"),
      new ExpressionInfo(classOf[ContainLongSets].getName, "contain_long_sets"),
      (children: Seq[Expression]) => ContainLongSets(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("winnow_positions"),
      new ExpressionInfo(classOf[WinnowPositions].getName, "winnow_positions"),
      (children: Seq[Expression]) => WinnowPositions(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("pq_assign"),
      new ExpressionInfo(classOf[PqAssign].getName, "pq_assign"),
      (children: Seq[Expression]) =>
        PqAssign(children.head, children(1), children(2), children(3))))
    ext.injectFunction((
      new FunctionIdentifier("pq_recon"),
      new ExpressionInfo(classOf[PqRecon].getName, "pq_recon"),
      (children: Seq[Expression]) =>
        PqRecon(children.head, children(1), children(2), children(3))))
  }
}
