package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (north-star surface): image/audio/video
  * carried as opaque `binary` columns with typed metadata, processed
  * by per-partition batch decoders.
  *
  * The Spark-side machinery here — schema, partition-batched iteration,
  * decoder signature, feature layout — is real and tested. IMAGE decode
  * is real too ([[ImageIoDecoder]], on the JVM's own `javax.imageio`);
  * audio/video codecs are absent from this container, so those kinds
  * fall back to [[StubDecoder]], which produces deterministic fake
  * features from the bytes so tests can assert plumbing end-to-end.
  *
  * Scale notes: media blobs dominate row size, so the decode runs as
  * `mapPartitions` over rows already co-located by the scan — no
  * shuffle, no driver transit, and the decoder amortizes any per-batch
  * init (model load, codec context) across its partition. Metadata-only
  * queries prune the binary column at the parquet scan and never touch
  * the bytes.
  */
object Multimodal {

  /** One media asset. `bytes` is the opaque payload; everything else is
    * cheap typed metadata usable without decoding. */
  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),         // image | audio | video
    StructField("format", StringType),       // e.g. jpeg, wav, mp4
    StructField("width", IntegerType),       // images/video
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),    // audio/video
    StructField("bytes", BinaryType)))

  /** One sampled VIDEO frame — the landing shape [[frameHashes]]
    * consumes (what [[sampleFrames]] plus a frame fetcher produces). */
  val VideoFrameSchema: StructType = StructType(Seq(
    StructField("video_id", LongType, nullable = false),
    StructField("frame_no", IntegerType, nullable = false),
    StructField("kind", StringType),
    StructField("format", StringType),
    StructField("bytes", BinaryType)))

  val FeatureDim = 16

  /** A partition-batch decoder: bytes → fixed-dim feature vector.
    * Implementations must be pure per input and safe to instantiate
    * once per partition. */
  trait Decoder extends Serializable {
    def decode(kind: String, format: String, bytes: Array[Byte]): Array[Float]
  }

  /** Deterministic fake: features derived from byte content, so tests
    * can assert exact plumbing behavior end-to-end. */
  object StubDecoder extends Decoder {
    def decode(kind: String, format: String, bytes: Array[Byte]): Array[Float] = {
      val out = new Array[Float](FeatureDim)
      var i = 0
      while (i < bytes.length) {
        out(i % FeatureDim) += (bytes(i) & 0xFF) / 255.0f
        i += 1
      }
      out
    }
  }

  /** Real image decoder on `javax.imageio` (ships with every JVM — no
    * new dependency): PNG/JPEG/GIF/BMP bytes → geometry + color
    * statistics. Feature layout (FeatureDim = 16):
    * {{{
    * 0 width   1 height   2 raster bands   3..5 mean R,G,B in [0,1]
    * 6 mean luminance [0,1]   7 aspect ratio (w/h)
    * 8..15 8-bin luminance histogram (fractions summing to 1)
    * }}}
    * Pixels are strided so at most ~256×256 samples are read per image
    * — decode cost is bounded per row regardless of megapixels. Audio/
    * video kinds fall back to `fallback` (those codecs genuinely absent
    * here); undecodable image bytes yield null features rather than an
    * exception — one corrupt blob must not kill a 100 TB decode pass.
    */
  final class ImageIoDecoder(fallback: Decoder = StubDecoder) extends Decoder {
    def decode(kind: String, format: String, bytes: Array[Byte]): Array[Float] = {
      if (kind != "image") return fallback.decode(kind, format, bytes)
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) return null
      val w = img.getWidth
      val h = img.getHeight
      val sx = math.max(1, w / 256)
      val sy = math.max(1, h / 256)
      var sr = 0.0; var sg = 0.0; var sb = 0.0
      val hist = new Array[Long](8)
      var n = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val r = (rgb >> 16) & 0xFF
          val g = (rgb >> 8) & 0xFF
          val b = rgb & 0xFF
          sr += r; sg += g; sb += b
          hist(((r + g + b) / 3) >> 5) += 1
          n += 1
          x += sx
        }
        y += sy
      }
      val out = new Array[Float](FeatureDim)
      out(0) = w.toFloat
      out(1) = h.toFloat
      out(2) = img.getRaster.getNumBands.toFloat
      out(3) = (sr / n / 255.0).toFloat
      out(4) = (sg / n / 255.0).toFloat
      out(5) = (sb / n / 255.0).toFloat
      out(6) = ((sr + sg + sb) / (3.0 * n) / 255.0).toFloat
      out(7) = w.toFloat / h.toFloat
      var i = 0
      while (i < 8) { out(8 + i) = (hist(i).toDouble / n).toFloat; i += 1 }
      out
    }
  }

  /** Real audio decoder on `javax.sound.sampled` (ships with every JVM
    * — no new dependency): RIFF/WAVE PCM bytes → signal statistics.
    * Feature layout (FeatureDim = 16):
    * {{{
    * 0 sample rate (Hz)   1 channels   2 frame count
    * 3 duration (s)       4 RMS level [0,1]   5 peak |amplitude| [0,1]
    * 6 zero-crossing rate (crossings / frame)   7 mean |amplitude|
    * 8..15 8-bin |amplitude| histogram (fractions summing to 1)
    * }}}
    * Multi-channel frames are averaged to mono before the statistics.
    * Non-WAV audio formats (their codecs genuinely absent here) fall
    * back to `fallback`; corrupt WAV bytes yield null features rather
    * than an exception — one bad blob must not kill a 100 TB pass. */
  final class WavDecoder(fallback: Decoder = StubDecoder) extends Decoder {
    def decode(kind: String, format: String, bytes: Array[Byte]): Array[Float] = {
      if (kind != "audio" || format != "wav") return fallback.decode(kind, format, bytes)
      val in =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (in == null) return null
      try {
        val f = in.getFormat
        val bits = f.getSampleSizeInBits
        val signed = f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        if (bits != 16 && bits != 8) return null
        val ch = f.getChannels
        val frameBytes = f.getFrameSize
        val data = in.readAllBytes()
        val frames = data.length / frameBytes
        if (frames == 0) return null
        var sumSq = 0.0; var sumAbs = 0.0; var peak = 0.0
        var crossings = 0L; var prevSign = 0
        val hist = new Array[Long](8)
        var fr = 0
        while (fr < frames) {
          var c = 0
          var acc = 0.0
          while (c < ch) {
            val off = fr * frameBytes + c * (bits / 8)
            acc += pcmSample(data, off, bits, signed, f.isBigEndian)
            c += 1
          }
          val s = acc / ch
          val a = math.abs(s)
          sumSq += s * s; sumAbs += a; if (a > peak) peak = a
          val sign = if (s > 0) 1 else if (s < 0) -1 else 0
          if (sign != 0 && prevSign != 0 && sign != prevSign) crossings += 1
          if (sign != 0) prevSign = sign
          hist(math.min(7, (a * 8).toInt)) += 1
          fr += 1
        }
        val out = new Array[Float](FeatureDim)
        out(0) = f.getSampleRate
        out(1) = ch.toFloat
        out(2) = frames.toFloat
        out(3) = (frames / f.getSampleRate.toDouble).toFloat
        out(4) = math.sqrt(sumSq / frames).toFloat
        out(5) = peak.toFloat
        out(6) = (crossings.toDouble / frames).toFloat
        out(7) = (sumAbs / frames).toFloat
        var i = 0
        while (i < 8) { out(8 + i) = (hist(i).toDouble / frames).toFloat; i += 1 }
        out
      } catch { case scala.util.control.NonFatal(_) => null }
      finally in.close()
    }
  }

  /** Production decoder chain: real image decode (javax.imageio), real
    * WAV audio decode (javax.sound), stub fallback for the media kinds
    * whose codecs this environment lacks (video, compressed audio). */
  def realDecoder: Decoder = new ImageIoDecoder(new WavDecoder(StubDecoder))

  /** One PCM sample at `off` as a double in [-1, 1) — honoring sample
    * width, signedness AND byte order (RIFF/WAVE is little-endian, but
    * AIFF-style streams javax.sound hands over are big-endian; decoding
    * them as LE silently yields garbage amplitudes and a wrong hash,
    * which is worse than no hash). 8-bit unsigned is the WAV
    * convention (offset-128); 16-bit unsigned is rare but legal, so it
    * gets the same explicit offset treatment rather than a fall-through
    * that would misread it as two's complement. */
  private[operators] def pcmSample(data: Array[Byte], off: Int, bits: Int,
                                   signed: Boolean, bigEndian: Boolean): Double =
    if (bits == 16) {
      val b0 = data(off) & 0xFF
      val b1 = data(off + 1) & 0xFF
      val raw = if (bigEndian) (b0 << 8) | b1 else (b1 << 8) | b0
      if (signed) raw.toShort / 32768.0 else (raw - 32768) / 32768.0
    } else if (signed) data(off) / 128.0
    else ((data(off) & 0xFF) - 128) / 128.0

  // ------------------------------------------------------------------
  // Perceptual-hash dedup (dHash)
  // ------------------------------------------------------------------

  /** dHash grid geometry: 8 rows × 9 columns of grayscale cells yield
    * 8 left<right comparisons per row = 64 bits. */
  val HashRows = 8
  val HashCols = 9

  /** Bytes → row-major grayscale grid (values 0..255), the only
    * media-specific step of the perceptual hash. Same seam shape as
    * [[Decoder]]/[[Resizer]]: implementations are pure per input and
    * instantiated once per partition; `null` marks an undecodable
    * payload (the row gets a null hash, never an exception — one
    * corrupt blob must not kill a 100 TB dedup pass). */
  trait GridExtractor extends Serializable {
    def grid(kind: String, format: String, bytes: Array[Byte],
             rows: Int, cols: Int): Array[Int]
  }

  /** Deterministic stand-in for codecs this environment lacks: cell k
    * is byte k of the payload (wrapping when the payload is shorter
    * than the grid) — a pure function of the octets, so the DuckDB
    * oracle replays the whole hash bit for bit (the pixel-true path is
    * [[ImageIoGrid]], spec-gated on real PNGs). */
  object StubGrid extends GridExtractor {
    def grid(kind: String, format: String, bytes: Array[Byte],
             rows: Int, cols: Int): Array[Int] =
      if (bytes == null || bytes.isEmpty) null
      else Array.tabulate(rows * cols)(k => bytes(k % bytes.length) & 0xFF)
  }

  /** Pixel-true grid on `javax.imageio`: decode, average luminance over
    * an evenly-spaced rows×cols block partition of the image. Block
    * averaging (not point sampling) is what makes the hash survive
    * re-encoding and mild resizing — the property perceptual dedup
    * exists for. Non-image kinds fall through to `fallback`;
    * undecodable image bytes yield null. */
  final class ImageIoGrid(fallback: GridExtractor = StubGrid) extends GridExtractor {
    def grid(kind: String, format: String, bytes: Array[Byte],
             rows: Int, cols: Int): Array[Int] = {
      if (kind != "image") return fallback.grid(kind, format, bytes, rows, cols)
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) return null
      val w = img.getWidth
      val h = img.getHeight
      val out = new Array[Int](rows * cols)
      var i = 0
      while (i < rows) {
        val y0 = (i.toLong * h / rows).toInt
        val y1 = math.max(y0 + 1, ((i + 1).toLong * h / rows).toInt)
        var j = 0
        while (j < cols) {
          val x0 = (j.toLong * w / cols).toInt
          val x1 = math.max(x0 + 1, ((j + 1).toLong * w / cols).toInt)
          var s = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              s += (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)) / 3
              x += 1
            }
            y += 1
          }
          out(i * cols + j) = (s / ((y1 - y0).toLong * (x1 - x0))).toInt
          j += 1
        }
        i += 1
      }
      out
    }
  }

  /** Pixel-true grid for AUDIO on `javax.sound.sampled`: the mono
    * |amplitude| envelope averaged over rows×cols evenly-spaced frame
    * windows, normalized by the clip's own peak (cell = mean/peak·255)
    * — so the dHash fingerprints the temporal ENERGY SHAPE and a
    * volume change (the audio analog of a brightness shift) leaves
    * every cell ratio, hence every comparison, unchanged. Non-WAV
    * audio falls through to `fallback` (codecs absent here);
    * undecodable bytes yield null. */
  final class WavGrid(fallback: GridExtractor = StubGrid) extends GridExtractor {
    def grid(kind: String, format: String, bytes: Array[Byte],
             rows: Int, cols: Int): Array[Int] = {
      if (kind != "audio" || format != "wav") return fallback.grid(kind, format, bytes, rows, cols)
      val in =
        try javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        catch { case scala.util.control.NonFatal(_) => null }
      if (in == null) return null
      try {
        val f = in.getFormat
        val bits = f.getSampleSizeInBits
        val signed = f.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        if (bits != 16 && bits != 8) return null
        envelopeGrid(in.readAllBytes(), f.getFrameSize, f.getChannels,
          bits, signed, f.isBigEndian, rows, cols)
      } catch { case scala.util.control.NonFatal(_) => null }
      finally in.close()
    }
  }

  /** The peak-normalized |amplitude| envelope over rows×cols frame
    * blocks — the energy-shape fingerprint [[WavGrid]] and
    * [[PcmWindowGrid]] share (ONE implementation; a volume change
    * scales every cell ratio identically, so the dHash comparisons
    * survive it). */
  private def envelopeGrid(data: Array[Byte], frameBytes: Int, ch: Int,
                           bits: Int, signed: Boolean, bigEndian: Boolean,
                           rows: Int, cols: Int): Array[Int] = {
    val frames = data.length / frameBytes
    if (frames == 0) return null
    val amp = new Array[Double](frames)
    var peak = 0.0
    var fr = 0
    while (fr < frames) {
      var c = 0
      var acc = 0.0
      while (c < ch) {
        val off = fr * frameBytes + c * (bits / 8)
        acc += pcmSample(data, off, bits, signed, bigEndian)
        c += 1
      }
      val a = math.abs(acc / ch)
      amp(fr) = a
      if (a > peak) peak = a
      fr += 1
    }
    val n = rows * cols
    val out = new Array[Int](n)
    if (peak > 0) {
      var i = 0
      while (i < n) {
        val x0 = (i.toLong * frames / n).toInt
        val x1 = math.max(x0 + 1, ((i + 1).toLong * frames / n).toInt)
        var s = 0.0
        var x = x0
        while (x < x1) { s += amp(x); x += 1 }
        out(i) = (s / (x1 - x0) / peak * 255).toInt
        i += 1
      }
    }
    out
  }

  /** Sample-true grid over RAW PCM WINDOW BYTES (no container header)
    * — the per-window extractor [[audioHashes]] composes with for the
    * real-audio path: [[WavGrid]] needs the RIFF header, so it
    * fingerprints whole clips, while the window slicer hands each
    * extractor a headerless byte slice. A deployment strips the
    * container once (or lands raw PCM) and declares the sample layout
    * here; each window then fingerprints by the SAME peak-normalized
    * energy envelope as [[WavGrid]] — volume-shift invariant per
    * window. Non-audio kinds fall through; a window shorter than one
    * frame yields null. */
  final class PcmWindowGrid(bits: Int = 16, signed: Boolean = true,
                            bigEndian: Boolean = false, channels: Int = 1,
                            fallback: GridExtractor = StubGrid) extends GridExtractor {
    require(bits == 8 || bits == 16, s"PCM bits must be 8 or 16, got $bits")
    require(channels >= 1, s"channels must be >= 1, got $channels")
    def grid(kind: String, format: String, bytes: Array[Byte],
             rows: Int, cols: Int): Array[Int] = {
      if (kind != "audio") return fallback.grid(kind, format, bytes, rows, cols)
      if (bytes == null || bytes.isEmpty) return null
      envelopeGrid(bytes, channels * (bits / 8), channels, bits, signed,
        bigEndian, rows, cols)
    }
  }

  /** Production grid chain, mirroring [[realDecoder]]: pixel-true
    * image grid, energy-envelope WAV grid, byte-decimation stub for
    * the kinds whose codecs this environment lacks. */
  def realGrid: GridExtractor = new ImageIoGrid(new WavGrid(StubGrid))

  /** 64-bit dHash over an 8×9 grid: bit i·8+j is 1 iff cell (i,j) <
    * cell (i,j+1) — horizontal luminance gradients, invariant to
    * global brightness/contrast shifts (any monotone per-image
    * transform preserves every comparison). Plain bitwise packing —
    * no arithmetic, so no ANSI overflow surface. */
  def dHash64(g: Array[Int]): Long = {
    var hash = 0L
    var i = 0
    while (i < HashRows) {
      var j = 0
      while (j < HashCols - 1) { // comparisons per row = columns - 1
        if (g(i * HashCols + j) < g(i * HashCols + j + 1))
          hash |= 1L << (i * (HashCols - 1) + j)
        j += 1
      }
      i += 1
    }
    hash
  }

  /** Adds a `phash` LONG column (null for undecodable payloads) —
    * row-local `mapPartitions` like [[withFeatures]]: no shuffle, lazy
    * iterator, decoder init amortized per partition. */
  def withPhash(media: DataFrame, grid: GridExtractor = StubGrid): DataFrame = {
    val outSchema = StructType(media.schema.fields :+
      StructField("phash", LongType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val kindIdx = media.schema.fieldIndex("kind")
    val fmtIdx = media.schema.fieldIndex("format")
    val bytesIdx = media.schema.fieldIndex("bytes")
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](bytesIdx)
        val g =
          if (bytes == null) null
          else grid.grid(r.getString(kindIdx), r.getString(fmtIdx), bytes,
            HashRows, HashCols)
        Row.fromSeq(r.toSeq :+ (if (g == null) null else dHash64(g)))
      }
    }(enc)
  }

  /** EXACT perceptual-dup clusters: identical dHash (e.g. the same
    * image re-encoded — different octets, same gradients). One
    * hash-partitioned groupBy; cluster id = smallest member. Output is
    * one row per media asset in a cluster of ≥ 2, bounded by |media|.
    * Undecodable (null-hash) rows never cluster. */
  def phashClusters(media: DataFrame, grid: GridExtractor = StubGrid): DataFrame = {
    val hashed = hashedSlim(media, grid)
    val clusters = hashed.groupBy("phash")
      .agg(min(col("media_id")).as("cluster_id"), count(lit(1)).as("cluster_size"))
      .filter(col("cluster_size") >= 2)
    hashed.join(clusters, Seq("phash"))
      .select("media_id", "cluster_id", "cluster_size")
  }

  /** ONE decode pass: the slim (media_id, phash) frame pinned before
    * any fan-out — every phash consumer reads two small columns, never
    * the media bytes twice. Decode is the dominant cost of real media
    * at scale (the plan-audit lesson: the bucket pre-count and the
    * bucket join would otherwise each run the mapPartitions decoder);
    * the pin is ~12 bytes/asset, the same profile discipline as
    * epochMaterialize's keyed frame. */
  private def hashedSlim(media: DataFrame, grid: GridExtractor): DataFrame =
    withPhash(media, grid).filter(col("phash").isNotNull)
      .select("media_id", "phash")
      .localCheckpoint(true)

  /** NEAR-dup pairs by dHash Hamming distance ≤ `maxHamming` — the
    * [[TextDedup.nearDupPairsSimhash]] banding discipline on the
    * perceptual hash: bucket on each of the 4 16-bit chunks
    * (pigeonhole: hamming ≤ 3 bits cannot touch all 4 chunks, so
    * probing every chunk table has recall 1 by construction), verify
    * with exact popcount of the XOR, dedup pairs found under several
    * chunks with a min-agg. Buckets outside [2, maxBucketSize] never
    * build an aggregation buffer; skips are observable via
    * [[skippedPhashBuckets]] — the cap must never truncate silently. */
  def phashNearDupPairs(media: DataFrame, maxHamming: Int = 3,
                        grid: GridExtractor = StubGrid,
                        maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    phashNearDupPairsFromIndex(phashIndex(media, grid), maxHamming, maxBucketSize)

  /** [[phashNearDupPairs]] over an ALREADY-BUILT [[phashIndex]] — the
    * no-decode rendition for callers holding the index pin: a stage
    * that dedups, curates captions, AND reports skips pays ONE decode
    * pass for all three. */
  def phashNearDupPairsFromIndex(index: DataFrame, maxHamming: Int = 3,
                                 maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    require(maxHamming < 4, s"4-chunk pigeonhole covers hamming <= 3, got $maxHamming")
    val pairs = TextDedup.cappedBucketPairs(
        index.select(struct(col("media_id"), col("phash")).as("m"),
          col("chunk"), col("key")),
        Seq("chunk", "key"), "m", maxBucketSize, TextDedup.memberPairs)
      .select(col("p.a.media_id").as("a_id"), col("p.b.media_id").as("b_id"),
        bit_count(col("p.a.phash").bitwiseXOR(col("p.b.phash"))).as("hamming"))
    pairs.filter(col("hamming") <= maxHamming)
      .groupBy("a_id", "b_id").agg(min("hamming").cast("int").as("hamming"))
  }

  /** Perceptual NEAR-dup dedup: the banded Hamming pairs closed into
    * connected components (large-star/small-star, [[Components]]) and
    * each component collapsed to its smallest media_id — the
    * [[TextDedup.dedupNearMinhash]] keep policy carried to media. The
    * corpus anti-joins the loser ids; pair and component streams never
    * leave the plan. */
  def phashDedup(media: DataFrame, maxHamming: Int = 3,
                 grid: GridExtractor = StubGrid,
                 maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    phashDedupFromIndex(media, phashIndex(media, grid), maxHamming, maxBucketSize)

  /** [[phashDedup]] with the hash pass factored out: `index` is the
    * already-built [[phashIndex]] of `media` (or a pin over it), so a
    * multi-consumer stage decodes once. */
  def phashDedupFromIndex(media: DataFrame, index: DataFrame, maxHamming: Int = 3,
                          maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    val losers = Components.connectedComponents(
        phashNearDupPairsFromIndex(index, maxHamming, maxBucketSize)
          .select("a_id", "b_id"))
      .filter(col("id") =!= col("component"))
      .select(col("id").as("media_id"))
    media.join(losers, Seq("media_id"), "left_anti")
  }

  /** The persistable perceptual index of a media corpus: one slim
    * (media_id, phash, chunk, key) row per asset per 16-bit chunk —
    * the stored-tier artifact an incremental deployment appends batch
    * by batch ([[TextDedup.bandIndex]]'s role for media). Crucially
    * the HASH rides the index, so reconciliation against the tier
    * never re-decodes tier bytes — at 100 TB of media, decode is the
    * cost that must be paid exactly once per asset. */
  def phashIndex(media: DataFrame, grid: GridExtractor = StubGrid): DataFrame =
    phChunked(media, grid)
      .select(col("m.media_id").as("media_id"), col("m.phash").as("phash"),
        col("chunk"), col("key"))

  /** Incremental perceptual dedup: keep the members of `batch` (a new
    * media crawl slice) that survive hamming reconciliation against an
    * existing curated tier AND within the batch itself — the
    * [[TextDedup.nearDupAgainst]] contract on media. Equal to running
    * batch-global [[phashDedup]] over tier ∪ batch and keeping the
    * batch rows whenever tier ids precede batch ids (monotone-id
    * ingest): a batch asset drops iff its hamming component contains
    * ANY tier asset, or it is a non-minimum member of a batch-only
    * component. Tier–tier edges are irrelevant (first tier contact
    * already decides).
    *
    * Plan shape: batch hashes ONCE (the [[phashIndex]] pin); cross
    * candidates are a (chunk, key) equi-join of batch keys against the
    * stored index with the combined bucket population capped; the
    * hamming verify reads the two phash columns ALREADY RIDING the
    * pair — unlike text's shingle re-projection, no payload is ever
    * fetched again. Nothing shuffles the tier. */
  def phashAgainst(batch: DataFrame, tierIndex: DataFrame, maxHamming: Int = 3,
                   grid: GridExtractor = StubGrid,
                   maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
                   batchIndex: Option[DataFrame] = None): DataFrame = {
    // a caller that already built the batch index (e.g. to publish it,
    // or for skippedPhashBucketsAgainst) passes it in so the batch
    // decodes exactly once across reconcile + publish + metric
    val bIdx = batchIndex.getOrElse(phashIndex(batch, grid).localCheckpoint(true))
    phashAgainstFromComponents(batch,
      phashReconcileComponents(bIdx, tierIndex, maxHamming, maxBucketSize), tierIndex)
  }

  /** The RECONCILE CLOSURE behind [[phashAgainst]], also the `comps`
    * input of [[captionKeepBestAgainst]]: hamming components over cross
    * (batch×tier, combined bucket cap) ∪ internal (batch×batch,
    * capped) pairs, labeled by their minimum member id — which is the
    * component's CANONICAL
    * asset under monotone ids (tier ids precede batch ids, and every
    * tier asset is already its component's survivor). Assets touching
    * no pair are absent (their canonical is themselves — callers
    * coalesce). k-sized output: only assets in candidate pairs. */
  def phashReconcileComponents(bIdx: DataFrame, tierIndex: DataFrame,
                               maxHamming: Int = 3,
                               maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    require(maxHamming < 4, s"4-chunk pigeonhole covers hamming <= 3, got $maxHamming")
    val tCnt = tierIndex.groupBy("chunk", "key").agg(count(lit(1)).as("__tc"))
    val bCnt = bIdx.groupBy("chunk", "key").agg(count(lit(1)).as("__bc"))
    val okBuckets = bCnt.join(tCnt, Seq("chunk", "key"))
      .filter(col("__tc") + col("__bc") <= maxBucketSize)
      .select("chunk", "key")
    val cross = bIdx.join(okBuckets, Seq("chunk", "key"))
      .select(col("chunk"), col("key"),
        col("media_id").as("b_id"), col("phash").as("b_ph"))
      .join(tierIndex.select(col("chunk"), col("key"),
        col("media_id").as("t_id"), col("phash").as("t_ph")), Seq("chunk", "key"))
      .filter(bit_count(col("b_ph").bitwiseXOR(col("t_ph"))) <= maxHamming)
      .select(col("t_id").as("a_id"), col("b_id")).distinct()
    val internal = TextDedup.cappedBucketPairs(
        bIdx.select(struct(col("media_id"), col("phash")).as("m"), col("chunk"), col("key")),
        Seq("chunk", "key"), "m", maxBucketSize, TextDedup.memberPairs)
      .select(col("p.a.media_id").as("a_id"), col("p.b.media_id").as("b_id"),
        bit_count(col("p.a.phash").bitwiseXOR(col("p.b.phash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id").distinct()
    Components.connectedComponents(cross.unionByName(internal))
  }

  /** The batch-survivor derivation over an already-computed closure
    * ([[phashReconcileComponents]]) — a batch asset drops iff its
    * component contains any tier asset, or it is a non-minimum member
    * of a batch-only component. */
  def phashAgainstFromComponents(batch: DataFrame, comps: DataFrame,
                                 tierIndex: DataFrame): DataFrame = {
    val tierIds = tierIndex.select(col("media_id").as("id")).distinct()
    val tierComps = comps.join(tierIds, Seq("id"), "left_semi")
      .select("component").distinct()
    val batchComps = comps.join(tierIds, Seq("id"), "left_anti")
    val losers = batchComps.join(tierComps, Seq("component"), "left_semi").select("id")
      .unionByName(batchComps.filter(col("id") =!= col("component")).select("id"))
      .distinct().withColumnRenamed("id", "media_id")
    batch.join(losers, Seq("media_id"), "left_anti")
  }

  /** The dropped-bucket METRIC for [[phashNearDupPairs]]: one row per
    * skipped (chunk, key) with its member count. */
  def skippedPhashBuckets(media: DataFrame, grid: GridExtractor = StubGrid,
                          maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    TextDedup.oversized(phChunked(media, grid), Seq("chunk", "key"), maxBucketSize)

  /** [[skippedPhashBuckets]] over an ALREADY-BUILT index — the no-decode
    * rendition for callers holding the [[phashIndex]] pin (both skip
    * metrics from one decode pass). */
  def skippedPhashBucketsFromIndex(index: DataFrame,
                                   maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    TextDedup.oversized(index, Seq("chunk", "key"), maxBucketSize)

  /** The dropped-bucket METRIC for [[phashAgainst]]'s CROSS join — the
    * module's "the cap must never truncate silently" rule carried to
    * the incremental path, which drops (chunk, key) buckets whose
    * COMBINED batch+tier population exceeds the cap. Takes the two
    * INDEXES (batch side via [[phashIndex]]) so the caller pays the
    * batch decode once across reconcile + metric; one row per skipped
    * bucket with the combined member count. The in-batch expansion's
    * skips remain [[skippedPhashBuckets]] over the batch alone. */
  def skippedPhashBucketsAgainst(batchIndex: DataFrame, tierIndex: DataFrame,
                                 maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    batchIndex.groupBy("chunk", "key").agg(count(lit(1)).as("__bc"))
      .join(tierIndex.groupBy("chunk", "key").agg(count(lit(1)).as("__tc")),
        Seq("chunk", "key"))
      .filter(col("__tc") + col("__bc") > maxBucketSize)
      .select(col("chunk"), col("key"),
        (col("__tc") + col("__bc")).as("member_count"))

  /** Slim ((media_id, phash), chunk, key) rows — ONE decode/hash pass
    * per asset ([[hashedSlim]]'s pin), fanned to its 4 chunk buckets. */
  private def phChunked(media: DataFrame, grid: GridExtractor): DataFrame =
    hashedSlim(media, grid)
      .select(struct(col("media_id"), col("phash")).as("m"),
        explode(transform(sequence(lit(0), lit(3)),
          k => struct(k.as("chunk"),
            call_function("shiftright", col("phash"), k * 16)
              .bitwiseAND(0xFFFFL).as("key")))).as("ck"))
      .select(col("m"), col("ck.chunk").as("chunk"), col("ck.key").as("key"))

  // ------------------------------------------------------------------
  // Video-level dedup (frame-phash sequences)
  // ------------------------------------------------------------------

  /** A video as its ORDERED frame-phash array: per-frame dHash over a
    * frames table (video_id, frame_no, kind, format, bytes — the shape
    * [[sampleFrames]] + a frame fetcher produces), grouped back to one
    * row per video with hashes in frame order. Undecodable frames drop
    * out (never an exception); a video with zero decodable frames
    * disappears rather than matching everything on an empty set. ONE
    * decode pass — the |frames|-sized mapPartitions — then every
    * downstream consumer rides the slim (video_id, array<long>) frame. */
  def frameHashes(frames: DataFrame, grid: GridExtractor = StubGrid): DataFrame =
    withPhash(frames, grid)
      .groupBy("video_id")
      // nulls drop INSIDE the collect (collect_list skips them), never
      // the whole video: a fully-undecodable video keeps an EMPTY hash
      // set — no index rows, no candidate pairs, passes through as a
      // singleton — instead of silently vanishing from the tier (the
      // media pipeline's "a corrupt byte must not delete an asset"
      // discipline, which the pre-round-14 filter violated here)
      .agg(transform(array_sort(collect_list(
          when(col("phash").isNotNull, struct(col("frame_no"), col("phash"))))),
        f => f.getField("phash")).as("frame_hashes"))

  /** VIDEO near-dup pairs over frame-hash SETS: candidates share at
    * least one exact frame phash (bucket on each distinct hash — the
    * capped-bucket discipline; a qualifying pair must share ≥ 1 frame,
    * so recall is complete by construction), verified with the native
    * set kernels: Jaccard (re-encodes and re-muxes — same frames, new
    * container/octets) and max-directional containment (TRIMS: the
    * short cut's hash set is fully contained in the full video's).
    * Emits (a_id, b_id, jaccard, containment) for pairs passing either
    * threshold; both ratios are small-integer divisions, engine-exact. */
  def videoNearDupPairs(videos: DataFrame, jaccardThreshold: Double = 0.9,
                        containThreshold: Double = 0.9,
                        maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    val slim = videos.select(
      struct(col("video_id"), col("frame_hashes")).as("v"),
      explode(array_distinct(col("frame_hashes"))).as("h"))
    val pairs = TextDedup.cappedBucketPairs(slim, Seq("h"), "v", maxBucketSize,
        TextDedup.memberPairs)
      .select(col("p.a.video_id").as("a_id"), col("p.b.video_id").as("b_id"),
        call_function("jaccard_long_sets",
          col("p.a.frame_hashes"), col("p.b.frame_hashes")).as("jaccard"),
        greatest(
          call_function("contain_long_sets",
            col("p.a.frame_hashes"), col("p.b.frame_hashes")),
          call_function("contain_long_sets",
            col("p.b.frame_hashes"), col("p.a.frame_hashes"))).as("containment"))
    pairs.filter(col("jaccard") >= jaccardThreshold ||
        col("containment") >= containThreshold)
      .groupBy("a_id", "b_id")
      .agg(max("jaccard").as("jaccard"), max("containment").as("containment"))
  }

  /** Video dedup end-to-end: near-dup pairs closed into connected
    * components, each collapsed to its smallest video_id — the
    * [[phashDedup]] keep policy one level up the media hierarchy.
    * Input is the (video_id, frame_hashes) frame so the caller decides
    * where decode happened; the survivors keep their hash arrays. */
  def videoDedup(videos: DataFrame, jaccardThreshold: Double = 0.9,
                 containThreshold: Double = 0.9,
                 maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    val losers = Components.connectedComponents(
        videoNearDupPairs(videos, jaccardThreshold, containThreshold, maxBucketSize)
          .select("a_id", "b_id"))
      .filter(col("id") =!= col("component"))
      .select(col("id").as("video_id"))
    videos.join(losers, Seq("video_id"), "left_anti")
  }

  /** The persistable VIDEO index: one slim (video_id, frame_hash) row
    * per distinct frame hash of each video — [[phashIndex]]'s role one
    * level up the media hierarchy. The index IS the candidate-bucketing
    * structure (a qualifying pair must share ≥ 1 exact frame hash) AND
    * the verification payload (each video's distinct hash set, which
    * the set kernels consume — they are order/duplication-invariant by
    * property), so reconciliation against a stored tier never
    * re-decodes a tier frame: at 100 TB of video, frame decode is the
    * cost paid exactly once per video. */
  def videoIndex(videos: DataFrame): DataFrame =
    videos.select(col("video_id"),
      explode(array_distinct(col("frame_hashes"))).as("frame_hash"))

  /** Incremental VIDEO dedup: keep the members of `batch` (new
    * (video_id, frame_hashes) rows — decode already happened, once,
    * in [[frameHashes]]) that survive set-overlap reconciliation
    * against the stored tier index AND within the batch itself — the
    * [[phashAgainst]] contract for the fourth modality. A batch video
    * drops iff its near-dup component (Jaccard ≥ `jaccardThreshold`
    * for re-muxes/re-encodes, max-directional containment ≥
    * `containThreshold` for trims) contains ANY tier video, or it is a
    * non-minimum member of a batch-only component; under monotone-id
    * ingest the running tier equals batch-global [[videoDedup]] over
    * all slices so far.
    *
    * Plan shape: cross candidates are a frame_hash equi-join of the
    * batch index against the stored index with the COMBINED bucket
    * population capped (skips observable via
    * [[skippedVideoBucketsAgainst]]); only candidate tier videos
    * reassemble their hash sets (a semi-joined groupBy of index rows —
    * never the whole tier, never a frame decode); the set-kernel verify
    * reads arrays already riding the pair. Nothing shuffles tier
    * payloads. */
  def videoAgainst(batch: DataFrame, tierIndex: DataFrame,
                   jaccardThreshold: Double = 0.9, containThreshold: Double = 0.9,
                   maxBucketSize: Int = TextDedup.DefaultMaxBucketSize,
                   batchIndex: Option[DataFrame] = None): DataFrame = {
    // a caller that already built the batch index (to publish it, or
    // for the skip metric) passes it in — built once, read three times
    val bIdx = batchIndex.getOrElse(videoIndex(batch).localCheckpoint(true))
    videoAgainstFromComponents(batch,
      videoReconcileComponents(batch, bIdx, tierIndex,
        jaccardThreshold, containThreshold, maxBucketSize),
      tierIndex)
  }

  /** The video RECONCILE CLOSURE used by [[videoAgainst]] —
    * [[phashReconcileComponents]] one level up the media hierarchy:
    * components over cross (batch×tier set-kernel
    * verify over frame-hash-bucket candidates, combined cap) ∪
    * internal (batch-global [[videoNearDupPairs]]) pairs, labeled by
    * minimum member id = the component's CANONICAL video under
    * monotone ids. Videos touching no pair are absent. */
  def videoReconcileComponents(batch: DataFrame, bIdx: DataFrame,
                               tierIndex: DataFrame,
                               jaccardThreshold: Double = 0.9,
                               containThreshold: Double = 0.9,
                               maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    val tCnt = tierIndex.groupBy("frame_hash").agg(count(lit(1)).as("__tc"))
    val bCnt = bIdx.groupBy("frame_hash").agg(count(lit(1)).as("__bc"))
    val okBuckets = bCnt.join(tCnt, Seq("frame_hash"))
      .filter(col("__tc") + col("__bc") <= maxBucketSize)
      .select("frame_hash")
    val candidates = bIdx.join(okBuckets, Seq("frame_hash"))
      .select(col("frame_hash"), col("video_id").as("b_id"))
      .join(tierIndex.select(col("frame_hash"), col("video_id").as("t_id")),
        Seq("frame_hash"))
      .select("t_id", "b_id").distinct()
    val candTierSets = tierIndex
      .join(candidates.select(col("t_id").as("video_id")).distinct(),
        Seq("video_id"), "left_semi")
      .groupBy("video_id").agg(collect_list(col("frame_hash")).as("t_hashes"))
    val cross = candidates
      .join(batch.select(col("video_id").as("b_id"),
        col("frame_hashes").as("b_hashes")), Seq("b_id"))
      .join(candTierSets.select(col("video_id").as("t_id"), col("t_hashes")),
        Seq("t_id"))
      .filter(call_function("jaccard_long_sets",
          col("b_hashes"), col("t_hashes")) >= jaccardThreshold ||
        greatest(
          call_function("contain_long_sets", col("b_hashes"), col("t_hashes")),
          call_function("contain_long_sets", col("t_hashes"), col("b_hashes")))
          >= containThreshold)
      .select(col("t_id").as("a_id"), col("b_id"))
    val internal = videoNearDupPairs(batch, jaccardThreshold, containThreshold,
        maxBucketSize)
      .select("a_id", "b_id")
    Components.connectedComponents(cross.unionByName(internal))
  }

  /** The batch-survivor derivation over an already-computed video
    * closure — [[phashAgainstFromComponents]] on video ids. */
  def videoAgainstFromComponents(batch: DataFrame, comps: DataFrame,
                                 tierIndex: DataFrame): DataFrame = {
    val tierIds = tierIndex.select(col("video_id").as("id")).distinct()
    val tierComps = comps.join(tierIds, Seq("id"), "left_semi")
      .select("component").distinct()
    val batchComps = comps.join(tierIds, Seq("id"), "left_anti")
    val losers = batchComps.join(tierComps, Seq("component"), "left_semi").select("id")
      .unionByName(batchComps.filter(col("id") =!= col("component")).select("id"))
      .distinct().withColumnRenamed("id", "video_id")
    batch.join(losers, Seq("video_id"), "left_anti")
  }

  /** The dropped-bucket METRIC for [[videoNearDupPairs]] over an
    * already-built [[videoIndex]] — one row per frame-hash bucket past
    * the cap with its member count (the cap must never truncate
    * silently; the index exists, so observing it costs no decode). */
  def skippedVideoBucketsFromIndex(index: DataFrame,
                                   maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    TextDedup.oversized(index, Seq("frame_hash"), maxBucketSize)

  /** The dropped-bucket METRIC for [[videoAgainst]]'s CROSS join: one
    * row per frame-hash bucket whose COMBINED batch+tier population
    * exceeds the cap. */
  def skippedVideoBucketsAgainst(batchIndex: DataFrame, tierIndex: DataFrame,
                                 maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    batchIndex.groupBy("frame_hash").agg(count(lit(1)).as("__bc"))
      .join(tierIndex.groupBy("frame_hash").agg(count(lit(1)).as("__tc")),
        Seq("frame_hash"))
      .filter(col("__tc") + col("__bc") > maxBucketSize)
      .select(col("frame_hash"),
        (col("__tc") + col("__bc")).as("member_count"))

  // ------------------------------------------------------------------
  // Audio — the FIFTH modality: windowed fingerprints over one payload
  // ------------------------------------------------------------------

  /** One audio asset — the landing shape [[audioHashes]] consumes. */
  val AudioSchema: StructType = StructType(Seq(
    StructField("audio_id", LongType, nullable = false),
    StructField("kind", StringType),
    StructField("format", StringType),
    StructField("bytes", BinaryType)))

  /** Overlapping byte WINDOWS of each audio payload — the
    * frame-sampling analog for a modality whose payload is ONE blob:
    * window w covers bytes [w·hop, w·hop + windowBytes). Row-local
    * (one explode + substr, no decode here); a null or short payload
    * still emits its window-0 row, so an undecodable clip passes
    * through downstream as a singleton instead of vanishing. */
  def audioWindows(audio: DataFrame, windowBytes: Int = 96,
                   hopBytes: Int = 48): DataFrame = {
    require(windowBytes >= 1 && hopBytes >= 1,
      s"windowBytes/hopBytes must be >= 1, got $windowBytes/$hopBytes")
    audio.select(col("audio_id"), col("kind"), col("format"), col("bytes"),
        explode(sequence(lit(0L),
          greatest(lit(0L), coalesce(
            floor((length(col("bytes")) - windowBytes).cast("double") / hopBytes)
              .cast("long"), lit(0L))))).as("window_no"))
      .select(col("audio_id"), col("window_no").cast("int").as("window_no"),
        col("kind"), col("format"),
        col("bytes").substr(col("window_no").cast("int") * hopBytes + lit(1),
          lit(windowBytes)).as("bytes"))
  }

  /** AUDIO fingerprinting: each payload's overlapping windows hash
    * through the perceptual grid and the clip becomes its SET of
    * window signatures — the chromaprint-shaped profile (Haitsma &
    * Kalker's sub-fingerprint blocks), structurally the video
    * frame-hash profile with byte windows standing in for sampled
    * frames. Re-encodes of the same source share their window
    * signatures (same decoded content), a CLIP is a hop-aligned
    * window subset (containment catches it where Jaccard alone would
    * not) — exactly the video operators' semantics, so the whole
    * set-overlap machinery applies via rename (ONE implementation
    * across the time-media modalities). [[StubGrid]] reads window
    * bytes directly (the oracle-replayable stand-in);
    * [[PcmWindowGrid]] is the sample-true path over raw PCM payloads
    * (the caller strips the container once — [[WavGrid]] needs the
    * header, so it fingerprints whole clips, not windows). Returns
    * (audio_id, window_hashes). */
  def audioHashes(audio: DataFrame, grid: GridExtractor = StubGrid,
                  windowBytes: Int = 96, hopBytes: Int = 48): DataFrame =
    asAudio(frameHashes(
      asVideo(audioWindows(audio, windowBytes, hopBytes)
        .withColumnRenamed("window_no", "frame_no")), grid))

  /** The audio↔video column rename (no-ops on absent columns), the
    * caption fold's rename discipline applied to the operator set:
    * audio reuses the video set-overlap machinery verbatim. */
  private def asVideo(df: DataFrame): DataFrame = df
    .withColumnRenamed("audio_id", "video_id")
    .withColumnRenamed("window_hashes", "frame_hashes")
    .withColumnRenamed("window_hash", "frame_hash")
  private def asAudio(df: DataFrame): DataFrame = df
    .withColumnRenamed("video_id", "audio_id")
    .withColumnRenamed("frame_hashes", "window_hashes")
    .withColumnRenamed("frame_hash", "window_hash")

  /** The persistable AUDIO index — [[videoIndex]] on the window
    * profile: (audio_id, window_hash), both the candidate bucketing
    * structure and the verification payload. */
  def audioIndex(audios: DataFrame): DataFrame =
    asAudio(videoIndex(asVideo(audios)))

  /** Audio near-dup pairs over window-signature SETS — Jaccard for
    * re-encodes, max-directional containment for clips; (a_id, b_id,
    * jaccard, containment). */
  def audioNearDupPairs(audios: DataFrame, jaccardThreshold: Double = 0.9,
                        containThreshold: Double = 0.9,
                        maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    videoNearDupPairs(asVideo(audios), jaccardThreshold, containThreshold,
      maxBucketSize)

  /** Batch audio dedup end-to-end — [[videoDedup]] on the window
    * profile (components collapse to the smallest audio_id). */
  def audioDedup(audios: DataFrame, jaccardThreshold: Double = 0.9,
                 containThreshold: Double = 0.9,
                 maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    asAudio(videoDedup(asVideo(audios), jaccardThreshold, containThreshold,
      maxBucketSize))

  /** The audio reconcile closure / survivor derivation / skip metrics —
    * the video operators via the rename (ONE implementation). */
  def audioReconcileComponents(audios: DataFrame, aIdx: DataFrame,
                               tierIndex: DataFrame,
                               jaccardThreshold: Double = 0.9,
                               containThreshold: Double = 0.9,
                               maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    videoReconcileComponents(asVideo(audios), asVideo(aIdx), asVideo(tierIndex),
      jaccardThreshold, containThreshold, maxBucketSize)

  def audioAgainstFromComponents(audios: DataFrame, comps: DataFrame,
                                 tierIndex: DataFrame): DataFrame =
    asAudio(videoAgainstFromComponents(asVideo(audios), comps, asVideo(tierIndex)))

  def skippedAudioBucketsAgainst(batchIndex: DataFrame, tierIndex: DataFrame,
                                 maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    asAudio(skippedVideoBucketsAgainst(asVideo(batchIndex), asVideo(tierIndex),
      maxBucketSize))

  def skippedAudioBucketsFromIndex(index: DataFrame,
                                   maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    asAudio(skippedVideoBucketsFromIndex(asVideo(index), maxBucketSize))

  /** CROSS-MODAL pair curation: caption↔image pairs where the IMAGE is
    * a perceptual near-dup (same hamming component) but the captions
    * differ — the multimodal-training-set shape where one photo
    * circulates as many re-encodes, each with its own alt-text, and the
    * pair set must keep exactly one (image, caption) per distinct
    * image, choosing the BEST caption by a quality score rather than an
    * arbitrary one.
    *
    * `captions` is (media_id, caption, score) — score from any existing
    * quality battery (e.g. `Curation.classifierScore` / `lmScore` over
    * the caption text); NULL scores rank worst. Per component the kept
    * caption is the (score DESC, media_id ASC, caption ASC) argmax —
    * fully deterministic, engine-exact when the score is (both
    * batteries are integer-sum + one division). Output: one row per
    * component — (media_id = the component's canonical asset,
    * kept_caption, kept_from = the asset that contributed it,
    * dropped_count). Assets with captions but no near-dups pass through
    * as their own singleton component.
    *
    * Plan shape: the hamming components ride the slim banded-pairs
    * stream ([[phashNearDupPairs]] — decode once, capped buckets);
    * captions join on media_id and the per-component argmax is ONE
    * min_by aggregate (no window, no per-component sort). */
  def captionKeepBest(media: DataFrame, captions: DataFrame,
                      maxHamming: Int = 3, grid: GridExtractor = StubGrid,
                      maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame =
    captionKeepBestFromIndex(phashIndex(media, grid), captions, maxHamming,
      maxBucketSize)

  /** [[captionKeepBest]] over an ALREADY-BUILT [[phashIndex]] — no
    * decode: the components ride the index rows, so a caller curates
    * captions from the same one hash pass its dedup and skip metric
    * read. */
  def captionKeepBestFromIndex(index: DataFrame, captions: DataFrame,
                               maxHamming: Int = 3,
                               maxBucketSize: Int = TextDedup.DefaultMaxBucketSize): DataFrame = {
    val comps = Components.connectedComponents(
      phashNearDupPairsFromIndex(index, maxHamming, maxBucketSize)
        .select("a_id", "b_id"))
      .withColumnRenamed("id", "media_id")
    // min_by over struct(-score, id, caption): the id-safe argmax idiom
    // (negate only the double, never ids); null score -> -inf = worst
    val key = struct(
      negate(coalesce(col("score"), lit(Double.NegativeInfinity))),
      col("media_id"), col("caption"))
    captions.join(comps, Seq("media_id"), "left")
      .select(col("media_id"), col("caption"), col("score"),
        coalesce(col("component"), col("media_id")).as("component"))
      .groupBy("component")
      .agg(
        min_by(struct(col("caption"), col("media_id")), key).as("best"),
        (count(lit(1)) - 1).cast("long").as("dropped_count"))
      .select(col("component").as("media_id"),
        col("best.caption").as("kept_caption"),
        col("best.media_id").as("kept_from"),
        col("dropped_count"))
  }

  /** INCREMENTAL cross-modal caption curation — the keep-best fold
    * applied per batch, against the STORED winners
    * instead of re-reading every caption ever ingested. Keep-best is a
    * commutative, associative MIN under the total order
    * (−score, contributor, caption) and dropped_count is additive, so
    * folding each component's stored winner row with the batch's new
    * candidates equals batch-global [[captionKeepBest]] over all
    * captions so far — exactly, any batch split (the nearDupAgainst
    * convergence-contract class). `comps` is the batch's reconcile
    * closure ([[phashReconcileComponents]]): a caption attributes to
    * its asset's component canonical, or to the asset itself when it
    * touched no pair. `stored` is the running artifact
    * (media_id = canonical, kept_caption, kept_from, kept_score,
    * dropped_count); only TOUCHED canonicals are read (semi-join — the
    * artifact is never scanned whole into the fold).
    *
    * CAVEAT (reported, never silent): a batch asset whose component
    * contains ≥ 2 stored canonicals (a BRIDGE — the batch asset links
    * two previously-independent tier components) attributes to the
    * minimum; the other canonical's stored row goes stale, where
    * batch-global replay would merge them. The caller counts bridges
    * from the same closure. */
  def captionKeepBestAgainst(comps: DataFrame, stored: DataFrame,
                             captions: DataFrame): DataFrame = {
    val fresh = captions
      .join(comps.withColumnRenamed("id", "media_id"), Seq("media_id"), "left")
      .select(coalesce(col("component"), col("media_id")).as("canonical"),
        col("caption"), col("score"), col("media_id").as("contributor"),
        lit(0L).as("prior_dropped"))
    val prior = stored
      .join(fresh.select(col("canonical").as("media_id")).distinct(),
        Seq("media_id"), "left_semi")
      .select(col("media_id").as("canonical"), col("kept_caption").as("caption"),
        col("kept_score").as("score"), col("kept_from").as("contributor"),
        col("dropped_count").as("prior_dropped"))
    // the id-safe argmax idiom shared with captionKeepBest: negate only
    // the double, never ids; null score -> -inf = worst
    val key = struct(
      negate(coalesce(col("score"), lit(Double.NegativeInfinity))),
      col("contributor"), col("caption"))
    fresh.unionByName(prior)
      .groupBy("canonical")
      .agg(
        min_by(struct(col("caption"), col("contributor"), col("score")), key).as("best"),
        (sum(col("prior_dropped")) + count(lit(1)) - 1).cast("long").as("dropped_count"))
      .select(col("canonical").as("media_id"),
        col("best.caption").as("kept_caption"),
        col("best.contributor").as("kept_from"),
        col("best.score").as("kept_score"),
        col("dropped_count"))
  }

  /** Feature extraction: adds a `features` array<float> column, decoder
    * run per partition. The partition iterator is consumed lazily —
    * constant memory regardless of partition size. */
  def withFeatures(media: DataFrame, decoder: Decoder = StubDecoder): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(media.schema.fields :+
      StructField("features", ArrayType(FloatType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val kindIdx = media.schema.fieldIndex("kind")
    val fmtIdx = media.schema.fieldIndex("format")
    val bytesIdx = media.schema.fieldIndex("bytes")
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](bytesIdx)
        val feats =
          if (bytes == null) null
          else decoder.decode(r.getString(kindIdx), r.getString(fmtIdx), bytes)
        Row.fromSeq(r.toSeq :+ feats)
      }
    }(enc)
  }

  /** A partition-batch resizer: bytes → downscaled bytes + output
    * dims. Same seam shape as [[Decoder]]: the Spark-side plumbing
    * (schema, lazy partition iterator, null passthrough) is identical
    * whether the pixel path is real or stubbed. */
  trait Resizer extends Serializable {
    /** (resizedBytes, outWidth, outHeight). */
    def resize(kind: String, format: String, bytes: Array[Byte],
               maxW: Int, maxH: Int): (Array[Byte], Int, Int)
  }

  /** Deterministic stub for opaque payloads: "thumbnail" by byte
    * decimation — stride = ceil(len / (maxW·maxH)), keeping bytes at
    * positions 0, stride, 2·stride, …. A pure function of the payload,
    * so the DuckDB oracle replays it byte for byte (the pixel-true
    * path is [[ImageIoResizer]]; this is the documented stand-in for
    * codecs the environment lacks). Output dims: (kept bytes, 1). */
  object StubResizer extends Resizer {
    def resize(kind: String, format: String, bytes: Array[Byte],
               maxW: Int, maxH: Int): (Array[Byte], Int, Int) = {
      val cap = math.max(maxW * maxH, 1)
      if (bytes.length <= cap) (bytes, bytes.length, 1)
      else {
        val stride = (bytes.length + cap - 1) / cap
        val out = bytes.indices.by(stride).map(bytes).toArray
        (out, out.length, 1)
      }
    }
  }

  /** Real image downscale on `javax.imageio` + `Graphics2D`: decode,
    * fit inside maxW×maxH preserving aspect (never upscale), bilinear
    * draw, re-encode PNG. Anything undecodable falls through to
    * `fallback` — same chain discipline as [[ImageIoDecoder]]. */
  class ImageIoResizer(fallback: Resizer) extends Resizer {
    def resize(kind: String, format: String, bytes: Array[Byte],
               maxW: Int, maxH: Int): (Array[Byte], Int, Int) = {
      if (kind != "image") return fallback.resize(kind, format, bytes, maxW, maxH)
      try {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (img == null) return fallback.resize(kind, format, bytes, maxW, maxH)
        val (w, h) = (img.getWidth, img.getHeight)
        if (w <= maxW && h <= maxH) return (bytes, w, h)
        val scale = math.min(maxW.toDouble / w, maxH.toDouble / h)
        val (ow, oh) = (math.max(1, math.round(w * scale).toInt),
          math.max(1, math.round(h * scale).toInt))
        val out = new java.awt.image.BufferedImage(ow, oh,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, ow, oh, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        (bos.toByteArray, ow, oh)
      } catch {
        case _: Exception => fallback.resize(kind, format, bytes, maxW, maxH)
      }
    }
  }

  def realResizer: Resizer = new ImageIoResizer(StubResizer)

  /** Downscale pass: adds (resized_bytes, out_width, out_height), the
    * resizer run per partition with the iterator consumed lazily —
    * the training-data shape where original media stays in object
    * store and only thumbnails flow on. */
  def resizeMedia(media: DataFrame, maxW: Int = 64, maxH: Int = 64,
                  resizer: Resizer = StubResizer): DataFrame = {
    val outSchema = StructType(media.schema.fields ++ Seq(
      StructField("resized_bytes", org.apache.spark.sql.types.BinaryType),
      StructField("out_width", org.apache.spark.sql.types.IntegerType),
      StructField("out_height", org.apache.spark.sql.types.IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val kindIdx = media.schema.fieldIndex("kind")
    val fmtIdx = media.schema.fieldIndex("format")
    val bytesIdx = media.schema.fieldIndex("bytes")
    media.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](bytesIdx)
        if (bytes == null) Row.fromSeq(r.toSeq ++ Seq(null, null, null))
        else {
          val (out, w, h) = resizer.resize(
            r.getString(kindIdx), r.getString(fmtIdx), bytes, maxW, maxH)
          Row.fromSeq(r.toSeq ++ Seq(out, w, h))
        }
      }
    }(enc)
  }

  /** Frame sampling plan for video rows: one row per sampled frame
    * index at `everyMs` spacing — pure plan-side explode; the decoder
    * then fetches only sampled frames. */
  def sampleFrames(media: DataFrame, everyMs: Long = 1000L): DataFrame =
    media.filter(col("kind") === "video" && col("duration_ms").isNotNull &&
        col("duration_ms") > 0) // sequence(0, -1) throws on zero-length clips
      .select(col("media_id"), col("duration_ms"),
        posexplode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))))
      .withColumnRenamed("pos", "frame_no")
      .withColumnRenamed("col", "frame_ts_ms")

  /** Deterministic synthetic media table for tests/benchmarks. */
  def syntheticMedia(spark: SparkSession, n: Long, seed: Long = 42L): DataFrame = {
    val kinds = typedLit(Seq("image", "audio", "video"))
    val formats = typedLit(Seq("jpeg", "wav", "mp4"))
    spark.range(n).select(
      col("id").as("media_id"),
      element_at(kinds, pmod(xxhash64(col("id"), lit(seed)), lit(3)).cast("int") + 1).as("kind"),
      element_at(formats, pmod(xxhash64(col("id"), lit(seed)), lit(3)).cast("int") + 1).as("format"),
      when(pmod(xxhash64(col("id"), lit(seed)), lit(3)) === 0,
        (pmod(xxhash64(col("id"), lit(seed), lit(1)), lit(1920)) + 1).cast("int")).as("width"),
      when(pmod(xxhash64(col("id"), lit(seed)), lit(3)) === 0,
        (pmod(xxhash64(col("id"), lit(seed), lit(2)), lit(1080)) + 1).cast("int")).as("height"),
      when(pmod(xxhash64(col("id"), lit(seed)), lit(3)) =!= 0,
        pmod(xxhash64(col("id"), lit(seed), lit(3)), lit(60000L)) + 1000L).as("duration_ms"),
      sha2(concat(lit(seed), col("id")), 256).cast("binary").as("bytes"))
  }
}
