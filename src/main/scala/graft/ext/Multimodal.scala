package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorExpressions

/** Multimodal column plumbing (SURVEY.md §7.5): media payloads are
  * opaque `binary` columns with a typed metadata struct alongside. The
  * Spark-side mechanics — schema, partition-friendly batch iteration,
  * feature extraction signature — are real. Two decoder paths:
  *
  *  - [[decodeImages]] is a GENUINE codec: `javax.imageio` (pure JVM,
  *    in every JRE) decodes PNG/BMP/GIF payloads to dimensions +
  *    per-channel means, with the `ImageReader` initialized once per
  *    partition — the init-amortization shape a JNI/ffmpeg decoder
  *    needs, exercised by a real codec;
  *  - `decodeStub` stands in where a heavyweight codec (video/audio)
  *    is not available in this environment; a production build swaps
  *    it for the library call without touching the dataflow.
  */
object Multimodal {

  final case class MediaFeatures(
      doc_id: Long, byte_len: Long, avg_byte: Double, header_md5: String)

  /** documents → media table: binary payload + metadata struct. */
  def toMediaTable(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      col("text").cast("binary").as("media"),
      struct(lit("text/plain").as("mime"),
        length(col("text")).cast("long").as("n_bytes")).as("meta"))

  /** STUB decoder — stands in for image decode / resize / frame-sample.
    * Deterministic so tests and reruns agree.
    */
  private def decodeStub(bytes: Array[Byte]): (Double, String) = {
    val avg = if (bytes.isEmpty) 0.0
      else bytes.foldLeft(0L)((a, b) => a + (b & 0xff)).toDouble / bytes.length
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(bytes.take(16))
    (avg, md.map("%02x".format(_)).mkString)
  }

  /** Per-partition batch feature extraction over the binary column —
    * the mapPartitions shape a real decoder needs (amortized init, one
    * pass, no driver collect).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // a real decoder would initialize its codec once per partition here
        it.map { case (id, bytes) =>
          val (avg, md5h) = decodeStub(bytes)
          MediaFeatures(id, bytes.length.toLong, avg, md5h)
        }
      }
  }

  final case class ImageFeatures(
      doc_id: Long, format: String, width: Int, height: Int, channels: Int,
      mean_r: Double, mean_g: Double, mean_b: Double)

  /** Per-partition amortized image decoding for the two dominant web
    * formats — PNG and JPEG, both pure-JVM `javax.imageio` decoders.
    * The expensive part of a production decode pass is codec init, so
    * one `ImageReader` per (partition, format) is created lazily and
    * re-`setInput` per row; payloads are routed by MAGIC BYTES (never
    * by trusting a mime column — web-crawled metadata lies), anything
    * else falls back to `ImageIO.read`'s format probe. Instances live
    * inside a `mapPartitions` closure on the executor — never
    * serialized, never shared across partitions (ImageReader is not
    * thread-safe).
    */
  private final class PartitionDecoder {
    private def mk(fmt: String): javax.imageio.ImageReader = {
      val rs = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
      if (rs.hasNext) rs.next() else null
    }
    private lazy val png = mk("png")
    private lazy val jpeg = mk("jpeg")
    /** Decoded image + sniffed format tag, or None for undecodable
      * payloads (a bad image must never kill a 100 TB pass).
      */
    def read(bytes: Array[Byte]): Option[(java.awt.image.BufferedImage, String)] = {
      // the stream must be closed per row: ImageIO's default disk cache
      // backs each ImageInputStream with a temp file + FD that otherwise
      // lives until GC — FD/scratch exhaustion on a long decode pass
      var iis: javax.imageio.stream.ImageInputStream = null
      try {
        iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val (reader, fmt) =
          if (isPng(bytes)) (png, "png")
          else if (isJpeg(bytes)) (jpeg, "jpeg")
          else (null, "other")
        val img =
          if (reader != null) { reader.setInput(iis, true, true); reader.read(0) }
          else javax.imageio.ImageIO.read(iis)
        Option(img).map((_, fmt))
      } catch { case _: Exception => None }
      finally if (iis != null) { try iis.close() catch { case _: Exception => () } }
    }
  }

  /** Real image decode — `javax.imageio` (PNG and JPEG as first-class
    * per-partition-amortized readers, BMP/GIF via the probe fallback):
    * each payload decodes to (format, width, height, channels,
    * per-channel means). Codec init amortizes once per
    * (partition, format) via [[PartitionDecoder]] — the exact
    * amortization `mapPartitions` exists for (a per-row UDF would
    * re-init per call). Rows that do not decode (corrupt or non-image
    * payloads) are dropped rather than failing the scan — a bad image
    * must never kill a 100 TB decode pass; count them via an outer
    * join against the input if auditing is needed. The `format` tag is
    * the magic-byte sniff, which is what per-format decode dashboards
    * aggregate on.
    */
  def decodeImages(spark: SparkSession, media: DataFrame): Dataset[ImageFeatures] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val dec = new PartitionDecoder
        it.flatMap { case (id, bytes) =>
          dec.read(bytes).map { case (img, fmt) =>
            val w = img.getWidth
            val h = img.getHeight
            var sr = 0L; var sg = 0L; var sb = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            ImageFeatures(id, fmt, w, h, img.getColorModel.getNumComponents,
              sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
          }
        }
      }
  }

  final case class ImageHashes(doc_id: Long, ahash_hi: Long, ahash_lo: Long,
      dhash_hi: Long, dhash_lo: Long)

  /** Perceptual hashes over REAL decoded images: aHash (8×8 block-mean
    * grid, bit = cell brighter than the image mean) and dHash (9×8
    * grid, bit = horizontal gradient sign) over integer luma
    * (299r+587g+114b). All comparisons are exact integer cross products
    * (cellSum·totalCnt vs totalSum·cellCnt) — no float rounding, so the
    * hash is bit-stable across JVMs. Each 64-bit hash ships as two
    * 32-bit halves (hi/lo), the layout [[graft.ext.Dedup.hammingPairs64]]
    * bands for pigeonhole pair proposal — near-duplicate IMAGE dedup
    * with the same propose-then-verify scheme as simhash text dedup.
    * Same per-partition reader amortization as [[decodeImages]];
    * undecodable payloads drop rather than kill the pass.
    */
  def imagePerceptualHashes(spark: SparkSession, media: DataFrame): Dataset[ImageHashes] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val dec = new PartitionDecoder
        it.flatMap { case (id, bytes) =>
          dec.read(bytes).flatMap { case (img, _) =>
            {
              val w = img.getWidth
              val h = img.getHeight
              // luma sums/counts on a 9×8 grid; aHash uses columns 0..7,
              // dHash compares adjacent columns 0..8 per row
              val sums = Array.ofDim[Long](8, 9)
              val cnts = Array.ofDim[Long](8, 9)
              var y = 0
              while (y < h) {
                val gy = math.min(y * 8 / h, 7)
                var x = 0
                while (x < w) {
                  val gx9 = math.min(x * 9 / w, 8)
                  val p = img.getRGB(x, y)
                  val luma = 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
                    114L * (p & 0xff)
                  sums(gy)(gx9) += luma
                  cnts(gy)(gx9) += 1
                  x += 1
                }
                y += 1
              }
              // aHash over the 8 leftmost columns of the 9-wide grid
              var totalSum = 0L
              var totalCnt = 0L
              var gy = 0
              while (gy < 8) {
                var gx = 0
                while (gx < 8) { totalSum += sums(gy)(gx); totalCnt += cnts(gy)(gx); gx += 1 }
                gy += 1
              }
              var aHi = 0L; var aLo = 0L; var dHi = 0L; var dLo = 0L
              var k = 0
              while (k < 64) {
                val cy = k / 8
                val cx = k % 8
                val aBit = sums(cy)(cx) * totalCnt > totalSum * cnts(cy)(cx)
                val dBit = sums(cy)(cx) * cnts(cy)(cx + 1) <
                  sums(cy)(cx + 1) * cnts(cy)(cx)
                if (k < 32) {
                  if (aBit) aLo |= 1L << k
                  if (dBit) dLo |= 1L << k
                } else {
                  if (aBit) aHi |= 1L << (k - 32)
                  if (dBit) dHi |= 1L << (k - 32)
                }
                k += 1
              }
              Some(ImageHashes(id, aHi, aLo, dHi, dLo))
            }
          }
        }
      }
  }

  /** Byte-grid perceptual hash — the DECODE-FREE stand-in on an opaque
    * payload: the byte stream cut into an 8×8 grid of fixed-size cells,
    * bit k = cell-k byte mean above the stream mean (the aHash rule,
    * cells over bytes instead of pixels). One codegen'd kernel pass
    * ([[graft.functions.BytePHash64]] — the HOF formulation evaluated
    * ~66 CodegenFallback lambdas per character); all-integer arithmetic
    * the DuckDB oracle replays exactly, the same cross-product compare
    * as [[imagePerceptualHashes]]. Emits hi/lo 32-bit halves for
    * [[graft.ext.Dedup.hammingPairs64]]. `textCol` is the payload
    * column (the corpus media column is its text bytes; pure ASCII at
    * every SF, asserted in ExtOpsSpec).
    */
  def bytePHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.filter(length(col(textCol)) >= 1)
      .withColumn("__ph", VectorExpressions.bytePHash(col(textCol)))
      .select(col(idCol),
        element_at(col("__ph"), 1).as("phash_hi"),
        element_at(col("__ph"), 2).as("phash_lo"))
  }

  private def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' &&
      bytes(2) == 'N' && bytes(3) == 'G'

  private def isJpeg(bytes: Array[Byte]): Boolean =
    bytes.length >= 3 && (bytes(0) & 0xff) == 0xff &&
      (bytes(1) & 0xff) == 0xd8 && (bytes(2) & 0xff) == 0xff

  /** Frame sampling over an opaque media payload: cut the byte stream
    * into fixed-`stride` windows and keep the first `frameBytes` of each
    * (a video would decode keyframes; the slicing/generator mechanics are
    * identical). Pure codegen'd expressions — byte slicing happens
    * scan-side, one output row per sampled frame, no UDF and no shuffle.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int = 64, stride: Int = 128): DataFrame = {
    media
      .withColumn("__frames",
        when(length(col("media")) > 0,
          expr(s"transform(sequence(0, int(ceil(length(media) / $stride.0)) - 1)," +
               s" i -> substring(media, i * $stride + 1, $frameBytes))"))
          .otherwise(expr("array()")))
      .select(col("doc_id"), posexplode(col("__frames")).as(Seq("frame_no", "frame")))
      .select(col("doc_id"), col("frame_no").cast("long").as("frame_no"),
        col("frame"))
  }

  final case class ResizedMedia(doc_id: Long, media: Array[Byte], out_bytes: Long)

  /** Resize stand-in: clamp/pad each payload to `targetBytes` (a real
    * image resize keeps the same batch shape: binary in → binary out,
    * per-partition codec init, size recorded in metadata).
    */
  def resizeBatch(spark: SparkSession, media: DataFrame, targetBytes: Int): Dataset[ResizedMedia] = {
    import spark.implicits._
    media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val out = if (bytes.length >= targetBytes) bytes.take(targetBytes)
            else bytes ++ Array.fill[Byte](targetBytes - bytes.length)(0)
          ResizedMedia(id, out, out.length.toLong)
        }
      }
  }

  /** Decode-to-vector stand-in: binary → fixed-`dim` float feature
    * vector (the embedding-extraction batch shape; a real model would
    * run a forward pass per partition-batch here). Deterministic:
    * byte histogram folded into `dim` buckets, L2-normalized.
    */
  def decodeToVectors(spark: SparkSession, media: DataFrame, dim: Int = 16): DataFrame = {
    import spark.implicits._
    val ds = media.select(col("doc_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val hist = new Array[Float](dim)
          bytes.foreach(b => hist((b & 0xff) % dim) += 1f)
          val norm = math.sqrt(hist.foldLeft(0.0)((a, v) => a + v.toDouble * v)).toFloat
          (id, if (norm == 0f) hist else hist.map(_ / norm))
        }
      }
    ds.toDF("doc_id", "embedding")
  }

  /** Per-window energy over the media byte stream — the audio-pipeline
    * primitive (silence trimming, voice-activity windows) applied to
    * the opaque byte column: non-overlapping `frame`-byte windows, each
    * reporting sample count, integer sum-of-squares energy (unsigned
    * 8-bit samples — exact, order-free), and RMS (one sqrt over an
    * integer ratio, rounded to 9 dp — both engines see identical
    * operands). Scan-side byte slicing like sampleFrames: no shuffle,
    * one row per window, linear at any corpus size.
    *
    * Operates on the text column directly (byte == char on the ASCII
    * corpus, asserted in ExtOpsSpec) so the DuckDB oracle can replay it
    * with ord(substring(...)).
    */
  def frameEnergy(df: DataFrame, idCol: String, textCol: String,
      frame: Int = 64): DataFrame = {
    // fused kernel (r17): the HOF form re-sliced the chunk per position
    // (O(frame²) char scans/window, a lambda object per byte) and its
    // consumers evaluated it per reference — see
    // [[graft.functions.FrameEnergies]]; ExtOpsSpec pins kernel == HOF
    df.filter(length(col(textCol)) > 0)
      .select(col(idCol), posexplode(VectorExpressions.frameEnergies(col(textCol), frame))
        .as(Seq("frame_no", "__fe")))
      .select(col(idCol), col("frame_no").cast("long").as("frame_no"),
        col("__fe.n_samples").as("n_samples"), col("__fe.energy").as("energy"),
        round(sqrt(col("__fe.energy").cast("double") / col("__fe.n_samples")), 9)
          .as("rms"))
  }

  /** Scene-change segmentation over the windowed byte-stream energy:
    * a cut wherever the frame-to-frame RMS jump exceeds `threshold`
    * (the shot-boundary / audio-segment primitive on the opaque-bytes
    * plumbing — a real build swaps the byte energy for decoded frame
    * histograms without touching this dataflow). `scene_no` is the
    * 0-based running count of cuts per media item.
    *
    * Scale: the window partitions on the media id — row-scale NDV, so
    * per-partition work is one item's frames; ROWS frame pinned so tie
    * semantics match the oracle regardless of duplicate frame keys.
    */
  def sceneChanges(df: DataFrame, idCol: String, textCol: String,
      frame: Int = 64, threshold: Double = 12.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("frame_no"))
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frameEnergy(df, idCol, textCol, frame)
      .withColumn("__prev", lag(col("rms"), 1).over(w))
      .withColumn("__cut",
        when(col("__prev").isNull ||
          abs(col("rms") - col("__prev")) > threshold, 1L).otherwise(0L))
      .withColumn("scene_no", sum(col("__cut")).over(wRows) - lit(1L))
      .select(col(idCol), col("frame_no"), col("rms"), col("scene_no"))
  }

  /** Silence segments: maximal runs of consecutive frames whose RMS
    * falls below `maxRms` — the trim-silence / dead-air primitive of
    * an audio ingest pipeline (and the static-shot detector on video),
    * here on the opaque-bytes plumbing like every media op. Classic
    * gaps-and-islands: quiet frames grouped by
    * `frame_no − row_number()` (constant exactly within a consecutive
    * run), one aggregate per island. Both windows partition on the
    * media id — row-scale NDV, per-partition work is one item's
    * frames; the quiet filter runs scan-side BEFORE either window, so
    * loud frames never enter the shuffle.
    */
  /** Keyframe selection: per detected scene, the highest-energy frame
    * (ties → earliest) — the thumbnail/representative-frame rule of a
    * video ingest pipeline, composed from the oracled scene
    * segmentation. One O(1)-state min-struct argmax per (media, scene)
    * group on top of [[sceneChanges]]' per-media window — no new scale
    * term: at 100 TB the cost is the scene window's one media-keyed
    * shuffle, and the argmax is map-side combinable.
    */
  def keyframes(df: DataFrame, idCol: String, textCol: String,
      frame: Int = 64, threshold: Double = 12.0): DataFrame =
    sceneChanges(df, idCol, textCol, frame, threshold)
      .groupBy(col(idCol), col("scene_no"))
      .agg(min(struct((-col("rms")).as("nr"), col("frame_no").as("fn"),
          col("rms").as("r"))).as("__b"),
        min(col("frame_no")).as("scene_start"),
        max(col("frame_no")).as("scene_end"),
        count(lit(1)).as("n_frames"))
      .select(col(idCol), col("scene_no"), col("__b.fn").as("keyframe_no"),
        col("__b.r").as("key_rms"), col("scene_start"), col("scene_end"),
        col("n_frames"))

  def silenceSegments(df: DataFrame, idCol: String, textCol: String,
      frame: Int = 64, maxRms: Double = 98.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("frame_no"))
    frameEnergy(df, idCol, textCol, frame)
      .filter(col("rms") < maxRms)
      .withColumn("__grp", col("frame_no") - row_number().over(w))
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("frame_no")).as("seg_start"),
        max(col("frame_no")).as("seg_end"),
        count(lit(1)).as("n_frames"),
        round(min(col("rms")), 9).as("min_rms"))
      .select(col(idCol), col("seg_start"), col("seg_end"),
        col("n_frames"), col("min_rms"))
  }
}
