package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `BinaryType`
  * columns with typed metadata, plus batch decode / feature-extraction /
  * resize operators.
  *
  * The image path is REAL: `javax.imageio` (JDK-only, offline) decodes
  * PNG payloads inside `mapPartitions` (per-partition codec init — the
  * Scala analog of arrow-batched pandas UDFs: rows stream through the
  * codec, nothing is collected), channel statistics come from the decoded
  * pixel grid, and resize is a deterministic nearest-neighbor resampler
  * over those pixels (pure integer index arithmetic — no AWT rendering
  * pipeline whose output could vary by platform). Payloads the codec
  * cannot decode (e.g. the text-derived fake media of [[asMediaTable]])
  * fall back to byte-level features/downsampling so the plumbing still
  * runs on arbitrary binary columns.
  *
  * Correctness gating: [[ensurePngFixture]] generates deterministic PNGs
  * and records each image's channel stats computed from the RAW pixel
  * arrays at ENCODE time. The queries decode the PNG bytes and must
  * reproduce those stats exactly (PNG is lossless), so the oracle gate
  * covers the codec round-trip end-to-end, not just the plumbing.
  */
object Multimodal {

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType)))

  /** Wrap a text table into a media table: payload bytes + typed metadata.
    * (Deterministic fake "images": the UTF-8 bytes of the text; metadata
    * derived from byte length — stands in for a parquet of real blobs.) */
  def asMediaTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      col(textCol).cast("binary").as("payload"),
      struct(
        lit("image/fake").as("mime"),
        (pmod(xxhash64(col(textCol)), lit(512)) + 16).cast("int").as("width"),
        (pmod(xxhash64(lit(7), col(textCol)), lit(512)) + 16).cast("int").as("height"),
        length(col(textCol).cast("binary")).cast("long").as("n_bytes")).as("media_meta"))

  // ---- codec core (shared by fixture generation and decode paths) ----

  /** Per-channel means over a row-major (A)RGB int pixel grid. One long
    * accumulation per channel → one double division → one float cast —
    * IEEE round-to-nearest steps any engine reproduces bit-for-bit. Used
    * by the fixture generator pre-encode AND the decode path post-decode:
    * their equality through the PNG round-trip is the codec gate. */
  private[graft] def channelMeans(pix: Array[Int]): (Float, Float, Float) = {
    var r = 0L; var g = 0L; var b = 0L
    var i = 0
    while (i < pix.length) {
      val p = pix(i)
      r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
      i += 1
    }
    val n = math.max(pix.length, 1).toDouble
    ((r / n).toFloat, (g / n).toFloat, (b / n).toFloat)
  }

  /** Nearest-neighbor resample: a real, fully deterministic resampler
    * (src index = dst index scaled by integer division). */
  private[graft] def resampleNearest(pix: Array[Int], w: Int, h: Int,
                                     dw: Int, dh: Int): Array[Int] = {
    val out = new Array[Int](dw * dh)
    var y = 0
    while (y < dh) {
      val sy = y * h / dh
      var x = 0
      while (x < dw) { out(y * dw + x) = pix(sy * w + x * w / dw); x += 1 }
      y += 1
    }
    out
  }

  /** ImageIO decode: Some((w, h, pixels)) for decodable image bytes,
    * None otherwise (ImageIO returns null when no reader matches). */
  private[graft] def decodeImage(payload: Array[Byte]): Option[(Int, Int, Array[Int])] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
      .map { img =>
        val w = img.getWidth; val h = img.getHeight
        (w, h, img.getRGB(0, 0, w, h, null, 0, w))
      }
    catch { case _: java.io.IOException => None }

  /** 64-bit dHash (difference hash) over decoded pixels: resample to a
    * 9×8 grid (the [[resampleNearest]] integer-exact resampler),
    * integer-luma each sample (299r+587g+114b / 1000 — no floats, so the
    * hash is bit-stable across JVMs), and set bit y*8+x iff the right
    * neighbor is strictly brighter. The classic perceptual-dedup code:
    * small local edits, re-encodes, and resizes move a handful of bits;
    * unrelated textured images differ in ~32. */
  private[graft] def dHash64(pix: Array[Int], w: Int, h: Int): Long = {
    val s = resampleNearest(pix, w, h, 9, 8)
    val g = new Array[Int](72)
    var i = 0
    while (i < 72) {
      val p = s(i)
      g(i) = (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) +
        114 * (p & 0xff)) / 1000
      i += 1
    }
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y * 9 + x + 1) > g(y * 9 + x)) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** No-codec dHash FALLBACK: the same 9×8 comparison lattice over
    * payload bytes sampled at even strides — keeps the plumbing (binary
    * in, 64-bit code out) identical when no codec matches. */
  private[graft] def dHash64Bytes(payload: Array[Byte]): Long = {
    if (payload.isEmpty) return 0L
    val g = Array.tabulate(72)(i =>
      payload(((i.toLong * (payload.length - 1)) / 71).toInt) & 0xff)
    var bits = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y * 9 + x + 1) > g(y * 9 + x)) bits |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    bits
  }

  /** No-codec FALLBACK features for undecodable payloads: "pixel mean" =
    * mean byte value (one double division, one float cast), 8 lanes. */
  private[graft] def byteMeanFeatures(payload: Array[Byte]): Array[Float] = {
    val mean =
      if (payload.isEmpty) 0f
      else (payload.map(_ & 0xff).sum.toDouble / payload.length).toFloat
    Array.tabulate(8)(i => mean + i)
  }

  // ---- deterministic PNG fixture ----

  /** Generate `n` deterministic RGB-gradient PNGs under `dir/png/` plus
    * `dir/expected/` parquet holding each image's ground truth computed
    * from the raw pixel arrays BEFORE encoding: dimensions, encoded
    * size, channel means, and the nearest-neighbor half-resolution
    * resample's dimensions and channel means. Idempotent (marker file);
    * pixel values are a pure function of (image index, x, y). */
  def ensurePngFixture(spark: SparkSession, dir: String, n: Int = 200): String =
    this.synchronized {
      val done = new java.io.File(dir, "_FIXTURE_OK")
      if (!done.exists) {
        val imgDir = new java.io.File(dir, "png")
        imgDir.mkdirs()
        val rows = (0 until n).map { i =>
          val w = 16 + (i * 7) % 48
          val h = 16 + (i * 11) % 48
          val pix = Array.tabulate(w * h) { p =>
            val x = p % w; val y = p / w
            val r = (i * 31 + x * 3 + y * 5) & 0xff
            val g = (i * 17 + x * 7 + y * 2) & 0xff
            val b = (i * 13 + x * 2 + y * 11) & 0xff
            (r << 16) | (g << 8) | b
          }
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          img.setRGB(0, 0, w, h, pix, 0, w)
          val f = new java.io.File(imgDir, f"img_$i%04d.png")
          require(javax.imageio.ImageIO.write(img, "png", f), s"no PNG writer for $f")
          val (rm, gm, bm) = channelMeans(pix)
          val dw = math.max(1, w / 2); val dh = math.max(1, h / 2)
          val (rrm, rgm, rbm) = channelMeans(resampleNearest(pix, w, h, dw, dh))
          (i.toLong, w, h, f.length, rm, gm, bm, dw, dh, rrm, rgm, rbm)
        }
        import spark.implicits._
        rows.toDF("media_id", "width", "height", "n_bytes",
          "r_mean", "g_mean", "b_mean",
          "res_width", "res_height", "res_r_mean", "res_g_mean", "res_b_mean")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/expected")
        done.createNewFile()
      }
      dir
    }

  /** The files in `dir` matching `glob`, via Spark's binaryFile source
    * with the glob as a `pathGlobFilter` (see [[pngMediaTable]] for why),
    * retried up to 3 times while the listing transiently reports the
    * directory as missing. */
  private def binaryFiles(spark: SparkSession, dir: java.io.File,
                          glob: String, attempt: Int = 0): DataFrame =
    try spark.read.format("binaryFile")
      .option("pathGlobFilter", glob).load(dir.toString)
    catch {
      case e: Throwable if attempt < 3 &&
          Option(e.getMessage).exists(_.contains("does not exist")) =>
        Thread.sleep(200L * (attempt + 1))
        binaryFiles(spark, dir, glob, attempt + 1)
    }

  /** The fixture PNGs as a media table (Spark's binaryFile source: at
    * scale this is the "parquet of blobs" scan — here, the file-per-blob
    * variant). Width/height are -1: unknown until decode.
    *
    * Load shape: DIRECTORY + pathGlobFilter, not a `*`-glob in the path
    * — globStatus routes through a parent-dir listing that was observed
    * failing transiently under suite load (the star-glob reported "does
    * not exist" with 200 files demonstrably on disk), and a glob error is
    * indistinguishable from a genuinely-missing fixture. The directory
    * form lists the path directly; a bounded retry covers the transient
    * window, and a java.io existence probe makes the real-missing case
    * fail with its own message instead of the reader's. */
  def pngMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val pngDir = new java.io.File(dir, "png")
    require(pngDir.isDirectory && Option(pngDir.list()).exists(_.nonEmpty),
      s"multimodal fixture missing or empty at $pngDir — run ensurePngFixture")
    binaryFiles(spark, pngDir, "*.png")
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png", 1).cast("long").as("media_id"),
        col("content").as("payload"),
        struct(
          lit("image/png").as("mime"),
          lit(-1).as("width"),
          lit(-1).as("height"),
          col("length").as("n_bytes")).as("media_meta"))
  }

  // ---- batch operators ----

  /** Batch feature extraction: partition-local iterator processing — the
    * codec is configured once per partition (in-memory ImageIO, no disk
    * cache); at scale this is where an ONNX session / JNI codec handle
    * would live. Decoded images yield (width, height, [w, h, r̄, ḡ, b̄]);
    * undecodable payloads keep the declared meta dims and fall back to
    * [[byteMeanFeatures]]. */
  def extractFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("features", ArrayType(FloatType))))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id").cast("long"), col("payload"),
      col("media_meta.width"), col("media_meta.height"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // per-partition codec init
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          decodeImage(payload) match {
            case Some((w, h, pix)) =>
              val (rm, gm, bm) = channelMeans(pix)
              Row(r.getAs[Long]("media_id"), w, h,
                Array(w.toFloat, h.toFloat, rm, gm, bm))
            case None =>
              Row(r.getAs[Long]("media_id"), r.getAs[Int]("width"),
                r.getAs[Int]("height"), byteMeanFeatures(payload))
          }
        }
      }(enc)
  }

  /** PERCEPTUAL HASHES for an image table: one 64-bit dHash per payload
    * (decode → 9×8 luma lattice → neighbor comparisons), computed inside
    * `mapPartitions` (per-partition codec init — an ImageIO reader
    * cannot be a Catalyst expression; the correct exception to the
    * no-UDF rule, same as [[extractFeatures]]). Output
    * `(media_id, width, height, phash, decoded)`; undecodable payloads
    * take the byte-stride fallback lattice with -1 dims.
    *
    * Pairs come from [[Dedup.simhashPairsFromSigs]] — the banded
    * pigeonhole-exact Hamming join already gated for text SimHash — so
    * image near-dup at 100 TB is one codegen'd-shape scan producing 8
    * bytes per image plus a band-bucket shuffle of the 8-byte codes,
    * never pixels. */
  def perceptualHashes(spark: SparkSession, media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("phash", LongType),
      StructField("decoded", BooleanType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val id = r.getAs[Long]("media_id")
          decodeImage(payload) match {
            case Some((w, h, pix)) => Row(id, w, h, dHash64(pix, w, h), true)
            case None => Row(id, -1, -1, dHash64Bytes(payload), false)
          }
        }
      }(enc)
  }

  /** MIXED-CODEC fixture: deterministic images written as PNG
    * (i % 3 = 0), JPEG (i % 3 = 1), and PLANTED UNDECODABLE payloads
    * (i % 3 = 2 — headerless pseudo-random bytes no ImageIO reader
    * claims), under `dir/img/`, plus `dir/expected/` ground truth. The
    * codec boundary this gates: PNG truth is ENCODE-TIME (lossless
    * round-trip — the strongest form); JPEG truth is dims at encode
    * time (JPEG preserves dimensions) and channel means/dHash from a
    * DRIVER-SIDE decode of the written file (JPEG is lossy, so
    * decode-time truth is the only exact truth; the same file bytes
    * decode identically in the executors — deterministic for a given
    * JDK's codec, which is the deployment unit); undecodable truth is
    * the byte-lattice fallback ([[byteMeanFeatures]]/[[dHash64Bytes]]).
    * A `decodable` column pins WHERE the fallback is allowed to fire:
    * the gate proves real JPEG decode happens (decoded dims must equal
    * encode-time dims) and that the fallback absorbs ONLY the planted
    * garbage, never a real format. */
  def ensureMixedCodecFixture(spark: SparkSession, dir: String,
                              n: Int = 120): String =
    this.synchronized {
      val done = new java.io.File(dir, "_FIXTURE_OK")
      if (!done.exists) {
        val imgDir = new java.io.File(dir, "img")
        imgDir.mkdirs()
        val rows = (0 until n).map { i =>
          val w = 16 + (i * 7) % 48
          val h = 16 + (i * 11) % 48
          val pix = Array.tabulate(w * h) { p =>
            val x = p % w; val y = p / w
            val r = (i * 31 + x * 3 + y * 5) & 0xff
            val g = (i * 17 + x * 7 + y * 2) & 0xff
            val b = (i * 13 + x * 2 + y * 11) & 0xff
            (r << 16) | (g << 8) | b
          }
          i % 3 match {
            case 2 =>
              // headerless bytes: a deterministic LCG stream — no magic
              // number, so ImageIO.read returns null (the fallback path)
              var s = i * 2654435761L + 12345L
              val bytes = Array.tabulate[Byte](192) { _ =>
                s = s * 6364136223846793005L + 1442695040888963407L
                (s >>> 33).toByte
              }
              val f = new java.io.File(imgDir, f"img_$i%04d.bin")
              java.nio.file.Files.write(f.toPath, bytes)
              val bf = byteMeanFeatures(bytes)
              (i.toLong, "bin", false, -1, -1,
                bf(2), bf(3), bf(4), dHash64Bytes(bytes))
            case c =>
              val img = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              img.setRGB(0, 0, w, h, pix, 0, w)
              val (fmt, ext) = if (c == 0) ("png", "png") else ("jpg", "jpg")
              val f = new java.io.File(imgDir, f"img_$i%04d.$ext")
              require(javax.imageio.ImageIO.write(img, fmt, f),
                s"no $fmt writer for $f")
              // PNG: encode-time truth. JPEG: decode the WRITTEN file
              // for the lossy channels; dims stay encode-time truth.
              val tpix =
                if (c == 0) pix
                else decodeImage(java.nio.file.Files.readAllBytes(f.toPath))
                  .map { case (dw, dh, dp) =>
                    require(dw == w && dh == h,
                      s"JPEG round-trip changed dims for $f"); dp
                  }.getOrElse(throw new IllegalStateException(
                    s"fixture JPEG $f did not decode"))
              val (rm, gm, bm) = channelMeans(tpix)
              (i.toLong, fmt, true, w, h, rm, gm, bm, dHash64(tpix, w, h))
          }
        }
        import spark.implicits._
        rows.toDF("media_id", "codec", "decodable", "width", "height",
          "r_mean", "g_mean", "b_mean", "dhash")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/expected")
        done.createNewFile()
      }
      dir
    }

  /** The mixed-codec fixture as a media table — same binaryFile load
    * shape as [[pngMediaTable]] but extension-agnostic (mime derived
    * from the file suffix; unknown suffixes get octet-stream, exactly
    * how a real blob lake carries undecodable attachments). */
  def mixedMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val imgDir = new java.io.File(dir, "img")
    require(imgDir.isDirectory && Option(imgDir.list()).exists(_.nonEmpty),
      s"mixed-codec fixture missing or empty at $imgDir — run " +
        "ensureMixedCodecFixture")
    binaryFiles(spark, imgDir, "img_*.*")
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.", 1).cast("long")
          .as("media_id"),
        col("content").as("payload"),
        struct(
          when(col("path").endsWith(".png"), "image/png")
            .when(col("path").endsWith(".jpg"), "image/jpeg")
            .otherwise("application/octet-stream").as("mime"),
          lit(-1).as("width"),
          lit(-1).as("height"),
          col("length").as("n_bytes")).as("media_meta"))
  }

  /** Deterministic noise-textured PNG fixture WITH planted near-dups:
    * `n/2` base images of per-pixel hash noise (so unrelated dHashes are
    * ~independent, ~32 bits apart) and one clone per base with a 3×3
    * patch rewritten — the clone's dHash moves 0–4 bits, cleanly inside
    * a Hamming-6 radius. Idempotent (marker file). */
  def ensurePngNearDupFixture(spark: SparkSession, dir: String,
                              n: Int = 120): String = this.synchronized {
    val done = new java.io.File(dir, "_FIXTURE_OK")
    if (!done.exists) {
      val imgDir = new java.io.File(dir, "png")
      imgDir.mkdirs()
      val half = n / 2
      val w = 32; val h = 32
      def basePix(i: Int): Array[Int] = Array.tabulate(w * h) { p =>
        var v = i * 0x9E3779B9 + p * 0x85EBCA6B
        v ^= v >>> 13; v *= 0xC2B2AE35; v ^= v >>> 16
        v & 0xffffff
      }
      (0 until n).foreach { i =>
        val src = if (i < half) i else i - half
        val pix = basePix(src)
        if (i >= half) {
          val bx = (src * 5) % (w - 3); val by = (src * 7) % (h - 3)
          var dy = 0
          while (dy < 3) {
            var dx = 0
            while (dx < 3) {
              pix((by + dy) * w + bx + dx) = 0xffffff; dx += 1
            }
            dy += 1
          }
        }
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        img.setRGB(0, 0, w, h, pix, 0, w)
        val f = new java.io.File(imgDir, f"img_$i%04d.png")
        require(javax.imageio.ImageIO.write(img, "png", f),
          s"no PNG writer for $f")
      }
      done.createNewFile()
    }
    dir
  }

  /** Batch resize: decode → nearest-neighbor half-resolution resample →
    * re-encode PNG, with the resized grid's channel means alongside
    * (the oracle checks them against encode-time ground truth). Payloads
    * without a codec fall back to byte striding (every `strideFallback`-th
    * byte) with -1 dims — the plumbing (binary in/binary out, streaming
    * mapPartitions) is identical either way. */
  def resizeMedia(spark: SparkSession, media: DataFrame,
                  strideFallback: Int = 4): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_bytes", LongType),
      StructField("res_width", IntegerType),
      StructField("res_height", IntegerType),
      StructField("res_r_mean", FloatType),
      StructField("res_g_mean", FloatType),
      StructField("res_b_mean", FloatType),
      StructField("resized_payload", BinaryType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id").cast("long"), col("payload"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val payload = r.getAs[Array[Byte]]("payload")
          val id = r.getAs[Long]("media_id")
          decodeImage(payload) match {
            case Some((w, h, pix)) =>
              val dw = math.max(1, w / 2); val dh = math.max(1, h / 2)
              val rp = resampleNearest(pix, w, h, dw, dh)
              val (rm, gm, bm) = channelMeans(rp)
              val img = new java.awt.image.BufferedImage(
                dw, dh, java.awt.image.BufferedImage.TYPE_INT_RGB)
              img.setRGB(0, 0, dw, dh, rp, 0, dw)
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(img, "png", bos)
              Row(id, payload.length.toLong, dw, dh, rm, gm, bm, bos.toByteArray)
            case None =>
              val resized =
                Array.range(0, payload.length, strideFallback).map(payload(_))
              Row(id, payload.length.toLong, -1, -1, 0f, 0f, 0f, resized)
          }
        }
      }(enc)
  }

  /** Frame-sample plumbing for "video": deterministic sample offsets from
    * the payload — shows the explode-per-frame shape (1 row in → n frames
    * out) used by real frame extractors. */
  def sampleFrames(media: DataFrame, everyNBytes: Int = 64): DataFrame =
    media.select(col("media_id"), col("media_meta.n_bytes").as("n_bytes"),
      explode(sequence(lit(0L), greatest(col("media_meta.n_bytes") - 1, lit(0L)),
        lit(everyNBytes.toLong))).as("frame_offset"))
      .withColumn("frame_id",
        concat(col("media_id").cast("string"), lit("_"),
          col("frame_offset").cast("string")))
}
