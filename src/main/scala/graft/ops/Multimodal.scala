package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages.
  *
  * The Spark-side design is real and tested — schema, partition-preserving
  * batched processing via `mapPartitions` (the Scala twin of mapInPandas:
  * one iterator per partition, no per-row JVM boundary), deterministic
  * output shapes. IMAGE pixel decode is REAL: the container's JRE ships
  * `java.desktop`, so [[decodePixels]] runs the JDK's bundled ImageIO
  * codecs (PNG/JPEG/GIF/BMP/TIFF) — no external library. Audio/video codec
  * work remains STUBBED (`decodeStub` derives a deterministic fake "decode"
  * from the bytes); swapping in a real codec there changes only the
  * function body, none of the dataflow.
  *
  * Scale notes: all stages are map-side (no shuffle); binary payloads never
  * serve as join/group keys; metadata travels in a narrow struct so pruning
  * drops the heavy bytes column whenever a stage doesn't need it.
  */
object Multimodal {

  // ImageIO's stream decode path uses a DISK-backed cache file per image by
  // default — per-row temp-file churn on every executor thread. Pixels this
  // small belong in memory; flip it once per JVM before any codec call.
  private lazy val imageIoInit: Unit = javax.imageio.ImageIO.setUseCache(false)

  /** Typed metadata carried beside every binary payload. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("n_bytes", LongType),
    StructField("checksum", LongType)))

  /** Wrap any table into the media schema, payload = utf-8 bytes of a text
    * column (the stand-in for real image/audio bytes in this container). */
  def attachBinary(df: DataFrame, idCol: String, textCol: String, mime: String): DataFrame =
    df.select(
      col(idCol).cast("long").as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"))
      .withColumn("meta", struct(
        lit(mime).as("mime"),
        length(col("payload")).cast("long").as("n_bytes"),
        xxhash64(col("payload")).as("checksum")))

  /** One decoded frame/patch: fixed-shape feature vector + dimensions. */
  case class DecodedMedia(media_id: Long, width: Int, height: Int,
      n_frames: Int, features: Array[Float])

  /** STUB decode — the fallback for payloads no bundled codec reads
    * (compressed audio/video, or the text stand-ins x15 feeds): dimensions
    * and features derive deterministically from the bytes so every
    * downstream stage (schema, batching, feature consumers) is exercised
    * for real even without a codec. */
  def decodeStub(payload: Array[Byte], featureDim: Int = 16): (Int, Int, Int, Array[Float]) = {
    val n = payload.length
    val width = 16 + (math.abs(java.util.Arrays.hashCode(payload)) % 64)
    val height = 16 + (n % 64)
    val nFrames = 1 + n % 4
    val features = new Array[Float](featureDim)
    var i = 0
    while (i < n) {
      features(i % featureDim) += (payload(i) & 0xff) / 255.0f
      i += 1
    }
    (width, height, nFrames, features)
  }

  /** Real-codec decode of one image payload into the [[DecodedMedia]]
    * shape (r13): raster dims, REAL frame count, and a `featureDim`-bin
    * luma histogram (fractions summing to ~1 — a deterministic, compact
    * pixel feature). ONE codec pass computes dims and histogram together,
    * and the full-stream frame walk (`getNumImages(true)` re-parses every
    * frame) runs only for GIF — the one multi-frame container the JDK
    * reads; still images are 1 by definition. None → the caller falls
    * back to [[decodeStub]]. */
  private def decodeReal(payload: Array[Byte], featureDim: Int): Option[(Int, Int, Int, Array[Float])] = {
    imageIoInit
    if (payload == null) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val features = new Array[Float](featureDim)
        // Long math throughout: luma*featureDim overflows Int past
        // featureDim ~8400, and w*h overflows past 2^31 px — either would
        // turn into a negative index whose AIOOBE the NonFatal guard
        // silently converts to a stub fallback.
        val nPx = w.toLong * h
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val luma = 299 * ((rgb >>> 16) & 0xff) + 587 * ((rgb >>> 8) & 0xff) +
              114 * (rgb & 0xff) // 0 .. 254745
            features((luma.toLong * featureDim / 255000L).toInt.min(featureDim - 1)) += 1.0f / nPx
            x += 1
          }
          y += 1
        }
        val isGif = payload.length >= 6 &&
          payload(0) == 'G' && payload(1) == 'I' && payload(2) == 'F'
        val frames = if (isGif) frameCount(payload).getOrElse(1) else 1
        Some((w, h, frames, features))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Batched decode stage — mapPartitions so any per-partition setup (codec
    * context, model session) is paid once per partition, not per row.
    * CODEC-FIRST since r13: payloads the bundled ImageIO readers decode get
    * REAL raster dims, real frame counts, and a luma-histogram feature
    * vector; everything else (text stand-ins, compressed media) falls back
    * to the documented deterministic stub — same schema either way. */
  def decode(media: DataFrame, featureDim: Int = 16): Dataset[DecodedMedia] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition init of the codec happens here
        it.map { case (id, payload) =>
          val (w, h, f, feats) = decodeReal(payload, featureDim)
            .getOrElse(decodeStub(payload, featureDim))
          DecodedMedia(id, w, h, f, feats)
        }
      }
  }

  /** REAL image-dimension extraction — header parsing is pure byte
    * arithmetic on the public container formats, so unlike pixel decode it
    * needs no codec library and is NOT a stub:
    *  - PNG: 8-byte signature, IHDR width/height big-endian at offsets 16/20
    *  - JPEG: FF D8 then marker scan to the first SOF0–SOF15 frame header
    *    (height/width big-endian at +5/+7 inside the segment)
    *  - GIF: "GIF87a"/"GIF89a", logical-screen width/height LITTLE-endian
    *    at offsets 6/8
    * Returns (format, width, height); None for anything unrecognized or
    * truncated (corrupt inputs are data, not exceptions). */
  def imageDims(p: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int): Int = p(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long = (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (p.length >= 24 && pngSig.indices.forall(i => u8(i) == pngSig(i)) &&
        new String(p, 12, 4, "US-ASCII") == "IHDR")
      Some(("png", be32(16).toInt, be32(20).toInt))
    else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // JPEG marker scan: skip segments until a start-of-frame
      var i = 2
      var out: Option[(String, Int, Int)] = None
      while (out.isEmpty && i + 9 < p.length) {
        if (u8(i) != 0xff) return None // desynced — not a well-formed stream
        val m = u8(i + 1)
        if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) i += 2 // bare markers
        else {
          val segLen = be16(i + 2)
          if (segLen < 2) return None
          val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
          if (isSof) out = Some(("jpeg", be16(i + 7), be16(i + 5)))
          else i += 2 + segLen
        }
      }
      out
    } else if (p.length >= 10 && new String(p, 0, 6, "US-ASCII").matches("GIF8[79]a"))
      Some(("gif", le16(6), le16(8)))
    else None
  }

  /** Dimension-extraction stage over a media table: real parsing
    * ([[imageDims]]), mapPartitions batching, unknown formats surface as
    * NULLs (never dropped — a curation gate decides). */
  def imageDimensions(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        imageDims(payload) match {
          case Some((f, w, h)) => (id, Option(f), Option(w), Option(h))
          case None => (id, None: Option[String], None: Option[Int], None: Option[Int])
        }
      })
      .toDF("media_id", "format", "width", "height")
  }

  /** Exact integer pixel statistics of one decoded image: dimensions FROM
    * THE PIXEL GRID (not the header), per-channel sums, and the integer
    * Rec.601 luma sum `Σ (299·r + 587·g + 114·b)` (the /1000 left to the
    * consumer so every engine reproduces the number bit-for-bit). */
  case class PixelStats(width: Int, height: Int,
      sumR: Long, sumG: Long, sumB: Long, sumLuma: Long)

  /** REAL pixel decode via the JDK's bundled ImageIO readers (PNG, JPEG,
    * GIF, BMP, TIFF — `java.desktop` is part of this JRE, probed r13; no
    * external codec library). Returns None for payloads ImageIO cannot
    * decode — corrupt bytes are data, not exceptions, same contract as
    * [[imageDims]]. Unlike [[imageDims]] (header arithmetic) this runs the
    * actual codec: dimensions come from the decoded raster and the channel
    * sums from every pixel, converted through the image's own color model
    * to sRGB (`getRGB`). */
  def decodePixels(payload: Array[Byte]): Option[PixelStats] = {
    imageIoInit
    // NULL payloads are data (an upstream stage's undecodable marker —
    // resizeImages emits them), and JDK codecs throw RUNTIME exceptions on
    // malformed-but-recognized bodies (JPEG huffman AIOOBE, bogus-dims
    // NegativeArraySize, GIF IOOBE) — so the guard is NonFatal, not just
    // IOException: corrupt bytes are data, not exceptions, always.
    if (payload == null) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sr += (rgb >>> 16) & 0xff
            sg += (rgb >>> 8) & 0xff
            sb += rgb & 0xff
            x += 1
          }
          y += 1
        }
        Some(PixelStats(w, h, sr, sg, sb, 299L * sr + 587L * sg + 114L * sb))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Pixel-statistics stage over a media table `(media_id, payload, …)`:
    * one real codec decode per row, mapPartitions-batched, undecodable
    * payloads surface as NULL stats (never dropped — a curation gate
    * decides). All-BIGINT output so the stats hash identically across
    * engines: `media_id, width, height, sum_r, sum_g, sum_b, sum_luma,
    * mean_luma_milli` (= sum_luma DIV n_pixels — integer milli-luma). */
  def pixelStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        decodePixels(payload) match {
          case Some(s) => (id, Option(s.width.toLong), Option(s.height.toLong),
            Option(s.sumR), Option(s.sumG), Option(s.sumB), Option(s.sumLuma),
            Option(s.sumLuma / (s.width.toLong * s.height)))
          case None => (id, None: Option[Long], None: Option[Long],
            None: Option[Long], None: Option[Long], None: Option[Long],
            None: Option[Long], None: Option[Long])
        }
      })
      .toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b",
        "sum_luma", "mean_luma_milli")
  }

  /** Deterministic planted PNG: a `w`×`h` RGB image whose channel values
    * are closed-form in (x, y, id) —
    * `r = (3x + 5y + id) mod 256`, `g = (11x + y + 2·id) mod 256`,
    * `b = (x + 13y + 3·id) mod 256` — encoded through the REAL ImageIO PNG
    * writer. PNG is lossless, so [[decodePixels]] over these bytes must
    * reproduce the formula exactly: that closed form is what lets a plain
    * SQL engine with no codec oracle the whole encode→decode round trip
    * (the x191 gate). */
  def syntheticPng(id: Long, w: Int, h: Int): Array[Byte] = {
    imageIoInit
    require(w > 0 && h > 0, s"syntheticPng: degenerate dims ${w}x$h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((3L * x + 5L * y + id) % 256).toInt
        val g = ((11L * x + y + 2L * id) % 256).toInt
        val b = ((x + 13L * y + 3L * id) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream(256)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Plant a synthetic PNG per id — `(media_id, payload)` with dims
    * `w = 8 + id mod 9`, `h = 8 + 7·id mod 9` (8–16 px, co-prime strides so
    * the dim pair varies). Map-side, one encoder call per row. */
  def plantSyntheticPngs(ids: DataFrame, idCol: String): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    Par.widen(ids.select(col(idCol).cast("long")), bytesPerTask = 1).as[Long]
      .mapPartitions(_.map { id =>
        val w = (8 + id % 9).toInt
        val h = (8 + (id * 7) % 9).toInt
        (id, syntheticPng(id, w, h))
      })
      .toDF("media_id", "payload")
  }

  /** NN-sampled dHash — the difference-hash family of perceptual image
    * fingerprints (public knowledge: gradient-sign hashing, the dHash
    * variant popularized by the pHash/imagehash lineage), with one
    * deliberate deviation: the 9×8 luma grid is NEAREST-NEIGHBOR SAMPLED
    * with the same integer index convention as [[resizePixels]]
    * (`src = dst·srcDim DIV dstDim`) instead of box-averaged. Classic
    * dHash's mean-pooling needs floating-point or rounding conventions a
    * second engine can disagree with; NN sampling keeps every step integer
    * (Rec.601 milli-luma `299r + 587g + 114b` on sampled pixels, strict
    * `>` comparisons), so a plain SQL engine replays the hash bit-for-bit
    * (the x200 oracle) while preserving the property that matters: the
    * bits encode horizontal gradient SIGNS, invariant to global brightness
    * shifts and stable under small edits. Bit `y·8 + x` (x ∈ 0..7,
    * y ∈ 0..7) is set iff `luma(x+1, y) > luma(x, y)` on the grid. None
    * for undecodable payloads — corrupt bytes are data, not exceptions. */
  def dhash64(payload: Array[Byte]): Option[Long] = {
    imageIoInit
    if (payload == null) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None else Some(dhashImage(img))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The dHash core over an already-decoded frame — shared between the
    * single-image path ([[dhash64]]) and the per-frame clip path
    * ([[clipFrameDhashes]]), so the two families can never drift. */
  private def dhashImage(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    var sig = 0L
    var y = 0
    while (y < 8) {
      val sy = (y.toLong * h / 8).toInt
      var prev = 0L
      var x = 0
      while (x < 9) {
        val rgb = img.getRGB((x.toLong * w / 9).toInt, sy)
        val luma = 299L * ((rgb >>> 16) & 0xff) +
          587L * ((rgb >>> 8) & 0xff) + 114L * (rgb & 0xff)
        if (x > 0 && luma > prev) sig |= 1L << (y * 8 + (x - 1))
        prev = luma
        x += 1
      }
      y += 1
    }
    sig
  }

  /** dHash stage over a media table `(media_id, payload, …)`: one real
    * decode per row, mapPartitions-batched; undecodable payloads surface
    * as NULL signatures (never dropped — a downstream gate decides). */
  def imageDhash(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) => (id, dhash64(p)) })
      .toDF("media_id", "dhash")
  }

  /** Image near-duplicate pairs: [[dhash64]] signatures through the SAME
    * banded Hamming pigeonhole kernel the text SimHash path rides
    * ([[graft.ops.Dedup.hammingNearDupPairs]] — exhaustive for
    * `maxHamming ≤ blocks − keyBlocks`, capped buckets, one shuffle).
    * Undecodable payloads drop out of the pair relation (no signature →
    * no candidacy); surface them via [[imageDhash]]'s NULL rows if a
    * pipeline needs the inventory. Output `(media_a, media_b, hamming)`
    * with `media_a < media_b`. */
  def imageNearDupPairs(media: DataFrame, maxHamming: Int = 3,
      maxBucketSize: Int = 1000, blocks: Int = -1, keyBlocks: Int = -1): DataFrame =
    graft.ops.Dedup.hammingNearDupPairs(
      imageDhash(media).filter(col("dhash").isNotNull)
        .select(col("media_id").as("doc_id"), col("dhash").as("sig")),
      maxHamming, maxBucketSize, blocks, keyBlocks)
      .toDF("media_a", "media_b", "hamming")

  /** The planted NEAR-DUP image family behind [[imageNearDupPairs]]'s x200
    * oracle: per id a BASE image and a one-pixel-edited VARIANT (green
    * channel at source pixel (2, 3) shifted +128 mod 256). The channel
    * closed form differs from [[syntheticPng]]'s on purpose — that one is
    * a pure linear gradient, and gradient-sign hashes of linear gradients
    * COLLIDE catastrophically (measured: 1000 such bases produce ~112k
    * cross pairs within hamming 3 — a near-clique that says nothing about
    * near-dup detection and crowds the LSH buckets). The `x·y` cross term
    * scaled by a per-id coefficient makes the mod-256 wrap positions —
    * and so the gradient signs — vary pseudo-randomly per image: measured
    * on 1000 ids, ZERO cross pairs within hamming 3 while every
    * base/variant pair lands at hamming ≤ 2 (the edit perturbs only the
    * grid cells that NN-sample pixel (2, 3); for some dims none do and
    * the pair sits at hamming 0 — still found). Everything stays integer
    * closed form, so SQL replays both hashes bit-for-bit. */
  def syntheticPngPair(id: Long, w: Int, h: Int, variant: Boolean): Array[Byte] = {
    imageIoInit
    require(w > 3 && h > 3, s"syntheticPngPair: needs pixel (2,3), got ${w}x$h")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (((x.toLong * y + 3L * x + 5L * y) * (1 + id % 97) + id) % 256).toInt
        val bump = if (variant && x == 2 && y == 3) 128 else 0
        val g = ((((2L * x * y + 11L * x + y) * (1 + id % 89) + 2L * id) % 256 + bump) % 256).toInt
        val b = (((3L * x * y + x + 13L * y) * (1 + id % 83) + 3L * id) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream(256)
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Plant a base+variant PNG per id ([[syntheticPngPair]], dims
    * `w = 8 + id mod 9`, `h = 8 + 7·id mod 9`): the base at
    * `media_id = id`, the one-pixel variant at `media_id = id +
    * variantOffset` — the deterministic near-dup image family
    * ([[imageNearDupPairs]]'s oracle input). Map-side. */
  def plantSyntheticPngPairs(ids: DataFrame, idCol: String,
      variantOffset: Long = 1000000L): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    Par.widen(ids.select(col(idCol).cast("long")), bytesPerTask = 1).as[Long]
      .mapPartitions(_.flatMap { id =>
        val w = (8 + id % 9).toInt
        val h = (8 + (id * 7) % 9).toInt
        Iterator((id, syntheticPngPair(id, w, h, variant = false)),
          (id + variantOffset, syntheticPngPair(id, w, h, variant = true)))
      })
      .toDF("media_id", "payload")
  }

  /** REAL nearest-neighbor pixel resize: decode via ImageIO, remap with the
    * integer index convention `src = (dst · srcDim) DIV dstDim` (exactly
    * replayable in any engine's integer math — the x193 oracle's hook),
    * re-encode through the real PNG writer (lossless, so downstream decodes
    * see precisely the mapped pixels). None when the payload doesn't decode
    * or the target is degenerate. */
  def resizePixels(payload: Array[Byte], dstW: Int, dstH: Int): Option[Array[Byte]] = {
    imageIoInit
    if (payload == null || dstW <= 0 || dstH <= 0) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val out = new java.awt.image.BufferedImage(
          dstW, dstH, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val sw = img.getWidth; val sh = img.getHeight
        var y = 0
        while (y < dstH) {
          val sy = (y.toLong * sh / dstH).toInt
          var x = 0
          while (x < dstW) {
            out.setRGB(x, y, img.getRGB((x.toLong * sw / dstW).toInt, sy) & 0xffffff)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream(256)
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Real-pixel resize stage: every payload scaled so max(w, h) == `maxDim`
    * (aspect preserved via the same integer formula the metadata-level
    * [[resize]] uses: `dst = max(1, dim·maxDim DIV max(w, h))`; images
    * already within budget pass through unchanged). Output is media-shaped
    * `(media_id, payload)`; undecodable payloads surface as NULL payloads. */
  def resizeImages(media: DataFrame, maxDim: Int): DataFrame = {
    require(maxDim > 0, s"resizeImages: maxDim must be positive, got $maxDim")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        val resized = decodePixels(payload).flatMap { s =>
          val mx = math.max(s.width, s.height)
          if (mx <= maxDim) Some(payload)
          // Long math: width*maxDim overflows Int for large rasters, and a
          // negative dim would make resizePixels NULL the payload silently.
          else resizePixels(payload,
            math.max(1, (s.width.toLong * maxDim / mx).toInt),
            math.max(1, (s.height.toLong * maxDim / mx).toInt))
        }
        (id, resized.orNull)
      })
      .toDF("media_id", "payload")
  }

  /** REAL frame count via the format's own ImageIO reader (GIF is the
    * multi-frame container the JDK decodes): None when no reader claims the
    * payload. `getNumImages(true)` walks the whole stream, so the count is
    * the decoded truth, not a header claim. */
  def frameCount(payload: Array[Byte]): Option[Int] = {
    imageIoInit
    if (payload == null) return None
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val r = readers.next()
          try { r.setInput(iis, false); Some(r.getNumImages(true)) }
          finally r.dispose()
        }
      } finally iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Frame-count stage over a media table: `(media_id, n_frames)`, NULL for
    * payloads no reader decodes. */
  def frameCounts(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        (id, frameCount(payload).map(_.toLong))
      })
      .toDF("media_id", "n_frames")
  }

  /** Deterministic planted multi-frame GIF: `frames` 4×4 frames whose
    * pixels vary by frame index — the x194 fixture. GIF palette
    * quantization may perturb pixel VALUES (unlike the lossless PNG plant),
    * so only structure (frame count, dims) is closed-form here. */
  def syntheticGif(id: Long, frames: Int): Array[Byte] = {
    imageIoInit
    require(frames > 0, s"syntheticGif: frames must be positive, got $frames")
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream(256)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val img = new java.awt.image.BufferedImage(
          4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val r = ((37L * x + 11L * f + id) % 256).toInt
            val g = ((53L * y + 7L * f) % 256).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | ((40 * f) % 256))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  // --------------------------------------------------- clip (video) near-dup

  /** dHash of every `sampleEvery`-th REAL-decoded frame of a multi-frame
    * payload (GIF is the JDK's multi-frame container — x194's machinery):
    * `(media_id, frame_idx, dhash)`, one row per SAMPLED frame, nothing
    * for undecodable payloads. The frame loop reads through the format's
    * own ImageIO reader, so disposal/packaging quirks are the codec's
    * problem, not ours; the hash is [[dhash64]]'s NN-sampled integer core
    * applied per frame. */
  def clipFrameDhashes(media: DataFrame, sampleEvery: Int = 1): DataFrame = {
    require(sampleEvery >= 1, s"sampleEvery must be >= 1, got $sampleEvery")
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        imageIoInit
        if (payload == null) Iterator.empty
        else try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            val readers = javax.imageio.ImageIO.getImageReaders(iis)
            if (!readers.hasNext) Iterator.empty
            else {
              val r = readers.next()
              try {
                r.setInput(iis, false)
                val n = r.getNumImages(true)
                (0 until n by sampleEvery)
                  .map(f => (id, f, dhashImage(r.read(f)))).iterator
              } finally r.dispose()
            }
          } finally iis.close()
        } catch { case scala.util.control.NonFatal(_) => Iterator.empty }
      })
      .toDF("media_id", "frame_idx", "dhash")
  }

  /** Clip-level near-duplicate pairs — the multimodal analogue of x28's
    * text clusters, composed from the existing pieces (r15 verdict ask
    * #6): sample frames ([[clipFrameDhashes]]) → per-frame dHash → the
    * SAME banded Hamming pigeonhole kernel x200/SimHash ride
    * ([[graft.ops.Dedup.hammingNearDupPairs]] — exhaustive for the default
    * geometry at `maxHamming ≤ 3`, capped buckets, one shuffle, never
    * all-pairs) over ALL sampled frames of ALL clips at once → aggregate
    * frame matches to clip pairs. Two clips near-duplicate when enough of
    * their sampled frames match: `shared_ppm = ⌊10⁶ · min(matched_a,
    * matched_b) / max(n_a, n_b)⌋` (integer arithmetic — exactly
    * replayable), kept when ≥ `minSharePpm`.
    *
    * Frame rows ride the kernel under the composite id `media_id ·
    * frameStride + frame_idx`. The stride trades the two ranges off
    * against each other: callers with > 2²⁰ sampled frames per clip pass
    * a WIDER stride (which lowers the media-id ceiling); callers with
    * media ids near `Long.MaxValue / frameStride` need a SMALLER stride
    * (or re-keyed media ids) — a wider one only overflows sooner. Both
    * bounds are ENFORCED row-wise inside the plan (`assert_true`, no extra
    * job): a composite that would overflow fails loudly instead of
    * silently pairing the wrong clips. Output
    * `(clip_a, clip_b, n_frame_pairs, shared_ppm)`, `clip_a < clip_b`. */
  def clipNearDupPairs(media: DataFrame, sampleEvery: Int = 1,
      maxHamming: Int = 3, minSharePpm: Long = 500000L,
      maxBucketSize: Int = 1000, frameStride: Long = 1L << 20): DataFrame = {
    require(frameStride >= 1, s"frameStride must be positive, got $frameStride")
    // materialize the decoded signatures ONCE (the hammingNearDupPairs
    // rule): the sizes aggregate and the pair kernel both consume this
    // relation, and each would otherwise re-run the full codec decode of
    // every clip — measured as roughly half of x204's runtime
    val frames = clipFrameDhashes(media, sampleEvery).localCheckpoint()
    val sizes = frames.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"))
    // the composite-id precondition, enforced where the composite is built
    // (r16 ADVICE): media_id·stride + frame_idx must stay below Long.Max
    // and frame_idx below the stride, or two different (clip, frame) pairs
    // alias to one id and the kernel pairs the WRONG clips with no error.
    // assert_true keeps the check distributed and inside the plan — no
    // extra driver action over the frames relation.
    val maxMediaId = (Long.MaxValue - (frameStride - 1)) / frameStride
    val inRange = col("media_id").between(0L, maxMediaId) &&
      col("frame_idx").between(0L, frameStride - 1)
    val composite = when(
      assert_true(inRange, concat(
        lit(s"clipNearDupPairs: composite id would overflow at frameStride=$frameStride "),
        lit(s"(need 0 <= media_id <= $maxMediaId and frame_idx < $frameStride; got media_id="),
        col("media_id"), lit(", frame_idx="), col("frame_idx"),
        lit("); use a smaller stride or re-keyed ids for large media_id, " +
          "a wider stride only for >stride frames per clip"))).isNull,
      col("media_id") * lit(frameStride) + col("frame_idx"))
    val pairs = graft.ops.Dedup.hammingNearDupPairs(
      frames.select(
        composite.as("doc_id"),
        col("dhash").as("sig")),
      maxHamming, maxBucketSize)
      .toDF("fa", "fb", "hamming")
      // integer DIV to recover the clip id: `/` on longs is DOUBLE
      // division, which above 2^53 rounds composite ids onto the wrong
      // clip — exactly the id range a large media lake occupies
      .select(
        expr(s"fa DIV $frameStride").as("ca"),
        col("fa").as("fa"),
        expr(s"fb DIV $frameStride").as("cb"),
        col("fb").as("fb"))
      .filter(col("ca") =!= col("cb"))
      // canonical clip order; frame ids keep their side so the distinct
      // per-side match counts stay attached to the right clip
      .select(
        least(col("ca"), col("cb")).as("clip_a"),
        greatest(col("ca"), col("cb")).as("clip_b"),
        when(col("ca") < col("cb"), col("fa")).otherwise(col("fb")).as("frame_a"),
        when(col("ca") < col("cb"), col("fb")).otherwise(col("fa")).as("frame_b"))
    pairs
      .groupBy(col("clip_a"), col("clip_b"))
      .agg(count(lit(1)).as("n_frame_pairs"),
        countDistinct(col("frame_a")).as("ma"),
        countDistinct(col("frame_b")).as("mb"))
      .join(sizes.withColumnRenamed("media_id", "clip_a")
        .withColumnRenamed("n_frames", "na"), Seq("clip_a"))
      .join(sizes.withColumnRenamed("media_id", "clip_b")
        .withColumnRenamed("n_frames", "nb"), Seq("clip_b"))
      .select(col("clip_a"), col("clip_b"), col("n_frame_pairs"),
        // integer DIV, not float divide-then-cast: CAST(double AS BIGINT)
        // rounds in some engines and truncates in others — DIV replays
        // exactly everywhere
        expr("CAST(least(ma, mb) * 1000000 DIV greatest(na, nb) AS BIGINT)")
          .as("shared_ppm"))
      .filter(col("shared_ppm") >= minSharePpm)
  }

  /** Deterministic planted clip FAMILY for [[clipNearDupPairs]]' oracle:
    * per id a BASE `frames`-frame 16×16 GIF and a VARIANT that REPLACES
    * frame `variantFrame` with a different pattern (formula frame term
    * shifted by 1000) — every other frame is pixel-identical, so the pair
    * shares all but one sampled frame. Pixel channels are QUANTIZED to
    * multiples of 32: a 16×16 frame holds ≤ 256 distinct colors, which the
    * JDK GIF writer palettizes LOSSLESSLY (probed: write→read round trip
    * is pixel-exact, the x195 WAV discipline) — that is what lets a SQL
    * oracle replay the decoded dHashes from the closed form with no codec.
    * The channel formulas keep [[syntheticPngPair]]'s per-id coefficients
    * and `x·y` cross term — the x191 gradient-collision trap documented in
    * NOTES_r15 §8 (linear gradients collide under gradient-sign hashing)
    * stays avoided, so unrelated clips share nothing. */
  def syntheticGifClipPair(id: Long, frames: Int, variant: Boolean,
      variantFrame: Int = 2): Array[Byte] = {
    imageIoInit
    require(frames > 0, s"syntheticGifClipPair: frames must be positive, got $frames")
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream(1024)
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val eff = if (variant && f == variantFrame) f + 1000 else f
        val img = new java.awt.image.BufferedImage(
          16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            // full-range closed form FIRST, quantize after (high 3 bits):
            // quantizing the raw formula mod 8 made every id ≡ (mod 8)
            // plant identical frames (97/89/83 are all 1 mod 8) — a
            // near-clique worse than the x191 gradient trap. % 256 then
            // DIV 32 keeps the per-id pseudo-randomness in the kept bits.
            val r = (((x.toLong * y + 3L * x + 5L * y) * (1 + id % 97) + id + 7L * eff) % 256 / 32 * 32).toInt
            val g = (((2L * x * y + 11L * x + y) * (1 + id % 89) + 2L * id + 11L * eff) % 256 / 32 * 32).toInt
            val b = (((3L * x * y + x + 13L * y) * (1 + id % 83) + 3L * id + 13L * eff) % 256 / 32 * 32).toInt
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Plant a base+variant clip per id ([[syntheticGifClipPair]]): base at
    * `media_id = id`, the one-frame-replaced variant at `id +
    * variantOffset`. Map-side, the [[plantSyntheticPngPairs]] layout. */
  def plantSyntheticGifClips(ids: DataFrame, idCol: String, frames: Int = 6,
      variantFrame: Int = 2, variantOffset: Long = 1000000L): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    Par.widen(ids.select(col(idCol).cast("long")), bytesPerTask = 1).as[Long]
      .mapPartitions(_.flatMap { id =>
        Iterator(
          (id, syntheticGifClipPair(id, frames, variant = false, variantFrame)),
          (id + variantOffset, syntheticGifClipPair(id, frames, variant = true, variantFrame)))
      })
      .toDF("media_id", "payload")
  }

  /** Exact integer statistics of one decoded audio payload: channel count
    * and sample rate from the REAL container header, sample count and
    * amplitude sums from the decoded PCM stream (interleaved channels
    * aggregated together). */
  case class AudioStats(channels: Int, sampleRateHz: Int, nSamples: Long,
      sumSample: Long, sumAbs: Long, maxAbs: Long)

  /** REAL audio decode via the JDK's bundled `javax.sound.sampled` readers
    * (WAV/AIFF/AU PCM — `java.desktop`, same zero-dependency probe as
    * [[decodePixels]], r13). Supports signed 16-bit PCM either endianness;
    * anything else — junk bytes, truncated streams, exotic encodings —
    * returns None (corrupt inputs are data, not exceptions). The WAV write
    * → read round trip is bit-exact (probed), which is what lets x195
    * oracle the decoded sample stream against a closed form with no codec
    * in the SQL engine. */
  // javax.sound's AudioSystem facade re-walks its provider registry on
  // EVERY write/getAudioInputStream call through a JVM-global synchronized
  // lookup (sun.awt's JDK13Services) — measured here: fanning the WAV plant
  // out to 32 cores made x195 3.5× SLOWER than single-task, every thread
  // queueing on that lock. The SPI types are public API; load the providers
  // ONCE per JVM through the standard ServiceLoader and call them directly —
  // the identical JDK codec classes run, minus the per-row global lock.
  private lazy val audioWriters: Seq[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala.toSeq
  }
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.toSeq
  }

  // The JDK ships one audio reader that is NOT a plain sniffer:
  // SoftMidiAudioFileReader (the MIDI softsynth bridge) probes by calling
  // MidiSystem.getSequence, which takes a JVM-GLOBAL class lock
  // (JSSecurityManager) on EVERY call — including for payloads it will
  // reject. Thread-dumped here: 31 of 32 decode threads blocked on that
  // monitor; the decode stage anti-scaled 0.20 s serial → 0.73 s on 32
  // threads. A payload it could accept must carry a MIDI container magic
  // (SMF "MThd", or RIFF with the "RMID" form type), so gate MIDI-routed
  // providers behind that 12-byte sniff: real MIDI still reaches the real
  // reader; everything else skips the global lock entirely.
  private def maybeMidi(p: Array[Byte]): Boolean =
    (p.length >= 4 && p(0) == 'M' && p(1) == 'T' && p(2) == 'h' && p(3) == 'd') ||
    (p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'R' && p(9) == 'M' && p(10) == 'I' && p(11) == 'D')

  /** First provider that claims the payload — AudioSystem.getAudioInputStream's
    * own loop (try each reader, skip UnsupportedAudioFileException), minus
    * the synchronized registry re-walk and with MIDI-bridge readers gated
    * behind [[maybeMidi]] (see the lock note above). */
  private def audioInputStreamOf(
      payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    val midiCandidate = maybeMidi(payload)
    val it = audioReaders.iterator
    while (it.hasNext) {
      val rd = it.next()
      if (midiCandidate || !rd.getClass.getName.contains("Midi")) {
        try return rd.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
        catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
      }
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }

  def decodeAudio(payload: Array[Byte]): Option[AudioStats] = {
    if (payload == null) return None
    try {
      val ais = audioInputStreamOf(payload)
      val f = ais.getFormat
      if (f.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
          f.getSampleSizeInBits != 16) None
      else {
        val data = ais.readAllBytes()
        val n = data.length / 2
        var sum = 0L; var sumAbs = 0L; var maxAbs = 0L
        var i = 0
        while (i < n) {
          val s =
            if (f.isBigEndian) (data(2 * i) << 8) | (data(2 * i + 1) & 0xff)
            else (data(2 * i) & 0xff) | (data(2 * i + 1) << 8)
          val a = math.abs(s.toLong)
          sum += s; sumAbs += a
          if (a > maxAbs) maxAbs = a
          i += 1
        }
        Some(AudioStats(f.getChannels, f.getSampleRate.toInt, n, sum, sumAbs, maxAbs))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Audio-statistics stage over a media table: all-BIGINT
    * `(media_id, channels, sample_rate_hz, n_samples, sum_sample, sum_abs,
    * max_abs)`, NULLs for undecodable payloads. Map-side, one decoder call
    * per row. */
  def audioStats(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        decodeAudio(payload) match {
          case Some(s) => (id, Option(s.channels.toLong), Option(s.sampleRateHz.toLong),
            Option(s.nSamples), Option(s.sumSample), Option(s.sumAbs), Option(s.maxAbs))
          case None => (id, None: Option[Long], None: Option[Long], None: Option[Long],
            None: Option[Long], None: Option[Long], None: Option[Long])
        }
      })
      .toDF("media_id", "channels", "sample_rate_hz", "n_samples",
        "sum_sample", "sum_abs", "max_abs")
  }

  /** Deterministic planted WAV: `n` mono 16-bit PCM samples at 8 kHz with
    * the closed form `s(i) = ((31·i + 17·id) mod 65536) − 32768`, encoded
    * through the REAL JDK WAV writer — the x195 fixture (lossless PCM, so
    * [[decodeAudio]] must reproduce the formula exactly). */
  def syntheticWav(id: Long, n: Int): Array[Byte] = {
    require(n > 0, s"syntheticWav: n must be positive, got $n")
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (((31L * i + 17L * id) % 65536) - 32768).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream(n * 2 + 64)
    // direct SPI call (same JDK WaveFileWriter AudioSystem.write dispatches
    // to) — see audioWriters: the facade's per-call registry walk is a
    // JVM-global synchronized bottleneck under fanned-out encode
    audioWriters.find(_.isFileTypeSupported(
        javax.sound.sampled.AudioFileFormat.Type.WAVE, ais))
      .getOrElse(throw new IllegalArgumentException(
        "could not write WAVE: no supporting AudioFileWriter provider"))
      .write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Container format sniffed from magic bytes — the contract surface's
    * format axis. Pure byte arithmetic on public container signatures
    * (PNG/JPEG/GIF as in [[imageDims]]; RIFF/WAVE; ID3 or MPEG frame sync
    * for MP3; ISO-BMFF `ftyp` for MP4); "unknown" for everything else
    * (text stand-ins, junk, truncation below 12 bytes). */
  def sniffFormat(p: Array[Byte]): String = {
    if (p == null || p.length < 12) "unknown"
    else if ((p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') "png"
    else if ((p(0) & 0xff) == 0xff && (p(1) & 0xff) == 0xd8) "jpeg"
    else if (p(0) == 'G' && p(1) == 'I' && p(2) == 'F') "gif"
    else if (p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F' &&
      p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E') "wav"
    else if (p(0) == 'I' && p(1) == 'D' && p(2) == '3') "mp3"
    else if ((p(0) & 0xff) == 0xff && (p(1) & 0xe0) == 0xe0) "mp3"
    else if (p(4) == 'f' && p(5) == 't' && p(6) == 'y' && p(7) == 'p') "mp4"
    else "unknown"
  }

  /** MP3 stream info from PURE header arithmetic — no codec (r14 verdict:
    * durations derivable from public header math were left on the table).
    * An optional ID3v2 tag ("ID3" + version + flags + 4 SYNCSAFE size
    * bytes, each < 0x80; +10 if the footer flag is set) is skipped, then
    * CONTIGUOUS MPEG audio frames are walked from the very next byte:
    * 11-bit sync, version/layer bits, bitrate + sample-rate table indices,
    * padding — `frame_bytes = samples/8 · bitrate / rate + padding`
    * (Layer I scales by its 4-byte slot). Strict by design: the first
    * frame must start exactly where the tag ends (no forward scan — a junk
    * payload must never back into a duration), later frames must be
    * back-to-back, and only COMPLETE in-buffer frames count; the walk
    * stops at the first non-frame byte. None unless at least one full
    * frame parses.
    *
    * `durationMs = n_samples·1000 / rate(first frame)` — the constant-rate
    * assumption every header-only duration estimate makes; per-frame
    * sample counts still honor each frame's own version/layer. */
  case class Mp3Info(sampleRateHz: Int, nFrames: Int, durationMs: Long)

  def mp3HeaderInfo(p: Array[Byte]): Option[Mp3Info] = {
    if (p == null || p.length < 4) return None
    def u8(i: Int): Int = p(i) & 0xff
    var i = 0
    if (p(0) == 'I' && p(1) == 'D' && p(2) == '3') {
      if (p.length < 10) return None
      val ss = (6 to 9).map(u8)
      if (ss.exists(_ >= 0x80)) return None // malformed syncsafe size
      i = 10 + ((ss(0) << 21) | (ss(1) << 14) | (ss(2) << 7) | ss(3))
      if ((u8(5) & 0x10) != 0) i += 10 // ID3v2 footer present
    }
    // (frameBytes, samples, rateHz) of the frame at i, or None
    def frameAt(i: Int): Option[(Int, Int, Int)] = {
      if (i < 0 || i + 4 > p.length) return None
      if (u8(i) != 0xff || (u8(i + 1) & 0xe0) != 0xe0) return None
      val ver = (u8(i + 1) >> 3) & 0x3   // 0=MPEG2.5, 1=reserved, 2=MPEG2, 3=MPEG1
      val layer = (u8(i + 1) >> 1) & 0x3 // 0=reserved, 1=III, 2=II, 3=I
      if (ver == 1 || layer == 0) return None
      val bIdx = (u8(i + 2) >> 4) & 0xf
      val rIdx = (u8(i + 2) >> 2) & 0x3
      val pad = (u8(i + 2) >> 1) & 0x1
      if (bIdx == 0 || bIdx == 15 || rIdx == 3) return None // free-format/bad
      val mpeg1 = ver == 3
      val kbpsTable = (mpeg1, layer) match { // public MPEG audio bitrate tables
        case (true, 3) => Seq(32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448)
        case (true, 2) => Seq(32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384)
        case (true, 1) => Seq(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
        case (false, 3) => Seq(32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256)
        case _ => Seq(8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
      }
      val kbps = kbpsTable(bIdx - 1)
      val rateTable = ver match {
        case 3 => Seq(44100, 48000, 32000)
        case 2 => Seq(22050, 24000, 16000)
        case _ => Seq(11025, 12000, 8000)
      }
      val rate = rateTable(rIdx)
      val samples = layer match {
        case 3 => 384                        // Layer I
        case 2 => 1152                       // Layer II
        case _ => if (mpeg1) 1152 else 576   // Layer III
      }
      val frameBytes = layer match {
        case 3 => (12 * kbps * 1000 / rate + pad) * 4
        case _ => samples / 8 * kbps * 1000 / rate + pad
      }
      if (i + frameBytes > p.length) None else Some((frameBytes, samples, rate))
    }
    var nFrames = 0
    var totalSamples = 0L
    var rate0 = 0
    var cont = frameAt(i)
    while (cont.isDefined) {
      val (bytes, samples, rate) = cont.get
      if (nFrames == 0) rate0 = rate
      nFrames += 1
      totalSamples += samples
      i += bytes
      cont = frameAt(i)
    }
    if (nFrames == 0) None
    else Some(Mp3Info(rate0, nFrames, totalSamples * 1000L / rate0))
  }

  /** MP4 (ISO-BMFF) movie header from PURE box arithmetic: walk top-level
    * boxes (32-bit big-endian size + 4-char type; size 1 → 64-bit
    * largesize, size 0 → to end of buffer), descend ONE level into `moov`,
    * read `mvhd` — version 0 carries timescale/duration as 32-bit at
    * payload offsets 12/16, version 1 as 32/64-bit at 20/24 (after the
    * 64-bit times). None when any box is malformed, out of bounds, or no
    * in-bounds `mvhd` exists — corrupt bytes are data, not exceptions. */
  case class Mp4Info(timescale: Long, duration: Long, durationMs: Long)

  def mp4HeaderInfo(p: Array[Byte]): Option[Mp4Info] = {
    if (p == null || p.length < 16) return None
    def u8(i: Int): Int = p(i) & 0xff
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def typ(i: Int): String = new String(p, i, 4, "US-ASCII")
    // (payloadStart, boxEnd) of the box at i within [i, limit), or None
    def box(i: Int, limit: Int): Option[(String, Int, Int)] = {
      if (i + 8 > limit) return None
      val size = be32(i)
      val (start, end) =
        if (size == 0L) (i + 8, limit)
        else if (size == 1L) {
          if (i + 16 > limit) return None
          val ls = be64(i + 8)
          if (ls < 16 || ls > limit - i) return None
          (i + 16, i + ls.toInt)
        } else {
          if (size < 8 || size > limit - i) return None
          (i + 8, i + size.toInt)
        }
      Some((typ(i + 4), start, end))
    }
    def mvhdAt(start: Int, end: Int): Option[Mp4Info] = {
      if (start + 4 > end) return None
      val version = u8(start)
      val (ts, dur) =
        if (version == 0) {
          if (start + 20 > end) return None
          (be32(start + 12), be32(start + 16))
        } else if (version == 1) {
          if (start + 32 > end) return None
          (be32(start + 20), be64(start + 24))
        } else return None
      // dur is 8 attacker-controllable bytes in the v1 branch: past
      // Long.MaxValue/1000 the ms conversion would wrap and surface a
      // garbage (possibly negative) duration as data — malformed, so None
      if (ts <= 0 || dur < 0 || dur > Long.MaxValue / 1000) None
      else Some(Mp4Info(ts, dur, dur * 1000L / ts))
    }
    var i = 0
    var out: Option[Mp4Info] = None
    while (out.isEmpty && i < p.length) {
      box(i, p.length) match {
        case Some(("moov", start, end)) =>
          var j = start
          while (out.isEmpty && j < end) {
            box(j, end) match {
              case Some(("mvhd", s, e)) => out = mvhdAt(s, e); j = e
              case Some((_, _, e)) => j = e
              case None => j = end // malformed child — stop descending
            }
          }
          i = end
        case Some((_, _, end)) => i = end
        case None => i = p.length // malformed top-level box — stop
      }
    }
    out
  }

  /** Duration from pure header arithmetic for the compressed containers the
    * JDK ships no decoder for — the header-arithmetic slice of the codec
    * boundary. Gated on the sniffed format so junk bytes never back into a
    * duration through a lucky bit pattern. */
  def headerDurationMs(p: Array[Byte]): Option[Long] = sniffFormat(p) match {
    case "mp3" => mp3HeaderInfo(p).map(_.durationMs)
    case "mp4" => mp4HeaderInfo(p).map(_.durationMs)
    case _ => None
  }

  /** Deterministic planted MP3: a 26-byte ID3v2.3 tag followed by `frames`
    * MPEG1 Layer III frames at 48 kHz / 128 kbps (exactly 384 bytes and
    * 1152 samples each → 24 ms/frame, so `durationMs = frames·24` is
    * closed-form for the x197 oracle). Frame BODIES are deterministic junk
    * below 0xfb — the walker must navigate by header arithmetic alone. */
  def syntheticMp3(id: Long, frames: Int): Array[Byte] = {
    require(frames > 0, s"syntheticMp3: frames must be positive, got $frames")
    val tag = Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 0, 16) ++
      Array.tabulate(16)(i => ((id + i) % 127).toByte)
    val body = (0 until frames).flatMap { f =>
      val frame = new Array[Byte](384)
      frame(0) = 0xff.toByte; frame(1) = 0xfb.toByte // sync + MPEG1 Layer III
      frame(2) = 0x94.toByte                         // 128 kbps, 48 kHz, no pad
      frame(3) = 0xc4.toByte
      var j = 4
      while (j < 384) { frame(j) = ((7 * id + 31 * f + j) % 251).toByte; j += 1 }
      frame
    }
    tag ++ body
  }

  /** Deterministic planted MP4: `ftyp` + a `moov` holding a full 108-byte
    * version-0 `mvhd` with timescale 1000 and duration `durationMs` — so
    * the header-derived duration is the planted value exactly. */
  def syntheticMp4(id: Long, durationMs: Long): Array[Byte] = {
    require(durationMs >= 0, s"syntheticMp4: negative duration $durationMs")
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val ftyp = be32(16) ++ "ftypisom".getBytes("US-ASCII") ++ be32(0x200)
    val mvhd = be32(108) ++ "mvhd".getBytes("US-ASCII") ++
      be32(0) ++                      // version 0 + flags
      be32(id % 100000) ++ be32(id % 100000) ++ // creation/modification time
      be32(1000) ++ be32(durationMs) ++ // timescale, duration
      new Array[Byte](80)             // rate/volume/matrix/predefined zeros
    val moov = be32(8 + mvhd.length) ++ "moov".getBytes("US-ASCII") ++ mvhd
    ftyp ++ moov
  }

  /** The decode mode [[codecSupport]] reports for one payload —
    * determined by attempting the real decoders, not by trusting the
    * format label:
    *  - `real`        — a bundled JDK codec fully decodes it
    *                    ([[decodePixels]] or [[decodeAudio]]);
    *  - `header_only` — the container header parses ([[imageDims]], or the
    *                    [[headerDurationMs]] arithmetic for mp3/mp4) but no
    *                    bundled codec decodes the body (truncated/corrupt
    *                    image streams; compressed audio/video with valid
    *                    headers);
    *  - `stub`        — nothing even header-parses; [[decode]] falls back
    *                    to the documented deterministic stub (text
    *                    stand-ins, junk, corrupt compressed media);
    *  - `null`        — NULL payload (an upstream stage's undecodable
    *                    marker).
    * The audio/header results come in pre-computed because
    * [[codecSupport]] needs them anyway (for duration_ms); this is the
    * single copy of the mode ladder. */
  private def decodeModeOf(p: Array[Byte], audio: Option[AudioStats],
      hdrDur: Option[Long]): String =
    if (p == null) "null"
    else if (decodePixels(p).isDefined || audio.isDefined) "real"
    else if (imageDims(p).isDefined || hdrDur.isDefined) "header_only"
    else "stub"

  /** Codec-support CONTRACT surface (r13 verdict ask #5): per media row,
    * the sniffed container format, the decode mode the pipeline will take,
    * and the duration when one is derivable — from the REAL decode for
    * lossless audio, from pure header arithmetic ([[headerDurationMs]])
    * for the compressed containers (r14 verdict ask #4); NULL where the
    * concept doesn't apply (images) or nothing parses. So "compressed
    * audio/video route to the stub" is a queryable fact a pipeline user
    * can join against, not a doc comment. Map-side, one decode attempt
    * per row. */
  def codecSupport(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("payload")).as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, p) =>
        val fmt = sniffFormat(p)
        val (mode, dur) =
          if (p == null) ("null", None: Option[Long])
          else {
            val audio = decodeAudio(p)
            val hdrDur = headerDurationMs(p)
            (decodeModeOf(p, audio, hdrDur), audio.filter(_.sampleRateHz > 0)
              .map(s => s.nSamples / s.channels * 1000L / s.sampleRateHz)
              .orElse(hdrDur))
          }
        (id, fmt, mode, dur)
      })
      .toDF("media_id", "format", "decode_mode", "duration_ms")
  }

  /** Aggregated contract table: `(format, decode_mode, n_media, n_duration,
    * sum_duration_ms)` — the boundary of real codec support over a corpus
    * at a glance, durations included so the header-arithmetic slice is
    * part of the oracled contract. */
  def codecSupportReport(media: DataFrame): DataFrame =
    codecSupport(media)
      .groupBy(col("format"), col("decode_mode"))
      .agg(count(lit(1)).as("n_media"),
        count(col("duration_ms")).as("n_duration"),
        sum(col("duration_ms")).as("sum_duration_ms"))
      .orderBy(col("format"), col("decode_mode"))

  /** Resize stage: pure metadata+feature transform on decoded media. */
  def resize(decoded: Dataset[DecodedMedia], maxDim: Int): Dataset[DecodedMedia] = {
    val spark = decoded.sparkSession
    import spark.implicits._
    decoded.map { d =>
      val scale = math.min(1.0, maxDim.toDouble / math.max(d.width, d.height))
      d.copy(
        width = math.max(1, (d.width * scale).toInt),
        height = math.max(1, (d.height * scale).toInt))
    }
  }

  /** Frame-sample stage: every `stride`-th frame index of each clip
    * (explode-style generator → one row per sampled frame). */
  def sampleFrames(decoded: Dataset[DecodedMedia], stride: Int): DataFrame = {
    require(stride > 0)
    decoded.toDF()
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))
  }
}
