package graft.operators

import java.awt.image.BufferedImage
import javax.imageio.ImageIO
import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.control.NonFatal

/** Multimodal-column plumbing (SURVEY.md §2.10): media as opaque `BINARY`
  * payloads plus typed metadata, with per-row decode/feature-extract.
  *
  * Since r14 the codecs are REAL, pure-JDK: [[encodePng]]/[[decodeImage]]
  * (javax.imageio PNG), [[resizeImage]] (decode → integer-exact
  * nearest-neighbor → re-encode), [[encodeGif]]/[[decodeFrames]]
  * (multi-frame animated GIF), [[encodeWav]]/[[decodeWav]] (PCM WAV via
  * javax.sound.sampled) — each hash-gated against a closed-form
  * generation rule (the containers are lossless, so a wrong decode
  * diverges). The original fake-byte path ([[attachPayload]],
  * [[decodeStub]], [[resizeStub]], [[frameSample]]) is kept for the
  * generic binary-plumbing faces, where the payload semantics are
  * deliberately engine-portable arithmetic rather than a codec.
  *
  * Shared shape across both paths:
  *  - schema: `media STRUCT<payload BINARY, meta STRUCT<mime, width, height>>`
  *  - every codec kernel is one [[perRow]] map: each row is decoded on its
  *    own in one narrow stage, the id column keeps its name and type, and
  *    the same kernel runs in batch and inside a streaming plan;
  *  - feature output lands back in a columnar-friendly flat schema.
  *
  * At 100 TB: payloads dominate row size → keep them out of shuffles
  * (extract features in the same stage as the scan, project payload away
  * before any wide operation). This operator does exactly that: no shuffle
  * between attach → decode → features.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType),
      StructField("width", IntegerType),
      StructField("height", IntegerType))))))

  /** Attach a synthetic media payload derived from the text column —
    * deterministic fake bytes standing in for real image/audio blobs.
    * Fake dimensions are exact integer arithmetic over the payload byte
    * length (not an engine-specific hash), so the whole attach→decode
    * pipeline is re-derivable — and oracle-checkable — from any SQL
    * engine. */
  def attachPayload(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn("media", struct(
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit("image/fake").as("mime"),
        (pmod(octet_length(col(textCol)).cast("long"), lit(1920L)) + 1)
          .cast("int").as("width"),
        (pmod(octet_length(col(textCol)).cast("long") * lit(7919L), lit(1080L)) + 1)
          .cast("int").as("height"))
        .as("meta")))

  /** Magic-byte MIME sniff over an opaque binary payload column — the
    * pre-decode DISPATCH step of a multimodal ingest: route each blob
    * to the right decoder (or quarantine) from the bytes themselves,
    * never trusting upstream metadata (crawls lie about Content-Type
    * constantly). Pure built-in expressions — binary `substring`
    * prefix compares folded into one codegen'd CASE, no UDF, no
    * object boundary — so the sniff rides the same scan stage as the
    * payload read and the blob never moves for it.
    *
    * Signatures covered: PNG, JPEG (any JFIF/EXIF variant — the 3-byte
    * SOI+marker prefix), GIF87a/89a, RIFF containers split at offset 8
    * (WAVE → audio, 'AVI ' → video), PDF, gzip, zip. Unknown bytes →
    * `application/octet-stream`; null payload → null (its own stratum,
    * the corrupt-row contract). Returned names match the attach*
    * writers' meta.mime strings, so `sniffMime(payload) === meta.mime`
    * is the metadata-integrity audit (`q_mime_sniff`). */
  def sniffMime(payload: Column): Column = {
    def at(off1: Int, bytes: Array[Byte]): Column =
      substring(payload, off1, bytes.length) === lit(bytes)
    def ascii(off1: Int, s: String): Column =
      at(off1, s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    when(payload.isNull, lit(null).cast("string"))
      .when(at(1, Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
        .map(_.toByte)), "image/png")
      .when(at(1, Array(0xFF, 0xD8, 0xFF).map(_.toByte)), "image/jpeg")
      .when(ascii(1, "GIF87a") || ascii(1, "GIF89a"), "image/gif")
      .when(ascii(1, "RIFF") && ascii(9, "WAVE"), "audio/wav")
      .when(ascii(1, "RIFF") && ascii(9, "AVI "), "video/x-msvideo")
      .when(ascii(1, "%PDF-"), "application/pdf")
      .when(at(1, Array(0x1F, 0x8B).map(_.toByte)), "application/gzip")
      .when(at(1, Array('P', 'K', 0x03, 0x04).map(_.toByte)),
        "application/zip")
      .otherwise("application/octet-stream")
  }

  /** Deterministic fake features for the generic-binary path: byte-sum
    * "luma", length, crc. The REAL codec twins live above
    * ([[decodeImage]]/[[decodeFrames]]/[[decodeWav]]); this stays for
    * payloads with no container format (the engine-portable arithmetic
    * the q_payload_slice oracle re-derives). */
  def decodeStub(payload: Array[Byte]): (Double, Int, Long) = {
    var sum = 0L
    var i = 0
    while (i < payload.length) { sum += (payload(i) & 0xFF); i += 1 }
    val crc = new java.util.zip.CRC32
    crc.update(payload)
    (if (payload.isEmpty) 0.0 else sum.toDouble / payload.length,
      payload.length, crc.getValue)
  }

  /** Resize: metadata-accurate, payload-stubbed. The meta struct carries the
    * new dimensions (what downstream schema consumers see); the payload
    * transform is a deterministic fake (length scaled by the area ratio) —
    * a real deployment swaps the lambda for the codec call. Narrow op, no
    * shuffle; payload never leaves the stage. */
  def resizeStub(df: DataFrame, newWidth: Int, newHeight: Int): DataFrame =
    df.withColumn("media", struct(
      // arithmetic in BIGINT: len × w × h overflows 32-bit int for any
      // payload ≥ 32 KB (wraps negative → 1-byte "resize")
      expr(s"substring(media.payload, 1, " +
        s"greatest(1, cast(cast(length(media.payload) AS BIGINT) * ${newWidth}L * ${newHeight}L / " +
        s"greatest(cast(media.meta.width AS BIGINT) * media.meta.height, 1L) as int)))").as("payload"),
      struct(
        col("media.meta.mime").as("mime"),
        lit(newWidth).as("width"),
        lit(newHeight).as("height")).as("meta")))

  /** Frame sampling for video-shaped payloads: emit `n` evenly-spaced frames
    * per document as (doc_id, frame_idx, frame) rows. Frame extraction is
    * stubbed as payload slices; the row-explosion shape (×n growth of id
    * rows, payloads sliced not duplicated wholesale) is the real contract.
    */
  def frameSample(df: DataFrame, idCol: String, n: Int): DataFrame = {
    require(n > 0)
    // n is a plan-time constant → statically unrolled frame array
    val frames = array((0 until n).map(i =>
      // stub "frame decode": the i-th of n equal payload slices
      // (offsets in BIGINT — len × i overflows int for GB-scale payloads)
      expr(s"substring(media.payload, " +
        s"1 + cast(cast(length(media.payload) AS BIGINT) * ${i}L / $n as int), " +
        s"greatest(1, cast(length(media.payload) / $n as int)))")): _*)
    df.select(col(idCol), col("media"),
      posexplode(frames).as(Seq("frame_idx", "frame")))
      .drop("media")
  }

  /** The one media kernel: map each row of `in` (id column first) to zero
    * or more rows of `(idCol, fields…)`. The id column keeps its name and
    * its type from `in`. Each row is decoded on its own; payloads never
    * shuffle. */
  private[operators] def perRow(in: DataFrame, idCol: String,
      fields: Seq[StructField])(f: Row => IterableOnce[Row]): DataFrame = {
    implicit val enc: Encoder[Row] = RowEncoder.encoderFor(
      StructType(StructField(idCol, in.schema(idCol).dataType) +: fields))
    in.flatMap(f).toDF()
  }

  /** The payload of a kernel input row `(id, media)`; null for null media
    * or a null payload. Positional (media.payload = 0): rows from an
    * encoder round trip may be schema-less GenericRows. */
  private[operators] def payloadOf(r: Row): Array[Byte] =
    if (r.isNullAt(1)) null else r.getStruct(1).getAs[Array[Byte]](0)

  /** The one attach kernel: per id (cast to BIGINT), `encode(id)` gives the
    * payload and its meta width and height (null for a modality with no
    * raster), stamped with `mime`. */
  private[operators] def attach(ids: DataFrame, idCol: String, mime: String)(
      encode: Long => (Array[Byte], Integer, Integer)): DataFrame =
    perRow(ids.select(col(idCol).cast("long").as(idCol)), idCol,
        Seq(StructField("media", mediaSchema))) { r =>
      val id = r.getLong(0)
      val (payload, w, h) = encode(id)
      Some(Row(id, Row(payload, Row(mime, w, h))))
    }

  /** An RGB raster whose pixel (x, y) is `rgb(x, y)`, packed 0xRRGGBB. */
  private[operators] def paint(width: Int, height: Int)(
      rgb: (Int, Int) => Int): BufferedImage = {
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    img
  }

  /** Decode `payload` with whichever installed `javax.imageio` reader
    * accepts it (PNG/BMP/GIF/JPEG). None for null or undecodable bytes —
    * NonFatal, because JDK image readers throw unchecked on fuzzed
    * payloads and the corrupt-row contract is None, never a failure. */
  private def readImage(payload: Array[Byte]): Option[BufferedImage] =
    if (payload == null) None
    else try Option(ImageIO.read(new java.io.ByteArrayInputStream(payload)))
    catch { case NonFatal(_) => None }

  /** Channel-sum pixel checksum Σ(r+g+b) of a decoded raster. */
  private[operators] def rgbSum(img: BufferedImage): Long = {
    var sum = 0L
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val p = img.getRGB(x, y)
        sum += ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
        x += 1
      }
      y += 1
    }
    sum
  }

  /** Integer-exact nearest-neighbour resize, `out(x, y) = in(x·w0 div W,
    * y·h0 div H)` — an explicit loop, so the mapping is engine-portable
    * rather than delegated to an interpolating Graphics2D path. */
  private[operators] def resizeNN(src: BufferedImage, width: Int,
      height: Int): BufferedImage = {
    val (w0, h0) = (src.getWidth, src.getHeight)
    paint(width, height)((x, y) => src.getRGB(x * w0 / width, y * h0 / height))
  }

  /** Maximum per-pixel per-channel |decoded − want(x, y)| over a raster
    * (`want` packed 0xRRGGBB): the lossy-codec contract measure. */
  private[operators] def maxDeviation(img: BufferedImage,
      want: (Int, Int) => Int): Int = {
    var dev = 0
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val got = img.getRGB(x, y)
        val ref = want(x, y)
        var shift = 0
        while (shift < 24) {
          dev = math.max(dev,
            math.abs(((got >> shift) & 0xFF) - ((ref >> shift) & 0xFF)))
          shift += 8
        }
        x += 1
      }
      y += 1
    }
    dev
  }

  /** REAL image encode — pure-JDK `javax.imageio` PNG (offline-safe, no
    * external codec). Pixel (x, y) is the deterministic generation rule
    *   r = (seed+x) mod 256, g = (seed+y) mod 256, b = (seed+x+y) mod 256
    * so the whole attach→decode round trip is re-derivable — and
    * oracle-checkable — by ANY engine: PNG is lossless, hence the
    * DECODED pixel sum must equal the closed-form sum over the rule.
    * The generation side is test harness; [[decodeImage]] is the real
    * operator a deployment keeps. */
  def encodePng(width: Int, height: Int, seed: Int): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims: ${width}x$height")
    encodeRaster(paint(width, height) { (x, y) =>
      val r = (seed + x) % 256
      val g = (seed + y) % 256
      val b = (seed + x + y) % 256
      (r << 16) | (g << 8) | b
    }, "png")
  }

  /** REAL image decode via `javax.imageio` (PNG/BMP/GIF — whatever the
    * JDK readers handle): width, height, and the channel-sum pixel
    * checksum Σ(r+g+b) of the decoded raster. None for bytes no
    * installed reader accepts (the null-tolerant contract — a corrupt
    * payload yields null features, never a task failure). */
  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Long)] =
    readImage(payload).map(img => (img.getWidth, img.getHeight, rgbSum(img)))

  /** Attach a REAL PNG payload per row (vs [[attachPayload]]'s fake
    * bytes): dims and seed are pure integer functions of the id —
    *   w = id mod 16 + 4, h = (id·7) mod 16 + 4, seed = id mod 256
    * — so an oracle can recompute the expected decode output without
    * decoding. */
  def attachPng(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    attach(ids, idCol, "image/png") { id =>
      val w = (id % 16 + 4).toInt
      val h = (id * 7 % 16 + 4).toInt
      (encodePng(w, h, (id % 256).toInt), w, h)
    }

  /** REAL nearest-neighbor resize over a `media` column: decode the
    * payload (`javax.imageio`), sample with the integer-exact
    * nearest-neighbor rule ([[resizeNN]]) and re-encode as `format` (PNG
    * default — lossless, `q_media_resize_real`'s bit-exact gate; "jpeg"
    * at `quality` for the lossy loop `q_media_jpeg_resize` gates as a
    * deviation contract). The meta struct carries the new dimensions; a
    * payload that fails to decode passes through with null media (the
    * corrupt-row contract). Composed with [[decodeFeatures]] this closes
    * a real decode→transform→decode loop whose output an oracle can
    * recompute from the source pixel rule + the same index mapping (PNG
    * lossless at both ends). */
  def resizeImage(df: DataFrame, newWidth: Int, newHeight: Int,
      idCol: String = "doc_id",
      format: String = "png", quality: Float = 0.95f): DataFrame = {
    require(newWidth > 0 && newHeight > 0, s"bad dims: ${newWidth}x$newHeight")
    require(format == "png" || format == "jpeg", s"unsupported format: $format")
    perRow(df.select(col(idCol), col("media")), idCol,
        Seq(StructField("media", mediaSchema))) { r =>
      Some(Row(r.get(0), readImage(payloadOf(r)).map { src =>
        Row(encodeRaster(resizeNN(src, newWidth, newHeight), format, quality),
          Row(s"image/$format", newWidth, newHeight))
      }.orNull))
    }
  }

  /** Smooth gradient pixel rule shared by [[encodeJpeg]] and its
    * deviation gate: r = 64 + 2x, g = 64 + 2y, b = 32 + seed mod 160 —
    * deliberately WRAP-FREE and GENTLE (slope 2/pixel, mid-range values),
    * unlike the PNG family's mod-256 sawtooth: a lossy DCT codec
    * reproduces a low-slope gradient within a small bounded error,
    * whereas steep ramps and 255→0 edges ring. Packed as 0xRRGGBB.
    * (`w`/`h` ride the signature for rule generality — [[decodeDeviation]]
    * takes any `(id, w, h, x, y) => rgb` — but this rule ignores them.) */
  def gradientRgb(seed: Int, w: Int, h: Int, x: Int, y: Int): Int = {
    val r = 64 + 2 * x
    val g = 64 + 2 * y
    val b = 32 + seed % 160
    (r << 16) | (g << 8) | b
  }

  /** REAL lossy image encode — pure-JDK `javax.imageio` JPEG at an
    * explicit compression quality, over the [[gradientRgb]] rule. Unlike
    * the PNG/GIF/WAV family the container is LOSSY, so the decode gate is
    * a CONTRACT (dims exact + per-pixel deviation ≤ bound, the
    * q_approx_distinct pattern), not a bit-exact hash. */
  def encodeJpeg(width: Int, height: Int, seed: Int,
      quality: Float = 0.95f): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims: ${width}x$height")
    encodeRaster(paint(width, height)(gradientRgb(seed, width, height, _, _)),
      "jpeg", quality)
  }

  /** Encode a raster as PNG (lossless, quality ignored) or JPEG at an
    * explicit compression quality — the one encode tail of the PNG and
    * JPEG writers, [[resizeImage]] and the Motion-JPEG frames of
    * [[Video]]. */
  private[operators] def encodeRaster(img: BufferedImage,
      format: String, quality: Float = 0.95f): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    if (format == "png") {
      ImageIO.write(img, "png", bos)
    } else {
      val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
      val ios = ImageIO.createImageOutputStream(bos)
      try {
        writer.setOutput(ios)
        val p = writer.getDefaultWriteParam
        p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        p.setCompressionQuality(quality)
        writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
      } finally { writer.dispose(); ios.close() }
    }
    bos.toByteArray
  }

  /** Attach a REAL JPEG payload per row — same id→geometry rule as
    * [[attachPng]] (w = id mod 16 + 4, h = (id·7) mod 16 + 4,
    * seed = id mod 256) so an oracle recomputes the expected dims without
    * decoding. */
  def attachJpeg(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    attach(ids, idCol, "image/jpeg") { id =>
      val w = (id % 16 + 4).toInt
      val h = (id * 7 % 16 + 4).toInt
      (encodeJpeg(w, h, (id % 256).toInt), w, h)
    }

  /** Lossy-decode deviation gate: decode each `media` payload with the
    * REAL `javax.imageio` reader and measure the maximum per-pixel
    * channel deviation |decoded − rule(id, w, h, x, y)| against a
    * caller-supplied closed-form reference rule (packed 0xRRGGBB, e.g.
    * [[gradientRgb]] composed with an id→seed map). This is the
    * verification operator for any LOSSY container, where the
    * px_sum-equality gate of [[decodeFeatures]] cannot hold bit-exact:
    * dims stay exact, the raster is certified within a bound. Output:
    * `(idCol BIGINT, width, height, max_dev)`, all null for a payload no
    * installed reader accepts (the corrupt-row contract — never a task
    * failure). */
  def decodeDeviation(df: DataFrame,
      rule: (Long, Int, Int, Int, Int) => Int,
      idCol: String = "doc_id"): DataFrame =
    perRow(df.select(col(idCol).cast("long").as(idCol), col("media")), idCol,
        Seq(StructField("width", IntegerType),
          StructField("height", IntegerType),
          StructField("max_dev", IntegerType))) { r =>
      val id = r.getLong(0)
      Some(readImage(payloadOf(r)) match {
        case Some(img) =>
          val (w, h) = (img.getWidth, img.getHeight)
          Row(id, w, h, maxDeviation(img, rule(id, w, h, _, _)))
        case None => Row(id, null, null, null)
      })
    }

  /** REAL multi-frame encode — an animated-GIF payload via the JDK's
    * GIF `ImageWriter` (writeToSequence; offline-safe, no external
    * codec). Frames are PALETTE-EXACT: each is a TYPE_BYTE_INDEXED
    * image over an explicit 8-gray IndexColorModel (c = level·32,
    * level 0..7), so the GIF round trip is lossless by construction —
    * the writer stores the palette as-is, no quantization. Pixel rule:
    * `level(x, y, f) = (seed + x + 2y + 3f) mod 8` — closed-form, so a
    * decoder's per-frame checksum is re-derivable by any engine. */
  def encodeGif(width: Int, height: Int, frames: Int, seed: Int): Array[Byte] = {
    require(width > 0 && height > 0 && frames > 0,
      s"bad dims: ${width}x$height x$frames")
    val levels = (0 until 8).map(l => (l * 32).toByte).toArray
    val icm = new java.awt.image.IndexColorModel(
      3, 8, levels, levels, levels)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < frames) {
      val img = new java.awt.image.BufferedImage(width, height,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      val raster = img.getRaster
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          raster.setSample(x, y, 0, (seed + x + 2 * y + 3 * f) % 8)
          x += 1
        }
        y += 1
      }
      // interlaceFlag OFF, explicitly: the JDK writer's DEFAULT image
      // metadata sets it TRUE, and its interlaced write path scrambles
      // and drops scanlines at small heights (observed: a 4-row frame
      // decoded as rows [0, 3, 1, zeros]) — sequential scan order is
      // both correct and what the closed-form oracle assumes
      val md = writer.getDefaultImageMetadata(
        new javax.imageio.ImageTypeSpecifier(img), null)
      val fmt = "javax_imageio_gif_image_1.0"
      val root = md.getAsTree(fmt)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val desc = root.getElementsByTagName("ImageDescriptor").item(0)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      desc.setAttribute("interlaceFlag", "FALSE")
      md.setFromTree(fmt, root)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, md), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** REAL frame sampling over a multi-frame payload: `javax.imageio`
    * opens the container, reads EVERY frame (`getNumImages`), and emits
    * one row per frame with the decoded gray-level pixel sum
    * Σ level(x, y) (the raster's 3-bit index — equal to pixel_gray/32
    * for the [[encodeGif]] palette). The honest successor to the
    * [[frameSample]] slice stub: the frames come out of a real decoder,
    * and a corrupt payload yields ZERO rows, never a task failure.
    * Output: (id, frame_idx, width, height, lvl_sum). */
  def decodeFrames(df: DataFrame, idCol: String = "doc_id"): DataFrame =
    perRow(df.select(col(idCol), col("media")), idCol, Seq(
        StructField("frame_idx", IntegerType),
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("lvl_sum", LongType))) { r =>
      val payload = payloadOf(r)
      // stream + reader ALWAYS released (finally): the default
      // ImageInputStream is file-cache backed — one leaked fd + temp file
      // per row would exhaust the executor at scale. NonFatal, not just
      // IOException: the JDK GIF reader throws unchecked
      // (AIOOBE/NegativeArraySize) on fuzzed payloads, and the corrupt-row
      // contract is zero rows, never a task failure.
      var iis: javax.imageio.stream.ImageInputStream = null
      var reader: javax.imageio.ImageReader = null
      val frames = if (payload == null) Seq.empty else try {
        iis = ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(payload))
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) Seq.empty
        else {
          reader = readers.next()
          reader.setInput(iis)
          (0 until reader.getNumImages(true)).map { i =>
            val img = reader.read(i)
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                // gray level from the decoded ARGB (channel/32): reads
                // the actual raster, not the palette index bytes, so a
                // decoder bug cannot echo through
                sum += ((img.getRGB(x, y) >> 16) & 0xFF) / 32
                x += 1
              }
              y += 1
            }
            Row(r.get(0), i, img.getWidth, img.getHeight, sum)
          }
        }
      } catch { case NonFatal(_) => Seq.empty }
      finally {
        if (reader != null) try reader.dispose() catch { case NonFatal(_) => () }
        if (iis != null) try iis.close() catch { case NonFatal(_) => () }
      }
      frames
    }

  /** Attach a REAL multi-frame GIF payload per row (the [[attachPng]]
    * convention): `w = id mod 8 + 4`, `h = id·3 mod 8 + 4`,
    * `frames = id mod 3 + 2`, `seed = id mod 8` — all pure integer
    * functions of the id, so the per-frame decode output is
    * oracle-derivable without decoding. */
  def attachGif(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    attach(ids, idCol, "image/gif") { id =>
      val w = (id % 8 + 4).toInt
      val h = (id * 3 % 8 + 4).toInt
      (encodeGif(w, h, (id % 3 + 2).toInt, (id % 8).toInt), w, h)
    }

  /** REAL audio encode — a PCM WAV payload via `javax.sound.sampled`
    * (pure JDK, offline-safe): 16-bit signed little-endian mono at
    * 8 kHz, samples from the closed-form rule
    * `s_i = ((seed + 7i) mod 65536) − 32768`. PCM WAV is lossless, so
    * the decoded sample stream must reproduce the rule exactly — the
    * audio twin of [[encodePng]]. */
  def encodeWav(nSamples: Int, seed: Int): Array[Byte] = {
    require(nSamples > 0, s"bad sample count: $nSamples")
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      val s = ((seed + 7 * i) % 65536) - 32768
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode via `javax.sound.sampled`: container format
    * (sample rate, channels, bits) read from the WAV header, plus the
    * decoded 16-bit sample count and sum — all from the actual PCM
    * stream, never echoed metadata. None for undecodable bytes. */
  def decodeWav(payload: Array[Byte]): Option[(Int, Int, Int, Long, Long)] = {
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      val bytes = ais.readAllBytes()
      ais.close()
      if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian) None
      else {
        val n = bytes.length / 2
        var sum = 0L
        var i = 0
        while (i < n) {
          sum += ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort.toLong
          i += 1
        }
        Some((fmt.getSampleRate.toInt, fmt.getChannels,
          fmt.getSampleSizeInBits, n.toLong, sum))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Attach a REAL WAV payload per row: `n = id mod 64 + 16` samples,
    * `seed = id mod 1000` — pure integer functions of the id, so the
    * decode output is oracle-derivable without decoding (the
    * [[attachPng]] convention, audio modality). Meta width and height are
    * null: audio has no raster. */
  def attachWav(ids: DataFrame, idCol: String = "doc_id"): DataFrame =
    attach(ids, idCol, "audio/wav") { id =>
      (encodeWav((id % 64 + 16).toInt, (id % 1000).toInt), null, null)
    }

  /** REAL audio feature extraction over a `media` column:
    * (id, sample_rate, channels, bits, n_samples, sample_sum) from the
    * decoded PCM stream; undecodable/null payloads yield null
    * features. */
  def decodeAudioFeatures(df: DataFrame, idCol: String = "doc_id"): DataFrame =
    perRow(df.select(col(idCol), col("media")), idCol, Seq(
        StructField("sample_rate", IntegerType),
        StructField("channels", IntegerType),
        StructField("bits", IntegerType),
        StructField("n_samples", LongType),
        StructField("sample_sum", LongType))) { r =>
      Some(Option(payloadOf(r)).flatMap(decodeWav) match {
        case Some((sr, ch, bits, n, sum)) => Row(r.get(0), sr, ch, bits, n, sum)
        case None => Row(r.get(0), null, null, null, null, null)
      })
    }

  /** REAL decode over a `media` column: `javax.imageio` reads each
    * payload and emits (id, mime, width, height, px_sum) — width/
    * height/checksum come from the DECODED raster, never from the meta
    * struct, so a wrong or skipped decode cannot echo its way through.
    * Undecodable or null payloads yield null features (mime kept). */
  def decodeFeatures(df: DataFrame, idCol: String = "doc_id"): DataFrame =
    perRow(df.select(col(idCol), col("media")), idCol, Seq(
        StructField("mime", StringType),
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("px_sum", LongType))) { r =>
      // positional access (meta=1, meta.mime=0), as in [[payloadOf]]
      val mime =
        if (r.isNullAt(1) || r.getStruct(1).isNullAt(1)) null
        else r.getStruct(1).getStruct(1).getString(0)
      Some(decodeImage(payloadOf(r)) match {
        case Some((w, h, sum)) => Row(r.get(0), mime, w, h, sum)
        case None => Row(r.get(0), mime, null, null, null)
      })
    }

  /** Stub decode/feature-extract over the fake payloads of
    * [[attachPayload]] (or any `media` column). Output: doc_id, mime,
    * width, height, n_bytes, crc32, avg_luma; any payload bytes give
    * features ([[decodeStub]]), null media gives all-null features and a
    * null payload keeps only the meta columns. */
  def extractFeatures(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val withMedia = if (docs.columns.contains("media")) docs else attachPayload(docs)
    perRow(withMedia.select(col(idCol), col("media")), idCol, Seq(
        StructField("mime", StringType),
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("n_bytes", IntegerType),
        StructField("crc32", LongType),
        StructField("avg_luma", DoubleType))) { r =>
      val id = r.get(0)
      // null-tolerant like the rest of the engine: a null media/payload
      // row yields null features, it does not fail the task
      Some(if (r.isNullAt(1)) Row(id, null, null, null, null, null, null)
      else {
        val media = r.getStruct(1)
        val payload = media.getAs[Array[Byte]]("payload")
        val metaIdx = media.fieldIndex("meta")
        val meta = if (media.isNullAt(metaIdx)) null else media.getStruct(metaIdx)
        def metaField(i: Int): Any =
          if (meta == null || meta.isNullAt(i)) null else meta.get(i)
        if (payload == null)
          Row(id, metaField(0), metaField(1), metaField(2), null, null, null)
        else {
          val (luma, n, crc) = decodeStub(payload)
          Row(id, metaField(0), metaField(1), metaField(2), n, crc, luma)
        }
      })
    }
  }
}
