package graft.operators

import graft.operators.Multimodal.{attach, encodeRaster, maxDeviation,
  paint, payloadOf, perRow, resizeNN, rgbSum}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** REAL video containers, pure JDK — the last modality in the media
  * family (images `Multimodal.attachPng`/`attachJpeg`, animation
  * `attachGif`, audio `attachWav`; reference has no media surface at
  * all, this is north-star §2.10 work).
  *
  * The container is AVI (RIFF) built and parsed byte-by-byte from the
  * public format layout — `RIFF('AVI ' LIST('hdrl' avih LIST('strl'
  * strh strf)) LIST('movi' 00db/00dc…))` — with two codecs:
  *
  *  - `rgb24`: uncompressed DIB frames (`00db`, BI_RGB, bottom-up BGR
  *    rows padded to 4 bytes) — LOSSLESS, so decoded per-frame pixel
  *    sums are bit-exact re-derivable from the closed-form rule
  *    (the `q_media_frames_real` gate shape);
  *  - `mjpeg`: Motion-JPEG (`00dc`, one `javax.imageio` JPEG per
  *    frame) — lossy, gated as a per-frame deviation CONTRACT
  *    (the `q_media_jpeg` gate shape).
  *
  * The demuxer ([[parseAvi]]) is the operator a deployment keeps: it
  * walks the chunk tree, reads the real header words (dims, frame
  * count, micro-seconds-per-frame, codec fourcc), and hands each movi
  * payload to the codec selected by the CONTAINER's `biCompression` —
  * a fake parse that echoes attach-side metadata cannot pass, because
  * the faces derive every output from the parsed bytes.
  *
  * Scale shape: every kernel is one `Multimodal.perRow` map, each
  * container demuxed and decoded on its own; payloads never shuffle —
  * only (id, frame_idx, sums) rows leave the scan stage. Temporal
  * sampling ([[decodeFrames]] `stride`) drops frames at the decoder,
  * BEFORE any exchange, so a 100 TB corpus sampled 1-in-30 ships
  * 1/30th of the rows downstream.
  */
object Video {

  val CodecRgb = "rgb24"
  val CodecMjpeg = "mjpeg"

  /** 'MJPG' as a little-endian fourcc word (public AVI registry). */
  private val FccMjpg = 0x47504A4DL // 'M''J''P''G' LE

  /** Raster-allocation ceiling (64 Mpx ≈ 8K video): dims claimed above
    * this — by a corrupt strf or by a hostile embedded JPEG — are
    * rejected as corrupt rows before anything allocates. */
  private val MaxPixels = 64L * 1024 * 1024

  // ---------------------------------------------------------------
  // byte-level writers (little-endian, per the RIFF spec)
  // ---------------------------------------------------------------

  private final class LeWriter {
    val bos = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 24) & 0xFF).toInt)
    }
    def u16(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
    }
    def fourcc(s: String): Unit = {
      require(s.length == 4, s"bad fourcc: $s")
      var i = 0; while (i < 4) { bos.write(s.charAt(i).toInt & 0xFF); i += 1 }
    }
    def bytes(b: Array[Byte]): Unit = bos.write(b, 0, b.length)
    def result(): Array[Byte] = bos.toByteArray
  }

  /** One RIFF chunk: fourcc + u32 size + data (+ 1 pad byte if odd).
    * Package-visible so fixtures can compose extra (audio) streams. */
  private[operators] def chunk(id: String, data: Array[Byte]): Array[Byte] = {
    val w = new LeWriter
    w.fourcc(id); w.u32(data.length.toLong); w.bytes(data)
    if ((data.length & 1) == 1) w.bos.write(0)
    w.result()
  }

  private[operators] def list(listType: String, body: Array[Byte]): Array[Byte] = {
    val w = new LeWriter
    w.fourcc("LIST"); w.u32(body.length + 4L); w.fourcc(listType)
    w.bytes(body)
    if ((body.length & 1) == 1) w.bos.write(0)
    w.result()
  }

  // ---------------------------------------------------------------
  // encode (test-harness side; parseAvi/decode* are the operators)
  // ---------------------------------------------------------------

  /** Closed-form lossless frame rule (the PNG sawtooth with a frame
    * shift, so frame ORDER is gated): r=(s+x+3f)%256, g=(s+y+3f)%256,
    * b=(s+x+y)%256, packed 0xRRGGBB. */
  def rgbRule(seed: Int, x: Int, y: Int, f: Int): Int = {
    val r = (seed + x + 3 * f) % 256
    val g = (seed + y + 3 * f) % 256
    val b = (seed + x + y) % 256
    (r << 16) | (g << 8) | b
  }

  /** Closed-form MJPEG frame rule — gentle and wrap-free (the
    * `Multimodal.gradientRgb` stance: lossy DCT reproduces low-slope
    * gradients within a small bound): r=64+2x, g=64+2y,
    * b=32+(s+5f) mod 160 — b varies per FRAME so frame order is gated
    * through the deviation contract. */
  def mjpegRule(seed: Int, x: Int, y: Int, f: Int): Int = {
    val r = 64 + 2 * x
    val g = 64 + 2 * y
    val b = 32 + (seed + 5 * f) % 160
    (r << 16) | (g << 8) | b
  }

  /** DIB frame bytes: bottom-up rows, BGR byte order, row stride padded
    * to a multiple of 4 — the classic BI_RGB layout. */
  private def dibFrame(img: java.awt.image.BufferedImage): Array[Byte] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val stride = ((w * 3 + 3) / 4) * 4
    val out = new Array[Byte](stride * h)
    var y = 0
    while (y < h) {
      val srcY = h - 1 - y // bottom-up
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, srcY)
        val o = y * stride + x * 3
        out(o) = (p & 0xFF).toByte            // B
        out(o + 1) = ((p >> 8) & 0xFF).toByte // G
        out(o + 2) = ((p >> 16) & 0xFF).toByte // R
        x += 1
      }
      y += 1
    }
    out
  }

  /** Build a complete AVI from the closed-form frame rule (the
    * attach-side fixture builder). */
  def encodeAvi(width: Int, height: Int, frames: Int, fpsMicros: Long,
      seed: Int, codec: String, quality: Float = 0.95f): Array[Byte] = {
    require(frames > 0, s"bad frame count: $frames")
    val rule: (Int, Int, Int, Int) => Int =
      if (codec == CodecMjpeg) mjpegRule else rgbRule
    encodeAviFromImages(
      (0 until frames).map(f => paint(width, height)(rule(seed, _, _, f))),
      fpsMicros, codec, quality)
  }

  /** Build a complete AVI from ARBITRARY rasters (the re-encode side of
    * a decode→transform→re-encode loop): RIFF('AVI ' hdrl(avih
    * strl(strh strf)) movi(frames…)). All sizes and header words are
    * written from the real layout — [[parseAvi]] reads them back from
    * the bytes, never from this side. */
  def encodeAviFromImages(images: Seq[java.awt.image.BufferedImage],
      fpsMicros: Long, codec: String, quality: Float = 0.95f,
      extraStrl: Seq[Array[Byte]] = Nil): Array[Byte] = {
    require(images.nonEmpty, "no frames")
    val (width, height) = (images.head.getWidth, images.head.getHeight)
    require(width > 0 && height > 0, s"bad dims: ${width}x$height")
    require(images.forall(i => i.getWidth == width && i.getHeight == height),
      "AVI frames must share one geometry")
    require(codec == CodecRgb || codec == CodecMjpeg,
      s"unsupported codec: $codec")
    val mjpeg = codec == CodecMjpeg
    val frames = images.length

    val frameChunks = images.map { img =>
      if (mjpeg) chunk("00dc", encodeRaster(img, "jpeg", quality))
      else chunk("00db", dibFrame(img))
    }
    val maxFrame = frameChunks.map(_.length).max

    val avih = { // MainAVIHeader, 14 u32 words = 56 bytes
      val w = new LeWriter
      w.u32(fpsMicros)                         // dwMicroSecPerFrame
      w.u32(0L); w.u32(0L); w.u32(0L)          // maxBytesPerSec, padding, flags
      w.u32(frames.toLong)                     // dwTotalFrames
      w.u32(0L); w.u32(1L + extraStrl.length)  // initialFrames, dwStreams
      w.u32(maxFrame.toLong)                   // suggestedBufferSize
      w.u32(width.toLong); w.u32(height.toLong)
      w.u32(0L); w.u32(0L); w.u32(0L); w.u32(0L) // reserved[4]
      w.result()
    }
    val strh = { // AVIStreamHeader, 56 bytes
      val w = new LeWriter
      w.fourcc("vids")
      w.fourcc(if (mjpeg) "MJPG" else "DIB ")
      w.u32(0L); w.u16(0); w.u16(0); w.u32(0L) // flags, prio, lang, initial
      w.u32(1L)                                // dwScale
      w.u32(math.max(1L, 1000000L / fpsMicros)) // dwRate (informative)
      w.u32(0L); w.u32(frames.toLong)          // start, dwLength
      w.u32(maxFrame.toLong); w.u32(0xFFFFFFFFL) // bufSize, quality
      w.u32(0L)                                // sampleSize
      w.u16(0); w.u16(0); w.u16(width); w.u16(height) // rcFrame
      w.result()
    }
    val strf = { // BITMAPINFOHEADER, 40 bytes
      val w = new LeWriter
      w.u32(40L); w.u32(width.toLong); w.u32(height.toLong)
      w.u16(1); w.u16(24)                      // planes, bitCount
      w.u32(if (mjpeg) FccMjpg else 0L)        // biCompression
      w.u32((((width * 3 + 3) / 4) * 4 * height).toLong) // biSizeImage
      w.u32(0L); w.u32(0L); w.u32(0L); w.u32(0L)
      w.result()
    }

    val hdrl = list("hdrl",
      chunk("avih", avih) ++
        list("strl", chunk("strh", strh) ++ chunk("strf", strf)) ++
        extraStrl.flatten.toArray)
    val movi = list("movi", frameChunks.flatten.toArray)

    val body = hdrl ++ movi
    val out = new LeWriter
    out.fourcc("RIFF"); out.u32(body.length + 4L); out.fourcc("AVI ")
    out.bytes(body)
    out.result()
  }

  // ---------------------------------------------------------------
  // parse / decode (the real operators)
  // ---------------------------------------------------------------

  /** Parsed container: header words + raw movi frame payloads. */
  final case class Avi(width: Int, height: Int, headerFrames: Int,
      fpsMicros: Long, codec: String, frames: Seq[Array[Byte]])

  private def leU32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xFFL)) | ((b(o + 1) & 0xFFL) << 8) |
      ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)

  private def fourccAt(b: Array[Byte], o: Int): String =
    new String(Array(b(o), b(o + 1), b(o + 2), b(o + 3)), "US-ASCII")

  /** Walk the RIFF chunk tree and pull out the real header words and
    * every movi frame payload. None for anything that isn't a
    * well-formed AVI (the corrupt-row contract — never a task
    * failure). Bounds are checked on every read; a truncated container
    * parses to None, not an exception (and NonFatal is caught anyway). */
  def parseAvi(payload: Array[Byte]): Option[Avi] = {
    try {
      if (payload == null || payload.length < 12) return None
      if (fourccAt(payload, 0) != "RIFF" || fourccAt(payload, 8) != "AVI ")
        return None

      var width = -1; var height = -1; var headerFrames = -1
      var fpsMicros = -1L; var compression = -1L
      // stream context: strf belongs to the strl whose strh preceded it
      // — a second (audio) stream's strf must NOT overwrite the video
      // header words, so only the FIRST 'vids' stream's strf is taken.
      // The same ordinal keys the movi walk: frame chunks are named
      // '<NN>db'/'<NN>dc' by STREAM index, so only the video stream's
      // chunks are collected — a second stream's frames must not
      // interleave into the decoded sequence.
      var inVids = false; var haveVideoStrf = false
      var strhSeen = 0; var vidsPrefix: String = null
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]

      // iterative chunk walk over (start, end) regions — AVI nesting is
      // 3 deep; recursion via an explicit stack keeps bounds local
      def walk(start: Int, end: Int): Unit = {
        var pos = start
        while (pos + 8 <= end) {
          val id = fourccAt(payload, pos)
          val size = leU32(payload, pos + 4)
          // fuzz hardening: a mutated size word can exceed Int range or
          // point BACKWARDS (negative toInt) — either could cycle the
          // walk; bail on anything that doesn't advance
          if (size > Int.MaxValue - 16L) return
          val dataStart = pos + 8
          val dataEnd = dataStart + size.toInt
          if (dataEnd < dataStart) return
          // a truncated LIST still yields the children that fit (a cut
          // mid-movi keeps the frames before the cut); truncated LEAF
          // chunks are dropped below
          if (dataEnd > end && id != "LIST") return
          id match {
            case "LIST" if size >= 4 && dataStart + 4 <= end =>
              // list type is the first 4 data bytes; body follows
              walk(dataStart + 4, math.min(dataEnd, end))
            case "avih" if size >= 40 =>
              fpsMicros = leU32(payload, dataStart)
              headerFrames = leU32(payload, dataStart + 16).toInt
            case "strh" if size >= 4 =>
              inVids = fourccAt(payload, dataStart) == "vids"
              if (inVids && vidsPrefix == null)
                vidsPrefix = f"$strhSeen%02d"
              strhSeen += 1
            case "strf" if size >= 20 && inVids && !haveVideoStrf =>
              width = leU32(payload, dataStart + 4).toInt
              height = leU32(payload, dataStart + 8).toInt
              compression = leU32(payload, dataStart + 16)
              haveVideoStrf = true
            case fid if fid.length == 4 && vidsPrefix != null &&
                fid.startsWith(vidsPrefix) &&
                (fid.endsWith("db") || fid.endsWith("dc")) =>
              frames += java.util.Arrays.copyOfRange(payload, dataStart, dataEnd)
            case _ => () // strh, idx1, JUNK — not needed here
          }
          pos = dataEnd + (size.toInt & 1) // chunks pad to even
        }
      }
      walk(12, payload.length)

      // sanity bounds on the header dims: a corrupt/hostile container
      // can carry arbitrary strf words, and an unchecked width×height
      // would pass a (formerly Int-overflowing) length check and then
      // allocate a giant raster — an OutOfMemoryError, which NonFatal
      // does NOT catch, killing the task and breaking the corrupt-row
      // contract. 2^16 per axis / 64 Mpx total is far beyond any real
      // frame and cheap to enforce here, before anything allocates.
      if (width <= 0 || height <= 0 || headerFrames < 0 || fpsMicros <= 0 ||
        width > 0xFFFF || height > 0xFFFF ||
        width.toLong * height > MaxPixels) None
      else {
        val codec = compression match {
          case 0L => CodecRgb
          case FccMjpg => CodecMjpeg
          case c => f"0x$c%08x"
        }
        Some(Avi(width, height, headerFrames, fpsMicros, codec, frames.toSeq))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decode one movi frame payload to a raster, keyed on the
    * CONTAINER's codec: BI_RGB → explicit bottom-up BGR unpack,
    * MJPG → `javax.imageio`. None for undecodable bytes. */
  def decodeFrame(avi: Avi, frame: Array[Byte])
      : Option[java.awt.image.BufferedImage] = {
    try {
      if (avi.codec == CodecRgb) {
        val (w, h) = (avi.width, avi.height)
        val stride = ((w * 3 + 3) / 4) * 4
        // Long arithmetic: stride·h can exceed Int range at the dim
        // bounds parseAvi admits, and an overflowed product could pass
        // this check and allocate anyway
        if (frame.length.toLong < stride.toLong * h) None
        else Some(paint(w, h) { (x, y) =>
          val o = (h - 1 - y) * stride + x * 3 // rows stored bottom-up
          ((frame(o + 2) & 0xFF) << 16) | ((frame(o + 1) & 0xFF) << 8) |
            (frame(o) & 0xFF)
        })
      } else if (avi.codec == CodecMjpeg) {
        // dims come from the JPEG ITSELF, so the container bound does
        // not cover them: read the header words via an ImageReader and
        // reject oversized claims BEFORE the full decode allocates
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(frame))
        // iis closes on EVERY path: the no-reader branch would otherwise
        // leak the ImageInputStream (and its disk-cache file) per
        // unreadable frame
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val reader = readers.next()
            try {
              reader.setInput(iis)
              val (w, h) = (reader.getWidth(0), reader.getHeight(0))
              if (w <= 0 || h <= 0 || w > 0xFFFF || h > 0xFFFF ||
                w.toLong * h > MaxPixels) None
              else Option(reader.read(0))
            } finally reader.dispose()
          }
        } finally iis.close()
      } else None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---------------------------------------------------------------
  // DataFrame operators
  // ---------------------------------------------------------------

  /** Attach a REAL AVI payload per row (the `attachPng` convention):
    * dims, frame count, fps and seed are pure integer functions of the
    * id — `w = id%8+4`, `h = id·3%8+4`, `frames = id%4+2`,
    * `fpsMicros = 20000 + (id%7)·5000`, `seed = id%256` — so the whole
    * demux→decode output is oracle-derivable without a decoder.
    * `codecFor` picks the container codec per id (faces use a pure
    * id-parity rule so the oracle can mirror it). */
  def attachAvi(ids: DataFrame, codecFor: Long => String,
      idCol: String = "doc_id"): DataFrame =
    attach(ids, idCol, "video/x-msvideo") { id =>
      val w = (id % 8 + 4).toInt
      val h = (id * 3 % 8 + 4).toInt
      (encodeAvi(w, h, (id % 4 + 2).toInt, 20000L + (id % 7) * 5000L,
        (id % 256).toInt, codecFor(id)), w, h)
    }

  /** REAL container metadata from the BYTES: every column is a header
    * word [[parseAvi]] read out of the RIFF tree (dims from strf,
    * frame count from avih, micro-sec-per-frame from avih, codec from
    * biCompression), plus `movi_frames` COUNTED from the movi chunk
    * walk — gating that the demux actually traversed the frames, not
    * just the header. Corrupt payload → zero rows. */
  def decodeMeta(df: DataFrame, idCol: String = "doc_id"): DataFrame =
    perRow(df.select(col(idCol), col("media")), idCol, Seq(
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("n_frames", IntegerType),
        StructField("movi_frames", IntegerType),
        StructField("fps_micros", LongType),
        StructField("codec", StringType))) { r =>
      parseAvi(payloadOf(r)).map { avi =>
        Row(r.get(0), avi.width, avi.height, avi.headerFrames,
          avi.frames.length, avi.fpsMicros, avi.codec)
      }
    }

  /** REAL frame decode + temporal sampling: demux, decode every
    * `stride`-th frame (`frame_idx % stride == 0` over the movi
    * ordinal — frames are DROPPED AT THE DECODER, before any
    * exchange), and emit the decoded raster's channel sum Σ(r+g+b).
    * On the lossless `rgb24` codec the sums are bit-exact against the
    * closed-form rule; on `mjpeg` use [[decodeDeviation]] instead.
    * Corrupt payload → zero rows.
    * Output: (id, frame_idx, width, height, px_sum). */
  def decodeFrames(df: DataFrame, idCol: String = "doc_id",
      stride: Int = 1): DataFrame = {
    require(stride >= 1, s"bad stride: $stride")
    perRow(df.select(col(idCol), col("media")), idCol, Seq(
        StructField("frame_idx", IntegerType),
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("px_sum", LongType))) { r =>
      parseAvi(payloadOf(r)).iterator.flatMap { avi =>
        avi.frames.iterator.zipWithIndex
          .filter { case (_, i) => i % stride == 0 }
          .flatMap { case (fb, i) =>
            decodeFrame(avi, fb).map(img =>
              Row(r.get(0), i, img.getWidth, img.getHeight, rgbSum(img)))
          }
      }
    }
  }

  /** REAL decode → transform → re-encode loop over a video column (the
    * `Multimodal.resizeImage` shape on the container family): demux,
    * decode EVERY frame, nearest-neighbor resize with the integer-exact
    * rule `out(x, y) = in(x·w0 div W, y·h0 div H)`, and re-encode the
    * frame sequence as a NEW rgb24 AVI at the source's µs-per-frame.
    * Both container hops are lossless, so composing with
    * [[decodeFrames]] closes a loop whose per-frame sums an oracle
    * recomputes from the source rule + the same index mapping. A
    * payload that fails to demux or to decode every frame passes
    * through with null media (the corrupt-row contract). */
  def resizeFrames(df: DataFrame, newWidth: Int, newHeight: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(newWidth > 0 && newHeight > 0, s"bad dims: ${newWidth}x$newHeight")
    perRow(df.select(col(idCol), col("media")), idCol,
        Seq(StructField("media", Multimodal.mediaSchema))) { r =>
      val resized = parseAvi(payloadOf(r)).flatMap { avi =>
        val imgs = avi.frames.flatMap(fb => decodeFrame(avi, fb))
        if (imgs.isEmpty || imgs.length != avi.frames.length) None
        else Some(encodeAviFromImages(
          imgs.map(resizeNN(_, newWidth, newHeight)), avi.fpsMicros, CodecRgb))
      }
      Some(Row(r.get(0), resized.map(bytes =>
        Row(bytes, Row("video/x-msvideo", newWidth, newHeight))).orNull))
    }
  }

  /** The lossy-codec CONTRACT gate for MJPEG (the
    * `Multimodal.decodeDeviation` shape, per FRAME): decode each movi
    * frame and emit the max per-pixel per-channel deviation from the
    * closed-form `rule(id, x, y, frameIdx)`. Dims must be exact;
    * deviation is bounded, not bit-exact — JPEG is lossy. Corrupt
    * payload → zero rows.
    * Output: (id, frame_idx, width, height, max_dev). */
  def decodeDeviation(df: DataFrame, rule: (Long, Int, Int, Int) => Int,
      idCol: String = "doc_id"): DataFrame =
    perRow(df.select(col(idCol), col("media")), idCol, Seq(
        StructField("frame_idx", IntegerType),
        StructField("width", IntegerType),
        StructField("height", IntegerType),
        StructField("max_dev", IntegerType))) { r =>
      val id = r.get(0) match {
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
        case o => o.toString.toLong
      }
      parseAvi(payloadOf(r)).iterator.flatMap { avi =>
        avi.frames.iterator.zipWithIndex.flatMap { case (fb, i) =>
          decodeFrame(avi, fb).map(img => Row(r.get(0), i, img.getWidth,
            img.getHeight, maxDeviation(img, rule(id, _, _, i))))
        }
      }
    }
}
