package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MultimodalSpec extends SparkSuite {
  import spark.implicits._

  test("payload schema: BINARY payload + typed metadata struct") {
    val df = Multimodal.attachPayload(Seq((1L, "hello world")).toDF("doc_id", "text"))
    val mediaType = df.schema("media").dataType
    // compare shape, not nullability (literals produce non-null fields)
    assert(mediaType.catalogString == Multimodal.mediaSchema.catalogString)
  }

  test("feature extraction: deterministic fake decode") {
    val docs = graft.Tables.documents(spark, sf0001)
    val feats = Multimodal.extractFeatures(Multimodal.attachPayload(docs))
    assert(feats.count() == docs.count())
    // n_bytes == utf-8 length of the source text (ASCII fixture → text length)
    val joined = feats.join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(col("text")))
    assert(joined.count() == 0)
    // deterministic: same crc both runs
    val crc1 = feats.orderBy("doc_id").select("crc32").as[Long].collect().toSeq
    val crc2 = Multimodal.extractFeatures(Multimodal.attachPayload(docs))
      .orderBy("doc_id").select("crc32").as[Long].collect().toSeq
    assert(crc1 == crc2)
    // dims within declared metadata bounds
    assert(feats.filter(col("width") < 1 || col("width") > 1920 ||
      col("height") < 1 || col("height") > 1080).count() == 0)
  }

  test("kernels give identical rows whether their input has 1 or 7 partitions") {
    val ids = (0L until 40L).toDF("doc_id")
    val docs = graft.Tables.documents(spark, sf0001)
    val cases: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
      ("extractFeatures", docs,
        d => Multimodal.extractFeatures(Multimodal.attachPayload(d))),
      ("decodeFeatures(attachPng)", ids,
        d => Multimodal.decodeFeatures(Multimodal.attachPng(d))),
      ("Multimodal.decodeFrames(attachGif)", ids,
        d => Multimodal.decodeFrames(Multimodal.attachGif(d))),
      ("decodeAudioFeatures(attachWav)", ids,
        d => Multimodal.decodeAudioFeatures(Multimodal.attachWav(d))),
      ("Video.decodeFrames(attachAvi)", ids,
        d => Video.decodeFrames(Video.attachAvi(d,
          id => if (id % 2 == 0) Video.CodecRgb else Video.CodecMjpeg))))
    cases.foreach { case (name, in, kernel) =>
      def rows(n: Int): Seq[Row] = {
        val out = kernel(in.repartition(n))
        out.orderBy(out.columns.take(2).map(col).toIndexedSeq: _*).collect().toSeq
      }
      val one = rows(1)
      assert(one.nonEmpty, name)
      assert(rows(7) == one, s"$name: rows differ between 1 and 7 partitions")
    }
  }

  test("corrupt-row sweep: null media, null/empty/random payloads give each kernel's documented outcome") {
    val junk = new Array[Byte](64)
    new scala.util.Random(42).nextBytes(junk)
    val meta = Row("image/png", 4, 4)
    val bad = spark.createDataFrame(java.util.List.of(
        Row(1L, null), Row(2L, Row(null, meta)),
        Row(3L, Row(Array.empty[Byte], meta)), Row(4L, Row(junk, meta))),
      StructType(Seq(StructField("doc_id", LongType),
        StructField("media", Multimodal.mediaSchema))))
    // one row per input row, every feature column null
    def nullFeatures(name: String, out: DataFrame, cols: String*): Unit = {
      val got = out.orderBy("doc_id").collect()
      assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L), name)
      for (r <- got; c <- cols)
        assert(r.isNullAt(r.fieldIndex(c)), s"$name: doc ${r.getLong(0)} $c")
    }
    nullFeatures("decodeFeatures", Multimodal.decodeFeatures(bad),
      "width", "height", "px_sum")
    assert(Multimodal.decodeFeatures(bad).orderBy("doc_id")
      .select("mime").as[Option[String]].collect().toSeq ==
      Seq(None, Some("image/png"), Some("image/png"), Some("image/png")))
    nullFeatures("Multimodal.decodeDeviation",
      Multimodal.decodeDeviation(bad, (_, _, _, _, _) => 0),
      "width", "height", "max_dev")
    nullFeatures("resizeImage", Multimodal.resizeImage(bad, 4, 4), "media")
    nullFeatures("decodeAudioFeatures", Multimodal.decodeAudioFeatures(bad),
      "sample_rate", "channels", "bits", "n_samples", "sample_sum")
    nullFeatures("resizeFrames", Video.resizeFrames(bad, 4, 4), "media")
    // frame and demux kernels: zero rows
    assert(Multimodal.decodeFrames(bad).count() == 0)
    assert(Video.decodeMeta(bad).count() == 0)
    assert(Video.decodeFrames(bad).count() == 0)
    assert(Video.decodeDeviation(bad, (_, _, _, _) => 0).count() == 0)
    // the stub decodes any bytes: null media → all null, null payload →
    // meta only, empty and random payloads → their stub features
    val (luma, n, crc) = Multimodal.decodeStub(junk)
    assert(Multimodal.extractFeatures(bad).orderBy("doc_id").collect()
      .map(_.toSeq).toSeq == Seq(
        Seq(1L, null, null, null, null, null, null),
        Seq(2L, "image/png", 4, 4, null, null, null),
        Seq(3L, "image/png", 4, 4, 0, 0L, 0.0),
        Seq(4L, "image/png", 4, 4, n, crc, luma)))
  }

  test("resize: metadata updated, payload scaled by area ratio") {
    val df = Multimodal.attachPayload(Seq((1L, "x" * 100)).toDF("doc_id", "text"))
    val resized = Multimodal.resizeStub(df, 64, 64)
    val m = resized.select($"media.meta.width", $"media.meta.height",
      length($"media.payload")).head()
    assert(m.getInt(0) == 64 && m.getInt(1) == 64)
    assert(m.getInt(2) >= 1 && m.getInt(2) <= 100)
  }

  test("frameSample: n frames per doc, indexed, non-empty slices") {
    val df = Multimodal.attachPayload(
      Seq((1L, "a" * 90), (2L, "b" * 33)).toDF("doc_id", "text"))
    val frames = Multimodal.frameSample(df, "doc_id", 4)
    assert(frames.count() == 8)
    assert(frames.groupBy($"doc_id").count().filter($"count" =!= 4).count() == 0)
    assert(frames.filter(length($"frame") < 1).count() == 0)
    assert(frames.select($"frame_idx").distinct().count() == 4)
    // frames of doc 1 tile the payload: 4 × 22-byte slices of 90 bytes
    val lens = frames.filter($"doc_id" === 1).select(length($"frame"))
      .as[Int].collect().toSeq
    assert(lens.forall(_ == 90 / 4))
  }

  test("decode stub: known bytes") {
    val (luma, n, crc) = Multimodal.decodeStub("abc".getBytes("UTF-8"))
    assert(n == 3)
    assert(luma == (97 + 98 + 99) / 3.0)
    assert(crc == 891568578L) // CRC32("abc") — standard public test vector
  }

  test("REAL decode: PNG round trip recovers dims and the exact pixel sum") {
    // closed-form expectation computed independently of the codec path
    def expectSum(w: Int, h: Int, s: Int): Long =
      (0 until h).map { y =>
        (0 until w).map { x =>
          ((s + x) % 256 + (s + y) % 256 + (s + x + y) % 256).toLong
        }.sum
      }.sum
    val png = Multimodal.encodePng(7, 5, 250) // seed near 256 forces the mod
    // the bytes are a real PNG (magic header), not a fake
    assert((png(0) & 0xFF) == 0x89 && png(1) == 'P' && png(2) == 'N' && png(3) == 'G')
    assert(Multimodal.decodeImage(png).contains((7, 5, expectSum(7, 5, 250))))
    // undecodable bytes → None, never a throw
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeImage(Array.empty[Byte]).isEmpty)
  }

  test("resizeImage: nearest-neighbor mapping is integer-exact through the PNG hops") {
    // expectation from the generation rule + the index mapping, computed
    // with no codec involvement
    def pixel(s: Int, x: Int, y: Int): Long =
      ((s + x) % 256 + (s + y) % 256 + (s + x + y) % 256).toLong
    val (w0, h0, s0, nw, nh) = (10, 9, 251, 4, 3)
    val want = (0 until nh).map(y => (0 until nw).map(x =>
      pixel(s0, x * w0 / nw, y * h0 / nh)).sum).sum
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(0L, org.apache.spark.sql.Row(
          Multimodal.encodePng(w0, h0, s0),
          org.apache.spark.sql.Row("image/png", w0, h0))))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media", Multimodal.mediaSchema))))
    val got = Multimodal.decodeFeatures(Multimodal.resizeImage(src, nw, nh))
      .as[(Long, String, Int, Int, Long)].head()
    assert(got == ((0L, "image/png", nw, nh, want)), s"got $got want sum=$want")
    // a corrupt payload passes through as null media → null features
    val corrupt = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row(
          "nope".getBytes("UTF-8"),
          org.apache.spark.sql.Row("image/png", 4, 4))))),
      src.schema)
    val nulled = Multimodal.decodeFeatures(
      Multimodal.resizeImage(corrupt, nw, nh)).head()
    assert(nulled.getAs[Any]("px_sum") == null)
  }

  test("REAL frame sampling: multi-frame GIF round trip, per-frame exact level sums") {
    def lvl(s: Int, x: Int, y: Int, f: Int): Long = ((s + x + 2 * y + 3 * f) % 8).toLong
    val (w, h, nf, s0) = (6, 5, 3, 5)
    val gif = Multimodal.encodeGif(w, h, nf, s0)
    assert(gif(0) == 'G' && gif(1) == 'I' && gif(2) == 'F', "real GIF magic")
    // PER-PIXEL check (not just sums — a scanline permutation preserves
    // the sum, which is exactly how the JDK writer's buggy interlaced
    // path slipped past the first version of this test): frame 1 must
    // decode to the literal level grid in scan order
    locally {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(gif))
      val reader = javax.imageio.ImageIO.getImageReaders(iis).next()
      reader.setInput(iis)
      val img = reader.read(1)
      for (y <- 0 until h; x <- 0 until w)
        assert(((img.getRGB(x, y) >> 16) & 0xFF) / 32 == lvl(s0, x, y, 1),
          s"pixel ($x,$y) of frame 1 decoded wrong")
      reader.dispose()
    }
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, org.apache.spark.sql.Row(gif,
          org.apache.spark.sql.Row("image/gif", w, h))),
        org.apache.spark.sql.Row(2L, org.apache.spark.sql.Row(
          "not a gif".getBytes("UTF-8"),
          org.apache.spark.sql.Row("image/gif", 1, 1))))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media", Multimodal.mediaSchema))))
    val got = Multimodal.decodeFrames(src)
      .as[(Long, Int, Int, Int, Long)].collect().sortBy(r => (r._1, r._2))
    // corrupt payload → zero rows for doc 2, never a failure
    assert(got.forall(_._1 == 1L) && got.length == nf)
    got.foreach { case (_, f, gw, gh, sum) =>
      assert(gw == w && gh == h)
      val want = (0 until h).map(y => (0 until w).map(x => lvl(s0, x, y, f)).sum).sum
      assert(sum == want, s"frame $f: got $sum want $want")
    }
  }

  test("REAL audio: WAV PCM round trip recovers format, count, and exact sample sum") {
    def sample(s: Int, i: Int): Long = (((s + 7 * i) % 65536) - 32768).toLong
    val (n, s0) = (40, 123)
    val wav = Multimodal.encodeWav(n, s0)
    assert(wav(0) == 'R' && wav(1) == 'I' && wav(2) == 'F' && wav(3) == 'F',
      "real RIFF/WAV magic")
    val want = (0 until n).map(sample(s0, _)).sum
    assert(Multimodal.decodeWav(wav).contains((8000, 1, 16, n.toLong, want)))
    assert(Multimodal.decodeWav("not audio".getBytes("UTF-8")).isEmpty)
    // end-to-end over a DataFrame with the id-derived rule
    val got = Multimodal.decodeAudioFeatures(
      Multimodal.attachWav(Seq(0L, 7L, 1005L).toDF("doc_id")))
      .orderBy($"doc_id")
      .as[(Long, Int, Int, Int, Long, Long)].collect()
    got.foreach { case (id, sr, ch, bits, nn, sum) =>
      assert((sr, ch, bits) == ((8000, 1, 16)))
      val en = (id % 64 + 16).toInt
      assert(nn == en.toLong)
      val es = (id % 1000).toInt
      assert(sum == (0 until en).map(sample(es, _)).sum, s"doc $id")
    }
  }

  test("attachPng → decodeFeatures: end-to-end over a DataFrame, nulls tolerated") {
    val ids = Seq(0L, 5L, 260L).toDF("doc_id")
    val got = Multimodal.decodeFeatures(Multimodal.attachPng(ids))
      .orderBy($"doc_id")
      .as[(Long, String, Int, Int, Long)].collect()
    assert(got.map(_._1).toSeq == Seq(0L, 5L, 260L))
    got.foreach { case (id, mime, w, h, sum) =>
      assert(mime == "image/png")
      assert(w == (id % 16 + 4).toInt && h == (id * 7 % 16 + 4).toInt)
      val s = (id % 256).toInt
      val want = (0 until h).map(y => (0 until w).map(x =>
        ((s + x) % 256 + (s + y) % 256 + (s + x + y) % 256).toLong).sum).sum
      assert(sum == want, s"px_sum for doc $id")
    }
    // a corrupt payload yields null features, not a task failure
    val corruptDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(9L, org.apache.spark.sql.Row(
          "junk".getBytes("UTF-8"),
          org.apache.spark.sql.Row("image/png", 4, 4))))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media", Multimodal.mediaSchema))))
    val nulled = Multimodal.decodeFeatures(corruptDf).head()
    assert(nulled.getAs[Any]("width") == null &&
      nulled.getAs[Any]("px_sum") == null)
  }

  test("REAL lossy decode: JPEG dims exact, deviation within the gated bound") {
    val ids = (0L until 64L).toDF("doc_id")
    val got = Multimodal.decodeDeviation(Multimodal.attachJpeg(ids),
        (id, w, h, x, y) => Multimodal.gradientRgb((id % 256).toInt, w, h, x, y))
      .orderBy($"doc_id").as[(Long, Int, Int, Int)].collect()
    assert(got.length == 64)
    got.foreach { case (id, w, h, dev) =>
      assert(w == (id % 16 + 4).toInt && h == (id * 7 % 16 + 4).toInt,
        s"dims must survive the lossy container exactly (doc $id)")
      // probed worst case across 512 ids is 4; the catalog face gates at
      // ≤ 12 (3× margin) — assert the tighter probe-level bound here so a
      // codec regression surfaces in the spec before it eats the margin
      assert(dev <= 8, s"doc $id deviated $dev from the gradient rule")
    }
    // a JPEG payload really rode the container: JFIF/EXIF magic bytes
    val bytes = Multimodal.encodeJpeg(8, 6, 42)
    assert((bytes(0) & 0xFF) == 0xFF && (bytes(1) & 0xFF) == 0xD8, "JPEG SOI magic")
    // corrupt payload → all-null row, never a task failure
    val corruptDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(9L, org.apache.spark.sql.Row(
          "junk".getBytes("UTF-8"),
          org.apache.spark.sql.Row("image/jpeg", 4, 4))))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("media", Multimodal.mediaSchema))))
    val nulled = Multimodal.decodeDeviation(corruptDf,
      (id, w, h, x, y) => Multimodal.gradientRgb((id % 256).toInt, w, h, x, y)).head()
    assert(nulled.getAs[Any]("width") == null &&
      nulled.getAs[Any]("max_dev") == null)
  }

  test("lossy resize loop: JPEG→NN-resize→JPEG deviation within the gated bound") {
    val (ww, hh) = (12, 10)
    val got = Multimodal.decodeDeviation(
        Multimodal.resizeImage(Multimodal.attachJpeg((0L until 48L).toDF("doc_id")),
          ww, hh, format = "jpeg"),
        (id, w, h, x, y) => {
          val w0 = (id % 16 + 4).toInt
          val h0 = (id * 7 % 16 + 4).toInt
          Multimodal.gradientRgb((id % 256).toInt, w0, h0, x * w0 / w, y * h0 / h)
        })
      .orderBy($"doc_id").as[(Long, Int, Int, Int)].collect()
    assert(got.length == 48)
    got.foreach { case (id, w, h, dev) =>
      assert(w == ww && h == hh, s"resize dims must hold exactly (doc $id)")
      // probed worst case across 512 ids is 5; catalog face gates at 15 —
      // assert a tighter probe-level bound so codec drift surfaces here
      assert(dev <= 10, s"doc $id deviated $dev through the two lossy hops")
    }
    // the re-encoded payload is genuinely a JPEG container
    val one = Multimodal.resizeImage(
      Multimodal.attachJpeg(Seq(3L).toDF("doc_id")), ww, hh, format = "jpeg")
      .select($"media.payload").head().getAs[Array[Byte]](0)
    assert((one(0) & 0xFF) == 0xFF && (one(1) & 0xFF) == 0xD8, "JPEG SOI magic")
  }

  test("sniffMime: magic bytes route every real container; unknown/garbage/null stratified") {
    val rows = Seq[(Long, Array[Byte])](
      (0L, Multimodal.encodePng(6, 4, 1)),
      (1L, Multimodal.encodeJpeg(6, 4, 1)),
      (2L, Multimodal.encodeGif(6, 4, 2, 1)),
      (3L, Multimodal.encodeWav(16, 1)),
      (4L, Video.encodeAvi(6, 4, 2, 20000L, 1, Video.CodecRgb)),
      (5L, "%PDF-1.7 fake".getBytes("US-ASCII")),
      (6L, Array(0x1F, 0x8B, 0x08, 0x00).map(_.toByte)),
      (7L, Array('P'.toInt, 'K'.toInt, 0x03, 0x04).map(_.toByte)),
      (8L, "just some text".getBytes("US-ASCII")),
      (9L, Array.empty[Byte]),
      (10L, null)
    )
    val got = rows.toDF("id", "payload")
      .select($"id", Multimodal.sniffMime($"payload").as("m"))
      .as[(Long, Option[String])].collect().toMap
    assert(got == Map(
      0L -> Some("image/png"), 1L -> Some("image/jpeg"),
      2L -> Some("image/gif"), 3L -> Some("audio/wav"),
      4L -> Some("video/x-msvideo"), 5L -> Some("application/pdf"),
      6L -> Some("application/gzip"), 7L -> Some("application/zip"),
      8L -> Some("application/octet-stream"),
      9L -> Some("application/octet-stream"), 10L -> None), s"got $got")
    // a RIFF prefix WITHOUT a known form tag must not claim wav/avi
    val riffOnly = Seq((0L, "RIFF1234JUNK".getBytes("US-ASCII")))
      .toDF("id", "payload")
      .select(Multimodal.sniffMime($"payload")).as[String].collect()
    assert(riffOnly.toSeq == Seq("application/octet-stream"))
  }
}
