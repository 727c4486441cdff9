package graft

import org.apache.spark.sql.functions._

import graft.llm.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  lazy val media = Multimodal.asMedia(
    Tables.load(spark, sf0, "documents")
      .withColumn("bin", col("text").cast("binary")),
    "doc_id", "bin", "image", "image/png").cache()

  test("asMedia produces the typed media schema") {
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "modality", "content", "mime_type", "byte_size"))
    assert(media.filter($"byte_size" <= 0).isEmpty)
    // byte_size is the UTF-8 octet length of the content bytes
    val r = media.select(octet_length($"content") === $"byte_size")
      .as[Boolean].collect()
    assert(r.forall(identity))
  }

  test("decode stub yields one fixed-shape feature row per media item") {
    val feats = Multimodal.decodeImagesStub(media, featureDim = 8)
    assert(feats.count() == media.count())
    assert(feats.schema.fieldNames.toSeq ==
      Seq("media_id", "width", "height", "n_channels", "feature"))
    import org.apache.spark.sql.Row
    feats.collect().foreach { r: Row =>
      assert(r.getInt(1) >= 64 && r.getInt(2) >= 64)
      assert(r.getSeq[Float](4).size == 8)
    }
    // determinism: same bytes → same features
    val f2 = Multimodal.decodeImagesStub(media, featureDim = 8)
    assert(feats.exceptAll(f2).isEmpty)
  }

  // ------------------------------------------------------- real decode
  // Real encoded images from the golden corpus (Fixtures.src). Where the
  // reference's tests/fixtures/src is checked out these are its shipped
  // files, whose dimensions were parsed independently from the JPEG SOF /
  // GIF LSD / TIFF IFD headers; the generated corpus encodes its images
  // at these same geometries by construction.
  private lazy val fixtureImages = Seq(
    // (path, width, height)
    (s"${Fixtures.src}/regression_jpg.jpg", 1350, 282),
    (s"${Fixtures.src}/regression_gif.gif", 320, 180),
    (s"${Fixtures.src}/regression_tiff.tiff", 1350, 282),
    (s"${Fixtures.src}/hello_world_tiff.tif", 819, 460))

  test("decodeImages decodes real fixture images to their true geometry") {
    val rows = fixtureImages.zipWithIndex.map { case ((p, _, _), i) =>
      (i.toLong, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))
    }
    val media = Multimodal.asMedia(
      rows.toDF("id", "bin"), "id", "bin", "image", "application/octet-stream")
    val out = Multimodal.decodeImages(media, featureDim = 8)
      .collect().sortBy(_.getLong(0))
    assert(out.length == fixtureImages.length)
    out.zip(fixtureImages).foreach { case (r, (p, w, h)) =>
      assert(r.getBoolean(4), s"decode_ok should be true for $p")
      assert(r.getInt(1) == w, s"width of $p")
      assert(r.getInt(2) == h, s"height of $p")
      assert(r.getInt(3) >= 1 && r.getInt(3) <= 4, s"channels of $p")
      val feat = r.getSeq[Float](5)
      assert(feat.size == 8)
      // real luminance profile: every band in [0,1], not all identical
      assert(feat.forall(f => f >= 0f && f <= 1f))
      assert(feat.distinct.size > 1, s"feature of $p should vary by band")
    }
  }

  test("decodeImages matches the reviewed golden parquet bit-for-bit") {
    // golden/decode_images.parquet pins the decoder over the reference
    // fixture images (geometry independently header-parsed; JPEG↔TIFF
    // luminance cross-validated — see golden/README.md). Regressions in
    // the codec path, band profile, or fallback shape surface as an
    // artifact diff here, not just as geometry assertions. It needs the
    // reference's own images, so it runs only where they are checked out.
    Fixtures.assumePresent(graft.tools.GoldenDecode.SrcDir)
    val recomputed = graft.tools.GoldenDecode.decodeFixtures(spark)
    val golden = spark.read.parquet("golden/decode_images.parquet")
    assert(golden.count() == graft.tools.GoldenDecode.FixtureFiles.size.toLong)
    assert(recomputed.exceptAll(golden).isEmpty &&
      golden.exceptAll(recomputed).isEmpty,
      s"decoder drifted from golden:\n recomputed=${recomputed.collect().toSeq}" +
        s"\n golden=${golden.collect().toSeq}")
  }

  test("decodeImages is deterministic and falls back on non-image bytes") {
    val junk = Seq(
      (0L, "not an image at all".getBytes("UTF-8")),
      (1L, Array.fill[Byte](64)(0x7F)))
    val media = Multimodal.asMedia(
      junk.toDF("id", "bin"), "id", "bin", "image", "application/octet-stream")
    val out = Multimodal.decodeImages(media, featureDim = 8)
    assert(out.filter($"decode_ok").isEmpty)
    // fallback keeps the stub contract: fixed shape, deterministic
    val again = Multimodal.decodeImages(media, featureDim = 8)
    assert(out.exceptAll(again).isEmpty)
    out.collect().foreach { r =>
      assert(r.getInt(1) >= 64 && r.getInt(2) >= 64)
      assert(r.getSeq[Float](5).size == 8)
    }
  }

  test("decodeImages twice on the same real image agrees bit-for-bit") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixtureImages.head._1))
    val media = Multimodal.asMedia(
      Seq((7L, bytes)).toDF("id", "bin"), "id", "bin", "image", "image/jpeg")
    val a = Multimodal.decodeImages(media).collect().head
    val b = Multimodal.decodeImages(media).collect().head
    assert(a == b)
  }

  /** Synthesize a 16-bit mono WAV whose PCM samples are `samples`. */
  private def wavBytes(samples: Array[Short], rate: Float = 8000f,
                       channels: Int = 1): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, rate, 16,
      channels, 2 * channels, rate, false)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xFF).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
    }
    val out = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt,
      samples.length / channels), AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("decodeAudio decodes a real WAV: geometry exact, band RMS from the PCM") {
    // 800 frames: first half silence, second half constant ±16384 (=0.5
    // amplitude square wave → RMS exactly 0.5 in every covered band)
    val samples = Array.tabulate(800)(i =>
      if (i < 400) 0.toShort
      else (if (i % 2 == 0) 16384 else -16384).toShort)
    val df = Seq((1L, wavBytes(samples))).toDF("doc_id", "bin")
    val media = Multimodal.asMedia(df, "doc_id", "bin", "audio", "audio/wav")
    val row = Multimodal.decodeAudio(media, featureDim = 8).head()
    assert(row.getInt(1) == 8000 && row.getInt(2) == 1)
    assert(row.getLong(3) == 800L && row.getBoolean(4))
    val feat = row.getSeq[Float](5)
    assert(feat.length == 8)
    // bands 0-3 cover the silent half, bands 4-7 the square wave
    assert(feat.take(4).forall(math.abs(_) < 1e-4), s"silent bands: $feat")
    assert(feat.drop(4).forall(f => math.abs(f - 0.5f) < 1e-3),
      s"square-wave bands: $feat")
  }

  test("decodeAudio handles stereo and is deterministic across runs") {
    // L channel constant +8192, R channel constant -8192: channel mean 0
    val inter = Array.tabulate(400)(i =>
      (if (i % 2 == 0) 8192 else -8192).toShort)
    val df = Seq((7L, wavBytes(inter, rate = 16000f, channels = 2)))
      .toDF("doc_id", "bin")
    val media = Multimodal.asMedia(df, "doc_id", "bin", "audio", "audio/wav")
    val a = Multimodal.decodeAudio(media).head()
    val b = Multimodal.decodeAudio(media).head()
    assert(a == b)
    assert(a.getInt(1) == 16000 && a.getInt(2) == 2 && a.getLong(3) == 200L)
    assert(a.getSeq[Float](5).forall(math.abs(_) < 1e-4)) // channels cancel
  }

  test("decodeAudio reports confirmed frames, not the header claim, on truncation") {
    val full = wavBytes(Array.fill(800)(8192.toShort))
    // chop the data chunk: header still declares 800 frames
    val cut = full.take(full.length - 1200)
    val df = Seq((3L, cut)).toDF("doc_id", "bin")
    val row = Multimodal.decodeAudio(
      Multimodal.asMedia(df, "doc_id", "bin", "audio", "audio/wav")).head()
    assert(row.getBoolean(4)) // decodes what exists
    assert(row.getLong(3) < 800L && row.getLong(3) >= 100L,
      s"frames ${row.getLong(3)} should reflect the truncated data chunk")
  }

  test("decodeAudio falls back deterministically on non-audio bytes") {
    val df = Seq((9L, "definitely not audio content".getBytes("UTF-8")))
      .toDF("doc_id", "bin")
    val media = Multimodal.asMedia(df, "doc_id", "bin", "audio", "audio/mpeg")
    val a = Multimodal.decodeAudio(media).head()
    val b = Multimodal.decodeAudio(media).head()
    assert(a == b)
    assert(!a.getBoolean(4)) // decode_ok = false, stub path
    assert(a.getSeq[Float](5).length == 8)
  }

  test("resize stub clamps the longer side and preserves aspect floor") {
    val out = Multimodal.resizeStub(
      Multimodal.decodeImagesStub(media), maxSide = 128)
    assert(out.filter($"out_width" > 128 || $"out_height" > 128).isEmpty)
    assert(out.filter($"out_width" <= 0 || $"out_height" <= 0).isEmpty)
  }

  test("frame sampling emits n evenly spaced in-range frame indices") {
    val frames = Multimodal.sampleFramesStub(media, n = 4)
    assert(frames.count() == media.count() * 4)
    assert(frames.filter($"frame_index" < 0 ||
      $"frame_index" >= $"frame_count").isEmpty)
  }

  /** Independent GIF frame count: walk the GIF89a/87a block structure
    * directly (logical screen descriptor → color tables → extension /
    * image-descriptor blocks with their LZW sub-blocks) and count 0x2C
    * image descriptors — no `javax.imageio` anywhere, so it cannot agree
    * with [[Multimodal.sampleFrames]] by construction. */
  private def gifFrameCount(bytes: Array[Byte]): Int = {
    def u8(i: Int): Int = bytes(i) & 0xFF
    require(new String(bytes, 0, 3, "US-ASCII") == "GIF")
    var i = 6 // past header
    val packed = u8(i + 4)
    i += 7 // logical screen descriptor
    if ((packed & 0x80) != 0) i += 3 * (2 << (packed & 7)) // global palette
    var frames = 0
    var done = false
    while (!done && i < bytes.length) {
      u8(i) match {
        case 0x3B => done = true // trailer
        case 0x21 => // extension: label byte, then length-prefixed sub-blocks
          i += 2
          while (u8(i) != 0) i += 1 + u8(i)
          i += 1
        case 0x2C => // image descriptor
          frames += 1
          i += 9
          val lp = u8(i); i += 1
          if ((lp & 0x80) != 0) i += 3 * (2 << (lp & 7)) // local palette
          i += 1 // LZW minimum code size
          while (u8(i) != 0) i += 1 + u8(i)
          i += 1
        case b => fail(s"unexpected GIF block 0x${b.toHexString} at $i")
      }
    }
    frames
  }

  test("sampleFrames really decodes animated-GIF frames; stub only for true video") {
    val gifPath = s"${Fixtures.src}/regression_gif.gif"
    val gif = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(gifPath))
    val expectFrames = gifFrameCount(gif)
    assert(expectFrames > 1, "fixture must be a genuinely animated GIF")
    val fakeVideo = Array.tabulate[Byte](777)(i => (i * 31 + 7).toByte)
    val mm = Multimodal.asMedia(
      Seq((1L, gif), (2L, fakeVideo)).toDF("id", "bin"),
      "id", "bin", "video", "application/octet-stream")
    val out = Multimodal.sampleFrames(mm, n = 4)
    assert(out.schema == Multimodal.sampledFrameSchema)
    val gifRows = out.filter($"media_id" === 1L)
      .orderBy("frame_index").collect()
    // real path: true frame count from the container, evenly spaced
    // indices, luminance measured from actually-decoded pixels
    assert(gifRows.length == 4)
    assert(gifRows.forall(_.getInt(1) == expectFrames))
    assert(gifRows.forall(_.getBoolean(3)))
    assert(gifRows.map(_.getInt(2)).toSeq ==
      (0 until 4).map(i => i * expectFrames / 4))
    assert(gifRows.forall { r =>
      val l = r.getFloat(4); l >= 0f && l <= 1f })
    // the frames differ, so at least two sampled luminances must differ
    assert(gifRows.map(_.getFloat(4)).distinct.length > 1)
    // fallback path: no JDK codec for the fake video container → stub
    // frame-count arithmetic, decode_ok = false, same cardinality
    val vidRows = out.filter($"media_id" === 2L).collect()
    assert(vidRows.length == 4 && vidRows.forall(!_.getBoolean(3)))
    assert(vidRows.forall(_.getInt(1) == 777 % 500 + 10))
    val stub = Multimodal.sampleFramesStub(
        mm.filter($"media_id" === 2L), n = 4)
      .select("media_id", "frame_count", "frame_index").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sortBy(_._3)
    assert(vidRows.map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(_._3).toSeq == stub.toSeq)
    // determinism: the whole thing twice agrees bit-for-bit
    assert(out.exceptAll(Multimodal.sampleFrames(mm, n = 4)).isEmpty)
  }

  test("FrameDecoder SPI: a registered codec plugin's frames flow with decode_ok=true") {
    // FakeVideoDecoder is registered via META-INF/services in the test
    // resources — exactly how a deployment plugs a real video codec in
    val vid = "GRAFTVID".getBytes("US-ASCII") ++
      Array[Byte](12) ++ Array.fill[Byte](100)(3)
    val other = Array.tabulate[Byte](777)(i => (i * 31 + 7).toByte)
    val mm = Multimodal.asMedia(
      Seq((1L, vid), (2L, other)).toDF("id", "bin"),
      "id", "bin", "video", "video/x-graft")
    val out = Multimodal.sampleFrames(mm, n = 4)
    assert(out.schema == Multimodal.sampledFrameSchema)
    // the SPI-handled container decodes for real: its frame count, its
    // evenly spaced indices, its luminances, decode_ok = true
    val spiRows = out.filter($"media_id" === 1L).orderBy("frame_index").collect()
    assert(spiRows.length == 4 && spiRows.forall(_.getBoolean(3)))
    assert(spiRows.forall(_.getInt(1) == 12))
    assert(spiRows.map(_.getInt(2)).toSeq == Seq(0, 3, 6, 9))
    assert(spiRows.map(_.getFloat(4)).toSeq == Seq(0f, 3f / 12, 6f / 12, 9f / 12))
    // unhandled bytes still fall through to the labeled stub
    val stubRows = out.filter($"media_id" === 2L).collect()
    assert(stubRows.length == 4 && stubRows.forall(!_.getBoolean(3)))
  }

  // ------------------------------------------- perceptual image dedup
  private def png(im: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(im, "png", bos)
    bos.toByteArray
  }

  /** Deterministic 8×8-cell block pattern (each cell uniformly dark or
    * bright by a hash of its cell index) — the content class aHash is
    * built for: cell means sit FAR from the global-mean threshold, so
    * re-encode/resize/brightness edits flip ~0 bits while inversion
    * flips ~all. (A smooth gradient is the adversarial case — half its
    * cells ride the threshold — and is deliberately not used here.) */
  private def blocks(w: Int, h: Int, invert: Boolean = false,
                     brightness: Int = 0): java.awt.image.BufferedImage = {
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val cell = (y * 8 / h) * 8 + (x * 8 / w)
        val bright = (cell * 2654435761L % 97) < 48
        var v = if (bright ^ invert) 215 else 40
        v = (v + brightness).max(0).min(255)
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    im
  }

  test("imageHashes: aHash is stable under re-encode/resize/brightness, " +
      "far for distinct content, decode_ok=false for junk") {
    val rows = Seq(
      (1L, png(blocks(64, 64))),
      (2L, png(blocks(64, 64, brightness = 12))), // uniform shift
      (3L, png(blocks(96, 96))), // same content, other resolution
      (4L, png(blocks(64, 64, invert = true))), // different image
      (5L, "definitely not an image".getBytes("UTF-8")))
    val mm = Multimodal.asMedia(rows.toDF("id", "bin"),
      "id", "bin", "image", "image/png")
    val hs = Multimodal.imageHashes(mm).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(hs(5L)._2 == false && hs(5L)._1 == 0L)
    assert((1L to 4L).forall(hs(_)._2))
    // aHash thresholds at the image's own mean → brightness-invariant;
    // the 32×32 sample grid → resolution-robust
    assert(ham(hs(1L)._1, hs(2L)._1) <= 3,
      s"brightness shift moved ${ham(hs(1L)._1, hs(2L)._1)} bits")
    assert(ham(hs(1L)._1, hs(3L)._1) <= 3,
      s"resize moved ${ham(hs(1L)._1, hs(3L)._1)} bits")
    // inverted gradient flips (nearly) every threshold decision
    assert(ham(hs(1L)._1, hs(4L)._1) >= 32,
      s"distinct images only ${ham(hs(1L)._1, hs(4L)._1)} bits apart")
  }

  test("imageNearDupPairs finds planted perceptual dups, excludes " +
      "undecodable rows, never pairs distinct content") {
    val rows = Seq(
      (1L, png(blocks(64, 64))),
      (2L, png(blocks(96, 96, brightness = 6))), // near-dup of 1
      (3L, png(blocks(64, 64, invert = true))), // unrelated
      (4L, "junk one".getBytes("UTF-8")), // would all collide at ahash=0
      (5L, "junk two".getBytes("UTF-8")))
    val mm = Multimodal.asMedia(rows.toDF("id", "bin"),
      "id", "bin", "image", "image/png")
    val pairs = Multimodal.imageNearDupPairs(mm, maxHamming = 3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"missed planted near-dup: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated image paired: $pairs")
    assert(!pairs.exists(p => p._1 >= 4L || p._2 >= 4L),
      s"undecodable rows paired: $pairs")
  }

  // ------------------------------------------- perceptual video dedup
  private def gifAnim(
      frames: Seq[java.awt.image.BufferedImage]): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach(f => writer.writeToSequence(
      new javax.imageio.IIOImage(f, null, null), null))
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    bos.toByteArray
  }

  /** Frame of 8 horizontal stripes, each uniformly dark or bright by a
    * hash of (temporal segment, stripe) — time×space structure whose
    * band means sit FAR from the fingerprint's global-mean threshold
    * (the blocks() discipline, one dimension swapped for time). */
  private def stripeFrame(w: Int, h: Int, seg: Int,
                          invert: Boolean = false,
                          brightness: Int = 0): java.awt.image.BufferedImage = {
    val im = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val band = y * 8 / h
      val bright = ((seg * 8 + band) * 2654435761L % 97) < 48
      var v = if (bright ^ invert) 215 else 40
      v = (v + brightness).max(0).min(255)
      var x = 0
      while (x < w) {
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    im
  }

  /** 8-temporal-segment animated GIF: one stripe pattern per segment,
    * each repeated `rate` frames — `rate` models a frame-rate change
    * (the same content instants at 2× the frames). */
  private def clip(w: Int, h: Int, rate: Int = 1, invert: Boolean = false,
                   brightness: Int = 0): Array[Byte] =
    gifAnim((0 until 8).flatMap(seg =>
      Seq.fill(rate)(stripeFrame(w, h, seg, invert, brightness))))

  test("videoFingerprints: stable under re-encode/rescale/brightness/" +
      "frame-rate changes, far for distinct content, decode_ok=false " +
      "for junk; SPI bands hook honored") {
    val rows = Seq(
      (1L, clip(64, 64)),
      (2L, clip(96, 96)), // same content, other resolution
      (3L, clip(64, 64, brightness = 12)), // uniform brightness shift
      (4L, clip(64, 64, rate = 2)), // frame-rate doubled (16 frames)
      (5L, clip(64, 64, invert = true)), // different content
      (6L, "definitely not a video".getBytes("UTF-8")))
    val mm = Multimodal.asMedia(rows.toDF("id", "bin"),
      "id", "bin", "video", "image/gif")
    val fps = Multimodal.videoFingerprints(mm).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(fps(6L) == ((0L, false)), fps(6L).toString)
    assert((1L to 5L).forall(fps(_)._2), fps.toString)
    assert(ham(fps(1L)._1, fps(2L)._1) <= 3,
      s"rescale moved ${ham(fps(1L)._1, fps(2L)._1)} bits")
    assert(ham(fps(1L)._1, fps(3L)._1) <= 3,
      s"brightness shift moved ${ham(fps(1L)._1, fps(3L)._1)} bits")
    assert(ham(fps(1L)._1, fps(4L)._1) <= 3,
      s"frame-rate change moved ${ham(fps(1L)._1, fps(4L)._1)} bits")
    // inverted stripes flip (nearly) every threshold decision
    assert(ham(fps(1L)._1, fps(5L)._1) >= 32,
      s"distinct clips only ${ham(fps(1L)._1, fps(5L)._1)} bits apart")
    // SPI path: the registered FakeVideoDecoder's decodeFrameBands hook
    // fingerprints the GRAFTVID container (no imageio reader accepts it)
    val spiBytes = "GRAFTVID".getBytes("US-ASCII") ++
      Array(8.toByte) ++ Array.fill(32)(7.toByte)
    val spiRows = Multimodal.asMedia(
      Seq((10L, spiBytes), (11L, spiBytes)).toDF("id", "bin"),
      "id", "bin", "video", "video/x-graftvid")
    val spiFps = Multimodal.videoFingerprints(spiRows).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(spiFps(10L)._2 && spiFps(10L) == spiFps(11L),
      s"SPI fingerprint not deterministic: $spiFps")
  }

  test("videoNearDupPairs finds planted re-encodes, excludes " +
      "undecodable rows, never pairs distinct content") {
    val rows = Seq(
      (1L, clip(64, 64)),
      (2L, clip(96, 96, brightness = 6)), // near-dup: rescaled + shifted
      (3L, clip(64, 64, rate = 2)), // near-dup: frame-rate doubled
      (4L, clip(64, 64, invert = true)), // unrelated content
      (5L, "junk one".getBytes("UTF-8")), // would all collide at vfp=0
      (6L, "junk two".getBytes("UTF-8")))
    val mm = Multimodal.asMedia(rows.toDF("id", "bin"),
      "id", "bin", "video", "image/gif")
    val pairs = Multimodal.videoNearDupPairs(mm, maxHamming = 3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)),
      s"missed planted near-dups: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated clip paired: $pairs")
    assert(!pairs.exists(p => p._1 >= 5L || p._2 >= 5L),
      s"undecodable rows paired: $pairs")
  }

  /** A two-part test clip: `lo` Hz mixture in the first half, `hi` Hz
    * in the second — time×frequency structure the 8×8 fingerprint grid
    * can see. Deterministic noise/gain knobs simulate re-encode and
    * normalization edits. */
  private def toneClip(loHz: Seq[Double], hiHz: Seq[Double],
                       gain: Double = 1.0,
                       noiseAmp: Int = 0): Array[Short] = {
    val n = 16000 // 2 s at 8 kHz
    val rate = 8000.0
    Array.tabulate(n) { i =>
      val freqs = if (i < n / 2) loHz else hiHz
      val x = freqs.map(f =>
        math.sin(2 * math.Pi * f * i / rate) / freqs.size).sum
      val noise = if (noiseAmp == 0) 0L
        else (i * 2654435761L) % (2L * noiseAmp + 1) - noiseAmp
      val v = math.round(x * 12000 * gain) + noise
      math.max(Short.MinValue, math.min(Short.MaxValue, v)).toShort
    }
  }

  test("audioFingerprints: gain- and noise-stable, far for distinct " +
      "content, decode_ok=false for undecodable bytes") {
    val orig = toneClip(Seq(330.0, 990.0), Seq(2200.0))
    val rows = Seq(
      (1L, wavBytes(orig)),
      (2L, wavBytes(toneClip(Seq(330.0, 990.0), Seq(2200.0), gain = 0.5))),
      (3L, wavBytes(toneClip(Seq(330.0, 990.0), Seq(2200.0), noiseAmp = 120))),
      (4L, wavBytes(toneClip(Seq(2200.0), Seq(330.0)))), // structure flipped
      (5L, "definitely not audio".getBytes("UTF-8")))
    val mm = Multimodal.asMedia(rows.toDF("id", "bin"),
      "id", "bin", "audio", "audio/wav")
    val fp = Multimodal.audioFingerprints(mm).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(fp(5L) == ((0L, false)), s"junk bytes decoded: ${fp(5L)}")
    assert((1L to 4L).forall(fp(_)._2))
    // gain scales every grid power AND the mean by g² → sign-invariant
    assert(ham(fp(1L)._1, fp(2L)._1) <= 3,
      s"gain change moved ${ham(fp(1L)._1, fp(2L)._1)} bits")
    assert(ham(fp(1L)._1, fp(3L)._1) <= 3,
      s"noise moved ${ham(fp(1L)._1, fp(3L)._1)} bits")
    assert(ham(fp(1L)._1, fp(4L)._1) >= 16,
      s"distinct content only ${ham(fp(1L)._1, fp(4L)._1)} bits apart")
    // determinism across runs
    val fp2 = Multimodal.audioFingerprints(mm).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp.map { case (k, v) => k -> v._1 } == fp2)
  }

  test("audioFingerprints: stereo clip decodes (channel-meaned) and a " +
      "mono mixdown of the same content lands near it") {
    val mono = toneClip(Seq(440.0), Seq(1320.0))
    // interleave L=R (a "stereo" file of the same program material)
    val stereo = Array.tabulate(mono.length * 2)(i => mono(i / 2))
    val rows = Seq(
      (1L, wavBytes(mono)),
      (2L, wavBytes(stereo, channels = 2)))
    val mm = Multimodal.asMedia(rows.toDF("id", "bin"),
      "id", "bin", "audio", "audio/wav")
    val fp = Multimodal.audioFingerprints(mm).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(fp(1L)._2 && fp(2L)._2, s"stereo failed to decode: $fp")
    // channel-mean of L=R reproduces the mono samples exactly
    assert(java.lang.Long.bitCount(fp(1L)._1 ^ fp(2L)._1) <= 3,
      s"stereo mixdown moved ${java.lang.Long.bitCount(fp(1L)._1 ^ fp(2L)._1)} bits")
  }

  test("audioNearDupPairs finds planted perceptual dups, excludes " +
      "undecodable rows, never pairs distinct content") {
    val rows = Seq(
      (1L, wavBytes(toneClip(Seq(330.0, 990.0), Seq(2200.0)))),
      (2L, wavBytes(toneClip(Seq(330.0, 990.0), Seq(2200.0), gain = 0.6,
        noiseAmp = 80))), // re-encoded + renormalized copy of 1
      (3L, wavBytes(toneClip(Seq(2200.0), Seq(330.0)))), // unrelated
      (4L, "junk a".getBytes("UTF-8")), // would all collide at afp=0
      (5L, "junk b".getBytes("UTF-8")))
    val mm = Multimodal.asMedia(rows.toDF("id", "bin"),
      "id", "bin", "audio", "audio/wav")
    val pairs = Multimodal.audioNearDupPairs(mm, maxHamming = 3)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"missed planted near-dup: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated clip paired: $pairs")
    assert(!pairs.exists(p => p._1 >= 4L || p._2 >= 4L),
      s"undecodable rows paired: $pairs")
  }

  test("imageHashes on the real fixture corpus: deterministic, " +
      "re-encode-stable") {
    val bytes = fixtureImages.map { case (p, _, _) =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    }
    val rows = bytes.zipWithIndex.map { case (b, i) => (i.toLong, b) }
    val mm = Multimodal.asMedia(rows.toDF("id", "bin"),
      "id", "bin", "image", "application/octet-stream")
    val h1 = Multimodal.imageHashes(mm).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // all four fixtures decode and hash deterministically
    val h2 = Multimodal.imageHashes(mm).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 == h2)
    // jpg (idx 0) and tiff (idx 2) are the SAME picture in two codecs
    // (see decodeImages golden notes) → perceptually near-identical
    val ham = java.lang.Long.bitCount(h1(0L) ^ h1(2L))
    assert(ham <= 3, s"jpg↔tiff of the same picture $ham bits apart")
    // different pictures stay far
    assert(java.lang.Long.bitCount(h1(0L) ^ h1(3L)) > 10)
  }
}
