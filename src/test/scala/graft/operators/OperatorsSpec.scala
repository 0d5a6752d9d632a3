package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions
import graft.GraftSession

class OperatorsSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
  private lazy val corpus = Seq(
    (1L, base),
    (2L, base), // exact dup of 1
    (3L, base.replace("quick", "speedy")), // near dup of 1
    (4L, "completely different content about spark query engines and shuffles at scale"),
    (5L, "unrelated short text")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical docs, keeps min id") {
    val groups = Dedup.exact(corpus, "doc_id", "text").collect()
    assert(groups.length == 4)
    val dupGroup = groups.find(_.getAs[Long]("dup_count") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds planted near-dup, skips unrelated") {
    val pairs = Dedup.minhashLSH(corpus, "doc_id", "text",
      k = 32, bands = 16, threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical docs share signature; near-dup within small hamming") {
    val sigs = corpus.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sig")).toMap
    assert(sigs(1L) == sigs(2L))
    val hamming13 = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    val hamming14 = java.lang.Long.bitCount(sigs(1L) ^ sigs(4L))
    assert(hamming13 < hamming14, s"near-dup hamming $hamming13 should beat unrelated $hamming14")
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = hamming13)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("ngram jaccard: dup pair = 1.0, near-dup high, unrelated filtered") {
    val pairs = Dedup.ngramJaccard(corpus, "doc_id", "text", n = 3, threshold = 0.3)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.keys.exists(p => p._1 == 4L || p._2 == 4L))
  }

  private lazy val vectors = {
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(16)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x * x).sum).toFloat
      v.map(_ / n)
    }
    val anchor = unit()
    val near = anchor.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.05f else x }
    Seq(
      (1L, anchor), (2L, near),
      (3L, unit()), (4L, unit()), (5L, unit()), (6L, unit())
    ).toDF("vec_id", "embedding")
  }

  test("brute-force cosine top-k ranks the planted neighbor first") {
    val top = Similarity.bruteForceTopK(vectors, vectors.filter($"vec_id" === 1), "vec_id", "embedding", k = 2)
      .collect()
    assert(top.head.getAs[Long]("corpus_id") == 2L)
    assert(top.head.getAs[Double]("cosine") > 0.99)
  }

  test("LSH ANN finds the planted neighbor with bucket pruning") {
    val top = Similarity.lshTopK(vectors, vectors.filter($"vec_id" === 1), "vec_id", "embedding",
      k = 2, bits = 8, bands = 4, dim = 16)
      .collect()
    assert(top.nonEmpty && top.head.getAs[Long]("corpus_id") == 2L)
  }

  test("embedding cosine dup pairs picks the planted pair only (high threshold)") {
    val pairs = Similarity.cosineDupPairs(vectors, "vec_id", "embedding",
      threshold = 0.98, bits = 8, bands = 4, dim = 16)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("text functions: tokens, bpe-ish, langid markers, shingles") {
    val df = Seq(("the cat and the dog, of course!", "en")).toDF("text", "lang")
    val row = df.select(
      TextFunctions.tokenCount($"text").as("t"),
      TextFunctions.bpeishTokenCount($"text").as("b"),
      TextFunctions.langId($"text").as("l"),
      size(TextFunctions.shingles($"text", 3)).as("s")).collect().head
    assert(row.getAs[Int]("t") == 7)
    // [the cat and the dog , of course !] = 9
    assert(row.getAs[Int]("b") == 9)
    assert(row.getAs[String]("l") == "en")
    assert(row.getAs[Int]("s") == 5)
  }

  test("readability: sentences, syllables, flesch milli-units") {
    val df = Seq(
      ("The cat sat. It was happy! Really?", 1L),
      ("no terminator here", 2L),
      ("", 3L)).toDF("text", "id")
    val rows = df.select($"id",
      TextFunctions.sentenceCount($"text").as("se"),
      TextFunctions.syllableCount($"text").as("sy"),
      TextFunctions.tokenCount($"text").cast("long").as("w"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(rows(1L)._1 == 3L)           // three terminator runs
    assert(rows(2L)._1 == 1L)           // fragment = one sentence
    assert(rows(3L)._1 == 0L)           // empty text
    // vowel groups: the(1) cat(1) sat(1) it(1) was(1) happy(2: a, y) really(2: ea, y) = 9
    assert(rows(1L)._2 == 9L, s"syllables: ${rows(1L)._2}")

    // flesch over materialized columns: exact truncating arithmetic
    val f = Seq((100L, 5L, 130L)).toDF("words", "sentences", "syllables")
      .select(TextFunctions.fleschMilli("words", "sentences", "syllables").as("f"))
      .head.getLong(0)
    // wps_milli = 20000 → 1015*20000 div 1000 = 20300
    // spw_milli = 1300  → 84600*1300 div 1000 = 109980
    assert(f == 206835L - 20300L - 109980L)
    // zero sentences → null
    val z = Seq((10L, 0L, 10L)).toDF("words", "sentences", "syllables")
      .select(TextFunctions.fleschMilli("words", "sentences", "syllables").as("f"))
      .head
    assert(z.isNullAt(0))
  }

  test("multimodal: stub features deterministic, batched, schema stable") {
    val docs = Seq((1L, "hello world"), (2L, "hello world"), (3L, "different")).toDF("doc_id", "text")
    val media = Multimodal.fromDocuments(spark, docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, media).collect()
    assert(feats.length == 3)
    val byId = feats.map(f => f.media_id -> f).toMap
    assert(byId(1L).feat_checksum == byId(2L).feat_checksum) // deterministic
    assert(byId(1L).feat_checksum != byId(3L).feat_checksum)
    assert(byId(1L).feature_vec.length == 8)
    assert(byId(1L).byte_length == "hello world".length)
    // text bytes are not a decodable image → sentinel dimensions
    assert(feats.forall(f => f.width == -1 && f.height == -1 && f.channels == -1))
    val thumbs = Multimodal.thumbnail(spark, media, maxBytes = 4).collect()
    assert(thumbs.forall(_.getAs[Array[Byte]]("thumb").length <= 4))
  }

  test("multimodal: REAL ImageIO decode recovers known PNG dimensions") {
    // hand-built 20x10 RGB PNG with a known luminance split: left half
    // black, right half white → histogram mass at both extremes
    val img = new java.awt.image.BufferedImage(20, 10, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 10; x <- 0 until 20)
      img.setRGB(x, y, if (x < 10) 0x000000 else 0xFFFFFF)
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRecord(7L, "image", baos.toByteArray, "image/png", "test")))
    val f = Multimodal.extractFeatures(spark, media).collect().head
    assert(f.width == 20 && f.height == 10 && f.channels == 3)
    assert(math.abs(f.feature_vec(0) - 0.5f) < 1e-6, "half the pixels are black")
    assert(math.abs(f.feature_vec(7) - 0.5f) < 1e-6, "half the pixels are white")
    // audio modality ignores image decode entirely
    val audio = spark.createDataset(Seq(
      Multimodal.MediaRecord(8L, "audio", baos.toByteArray, "audio/wav", "test")))
    val af = Multimodal.extractFeatures(spark, audio).collect().head
    assert(af.width == -1 && af.channels == -1)
  }

  test("multimodal: synthetic PNG corpus round-trips generator ground truth") {
    val docs = Seq((1L, "abcde"), (2L, "a longer text body here"), (3L, "xy"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticImages(spark, docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    // generator contract: w = 8 + len(text) % 17, h = 8 + id % 13
    assert(feats(1L).width == 8 + 5 % 17 && feats(1L).height == 8 + 1)
    assert(feats(2L).width == 8 + 23 % 17 && feats(2L).height == 8 + 2)
    assert(feats(3L).width == 8 + 2 && feats(3L).height == 8 + 3)
    assert(feats.values.forall(_.channels == 3))
  }

  test("multimodal: REAL javax.sound decode recovers known WAV parameters") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // hand-built 16-bit mono 8000 Hz WAV, 100 frames: first half
    // silence, second half full-scale → histogram mass at both extremes
    val frames = 100
    val data = new Array[Byte](frames * 2)
    for (i <- 50 until 100) { data(2 * i) = 0xFF.toByte; data(2 * i + 1) = 0x7F.toByte }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong),
      AudioFileFormat.Type.WAVE, baos)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRecord(9L, "audio", baos.toByteArray, "audio/wav", "test")))
    val f = Multimodal.extractFeatures(spark, media).collect().head
    assert(f.width == 8000, "width carries the sample rate")
    assert(f.height == 100, "height carries the frame count")
    assert(f.channels == 1)
    assert(math.abs(f.feature_vec(0) - 0.5f) < 1e-6, "half the frames are silent")
    assert(math.abs(f.feature_vec(7) - 0.5f) < 1e-6, "half the frames are full-scale")
    // image modality never attempts audio decode on the same bytes
    val asImage = spark.createDataset(Seq(
      Multimodal.MediaRecord(10L, "image", baos.toByteArray, "image/png", "test")))
    assert(Multimodal.extractFeatures(spark, asImage).collect().head.width == -1)
  }

  test("multimodal: synthetic WAV corpus round-trips generator ground truth") {
    val docs = Seq((1L, "abcde"), (2L, "a longer text body here"), (3L, "xy"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticAudio(spark, docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    // generator contract: frames = 64 + len(text) % 97, 8000 Hz mono
    assert(feats(1L).height == 64 + 5 && feats(2L).height == 64 + 23 && feats(3L).height == 64 + 2)
    assert(feats.values.forall(f => f.width == 8000 && f.channels == 1))
    assert(feats.values.forall(f => math.abs(f.feature_vec.sum - 1f) < 1e-4),
      "amplitude histogram is normalized over sampled frames")
  }

  test("multimodal: REAL ImageIO GIF decode recovers frame count and dims") {
    // hand-built 3-frame 10×6 animated GIF: black, mid-gray, white
    val w = 10; val h = 6
    val baos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    Seq(0, 128, 255).foreach { gray =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w) img.getRaster.setSample(x, y, 0, gray)
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val media = spark.createDataset(Seq(
      Multimodal.MediaRecord(11L, "video", baos.toByteArray, "image/gif", "test")))
    val f = Multimodal.extractFeatures(spark, media).collect().head
    assert(f.width == w && f.height == h)
    assert(f.channels == 3, "channels carries the frame count")
    // temporal profile: dim=8 over 3 frames → indices 0,0,0,1,1,1,2,2
    assert(f.feature_vec(0) == 0f, "first frames are black")
    assert(f.feature_vec(7) == 1f, "last frames are white")
    assert(math.abs(f.feature_vec(3) - 128f / 255f) < 1e-6, "middle frame mid-gray")
  }

  test("multimodal: synthetic GIF corpus round-trips generator ground truth") {
    val docs = Seq((1L, "abcde"), (2L, "a longer text body here"), (3L, "xy"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticVideo(spark, docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    // generator contract: w = 8 + id % 9, h = 8 + len % 11, frames = 2 + len % 6
    assert(feats(1L).width == 9 && feats(1L).height == 8 + 5 && feats(1L).channels == 2 + 5 % 6)
    assert(feats(2L).width == 10 && feats(2L).height == 8 + 23 % 11 && feats(2L).channels == 2 + 23 % 6)
    assert(feats(3L).width == 11 && feats(3L).height == 8 + 2 && feats(3L).channels == 2 + 2)
    // audio modality never attempts GIF decode on the same bytes
    val asAudio = spark.createDataset(Seq(Multimodal.MediaRecord(
      12L, "audio", feats(1L).feature_vec.map(_.toByte), "audio/wav", "test")))
    assert(Multimodal.extractFeatures(spark, asAudio).collect().head.width == -1)
  }

  test("MP4 container metadata: moov/mvhd/tkhd/stsd/stsz atoms recover ground truth") {
    val bytes = Multimodal.buildMp4(w = 320, h = 240, nFrames = 48,
      durationMs = 1920L, seed = 7L)
    val m = MediaContainers.parseVideoMeta(bytes).get
    assert(m.width == 320 && m.height == 240)
    assert(m.durationMs == 1920L, "mvhd timescale 1000 → duration in ms")
    assert(m.codec == "avc1")
    assert(m.nSamples == 48, "stsz sample count")
    // truncated mid-moov: bounds-checked None, never an exception
    (1 until bytes.length by 37).foreach { cut =>
      assert(MediaContainers.parseVideoMeta(bytes.take(cut)).isEmpty ||
        cut >= bytes.length - 80 /* cutting inside trailing mdat is fine */,
        s"truncation at $cut must not parse")
    }
    // corrupt: a box size pointing past the buffer
    val corrupt = bytes.clone()
    corrupt(0) = 0x7F.toByte
    assert(MediaContainers.parseVideoMeta(corrupt).isEmpty)
    // not a container at all
    assert(MediaContainers.parseVideoMeta("plain text".getBytes).isEmpty)
  }

  test("WebM EBML metadata: Info + Tracks walk recovers dims, duration, codec") {
    def el(id: Array[Int], body: Array[Byte]*): Array[Byte] = {
      val len = body.map(_.length).sum
      require(len < 127)
      id.map(_.toByte) ++ Array((0x80 | len).toByte) ++ body.flatten
    }
    val header = el(Array(0x1A, 0x45, 0xDF, 0xA3))
    val info = el(Array(0x15, 0x49, 0xA9, 0x66),
      el(Array(0x2A, 0xD7, 0xB1), Array(0x0F, 0x42, 0x40).map(_.toByte)), // 1e6 ns
      el(Array(0x44, 0x89), // Duration float32 = 2500.0 ticks
        java.nio.ByteBuffer.allocate(4).putFloat(2500f).array()))
    val video = el(Array(0xE0),
      el(Array(0xB0), Array(0x01, 0x40).map(_.toByte)),  // PixelWidth 320
      el(Array(0xBA), Array(0xF0).map(_.toByte)))        // PixelHeight 240
    val track = el(Array(0xAE),
      el(Array(0x86), "V_VP9".getBytes("ISO-8859-1")), video)
    val tracks = el(Array(0x16, 0x54, 0xAE, 0x6B), track)
    val seg = el(Array(0x18, 0x53, 0x80, 0x67), info, tracks)
    val bytes = header ++ seg
    val m = MediaContainers.parseVideoMeta(bytes).get
    assert(m.width == 320 && m.height == 240)
    assert(m.durationMs == 2500L, "2500 ticks × 1e6 ns/tick = 2500 ms")
    assert(m.codec == "V_VP9")
    // truncation safety
    (1 until bytes.length).foreach { cut =>
      MediaContainers.parseVideoMeta(bytes.take(cut)) // must not throw
    }
  }

  test("multimodal: synthetic MP4 corpus carries container metadata through extractFeatures") {
    val docs = Seq((1L, "abcde"), (2L, "a longer text body here"), (3L, "xy"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticMp4(spark, docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    // generator contract: w = 16(1 + id%4), h = 16(1 + len%3),
    // frames = 8 + len % 24 (carried in channels, like GIF)
    assert(feats(1L).width == 32 && feats(1L).height == 16 * (1 + 5 % 3))
    assert(feats(1L).channels == 8 + 5 % 24)
    assert(feats(2L).width == 48 && feats(2L).height == 16 * (1 + 23 % 3))
    assert(feats(2L).channels == 8 + 23 % 24)
    assert(feats(3L).width == 64 && feats(3L).channels == 8 + 2)
    // the frame features stay the stub fingerprint (no JVM codec):
    // distinct per blob via the id-seeded mdat payload
    assert(feats.values.map(_.feat_checksum).toSet.size == 3)
  }

  test("perceptual image dedup: dHash pairs planted brightness-shifted dups, no spurious") {
    val docs = (1L to 50L).map(i => (i, "x" * (10 + i % 23).toInt)).toDF("doc_id", "text")
    val base = Multimodal.syntheticImages(spark, docs, "doc_id", "text")
    val planted = Multimodal.syntheticNearDupImages(
      spark, docs, "doc_id", "text", idOffset = 1000000L, brightness = 8)
    // brightness invariance at the single-hash level
    val b = base.collect().map(r => r.media_id -> r.content).toMap
    val p = planted.collect().map(r => r.media_id -> r.content).toMap
    (1L to 50L).foreach { id =>
      val hb = Multimodal.dHash64(b(id)).get
      val hp = Multimodal.dHash64(p(id + 1000000L)).get
      assert(java.lang.Long.bitCount(hb ^ hp) <= 6, s"doc $id drifted too far")
    }
    // undecodable bytes hash to None, never throw
    assert(Multimodal.dHash64("not an image".getBytes).isEmpty)
    assert(Multimodal.dHash64(Array.emptyByteArray).isEmpty)
    // end-to-end banded pairing: every planted dup found, nothing else
    val pairs = Multimodal.imageDupPairs(spark, base.union(planted))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wanted = (1L to 50L).map(i => (i, i + 1000000L)).toSet
    assert(wanted.subsetOf(pairs), s"missing planted pairs: ${wanted -- pairs}")
    assert(pairs == wanted, s"spurious pairs: ${pairs -- wanted}")
  }

  test("imageDupPairs: no exchange carries the image blobs — only 8-byte sigs shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val docs = (1L to 20L).map(i => (i, "y" * (5 + i % 11).toInt)).toDF("doc_id", "text")
    val media = Multimodal.syntheticImages(spark, docs, "doc_id", "text")
    val pairs = Multimodal.imageDupPairs(spark, media)
    pairs.collect()
    val plan = pairs.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val leaky = plan.collect {
      case s: ShuffleExchangeExec
        if s.output.exists(a => a.name == "content" ||
          a.dataType.typeName == "binary") => s
    }
    assert(leaky.isEmpty,
      s"an exchange carries binary media content:\n${leaky.mkString("\n")}")
  }

  test("MediaContainers: seeded fuzz — random bytes, bit flips and splices never throw") {
    val rnd = new scala.util.Random(1234)
    // pure noise (sometimes magic-prefixed to force the parsers in)
    (1 to 300).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(400))
      rnd.nextBytes(b)
      if (b.length >= 8 && rnd.nextBoolean()) {
        if (rnd.nextBoolean()) { b(4) = 'f'; b(5) = 't'; b(6) = 'y'; b(7) = 'p' }
        else { b(0) = 0x1A.toByte; b(1) = 0x45.toByte; b(2) = 0xDF.toByte; b(3) = 0xA3.toByte }
      }
      MediaContainers.parseVideoMeta(b) // must not throw
    }
    // structured fixtures with random single-bit corruption + splices
    val mp4 = Multimodal.buildMp4(64, 48, 12, 480L, seed = 5L)
    val webm = Multimodal.buildWebm(64, 48, 480L, seed = 5L)
    (1 to 300).foreach { _ =>
      val src = if (rnd.nextBoolean()) mp4 else webm
      val b = src.clone()
      (0 until 1 + rnd.nextInt(4)).foreach { _ =>
        val i = rnd.nextInt(b.length)
        b(i) = (b(i) ^ (1 << rnd.nextInt(8))).toByte
      }
      MediaContainers.parseVideoMeta(b)
      MediaContainers.parseVideoMeta(b.take(rnd.nextInt(b.length + 1)))
      MediaContainers.parseVideoMeta(b ++ b.take(rnd.nextInt(b.length)))
    }
  }

  test("MediaContainers: 64-bit EBML size with small low 32 bits is corrupt, never Some") {
    val src = Multimodal.buildWebm(64, 48, 480L, seed = 7L)
    assert(MediaContainers.parseWebm(src).isDefined, "fixture must parse")
    val seg = src.indices.find(i => i + 4 <= src.length &&
      src(i) == 0x18.toByte && src(i + 1) == 0x53.toByte &&
      src(i + 2) == 0x80.toByte && src(i + 3) == 0x67.toByte).get
    val first = src(seg + 4) & 0xFF
    val oldLen = {
      var l = 1; var m = 0x80
      while ((first & m) == 0 && l < 8) { l += 1; m >>= 1 }; l
    }
    val bodyStart = seg + 4 + oldLen
    val remaining = src.length - bodyStart
    // 2^33 + remaining: truncated to Int this IS the remaining length,
    // so the pre-guard parser would walk the whole body and return a
    // wrong Some for a size that exceeds the parent by 8 GiB
    val v = (1L << 33) + remaining
    val corrupt = Array(0x01.toByte) ++
      (6 to 0 by -1).map(i => ((v >> (8 * i)) & 0xFF).toByte)
    val out = src.take(seg + 4) ++ corrupt ++ src.drop(bodyStart)
    assert(MediaContainers.parseWebm(out).isEmpty,
      "a size exceeding the parent must be corrupt even when its low 32 bits fit")
  }

  test("multimodal: synthetic WebM corpus carries EBML metadata through extractFeatures") {
    val docs = Seq((1L, "abcde"), (2L, "a longer text body here"), (3L, "xy"))
      .toDF("doc_id", "text")
    val media = Multimodal.syntheticWebm(spark, docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    // generator contract: w = 32(1 + id%3), h = 16(1 + len%4);
    // WebM headers carry no sample count → channels pins to 0
    assert(feats(1L).width == 64 && feats(1L).height == 16 * (1 + 5 % 4))
    assert(feats(2L).width == 96 && feats(2L).height == 16 * (1 + 23 % 4))
    assert(feats(3L).width == 32 && feats(3L).height == 16 * (1 + 2 % 4))
    assert(feats.values.forall(_.channels == 0))
    // content fingerprints distinct per blob via the id-seeded cluster
    assert(feats.values.map(_.feat_checksum).toSet.size == 3)
    // and buildWebm output parses back with full metadata
    val m = MediaContainers.parseVideoMeta(
      Multimodal.buildWebm(320, 240, durationMs = 700L, seed = 9L)).get
    assert(m.width == 320 && m.height == 240 && m.durationMs == 700L &&
      m.codec == "V_VP9")
  }

  test("gram_stats: repetition counts match the exploded groupBy form") {
    import graft.functions.expressions.gram_stats
    import graft.functions.TextFunctions.tokens
    // "a b a b a b": bigrams = [a b, b a, a b, b a, a b] → total 5,
    // distinct 2, top 3
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "all distinct tokens in this document"),
      (3L, "solo")).toDF("doc_id", "text")
    val stats = docs.withColumn("s", gram_stats(tokens($"text"), 2))
      .select($"doc_id", $"s.total_ngrams", $"s.distinct_ngrams", $"s.top_count")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(stats(1L) == ((5, 2, 3)))
    assert(stats(2L) == ((5, 5, 1)))
    assert(stats(3L) == ((1, 1, 1)), "short-input whole-text fallback")
    // parity with the shuffled formulation on real corpus text
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
    val viaExpr = real.withColumn("s", gram_stats(tokens($"text"), 2))
      .select($"doc_id", $"s.total_ngrams".as("t"), $"s.distinct_ngrams".as("d"), $"s.top_count".as("m"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    val viaGroup = real
      .select($"doc_id", explode(graft.functions.expressions.shingles_fast(tokens($"text"), 2)).as("g"))
      .groupBy($"doc_id", $"g").count()
      .groupBy($"doc_id")
      .agg(sum($"count").cast("int").as("t"), count(lit(1)).cast("int").as("d"),
        max($"count").cast("int").as("m"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(viaExpr == viaGroup)
  }

  test("gram_stats property: random token arrays match driver-side brute force (seeded)") {
    import graft.functions.expressions.gram_stats
    import graft.functions.TextFunctions.tokens
    val vocab = Array("a", "b", "c", "d")
    val cases = for (seed <- 1 to 8) yield {
      val rnd = new scala.util.Random(seed)
      val n = 1 + rnd.nextInt(30)
      (seed.toLong, Array.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val got = cases.toDF("id", "text")
      .withColumn("s", gram_stats(tokens($"text"), 3))
      .select($"id", $"s.total_ngrams", $"s.distinct_ngrams", $"s.top_count")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    cases.foreach { case (id, text) =>
      val t = text.split(" ")
      val grams = if (t.length < 3) Seq(t.mkString(" "))
        else t.sliding(3).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size)
      assert(got(id) == ((grams.size, counts.size, counts.values.max)), s"seed $id: '$text'")
    }
  }

  test("contamination: shared 13-gram flags the doc; decontaminated drops it") {
    val benchText = "every benchmark question has exactly this one canonical " +
      "phrasing that must never leak into the training corpus at all"
    // 23 tokens in benchText; contaminated doc embeds a verbatim 13-token run
    val leaked13 = benchText.split(" ").slice(4, 17).mkString(" ")
    val docs = Seq(
      (1L, s"some training document that quotes $leaked13 inside a longer body of words"),
      (2L, "a perfectly clean training document with entirely original content throughout " +
        "its whole considerable and unremarkable length of many plain tokens"),
      (3L, "short clean doc")).toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")

    val hits = Contamination.contaminated(docs, "doc_id", "text", bench, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(hits.map(_._1).toSeq == Seq(1L), s"only the quoting doc is contaminated: ${hits.toSeq}")
    assert(hits.head._2 == 1L && hits.head._3 == 1L,
      "exactly the one leaked 13-gram, from one benchmark doc")

    val clean = Contamination.decontaminated(docs, "doc_id", "text", bench, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L, 3L))

    // short-doc fallback: a verbatim copy of a < 13-token benchmark item
    // still matches through the whole-text gram
    val shortBench = Seq((200L, "tiny eval item of seven tokens total")).toDF("doc_id", "text")
    val copied = Seq((5L, "tiny eval item of seven tokens total"),
      (6L, "tiny eval item of seven tokens CHANGED")).toDF("doc_id", "text")
    val shortHits = Contamination.contaminated(copied, "doc_id", "text",
      shortBench, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(shortHits == Set(5L), "verbatim short copy flagged, near-miss not")
  }

  test("stored bench grams: contaminatedAgainstStored is row-identical to the live check, at the stored table's own n") {
    val benchText = "every benchmark question has exactly this one canonical " +
      "phrasing that must never leak into the training corpus at all"
    val leaked13 = benchText.split(" ").slice(4, 17).mkString(" ")
    val docs = Seq(
      (1L, s"some training document that quotes $leaked13 inside a longer body of words"),
      (2L, "a perfectly clean training document with entirely original content throughout " +
        "its whole considerable and unremarkable length of many plain tokens"),
      // id collision with the bench doc: the holdout exemption applies
      // through the stored path exactly as through the live one
      (100L, benchText)).toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val tbl = s"benchgrams_${System.nanoTime()}"
    try {
      // store at a NON-default n: the probe must read n back from the
      // table, not assume 13 — a mismatched gramming matches nothing
      Contamination.storeBenchGrams(spark, bench, "doc_id", "text", tbl, n = 7)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val live = rows(Contamination.contaminated(
        docs, "doc_id", "text", bench, "doc_id", "text", n = 7))
      val stored = rows(Contamination.contaminatedAgainstStored(
        spark, tbl, docs, "doc_id", "text"))
      assert(stored == live, s"stored-gram probe must equal the live check: $stored vs $live")
      assert(stored.map(_._1) == Set(1L),
        "the quoting doc flags; the id-colliding holdout is exempt either way")
      // an EMPTY gram table (benchmark had no docs) means nothing is
      // contaminated — not an NPE on the null max(gram_n)
      val emptyTbl = s"benchgrams_e_${System.nanoTime()}"
      try {
        Contamination.storeBenchGrams(spark,
          spark.emptyDataFrame.select(lit(0L).as("doc_id"), lit("").as("text")),
          "doc_id", "text", emptyTbl)
        assert(Contamination.contaminatedAgainstStored(
          spark, emptyTbl, docs, "doc_id", "text").count() == 0,
          "an empty benchmark must contaminate nothing")
      } finally spark.sql(s"DROP TABLE IF EXISTS $emptyTbl")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("fuzzy contamination: perturbed near-copies flagged with exact distance, tie-break, threshold and unicode semantics") {
    val benchText = "the canonical benchmark answer text that must not leak"
    val docs = Seq(
      // distance 2 from bench 100 (substitution + appended char)
      (1L, "the canonical benchmark answer text that must not leads"),
      // whitespace/case noise only -> distance 0 after normalization
      (2L, "  The   Canonical Benchmark  ANSWER text that must not leak "),
      // way past maxDist
      (3L, "entirely different content that matches nothing in the benchmark set"),
      // length-band prune target: same prefix but 100+ chars longer
      (4L, benchText + " " + ("x" * 120))).toDF("doc_id", "text")
    val bench = Seq((100L, benchText), (101L, "zzz unrelated eval item zzz"))
      .toDF("doc_id", "text")

    val out = Contamination.fuzzyContaminated(docs, "doc_id", "text",
      bench, "doc_id", "text", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted
    assert(out == Seq((1L, 1L, 2L, 100L), (2L, 1L, 0L, 100L)),
      s"doc1 at dist 2, doc2 at dist 0 after normalization, docs 3/4 excluded: $out")

    // closest tie-break: equidistant bench docs resolve to the SMALLER id
    val tieBench = Seq((7L, "aaaa bbbb cccc"), (5L, "aaaa bbbb dddd")).toDF("doc_id", "text")
    val tieDoc = Seq((1L, "aaaa bbbb xxxx")).toDF("doc_id", "text")
    val tie = Contamination.fuzzyContaminated(tieDoc, "doc_id", "text",
      tieBench, "doc_id", "text", maxDist = 10).head()
    assert(tie.getLong(1) == 2L && tie.getLong(2) == 4L && tie.getLong(3) == 5L,
      "two matches at dist 4; closest_bench is the smaller bench id")

    // code-point (not byte) distance: one CJK substitution is distance 1,
    // the semantics the byte-wise DuckDB oracle cannot certify (q84
    // restricts to ASCII for exactly this reason)
    val cjk = Contamination.fuzzyContaminated(
      Seq((1L, "中文文档内容")).toDF("doc_id", "text"), "doc_id", "text",
      Seq((9L, "中文文档内卷")).toDF("doc_id", "text"), "doc_id", "text", maxDist = 2).head()
    assert(cjk.getLong(2) == 1L, "unicode distance counts code points, not bytes")
  }

  test("IVF stored index: bucketed probe scan prunes to probed buckets, results match live search") {
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 5)
    val index = IvfIndex.build(spark, emb, "vec_id", "embedding", nlist = 16)
    val live = IvfIndex.search(spark, index, queries, "vec_id", "embedding", k = 5, nprobe = 4)
      .select("query_id", "rank", "corpus_id").collect().toSet

    IvfIndex.saveIndex(spark, index, "ivf_spec_idx")
    try {
      val stored = IvfIndex.searchStored(spark, "ivf_spec_idx", queries,
        "vec_id", "embedding", k = 5, nprobe = 4)
      assert(stored.select("query_id", "rank", "corpus_id").collect().toSet == live)
      // the stored path must BUCKET-PRUNE: the scan reads a strict
      // subset of the 16 buckets (5 queries x 4 probes <= 16, and the
      // plan records the selection). The shipped wrapper materializes
      // and releases (its plan reads back the checkpointed LogicalRDD),
      // so the prune is asserted on the LAZY plan form.
      val (probedPlan, lazyOut) = IvfIndex.searchStoredPlan(spark,
        "ivf_spec_idx", queries, "vec_id", "embedding", 5, 4)
      val plan = lazyOut.queryExecution.executedPlan.toString
      probedPlan.unpersist(blocking = false)
      val sel = "SelectedBucketsCount".r.findFirstIn(plan)
      assert(sel.isDefined, s"bucketed scan expected in:\n$plan")
      val counts = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan).get
      assert(counts.group(2).toInt == 16 && counts.group(1).toInt <= 16)
    } finally {
      spark.sql("DROP TABLE IF EXISTS ivf_spec_idx")
      spark.sql("DROP TABLE IF EXISTS ivf_spec_idx_centroids")
    }
  }

  test("space_saving_top_k: exact heavy hitters across partition merges; bounded error reported") {
    import graft.functions.expressions.space_saving_top_k
    // planted heavy hitters over a long noise tail, spread over many
    // partitions so the merge path is exercised
    val rows = (
      Seq.fill(500)("alpha") ++ Seq.fill(300)("beta") ++ Seq.fill(200)("gamma") ++
      (1 to 2000).map(i => s"noise_$i")
    )
    val df = spark.sparkContext.parallelize(rows, 8).toDF("item")
    val got = df.agg(space_saving_top_k($"item", 3).as("top"))
      .selectExpr("inline(top)")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == Seq("alpha", "beta", "gamma"), s"got ${got.toSeq}")
    // counts are overestimates by at most the reported error
    got.zip(Seq(500L, 300L, 200L)).foreach { case ((item, c, e), truth) =>
      assert(c >= truth && c - e <= truth, s"$item count=$c error=$e truth=$truth")
    }
    // per-group form: heavy hitter per language over documents
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val perLang = docs.groupBy($"lang")
      .agg(space_saving_top_k(graft.functions.TextFunctions.langId($"text"), 1).as("top"))
      .selectExpr("lang", "top[0].item AS predicted")
      .collect()
    assert(perLang.nonEmpty)
  }

  test("mergeable sketches: per-shard HLL union matches exact distinct within error; overlap estimate sane") {
    import graft.operators.Sketches
    val rows = (1 to 5000).map(i => (i % 7, s"user_${i % 997}")).toDF("shard", "user")
    val daily = Sketches.sketchBy(rows, Seq("shard"), "user")
    assert(daily.count() == 7, "one sketch per shard")
    val est = Sketches.unionEstimate(daily, Seq.empty)
      .collect().head.getAs[Long]("distinct_estimate")
    assert(math.abs(est - 997) / 997.0 <= 0.05, s"union estimate $est vs exact 997")
    // overlap of two half-corpora sharing users 0..499 of each side's 997
    val a = (0 until 997).map(i => ("a", s"user_$i")).toDF("side", "user")
    val b = (500 until 1497).map(i => ("b", s"user_$i")).toDF("side", "user")
    val sk = Sketches.sketchBy(a.union(b), Seq("side"), "user")
      .groupBy().pivot("side").agg(first($"sketch"))
    val overlap = sk.select(Sketches.overlapEstimate($"a", $"b").as("o"))
      .collect().head.getAs[Long]("o")
    assert(math.abs(overlap - 497) <= 60, s"overlap $overlap vs true 497")
  }

  test("multi-block simhash: full recall up to blocks-keyBlocks hamming vs brute force") {
    import graft.operators.Dedup
    // deterministic corpus with planted near-dups at varying distances
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val words = base.split(" ")
    val docs = (0 until 40).map { i =>
      // vary a sliding window of words so pair distances spread out
      val mutated = words.zipWithIndex.map { case (w, j) =>
        if (j >= i % 12 && j < i % 12 + (i % 5)) s"${w}_$i" else w
      }.mkString(" ")
      (i.toLong, mutated)
    }.toDF("doc_id", "text")

    val sigs = Dedup.withSimhash(docs, "text").select($"doc_id", $"sig")
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val budget = 8 - 2 // blocks=8, keyBlocks=2
    val expected = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = hamming(sigs(a), sigs(b)) if h <= budget
    } yield (a, b, h)).toSet

    val got = Dedup.simhashPairsMultiBlock(docs, "doc_id", "text",
      blocks = 8, keyBlocks = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected, s"pigeonhole recall must be exact; missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty, "corpus must actually contain qualifying pairs")

    // keyBlocks=1 degenerates to the simple banding operator's output
    val simple = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 7, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val multi1 = Dedup.simhashPairsMultiBlock(docs, "doc_id", "text",
      blocks = 8, keyBlocks = 1, maxHamming = 7).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(multi1 == simple)
  }

  test("hyperplane_sig matches the composed per-plane-literal form bit for bit") {
    import graft.operators.Similarity
    val ps = Similarity.planes(bits = 16, dim = 8, seed = 42L)
    val vecs = Seq(
      (1L, Array(0.1f, -0.3f, 0.7f, 0.2f, -0.9f, 0.4f, 0.0f, 1.1f)),
      (2L, Array(-1.0f, 0.5f, 0.5f, -0.2f, 0.3f, -0.6f, 0.8f, -0.1f)),
      (3L, Array(0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f))).toDF("id", "vec")
    // the pre-expression composed form: one literal array column per plane
    def composedSig(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      ps.zipWithIndex.map { case (p, i) =>
        val planeLit = array(p.map(lit): _*)
        when(Similarity.dot(vec, planeLit) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
      }.reduce((a, b) => a.bitwiseOR(b))
    val rows = vecs.select($"id",
      graft.functions.expressions.hyperplane_sig($"vec", ps).as("fast"),
      composedSig($"vec").as("slow")).collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"id ${r.getLong(0)}"))
  }

  test("multimodal: frame sampling emits n bounded evenly-spaced frames per blob") {
    val content = Array.tabulate(1000)(_.toByte)
    val media = spark.createDataset(Seq(
      Multimodal.MediaRecord(1L, "video", content, "video/mp4", "test"),
      Multimodal.MediaRecord(2L, "video", Array.emptyByteArray, "video/mp4", "empty")))
    val frames = Multimodal.frameSample(spark, media, n = 4, frameBytes = 16).collect()
    assert(frames.length == 4, "empty blob yields no frames")
    assert(frames.map(_.frame_idx).sorted.toSeq == Seq(0, 1, 2, 3))
    frames.sortBy(_.frame_idx).zipWithIndex.foreach { case (f, i) =>
      assert(f.media_id == 1L && f.frame.length == 16)
      assert(f.frame.head == (1000 * i / 4).toByte, "frame starts at its even offset")
      assert(f.ts_frac == i / 4.0)
    }
  }

  test("contaminatedStream: stream-static gram join flags arrivals against a static benchmark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val benchText = "every benchmark question has exactly this one canonical " +
      "phrasing that must never leak into the training corpus at all"
    val leaked13 = benchText.split(" ").slice(4, 17).mkString(" ")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val hits = Contamination.contaminatedStream(
      input.toDS().toDF("doc_id", "text"), "doc_id", "text", bench, "doc_id", "text")
    val q = hits.writeStream.format("memory").queryName("contam_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq(
        (1L, s"a streamed document that quotes $leaked13 inside its body of words"),
        (2L, "a clean streamed document with entirely original content throughout here")))
      q.processAllAvailable()
      val counts = Contamination.contaminationCounts(spark.table("contam_stream"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(counts.toSeq == Seq((1L, 1L, 1L)),
        s"one hit for the quoting doc, nothing for the clean one: ${counts.toSeq}")
    } finally q.stop()
  }

  test("IVF appendToStored: new vectors join the stored index without a refit") {
    import graft.operators.IvfIndex
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val old = emb.filter($"vec_id" < 400)
    val fresh = emb.filter($"vec_id" >= 400)
    val tbl = s"ivf_append${System.nanoTime()}"
    try {
    val index = IvfIndex.build(spark, old, "vec_id", "embedding", nlist = 16)
    IvfIndex.saveIndex(spark, index, tbl)
    IvfIndex.appendToStored(spark, tbl, fresh, "vec_id", "embedding")

    val queries = emb.filter($"vec_id" >= 400 && $"vec_id" < 405)
    val stored = IvfIndex.searchStored(spark, tbl, queries, "vec_id", "embedding",
      k = 5, nprobe = 4)
      .select("query_id", "rank", "corpus_id").collect().toSet

    // oracle: a live index with the SAME (stored) centroids assigned
    // over the full corpus — append must be exactly that, no refit
    val centroids = IvfIndex.loadCentroids(spark, tbl)
    val liveIndex = IvfIndex.Index(
      centroids.zipWithIndex.map { case (c, i) => i -> c },
      emb.select($"vec_id".as("corpus_id"), $"embedding".as("cvec"))
        .withColumn("cell", explode(
          graft.functions.expressions.nearest_cells($"cvec", centroids, 4)))
        .select($"corpus_id", $"cvec", $"cell"))
    val live = IvfIndex.search(spark, liveIndex, queries, "vec_id", "embedding",
      k = 5, nprobe = 4)
      .select("query_id", "rank", "corpus_id").collect().toSet
    assert(stored == live)
    assert(stored.exists(r => r.getLong(2) >= 400),
      "appended vectors are reachable as neighbors")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"DROP TABLE IF EXISTS ${tbl}_centroids")
    }
  }

  test("rolling-chunk CDC finds partial overlap exact hashing misses") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, s"unique prefix one two three $shared and a unique suffix here now"),
      (2L, s"different opening words entirely $shared closing differently too yes"),
      (3L, "totally unrelated content with none of the shared segment words at all present")
    ).toDF("doc_id", "text")
    // whole-doc exact dedup sees nothing
    assert(Dedup.exact(docs, "doc_id", "text").filter($"dup_count" > 1).count() == 0)
    val pairs = Dedup.chunkDupPairs(docs, "doc_id", "text", window = 4, modulus = 4)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L)), s"expected partial-dup pair, got $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("hashed_set + sorted_jaccard match the composed array_intersect form") {
    import graft.functions.expressions.{hashed_set, sorted_jaccard}
    val df = Seq(
      (Seq("a b", "b c", "c d"), Seq("b c", "c d", "d e")),   // 2/4
      (Seq("x"), Seq("y")),                                   // 0/2
      (Seq("p q", "q r"), Seq("p q", "q r")),                 // 1.0
      (Seq.empty[String], Seq.empty[String]))                 // 0-union → 0.0
      .toDF("sa", "sb")
    val fast = df.select(
      sorted_jaccard(hashed_set($"sa"), hashed_set($"sb")).as("fast")).collect()
    assert(fast(0).getDouble(0) == 0.5 && fast(1).getDouble(0) == 0.0)
    assert(fast(2).getDouble(0) == 1.0 && fast(3).getDouble(0) == 0.0)
    // parity with the composed form wherever the composed form is
    // defined (it divides by zero on the empty-empty row; ours returns 0)
    val both = df.filter(size($"sa") > 0).select(
      sorted_jaccard(hashed_set($"sa"), hashed_set($"sb")).as("fast"),
      (size(array_intersect($"sa", $"sb")).cast("double") /
        (size($"sa") + size($"sb") - size(array_intersect($"sa", $"sb")))).as("composed"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("cosine_sim matches the composed zip_with/aggregate form") {
    import graft.functions.expressions.cosine_sim
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(200)((Array.fill(64)(rnd.nextGaussian().toFloat),
      Array.fill(64)(rnd.nextGaussian().toFloat))) :+
      ((Array.fill(64)(0f), Array.fill(64)(1f)))   // zero norm → 0.0, not NaN
    val df = rows.toDF("a", "b")
    // HOF form divides by zero on the zero-norm row (ANSI) — compare on
    // the nonzero rows; the kernel's zero-norm → 0.0 checked separately
    val both = df.filter(aggregate($"a", lit(0.0d), (s, x) => s + abs(x)) > 0)
      .select(cosine_sim($"a", $"b").as("fast"),
        Similarity.cosineHof($"a", $"b").as("hof")).collect()
    assert(both.length == 200)
    both.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-6,
        s"fast=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
    val zero = Seq((Array.fill(8)(0f), Array.fill(8)(1f))).toDF("a", "b")
      .select(cosine_sim($"a", $"b")).collect()
    assert(zero.head.getDouble(0) == 0.0)
    // identical vectors → exactly-ish 1.0
    val self = df.limit(5).select(cosine_sim($"a", $"a")).collect()
    self.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("nearest_cells ranks centroids by cosine, deterministic tie-break") {
    import graft.functions.expressions.nearest_cells
    // centroids along +x, +y, -x: a vector at (1, 0.1) ranks 0, 1, 2
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0))
    val df = Seq((1L, Array(1.0f, 0.1f)), (2L, Array(-0.2f, 1.0f)))
      .toDF("id", "vec")
      .withColumn("cells", nearest_cells($"vec", cents, 2))
    val rows = df.collect().map(r => r.getAs[Long]("id") -> r.getSeq[Int](2)).toMap
    assert(rows(1L) == Seq(0, 1))
    assert(rows(2L) == Seq(1, 2))
    // double input type works too
    val d = Seq((1L, Array(0.5, 0.5))).toDF("id", "vec")
      .withColumn("cells", nearest_cells($"vec", cents, 3))
    assert(d.collect().head.getSeq[Int](2) == Seq(0, 1, 2))
  }

  test("IVF ANN finds the planted neighbor through cell probing") {
    val index = IvfIndex.build(spark, vectors, "vec_id", "embedding", nlist = 2, nassign = 1)
    assert(index.assigned.count() == 6)
    val top = IvfIndex.search(spark, index,
      vectors.filter($"vec_id" === 1), "vec_id", "embedding", k = 2, nprobe = 2)
      .collect()
    assert(top.nonEmpty && top.head.getAs[Long]("corpus_id") == 2L)
    assert(top.head.getAs[Double]("cosine") > 0.99)
  }
}
