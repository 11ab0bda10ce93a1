package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextMultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "a b a b a b"),
    (3L, "numbers 123 and 456, punctuation!")).toDF("doc_id", "text")

  test("textStats computes counts and ratios") {
    val s = TextAnalysis.textStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val r1 = s(0)
    assert(r1.getAs[Int]("n_tokens") == 9)
    assert(r1.getAs[Int]("n_unique") == 8)       // 'the' twice
    assert(r1.getAs[Double]("stop_ratio") == math.rint(2.0 / 9 * 1e6) / 1e6)
    val r3 = s(2)
    assert(r3.getAs[Double]("digit_ratio") > 0 && r3.getAs[Double]("punct_ratio") > 0)
  }

  test("qualityScore penalizes repetitive low-diversity text") {
    val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .orderBy("doc_id").select("quality").as[Double].collect()
    assert(q(1) < q(0), s"repetitive doc scored ${q(1)} vs ${q(0)}")
    assert(q.forall(v => v >= 0 && v <= 1))
  }

  test("tokenCounts: regex tokens and subword estimate") {
    val t = TextAnalysis.tokenCounts(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Int, Int)].collect()
    assert(t(0)._2 == 9)
    assert(t(2)._2 == 5)  // numbers,123,and,punctuation + 456
    assert(t(0)._3 == math.ceil(43 / 4.0).toInt)
  }

  test("fingerprint is whitespace/case-insensitive") {
    val pair = Seq((1L, "Hello  World"), (2L, "hello world")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(pair, "doc_id", "text")
      .select("fingerprint").as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("languageId picks the profile with most marker hits, first-wins on ties") {
    val profiles = Seq("aa" -> Seq("x"), "bb" -> Seq("y"), "cc" -> Seq("z"))
    val d = Seq((1L, "x x y"), (2L, "y z z"), (3L, "x y"), (4L, "w w w"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.languageId(d, "doc_id", "text", profiles)
      .orderBy("doc_id").as[(Long, String, Int)].collect()
    assert(out(0)._2 == "aa" && out(0)._3 == 2)
    assert(out(1)._2 == "cc")
    assert(out(2)._2 == "aa") // tie 1-1 → first profile wins
    assert(out(3)._2 == "aa" && out(3)._3 == 0) // all-zero tie → first
  }

  test("binaryMeta reports byte length and head hex") {
    val bin = docs.select($"doc_id", encode($"text", "UTF-8").as("b"))
    val m = Multimodal.binaryMeta(bin, "doc_id", "b").orderBy("doc_id").collect()
    assert(m(0).getAs[Int]("n_bytes") == 43)
    assert(m(0).getAs[String]("head_hex") == "7468652071756963") // "the quic"
  }

  test("frameSlices chunks payloads into fixed-size frames") {
    val bin = Seq((1L, Array.tabulate(10)(_.toByte))).toDF("doc_id", "b")
    val f = Multimodal.frameSlices(bin, "doc_id", "b", frameSize = 4)
      .orderBy("frame_idx").as[(Long, Int, Array[Byte])].collect()
    assert(f.length == 3)
    assert(f(0)._3.toSeq == Seq[Byte](0, 1, 2, 3))
    assert(f(2)._3.toSeq == Seq[Byte](8, 9))
  }

  test("decodeFramesStub emits typed per-frame metadata with real byte stats") {
    implicit val s = spark
    val bin = Seq((7L, Array.tabulate(100)(i => (i % 256).toByte)))
      .toDF("doc_id", "b")
    val frames = Multimodal.decodeFramesStub(bin, "doc_id", "b", frameSize = 40)
      .collect().sortBy(_.frameIdx)
    assert(frames.length == 3)
    assert(frames.map(_.nBytes).toSeq == Seq(40, 40, 20))
    assert(frames(0).meanByte == (0 until 40).sum.toDouble / 40)
    assert(frames.forall(f => f.width >= 16 && f.height >= 16))
  }

  test("decodeImages: real JDK PNG decode recovers dims and luma; poison tolerated") {
    implicit val s = spark
    val rows = Seq(
      (1L, Multimodal.solidPng(40, 30, 128)),
      (2L, Multimodal.solidPng(17, 5, 0)),
      (3L, Array.tabulate(64)(i => (i * 7 % 256).toByte)), // not an image
      (4L, Array.empty[Byte])
    ).toDF("doc_id", "b")
    val out = Multimodal.decodeImages(rows, "doc_id", "b")
      .collect().map(m => m.id -> m).toMap
    assert(out(1L).decoded && out(1L).width == 40 && out(1L).height == 30)
    assert(math.abs(out(1L).meanLuma - 128.0) < 0.5)
    assert(out(2L).decoded && out(2L).width == 17 && out(2L).height == 5)
    assert(out(2L).meanLuma == 0.0)
    assert(!out(3L).decoded && !out(4L).decoded)
  }

  test("decodeVideoFrames: MJPEG-in-AVI RIFF walk + JPEG decode; poison tolerated") {
    implicit val s = spark
    val frames1 = Seq(Multimodal.solidJpeg(32, 24, 100),
      Multimodal.solidJpeg(32, 24, 200))
    val frames2 = Seq(Multimodal.solidJpeg(17, 9, 0))   // odd-size chunk → pad path
    val rows = Seq(
      (1L, Multimodal.mjpegAvi(frames1, 32, 24)),
      (2L, Multimodal.mjpegAvi(frames2, 17, 9)),
      (3L, Array.tabulate(64)(i => (i * 3 % 256).toByte)), // not RIFF
      (4L, "RIFF".getBytes("US-ASCII") ++ Array.fill(20)(0.toByte)) // RIFF, not AVI
    ).toDF("doc_id", "b")
    val out = Multimodal.decodeVideoFrames(rows, "doc_id", "b")
      .collect().groupBy(_.id)
    assert(out(1L).length == 2)
    val f1 = out(1L).sortBy(_.frameIdx)
    assert(f1.forall(f => f.decoded && f.width == 32 && f.height == 24))
    assert(math.abs(f1(0).meanLuma - 100.0) <= 2.0)
    assert(math.abs(f1(1).meanLuma - 200.0) <= 2.0)
    assert(out(2L).length == 1 && out(2L).head.decoded &&
      out(2L).head.width == 17 && out(2L).head.height == 9 &&
      math.abs(out(2L).head.meanLuma - 0.0) <= 2.0)
    assert(out(3L).length == 1 && !out(3L).head.decoded)
    assert(out(4L).length == 1 && !out(4L).head.decoded)
  }

  test("mjpegAvi container is well-formed RIFF (sizes consistent)") {
    val avi = Multimodal.mjpegAvi(
      Seq(Multimodal.solidJpeg(16, 16, 50)), 16, 16)
    def u32(p: Int): Long = (avi(p) & 0xFFL) | ((avi(p + 1) & 0xFFL) << 8) |
      ((avi(p + 2) & 0xFFL) << 16) | ((avi(p + 3) & 0xFFL) << 24)
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF")
    assert(u32(4) == avi.length - 8)   // RIFF size covers the whole body
    assert(new String(avi, 8, 4, "US-ASCII") == "AVI ")
  }

  test("audioFeatures: real JDK WAV decode recovers rate/frames/RMS; poison tolerated") {
    implicit val s = spark
    val rows = Seq(
      (1L, Multimodal.pcm16Wav(8000, 1000, 256)),
      (2L, Multimodal.pcm16Wav(44100, -3000, 77)),
      (3L, Array.tabulate(100)(_.toByte))                  // not audio
    ).toDF("doc_id", "b")
    val out = Multimodal.audioFeatures(rows, "doc_id", "b")
      .collect().map(m => m.id -> m).toMap
    assert(out(1L).decoded && out(1L).sampleRate == 8000 &&
      out(1L).channels == 1 && out(1L).nFrames == 256L)
    assert(math.abs(out(1L).rms - 1000.0) < 1e-9)
    assert(out(2L).sampleRate == 44100 && out(2L).nFrames == 77L)
    assert(math.abs(out(2L).rms - 3000.0) < 1e-9) // RMS of constant -a is a
    assert(!out(3L).decoded)
  }

  test("resampleAudio: constant signal resamples exactly, sine within linear-interp band, poison tolerated") {
    implicit val s = spark
    val amp = 9000
    val sine = Array.tabulate(800)(i =>
      (amp * math.sin(2 * math.Pi * 440 * i / 8000.0)).toShort)
    val rows = Seq(
      (1L, Multimodal.pcm16Wav(8000, 1000, 100)),          // constant up
      (2L, Multimodal.pcm16Wav(16000, -2500, 101)),        // constant down
      (3L, Multimodal.pcm16WavSamples(8000, sine)),        // sine up
      (4L, Array.tabulate(50)(_.toByte))                   // not audio
    ).toDF("doc_id", "b")
    val out = Multimodal.resampleAudio(rows, "doc_id", "b", 16000)
      .collect().map(r => r.id -> r).toMap
    // upsample 2x: nOut = 2·nIn − 1; constant → same constant exactly
    assert(out(1L).decoded && out(1L).nOut == 199L &&
      math.abs(out(1L).rmsOut - 1000.0) < 1e-9)
    // same-rate "resample" degenerates to identity
    assert(out(2L).decoded && out(2L).srcRate == 16000 &&
      out(2L).nOut == 101L && math.abs(out(2L).rmsOut - 2500.0) < 1e-9)
    // sine at 440/8000: interpolated midpoints attenuate by
    // cos(π·440/8000) ≈ 0.985 → RMS within 3% of A/√2
    val expected = amp / math.sqrt(2.0)
    assert(out(3L).decoded && out(3L).nOut == 1599L &&
      math.abs(out(3L).rmsOut - expected) < 0.03 * expected)
    assert(!out(4L).decoded)
    // write-back round trip: the emitted WAV re-decodes at the target
    // rate with the same frame count and (constant) RMS
    val rt = Multimodal.audioFeatures(
        Seq((1L, out(1L).wav)).toDF("doc_id", "b"), "doc_id", "b")
      .head()
    assert(rt.decoded && rt.sampleRate == 16000 && rt.nFrames == 199L &&
      math.abs(rt.rms - 1000.0) < 1e-9)
  }

  test("resampleAudio: true downsample halves the rate; stereo channels resample independently") {
    implicit val s = spark
    val stereo = Array.tabulate(120)(i =>
      (if (i % 2 == 0) 800 else -600).toShort)             // L=800, R=−600
    val rows = Seq(
      (1L, Multimodal.pcm16Wav(16000, 3000, 101)),
      (2L, Multimodal.pcm16WavSamples(8000, stereo, channels = 2))
    ).toDF("doc_id", "b")
    val down = Multimodal.resampleAudio(rows, "doc_id", "b", 8000)
      .collect().map(r => r.id -> r).toMap
    // nOut = ⌊(101−1)·8000/16000⌋+1 = 51; constant stays exact
    assert(down(1L).decoded && down(1L).nOut == 51L &&
      math.abs(down(1L).rmsOut - 3000.0) < 1e-9)
    // stereo: 60 frames → same-rate identity, RMS = √((800²+600²)/2)
    assert(down(2L).decoded && down(2L).channels == 2 &&
      down(2L).nIn == 60L && down(2L).nOut == 60L &&
      math.abs(down(2L).rmsOut - math.sqrt((800.0 * 800 + 600.0 * 600) / 2)) < 1e-9)
  }

  test("parseWavPcm16: chunk walk handles extra/odd-length chunks; declines non-canonical payloads") {
    val base = Multimodal.pcm16Wav(8000, 500, 64)
    assert(Multimodal.parseWavPcm16(base).contains(
      Multimodal.WavPcm16(8000, 1, 44, 64)))
    // splice an odd-length vendor chunk between fmt and data — the
    // walk must skip it (word-aligned) and still find the data chunk
    val extra = {
      val tag = "junk".getBytes("US-ASCII")
      val body = Array[Byte](1, 2, 3) // odd length → 1 pad byte
      val buf = java.nio.ByteBuffer
        .allocate(base.length + 8 + body.length + 1)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(base, 0, 36)             // RIFF..fmt chunk
        .put(tag).putInt(body.length).put(body).put(0.toByte)
        .put(base, 36, base.length - 36) // data chunk
      buf.array()
    }
    val parsed = Multimodal.parseWavPcm16(extra)
    assert(parsed.exists(w => w.rate == 8000 && w.channels == 1 &&
      w.nFrames == 64 && w.off == 44 + 12))
    // IEEE-float WAV (format tag 3) and truncated payloads decline
    val floatWav = base.clone(); floatWav(20) = 3
    assert(Multimodal.parseWavPcm16(floatWav).isEmpty)
    assert(Multimodal.parseWavPcm16(base.take(40)).isEmpty)
    assert(Multimodal.parseWavPcm16(Array.tabulate(100)(_.toByte)).isEmpty)
  }

  test("audio fast path vs AudioSystem fallback: identical samples as WAV and AIFF decode identically") {
    implicit val s = spark
    val samples = Array.tabulate(300)(i =>
      (4000 * math.sin(2 * math.Pi * 220 * i / 8000.0)).toShort)
    val wav = Multimodal.pcm16WavSamples(8000, samples)
    val aiff = {
      // same PCM as big-endian AIFF — parseWavPcm16 declines ("FORM"
      // container), forcing the AudioSystem route
      val be = java.nio.ByteBuffer.allocate(samples.length * 2)
      samples.foreach(be.putShort)
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, true)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(be.array()), fmt, samples.length.toLong)
      val out = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.AIFF, out)
      out.toByteArray
    }
    assert(Multimodal.parseWavPcm16(wav).isDefined)
    assert(Multimodal.parseWavPcm16(aiff).isEmpty)
    val feats = Multimodal.audioFeatures(
        Seq((1L, wav), (2L, aiff)).toDF("doc_id", "b"), "doc_id", "b")
      .collect().map(m => m.id -> m).toMap
    assert(feats(1L).decoded && feats(2L).decoded)
    assert(feats(1L).sampleRate == feats(2L).sampleRate &&
      feats(1L).nFrames == feats(2L).nFrames &&
      math.abs(feats(1L).rms - feats(2L).rms) < 1e-9)
    val res = Multimodal.resampleAudio(
        Seq((1L, wav), (2L, aiff)).toDF("doc_id", "b"), "doc_id", "b", 16000)
      .collect().map(r => r.id -> r).toMap
    assert(res(1L).decoded && res(2L).decoded)
    assert(res(1L).nOut == res(2L).nOut &&
      math.abs(res(1L).rmsOut - res(2L).rmsOut) < 1e-9 &&
      java.util.Arrays.equals(res(1L).wav, res(2L).wav))
  }

  test("topBigrams counts overlapping pairs and skips sub-2-token docs") {
    val d = Seq(
      (1L, "a b a b"),   // "a b" ×2, "b a" ×1
      (2L, "a b"),       // "a b" ×1
      (3L, "solo"),      // no bigram
      (4L, "")           // no bigram
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topBigrams(d, "text", k = 10)
      .as[(String, Long)].collect().toSet
    assert(out == Set(("a b", 3L), ("b a", 1L)))
  }

  test("topBigrams top-k is deterministic under count ties (bigram tiebreak)") {
    val d = Seq((1L, "z y x w")).toDF("doc_id", "text") // 3 bigrams, n=1 each
    val out = TextAnalysis.topBigrams(d, "text", k = 2)
      .as[(String, Long)].collect().toSeq
    assert(out == Seq(("x w", 1L), ("y x", 1L)))
  }

  test("repetitionRatio flags degenerate repetition, zero for clean or tiny docs") {
    val d = Seq(
      (1L, "a b c a b c a b c"),   // 7 grams: abc,bca,cab,abc,bca,cab,abc → 3 distinct
      (2L, "one two three four"),  // 2 grams, all distinct
      (3L, "hi there"),            // < 3 tokens
      (4L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionRatio(d, "doc_id", "text", n = 3)
      .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((7, math.rint((1.0 - 3.0 / 7.0) * 1e6) / 1e6)))
    assert(out(2L) == ((2, 0.0)))
    assert(out(3L) == ((0, 0.0)))
    assert(out(4L) == ((0, 0.0)))
  }

  test("tokenEntropy: zero for single-token repeats, ln(n) for all-distinct") {
    val d = Seq(
      (1L, "x x x x"),      // one distinct token → entropy 0
      (2L, "a b c d")       // uniform over 4 → entropy ln(4)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(d, "doc_id", "text")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((4, 0.0)))
    assert(out(2L) == ((4, math.rint(math.log(4) * 1e6) / 1e6)))
  }

  test("contiguousPack assigns packs by cumulative start offset within each stratum") {
    val d = Seq(
      (1L, "en", ("w " * 1000).trim), // 1000 toks: pack 0, offset 0
      (2L, "en", ("w " * 1500).trim), // starts at 1000: pack 0, offset 1000 (straddles)
      (3L, "en", ("w " * 10).trim),   // starts at 2500: pack 1, offset 452
      (4L, "de", ("w " * 5).trim)     // own stratum: pack 0, offset 0
    ).toDF("doc_id", "lang", "text")
    val out = Packing.contiguousPack(d, "doc_id", "text", "lang", 2048)
      .select("doc_id", "n_tok", "pack_id", "tok_offset")
      .as[(Long, Int, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1000, 0L, 0)))
    assert(out(2L) == ((2L, 1500, 0L, 1000)))
    assert(out(3L) == ((3L, 10, 1L, 2500 - 2048)))
    assert(out(4L) == ((4L, 5, 0L, 0)))
  }

  test("signalPanel is bit-identical to the four standalone operators it fuses") {
    val profiles = Seq("en" -> Seq("the", "cat"), "xx" -> Seq("zig", "zag"))
    val d = Seq(
      (1L, "the cat sat on the mat . the cat sat"),
      (2L, "zig zag zig zag 123 !!"),
      (3L, "one"),
      (4L, "a b a b a b a b")).toDF("doc_id", "text")
    val panel = TextAnalysis.signalPanel(d, "doc_id", "text", profiles)
      .collect().map(r => r.getLong(0) -> r).toMap
    val stats = TextAnalysis.textStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val qual = TextAnalysis.qualityScore(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val lang = TextAnalysis.languageId(d, "doc_id", "text", profiles)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    val rep = TextAnalysis.repetitionRatio(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    for (id <- Seq(1L, 2L, 3L, 4L)) {
      val p = panel(id); val s = stats(id)
      for (i <- 1 to 7) assert(p.get(i) == s.get(i), s"doc $id stats col $i")
      assert(p.getDouble(8) == qual(id), s"doc $id quality")
      assert((p.getString(9), p.getInt(10)) == lang(id), s"doc $id lang")
      assert((p.getInt(11), p.getDouble(12)) == rep(id), s"doc $id repetition")
    }
  }

  test("materializeWindows concatenates docs in slot order with boundary markers") {
    val counts = Seq((1L, "a", 2), (2L, "a", 2), (3L, "a", 2), (9L, "a", 9))
      .toDF("doc_id", "lang", "n")
    val ids = Seq((1L, Seq(5, 6)), (2L, Seq(7, 8)), (3L, Seq(9, 9)),
      (9L, Seq(1))).toDF("doc_id", "ids")
    val packs = Packing.bucketPackCounted(counts, "doc_id", "n", "lang",
      contextLen = 4, saltBlocks = 1)
    val wins = Packing.materializeWindows(packs, ids, "doc_id", "ids", "lang")
      .orderBy("pack_seq").collect()
    // n=9 > ctx 4 → excluded (the chunking route); docs 1,2 fill
    // window 0 (cap = 2), doc 3 starts window 1
    assert(wins.length == 2)
    assert(wins(0).getAs[Long]("n_docs") == 2L)
    assert(wins(0).getAs[scala.collection.Seq[Int]]("ids").toSeq == Seq(5, 6, -2, 7, 8))
    assert(wins(0).getAs[Int]("n_ids") == 5)
    assert(wins(1).getAs[Long]("n_docs") == 1L &&
      wins(1).getAs[scala.collection.Seq[Int]]("ids").toSeq == Seq(9, 9))
  }

  test("bucketPackCounted with whitespace counts equals bucketPack") {
    val d = ((0L until 20L).map(i => (i, "en", ("w " * (5 + (i % 4)).toInt).trim)) :+
      ((99L, "en", ("w " * 200).trim))).toDF("doc_id", "lang", "text")
    import org.apache.spark.sql.functions._
    val counted = Packing.bucketPackCounted(
      d.select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).as("n")),
      "doc_id", "n", "lang", contextLen = 16, saltBlocks = 2)
      .collect().map(_.toSeq).toSet
    val direct = Packing.bucketPack(d, "doc_id", "text", "lang",
      contextLen = 16, saltBlocks = 2).collect().map(_.toSeq).toSet
    assert(counted == direct)
  }

  test("bucketPack never straddles, fills windows to capacity, flags over-long docs") {
    // 20 docs of 30 toks (cap 4 at ctx 128), 6 of 50 (cap 2), 1 of 200 (overflow)
    val d = ((0L until 20L).map(i => (i, "en", ("w " * 30).trim)) ++
      (100L until 106L).map(i => (i, "en", ("w " * 50).trim)) ++
      Seq((200L, "en", ("w " * 200).trim))).toDF("doc_id", "lang", "text")
    val out = Packing.bucketPack(d, "doc_id", "text", "lang",
      contextLen = 128, saltBlocks = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getLong(4), r.getInt(5)))
    // over-long doc flagged
    assert(out.filter(_._1 == 200L).map(r => (r._5, r._6)).toSeq == Seq((-1L, -1)))
    val packed = out.filter(_._5 >= 0L)
    // no straddle: every window's token total fits the context
    packed.groupBy(r => (r._2, r._3, r._4, r._5)).foreach { case (_, rs) =>
      assert(rs.map(_._3).sum <= 128, rs.mkString(","))
      // slots are 0..n-1 within the window
      assert(rs.map(_._6).sorted.toSeq == (0 until rs.length))
    }
    // full windows dominate: 30-tok class packs 4/window per block
    val full30 = packed.filter(r => r._3 == 30)
      .groupBy(r => (r._4, r._5)).values.count(_.length == 4)
    assert(full30 >= 3, s"expected mostly full windows, got $full30")
    // deterministic under repartition
    val again = Packing.bucketPack(d.repartition(7), "doc_id", "text", "lang",
      contextLen = 128, saltBlocks = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getInt(3), r.getLong(4), r.getInt(5)))
    assert(out.toSet == again.toSet)
  }

  test("imageDHash: ramp all-ones, solid zero, brightness-invariant, bump flips <= 1 bit, poison tolerated") {
    implicit val s = spark
    val rows = Seq(
      (1L, Multimodal.rampPng(40, 32)),
      (2L, Multimodal.solidPng(40, 32, 77)),
      (3L, Multimodal.cellPatternPng(45, 36, seed = 9L)),
      (4L, Multimodal.cellPatternPng(45, 36, seed = 9L, brightness = 8)),
      (5L, Multimodal.cellPatternPng(45, 36, seed = 9L, brightness = 16,
        bump00 = 25)),
      (6L, Multimodal.cellPatternPng(45, 36, seed = 10L)),
      (7L, Array.tabulate(64)(i => (i * 7 % 256).toByte)) // not an image
    ).toDF("doc_id", "b")
    val h = Multimodal.imageDHash(rows, "doc_id", "b")
      .collect().map(m => m.id -> m).toMap
    assert(h(1L).decoded && h(1L).dhash == -1L)
    assert(h(2L).decoded && h(2L).dhash == 0L)
    assert(h(3L).dhash == h(4L).dhash,
      "uniform brightness shift must preserve every cell comparison")
    assert(java.lang.Long.bitCount(h(3L).dhash ^ h(5L).dhash) <= 1,
      "a bump confined to cell (0,0) can flip only bit (0,0)")
    assert(java.lang.Long.bitCount(h(3L).dhash ^ h(6L).dhash) > 8,
      "different seeds must disagree on many bits")
    assert(!h(7L).decoded)
  }

  test("audioDHash: staircase all-ones, constant zero, gain-invariant, bump flips <= 1 bit, poison tolerated") {
    implicit val s = spark
    val rows = Seq(
      (1L, Multimodal.staircaseWav()),
      (2L, Multimodal.pcm16Wav(8000, 1200, 650)),
      (3L, Multimodal.windowPatternWav(seed = 5L)),
      (4L, Multimodal.windowPatternWav(seed = 5L, gain = 2)),
      (5L, Multimodal.windowPatternWav(seed = 5L, gain = 2, bump0 = 800)),
      (6L, Multimodal.windowPatternWav(seed = 6L)),
      (7L, Array.tabulate(64)(i => (i * 7 % 256).toByte)) // not a WAV
    ).toDF("doc_id", "b")
    val h = Multimodal.audioDHash(rows, "doc_id", "b")
      .collect().map(m => m.id -> m).toMap
    assert(h(1L).decoded && h(1L).ahash == -1L)
    assert(h(2L).decoded && h(2L).ahash == 0L)
    assert(h(3L).ahash == h(4L).ahash,
      "integer gain must preserve every window comparison")
    assert(java.lang.Long.bitCount(h(3L).ahash ^ h(5L).ahash) <= 1,
      "a bump confined to window 0 can flip only bit 0")
    assert(java.lang.Long.bitCount(h(3L).ahash ^ h(6L).ahash) > 8,
      "different seeds must disagree on many bits")
    assert(!h(7L).decoded)
  }

  test("audioNearDup finds exactly the planted within-group pairs") {
    implicit val s = spark
    val clips = (0 until 3).flatMap { g =>
      val seed = 40L + g * 3
      Seq(
        (g * 10L, Multimodal.windowPatternWav(seed)),
        (g * 10L + 1, Multimodal.windowPatternWav(seed, gain = 2)),
        (g * 10L + 2, Multimodal.windowPatternWav(seed, gain = 2, bump0 = 800)))
    }.toDF("clip_id", "wav")
    val pairs = Multimodal.audioNearDup(clips, "clip_id", "wav", maxDist = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val within = pairs.filter { case (a, b, _) => a / 10 == b / 10 }
    val expected = (0 until 3).flatMap { g =>
      Seq((g * 10L, g * 10L + 1), (g * 10L, g * 10L + 2),
        (g * 10L + 1, g * 10L + 2))
    }.toSet
    assert(within.map(p => (p._1, p._2)).toSet == expected)
    assert(within.forall(_._3 <= 1),
      s"planted copies must be Hamming <= 1, got ${within.mkString(",")}")
  }

  test("videoFrameDHash matches imageDHash on the same JPEG; videoNearDup pairs on shared frames") {
    implicit val s = spark
    def f(seed: Long) = Multimodal.cellPatternJpeg(40, 32, seed)
    val vids = Seq(
      (1L, Multimodal.mjpegAvi(Seq(f(1), f(2), f(3)), 40, 32)),
      (2L, Multimodal.mjpegAvi(Seq(f(1), f(2), f(9)), 40, 32)), // shares 2 with 1
      (3L, Multimodal.mjpegAvi(Seq(f(2), f(7), f(8)), 40, 32)), // shares 1 with 1 and 2
      (4L, Array.tabulate(64)(i => (i * 3 % 256).toByte))       // poison
    ).toDF("vid_id", "avi")
    val fh = Multimodal.videoFrameDHash(vids, "vid_id", "avi")
      .collect()
    assert(fh.filter(_.id == 4L).forall(!_.decoded))
    val frame0 = fh.find(v => v.id == 1L && v.frameIdx == 0).get
    val still = Multimodal.imageDHash(
      Seq((1L, f(1))).toDF("doc_id", "png"), "doc_id", "png")
      .collect().head
    assert(frame0.decoded && still.decoded && frame0.dhash == still.dhash,
      "a video frame must hash exactly like the same JPEG as a still")
    val pairs = Multimodal.videoNearDup(vids, "vid_id", "avi", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSet == Set((1L, 2L, 2L)),
      s"only the 2-shared-frame couple pairs at minShared=2, got ${pairs.mkString(",")}")
  }

  test("imageNearDup finds exactly the planted within-group pairs") {
    implicit val s = spark
    val imgs = (0 until 3).flatMap { g =>
      val seed = 100L + g * 7
      Seq(
        (g * 10L, Multimodal.cellPatternPng(40 + g, 32 + g, seed)),
        (g * 10L + 1, Multimodal.cellPatternPng(40 + g, 32 + g, seed,
          brightness = 8)),
        (g * 10L + 2, Multimodal.cellPatternPng(40 + g, 32 + g, seed,
          brightness = 16, bump00 = 25)))
    }.toDF("img_id", "png")
    val pairs = Multimodal.imageNearDup(imgs, "img_id", "png", maxDist = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val within = pairs.filter { case (a, b, _) => a / 10 == b / 10 }
    val expected = (0 until 3).flatMap { g =>
      Seq((g * 10L, g * 10L + 1), (g * 10L, g * 10L + 2),
        (g * 10L + 1, g * 10L + 2))
    }.toSet
    assert(within.map(p => (p._1, p._2)).toSet == expected)
    assert(within.forall(_._3 <= 1),
      s"planted copies must be Hamming <= 1, got ${within.mkString(",")}")
  }

  test("videoSceneCuts: first-frame cut convention, identical frames are " +
       "never cuts, shot indices run 0..n_cuts-1, poison frames excluded") {
    implicit val s = spark
    def f(seed: Long) = Multimodal.cellPatternJpeg(40, 32, seed)
    val poison = Array.tabulate(64)(i => (i * 3 % 256).toByte)
    val vids = Seq(
      // A A B B C: cuts at 0 (first), 2 (A→B), 4 (B→C)
      (1L, Multimodal.mjpegAvi(Seq(f(1), f(1), f(2), f(2), f(3)), 40, 32)),
      // static video: single shot, one cut (the first frame)
      (2L, Multimodal.mjpegAvi(Seq(f(5), f(5), f(5)), 40, 32)),
      // a poison frame mid-video must be EXCLUDED, not manufacture two
      // cuts: A poison A compares A→A across the gap ⇒ one shot
      (3L, Multimodal.mjpegAvi(Seq(f(7), poison, f(7)), 40, 32))
    ).toDF("vid_id", "avi")
    val out = Multimodal.videoSceneCuts(vids, "vid_id", "avi", threshold = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2), r.getInt(3), r.getInt(4)))
    val v1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(v1.map(_._4).toSeq == Seq(1, 0, 1, 0, 1), s"v1 cuts: ${v1.mkString(",")}")
    assert(v1.map(_._5).toSeq == Seq(0, 0, 1, 1, 2), s"v1 shots: ${v1.mkString(",")}")
    assert(v1.head._3 == -1, "first frame's hamming is null")
    assert(v1(1)._3 == 0 && v1(3)._3 == 0, "identical frames ⇒ Hamming 0")
    val v2 = out.filter(_._1 == 2L).sortBy(_._2)
    assert(v2.map(_._4).sum == 1 && v2.forall(_._5 == 0))
    val v3 = out.filter(_._1 == 3L).sortBy(_._2)
    assert(v3.map(_._2).toSeq == Seq(0, 2), "poison frame row excluded")
    assert(v3.map(_._4).toSeq == Seq(1, 0) && v3.last._3 == 0,
      s"A→A across the poison gap is not a cut: ${v3.mkString(",")}")
  }

  test("shotKeyframes: exactly one deterministic MIDDLE frame per shot " +
       "(even shots take the earlier center); static and montage shapes") {
    implicit val s = spark
    def f(seed: Long) = Multimodal.cellPatternJpeg(40, 32, seed)
    val vids = Seq(
      // A A B B B C → shots {0,1} {2,3,4} {5} → keyframes 0, 3, 5
      (1L, Multimodal.mjpegAvi(
        Seq(f(1), f(1), f(2), f(2), f(2), f(3)), 40, 32)),
      // one static 4-frame shot → even length: the EARLIER center (1)
      (2L, Multimodal.mjpegAvi(Seq(f(5), f(5), f(5), f(5)), 40, 32)),
      // rapid montage A B C: every frame its own shot and keyframe
      (3L, Multimodal.mjpegAvi(Seq(f(7), f(8), f(9)), 40, 32))
    ).toDF("vid_id", "avi")
    val out = Multimodal.shotKeyframes(vids, "vid_id", "avi", threshold = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(
      (1L, 0, 2L, 0), (1L, 1, 3L, 3), (1L, 2, 1L, 5),
      (2L, 0, 4L, 1),
      (3L, 0, 1L, 0), (3L, 1, 1L, 1), (3L, 2, 1L, 2)), s"got $out")
  }
}
