package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: media as opaque `binary` columns plus typed metadata.
  *
  * Two execution styles, both real and tested:
  *  - pure-column ops ([[binaryMeta]], [[frameSlices]]) — codegen'd
  *    binary functions, fused into the scan;
  *  - batched per-partition decode ([[decodeFramesStub]],
  *    [[resampleAudio]]) — `mapPartitions` over the typed Dataset, the
  *    Scala analog of PySpark's `mapInPandas`: one iterator per
  *    partition, schema declared by the case class Encoder, no
  *    per-row JVM↔UDF boundary.
  *
  * Image, audio AND video-container decode are REAL — the JDK ships
  * codecs (`javax.imageio`: PNG/BMP/GIF/JPEG; `javax.sound.sampled`:
  * WAV/AIFF/AU), used by [[decodeImages]] / [[audioFeatures]] /
  * [[decodeVideoFrames]] (a hand-walked RIFF tree over MJPEG-in-AVI)
  * with poison-payload tolerance. [[decodeFramesStub]] remains a
  * deliberate stub only for the exotic-container case: codecs the
  * JDK lacks (H.264, modern audio), where a real impl means
  * javacv/ffmpeg at the marked site — the plumbing (schema,
  * partitioning, batch shape, byte access) is real either way.
  */
object Multimodal {

  /** Cheap metadata over a binary column: byte length and a hex
    * preview of the leading bytes (magic-number sniffing shape).
    */
  def binaryMeta(df: DataFrame, idCol: String, binCol: String,
                 headBytes: Int = 8): DataFrame =
    df.select(
      col(idCol),
      octet_length(col(binCol)).as("n_bytes"),
      hex(expr(s"substring($binCol, 1, $headBytes)")).as("head_hex"))

  /** Fixed-size frame slicing of a binary payload (video-frame /
    * audio-window sampling shape) as pure column expressions:
    * (id, frame_idx, frame_bytes).
    */
  def frameSlices(df: DataFrame, idCol: String, binCol: String,
                  frameSize: Int): DataFrame =
    // empty-payload guard: without it `sequence(0, -1)` defaults to
    // step -1 and yields [0, -1] — two bogus frames instead of none
    df.select(col(idCol),
        posexplode(expr(
          s"if(octet_length($binCol) > 0, " +
          s"transform(sequence(0, cast(ceil(octet_length($binCol) / ${frameSize}.0) as int) - 1), " +
          s"i -> substring($binCol, i * $frameSize + 1, $frameSize)), " +
          s"array())")))
      .toDF(idCol, "frame_idx", "frame_bytes")

  /** One-time JVM-wide ImageIO config, forced on first touch: the
    * default ImageInputStream/OutputStream is FILE-cache backed, so
    * `ImageIO.read` over an in-memory payload writes every image to a
    * temp file before decoding (create + write + delete per ROW, per
    * FRAME for video) and `ImageIO.write` does the same on encode.
    * Memory-backed streams remove the disk round trip. Same family as
    * the q169 `AudioSystem` registry-lock finding (SCALE.md round 10):
    * per-row cost hiding inside a JDK convenience entry point.
    * Referenced from inside the decode/encode closures so the init
    * runs in executor JVMs on a real cluster, not just the driver.
    */
  private object ImageIoConfig {
    javax.imageio.ImageIO.setUseCache(false)
  }
  @inline private def imageIoNoDiskCache(): Unit = { val _ = ImageIoConfig }

  /** Typed decoded-frame record. `meanByte` is computed from the real
    * bytes; `width`/`height` come from the stubbed codec.
    */
  final case class FrameMeta(id: Long, frameIdx: Int, nBytes: Int,
                             width: Int, height: Int, meanByte: Double)

  /** Batched "decode": split each payload into frames and emit typed
    * per-frame metadata. Runs as one `mapPartitions` pass — the
    * mapInPandas-shaped seam where a real codec would stream batches.
    */
  def decodeFramesStub(df: DataFrame, idCol: String, binCol: String,
                       frameSize: Int)
                      (implicit spark: SparkSession): Dataset[FrameMeta] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          bytes.grouped(frameSize).zipWithIndex.map { case (chunk, i) =>
            val byteSum = chunk.map(b => (b & 0xFF).toLong).sum
            // --- STUB CODEC ---------------------------------------
            // Real impl: ImageIO/ffmpeg decode of `chunk` → dims.
            // Deterministic fake keyed on content (the unsigned byte
            // sum) so tests — and the SQL oracle — can pin it:
            val width = (16 + byteSum % 1904).toInt
            val height = (16 + (byteSum / 1904) % 1064).toInt
            // ------------------------------------------------------
            val mean =
              if (chunk.isEmpty) 0.0 else byteSum.toDouble / chunk.length
            FrameMeta(id, i, chunk.length, width, height, mean)
          }
        }
      }
  }

  /** Typed resample record: per-clip stats plus the re-encoded WAV
    * (the write-back half of the pipeline). `rmsOut` is over all
    * output samples (all channels), pre-quantization.
    */
  final case class ResampledAudio(id: Long, decoded: Boolean, srcRate: Int,
                                  dstRate: Int, channels: Int, nIn: Long,
                                  nOut: Long, rmsOut: Double,
                                  wav: Array[Byte])

  /** Parsed canonical-WAV PCM16 geometry: `off` points at the first
    * byte of the data chunk (interleaved little-endian s16).
    */
  private[llm] final case class WavPcm16(rate: Int, channels: Int,
                                         off: Int, nFrames: Int)

  /** Hand-walked RIFF/WAVE header parse — the lock-free fast path
    * shared by [[audioFeatures]] and [[resampleAudio]]. Returns None
    * for anything that is not a plain PCM16 WAV (AIFF/AU, extensible/
    * float/compressed WAV, truncated headers), which then takes the
    * JDK `AudioSystem` route as before.
    *
    * Why it exists (SCALE.md round 10): `AudioSystem
    * .getAudioInputStream` funnels EVERY call through
    * `JDK13Services.getProviders`, a `static synchronized` registry
    * lookup, so per-clip decode on a many-thread executor serializes
    * on one class lock — q169's sf1 profile showed stage run time
    * 5.9× its CPU time at 16 threads (2.4× at 4), zero GC, wall
    * IMPROVING when threads were removed. A header walk holds no lock.
    */
  private[llm] def parseWavPcm16(bytes: Array[Byte]): Option[WavPcm16] = {
    def tag4(o: Int) =
      if (o + 4 <= bytes.length)
        new String(bytes, o, 4, java.nio.charset.StandardCharsets.US_ASCII)
      else ""
    def u16(o: Int) = ((bytes(o + 1) & 0xFF) << 8) | (bytes(o) & 0xFF)
    def i32(o: Int) =
      ((bytes(o + 3) & 0xFF) << 24) | ((bytes(o + 2) & 0xFF) << 16) |
        ((bytes(o + 1) & 0xFF) << 8) | (bytes(o) & 0xFF)
    if (bytes.length < 44 || tag4(0) != "RIFF" || tag4(8) != "WAVE") None
    else {
      var off = 12
      var fmt: Option[(Int, Int)] = None // (rate, channels)
      var data: Option[(Int, Int)] = None // (off, len)
      while ((fmt.isEmpty || data.isEmpty) && off + 8 <= bytes.length) {
        val id = tag4(off)
        val len = i32(off + 4)
        if (len < 0) return None
        val body = off + 8
        if (id == "fmt ") {
          if (len < 16 || body + 16 > bytes.length) return None
          val audioFormat = u16(body)
          val ch = u16(body + 2)
          val bits = u16(body + 14)
          if (audioFormat != 1 || bits != 16 || ch < 1) return None
          fmt = Some((i32(body + 4), ch))
        } else if (id == "data") {
          data = Some((body, math.min(len.toLong, (bytes.length - body).toLong).toInt))
        }
        off = body + len + (len & 1) // chunks are word-aligned
      }
      for ((rate, ch) <- fmt; (dOff, dLen) <- data)
        yield WavPcm16(rate, ch, dOff, dLen / (2 * ch))
    }
  }

  /** Deinterleave PCM16 sample bytes into per-channel double arrays. */
  private def deinterleave(bytes: Array[Byte], off: Int, nIn: Int, ch: Int,
                           bigEndian: Boolean): Array[Array[Double]] = {
    val src = Array.ofDim[Double](ch, nIn)
    var f = 0
    while (f < nIn) {
      var c = 0
      while (c < ch) {
        val o = off + (f * ch + c) * 2
        val s =
          if (bigEndian) ((bytes(o) << 8) | (bytes(o + 1) & 0xFF)).toShort
          else ((bytes(o + 1) << 8) | (bytes(o) & 0xFF)).toShort
        src(c)(f) = s.toDouble
        c += 1
      }
      f += 1
    }
    src
  }

  /** REAL batched audio resample (SURVEY §8 L17 — the last stub seam,
    * retired): decode 16-bit PCM via the JDK (`javax.sound.sampled`,
    * WAV/AIFF/AU), resample each channel to `targetRate` by linear
    * interpolation, re-encode as canonical little-endian PCM WAV.
    * Same `mapPartitions` batch shape as [[audioFeatures]].
    *
    * Interpolation positions use EXACT rational arithmetic
    * (p_j = j·src/dst as integer div + remainder, never a float
    * accumulator), so output length and values are bit-deterministic:
    * nOut = ⌊(nIn−1)·dst/src⌋ + 1, and a constant-amplitude input
    * resamples to the same constant exactly — the q169 closed-form
    * gate. A linear interpolator is a first-order lowpass — adequate
    * for feature pipelines; a windowed-sinc drop-in would slot into
    * the same per-channel loop. Non-PCM16 or undecodable payloads
    * degrade to `decoded = false` rows (poison tolerance, as
    * everywhere in this family).
    */
  def resampleAudio(df: DataFrame, idCol: String, binCol: String,
                    targetRate: Int)
                   (implicit spark: SparkSession): Dataset[ResampledAudio] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try {
            parseWavPcm16(bytes) match {
              case Some(w) =>
                resampleCore(id, w.rate, targetRate, w.channels,
                  deinterleave(bytes, w.off, w.nFrames, w.channels,
                    bigEndian = false))
              case None => resampleViaAudioSystem(id, bytes, targetRate)
            }
          } catch {
            case _: Exception =>
              ResampledAudio(id, decoded = false, -1, targetRate, -1, -1L,
                -1L, -1.0, Array.emptyByteArray)
          }
        }
      }
  }

  /** `AudioSystem` fallback for payloads the hand parser declines
    * (AIFF/AU, non-PCM16 WAV) — correctness path, takes the JDK
    * registry lock per clip.
    */
  private def resampleViaAudioSystem(id: Long, bytes: Array[Byte],
                                     targetRate: Int): ResampledAudio = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.BufferedInputStream(
        new java.io.ByteArrayInputStream(bytes)))
    val fmt = in.getFormat
    val pcm16 = fmt.getSampleSizeInBits == 16 &&
      fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
    if (!pcm16) {
      in.close()
      ResampledAudio(id, decoded = false, fmt.getSampleRate.toInt,
        targetRate, fmt.getChannels, in.getFrameLength, 0L, -1.0,
        Array.emptyByteArray)
    } else {
      val ch = fmt.getChannels
      val srcRate = fmt.getSampleRate.toInt
      val raw = in.readAllBytes(); in.close()
      val nIn = raw.length / (2 * ch)
      resampleCore(id, srcRate, targetRate, ch,
        deinterleave(raw, 0, nIn, ch, fmt.isBigEndian))
    }
  }

  /** Shared resample math: exact-rational linear interpolation over
    * per-channel arrays, RMS, canonical-WAV write-back. Identical for
    * both decode routes, so route choice can never change a result.
    */
  private def resampleCore(id: Long, srcRate: Int, targetRate: Int,
                           ch: Int,
                           src: Array[Array[Double]]): ResampledAudio = {
    val nIn = if (ch > 0) src(0).length else 0
    val nOut =
      if (nIn == 0) 0
      else ((nIn - 1).toLong * targetRate / srcRate).toInt + 1
    val out = Array.ofDim[Double](ch, nOut)
    var j = 0
    while (j < nOut) {
      // exact rational position: p = j·src/dst
      val num = j.toLong * srcRate
      val i0 = (num / targetRate).toInt
      val frac = (num % targetRate).toDouble / targetRate
      val i1 = math.min(i0 + 1, nIn - 1)
      var c = 0
      while (c < ch) {
        val s = src(c)
        out(c)(j) = s(i0) * (1.0 - frac) + s(i1) * frac
        c += 1
      }
      j += 1
    }
    var sumSq = 0.0
    var c2 = 0
    while (c2 < ch) {
      var k = 0
      while (k < nOut) {
        val v = out(c2)(k); sumSq += v * v; k += 1
      }
      c2 += 1
    }
    val rms =
      if (nOut > 0) math.sqrt(sumSq / (nOut.toLong * ch)) else 0.0
    // re-encode: canonical 44-byte PCM WAV, interleaved LE,
    // round-half-up with clamp to the 16-bit range
    val dataLen = nOut * ch * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(ch.toShort)
      .putInt(targetRate).putInt(targetRate * ch * 2)
      .putShort((ch * 2).toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var k2 = 0
    while (k2 < nOut) {
      var c3 = 0
      while (c3 < ch) {
        val q = math.max(Short.MinValue.toDouble,
          math.min(Short.MaxValue.toDouble,
            math.rint(out(c3)(k2))))
        buf.putShort(q.toShort)
        c3 += 1
      }
      k2 += 1
    }
    ResampledAudio(id, decoded = true, srcRate, targetRate, ch,
      nIn.toLong, nOut.toLong, rms, buf.array())
  }

  /** Encode a solid-gray image as PNG via the JDK codec — the
    * write-back path of [[decodeImages]], and the payload synthesizer
    * for the q131 decode gate (solid color ⇒ known dims + exact mean
    * luma). Runs on executors; pure function of its arguments.
    */
  def solidPng(width: Int, height: Int, gray: Int): Array[Byte] = {
    imageIoNoDiskCache()
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Horizontal-ramp PNG: gray rises strictly left→right
    * (`40 + x*160/width`), flat in y — closed-form dHash of all-ones
    * (every cell-mean comparison true ⇒ `dhash == -1L`) for
    * `width ≥ 18`, the [[imageDHash]] oracle payload. Pure function
    * of its arguments; runs on executors.
    */
  def rampPng(width: Int, height: Int): Array[Byte] = {
    imageIoNoDiskCache()
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val g = 40 + x * 160 / width
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Piecewise-constant pattern PNG aligned to [[imageDHash]]'s 8×9
    * cell grid: cell `(cy, cx)` gray is a seed-keyed pseudo-random
    * constant in [40, 200), plus a uniform `brightness` shift and an
    * extra `bump00` inside cell (0,0) only. The planted-near-dup
    * payload: a `brightness`-only copy hashes IDENTICALLY (uniform
    * shifts preserve every cell-mean comparison; no clamping by
    * contract: `brightness + bump00 ≤ 55`), and a `bump00` copy can
    * flip at most the single bit comparing cells (0,0) and (0,1) —
    * so within-group Hamming ≤ 1 deterministically, while different
    * seeds disagree on ~half of all 64 bits. Pure function of its
    * arguments; runs on executors.
    */
  def cellPatternPng(width: Int, height: Int, seed: Long,
                     brightness: Int = 0, bump00: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(
      cellPatternImage(width, height, seed, brightness, bump00), "png", out)
    out.toByteArray
  }

  /** [[cellPatternPng]] encoded as baseline JPEG — the video-frame
    * payload for [[videoNearDup]]'s planted oracle (identical
    * synthesizer arguments ⇒ identical JPEG bytes ⇒ identical frame
    * dHash, whatever the codec's quantization does to the pixels).
    */
  def cellPatternJpeg(width: Int, height: Int, seed: Long,
                      brightness: Int = 0, bump00: Int = 0): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(
      cellPatternImage(width, height, seed, brightness, bump00), "jpg", out)
    out.toByteArray
  }

  private def cellPatternImage(width: Int, height: Int, seed: Long,
                               brightness: Int,
                               bump00: Int): java.awt.image.BufferedImage = {
    require(brightness + bump00 <= 55 && brightness >= 0 && bump00 >= 0,
      s"pattern gray must stay in [40, 255]: brightness=$brightness bump00=$bump00")
    imageIoNoDiskCache()
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      val cy = math.min(7, y * 8 / height)
      var x = 0
      while (x < width) {
        val cx = math.min(8, x * 9 / width)
        val m = (cx + 1) * 73856093L ^ (cy + 1) * 19349663L ^
          (seed + 1) * 83492791L
        val g = 40 + (((m % 160) + 160) % 160).toInt + brightness +
          (if (cx == 0 && cy == 0) bump00 else 0)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Hand-rolled RIFF/WAVE container around constant-amplitude 16-bit
    * mono PCM — the payload synthesizer for the q132 decode gate
    * (constant signal ⇒ RMS == amplitude exactly). 44-byte canonical
    * header, little-endian throughout.
    */
  def pcm16Wav(sampleRate: Int, amplitude: Short, nFrames: Int): Array[Byte] =
    pcm16WavSamples(sampleRate, Array.fill(nFrames)(amplitude))

  /** General 16-bit PCM WAV synthesizer: interleaved samples (length =
    * frames × channels), canonical 44-byte header, little-endian.
    */
  def pcm16WavSamples(sampleRate: Int, samples: Array[Short],
                      channels: Int = 1): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                       // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort)  // block align
      .putShort(16)                      // bits/sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < samples.length) { buf.putShort(samples(i)); i += 1 }
    buf.array()
  }

  /** Encode a solid-gray image as baseline JPEG via the JDK codec —
    * the per-frame payload for [[mjpegAvi]]. Solid gray survives JPEG
    * almost exactly (constant blocks quantize to their DC; at the
    * default quality the DC step reconstructs within ±1 gray level),
    * so decoded mean luma stays closed-form within a small tolerance.
    */
  def solidJpeg(width: Int, height: Int, gray: Int): Array[Byte] = {
    imageIoNoDiskCache()
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (gray << 16) | (gray << 8) | gray
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** Build a spec-correct MJPEG-in-AVI container: RIFF('AVI ') with
    * an 'hdrl' list (avih + one 'vids'/'MJPG' stream), a 'movi' list
    * of '00dc' chunks (one baseline JPEG per frame, word-aligned) and
    * an 'idx1' index. This is the payload synthesizer for the q163
    * video gate — built by hand so the gate exercises the real
    * container walk in [[decodeVideoFrames]], not a shared codepath.
    */
  def mjpegAvi(frames: Seq[Array[Byte]], width: Int, height: Int,
               fps: Int = 25): Array[Byte] = {
    def fourcc(s: String) = s.getBytes("US-ASCII")
    val paddedSizes = frames.map(f => f.length + (f.length & 1))
    val moviBody = 4 + paddedSizes.map(_ + 8).sum          // 'movi' + chunks
    val idx1Body = frames.size * 16
    val hdrlBody = 4 + (8 + 56) + (8 + (4 + (8 + 56) + (8 + 40)))
    val riffBody = 4 + (8 + hdrlBody) + (8 + moviBody) + (8 + idx1Body)
    val buf = java.nio.ByteBuffer.allocate(8 + riffBody)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put(fourcc("RIFF")).putInt(riffBody).put(fourcc("AVI "))
    // hdrl
    buf.put(fourcc("LIST")).putInt(hdrlBody).put(fourcc("hdrl"))
    buf.put(fourcc("avih")).putInt(56)
      .putInt(1000000 / fps)                               // µs per frame
      .putInt(0).putInt(0)
      .putInt(0x10)                                        // AVIF_HASINDEX
      .putInt(frames.size).putInt(0)
      .putInt(1)                                           // one stream
      .putInt(0).putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    buf.put(fourcc("LIST")).putInt(4 + (8 + 56) + (8 + 40)).put(fourcc("strl"))
    buf.put(fourcc("strh")).putInt(56)
      .put(fourcc("vids")).put(fourcc("MJPG"))
      .putInt(0).putShort(0).putShort(0).putInt(0)
      .putInt(1).putInt(fps)                               // scale / rate
      .putInt(0).putInt(frames.size)
      .putInt(0).putInt(-1).putInt(0)                      // bufsize, quality, samplesize
      .putShort(0).putShort(0)
      .putShort(width.toShort).putShort(height.toShort)    // rcFrame
    buf.put(fourcc("strf")).putInt(40)
      .putInt(40).putInt(width).putInt(height)
      .putShort(1).putShort(24)
      .put(fourcc("MJPG"))
      .putInt(width * height * 3)
      .putInt(0).putInt(0).putInt(0).putInt(0)
    // movi
    buf.put(fourcc("LIST")).putInt(moviBody).put(fourcc("movi"))
    val offsets = new Array[Int](frames.size)
    var off = 4                                            // relative to 'movi'
    frames.zipWithIndex.foreach { case (f, i) =>
      offsets(i) = off
      buf.put(fourcc("00dc")).putInt(f.length).put(f)
      if ((f.length & 1) == 1) buf.put(0.toByte)
      off += 8 + f.length + (f.length & 1)
    }
    // idx1
    buf.put(fourcc("idx1")).putInt(idx1Body)
    frames.zipWithIndex.foreach { case (f, i) =>
      buf.put(fourcc("00dc")).putInt(0x10).putInt(offsets(i)).putInt(f.length)
    }
    buf.array()
  }

  final case class VideoFrame(id: Long, frameIdx: Int, decoded: Boolean,
                              width: Int, height: Int, meanLuma: Double)

  /** REAL video-container decode for MJPEG-in-AVI — pure JVM: walk the
    * RIFF chunk tree to the 'movi' list, hand each '..dc'/'..db'
    * payload to the JDK JPEG codec, emit one typed row per frame.
    * Same mapPartitions batch shape as [[decodeImages]]; poison
    * payloads (bad container, bad frame) degrade to `decoded = false`
    * rows rather than killing the task. Containers whose codec the
    * JDK lacks keep [[decodeFramesStub]] as the declared seam.
    */
  private def aviU32(b: Array[Byte], pos: Long): Long = {
    val p = pos.toInt
    (b(p) & 0xFFL) | ((b(p + 1) & 0xFFL) << 8) |
      ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)
  }
  private def aviTag(b: Array[Byte], p: Int): String =
    new String(b, p, 4, "US-ASCII")

  // collect '..dc'/'..db' payload spans inside a chunk range,
  // recursing into LIST('movi') and LIST('rec '). All offset/length
  // arithmetic stays in Long: a crafted chunk length near 2^31 would
  // wrap negative under Int truncation, pass the bounds check and
  // index out of the array — poison containers must degrade, not
  // kill the task. Emitted spans are safe Ints (≤ to ≤ array length).
  private def aviFrameSpans(b: Array[Byte], from: Int, to: Int,
                            inMovi: Boolean): Vector[(Int, Int)] = {
    var p = from.toLong
    var out = Vector.empty[(Int, Int)]
    while (p + 8 <= to) {
      val id = aviTag(b, p.toInt)
      val len = aviU32(b, p + 4)              // unsigned 32-bit, ≥ 0
      val dataStart = p + 8
      if (dataStart + len > to) return out    // truncated: stop
      if (id == "LIST" && len >= 4) {
        val lt = aviTag(b, dataStart.toInt)
        if (lt == "movi" || (inMovi && lt == "rec "))
          out ++= aviFrameSpans(b, dataStart.toInt + 4,
            (dataStart + len).toInt, inMovi = true)
      } else if (inMovi && id.length == 4 &&
        (id.endsWith("dc") || id.endsWith("db"))) {
        out :+= ((dataStart.toInt, len.toInt))
      }
      p = dataStart + len + (len & 1L)
    }
    out
  }

  /** The shared AVI entry walk: frame spans of a well-formed RIFF/AVI
    * payload, None for anything else (belt over the Long-arithmetic
    * braces: ANY container-walk failure degrades, never a dead task).
    */
  private def aviSpansOf(bytes: Array[Byte]): Option[Vector[(Int, Int)]] = {
    val ok = bytes != null && bytes.length >= 12 &&
      aviTag(bytes, 0) == "RIFF" && aviTag(bytes, 8) == "AVI "
    if (!ok) None
    else {
      val end = math.min(bytes.length.toLong, 8L + aviU32(bytes, 4)).toInt
      val spans =
        try aviFrameSpans(bytes, 12, end, inMovi = false)
        catch { case _: Exception => Vector.empty[(Int, Int)] }
      if (spans.isEmpty) None else Some(spans)
    }
  }

  def decodeVideoFrames(df: DataFrame, idCol: String, binCol: String)
                       (implicit spark: SparkSession): Dataset[VideoFrame] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.flatMap { case (id, bytes) =>
          aviSpansOf(bytes) match {
            case None =>
              Iterator.single(VideoFrame(id, -1, decoded = false, -1, -1, 0.0))
            case Some(spans) =>
              spans.iterator.zipWithIndex.map { case ((start, len), i) =>
                val img =
                  try Option(javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(bytes, start, len)))
                  catch { case _: Exception => None }
                img match {
                  case Some(im) => VideoFrame(id, i, decoded = true,
                    im.getWidth, im.getHeight, sampledLuma(im))
                  case None => VideoFrame(id, i, decoded = false, -1, -1, 0.0)
                }
              }
          }
        }
      }
  }

  final case class VideoFrameHash(id: Long, frameIdx: Int,
                                  decoded: Boolean, dhash: Long)

  /** Per-frame perceptual hashes of an MJPEG-in-AVI payload — the
    * same RIFF walk as [[decodeVideoFrames]], emitting each frame's
    * [[imageDHash]]-style 64-bit dHash instead of luma metadata.
    * Poison containers and undecodable frames degrade to
    * `decoded = false` rows.
    */
  def videoFrameDHash(df: DataFrame, idCol: String, binCol: String)
                     (implicit spark: SparkSession): Dataset[VideoFrameHash] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.flatMap { case (id, bytes) =>
          aviSpansOf(bytes) match {
            case None =>
              Iterator.single(VideoFrameHash(id, -1, decoded = false, 0L))
            case Some(spans) =>
              spans.iterator.zipWithIndex.map { case ((start, len), i) =>
                val img =
                  try Option(javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(bytes, start, len)))
                  catch { case _: Exception => None }
                img match {
                  case Some(im) => VideoFrameHash(id, i, decoded = true,
                    dHash64(im))
                  case None => VideoFrameHash(id, i, decoded = false, 0L)
                }
              }
          }
        }
      }
  }

  /** Video near-duplicate pairs via shared frame fingerprints: two
    * videos pair when ≥ `minShared` DISTINCT frame dHashes match
    * exactly — the re-cut/re-container detection a multimodal corpus
    * needs (a re-muxed or trimmed copy keeps most frame content; its
    * container bytes share nothing). Output
    * `(id_a, id_b, shared_frames)`.
    *
    * Scale: the payload corpus reduces to ONE ~20-byte row per
    * distinct (video, frame-hash) before any join; candidates come
    * from an equi-join on the 64-bit hash — a bucket key like every
    * near-dup path in [[Dedup]] — with `maxBucket` capping degenerate
    * hashes (solid/black frames shared by thousands of videos are
    * the k-copies hazard; default 64 keeps any such bucket's pair
    * fan-out ≤ 2k while real shared content is far below the cap).
    */
  def videoNearDup(df: DataFrame, idCol: String, binCol: String,
                   minShared: Int = 2, maxBucket: Option[Int] = Some(64))
                  (implicit spark: SparkSession): DataFrame = {
    val fp = videoFrameDHash(df, idCol, binCol)
      .filter(col("decoded")).toDF()
      .select(col("id"), col("dhash")).distinct()
    val capped = Dedup.capFingerprintBuckets(fp, "id", Seq("dhash"), maxBucket)
    val left = capped.toDF("id_a", "dhash")
    val right = capped.toDF("id_b", "dhash")
    // same self-join hint discipline as hammingNearDup: both sides are
    // the corpus-sized fingerprint stream
    left.join(right.hint("shuffle_hash"), Seq("dhash"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_frames"))
      .filter(col("shared_frames") >= minShared)
  }

  /** Shot-boundary (scene-cut) detection: a cut is a frame whose dHash
    * differs from the PREVIOUS frame's by ≥ `threshold` Hamming bits —
    * the standard cheap shot detector, and the prerequisite for
    * representative frame sampling (one frame per SHOT instead of one
    * per N frames, so a 10-minute static shot contributes one frame
    * and a rapid montage keeps its variety).
    *
    * Scale: the corpus reduces to one 16-byte (video, frameIdx, hash)
    * row per frame at decode (the embarrassingly-parallel scan cost);
    * the lag comparison is a per-video window whose state is bounded
    * by the video's frame count, never the corpus. Undecodable frames
    * are EXCLUDED before the lag (a poison frame mid-video would
    * otherwise manufacture two phantom cuts); the first decoded frame
    * of a video is cut 0 by convention (every video has ≥ 1 segment).
    *
    * Output: one row per decoded frame —
    * `(vid_id, frame_idx, hamming, is_cut, shot)` where `hamming` is
    * the distance to the previous decoded frame (null on the first)
    * and `shot` is the running cut count (0-based shot index the
    * frame belongs to).
    */
  def videoSceneCuts(df: DataFrame, idCol: String, binCol: String,
                     threshold: Int = 8)
                    (implicit spark: SparkSession): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vid_id")).orderBy(col("frame_idx"))
    videoFrameDHash(df, idCol, binCol).toDF()
      .filter(col("decoded"))
      .select(col("id").as("vid_id"), col("frameIdx").as("frame_idx"),
        col("dhash"))
      .withColumn("_prev", lag(col("dhash"), 1).over(w))
      .withColumn("hamming",
        when(col("_prev").isNull, lit(null).cast("int"))
          .otherwise(bit_count(col("_prev").bitwiseXOR(col("dhash")))
            .cast("int")))
      .withColumn("is_cut",
        (col("_prev").isNull || col("hamming") >= threshold).cast("int"))
      .withColumn("shot",
        sum(col("is_cut")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
          .cast("int") - 1)
      .select(col("vid_id"), col("frame_idx"), col("hamming"),
        col("is_cut"), col("shot"))
  }

  /** One-frame-per-SHOT keyframe sampling — the representative pick
    * [[videoSceneCuts]] is the prerequisite for: each shot contributes
    * its MIDDLE frame (1-based rank `(n+1) div 2` by `frame_idx` — a
    * closed-form deterministic pick; frame order within a shot is
    * already total, so no hash draw is needed, and an even-length
    * shot takes the earlier of its two centers). A 10-minute static
    * shot contributes one center frame; a rapid montage keeps one
    * frame per cut.
    *
    * Output: one row per shot —
    * `(vid_id, shot, n_frames, frame_idx)` with `frame_idx` the
    * chosen keyframe.
    *
    * Scale: runs over the 16-byte per-frame fingerprint stream, never
    * pixels; the pick is a (vid_id, shot) window that the sceneCuts
    * per-video partitioning already satisfies (`HashPartitioning(
    * vid_id)` clusters every `(vid_id, shot)` group — a within-
    * partition re-sort, NO second shuffle), so the whole operator
    * costs one exchange end to end.
    */
  def shotKeyframes(df: DataFrame, idCol: String, binCol: String,
                    threshold: Int = 8)
                   (implicit spark: SparkSession): DataFrame = {
    val byShot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vid_id"), col("shot"))
    videoSceneCuts(df, idCol, binCol, threshold)
      .select(col("vid_id"), col("shot"), col("frame_idx"))
      .withColumn("_rn",
        row_number().over(byShot.orderBy(col("frame_idx"))))
      .withColumn("n_frames", count(lit(1)).over(byShot))
      .filter(expr("_rn = (n_frames + 1) DIV 2"))
      .select(col("vid_id"), col("shot"),
        col("n_frames").cast("long").as("n_frames"), col("frame_idx"))
  }

  final case class ImageMeta(id: Long, decoded: Boolean, width: Int,
                             height: Int, meanLuma: Double)

  /** Mean luma of a decoded image over a bounded sample grid — the
    * metadata-pass cost must not scale with pixel count. Shared by the
    * still-image ([[decodeImages]]) and video-frame
    * ([[decodeVideoFrames]]) decode paths.
    */
  private def sampledLuma(i: java.awt.image.BufferedImage): Double = {
    val (w, h) = (i.getWidth, i.getHeight)
    val step = math.max(1, math.max(w, h) / 64)
    var sum = 0.0; var n = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = i.getRGB(x, y)
        sum += 0.299 * ((rgb >> 16) & 0xFF) +
          0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
        n += 1
        x += step
      }
      y += step
    }
    if (n == 0) 0.0 else sum / n
  }

  /** REAL image decode — no stub, no external dependency: the JDK's
    * `javax.imageio` handles PNG/BMP/GIF/JPEG. Same mapPartitions
    * batch shape as [[decodeFramesStub]] (which remains the seam for
    * formats the JDK lacks, e.g. video containers). Undecodable
    * payloads get `decoded = false` rather than dropping the row or
    * failing the task — at corpus scale a poison payload must never
    * kill a partition.
    */
  def decodeImages(df: DataFrame, idCol: String, binCol: String)
                  (implicit spark: SparkSession): Dataset[ImageMeta] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.map { case (id, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes)))
            catch { case _: Exception => None }
          img match {
            case Some(i) =>
              ImageMeta(id, decoded = true, i.getWidth, i.getHeight,
                sampledLuma(i))
            case None => ImageMeta(id, decoded = false, -1, -1, 0.0)
          }
        }
      }
  }

  final case class ImagePHash(id: Long, decoded: Boolean, dhash: Long)

  /** 64-bit difference hash (dHash) of a decoded image: luma block
    * means over an 8×9 cell grid, bit `r*8+c` set iff
    * `mean(r,c) < mean(r,c+1)`. The standard perceptual fingerprint
    * for image-corpus dedup (LAION-style): invariant to uniform
    * brightness shifts and any resize that preserves cell ordering,
    * and two visually-distinct images land ~32 bits apart, so a small
    * Hamming radius separates near-copies from the rest.
    *
    * Cell means come from a bounded sample grid (≥8 samples per cell
    * axis on large images, every pixel on small ones) so the hash
    * pass costs O(4608) pixel reads per image regardless of payload
    * size — the same discipline as the decode pass's `sampledLuma`.
    * Cell assignment is `floor(x*9/w)` / `floor(y*8/h)`, matching
    * [[cellPatternPng]] exactly (cell-constant payloads hash with
    * zero boundary leakage — what makes the planted oracle exact).
    */
  def imageDHash(df: DataFrame, idCol: String, binCol: String)
                (implicit spark: SparkSession): Dataset[ImagePHash] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        imageIoNoDiskCache()
        it.map { case (id, bytes) =>
          val img =
            try Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes)))
            catch { case _: Exception => None }
          img match {
            case Some(i) => ImagePHash(id, decoded = true, dHash64(i))
            case None    => ImagePHash(id, decoded = false, 0L)
          }
        }
      }
  }

  // luma accumulates as an INTEGER (299r + 587g + 114b per pixel) and
  // cell means compare by cross-multiplication — no doubles anywhere,
  // so equal-luma cells with different pixel counts compare EQUAL
  // (float accumulation order would drift them by ulps and set
  // spurious bits on e.g. solid images), and a uniform brightness
  // shift provably preserves every comparison
  private def dHash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth; val h = img.getHeight
    val xStep = math.max(1, w / 72)
    val yStep = math.max(1, h / 64)
    val sums = new Array[Long](72)
    val cnts = new Array[Long](72)
    var y = 0
    while (y < h) {
      val cy = math.min(7, y * 8 / h)
      var x = 0
      while (x < w) {
        val cx = math.min(8, x * 9 / w)
        val rgb = img.getRGB(x, y)
        sums(cy * 9 + cx) += 299L * ((rgb >> 16) & 0xFF) +
          587L * ((rgb >> 8) & 0xFF) + 114L * (rgb & 0xFF)
        cnts(cy * 9 + cx) += 1L
        x += xStep
      }
      y += yStep
    }
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        val i = r * 9 + c
        // mean(i) < mean(i+1) ⟺ s_i·n_{i+1} < s_{i+1}·n_i (exact;
        // bounded: s ≤ 255000·4608 ≈ 1.2e9, product ≤ 5.4e12 ≪ 2^63);
        // an empty cell (sub-9-pixel-wide image) counts as mean 0
        val a = if (cnts(i) == 0) 0L else sums(i)
        val na = if (cnts(i) == 0) 1L else cnts(i)
        val b = if (cnts(i + 1) == 0) 0L else sums(i + 1)
        val nb = if (cnts(i + 1) == 0) 1L else cnts(i + 1)
        if (a * nb < b * na) hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Image near-duplicate pairs: [[imageDHash]] fingerprints joined
    * through [[Dedup.hammingNearDup]]'s band-bucket equi-join (8
    * bands of 8 bits — exact candidate recall for Hamming ≤ 7; no
    * all-pairs). Undecodable payloads are excluded (a poison image
    * can't be a duplicate of anything). Output (id_a, id_b, hamming).
    *
    * This is the image face of the dedup family: text has
    * MinHash/SimHash, embeddings have SemDeDup — a multimodal corpus
    * needs near-dup over the PIXELS too (re-encoded/re-branded
    * copies share no bytes and no caption text). At 100 TB the
    * decode+hash scan dominates and is embarrassingly parallel; the
    * pair join runs over the 16-byte/row fingerprint frame.
    */
  def imageNearDup(df: DataFrame, idCol: String, binCol: String,
                   maxDist: Int = 4, maxBucket: Option[Int] = None)
                  (implicit spark: SparkSession): DataFrame = {
    require(maxDist < 8,
      s"imageNearDup's 8-band layout guarantees candidate recall only " +
        s"for maxDist <= 7; got $maxDist")
    Dedup.hammingNearDup(
      imageDHash(df, idCol, binCol).filter(col("decoded")).toDF(),
      "id", "dhash", bits = 64, nBands = 8, maxDist = maxDist,
      maxBucket = maxBucket)
  }

  final case class AudioPHash(id: Long, decoded: Boolean, ahash: Long)

  /** 64-bit perceptual audio fingerprint — the audio face of the
    * near-dup fingerprint family (image: [[imageDHash]]; text:
    * [[Dedup.simHash]]): the clip's frames split into 65 equal
    * windows, per-window mean |sample| over a bounded sample grid,
    * bit `i` set iff `mean(i) < mean(i+1)` — the envelope-shape
    * difference hash. Same exactness discipline as the image hash:
    * integer accumulation + cross-multiplied comparisons, so a
    * uniform integer gain (re-levelled copies, the audio analog of a
    * brightness shift) provably preserves every bit, and equal-energy
    * windows with different frame counts compare equal.
    *
    * Parses the lock-free [[parseWavPcm16]] fast path only — exotic
    * containers report `decoded = false` (poison tolerance; route
    * AIFF/AU through [[resampleAudio]]'s canonical-WAV write-back
    * first if they need fingerprints). Frame stride bounds the scan
    * at ~4160 frames per clip whatever the payload length (the
    * metadata-pass discipline).
    */
  def audioDHash(df: DataFrame, idCol: String, binCol: String)
                (implicit spark: SparkSession): Dataset[AudioPHash] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        parseWavPcm16(bytes) match {
          case Some(w) if w.nFrames > 0 =>
            AudioPHash(id, decoded = true, audioHash64(bytes, w))
          case _ => AudioPHash(id, decoded = false, 0L)
        }
      })
  }

  private def audioHash64(bytes: Array[Byte], w: WavPcm16): Long = {
    val n = w.nFrames
    val step = math.max(1, n / 4160)
    val sums = new Array[Long](65)
    val cnts = new Array[Long](65)
    var f = 0
    while (f < n) {
      val wi = math.min(64, (f.toLong * 65 / n).toInt)
      var acc = 0L
      var c = 0
      while (c < w.channels) {
        val o = w.off + (f * w.channels + c) * 2
        acc += math.abs(((bytes(o + 1) << 8) | (bytes(o) & 0xFF)).toShort.toInt)
        c += 1
      }
      sums(wi) += acc
      cnts(wi) += 1
      f += step
    }
    var hash = 0L
    var i = 0
    while (i < 64) {
      // exact: ≤ ~64 counted frames/window × 32768·ch ⇒ products ≪ 2^63
      val a = if (cnts(i) == 0) 0L else sums(i)
      val na = if (cnts(i) == 0) 1L else cnts(i)
      val b = if (cnts(i + 1) == 0) 0L else sums(i + 1)
      val nb = if (cnts(i + 1) == 0) 1L else cnts(i + 1)
      if (a * nb < b * na) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** Audio near-duplicate pairs: [[audioDHash]] through
    * [[Dedup.hammingNearDup]]'s 8-band candidate join (exact recall
    * to Hamming 7; never all-pairs). Output (id_a, id_b, hamming) —
    * same contract and 100 TB economics as [[imageNearDup]]: the
    * payload corpus reduces to a 16-byte/row fingerprint frame
    * before any join.
    */
  def audioNearDup(df: DataFrame, idCol: String, binCol: String,
                   maxDist: Int = 4, maxBucket: Option[Int] = None)
                  (implicit spark: SparkSession): DataFrame = {
    require(maxDist < 8,
      s"audioNearDup's 8-band layout guarantees candidate recall only " +
        s"for maxDist <= 7; got $maxDist")
    Dedup.hammingNearDup(
      audioDHash(df, idCol, binCol).filter(col("decoded")).toDF(),
      "id", "ahash", bits = 64, nBands = 8, maxDist = maxDist,
      maxBucket = maxBucket)
  }

  /** 65-window pattern WAV aligned to [[audioDHash]]'s window grid:
    * window w holds `framesPerWindow` frames of constant seed-keyed
    * amplitude in [500, 7500), times an integer `gain`, plus `bump0`
    * inside window 0 only — the planted-near-dup payload (gain-only
    * copies hash identically; a window-0 bump flips at most bit 0).
    * Keep `gain·7500 + bump0 < 32768` so nothing clips.
    */
  def windowPatternWav(seed: Long, gain: Int = 1, bump0: Int = 0,
                       framesPerWindow: Int = 8): Array[Byte] = {
    require(7500 * gain + bump0 < 32768,
      s"pattern would clip: gain=$gain bump0=$bump0")
    val amps = Array.tabulate(65) { w =>
      val m = (w + 1) * 73856093L ^ (seed + 1) * 83492791L
      (((((m % 7000) + 7000) % 7000).toInt + 500) * gain +
        (if (w == 0) bump0 else 0)).toShort
    }
    pcm16WavSamples(8000, amps.flatMap(a => Array.fill(framesPerWindow)(a)))
  }

  /** Strictly-rising 65-step staircase WAV: closed-form
    * [[audioDHash]] of all-ones (-1L), the audio analog of
    * [[rampPng]].
    */
  def staircaseWav(framesPerWindow: Int = 8): Array[Byte] =
    pcm16WavSamples(8000,
      Array.tabulate(65)(w => (100 * (w + 1)).toShort)
        .flatMap(a => Array.fill(framesPerWindow)(a)))

  final case class AudioMeta(id: Long, decoded: Boolean, sampleRate: Int,
                             channels: Int, nFrames: Long, rms: Double)

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/AIFF/
    * AU): stream the PCM frames once, emit per-clip features. 16-bit
    * PCM is decoded sample-exact for the RMS; other encodings report
    * header metadata with rms = -1 (honest partial support beats a
    * wrong number).
    */
  def audioFeatures(df: DataFrame, idCol: String, binCol: String)
                   (implicit spark: SparkSession): Dataset[AudioMeta] = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          try {
            parseWavPcm16(bytes) match {
              case Some(w) =>
                // lock-free canonical-WAV path (see parseWavPcm16);
                // identical math to the streaming loop below
                var sumSq = 0.0
                var i = w.off
                val end = w.off + w.nFrames * 2 * w.channels
                while (i + 1 < end) {
                  val s = ((bytes(i + 1) << 8) | (bytes(i) & 0xFF)).toShort
                  sumSq += s.toDouble * s.toDouble
                  i += 2
                }
                val n = w.nFrames.toLong * w.channels
                AudioMeta(id, decoded = true, w.rate, w.channels,
                  w.nFrames.toLong,
                  if (n > 0) math.sqrt(sumSq / n) else -1.0)
              case None => audioFeaturesViaAudioSystem(id, bytes)
            }
          } catch {
            case _: Exception => AudioMeta(id, decoded = false, -1, -1, -1L, -1.0)
          }
        }
      }
  }

  /** `AudioSystem` fallback for payloads the hand parser declines. */
  private def audioFeaturesViaAudioSystem(id: Long,
                                  bytes: Array[Byte]): AudioMeta = {
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.BufferedInputStream(
        new java.io.ByteArrayInputStream(bytes)))
    val fmt = in.getFormat
    val frameLen = in.getFrameLength
    val pcm16 = fmt.getSampleSizeInBits == 16 &&
      fmt.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
    var sumSq = 0.0; var n = 0L
    if (pcm16) {
      val buf = new Array[Byte](8192)
      var read = in.read(buf)
      while (read > 0) {
        var i = 0
        while (i + 1 < read) {
          val s =
            if (fmt.isBigEndian)
              ((buf(i) << 8) | (buf(i + 1) & 0xFF)).toShort
            else ((buf(i + 1) << 8) | (buf(i) & 0xFF)).toShort
          sumSq += s.toDouble * s.toDouble
          n += 1
          i += 2
        }
        read = in.read(buf)
      }
    }
    in.close()
    AudioMeta(id, decoded = true, fmt.getSampleRate.toInt,
      fmt.getChannels, frameLen,
      if (pcm16 && n > 0) math.sqrt(sumSq / n) else -1.0)
  }
}
