package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.llm.Multimodal
import graft.queries.Fixtures.t

/** Binary media: metadata, real image/audio/video decode, perceptual
  * hashes and near-dup gates, resampling, scene cuts and keyframes.
  */
object MultimodalQueries {
  /** The q210/q236 scene fixture: one synthetic MJPEG-AVI per
    * doc_id % 41 = 0 doc, frames A A B B B C (three shots).
    */
  private def sceneVideos(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents")
      .select(col("doc_id").cast("long")).filter(col("doc_id") % 41 === 0)
      .as[Long]
      .map { id =>
        val w = (36 + id % 16).toInt
        val h = (32 + id % 8).toInt
        def f(k: Long) = Multimodal.cellPatternJpeg(w, h, id * 16 + k)
        (id, Multimodal.mjpegAvi(
          Seq(f(0), f(0), f(1), f(1), f(1), f(2)), w, h))
      }
      .toDF("vid_id", "avi")
  }

  val all: Seq[Query] = Seq(
    // --- shot-boundary detection over synthetic MJPEG-AVIs with a
    //     known cut structure (A A B B B C): first frame + 2 pattern
    //     transitions = 3 cuts/3 shots per video; within-shot frames
    //     are byte-identical JPEGs ⇒ Hamming 0 ---
    Query("q210_video_scene_cuts", (s, dir) => {
      val vids = sceneVideos(s, dir)
      Multimodal.videoSceneCuts(vids, "vid_id", "avi", threshold = 1)(s)
        .agg(
          countDistinct(col("vid_id")).as("n_videos"),
          count(lit(1)).as("n_frames"),
          sum(col("is_cut")).as("n_cuts"),
          sum((col("hamming") === 0).cast("long")).as("n_static"),
          max(col("shot")).cast("int").as("max_shot"))
    },
      // closed-form scene structure: 6 frames per video, cuts at frame 0
      // (first-frame convention) and the two pattern transitions; the 3
      // within-shot frames are byte-identical JPEGs ⇒ Hamming 0
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_videos,
        |       CAST(6 * COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(3 * COUNT(*) AS BIGINT) AS n_cuts,
        |       CAST(3 * COUNT(*) AS BIGINT) AS n_static,
        |       CAST(2 AS INT) AS max_shot
        |FROM documents WHERE doc_id % 41 = 0""".stripMargin)),

    // --- one-frame-per-SHOT keyframe sampling over the q210 fixture
    //     (frames A A B B B C → shots {0,1} {2,3,4} {5}): each shot's
    //     deterministic MIDDLE frame — predicted per (vid_id, shot)
    //     row for row by the closed-form oracle ---
    Query("q236_shot_keyframes", (s, dir) => {
      val vids = sceneVideos(s, dir)
      Multimodal.shotKeyframes(vids, "vid_id", "avi", threshold = 1)(s)
    },
      // closed-form keyframes over the same scene structure: shot 0 has
      // frames {0,1} → middle rank (2+1) div 2 = 1 → frame 0; shot 1 has
      // {2,3,4} → frame 3; shot 2 has {5} → frame 5
      oracle = Some("""SELECT CAST(doc_id AS BIGINT) AS vid_id,
        |       CAST(s.shot AS INT) AS shot,
        |       CAST(s.n_frames AS BIGINT) AS n_frames,
        |       CAST(s.frame_idx AS INT) AS frame_idx
        |FROM documents,
        |     (VALUES (0, 2, 0), (1, 3, 3), (2, 1, 5)) s(shot, n_frames, frame_idx)
        |WHERE doc_id % 41 = 0""".stripMargin)),

    // --- multimodal: binary column metadata ---
    Query("q38_binary_meta", (s, dir) =>
      Multimodal.binaryMeta(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload"),
      oracle = Some("""SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       hex(encode(substring(text, 1, 8))) AS head_hex
        |FROM documents""".stripMargin)),

    // --- multimodal: batched frame decode via mapPartitions (STUB
    //     codec keyed on the frame byte-sum; mapInPandas-shaped
    //     plumbing — oracle replays the fake codec in SQL, which works
    //     because documents.text is pure ASCII: char ops ≡ byte ops) ---
    Query("q51_media_frames", (s, dir) =>
      Multimodal.decodeFramesStub(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload", frameSize = 64)(s).toDF(),
      // replays the stub codec in SQL: frames = fixed 64-char slices
      // (documents.text is pure ASCII, so char slicing ≡ byte slicing
      // of the UTF-8 payload), byte sum via per-char codepoints
      oracle = Some("""WITH fr AS (
        |  SELECT doc_id AS id, CAST(i AS INT) AS "frameIdx",
        |         substring(text, CAST(i * 64 + 1 AS INT), 64) AS chunk
        |  FROM documents,
        |       UNNEST(range(CAST(ceil(strlen(text) / 64.0) AS BIGINT))) AS t(i)),
        |b AS (
        |  SELECT id, "frameIdx", strlen(chunk) AS nb,
        |         list_sum([ord(c) for c in string_split(chunk, '')]) AS bsum
        |  FROM fr)
        |SELECT id, "frameIdx", CAST(nb AS INT) AS "nBytes",
        |       CAST(16 + bsum % 1904 AS INT) AS width,
        |       CAST(16 + (bsum // 1904) % 1064 AS INT) AS height,
        |       CAST(bsum AS DOUBLE) / nb AS "meanByte"
        |FROM b""".stripMargin)),

    // --- real-codec decode gates (q131/q132): executors synthesize
    //     payloads with known ground truth (solid-gray PNG / constant
    //     16-bit PCM WAV — dims, luma, rate, frame count, RMS all
    //     closed-form in doc_id), the REAL JDK codecs decode them, and
    //     the gate pins decoded features to the formulas. The oracle
    //     independently derives the sample size; n_decoded/n_ok are
    //     pinned equal — any codec, byte-order, or batch-shape
    //     regression flips the row red in CORRECTNESS ---
    Query("q131_image_decode", (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).filter(col("doc_id") % 11 === 0)
        .as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.solidPng((16 + id % 32).toInt,
            (16 + id % 24).toInt, (id % 256).toInt))
        })
        .toDF("doc_id", "png")
      Multimodal.decodeImages(payloads, "doc_id", "png")(s).toDF()
        .agg(
          count(lit(1)).as("n_images"),
          sum(col("decoded").cast("long")).as("n_decoded"),
          sum((col("decoded") &&
            col("width") === (col("id") % 32 + 16).cast("int") &&
            col("height") === (col("id") % 24 + 16).cast("int") &&
            abs(col("meanLuma") - (col("id") % 256)) < 0.5)
            .cast("long")).as("n_ok"))
    },
      // real-codec decode gates: the oracle pins the sample size and the
      // all-payloads-decode-correctly contract (see q131/q132 queries)
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
        |       CAST(COUNT(*) AS BIGINT) AS n_decoded,
        |       CAST(COUNT(*) AS BIGINT) AS n_ok
        |FROM documents WHERE doc_id % 11 = 0""".stripMargin)),

    // --- perceptual image hash gate: executors synthesize ramp and
    //     solid PNGs; the dHash closed forms (strictly-increasing
    //     ramp ⇒ all 64 comparison bits set ⇒ -1L; solid ⇒ no bit set
    //     ⇒ 0L) pin the cell grid, the luma formula, and the bit
    //     order against the count-only oracle ---
    Query("q197_image_phash", (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).filter(col("doc_id") % 19 === 0)
        .as[Long]
        .mapPartitions(_.map { id =>
          val w = (36 + id % 16).toInt
          val h = (32 + id % 8).toInt
          val png =
            if (id % 2 == 0) Multimodal.rampPng(w, h)
            else Multimodal.solidPng(w, h, (40 + id % 160).toInt)
          (id, png)
        })
        .toDF("doc_id", "png")
      Multimodal.imageDHash(payloads, "doc_id", "png")(s).toDF()
        .agg(
          count(lit(1)).as("n_images"),
          sum((col("decoded") && col("id") % 2 === 0 &&
            col("dhash") === -1L).cast("long")).as("n_ramp_allones"),
          sum((col("decoded") && col("id") % 2 === 1 &&
            col("dhash") === 0L).cast("long")).as("n_solid_zero"))
    },
      // dHash closed-form gates: even sampled docs get ramp payloads
      // (all-ones hash), odd get solids (zero hash) — the oracle
      // recomputes both sample sizes from doc_id arithmetic alone
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
        |       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ramp_allones,
        |       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_solid_zero
        |FROM documents WHERE doc_id % 19 = 0""".stripMargin)),

    // --- image near-dup gate (the pixel face of the dedup family):
    //     3 pattern copies per sampled doc — base, +8 brightness
    //     (dHash-identical by construction), +16 brightness with a
    //     +25 bump in cell (0,0) (Hamming ≤ 1) — so each group must
    //     yield EXACTLY its 3 within-group pairs through the 8-band
    //     Hamming join; the oracle derives the pair count from the
    //     doc sample alone ---
    Query("q198_image_neardup", (s, dir) => {
      import s.implicits._
      val imgs = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).filter(col("doc_id") % 23 === 0)
        .as[Long]
        .flatMap { id =>
          val w = (36 + id % 16).toInt
          val h = (32 + id % 8).toInt
          Seq(
            (id * 4, Multimodal.cellPatternPng(w, h, id)),
            (id * 4 + 1, Multimodal.cellPatternPng(w, h, id, brightness = 8)),
            (id * 4 + 2,
              Multimodal.cellPatternPng(w, h, id, brightness = 16, bump00 = 25)))
        }
        .toDF("img_id", "png")
      val pairs = Multimodal.imageNearDup(imgs, "img_id", "png", maxDist = 4)(s)
        .filter(floor(col("id_a") / 4) === floor(col("id_b") / 4))
      t(s, dir, "documents").filter(col("doc_id") % 23 === 0)
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
        .select(col("n_docs"), col("n_pairs"),
          (col("n_pairs") === col("n_docs") * 3).cast("int").as("complete"))
    },
      // every sampled doc plants 3 near-copies whose pairwise Hamming
      // is ≤ 1 by construction, so the 8-band join must return exactly
      // 3 within-group pairs per doc
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(3 * COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(1 AS INT) AS complete
        |FROM documents WHERE doc_id % 23 = 0""".stripMargin)),

    // --- perceptual audio hash gate (the q197 pattern on the audio
    //     axis): strictly-rising staircases hash to all-ones,
    //     constant tones to zero — pinning the window grid, the
    //     |sample| accumulation, and the bit order ---
    Query("q203_audio_phash", (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).filter(col("doc_id") % 29 === 0)
        .as[Long]
        .mapPartitions(_.map { id =>
          val wav =
            if (id % 2 == 0) Multimodal.staircaseWav()
            else Multimodal.pcm16Wav(8000, (500 + (id % 100) * 7).toShort,
              (650 + id % 64).toInt)
          (id, wav)
        })
        .toDF("doc_id", "wav")
      Multimodal.audioDHash(payloads, "doc_id", "wav")(s).toDF()
        .agg(
          count(lit(1)).as("n_clips"),
          sum((col("decoded") && col("id") % 2 === 0 &&
            col("ahash") === -1L).cast("long")).as("n_stair_allones"),
          sum((col("decoded") && col("id") % 2 === 1 &&
            col("ahash") === 0L).cast("long")).as("n_const_zero"))
    },
      // audio dHash closed-form gates (the q197 scheme on audio)
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_clips,
        |       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_stair_allones,
        |       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_const_zero
        |FROM documents WHERE doc_id % 29 = 0""".stripMargin)),

    // --- audio near-dup gate: 3 pattern copies per sampled doc —
    //     base, ×2 gain (hash-identical: integer gain preserves every
    //     window comparison), ×2 gain with a window-0 bump (Hamming
    //     ≤ 1) — exactly 3 within-group pairs through the shared
    //     8-band Hamming join ---
    Query("q204_audio_neardup", (s, dir) => {
      import s.implicits._
      val clips = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).filter(col("doc_id") % 31 === 0)
        .as[Long]
        .flatMap { id =>
          Seq(
            (id * 4, Multimodal.windowPatternWav(id)),
            (id * 4 + 1, Multimodal.windowPatternWav(id, gain = 2)),
            (id * 4 + 2,
              Multimodal.windowPatternWav(id, gain = 2, bump0 = 800)))
        }
        .toDF("clip_id", "wav")
      val pairs = Multimodal.audioNearDup(clips, "clip_id", "wav",
          maxDist = 4)(s)
        .filter(floor(col("id_a") / 4) === floor(col("id_b") / 4))
      t(s, dir, "documents").filter(col("doc_id") % 31 === 0)
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n_pairs"))))
        .select(col("n_docs"), col("n_pairs"),
          (col("n_pairs") === col("n_docs") * 3).cast("int").as("complete"))
    },
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(3 * COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(1 AS INT) AS complete
        |FROM documents WHERE doc_id % 31 = 0""".stripMargin)),

    // --- video near-dup gate (re-cut detection): per sampled doc,
    //     two MJPEG videos sharing exactly 2 of their 3 pattern
    //     frames (identical synthesizer args ⇒ identical JPEG bytes
    //     ⇒ identical frame dHash); minShared = 2 must pair exactly
    //     the within-doc couple and nothing else counted ---
    Query("q205_video_neardup", (s, dir) => {
      import s.implicits._
      val vids = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).filter(col("doc_id") % 37 === 0)
        .as[Long]
        .flatMap { id =>
          val w = (36 + id % 16).toInt
          val h = (32 + id % 8).toInt
          def f(k: Long) = Multimodal.cellPatternJpeg(w, h, id * 16 + k)
          Seq(
            (id * 4, Multimodal.mjpegAvi(Seq(f(0), f(1), f(2)), w, h)),
            (id * 4 + 1, Multimodal.mjpegAvi(Seq(f(0), f(1), f(3)), w, h)))
        }
        .toDF("vid_id", "avi")
      val pairs = Multimodal.videoNearDup(vids, "vid_id", "avi",
          minShared = 2)(s)
        .filter(floor(col("id_a") / 4) === floor(col("id_b") / 4))
      t(s, dir, "documents").filter(col("doc_id") % 37 === 0)
        .agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(pairs
          .agg(count(lit(1)).as("n_pairs"),
            coalesce(sum(col("shared_frames")), lit(0L)).as("n_shared"))))
        .select(col("n_docs"), col("n_pairs"), col("n_shared"),
          (col("n_pairs") === col("n_docs") &&
            col("n_shared") === col("n_docs") * 2).cast("int").as("complete"))
    },
      // each sampled doc plants one video couple sharing exactly 2
      // frames; the oracle derives pair and shared-frame counts from
      // the doc sample alone
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(2 * COUNT(*) AS BIGINT) AS n_shared,
        |       CAST(1 AS INT) AS complete
        |FROM documents WHERE doc_id % 37 = 0""".stripMargin)),

    // --- real video-container decode gate: executors synthesize
    //     MJPEG-in-AVI payloads (1 + doc_id % 4 solid-gray JPEG
    //     frames, dims + gray closed-form in doc_id and frame index),
    //     decodeVideoFrames walks the RIFF tree and JPEG-decodes each
    //     frame; the oracle derives frame counts from the same
    //     formulas. Luma tolerance 2.0 covers JPEG DC quantization of
    //     a constant block (±1 gray) plus RGB↔YCbCr rounding ---
    Query("q163_video_frames", (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).filter(col("doc_id") % 17 === 0)
        .as[Long]
        .mapPartitions(_.map { id =>
          val n = (1 + id % 4).toInt
          val w = (16 + id % 16).toInt
          val h = (16 + id % 12).toInt
          val frames = (0 until n).map(f =>
            Multimodal.solidJpeg(w, h, ((id * 31 + f * 17) % 256).toInt))
          (id, Multimodal.mjpegAvi(frames, w, h))
        })
        .toDF("doc_id", "avi")
      Multimodal.decodeVideoFrames(payloads, "doc_id", "avi")(s).toDF()
        .agg(
          count(lit(1)).as("n_frames"),
          sum(col("decoded").cast("long")).as("n_decoded"),
          sum((col("decoded") &&
            col("frameIdx") >= 0 && col("frameIdx") < (col("id") % 4 + 1) &&
            col("width") === (col("id") % 16 + 16).cast("int") &&
            col("height") === (col("id") % 12 + 16).cast("int") &&
            abs(col("meanLuma") -
              pmod(col("id") * 31 + col("frameIdx") * 17, lit(256))) <= 2.0)
            .cast("long")).as("n_ok"))
    },
      // the oracle re-derives the per-doc frame count (1 + doc_id % 4)
      // and pins every frame decoded and formula-exact
      oracle = Some("""SELECT CAST(SUM(1 + doc_id % 4) AS BIGINT) AS n_frames,
        |       CAST(SUM(1 + doc_id % 4) AS BIGINT) AS n_decoded,
        |       CAST(SUM(1 + doc_id % 4) AS BIGINT) AS n_ok
        |FROM documents WHERE doc_id % 17 = 0""".stripMargin)),

    Query("q132_audio_features", (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).filter(col("doc_id") % 13 === 0)
        .as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.pcm16Wav(8000,
            (500 + (id % 100) * 7).toShort, (64 + id % 64).toInt))
        })
        .toDF("doc_id", "wav")
      Multimodal.audioFeatures(payloads, "doc_id", "wav")(s).toDF()
        .agg(
          count(lit(1)).as("n_clips"),
          sum(col("decoded").cast("long")).as("n_decoded"),
          sum((col("decoded") &&
            col("sampleRate") === 8000 && col("channels") === 1 &&
            col("nFrames") === (col("id") % 64 + 64) &&
            abs(col("rms") - (col("id") % 100 * 7 + 500)) < 0.5)
            .cast("long")).as("n_ok"))
    },
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_clips,
        |       CAST(COUNT(*) AS BIGINT) AS n_decoded,
        |       CAST(COUNT(*) AS BIGINT) AS n_ok
        |FROM documents WHERE doc_id % 13 = 0""".stripMargin)),

    // --- REAL audio resample gate (retires the last stub seam, SURVEY
    //     §8 L17): executors synthesize constant-amplitude 8 kHz PCM
    //     WAVs (amplitude + frame count closed-form in doc_id),
    //     resampleAudio linearly interpolates them to 16 kHz, and the
    //     gate pins the exact interpolation contract — nOut =
    //     ⌊(nIn−1)·dst/src⌋+1 = 2·nIn−1, and a constant signal
    //     resamples to the same constant EXACTLY (rms == amplitude,
    //     1e-9) — then re-decodes the written WAV with the independent
    //     q132 decoder and pins rate/frames/RMS of the round trip ---
    Query("q169_audio_resample", (s, dir) => {
      import s.implicits._
      val payloads = t(s, dir, "documents")
        .select(col("doc_id").cast("long")).filter(col("doc_id") % 13 === 0)
        .as[Long]
        .mapPartitions(_.map { id =>
          (id, Multimodal.pcm16Wav(8000,
            (500 + (id % 100) * 7).toShort, (64 + id % 64).toInt))
        })
        .toDF("doc_id", "wav")
      // materialize the resample once: `res` feeds BOTH join sides
      // (stats + the round-trip re-decode) — without this the whole
      // synthesize→resample chain executes twice
      val res = Multimodal.resampleAudio(payloads, "doc_id", "wav", 16000)(s)
        .toDF().localCheckpoint()
      val roundTrip = Multimodal.audioFeatures(
          res.select(col("id").as("doc_id"), col("wav")), "doc_id", "wav")(s)
        .toDF()
        .select(col("id"), col("decoded").as("rt_ok"),
          col("sampleRate").as("rt_rate"), col("nFrames").as("rt_frames"),
          col("rms").as("rt_rms"))
      res.join(roundTrip, Seq("id"))
        .agg(
          count(lit(1)).as("n_clips"),
          sum(col("decoded").cast("long")).as("n_decoded"),
          sum((col("decoded") &&
            col("srcRate") === 8000 && col("dstRate") === 16000 &&
            col("channels") === 1 &&
            col("nIn") === (col("id") % 64 + 64) &&
            col("nOut") === (col("id") % 64 + 64) * 2 - 1 &&
            abs(col("rmsOut") - (col("id") % 100 * 7 + 500)) < 1e-9 &&
            col("rt_ok") && col("rt_rate") === 16000 &&
            col("rt_frames") === col("nOut") &&
            abs(col("rt_rms") - (col("id") % 100 * 7 + 500)) < 0.5)
            .cast("long")).as("n_ok"))
    },
      // resample gate: the oracle pins the sample size and the
      // every-clip-resamples-exactly contract (see q169 query)
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_clips,
        |       CAST(COUNT(*) AS BIGINT) AS n_decoded,
        |       CAST(COUNT(*) AS BIGINT) AS n_ok
        |FROM documents WHERE doc_id % 13 = 0""".stripMargin)))
}
