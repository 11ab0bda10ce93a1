package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Unigram language-model tokenizer — the THIRD production tokenizer
  * family (SentencePiece: Kudo 2018, "Subword Regularization"; the
  * T5/Llama/mT5 lineage), next to [[Bpe]]'s merge-count family and
  * [[WordPiece]]'s likelihood-merge family. Nothing here is a merge
  * loop — both faces are genuinely different algorithms:
  *
  *  - TRAINING is EM over a candidate-piece lattice: seed the
  *    vocabulary with the highest `frequency · length` substrings
  *    (every single character always kept — the coverage floor), then
  *    alternate (E) expected piece counts under the current unigram
  *    probabilities via per-word forward–backward over ALL
  *    segmentations, (M) re-normalize counts into probabilities;
  *    finally PRUNE to the target size, dropping the multi-char
  *    pieces with the smallest expected counts. (Expected count is
  *    the dominant term of SentencePiece's removal-loss criterion —
  *    the reference refines it with alternative-segmentation
  *    likelihoods; we document the simplification rather than hide
  *    it.)
  *  - SERVING is Viterbi: the single most-probable segmentation
  *    (max Σ log p), not greedy longest-match and not merge replay. A
  *    word containing a character the final vocabulary lacks has no
  *    path and becomes ONE `[UNK]` — the closed-vocabulary face that
  *    contrasts byte-BPE's structural zero on the shared unicode
  *    fixture (q219 vs q224 vs q231).
  *
  * ── Bit-replayability (what makes the EM DuckDB-oracle-able) ──
  *
  * Floating point appears ONLY inside the per-word forward–backward,
  * where evaluation order is a fixed left-to-right DP both engines
  * spell identically; every cross-word boundary is EXACT INTEGERS:
  *
  *  - probabilities are QUANTIZED to integer units of 1e-9
  *    (`q = count·1e9 ÷ total`, integer division — driver-side BigInt
  *    here, HUGEINT in the oracle); `p = q/1e9` is an exact-integer
  *    load and one correctly-rounded division, so both engines start
  *    every round from IDENTICAL doubles;
  *  - each per-occurrence expected count is rounded to integer units
  *    (`floor(x·1e9 + 0.5)` — the same literal formula in both
  *    engines, no library round() semantics involved) BEFORE the
  *    cross-word sum, so aggregation is an order-free integer sum;
  *  - α/β sums add at most [[DefaultMaxPieceLen]] terms in fixed
  *    ascending-k order (`((c1+c2)+c3)+c4` — absent terms are +0.0,
  *    and x+0.0 == x exactly for the non-negative values here);
  *  - Viterbi costs are integers (`floor(−ln(p)·1e6 + 0.5)`, the q75
  *    ln-precedent: identical double inputs, one transcendental, a
  *    quantization coarse enough to absorb a ±1-ulp libm divergence),
  *    so the serve DP is pure integer arithmetic with a total-order
  *    tie-break (cost, then piece count, then the UTF-8 bytes of the
  *    joined segmentation).
  *
  * ── Scale design ──
  *
  * ONE corpus pass builds the distinct-word frequency table; seeding
  * is a distributed substring count + TakeOrdered (never a collect of
  * the candidate set); each EM round is one `mapPartitions` pass over
  * the DISTINCT words (model broadcast, per-word O(len·maxPieceLen)
  * DP) followed by a vocabulary-bounded integer aggregation — the
  * only driver state is the model itself (≤ charset + seedMulti
  * entries, a contract-bounded collect). Serving encodes each
  * distinct word once and the corpus word stream equi-joins the
  * result, exactly the [[WordPiece.tokenCounts]] economics.
  *
  * Training ignores words longer than `maxTrainWordLen` (degenerate
  * tokens — URL/id shapes; SentencePiece's own length filters play
  * the same role) and serving maps words past `maxInputCharsPerWord`
  * to `[UNK]` — both bounds are mirrored by the oracle's unroll
  * depth, [[OracleMaxWordLen]].
  */
object Unigram {

  /** The unknown-word token (SentencePiece writes `<unk>`, but `<`/`>`
    * are this engine's word-guard sentinels; the bracket form keeps
    * the three families' OOV faces directly comparable).
    */
  val Unk = "[UNK]"

  /** Unigram's serve conventions: the id-1 space token between words,
    * the segmenter's `unk` flag, plain concatenation on decode.
    */
  val face: TokenServe.Face = TokenServe.Face(TokenServe.wordOk, Some(1),
    col("unk"), nTok = "n_tok", nUnk = "n_unk")

  /** Longest candidate piece (SentencePiece's
    * `max_sentencepiece_length` is 16 by default; 4 keeps the oracle's
    * per-position fan-in enumerable while still exercising genuinely
    * multi-char pieces).
    */
  val DefaultMaxPieceLen = 4

  /** Oracle unroll depth = the training word-length bound and the
    * default serve bound (the [[WordPiece.OracleMaxWordLen]]
    * discipline: each DP level consumes ≥ 1 character).
    */
  val OracleMaxWordLen = 32

  private val Billion = 1000000000L

  /** One n-best candidate of one word (the [[nbestOf]] DP row). */
  private[llm] final case class NbRow(rank: Int, cost: Option[Long],
      n_pieces: Long, unk: Int, segmented: String)

  /** One sampling candidate with its cumulative integer weight (the
    * [[sampleSegments]] per-word array element).
    */
  private[llm] final case class SampleCand(rank: Int, cum: Long,
      n_pieces: Long, unk: Int, segmented: String)

  private def cps(w: String): Array[String] = {
    val out = new Array[String](w.codePointCount(0, w.length))
    var i = 0; var j = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out(j) = new String(Character.toChars(cp))
      i += Character.charCount(cp); j += 1
    }
    out
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** One corpus pass → the distinct `(word, n)` table, length-bounded
    * for training (see the object note).
    */
  private def words0(docs: DataFrame, textCol: String,
                     maxTrainWordLen: Int): DataFrame =
    TokenServe.words(docs, textCol, face.guard)
      .filter(length(col("word")) <= maxTrainWordLen)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** The seed CANDIDATE table `(piece, freq, score)`: every substring
    * of length 1..maxPieceLen counted per occurrence position
    * (overlaps included), scored `freq · length`.
    */
  private def seedCandidates(w0: DataFrame, maxPieceLen: Int): DataFrame = {
    val spark = w0.sparkSession
    import spark.implicits._
    w0.select(col("word"), col("n")).as[(String, Long)]
      .flatMap { case (w, n) =>
        val a = cps(w)
        for {
          i <- a.indices
          k <- 1 to math.min(maxPieceLen, a.length - i)
        } yield (a.slice(i, i + k).mkString, n)
      }
      .toDF("piece", "n")
      .groupBy(col("piece")).agg(sum(col("n")).as("freq"))
      .withColumn("score", col("freq") * length(col("piece")))
  }

  /** The kept seed set: ALL single characters (coverage floor) plus
    * the top `seedMulti` multi-char candidates by (score desc, piece
    * asc in UTF-8 binary order — the `hex(encode(...))` trick keeps
    * the distributed TakeOrdered identical to the oracle's collation
    * even for astral alphabets).
    */
  private def seedKept(w0: DataFrame, maxPieceLen: Int,
                       seedMulti: Int): DataFrame = {
    val cand = seedCandidates(w0, maxPieceLen)
    val chars = cand.filter(length(col("piece")) === 1)
    val multi = cand.filter(length(col("piece")) >= 2)
      .orderBy(col("score").desc, hex(encode(col("piece"), "UTF-8")).asc)
      .limit(seedMulti)
    chars.unionByName(multi)
  }

  /** Exact-integer normalization: `q = v·1e9 ÷ Σv` (BigInt — the
    * values can exceed what a Long product holds), keeping only
    * `q > 0` (a piece the quantization grid cannot see carries no
    * probability mass and would be −∞ at serve).
    */
  private def normalize(counts: Seq[(String, Long)]): Map[String, Long] = {
    val total = counts.iterator.map(x => BigInt(x._2)).sum
    if (total == 0) Map.empty
    else counts.iterator
      .map { case (p, v) => p -> (BigInt(v) * Billion / total).toLong }
      .filter(_._2 > 0L)
      .toMap
  }

  /** Per-word expected-count contributions under `pOf` — the
    * forward–backward E-step, emitting `(piece, integer units)` per
    * occurrence (zero-unit occurrences skipped; the sum is unchanged).
    * Evaluation order is the contract — see the object note.
    */
  private def wordContribs(w: String, n: Long, pOf: Map[String, Double],
                           maxPieceLen: Int): Iterator[(String, Long)] = {
    val a = cps(w)
    val L = a.length
    val alpha = new Array[Double](L + 1)
    alpha(0) = 1.0
    var i = 1
    while (i <= L) {
      var s = 0.0
      var k = 1
      val km = math.min(maxPieceLen, i)
      while (k <= km) {
        val p = pOf.getOrElse(a.slice(i - k, i).mkString, 0.0)
        s = s + alpha(i - k) * p
        k += 1
      }
      alpha(i) = s
      i += 1
    }
    val z = alpha(L)
    if (z == 0.0) return Iterator.empty
    // β by distance-from-end d: β(0) = 1; β(d) sums pieces STARTING at
    // position L−d+1 (1-based), term order k ascending, p·β like the
    // oracle's o.p * b.bv
    val beta = new Array[Double](L + 1)
    beta(0) = 1.0
    var d = 1
    while (d <= L) {
      var s = 0.0
      var k = 1
      val km = math.min(maxPieceLen, d)
      while (k <= km) {
        val p = pOf.getOrElse(a.slice(L - d, L - d + k).mkString, 0.0)
        s = s + p * beta(d - k)
        k += 1
      }
      beta(d) = s
      d += 1
    }
    val nd = n.toDouble
    val out = Seq.newBuilder[(String, Long)]
    var st = 0 // 0-based start
    while (st < L) {
      var k = 1
      val km = math.min(maxPieceLen, L - st)
      while (k <= km) {
        val piece = a.slice(st, st + k).mkString
        pOf.get(piece).foreach { p =>
          // x = ((((n · α_{start−1}) · p) · β_{L−end}) / Z) — the
          // parenthesization IS the oracle's expression
          val x = ((((nd * alpha(st)) * p) * beta(L - (st + k))) / z)
          val u = math.floor(x * 1.0e9 + 0.5).toLong
          if (u > 0L) out += ((piece, u))
        }
        k += 1
      }
      st += 1
    }
    out.result().iterator
  }

  /** One distributed E-step: expected integer units per piece. */
  private def eStep(w0: DataFrame, model: Map[String, Long],
                    maxPieceLen: Int): Seq[(String, Long)] = {
    val spark = w0.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    try {
      w0.select(col("word"), col("n")).as[(String, Long)]
        .mapPartitions { it =>
          val pOf = bc.value.map { case (pc, q) =>
            pc -> q.toDouble / 1.0e9 }
          it.flatMap { case (w, n) => wordContribs(w, n, pOf, maxPieceLen) }
        }
        .toDF("piece", "u")
        .groupBy(col("piece")).agg(sum(col("u")).as("u"))
        .filter(col("u") > 0)
        .as[(String, Long)].collect().toSeq
    } finally {
      // each EM iteration broadcasts a fresh model; without a destroy,
      // repeated train() calls in a long-lived session accumulate
      // broadcast blocks on driver and executors
      bc.destroy()
    }
  }

  private val modelSchema = StructType(Seq(
    StructField("piece", StringType, nullable = false),
    StructField("u", LongType, nullable = false),
    StructField("q", LongType, nullable = false)))

  /** Train the Unigram model: seed → `emIters` EM rounds → prune to
    * (all single chars + top `keepMulti` multi-char pieces by final
    * expected count, ties on UTF-8 piece order) → renormalize.
    * Returns `(piece, u, q)` — the final expected units and the
    * quantized probability (units of 1e-9).
    */
  def train(docs: DataFrame, textCol: String,
            seedMulti: Int, keepMulti: Int, emIters: Int = 2,
            maxPieceLen: Int = DefaultMaxPieceLen,
            maxTrainWordLen: Int = OracleMaxWordLen): DataFrame = {
    require(emIters >= 1, "emIters must be positive")
    val spark = docs.sparkSession
    val w0 = words0(docs, textCol, maxTrainWordLen).localCheckpoint()
    val seedRows = seedKept(w0, maxPieceLen, seedMulti)
      .select(col("piece"), col("score"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    var model = normalize(seedRows)
    var lastCounts: Seq[(String, Long)] = Seq.empty
    var t = 1
    while (t <= emIters) {
      lastCounts = eStep(w0, model, maxPieceLen)
      model = normalize(lastCounts)
      t += 1
    }
    // prune on the FINAL expected units: coverage chars stay, the
    // weakest multi-char pieces go
    val (chars, multi) = lastCounts.partition(x =>
      x._1.codePointCount(0, x._1.length) == 1)
    val keptMulti = multi.sortWith { case ((p1, u1), (p2, u2)) =>
      if (u1 != u2) u1 > u2
      else MergeTrain.compareUtf8(utf8(p1), utf8(p2)) < 0
    }.take(keepMulti)
    val kept = chars ++ keptMulti
    val qOf = normalize(kept)
    val rows = kept.collect { case (p, u) if qOf.contains(p) =>
      org.apache.spark.sql.Row(p, u, qOf(p)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), modelSchema)
  }

  /** The seed model alone (the q229 face): `(piece, freq, score, q)`
    * with `q` the initial quantized probability EM starts from.
    */
  def seedModel(docs: DataFrame, textCol: String, seedMulti: Int,
                maxPieceLen: Int = DefaultMaxPieceLen,
                maxTrainWordLen: Int = OracleMaxWordLen): DataFrame = {
    val spark = docs.sparkSession
    val w0 = words0(docs, textCol, maxTrainWordLen).localCheckpoint()
    val kept = seedKept(w0, maxPieceLen, seedMulti).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val qOf = normalize(kept.map(x => (x._1, x._3)).toSeq)
    val rows = kept.collect { case (p, f, sc) if qOf.contains(p) =>
      org.apache.spark.sql.Row(p, f, sc, qOf(p)) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      StructType(Seq(
        StructField("piece", StringType, nullable = false),
        StructField("freq", LongType, nullable = false),
        StructField("score", LongType, nullable = false),
        StructField("q", LongType, nullable = false))))
  }

  /** Viterbi segmentation of `docs`' DISTINCT words under a trained
    * model — `(word, n_pieces, unk, segmented)`: the single
    * most-probable segmentation by integer cost
    * `floor(−ln(q/1e9)·1e6 + 0.5)`, ties broken on fewer pieces then
    * the UTF-8 bytes of the joined piece string; a word with no path
    * (an unseen character, or past `maxInputCharsPerWord`) is ONE
    * `[UNK]`. Each distinct word encodes once against the broadcast
    * model; O(len · maxPieceLen) per word.
    */
  def viterbiSegments(docs: DataFrame, textCol: String, model: DataFrame,
                      maxInputCharsPerWord: Int = OracleMaxWordLen,
                      maxPieceLen: Int = DefaultMaxPieceLen): DataFrame = {
    val spark = docs.sparkSession
    val lpOf: Map[String, Long] = model.select(col("piece"), col("q"))
      .collect().map { r =>
        val q = r.getLong(1)
        r.getString(0) ->
          math.floor(-math.log(q.toDouble / 1.0e9) * 1.0e6 + 0.5).toLong
      }.toMap
    require(lpOf.nonEmpty,
      "viterbiSegments needs a non-empty trained model")
    val bc = spark.sparkContext.broadcast(lpOf)
    val maxChars = maxInputCharsPerWord
    val m = maxPieceLen
    import spark.implicits._
    TokenServe.distinctWords(docs, textCol, face.guard)
      .as[String]
      .mapPartitions { it =>
        val lp = bc.value
        it.map { w =>
          val a = cps(w)
          val L = a.length
          if (L > maxChars) (w, 1L, 1, Unk)
          else {
            val INF = Long.MaxValue
            val cost = Array.fill(L + 1)(INF)
            val np = new Array[Int](L + 1)
            val seq = new Array[String](L + 1)
            cost(0) = 0L; seq(0) = ""
            var i = 1
            while (i <= L) {
              var k = 1
              val km = math.min(m, i)
              while (k <= km) {
                if (cost(i - k) != INF) {
                  val piece = a.slice(i - k, i).mkString
                  lp.get(piece).foreach { c =>
                    val nc = cost(i - k) + c
                    val nn = np(i - k) + 1
                    val ns = if (seq(i - k).isEmpty) piece
                             else seq(i - k) + " " + piece
                    val better =
                      nc < cost(i) || (nc == cost(i) && (nn < np(i) ||
                        (nn == np(i) &&
                          MergeTrain.compareUtf8(utf8(ns), utf8(seq(i))) < 0)))
                    if (better) { cost(i) = nc; np(i) = nn; seq(i) = ns }
                  }
                }
                k += 1
              }
              i += 1
            }
            if (cost(L) == INF) (w, 1L, 1, Unk)
            else (w, np(L).toLong, 0, seq(L))
          }
        }
      }.toDF("word", "n_pieces", "unk", "segmented")
  }

  /** Per-document Unigram economics — `(doc_id, n_words, n_pieces,
    * n_unk)`, the [[WordPiece.tokenCounts]] shape over the Viterbi
    * segmentation ([[TokenServe.pieceCounts]]).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  model: DataFrame,
                  maxInputCharsPerWord: Int = OracleMaxWordLen,
                  maxPieceLen: Int = DefaultMaxPieceLen): DataFrame =
    TokenServe.pieceCounts(docs, idCol, textCol, face,
      viterbiSegments(docs, textCol, model, maxInputCharsPerWord,
        maxPieceLen))

  // ──────────── subword regularization (X148) ────────────

  /** The k-BEST segmentations per distinct word under the trained
    * model — SentencePiece's `NBestEncode` face (Kudo 2018 §3: the
    * lattice's n-best list is what subword regularization samples
    * from). `(word, rank, cost, n_pieces, unk, segmented)` with
    * `rank = 1..min(nbest, #paths)` under the SAME total order as
    * [[viterbiSegments]] (integer cost, then piece count, then the
    * UTF-8 bytes of the joined segmentation) — so rank 1 IS the
    * Viterbi row. A path-less or over-length word is ONE `[UNK]` row
    * at rank 1 with NULL cost.
    *
    * The DP keeps the `nbest` best prefixes at every position: exact,
    * because the (cost, n_pieces, seq) order is TRANSLATION-INVARIANT
    * under appending a common suffix — costs and counts add, and two
    * prefix segmentations of the same word slice differ at a space
    * position inside their common character stream (neither can be a
    * strict string prefix of the other: same non-space characters,
    * no trailing space), so the first differing byte survives any
    * appended suffix. Top-k per node therefore suffices, the classic
    * k-best Viterbi argument. O(len · maxPieceLen · nbest log nbest)
    * per distinct word, same broadcast-model mapPartitions economics
    * as the 1-best serve.
    */
  /** Quantized negative-log-prob map of the trained model — the
    * driver-side table every serve path broadcasts (vocab-bounded).
    */
  private def logProbMap(model: DataFrame): Map[String, Long] = {
    val lpOf: Map[String, Long] = model.select(col("piece"), col("q"))
      .collect().map { r =>
        val q = r.getLong(1)
        r.getString(0) ->
          math.floor(-math.log(q.toDouble / 1.0e9) * 1.0e6 + 0.5).toLong
      }.toMap
    require(lpOf.nonEmpty, "serve needs a non-empty trained model")
    lpOf
  }

  /** One word's ranked k-best list (the DP shared by
    * [[nbestSegments]] and [[sampleSegments]]): `(rank, cost,
    * n_pieces, unk, segmented)`, rank 1 = Viterbi.
    */
  private def nbestOf(w: String, lp: Map[String, Long], maxChars: Int,
                      m: Int, k: Int): Seq[NbRow] = {
    val lt = (x: (Long, Int, String), y: (Long, Int, String)) =>
      x._1 < y._1 || (x._1 == y._1 && (x._2 < y._2 ||
        (x._2 == y._2 &&
          MergeTrain.compareUtf8(utf8(x._3), utf8(y._3)) < 0)))
    val a = cps(w)
    val L = a.length
    if (L > maxChars)
      Seq(NbRow(1, None, 1L, 1, Unk))
    else {
      val cand =
        Array.fill(L + 1)(Vector.empty[(Long, Int, String)])
      cand(0) = Vector((0L, 0, ""))
      var i = 1
      while (i <= L) {
        val buf = Vector.newBuilder[(Long, Int, String)]
        var kk = 1
        val km = math.min(m, i)
        while (kk <= km) {
          if (cand(i - kk).nonEmpty) {
            val piece = a.slice(i - kk, i).mkString
            lp.get(piece).foreach { c =>
              cand(i - kk).foreach { case (pc, pn, ps) =>
                buf += ((pc + c, pn + 1,
                  if (ps.isEmpty) piece else ps + " " + piece))
              }
            }
          }
          kk += 1
        }
        cand(i) = buf.result().sortWith(lt).take(k)
        i += 1
      }
      if (cand(L).isEmpty)
        Seq(NbRow(1, None, 1L, 1, Unk))
      else cand(L).zipWithIndex.map { case ((c, np, seq), r) =>
        NbRow(r + 1, Some(c), np.toLong, 0, seq)
      }
    }
  }

  def nbestSegments(docs: DataFrame, textCol: String, model: DataFrame,
                    nbest: Int = 4,
                    maxInputCharsPerWord: Int = OracleMaxWordLen,
                    maxPieceLen: Int = DefaultMaxPieceLen): DataFrame = {
    require(nbest >= 1, s"nbest must be >= 1, got $nbest")
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(logProbMap(model))
    val maxChars = maxInputCharsPerWord
    val m = maxPieceLen
    val k = nbest
    import spark.implicits._
    TokenServe.distinctWords(docs, textCol, face.guard)
      .as[String]
      .mapPartitions { it =>
        val lp = bc.value
        it.flatMap { w =>
          nbestOf(w, lp, maxChars, m, k).map(c =>
            (w, c.rank, c.cost, c.n_pieces, c.unk, c.segmented))
        }
      }.toDF("word", "rank", "cost", "n_pieces", "unk", "segmented")
  }

  /** Deterministic SAMPLED segmentation per word OCCURRENCE —
    * subword regularization's serving face (SentencePiece's
    * `SampleEncode(nbest_size, alpha)`, the Kudo 2018 training-time
    * augmentation): each `(doc_id, wpos)` occurrence draws one of its
    * word's [[nbestSegments]] candidates with probability
    * ∝ p(seg)^alpha, so the same word segments DIFFERENTLY across
    * occurrences but IDENTICALLY across runs, partitionings, and
    * engines. `(doc_id, wpos, word, rank, n_pieces, unk, segmented)`
    * with `wpos` the 1-based split index.
    *
    * Engine-replayable by construction:
    *  - weights are QUANTIZED to integer units of 1e-9:
    *    `w_i = floor(exp(−((alpha · (cost_i − cost_min)) / 1e6)) ·
    *    1e9 + 0.5)` — cost deltas are exact integers, the single
    *    `exp` is the q75 ln-precedent in reverse (identical double
    *    input, one transcendental, quantization coarse enough for a
    *    ±1-ulp libm divergence), and rank 1's weight is exactly 1e9;
    *  - the draw is `u mod W` with `u` the top-60-bit integer of
    *    `md5(doc_id:wpos:word)` (the [[Dedup]] 15-hex convention; W ≤
    *    nbest·1e9 ≪ 2^60 keeps the modulo bias below 2^-30) and the
    *    pick is the first rank whose cumulative weight exceeds the
    *    draw — pure integer arithmetic after the one exp.
    *
    * Scale: the n-best table is distinct-words × ≤ nbest rows (its
    * windows partition on `word` — vocabulary-bounded, never the
    * corpus stream); the corpus word stream equi-joins it
    * SHUFFLE_HASH-hinted and the pick is a ≤ nbest array probe per
    * occurrence, the [[tokenCounts]] economics with a constant-size
    * payload.
    *
    * `drawSalt` appends to the md5 key — the per-EPOCH face: a
    * training loop passes `":<epoch>"` so every epoch re-draws each
    * occurrence independently (SentencePiece resamples per call; the
    * salt is this engine's deterministic equivalent), while the
    * default "" keeps a single canonical draw.
    */
  def sampleSegments(docs: DataFrame, idCol: String, textCol: String,
                     model: DataFrame, nbest: Int = 4,
                     alpha: Double = 0.5,
                     maxInputCharsPerWord: Int = OracleMaxWordLen,
                     maxPieceLen: Int = DefaultMaxPieceLen,
                     drawSalt: String = ""): DataFrame = {
    require(alpha > 0.0 && alpha <= 10.0,
      s"alpha must be in (0, 10], got $alpha")
    // Round-14 optimization: the candidate weights and their running
    // sums are PER-WORD arithmetic over the ≤ nbest candidates the
    // [[nbestOf]] DP just produced IN HAND — so they are computed
    // right there in the mapPartitions, one row per word out. The
    // previous shape re-shuffled the (word, rank) n-best rows, ran
    // two word-partitioned windows (min + cumulative sum) and a
    // collect_list aggregation over them — an exchange plus three
    // passes over a vocabulary×nbest table per call, measured as a
    // 2.3 s coalesced single-task stage at sf0.1. Arithmetic is
    // bit-identical: the same (alpha·Δcost)/1e6 → exp → ·1e9 + 0.5 →
    // floor chain in the same IEEE order (Spark's Exp IS
    // java.lang.Math.exp), NULL-cost rows keep the exact-1e9 weight,
    // and the cumulative order is the same rank order.
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(logProbMap(model))
    val maxChars = maxInputCharsPerWord
    val m = maxPieceLen
    val k = nbest
    val a0 = alpha
    import spark.implicits._
    val cands = TokenServe.distinctWords(docs, textCol, face.guard)
      .as[String]
      .mapPartitions { it =>
        val lp = bc.value
        it.map { w =>
          val cs = nbestOf(w, lp, maxChars, m, k)
          // min(cost) ignoring NULLs — the window-min replay; a word
          // with any path has rank 1 non-null, so cmin is defined
          // exactly when the formula branch is reachable
          val cmin = cs.iterator.flatMap(_.cost).reduceOption(_ min _)
          var cum = 0L
          val arr = cs.map { c =>
            val wgt = c.cost match {
              case Some(cost) =>
                math.floor(math.exp(-((a0 * (cost - cmin.get).toDouble)
                  / 1.0e6)) * 1.0e9 + 0.5).toLong
              case None => Billion
            }
            cum += wgt
            SampleCand(c.rank, cum, c.n_pieces, c.unk, c.segmented)
          }
          (w, arr, cum)
        }
      }.toDF("word", "_cands", "_wtot")
    docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("_wp0", "word")))
      .filter(face.guard)
      .withColumn("wpos", (col("_wp0") + 1).cast("int"))
      .join(cands.hint("shuffle_hash"), Seq("word"))
      .withColumn("_u", conv(substring(md5(concat(
          col("doc_id").cast("string"), lit(":"),
          col("wpos").cast("string"), lit(":"), col("word"),
          lit(drawSalt))),
        1, 15), 16, 10).cast("long"))
      .withColumn("_r", pmod(col("_u"), col("_wtot")))
      .withColumn("_pick",
        expr("element_at(_cands, size(filter(_cands, c -> c.cum <= _r)) + 1)"))
      .select(col("doc_id"), col("wpos"), col("word"),
        col("_pick.rank").as("rank"),
        col("_pick.n_pieces").as("n_pieces"),
        col("_pick.unk").as("unk"),
        col("_pick.segmented").as("segmented"))
  }

  /** The pretraining artifact UNDER subword regularization — what a
    * sampling-enabled training loop actually emits per EPOCH: the
    * [[encodeIds]] shape (`(doc_id, ids, n_unk, n_tok)`, id-1 word
    * boundaries, id 0 for dead words) but with each word OCCURRENCE
    * segmented by its [[sampleSegments]] draw for `epoch` instead of
    * the single Viterbi path. The load-bearing property (spec-pinned):
    * different epochs produce DIFFERENT id streams that decode to the
    * IDENTICAL clean text — segmentation varies, surface text never
    * does.
    *
    * Scale: the sampled stream is per-occurrence (corpus-sized, like
    * any ids materialization); piece→id attaches via the broadcast
    * vocabulary and the two keyed aggregations ((doc, wpos) then doc)
    * group what the q234 assembly grouped.
    */
  def encodeIdsSampled(docs: DataFrame, idCol: String, textCol: String,
                       model: DataFrame, nbest: Int = 4,
                       alpha: Double = 0.5, epoch: Int = 0,
                       maxInputCharsPerWord: Int = OracleMaxWordLen,
                       maxPieceLen: Int = DefaultMaxPieceLen): DataFrame = {
    val vocab = pieceVocab(model)
    val seg = sampleSegments(docs, idCol, textCol, model, nbest, alpha,
      maxInputCharsPerWord, maxPieceLen, drawSalt = s":$epoch")
    val perOccurrence = seg
      .select(col("doc_id"), col("wpos"), col("unk"),
        TokenServe.pieces(split(col("segmented"), " ")))
      .join(broadcast(vocab), Seq("piece"), "left")
      .groupBy(col("doc_id"), col("wpos"))
      .agg(max(face.unknown).as(face.unkCol),
        collect_list(struct(col("_spos"),
          coalesce(col("token_id"), lit(-1)).as("id"))).as("_ps"))
      // native assembly (this agg is per word OCCURRENCE — corpus-
      // scale, unlike the vocab-bounded analogues) — see
      // [[graft.functions.SortedStructIds]]
      .select(col("doc_id"), col("wpos"), col(face.unkCol),
        graft.functions.TokenExprs.sortedStructIds(col("_ps")).as("_wids"))
    TokenServe.assemble(perOccurrence, "wpos", face)
  }

  // ─────────────────── id / artifact surface (X145) ───────────────────

  /** The trained tokenizer's token-id table `(piece, token_id)`:
    * `[UNK]` reserved at 0 and the word-boundary space piece at 1
    * (the engine's uniform interop convention, matching the BPE
    * family's id-0 space — SentencePiece encodes the same boundary
    * information as a `▁` prefix inside pieces instead; ours keeps
    * the per-word training representation honest; the published `▁`
    * rendering is a separate, explicit face — [[exportVocabSp]]),
    * then the trained pieces in (q DESC, UTF-8 piece ASC) order —
    * SentencePiece's score-descending `.vocab` order, made total.
    * Min-id dedup guards the pathological corpus whose words contain
    * literal `[UNK]`, and ids are then renumbered DENSELY in min-id
    * order (the positional TSV artifact cannot represent a gap).
    */
  def pieceVocab(model: DataFrame): DataFrame = {
    val spark = model.sparkSession
    import spark.implicits._
    // Round-14 optimization: the id assignment is DRIVER-LOCAL. The
    // model is a vocabulary — driver-created by [[train]]/[[seedModel]]
    // (createDataFrame of collected rows) and bounded by the keepMulti
    // contract, i.e. exactly the contract-bounded tokenizer-table
    // collect the repo's driver discipline allows. The previous SQL
    // shape ran TWO un-partitioned row_number windows (two
    // SinglePartition exchanges + single-task sorts) over the ~200k
    // production vocabulary per consuming query — the reference's W1
    // antipattern reproduced inside our own serve path; a local sort
    // of the same rows is milliseconds and every consumer broadcasts
    // the result anyway. Semantics are UNCHANGED, step for step:
    //  1. rank by (q DESC, UTF-8 bytes ASC) — `compareUtf8` is the
    //     unsigned byte order, identical to the previous
    //     hex(encode(piece)) string sort — ids from 2;
    //  2. reserved [UNK]→0, " "→1;
    //  3. min-id dedup (a corpus whose words contain a literal
    //     "[UNK]" collapses onto the reserved id — the gap case);
    //  4. dense renumber in min-id order (the positional TSV artifact
    //     cannot represent a gap) — the identity on a collision-free
    //     corpus, mirrored in the vocabCtes oracle.
    val rows = model.select(col("piece"), col("q")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val ranked = rows.sortWith { case ((p1, q1), (p2, q2)) =>
      if (q1 != q2) q1 > q2
      else MergeTrain.compareUtf8(
        p1.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        p2.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    }.zipWithIndex.map { case ((p, _), i) => (p, i + 2) }
    val withSpecials = Seq((Unk, 0), (" ", 1)) ++ ranked
    val dense = withSpecials.groupBy(_._1).view
      .mapValues(ids => ids.map(_._2).min).toSeq
      .sortBy(_._2).zipWithIndex
      .map { case ((p, _), i) => (p, i) }
    dense.toDF("piece", "token_id")
  }

  /** Export the trained model as the SentencePiece `.vocab`-shaped
    * artifact: one `piece<TAB>q` line per piece, LINE ORDER = token id
    * (ids 0/1 are the reserved `[UNK]`/space rows; `q` is the EXACT
    * integer probability in 1e-9 units — the reference writes a float
    * log-prob, which cannot round-trip exactly; the integer does).
    * Single-file bounded write (a vocabulary, never a corpus).
    */
  def exportVocabTsv(model: DataFrame, path: String): Unit = {
    val vocab = pieceVocab(model)
      .join(model.select(col("piece"), col("q")), Seq("piece"), "left")
      .select(col("piece"), col("token_id"),
        coalesce(col("q"), lit(0L)).as("q"))
    val broken = vocab.filter(col("piece").contains("\n") ||
      col("piece").contains("\r") || col("piece").contains("\t")).count()
    require(broken == 0,
      s"exportVocabTsv: $broken piece(s) contain a newline/tab — the " +
        "line-per-piece artifact cannot represent them")
    vocab.orderBy(col("token_id"))
      .select(concat_ws("\t", col("piece"), col("q")).as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$path/unigram.vocab")
  }

  /** Read a `unigram.vocab` back as `(piece, token_id, q)` — ids from
    * line order, the [[WordPiece.importVocabTxt]] single-data-file +
    * loud-blank-line contract (ids are positional).
    */
  def importVocabTsv(spark: SparkSession, path: String): DataFrame = {
    val rows = TokenServe.artifactLines(spark, s"$path/unigram.vocab",
        "importVocabTsv")
      .map { case (line, l) =>
        if (l.isEmpty) throw new IllegalArgumentException(
          s"importVocabTsv: blank line $line — ids are " +
            "positional, a dropped line would shift every id after it")
        val tab = l.lastIndexOf('\t')
        if (tab < 0) throw new IllegalArgumentException(
          s"importVocabTsv: malformed line $line " +
            s"(no piece<TAB>q): '$l'")
        val q = try l.substring(tab + 1).toLong catch {
          case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"importVocabTsv: non-integer q at line $line: " +
                s"'${l.substring(tab + 1)}'")
        }
        org.apache.spark.sql.Row(l.substring(0, tab), line - 1, q)
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("piece", StringType, nullable = false),
      StructField("token_id", IntegerType, nullable = false),
      StructField("q", LongType, nullable = false))))
  }

  // ──────────── SentencePiece-convention interop (X146) ────────────

  /** SentencePiece's reserved unknown piece (`<unk>`, id 0 — the
    * published convention; OUR serving keeps [[Unk]] because `<`/`>`
    * are the engine's word-guard sentinels).
    */
  val SpUnk = "<unk>"

  /** SentencePiece's word-boundary marker `▁` (U+2581 LOWER ONE EIGHTH
    * BLOCK) — in the published convention the boundary lives as a
    * PREFIX on word-initial pieces, not as a standalone space token.
    */
  val SpBoundary = "▁"

  /** The `.vocab` score rendering: the exact double `ln(q/1e9)` in
    * Java's shortest-roundtrip decimal form. Parsing the string back
    * recovers the double bit for bit, and `round(exp(·)·1e9)` recovers
    * the integer `q` exactly (relative error ≤ a few ulp on values
    * ≤ 1e9 — absolute error ≪ 0.5), which [[importVocabSp]] verifies
    * per row by re-rendering.
    */
  private[llm] def spScore(q: Long): String =
    java.lang.Double.toString(math.log(q.toDouble / 1.0e9))

  private def utf8Less(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /** Export the trained model through SentencePiece's PUBLISHED
    * `.vocab` convention — `piece<TAB>score` lines, line order = id,
    * `<unk>` reserved at id 0 with score 0, scores are float
    * log-probs, and the word boundary is rendered as a `▁` PREFIX on
    * word-initial pieces (what a real `sentencepiece`/HF Unigram
    * loader consumes) instead of this engine's internal id-1 space
    * token (the divergence [[pieceVocab]] documents; the [[Bpe]]
    * family got the same treatment in `exportMergesGpt2`).
    *
    * Our model is position-free — ONE probability per piece, wherever
    * in a word it occurs — so each trained piece renders as TWO
    * consecutive lines, `▁piece` then `piece`, sharing its exact
    * score: precisely that model expressed in SentencePiece's
    * coordinate system (a lattice over `▁`-normalized text with both
    * forms scored equally reproduces our per-word Viterbi costs). A
    * real SP trainer would have learned separate boundary/interior
    * scores; the pairing is the honest rendering, and it is what
    * makes the inverse import exact. Pieces in (q DESC, UTF-8 ASC)
    * order — [[pieceVocab]]'s total order. Driver-side single-file
    * write: a vocabulary, never a corpus (the contract-bounded
    * collect class).
    *
    * Fails loudly on pieces the convention cannot carry: a piece
    * starting with `▁` itself (prefix rendering would be ambiguous),
    * tab/newline bytes (line format), or `q ≤ 0` (log-prob undefined).
    */
  def exportVocabSp(model: DataFrame, path: String): Unit = {
    val spark = model.sparkSession
    import spark.implicits._
    val rows = model.select(col("piece"), col("q"))
      .as[(String, Long)].collect() // vocab-sized by the model contract
    rows.foreach { case (p, q) =>
      require(!p.startsWith(SpBoundary),
        s"exportVocabSp: piece '$p' starts with the ▁ boundary marker " +
          "itself — the prefix rendering would be ambiguous on import")
      require(!p.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"exportVocabSp: piece '$p' contains a tab/newline — the " +
          "line-per-piece artifact cannot represent it")
      require(p != SpUnk,
        s"exportVocabSp: piece '$SpUnk' collides with the reserved " +
          "id-0 row")
      require(q > 0,
        s"exportVocabSp: piece '$p' has q=$q — log-prob undefined")
    }
    val sorted = rows.sortWith { case ((p1, q1), (p2, q2)) =>
      q1 > q2 || (q1 == q2 && utf8Less(p1, p2)) }
    val lines = s"$SpUnk\t0" +: sorted.flatMap { case (p, q) =>
      val s = spScore(q)
      Seq(s"$SpBoundary$p\t$s", s"$p\t$s")
    }
    lines.toSeq.toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$path/unigram.sp.vocab")
  }

  /** Inverse of [[exportVocabSp]]: reconstruct the EXACT integer model
    * `(piece, q, sp_id)` from a SentencePiece-convention `.vocab`
    * file, where `sp_id` is the 0-based line id of the piece's
    * `▁`-prefixed form (the id a real SP loader would assign it).
    * Same single-data-file + loud-blank-line contract as
    * [[importVocabTsv]] (ids are positional).
    *
    * Fails loudly on every non-roundtrippable row: a missing/mangled
    * `<unk>` line 0, an odd row count, a line pair that is not
    * `(▁piece, piece)`, pair scores that differ, or a score that does
    * not re-render from any integer probability (verified by
    * re-rendering [[spScore]] — float trucks carry the exact q or the
    * row is rejected, never silently re-quantized).
    */
  def importVocabSp(spark: SparkSession, path: String): DataFrame = {
    val rows = TokenServe.artifactLines(spark, s"$path/unigram.sp.vocab",
        "importVocabSp")
      .mapPartitions { it =>
        // one data file ⇒ one partition ⇒ the iterator IS line order;
        // a vocabulary is bounded, so materializing it here is the
        // same contract-bounded footprint as the export
        val lines = it.map(_._2).toArray
        def parse(i: Int): (String, String) = {
          val l = lines(i)
          if (l.isEmpty) throw new IllegalArgumentException(
            s"importVocabSp: blank line ${i + 1} — ids are positional, " +
              "a dropped line would shift every id after it")
          val tab = l.lastIndexOf('\t')
          if (tab < 0) throw new IllegalArgumentException(
            s"importVocabSp: malformed line ${i + 1} " +
              s"(no piece<TAB>score): '$l'")
          (l.substring(0, tab), l.substring(tab + 1))
        }
        if (lines.isEmpty || lines(0) != s"$SpUnk\t0")
          throw new IllegalArgumentException(
            "importVocabSp: line 1 must be the reserved '<unk>\\t0' " +
              s"row; got: '${lines.headOption.getOrElse("<empty file>")}'")
        if ((lines.length - 1) % 2 != 0)
          throw new IllegalArgumentException(
            s"importVocabSp: ${lines.length - 1} piece rows — every " +
              "piece must appear as a (▁piece, piece) pair; an odd " +
              "count is non-roundtrippable")
        (1 until lines.length by 2).iterator.map { i =>
          val (bp, bs) = parse(i)
          val (pp, ps) = parse(i + 1)
          if (!bp.startsWith(SpBoundary) || bp.substring(SpBoundary.length) != pp)
            throw new IllegalArgumentException(
              s"importVocabSp: lines ${i + 1}/${i + 2} are not a " +
                s"(▁piece, piece) pair: '$bp' / '$pp' — non-roundtrippable")
          if (bs != ps)
            throw new IllegalArgumentException(
              s"importVocabSp: pair scores differ at lines ${i + 1}/" +
                s"${i + 2} ('$bs' vs '$ps') — the two forms of one " +
                "piece share its probability; non-roundtrippable")
          val score = try java.lang.Double.parseDouble(bs) catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"importVocabSp: non-numeric score at line ${i + 1}: '$bs'")
          }
          val approx = math.round(math.exp(score) * 1.0e9)
          val q = (approx - 1 to approx + 1)
            .find(c => c > 0 && spScore(c) == bs)
            .getOrElse(throw new IllegalArgumentException(
              s"importVocabSp: score '$bs' at line ${i + 1} does not " +
                "render from any integer probability — " +
                "non-roundtrippable row"))
          org.apache.spark.sql.Row(pp, q, i)
        }
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("piece", StringType, nullable = false),
      StructField("q", LongType, nullable = false),
      StructField("sp_id", IntegerType, nullable = false))))
  }

  /** The pretraining artifact: per-doc flat token-id sequences under
    * the Viterbi segmentation — `(doc_id, ids, n_unk, n_tok)` with the
    * id-1 space token interleaved between words ([[pieceVocab]]'s
    * boundary convention, which is what makes [[decodeIds]] ∘
    * [[encodeIds]] the identity on UNK-free text) and id 0 for
    * `[UNK]` words. Assembly is [[TokenServe.encodeIds]].
    */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
                model: DataFrame,
                maxInputCharsPerWord: Int = OracleMaxWordLen,
                maxPieceLen: Int = DefaultMaxPieceLen): DataFrame = {
    val vocab = pieceVocab(model)
    TokenServe.encodeIds(docs, idCol, textCol, face,
      viterbiSegments(docs, textCol, model, maxInputCharsPerWord,
          maxPieceLen)
        .select(col("word"), col("unk"),
          TokenServe.pieces(split(col("segmented"), " "))),
      vocab)
  }

  /** Inverse of [[encodeIds]]: id 1 decodes to the space, `[UNK]`'s
    * id 0 to its literal bracket form, an unknown id to U+FFFD; the
    * remaining pieces concatenate (Unigram pieces carry no position
    * marker — the boundary is the id-1 token). `decode(encode(d))`
    * equals `d`'s clean word stream exactly when `n_unk = 0`.
    */
  def decodeIds(encoded: DataFrame, idCol: String, idsCol: String,
                model: DataFrame): DataFrame =
    TokenServe.decodeIds(encoded, idCol, idsCol, pieceVocab(model), face)

  // ──────────────────── DuckDB oracle builders ────────────────────

  /** Training-word table + substring-candidate CTEs (`w0u`, `soc`,
    * `scand`) shared by every oracle.
    */
  private def seedCtes(trainWhere: String, textSql: String,
                       maxPieceLen: Int, maxTrainWordLen: Int,
                       seedMulti: Int): String = {
    val src =
      if (trainWhere.isEmpty) "FROM documents"
      else s"FROM documents WHERE $trainWhere"
    s"""w0u AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS n
       |  FROM (SELECT unnest(string_split($textSql, ' ')) AS word $src)
       |  WHERE word <> '' AND NOT contains(word, '<')
       |    AND NOT contains(word, '>') AND len(word) <= $maxTrainWordLen
       |  GROUP BY 1),
       |soc AS MATERIALIZED (
       |  SELECT piece, SUM(n) AS freq FROM (
       |    SELECT n, unnest(flatten(list_transform(range(1, len(word) + 1),
       |      i -> list_transform(range(1, least($maxPieceLen, len(word) - i + 1) + 1),
       |             k -> substr(word, i, k))))) AS piece
       |    FROM w0u) GROUP BY 1),
       |scand AS (SELECT piece, CAST(freq AS BIGINT) AS freq,
       |                 CAST(freq * len(piece) AS BIGINT) AS score FROM soc),
       |schar AS (SELECT piece, freq, score FROM scand WHERE len(piece) = 1),
       |smulti AS (SELECT piece, freq, score FROM (
       |             SELECT *, ROW_NUMBER() OVER (
       |               ORDER BY score DESC, hex(encode(piece))) AS rn
       |             FROM scand WHERE len(piece) >= 2) WHERE rn <= $seedMulti),
       |skept AS MATERIALIZED (SELECT * FROM schar UNION ALL SELECT * FROM smulti),
       |stot AS (SELECT SUM(CAST(score AS HUGEINT)) AS t FROM skept),
       |mdl0 AS MATERIALIZED (
       |  SELECT piece, freq, score,
       |         CAST((CAST(score AS HUGEINT) * $Billion) // t AS BIGINT) AS q
       |  FROM skept, stot
       |  WHERE (CAST(score AS HUGEINT) * $Billion) // t > 0)""".stripMargin
  }

  /** The DuckDB replay of [[seedModel]]. */
  def seedOracleSql(trainWhere: String = "", textSql: String = "text",
                    seedMulti: Int = 64,
                    maxPieceLen: Int = DefaultMaxPieceLen,
                    maxTrainWordLen: Int = OracleMaxWordLen): String =
    s"WITH ${seedCtes(trainWhere, textSql, maxPieceLen, maxTrainWordLen, seedMulti)}\n" +
      "SELECT piece, freq, score, q FROM mdl0"

  /** One EM iteration's CTE chain: the occurrence table under
    * `mdl{t-1}`, the unrolled α (absolute position) and β
    * (distance-from-end) DP levels, the per-occurrence integer-unit
    * contributions, the integer aggregation `u{t}` and the
    * renormalized `mdl{t}` — every float expression parenthesized
    * exactly as the engine evaluates it.
    */
  private def emIterCtes(t: Int, maxPieceLen: Int, unroll: Int): String = {
    val prev = if (t == 1) "mdl0" else s"mdl${t - 1}"
    val occ =
      s"""occ$t AS MATERIALIZED (
         |  SELECT s.word, s.i, s.k, s.piece, CAST(m.q AS DOUBLE) / 1000000000.0 AS p
         |  FROM (SELECT word, u.i AS i, u.k AS k, substr(word, u.i, u.k) AS piece
         |        FROM (SELECT word, unnest(flatten(list_transform(range(1, len(word) + 1),
         |               i -> list_transform(range(1, least($maxPieceLen, len(word) - i + 1) + 1),
         |                      k -> struct_pack(i := i, k := k))))) AS u
         |              FROM w0u)) s
         |  JOIN $prev m ON m.piece = s.piece)""".stripMargin
    val a0 = s"a${t}_0 AS (SELECT word, CAST(1 AS DOUBLE) AS av FROM w0u)"
    val aLevels = (1 to unroll).map { i =>
      val terms = (1 to math.min(maxPieceLen, i)).map { k =>
        s"COALESCE(ak$k.av * ok$k.p, 0.0)"
      }.mkString(" + ")
      val joins = (1 to math.min(maxPieceLen, i)).map { k =>
        s"""  LEFT JOIN a${t}_${i - k} ak$k ON ak$k.word = w.word
           |  LEFT JOIN occ$t ok$k ON ok$k.word = w.word AND ok$k.i = ${i - k + 1} AND ok$k.k = $k""".stripMargin
      }.mkString("\n")
      s"""a${t}_$i AS MATERIALIZED (
         |  SELECT w.word, $terms AS av
         |  FROM (SELECT word FROM w0u WHERE len(word) >= $i) w
         |$joins)""".stripMargin
    }
    val b0 = s"b${t}_0 AS (SELECT word, CAST(1 AS DOUBLE) AS bv FROM w0u)"
    val bLevels = (1 to unroll).map { d =>
      val terms = (1 to math.min(maxPieceLen, d)).map { k =>
        s"COALESCE(ok$k.p * bk$k.bv, 0.0)"
      }.mkString(" + ")
      val joins = (1 to math.min(maxPieceLen, d)).map { k =>
        s"""  LEFT JOIN b${t}_${d - k} bk$k ON bk$k.word = w.word
           |  LEFT JOIN occ$t ok$k ON ok$k.word = w.word AND ok$k.i = len(w.word) - $d + 1 AND ok$k.k = $k""".stripMargin
      }.mkString("\n")
      s"""b${t}_$d AS MATERIALIZED (
         |  SELECT w.word, $terms AS bv
         |  FROM (SELECT word FROM w0u WHERE len(word) >= $d) w
         |$joins)""".stripMargin
    }
    val aall = (0 to unroll)
      .map(i => s"SELECT word, $i AS pos, av FROM a${t}_$i")
      .mkString("\n    UNION ALL ")
    val ball = (0 to unroll)
      .map(d => s"SELECT word, $d AS pos, bv FROM b${t}_$d")
      .mkString("\n    UNION ALL ")
    val tail =
      s"""aall$t AS MATERIALIZED ($aall),
         |ball$t AS MATERIALIZED ($ball),
         |z$t AS MATERIALIZED (SELECT word, av FROM aall$t
         |       WHERE pos = len(word) AND av > 0),
         |contrib$t AS MATERIALIZED (
         |  SELECT o.piece,
         |         CAST(FLOOR(((((CAST(w.n AS DOUBLE) * a.av) * o.p) * b.bv) / z.av)
         |              * 1000000000.0 + 0.5) AS BIGINT) AS u
         |  FROM occ$t o
         |  JOIN w0u w ON w.word = o.word
         |  JOIN z$t z ON z.word = o.word
         |  JOIN aall$t a ON a.word = o.word AND a.pos = o.i - 1
         |  JOIN ball$t b ON b.word = o.word AND b.pos = len(o.word) - (o.i + o.k - 1)),
         |u$t AS MATERIALIZED (SELECT piece, CAST(SUM(u) AS BIGINT) AS u
         |       FROM contrib$t GROUP BY 1 HAVING SUM(u) > 0),
         |tot$t AS (SELECT SUM(CAST(u AS HUGEINT)) AS t FROM u$t),
         |mdl$t AS MATERIALIZED (
         |  SELECT piece, u,
         |         CAST((CAST(u AS HUGEINT) * $Billion) // t AS BIGINT) AS q
         |  FROM u$t, tot$t
         |  WHERE (CAST(u AS HUGEINT) * $Billion) // t > 0)""".stripMargin
    (Seq(occ, a0) ++ aLevels ++ Seq(b0) ++ bLevels ++ Seq(tail))
      .mkString(",\n")
  }

  /** The pruned final model CTE `mdlf(piece, u, q)` over the last
    * EM round's unit table.
    */
  private def pruneCtes(emIters: Int, keepMulti: Int): String =
    s"""pchar AS (SELECT piece, u FROM u$emIters WHERE len(piece) = 1),
       |pmulti AS (SELECT piece, u FROM (
       |             SELECT *, ROW_NUMBER() OVER (
       |               ORDER BY u DESC, hex(encode(piece))) AS rn
       |             FROM u$emIters WHERE len(piece) >= 2) WHERE rn <= $keepMulti),
       |pkept AS MATERIALIZED (SELECT * FROM pchar UNION ALL SELECT * FROM pmulti),
       |ptot AS (SELECT SUM(CAST(u AS HUGEINT)) AS t FROM pkept),
       |mdlf AS MATERIALIZED (
       |  SELECT piece, u,
       |         CAST((CAST(u AS HUGEINT) * $Billion) // t AS BIGINT) AS q
       |  FROM pkept, ptot
       |  WHERE (CAST(u AS HUGEINT) * $Billion) // t > 0)""".stripMargin

  /** Seed + EM rounds + prune — `mdlf` in scope at the end. */
  private def trainCtes(trainWhere: String, textSql: String,
                        seedMulti: Int, keepMulti: Int, emIters: Int,
                        maxPieceLen: Int, maxTrainWordLen: Int): String = {
    val em = (1 to emIters)
      .map(emIterCtes(_, maxPieceLen, maxTrainWordLen)).mkString(",\n")
    s"${seedCtes(trainWhere, textSql, maxPieceLen, maxTrainWordLen, seedMulti)},\n" +
      s"$em,\n${pruneCtes(emIters, keepMulti)}"
  }

  /** The DuckDB replay of [[train]] — the expected-count EM rounds
    * round for round.
    */
  def trainOracleSql(trainWhere: String = "", textSql: String = "text",
                     seedMulti: Int = 64, keepMulti: Int = 32,
                     emIters: Int = 2,
                     maxPieceLen: Int = DefaultMaxPieceLen,
                     maxTrainWordLen: Int = OracleMaxWordLen): String =
    s"WITH ${trainCtes(trainWhere, textSql, seedMulti, keepMulti, emIters, maxPieceLen, maxTrainWordLen)}\n" +
      "SELECT piece, u, q FROM mdlf"

  /** Viterbi serve CTEs over `mdlf`: integer costs, the unrolled
    * min-DP with the (cost, np, seq) tie-break, `[UNK]` for path-less
    * or over-length words — `useg(word, n_pieces, unk, segmented)`.
    */
  private def serveCtes(tokCte: String, maxPieceLen: Int,
                        maxChars: Int, nbest: Int = 1): String = {
    require(maxChars <= OracleMaxWordLen,
      s"the Viterbi unroll is $OracleMaxWordLen levels; " +
        s"maxInputCharsPerWord=$maxChars would segment in the engine " +
        "but truncate in the oracle")
    // Each DP level keeps the nbest best prefixes per position (the
    // same top-k-per-node argument as [[nbestSegments]]; nbest = 1 is
    // the original Viterbi replay), and `vrank` re-ranks the final
    // candidates so `useg` (rank 1 — the Viterbi row) and `unbest`
    // (rank ≤ nbest, emitted only when asked) come from one chain.
    val levels = (1 to maxChars).map { i =>
      val branches = (1 to math.min(maxPieceLen, i)).map { k =>
        s"""    SELECT v.word, v.cost + o.lp AS cost, v.np + 1 AS np,
           |           CASE WHEN v.seq = '' THEN o.piece
           |                ELSE v.seq || ' ' || o.piece END AS seq
           |    FROM v${i - k} v JOIN occv o
           |      ON o.word = v.word AND o.i = ${i - k + 1} AND o.k = $k""".stripMargin
      }.mkString("\n    UNION ALL\n")
      s"""v$i AS MATERIALIZED (
         |  SELECT word, cost, np, seq FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY word ORDER BY cost, np, seq) AS rn FROM (
         |$branches))
         |  WHERE rn <= $nbest)""".stripMargin
    }.mkString(",\n")
    val vend = (1 to maxChars)
      .map(i => s"SELECT word, cost, np, seq FROM v$i WHERE len(word) = $i")
      .mkString("\n    UNION ALL ")
    val unbest =
      if (nbest == 1) ""
      else s""",
         |unbest AS MATERIALIZED (
         |  SELECT e.word,
         |         CASE WHEN v.word IS NULL THEN 1 ELSE v.rank END AS rank,
         |         v.cost AS cost,
         |         CASE WHEN v.word IS NULL THEN CAST(1 AS BIGINT)
         |              ELSE CAST(v.np AS BIGINT) END AS n_pieces,
         |         CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS unk,
         |         CASE WHEN v.word IS NULL THEN '$Unk' ELSE v.seq END AS segmented
         |  FROM ews e LEFT JOIN (SELECT * FROM vrank WHERE rank <= $nbest) v
         |    ON v.word = e.word)""".stripMargin
    s"""msv AS MATERIALIZED (
       |  SELECT piece,
       |         CAST(FLOOR(-ln(CAST(q AS DOUBLE) / 1000000000.0)
       |              * 1000000.0 + 0.5) AS BIGINT) AS lp
       |  FROM mdlf),
       |toks AS ($tokCte),
       |tokgs AS MATERIALIZED (SELECT doc_id, word FROM toks
       |          WHERE word <> '' AND NOT contains(word, '<')
       |            AND NOT contains(word, '>')),
       |ews AS MATERIALIZED (SELECT DISTINCT word FROM tokgs),
       |occv AS MATERIALIZED (
       |  SELECT s.word, s.i, s.k, s.piece, m.lp
       |  FROM (SELECT word, u.i AS i, u.k AS k, substr(word, u.i, u.k) AS piece
       |        FROM (SELECT word, unnest(flatten(list_transform(range(1, len(word) + 1),
       |               i -> list_transform(range(1, least($maxPieceLen, len(word) - i + 1) + 1),
       |                      k -> struct_pack(i := i, k := k))))) AS u
       |              FROM (SELECT word FROM ews WHERE len(word) <= $maxChars))) s
       |  JOIN msv m ON m.piece = s.piece),
       |v0 AS (SELECT word, CAST(0 AS BIGINT) AS cost, 0 AS np, '' AS seq
       |       FROM ews WHERE len(word) <= $maxChars),
       |$levels,
       |vend AS MATERIALIZED ($vend),
       |vrank AS MATERIALIZED (
       |  SELECT word, cost, np, seq,
       |         CAST(ROW_NUMBER() OVER (
       |           PARTITION BY word ORDER BY cost, np, seq) AS INT) AS rank
       |  FROM vend),
       |useg AS MATERIALIZED (
       |  SELECT e.word,
       |         CASE WHEN v.word IS NULL THEN CAST(1 AS BIGINT)
       |              ELSE CAST(v.np AS BIGINT) END AS n_pieces,
       |         CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS unk,
       |         CASE WHEN v.word IS NULL THEN '$Unk' ELSE v.seq END AS segmented
       |  FROM ews e LEFT JOIN (SELECT * FROM vrank WHERE rank = 1) v
       |    ON v.word = e.word)$unbest""".stripMargin
  }

  /** The [[pieceVocab]] replay over `mdlf`: reserved `[UNK]`/space at
    * 0/1, pieces ranked (q DESC, UTF-8 piece ASC), min-id dedup
    * followed by the dense renumber in min-id order —
    * `uvoc(piece, token_id)`.
    */
  private def vocabCtes: String =
    s"""uvoc AS MATERIALIZED (
       |  SELECT piece, CAST(ROW_NUMBER() OVER (ORDER BY min_id) - 1 AS INT) AS token_id
       |  FROM (SELECT piece, MIN(id) AS min_id FROM (
       |          SELECT '$Unk' AS piece, 0 AS id
       |          UNION ALL SELECT ' ' AS piece, 1 AS id
       |          UNION ALL SELECT piece,
       |            CAST(ROW_NUMBER() OVER (ORDER BY q DESC, hex(encode(piece))) + 1 AS INT) AS id
       |          FROM mdlf)
       |        GROUP BY 1))""".stripMargin

  /** The DuckDB replay of [[pieceVocab]] (+ each piece's exact `q`,
    * the column the TSV artifact carries — reserved rows get 0 unless
    * the corpus really trained them).
    */
  def vocabOracleSql(trainWhere: String = "", textSql: String = "text",
                     seedMulti: Int = 64, keepMulti: Int = 32,
                     emIters: Int = 2,
                     maxPieceLen: Int = DefaultMaxPieceLen): String =
    s"WITH ${trainCtes(trainWhere, textSql, seedMulti, keepMulti, emIters, maxPieceLen, OracleMaxWordLen)},\n" +
      s"$vocabCtes\n" +
      """SELECT v.piece, v.token_id, COALESCE(m.q, 0) AS q
        |FROM uvoc v LEFT JOIN mdlf m ON m.piece = v.piece""".stripMargin

  /** The DuckDB replay of [[importVocabSp]] ∘ [[exportVocabSp]]: the
    * trained model with each piece's predicted SentencePiece line id —
    * `sp_id = 2·rank − 1` for the `▁`-form under the (q DESC, UTF-8
    * ASC) total order (`<unk>` at 0, then a two-line pair per piece).
    * Hash equality through the artifact proves BOTH the `▁` boundary
    * rendering order and the exact integer↔float-log-prob roundtrip.
    */
  def spVocabOracleSql(trainWhere: String = "", textSql: String = "text",
                       seedMulti: Int = 64, keepMulti: Int = 32,
                       emIters: Int = 2,
                       maxPieceLen: Int = DefaultMaxPieceLen): String =
    s"WITH ${trainCtes(trainWhere, textSql, seedMulti, keepMulti, emIters, maxPieceLen, OracleMaxWordLen)}\n" +
      """SELECT piece, q,
        |       CAST(2 * ROW_NUMBER() OVER (ORDER BY q DESC, hex(encode(piece))) - 1 AS INT) AS sp_id
        |FROM mdlf""".stripMargin

  /** The DuckDB replay of [[encodeIds]]' per-document economics plus
    * the decode-roundtrip prediction (`tokPosCte` must produce
    * `(doc_id, wpos, word)`): `(doc_id, n_tok, n_unk, ids_fp,
    * roundtrip_ok)` with `ids_fp = Σ id·pos` over the flat 1-based
    * stream — the interleaved space tokens carry id 1, so their
    * positions contribute too (unlike the BPE family's id-0 spaces).
    */
  def idsOracleSql(trainWhere: String, tokPosCte: String,
                   textSql: String = "text",
                   seedMulti: Int = 64, keepMulti: Int = 32,
                   emIters: Int = 2,
                   maxPieceLen: Int = DefaultMaxPieceLen,
                   maxChars: Int = OracleMaxWordLen): String = {
    val tail =
      """tokgps AS (SELECT doc_id, wpos, word FROM tokpu
        |           WHERE word <> '' AND NOT contains(word, '<')
        |             AND NOT contains(word, '>')),
        |wplu AS (SELECT word, unnest(list_transform(range(1, len(t) + 1),
        |           i -> struct_pack(spos := i, piece := t[i]))) AS u
        |         FROM (SELECT word, string_split(segmented, ' ') AS t FROM useg)),
        |widu AS (SELECT wplu.word, u.spos AS spos, COALESCE(token_id, -1) AS id
        |         FROM wplu LEFT JOIN uvoc ON uvoc.piece = u.piece),
        |widsu AS (SELECT word, list(id ORDER BY spos) AS ids,
        |                 CAST(COUNT(*) AS BIGINT) AS np
        |          FROM widu GROUP BY 1),
        |dsu AS (SELECT t.doc_id, t.wpos, w.ids, w.np, s.unk,
        |               ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY t.wpos) AS k,
        |               COALESCE(SUM(w.np) OVER (PARTITION BY t.doc_id ORDER BY t.wpos
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |        FROM tokgps t JOIN widsu w USING (word)
        |        JOIN (SELECT word, unk FROM useg) s USING (word)),
        |fpu AS (SELECT doc_id, unk, np,
        |               list_sum(list_transform(range(1, len(ids) + 1),
        |                 j -> CAST(ids[j] AS BIGINT) * (prev + k - 1 + j)))
        |               + CASE WHEN k > 1 THEN CAST(prev + k - 1 AS BIGINT)
        |                      ELSE 0 END AS contrib
        |        FROM dsu)
        |SELECT doc_id,
        |       CAST(SUM(np) + COUNT(*) - 1 AS BIGINT) AS n_tok,
        |       CAST(SUM(unk) AS BIGINT) AS n_unk,
        |       CAST(SUM(contrib) AS BIGINT) AS ids_fp,
        |       CAST(CASE WHEN SUM(unk) = 0 THEN 1 ELSE 0 END AS INT) AS roundtrip_ok
        |FROM fpu GROUP BY 1""".stripMargin
    s"WITH ${trainCtes(trainWhere, textSql, seedMulti, keepMulti, emIters, maxPieceLen, OracleMaxWordLen)},\n" +
      s"tokpu AS MATERIALIZED ($tokPosCte),\n" +
      s"${serveCtes("SELECT doc_id, word FROM tokpu", maxPieceLen, maxChars)},\n" +
      s"$vocabCtes,\n$tail"
  }

  /** The DuckDB replay of [[viterbiSegments]] under the full trained
    * model (`tokCte` must produce `(doc_id, word)`).
    */
  def segmentsOracleSql(trainWhere: String, tokCte: String,
                        textSql: String = "text",
                        seedMulti: Int = 64, keepMulti: Int = 32,
                        emIters: Int = 2,
                        maxPieceLen: Int = DefaultMaxPieceLen,
                        maxChars: Int = OracleMaxWordLen): String =
    s"WITH ${trainCtes(trainWhere, textSql, seedMulti, keepMulti, emIters, maxPieceLen, OracleMaxWordLen)},\n" +
      s"${serveCtes(tokCte, maxPieceLen, maxChars)}\n" +
      "SELECT word, n_pieces, unk, segmented FROM useg"

  /** The DuckDB replay of [[tokenCounts]]. */
  def countsOracleSql(trainWhere: String, tokCte: String,
                      textSql: String = "text",
                      seedMulti: Int = 64, keepMulti: Int = 32,
                      emIters: Int = 2,
                      maxPieceLen: Int = DefaultMaxPieceLen,
                      maxChars: Int = OracleMaxWordLen): String =
    s"WITH ${trainCtes(trainWhere, textSql, seedMulti, keepMulti, emIters, maxPieceLen, OracleMaxWordLen)},\n" +
      s"${serveCtes(tokCte, maxPieceLen, maxChars)}\n" +
      """SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |       CAST(SUM(u.n_pieces) AS BIGINT) AS n_pieces,
        |       CAST(SUM(u.unk) AS BIGINT) AS n_unk
        |FROM tokgs t JOIN useg u ON u.word = t.word GROUP BY 1""".stripMargin

  /** The DuckDB replay of [[nbestSegments]]: the k-best DP is the
    * same unrolled level chain with each level keeping `rn <= nbest`
    * (exact by the translation-invariance argument in the operator's
    * doc), ranked at the end under the (cost, np, seq) total order.
    */
  def nbestOracleSql(trainWhere: String, tokCte: String,
                     textSql: String = "text",
                     seedMulti: Int = 64, keepMulti: Int = 32,
                     emIters: Int = 2, nbest: Int = 4,
                     maxPieceLen: Int = DefaultMaxPieceLen,
                     maxChars: Int = OracleMaxWordLen): String =
    s"WITH ${trainCtes(trainWhere, textSql, seedMulti, keepMulti, emIters, maxPieceLen, OracleMaxWordLen)},\n" +
      s"${serveCtes(tokCte, maxPieceLen, maxChars, nbest)}\n" +
      "SELECT word, rank, cost, n_pieces, unk, segmented FROM unbest"

  /** The DuckDB replay of [[sampleSegments]] (`tokPosCte` must
    * produce `(doc_id, wpos, word)` with 1-based split positions):
    * quantized weights `floor(exp(−((α·Δcost)/1e6))·1e9 + 0.5)` in
    * the engine's exact expression order, the 15-hex md5 draw mod the
    * word's total weight, and the pick as
    * `1 + count(cum ≤ draw)` — `alphaSql` must be a decimal literal
    * that parses to the engine's exact double (e.g. "0.5").
    */
  /** The sampling CTE chain over `unbest` + `tokpu` — quantized exp
    * weights, cumulative sums, the salted 15-hex md5 draw, and the
    * per-occurrence pick `upick(doc_id, wpos, word, rank)`; shared by
    * [[sampleOracleSql]] and [[sampledIdsOracleSql]].
    */
  private def sampleCtes(alphaSql: String, saltSql: String): String =
    s"""uw AS MATERIALIZED (
       |  SELECT word, rank, n_pieces, unk, segmented,
       |         CASE WHEN cost IS NULL THEN CAST(1000000000 AS BIGINT)
       |              ELSE CAST(FLOOR(exp(-(($alphaSql *
       |                     CAST(cost - MIN(cost) OVER (PARTITION BY word) AS DOUBLE))
       |                     / 1000000.0)) * 1000000000.0 + 0.5) AS BIGINT) END AS w
       |  FROM unbest),
       |ucum AS MATERIALIZED (
       |  SELECT word, rank, n_pieces, unk, segmented, w,
       |         SUM(w) OVER (PARTITION BY word ORDER BY rank) AS cum,
       |         SUM(w) OVER (PARTITION BY word) AS wtot
       |  FROM uw),
       |uoccd AS MATERIALIZED (
       |  SELECT t.doc_id, t.wpos, t.word,
       |         CAST(concat('0x', substring(md5(CAST(t.doc_id AS VARCHAR)
       |           || ':' || CAST(t.wpos AS VARCHAR) || ':' || t.word$saltSql), 1, 15))
       |           AS BIGINT) % c.wtot AS r
       |  FROM (SELECT doc_id, wpos, word FROM tokpu
       |        WHERE word <> '' AND NOT contains(word, '<')
       |          AND NOT contains(word, '>')) t
       |  JOIN (SELECT DISTINCT word, wtot FROM ucum) c USING (word)),
       |upick AS MATERIALIZED (
       |  SELECT o.doc_id, o.wpos, o.word,
       |         CAST(1 + COUNT(c.rank) AS INT) AS rank
       |  FROM uoccd o LEFT JOIN ucum c
       |    ON c.word = o.word AND c.cum <= o.r
       |  GROUP BY 1, 2, 3)""".stripMargin

  def sampleOracleSql(trainWhere: String, tokPosCte: String,
                      textSql: String = "text",
                      seedMulti: Int = 64, keepMulti: Int = 32,
                      emIters: Int = 2, nbest: Int = 4,
                      alphaSql: String = "0.5",
                      maxPieceLen: Int = DefaultMaxPieceLen,
                      maxChars: Int = OracleMaxWordLen): String =
    s"WITH ${trainCtes(trainWhere, textSql, seedMulti, keepMulti, emIters, maxPieceLen, OracleMaxWordLen)},\n" +
      s"tokpu AS MATERIALIZED ($tokPosCte),\n" +
      s"${serveCtes("SELECT doc_id, word FROM tokpu", maxPieceLen, maxChars, nbest)},\n" +
      s"${sampleCtes(alphaSql, "")}\n" +
      """SELECT p.doc_id, p.wpos, p.word, p.rank,
        |       u.n_pieces, u.unk, u.segmented
        |FROM upick p JOIN ucum u ON u.word = p.word AND u.rank = p.rank""".stripMargin

  /** The DuckDB replay of [[encodeIdsSampled]]: the q234 id-assembly
    * tail over the SAMPLED per-occurrence segmentations (`saltSql`
    * must be the engine's `":<epoch>"` as a SQL literal append, e.g.
    * `" || ':1'"`). Output `(doc_id, n_tok, n_unk, ids_fp,
    * roundtrip_ok)` with the id-1 boundary positions contributing to
    * the fingerprint exactly as in [[idsOracleSql]].
    */
  def sampledIdsOracleSql(trainWhere: String, tokPosCte: String,
                          textSql: String = "text",
                          seedMulti: Int = 64, keepMulti: Int = 32,
                          emIters: Int = 2, nbest: Int = 4,
                          alphaSql: String = "0.5",
                          saltSql: String = "",
                          maxPieceLen: Int = DefaultMaxPieceLen,
                          maxChars: Int = OracleMaxWordLen): String = {
    val tail =
      """segp AS MATERIALIZED (
        |  SELECT p.doc_id, p.wpos, u.unk, u.segmented
        |  FROM upick p JOIN ucum u ON u.word = p.word AND u.rank = p.rank),
        |wplu2 AS (SELECT doc_id, wpos, u.spos AS spos, u.piece AS piece
        |          FROM (SELECT doc_id, wpos,
        |                       unnest(list_transform(range(1, len(t) + 1),
        |                         i -> struct_pack(spos := i, piece := t[i]))) AS u
        |                FROM (SELECT doc_id, wpos,
        |                             string_split(segmented, ' ') AS t
        |                      FROM segp))),
        |widu2 AS (SELECT w.doc_id, w.wpos, w.spos,
        |                 COALESCE(v.token_id, -1) AS id
        |          FROM wplu2 w LEFT JOIN uvoc v ON v.piece = w.piece),
        |widsu2 AS (SELECT doc_id, wpos, list(id ORDER BY spos) AS ids,
        |                  CAST(COUNT(*) AS BIGINT) AS np
        |           FROM widu2 GROUP BY 1, 2),
        |dsu2 AS (SELECT w.doc_id, w.wpos, w.ids, w.np, s.unk,
        |                ROW_NUMBER() OVER (PARTITION BY w.doc_id ORDER BY w.wpos) AS k,
        |                COALESCE(SUM(w.np) OVER (PARTITION BY w.doc_id ORDER BY w.wpos
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |         FROM widsu2 w JOIN segp s USING (doc_id, wpos)),
        |fpu2 AS (SELECT doc_id, unk, np,
        |                list_sum(list_transform(range(1, len(ids) + 1),
        |                  j -> CAST(ids[j] AS BIGINT) * (prev + k - 1 + j)))
        |                + CASE WHEN k > 1 THEN CAST(prev + k - 1 AS BIGINT)
        |                       ELSE 0 END AS contrib
        |         FROM dsu2)
        |SELECT doc_id,
        |       CAST(SUM(np) + COUNT(*) - 1 AS BIGINT) AS n_tok,
        |       CAST(SUM(unk) AS BIGINT) AS n_unk,
        |       CAST(SUM(contrib) AS BIGINT) AS ids_fp,
        |       CAST(CASE WHEN SUM(unk) = 0 THEN 1 ELSE 0 END AS INT) AS roundtrip_ok
        |FROM fpu2 GROUP BY 1""".stripMargin
    s"WITH ${trainCtes(trainWhere, textSql, seedMulti, keepMulti, emIters, maxPieceLen, OracleMaxWordLen)},\n" +
      s"tokpu AS MATERIALIZED ($tokPosCte),\n" +
      s"${serveCtes("SELECT doc_id, word FROM tokpu", maxPieceLen, maxChars, nbest)},\n" +
      s"${sampleCtes(alphaSql, saltSql)},\n" +
      s"$vocabCtes,\n$tail"
  }
}
