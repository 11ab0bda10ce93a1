package graft.llm

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WordPiece — the SECOND production tokenizer family (BERT/DistilBERT
  * /Electra), next to [[Bpe]]'s GPT-2/Llama family. Two faces differ
  * from BPE and both are implemented to the published semantics
  * (Schuster & Nakajima 2012; the HuggingFace `tokenizers`
  * WordPieceTrainer is the de-facto reference):
  *
  *  - TRAINING picks the pair maximizing the LIKELIHOOD score
  *    `count(l,r) / (count(l)·count(r))` — not the raw pair count:
  *    merging is chosen where the pair is most surprising given its
  *    parts, which prefers cohesive morphemes over merely frequent
  *    collocations. Symbols are position-aware: a word's first piece
  *    is bare, every continuation carries the `##` prefix
  *    (`"hello"` → `<h><##e><##l><##l><##o>`), and a merge
  *    concatenates the left piece with the right piece's raw text
  *    (`(##l, ##l) → ##ll`; `(h, ##e) → he`) so initial-ness is
  *    inherited from the left.
  *  - SERVING is greedy LONGEST-MATCH-FIRST against the final piece
  *    vocabulary (not merge replay): at each position take the longest
  *    vocab piece that prefixes the remainder (initial pieces at
  *    position 0, `##` pieces after); a word with any unmatchable
  *    remainder becomes ONE `[UNK]` token — the WordPiece OOV
  *    semantics, and the exact contrast to byte-level BPE's
  *    structurally-zero OOV (X140): the q224 fixture carries unicode
  *    words whose characters training never saw, and the two
  *    tokenizers must disagree in precisely this documented way.
  *
  * Representation & machinery: the same bracketed symbol strings as
  * [[Bpe]] (symbols are `h` / `##ll` — `#` cannot collide with the
  * bracket sentinels, and the `<`/`>` word guard is shared), so the
  * per-round SQL replay is the same replace chain with a score-based
  * argmax. The score is a ratio of exact integer counts evaluated in
  * double: with per-symbol counts < 2^26 the denominator product is
  * exact in double and the division is IEEE-correctly-rounded, hence
  * bit-identical in any engine (the q75 ln precedent); ties break on
  * the pair string ascending, so training is a pure function of the
  * corpus in both engines. (At corpus scales where counts exceed 2^26
  * the engine remains self-consistent — only oracle bit-parity needs
  * the bound, and oracles run at test scale.)
  *
  * Scale design — identical economics to [[Bpe]], through the same
  * [[MergeTrain]]: ONE corpus pass to the word-frequency table; each
  * distributed merge round is (a) one vocabulary-sized pair
  * aggregation, (b) one vocabulary-sized symbol aggregation (the
  * score's denominators), (c) a LIMIT-1 argmax, (d) a narrow codegen'd
  * replace. Serving encodes each DISTINCT word once
  * (vocabulary-sized `mapPartitions`, pieces broadcast) and the corpus
  * word stream equi-joins the result.
  */
object WordPiece {

  /** BERT's unknown-word token. */
  val Unk = "[UNK]"

  /** WordPiece's serve conventions: no boundary id between words (the
    * bare-vs-`##` piece split carries word boundaries), the
    * segmenter's `unk` flag, and the `##` decode join rule.
    */
  val face: TokenServe.Face = TokenServe.Face(TokenServe.wordOk, None,
    col("unk"), nTok = "n_wp", nUnk = "n_unk", wordpiece = true,
    finish = ltrim)

  /** The raw text of a (possibly `##`-prefixed) piece. */
  private def raw(piece: String): String =
    if (piece.startsWith("##")) piece.substring(2) else piece

  /** The merge family: position-aware base symbols (first char bare,
    * continuations `##`-prefixed — the [[pieceSet]] alphabet), the
    * likelihood score, and `##` inheritance from the left piece.
    */
  private val merges = MergeTrain.Family(
    "transform(filter(split(word, ''), x -> x <> ''), " +
      "(c, i) -> IF(i = 0, c, concat('##', c)))",
    MergeTrain.Likelihood, (l, r) => l + raw(r))

  /** Train `nMerges` WordPiece merges; returns the rule table and the
    * fully-merged word table (both reusable, [[Bpe.trainShared]]
    * shape). Hybrid like the BPE trainer ([[MergeTrain]]): in-memory
    * when the vocabulary fits `maxDriverWords`, the distributed
    * per-round loop otherwise.
    */
  def trainShared(docs: DataFrame, textCol: String, nMerges: Int,
                  maxDriverWords: Int = Bpe.DefaultMaxDriverWords)
      : (DataFrame, DataFrame) =
    MergeTrain.trainShared(docs, textCol, face.guard, nMerges,
      maxDriverWords, merges)

  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int): DataFrame =
    trainShared(docs, textCol, nMerges)._1

  /** The serving vocabulary: the position-aware BASE ALPHABET (every
    * training word's first char bare + continuations `##`-prefixed —
    * NOT the final word table's symbols, which the merges may have
    * consumed entirely: `hu` must still segment as `h ##u` after
    * `hug` merged away both letters) plus every merged piece. Every
    * intermediate symbol is one or the other, so this is the complete
    * piece universe. Vocabulary-sized.
    */
  def pieceSet(rules: DataFrame, trainedWords: DataFrame): DataFrame =
    trainedWords
      .withColumn("_t", expr("filter(split(word, ''), x -> x <> '')"))
      .select(explode(expr(
        "transform(_t, (c, i) -> IF(i = 0, c, concat('##', c)))"))
        .as("piece"))
      .unionByName(rules.select(col("merged").as("piece")))
      .distinct()

  /** HuggingFace's `max_input_chars_per_word` default: a word past
    * the bound becomes ONE `[UNK]` BEFORE the greedy loop (the
    * reference semantics for degenerate tokens — URLs, concatenated
    * ids — whose O(len²) match cost would otherwise be unbounded).
    * Counted in CODEPOINTS (so both the JVM and the oracle agree on
    * emoji and other astral characters).
    */
  val DefaultMaxInputCharsPerWord = 100

  /** Greedy longest-match-first segmentation of `docs`' DISTINCT words
    * under the trained vocabulary — `(word, n_pieces, unk, segmented)`
    * with `segmented` the space-joined pieces (`"hell ##o"`), or the
    * single `[UNK]` (with `unk = 1`, `n_pieces = 1`) when any
    * remainder is unmatchable OR the word exceeds
    * `maxInputCharsPerWord` codepoints (the HuggingFace
    * `max_input_chars_per_word` contract). The per-word loop is
    * O(len²) against a length-bucketed broadcast set; each distinct
    * word encodes ONCE.
    */
  def encodeSegments(docs: DataFrame, textCol: String, rules: DataFrame,
                     trainedWords: DataFrame,
                     maxInputCharsPerWord: Int = DefaultMaxInputCharsPerWord)
      : DataFrame = {
    val spark = docs.sparkSession
    val pieces: Array[String] = pieceSet(rules, trainedWords)
      .collect().map(_.getString(0))
    require(pieces.nonEmpty,
      "encodeSegments needs a non-empty trained vocabulary " +
        "(empty or fully guard-filtered training corpus)")
    val bcInit = spark.sparkContext.broadcast(
      pieces.filter(!_.startsWith("##")).toSet)
    val bcCont = spark.sparkContext.broadcast(
      pieces.filter(_.startsWith("##")).map(raw).toSet)
    val maxLen = pieces.map(raw(_).length).max
    val maxChars = maxInputCharsPerWord
    import spark.implicits._
    TokenServe.distinctWords(docs, textCol, face.guard)
      .as[String]
      .mapPartitions { it =>
        val init = bcInit.value
        val cont = bcCont.value
        it.map { w =>
          val out = Seq.newBuilder[String]
          var pos = 0
          var dead = w.codePointCount(0, w.length) > maxChars
          while (pos < w.length && !dead) {
            val inSet = if (pos == 0) init else cont
            var len = math.min(maxLen, w.length - pos)
            var hit = -1
            while (hit < 0 && len >= 1) {
              if (inSet.contains(w.substring(pos, pos + len))) hit = len
              else len -= 1
            }
            if (hit < 0) dead = true
            else {
              out += (if (pos == 0) w.substring(0, hit)
                      else "##" + w.substring(pos, pos + hit))
              pos += hit
            }
          }
          if (dead) (w, 1L, 1, Unk)
          else {
            val ps = out.result()
            (w, ps.length.toLong, 0, ps.mkString(" "))
          }
        }
      }.toDF("word", "n_pieces", "unk", "segmented")
  }

  // ─────────────────── id / artifact surface (X143) ───────────────────

  /** BERT's reserved special tokens, at the RESERVED ids 0..4 — the
    * vocab.txt convention every BERT-family consumer assumes ([PAD]
    * at 0 so padding is the zero id, [UNK] the one id every dead word
    * maps to; [CLS]/[SEP]/[MASK] are sequence-assembly tokens the
    * tokenizer itself never emits but the artifact must carry).
    * The published bert-base artifact interleaves ~1000 [unusedN]
    * slots; we ship the compact five — the CONTRACT (specials before
    * content pieces, line order = id) is the interop surface, not the
    * padding slots.
    */
  val Specials: Seq[String] = Seq("[PAD]", Unk, "[CLS]", "[SEP]", "[MASK]")

  /** The trained tokenizer's token-id table `(piece, token_id)` — a
    * bijection piece ↔ id. [[Specials]] hold ids 0..4; the
    * position-aware base alphabet (initial chars bare, continuation
    * chars `##`-prefixed) follows in UTF-8 BINARY order (ordering by
    * `hex(encode(...))` rather than the raw string keeps the engine
    * and any UTF-8-collating oracle byte-identical even for astral
    * alphabets, where JVM UTF-16 order diverges from codepoint
    * order); merge results follow in rank order. Two merge paths can
    * produce the same piece string — the smallest id wins, so the
    * table stays a bijection (the [[Bpe.pieceVocab]] min-id rule) —
    * and ids are then renumbered DENSELY in min-id order, because the
    * positional `vocab.txt` artifact cannot represent a gap (ids are
    * line numbers; see [[exportVocabTxt]]).
    *
    * Scale: vocabulary-sized throughout; the one window runs on the
    * CHARSET, bounded by the script, not the corpus.
    */
  def pieceVocab(rules: DataFrame, trainedWords: DataFrame): DataFrame = {
    val spark = rules.sparkSession
    import spark.implicits._
    val alphaIds = trainedWords
      .withColumn("_t", expr("filter(split(word, ''), x -> x <> '')"))
      .select(explode(expr(
        "transform(_t, (c, i) -> IF(i = 0, c, concat('##', c)))"))
        .as("piece"))
      .distinct()
      .select(col("piece"),
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(hex(encode(col("piece"), "UTF-8"))))
          + lit(Specials.length - 1)).as("id"))
    val nAlpha = alphaIds.count()
    val mergeIds = rules.select(col("merged").as("piece"),
      (col("rank") + lit(Specials.length - 1) + lit(nAlpha))
        .cast("int").as("id"))
    // min-id dedup can leave GAPS (two merge paths producing the same
    // merged piece, or a trained piece colliding with a special); the
    // positional vocab.txt artifact compacts line order silently, so
    // ids must be renumbered densely HERE or export→import stops being
    // the identity and every id after a gap shifts. The renumber is
    // the identity on a collision-free corpus (min ids are already
    // 0..n-1) and is mirrored in the [[vocabCtes]] oracle. Total
    // order: min ids are unique (the three sources use disjoint id
    // ranges), so the window is deterministic; vocabulary-sized.
    Specials.zipWithIndex.toDF("piece", "id")
      .unionByName(alphaIds)
      .unionByName(mergeIds)
      .groupBy(col("piece"))
      .agg(min(col("id")).as("_min_id"))
      .select(col("piece"),
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("_min_id"))) - 1).cast("int").as("token_id"))
  }

  /** Export the trained tokenizer as BERT's artifact: `vocab.txt`,
    * ONE piece per line, LINE ORDER = token id (that file IS the
    * model a WordPiece serving stack loads — there is no merges file
    * at serve time; greedy longest-match needs only the piece set).
    * Single-file bounded write (a vocabulary, never a corpus); global
    * order survives `coalesce(1)` after the range sort (the
    * [[Bpe.exportArtifacts]] precedent).
    */
  def exportVocabTxt(rules: DataFrame, trainedWords: DataFrame,
                     path: String): Unit = {
    val vocab = pieceVocab(rules, trainedWords)
    val broken = vocab.filter(col("piece").contains("\n") ||
      col("piece").contains("\r")).count()
    require(broken == 0,
      s"exportVocabTxt: $broken piece(s) contain a newline — the " +
        "one-piece-per-line artifact cannot represent them")
    vocab.orderBy(col("token_id"))
      .select(col("piece").as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$path/vocab.txt")
  }

  /** Read a `vocab.txt` back as `(piece, token_id)` with ids from
    * line order (0-based — line 1 is id 0, the [PAD] convention).
    * Same single-data-file contract as [[Bpe.importMerges]] (one file
    * ⇒ one split ⇒ sequential read). A blank line is an ERROR here,
    * not tolerated: every vocab.txt line IS a piece and ids are
    * positional, so silently dropping one would shift every id after
    * it — the exact failure the loud message exists to prevent.
    */
  def importVocabTxt(spark: SparkSession, path: String): DataFrame = {
    val rows = TokenServe.artifactLines(spark, s"$path/vocab.txt",
        "importVocabTxt")
      .map { case (line, piece) =>
        if (piece.isEmpty) throw new IllegalArgumentException(
          s"importVocabTxt: blank line $line — ids are " +
            "positional, a dropped line would shift every id after it")
        Row(piece, line - 1) // line 1 is id 0
      }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("piece", StringType, nullable = false),
      StructField("token_id", IntegerType, nullable = false))))
  }

  /** The BERT-style pretraining artifact: each document as its flat
    * token-id sequence — `(doc_id, ids, n_unk, n_wp)` where an
    * `[UNK]` word contributes exactly one id (the [[Specials]] UNK id
    * 1) and tallies in `n_unk`, and `n_wp = size(ids)` is the true
    * context-window cost. NO whitespace token is interleaved (the
    * deliberate contrast with [[Bpe.encodeIds]]' id-0 spaces: a
    * WordPiece vocabulary has no whitespace piece — word boundaries
    * are carried by the bare-vs-`##` piece split itself, and
    * sequence punctuation belongs to [CLS]/[SEP] at assembly time,
    * not to the tokenizer). Documents with no clean word emit
    * nothing (the [[tokenCounts]] convention).
    *
    * Assembly is [[TokenServe.encodeIds]].
    */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
                rules: DataFrame, trainedWords: DataFrame,
                maxInputCharsPerWord: Int = DefaultMaxInputCharsPerWord)
      : DataFrame = {
    val vocab = pieceVocab(rules, trainedWords)
    TokenServe.encodeIds(docs, idCol, textCol, face,
      encodeSegments(docs, textCol, rules, trainedWords,
          maxInputCharsPerWord)
        .select(col("word"), col("unk"),
          TokenServe.pieces(split(col("segmented"), " "))),
      vocab)
  }

  /** Inverse of [[encodeIds]]: id sequences back to text —
    * `(doc_id, text_decoded)`. A `##` piece appends its raw text to
    * the current word; any other piece (including `[UNK]`, which
    * decodes to its literal bracket form) starts a new
    * space-separated word; an id the vocabulary does not know decodes
    * to U+FFFD. `decode(encode(d))` reproduces `d`'s clean word
    * stream exactly when the document had no `[UNK]` word — the q228
    * roundtrip gate proves it per-document, and the oracle predicts
    * it as `n_unk = 0`.
    */
  def decodeIds(encoded: DataFrame, idCol: String, idsCol: String,
                rules: DataFrame, trainedWords: DataFrame): DataFrame =
    TokenServe.decodeIds(encoded, idCol, idsCol,
      pieceVocab(rules, trainedWords), face)

  /** Per-document WordPiece economics — `(doc_id, n_words, n_pieces,
    * n_unk)`: an `[UNK]` word contributes 1 piece and tallies in
    * `n_unk` (the face that quantifies what a char-level closed
    * vocabulary LOSES on unicode-bearing corpora — byte-BPE's q219
    * twin is structurally 0 there). Distinct-word encode + stream
    * join, the [[Bpe.encodeTokenCountsWith]] economics
    * ([[TokenServe.pieceCounts]]).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  rules: DataFrame, trainedWords: DataFrame,
                  maxInputCharsPerWord: Int = DefaultMaxInputCharsPerWord)
      : DataFrame =
    TokenServe.pieceCounts(docs, idCol, textCol, face,
      encodeSegments(docs, textCol, rules, trainedWords,
        maxInputCharsPerWord))

  // ──────────────────── DuckDB oracle builders ────────────────────

  /** The training replay: position-aware `w0`, per-round pair + symbol
    * counts, the score argmax (double ratio of exact integer counts —
    * see the object note), the same replace chain.
    */
  private def roundsCte(nMerges: Int, trainWhere: String,
                        textSql: String): String = {
    val src =
      if (trainWhere.isEmpty) "FROM documents"
      else s"FROM documents WHERE $trainWhere"
    val w0 =
      s"""w0 AS (
        |  SELECT word,
        |         CASE WHEN len(t) > 1
        |              THEN '<' || t[1] || '><##' ||
        |                   array_to_string(t[2:], '><##') || '>'
        |              ELSE '<' || t[1] || '>' END AS s, n
        |  FROM (SELECT word, [c FOR c IN string_split(word, '')] AS t, n
        |        FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        |              FROM (SELECT unnest(string_split($textSql, ' ')) AS word $src)
        |              WHERE word <> '' AND NOT contains(word, '<')
        |                AND NOT contains(word, '>') GROUP BY 1)))""".stripMargin
    // AS MATERIALIZED throughout: each round references its inputs
    // several times (t_r feeds both count CTEs; r_r joins sc_r twice),
    // and DuckDB INLINES plain CTEs — the 8-round chain would expand
    // to ~4^8 re-scans of the corpus (measured: EMFILE before any
    // result). Materialization makes the replay linear in rounds.
    val rounds = (1 to nMerges).map { r =>
      s"""t$r AS MATERIALIZED (SELECT string_split(trim(s, '<>'), '><') AS t, n FROM w${r - 1}),
         |sc$r AS MATERIALIZED (SELECT sym, SUM(n) AS sc FROM (
         |           SELECT n, unnest(t) AS sym FROM t$r) GROUP BY 1),
         |p$r AS MATERIALIZED (SELECT pr, SUM(n) AS cnt FROM (
         |          SELECT n, unnest(list_transform(range(1, len(t)),
         |                   i -> t[i] || ' ' || t[i+1])) AS pr
         |          FROM t$r) GROUP BY 1),
         |r$r AS MATERIALIZED (SELECT pr, cnt,
         |               '<' || split_part(pr, ' ', 1) || '><' || split_part(pr, ' ', 2) || '>' AS pat,
         |               '<' || split_part(pr, ' ', 1) ||
         |                 CASE WHEN starts_with(split_part(pr, ' ', 2), '##')
         |                      THEN substr(split_part(pr, ' ', 2), 3)
         |                      ELSE split_part(pr, ' ', 2) END || '>' AS rep
         |        FROM p$r
         |        JOIN sc$r l ON l.sym = split_part(pr, ' ', 1)
         |        JOIN sc$r r ON r.sym = split_part(pr, ' ', 2)
         |        ORDER BY CAST(cnt AS DOUBLE) / (CAST(l.sc AS DOUBLE) * r.sc) DESC, pr
         |        LIMIT 1),
         |w$r AS MATERIALIZED (SELECT word, replace(s, pat, rep) AS s, n FROM w${r - 1}, r$r)""".stripMargin
    }.mkString(",\n")
    s"$w0,\n$rounds"
  }

  /** The DuckDB replay of [[learnMerges]]. */
  def oracleSql(nMerges: Int, trainWhere: String = "",
                textSql: String = "text"): String = {
    val union = (1 to nMerges)
      .map(r => s"SELECT $r AS rk, pr, cnt FROM r$r").mkString("\n  UNION ALL ")
    val tail =
      s"""SELECT CAST(rk AS INT) AS rank,
         |       split_part(pr, ' ', 1) AS lhs,
         |       split_part(pr, ' ', 2) AS rhs,
         |       split_part(pr, ' ', 1) ||
         |         CASE WHEN starts_with(split_part(pr, ' ', 2), '##')
         |              THEN substr(split_part(pr, ' ', 2), 3)
         |              ELSE split_part(pr, ' ', 2) END AS merged,
         |       CAST(cnt AS BIGINT) AS n
         |FROM ($union)""".stripMargin
    s"WITH ${roundsCte(nMerges, trainWhere, textSql)}\n$tail"
  }

  /** Longest-match unroll depth: each step consumes ≥ 1 character, so
    * this bounds the longest segmentable word — plenty for any natural
    * word stream (the oracle would mark a longer word [UNK]; the
    * engine has no such bound).
    */
  val OracleMaxWordLen = 32

  /** The serving vocabulary + greedy longest-match CTEs shared by the
    * encode oracles: `voc(piece, rw, init)` and the per-distinct-word
    * segmentation as an UNROLLED `g0..g<OracleMaxWordLen>` chain (one
    * LATERAL length-desc/piece-asc LIMIT-1 probe per level; a word
    * whose remainder matches nothing goes `dead` and aggregates to
    * `[UNK]` — the engine's exact dead-end semantics) ending in
    * `wseg(word, n_pieces, unk, segmented)`.
    *
    * Why unrolled instead of WITH RECURSIVE: DuckDB 1.0 returns no
    * rows from a MATERIALIZED CTE referenced (even transitively)
    * inside a recursive member — voc sees an empty merge table and
    * every word goes [UNK] (measured; and unmaterializing the chain
    * instead re-inlines it exponentially: ~4^rounds corpus re-scans,
    * EMFILE before any result). Outside recursion the materialized
    * chain behaves, and the unroll is bounded by word length anyway.
    */
  private def encodeCtes(nMerges: Int, tokCte: String,
                         maxChars: Int): String = {
    // parity with the engine's maxInputCharsPerWord needs the bound
    // inside the oracle's unroll depth: a word of maxChars codepoints
    // needs at most maxChars greedy steps, so every non-UNK word
    // completes within the g-chain and `rest <> ''` at the end can
    // only mean the over-length pre-kill below
    require(maxChars <= OracleMaxWordLen,
      s"the oracle g-chain unrolls $OracleMaxWordLen levels; " +
        s"maxInputCharsPerWord=$maxChars would let a longer word " +
        "segment in the engine but truncate in the oracle")
    val mergedUnion = (1 to nMerges).map { r =>
      s"SELECT split_part(pr, ' ', 1) || CASE WHEN starts_with(split_part(pr, ' ', 2), '##') " +
        s"THEN substr(split_part(pr, ' ', 2), 3) ELSE split_part(pr, ' ', 2) END AS piece FROM r$r"
    }.mkString("\n  UNION ALL ")
    val levels = (1 to OracleMaxWordLen).map { i =>
      s"""g$i AS (
         |  SELECT g.word,
         |         CASE WHEN g.rest = '' OR g.dead = 1 OR b.piece IS NULL
         |              THEN g.rest ELSE substr(g.rest, strlen(b.rw) + 1) END AS rest,
         |         CASE WHEN g.rest = '' OR g.dead = 1 OR b.piece IS NULL
         |              THEN g.pieces ELSE list_append(g.pieces, b.piece) END AS pieces,
         |         CASE WHEN g.rest <> '' AND g.dead = 0 AND b.piece IS NULL
         |              THEN 1 ELSE g.dead END AS dead
         |  FROM g${i - 1} g LEFT JOIN LATERAL (
         |    SELECT v.piece, v.rw FROM voc v
         |    WHERE v.init = CAST(len(g.pieces) = 0 AS INT) AND g.rest <> ''
         |      AND starts_with(g.rest, v.rw)
         |    ORDER BY strlen(v.rw) DESC, v.piece LIMIT 1) b ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""voc AS MATERIALIZED (
       |  SELECT DISTINCT piece,
       |         CASE WHEN starts_with(piece, '##') THEN substr(piece, 3)
       |              ELSE piece END AS rw,
       |         CASE WHEN starts_with(piece, '##') THEN 0 ELSE 1 END AS init
       |  FROM (SELECT unnest(string_split(trim(s, '<>'), '><')) AS piece
       |        FROM w0
       |        UNION ALL $mergedUnion)),
       |tok AS ($tokCte),
       |tokg AS MATERIALIZED (SELECT doc_id, word FROM tok
       |         WHERE word <> '' AND NOT contains(word, '<')
       |           AND NOT contains(word, '>')),
       |ew AS MATERIALIZED (SELECT DISTINCT word FROM tokg),
       |g0 AS (SELECT word, word AS rest,
       |              CAST([] AS VARCHAR[]) AS pieces,
       |              CASE WHEN len(word) > $maxChars THEN 1 ELSE 0 END AS dead
       |       FROM ew),
       |$levels,
       |wseg AS MATERIALIZED (
       |  SELECT word,
       |         CASE WHEN dead = 1 OR rest <> '' THEN CAST(1 AS BIGINT)
       |              ELSE CAST(len(pieces) AS BIGINT) END AS n_pieces,
       |         CASE WHEN dead = 1 OR rest <> '' THEN 1 ELSE 0 END AS unk,
       |         CASE WHEN dead = 1 OR rest <> '' THEN '[UNK]'
       |              ELSE array_to_string(pieces, ' ') END AS segmented
       |  FROM g$OracleMaxWordLen)""".stripMargin
  }

  /** The `merged`-piece projection of round `r`'s rule (the `##`
    * inheritance: left piece concatenated with the right's raw text).
    */
  private def mergedExpr: String =
    "split_part(pr, ' ', 1) || CASE WHEN starts_with(split_part(pr, ' ', 2), '##') " +
      "THEN substr(split_part(pr, ' ', 2), 3) ELSE split_part(pr, ' ', 2) END"

  /** The [[pieceVocab]] replay: specials at 0..4, the position-aware
    * alphabet in UTF-8 binary order (ordered by `hex(encode(...))` on
    * BOTH sides — see [[pieceVocab]]), merges at rank offset, min-id
    * dedup followed by the dense renumber in min-id order. Requires
    * `w0` and `r1..rN` in scope; defines `idv(piece,
    * token_id)` (named apart from [[encodeCtes]]' serving `voc`).
    */
  private def vocabCtes(nMerges: Int): String = {
    val ranked = (1 to nMerges)
      .map(r => s"SELECT $r AS rk, pr FROM r$r").mkString("\n  UNION ALL ")
    val off = Specials.length - 1
    val specialRows = Specials.zipWithIndex
      .map { case (p, i) => s"('$p', $i)" }.mkString(", ")
    s"""valpha AS (SELECT DISTINCT unnest(list_transform(range(1, len(t) + 1),
       |             i -> CASE WHEN i = 1 THEN t[i] ELSE '##' || t[i] END)) AS piece
       |           FROM (SELECT [c FOR c IN string_split(word, '')] AS t FROM w0)),
       |aid AS (SELECT piece,
       |               CAST(ROW_NUMBER() OVER (ORDER BY hex(encode(piece))) + $off AS INT) AS id
       |        FROM valpha),
       |na AS (SELECT CAST(COUNT(*) AS INT) AS n FROM aid),
       |mid AS (SELECT $mergedExpr AS piece,
       |               CAST(rk + $off + na.n AS INT) AS id
       |        FROM ($ranked), na),
       |idv AS (SELECT piece,
       |               CAST(ROW_NUMBER() OVER (ORDER BY min_id) - 1 AS INT) AS token_id
       |        FROM (SELECT piece, MIN(id) AS min_id FROM (
       |                SELECT * FROM (VALUES $specialRows) s(piece, id)
       |                UNION ALL SELECT piece, id FROM aid
       |                UNION ALL SELECT piece, id FROM mid)
       |              GROUP BY 1))""".stripMargin
  }

  /** The DuckDB replay of [[pieceVocab]]. */
  def vocabOracleSql(nMerges: Int, trainWhere: String = "",
                     textSql: String = "text"): String =
    s"WITH ${roundsCte(nMerges, trainWhere, textSql)},\n" +
      s"${vocabCtes(nMerges)}\n" +
      "SELECT piece, token_id FROM idv"

  /** The DuckDB replay of [[encodeIds]]' per-document economics plus
    * the decode-roundtrip prediction: `tokPosCte` must produce
    * `(doc_id, wpos, word)` with `wpos` any key matching the engine's
    * word order. Emits `(doc_id, n_wp, n_unk, ids_fp, roundtrip_ok)`
    * where `ids_fp = Σ id·pos` over the flat 1-based id stream (no
    * whitespace tokens — see [[encodeIds]]) and `roundtrip_ok` is the
    * proof-side prediction `n_unk = 0` (the Spark side computes it
    * honestly from [[decodeIds]] output; any id, order, or
    * segmentation divergence flips the row red).
    */
  def idsOracleSql(nMerges: Int, trainWhere: String, tokPosCte: String,
                   textSql: String = "text",
                   maxChars: Int = OracleMaxWordLen): String = {
    val tail =
      """tokgp AS (SELECT doc_id, wpos, word FROM tokp
        |          WHERE word <> '' AND NOT contains(word, '<')
        |            AND NOT contains(word, '>')),
        |wpl AS (SELECT word, unnest(list_transform(range(1, len(t) + 1),
        |          i -> struct_pack(spos := i, piece := t[i]))) AS u
        |        FROM (SELECT word, string_split(segmented, ' ') AS t FROM wseg)),
        |wid AS (SELECT wpl.word, u.spos AS spos, COALESCE(token_id, -1) AS id
        |        FROM wpl LEFT JOIN idv ON idv.piece = u.piece),
        |wids AS (SELECT word, list(id ORDER BY spos) AS ids,
        |                CAST(COUNT(*) AS BIGINT) AS np
        |         FROM wid GROUP BY 1),
        |ds AS (SELECT t.doc_id, t.wpos, w.ids, w.np, s.unk,
        |              COALESCE(SUM(w.np) OVER (PARTITION BY t.doc_id ORDER BY t.wpos
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
        |       FROM tokgp t JOIN wids w USING (word)
        |       JOIN (SELECT word, unk FROM wseg) s USING (word)),
        |fp AS (SELECT doc_id, unk, np,
        |              list_sum(list_transform(range(1, len(ids) + 1),
        |                j -> CAST(ids[j] AS BIGINT) * (prev + j))) AS contrib
        |       FROM ds)
        |SELECT doc_id,
        |       CAST(SUM(np) AS BIGINT) AS n_wp,
        |       CAST(SUM(unk) AS BIGINT) AS n_unk,
        |       CAST(SUM(contrib) AS BIGINT) AS ids_fp,
        |       CAST(CASE WHEN SUM(unk) = 0 THEN 1 ELSE 0 END AS INT) AS roundtrip_ok
        |FROM fp GROUP BY 1""".stripMargin
    s"WITH ${roundsCte(nMerges, trainWhere, textSql)},\n" +
      s"tokp AS MATERIALIZED ($tokPosCte),\n" +
      s"${encodeCtes(nMerges, "SELECT doc_id, word FROM tokp", maxChars)},\n" +
      s"${vocabCtes(nMerges)},\n$tail"
  }

  /** The DuckDB replay of [[encodeSegments]] (`maxChars` must match
    * the engine call's `maxInputCharsPerWord` and fit the unroll —
    * see [[encodeCtes]]).
    */
  def segmentsOracleSql(nMerges: Int, trainWhere: String, tokCte: String,
                        textSql: String = "text",
                        maxChars: Int = OracleMaxWordLen): String =
    s"WITH ${roundsCte(nMerges, trainWhere, textSql)},\n" +
      s"${encodeCtes(nMerges, tokCte, maxChars)}\n" +
      "SELECT word, n_pieces, unk, segmented FROM wseg"

  /** The DuckDB replay of [[tokenCounts]]. */
  def tokenCountsOracleSql(nMerges: Int, trainWhere: String, tokCte: String,
                           textSql: String = "text",
                           maxChars: Int = OracleMaxWordLen): String =
    s"WITH ${roundsCte(nMerges, trainWhere, textSql)},\n" +
      s"${encodeCtes(nMerges, tokCte, maxChars)}\n" +
      """SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |       CAST(SUM(w.n_pieces) AS BIGINT) AS n_pieces,
        |       CAST(SUM(w.unk) AS BIGINT) AS n_unk
        |FROM tokg t JOIN wseg w USING (word) GROUP BY 1""".stripMargin
}
