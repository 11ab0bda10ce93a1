package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Byte-pair-encoding merge learning and tokenization — the
  * tokenizer-training half of the LLM data pipeline (the BPE
  * algorithm of Sennrich et al. 2016, the vocabulary builder behind
  * GPT-2/RoBERTa-style tokenizers).
  *
  * Scale design — the part that matters at 100 TB: the corpus is
  * scanned ONCE, for the word-frequency table; every merge round
  * after that runs on that table, whose size is the corpus
  * VOCABULARY (sublinear in corpus bytes — tens of millions of rows
  * for a web-scale corpus, regardless of how many petabytes produced
  * it). This is exactly how production tokenizer trainers work: pair
  * statistics are weighted by word frequency, never re-scanned from
  * raw text.
  *
  * The merge loop itself is HYBRID. When the vocabulary fits the
  * driver (`maxDriverWords`, default 2M rows — a web-scale corpus's
  * word table after frequency thresholding), the word table is
  * collected ONCE and the `nMerges` rounds run as the classic
  * in-memory trainer: exact pair counts in a hash map, incremental
  * updates touching only the words that contain the winning pair,
  * and a lazy-invalidation max-heap for the argmax — ~32k merges in
  * tens of seconds instead of 32k Spark jobs (the per-round
  * distributed loop pays one vocabulary-sized aggregation + LIMIT-1
  * collect per merge, which is correct but unusable at production
  * vocabulary sizes). The in-memory loop reproduces the distributed
  * loop EXACTLY — same overlapping-adjacency pair counts, same
  * frequency weighting, same (count desc, pair-string asc in UTF-8
  * byte order) tie-break — so the DuckDB lockstep oracle replays
  * either path verbatim (pinned by the BpeSpec parity gate). Both
  * loops are [[MergeTrain]]'s, shared with [[WordPiece]].
  *
  * When the vocabulary exceeds `maxDriverWords`, training falls back
  * to the distributed loop: each round is (a) one vocabulary-sized
  * aggregation to count adjacent symbol pairs, (b) a `LIMIT 1`
  * argmax (TakeOrderedAndProject — no global sort), (c) a narrow
  * codegen'd string-replace projection applying the winning merge.
  * The driver holds only the `nMerges` winning rules. Tokenizing the
  * corpus afterwards is the same economics on either path: per-word
  * symbol counts come off the trained word table, and the corpus
  * word stream just equi-joins it.
  *
  * Symbol sequences ride as individually bracketed tokens
  * (`"word"` → `"<w><o><r><d>"`), so applying a merge is one
  * non-overlapping left-to-right `replace("<l><r>", "<lr>")`.
  * The brackets make this EXACT: adjacent pattern matches share no
  * characters (each token owns its own bracket pair), so the greedy
  * scan merges a run `a a a a` into `aa aa` exactly like the
  * standard skip-two pass, and a symbol that merely starts or ends
  * with another symbol's text can never false-match. A shared-
  * delimiter encoding (`|a|b|`) fails BOTH ways — the trailing `|`
  * of one match is the leading `|` of the next, and `<l>` would
  * prefix-match `<lr>` — which is why the brackets are per-token.
  * An external SQL engine replays the whole training verbatim.
  * Words containing `<` or `>` are guard-filtered (here and in the
  * oracle). No end-of-word marker is appended: merges never cross
  * the bracket boundary, which is the marker's only job in this
  * representation.
  *
  * Determinism: arg-max ties break on the pair string ascending, so
  * the learned merge table is a pure function of the corpus.
  */
object Bpe {

  /** What separates char-level from byte-level BPE. Training,
    * encoding, decoding and export are one surface; each takes the
    * alphabet as a value.
    *
    * @param face       the serve conventions ([[TokenServe.Face]]):
    *                   word guard, boundary id, unknown flag, decode
    *                   fallback piece and finish
    * @param segment    SQL over `word`: its base symbols, in order
    * @param length     a word's length in the unit compression divides
    *                   by, named `lengthName` in the counts output
    * @param symbols    the base symbols a trained vocabulary can name
    *                   (a word with any other is counted in `n_oov`)
    * @param vocab      the `(piece, token_id)` table of `(rules, words)`
    */
  final case class Alphabet(face: TokenServe.Face, segment: String,
                            length: Column => Column, lengthName: String,
                            symbols: DataFrame => Set[String],
                            vocab: (DataFrame, DataFrame) => DataFrame)

  /** Non-empty characters of `word` (Spark's own segmentation, so
    * driver, executor and oracle agree on what a character is).
    */
  private val CharSeg = "filter(split(word, ''), x -> x <> '')"

  /** Char-level BPE: symbols are characters, words containing the
    * `<`/`>` sentinels drop, id 0 is the space between words, and a
    * word with a character training never saw is unknown (its piece
    * gets id −1 and decodes to U+FFFD).
    */
  val Chars: Alphabet = Alphabet(
    TokenServe.Face(TokenServe.wordOk, Some(0), col("_oov"),
      nTok = "n_bpe", nUnk = "n_oov"),
    CharSeg, length, "n_chars",
    words => words.select(explode(expr(CharSeg)).as("ch"))
      .distinct().collect().map(_.getString(0)).toSet,
    pieceVocab)

  /** Byte-level BPE (the GPT-2/Llama shape — see the byte-level
    * section below): symbols are the UTF-8 bytes of each word as
    * 2-char uppercase hex, only empty words drop, the space byte
    * (id 32) sits between words, and every word is encodable. The
    * unknown flag is a piece missing from [[byteVocab]], so the
    * structural-zero OOV claim is checked against the vocabulary on
    * every run rather than asserted. Decode joins the hex pieces and
    * converts bytes to UTF-8 once per document; an unknown id decodes
    * to U+FFFD's bytes.
    */
  val Bytes: Alphabet = Alphabet(
    TokenServe.Face(col("word") =!= "", Some(32),
      col("token_id").isNull.cast("long"), nTok = "n_bpe", nUnk = "n_oov",
      unknownPiece = "EFBFBD", finish = t => decode(unhex(t), "UTF-8")),
    "regexp_extract_all(hex(encode(word, 'UTF-8')), '..', 0)",
    octet_length, "n_bytes",
    _ => (0 until 256).map(b => f"$b%02X").toSet,
    (rules, _) => byteVocab(rules))

  /** Default driver-side vocabulary cap for the in-memory merge loop
    * (~2M words ≈ a few hundred MB of symbol arrays — comfortably
    * inside any production driver; above it the distributed loop
    * takes over).
    */
  val DefaultMaxDriverWords: Int = 2000000

  /** Train once, share twice: the merge-rule table AND the fully-
    * merged `(word, s, n)` vocabulary as DataFrames (the words frame
    * localCheckpointed so both consumers — and a memoizing caller —
    * reuse the materialized result instead of re-training). The
    * pair score is the count; [[MergeTrain]] runs the loops.
    */
  def trainShared(docs: DataFrame, textCol: String, nMerges: Int,
                  maxDriverWords: Int = DefaultMaxDriverWords,
                  alphabet: Alphabet = Chars): (DataFrame, DataFrame) =
    MergeTrain.trainShared(docs, textCol, alphabet.face.guard, nMerges,
      maxDriverWords,
      MergeTrain.Family(alphabet.segment, MergeTrain.Count, _ + _))

  /** Learn the first `nMerges` BPE merges over the corpus's
    * space-tokenized words. Output: `(rank, lhs, rhs, merged, n)` —
    * 1-based rank, the merged symbol, and the frequency-weighted
    * occurrence count of the pair at the time it won. Stops early if
    * every word has collapsed to a single symbol.
    */
  def learnMerges(docs: DataFrame, textCol: String, nMerges: Int,
                  maxDriverWords: Int = DefaultMaxDriverWords,
                  alphabet: Alphabet = Chars): DataFrame =
    trainShared(docs, textCol, nMerges, maxDriverWords, alphabet)._1

  /** Tokenize the corpus under a freshly-trained `nMerges`-rule BPE
    * vocabulary ([[tokenCountsWith]] over [[trainShared]]'s words —
    * pass a memoized words frame there to avoid re-training when
    * [[learnMerges]] already ran on the same corpus).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  nMerges: Int): DataFrame =
    tokenCountsWith(docs, idCol, textCol,
      trainShared(docs, textCol, nMerges)._2)

  /** Per-document token economics under an already-trained vocabulary
    * (`(word, s, n)` from [[trainShared]]):
    * `(doc_id, n_words, n_chars, n_bpe, n_oov, compression)` where
    * `n_bpe` is the document's symbol count after the merges and
    * `compression = n_chars / n_bpe` (what a token-budget planner
    * actually needs from a tokenizer). The per-word symbol count is
    * computed ONCE on the vocabulary table; the corpus word stream
    * LEFT-joins it — tokenization never re-runs per occurrence, and a
    * word absent from the training vocabulary (scoring a DIFFERENT
    * corpus than the one trained on) does not silently vanish: it
    * falls back to its per-character symbol count (the zero-merge
    * upper bound a byte/char-level tokenizer would pay) and is tallied
    * in `n_oov`, so token economics stay conservative and the OOV rate
    * is visible instead of an invisible undercount.
    *
    * Contract: a document contributes a row only if it has at least
    * one word passing the `<`/`>` sentinel guard — empty texts and
    * all-sentinel documents emit nothing (the same emit-nothing
    * convention as `refPerplexityBuckets` for transition-free docs).
    */
  def tokenCountsWith(docs: DataFrame, idCol: String, textCol: String,
                      trainedWords: DataFrame): DataFrame = {
    val vocab = trainedWords.select(col("word"),
      size(split(trim(col("s"), "<>"), "><")).cast("long").as("_nsym"))
    TokenServe.docWords(docs, idCol, textCol, TokenServe.wordOk)
      .join(vocab, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word"))).as("n_chars"),
        sum(coalesce(col("_nsym"), length(col("word")).cast("long")))
          .as("n_bpe"),
        sum(col("_nsym").isNull.cast("long")).as("n_oov"))
      .withColumn("compression",
        round(col("n_chars").cast("double") / col("n_bpe"), 4))
  }

  /** Greedy BPE ENCODING of one word under a trained merge-rank map —
    * the production tokenizer's serve face (GPT-2 `bpe()` shape):
    * repeatedly find the adjacent symbol pair with the LOWEST merge
    * rank and apply that merge to every occurrence (greedy
    * left-to-right non-overlapping, the training replace semantics),
    * until no trained pair remains. Returns the final symbol count.
    *
    * WHY this equals replaying the merges sequentially in rank order
    * (which is what the SQL oracle does, and what training did to the
    * training corpus): merging (l,r) → lr only creates NEW adjacencies
    * that involve lr, and any rule whose side is lr necessarily has a
    * later rank than the rule that created lr — so occurrences of
    * lower-ranked pairs are only ever consumed, never created, and the
    * min-rank-first loop applies rules in strictly increasing rank
    * order: exactly the sequential replay minus its no-ops. The same
    * argument makes encoding a training word reproduce its trained
    * segmentation bit-for-bit (the BpeSpec parity gate).
    *
    * O(len²) worst case per word — words are short, and the caller
    * encodes each DISTINCT word once.
    */
  private def encodeSyms(chars: Array[String],
                         ranks: scala.collection.Map[(String, String), Int])
      : Array[String] = {
    if (chars.length <= 1) return chars
    var syms = chars
    var done = false
    while (!done && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        val l = syms(bi); val r = syms(bi + 1); val m = l + r
        val b = Array.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            b += m; j += 2
          } else { b += syms(j); j += 1 }
        }
        syms = b.result()
      }
    }
    syms
  }

  /** The encoded DISTINCT-word vocabulary of `docs`' word stream:
    * `(word, _nsym, _oov, _seg, _syms)` where `_seg` is the bracketed
    * segmentation (`"<lo><w>"` — the exact `s` representation the
    * training loop and the SQL oracle use), `_syms` its symbols, and
    * `_oov` flags a word with a base symbol outside
    * `alphabet.symbols`. Vocabulary-sized; shared by every encode
    * face.
    */
  private def encodedVocab(docs: DataFrame, textCol: String,
                           rules: DataFrame, trainedWords: DataFrame,
                           alphabet: Alphabet): DataFrame = {
    val spark = docs.sparkSession
    val ranks: Map[(String, String), Int] = rules
      .select(col("rank"), col("lhs"), col("rhs")).collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getInt(0)).toMap
    val known = alphabet.symbols(trainedWords)
    val bcRanks = spark.sparkContext.broadcast(ranks)
    val bcAlpha = spark.sparkContext.broadcast(known)
    import spark.implicits._
    TokenServe.distinctWords(docs, textCol, alphabet.face.guard)
      .withColumn("_chars", expr(alphabet.segment))
      .as[(String, Seq[String])]
      .mapPartitions { it =>
        val rk = bcRanks.value
        val al = bcAlpha.value
        it.map { case (w, chars) =>
          val a = chars.toArray
          val syms = encodeSyms(a, rk)
          val sb = new java.lang.StringBuilder
          syms.foreach(s => sb.append('<').append(s).append('>'))
          (w, syms.length.toLong,
            if (a.forall(al.contains)) 0L else 1L, sb.toString,
            syms.toSeq)
        }
      }.toDF("word", "_nsym", "_oov", "_seg", "_syms")
  }

  /** Tokenize text under an ALREADY-TRAINED vocabulary by actually
    * APPLYING the learned merges to each word — the production
    * tokenizer serve face, vs [[tokenCountsWith]]'s lookup-with-
    * char-fallback (which charges every out-of-vocabulary word its
    * full character count: honest for budgeting, but an upper bound).
    * Here an unseen word is greedily segmented into learned sub-words
    * ([[encodeSyms]] — provably identical to rank-order merge replay,
    * so a SQL engine oracles it), and `n_oov` narrows to its real
    * meaning: words containing a base symbol the alphabet cannot name
    * (for chars, a CHARACTER the training corpus never saw — where a
    * byte-fallback tokenizer would switch to bytes; for bytes, never).
    *
    * Output: `(doc_id, n_words, <lengthName>, n_bpe, n_oov,
    * compression)` with `compression = <lengthName> / n_bpe` — chars
    * for [[Chars]] (same schema and emit-nothing-for-empty-docs
    * contract as [[tokenCountsWith]]; on the training corpus itself
    * the two agree exactly with `n_oov = 0`, BpeSpec pins this), bytes
    * for [[Bytes]] (what a byte-level tokenizer compresses).
    *
    * Scale: the merge table (`nMerges` rows) and the base symbol set
    * broadcast from the driver; encoding runs ONCE per DISTINCT word
    * of the scoring corpus, and the corpus word stream joins the
    * encoded vocabulary ([[TokenServe.counts]]).
    */
  def encodeTokenCountsWith(docs: DataFrame, idCol: String, textCol: String,
                            rules: DataFrame, trainedWords: DataFrame,
                            alphabet: Alphabet = Chars): DataFrame = {
    val encoded = encodedVocab(docs, textCol, rules, trainedWords, alphabet)
      .select(col("word"), col("_nsym"), col("_oov"))
    val n = alphabet.lengthName
    TokenServe.counts(docs, idCol, textCol, alphabet.face, encoded, Seq(
        count(lit(1)).as("n_words"),
        sum(alphabet.length(col("word"))).as(n),
        sum(col("_nsym")).as("n_bpe"),
        sum(col("_oov")).as("n_oov")))
      .withColumn("compression",
        round(col(n).cast("double") / col("n_bpe"), 4))
  }

  /** The tokenizer's ACTUAL output: the per-distinct-word segmentation
    * table `(word, n_sym, oov, segmented)` under an already-trained
    * vocabulary, with `segmented` in the same bracketed form as the
    * training representation (`"slow"` → `"<s><low>"`). This is what a
    * serving tokenizer ships — a corpus tokenizes by joining its word
    * stream against this table ([[encodeTokenCountsWith]] is exactly
    * that join, aggregated). Vocabulary-sized output; the same
    * min-rank-first ≡ sequential-replay argument as [[encodeSyms]]
    * makes it SQL-oracle-able symbol for symbol.
    */
  def encodeSegments(docs: DataFrame, textCol: String, rules: DataFrame,
                     trainedWords: DataFrame,
                     alphabet: Alphabet = Chars): DataFrame =
    encodedVocab(docs, textCol, rules, trainedWords, alphabet)
      .select(col("word"), col("_nsym").as("n_sym"),
        col("_oov").as("oov"), col("_seg").as("segmented"))

  /** The trained tokenizer's token-id table `(piece, token_id)` — the
    * artifact a serving stack ships alongside the merge rules. Id 0
    * is the reserved whitespace piece `" "` (what makes
    * [[decodeIds]] ∘ [[encodeIds]] the identity on clean text — the
    * GPT-2 move of making whitespace a token instead of losing it);
    * ids 1..|A| are the training alphabet in lexicographic (binary)
    * order; merge results follow in rank order. Two merge paths can
    * yield the same piece string — the smallest id wins, so the table
    * is a bijection piece ↔ id.
    *
    * Scale: vocabulary-sized throughout. The one window
    * (`row_number` over the alphabet) runs on the CHARSET — bounded
    * by the script, not the corpus.
    */
  def pieceVocab(rules: DataFrame, trainedWords: DataFrame): DataFrame = {
    val spark = rules.sparkSession
    import spark.implicits._
    val alphaIds = trainedWords
      .select(explode(expr(CharSeg)).as("piece"))
      .distinct()
      .select(col("piece"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("piece"))).as("id"))
    val nAlpha = alphaIds.count()
    val mergeIds = rules.select(
      concat(col("lhs"), col("rhs")).as("piece"),
      (col("rank") + lit(nAlpha)).cast("int").as("id"))
    Seq((" ", 0)).toDF("piece", "id")
      .unionByName(alphaIds)
      .unionByName(mergeIds)
      .groupBy(col("piece"))
      .agg(min(col("id")).cast("int").as("token_id"))
  }

  /** Export the trained tokenizer as the standard interop artifacts —
    * what a serving stack or an external trainer exchange:
    *
    *  - `$path/merges`: ONE text file of rank-ordered `lhs rhs` lines
    *    (the GPT-2 `merges.txt` shape — line order IS the rank, no
    *    rank column). nMerges lines; the same documented bounded
    *    single-file contract as the CSV sink (a merge table is
    *    vocabulary-sized, never corpus-sized).
    *  - `$path/vocab`: the [[pieceVocab]] `(piece, token_id)` table as
    *    parquet (engine face — joins back into any pipeline).
    *
    * Symbols never contain spaces (words are split ON spaces and the
    * `<`/`>` sentinels are guard-filtered), so the line format is
    * unambiguous; [[importMerges]] round-trips it exactly (BpeSpec
    * pins the roundtrip, q214 oracles it through disk).
    */
  def exportArtifacts(rules: DataFrame, trainedWords: DataFrame,
                      path: String, alphabet: Alphabet = Chars): Unit = {
    rules.orderBy(col("rank"))
      .select(concat_ws(" ", col("lhs"), col("rhs")).as("value"))
      .coalesce(1).write.mode("overwrite").text(s"$path/merges")
    alphabet.vocab(rules, trainedWords)
      .write.mode("overwrite").parquet(s"$path/vocab")
  }

  /** Read a GPT-2-shape merges file back as `(rank, lhs, rhs,
    * merged)` — rank reconstructed from line order, which the
    * single-file export contract preserves (one file ⇒ one input
    * split ⇒ sequential read, exactly how every tokenizer loader
    * consumes `merges.txt`).
    *
    * `skipVersionHeader`: the published GPT-2 artifact convention puts
    * a `#version: 0.2` first line ahead of the rules (openai/gpt-2's
    * encoder.py drops line 1 unconditionally; HuggingFace `tokenizers`
    * skips it iff it starts with `#version:`). We follow the HF test —
    * skip ONLY a physical-line-1 `#version:` prefix — because in the
    * byte-level rendering `#` is a legitimate rule character (byte
    * 0x23) and an unconditional drop would eat the rank-1 merge of a
    * headerless file. [[importMergesGpt2]] sets this; the engine's own
    * headerless `merges` artifact does not.
    */
  def importMerges(spark: SparkSession, path: String,
                   skipVersionHeader: Boolean = false): DataFrame = {
    // one data file ⇒ a sequential walk in physical line order: blank
    // lines (a hand-edited file's trailing newline) are tolerated
    // without costing a rank, the malformed-rule error names the
    // PHYSICAL line number (not the post-filter index, which diverges
    // from what the user sees exactly in the hand-edited case), and
    // the optional #version header skip is line-1-only by construction
    val rows = TokenServe.artifactLines(spark, s"$path/merges", "importMerges")
      .mapPartitions { it =>
        var rank = 0 // dense over actual rules
        it.flatMap { case (physical, line) =>
          if (line.isEmpty) Iterator.empty
          else if (skipVersionHeader && physical == 1 &&
                   line.startsWith("#version:")) Iterator.empty
          else {
            val sp = line.indexOf(' ')
            if (sp < 0) throw new IllegalArgumentException(
              s"importMerges: malformed merges rule at line $physical " +
                s"(no 'lhs rhs' space): '$line'")
            rank += 1
            Iterator.single(Row(rank, line.substring(0, sp),
              line.substring(sp + 1)))
          }
        }
      }
    spark.createDataFrame(rows, StructType(Seq(
        StructField("rank", IntegerType, nullable = false),
        StructField("lhs", StringType, nullable = false),
        StructField("rhs", StringType, nullable = false))))
      .withColumn("merged", concat(col("lhs"), col("rhs")))
  }

  /** The pretraining artifact itself: each document as its flat
    * token-ID sequence under an already-trained vocabulary —
    * `(doc_id, ids, n_oov, n_bpe)` with the alphabet's boundary id
    * interleaved between words (id 0, [[pieceVocab]]'s whitespace
    * token, for chars; the space byte 32 for bytes) and `-1` for a
    * piece the vocabulary cannot name (a single character the
    * training corpus never saw — the byte-fallback seam; such words
    * are tallied per occurrence in `n_oov`). `n_bpe = size(ids)` — the
    * true context-window cost including whitespace tokens. Documents
    * with no clean word emit nothing (the [[tokenCountsWith]]
    * convention). Assembly is [[TokenServe.encodeIds]].
    */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
                rules: DataFrame, trainedWords: DataFrame,
                alphabet: Alphabet = Chars): DataFrame = {
    val vocab = alphabet.vocab(rules, trainedWords)
    TokenServe.encodeIds(docs, idCol, textCol, alphabet.face,
      encodedVocab(docs, textCol, rules, trainedWords, alphabet)
        .select(col("word"), col("_oov"), TokenServe.pieces(col("_syms"))),
      vocab)
  }

  /** Inverse of [[encodeIds]]: token-id sequences back to text —
    * `(doc_id, text_decoded)`. For chars, id 0 decodes to the space
    * and an id the vocabulary does not know (e.g. the `-1` OOV marker)
    * to U+FFFD, so `decode(encode(d)) == d`'s clean word stream
    * exactly when the document had no OOV word (the q202 roundtrip
    * gate proves it per-document); for bytes the roundtrip is
    * byte-exact on any text (q220). Assembly is
    * [[TokenServe.decodeIds]].
    */
  def decodeIds(encoded: DataFrame, idCol: String, idsCol: String,
                rules: DataFrame, trainedWords: DataFrame,
                alphabet: Alphabet = Chars): DataFrame =
    TokenServe.decodeIds(encoded, idCol, idsCol,
      alphabet.vocab(rules, trainedWords), alphabet.face)

  /** Shared CTE chain `w0 … w<nMerges>` (each `(word, s, n)`) with the
    * per-round pair-count / argmax / replace, in lockstep with the
    * Scala loop. `trainWhere` optionally restricts the training corpus
    * (the cross-corpus encode oracle trains on a slice).
    */
  private def roundsCte(nMerges: Int, trainWhere: String = "",
                        textSql: String = "text"): String = {
    val src =
      if (trainWhere.isEmpty) "FROM documents"
      else s"FROM documents WHERE $trainWhere"
    val w0 =
      s"""w0 AS (
        |  SELECT word,
        |         '<' || array_to_string([c FOR c IN string_split(word, '')], '><')
        |             || '>' AS s, n
        |  FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM (SELECT unnest(string_split($textSql, ' ')) AS word $src)
        |        WHERE word <> '' AND NOT contains(word, '<')
        |          AND NOT contains(word, '>') GROUP BY 1))""".stripMargin
    s"$w0,\n${mergeRounds(nMerges)}"
  }

  /** The per-round pair-count / argmax / replace CTE triple
    * `p_r/r_r/w_r` over a `w0(word, s, n)` base — segmentation-
    * agnostic (char-level [[roundsCte]] and byte-level
    * [[byteRoundsCte]] share it verbatim: the merge loop never looks
    * inside a symbol).
    */
  private def mergeRounds(nMerges: Int): String =
    (1 to nMerges).map { r =>
      s"""p$r AS (
         |  SELECT pr, SUM(n) AS cnt FROM (
         |    SELECT n, unnest(list_transform(range(1, len(t)),
         |             i -> t[i] || ' ' || t[i+1])) AS pr
         |    FROM (SELECT string_split(trim(s, '<>'), '><') AS t, n
         |          FROM w${r - 1}))
         |  GROUP BY 1),
         |r$r AS (SELECT pr, cnt FROM p$r ORDER BY cnt DESC, pr LIMIT 1),
         |w$r AS (SELECT word, replace(s,
         |          '<' || split_part(pr, ' ', 1) || '><' || split_part(pr, ' ', 2) || '>',
         |          '<' || split_part(pr, ' ', 1) || split_part(pr, ' ', 2) || '>') AS s, n
         |        FROM w${r - 1}, r$r)""".stripMargin
    }.mkString(",\n")

  /** The DuckDB replay of [[learnMerges]]. Assumes the corpus yields
    * at least `nMerges` mergeable pairs (true for any real text
    * corpus; the Scala side stops early instead).
    */
  // NOTE (stripMargin discipline, applies to every builder here): the
  // CTE chains are already margin-stripped — a stripMargin over an
  // ASSEMBLED string would re-strip their `|| '>'` continuation lines
  // (blanks + `|` prefix) and corrupt the SQL, so only literal pieces
  // go through stripMargin, never concatenations.
  def oracleSql(nMerges: Int, textSql: String = "text"): String =
    s"WITH ${roundsCte(nMerges, textSql = textSql)}\n${rulesSelect(nMerges)}"

  /** The DuckDB replay of [[tokenCounts]]. */
  def tokenizeOracleSql(nMerges: Int): String = {
    val tail =
      s"""v AS (SELECT word,
         |             CAST(len(string_split(trim(s, '<>'), '><')) AS BIGINT) AS nsym
         |      FROM w$nMerges),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |        FROM documents),
         |j AS (SELECT t.doc_id, t.word,
         |             COALESCE(v.nsym, len(t.word)) AS nsym,
         |             CASE WHEN v.nsym IS NULL THEN 1 ELSE 0 END AS oov
         |      FROM tok t LEFT JOIN v USING (word)
         |      WHERE t.word <> '' AND NOT contains(t.word, '<')
         |        AND NOT contains(t.word, '>'))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |       CAST(SUM(len(word)) AS BIGINT) AS n_chars,
         |       CAST(SUM(nsym) AS BIGINT) AS n_bpe,
         |       CAST(SUM(oov) AS BIGINT) AS n_oov,
         |       ROUND(CAST(SUM(len(word)) AS DOUBLE) / SUM(nsym), 4)
         |         AS compression
         |FROM j GROUP BY 1""".stripMargin
    s"WITH ${roundsCte(nMerges)},\n$tail"
  }

  /** The DuckDB replay of [[encodeTokenCountsWith]]: train on the
    * `trainWhere` slice of `documents` (the full `roundsCte` chain),
    * then apply the learned merges to the eval token stream given by
    * `tokCte` (a SQL body producing `(doc_id, word)`) — applied
    * SEQUENTIALLY in rank order over the eval DISTINCT-word table,
    * which [[encodeLen]]'s scaladoc proves identical to the engine's
    * min-rank-first loop. `n_oov` = words containing a character
    * absent from the training alphabet (chars of `w0`), exactly the
    * engine's definition.
    */
  /** The shared encode CTE chain: eval token stream (`tokCte` →
    * `tokg`), distinct eval words, sequential merge application
    * `e0 … e<nMerges>`, per-word symbol count `v`, training alphabet
    * `alpha`, and the per-word unseen-char flag `wo`.
    * NOTE: same stripMargin discipline as [[oracleSql]] — interpolated
    * pieces are pre-stripped and contain no line-leading `|`, so only
    * the literal text goes through stripMargin.
    */
  private def encodeCtes(nMerges: Int, tokCte: String): String = {
    val encRounds = (1 to nMerges).map { r =>
      s"""e$r AS (SELECT word, replace(s,
         |          '<' || split_part(pr, ' ', 1) || '><' || split_part(pr, ' ', 2) || '>',
         |          '<' || split_part(pr, ' ', 1) || split_part(pr, ' ', 2) || '>') AS s
         |        FROM e${r - 1}, r$r)""".stripMargin
    }.mkString(",\n")
    s"""tok AS ($tokCte),
       |tokg AS (SELECT doc_id, word FROM tok
       |         WHERE word <> '' AND NOT contains(word, '<')
       |           AND NOT contains(word, '>')),
       |ew AS (SELECT DISTINCT word FROM tokg),
       |e0 AS (SELECT word,
       |              '<' || array_to_string([c FOR c IN string_split(word, '')], '><')
       |                  || '>' AS s
       |       FROM ew),
       |$encRounds,
       |v AS (SELECT word,
       |             CAST(len(string_split(trim(s, '<>'), '><')) AS BIGINT) AS nsym
       |      FROM e$nMerges),
       |alpha AS (SELECT DISTINCT unnest([c FOR c IN string_split(word, '')]) AS ch
       |          FROM w0),
       |wch AS (SELECT DISTINCT word, unnest([c FOR c IN string_split(word, '')]) AS ch
       |        FROM ew),
       |wo AS (SELECT wch.word,
       |              CAST(MAX(CASE WHEN a.ch IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov
       |       FROM wch LEFT JOIN alpha a USING (ch) GROUP BY 1)""".stripMargin
  }

  def encodeOracleSql(nMerges: Int, trainWhere: String,
                      tokCte: String): String = {
    val tail =
      """j AS (SELECT t.doc_id, t.word, v.nsym, wo.oov
        |      FROM tokg t JOIN v USING (word) JOIN wo USING (word))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |       CAST(SUM(len(word)) AS BIGINT) AS n_chars,
        |       CAST(SUM(nsym) AS BIGINT) AS n_bpe,
        |       CAST(SUM(oov) AS BIGINT) AS n_oov,
        |       ROUND(CAST(SUM(len(word)) AS DOUBLE) / SUM(nsym), 4)
        |         AS compression
        |FROM j GROUP BY 1""".stripMargin
    s"WITH ${roundsCte(nMerges, trainWhere)},\n" +
      s"${encodeCtes(nMerges, tokCte)},\n$tail"
  }

  /** The DuckDB replay of [[encodeSegments]]: the final `e<nMerges>.s`
    * column IS the engine's bracketed segmentation, symbol for symbol.
    */
  def segmentOracleSql(nMerges: Int, trainWhere: String,
                       tokCte: String): String = {
    val tail =
      s"""SELECT e.word, v.nsym AS n_sym, wo.oov, e.s AS segmented
         |FROM e$nMerges e JOIN v USING (word) JOIN wo USING (word)""".stripMargin
    s"WITH ${roundsCte(nMerges, trainWhere)},\n" +
      s"${encodeCtes(nMerges, tokCte)}\n$tail"
  }

  /** The token-id vocabulary CTEs shared by [[vocabOracleSql]] and
    * [[idsOracleSql]]: alphabet ids 1..|A| in binary order, merge
    * results at |A|+rank, the space piece at 0, min-id dedup — the
    * exact [[pieceVocab]] construction. Requires `w0` and `r1..rN`
    * (from [[roundsCte]]) in scope.
    */
  private def vocabCtes(nMerges: Int): String = {
    val ranked = (1 to nMerges)
      .map(r => s"SELECT $r AS rk, pr FROM r$r").mkString("\n  UNION ALL ")
    s"""valpha AS (SELECT DISTINCT unnest([c FOR c IN string_split(word, '')]) AS ch
       |           FROM w0),
       |aid AS (SELECT ch AS piece,
       |               CAST(ROW_NUMBER() OVER (ORDER BY ch) AS INT) AS id
       |        FROM valpha),
       |na AS (SELECT CAST(COUNT(*) AS INT) AS n FROM aid),
       |mid AS (SELECT split_part(pr, ' ', 1) || split_part(pr, ' ', 2) AS piece,
       |               CAST(rk + na.n AS INT) AS id
       |        FROM ($ranked), na),
       |voc AS (SELECT piece, CAST(MIN(id) AS INT) AS token_id
       |        FROM (SELECT ' ' AS piece, 0 AS id
       |              UNION ALL SELECT piece, id FROM aid
       |              UNION ALL SELECT piece, id FROM mid)
       |        GROUP BY 1)""".stripMargin
  }

  /** The DuckDB replay of [[pieceVocab]] over a `trainWhere`-sliced
    * training corpus.
    */
  def vocabOracleSql(nMerges: Int, trainWhere: String): String =
    s"WITH ${roundsCte(nMerges, trainWhere)},\n${vocabCtes(nMerges)}\n" +
      "SELECT piece, token_id FROM voc"

  /** The DuckDB replay of [[encodeIds]]'s per-document economics plus
    * the decode-roundtrip prediction: `tokPosCte` must produce
    * `(doc_id, wpos, word)` with `wpos` any ordering key that matches
    * the engine's word order (positions are compacted per doc on both
    * sides). Emits `(doc_id, n_bpe, n_oov, ids_fp, roundtrip_ok)`
    * where `ids_fp = Σ id·pos` over the flat 1-based stream (space
    * tokens contribute 0 — id 0 — so the word-offset algebra closes)
    * and `roundtrip_ok` is the PROOF-side prediction `n_oov = 0`
    * (the Spark side computes it honestly from [[decodeIds]] output;
    * a divergence in id assignment, piece order, or whitespace
    * interleaving flips the row red).
    */
  def idsOracleSql(nMerges: Int, trainWhere: String,
                   tokPosCte: String): String = {
    val tail =
      """fp AS (SELECT doc_id, oov, nsym,
        |              list_sum(list_transform(range(1, len(ids) + 1),
        |                j -> CAST(ids[j] AS BIGINT) * (prev + k - 1 + j))) AS contrib
        |       FROM ds)
        |SELECT doc_id,
        |       CAST(SUM(nsym) + COUNT(*) - 1 AS BIGINT) AS n_bpe,
        |       CAST(SUM(oov) AS BIGINT) AS n_oov,
        |       CAST(SUM(contrib) AS BIGINT) AS ids_fp,
        |       CAST(CASE WHEN SUM(oov) = 0 THEN 1 ELSE 0 END AS INT) AS roundtrip_ok
        |FROM fp GROUP BY 1""".stripMargin
    s"WITH ${roundsCte(nMerges, trainWhere)},\n${vocabCtes(nMerges)},\n" +
      s"${idsChainCtes(nMerges, tokPosCte)},\n$tail"
  }

  /** The per-word-id chain shared by [[idsOracleSql]] and
    * [[docIdsSelect]]: eval token stream with positions → distinct
    * words → sequential merge replay → per-word ordered id lists
    * (`wids`), per-word unseen-char flags (`wo`) and the per-doc
    * word stream `ds` with compacted word rank `k` and the
    * cumulative-symbol offset `prev`. Requires [[roundsCte]] +
    * [[vocabCtes]] in scope.
    */
  private def idsChainCtes(nMerges: Int, tokPosCte: String): String = {
    val encRounds = (1 to nMerges).map { r =>
      s"""e$r AS (SELECT word, replace(s,
         |          '<' || split_part(pr, ' ', 1) || '><' || split_part(pr, ' ', 2) || '>',
         |          '<' || split_part(pr, ' ', 1) || split_part(pr, ' ', 2) || '>') AS s
         |        FROM e${r - 1}, r$r)""".stripMargin
    }.mkString(",\n")
    s"""tokp AS ($tokPosCte),
       |tokg AS (SELECT doc_id, wpos, word FROM tokp
       |         WHERE word <> '' AND NOT contains(word, '<')
       |           AND NOT contains(word, '>')),
       |ew AS (SELECT DISTINCT word FROM tokg),
       |e0 AS (SELECT word,
       |              '<' || array_to_string([c FOR c IN string_split(word, '')], '><')
       |                  || '>' AS s
       |       FROM ew),
       |$encRounds,
       |wp AS (SELECT word, unnest(list_transform(range(1, len(t) + 1),
       |              i -> struct_pack(spos := i, piece := t[i]))) AS u
       |       FROM (SELECT word, string_split(trim(s, '<>'), '><') AS t
       |             FROM e$nMerges)),
       |wps AS (SELECT word, u.spos AS spos, u.piece AS piece FROM wp),
       |wid AS (SELECT word, spos, COALESCE(token_id, -1) AS id
       |        FROM wps LEFT JOIN voc USING (piece)),
       |wids AS (SELECT word, list(id ORDER BY spos) AS ids,
       |                CAST(COUNT(*) AS BIGINT) AS nsym
       |         FROM wid GROUP BY 1),
       |wch AS (SELECT DISTINCT word,
       |               unnest([c FOR c IN string_split(word, '')]) AS ch
       |        FROM ew),
       |wo AS (SELECT wch.word,
       |              CAST(MAX(CASE WHEN a.ch IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov
       |       FROM wch LEFT JOIN valpha a USING (ch) GROUP BY 1),
       |ds AS (SELECT t.doc_id, t.wpos, w.ids, w.nsym, wo.oov,
       |              ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY t.wpos) AS k,
       |              COALESCE(SUM(w.nsym) OVER (PARTITION BY t.doc_id ORDER BY t.wpos
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
       |       FROM tokg t JOIN wids w USING (word) JOIN wo USING (word))""".stripMargin
  }

  /** A nestable full SELECT producing `(doc_id, n_bpe, dids)` — each
    * document's FLAT id list with the space token joined between
    * words, the SQL twin of [[encodeIds]]' `ids` column. Composition
    * oracles (pack materialization) wrap it as a CTE.
    */
  def docIdsSelect(nMerges: Int, trainWhere: String,
                   tokPosCte: String): String = {
    val tail =
      """SELECT doc_id,
        |       CAST(SUM(nsym) + COUNT(*) - 1 AS BIGINT) AS n_bpe,
        |       flatten(list(CASE WHEN k = 1 THEN ids
        |                         ELSE list_prepend(0, ids) END ORDER BY wpos)) AS dids
        |FROM ds GROUP BY doc_id""".stripMargin
    s"WITH ${roundsCte(nMerges, trainWhere)},\n${vocabCtes(nMerges)},\n" +
      s"${idsChainCtes(nMerges, tokPosCte)}\n$tail"
  }

  // ──────────────────────── byte-level BPE ────────────────────────
  //
  // The production GPT-2/Llama tokenizer shape: the base alphabet is
  // the 256 BYTES of each word's UTF-8 encoding, so any unicode input
  // — non-Latin scripts, emoji, mojibake — segments with n_oov
  // STRUCTURALLY zero (the char-level stack above marks a
  // training-unseen character −1 instead; that is its documented
  // byte-fallback seam). Symbols ride as 2-char uppercase hex codes
  // inside the SAME bracketed representation ("hé" → "<68><C3><A9>"),
  // which buys three things at once:
  //
  //  - the whole train/encode/decode/export surface is the char one,
  //    called with the [[Bytes]] alphabet — in-memory trainer,
  //    distributed trainer, encoder and the SQL oracle's replace chain
  //    never look inside a symbol;
  //  - no sentinel guard: hex symbols cannot contain '<'/'>', so the
  //    byte path accepts the words the char path must discard (they
  //    just become bytes 3C/3E);
  //  - any engine replays the segmentation — Spark's
  //    hex(encode(word,'UTF-8')) and DuckDB's hex(encode(word)) emit
  //    the identical uppercase hex string, split into pairs by the
  //    same '..' regex.
  //
  // The whitespace token needs no reserved id: space IS byte 0x20
  // (id 32 by construction), so decode(encode(d)) is byte-exact on
  // any clean text.

  /** Byte-level token-id table `(piece, token_id)`: ids 0..255 ARE the
    * byte values — fixed 256-entry base regardless of what the
    * training corpus contained (the GPT-2 move that makes every input
    * encodable), no window needed (fixed-width uppercase hex sorts in
    * numeric order; the id is just the byte). Merge results follow at
    * 255 + rank; min-id dedup covers merge paths that reproduce the
    * same piece string (base pieces are 2 chars, merges ≥ 4 — those
    * families can never collide).
    */
  def byteVocab(rules: DataFrame): DataFrame = {
    val spark = rules.sparkSession
    import spark.implicits._
    (0 until 256).map(b => (f"$b%02X", b)).toDF("piece", "id")
      .unionByName(rules.select(
        concat(col("lhs"), col("rhs")).as("piece"),
        (col("rank") + lit(255)).cast("int").as("id")))
      .groupBy(col("piece"))
      .agg(min(col("id")).cast("int").as("token_id"))
  }

  /** GPT-2's `bytes_to_unicode` table (public: openai/gpt-2
    * encoder.py): the 188 "printable" bytes (33–126, 161–172,
    * 174–255) keep their own codepoint; the other 68 (controls,
    * space, DEL, 127–160, 173) shift to 256+n in byte order — which
    * is why a real merges.txt shows `Ġ` (U+0120 = 256+32) for the
    * space byte and `Ċ` for newline. A BIJECTION byte ↔ char, so the
    * hex↔GPT-2 renderings convert losslessly both ways.
    */
  private[graft] val Gpt2Alphabet: Array[String] = {
    val keep = ((33 to 126) ++ (161 to 172) ++ (174 to 255)).toSet
    var n = 0
    (0 until 256).map { b =>
      if (keep(b)) new String(Character.toChars(b))
      else { val c = new String(Character.toChars(256 + n)); n += 1; c }
    }.toArray
  }
  private val gpt2Inverse: Map[Char, String] =
    Gpt2Alphabet.zipWithIndex
      .map { case (c, b) => c.charAt(0) -> f"$b%02X" }.toMap

  private def hexToGpt2(hex: String): String =
    hex.grouped(2).map(h => Gpt2Alphabet(Integer.parseInt(h, 16))).mkString

  /** Export the byte-level merge table as a merges.txt a REAL GPT-2
    * tokenizer loader consumes: each hex symbol rendered through
    * [[Gpt2Alphabet]] (so `é`'s UTF-8 bytes C3 A9 appear as `Ã©`,
    * exactly like the published GPT-2 artifact). The rule table is
    * vocabulary-sized by contract, so the driver-side rendering and
    * the single-file write are bounded (the [[exportArtifacts]]
    * `coalesce(1)` contract).
    */
  def exportMergesGpt2(rules: DataFrame, path: String): Unit = {
    val spark = rules.sparkSession
    val lines = rules.orderBy(col("rank"))
      .select(col("lhs"), col("rhs")).collect()
      .map(r => s"${hexToGpt2(r.getString(0))} ${hexToGpt2(r.getString(1))}")
    import spark.implicits._
    // the published artifact convention leads with a version header;
    // openai/gpt-2's encoder.py drops line 1 UNCONDITIONALLY
    // (split('\n')[1:-1]), so omitting it would silently lose the
    // rank-1 merge in the reference loader
    spark.sparkContext
      .parallelize("#version: 0.2" +: lines.toSeq, 1).toDF("value")
      .write.mode("overwrite").text(s"$path/merges")
  }

  /** Inverse of [[exportMergesGpt2]]: a GPT-2-alphabet merges.txt back
    * to the hex-symbol rule table `(rank, lhs, rhs, merged)` —
    * [[importMerges]]' format/rank contract, plus the per-character
    * alphabet inversion (fails loudly on a character outside the
    * bytes_to_unicode range — not a GPT-2 merges file). A leading
    * `#version:` header line is skipped (the published convention;
    * it must NOT reach the alphabet inversion — every header char is
    * inside `bytes_to_unicode`, so it would silently convert as a
    * bogus rank-1 rule and shift every real rank by one).
    */
  def importMergesGpt2(spark: SparkSession, path: String): DataFrame = {
    val imported = importMerges(spark, path, skipVersionHeader = true)
    val inv = spark.sparkContext.broadcast(gpt2Inverse)
    import spark.implicits._
    imported.select(col("rank"), col("lhs"), col("rhs"))
      .as[(Int, String, String)]
      .map { case (rank, l, r) =>
        val m = inv.value
        def conv(s: String) = s.map(c => m.getOrElse(c,
          throw new IllegalArgumentException(
            f"not a GPT-2 alphabet character: '$c' (U+${c.toInt}%04X)")))
          .mkString
        (rank, conv(l), conv(r))
      }
      .toDF("rank", "lhs", "rhs")
      .withColumn("merged", concat(col("lhs"), col("rhs")))
  }

  // ─────────────── byte-level DuckDB oracle builders ───────────────

  /** Byte-level `w0` + the SHARED merge rounds: segmentation =
    * uppercase hex of the UTF-8 blob split into pairs (verified equal
    * to Spark's hex(encode(...))), guard = non-empty only.
    */
  private def byteRoundsCte(nMerges: Int, trainWhere: String = "",
                            textSql: String = "text"): String = {
    val src =
      if (trainWhere.isEmpty) "FROM documents"
      else s"FROM documents WHERE $trainWhere"
    val w0 =
      s"""w0 AS (
        |  SELECT word,
        |         '<' || array_to_string(regexp_extract_all(hex(encode(word)), '..'), '><')
        |             || '>' AS s, n
        |  FROM (SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        |        FROM (SELECT unnest(string_split($textSql, ' ')) AS word $src)
        |        WHERE word <> '' GROUP BY 1))""".stripMargin
    s"$w0,\n${mergeRounds(nMerges)}"
  }

  /** The `(rank, lhs, rhs, merged, n)` projection over `r1..rN` —
    * shared tail of [[oracleSql]] and [[byteOracleSql]].
    */
  private def rulesSelect(nMerges: Int): String = {
    val union = (1 to nMerges)
      .map(r => s"SELECT $r AS rk, pr, cnt FROM r$r").mkString("\n  UNION ALL ")
    s"""SELECT CAST(rk AS INT) AS rank,
       |       split_part(pr, ' ', 1) AS lhs,
       |       split_part(pr, ' ', 2) AS rhs,
       |       split_part(pr, ' ', 1) || split_part(pr, ' ', 2) AS merged,
       |       CAST(cnt AS BIGINT) AS n
       |FROM ($union)""".stripMargin
  }

  /** The DuckDB replay of [[learnMerges]] over [[Bytes]]. */
  def byteOracleSql(nMerges: Int, trainWhere: String = "",
                    textSql: String = "text"): String =
    s"WITH ${byteRoundsCte(nMerges, trainWhere, textSql)}\n" +
      rulesSelect(nMerges)

  /** Sequential rank-order merge application `e1..eN` over an
    * `e0(word, s)` base — the encode half of both char and byte id
    * chains.
    */
  private def encRoundsCte(nMerges: Int): String =
    (1 to nMerges).map { r =>
      s"""e$r AS (SELECT word, replace(s,
         |          '<' || split_part(pr, ' ', 1) || '><' || split_part(pr, ' ', 2) || '>',
         |          '<' || split_part(pr, ' ', 1) || split_part(pr, ' ', 2) || '>') AS s
         |        FROM e${r - 1}, r$r)""".stripMargin
    }.mkString(",\n")

  /** The DuckDB replay of [[encodeTokenCountsWith]] over [[Bytes]]: train on the
    * `trainWhere` slice, byte-segment the eval stream's distinct
    * words, apply the merges sequentially, aggregate per doc. `n_oov`
    * is the structural 0 — the oracle PREDICTS it; the Spark side's
    * honest vocab-join count must agree.
    */
  def byteEncodeOracleSql(nMerges: Int, trainWhere: String,
                          tokCte: String,
                          textSql: String = "text"): String = {
    val ctes =
      s"""tok AS ($tokCte),
         |tokg AS (SELECT doc_id, word FROM tok WHERE word <> ''),
         |ew AS (SELECT DISTINCT word FROM tokg),
         |e0 AS (SELECT word,
         |              '<' || array_to_string(regexp_extract_all(hex(encode(word)), '..'), '><')
         |                  || '>' AS s
         |       FROM ew),
         |${encRoundsCte(nMerges)},
         |v AS (SELECT word,
         |             CAST(len(string_split(trim(s, '<>'), '><')) AS BIGINT) AS nsym
         |      FROM e$nMerges)""".stripMargin
    val tail =
      """j AS (SELECT t.doc_id, t.word, v.nsym
        |      FROM tokg t JOIN v USING (word))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |       CAST(SUM(strlen(word)) AS BIGINT) AS n_bytes,
        |       CAST(SUM(nsym) AS BIGINT) AS n_bpe,
        |       CAST(0 AS BIGINT) AS n_oov,
        |       ROUND(CAST(SUM(strlen(word)) AS DOUBLE) / SUM(nsym), 4)
        |         AS compression
        |FROM j GROUP BY 1""".stripMargin
    s"WITH ${byteRoundsCte(nMerges, trainWhere, textSql)},\n$ctes,\n$tail"
  }

  /** The byte-level token-id vocabulary CTE `bvoc` (requires
    * `r1..rN`): the fixed 256-byte base + merges at 255 + rank,
    * min-id dedup — the exact [[byteVocab]] construction.
    */
  private def byteVocabCte(nMerges: Int): String = {
    val ranked = (1 to nMerges)
      .map(r => s"SELECT $r AS rk, pr FROM r$r").mkString("\n  UNION ALL ")
    s"""bvoc AS (SELECT piece, CAST(MIN(id) AS INT) AS token_id FROM (
       |  SELECT upper(lpad(to_hex(i), 2, '0')) AS piece, CAST(i AS INT) AS id
       |  FROM range(256) t(i)
       |  UNION ALL
       |  SELECT split_part(pr, ' ', 1) || split_part(pr, ' ', 2) AS piece,
       |         CAST(rk + 255 AS INT) AS id
       |  FROM ($ranked))
       |GROUP BY 1)""".stripMargin
  }

  /** The DuckDB replay of the byte artifact roundtrip: the trained
    * rules (rank order = merges.txt line order) joined with their
    * vocab ids — a drop, reorder, or id drift anywhere in the
    * export/import path flips the row red.
    */
  def byteArtifactsOracleSql(nMerges: Int, trainWhere: String,
                             textSql: String = "text"): String =
    s"WITH ${byteRoundsCte(nMerges, trainWhere, textSql)},\n" +
      s"${byteVocabCte(nMerges)},\nrl AS (\n${rulesSelect(nMerges)}\n)\n" +
      """SELECT rl.rank, rl.lhs, rl.rhs, rl.merged, b.token_id
        |FROM rl JOIN bvoc b ON rl.merged = b.piece""".stripMargin

  /** The DuckDB replay of [[encodeIds]] over [[Bytes]]: per-document economics +
    * the roundtrip prediction — the byte twin of [[idsOracleSql]].
    * `ids_fp = Σ id·pos` over the flat 1-based stream; the space token
    * is id 32 here (byte 0x20), so its positions contribute
    * explicitly: the space before word k (k ≥ 2) sits at flat position
    * `prev + k − 1`. `n_oov` and `roundtrip_ok` are the structural
    * predictions (0 and 1); the Spark side computes both honestly.
    */
  def byteIdsOracleSql(nMerges: Int, trainWhere: String,
                       tokPosCte: String,
                       textSql: String = "text"): String = {
    val ctes =
      s"""tokp AS ($tokPosCte),
         |tokg AS (SELECT doc_id, wpos, word FROM tokp WHERE word <> ''),
         |ew AS (SELECT DISTINCT word FROM tokg),
         |e0 AS (SELECT word,
         |              '<' || array_to_string(regexp_extract_all(hex(encode(word)), '..'), '><')
         |                  || '>' AS s
         |       FROM ew),
         |${encRoundsCte(nMerges)},
         |wp AS (SELECT word, unnest(list_transform(range(1, len(t) + 1),
         |              i -> struct_pack(spos := i, piece := t[i]))) AS u
         |       FROM (SELECT word, string_split(trim(s, '<>'), '><') AS t
         |             FROM e$nMerges)),
         |wps AS (SELECT word, u.spos AS spos, u.piece AS piece FROM wp),
         |wid AS (SELECT word, spos, COALESCE(token_id, -1) AS id
         |        FROM wps LEFT JOIN bvoc USING (piece)),
         |wids AS (SELECT word, list(id ORDER BY spos) AS ids,
         |                CAST(COUNT(*) AS BIGINT) AS nsym
         |         FROM wid GROUP BY 1),
         |ds AS (SELECT t.doc_id, t.wpos, w.ids, w.nsym,
         |              ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY t.wpos) AS k,
         |              COALESCE(SUM(w.nsym) OVER (PARTITION BY t.doc_id ORDER BY t.wpos
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
         |       FROM tokg t JOIN wids w USING (word))""".stripMargin
    val tail =
      """fp AS (SELECT doc_id, nsym,
        |              list_sum(list_transform(range(1, len(ids) + 1),
        |                j -> CAST(ids[j] AS BIGINT) * (prev + k - 1 + j)))
        |              + CASE WHEN k > 1
        |                     THEN 32 * CAST(prev + k - 1 AS BIGINT)
        |                     ELSE 0 END AS contrib
        |       FROM ds)
        |SELECT doc_id,
        |       CAST(SUM(nsym) + COUNT(*) - 1 AS BIGINT) AS n_bpe,
        |       CAST(0 AS BIGINT) AS n_oov,
        |       CAST(SUM(contrib) AS BIGINT) AS ids_fp,
        |       CAST(1 AS INT) AS roundtrip_ok
        |FROM fp GROUP BY 1""".stripMargin
    s"WITH ${byteRoundsCte(nMerges, trainWhere, textSql)},\n" +
      s"${byteVocabCte(nMerges)},\n$ctes,\n$tail"
  }
}
