package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{memoUnit, scratch}
import graft.llm.{Bpe, Packing, TextAnalysis, TokenServe, WordPiece}
import graft.ml.Eval
import graft.queries.Fixtures.t

/** The three tokenizer families (BPE char/byte, WordPiece, Unigram-
  * LM): training, encoding, ids, artifacts and the selection panel,
  * over the shared trained vocabularies.
  */
object TokenizerQueries {
  /** 8-merge BPE training over `documents`, memoized per (JVM, dir)
    * like the near-dup pairs ([[CurationQueries]]): q177 emits the rule
    * table, q179 consumes the trained vocabulary — training runs once, not twice. The
    * (rules, words) pair is ONE memo entry: built together, swept
    * together, self-healing through [[SparkEntry.memoUnit]]'s id check.
    */
  private def bpe8(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    memoUnit(s, dir, "bpe8")(Bpe.trainShared(t(s, dir, "documents"), "text", 8))

  private def bpeMerges(s: SparkSession, dir: String): DataFrame = bpe8(s, dir)._1

  private def bpeWords(s: SparkSession, dir: String): DataFrame = bpe8(s, dir)._2

  /** 8-merge BPE training restricted to the `doc_id % 4 = 0` SLICE of
    * `documents` — the training half of the q191 cross-corpus encode
    * gate (the encoder scores the DISJOINT complement, glued into
    * words the training never saw). Memoized like [[bpe8]].
    */
  private def bpe8slice(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    memoUnit(s, dir, "bpe8slice")(Bpe.trainShared(
      t(s, dir, "documents").filter(pmod(col("doc_id"), lit(4)) === 0),
      "text", 8))

  private def bpeSliceMerges(s: SparkSession, dir: String): DataFrame =
    bpe8slice(s, dir)._1

  private def bpeSliceWords(s: SparkSession, dir: String): DataFrame =
    bpe8slice(s, dir)._2

  /** The byte-level BPE fixture: `documents` with a per-doc UNICODE
    * tail word (cycled by doc_id mod 8 — accents, CJK, emoji, Cyrillic,
    * Greek). The doc_id % 4 = 0 training slice sees only tail classes
    * {0, 4}; the eval complement carries six tail words whose
    * CHARACTERS training never saw — the case where the char-level
    * stack marks −1 OOV and the byte alphabet must still encode with
    * n_oov structurally 0. Both engines build the fixture from the
    * same expression ([[duckUniText]]).
    */
  private val uniWords = Seq("héllo", "wörld", "東京🚀", "naïve",
    "русский", "ελληνικά", "中文词", "☃️❄")

  private def unicodeDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"), lit(" "),
        element_at(array(uniWords.map(lit): _*),
          (pmod(col("doc_id"), lit(8)) + 1).cast("int"))).as("text"))

  /** The oracle-side fixture expression builds each unicode word from
    * its UTF-8 HEX (`decode(from_hex(...))`) rather than a literal:
    * oracle_sql.json stays pure ASCII — immune to any locale/charset
    * seam between the JVM, the JSON file, and the oracle engine — and
    * byte equality with the Spark literals is by construction (the hex
    * IS `getBytes(UTF_8)`).
    */
  private val duckUniText: String =
    "text || ' ' || ([" +
      uniWords.map { w =>
        val hex = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .map(b => f"${b & 0xff}%02X").mkString
        s"decode(from_hex('$hex'))"
      }.mkString(",") +
      "])[CAST(doc_id % 8 AS INT) + 1]"

  /** Eval token stream of the unicode fixture's doc_id % 4 ≠ 0
    * complement, and its positioned variant for the ids oracle.
    */
  private val uniTokCte: String =
    s"SELECT doc_id, unnest(string_split($duckUniText, ' ')) AS word " +
      "FROM documents WHERE doc_id % 4 <> 0"

  private val uniTokPosCte: String =
    "SELECT doc_id, u.i AS wpos, u.w AS word " +
      "FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1), " +
      "i -> struct_pack(i := i, w := t[i]))) AS u " +
      s"FROM (SELECT doc_id, string_split($duckUniText, ' ') AS t " +
      "FROM documents WHERE doc_id % 4 <> 0))"

  /** 8-merge BYTE-level BPE training over the unicode fixture's
    * doc_id % 4 = 0 slice — memoized like [[bpe8slice]]; consumers
    * read only the rules, the words frame is the `_shared` line.
    */
  private def bpeBytes8(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    memoUnit(s, dir, "bpebytes8")(Bpe.trainShared(
      unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) === 0),
      "text", 8, alphabet = Bpe.Bytes))

  private def bpeBytesMerges(s: SparkSession, dir: String): DataFrame =
    bpeBytes8(s, dir)._1

  private def bpeBytesWords(s: SparkSession, dir: String): DataFrame =
    bpeBytes8(s, dir)._2

  /** 8-merge WORDPIECE training over the unicode fixture's
    * doc_id % 4 = 0 slice — the BERT-family twin of [[bpeBytes8]],
    * trained on the same slice so q224/q225's UNK face contrasts
    * byte-BPE's structural-zero OOV on the identical eval complement.
    */
  private def wp8(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    memoUnit(s, dir, "wp8")(WordPiece.trainShared(
      unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) === 0),
      "text", 8))

  private def wpMerges(s: SparkSession, dir: String): DataFrame = wp8(s, dir)._1

  private def wpWords(s: SparkSession, dir: String): DataFrame = wp8(s, dir)._2

  /** The UNIGRAM-LM (SentencePiece) model over the unicode fixture's
    * doc_id % 4 = 0 slice — the THIRD tokenizer family, trained on the
    * same slice as wp8/bpebytes8 so the q231/q232 OOV face contrasts
    * all three on the identical eval complement. The model frame is a
    * driver-built vocabulary-sized table (no persisted RDDs), so the
    * memo never goes stale across sweeps.
    */
  private val UniSeedMulti = 64

  private val UniKeepMulti = 32

  private def unigramModel(s: SparkSession, dir: String): DataFrame =
    memoUnit(s, dir, "unigram") {
      graft.llm.Unigram.train(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) === 0),
        "text", seedMulti = UniSeedMulti, keepMulti = UniKeepMulti,
        emIters = 2)
    }

  /** The WordPiece EVAL corpus (q224/q225): the unicode fixture's
    * doc_id % 4 ≠ 0 complement, with the %8=3 class carrying an extra
    * 40-char degenerate token of TRAINING-SEEN characters — greedy
    * matching would happily segment it, so only the
    * `max_input_chars_per_word` bound (pinned at the oracle unroll
    * depth, 32) turns it into the contractual single [UNK]. Training
    * (%4 = 0) never sees it, so the memoized wp8 rules are unchanged.
    */
  private val wpLongWord = "a" * 40

  private def wpEvalDocs(s: SparkSession, dir: String): DataFrame =
    unicodeDocs(s, dir)
      .filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .withColumn("text", when(pmod(col("doc_id"), lit(8)) === 3,
        concat(col("text"), lit(" " + wpLongWord))).otherwise(col("text")))

  private val uniLongTokCte: String =
    s"SELECT doc_id, unnest(string_split(CASE WHEN doc_id % 8 = 3 " +
      s"THEN $duckUniText || ' ${"a" * 40}' ELSE $duckUniText END, ' ')) " +
      "AS word FROM documents WHERE doc_id % 4 <> 0"

  /** The PLAIN eval word stream with positions (q228's ids oracle:
    * the roundtrip gate wants docs that CAN roundtrip, so no unicode
    * tail here — the UNK face is q224/q225's job).
    */
  private val plainTokPosCte: String =
    "SELECT doc_id, u.i AS wpos, u.w AS word " +
      "FROM (SELECT doc_id, unnest(list_transform(range(1, len(t) + 1), " +
      "i -> struct_pack(i := i, w := t[i]))) AS u " +
      "FROM (SELECT doc_id, string_split(text, ' ') AS t " +
      "FROM documents WHERE doc_id % 4 <> 0))"

  /** The plain eval complement of the doc_id % 4 = 0 training slice. */
  private def plainEvalDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .select(col("doc_id"), col("text"))

  /** The q191/q194 EVAL corpus: the doc_id%4≠0 complement of the
    * training slice with adjacent token pairs GLUED into single words
    * the training never saw (seen sub-words, unseen words — the case
    * that separates true merge application from char-count fallback).
    * Odd trailing tokens are dropped; docs with <2 tokens emit
    * nothing (both mirrored by the oracle's tokCte).
    */
  private def gluedEvalDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(4)) =!= 0)
      .withColumn("_t", expr("filter(split(text, ' '), x -> x <> '')"))
      .select(col("doc_id"), concat_ws(" ",
        when(size(col("_t")) >= 2, expr(
          "transform(sequence(1, size(_t) div 2), " +
            "i -> concat(element_at(_t, CAST(2*i-1 AS INT)), " +
            "element_at(_t, CAST(2*i AS INT))))"))
          .otherwise(array().cast("array<string>"))).as("text"))

  /** The q215 pretokenizer as a DuckDB expression — the exact 4-pass
    * regexp chain of [[graft.llm.TextAnalysis.preTokenize]] in RE2
    * dialect (`\0` = whole match; `'g'` because DuckDB replaces only
    * the first match by default while Spark is always global).
    */
  private def duckPretokOf(textExpr: String): String =
    s"""trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace($textExpr,
      | '[A-Za-z]+', ' \\0 ', 'g'), '[0-9]+', ' \\0 ', 'g'),
      | '[^A-Za-z0-9 ]+', ' \\0 ', 'g'), ' +', ' ', 'g'))""".stripMargin

  private val duckPretok: String = duckPretokOf("text")

  /** The oracle replay of [[gluedEvalDocs]]' token stream. */
  private val gluedTokCte: String =
    "SELECT doc_id, unnest(g) AS word " +
      "FROM (SELECT doc_id, list_transform(range(1, len(t)//2 + 1), " +
      "i -> t[2*i-1] || t[2*i]) AS g " +
      "FROM (SELECT doc_id, [x FOR x IN string_split(text, ' ') IF x <> ''] AS t " +
      "FROM documents WHERE doc_id % 4 <> 0))"

  /** [[gluedTokCte]] with word positions (the q202 ids oracle needs
    * the ORDER of the word stream, not just its bag).
    */
  private val gluedTokPosCte: String =
    "SELECT doc_id, u.i AS wpos, u.w AS word " +
      "FROM (SELECT doc_id, unnest(list_transform(range(1, len(g) + 1), " +
      "i -> struct_pack(i := i, w := g[i]))) AS u " +
      "FROM (SELECT doc_id, list_transform(range(1, len(t)//2 + 1), " +
      "i -> t[2*i-1] || t[2*i]) AS g " +
      "FROM (SELECT doc_id, [x FOR x IN string_split(text, ' ') IF x <> ''] AS t " +
      "FROM documents WHERE doc_id % 4 <> 0)))"

  /** The ids artifact row: the encoder's two count columns, the
    * position-weighted id fingerprint, and whether decode(encode(d))
    * equals the doc's guarded words in order (the honest roundtrip).
    */
  private def idsRow(docs: DataFrame, enc: DataFrame, dec: DataFrame,
                     face: TokenServe.Face): DataFrame = {
    val expected =
      TokenServe.positionedWords(docs, "doc_id", "text", face.guard)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("_wpos"), col("word"))))
        .as("_ws"))
      .select(col("doc_id"),
        expr("array_join(transform(_ws, x -> x.word), ' ')").as("_exp"))
    enc.join(dec, Seq("doc_id")).join(expected, Seq("doc_id"))
      .select(col("doc_id"), col(face.nTok), col(face.nUnk),
        expr("aggregate(transform(ids, (x, i) -> CAST(x AS BIGINT) * (i + 1)), " +
          "CAST(0 AS BIGINT), (a, y) -> a + y)").as("ids_fp"),
        (col("text_decoded") === col("_exp")).cast("int")
          .as("roundtrip_ok"))
  }

  /** Each trained vocabulary as its own bench line: the words frame
    * of a (rules, words) pair, the unigram model frame.
    */
  val Bpe8 = Shared("_shared:bpe8", bpeWords)
  val Bpe8Slice = Shared("_shared:bpe8slice", bpeSliceWords)
  val BpeBytes8 = Shared("_shared:bpebytes8", bpeBytesWords)
  val Wp8 = Shared("_shared:wp8", wpWords)
  val UnigramModel = Shared("_shared:unigram", unigramModel)

  val all: Seq[Query] = Seq(
    // --- BPE merge learning (Sennrich et al.): 8 merge rounds over
    //     the corpus word-frequency table — one corpus pass, then
    //     vocabulary-sized rounds; argmax ties break on the pair
    //     string so the merge table is a pure function of the corpus ---
    Query("q177_bpe_merges", (s, dir) => bpeMerges(s, dir),
      shared = Seq(Bpe8),
      // mechanically generated 8-round CTE chain in lockstep with the
      // Scala training loop (see Bpe.oracleSql)
      oracle = Some(Bpe.oracleSql(8))),

    // --- BPE tokenization under the freshly-trained 8-merge vocab:
    //     per-doc word/char/symbol counts + compression ratio; the
    //     per-word symbol count is vocabulary-sized, the corpus word
    //     stream equi-joins it ---
    Query("q179_bpe_tokenize", (s, dir) =>
      Bpe.tokenCountsWith(t(s, dir, "documents"), "doc_id", "text",
        bpeWords(s, dir)),
      shared = Seq(Bpe8),
      oracle = Some(Bpe.tokenizeOracleSql(8))),

    // --- TRUE BPE encoding of unseen text (the production tokenizer
    //     serve face): train on the doc_id%4=0 slice, then ENCODE the
    //     disjoint complement with adjacent token pairs GLUED into
    //     words the training never saw — the greedy merge application
    //     segments them into learned sub-words (vs q179's char-count
    //     OOV fallback), so n_oov collapses to truly-unseen CHARACTERS
    //     (zero here) and n_bpe reflects real token economics ---
    Query("q191_bpe_encode", (s, dir) =>
      Bpe.encodeTokenCountsWith(gluedEvalDocs(s, dir), "doc_id", "text",
        bpeSliceMerges(s, dir), bpeSliceWords(s, dir)),
      shared = Seq(Bpe8Slice),
      // cross-corpus encode: train on the doc_id%4=0 slice, apply the 8
      // merges sequentially to the glued-pair word table of the
      // complement (see Bpe.encodeLen for why sequential rank-order
      // replay == the engine's min-rank-first loop)
      oracle = Some(Bpe.encodeOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokCte = gluedTokCte))),

    // --- the tokenizer's ACTUAL serve output: the per-distinct-word
    //     segmentation table over the same never-seen glued corpus —
    //     `segmented` is the bracketed sub-word sequence ("<s><low>"),
    //     pinned symbol-for-symbol against the oracle's sequential
    //     merge replay ---
    Query("q194_bpe_segment", (s, dir) =>
      Bpe.encodeSegments(gluedEvalDocs(s, dir), "text",
        bpeSliceMerges(s, dir), bpeSliceWords(s, dir)),
      shared = Seq(Bpe8Slice),
      // the segmentation table: the oracle's final eN.s column IS the
      // engine's bracketed segmentation, compared symbol for symbol
      oracle = Some(Bpe.segmentOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokCte = gluedTokCte))),

    // --- pack context windows by TRUE BPE token counts (the real SFT
    //     packing flow): per-doc n_bpe from the cross-corpus encoder
    //     feeds the no-straddle length-class packer — windows budgeted
    //     in tokenizer tokens, not whitespace words; over-long docs
    //     flagged -1 for chunking ---
    Query("q195_bpe_pack", (s, dir) => {
      val counts = Bpe.encodeTokenCountsWith(gluedEvalDocs(s, dir),
          "doc_id", "text", bpeSliceMerges(s, dir), bpeSliceWords(s, dir))
        .select(col("doc_id"), col("n_bpe"))
      val langs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      Packing.bucketPackCounted(counts.join(langs, "doc_id"), "doc_id",
        "n_bpe", "lang", contextLen = 256, saltBlocks = 4)
    },
      shared = Seq(Bpe8Slice),
      // the q191 per-doc token economics nested as a CTE, then the q188
      // pack chain with n_tok = the encoder's n_bpe and ctx 256
      oracle = Some({
      val perDoc = Bpe.encodeOracleSql(8,
        trainWhere = "doc_id % 4 = 0", tokCte = gluedTokCte)
      // stripMargin ONLY the literal tail: perDoc is already stripped
      // and contains line-leading `||` continuations that a second
      // stripMargin would corrupt (the documented Bpe.oracleSql footgun)
      val tail =
        """base AS (
         |  SELECT c.doc_id, d.lang, CAST(c.n_bpe AS INT) AS n_tok,
         |         CAST(CAST(concat('0x', substring(md5(CAST(c.doc_id AS VARCHAR)), 1, 8))
         |                   AS BIGINT) % 4 AS INT) AS block
         |  FROM counts c JOIN documents d USING (doc_id)),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, n_tok, block
         |                               ORDER BY doc_id) AS rn,
         |         CAST(FLOOR(256.0 / n_tok) AS BIGINT) AS cap
         |  FROM base)
         |SELECT doc_id, lang, n_tok, block,
         |       CAST(CASE WHEN n_tok > 256 THEN -1
         |                 ELSE CAST(FLOOR((rn - 1) / cap) AS BIGINT) END AS BIGINT) AS pack_seq,
         |       CAST(CASE WHEN n_tok > 256 THEN -1 ELSE (rn - 1) % cap END AS INT) AS slot
         |FROM r""".stripMargin
      s"WITH counts AS ($perDoc),\n$tail"
    })),

    // --- the trained tokenizer's token-id table (piece ↔ id
    //     bijection: space at 0, alphabet in binary order, merges in
    //     rank order) — the FULL table hash-compared against the
    //     SQL-replayed vocabulary ---
    Query("q201_bpe_vocab", (s, dir) =>
      Bpe.pieceVocab(bpeSliceMerges(s, dir), bpeSliceWords(s, dir)),
      shared = Seq(Bpe8Slice),
      // the full piece↔id table replayed from the training slice alone
      oracle = Some(Bpe.vocabOracleSql(8, trainWhere = "doc_id % 4 = 0"))),

    // --- the pretraining artifact: per-doc flat token-ID sequences
    //     over the never-seen glued corpus, with id 0 whitespace
    //     tokens and -1 OOV markers; the output row carries the
    //     position-weighted id fingerprint (order-sensitive — any id,
    //     order, or interleave divergence moves it) and an HONEST
    //     decode-roundtrip flag computed from decodeIds, which the
    //     oracle predicts as n_oov = 0 ---
    Query("q202_bpe_ids", (s, dir) => {
      val docs = gluedEvalDocs(s, dir)
      val rules = bpeSliceMerges(s, dir)
      val words = bpeSliceWords(s, dir)
      // materialize once: the encode chain feeds BOTH the fingerprint
      // and the decode round trip (the q169 double-execution lesson)
      val enc = Bpe.encodeIds(docs, "doc_id", "text", rules, words)
        .localCheckpoint()
      val dec = Bpe.decodeIds(enc, "doc_id", "ids", rules, words)
      idsRow(docs, enc, dec, Bpe.Chars.face)
    },
      shared = Seq(Bpe8Slice),
      // per-doc token-id economics + position-weighted fingerprint over
      // the glued eval corpus; roundtrip predicted as n_oov = 0 (the
      // Spark side computes it honestly via decodeIds)
      oracle = Some(Bpe.idsOracleSql(8, trainWhere = "doc_id % 4 = 0",
      tokPosCte = gluedTokPosCte))),

    // --- the pipeline's FINAL artifact: packed context windows
    //     MATERIALIZED as token-id streams (encodeIds → bucketPack →
    //     one row per window, docs in slot order, -2 boundary
    //     markers); the position-weighted window fingerprint pins id
    //     content AND order against the fully-nested SQL replay ---
    Query("q206_pack_materialize", (s, dir) => {
      val docs = gluedEvalDocs(s, dir)
      val rules = bpeSliceMerges(s, dir)
      val words = bpeSliceWords(s, dir)
      val enc = Bpe.encodeIds(docs, "doc_id", "text", rules, words)
        .localCheckpoint()
      val langs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val packs = Packing.bucketPackCounted(
        enc.select(col("doc_id"), col("n_bpe")).join(langs, Seq("doc_id")),
        "doc_id", "n_bpe", "lang", contextLen = 256, saltBlocks = 4)
      Packing.materializeWindows(packs, enc, "doc_id", "ids", "lang")
        .select(col("lang"), col("n_tok"), col("block"), col("pack_seq"),
          col("n_docs"), col("n_ids"),
          expr("aggregate(transform(ids, (x, i) -> CAST(x AS BIGINT) * (i + 1)), " +
            "CAST(0 AS BIGINT), (a, y) -> a + y)").as("win_fp"))
    },
      shared = Seq(Bpe8Slice),
      // the per-doc flat id stream nested as a CTE, the q195 pack chain
      // over its length, then per-window list assembly in slot order —
      // the deepest composition oracle in the suite (train → encode →
      // ids → pack → materialize, replayed end to end)
      oracle = Some({
      val docIds = Bpe.docIdsSelect(8, trainWhere = "doc_id % 4 = 0",
        tokPosCte = gluedTokPosCte)
      val tail =
        """base AS (
         |  SELECT di.doc_id, d.lang, CAST(di.n_bpe AS INT) AS n_tok, di.dids,
         |         CAST(CAST(concat('0x', substring(md5(CAST(di.doc_id AS VARCHAR)), 1, 8))
         |                   AS BIGINT) % 4 AS INT) AS block
         |  FROM di JOIN documents d USING (doc_id)),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, n_tok, block
         |                               ORDER BY doc_id) AS rn,
         |         CAST(FLOOR(256.0 / n_tok) AS BIGINT) AS cap
         |  FROM base
         |  WHERE n_tok <= 256),
         |p AS (SELECT lang, n_tok, block,
         |             CAST(FLOOR((rn - 1) / cap) AS BIGINT) AS pack_seq,
         |             CAST((rn - 1) % cap AS INT) AS slot, dids
         |      FROM r),
         |w AS (SELECT lang, n_tok, block, pack_seq,
         |             CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             flatten(list(CASE WHEN slot = 0 THEN dids
         |                               ELSE list_prepend(-2, dids) END ORDER BY slot)) AS wids
         |      FROM p GROUP BY 1, 2, 3, 4)
         |SELECT lang, n_tok, block, pack_seq, n_docs,
         |       CAST(len(wids) AS INT) AS n_ids,
         |       CAST(list_sum(list_transform(range(1, len(wids) + 1),
         |            j -> CAST(wids[j] AS BIGINT) * j)) AS BIGINT) AS win_fp
         |FROM w""".stripMargin
      s"WITH di AS ($docIds),\n$tail"
    })),

    // --- tokenizer artifact export/import roundtrip: the trained
    //     merge table through the GPT-2 merges.txt shape (line order
    //     IS the rank) and back — the interop face a serving stack
    //     consumes; oracle = the q177 training replay, so a drop or
    //     reorder anywhere in the roundtrip flips the row red ---
    Query("q214_bpe_artifacts", (s, dir) => {
      val path = scratch("bpeart", dir)
      Bpe.exportArtifacts(bpeMerges(s, dir), bpeWords(s, dir), path)
      Bpe.importMerges(s, path)
    },
      shared = Seq(Bpe8),
      // the q177 training replay minus the count column (merges.txt
      // carries no counts) — the roundtrip must reproduce it verbatim
      oracle = Some(s"SELECT rank, lhs, rhs, merged FROM (\n${Bpe.oracleSql(8)}\n) t")),

    // --- production-style pretokenization (simplified GPT-2 shape):
    //     letter/digit/punct runs become space-separated tokens, the
    //     word stream a real tokenizer trains on ---
    Query("q215_pretokenize", (s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.preTokenize(col("text")).as("text")),
      // the same 4-pass regexp chain, RE2 dialect (\0 = whole match, 'g'
      // = global — Spark's regexp_replace is always global)
      oracle = Some(s"""SELECT doc_id, $duckPretok AS text FROM documents""")),

    // --- the BPE trainer over the PRETOKENIZED corpus — the whole
    //     training stack composes with q215's rewrite (punctuation no
    //     longer glued onto word types), replayed end to end in SQL
    //     by swapping the oracle's text source expression ---
    Query("q216_bpe_pretok", (s, dir) =>
      Bpe.learnMerges(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.preTokenize(col("text")).as("text")),
        "text", nMerges = 8),
      // q177's training replay with the text SOURCE swapped for the
      // pretokenized expression — the full 8-round CTE chain unchanged
      oracle = Some(Bpe.oracleSql(8, textSql = duckPretok))),

    // --- BYTE-level BPE training (the production GPT-2/Llama shape):
    //     base alphabet = the 256 UTF-8 bytes as hex symbols, learned
    //     over the unicode fixture's training slice — accents, CJK and
    //     emoji are just bytes; the same SQL merge chain replays it
    //     rank by rank over hex(encode(word)) ---
    Query("q218_bpe_bytes_train", (s, dir) => bpeBytesMerges(s, dir),
      shared = Seq(BpeBytes8),
      // byte-level training replay over the unicode fixture's slice:
      // the SAME merge-round chain, w0 segmented by hex(encode(word))
      oracle = Some(Bpe.byteOracleSql(8,
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText))),

    // --- byte-level encoding of the NEVER-SEEN unicode complement:
    //     six of the eight tail words carry characters the training
    //     slice never contained, and n_oov must still be the
    //     STRUCTURAL 0 the byte alphabet guarantees (the char-level
    //     stack marks such words OOV — this is the gap byte-level
    //     closes; the PinSpec twin asserts the 0 directly) ---
    Query("q219_bpe_bytes_encode", (s, dir) =>
      Bpe.encodeTokenCountsWith(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "doc_id", "text", bpeBytesMerges(s, dir), bpeBytesWords(s, dir),
        Bpe.Bytes),
      shared = Seq(BpeBytes8),
      // byte-encode the never-seen unicode complement; n_oov is the
      // structural 0 the byte alphabet guarantees (predicted here,
      // computed honestly on the Spark side)
      oracle = Some(Bpe.byteEncodeOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokCte = uniTokCte,
      textSql = duckUniText))),

    // --- byte-level token ids + HONEST decode roundtrip on unicode:
    //     flat id streams with the space BYTE (id 32) interleaved,
    //     position-weighted id fingerprint, decode(encode(d)) compared
    //     byte-exactly against the clean word stream — emoji included.
    //     The oracle PREDICTS n_oov = 0 / roundtrip_ok = 1; the Spark
    //     side computes both honestly (vocab-join nulls, real decode) ---
    Query("q220_bpe_bytes_ids", (s, dir) => {
      val docs = unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val rules = bpeBytesMerges(s, dir)
      val words = bpeBytesWords(s, dir)
      val enc = Bpe.encodeIds(docs, "doc_id", "text", rules, words, Bpe.Bytes)
        .localCheckpoint()
      val dec = Bpe.decodeIds(enc, "doc_id", "ids", rules, words, Bpe.Bytes)
      idsRow(docs, enc, dec, Bpe.Bytes.face)
    },
      shared = Seq(BpeBytes8),
      // per-doc byte token-id economics + position-weighted fingerprint
      // (space byte id 32 contributes explicitly) + the structural
      // roundtrip prediction
      oracle = Some(Bpe.byteIdsOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokPosCte = uniTokPosCte,
      textSql = duckUniText))),

    // --- byte-level artifact interop: merges.txt (GPT-2 line shape —
    //     hex symbols are still space-free) + the fixed-256-base vocab
    //     parquet through disk and back, rejoined so a drop, reorder,
    //     or id drift anywhere in the roundtrip flips the row red ---
    Query("q221_bpe_bytes_artifacts", (s, dir) => {
      val path = scratch("bpebart", dir)
      Bpe.exportArtifacts(bpeBytesMerges(s, dir), bpeBytesWords(s, dir),
        path, Bpe.Bytes)
      Bpe.importMerges(s, path)
        .join(s.read.parquet(s"$path/vocab"),
          col("merged") === col("piece"))
        .select(col("rank"), col("lhs"), col("rhs"), col("merged"),
          col("token_id"))
    },
      shared = Seq(BpeBytes8),
      // the q218 replay joined with the 256-base vocab ids — what the
      // disk roundtrip must reproduce verbatim
      oracle = Some(Bpe.byteArtifactsOracleSql(8,
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText))),

    // --- TRUE GPT-2 merges.txt interop: the byte-level rules rendered
    //     through the bytes_to_unicode alphabet (space byte → Ġ, é's
    //     UTF-8 bytes → Ã© — the published artifact's exact look), a
    //     file a real GPT-2 loader consumes; imported back through the
    //     inverse bijection, the roundtrip must reproduce the q218
    //     training replay verbatim ---
    Query("q222_bpe_gpt2_interop", (s, dir) => {
      val path = scratch("bpegpt2", dir)
      Bpe.exportMergesGpt2(bpeBytesMerges(s, dir), path)
      Bpe.importMergesGpt2(s, path)
    },
      shared = Seq(BpeBytes8),
      // the q218 replay minus counts — the GPT-2-alphabet render +
      // inverse is a bijection, so the disk roundtrip is the identity
      // on the hex rule table
      oracle = Some(("SELECT rank, lhs, rhs, merged FROM (\n" +
      Bpe.byteOracleSql(8, trainWhere = "doc_id % 4 = 0",
        textSql = duckUniText) + "\n) t"))),

    // --- the byte stack composes with X138 pretokenization on raw
    //     unicode: letter/digit runs become clean word types while
    //     CJK/emoji/accented runs isolate as punct-class tokens, and
    //     the byte trainer learns over BOTH without an OOV case —
    //     replayed end to end by swapping the oracle's text source
    //     for pretokenize(unicode fixture) ---
    Query("q226_bpe_bytes_pretok", (s, dir) =>
      Bpe.learnMerges(
        unicodeDocs(s, dir).select(col("doc_id"),
          TextAnalysis.preTokenize(col("text")).as("text")),
        "text", nMerges = 8, alphabet = Bpe.Bytes),
      // the byte training replay with the text source swapped for the
      // pretokenized unicode fixture (q216's swap discipline, byte face)
      oracle = Some(Bpe.byteOracleSql(8,
      textSql = duckPretokOf(duckUniText)))),

    // --- WORDPIECE training (the BERT tokenizer family): merges
    //     picked by the LIKELIHOOD score count(l,r)/(count(l)·count(r))
    //     — cohesion, not raw frequency — over position-aware symbols
    //     (first piece bare, continuations ##-prefixed); replayed
    //     round by round in SQL with the same replace chain and a
    //     score argmax over exact integer counts ---
    Query("q223_wordpiece_train", (s, dir) => wpMerges(s, dir),
      shared = Seq(Wp8),
      // WordPiece training replay: position-aware w0, per-round pair +
      // symbol counts, the likelihood-score argmax, same replace chain
      oracle = Some(WordPiece.oracleSql(8,
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText))),

    // --- greedy longest-match-first segmentation under the trained
    //     vocabulary (the WordPiece SERVE face — not merge replay):
    //     per-distinct-word piece table; a word with an unmatchable
    //     remainder becomes ONE [UNK] — the unicode tail words the
    //     training slice never saw, i.e. exactly where byte-BPE's
    //     q219 stays at n_oov = 0, this face must say [UNK] ---
    //     ... plus the max_input_chars_per_word contract: the %8=3
    //     eval class carries a 40-char degenerate token (seen chars,
    //     so it WOULD greedy-segment) that the bound must pre-kill to
    //     ONE [UNK] — the HuggingFace semantics for URL/id-shaped
    //     words, here pinned at the oracle's unroll depth ---
    Query("q224_wordpiece_segment", (s, dir) =>
      WordPiece.encodeSegments(
        wpEvalDocs(s, dir),
        "text", wpMerges(s, dir), wpWords(s, dir),
        maxInputCharsPerWord = WordPiece.OracleMaxWordLen),
      shared = Seq(Wp8),
      // greedy longest-match per distinct eval word via an unrolled
      // LATERAL longest-prefix chain; dead-end words AND words past the
      // max_input_chars_per_word bound (the %8=3 40-char token) → [UNK]
      oracle = Some(WordPiece.segmentsOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokCte = uniLongTokCte,
      textSql = duckUniText))),

    // --- per-document WordPiece economics with the honest UNK tally
    //     (the closed-vocabulary loss a corpus report must surface) ---
    Query("q225_wordpiece_counts", (s, dir) =>
      WordPiece.tokenCounts(
        wpEvalDocs(s, dir),
        "doc_id", "text", wpMerges(s, dir), wpWords(s, dir),
        maxInputCharsPerWord = WordPiece.OracleMaxWordLen),
      shared = Seq(Wp8),
      // the per-doc aggregation over the same segmentation chain
      oracle = Some(WordPiece.tokenCountsOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokCte = uniLongTokCte,
      textSql = duckUniText))),

    // --- the WordPiece token-id table (X143), THROUGH the BERT
    //     artifact: pieceVocab → vocab.txt (one piece per line, line
    //     order = id, specials [PAD][UNK][CLS][SEP][MASK] at 0..4) →
    //     import — the FULL piece↔id bijection hash-compared against
    //     the SQL-replayed construction, so export→import identity
    //     and the id assignment are one oracled gate ---
    Query("q227_wordpiece_vocab", (s, dir) => {
      val path = scratch("wpvocab", dir)
      WordPiece.exportVocabTxt(wpMerges(s, dir), wpWords(s, dir), path)
      WordPiece.importVocabTxt(s, path)
    },
      shared = Seq(Wp8),
      // the WordPiece piece↔id table replay: specials at 0..4, the
      // position-aware alphabet in UTF-8 binary order, merges at rank
      // offset, min-id dedup — hash equality THROUGH the vocab.txt
      // export→import also proves the artifact roundtrip identity
      oracle = Some(WordPiece.vocabOracleSql(8,
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText))),

    // --- the BERT-style pretraining artifact: per-doc flat token-id
    //     sequences over the PLAIN eval complement (no whitespace
    //     tokens — word boundaries live in the bare-vs-## split),
    //     [UNK]'s id 1 for dead words; the output row carries the
    //     position-weighted id fingerprint (order-sensitive) and an
    //     HONEST decode-roundtrip flag from decodeIds, which the
    //     oracle predicts as n_unk = 0 ---
    Query("q228_wordpiece_ids", (s, dir) => {
      val docs = plainEvalDocs(s, dir)
      val rules = wpMerges(s, dir)
      val words = wpWords(s, dir)
      val enc = WordPiece.encodeIds(docs, "doc_id", "text", rules, words,
          maxInputCharsPerWord = WordPiece.OracleMaxWordLen)
        .localCheckpoint()
      val dec = WordPiece.decodeIds(enc, "doc_id", "ids", rules, words)
      idsRow(docs, enc, dec, WordPiece.face)
    },
      shared = Seq(Wp8),
      // per-doc flat id economics: the greedy segmentation chain feeds
      // the id table; fingerprint is position-weighted over the flat
      // stream (no whitespace tokens), roundtrip predicted as n_unk = 0
      oracle = Some(WordPiece.idsOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokPosCte = plainTokPosCte,
      textSql = duckUniText))),

    // --- UNIGRAM-LM seed vocabulary (X144, SentencePiece family):
    //     overlapping substring counts scored freq·length, every
    //     single char kept (coverage floor), top-K multi-char by
    //     (score, UTF-8 piece order), quantized initial probabilities
    //     q = score·1e9 ÷ Σscore in exact integer division ---
    Query("q229_unigram_seed", (s, dir) =>
      graft.llm.Unigram.seedModel(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) === 0),
        "text", seedMulti = UniSeedMulti),
      // Unigram seed replay: substring enumeration per position,
      // freq·length scores, chars + ranked multi, HUGEINT normalization
      oracle = Some(graft.llm.Unigram.seedOracleSql(
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText,
      seedMulti = UniSeedMulti))),

    // --- the EM-trained unigram model: 2 rounds of per-word
    //     forward-backward expected counts (floats ONLY inside the
    //     fixed-order per-word DP; every cross-word boundary is exact
    //     integers — see Unigram.scala's bit-replayability note),
    //     pruned to chars + top-32 multi by expected count — the full
    //     lattice-EM replayed CTE for CTE in the oracle ---
    Query("q230_unigram_train", (s, dir) => unigramModel(s, dir),
      shared = Seq(UnigramModel),
      // the lattice-EM replay: per-iteration occurrence table, unrolled
      // α (absolute position) and β (distance-from-end) forward-backward
      // levels with the engine's exact float expression order, integer
      // unit contributions, HUGEINT renormalization, count-ranked prune
      oracle = Some(graft.llm.Unigram.trainOracleSql(
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2))),

    // --- Viterbi serving (the SentencePiece serve face — the single
    //     most-probable segmentation, not greedy longest-match): the
    //     third family's answer on the SAME unicode eval words where
    //     byte-BPE stays n_oov = 0 (q219) and WordPiece says [UNK]
    //     (q224) — a closed char vocabulary UNKs the unseen-script
    //     tails, pinned against the integer-cost DP replay ---
    Query("q231_unigram_segment", (s, dir) =>
      graft.llm.Unigram.viterbiSegments(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "text", unigramModel(s, dir)),
      shared = Seq(UnigramModel),
      // Viterbi replay: integer costs floor(−ln(p)·1e6+0.5), unrolled
      // min-DP with the (cost, pieces, UTF-8 seq) tie-break, [UNK] for
      // path-less and over-length words
      oracle = Some(graft.llm.Unigram.segmentsOracleSql(
      trainWhere = "doc_id % 4 = 0", tokCte = uniTokCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2))),

    // --- per-document Unigram economics with the honest UNK tally ---
    Query("q232_unigram_counts", (s, dir) =>
      graft.llm.Unigram.tokenCounts(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "doc_id", "text", unigramModel(s, dir)),
      shared = Seq(UnigramModel),
      // the per-doc aggregation over the same Viterbi chain
      oracle = Some(graft.llm.Unigram.countsOracleSql(
      trainWhere = "doc_id % 4 = 0", tokCte = uniTokCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2))),

    // --- the Unigram token-id table (X145), THROUGH the SentencePiece
    //     .vocab-shaped artifact: [UNK]/space reserved at 0/1, pieces
    //     in (q desc, UTF-8) order, one piece<TAB>q line per id —
    //     export → import → full-table hash compare, so artifact
    //     roundtrip identity and id assignment are one oracled gate ---
    Query("q233_unigram_vocab", (s, dir) => {
      val path = scratch("univocab", dir)
      graft.llm.Unigram.exportVocabTsv(unigramModel(s, dir), path)
      graft.llm.Unigram.importVocabTsv(s, path)
    },
      shared = Seq(UnigramModel),
      // the Unigram piece↔id replay: reserved [UNK]/space, score-ranked
      // pieces, min-id dedup — hash equality through the .vocab TSV
      // export→import also proves the artifact roundtrip
      oracle = Some(graft.llm.Unigram.vocabOracleSql(
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2))),

    // --- the pretraining artifact, Unigram face: per-doc flat id
    //     sequences under the Viterbi segmentation with id-1 space
    //     boundaries ([UNK] = id 0 for dead words); position-weighted
    //     fingerprint + the HONEST decode-roundtrip flag, predicted by
    //     the oracle as n_unk = 0 ---
    Query("q234_unigram_ids", (s, dir) => {
      val docs = plainEvalDocs(s, dir)
      val model = unigramModel(s, dir)
      val enc = graft.llm.Unigram.encodeIds(docs, "doc_id", "text", model)
        .localCheckpoint()
      val dec = graft.llm.Unigram.decodeIds(enc, "doc_id", "ids", model)
      idsRow(docs, enc, dec, graft.llm.Unigram.face)
    },
      shared = Seq(UnigramModel),
      // per-doc flat id economics over the Viterbi chain: id-1 space
      // boundaries CONTRIBUTE to the position-weighted fingerprint
      // (unlike BPE's id-0 spaces); roundtrip predicted as n_unk = 0
      oracle = Some(graft.llm.Unigram.idsOracleSql(
      trainWhere = "doc_id % 4 = 0", tokPosCte = plainTokPosCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2))),

    // --- SentencePiece-convention interop (X146, the X141/GPT-2
    //     treatment for the third family): the trained model rendered
    //     through the PUBLISHED ▁ word-boundary convention — <unk> at
    //     id 0, each piece as a (▁piece, piece) line pair sharing its
    //     exact float log-prob — then imported back; hash equality
    //     proves the rendering order AND the integer↔float roundtrip ---
    Query("q235_unigram_sp_interop", (s, dir) => {
      val path = scratch("unisp", dir)
      graft.llm.Unigram.exportVocabSp(unigramModel(s, dir), path)
      graft.llm.Unigram.importVocabSp(s, path)
    },
      shared = Seq(UnigramModel),
      // the SentencePiece-convention roundtrip: model pieces with their
      // predicted ▁-form line ids (2·rank−1 under q DESC, UTF-8 ASC) and
      // the exact q recovered from the float log-prob rendering
      oracle = Some(graft.llm.Unigram.spVocabOracleSql(
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2))),

    // --- k-best Viterbi over the lattice (X148, SentencePiece's
    //     NBestEncode): each word's 4 best segmentations under the
    //     (integer cost, piece count, UTF-8 seq) total order — rank 1
    //     IS the q231 Viterbi row; exact because top-k-per-position
    //     survives suffix append (translation-invariant order) ---
    Query("q238_unigram_nbest", (s, dir) =>
      graft.llm.Unigram.nbestSegments(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "text", unigramModel(s, dir), nbest = 4),
      shared = Seq(UnigramModel),
      // k-best Viterbi replay: the same unrolled DP chain with each
      // level keeping rn <= 4 (exact — the (cost, np, seq) order is
      // translation-invariant under suffix append), final candidates
      // ranked per word; [UNK]/over-length words are one rank-1 row
      // with NULL cost
      oracle = Some(graft.llm.Unigram.nbestOracleSql(
      trainWhere = "doc_id % 4 = 0", tokCte = uniTokCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2,
      nbest = 4))),

    // --- subword regularization (X148, Kudo 2018 SampleEncode): each
    //     word OCCURRENCE draws one of its 4-best segmentations with
    //     probability ∝ p^α — different across occurrences, identical
    //     across runs/partitionings/engines (quantized exp weights,
    //     15-hex md5 draw mod total weight) ---
    Query("q239_unigram_sample", (s, dir) =>
      graft.llm.Unigram.sampleSegments(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "doc_id", "text", unigramModel(s, dir), nbest = 4, alpha = 0.5),
      shared = Seq(UnigramModel),
      // sampled-segmentation replay: quantized exp(−α·Δcost) weights in
      // the engine's exact expression order, 15-hex md5(doc:pos:word)
      // draw mod the word's total weight, pick = 1 + count(cum ≤ draw)
      oracle = Some(graft.llm.Unigram.sampleOracleSql(
      trainWhere = "doc_id % 4 = 0", tokPosCte = uniTokPosCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2,
      nbest = 4, alphaSql = "0.5"))),

    // --- the pretraining artifact UNDER subword regularization
    //     (X148): per-doc flat id sequences where every word
    //     OCCURRENCE segments by its epoch-1 sampled draw instead of
    //     Viterbi — different epochs give different id streams that
    //     decode to the IDENTICAL clean text (honest roundtrip flag,
    //     oracle predicts n_unk = 0 on the plain slice) ---
    Query("q243_unigram_sample_ids", (s, dir) => {
      val docs = plainEvalDocs(s, dir)
      val model = unigramModel(s, dir)
      val enc = graft.llm.Unigram.encodeIdsSampled(docs, "doc_id",
          "text", model, nbest = 4, alpha = 0.5, epoch = 1)
        .localCheckpoint()
      val dec = graft.llm.Unigram.decodeIds(enc, "doc_id", "ids", model)
      idsRow(docs, enc, dec, graft.llm.Unigram.face)
    },
      shared = Seq(UnigramModel),
      // the sampled-ids replay: the q234 id-assembly tail over the
      // epoch-1 sampled segmentations (salt ':1' inside the md5 key);
      // boundary id-1 positions contribute to the fingerprint
      oracle = Some(graft.llm.Unigram.sampledIdsOracleSql(
      trainWhere = "doc_id % 4 = 0", tokPosCte = plainTokPosCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2,
      nbest = 4, alphaSql = "0.5", saltSql = " || ':1'"))),

    // --- tokenizer SELECTION panel (X150): all three production
    //     families, trained on the SAME corpus slice, compared on the
    //     SAME eval complement — fertility (pieces/word), bytes/piece
    //     (context efficiency), UNK share (what the closed vocabulary
    //     destroys; byte-BPE structurally 0). Integer micro/ppm
    //     ratios over exact sums; each family's per-doc economics is
    //     its already-oracled serve chain ---
    Query("q242_tokenizer_panel", (s, dir) => {
      val eval = unicodeDocs(s, dir)
        .filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val bytes =
        TokenServe.docWords(eval, "doc_id", "text", TokenServe.wordOk)
        .groupBy(col("doc_id"))
        .agg(sum(expr("octet_length(word)")).as("n_bytes"))
      val bpe = Bpe.encodeTokenCountsWith(eval, "doc_id", "text",
          bpeBytesMerges(s, dir), bpeBytesWords(s, dir), Bpe.Bytes)
        .select(col("doc_id"), col("n_words"),
          col("n_bpe").as("n_pieces"), col("n_oov").as("n_unk"),
          col("n_bytes"))
      val wp = WordPiece.tokenCounts(eval, "doc_id", "text",
          wpMerges(s, dir), wpWords(s, dir),
          maxInputCharsPerWord = WordPiece.OracleMaxWordLen)
        .join(bytes.hint("shuffle_hash"), Seq("doc_id"))
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("n_unk"), col("n_bytes"))
      val uni = graft.llm.Unigram.tokenCounts(eval, "doc_id", "text",
          unigramModel(s, dir))
        .join(bytes.hint("shuffle_hash"), Seq("doc_id"))
        .select(col("doc_id"), col("n_words"), col("n_pieces"),
          col("n_unk"), col("n_bytes"))
      graft.llm.TokenizerEval.panel(Seq(
        ("bpe_bytes", bpe), ("wordpiece", wp), ("unigram", uni)))
    },
      // (assembled by concatenation, NOT stripMargin: the nested family
      // SQLs contain `||` concat operators at line starts, which an
      // outer stripMargin would eat)
      oracle = Some(("WITH fb AS (SELECT doc_id, n_words, n_bpe AS n_pieces, " +
        "n_oov AS n_unk, n_bytes FROM (\n" +
        Bpe.byteEncodeOracleSql(8, trainWhere = "doc_id % 4 = 0",
          tokCte = uniTokCte, textSql = duckUniText) +
        "\n)),\nfw AS (SELECT doc_id, n_words, n_pieces, n_unk FROM (\n" +
        WordPiece.tokenCountsOracleSql(8, trainWhere = "doc_id % 4 = 0",
          tokCte = uniTokCte, textSql = duckUniText) +
        "\n)),\nfu AS (SELECT doc_id, n_words, n_pieces, n_unk FROM (\n" +
        graft.llm.Unigram.countsOracleSql(trainWhere = "doc_id % 4 = 0",
          tokCte = uniTokCte, textSql = duckUniText,
          seedMulti = UniSeedMulti, keepMulti = UniKeepMulti,
          emIters = 2) +
        "\n)),\n" +
        s"byt AS (SELECT doc_id, CAST(SUM(strlen(word)) AS BIGINT) AS n_bytes " +
        s"FROM ($uniTokCte) WHERE word <> '' AND NOT contains(word, '<') " +
        "AND NOT contains(word, '>') GROUP BY 1),\n" +
        "raw AS (\n" +
        "  SELECT 'bpe_bytes' AS family, COUNT(*) AS n_docs, " +
        "SUM(n_words) AS n_words, SUM(n_pieces) AS n_pieces, " +
        "SUM(n_unk) AS n_unk, SUM(n_bytes) AS n_bytes FROM fb\n" +
        "  UNION ALL\n" +
        "  SELECT 'wordpiece', COUNT(*), SUM(n_words), SUM(n_pieces), " +
        "SUM(n_unk), SUM(b.n_bytes) FROM fw JOIN byt b USING (doc_id)\n" +
        "  UNION ALL\n" +
        "  SELECT 'unigram', COUNT(*), SUM(n_words), SUM(n_pieces), " +
        "SUM(n_unk), SUM(b.n_bytes) FROM fu JOIN byt b USING (doc_id))\n" +
        "SELECT family, CAST(n_docs AS BIGINT) AS n_docs, " +
        "CAST(n_words AS BIGINT) AS n_words, " +
        "CAST(n_pieces AS BIGINT) AS n_pieces, " +
        "CAST(n_unk AS BIGINT) AS n_unk, " +
        "CAST(n_bytes AS BIGINT) AS n_bytes, " +
        "CAST((1000000 * n_pieces) // n_words AS BIGINT) AS fert_micro, " +
        "CAST((1000000 * n_bytes) // n_pieces AS BIGINT) AS bpp_micro, " +
        "CAST((1000000 * n_unk) // n_words AS BIGINT) AS unk_ppm " +
        "FROM raw"))))
}
