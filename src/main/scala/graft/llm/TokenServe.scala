package graft.llm

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TokenExprs

/** The serve path every tokenizer family shares — [[Bpe]] over chars
  * or bytes, [[WordPiece]] and [[Unigram]]. A family brings its
  * per-word segmenter and its piece vocabulary; this module owns the
  * steps that are the same for all of them:
  *
  *  - the word guard and the corpus word stream;
  *  - the join of that stream against the DISTINCT-word table (each
  *    distinct word is segmented once, never per occurrence);
  *  - the per-word → per-document id assembly;
  *  - the decode assembly.
  *
  * Everything a family does differently is a [[Face]] value; no step
  * here branches on which family it serves.
  *
  * Scale: segmentation and id lookup run once per DISTINCT word
  * (vocabulary-sized; the piece→id table broadcasts); the corpus
  * stream equi-joins the per-word table; per-doc assembly is one keyed
  * aggregation with an in-row sort over the doc's own words — no
  * windows, nothing beyond document length anywhere.
  */
object TokenServe {

  /** The word guard of the sentinel-bracketed representations: empty
    * words and words containing `<` or `>` drop (the oracles apply the
    * same filter). Exposed to the query layer so roundtrip gates
    * recompose EXACTLY the clean word stream the encoder saw.
    */
  private[graft] def wordOk: Column = col("word") =!= "" &&
    !col("word").contains("<") && !col("word").contains(">")

  /** One tokenizer's serve conventions.
    *
    * @param guard        which words of the space-split text are served
    * @param boundary     the id placed between words (`None`: none)
    * @param unknown      the per-word unknown flag, over the per-piece
    *                     rows after the vocabulary join
    * @param nTok         output name of the id-stream length
    * @param nUnk         output name of the unknown-word count
    * @param unknownPiece what an id the vocabulary lacks decodes to
    * @param wordpiece    decode joins `##` pieces onto the previous
    *                     piece and spaces before the others (instead of
    *                     plain concatenation)
    * @param finish       the last step of decode, over the joined pieces
    */
  final case class Face(guard: Column, boundary: Option[Int],
                        unknown: Column, nTok: String, nUnk: String,
                        unknownPiece: String = "�",
                        wordpiece: Boolean = false,
                        finish: Column => Column = identity) {
    /** The per-word flag column, named after its doc-level count
      * (`_oov` for `n_oov`).
      */
    private[llm] def unkCol: String = "_" + nUnk.stripPrefix("n_")
  }

  /** `docs`' space-split words that pass `guard`, as `(word)`. */
  def words(docs: DataFrame, textCol: String, guard: Column): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word")).filter(guard)

  /** `docs`' word occurrences past `guard`: `(doc_id, word)`. */
  def docWords(docs: DataFrame, idCol: String, textCol: String,
               guard: Column): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("word")).filter(guard)

  /** [[docWords]] with each word's 0-based split index `_wpos` — the
    * text order an id stream follows.
    */
  def positionedWords(docs: DataFrame, idCol: String, textCol: String,
                      guard: Column): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("_wpos", "word")))
      .filter(guard)

  /** The distinct words of `docs` — what a segmenter runs over. */
  def distinctWords(docs: DataFrame, textCol: String,
                    guard: Column): DataFrame =
    words(docs, textCol, guard).distinct()

  /** The stream join. SHUFFLE_HASH on the per-word side: the
    * segmenter's `mapPartitions` erases size stats, and Spark
    * otherwise broadcasts the post-explode CORPUS stream (the
    * Generate-broadcast trap — explode fan-out is invisible to size
    * estimation). The hint builds on the vocabulary-sized side, never
    * sorts, and holds at any vocabulary size.
    */
  private def joinWords(stream: DataFrame, perWord: DataFrame): DataFrame =
    stream.join(perWord.hint("shuffle_hash"), Seq("word"))

  /** Per-document counts: each `(doc_id, word)` occurrence joined to
    * `perWord` `(word, …)`, then `aggs` per document. Documents with
    * no word past the guard emit nothing.
    */
  def counts(docs: DataFrame, idCol: String, textCol: String, face: Face,
             perWord: DataFrame, aggs: Seq[Column]): DataFrame =
    joinWords(docWords(docs, idCol, textCol, face.guard), perWord)
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)

  /** [[counts]] for a segmentation `(word, n_pieces, unk)`:
    * `(doc_id, n_words, n_pieces, n_unk)`.
    */
  def pieceCounts(docs: DataFrame, idCol: String, textCol: String,
                  face: Face, segments: DataFrame): DataFrame =
    counts(docs, idCol, textCol, face,
      segments.select(col("word"), col("n_pieces"), col("unk")),
      Seq(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).as("n_pieces"),
        sum(col("unk").cast("long")).as("n_unk")))

  /** One row per piece of a per-word segmentation array:
    * `(_spos, piece)`, the shape [[encodeIds]] expects.
    */
  def pieces(segmentation: Column): Column =
    posexplode(segmentation).as(Seq("_spos", "piece"))

  /** Each document as its flat token-id sequence —
    * `(doc_id, ids, <nUnk>, <nTok>)`. `wordPieces` holds one row per
    * piece of each distinct word (`word`, [[pieces]], and whatever
    * `face.unknown` reads); a piece the `vocab` `(piece, token_id)`
    * lacks becomes id `-1`. Words join in text order with
    * `face.boundary` between them; `nTok = size(ids)` is the true
    * context-window cost.
    */
  def encodeIds(docs: DataFrame, idCol: String, textCol: String,
                face: Face, wordPieces: DataFrame,
                vocab: DataFrame): DataFrame = {
    val u = face.unkCol
    val wordIds = wordPieces
      .join(broadcast(vocab), Seq("piece"), "left")
      .groupBy(col("word"))
      .agg(max(face.unknown).as(u),
        sort_array(collect_list(struct(col("_spos"),
          coalesce(col("token_id"), lit(-1)).as("id")))).as("_ps"))
      .select(col("word"), col(u),
        expr("transform(_ps, p -> p.id)").as("_wids"))
    assemble(joinWords(positionedWords(docs, idCol, textCol, face.guard),
      wordIds), "_wpos", face)
  }

  /** The per-document tail of every ids face: word rows
    * `(doc_id, <pos>, _wids, <unkCol>)` → `(doc_id, ids, <nUnk>, <nTok>)`.
    * One native pass sorts the words by `pos` and writes the flat id
    * array (see [[graft.functions.FlattenWordIds]]).
    */
  def assemble(wordRows: DataFrame, pos: String, face: Face): DataFrame =
    wordRows.groupBy(col("doc_id"))
      .agg(
        collect_list(struct(col(pos), col("_wids"))).as("_ws"),
        sum(col(face.unkCol).cast("long")).as(face.nUnk))
      .select(col("doc_id"),
        TokenExprs.flattenWordIds(col("_ws"), face.boundary).as("ids"),
        col(face.nUnk))
      .withColumn(face.nTok, size(col("ids")).cast("long"))

  /** Inverse of [[encodeIds]]: `(doc_id, text_decoded)`. Each id maps
    * to its `vocab` piece (`face.unknownPiece` when the vocabulary
    * lacks it); one native pass sorts a document's pieces by position
    * and joins them (see [[graft.functions.ConcatSortedPieces]]), and
    * `face.finish` turns that into text.
    */
  def decodeIds(encoded: DataFrame, idCol: String, idsCol: String,
                vocab: DataFrame, face: Face): DataFrame =
    encoded.select(col(idCol).as("doc_id"),
        posexplode(col(idsCol)).as(Seq("_pos", "token_id")))
      .join(broadcast(vocab), Seq("token_id"), "left")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("_pos"),
        coalesce(col("piece"), lit(face.unknownPiece)).as("p"))).as("_ps"))
      .select(col("doc_id"),
        face.finish(TokenExprs.concatSortedPieces(col("_ps"), face.wordpiece))
          .as("text_decoded"))

  /** The lines of a single-file tokenizer artifact under `dir` (a
    * merges or vocab file, whose line order is its rank or id order)
    * as `(line, text)`, `line` the 1-based physical line number. Line
    * order is only sound when `dir` holds ONE data file (one file ⇒ one
    * split ⇒ a sequential read); `_`/`.` markers do not count, and any
    * other count fails, naming `who`. One partition, in file order.
    */
  def artifactLines(spark: SparkSession, dir: String,
                    who: String): RDD[(Int, String)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataFiles = fs.listStatus(path)
      .map(_.getPath.getName)
      .filter(n => !n.startsWith("_") && !n.startsWith("."))
    require(dataFiles.length == 1,
      s"$who expects exactly one data file under $path " +
        s"(the single-file export contract); found ${dataFiles.length}: " +
        dataFiles.sorted.mkString(", "))
    spark.sparkContext.textFile(dir, 1)
      .coalesce(1) // a >128MB file would split; keep the walk sequential
      .mapPartitions(_.zipWithIndex.map { case (l, i) => (i + 1, l) })
  }
}
