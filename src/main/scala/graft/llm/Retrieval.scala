package graft.llm

import graft.functions.BoundLong
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Hybrid retrieval — the RAG-serving data-prep face: a sparse
  * lexical run (BM25 over the X78 inverted-index economics) and a
  * dense embedding run ([[Similarity.embedCosineTopK]] exact, or the
  * IVF/PQ indexes at scale) each produce per-query ranked lists;
  * reciprocal-rank fusion combines them with NO score calibration —
  * ranks, not scores, cross the retriever boundary, which is exactly
  * why RRF is the production default for heterogeneous retrievers
  * (lexical scores and cosines live on incomparable scales). On top
  * of the lexical run sits pseudo-relevance feedback (Rocchio-style
  * query expansion): the classic one-round relevance loop that needs
  * no model and no labels.
  *
  * Every face is engine-independent by the repo's standing
  * discipline: BM25 per-term contributions are integerized on the
  * q137 rounding grid BEFORE the cross-term sum (order-free integer
  * aggregation), expansion-term weights are exact integer `tf ·
  * idf_micro` sums, interpolation is integer percent arithmetic, and
  * RRF contributions are pure integer floor divisions — no float
  * ever crosses an aggregation boundary.
  *
  * The corpus-level index frames (term frequencies, document
  * lengths, document frequencies) are derived inline so each
  * operator is self-contained; a production deployment precomputes
  * them once (the X78 inverted-index build) and every shape below
  * consumes them unchanged. The persisted index ([[buildLexIndex]],
  * X152) is that deployment: [[searchLexIndex]] resolves each stored
  * state once and serves every search against it from memory.
  */
object Retrieval {

  private def dlOf(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).as("dl"))

  private def tfOf(docs: DataFrame, idCol: String,
                   textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))

  private def termsOf(queries: DataFrame, qIdCol: String,
                      qTextCol: String): DataFrame =
    queries.select(col(qIdCol).as("query_id"),
        explode(split(col(qTextCol), " ")).as("term"))
      .filter(col("term") =!= "").distinct()

  /** `round(ln(2(N+1)/(2df+1)) · 1e6)` — the one transcendental of
    * the scoring grid, shared verbatim by [[scoreTermsFrom]] and
    * [[prfExpandTermsFrom]]. The ratio is formed as ONE division of
    * two exact integers (`2(N+1)`, `2df+1` — algebraically equal to
    * the q137 `(N−df+0.5)/(df+0.5)+1` but with no intermediate float
    * roundings for engines to disagree on).
    */
  private def idfMicro(dfCol: Column,
                       nDocsCol: Column) =
    round(log((lit(2L) * (nDocsCol + lit(1L))).cast("double") /
        (lit(2L) * dfCol + lit(1L)).cast("double")) * lit(1e6), 0)
      .cast("long")

  /** The idf grid's rounding-boundary guard: the minimum distance (in
    * 1e-6 idf units) from any ceiling-surviving distinct
    * `ln(2(N+1)/(2df+1))·1e6` to its nearest half-integer rounding
    * boundary, over a corpus. Everything else in the round-15 scoring
    * grid is correctly-rounded IEEE arithmetic over exact integers
    * (bit-identical on any engine); `ln` alone may differ in the last
    * ulp (~2e-9 at idf magnitudes), so a distance above
    * [[IdfGuardBand]] proves no engine can flip a rounding. Verify
    * evaluates this per run and fails the dump below the band — the
    * guard is per-(distinct df) on a vocabulary-bounded frame, so at
    * ANY corpus scale it stays a metadata-sized check.
    */
  val IdfGuardBand = 1e-4
  def idfBoundaryDistance(docs: DataFrame, idCol: String,
                          textCol: String,
                          dfCeilingShare: Int = 10): Double = {
    val dl = dlOf(docs, idCol, textCol)
    val stats = dl.agg(count(lit(1)).as("n_docs"))
    val x = tfOf(docs, idCol, textCol)
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .select(col("df")).distinct()
      .crossJoin(broadcast(stats))
      .filter(col("df") * lit(dfCeilingShare.toLong) <= col("n_docs"))
      .select((log((lit(2L) * (col("n_docs") + lit(1L))).cast("double") /
        (lit(2L) * col("df") + lit(1L)).cast("double")) * lit(1e6))
        .as("x"))
    x.agg(min(abs(col("x") - floor(col("x")) - lit(0.5))))
      .head().getDouble(0)
  }

  /** Per-(query, document) integer BM25 score over a `(query_id,
    * term)` term set — the shared scoring core of [[bm25TopK]] and
    * [[prfRerank]]'s two passes: the q137 expression (k1 = 1.2,
    * b = 0.75) per surviving (term, doc) pair, integerized at 1e-4
    * units BEFORE the cross-term sum, so the result is an order-free
    * integer aggregation.
    *
    * Round-15 rounding grid — engine-robust BY CONSTRUCTION, not by
    * data luck (round 14 shipped `round(log(…)·tf-part·1e4)`: the
    * DuckDB oracle flipped six queries on (term, doc) pairs whose
    * float score landed a last-ulp from a .5 boundary — `LN` is the
    * one non-correctly-rounded float op, and DuckDB's `t.tf * 2.2`
    * is DECIMAL-exact where Spark's `lit(2.2) * tf` rounds twice).
    * The grid now quantizes each factor separately and combines them
    * in pure integer arithmetic:
    *
    *   idf_micro(df)    = round(ln(2·(N+1) / (2·df+1)) · 1e6)
    *   w_nano(tf, dl)   = round(22·tf·S / (10·tf·S + 3·S + 9·dl·N) · 1e9)
    *   contribution     = (2·idf_micro·w_nano + 1e11) div (2e11)
    *                    ≈ round(idf · tf-part · 1e4), the same grid
    *
    * with N = n_docs, S = Σ dl (both exact integers). `w_nano` is
    * bit-identical on any IEEE-754 engine: its inputs are exact
    * integers, and int→double cast, one divide, one multiply and
    * half-away-from-zero rounding are all correctly rounded — no
    * transcendental touches it. `idf_micro` is the ONLY value whose
    * last ulp is engine-dependent (`ln`), and it is minted once per
    * distinct df over a vocabulary-bounded frame; Verify asserts at
    * dump time that no distinct idf lands inside a guard band around
    * a rounding boundary ([[idfBoundaryDistance]]), so an engine disagreement is
    * detected at the few-hundred-values scale instead of surfacing as
    * a silent (term, doc)-pair flip.
    *
    * Scale shape: the term-set df table (vocabulary ⨝ broadcast
    * query terms, then the `df · dfCeilingShare ≤ n_docs` stopword
    * ceiling) broadcasts into ONE posting scan — fan-out is Σ df
    * over surviving terms, never the corpus — and doc length
    * attaches to the bounded candidate set via a SHUFFLE_HASH join
    * against the narrow 16 B/doc `dl` frame.
    *
    * Takes prebuilt index frames `tf(term, doc_id, tf)` /
    * `dl(doc_id, dl)` — the seam a production deployment feeds its
    * X78 inverted index through, and (round-14) the share point for
    * [[indexOf]]'s once-per-invocation build. [[searchLexIndex]]
    * applies the same grid to its resolved snapshot, where df and
    * the corpus statistics are already materialized.
    */
  private def scoreTermsFrom(tf: DataFrame, dl: DataFrame,
                             queryTerms: DataFrame,
                             dfCeilingShare: Int): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qsel = ceilingIdf(dfreq.join(broadcast(queryTerms), Seq("term"))
      .crossJoin(broadcast(stats)), dfCeilingShare)
    pairScores(tf.join(broadcast(qsel), Seq("term"))
      .join(dl.hint("shuffle_hash"), Seq("doc_id")))
  }

  /** The query terms that pass the `df · dfCeilingShare ≤ n_docs`
    * stopword ceiling, with their `idf_micro`, from `(term, query_id,
    * df, n_docs, sum_dl)` rows.
    */
  private def ceilingIdf(terms: DataFrame, dfCeilingShare: Int): DataFrame =
    terms.filter(col("df") * lit(dfCeilingShare.toLong) <= col("n_docs"))
      .select(col("term"), col("query_id"),
        idfMicro(col("df"), col("n_docs")).as("idf_micro"),
        col("n_docs"), col("sum_dl"))

  /** The per-pair half of the [[scoreTermsFrom]] grid: `w_nano` and
    * the integer contribution per `(query_id, doc_id, tf, dl,
    * idf_micro, n_docs, sum_dl)` row, summed per (query, doc) into
    * `score_micro`.
    */
  private def pairScores(pairs: DataFrame): DataFrame =
    pairs
      // w_nano: exact-integer numerator/denominator, one correctly
      // rounded divide — bit-identical across IEEE-754 engines
      .withColumn("_w", round(
        (lit(22L) * col("tf") * col("sum_dl")).cast("double") /
          (lit(10L) * col("tf") * col("sum_dl") + lit(3L) * col("sum_dl") +
            lit(9L) * col("dl") * col("n_docs")).cast("double") * lit(1e9), 0)
        .cast("long"))
      // per-pair contribution on the 1e-4 grid in PURE integer
      // arithmetic: round(idf_micro·w_nano / 1e11) half-up
      .select(col("query_id"), col("doc_id"),
        expr("(2 * idf_micro * _w + 100000000000) div 200000000000").as("_c"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("_c")).as("score_micro"))

  /** The operator-local index build: `tf`/`dl` materialized ONCE per
    * invocation (round-14 optimization). Every lazy reference to
    * `tfOf`/`dlOf` re-ran the corpus explode + keyed aggregation —
    * [[prfRerank]] paid FOUR inverted-index builds and five
    * doc-length passes per call (two scoring passes, the expansion
    * weights, and the stats/join double-reads inside each). One
    * checkpointed build is what the X78 production index does; at
    * 100 TB the difference is four corpus-scale shuffles vs one.
    *
    * PRODUCTION SEAM (r14 verdict item 4): `localCheckpoint` keeps
    * the corpus-scale tf frame on executor-local storage with NO
    * replication and NO lineage — fine for this serve path's
    * demo-scale ad-hoc queries, NOT the assumed 100 TB path. At scale,
    * serve from the PERSISTED index ([[buildLexIndex]] +
    * [[searchLexIndex]], the X152 store): replicated parquet, versioned,
    * survives executor loss; this in-memory build is the
    * index-less convenience entry only.
    */
  private def indexOf(docs: DataFrame, idCol: String,
                      textCol: String): (DataFrame, DataFrame) =
    (tfOf(docs, idCol, textCol).localCheckpoint(),
      dlOf(docs, idCol, textCol).localCheckpoint())

  /** Query-likelihood BM25 top-k — score every document against each
    * query's distinct terms and keep the `k` best per query:
    * `(query_id, rank, doc_id, score_micro)`. Scoring/scale contract
    * in [[scoreTermsFrom]]; the per-query cut is the bounded top-k
    * aggregation ([[graft.operators.TopKAgg.perGroup]]), ≤ k rows
    * per (mapper, query) before any exchange — never a corpus-wide
    * window sort.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, qIdCol: String, qTextCol: String,
               k: Int = 10, dfCeilingShare: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(dfCeilingShare >= 1,
      s"dfCeilingShare must be >= 1, got $dfCeilingShare")
    val (tf, dl) = indexOf(docs, idCol, textCol)
    val scored = scoreTermsFrom(tf, dl,
      termsOf(queries, qIdCol, qTextCol), dfCeilingShare)
    graft.operators.TopKAgg
      .perGroup(scored, "query_id", "score_micro", "doc_id", k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_micro").cast("long").as("score_micro"))
  }

  // ───────────── persisted lexical index (X152) ─────────────

  /** Build the persisted lexical index — the train-once/serve-many
    * face of BM25, the lexical twin of
    * [[IvfStore.build]]:
    * `path/postings` holds `(term, doc_id, tf, ver)` and
    * `path/doclen` holds `(doc_id, dl, ver)`, both APPEND-ONLY —
    * [[appendToLexIndex]] ingests new or re-ingested documents as a
    * new version and serve-time resolution is latest-wins per
    * doc_id, done once per stored state (the listing-keyed snapshot,
    * [[lexSnapshot]]). Postings are written sorted by term so each
    * file covers a term range.
    */
  def buildLexIndex(docs: DataFrame, idCol: String, textCol: String,
                    path: String): Unit =
    // postings and doclen are independent jobs over the same input —
    // run them concurrently (guide §2.6) so the build costs max, not
    // sum, of the two writes
    graft.operators.Jobs.inParallel(docs.sparkSession,
      ("lex-index: postings build",
        () => tfOf(docs, idCol, textCol).withColumn("ver", lit(0L))
          .sortWithinPartitions(col("term"))
          .write.mode("overwrite").parquet(s"$path/postings")),
      ("lex-index: doclen build",
        () => dlOf(docs, idCol, textCol).withColumn("ver", lit(0L))
          .write.mode("overwrite").parquet(s"$path/doclen")))

  /** Ingest a batch into a stored lexical index WITHOUT rebuilding:
    * each batch gets the next version number, and a doc_id already in
    * the index is REPLACED at serve time (its old version's postings
    * — including terms the new text no longer contains — stop
    * matching, because resolution keeps only rows at the doc's
    * LATEST version). O(batch) work: two batch-derived frames
    * appended; the store is never rewritten.
    */
  def appendToLexIndex(spark: SparkSession,
                       path: String, batch: DataFrame, idCol: String,
                       textCol: String): Unit =
    // single-writer contract (same as the IVF append family): the
    // next version is max(stored)+1, so concurrent appenders would
    // mint the same version and their doc_id overlaps would collide
    // non-deterministically at resolution. Serialize ingests.
    appendToLexIndex(spark, path, batch, idCol, textCol,
      currentLexVersion(spark, path) + 1L)

  /** The stored index's current max version — the value the no-`ver`
    * [[appendToLexIndex]] reads per call. A serialized multi-batch
    * ingester ([[graft.streaming.LexIndexStream]]) reads it ONCE and
    * mints `base+1, base+2, …` itself (round-14: the per-batch
    * max-scan re-read every doclen file of a GROWING store — O(waves²)
    * file reads over an ingest run — for a value the single-writer
    * contract already determines).
    */
  def currentLexVersion(spark: SparkSession, path: String): Long =
    // an index built from an empty frame stores no rows; its version
    // is the build's 0
    spark.read.parquet(s"$path/doclen")
      .agg(coalesce(max(col("ver")), lit(0L))).head().getLong(0)

  /** [[appendToLexIndex]] at an EXPLICIT version — the caller owns the
    * single-writer contract (`ver` must exceed every stored version;
    * a non-empty batch always appends ≥1 doclen row, so consecutive
    * integers from [[currentLexVersion]]+1 are always valid).
    */
  def appendToLexIndex(spark: SparkSession,
                       path: String, batch: DataFrame, idCol: String,
                       textCol: String, ver: Long): Unit =
    // independent appends to distinct tables — concurrent (§2.6)
    graft.operators.Jobs.inParallel(spark,
      ("lex-index: postings append",
        () => tfOf(batch, idCol, textCol).withColumn("ver", BoundLong.lit(ver))
          .sortWithinPartitions(col("term"))
          .write.mode("append").parquet(s"$path/postings")),
      ("lex-index: doclen append",
        () => dlOf(batch, idCol, textCol).withColumn("ver", BoundLong.lit(ver))
          .write.mode("append").parquet(s"$path/doclen")))

  /** One resolved state of a persisted lexical index — what every
    * search against that state needs, materialized once and reused
    * (the Shark pattern: the resolved table stays in memory in
    * columnar form, and queries share it):
    *
    *   - `postings(term, doc_id, tf, dl)`: latest-wins postings with
    *     the doc's current length attached, persisted;
    *   - `dfreq(term, df, n_docs, sum_dl)`: document frequencies over
    *     them, each row carrying the corpus statistics N and S,
    *     persisted.
    *
    * `files` is the data-file listing the state was read from — the
    * snapshot's key — and `schemas` the two tables' read schemas.
    * Building is lazy: beyond reading the files' schema, `persist` only
    * registers the plans, and the first search fills the cache.
    */
  private final class LexSnapshot(val files: Seq[Seq[String]],
                                  val schemas: Seq[StructType],
                                  val postings: DataFrame,
                                  val dfreq: DataFrame) {
    /** (Re-)registers the persisted frames — postings first, so the
      * df frame's cached plan reads the cached postings. Idempotent;
      * after a [[graft.Sessions.sweep]] dropped them, the next search
      * recomputes and re-caches from the same listed files.
      */
    def cache(): Unit = Seq(postings, dfreq).foreach { d =>
      if (d.storageLevel == StorageLevel.NONE) d.persist()
    }

    def unpersist(): Unit = Seq(dfreq, postings).foreach(_.unpersist())
  }

  /** The live snapshots: at most one per (SparkContext, qualified index
    * path). Entries of stopped contexts are dropped on every lookup.
    */
  private val lexSnapshots =
    scala.collection.mutable.Map.empty[(SparkContext, String), LexSnapshot]

  /** A table directory's committed data files, in path order —
    * hidden and `_`-prefixed entries (`_SUCCESS`, in-flight
    * `_temporary`) are not data, the same rule Spark's file index
    * applies. Spark names every written file uniquely, so the names
    * identify the content.
    */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[String] =
    fs.listStatus(dir).toSeq
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map(_.getPath.toString).sorted

  /** Resolves the index state held by exactly `files` (postings,
    * doclen): latest-wins per doc_id. `dl` resolves with ONE X34
    * max-struct aggregation (one row per doc, carrying its latest
    * version and length); postings join that narrow frame
    * SHUFFLE_HASH on doc_id and keep only rows at the doc's latest
    * version — a stale version's rows (and with them any term the
    * re-ingested text dropped) vanish here. `known` are the tables'
    * schemas when an earlier snapshot already read them; without them
    * Spark infers each schema with a footer-reading job.
    */
  private def resolveLex(spark: SparkSession, files: Seq[Seq[String]],
                         known: Option[Seq[StructType]]): LexSnapshot = {
    val Seq(postingTable, doclenTable) = files.zipWithIndex.map {
      case (fs, i) =>
        known.fold(spark.read)(ss => spark.read.schema(ss(i))).parquet(fs: _*)
    }
    val dlCur = doclenTable
      .groupBy(col("doc_id"))
      .agg(max(struct(col("ver"), col("dl"))).as("_s"))
      .select(col("doc_id"), col("_s.ver").as("_mv"), col("_s.dl").as("dl"))
    val postings = postingTable
      .join(dlCur.hint("shuffle_hash"), Seq("doc_id"))
      .filter(col("ver") === col("_mv"))
      .select(col("term"), col("doc_id"), col("tf"), col("dl"))
    val stats = dlCur.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"))
    new LexSnapshot(files, Seq(postingTable.schema, doclenTable.schema),
      postings,
      postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(stats)))
  }

  /** The snapshot of the index at `path` as its store stands now.
    *
    * Every call lists the two tables' data files; the snapshot is
    * reused while that listing is unchanged and rebuilt (the old one
    * unpersisted) when it is not. It cannot serve stale data: the
    * store is append-only and every write adds uniquely named files
    * (an overwrite replaces them all), so any change to the index
    * changes the listing, and a snapshot reads exactly the files it
    * was keyed by — an append racing the build lands in the NEXT
    * listing, never half inside this one. A rebuild after pure growth
    * (every old file still listed) reads with the old snapshot's
    * schemas, since appends add rows, not columns; a rebuild after any
    * file disappeared (an overwrite) infers them again.
    */
  private def lexSnapshot(spark: SparkSession, path: String): LexSnapshot = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = (spark.sparkContext, fs.makeQualified(root).toString)
    lexSnapshots.synchronized {
      lexSnapshots.filterInPlace { case ((sc, _), _) => !sc.isStopped }
      val files =
        Seq("postings", "doclen").map(t => dataFiles(fs, new Path(root, t)))
      val snap = lexSnapshots.get(key) match {
        case Some(s) if s.files == files => s
        case stale =>
          stale.foreach(_.unpersist())
          val grown = stale.filter(_.files.zip(files).forall {
            case (was, now) => was.toSet.subsetOf(now.toSet)
          })
          val s = resolveLex(spark, files, grown.map(_.schemas))
          lexSnapshots.put(key, s)
          s
      }
      snap.cache()
      snap
    }
  }

  /** BM25 top-k served from the PERSISTED index — identical output
    * contract to [[bm25TopK]] over the index's current (latest-wins)
    * corpus state, with no corpus scan: `(query_id, rank, doc_id,
    * score_micro)`.
    *
    * Serves from the index's resolved snapshot (see [[lexSnapshot]]):
    * broadcast query terms ⨝ cached df (stopword ceiling, idf_micro)
    * broadcast into the cached postings, then the [[scoreTermsFrom]]
    * grid — bit-identical scores. Repeated searches on an unchanged
    * index read no parquet file.
    */
  def searchLexIndex(spark: SparkSession,
                     path: String, queries: DataFrame, qIdCol: String,
                     qTextCol: String, k: Int = 10,
                     dfCeilingShare: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(dfCeilingShare >= 1,
      s"dfCeilingShare must be >= 1, got $dfCeilingShare")
    val snap = lexSnapshot(spark, path)
    val qsel = ceilingIdf(snap.dfreq
      .join(broadcast(termsOf(queries, qIdCol, qTextCol)), Seq("term")),
      dfCeilingShare)
    val scored =
      pairScores(snap.postings.join(broadcast(qsel), Seq("term")))
    graft.operators.TopKAgg
      .perGroup(scored, "query_id", "score_micro", "doc_id", k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_micro").cast("long").as("score_micro"))
  }

  /** Pseudo-relevance-feedback expansion terms (Rocchio 1971, the
    * label-free one-round relevance loop): take each query's
    * `kFeedback` best BM25 documents AS IF relevant, weight every
    * term they contain by the exact integer `Σ tf · idf_micro`
    * (`idf_micro = round(idf · 1e6)`, the q137 idf), drop the
    * original query terms (they are already in the query) and
    * ceiling-blocked stopwords (a term carried by 1/dfCeilingShare
    * of the corpus cannot sharpen a query), and keep the `mExpand`
    * strongest per query by (weight desc, term):
    * `(query_id, trank, term, w_micro)`.
    *
    * Scale: the feedback set is kFeedback docs per query (broadcast
    * into the posting scan — the expansion candidate pool is those
    * docs' term lists, never the vocabulary), and the per-query rank
    * windows over that bounded pool (≤ kFeedback · doc-length terms).
    */
  def prfExpandTerms(docs: DataFrame, idCol: String, textCol: String,
                     queries: DataFrame, qIdCol: String,
                     qTextCol: String, kFeedback: Int = 5,
                     mExpand: Int = 10,
                     dfCeilingShare: Int = 10): DataFrame = {
    require(kFeedback >= 1, s"kFeedback must be >= 1, got $kFeedback")
    require(mExpand >= 1, s"mExpand must be >= 1, got $mExpand")
    require(dfCeilingShare >= 1,
      s"dfCeilingShare must be >= 1, got $dfCeilingShare")
    val (tf, dl) = indexOf(docs, idCol, textCol)
    prfExpandTermsFrom(tf, dl, queries, qIdCol, qTextCol, kFeedback,
      mExpand, dfCeilingShare)
  }

  /** [[prfExpandTerms]] over prebuilt `tf`/`dl` index frames (the
    * [[scoreTermsFrom]] seam) — lets [[prfRerank]] share ONE index
    * build across its passes.
    */
  private def prfExpandTermsFrom(tf: DataFrame, dl: DataFrame,
                                 queries: DataFrame, qIdCol: String,
                                 qTextCol: String, kFeedback: Int,
                                 mExpand: Int,
                                 dfCeilingShare: Int): DataFrame = {
    val qterms = termsOf(queries, qIdCol, qTextCol)
    val scores = scoreTermsFrom(tf, dl, qterms, dfCeilingShare)
    val fb = graft.operators.TopKAgg
      .perGroup(scores, "query_id", "score_micro", "doc_id", kFeedback)
      .select(col("query_id"), col("doc_id"))
    val nDocs = dl
      .agg(count(lit(1)).as("n_docs"))
    val idfm = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * lit(dfCeilingShare.toLong) <= col("n_docs"))
      .select(col("term"),
        idfMicro(col("df"), col("n_docs")).as("idf_micro"))
    tf.join(broadcast(fb), Seq("doc_id"))
      .join(idfm.hint("shuffle_hash"), Seq("term"))
      .join(broadcast(qterms), Seq("query_id", "term"), "left_anti")
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("tf") * col("idf_micro")).as("w_micro"))
      .withColumn("trank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("w_micro").desc, col("term"))).cast("int"))
      .filter(col("trank") <= mExpand)
      .select(col("query_id"), col("trank"), col("term"),
        col("w_micro"))
  }

  /** PRF-expanded reranking: the original BM25 scores interpolated
    * with a second scoring pass over the [[prfExpandTerms]] terms —
    * `final = origPct·orig + (100−origPct)·exp` in pure integer
    * percent arithmetic, top-k per query by (final desc, doc_id):
    * `(query_id, rank, doc_id, final_micro)`. A document matching
    * only expansion terms can now be retrieved (the vocabulary-gap
    * case PRF exists for); one matching only original terms keeps
    * `origPct` of its score.
    *
    * Scale: two [[scoreTermsFrom]] passes (both posting-bounded) and one
    * full-outer join of the two bounded candidate sets on
    * (query_id, doc_id).
    */
  def prfRerank(docs: DataFrame, idCol: String, textCol: String,
                queries: DataFrame, qIdCol: String, qTextCol: String,
                kFeedback: Int = 5, mExpand: Int = 10,
                origPct: Int = 60, k: Int = 10,
                dfCeilingShare: Int = 10): DataFrame = {
    require(origPct >= 0 && origPct <= 100,
      s"origPct must be in [0, 100], got $origPct")
    require(k >= 1, s"k must be >= 1, got $k")
    // ONE index build shared by all three passes (see [[indexOf]])
    val (tf, dl) = indexOf(docs, idCol, textCol)
    val orig = scoreTermsFrom(tf, dl,
        termsOf(queries, qIdCol, qTextCol), dfCeilingShare)
      .withColumnRenamed("score_micro", "orig_micro")
    val exp = prfExpandTermsFrom(tf, dl, queries, qIdCol,
      qTextCol, kFeedback, mExpand, dfCeilingShare)
    val eScores = scoreTermsFrom(tf, dl,
        exp.select(col("query_id"), col("term")), dfCeilingShare)
      .withColumnRenamed("score_micro", "exp_micro")
    val comb = orig.join(eScores, Seq("query_id", "doc_id"),
        "full_outer")
      .select(col("query_id"), col("doc_id"),
        (lit(origPct.toLong) * coalesce(col("orig_micro"), lit(0L)) +
          lit((100L - origPct)) * coalesce(col("exp_micro"), lit(0L)))
          .as("final_micro"))
    graft.operators.TopKAgg
      .perGroup(comb, "query_id", "final_micro", "doc_id", k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("final_micro").cast("long").as("final_micro"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009):
    * `score(q, d) = Σ_runs 1/(k0 + rank_run(q, d))` with the
    * published default k0 = 60. Each input frame is one retriever's
    * ranked output `(query_id, doc_id, rank)` (1-based; a document
    * absent from a run simply contributes nothing — the published
    * formula). Output: `(query_id, rank, doc_id, rrf_micro)`, the
    * `topK` best per query by (fused score desc, doc_id).
    *
    * Contributions are integerized as `10^12 DIV (k0 + rank)` — pure
    * integer floor division, so the fused score is an order-free
    * integer sum with NO floats anywhere; consecutive ranks stay
    * distinguishable on the 10^12 grid far past any top-k in use
    * (the gap at rank r is ~10^12/(k0+r)^2 ≥ 1 until r ~ 10^6).
    *
    * Scale: inputs are top-k-bounded per retriever, so the union +
    * keyed integer sum shuffles ≤ Σ_runs k_run rows per query, and
    * the cut is the bounded top-k aggregation — the fusion itself can
    * never become the bottleneck regardless of corpus size.
    */
  def rrfFuse(runs: Seq[DataFrame], k0: Int = 60,
              topK: Int = 10): DataFrame = {
    require(runs.nonEmpty, "rrfFuse needs at least one ranked run")
    require(k0 >= 1, s"k0 must be >= 1, got $k0")
    val contribs = runs.map(_.select(col("query_id"), col("doc_id"),
      expr(s"CAST(1000000000000 DIV (CAST($k0 AS BIGINT) + " +
        "CAST(rank AS BIGINT)) AS BIGINT)").as("_c")))
    val fused = contribs.reduce(_.unionByName(_))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("_c")).as("rrf_micro"))
    graft.operators.TopKAgg
      .perGroup(fused, "query_id", "rrf_micro", "doc_id", topK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("rrf_micro").cast("long").as("rrf_micro"))
  }
}
