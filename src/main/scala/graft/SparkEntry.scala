package graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.functions.Det
import graft.llm.{Bpe, CorpusPipeline, Dedup, LangModel, Multimodal, Packing, Sampling, Similarity, TextAnalysis, WordPiece}
import graft.ml.{Als, Eval, QualityModel, Serve}
import graft.operators._
import graft.sources.Tables

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with DuckDB-runnable oracle SQL over the same
  * parquet tables (column names aligned on both sides; all compared
  * doubles are bit-deterministic, see [[graft.functions.Det]]).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Per-JVM scratch sink path: concurrent runs against the same data
    * dir (e.g. Bench and Verify) must not race on a shared write+re-read
    * location, so the PID joins the sanitized dir in the path.
    */
  private[graft] def scratch(kind: String, dir: String): String =
    s"/tmp/graft_${kind}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_" +
      ProcessHandle.current().pid()

  /** Planted-row id offset for the q124-q126 recall gates (far above
    * any real vec_id/doc_id in the testdata).
    */
  private val PlantOffset = 1000000L

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(); ()
  }

  /** Recursive local copy (the q182 seed-store clone — parquet files
    * plus bloom sidecars, megabytes; a filesystem walk, never Spark).
    */
  private def copyTree(from: java.nio.file.Path,
                       to: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val walk = Files.walk(from) // must close: the stream holds directory handles
    try {
      walk.forEach { p =>
        val dest = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(dest)
        else Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    } finally walk.close()
  }

  /** The q182 curation store's WAVE-1 SEED, built once per (JVM
    * session, sf dir) at a pristine path the consumers never mutate:
    * two-wave store construction was most of q182's wall (10.9 s, the
    * suite's heaviest line) and is an INPUT, not the operator under
    * test — the `_shared:copurchase-edges` billing discipline. The
    * memo guards a path, not RDDs, so it needs no sweep self-heal
    * (the store is on disk); a fresh SparkContext in the same JVM
    * re-seeds because the key includes the context identity.
    */
  private val curationSeedMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), String]
  private def curationSeed(s: SparkSession, dir: String): String =
    synchronized {
      val key = (System.identityHashCode(s.sparkContext), dir)
      curationSeedMemo.getOrElseUpdate(key, {
        val seed = scratch("curationseed", dir)
        rmTree(new java.io.File(seed))
        graft.streaming.CurationStream.processBatch(
          t(s, dir, "documents").filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text", langProfiles, seed)
          .write.mode("overwrite").format("noop").save() // funnel job
        seed
      })
    }

  // --- memoized shared inputs --------------------------------------
  // q47/q57/q124/q125/q167/q168 all start from the same normalized
  // embeddings corpus (and q124/q125/q167/q168 from the same perturbed
  // copy); re-reading + re-normalizing it per query cost ~4 redundant
  // input preps per bench/Verify run. The memo holds one value (a
  // checkpointed frame, or a frame pair built together) per
  // (SparkContext, dir, tag) and SELF-HEALS: entries record the ids
  // of the RDDs their build persisted and the value reads (see
  // [[planRdds]]), and an entry whose blocks were swept
  // (Sessions.sweep by a harness that doesn't pass `keep`) is rebuilt
  // instead of reused — a truncated-lineage checkpoint cannot
  // recompute itself. Entries of stopped contexts are dropped on every
  // call, with their ids: a later context's RDD with the same id must
  // not be exempt from its sweeps.
  private val unitMemo =
    scala.collection.mutable.Map.empty[(SparkContext, String, String), (Any, Set[Int])]
  private val memoIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** RDD ids backing memoized shared inputs — [[Sessions.sweep]]
    * callers pass this as `keep` so the (few-MB) shared corpus
    * survives between-query cache sweeps.
    */
  private[graft] def protectedRddIds(id: Int): Boolean = memoIds.contains(id)

  /** Ids of the RDDs a memoized value's frames read, with their
    * lineage (a checkpoint ends it). A build's transient checkpoints
    * are persisted too, but only until the GC collects them; recording
    * one would make the entry go stale (and retrain) at the next
    * collection.
    */
  private def planRdds(v: Any): Set[Int] = {
    def lineage(r: RDD[_]): Seq[Int] = r.id +: r.dependencies.flatMap(d => lineage(d.rdd))
    v match {
      case df: Dataset[_] =>
        df.queryExecution.logical.collect { case r: LogicalRDD => lineage(r.rdd) }.flatten.toSet
      case p: Product => p.productIterator.flatMap(planRdds).toSet
      case _ => Set.empty
    }
  }

  private def memoUnit[A](s: SparkSession, dir: String, tag: String)
                         (build: => A): A = synchronized {
    unitMemo.filterInPlace { case ((sc, _, _), (_, ids)) =>
      if (sc.isStopped) ids.foreach(memoIds.remove(_))
      !sc.isStopped
    }
    val sc = s.sparkContext
    val key = (sc, dir, tag)
    unitMemo.get(key) match {
      case Some((v, ids)) if ids.subsetOf(sc.getPersistentRDDs.keySet) =>
        v.asInstanceOf[A]
      case stale =>
        stale.foreach { case (_, ids) => ids.foreach(memoIds.remove(_)) }
        val before = sc.getPersistentRDDs.keySet
        val v = build
        val ids = (sc.getPersistentRDDs.keySet -- before).toSet intersect planRdds(v)
        ids.foreach(memoIds.add(_))
        unitMemo.put(key, (v, ids))
        v
    }
  }

  /** Normalized (vec_id, embedding, _unit) corpus, memoized per JVM. */
  private def unitEmb(s: SparkSession, dir: String): DataFrame =
    memoUnit(s, dir, "base") {
      Similarity.prepareUnit(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding")
    }

  /** Perturbed copy of every corpus vector (ids offset by
    * [[PlantOffset]]), normalized and memoized — the planted half of
    * the q124/q125 recall gates and the query batch of q167/q168.
    */
  private def unitPerturbed(s: SparkSession, dir: String): DataFrame =
    memoUnit(s, dir, "perturbed") {
      Similarity.prepareUnit(
        t(s, dir, "embeddings").select(
          (col("vec_id") + PlantOffset).as("vec_id"),
          expr("transform(embedding, (x, j) -> CAST(x * (1.0D + 0.01D * " +
            "CAST(j % 5 - 2 AS DOUBLE)) AS FLOAT))").as("embedding")),
        "vec_id", "embedding")
    }

  /** Verified near-dup pairs over `documents` at threshold 0.5 —
    * memoized for the same reason as [[unitEmb]]: q45 emits them and
    * q80/q165/q166 all consume them as their upstream input (each
    * still runs its own clustering/canonicalization/split work).
    * The checkpoint is tiny (the pair set), self-healing via
    * [[memoUnit]]'s id validation.
    */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    memoUnit(s, dir, "neardup05") {
      Dedup.minHashNearDupVerified(t(s, dir, "documents"), "doc_id",
        "text", threshold = 0.5).localCheckpoint()
    }

  /** Symmetric weighted co-purchase edge list over lineitem (parts
    * linked when they share an order) — THE graph-suite input: q142
    * (PageRank), q217 (personalized PageRank) consume it directly and
    * q146 (triangles) via the `src < dst ∧ w ≥ 2` restriction (the
    * symmetric frame carries both orientations with equal w, so the
    * filter reproduces the upper-triangle build exactly). The
    * per-order pair explosion + (src, dst) aggregation was rebuilt by
    * each query — the suite's heaviest shared prefix (r11 verdict) —
    * and is now built once per (JVM, dir) and billed on the
    * `_shared:copurchase-edges` bench line, the [[nearDupPairs]]
    * convention. Edge rows are bounded by orders × width² (width ≤ 7),
    * and the localCheckpoint is what pageRank would do to the frame
    * anyway (the round-10 lazy-re-execution lesson). q159's HITS graph
    * is NOT a consumer: it is the customer→part bipartite list
    * (orders ⋈ lineitem, no pair explosion — a different, cheaper
    * build).
    */
  private def copurchaseEdges(s: SparkSession, dir: String): DataFrame =
    memoUnit(s, dir, "copurchase") {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      // the graph is symmetric by construction — count only the
      // src < dst half (halves the pair shuffle + aggregation hash)
      // and mirror the aggregated edges after (round-14, guide §2.3);
      // the materialized edge set is row-identical
      val half = li.toDF("ok", "src").join(li.toDF("ok", "dst"), "ok")
        .filter(col("src") < col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
      half.unionByName(half.select(col("dst").as("src"),
          col("src").as("dst"), col("w")))
        .localCheckpoint()
    }

  /** 8-merge BPE training over `documents`, memoized per (JVM, dir)
    * like [[nearDupPairs]]: q177 emits the rule table, q179 consumes
    * the trained vocabulary — training runs once, not twice. The
    * (rules, words) pair is ONE memo entry: built together, swept
    * together, self-healing through [[memoUnit]]'s id check.
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

  /** The retrieval corpus fixture: the raw documents vocabulary is
    * 31 terms of df 25..402 at sf0.01 — EVERY term is a stopword by
    * the BM25 ceiling's standard, which made the retrieval queries
    * vacuously thin. Odd split positions get a `_<doc_id % 25>`
    * suffix: ~775 rare terms (df ≈ 20 — real posting lists, real
    * rankings, real expansion candidates) interleaved with the
    * original common terms the ceiling correctly prices out — the
    * realistic mixed-df shape retrieval operators exist for. Both
    * engines build it from the same indexed-lambda expression
    * (Spark 0-based `j % 2 = 1` ≡ DuckDB 1-based `(i−1) % 2 = 1`).
    */
  private def retrievalDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      expr("array_join(transform(split(text, ' '), (t, j) -> " +
        "IF(j % 2 = 1, concat(t, '_', CAST(doc_id % 25 AS STRING)), t)), ' ')")
        .as("text"))

  private val duckRetrievalText: String =
    "array_to_string(list_transform(string_split(text, ' '), " +
      "(t, i) -> CASE WHEN (i - 1) % 2 = 1 " +
      "THEN t || '_' || CAST(doc_id % 25 AS VARCHAR) ELSE t END), ' ')"

  /** Round-15 idf-grid guard over BOTH retrieval corpora (the q240
    * fixture and the q246 latest-wins index state): the minimum
    * rounding-boundary distance of any distinct idf value —
    * [[graft.llm.Retrieval.idfBoundaryDistance]]. Verify runs this
    * per dump and fails below the band, turning a potential silent
    * cross-engine score flip into a loud, metadata-sized check.
    */
  def idfGuardMin(s: SparkSession, dir: String): Double = {
    val docs = retrievalDocs(s, dir)
    val upd = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
      .select(col("doc_id"), concat(col("text"), lit(" fresh_"),
        pmod(col("doc_id"), lit(25)).cast("string")).as("text"))
    val nw = docs.filter(pmod(col("doc_id"), lit(100)) === 31)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val lexc = docs.filter(pmod(col("doc_id"), lit(100)) =!= 7)
      .unionByName(upd).unionByName(nw)
    math.min(
      graft.llm.Retrieval.idfBoundaryDistance(docs, "doc_id", "text"),
      graft.llm.Retrieval.idfBoundaryDistance(lexc, "doc_id", "text"))
  }

  /** The q240/q241 BM25 query-scoring replay up to the per-(query,
    * doc) integer score sum `sums(query_id, doc_id, score_micro)` —
    * the q137 expression with the df ceiling and the 1e-4
    * integerization mirrored from [[graft.llm.Retrieval.bm25TopK]],
    * over the [[retrievalDocs]] fixture.
    */
  /** The BM25 scoring chain over a given corpus CTE (query terms
    * always come from `rdocs` — queries are source documents; the
    * corpus is what gets searched, which for q246 is the index's
    * latest-wins logical state).
    */
  private def bm25ScoringCtes(corpus: String): String =
    s"""dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM $corpus),
      |st AS (
      |  SELECT COUNT(*) AS n_docs,
      |         CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
      |tf AS (
      |  SELECT term, doc_id, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM $corpus)
      |  WHERE term <> '' GROUP BY 1, 2),
      |dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
      |qt AS (SELECT DISTINCT query_id, term FROM
      |         (SELECT doc_id AS query_id,
      |                 unnest(string_split(text, ' ')) AS term
      |          FROM rdocs WHERE doc_id % 50 = 7)
      |       WHERE term <> ''),""".stripMargin

  /** The round-15 engine-robust scoring tail over [[bm25ScoringCtes]]:
    * term selection (df ceiling) minting the per-term `idf_micro` —
    * the ONLY transcendental of the grid, `LN` of ONE division of two
    * exact integers, Verify-guarded against rounding-boundary
    * proximity — then the per-(query, doc) sum of pure-integer
    * contributions `(2·idf_micro·w_nano + 1e11) // 2e11`, where
    * `w_nano` is a correctly-rounded IEEE chain over exact integers
    * (bit-identical on both engines by construction). Mirrors
    * [[graft.llm.Retrieval.scoreTermsFrom]] exactly; the round-14
    * grid `ROUND(LN(…)·(tf·2.2)/(…)·1e4)` let DuckDB's decimal
    * `t.tf * 2.2` and `LN` ulps flip pair roundings between engines.
    */
  private def bm25SumSql(qtRel: String, selName: String,
                         sumsName: String, outCol: String): String =
    s"""$selName AS (
      |  SELECT q.query_id, q.term,
      |         CAST(ROUND(LN(CAST(2 * (st.n_docs + 1) AS DOUBLE) /
      |           CAST(2 * d.df + 1 AS DOUBLE)) * 1e6, 0) AS BIGINT) AS idf_micro
      |  FROM $qtRel q JOIN dfq d USING (term), st
      |  WHERE d.df * 10 <= st.n_docs),
      |$sumsName AS (
      |  SELECT s.query_id, t.doc_id,
      |         SUM((2 * s.idf_micro *
      |              CAST(ROUND(CAST(22 * t.tf * st.sum_dl AS DOUBLE) /
      |                CAST(10 * t.tf * st.sum_dl + 3 * st.sum_dl
      |                     + 9 * l.dl * st.n_docs AS DOUBLE) * 1e9, 0) AS BIGINT)
      |              + 100000000000) // 200000000000) AS $outCol
      |  FROM $selName s JOIN tf t USING (term) JOIN dl l ON l.doc_id = t.doc_id, st
      |  GROUP BY 1, 2)""".stripMargin

  private val bm25QueryCtes: String =
    s"""rdocs AS MATERIALIZED (
      |  SELECT doc_id, $duckRetrievalText AS text FROM documents),
      |${bm25ScoringCtes("rdocs")}
      |${bm25SumSql("qt", "qsel", "sums", "score_micro")}""".stripMargin

  /** The q246/q247 persisted-index serve replay: the scoring chain
    * over the index's latest-wins LOGICAL corpus (base minus
    * re-ingested versions, plus updated text, plus appended new
    * docs). Both the batch-append and streaming-ingest entry points
    * land in this identical state, so both bind this one oracle.
    */
  private lazy val lexIndexOracleSql: String =
    s"""WITH rdocs AS MATERIALIZED (
       |  SELECT doc_id, $duckRetrievalText AS text FROM documents),
       |lexc AS MATERIALIZED (
       |  SELECT doc_id, text FROM rdocs WHERE doc_id % 100 <> 7
       |  UNION ALL
       |  SELECT doc_id, text || ' fresh_' || CAST(doc_id % 25 AS VARCHAR)
       |    AS text FROM rdocs WHERE doc_id % 100 = 7
       |  UNION ALL
       |  SELECT doc_id + 10000 AS doc_id, text FROM rdocs
       |  WHERE doc_id % 100 = 31),
       |""".stripMargin +
      bm25ScoringCtes("lexc") + "\n" +
      bm25SumSql("qt", "qsel", "sums", "score_micro") +
      """
        |SELECT query_id, rank, doc_id, score_micro FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |            ORDER BY score_micro DESC, doc_id) AS INT) AS rank
        |  FROM sums) WHERE rank <= 10""".stripMargin

  /** The q244/q245 PRF replay on top of [[bm25QueryCtes]]: top-5
    * feedback docs per query, exact-integer `Σ tf · idf_micro`
    * expansion weights (original terms NOT-EXISTS-excluded, the df
    * ceiling mirrored), top-10 expansion terms, the second scoring
    * pass over them, and the 60/40 integer interpolation.
    */
  private lazy val prfCtes: String =
    s"""fbk AS (SELECT query_id, doc_id FROM (
      |          SELECT query_id, doc_id, ROW_NUMBER() OVER (
      |            PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rn
      |          FROM sums) WHERE rn <= 5),
      |idfm AS (SELECT term,
      |                CAST(ROUND(LN(CAST(2 * (st.n_docs + 1) AS DOUBLE) /
      |                  CAST(2 * d.df + 1 AS DOUBLE)) * 1e6, 0) AS BIGINT)
      |                  AS idf_micro
      |         FROM dfq d, st WHERE d.df * 10 <= st.n_docs),
      |wexp AS (SELECT f.query_id, t.term, SUM(t.tf * i.idf_micro) AS w_micro
      |         FROM fbk f JOIN tf t USING (doc_id) JOIN idfm i USING (term)
      |         WHERE NOT EXISTS (SELECT 1 FROM qt q
      |                           WHERE q.query_id = f.query_id AND q.term = t.term)
      |         GROUP BY 1, 2),
      |exps AS (SELECT query_id, trank, term, w_micro FROM (
      |           SELECT *, CAST(ROW_NUMBER() OVER (
      |             PARTITION BY query_id ORDER BY w_micro DESC, term) AS INT) AS trank
      |           FROM wexp) WHERE trank <= 10),
      |${bm25SumSql("exps", "esel", "esums", "exp_micro")},
      |comb AS (SELECT COALESCE(o.query_id, e.query_id) AS query_id,
      |                COALESCE(o.doc_id, e.doc_id) AS doc_id,
      |                60 * COALESCE(o.score_micro, 0)
      |                  + 40 * COALESCE(e.exp_micro, 0) AS final_micro
      |         FROM sums o FULL OUTER JOIN esums e
      |           ON o.query_id = e.query_id AND o.doc_id = e.doc_id)""".stripMargin

  /** 8-merge BYTE-level BPE training over the unicode fixture's
    * doc_id % 4 = 0 slice — memoized like [[bpe8slice]]; consumers
    * read only the rules, the words frame is the `_shared` line.
    */
  private def bpeBytes8(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    memoUnit(s, dir, "bpebytes8")(Bpe.trainSharedBytes(
      unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) === 0),
      "text", 8))
  private def bpeBytesMerges(s: SparkSession, dir: String): DataFrame =
    bpeBytes8(s, dir)._1

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

  /** The oracle replay of [[gluedEvalDocs]]' token stream. */
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

  /** Shared memoized inputs, exposed so Bench bills each one's FIRST
    * cost as its own `_shared:*` line: with stat=min over reps a
    * memoized input's training/prep cost is otherwise attributed to NO
    * query (the first consumer's rep 1 pays it, every later rep hits
    * the memo and wins the min), so the memoized families' per-query
    * numbers under-report — q177 reported 0.016 s while its 8-merge
    * training ran unbilled in rep 1. Bench materializes these once,
    * cold, before the measured reps; consumer queries' numbers are
    * then honestly MARGINAL (memo-hit) costs, flagged in the
    * `marginal` JSON field via [[sharedConsumers]].
    */
  private[graft] val sharedInputs: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "_shared:unit-embeddings" -> ((s, dir) => unitEmb(s, dir)),
      "_shared:unit-perturbed" -> ((s, dir) => unitPerturbed(s, dir)),
      "_shared:neardup-pairs" -> ((s, dir) => nearDupPairs(s, dir)),
      "_shared:bpe8" -> ((s, dir) => bpeWords(s, dir)),
      "_shared:bpe8slice" -> ((s, dir) => bpeSliceWords(s, dir)),
      "_shared:bpebytes8" -> ((s, dir) => bpeBytes8(s, dir)._2),
      "_shared:wp8" -> ((s, dir) => wpWords(s, dir)),
      "_shared:copurchase-edges" -> ((s, dir) => copurchaseEdges(s, dir)),
      "_shared:curation-store" -> ((s, dir) =>
        s.read.parquet(s"${curationSeed(s, dir)}/corpus")
          .agg(count(lit(1)).as("n_seeded"))),
      "_shared:unigram" -> ((s, dir) => unigramModel(s, dir)))

  /** Queries whose bench time is marginal given [[sharedInputs]]. */
  private[graft] val sharedConsumers: Map[String, Seq[String]] = Map(
    "_shared:unit-embeddings" -> Seq("q47_embed_lsh", "q57_embed_ivf",
      "q124_lsh_recall", "q125_ivf_recall", "q167_ann_search",
      "q168_ann_index", "q171_semdedup_recall", "q237_pq_recall"),
    "_shared:unit-perturbed" -> Seq("q124_lsh_recall", "q125_ivf_recall",
      "q167_ann_search", "q168_ann_index", "q171_semdedup_recall",
      "q237_pq_recall"),
    "_shared:neardup-pairs" -> Seq("q80_dup_clusters", "q165_dup_canonical",
      "q166_dedup_split", "q180_soft_dedup"),
    "_shared:bpe8" -> Seq("q177_bpe_merges", "q179_bpe_tokenize",
      "q214_bpe_artifacts"),
    "_shared:bpe8slice" -> Seq("q191_bpe_encode", "q194_bpe_segment",
      "q195_bpe_pack", "q201_bpe_vocab", "q202_bpe_ids",
      "q206_pack_materialize"),
    "_shared:bpebytes8" -> Seq("q218_bpe_bytes_train",
      "q219_bpe_bytes_encode", "q220_bpe_bytes_ids",
      "q221_bpe_bytes_artifacts", "q222_bpe_gpt2_interop"),
    "_shared:wp8" -> Seq("q223_wordpiece_train", "q224_wordpiece_segment",
      "q225_wordpiece_counts", "q227_wordpiece_vocab",
      "q228_wordpiece_ids"),
    "_shared:copurchase-edges" -> Seq("q142_pagerank", "q146_triangles",
      "q217_ppr_trust"),
    "_shared:curation-store" -> Seq("q182_stream_curate"),
    "_shared:unigram" -> Seq("q230_unigram_train", "q231_unigram_segment",
      "q232_unigram_counts", "q233_unigram_vocab", "q234_unigram_ids",
      "q235_unigram_sp_interop", "q238_unigram_nbest",
      "q239_unigram_sample", "q243_unigram_sample_ids"))

  /** The q178/q181 mixture weights, and their oracle VALUES clause:
    * the SQL side receives the PRE-NORMALIZED weights (each divided by
    * the key-sorted sum, exactly as [[Sampling.mixturePlan]] computes
    * them) rendered via `Double.toString` — the shortest decimal that
    * round-trips to the identical IEEE double in any correctly-rounded
    * parser — so no engine ever re-derives the floating-point weight
    * sum and `floor()` boundaries cannot diverge.
    */
  private val mixWeights = Map("src0" -> 0.5, "src1" -> 0.25,
    "src2" -> 0.15, "src3" -> 0.1)
  private def mixWeightsSql: String = {
    val sorted = mixWeights.toSeq.sortBy(_._1)
    val wsum = sorted.map(_._2).sum
    sorted.map { case (k, v) =>
      s"('$k', CAST('${v / wsum}' AS DOUBLE))" }.mkString(", ")
  }

  /** Corpus ∪ perturbed copy of every vector: copy i scales coordinate
    * j by 1 + 0.01·((j mod 5) − 2) — deterministic, float-quantized,
    * cos(source, copy) ≈ 0.9999. Returns the union (both halves
    * pre-normalized/memoized; the union itself is narrow) and a 1-row
    * frame with the planted count.
    */
  private def plantedEmbeddings(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val all = unitEmb(s, dir).unionByName(unitPerturbed(s, dir))
    (all, unitEmb(s, dir).agg(count(lit(1)).as("n_planted")))
  }

  /** Shared cleaned-ratings input (SURVEY P1–P3) mapped onto testdata:
    * user=l_suppkey, item=l_partkey, rating=int(l_quantity) in (0,10].
    */
  private def ratings(s: SparkSession, dir: String): DataFrame =
    Cleaning.cleanRatings(t(s, dir, "lineitem"),
      "l_suppkey", "l_partkey", "l_quantity", lo = 0, hi = 10)

  /** Shared DuckDB CTE chain: exact 3-gram-Jaccard near-dup pairs →
    * symmetric edges → recursive reachability → cluster = min reachable
    * doc_id. The oracle for every cluster-derived query (q80, q165,
    * q166). Callers prepend `WITH RECURSIVE ` and append their own
    * CTEs/SELECT over `cl(doc_id, cluster)`.
    */
  private val dupClusterCte =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS s FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, shingle FROM (
      |    SELECT doc_id,
      |           unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
      |                   for i in range(1, len(s) - 1)]) AS shingle
      |    FROM toks)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |cnt AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |p AS (
      |  SELECT id_a, id_b
      |  FROM cnt JOIN sizes sa ON id_a = sa.doc_id
      |           JOIN sizes sb ON id_b = sb.doc_id
      |  WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5),
      |e AS (SELECT id_a AS s, id_b AS d FROM p
      |      UNION ALL SELECT id_b, id_a FROM p),
      |reach(src, dst) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.src, e.d FROM reach r JOIN e ON r.dst = e.s),
      |cl AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY src)""".stripMargin

  private val ratingsSql =
    """SELECT CAST(l_suppkey AS BIGINT) AS userId,
      |       CAST(l_partkey AS BIGINT) AS itemId,
      |       CAST(l_quantity AS INT) AS rating
      |FROM lineitem
      |WHERE CAST(l_quantity AS INT) > 0 AND CAST(l_quantity AS INT) <= 10""".stripMargin

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Popularity.topByAvgRating(ratings(spark, "/root/testdata/sf0.001"),
      "itemId", "rating", minCount = 2, topN = 100)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- cleaning / projection / predicates (P1-P4, P7, P8) ---
    "q01_clean_project" -> ((s, dir) => ratings(s, dir)),

    "q05_conditional_binarize" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        Cleaning.binarize(col("value"), 100.0).as("label"))),

    // --- distinct (P11) ---
    "q04_distinct" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_mktsegment")).distinct()),

    // --- aggregations (A1, A2, P6, T1, T2) ---
    "q02_popularity_topn" -> ((s, dir) =>
      Popularity.topByAvgRating(ratings(s, dir), "itemId", "rating",
        minCount = 2, topN = 100)),

    "q03_group_count" -> ((s, dir) =>
      Popularity.countsPerKey(t(s, dir, "orders"), "o_custkey", "num_orders")),

    "q17_summary_stats" -> ((s, dir) =>
      Popularity.summaryStats(t(s, dir, "lineitem"), col("l_quantity"))),

    // --- id mapping (W1, scale-safe) ---
    "q06_id_mapping" -> ((s, dir) =>
      IdMapping.denseIds(t(s, dir, "orders"), "o_custkey", "mapped_id")),

    // --- joins (J1-J5) ---
    "q07_join_inner" -> ((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
    }),

    "q08_join_semi" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"))
      o.join(rich, o("o_custkey") === rich("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"))
    }),

    "q09_join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("num_orders"))
    }),

    "q10_join_multiway_broadcast" -> ((s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          Det.sumProductRounded(col("l_extendedprice"), col("l_discount"))
            .as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // --- per-group top-k / dedup (T4, U1) ---
    "q11_topk_per_group" -> ((s, dir) =>
      TopK.perGroup(t(s, dir, "orders"), "o_custkey",
          Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rank"))),

    "q14_dedup_first_seen" -> ((s, dir) =>
      TopK.dedupFirstSeen(t(s, dir, "lineitem"), "l_orderkey",
          "l_returnflag", Seq(col("l_linenumber")))
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linenumber"))),

    // --- per-group top-k via typed Aggregator: bounded k-list state,
    //     map-side partial top-k (shuffle ~ k·groups, not |rows|) —
    //     the window-free T4 scale path ---
    "q59_topk_agg" -> ((s, dir) =>
      TopKAgg.perGroup(t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice").cast("double").as("total_d")),
        "o_custkey", "total_d", "o_orderkey", k = 3)),

    // --- per-group randomized splits (W2/M8; count invariants) ---
    "q12_split_loo_counts" -> ((s, dir) =>
      Splits.leaveOneOut(t(s, dir, "orders"), "o_custkey", seed = 42L)
        .groupBy(col("o_custkey"))
        .agg(
          sum(when(col("is_test"), 1L).otherwise(0L)).as("n_test"),
          sum(when(!col("is_test"), 1L).otherwise(0L)).as("n_train"))),

    "q13_fold_sizes" -> ((s, dir) =>
      Splits.foldAssign(t(s, dir, "orders"), "o_custkey", k = 3,
          minRows = 5, seed = 42L)
        .groupBy(col("o_custkey"), col("fold"))
        .agg(count(lit(1)).as("n"))),

    // --- generators (F3/F4) ---
    "q15_explode" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "pos", "val")),

    // --- pivot (A3/A4, bounded) ---
    "q16_pivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(Det.sumRounded(col("l_quantity"), 2))
        .na.fill(0.0)),

    // --- set operators ---
    "q18_except" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .except(t(s, dir, "orders").select(col("o_custkey")))),

    "q19_intersect" -> ((s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey")))),

    "q20_union" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_custkey").as("key"))
        .union(t(s, dir, "customer").select(col("c_custkey").as("key")))
        .distinct()),

    // --- scalar string functions (F6 + family) ---
    "q21_strings" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 12)).as("name12"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"))),

    // --- incremental upsert: latest-wins merge of a change batch onto
    //     the base (max-struct agg — map-side combine, no window sort) ---
    "q81_upsert_latest" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("version", lit(0L))
      // decimal arithmetic for the simulated price bump: double *1.1
      // then round(…,2) is engine-dependent at half-boundaries
      val changes = t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice").cast("decimal(12,2)") *
            lit("1.10").cast("decimal(4,2)"), 2)
            .cast("double").as("o_totalprice"))
        .withColumn("version", lit(1L))
      Upsert.latestWins(base.unionByName(changes),
        Seq("o_orderkey"), "version")
    }),

    // --- equi-width histogram (the profiling/EDA staple) ---
    "q83_histogram" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 25000.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"))),

    // --- TPC-H Q1-shape pricing summary: decimal-exact sums with
    //     explicit intermediate casts so the decimal lattice stays
    //     within both engines' 38-digit cap (flagship relational agg) ---
    "q79_pricing_summary" -> ((s, dir) => {
      val qty = col("l_quantity").cast("decimal(12,2)")
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val one = lit(1).cast("decimal(12,2)")
      val discPrice = (price * (one - col("l_discount").cast("decimal(12,2)")))
        .cast("decimal(18,4)")
      val charge = (discPrice * (one + col("l_tax").cast("decimal(12,2)")))
        .cast("decimal(18,6)")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= expr("TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(qty).as("_sq"), sum(price).as("_sp"),
          sum(discPrice).as("_sdp"), sum(charge).as("_sc"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("_sq").cast("double"), 2).as("sum_qty"),
          round(col("_sp").cast("double"), 2).as("sum_base_price"),
          round(col("_sdp").cast("double"), 2).as("sum_disc_price"),
          round(col("_sc").cast("double"), 2).as("sum_charge"),
          round(col("_sq").cast("double") / col("count_order"), 6).as("avg_qty"),
          round(col("_sp").cast("double") / col("count_order"), 6).as("avg_price"),
          col("count_order"))
    }),

    // --- anti join: lapsed customers — no order since 1998 (completes
    //     the join family next to inner/semi/left/broadcast; the date
    //     filter keeps the result non-trivial: every customer has SOME
    //     order in this data) ---
    "q77_anti_join" -> ((s, dir) =>
      t(s, dir, "customer").join(
          t(s, dir, "orders").filter(col("o_orderdate") >= lit("1998-01-01")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))),

    // --- time bucketing (streaming-equivalent batch window) ---
    "q22_events_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumRounded(col("value"), 2).as("sum_value"))
        .select(col("w.start").as("hour_start"), col("event_type"),
          col("n"), col("sum_value"))),

    // --- built-in session windows (batch face of sessionization; the
    //     custom-state streaming face is EventStreams.sessionize).
    //     Gap semantics: a session's window is [first, last+gap); an
    //     event landing exactly at the end starts a new session ---
    "q61_session_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          Det.sumRounded(col("value"), 2).as("sum_value"))
        .select(col("user_id"), col("w.start").as("sess_start"),
          col("n"), col("sum_value"))),

    // --- as-of join: each purchase enriched with the user's most
    //     recent click at-or-before it (AsofJoin: union + one keyed
    //     window, not a range nested-loop; oracle = DuckDB ASOF JOIN) ---
    "q70_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      AsofJoin.asofJoin(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"),
            col("event_id").as("click_id"), col("value").as("click_value")),
        "user_id", "ts", "ts",
        Seq("click_id", "click_value"))
    }),

    // --- range join: purchases inside each 2-day signup window, via
    //     the binned equi-join rewrite (RangeJoin — no nested loop) ---
    "q71_range_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val wins = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("win_id"), col("user_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 DAYS")).as("end_ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      RangeJoin.pointInInterval(wins, purch, "user_id",
          "start_ts", "end_ts", "p_ts", binSeconds = 86400L)
        .groupBy(col("win_id"), col("user_id"))
        .agg(count(lit(1)).as("n_purchases"))
    }),

    // --- sessionized conversion funnel: per user, how many 30-min
    //     sessions saw view → click → purchase in strict time order
    //     (sequence-pattern analytics on top of session windows) ---
    "q84_conversion_funnel" -> ((s, dir) => {
      val sess = t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("vt"),
          min(when(col("event_type") === "click", col("ts"))).as("ct"),
          min(when(col("event_type") === "purchase", col("ts"))).as("pt"))
      sess.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("vt") < col("ct") && col("ct") < col("pt"), 1)
            .otherwise(0)).as("n_converted"))
    }),

    // --- cube: all grouping-set combinations (completes the
    //     rollup/cube/grouping-sets family next to q23) ---
    "q62_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"))),

    // --- exact interpolated percentiles (same continuous-quantile
    //     semantics as the SQL oracle's quantile_cont) ---
    "q63_percentiles" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_price"))),

    // --- full rank family: rank / dense_rank / percent_rank /
    //     cume_dist / ntile (the reference used only row_number, W1/W2)
    "q64_rank_family" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      // ntile assigns by row POSITION — ties need a total order or the
      // tile of tied rows is engine-dependent
      val wTotal = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"),
        round(cume_dist().over(w), 6).as("cdist"),
        ntile(4).over(wTotal).as("quartile"))
    }),

    // --- rollup (beyond reference; §2.12 noted absent there) ---
    "q23_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"))),

    // --- JSON extraction (events.props) ---
    "q24_json_extract" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),

    // --- date/time parts ---
    "q25_date_parts" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"))),

    // --- attach mappings then aggregate (J2 attach + ALS_model3.py:205-208 shape) ---
    "q31_attach_mappings" -> ((s, dir) => {
      val r = ratings(s, dir)
      val users = IdMapping.denseIds(r, "userId", "u")
      val items = IdMapping.denseIds(r, "itemId", "i")
      val mapped = IdMapping.attach(
        IdMapping.attach(r, users, "userId", "userId")
          .select(r("itemId").as("itemId0"), col("rating"), col("u")),
        items.withColumnRenamed("itemId", "itemId1"), "itemId0", "itemId1")
      mapped.groupBy(col("u"))
        .agg(count(lit(1)).as("n"), Det.avgRounded(col("rating")).as("avg_r"))
    }),

    // --- null-drop on a subset of columns (P4, Model_evaluation.py:86) ---
    "q39_nadrop_subset" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          when(col("value") > 400, lit(null)).otherwise(col("value"))
            .as("value_n"),
          col("event_type"))
        .na.drop(Seq("value_n"))),

    // --- distinct-count (A8, recommendations3.py:78 nunique) ---
    "q40_distinct_count" -> ((s, dir) =>
      t(s, dir, "orders").agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderkey")).as("n_orders"))),

    // --- salted equi-join: skew-safe shuffle join, result-identical
    //     to the plain join (the oracle IS the plain join) ---
    "q60_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity").cast("int").as("qty"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      Skew.saltedJoin(li, o.withColumnRenamed("o_orderkey", "l_orderkey"),
          "l_orderkey", saltFactor = 8)
        .select(col("l_orderkey"), col("l_partkey"), col("qty"), col("o_custkey"))
    }),

    // --- join after agg+limit (J6, recommendations3.py:83-87) ---
    "q41_join_agg_limit" -> ((s, dir) => {
      val popular = Popularity.topByCount(t(s, dir, "lineitem"), "l_partkey", 50)
      val p = t(s, dir, "part")
      popular.join(p, popular("l_partkey") === p("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("num_ratings"))
    }),

    // --- spark.sql entry over registered temp views (S6) ---
    "q42_sql_entry" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_mktsegment, COUNT(*) AS n
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |GROUP BY c_mktsegment""".stripMargin)
    }),

    // --- quality report: filter+agg+sort (A7, recommendations3.py:185-193) ---
    "q43_quality_report" -> ((s, dir) =>
      ratings(s, dir).filter(col("rating") > 5)
        .groupBy(col("itemId"))
        .agg(Det.avgRounded(col("rating")).as("mean_rating"),
          count(lit(1)).as("n_recs"))
        .orderBy(col("mean_rating").desc, col("n_recs").desc, col("itemId"))),

    // --- RMSE of an item-mean predictor (M5 as a query; Eval.rmseDf) ---
    "q26_rmse" -> ((s, dir) => {
      val r = ratings(s, dir)
      val means = r.groupBy(col("itemId"))
        .agg(Det.avgRounded(col("rating")).as("pred"))
      Eval.rmseDf(r.join(means, Seq("itemId")), "rating", "pred")
    }),

    // --- binary AUC via grouped rank-sum (M6 as a query) ---
    "q27_auc" -> ((s, dir) =>
      Eval.aucDf(
        t(s, dir, "events").select(
          Cleaning.binarize(col("value"), 100.0).as("label"),
          get_json_object(col("props"), "$.k").cast("int").as("score")),
        "label", "score")),

    // --- ROC curve points (M10/S7 as a query) ---
    "q34_roc_points" -> ((s, dir) =>
      Eval.rocPoints(
        t(s, dir, "events").select(
          Cleaning.binarize(col("value"), 100.0).as("label"),
          get_json_object(col("props"), "$.k").cast("int").as("score")),
        "label", "score")),

    // --- binned-ROC twin of q34 on a CONTINUOUS score (value/7 —
    //     distinct ≈ rows at every sf): binDigits=1 decimal-floor
    //     bins the score FIRST, so the partitionless cumulative
    //     window runs over a ≤ ~700-row histogram instead of the
    //     eval set (the corpus-scale contract of Eval.rocPoints) ---
    "q192_roc_binned" -> ((s, dir) =>
      Eval.rocPoints(
        t(s, dir, "events").select(
          pmod(col("user_id"), lit(2)).cast("double").as("label"),
          (col("value") / lit(7.0)).as("score")),
        "label", "score", binDigits = Some(1))),

    // --- the aucDf face of the same knob: Mann-Whitney AUC over the
    //     decimal-floor binned continuous score (label decorrelated
    //     via user parity, so the value is non-trivially mid-range) ---
    "q196_auc_binned" -> ((s, dir) =>
      Eval.aucDf(
        t(s, dir, "events").select(
          pmod(col("user_id"), lit(2)).cast("double").as("label"),
          (col("value") / lit(7.0)).as("score")),
        "label", "score", binDigits = Some(1))),

    // --- calibration reliability diagram: a [0,1) probability score
    //     derived from the event props, labels from the value
    //     threshold; per-bin confidence vs accuracy with decimal-
    //     exact score mass (the quality-model-as-corpus-gate check) ---
    "q199_calibration_bins" -> ((s, dir) =>
      Eval.calibrationBins(
        t(s, dir, "events").select(
          Cleaning.binarize(col("value"), 100.0).as("label"),
          (get_json_object(col("props"), "$.k").cast("int")
            .cast("double") / lit(100.0)).as("score")),
        "label", "score").orderBy(col("bin"))),

    // --- the scalar face of the same binning: ECE / MCE / Brier in
    //     one ≤ nBins-row pipeline ---
    "q200_calibration_summary" -> ((s, dir) =>
      Eval.calibrationSummary(
        t(s, dir, "events").select(
          Cleaning.binarize(col("value"), 100.0).as("label"),
          (get_json_object(col("props"), "$.k").cast("int")
            .cast("double") / lit(100.0)).as("score")),
        "label", "score")),

    // --- ALS train + subset top-k serve + explode (M1/M4/F3/F4; no SQL
    //     oracle: factor optimization is not SQL-expressible → driver
    //     records the rows-only check; ε-band tests live in AlsSpec) ---
    "q33_als_recs" -> ((s, dir) => {
      val r = ratings(s, dir)
      val model = Als.fit(r, Als.Params(rank = 8, maxIter = 5, regParam = 0.1))
      val users = r.select(col("userId")).distinct().orderBy(col("userId")).limit(50)
      Als.explodeRecs(Als.recommendSubset(model, users, 5))
        .select(col("userId"), col("rank"), col("itemId"))
    }),

    // --- tiered fallback fill (T4/U1 composition; recommendations3.py
    //     fill loop as one window) ---
    "q28_fill_to_k" -> ((s, dir) => {
      val r = ratings(s, dir)
      val primary = r.filter(col("rating") >= 9)
        .select(col("userId"), col("itemId"),
          col("rating").cast("double").as("score"))
      val pool = Popularity.topByCount(r, "itemId", 5)
        .select(col("itemId"), col("num_ratings").cast("double").as("score"))
      val fallback = r.select(col("userId")).distinct().crossJoin(broadcast(pool))
      TopK.fillToK(primary, fallback, "userId", "itemId", "score", k = 3)
    }),

    // --- struct collect + posexplode + struct-field access (F4) ---
    "q35_explode_struct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey"))))
          .as("items"))
        .select(col("l_orderkey"), posexplode(col("items")))
        .select(col("l_orderkey"), (col("pos") + 1).cast("int").as("rank"),
          col("col.l_linenumber").as("ln"), col("col.l_partkey").as("pk"))),

    // --- full serving pipeline: ALS + fallback fill + broadcast titles
    //     + bounded wide pivot (EP2; rows-only, ALS-dependent) ---
    "q44_serve_wide" -> ((s, dir) => {
      val r = ratings(s, dir)
      val model = Als.fit(r, Als.Params(rank = 8, maxIter = 5, regParam = 0.1))
      val users = r.select(col("userId")).distinct().orderBy(col("userId")).limit(20)
      Serve.wide(Serve.topKWithFallback(model, users, r, k = 5), k = 5)
    }),

    // --- q44's serving semantics with the model swapped for a
    //     deterministic scorer: first-seen dedup → tiered popularity
    //     fill → bounded wide pivot, all SQL-expressible so the
    //     dedup order, fill tie-break (tier, score desc, itemId) and
    //     pivot layout of `recommendations3.py:100-177` are oracled,
    //     not rows-only ---
    "q164_serve_wide_det" -> ((s, dir) => {
      val r = ratings(s, dir)
      val users = r.select(col("userId")).distinct()
        .orderBy(col("userId")).limit(20)
      val primary = TopK.dedupFirstSeen(
          r.join(users, Seq("userId")).filter(col("rating") >= 9),
          "userId", "itemId", Seq(col("rating").desc, col("itemId")))
        .select(col("userId"), col("itemId"),
          col("rating").cast("double").as("score"))
      val pool = Popularity.topByCount(r, "itemId", 10)
        .select(col("itemId"), col("num_ratings").cast("double").as("score"))
      val fallback = users.crossJoin(broadcast(pool))
      Serve.wide(
        TopK.fillToK(primary, fallback, "userId", "itemId", "score", k = 5),
        k = 5)
    }),

    // --- LLM dedup: exact content-hash ---
    "q29_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text")),

    // --- LLM dedup: exact token-3-gram Jaccard pairs ---
    "q36_ngram_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.05)),

    // --- LLM dedup: MinHash+LSH candidates, EXACT-Jaccard verify.
    //     The verify stage removes estimation error, so the output is
    //     the exact near-dup pair set (oracle = exhaustive Jaccard SQL)
    //     as long as banding recall holds — ≥ 1−1e-4 per pair at the
    //     threshold with 32×2 bands, asserted exactly in DedupSpec ---
    // q45 computes its pairs FRESH every run — they are its OUTPUT,
    // and a memoized output would time as ~0 in the bench. The memo
    // ([[nearDupPairs]]) exists for the three queries downstream of
    // the pair set, whose own work (clustering, canonicalization,
    // splitting) is what their numbers should measure.
    "q45_minhash_neardup" -> ((s, dir) =>
      Dedup.minHashNearDupVerified(t(s, dir, "documents"), "doc_id",
        "text", threshold = 0.5)),

    // --- LLM dedup: SimHash fingerprints — oracled EXACTLY since the
    //     md5-60 token hash landed (the DuckDB oracle replays the
    //     per-bit votes; q126 remains the behavioral recall companion) ---
    "q46_simhash" -> ((s, dir) =>
      Dedup.simHash(t(s, dir, "documents"), "doc_id", "text")),

    // --- dup clusters: connected components over the verified
    //     near-dup pairs, min-id labels (oracle: recursive CTE) ---
    "q80_dup_clusters" -> ((s, dir) =>
      Dedup.dupClusters(t(s, dir, "documents"), "doc_id",
        nearDupPairs(s, dir))),

    // --- cluster canonicalization: one representative per near-dup
    //     cluster by (quality desc, doc_id asc) — the keep-one step
    //     after dedup; argmax via map-side max_by, no window ---
    "q165_dup_canonical" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val clusters = Dedup.dupClusters(d, "doc_id", nearDupPairs(s, dir))
      val quality = TextAnalysis.qualityScore(d, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      Dedup.canonicalize(clusters, quality, "doc_id", "cluster", "quality")
    }),

    // --- SOFT dedup: per-member weight 1/|cluster| + deterministic
    //     keep draw — the downweighting alternative to q165's
    //     keep-one canonicalization, over the same cluster set ---
    "q180_soft_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.softDedup(Dedup.dupClusters(d, "doc_id", nearDupPairs(s, dir)),
        "doc_id", "cluster")
    }),

    // --- dedup-aware split: train/val/test keyed by the near-dup
    //     CLUSTER id so paraphrases of train docs can never land in
    //     eval; leak_free is verified, not assumed ---
    "q166_dedup_split" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val clusters = Dedup.dupClusters(d, "doc_id", nearDupPairs(s, dir))
      Sampling.dedupAwareSplit(clusters, "doc_id", "cluster")
    }),

    // --- chunk-level exact dedup: remove every occurrence of any
    //     6-token chunk shared by >1 documents, reassemble the rest —
    //     sub-document boilerplate removal (the suffix-array-dedup
    //     stand-in); oracle replays tokenize→chunk→count→anti→
    //     reassemble verbatim ---
    "q170_chunk_dedup" -> ((s, dir) =>
      Dedup.chunkDedup(t(s, dir, "documents"), "doc_id", "text")),

    // --- benchmark decontamination (the REMOVAL face of q68's
    //     measurement): strip every 6-token chunk appearing verbatim
    //     in the benchmark slice from the training docs; bench chunk
    //     set broadcast by contract ---
    "q172_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.decontaminate(d.filter(col("doc_id") >= 20), "doc_id", "text",
        d.filter(col("doc_id") < 20), "doc_id", "text")
    }),

    // --- CCNet-shape reference-perplexity filter: add-one-smoothed
    //     bigram LM trained on the src0 slice, every doc scored
    //     against it, per-language head/middle/tail perplexity
    //     tertiles via a value-histogram cutoff (no global rank) ---
    "q175_ref_perplexity" -> ((s, dir) =>
      LangModel.refPerplexityBuckets(t(s, dir, "documents"), "doc_id",
        "text", "lang", col("source") === "src0")),

    // --- exact-substring duplicate spans (suffix-array-dedup
    //     reporting shape): 5-token windows duplicated anywhere in
    //     the corpus, merged per doc into maximal spans; per-doc
    //     duplicated-token coverage ---
    "q176_substr_spans" -> ((s, dir) =>
      Dedup.substrDupSpans(t(s, dir, "documents"), "doc_id", "text")),

    // --- BPE merge learning (Sennrich et al.): 8 merge rounds over
    //     the corpus word-frequency table — one corpus pass, then
    //     vocabulary-sized rounds; argmax ties break on the pair
    //     string so the merge table is a pure function of the corpus ---
    "q177_bpe_merges" -> ((s, dir) => bpeMerges(s, dir)),

    // --- token-budget mixture plan (Dolma/Pile mixing calculator):
    //     per-source availability vs target mixture under a 4-epoch
    //     repetition cap; budget deliberately exceeds what src0's
    //     weight can supply so the deficit path is exercised ---
    "q178_mixture_plan" -> ((s, dir) =>
      Sampling.mixturePlan(t(s, dir, "documents"), "source", "text",
        weights = mixWeights, budget = 50000L, maxEpochs = 4)),

    // --- realize the mixture plan: floor(rate) copies + md5-Bernoulli
    //     fractional copy per doc; achieved vs planned tokens per
    //     source — budget 5000 keeps rates fractional so the
    //     Bernoulli path is exercised (q178's 50000 saturates the cap) ---
    "q181_realize_mixture" -> ((s, dir) =>
      Sampling.realizeMixture(t(s, dir, "documents"), "doc_id", "source",
        "text", weights = mixWeights, budget = 5000L, maxEpochs = 4)),

    // --- streaming curation face, batch twin: seed the persisted
    //     store with one wave (doc_id % 4 != 0 — lang/quality filters,
    //     internal exact + near-dup), then curate the second wave
    //     (doc_id % 4 == 0) AGAINST the store: exact dedup probes the
    //     stored content-hash set, near-dup probes the stored MinHash
    //     signature index (the q141 O(batch) contract), survivors
    //     append. Output = the second micro-batch's funnel. The oracle
    //     replays both waves with exhaustive exact-Jaccard cross/inner
    //     pair sets — the greedy-online store semantics, pinned ---
    "q182_stream_curate" -> ((s, dir) => {
      // wave-1 store build billed once on _shared:curation-store; each
      // q182 run copies the pristine seed (megabytes of parquet, a
      // filesystem walk) and curates ONLY the second wave against it —
      // reps stay idempotent because wave 2 appends to the COPY
      val store = scratch("curation", dir)
      rmTree(new java.io.File(store))
      copyTree(java.nio.file.Paths.get(curationSeed(s, dir)),
        java.nio.file.Paths.get(store))
      graft.streaming.CurationStream.processBatch(
        t(s, dir, "documents").filter(col("doc_id") % 4 === 0),
        "doc_id", "text", langProfiles, store)
    }),

    // --- BPE tokenization under the freshly-trained 8-merge vocab:
    //     per-doc word/char/symbol counts + compression ratio; the
    //     per-word symbol count is vocabulary-sized, the corpus word
    //     stream equi-joins it ---
    "q179_bpe_tokenize" -> ((s, dir) =>
      Bpe.tokenCountsWith(t(s, dir, "documents"), "doc_id", "text",
        bpeWords(s, dir))),

    // --- TRUE BPE encoding of unseen text (the production tokenizer
    //     serve face): train on the doc_id%4=0 slice, then ENCODE the
    //     disjoint complement with adjacent token pairs GLUED into
    //     words the training never saw — the greedy merge application
    //     segments them into learned sub-words (vs q179's char-count
    //     OOV fallback), so n_oov collapses to truly-unseen CHARACTERS
    //     (zero here) and n_bpe reflects real token economics ---
    "q191_bpe_encode" -> ((s, dir) =>
      Bpe.encodeTokenCountsWith(gluedEvalDocs(s, dir), "doc_id", "text",
        bpeSliceMerges(s, dir), bpeSliceWords(s, dir))),

    // --- the tokenizer's ACTUAL serve output: the per-distinct-word
    //     segmentation table over the same never-seen glued corpus —
    //     `segmented` is the bracketed sub-word sequence ("<s><low>"),
    //     pinned symbol-for-symbol against the oracle's sequential
    //     merge replay ---
    "q194_bpe_segment" -> ((s, dir) =>
      Bpe.encodeSegments(gluedEvalDocs(s, dir), "text",
        bpeSliceMerges(s, dir), bpeSliceWords(s, dir))),

    // --- pack context windows by TRUE BPE token counts (the real SFT
    //     packing flow): per-doc n_bpe from the cross-corpus encoder
    //     feeds the no-straddle length-class packer — windows budgeted
    //     in tokenizer tokens, not whitespace words; over-long docs
    //     flagged -1 for chunking ---
    "q195_bpe_pack" -> ((s, dir) => {
      val counts = Bpe.encodeTokenCountsWith(gluedEvalDocs(s, dir),
          "doc_id", "text", bpeSliceMerges(s, dir), bpeSliceWords(s, dir))
        .select(col("doc_id"), col("n_bpe"))
      val langs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      Packing.bucketPackCounted(counts.join(langs, "doc_id"), "doc_id",
        "n_bpe", "lang", contextLen = 256, saltBlocks = 4)
    }),

    // --- the trained tokenizer's token-id table (piece ↔ id
    //     bijection: space at 0, alphabet in binary order, merges in
    //     rank order) — the FULL table hash-compared against the
    //     SQL-replayed vocabulary ---
    "q201_bpe_vocab" -> ((s, dir) =>
      Bpe.pieceVocab(bpeSliceMerges(s, dir), bpeSliceWords(s, dir))),

    // --- the pretraining artifact: per-doc flat token-ID sequences
    //     over the never-seen glued corpus, with id 0 whitespace
    //     tokens and -1 OOV markers; the output row carries the
    //     position-weighted id fingerprint (order-sensitive — any id,
    //     order, or interleave divergence moves it) and an HONEST
    //     decode-roundtrip flag computed from decodeIds, which the
    //     oracle predicts as n_oov = 0 ---
    "q202_bpe_ids" -> ((s, dir) => {
      val docs = gluedEvalDocs(s, dir)
      val rules = bpeSliceMerges(s, dir)
      val words = bpeSliceWords(s, dir)
      // materialize once: the encode chain feeds BOTH the fingerprint
      // and the decode round trip (the q169 double-execution lesson)
      val enc = Bpe.encodeIds(docs, "doc_id", "text", rules, words)
        .localCheckpoint()
      val dec = Bpe.decodeIds(enc, "doc_id", "ids", rules, words)
      val expected = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("_wpos", "word")))
        .filter(Bpe.wordOk)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("_wpos"), col("word"))))
          .as("_ws"))
        .select(col("doc_id"),
          expr("array_join(transform(_ws, x -> x.word), ' ')").as("_exp"))
      enc.join(dec, Seq("doc_id")).join(expected, Seq("doc_id"))
        .select(col("doc_id"), col("n_bpe"), col("n_oov"),
          expr("aggregate(transform(ids, (x, i) -> CAST(x AS BIGINT) * (i + 1)), " +
            "CAST(0 AS BIGINT), (a, y) -> a + y)").as("ids_fp"),
          (col("text_decoded") === col("_exp")).cast("int")
            .as("roundtrip_ok"))
    }),

    // --- the pipeline's FINAL artifact: packed context windows
    //     MATERIALIZED as token-id streams (encodeIds → bucketPack →
    //     one row per window, docs in slot order, -2 boundary
    //     markers); the position-weighted window fingerprint pins id
    //     content AND order against the fully-nested SQL replay ---
    "q206_pack_materialize" -> ((s, dir) => {
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
    }),

    // --- Johnson–Lindenstrauss ±1 random projection: 64 → 8 dims via
    //     the md5-sign matrix, exact decimal accumulation (a narrow
    //     codegen'd scan — the pre-shrink before LSH/clustering when
    //     dimensionality is the cost driver) ---
    "q207_random_project" -> ((s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"), "vec_id",
          "embedding", outDim = 8, inDim = 64, seed = 42)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "y")))
        .select(col("vec_id"), col("j"),
          round(col("y").cast("double"), 6).as("y"))),

    // --- exact-substring dedup as a TRANSFORM (Lee et al. 2022): the
    //     corpus-wide first occurrence of each duplicated 5-gram
    //     survives, every other duplicated span is stripped from the
    //     text; reassembly is one codegen'd merge-walk per doc ---
    "q208_remove_dup_spans" -> ((s, dir) =>
      Dedup.removeDupSpans(t(s, dir, "documents"), "doc_id", "text")),

    // --- random projection AS the ANN scale path: LSH top-3 over the
    //     64→32 PROJECTED corpus must still recall every planted
    //     perturbed twin (cos 0.9999 pairs survive the JL shrink) ---
    "q209_rp_lsh_recall" -> ((s, dir) => {
      val (all, nPlanted) = plantedEmbeddings(s, dir)
      val proj = Similarity.randomProject(all, "vec_id", "_unit",
          outDim = 32, inDim = 64, seed = 42)
        .select(col("vec_id"), col("proj").cast("array<float>").as("embedding"))
      val hits = Similarity.embedLshTopK(proj, "vec_id", "embedding", k = 3)
        .filter(col("id_a") >= PlantOffset &&
          col("id_b") === col("id_a") - PlantOffset)
      nPlanted.crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    }),

    // --- shot-boundary detection over synthetic MJPEG-AVIs with a
    //     known cut structure (A A B B B C): first frame + 2 pattern
    //     transitions = 3 cuts/3 shots per video; within-shot frames
    //     are byte-identical JPEGs ⇒ Hamming 0 ---
    "q210_video_scene_cuts" -> ((s, dir) => {
      import s.implicits._
      val vids = t(s, dir, "documents")
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
      Multimodal.videoSceneCuts(vids, "vid_id", "avi", threshold = 1)(s)
        .agg(
          countDistinct(col("vid_id")).as("n_videos"),
          count(lit(1)).as("n_frames"),
          sum(col("is_cut")).as("n_cuts"),
          sum((col("hamming") === 0).cast("long")).as("n_static"),
          max(col("shot")).cast("int").as("max_shot"))
    }),

    // --- one-frame-per-SHOT keyframe sampling over the q210 fixture
    //     (frames A A B B B C → shots {0,1} {2,3,4} {5}): each shot's
    //     deterministic MIDDLE frame — predicted per (vid_id, shot)
    //     row for row by the closed-form oracle ---
    "q236_shot_keyframes" -> ((s, dir) => {
      import s.implicits._
      val vids = t(s, dir, "documents")
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
      Multimodal.shotKeyframes(vids, "vid_id", "avi", threshold = 1)(s)
    }),

    // --- precision–recall curve (the imbalanced-label companion of
    //     q34's ROC: a corpus keep-gate's positive class is the
    //     minority, where ROC hides precision collapse) ---
    "q211_pr_points" -> ((s, dir) =>
      Eval.prPoints(
        t(s, dir, "events").select(
          Cleaning.binarize(col("value"), 100.0).as("label"),
          get_json_object(col("props"), "$.k").cast("int").as("score")),
        "label", "score")),

    // --- PSI distribution drift between two corpus snapshots (here:
    //     the even/odd user_id halves of the event values): dense
    //     fixed-width bins, add-half smoothing, per-bin contributions ---
    "q212_psi_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      Eval.psiBins(
        ev.filter(pmod(col("user_id"), lit(2)) === 0).select(col("value")),
        ev.filter(pmod(col("user_id"), lit(2)) === 1).select(col("value")),
        "value", lo = 0.0, hi = 200.0, nBins = 10)
    }),

    // --- tokenizer artifact export/import roundtrip: the trained
    //     merge table through the GPT-2 merges.txt shape (line order
    //     IS the rank) and back — the interop face a serving stack
    //     consumes; oracle = the q177 training replay, so a drop or
    //     reorder anywhere in the roundtrip flips the row red ---
    "q214_bpe_artifacts" -> ((s, dir) => {
      val path = scratch("bpeart", dir)
      Bpe.exportArtifacts(bpeMerges(s, dir), bpeWords(s, dir), path)
      Bpe.importMerges(s, path)
    }),

    // --- production-style pretokenization (simplified GPT-2 shape):
    //     letter/digit/punct runs become space-separated tokens, the
    //     word stream a real tokenizer trains on ---
    "q215_pretokenize" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.preTokenize(col("text")).as("text"))),

    // --- the BPE trainer over the PRETOKENIZED corpus — the whole
    //     training stack composes with q215's rewrite (punctuation no
    //     longer glued onto word types), replayed end to end in SQL
    //     by swapping the oracle's text source expression ---
    "q216_bpe_pretok" -> ((s, dir) =>
      Bpe.learnMerges(
        t(s, dir, "documents").select(col("doc_id"),
          TextAnalysis.preTokenize(col("text")).as("text")),
        "text", nMerges = 8)),

    // --- BYTE-level BPE training (the production GPT-2/Llama shape):
    //     base alphabet = the 256 UTF-8 bytes as hex symbols, learned
    //     over the unicode fixture's training slice — accents, CJK and
    //     emoji are just bytes; the same SQL merge chain replays it
    //     rank by rank over hex(encode(word)) ---
    "q218_bpe_bytes_train" -> ((s, dir) => bpeBytesMerges(s, dir)),

    // --- byte-level encoding of the NEVER-SEEN unicode complement:
    //     six of the eight tail words carry characters the training
    //     slice never contained, and n_oov must still be the
    //     STRUCTURAL 0 the byte alphabet guarantees (the char-level
    //     stack marks such words OOV — this is the gap byte-level
    //     closes; the PinSpec twin asserts the 0 directly) ---
    "q219_bpe_bytes_encode" -> ((s, dir) =>
      Bpe.encodeTokenCountsBytes(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "doc_id", "text", bpeBytesMerges(s, dir))),

    // --- byte-level token ids + HONEST decode roundtrip on unicode:
    //     flat id streams with the space BYTE (id 32) interleaved,
    //     position-weighted id fingerprint, decode(encode(d)) compared
    //     byte-exactly against the clean word stream — emoji included.
    //     The oracle PREDICTS n_oov = 0 / roundtrip_ok = 1; the Spark
    //     side computes both honestly (vocab-join nulls, real decode) ---
    "q220_bpe_bytes_ids" -> ((s, dir) => {
      val docs = unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val rules = bpeBytesMerges(s, dir)
      val enc = Bpe.encodeIdsBytes(docs, "doc_id", "text", rules)
        .localCheckpoint()
      val dec = Bpe.decodeIdsBytes(enc, "doc_id", "ids", rules)
      val expected = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("_wpos", "word")))
        .filter(Bpe.byteWordOk)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("_wpos"), col("word"))))
          .as("_ws"))
        .select(col("doc_id"),
          expr("array_join(transform(_ws, x -> x.word), ' ')").as("_exp"))
      enc.join(dec, Seq("doc_id")).join(expected, Seq("doc_id"))
        .select(col("doc_id"), col("n_bpe"), col("n_oov"),
          expr("aggregate(transform(ids, (x, i) -> CAST(x AS BIGINT) * (i + 1)), " +
            "CAST(0 AS BIGINT), (a, y) -> a + y)").as("ids_fp"),
          (col("text_decoded") === col("_exp")).cast("int")
            .as("roundtrip_ok"))
    }),

    // --- byte-level artifact interop: merges.txt (GPT-2 line shape —
    //     hex symbols are still space-free) + the fixed-256-base vocab
    //     parquet through disk and back, rejoined so a drop, reorder,
    //     or id drift anywhere in the roundtrip flips the row red ---
    "q221_bpe_bytes_artifacts" -> ((s, dir) => {
      val path = scratch("bpebart", dir)
      Bpe.exportArtifactsBytes(bpeBytesMerges(s, dir), path)
      Bpe.importMerges(s, path)
        .join(s.read.parquet(s"$path/vocab"),
          col("merged") === col("piece"))
        .select(col("rank"), col("lhs"), col("rhs"), col("merged"),
          col("token_id"))
    }),

    // --- TRUE GPT-2 merges.txt interop: the byte-level rules rendered
    //     through the bytes_to_unicode alphabet (space byte → Ġ, é's
    //     UTF-8 bytes → Ã© — the published artifact's exact look), a
    //     file a real GPT-2 loader consumes; imported back through the
    //     inverse bijection, the roundtrip must reproduce the q218
    //     training replay verbatim ---
    "q222_bpe_gpt2_interop" -> ((s, dir) => {
      val path = scratch("bpegpt2", dir)
      Bpe.exportMergesGpt2(bpeBytesMerges(s, dir), path)
      Bpe.importMergesGpt2(s, path)
    }),

    // --- the byte stack composes with X138 pretokenization on raw
    //     unicode: letter/digit runs become clean word types while
    //     CJK/emoji/accented runs isolate as punct-class tokens, and
    //     the byte trainer learns over BOTH without an OOV case —
    //     replayed end to end by swapping the oracle's text source
    //     for pretokenize(unicode fixture) ---
    "q226_bpe_bytes_pretok" -> ((s, dir) =>
      Bpe.learnMergesBytes(
        unicodeDocs(s, dir).select(col("doc_id"),
          TextAnalysis.preTokenize(col("text")).as("text")),
        "text", nMerges = 8)),

    // --- WORDPIECE training (the BERT tokenizer family): merges
    //     picked by the LIKELIHOOD score count(l,r)/(count(l)·count(r))
    //     — cohesion, not raw frequency — over position-aware symbols
    //     (first piece bare, continuations ##-prefixed); replayed
    //     round by round in SQL with the same replace chain and a
    //     score argmax over exact integer counts ---
    "q223_wordpiece_train" -> ((s, dir) => wpMerges(s, dir)),

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
    "q224_wordpiece_segment" -> ((s, dir) =>
      WordPiece.encodeSegments(
        wpEvalDocs(s, dir),
        "text", wpMerges(s, dir), wpWords(s, dir),
        maxInputCharsPerWord = WordPiece.OracleMaxWordLen)),

    // --- per-document WordPiece economics with the honest UNK tally
    //     (the closed-vocabulary loss a corpus report must surface) ---
    "q225_wordpiece_counts" -> ((s, dir) =>
      WordPiece.tokenCounts(
        wpEvalDocs(s, dir),
        "doc_id", "text", wpMerges(s, dir), wpWords(s, dir),
        maxInputCharsPerWord = WordPiece.OracleMaxWordLen)),

    // --- the WordPiece token-id table (X143), THROUGH the BERT
    //     artifact: pieceVocab → vocab.txt (one piece per line, line
    //     order = id, specials [PAD][UNK][CLS][SEP][MASK] at 0..4) →
    //     import — the FULL piece↔id bijection hash-compared against
    //     the SQL-replayed construction, so export→import identity
    //     and the id assignment are one oracled gate ---
    "q227_wordpiece_vocab" -> ((s, dir) => {
      val path = scratch("wpvocab", dir)
      WordPiece.exportVocabTxt(wpMerges(s, dir), wpWords(s, dir), path)
      WordPiece.importVocabTxt(s, path)
    }),

    // --- the BERT-style pretraining artifact: per-doc flat token-id
    //     sequences over the PLAIN eval complement (no whitespace
    //     tokens — word boundaries live in the bare-vs-## split),
    //     [UNK]'s id 1 for dead words; the output row carries the
    //     position-weighted id fingerprint (order-sensitive) and an
    //     HONEST decode-roundtrip flag from decodeIds, which the
    //     oracle predicts as n_unk = 0 ---
    "q228_wordpiece_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .select(col("doc_id"), col("text"))
      val rules = wpMerges(s, dir)
      val words = wpWords(s, dir)
      val enc = WordPiece.encodeIds(docs, "doc_id", "text", rules, words,
          maxInputCharsPerWord = WordPiece.OracleMaxWordLen)
        .localCheckpoint()
      val dec = WordPiece.decodeIds(enc, "doc_id", "ids", rules, words)
      val expected = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("_wpos", "word")))
        .filter(Bpe.wordOk)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("_wpos"), col("word"))))
          .as("_ws"))
        .select(col("doc_id"),
          expr("array_join(transform(_ws, x -> x.word), ' ')").as("_exp"))
      enc.join(dec, Seq("doc_id")).join(expected, Seq("doc_id"))
        .select(col("doc_id"), col("n_wp"), col("n_unk"),
          expr("aggregate(transform(ids, (x, i) -> CAST(x AS BIGINT) * (i + 1)), " +
            "CAST(0 AS BIGINT), (a, y) -> a + y)").as("ids_fp"),
          (col("text_decoded") === col("_exp")).cast("int")
            .as("roundtrip_ok"))
    }),

    // --- UNIGRAM-LM seed vocabulary (X144, SentencePiece family):
    //     overlapping substring counts scored freq·length, every
    //     single char kept (coverage floor), top-K multi-char by
    //     (score, UTF-8 piece order), quantized initial probabilities
    //     q = score·1e9 ÷ Σscore in exact integer division ---
    "q229_unigram_seed" -> ((s, dir) =>
      graft.llm.Unigram.seedModel(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) === 0),
        "text", seedMulti = UniSeedMulti)),

    // --- the EM-trained unigram model: 2 rounds of per-word
    //     forward-backward expected counts (floats ONLY inside the
    //     fixed-order per-word DP; every cross-word boundary is exact
    //     integers — see Unigram.scala's bit-replayability note),
    //     pruned to chars + top-32 multi by expected count — the full
    //     lattice-EM replayed CTE for CTE in the oracle ---
    "q230_unigram_train" -> ((s, dir) => unigramModel(s, dir)),

    // --- Viterbi serving (the SentencePiece serve face — the single
    //     most-probable segmentation, not greedy longest-match): the
    //     third family's answer on the SAME unicode eval words where
    //     byte-BPE stays n_oov = 0 (q219) and WordPiece says [UNK]
    //     (q224) — a closed char vocabulary UNKs the unseen-script
    //     tails, pinned against the integer-cost DP replay ---
    "q231_unigram_segment" -> ((s, dir) =>
      graft.llm.Unigram.viterbiSegments(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "text", unigramModel(s, dir))),

    // --- per-document Unigram economics with the honest UNK tally ---
    "q232_unigram_counts" -> ((s, dir) =>
      graft.llm.Unigram.tokenCounts(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "doc_id", "text", unigramModel(s, dir))),

    // --- the Unigram token-id table (X145), THROUGH the SentencePiece
    //     .vocab-shaped artifact: [UNK]/space reserved at 0/1, pieces
    //     in (q desc, UTF-8) order, one piece<TAB>q line per id —
    //     export → import → full-table hash compare, so artifact
    //     roundtrip identity and id assignment are one oracled gate ---
    "q233_unigram_vocab" -> ((s, dir) => {
      val path = scratch("univocab", dir)
      graft.llm.Unigram.exportVocabTsv(unigramModel(s, dir), path)
      graft.llm.Unigram.importVocabTsv(s, path)
    }),

    // --- the pretraining artifact, Unigram face: per-doc flat id
    //     sequences under the Viterbi segmentation with id-1 space
    //     boundaries ([UNK] = id 0 for dead words); position-weighted
    //     fingerprint + the HONEST decode-roundtrip flag, predicted by
    //     the oracle as n_unk = 0 ---
    "q234_unigram_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .select(col("doc_id"), col("text"))
      val model = unigramModel(s, dir)
      val enc = graft.llm.Unigram.encodeIds(docs, "doc_id", "text", model)
        .localCheckpoint()
      val dec = graft.llm.Unigram.decodeIds(enc, "doc_id", "ids", model)
      val expected = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("_wpos", "word")))
        .filter(Bpe.wordOk)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("_wpos"), col("word"))))
          .as("_ws"))
        .select(col("doc_id"),
          expr("array_join(transform(_ws, x -> x.word), ' ')").as("_exp"))
      enc.join(dec, Seq("doc_id")).join(expected, Seq("doc_id"))
        .select(col("doc_id"), col("n_tok"), col("n_unk"),
          expr("aggregate(transform(ids, (x, i) -> CAST(x AS BIGINT) * (i + 1)), " +
            "CAST(0 AS BIGINT), (a, y) -> a + y)").as("ids_fp"),
          (col("text_decoded") === col("_exp")).cast("int")
            .as("roundtrip_ok"))
    }),

    // --- SentencePiece-convention interop (X146, the X141/GPT-2
    //     treatment for the third family): the trained model rendered
    //     through the PUBLISHED ▁ word-boundary convention — <unk> at
    //     id 0, each piece as a (▁piece, piece) line pair sharing its
    //     exact float log-prob — then imported back; hash equality
    //     proves the rendering order AND the integer↔float roundtrip ---
    "q235_unigram_sp_interop" -> ((s, dir) => {
      val path = scratch("unisp", dir)
      graft.llm.Unigram.exportVocabSp(unigramModel(s, dir), path)
      graft.llm.Unigram.importVocabSp(s, path)
    }),

    // --- k-best Viterbi over the lattice (X148, SentencePiece's
    //     NBestEncode): each word's 4 best segmentations under the
    //     (integer cost, piece count, UTF-8 seq) total order — rank 1
    //     IS the q231 Viterbi row; exact because top-k-per-position
    //     survives suffix append (translation-invariant order) ---
    "q238_unigram_nbest" -> ((s, dir) =>
      graft.llm.Unigram.nbestSegments(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "text", unigramModel(s, dir), nbest = 4)),

    // --- subword regularization (X148, Kudo 2018 SampleEncode): each
    //     word OCCURRENCE draws one of its 4-best segmentations with
    //     probability ∝ p^α — different across occurrences, identical
    //     across runs/partitionings/engines (quantized exp weights,
    //     15-hex md5 draw mod total weight) ---
    "q239_unigram_sample" -> ((s, dir) =>
      graft.llm.Unigram.sampleSegments(
        unicodeDocs(s, dir).filter(pmod(col("doc_id"), lit(4)) =!= 0),
        "doc_id", "text", unigramModel(s, dir), nbest = 4, alpha = 0.5)),

    // --- the pretraining artifact UNDER subword regularization
    //     (X148): per-doc flat id sequences where every word
    //     OCCURRENCE segments by its epoch-1 sampled draw instead of
    //     Viterbi — different epochs give different id streams that
    //     decode to the IDENTICAL clean text (honest roundtrip flag,
    //     oracle predicts n_unk = 0 on the plain slice) ---
    "q243_unigram_sample_ids" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(4)) =!= 0)
        .select(col("doc_id"), col("text"))
      val model = unigramModel(s, dir)
      val enc = graft.llm.Unigram.encodeIdsSampled(docs, "doc_id",
          "text", model, nbest = 4, alpha = 0.5, epoch = 1)
        .localCheckpoint()
      val dec = graft.llm.Unigram.decodeIds(enc, "doc_id", "ids", model)
      val expected = docs.select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("_wpos", "word")))
        .filter(Bpe.wordOk)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("_wpos"), col("word"))))
          .as("_ws"))
        .select(col("doc_id"),
          expr("array_join(transform(_ws, x -> x.word), ' ')").as("_exp"))
      enc.join(dec, Seq("doc_id")).join(expected, Seq("doc_id"))
        .select(col("doc_id"), col("n_tok"), col("n_unk"),
          expr("aggregate(transform(ids, (x, i) -> CAST(x AS BIGINT) * (i + 1)), " +
            "CAST(0 AS BIGINT), (a, y) -> a + y)").as("ids_fp"),
          (col("text_decoded") === col("_exp")).cast("int")
            .as("roundtrip_ok"))
    }),

    // --- query-likelihood BM25 retrieval (X149): each query doc's
    //     distinct terms score the corpus through the q137 formula,
    //     integerized per-term at 1e-4 BEFORE the cross-term sum
    //     (order-free integer aggregation); the df ceiling drops
    //     >10%-corpus stopword terms so posting fan-out stays
    //     bounded; per-query cut = the native bounded top-k agg ---
    "q240_bm25_query" -> ((s, dir) => {
      val docs = retrievalDocs(s, dir)
      graft.llm.Retrieval.bm25TopK(docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
        "text", k = 10)
    }),

    // --- hybrid retrieval via reciprocal-rank fusion (X149, RRF
    //     k0 = 60): the q240 lexical run fused with the exact dense
    //     cosine run on pure-integer 10^12 DIV (k0+rank)
    //     contributions — ranks, not scores, cross the retriever
    //     boundary ---
    "q241_hybrid_rrf" -> ((s, dir) => {
      val docs = retrievalDocs(s, dir)
      val lex = graft.llm.Retrieval.bm25TopK(docs, "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
          "text", k = 10)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.embedCosineTopK(emb,
          emb.filter(pmod(col("vec_id"), lit(50)) === 7),
          "vec_id", "embedding", k = 10)
        .select(col("id_a").as("query_id"), col("id_b").as("doc_id"),
          col("rank"))
      graft.llm.Retrieval.rrfFuse(Seq(lex, dense), k0 = 60, topK = 10)
    }),

    // --- pseudo-relevance-feedback expansion terms (X151, Rocchio):
    //     each query's top-5 BM25 docs taken as relevant, their terms
    //     weighted by exact-integer Σ tf·idf_micro, original terms
    //     and ceiling stopwords excluded, top-10 kept per query ---
    "q244_prf_terms" -> ((s, dir) => {
      val docs = retrievalDocs(s, dir)
      graft.llm.Retrieval.prfExpandTerms(docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
        "text", kFeedback = 5, mExpand = 10)
    }),

    // --- PRF-expanded reranking (X151): original BM25 interpolated
    //     60/40 with a second pass over the expansion terms — a doc
    //     matching ONLY expansion vocabulary becomes retrievable (the
    //     vocabulary-gap case PRF exists for); pure integer percent
    //     arithmetic end to end ---
    "q245_prf_rerank" -> ((s, dir) => {
      val docs = retrievalDocs(s, dir)
      graft.llm.Retrieval.prfRerank(docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
        "text", kFeedback = 5, mExpand = 10, origPct = 60, k = 10)
    }),

    // --- persisted lexical index (X152, the train-once/serve-many
    //     BM25 face — the lexical twin of q168's IVF index): build on
    //     the full corpus, APPEND one batch that re-ingests the
    //     %100=7 docs with new text AND adds brand-new +10000 docs,
    //     then serve — latest-wins resolution must retrieve the new
    //     text, the new docs, and NOT the replaced versions ---
    "q246_lex_index" -> ((s, dir) => {
      val docs = retrievalDocs(s, dir)
      val path = scratch("lexidx", dir)
      graft.llm.Retrieval.buildLexIndex(docs, "doc_id", "text", path)
      val upd = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id"), concat(col("text"), lit(" fresh_"),
          pmod(col("doc_id"), lit(25)).cast("string")).as("text"))
      val nw = docs.filter(pmod(col("doc_id"), lit(100)) === 31)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      graft.llm.Retrieval.appendToLexIndex(s, path,
        upd.unionByName(nw), "doc_id", "text")
      graft.llm.Retrieval.searchLexIndex(s, path,
        docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
        "text", k = 10)
    }),

    // --- STREAMING index ingest (X153, the micro-batch face of
    //     X152): the same update+new waves land as files, each
    //     micro-batch appends as the next index version via
    //     foreachBatch, and the serve result must equal BOTH the
    //     batch-append path (q246) and the direct SQL computation —
    //     the three entry points share one oracle ---
    "q247_lex_stream_ingest" -> ((s, dir) => {
      val docs = retrievalDocs(s, dir)
      val path = scratch("lexstream", dir)
      rmTree(new java.io.File(path))
      graft.llm.Retrieval.buildLexIndex(docs, "doc_id", "text",
        s"$path/index")
      val upd = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
        .select(col("doc_id"), concat(col("text"), lit(" fresh_"),
          pmod(col("doc_id"), lit(25)).cast("string")).as("text"))
      val nw = docs.filter(pmod(col("doc_id"), lit(100)) === 31)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      upd.coalesce(1).write.mode("append").parquet(s"$path/waves")
      nw.coalesce(1).write.mode("append").parquet(s"$path/waves")
      graft.streaming.LexIndexStream.ingest(s, s"$path/waves",
        upd.schema, "doc_id", "text", s"$path/index", s"$path/ckpt")
      graft.llm.Retrieval.searchLexIndex(s, s"$path/index",
        docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
        "text", k = 10)
    }),

    // --- tokenizer SELECTION panel (X150): all three production
    //     families, trained on the SAME corpus slice, compared on the
    //     SAME eval complement — fertility (pieces/word), bytes/piece
    //     (context efficiency), UNK share (what the closed vocabulary
    //     destroys; byte-BPE structurally 0). Integer micro/ppm
    //     ratios over exact sums; each family's per-doc economics is
    //     its already-oracled serve chain ---
    "q242_tokenizer_panel" -> ((s, dir) => {
      val eval = unicodeDocs(s, dir)
        .filter(pmod(col("doc_id"), lit(4)) =!= 0)
      val bytes = eval.select(col("doc_id"),
          explode(split(col("text"), " ")).as("word"))
        .filter(Bpe.wordOk)
        .groupBy(col("doc_id"))
        .agg(sum(expr("octet_length(word)")).as("n_bytes"))
      val bpe = Bpe.encodeTokenCountsBytes(eval, "doc_id", "text",
          bpeBytesMerges(s, dir))
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
    }),

    // --- incremental index ingest: build the IVF index on the base
    //     corpus, APPEND the perturbed twins without retraining, then
    //     every base query must find its appended twin in the top-3
    //     (self ranks 1 at cos 1.0, the twin at cos ≈ 0.9999) ---
    "q213_ann_append" -> ((s, dir) => {
      val emb = unitEmb(s, dir)
      val path = scratch("ivfappend", dir)
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", path)
      Similarity.appendToIvfIndex(s, path, unitPerturbed(s, dir),
        "vec_id", "embedding")
      val hits = Similarity.searchIvfIndex(s, path, emb,
          "vec_id", "embedding", k = 3)
        .filter(col("id_b") === col("id_a") + PlantOffset)
      emb.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    }),

    // --- deterministic pretraining order: content-hash shard + in-
    //     shard hash-ordered position — a reproducible, engine-
    //     replayable global permutation of the corpus ---
    "q173_pretrain_order" -> ((s, dir) =>
      Sampling.pretrainOrder(t(s, dir, "documents"), "doc_id", nShards = 16)
        .select(col("doc_id"), col("shard"), col("pos"))),

    // --- model-based quality filter (the classifier-filter shape:
    //     label a 20% sample, train logistic regression on the cheap
    //     text features, score the rest): the model must RECOVER the
    //     labeling rule on held-out docs — AUC ≥ 0.9 pinned as a flag;
    //     the rule (heuristic quality ≥ 0.5) is a saturating function
    //     of the features, so a linear model that learned anything
    //     clears 0.9 with wide margin and a broken one cannot ---
    "q174_quality_model" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val labels = TextAnalysis.qualityScore(d, "doc_id", "text")
        .select(col("doc_id"), (col("quality") >= 0.5).cast("int").as("label"))
      val sample = labels.filter(pmod(col("doc_id"), lit(5)) === 0)
      val scores = QualityModel.fitScore(d, "doc_id", "text", sample, "label")
      val heldOut = scores.join(labels, Seq("doc_id"))
        .filter(pmod(col("doc_id"), lit(5)) =!= 0)
      d.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(Eval.aucDf(heldOut, "label", "quality_prob")
          .select((col("auc") >= 0.9).cast("int").as("auc_ok"))))
    }),

    // --- DSIR importance weights (Xie et al. 2023): hashed-bigram
    //     bag models on the target slice (lang='en') vs the raw
    //     corpus; per-doc log importance weight — bucket-sized count
    //     tables, broadcast log-ratio join, one doc-keyed sum ---
    "q183_dsir_weights" -> ((s, dir) =>
      graft.llm.Selection.dsirLogWeights(t(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en")),

    // --- DSIR Gumbel-top-k resample: 100 docs drawn without
    //     replacement ∝ importance weight, via deterministic
    //     content-keyed Gumbel noise + TakeOrderedAndProject ---
    "q184_dsir_resample" -> ((s, dir) =>
      graft.llm.Selection.dsirResample(t(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en", k = 100)),

    // --- diversity-preserving downsample: SimHash-bucket quotas
    //     (≤10 docs per 6-bit bucket, content-hash draw order) via
    //     the bounded native top-k aggregation ---
    "q185_diversity_sample" -> ((s, dir) =>
      graft.llm.Selection.diversitySample(t(s, dir, "documents"),
        "doc_id", "text", bits = 6, perBucket = 10)),

    // --- hard-negative mining: top-3 most-similar CROSS-label corpus
    //     vectors per query (exclusion before the top-k), exact
    //     decimal cosine + bounded native top-k ---
    "q186_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 100),
        "vec_id", "embedding", "label", k = 3)
    }),

    // --- token-budget curriculum selection: best-quality docs until
    //     15k tokens, value-histogram cutoff + draw-histogram boundary
    //     refinement (never a global per-row rank) ---
    "q187_budget_select" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val scored = TextAnalysis.qualityScore(d, "doc_id", "text")
        .join(d.select(col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens")), "doc_id")
      graft.llm.Selection.budgetSelect(scored, "doc_id", "quality",
        "n_tokens", budget = 15000L)
    }),

    // --- contrastive triplet mining: nearest same-label positive +
    //     top-3 cross-label hard negatives per query, semi-hard flag ---
    "q190_contrastive_triplets" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.contrastiveTriplets(emb, emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", "label", kNeg = 3)
    }),

    // --- one-pass quality signal panel: stats + quality + lang-ID +
    //     repetition in ONE projection over ONE corpus scan (vs 4
    //     scans + 3 joins composing the standalone operators) ---
    "q189_signal_panel" -> ((s, dir) =>
      TextAnalysis.signalPanel(t(s, dir, "documents"), "doc_id", "text",
        langProfiles)),

    // --- no-straddle length-class packing: docs land whole in one
    //     128-token window, per-(lang, length, salt-block) ordinals,
    //     over-long docs flagged -1 for the chunking route ---
    "q188_bucket_pack" -> ((s, dir) =>
      Packing.bucketPack(t(s, dir, "documents"), "doc_id", "text",
        "lang", contextLen = 128, saltBlocks = 4)),

    // --- item-item cosine (M9, sparse self-join rewrite with the
    //     DIMSUM-style per-user cap that bounds pair fan-out) ---
    "q30_cosine_topk" -> ((s, dir) =>
      Similarity.itemCosineTopK(ratings(s, dir), "userId", "itemId",
        "rating", k = 5, minOverlap = 2, maxPerUser = Some(50))),

    // --- embedding cosine top-k: bounded query set vs full corpus ---
    "q37_embed_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.embedCosineTopK(emb, emb.filter(col("vec_id") < 100),
        "vec_id", "embedding", k = 3)
    }),

    // --- LSH-bucketed ANN over the full corpus (rows-only; recall vs
    //     brute force asserted in SimilaritySpec) ---
    "q47_embed_lsh" -> ((s, dir) =>
      Similarity.embedLshTopK(unitEmb(s, dir), "vec_id",
        "embedding", k = 3)),

    // --- embedding-cosine near-dup pairs, block-bounded exact verify
    //     (the dedup-family face of similarity search; oracle-able) ---
    "q56_embed_neardup" -> ((s, dir) =>
      Similarity.embedNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", minCos = 0.2, blockCol = Some("label"))),

    // --- IVF ANN: coarse-quantizer cells + probed exact verify
    //     (rows-only: KMeans centroids are not SQL-expressible;
    //     recall gate in SimilaritySpec) ---
    "q57_embed_ivf" -> ((s, dir) =>
      Similarity.embedIvfTopK(unitEmb(s, dir), "vec_id",
        "embedding", k = 3)),

    // --- planted-neighbor recall gates (q124-q126): the driver-visible
    //     correctness rows for the three ANN/near-dup operators whose
    //     raw outputs are not SQL-expressible (q46/q47/q57). The corpus
    //     testdata is near-uniform (max pairwise cos ≈ 0.5), where ANY
    //     sub-quadratic ANN has low top-k recall by construction, so the
    //     gate plants what the operator is FOR: a deterministically
    //     perturbed copy of every row (cos ≈ 0.9999 to its source /
    //     one-token-edited text) and requires the operator to reunite
    //     each copy with its source. n_planted is independently computed
    //     by the DuckDB oracle (COUNT(*) of the base table); n_found is
    //     pinned to the same count — at cos 0.9999 the 8x6 sign-LSH
    //     banding miss probability is ~2e-9 per pair, so found==planted
    //     exactly; a regression in hashing, banding, probing, or the
    //     verify join flips the row red in CORRECTNESS ---
    "q124_lsh_recall" -> ((s, dir) => {
      val (all, nPlanted) = plantedEmbeddings(s, dir)
      val hits = Similarity.embedLshTopK(all, "vec_id", "embedding", k = 3)
        .filter(col("id_a") >= PlantOffset &&
          col("id_b") === col("id_a") - PlantOffset)
      nPlanted.crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    }),

    "q125_ivf_recall" -> ((s, dir) => {
      val (all, nPlanted) = plantedEmbeddings(s, dir)
      val hits = Similarity.embedIvfTopK(all, "vec_id", "embedding", k = 3)
        .filter(col("id_a") >= PlantOffset &&
          col("id_b") === col("id_a") - PlantOffset)
      nPlanted.crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    }),

    // --- cross-table ANN (the SERVING shape): NEW query vectors
    //     (perturbed copies, disjoint id namespace) searched against
    //     the corpus-trained IVF index — every query must rank its
    //     source in the top-3 ---
    "q167_ann_search" -> ((s, dir) => {
      val emb = unitEmb(s, dir)
      val hits = Similarity.embedIvfSearch(emb, unitPerturbed(s, dir),
          "vec_id", "vec_id", "embedding", k = 3)
        .filter(col("id_b") === col("id_a") - PlantOffset)
      emb.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    }),

    // --- persisted ANN index (train-once/serve-many): build + save
    //     the IVF index, then search it from DISK with the same
    //     perturbed queries — every query must still rank its source
    //     top-3, proving the parquet round-trip preserves the
    //     quantizer and inverted lists ---
    "q168_ann_index" -> ((s, dir) => {
      val emb = unitEmb(s, dir)
      val path = scratch("ivfidx", dir)
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", path)
      val hits = Similarity.searchIvfIndex(s, path, unitPerturbed(s, dir),
          "vec_id", "embedding", k = 3)
        .filter(col("id_b") === col("id_a") - PlantOffset)
      emb.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    }),

    // --- product-quantized index (X147, the memory face BEYOND int8):
    //     build the IVF-PQ index (lists carry m one-byte codes beside
    //     the int8 vectors), search it from disk — ADC candidate
    //     ranking over the codes column, exact int8 rescore of the
    //     top-R — and every perturbed query must STILL rank its source
    //     top-3: recall through the 8-16x-smaller scan path pinned
    //     EQUAL to the int8 index (q168) ---
    "q237_pq_recall" -> ((s, dir) => {
      val emb = unitEmb(s, dir)
      val path = scratch("ivfpq", dir)
      Similarity.buildIvfPqIndex(emb, "vec_id", "embedding", path)
      val hits = Similarity.searchIvfPqIndex(s, path, unitPerturbed(s, dir),
          "vec_id", "embedding", k = 3)
        .filter(col("id_b") === col("id_a") - PlantOffset)
      emb.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    }),

    // --- semantic dedup (SemDeDup shape): near-dup pairs whose
    //     candidate buckets are the LEARNED k-means cells of the IVF
    //     quantizer, exact-cosine verified; planted gate — every
    //     (source, perturbed copy) pair at cos ≈ 0.9999 must surface,
    //     n_found pinned EQUAL (both share their home cell and each
    //     probes its own) ---
    "q171_semdedup_recall" -> ((s, dir) => {
      val (all, nPlanted) = plantedEmbeddings(s, dir)
      val hits = Similarity.semDedupPairs(all, "vec_id", "embedding",
          minCos = 0.999)
        .filter(col("id_b") === col("id_a") + PlantOffset)
      nPlanted.crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    }),

    // --- SimHash planted recall: one appended token on a ~100-token
    //     doc shifts every bit-vote by ±1, so bits at margin 0/±1 can
    //     flip; the planted pair lands within Hamming `maxDist` for
    //     most docs but deterministically not all — the gate pins the
    //     exact measured hit count via a >= bound flag rather than
    //     found==planted (see recall_ok; bound set from the measured
    //     floor across sf0.001/0.01/0.1 with margin) ---
    "q126_simhash_recall" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.select(
        (col("doc_id") + PlantOffset).as("doc_id"),
        concat(col("text"), lit(" zq")).as("text"))
      val hits = Dedup.simHashNearDup(docs.unionByName(planted),
          "doc_id", "text", maxDist = 3)
        .filter(col("id_b") === col("id_a") + PlantOffset)
      docs.agg(count(lit(1)).as("n_planted"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("_nf"))))
        .select(col("n_planted"),
          (col("_nf") >= col("n_planted") * 0.55).cast("int").as("recall_ok"))
    }),

    // --- native expression through the SQL entry point: array_dot is
    //     injected by GraftExtensions (SparkSessionExtensions), S6 +
    //     custom-Expression surface in one query ---
    "q58_sql_dot" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT vec_id, ROUND(array_dot(embedding, embedding), 4) AS self_dot
          |FROM embeddings""".stripMargin)
    }),

    // --- text analysis: per-document stats ---
    "q32_text_stats" -> ((s, dir) =>
      TextAnalysis.textStats(t(s, dir, "documents"), "doc_id", "text")),

    // --- text analysis: quality score ---
    "q52_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text")),

    // --- text analysis: token counting (regex + subword estimate) ---
    "q48_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")),

    // --- text analysis: normalization fingerprint ---
    "q49_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text")),

    // --- text analysis: marker-profile language ID ---
    "q50_lang_id" -> ((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text",
        langProfiles)),

    // --- end-to-end corpus curation funnel: lang filter → quality →
    //     exact dedup → near-dup (LSH+verify) → hash sample, one
    //     (stage, n) row per stage — the composed LLM pipeline ---
    "q78_corpus_funnel" -> ((s, dir) =>
      CorpusPipeline.funnel(t(s, dir, "documents"), "doc_id", "text",
        langProfiles)),

    // --- text analysis: TF-IDF top-3 terms per document ---
    "q75_tfidf" -> ((s, dir) =>
      TextAnalysis.tfIdfTopK(t(s, dir, "documents"), "doc_id", "text",
        k = 3)),

    // --- GROUPING SETS through the SQL entry point (the explicit
    //     form of the cube/rollup family, q23/q62) ---
    "q76_grouping_sets" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
          |       COALESCE(l_linestatus, 'ALL') AS ls,
          |       COUNT(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    }),

    // --- deterministic hash sampling: reproducible Bernoulli on the
    //     key (rand(seed) is partitioning-dependent; md5 is not) ---
    "q65_hash_sample" -> ((s, dir) =>
      Sampling.hashSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("source"), col("n_chars")),
        "doc_id", 0.2)),

    // --- per-group deterministic k-sample (hash-order window) ---
    "q66_group_sample" -> ((s, dir) =>
      Sampling.groupSample(
        t(s, dir, "customer").select(col("c_nationkey"), col("c_custkey"),
          col("c_name")),
        "c_nationkey", "c_custkey", 3)),

    // --- weighted corpus mixing: per-language keep-fractions (the
    //     rebalance-sources step of a corpus build) ---
    "q67_mix_strata" -> ((s, dir) =>
      Sampling.mixStrata(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("source")),
        "lang", "doc_id",
        Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5,
          "zh" -> 0.25))),

    // --- deterministic upsampling: zh stratum at weight 2.5 (2 copies
    //     + a hash-drawn 3rd; the >1.0 half of corpus rebalancing) ---
    "q72_upsample" -> ((s, dir) =>
      Sampling.upsample(
        t(s, dir, "documents").filter(col("lang") === "zh")
          .select(col("doc_id"), col("source")),
        "doc_id", 2.5)),

    // --- int8 embedding quantization (4× ANN memory reduction),
    //     exploded per dimension for value-level oracle comparison ---
    "q73_embed_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"), posexplode(col("qvec")))
        .toDF("vec_id", "scale", "pos", "qval")),

    // --- benchmark-contamination check: shingle overlap of the corpus
    //     (doc_id >= 20) against a small "eval set" (doc_id < 20) ---
    "q68_contamination" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contamination(d.filter(col("doc_id") >= 20), "doc_id", "text",
        d.filter(col("doc_id") < 20), "doc_id", "text")
    }),

    // --- PII redaction over text augmented with deterministic planted
    //     emails/phones (the corpus has none naturally — planting makes
    //     the redaction observable and still oracle-replayable) ---
    "q69_pii_redact" -> ((s, dir) =>
      TextAnalysis.redactPii(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0,
              concat(lit(" contact user"), col("doc_id"),
                lit("@example.com"))).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              concat(lit(" tel 555-"),
                lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
                lit("-0199"))).otherwise(lit(""))).as("text")),
        "doc_id", "text")),

    // --- multimodal: binary column metadata ---
    "q38_binary_meta" -> ((s, dir) =>
      Multimodal.binaryMeta(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload")),

    // --- multimodal: batched frame decode via mapPartitions (STUB
    //     codec keyed on the frame byte-sum; mapInPandas-shaped
    //     plumbing — oracle replays the fake codec in SQL, which works
    //     because documents.text is pure ASCII: char ops ≡ byte ops) ---
    "q51_media_frames" -> ((s, dir) =>
      Multimodal.decodeFramesStub(
        t(s, dir, "documents").select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload")),
        "doc_id", "payload", frameSize = 64)(s).toDF()),

    // --- analytic window frames: per-group running sum (exact decimal
    //     accumulation so segment-tree vs sequential evaluation in
    //     different engines cannot diverge) ---
    "q53_running_sum" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"))
    }),

    // --- analytic functions: lag/lead over a per-group order ---
    "q54_lag_lead" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .as("days_since_prev"))
    }),

    // --- CSV sink + source roundtrip (S5, distributed write then
    //     schema-explicit read) ---
    // --- partitioned parquet sink roundtrip: partitionBy(lang) write,
    //     re-read, aggregate. The layout every 100 TB corpus uses —
    //     readers of one stratum scan only its directory (partition
    //     pruning; asserted in PlanAuditSpec) ---
    "q74_partitioned_sink" -> ((s, dir) => {
      val path = scratch("part", dir)
      t(s, dir, "documents").write.mode("overwrite")
        .partitionBy("lang").parquet(path)
      s.read.parquet(path).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    }),

    // --- JDBC sink + partitioned source roundtrip (S1 end-to-end,
    //     `ALS_model3.py:67-73` shape): write to embedded Derby, read
    //     back fanned out over 4 tasks via partitionColumn bounds.
    //     Derby is single-JVM (embedded) — fine for local mode; a
    //     cluster points the same API at a server-mode url ---
    "q127_jdbc_roundtrip" -> ((s, dir) => {
      System.setProperty("derby.system.home", "/tmp")
      val url = s"jdbc:derby:${scratch("derby", dir)};create=true"
      Tables.writeJdbc(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
          col("n_regionkey")),
        url, "nation_rt")
      Tables.jdbc(s, url, "nation_rt", "n_nationkey",
        lowerBound = 0, upperBound = 25, numPartitions = 4)
    }),

    "q55_csv_roundtrip" -> ((s, dir) => {
      val path = scratch("csv", dir)
      val src = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      Tables.writeCsv(src, path)
      Tables.csv(s, path, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_nationkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_regionkey",
          org.apache.spark.sql.types.LongType))))
    }),

    // --- unpivot / melt: wide metric columns → long (metric, val)
    //     rows, the inverse of pivot (q16). Narrow Expand node, no
    //     shuffle — row count multiplies by the metric arity only ---
    "q82_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val")),

    // --- per-label embedding centroids (k-means M-step / class
    //     prototypes); exact decimal coordinate sums ---
    "q85_embed_centroid" -> ((s, dir) =>
      Similarity.groupCentroids(t(s, dir, "embeddings"), "label",
        "embedding")),

    // --- corpus-level top-k bigrams (boilerplate/template detector) ---
    "q86_bigram_topk" -> ((s, dir) =>
      TextAnalysis.topBigrams(t(s, dir, "documents"), "text", k = 50)),

    // --- multiple COUNT(DISTINCT) in one aggregate (Expand-based
    //     multi-distinct rewrite; partial aggregation still applies) ---
    "q87_multi_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))),

    // --- null-safe equi-join (<=>): NULL keys match NULL dimension
    //     rows instead of silently dropping — the "unknown" bucket
    //     every fact/dim enrichment needs. Plans as a hash join on the
    //     null-safe key, not a nested loop ---
    "q88_nullsafe_join" -> ((s, dir) => {
      val prio = when(col("o_orderpriority") =!= "1-URGENT",
        col("o_orderpriority"))
      val facts = t(s, dir, "orders")
        .select(col("o_orderkey"), prio.as("prio"))
      val dim = t(s, dir, "orders")
        .select(prio.as("prio")).distinct()
        .select(col("prio"),
          coalesce(col("prio"), lit("UNKNOWN")).as("prio_group"))
      facts.join(dim, facts("prio") <=> dim("prio"))
        .select(col("o_orderkey"), col("prio_group"))
    }),

    // --- blocked edit-distance near-dup pairs (fuzzy string dedup:
    //     block-key join + length band, exact Levenshtein verify).
    //     The composite (brand, size) block is the fan-out knob: at
    //     sf0.1 it holds candidates to ~140k pairs where brand alone
    //     would make ~8M ---
    "q89_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(
        t(s, dir, "part").select(col("p_partkey"), col("p_name"),
          concat_ws("|", col("p_brand"), col("p_size")).as("blk")),
        "p_partkey", "p_name", "blk", maxDist = 2)),

    // --- time-series gap fill: dense hourly grid per event type,
    //     zero-filled buckets (grid generated distributed via
    //     per-key sequence explode — see operators/Resample) ---
    "q90_gapfill" -> ((s, dir) =>
      Resample.gapFill(t(s, dir, "events"), "event_type", "ts", "value")),

    // --- sliding event-time windows: 2-hour width, 1-hour slide —
    //     each event lands in two overlapping buckets (the smoothing
    //     window every rate/trend monitor uses) ---
    "q91_sliding_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n"))),

    // --- ordered string aggregation: sorted distinct set per group
    //     folded to one delimited string (the array_agg/string_agg
    //     family; sort_array makes the fold order engine-independent) ---
    "q92_array_agg_str" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          concat_ws(",", sort_array(collect_set(col("c_mktsegment"))))
            .as("segments"),
          count(lit(1)).as("n_customers"))),

    // --- RANGE window frame over event time: per-user trailing-hour
    //     value sum — frame bounds by VALUE (all peers included), not
    //     row position; exact decimal accumulation ---
    "q93_range_frame" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-3599, 0)
      t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("sum_1h"))
    }),

    // --- JSON-lines sink + schema-explicit source roundtrip (the
    //     event-feed interchange format; schema is a contract, never
    //     inferred) ---
    "q94_json_roundtrip" -> ((s, dir) => {
      val path = scratch("json", dir)
      Tables.writeJson(
        t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"),
          col("s_nationkey"), col("s_acctbal")),
        path)
      Tables.json(s, path, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s_suppkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("s_nationkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s_acctbal",
          org.apache.spark.sql.types.DoubleType))))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          Det.sumRounded(col("s_acctbal"), 2).as("sum_bal"))
    }),

    // --- ORC sink + source roundtrip (the second columnar format a
    //     mixed Hive estate runs; same pushdown properties) ---
    "q95_orc_roundtrip" -> ((s, dir) => {
      val path = scratch("orc", dir)
      Tables.writeOrc(
        t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
          col("p_retailprice")),
        path)
      Tables.orc(s, path)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(max(col("p_retailprice")), 2).as("max_price"))
    }),

    // --- date arithmetic family: interval add, calendar-clamped month
    //     add, last-day-of-month, day-of-week (completes the F-family
    //     scalar functions next to q25's date parts) ---
    "q96_date_arith" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        date_add(col("o_orderdate"), 30).as("due_date"),
        add_months(col("o_orderdate"), 3).as("quarter_later"),
        last_day(col("o_orderdate")).as("month_end"),
        dayofweek(col("o_orderdate")).as("dow"))),

    // --- regex extraction/matching (RE2-portable patterns only, so
    //     engine regex dialects cannot diverge) ---
    "q97_regexp" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "\\b(\\w*e)\\b", 1).as("first_e_word"),
        col("p_name").rlike("\\d").cast("int").as("has_digit"),
        size(split(col("p_name"), "a", -1)).minus(1).as("n_a"))),

    // --- inverted index build: per term, document frequency and the
    //     top-5 posting list by term frequency (tf desc, doc_id) —
    //     the search-index materialization; per-term window with
    //     rank-limit pushdown (WindowGroupLimit), postings folded to a
    //     string for a stable cross-engine representation ---
    "q123_inverted_index" -> ((s, dir) => {
      val tf = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      // doc_freq and the bounded top-5 posting list ride ONE keyed
      // aggregation (typed TopK Aggregator, q59's scale path): no
      // per-term window sort, map-side partial combine ships ≤5
      // postings per term per mapper, and the corpus is scanned once —
      // a full-partition count window here would have buffered every
      // posting before the rank filter (PlanAuditSpec pins the shape)
      val topk = org.apache.spark.sql.functions.udaf(
        new TopKAgg.TopK(5),
        org.apache.spark.sql.Encoders.product[TopKAgg.ScoredId])
      tf.groupBy(col("term"))
        .agg(count(lit(1)).as("doc_freq"),
          topk(col("tf").cast("double"), col("doc_id")).as("_top"))
        .select(col("term"), col("doc_freq"),
          concat_ws(",", expr(
            "transform(_top.items, x -> CAST(x.id AS STRING))")).as("top_docs"))
    }),

    // --- clickstream paths: per 30-min session, the time-ordered
    //     event-type sequence folded to a path string, then counted
    //     corpus-wide (the navigation-flow report). Ordering comes
    //     from sort_array over (ts, event_id, type) structs — a
    //     deterministic ordered-collect, not collect_list order ---
    "q122_session_paths" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("evs"))
        .select(concat_ws(">",
          expr("transform(evs, e -> e.event_type)")).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"))),

    // --- rolling 7-day distinct users: daily HLL sketches merged over
    //     a 7-row window (the sketch composition that makes rolling
    //     distinct FEASIBLE at scale — exact rolling distinct cannot
    //     pre-aggregate; sketches merge associatively, so the raw data
    //     is touched once). Window is over the ~|days| aggregated
    //     frame, not the events. Rows-only; accuracy gated in
    //     HllSketchSpec ---
    "q121_rolling_distinct" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(graft.functions.HllSketch.sketchAgg(col("user_id")).as("sk"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("day")).rowsBetween(-6, 0)
      daily.select(col("day"),
        graft.functions.HllSketch.estimate(
          graft.functions.HllSketch.mergeAgg(col("sk")).over(w))
          .as("users_7d"))
    }),

    // --- event-type co-occurrence with lift: which behaviors happen
    //     in the same users (the association-rules/market-basket
    //     primitive). Distinct (user, type) self-join on the user —
    //     pair fan-out bounded by types-per-user, never user² ---
    "q120_cooccurrence" -> ((s, dir) => {
      val ut = t(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val perType = ut.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_t"))
      val total = ut.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users"))
      val a = ut.toDF("user_id", "type_a")
      val b = ut.toDF("user_id", "type_b")
      a.join(b, Seq("user_id")).filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
        .join(perType.toDF("type_a", "n_a"), Seq("type_a"))
        .join(perType.toDF("type_b", "n_b"), Seq("type_b"))
        .crossJoin(broadcast(total))
        .select(col("type_a"), col("type_b"), col("n_both"),
          round(col("n_both").cast("double") * col("n_users") /
            (col("n_a") * col("n_b")), 6).as("lift"))
    }),

    // --- per-group mode (most frequent value, deterministic tiebreak
    //     via max_by on the (count, value) struct — no second shuffle) ---
    "q117_mode" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("lang"))
        .agg(expr("max_by(source, struct(n, source))").as("top_source"),
          max(struct(col("n"), col("source"))).getField("n").as("n"))),

    // --- percent-of-total: share per group via a global window over
    //     the ALREADY-AGGREGATED frame (group-cardinality rows — the
    //     one place a partitionless window is safe; contrast W1) ---
    "q118_share" -> ((s, dir) => {
      val byNation = t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(Det.sumRounded(col("c_acctbal"), 2).as("bal"))
      // the global total sums as exact decimal: a double Σ over the
      // window would be order-dependent in its last bits
      byNation.withColumn("share",
        round(col("bal") / sum(col("bal").cast("decimal(18,2)")).over(
          org.apache.spark.sql.expressions.Window.partitionBy())
          .cast("double"), 6))
    }),

    // --- schema-drift union: unionByName(allowMissingColumns) fills
    //     absent columns with NULL (the multi-source ingest reality) ---
    "q119_union_drift" -> ((s, dir) => {
      val a = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val b = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      a.unionByName(b, allowMissingColumns = true)
    }),

    // --- deterministic train/val/test assignment: split is a pure
    //     function of the content hash, so it survives re-crawls and
    //     repartitioning (no eval-set leakage across versions) ---
    "q116_tvt_split" -> ((s, dir) =>
      Sampling.splitAssign(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"))),

    // --- data-quality constraint report (the publish gate): one row
    //     per rule — null rate, uniqueness, range, referential
    //     integrity — shared-pass aggregations + one anti-join ---
    "q114_constraints" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      Constraints.check(o, Seq(
        Constraints.unique("o_orderkey"),
        Constraints.nullRate("o_custkey", 0.0),
        Constraints.inRange("o_totalprice", 0.0, 1000000.0)))
        .unionByName(Constraints.referential(
          o, "o_custkey", t(s, dir, "customer"), "c_custkey"))
    }),

    // --- per-group z-score standardization + outlier flag (feature
    //     scaling with engine-stable decimal moments) ---
    "q115_zscore" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val stats = e.groupBy(col("event_type")).agg(
        Det.avgRounded(col("value"), 6).as("mu"),
        Det.stddevRounded(col("value"), 6).as("sigma"))
      // sigma=0 (constant group) → NULL z on both engines: Spark's
      // non-ANSI x/0 is NULL but DuckDB's IEEE default is Inf/NaN, so
      // the guard (with NULLIF in the oracle) keeps parity data-independent
      e.join(stats, "event_type")
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("mu")) /
            when(col("sigma") =!= 0d, col("sigma")), 4).as("z"))
        .withColumn("is_outlier", (abs(col("z")) > 3.0).cast("int"))
    }),

    // --- weighted no-replacement sample: 20 docs per lang, weight =
    //     doc length (Efraimidis–Spirakis rank on the content-hash
    //     draw — deterministic, engine-replayable) ---
    "q113_weighted_sample" -> ((s, dir) =>
      Sampling.weightedGroupSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("n_chars")),
        "lang", "doc_id", "n_chars", k = 20)),

    // --- cohort retention: users cohorted by first-active week; cell
    //     (cohort, offset) = distinct users active offset weeks later —
    //     the product-analytics retention triangle. Two keyed aggs +
    //     one join; cohort table is small and broadcasts ---
    "q111_cohort_retention" -> ((s, dir) => {
      val wk = date_trunc("week", col("ts"))
      val activity = t(s, dir, "events")
        .select(col("user_id"), wk.as("week")).distinct()
      val cohorts = activity.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      activity.join(cohorts, "user_id")
        .select(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7)
            .cast("int").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // --- event-transition matrix: (previous type → type) counts per
    //     user stream — first-order Markov profile of the event flow ---
    "q112_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          col("event_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // --- LOCF forward fill: value observed only on purchase rows,
    //     carried forward to later events of the same user (the
    //     sensor/price-series repair; one keyed window) ---
    "q109_locf" -> ((s, dir) =>
      Resample.locf(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"),
          when(col("event_type") === "purchase", col("value")).as("v")),
        "user_id", "ts", "v", tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("v_filled"))),

    // --- token-distribution entropy (gibberish / keyword-stuffing
    //     detector; engine-stable decimal term sums) ---
    "q110_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")),

    // --- engine-stable Pearson correlation: exact decimal moment
    //     sums, closed form applied once (built-in corr is partition-
    //     order-dependent double accumulation — unoracle-able) ---
    "q108_corr" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(Det.corrRounded(col("l_quantity"), col("l_extendedprice"))
          .as("qty_price_corr"),
          count(lit(1)).as("n"))),

    // --- map functions (map_from literal pairs, element_at, map_keys;
    //     §2.12 noted the family absent in the reference) ---
    "q106_map_funcs" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          map(lit("brand"), col("p_brand"), lit("type"), col("p_type"))
            .as("m"))
        .select(col("p_partkey"),
          element_at(col("m"), "brand").as("brand"),
          element_at(col("m"), "type").as("typ"),
          size(col("m")).as("n_keys"),
          concat_ws(",", sort_array(map_keys(col("m")))).as("keys"))),

    // --- array set ops + higher-order predicates: intersect/except/
    //     union with dedup semantics, filter/exists/forall lambdas —
    //     all codegen-fused into the scan ---
    "q107_array_hof" -> ((s, dir) => {
      val a = split(col("p_name"), " ")
      val b = expr("filter(split(p_name, ' '), t -> length(t) > 4)")
      t(s, dir, "part").select(
        col("p_partkey"),
        concat_ws(",", sort_array(array_intersect(a, b))).as("inter"),
        concat_ws(",", sort_array(array_except(a, b))).as("only_short"),
        size(array_union(a, b)).as("n_union"),
        expr("exists(split(p_name, ' '), t -> length(t) > 7)")
          .cast("int").as("has_long"),
        expr("forall(split(p_name, ' '), t -> length(t) > 1)")
          .cast("int").as("all_gt1"))
    }),

    // --- snapshot diff: classify keys across two table versions as
    //     added/removed/changed/same (full-outer join, null-safe
    //     column compare — the data-ops audit primitive) ---
    "q104_snapshot_diff" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      // simulated next snapshot: every 97th key dropped, every 10th
      // repriced (decimal-exact bump), every 53rd key re-keyed in as
      // an addition beyond the key space
      val next = base.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0,
            round(col("o_totalprice").cast("decimal(12,2)") *
              lit("1.10").cast("decimal(4,2)"), 2).cast("double"))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(base.filter(col("o_orderkey") % 53 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_totalprice")))
      Diff.snapshotDiff(base, next, Seq("o_orderkey"), Seq("o_totalprice"))
        .filter(col("change") =!= "same")
    }),

    // --- schema evolution: two parquet batches with different widths
    //     read back as one frame via mergeSchema (old rows get NULL for
    //     the new column) — the additive-column migration every
    //     long-lived dataset goes through ---
    "q105_schema_merge" -> ((s, dir) => {
      val path = scratch("merge", dir)
      val nat = t(s, dir, "nation")
      nat.select(col("n_nationkey"), col("n_name"))
        .write.mode("overwrite").parquet(s"$path/b1")
      nat.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode("overwrite").parquet(s"$path/b2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/b1", s"$path/b2")
    }),

    // --- sequence packing: per-lang contiguous token-stream packing
    //     into 2048-token context windows — each doc's pack id and
    //     in-pack offset (the curated-corpus → pretraining-batch step) ---
    "q102_seq_packing" -> ((s, dir) =>
      Packing.contiguousPack(t(s, dir, "documents"), "doc_id", "text",
        "lang", contextLen = 2048)),

    // --- repeated-3-gram ratio: the repetition quality signal
    //     (degenerate text scores high, clean prose near zero) ---
    "q103_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionRatio(t(s, dir, "documents"), "doc_id",
        "text", n = 3)),

    // --- region→nation→customer rollup through the SQL entry point:
    //     the full dimension chain (closes table coverage — region was
    //     the one testdata table no query read); both dims broadcast ---
    "q101_region_rollup" -> ((s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT r.r_name AS region,
          |       COUNT(DISTINCT n.n_nationkey) AS n_nations,
          |       COUNT(c.c_custkey) AS n_customers,
          |       ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2)))
          |             AS DOUBLE), 2) AS sum_bal
          |FROM region r
          |JOIN nation n ON r.r_regionkey = n.n_regionkey
          |JOIN customer c ON n.n_nationkey = c.c_nationkey
          |GROUP BY r.r_name""".stripMargin)
    }),

    // --- structured JSON: to_json of a nested struct+array, parsed
    //     back with an explicit from_json schema (no inference), fields
    //     extracted — the typed face of the q24 path-extraction family.
    //     Doubles survive the round trip exactly (shortest-repr JSON
    //     numbers parse back to the identical bits), so the oracle is
    //     the identity projection ---
    "q100_json_struct" -> ((s, dir) => {
      val js = t(s, dir, "orders").select(
        col("o_orderkey"),
        to_json(struct(col("o_custkey"), col("o_totalprice"),
          array(col("o_orderstatus"), col("o_orderpriority")).as("tags")))
          .as("_js"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("tags",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType))))
      js.select(col("o_orderkey"), from_json(col("_js"), schema).as("s"))
        .select(col("o_orderkey"),
          col("s.o_custkey").as("o_custkey"),
          col("s.o_totalprice").as("o_totalprice"),
          element_at(col("s.tags"), 1).as("status_tag"),
          element_at(col("s.tags"), 2).as("prio_tag"))
    }),

    // --- SCD type-2 intervals: order history per customer as
    //     versioned rows with valid_from/valid_to/is_current (the
    //     warehouse dimension-history shape; one keyed window) ---
    "q99_scd2" -> ((s, dir) =>
      Scd.type2(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("o_orderdate")),
        Seq("o_custkey"), "o_orderdate", tieBreak = Seq("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("valid_from"), col("valid_to"), col("is_current"))),

    // --- mergeable HLL distinct sketches: per-(flag,status) sub-
    //     sketches roll up to per-flag estimates WITHOUT re-scanning
    //     raw rows — the persistable-sketch surface approx_count_
    //     distinct never exposes. Rows-only for the driver (the
    //     estimator is not SQL-replayable); HllSketchSpec pins the
    //     ≤5% error band and the exact merge≡direct bit-equality ---
    "q98_hll_sketch" -> ((s, dir) => {
      val sub = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(graft.functions.HllSketch.sketchAgg(col("l_partkey")).as("sk"))
      val rolled = sub.groupBy(col("l_returnflag"))
        .agg(graft.functions.HllSketch.estimate(
          graft.functions.HllSketch.mergeAgg(col("sk"))).as("n_approx"))
      val exact = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      rolled.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n_approx"), col("n_exact"),
          round(abs(col("n_approx") - col("n_exact")).cast("double") /
            col("n_exact"), 4).as("rel_err"))
    }),

    // --- HLL rollup accuracy gate: the driver-visible face of q98
    //     (whose n_approx column is not SQL-expressible). n_exact is
    //     independently recomputed by the DuckDB oracle; within_bound
    //     pins |approx−exact|/exact ≤ 5% (3× the σ ≈ 1.04/√4096
    //     standard error — deterministic on fixed data since the
    //     sketch hash is seeded) ---
    "q128_hll_rollup_accuracy" -> ((s, dir) => {
      val sub = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(graft.functions.HllSketch.sketchAgg(col("l_partkey")).as("sk"))
      val rolled = sub.groupBy(col("l_returnflag"))
        .agg(graft.functions.HllSketch.estimate(
          graft.functions.HllSketch.mergeAgg(col("sk"))).as("n_approx"))
      val exact = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      rolled.join(exact, "l_returnflag")
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.05).cast("int").as("within_bound"))
    }),

    // --- ALS serving coverage gate: the driver-visible face of q33
    //     (factor values are model state, not SQL-expressible, but the
    //     serving CONTRACT is: every requested user gets exactly k
    //     distinct catalog items). n_users is independently computed
    //     by the oracle from the cleaned-ratings CTE ---
    "q129_als_coverage" -> ((s, dir) => {
      val r = ratings(s, dir)
      val model = Als.fit(r, Als.Params(rank = 8, maxIter = 5, regParam = 0.1))
      val users = r.select(col("userId")).distinct()
        .orderBy(col("userId")).limit(50)
      val recs = Als.explodeRecs(Als.recommendSubset(model, users, 5))
      val items = r.select(col("itemId")).distinct()
      val perUser = recs.join(items, Seq("itemId"), "left_semi")
        .groupBy(col("userId"))
        .agg(countDistinct(col("itemId")).as("_k"))
      users.agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(perUser.agg(
          count(lit(1)).as("_nu"), min(col("_k")).as("_mink"))))
        .select(col("n_users"),
          (col("_nu") === col("n_users") && col("_mink") === 5)
            .cast("int").as("complete"))
    }),

    // --- rolling-HLL accuracy gate: q121's 7-row rolling distinct vs
    //     the exact rolling distinct (rank-window self-join — exact
    //     rolling distinct cannot pre-aggregate, which is the whole
    //     reason q121 exists; at oracle scale the quadratic-ish join
    //     is fine). Mirrors q121's ROWS (-6, 0) frame semantics ---
    "q130_rolling_hll_accuracy" -> ((s, dir) => {
      val du = t(s, dir, "events")
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .distinct()
      val days = du.select(col("day")).distinct()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("day"))))
      val exact = days.toDF("day", "rn")
        .join(days.toDF("d2", "rn2"),
          col("rn2") >= col("rn") - 6 && col("rn2") <= col("rn"))
        .join(du.toDF("d2", "user_id"), Seq("d2"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      val daily = t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(graft.functions.HllSketch.sketchAgg(col("user_id")).as("sk"))
      val approx = daily.select(col("day"),
        graft.functions.HllSketch.estimate(
          graft.functions.HllSketch.mergeAgg(col("sk")).over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("day")).rowsBetween(-6, 0))).as("users_7d"))
      approx.join(exact, "day")
        .select(col("day"), col("n_exact"),
          (abs(col("users_7d") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.05).cast("int").as("within_bound"))
    }),

    // --- real-codec decode gates (q131/q132): executors synthesize
    //     payloads with known ground truth (solid-gray PNG / constant
    //     16-bit PCM WAV — dims, luma, rate, frame count, RMS all
    //     closed-form in doc_id), the REAL JDK codecs decode them, and
    //     the gate pins decoded features to the formulas. The oracle
    //     independently derives the sample size; n_decoded/n_ok are
    //     pinned equal — any codec, byte-order, or batch-shape
    //     regression flips the row red in CORRECTNESS ---
    "q131_image_decode" -> ((s, dir) => {
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
    }),

    // --- perceptual image hash gate: executors synthesize ramp and
    //     solid PNGs; the dHash closed forms (strictly-increasing
    //     ramp ⇒ all 64 comparison bits set ⇒ -1L; solid ⇒ no bit set
    //     ⇒ 0L) pin the cell grid, the luma formula, and the bit
    //     order against the count-only oracle ---
    "q197_image_phash" -> ((s, dir) => {
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
    }),

    // --- image near-dup gate (the pixel face of the dedup family):
    //     3 pattern copies per sampled doc — base, +8 brightness
    //     (dHash-identical by construction), +16 brightness with a
    //     +25 bump in cell (0,0) (Hamming ≤ 1) — so each group must
    //     yield EXACTLY its 3 within-group pairs through the 8-band
    //     Hamming join; the oracle derives the pair count from the
    //     doc sample alone ---
    "q198_image_neardup" -> ((s, dir) => {
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
    }),

    // --- perceptual audio hash gate (the q197 pattern on the audio
    //     axis): strictly-rising staircases hash to all-ones,
    //     constant tones to zero — pinning the window grid, the
    //     |sample| accumulation, and the bit order ---
    "q203_audio_phash" -> ((s, dir) => {
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
    }),

    // --- audio near-dup gate: 3 pattern copies per sampled doc —
    //     base, ×2 gain (hash-identical: integer gain preserves every
    //     window comparison), ×2 gain with a window-0 bump (Hamming
    //     ≤ 1) — exactly 3 within-group pairs through the shared
    //     8-band Hamming join ---
    "q204_audio_neardup" -> ((s, dir) => {
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
    }),

    // --- video near-dup gate (re-cut detection): per sampled doc,
    //     two MJPEG videos sharing exactly 2 of their 3 pattern
    //     frames (identical synthesizer args ⇒ identical JPEG bytes
    //     ⇒ identical frame dHash); minShared = 2 must pair exactly
    //     the within-doc couple and nothing else counted ---
    "q205_video_neardup" -> ((s, dir) => {
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
    }),

    // --- real video-container decode gate: executors synthesize
    //     MJPEG-in-AVI payloads (1 + doc_id % 4 solid-gray JPEG
    //     frames, dims + gray closed-form in doc_id and frame index),
    //     decodeVideoFrames walks the RIFF tree and JPEG-decodes each
    //     frame; the oracle derives frame counts from the same
    //     formulas. Luma tolerance 2.0 covers JPEG DC quantization of
    //     a constant block (±1 gray) plus RGB↔YCbCr rounding ---
    "q163_video_frames" -> ((s, dir) => {
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
    }),

    "q132_audio_features" -> ((s, dir) => {
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
    }),

    // --- REAL audio resample gate (retires the last stub seam, SURVEY
    //     §8 L17): executors synthesize constant-amplitude 8 kHz PCM
    //     WAVs (amplitude + frame count closed-form in doc_id),
    //     resampleAudio linearly interpolates them to 16 kHz, and the
    //     gate pins the exact interpolation contract — nOut =
    //     ⌊(nIn−1)·dst/src⌋+1 = 2·nIn−1, and a constant signal
    //     resamples to the same constant EXACTLY (rms == amplitude,
    //     1e-9) — then re-decodes the written WAV with the independent
    //     q132 decoder and pins rate/frames/RMS of the round trip ---
    "q169_audio_resample" -> ((s, dir) => {
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
    }),

    // --- mergeable quantile sketches (DDSketch-style): exact rolling/
    //     rollup percentiles cannot pre-aggregate, so per-group
    //     log-bucket histograms are the 100 TB answer (the quantile
    //     analogue of the q121/q128 HLL family). The gates compute the
    //     DISCRETE exact quantile (rank ⌈q·n⌉) with the same explicit
    //     rank formula on both engines — no reliance on built-in
    //     percentile interpolation semantics — and pin the sketch
    //     estimate within its α = 2 % relative-error guarantee ---
    "q133_quantile_sketch" -> ((s, dir) => {
      import graft.functions.DdSketch
      val ev = t(s, dir, "events")
      val sk = ev.groupBy(col("event_type"))
        .agg(DdSketch.sketchAgg(col("value")).as("sk"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"))
      val ranked = ev.select(col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      val exact = ranked
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === ceil(lit(0.5) * col("n")), col("value")))
            .as("ex50"),
          max(when(col("rn") === ceil(lit(0.95) * col("n")), col("value")))
            .as("ex95"))
      sk.join(exact, "event_type")
        .select(col("event_type"), col("n").cast("long").as("n"),
          round(col("ex95"), 4).as("p95_exact"),
          (abs(DdSketch.quantile(col("sk"), 0.5) / col("ex50") - 1) <= 0.02)
            .cast("int").as("p50_ok"),
          (abs(DdSketch.quantile(col("sk"), 0.95) / col("ex95") - 1) <= 0.02)
            .cast("int").as("p95_ok"))
    }),

    // --- rolling 7-day p95 from daily sketches merged over a window
    //     frame — ONE pass over raw data + an O(days) merge, vs the
    //     exact path's re-scan of every 7-day window (the self-join
    //     below, affordable only at oracle scale) ---
    "q134_rolling_p95" -> ((s, dir) => {
      import graft.functions.DdSketch
      val ev = t(s, dir, "events")
        .select(date_trunc("day", col("ts")).as("day"), col("value"))
      val daily = ev.groupBy(col("day"))
        .agg(DdSketch.sketchAgg(col("value")).as("sk"))
      val wf = org.apache.spark.sql.expressions.Window
        .orderBy(col("day")).rowsBetween(-6, 0)
      val approx = daily.select(col("day"),
        DdSketch.quantile(DdSketch.mergeAgg(col("sk")).over(wf), 0.95)
          .as("p95_7d"))
      val days = ev.select(col("day")).distinct()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("day"))))
      val windowVals = days.toDF("day", "rn")
        .join(days.toDF("d2", "rn2"),
          col("rn2") >= col("rn") - 6 && col("rn2") <= col("rn"))
        .join(ev.toDF("d2", "value"), Seq("d2"))
      val rw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day")).orderBy(col("value"))
      // explicit repartition: the window-frame fan-out rows compress
      // small enough that AQE coalesces the exchange to ONE partition
      // and the per-day sort runs single-task (caught by the 10×
      // smoke); a user-specified partitioning is exempt from
      // coalescing and the window reuses it (no second exchange)
      val exact = windowVals.repartition(32, col("day"))
        .withColumn("rw", row_number().over(rw))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("day"))))
        .filter(col("rw") === ceil(lit(0.95) * col("n")))
        .select(col("day"), round(col("value"), 4).as("p95_exact"))
      approx.join(exact, "day")
        .select(col("day"), col("p95_exact"),
          (abs(col("p95_7d") / col("p95_exact") - 1) <= 0.02)
            .cast("int").as("within_bound"))
    }),

    // --- Z-order (Morton) layout: the z-value itself is hash-checked
    //     (the oracle replays the integer min/max scaling and the bit
    //     interleave term-by-term); ZOrderSpec measures the actual
    //     file-skipping win. Layout is the biggest 100 TB lever after
    //     partitioning: a one-column sort leaves every OTHER filter
    //     column unprunable ---
    "q135_zorder_value" -> ((s, dir) =>
      graft.sources.ZOrder.withZValue(
          t(s, dir, "lineitem"), "l_partkey", "l_suppkey")
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("zval"))),

    // --- z-ordered sink roundtrip (q74 pattern): write range-
    //     partitioned on the z-value, read back a 2-D box whose bounds
    //     derive from the data (SF-independent), prove the layout is
    //     lossless via content equality with the unwritten table ---
    "q136_zorder_sink" -> ((s, dir) => {
      val path = scratch("zorder", dir)
      graft.sources.ZOrder.zorderWrite(
        t(s, dir, "lineitem"), "l_partkey", "l_suppkey", path, 16)
      val back = s.read.parquet(path)
      val mm = back.agg(
        min(col("l_partkey")).as("mnx"), max(col("l_partkey")).as("mxx"),
        min(col("l_suppkey")).as("mny"), max(col("l_suppkey")).as("mxy"))
      val lo = (mn: org.apache.spark.sql.Column, mx: org.apache.spark.sql.Column) =>
        mn + floor((mx - mn) / 8).cast("long")
      val hi = (mn: org.apache.spark.sql.Column, mx: org.apache.spark.sql.Column) =>
        mn + floor((mx - mn) / 4).cast("long")
      back.crossJoin(broadcast(mm))
        .filter(col("l_partkey").between(
            lo(col("mnx"), col("mxx")), hi(col("mnx"), col("mxx"))) &&
          col("l_suppkey").between(
            lo(col("mny"), col("mxy")), hi(col("mny"), col("mxy"))))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    }),

    // --- BM25 ranking over the q123 inverted-index family: idf ×
    //     saturated-tf with length normalization (k1 = 1.2, b = 0.75).
    //     All shuffles key on term or doc_id; the corpus-level stats
    //     ride a broadcast 1-row cross-join. avgdl divides an EXACT
    //     integer token sum (a distributed double Σ would be
    //     order-dependent in its last bits); ties rank on the ROUNDED
    //     score + doc_id so the top-3 cut is engine-independent ---
    "q137_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).as("dl"))
      val stats = dl.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val scored = tf.join(dfreq, "term").filter(col("df") >= 5)
        .join(dl, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("term"), col("doc_id"),
          round(
            log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1) *
              (col("tf") * 2.2) /
              (col("tf") + lit(1.2) *
                (lit(0.25) + (lit(0.75) * col("dl")) / col("avgdl"))),
            4).as("score"))
      // bounded top-3 per term via TopKAgg, not a window: the per-term
      // window shuffles every scored row and its small-bytes/CPU-dense
      // exchange coalesces to one task under AQE (measured 3.1 s
      // single-task at the 10× smoke); the aggregator ships ≤3 rows
      // per (mapper, term) and keeps the same (score desc, id) order
      graft.operators.TopKAgg.perGroup(scored, "term", "score", "doc_id", k = 3)
        .select(col("term"), col("doc_id"), col("score"))
    }),

    // --- bloom-prefiltered semi join: at scale a semi join against a
    //     non-broadcastable dim shuffles the whole fact side; the
    //     bloom bit-test drops non-candidates AT THE SCAN and the
    //     exact join removes false positives — output pinned equal to
    //     the plain semi join by the oracle ---
    "q138_bloom_semijoin" -> ((s, dir) => {
      val bigOrders = t(s, dir, "orders")
        .filter(col("o_totalprice") > 450000)
      graft.operators.BloomJoin.semiJoin(
          t(s, dir, "lineitem"), "l_orderkey", bigOrders, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          Det.sumRounded(col("l_quantity"), 2).as("sum_qty"))
    }),

    // --- Count-Min frequency gate: one global CM sketch over the
    //     token stream, probed at the exact top-20 terms. The sketch
    //     never underestimates, and the deterministic fixed-seed hash
    //     makes both flags constants of the data — the oracle pins
    //     them with the exact counts it recomputes itself ---
    "q139_cms_accuracy" -> ((s, dir) => {
      import graft.functions.CountMin
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
      val sk = toks.agg(CountMin.sketchAgg(col("term")).as("sk"))
      val top = toks.groupBy(col("term"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("term")).limit(20)
      top.crossJoin(broadcast(sk))
        .select(col("term"), col("n_exact"),
          (CountMin.estimate(col("sk"), col("term")) >= col("n_exact"))
            .cast("int").as("ge_ok"),
          (CountMin.estimate(col("sk"), col("term")) <=
            col("n_exact") + ceil(lit(CountMin.Eps) *
              CountMin.total(col("sk"))).cast("long"))
            .cast("int").as("bound_ok"))
    }),

    // --- KMV (theta) sketch overlap gate: per-event-type user
    //     sketches, pairwise distinct-intersection estimates — the
    //     set algebra HLL cannot do (register-max merge destroys the
    //     sample; KMV IS a uniform hash sample). Exact overlaps
    //     recomputed both sides; flags pinned (deterministic hash ⇒
    //     the estimate is a constant of the data) ---
    "q140_kmv_overlap" -> ((s, dir) => {
      import graft.functions.KmvSketch
      val ut = t(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val sk = ut.groupBy(col("event_type"))
        .agg(KmvSketch.sketchAgg(col("user_id")).as("sk"))
      val est = sk.toDF("type_a", "ska")
        .join(sk.toDF("type_b", "skb"), col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          KmvSketch.intersect(col("ska"), col("skb")).as("est"))
      val exact = ut.toDF("user_id", "type_a")
        .join(ut.toDF("user_id", "type_b"), Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      est.join(exact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("n_both"),
          (abs(col("est") - col("n_both")).cast("double") /
            col("n_both") <= 0.10).cast("int").as("within_bound"))
    }),

    // --- incremental ingest dedup: the NEW batch (doc_id % 4 == 0)
    //     probes the STORED corpus's persisted MinHash signature
    //     index; text is fetched only for band collisions. Oracle:
    //     the exhaustive cross-set exact-Jaccard pairs — the index
    //     path must find exactly what a full-corpus rescan would ---
    "q141_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val stored = docs.filter(col("doc_id") % 4 =!= 0)
      val fresh = docs.filter(col("doc_id") % 4 === 0)
      // materialize both signature frames ONCE (round-15, guide §2.4):
      // the lazy probe pipeline references each of them from the
      // banding AND the estimate join, and the candidate set from both
      // verify joins — unmaterialized, the stored index was re-BUILT
      // (a shingle+minhash pass over 3/4 of the corpus) ~4× per run.
      // Production reads the index from parquet (the q182 store), so
      // the one-time build here IS the honest fixture cost.
      val storedSigs = Dedup.minHashSignatures(
        stored, "doc_id", "text", n = 3, numHashes = 64).localCheckpoint()
      val freshSigs = Dedup.minHashSignatures(
        fresh, "doc_id", "text", n = 3, numHashes = 64).localCheckpoint()
      Dedup.incrementalNearDupVerified(fresh, "doc_id", "text",
        storedSigs, stored, threshold = 0.5,
        precomputedNewSigs = Some(freshSigs))
    }),

    // --- weighted PageRank over the part co-purchase graph (parts
    //     linked when they share an order; symmetric by construction,
    //     so no dangling mass). 3 synchronous power rounds: per round
    //     one edges⋈ranks join + one decimal-exact aggregation — the
    //     Pregel step as relational algebra. Edge fan-out is bounded
    //     by order width (≤7 lines), so the edge list — and every
    //     round's shuffle — grows linearly with the fact table ---
    "q142_pagerank" -> ((s, dir) =>
      graft.operators.Graph.pageRank(copurchaseEdges(s, dir),
          "src", "dst", "w", iters = 3)
        .orderBy(col("rank").desc, col("node")).limit(50)),

    // --- personalized PageRank from a trusted seed set: quality
    //     propagation over the co-purchase graph (score = graph
    //     proximity to curated seeds — the selection face of the
    //     pagerank machinery; q142's graph, seeds = nodes ≡ 0 mod 7) ---
    "q217_ppr_trust" -> ((s, dir) => {
      val e = copurchaseEdges(s, dir)
      val seeds = e.select(col("src").as("node")).distinct()
        .filter(pmod(col("node"), lit(7)) === 0)
      graft.operators.Graph.personalizedPageRank(e, "src", "dst", "w",
          seeds, "node", iters = 3)
        .orderBy(col("rank").desc, col("node")).limit(50)
    }),

    // --- bigram-LM cross-entropy scoring: the corpus's own bigram
    //     model scores each document's average transition surprisal —
    //     the classic cheap perplexity filter for training data.
    //     Count tables grow with the vocabulary, not the corpus ---
    "q143_bigram_lm" -> ((s, dir) =>
      LangModel.bigramNll(t(s, dir, "documents"), "doc_id", "text")),

    // --- top-500 vocabulary + per-language OOV coverage: the
    //     fixed-vocab tokenizer-fit signal. Vocabulary via
    //     TakeOrderedAndProject, membership via broadcast join — the
    //     token stream never shuffles for the lookup ---
    "q144_vocab_coverage" -> ((s, dir) =>
      LangModel.oovStats(t(s, dir, "documents"), "doc_id", "text",
        "lang", k = 500)),

    // --- deterministic shard assignment audit: content-hash shard i
    //     of 16 per document (stable across runs/engines/corpus
    //     versions), then per-shard balance stats — the pre-write
    //     check before partitionBy("shard") fan-out ---
    "q145_shard_assign" -> ((s, dir) =>
      Sampling.shardAssign(t(s, dir, "documents"), "doc_id", nShards = 16)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))),

    // --- per-node triangle counts on the repeat-co-purchase graph
    //     (parts sharing ≥2 orders), DEGREE-CAPPED to 32 strongest
    //     neighbors per node first: an absolute weight threshold
    //     densifies as data duplicates (10× scale smoke measured 22×
    //     growth), the cap bounds wedge work at n·d² by contract.
    //     Degree orientation then caps generation at O(m^1.5) — the
    //     hub-proof exact algorithm; the oracle mirrors cap + closes
    //     triangles the naive 3-way-join way ---
    "q146_triangles" -> ((s, dir) => {
      // the shared symmetric frame restricted to the upper triangle:
      // both orientations carry the same w, so this IS the src<dst
      // build (and the w ≥ 2 repeat-co-purchase floor applies after)
      val e = copurchaseEdges(s, dir)
        .filter(col("src") < col("dst") && col("w") >= 2)
      val capped = Graph.sparsifyByDegree(e, "src", "dst", "w", maxDegree = 32)
      Graph.triangleCounts(capped, "a", "b")
    }),

    // --- PMI collocation mining over the corpus bigram tables (the
    //     multi-word-expression detector that feeds tokenizer vocab
    //     decisions) ---
    "q147_pmi" -> ((s, dir) =>
      LangModel.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
        k = 50, minCount = 5)),

    // --- chi-squared label-discriminative terms: exact integer 2×2
    //     contingency per (term, lang) off one distinct (term, doc)
    //     stream; label totals broadcast ---
    "q148_chi2_terms" -> ((s, dir) =>
      LangModel.chi2Terms(t(s, dir, "documents"), "doc_id", "text",
        "lang", k = 50, minDocs = 5)),

    // --- leave-one-out target encoding of part key against the
    //     return flag: the leakage-free categorical mean encoding;
    //     one agg + one join back, singleton categories → NULL ---
    "q149_loo_encode" -> ((s, dir) =>
      Features.looTargetEncode(t(s, dir, "lineitem"), "l_partkey",
          (col("l_returnflag") === "R").cast("int"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("enc"))),

    // --- pairwise Welch t-tests between event types on the value
    //     metric: exact decimal moment sums, closed-form t and
    //     Welch–Satterthwaite dof on the 5-row stats frame ---
    "q150_welch_ab" -> ((s, dir) =>
      Features.welchPairs(t(s, dir, "events"), "event_type", "value")),

    // --- per-user covered online time from overlapping 30-minute
    //     activity windows: the interval-union sweep as ONE window
    //     pass per key (no interval×interval join), exact integer
    //     seconds ---
    "q151_interval_union" -> ((s, dir) => {
      val iv = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("st"))
        .withColumn("en", col("st") + 1800L)
      Intervals.coveredTime(iv, "user_id", "st", "en")
    }),

    // --- CUPED variance reduction per event type: first-half-of-
    //     month value as the pre-period covariate, second half as the
    //     metric; θ and the variance-reduction readout from exact
    //     decimal moments ---
    "q152_cuped" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("day", dayofmonth(col("ts")))
      val zero = lit(0).cast("decimal(18,2)")
      val units = ev.groupBy(col("user_id"), col("event_type"))
        .agg(
          sum(when(col("day") < 16, col("value").cast("decimal(18,2)"))
            .otherwise(zero)).cast("double").as("pre"),
          sum(when(col("day") >= 16, col("value").cast("decimal(18,2)"))
            .otherwise(zero)).cast("double").as("post"))
      Features.cuped(units, "event_type", "pre", "post")
    }),

    // --- weighted median price per return flag (weight = quantity):
    //     per-(group, value) weight histogram first, cumulative over
    //     DISTINCT VALUES only — the median is an input value, nothing
    //     to round ---
    "q153_weighted_median" -> ((s, dir) =>
      Features.weightedMedian(t(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", "l_quantity")),

    // --- key-skew concentration report (Gini + top-k share) for the
    //     events user key, computed from the count-of-counts histogram
    //     so no global per-key ranking exists anywhere in the plan ---
    "q154_skew_report" -> ((s, dir) =>
      Features.countConcentration(t(s, dir, "events"), "user_id")),

    // --- last-touch attribution: purchases credited to the latest
    //     prior click/view within 1 h — one ignore-nulls window pass
    //     per user, no conversion×history self-join ---
    "q155_attribution" -> ((s, dir) => {
      val conv = Attribution.lastTouch(t(s, dir, "events"),
        Seq("click", "view"), "purchase", lookbackS = 3600L)
      conv.groupBy(coalesce(col("attr_type"), lit("unattributed"))
          .as("attr_type"))
        .agg(count(lit(1)).as("n_conv"),
          Det.sumRounded(col("value"), 2).as("sum_value"),
          when(count(col("attr_age_s")) > 0,
            round(sum(col("attr_age_s")).cast("double") /
              count(col("attr_age_s")), 2)).as("avg_age_s"))
    }),

    // --- association rules (market-basket): directed part pairs with
    //     support ≥ 3 orders, confidence and lift from exact counts,
    //     top-25 by lift ---
    "q156_assoc_rules" -> ((s, dir) =>
      Features.assocRules(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 3L, k = 25)),

    // --- robust outlier report per event type: exact median + MAD
    //     via the per-(group, value) histogram (nothing floats until
    //     the cut multiply), |x−med| > 3·MAD ---
    "q157_mad_outliers" -> ((s, dir) =>
      Features.madOutliers(t(s, dir, "events"), "event_type", "value",
        cut = 3.0)),

    // --- temperature (α = 0.5) source re-weighting to half the
    //     corpus: per-source √n rates (decimal-exact normalizer),
    //     content-hash membership, rates broadcast — the corpus never
    //     shuffles ---
    "q158_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureMixHalf(t(s, dir, "documents"), "source",
          "doc_id", targetFraction = 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          round(min(col("rate")), 6).as("rate"))),

    // --- rolling 7-day correlation between daily quantity and revenue
    //     totals: decimal-exact frame moments over the DAILY series
    //     (day-count rows through the window, never the raw table) ---
    "q162_rolling_corr" -> ((s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("x"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("y"))
      Features.rollingCorr(daily, "d", "x", "y", lookback = 7)
    }),

    // --- quantile normalization of event values per type onto the
    //     global distribution: per-value histogram CDFs + one
    //     as-of-style ignore-nulls window per group — distribution
    //     alignment without ever ranking raw rows ---
    "q161_quantile_norm" -> ((s, dir) =>
      Features.quantileNormalize(t(s, dir, "events"), "event_type",
        "value")),

    // --- binned twin of q161: event values are CONTINUOUS (distinct
    //     ≈ rows), so the global-CDF window is table-sized without
    //     the knob; binDigits=0 floors values to integer bins, which
    //     provably bounds every CDF window to the ≤ ~500-row value
    //     histogram (the corpus-scale contract of quantileNormalize) ---
    "q193_qnorm_binned" -> ((s, dir) =>
      Features.quantileNormalize(t(s, dir, "events"), "event_type",
        "value", binDigits = Some(0))),

    // --- salted exact distinct: 5 hot keys × millions of rows is the
    //     case where per-key COUNT(DISTINCT) serializes on 5 reducers;
    //     salting on the hash of the DISTINCT VALUE partitions each
    //     key's value domain, so per-salt counts add exactly — output
    //     pinned equal to the plain COUNT(DISTINCT) by the oracle ---
    "q160_salted_distinct" -> ((s, dir) =>
      graft.operators.Skew.saltedDistinct(t(s, dir, "events"),
        "event_type", "user_id", saltFactor = 16)),

    // --- HITS authorities over the bipartite customer→part purchase
    //     graph (2 rounds, L1-normalized): the rank cut orders on the
    //     ROUNDED score + id so the top-30 is engine-identical ---
    "q159_hits" -> ((s, dir) => {
      val e = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
          "o_orderkey")
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      val (_, auth) = Graph.hits(e, "cust", "part", iters = 2)
      auth.select(col("id").as("part"), round(col("a"), 8).as("authority"))
        .orderBy(col("authority").desc, col("part")).limit(30)
    }),
  )

  /** Fixed marker profiles for q50 (first-wins tie order). Profile
    * quality is irrelevant to the operator contract — see
    * [[TextAnalysis.languageId]].
    */
  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "table", "row"),
    "es" -> Seq("query", "value", "vector"),
    "de" -> Seq("customer", "join", "column"),
    "fr" -> Seq("scan", "data", "batch"),
    "zh" -> Seq("small", "sort", "stream"))

  def oracleSql: Map[String, String] = Map(
    "q01_clean_project" -> ratingsSql,

    "q05_conditional_binarize" ->
      """SELECT event_id,
        |       CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label
        |FROM events""".stripMargin,

    "q04_distinct" -> "SELECT DISTINCT c_mktsegment FROM customer",

    "q02_popularity_topn" ->
      s"""WITH r AS ($ratingsSql)
         |SELECT itemId,
         |       ROUND(CAST(SUM(CAST(rating AS DECIMAL(18,2))) AS DOUBLE) / COUNT(rating), 4) AS avg_rating,
         |       COUNT(rating) AS num_ratings
         |FROM r GROUP BY itemId HAVING COUNT(rating) >= 2
         |ORDER BY avg_rating DESC, num_ratings DESC, itemId
         |LIMIT 100""".stripMargin,

    "q03_group_count" ->
      "SELECT o_custkey, COUNT(*) AS num_orders FROM orders GROUP BY o_custkey",

    "q17_summary_stats" ->
      """SELECT COUNT(l_quantity) AS n,
        |       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 4) AS mean,
        |       ROUND(SQRT((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |                   - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE))
        |                  / (CAST(COUNT(l_quantity) AS DOUBLE) - 1.0)), 4) AS stddev,
        |       MIN(l_quantity) AS min,
        |       MAX(l_quantity) AS max
        |FROM lineitem""".stripMargin,

    "q06_id_mapping" ->
      """SELECT o_custkey,
        |       CAST(ROW_NUMBER() OVER (ORDER BY o_custkey) - 1 AS BIGINT) AS mapped_id
        |FROM (SELECT DISTINCT o_custkey FROM orders) t""".stripMargin,

    "q07_join_inner" ->
      """SELECT o_orderkey, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "q08_join_semi" ->
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)""".stripMargin,

    "q09_join_left" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS num_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin,

    "q10_join_multiway_broadcast" ->
      """SELECT n_name,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
        |       COUNT(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q11_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rank
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn <= 3""".stripMargin,

    "q59_topk_agg" ->
      """SELECT o_custkey, CAST(rn AS INT) AS rank, o_orderkey,
        |       CAST(o_totalprice AS DOUBLE) AS total_d
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             ROW_NUMBER() OVER (PARTITION BY o_custkey
        |               ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn <= 3""".stripMargin,

    "q14_dedup_first_seen" ->
      """SELECT l_orderkey, l_returnflag, l_linenumber
        |FROM (SELECT l_orderkey, l_returnflag, l_linenumber,
        |             ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_returnflag ORDER BY l_linenumber) AS rn
        |      FROM lineitem) t
        |WHERE rn = 1""".stripMargin,

    "q12_split_loo_counts" ->
      """SELECT o_custkey, CAST(1 AS BIGINT) AS n_test, COUNT(*) - 1 AS n_train
        |FROM orders GROUP BY o_custkey""".stripMargin,

    "q13_fold_sizes" ->
      """WITH c AS (SELECT o_custkey, COUNT(*) AS grp_n FROM orders GROUP BY o_custkey),
        |r AS (SELECT o_custkey,
        |             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |      FROM orders)
        |SELECT r.o_custkey,
        |       CAST(CASE WHEN c.grp_n >= 5 THEN r.rn % 3 ELSE -1 END AS INT) AS fold,
        |       COUNT(*) AS n
        |FROM r JOIN c USING (o_custkey)
        |GROUP BY 1, 2""".stripMargin,

    "q15_explode" ->
      """SELECT vec_id,
        |       CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |       unnest(embedding) AS val
        |FROM embeddings""".stripMargin,

    "q16_pivot" ->
      """SELECT l_returnflag,
        |       COALESCE(ROUND(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 2), 0.0) AS F,
        |       COALESCE(ROUND(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 2), 0.0) AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q18_except" ->
      "SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders",

    "q19_intersect" ->
      "SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders",

    "q20_union" ->
      """SELECT o_custkey AS key FROM orders
        |UNION
        |SELECT c_custkey AS key FROM customer""".stripMargin,

    "q21_strings" ->
      """SELECT p_partkey,
        |       UPPER(SUBSTRING(p_name, 1, 12)) AS name12,
        |       p_brand || '-' || p_type AS brand_type,
        |       CAST(LENGTH(p_name) AS INT) AS name_len
        |FROM part""".stripMargin,

    "q22_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q81_upsert_latest" ->
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |                     CAST(0 AS BIGINT) AS version FROM orders),
        |chg AS (SELECT o_orderkey, o_custkey,
        |               CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) *
        |                    CAST('1.10' AS DECIMAL(4,2)), 2) AS DOUBLE) AS o_totalprice,
        |               CAST(1 AS BIGINT) AS version
        |        FROM orders WHERE o_orderkey % 10 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |                 ORDER BY version DESC) AS rn FROM u)
        |SELECT o_orderkey, o_custkey, o_totalprice, version
        |FROM r WHERE rn = 1""".stripMargin,

    "q83_histogram" ->
      """SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
        |       COUNT(*) AS n,
        |       ROUND(MIN(o_totalprice), 2) AS lo,
        |       ROUND(MAX(o_totalprice), 2) AS hi
        |FROM orders GROUP BY 1""".stripMargin,

    "q79_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_base_price,
        |       ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |             (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)))
        |             AS DOUBLE), 2) AS sum_disc_price,
        |       ROUND(CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |             (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)) *
        |             (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2))) AS DECIMAL(18,6)))
        |             AS DOUBLE), 2) AS sum_charge,
        |       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    "q77_anti_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= DATE '1998-01-01')""".stripMargin,

    "q70_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, event_id AS click_id, value AS click_value
        |      FROM events WHERE event_type = 'click')
        |SELECT l.event_id, l.user_id, l.ts,
        |       r.click_id AS asof_click_id, r.click_value AS asof_click_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    "q71_range_join" ->
      """WITH w AS (SELECT event_id AS win_id, user_id, ts AS start_ts,
        |                  ts + INTERVAL 2 DAY AS end_ts
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT w.win_id, w.user_id, COUNT(*) AS n_purchases
        |FROM w JOIN p ON w.user_id = p.user_id
        |              AND p.ts >= w.start_ts AND p.ts < w.end_ts
        |GROUP BY 1, 2""".stripMargin,

    // same gaps-and-islands sessionization as q61, then per-session
    // conditional min timestamps and the strict ordering test; NULL
    // comparisons are false in both engines, so sessions missing a
    // stage never count as converted
    "q84_conversion_funnel" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_type,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (
        |  SELECT user_id, sid,
        |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS vt,
        |         MIN(CASE WHEN event_type = 'click' THEN ts END) AS ct,
        |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS pt
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |       CAST(SUM(CASE WHEN vt < ct AND ct < pt THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_converted
        |FROM sess GROUP BY user_id""".stripMargin,

    "q61_session_window" ->
      """WITH m AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(ts) AS sess_start, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM g GROUP BY user_id, sid""".stripMargin,

    "q62_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q63_percentiles" ->
      """SELECT l_returnflag,
        |       ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS p50,
        |       ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 4) AS p90,
        |       ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 4) AS p99_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q64_rank_family" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(RANK() OVER w AS INT) AS rnk,
        |       CAST(DENSE_RANK() OVER w AS INT) AS drnk,
        |       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
        |       ROUND(CUME_DIST() OVER w, 6) AS cdist,
        |       CAST(NTILE(4) OVER wt AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice),
        |       wt AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""".stripMargin,

    "q23_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q24_json_extract" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events""".stripMargin,

    "q25_date_parts" ->
      """SELECT o_orderkey,
        |       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        |       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
        |       CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom
        |FROM orders""".stripMargin,

    "q31_attach_mappings" ->
      s"""WITH r AS ($ratingsSql),
         |u AS (SELECT userId, CAST(ROW_NUMBER() OVER (ORDER BY userId) - 1 AS BIGINT) AS u
         |      FROM (SELECT DISTINCT userId FROM r)),
         |i AS (SELECT itemId, CAST(ROW_NUMBER() OVER (ORDER BY itemId) - 1 AS BIGINT) AS i
         |      FROM (SELECT DISTINCT itemId FROM r))
         |SELECT u.u, COUNT(*) AS n,
         |       ROUND(CAST(SUM(CAST(r.rating AS DECIMAL(18,2))) AS DOUBLE) / COUNT(r.rating), 4) AS avg_r
         |FROM r JOIN u ON r.userId = u.userId JOIN i ON r.itemId = i.itemId
         |GROUP BY u.u""".stripMargin,

    "q39_nadrop_subset" ->
      """SELECT event_id, value AS value_n, event_type
        |FROM events WHERE value <= 400""".stripMargin,

    "q40_distinct_count" ->
      """SELECT COUNT(DISTINCT o_custkey) AS n_cust,
        |       COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM orders""".stripMargin,

    "q60_salted_join" ->
      """SELECT l_orderkey, l_partkey, CAST(l_quantity AS INT) AS qty, o_custkey
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin,

    "q41_join_agg_limit" ->
      """WITH popular AS (
        |  SELECT l_partkey, COUNT(*) AS num_ratings FROM lineitem
        |  GROUP BY l_partkey ORDER BY num_ratings DESC, l_partkey LIMIT 50)
        |SELECT p_partkey, p_name, num_ratings
        |FROM popular JOIN part ON l_partkey = p_partkey""".stripMargin,

    "q42_sql_entry" ->
      """SELECT c_mktsegment, COUNT(*) AS n
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q43_quality_report" ->
      s"""WITH r AS ($ratingsSql)
         |SELECT itemId,
         |       ROUND(CAST(SUM(CAST(rating AS DECIMAL(18,2))) AS DOUBLE) / COUNT(rating), 4) AS mean_rating,
         |       COUNT(*) AS n_recs
         |FROM r WHERE rating > 5
         |GROUP BY itemId
         |ORDER BY mean_rating DESC, n_recs DESC, itemId""".stripMargin,

    "q26_rmse" ->
      s"""WITH r AS ($ratingsSql),
         |m AS (SELECT itemId,
         |             ROUND(CAST(SUM(CAST(rating AS DECIMAL(18,2))) AS DOUBLE) / COUNT(rating), 4) AS pred
         |      FROM r GROUP BY itemId)
         |SELECT ROUND(SQRT(CAST(SUM(CAST(pred - rating AS DECIMAL(18,8)) * CAST(pred - rating AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*)), 4) AS rmse
         |FROM r JOIN m USING (itemId)""".stripMargin,

    "q27_auc" ->
      """WITH src AS (
        |  SELECT CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
        |         CAST(json_extract_string(props, '$.k') AS INT) AS score
        |  FROM events),
        |g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
        |      FROM src GROUP BY score),
        |w AS (SELECT *,
        |             COALESCE(SUM(n) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |      FROM g)
        |SELECT ROUND((SUM(pos * (cum_before + (n + 1.0) / 2.0)) - SUM(pos) * (SUM(pos) + 1.0) / 2.0)
        |             / (SUM(pos) * (SUM(n) - SUM(pos))), 6) AS auc
        |FROM w""".stripMargin,

    "q34_roc_points" ->
      """WITH src AS (
        |  SELECT CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
        |         CAST(json_extract_string(props, '$.k') AS INT) AS score
        |  FROM events),
        |g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
        |      FROM src GROUP BY score),
        |w AS (SELECT *,
        |             SUM(pos) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |             SUM(n)   OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |             SUM(pos) OVER () AS tot_pos,
        |             SUM(n)   OVER () AS tot_n
        |      FROM g)
        |SELECT score,
        |       ROUND((cum_n - cum_pos) / (tot_n - tot_pos), 6) AS fpr,
        |       ROUND(cum_pos / tot_pos, 6) AS tpr
        |FROM w""".stripMargin,

    // binned-ROC twin: decimal-floor binning replayed verbatim
    // (FLOOR is exact on doubles and engine-portable, unlike decimal
    // rounding), then the identical q34 curve SQL over the bins
    "q192_roc_binned" ->
      """WITH src AS (
        |  SELECT CAST(user_id % 2 AS DOUBLE) AS label,
        |         FLOOR(("value" / 7.0) * 10.0) / 10.0 AS score
        |  FROM events),
        |g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
        |      FROM src GROUP BY score),
        |w AS (SELECT *,
        |             SUM(pos) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |             SUM(n)   OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |             SUM(pos) OVER () AS tot_pos,
        |             SUM(n)   OVER () AS tot_n
        |      FROM g)
        |SELECT score,
        |       ROUND((cum_n - cum_pos) / (tot_n - tot_pos), 6) AS fpr,
        |       ROUND(cum_pos / tot_pos, 6) AS tpr
        |FROM w""".stripMargin,

    // the q27 rank-sum SQL over the q192 binned-score histogram
    "q196_auc_binned" ->
      """WITH src AS (
        |  SELECT CAST(user_id % 2 AS DOUBLE) AS label,
        |         FLOOR(("value" / 7.0) * 10.0) / 10.0 AS score
        |  FROM events),
        |g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
        |      FROM src GROUP BY score),
        |w AS (SELECT *,
        |             COALESCE(SUM(n) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |      FROM g)
        |SELECT ROUND((SUM(pos * (cum_before + (n + 1.0) / 2.0)) - SUM(pos) * (SUM(pos) + 1.0) / 2.0)
        |             / (SUM(pos) * (SUM(n) - SUM(pos))), 6) AS auc
        |FROM w""".stripMargin,

    // reliability diagram: decimal-exact per-bin score mass, IEEE
    // double divisions — the replay mirrors Eval.calibrationBins op
    // for op (LEAST/FLOOR binning, DECIMAL(18,8) accumulation)
    "q199_calibration_bins" ->
      """WITH src AS (
        |  SELECT CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
        |         CAST(CAST(json_extract_string(props, '$.k') AS INT) AS DOUBLE) / 100.0 AS score
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |b AS (
        |  SELECT CAST(LEAST(FLOOR(score * 10), 9) AS INT) AS bin,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(score AS DECIMAL(18,8))) AS s,
        |         SUM(label) AS pos
        |  FROM src GROUP BY 1)
        |SELECT bin,
        |       ROUND(CAST(bin AS DOUBLE) / 10, 6) AS p_lo,
        |       n,
        |       ROUND(CAST(s AS DOUBLE) / n, 6) AS conf,
        |       ROUND(pos / n, 6) AS acc,
        |       ROUND(ABS(pos / n - CAST(s AS DOUBLE) / n), 6) AS gap
        |FROM b ORDER BY bin""".stripMargin,

    "q200_calibration_summary" ->
      """WITH src AS (
        |  SELECT CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
        |         CAST(CAST(json_extract_string(props, '$.k') AS INT) AS DOUBLE) / 100.0 AS score
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |b AS (
        |  SELECT CAST(LEAST(FLOOR(score * 10), 9) AS INT) AS bin,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(score AS DECIMAL(18,8))) AS s,
        |         SUM(label) AS pos,
        |         SUM((CAST(score AS DECIMAL(18,8)) - CAST(label AS DECIMAL(18,8))) *
        |             (CAST(score AS DECIMAL(18,8)) - CAST(label AS DECIMAL(18,8)))) AS sq
        |  FROM src GROUP BY 1),
        |g AS (SELECT *, ABS(pos / n - CAST(s AS DOUBLE) / n) AS gap FROM b)
        |SELECT CAST(SUM(n) AS BIGINT) AS n,
        |       ROUND(SUM(gap * n) / SUM(n), 6) AS ece,
        |       ROUND(MAX(gap), 6) AS mce,
        |       ROUND(CAST(SUM(sq) AS DOUBLE) / SUM(n), 6) AS brier
        |FROM g""".stripMargin,

    "q28_fill_to_k" ->
      s"""WITH r AS ($ratingsSql),
         |p AS (SELECT userId, itemId, CAST(rating AS DOUBLE) AS score, 0 AS tier
         |      FROM r WHERE rating >= 9),
         |pool AS (SELECT itemId, CAST(COUNT(*) AS DOUBLE) AS score
         |         FROM r GROUP BY itemId
         |         ORDER BY score DESC, itemId LIMIT 5),
         |f AS (SELECT u.userId, pool.itemId, pool.score, 1 AS tier
         |      FROM (SELECT DISTINCT userId FROM r) u CROSS JOIN pool
         |      WHERE NOT EXISTS (SELECT 1 FROM p
         |                        WHERE p.userId = u.userId AND p.itemId = pool.itemId)),
         |un AS (SELECT * FROM p UNION ALL SELECT * FROM f),
         |ranked AS (SELECT userId, itemId, score, tier,
         |                  CAST(ROW_NUMBER() OVER (PARTITION BY userId
         |                       ORDER BY tier, score DESC, itemId) AS INT) AS rank
         |           FROM un)
         |SELECT userId, itemId, score, tier, rank FROM ranked WHERE rank <= 3""".stripMargin,

    // serve-wide with a deterministic scorer: first-seen dedup →
    // tiered fill (tier, score desc, itemId) → conditional-aggregation
    // pivot — the SQL mirror of dedupFirstSeen + fillToK + wide
    "q164_serve_wide_det" ->
      s"""WITH r AS ($ratingsSql),
         |u AS (SELECT DISTINCT userId FROM r ORDER BY userId LIMIT 20),
         |d AS (SELECT r.userId, itemId, CAST(rating AS DOUBLE) AS score,
         |             ROW_NUMBER() OVER (PARTITION BY r.userId, itemId
         |                  ORDER BY rating DESC) AS dup_rn
         |      FROM r JOIN u USING (userId) WHERE rating >= 9),
         |p AS (SELECT userId, itemId, score, 0 AS tier FROM d WHERE dup_rn = 1),
         |pool AS (SELECT itemId, CAST(COUNT(*) AS DOUBLE) AS score
         |         FROM r GROUP BY itemId
         |         ORDER BY score DESC, itemId LIMIT 10),
         |f AS (SELECT u.userId, pool.itemId, pool.score, 1 AS tier
         |      FROM u CROSS JOIN pool
         |      WHERE NOT EXISTS (SELECT 1 FROM p
         |                        WHERE p.userId = u.userId AND p.itemId = pool.itemId)),
         |un AS (SELECT * FROM p UNION ALL SELECT * FROM f),
         |ranked AS (SELECT userId, itemId,
         |                  ROW_NUMBER() OVER (PARTITION BY userId
         |                       ORDER BY tier, score DESC, itemId) AS rank
         |           FROM un)
         |SELECT userId,
         |       MAX(CASE WHEN rank = 1 THEN itemId END) AS item_1,
         |       MAX(CASE WHEN rank = 2 THEN itemId END) AS item_2,
         |       MAX(CASE WHEN rank = 3 THEN itemId END) AS item_3,
         |       MAX(CASE WHEN rank = 4 THEN itemId END) AS item_4,
         |       MAX(CASE WHEN rank = 5 THEN itemId END) AS item_5
         |FROM ranked WHERE rank <= 5 GROUP BY userId""".stripMargin,

    "q35_explode_struct" ->
      """SELECT l_orderkey,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |            ORDER BY l_linenumber, l_partkey) AS INT) AS rank,
        |       l_linenumber AS ln, l_partkey AS pk
        |FROM lineitem""".stripMargin,

    "q29_exact_dedup" ->
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |       COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q36_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                   for i in range(1, len(s) - 1)]) AS shingle
        |    FROM toks)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
        |FROM pairs JOIN sizes sa ON id_a = sa.doc_id
        |           JOIN sizes sb ON id_b = sb.doc_id
        |WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.05""".stripMargin,

    // exhaustive exact-Jaccard pairs at 0.5 — matches the LSH+verify
    // output because the verify stage is exact and banding recall at
    // this threshold is ≥ 1−1e-4 per pair (see Dedup.minHashNearDupVerified)
    "q45_minhash_neardup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                   for i in range(1, len(s) - 1)]) AS shingle
        |    FROM toks)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |       ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
        |FROM pairs JOIN sizes sa ON id_a = sa.doc_id
        |           JOIN sizes sb ON id_b = sb.doc_id
        |WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5""".stripMargin,

    // exact SimHash fingerprint replay: the per-token hash is the
    // leading 60 bits of md5 — computable bit-identically in both
    // engines (see Dedup.SimBits) — so the oracle rebuilds every
    // fingerprint from scratch: per-bit ±1 frequency votes over the
    // token multiset, bit j set iff its vote sum is positive
    "q46_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) AS h
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, r.j,
        |         SUM(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS j) r
        |  GROUP BY doc_id, r.j)
        |SELECT doc_id,
        |       CAST(SUM(CASE WHEN v > 0
        |                     THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
        |                     ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin,

    // reachability closure over the exact near-dup pairs (both
    // directions), min reachable id = cluster label
    "q80_dup_clusters" ->
      s"""WITH RECURSIVE $dupClusterCte
         |SELECT doc_id, cluster FROM cl""".stripMargin,

    // canonicalization on top of the same recursive-reachability
    // clusters + the q52 quality formula; argmax via window
    "q165_dup_canonical" ->
      s"""WITH RECURSIVE $dupClusterCte,
         |tk2 AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
         |st2 AS (SELECT doc_id,
         |               LENGTH(text) AS n_chars, LEN(s) AS n_tokens,
         |               LEN(list_distinct(s)) AS n_unique,
         |               ROUND(CAST(LEN(list_filter(s, t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE) / LEN(s), 6) AS stop_ratio
         |        FROM tk2),
         |q AS (SELECT doc_id,
         |             ROUND((LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
         |                    + LEAST(stop_ratio * 5.0, 1.0)
         |                    + CAST(n_unique AS DOUBLE) / n_tokens) / 3.0, 6) AS quality
         |      FROM st2),
         |r AS (SELECT cl.cluster, q.doc_id, q.quality,
         |             ROW_NUMBER() OVER (PARTITION BY cl.cluster
         |                  ORDER BY q.quality DESC, q.doc_id) AS rn,
         |             COUNT(*) OVER (PARTITION BY cl.cluster) AS nm,
         |             MAX(q.quality) OVER (PARTITION BY cl.cluster) AS bq
         |      FROM cl JOIN q USING (doc_id))
         |SELECT cluster, doc_id AS canonical_id,
         |       CAST(nm AS BIGINT) AS n_members, bq AS best_score
         |FROM r WHERE rn = 1""".stripMargin,

    // soft dedup over the same clusters: weight + md5-draw keep flag
    // replayed exactly (the q65 hash-draw construction)
    "q180_soft_dedup" ->
      s"""WITH RECURSIVE $dupClusterCte,
         |sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
         |       FROM cl GROUP BY 1)
         |SELECT cl.doc_id, cl.cluster, sz.n_members,
         |       ROUND(CAST(1.0 AS DOUBLE) / sz.n_members, 6) AS weight,
         |       CAST((CAST(('0x' || substring(
         |                     md5(CAST(cl.doc_id AS VARCHAR) || 'softDedup'),
         |                     1, 8)) AS BIGINT) / 4294967296.0)
         |            < ROUND(CAST(1.0 AS DOUBLE) / sz.n_members, 6)
         |            AS INT) AS kept
         |FROM cl JOIN sz USING (cluster)""".stripMargin,

    // dedup-aware split over the same clusters: split is a pure
    // function of the cluster id, leak_free recomputed not assumed
    "q166_dedup_split" ->
      s"""WITH RECURSIVE $dupClusterCte,
         |ws AS (SELECT doc_id, cluster,
         |              CASE WHEN cluster % 10 < 8 THEN 'train'
         |                   WHEN cluster % 10 = 8 THEN 'val'
         |                   ELSE 'test' END AS split
         |       FROM cl),
         |lf AS (SELECT CAST(CASE WHEN MAX(nsp) <= 1 THEN 1 ELSE 0 END AS INT)
         |                 AS leak_free
         |       FROM (SELECT cluster, COUNT(DISTINCT split) AS nsp
         |             FROM ws GROUP BY 1))
         |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
         |       lf.leak_free
         |FROM ws CROSS JOIN lf GROUP BY split, lf.leak_free""".stripMargin,

    // replays chunk dedup verbatim: same tokenize (single-space
    // split), same 6-token non-overlapping chunks (list slice clamps
    // like Spark's `slice`), same >1-distinct-docs removal rule, same
    // in-order reassembly; docs losing every chunk keep a '' row
    "q170_chunk_dedup" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |chunks AS (
        |  SELECT doc_id, i.idx AS idx,
        |         array_to_string(ts[(i.idx*6+1):(i.idx*6+6)], ' ') AS chunk
        |  FROM tok, LATERAL unnest(range(0, (len(ts)-1)//6 + 1)) AS i(idx)),
        |dup AS (
        |  SELECT chunk FROM chunks GROUP BY chunk
        |  HAVING count(DISTINCT doc_id) > 1),
        |rea AS (
        |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS text_dedup,
        |         count(*) AS n_kept
        |  FROM (SELECT c.doc_id, c.idx, c.chunk
        |        FROM chunks c ANTI JOIN dup d USING (chunk))
        |  GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.text_dedup, '') AS text_dedup,
        |       CAST(t.n_chunks AS BIGINT) AS n_chunks,
        |       CAST(t.n_chunks - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
        |FROM tot t LEFT JOIN rea r USING (doc_id)""".stripMargin,

    // same chunk replay; membership set = the benchmark slice's
    // 6-token SLIDING windows (every offset) ∪ its aligned chunk
    // stream (sub-6-token tails / short docs) — alignment-free, so a
    // bench passage at any offset in a training doc still matches
    "q172_decontaminate" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |chunks AS (
        |  SELECT doc_id, i.idx AS idx,
        |         array_to_string(ts[(i.idx*6+1):(i.idx*6+6)], ' ') AS chunk
        |  FROM tok, LATERAL unnest(range(0, (len(ts)-1)//6 + 1)) AS i(idx)),
        |bench AS (
        |  SELECT DISTINCT chunk FROM (
        |    SELECT chunk FROM chunks WHERE doc_id < 20
        |    UNION ALL
        |    SELECT array_to_string(ts[i.idx:(i.idx+5)], ' ') AS chunk
        |    FROM tok, LATERAL unnest(range(1, len(ts) - 4)) AS i(idx)
        |    WHERE doc_id < 20 AND len(ts) >= 6)),
        |train AS (SELECT * FROM chunks WHERE doc_id >= 20),
        |rea AS (
        |  SELECT doc_id, string_agg(chunk, ' ' ORDER BY idx) AS text_clean,
        |         count(*) AS n_kept
        |  FROM (SELECT t.doc_id, t.idx, t.chunk
        |        FROM train t ANTI JOIN bench b USING (chunk))
        |  GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_chunks FROM train GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(r.text_clean, '') AS text_clean,
        |       CAST(t.n_chunks AS BIGINT) AS n_chunks,
        |       CAST(t.n_chunks - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
        |FROM tot t LEFT JOIN rea r USING (doc_id)""".stripMargin,

    // replays shardAssign's 16-bit md5 prefix mod 16, then the
    // in-shard order on (full md5 draw, key) — hex compares agree
    // byte-for-byte (both engines emit lowercase hex)
    // behavioral flag gate (q126 pattern): the count is exact, the
    // flag pins the Spark-side AUC bound
    "q174_quality_model" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(1 AS INT) AS auc_ok FROM documents""".stripMargin,

    // triplet replay: one dot CTE, same-label row_number 1 = positive,
    // cross-label row_number <= 3 = negatives, semi-hard comparison
    "q190_contrastive_triplets" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(unnest(embedding) AS DECIMAL(18,9)) AS vd,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |norms AS (SELECT vec_id, SQRT(CAST(SUM(vd*vd) AS DOUBLE)) AS nrm
        |          FROM e GROUP BY vec_id),
        |lab AS (SELECT DISTINCT vec_id, label FROM e),
        |dots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         CAST(SUM(a.vd*b.vd) AS DOUBLE) AS dot
        |  FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 50
        |  GROUP BY 1, 2),
        |cos AS (
        |  SELECT id_a, id_b, la.label AS lab_a, lb.label AS lab_b,
        |         ROUND(dot / (na.nrm * nb.nrm), 4) AS cos
        |  FROM dots JOIN norms na ON id_a = na.vec_id
        |            JOIN norms nb ON id_b = nb.vec_id
        |            JOIN lab la ON id_a = la.vec_id
        |            JOIN lab lb ON id_b = lb.vec_id),
        |p AS (
        |  SELECT id_a, id_b AS pos_id, cos AS pos_cos FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
        |              ORDER BY cos DESC, id_b) AS rn
        |    FROM cos WHERE lab_a = lab_b) t
        |  WHERE rn = 1),
        |n AS (
        |  SELECT id_a, CAST(rn AS INT) AS neg_rank, id_b AS neg_id,
        |         cos AS neg_cos FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY id_a
        |              ORDER BY cos DESC, id_b) AS rn
        |    FROM cos WHERE lab_a <> lab_b) t
        |  WHERE rn <= 3)
        |SELECT p.id_a, p.pos_id, p.pos_cos, n.neg_rank, n.neg_id, n.neg_cos,
        |       CAST(CASE WHEN n.neg_cos < p.pos_cos THEN 1 ELSE 0 END AS INT)
        |         AS semi_hard
        |FROM p JOIN n ON p.id_a = n.id_a""".stripMargin,

    // the q32/q52/q50/q103 formulas fused into one CTE pipeline —
    // value-identical to the standalone oracles by construction
    "q189_signal_panel" ->
      """WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
        |st AS (SELECT doc_id, text, s,
        |       CAST(LENGTH(text) AS INT) AS n_chars,
        |       CAST(LEN(s) AS INT) AS n_tokens,
        |       CAST(LEN(list_distinct(s)) AS INT) AS n_unique,
        |       ROUND(CAST(list_sum(list_transform(s, t -> LENGTH(t))) AS DOUBLE) / LEN(s), 6) AS avg_token_len,
        |       ROUND(CAST(LEN(list_filter(s, t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE) / LEN(s), 6) AS stop_ratio,
        |       ROUND(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:''"]', '', 'g')) AS DOUBLE) / LENGTH(text), 6) AS punct_ratio,
        |       ROUND(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / LENGTH(text), 6) AS digit_ratio,
        |       LEN(list_filter(s, t -> t IN ('the','table','row'))) AS s_en,
        |       LEN(list_filter(s, t -> t IN ('query','value','vector'))) AS s_es,
        |       LEN(list_filter(s, t -> t IN ('customer','join','column'))) AS s_de,
        |       LEN(list_filter(s, t -> t IN ('scan','data','batch'))) AS s_fr,
        |       LEN(list_filter(s, t -> t IN ('small','sort','stream'))) AS s_zh,
        |       list_transform(range(1, len(s) - 1),
        |         i -> s[i] || ' ' || s[i+1] || ' ' || s[i+2]) AS grams
        |       FROM tk),
        |mx AS (SELECT *, GREATEST(s_en, s_es, s_de, s_fr, s_zh) AS best FROM st)
        |SELECT doc_id, n_chars, n_tokens, n_unique, avg_token_len,
        |       stop_ratio, punct_ratio, digit_ratio,
        |       ROUND((LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
        |              + LEAST(stop_ratio * 5.0, 1.0)
        |              + CAST(n_unique AS DOUBLE) / n_tokens) / 3.0, 6) AS quality,
        |       CASE WHEN s_en = best THEN 'en'
        |            WHEN s_es = best THEN 'es'
        |            WHEN s_de = best THEN 'de'
        |            WHEN s_fr = best THEN 'fr'
        |            WHEN s_zh = best THEN 'zh'
        |            ELSE 'und' END AS predicted_lang,
        |       CAST(best AS INT) AS lang_score,
        |       CAST(len(grams) AS INT) AS n_grams,
        |       ROUND(CASE WHEN len(grams) > 0
        |                  THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
        |                             / len(grams)
        |                  ELSE 0.0 END, 6) AS rep_ratio
        |FROM mx""".stripMargin,

    // no-straddle packing replay: same md5 block, same per-class
    // ordinal, same div/mod arithmetic
    "q188_bucket_pack" ->
      """WITH base AS (
        |  SELECT doc_id, lang, CAST(LEN(string_split(text, ' ')) AS INT) AS n_tok,
        |         CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |                   AS BIGINT) % 4 AS INT) AS block
        |  FROM documents),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang, n_tok, block
        |                               ORDER BY doc_id) AS rn,
        |         CAST(FLOOR(128.0 / n_tok) AS BIGINT) AS cap
        |  FROM base)
        |SELECT doc_id, lang, n_tok, block,
        |       CAST(CASE WHEN n_tok > 128 THEN -1
        |                 ELSE CAST(FLOOR((rn - 1) / cap) AS BIGINT) END AS BIGINT) AS pack_seq,
        |       CAST(CASE WHEN n_tok > 128 THEN -1 ELSE (rn - 1) % cap END AS INT) AS slot
        |FROM r""".stripMargin,

    // q37's exact-cosine oracle with the cross-label join condition:
    // negatives ranked among label-differing pairs only
    "q186_hard_negatives" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(unnest(embedding) AS DECIMAL(18,9)) AS vd,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |norms AS (SELECT vec_id, SQRT(CAST(SUM(vd*vd) AS DOUBLE)) AS nrm
        |          FROM e GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |         CAST(SUM(a.vd*b.vd) AS DOUBLE) AS dot
        |  FROM e a JOIN e b ON a.pos = b.pos AND a.label <> b.label
        |  WHERE a.vec_id < 100
        |  GROUP BY 1, 2),
        |cos AS (
        |  SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 4) AS cos
        |  FROM dots JOIN norms na ON id_a = na.vec_id
        |            JOIN norms nb ON id_b = nb.vec_id)
        |SELECT id_a, id_b, cos, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id_a
        |            ORDER BY cos DESC, id_b) AS INT) AS rank
        |  FROM cos) t
        |WHERE rank <= 3""".stripMargin,

    // greedy-by-quality selection to a 15k-token budget: score value
    // histogram -> cumulative -> overflow value s*; boundary bucket
    // refined by a rounded-md5-draw histogram, whole buckets kept
    "q187_budget_select" ->
      """WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
        |st AS (SELECT doc_id,
        |              LENGTH(text) AS n_chars, LEN(s) AS n_tokens,
        |              LEN(list_distinct(s)) AS n_unique,
        |              ROUND(CAST(LEN(list_filter(s, t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE) / LEN(s), 6) AS stop_ratio
        |       FROM tk),
        |q AS (SELECT doc_id,
        |             ROUND((LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
        |                    + LEAST(stop_ratio * 5.0, 1.0)
        |                    + CAST(n_unique AS DOUBLE) / n_tokens) / 3.0, 6) AS score,
        |             CAST(n_tokens AS BIGINT) AS cost
        |      FROM st),
        |hist AS (SELECT score, SUM(cost) AS c FROM q GROUP BY 1),
        |cum AS (SELECT score, c,
        |               SUM(c) OVER (ORDER BY score DESC
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm
        |        FROM hist),
        |bounds AS (SELECT MAX(CASE WHEN cm > 15000 THEN score END) AS sstar,
        |                  15000 - COALESCE(MAX(CASE WHEN cm <= 15000 THEN cm END), 0) AS rem
        |           FROM cum),
        |fullkeep AS (
        |  SELECT q.doc_id, q.score, q.cost FROM q CROSS JOIN bounds
        |  WHERE bounds.sstar IS NULL OR q.score > bounds.sstar),
        |boundary AS (
        |  SELECT q.doc_id, q.score, q.cost,
        |         ROUND(CAST(concat('0x', substring(md5(CAST(q.doc_id AS VARCHAR) || 'budget'),
        |                                           1, 8)) AS BIGINT)
        |               / 4294967296.0, 6) AS d6
        |  FROM q CROSS JOIN bounds WHERE q.score = bounds.sstar),
        |bh AS (SELECT d6, SUM(cost) AS bc FROM boundary GROUP BY 1),
        |bcum AS (SELECT d6,
        |                SUM(bc) OVER (ORDER BY d6
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bcm
        |         FROM bh),
        |kept AS (SELECT d6 FROM bcum CROSS JOIN bounds WHERE bcm <= bounds.rem)
        |SELECT doc_id, score, cost FROM fullkeep
        |UNION ALL
        |SELECT b.doc_id, b.score, b.cost FROM boundary b JOIN kept USING (d6)""".stripMargin,

    // DSIR hashed-bigram importance weights: md5-top32 bucket hash,
    // add-one smoothing over 1024 buckets, log-ratio rounded 6,
    // exact decimal per-doc sum rounded 4 — formula replayed verbatim
    "q183_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, (lang = 'en') AS ref, string_split(text, ' ') AS t
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, ref,
        |         unnest(list_transform(range(1, len(t)),
        |           i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM toks),
        |bk AS (
        |  SELECT doc_id, ref,
        |         CAST(concat('0x', substring(md5(bigram), 1, 8)) AS BIGINT)
        |           % 1024 AS b
        |  FROM bg),
        |cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bk GROUP BY 1),
        |ct AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM bk WHERE ref GROUP BY 1),
        |cnt AS (SELECT cr.b, cr.cr, COALESCE(ct.ct, 0) AS ct
        |        FROM cr LEFT JOIN ct USING (b)),
        |tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM cnt),
        |lr AS (
        |  SELECT b,
        |         ROUND(LN((CAST(ct + 1 AS DOUBLE) * CAST(nr + 1024 AS DOUBLE)) /
        |                  (CAST(cr + 1 AS DOUBLE) * CAST(nt + 1024 AS DOUBLE))),
        |               6) AS lr
        |  FROM cnt CROSS JOIN tot)
        |SELECT bk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
        |       ROUND(CAST(SUM(CAST(lr AS DECIMAL(18,6))) AS DOUBLE), 4) AS log_w
        |FROM bk JOIN lr USING (b)
        |GROUP BY 1""".stripMargin,

    // Gumbel-top-k over the q183 weights: deterministic md5-keyed
    // Gumbel noise (u = (top32 + 0.5)/2^32), skey = log_w + g, top 100
    "q184_dsir_resample" ->
      """WITH toks AS (
        |  SELECT doc_id, (lang = 'en') AS ref, string_split(text, ' ') AS t
        |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, ref,
        |         unnest(list_transform(range(1, len(t)),
        |           i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM toks),
        |bk AS (
        |  SELECT doc_id, ref,
        |         CAST(concat('0x', substring(md5(bigram), 1, 8)) AS BIGINT)
        |           % 1024 AS b
        |  FROM bg),
        |cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bk GROUP BY 1),
        |ct AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM bk WHERE ref GROUP BY 1),
        |cnt AS (SELECT cr.b, cr.cr, COALESCE(ct.ct, 0) AS ct
        |        FROM cr LEFT JOIN ct USING (b)),
        |tot AS (SELECT SUM(cr) AS nr, SUM(ct) AS nt FROM cnt),
        |lr AS (
        |  SELECT b,
        |         ROUND(LN((CAST(ct + 1 AS DOUBLE) * CAST(nr + 1024 AS DOUBLE)) /
        |                  (CAST(cr + 1 AS DOUBLE) * CAST(nt + 1024 AS DOUBLE))),
        |               6) AS lr
        |  FROM cnt CROSS JOIN tot),
        |w AS (
        |  SELECT bk.doc_id,
        |         ROUND(CAST(SUM(CAST(lr AS DECIMAL(18,6))) AS DOUBLE), 4) AS log_w
        |  FROM bk JOIN lr USING (b)
        |  GROUP BY 1)
        |SELECT doc_id, log_w,
        |       ROUND(log_w + ROUND(-LN(-LN(
        |         (CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || 'dsir'),
        |                                      1, 8)) AS BIGINT) + 0.5)
        |           / 4294967296.0)), 6), 6) AS skey
        |FROM w
        |ORDER BY skey DESC, doc_id
        |LIMIT 100""".stripMargin,

    // SimHash-bucket diversity quota: q46's fingerprint CTE, low-6-bit
    // bucket, md5 draw order, row_number cap at 10
    "q185_diversity_sample" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |         CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) AS h
        |  FROM tok),
        |votes AS (
        |  SELECT doc_id, r.j,
        |         SUM(CASE WHEN (h >> r.j) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM h CROSS JOIN (SELECT unnest(range(60)) AS j) r
        |  GROUP BY doc_id, r.j),
        |sh AS (
        |  SELECT doc_id,
        |         CAST(SUM(CASE WHEN v > 0
        |                       THEN (CAST(1 AS BIGINT) << CAST(j AS INT))
        |                       ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id),
        |b AS (
        |  SELECT doc_id, simhash & 63 AS bucket,
        |         CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || 'div'),
        |                                     1, 8)) AS BIGINT)
        |           / 4294967296.0 AS draw
        |  FROM sh),
        |r AS (
        |  SELECT bucket, doc_id, draw,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY bucket
        |                                 ORDER BY draw, doc_id) AS INT) AS rank
        |  FROM b)
        |SELECT bucket, rank, doc_id, draw FROM r WHERE rank <= 10""".stripMargin,

    // add-one-smoothed bigram LM on the src0 slice; cutoffs replayed
    // off the same (lang, ppl) value histogram the Spark plan uses
    "q175_ref_perplexity" ->
      """WITH bg AS (
        |  SELECT doc_id, lang, source,
        |         unnest(list_transform(range(1, len(string_split(text, ' '))),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i+1])) AS bigram
        |  FROM documents),
        |ref AS (SELECT bigram FROM bg WHERE source = 'src0'),
        |c2 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n2 FROM ref GROUP BY 1),
        |c1 AS (SELECT split_part(bigram, ' ', 1) AS w1,
        |              CAST(COUNT(*) AS BIGINT) AS n1 FROM ref GROUP BY 1),
        |v AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS vsz FROM (
        |        SELECT unnest(string_split(text, ' ')) AS term
        |        FROM documents WHERE source = 'src0')),
        |nl AS (
        |  SELECT bg.doc_id, bg.lang,
        |         ROUND(LN(CAST(COALESCE(c1.n1, 0) + v.vsz AS DOUBLE)
        |                  / (COALESCE(c2.n2, 0) + 1)), 6) AS nll
        |  FROM bg
        |  LEFT JOIN c2 USING (bigram)
        |  LEFT JOIN c1 ON split_part(bg.bigram, ' ', 1) = c1.w1
        |  CROSS JOIN v),
        |d AS (
        |  SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |         ROUND(EXP(ROUND(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
        |                         / COUNT(*), 4)), 3) AS ppl
        |  FROM nl GROUP BY 1, 2),
        |hist AS (SELECT lang, ppl, COUNT(*) AS n FROM d GROUP BY 1, 2),
        |cum AS (SELECT lang, ppl,
        |               SUM(n) OVER (PARTITION BY lang ORDER BY ppl) AS cn,
        |               SUM(n) OVER (PARTITION BY lang) AS tot
        |        FROM hist),
        |cuts AS (SELECT lang,
        |                MIN(ppl) FILTER (cn * 3 >= tot) AS cut1,
        |                MIN(ppl) FILTER (cn * 3 >= 2 * tot) AS cut2
        |         FROM cum GROUP BY 1)
        |SELECT d.doc_id, d.lang, d.n_bigrams, d.ppl,
        |       CASE WHEN d.ppl <= cuts.cut1 THEN 'head'
        |            WHEN d.ppl <= cuts.cut2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM d JOIN cuts USING (lang)""".stripMargin,

    // 5-token sliding windows, duplicate grams, per-doc
    // gaps-and-islands span merge — replayed verbatim
    "q176_substr_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(t) - 3),
        |           i -> struct_pack(pos := i - 1,
        |                gram := array_to_string(t[i:i+4], ' '))),
        |           recursive := true)
        |  FROM toks WHERE len(t) >= 5),
        |dup AS (SELECT gram FROM g GROUP BY 1 HAVING COUNT(*) > 1),
        |occ AS (SELECT g.doc_id, CAST(g.pos AS BIGINT) AS s,
        |               CAST(g.pos + 4 AS BIGINT) AS e
        |        FROM g JOIN dup USING (gram)),
        |isl AS (
        |  SELECT doc_id, s, e,
        |         CASE WHEN s > COALESCE(MAX(e) OVER (
        |             PARTITION BY doc_id ORDER BY s, e
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |           THEN 1 ELSE 0 END AS brk
        |  FROM occ),
        |grp AS (SELECT doc_id, s, e,
        |               SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |        FROM isl),
        |spans AS (SELECT doc_id, gid, MIN(s) AS s0, MAX(e) AS e0
        |          FROM grp GROUP BY 1, 2),
        |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
        |               CAST(SUM(e0 - s0 + 1) AS BIGINT) AS dup_tokens
        |        FROM spans GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |       COALESCE(p.n_spans, 0) AS n_spans,
        |       COALESCE(p.dup_tokens, 0) AS dup_tokens,
        |       ROUND(CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE)
        |             / len(string_split(d.text, ' ')), 4) AS dup_frac
        |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin,

    // mechanically generated 8-round CTE chain in lockstep with the
    // Scala training loop (see Bpe.oracleSql)
    "q177_bpe_merges" -> Bpe.oracleSql(8),

    "q179_bpe_tokenize" -> Bpe.tokenizeOracleSql(8),

    // cross-corpus encode: train on the doc_id%4=0 slice, apply the 8
    // merges sequentially to the glued-pair word table of the
    // complement (see Bpe.encodeLen for why sequential rank-order
    // replay == the engine's min-rank-first loop)
    "q191_bpe_encode" -> Bpe.encodeOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokCte = gluedTokCte),

    // the segmentation table: the oracle's final eN.s column IS the
    // engine's bracketed segmentation, compared symbol for symbol
    "q194_bpe_segment" -> Bpe.segmentOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokCte = gluedTokCte),

    // the q191 per-doc token economics nested as a CTE, then the q188
    // pack chain with n_tok = the encoder's n_bpe and ctx 256
    "q195_bpe_pack" -> {
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
    },

    // the full piece↔id table replayed from the training slice alone
    "q201_bpe_vocab" -> Bpe.vocabOracleSql(8, trainWhere = "doc_id % 4 = 0"),

    // per-doc token-id economics + position-weighted fingerprint over
    // the glued eval corpus; roundtrip predicted as n_oov = 0 (the
    // Spark side computes it honestly via decodeIds)
    "q202_bpe_ids" -> Bpe.idsOracleSql(8, trainWhere = "doc_id % 4 = 0",
      tokPosCte = gluedTokPosCte),

    // the per-doc flat id stream nested as a CTE, the q195 pack chain
    // over its length, then per-window list assembly in slot order —
    // the deepest composition oracle in the suite (train → encode →
    // ids → pack → materialize, replayed end to end)
    "q206_pack_materialize" -> {
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
    },

    // the md5-sign matrix replayed in SQL (top md5 hex digit 0–7 ⇒ +1)
    // and the projection as the exact decimal(18,9) sum the engine's
    // SignedProject expression computes — bit-identical by integer
    // arithmetic, rounded once at the output face. The float column
    // widens to DOUBLE[] BEFORE the decimal cast: DuckDB's direct
    // float→decimal scales in float32 (±2e-9 per element — invisible
    // at the 4-digit rounds of q30/q37, visible in a ±64-term sum at
    // 6 digits), while Spark casts through double
    "q207_random_project" ->
      """WITH e AS (
        |  SELECT vec_id,
        |         CAST(unnest(CAST(embedding AS DOUBLE[])) AS DECIMAL(18,9)) AS vd,
        |         generate_subscripts(embedding, 1) - 1 AS i
        |  FROM embeddings),
        |dims AS (SELECT unnest(range(8)) AS j),
        |proj AS (
        |  SELECT e.vec_id, dims.j,
        |         SUM(CASE WHEN substr(md5('rp:42:' || dims.j || ':' || e.i), 1, 1)
        |                       <= '7'
        |                  THEN e.vd ELSE -e.vd END) AS y
        |  FROM e CROSS JOIN dims
        |  GROUP BY 1, 2)
        |SELECT vec_id, CAST(j AS INT) AS j,
        |       ROUND(CAST(y AS DOUBLE), 6) AS y
        |FROM proj""".stripMargin,

    // q176's gram/island chain with the canonical (min doc, min pos)
    // occurrence EXCLUDED from removal, then token-level reassembly
    "q208_remove_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(t) - 3),
        |           i -> struct_pack(pos := i - 1,
        |                gram := array_to_string(t[i:i+4], ' '))),
        |           recursive := true)
        |  FROM toks WHERE len(t) >= 5),
        |dup AS (SELECT gram, MIN(doc_id * 4294967296 + pos) AS canon
        |        FROM g GROUP BY 1 HAVING COUNT(*) > 1),
        |occ AS (SELECT g.doc_id, CAST(g.pos AS BIGINT) AS s,
        |               CAST(g.pos + 4 AS BIGINT) AS e
        |        FROM g JOIN dup USING (gram)
        |        WHERE g.doc_id * 4294967296 + g.pos <> dup.canon),
        |isl AS (
        |  SELECT doc_id, s, e,
        |         CASE WHEN s > COALESCE(MAX(e) OVER (
        |             PARTITION BY doc_id ORDER BY s, e
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
        |           THEN 1 ELSE 0 END AS brk
        |  FROM occ),
        |grp AS (SELECT doc_id, s, e,
        |               SUM(brk) OVER (PARTITION BY doc_id ORDER BY s, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
        |        FROM isl),
        |spans AS (SELECT doc_id, gid, MIN(s) AS s0, MAX(e) AS e0
        |          FROM grp GROUP BY 1, 2),
        |per AS (SELECT doc_id, CAST(SUM(e0 - s0 + 1) AS BIGINT) AS n_removed
        |        FROM spans GROUP BY 1),
        |tk AS (SELECT doc_id, unnest(t) AS tok,
        |              CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS p
        |       FROM toks),
        |kept AS (SELECT tk.doc_id, tk.p, tk.tok FROM tk
        |         WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |                           WHERE sp.doc_id = tk.doc_id
        |                             AND tk.p BETWEEN sp.s0 AND sp.e0)),
        |clean AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS clean_text
        |          FROM kept GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
        |       COALESCE(per.n_removed, 0) AS n_removed,
        |       COALESCE(c.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN per USING (doc_id)
        |                 LEFT JOIN clean c USING (doc_id)""".stripMargin,

    // planted-recall gate over the PROJECTED corpus (q124 scheme):
    // n_found pinned equal to the independently-derived plant count
    "q209_rp_lsh_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(COUNT(*) AS BIGINT) AS n_found FROM embeddings""".stripMargin,

    // closed-form scene structure: 6 frames per video, cuts at frame 0
    // (first-frame convention) and the two pattern transitions; the 3
    // within-shot frames are byte-identical JPEGs ⇒ Hamming 0
    "q210_video_scene_cuts" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_videos,
        |       CAST(6 * COUNT(*) AS BIGINT) AS n_frames,
        |       CAST(3 * COUNT(*) AS BIGINT) AS n_cuts,
        |       CAST(3 * COUNT(*) AS BIGINT) AS n_static,
        |       CAST(2 AS INT) AS max_shot
        |FROM documents WHERE doc_id % 41 = 0""".stripMargin,

    // closed-form keyframes over the same scene structure: shot 0 has
    // frames {0,1} → middle rank (2+1) div 2 = 1 → frame 0; shot 1 has
    // {2,3,4} → frame 3; shot 2 has {5} → frame 5
    "q236_shot_keyframes" ->
      """SELECT CAST(doc_id AS BIGINT) AS vid_id,
        |       CAST(s.shot AS INT) AS shot,
        |       CAST(s.n_frames AS BIGINT) AS n_frames,
        |       CAST(s.frame_idx AS INT) AS frame_idx
        |FROM documents,
        |     (VALUES (0, 2, 0), (1, 3, 3), (2, 1, 5)) s(shot, n_frames, frame_idx)
        |WHERE doc_id % 41 = 0""".stripMargin,

    // the q34 curve machinery with precision/recall outputs
    "q211_pr_points" ->
      """WITH src AS (
        |  SELECT CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
        |         CAST(json_extract_string(props, '$.k') AS INT) AS score
        |  FROM events),
        |g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
        |      FROM src GROUP BY score),
        |w AS (SELECT *,
        |             SUM(pos) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |             SUM(n)   OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |             SUM(pos) OVER () AS tot_pos
        |      FROM g)
        |SELECT score,
        |       ROUND(cum_pos / cum_n, 6) AS "precision",
        |       ROUND(cum_pos / tot_pos, 6) AS recall
        |FROM w""".stripMargin,

    // fixed-width clamped bins, add-half-smoothed shares, and the
    // (p_a − p_e)·ln(p_a/p_e) contribution — all double arithmetic
    // over integer counts (IEEE-identical; the q75 ln precedent),
    // rounded once at the output face
    "q212_psi_drift" ->
      """WITH e AS (SELECT CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 20.0), 0.0), 9.0) AS INT) AS bin
        |           FROM events WHERE user_id % 2 = 0 AND value IS NOT NULL),
        |a AS (SELECT CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 20.0), 0.0), 9.0) AS INT) AS bin
        |      FROM events WHERE user_id % 2 = 1 AND value IS NOT NULL),
        |bins AS (SELECT unnest(range(10)) AS bin),
        |ec AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_expected FROM e GROUP BY 1),
        |ac AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_actual FROM a GROUP BY 1),
        |tot AS (SELECT (SELECT COUNT(*) FROM e) AS te, (SELECT COUNT(*) FROM a) AS ta),
        |j AS (SELECT CAST(bins.bin AS INT) AS bin,
        |             COALESCE(ec.n_expected, 0) AS n_expected,
        |             COALESCE(ac.n_actual, 0) AS n_actual,
        |             (COALESCE(ec.n_expected, 0) + 0.5) / (tot.te + 5.0) AS pe,
        |             (COALESCE(ac.n_actual, 0) + 0.5) / (tot.ta + 5.0) AS pa
        |      FROM bins LEFT JOIN ec ON bins.bin = ec.bin
        |                LEFT JOIN ac ON bins.bin = ac.bin
        |                CROSS JOIN tot)
        |SELECT bin, ROUND(0.0 + bin * 20.0, 6) AS lo_edge,
        |       n_expected, n_actual,
        |       ROUND(pe, 6) AS p_expected, ROUND(pa, 6) AS p_actual,
        |       ROUND((pa - pe) * LN(pa / pe), 6) AS contrib
        |FROM j""".stripMargin,

    // append-then-serve recall gate, same pinned form as q168: every
    // base query finds its APPENDED perturbed twin
    "q213_ann_append" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(COUNT(*) AS BIGINT) AS n_found FROM embeddings""".stripMargin,

    // the q177 training replay minus the count column (merges.txt
    // carries no counts) — the roundtrip must reproduce it verbatim
    "q214_bpe_artifacts" ->
      s"SELECT rank, lhs, rhs, merged FROM (\n${Bpe.oracleSql(8)}\n) t",

    // the same 4-pass regexp chain, RE2 dialect (\0 = whole match, 'g'
    // = global — Spark's regexp_replace is always global)
    "q215_pretokenize" ->
      s"""SELECT doc_id, $duckPretok AS text FROM documents""",

    // q177's training replay with the text SOURCE swapped for the
    // pretokenized expression — the full 8-round CTE chain unchanged
    "q216_bpe_pretok" -> Bpe.oracleSql(8, textSql = duckPretok),

    // byte-level training replay over the unicode fixture's slice:
    // the SAME merge-round chain, w0 segmented by hex(encode(word))
    "q218_bpe_bytes_train" -> Bpe.byteOracleSql(8,
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText),

    // byte-encode the never-seen unicode complement; n_oov is the
    // structural 0 the byte alphabet guarantees (predicted here,
    // computed honestly on the Spark side)
    "q219_bpe_bytes_encode" -> Bpe.byteEncodeOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokCte = uniTokCte,
      textSql = duckUniText),

    // per-doc byte token-id economics + position-weighted fingerprint
    // (space byte id 32 contributes explicitly) + the structural
    // roundtrip prediction
    "q220_bpe_bytes_ids" -> Bpe.byteIdsOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokPosCte = uniTokPosCte,
      textSql = duckUniText),

    // the q218 replay joined with the 256-base vocab ids — what the
    // disk roundtrip must reproduce verbatim
    "q221_bpe_bytes_artifacts" -> Bpe.byteArtifactsOracleSql(8,
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText),

    // the q218 replay minus counts — the GPT-2-alphabet render +
    // inverse is a bijection, so the disk roundtrip is the identity
    // on the hex rule table
    "q222_bpe_gpt2_interop" -> ("SELECT rank, lhs, rhs, merged FROM (\n" +
      Bpe.byteOracleSql(8, trainWhere = "doc_id % 4 = 0",
        textSql = duckUniText) + "\n) t"),

    // the byte training replay with the text source swapped for the
    // pretokenized unicode fixture (q216's swap discipline, byte face)
    "q226_bpe_bytes_pretok" -> Bpe.byteOracleSql(8,
      textSql = duckPretokOf(duckUniText)),

    // WordPiece training replay: position-aware w0, per-round pair +
    // symbol counts, the likelihood-score argmax, same replace chain
    "q223_wordpiece_train" -> WordPiece.oracleSql(8,
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText),

    // greedy longest-match per distinct eval word via an unrolled
    // LATERAL longest-prefix chain; dead-end words AND words past the
    // max_input_chars_per_word bound (the %8=3 40-char token) → [UNK]
    "q224_wordpiece_segment" -> WordPiece.segmentsOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokCte = uniLongTokCte,
      textSql = duckUniText),

    // the per-doc aggregation over the same segmentation chain
    "q225_wordpiece_counts" -> WordPiece.tokenCountsOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokCte = uniLongTokCte,
      textSql = duckUniText),

    // the WordPiece piece↔id table replay: specials at 0..4, the
    // position-aware alphabet in UTF-8 binary order, merges at rank
    // offset, min-id dedup — hash equality THROUGH the vocab.txt
    // export→import also proves the artifact roundtrip identity
    "q227_wordpiece_vocab" -> WordPiece.vocabOracleSql(8,
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText),

    // per-doc flat id economics: the greedy segmentation chain feeds
    // the id table; fingerprint is position-weighted over the flat
    // stream (no whitespace tokens), roundtrip predicted as n_unk = 0
    "q228_wordpiece_ids" -> WordPiece.idsOracleSql(8,
      trainWhere = "doc_id % 4 = 0", tokPosCte = plainTokPosCte,
      textSql = duckUniText),

    // Unigram seed replay: substring enumeration per position,
    // freq·length scores, chars + ranked multi, HUGEINT normalization
    "q229_unigram_seed" -> graft.llm.Unigram.seedOracleSql(
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText,
      seedMulti = UniSeedMulti),

    // the lattice-EM replay: per-iteration occurrence table, unrolled
    // α (absolute position) and β (distance-from-end) forward-backward
    // levels with the engine's exact float expression order, integer
    // unit contributions, HUGEINT renormalization, count-ranked prune
    "q230_unigram_train" -> graft.llm.Unigram.trainOracleSql(
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2),

    // Viterbi replay: integer costs floor(−ln(p)·1e6+0.5), unrolled
    // min-DP with the (cost, pieces, UTF-8 seq) tie-break, [UNK] for
    // path-less and over-length words
    "q231_unigram_segment" -> graft.llm.Unigram.segmentsOracleSql(
      trainWhere = "doc_id % 4 = 0", tokCte = uniTokCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2),

    // the per-doc aggregation over the same Viterbi chain
    "q232_unigram_counts" -> graft.llm.Unigram.countsOracleSql(
      trainWhere = "doc_id % 4 = 0", tokCte = uniTokCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2),

    // the Unigram piece↔id replay: reserved [UNK]/space, score-ranked
    // pieces, min-id dedup — hash equality through the .vocab TSV
    // export→import also proves the artifact roundtrip
    "q233_unigram_vocab" -> graft.llm.Unigram.vocabOracleSql(
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2),

    // per-doc flat id economics over the Viterbi chain: id-1 space
    // boundaries CONTRIBUTE to the position-weighted fingerprint
    // (unlike BPE's id-0 spaces); roundtrip predicted as n_unk = 0
    "q234_unigram_ids" -> graft.llm.Unigram.idsOracleSql(
      trainWhere = "doc_id % 4 = 0", tokPosCte = plainTokPosCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2),

    // the SentencePiece-convention roundtrip: model pieces with their
    // predicted ▁-form line ids (2·rank−1 under q DESC, UTF-8 ASC) and
    // the exact q recovered from the float log-prob rendering
    "q235_unigram_sp_interop" -> graft.llm.Unigram.spVocabOracleSql(
      trainWhere = "doc_id % 4 = 0", textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2),

    // k-best Viterbi replay: the same unrolled DP chain with each
    // level keeping rn <= 4 (exact — the (cost, np, seq) order is
    // translation-invariant under suffix append), final candidates
    // ranked per word; [UNK]/over-length words are one rank-1 row
    // with NULL cost
    "q238_unigram_nbest" -> graft.llm.Unigram.nbestOracleSql(
      trainWhere = "doc_id % 4 = 0", tokCte = uniTokCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2,
      nbest = 4),

    // sampled-segmentation replay: quantized exp(−α·Δcost) weights in
    // the engine's exact expression order, 15-hex md5(doc:pos:word)
    // draw mod the word's total weight, pick = 1 + count(cum ≤ draw)
    "q239_unigram_sample" -> graft.llm.Unigram.sampleOracleSql(
      trainWhere = "doc_id % 4 = 0", tokPosCte = uniTokPosCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2,
      nbest = 4, alphaSql = "0.5"),

    // the sampled-ids replay: the q234 id-assembly tail over the
    // epoch-1 sampled segmentations (salt ':1' inside the md5 key);
    // boundary id-1 positions contribute to the fingerprint
    "q243_unigram_sample_ids" -> graft.llm.Unigram.sampledIdsOracleSql(
      trainWhere = "doc_id % 4 = 0", tokPosCte = plainTokPosCte,
      textSql = duckUniText,
      seedMulti = UniSeedMulti, keepMulti = UniKeepMulti, emIters = 2,
      nbest = 4, alphaSql = "0.5", saltSql = " || ':1'"),

    // query-likelihood BM25: the q137 scoring expression per (query
    // term, doc), integerized at 1e-4 before the cross-term sum; the
    // df*10 <= n_docs stopword ceiling mirrored; rank on
    // (score desc, doc_id)
    "q240_bm25_query" ->
      s"""WITH $bm25QueryCtes
         |SELECT query_id, rank, doc_id, score_micro FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |            ORDER BY score_micro DESC, doc_id) AS INT) AS rank
         |  FROM sums) WHERE rank <= 10""".stripMargin,

    // RRF fusion of the q240 lexical ranks with the q37-shape exact
    // decimal cosine ranks: integer 10^12 // (60+rank) contributions,
    // order-free integer sum, (rrf desc, doc_id) rank
    "q241_hybrid_rrf" ->
      s"""WITH $bm25QueryCtes,
         |e AS (
         |  SELECT vec_id, CAST(unnest(embedding) AS DECIMAL(18,9)) AS vd,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings),
         |norms AS (SELECT vec_id, SQRT(CAST(SUM(vd*vd) AS DOUBLE)) AS nrm
         |          FROM e GROUP BY vec_id),
         |dots AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS did,
         |         CAST(SUM(a.vd*b.vd) AS DOUBLE) AS dot
         |  FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id % 50 = 7
         |  GROUP BY 1, 2),
         |cosr AS (
         |  SELECT qid, did, ROUND(dot / (na.nrm * nb.nrm), 4) AS cos
         |  FROM dots JOIN norms na ON qid = na.vec_id
         |            JOIN norms nb ON did = nb.vec_id),
         |den AS (SELECT qid AS query_id, did AS doc_id, rank FROM (
         |          SELECT qid, did, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |                 ORDER BY cos DESC, did) AS INT) AS rank
         |          FROM cosr) WHERE rank <= 10),
         |lex AS (SELECT query_id, doc_id, rank FROM (
         |          SELECT query_id, doc_id,
         |                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |                 ORDER BY score_micro DESC, doc_id) AS INT) AS rank
         |          FROM sums) WHERE rank <= 10),
         |allc AS (
         |  SELECT query_id, doc_id,
         |         1000000000000 // CAST(60 + rank AS BIGINT) AS c FROM lex
         |  UNION ALL
         |  SELECT query_id, doc_id,
         |         1000000000000 // CAST(60 + rank AS BIGINT) AS c FROM den),
         |fus AS (SELECT query_id, doc_id, SUM(c) AS rrf_micro
         |        FROM allc GROUP BY 1, 2)
         |SELECT query_id, rank, doc_id, rrf_micro FROM (
         |  SELECT query_id, doc_id, rrf_micro,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY rrf_micro DESC, doc_id) AS INT) AS rank
         |  FROM fus) WHERE rank <= 10""".stripMargin,

    // the persisted-index serve replay: the SAME scoring chain over
    // the index's latest-wins LOGICAL corpus (base minus re-ingested
    // versions, plus updated text, plus the appended new docs) —
    // equality proves build→append→resolve→serve end to end
    "q246_lex_index" -> lexIndexOracleSql,

    // the STREAMING ingest entry point lands in the identical index
    // state (disjoint waves, latest-wins), so it shares q246's oracle
    // verbatim — three entry points (batch append, micro-batch
    // stream, direct SQL) pinned to one answer
    "q247_lex_stream_ingest" -> lexIndexOracleSql,

    // PRF expansion terms: top-5 feedback docs, integer tf·idf_micro
    // weights, NOT EXISTS original-term exclusion, df ceiling, top-10
    "q244_prf_terms" ->
      s"""WITH $bm25QueryCtes,
         |$prfCtes
         |SELECT query_id, trank, term, w_micro FROM exps""".stripMargin,

    // PRF rerank: 60/40 integer interpolation of the original and
    // expansion scoring passes over the full-outer candidate union
    "q245_prf_rerank" ->
      s"""WITH $bm25QueryCtes,
         |$prfCtes
         |SELECT query_id, rank, doc_id, final_micro FROM (
         |  SELECT query_id, doc_id, final_micro,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY final_micro DESC, doc_id) AS INT) AS rank
         |  FROM comb) WHERE rank <= 10""".stripMargin,

    // (assembled by concatenation, NOT stripMargin: the nested family
    // SQLs contain `||` concat operators at line starts, which an
    // outer stripMargin would eat)
    "q242_tokenizer_panel" ->
      ("WITH fb AS (SELECT doc_id, n_words, n_bpe AS n_pieces, " +
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
        "FROM raw"),

    // q142's unrolled-round machinery with a seed-only teleport: r0 is
    // the teleport distribution and every round is
    // (1−d)·t + d·Σ ROUND(r·w/wout, 12) over in-edges, nodes LEFT JOIN
    // the contribution so in-edge-free nodes keep their teleport floor
    "q217_ppr_trust" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT a.pk AS src, b.pk AS dst, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
        |  GROUP BY 1, 2),
        |o AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |nd AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nd WHERE node % 7 = 0),
        |tele AS (SELECT node, CASE WHEN node % 7 = 0
        |                           THEN CAST(1.0 AS DOUBLE) / ns.n
        |                           ELSE CAST(0.0 AS DOUBLE) END AS t
        |         FROM nd, ns),
        |r0 AS (SELECT node, t AS r FROM tele),
        |r1 AS (
        |  SELECT tele.node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * tele.t +
        |               CAST(0.85 AS DOUBLE) *
        |               COALESCE(CAST(m.m AS DOUBLE), CAST(0.0 AS DOUBLE)), 12) AS r
        |  FROM tele LEFT JOIN (
        |    SELECT e.dst AS node, SUM(CAST(ROUND(r0.r * e.w / o.wout, 12)
        |             AS DECIMAL(38,12))) AS m
        |    FROM e JOIN o ON e.src = o.src JOIN r0 ON e.src = r0.node
        |    GROUP BY 1) m ON tele.node = m.node),
        |r2 AS (
        |  SELECT tele.node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * tele.t +
        |               CAST(0.85 AS DOUBLE) *
        |               COALESCE(CAST(m.m AS DOUBLE), CAST(0.0 AS DOUBLE)), 12) AS r
        |  FROM tele LEFT JOIN (
        |    SELECT e.dst AS node, SUM(CAST(ROUND(r1.r * e.w / o.wout, 12)
        |             AS DECIMAL(38,12))) AS m
        |    FROM e JOIN o ON e.src = o.src JOIN r1 ON e.src = r1.node
        |    GROUP BY 1) m ON tele.node = m.node),
        |r3 AS (
        |  SELECT tele.node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * tele.t +
        |               CAST(0.85 AS DOUBLE) *
        |               COALESCE(CAST(m.m AS DOUBLE), CAST(0.0 AS DOUBLE)), 12) AS r
        |  FROM tele LEFT JOIN (
        |    SELECT e.dst AS node, SUM(CAST(ROUND(r2.r * e.w / o.wout, 12)
        |             AS DECIMAL(38,12))) AS m
        |    FROM e JOIN o ON e.src = o.src JOIN r2 ON e.src = r2.node
        |    GROUP BY 1) m ON tele.node = m.node)
        |SELECT node, ROUND(r, 8) AS rank FROM r3
        |ORDER BY rank DESC, node LIMIT 50""".stripMargin,

    // integer token math via FLOOR over PRE-NORMALIZED weights (see
    // mixWeightsSql — no in-SQL weight-sum division to diverge at a
    // floor boundary); rate is the EXACT double division capped at the
    // epoch limit (a 6-digit round would zero tiny rates at corpus
    // scale); full outer so a weighted source missing from the corpus
    // still reports its deficit row
    "q178_mixture_plan" ->
      s"""WITH w(source, weight) AS (VALUES $mixWeightsSql),
        |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |             CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |               AS avail_tokens
        |      FROM documents GROUP BY 1),
        |j AS (SELECT source,
        |             COALESCE(a.n_docs, 0) AS n_docs,
        |             COALESCE(a.avail_tokens, 0) AS avail_tokens,
        |             COALESCE(w.weight, 0.0) AS weight
        |      FROM a FULL JOIN w USING (source)),
        |p AS (SELECT *, CAST(FLOOR(weight * 50000) AS BIGINT)
        |               AS target_tokens
        |      FROM j),
        |q AS (SELECT *, CASE WHEN avail_tokens > 0
        |                  THEN LEAST(CAST(target_tokens AS DOUBLE)
        |                             / avail_tokens, 4.0)
        |                  ELSE 0.0 END AS rate FROM p)
        |SELECT source, n_docs, avail_tokens, weight, target_tokens, rate,
        |       CAST(CASE WHEN avail_tokens > 0 THEN LEAST(CEIL(rate), 4)
        |            ELSE 0 END AS INT) AS epochs,
        |       LEAST(target_tokens, avail_tokens * 4) AS planned_tokens,
        |       CAST(target_tokens > LEAST(target_tokens, avail_tokens * 4)
        |            AS INT) AS deficit
        |FROM q""".stripMargin,

    // q178's plan CTE (budget 5000) + per-doc copy materialization;
    // the fractional copy replays the q65 hash-draw construction;
    // plan-driven output so empty weighted sources keep their row
    "q181_realize_mixture" ->
      s"""WITH w(source, weight) AS (VALUES $mixWeightsSql),
        |a AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
        |               AS avail_tokens
        |      FROM documents GROUP BY 1),
        |j AS (SELECT source,
        |             COALESCE(a.avail_tokens, 0) AS avail_tokens,
        |             COALESCE(w.weight, 0.0) AS weight
        |      FROM a FULL JOIN w USING (source)),
        |p AS (SELECT *, CAST(FLOOR(weight * 5000) AS BIGINT)
        |               AS target_tokens
        |      FROM j),
        |q AS (SELECT *, CASE WHEN avail_tokens > 0
        |                  THEN LEAST(CAST(target_tokens AS DOUBLE)
        |                             / avail_tokens, 4.0)
        |                  ELSE 0.0 END AS rate FROM p),
        |pl AS (SELECT source, rate AS r,
        |              LEAST(target_tokens, avail_tokens * 4) AS planned_tokens
        |       FROM q),
        |d AS (SELECT doc_id, source,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |      FROM documents),
        |c AS (SELECT d.source, d.tok,
        |             CAST(FLOOR(pl.r) AS BIGINT) +
        |             CAST((CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
        |                        AS BIGINT) / 4294967296.0)
        |                  < (pl.r - FLOOR(pl.r)) AS BIGINT) AS copies
        |      FROM d JOIN pl USING (source)),
        |g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |             CAST(SUM(copies) AS BIGINT) AS n_rows_out,
        |             CAST(SUM(tok * copies) AS BIGINT) AS realized_tokens
        |      FROM c GROUP BY 1)
        |SELECT source,
        |       COALESCE(g.n_docs, 0) AS n_docs,
        |       COALESCE(g.n_rows_out, 0) AS n_rows_out,
        |       COALESCE(g.realized_tokens, 0) AS realized_tokens,
        |       pl.planned_tokens,
        |       ROUND(CAST(ABS(COALESCE(g.realized_tokens, 0)
        |                      - pl.planned_tokens) AS DOUBLE)
        |             / GREATEST(pl.planned_tokens, 1), 4) AS rel_err
        |FROM pl LEFT JOIN g USING (source)""".stripMargin,

    "q173_pretrain_order" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |              AS BIGINT) % 16 AS INT) AS shard,
        |         md5(CAST(doc_id AS VARCHAR)) AS draw
        |  FROM documents)
        |SELECT doc_id, shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |                               ORDER BY draw, doc_id) AS INT) AS pos
        |FROM s""".stripMargin,

    // replays the stub codec in SQL: frames = fixed 64-char slices
    // (documents.text is pure ASCII, so char slicing ≡ byte slicing
    // of the UTF-8 payload), byte sum via per-char codepoints
    "q51_media_frames" ->
      """WITH fr AS (
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
        |FROM b""".stripMargin,

    // the composed funnel: each CTE replays the matching operator's
    // oracle (q50 lang, q52 quality, q29 exact dedup, q45 near-dup,
    // q65 hash sample) over the previous stage's survivors
    "q78_corpus_funnel" ->
      """WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
        |lang AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           LEN(list_filter(s, t -> t IN ('the','table','row'))) AS s_en,
        |           GREATEST(
        |             LEN(list_filter(s, t -> t IN ('the','table','row'))),
        |             LEN(list_filter(s, t -> t IN ('query','value','vector'))),
        |             LEN(list_filter(s, t -> t IN ('customer','join','column'))),
        |             LEN(list_filter(s, t -> t IN ('scan','data','batch'))),
        |             LEN(list_filter(s, t -> t IN ('small','sort','stream')))) AS best
        |    FROM tk) t
        |  WHERE s_en = best),
        |s2 AS (SELECT tk.* FROM tk JOIN lang USING (doc_id)),
        |qual AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           ROUND((LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0)
        |                  + LEAST(ROUND(CAST(LEN(list_filter(s,
        |                      t -> t IN ('the','a','and','of','in','to','is')))
        |                      AS DOUBLE) / LEN(s), 6) * 5.0, 1.0)
        |                  + CAST(LEN(list_distinct(s)) AS DOUBLE) / LEN(s)) / 3.0,
        |                 6) AS quality
        |    FROM s2) t
        |  WHERE quality >= 0.5),
        |s3 AS (SELECT s2.* FROM s2 JOIN qual USING (doc_id)),
        |keep AS (SELECT MIN(doc_id) AS doc_id FROM s3 GROUP BY md5(text)),
        |s4 AS (SELECT s3.* FROM s3 JOIN keep USING (doc_id)),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                   for i in range(1, len(s) - 1)]) AS shingle
        |    FROM s4)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |nd AS (
        |  SELECT DISTINCT id_b AS doc_id
        |  FROM pairs JOIN sizes sa ON id_a = sa.doc_id
        |             JOIN sizes sb ON id_b = sb.doc_id
        |  WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5),
        |s5 AS (SELECT s4.* FROM s4 ANTI JOIN nd USING (doc_id)),
        |s6 AS (SELECT * FROM s5
        |       WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |                  AS BIGINT) / 4294967296.0 < 0.5)
        |SELECT 'raw' AS stage, COUNT(*) AS n FROM documents
        |UNION ALL SELECT 'lang', COUNT(*) FROM s2
        |UNION ALL SELECT 'quality', COUNT(*) FROM s3
        |UNION ALL SELECT 'exact_dedup', COUNT(*) FROM s4
        |UNION ALL SELECT 'near_dup', COUNT(*) FROM s5
        |UNION ALL SELECT 'sample', COUNT(*) FROM s6""".stripMargin,

    "q75_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf,
        |         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
        |  FROM tf JOIN dfreq USING (term), n),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |            ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tf, tfidf, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 3""".stripMargin,

    "q76_grouping_sets" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin,

    "q65_hash_sample" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |           AS BIGINT) / 4294967296.0 < 0.2""".stripMargin,

    "q66_group_sample" ->
      """SELECT c_nationkey, c_custkey, c_name FROM (
        |  SELECT c_nationkey, c_custkey, c_name,
        |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |           ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn
        |  FROM customer) t
        |WHERE rn <= 3""".stripMargin,

    "q67_mix_strata" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substring(
        |        md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 8))
        |        AS BIGINT) / 4294967296.0
        |      < CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5
        |                  WHEN 'fr' THEN 0.5 WHEN 'es' THEN 0.5
        |                  WHEN 'zh' THEN 0.25 ELSE 0.0 END""".stripMargin,

    "q72_upsample" ->
      """WITH z AS (SELECT doc_id, source FROM documents WHERE lang = 'zh'),
        |c AS (SELECT doc_id, source,
        |        2 + CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |                      AS BIGINT) / 4294967296.0 < 0.5
        |                 THEN 1 ELSE 0 END AS n
        |      FROM z)
        |SELECT doc_id, source, CAST(i AS INT) AS copy
        |FROM c, UNNEST(range(n)) AS t(i)""".stripMargin,

    "q73_embed_quantize" ->
      """WITH q AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))) AS scale
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, scale,
        |         CASE WHEN scale = 0
        |              THEN list_transform(embedding, x -> CAST(0 AS TINYINT))
        |              ELSE list_transform(embedding,
        |                x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / scale)
        |                          AS TINYINT)) END AS qvec
        |  FROM q)
        |SELECT vec_id, scale, CAST(i - 1 AS INT) AS pos, qvec[i] AS qval
        |FROM e, UNNEST(range(1, len(qvec) + 1)) AS t(i)""".stripMargin,

    "q68_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                   for i in range(1, len(s) - 1)]) AS shingle
        |    FROM toks)),
        |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 20),
        |d AS (SELECT * FROM sh WHERE doc_id >= 20)
        |SELECT d.doc_id, COUNT(*) AS n_shingles,
        |       ROUND(CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
        |                  AS DOUBLE) / COUNT(*), 6) AS contamination
        |FROM d LEFT JOIN bench b ON d.shingle = b.shingle
        |GROUP BY d.doc_id""".stripMargin,

    "q69_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |         text ||
        |         CASE WHEN doc_id % 7 = 0
        |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 11 = 0
        |              THEN ' tel 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
        |              ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(text,
        |         '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
        |       regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM aug""".stripMargin,

    "q30_cosine_topk" ->
      s"""WITH r0 AS ($ratingsSql),
         |r AS (SELECT userId, itemId, rating FROM (
         |        SELECT *, ROW_NUMBER() OVER (PARTITION BY userId
         |               ORDER BY rating DESC, itemId) AS rn FROM r0) t
         |      WHERE rn <= 50),
         |norms AS (SELECT itemId, SQRT(CAST(SUM(CAST(rating AS BIGINT) * rating) AS DOUBLE)) AS nrm
         |          FROM r GROUP BY itemId),
         |pairs AS (
         |  SELECT a.itemId AS item_a, b.itemId AS item_b,
         |         CAST(SUM(CAST(a.rating AS BIGINT) * b.rating) AS DOUBLE) AS dot,
         |         COUNT(*) AS ov
         |  FROM r a JOIN r b ON a.userId = b.userId AND a.itemId <> b.itemId
         |  GROUP BY 1, 2),
         |cos AS (
         |  SELECT item_a, item_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos
         |  FROM pairs JOIN norms na ON item_a = na.itemId
         |             JOIN norms nb ON item_b = nb.itemId
         |  WHERE ov >= 2)
         |SELECT item_a, item_b, cos, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY item_a
         |            ORDER BY cos DESC, item_b) AS INT) AS rank
         |  FROM cos) t
         |WHERE rank <= 5""".stripMargin,

    "q37_embed_cosine" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DECIMAL(18,9)) AS vd,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |norms AS (SELECT vec_id, SQRT(CAST(SUM(vd*vd) AS DOUBLE)) AS nrm
        |          FROM e GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(SUM(a.vd*b.vd) AS DOUBLE) AS dot
        |  FROM e a JOIN e b ON a.pos = b.pos AND a.vec_id <> b.vec_id
        |  WHERE a.vec_id < 100
        |  GROUP BY 1, 2),
        |cos AS (
        |  SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 4) AS cos
        |  FROM dots JOIN norms na ON id_a = na.vec_id
        |            JOIN norms nb ON id_b = nb.vec_id)
        |SELECT id_a, id_b, cos, rank FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id_a
        |            ORDER BY cos DESC, id_b) AS INT) AS rank
        |  FROM cos) t
        |WHERE rank <= 3""".stripMargin,

    "q58_sql_dot" ->
      """SELECT vec_id,
        |       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                              CAST(embedding AS DOUBLE[])), 4) AS self_dot
        |FROM embeddings""".stripMargin,

    // planted-recall gates: the oracle independently derives the planted
    // count; n_found is pinned EQUAL to it (sign-LSH banding miss prob
    // at cos 0.9999 is ~2e-9/pair; IVF probes the source's own cell) —
    // any hashing/banding/probe/verify regression flips the row red.
    // SimHash flips a deterministic ~26% of planted pairs past Hamming 3
    // (one appended token shifts every bit-vote), so its gate is the
    // measured-floor flag, not equality.
    "q124_lsh_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(COUNT(*) AS BIGINT) AS n_found FROM embeddings""".stripMargin,

    "q125_ivf_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(COUNT(*) AS BIGINT) AS n_found FROM embeddings""".stripMargin,

    "q167_ann_search" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(COUNT(*) AS BIGINT) AS n_found FROM embeddings""".stripMargin,

    "q168_ann_index" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(COUNT(*) AS BIGINT) AS n_found FROM embeddings""".stripMargin,

    // the PQ serve path must lose NOTHING on the planted twins: ADC
    // top-R contains every true source, the int8 rescore restores
    // exact ranking
    "q237_pq_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(COUNT(*) AS BIGINT) AS n_found FROM embeddings""".stripMargin,

    "q171_semdedup_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(COUNT(*) AS BIGINT) AS n_found FROM embeddings""".stripMargin,

    "q126_simhash_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(1 AS INT) AS recall_ok FROM documents""".stripMargin,

    // accuracy/coverage gates for the sketch/model operators: exact
    // counts recomputed independently; the flag column pins the
    // Spark-side behavioral bound (see the matching queries)
    "q128_hll_rollup_accuracy" ->
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
        |       CAST(1 AS INT) AS within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q129_als_coverage" ->
      s"""WITH r AS ($ratingsSql)
         |SELECT CAST(LEAST(50, COUNT(DISTINCT userId)) AS BIGINT) AS n_users,
         |       CAST(1 AS INT) AS complete
         |FROM r""".stripMargin,

    "q130_rolling_hll_accuracy" ->
      """WITH du AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |days AS (
        |  SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn
        |  FROM (SELECT DISTINCT day FROM du)),
        |pairs AS (
        |  SELECT a.day, b.day AS d2
        |  FROM days a JOIN days b ON b.rn BETWEEN a.rn - 6 AND a.rn)
        |SELECT p.day, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS n_exact,
        |       CAST(1 AS INT) AS within_bound
        |FROM pairs p JOIN du ON du.day = p.d2
        |GROUP BY p.day""".stripMargin,

    // real-codec decode gates: the oracle pins the sample size and the
    // all-payloads-decode-correctly contract (see q131/q132 queries)
    "q131_image_decode" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
        |       CAST(COUNT(*) AS BIGINT) AS n_decoded,
        |       CAST(COUNT(*) AS BIGINT) AS n_ok
        |FROM documents WHERE doc_id % 11 = 0""".stripMargin,

    // dHash closed-form gates: even sampled docs get ramp payloads
    // (all-ones hash), odd get solids (zero hash) — the oracle
    // recomputes both sample sizes from doc_id arithmetic alone
    "q197_image_phash" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_images,
        |       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ramp_allones,
        |       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_solid_zero
        |FROM documents WHERE doc_id % 19 = 0""".stripMargin,

    // every sampled doc plants 3 near-copies whose pairwise Hamming
    // is ≤ 1 by construction, so the 8-band join must return exactly
    // 3 within-group pairs per doc
    "q198_image_neardup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(3 * COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(1 AS INT) AS complete
        |FROM documents WHERE doc_id % 23 = 0""".stripMargin,

    // each sampled doc plants one video couple sharing exactly 2
    // frames; the oracle derives pair and shared-frame counts from
    // the doc sample alone
    "q205_video_neardup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(2 * COUNT(*) AS BIGINT) AS n_shared,
        |       CAST(1 AS INT) AS complete
        |FROM documents WHERE doc_id % 37 = 0""".stripMargin,

    // audio dHash closed-form gates (the q197 scheme on audio)
    "q203_audio_phash" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_clips,
        |       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_stair_allones,
        |       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_const_zero
        |FROM documents WHERE doc_id % 29 = 0""".stripMargin,

    "q204_audio_neardup" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(3 * COUNT(*) AS BIGINT) AS n_pairs,
        |       CAST(1 AS INT) AS complete
        |FROM documents WHERE doc_id % 31 = 0""".stripMargin,

    "q132_audio_features" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_clips,
        |       CAST(COUNT(*) AS BIGINT) AS n_decoded,
        |       CAST(COUNT(*) AS BIGINT) AS n_ok
        |FROM documents WHERE doc_id % 13 = 0""".stripMargin,

    // resample gate: the oracle pins the sample size and the
    // every-clip-resamples-exactly contract (see q169 query)
    "q169_audio_resample" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_clips,
        |       CAST(COUNT(*) AS BIGINT) AS n_decoded,
        |       CAST(COUNT(*) AS BIGINT) AS n_ok
        |FROM documents WHERE doc_id % 13 = 0""".stripMargin,

    // the oracle re-derives the per-doc frame count (1 + doc_id % 4)
    // and pins every frame decoded and formula-exact
    "q163_video_frames" ->
      """SELECT CAST(SUM(1 + doc_id % 4) AS BIGINT) AS n_frames,
        |       CAST(SUM(1 + doc_id % 4) AS BIGINT) AS n_decoded,
        |       CAST(SUM(1 + doc_id % 4) AS BIGINT) AS n_ok
        |FROM documents WHERE doc_id % 17 = 0""".stripMargin,

    // quantile-sketch gates: the oracle recomputes the DISCRETE exact
    // quantile with the identical rank-⌈q·n⌉ formula (IEEE double
    // arithmetic is engine-independent) and pins the α-bound flags
    "q133_quantile_sketch" ->
      """WITH ranked AS (
        |  SELECT event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |       ROUND(MAX(CASE WHEN rn = CEIL(0.95 * n) THEN value END), 4)
        |         AS p95_exact,
        |       CAST(1 AS INT) AS p50_ok, CAST(1 AS INT) AS p95_ok
        |FROM ranked GROUP BY event_type""".stripMargin,

    "q134_rolling_p95" ->
      """WITH ev AS (
        |  SELECT date_trunc('day', ts) AS day, value FROM events),
        |days AS (
        |  SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn
        |  FROM (SELECT DISTINCT day FROM ev)),
        |wv AS (
        |  SELECT a.day, e.value
        |  FROM days a JOIN days b ON b.rn BETWEEN a.rn - 6 AND a.rn
        |  JOIN ev e ON e.day = b.day),
        |ranked AS (
        |  SELECT day, value,
        |         ROW_NUMBER() OVER (PARTITION BY day ORDER BY value) AS rw,
        |         COUNT(*) OVER (PARTITION BY day) AS n
        |  FROM wv)
        |SELECT day, ROUND(value, 4) AS p95_exact, CAST(1 AS INT) AS within_bound
        |FROM ranked WHERE rw = CEIL(0.95 * n)""".stripMargin,

    // z-order: the oracle replays the integer scaling and the Morton
    // interleave (32 generated mask-shift terms) bit-for-bit
    "q135_zorder_value" ->
      s"""WITH mm AS (
         |  SELECT MIN(l_partkey) AS mnx, MAX(l_partkey) AS mxx,
         |         MIN(l_suppkey) AS mny, MAX(l_suppkey) AS mxy
         |  FROM lineitem),
         |s AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |         ((l_partkey - mnx) * 65535) // GREATEST(mxx - mnx, 1) AS zx,
         |         ((l_suppkey - mny) * 65535) // GREATEST(mxy - mny, 1) AS zy
         |  FROM lineitem, mm WHERE l_orderkey % 7 = 0)
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |       CAST(${graft.sources.ZOrder.interleaveSql("zx", "zy")} AS BIGINT)
         |         AS zval
         |FROM s""".stripMargin,

    "q136_zorder_sink" ->
      """WITH mm AS (
        |  SELECT MIN(l_partkey) AS mnx, MAX(l_partkey) AS mxx,
        |         MIN(l_suppkey) AS mny, MAX(l_suppkey) AS mxy
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem, mm
        |WHERE l_partkey BETWEEN mnx + (mxx - mnx) // 8 AND mnx + (mxx - mnx) // 4
        |  AND l_suppkey BETWEEN mny + (mxy - mny) // 8 AND mny + (mxy - mny) // 4""".stripMargin,

    // BM25: same tokenization as q123; identical parenthesization of
    // the double formula on both engines; rank cut on rounded score
    "q137_bm25" ->
      """WITH dl AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
        |st AS (
        |  SELECT COUNT(*) AS n_docs,
        |         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
        |tf AS (
        |  SELECT term, doc_id, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.term, tf.doc_id,
        |         ROUND(LN((n_docs - df.df + 0.5) / (df.df + 0.5) + 1) *
        |           (tf.tf * 2.2) /
        |           (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / avgdl)), 4) AS score
        |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), st
        |  WHERE df.df >= 5),
        |r AS (
        |  SELECT term, doc_id, score, ROW_NUMBER() OVER (
        |    PARTITION BY term ORDER BY score DESC, doc_id) AS rn
        |  FROM sc)
        |SELECT term, doc_id, score FROM r WHERE rn <= 3""".stripMargin,

    // bloom semi join: the oracle is the PLAIN semi join — the bloom
    // prefilter must be output-invisible
    "q138_bloom_semijoin" ->
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
        |GROUP BY l_returnflag""".stripMargin,

    // count-min gate: exact top-20 recomputed; flags pinned
    "q139_cms_accuracy" ->
      """SELECT term, CAST(COUNT(*) AS BIGINT) AS n_exact,
        |       CAST(1 AS INT) AS ge_ok, CAST(1 AS INT) AS bound_ok
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY n_exact DESC, term LIMIT 20""".stripMargin,

    // kmv overlap gate: exact pairwise user overlaps recomputed
    "q140_kmv_overlap" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_both,
        |       CAST(1 AS INT) AS within_bound
        |FROM ut a JOIN ut b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin,

    // incremental dedup: exhaustive cross-set exact-Jaccard pairs —
    // same shingle construction as q45, restricted to new×stored
    "q141_incremental_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, shingle FROM (
        |    SELECT doc_id,
        |           unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                   for i in range(1, len(s) - 1)]) AS shingle
        |    FROM toks)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS id_new, b.doc_id AS id_stored, COUNT(*) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle
        |  WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
        |  GROUP BY 1, 2)
        |SELECT id_new, id_stored,
        |       ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6)
        |         AS jaccard
        |FROM pairs JOIN sizes sa ON id_new = sa.doc_id
        |           JOIN sizes sb ON id_stored = sb.doc_id
        |WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6)
        |      >= 0.5""".stripMargin,

    // streaming curation batch twin: wave 1 (doc_id % 4 <> 0) builds
    // the store with the full funnel, wave 2 (doc_id % 4 = 0) curates
    // against it — store-vs-batch exact/near-dup drops replayed with
    // exhaustive exact-Jaccard pair sets (same recall argument as
    // q141/q78: banding is complete on this corpus), internal
    // near-dup computed AFTER store collisions are removed (the
    // pinned processBatch order)
    "q182_stream_curate" ->
      """WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
        |w1 AS (SELECT * FROM tk WHERE doc_id % 4 <> 0),
        |l1 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           LEN(list_filter(s, t -> t IN ('the','table','row'))) AS s_en,
        |           GREATEST(
        |             LEN(list_filter(s, t -> t IN ('the','table','row'))),
        |             LEN(list_filter(s, t -> t IN ('query','value','vector'))),
        |             LEN(list_filter(s, t -> t IN ('customer','join','column'))),
        |             LEN(list_filter(s, t -> t IN ('scan','data','batch'))),
        |             LEN(list_filter(s, t -> t IN ('small','sort','stream')))) AS best
        |    FROM w1) t
        |  WHERE s_en = best),
        |a2 AS (SELECT w1.* FROM w1 JOIN l1 USING (doc_id)),
        |qual1 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           ROUND((LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0)
        |                  + LEAST(ROUND(CAST(LEN(list_filter(s,
        |                      t -> t IN ('the','a','and','of','in','to','is')))
        |                      AS DOUBLE) / LEN(s), 6) * 5.0, 1.0)
        |                  + CAST(LEN(list_distinct(s)) AS DOUBLE) / LEN(s)) / 3.0,
        |                 6) AS quality
        |    FROM a2) t
        |  WHERE quality >= 0.5),
        |a3 AS (SELECT a2.* FROM a2 JOIN qual1 USING (doc_id)),
        |keep1 AS (SELECT MIN(doc_id) AS doc_id FROM a3 GROUP BY md5(text)),
        |a4 AS (SELECT a3.* FROM a3 JOIN keep1 USING (doc_id)),
        |sh1 AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                 for i in range(1, len(s) - 1)]) AS shingle FROM a4)),
        |sz1 AS (SELECT doc_id, COUNT(*) AS n FROM sh1 GROUP BY doc_id),
        |pr1 AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        |        FROM sh1 a JOIN sh1 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |nd1 AS (SELECT DISTINCT id_b AS doc_id
        |        FROM pr1 JOIN sz1 sa ON id_a = sa.doc_id
        |                 JOIN sz1 sb ON id_b = sb.doc_id
        |        WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5),
        |store AS (SELECT a4.* FROM a4 ANTI JOIN nd1 USING (doc_id)),
        |w2 AS (SELECT * FROM tk WHERE doc_id % 4 = 0),
        |l2 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           LEN(list_filter(s, t -> t IN ('the','table','row'))) AS s_en,
        |           GREATEST(
        |             LEN(list_filter(s, t -> t IN ('the','table','row'))),
        |             LEN(list_filter(s, t -> t IN ('query','value','vector'))),
        |             LEN(list_filter(s, t -> t IN ('customer','join','column'))),
        |             LEN(list_filter(s, t -> t IN ('scan','data','batch'))),
        |             LEN(list_filter(s, t -> t IN ('small','sort','stream')))) AS best
        |    FROM w2) t
        |  WHERE s_en = best),
        |b2 AS (SELECT w2.* FROM w2 JOIN l2 USING (doc_id)),
        |qual2 AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           ROUND((LEAST(CAST(LENGTH(text) AS DOUBLE) / 500.0, 1.0)
        |                  + LEAST(ROUND(CAST(LEN(list_filter(s,
        |                      t -> t IN ('the','a','and','of','in','to','is')))
        |                      AS DOUBLE) / LEN(s), 6) * 5.0, 1.0)
        |                  + CAST(LEN(list_distinct(s)) AS DOUBLE) / LEN(s)) / 3.0,
        |                 6) AS quality
        |    FROM b2) t
        |  WHERE quality >= 0.5),
        |b3 AS (SELECT b2.* FROM b2 JOIN qual2 USING (doc_id)),
        |keep2 AS (SELECT MIN(doc_id) AS doc_id FROM b3 GROUP BY md5(text)),
        |b4i AS (SELECT b3.* FROM b3 JOIN keep2 USING (doc_id)),
        |b4 AS (SELECT * FROM b4i
        |       WHERE md5(text) NOT IN (SELECT md5(text) FROM store)),
        |shS AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                 for i in range(1, len(s) - 1)]) AS shingle FROM store)),
        |szS AS (SELECT doc_id, COUNT(*) AS n FROM shS GROUP BY doc_id),
        |shB AS (SELECT DISTINCT doc_id, shingle FROM (
        |  SELECT doc_id, unnest([s[i] || ' ' || s[i+1] || ' ' || s[i+2]
        |                 for i in range(1, len(s) - 1)]) AS shingle FROM b4)),
        |szB AS (SELECT doc_id, COUNT(*) AS n FROM shB GROUP BY doc_id),
        |prX AS (SELECT a.doc_id AS id_new, b.doc_id AS id_stored, COUNT(*) AS common
        |        FROM shB a JOIN shS b ON a.shingle = b.shingle
        |        GROUP BY 1, 2),
        |ndX AS (SELECT DISTINCT id_new AS doc_id
        |        FROM prX JOIN szB sa ON id_new = sa.doc_id
        |                 JOIN szS sb ON id_stored = sb.doc_id
        |        WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5),
        |b5x AS (SELECT b4.* FROM b4 ANTI JOIN ndX USING (doc_id)),
        |shB2 AS (SELECT sh.* FROM shB sh SEMI JOIN b5x USING (doc_id)),
        |szB2 AS (SELECT doc_id, COUNT(*) AS n FROM shB2 GROUP BY doc_id),
        |prI AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
        |        FROM shB2 a JOIN shB2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2),
        |ndI AS (SELECT DISTINCT id_b AS doc_id
        |        FROM prI JOIN szB2 sa ON id_a = sa.doc_id
        |                 JOIN szB2 sb ON id_b = sb.doc_id
        |        WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5),
        |b5 AS (SELECT b5x.* FROM b5x ANTI JOIN ndI USING (doc_id))
        |SELECT 'arrived' AS stage, CAST(COUNT(*) AS BIGINT) AS n FROM w2
        |UNION ALL SELECT 'lang', CAST(COUNT(*) AS BIGINT) FROM b2
        |UNION ALL SELECT 'quality', CAST(COUNT(*) AS BIGINT) FROM b3
        |UNION ALL SELECT 'exact_dedup', CAST(COUNT(*) AS BIGINT) FROM b4
        |UNION ALL SELECT 'near_dup', CAST(COUNT(*) AS BIGINT) FROM b5
        |UNION ALL SELECT 'store_total',
        |  CAST((SELECT COUNT(*) FROM store) + COUNT(*) AS BIGINT) FROM b5""".stripMargin,

    // pagerank: 3 power rounds unrolled as CTEs. Parity discipline:
    // every float step is a fixed scalar IEEE op sequence (literals
    // cast to DOUBLE so DuckDB doesn't run them in DECIMAL), rounded
    // to 12 digits; the only accumulation is an exact DECIMAL(38,12)
    // SUM — partition/engine order cannot change a bit
    "q142_pagerank" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (
        |  SELECT a.pk AS src, b.pk AS dst, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk <> b.pk
        |  GROUP BY 1, 2),
        |o AS (SELECT src, CAST(SUM(w) AS BIGINT) AS wout FROM e GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
        |       (SELECT src AS node FROM e UNION SELECT dst FROM e)),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS r FROM
        |       (SELECT src AS node FROM e UNION SELECT dst FROM e), nn),
        |r1 AS (
        |  SELECT e.dst AS node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
        |               CAST(0.85 AS DOUBLE) *
        |               CAST(SUM(CAST(ROUND(r0.r * e.w / o.wout, 12)
        |                 AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
        |  FROM e JOIN o ON e.src = o.src JOIN r0 ON e.src = r0.node, nn
        |  GROUP BY e.dst, nn.n),
        |r2 AS (
        |  SELECT e.dst AS node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
        |               CAST(0.85 AS DOUBLE) *
        |               CAST(SUM(CAST(ROUND(r1.r * e.w / o.wout, 12)
        |                 AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
        |  FROM e JOIN o ON e.src = o.src JOIN r1 ON e.src = r1.node, nn
        |  GROUP BY e.dst, nn.n),
        |r3 AS (
        |  SELECT e.dst AS node,
        |         ROUND((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n +
        |               CAST(0.85 AS DOUBLE) *
        |               CAST(SUM(CAST(ROUND(r2.r * e.w / o.wout, 12)
        |                 AS DECIMAL(38,12))) AS DOUBLE), 12) AS r
        |  FROM e JOIN o ON e.src = o.src JOIN r2 ON e.src = r2.node, nn
        |  GROUP BY e.dst, nn.n)
        |SELECT node, ROUND(r, 8) AS rank FROM r3
        |ORDER BY rank DESC, node LIMIT 50""".stripMargin,

    // bigram LM: same space tokenization as q86; nll per transition
    // rounded then summed exactly in decimal (Det discipline)
    "q143_bigram_lm" ->
      """WITH bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(string_split(text, ' '))),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i+1])) AS bigram
        |  FROM documents),
        |c2 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n2 FROM bg GROUP BY 1),
        |c1 AS (SELECT split_part(bigram, ' ', 1) AS w1,
        |              CAST(COUNT(*) AS BIGINT) AS n1 FROM bg GROUP BY 1),
        |nl AS (
        |  SELECT bg.doc_id,
        |         ROUND(LN(CAST(c1.n1 AS DOUBLE) / c2.n2), 6) AS nll
        |  FROM bg JOIN c2 USING (bigram)
        |          JOIN c1 ON split_part(bg.bigram, ' ', 1) = c1.w1),
        |d AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |         ROUND(CAST(SUM(CAST(nll AS DECIMAL(18,6))) AS DOUBLE)
        |               / COUNT(*), 4) AS avg_nll
        |  FROM nl GROUP BY 1)
        |SELECT doc_id, n_bigrams, avg_nll, ROUND(EXP(avg_nll), 3) AS ppl
        |FROM d""".stripMargin,

    // vocab/OOV: top-500 cut is (n DESC, term) deterministic; the
    // per-doc rate rounds before the exact decimal mean
    "q144_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |v AS (SELECT term FROM (
        |        SELECT term, COUNT(*) AS n FROM tok GROUP BY 1
        |        ORDER BY n DESC, term LIMIT 500)),
        |d AS (
        |  SELECT tok.doc_id, tok.lang, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |         CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_oov
        |  FROM tok LEFT JOIN v ON tok.term = v.term
        |  GROUP BY 1, 2),
        |r AS (SELECT *, ROUND(CAST(n_oov AS DOUBLE) / n_tok, 4) AS oov_rate
        |      FROM d)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       ROUND(CAST(SUM(CAST(oov_rate AS DECIMAL(18,4))) AS DOUBLE)
        |             / COUNT(*), 4) AS avg_oov_rate,
        |       ROUND(CAST(1.0 AS DOUBLE) -
        |             CAST(SUM(n_oov) AS DOUBLE) / CAST(SUM(n_tok) AS DOUBLE),
        |             4) AS token_coverage
        |FROM r GROUP BY 1""".stripMargin,

    // shard assign: the md5-prefix hash is replayed verbatim (same
    // portable-hash contract as q65)
    // triangles: oracle mirrors the degree cap (row_number over the
    // symmetric adjacency, weight desc / neighbor asc) then closes
    // x<y<z the naive way on the same canonical edge set
    "q146_triangles" ->
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS (
        |  SELECT a.pk AS s, b.pk AS d, COUNT(*) AS w
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2),
        |ew AS (SELECT s, d, w FROM e0 WHERE w >= 2),
        |sym AS (SELECT s, d, w FROM ew
        |        UNION ALL SELECT d AS s, s AS d, w FROM ew),
        |kept AS (
        |  SELECT s, d FROM (
        |    SELECT s, d, ROW_NUMBER() OVER (PARTITION BY s
        |             ORDER BY w DESC, d ASC) AS rn
        |    FROM sym) WHERE rn <= 32),
        |e AS (
        |  SELECT DISTINCT LEAST(s, d) AS s, GREATEST(s, d) AS d
        |  FROM kept),
        |tri AS (
        |  SELECT e1.s AS x, e1.d AS y, e2.d AS z
        |  FROM e e1 JOIN e e2 ON e1.d = e2.s
        |            JOIN e e3 ON e3.s = e1.s AND e3.d = e2.d),
        |nodes AS (
        |  SELECT x AS node FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri)
        |SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        |FROM nodes GROUP BY 1""".stripMargin,

    // PMI: same bigram stream as q143; fixed scalar op order inside
    // the LN
    "q147_pmi" ->
      """WITH bg AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(string_split(text, ' '))),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i+1])) AS bigram
        |  FROM documents),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tr FROM bg),
        |c2 AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY 1),
        |c1l AS (SELECT split_part(bigram, ' ', 1) AS w1,
        |               CAST(COUNT(*) AS BIGINT) AS nl FROM bg GROUP BY 1),
        |c1r AS (SELECT split_part(bigram, ' ', 2) AS w2,
        |               CAST(COUNT(*) AS BIGINT) AS nr FROM bg GROUP BY 1)
        |SELECT c2.bigram, c2.n,
        |       ROUND(LN(CAST(n_tr AS DOUBLE) * c2.n /
        |                (CAST(nl AS DOUBLE) * nr)), 4) AS pmi
        |FROM c2 JOIN c1l ON split_part(c2.bigram, ' ', 1) = c1l.w1
        |        JOIN c1r ON split_part(c2.bigram, ' ', 2) = c1r.w2, tot
        |WHERE c2.n >= 5
        |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin,

    // chi2: exact integer contingency; the only float is the final
    // closed form, mirrored term by term
    "q148_chi2_terms" ->
      """WITH td AS (
        |  SELECT DISTINCT doc_id, label, term FROM (
        |    SELECT doc_id, lang AS label,
        |           unnest(string_split(text, ' ')) AS term
        |    FROM documents)),
        |na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM documents),
        |lt AS (SELECT lang AS label, CAST(COUNT(*) AS BIGINT) AS n_label
        |       FROM documents GROUP BY 1),
        |tl AS (SELECT term, label, CAST(COUNT(*) AS BIGINT) AS a
        |       FROM td GROUP BY 1, 2),
        |tt AS (SELECT term, CAST(SUM(a) AS BIGINT) AS n_term
        |       FROM tl GROUP BY 1),
        |x AS (
        |  SELECT tl.term, tl.label, a, n_term - a AS b, n_label - a AS c,
        |         n_all - n_term - n_label + a AS d, n_all
        |  FROM tl JOIN tt USING (term) JOIN lt USING (label), na
        |  WHERE n_term >= 5)
        |SELECT term, label,
        |       CASE WHEN c + d = 0 OR b + d = 0 THEN 0.0
        |            ELSE ROUND(CAST(n_all AS DOUBLE) * (a*d - b*c) * (a*d - b*c) /
        |                 (CAST((a+b)*(c+d) AS DOUBLE) *
        |                  CAST((a+c)*(b+d) AS DOUBLE)), 4) END AS chi2
        |FROM x ORDER BY chi2 DESC, term, label LIMIT 50""".stripMargin,

    // LOO encoding: integer sums; singleton categories NULL on both
    // engines
    "q149_loo_encode" ->
      """WITH f AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS t
        |  FROM lineitem),
        |s AS (SELECT l_partkey, CAST(SUM(t) AS BIGINT) AS st,
        |             CAST(COUNT(*) AS BIGINT) AS n
        |      FROM f GROUP BY 1)
        |SELECT f.l_orderkey, f.l_linenumber, f.l_partkey,
        |       CASE WHEN n > 1
        |            THEN ROUND(CAST(st - t AS DOUBLE) / (n - 1), 6) END AS enc
        |FROM f LEFT JOIN s USING (l_partkey)""".stripMargin,

    // Welch: exact decimal moments per group; scalar double closed
    // form mirrored op-for-op (se first, then t and dof)
    "q150_welch_ab" ->
      """WITH g AS (
        |  SELECT event_type AS grp, COUNT("value") AS n,
        |         CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST("value" AS DECIMAL(18,2)) *
        |                  CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT grp, n, s1 / n AS m,
        |         (s2 - s1 * s1 / n) / (CAST(n AS DOUBLE) - 1.0) AS v
        |  FROM g),
        |p AS (
        |  SELECT a.grp AS type_a, b.grp AS type_b, a.n AS n_a, b.n AS n_b,
        |         a.m AS m_a, b.m AS m_b, a.v / a.n AS se_a, b.v / b.n AS se_b
        |  FROM m a JOIN m b ON a.grp < b.grp)
        |SELECT type_a, type_b, n_a, n_b,
        |       ROUND((m_a - m_b) / SQRT(NULLIF(se_a + se_b, 0)), 4) AS t_welch,
        |       ROUND((se_a + se_b) * (se_a + se_b) /
        |             NULLIF(se_a * se_a / (CAST(n_a AS DOUBLE) - 1.0) +
        |                    se_b * se_b / (CAST(n_b AS DOUBLE) - 1.0), 0), 2) AS dof
        |FROM p""".stripMargin,

    // interval union: same sweep (pmax → open flag → segment id →
    // segment length); epoch seconds floor-truncated on both engines
    "q151_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS st,
        |         epoch_us(ts) // 1000000 + 1800 AS en
        |  FROM events),
        |m AS (
        |  SELECT user_id, st, en,
        |         MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |sg AS (
        |  SELECT user_id, st, en,
        |         SUM(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY st, en
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM m),
        |g AS (
        |  SELECT user_id, seg, COUNT(*) AS nn, GREATEST(MAX(en) - MIN(st), 0) AS len
        |  FROM sg GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(nn) AS BIGINT) AS n_intervals,
        |       CAST(COUNT(*) AS BIGINT) AS n_segments,
        |       CAST(SUM(len) AS BIGINT) AS covered_s
        |FROM g GROUP BY 1""".stripMargin,

    // CUPED: unit rollup in exact decimal; moments and θ mirrored
    // op-for-op; var_adj from the moments (no re-aggregation)
    "q152_cuped" ->
      """WITH u AS (
        |  SELECT user_id, event_type,
        |         CAST(SUM(CASE WHEN date_part('day', ts) < 16
        |              THEN CAST("value" AS DECIMAL(18,2))
        |              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS pre,
        |         CAST(SUM(CASE WHEN date_part('day', ts) >= 16
        |              THEN CAST("value" AS DECIMAL(18,2))
        |              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS post
        |  FROM events GROUP BY 1, 2),
        |mo AS (
        |  SELECT event_type AS grp, COUNT(*) AS n_units,
        |         CAST(SUM(CAST(pre AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(post AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(pre AS DECIMAL(18,2)) *
        |                  CAST(pre AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(post AS DECIMAL(18,2)) *
        |                  CAST(post AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(pre AS DECIMAL(18,2)) *
        |                  CAST(post AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM u GROUP BY 1),
        |v AS (
        |  SELECT grp, n_units, CAST(n_units AS DOUBLE) AS nd,
        |         (sxx - sx * sx / CAST(n_units AS DOUBLE)) /
        |           (CAST(n_units AS DOUBLE) - 1) AS vx,
        |         (syy - sy * sy / CAST(n_units AS DOUBLE)) /
        |           (CAST(n_units AS DOUBLE) - 1) AS vy,
        |         (sxy - sx * sy / CAST(n_units AS DOUBLE)) /
        |           (CAST(n_units AS DOUBLE) - 1) AS cxy
        |  FROM mo)
        |SELECT grp, n_units,
        |       ROUND(cxy / NULLIF(vx, 0), 6) AS theta,
        |       ROUND(vy, 6) AS var_y,
        |       ROUND(vy - cxy * cxy / NULLIF(vx, 0), 6) AS var_adj,
        |       ROUND((vy - cxy * cxy / NULLIF(vx, 0)) / NULLIF(vy, 0), 6)
        |         AS reduction
        |FROM v""".stripMargin,

    // weighted median: per-value weight histogram, cumulative over
    // distinct values; the answer is an input value — no float
    // arithmetic
    "q153_weighted_median" ->
      """WITH pv AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         SUM(w) OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM pv),
        |t AS (SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS tot
        |      FROM pv GROUP BY 1)
        |SELECT c.l_returnflag, MIN(l_extendedprice) AS w_median
        |FROM c JOIN t USING (l_returnflag)
        |WHERE cum * 2 >= tot GROUP BY 1""".stripMargin,

    // skew report: Gini from the count-of-counts histogram (block
    // rank sums in exact integers), top-k share from the descending
    // cumulative
    "q154_skew_report" ->
      """WITH counts AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |hist AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS f
        |         FROM counts GROUP BY 1),
        |h AS (
        |  SELECT n, f,
        |         SUM(f) OVER (ORDER BY n ASC ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW) AS cumF,
        |         COALESCE(SUM(f) OVER (ORDER BY n ASC ROWS BETWEEN
        |           UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prevF,
        |         COALESCE(SUM(f) OVER (ORDER BY n DESC ROWS BETWEEN
        |           UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prevD
        |  FROM hist),
        |k AS (
        |  SELECT CAST(SUM(f) AS BIGINT) AS n_keys,
        |         CAST(SUM(n * f) AS BIGINT) AS total,
        |         CAST(SUM(n * (cumF * (cumF + 1) // 2 -
        |                       prevF * (prevF + 1) // 2)) AS BIGINT) AS iw,
        |         CAST(SUM(n * GREATEST(0, LEAST(f, 1 - prevD)))
        |              AS BIGINT) AS top1,
        |         CAST(SUM(n * GREATEST(0, LEAST(f, 10 - prevD)))
        |              AS BIGINT) AS top10
        |  FROM h)
        |SELECT n_keys, total,
        |       ROUND(CAST(2.0 AS DOUBLE) * iw / CAST(n_keys * total AS DOUBLE) -
        |             CAST(n_keys + 1 AS DOUBLE) / n_keys, 6) AS gini,
        |       ROUND(CAST(top1 AS DOUBLE) / total, 6) AS top1_share,
        |       ROUND(CAST(top10 AS DOUBLE) / total, 6) AS top10_share
        |FROM k""".stripMargin,

    // attribution: ignore-nulls last_value over the same total
    // ordering (ts, event_id); lookback gate and age in exact seconds
    "q155_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, "value",
        |         epoch_us(ts) // 1000000 AS ts_s
        |  FROM events),
        |a AS (
        |  SELECT user_id, event_type, "value", ts_s,
        |         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |                         THEN ts_s END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS attr_ts,
        |         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |                         THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS attr_type_raw
        |  FROM ev),
        |c AS (
        |  SELECT COALESCE(CASE WHEN attr_ts >= ts_s - 3600
        |                       THEN attr_type_raw END,
        |                  'unattributed') AS attr_type,
        |         "value",
        |         CASE WHEN attr_ts >= ts_s - 3600
        |              THEN ts_s - attr_ts END AS age
        |  FROM a WHERE event_type = 'purchase')
        |SELECT attr_type, CAST(COUNT(*) AS BIGINT) AS n_conv,
        |       ROUND(CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS sum_value,
        |       CASE WHEN COUNT(age) > 0
        |            THEN ROUND(CAST(SUM(age) AS DOUBLE) / COUNT(age), 2)
        |       END AS avg_age_s
        |FROM c GROUP BY 1""".stripMargin,

    // association rules: exact distinct-basket counts; the oracle
    // recomputes N itself so both sides scale the lift identically
    "q156_assoc_rules" ->
      """WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |n AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS nb FROM bi),
        |supp AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS s FROM bi GROUP BY 1),
        |p AS (
        |  SELECT a.it AS ante, b.it AS cons, CAST(COUNT(*) AS BIGINT)
        |         AS supp_ab
        |  FROM bi a JOIN bi b ON a.bk = b.bk AND a.it <> b.it
        |  GROUP BY 1, 2),
        |f AS (SELECT ante, cons, supp_ab FROM p WHERE supp_ab >= 3)
        |SELECT ante, cons, supp_ab,
        |       ROUND(CAST(supp_ab AS DOUBLE) / sa.s, 6) AS confidence,
        |       ROUND(CAST(nb AS DOUBLE) * supp_ab /
        |             CAST(sa.s * sc.s AS DOUBLE), 6) AS lift
        |FROM f JOIN supp sa ON f.ante = sa.it
        |       JOIN supp sc ON f.cons = sc.it, n
        |ORDER BY lift DESC, ante, cons LIMIT 25""".stripMargin,

    // MAD outliers: two histogram-median passes (same shape as q153);
    // the only float op is the final 3·MAD cut, mirrored as a DOUBLE
    "q157_mad_outliers" ->
      """WITH b AS (
        |  SELECT event_type AS grp, CAST("value" AS DECIMAL(18,2)) AS v
        |  FROM events),
        |pv AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS w
        |       FROM b GROUP BY 1, 2),
        |c AS (SELECT grp, v, SUM(w) OVER (PARTITION BY grp ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM pv),
        |t AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS tot FROM pv GROUP BY 1),
        |med AS (SELECT c.grp, MIN(v) AS med FROM c JOIN t USING (grp)
        |        WHERE cum * 2 >= tot GROUP BY 1),
        |d AS (SELECT b.grp, ABS(v - med) AS v FROM b JOIN med USING (grp)),
        |pv2 AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS w
        |        FROM d GROUP BY 1, 2),
        |c2 AS (SELECT grp, v, SUM(w) OVER (PARTITION BY grp ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM pv2),
        |t2 AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS tot FROM pv2 GROUP BY 1),
        |mad AS (SELECT c2.grp, MIN(v) AS mad FROM c2 JOIN t2 USING (grp)
        |        WHERE cum * 2 >= tot GROUP BY 1)
        |SELECT b.grp, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(MIN(med.med) AS DOUBLE) AS med,
        |       CAST(MIN(mad.mad) AS DOUBLE) AS mad,
        |       CAST(SUM(CASE WHEN ABS(v - med.med) >
        |                          CAST(3.0 AS DOUBLE) * mad.mad
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM b JOIN med USING (grp) JOIN mad USING (grp)
        |GROUP BY 1""".stripMargin,

    // temperature mix: rate = min(1, T·p_s/n_s), p_s ∝ round(√n, 6)
    // with a decimal-exact normalizer; membership replays the md5 draw
    "q158_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT CAST(SUM(n_src) AS BIGINT) AS n_all,
        |         CAST(SUM(CAST(ROUND(SQRT(n_src), 6) AS DECIMAL(18,6)))
        |              AS DOUBLE) AS sum_sq
        |  FROM c),
        |r AS (
        |  SELECT source,
        |         LEAST(CAST(1.0 AS DOUBLE),
        |               CAST(0.5 AS DOUBLE) * n_all *
        |               (ROUND(SQRT(n_src), 6) / sum_sq) / n_src) AS rate
        |  FROM c, t),
        |k AS (
        |  SELECT d.source, r.rate
        |  FROM documents d JOIN r USING (source)
        |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |             AS BIGINT) / 4294967296.0 < r.rate)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        |       ROUND(MIN(rate), 6) AS rate
        |FROM k GROUP BY 1""".stripMargin,

    // rolling corr: identical frame, decimal moment sums, closed form
    // guarded on frame size and positive variances
    "q162_rolling_corr" ->
      """WITH daily AS (
        |  SELECT l_shipdate AS d,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS x,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS y
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT d, x, y,
        |         CAST(COUNT(*) OVER w AS DOUBLE) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(y AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x AS DECIMAL(18,2)) *
        |                  CAST(x AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(y AS DECIMAL(18,2)) *
        |                  CAST(y AS DECIMAL(18,2))) OVER w AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(x AS DECIMAL(18,2)) *
        |                  CAST(y AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sxy
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT d, x, y, CAST(n AS BIGINT) AS n_win,
        |       CASE WHEN n >= 3 AND n * sxx - sx * sx > 0
        |                 AND n * syy - sy * sy > 0
        |            THEN ROUND((n * sxy - sx * sy) /
        |                 (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)),
        |                 6)
        |       END AS corr
        |FROM m""".stripMargin,

    // quantile normalization: CDFs from per-value histograms; the
    // as-of alignment replayed as the same union + ignore-nulls
    // last_value over (cdf, tag, value) ordering
    "q161_quantile_norm" ->
      """WITH pv AS (
        |  SELECT event_type AS grp, "value" AS v, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM events GROUP BY 1, 2),
        |gt AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS tot FROM pv GROUP BY 1),
        |gc AS (
        |  SELECT pv.grp, v,
        |         ROUND(CAST(SUM(w) OVER (PARTITION BY pv.grp ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               AS DOUBLE) / tot, 9) AS cdf
        |  FROM pv JOIN gt USING (grp)),
        |gv AS (SELECT "value" AS v, CAST(COUNT(*) AS BIGINT) AS w
        |       FROM events GROUP BY 1),
        |gtot AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM gv),
        |gcdf AS (
        |  SELECT v AS v_ref,
        |         ROUND(CAST(SUM(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |                 PRECEDING AND CURRENT ROW) AS DOUBLE) / tot, 9) AS cdf
        |  FROM gv, gtot),
        |u AS (
        |  SELECT g.grp, CAST(NULL AS DOUBLE) AS v, r.cdf, 0 AS tag, r.v_ref
        |  FROM (SELECT DISTINCT grp FROM gc) g, gcdf r
        |  UNION ALL
        |  SELECT grp, v, cdf, 1 AS tag, CAST(NULL AS DOUBLE) AS v_ref
        |  FROM gc),
        |m AS (
        |  SELECT grp, v, cdf, tag,
        |         LAST_VALUE(v_ref IGNORE NULLS) OVER (PARTITION BY grp
        |           ORDER BY cdf, tag, COALESCE(v, v_ref)
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_norm
        |  FROM u)
        |SELECT grp, v, cdf, v_norm FROM m WHERE tag = 1""".stripMargin,

    // binned quantile normalization: FLOOR("value") bins replayed in
    // both CDFs, then the identical q161 alignment SQL
    "q193_qnorm_binned" ->
      """WITH pv AS (
        |  SELECT event_type AS grp, FLOOR("value" * 1.0) / 1.0 AS v,
        |         CAST(COUNT(*) AS BIGINT) AS w
        |  FROM events GROUP BY 1, 2),
        |gt AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS tot FROM pv GROUP BY 1),
        |gc AS (
        |  SELECT pv.grp, v,
        |         ROUND(CAST(SUM(w) OVER (PARTITION BY pv.grp ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                 AS DOUBLE) / tot, 9) AS cdf
        |  FROM pv JOIN gt USING (grp)),
        |gv AS (SELECT FLOOR("value" * 1.0) / 1.0 AS v,
        |              CAST(COUNT(*) AS BIGINT) AS w
        |       FROM events GROUP BY 1),
        |gtot AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM gv),
        |gcdf AS (
        |  SELECT v AS v_ref,
        |         ROUND(CAST(SUM(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |                 PRECEDING AND CURRENT ROW) AS DOUBLE) / tot, 9) AS cdf
        |  FROM gv, gtot),
        |u AS (
        |  SELECT g.grp, CAST(NULL AS DOUBLE) AS v, r.cdf, 0 AS tag, r.v_ref
        |  FROM (SELECT DISTINCT grp FROM gc) g, gcdf r
        |  UNION ALL
        |  SELECT grp, v, cdf, 1 AS tag, CAST(NULL AS DOUBLE) AS v_ref
        |  FROM gc),
        |m AS (
        |  SELECT grp, v, cdf, tag,
        |         LAST_VALUE(v_ref IGNORE NULLS) OVER (PARTITION BY grp
        |           ORDER BY cdf, tag, COALESCE(v, v_ref)
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_norm
        |  FROM u)
        |SELECT grp, v, cdf, v_norm FROM m WHERE tag = 1""".stripMargin,

    // salted distinct: the oracle is the PLAIN count-distinct — the
    // salting must be output-invisible
    "q160_salted_distinct" ->
      """SELECT event_type,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY 1""".stripMargin,

    // HITS: 2 rounds = 4 half-steps unrolled; round-12 scores into
    // DECIMAL(38,12) sums, L1 normalizer as a 1-row cross join
    "q159_hits" ->
      """WITH e AS (
        |  SELECT DISTINCT o_custkey AS src, l_partkey AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |h0 AS (SELECT DISTINCT src AS id, CAST(1.0 AS DOUBLE) AS h FROM e),
        |a1r AS (
        |  SELECT e.dst AS id,
        |         SUM(CAST(ROUND(h0.h, 12) AS DECIMAL(38,12))) AS raw
        |  FROM e JOIN h0 ON e.src = h0.id GROUP BY 1),
        |a1 AS (
        |  SELECT id, ROUND(CAST(raw AS DOUBLE) / CAST(n.nrm AS DOUBLE), 12)
        |         AS a
        |  FROM a1r, (SELECT SUM(raw) AS nrm FROM a1r) n),
        |h1r AS (
        |  SELECT e.src AS id,
        |         SUM(CAST(ROUND(a1.a, 12) AS DECIMAL(38,12))) AS raw
        |  FROM e JOIN a1 ON e.dst = a1.id GROUP BY 1),
        |h1 AS (
        |  SELECT id, ROUND(CAST(raw AS DOUBLE) / CAST(n.nrm AS DOUBLE), 12)
        |         AS h
        |  FROM h1r, (SELECT SUM(raw) AS nrm FROM h1r) n),
        |a2r AS (
        |  SELECT e.dst AS id,
        |         SUM(CAST(ROUND(h1.h, 12) AS DECIMAL(38,12))) AS raw
        |  FROM e JOIN h1 ON e.src = h1.id GROUP BY 1),
        |a2 AS (
        |  SELECT id, ROUND(CAST(raw AS DOUBLE) / CAST(n.nrm AS DOUBLE), 12)
        |         AS a
        |  FROM a2r, (SELECT SUM(raw) AS nrm FROM a2r) n)
        |SELECT id AS part, ROUND(a, 8) AS authority FROM a2
        |ORDER BY authority DESC, part LIMIT 30""".stripMargin,

    "q145_shard_assign" ->
      """WITH s AS (
        |  SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |              AS BIGINT) % 16 AS INT) AS shard,
        |         lang, n_chars
        |  FROM documents)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM s GROUP BY 1""".stripMargin,

    "q56_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(unnest(embedding) AS DECIMAL(18,9)) AS vd,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |norms AS (SELECT vec_id, SQRT(CAST(SUM(vd*vd) AS DOUBLE)) AS nrm
        |          FROM e GROUP BY vec_id),
        |dots AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(SUM(a.vd*b.vd) AS DOUBLE) AS dot
        |  FROM e a JOIN e b ON a.pos = b.pos AND a.label = b.label
        |                    AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, ROUND(dot / (na.nrm * nb.nrm), 4) AS cos
        |FROM dots JOIN norms na ON id_a = na.vec_id
        |          JOIN norms nb ON id_b = nb.vec_id
        |WHERE ROUND(dot / (na.nrm * nb.nrm), 4) >= 0.2""".stripMargin,

    "q32_text_stats" ->
      """WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents)
        |SELECT doc_id,
        |       CAST(LENGTH(text) AS INT) AS n_chars,
        |       CAST(LEN(s) AS INT) AS n_tokens,
        |       CAST(LEN(list_distinct(s)) AS INT) AS n_unique,
        |       ROUND(CAST(list_sum(list_transform(s, t -> LENGTH(t))) AS DOUBLE) / LEN(s), 6) AS avg_token_len,
        |       ROUND(CAST(LEN(list_filter(s, t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE) / LEN(s), 6) AS stop_ratio,
        |       ROUND(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:''"]', '', 'g')) AS DOUBLE) / LENGTH(text), 6) AS punct_ratio,
        |       ROUND(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / LENGTH(text), 6) AS digit_ratio
        |FROM tk""".stripMargin,

    "q52_quality_score" ->
      """WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
        |st AS (SELECT doc_id,
        |              LENGTH(text) AS n_chars, LEN(s) AS n_tokens,
        |              LEN(list_distinct(s)) AS n_unique,
        |              ROUND(CAST(LEN(list_filter(s, t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE) / LEN(s), 6) AS stop_ratio
        |       FROM tk)
        |SELECT doc_id,
        |       ROUND((LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
        |              + LEAST(stop_ratio * 5.0, 1.0)
        |              + CAST(n_unique AS DOUBLE) / n_tokens) / 3.0, 6) AS quality
        |FROM st""".stripMargin,

    "q48_token_count" ->
      """SELECT doc_id,
        |       CAST(LEN(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_word_tokens,
        |       CAST(CEIL(CAST(LENGTH(text) AS DOUBLE) / 4.0) AS INT) AS n_subword_est
        |FROM documents""".stripMargin,

    "q49_fingerprint" ->
      """SELECT doc_id,
        |       md5(LOWER(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,

    "q50_lang_id" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
        |sc AS (SELECT doc_id,
        |              LEN(list_filter(s, t -> t IN ('the','table','row'))) AS s_en,
        |              LEN(list_filter(s, t -> t IN ('query','value','vector'))) AS s_es,
        |              LEN(list_filter(s, t -> t IN ('customer','join','column'))) AS s_de,
        |              LEN(list_filter(s, t -> t IN ('scan','data','batch'))) AS s_fr,
        |              LEN(list_filter(s, t -> t IN ('small','sort','stream'))) AS s_zh
        |       FROM tk),
        |mx AS (SELECT *, GREATEST(s_en, s_es, s_de, s_fr, s_zh) AS best FROM sc)
        |SELECT doc_id,
        |       CASE WHEN s_en = best THEN 'en'
        |            WHEN s_es = best THEN 'es'
        |            WHEN s_de = best THEN 'de'
        |            WHEN s_fr = best THEN 'fr'
        |            WHEN s_zh = best THEN 'zh'
        |            ELSE 'und' END AS predicted_lang,
        |       CAST(best AS INT) AS score
        |FROM mx""".stripMargin,

    "q38_binary_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |       hex(encode(substring(text, 1, 8))) AS head_hex
        |FROM documents""".stripMargin,

    "q53_running_sum" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS running_total
        |FROM orders""".stripMargin,

    "q54_lag_lead" ->
      """SELECT o_custkey, o_orderkey,
        |       LAG(o_orderkey, 1) OVER w AS prev_order,
        |       LEAD(o_orderkey, 1) OVER w AS next_order,
        |       CAST(DATE_DIFF('day', LAG(o_orderdate, 1) OVER w, o_orderdate) AS INT)
        |         AS days_since_prev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin,

    "q55_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "q127_jdbc_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",

    "q74_partitioned_sink" ->
      """SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin,

    "q82_unpivot" ->
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |       l_quantity AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |FROM lineitem""".stripMargin,

    "q85_embed_centroid" ->
      """WITH e AS (
        |  SELECT label,
        |         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |         CAST(unnest(embedding) AS DECIMAL(18,9)) AS vd
        |  FROM embeddings)
        |SELECT label, pos, COUNT(*) AS n,
        |       ROUND(CAST(SUM(vd) AS DOUBLE) / COUNT(*), 6) AS centroid
        |FROM e GROUP BY 1, 2""".stripMargin,

    "q86_bigram_topk" ->
      """WITH b AS (
        |  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i+1])) AS bigram
        |  FROM documents),
        |c AS (SELECT bigram, COUNT(*) AS n FROM b GROUP BY 1)
        |SELECT bigram, n FROM c ORDER BY n DESC, bigram LIMIT 50""".stripMargin,

    "q87_multi_distinct" ->
      """SELECT l_returnflag,
        |       COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q88_nullsafe_join" ->
      """WITH f AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderpriority <> '1-URGENT'
        |              THEN o_orderpriority END AS prio
        |  FROM orders),
        |d AS (SELECT DISTINCT CASE WHEN o_orderpriority <> '1-URGENT'
        |                           THEN o_orderpriority END AS prio
        |      FROM orders),
        |d2 AS (SELECT prio, COALESCE(prio, 'UNKNOWN') AS prio_group FROM d)
        |SELECT f.o_orderkey, d2.prio_group
        |FROM f JOIN d2 ON f.prio IS NOT DISTINCT FROM d2.prio""".stripMargin,

    "q89_edit_distance" ->
      """SELECT a.p_brand || '|' || a.p_size AS block,
        |       a.p_partkey AS id_a, b.p_partkey AS id_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin,

    "q90_gapfill" ->
      """WITH b AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, MIN(bucket) AS b0, MAX(bucket) AS b1
        |      FROM b GROUP BY 1),
        |g AS (SELECT event_type,
        |             unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |      FROM s)
        |SELECT g.event_type, g.bucket,
        |       COALESCE(b.n, 0) AS n,
        |       ROUND(CAST(COALESCE(b.sv, 0) AS DOUBLE), 2) AS sum_value
        |FROM g LEFT JOIN b
        |  ON g.event_type = b.event_type AND g.bucket = b.bucket""".stripMargin,

    "q91_sliding_window" ->
      """WITH x AS (
        |  SELECT event_type, date_trunc('hour', ts) AS ws FROM events
        |  UNION ALL
        |  SELECT event_type, date_trunc('hour', ts) - INTERVAL 1 HOUR
        |  FROM events)
        |SELECT ws AS win_start, event_type, COUNT(*) AS n
        |FROM x GROUP BY 1, 2""".stripMargin,

    "q92_array_agg_str" ->
      """WITH d AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer),
        |a AS (SELECT c_nationkey,
        |             string_agg(c_mktsegment, ',' ORDER BY c_mktsegment)
        |               AS segments
        |      FROM d GROUP BY 1),
        |n AS (SELECT c_nationkey, COUNT(*) AS n_customers
        |      FROM customer GROUP BY 1)
        |SELECT a.c_nationkey, a.segments, n.n_customers
        |FROM a JOIN n USING (c_nationkey)""".stripMargin,

    "q93_range_frame" ->
      """SELECT event_id, user_id, ts,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |            OVER (PARTITION BY user_id
        |                  ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
        |                  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS sum_1h
        |FROM events""".stripMargin,

    "q94_json_roundtrip" ->
      """SELECT s_nationkey, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS sum_bal
        |FROM supplier GROUP BY 1""".stripMargin,

    "q95_orc_roundtrip" ->
      """SELECT p_brand, COUNT(*) AS n,
        |       ROUND(MAX(p_retailprice), 2) AS max_price
        |FROM part GROUP BY 1""".stripMargin,

    "q96_date_arith" ->
      """SELECT o_orderkey,
        |       CAST(o_orderdate AS DATE) + 30 AS due_date,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
        |         AS quarter_later,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
        |FROM orders""".stripMargin,

    "q97_regexp" ->
      """SELECT p_partkey,
        |       regexp_extract(p_name, '\b(\w*e)\b', 1) AS first_e_word,
        |       CAST(regexp_matches(p_name, '\d') AS INT) AS has_digit,
        |       CAST(LENGTH(p_name) - LENGTH(REPLACE(p_name, 'a', ''))
        |            AS INT) AS n_a
        |FROM part""".stripMargin,

    "q99_scd2" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |       o_orderdate AS valid_from,
        |       LEAD(o_orderdate, 1) OVER w AS valid_to,
        |       LEAD(o_orderdate, 1) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    "q100_json_struct" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |       o_orderstatus AS status_tag,
        |       o_orderpriority AS prio_tag
        |FROM orders""".stripMargin,

    "q101_region_rollup" ->
      """SELECT r.r_name AS region,
        |       COUNT(DISTINCT n.n_nationkey) AS n_nations,
        |       COUNT(c.c_custkey) AS n_customers,
        |       ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2)))
        |             AS DOUBLE), 2) AS sum_bal
        |FROM region r
        |JOIN nation n ON r.r_regionkey = n.n_regionkey
        |JOIN customer c ON n.n_nationkey = c.c_nationkey
        |GROUP BY r.r_name""".stripMargin,

    "q105_schema_merge" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin,

    "q106_map_funcs" ->
      """SELECT p_partkey, p_brand AS brand, p_type AS typ,
        |       CAST(2 AS INT) AS n_keys,
        |       'brand,type' AS keys
        |FROM part""".stripMargin,

    "q123_inverted_index" ->
      """WITH tf AS (
        |  SELECT term, doc_id, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY term
        |              ORDER BY tf DESC, doc_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY term) AS df
        |  FROM tf)
        |SELECT term, MAX(df) AS doc_freq,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rn)
        |         AS top_docs
        |FROM r WHERE rn <= 5 GROUP BY 1""".stripMargin,

    "q122_session_paths" ->
      """WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |p AS (
        |  SELECT user_id, sid,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM g GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1""".stripMargin,

    "q120_cooccurrence" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |pt AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY 1),
        |tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         COUNT(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |                     AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_both,
        |       ROUND(CAST(p.n_both AS DOUBLE) * tot.n_users /
        |             (pa.n_t * pb.n_t), 6) AS lift
        |FROM p
        |JOIN pt pa ON pa.event_type = p.type_a
        |JOIN pt pb ON pb.event_type = p.type_b
        |CROSS JOIN tot""".stripMargin,

    "q117_mode" ->
      """WITH c AS (SELECT lang, source, COUNT(*) AS n
        |           FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, source, n,
        |             ROW_NUMBER() OVER (PARTITION BY lang
        |               ORDER BY n DESC, source DESC) AS rn
        |      FROM c)
        |SELECT lang, source AS top_source, n FROM r WHERE rn = 1""".stripMargin,

    "q118_share" ->
      """WITH b AS (
        |  SELECT c_nationkey,
        |         ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE),
        |               2) AS bal
        |  FROM customer GROUP BY 1)
        |SELECT c_nationkey, bal,
        |       ROUND(bal / CAST(SUM(CAST(bal AS DECIMAL(18,2))) OVER ()
        |                   AS DOUBLE), 6) AS share
        |FROM b""".stripMargin,

    "q119_union_drift" ->
      """SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin,

    "q116_tvt_split" ->
      """WITH d AS (
        |  SELECT lang,
        |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) / 4294967296.0 AS u
        |  FROM documents)
        |SELECT lang,
        |       CASE WHEN u < 0.8 THEN 'train'
        |            WHEN u < 0.9 THEN 'val'
        |            ELSE 'test' END AS split,
        |       COUNT(*) AS n
        |FROM d GROUP BY 1, 2""".stripMargin,

    "q114_constraints" ->
      """WITH o AS (SELECT * FROM orders),
        |base AS (
        |  SELECT
        |    ROUND(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*), 6)
        |      AS uniq,
        |    ROUND(CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |          AS DOUBLE) / COUNT(*), 6) AS nulls,
        |    CAST(SUM(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1000000.0
        |             THEN 1 ELSE 0 END) AS DOUBLE) AS range_viol
        |  FROM o),
        |orph AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM o
        |  WHERE o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer
        |                    WHERE c_custkey = o_custkey))
        |SELECT 'unique(o_orderkey)' AS constraint, uniq = 1.0 AS passed,
        |       uniq AS observed FROM base
        |UNION ALL
        |SELECT 'null_rate(o_custkey) <= 0.0', nulls <= 0.0, nulls FROM base
        |UNION ALL
        |SELECT 'in_range(o_totalprice, 0.0, 1000000.0)', range_viol = 0,
        |       range_viol FROM base
        |UNION ALL
        |SELECT 'referential(o_custkey -> c_custkey)', n = 0, n FROM orph""".stripMargin,

    "q115_zscore" ->
      """WITH s AS (
        |  SELECT event_type,
        |         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |               / COUNT(value), 6) AS mu,
        |         ROUND(SQRT((CAST(SUM(CAST(value AS DECIMAL(18,2)) *
        |                              CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |                     - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |                       * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |                       / CAST(COUNT(value) AS DOUBLE))
        |                    / (CAST(COUNT(value) AS DOUBLE) - 1.0)), 6) AS sigma
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |       ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 4) AS z,
        |       CAST(ABS(ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 4)) > 3.0
        |            AS INT) AS is_outlier
        |FROM events e JOIN s USING (event_type)""".stripMargin,

    "q113_weighted_sample" ->
      """WITH d AS (
        |  SELECT doc_id, lang, n_chars,
        |         ROUND(LN(GREATEST(
        |                 CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
        |                       1, 8)) AS BIGINT) / 4294967296.0, 1e-12))
        |               / n_chars, 9) AS es_key
        |  FROM documents WHERE n_chars > 0),
        |r AS (SELECT doc_id, lang, n_chars,
        |             ROW_NUMBER() OVER (PARTITION BY lang
        |               ORDER BY es_key DESC, doc_id) AS rn
        |      FROM d)
        |SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20""".stripMargin,

    "q111_cohort_retention" ->
      """WITH a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |           FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM a GROUP BY 1)
        |SELECT c.cohort_week,
        |       CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INT)
        |         AS week_offset,
        |       COUNT(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin,

    "q112_transitions" ->
      """WITH x AS (
        |  SELECT user_id,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type,
        |         event_type
        |  FROM events)
        |SELECT prev_type, event_type, COUNT(*) AS n
        |FROM x WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    "q109_locf" ->
      """SELECT event_id, user_id, ts,
        |       LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
        |                  IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS v_filled
        |FROM events""".stripMargin,

    "q110_entropy" ->
      """WITH tc AS (
        |  SELECT doc_id, t, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents)
        |  GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, SUM(c) AS n,
        |         SUM(CAST(ROUND(c * LN(c), 9) AS DECIMAL(18,9))) AS s
        |  FROM tc GROUP BY 1)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |       ROUND(LN(n) - CAST(s AS DOUBLE) / n, 6) AS entropy
        |FROM agg""".stripMargin,

    "q108_corr" ->
      """WITH a AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |                  CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                  CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |                  CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |       ROUND((n * sxy - sx * sy) /
        |             (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
        |         AS qty_price_corr,
        |       n
        |FROM a""".stripMargin,

    "q107_array_hof" ->
      """WITH t AS (
        |  SELECT p_partkey, string_split(p_name, ' ') AS a,
        |         list_filter(string_split(p_name, ' '),
        |                     x -> length(x) > 4) AS b
        |  FROM part)
        |SELECT p_partkey,
        |       COALESCE(array_to_string(list_sort(list_intersect(a, b)), ','),
        |                '') AS inter,
        |       COALESCE(array_to_string(list_sort(list_distinct(
        |         list_filter(a, x -> NOT list_contains(b, x)))), ','), '')
        |         AS only_short,
        |       CAST(len(list_distinct(list_concat(a, b))) AS INT) AS n_union,
        |       CAST(len(list_filter(a, x -> length(x) > 7)) > 0 AS INT)
        |         AS has_long,
        |       CAST(len(list_filter(a, x -> length(x) <= 1)) = 0 AS INT)
        |         AS all_gt1
        |FROM t""".stripMargin,

    "q104_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
        |nxt AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) *
        |                   CAST('1.10' AS DECIMAL(4,2)), 2) AS DOUBLE)
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice
        |  FROM base WHERE o_orderkey % 53 = 0),
        |j AS (
        |  SELECT COALESCE(b.o_orderkey, n.o_orderkey) AS o_orderkey,
        |         b.o_totalprice AS t_old, n.o_totalprice AS t_new,
        |         b.o_orderkey IS NULL AS no_old,
        |         n.o_orderkey IS NULL AS no_new
        |  FROM base b FULL OUTER JOIN nxt n ON b.o_orderkey = n.o_orderkey),
        |c AS (
        |  SELECT o_orderkey,
        |         CASE WHEN no_old THEN 'added'
        |              WHEN no_new THEN 'removed'
        |              WHEN t_old IS DISTINCT FROM t_new THEN 'changed'
        |              ELSE 'same' END AS change,
        |         t_old AS o_totalprice_old, t_new AS o_totalprice_new
        |  FROM j)
        |SELECT * FROM c WHERE change <> 'same'""".stripMargin,

    "q102_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         CAST(len(string_split(text, ' ')) AS INT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT *, SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |            ROWS UNBOUNDED PRECEDING) - n_tok AS strt
        |  FROM t)
        |SELECT doc_id, lang, n_tok,
        |       CAST(FLOOR(strt / 2048.0) AS BIGINT) AS pack_id,
        |       CAST(strt % 2048 AS INT) AS tok_offset
        |FROM c""".stripMargin,

    "q103_repetition" ->
      """WITH g AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(string_split(text, ' ')) - 1),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i+1] || ' ' ||
        |                string_split(text, ' ')[i+2]) AS grams
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(grams) AS INT) AS n_grams,
        |       ROUND(CASE WHEN len(grams) > 0
        |                  THEN 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
        |                       / len(grams)
        |                  ELSE 0.0 END, 6) AS rep_ratio
        |FROM g""".stripMargin,
  )
}
