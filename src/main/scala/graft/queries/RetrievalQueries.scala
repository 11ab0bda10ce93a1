package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.scratch
import graft.llm.Similarity
import graft.operators.{TopK, TopKAgg}
import graft.queries.Fixtures.{t, rmTree}

/** Lexical retrieval: the inverted index, BM25 on the integer grid,
  * hybrid RRF, pseudo-relevance feedback, and the persisted and
  * streamed lexical index.
  */
object RetrievalQueries {
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
  private[graft] def retrievalDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"),
      expr("array_join(transform(split(text, ' '), (t, j) -> " +
        "IF(j % 2 = 1, concat(t, '_', CAST(doc_id % 25 AS STRING)), t)), ' ')")
        .as("text"))

  /** The append batch of the q246/q247 index: the %100=7 docs
    * re-ingested with one fresh term, and the %100=31 docs again
    * under new ids (+10000) — the waves [[lexIndexOracleSql]] replays.
    */
  private[graft] def lexWaves(docs: DataFrame): (DataFrame, DataFrame) = {
    val upd = docs.filter(pmod(col("doc_id"), lit(100)) === 7)
      .select(col("doc_id"), concat(col("text"), lit(" fresh_"),
        pmod(col("doc_id"), lit(25)).cast("string")).as("text"))
    val nw = docs.filter(pmod(col("doc_id"), lit(100)) === 31)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    (upd, nw)
  }

  private val duckRetrievalText: String =
    "array_to_string(list_transform(string_split(text, ' '), " +
      "(t, i) -> CASE WHEN (i - 1) % 2 = 1 " +
      "THEN t || '_' || CAST(doc_id % 25 AS VARCHAR) ELSE t END), ' ')"

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

  /** The q240/q241 BM25 query-scoring replay up to the per-(query,
    * doc) integer score sum `sums(query_id, doc_id, score_micro)` —
    * the q137 expression with the df ceiling and the 1e-4
    * integerization mirrored from [[graft.llm.Retrieval.bm25TopK]],
    * over the [[retrievalDocs]] fixture.
    */
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

  val all: Seq[Query] = Seq(
    // --- query-likelihood BM25 retrieval (X149): each query doc's
    //     distinct terms score the corpus through the q137 formula,
    //     integerized per-term at 1e-4 BEFORE the cross-term sum
    //     (order-free integer aggregation); the df ceiling drops
    //     >10%-corpus stopword terms so posting fan-out stays
    //     bounded; per-query cut = the native bounded top-k agg ---
    Query("q240_bm25_query", (s, dir) => {
      val docs = retrievalDocs(s, dir)
      graft.llm.Retrieval.bm25TopK(docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
        "text", k = 10)
    },
      // query-likelihood BM25: the q137 scoring expression per (query
      // term, doc), integerized at 1e-4 before the cross-term sum; the
      // df*10 <= n_docs stopword ceiling mirrored; rank on
      // (score desc, doc_id)
      oracle = Some(s"""WITH $bm25QueryCtes
         |SELECT query_id, rank, doc_id, score_micro FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |            ORDER BY score_micro DESC, doc_id) AS INT) AS rank
         |  FROM sums) WHERE rank <= 10""".stripMargin)),

    // --- hybrid retrieval via reciprocal-rank fusion (X149, RRF
    //     k0 = 60): the q240 lexical run fused with the exact dense
    //     cosine run on pure-integer 10^12 DIV (k0+rank)
    //     contributions — ranks, not scores, cross the retriever
    //     boundary ---
    Query("q241_hybrid_rrf", (s, dir) => {
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
    },
      // RRF fusion of the q240 lexical ranks with the q37-shape exact
      // decimal cosine ranks: integer 10^12 // (60+rank) contributions,
      // order-free integer sum, (rrf desc, doc_id) rank
      oracle = Some(s"""WITH $bm25QueryCtes,
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
         |  FROM fus) WHERE rank <= 10""".stripMargin)),

    // --- pseudo-relevance-feedback expansion terms (X151, Rocchio):
    //     each query's top-5 BM25 docs taken as relevant, their terms
    //     weighted by exact-integer Σ tf·idf_micro, original terms
    //     and ceiling stopwords excluded, top-10 kept per query ---
    Query("q244_prf_terms", (s, dir) => {
      val docs = retrievalDocs(s, dir)
      graft.llm.Retrieval.prfExpandTerms(docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
        "text", kFeedback = 5, mExpand = 10)
    },
      // PRF expansion terms: top-5 feedback docs, integer tf·idf_micro
      // weights, NOT EXISTS original-term exclusion, df ceiling, top-10
      oracle = Some(s"""WITH $bm25QueryCtes,
         |$prfCtes
         |SELECT query_id, trank, term, w_micro FROM exps""".stripMargin)),

    // --- PRF-expanded reranking (X151): original BM25 interpolated
    //     60/40 with a second pass over the expansion terms — a doc
    //     matching ONLY expansion vocabulary becomes retrievable (the
    //     vocabulary-gap case PRF exists for); pure integer percent
    //     arithmetic end to end ---
    Query("q245_prf_rerank", (s, dir) => {
      val docs = retrievalDocs(s, dir)
      graft.llm.Retrieval.prfRerank(docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
        "text", kFeedback = 5, mExpand = 10, origPct = 60, k = 10)
    },
      // PRF rerank: 60/40 integer interpolation of the original and
      // expansion scoring passes over the full-outer candidate union
      oracle = Some(s"""WITH $bm25QueryCtes,
         |$prfCtes
         |SELECT query_id, rank, doc_id, final_micro FROM (
         |  SELECT query_id, doc_id, final_micro,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY final_micro DESC, doc_id) AS INT) AS rank
         |  FROM comb) WHERE rank <= 10""".stripMargin)),

    // --- persisted lexical index (X152, the train-once/serve-many
    //     BM25 face — the lexical twin of q168's IVF index): build on
    //     the full corpus, APPEND one batch that re-ingests the
    //     %100=7 docs with new text AND adds brand-new +10000 docs,
    //     then serve — latest-wins resolution must retrieve the new
    //     text, the new docs, and NOT the replaced versions ---
    Query("q246_lex_index", (s, dir) => {
      val docs = retrievalDocs(s, dir)
      val path = scratch("lexidx", dir)
      graft.llm.Retrieval.buildLexIndex(docs, "doc_id", "text", path)
      val (upd, nw) = lexWaves(docs)
      graft.llm.Retrieval.appendToLexIndex(s, path,
        upd.unionByName(nw), "doc_id", "text")
      graft.llm.Retrieval.searchLexIndex(s, path,
        docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
        "text", k = 10)
    },
      // the persisted-index serve replay: the SAME scoring chain over
      // the index's latest-wins LOGICAL corpus (base minus re-ingested
      // versions, plus updated text, plus the appended new docs) —
      // equality proves build→append→resolve→serve end to end
      oracle = Some(lexIndexOracleSql)),

    // --- STREAMING index ingest (X153, the micro-batch face of
    //     X152): the same update+new waves land as files, each
    //     micro-batch appends as the next index version via
    //     foreachBatch, and the serve result must equal BOTH the
    //     batch-append path (q246) and the direct SQL computation —
    //     the three entry points share one oracle ---
    Query("q247_lex_stream_ingest", (s, dir) => {
      val docs = retrievalDocs(s, dir)
      val path = scratch("lexstream", dir)
      rmTree(new java.io.File(path))
      graft.llm.Retrieval.buildLexIndex(docs, "doc_id", "text",
        s"$path/index")
      val (upd, nw) = lexWaves(docs)
      upd.coalesce(1).write.mode("append").parquet(s"$path/waves")
      nw.coalesce(1).write.mode("append").parquet(s"$path/waves")
      graft.streaming.LexIndexStream.ingest(s, s"$path/waves",
        upd.schema, "doc_id", "text", s"$path/index", s"$path/ckpt")
      graft.llm.Retrieval.searchLexIndex(s, s"$path/index",
        docs.filter(pmod(col("doc_id"), lit(50)) === 7), "doc_id",
        "text", k = 10)
    },
      // the STREAMING ingest entry point lands in the identical index
      // state (disjoint waves, latest-wins), so it shares q246's oracle
      // verbatim — three entry points (batch append, micro-batch
      // stream, direct SQL) pinned to one answer
      oracle = Some(lexIndexOracleSql)),

    // --- inverted index build: per term, document frequency and the
    //     top-5 posting list by term frequency (tf desc, doc_id) —
    //     the search-index materialization; per-term window with
    //     rank-limit pushdown (WindowGroupLimit), postings folded to a
    //     string for a stable cross-engine representation ---
    Query("q123_inverted_index", (s, dir) => {
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
    },
      oracle = Some("""WITH tf AS (
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
        |FROM r WHERE rn <= 5 GROUP BY 1""".stripMargin)),

    // --- BM25 ranking over the q123 inverted-index family: idf ×
    //     saturated-tf with length normalization (k1 = 1.2, b = 0.75).
    //     All shuffles key on term or doc_id; the corpus-level stats
    //     ride a broadcast 1-row cross-join. avgdl divides an EXACT
    //     integer token sum (a distributed double Σ would be
    //     order-dependent in its last bits); ties rank on the ROUNDED
    //     score + doc_id so the top-3 cut is engine-independent ---
    Query("q137_bm25", (s, dir) => {
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
    },
      // BM25: same tokenization as q123; identical parenthesization of
      // the double formula on both engines; rank cut on rounded score
      oracle = Some("""WITH dl AS (
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
        |SELECT term, doc_id, score FROM r WHERE rn <= 3""".stripMargin)))
}
