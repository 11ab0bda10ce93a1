package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{curationSeed, memoUnit, scratch}
import graft.functions.Det
import graft.llm.{CorpusPipeline, Dedup, LangModel, Packing, Sampling, TextAnalysis}
import graft.ml.{Eval, QualityModel}
import graft.queries.Fixtures.{t, PlantOffset, rmTree}

/** LLM corpus dedup and curation: exact, n-gram, MinHash and SimHash
  * dedup, clusters, decontamination, text-quality signals, sampling
  * and mixing, and the streaming curation store.
  */
object CurationQueries {
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

  /** Verified near-dup pairs over `documents` at threshold 0.5 —
    * memoized for the same reason as the embeddings corpus
    * ([[VectorQueries]]): q45 emits them and q80/q165/q166 all consume
    * them as their upstream input (each still runs its own
    * clustering/canonicalization/split work).
    * The checkpoint is tiny (the pair set), self-healing via
    * [[SparkEntry.memoUnit]]'s id validation.
    */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    memoUnit(s, dir, "neardup05") {
      Dedup.minHashNearDupVerified(t(s, dir, "documents"), "doc_id",
        "text", threshold = 0.5).localCheckpoint()
    }

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

  /** Fixed marker profiles for q50 (first-wins tie order). Profile
    * quality is irrelevant to the operator contract — see
    * [[TextAnalysis.languageId]].
    */
  private[graft] val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "table", "row"),
    "es" -> Seq("query", "value", "vector"),
    "de" -> Seq("customer", "join", "column"),
    "fr" -> Seq("scan", "data", "batch"),
    "zh" -> Seq("small", "sort", "stream"))

  /** The q182 seed store ([[SparkEntry.curationSeed]]) and the
    * verified near-dup pairs as their own bench lines.
    */
  val CurationStore = Shared("_shared:curation-store", (s, dir) =>
    s.read.parquet(s"${curationSeed(s, dir)}/corpus")
      .agg(count(lit(1)).as("n_seeded")))
  val NearDupPairs = Shared("_shared:neardup-pairs", nearDupPairs)

  val all: Seq[Query] = Seq(
    // --- LLM dedup: exact content-hash ---
    Query("q29_exact_dedup", (s, dir) =>
      Dedup.exactDedup(t(s, dir, "documents"), "doc_id", "text"),
      oracle = Some("""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |       COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin)),

    // --- LLM dedup: exact token-3-gram Jaccard pairs ---
    Query("q36_ngram_jaccard", (s, dir) =>
      Dedup.jaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.05),
      oracle = Some("""WITH toks AS (
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
        |WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.05""".stripMargin)),

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
    Query("q45_minhash_neardup", (s, dir) =>
      Dedup.minHashNearDupVerified(t(s, dir, "documents"), "doc_id",
        "text", threshold = 0.5),
      // exhaustive exact-Jaccard pairs at 0.5 — matches the LSH+verify
      // output because the verify stage is exact and banding recall at
      // this threshold is ≥ 1−1e-4 per pair (see Dedup.minHashNearDupVerified)
      oracle = Some("""WITH toks AS (
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
        |WHERE ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5""".stripMargin)),

    // --- LLM dedup: SimHash fingerprints — oracled EXACTLY since the
    //     md5-60 token hash landed (the DuckDB oracle replays the
    //     per-bit votes; q126 remains the behavioral recall companion) ---
    Query("q46_simhash", (s, dir) =>
      Dedup.simHash(t(s, dir, "documents"), "doc_id", "text"),
      // exact SimHash fingerprint replay: the per-token hash is the
      // leading 60 bits of md5 — computable bit-identically in both
      // engines (see Dedup.SimBits) — so the oracle rebuilds every
      // fingerprint from scratch: per-bit ±1 frequency votes over the
      // token multiset, bit j set iff its vote sum is positive
      oracle = Some("""WITH tok AS (
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
        |FROM votes GROUP BY doc_id""".stripMargin)),

    // --- dup clusters: connected components over the verified
    //     near-dup pairs, min-id labels (oracle: recursive CTE) ---
    Query("q80_dup_clusters", (s, dir) =>
      Dedup.dupClusters(t(s, dir, "documents"), "doc_id",
        nearDupPairs(s, dir)),
      shared = Seq(NearDupPairs),
      // reachability closure over the exact near-dup pairs (both
      // directions), min reachable id = cluster label
      oracle = Some(s"""WITH RECURSIVE $dupClusterCte
         |SELECT doc_id, cluster FROM cl""".stripMargin)),

    // --- cluster canonicalization: one representative per near-dup
    //     cluster by (quality desc, doc_id asc) — the keep-one step
    //     after dedup; argmax via map-side max_by, no window ---
    Query("q165_dup_canonical", (s, dir) => {
      val d = t(s, dir, "documents")
      val clusters = Dedup.dupClusters(d, "doc_id", nearDupPairs(s, dir))
      val quality = TextAnalysis.qualityScore(d, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
      Dedup.canonicalize(clusters, quality, "doc_id", "cluster", "quality")
    },
      shared = Seq(NearDupPairs),
      // canonicalization on top of the same recursive-reachability
      // clusters + the q52 quality formula; argmax via window
      oracle = Some(s"""WITH RECURSIVE $dupClusterCte,
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
         |FROM r WHERE rn = 1""".stripMargin)),

    // --- SOFT dedup: per-member weight 1/|cluster| + deterministic
    //     keep draw — the downweighting alternative to q165's
    //     keep-one canonicalization, over the same cluster set ---
    Query("q180_soft_dedup", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.softDedup(Dedup.dupClusters(d, "doc_id", nearDupPairs(s, dir)),
        "doc_id", "cluster")
    },
      shared = Seq(NearDupPairs),
      // soft dedup over the same clusters: weight + md5-draw keep flag
      // replayed exactly (the q65 hash-draw construction)
      oracle = Some(s"""WITH RECURSIVE $dupClusterCte,
         |sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members
         |       FROM cl GROUP BY 1)
         |SELECT cl.doc_id, cl.cluster, sz.n_members,
         |       ROUND(CAST(1.0 AS DOUBLE) / sz.n_members, 6) AS weight,
         |       CAST((CAST(('0x' || substring(
         |                     md5(CAST(cl.doc_id AS VARCHAR) || 'softDedup'),
         |                     1, 8)) AS BIGINT) / 4294967296.0)
         |            < ROUND(CAST(1.0 AS DOUBLE) / sz.n_members, 6)
         |            AS INT) AS kept
         |FROM cl JOIN sz USING (cluster)""".stripMargin)),

    // --- dedup-aware split: train/val/test keyed by the near-dup
    //     CLUSTER id so paraphrases of train docs can never land in
    //     eval; leak_free is verified, not assumed ---
    Query("q166_dedup_split", (s, dir) => {
      val d = t(s, dir, "documents")
      val clusters = Dedup.dupClusters(d, "doc_id", nearDupPairs(s, dir))
      Sampling.dedupAwareSplit(clusters, "doc_id", "cluster")
    },
      shared = Seq(NearDupPairs),
      // dedup-aware split over the same clusters: split is a pure
      // function of the cluster id, leak_free recomputed not assumed
      oracle = Some(s"""WITH RECURSIVE $dupClusterCte,
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
         |FROM ws CROSS JOIN lf GROUP BY split, lf.leak_free""".stripMargin)),

    // --- chunk-level exact dedup: remove every occurrence of any
    //     6-token chunk shared by >1 documents, reassemble the rest —
    //     sub-document boilerplate removal (the suffix-array-dedup
    //     stand-in); oracle replays tokenize→chunk→count→anti→
    //     reassemble verbatim ---
    Query("q170_chunk_dedup", (s, dir) =>
      Dedup.chunkDedup(t(s, dir, "documents"), "doc_id", "text"),
      // replays chunk dedup verbatim: same tokenize (single-space
      // split), same 6-token non-overlapping chunks (list slice clamps
      // like Spark's `slice`), same >1-distinct-docs removal rule, same
      // in-order reassembly; docs losing every chunk keep a '' row
      oracle = Some("""WITH tok AS (
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
        |FROM tot t LEFT JOIN rea r USING (doc_id)""".stripMargin)),

    // --- benchmark decontamination (the REMOVAL face of q68's
    //     measurement): strip every 6-token chunk appearing verbatim
    //     in the benchmark slice from the training docs; bench chunk
    //     set broadcast by contract ---
    Query("q172_decontaminate", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.decontaminate(d.filter(col("doc_id") >= 20), "doc_id", "text",
        d.filter(col("doc_id") < 20), "doc_id", "text")
    },
      // same chunk replay; membership set = the benchmark slice's
      // 6-token SLIDING windows (every offset) ∪ its aligned chunk
      // stream (sub-6-token tails / short docs) — alignment-free, so a
      // bench passage at any offset in a training doc still matches
      oracle = Some("""WITH tok AS (
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
        |FROM tot t LEFT JOIN rea r USING (doc_id)""".stripMargin)),

    // --- CCNet-shape reference-perplexity filter: add-one-smoothed
    //     bigram LM trained on the src0 slice, every doc scored
    //     against it, per-language head/middle/tail perplexity
    //     tertiles via a value-histogram cutoff (no global rank) ---
    Query("q175_ref_perplexity", (s, dir) =>
      LangModel.refPerplexityBuckets(t(s, dir, "documents"), "doc_id",
        "text", "lang", col("source") === "src0"),
      // add-one-smoothed bigram LM on the src0 slice; cutoffs replayed
      // off the same (lang, ppl) value histogram the Spark plan uses
      oracle = Some("""WITH bg AS (
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
        |FROM d JOIN cuts USING (lang)""".stripMargin)),

    // --- exact-substring duplicate spans (suffix-array-dedup
    //     reporting shape): 5-token windows duplicated anywhere in
    //     the corpus, merged per doc into maximal spans; per-doc
    //     duplicated-token coverage ---
    Query("q176_substr_spans", (s, dir) =>
      Dedup.substrDupSpans(t(s, dir, "documents"), "doc_id", "text"),
      // 5-token sliding windows, duplicate grams, per-doc
      // gaps-and-islands span merge — replayed verbatim
      oracle = Some("""WITH toks AS (
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
        |FROM documents d LEFT JOIN per p USING (doc_id)""".stripMargin)),

    // --- token-budget mixture plan (Dolma/Pile mixing calculator):
    //     per-source availability vs target mixture under a 4-epoch
    //     repetition cap; budget deliberately exceeds what src0's
    //     weight can supply so the deficit path is exercised ---
    Query("q178_mixture_plan", (s, dir) =>
      Sampling.mixturePlan(t(s, dir, "documents"), "source", "text",
        weights = mixWeights, budget = 50000L, maxEpochs = 4),
      // integer token math via FLOOR over PRE-NORMALIZED weights (see
      // mixWeightsSql — no in-SQL weight-sum division to diverge at a
      // floor boundary); rate is the EXACT double division capped at the
      // epoch limit (a 6-digit round would zero tiny rates at corpus
      // scale); full outer so a weighted source missing from the corpus
      // still reports its deficit row
      oracle = Some(s"""WITH w(source, weight) AS (VALUES $mixWeightsSql),
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
        |FROM q""".stripMargin)),

    // --- realize the mixture plan: floor(rate) copies + md5-Bernoulli
    //     fractional copy per doc; achieved vs planned tokens per
    //     source — budget 5000 keeps rates fractional so the
    //     Bernoulli path is exercised (q178's 50000 saturates the cap) ---
    Query("q181_realize_mixture", (s, dir) =>
      Sampling.realizeMixture(t(s, dir, "documents"), "doc_id", "source",
        "text", weights = mixWeights, budget = 5000L, maxEpochs = 4),
      // q178's plan CTE (budget 5000) + per-doc copy materialization;
      // the fractional copy replays the q65 hash-draw construction;
      // plan-driven output so empty weighted sources keep their row
      oracle = Some(s"""WITH w(source, weight) AS (VALUES $mixWeightsSql),
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
        |FROM pl LEFT JOIN g USING (source)""".stripMargin)),

    // --- streaming curation face, batch twin: seed the persisted
    //     store with one wave (doc_id % 4 != 0 — lang/quality filters,
    //     internal exact + near-dup), then curate the second wave
    //     (doc_id % 4 == 0) AGAINST the store: exact dedup probes the
    //     stored content-hash set, near-dup probes the stored MinHash
    //     signature index (the q141 O(batch) contract), survivors
    //     append. Output = the second micro-batch's funnel. The oracle
    //     replays both waves with exhaustive exact-Jaccard cross/inner
    //     pair sets — the greedy-online store semantics, pinned ---
    Query("q182_stream_curate", (s, dir) => {
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
    },
      shared = Seq(CurationStore),
      // streaming curation batch twin: wave 1 (doc_id % 4 <> 0) builds
      // the store with the full funnel, wave 2 (doc_id % 4 = 0) curates
      // against it — store-vs-batch exact/near-dup drops replayed with
      // exhaustive exact-Jaccard pair sets (same recall argument as
      // q141/q78: banding is complete on this corpus), internal
      // near-dup computed AFTER store collisions are removed (the
      // pinned processBatch order)
      oracle = Some("""WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
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
        |  CAST((SELECT COUNT(*) FROM store) + COUNT(*) AS BIGINT) FROM b5""".stripMargin)),

    // --- exact-substring dedup as a TRANSFORM (Lee et al. 2022): the
    //     corpus-wide first occurrence of each duplicated 5-gram
    //     survives, every other duplicated span is stripped from the
    //     text; reassembly is one codegen'd merge-walk per doc ---
    Query("q208_remove_dup_spans", (s, dir) =>
      Dedup.removeDupSpans(t(s, dir, "documents"), "doc_id", "text"),
      // q176's gram/island chain with the canonical (min doc, min pos)
      // occurrence EXCLUDED from removal, then token-level reassembly
      oracle = Some("""WITH toks AS (
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
        |                 LEFT JOIN clean c USING (doc_id)""".stripMargin)),

    // --- deterministic pretraining order: content-hash shard + in-
    //     shard hash-ordered position — a reproducible, engine-
    //     replayable global permutation of the corpus ---
    Query("q173_pretrain_order", (s, dir) =>
      Sampling.pretrainOrder(t(s, dir, "documents"), "doc_id", nShards = 16)
        .select(col("doc_id"), col("shard"), col("pos")),
      oracle = Some("""WITH s AS (
        |  SELECT doc_id,
        |         CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |              AS BIGINT) % 16 AS INT) AS shard,
        |         md5(CAST(doc_id AS VARCHAR)) AS draw
        |  FROM documents)
        |SELECT doc_id, shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY shard
        |                               ORDER BY draw, doc_id) AS INT) AS pos
        |FROM s""".stripMargin)),

    // --- model-based quality filter (the classifier-filter shape:
    //     label a 20% sample, train logistic regression on the cheap
    //     text features, score the rest): the model must RECOVER the
    //     labeling rule on held-out docs — AUC ≥ 0.9 pinned as a flag;
    //     the rule (heuristic quality ≥ 0.5) is a saturating function
    //     of the features, so a linear model that learned anything
    //     clears 0.9 with wide margin and a broken one cannot ---
    Query("q174_quality_model", (s, dir) => {
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
    },
      // replays shardAssign's 16-bit md5 prefix mod 16, then the
      // in-shard order on (full md5 draw, key) — hex compares agree
      // byte-for-byte (both engines emit lowercase hex)
      // behavioral flag gate (q126 pattern): the count is exact, the
      // flag pins the Spark-side AUC bound
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(1 AS INT) AS auc_ok FROM documents""".stripMargin)),

    // --- DSIR importance weights (Xie et al. 2023): hashed-bigram
    //     bag models on the target slice (lang='en') vs the raw
    //     corpus; per-doc log importance weight — bucket-sized count
    //     tables, broadcast log-ratio join, one doc-keyed sum ---
    Query("q183_dsir_weights", (s, dir) =>
      graft.llm.Selection.dsirLogWeights(t(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en"),
      // DSIR hashed-bigram importance weights: md5-top32 bucket hash,
      // add-one smoothing over 1024 buckets, log-ratio rounded 6,
      // exact decimal per-doc sum rounded 4 — formula replayed verbatim
      oracle = Some("""WITH toks AS (
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
        |GROUP BY 1""".stripMargin)),

    // --- DSIR Gumbel-top-k resample: 100 docs drawn without
    //     replacement ∝ importance weight, via deterministic
    //     content-keyed Gumbel noise + TakeOrderedAndProject ---
    Query("q184_dsir_resample", (s, dir) =>
      graft.llm.Selection.dsirResample(t(s, dir, "documents"),
        "doc_id", "text", col("lang") === "en", k = 100),
      // Gumbel-top-k over the q183 weights: deterministic md5-keyed
      // Gumbel noise (u = (top32 + 0.5)/2^32), skey = log_w + g, top 100
      oracle = Some("""WITH toks AS (
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
        |LIMIT 100""".stripMargin)),

    // --- diversity-preserving downsample: SimHash-bucket quotas
    //     (≤10 docs per 6-bit bucket, content-hash draw order) via
    //     the bounded native top-k aggregation ---
    Query("q185_diversity_sample", (s, dir) =>
      graft.llm.Selection.diversitySample(t(s, dir, "documents"),
        "doc_id", "text", bits = 6, perBucket = 10),
      // SimHash-bucket diversity quota: q46's fingerprint CTE, low-6-bit
      // bucket, md5 draw order, row_number cap at 10
      oracle = Some("""WITH tok AS (
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
        |SELECT bucket, rank, doc_id, draw FROM r WHERE rank <= 10""".stripMargin)),

    // --- token-budget curriculum selection: best-quality docs until
    //     15k tokens, value-histogram cutoff + draw-histogram boundary
    //     refinement (never a global per-row rank) ---
    Query("q187_budget_select", (s, dir) => {
      val d = t(s, dir, "documents")
      val scored = TextAnalysis.qualityScore(d, "doc_id", "text")
        .join(d.select(col("doc_id"),
          size(split(col("text"), " ")).as("n_tokens")), "doc_id")
      graft.llm.Selection.budgetSelect(scored, "doc_id", "quality",
        "n_tokens", budget = 15000L)
    },
      // greedy-by-quality selection to a 15k-token budget: score value
      // histogram -> cumulative -> overflow value s*; boundary bucket
      // refined by a rounded-md5-draw histogram, whole buckets kept
      oracle = Some("""WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
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
        |SELECT b.doc_id, b.score, b.cost FROM boundary b JOIN kept USING (d6)""".stripMargin)),

    // --- one-pass quality signal panel: stats + quality + lang-ID +
    //     repetition in ONE projection over ONE corpus scan (vs 4
    //     scans + 3 joins composing the standalone operators) ---
    Query("q189_signal_panel", (s, dir) =>
      TextAnalysis.signalPanel(t(s, dir, "documents"), "doc_id", "text",
        langProfiles),
      // the q32/q52/q50/q103 formulas fused into one CTE pipeline —
      // value-identical to the standalone oracles by construction
      oracle = Some("""WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
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
        |FROM mx""".stripMargin)),

    // --- no-straddle length-class packing: docs land whole in one
    //     128-token window, per-(lang, length, salt-block) ordinals,
    //     over-long docs flagged -1 for the chunking route ---
    Query("q188_bucket_pack", (s, dir) =>
      Packing.bucketPack(t(s, dir, "documents"), "doc_id", "text",
        "lang", contextLen = 128, saltBlocks = 4),
      // no-straddle packing replay: same md5 block, same per-class
      // ordinal, same div/mod arithmetic
      oracle = Some("""WITH base AS (
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
        |FROM r""".stripMargin)),

    // --- SimHash planted recall: one appended token on a ~100-token
    //     doc shifts every bit-vote by ±1, so bits at margin 0/±1 can
    //     flip; the planted pair lands within Hamming `maxDist` for
    //     most docs but deterministically not all — the gate pins the
    //     exact measured hit count via a >= bound flag rather than
    //     found==planted (see recall_ok; bound set from the measured
    //     floor across sf0.001/0.01/0.1 with margin) ---
    Query("q126_simhash_recall", (s, dir) => {
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
    },
      oracle = Some("""SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
        |       CAST(1 AS INT) AS recall_ok FROM documents""".stripMargin)),

    // --- text analysis: per-document stats ---
    Query("q32_text_stats", (s, dir) =>
      TextAnalysis.textStats(t(s, dir, "documents"), "doc_id", "text"),
      oracle = Some("""WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents)
        |SELECT doc_id,
        |       CAST(LENGTH(text) AS INT) AS n_chars,
        |       CAST(LEN(s) AS INT) AS n_tokens,
        |       CAST(LEN(list_distinct(s)) AS INT) AS n_unique,
        |       ROUND(CAST(list_sum(list_transform(s, t -> LENGTH(t))) AS DOUBLE) / LEN(s), 6) AS avg_token_len,
        |       ROUND(CAST(LEN(list_filter(s, t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE) / LEN(s), 6) AS stop_ratio,
        |       ROUND(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:''"]', '', 'g')) AS DOUBLE) / LENGTH(text), 6) AS punct_ratio,
        |       ROUND(CAST(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / LENGTH(text), 6) AS digit_ratio
        |FROM tk""".stripMargin)),

    // --- text analysis: quality score ---
    Query("q52_quality_score", (s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text"),
      oracle = Some("""WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
        |st AS (SELECT doc_id,
        |              LENGTH(text) AS n_chars, LEN(s) AS n_tokens,
        |              LEN(list_distinct(s)) AS n_unique,
        |              ROUND(CAST(LEN(list_filter(s, t -> t IN ('the','a','and','of','in','to','is'))) AS DOUBLE) / LEN(s), 6) AS stop_ratio
        |       FROM tk)
        |SELECT doc_id,
        |       ROUND((LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
        |              + LEAST(stop_ratio * 5.0, 1.0)
        |              + CAST(n_unique AS DOUBLE) / n_tokens) / 3.0, 6) AS quality
        |FROM st""".stripMargin)),

    // --- text analysis: token counting (regex + subword estimate) ---
    Query("q48_token_count", (s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text"),
      oracle = Some("""SELECT doc_id,
        |       CAST(LEN(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS n_word_tokens,
        |       CAST(CEIL(CAST(LENGTH(text) AS DOUBLE) / 4.0) AS INT) AS n_subword_est
        |FROM documents""".stripMargin)),

    // --- text analysis: normalization fingerprint ---
    Query("q49_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(t(s, dir, "documents"), "doc_id", "text"),
      oracle = Some("""SELECT doc_id,
        |       md5(LOWER(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin)),

    // --- text analysis: marker-profile language ID ---
    Query("q50_lang_id", (s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text",
        langProfiles),
      oracle = Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
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
        |FROM mx""".stripMargin)),

    // --- end-to-end corpus curation funnel: lang filter → quality →
    //     exact dedup → near-dup (LSH+verify) → hash sample, one
    //     (stage, n) row per stage — the composed LLM pipeline ---
    Query("q78_corpus_funnel", (s, dir) =>
      CorpusPipeline.funnel(t(s, dir, "documents"), "doc_id", "text",
        langProfiles),
      // the composed funnel: each CTE replays the matching operator's
      // oracle (q50 lang, q52 quality, q29 exact dedup, q45 near-dup,
      // q65 hash sample) over the previous stage's survivors
      oracle = Some("""WITH tk AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
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
        |UNION ALL SELECT 'sample', COUNT(*) FROM s6""".stripMargin)),

    // --- text analysis: TF-IDF top-3 terms per document ---
    Query("q75_tfidf", (s, dir) =>
      TextAnalysis.tfIdfTopK(t(s, dir, "documents"), "doc_id", "text",
        k = 3),
      oracle = Some("""WITH tok AS (
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
        |FROM ranked WHERE rank <= 3""".stripMargin)),

    // --- deterministic hash sampling: reproducible Bernoulli on the
    //     key (rand(seed) is partitioning-dependent; md5 is not) ---
    Query("q65_hash_sample", (s, dir) =>
      Sampling.hashSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("source"), col("n_chars")),
        "doc_id", 0.2),
      oracle = Some("""SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |           AS BIGINT) / 4294967296.0 < 0.2""".stripMargin)),

    // --- per-group deterministic k-sample (hash-order window) ---
    Query("q66_group_sample", (s, dir) =>
      Sampling.groupSample(
        t(s, dir, "customer").select(col("c_nationkey"), col("c_custkey"),
          col("c_name")),
        "c_nationkey", "c_custkey", 3),
      oracle = Some("""SELECT c_nationkey, c_custkey, c_name FROM (
        |  SELECT c_nationkey, c_custkey, c_name,
        |         ROW_NUMBER() OVER (PARTITION BY c_nationkey
        |           ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn
        |  FROM customer) t
        |WHERE rn <= 3""".stripMargin)),

    // --- weighted corpus mixing: per-language keep-fractions (the
    //     rebalance-sources step of a corpus build) ---
    Query("q67_mix_strata", (s, dir) =>
      Sampling.mixStrata(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("source")),
        "lang", "doc_id",
        Map("en" -> 1.0, "de" -> 0.5, "fr" -> 0.5, "es" -> 0.5,
          "zh" -> 0.25)),
      oracle = Some("""SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substring(
        |        md5(CAST(doc_id AS VARCHAR) || ':' || lang), 1, 8))
        |        AS BIGINT) / 4294967296.0
        |      < CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5
        |                  WHEN 'fr' THEN 0.5 WHEN 'es' THEN 0.5
        |                  WHEN 'zh' THEN 0.25 ELSE 0.0 END""".stripMargin)),

    // --- deterministic upsampling: zh stratum at weight 2.5 (2 copies
    //     + a hash-drawn 3rd; the >1.0 half of corpus rebalancing) ---
    Query("q72_upsample", (s, dir) =>
      Sampling.upsample(
        t(s, dir, "documents").filter(col("lang") === "zh")
          .select(col("doc_id"), col("source")),
        "doc_id", 2.5),
      oracle = Some("""WITH z AS (SELECT doc_id, source FROM documents WHERE lang = 'zh'),
        |c AS (SELECT doc_id, source,
        |        2 + CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |                      AS BIGINT) / 4294967296.0 < 0.5
        |                 THEN 1 ELSE 0 END AS n
        |      FROM z)
        |SELECT doc_id, source, CAST(i AS INT) AS copy
        |FROM c, UNNEST(range(n)) AS t(i)""".stripMargin)),

    // --- benchmark-contamination check: shingle overlap of the corpus
    //     (doc_id >= 20) against a small "eval set" (doc_id < 20) ---
    Query("q68_contamination", (s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.contamination(d.filter(col("doc_id") >= 20), "doc_id", "text",
        d.filter(col("doc_id") < 20), "doc_id", "text")
    },
      oracle = Some("""WITH toks AS (
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
        |GROUP BY d.doc_id""".stripMargin)),

    // --- PII redaction over text augmented with deterministic planted
    //     emails/phones (the corpus has none naturally — planting makes
    //     the redaction observable and still oracle-replayable) ---
    Query("q69_pii_redact", (s, dir) =>
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
        "doc_id", "text"),
      oracle = Some("""WITH aug AS (
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
        |FROM aug""".stripMargin)),

    // --- corpus-level top-k bigrams (boilerplate/template detector) ---
    Query("q86_bigram_topk", (s, dir) =>
      TextAnalysis.topBigrams(t(s, dir, "documents"), "text", k = 50),
      oracle = Some("""WITH b AS (
        |  SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
        |           i -> string_split(text, ' ')[i] || ' ' ||
        |                string_split(text, ' ')[i+1])) AS bigram
        |  FROM documents),
        |c AS (SELECT bigram, COUNT(*) AS n FROM b GROUP BY 1)
        |SELECT bigram, n FROM c ORDER BY n DESC, bigram LIMIT 50""".stripMargin)),

    // --- blocked edit-distance near-dup pairs (fuzzy string dedup:
    //     block-key join + length band, exact Levenshtein verify).
    //     The composite (brand, size) block is the fan-out knob: at
    //     sf0.1 it holds candidates to ~140k pairs where brand alone
    //     would make ~8M ---
    Query("q89_edit_distance", (s, dir) =>
      Dedup.editDistancePairs(
        t(s, dir, "part").select(col("p_partkey"), col("p_name"),
          concat_ws("|", col("p_brand"), col("p_size")).as("blk")),
        "p_partkey", "p_name", "blk", maxDist = 2),
      oracle = Some("""SELECT a.p_brand || '|' || a.p_size AS block,
        |       a.p_partkey AS id_a, b.p_partkey AS id_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin)),

    // --- weighted no-replacement sample: 20 docs per lang, weight =
    //     doc length (Efraimidis–Spirakis rank on the content-hash
    //     draw — deterministic, engine-replayable) ---
    Query("q113_weighted_sample", (s, dir) =>
      Sampling.weightedGroupSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("n_chars")),
        "lang", "doc_id", "n_chars", k = 20),
      oracle = Some("""WITH d AS (
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
        |SELECT doc_id, lang, n_chars FROM r WHERE rn <= 20""".stripMargin)),

    // --- token-distribution entropy (gibberish / keyword-stuffing
    //     detector; engine-stable decimal term sums) ---
    Query("q110_entropy", (s, dir) =>
      TextAnalysis.tokenEntropy(t(s, dir, "documents"), "doc_id", "text"),
      oracle = Some("""WITH tc AS (
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
        |FROM agg""".stripMargin)),

    // --- sequence packing: per-lang contiguous token-stream packing
    //     into 2048-token context windows — each doc's pack id and
    //     in-pack offset (the curated-corpus → pretraining-batch step) ---
    Query("q102_seq_packing", (s, dir) =>
      Packing.contiguousPack(t(s, dir, "documents"), "doc_id", "text",
        "lang", contextLen = 2048),
      oracle = Some("""WITH t AS (
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
        |FROM c""".stripMargin)),

    // --- repeated-3-gram ratio: the repetition quality signal
    //     (degenerate text scores high, clean prose near zero) ---
    Query("q103_repetition", (s, dir) =>
      TextAnalysis.repetitionRatio(t(s, dir, "documents"), "doc_id",
        "text", n = 3),
      oracle = Some("""WITH g AS (
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
        |FROM g""".stripMargin)),

    // --- incremental ingest dedup: the NEW batch (doc_id % 4 == 0)
    //     probes the STORED corpus's persisted MinHash signature
    //     index; text is fetched only for band collisions. Oracle:
    //     the exhaustive cross-set exact-Jaccard pairs — the index
    //     path must find exactly what a full-corpus rescan would ---
    Query("q141_incremental_dedup", (s, dir) => {
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
    },
      // incremental dedup: exhaustive cross-set exact-Jaccard pairs —
      // same shingle construction as q45, restricted to new×stored
      oracle = Some("""WITH toks AS (
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
        |      >= 0.5""".stripMargin)),

    // --- bigram-LM cross-entropy scoring: the corpus's own bigram
    //     model scores each document's average transition surprisal —
    //     the classic cheap perplexity filter for training data.
    //     Count tables grow with the vocabulary, not the corpus ---
    Query("q143_bigram_lm", (s, dir) =>
      LangModel.bigramNll(t(s, dir, "documents"), "doc_id", "text"),
      // bigram LM: same space tokenization as q86; nll per transition
      // rounded then summed exactly in decimal (Det discipline)
      oracle = Some("""WITH bg AS (
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
        |FROM d""".stripMargin)),

    // --- top-500 vocabulary + per-language OOV coverage: the
    //     fixed-vocab tokenizer-fit signal. Vocabulary via
    //     TakeOrderedAndProject, membership via broadcast join — the
    //     token stream never shuffles for the lookup ---
    Query("q144_vocab_coverage", (s, dir) =>
      LangModel.oovStats(t(s, dir, "documents"), "doc_id", "text",
        "lang", k = 500),
      // vocab/OOV: top-500 cut is (n DESC, term) deterministic; the
      // per-doc rate rounds before the exact decimal mean
      oracle = Some("""WITH tok AS (
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
        |FROM r GROUP BY 1""".stripMargin)),

    // --- deterministic shard assignment audit: content-hash shard i
    //     of 16 per document (stable across runs/engines/corpus
    //     versions), then per-shard balance stats — the pre-write
    //     check before partitionBy("shard") fan-out ---
    Query("q145_shard_assign", (s, dir) =>
      Sampling.shardAssign(t(s, dir, "documents"), "doc_id", nShards = 16)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs")),
      oracle = Some("""WITH s AS (
        |  SELECT CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
        |              AS BIGINT) % 16 AS INT) AS shard,
        |         lang, n_chars
        |  FROM documents)
        |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
        |FROM s GROUP BY 1""".stripMargin)),

    // --- PMI collocation mining over the corpus bigram tables (the
    //     multi-word-expression detector that feeds tokenizer vocab
    //     decisions) ---
    Query("q147_pmi", (s, dir) =>
      LangModel.pmiCollocations(t(s, dir, "documents"), "doc_id", "text",
        k = 50, minCount = 5),
      // PMI: same bigram stream as q143; fixed scalar op order inside
      // the LN
      oracle = Some("""WITH bg AS (
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
        |ORDER BY pmi DESC, bigram LIMIT 50""".stripMargin)),

    // --- chi-squared label-discriminative terms: exact integer 2×2
    //     contingency per (term, lang) off one distinct (term, doc)
    //     stream; label totals broadcast ---
    Query("q148_chi2_terms", (s, dir) =>
      LangModel.chi2Terms(t(s, dir, "documents"), "doc_id", "text",
        "lang", k = 50, minDocs = 5),
      // chi2: exact integer contingency; the only float is the final
      // closed form, mirrored term by term
      oracle = Some("""WITH td AS (
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
        |FROM x ORDER BY chi2 DESC, term, label LIMIT 50""".stripMargin)),

    // --- temperature (α = 0.5) source re-weighting to half the
    //     corpus: per-source √n rates (decimal-exact normalizer),
    //     content-hash membership, rates broadcast — the corpus never
    //     shuffles ---
    Query("q158_temperature_mix", (s, dir) =>
      Sampling.temperatureMixHalf(t(s, dir, "documents"), "source",
          "doc_id", targetFraction = 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          round(min(col("rate")), 6).as("rate")),
      // temperature mix: rate = min(1, T·p_s/n_s), p_s ∝ round(√n, 6)
      // with a decimal-exact normalizer; membership replays the md5 draw
      oracle = Some("""WITH c AS (
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
        |FROM k GROUP BY 1""".stripMargin)))
}
