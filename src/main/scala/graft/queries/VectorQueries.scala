package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry.{memoUnit, scratch}
import graft.llm.{IvfStore, Similarity}
import graft.sources.Tables
import graft.queries.Fixtures.{t, PlantOffset}

/** Embedding vectors and ANN: exact cosine, LSH, IVF, PQ, the
  * planted-recall gates, quantization, projection and mining, over
  * the shared normalized corpus.
  */
object VectorQueries {
  /** Normalized (vec_id, embedding, _unit) corpus, memoized per JVM. */
  private def unitEmb(s: SparkSession, dir: String): DataFrame =
    memoUnit(s, dir, "base") {
      Similarity.prepareUnit(
        t(s, dir, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", "embedding")
    }

  /** Perturbed copy of every corpus vector (ids offset by
    * [[Fixtures.PlantOffset]]), normalized and memoized — the planted half of
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

  /** The recall gates' oracles: every planted copy, or every
    * perturbed query, finds its source.
    */
  private val allPlantedFoundSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_planted,
      |       CAST(COUNT(*) AS BIGINT) AS n_found FROM embeddings""".stripMargin
  private val allQueriesFoundSql =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
      |       CAST(COUNT(*) AS BIGINT) AS n_found FROM embeddings""".stripMargin

  /** The two memoized corpora as their own bench lines. */
  val UnitEmbeddings = Shared("_shared:unit-embeddings", unitEmb)
  val UnitPerturbed = Shared("_shared:unit-perturbed", unitPerturbed)

  val all: Seq[Query] = Seq(
    // --- Johnson–Lindenstrauss ±1 random projection: 64 → 8 dims via
    //     the md5-sign matrix, exact decimal accumulation (a narrow
    //     codegen'd scan — the pre-shrink before LSH/clustering when
    //     dimensionality is the cost driver) ---
    Query("q207_random_project", (s, dir) =>
      Similarity.randomProject(t(s, dir, "embeddings"), "vec_id",
          "embedding", outDim = 8, inDim = 64, seed = 42)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "y")))
        .select(col("vec_id"), col("j"),
          round(col("y").cast("double"), 6).as("y")),
      // the md5-sign matrix replayed in SQL (top md5 hex digit 0–7 ⇒ +1)
      // and the projection as the exact decimal(18,9) sum the engine's
      // SignedProject expression computes — bit-identical by integer
      // arithmetic, rounded once at the output face. The float column
      // widens to DOUBLE[] BEFORE the decimal cast: DuckDB's direct
      // float→decimal scales in float32 (±2e-9 per element — invisible
      // at the 4-digit rounds of q30/q37, visible in a ±64-term sum at
      // 6 digits), while Spark casts through double
      oracle = Some("""WITH e AS (
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
        |FROM proj""".stripMargin)),

    // --- random projection AS the ANN scale path: LSH top-3 over the
    //     64→32 PROJECTED corpus must still recall every planted
    //     perturbed twin (cos 0.9999 pairs survive the JL shrink) ---
    Query("q209_rp_lsh_recall", (s, dir) => {
      val (all, nPlanted) = plantedEmbeddings(s, dir)
      val proj = Similarity.randomProject(all, "vec_id", "_unit",
          outDim = 32, inDim = 64, seed = 42)
        .select(col("vec_id"), col("proj").cast("array<float>").as("embedding"))
      val hits = Similarity.embedLshTopK(proj, "vec_id", "embedding", k = 3)
        .filter(col("id_a") >= PlantOffset &&
          col("id_b") === col("id_a") - PlantOffset)
      nPlanted.crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    },
      // planted-recall gate over the PROJECTED corpus (q124 scheme):
      // n_found pinned equal to the independently-derived plant count
      oracle = Some(allPlantedFoundSql)),

    // --- incremental index ingest: build the IVF index on the base
    //     corpus, APPEND the perturbed twins without retraining, then
    //     every base query must find its appended twin in the top-3
    //     (self ranks 1 at cos 1.0, the twin at cos ≈ 0.9999) ---
    Query("q213_ann_append", (s, dir) => {
      val emb = unitEmb(s, dir)
      val path = scratch("ivfappend", dir)
      IvfStore.build(emb, "vec_id", "embedding", path)
      IvfStore.append(s, path, unitPerturbed(s, dir),
        "vec_id", "embedding")
      val hits = IvfStore.search(s, path, emb,
          "vec_id", "embedding", k = 3)
        .filter(col("id_b") === col("id_a") + PlantOffset)
      emb.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    },
      // append-then-serve recall gate, same pinned form as q168: every
      // base query finds its APPENDED perturbed twin
      oracle = Some(allQueriesFoundSql)),

    // --- hard-negative mining: top-3 most-similar CROSS-label corpus
    //     vectors per query (exclusion before the top-k), exact
    //     decimal cosine + bounded native top-k ---
    Query("q186_hard_negatives", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 100),
        "vec_id", "embedding", "label", k = 3)
    },
      // q37's exact-cosine oracle with the cross-label join condition:
      // negatives ranked among label-differing pairs only
      oracle = Some("""WITH e AS (
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
        |WHERE rank <= 3""".stripMargin)),

    // --- contrastive triplet mining: nearest same-label positive +
    //     top-3 cross-label hard negatives per query, semi-hard flag ---
    Query("q190_contrastive_triplets", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.contrastiveTriplets(emb, emb.filter(col("vec_id") < 50),
        "vec_id", "embedding", "label", kNeg = 3)
    },
      // triplet replay: one dot CTE, same-label row_number 1 = positive,
      // cross-label row_number <= 3 = negatives, semi-hard comparison
      oracle = Some("""WITH e AS (
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
        |FROM p JOIN n ON p.id_a = n.id_a""".stripMargin)),

    // --- embedding cosine top-k: bounded query set vs full corpus ---
    Query("q37_embed_cosine", (s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.embedCosineTopK(emb, emb.filter(col("vec_id") < 100),
        "vec_id", "embedding", k = 3)
    },
      oracle = Some("""WITH e AS (
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
        |WHERE rank <= 3""".stripMargin)),

    // --- LSH-bucketed ANN over the full corpus (rows-only; recall vs
    //     brute force asserted in SimilaritySpec) ---
    Query("q47_embed_lsh", (s, dir) =>
      Similarity.embedLshTopK(unitEmb(s, dir), "vec_id",
        "embedding", k = 3),
      shared = Seq(UnitEmbeddings)),

    // --- embedding-cosine near-dup pairs, block-bounded exact verify
    //     (the dedup-family face of similarity search; oracle-able) ---
    Query("q56_embed_neardup", (s, dir) =>
      Similarity.embedNearDupPairs(t(s, dir, "embeddings"), "vec_id",
        "embedding", minCos = 0.2, blockCol = Some("label")),
      oracle = Some("""WITH e AS (
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
        |WHERE ROUND(dot / (na.nrm * nb.nrm), 4) >= 0.2""".stripMargin)),

    // --- IVF ANN: coarse-quantizer cells + probed exact verify
    //     (rows-only: KMeans centroids are not SQL-expressible;
    //     recall gate in SimilaritySpec) ---
    Query("q57_embed_ivf", (s, dir) =>
      Similarity.embedIvfTopK(unitEmb(s, dir), "vec_id",
        "embedding", k = 3),
      shared = Seq(UnitEmbeddings)),

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
    Query("q124_lsh_recall", (s, dir) => {
      val (all, nPlanted) = plantedEmbeddings(s, dir)
      val hits = Similarity.embedLshTopK(all, "vec_id", "embedding", k = 3)
        .filter(col("id_a") >= PlantOffset &&
          col("id_b") === col("id_a") - PlantOffset)
      nPlanted.crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    },
      shared = Seq(UnitEmbeddings, UnitPerturbed),
      // planted-recall gates: the oracle independently derives the planted
      // count; n_found is pinned EQUAL to it (sign-LSH banding miss prob
      // at cos 0.9999 is ~2e-9/pair; IVF probes the source's own cell) —
      // any hashing/banding/probe/verify regression flips the row red.
      // SimHash flips a deterministic ~26% of planted pairs past Hamming 3
      // (one appended token shifts every bit-vote), so its gate is the
      // measured-floor flag, not equality.
      oracle = Some(allPlantedFoundSql)),

    Query("q125_ivf_recall", (s, dir) => {
      val (all, nPlanted) = plantedEmbeddings(s, dir)
      val hits = Similarity.embedIvfTopK(all, "vec_id", "embedding", k = 3)
        .filter(col("id_a") >= PlantOffset &&
          col("id_b") === col("id_a") - PlantOffset)
      nPlanted.crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    },
      shared = Seq(UnitEmbeddings, UnitPerturbed),
      oracle = Some(allPlantedFoundSql)),

    // --- cross-table ANN (the SERVING shape): NEW query vectors
    //     (perturbed copies, disjoint id namespace) searched against
    //     the corpus-trained IVF index — every query must rank its
    //     source in the top-3 ---
    Query("q167_ann_search", (s, dir) => {
      val emb = unitEmb(s, dir)
      val hits = Similarity.embedIvfSearch(emb, unitPerturbed(s, dir),
          "vec_id", "vec_id", "embedding", k = 3)
        .filter(col("id_b") === col("id_a") - PlantOffset)
      emb.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    },
      shared = Seq(UnitEmbeddings, UnitPerturbed),
      oracle = Some(allQueriesFoundSql)),

    // --- persisted ANN index (train-once/serve-many): build + save
    //     the IVF index, then search it from DISK with the same
    //     perturbed queries — every query must still rank its source
    //     top-3, proving the parquet round-trip preserves the
    //     quantizer and inverted lists ---
    Query("q168_ann_index", (s, dir) => {
      val emb = unitEmb(s, dir)
      val path = scratch("ivfidx", dir)
      IvfStore.build(emb, "vec_id", "embedding", path)
      val hits = IvfStore.search(s, path, unitPerturbed(s, dir),
          "vec_id", "embedding", k = 3)
        .filter(col("id_b") === col("id_a") - PlantOffset)
      emb.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    },
      shared = Seq(UnitEmbeddings, UnitPerturbed),
      oracle = Some(allQueriesFoundSql)),

    // --- product-quantized index (X147, the memory face BEYOND int8):
    //     build the IVF-PQ index (lists carry m one-byte codes beside
    //     the int8 vectors), search it from disk — ADC candidate
    //     ranking over the codes column, exact int8 rescore of the
    //     top-R — and every perturbed query must STILL rank its source
    //     top-3: recall through the 8-16x-smaller scan path pinned
    //     EQUAL to the int8 index (q168) ---
    Query("q237_pq_recall", (s, dir) => {
      val emb = unitEmb(s, dir)
      val path = scratch("ivfpq", dir)
      IvfStore.build(emb, "vec_id", "embedding", path, IvfStore.Pq())
      val hits = IvfStore.search(s, path, unitPerturbed(s, dir),
          "vec_id", "embedding", k = 3)
        .filter(col("id_b") === col("id_a") - PlantOffset)
      emb.agg(count(lit(1)).as("n_queries"))
        .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    },
      shared = Seq(UnitEmbeddings, UnitPerturbed),
      // the PQ serve path must lose NOTHING on the planted twins: ADC
      // top-R contains every true source, the int8 rescore restores
      // exact ranking
      oracle = Some(allQueriesFoundSql)),

    // --- semantic dedup (SemDeDup shape): near-dup pairs whose
    //     candidate buckets are the LEARNED k-means cells of the IVF
    //     quantizer, exact-cosine verified; planted gate — every
    //     (source, perturbed copy) pair at cos ≈ 0.9999 must surface,
    //     n_found pinned EQUAL (both share their home cell and each
    //     probes its own) ---
    Query("q171_semdedup_recall", (s, dir) => {
      val (all, nPlanted) = plantedEmbeddings(s, dir)
      val hits = Similarity.semDedupPairs(all, "vec_id", "embedding",
          minCos = 0.999)
        .filter(col("id_b") === col("id_a") + PlantOffset)
      nPlanted.crossJoin(broadcast(hits.agg(count(lit(1)).as("n_found"))))
    },
      shared = Seq(UnitEmbeddings, UnitPerturbed),
      oracle = Some(allPlantedFoundSql)),

    // --- native expression through the SQL entry point: array_dot is
    //     injected by GraftExtensions (SparkSessionExtensions), S6 +
    //     custom-Expression surface in one query ---
    Query("q58_sql_dot", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT vec_id, ROUND(array_dot(embedding, embedding), 4) AS self_dot
          |FROM embeddings""".stripMargin)
    },
      oracle = Some("""SELECT vec_id,
        |       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                              CAST(embedding AS DOUBLE[])), 4) AS self_dot
        |FROM embeddings""".stripMargin)),

    // --- int8 embedding quantization (4× ANN memory reduction),
    //     exploded per dimension for value-level oracle comparison ---
    Query("q73_embed_quantize", (s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"), posexplode(col("qvec")))
        .toDF("vec_id", "scale", "pos", "qval"),
      oracle = Some("""WITH q AS (
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
        |FROM e, UNNEST(range(1, len(qvec) + 1)) AS t(i)""".stripMargin)),

    // --- per-label embedding centroids (k-means M-step / class
    //     prototypes); exact decimal coordinate sums ---
    Query("q85_embed_centroid", (s, dir) =>
      Similarity.groupCentroids(t(s, dir, "embeddings"), "label",
        "embedding"),
      oracle = Some("""WITH e AS (
        |  SELECT label,
        |         CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |         CAST(unnest(embedding) AS DECIMAL(18,9)) AS vd
        |  FROM embeddings)
        |SELECT label, pos, COUNT(*) AS n,
        |       ROUND(CAST(SUM(vd) AS DOUBLE) / COUNT(*), 6) AS centroid
        |FROM e GROUP BY 1, 2""".stripMargin)))
}
