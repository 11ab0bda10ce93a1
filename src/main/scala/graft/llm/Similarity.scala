package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search: item-item cosine over sparse rating vectors
  * (SURVEY M9) and nearest-neighbor search over dense embedding
  * columns (brute-force baseline + LSH-bucketed scale path).
  *
  * The reference materializes a dense user×item pivot and runs sklearn
  * cosine on the driver (`similarity_matrix.py:38-48`) — O(|users|²)
  * memory on one machine. Here the sparse path is a self-join on the
  * shared key (only co-rated pairs are ever produced) and the dense
  * path either restricts to a bounded query set (brute force) or
  * bucket-joins via random-projection LSH.
  */
object Similarity {

  private val D9 = DecimalType(18, 9)

  /** M9: item-item cosine from (user, item, rating) triples — the
    * scale-safe sparse rewrite (SURVEY §4 item 3): numerator =
    * Σ r_a·r_b over the user self-join (only users rating both),
    * denominators = per-item L2 norms. Integer products accumulate
    * exactly → bit-deterministic, oracle-able. `minOverlap` prunes
    * noise pairs and bounds the pair fan-out.
    *
    * Skew note: a power-user with n ratings contributes n² pairs; cap
    * with a per-user rating limit upstream or rely on AQE skew
    * handling — both preserve top-k semantics for items that matter.
    */
  def itemCosineTopK(ratings: DataFrame, userCol: String, itemCol: String,
                     ratingCol: String, k: Int,
                     minOverlap: Long = 1L,
                     maxPerUser: Option[Int] = None): DataFrame = {
    val base = ratings.select(col(userCol).as("_u"), col(itemCol).as("_i"),
      col(ratingCol).cast("long").as("_r"))
    // DIMSUM-style skew bound: a user with n ratings contributes n²
    // pairs, so cap each user's contribution to their top-m ratings
    // (deterministic order). At 100 TB this is the difference between
    // a bounded pair fan-out and a quadratic blow-up on power users;
    // cosine is then defined over the capped vectors in BOTH engines.
    val r = maxPerUser match {
      case Some(m) => base
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("_u")).orderBy(col("_r").desc, col("_i"))))
        .filter(col("_rn") <= m).drop("_rn")
      case None => base
    }
    val norms = r.groupBy(col("_i"))
      .agg(sqrt(sum(col("_r") * col("_r")).cast("double")).as("_norm"))
    val a = r.toDF("_u", "item_a", "_ra")
    val b = r.toDF("_u", "item_b", "_rb")
    // symmetric-pair halving (round-14, the q156/copurchase shape):
    // dot/overlap/cos are symmetric in (item_a, item_b), so only the
    // canonical orientation flows through the pair exchange, the
    // aggregation hash and the norm joins; the mirror is re-derived
    // AFTER the overlap filter by a projection union. cos is
    // bit-identical both ways (double multiply commutes exactly).
    val pairs = a.join(b, Seq("_u"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(sum(col("_ra") * col("_rb")).cast("double").as("_dot"),
        count(lit(1)).as("_overlap"))
      .filter(col("_overlap") >= minOverlap)
    val cosHalf = pairs
      .join(norms.toDF("item_a", "_na"), Seq("item_a"))
      .join(norms.toDF("item_b", "_nb"), Seq("item_b"))
      .withColumn("cos", round(col("_dot") / (col("_na") * col("_nb")), 6))
      .select(col("item_a"), col("item_b"), col("cos"))
    val cos = cosHalf.unionByName(cosHalf.select(
      col("item_b").as("item_a"), col("item_a").as("item_b"), col("cos")))
    cos.withColumn("rank", row_number().over(
        Window.partitionBy(col("item_a"))
          .orderBy(col("cos").desc, col("item_b"))))
      .filter(col("rank") <= k)
      .select(col("item_a"), col("item_b"), col("cos"), col("rank"))
  }

  /** Exact decimal dot product of two decimal(18,9) vector columns —
    * the native 128-bit-accumulator expression
    * ([[graft.functions.ArrayDecimalDotProduct]]): bit-exact,
    * partitioning-independent, equal to the SQL oracle's
    * `SUM(a.vd*b.vd)`, and codegen'd (the earlier higher-order-function
    * fold was interpreted per element).
    */
  private def decDot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.decimalDot(a, b)

  private def decVec(c: Column): Column =
    transform(c, (x: Column) => x.cast(D9))

  /** Brute-force cosine top-k of a bounded QUERY set against the full
    * corpus — the exact baseline ANN answers are judged against.
    * The query side is broadcast and each (query, corpus-row) pair
    * computes its dot product in ONE row via higher-order array
    * functions — no per-dimension explode, no shuffle of the corpus,
    * no wide-row skew (the round-1 shape joined on the dimension
    * index, funnelling the whole corpus through |dims| join keys).
    * Decimal(18,9) casts keep the accumulation exact → deterministic
    * and SQL-oracle-able. Cost is O(|queries|·|corpus|·dims): bound
    * the query side (it is a parameter, not the corpus); for
    * corpus×corpus use [[embedLshTopK]].
    */
  def embedCosineTopK(embeddings: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int): DataFrame = {
    def prep(df: DataFrame, id: String) = df
      .select(col(idCol).as(id), decVec(col(vecCol)).as(s"_v$id"))
      .withColumn(s"_n$id",
        sqrt(decDot(col(s"_v$id"), col(s"_v$id")).cast("double")))
    val corpus = prep(embeddings, "id_b")
    val qs = prep(queries, "id_a")
    val cos = corpus
      .join(broadcast(qs), col("id_a") =!= col("id_b"))
      .withColumn("cos", round(
        decDot(col("_vid_a"), col("_vid_b")).cast("double") /
          (col("_nid_a") * col("_nid_b")), 4))
    cos.withColumn("rank", row_number().over(
        Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), col("cos"), col("rank"))
  }

  /** Hard-negative mining for contrastive embedding training (the
    * DPR/Contriever data-prep shape): for each query vector, the k
    * most similar corpus vectors with a DIFFERENT label — the
    * near-miss candidates that make the best training negatives.
    * Exclusion happens BEFORE the top-k (filtering positives after a
    * truncated ANN result under-fills and biases the negative set).
    *
    * Same exact-decimal arithmetic as [[embedCosineTopK]] (SQL-oracle-
    * able), but the per-query selection is the native bounded top-k
    * aggregation rather than a window sort: ≤ k pairs per mapper·query
    * before any exchange. Cost is O(|queries|·|corpus|·dims) — bound
    * the query batch; the unbounded-corpus path is
    * [[IvfStore.search]] candidates + the same label anti-filter +
    * exact re-rank.
    *
    * `idCol` must be integral (the bounded top-k buffer carries ids as
    * longs; [[graft.operators.TopKAgg.perGroup]] fails fast otherwise).
    */
  def hardNegatives(embeddings: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, labelCol: String,
                    k: Int): DataFrame = {
    def prep(df: DataFrame, id: String) = df
      .select(col(idCol).as(id), col(labelCol).as(s"_l$id"),
        decVec(col(vecCol)).as(s"_v$id"))
      .withColumn(s"_n$id",
        sqrt(decDot(col(s"_v$id"), col(s"_v$id")).cast("double")))
    val corpus = prep(embeddings, "id_b")
    val qs = prep(queries, "id_a")
    val cos = corpus
      .join(broadcast(qs), col("_lid_a") =!= col("_lid_b"))
      .withColumn("cos", round(
        decDot(col("_vid_a"), col("_vid_b")).cast("double") /
          (col("_nid_a") * col("_nid_b")), 4))
      .select(col("id_a"), col("id_b"), col("cos"))
    graft.operators.TopKAgg.perGroup(cos, "id_a", "cos", "id_b", k)
      .select(col("id_a"), col("id_b"), col("cos"), col("rank"))
  }

  /** Contrastive TRIPLET mining (the FaceNet/DPR training-pairs
    * shape): for each query vector, its nearest SAME-label neighbor
    * (the positive) paired with the `kNeg` most-similar CROSS-label
    * vectors (the hard negatives, [[hardNegatives]] semantics), plus
    * the classic semi-hard flag `neg_cos < pos_cos` — the triplets a
    * margin-loss trainer consumes directly.
    *
    * Queries whose label has no second member have no positive and
    * emit nothing (a triplet needs all three corners). One scored
    * (query × corpus) stream feeds BOTH bounded top-k aggregations;
    * exact decimal cosine keeps it SQL-oracle-able. Output:
    * `(id_a, pos_id, pos_cos, neg_rank, neg_id, neg_cos, semi_hard)`.
    *
    * `idCol` must be integral (the bounded top-k buffer carries ids as
    * longs; [[graft.operators.TopKAgg.perGroup]] fails fast otherwise).
    */
  def contrastiveTriplets(embeddings: DataFrame, queries: DataFrame,
                          idCol: String, vecCol: String, labelCol: String,
                          kNeg: Int): DataFrame = {
    def prep(df: DataFrame, id: String) = df
      .select(col(idCol).as(id), col(labelCol).as(s"_l$id"),
        decVec(col(vecCol)).as(s"_v$id"))
      .withColumn(s"_n$id",
        sqrt(decDot(col(s"_v$id"), col(s"_v$id")).cast("double")))
    val cos = prep(embeddings, "id_b")
      .join(broadcast(prep(queries, "id_a")), col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("_lid_a") === col("_lid_b")).as("_same"),
        round(decDot(col("_vid_a"), col("_vid_b")).cast("double") /
          (col("_nid_a") * col("_nid_b")), 4).as("cos"))
    val pos = graft.operators.TopKAgg
      .perGroup(cos.filter(col("_same")), "id_a", "cos", "id_b", 1)
      .select(col("id_a"), col("id_b").as("pos_id"), col("cos").as("pos_cos"))
    val neg = graft.operators.TopKAgg
      .perGroup(cos.filter(!col("_same")), "id_a", "cos", "id_b", kNeg)
      .select(col("id_a"), col("rank").as("neg_rank"),
        col("id_b").as("neg_id"), col("cos").as("neg_cos"))
    pos.join(neg, "id_a")
      .withColumn("semi_hard", (col("neg_cos") < col("pos_cos")).cast("int"))
  }

  /** Embedding-cosine near-duplicate pairs (the dedup-family variant
    * of similarity search): all pairs with cosine ≥ `minCos`, exact
    * decimal arithmetic → SQL-oracle-able. Candidate generation is an
    * equality self-join on `blockCol` when given (e.g. a cluster /
    * shard / label column — the IVF-style "only compare within a
    * block" contract), which bounds the fan-out to Σ|block|²; with no
    * block column the join is the full id_a < id_b triangle —
    * quadratic, only for bounded corpora. The sub-quadratic unblocked
    * path at scale is [[embedLshTopK]] candidates + this verify.
    */
  def embedNearDupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
                        minCos: Double, blockCol: Option[String] = None): DataFrame = {
    def prep(id: String) = {
      val base = embeddings.select(
        Seq(col(idCol).as(id), decVec(col(vecCol)).as(s"_v$id")) ++
          blockCol.map(c => col(c).as("_blk")): _*)
      base.withColumn(s"_n$id",
        sqrt(decDot(col(s"_v$id"), col(s"_v$id")).cast("double")))
    }
    val a = prep("id_a")
    val b = prep("id_b")
    val pairs = blockCol match {
      case Some(_) => a.join(b, Seq("_blk")).filter(col("id_a") < col("id_b"))
      case None    => a.join(b, col("id_a") < col("id_b"))
    }
    pairs
      .withColumn("cos", round(
        decDot(col("_vid_a"), col("_vid_b")).cast("double") /
          (col("_nid_a") * col("_nid_b")), 4))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Occupancy term of the LSH auto-sizing: bits ≈ log2(n/16) keeps
    * ~16 vectors per bucket at any corpus size. Exposed package-private
    * so SimilaritySpec pins the SAME formula the production path runs
    * (a hand-copied formula desynchronizes silently — round-11 ADVICE;
    * the LshProbe tool that attributed with it has been removed; its
    * source is last at commit `aa5b464`).
    */
  private[graft] def lshOccBits(n: Double): Int =
    math.max(8, math.min(20,
      math.ceil(math.log(n / 16.0) / math.log(2.0)).toInt))

  /** Total auto-bits: occupancy + spread cancellation as a FIXED
    * POINT. A bulk pair's per-table collision probability is convex in
    * its cosine; with bulk cosines ~N(0, σ²) the expected bulk
    * candidates at B bits inflate by exp((2Bσ/π)²/2) over the σ = 0
    * model, so holding occupancy needs
    *
    *   B = occ + (2·B·σ/π)² / (2·ln 2)
    *
    * — in B, not occ, on the right-hand side: the extra bits
    * themselves inflate. (Round 11 charged the correction at occ bits
    * and the 32-dim projected corpus — σ ≈ 0.18 — still crept
    * 32.5 → 49 candidates/vector across a decade; SCALE.md.) The
    * quadratic a·B² − B + occ = 0, a = 2σ²/(π²·ln 2), has the stable
    * fixed point at the smaller root B = (1 − √(1−4a·occ))/(2a); when
    * the discriminant closes (σ too wide for ANY bit count to cancel —
    * bulk pairs indistinguishable from neighbors) the cap is the
    * honest answer. Capped at 24 bits, the near-dup band keeps its
    * margin: cos ≥ 0.999 collides per table at ≥ 0.986²⁴ ≈ 0.71 →
    * miss-all-6-tables ≤ (1−0.71)⁶ ≈ 6e-4; cos ≥ 0.99 still lands
    * ≥ 0.91 over 6 tables (0.955²⁴ ≈ 0.33/table). Mid-cos top-k recall
    * is the IVF path's job, as before.
    */
  private[graft] def lshAutoBits(n: Double, sigma: Double): Int = {
    val occ = lshOccBits(n)
    val a = 2.0 * sigma * sigma / (math.Pi * math.Pi * math.log(2.0))
    // a == 0 (sigma 0, or small enough that sigma² underflows) means
    // no bulk-spread inflation: occupancy alone sizes the tables. The
    // general branch would evaluate (1-√1)/(2·0) = 0/0 = NaN and only
    // accidentally land on occ via NaN.toInt == 0 — guard explicitly
    // (measuredSigma CAN return exactly 0.0: MAD is 0 whenever more
    // than half the sampled pair cosines coincide, e.g. a heavily
    // duplicated or one-hot corpus).
    if (a == 0.0) return math.min(24, occ)
    val disc = 1.0 - 4.0 * a * occ
    if (disc <= 0.0) 24
    else math.min(24, math.max(occ,
      math.ceil((1.0 - math.sqrt(disc)) / (2.0 * a)).toInt))
  }

  /** MEASURED bulk-cosine spread σ̂ — replaces the analytic 1/√dims,
    * which models only isotropic vectors and under-corrects any corpus
    * with structure (the 32-dim projected path adds JL distortion
    * ≈ 1/√outDim on top of the base spread; measured σ̂ ≈ 0.21 vs the
    * analytic 0.177 there). Deterministic bounded sample: the
    * `sampleN` vectors with smallest (xxhash64(id), id) — a
    * TakeOrderedAndProject, no shuffle — then all-pairs cosines on the
    * driver (≤ C(256,2) ≈ 33k dots, sub-millisecond) and a
    * MEDIAN-ABSOLUTE-DEVIATION estimate (×1.4826 for Gaussian
    * consistency): planted near-dup pairs land in the sample of any
    * dedup-gate corpus as cos ≈ 1 outliers, and MAD ignores them where
    * an RMS would absorb them into σ̂. Falls back to 1/√dims when the
    * sample is too small to estimate from (< [[SigmaMinSample]]
    * vectors).
    */
  private[graft] val SigmaMinSample = 32
  private[graft] def measuredSigma(vecs: DataFrame, idCol: String,
                                   vecCol: String, dims: Int,
                                   sampleN: Int = 256): Double = {
    val sample = vecs
      .orderBy(xxhash64(col(idCol)), col(idCol))
      .limit(sampleN)
      .select(col(vecCol).cast("array<double>"))
      .collect()
      .map(_.getSeq[Double](0).toArray)
    if (sample.length < SigmaMinSample) return 1.0 / math.sqrt(dims.toDouble)
    val norms = sample.map(v => math.sqrt(v.map(x => x * x).sum))
    val cosines = Array.newBuilder[Double]
    var i = 0
    while (i < sample.length) {
      var j = i + 1
      while (j < sample.length) {
        if (norms(i) > 0 && norms(j) > 0) {
          var d = 0.0
          var t = 0
          val n = math.min(sample(i).length, sample(j).length)
          while (t < n) { d += sample(i)(t) * sample(j)(t); t += 1 }
          cosines += d / (norms(i) * norms(j))
        }
        j += 1
      }
      i += 1
    }
    val cs = cosines.result()
    if (cs.length < SigmaMinSample) return 1.0 / math.sqrt(dims.toDouble)
    def median(a: Array[Double]): Double = {
      val s = a.sorted
      if (s.length % 2 == 1) s(s.length / 2)
      else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
    }
    val m = median(cs)
    1.4826 * median(cs.map(c => math.abs(c - m)))
  }

  /** Seeded hyperplane tensor (tables × bits × dims) — the ONE
    * generator for production banding and every probe; sharing it is
    * what keeps probe attributions valid against the shipped code.
    */
  private[graft] def lshPlanes(numTables: Int, nBits: Int, dims: Int,
                               seed: Long): Array[Array[Array[Double]]] = {
    val rng = new scala.util.Random(seed)
    Array.tabulate(numTables, nBits)((_, _) =>
      Array.fill(dims)(rng.nextGaussian()))
  }

  /** Scale path: random-hyperplane (sign-bit) LSH, implemented
    * natively as column expressions — `numTables` independent tables
    * of `bitsPerTable` seeded hyperplanes; each vector's bucket per
    * table is the packed sign pattern of its projections. Candidate
    * pairs come ONLY from shared (table, bucket) keys — an equality
    * join whose key cardinality grows with the corpus, so
    * corpus×corpus never materializes — and are then verified with
    * the exact cosine.
    *
    * Sign bits are scale-invariant (sign⟨v,p⟩ = sign⟨v/‖v‖,p⟩), so no
    * normalization pass is needed. Collision probability per bit for
    * angle θ is (1 − θ/π); per table (1 − θ/π)^bits; across tables
    * 1 − (1 − (1−θ/π)^bits)^numTables. At 8 bits × 6 tables:
    * ~0.97 recall for cos ≥ 0.9 neighbors, while uniform-random pairs
    * (θ ≈ π/2) collide with p ≈ 2^-8 per table → candidate volume
    * ~2.3% of all pairs. By default the bit count is sized from the
    * corpus (≈ log2(n/16), min 8) so bucket occupancy — and the
    * candidate join — stays constant per row as the corpus grows. On UNIFORM vectors the top-k cosine gap
    * vanishes (neighbors sit at the bulk distance) and any
    * sub-quadratic ANN degrades — real embedding corpora are
    * clustered; the recall gate in SimilaritySpec runs on clustered
    * data for exactly that reason.
    *
    * This replaced `BucketedRandomProjectionLSH.approxSimilarityJoin`
    * (round 2): on the 2k-vector bench corpus the ml version spent
    * ~96 s in a non-codegen distance UDF over a weakly-pruned
    * candidate set; the native version verifies only banded
    * candidates with codegen-friendly array ops.
    */
  def embedLshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                   k: Int, bitsPerTable: Int = -1, numTables: Int = 6,
                   minCos: Double = -1.0, seed: Long = 42L,
                   maxBucket: Option[Int] = None): DataFrame = {
    val dims = embeddings.select(size(col(vecCol))).head().getInt(0)
    // spread the corpus before the per-row sign tests: the parquet is
    // typically ONE file → one input partition, and 48 hyperplane dots
    // per row would otherwise run single-threaded (same fix as the IVF
    // trainer). Checkpointing also stops banded+vecs from re-scanning
    // parquet independently.
    // a [[prepareUnit]] frame is already spread + checkpointed — the
    // narrow projection below reuses its blocks directly. Otherwise
    // spread to the ROWS-derived width ([[vecTaskRows]], round-15):
    // par slivers of a small corpus cost more per-task overhead than
    // the banding they carry
    val spread =
      if (embeddings.columns.contains("_unit"))
        embeddings.select(col(idCol), col(vecCol))
      else {
        val ck = embeddings.select(col(idCol), col(vecCol))
          .localCheckpoint()
        spreadTo(ck, ck.count())
      }
    // Auto bits (default): bucket count must GROW with the corpus.
    // Fixed bits fix the bucket count, so occupancy — and with it the
    // candidate join — grows quadratically: the 10× scale smoke
    // measured 34× growth at 8 bits before this. Two terms, both in
    // [[lshAutoBits]] (shared with the probes):
    //
    //  - occupancy: bits ≈ log2(n/16) keeps ~16 vectors per bucket at
    //    any n (count() on the checkpointed frame is a cheap block
    //    scan);
    //  - spread cancellation: a bulk pair's collision probability is
    //    CONVEX in its cosine, so bulk-cosine spread σ inflates
    //    expected bulk candidates by exp((2·bits·σ/π)²/2) — a factor
    //    that GROWS with bits (i.e. with n) and made the third-decade
    //    smoke superlinear (round 11: q124 16.9×, probe-attributed).
    //    Round 11 charged Δ = (2·occ·σ/π)²/(2·ln2) extra bits with the
    //    ANALYTIC σ = 1/√dims; the residual 32-dim creep (32.5 → 49
    //    candidates/vector across sf1→sf10, SCALE.md) had two causes
    //    fixed here: the correction must be a FIXED POINT in the total
    //    bit count (the Δ bits themselves inflate), and σ must be
    //    MEASURED ([[measuredSigma]] — the projected corpus carries JL
    //    distortion the analytic model can't see).
    //
    // High-cos recall note: the 24-bit cap keeps cos ≥ 0.999 recall
    // ≥ 0.999 over 6 tables (see [[lshAutoBits]]); mid-cos (≈ 0.9)
    // top-k recall degrades as bits grow — corpus-scale top-k belongs
    // to the IVF path, whose candidate volume is an occupancy
    // CONTRACT, not a cosine tail (SCALE.md).
    val nBits =
      if (bitsPerTable > 0) bitsPerTable
      else lshAutoBits(spread.count().toDouble,
        measuredSigma(spread, idCol, vecCol, dims))
    // Seeded hyperplanes, generated on the driver (tiny: tables×bits×d
    // doubles) and embedded in the banding EXPRESSION
    // ([[graft.functions.SignBandsMatrix]]) — the same memory contract
    // as the broadcast plane table this replaces (and NOT inlined
    // literals: tables×bits CreateArray expressions blew past
    // whole-stage codegen's method-size limit in round 3 and ran the
    // banding interpreted, ~185 s CPU at the 10× smoke). The
    // expression computes all numTables bucket codes per row in one
    // narrow codegen'd map: no n×(tables·bits) crossJoin row
    // explosion, no groupBy(id, table) bit-assembly shuffle, and each
    // row is banded on its own vector so a duplicated id can never
    // merge bits across copies (the round-6 advice hazard). The
    // (id, table, bucket) result is checkpointed so both candidate-
    // join sides scan it instead of re-banding.
    val planes = lshPlanes(numTables, nBits, dims, seed)
    // Banded rows carry ONLY (id, table, bucket): the candidate join
    // and pair-dedup shuffle 16-byte pairs, not vectors. Vectors (and
    // their norms, computed once per row) come back via equi-joins on
    // id AFTER dedup — AQE broadcasts them when the corpus side is
    // small, and at scale they are plain shuffle joins on a
    // high-cardinality key. Carrying the vectors through the dedup
    // (round-2 shape) made the exchange ~50× wider and put array
    // copies on every sort/agg row.
    val banded0 = spread
      .select(col(idCol),
        posexplode(graft.functions.VectorExprs.signBands(col(vecCol), planes))
          .as(Seq("table", "bucket")))
      .localCheckpoint()
    // Hot-bucket cap (off by default): a bucket the hash cannot
    // discriminate — duplicate-heavy corpora, degenerate regions,
    // adversarial data — generates |bucket|² candidates and is THE
    // way LSH melts down at scale. With `maxBucket`, each (table,
    // bucket) keeps only a deterministic hash-ordered sample of its
    // members for candidate GENERATION (verify still sees true
    // vectors); near-dup pairs in an over-full bucket almost surely
    // also collide in another table, so recall degrades gracefully
    // while the join cost gets a hard |bucket|·cap bound.
    val banded = maxBucket match {
      case None => banded0
      case Some(cap) =>
        banded0.withColumn("_bn", row_number().over(
            Window.partitionBy(col("table"), col("bucket"))
              .orderBy(xxhash64(col(idCol)), col(idCol))))
          .filter(col("_bn") <= cap)
          .drop("_bn")
    }
    val left = banded.toDF("id_a", "table", "bucket")
    val right = banded.toDF("id_b", "table", "bucket")
    val cands = left.join(right, Seq("table", "bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val vecs = spread.select(col(idCol).as("_vid"), col(vecCol).as("_v"),
      sqrt(doubleDot(col(vecCol), col(vecCol))).as("_n"))
    // SHUFFLE_HASH on the corpus side: the candidate stream is pairs²-
    // sized and the first join makes its rows VECTOR-wide — the
    // default sort-merge join then sorts tens of millions of fat rows
    // (the same trap the IVF verify's fused scan removed; the
    // round-11 sf10 profile put the two SMJs at 61 + 446 CPU-s).
    // Hash-building the n-row corpus side streams the candidates
    // unsorted (measured with the since-removed LshVerifyProbe tool,
    // source last at commit `aa5b464`: both joins ≈ 2.5 s wall for 17.7M
    // candidates at sf10; the remaining stage cost is the
    // candidate-volume dot + round + top-k window itself).
    val cos = cands
      .join(vecs.toDF("id_a", "_va", "_na").hint("shuffle_hash"), Seq("id_a"))
      .join(vecs.toDF("id_b", "_vb", "_nb").hint("shuffle_hash"), Seq("id_b"))
      .withColumn("cos", round(
        doubleDot(col("_va"), col("_vb")) / (col("_na") * col("_nb")), 4))
      .filter(col("cos") >= minCos)
      .select(col("id_a"), col("id_b"), col("cos"))
    cos.withColumn("rank", row_number().over(
        Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b"))))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), col("cos"), col("rank"))
  }

  /** IVF (inverted-file) ANN: the second scale path next to
    * [[embedLshTopK]]. A TWO-LEVEL coarse quantizer partitions the
    * corpus into ≈ `nCentroids` cells (default: occupancy-bounded —
    * max(4√n, n/32) capped at 128k cells, see `trainIvfIndex`):
    * √cells level-1 centroids trained by a few Lloyd rounds, then
    * √cells level-2 centroids trained WITHIN each level-1 cell. Each
    * query probes its best level-1 cells, ranks their level-2
    * children, and verifies exact cosine only against vectors
    * assigned to its `nProbe` best (c1, c2) cells — candidate volume
    * ≈ corpus × nProbe × occupancy per probed cell, an equality join
    * on the cell pair (no all-pairs). Bounding occupancy (n/32 cells)
    * keeps that verify stage ~linear in the corpus; the classic 4√n
    * sizing let it grow as n^1.5, and the round-10 sf10 profile
    * measured it at 70% of q125's runtime (353M candidate pairs for a
    * 400k-vector corpus).
    *
    * Why two levels: flat IVF needs n·cells assignment dots and a
    * cells×dims centroid table that must reach the driver. Here
    * assignment costs n·(1+nProbe)·√cells dots, level-1 centroids are
    * the only REQUIRED broadcast (√cells × dims), and level-2
    * centroids live in a DataFrame equi-joined on the level-1 cell.
    * When the full level-2 table also fits a driver/broadcast budget
    * (`graft.ivf.maxDriverCellElems`, default 64 MB — up to 128k
    * cells at 64 dims, i.e. corpora to ~10⁹ vectors), assignment and
    * probing instead run as narrow codegen'd expressions over the
    * per-cell child matrices ([[graft.functions.HierProbeCells]] /
    * [[graft.functions.GroupedArgmaxDot]]): no |q|·pL1·l2n scored-beam
    * materialization, no probe aggregation shuffles — the round-10
    * profile measured that beam at 80M checkpointed rows and ~500
    * CPU-s for a 400k self-search. Past the budget the salted-join
    * path takes over with bit-identical results, so the cell count is
    * never capped by driver memory (the round-4/5 watch item).
    *
    * Cosine-correctness: on unit vectors, nearest-centroid by
    * Euclidean = nearest by cosine (d² = 2 − 2cos), so normalizing
    * (vectors AND centroids) makes cells cosine-cells.
    *
    * Round-3 note: the quantizer was first an `ml.clustering.KMeans`
    * fit — functionally fine, but its ~15 scheduler-bound micro-jobs
    * ran 15× slower inside a long-lived churned session (83 s in the
    * 60-query bench vs 5 s isolated). The native trainer is grouped
    * aggregations end-to-end — predictable anywhere.
    */
  def embedIvfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
                   k: Int, nCentroids: Int = -1, nProbe: Int = 4,
                   maxIter: Int = 1, seed: Long = 42L): DataFrame =
    ivfCore(embeddings, None, idCol, idCol, vecCol, k, nCentroids, nProbe,
      maxIter, seed)

  /** Cross-table IVF ANN — the SERVING shape: rank the top-k corpus
    * neighbors of each NEW query vector (queries ∉ corpus). The quantizer
    * is trained on — and the inverted lists built from — the CORPUS
    * only; queries are normalized, probed against the trained cells
    * and verified exactly, so a small query batch against a huge
    * corpus costs |queries| · (√cells·(1+nProbe) quantizer dots +
    * nProbe·occupancy exact dots) and never scans the corpus.
    * Output: (id_a = query id, id_b = corpus id, cos, rank).
    */
  def embedIvfSearch(corpus: DataFrame, queries: DataFrame,
                     corpusIdCol: String, queryIdCol: String,
                     vecCol: String, k: Int, nCentroids: Int = -1,
                     nProbe: Int = 4, maxIter: Int = 1,
                     seed: Long = 42L): DataFrame =
    ivfCore(corpus, Some(queries), corpusIdCol, queryIdCol, vecCol, k,
      nCentroids, nProbe, maxIter, seed)

  /** Semantic dedup (SemDeDup-style, Abbas et al. 2023): ALL pairs
    * with cosine ≥ `minCos` whose candidate generation comes from a
    * LEARNED clustering of the embedding space — the k-means cells of
    * the IVF quantizer — instead of a user-supplied block column
    * ([[embedNearDupPairs]]'s contract) or random hyperplanes
    * ([[embedLshTopK]]'s). Each vector's `nProbe` nearest cells are
    * candidate buckets; a pair is a candidate when either member's
    * home cell is probed by the other, then verified by exact cosine.
    * Near-identical vectors share a home cell (and each probes its
    * own), so recall at dedup-grade thresholds is effectively exact —
    * the q171 planted gate pins it EQUAL.
    *
    * Output: (id_a < id_b, cos) — symmetric, deduplicated. Feed into
    * [[graft.llm.Dedup.dupClusters]] + `canonicalize` for the
    * keep-one-per-semantic-cluster step.
    *
    * Scale: inherits the quantizer's contract — occupancy-bounded
    * cells (see `trainIvfIndex`), so per-cell candidate volume stays
    * ~constant; the candidate join is an equality join on (c1, c2);
    * nothing all-pairs, nothing driver-sized beyond the centroid
    * budget (join fallback above it).
    */
  def semDedupPairs(embeddings: DataFrame, idCol: String, vecCol: String,
                    minCos: Double, nCentroids: Int = -1, nProbe: Int = 2,
                    maxIter: Int = 1, seed: Long = 42L): DataFrame = {
    val vecs = normalizedVecs(embeddings, idCol, idCol, vecCol)
    val unit = vecs.df
    val idx = trainIvfIndex(vecs, idCol, nCentroids, maxIter, seed)
    // rows-derived spread width (round-15)
    val par = vecPar(embeddings.sparkSession, vecs.n)
    val probes = probeIvfIndex(idx, unit, idCol, nProbe)
    // verify: fused block scan by default (same shape and rationale
    // as `rankIvfPairs` — one expression call per (probe, cell)
    // instead of one row per candidate; a dedup-grade threshold passes
    // only a few members per cell, so the machinery above the scan
    // sees ~selectivity·occupancy× fewer rows). Pair-join kept under
    // the same `graft.ivf.fusedVerify = false` flag, parity-gated in
    // SimilaritySpec.
    val fused = embeddings.sparkSession.conf
      .getOption("graft.ivf.fusedVerify").forall(_.toBoolean)
    val verified =
      if (fused) {
        // shuffle-hash for the same reason as rankIvfPairs: hash the
        // cells-sized block side, never sort the fat probe side
        val blocks = idx.lists.groupBy(col("_c1"), col("_c2"))
          .agg(collect_list(struct(col("id_b").cast("long").as("id"),
            col("_ub"))).as("_mem")).hint("shuffle_hash")
        probes.join(blocks, Seq("_c1", "_c2"))
          .select(col("id_a"),
            explode(graft.functions.VectorExprs.cellRangeScan(
              col("_ua"), col("_mem"), col("id_a"), minCos)).as("_p"))
          .select(col("id_a"), col("_p.id").as("id_b"),
            col("_p.score").as("cos"))
      } else {
        probes
          .join(idx.lists, Seq("_c1", "_c2"))
          .filter(col("id_a") =!= col("id_b"))
          .withColumn("cos", round(doubleDot(col("_ua"), col("_ub")), 4))
          .filter(col("cos") >= minCos)
          .select(col("id_a"), col("id_b"), col("cos"))
      }
    // orient then dedup: the SAME pair surfaces once per direction
    // that probed it (dot is dim-order-identical both ways, so the
    // rounded cos agrees and distinct() collapses them). Spread by
    // pair before the distinct — the verified frame is slim and AQE
    // would coalesce it to a task or two.
    verified
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
      .repartition(par, col("id_a"), col("id_b"))
      .distinct()
  }

  /** Internal trained-index handle: the level-1 centroid MATRIX
    * (l1n × dims — the one structure the design allows on the driver;
    * it is what would be broadcast, held as plain arrays so assignment
    * and probing run as narrow codegen'd expressions), optional
    * level-2 centroids (hierarchical path only, a DataFrame — never
    * collected), and the inverted lists — the corpus unit vectors
    * keyed by their (c1, c2) cell. `lists` IS the searchable index.
    * `cellMats` holds the level-2 cells when they fit the driver budget.
    */
  private[graft] final case class IvfIndex(l1m: Array[Array[Double]],
      l2: Option[DataFrame], lists: DataFrame, l1n: Int, l2n: Int, seed: Long,
      cellMats: Option[Array[Array[Array[Double]]]] = None)

  /** Driver budget for the level-2 expression path: total elements
    * (cells · dims) of the per-cell child matrices that may be
    * collected and shipped inside [[graft.functions.HierProbeCells]] /
    * [[graft.functions.GroupedArgmaxDot]]. Default 8M doubles ≈ 64 MB —
    * the same order as what a broadcast join of the level-2 table
    * would ship per executor. Above it, training and probing keep the
    * salted-join path (identical results, never driver-sized).
    */
  private def maxDriverCellElems(spark: SparkSession): Long =
    spark.conf.getOption("graft.ivf.maxDriverCellElems")
      .map(_.toLong).getOrElse(8L * 1024 * 1024)

  /** Collect the level-2 table into per-cell child matrices indexed
    * `cells(c1)(c2)` — callable only under [[maxDriverCellElems]].
    * c2 ids are contiguous ranks by construction (TopKAgg seeds,
    * preserved by the mean updates and the parquet round-trip).
    */
  private def collectCells(l2: DataFrame, l1n: Int): Array[Array[Array[Double]]] = {
    val rows = l2
      .select(col("_c1").cast("int"), col("_c2").cast("int"), col("_c2v"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val byC1 = rows.groupBy(_._1)
    Array.tabulate(l1n) { c1 =>
      byC1.get(c1) match {
        case Some(rs) =>
          val sorted = rs.sortBy(_._2)
          sorted.zipWithIndex.foreach { case ((_, c2, _), i) =>
            require(c2 == i,
              s"non-contiguous level-2 ids in cell $c1: $c2 at rank $i " +
                "(duplicate (c1, c2) rows — most likely DUPLICATE IDS " +
                "in the corpus: the level-2 seed join fans out on a " +
                "repeated id; ids must be unique)")
          }
          sorted.map(_._3)
        case None => Array.empty[Array[Double]]
      }
    }
  }

  /** A persisted index's level-2 cells, collected when all `l1n · l2n`
    * fit [[maxDriverCellElems]]; `None` keeps the salted-join path.
    */
  private[graft] def cellsWithinBudget(l2: DataFrame, l1n: Int, l2n: Int,
                                       dims: Int): Option[Array[Array[Array[Double]]]] =
    if (l1n.toLong * l2n * dims <= maxDriverCellElems(l2.sparkSession))
      Some(collectCells(l2, l1n))
    else None

  /** Rows-per-task floor for the ANN family's CPU-dense small-byte
    * frames. Round-15 (§5, VERDICT item 3): the whole 32c≫8c wall
    * inversion on q237/q168/q167 (5.7 s vs 2.2 s at the r14 driver)
    * was PARTITION-COUNT overhead — `repartition(defaultParallelism)`
    * cuts a few-thousand-row vector frame into 32 slivers of ~60–250
    * rows, and the fixed per-task cost (scheduler round-trips,
    * broadcast/block-manager lock traffic, buffer setup) exceeds each
    * sliver's work; measured: q237 8.3 s at par=32 vs 5.0 s at par=8
    * on the SAME 32-core JVM (GC ruled out — ParallelGC moved it only
    * ~15 %). Partition targets therefore derive from ROW COUNT —
    * ≥ [[vecTaskRows]] rows per task, clamped to the session's
    * parallelism — so small frames get few fat tasks and at scale the
    * clamp restores full width. Scale-adaptive by construction, not a
    * local-core tuning: the unit is rows, the value a measured
    * amortization floor (~1k 64-dim rows ≈ 0.1–1 s of vector CPU vs
    * the ~10–400 ms per-task overhead band).
    */
  private val vecTaskRows = 1024L
  private[graft] def vecPar(spark: SparkSession, n: Long): Int =
    math.min(spark.sparkContext.defaultParallelism.toLong,
      math.max(1L, (n + vecTaskRows - 1) / vecTaskRows)).toInt
  /** Spread a checkpointed frame to the rows-derived width when its
    * natural block count is narrower (single-file parquet reads).
    * Wider-than-target frames pass through — at corpus scale the
    * input splits already exceed the clamp and the respread (an
    * unconditional full-frame exchange before round 15) disappears.
    */
  private def spreadTo(ck: DataFrame, n: Long): DataFrame = {
    val target = vecPar(ck.sparkSession, n)
    if (ck.rdd.getNumPartitions >= target) ck
    else ck.repartition(target).localCheckpoint()
  }

  /** (id as `idCol`, original vec, L2-normalized `_unit`), spread and
    * checkpointed — the shared input shape for training and probing.
    * A frame that ALREADY carries `_unit` (built by [[prepareUnit]],
    * e.g. a caller-memoized corpus shared across several ANN queries
    * in one JVM) is passed through with just the id realignment — no
    * second normalize/repartition/checkpoint.
    */
  private[graft] def normalizedVecs(df: DataFrame, id: String, idCol: String,
                                    vecCol: String): UnitVecs =
    if (df.columns.contains("_unit"))
      new UnitVecs(df.select(col(id).as(idCol), col(vecCol), col("_unit")),
        None)
    else {
      // ONE codegen'd pass ([[graft.functions.UnitNormalize]]): the
      // previous hoisted-norm + transform-lambda shape was unstable —
      // CollapseProject inlined the once-referenced norm back into the
      // interpreted lambda, re-computing the dot per ELEMENT (dims²
      // boxed ops per row; the sf10 profile measured prep at up to
      // 13 ms/row with GC thrash where this pass is ~1 µs/row).
      // Checkpoint at the input's natural width, then spread to the
      // rows-derived target ([[vecTaskRows]]) — the count is a cheap
      // block scan of the checkpoint
      val ck = df.select(col(id).as(idCol), col(vecCol),
          graft.functions.VectorExprs.unitNormalize(col(vecCol)).as("_unit"))
        .localCheckpoint()
      val n = ck.count()
      new UnitVecs(spreadTo(ck, n), Some(n))
    }

  /** A [[normalizedVecs]] frame and its row count, counted at most once:
    * the normalize pass already counts its checkpoint, so only a
    * [[prepareUnit]] frame is counted here, and only if asked.
    */
  private[graft] final class UnitVecs(val df: DataFrame,
                                      counted: Option[Long]) {
    lazy val n: Long = counted.getOrElse(df.count())
  }

  /** Pre-normalize an embedding frame ONCE for use across several ANN
    * calls ([[embedIvfTopK]]/[[embedIvfSearch]]/[[IvfStore.build]]/
    * [[embedLshTopK]]): returns the spread + checkpointed
    * (id, vec, `_unit`) shape that every entry point detects and
    * reuses instead of re-reading and re-normalizing the corpus. Same
    * results either way — this is purely input-prep sharing.
    */
  def prepareUnit(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    normalizedVecs(df.select(col(idCol), col(vecCol)), idCol, idCol, vecCol).df

  // salted-key helpers for the low-cardinality _c1 joins: _c1 has only
  // √cells distinct values, so the big (per-vector) side is salted and
  // explicitly repartitioned (AQE-coalescing-exempt — these frames are
  // small-bytes/CPU-dense) while the small centroid side replicates
  private def ivfSaltN(par: Int, l1n: Int): Int =
    math.max(1, math.ceil(4.0 * par / l1n).toInt)
  private def salted(bigSide: DataFrame, idCol: String, par: Int,
                     l1n: Int, seed: Long): DataFrame = {
    val saltN = ivfSaltN(par, l1n)
    bigSide.withColumn("_salt",
        pmod(xxhash64(col(idCol), lit(seed + 2)), lit(saltN)).cast("int"))
      .repartition(math.max(par, math.min(l1n * saltN, par * 4)),
        col("_c1"), col("_salt"))
  }
  private def replicated(cellSide: DataFrame, par: Int, l1n: Int): DataFrame =
    cellSide.withColumn("_salt",
      explode(sequence(lit(0), lit(ivfSaltN(par, l1n) - 1))))

  /** Train the two-level (or flat, below FlatMax cells) quantizer and
    * build the inverted lists. See [[embedIvfTopK]] for the design
    * rationale; this is the half a persisted index stores.
    */
  private[graft] def trainIvfIndex(vecs: UnitVecs, idCol: String,
                                   nCentroids: Int, maxIter: Int,
                                   seed: Long): IvfIndex = {
    val unit = vecs.df
    val par = unit.sparkSession.sparkContext.defaultParallelism
    // Auto cell count (default): candidate volume per query is
    // corpus·nProbe/nCentroids, so FIXED cells make the total verify
    // cost quadratic in the corpus — the 10× scale smoke measured 24×
    // growth at 16 cells before this. The classic 4√n sizing keeps
    // occupancy at √n/4, which still makes the exact-verify stage grow
    // as n^1.5 — the round-10 sf10 profile measured it at 70% of
    // q125's runtime (335M candidate pairs for a 400k corpus). Once
    // probing is a narrow expression over driver-held centroids (cheap
    // multiplies, see the expression path below), the balance moves to
    // BOUNDED OCCUPANCY: n/32 cells pin ~32 candidates per probed cell
    // and the verify stage back to ~linear. The 131072-cell cap is the
    // expression path's driver budget (~64 MB of level-2 centroids at
    // 64 dims); past it 4√n resumes (n ≳ 1e9) and with it the join
    // path whose costs that sizing balances — nothing about the cell
    // count ever exceeds the driver contract.
    val nCells =
      if (nCentroids > 0) nCentroids
      else {
        val n = vecs.n.toDouble
        math.max(16, math.max(math.ceil(4.0 * math.sqrt(n)).toInt,
          math.min(math.ceil(n / 32.0).toInt, 131072)))
      }
    // Below FlatMax cells (corpus ≲ 16k vectors) a single level is
    // both safe (the broadcast is bounded by FlatMax×dims) and ~3×
    // faster — the hierarchy's extra joins/shuffles only pay for
    // themselves once the cell count would otherwise be driver-sized.
    val FlatMax = 512
    val l1n =
      if (nCells <= FlatMax) nCells
      else math.max(2, math.ceil(math.sqrt(nCells.toDouble)).toInt)
    val l2n = math.max(1, math.ceil(nCells.toDouble / l1n).toInt)

    // re-normalize a mean vector back to the unit sphere so argmax-dot
    // assignment stays argmin-euclidean; zero-mean cells stay zero
    def unitize(v: Column): Column = {
      val nrm = sqrt(doubleDot(v, v))
      transform(v, (x: Column) => when(nrm > 0, x / nrm).otherwise(x))
    }
    // driver-side twin of `unitize` for the collected level-1 matrix
    def unitizeArr(v: Array[Double]): Array[Double] = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      val nrm = math.sqrt(s)
      if (nrm > 0) {
        val o = new Array[Double](v.length)
        var j = 0
        while (j < v.length) { o(j) = v(j) / nrm; j += 1 }
        o
      } else v
    }

    // ---- level 1: √cells centroids, seeded by a deterministic
    // hash-sample, refined by Lloyd rounds — held as the l1n×dims
    // MATRIX, the one structure the design allows to be
    // driver/broadcast-sized (it is exactly what the old broadcast
    // table shipped). Assignment runs as the narrow codegen'd
    // [[graft.functions.ArgmaxMatrixDot]] expression, so a Lloyd round
    // is ONE job (assign-expression → coordinate explode → partial agg
    // → l1n×dims-row collect) with no crossJoin row explosion, no
    // vector shuffle and no checkpoint barrier: the round-7 profile
    // measured the broadcast-nested-loop shape at ~20 s CPU (GC-bound
    // array copying across n×cells join rows) for what is ~0.2 s of
    // multiplies, and the fixed per-training job count as the dominant
    // local cost of the uncapped quantizer.
    var l1m: Array[Array[Double]] = unit
      .select(col(idCol), col("_unit"), xxhash64(col(idCol), lit(seed)).as("_h"))
      .orderBy(col("_h"), col(idCol)).limit(l1n)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    // per-row argmax cell under the CURRENT matrix (ties → smallest
    // cell id, identical to the old max_by(struct(_dot, -_c1)))
    def l1AssignCol: Column =
      graft.functions.VectorExprs.argmaxDot(col("_unit"), l1m)
    // Lloyd mean as ONE bounded-buffer aggregate per cell
    // ([[graft.functions.ArrayAvgAgg]]): the previous posexplode +
    // avg-per-(cell, pos) shape pushed n·dims rows through a hash
    // aggregation with cells·dims groups — the sf10 profile measured
    // that round at 389 CPU-s of which the assignment dots were ~19 s.
    // The aggregate keeps one dims-double buffer per cell (≤ cells per
    // mapper, bounded by the 131072-cell cap) and shuffles cells rows.
    // Rebound to the raised-fallback session: l1n/cells exceed Spark's
    // 128-group ObjectHashAggregate valve, and a sort fallback would
    // re-sort the whole corpus per mapper.
    def cellMeans(df: DataFrame, keys: Seq[String]): Array[org.apache.spark.sql.Row] =
      org.apache.spark.sql.graft.Bridge.ofRows(
        graft.operators.TopKAgg.boundedAggSession(df.sparkSession),
        df.groupBy(keys.map(col): _*)
          .agg(graft.functions.VectorExprs.arrayAvg(col("_unit")).as("_m"))
          .queryExecution.logical)
        .collect()
    for (_ <- 1 to maxIter) {
      val meanRows = cellMeans(
        unit.select(l1AssignCol.as("_c1"), col("_unit")), Seq("_c1"))
      // cells that captured no vectors keep their previous center
      val updated = l1m.clone()
      meanRows.foreach { r =>
        val c = r.getInt(0)
        val v = r.getSeq[Double](1).toArray
        // ragged guard: pad to the centroid's dims (a position no
        // vector populated averages to 0.0, same as the explode shape)
        updated(c) = unitizeArr(
          if (v.length == l1m(c).length) v
          else java.util.Arrays.copyOf(v, l1m(c).length))
      }
      l1m = updated
    }

    if (l2n == 1) {
      // ---- flat path: level-1 IS the quantizer; lists carry c2 = 0.
      // The lists build is NARROW over the checkpointed unit frame —
      // whole flat-path training is 1 count + 1 seed collect + maxIter
      // mean-collect jobs, zero extra barriers.
      val lists = unit.select(col(idCol).as("id_b"), col("_unit").as("_ub"),
        l1AssignCol.as("_c1"), lit(0).as("_c2"))
      IvfIndex(l1m, None, lists, l1n, l2n, seed)
    } else {
      // corpus with its final level-1 cell — a narrow assignment, but
      // checkpointed ONCE: its three consumers (level-2 seeding, the
      // per-round assignment join, the lists build) would otherwise
      // each redo the n×√cells assignment dots.
      val corpus = unit
        .select(col(idCol), col("_unit"), l1AssignCol.as("_c1"))
        .localCheckpoint()
      // ---- level 2: up to √cells centroids WITHIN each level-1 cell.
      // Seeds are a per-cell hash-sample; assignment is an EQUI-JOIN on
      // _c1 (each vector meets only its own cell's centroids), so the
      // level-2 table can be arbitrarily large — it is never broadcast
      // and never collected. Seeds come from the bounded TopKAgg
      // (map-side partial) rather than a per-cell window — with only
      // √cells distinct keys the window's shuffle coalesces to a
      // handful of tasks (the 10× smoke measured a 1-task 3.8 s stage
      // here). Score is the negated hash: top-k desc = smallest hashes.
      // (seed plan lazy for the same one-consumer reason as level 1)
      var l2: DataFrame = graft.operators.TopKAgg.perGroup(
          corpus.select(col("_c1"), col(idCol),
            (-pmod(xxhash64(col(idCol), lit(seed + 1)), lit(1L << 40))
              .cast("double")).as("_nh")),
          "_c1", "_nh", idCol, k = l2n)
        .select(col("_c1"), (col("rank") - 1).as("_c2"), col(idCol))
        .join(corpus.select(col(idCol), col("_unit")), Seq(idCol))
        .select(col("_c1"), col("_c2"), col("_unit").as("_c2v"))
      // level-2 assignment: a narrow expression over the driver-held
      // per-cell child matrices when they fit the budget (argmax ties
      // → smaller c2, identical to the join's max_by struct), the
      // salted join beyond it — same results either way
      val exprPath =
        nCells.toLong * l1m.headOption.map(_.length).getOrElse(0) <=
          maxDriverCellElems(unit.sparkSession)
      def assigned(cs: DataFrame): DataFrame =
        if (exprPath)
          corpus.withColumn("_c2",
            graft.functions.VectorExprs.groupedArgmaxDot(
              col("_unit"), col("_c1"), collectCells(cs, l1n)))
        else joinAssignL2(corpus, cs, idCol, par, l1n, seed)
      for (_ <- 1 to maxIter) {
        // same bounded-buffer mean as level 1 (one dims-double buffer
        // per (c1, c2) cell, map-side partial, cells rows shuffled) —
        // this replaced a posexplode + per-(cell, pos) avg +
        // collect_list/array_sort reassembly whose row volume was
        // n·dims and whose group count cells·dims (the sf10 profile's
        // dominant training stages). No pre-repartition needed: the
        // partial state per mapper is ≤ cells buffers by construction.
        val means = assigned(l2)
          .groupBy(col("_c1"), col("_c2"))
          .agg(graft.functions.VectorExprs.arrayAvg(col("_unit")).as("_avg"))
          .select(col("_c1"), col("_c2"), unitize(col("_avg")).as("_nv"))
        // rebind the JOINED frame, not the means operand: session
        // follows the LEFT operand through composition, so a rebound
        // right side would execute this checkpoint's whole job —
        // including the mean aggregation — back under the parent's
        // 128-group valve, whose sort fallback re-sorts the corpus per
        // mapper (the first round-10 re-profile measured exactly that:
        // ~550 CPU-s across the two agg stages).
        l2 = org.apache.spark.sql.graft.Bridge.ofRows(
            graft.operators.TopKAgg.boundedAggSession(unit.sparkSession),
            l2.join(means, Seq("_c1", "_c2"), "left")
              .select(col("_c1"), col("_c2"),
                coalesce(col("_nv"), col("_c2v")).as("_c2v"))
              .queryExecution.logical)
          .localCheckpoint()
      }
      val finalCells = if (exprPath) Some(collectCells(l2, l1n)) else None
      val lists = (finalCells match {
        case Some(cm) => corpus.withColumn("_c2",
          graft.functions.VectorExprs.groupedArgmaxDot(
            col("_unit"), col("_c1"), cm))
        case None => joinAssignL2(corpus, l2, idCol, par, l1n, seed)
      }).select(col(idCol).as("id_b"), col("_unit").as("_ub"),
          col("_c1"), col("_c2").cast("int").as("_c2"))
      IvfIndex(l1m, Some(l2), lists, l1n, l2n, seed, finalCells)
    }
  }

  /** Level-2 assignment past the driver budget, by salted equi-join on
    * `_c1`: each `(idCol, _unit, _c1)` row of `vecs` gains its argmax
    * `_c2` in `cells` (ties → smaller `_c2`, as the expression path).
    */
  private def joinAssignL2(vecs: DataFrame, cells: DataFrame, idCol: String,
                           par: Int, l1n: Int, seed: Long): DataFrame =
    vecs.join(
      salted(vecs, idCol, par, l1n, seed)
        .join(replicated(cells, par, l1n), Seq("_c1", "_salt"))
        .select(col(idCol), col("_c1"), col("_c2"),
          doubleDot(col("_unit"), col("_c2v")).as("_dot"))
        .groupBy(col(idCol), col("_c1"))
        .agg(max_by(col("_c2"),
          struct(col("_dot"), (-col("_c2")).as("_t"))).as("_c2")),
      Seq(idCol, "_c1"))

  /** New unit vectors `(idCol, _unit)` as list rows `(id_b, _ub, _c1,
    * _c2)` of a trained index: the lists build's argmax assignment
    * under its frozen centroids, so each lands where a rebuild with
    * frozen centroids would put it.
    */
  private[graft] def assignCells(idx: IvfIndex, unit: DataFrame,
                                 idCol: String): DataFrame = {
    val withC1 = unit.select(col(idCol), col("_unit"),
      graft.functions.VectorExprs.argmaxDot(col("_unit"), idx.l1m).as("_c1"))
    val assigned = (idx.l2, idx.cellMats) match {
      case (None, _) => withC1.withColumn("_c2", lit(0))
      case (_, Some(cells)) => withC1.withColumn("_c2",
        graft.functions.VectorExprs.groupedArgmaxDot(
          col("_unit"), col("_c1"), cells))
      case (Some(l2), None) =>
        joinAssignL2(withC1.localCheckpoint(), l2, idCol,
          unit.sparkSession.sparkContext.defaultParallelism, idx.l1n, idx.seed)
    }
    assigned.select(col(idCol).as("id_b"), col("_unit").as("_ub"),
      col("_c1"), col("_c2").cast("int").as("_c2"))
  }

  /** Probe a trained index with a normalized query frame → one row per
    * probed (query, cell): (id_a, _ua, _c1, _c2). Hierarchical probing
    * unions (a) the globally best nProbe (c1, c2) cells by center dot
    * with (b) the argmax child WITHIN each probed level-1 cell — (b)
    * is what keeps hierarchical assignment and probing consistent: a
    * vector is assigned to the argmax child of its argmax level-1
    * cell, and that cell can rank below nProbe OTHER cells' centers
    * globally; without (b) a query can fail to probe its own (and its
    * near-duplicate's) home cell — exactly the 499/500 planted-recall
    * miss this fixed. Per-query quantizer cost is
    * O(√cells · (1 + nProbe)) dots, ≤ nProbe + pL1 probed cells.
    */
  private[graft] def probeIvfIndex(idx: IvfIndex, qunit: DataFrame,
                                   idCol: String, nProbe: Int): DataFrame = {
    val par = qunit.sparkSession.sparkContext.defaultParallelism
    idx.l2 match {
      case None =>
        // flat probe: top-nProbe cells per query as ONE narrow
        // expression over the centroid matrix + explode — no crossJoin
        // row explosion, no per-query aggregation shuffle (the old
        // TopKAgg shape copied the dim-length arrays into n×cells join
        // rows before aggregating them back down)
        qunit.select(col(idCol).as("id_a"), col("_unit").as("_ua"),
            explode(graft.functions.VectorExprs.topKDot(col("_unit"),
              idx.l1m, math.min(idx.l1n, nProbe))).as("_c1"))
          .withColumn("_c2", lit(0))
      case Some(l2) =>
        val pL1 = math.min(idx.l1n, math.max(2, nProbe))
        if (idx.cellMats.isDefined) {
          // expression path: the WHOLE hierarchical probe (level-1
          // beam, level-2 scoring, global top-nProbe ∪ per-cell
          // argmax, dedup) as one narrow codegen'd map per query —
          // no beam materialization, no aggregation, no distinct.
          // Bit-identical to the join path below (see HierProbeCells).
          return qunit.select(col(idCol).as("id_a"),
              col("_unit").as("_ua"),
              explode(graft.functions.VectorExprs.hierProbeCells(
                col("_unit"), idx.l1m, idx.cellMats.get, pL1, nProbe))
                .as("_cell"))
            .select(col("id_a"), col("_ua"),
              col("_cell._c1").as("_c1"), col("_cell._c2").as("_c2"))
        }
        // join path (level-2 beyond the driver budget)
        // level-1 beam per query via the same narrow top-k expression;
        // `_unit` rides along for the level-2 center dots
        val probe1 = qunit.select(col(idCol), col("_unit"),
          explode(graft.functions.VectorExprs.topKDot(col("_unit"),
            idx.l1m, pL1)).as("_c1"))
        // spread by QUERY id before the checkpoint: the beam is
        // small-bytes/CPU-dense (|queries|·pL1·l2n slim rows), so AQE
        // byte-coalescing funneled BOTH consumers' aggregations into
        // one task (2× ~4 s single-task stages at the 10× smoke).
        // Hash-partitioning on id is reused by probeGlobal's
        // per-query top-k AND probeHier's (id, _c1) agg — clustering
        // on a subset key satisfies both, zero further exchanges.
        val beam = salted(probe1, idCol, par, idx.l1n, idx.seed)
          .join(replicated(l2, par, idx.l1n), Seq("_c1", "_salt"))
          .select(col(idCol), col("_c1"), col("_c2"),
            doubleDot(col("_unit"), col("_c2v")).as("_dot"))
          .repartition(par, col(idCol))
          .localCheckpoint()
        // composite cell id for the bounded top-k aggregation, decoded
        // back after ranking
        val probeGlobal = graft.operators.TopKAgg.perGroup(
          beam.select(col(idCol),
            (col("_c1").cast("long") * idx.l2n + col("_c2")).as("_cid"),
            col("_dot")),
          idCol, "_dot", "_cid", k = nProbe)
          .select(col(idCol),
            expr(s"_cid div ${idx.l2n}").cast("int").as("_c1"),
            pmod(col("_cid"), lit(idx.l2n.toLong)).cast("int").as("_c2"))
        val probeHier = beam.groupBy(col(idCol), col("_c1"))
          .agg(max_by(col("_c2"),
            struct(col("_dot"), (-col("_c2")).as("_t"))).as("_c2"))
          .select(col(idCol), col("_c1").cast("int").as("_c1"),
            col("_c2").cast("int").as("_c2"))
        probeGlobal.unionByName(probeHier).distinct()
          .join(qunit, Seq(idCol))
          .select(col(idCol).as("id_a"), col("_unit").as("_ua"),
            col("_c1"), col("_c2"))
    }
  }

  /** What the verify reads of a list row: the member struct the fused
    * cell scan takes ([[graft.functions.CellTopKScan]]; `int8` names
    * its member layout) and the pair-join path's score against `_ua`.
    * A persisted index's codec brings its own ([[IvfStore.Int8]]).
    */
  private[graft] final case class ListScan(member: Column, score: Column,
                                           int8: Boolean)
  private[graft] def FloatScan: ListScan =
    ListScan(struct(col("id_b").cast("long").as("id"), col("_ub")),
      round(doubleDot(col("_ua"), col("_ub")), 4), int8 = false)

  /** Exact-cosine verify + per-query top-k over the probed cells.
    * Verify runs on the ALREADY-normalized double vectors: cosine is
    * one codegen'd dot per pair — no norms and no per-pair
    * float→double cast allocations. The self-pair filter only applies
    * to the self-top-k shape; in serving search query and corpus ids
    * are different namespaces. No pair-dedup is needed: each corpus
    * vector lives in exactly one (c1, c2) cell and a query probes
    * distinct cells.
    *
    * Default shape (FUSED): group each cell's members into one
    * block row (`collect_list`, bounded by cell occupancy — ~32
    * members at the occupancy-bounded auto sizing, a few tens of KB),
    * equi-join probes to blocks, and scan the block inside ONE
    * codegen'd expression per (probe, cell)
    * ([[graft.functions.CellTopKScan]]) that emits only the local
    * top-k. The per-query [[graft.operators.TopKAgg]] merge then sees
    * ≤ k·probedCells rows per query instead of every candidate. Why:
    * the pair-join shape materialized one row PER CANDIDATE through
    * the join + scoring projection + aggregation update — the
    * round-10 sf10 profile measured that machinery at ~18 µs/candidate
    * × 72.8M candidates = 1333 CPU-s, 85% of q125's runtime — while
    * the dots themselves are seconds. At 100 TB both shapes are
    * equality joins on the cell key with map-side-bounded aggs; the
    * fused one moves ~occupancy× fewer rows. The pair-join path is
    * kept under `graft.ivf.fusedVerify = false` (parity-gated in
    * SimilaritySpec) for pathological corpora whose skewed cells
    * would make a block row large (Lloyd cells on real embeddings are
    * balanced to O(1)× the mean; a corpus degenerate enough to
    * collapse cells breaks IVF recall before it breaks block size).
    */
  private[graft] def rankIvfPairs(probes: DataFrame, lists: DataFrame,
                                  k: Int, excludeSelf: Boolean,
                                  scan: ListScan = FloatScan): DataFrame = {
    val fused = probes.sparkSession.conf
      .getOption("graft.ivf.fusedVerify").forall(_.toBoolean)
    val cos =
      if (fused) {
        // SHUFFLE_HASH, not sort-merge: the probe side is |queries|·
        // nProbe rows each carrying the dims-double query vector —
        // sorting it is the expensive half of an SMJ (the sf10 profile
        // measured the join stage at 720 s run / 304 s CPU, the gap
        // being sort+spill of 2.2M fat probe rows) — while the block
        // side is only |cells| rows per partition, a trivially
        // hashable build side at any scale (blocks are corpus-sized in
        // BYTES but cells-sized in ROWS; per shuffle partition the
        // build map holds cells/partitions entries).
        val blocks = lists.groupBy(col("_c1"), col("_c2"))
          .agg(collect_list(scan.member).as("_mem")).hint("shuffle_hash")
        probes.join(blocks, Seq("_c1", "_c2"))
          .select(col("id_a"),
            explode(graft.functions.VectorExprs.cellTopKScan(
              col("_ua"), col("_mem"),
              if (excludeSelf) col("id_a") else lit(0L),
              k, excludeSelf, scan.int8)).as("_p"))
          .select(col("id_a"), col("_p.id").as("id_b"),
            col("_p.score").as("cos"))
      } else {
        val paired = probes.join(lists, Seq("_c1", "_c2"))
        (if (excludeSelf) paired.filter(col("id_a") =!= col("id_b"))
         else paired)
          .withColumn("cos", scan.score)
          .select(col("id_a"), col("id_b"), col("cos"))
      }
    // bounded per-query top-k ([[graft.operators.TopKAgg]], same
    // (cos desc, id_b asc) contract as a row_number window): partial
    // map-side aggregation collapses the remaining volume to ≤ k rows
    // per (mapper, query) BEFORE any exchange, pipelined straight off
    // the join. The window version shuffled and sorted EVERY candidate
    // pair — at the sf10 smoke that full shuffle + sort dominated
    // q125's 246 s.
    graft.operators.TopKAgg.perGroup(cos, "id_a", "cos", "id_b", k)
      .select(col("id_a"), col("id_b"), col("cos"), col("rank"))
  }

  private def ivfCore(embeddings: DataFrame, queriesOpt: Option[DataFrame],
                      idCol: String, queryIdCol: String, vecCol: String,
                      k: Int, nCentroids: Int, nProbe: Int,
                      maxIter: Int, seed: Long): DataFrame = {
    val unit = normalizedVecs(embeddings, idCol, idCol, vecCol)
    // the probe side: the corpus itself (self top-k) or a separate
    // query frame (serving search)
    val qunit = queriesOpt.map(normalizedVecs(_, queryIdCol, idCol, vecCol).df)
      .getOrElse(unit.df)
    val idx = trainIvfIndex(unit, idCol, nCentroids, maxIter, seed)
    rankIvfPairs(probeIvfIndex(idx, qunit, idCol, nProbe), idx.lists, k,
      excludeSelf = queriesOpt.isEmpty)
  }

  /** Per-row double dot product — the native codegen'd
    * [[graft.functions.VectorExprs.dot]] expression (per-row
    * evaluation, so deterministic under any partitioning). Used where
    * decimal exactness is not needed: LSH sign tests (only the sign
    * is consumed) and candidate verification in the approximate path.
    */
  private def doubleDot(v: Column, p: Column): Column =
    graft.functions.VectorExprs.dot(v, p)

  /** Symmetric per-vector int8 quantization of an embedding column —
    * the 4×-memory/bandwidth reduction applied before ANN at corpus
    * scale (float32 → int8 with one fp32 scale per vector):
    * scale = max|x_i|, q_i = round(x_i · 127 / scale). All arithmetic
    * is promoted to double so the result is bit-identical in any
    * engine; a zero vector quantizes to zeros (scale kept at 0).
    * Narrow projection — no shuffle, fused into the scan.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // one codegen'd pass ([[graft.functions.Int8Quantize]]) — the
    // column form (array_max(transform) referenced inside the quantize
    // lambda) re-evaluated the scale per element once CollapseProject
    // inlined it: dims² interpreted ops per row
    val q = graft.functions.VectorExprs.int8Quantize(col(vecCol))
    emb.select(
      col(idCol),
      q.getField("scale").as("scale"),
      q.getField("qvec").as("qvec"))
  }

  /** Per-group embedding centroids, one row per (group, dimension):
    * mean of each coordinate over the group — the k-means M-step, a
    * class prototype for classification, and the cluster summary a
    * corpus map plots. posexplode → one partial-aggregated shuffle
    * keyed by (group, dim); with dim ≤ a few thousand and groups in
    * the millions the keys stay high-cardinality and skew-free.
    * Coordinates sum as exact decimal(18,9) (same proven-equal cast
    * the cosine operators use) so the mean is order-independent and
    * engine-identical; the division happens once, in double.
    */
  def groupCentroids(emb: DataFrame, groupCol: String,
                     vecCol: String): DataFrame =
    emb
      .select(col(groupCol), posexplode(col(vecCol)))
      .toDF(groupCol, "pos", "_v")
      .groupBy(col(groupCol), col("pos"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("_v").cast("decimal(18,9)")).cast("double") /
          count(lit(1)), 6).as("centroid"))

  /** The ±1 sign matrix behind [[randomProject]]: row j, column i is
    * +1 iff the first hex digit of `md5("rp:<seed>:<j>:<i>")` is in
    * 0–7 (i.e. the digest's top bit is 0 — a fair coin). md5 is the
    * one hash every SQL engine exposes with identical semantics, so
    * the matrix is reproducible ANYWHERE from the three integers
    * (seed, outDim, inDim) — no RNG state, no serialized model.
    */
  private[graft] def rpSigns(seed: Int, outDim: Int,
                             inDim: Int): Array[Array[Byte]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(outDim, inDim) { (j, i) =>
      val d = md.digest(
        s"rp:$seed:$j:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((d(0) >> 4) & 0xf) < 8) 1.toByte else -1.toByte
    }
  }

  /** Random projection (Johnson–Lindenstrauss, dense ±1 signs —
    * Achlioptas 2003): reduce an embedding column from `inDim` to
    * `outDim` coordinates with `y[j] = Σ_i s[j][i]·x[i]`, the
    * standard pre-shrink before LSH banding, clustering, or an
    * index build when the raw dimensionality is the cost driver
    * (128→16 cuts every downstream dot, shuffle byte, and index
    * list 8×; pairwise cosine is preserved to O(1/√outDim) because
    * the projection is a near-isometry up to the constant √outDim
    * scale, which cosine cancels).
    *
    * Deterministic and engine-replayable end to end: the sign matrix
    * derives from md5 ([[rpSigns]]) and the projection itself is an
    * exact integer sum over scale-9 decimals
    * ([[graft.functions.SignedProject]] — codegen'd, narrow, fused
    * into the scan; no shuffle, no RNG, no driver round-trip). The
    * SQL oracle replays both the matrix AND the arithmetic
    * bit-for-bit.
    *
    * Output: `(idCol, proj array<decimal(18,9)>)` — unscaled (no
    * 1/√outDim factor: cosine and relative distance don't need it,
    * and omitting it keeps the values exact).
    */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    outDim: Int, inDim: Int, seed: Int = 42): DataFrame = {
    require(outDim >= 1 && outDim <= 4096, "outDim must be in [1, 4096]")
    require(inDim >= 1 && inDim <= 65536, "inDim must be in [1, 65536]")
    emb.select(col(idCol),
      graft.functions.VectorExprs.signedProject(
        col(vecCol), rpSigns(seed, outDim, inDim)).as("proj"))
  }
}
