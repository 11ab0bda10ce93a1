package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document-level deduplication for LLM training-data pipelines:
  * exact (content-hash), MinHash+LSH banding, SimHash, and exact
  * n-gram Jaccard — all expressed as native DataFrame ops (codegen'd
  * hash/array functions; no UDFs).
  *
  * Scale design: every near-dup path generates candidates through an
  * equality join on a BUCKET key (LSH band hash, SimHash band, shared
  * shingle) and only verifies within buckets — never an all-pairs
  * cross join. At 100 TB the candidate join shuffles on the bucket
  * key, which is high-cardinality by construction; the verify step
  * touches only pairs that share a bucket.
  */
object Dedup {

  /** Exact dedup via content hash (the `md5(text)` group — DuckDB-
    * oracle-able): one row per distinct content with the smallest id
    * kept and the copy count.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Token n-gram shingles, one row per distinct (id, shingle).
    * Tokenization = split on single space (mirrors the SQL oracle's
    * `string_split(text, ' ')`).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 3): DataFrame = {
    docs
      .withColumn("_toks", split(col(textCol), " "))
      .withColumn("shingle",
        explode(graft.functions.TextExprs.wordNgrams(col("_toks"), n)))
      .select(col(idCol), col("shingle"))
      .distinct()
  }

  /** Exact n-gram Jaccard near-dup pairs. Candidate generation is an
    * inverted-index self-join on the shingle (docs sharing ≥1 shingle),
    * then `common / (|A| + |B| − common)` per pair. Fully
    * SQL-oracle-able. At very large corpora prefer [[minHashNearDup]]
    * — this one's join fan-out is bounded by shingle document
    * frequency, which a stopword-shingle filter can cap.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val a = sh.toDF("id_a", "shingle")
    val b = sh.toDF("id_b", "shingle")
    val common = a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("_common"))
    common
      .join(sizes.toDF("id_a", "_na"), Seq("id_a"))
      .join(sizes.toDF("id_b", "_nb"), Seq("id_b"))
      .withColumn("jaccard",
        round(col("_common").cast("double") /
          (col("_na") + col("_nb") - col("_common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Blocked edit-distance near-dup pairs: candidate pairs come from a
    * block-key equi-join (same `blockCol`), pre-filtered by the length
    * band — |len(a) − len(b)| > maxDist can never be within maxDist —
    * then the exact Levenshtein verify runs per surviving candidate.
    * All-pairs never materializes: fan-out is bounded by the block
    * size, which is the knob a 100 TB run tunes (block on brand /
    * domain / fingerprint prefix). `levenshtein` is the classic
    * unit-cost edit distance in both Spark and the SQL oracle.
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, maxDist: Int): DataFrame = {
    val a = docs.select(col(blockCol).as("block"), col(idCol).as("id_a"),
      col(textCol).as("_ta"))
    val b = docs.select(col(blockCol).as("block"), col(idCol).as("id_b"),
      col(textCol).as("_tb"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .filter(abs(length(col("_ta")) - length(col("_tb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("_ta"), col("_tb")))
      .filter(col("dist") <= maxDist)
      .select(col("block"), col("id_a"), col("id_b"), col("dist"))
  }

  /** MinHash signatures: `numHashes` independent hash functions
    * simulated as `xxhash64(i, shingle)`, min per doc. One exploded
    * pass + one grouped agg; signature width is a constant.
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, numHashes: Int = 32): DataFrame = {
    val sh = shingles(docs, idCol, textCol, n)
    val mins = (0 until numHashes)
      .map(i => min(xxhash64(lit(i), col("shingle"))).as(s"_h$i"))
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until numHashes).map(i => col(s"_h$i")): _*).as("signature"))
  }

  /** MinHash + LSH banding near-dup detection: split each signature
    * into `bands` bands of `numHashes/bands` rows, bucket-join on
    * (band index, band hash), verify candidates by estimated Jaccard
    * (= fraction of equal signature positions) ≥ `threshold`.
    * Never materializes all pairs: only band-collisions are compared.
    *
    * The signature frame is referenced by three sub-plans (banding +
    * both verify joins). `cacheSignatures = true` persists it for the
    * duration — worth it when the shingle scan is expensive (large
    * corpora); the storage handle then belongs to THIS call's plan and
    * is unpersisted by the caller's session cache maintenance, not
    * here (the blocks must outlive this method — the query has not run
    * yet when it returns). Default false: no storage-block leak in
    * long-lived sessions, and recomputation is a cheap scan at
    * moderate scale.
    */
  /** LSH band-collision candidate pairs (id_a < id_b, distinct) from a
    * (id, signature) frame: bucket on `xxhash64(bandIdx, bandSlice)`,
    * equality-join on (band, bucket). The shared candidate generator
    * for [[minHashNearDup]] and [[minHashNearDupVerified]].
    *
    * Unlike sign-bit LSH, the bucket space here grows with the corpus
    * (hash of band VALUES), so occupancy stays at dup-cluster size —
    * the quadratic hazard is duplicate-heavy corpora (k copies of one
    * doc share every band → k² candidates). `maxBucket` caps each
    * (band, bucket) to a deterministic hash-ordered sample for
    * candidate generation; exact dedup upstream is the first-choice
    * fix, the cap is the guard when it wasn't run.
    */
  /** (id, band, bucket) rows of a signature frame — the shared LSH
    * banding for the self-join and incremental candidate generators.
    */
  private def bandBuckets(sig: DataFrame, idCol: String,
                          bands: Int, r: Int): DataFrame =
    sig.select(
      col(idCol),
      explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          xxhash64(lit(j), slice(col("signature"), j * r + 1, r)).as("bucket"))): _*))
        .as("b"))
      .select(col(idCol), col("b.band"), col("b.bucket"))

  private def lshCandidates(sig: DataFrame, idCol: String,
                            bands: Int, r: Int,
                            maxBucket: Option[Int] = None): DataFrame = {
    val banded = capBuckets(bandBuckets(sig, idCol, bands, r),
      idCol, Seq("band", "bucket"), maxBucket)
    val left = banded.toDF("id_a", "band", "bucket")
    val right = banded.toDF("id_b", "band", "bucket")
    // SHUFFLE_HASH: both sides are the corpus-sized banded stream, and
    // size estimation ignores Generate fan-out, so Spark otherwise
    // BROADCASTS one side of the self-join (docs×bands rows through a
    // single-task build — the q143 trap; PlanAuditSpec pins it out)
    left.join(right.hint("shuffle_hash"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** Hot-bucket cap shared by the banded candidate generators: keep a
    * deterministic hash-ordered sample of `cap` members per bucket.
    * Over-full buckets degrade recall gracefully instead of exploding
    * the candidate join quadratically.
    */
  /** [[capBuckets]] opened to the sibling fingerprint families
    * ([[Multimodal.videoNearDup]]'s frame-hash buckets — same
    * k-copies hazard, same graceful-degradation contract).
    */
  private[llm] def capFingerprintBuckets(banded: DataFrame, idCol: String,
                                         bucketCols: Seq[String],
                                         maxBucket: Option[Int]): DataFrame =
    capBuckets(banded, idCol, bucketCols, maxBucket)

  private def capBuckets(banded: DataFrame, idCol: String,
                         bucketCols: Seq[String],
                         maxBucket: Option[Int]): DataFrame =
    maxBucket match {
      case None => banded
      case Some(cap) =>
        banded.withColumn("_bn", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(bucketCols.map(col): _*)
              .orderBy(xxhash64(col(idCol)), col(idCol))))
          .filter(col("_bn") <= cap)
          .drop("_bn")
    }

  def minHashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                     threshold: Double = 0.5,
                     cacheSignatures: Boolean = false,
                     maxBucket: Option[Int] = None): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val sig0 = minHashSignatures(docs, idCol, textCol, n, numHashes)
    val sig = if (cacheSignatures) sig0.cache() else sig0
    val cands = lshCandidates(sig, idCol, bands, r, maxBucket)
    // codegen'd agreement count — the HOF fold (aggregate ∘ zip_with)
    // is CodegenFallback and was the verify stage's whole cost
    val estEq = graft.functions.VectorExprs.agreeCount(col("_sa"), col("_sb"))
    cands
      .join(sig.toDF("id_a", "_sa"), Seq("id_a"))
      .join(sig.toDF("id_b", "_sb"), Seq("id_b"))
      .withColumn("est_jaccard",
        round(estEq.cast("double") / numHashes, 6))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** Production-shape LSH dedup: MinHash banding for candidate
    * generation, EXACT n-gram Jaccard for the verify stage — so the
    * output has no estimation error (precision is exact; recall is the
    * band-collision probability, ≥ 1−(1−t^r)^bands per pair).
    *
    * With the default 32 bands of 2 rows, a pair at exactly the 0.5
    * threshold is missed with p = (1−0.25)^32 ≈ 1e-4, and anything at
    * 0.7+ with p ≤ 4e-10 — the verified output matches the exhaustive
    * [[jaccardPairs]] for all but adversarially-borderline corpora,
    * while candidate generation stays bucket-joined (never all-pairs).
    */
  def minHashNearDupVerified(docs: DataFrame, idCol: String, textCol: String,
                             n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                             threshold: Double = 0.5,
                             maxBucket: Option[Int] = None,
                             precomputedSigs: Option[DataFrame] = None)
      : DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // `precomputedSigs` (round-15, guide §2.4): the signature frame is
    // a full shingle+minhash pass over `docs` — a caller that already
    // holds `minHashSignatures(docs, idCol, textCol, n, numHashes)`
    // for EXACTLY this doc set (the streaming curation batch computes
    // it once and reuses it across the incremental probe, the
    // batch-internal pass and the index append) passes it here and the
    // pass is skipped. Contract: same doc set, same (n, numHashes) —
    // a superset would leak phantom candidate ids into the banding.
    // Only worth it when the caller's materialized frame replaces ≥3
    // signature executions: at 2 references the checkpoint write+read
    // measured slower than one duplicate recompute (q45/q78 probes).
    val sig = precomputedSigs.getOrElse(
      minHashSignatures(docs, idCol, textCol, n, numHashes))
    val cands = lshCandidates(sig, idCol, bands, numHashes / bands, maxBucket)
    val sh = shingles(docs, idCol, textCol, n)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    // exact verify restricted to candidate pairs: fan each pair out to
    // side-a shingles, inner-join side-b on (id_b, shingle) — the join
    // only materializes shingles of docs that actually collided
    val common = cands
      .join(sh.toDF("id_a", "shingle"), Seq("id_a"))
      .join(sh.toDF("id_b", "shingle"), Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("_common"))
    common
      .join(sizes.toDF("id_a", "_na"), Seq("id_a"))
      .join(sizes.toDF("id_b", "_nb"), Seq("id_b"))
      .withColumn("jaccard",
        round(col("_common").cast("double") /
          (col("_na") + col("_nb") - col("_common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Incremental near-dup for continuous ingestion: a NEW batch probed
    * against a STORED signature index (`storedSigs`: (id, signature)
    * rows persisted by [[minHashSignatures]] when each earlier batch
    * landed). Only new-vs-stored band collisions are generated —
    * stored-vs-stored pairs were found when the index was built, so a
    * batch costs O(|batch| + collisions), never O(|corpus|): the
    * corpus is re-read as signatures (32 longs/doc), its text never
    * re-shingled. Batch-internal dups come from [[minHashNearDup]] on
    * the (small) batch itself when wanted.
    *
    * Verify = signature-agreement estimate against the STORED
    * signature, same estimator and threshold semantics as
    * [[minHashNearDup]]. Output: (id_new, id_stored, est_jaccard).
    */
  def incrementalNearDup(newDocs: DataFrame, idCol: String, textCol: String,
                         storedSigs: DataFrame,
                         n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                         threshold: Double = 0.5,
                         maxBucket: Option[Int] = None,
                         precomputedNewSigs: Option[DataFrame] = None)
      : DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // same seam as [[minHashNearDupVerified]]'s `precomputedSigs`: the
    // batch signature build is skippable when the caller already holds
    // it (exact doc set, same (n, numHashes)). The lazy signature
    // pipeline is referenced by the banding AND the estimate join, so
    // a caller-materialized frame also stops the shingle pass from
    // re-executing once per reference.
    val newSigs = precomputedNewSigs.getOrElse(
      minHashSignatures(newDocs, idCol, textCol, n, numHashes))
    val newBands = bandBuckets(newSigs, idCol, bands, r)
      .toDF("id_new", "band", "bucket")
    val storedBands = capBuckets(
        bandBuckets(storedSigs, idCol, bands, r),
        idCol, Seq("band", "bucket"), maxBucket)
      .toDF("id_stored", "band", "bucket")
    val cands = newBands.join(storedBands, Seq("band", "bucket"))
      .select(col("id_new"), col("id_stored")).distinct()
    // codegen'd agreement count (ArrayAgreeCount) — see minHashNearDup
    val estEq = graft.functions.VectorExprs.agreeCount(col("_sa"), col("_sb"))
    cands
      .join(newSigs.toDF("id_new", "_sa"), Seq("id_new"))
      .join(storedSigs.toDF("id_stored", "_sb"), Seq("id_stored"))
      .withColumn("est_jaccard", round(estEq.cast("double") / numHashes, 6))
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_new"), col("id_stored"), col("est_jaccard"))
  }

  /** [[incrementalNearDup]] with the EXACT-Jaccard verify of
    * [[minHashNearDupVerified]]: the index supplies candidates (band
    * collisions at estimate-threshold 0), then text is fetched ONLY
    * for colliding doc pairs — the production ingest shape where the
    * corpus store serves point reads for the handful of collisions
    * while its bulk is never re-scanned. Output has exact precision;
    * recall is the banding probability (≥ 1−(1−t^r)^bands per pair).
    */
  def incrementalNearDupVerified(newDocs: DataFrame, idCol: String,
                                 textCol: String, storedSigs: DataFrame,
                                 storedDocs: DataFrame,
                                 n: Int = 3, numHashes: Int = 64,
                                 bands: Int = 32, threshold: Double = 0.5,
                                 maxBucket: Option[Int] = None,
                                 precomputedNewSigs: Option[DataFrame] = None)
      : DataFrame = {
    val cands = incrementalNearDup(newDocs, idCol, textCol, storedSigs,
        n, numHashes, bands, threshold = 0.0, maxBucket,
        precomputedNewSigs)
      .select(col("id_new"), col("id_stored"))
    val shNew = shingles(newDocs, idCol, textCol, n)
    // the "point reads" promise, literally: only stored docs that
    // collided are ever shingled — without this semi-join the verify
    // stage re-shingles the whole corpus and the index bought nothing
    // (caught by the 10× smoke: 8.9× growth → sub-linear after)
    val hitDocs = storedDocs.join(
      cands.select(col("id_stored").as(idCol)).distinct(),
      Seq(idCol), "left_semi")
    val shOld = shingles(hitDocs, idCol, textCol, n)
    val sizesNew = shNew.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val sizesOld = shOld.groupBy(col(idCol)).agg(count(lit(1)).as("_n"))
    val common = cands
      .join(shNew.toDF("id_new", "shingle"), Seq("id_new"))
      .join(shOld.toDF("id_stored", "shingle"), Seq("id_stored", "shingle"))
      .groupBy(col("id_new"), col("id_stored"))
      .agg(count(lit(1)).as("_common"))
    common
      .join(sizesNew.toDF("id_new", "_na"), Seq("id_new"))
      .join(sizesOld.toDF("id_stored", "_nb"), Seq("id_stored"))
      .withColumn("jaccard",
        round(col("_common").cast("double") /
          (col("_na") + col("_nb") - col("_common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_stored"), col("jaccard"))
  }

  /** Benchmark-contamination rate per document: the fraction of its
    * n-gram shingles that appear anywhere in the benchmark corpus (the
    * eval-set leakage check every training-data pipeline needs before
    * a corpus ships). The benchmark side is distinct-projected to a
    * shingle set — typically tiny next to the corpus, so Spark
    * broadcasts it and the document side never shuffles.
    */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchIdCol: String,
                    benchTextCol: String, n: Int = 3): DataFrame = {
    val docSh = shingles(docs, idCol, textCol, n)
    val benchSh = shingles(bench, benchIdCol, benchTextCol, n)
      .select(col("shingle")).distinct().withColumn("_hit", lit(1))
    docSh.join(benchSh, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        round(sum(coalesce(col("_hit"), lit(0))).cast("double") /
          count(lit(1)), 6).as("contamination"))
  }

  /** Duplicate-cluster assignment: connected components over near-dup
    * pairs, labeling every document with the MIN id of its component
    * (isolated docs label themselves) — the step a production dedup
    * actually runs after pair generation, since near-duplication is
    * transitive in effect (A≈B, B≈C ⇒ one cluster even if A,C were
    * never paired).
    *
    * Min-label propagation: each iteration is one join + one grouped
    * min, labels only travel one hop, and dup clusters have tiny
    * diameters — the driver loop re-plans per iteration with a
    * convergence count, the standard Spark shape for iterative
    * fixpoints (ALS does the same). Label frames are cached per
    * iteration and unpersisted as soon as superseded.
    */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                  maxIter: Int = 20): DataFrame = {
    // materialize the PAIR frame once (eager localCheckpoint): it is
    // typically an LSH+verify pipeline, and building the symmetric
    // edge list from the raw frame would execute that pipeline once
    // per union branch and once per iteration (measured 30× slowdown).
    // Every later reference — both union sides, each round, the
    // isolated-docs anti-join — is then a scan of materialized blocks,
    // so no cache/unpersist lifecycle is needed at all.
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint()
    val edges = p.select(col("id_a").as("_s"), col("id_b").as("_d"))
      .union(p.select(col("id_b").as("_s"), col("id_a").as("_d")))
    // Only edge-touched nodes enter the loop — isolated docs (the vast
    // majority of a deduped corpus) are their own cluster by definition
    // and would otherwise pay every iteration's shuffle for nothing.
    // First hop folds into initialization: label = min(id, min nbr id).
    //
    // localCheckpoint (eager), NOT cache: a cached frame still carries
    // its full lineage into every downstream analysis, so the per-
    // iteration plan tree deepens and analyzer/optimizer cost compounds
    // — measured poisoning the whole session. The checkpoint flattens
    // each iteration to an RDD-backed scan.
    var labels = edges.groupBy(col("_s"))
      .agg(min(col("_d")).as("_m"))
      .select(col("_s").as("_id"), least(col("_s"), col("_m")).as("_lbl"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // One plan per round, one checkpoint: (1) propagate — min over
      // the neighbors' labels; (2) pointer-jump — a label is itself a
      // node id in the same component, so take the LABEL'S label too
      // (path compression: reach doubles per round, O(log diameter)
      // rounds instead of O(diameter)); (3) carry a change flag so
      // convergence is a scan of the checkpointed result, not another
      // shuffle-join + count job.
      val nbrMin = labels
        .join(edges, col("_id") === col("_d"))
        .groupBy(col("_s")).agg(min(col("_lbl")).as("_nm"))
      val prop = labels
        .join(nbrMin.select(col("_s").as("_id2"), col("_nm")),
          col("_id") === col("_id2"), "left")
        .select(col("_id"), col("_lbl").as("_old"),
          least(col("_lbl"), coalesce(col("_nm"), col("_lbl"))).as("_p"))
      val jumped = prop
        .join(labels.select(col("_id").as("_pid"), col("_lbl").as("_plbl")),
          col("_p") === col("_pid"), "left")
        .select(col("_id"), col("_old"),
          least(col("_p"), coalesce(col("_plbl"), col("_p"))).as("_lbl"))
        .withColumn("_chg", (col("_lbl") =!= col("_old")).cast("int"))
        .localCheckpoint()
      val changed = jumped.agg(coalesce(max(col("_chg")), lit(0)))
        .first().getInt(0)
      labels = jumped.select(col("_id"), col("_lbl"))
      converged = changed == 0
      i += 1
    }
    // isolated docs: never touched by an edge → cluster = self. The
    // anti-join scans the checkpointed pair blocks; the union stays
    // lazy — the caller's one action executes it once.
    val isolated = docs.select(col(idCol).as("_id"))
      .join(edges.select(col("_s").as("_id")).distinct(),
        Seq("_id"), "left_anti")
      .select(col("_id"), col("_id").as("_lbl"))
    labels.union(isolated)
      .select(col("_id").as(idCol), col("_lbl").as("cluster"))
  }

  /** Cluster canonicalization — the step every dedup pipeline runs
    * after [[dupClusters]]: keep ONE representative per near-dup
    * cluster, chosen by a score (highest quality wins, lowest id
    * breaks ties deterministically). One grouped aggregation over the
    * (id → cluster) labels joined with the score table: `max_by` on
    * the (score, −id) struct keeps the argmax entirely map-side
    * partial — no window, no per-cluster sort. Emits
    * (cluster, canonical_id, n_members, best_score).
    */
  def canonicalize(clusters: DataFrame, scores: DataFrame, idCol: String,
                   clusterCol: String, scoreCol: String): DataFrame =
    clusters.join(scores, Seq(idCol))
      .groupBy(col(clusterCol))
      .agg(
        max_by(col(idCol),
          struct(col(scoreCol), (-col(idCol)).as("_t"))).as("canonical_id"),
        count(lit(1)).as("n_members"),
        max(col(scoreCol)).as("best_score"))

  /** Number of SimHash fingerprint bits (and the band split: 4 bands
    * of [[SimBits]]/4). 60, not 64: the per-token hash is the leading
    * 15 hex digits of md5 — a hash BOTH engines can compute
    * bit-identically (Spark `conv(substring(md5(t),1,15),16,10)`,
    * DuckDB `CAST('0x'||substring(md5(t),1,15) AS BIGINT)`), which is
    * what lets the q46 oracle replay the fingerprints exactly instead
    * of settling for a rows-only check. md5's avalanche is as good a
    * SimHash basis as xxhash64; 60 vs 64 bits changes banding recall
    * negligibly (15-bit bands vs 16-bit).
    */
  val SimBits = 60

  /** SimHash fingerprint per document: token-frequency-weighted bit
    * votes over the engine-portable md5-60 token hash ([[SimBits]]).
    * 60 per-bit vote sums in ONE grouped aggregation (all codegen'd),
    * then bit assembly.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("_t"))
      .withColumn("_h",
        conv(substring(md5(col("_t")), 1, 15), 16, 10).cast("long"))
    val votes = (0 until SimBits).map { j =>
      sum(when(shiftrightunsigned(col("_h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"_v$j")
    }
    val fp = (0 until SimBits)
      .map(j => when(col(s"_v$j") > 0, lit(1L << j)).otherwise(0L))
      .reduce(_ + _)
    tok.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol), fp.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist`.
    * Candidates come from equality on 15-bit bands (any pair within
    * Hamming 3 shares at least one of 4 bands — pigeonhole); verify
    * with `bit_count(xor)`.
    */
  def simHashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     maxDist: Int = 3,
                     cacheFingerprints: Boolean = false,
                     maxBucket: Option[Int] = None): DataFrame = {
    // same caching contract as [[minHashNearDup]]; same hot-bucket cap
    // contract as [[lshCandidates]] (a 15-bit band of near-identical
    // fingerprints is the k-copies hazard here)
    val fp0 = simHash(docs, idCol, textCol)
    val fp = if (cacheFingerprints) fp0.cache() else fp0
    hammingNearDup(fp, idCol, "simhash", SimBits, 4, maxDist, maxBucket)
  }

  /** Hamming near-dup pairs over ANY integer fingerprint column — the
    * banding+verify core shared by [[simHashNearDup]] (60-bit text
    * SimHash) and [[Multimodal.imageNearDup]] (64-bit image dHash),
    * and open to any future modality fingerprint (audio chroma, video
    * scene hashes). Candidates come from equality on `nBands` bit
    * bands of `bits/nBands` bits each — pigeonhole guarantees every
    * pair within Hamming `nBands - 1` shares at least one band, so
    * candidate recall is EXACT when `nBands > maxDist` and
    * best-effort beyond that radius (the historical simHash contract:
    * a wider verify radius still only ever ADDS pairs) — verified
    * with `bit_count(xor)`. Output: (id_a, id_b, hamming), one row
    * per unordered pair.
    *
    * Scale: the fingerprint frame is ~16 bytes/row whatever the
    * payload size (the 100 TB image corpus reduces to a few hundred
    * GB of hashes before any join); candidates shuffle on the
    * (band, bucket) key, never all-pairs; `maxBucket` caps degenerate
    * buckets (k identical images) exactly like the LSH path.
    */
  def hammingNearDup(fp: DataFrame, idCol: String, fpCol: String,
                     bits: Int, nBands: Int, maxDist: Int,
                     maxBucket: Option[Int] = None): DataFrame = {
    require(bits % nBands == 0 && bits <= 64,
      s"bits ($bits) must be a multiple of nBands ($nBands) and <= 64")
    val bandBits = bits / nBands
    val bandMask = (1L << bandBits) - 1
    val banded = capBuckets(
      fp.select(col(idCol), col(fpCol),
        explode(array((0 until nBands).map(j =>
          struct(lit(j).as("band"),
            shiftrightunsigned(col(fpCol), j * bandBits)
              .bitwiseAND(lit(bandMask)).as("bucket"))): _*)).as("b"))
        .select(col(idCol), col(fpCol), col("b.band"), col("b.bucket")),
      idCol, Seq("band", "bucket"), maxBucket)
    val left = banded.toDF("id_a", "fp_a", "band", "bucket")
    val right = banded.toDF("id_b", "fp_b", "band", "bucket")
    // same corpus-sized self-join shape as [[lshCandidates]] — same
    // SHUFFLE_HASH hint for the same Generate-fan-out estimation trap
    left.join(right.hint("shuffle_hash"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Cross-document chunk-level exact dedup — the scalable stand-in
    * for suffix-array substring dedup (the "dedup the boilerplate,
    * keep the document" operation; cf. Lee et al. 2022 and the
    * RefinedWeb line-dedup recipe): split every document into
    * consecutive `chunkTokens`-token chunks, count each chunk's
    * distinct-document frequency corpus-wide, REMOVE every occurrence
    * of any chunk appearing in more than `maxDocs` documents, and
    * reassemble the survivors in order. Document-level dedup
    * (exact / MinHash / SimHash) drops whole near-copies; this kills
    * templates, headers and license blocks shared ACROSS otherwise
    * distinct documents without dropping the documents themselves.
    *
    * Output: one row per input document —
    * (id, text_dedup, n_chunks, n_removed).
    *
    * Scale: the chunk stream is |tokens|/chunkTokens rows; the
    * frequency count is ONE map-side-combinable aggregation keyed on
    * the chunk text; only the duplicated-key set (freq > maxDocs) —
    * tiny at natural dup rates — joins back (left_anti, AQE
    * broadcasts it when it fits); reassembly is one keyed aggregation
    * with an in-row `array_sort` over (idx, chunk) structs — no
    * window, no row-level sort, two shuffles total beyond the scans.
    * The chunk-frequency shuffle carries each distinct chunk string
    * once per doc; at 100 TB key it on xxhash64(chunk) instead to
    * halve bytes (collision odds ~n²/2⁶⁴) — string keys are kept here
    * so the SQL oracle replays membership exactly.
    */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 6, maxDocs: Int = 1): DataFrame = {
    val chunks = chunkStream(docs, idCol, textCol, chunkTokens)
    val dup = chunks.groupBy(col("_chunk"))
      .agg(count_distinct(col(idCol)).as("_nd"))
      .filter(col("_nd") > maxDocs)
      .select(col("_chunk"))
    reassembled(chunks, chunks.join(dup, Seq("_chunk"), "left_anti"),
      idCol, "text_dedup")
  }

  /** Benchmark DECONTAMINATION — the removal face of [[contamination]]
    * (which only measures): strip from every document each aligned
    * `chunkTokens`-token chunk whose exact text appears at ANY token
    * offset in the benchmark/eval corpus, reassembling the survivors
    * in order. The removal GUARANTEE is for verbatim benchmark
    * passages of ≥ 2·chunkTokens−1 tokens: those cannot survive at
    * any training-side offset (proof below). A shorter passage
    * (chunkTokens..2·chunkTokens−2 tokens) landing misaligned across
    * a training chunk boundary may survive, because no aligned
    * training chunk falls fully inside it — that residual granularity
    * is [[contamination]]'s measuring job, not removal's.
    * Output: (id, text_clean, n_chunks, n_removed).
    *
    * Membership is alignment-free on the BENCH side: the set holds
    * every `chunkTokens`-token sliding window of the benchmark (the
    * [[substrDupSpans]] gram construction) plus the benchmark's own
    * non-overlapping chunk stream (which adds sub-`chunkTokens` tails
    * and short docs). A benchmark passage of ≥ 2·chunkTokens−1 tokens
    * occurring at any offset in a training doc therefore always covers
    * at least one aligned training chunk, and that chunk matches a
    * bench window — so no verbatim leak of that length survives
    * regardless of where it lands in the training text. (Training
    * chunks themselves stay non-overlapping.)
    *
    * Scale: the benchmark set derives from the EVAL corpus — orders of
    * magnitude smaller than training data by nature — so the
    * ~chunkTokens× sliding-window blow-up is free and the set is
    * explicitly broadcast (same contract [[contamination]] pins for
    * its shingle set); the anti-join is map-side: the corpus-sized
    * chunk stream never shuffles for the membership test, only for
    * the per-doc reassembly.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    bench: DataFrame, benchIdCol: String,
                    benchTextCol: String, chunkTokens: Int = 6): DataFrame = {
    val chunks = chunkStream(docs, idCol, textCol, chunkTokens)
    val benchGrams = bench
      .withColumn("_toks", split(col(benchTextCol), " "))
      .select(explode(
        graft.functions.TextExprs.wordNgrams(col("_toks"), chunkTokens))
        .as("_chunk"))
    val benchChunks = broadcast(
      chunkStream(bench, benchIdCol, benchTextCol, chunkTokens)
        .select(col("_chunk"))
        .unionByName(benchGrams).distinct())
    reassembled(chunks, chunks.join(benchChunks, Seq("_chunk"), "left_anti"),
      idCol, "text_clean")
  }

  /** SOFT dedup — the downweighting alternative to
    * [[canonicalize]]'s keep-one-per-cluster: every member of a
    * near-dup cluster gets sample weight `1/|cluster|` and a
    * deterministic keep flag drawn at that rate (md5 hash draw on the
    * doc id), so each cluster contributes ~1 expected document while
    * which copy survives stays unbiased — the soft-dedup shape data-
    * mixing work uses when hard dedup would throw away quality signal
    * (independently-drawn copies can all drop or all survive; use
    * [[canonicalize]] when exactly-one is required).
    *
    * Scale: one count aggregation on the cluster id + one equi-join
    * back; the draw is a narrow codegen'd projection. Repartition-
    * invariant and engine-replayable (pure function of ids).
    * Output: `(id, cluster, n_members, weight, kept)`.
    *
    * The default salt is function-specific ("softDedup"), NOT the
    * empty string: `hashDraw(id, "")` is the identical draw
    * [[Sampling.hashSample]]/[[Sampling.splitAssign]] make on the same
    * key with THEIR defaults, so an empty default would perfectly
    * correlate keep decisions with any other default-salted sampler in
    * the same pipeline — the exact coupling salting exists to prevent.
    */
  def softDedup(clusters: DataFrame, idCol: String, clusterCol: String,
                salt: String = "softDedup"): DataFrame = {
    val sizes = clusters.groupBy(col(clusterCol))
      .agg(count(lit(1)).as("n_members"))
    clusters.join(sizes, Seq(clusterCol))
      .withColumn("weight", round(lit(1.0) / col("n_members"), 6))
      .withColumn("kept",
        (Sampling.hashDraw(col(idCol), salt) < col("weight")).cast("int"))
      .select(col(idCol), col(clusterCol), col("n_members"),
        col("weight"), col("kept"))
  }

  /** Exact-substring duplicate SPANS — the sliding-window face of
    * [[chunkDedup]] (which is non-overlapping): mark every `w`-token
    * window whose exact text occurs more than once anywhere in the
    * corpus, merge a document's overlapping/adjacent duplicated
    * windows into maximal spans, and report per-document duplicated-
    * token coverage. This is the reporting shape of suffix-array
    * exact-substring dedup (duplicated ≥w-token passages — boilerplate
    * headers, license blocks, syndicated paragraphs — that document-
    * level near-dup misses because the surrounding text differs).
    *
    * Scale design: windows shuffle once on the gram for the
    * duplicate test (map-side partial counts; AQE splits hot
    * boilerplate grams), duplicated occurrences shuffle once on
    * doc_id for the span merge — window state per doc is bounded by
    * document length, never corpus size. At 100 TB key the duplicate
    * test on `xxhash64(gram)` to shrink shuffle bytes (the string key
    * is kept here so the SQL oracle replays membership exactly).
    *
    * Output: `(doc_id, n_tokens, n_spans, dup_tokens, dup_frac)` —
    * one row per input document (docs shorter than `w` tokens or with
    * no duplicated window report zero coverage).
    */
  def substrDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     w: Int = 5): DataFrame = {
    val grams = docs.withColumn("_toks", split(col(textCol), " "))
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextExprs.wordNgrams(col("_toks"), w))
          .as(Seq("pos", "gram")))
    val dup = grams.groupBy(col("gram")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > 1).select(col("gram"))
    val occ = grams.join(dup, Seq("gram"))
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + (w - 1)).cast("long").as("e"))
    // gaps-and-islands merge: a window starts a new span iff it
    // begins past every previously-seen end + 1 (adjacent spans fuse)
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val spans = occ
      .withColumn("_pmax",
        max(col("e")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_brk",
        when(col("s") > coalesce(col("_pmax"), lit(-1L)) + 1, 1).otherwise(0))
      .withColumn("_gid",
        sum(col("_brk")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("_gid"))
      .agg(min(col("s")).as("s0"), max(col("e")).as("e0"))
    val per = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e0") - col("s0") + 1).as("dup_tokens"))
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          col("n_tokens"), 4).as("dup_frac"))
  }

  /** The TRANSFORM face of [[substrDupSpans]] — exact-substring dedup
    * that actually EDITS the corpus (the Lee et al. 2022 "deduplicating
    * training data" rewrite): for every duplicated `w`-token window the
    * corpus-wide FIRST occurrence (min doc_id, then min position) is
    * canonical and survives; every other occurrence is merged into
    * maximal per-doc spans and its tokens are dropped from the
    * document. One copy of each duplicated passage remains in the
    * corpus; boilerplate disappears from everywhere else.
    *
    * Scale design: same two gram-keyed shuffles as [[substrDupSpans]]
    * (the canonical key rides the SAME map-side-combinable aggregation
    * that finds duplicates — `min(doc_id·2^32 + pos)` — never a
    * row_number window over hot boilerplate grams), one doc-keyed
    * window whose state is bounded by document length, and reassembly
    * as ONE narrow projection: the merged spans collect to a per-doc
    * array (≤ len/1 entries) and a codegen'd merge-walk
    * ([[graft.functions.JoinTokensExcept]], O(tokens + spans)) emits
    * the cleaned text — the raw corpus text never shuffles.
    *
    * Contracts: positions pack as `doc_id·2^32 + pos`, so doc ids must
    * fit 31 bits and documents 2^32 tokens (any real corpus; ids
    * beyond that re-key upstream). `clean_text` is the kept tokens
    * re-joined with single spaces (canonical whitespace — same
    * convention as the SQL reassembly). Docs shorter than `w` tokens
    * or with nothing duplicated pass through intact (modulo the
    * whitespace canonicalization); a fully-covered doc yields ''.
    *
    * Output: `(doc_id, n_tokens, n_removed, clean_text)` — one row per
    * input document; `n_removed ≤` [[substrDupSpans]]' `dup_tokens`
    * (canonical windows stay).
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     w: Int = 5): DataFrame = {
    val packKey = col("doc_id") * lit(4294967296L) + col("pos")
    val grams = docs.withColumn("_toks", split(col(textCol), " "))
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.TextExprs.wordNgrams(col("_toks"), w))
          .as(Seq("pos", "gram")))
    val dup = grams.groupBy(col("gram"))
      .agg(count(lit(1)).as("_n"), min(packKey).as("_canon"))
      .filter(col("_n") > 1)
      .select(col("gram"), col("_canon"))
    val occ = grams.join(dup, Seq("gram"))
      .filter(packKey =!= col("_canon"))
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + (w - 1)).cast("long").as("e"))
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val spans = occ
      .withColumn("_pmax",
        max(col("e")).over(ord.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_brk",
        when(col("s") > coalesce(col("_pmax"), lit(-1L)) + 1, 1).otherwise(0))
      .withColumn("_gid",
        sum(col("_brk")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("_gid"))
      .agg(min(col("s")).as("s0"), max(col("e")).as("e0"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s0"), col("e0"))))
          .as("_spans"),
        sum(col("e0") - col("s0") + 1).as("_rm"))
    val emptyLongs = array().cast("array<bigint>")
    docs.select(col(idCol).as("doc_id"), col(textCol).as("_text"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(split(col("_text"), " ")).cast("long").as("n_tokens"),
        coalesce(col("_rm"), lit(0L)).as("n_removed"),
        graft.functions.TextExprs.joinTokensExcept(
          split(col("_text"), " "),
          coalesce(col("_spans.s0"), emptyLongs),
          coalesce(col("_spans.e0"), emptyLongs)).as("clean_text"))
  }

  /** One row per consecutive `k`-token chunk: (id, _idx, _chunk) —
    * non-overlapping, last chunk partial. Shuffle-free scan
    * projection; the shared candidate stream of [[chunkDedup]] and
    * [[decontaminate]].
    */
  private def chunkStream(df: DataFrame, idCol: String, textCol: String,
                          k: Int): DataFrame =
    df.withColumn("_toks", split(col(textCol), " "))
      .select(col(idCol),
        posexplode(expr(
          s"transform(sequence(0, (size(_toks) - 1) div $k), " +
            s"i -> concat_ws(' ', slice(_toks, i * $k + 1, $k)))"))
          .as(Seq("_idx", "_chunk")))

  /** Rebuild documents from a surviving chunk subset: in-order
    * reassembly via one keyed aggregation with an in-row `array_sort`
    * over (idx, chunk) structs — no window, no row-level sort. Docs
    * that lost every chunk keep a row with an empty `textOut`.
    */
  private def reassembled(chunks: DataFrame, kept: DataFrame, idCol: String,
                          textOut: String): DataFrame = {
    val rea = kept.groupBy(col(idCol))
      .agg(
        concat_ws(" ",
          transform(
            array_sort(collect_list(struct(col("_idx"), col("_chunk")))),
            (s: Column) => s.getField("_chunk"))).as(textOut),
        count(lit(1)).as("_n_kept"))
    chunks.groupBy(col(idCol)).agg(count(lit(1)).as("n_chunks"))
      .join(rea, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(textOut), lit("")).as(textOut),
        col("n_chunks"),
        (col("n_chunks") - coalesce(col("_n_kept"), lit(0L))).as("n_removed"))
  }
}
