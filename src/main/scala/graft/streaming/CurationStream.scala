package graft.streaming

import graft.functions.BoundLong
import graft.llm.{Dedup, Sampling, TextAnalysis}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, StructType}
import org.apache.spark.util.sketch.BloomFilter

/** STREAMING corpus curation — the continuous-ingestion face of
  * [[graft.llm.CorpusPipeline]]: each micro-batch of documents runs
  * the same language → quality → exact-dedup → near-dup funnel, but
  * against a PERSISTED store, so a batch costs O(|batch| +
  * collisions), never O(corpus):
  *
  *  - exact dedup probes the store's content-hash set (anti-join on
  *    md5 — the hash table is one 32-char column, a fraction of
  *    corpus bytes). Both the replay id probe and the hash probe are
  *    BLOOM-BOUNDED: a persisted ~MB bloom sidecar (superset of the
  *    store by construction) screens the batch first, so the
  *    steady-state no-collision batch reads ZERO store rows and a
  *    colliding batch reads the store only for its bloom-positive
  *    residue (true dups + ≤1% false positives);
  *  - near-dup probes the store's MinHash signature index in the
  *    same pass that finds the batch's internal near-dups (the q141
  *    contract: the corpus is re-read as signatures, 32–64 longs/doc;
  *    TEXT is point-read only for band collisions);
  *  - survivors are APPENDED to the corpus/hash/signature tables —
  *    the stored state grows only by what survives, and nothing ever
  *    rewrites the corpus-sized tables;
  *  - per-source running stats (O(sources) rows) are folded forward
  *    and the mixture plan re-derived from them
  *    ([[Sampling.mixturePlanFromStats]]) — continuous re-planning
  *    without re-scanning the corpus.
  *
  * Idempotent replay: foreachBatch is at-least-once on failure — a
  * replayed micro-batch converges to exactly-once STORE contents:
  * already-ingested ids drop out at the leading id anti-join, and the
  * batch's previously-REJECTED ids re-run the funnel only to be
  * rejected again by the same store state (their surviving twins'
  * content hashes and signatures are already present), so every
  * append is empty. The same property makes the pipeline safe to
  * backfill: feeding an already-processed input again is a store
  * no-op.
  *
  * Ordering semantics (pinned, mirrored by the q182 oracle): within
  * a batch, exact dedup keeps the MIN id per content hash; the store
  * always wins against the batch (store-vs-batch collisions drop the
  * batch doc); batch-internal near-dup drops the larger id of each
  * verified pair AFTER store collisions are removed. Near-dup is ONE
  * pass ([[Dedup.batchNearDupVerified]]): the batch×store and
  * batch×batch pairs are found and verified in one plan, and the
  * order is applied over them — a batch pair counts only when neither
  * doc has a verified stored partner, exactly what an internal pass
  * over the store-deduped batch finds. A cross-batch near-dup chain
  * is greedy-online: a doc dropped for colliding with the store never
  * enters the index, so a later doc colliding only with IT is kept —
  * the documented difference from the all-at-once batch pipeline.
  *
  * Store tables and their schemas, fixed by the batch and read with
  * them (no schema-inference job per read; an absent table reads as
  * `None`):
  *  - `corpus`: the batch's own columns (read nullable, like every
  *    parquet read);
  *  - `hashes`: `_h string`, the md5 of each stored text;
  *  - `sigs`: `(idCol, signature array<bigint>)`, the MinHash index;
  *  - `probe_bloom`: `(kind, bytes, n_items, capacity, fpp)`, the
  *    bloom sidecar ([[StoreBloom]]);
  *  - `source_stats`: `(source, n_docs, avail_tokens)` when mixture
  *    weights are set.
  * A batch whose columns differ from the stored corpus's reads the
  * store with its own columns, so `idCol` and `textCol` must keep
  * their types across batches.
  */
object CurationStream {

  final case class Config(lang: String = "en", minQuality: Double = 0.5,
                          jaccardThreshold: Double = 0.5,
                          n: Int = 3, numHashes: Int = 64, bands: Int = 32,
                          sourceCol: String = "source",
                          weights: Map[String, Double] = Map.empty,
                          budget: Long = 0L, maxEpochs: Int = 4,
                          bloomCapacity: Long = 1L << 16,
                          bloomFpp: Double = 0.01)

  /** A store table read with the schema the batch fixes for it, or
    * `None` when the table does not exist yet. An explicit schema
    * skips Spark's footer-reading inference job, which a bare
    * `read.parquet(dir)` starts on every call; the directory is still
    * listed on the driver.
    */
  private def readOpt(spark: SparkSession, path: String,
                      schema: StructType): Option[DataFrame] =
    try Some(spark.read.schema(schema).parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  private val HashesSchema = StructType.fromDDL("_h STRING")
  private val BloomSchema = StructType.fromDDL(
    "kind STRING, bytes BINARY, n_items BIGINT, capacity BIGINT, fpp DOUBLE")

  // ---------------------------------------------------------------- //
  // Bloom sidecar: bounds the per-batch store probes.                //
  // ---------------------------------------------------------------- //

  /** Driver-held summary of one store key set (ids or content hashes).
    * INVARIANT: the persisted bloom is always a SUPERSET of the store
    * keys — it is written (pre-merged with the batch's survivors)
    * BEFORE the store append, so a crash between the two leaves a
    * bloom that over-approximates (extra exact probes, no correctness
    * effect), never one that under-approximates (which would let a
    * replayed or colliding doc skip its exact check and duplicate the
    * store). `nItems`/`capacity` track saturation: past capacity the
    * filter is rebuilt from the store at 4× size — O(log n) rebuild
    * scans over the store's lifetime, amortized O(1) per batch. The
    * default capacity starts SMALL (64k ≈ 75 KB of bits) precisely
    * because growth is cheap: every probe embeds the bloom bytes as a
    * plan literal and every commit builds a batch bloom at the
    * sidecar's capacity, so an oversized bloom taxes each batch (a
    * 4M-item bloom is ~4.8 MB of task binary per probe) while an
    * undersized one costs only its next rebuild. Multi-billion-row
    * stores outgrow a single driver bloom (~1.2 GB at 10^9 items) —
    * the seam there is a sidecar SHARDED by key range with a
    * per-shard bloom column joined on shard id, which this layout's
    * (kind, bytes) schema extends to.
    */
  private[graft] final case class StoreBloom(bf: BloomFilter, nItems: Long,
                                                 capacity: Long, fpp: Double)

  private def bloomBytes(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Read the sidecar (`kind` → bloom) eagerly: the bytes are collected
    * to the driver at read time so the later same-path overwrite can
    * never race the read. Any unreadable/partial sidecar degrades to
    * "absent" — the probe falls back to the exact full anti-join and
    * the next commit rebuilds the sidecar from the store.
    */
  private[graft] def readBlooms(spark: SparkSession, storePath: String)
      : Map[String, StoreBloom] =
    try {
      spark.read.schema(BloomSchema).parquet(s"$storePath/probe_bloom")
        .collect()
        .map { r =>
          val bf = BloomFilter.readFrom(
            new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bytes")))
          r.getAs[String]("kind") ->
            StoreBloom(bf, r.getAs[Long]("n_items"),
              r.getAs[Long]("capacity"), r.getAs[Double]("fpp"))
        }.toMap
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  private def writeBlooms(spark: SparkSession, storePath: String,
                          blooms: Map[String, StoreBloom]): Unit = {
    import spark.implicits._
    blooms.toSeq
      .map { case (k, b) => (k, bloomBytes(b.bf), b.nItems, b.capacity, b.fpp) }
      .toDF("kind", "bytes", "n_items", "capacity", "fpp")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$storePath/probe_bloom")
  }

  /** `might_contain(bloom, xxhash64(key))` — Spark's native codegen'd
    * bloom probe over a foldable literal (same build/probe hashing
    * contract as [[graft.operators.BloomJoin]]: both sides go through
    * xxhash64). Null keys test null → `coalesce(false)` at call sites.
    */
  private def mightContain(bf: BloomFilter, key: Column): Column =
    Bridge.column(BloomFilterMightContain(
      Literal(bloomBytes(bf), BinaryType),
      Bridge.expression(xxhash64(key))))

  /** Anti-join `batch` against a store key set, bloom-bounded: rows
    * whose key fails the bloom are DEFINITELY not in the store and
    * pass through with zero store reads; only the bloom-positive
    * residue (true collisions + ≤ fpp false positives) runs the exact
    * anti-join, and when that residue is empty — the steady-state
    * no-collision batch — the store is not read at all (the function
    * returns `batch` itself, reference-equal, which the spec pins).
    * Without a sidecar (first batch / legacy store) this is the plain
    * full anti-join.
    *
    * Round-14 job-count reduction: the probe is ONE action (a
    * bloom-filtered `isEmpty`), not a checkpoint + `isEmpty` pair —
    * the residue filter re-evaluates in the non-empty branch instead
    * of being materialized. `batch` must already be materialized
    * (a localCheckpoint, or local rows), so the re-evaluation is a
    * cheap deterministic re-read, and the steady-state reference-equal
    * return lets the CALLER skip its own second checkpoint too; a lazy
    * frame is rejected with `IllegalArgumentException`. The check reads
    * the optimized plan, where a rename over local rows folds into the
    * rows themselves.
    */
  private[streaming] def boundedAntiJoin(batch: DataFrame, key: Column,
                                         storeKeys: Option[DataFrame],
                                         storeKey: Column,
                                         bloom: Option[StoreBloom]): DataFrame = {
    require(batch.queryExecution.optimizedPlan match {
      case _: LogicalRDD | _: LocalRelation => true
      case _ => false
    }, "boundedAntiJoin re-reads its batch: pass a materialized frame " +
      "(localCheckpoint or local rows)")
    (storeKeys, bloom) match {
      case (None, _) => batch
      case (Some(st), None) =>
        batch.join(st, key === storeKey, "left_anti")
      case (Some(st), Some(b)) =>
        val hit = coalesce(mightContain(b.bf, key), lit(false))
        if (batch.filter(hit).isEmpty) batch
        else batch.filter(!hit)
          .unionByName(batch.filter(hit)
            .join(st, key === storeKey, "left_anti"))
    }
  }

  /** One `bloom_filter_agg` column with EXACTLY the parameters
    * `DataFrameStatFunctions.bloomFilter(key, cap, fpp)` uses
    * (`numBits = BloomFilter.optimalNumOfBits(cap, fpp)`, same
    * xxhash64 pre-hash) — so several batch blooms (and the batch
    * count) ride ONE job over the survivors instead of one scan per
    * sidecar, and the result stays `mergeInPlace`-compatible with
    * sidecars built by `stat.bloomFilter` (spec-pinned byte
    * equality).
    */
  private[streaming] def bloomAggCol(key: Column, cap: Long,
                                     fpp: Double): Column =
    Bridge.column(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(Bridge.expression(xxhash64(key)),
        Literal(cap), Literal(BloomFilter.optimalNumOfBits(cap, fpp)))
      .toAggregateExpression())

  /** Run `f` with the session's runtime-bloom caps raised to cover a
    * `(cap, fpp)` build, restoring them after. `BloomFilterAggregate`
    * silently `Math.min`s its numItems/numBits against
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`
    * (defaults 4e6 items / 67,108,864 bits) — and in Spark 4.x
    * `stat.bloomFilter` ITSELF routes through the same aggregate
    * (`Column.internalFn("bloom_filter_agg", …)`, verified in the
    * shipped sql-api bytecode), so past the caps EVERY sidecar and
    * batch bloom is silently clamped. The round-14 advice predicted an
    * `IncompatibleMergeException` crash at the 16.7M-capacity tier;
    * measured on 4.1.2 the two paths clamp IDENTICALLY, so nothing
    * throws — instead the sidecar's effective fpp silently degrades
    * as capacities grow 4× past the caps (67.1M bits serving 16.7M+
    * items), inflating exact-probe traffic at exactly the scale the
    * bloom exists for. Raising the caps around each build keeps the
    * sidecars honest at any capacity; scoping the raise keeps the
    * optimizer's own runtime-filter injection on its defaults
    * (round-15, from the round-14 advice — investigated, root cause
    * differs, spec pins both the merge-compat and the honest sizing).
    */
  private[streaming] def withBloomCaps[T](spark: SparkSession, cap: Long,
                                          fpp: Double)(f: => T): T = {
    val itemsK = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsK = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (oi, ob) = (spark.conf.get(itemsK), spark.conf.get(bitsK))
    spark.conf.set(itemsK, math.max(oi.toLong, cap).toString)
    spark.conf.set(bitsK, math.max(ob.toLong,
      BloomFilter.optimalNumOfBits(cap, fpp)).toString)
    try f
    finally { spark.conf.set(itemsK, oi); spark.conf.set(bitsK, ob) }
  }

  /** Fold the batch's surviving keys into the sidecar blooms — called
    * BEFORE the store append (see [[StoreBloom]]'s superset
    * invariant). Missing or saturated blooms are rebuilt from the
    * store tables (narrow single-column scans, amortized by the 4×
    * growth); merge compatibility is guaranteed by building every
    * batch bloom with the sidecar's own (capacity, fpp).
    *
    * `preBuilt` is the batch bloom already computed by the caller's
    * fused count+blooms job (at `existing`'s capacity/fpp) — used in
    * the merge fast path; the rebuild paths size their own.
    */
  private def mergedBloom(existing: Option[StoreBloom], batchKeys: DataFrame,
                          key: Column, nBatch: Long,
                          rebuildKeys: => Option[DataFrame], rebuildKey: Column,
                          cfg: Config,
                          preBuilt: Option[BloomFilter] = None): StoreBloom = {
    def build(src: DataFrame, k: Column, n: Long, cap: Long): StoreBloom =
      StoreBloom(withBloomCaps(src.sparkSession, cap, cfg.bloomFpp) {
        src.stat.bloomFilter(xxhash64(k), cap, cfg.bloomFpp)
      }, n, cap, cfg.bloomFpp)
    existing match {
      case Some(b) if b.nItems + nBatch <= b.capacity =>
        if (nBatch > 0)
          b.bf.mergeInPlace(preBuilt.getOrElse(
            withBloomCaps(batchKeys.sparkSession, b.capacity, b.fpp) {
              batchKeys.stat.bloomFilter(xxhash64(key), b.capacity, b.fpp)
            }))
        b.copy(nItems = b.nItems + nBatch)
      case _ =>
        // absent → first build; saturated → rebuild at ≥4× — from the
        // PRE-append store (exact count, since a missing sidecar on a
        // populated legacy store has no tracked nItems), then fold the
        // pending batch in
        rebuildKeys match {
          case Some(st) =>
            val storeN = st.count()
            val cap = math.max(cfg.bloomCapacity,
              java.lang.Long.highestOneBit(math.max(1L, storeN + nBatch)) * 4)
            val fresh = build(st, rebuildKey, storeN + nBatch, cap)
            if (nBatch > 0)
              fresh.bf.mergeInPlace(
                withBloomCaps(batchKeys.sparkSession, cap, cfg.bloomFpp) {
                  batchKeys.stat.bloomFilter(xxhash64(key), cap, cfg.bloomFpp)
                })
            fresh
          case None =>
            build(batchKeys, key, nBatch, math.max(cfg.bloomCapacity,
              java.lang.Long.highestOneBit(math.max(1L, nBatch)) * 4))
        }
    }
  }

  /** Curate ONE micro-batch against the store and commit the
    * survivors — the foreachBatch body, directly callable for the
    * batch twin (q182) and backfills. Returns the batch funnel:
    * `(stage, n)` rows for arrived / lang / quality / exact_dedup /
    * near_dup / store_total (post-commit corpus size).
    */
  def processBatch(batch: DataFrame, idCol: String, textCol: String,
                   profiles: Seq[(String, Seq[String])],
                   storePath: String, cfg: Config = Config()): DataFrame = {
    val spark = batch.sparkSession
    val storedDocs = readOpt(spark, s"$storePath/corpus", batch.schema)
    val blooms = readBlooms(spark, storePath)

    // replay idempotence: ids already ingested drop out up front, so a
    // redelivered micro-batch appends nothing. Bloom-bounded: the
    // steady-state batch (no redelivery) never reads the store here.
    // The batch is materialized ONCE (before the probe) so the
    // steady-state reference-equal pass-through needs no second
    // checkpoint and the source is scanned once, not once per probe
    // branch (round-14 job-count reduction).
    val arrived0 = batch.dropDuplicates(idCol).localCheckpoint()
    val aRaw = boundedAntiJoin(arrived0, col(idCol),
        storedDocs.map(_.select(col(idCol).as("_sid"))), col("_sid"),
        blooms.get("ids"))
    val a = if (aRaw eq arrived0) arrived0 else aRaw.localCheckpoint()

    // lang + quality ride the batch rows in ONE narrow projection
    // (bit-identical values — [[TextAnalysis.langQualityOn]]): the
    // previous shape re-scanned the batch text twice and semi-joined
    // each id set back on (two batch-scale shuffles per micro-batch)
    val scored = TextAnalysis.langQualityOn(a, textCol, profiles)
    val s2 = scored.filter(col("predicted_lang") === cfg.lang)
      .select(a.columns.map(col): _*)
    val s3 = scored.filter(col("predicted_lang") === cfg.lang &&
        col("quality") >= cfg.minQuality)
      .select(a.columns.map(col): _*).localCheckpoint()

    // exact dedup: batch-internal keep-min-id, then the store's
    // content-hash set (the store always wins). Same materialize-once
    // shape as the id probe: s4a is checkpointed, the steady-state
    // (no hash collision) s4 is a projection over it.
    val keepIds = Dedup.exactDedup(s3, idCol, textCol)
      .select(col("keep_id").as(idCol))
    val s4a = s3.join(keepIds, Seq(idCol), "left_semi")
      .withColumn("_h", md5(col(textCol)))
      .localCheckpoint()
    val s4Raw = boundedAntiJoin(s4a, col("_h"),
        readOpt(spark, s"$storePath/hashes", HashesSchema)
          .map(_.select(col("_h").as("_sh"))),
        col("_sh"), blooms.get("hashes"))
    val s4 = (if (s4Raw eq s4a) s4a else s4Raw.localCheckpoint())
      .drop("_h")

    // near-dup: ONE pass over the batch's band collisions with the
    // store's signature index and with itself, verified by exact
    // Jaccard in one plan and materialized once (text point-reads only
    // for stored docs that collided). The batch's MinHash signatures
    // are computed ONCE on the exact-deduped batch and reused by the
    // pass and by the index append below (semi-joined down to the
    // survivors, value-identical: a signature is a per-doc function of
    // its text).
    val batchSigs = Dedup.minHashSignatures(s4, idCol, textCol,
      cfg.n, cfg.numHashes).localCheckpoint()
    def sigsOf(df: DataFrame): DataFrame =
      batchSigs.join(df.select(col(idCol)), Seq(idCol), "left_semi")
    val pairs = Dedup.batchNearDupVerified(s4, batchSigs, idCol, textCol,
      for (sigs <- readOpt(spark, s"$storePath/sigs", batchSigs.schema);
           docs <- storedDocs) yield (sigs, docs),
      n = cfg.n, numHashes = cfg.numHashes, bands = cfg.bands,
      threshold = cfg.jaccardThreshold)
    // the pinned order in one aggregation over the verified pairs,
    // keyed by the batch doc `id_a`: a doc with a stored partner drops
    // itself and none of its larger batch partners (the internal pass
    // runs after the store drops); a doc without one drops each larger
    // batch partner. A partner with its own stored partner drops
    // through its own row, so the drops are storeDrops ∪ the larger id
    // of each verified batch pair with neither id in storeDrops.
    val drops = pairs.groupBy(col("id_a"))
      .agg(max(col("stored")).as("_hit"),
        collect_list(when(!col("stored"), col("id_b"))).as("_later"))
      .select(explode(when(col("_hit"), array(col("id_a")))
        .otherwise(col("_later"))).as(idCol))
    val s5 = s4.join(broadcast(drops), Seq(idCol), "left_anti")
      .localCheckpoint()

    // sidecar first, appends second (the bloom-superset invariant —
    // see [[StoreBloom]]): fold the survivors' ids and hashes into the
    // persisted blooms before any corpus-sized table grows.
    // Round-14 job-count reduction: the batch count and BOTH batch
    // blooms ride ONE job over the checkpointed survivors (the blooms
    // are built optimistically at each sidecar's current capacity —
    // exactly what the merge fast path needs; a saturated sidecar
    // ignores its optimistic bloom and takes the rebuild path, which
    // sizes its own). Previously: one count job + one scan per
    // sidecar bloom + a checkpoint of the md5 projection.
    val batchHashes = s5.select(md5(col(textCol)).as("_h"))
    val (nAppended, preIds, preHashes) = {
      val idsP = blooms.get("ids").map(b => (b.capacity, b.fpp))
      val hashP = blooms.get("hashes").map(b => (b.capacity, b.fpp))
      val cols = Seq(count(lit(1)).as("_n")) ++
        idsP.map { case (c, f) => bloomAggCol(col(idCol), c, f).as("_bi") } ++
        hashP.map { case (c, f) =>
          bloomAggCol(md5(col(textCol)), c, f).as("_bh") }
      // caps raised over the largest sidecar so NOTHING clamps — see
      // [[withBloomCaps]]; min fpp = largest bit budget
      val capMax = (idsP ++ hashP).map(_._1).foldLeft(1L)(math.max)
      val fppMin = (idsP ++ hashP).map(_._2).foldLeft(1.0)(math.min)
      val row = withBloomCaps(spark, capMax, fppMin) {
        s5.select(cols: _*).head()
      }
      def bf(name: String): Option[BloomFilter] =
        Option(row.getAs[Array[Byte]](name)).map(b =>
          BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
      (row.getLong(0),
        if (idsP.isDefined) bf("_bi") else None,
        if (hashP.isDefined) bf("_bh") else None)
    }
    writeBlooms(spark, storePath, Map(
      "ids" -> mergedBloom(blooms.get("ids"), s5, col(idCol), nAppended,
        storedDocs.map(_.select(col(idCol))), col(idCol), cfg, preIds),
      "hashes" -> mergedBloom(blooms.get("hashes"), batchHashes, col("_h"),
        nAppended,
        readOpt(spark, s"$storePath/hashes", HashesSchema), col("_h"), cfg,
        preHashes)))

    // commit: append-only on the corpus-sized tables (the hash column
    // re-derives from the checkpointed survivors — cheaper than the
    // checkpoint job the old md5 frame paid). The three appends are
    // INDEPENDENT jobs over the same checkpointed survivors, so they
    // run concurrently (guide §2.6: overlap independent jobs — each
    // job's tail back-fills the others' idle cores; at scale the three
    // table commits cost max, not sum). Failures propagate: any
    // failed append fails the batch before the funnel commits.
    graft.operators.Jobs.inParallel(spark,
      ("curate: corpus append",
        () => s5.write.mode("append").parquet(s"$storePath/corpus")),
      ("curate: hashes append",
        () => batchHashes.write.mode("append").parquet(s"$storePath/hashes")),
      ("curate: sigs append",
        // the survivors' signatures are a semi-join of the
        // once-computed batch signatures, not a third shingle pass
        () => sigsOf(s5)
          .write.mode("append").parquet(s"$storePath/sigs")))

    // incremental mixture re-plan from O(sources) running stats
    if (cfg.weights.nonEmpty) {
      val batchStats = s5.select(col(cfg.sourceCol).as("source"),
          size(split(col(textCol), " ")).cast("long").as("_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("avail_tokens"))
      val merged = readOpt(spark, s"$storePath/source_stats",
          batchStats.schema)
        .map(_.unionByName(batchStats)).getOrElse(batchStats)
        .groupBy(col("source"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("avail_tokens")).as("avail_tokens"))
        // materialize BEFORE overwriting the files being read
        .localCheckpoint()
      merged.write.mode("overwrite").parquet(s"$storePath/source_stats")
      Sampling.mixturePlanFromStats(merged, cfg.weights, cfg.budget,
          cfg.maxEpochs)
        .write.mode("overwrite").parquet(s"$storePath/mixture_plan")
    }

    // lazy funnel, counted at consumption by ONE aggregation over the
    // tagged union of the six stage frames (the commit above already
    // materialized every stage frame, so the union re-reads
    // checkpoints, not the operator chain). One count per stage frame
    // would plan one exchange, and so one job, per stage.
    val stages = Seq("arrived" -> a, "lang" -> s2, "quality" -> s3,
      "exact_dedup" -> s4, "near_dup" -> s5, "store_total" ->
        spark.read.schema(batch.schema).parquet(s"$storePath/corpus"))
    val counts = stages.map { case (name, _) =>
      count(when(col("stage") === name, 1)).as(name) }
    stages.map { case (name, df) => df.select(lit(name).as("stage")) }
      .reduce(_ unionByName _)
      .agg(counts.head, counts.tail: _*)
      .select(explode(array(stages.map { case (name, _) =>
        struct(lit(name).as("stage"), col(name).as("n")) }: _*)).as("_s"))
      .select(col("_s.stage"), col("_s.n"))
  }

  /** The continuous pipeline: documents stream → per-micro-batch
    * curation against the store. The funnel of each batch is appended
    * to `storePath/funnel` as the pipeline's health log. Restart-safe
    * via the checkpoint + the replay idempotence of [[processBatch]].
    */
  def start(docsStream: DataFrame, idCol: String, textCol: String,
            profiles: Seq[(String, Seq[String])], storePath: String,
            checkpoint: String, cfg: Config = Config())
      : org.apache.spark.sql.streaming.StreamingQuery =
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, idCol, textCol, profiles, storePath, cfg)
          .withColumn("batch_id", BoundLong.lit(batchId))
          .write.mode("append").parquet(s"$storePath/funnel")
      }
      .start()
}
