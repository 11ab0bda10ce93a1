package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class DocRow(doc_id: Long, text: String, source: String)

class CurationStreamSpec extends SparkSpec {
  import spark.implicits._

  private val profiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "table", "row"),
    "de" -> Seq("der", "und", "das"))

  // good English text: quality ≈ 0.71, en markers win
  private val T1 = "the quick brown fox jumps over a lazy dog and runs " +
    "to the green hill in spring time is nice"
  // near-dup of T1 (last word changed): 3-gram Jaccard ≈ 0.78
  private val T2 = "the quick brown fox jumps over a lazy dog and runs " +
    "to the green hill in spring time is good"
  // near-dup of T2 (two more words changed, far apart) but NOT of T1
  private val T2b = "the quick brown fox leaps over a lazy dog and runs " +
    "to the green hill in autumn time is good"
  // German: de markers dominate → dropped by the language filter
  private val T3 = "der hund und das haus der baum und das auto der mann " +
    "und das kind"
  // junk: passes language (all-zero marker tie → first profile) but
  // fails quality (short, repeated, no stopwords)
  private val T4 = "zz zz zz zz zz"
  // distinct good English text, no shingle overlap with T1/T2
  private val T5 = "a slow red car waits at the old gate and turns to " +
    "the main road in light rain is cold"

  private def freshStore(tag: String): String = {
    val p = s"/tmp/graft_curation_${tag}_${ProcessHandle.current().pid()}"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(p))
    p
  }

  private def storeIds(path: String): Set[Long] =
    spark.read.parquet(s"$path/corpus").select("doc_id")
      .as[Long].collect().toSet

  private val b1 = Seq(
    DocRow(1L, T1, "web"), DocRow(2L, T3, "web"), DocRow(3L, T4, "web"),
    DocRow(4L, T1, "books"), DocRow(5L, T2, "web"))
  private val b2 = Seq(
    DocRow(6L, T1, "web"), DocRow(7L, T2, "web"), DocRow(8L, T5, "books"),
    DocRow(1L, T1, "web"))

  test("processBatch: funnel semantics across two batches against the store") {
    val store = freshStore("twowave")
    val f1 = CurationStream.processBatch(b1.toDF(), "doc_id", "text",
        profiles, store)
      .as[(String, Long)].collect().toMap
    // 2 fails lang, 3 fails quality, 4 is an exact dup of 1 (min id
    // kept), 5 is a near-dup of 1 (larger id dropped)
    assert(f1 === Map("arrived" -> 5L, "lang" -> 4L, "quality" -> 3L,
      "exact_dedup" -> 2L, "near_dup" -> 1L, "store_total" -> 1L))
    assert(storeIds(store) == Set(1L))

    val f2 = CurationStream.processBatch(b2.toDF(), "doc_id", "text",
        profiles, store)
      .as[(String, Long)].collect().toMap
    // replayed id 1 drops at arrival; 6 is an exact dup of stored 1;
    // 7 near-dups stored 1 via the signature index; 8 survives
    assert(f2 === Map("arrived" -> 3L, "lang" -> 3L, "quality" -> 3L,
      "exact_dedup" -> 2L, "near_dup" -> 1L, "store_total" -> 2L))
    assert(storeIds(store) == Set(1L, 8L))
  }

  test("within-batch order: a batch doc whose only near-dup partner " +
    "dropped against the store is kept") {
    val store = freshStore("order")
    CurationStream.processBatch(b1.toDF(), "doc_id", "text", profiles, store)
    // 20 near-dups stored 1 (T2 ~ T1); 21 near-dups only 20 (T2b ~ T2,
    // not T1), so it is kept once 20 drops for the store; 30/31 are a
    // pair with no store partner, so the larger id drops
    val f = CurationStream.processBatch(Seq(
        DocRow(20L, T2, "web"), DocRow(21L, T2b, "web"),
        DocRow(30L, T5, "web"), DocRow(31L, T5.replace("cold", "warm"), "web"))
        .toDF(), "doc_id", "text", profiles, store)
      .as[(String, Long)].collect().toMap
    assert(storeIds(store) == Set(1L, 21L, 30L))
    assert(f === Map("arrived" -> 4L, "lang" -> 4L, "quality" -> 4L,
      "exact_dedup" -> 4L, "near_dup" -> 2L, "store_total" -> 3L))
  }

  test("a steady-state batch against a small store runs a fixed number " +
    "of jobs") {
    // pins the job count of one curated batch (its funnel collected
    // too): a change that adds a pass or a materialization fails here
    val store = freshStore("jobs")
    CurationStream.processBatch(b1.toDF(), "doc_id", "text", profiles, store)
    CurationStream.processBatch(b2.toDF(), "doc_id", "text", profiles, store)
    // new ids and no exact collision: 40 near-dups stored 1, 42 stored
    // 8, and 41 only 40, so 41 survives
    val batch = Seq(DocRow(40L, T2, "web"), DocRow(41L, T2b, "books"),
      DocRow(42L, T5.replace("cold", "warm"), "web")).toDF()
    val log = new graft.Bench.StageLog(spark.sparkContext)
    try {
      log.clear()
      val f = CurationStream.processBatch(batch, "doc_id", "text", profiles,
        store).as[(String, Long)].collect().toMap
      log.snapshot()
      assert(f("near_dup") == 1L && f("store_total") == 3L, f)
      assert(log.jobs == 29L, s"${log.jobs} jobs")
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("replayed micro-batch is a no-op (idempotent restart)") {
    val store = freshStore("replay")
    CurationStream.processBatch(b1.toDF(), "doc_id", "text", profiles, store)
    val before = storeIds(store)
    val f = CurationStream.processBatch(b1.toDF(), "doc_id", "text",
        profiles, store)
      .as[(String, Long)].collect().toMap
    // ingested id 1 drops at arrival; the 4 previously-REJECTED ids
    // re-run the funnel and are re-rejected by the same store state
    // (4's hash and 5's near-dup twin are already stored) → the
    // replay appends nothing and the store converges exactly-once
    assert(f("arrived") == 4L && f("near_dup") == 0L &&
      f("store_total") == before.size.toLong)
    assert(storeIds(store) == before)
    // the state tables stay sets: no duplicate hash/signature rows
    val nh = spark.read.parquet(s"$store/hashes").count()
    val ns = spark.read.parquet(s"$store/sigs").count()
    assert(nh == before.size.toLong && ns == before.size.toLong)
  }

  test("greedy-online chains: a dup of a DROPPED doc is kept (documented)") {
    val store = freshStore("chain")
    CurationStream.processBatch(b1.toDF(), "doc_id", "text", profiles, store)
    // doc 9 near-dups T2 (dropped in b1, so absent from the signature
    // index) but not stored T1 → greedy-online keeps it
    val f = CurationStream.processBatch(
        Seq(DocRow(9L, T2b, "web")).toDF(), "doc_id", "text",
        profiles, store)
      .as[(String, Long)].collect().toMap
    assert(f("near_dup") == 1L && f("store_total") == 2L)
    assert(storeIds(store) == Set(1L, 9L))
  }

  test("incremental source_stats + mixture plan equal the full recompute") {
    val store = freshStore("mixture")
    val cfg = CurationStream.Config(
      weights = Map("web" -> 0.7, "books" -> 0.3), budget = 1000L)
    CurationStream.processBatch(b1.toDF(), "doc_id", "text", profiles,
      store, cfg)
    CurationStream.processBatch(b2.toDF(), "doc_id", "text", profiles,
      store, cfg)
    val corpus = spark.read.parquet(s"$store/corpus")
    val statsGot = spark.read.parquet(s"$store/source_stats")
      .as[(String, Long, Long)].collect().toSet
    val statsFull = corpus.select(col("source"),
        size(split(col("text"), " ")).cast("long").as("_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("_tok").as("avail_tokens"))
      .as[(String, Long, Long)].collect().toSet
    assert(statsGot == statsFull)
    val planGot = spark.read.parquet(s"$store/mixture_plan").collect()
      .map(_.toSeq).toSet
    val planFull = graft.llm.Sampling.mixturePlan(corpus, "source", "text",
        cfg.weights, cfg.budget).collect().map(_.toSeq).toSet
    assert(planGot == planFull)
  }

  test("bounded store probe: a collision-free batch never touches the store (reference-equal pass-through)") {
    val store = freshStore("bloomskip")
    CurationStream.processBatch(b1.toDF(), "doc_id", "text", profiles, store)
    val blooms = CurationStream.readBlooms(spark, store)
    assert(blooms.keySet == Set("ids", "hashes"))
    // disjoint batch: every id fails the store bloom → boundedAntiJoin
    // must return the INPUT ITSELF (reference equality = zero store
    // reads, not even a deferred scan in the plan)
    val fresh = Seq(DocRow(100L, T5, "web")).toDF()
    val out = CurationStream.boundedAntiJoin(fresh, col("doc_id"),
      Some(spark.read.parquet(s"$store/corpus").select(col("doc_id").as("_sid"))),
      col("_sid"), blooms.get("ids"))
    assert(out eq fresh)
    // overlapping batch: equals the plain anti-join exactly
    val mixed = Seq(DocRow(1L, T1, "web"), DocRow(100L, T5, "web")).toDF()
    val bounded = CurationStream.boundedAntiJoin(mixed, col("doc_id"),
      Some(spark.read.parquet(s"$store/corpus").select(col("doc_id").as("_sid"))),
      col("_sid"), blooms.get("ids"))
    assert(bounded.select("doc_id").as[Long].collect().toSet == Set(100L))
  }

  test("superset bloom (crash between sidecar write and append) only costs exact probes") {
    // a bloom that over-approximates the store: contains key 7 that the
    // store does NOT have — batch rows hitting it must SURVIVE via the
    // exact anti-join (false positives removed, nothing lost)
    val storeKeys = Seq(1L, 2L).toDF("_sid")
    val bf = Seq(1L, 2L, 7L).toDF("k")
      .stat.bloomFilter(xxhash64(col("k")), 1000L, 0.01)
    val bloom = CurationStream.StoreBloom(bf, 3L, 1000L, 0.01)
    val batch = Seq((1L, "a"), (7L, "b"), (9L, "c")).toDF("doc_id", "text")
    val out = CurationStream.boundedAntiJoin(batch, col("doc_id"),
      Some(storeKeys), col("_sid"), Some(bloom))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(7L, 9L))
  }

  test("bounded store probe rejects a lazy batch: it re-reads its input") {
    val store = freshStore("lazyprobe")
    CurationStream.processBatch(b1.toDF(), "doc_id", "text", profiles, store)
    val storeKeys = spark.read.parquet(s"$store/corpus").select(col("doc_id").as("_sid"))
    val lazyBatch = spark.read.parquet(s"$store/corpus").filter(col("doc_id") > 0L)
    intercept[IllegalArgumentException] {
      CurationStream.boundedAntiJoin(lazyBatch, col("doc_id"), Some(storeKeys),
        col("_sid"), CurationStream.readBlooms(spark, store).get("ids"))
    }
    // its checkpoint is accepted
    val out = CurationStream.boundedAntiJoin(lazyBatch.localCheckpoint(), col("doc_id"),
      Some(storeKeys), col("_sid"), None)
    assert(out.isEmpty)
  }

  test("bloom saturation triggers a rebuild; probes stay exact after it") {
    val store = freshStore("bloomgrow")
    // threshold ~1.0 so one-word variants are NOT near-dups of each
    // other; capacity 1 so the second batch overflows the sidecar
    val cfg = CurationStream.Config(jaccardThreshold = 0.995,
      bloomCapacity = 1L)
    def doc(i: Long) = DocRow(i, T5.replace("red", s"wag$i"), "web")
    CurationStream.processBatch((1L to 3L).map(doc).toDF(), "doc_id", "text",
      profiles, store, cfg)
    val cap1 = CurationStream.readBlooms(spark, store)("ids").capacity
    CurationStream.processBatch((4L to 9L).map(doc).toDF(), "doc_id", "text",
      profiles, store, cfg)
    val ids2 = CurationStream.readBlooms(spark, store)("ids")
    assert(storeIds(store) == (1L to 9L).toSet)
    assert(ids2.nItems == 9L && ids2.capacity > cap1)
    // replay through the rebuilt bloom: all ids bloom-positive, exact
    // probe drops every one — the store converges unchanged
    val f = CurationStream.processBatch((1L to 9L).map(doc).toDF(), "doc_id",
        "text", profiles, store, cfg)
      .as[(String, Long)].collect().toMap
    assert(f("arrived") == 0L && f("store_total") == 9L)
    // and a genuinely new doc still lands through the bloom-negative path
    CurationStream.processBatch(Seq(DocRow(10L, T1, "web")).toDF(), "doc_id",
      "text", profiles, store, cfg)
    assert(storeIds(store) == (1L to 10L).toSet)
  }

  test("capacity-crossing soak: sidecar rebuilds at >=4x, measured fpp " +
    "stays near target, per-batch probe input stays bloom-bounded") {
    val store = freshStore("bloomsoak")
    // per-doc unique tokens in EVERY 3-gram window: zero cross-doc
    // shingles, so the near-dup index stays collision-free while the
    // store grows — the soak measures the BLOOM path, not LSH
    def doc(i: Long) = DocRow(i, s"the quick w${i}a fox w${i}b over " +
      s"w${i}c lazy w${i}d and w${i}e to w${i}f green w${i}g in w${i}h " +
      s"time w${i}i nice", "web")
    val cfg = CurationStream.Config(bloomCapacity = 1L << 10, bloomFpp = 0.01)
    val B = 512
    // first build sizes 4x the first batch (2048); batch 5's
    // 2048+512 crosses it and must trigger the >=4x store rebuild
    (0 until 6).foreach { b =>
      CurationStream.processBatch(
        ((b * B + 1L) to ((b + 1) * B)).map(doc).toDF(),
        "doc_id", "text", profiles, store, cfg)
    }
    assert(storeIds(store).size == 6 * B, "soak docs did not all survive")
    val ids = CurationStream.readBlooms(spark, store)("ids")
    assert(ids.nItems == 6L * B)
    assert(ids.capacity >= 4 * (1L << 10) && ids.capacity >= 2 * ids.nItems,
      s"capacity ${ids.capacity}")
    // measured fpp over 20k ABSENT keys <= ~2x the configured target
    // (build/probe both hash through xxhash64, the sidecar contract)
    val absent = spark.range(10000000L, 10020000L)
      .select(xxhash64(col("id").cast("long")).as("h")).as[Long].collect()
    val fp = absent.count(ids.bf.mightContainLong)
    assert(fp <= 2.5 * cfg.bloomFpp * absent.length,
      s"measured fpp ${fp.toDouble / absent.length} vs target ${cfg.bloomFpp}")
    // probe-boundedness: a batch with ONE replayed id — the exact
    // anti-join only ever reads the bloom-positive residue, which is
    // the true dup + false positives, never the store or the batch
    val batchKeys = ((6L * B + 1L) to (6L * B + B)) :+ 5L
    val hashed = batchKeys.toDF("doc_id")
      .select(xxhash64(col("doc_id")).as("h")).as[Long].collect()
    val residue = hashed.count(ids.bf.mightContainLong)
    assert(residue >= 1 &&
      residue <= 1 + math.ceil(5 * cfg.bloomFpp * batchKeys.size).toInt,
      s"residue $residue of ${batchKeys.size} keys (store ${6 * B})")
  }

  test("streaming soak: file-less MemoryStream micro-batches, funnel log, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val store = freshStore("stream")
    val mem = MemoryStream[DocRow]
    val q = CurationStream.start(mem.toDF(), "doc_id", "text", profiles,
      store, s"$store/_checkpoint")
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
      mem.addData(DocRow(9L, T2b, "web"))
      q.processAllAvailable()
      assert(storeIds(store) == Set(1L, 8L, 9L))
      val funnel = spark.read.parquet(s"$store/funnel")
      // one funnel row set per micro-batch, keyed by batch_id
      assert(funnel.select("batch_id").distinct().count() == 3)
      val totals = funnel.filter(col("stage") === "store_total")
        .select("batch_id", "n").as[(Long, Long)].collect().toMap
      assert(totals == Map(0L -> 1L, 1L -> 2L, 2L -> 3L))
      // bounded state: the signature index holds exactly one row per
      // ingested doc — dropped docs never enter it
      assert(spark.read.parquet(s"$store/sigs").count() == 3L)
    } finally q.stop()
  }

  test("fused bloom_filter_agg builds byte-identical, merge-compatible " +
    "blooms vs stat.bloomFilter (the sidecar contract)") {
    // the round-14 fused count+blooms job must produce EXACTLY what
    // DataFrameStatFunctions.bloomFilter produced — same numBits, same
    // hash insertion — or mergeInPlace into an existing sidecar breaks
    val keys = (1L to 500L).toDF("k")
    val cap = 1L << 12
    val fpp = 0.01
    val viaStat = keys.stat.bloomFilter(xxhash64(col("k")), cap, fpp)
    val viaAgg = {
      val bytes = keys
        .select(CurationStream.bloomAggCol(col("k"), cap, fpp).as("b"))
        .head().getAs[Array[Byte]]("b")
      org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes))
    }
    def ser(bf: org.apache.spark.util.sketch.BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos); bos.toByteArray
    }
    assert(java.util.Arrays.equals(ser(viaStat), ser(viaAgg)))
    viaStat.mergeInPlace(viaAgg) // throws IncompatibleMergeException if not
    assert((1L to 500L).forall(k => viaAgg.mightContainLong(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        k, org.apache.spark.sql.types.LongType, 42L))))
  }

  test("bloom builds above the session runtime-bloom caps: withBloomCaps " +
    "yields honestly-sized blooms where the default-cap build is " +
    "silently clamped (round-15 fix)") {
    // BloomFilterAggregate Math.min-clamps numItems/numBits at
    // spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits
    // (4e6 / 67,108,864), and on Spark 4.x stat.bloomFilter routes
    // through the SAME aggregate — so a 5M-capacity sidecar built at
    // default caps is sized for 4M items (different numHashFunctions
    // than an honest 5M bloom). Pin (a) the clamp is real on this
    // Spark, (b) withBloomCaps removes it, (c) both build paths under
    // the raise stay mutually merge-compatible, (d) caps restore.
    import org.apache.spark.util.sketch.{BloomFilter => SketchBF}
    val fpp = 0.01
    val cap = 5000000L
    val honest = SketchBF.create(cap, fpp) // 7 hash functions at 5M/0.01
    val keys = (1L to 200L).toDF("k")
    // (a) default caps: clamped to 4M items -> 8 hash functions ->
    // incompatible with the honest sizing
    val clamped = keys.stat.bloomFilter(xxhash64(col("k")), cap, fpp)
    assertThrows[org.apache.spark.util.sketch.IncompatibleMergeException] {
      SketchBF.create(cap, fpp).mergeInPlace(clamped)
    }
    // (b) under withBloomCaps both the stat path and the fused
    // bloomAggCol path size honestly; (c) they merge with each other
    // and with the reference sizing
    val itemsK = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsK = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (oi, ob) = (spark.conf.get(itemsK), spark.conf.get(bitsK))
    val (statB, fusedB) = CurationStream.withBloomCaps(spark, cap, fpp) {
      val s = keys.stat.bloomFilter(xxhash64(col("k")), cap, fpp)
      val fBytes = (201L to 400L).toDF("k")
        .select(CurationStream.bloomAggCol(col("k"), cap, fpp).as("b"))
        .head().getAs[Array[Byte]]("b")
      (s, SketchBF.readFrom(new java.io.ByteArrayInputStream(fBytes)))
    }
    honest.mergeInPlace(statB)
    statB.mergeInPlace(fusedB) // no IncompatibleMergeException
    // (d) the raise is scoped — session caps are back to their
    // pre-call values (also on exception)
    assert(spark.conf.get(itemsK) == oi && spark.conf.get(bitsK) == ob)
    assertThrows[RuntimeException] {
      CurationStream.withBloomCaps(spark, cap, fpp) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get(itemsK) == oi && spark.conf.get(bitsK) == ob)
  }
}
