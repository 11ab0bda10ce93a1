package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Corpus with planted structure: 0/1 identical; 2/3 near-dups (one
  // token changed); 4..9 unrelated texts over disjoint vocabularies.
  private lazy val docs = {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val near = base.replaceFirst("gamma", "GAMMA-EDIT")
    val others = (0 until 6).map { i =>
      (i + 4).toLong -> (0 until 30).map(j => s"tok${i}_${(j * 13) % 17}").mkString(" ")
    }
    (Seq(0L -> base.trim, 1L -> base.trim, 2L -> base.trim, 3L -> near.trim) ++ others)
      .toDF("doc_id", "text").cache()
  }

  test("exactDedup groups identical content and keeps the min id") {
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out(0L) == 3L)          // docs 0, 1, 2 collapse, keeper = 0
    assert(out.values.sum == 10L)  // partition of the corpus
    assert(out.count(_._2 == 1L) == 7)
  }

  test("jaccardPairs finds exactly the planted near/exact dup pairs") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (1L, 3L), (2L, 3L)))
  }

  test("minHashNearDup recalls the planted pairs without all-pairs comparison") {
    val est = Dedup.minHashNearDup(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // identical docs always collide in every band
    assert(est.contains((0L, 1L)) && est.contains((0L, 2L)) && est.contains((1L, 2L)))
    // the one-token edit keeps jaccard ~0.9 → expected recalled
    assert(est.contains((0L, 3L)))
    // unrelated docs must NOT pair up
    assert(!est.exists { case (a, b) => a >= 4L || b >= 4L })
  }

  test("minHashNearDupVerified equals the exhaustive exact-Jaccard pair set") {
    val verified = Dedup.minHashNearDupVerified(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // verify stage is exact → values (not just pairs) must coincide
    assert(verified == exact)
  }

  test("incremental dedup: a new batch against the stored signature index " +
       "finds exactly the cross-set pairs a full rescan would") {
    // stored = docs 0,2,4..9; new batch = docs 1,3 (1 dups 0/2; 3 near-dups them)
    val stored = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val sigs = Dedup.minHashSignatures(stored, "doc_id", "text",
      n = 3, numHashes = 64)
    val found = Dedup.incrementalNearDupVerified(fresh, "doc_id", "text",
        sigs, stored, threshold = 0.5)
      .select("id_new", "id_stored").as[(Long, Long)].collect().toSet
    // full-rescan truth restricted to cross-set pairs
    val allPairs: Set[(Long, Long)] =
      Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = allPairs.filter(p => p._1 % 2 != p._2 % 2)
      .map(p => if (p._1 % 2 == 1) p else p.swap)
    assert(found == full && found.nonEmpty)
    // estimator path agrees on the planted structure
    val est = Dedup.incrementalNearDup(fresh, "doc_id", "text", sigs,
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("id_new", "id_stored").as[(Long, Long)].collect().toSet
    assert(est == full)
  }

  test("batchNearDupVerified finds exactly the store probe's pairs plus " +
       "the batch-internal pass's pairs, and only the latter without a store") {
    // stored = docs 0,2,4..; batch = docs 1,3,5.. (1 dups 0/2, 3
    // near-dups them, and 1/3 pair inside the batch)
    val stored = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val storedSigs = Dedup.minHashSignatures(stored, "doc_id", "text",
      n = 3, numHashes = 64)
    val freshSigs = Dedup.minHashSignatures(fresh, "doc_id", "text",
      n = 3, numHashes = 64).localCheckpoint()
    def fused(store: Option[(org.apache.spark.sql.DataFrame,
                             org.apache.spark.sql.DataFrame)]) =
      Dedup.batchNearDupVerified(fresh, freshSigs, "doc_id", "text", store)
        .as[(Long, Long, Boolean, Double)].collect().toSet
    val vsStore = Dedup.incrementalNearDupVerified(fresh, "doc_id", "text",
        storedSigs, stored)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b, true, j) }
    val internal = Dedup.minHashNearDupVerified(fresh, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b, false, j) }
    assert(vsStore.nonEmpty && internal.nonEmpty)
    assert(fused(Some((storedSigs, stored))) == (vsStore ++ internal).toSet)
    assert(fused(None) == internal.toSet)
  }

  test("precomputed signatures: the caller-supplied frame reproduces the " +
       "self-computed path row for row (verified + incremental)") {
    val stored = docs.filter(col("doc_id") % 2 === 0)
    val fresh = docs.filter(col("doc_id") % 2 === 1)
    val freshSigs = Dedup.minHashSignatures(fresh, "doc_id", "text",
      n = 3, numHashes = 64).localCheckpoint()
    val storedSigs = Dedup.minHashSignatures(stored, "doc_id", "text",
      n = 3, numHashes = 64).localCheckpoint()

    val self = Dedup.minHashNearDupVerified(docs, "doc_id", "text",
        threshold = 0.5)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val allSigs = Dedup.minHashSignatures(docs, "doc_id", "text",
      n = 3, numHashes = 64).localCheckpoint()
    val pre = Dedup.minHashNearDupVerified(docs, "doc_id", "text",
        threshold = 0.5, precomputedSigs = Some(allSigs))
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(pre == self)

    val selfInc = Dedup.incrementalNearDupVerified(fresh, "doc_id", "text",
        storedSigs, stored, threshold = 0.5)
      .select("id_new", "id_stored", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val preInc = Dedup.incrementalNearDupVerified(fresh, "doc_id", "text",
        storedSigs, stored, threshold = 0.5,
        precomputedNewSigs = Some(freshSigs))
      .select("id_new", "id_stored", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(preInc == selfInc && preInc.nonEmpty)
  }

  test("simHash: identical docs share a fingerprint, near-dups are close, unrelated far") {
    val fp = Dedup.simHash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(1L) && fp(0L) == fp(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fp(0L), fp(3L)) < 16, s"near-dup hamming ${ham(fp(0L), fp(3L))}")
    assert(ham(fp(0L), fp(5L)) > 16, s"unrelated hamming ${ham(fp(0L), fp(5L))}")
  }

  test("simHashNearDup pairs identical and near docs only") {
    val pairs = Dedup.simHashNearDup(docs, "doc_id", "text", maxDist = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(!pairs.exists { case (a, b) => b >= 4L && a >= 4L })
  }

  test("dupClusters labels chained components with the min id, isolated docs with self") {
    val nodes = (0L to 9L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    // chain 0-1-2-3-4 (diameter 4 forces multiple propagation rounds) + pair 7-8
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L))
      .toDF("id_a", "id_b")
    val out = Dedup.dupClusters(nodes, "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert((0L to 4L).forall(out(_) == 0L))
    assert(out(7L) == 7L && out(8L) == 7L)
    assert(Seq(5L, 6L, 9L).forall(i => out(i) == i))
  }

  test("shingles respects short documents") {
    val tiny = Seq((1L, "a b"), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val sh = Dedup.shingles(tiny, "doc_id", "text", n = 3)
      .as[(Long, String)].collect().toSet
    assert(sh == Set((2L, "a b c")))
  }

  test("editDistancePairs finds fuzzy dups within a block, never across blocks") {
    val docs = Seq(
      (1L, "g1", "hello world"),
      (2L, "g1", "hello wurld"),  // dist 1 from #1
      (3L, "g1", "bye"),          // far from both
      (4L, "g2", "hello world")   // identical to #1 but other block
    ).toDF("id", "grp", "txt")
    val out = Dedup.editDistancePairs(docs, "id", "txt", "grp", maxDist = 2)
      .select("id_a", "id_b", "dist").as[(Long, Long, Int)].collect().toSet
    assert(out == Set((1L, 2L, 1)))
  }

  test("dupClusters converges on a 10k-node path within the pointer-jumping " +
    "log bound (16 rounds), not the linear diameter") {
    // adversarial high-diameter fixture: a 10,000-node chain. One-hop
    // min-label propagation needs ~10k rounds; pointer jumping doubles
    // reach per round → ceil(log2(10k)) + folded first hop + slack = 16.
    // maxIter IS the assertion: an algorithmic regression to linear
    // propagation leaves the tail unlabeled and fails the equality.
    val n = 10000
    val nodes = (0L until n.toLong).map(i => (i, "")).toDF("doc_id", "text")
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(nodes, "doc_id", pairs, maxIter = 16)
      .as[(Long, Long)].collect()
    assert(out.length == n && out.forall(_._2 == 0L))
  }

  test("dupClusters resolves bridged stars in a constant round budget") {
    // three 100-leaf stars (hubs 0, 100, 200) bridged leaf-to-leaf:
    // high-degree hubs + short diameter — the skew-shaped fixture.
    // 4 rounds is enough by construction (diameter 6, jumped).
    val nodes = (0L until 300L).map(i => (i, "")).toDF("doc_id", "text")
    val stars = (0 until 3).flatMap { s =>
      val hub = s * 100L
      (1 until 100).map(i => (hub, hub + i))
    }
    val bridges = Seq((99L, 100L), (199L, 200L))
    val pairs = (stars ++ bridges).toDF("id_a", "id_b")
    val out = Dedup.dupClusters(nodes, "doc_id", pairs, maxIter = 4)
      .as[(Long, Long)].collect()
    assert(out.length == 300 && out.forall(_._2 == 0L))
  }

  test("minHashNearDup maxBucket caps a duplicate-heavy corpus yet still pairs " +
    "the sampled copies") {
    // 200 identical docs: every band is one bucket of 200 → 19,900
    // candidate pairs uncapped. The cap bounds candidates to the
    // sampled members; pairs among them still verify at jaccard 1.0.
    val docs = (0L until 200L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val out = Dedup.minHashNearDup(docs, "doc_id", "text",
        threshold = 0.9, maxBucket = Some(16))
      .as[(Long, Long, Double)].collect()
    assert(out.nonEmpty && out.forall(_._3 == 1.0))
    val ids = out.flatMap(p => Seq(p._1, p._2)).distinct
    // 8 bands × ≤16 sampled members; identical signatures → the same
    // hash-ordered sample in every band
    assert(ids.length <= 16, s"cap leaked: ${ids.length} ids in candidate pairs")
  }

  test("simHashNearDup maxBucket bounds candidates on identical fingerprints") {
    val docs = (0L until 200L).map(i => (i, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val out = Dedup.simHashNearDup(docs, "doc_id", "text",
        maxDist = 3, maxBucket = Some(16))
      .as[(Long, Long, Int)].collect()
    assert(out.nonEmpty && out.forall(_._3 == 0))
    val ids = out.flatMap(p => Seq(p._1, p._2)).distinct
    assert(ids.length <= 16, s"cap leaked: ${ids.length} ids in candidate pairs")
  }

  test("dupClusters with no pairs labels every doc as its own cluster") {
    val nodes = (0L to 4L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val out = Dedup.dupClusters(nodes, "doc_id", empty)
      .as[(Long, Long)].collect().toMap
    assert(out == (0L to 4L).map(i => i -> i).toMap)
  }

  test("canonicalize keeps the highest-score member, min id on ties") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1), (5L, 0.1))
      .toDF("doc_id", "quality")
    val out = Dedup.canonicalize(clusters, scores, "doc_id", "cluster", "quality")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // cluster 1: 0.9 tie between 2 and 3 → min id 2; cluster 4: tie → 4
    assert(out(1L) == ((1L, 2L, 3L, 0.9)))
    assert(out(4L) == ((4L, 4L, 2L, 0.1)))
  }

  test("dedupAwareSplit keys splits by cluster and verifies no leakage") {
    // clusters 0..9 → buckets 0..9: 8 train, 1 val, 1 test; members of
    // the same cluster must land together regardless of their own ids
    val clusters = (0L until 30L).map(i => (i, i % 10)).toDF("doc_id", "cluster")
    val out = Sampling.dedupAwareSplit(clusters, "doc_id", "cluster")
      .as[(String, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(out("train") == (("train", 24L, 8L, 1)))
    assert(out("val") == (("val", 3L, 1L, 1)))
    assert(out("test") == (("test", 3L, 1L, 1)))
  }

  test("editDistancePairs length band prunes before levenshtein runs") {
    // |len diff| > maxDist pairs must be filtered by the cheap band,
    // not reach the quadratic distance call: verify via result only
    // (a 1-char vs 20-char string is within one block)
    val docs = Seq((1L, "g", "a"), (2L, "g", "a" * 20)).toDF("id", "grp", "txt")
    assert(Dedup.editDistancePairs(docs, "id", "txt", "grp", 3).isEmpty)
  }

  test("chunkDedup removes cross-document chunks, keeps within-doc repeats, " +
    "reassembles in order") {
    val shared = "c1 c2 c3 c4 c5 c6"
    val corpus = Seq(
      // shared chunk mid-document (chunk-aligned), unique chunks survive
      1L -> s"a1 a2 a3 a4 a5 a6 $shared a7 a8 a9 a10 a11 a12",
      // shared chunk leading, partial trailing chunk survives
      2L -> s"$shared b1 b2 b3 b4 b5 b6",
      // unrelated doc: nothing removed, partial last chunk intact
      3L -> "x1 x2 x3 x4 x5 x6 x7 x8",
      // doc that IS the shared chunk: everything removed, '' row kept
      4L -> shared,
      // chunk repeated within ONE doc only: distinct-doc count is 1,
      // so it must NOT be removed
      5L -> "e1 e2 e3 e4 e5 e6 e1 e2 e3 e4 e5 e6"
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDedup(corpus, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12", 3L, 1L)))
    assert(out(2L) == (("b1 b2 b3 b4 b5 b6", 2L, 1L)))
    assert(out(3L) == (("x1 x2 x3 x4 x5 x6 x7 x8", 2L, 0L)))
    assert(out(4L) == (("", 1L, 1L)))
    assert(out(5L) == (("e1 e2 e3 e4 e5 e6 e1 e2 e3 e4 e5 e6", 2L, 0L)))
    assert(out.size == 5)
  }

  test("decontaminate strips benchmark passages at ANY training offset") {
    val leak = "q1 q2 q3 q4 q5 q6"
    // 11-token bench text (2·6−1): long enough that a verbatim copy
    // at any training offset fully covers one aligned training chunk
    val bench = Seq(100L -> s"$leak ans1 ans2 ans3 ans4 ans5")
      .toDF("doc_id", "text")
    val train = Seq(
      // contains the leaked chunk, chunk-aligned → stripped
      1L -> s"$leak t1 t2 t3 t4 t5 t6",
      // clean doc → untouched
      2L -> "u1 u2 u3 u4 u5 u6 u7",
      // the full bench text at a NON-chunk-aligned offset (3 tokens
      // in): its covering aligned chunk is "q4 q5 q6 ans1 ans2 ans3"
      // — a sliding bench window but NOT an aligned bench chunk, so
      // the pre-fix chunk-vs-chunk membership removed nothing here
      3L -> s"x1 x2 x3 $leak ans1 ans2 ans3 ans4 ans5 y1 y2 y3 y4"
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, "doc_id", "text",
        bench, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == (("t1 t2 t3 t4 t5 t6", 2L, 1L)))
    assert(out(2L) == (("u1 u2 u3 u4 u5 u6 u7", 2L, 0L)))
    assert(out(3L)._3 >= 1L)
    assert(!out(3L)._1.contains("q4 q5 q6 ans1 ans2 ans3"))
    assert(out.size == 3)
  }

  test("decontaminate covering guarantee: ≥(2k−1)-token leak always loses a chunk") {
    // bench passage of 11 tokens (2·6−1): wherever it lands in a
    // training doc, one aligned 6-token training chunk falls entirely
    // inside it and must match a sliding bench window
    val passage = (1 to 11).map(i => s"p$i").mkString(" ")
    val bench = Seq(100L -> passage).toDF("doc_id", "text")
    val train = (0 to 7).map { off =>
      val pre = (1 to off).map(i => s"a$i").mkString(" ")
      val post = (1 to 9).map(i => s"z$i").mkString(" ")
      (off.toLong, s"$pre $passage $post".trim)
    }.toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, "doc_id", "text",
        bench, "doc_id", "text")
      .as[(Long, String, Long, Long)].collect()
    assert(out.length == 8)
    // every offset 0..7 loses at least one chunk, and the surviving
    // text never contains the full passage
    out.foreach { case (off, clean, _, removed) =>
      assert(removed >= 1L, s"offset $off removed nothing")
      assert(!clean.contains(passage), s"offset $off leaked the passage")
    }
  }

  test("chunkDedup maxDocs raises the removal threshold") {
    val shared = "c1 c2 c3 c4 c5 c6"
    val corpus = Seq(
      1L -> s"$shared a1", 2L -> s"$shared b1", 3L -> s"$shared d1"
    ).toDF("doc_id", "text")
    // at maxDocs = 2 a chunk must appear in ≥3 docs to be removed
    val loose = Dedup.chunkDedup(corpus, "doc_id", "text", maxDocs = 3)
      .as[(Long, String, Long, Long)].collect()
    assert(loose.forall(_._4 == 0L))
    val strict = Dedup.chunkDedup(corpus, "doc_id", "text", maxDocs = 2)
      .as[(Long, String, Long, Long)].collect()
    assert(strict.forall(r => r._4 == 1L && !r._2.contains("c1")))
  }

  test("softDedup weights by cluster size; singletons always survive") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), // 4-member cluster
      (10L, 10L),                             // singleton
      (20L, 20L), (21L, 20L)                  // pair
    ).toDF("doc_id", "cluster")
    val out = Dedup.softDedup(clusters, "doc_id", "cluster")
      .as[(Long, Long, Long, Double, Int)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(out.size === 7)
    Seq(1L, 2L, 3L, 4L).foreach(id => assert(out(id)._1 === 4L
      && out(id)._2 === 0.25))
    assert(out(10L) === ((1L, 1.0, 1))) // weight 1 -> kept by construction
    assert(out(20L)._2 === 0.5 && out(21L)._2 === 0.5)
    assert(out.values.forall(v => v._3 == 0 || v._3 == 1))
    // deterministic under repartitioning
    val re = Dedup.softDedup(clusters.repartition(4), "doc_id", "cluster")
      .as[(Long, Long, Long, Double, Int)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(re === out)
  }

  test("substrDupSpans merges overlapping windows and reports coverage") {
    val corpus = Seq(
      // within-doc repeat: "A B C D E" at pos 5 and 15 → two disjoint spans
      1L -> "p q r s t A B C D E u v w x y A B C D E",
      // overlapping dup windows [0,4] and [1,5] fuse into one span [0,5]
      2L -> "m m m m m m",
      // shorter than the window: zero coverage, still one output row
      3L -> "one two three four",
      // cross-doc dup: "k l m n o" shared with doc 5 → span [0,4]
      4L -> "k l m n o p",
      5L -> "z k l m n o"
    ).toDF("doc_id", "text")
    val out = Dedup.substrDupSpans(corpus, "doc_id", "text", w = 5)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out.size === 5)
    assert(out(1L) === ((20L, 2L, 10L, 0.5)))
    assert(out(2L) === ((6L, 1L, 6L, 1.0)))
    assert(out(3L) === ((4L, 0L, 0L, 0.0)))
    assert(out(4L) === ((6L, 1L, 5L, 0.8333)))
    assert(out(5L) === ((6L, 1L, 5L, 0.8333)))
  }

  test("removeDupSpans keeps the corpus-wide first occurrence and strips " +
       "every other duplicated span from the text") {
    val corpus = Seq(
      1L -> "p q r s t A B C D E u v w x y A B C D E",
      2L -> "m m m m m m",
      3L -> "one two three four",
      4L -> "k l m n o p",
      5L -> "z k l m n o"
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupSpans(corpus, "doc_id", "text", w = 5)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out.size === 5)
    // within-doc repeat: canonical pos 5 stays, pos-15 copy stripped
    assert(out(1L) === ((20L, 5L, "p q r s t A B C D E u v w x y")))
    // overlapping windows at pos 0 (canonical) and 1: span [1,5] goes
    assert(out(2L) === ((6L, 5L, "m")))
    // shorter than the window: untouched
    assert(out(3L) === ((4L, 0L, "one two three four")))
    // cross-doc dup: doc 4 owns the first occurrence — intact; doc 5
    // loses the copied span and keeps only its own token
    assert(out(4L) === ((6L, 0L, "k l m n o p")))
    assert(out(5L) === ((6L, 1L * 5L, "z")))

    // invariant vs the report face: canonical windows stay, so per-doc
    // removal never exceeds substrDupSpans' duplicated-token coverage
    val cov = Dedup.substrDupSpans(corpus, "doc_id", "text", w = 5)
      .select("doc_id", "dup_tokens").as[(Long, Long)].collect().toMap
    out.foreach { case (id, (_, removed, _)) =>
      assert(removed <= cov(id), s"doc $id removed=$removed cov=${cov(id)}")
    }
  }
}
