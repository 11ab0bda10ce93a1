package graft.llm

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("itemCosineTopK matches a hand-computed cosine") {
    // users 1,2 rate items A(10),B(both 10,5): cos(A,B) =
    // (10*10 + 10*5) / (sqrt(200) * sqrt(125)) = 150/158.11 = 0.948683
    val r = Seq((1, "A", 10), (2, "A", 10), (1, "B", 10), (2, "B", 5))
      .toDF("u", "i", "rating")
    val out = Similarity.itemCosineTopK(r, "u", "i", "rating", k = 1)
      .select("item_a", "item_b", "cos").as[(String, String, Double)]
      .collect().toSet
    val expected = math.rint(150.0 / (math.sqrt(200) * math.sqrt(125)) * 1e6) / 1e6
    assert(out == Set(("A", "B", expected), ("B", "A", expected)))
  }

  test("embedCosineTopK ranks an identical vector first") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)),
      (1L, Array(2f, 0f, 0f)),   // same direction as 0 → cos 1.0
      (2L, Array(0f, 1f, 0f)),   // orthogonal to 0
      (3L, Array(1f, 1f, 0f)))   // cos 0.7071 with 0
      .toDF("vec_id", "embedding")
    val out = Similarity.embedCosineTopK(emb, emb.filter($"vec_id" === 0),
      "vec_id", "embedding", k = 3)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(out.map(_._2).toSeq == Seq(1L, 3L, 2L))
    assert(out(0)._3 == 1.0 && out(1)._3 == 0.7071 && out(2)._3 == 0.0)
  }

  test("hardNegatives excludes same-label vectors BEFORE the top-k") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(2f, 0f, 0f), 0),   // cos 1.0 with 0 but SAME label -> excluded
      (2L, Array(1f, 0.1f, 0f), 1), // nearest cross-label
      (3L, Array(1f, 1f, 0f), 1),   // cos 0.7071
      (4L, Array(0f, 1f, 0f), 2))   // orthogonal
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(emb, emb.filter($"vec_id" === 0),
      "vec_id", "embedding", "label", k = 2)
      .orderBy("rank").as[(Long, Long, Double, Int)].collect()
    assert(out.map(_._2).toSeq == Seq(2L, 3L), out.mkString(","))
    assert(out.forall(_._2 != 1L)) // same-label near-twin never surfaces
    assert(out(0)._3 > out(1)._3)
  }

  test("contrastiveTriplets pairs the same-label nearest with cross-label negatives") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(1f, 0.05f, 0f), 0),  // nearest same-label -> positive
      (2L, Array(0.8f, 0f, 0.1f), 0), // same label, further
      (3L, Array(1f, 0.01f, 0f), 1),  // cross-label, HARDER than the positive
      (4L, Array(0f, 1f, 0f), 1),     // far cross-label
      (5L, Array(0f, 0f, 1f), 2))     // label with ONE member
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.contrastiveTriplets(emb, emb.filter($"vec_id" <= 0 || $"vec_id" === 5L),
      "vec_id", "embedding", "label", kNeg = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3), r.getLong(4), r.getDouble(5), r.getInt(6)))
    // anchor 5 has no same-label positive -> emits nothing
    assert(out.forall(_._1 == 0L))
    assert(out.forall(_._2 == 1L))              // positive = nearest same-label
    assert(out.map(_._5).sorted.toSeq == Seq(3L, 4L)) // negatives cross-label
    val byRank = out.map(t => t._4 -> t).toMap
    assert(byRank(1)._5 == 3L && byRank(2)._5 == 4L)
    // vec 3 is MORE similar to the anchor than the positive -> not semi-hard
    assert(byRank(1)._7 == 0 && byRank(2)._7 == 1)
    assert(out.forall(t => (t._7 == 1) == (t._6 < t._3)))
  }

  test("quantizeInt8 maps max|x| to ±127, zeros to zeros, and round-trips within scale/254") {
    val emb = Seq(
      (0L, Array(0.5f, -1.0f, 0.25f)), // scale 1.0 → (64, -127, 32)
      (1L, Array(0f, 0f, 0f)))         // zero vector → zeros, scale 0
      .toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .as[(Long, Double, Seq[Byte])].collect().map(r => r._1 -> r).toMap
    assert(out(0L)._2 == 1.0)
    assert(out(0L)._3.toSeq == Seq[Byte](64, -127, 32))
    assert(out(1L)._2 == 0.0 && out(1L)._3.toSeq == Seq[Byte](0, 0, 0))
    // dequantization error bound: |x − q·scale/127| ≤ scale/254 + ulp
    val xs = Array(0.5f, -1.0f, 0.25f)
    val dq = out(0L)._3.map(q => q * out(0L)._2 / 127.0)
    xs.zip(dq).foreach { case (x, d) =>
      assert(math.abs(x - d) <= 1.0 / 254.0 + 1e-9)
    }
  }

  test("embedLshTopK achieves high recall of the brute-force top-k on clustered vectors") {
    // Clustered corpus — the regime LSH is designed for (real embedding
    // spaces are clustered; on uniform vectors the top-k gap vanishes
    // and every sub-quadratic ANN degrades, see Similarity scaladoc).
    val rng = new scala.util.Random(7)
    val centers = Array.fill(20, 32)(rng.nextGaussian().toFloat)
    val rows = (0 until 400).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(v => v + 0.15f * rng.nextGaussian().toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding").cache()
    val brute = Similarity.embedCosineTopK(emb, emb, "vec_id", "embedding", k = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = Similarity.embedLshTopK(emb, "vec_id", "embedding", k = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = brute.count(approx.contains).toDouble / brute.size
    assert(recall >= 0.9, s"LSH recall $recall")
  }

  test("embedIvfTopK achieves high recall of the brute-force top-k on clustered vectors") {
    val rng = new scala.util.Random(11)
    val centers = Array.fill(10, 32)(rng.nextGaussian().toFloat)
    val rows = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(v => v + 0.1f * rng.nextGaussian().toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding").cache()
    val brute = Similarity.embedCosineTopK(emb, emb, "vec_id", "embedding", k = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = Similarity.embedIvfTopK(emb, "vec_id", "embedding", k = 3,
        nCentroids = 8, nProbe = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val recall = brute.count(approx.contains).toDouble / brute.size
    assert(recall >= 0.9, s"IVF recall $recall")
  }

  test("embedIvfSearch: new queries recover brute-force corpus neighbors") {
    val rng = new scala.util.Random(23)
    val centers = Array.fill(10, 32)(rng.nextGaussian().toFloat)
    val corpusRows = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(v => v + 0.1f * rng.nextGaussian().toFloat))
    }
    val corpus = corpusRows.toDF("vec_id", "embedding").cache()
    // queries: fresh perturbations around the same centers, disjoint ids
    val queryRows = (0 until 60).map { i =>
      val c = centers(i % 10)
      (10000L + i, c.map(v => v + 0.1f * rng.nextGaussian().toFloat))
    }
    val queries = queryRows.toDF("vec_id", "embedding").cache()
    val brute = Similarity.embedCosineTopK(corpus, queries,
        "vec_id", "embedding", k = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val approx = Similarity.embedIvfSearch(corpus, queries,
        "vec_id", "vec_id", "embedding", k = 3, nCentroids = 8, nProbe = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // no self pairs possible, and every result must be a corpus id
    assert(approx.forall { case (a, b) => a >= 10000L && b < 10000L })
    val recall = brute.count(approx.contains).toDouble / brute.size
    assert(recall >= 0.9, s"IVF search recall $recall")
  }

  test("buildIvfIndex + searchIvfIndex round-trips the direct search exactly") {
    val rng = new scala.util.Random(31)
    val centers = Array.fill(8, 16)(rng.nextGaussian().toFloat)
    val corpus = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => v + 0.1f * rng.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding").cache()
    val queries = (0 until 40).map { i =>
      val c = centers(i % 8)
      (10000L + i, c.map(v => v + 0.1f * rng.nextGaussian().toFloat))
    }.toDF("qid", "embedding").cache()
    val path = s"/tmp/graft_ivf_idx_${ProcessHandle.current().pid()}"
    // float layout: the persisted path must be BIT-identical to the
    // in-session search (quantized=false isolates the parquet
    // round-trip from the int8 codec, covered by the next test)
    IvfStore.build(corpus, "vec_id", "embedding", path,
      IvfStore.Float, nCentroids = 8)
    val loaded = IvfStore.search(spark, path, queries,
        "qid", "embedding", k = 3, nProbe = 3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    val direct = Similarity.embedIvfSearch(corpus, queries,
        "vec_id", "qid", "embedding", k = 3, nCentroids = 8, nProbe = 3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    assert(loaded == direct, s"persisted-index search diverged: " +
      s"${(loaded -- direct).take(3)} vs ${(direct -- loaded).take(3)}")
    assert(loaded.nonEmpty)
  }

  test("quantized index (default): same neighbors, cos within the int8 bound") {
    val rng = new scala.util.Random(47)
    val centers = Array.fill(8, 16)(rng.nextGaussian().toFloat)
    val corpusRows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => v + 0.1f * rng.nextGaussian().toFloat))
    }
    val corpus = corpusRows.toDF("vec_id", "embedding").cache()
    // planted queries: near-copies of corpus vectors (cos ≈ 0.9999
    // vs ≲ 0.99 for any other within-cluster vector) — a margin far
    // wider than the int8 bound, so quantized recall must be EQUAL,
    // while generic within-cluster rank-3 boundaries are near-ties
    // that int8 noise may legitimately reorder
    val queries = (0 until 40).map { i =>
      val src = corpusRows(i * 5)
      (10000L + src._1, src._2.map(v => v + 0.005f * rng.nextGaussian().toFloat))
    }.toDF("qid", "embedding").cache()
    val pid = ProcessHandle.current().pid()
    val pathQ = s"/tmp/graft_ivf_idx_q_$pid"
    val pathF = s"/tmp/graft_ivf_idx_f_$pid"
    IvfStore.build(corpus, "vec_id", "embedding", pathQ)  // default: int8
    IvfStore.build(corpus, "vec_id", "embedding", pathF,
      IvfStore.Float)
    val q = IvfStore.search(spark, pathQ, queries,
        "qid", "embedding", k = 3, nProbe = 3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    val f = IvfStore.search(spark, pathF, queries,
        "qid", "embedding", k = 3, nProbe = 3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    // per-pair rescoring error bound: |Δcos| ≤ Σ|u_i|·(scale/254)
    // ≤ √dims·scale/254; with unit vectors and dims=16 that is well
    // under 0.02 — assert it pair-by-pair on the common neighbor set
    val qm = q.map { case (a, b, c) => (a, b) -> c }.toMap
    val fm = f.map { case (a, b, c) => (a, b) -> c }.toMap
    val common = qm.keySet.intersect(fm.keySet)
    assert(common.nonEmpty)
    common.foreach { k =>
      assert(math.abs(qm(k) - fm(k)) <= 0.02,
        s"pair $k cos drifted ${qm(k)} vs ${fm(k)}")
    }
    // recall EQUAL on the planted pairs: every query must rank its
    // source vector top-3 from the int8 lists, same as the float index
    val qSet = q.map { case (a, b, _) => (a, b) }.toSet
    (0 until 40).foreach { i =>
      val src = corpusRows(i * 5)._1
      assert(qSet.contains((10000L + src, src)),
        s"quantized index lost planted neighbor $src")
      assert(fSet_contains(f, 10000L + src, src))
    }
  }

  private def fSet_contains(f: Array[(Long, Long, Double)],
                            a: Long, b: Long): Boolean =
    f.exists(t => t._1 == a && t._2 == b)

  test("IVF-PQ index: m-byte codes, ADC+rescore serves the IDENTICAL " +
       "cos face as the int8 index, planted recall EQUAL, loud on " +
       "m not dividing dims") {
    val rng = new scala.util.Random(53)
    val centers = Array.fill(8, 16)(rng.nextGaussian().toFloat)
    val corpusRows = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => v + 0.1f * rng.nextGaussian().toFloat))
    }
    val corpus = corpusRows.toDF("vec_id", "embedding").cache()
    val queries = (0 until 40).map { i =>
      val src = corpusRows(i * 5)
      (10000L + src._1, src._2.map(v => v + 0.005f * rng.nextGaussian().toFloat))
    }.toDF("qid", "embedding").cache()
    val pid = ProcessHandle.current().pid()
    val pathP = s"/tmp/graft_ivfpq_idx_$pid"
    val pathQ = s"/tmp/graft_ivfpq_ref_$pid"
    IvfStore.build(corpus, "vec_id", "embedding", pathP, IvfStore.Pq(4))
    IvfStore.build(corpus, "vec_id", "embedding", pathQ)
    // the scan-path payload really is m one-byte codes
    val codes = spark.read.parquet(s"$pathP/lists")
      .select("_pq").as[Seq[Byte]].head()
    assert(codes.length == 4, s"expected 4 PQ codes, got ${codes.length}")
    val p = IvfStore.search(spark, pathP, queries,
        "qid", "embedding", k = 3, nProbe = 3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    val q = IvfStore.search(spark, pathQ, queries,
        "qid", "embedding", k = 3, nProbe = 3)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    // the rescore IS the int8 scorer — common pairs score IDENTICALLY
    val pm = p.map { case (a, b, c) => (a, b) -> c }.toMap
    val qm = q.map { case (a, b, c) => (a, b) -> c }.toMap
    val common = pm.keySet.intersect(qm.keySet)
    assert(common.nonEmpty)
    common.foreach { k =>
      assert(pm(k) == qm(k), s"pair $k: PQ rescore ${pm(k)} != int8 ${qm(k)}")
    }
    // planted recall EQUAL through the PQ scan path
    val pSet = p.map { case (a, b, _) => (a, b) }.toSet
    (0 until 40).foreach { i =>
      val src = corpusRows(i * 5)._1
      assert(pSet.contains((10000L + src, src)),
        s"PQ index lost planted neighbor $src")
    }
    // a subspace width that does not divide dims is a loud error
    val e = intercept[IllegalArgumentException] {
      IvfStore.build(corpus, "vec_id", "embedding",
        s"/tmp/graft_ivfpq_bad_$pid", IvfStore.Pq(5))
    }
    assert(e.getMessage.contains("must divide"), e.getMessage)
  }

  test("hierarchical IVF: expression and join probe paths agree exactly; " +
    "planted recall EQUAL") {
    // > FlatMax cells forces the two-level quantizer — the path the
    // sf1+/sf10 scale gates exercise but (before this spec) no unit
    // test did. 1500 base vectors + a perturbed copy of each
    // (cos ≈ 0.9999, the SparkEntry planting), 600 cells.
    val rng = new scala.util.Random(47)
    val base = (0 until 1500).map { i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))
    }
    val copies = base.map { case (id, v) =>
      (id + 100000L,
        v.zipWithIndex.map { case (x, j) => x * (1.0f + 0.01f * ((j % 5) - 2)) })
    }
    val emb = (base ++ copies).toDF("vec_id", "embedding").cache()
    def run(): Set[(Long, Long, Double, Int)] =
      Similarity.embedIvfTopK(emb, "vec_id", "embedding", k = 3,
          nCentroids = 600, nProbe = 4)
        .select("id_a", "id_b", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val viaExpr = run()
    // force the salted-join fallback by zeroing the driver budget
    spark.conf.set("graft.ivf.maxDriverCellElems", "0")
    val viaJoin =
      try run()
      finally spark.conf.unset("graft.ivf.maxDriverCellElems")
    assert(viaExpr == viaJoin,
      s"expression/join probe paths diverged: " +
        s"${(viaExpr diff viaJoin).take(5)} vs ${(viaJoin diff viaExpr).take(5)}")
    // planted recall EQUAL through the hierarchical quantizer: every
    // copy must rank its source among its top-3
    val found = viaExpr.count { case (a, b, _, _) =>
      a >= 100000L && b == a - 100000L
    }
    assert(found == 1500, s"hierarchical planted recall $found/1500")
  }

  test("fused cell-scan verify is bit-identical to the pair-join verify " +
    "(float and int8 layouts)") {
    // the fused path ([[graft.functions.CellTopKScan]]) must reproduce
    // the pair-join verify EXACTLY — same rounded cos, same tie order —
    // on both list layouts. Clustered corpus with planted near-ties
    // (perturbed copies) so rounding-boundary ties are actually hit.
    val rng = new scala.util.Random(61)
    val centers = Array.fill(8, 16)(rng.nextGaussian().toFloat)
    val base = (0 until 200).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => v + 0.1f * rng.nextGaussian().toFloat))
    }
    val copies = base.map { case (id, v) =>
      (id + 1000L,
        v.zipWithIndex.map { case (x, j) => x * (1.0f + 0.01f * ((j % 5) - 2)) })
    }
    val corpus = (base ++ copies).toDF("vec_id", "embedding").cache()
    val queries = (0 until 50).map { i =>
      val c = centers(i % 8)
      (10000L + i, c.map(v => v + 0.1f * rng.nextGaussian().toFloat))
    }.toDF("qid", "embedding").cache()

    def withFused[T](on: Boolean)(body: => T): T = {
      spark.conf.set("graft.ivf.fusedVerify", on.toString)
      try body finally spark.conf.unset("graft.ivf.fusedVerify")
    }
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet

    // float layout, self-join shape (excludeSelf = true)
    def topk() = collect(Similarity.embedIvfTopK(corpus, "vec_id",
      "embedding", k = 3, nCentroids = 8, nProbe = 3))
    val fTopk = withFused(true)(topk())
    val jTopk = withFused(false)(topk())
    assert(fTopk == jTopk, s"fused/join diverged (float, self): " +
      s"${(fTopk diff jTopk).take(5)} vs ${(jTopk diff fTopk).take(5)}")
    assert(fTopk.nonEmpty)

    // int8 layout through the persisted index (quantized = default)
    val path = s"/tmp/graft_ivf_fused_${ProcessHandle.current().pid()}"
    IvfStore.build(corpus, "vec_id", "embedding", path,
      nCentroids = 8)
    def search() = collect(IvfStore.search(spark, path, queries,
      "qid", "embedding", k = 3, nProbe = 3))
    val fQ = withFused(true)(search())
    val jQ = withFused(false)(search())
    assert(fQ == jQ, s"fused/join diverged (int8): " +
      s"${(fQ diff jQ).take(5)} vs ${(jQ diff fQ).take(5)}")
    assert(fQ.nonEmpty)

    // threshold verify (semDedupPairs → CellRangeScan): same toggle,
    // the planted near-identical pairs make the ≥ minCos set non-empty
    def sem() = Similarity.semDedupPairs(corpus, "vec_id", "embedding",
        minCos = 0.999, nCentroids = 8, nProbe = 2)
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect().toSet
    val fS = withFused(true)(sem())
    val jS = withFused(false)(sem())
    assert(fS == jS, s"fused/join diverged (threshold): " +
      s"${(fS diff jS).take(5)} vs ${(jS diff fS).take(5)}")
    assert(fS.nonEmpty)
  }

  test("embedNearDupPairs finds planted near-duplicates and respects the block bound") {
    val base = Array.fill(16)(1.0f)
    val rows = Seq(
      (0L, base, "x"),
      (1L, base.map(_ * 1.001f), "x"),              // same direction → cos 1.0
      (2L, base.map(v => -v), "x"),                 // opposite → cos -1
      (3L, base, "y"))                              // near-dup of 0 but other block
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.embedNearDupPairs(rows, "vec_id", "embedding",
        minCos = 0.9, blockCol = Some("label"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L)))
  }

  test("semDedupPairs surfaces every planted near-identical pair, verified " +
    "and symmetric-deduplicated") {
    val rng = new scala.util.Random(31)
    val centers = Array.fill(10, 32)(rng.nextGaussian().toFloat)
    val base = (0 until 200).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(v => v + 0.1f * rng.nextGaussian().toFloat))
    }
    // perturbed copy of every base vector, cos ≈ 0.9999 to its source
    val copies = base.map { case (id, v) =>
      (id + 1000L,
        v.zipWithIndex.map { case (x, j) => x * (1.0f + 0.01f * ((j % 5) - 2)) })
    }
    val emb = (base ++ copies).toDF("vec_id", "embedding").cache()
    val rows = Similarity.semDedupPairs(emb, "vec_id", "embedding",
        minCos = 0.999, nCentroids = 8, nProbe = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    val pairs = rows.toSet
    assert(rows.length == pairs.size, "pair set must be deduplicated")
    assert(pairs.forall { case (a, b) => a < b }, "pairs must be oriented")
    (0 until 200).foreach { i =>
      assert(pairs.contains((i.toLong, i + 1000L)), s"planted pair $i missing")
    }
    // the exact-cosine verify must hold for every reported pair
    val unit = (base ++ copies).map { case (id, v) =>
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      id -> v.map(_ / n)
    }.toMap
    pairs.foreach { case (a, b) =>
      val cos = unit(a).zip(unit(b)).map { case (x, y) => x * y }.sum
      assert(cos >= 0.9985, s"pair ($a,$b) cos $cos below threshold")
    }
  }

  test("embedLshTopK maxBucket caps a degenerate hot bucket yet still answers") {
    // 300 IDENTICAL vectors: every table has ONE bucket holding the
    // whole corpus — uncapped, candidate generation is corpus² (the
    // way LSH melts down on duplicate-heavy data). With the cap, each
    // query still gets k cos=1.0 neighbors from the sampled bucket
    // members it coincides with — plus its own membership guarantees
    // capped members still emit; sampled-out vectors lose their rows
    // (graceful recall degradation, never a blow-up).
    val base = Array.tabulate(16)(i => (i + 1).toFloat)
    val rows = (0L until 300L).map(i => (i, base))
    val emb = rows.toDF("vec_id", "embedding")
    val out = Similarity.embedLshTopK(emb, "vec_id", "embedding", k = 3,
        maxBucket = Some(24))
      .select("id_a", "id_b", "cos").as[(Long, Long, Double)].collect()
    assert(out.nonEmpty && out.forall(_._3 == 1.0))
    val perQuery = out.groupBy(_._1).view.mapValues(_.length)
    assert(perQuery.values.forall(_ <= 3))
    // capped members (24 per table x 6 tables max 144 distinct ids)
    assert(perQuery.size <= 144,
      s"cap leaked: ${perQuery.size} ids emitted rows")
  }

  test("embedLshTopK runs on the real embeddings table and bounds its fan-out") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val out = Similarity.embedLshTopK(emb, "vec_id", "embedding", k = 3)
    val n = out.count()
    val users = out.select("id_a").distinct().count()
    assert(n > 0 && n <= users * 3, s"rows=$n queries=$users")
  }

  test("groupCentroids averages each coordinate per group") {
    val rows = Seq(
      (1L, Array(1.0f, 2.0f), "a"),
      (2L, Array(3.0f, 6.0f), "a"),
      (3L, Array(10.0f, 20.0f), "b"))
      .toDF("vec_id", "embedding", "grp")
    val out = Similarity.groupCentroids(rows, "grp", "embedding")
      .as[(String, Int, Long, Double)].collect().toSet
    assert(out == Set(
      ("a", 0, 2L, 2.0), ("a", 1, 2L, 4.0),
      ("b", 0, 1L, 10.0), ("b", 1, 1L, 20.0)))
  }

  test("appendToIvfIndex: appended vectors are served immediately, land " +
       "at their frozen-centroid cells, and existing rows are untouched") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val base = emb.filter(col("vec_id") < 80)
    val extra = emb.filter(col("vec_id") >= 80 && col("vec_id") < 100)
    val path = s"/tmp/graft_test_ivfappend_${ProcessHandle.current().pid()}"
    IvfStore.build(base, "vec_id", "embedding", path)
    val nBase = spark.read.parquet(s"$path/lists").count()
    assert(nBase == 80L)
    IvfStore.append(spark, path, extra, "vec_id", "embedding")
    val lists = spark.read.parquet(s"$path/lists")
    assert(lists.count() == 100L, "append adds exactly the batch rows")
    assert(lists.filter(col("id_b") < 80).count() == nBase,
      "existing rows untouched")
    // an appended vector queried verbatim must return ITSELF at rank 1
    // — served from the appended files with no rebuild; cos is 1.0 up
    // to the stored int8 codec's reconstruction bound
    val self = IvfStore.search(spark, path,
        extra, "vec_id", "embedding", k = 1)
      .select("id_a", "id_b", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(self.length == 20 && self.forall(r => r._1 == r._2 &&
      math.abs(r._3 - 1.0) <= 0.01 && r._4 == 1),
      s"self-search: ${self.take(3).mkString(",")}")
  }

  test("appendToIvfIndex on an IVF-PQ index encodes the batch under the " +
       "STORED codebooks — appended vectors survive the ADC scan") {
    // the regression this pins: an append that omitted _pq would leave
    // the column NULL, the ADC scan would score every appended vector
    // 0, and the batch would silently vanish from search results
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val base = emb.filter(col("vec_id") < 80)
    val extra = emb.filter(col("vec_id") >= 80 && col("vec_id") < 100)
    val path = s"/tmp/graft_test_pqappend_${ProcessHandle.current().pid()}"
    IvfStore.build(base, "vec_id", "embedding", path, IvfStore.Pq())
    IvfStore.append(spark, path, extra, "vec_id", "embedding")
    val lists = spark.read.parquet(s"$path/lists")
    assert(lists.count() == 100L)
    assert(lists.filter(col("_pq").isNull).count() == 0,
      "every appended row carries PQ codes")
    val self = IvfStore.search(spark, path,
        extra, "vec_id", "embedding", k = 1)
      .select("id_a", "id_b", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect()
    assert(self.length == 20 && self.forall(r => r._1 == r._2 &&
      math.abs(r._3 - 1.0) <= 0.01 && r._4 == 1),
      s"PQ self-search of the appended batch: ${self.take(3).mkString(",")}")
  }

  /** The sf0.001 embeddings and a perturbed copy of every 7th vector
    * (disjoint ids) as queries — the shape of the persisted-index specs.
    */
  private def embAndQueries() = {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding")
    val qs = emb.filter(col("vec_id") % 7 === 0).select(
      (col("vec_id") + 1000000L).as("qid"),
      expr("transform(embedding, (x, j) -> CAST(x * (1.0D + 0.01D * " +
        "CAST(j % 5 - 2 AS DOUBLE)) AS FLOAT))").as("embedding"))
    (emb, qs)
  }

  /** Write `text` to a local file, dropping the checksum file the
    * Hadoop local FileSystem keeps beside what it wrote.
    */
  private def writeText(file: String, text: String): Unit = {
    val p = java.nio.file.Paths.get(file)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.deleteIfExists(
      p.resolveSibling(s".${p.getFileName}.crc"))
    java.nio.file.Files.writeString(p, text)
  }

  test("IvfStore meta: a missing key fails naming it and the file; a meta " +
       "with no quantized key opens as the Float codec") {
    val pid = ProcessHandle.current().pid()
    val bad = s"/tmp/graft_ivf_nol1n_$pid"
    writeText(s"$bad/meta.json", """{"l2n":1,"seed":42,"quantized":true}""")
    val e = intercept[IllegalArgumentException](IvfStore.open(spark, bad))
    assert(e.getMessage.contains("\"l1n\"") &&
      e.getMessage.contains(s"$bad/meta.json"), e.getMessage)

    // a pre-quantization index: its meta predates the `quantized` key
    val (emb, qs) = embAndQueries()
    val path = s"/tmp/graft_ivf_prequant_$pid"
    IvfStore.build(emb, "vec_id", "embedding", path, IvfStore.Float)
    def search() = IvfStore.search(spark, path, qs, "qid", "embedding", k = 3)
      .select("id_a", "id_b", "cos", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val before = search()
    val meta = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$path/meta.json"))
    writeText(s"$path/meta.json", meta.replace(""","quantized":false""", ""))
    assert(IvfStore.open(spark, path).layout.codec == IvfStore.Float)
    assert(search() == before && before.nonEmpty)
  }

  test("IvfStore pins its on-disk format: meta.json's text, and each " +
       "table's schema equals the one its codec reads it with") {
    val (emb, _) = embAndQueries()
    val pid = ProcessHandle.current().pid()
    // (codec, nCentroids, meta.json, tables written): 600 cells make
    // the Float index hierarchical, so `l2` is pinned too
    val cases = Seq(
      (IvfStore.Float, 600,
        """{"l1n":25,"l2n":24,"seed":42,"quantized":false}""",
        Set("l1", "l2", "lists")),
      (IvfStore.Int8, -1,
        """{"l1n":90,"l2n":1,"seed":42,"quantized":true}""",
        Set("l1", "lists")),
      (IvfStore.Pq(), -1,
        """{"l1n":90,"l2n":1,"seed":42,"quantized":true,"layout":"ivfpq","m":16}""",
        Set("l1", "lists", "codebook")))
    cases.foreach { case (codec, cells, metaText, tables) =>
      val path = s"/tmp/graft_ivf_format_${codec}_$pid"
      IvfStore.build(emb, "vec_id", "embedding", path, codec, nCentroids = cells)
      assert(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$path/meta.json")) == metaText)
      val schemas = IvfStore.schemas(IvfStore.open(spark, path).layout)
      val written = schemas.keySet.filter(t =>
        new java.io.File(s"$path/$t").exists())
      assert(written == tables, s"$codec")
      written.foreach { t =>
        assert(spark.read.parquet(s"$path/$t").schema == schemas(t),
          s"$codec $t: ${spark.read.parquet(s"$path/$t").schema.simpleString}")
      }
    }
    // an int id column is stored as int and read widened to the
    // schema's bigint: the persisted float search still equals the
    // in-session one
    val (_, qs) = embAndQueries()
    val intIds = emb.select(col("vec_id").cast("int").as("vec_id"),
      col("embedding"))
    val path = s"/tmp/graft_ivf_int_ids_$pid"
    IvfStore.build(intIds, "vec_id", "embedding", path, IvfStore.Float)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "cos", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    val loaded = rows(IvfStore.search(spark, path, qs, "qid", "embedding", k = 3))
    assert(loaded == rows(Similarity.embedIvfSearch(intIds, qs, "vec_id",
      "qid", "embedding", k = 3)) && loaded.nonEmpty)
  }

  test("a second search of a flat int8 index runs a fixed number of jobs") {
    // pins the job count of a repeated search and the collect of its
    // result: 18 while `l1` and `lists` were read with schema inference
    // (a job each) and `l1` was sorted on the cluster before its
    // collect; 14 while the unprepared query frame's checkpoint was
    // counted twice (once to spread it, once for the probe width; a
    // count is two jobs under AQE, its partial-aggregate shuffle and
    // its result), 12 since. A change that adds a pass or a
    // materialization fails here.
    val (emb, qs) = embAndQueries()
    val path = s"/tmp/graft_ivf_jobs_${ProcessHandle.current().pid()}"
    IvfStore.build(emb, "vec_id", "embedding", path)
    IvfStore.search(spark, path, qs, "qid", "embedding", k = 3).collect()
    val log = new graft.Bench.StageLog(spark.sparkContext)
    try {
      log.clear()
      IvfStore.search(spark, path, qs, "qid", "embedding", k = 3).collect()
      log.snapshot()
      assert(log.jobs == 12L, s"${log.jobs} jobs")
    } finally spark.sparkContext.removeSparkListener(log)
  }

  test("randomProject equals the driver-side exact reference (md5 signs, " +
       "scale-9 decimal sums) and handles short vectors by zero-padding") {
    val rows = Seq(
      (1L, Array(0.5f, -1.25f, 2.0f, 0.125f)),
      (2L, Array(-0.001f, 0.0f, 1.5f, -3.75f)),
      (3L, Array(1.0f)) // shorter than inDim: common-prefix contract
    ).toDF("vec_id", "embedding")
    val out = Similarity.randomProject(rows, "vec_id", "embedding",
        outDim = 3, inDim = 4, seed = 7)
      .select(col("vec_id"), col("proj").cast("array<string>"))
      .as[(Long, Seq[String])].collect().toMap

    val signs = Similarity.rpSigns(seed = 7, outDim = 3, inDim = 4)
    def ref(v: Array[Float]): Seq[java.math.BigDecimal] =
      signs.toSeq.map { row =>
        var s = java.math.BigDecimal.ZERO
        v.indices.foreach { i =>
          // same conversion Spark's float→decimal(18,9) cast performs
          // (float → double → shortest decimal string → HALF_UP to scale 9)
          val d = new java.math.BigDecimal(
              java.lang.Double.toString(v(i).toDouble))
            .setScale(9, java.math.RoundingMode.HALF_UP)
          s = if (row(i) > 0) s.add(d) else s.subtract(d)
        }
        s.setScale(9)
      }
    for ((id, vec) <- Seq(1L -> Array(0.5f, -1.25f, 2.0f, 0.125f),
                          2L -> Array(-0.001f, 0.0f, 1.5f, -3.75f),
                          3L -> Array(1.0f))) {
      val got = out(id).map(new java.math.BigDecimal(_))
      val want = ref(vec)
      assert(got.zip(want).forall { case (g, w) => g.compareTo(w) == 0 },
        s"id=$id got=$got want=$want")
    }
  }

  test("randomProject preserves pairwise cosine within the JL tolerance " +
       "on the real embeddings (deterministic matrix, fixed pairs)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 40)
    val proj = Similarity.randomProject(emb, "vec_id", "embedding",
        outDim = 32, inDim = 64, seed = 42)
      .select(col("vec_id"),
        transform(col("proj"), c => c.cast("double")).as("p"))
      .as[(Long, Array[Double])].collect().toMap
    val orig = emb.select(col("vec_id"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = orig.keys.toSeq.sorted
    val errs = for {
      i <- ids.indices; j <- (i + 1) until ids.size
      a = ids(i); b = ids(j)
    } yield math.abs(cos(orig(a), orig(b)) - cos(proj(a), proj(b)))
    // dense ±1 JL at outDim 32: cosine error concentrates ~1/√32 ≈ .18
    // with a tail ~3σ over the 780 pairs (measured max .531, mean .11);
    // the matrix is deterministic so these are fixed values, not a
    // flaky statistical draw
    assert(errs.max < 0.55, s"max cosine drift ${errs.max}")
    assert(errs.sum / errs.size < 0.15, s"mean cosine drift ${errs.sum / errs.size}")
  }

  test("lshAutoBits: fixed-point spread correction — occ at sigma 0, " +
       "strictly above the one-shot round-11 charge at projected-LSH " +
       "spreads, capped when no bit count can cancel the spread") {
    val n = 4000000.0 // third-decade corpus, occ = 18
    val occ = Similarity.lshOccBits(n)
    assert(occ == 18)
    assert(Similarity.lshAutoBits(n, 0.0) == occ)
    // the round-11 one-shot correction (Δ charged at occ bits) vs the
    // fixed point at sigma = 0.18 (the 32-dim projected corpus where
    // the creep was measured): the fixed point must charge MORE —
    // under-correction was exactly the r11 residual
    val sigma = 0.18
    val oneShot = occ + math.ceil(
      math.pow(2.0 * occ * sigma / math.Pi, 2) / (2.0 * math.log(2.0))).toInt
    val fixedPoint = Similarity.lshAutoBits(n, sigma)
    assert(fixedPoint > oneShot,
      s"fixed point $fixedPoint must exceed one-shot $oneShot")
    assert(fixedPoint <= 24)
    // bits monotone in sigma until the cap
    val bitsBySigma = Seq(0.05, 0.1, 0.15, 0.2)
      .map(Similarity.lshAutoBits(n, _))
    assert(bitsBySigma == bitsBySigma.sorted)
    // sigma so wide the discriminant closes → honest cap
    assert(Similarity.lshAutoBits(n, 0.9) == 24)
  }

  test("measuredSigma: recovers the isotropic 1/sqrt(dims) spread on the " +
       "real embeddings and ignores planted near-dup outliers (MAD)") {
    val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val dims = 64
    val s0 = Similarity.measuredSigma(emb, "vec_id", "embedding", dims)
    val analytic = 1.0 / math.sqrt(dims.toDouble)
    assert(s0 > 0.5 * analytic && s0 < 2.0 * analytic,
      s"near-isotropic testdata should measure near 1/sqrt(64): $s0")
    // plant an exact duplicate of every vector (cos = 1 outlier pairs
    // in any sample): the MAD estimate must not blow up
    val planted = emb.unionByName(emb.select(
      (col("vec_id") + 9000000L).as("vec_id"), col("embedding")))
    val s1 = Similarity.measuredSigma(planted, "vec_id", "embedding", dims)
    assert(s1 < 2.0 * analytic,
      s"MAD must shrug off planted duplicates, got $s1 vs analytic $analytic")
    // deterministic: same corpus, same estimate
    assert(s0 == Similarity.measuredSigma(emb, "vec_id", "embedding", dims))
  }
}
