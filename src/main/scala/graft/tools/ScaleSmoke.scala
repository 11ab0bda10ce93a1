package graft.tools

import graft.{Bench, Sessions, SparkEntry}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale smoke: synthesizes an sf1-scale dataset (10× sf0.1 by
  * replicate+salt) and runs the heaviest operators once at each scale,
  * asserting the scaling properties the 100 TB design claims:
  * no OOM, no heavy single-task stage, runtime growth ≲ linear (with
  * a JIT/fixed-cost allowance). Writes the comparison to SCALE.md.
  *
  * Salting is designed to keep the workload's PAIR DENSITY linear —
  * a naive 10× copy multiplies every within-block/near-dup pair count
  * by 100 and would measure data construction, not the engine:
  *  - documents: copy i rewrites token positions j ≡ i (mod 5) with an
  *    '_i' suffix → cross-copy 3-gram Jaccard ≈ 0.15 < the 0.5
  *    threshold, within-copy near-dup structure preserved;
  *  - embeddings: copy i circularly rotates coordinates by i positions
  *    — dot products within a copy are EXACTLY preserved (the workload
  *    is identical per copy) while cross-copy cosine drops to bulk
  *    level (a rotated near-uniform vector is just another near-
  *    uniform vector). A small multiplicative perturbation was tried
  *    first and measured 34×/24× LSH/IVF growth: cos≈0.9999 cross-copy
  *    twins made TRUE pair density quadratic in the copy count;
  *  - lineitem: user side (l_suppkey) offset per copy, items SHARED —
  *    10× users per item deliberately stresses the DIMSUM per-user cap
  *    (pair fan-out must stay linear because of the cap, not the data);
  *  - part: p_size offset per copy → disjoint (brand, size) blocks,
  *    modeling a catalog whose block key granularity grows with it.
  *
  * Usage: runMain graft.tools.ScaleSmoke [queries-csv]
  */
object ScaleSmoke {

  private val Sf01 = "/root/testdata/sf0.1"
  private val Sf1 = "/tmp/graft_sf1"
  private val Sf10 = "/tmp/graft_sf10"
  private val Sf1g = "/tmp/graft_sf1g"
  private val Sf10g = "/tmp/graft_sf10g"
  private val Copies = 10
  private val DefaultQueries =
    "q47_embed_lsh,q80_dup_clusters,q57_embed_ivf,q30_cosine_topk,q78_corpus_funnel,q89_edit_distance"
  private val AnnQueries =
    "q57_embed_ivf,q125_ivf_recall,q167_ann_search,q168_ann_index," +
      "q171_semdedup_recall,q237_pq_recall"
  private val GraphQueries =
    "q142_pagerank,q146_triangles,q159_hits,q80_dup_clusters"

  /** Document-salt stride: copy i suffixes every `DocSaltStride`-th
    * token (offset i mod stride), which guarantees ≥1 modified token
    * in EVERY n-gram window of length ≥ stride — zero cross-copy
    * shingles/chunks/spans. Set to 2 (not 3) so the guarantee covers
    * BIGRAM operators too: a stride-3 salt leaves copies with equal
    * offset mod 3 sharing ~1/3 of their bigrams, which re-creates the
    * quadratic construction artifact for any 2-token-window operator
    * smoked at 100 copies. Keep this ≤ the smallest shingle/window
    * length of every operator in the smoke lists.
    */
  private val DocSaltStride = 2

  private def saltDocs(d: DataFrame, i: Int): DataFrame =
    d.select(
      (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
      (if (i == 0) col("text")
       else expr(("array_join(transform(split(text, ' '), (t, j) -> " +
         s"IF(j % $DocSaltStride = $i % $DocSaltStride, " +
         s"concat(t, '_$i'), t)), ' ')"))).as("text"),
      col("lang"), col("source"), col("n_chars"))

  private def gen(spark: SparkSession): Unit = {
    new java.io.File(Sf1).mkdirs()

    def tenfold(name: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      if (new java.io.File(s"$Sf1/$name.parquet/_SUCCESS").exists()) return
      val src = Tables.load(spark, Sf01, name)
      (0 until Copies).map(copy(src, _)).reduce(_.unionByName(_))
        .write.mode("overwrite").parquet(s"$Sf1/$name.parquet")
    }

    tenfold("documents") { (d, i) =>
      d.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        (if (i == 0) col("text")
         else expr(("array_join(transform(split(text, ' '), (t, j) -> " +
           s"IF(j % 5 = $i % 5, concat(t, '_$i'), t)), ' ')"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    tenfold("embeddings") { (e, i) =>
      e.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        (if (i == 0) col("embedding")
         else expr(s"transform(embedding, (x, j) -> element_at(embedding, " +
           s"CAST((j + $i * 7) % size(embedding) AS INT) + 1))")).as("embedding"),
        col("label"))
    }
    tenfold("lineitem") { (l, i) =>
      l.withColumn("l_suppkey", col("l_suppkey") + lit(i * 10000000L))
        .withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
    }
    tenfold("part") { (p, i) =>
      p.withColumn("p_partkey", col("p_partkey") + lit(i * 10000000L))
        .withColumn("p_size", col("p_size") + lit(i * 1000))
    }
    // events: user/event ids offset per copy, timestamps kept — 10×
    // users over the same time range (event density grows, per-user
    // session/window structure is preserved exactly)
    tenfold("events") { (e, i) =>
      e.withColumn("event_id", col("event_id") + lit(i * 100000000L))
        .withColumn("user_id", col("user_id") + lit(i * 10000000L))
    }
    tenfold("orders") { (o, i) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L))
    }
    tenfold("customer") { (c, i) =>
      c.withColumn("c_custkey", col("c_custkey") + lit(i * 10000000L))
    }
    tenfold("supplier") { (s, i) =>
      s.withColumn("s_suppkey", col("s_suppkey") + lit(i * 10000000L))
    }
    // tiny dims copied as-is (a 10× region table is not a thing)
    Seq("nation", "region").foreach { n =>
      if (!new java.io.File(s"$Sf1/$n.parquet/_SUCCESS").exists())
        Tables.load(spark, Sf01, n)
          .write.mode("overwrite").parquet(s"$Sf1/$n.parquet")
    }
  }

  /** Third scale decade for the ANN family: sf10 = 100× sf0.1
    * embeddings (the only table the q57/q125/q167/q168/q171 chain
    * reads). Salting extends the sf1 contract to 100 copies: copy i
    * circularly rotates coordinates by (i·7) mod 64 — which preserves
    * every within-copy dot product exactly — and, because rotations
    * repeat after 64 copies (copy 64 would otherwise be an EXACT
    * duplicate of copy 0, making true pair density quadratic in the
    * collision count), copies ≥ 64 additionally negate odd
    * coordinates. The parity mask also preserves within-copy dots
    * (x⊙m · y⊙m = x·y for any ±1 mask) while the cross-copy dot of a
    * rotation-sharing pair becomes Σ xₘ² (−1)^m — bulk level for the
    * near-uniform testdata. Net: per-copy workload identical, cross-
    * copy neighbor structure absent, pair density linear in copies.
    */
  private def genSf10(spark: SparkSession): Unit = {
    genSf10Documents(spark)
    if (new java.io.File(s"$Sf10/embeddings.parquet/_SUCCESS").exists()) return
    new java.io.File(Sf10).mkdirs()
    val src = Tables.load(spark, Sf01, "embeddings")
    val dims = src.select(size(col("embedding"))).head().getInt(0)
    require(dims == 64, s"sf10 salting assumes 64-dim embeddings, got $dims")
    (0 until Copies * Copies).map { i =>
      val r = (i * 7) % dims
      val flip =
        if (i >= dims) " * IF(j % 2 = 1, CAST(-1.0 AS FLOAT), CAST(1.0 AS FLOAT))"
        else ""
      src.select(
        (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        (if (i == 0) col("embedding")
         else expr("transform(embedding, (x, j) -> element_at(embedding, " +
           s"CAST((j + $r) % size(embedding) AS INT) + 1)$flip)")).as("embedding"),
        col("label"))
    }.reduce(_.unionByName(_))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$Sf10/embeddings.parquet")
  }

  /** 100× sf0.1 documents (500k docs). The salting must be DENSER than
    * the sf1 tenfold's every-5th-token suffix: a ≥3-token shingle
    * window can dodge a 1-in-5 modification (2/5 of trigrams survive
    * unmodified), and at 100 copies those shared shingles give every
    * cross-copy pair of the same source doc J ≈ 0.25 — which collides
    * in ≥1 of 32×2 MinHash bands with p ≈ 0.87, i.e. ~C(100,2)·5000 ≈
    * 25M candidate pairs (first measurement: q45 at 254 s, 41×). The
    * construction was quadratic, not the engine (the round-4 lesson).
    * [[saltDocs]]' every-`DocSaltStride`-th-token suffix puts ≥1
    * modified token in EVERY window of length ≥ stride — zero shared
    * shingles/chunks/spans across copies — while within-copy near-dup
    * structure is preserved (co-copy docs are suffixed at identical
    * positions).
    */
  private def genSf10Documents(spark: SparkSession): Unit = {
    if (new java.io.File(s"$Sf10/documents.parquet/_SUCCESS").exists()) return
    new java.io.File(Sf10).mkdirs()
    val src = Tables.load(spark, Sf01, "documents")
    (0 until Copies * Copies).map(saltDocs(src, _))
      .reduce(_.unionByName(_))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$Sf10/documents.parquet")
  }

  /** Graph-decade corpora: `copies` DISJOINT copies of the sf0.1
    * fact tables the graph family reads (q142/q146 build part
    * co-purchase edges from lineitem, q159 the customer→part
    * bipartite graph from orders⋈lineitem, q80 clusters document
    * near-dup pairs). Unlike the sf1 tenfold — which deliberately
    * SHARES part keys to stress the DIMSUM per-user cap, so the
    * co-purchase graph does not grow with copies — every key here is
    * offset per copy: the graph becomes `copies` disconnected
    * instances of the sf0.1 graph, node/edge counts scale linearly,
    * and per-copy structure (degrees, triangles, rank distribution)
    * is preserved exactly. That is the growth a graph decade must
    * measure: same local shape, `copies`× the data.
    */
  private def genGraph(spark: SparkSession, dir: String, copies: Int): Unit = {
    new java.io.File(dir).mkdirs()
    def make(name: String)(copy: (DataFrame, Int) => DataFrame): Unit = {
      if (new java.io.File(s"$dir/$name.parquet/_SUCCESS").exists()) return
      val src = Tables.load(spark, Sf01, name)
      (0 until copies).map(copy(src, _)).reduce(_.unionByName(_))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    make("lineitem") { (l, i) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(i * 100000000L))
        .withColumn("l_partkey", col("l_partkey") + lit(i * 10000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * 10000000L))
    }
    make("orders") { (o, i) =>
      o.withColumn("o_orderkey", col("o_orderkey") + lit(i * 100000000L))
        .withColumn("o_custkey", col("o_custkey") + lit(i * 10000000L))
    }
    make("documents") { (d, i) => saltDocs(d, i) }
  }

  def main(args: Array[String]): Unit = {
    // default mode measures sf0.1 → sf1 (10×); "sf10" as the first arg
    // measures the ANN decade sf1 → sf10 (100× sf0.1, embeddings only);
    // "graph" measures the graph-family decade sf1g → sf10g over the
    // disjoint-copy fact tables (see genGraph)
    val mode = args.headOption.filter(Set("sf10", "graph")).getOrElse("sf1")
    val queries =
      (mode match {
        case "sf10"  => args.lift(1).getOrElse(AnnQueries)
        case "graph" => args.lift(1).getOrElse(GraphQueries)
        case _       => args.headOption.getOrElse(DefaultQueries)
      }).split(",").toSeq
    val (fromDir, toDir, fromLabel, toLabel) = mode match {
      case "sf10"  => (Sf1, Sf10, "sf1", "sf10")
      case "graph" => (Sf1g, Sf10g, "sf1g", "sf10g")
      case _       => (Sf01, Sf1, "sf0.1", "sf1")
    }
    val spark = Sessions.tool("graft-scale")
    if (mode == "graph") {
      // the sf10g edge shuffle is ~335M rows; at partitions = cpus
      // (the suite default, sized for sf0.1) that is ~21M rows per
      // hash-agg task and execution memory dies. A cluster sizes
      // shuffle partitions to the DATA — do the same here (uniform
      // across both scales; AQE coalesces the small stages back down,
      // so only the genuinely large exchanges fan out).
      spark.conf.set("spark.sql.shuffle.partitions", "128")
      genGraph(spark, Sf1g, Copies)
      genGraph(spark, Sf10g, Copies * Copies)
    } else {
      gen(spark)
      if (mode == "sf10") genSf10(spark)
    }

    val stages = new Bench.StageLog(spark.sparkContext)
    def measure(q: String, dir: String): (Double, Int, Int, Int) =
      stages.minOf2(spark)(SparkEntry.queries(q)(spark, dir))

    // Cold-JVM absorber: the FIRST measured query otherwise pays class
    // loading, codegen-compiler and shuffle-path warm-up that later
    // queries don't — r12 measured q217 at 12.4× vs q142's 9.1× on
    // identical machinery purely from running first (stage/task shapes
    // matched). The per-query sf0.001 warm-up below is too small to
    // heat the heavy paths; one throwaway run of the first query at
    // the measured FROM scale is, and nothing from it is timed.
    queries.headOption.foreach { q =>
      Bench.timed(spark)(SparkEntry.queries(q)(spark, Bench.WarmDir))
      Bench.timed(spark)(SparkEntry.queries(q)(spark, fromDir))
    }

    val rows = queries.map { q =>
      Bench.timed(spark)(SparkEntry.queries(q)(spark, Bench.WarmDir)) // JIT warm-up
      val (s01, st01, tk01, h01) = measure(q, fromDir)
      val (s1, st1, tk1, h1) = measure(q, toDir)
      val row = f"| $q | ${s01}%.1f | ${s1}%.1f | ${s1 / s01}%.1f× | $st01/$st1 | $tk01/$tk1 | $h01/$h1 |"
      println(s"SCALE $row")
      row
    }

    // no stripMargin: the table rows begin with '|', which stripMargin
    // would eat as its margin marker
    val md =
      s"# SCALE — 10× smoke ($fromLabel → synthetic $toLabel, local[${Sessions.defaultCpus}])\n\n" +
        s"$toLabel = 10× $fromLabel via replicate+salt (see `tools/ScaleSmoke.scala`\n" +
        "for the salting contract that keeps pair density linear).\n" +
        "min-of-2 measured runs per scale after a warm-up pass; same\n" +
        "harness hygiene as Bench (cache sweep + GC between runs).\n\n" +
        s"| query | $fromLabel s | $toLabel s | growth | stages | tasks | heavy 1-task stages |\n" +
        "|---|---|---|---|---|---|---|\n" +
        rows.mkString("\n") + "\n\n" +
        "Pass criteria: no OOM/failure, zero heavy single-task stages at\n" +
        "sf1 (>2 s executor time in one task), growth ≲ 10× + fixed\n" +
        "overhead. Iterative ops (dup clusters) may grow sublinearly —\n" +
        "rounds are log-diameter, not data-size.\n"
    // SCALE.md is the curated cumulative report — only overwrite it on
    // explicit request (a default-on write would clobber earlier
    // batches' rows and the findings narrative)
    sys.env.get("SPARK_GRAFT_SCALE_OUT").foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), md)
    }
    println(md)
    spark.stop()
  }
}
