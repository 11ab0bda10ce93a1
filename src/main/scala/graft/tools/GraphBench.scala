package graft.tools

import graft.{Bench, Sessions}
import graft.operators.Graph
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Same-JVM A/B of the graph family's per-round join strategy
  * (round-14 change 10): alternates the `graft.graph.bcastNodes`
  * system property between 0 (SHUFFLE_HASH rounds — the pre-change
  * shape) and a large bound (BROADCAST rounds), interleaving reps so
  * JVM/GC phase hits both arms equally — the q142/q159 bench-line
  * comparison across separately-committed snapshots could not
  * separate strategy from phase.
  *
  * Usage: runMain graft.tools.GraphBench <sfDir> [reps-per-arm]
  */
object GraphBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = if (args.length > 1 && args(1) != "explain") args(1).toInt else 3
    val spark = Sessions.tool("graft-graphbench")

    // q142/q217's shared co-purchase edge frame (the GraphQueries build)
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val half = li.toDF("ok", "src").join(li.toDF("ok", "dst"), "ok")
      .filter(col("src") < col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val edges = half.unionByName(half.select(col("dst").as("src"),
        col("src").as("dst"), col("w")))
      .localCheckpoint()
    // q159's bipartite customer→part list
    val bip = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.load(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_partkey")),
        "o_orderkey")
      .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      .localCheckpoint()

    def pr(): DataFrame = Graph.pageRank(edges, "src", "dst", "w", iters = 3)
      .orderBy(col("rank").desc, col("node")).limit(50)
    def ppr(): DataFrame = {
      val seeds = edges.select(col("src").as("node")).distinct()
        .filter(pmod(col("node"), lit(7)) === 0)
      Graph.personalizedPageRank(edges, "src", "dst", "w", seeds, "node",
          iters = 3)
        .orderBy(col("rank").desc, col("node")).limit(50)
    }
    def hits(): DataFrame = {
      val (_, auth) = Graph.hits(bip, "cust", "part", iters = 2)
      auth.select(col("id").as("part"), round(col("a"), 8).as("authority"))
        .orderBy(col("authority").desc, col("part")).limit(30)
    }

    // plan capture (round-15): the HITS final half is returned lazy,
    // so its one-round plan — join strategy, the contribution carrier
    // feeding the groupBy, the normalizer — is visible to explain()
    // the same way pageRank's final round is (everything earlier is
    // checkpoint-hidden). `runMain ... <sfDir> explain` prints both.
    if (args.length > 1 && args(1) == "explain") {
      println("===== GRAPHPLAN hits_final_half =====")
      Graph.hits(bip, "cust", "part", iters = 2)._1.explain("formatted")
      println("===== GRAPHPLAN pagerank_final_round =====")
      Graph.pageRank(edges, "src", "dst", "w", iters = 3).explain("formatted")
      spark.stop()
      return
    }

    // the checkpointed inputs above are protected from the sweeps:
    // truncated lineage means unpersisting them is data loss, not a
    // recompute. Everything a run leaves behind (per-round rank
    // checkpoints) is swept before the next one.
    val inputs = spark.sparkContext.getPersistentRDDs.keySet
    def force(q: () => DataFrame): Double = {
      val (s, err) = Bench.timed(spark, inputs)(q())
      err.foreach(e => throw new RuntimeException(e))
      s
    }
    val arms = Seq("shuffle" -> "0", "bcast" -> "100000000")
    val queries = Seq("pagerank" -> (() => pr()), "ppr" -> (() => ppr()),
      "hits" -> (() => hits()))
    // warm all arms once
    for ((_, v) <- arms; (_, q) <- queries) {
      System.setProperty("graft.graph.bcastNodes", v); force(q)
    }
    val acc = scala.collection.mutable.Map
      .empty[(String, String), List[Double]].withDefaultValue(Nil)
    for (r <- 1 to reps; (arm, v) <- arms; (name, q) <- queries) {
      System.setProperty("graft.graph.bcastNodes", v)
      val s = force(q)
      acc((name, arm)) = s :: acc((name, arm))
      println(f"GRAPHBENCH rep=$r arm=$arm $name%-8s $s%6.2f s")
    }
    for ((name, _) <- queries) {
      def stat(arm: String) = {
        val xs = acc((name, arm)).sorted
        (xs.head, xs(xs.size / 2))
      }
      val (minS, medS) = stat("shuffle"); val (minB, medB) = stat("bcast")
      println(f"GRAPHBENCH SUMMARY $name%-8s shuffle min=$minS%5.2f med=$medS%5.2f | bcast min=$minB%5.2f med=$medB%5.2f | bcast/shuffle ${minB / minS}%4.2f")
    }
    spark.stop()
  }
}
