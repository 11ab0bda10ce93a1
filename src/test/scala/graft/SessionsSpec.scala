package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Every engine session comes from [[Sessions.builder]]: the SQL confs
  * below are what Bench, Verify, the tools and the tests run under.
  */
class SessionsSpec extends SparkSpec {

  private val pinned = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1MB",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.codegen.cache.maxEntries" -> "1024")

  /** A fresh session on the shared context, leaving the suite's own
    * session (and its conf) as it was.
    */
  private def fresh(make: => SparkSession): SparkSession = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try make
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
      shared.sparkContext.setLogLevel("WARN")
    }
  }

  test("tool and builder sessions carry the engine's SQL confs") {
    val tool = fresh(Sessions.tool("graft-sessions-spec"))
    val built = fresh(Sessions.builder(2, "graft-sessions-spec").getOrCreate())
    for (s <- Seq(tool, built)) {
      assert(s ne spark)
      pinned.foreach { case (k, v) => assert(s.conf.get(k) == v, k) }
    }
    // each got its own builder's partition count, not the suite's
    val partitionsEnv = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    assert(tool.conf.get("spark.sql.shuffle.partitions") ==
      partitionsEnv.getOrElse(Sessions.defaultCpus.toString))
    assert(built.conf.get("spark.sql.shuffle.partitions") == partitionsEnv.getOrElse("2"))
  }

  test("a plan compiled before 150 other plans is not compiled again") {
    // each Int literal is inlined into the generated source, so every
    // query compiles its own classes: more than Spark's default cache
    // of 100 entries holds
    def run(i: Int): Unit = spark.range(4).selectExpr(s"id * $i").collect()
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(2)
    val afterFirst = compiles
    (3 until 153).foreach(run)
    assert(compiles - afterFirst >= 150)
    val beforeRerun = compiles
    run(2)
    assert(compiles == beforeRerun)
  }
}
