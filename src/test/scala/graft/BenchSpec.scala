package graft

import org.apache.spark.sql.functions.{lit, raise_error}

/** The measurement loop every harness shares: [[Bench.timed]] and
  * [[Bench.StageLog]].
  */
class BenchSpec extends SparkSpec {

  test("timed sweeps unprotected RDDs and keeps the memoized shared inputs") {
    val (_, err) = Bench.timed(spark)(
      SparkEntry.sharedInputs("_shared:bpe8")(spark, Bench.WarmDir))
    assert(err.isEmpty)
    val memo = spark.sparkContext.getPersistentRDDs.keySet.filter(SparkEntry.protectedRddIds)
    assert(memo.nonEmpty)
    val stray = spark.sparkContext.parallelize(1 to 3).persist()
    stray.count()
    Bench.timed(spark)(spark.range(10).toDF())
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(memo.subsetOf(after))
    assert(!after.contains(stray.id))
  }

  test("timed returns a failing frame's error instead of throwing") {
    val (atRun, runErr) = Bench.timed(spark)(
      spark.range(1).select(raise_error(lit("bench-spec-failure"))))
    assert(atRun >= 0 && runErr.exists(_.contains("bench-spec-failure")))
    val (_, buildErr) = Bench.timed(spark)(throw new IllegalStateException("no frame"))
    assert(buildErr.contains("no frame"))
  }

  test("StageLog records completed stages with their task counts") {
    val log = new Bench.StageLog(spark.sparkContext)
    try {
      log.clear()
      // a literal no other spec uses: its plan is compiled here first
      assert(Bench.timed(spark)(spark.range(0, 90, 1, 3).selectExpr("id * 7919"))._2.isEmpty)
      assert(log.snapshot().exists(_.numTasks == 3))
      assert(log.compiles > 0)
      assert(log.jobs >= 1)
      log.clear()
      assert(log.snapshot().isEmpty)
      assert(log.compiles == 0 && log.jobs == 0)
      val (_, nStages, nTasks, heavy) = log.minOf2(spark)(spark.range(0, 90, 1, 3).toDF())
      assert(nStages >= 1 && nTasks >= 3 && heavy == 0)
    } finally spark.sparkContext.removeSparkListener(log)
  }
}
