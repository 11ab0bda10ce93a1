package graft.functions

import graft.SparkSpec
import graft.queries.SketchQueries.hllEstimate
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spark's built-in HLL sketches (`hll_sketch_agg`, `hll_union_agg`),
  * read through the union-path estimator the sketch queries use.
  */
class HllSketchSpec extends SparkSpec {
  import spark.implicits._

  private def distinct(c: Column): Column = hllEstimate(hll_sketch_agg(c))

  test("estimate is within 5% of the exact distinct count") {
    val n = 50000
    val df = (1 to n).map(i => s"user_$i").toDF("u")
    val est = df.agg(distinct($"u").as("d")).as[Long].head()
    assert(math.abs(est - n).toDouble / n < 0.05, s"est=$est exact=$n")
  }

  test("linear-counting regime: small cardinalities are near-exact") {
    val df = (1 to 100).map(i => s"k$i").toDF("u")
    val est = df.agg(distinct($"u").as("d")).as[Long].head()
    assert(math.abs(est - 100) <= 2, s"est=$est")
  }

  test("merge of partial sketches estimates the direct sketch exactly") {
    val all = (1 to 20000).map(i => (i % 3, s"v$i")).toDF("part", "u")
    val direct = all.agg(distinct($"u")).as[Long].head()
    val merged = all.groupBy($"part")
      .agg(hll_sketch_agg($"u").as("sk"))
      .agg(hllEstimate(hll_union_agg($"sk"))).as[Long].head()
    assert(direct == merged)
  }

  test("union-path estimate is equal on 1 and 17 partitions") {
    // a plain hll_sketch_estimate reads these 50,000 values with the
    // order-dependent HIP estimator: 50,024 on 1 partition, 49,561 on 17
    val df = (1 to 50000).map(i => s"user_$i").toDF("u")
    val a = df.repartition(1).agg(distinct($"u")).as[Long].head()
    val b = df.repartition(17).agg(distinct($"u")).as[Long].head()
    assert(a == b, s"1 partition: $a, 17 partitions: $b")
  }

  test("sketch merge over a window gives rolling distinct within the error band") {
    // 10 days × users; user set shifts by 20 per day with 80 overlap
    val rows = (0 until 10).flatMap(d =>
      (d * 20 until d * 20 + 100).map(u => (d, s"u$u")))
      .toDF("day", "user")
    val daily = rows.groupBy($"day")
      .agg(hll_sketch_agg($"user").as("sk"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"day").rowsBetween(-2, 0) // rolling 3 days
    val est = daily.select($"day",
      hllEstimate(hll_union_agg($"sk").over(w)).as("e"))
      .as[(Int, Long)].collect().toMap
    // exact rolling-3-day distinct: day d covers users (d-2)*20 .. d*20+99
    (2 until 10).foreach { d =>
      val exact = (d * 20 + 100) - (d - 2) * 20
      assert(math.abs(est(d) - exact).toDouble / exact < 0.05,
        s"day $d est=${est(d)} exact=$exact")
    }
  }

  test("duplicates do not move the estimate (distinct, not count)") {
    val once = (1 to 1000).map(i => s"d$i").toDF("u")
    val tenTimes = (1 to 10).flatMap(_ => (1 to 1000).map(i => s"d$i")).toDF("u")
    val e1 = once.agg(distinct($"u")).as[Long].head()
    val e2 = tenTimes.agg(distinct($"u")).as[Long].head()
    assert(e1 == e2)
  }
}
