package graft.functions

import graft.SparkSpec
import graft.queries.SketchQueries.{CmsEps => Eps, cmsSketch}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.CountMinSketch

/** Spark's built-in `count_min_sketch` at q139's parameters
  * ([[graft.queries.SketchQueries.cmsSketch]]), probed
  * through [[CountMinEstimate]].
  */
class CountMinSpec extends SparkSpec {
  import spark.implicits._

  // zipf-ish: key k appears ~ 5000/k times
  private lazy val zipf: Seq[String] =
    (1 to 200).flatMap(k => Seq.fill(5000 / k)(s"key_$k"))

  private def sketchOf(vals: Seq[String], parts: Int = 4): Array[Byte] =
    vals.toDF("v").repartition(parts).agg(cmsSketch(col("v"))).head.getAs[Array[Byte]](0)

  test("merge-equivalence is exact: sketch(A ∪ B) == merge(sketch(A), sketch(B))") {
    val (a, b) = zipf.splitAt(zipf.size / 3)
    val merged = CountMinSketch.readFrom(sketchOf(a))
      .mergeInPlace(CountMinSketch.readFrom(sketchOf(b)))
    assert(java.util.Arrays.equals(sketchOf(zipf), merged.toByteArray))
  }

  test("sketch bytes are partitioning-invariant; total equals N") {
    val one = sketchOf(zipf, 1)
    assert(java.util.Arrays.equals(one, sketchOf(zipf, 17)))
    assert(CountMinSketch.readFrom(one).totalCount() == zipf.size.toLong)
  }

  test("never underestimates; overestimate bounded by ε·N") {
    val sk = sketchOf(zipf)
    val exact = zipf.groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    val budget = math.ceil(Eps * zipf.size).toLong
    val probe = zipf.distinct.toDF("v")
      .select(col("v"), CountMinEstimate(lit(sk), col("v")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, ex) <- exact) {
      assert(probe(k) >= ex, s"$k underestimated: ${probe(k)} < $ex")
      assert(probe(k) <= ex + budget, s"$k over budget: ${probe(k)} > $ex + $budget")
    }
  }

  test("absent keys estimate within the collision budget") {
    val cms = CountMinSketch.readFrom(sketchOf(zipf))
    val budget = math.ceil(Eps * zipf.size).toLong
    (1 to 50).foreach { i =>
      val est = cms.estimateCount(s"absent_$i")
      assert(est <= budget, s"phantom key $i: $est > $budget")
    }
  }
}
