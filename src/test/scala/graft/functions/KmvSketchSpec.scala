package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Spark's built-in theta (KMV) sketches at the default
  * lgNomEntries = 12, i.e. K = 4096 retained hashes.
  */
class KmvSketchSpec extends SparkSpec {
  import spark.implicits._

  private def sketchOf(vals: Seq[String], parts: Int = 4): Array[Byte] =
    vals.toDF("v").repartition(parts)
      .agg(theta_sketch_agg(col("v"))).head.getAs[Array[Byte]](0)

  private def estimate(sk: Array[Byte]): Long =
    Seq(sk).toDF("sk").select(theta_sketch_estimate(col("sk"))).as[Long].head()

  private def intersectEst(a: Array[Byte], b: Array[Byte]): Long =
    Seq((a, b)).toDF("a", "b")
      .select(theta_sketch_estimate(theta_intersection(col("a"), col("b"))))
      .as[Long].head()

  test("merge-equivalence is exact: sketch(A ∪ B) == merge(sketch(A), sketch(B))") {
    val a = (1 to 3000).map(i => s"u$i")
    val b = (2000 to 5000).map(i => s"u$i") // overlapping
    val skU = sketchOf(a ++ b)
    val merged = Seq(sketchOf(a), sketchOf(b)).toDF("sk")
      .agg(theta_union_agg(col("sk"))).head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(skU, merged))
  }

  test("sketch bytes are partitioning-invariant and duplicate-insensitive") {
    val vals = (1 to 4000).map(i => s"u${i % 1300}") // dups everywhere
    assert(java.util.Arrays.equals(sketchOf(vals, 1), sketchOf(vals, 23)))
    val big = (1 to 50000).map(i => s"u$i")
    assert(java.util.Arrays.equals(sketchOf(big, 1), sketchOf(big, 23)))
  }

  test("exact below K; ~1/√K relative error above") {
    val small = sketchOf((1 to 4000).map(i => s"u$i")) // below K = 4096
    assert(estimate(small) == 4000L)
    val est = estimate(sketchOf((1 to 50000).map(i => s"u$i"))).toDouble
    assert(math.abs(est / 50000.0 - 1.0) < 0.10, s"est=$est")
  }

  test("intersection: exact below K, within 10% above at high overlap") {
    val a = (1 to 700).map(i => s"u$i")
    val b = (300 to 900).map(i => s"u$i")
    assert(intersectEst(sketchOf(a), sketchOf(b)) == 401L) // 300..700 — both exact
    val bigA = (1 to 40000).map(i => s"u$i")
    val bigB = (10000 to 50000).map(i => s"u$i")
    val est = intersectEst(sketchOf(bigA), sketchOf(bigB)).toDouble
    assert(math.abs(est / 30001.0 - 1.0) < 0.10, s"est=$est")
  }

  test("disjoint sets intersect to ~zero") {
    val a = sketchOf((1 to 30000).map(i => s"a$i"))
    val b = sketchOf((1 to 30000).map(i => s"b$i"))
    val est = intersectEst(a, b)
    assert(est <= 300L, s"disjoint est=$est") // ≤ ~1% of either side
  }

  test("self-intersection of a full sketch ≈ its distinct estimate (exact cutoff)") {
    val a = sketchOf((1 to 60000).map(i => s"u$i"))
    val self = intersectEst(a, a).toDouble
    val est = estimate(a).toDouble
    assert(math.abs(self / est - 1.0) < 0.01, s"self=$self est=$est")
  }
}
