package graft

import java.nio.file.Paths

/** The sketch gates' flags, Spark side. The DuckDB oracle pins every
  * flag to 1; this checks them without the driver, at two scale
  * factors of the testdata.
  */
class SketchGatesSpec extends SparkSpec {

  private val gates = Seq(
    "q128_hll_rollup_accuracy" -> Seq("within_bound"),
    "q130_rolling_hll_accuracy" -> Seq("within_bound"),
    "q139_cms_accuracy" -> Seq("ge_ok", "bound_ok"),
    "q140_kmv_overlap" -> Seq("within_bound"))

  test("every HLL, Count-Min and theta gate flag is 1 at sf0.001 and sf0.01") {
    val testdata = Paths.get(Bench.WarmDir).getParent
    for (sf <- Seq("sf0.001", "sf0.01"); (q, flags) <- gates) {
      val rows = SparkEntry.queries(q)(spark, testdata.resolve(sf).toString).collect()
      assert(rows.nonEmpty, s"$q at $sf returned no rows")
      for (r <- rows; f <- flags)
        assert(r.getAs[Int](f) == 1, s"$q at $sf: $f = 0 in $r")
    }
  }
}
