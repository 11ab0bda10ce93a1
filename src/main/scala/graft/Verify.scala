package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query subset (local iteration
    // aid; the driver always passes exactly 2 args → full run)
    val only = args.lift(2).map(_.split(',').toSet)
    val spark = Sessions.builder(Sessions.defaultCpus, "graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // round-15 BM25 idf-grid guard: every value of the scoring grid is
    // bit-identical IEEE arithmetic across engines EXCEPT the per-df
    // `ln` inside idf_micro; assert at dump time that no distinct idf
    // sits near a rounding boundary, so an engine ulp spread cannot
    // flip a score (the r14 failure mode of q240/q241/q244-q247).
    if (only.isEmpty) {
      val band = graft.llm.Retrieval.IdfGuardBand
      val guard =
        try SparkEntry.idfGuardMin(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[verify] idf-guard errored: ${e.getMessage}")
          -1.0
        }
      Files.writeString(Paths.get(s"$outDir/idf_guard.json"),
        s"""{"min_boundary_distance": $guard, "band": $band, """ +
          s""""ok": ${guard >= band}}""")
      if (guard >= band)
        println(s"[verify] idf-guard ok: min boundary distance $guard")
      else
        System.err.println(s"[verify] IDF-GUARD FAIL: min boundary " +
          s"distance $guard < $band — a distinct BM25 idf value sits " +
          "too close to its rounding boundary; nudge the grid scale")
    }
    spark.stop()
  }
}
