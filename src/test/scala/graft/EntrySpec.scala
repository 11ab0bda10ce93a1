package graft

import org.apache.spark.sql.execution.LogicalRDD
import graft.queries.{Query, Registry}

/** Guards the driver's smoke contract: `SparkEntry.entry` must return
  * rows on the sf0.001 testdata, and every `queries` key must have
  * either an `oracleSql` entry or a documented rows-only gate — a
  * missing oracle for an oracle-able query silently downgrades the
  * driver's correctness check.
  */
class EntrySpec extends SparkSpec {

  test("entry() returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query name is unique and oracle coverage is explicit") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    // every oracle refers to an existing query
    assert(os.subsetOf(qs), s"orphan oracles: ${os -- qs}")
    // rows-only queries are exactly the known not-SQL-expressible set,
    // and EVERY one names a green oracled companion that gates the
    // same operator behaviorally (planted recall / sketch accuracy /
    // serve fill) — prose in the README is not a gate; this is
    val companions = Map(
      "q33_als_recs" -> "q129_als_coverage",
      "q44_serve_wide" -> "q164_serve_wide_det",
      "q47_embed_lsh" -> "q124_lsh_recall",
      "q57_embed_ivf" -> "q125_ivf_recall",
      "q98_hll_sketch" -> "q128_hll_rollup_accuracy",
      "q121_rolling_distinct" -> "q130_rolling_hll_accuracy")
    val rowsOnly = qs -- os
    assert(rowsOnly == companions.keySet,
      s"unexpected rows-only queries: $rowsOnly")
    companions.foreach { case (q, companion) =>
      assert(os.contains(companion),
        s"rows-only $q names companion $companion which has no oracle")
    }
  }

  test("the registry rejects a repeated query name and holds each record once") {
    val e = intercept[IllegalArgumentException](new Registry(Seq(
      Query("q00_twice", (s, _) => s.range(1).toDF()),
      Query("q00_twice", (s, _) => s.range(2).toDF()))))
    assert(e.getMessage.contains("q00_twice"))
    assert(SparkEntry.registry.records.size == 247)
    assert(SparkEntry.queries.size == SparkEntry.registry.records.size)
  }

  test("a memoized rules pair survives protected sweeps and is rebuilt together") {
    def rows(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, Bench.WarmDir).collect().map(_.toString).sorted.toSeq
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // the harness step between measurements
    def protectedSweep(): Unit = {
      Sessions.sweep(spark, SparkEntry.protectedRddIds)
      System.gc()
    }
    // the RDDs the bpe8 entry reads: its words checkpoint (the rules
    // are driver-built)
    def entryRdds(): Set[Int] =
      SparkEntry.sharedInputs("_shared:bpe8")(spark, Bench.WarmDir)
        .queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    Sessions.sweep(spark)
    // q177 reads the entry's rules, q179 its words
    val merges = rows("q177_bpe_merges")
    val tokens = rows("q179_bpe_tokenize")
    protectedSweep()
    val kept = persisted()
    // exactly what the entry reads is protected; the training's
    // transient checkpoints are swept
    assert(kept.nonEmpty && kept == entryRdds())
    assert(rows("q177_bpe_merges") == merges && rows("q179_bpe_tokenize") == tokens)
    protectedSweep()
    assert(persisted() == kept, "a memo hit must not retrain")

    Sessions.sweep(spark)
    assert(rows("q177_bpe_merges") == merges)
    protectedSweep()
    val rebuilt = persisted()
    assert(rebuilt.nonEmpty && rebuilt == entryRdds() && (rebuilt intersect kept).isEmpty)
    assert(rows("q179_bpe_tokenize") == tokens)
    protectedSweep()
    assert(persisted() == rebuilt, "the words frame is rebuilt with the rules, not after")
  }

  test("README query counts match SparkEntry (no hand-count drift)") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val m = raw"(\d+) oracled queries of (\d+)".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README no longer states the query counts")
    assert(m.get.group(1).toInt == SparkEntry.oracleSql.size,
      s"README says ${m.get.group(1)} oracled, actual ${SparkEntry.oracleSql.size}")
    assert(m.get.group(2).toInt == SparkEntry.queries.size,
      s"README says ${m.get.group(2)} queries, actual ${SparkEntry.queries.size}")
  }
}
