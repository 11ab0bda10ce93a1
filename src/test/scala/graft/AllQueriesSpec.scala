package graft

/** Drift-proofing gate: executes EVERY `SparkEntry.queries` entry on
  * the sf0.001 testdata and asserts it runs (analysis + execution, no
  * exception). Round 5 shipped with `sbt test` fully green while four
  * production queries were dead at analysis time — the driver had
  * regenerated testdata with `events.ts` re-encoded from
  * TIMESTAMP(NANOS) to plain timestamp[us] (TIMESTAMP_NTZ), and no
  * spec executed the affected queries against the real files. This
  * spec makes any input-schema drift a local test failure instead of
  * a silent per-round correctness regression.
  *
  * One generated test per query so a failure names the query. The
  * action is the bench's `noop` write, which consumes every output
  * column: `count()` let Catalyst prune the projections, so a column
  * that fails only when computed (a runtime cast or ANSI error) passed.
  */
class AllQueriesSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  for ((name, q) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs on sf0.001") {
      q(spark, dir).write.mode("overwrite").format("noop").save()
    }
  }
}
