package graft.tools

import graft.{Bench, Sessions, SparkEntry}

/** Dev profiler: time named queries / print plans at a given SF.
  * Usage: runMain graft.tools.Profile <sfDir> <queryName> [explain]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val explain = args.length > 2 && args(2) == "explain"
    val spark = Sessions.tool("graft-profile")
    // stage-level metrics: duration + GC per stage of the measured run
    val stages = new Bench.StageLog(spark.sparkContext)
    // per-operator output-row SQL metrics of the FINAL frame's executed
    // plan (SPARK_GRAFT_ROWMETRICS=1): the row volumes that never cross
    // a stage boundary — e.g. the ANN candidate join feeding its
    // same-stage partial top-k — are invisible to task metrics but
    // recorded on the join node's numOutputRows. The plan must come
    // from the EXECUTED QueryExecution: `df.write` plans a fresh copy,
    // so walking `df.queryExecution` reads never-run nodes (all
    // zeros) — a QueryExecutionListener hands us the real one.
    val lastExec = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.execution.QueryExecution]()
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = lastExec.set(qe)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            exception: Exception): Unit = ()
      })
    def rowMetrics(): Unit = {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def walk(p: SparkPlan, depth: Int): Unit = {
        val r = p.metrics.get("numOutputRows").map(_.value)
        println(f"    ${"  " * depth}${p.nodeName}%-44s" +
          r.map(v => f" rows=$v%12d").getOrElse(""))
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
          case q: QueryStageExec => walk(q.plan, depth + 1)
          case _ => p.children.foreach(walk(_, depth + 1))
        }
      }
      // listener events are posted async — wait for the write's own
      // onSuccess to land before reading the reference
      Thread.sleep(1000)
      Option(lastExec.get()).foreach(qe => walk(qe.executedPlan, 0))
    }
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      if (explain) fn(spark, sfDir).explain("formatted")
      def ms(run: (Double, Option[String])): String =
        s"${(run._1 * 1000).toLong}ms" + run._2.fold("")(e => s" FAILED: $e")
      val warm = ms(Bench.timed(spark)(fn(spark, Bench.WarmDir)))
      stages.clear()
      val t = ms(Bench.timed(spark)(fn(spark, sfDir)))
      println(s"PROFILE $n warm=$warm sf=$t")
      if (sys.env.contains("SPARK_GRAFT_ROWMETRICS")) rowMetrics()
      if (sys.env.contains("SPARK_GRAFT_STAGES"))
        stages.snapshot().foreach { i =>
          val d = for {s <- i.submissionTime; e <- i.completionTime} yield e - s
          println(f"  stage ${i.stageId}%4d ${d.getOrElse(-1L)}%7dms " +
            f"tasks=${i.numTasks}%3d gc=${i.taskMetrics.jvmGCTime}%6dms " +
            f"cpu=${i.taskMetrics.executorCpuTime / 1000000}%7dms " +
            f"run=${i.taskMetrics.executorRunTime}%7dms " +
            f"in=${i.taskMetrics.inputMetrics.recordsRead}%10d " +
            f"sh=${i.taskMetrics.shuffleReadMetrics.recordsRead}%10d " +
            f"${i.name.takeWhile(_ != '\n').take(60)}")
          // heavy stages get their graft-frame callsites — the generic
          // lambda in `name` never identifies the operator
          if ((i.numTasks == 1 && i.taskMetrics.executorRunTime > 1500) ||
              i.taskMetrics.executorRunTime > 30000)
            println(i.details.split("\n").filter(_.contains("graft"))
              .take(4).mkString("        ", "\n        ", ""))
        }
    }
    spark.stop()
  }
}
