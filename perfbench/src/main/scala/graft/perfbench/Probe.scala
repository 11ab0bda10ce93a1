package graft.perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of Spark, taken from outside the program: a
  * `SparkListener` for jobs, stages, tasks and stored blocks, and a
  * `QueryExecutionListener` for executed queries and their planning
  * time. Everything is kept in memory and handed out once, as raw
  * records; the arithmetic over them lives in `perfbench/metrics.py`.
  *
  * Times are epoch milliseconds, the clock Spark stamps its events with.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private final class Stage(val id: Int, val tasks: Int, val submitted: Long) {
    var completed = 0L
    val sums: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap(
      Probe.TaskKeys.map(_ -> 0L): _*)
  }

  private val jobs = new JList[JMap[String, Any]]()
  private val jobById = mutable.HashMap.empty[Int, JMap[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val executions = new JList[JMap[String, Any]]()
  private val sqlCallSites = new JMap[String, Any]()
  private val blocks = new JList[JMap[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is created last, so it carries the highest id;
    // its details are the long form of the job's call site
    val site = e.stageInfos.maxByOption(_.stageId).map(_.details).getOrElse("")
    val j = Probe.obj(
      "id" -> e.jobId, "start" -> e.time, "end" -> e.time,
      "callsite" -> site,
      "sql" -> Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id"))).orNull)
    jobs.add(j)
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.put("end", e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = new Stage(i.stageId, i.numTasks,
      i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      def add(k: String, v: Long): Unit = s.sums(k) = s.sums(k) + v
      add("run_ms", m.executorRunTime)
      add("cpu_ns", m.executorCpuTime)
      add("gc_ms", m.jvmGCTime)
      add("shuffle_read_bytes",
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("input_bytes", m.inputMetrics.bytesRead)
      add("output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      blocks.add(Probe.obj("time" -> System.currentTimeMillis(),
        "bytes" -> (b.memSize + b.diskSize)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlCallSites.put(s.executionId.toString, s.details)
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execution(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    execution(funcName, qe)

  private def execution(funcName: String, qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    val planning = Seq(QueryPlanningTracker.ANALYSIS,
      QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .flatMap(phases.get)
    // planning runs on the calling thread, so its start time places the
    // execution inside the benchmark span that issued it
    val start = planning.map(_.startTimeMs).minOption
      .getOrElse(System.currentTimeMillis())
    executions.add(Probe.obj("name" -> funcName, "start" -> start,
      "plan_ms" -> planning.map(_.durationMs).sum))
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Raw records, for the trace file. */
  def records: JMap[String, Any] = synchronized {
    val st = new JList[JMap[String, Any]]()
    stages.values.foreach { s =>
      val m = Probe.obj("id" -> s.id, "tasks" -> s.tasks,
        "submitted" -> s.submitted, "completed" -> s.completed)
      s.sums.foreach { case (k, v) => m.put(k, v) }
      st.add(m)
    }
    Probe.obj("jobs" -> jobs, "stages" -> st, "executions" -> executions,
      "sql_callsites" -> sqlCallSites, "blocks" -> blocks)
  }
}

object Probe {
  val TaskKeys: Seq[String] = Seq("run_ms", "cpu_ns", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes")

  def obj(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
}
