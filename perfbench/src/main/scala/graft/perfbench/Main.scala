package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.Sessions

/** One benchmark run of one workload in this JVM (see `perfbench/run.py`,
  * which builds, generates the inputs, launches this main and turns its
  * raw record into metrics).
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --data <dir> --work <dir> --expected <file> --out <file>
  *
  * A run sets up `Setups` times (fresh session, inputs, shared inputs),
  * runs `WarmPasses` unmeasured passes, then runs measured passes until
  * `--seconds` have passed. With `--trace 1` the measured
  * passes alternate untraced and traced, so the traced passes give the
  * per-layer records and the difference between the two gives the
  * tracing overhead.
  */
object Main {
  private val Setups = 3
  private val WarmPasses = 1

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val data = Paths.get(opt("data")).toAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val mapper = new ObjectMapper()
    val expected = mapper.readValue(Paths.get(opt("expected")).toFile,
      classOf[java.util.LinkedHashMap[String, Any]])
    val w = Workload(opt("workload"), opt("seed").toLong, work, expected)
    val r = new Recorder
    val cores = Runtime.getRuntime.availableProcessors()
    val dir = data.resolve(w.sf).toString

    // set-up, `Setups` times: a fresh session and the inputs and shared
    // inputs (the first from JVM start); then `WarmPasses` on the last one
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val setups = ArrayBuffer.empty[Double]
    val sharedMs = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to Setups).foreach { i =>
      val t0 = if (i == 1) jvmStart else r.now
      if (spark != null) spark.stop()
      spark = session(cores, work)
      val s0 = r.now
      w.prepare(spark, dir)
      sharedMs += r.now - s0
      setups += (r.now - t0) / 1000.0
    }
    val warmMs = (1 to WarmPasses).map { _ =>
      val p0 = r.now
      w.pass(spark, dir, null)
      r.now - p0
    }

    val probe = new Probe
    val passes = ArrayBuffer.empty[java.util.Map[String, Any]]
    val m0 = r.now
    // a traced run alternates untraced and traced passes and ends on an
    // untraced one, at least three, so that a steady drift over the run
    // (the JVM still warming) cancels out of the traced-minus-untraced
    // overhead
    while ((r.now - m0 < seconds * 1000.0 ||
        (trace && (passes.size < 3 || passes.size % 2 == 0))) && !w.exhausted) {
      val traced = trace && passes.size % 2 == 1
      if (traced) probe.attach(spark)
      val p0 = r.now
      r.span(s"pass ${passes.size}", "pass", "bench")(w.pass(spark, dir, r))
      val p1 = r.now
      if (traced) probe.detach(spark)
      val (files, bytes) = Workload.diskUse(w.stores)
      passes += Probe.obj("start" -> p0, "end" -> p1, "traced" -> traced,
        "store_files" -> files, "store_bytes" -> bytes)
    }

    w.finish(spark, r)
    val inputBytes = Workload.diskUse(Seq(Paths.get(dir)))._2
    val heapMb = liveHeapMb()
    spark.stop()
    val out = Probe.obj(
      "workload" -> opt("workload"), "seed" -> opt("seed").toLong,
      "cores" -> cores, "op_kind" -> w.opKind, "traced" -> trace, "jvm_start" -> jvmStart,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "setup_s" -> list(setups), "shared_ms" -> list(sharedMs),
      "warm_ms" -> list(warmMs), "heap_live_mb" -> heapMb,
      "input_bytes" -> inputBytes,
      "passes" -> list(passes), "spans" -> r.spanRecords,
      "checks" -> r.checkRecords, "observed" -> w.observed,
      "probe" -> (if (trace) probe.records else null))
    Files.writeString(Paths.get(opt("out")), mapper.writeValueAsString(out))
    // threads Spark leaves behind would hold the JVM for seconds more
    sys.exit(0)
  }

  private def list[T](xs: Iterable[T]): java.util.List[T] = {
    val l = new java.util.ArrayList[T]()
    xs.foreach(l.add)
    l
  }

  private def session(cores: Int, work: Path): SparkSession = {
    val spark = Sessions.builder(cores, "graft-perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after full collections: the least of three readings. The
    * pause after each collection lets Spark's context cleaner drop the
    * broadcast and shuffle state the collection found unreachable.
    */
  private def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}
