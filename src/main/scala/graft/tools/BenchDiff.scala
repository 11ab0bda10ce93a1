package graft.tools

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.{Bench, Sessions, SparkEntry}

/** Noise-disciplined comparison of two Bench snapshot JSONs — the
  * round-over-round diff codified (round-11 task 4), so regressions
  * are called by the RULES that rounds 9/10 paid to learn instead of
  * by eyeballing raw deltas:
  *
  *  - `_shared:*` lines are excluded from the per-query comparison
  *    and reported separately (they bill memoized prep; their
  *    consumers' numbers are MARGINAL costs — flagged via the
  *    snapshot's own `marginal` field);
  *  - a delta is a CANDIDATE only past a noise band: |Δ| ≥ 0.3 s
  *    (sub-second timings are timer/JIT noise at local[32]) AND
  *    ratio ≥ max(1.5, 1.2 × the larger measured rep `spread`) —
  *    a min-over-reps whose own reps disagreed by 2× cannot support a
  *    1.6× conclusion;
  *  - queries marked `noisy` in either snapshot, or in the known
  *    bimodal set (q142-class C2 compile-queue lag: isolated walls
  *    range ~2× on identical code), get a 2.2× band;
  *  - candidates are NOT verdicts. With `--isolate <sfDir>` each one
  *    re-runs in THIS JVM (fresh session, Bench hygiene: sweep + GC,
  *    min-of-2 after a warm-up) with a stage listener — an isolated
  *    wall back inside the old number's band is declared measurement
  *    noise automatically, and the printed stage/task/heavy-1-task
  *    shape is the evidence that survives single-rep resolution.
  *    Without `--isolate`, the tool prints the manual recipe
  *    (isolate → A/B against stashed code → compare stage shape).
  *
  * Usage:
  *   runMain graft.tools.BenchDiff old.json new.json [--isolate sfDir]
  */
object BenchDiff {

  /** Queries measured bimodal on identical code (see the SCALE.md
    * round-10 caveat): per-round generated classes outrun the C2
    * compile queue, so isolated walls range ~2×.
    */
  private val KnownBimodal = Set("q142_pagerank")

  private def strings(n: JsonNode, field: String): Set[String] = {
    val f = n.get(field)
    if (f == null || !f.isArray) Set.empty
    else {
      val it = f.elements()
      val b = Set.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
  }

  private def doubles(n: JsonNode, field: String): Map[String, Double] = {
    val f = n.get(field)
    if (f == null || !f.isObject) Map.empty
    else {
      val it = f.fields()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> e.getValue.asDouble()
      }
      b.result()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BenchDiff <old.json> <new.json> [--isolate <sfDir>]")
    val isolateDir =
      if (args.length >= 4 && args(2) == "--isolate") Some(args(3)) else None
    val m = new ObjectMapper()
    val o = m.readTree(new java.io.File(args(0)))
    val n = m.readTree(new java.io.File(args(1)))
    val oq = doubles(o, "queries"); val nq = doubles(n, "queries")
    val oSpread = doubles(o, "spread"); val nSpread = doubles(n, "spread")
    val noisy = strings(o, "noisy") ++ strings(n, "noisy") ++ KnownBimodal
    val marginal = strings(o, "marginal") ++ strings(n, "marginal")

    val shared = (oq.keySet ++ nq.keySet).filter(_.startsWith("_shared:"))
    val common = (oq.keySet intersect nq.keySet) -- shared
    val added = (nq.keySet -- oq.keySet -- shared).toSeq.sorted
    val removed = (oq.keySet -- nq.keySet -- shared).toSeq.sorted

    final case class Delta(q: String, a: Double, b: Double, band: Double) {
      def ratio: Double = if (a > 0) b / a else Double.PositiveInfinity
      def worse: Boolean = b > a
      def flagged: Boolean =
        math.abs(b - a) >= 0.3 && math.max(ratio, 1 / ratio) >= band
    }
    val deltas = common.toSeq.sorted.map { q =>
      val spread = math.max(oSpread.getOrElse(q, 1.0), nSpread.getOrElse(q, 1.0))
      val band = if (noisy.contains(q)) 2.2 else math.max(1.5, 1.2 * spread)
      Delta(q, oq(q), nq(q), band)
    }
    val flagged = deltas.filter(_.flagged)

    val oTot = common.toSeq.map(oq).sum
    val nTot = common.toSeq.map(nq).sum
    println(f"TOTAL (common ${common.size} queries, _shared excluded): " +
      f"$oTot%.1f s -> $nTot%.1f s (${nTot / oTot}%.2fx)")
    shared.toSeq.sorted.foreach { s =>
      println(f"  shared prep $s: ${oq.getOrElse(s, Double.NaN)}%.2f -> " +
        f"${nq.getOrElse(s, Double.NaN)}%.2f s (consumers' numbers are marginal)")
    }
    if (added.nonEmpty) println(s"ADDED: ${added.mkString(", ")}")
    if (removed.nonEmpty) println(s"REMOVED: ${removed.mkString(", ")}")

    if (flagged.isEmpty) {
      println("No deltas beyond the noise bands -- nothing to chase.")
      return
    }
    println(s"\nCANDIDATES (past noise band; NOT verdicts until isolated):")
    flagged.sortBy(d => -math.abs(d.b - d.a)).foreach { d =>
      val mark = if (marginal.contains(d.q)) " [marginal: memo-hit cost]" else ""
      val noise = if (noisy.contains(d.q)) " [bimodal 2.2x band]" else ""
      println(f"  ${if (d.worse) "SLOWER" else "faster"} ${d.q}%-28s " +
        f"${d.a}%7.2f -> ${d.b}%7.2f s (${d.ratio}%.2fx, band ${d.band}%.2fx)" +
        mark + noise)
    }

    isolateDir match {
      case None =>
        println(
          """
            |Recipe before believing any of the above (the round-9/10 lessons):
            |  1. isolate, fresh JVM, min-of-2 with stage stats:
            |     SPARK_GRAFT_STAGES=1 sbt "runMain graft.tools.Profile <sfDir> <q>"
            |  2. A/B against stashed code on the SAME machine state
            |     (git stash / stash pop between runs) -- SCALE.md history
            |     was measured on quieter machines;
            |  3. only stage-SHAPE changes (task counts, heavy 1-task
            |     stages) are trustworthy at single-rep resolution; walls
            |     within 2x on iterative queries are JIT phase.
            |Or re-run this tool with --isolate <sfDir> to do step 1 here.
            |""".stripMargin)
      case Some(dir) =>
        println(s"\nISOLATED RE-RUN (min-of-2 after warm-up, $dir):")
        val spark = Sessions.tool("graft-benchdiff")
        val stages = new Bench.StageLog(spark.sparkContext)
        flagged.foreach { d =>
          Bench.timed(spark)(SparkEntry.queries(d.q)(spark, dir)) // warm-up
          val best = stages.minOf2(spark)(SparkEntry.queries(d.q)(spark, dir))
          // does the isolated wall land within band of the FASTER of
          // the two snapshot numbers? For a regression that means the
          // old (fast) number is reproducible -> the slowdown was
          // noise; for an improvement it means the new (fast) number
          // is reproducible -> the speedup is real.
          val matchesFaster = best._1 / math.min(d.a, d.b) < d.band
          val verdict =
            if (d.worse) {
              if (matchesFaster) "NOISE (isolated wall back at the old number)"
              else "REPRODUCES -- profile it"
            } else {
              if (matchesFaster) "improvement holds (isolated matches the new number)"
              else "improvement was NOISE (isolated back near the old number)"
            }
          println(f"  ${d.q}%-28s isolated ${best._1}%.2f s, " +
            f"stages ${best._2}, tasks ${best._3}, heavy1 ${best._4} -> $verdict")
        }
        spark.stop()
    }
  }
}
