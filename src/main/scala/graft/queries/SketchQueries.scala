package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{CountMinEstimate, Det}
import graft.queries.Fixtures.t

/** Mergeable sketches and their accuracy gates: Spark's built-in HLL,
  * theta and Count-Min sketches, graft's DDSketch quantiles, and the
  * bloom-prefiltered semi join.
  */
object SketchQueries {
  /** Distinct-count estimate of a Spark HLL sketch, read through a
    * union. `hll_sketch_estimate` reads a sketch built in row order
    * with the HIP estimator, which depends on that order: the same
    * 50,000 values read 50,024 on 1 partition and 49,561 on 17, and a
    * union of one partial sketch keeps it. A union with itself makes
    * Spark use the composite estimator, which reads only the registers,
    * so the estimate — and every gate flag built on it — is a constant
    * of the data.
    */
  private[graft] def hllEstimate(sk: Column): Column =
    hll_sketch_estimate(hll_union(sk, sk))

  /** Count-Min ε of q139, graft's width W = 1024 (ε = e/W); the sketch
    * and the ⌈ε·N⌉ over-count gate both read it.
    */
  private[graft] val CmsEps: Double = math.E / 1024

  /** Spark Count-Min sketch at q139's parameters: ε = [[CmsEps]],
    * confidence 1 − e⁻⁴ (graft's depth D = 4) and a fixed seed.
    */
  private[graft] def cmsSketch(c: Column): Column =
    count_min_sketch(c, lit(CmsEps), lit(1 - math.exp(-4)), lit(7))

  /** Per-flag HLL estimates merged from per-(flag, status)
    * sub-sketches, beside the exact distinct count (q98, q128).
    */
  private def hllRollup(s: SparkSession, dir: String): DataFrame = {
    val sub = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
    val rolled = sub.groupBy(col("l_returnflag"))
      .agg(hllEstimate(hll_union_agg(col("sk"))).as("n_approx"))
    val exact = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    rolled.join(exact, "l_returnflag")
  }

  /** 7-row rolling distinct users from daily HLL sketches (q121, q130). */
  private def rollingUsers(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day")).rowsBetween(-6, 0)
    daily.select(col("day"),
      hllEstimate(hll_union_agg(col("sk")).over(w)).as("users_7d"))
  }

  val all: Seq[Query] = Seq(
    // --- rolling 7-day distinct users: daily HLL sketches merged over
    //     a 7-row window (the sketch composition that makes rolling
    //     distinct FEASIBLE at scale — exact rolling distinct cannot
    //     pre-aggregate; sketches merge associatively, so the raw data
    //     is touched once). Window is over the ~|days| aggregated
    //     frame, not the events. Rows-only; accuracy gated by q130
    //     and HllSketchSpec ---
    Query("q121_rolling_distinct", (s, dir) => rollingUsers(s, dir)),

    // --- mergeable HLL distinct sketches: per-(flag,status) sub-
    //     sketches roll up to per-flag estimates WITHOUT re-scanning
    //     raw rows — the persistable-sketch surface approx_count_
    //     distinct never exposes. Rows-only for the driver (the
    //     estimator is not SQL-replayable); q128 gates it, and
    //     HllSketchSpec pins the ≤5% error band and the partition-
    //     invariant union-path estimate ---
    Query("q98_hll_sketch", (s, dir) => {
      hllRollup(s, dir)
        .select(col("l_returnflag"), col("n_approx"), col("n_exact"),
          round(abs(col("n_approx") - col("n_exact")).cast("double") /
            col("n_exact"), 4).as("rel_err"))
    }),

    // --- HLL rollup accuracy gate: the driver-visible face of q98
    //     (whose n_approx column is not SQL-expressible). n_exact is
    //     independently recomputed by the DuckDB oracle; within_bound
    //     pins |approx−exact|/exact ≤ 5% (3× the σ ≈ 1.04/√4096
    //     standard error at Spark's default lgConfigK = 12 —
    //     deterministic on fixed data through `hllEstimate`) ---
    Query("q128_hll_rollup_accuracy", (s, dir) => {
      hllRollup(s, dir)
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("n_approx") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.05).cast("int").as("within_bound"))
    },
      // accuracy/coverage gates for the sketch/model operators: exact
      // counts recomputed independently; the flag column pins the
      // Spark-side behavioral bound (see the matching queries)
      oracle = Some("""SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact,
        |       CAST(1 AS INT) AS within_bound
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // --- rolling-HLL accuracy gate: q121's 7-row rolling distinct vs
    //     the exact rolling distinct (rank-window self-join — exact
    //     rolling distinct cannot pre-aggregate, which is the whole
    //     reason q121 exists; at oracle scale the quadratic-ish join
    //     is fine). Mirrors q121's ROWS (-6, 0) frame semantics ---
    Query("q130_rolling_hll_accuracy", (s, dir) => {
      val du = t(s, dir, "events")
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
        .distinct()
      val days = du.select(col("day")).distinct()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("day"))))
      val exact = days.toDF("day", "rn")
        .join(days.toDF("d2", "rn2"),
          col("rn2") >= col("rn") - 6 && col("rn2") <= col("rn"))
        .join(du.toDF("d2", "user_id"), Seq("d2"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      rollingUsers(s, dir).join(exact, "day")
        .select(col("day"), col("n_exact"),
          (abs(col("users_7d") - col("n_exact")).cast("double") /
            col("n_exact") <= 0.05).cast("int").as("within_bound"))
    },
      oracle = Some("""WITH du AS (
        |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
        |days AS (
        |  SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn
        |  FROM (SELECT DISTINCT day FROM du)),
        |pairs AS (
        |  SELECT a.day, b.day AS d2
        |  FROM days a JOIN days b ON b.rn BETWEEN a.rn - 6 AND a.rn)
        |SELECT p.day, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS n_exact,
        |       CAST(1 AS INT) AS within_bound
        |FROM pairs p JOIN du ON du.day = p.d2
        |GROUP BY p.day""".stripMargin)),

    // --- mergeable quantile sketches (DDSketch-style): exact rolling/
    //     rollup percentiles cannot pre-aggregate, so per-group
    //     log-bucket histograms are the 100 TB answer (the quantile
    //     analogue of the q121/q128 HLL family). The gates compute the
    //     DISCRETE exact quantile (rank ⌈q·n⌉) with the same explicit
    //     rank formula on both engines — no reliance on built-in
    //     percentile interpolation semantics — and pin the sketch
    //     estimate within its α = 2 % relative-error guarantee ---
    Query("q133_quantile_sketch", (s, dir) => {
      import graft.functions.DdSketch
      val ev = t(s, dir, "events")
      val sk = ev.groupBy(col("event_type"))
        .agg(DdSketch.sketchAgg(col("value")).as("sk"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("value"))
      val ranked = ev.select(col("event_type"), col("value"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
      val exact = ranked
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
          max(when(col("rn") === ceil(lit(0.5) * col("n")), col("value")))
            .as("ex50"),
          max(when(col("rn") === ceil(lit(0.95) * col("n")), col("value")))
            .as("ex95"))
      sk.join(exact, "event_type")
        .select(col("event_type"), col("n").cast("long").as("n"),
          round(col("ex95"), 4).as("p95_exact"),
          (abs(DdSketch.quantile(col("sk"), 0.5) / col("ex50") - 1) <= 0.02)
            .cast("int").as("p50_ok"),
          (abs(DdSketch.quantile(col("sk"), 0.95) / col("ex95") - 1) <= 0.02)
            .cast("int").as("p95_ok"))
    },
      // quantile-sketch gates: the oracle recomputes the DISCRETE exact
      // quantile with the identical rank-⌈q·n⌉ formula (IEEE double
      // arithmetic is engine-independent) and pins the α-bound flags
      oracle = Some("""WITH ranked AS (
        |  SELECT event_type, value,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |       ROUND(MAX(CASE WHEN rn = CEIL(0.95 * n) THEN value END), 4)
        |         AS p95_exact,
        |       CAST(1 AS INT) AS p50_ok, CAST(1 AS INT) AS p95_ok
        |FROM ranked GROUP BY event_type""".stripMargin)),

    // --- rolling 7-day p95 from daily sketches merged over a window
    //     frame — ONE pass over raw data + an O(days) merge, vs the
    //     exact path's re-scan of every 7-day window (the self-join
    //     below, affordable only at oracle scale) ---
    Query("q134_rolling_p95", (s, dir) => {
      import graft.functions.DdSketch
      val ev = t(s, dir, "events")
        .select(date_trunc("day", col("ts")).as("day"), col("value"))
      val daily = ev.groupBy(col("day"))
        .agg(DdSketch.sketchAgg(col("value")).as("sk"))
      val wf = org.apache.spark.sql.expressions.Window
        .orderBy(col("day")).rowsBetween(-6, 0)
      val approx = daily.select(col("day"),
        DdSketch.quantile(DdSketch.mergeAgg(col("sk")).over(wf), 0.95)
          .as("p95_7d"))
      val days = ev.select(col("day")).distinct()
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("day"))))
      val windowVals = days.toDF("day", "rn")
        .join(days.toDF("d2", "rn2"),
          col("rn2") >= col("rn") - 6 && col("rn2") <= col("rn"))
        .join(ev.toDF("d2", "value"), Seq("d2"))
      val rw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day")).orderBy(col("value"))
      // explicit repartition: the window-frame fan-out rows compress
      // small enough that AQE coalesces the exchange to ONE partition
      // and the per-day sort runs single-task (caught by the 10×
      // smoke); a user-specified partitioning is exempt from
      // coalescing and the window reuses it (no second exchange)
      val exact = windowVals.repartition(32, col("day"))
        .withColumn("rw", row_number().over(rw))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("day"))))
        .filter(col("rw") === ceil(lit(0.95) * col("n")))
        .select(col("day"), round(col("value"), 4).as("p95_exact"))
      approx.join(exact, "day")
        .select(col("day"), col("p95_exact"),
          (abs(col("p95_7d") / col("p95_exact") - 1) <= 0.02)
            .cast("int").as("within_bound"))
    },
      oracle = Some("""WITH ev AS (
        |  SELECT date_trunc('day', ts) AS day, value FROM events),
        |days AS (
        |  SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS rn
        |  FROM (SELECT DISTINCT day FROM ev)),
        |wv AS (
        |  SELECT a.day, e.value
        |  FROM days a JOIN days b ON b.rn BETWEEN a.rn - 6 AND a.rn
        |  JOIN ev e ON e.day = b.day),
        |ranked AS (
        |  SELECT day, value,
        |         ROW_NUMBER() OVER (PARTITION BY day ORDER BY value) AS rw,
        |         COUNT(*) OVER (PARTITION BY day) AS n
        |  FROM wv)
        |SELECT day, ROUND(value, 4) AS p95_exact, CAST(1 AS INT) AS within_bound
        |FROM ranked WHERE rw = CEIL(0.95 * n)""".stripMargin)),

    // --- bloom-prefiltered semi join: at scale a semi join against a
    //     non-broadcastable dim shuffles the whole fact side; the
    //     bloom bit-test drops non-candidates AT THE SCAN and the
    //     exact join removes false positives — output pinned equal to
    //     the plain semi join by the oracle ---
    Query("q138_bloom_semijoin", (s, dir) => {
      val bigOrders = t(s, dir, "orders")
        .filter(col("o_totalprice") > 450000)
      graft.operators.BloomJoin.semiJoin(
          t(s, dir, "lineitem"), "l_orderkey", bigOrders, "o_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          Det.sumRounded(col("l_quantity"), 2).as("sum_qty"))
    },
      // bloom semi join: the oracle is the PLAIN semi join — the bloom
      // prefilter must be output-invisible
      oracle = Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN
        |  (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000)
        |GROUP BY l_returnflag""".stripMargin)),

    // --- Count-Min frequency gate: one global Spark
    //     `count_min_sketch` over the token stream (`cmsSketch`),
    //     probed at the exact top-20 terms. The sketch never
    //     underestimates, and its fixed-seed hash makes both flags
    //     constants of the data — the oracle pins them with the exact
    //     counts it recomputes itself ---
    Query("q139_cms_accuracy", (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
      val sk = toks.agg(cmsSketch(col("term")).as("sk"), count(lit(1)).as("n_tok"))
      val top = toks.groupBy(col("term"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("term")).limit(20)
      top.crossJoin(broadcast(sk))
        .select(col("term"), col("n_exact"),
          (CountMinEstimate(col("sk"), col("term")) >= col("n_exact"))
            .cast("int").as("ge_ok"),
          (CountMinEstimate(col("sk"), col("term")) <=
            col("n_exact") + ceil(lit(CmsEps) * col("n_tok")).cast("long"))
            .cast("int").as("bound_ok"))
    },
      // count-min gate: exact top-20 recomputed; flags pinned
      oracle = Some("""SELECT term, CAST(COUNT(*) AS BIGINT) AS n_exact,
        |       CAST(1 AS INT) AS ge_ok, CAST(1 AS INT) AS bound_ok
        |FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
        |GROUP BY term ORDER BY n_exact DESC, term LIMIT 20""".stripMargin)),

    // --- theta (KMV) sketch overlap gate: per-event-type user
    //     sketches from Spark's `theta_sketch_agg` (K = 4096),
    //     pairwise distinct-intersection estimates — the set algebra
    //     HLL cannot do (register-max merge destroys the sample; a
    //     theta sketch IS a uniform hash sample). Exact overlaps
    //     recomputed both sides; flags pinned (the sketch bytes are
    //     partitioning-invariant ⇒ the estimate is a constant of the
    //     data) ---
    Query("q140_kmv_overlap", (s, dir) => {
      val ut = t(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val sk = ut.groupBy(col("event_type"))
        .agg(theta_sketch_agg(col("user_id")).as("sk"))
      val est = sk.toDF("type_a", "ska")
        .join(sk.toDF("type_b", "skb"), col("type_a") < col("type_b"))
        .select(col("type_a"), col("type_b"),
          theta_sketch_estimate(theta_intersection(col("ska"), col("skb")))
            .as("est"))
      val exact = ut.toDF("user_id", "type_a")
        .join(ut.toDF("user_id", "type_b"), Seq("user_id"))
        .filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
      est.join(exact, Seq("type_a", "type_b"))
        .select(col("type_a"), col("type_b"), col("n_both"),
          (abs(col("est") - col("n_both")).cast("double") /
            col("n_both") <= 0.10).cast("int").as("within_bound"))
    },
      // theta overlap gate: exact pairwise user overlaps recomputed
      oracle = Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_both,
        |       CAST(1 AS INT) AS within_bound
        |FROM ut a JOIN ut b
        |  ON a.user_id = b.user_id AND a.event_type < b.event_type
        |GROUP BY 1, 2""".stripMargin)))
}
