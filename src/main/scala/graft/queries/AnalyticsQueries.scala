package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.Det
import graft.operators._
import graft.queries.Fixtures.t

/** Event and time-series analytics and the statistics family:
  * sessions, funnels, gap fill, as-of/range joins, percentiles,
  * correlation, tests, robust and weighted statistics.
  */
object AnalyticsQueries {
  val all: Seq[Query] = Seq(
    Query("q17_summary_stats", (s, dir) =>
      Popularity.summaryStats(t(s, dir, "lineitem"), col("l_quantity")),
      oracle = Some("""SELECT COUNT(l_quantity) AS n,
        |       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity), 4) AS mean,
        |       ROUND(SQRT((CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |                   - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE))
        |                  / (CAST(COUNT(l_quantity) AS DOUBLE) - 1.0)), 4) AS stddev,
        |       MIN(l_quantity) AS min,
        |       MAX(l_quantity) AS max
        |FROM lineitem""".stripMargin)),

    // --- time bucketing (streaming-equivalent batch window) ---
    Query("q22_events_hourly", (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), Det.sumRounded(col("value"), 2).as("sum_value"))
        .select(col("w.start").as("hour_start"), col("event_type"),
          col("n"), col("sum_value")),
      oracle = Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
        |       COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin)),

    // --- built-in session windows (batch face of sessionization; the
    //     custom-state streaming face is EventStreams.sessionize).
    //     Gap semantics: a session's window is [first, last+gap); an
    //     event landing exactly at the end starts a new session ---
    Query("q61_session_window", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"),
          Det.sumRounded(col("value"), 2).as("sum_value"))
        .select(col("user_id"), col("w.start").as("sess_start"),
          col("n"), col("sum_value")),
      oracle = Some("""WITH m AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, MIN(ts) AS sess_start, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM g GROUP BY user_id, sid""".stripMargin)),

    // --- as-of join: each purchase enriched with the user's most
    //     recent click at-or-before it (AsofJoin: union + one keyed
    //     window, not a range nested-loop; oracle = DuckDB ASOF JOIN) ---
    Query("q70_asof_join", (s, dir) => {
      val ev = t(s, dir, "events")
      AsofJoin.asofJoin(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"),
            col("event_id").as("click_id"), col("value").as("click_value")),
        "user_id", "ts", "ts",
        Seq("click_id", "click_value"))
    },
      oracle = Some("""WITH l AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, event_id AS click_id, value AS click_value
        |      FROM events WHERE event_type = 'click')
        |SELECT l.event_id, l.user_id, l.ts,
        |       r.click_id AS asof_click_id, r.click_value AS asof_click_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin)),

    // --- range join: purchases inside each 2-day signup window, via
    //     the binned equi-join rewrite (RangeJoin — no nested loop) ---
    Query("q71_range_join", (s, dir) => {
      val ev = t(s, dir, "events")
      val wins = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("win_id"), col("user_id"),
          col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 DAYS")).as("end_ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"))
      RangeJoin.pointInInterval(wins, purch, "user_id",
          "start_ts", "end_ts", "p_ts", binSeconds = 86400L)
        .groupBy(col("win_id"), col("user_id"))
        .agg(count(lit(1)).as("n_purchases"))
    },
      oracle = Some("""WITH w AS (SELECT event_id AS win_id, user_id, ts AS start_ts,
        |                  ts + INTERVAL 2 DAY AS end_ts
        |           FROM events WHERE event_type = 'signup'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT w.win_id, w.user_id, COUNT(*) AS n_purchases
        |FROM w JOIN p ON w.user_id = p.user_id
        |              AND p.ts >= w.start_ts AND p.ts < w.end_ts
        |GROUP BY 1, 2""".stripMargin)),

    // --- sessionized conversion funnel: per user, how many 30-min
    //     sessions saw view → click → purchase in strict time order
    //     (sequence-pattern analytics on top of session windows) ---
    Query("q84_conversion_funnel", (s, dir) => {
      val sess = t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("vt"),
          min(when(col("event_type") === "click", col("ts"))).as("ct"),
          min(when(col("event_type") === "purchase", col("ts"))).as("pt"))
      sess.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(when(col("vt") < col("ct") && col("ct") < col("pt"), 1)
            .otherwise(0)).as("n_converted"))
    },
      // same gaps-and-islands sessionization as q61, then per-session
      // conditional min timestamps and the strict ordering test; NULL
      // comparisons are false in both engines, so sessions missing a
      // stage never count as converted
      oracle = Some("""WITH m AS (
        |  SELECT user_id, ts, event_type,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |sess AS (
        |  SELECT user_id, sid,
        |         MIN(CASE WHEN event_type = 'view' THEN ts END) AS vt,
        |         MIN(CASE WHEN event_type = 'click' THEN ts END) AS ct,
        |         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS pt
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |       CAST(SUM(CASE WHEN vt < ct AND ct < pt THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_converted
        |FROM sess GROUP BY user_id""".stripMargin)),

    // --- exact interpolated percentiles (same continuous-quantile
    //     semantics as the SQL oracle's quantile_cont) ---
    Query("q63_percentiles", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99_price")),
      oracle = Some("""SELECT l_returnflag,
        |       ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 4) AS p50,
        |       ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 4) AS p90,
        |       ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 4) AS p99_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // --- time-series gap fill: dense hourly grid per event type,
    //     zero-filled buckets (grid generated distributed via
    //     per-key sequence explode — see operators/Resample) ---
    Query("q90_gapfill", (s, dir) =>
      Resample.gapFill(t(s, dir, "events"), "event_type", "ts", "value"),
      oracle = Some("""WITH b AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(18,2))) AS sv
        |  FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, MIN(bucket) AS b0, MAX(bucket) AS b1
        |      FROM b GROUP BY 1),
        |g AS (SELECT event_type,
        |             unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS bucket
        |      FROM s)
        |SELECT g.event_type, g.bucket,
        |       COALESCE(b.n, 0) AS n,
        |       ROUND(CAST(COALESCE(b.sv, 0) AS DOUBLE), 2) AS sum_value
        |FROM g LEFT JOIN b
        |  ON g.event_type = b.event_type AND g.bucket = b.bucket""".stripMargin)),

    // --- sliding event-time windows: 2-hour width, 1-hour slide —
    //     each event lands in two overlapping buckets (the smoothing
    //     window every rate/trend monitor uses) ---
    Query("q91_sliding_window", (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n")),
      oracle = Some("""WITH x AS (
        |  SELECT event_type, date_trunc('hour', ts) AS ws FROM events
        |  UNION ALL
        |  SELECT event_type, date_trunc('hour', ts) - INTERVAL 1 HOUR
        |  FROM events)
        |SELECT ws AS win_start, event_type, COUNT(*) AS n
        |FROM x GROUP BY 1, 2""".stripMargin)),

    // --- RANGE window frame over event time: per-user trailing-hour
    //     value sum — frame bounds by VALUE (all peers included), not
    //     row position; exact decimal accumulation ---
    Query("q93_range_frame", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("ts").cast("long"))
        .rangeBetween(-3599, 0)
      t(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("sum_1h"))
    },
      oracle = Some("""SELECT event_id, user_id, ts,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |            OVER (PARTITION BY user_id
        |                  ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT)
        |                  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS sum_1h
        |FROM events""".stripMargin)),

    // --- clickstream paths: per 30-min session, the time-ordered
    //     event-type sequence folded to a path string, then counted
    //     corpus-wide (the navigation-flow report). Ordering comes
    //     from sort_array over (ts, event_id, type) structs — a
    //     deterministic ordered-collect, not collect_list order ---
    Query("q122_session_paths", (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("evs"))
        .select(concat_ws(">",
          expr("transform(evs, e -> e.event_type)")).as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions")),
      oracle = Some("""WITH m AS (
        |  SELECT user_id, ts, event_id, event_type,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                           ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m),
        |p AS (
        |  SELECT user_id, sid,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM g GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1""".stripMargin)),

    // --- event-type co-occurrence with lift: which behaviors happen
    //     in the same users (the association-rules/market-basket
    //     primitive). Distinct (user, type) self-join on the user —
    //     pair fan-out bounded by types-per-user, never user² ---
    Query("q120_cooccurrence", (s, dir) => {
      val ut = t(s, dir, "events")
        .select(col("user_id"), col("event_type")).distinct()
      val perType = ut.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_t"))
      val total = ut.select(col("user_id")).distinct()
        .agg(count(lit(1)).as("n_users"))
      val a = ut.toDF("user_id", "type_a")
      val b = ut.toDF("user_id", "type_b")
      a.join(b, Seq("user_id")).filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
        .join(perType.toDF("type_a", "n_a"), Seq("type_a"))
        .join(perType.toDF("type_b", "n_b"), Seq("type_b"))
        .crossJoin(broadcast(total))
        .select(col("type_a"), col("type_b"), col("n_both"),
          round(col("n_both").cast("double") * col("n_users") /
            (col("n_a") * col("n_b")), 6).as("lift"))
    },
      oracle = Some("""WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |pt AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY 1),
        |tot AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         COUNT(*) AS n_both
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |                     AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_both,
        |       ROUND(CAST(p.n_both AS DOUBLE) * tot.n_users /
        |             (pa.n_t * pb.n_t), 6) AS lift
        |FROM p
        |JOIN pt pa ON pa.event_type = p.type_a
        |JOIN pt pb ON pb.event_type = p.type_b
        |CROSS JOIN tot""".stripMargin)),

    // --- per-group z-score standardization + outlier flag (feature
    //     scaling with engine-stable decimal moments) ---
    Query("q115_zscore", (s, dir) => {
      val e = t(s, dir, "events")
      val stats = e.groupBy(col("event_type")).agg(
        Det.avgRounded(col("value"), 6).as("mu"),
        Det.stddevRounded(col("value"), 6).as("sigma"))
      // sigma=0 (constant group) → NULL z on both engines: Spark's
      // non-ANSI x/0 is NULL but DuckDB's IEEE default is Inf/NaN, so
      // the guard (with NULLIF in the oracle) keeps parity data-independent
      e.join(stats, "event_type")
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("mu")) /
            when(col("sigma") =!= 0d, col("sigma")), 4).as("z"))
        .withColumn("is_outlier", (abs(col("z")) > 3.0).cast("int"))
    },
      oracle = Some("""WITH s AS (
        |  SELECT event_type,
        |         ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |               / COUNT(value), 6) AS mu,
        |         ROUND(SQRT((CAST(SUM(CAST(value AS DECIMAL(18,2)) *
        |                              CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |                     - CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |                       * CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |                       / CAST(COUNT(value) AS DOUBLE))
        |                    / (CAST(COUNT(value) AS DOUBLE) - 1.0)), 6) AS sigma
        |  FROM events GROUP BY 1)
        |SELECT e.event_id, e.event_type,
        |       ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 4) AS z,
        |       CAST(ABS(ROUND((e.value - s.mu) / NULLIF(s.sigma, 0), 4)) > 3.0
        |            AS INT) AS is_outlier
        |FROM events e JOIN s USING (event_type)""".stripMargin)),

    // --- cohort retention: users cohorted by first-active week; cell
    //     (cohort, offset) = distinct users active offset weeks later —
    //     the product-analytics retention triangle. Two keyed aggs +
    //     one join; cohort table is small and broadcasts ---
    Query("q111_cohort_retention", (s, dir) => {
      val wk = date_trunc("week", col("ts"))
      val activity = t(s, dir, "events")
        .select(col("user_id"), wk.as("week")).distinct()
      val cohorts = activity.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      activity.join(cohorts, "user_id")
        .select(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7)
            .cast("int").as("week_offset"))
        .groupBy(col("cohort_week"), col("week_offset"))
        .agg(count(lit(1)).as("n_users"))
    },
      oracle = Some("""WITH a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
        |           FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort_week FROM a GROUP BY 1)
        |SELECT c.cohort_week,
        |       CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INT)
        |         AS week_offset,
        |       COUNT(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |GROUP BY 1, 2""".stripMargin)),

    // --- event-transition matrix: (previous type → type) counts per
    //     user stream — first-order Markov profile of the event flow ---
    Query("q112_transitions", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"),
          lag(col("event_type"), 1).over(w).as("prev_type"),
          col("event_type"))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    },
      oracle = Some("""WITH x AS (
        |  SELECT user_id,
        |         LAG(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts, event_id) AS prev_type,
        |         event_type
        |  FROM events)
        |SELECT prev_type, event_type, COUNT(*) AS n
        |FROM x WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),

    // --- LOCF forward fill: value observed only on purchase rows,
    //     carried forward to later events of the same user (the
    //     sensor/price-series repair; one keyed window) ---
    Query("q109_locf", (s, dir) =>
      Resample.locf(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("ts"),
          when(col("event_type") === "purchase", col("value")).as("v")),
        "user_id", "ts", "v", tieBreak = Seq("event_id"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("v_filled")),
      oracle = Some("""SELECT event_id, user_id, ts,
        |       LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
        |                  IGNORE NULLS)
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS v_filled
        |FROM events""".stripMargin)),

    // --- engine-stable Pearson correlation: exact decimal moment
    //     sums, closed form applied once (built-in corr is partition-
    //     order-dependent double accumulation — unoracle-able) ---
    Query("q108_corr", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(Det.corrRounded(col("l_quantity"), col("l_extendedprice"))
          .as("qty_price_corr"),
          count(lit(1)).as("n")),
      oracle = Some("""WITH a AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |                  CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                  CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) *
        |                  CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag,
        |       ROUND((n * sxy - sx * sy) /
        |             (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 6)
        |         AS qty_price_corr,
        |       n
        |FROM a""".stripMargin)),

    // --- pairwise Welch t-tests between event types on the value
    //     metric: exact decimal moment sums, closed-form t and
    //     Welch–Satterthwaite dof on the 5-row stats frame ---
    Query("q150_welch_ab", (s, dir) =>
      Features.welchPairs(t(s, dir, "events"), "event_type", "value"),
      // Welch: exact decimal moments per group; scalar double closed
      // form mirrored op-for-op (se first, then t and dof)
      oracle = Some("""WITH g AS (
        |  SELECT event_type AS grp, COUNT("value") AS n,
        |         CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |         CAST(SUM(CAST("value" AS DECIMAL(18,2)) *
        |                  CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS s2
        |  FROM events GROUP BY 1),
        |m AS (
        |  SELECT grp, n, s1 / n AS m,
        |         (s2 - s1 * s1 / n) / (CAST(n AS DOUBLE) - 1.0) AS v
        |  FROM g),
        |p AS (
        |  SELECT a.grp AS type_a, b.grp AS type_b, a.n AS n_a, b.n AS n_b,
        |         a.m AS m_a, b.m AS m_b, a.v / a.n AS se_a, b.v / b.n AS se_b
        |  FROM m a JOIN m b ON a.grp < b.grp)
        |SELECT type_a, type_b, n_a, n_b,
        |       ROUND((m_a - m_b) / SQRT(NULLIF(se_a + se_b, 0)), 4) AS t_welch,
        |       ROUND((se_a + se_b) * (se_a + se_b) /
        |             NULLIF(se_a * se_a / (CAST(n_a AS DOUBLE) - 1.0) +
        |                    se_b * se_b / (CAST(n_b AS DOUBLE) - 1.0), 0), 2) AS dof
        |FROM p""".stripMargin)),

    // --- per-user covered online time from overlapping 30-minute
    //     activity windows: the interval-union sweep as ONE window
    //     pass per key (no interval×interval join), exact integer
    //     seconds ---
    Query("q151_interval_union", (s, dir) => {
      val iv = t(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("st"))
        .withColumn("en", col("st") + 1800L)
      Intervals.coveredTime(iv, "user_id", "st", "en")
    },
      // interval union: same sweep (pmax → open flag → segment id →
      // segment length); epoch seconds floor-truncated on both engines
      oracle = Some("""WITH iv AS (
        |  SELECT user_id, epoch_us(ts) // 1000000 AS st,
        |         epoch_us(ts) // 1000000 + 1800 AS en
        |  FROM events),
        |m AS (
        |  SELECT user_id, st, en,
        |         MAX(en) OVER (PARTITION BY user_id ORDER BY st, en
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |sg AS (
        |  SELECT user_id, st, en,
        |         SUM(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY user_id ORDER BY st, en
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM m),
        |g AS (
        |  SELECT user_id, seg, COUNT(*) AS nn, GREATEST(MAX(en) - MIN(st), 0) AS len
        |  FROM sg GROUP BY 1, 2)
        |SELECT user_id, CAST(SUM(nn) AS BIGINT) AS n_intervals,
        |       CAST(COUNT(*) AS BIGINT) AS n_segments,
        |       CAST(SUM(len) AS BIGINT) AS covered_s
        |FROM g GROUP BY 1""".stripMargin)),

    // --- CUPED variance reduction per event type: first-half-of-
    //     month value as the pre-period covariate, second half as the
    //     metric; θ and the variance-reduction readout from exact
    //     decimal moments ---
    Query("q152_cuped", (s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("day", dayofmonth(col("ts")))
      val zero = lit(0).cast("decimal(18,2)")
      val units = ev.groupBy(col("user_id"), col("event_type"))
        .agg(
          sum(when(col("day") < 16, col("value").cast("decimal(18,2)"))
            .otherwise(zero)).cast("double").as("pre"),
          sum(when(col("day") >= 16, col("value").cast("decimal(18,2)"))
            .otherwise(zero)).cast("double").as("post"))
      Features.cuped(units, "event_type", "pre", "post")
    },
      // CUPED: unit rollup in exact decimal; moments and θ mirrored
      // op-for-op; var_adj from the moments (no re-aggregation)
      oracle = Some("""WITH u AS (
        |  SELECT user_id, event_type,
        |         CAST(SUM(CASE WHEN date_part('day', ts) < 16
        |              THEN CAST("value" AS DECIMAL(18,2))
        |              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS pre,
        |         CAST(SUM(CASE WHEN date_part('day', ts) >= 16
        |              THEN CAST("value" AS DECIMAL(18,2))
        |              ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS post
        |  FROM events GROUP BY 1, 2),
        |mo AS (
        |  SELECT event_type AS grp, COUNT(*) AS n_units,
        |         CAST(SUM(CAST(pre AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(post AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(pre AS DECIMAL(18,2)) *
        |                  CAST(pre AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(post AS DECIMAL(18,2)) *
        |                  CAST(post AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(pre AS DECIMAL(18,2)) *
        |                  CAST(post AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM u GROUP BY 1),
        |v AS (
        |  SELECT grp, n_units, CAST(n_units AS DOUBLE) AS nd,
        |         (sxx - sx * sx / CAST(n_units AS DOUBLE)) /
        |           (CAST(n_units AS DOUBLE) - 1) AS vx,
        |         (syy - sy * sy / CAST(n_units AS DOUBLE)) /
        |           (CAST(n_units AS DOUBLE) - 1) AS vy,
        |         (sxy - sx * sy / CAST(n_units AS DOUBLE)) /
        |           (CAST(n_units AS DOUBLE) - 1) AS cxy
        |  FROM mo)
        |SELECT grp, n_units,
        |       ROUND(cxy / NULLIF(vx, 0), 6) AS theta,
        |       ROUND(vy, 6) AS var_y,
        |       ROUND(vy - cxy * cxy / NULLIF(vx, 0), 6) AS var_adj,
        |       ROUND((vy - cxy * cxy / NULLIF(vx, 0)) / NULLIF(vy, 0), 6)
        |         AS reduction
        |FROM v""".stripMargin)),

    // --- weighted median price per return flag (weight = quantity):
    //     per-(group, value) weight histogram first, cumulative over
    //     DISTINCT VALUES only — the median is an input value, nothing
    //     to round ---
    Query("q153_weighted_median", (s, dir) =>
      Features.weightedMedian(t(s, dir, "lineitem"), "l_returnflag",
        "l_extendedprice", "l_quantity"),
      // weighted median: per-value weight histogram, cumulative over
      // distinct values; the answer is an input value — no float
      // arithmetic
      oracle = Some("""WITH pv AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT l_returnflag, l_extendedprice,
        |         SUM(w) OVER (PARTITION BY l_returnflag
        |           ORDER BY l_extendedprice
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM pv),
        |t AS (SELECT l_returnflag, CAST(SUM(w) AS BIGINT) AS tot
        |      FROM pv GROUP BY 1)
        |SELECT c.l_returnflag, MIN(l_extendedprice) AS w_median
        |FROM c JOIN t USING (l_returnflag)
        |WHERE cum * 2 >= tot GROUP BY 1""".stripMargin)),

    // --- key-skew concentration report (Gini + top-k share) for the
    //     events user key, computed from the count-of-counts histogram
    //     so no global per-key ranking exists anywhere in the plan ---
    Query("q154_skew_report", (s, dir) =>
      Features.countConcentration(t(s, dir, "events"), "user_id"),
      // skew report: Gini from the count-of-counts histogram (block
      // rank sums in exact integers), top-k share from the descending
      // cumulative
      oracle = Some("""WITH counts AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |hist AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS f
        |         FROM counts GROUP BY 1),
        |h AS (
        |  SELECT n, f,
        |         SUM(f) OVER (ORDER BY n ASC ROWS BETWEEN UNBOUNDED
        |           PRECEDING AND CURRENT ROW) AS cumF,
        |         COALESCE(SUM(f) OVER (ORDER BY n ASC ROWS BETWEEN
        |           UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prevF,
        |         COALESCE(SUM(f) OVER (ORDER BY n DESC ROWS BETWEEN
        |           UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prevD
        |  FROM hist),
        |k AS (
        |  SELECT CAST(SUM(f) AS BIGINT) AS n_keys,
        |         CAST(SUM(n * f) AS BIGINT) AS total,
        |         CAST(SUM(n * (cumF * (cumF + 1) // 2 -
        |                       prevF * (prevF + 1) // 2)) AS BIGINT) AS iw,
        |         CAST(SUM(n * GREATEST(0, LEAST(f, 1 - prevD)))
        |              AS BIGINT) AS top1,
        |         CAST(SUM(n * GREATEST(0, LEAST(f, 10 - prevD)))
        |              AS BIGINT) AS top10
        |  FROM h)
        |SELECT n_keys, total,
        |       ROUND(CAST(2.0 AS DOUBLE) * iw / CAST(n_keys * total AS DOUBLE) -
        |             CAST(n_keys + 1 AS DOUBLE) / n_keys, 6) AS gini,
        |       ROUND(CAST(top1 AS DOUBLE) / total, 6) AS top1_share,
        |       ROUND(CAST(top10 AS DOUBLE) / total, 6) AS top10_share
        |FROM k""".stripMargin)),

    // --- last-touch attribution: purchases credited to the latest
    //     prior click/view within 1 h — one ignore-nulls window pass
    //     per user, no conversion×history self-join ---
    Query("q155_attribution", (s, dir) => {
      val conv = Attribution.lastTouch(t(s, dir, "events"),
        Seq("click", "view"), "purchase", lookbackS = 3600L)
      conv.groupBy(coalesce(col("attr_type"), lit("unattributed"))
          .as("attr_type"))
        .agg(count(lit(1)).as("n_conv"),
          Det.sumRounded(col("value"), 2).as("sum_value"),
          when(count(col("attr_age_s")) > 0,
            round(sum(col("attr_age_s")).cast("double") /
              count(col("attr_age_s")), 2)).as("avg_age_s"))
    },
      // attribution: ignore-nulls last_value over the same total
      // ordering (ts, event_id); lookback gate and age in exact seconds
      oracle = Some("""WITH ev AS (
        |  SELECT user_id, event_id, event_type, "value",
        |         epoch_us(ts) // 1000000 AS ts_s
        |  FROM events),
        |a AS (
        |  SELECT user_id, event_type, "value", ts_s,
        |         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |                         THEN ts_s END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS attr_ts,
        |         LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
        |                         THEN event_type END IGNORE NULLS)
        |           OVER (PARTITION BY user_id ORDER BY ts_s, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |           AS attr_type_raw
        |  FROM ev),
        |c AS (
        |  SELECT COALESCE(CASE WHEN attr_ts >= ts_s - 3600
        |                       THEN attr_type_raw END,
        |                  'unattributed') AS attr_type,
        |         "value",
        |         CASE WHEN attr_ts >= ts_s - 3600
        |              THEN ts_s - attr_ts END AS age
        |  FROM a WHERE event_type = 'purchase')
        |SELECT attr_type, CAST(COUNT(*) AS BIGINT) AS n_conv,
        |       ROUND(CAST(SUM(CAST("value" AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS sum_value,
        |       CASE WHEN COUNT(age) > 0
        |            THEN ROUND(CAST(SUM(age) AS DOUBLE) / COUNT(age), 2)
        |       END AS avg_age_s
        |FROM c GROUP BY 1""".stripMargin)),

    // --- robust outlier report per event type: exact median + MAD
    //     via the per-(group, value) histogram (nothing floats until
    //     the cut multiply), |x−med| > 3·MAD ---
    Query("q157_mad_outliers", (s, dir) =>
      Features.madOutliers(t(s, dir, "events"), "event_type", "value",
        cut = 3.0),
      // MAD outliers: two histogram-median passes (same shape as q153);
      // the only float op is the final 3·MAD cut, mirrored as a DOUBLE
      oracle = Some("""WITH b AS (
        |  SELECT event_type AS grp, CAST("value" AS DECIMAL(18,2)) AS v
        |  FROM events),
        |pv AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS w
        |       FROM b GROUP BY 1, 2),
        |c AS (SELECT grp, v, SUM(w) OVER (PARTITION BY grp ORDER BY v
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |      FROM pv),
        |t AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS tot FROM pv GROUP BY 1),
        |med AS (SELECT c.grp, MIN(v) AS med FROM c JOIN t USING (grp)
        |        WHERE cum * 2 >= tot GROUP BY 1),
        |d AS (SELECT b.grp, ABS(v - med) AS v FROM b JOIN med USING (grp)),
        |pv2 AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS w
        |        FROM d GROUP BY 1, 2),
        |c2 AS (SELECT grp, v, SUM(w) OVER (PARTITION BY grp ORDER BY v
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |       FROM pv2),
        |t2 AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS tot FROM pv2 GROUP BY 1),
        |mad AS (SELECT c2.grp, MIN(v) AS mad FROM c2 JOIN t2 USING (grp)
        |        WHERE cum * 2 >= tot GROUP BY 1)
        |SELECT b.grp, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(MIN(med.med) AS DOUBLE) AS med,
        |       CAST(MIN(mad.mad) AS DOUBLE) AS mad,
        |       CAST(SUM(CASE WHEN ABS(v - med.med) >
        |                          CAST(3.0 AS DOUBLE) * mad.mad
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM b JOIN med USING (grp) JOIN mad USING (grp)
        |GROUP BY 1""".stripMargin)),

    // --- rolling 7-day correlation between daily quantity and revenue
    //     totals: decimal-exact frame moments over the DAILY series
    //     (day-count rows through the window, never the raw table) ---
    Query("q162_rolling_corr", (s, dir) => {
      val daily = t(s, dir, "lineitem")
        .groupBy(col("l_shipdate").as("d"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("x"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("y"))
      Features.rollingCorr(daily, "d", "x", "y", lookback = 7)
    },
      // rolling corr: identical frame, decimal moment sums, closed form
      // guarded on frame size and positive variances
      oracle = Some("""WITH daily AS (
        |  SELECT l_shipdate AS d,
        |         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS x,
        |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |           AS y
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT d, x, y,
        |         CAST(COUNT(*) OVER w AS DOUBLE) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(y AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x AS DECIMAL(18,2)) *
        |                  CAST(x AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(y AS DECIMAL(18,2)) *
        |                  CAST(y AS DECIMAL(18,2))) OVER w AS DOUBLE) AS syy,
        |         CAST(SUM(CAST(x AS DECIMAL(18,2)) *
        |                  CAST(y AS DECIMAL(18,2))) OVER w AS DOUBLE) AS sxy
        |  FROM daily
        |  WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT d, x, y, CAST(n AS BIGINT) AS n_win,
        |       CASE WHEN n >= 3 AND n * sxx - sx * sx > 0
        |                 AND n * syy - sy * sy > 0
        |            THEN ROUND((n * sxy - sx * sy) /
        |                 (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)),
        |                 6)
        |       END AS corr
        |FROM m""".stripMargin)),

    // --- quantile normalization of event values per type onto the
    //     global distribution: per-value histogram CDFs + one
    //     as-of-style ignore-nulls window per group — distribution
    //     alignment without ever ranking raw rows ---
    Query("q161_quantile_norm", (s, dir) =>
      Features.quantileNormalize(t(s, dir, "events"), "event_type",
        "value"),
      // quantile normalization: CDFs from per-value histograms; the
      // as-of alignment replayed as the same union + ignore-nulls
      // last_value over (cdf, tag, value) ordering
      oracle = Some("""WITH pv AS (
        |  SELECT event_type AS grp, "value" AS v, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM events GROUP BY 1, 2),
        |gt AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS tot FROM pv GROUP BY 1),
        |gc AS (
        |  SELECT pv.grp, v,
        |         ROUND(CAST(SUM(w) OVER (PARTITION BY pv.grp ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |               AS DOUBLE) / tot, 9) AS cdf
        |  FROM pv JOIN gt USING (grp)),
        |gv AS (SELECT "value" AS v, CAST(COUNT(*) AS BIGINT) AS w
        |       FROM events GROUP BY 1),
        |gtot AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM gv),
        |gcdf AS (
        |  SELECT v AS v_ref,
        |         ROUND(CAST(SUM(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |                 PRECEDING AND CURRENT ROW) AS DOUBLE) / tot, 9) AS cdf
        |  FROM gv, gtot),
        |u AS (
        |  SELECT g.grp, CAST(NULL AS DOUBLE) AS v, r.cdf, 0 AS tag, r.v_ref
        |  FROM (SELECT DISTINCT grp FROM gc) g, gcdf r
        |  UNION ALL
        |  SELECT grp, v, cdf, 1 AS tag, CAST(NULL AS DOUBLE) AS v_ref
        |  FROM gc),
        |m AS (
        |  SELECT grp, v, cdf, tag,
        |         LAST_VALUE(v_ref IGNORE NULLS) OVER (PARTITION BY grp
        |           ORDER BY cdf, tag, COALESCE(v, v_ref)
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_norm
        |  FROM u)
        |SELECT grp, v, cdf, v_norm FROM m WHERE tag = 1""".stripMargin)),

    // --- binned twin of q161: event values are CONTINUOUS (distinct
    //     ≈ rows), so the global-CDF window is table-sized without
    //     the knob; binDigits=0 floors values to integer bins, which
    //     provably bounds every CDF window to the ≤ ~500-row value
    //     histogram (the corpus-scale contract of quantileNormalize) ---
    Query("q193_qnorm_binned", (s, dir) =>
      Features.quantileNormalize(t(s, dir, "events"), "event_type",
        "value", binDigits = Some(0)),
      // binned quantile normalization: FLOOR("value") bins replayed in
      // both CDFs, then the identical q161 alignment SQL
      oracle = Some("""WITH pv AS (
        |  SELECT event_type AS grp, FLOOR("value" * 1.0) / 1.0 AS v,
        |         CAST(COUNT(*) AS BIGINT) AS w
        |  FROM events GROUP BY 1, 2),
        |gt AS (SELECT grp, CAST(SUM(w) AS BIGINT) AS tot FROM pv GROUP BY 1),
        |gc AS (
        |  SELECT pv.grp, v,
        |         ROUND(CAST(SUM(w) OVER (PARTITION BY pv.grp ORDER BY v
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                 AS DOUBLE) / tot, 9) AS cdf
        |  FROM pv JOIN gt USING (grp)),
        |gv AS (SELECT FLOOR("value" * 1.0) / 1.0 AS v,
        |              CAST(COUNT(*) AS BIGINT) AS w
        |       FROM events GROUP BY 1),
        |gtot AS (SELECT CAST(SUM(w) AS BIGINT) AS tot FROM gv),
        |gcdf AS (
        |  SELECT v AS v_ref,
        |         ROUND(CAST(SUM(w) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
        |                 PRECEDING AND CURRENT ROW) AS DOUBLE) / tot, 9) AS cdf
        |  FROM gv, gtot),
        |u AS (
        |  SELECT g.grp, CAST(NULL AS DOUBLE) AS v, r.cdf, 0 AS tag, r.v_ref
        |  FROM (SELECT DISTINCT grp FROM gc) g, gcdf r
        |  UNION ALL
        |  SELECT grp, v, cdf, 1 AS tag, CAST(NULL AS DOUBLE) AS v_ref
        |  FROM gc),
        |m AS (
        |  SELECT grp, v, cdf, tag,
        |         LAST_VALUE(v_ref IGNORE NULLS) OVER (PARTITION BY grp
        |           ORDER BY cdf, tag, COALESCE(v, v_ref)
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_norm
        |  FROM u)
        |SELECT grp, v, cdf, v_norm FROM m WHERE tag = 1""".stripMargin)))
}
