package graft
package queries

import org.apache.spark.sql.functions._
import graft.SparkEntry.scratch
import graft.functions.Det
import graft.operators._
import graft.sources.Tables
import graft.queries.Fixtures.{t, ratings, ratingsSql}

/** Cleaning, projection, aggregation, joins, windows, set operators,
  * scalar functions, layouts and the source/sink roundtrips (SURVEY
  * §2 P/A/J/T/F/S).
  */
object RelationalQueries {
  val all: Seq[Query] = Seq(
    // --- cleaning / projection / predicates (P1-P4, P7, P8) ---
    Query("q01_clean_project", (s, dir) => ratings(s, dir),
      oracle = Some(ratingsSql)),

    Query("q05_conditional_binarize", (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        Cleaning.binarize(col("value"), 100.0).as("label")),
      oracle = Some("""SELECT event_id,
        |       CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label
        |FROM events""".stripMargin)),

    // --- distinct (P11) ---
    Query("q04_distinct", (s, dir) =>
      t(s, dir, "customer").select(col("c_mktsegment")).distinct(),
      oracle = Some("SELECT DISTINCT c_mktsegment FROM customer")),

    // --- aggregations (A1, A2, P6, T1, T2) ---
    Query("q02_popularity_topn", (s, dir) =>
      Popularity.topByAvgRating(ratings(s, dir), "itemId", "rating",
        minCount = 2, topN = 100),
      oracle = Some(s"""WITH r AS ($ratingsSql)
         |SELECT itemId,
         |       ROUND(CAST(SUM(CAST(rating AS DECIMAL(18,2))) AS DOUBLE) / COUNT(rating), 4) AS avg_rating,
         |       COUNT(rating) AS num_ratings
         |FROM r GROUP BY itemId HAVING COUNT(rating) >= 2
         |ORDER BY avg_rating DESC, num_ratings DESC, itemId
         |LIMIT 100""".stripMargin)),

    Query("q03_group_count", (s, dir) =>
      Popularity.countsPerKey(t(s, dir, "orders"), "o_custkey", "num_orders"),
      oracle = Some("SELECT o_custkey, COUNT(*) AS num_orders FROM orders GROUP BY o_custkey")),

    // --- id mapping (W1, scale-safe) ---
    Query("q06_id_mapping", (s, dir) =>
      IdMapping.denseIds(t(s, dir, "orders"), "o_custkey", "mapped_id"),
      oracle = Some("""SELECT o_custkey,
        |       CAST(ROW_NUMBER() OVER (ORDER BY o_custkey) - 1 AS BIGINT) AS mapped_id
        |FROM (SELECT DISTINCT o_custkey FROM orders) t""".stripMargin)),

    // --- joins (J1-J5) ---
    Query("q07_join_inner", (s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
    },
      oracle = Some("""SELECT o_orderkey, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    Query("q08_join_semi", (s, dir) => {
      val o = t(s, dir, "orders")
      val rich = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"))
      o.join(rich, o("o_custkey") === rich("c_custkey"), "left_semi")
        .select(col("o_orderkey"), col("o_custkey"))
    },
      oracle = Some("""SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)""".stripMargin)),

    Query("q09_join_left", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("num_orders"))
    },
      oracle = Some("""SELECT c_custkey, COUNT(o_orderkey) AS num_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin)),

    Query("q10_join_multiway_broadcast", (s, dir) => {
      val l = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          Det.sumProductRounded(col("l_extendedprice"), col("l_discount"))
            .as("revenue"),
          count(lit(1)).as("n_rows"))
    },
      oracle = Some("""SELECT n_name,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
        |       COUNT(*) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)),

    // --- per-group top-k / dedup (T4, U1) ---
    Query("q11_topk_per_group", (s, dir) =>
      TopK.perGroup(t(s, dir, "orders"), "o_custkey",
          Seq(col("o_totalprice").desc, col("o_orderkey")), k = 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("rank")),
      oracle = Some("""SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rank
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn <= 3""".stripMargin)),

    Query("q14_dedup_first_seen", (s, dir) =>
      TopK.dedupFirstSeen(t(s, dir, "lineitem"), "l_orderkey",
          "l_returnflag", Seq(col("l_linenumber")))
        .select(col("l_orderkey"), col("l_returnflag"), col("l_linenumber")),
      oracle = Some("""SELECT l_orderkey, l_returnflag, l_linenumber
        |FROM (SELECT l_orderkey, l_returnflag, l_linenumber,
        |             ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_returnflag ORDER BY l_linenumber) AS rn
        |      FROM lineitem) t
        |WHERE rn = 1""".stripMargin)),

    // --- per-group top-k via typed Aggregator: bounded k-list state,
    //     map-side partial top-k (shuffle ~ k·groups, not |rows|) —
    //     the window-free T4 scale path ---
    Query("q59_topk_agg", (s, dir) =>
      TopKAgg.perGroup(t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice").cast("double").as("total_d")),
        "o_custkey", "total_d", "o_orderkey", k = 3),
      oracle = Some("""SELECT o_custkey, CAST(rn AS INT) AS rank, o_orderkey,
        |       CAST(o_totalprice AS DOUBLE) AS total_d
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             ROW_NUMBER() OVER (PARTITION BY o_custkey
        |               ORDER BY CAST(o_totalprice AS DOUBLE) DESC, o_orderkey) AS rn
        |      FROM orders) t
        |WHERE rn <= 3""".stripMargin)),

    // --- generators (F3/F4) ---
    Query("q15_explode", (s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")))
        .toDF("vec_id", "pos", "val"),
      oracle = Some("""SELECT vec_id,
        |       CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
        |       unnest(embedding) AS val
        |FROM embeddings""".stripMargin)),

    // --- pivot (A3/A4, bounded) ---
    Query("q16_pivot", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(Det.sumRounded(col("l_quantity"), 2))
        .na.fill(0.0),
      oracle = Some("""SELECT l_returnflag,
        |       COALESCE(ROUND(CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 2), 0.0) AS F,
        |       COALESCE(ROUND(CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 2), 0.0) AS O
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    // --- set operators ---
    Query("q18_except", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .except(t(s, dir, "orders").select(col("o_custkey"))),
      oracle = Some("SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders")),

    Query("q19_intersect", (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"))
        .intersect(t(s, dir, "orders").select(col("o_custkey"))),
      oracle = Some("SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders")),

    Query("q20_union", (s, dir) =>
      t(s, dir, "orders").select(col("o_custkey").as("key"))
        .union(t(s, dir, "customer").select(col("c_custkey").as("key")))
        .distinct(),
      oracle = Some("""SELECT o_custkey AS key FROM orders
        |UNION
        |SELECT c_custkey AS key FROM customer""".stripMargin)),

    // --- scalar string functions (F6 + family) ---
    Query("q21_strings", (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(substring(col("p_name"), 1, 12)).as("name12"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len")),
      oracle = Some("""SELECT p_partkey,
        |       UPPER(SUBSTRING(p_name, 1, 12)) AS name12,
        |       p_brand || '-' || p_type AS brand_type,
        |       CAST(LENGTH(p_name) AS INT) AS name_len
        |FROM part""".stripMargin)),

    // --- incremental upsert: latest-wins merge of a change batch onto
    //     the base (max-struct agg — map-side combine, no window sort) ---
    Query("q81_upsert_latest", (s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .withColumn("version", lit(0L))
      // decimal arithmetic for the simulated price bump: double *1.1
      // then round(…,2) is engine-dependent at half-boundaries
      val changes = t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice").cast("decimal(12,2)") *
            lit("1.10").cast("decimal(4,2)"), 2)
            .cast("double").as("o_totalprice"))
        .withColumn("version", lit(1L))
      Upsert.latestWins(base.unionByName(changes),
        Seq("o_orderkey"), "version")
    },
      oracle = Some("""WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |                     CAST(0 AS BIGINT) AS version FROM orders),
        |chg AS (SELECT o_orderkey, o_custkey,
        |               CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) *
        |                    CAST('1.10' AS DECIMAL(4,2)), 2) AS DOUBLE) AS o_totalprice,
        |               CAST(1 AS BIGINT) AS version
        |        FROM orders WHERE o_orderkey % 10 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
        |                 ORDER BY version DESC) AS rn FROM u)
        |SELECT o_orderkey, o_custkey, o_totalprice, version
        |FROM r WHERE rn = 1""".stripMargin)),

    // --- equi-width histogram (the profiling/EDA staple) ---
    Query("q83_histogram", (s, dir) =>
      t(s, dir, "orders")
        .groupBy(floor(col("o_totalprice") / 25000.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi")),
      oracle = Some("""SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS bucket,
        |       COUNT(*) AS n,
        |       ROUND(MIN(o_totalprice), 2) AS lo,
        |       ROUND(MAX(o_totalprice), 2) AS hi
        |FROM orders GROUP BY 1""".stripMargin)),

    // --- TPC-H Q1-shape pricing summary: decimal-exact sums with
    //     explicit intermediate casts so the decimal lattice stays
    //     within both engines' 38-digit cap (flagship relational agg) ---
    Query("q79_pricing_summary", (s, dir) => {
      val qty = col("l_quantity").cast("decimal(12,2)")
      val price = col("l_extendedprice").cast("decimal(12,2)")
      val one = lit(1).cast("decimal(12,2)")
      val discPrice = (price * (one - col("l_discount").cast("decimal(12,2)")))
        .cast("decimal(18,4)")
      val charge = (discPrice * (one + col("l_tax").cast("decimal(12,2)")))
        .cast("decimal(18,6)")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= expr("TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(qty).as("_sq"), sum(price).as("_sp"),
          sum(discPrice).as("_sdp"), sum(charge).as("_sc"),
          count(lit(1)).as("count_order"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("_sq").cast("double"), 2).as("sum_qty"),
          round(col("_sp").cast("double"), 2).as("sum_base_price"),
          round(col("_sdp").cast("double"), 2).as("sum_disc_price"),
          round(col("_sc").cast("double"), 2).as("sum_charge"),
          round(col("_sq").cast("double") / col("count_order"), 6).as("avg_qty"),
          round(col("_sp").cast("double") / col("count_order"), 6).as("avg_price"),
          col("count_order"))
    },
      oracle = Some("""SELECT l_returnflag, l_linestatus,
        |       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_qty,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2) AS sum_base_price,
        |       ROUND(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |             (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)))
        |             AS DOUBLE), 2) AS sum_disc_price,
        |       ROUND(CAST(SUM(CAST(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |             (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4)) *
        |             (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2))) AS DECIMAL(18,6)))
        |             AS DOUBLE), 2) AS sum_charge,
        |       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin)),

    // --- anti join: lapsed customers — no order since 1998 (completes
    //     the join family next to inner/semi/left/broadcast; the date
    //     filter keeps the result non-trivial: every customer has SOME
    //     order in this data) ---
    Query("q77_anti_join", (s, dir) =>
      t(s, dir, "customer").join(
          t(s, dir, "orders").filter(col("o_orderdate") >= lit("1998-01-01")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
      oracle = Some("""SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= DATE '1998-01-01')""".stripMargin)),

    // --- cube: all grouping-set combinations (completes the
    //     rollup/cube/grouping-sets family next to q23) ---
    Query("q62_cube", (s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n")),
      oracle = Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin)),

    // --- full rank family: rank / dense_rank / percent_rank /
    //     cume_dist / ntile (the reference used only row_number, W1/W2)
    Query("q64_rank_family", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      // ntile assigns by row POSITION — ties need a total order or the
      // tile of tied rows is engine-dependent
      val wTotal = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"),
        round(cume_dist().over(w), 6).as("cdist"),
        ntile(4).over(wTotal).as("quartile"))
    },
      oracle = Some("""SELECT o_custkey, o_orderkey,
        |       CAST(RANK() OVER w AS INT) AS rnk,
        |       CAST(DENSE_RANK() OVER w AS INT) AS drnk,
        |       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
        |       ROUND(CUME_DIST() OVER w, 6) AS cdist,
        |       CAST(NTILE(4) OVER wt AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice),
        |       wt AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""".stripMargin)),

    // --- rollup (beyond reference; §2.12 noted absent there) ---
    Query("q23_rollup", (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n")),
      oracle = Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),

    // --- JSON extraction (events.props) ---
    Query("q24_json_extract", (s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k")),
      oracle = Some("""SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events""".stripMargin)),

    // --- date/time parts ---
    Query("q25_date_parts", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom")),
      oracle = Some("""SELECT o_orderkey,
        |       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        |       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
        |       CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom
        |FROM orders""".stripMargin)),

    // --- attach mappings then aggregate (J2 attach + ALS_model3.py:205-208 shape) ---
    Query("q31_attach_mappings", (s, dir) => {
      val r = ratings(s, dir)
      val users = IdMapping.denseIds(r, "userId", "u")
      val items = IdMapping.denseIds(r, "itemId", "i")
      val mapped = IdMapping.attach(
        IdMapping.attach(r, users, "userId", "userId")
          .select(r("itemId").as("itemId0"), col("rating"), col("u")),
        items.withColumnRenamed("itemId", "itemId1"), "itemId0", "itemId1")
      mapped.groupBy(col("u"))
        .agg(count(lit(1)).as("n"), Det.avgRounded(col("rating")).as("avg_r"))
    },
      oracle = Some(s"""WITH r AS ($ratingsSql),
         |u AS (SELECT userId, CAST(ROW_NUMBER() OVER (ORDER BY userId) - 1 AS BIGINT) AS u
         |      FROM (SELECT DISTINCT userId FROM r)),
         |i AS (SELECT itemId, CAST(ROW_NUMBER() OVER (ORDER BY itemId) - 1 AS BIGINT) AS i
         |      FROM (SELECT DISTINCT itemId FROM r))
         |SELECT u.u, COUNT(*) AS n,
         |       ROUND(CAST(SUM(CAST(r.rating AS DECIMAL(18,2))) AS DOUBLE) / COUNT(r.rating), 4) AS avg_r
         |FROM r JOIN u ON r.userId = u.userId JOIN i ON r.itemId = i.itemId
         |GROUP BY u.u""".stripMargin)),

    // --- null-drop on a subset of columns (P4, Model_evaluation.py:86) ---
    Query("q39_nadrop_subset", (s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          when(col("value") > 400, lit(null)).otherwise(col("value"))
            .as("value_n"),
          col("event_type"))
        .na.drop(Seq("value_n")),
      oracle = Some("""SELECT event_id, value AS value_n, event_type
        |FROM events WHERE value <= 400""".stripMargin)),

    // --- distinct-count (A8, recommendations3.py:78 nunique) ---
    Query("q40_distinct_count", (s, dir) =>
      t(s, dir, "orders").agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderkey")).as("n_orders")),
      oracle = Some("""SELECT COUNT(DISTINCT o_custkey) AS n_cust,
        |       COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM orders""".stripMargin)),

    // --- salted equi-join: skew-safe shuffle join, result-identical
    //     to the plain join (the oracle IS the plain join) ---
    Query("q60_salted_join", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity").cast("int").as("qty"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      Skew.saltedJoin(li, o.withColumnRenamed("o_orderkey", "l_orderkey"),
          "l_orderkey", saltFactor = 8)
        .select(col("l_orderkey"), col("l_partkey"), col("qty"), col("o_custkey"))
    },
      oracle = Some("""SELECT l_orderkey, l_partkey, CAST(l_quantity AS INT) AS qty, o_custkey
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin)),

    // --- join after agg+limit (J6, recommendations3.py:83-87) ---
    Query("q41_join_agg_limit", (s, dir) => {
      val popular = Popularity.topByCount(t(s, dir, "lineitem"), "l_partkey", 50)
      val p = t(s, dir, "part")
      popular.join(p, popular("l_partkey") === p("p_partkey"))
        .select(col("p_partkey"), col("p_name"), col("num_ratings"))
    },
      oracle = Some("""WITH popular AS (
        |  SELECT l_partkey, COUNT(*) AS num_ratings FROM lineitem
        |  GROUP BY l_partkey ORDER BY num_ratings DESC, l_partkey LIMIT 50)
        |SELECT p_partkey, p_name, num_ratings
        |FROM popular JOIN part ON l_partkey = p_partkey""".stripMargin)),

    // --- spark.sql entry over registered temp views (S6) ---
    Query("q42_sql_entry", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_mktsegment, COUNT(*) AS n
          |FROM customer JOIN orders ON c_custkey = o_custkey
          |GROUP BY c_mktsegment""".stripMargin)
    },
      oracle = Some("""SELECT c_mktsegment, COUNT(*) AS n
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_mktsegment""".stripMargin)),

    // --- quality report: filter+agg+sort (A7, recommendations3.py:185-193) ---
    Query("q43_quality_report", (s, dir) =>
      ratings(s, dir).filter(col("rating") > 5)
        .groupBy(col("itemId"))
        .agg(Det.avgRounded(col("rating")).as("mean_rating"),
          count(lit(1)).as("n_recs"))
        .orderBy(col("mean_rating").desc, col("n_recs").desc, col("itemId")),
      oracle = Some(s"""WITH r AS ($ratingsSql)
         |SELECT itemId,
         |       ROUND(CAST(SUM(CAST(rating AS DECIMAL(18,2))) AS DOUBLE) / COUNT(rating), 4) AS mean_rating,
         |       COUNT(*) AS n_recs
         |FROM r WHERE rating > 5
         |GROUP BY itemId
         |ORDER BY mean_rating DESC, n_recs DESC, itemId""".stripMargin)),

    // --- GROUPING SETS through the SQL entry point (the explicit
    //     form of the cube/rollup family, q23/q62) ---
    Query("q76_grouping_sets", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
          |       COALESCE(l_linestatus, 'ALL') AS ls,
          |       COUNT(*) AS n
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)
    },
      oracle = Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)),

    // --- analytic window frames: per-group running sum (exact decimal
    //     accumulation so segment-tree vs sequential evaluation in
    //     different engines cannot diverge) ---
    Query("q53_running_sum", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_total"))
    },
      oracle = Some("""SELECT o_custkey, o_orderkey,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DOUBLE) AS running_total
        |FROM orders""".stripMargin)),

    // --- analytic functions: lag/lead over a per-group order ---
    Query("q54_lag_lead", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"),
        lead(col("o_orderkey"), 1).over(w).as("next_order"),
        datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
          .as("days_since_prev"))
    },
      oracle = Some("""SELECT o_custkey, o_orderkey,
        |       LAG(o_orderkey, 1) OVER w AS prev_order,
        |       LEAD(o_orderkey, 1) OVER w AS next_order,
        |       CAST(DATE_DIFF('day', LAG(o_orderdate, 1) OVER w, o_orderdate) AS INT)
        |         AS days_since_prev
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin)),

    // --- partitioned parquet sink roundtrip: partitionBy(lang) write,
    //     re-read, aggregate. The layout every 100 TB corpus uses —
    //     readers of one stratum scan only its directory (partition
    //     pruning; asserted in PlanAuditSpec) ---
    Query("q74_partitioned_sink", (s, dir) => {
      val path = scratch("part", dir)
      t(s, dir, "documents").write.mode("overwrite")
        .partitionBy("lang").parquet(path)
      s.read.parquet(path).groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
    },
      oracle = Some("""SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang""".stripMargin)),

    // --- JDBC sink + partitioned source roundtrip (S1 end-to-end,
    //     `ALS_model3.py:67-73` shape): write to embedded Derby, read
    //     back fanned out over 4 tasks via partitionColumn bounds.
    //     Derby is single-JVM (embedded) — fine for local mode; a
    //     cluster points the same API at a server-mode url ---
    Query("q127_jdbc_roundtrip", (s, dir) => {
      System.setProperty("derby.system.home", "/tmp")
      val url = s"jdbc:derby:${scratch("derby", dir)};create=true"
      Tables.writeJdbc(
        t(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
          col("n_regionkey")),
        url, "nation_rt")
      Tables.jdbc(s, url, "nation_rt", "n_nationkey",
        lowerBound = 0, upperBound = 25, numPartitions = 4)
    },
      oracle = Some("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // --- CSV sink + source roundtrip (S5, distributed write then
    //     schema-explicit read) ---
    Query("q55_csv_roundtrip", (s, dir) => {
      val path = scratch("csv", dir)
      val src = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      Tables.writeCsv(src, path)
      Tables.csv(s, path, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_nationkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_regionkey",
          org.apache.spark.sql.types.LongType))))
    },
      oracle = Some("SELECT n_nationkey, n_name, n_regionkey FROM nation")),

    // --- unpivot / melt: wide metric columns → long (metric, val)
    //     rows, the inverse of pivot (q16). Narrow Expand node, no
    //     shuffle — row count multiplies by the metric arity only ---
    Query("q82_unpivot", (s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val"),
      oracle = Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
        |       l_quantity AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        |FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        |FROM lineitem""".stripMargin)),

    // --- multiple COUNT(DISTINCT) in one aggregate (Expand-based
    //     multi-distinct rewrite; partial aggregation still applies) ---
    Query("q87_multi_distinct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows")),
      oracle = Some("""SELECT l_returnflag,
        |       COUNT(DISTINCT l_partkey) AS n_parts,
        |       COUNT(DISTINCT l_suppkey) AS n_supps,
        |       COUNT(*) AS n_rows
        |FROM lineitem GROUP BY 1""".stripMargin)),

    // --- null-safe equi-join (<=>): NULL keys match NULL dimension
    //     rows instead of silently dropping — the "unknown" bucket
    //     every fact/dim enrichment needs. Plans as a hash join on the
    //     null-safe key, not a nested loop ---
    Query("q88_nullsafe_join", (s, dir) => {
      val prio = when(col("o_orderpriority") =!= "1-URGENT",
        col("o_orderpriority"))
      val facts = t(s, dir, "orders")
        .select(col("o_orderkey"), prio.as("prio"))
      val dim = t(s, dir, "orders")
        .select(prio.as("prio")).distinct()
        .select(col("prio"),
          coalesce(col("prio"), lit("UNKNOWN")).as("prio_group"))
      facts.join(dim, facts("prio") <=> dim("prio"))
        .select(col("o_orderkey"), col("prio_group"))
    },
      oracle = Some("""WITH f AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderpriority <> '1-URGENT'
        |              THEN o_orderpriority END AS prio
        |  FROM orders),
        |d AS (SELECT DISTINCT CASE WHEN o_orderpriority <> '1-URGENT'
        |                           THEN o_orderpriority END AS prio
        |      FROM orders),
        |d2 AS (SELECT prio, COALESCE(prio, 'UNKNOWN') AS prio_group FROM d)
        |SELECT f.o_orderkey, d2.prio_group
        |FROM f JOIN d2 ON f.prio IS NOT DISTINCT FROM d2.prio""".stripMargin)),

    // --- ordered string aggregation: sorted distinct set per group
    //     folded to one delimited string (the array_agg/string_agg
    //     family; sort_array makes the fold order engine-independent) ---
    Query("q92_array_agg_str", (s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          concat_ws(",", sort_array(collect_set(col("c_mktsegment"))))
            .as("segments"),
          count(lit(1)).as("n_customers")),
      oracle = Some("""WITH d AS (SELECT DISTINCT c_nationkey, c_mktsegment FROM customer),
        |a AS (SELECT c_nationkey,
        |             string_agg(c_mktsegment, ',' ORDER BY c_mktsegment)
        |               AS segments
        |      FROM d GROUP BY 1),
        |n AS (SELECT c_nationkey, COUNT(*) AS n_customers
        |      FROM customer GROUP BY 1)
        |SELECT a.c_nationkey, a.segments, n.n_customers
        |FROM a JOIN n USING (c_nationkey)""".stripMargin)),

    // --- JSON-lines sink + schema-explicit source roundtrip (the
    //     event-feed interchange format; schema is a contract, never
    //     inferred) ---
    Query("q94_json_roundtrip", (s, dir) => {
      val path = scratch("json", dir)
      Tables.writeJson(
        t(s, dir, "supplier").select(col("s_suppkey"), col("s_name"),
          col("s_nationkey"), col("s_acctbal")),
        path)
      Tables.json(s, path, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("s_suppkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s_name",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("s_nationkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("s_acctbal",
          org.apache.spark.sql.types.DoubleType))))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n"),
          Det.sumRounded(col("s_acctbal"), 2).as("sum_bal"))
    },
      oracle = Some("""SELECT s_nationkey, COUNT(*) AS n,
        |       ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
        |         AS sum_bal
        |FROM supplier GROUP BY 1""".stripMargin)),

    // --- ORC sink + source roundtrip (the second columnar format a
    //     mixed Hive estate runs; same pushdown properties) ---
    Query("q95_orc_roundtrip", (s, dir) => {
      val path = scratch("orc", dir)
      Tables.writeOrc(
        t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
          col("p_retailprice")),
        path)
      Tables.orc(s, path)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          round(max(col("p_retailprice")), 2).as("max_price"))
    },
      oracle = Some("""SELECT p_brand, COUNT(*) AS n,
        |       ROUND(MAX(p_retailprice), 2) AS max_price
        |FROM part GROUP BY 1""".stripMargin)),

    // --- date arithmetic family: interval add, calendar-clamped month
    //     add, last-day-of-month, day-of-week (completes the F-family
    //     scalar functions next to q25's date parts) ---
    Query("q96_date_arith", (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        date_add(col("o_orderdate"), 30).as("due_date"),
        add_months(col("o_orderdate"), 3).as("quarter_later"),
        last_day(col("o_orderdate")).as("month_end"),
        dayofweek(col("o_orderdate")).as("dow")),
      oracle = Some("""SELECT o_orderkey,
        |       CAST(o_orderdate AS DATE) + 30 AS due_date,
        |       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
        |         AS quarter_later,
        |       last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
        |FROM orders""".stripMargin)),

    // --- regex extraction/matching (RE2-portable patterns only, so
    //     engine regex dialects cannot diverge) ---
    Query("q97_regexp", (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "\\b(\\w*e)\\b", 1).as("first_e_word"),
        col("p_name").rlike("\\d").cast("int").as("has_digit"),
        size(split(col("p_name"), "a", -1)).minus(1).as("n_a")),
      oracle = Some("""SELECT p_partkey,
        |       regexp_extract(p_name, '\b(\w*e)\b', 1) AS first_e_word,
        |       CAST(regexp_matches(p_name, '\d') AS INT) AS has_digit,
        |       CAST(LENGTH(p_name) - LENGTH(REPLACE(p_name, 'a', ''))
        |            AS INT) AS n_a
        |FROM part""".stripMargin)),

    // --- per-group mode (most frequent value, deterministic tiebreak
    //     via max_by on the (count, value) struct — no second shuffle) ---
    Query("q117_mode", (s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("lang"))
        .agg(expr("max_by(source, struct(n, source))").as("top_source"),
          max(struct(col("n"), col("source"))).getField("n").as("n")),
      oracle = Some("""WITH c AS (SELECT lang, source, COUNT(*) AS n
        |           FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, source, n,
        |             ROW_NUMBER() OVER (PARTITION BY lang
        |               ORDER BY n DESC, source DESC) AS rn
        |      FROM c)
        |SELECT lang, source AS top_source, n FROM r WHERE rn = 1""".stripMargin)),

    // --- percent-of-total: share per group via a global window over
    //     the ALREADY-AGGREGATED frame (group-cardinality rows — the
    //     one place a partitionless window is safe; contrast W1) ---
    Query("q118_share", (s, dir) => {
      val byNation = t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(Det.sumRounded(col("c_acctbal"), 2).as("bal"))
      // the global total sums as exact decimal: a double Σ over the
      // window would be order-dependent in its last bits
      byNation.withColumn("share",
        round(col("bal") / sum(col("bal").cast("decimal(18,2)")).over(
          org.apache.spark.sql.expressions.Window.partitionBy())
          .cast("double"), 6))
    },
      oracle = Some("""WITH b AS (
        |  SELECT c_nationkey,
        |         ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE),
        |               2) AS bal
        |  FROM customer GROUP BY 1)
        |SELECT c_nationkey, bal,
        |       ROUND(bal / CAST(SUM(CAST(bal AS DECIMAL(18,2))) OVER ()
        |                   AS DOUBLE), 6) AS share
        |FROM b""".stripMargin)),

    // --- schema-drift union: unionByName(allowMissingColumns) fills
    //     absent columns with NULL (the multi-source ingest reality) ---
    Query("q119_union_drift", (s, dir) => {
      val a = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val b = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      a.unionByName(b, allowMissingColumns = true)
    },
      oracle = Some("""SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin)),

    // --- data-quality constraint report (the publish gate): one row
    //     per rule — null rate, uniqueness, range, referential
    //     integrity — shared-pass aggregations + one anti-join ---
    Query("q114_constraints", (s, dir) => {
      val o = t(s, dir, "orders")
      Constraints.check(o, Seq(
        Constraints.unique("o_orderkey"),
        Constraints.nullRate("o_custkey", 0.0),
        Constraints.inRange("o_totalprice", 0.0, 1000000.0)))
        .unionByName(Constraints.referential(
          o, "o_custkey", t(s, dir, "customer"), "c_custkey"))
    },
      oracle = Some("""WITH o AS (SELECT * FROM orders),
        |base AS (
        |  SELECT
        |    ROUND(CAST(COUNT(DISTINCT o_orderkey) AS DOUBLE) / COUNT(*), 6)
        |      AS uniq,
        |    ROUND(CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
        |          AS DOUBLE) / COUNT(*), 6) AS nulls,
        |    CAST(SUM(CASE WHEN o_totalprice < 0.0 OR o_totalprice > 1000000.0
        |             THEN 1 ELSE 0 END) AS DOUBLE) AS range_viol
        |  FROM o),
        |orph AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM o
        |  WHERE o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer
        |                    WHERE c_custkey = o_custkey))
        |SELECT 'unique(o_orderkey)' AS constraint, uniq = 1.0 AS passed,
        |       uniq AS observed FROM base
        |UNION ALL
        |SELECT 'null_rate(o_custkey) <= 0.0', nulls <= 0.0, nulls FROM base
        |UNION ALL
        |SELECT 'in_range(o_totalprice, 0.0, 1000000.0)', range_viol = 0,
        |       range_viol FROM base
        |UNION ALL
        |SELECT 'referential(o_custkey -> c_custkey)', n = 0, n FROM orph""".stripMargin)),

    // --- map functions (map_from literal pairs, element_at, map_keys;
    //     §2.12 noted the family absent in the reference) ---
    Query("q106_map_funcs", (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          map(lit("brand"), col("p_brand"), lit("type"), col("p_type"))
            .as("m"))
        .select(col("p_partkey"),
          element_at(col("m"), "brand").as("brand"),
          element_at(col("m"), "type").as("typ"),
          size(col("m")).as("n_keys"),
          concat_ws(",", sort_array(map_keys(col("m")))).as("keys")),
      oracle = Some("""SELECT p_partkey, p_brand AS brand, p_type AS typ,
        |       CAST(2 AS INT) AS n_keys,
        |       'brand,type' AS keys
        |FROM part""".stripMargin)),

    // --- array set ops + higher-order predicates: intersect/except/
    //     union with dedup semantics, filter/exists/forall lambdas —
    //     all codegen-fused into the scan ---
    Query("q107_array_hof", (s, dir) => {
      val a = split(col("p_name"), " ")
      val b = expr("filter(split(p_name, ' '), t -> length(t) > 4)")
      t(s, dir, "part").select(
        col("p_partkey"),
        concat_ws(",", sort_array(array_intersect(a, b))).as("inter"),
        concat_ws(",", sort_array(array_except(a, b))).as("only_short"),
        size(array_union(a, b)).as("n_union"),
        expr("exists(split(p_name, ' '), t -> length(t) > 7)")
          .cast("int").as("has_long"),
        expr("forall(split(p_name, ' '), t -> length(t) > 1)")
          .cast("int").as("all_gt1"))
    },
      oracle = Some("""WITH t AS (
        |  SELECT p_partkey, string_split(p_name, ' ') AS a,
        |         list_filter(string_split(p_name, ' '),
        |                     x -> length(x) > 4) AS b
        |  FROM part)
        |SELECT p_partkey,
        |       COALESCE(array_to_string(list_sort(list_intersect(a, b)), ','),
        |                '') AS inter,
        |       COALESCE(array_to_string(list_sort(list_distinct(
        |         list_filter(a, x -> NOT list_contains(b, x)))), ','), '')
        |         AS only_short,
        |       CAST(len(list_distinct(list_concat(a, b))) AS INT) AS n_union,
        |       CAST(len(list_filter(a, x -> length(x) > 7)) > 0 AS INT)
        |         AS has_long,
        |       CAST(len(list_filter(a, x -> length(x) <= 1)) = 0 AS INT)
        |         AS all_gt1
        |FROM t""".stripMargin)),

    // --- snapshot diff: classify keys across two table versions as
    //     added/removed/changed/same (full-outer join, null-safe
    //     column compare — the data-ops audit primitive) ---
    Query("q104_snapshot_diff", (s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      // simulated next snapshot: every 97th key dropped, every 10th
      // repriced (decimal-exact bump), every 53rd key re-keyed in as
      // an addition beyond the key space
      val next = base.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 10 === 0,
            round(col("o_totalprice").cast("decimal(12,2)") *
              lit("1.10").cast("decimal(4,2)"), 2).cast("double"))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(base.filter(col("o_orderkey") % 53 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_totalprice")))
      Diff.snapshotDiff(base, next, Seq("o_orderkey"), Seq("o_totalprice"))
        .filter(col("change") =!= "same")
    },
      oracle = Some("""WITH base AS (SELECT o_orderkey, o_totalprice FROM orders),
        |nxt AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 10 = 0
        |              THEN CAST(ROUND(CAST(o_totalprice AS DECIMAL(12,2)) *
        |                   CAST('1.10' AS DECIMAL(4,2)), 2) AS DOUBLE)
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM base WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice
        |  FROM base WHERE o_orderkey % 53 = 0),
        |j AS (
        |  SELECT COALESCE(b.o_orderkey, n.o_orderkey) AS o_orderkey,
        |         b.o_totalprice AS t_old, n.o_totalprice AS t_new,
        |         b.o_orderkey IS NULL AS no_old,
        |         n.o_orderkey IS NULL AS no_new
        |  FROM base b FULL OUTER JOIN nxt n ON b.o_orderkey = n.o_orderkey),
        |c AS (
        |  SELECT o_orderkey,
        |         CASE WHEN no_old THEN 'added'
        |              WHEN no_new THEN 'removed'
        |              WHEN t_old IS DISTINCT FROM t_new THEN 'changed'
        |              ELSE 'same' END AS change,
        |         t_old AS o_totalprice_old, t_new AS o_totalprice_new
        |  FROM j)
        |SELECT * FROM c WHERE change <> 'same'""".stripMargin)),

    // --- schema evolution: two parquet batches with different widths
    //     read back as one frame via mergeSchema (old rows get NULL for
    //     the new column) — the additive-column migration every
    //     long-lived dataset goes through ---
    Query("q105_schema_merge", (s, dir) => {
      val path = scratch("merge", dir)
      val nat = t(s, dir, "nation")
      nat.select(col("n_nationkey"), col("n_name"))
        .write.mode("overwrite").parquet(s"$path/b1")
      nat.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .write.mode("overwrite").parquet(s"$path/b2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/b1", s"$path/b2")
    },
      oracle = Some("""SELECT n_nationkey, n_name, CAST(NULL AS BIGINT) AS n_regionkey
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, n_regionkey FROM nation""".stripMargin)),

    // --- region→nation→customer rollup through the SQL entry point:
    //     the full dimension chain (closes table coverage — region was
    //     the one testdata table no query read); both dims broadcast ---
    Query("q101_region_rollup", (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT r.r_name AS region,
          |       COUNT(DISTINCT n.n_nationkey) AS n_nations,
          |       COUNT(c.c_custkey) AS n_customers,
          |       ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2)))
          |             AS DOUBLE), 2) AS sum_bal
          |FROM region r
          |JOIN nation n ON r.r_regionkey = n.n_regionkey
          |JOIN customer c ON n.n_nationkey = c.c_nationkey
          |GROUP BY r.r_name""".stripMargin)
    },
      oracle = Some("""SELECT r.r_name AS region,
        |       COUNT(DISTINCT n.n_nationkey) AS n_nations,
        |       COUNT(c.c_custkey) AS n_customers,
        |       ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2)))
        |             AS DOUBLE), 2) AS sum_bal
        |FROM region r
        |JOIN nation n ON r.r_regionkey = n.n_regionkey
        |JOIN customer c ON n.n_nationkey = c.c_nationkey
        |GROUP BY r.r_name""".stripMargin)),

    // --- structured JSON: to_json of a nested struct+array, parsed
    //     back with an explicit from_json schema (no inference), fields
    //     extracted — the typed face of the q24 path-extraction family.
    //     Doubles survive the round trip exactly (shortest-repr JSON
    //     numbers parse back to the identical bits), so the oracle is
    //     the identity projection ---
    Query("q100_json_struct", (s, dir) => {
      val js = t(s, dir, "orders").select(
        col("o_orderkey"),
        to_json(struct(col("o_custkey"), col("o_totalprice"),
          array(col("o_orderstatus"), col("o_orderpriority")).as("tags")))
          .as("_js"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("tags",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType))))
      js.select(col("o_orderkey"), from_json(col("_js"), schema).as("s"))
        .select(col("o_orderkey"),
          col("s.o_custkey").as("o_custkey"),
          col("s.o_totalprice").as("o_totalprice"),
          element_at(col("s.tags"), 1).as("status_tag"),
          element_at(col("s.tags"), 2).as("prio_tag"))
    },
      oracle = Some("""SELECT o_orderkey, o_custkey, o_totalprice,
        |       o_orderstatus AS status_tag,
        |       o_orderpriority AS prio_tag
        |FROM orders""".stripMargin)),

    // --- SCD type-2 intervals: order history per customer as
    //     versioned rows with valid_from/valid_to/is_current (the
    //     warehouse dimension-history shape; one keyed window) ---
    Query("q99_scd2", (s, dir) =>
      Scd.type2(
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("o_orderdate")),
        Seq("o_custkey"), "o_orderdate", tieBreak = Seq("o_orderkey"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          col("valid_from"), col("valid_to"), col("is_current")),
      oracle = Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        |       o_orderdate AS valid_from,
        |       LEAD(o_orderdate, 1) OVER w AS valid_to,
        |       LEAD(o_orderdate, 1) OVER w IS NULL AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    // --- Z-order (Morton) layout: the z-value itself is hash-checked
    //     (the oracle replays the integer min/max scaling and the bit
    //     interleave term-by-term); ZOrderSpec measures the actual
    //     file-skipping win. Layout is the biggest 100 TB lever after
    //     partitioning: a one-column sort leaves every OTHER filter
    //     column unprunable ---
    Query("q135_zorder_value", (s, dir) =>
      graft.sources.ZOrder.withZValue(
          t(s, dir, "lineitem"), "l_partkey", "l_suppkey")
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("zval")),
      // z-order: the oracle replays the integer scaling and the Morton
      // interleave (32 generated mask-shift terms) bit-for-bit
      oracle = Some(s"""WITH mm AS (
         |  SELECT MIN(l_partkey) AS mnx, MAX(l_partkey) AS mxx,
         |         MIN(l_suppkey) AS mny, MAX(l_suppkey) AS mxy
         |  FROM lineitem),
         |s AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |         ((l_partkey - mnx) * 65535) // GREATEST(mxx - mnx, 1) AS zx,
         |         ((l_suppkey - mny) * 65535) // GREATEST(mxy - mny, 1) AS zy
         |  FROM lineitem, mm WHERE l_orderkey % 7 = 0)
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |       CAST(${graft.sources.ZOrder.interleaveSql("zx", "zy")} AS BIGINT)
         |         AS zval
         |FROM s""".stripMargin)),

    // --- z-ordered sink roundtrip (q74 pattern): write range-
    //     partitioned on the z-value, read back a 2-D box whose bounds
    //     derive from the data (SF-independent), prove the layout is
    //     lossless via content equality with the unwritten table ---
    Query("q136_zorder_sink", (s, dir) => {
      val path = scratch("zorder", dir)
      graft.sources.ZOrder.zorderWrite(
        t(s, dir, "lineitem"), "l_partkey", "l_suppkey", path, 16)
      val back = s.read.parquet(path)
      val mm = back.agg(
        min(col("l_partkey")).as("mnx"), max(col("l_partkey")).as("mxx"),
        min(col("l_suppkey")).as("mny"), max(col("l_suppkey")).as("mxy"))
      val lo = (mn: org.apache.spark.sql.Column, mx: org.apache.spark.sql.Column) =>
        mn + floor((mx - mn) / 8).cast("long")
      val hi = (mn: org.apache.spark.sql.Column, mx: org.apache.spark.sql.Column) =>
        mn + floor((mx - mn) / 4).cast("long")
      back.crossJoin(broadcast(mm))
        .filter(col("l_partkey").between(
            lo(col("mnx"), col("mxx")), hi(col("mnx"), col("mxx"))) &&
          col("l_suppkey").between(
            lo(col("mny"), col("mxy")), hi(col("mny"), col("mxy"))))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    },
      oracle = Some("""WITH mm AS (
        |  SELECT MIN(l_partkey) AS mnx, MAX(l_partkey) AS mxx,
        |         MIN(l_suppkey) AS mny, MAX(l_suppkey) AS mxy
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
        |FROM lineitem, mm
        |WHERE l_partkey BETWEEN mnx + (mxx - mnx) // 8 AND mnx + (mxx - mnx) // 4
        |  AND l_suppkey BETWEEN mny + (mxy - mny) // 8 AND mny + (mxy - mny) // 4""".stripMargin)),

    // --- salted exact distinct: 5 hot keys × millions of rows is the
    //     case where per-key COUNT(DISTINCT) serializes on 5 reducers;
    //     salting on the hash of the DISTINCT VALUE partitions each
    //     key's value domain, so per-salt counts add exactly — output
    //     pinned equal to the plain COUNT(DISTINCT) by the oracle ---
    Query("q160_salted_distinct", (s, dir) =>
      graft.operators.Skew.saltedDistinct(t(s, dir, "events"),
        "event_type", "user_id", saltFactor = 16),
      // salted distinct: the oracle is the PLAIN count-distinct — the
      // salting must be output-invisible
      oracle = Some("""SELECT event_type,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY 1""".stripMargin)))
}
