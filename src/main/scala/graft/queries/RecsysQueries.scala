package graft
package queries

import org.apache.spark.sql.functions._
import graft.functions.Det
import graft.llm.{Sampling, Similarity}
import graft.ml.{Als, Eval, Serve}
import graft.operators._
import graft.queries.Fixtures.{t, ratings, ratingsSql}

/** The recommender pipeline and its evaluators: splits, ALS train and
  * serve, fallback fill, RMSE/AUC/ROC/PR/calibration, item-item
  * cosine, encodings and association rules.
  */
object RecsysQueries {
  val all: Seq[Query] = Seq(
    // --- per-group randomized splits (W2/M8; count invariants) ---
    Query("q12_split_loo_counts", (s, dir) =>
      Splits.leaveOneOut(t(s, dir, "orders"), "o_custkey", seed = 42L)
        .groupBy(col("o_custkey"))
        .agg(
          sum(when(col("is_test"), 1L).otherwise(0L)).as("n_test"),
          sum(when(!col("is_test"), 1L).otherwise(0L)).as("n_train")),
      oracle = Some("""SELECT o_custkey, CAST(1 AS BIGINT) AS n_test, COUNT(*) - 1 AS n_train
        |FROM orders GROUP BY o_custkey""".stripMargin)),

    Query("q13_fold_sizes", (s, dir) =>
      Splits.foldAssign(t(s, dir, "orders"), "o_custkey", k = 3,
          minRows = 5, seed = 42L)
        .groupBy(col("o_custkey"), col("fold"))
        .agg(count(lit(1)).as("n")),
      oracle = Some("""WITH c AS (SELECT o_custkey, COUNT(*) AS grp_n FROM orders GROUP BY o_custkey),
        |r AS (SELECT o_custkey,
        |             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
        |      FROM orders)
        |SELECT r.o_custkey,
        |       CAST(CASE WHEN c.grp_n >= 5 THEN r.rn % 3 ELSE -1 END AS INT) AS fold,
        |       COUNT(*) AS n
        |FROM r JOIN c USING (o_custkey)
        |GROUP BY 1, 2""".stripMargin)),

    // --- RMSE of an item-mean predictor (M5 as a query; Eval.rmseDf) ---
    Query("q26_rmse", (s, dir) => {
      val r = ratings(s, dir)
      val means = r.groupBy(col("itemId"))
        .agg(Det.avgRounded(col("rating")).as("pred"))
      Eval.rmseDf(r.join(means, Seq("itemId")), "rating", "pred")
    },
      oracle = Some(s"""WITH r AS ($ratingsSql),
         |m AS (SELECT itemId,
         |             ROUND(CAST(SUM(CAST(rating AS DECIMAL(18,2))) AS DOUBLE) / COUNT(rating), 4) AS pred
         |      FROM r GROUP BY itemId)
         |SELECT ROUND(SQRT(CAST(SUM(CAST(pred - rating AS DECIMAL(18,8)) * CAST(pred - rating AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*)), 4) AS rmse
         |FROM r JOIN m USING (itemId)""".stripMargin)),

    // --- binary AUC via grouped rank-sum (M6 as a query) ---
    Query("q27_auc", (s, dir) =>
      Eval.aucDf(
        t(s, dir, "events").select(
          Cleaning.binarize(col("value"), 100.0).as("label"),
          get_json_object(col("props"), "$.k").cast("int").as("score")),
        "label", "score"),
      oracle = Some("""WITH src AS (
        |  SELECT CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
        |         CAST(json_extract_string(props, '$.k') AS INT) AS score
        |  FROM events),
        |g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
        |      FROM src GROUP BY score),
        |w AS (SELECT *,
        |             COALESCE(SUM(n) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |      FROM g)
        |SELECT ROUND((SUM(pos * (cum_before + (n + 1.0) / 2.0)) - SUM(pos) * (SUM(pos) + 1.0) / 2.0)
        |             / (SUM(pos) * (SUM(n) - SUM(pos))), 6) AS auc
        |FROM w""".stripMargin)),

    // --- ROC curve points (M10/S7 as a query) ---
    Query("q34_roc_points", (s, dir) =>
      Eval.rocPoints(
        t(s, dir, "events").select(
          Cleaning.binarize(col("value"), 100.0).as("label"),
          get_json_object(col("props"), "$.k").cast("int").as("score")),
        "label", "score"),
      oracle = Some("""WITH src AS (
        |  SELECT CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
        |         CAST(json_extract_string(props, '$.k') AS INT) AS score
        |  FROM events),
        |g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
        |      FROM src GROUP BY score),
        |w AS (SELECT *,
        |             SUM(pos) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |             SUM(n)   OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |             SUM(pos) OVER () AS tot_pos,
        |             SUM(n)   OVER () AS tot_n
        |      FROM g)
        |SELECT score,
        |       ROUND((cum_n - cum_pos) / (tot_n - tot_pos), 6) AS fpr,
        |       ROUND(cum_pos / tot_pos, 6) AS tpr
        |FROM w""".stripMargin)),

    // --- binned-ROC twin of q34 on a CONTINUOUS score (value/7 —
    //     distinct ≈ rows at every sf): binDigits=1 decimal-floor
    //     bins the score FIRST, so the partitionless cumulative
    //     window runs over a ≤ ~700-row histogram instead of the
    //     eval set (the corpus-scale contract of Eval.rocPoints) ---
    Query("q192_roc_binned", (s, dir) =>
      Eval.rocPoints(
        t(s, dir, "events").select(
          pmod(col("user_id"), lit(2)).cast("double").as("label"),
          (col("value") / lit(7.0)).as("score")),
        "label", "score", binDigits = Some(1)),
      // binned-ROC twin: decimal-floor binning replayed verbatim
      // (FLOOR is exact on doubles and engine-portable, unlike decimal
      // rounding), then the identical q34 curve SQL over the bins
      oracle = Some("""WITH src AS (
        |  SELECT CAST(user_id % 2 AS DOUBLE) AS label,
        |         FLOOR(("value" / 7.0) * 10.0) / 10.0 AS score
        |  FROM events),
        |g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
        |      FROM src GROUP BY score),
        |w AS (SELECT *,
        |             SUM(pos) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |             SUM(n)   OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |             SUM(pos) OVER () AS tot_pos,
        |             SUM(n)   OVER () AS tot_n
        |      FROM g)
        |SELECT score,
        |       ROUND((cum_n - cum_pos) / (tot_n - tot_pos), 6) AS fpr,
        |       ROUND(cum_pos / tot_pos, 6) AS tpr
        |FROM w""".stripMargin)),

    // --- the aucDf face of the same knob: Mann-Whitney AUC over the
    //     decimal-floor binned continuous score (label decorrelated
    //     via user parity, so the value is non-trivially mid-range) ---
    Query("q196_auc_binned", (s, dir) =>
      Eval.aucDf(
        t(s, dir, "events").select(
          pmod(col("user_id"), lit(2)).cast("double").as("label"),
          (col("value") / lit(7.0)).as("score")),
        "label", "score", binDigits = Some(1)),
      // the q27 rank-sum SQL over the q192 binned-score histogram
      oracle = Some("""WITH src AS (
        |  SELECT CAST(user_id % 2 AS DOUBLE) AS label,
        |         FLOOR(("value" / 7.0) * 10.0) / 10.0 AS score
        |  FROM events),
        |g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
        |      FROM src GROUP BY score),
        |w AS (SELECT *,
        |             COALESCE(SUM(n) OVER (ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |      FROM g)
        |SELECT ROUND((SUM(pos * (cum_before + (n + 1.0) / 2.0)) - SUM(pos) * (SUM(pos) + 1.0) / 2.0)
        |             / (SUM(pos) * (SUM(n) - SUM(pos))), 6) AS auc
        |FROM w""".stripMargin)),

    // --- calibration reliability diagram: a [0,1) probability score
    //     derived from the event props, labels from the value
    //     threshold; per-bin confidence vs accuracy with decimal-
    //     exact score mass (the quality-model-as-corpus-gate check) ---
    Query("q199_calibration_bins", (s, dir) =>
      Eval.calibrationBins(
        t(s, dir, "events").select(
          Cleaning.binarize(col("value"), 100.0).as("label"),
          (get_json_object(col("props"), "$.k").cast("int")
            .cast("double") / lit(100.0)).as("score")),
        "label", "score").orderBy(col("bin")),
      // reliability diagram: decimal-exact per-bin score mass, IEEE
      // double divisions — the replay mirrors Eval.calibrationBins op
      // for op (LEAST/FLOOR binning, DECIMAL(18,8) accumulation)
      oracle = Some("""WITH src AS (
        |  SELECT CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
        |         CAST(CAST(json_extract_string(props, '$.k') AS INT) AS DOUBLE) / 100.0 AS score
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |b AS (
        |  SELECT CAST(LEAST(FLOOR(score * 10), 9) AS INT) AS bin,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(score AS DECIMAL(18,8))) AS s,
        |         SUM(label) AS pos
        |  FROM src GROUP BY 1)
        |SELECT bin,
        |       ROUND(CAST(bin AS DOUBLE) / 10, 6) AS p_lo,
        |       n,
        |       ROUND(CAST(s AS DOUBLE) / n, 6) AS conf,
        |       ROUND(pos / n, 6) AS acc,
        |       ROUND(ABS(pos / n - CAST(s AS DOUBLE) / n), 6) AS gap
        |FROM b ORDER BY bin""".stripMargin)),

    // --- the scalar face of the same binning: ECE / MCE / Brier in
    //     one ≤ nBins-row pipeline ---
    Query("q200_calibration_summary", (s, dir) =>
      Eval.calibrationSummary(
        t(s, dir, "events").select(
          Cleaning.binarize(col("value"), 100.0).as("label"),
          (get_json_object(col("props"), "$.k").cast("int")
            .cast("double") / lit(100.0)).as("score")),
        "label", "score"),
      oracle = Some("""WITH src AS (
        |  SELECT CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
        |         CAST(CAST(json_extract_string(props, '$.k') AS INT) AS DOUBLE) / 100.0 AS score
        |  FROM events
        |  WHERE json_extract_string(props, '$.k') IS NOT NULL),
        |b AS (
        |  SELECT CAST(LEAST(FLOOR(score * 10), 9) AS INT) AS bin,
        |         CAST(COUNT(*) AS BIGINT) AS n,
        |         SUM(CAST(score AS DECIMAL(18,8))) AS s,
        |         SUM(label) AS pos,
        |         SUM((CAST(score AS DECIMAL(18,8)) - CAST(label AS DECIMAL(18,8))) *
        |             (CAST(score AS DECIMAL(18,8)) - CAST(label AS DECIMAL(18,8)))) AS sq
        |  FROM src GROUP BY 1),
        |g AS (SELECT *, ABS(pos / n - CAST(s AS DOUBLE) / n) AS gap FROM b)
        |SELECT CAST(SUM(n) AS BIGINT) AS n,
        |       ROUND(SUM(gap * n) / SUM(n), 6) AS ece,
        |       ROUND(MAX(gap), 6) AS mce,
        |       ROUND(CAST(SUM(sq) AS DOUBLE) / SUM(n), 6) AS brier
        |FROM g""".stripMargin)),

    // --- ALS train + subset top-k serve + explode (M1/M4/F3/F4; no SQL
    //     oracle: factor optimization is not SQL-expressible → driver
    //     records the rows-only check; ε-band tests live in AlsSpec) ---
    Query("q33_als_recs", (s, dir) => {
      val r = ratings(s, dir)
      val model = Als.fit(r, Als.Params(rank = 8, maxIter = 5, regParam = 0.1))
      val users = r.select(col("userId")).distinct().orderBy(col("userId")).limit(50)
      Als.explodeRecs(Als.recommendSubset(model, users, 5))
        .select(col("userId"), col("rank"), col("itemId"))
    }),

    // --- tiered fallback fill (T4/U1 composition; recommendations3.py
    //     fill loop as one window) ---
    Query("q28_fill_to_k", (s, dir) => {
      val r = ratings(s, dir)
      val primary = r.filter(col("rating") >= 9)
        .select(col("userId"), col("itemId"),
          col("rating").cast("double").as("score"))
      val pool = Popularity.topByCount(r, "itemId", 5)
        .select(col("itemId"), col("num_ratings").cast("double").as("score"))
      val fallback = r.select(col("userId")).distinct().crossJoin(broadcast(pool))
      TopK.fillToK(primary, fallback, "userId", "itemId", "score", k = 3)
    },
      oracle = Some(s"""WITH r AS ($ratingsSql),
         |p AS (SELECT userId, itemId, CAST(rating AS DOUBLE) AS score, 0 AS tier
         |      FROM r WHERE rating >= 9),
         |pool AS (SELECT itemId, CAST(COUNT(*) AS DOUBLE) AS score
         |         FROM r GROUP BY itemId
         |         ORDER BY score DESC, itemId LIMIT 5),
         |f AS (SELECT u.userId, pool.itemId, pool.score, 1 AS tier
         |      FROM (SELECT DISTINCT userId FROM r) u CROSS JOIN pool
         |      WHERE NOT EXISTS (SELECT 1 FROM p
         |                        WHERE p.userId = u.userId AND p.itemId = pool.itemId)),
         |un AS (SELECT * FROM p UNION ALL SELECT * FROM f),
         |ranked AS (SELECT userId, itemId, score, tier,
         |                  CAST(ROW_NUMBER() OVER (PARTITION BY userId
         |                       ORDER BY tier, score DESC, itemId) AS INT) AS rank
         |           FROM un)
         |SELECT userId, itemId, score, tier, rank FROM ranked WHERE rank <= 3""".stripMargin)),

    // --- struct collect + posexplode + struct-field access (F4) ---
    Query("q35_explode_struct", (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey"))))
          .as("items"))
        .select(col("l_orderkey"), posexplode(col("items")))
        .select(col("l_orderkey"), (col("pos") + 1).cast("int").as("rank"),
          col("col.l_linenumber").as("ln"), col("col.l_partkey").as("pk")),
      oracle = Some("""SELECT l_orderkey,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |            ORDER BY l_linenumber, l_partkey) AS INT) AS rank,
        |       l_linenumber AS ln, l_partkey AS pk
        |FROM lineitem""".stripMargin)),

    // --- full serving pipeline: ALS + fallback fill + broadcast titles
    //     + bounded wide pivot (EP2; rows-only, ALS-dependent) ---
    Query("q44_serve_wide", (s, dir) => {
      val r = ratings(s, dir)
      val model = Als.fit(r, Als.Params(rank = 8, maxIter = 5, regParam = 0.1))
      val users = r.select(col("userId")).distinct().orderBy(col("userId")).limit(20)
      Serve.wide(Serve.topKWithFallback(model, users, r, k = 5), k = 5)
    }),

    // --- q44's serving semantics with the model swapped for a
    //     deterministic scorer: first-seen dedup → tiered popularity
    //     fill → bounded wide pivot, all SQL-expressible so the
    //     dedup order, fill tie-break (tier, score desc, itemId) and
    //     pivot layout of `recommendations3.py:100-177` are oracled,
    //     not rows-only ---
    Query("q164_serve_wide_det", (s, dir) => {
      val r = ratings(s, dir)
      val users = r.select(col("userId")).distinct()
        .orderBy(col("userId")).limit(20)
      val primary = TopK.dedupFirstSeen(
          r.join(users, Seq("userId")).filter(col("rating") >= 9),
          "userId", "itemId", Seq(col("rating").desc, col("itemId")))
        .select(col("userId"), col("itemId"),
          col("rating").cast("double").as("score"))
      val pool = Popularity.topByCount(r, "itemId", 10)
        .select(col("itemId"), col("num_ratings").cast("double").as("score"))
      val fallback = users.crossJoin(broadcast(pool))
      Serve.wide(
        TopK.fillToK(primary, fallback, "userId", "itemId", "score", k = 5),
        k = 5)
    },
      // serve-wide with a deterministic scorer: first-seen dedup →
      // tiered fill (tier, score desc, itemId) → conditional-aggregation
      // pivot — the SQL mirror of dedupFirstSeen + fillToK + wide
      oracle = Some(s"""WITH r AS ($ratingsSql),
         |u AS (SELECT DISTINCT userId FROM r ORDER BY userId LIMIT 20),
         |d AS (SELECT r.userId, itemId, CAST(rating AS DOUBLE) AS score,
         |             ROW_NUMBER() OVER (PARTITION BY r.userId, itemId
         |                  ORDER BY rating DESC) AS dup_rn
         |      FROM r JOIN u USING (userId) WHERE rating >= 9),
         |p AS (SELECT userId, itemId, score, 0 AS tier FROM d WHERE dup_rn = 1),
         |pool AS (SELECT itemId, CAST(COUNT(*) AS DOUBLE) AS score
         |         FROM r GROUP BY itemId
         |         ORDER BY score DESC, itemId LIMIT 10),
         |f AS (SELECT u.userId, pool.itemId, pool.score, 1 AS tier
         |      FROM u CROSS JOIN pool
         |      WHERE NOT EXISTS (SELECT 1 FROM p
         |                        WHERE p.userId = u.userId AND p.itemId = pool.itemId)),
         |un AS (SELECT * FROM p UNION ALL SELECT * FROM f),
         |ranked AS (SELECT userId, itemId,
         |                  ROW_NUMBER() OVER (PARTITION BY userId
         |                       ORDER BY tier, score DESC, itemId) AS rank
         |           FROM un)
         |SELECT userId,
         |       MAX(CASE WHEN rank = 1 THEN itemId END) AS item_1,
         |       MAX(CASE WHEN rank = 2 THEN itemId END) AS item_2,
         |       MAX(CASE WHEN rank = 3 THEN itemId END) AS item_3,
         |       MAX(CASE WHEN rank = 4 THEN itemId END) AS item_4,
         |       MAX(CASE WHEN rank = 5 THEN itemId END) AS item_5
         |FROM ranked WHERE rank <= 5 GROUP BY userId""".stripMargin)),

    // --- precision–recall curve (the imbalanced-label companion of
    //     q34's ROC: a corpus keep-gate's positive class is the
    //     minority, where ROC hides precision collapse) ---
    Query("q211_pr_points", (s, dir) =>
      Eval.prPoints(
        t(s, dir, "events").select(
          Cleaning.binarize(col("value"), 100.0).as("label"),
          get_json_object(col("props"), "$.k").cast("int").as("score")),
        "label", "score"),
      // the q34 curve machinery with precision/recall outputs
      oracle = Some("""WITH src AS (
        |  SELECT CAST(CASE WHEN value > 100.0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
        |         CAST(json_extract_string(props, '$.k') AS INT) AS score
        |  FROM events),
        |g AS (SELECT score, CAST(COUNT(*) AS DOUBLE) AS n, SUM(label) AS pos
        |      FROM src GROUP BY score),
        |w AS (SELECT *,
        |             SUM(pos) OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
        |             SUM(n)   OVER (ORDER BY score DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |             SUM(pos) OVER () AS tot_pos
        |      FROM g)
        |SELECT score,
        |       ROUND(cum_pos / cum_n, 6) AS "precision",
        |       ROUND(cum_pos / tot_pos, 6) AS recall
        |FROM w""".stripMargin)),

    // --- PSI distribution drift between two corpus snapshots (here:
    //     the even/odd user_id halves of the event values): dense
    //     fixed-width bins, add-half smoothing, per-bin contributions ---
    Query("q212_psi_drift", (s, dir) => {
      val ev = t(s, dir, "events")
      Eval.psiBins(
        ev.filter(pmod(col("user_id"), lit(2)) === 0).select(col("value")),
        ev.filter(pmod(col("user_id"), lit(2)) === 1).select(col("value")),
        "value", lo = 0.0, hi = 200.0, nBins = 10)
    },
      // fixed-width clamped bins, add-half-smoothed shares, and the
      // (p_a − p_e)·ln(p_a/p_e) contribution — all double arithmetic
      // over integer counts (IEEE-identical; the q75 ln precedent),
      // rounded once at the output face
      oracle = Some("""WITH e AS (SELECT CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 20.0), 0.0), 9.0) AS INT) AS bin
        |           FROM events WHERE user_id % 2 = 0 AND value IS NOT NULL),
        |a AS (SELECT CAST(LEAST(GREATEST(FLOOR((value - 0.0) / 20.0), 0.0), 9.0) AS INT) AS bin
        |      FROM events WHERE user_id % 2 = 1 AND value IS NOT NULL),
        |bins AS (SELECT unnest(range(10)) AS bin),
        |ec AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_expected FROM e GROUP BY 1),
        |ac AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_actual FROM a GROUP BY 1),
        |tot AS (SELECT (SELECT COUNT(*) FROM e) AS te, (SELECT COUNT(*) FROM a) AS ta),
        |j AS (SELECT CAST(bins.bin AS INT) AS bin,
        |             COALESCE(ec.n_expected, 0) AS n_expected,
        |             COALESCE(ac.n_actual, 0) AS n_actual,
        |             (COALESCE(ec.n_expected, 0) + 0.5) / (tot.te + 5.0) AS pe,
        |             (COALESCE(ac.n_actual, 0) + 0.5) / (tot.ta + 5.0) AS pa
        |      FROM bins LEFT JOIN ec ON bins.bin = ec.bin
        |                LEFT JOIN ac ON bins.bin = ac.bin
        |                CROSS JOIN tot)
        |SELECT bin, ROUND(0.0 + bin * 20.0, 6) AS lo_edge,
        |       n_expected, n_actual,
        |       ROUND(pe, 6) AS p_expected, ROUND(pa, 6) AS p_actual,
        |       ROUND((pa - pe) * LN(pa / pe), 6) AS contrib
        |FROM j""".stripMargin)),

    // --- item-item cosine (M9, sparse self-join rewrite with the
    //     DIMSUM-style per-user cap that bounds pair fan-out) ---
    Query("q30_cosine_topk", (s, dir) =>
      Similarity.itemCosineTopK(ratings(s, dir), "userId", "itemId",
        "rating", k = 5, minOverlap = 2, maxPerUser = Some(50)),
      oracle = Some(s"""WITH r0 AS ($ratingsSql),
         |r AS (SELECT userId, itemId, rating FROM (
         |        SELECT *, ROW_NUMBER() OVER (PARTITION BY userId
         |               ORDER BY rating DESC, itemId) AS rn FROM r0) t
         |      WHERE rn <= 50),
         |norms AS (SELECT itemId, SQRT(CAST(SUM(CAST(rating AS BIGINT) * rating) AS DOUBLE)) AS nrm
         |          FROM r GROUP BY itemId),
         |pairs AS (
         |  SELECT a.itemId AS item_a, b.itemId AS item_b,
         |         CAST(SUM(CAST(a.rating AS BIGINT) * b.rating) AS DOUBLE) AS dot,
         |         COUNT(*) AS ov
         |  FROM r a JOIN r b ON a.userId = b.userId AND a.itemId <> b.itemId
         |  GROUP BY 1, 2),
         |cos AS (
         |  SELECT item_a, item_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos
         |  FROM pairs JOIN norms na ON item_a = na.itemId
         |             JOIN norms nb ON item_b = nb.itemId
         |  WHERE ov >= 2)
         |SELECT item_a, item_b, cos, rank FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY item_a
         |            ORDER BY cos DESC, item_b) AS INT) AS rank
         |  FROM cos) t
         |WHERE rank <= 5""".stripMargin)),

    // --- deterministic train/val/test assignment: split is a pure
    //     function of the content hash, so it survives re-crawls and
    //     repartitioning (no eval-set leakage across versions) ---
    Query("q116_tvt_split", (s, dir) =>
      Sampling.splitAssign(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n")),
      oracle = Some("""WITH d AS (
        |  SELECT lang,
        |         CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) / 4294967296.0 AS u
        |  FROM documents)
        |SELECT lang,
        |       CASE WHEN u < 0.8 THEN 'train'
        |            WHEN u < 0.9 THEN 'val'
        |            ELSE 'test' END AS split,
        |       COUNT(*) AS n
        |FROM d GROUP BY 1, 2""".stripMargin)),

    // --- ALS serving coverage gate: the driver-visible face of q33
    //     (factor values are model state, not SQL-expressible, but the
    //     serving CONTRACT is: every requested user gets exactly k
    //     distinct catalog items). n_users is independently computed
    //     by the oracle from the cleaned-ratings CTE ---
    Query("q129_als_coverage", (s, dir) => {
      val r = ratings(s, dir)
      val model = Als.fit(r, Als.Params(rank = 8, maxIter = 5, regParam = 0.1))
      val users = r.select(col("userId")).distinct()
        .orderBy(col("userId")).limit(50)
      val recs = Als.explodeRecs(Als.recommendSubset(model, users, 5))
      val items = r.select(col("itemId")).distinct()
      val perUser = recs.join(items, Seq("itemId"), "left_semi")
        .groupBy(col("userId"))
        .agg(countDistinct(col("itemId")).as("_k"))
      users.agg(count(lit(1)).as("n_users"))
        .crossJoin(broadcast(perUser.agg(
          count(lit(1)).as("_nu"), min(col("_k")).as("_mink"))))
        .select(col("n_users"),
          (col("_nu") === col("n_users") && col("_mink") === 5)
            .cast("int").as("complete"))
    },
      oracle = Some(s"""WITH r AS ($ratingsSql)
         |SELECT CAST(LEAST(50, COUNT(DISTINCT userId)) AS BIGINT) AS n_users,
         |       CAST(1 AS INT) AS complete
         |FROM r""".stripMargin)),

    // --- leave-one-out target encoding of part key against the
    //     return flag: the leakage-free categorical mean encoding;
    //     one agg + one join back, singleton categories → NULL ---
    Query("q149_loo_encode", (s, dir) =>
      Features.looTargetEncode(t(s, dir, "lineitem"), "l_partkey",
          (col("l_returnflag") === "R").cast("int"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("enc")),
      // LOO encoding: integer sums; singleton categories NULL on both
      // engines
      oracle = Some("""WITH f AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey,
        |         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS t
        |  FROM lineitem),
        |s AS (SELECT l_partkey, CAST(SUM(t) AS BIGINT) AS st,
        |             CAST(COUNT(*) AS BIGINT) AS n
        |      FROM f GROUP BY 1)
        |SELECT f.l_orderkey, f.l_linenumber, f.l_partkey,
        |       CASE WHEN n > 1
        |            THEN ROUND(CAST(st - t AS DOUBLE) / (n - 1), 6) END AS enc
        |FROM f LEFT JOIN s USING (l_partkey)""".stripMargin)),

    // --- association rules (market-basket): directed part pairs with
    //     support ≥ 3 orders, confidence and lift from exact counts,
    //     top-25 by lift ---
    Query("q156_assoc_rules", (s, dir) =>
      Features.assocRules(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 3L, k = 25),
      // association rules: exact distinct-basket counts; the oracle
      // recomputes N itself so both sides scale the lift identically
      oracle = Some("""WITH bi AS (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem),
        |n AS (SELECT CAST(COUNT(DISTINCT bk) AS BIGINT) AS nb FROM bi),
        |supp AS (SELECT it, CAST(COUNT(*) AS BIGINT) AS s FROM bi GROUP BY 1),
        |p AS (
        |  SELECT a.it AS ante, b.it AS cons, CAST(COUNT(*) AS BIGINT)
        |         AS supp_ab
        |  FROM bi a JOIN bi b ON a.bk = b.bk AND a.it <> b.it
        |  GROUP BY 1, 2),
        |f AS (SELECT ante, cons, supp_ab FROM p WHERE supp_ab >= 3)
        |SELECT ante, cons, supp_ab,
        |       ROUND(CAST(supp_ab AS DOUBLE) / sa.s, 6) AS confidence,
        |       ROUND(CAST(nb AS DOUBLE) * supp_ab /
        |             CAST(sa.s * sc.s AS DOUBLE), 6) AS lift
        |FROM f JOIN supp sa ON f.ante = sa.it
        |       JOIN supp sc ON f.cons = sc.it, n
        |ORDER BY lift DESC, ante, cons LIMIT 25""".stripMargin)))
}
