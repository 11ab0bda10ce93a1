package graft.ml

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Splits

/** Collaborative-filtering layer (SURVEY M1–M8, S4): a thin, typed
  * wrapper over `org.apache.spark.ml.recommendation.ALS` plus the
  * reference's custom per-user cross-validation re-expressed as
  * DataFrame composition.
  *
  * The reference's main pipeline (`ALS_model3.py:89-180, 230-244`) is:
  * clean → id-map → per-user k-fold CV over a param grid → final fit →
  * RMSE → persist model. ALS itself is iterative factor optimization —
  * spark.ml's implementation block-partitions users×items and scales
  * with executors; nothing to reinvent there. What IS worth owning is
  * everything around it: fold assignment ([[Splits.foldAssign]] — a
  * partitioned window, no global sort), the CV loop (filters on the
  * fold column, not data copies), and evaluation ([[Eval]] —
  * deterministic aggregations).
  */
object Als {

  /** ALS hyper-parameters. Defaults mirror the reference's final model
    * (`ALS_model3.py:218,230-241`: rank=30, regParam=0.2, maxIter=15,
    * nonnegative, coldStartStrategy=drop, seed 42) — scaled-down call
    * sites pass smaller rank/maxIter.
    */
  final case class Params(
      rank: Int = 30,
      regParam: Double = 0.2,
      maxIter: Int = 15,
      nonnegative: Boolean = true,
      coldStartStrategy: String = "drop",
      seed: Long = 42L,
      implicitPrefs: Boolean = false)

  private def estimator(p: Params): ALS =
    new ALS()
      .setUserCol("userId").setItemCol("itemId").setRatingCol("rating")
      .setRank(p.rank).setRegParam(p.regParam).setMaxIter(p.maxIter)
      .setNonnegative(p.nonnegative)
      .setColdStartStrategy(p.coldStartStrategy)
      .setSeed(p.seed).setImplicitPrefs(p.implicitPrefs)

  /** M1: fit on a (userId, itemId, rating) frame. ALS requires int ids;
    * the cast is checked (overflow → fail loud, not truncate).
    */
  def fit(ratings: DataFrame, p: Params = Params()): ALSModel =
    estimator(p).fit(prepare(ratings))

  private def prepare(ratings: DataFrame): DataFrame =
    ratings.select(
      col("userId").cast("int").as("userId"),
      col("itemId").cast("int").as("itemId"),
      col("rating").cast("float").as("rating"))

  /** M2: predicted rating per (user, item) row; with
    * coldStartStrategy=drop, unseen keys are dropped not NaN'd.
    */
  def predict(model: ALSModel, df: DataFrame): DataFrame =
    model.transform(prepare(df))

  /** M3/M4: top-k recommendations for a user subset. Subset first at
    * scale (`recommendForAllUsers(5).limit(5)` in the reference
    * computes top-5 for every user then throws them away —
    * `ALS_model3.py:260`, SURVEY §4 item 6).
    */
  def recommendSubset(model: ALSModel, users: DataFrame, k: Int): DataFrame =
    model.recommendForUserSubset(users.select(col("userId").cast("int").as("userId")), k)

  /** Flatten the `recommendations: array<struct<itemId,rating>>` column
    * (F3+F4: posexplode + struct-field access,
    * `recommendations3.py:67-70`) → (userId, rank, itemId,
    * predicted_rating).
    */
  def explodeRecs(recs: DataFrame): DataFrame =
    recs.select(col("userId"), posexplode(col("recommendations")))
      .select(
        col("userId"),
        (col("pos") + 1).as("rank"),
        col("col.itemId").as("itemId"),
        col("col.rating").as("predicted_rating"))

  /** S4: model persistence (parquet factor tables + metadata JSON). */
  def save(model: ALSModel, path: String): Unit =
    model.write.overwrite().save(path)

  def load(path: String): ALSModel = ALSModel.load(path)

  /** One grid point's CV outcome. */
  final case class CvResult(params: Params, foldRmses: Seq[Double], avgRmse: Double)

  /** M8: the reference's custom per-user k-fold CV
    * (`ALS_model3.py:89-180`). Folds are assigned ONCE per dataset with
    * [[Splits.foldAssign]]: users with ≥ `minRatings` ratings get
    * `fold = rn % k` within a per-user seeded-random order; smaller
    * users get fold −1 = always-train. For each grid point and fold f:
    * train = fold ≠ f, test = fold = f, fit, predict
    * (cold-start rows dropped by the model), RMSE; empty folds are
    * skipped, per the reference. The folded frame is cached — it is
    * scanned 2·k·|grid| times.
    *
    * Scale: the loop is driver-side CONTROL flow only — each iteration
    * is a full distributed fit/eval; no data ever reaches the driver
    * beyond one Double per fold.
    */
  def crossValidatePerUser(
      ratings: DataFrame,
      grid: Seq[Params],
      k: Int = 5,
      minRatings: Int = 7,
      seed: Long = 42L): Seq[CvResult] = {
    val folded = Splits.foldAssign(prepare(ratings), "userId", k, minRatings, seed)
      .cache()
    try {
      grid.map { p =>
        val rmses = (0 until k).flatMap { f =>
          val train = folded.filter(col("fold") =!= f).drop("fold")
          val test = folded.filter(col("fold") === f).drop("fold")
          if (test.isEmpty) None
          else {
            val model = estimator(p).fit(train)
            val pred = model.transform(test).na.drop(Seq("prediction"))
            if (pred.isEmpty) None else Some(Eval.rmse(pred, "rating", "prediction"))
          }
        }
        CvResult(p, rmses, if (rmses.nonEmpty) rmses.sum / rmses.size else Double.NaN)
      }
    } finally folded.unpersist()
  }

  /** Best grid point by average per-user-CV RMSE. */
  def selectBest(results: Seq[CvResult]): CvResult =
    results.filterNot(_.avgRmse.isNaN).minBy(_.avgRmse)

  /** M7: the prototype's stock `CrossValidator` + `ParamGridBuilder`
    * path (`example.py:44-63`) — kept for parity with the spark.ml
    * tooling; the per-user variant above is the reference's real CV.
    */
  def mllibCrossValidate(
      ratings: DataFrame,
      ranks: Seq[Int],
      regParams: Seq[Double],
      maxIter: Int = 10,
      numFolds: Int = 3,
      parallelism: Int = 2,
      seed: Long = 42L): ALSModel = {
    val als = estimator(Params(maxIter = maxIter, seed = seed))
    val grid = new ParamGridBuilder()
      .addGrid(als.rank, ranks)
      .addGrid(als.regParam, regParams)
      .build()
    val evaluator = new RegressionEvaluator()
      .setMetricName("rmse").setLabelCol("rating").setPredictionCol("prediction")
    val cv = new CrossValidator()
      .setEstimator(als).setEvaluator(evaluator)
      .setEstimatorParamMaps(grid)
      .setNumFolds(numFolds).setParallelism(parallelism).setSeed(seed)
    cv.fit(prepare(ratings)).bestModel.asInstanceOf[ALSModel]
  }
}
