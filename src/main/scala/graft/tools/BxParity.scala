package graft.tools

import org.apache.spark.sql.functions._
import graft.Sessions
import graft.ml.{Als, BxFixture, Eval}
import graft.operators.{Cleaning, IdMapping, Splits}

/** Calibration/diagnostic main for the BX parity bands: runs the
  * reference's exact pipeline sequence (`ALS_model3.py`) over the
  * BxFixture corpus and prints every number the run_log publishes, so
  * the fixture's rating model can be tuned against the bands without
  * rerunning the full test suite.
  */
object BxParity {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.tool("bx-parity")

    // optional overrides: mu sdUser sdItem sdNoise
    val mu = args.lift(0).map(_.toDouble).getOrElse(BxFixture.Mu)
    val su = args.lift(1).map(_.toDouble).getOrElse(BxFixture.SdUser)
    val si = args.lift(2).map(_.toDouble).getOrElse(BxFixture.SdItem)
    val sn = args.lift(3).map(_.toDouble).getOrElse(BxFixture.SdNoise)
    val se = args.lift(4).map(_.toDouble).getOrElse(BxFixture.SkewExp)
    println(s"params mu=$mu sdUser=$su sdItem=$si sdNoise=$sn skewExp=$se")
    val clean = Cleaning.cleanRatings(
      BxFixture.ratings(spark, mu, su, si, sn, se), "userKey", "isbn", "rating")
    val users = IdMapping.denseIds(clean, "userId", "userIdx")
    val items = IdMapping.denseIds(clean, "itemId", "itemIdx")
    val mapped = IdMapping.attach(
        IdMapping.attach(clean, users, "userId", "userId"),
        items, "itemId", "itemId")
      .select(col("userIdx").as("userId"), col("itemIdx").as("itemId"),
        col("rating"))
      .cache()
    println(s"ratings=${mapped.count()} users=${users.count()} items=${items.count()}")

    val mean = mapped.agg(avg("rating"), stddev_pop("rating")).head()
    println(f"rating mean=${mean.getDouble(0)}%.4f std=${mean.getDouble(1)}%.4f")

    // CV on ELIGIBLE-ONLY ratings (the reference inner-joins eligible
    // users before folding — run_log train_rows confirm), fit params
    // hard-coded rank=10/reg=0.7 (ALS_model3.py:150-155)
    val counts = mapped.groupBy("userId").agg(count(lit(1)).as("n"))
    val eligible = mapped.join(counts.filter(col("n") >= 7).select("userId"), "userId")
    println(s"eligible_mass=${eligible.count()}")
    val cv = Als.crossValidatePerUser(eligible,
      Seq(Als.Params(rank = 10, regParam = 0.7, maxIter = 15)),
      k = 5, minRatings = 7, seed = 42L)
    cv.foreach { r =>
      println(f"cv folds=${r.foldRmses.map(x => f"$x%.4f").mkString(",")} avg=${r.avgRmse}%.4f")
    }

    // final leave-one-out split + fit at the overridden best params
    // rank=30/reg=0.2 (ALS_model3.py:218,230-241)
    val split = Splits.leaveOneOut(mapped, "userId", 42L)
    val train = split.filter(!col("is_test")).drop("is_test")
    val test = split.filter(col("is_test")).drop("is_test")
    println(s"final train=${train.count()} test=${test.count()}")
    val model = Als.fit(train, Als.Params(rank = 30, regParam = 0.2, maxIter = 15))
    val trainRmse = Eval.rmse(Als.predict(model, train).na.drop(Seq("prediction")),
      "rating", "prediction")
    val testRmse = Eval.rmse(Als.predict(model, test).na.drop(Seq("prediction")),
      "rating", "prediction")
    println(f"final trainRmse=$trainRmse%.4f testRmse=$testRmse%.4f")
    spark.stop()
  }
}
