package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Cleaning
import graft.sources.Tables

/** Inputs and oracle fragments several query families share. */
private[graft] object Fixtures {
  /** A testdata table, normalized by [[Tables.load]]. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Planted-row id offset for the q124-q126 recall gates (far above
    * any real vec_id/doc_id in the testdata).
    */
  val PlantOffset = 1000000L

  def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(); ()
  }

  /** Shared cleaned-ratings input (SURVEY P1–P3) mapped onto testdata:
    * user=l_suppkey, item=l_partkey, rating=int(l_quantity) in (0,10].
    */
  def ratings(s: SparkSession, dir: String): DataFrame =
    Cleaning.cleanRatings(t(s, dir, "lineitem"),
      "l_suppkey", "l_partkey", "l_quantity", lo = 0, hi = 10)

  /** The oracle twin of [[ratings]]. */
  val ratingsSql: String =
    """SELECT CAST(l_suppkey AS BIGINT) AS userId,
      |       CAST(l_partkey AS BIGINT) AS itemId,
      |       CAST(l_quantity AS INT) AS rating
      |FROM lineitem
      |WHERE CAST(l_quantity AS INT) > 0 AND CAST(l_quantity AS INT) <= 10""".stripMargin
}
