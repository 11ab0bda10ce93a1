package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query: its Spark plan, the DuckDB SQL that fixes its
  * meaning over the same parquet tables (`None` for the rows-only
  * queries, each gated by an oracled companion — see EntrySpec), and
  * the memoized inputs it reads, whose first cost Bench bills on their
  * own `_shared:*` lines. The SQL is built on first read: only Verify
  * reads it, and the suite's oracles are about 1.7 MB of text that a
  * run of the queries alone would otherwise keep on its heap.
  */
final class Query(val name: String,
                  val run: (SparkSession, String) => DataFrame,
                  oracleSql: => Option[String],
                  val shared: Seq[Shared]) {
  lazy val oracle: Option[String] = oracleSql
}

object Query {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
            oracle: => Option[String] = None, shared: Seq[Shared] = Nil): Query =
    new Query(name, run, oracle, shared)
}

/** A memoized input several queries read, billed once by Bench as its
  * `tag` line: `build` returns the frame to materialize (a memo hit
  * after the first call, see [[SparkEntry.memoUnit]]).
  */
final case class Shared(tag: String, build: (SparkSession, String) => DataFrame)

/** The maps [[SparkEntry]] serves, derived from one record per
  * query. Names are unique by construction: a repeated name fails
  * here instead of silently replacing an earlier query.
  */
final class Registry(val records: Seq[Query]) {
  private def requireDistinct(what: String, keys: Seq[String]): Unit = {
    val dup = keys.diff(keys.distinct).distinct.sorted
    require(dup.isEmpty, s"$what: ${dup.mkString(", ")}")
  }

  requireDistinct("duplicate query names", records.map(_.name))

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    records.map(q => q.name -> q.run).toMap

  lazy val oracleSql: Map[String, String] =
    records.flatMap(q => q.oracle.map(q.name -> _)).toMap

  private val handles = records.flatMap(_.shared).distinct
  requireDistinct("one shared tag, several builders", handles.map(_.tag))

  val sharedInputs: Map[String, (SparkSession, String) => DataFrame] =
    handles.map(h => h.tag -> h.build).toMap

  val sharedConsumers: Map[String, Seq[String]] =
    records.flatMap(q => q.shared.map(_.tag -> q.name)).groupMap(_._1)(_._2)
}
