package graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.operators.Popularity
import graft.queries._
import graft.queries.Fixtures.{ratings, rmTree, t}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, each with DuckDB-runnable oracle SQL over the same
  * parquet tables (column names aligned on both sides; all compared
  * doubles are bit-deterministic, see [[graft.functions.Det]]).
  *
  * Each query is one [[graft.queries.Query]] record in its family
  * module under `graft.queries`, written beside its oracle SQL and the
  * shared inputs it reads; the maps below are derived from those
  * records. This object keeps the registry and the memo of shared
  * inputs the records build through.
  */
object SparkEntry {

  /** Per-JVM scratch sink path: concurrent runs against the same data
    * dir (e.g. Bench and Verify) must not race on a shared write+re-read
    * location, so the PID joins the sanitized dir in the path.
    */
  private[graft] def scratch(kind: String, dir: String): String =
    s"/tmp/graft_${kind}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}_" +
      ProcessHandle.current().pid()

  /** The q182 curation store's WAVE-1 SEED, built once per (JVM
    * session, sf dir) at a pristine path the consumers never mutate:
    * two-wave store construction was most of q182's wall (10.9 s, the
    * suite's heaviest line) and is an INPUT, not the operator under
    * test — the `_shared:copurchase-edges` billing discipline. The
    * memo guards a path, not RDDs, so it needs no sweep self-heal
    * (the store is on disk); a fresh SparkContext in the same JVM
    * re-seeds because the key includes the context identity.
    */
  private val curationSeedMemo =
    scala.collection.concurrent.TrieMap.empty[(Int, String), String]

  private[graft] def curationSeed(s: SparkSession, dir: String): String =
    synchronized {
      val key = (System.identityHashCode(s.sparkContext), dir)
      curationSeedMemo.getOrElseUpdate(key, {
        val seed = scratch("curationseed", dir)
        rmTree(new java.io.File(seed))
        graft.streaming.CurationStream.processBatch(
          t(s, dir, "documents").filter(col("doc_id") % 4 =!= 0),
          "doc_id", "text", CurationQueries.langProfiles, seed)
          .write.mode("overwrite").format("noop").save() // funnel job
        seed
      })
    }

  // --- memoized shared inputs --------------------------------------
  // q47/q57/q124/q125/q167/q168 all start from the same normalized
  // embeddings corpus (and q124/q125/q167/q168 from the same perturbed
  // copy); re-reading + re-normalizing it per query cost ~4 redundant
  // input preps per bench/Verify run. The memo holds one value (a
  // checkpointed frame, or a frame pair built together) per
  // (SparkContext, dir, tag) and SELF-HEALS: entries record the ids
  // of the RDDs their build persisted and the value reads (see
  // [[planRdds]]), and an entry whose blocks were swept
  // (Sessions.sweep by a harness that doesn't pass `keep`) is rebuilt
  // instead of reused — a truncated-lineage checkpoint cannot
  // recompute itself. Entries of stopped contexts are dropped on every
  // call, with their ids: a later context's RDD with the same id must
  // not be exempt from its sweeps.
  private val unitMemo =
    scala.collection.mutable.Map.empty[(SparkContext, String, String), (Any, Set[Int])]

  private val memoIds =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** RDD ids backing memoized shared inputs — [[Sessions.sweep]]
    * callers pass this as `keep` so the (few-MB) shared corpus
    * survives between-query cache sweeps.
    */
  private[graft] def protectedRddIds(id: Int): Boolean = memoIds.contains(id)

  /** Ids of the RDDs a memoized value's frames read, with their
    * lineage (a checkpoint ends it). A build's transient checkpoints
    * are persisted too, but only until the GC collects them; recording
    * one would make the entry go stale (and retrain) at the next
    * collection.
    */
  private def planRdds(v: Any): Set[Int] = {
    def lineage(r: RDD[_]): Seq[Int] = r.id +: r.dependencies.flatMap(d => lineage(d.rdd))
    v match {
      case df: Dataset[_] =>
        df.queryExecution.logical.collect { case r: LogicalRDD => lineage(r.rdd) }.flatten.toSet
      case p: Product => p.productIterator.flatMap(planRdds).toSet
      case _ => Set.empty
    }
  }

  private[graft] def memoUnit[A](s: SparkSession, dir: String, tag: String)
                         (build: => A): A = synchronized {
    unitMemo.filterInPlace { case ((sc, _, _), (_, ids)) =>
      if (sc.isStopped) ids.foreach(memoIds.remove(_))
      !sc.isStopped
    }
    val sc = s.sparkContext
    val key = (sc, dir, tag)
    unitMemo.get(key) match {
      case Some((v, ids)) if ids.subsetOf(sc.getPersistentRDDs.keySet) =>
        v.asInstanceOf[A]
      case stale =>
        stale.foreach { case (_, ids) => ids.foreach(memoIds.remove(_)) }
        val before = sc.getPersistentRDDs.keySet
        val v = build
        val ids = (sc.getPersistentRDDs.keySet -- before).toSet intersect planRdds(v)
        ids.foreach(memoIds.add(_))
        unitMemo.put(key, (v, ids))
        v
    }
  }

  /** Round-15 idf-grid guard over BOTH retrieval corpora (the q240
    * fixture and the q246 latest-wins index state): the minimum
    * rounding-boundary distance of any distinct idf value —
    * [[graft.llm.Retrieval.idfBoundaryDistance]]. Verify runs this
    * per dump and fails below the band, turning a potential silent
    * cross-engine score flip into a loud, metadata-sized check.
    */
  def idfGuardMin(s: SparkSession, dir: String): Double = {
    val docs = RetrievalQueries.retrievalDocs(s, dir)
    val (upd, nw) = RetrievalQueries.lexWaves(docs)
    val lexc = docs.filter(pmod(col("doc_id"), lit(100)) =!= 7)
      .unionByName(upd).unionByName(nw)
    math.min(
      graft.llm.Retrieval.idfBoundaryDistance(docs, "doc_id", "text"),
      graft.llm.Retrieval.idfBoundaryDistance(lexc, "doc_id", "text"))
  }

  /** Shared memoized inputs, exposed so Bench bills each one's FIRST
    * cost as its own `_shared:*` line: with stat=min over reps a
    * memoized input's training/prep cost is otherwise attributed to NO
    * query (the first consumer's rep 1 pays it, every later rep hits
    * the memo and wins the min), so the memoized families' per-query
    * numbers under-report — q177 reported 0.016 s while its 8-merge
    * training ran unbilled in rep 1. Bench materializes these once,
    * cold, before the measured reps; consumer queries' numbers are
    * then honestly MARGINAL (memo-hit) costs, flagged in the
    * `marginal` JSON field via [[sharedConsumers]].
    */
  private[graft] def sharedInputs: Map[String, (SparkSession, String) => DataFrame] =
    registry.sharedInputs

  /** Queries whose bench time is marginal given [[sharedInputs]]. */
  private[graft] def sharedConsumers: Map[String, Seq[String]] =
    registry.sharedConsumers

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Popularity.topByAvgRating(ratings(spark, "/root/testdata/sf0.001"),
      "itemId", "rating", minCount = 2, topN = 100)

  /** Every query record, family by family. */
  private[graft] val registry: Registry = new Registry(Seq(
    RelationalQueries.all, AnalyticsQueries.all, RecsysQueries.all,
    CurationQueries.all, TokenizerQueries.all, RetrievalQueries.all,
    VectorQueries.all, GraphQueries.all, SketchQueries.all,
    MultimodalQueries.all).flatten)

  def queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries

  def oracleSql: Map[String, String] = registry.oracleSql
}
