package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Sessions, SparkEntry}
import graft.llm.Retrieval
import graft.sources.Tables
import graft.streaming.CurationStream

/** One workload: what a set-up builds, what one pass runs, and the
  * checks on its outputs. Passes read the generated tables in `data/<sf>`.
  */
trait Workload {
  /** The span kind of the workload's unit operation (latency metrics). */
  def opKind: String
  def sf: String
  /** Loads the inputs and builds shared state on a fresh session. */
  def prepare(spark: SparkSession, dir: String): Unit
  /** One pass over `dir`. `r` is null on warm-up passes, which record
    * and check nothing.
    */
  def pass(spark: SparkSession, dir: String, r: Recorder): Unit
  /** True when the inputs can feed no further pass. */
  def exhausted: Boolean = false
  /** Checks on the state all passes left, made after the last one. */
  def finish(spark: SparkSession, r: Recorder): Unit = ()
  /** Directories the passes leave on disk, measured at pass end. */
  def stores: Seq[Path] = Nil
  /** Outputs kept in the run's raw record: the query digests that
    * `expected.json` was copied from, or the ingest waves that
    * `oracle.py` replays.
    */
  def observed: java.util.Map[String, Any] = new java.util.LinkedHashMap[String, Any]()
}

object Workload {
  def apply(name: String, seed: Long, work: Path,
            expected: java.util.Map[String, Any]): Workload = name match {
    case "interactive" =>
      val exp = Option(expected.get(name))
        .map(_.asInstanceOf[java.util.Map[String, Any]].asScala.toMap).getOrElse(Map.empty)
      new Queries(Queries.interactive, "sf0.01", seed, exp)
    case "ingest" => new Ingest(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def rmTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** Regular files and their total bytes under `dirs`. */
  def diskUse(dirs: Seq[Path]): (Long, Long) =
    dirs.filter(Files.exists(_)).foldLeft((0L, 0L)) { case ((n, b), d) =>
      val walk = Files.walk(d)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((n, b))((acc, f) => (acc._1 + 1, acc._2 + Files.size(f)))
      finally walk.close()
    }
}

/** `SparkEntry.queries` run in a seeded order, each collected to the
  * driver and checked against a digest recorded from the same inputs.
  */
final class Queries(names: Seq[String], val sf: String, seed: Long,
                    expected: Map[String, Any]) extends Workload {
  val opKind = "query"
  private val order = new scala.util.Random(seed).shuffle(names)
  private val digests = new java.util.LinkedHashMap[String, Any]()

  def prepare(spark: SparkSession, dir: String): Unit =
    SparkEntry.sharedConsumers.toSeq.sortBy(_._1)
      .collect { case (k, qs) if qs.exists(names.contains) => k }
      .foreach(k => SparkEntry.sharedInputs(k)(spark, dir)
        .write.mode("overwrite").format("noop").save())

  def pass(spark: SparkSession, dir: String, r: Recorder): Unit =
    order.foreach { q =>
      Sessions.sweep(spark, SparkEntry.protectedRddIds)
      val run = () => SparkEntry.queries(q)(spark, dir).collect()
      if (r == null) run()
      else r.op(q, opKind, "SparkEntry")(run()).foreach { rows =>
        val d = Digest(rows)
        digests.put(q, d)
        r.check(s"$q digest", expected.get(q).contains(d),
          s"got $d, recorded ${expected.getOrElse(q, "nothing")}")
      }
    }

  override def observed: java.util.Map[String, Any] = digests
}

object Queries {
  /** Job-heavy queries over small data, where per-job and per-query
    * driver cost dominates. Between them they reach retrieval, a
    * tokenizer, a robust-statistics operator whose histogram checkpoint
    * is a job of its own, sketch expressions, and the recommender's
    * serving path (first-seen dedup, popularity fill, wide export).
    * Queries that write to fixed paths outside the working directory
    * are left out.
    */
  val interactive: Seq[String] = Seq("q240_bm25_query", "q191_bpe_encode",
    "q157_mad_outliers", "q140_kmv_overlap", "q164_serve_wide_det")
}

/** Writes beside reads: the corpus arrives in `Waves` seeded waves
  * (`pmod(xxhash64(doc_id, seed), Waves)`), one wave per pass. A pass
  * curates its wave into the store the earlier passes grew, appends the
  * survivors to a lexical index at the next version, and searches the
  * index with a fixed probe in requests of `ProbeRequest` queries.
  *
  * Each wave's documents and funnel and the store's final documents are
  * recorded for `perfbench/oracle.py`, which replays the curation
  * independently and compares them.
  */
final class Ingest(seed: Long, work: Path) extends Workload {
  val opKind = "search"
  val sf = "sf0.1"
  private val Waves = 16
  private val Probes = 20
  private val ProbeRequest = 4
  private val root = work.resolve("ingest")
  private val store = root.resolve("store")
  private val index = root.resolve("index")
  override def stores: Seq[Path] = Seq(store, index)
  /** The language profiles `SparkEntry` curates with. */
  private val profiles = Seq(
    "en" -> Seq("the", "table", "row"), "es" -> Seq("query", "value", "vector"),
    "de" -> Seq("customer", "join", "column"), "fr" -> Seq("scan", "data", "batch"),
    "zh" -> Seq("small", "sort", "stream"))
  private var docs: DataFrame = _
  private var waveIds = Map.empty[Int, Seq[Long]]
  private var requests: Seq[DataFrame] = Nil
  private var wave = 0
  private var results = Seq.empty[Row]
  private val waves = new java.util.ArrayList[Any]()
  private val record = Probe.obj(
    "profiles" -> Probe.obj(profiles.map { case (l, ms) => l -> ms.asJava }: _*),
    "waves" -> waves, "store_ids" -> null)

  /** The fixed probe: two or three corpus words per query. */
  private def probe(spark: SparkSession): Seq[DataFrame] = {
    val vocab = ("a the join hash row batch scan column customer filter small slow " +
      "merge order vector line table data agg value key stream window " +
      "spark part group big sort query fast").split(" ")
    val rnd = new scala.util.Random(7)
    val qs = (0 until Probes).map(i =>
      (i.toLong, Seq.fill(2 + rnd.nextInt(2))(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    import spark.implicits._
    qs.grouped(ProbeRequest).map(_.toDF("query_id", "text")).toSeq
  }

  /** The store outlives a session: the waves of later set-ups and of the
    * measured passes land on the store the earlier ones grew.
    */
  def prepare(spark: SparkSession, dir: String): Unit = {
    if (wave == 0) Workload.rmTree(root)
    docs = Tables.load(spark, dir, "documents")
      .withColumn("wave", pmod(xxhash64(col("doc_id"), lit(seed)), lit(Waves)))
    waveIds = docs.select(col("wave").cast("int"), col("doc_id")).collect()
      .groupBy(_.getInt(0)).map { case (w, rows) => w -> rows.map(_.getLong(1)).toSeq.sorted }
    requests = probe(spark)
  }

  override def exhausted: Boolean = wave == Waves

  def pass(spark: SparkSession, dir: String, r: Recorder): Unit = {
    val w = wave
    wave += 1
    def timed[T](name: String, kind: String, module: String)(body: => T): Option[T] =
      if (r == null) Some(body) else r.op(name, kind, module)(body)
    val batch = docs.filter(col("wave") === w).drop("wave")
    val funnel = timed(s"curate $w", "curate", "streaming") {
      CurationStream.processBatch(batch, "doc_id", "text", profiles, store.toString)
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    }
    timed(s"append $w", "append", "llm") {
      val kept = spark.read.parquet(store.resolve("corpus").toString)
        .join(batch.select("doc_id"), Seq("doc_id"), "left_semi")
      Retrieval.appendToLexIndex(spark, index.toString, kept, "doc_id", "text", w + 1L)
    }
    results = requests.zipWithIndex.flatMap { case (q, i) =>
      timed(s"search $w.$i", "search", "llm") {
        Retrieval.searchLexIndex(spark, index.toString, q, "query_id", "text").collect()
      }.toSeq.flatMap(_.toSeq)
    }
    waves.add(Probe.obj(
      "wave" -> w, "ids" -> waveIds.getOrElse(w, Nil).asJava,
      "funnel" -> funnel.map(m => Probe.obj(m.toSeq: _*)).orNull))
  }

  /** Records the store's documents, and checks that the appended index
    * serves what a fresh BM25 over the final store serves.
    */
  override def finish(spark: SparkSession, r: Recorder): Unit = {
    val corpus = spark.read.parquet(store.resolve("corpus").toString)
    record.put("store_ids",
      corpus.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq.asJava)
    val fresh = Digest(Retrieval.bm25TopK(corpus, "doc_id", "text",
      requests.reduce(_ union _), "query_id", "text").collect())
    val served = Digest(results.toArray)
    r.check("search vs bm25", fresh == served, s"index $served, bm25 $fresh")
  }

  override def observed: java.util.Map[String, Any] = record
}
