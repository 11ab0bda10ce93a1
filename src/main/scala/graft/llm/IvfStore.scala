package graft.llm

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.VectorExprs
import Similarity.{IvfIndex, ListScan}

/** A PERSISTED IVF index, the train-once/serve-many half of ANN:
  * [[build]] trains the quantizer ([[Similarity.embedIvfTopK]] has the
  * design) and writes it, [[append]] adds vectors without retraining,
  * and [[search]] serves query batches without re-scanning or
  * re-clustering the corpus.
  *
  * On disk, under `path`:
  *  - `l1 (_c1, _c1v)` and, for a hierarchical quantizer,
  *    `l2 (_c1, _c2, _c2v)`: the centroids, one file each;
  *  - `lists`: the corpus keyed by its `(_c1, _c2)` cell, range-laid
  *    and sorted on the cell, so the serve-time `_c1 IN (probed)`
  *    filter prunes files and row groups by parquet min/max stats.
  *    Not `partitionBy`: one directory per cell means √cells tiny
  *    files locally and millions of directories at corpus scale;
  *  - the codec's own tables (`codebook` for [[Pq]]);
  *  - `meta.json`: `l1n`, `l2n`, `seed`, then the codec's fields.
  *
  * How `lists` stores a vector is a [[Codec]] value; build, append and
  * search are written once and none of them branches on it. [[search]]
  * reads the codec from the meta. Every table is read with the schema
  * fixed here (no schema-inference job per read); an integral `id_b`
  * narrower than a long widens on read, the type a search returns.
  */
object IvfStore {

  /** A persisted index's meta.json, typed. */
  private final case class IvfMeta(l1n: Int, l2n: Int, seed: Long, codec: Codec)

  /** How `lists` stores each vector, and so what a search scans. */
  sealed trait Codec {
    /** Write this codec's meta.json fields (after `seed`). */
    private[llm] def putMeta(meta: ObjectNode): Unit
    /** This codec for one index, trained on its unit corpus. */
    private[llm] def fit(unit: DataFrame, idCol: String, dims: Int,
                         seed: Long): Layout
    /** This codec for one index, read back from `path`. */
    private[llm] def load(spark: SparkSession, path: String): Layout
  }

  /** A codec resolved for one index: what it writes, how it ranks. */
  private[graft] trait Layout {
    def codec: Codec
    /** Read schema (nullable) of `lists` and of the codec's own tables. */
    def schemas: Map[String, StructType]
    /** The stored `lists` columns, projected from the cell-keyed unit
      * vectors `(id_b, _ub, _c1, _c2)`; a projection keeps the rows'
      * range layout.
      */
    def encode(lists: DataFrame): DataFrame
    /** Write the codec's own tables at build. */
    def save(spark: SparkSession, path: String): Unit = ()
    /** Top-k `(id_a, id_b, cos, rank)` per query over the probed cells'
      * `lists`; `queries` is `(id_a, _ua)`.
      */
    def rank(probes: DataFrame, queries: DataFrame, lists: DataFrame,
             k: Int): DataFrame
  }

  /** Lists store the unit vector as doubles: the persisted search is
    * bit-identical to the in-session one. A meta with no `quantized`
    * key (a pre-quantization index) opens as this codec.
    */
  case object Float extends Codec with Layout {
    private[llm] def putMeta(meta: ObjectNode): Unit = meta.put("quantized", false)
    private[llm] def fit(unit: DataFrame, idCol: String, dims: Int,
                         seed: Long): Layout = this
    private[llm] def load(spark: SparkSession, path: String): Layout = this
    def codec: Codec = this
    def schemas: Map[String, StructType] = Map("lists" ->
      StructType.fromDDL("id_b BIGINT, _ub ARRAY<DOUBLE>, _c1 INT, _c2 INT"))
    def encode(lists: DataFrame): DataFrame = lists
    def rank(probes: DataFrame, queries: DataFrame, lists: DataFrame,
             k: Int): DataFrame =
      Similarity.rankIvfPairs(probes, lists, k, excludeSelf = false)
  }

  /** Lists store each unit vector INT8 (the default) with a per-vector
    * symmetric scale, the [[Similarity.quantizeInt8]] codec: a 4× cut
    * in bytes and serve-scan bandwidth on the corpus-sized half of the
    * index. Scoring reconstructs the dot in double (`dot(query, q8) ·
    * scale / 127`, one codegen'd mixed-precision expression, no
    * dequantized array), so per-pair cosine error is at most
    * `Σ|q_i|·(scale/254) ≤ √dims/254`, far inside ANN ranking noise
    * (SimilaritySpec pins the bound; the recall gates pin EQUAL).
    */
  case object Int8 extends Codec with Layout {
    private[llm] def putMeta(meta: ObjectNode): Unit = meta.put("quantized", true)
    private[llm] def fit(unit: DataFrame, idCol: String, dims: Int,
                         seed: Long): Layout = this
    private[llm] def load(spark: SparkSession, path: String): Layout = this
    def codec: Codec = this
    private[llm] val listsSchema = StructType.fromDDL(
      "id_b BIGINT, _c1 INT, _c2 INT, _sb DOUBLE, _qb ARRAY<TINYINT>")
    def schemas: Map[String, StructType] = Map("lists" -> listsSchema)
    /** One codegen'd pass per vector ([[graft.functions.Int8Quantize]];
      * a zero vector keeps scale 0). Placed after the range exchange,
      * the partitioner's sampling pass never runs the codec (before
      * round 10 it ran twice) and the work spreads over the write tasks.
      */
    private[llm] def columns: Seq[Column] = {
      val q = VectorExprs.int8Quantize(col("_ub"))
      Seq(col("id_b"), col("_c1"), col("_c2"),
        q.getField("scale").as("_sb"), q.getField("qvec").as("_qb"))
    }
    def encode(lists: DataFrame): DataFrame = lists.select(columns: _*)
    /** The stored int8 vector's exact score against `_ua`. */
    private[llm] def score: Column =
      round(VectorExprs.dotInt8(col("_ua"), col("_qb")) * col("_sb") / 127.0, 4)
    def rank(probes: DataFrame, queries: DataFrame, lists: DataFrame,
             k: Int): DataFrame =
      Similarity.rankIvfPairs(probes, lists, k, excludeSelf = false,
        ListScan(struct(col("id_b").cast("long").as("id"), col("_qb"),
          col("_sb").cast("double").as("_sb")), score, int8 = true))
  }

  /** Lists additionally carry `m` one-byte product-quantization codes
    * per vector (`m = dims/4` when `m` ≤ 0), the memory face BEYOND
    * int8 (L26/X147): the candidate scan reads `m` bytes per vector
    * instead of `dims`, an 8–16× further cut (Jégou et al. 2011, faiss
    * `IVFPQ`+refine). One lists table carries both codes per row,
    * `(id_b, _c1, _c2, _sb, _qb, _pq)`: parquet is columnar, so the ADC
    * scan never reads the int8 bytes and the rescore reads them for
    * the probed cells only. The codebooks (m × ≤256 × dims/m doubles,
    * broadcast-bounded) persist as `codebook`.
    */
  final case class Pq(m: Int = -1) extends Codec {
    private[llm] def putMeta(meta: ObjectNode): Unit = {
      Int8.putMeta(meta)
      meta.put("layout", "ivfpq").put("m", m)
    }
    private[llm] def fit(unit: DataFrame, idCol: String, dims: Int,
                         seed: Long): Layout =
      PqLayout(trainPqCodebooks(unit, idCol,
        if (m > 0) m else math.max(1, dims / 4), seed))
    private[llm] def load(spark: SparkSession, path: String): Layout = {
      val rows = spark.read.schema(CodebookSchema).parquet(s"$path/codebook")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      PqLayout(Array.tabulate(rows.iterator.map(_._1).max + 1) { j =>
        rows.filter(_._1 == j).sortBy(_._2).map(_._3)
      })
    }
  }

  private val CodebookSchema = StructType.fromDDL("_j INT, _c INT, _cv ARRAY<DOUBLE>")

  /** ADC keeps the top `max(32, 8·k)` candidates per query for the int8
    * rescore: ADC is lossy, and the rescore restores exact ranking as
    * long as the true top-k survives this cut (q237 pins recall EQUAL).
    */
  private def rescoreR(k: Int): Int = math.max(32, 8 * k)

  /** [[Pq]] with its codebooks: `cb(j)(c)` is centroid `c` of subspace `j`. */
  private final case class PqLayout(cb: Array[Array[Array[Double]]]) extends Layout {
    def codec: Codec = Pq(cb.length)
    def schemas: Map[String, StructType] = Map(
      "lists" -> Int8.listsSchema.add("_pq", "ARRAY<TINYINT>"),
      "codebook" -> CodebookSchema)
    def encode(lists: DataFrame): DataFrame = lists.select(
      Int8.columns :+ VectorExprs.pqEncode(col("_ub"), cb).as("_pq"): _*)
    override def save(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      cb.zipWithIndex.flatMap { case (cs, j) =>
        cs.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) } }.toSeq
        .toDF("_j", "_c", "_cv")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
    }
    /** Asymmetric-distance ranking over the codes, then an exact int8
      * rescore of the top [[rescoreR]] per query:
      *  1. ADC: one [[graft.functions.PqLut]] per probe row, then `m`
      *     lookups per candidate ([[graft.functions.PqAdcDot]]) over a
      *     scan that reads ONLY the codes column;
      *  2. bounded top-R per query ([[graft.operators.TopKAgg]], map-side
      *     collapse before the exchange);
      *  3. rescore: the |queries|·R survivors equi-join the pruned lists'
      *     int8 columns (slim build side, SHUFFLE_HASH-hinted) and score
      *     with [[Int8]]'s dot, so consumers see the same `cos` face.
      */
    def rank(probes: DataFrame, queries: DataFrame, lists: DataFrame,
             k: Int): DataFrame = {
      val adc = probes
        .withColumn("_lut", VectorExprs.pqLut(col("_ua"), cb))
        .join(lists.select(col("id_b"), col("_c1"), col("_c2"), col("_pq"))
          .hint("shuffle_hash"), Seq("_c1", "_c2"))
        .select(col("id_a"), col("id_b"),
          VectorExprs.pqAdcDot(col("_lut"), col("_pq")).as("_adc"))
      val cand = graft.operators.TopKAgg.perGroup(adc, "id_a", "_adc",
          "id_b", rescoreR(k))
        .select(col("id_a"), col("id_b"))
      val rescored = lists.select(col("id_b"), col("_sb"), col("_qb"))
        .join(cand.join(queries, Seq("id_a")).hint("shuffle_hash"), Seq("id_b"))
        .select(col("id_a"), col("id_b"), Int8.score.as("cos"))
      graft.operators.TopKAgg.perGroup(rescored, "id_a", "cos", "id_b", k)
        .select(col("id_a"), col("id_b"), col("cos"), col("rank"))
    }
  }

  /** PQ training sample cap: `cap · dims` doubles on the driver
    * (4 MiB at 64 dims), deterministic via the seeded-hash order. A
    * SAMPLE is the published practice (faiss trains PQ on ≤ ~100k
    * points at any corpus size: codebooks summarize a distribution).
    */
  private val PqSampleCap = 8192
  private val PqKmeansIters = 6
  private val PqCodes = 256

  /** Deterministic driver-side Lloyd k-means (the PQ subspace
    * trainer): init = the first `k` DISTINCT points in sample order,
    * ties → the lowest centroid index, an empty cluster keeps its
    * previous centroid. `iters · |pts| · k · subDims` driver flops,
    * ~100M at the defaults.
    */
  private def kmeansLloyd(pts: Array[Array[Double]], k: Int,
                          iters: Int): Array[Array[Double]] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Double]]
    var i = 0
    while (i < pts.length && seen.size < k) { seen += pts(i).toSeq; i += 1 }
    var cents = seen.iterator.map(_.toArray).toArray
    val sub = pts.headOption.map(_.length).getOrElse(0)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length, sub)(0.0)
      val cnts = new Array[Long](cents.length)
      pts.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var x = 0
          while (x < sub) { val t = p(x) - cents(c)(x); d += t * t; x += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var x = 0
        while (x < sub) { sums(best)(x) += p(x); x += 1 }
        cnts(best) += 1
      }
      cents = Array.tabulate(cents.length) { c =>
        if (cnts(c) == 0) cents(c)
        else Array.tabulate(sub)(x => sums(c)(x) / cnts(c))
      }
      it += 1
    }
    cents
  }

  /** The `m` per-subspace codebooks (each ≤ [[PqCodes]] centroids over
    * `dims/m` coordinates), trained on a bounded deterministic sample.
    * Subspaces are independent, so they train concurrently (round-15:
    * the sequential loop was ~1 s of single-threaded flops while the
    * executors idled); output is positional, so bit-identical.
    */
  private def trainPqCodebooks(unit: DataFrame, idCol: String, m: Int,
                               seed: Long): Array[Array[Array[Double]]] = {
    val sample = unit
      .orderBy(xxhash64(col(idCol), lit(seed)))
      .limit(PqSampleCap)
      .select(col("_unit")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "trainPqCodebooks: empty corpus")
    val dims = sample(0).length
    require(m >= 1 && dims % m == 0,
      s"trainPqCodebooks: m=$m must divide dims=$dims")
    val sub = dims / m
    val out = new Array[Array[Array[Double]]](m)
    java.util.stream.IntStream.range(0, m).parallel().forEach { j =>
      val pts = sample.map(v =>
        java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      out(j) = kmeansLloyd(pts, PqCodes, PqKmeansIters)
    }
    out
  }

  // ─────────────── the store: meta, open, build, append, search ───────────────

  private val Json = new ObjectMapper()

  /** Read schema (nullable) of every table an index of `layout` holds. */
  private[graft] def schemas(layout: Layout): Map[String, StructType] = Map(
    "l1" -> StructType.fromDDL("_c1 INT, _c1v ARRAY<DOUBLE>"),
    "l2" -> StructType.fromDDL("_c1 INT, _c2 INT, _c2v ARRAY<DOUBLE>")) ++
    layout.schemas

  /** meta.json goes through the Hadoop FileSystem resolved from the
    * path: java.nio would write local (or throw) for hdfs:// and s3a://,
    * the natural homes of a corpus-sized index.
    */
  private def metaPath(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(s"$path/meta.json")
    (p, p.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  private def writeMeta(spark: SparkSession, path: String, meta: IvfMeta): Unit = {
    val node = Json.createObjectNode()
      .put("l1n", meta.l1n).put("l2n", meta.l2n).put("seed", meta.seed)
    meta.codec.putMeta(node)
    val (p, fs) = metaPath(spark, path)
    val out = fs.create(p, true)
    try out.write(Json.writeValueAsBytes(node)) finally out.close()
  }

  /** A missing or non-integral `l1n`, `l2n`, `seed` (or a PQ index's
    * `m`) fails naming the key and the file.
    */
  private def readMeta(spark: SparkSession, path: String): IvfMeta = {
    val (p, fs) = metaPath(spark, path)
    val in = fs.open(p)
    val node = try Json.readTree(in) finally in.close()
    def num(key: String) = {
      val v = node.get(key)
      require(v != null && v.isIntegralNumber,
        s"IVF index meta $p has no integer \"$key\"")
      v
    }
    val codec =
      if (node.path("layout").asText() == "ivfpq") Pq(num("m").asInt())
      else if (node.path("quantized").asBoolean(false)) Int8
      else Float
    IvfMeta(num("l1n").asInt(), num("l2n").asInt(), num("seed").asLong(), codec)
  }

  /** An index resolved for one call: its codec and its quantizer. */
  private[graft] final case class Opened(layout: Layout, index: IvfIndex)

  /** Resolve the index at `path` once: its meta, its codec's tables,
    * the driver-bounded `l1` matrix and (under the driver budget) the
    * `l2` cells, each collected once; every table read with its schema.
    */
  private[graft] def open(spark: SparkSession, path: String): Opened = {
    val meta = readMeta(spark, path)
    val layout = meta.codec.load(spark, path)
    def read(table: String): DataFrame =
      spark.read.schema(schemas(layout)(table)).parquet(s"$path/$table")
    val l1m = read("l1").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    val l2 = if (meta.l2n > 1) Some(read("l2")) else None
    Opened(layout, IvfIndex(l1m, l2, read("lists"), meta.l1n,
      meta.l2n, meta.seed, l2.flatMap(Similarity.cellsWithinBudget(_,
        meta.l1n, meta.l2n, l1m.headOption.map(_.length).getOrElse(0)))))
  }

  /** Range-lay cell-keyed unit vectors `(id_b, _ub, _c1, _c2)` on their
    * cell and write them in `layout`'s codec. The file count derives
    * from the `n` rows (round-15, §6): `par` range files of a small
    * corpus are slivers; the clamp restores `par` width at scale.
    */
  private def writeLists(layout: Layout, lists: DataFrame, n: Long,
                         path: String, mode: String): Unit =
    layout.encode(lists
        .repartitionByRange(Similarity.vecPar(lists.sparkSession, n),
          col("_c1"), col("_c2"))
        .sortWithinPartitions("_c1", "_c2"))
      .write.mode(mode).parquet(s"$path/lists")

  /** Train an IVF quantizer on `corpus` and PERSIST it at `path`, its
    * lists stored in `codec`. The centroid tables are driver-bounded by
    * contract, so each is ONE file (round-15, §6: a driver-local Seq
    * toDF inherits defaultParallelism, and every serve-time read paid a
    * `par`-task footer-read stage for its sliver files).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, path: String,
            codec: Codec = Int8, nCentroids: Int = -1, maxIter: Int = 1,
            seed: Long = 42L): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val unit = Similarity.normalizedVecs(corpus, idCol, idCol, vecCol)
    val idx = Similarity.trainIvfIndex(unit, idCol, nCentroids, maxIter, seed)
    val layout = codec.fit(unit.df, idCol,
      idx.l1m.headOption.map(_.length).getOrElse(0), seed)
    idx.l1m.toSeq.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toDF("_c1", "_c1v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/l1")
    idx.l2.foreach(_.coalesce(1)
      .write.mode("overwrite").parquet(s"$path/l2"))
    layout.save(spark, path)
    writeLists(layout, idx.lists, unit.n, path, "overwrite")
    writeMeta(spark, path, IvfMeta(idx.l1n, idx.l2n, idx.seed, layout.codec))
  }

  /** Append NEW vectors WITHOUT retraining ([[Similarity.assignCells]]),
    * written in the stored codec — under the STORED codebooks for
    * [[Pq]]. Centroids, meta and existing list files are untouched;
    * [[search]] serves the union at once, and a batch is range-laid
    * like the build. Centroids do not learn the appended distribution:
    * rebuild when drift degrades recall (measure with
    * [[graft.ml.Eval.psiBins]] on the assignment histogram).
    */
  def append(spark: SparkSession, path: String, newVectors: DataFrame,
             idCol: String, vecCol: String): Unit = {
    val ix = open(spark, path)
    val unit = Similarity.normalizedVecs(newVectors, idCol, idCol, vecCol)
    writeLists(ix.layout, Similarity.assignCells(ix.index, unit.df, idCol),
      unit.n, path, "append")
  }

  /** Search the index at `path` with new query vectors: `(id_a = query
    * id, id_b = corpus id, cos, rank)`, ranked by the index's codec.
    *
    * Probes are |queries|·≤(nProbe+pL1) slim rows, checkpointed so the
    * probed-cell set (≤ l1n values, driver-bounded like the centroid
    * matrix) can be collected and PUSHED DOWN onto the lists scan: on
    * the range-sorted layout the IN filter prunes files and row groups,
    * so a small batch reads only the cells it probes (an unprobed
    * cell's lists cannot join anyway). They are spread by query id
    * first: AQE would coalesce the probe-dedup shuffle to ONE partition
    * and run everything downstream in that task (6.4 s at the 10× smoke).
    */
  def search(spark: SparkSession, path: String, queries: DataFrame,
             queryIdCol: String, vecCol: String, k: Int,
             nProbe: Int = 4): DataFrame = {
    val ix = open(spark, path)
    val qunit = Similarity.normalizedVecs(queries, queryIdCol, queryIdCol, vecCol)
    val probes = Similarity.probeIvfIndex(ix.index, qunit.df, queryIdCol,
        nProbe)
      .repartition(Similarity.vecPar(spark, qunit.n * math.max(1, nProbe)),
        col("id_a"))
      .localCheckpoint()
    val probedCells = probes.select(col("_c1")).distinct()
      .collect().map(_.getInt(0)).sorted
    ix.layout.rank(probes,
      qunit.df.select(col(queryIdCol).as("id_a"), col("_unit").as("_ua")),
      ix.index.lists.filter(
        col("_c1").isin(probedCells.map(Integer.valueOf): _*)), k)
  }
}
