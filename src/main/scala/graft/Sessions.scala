package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the engine.
  *
  * Mirrors the session shape observed in the reference
  * (`ALS_model3.py:52-61`: local master, explicit shuffle partitions,
  * Kryo, WARN logging) but tuned for this harness: shuffle
  * partitions sized to the actual core count (not the reference's
  * fixed 700, which is wrong for local mode), AQE enabled so the
  * runtime can coalesce shuffle partitions / convert joins to
  * broadcast / split skewed partitions — the knobs that matter when
  * the same plans run on a 1000-executor cluster.
  */
object Sessions {

  /** AQE coalescing targets, pinned at Spark's own defaults so the
    * local bench stays comparable. CPU-dense small-byte stages
    * (tokenizer assemblies, the sampled-unigram pick) coalesce to one
    * task under them because their bytes undercount their CPU; a
    * cluster run sizes both to its data.
    */
  private val AdvisoryPartitionBytes = "64MB"
  private val MinPartitionSize = "1MB"

  /** Entries of Spark's JVM-wide cache of compiled generated classes
    * (whole-stage, projection, predicate). Spark's default of 100 is
    * smaller than one pass of graft's own work: a perfbench pass
    * compiles about 230 distinct classes on `interactive` and about 200
    * on `ingest`, so at 100 every class was evicted before its plan ran
    * again and each pass recompiled it (225 and 195 Janino compiles,
    * about 4.2 s and 4.8 s of summed compile time). Each held class
    * costs about 16–24 KB of heap (Janino's class loader keeps the
    * bytecode), so 1024 entries hold four such passes for about 25 MB.
    * A static conf: read once, when `CodeGenerator` first loads in the
    * JVM, so it can only be set here.
    */
  private val CodegenCacheEntries = 1024

  /** Shared builder: every engine session (tests, Verify, Bench,
    * Profile) goes through here so the static confs that CANNOT be
    * applied after construction — `nanosAsLong` (nanosecond parquet),
    * `spark.sql.extensions` (native SQL functions), the codegen cache
    * size — are never missed at one call site.
    */
  def builder(cpus: Int = defaultCpus, appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      // default: one shuffle partition per core, the suite's sf0.1
      // sizing; SPARK_GRAFT_SHUFFLE_PARTITIONS overrides for runs
      // whose DATA needs more (the ScaleSmoke graph decade uses 128 —
      // a cluster sizes shuffle partitions to the data, and tools
      // reproducing its environment need the same knob)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", AdvisoryPartitionBytes)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", MinPartitionSize)
      .config("spark.sql.session.timeZone", "UTC")
      // NOTE: the objectHashAggregate sort-fallback threshold is NOT
      // raised here anymore. Round 9 set it session-globally to 4 Mi
      // for the bounded top-k aggregate, which also disabled the
      // sort-based fallback memory valve for UNBOUNDED object-hash
      // aggregates (collect_list, percentile) in every query. The
      // override now lives on a derived session scoped to queries that
      // contain the bounded top-k — see graft.operators.TopKAgg.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.ui.enabled", "false")

  /** Local session for tests and CLI mains. */
  def local(cpus: Int = defaultCpus, appName: String = "graft"): SparkSession = {
    val spark = builder(cpus, appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** Session for Bench and the `graft.tools` mains: [[defaultCpus]]
    * cores, ERROR logging (their own output is the report).
    */
  def tool(appName: String): SparkSession = {
    val spark = builder(defaultCpus, appName).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Between-measurement cache sweep shared by Bench/ScaleSmoke/
    * Profile: drop cached relations and persistent RDDs so one query's
    * leftovers can never evict the next query's working set — EXCEPT
    * the ids in `keep` ([[SparkEntry.protectedRddIds]]: the memoized
    * shared ANN corpus). localCheckpoint blocks have truncated lineage,
    * so unpersisting a memoized one would be data LOSS for later
    * queries, not a recompute; the memo also self-heals (rebuilds) if
    * an external sweep does drop its blocks.
    */
  def sweep(spark: SparkSession, keep: Int => Boolean = _ => false): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep(id)) rdd.unpersist(blocking = true)
    }
  }
}
