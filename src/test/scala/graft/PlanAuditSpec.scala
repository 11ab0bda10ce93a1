package graft

/** Regression guards on the physical-plan properties the engine's
  * 100 TB story depends on. These assert plan SHAPE (what would kill
  * us at scale), not timings: filter pushdown and column pruning at
  * the scan, top-k as TakeOrderedAndProject, dimension broadcast,
  * map-side partial aggregation, and the absence of nested-loop /
  * cartesian fallbacks in the ANN paths.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString()

  test("q01: filters reach the parquet scan and only needed columns are read") {
    val p = plan("q01_clean_project")
    assert(p.contains("PushedFilters:") && p.contains("IsNotNull"), p.take(2000))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_comment"),
      s"scan reads pruned-away columns: $readSchema")
  }

  test("q02: sort+limit top-n plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("q02_popularity_topn").contains("TakeOrderedAndProject"))
  }

  test("q10: small dimensions join via broadcast hash join") {
    assert(plan("q10_join_multiway_broadcast").contains("BroadcastHashJoin"))
  }

  test("q59: typed top-k aggregator plans with map-side partial aggregation") {
    val p = plan("q59_topk_agg")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n${p.take(2000)}")
  }

  test("ANN candidate generation never plans a cartesian or nested-loop join") {
    Seq("q47_embed_lsh", "q45_minhash_neardup", "q46_simhash").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q plans an all-pairs join:\n${p.take(2000)}")
    }
  }

  test("multimodal fingerprint near-dups candidate-join on band/hash keys, " +
    "never all-pairs (mapPartitions frames have no size stats — the " +
    "shuffle_hash hint must hold)") {
    // the gates end in a 1-row crossJoin(broadcast(agg)) summary — a
    // LEGITIMATE BroadcastNestedLoopJoin; offense = any nested-loop
    // whose build side is not rooted in an aggregation (i.e. the
    // fingerprint stream itself), or any cartesian anywhere
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    def aggRooted(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case other if other.children.size == 1 => aggRooted(other.children.head)
      case _ => false
    }
    Seq("q198_image_neardup", "q204_audio_neardup",
        "q205_video_neardup").foreach { q =>
      val sp: SparkPlan =
        SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan
      assert(!plan(q).contains("CartesianProduct"),
        s"$q plans a cartesian join")
      val offenders = sp.collect {
        case b: BroadcastNestedLoopJoinExec
            if !aggRooted(b.buildSide match {
              case BuildLeft => b.left
              case BuildRight => b.right
            }) => b
      }
      assert(offenders.isEmpty,
        s"$q nested-loops over a non-scalar side:\n${offenders.headOption}")
    }
  }

  test("q57: IVF assignment and probing are narrow matrix expressions, " +
    "no nested-loop join anywhere in the plan") {
    val p = plan("q57_embed_ivf")
    assert(p.contains("argmax_matrix_dot"),
      s"lists assignment is not the narrow argmax expression:\n${p.take(2000)}")
    assert(p.contains("topk_matrix_dot"),
      s"probe selection is not the narrow top-k expression:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"quantizer fell back to a join shape:\n${p.take(2000)}")
  }

  test("q168: persisted-index search pushes the probed-cell filter into the lists scan") {
    val p = plan("q168_ann_index")
    val scanLine = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("/lists"))
    assert(scanLine.exists(_.contains("In(_c1")),
      s"lists scan has no _c1 IN pushdown:\n${scanLine.getOrElse(p.take(2000))}")
  }

  test("q237: the PQ ADC scan prunes the int8 columns (codes only) and " +
       "keeps the probed-cell pushdown; the rescore scan reads int8") {
    val p = plan("q237_pq_recall")
    // the ADC candidate scan must read _pq WITHOUT _qb (columnar
    // pruning is the whole byte win), the rescore scan _qb without _pq
    val schemas = p.linesIterator.filter(_.contains("ReadSchema"))
      .filter(l => l.contains("_pq") || l.contains("_qb")).toSeq
    assert(schemas.exists(l => l.contains("_pq") && !l.contains("_qb")),
      s"no codes-only ADC scan:\n${schemas.mkString("\n")}")
    assert(schemas.exists(l => l.contains("_qb") && !l.contains("_pq")),
      s"no int8-only rescore scan:\n${schemas.mkString("\n")}")
    // both lists scans keep the probed-cell IN pushdown
    val pushed = p.linesIterator.filter(l =>
      l.contains("PushedFilters") && l.contains("/lists")).toSeq
    assert(pushed.nonEmpty && pushed.forall(_.contains("In(_c1")),
      s"lists scans without _c1 IN pushdown:\n${pushed.mkString("\n")}")
  }

  test("q68: the benchmark shingle side of contamination joins via broadcast") {
    assert(plan("q68_contamination").contains("BroadcastHashJoin"))
  }

  test("partitionBy sink: a single-stratum read prunes to that partition's files") {
    import org.apache.spark.sql.functions._
    SparkEntry.queries("q74_partitioned_sink")(spark, dir) // materializes the layout
    val pruned = spark.read.parquet(SparkEntry.scratch("part", dir))
      .filter(col("lang") === "en")
    val scan = pruned.queryExecution.executedPlan.toString()
    // partition filter must be recognized as such, not a data filter
    assert(scan.contains("PartitionFilters") &&
      scan.linesIterator.exists(l => l.contains("PartitionFilters") && l.contains("lang")),
      scan.take(2000))
  }

  test("q123: inverted index scans the corpus once, no window sort, " +
    "and the top-5 aggregator partial-combines map-side") {
    val p = plan("q123_inverted_index")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"corpus scanned more than once:\n${p.take(3000)}")
    assert(!p.contains("Window"), s"unexpected window sort:\n${p.take(3000)}")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final ObjectHashAggregate:\n${p.take(3000)}")
  }

  test("q183: DSIR log-ratio table joins back onto the feature stream " +
    "as a broadcast; the bucket counts partial-combine map-side") {
    val p = plan("q183_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final bucket aggregation:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("q184: DSIR resample plans the selection as TakeOrderedAndProject") {
    assert(plan("q184_dsir_resample").contains("TakeOrderedAndProject"))
  }

  test("q185/q186: bucket quota and hard negatives use the bounded " +
    "ObjectHashAggregate top-k, never a per-row window sort") {
    Seq("q185_diversity_sample", "q186_hard_negatives").foreach { q =>
      val p = plan(q)
      assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"$q expected partial+final ObjectHashAggregate:\n${p.take(2000)}")
      assert(!p.contains("Window"), s"$q has a window sort:\n${p.take(2000)}")
    }
  }

  test("q187: budget cutoff windows run over value histograms, " +
    "never over the corpus rows (no window touches doc_id)") {
    val p = plan("q187_budget_select")
    assert(p.contains("Window"), p.take(2000)) // the histogram cumsums
    val winLines = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!winLines.contains("doc_id"),
      s"window runs over per-doc rows:\n$winLines")
  }

  test("no broadcast build side contains an exploded corpus scan " +
    "(Generate fan-out is invisible to size estimation)") {
    // the q143 lesson: a post-explode stream inherits its parquet
    // parent's size estimate, so Spark happily broadcasts the CORPUS
    // side of a join. Offense = a broadcast BUILD side from which a
    // Generate is reachable WITHOUT passing an aggregation (an
    // aggregated/vocab-sized build legitimately has explodes upstream).
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    def rawGenerate(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => false
      case _: GenerateExec => true
      case other => other.children.exists(rawGenerate)
    }
    val corpusQueries = Seq(
      "q143_bigram_lm", "q147_pmi", "q36_ngram_jaccard",
      "q45_minhash_neardup", "q68_contamination", "q86_bigram_topk",
      "q75_tfidf", "q123_inverted_index", "q137_bm25", "q144_vocab_coverage",
      "q148_chi2_terms", "q176_substr_spans", "q183_dsir_weights",
      "q170_chunk_dedup", "q172_decontaminate", "q175_ref_perplexity",
      "q191_bpe_encode", "q240_bm25_query",
      // the other tokenizer counts faces run the same stream join
      "q219_bpe_bytes_encode", "q225_wordpiece_counts",
      "q232_unigram_counts",
      // q141_incremental_dedup is deliberately absent: its broadcast
      // build side IS a raw exploded stream, but of the incremental
      // BATCH (contractually bounded), probing the corpus-sized store
      // — broadcasting the batch is the intended O(batch) plan.
      "q126_simhash_recall")
    corpusQueries.foreach { q =>
      val p: SparkPlan =
        SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan
      val offenders = p.collect {
        case b: BroadcastHashJoinExec
            if rawGenerate(b.buildSide match {
              case BuildLeft => b.left
              case BuildRight => b.right
            }) => b
        case b: BroadcastNestedLoopJoinExec
            if rawGenerate(b.buildSide match {
              case BuildLeft => b.left
              case BuildRight => b.right
            }) => b
      }
      assert(offenders.isEmpty,
        s"$q broadcasts a raw exploded stream:\n${offenders.headOption}")
    }
  }

  test("q240: BM25 retrieval broadcasts the query-term df table into " +
    "one posting scan, attaches doc length shuffle-hash, and cuts " +
    "per query via the bounded aggregation — never a corpus window") {
    val p = plan("q240_bm25_query")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    // the only nested-loop is the INTENDED 1-row scalar-stats attach
    // (crossJoin(broadcast(stats)), the q137 shape — see the scalar-
    // join audit below); a cartesian would be a real offense
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the top-10 cut is the native bounded top-k aggregation
    // (partial+final), not a per-doc window sort
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("Window"), s"corpus-wide window sort:\n${p.take(2000)}")
  }

  test("q239: the sampled-segmentation pick joins the occurrence " +
    "stream shuffle-hash against the vocabulary-bounded candidate " +
    "table — no corpus broadcast, no all-pairs fallback") {
    val p = plan("q239_unigram_sample")
    assert(p.contains("ShuffledHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), p.take(2000))
  }

  test("q86: corpus bigram top-k plans TakeOrderedAndProject over a partial agg") {
    val p = plan("q86_bigram_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation:\n${p.take(2000)}")
  }

  test("q89: edit-distance pairs join on the block key, never all-pairs") {
    val p = plan("q89_edit_distance")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fuzzy dedup plans an all-pairs join:\n${p.take(2000)}")
  }

  test("q88: null-safe join plans as a hash join, not a nested loop") {
    val p = plan("q88_nullsafe_join")
    assert(p.contains("HashJoin"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoop"), p.take(2000))
  }

  test("q82: unpivot is a narrow Expand - no shuffle introduced") {
    val p = plan("q82_unpivot")
    assert(p.contains("Expand"), p.take(2000))
    assert(!p.contains("Exchange"), s"unpivot should not shuffle:\n${p.take(2000)}")
  }

  test("q144: the vocabulary membership join is a broadcast, and the " +
    "vocab cut is TakeOrderedAndProject") {
    val p = plan("q144_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q157: the group-stats (median/MAD) frames join via broadcast — " +
    "never an SMJ that re-exchanges the fact side on 5 groups") {
    val p = plan("q157_mad_outliers")
    assert(!p.contains("SortMergeJoin"),
      s"group-stats join fell back to SMJ:\n${p.take(3000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q146/q142: graph ops never plan a cartesian or nested-loop join") {
    Seq("q146_triangles", "q142_pagerank").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
        s"$q plans an all-pairs join:\n${p.take(2000)}")
    }
  }

  test("q154: Gini windows run over the count histogram, not the keys " +
    "(key-cardinality frames never enter a window)") {
    // the plan has windows (tiny domain) but the window input must sit
    // ABOVE the per-key aggregation: assert the window sort keys are
    // the histogram columns (n), not the user key
    val p = plan("q154_skew_report")
    val winLines = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!winLines.contains("user_id"),
      s"window runs over per-key rows:\n$winLines")
  }

  test("q175: tertile cutoffs broadcast back and no window touches doc_id " +
    "(cuts come from the value histogram, never a global per-doc rank)") {
    val p = plan("q175_ref_perplexity")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    val winLines = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!winLines.contains("doc_id"),
      s"window runs over per-doc rows:\n$winLines")
  }

  test("1-row scalar joins are explicitly broadcast-hinted, never left " +
    "to AQE (no CartesianProduct in the pre-adaptive plan)") {
    // the discipline: every crossJoin against a 1-row aggregate (corpus
    // size, totals, recall denominators) carries an explicit
    // broadcast(...) hint. AQE usually rescues an unhinted one at
    // runtime, but the INITIAL plan then contains a CartesianProduct —
    // which is exactly what this sweep detects. sparkPlan (not
    // executedPlan) is deliberate: it is the pre-AQE physical plan.
    Seq("q75_tfidf", "q34_roc_points", "q124_lsh_recall", "q126_simhash_recall",
      "q161_quantile_norm", "q174_quality_model", "q28_fill_to_k").foreach { q =>
      val p = SparkEntry.queries(q)(spark, dir).queryExecution.sparkPlan.toString()
      assert(!p.contains("CartesianProduct"),
        s"$q plans an unhinted scalar join:\n${p.take(2000)}")
    }
  }

  test("q195: the pack ordinal window is salt-block partitioned " +
    "(no length class becomes one sort partition)") {
    val p = plan("q195_bpe_pack")
    val winLines = p.linesIterator.filter(_.contains("windowspecdefinition"))
      .mkString("\n")
    assert(winLines.contains("block"),
      s"pack window not partitioned by salt block:\n$winLines")
  }

  test("q176: substring-span dedup joins on the gram key, never all-pairs") {
    val p = plan("q176_substr_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"all-pairs join:\n${p.take(2000)}")
  }

  test("a repeated lexical-index search scans the cached snapshot, not " +
       "the parquet store; after an append it reads the new files") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import spark.implicits._
    object H extends AdaptiveSparkPlanHelper
    val path = s"/tmp/graft_test_lexplan_${ProcessHandle.current().pid()}"
    val q = Seq((100L, "alpha"), (101L, "gamma beta")).toDF("doc_id", "text")
    def search(): SparkPlan = {
      val df: DataFrame = graft.llm.Retrieval.searchLexIndex(spark, path, q,
        "doc_id", "text", dfCeilingShare = 1)
      df.collect()
      df.queryExecution.executedPlan
    }
    // every data file a plan reads, through the cached relations too
    def filesRead(p: SparkPlan): Set[String] = H.collect(p) {
      case f: FileSourceScanExec =>
        f.relation.location.inputFiles.map(new org.apache.hadoop.fs.Path(_).getName).toSet
      case m: InMemoryTableScanExec => filesRead(m.relation.cachedPlan)
    }.flatten.toSet
    def stored(): Set[String] = Seq("postings", "doclen").flatMap { t =>
      new java.io.File(s"$path/$t").listFiles().map(_.getName)
        .filter(n => n.endsWith(".parquet"))
    }.toSet
    graft.llm.Retrieval.buildLexIndex(Seq((1L, "alpha beta"),
      (2L, "gamma delta"), (3L, "alpha gamma")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    search()
    val p = search()
    val storeScans = H.collect(p) {
      case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(r => r.toString.contains("/postings") || r.toString.contains("/doclen")) => f
    }
    assert(storeScans.isEmpty, s"repeated search scans the store:\n$p")
    assert(H.collect(p) { case m: InMemoryTableScanExec => m }.nonEmpty,
      s"repeated search does not scan the cached snapshot:\n$p")
    assert(filesRead(p) == stored())
    graft.llm.Retrieval.appendToLexIndex(spark, path,
      Seq((1L, "delta zeta"), (4L, "beta zeta")).toDF("doc_id", "text"),
      "doc_id", "text")
    val before = filesRead(p)
    val after = filesRead(search())
    assert(after == stored() && after != before,
      s"after the append the snapshot reads $after, the store holds ${stored()}")
  }
}
