package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  test("bm25TopK: rare terms outscore common ones, length " +
       "normalization favors shorter docs, the df ceiling drops " +
       "stopwords, and score_micro replays the integerized formula") {
    // 4 docs; 'rare' in d1 only, 'mid' in d1 d2, 'stop' in all four
    val docs = Seq(
      (1L, "rare mid stop pad"),
      (2L, "mid stop"),
      (3L, "stop x y z w v u t"),
      (4L, "stop")).toDF("doc_id", "text")
    val queries = Seq((100L, "rare mid stop nosuchterm"))
      .toDF("doc_id", "text")
    val out = Retrieval.bm25TopK(docs, "doc_id", "text",
        queries, "doc_id", "text", k = 10, dfCeilingShare = 2)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    // 'stop' (df 4 > 4/2) is dropped; 'nosuchterm' matches nothing;
    // candidates are exactly the docs carrying 'rare' or 'mid'
    assert(out.map(_._3).toSet == Set(1L, 2L), s"got ${out.toSeq}")
    // d1 carries rare+mid, d2 only mid → d1 ranks first
    assert(out.map(r => (r._2, r._3)).toSeq == Seq((1, 1L), (2, 2L)))
    // independent replay of the round-15 engine-robust integer grid:
    // idf_micro (the only transcendental) and w_nano (exact-integer
    // IEEE chain) quantized separately, combined in integer
    // arithmetic — ≈ round(idf·tfs·1e4), the same 1e-4 grid
    val n = 4L
    val s = 4L + 2 + 8 + 1 // Σ dl
    def c(df: Long, tf: Long, dl: Long): Long = {
      val idfMicro =
        math.round(math.log((2L * (n + 1)).toDouble /
          (2 * df + 1).toDouble) * 1e6)
      val wNano = math.round((22L * tf * s).toDouble /
        (10L * tf * s + 3 * s + 9 * dl * n).toDouble * 1e9)
      (2 * idfMicro * wNano + 100000000000L) / 200000000000L
    }
    val exp1 = c(1, 1, 4) + c(2, 1, 4) // d1: rare + mid
    val exp2 = c(2, 1, 2)              // d2: mid
    val got = out.map(r => r._3 -> r._4).toMap
    assert(got(1L) == exp1, s"d1: got ${got(1L)}, expected $exp1")
    assert(got(2L) == exp2, s"d2: got ${got(2L)}, expected $exp2")
    // length normalization: same tf, same term, shorter doc wins
    val q2 = Seq((101L, "mid")).toDF("doc_id", "text")
    val ln = Retrieval.bm25TopK(docs, "doc_id", "text", q2,
        "doc_id", "text", k = 10, dfCeilingShare = 2)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    assert(ln.map(_._3).toSeq == Seq(2L, 1L),
      s"shorter d2 must outrank d1 on 'mid': ${ln.toSeq}")
  }

  test("rrfFuse: exact integer 10^12 DIV (k0+rank) contributions, " +
       "docs absent from a run contribute nothing, ties break on " +
       "doc_id, topK cuts") {
    val runA = Seq((1L, 10L, 1), (1L, 20L, 2))
      .toDF("query_id", "doc_id", "rank")
    val runB = Seq((1L, 20L, 1), (1L, 30L, 2))
      .toDF("query_id", "doc_id", "rank")
    val out = Retrieval.rrfFuse(Seq(runA, runB), k0 = 60, topK = 10)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    val r61 = 1000000000000L / 61 // floor, exact
    val r62 = 1000000000000L / 62
    // d20 fused from both runs; d10/d30 single-run
    assert(out.map(r => (r._2, r._3, r._4)).toSeq == Seq(
      (1, 20L, r61 + r62), (2, 10L, r61), (3, 30L, r62)),
      s"got ${out.toSeq}")
    // a pure tie (same ranks in symmetric runs) orders by doc_id
    val tieA = Seq((7L, 5L, 1), (7L, 3L, 2)).toDF("query_id", "doc_id", "rank")
    val tieB = Seq((7L, 3L, 1), (7L, 5L, 2)).toDF("query_id", "doc_id", "rank")
    val tied = Retrieval.rrfFuse(Seq(tieA, tieB), k0 = 60, topK = 1)
      .as[(Long, Int, Long, Long)].collect()
    assert(tied.toSeq == Seq((7L, 1, 3L, r61 + r62)), s"got ${tied.toSeq}")
    // topK bounds the output per query
    val many = Seq.tabulate(8)(i => (9L, i.toLong, i + 1))
      .toDF("query_id", "doc_id", "rank")
    val cut = Retrieval.rrfFuse(Seq(many), k0 = 60, topK = 3)
      .as[(Long, Int, Long, Long)].collect()
    assert(cut.length == 3 && cut.map(_._3).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("prfExpandTerms: feedback terms weighted by exact tf·idf_micro, " +
       "original query terms and ceiling stopwords excluded, " +
       "deterministic (weight desc, term) top-m") {
    // 6 docs; 'alpha' (df 2) retrieves docs 1-2 as feedback; their
    // terms: beta (tf 3, df 3), x1/x2 (tf 1, df 1); 'stop' (df 6) is
    // ceiling-dropped at share 2 (12 > 6); 'alpha' self-excluded
    val docs = Seq(
      (1L, "alpha beta x1 stop"),
      (2L, "alpha beta beta x2 stop"),
      (3L, "beta gamma x3 stop"),
      (4L, "gamma delta x4 stop"),
      (5L, "delta x5 stop"),
      (6L, "epsilon x6 stop")).toDF("doc_id", "text")
    val q = Seq((100L, "alpha")).toDF("doc_id", "text")
    val terms = Retrieval.prfExpandTerms(docs, "doc_id", "text", q,
        "doc_id", "text", kFeedback = 3, mExpand = 5,
        dfCeilingShare = 2)
      .as[(Long, Int, String, Long)].collect().sortBy(_._2)
    // idf_micro: df 3 → round(ln(2)·1e6) = 693147 → beta w = 3·693147;
    // df 1 → round(ln(14/3)·1e6) = 1540445; x1/x2 tie → term order
    assert(terms.toSeq == Seq(
      (100L, 1, "beta", 2079441L),
      (100L, 2, "x1", 1540445L),
      (100L, 3, "x2", 1540445L)), s"got ${terms.toSeq}")
  }

  test("prfRerank retrieves the vocabulary-gap document (matches only " +
       "expansion terms) that plain BM25 cannot see") {
    val docs = Seq(
      (1L, "alpha beta x1 stop"),
      (2L, "alpha beta beta x2 stop"),
      (3L, "beta gamma x3 stop"),
      (4L, "gamma delta x4 stop"),
      (5L, "delta x5 stop"),
      (6L, "epsilon x6 stop")).toDF("doc_id", "text")
    val q = Seq((100L, "alpha")).toDF("doc_id", "text")
    val plain = Retrieval.bm25TopK(docs, "doc_id", "text", q,
        "doc_id", "text", k = 10, dfCeilingShare = 2)
      .as[(Long, Int, Long, Long)].collect().map(_._3).toSet
    assert(plain == Set(1L, 2L), s"got $plain")
    val rr = Retrieval.prfRerank(docs, "doc_id", "text", q,
        "doc_id", "text", kFeedback = 3, mExpand = 5, origPct = 60,
        k = 10, dfCeilingShare = 2)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    val got = rr.map(_._3).toSet
    // doc 3 carries 'beta' (expansion) but never 'alpha' — PRF
    // surfaces it; docs with original matches keep 60% of their score
    // and still outrank it
    assert(got.contains(3L), s"vocabulary-gap doc missing: ${rr.toSeq}")
    assert(rr.take(2).map(_._3).toSet == Set(1L, 2L),
      s"original matches must stay on top: ${rr.toSeq}")
    // deterministic: identical re-run
    val rr2 = Retrieval.prfRerank(docs, "doc_id", "text", q,
        "doc_id", "text", kFeedback = 3, mExpand = 5, origPct = 60,
        k = 10, dfCeilingShare = 2)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    assert(rr.toSeq == rr2.toSeq)
  }

  test("lexical index: latest-wins re-ingest replaces postings " +
       "(dropped terms stop matching), appended docs retrieve, and " +
       "serving from the store equals direct BM25 over the logical " +
       "corpus") {
    val base = Seq(
      (1L, "alpha beta pad1"),
      (2L, "gamma delta pad2"),
      (3L, "alpha gamma pad3"),
      (4L, "delta beta pad4")).toDF("doc_id", "text")
    val path = s"/tmp/graft_test_lexidx_${ProcessHandle.current().pid()}"
    Retrieval.buildLexIndex(base, "doc_id", "text", path)
    // re-ingest doc 1 with 'alpha' DROPPED and 'epsilon' added, plus
    // a brand-new doc 9
    val batch = Seq((1L, "epsilon beta pad1"), (9L, "alpha zeta pad9"))
      .toDF("doc_id", "text")
    Retrieval.appendToLexIndex(spark, path, batch, "doc_id", "text")
    val q = Seq((100L, "alpha"), (101L, "epsilon"))
      .toDF("doc_id", "text")
    val served = Retrieval.searchLexIndex(spark, path, q, "doc_id",
        "text", k = 10, dfCeilingShare = 2)
      .as[(Long, Int, Long, Long)].collect()
    val byQ = served.groupBy(_._1)
    // 'alpha' must NOT match replaced doc 1 anymore; must match the
    // untouched doc 3 and the appended doc 9
    assert(byQ(100L).map(_._3).toSet == Set(3L, 9L),
      s"got ${served.toSeq}")
    // 'epsilon' exists only in doc 1's NEW version
    assert(byQ(101L).map(_._3).toSet == Set(1L),
      s"got ${served.toSeq}")
    // engine-vs-engine: the store serve equals direct BM25 over the
    // logical current corpus, row for row
    val logical = Seq(
      (2L, "gamma delta pad2"), (3L, "alpha gamma pad3"),
      (4L, "delta beta pad4"), (1L, "epsilon beta pad1"),
      (9L, "alpha zeta pad9")).toDF("doc_id", "text")
    val direct = Retrieval.bm25TopK(logical, "doc_id", "text", q,
        "doc_id", "text", k = 10, dfCeilingShare = 2)
      .as[(Long, Int, Long, Long)].collect()
    assert(served.sortBy(r => (r._1, r._2)).toSeq ==
      direct.sortBy(r => (r._1, r._2)).toSeq)
  }

  private type Ranked = Seq[(Long, Int, Long, Long)]
  private def sorted(df: org.apache.spark.sql.DataFrame): Ranked =
    df.as[(Long, Int, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
  private def served(path: String,
                     q: org.apache.spark.sql.DataFrame): Ranked =
    sorted(Retrieval.searchLexIndex(spark, path, q, "doc_id", "text",
      k = 10, dfCeilingShare = 2))
  private def direct(docs: Map[Long, String],
                     q: org.apache.spark.sql.DataFrame): Ranked =
    sorted(Retrieval.bm25TopK(docs.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", q, "doc_id", "text", k = 10, dfCeilingShare = 2))

  test("lexical index snapshot: an append, a cache sweep and a build " +
       "overwrite at the same path are each seen by the next search") {
    val path =
      s"/tmp/graft_test_lexsnap_${ProcessHandle.current().pid()}"
    val q = Seq((100L, "alpha"), (101L, "epsilon beta"))
      .toDF("doc_id", "text")
    val base = Map(1L -> "alpha beta pad1", 2L -> "gamma delta pad2",
      3L -> "alpha gamma pad3", 4L -> "delta beta pad4")
    Retrieval.buildLexIndex(base.toSeq.toDF("doc_id", "text"), "doc_id",
      "text", path)
    val first = served(path, q)
    assert(first == direct(base, q))
    // search → append → search returns the new state
    val batch = Map(1L -> "epsilon beta pad1", 9L -> "alpha zeta pad9")
    Retrieval.appendToLexIndex(spark, path,
      batch.toSeq.toDF("doc_id", "text"), "doc_id", "text")
    val appended = served(path, q)
    assert(appended != first, "the append was not seen")
    assert(appended == direct(base ++ batch, q))
    // search → sweep → search: identical rows (the snapshot
    // recomputes from its listed files instead of losing data)
    graft.Sessions.sweep(spark)
    assert(served(path, q) == appended)
    assert(served(path, q) == appended)
    // a build overwrite at the same path replaces every file
    val rebuilt = Map(5L -> "epsilon alpha pad5", 6L -> "beta pad6",
      7L -> "gamma pad7", 8L -> "delta pad8")
    Retrieval.buildLexIndex(rebuilt.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", path)
    assert(served(path, q) == direct(rebuilt, q))
  }

  test("lexical index snapshot: five requests between each of three " +
       "appends each equal bm25TopK over the logical corpus") {
    val path =
      s"/tmp/graft_test_lexreq_${ProcessHandle.current().pid()}"
    var logical = (1L to 8L).map(i => i -> s"w${i % 3} w${i % 5} pad$i").toMap
    Retrieval.buildLexIndex(logical.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", path)
    val requests = Seq("w0", "w1 w2", "w3 w4 nosuch", "w2 w0", "w4")
      .zipWithIndex.map { case (t, i) =>
        Seq((100L + i, t), (200L + i, s"w${i % 5}")).toDF("doc_id", "text")
      }
    (1 to 3).foreach { round =>
      val got = requests.map(served(path, _))
      assert(got.exists(_.nonEmpty), s"round $round matched nothing")
      requests.zip(got).foreach { case (q, g) =>
        assert(g == direct(logical, q),
          s"round $round, request ${q.collect().toSeq}")
      }
      // re-ingest two docs with new text and add two new ones
      val batch = Seq(round.toLong -> s"w4 w4 fresh$round",
        (round + 4).toLong -> s"w1 fresh$round",
        (10L * round + 10) -> s"w0 w3 new$round",
        (10L * round + 11) -> s"w2 new$round").toMap
      Retrieval.appendToLexIndex(spark, path,
        batch.toSeq.toDF("doc_id", "text"), "doc_id", "text")
      logical = logical ++ batch
    }
    requests.foreach(q => assert(served(path, q) == direct(logical, q)))
  }

  test("an index built from an empty frame is version 0, serves " +
       "nothing, and takes a no-version append") {
    val path =
      s"/tmp/graft_test_lexempty_${ProcessHandle.current().pid()}"
    Retrieval.buildLexIndex(Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", path)
    assert(Retrieval.currentLexVersion(spark, path) == 0L)
    val q = Seq((100L, "alpha"), (101L, "zeta")).toDF("doc_id", "text")
    assert(served(path, q).isEmpty)
    val batch = Map(1L -> "alpha beta pad1", 2L -> "gamma pad2",
      3L -> "zeta gamma pad3")
    Retrieval.appendToLexIndex(spark, path,
      batch.toSeq.toDF("doc_id", "text"), "doc_id", "text")
    assert(Retrieval.currentLexVersion(spark, path) == 1L)
    val got = served(path, q)
    assert(got.nonEmpty && got == direct(batch, q), s"got $got")
  }

  test("a second append at a new version compiles no generated class " +
       "and stores the version as before") {
    val path =
      s"/tmp/graft_test_lexver_${ProcessHandle.current().pid()}"
    def batch(i: Int) = Seq((10L * i, s"alpha w$i pad"), (10L * i + 1, s"beta w$i"))
      .toDF("doc_id", "text")
    Retrieval.buildLexIndex(batch(0), "doc_id", "text", path)
    Retrieval.appendToLexIndex(spark, path, batch(1), "doc_id", "text", 7L)
    val log = new graft.Bench.StageLog(spark.sparkContext)
    try {
      log.clear()
      Retrieval.appendToLexIndex(spark, path, batch(2), "doc_id", "text", 8L)
      log.snapshot()
      assert(log.compiles == 0, s"${log.compiles} classes compiled")
    } finally spark.sparkContext.removeSparkListener(log)
    // the version column keeps its type and values
    Seq("postings", "doclen").foreach { t =>
      val stored = spark.read.parquet(s"$path/$t")
      assert(stored.schema("ver").dataType == org.apache.spark.sql.types.LongType)
      assert(stored.select("ver").distinct().as[Long].collect().toSet ==
        Set(0L, 7L, 8L))
    }
    assert(Retrieval.currentLexVersion(spark, path) == 8L)
  }

  test("hybrid fusion surfaces docs that neither retriever alone " +
       "ranks first (the reason RRF exists)") {
    // lexical likes d1 then d3; dense likes d2 then d3 — d3, second
    // everywhere, must fuse ABOVE whichever single-run winner the
    // other run ignored
    val lex = Seq((1L, 1L, 1), (1L, 3L, 2), (1L, 4L, 3))
      .toDF("query_id", "doc_id", "rank")
    val den = Seq((1L, 2L, 1), (1L, 3L, 2), (1L, 5L, 3))
      .toDF("query_id", "doc_id", "rank")
    val fused = Retrieval.rrfFuse(Seq(lex, den), k0 = 60, topK = 5)
      .as[(Long, Int, Long, Long)].collect().sortBy(_._2)
    assert(fused.head._3 == 3L,
      s"consensus d3 must fuse to rank 1: ${fused.toSeq}")
  }
}
