package graft.streaming

import graft.SparkSpec

class LexIndexStreamSpec extends SparkSpec {
  import spark.implicits._

  test("streaming ingest equals batch append, and duplicate batch " +
       "delivery leaves the serve output unchanged (latest-wins)") {
    val base = Seq((1L, "alpha beta pad1"), (2L, "gamma delta pad2"),
      (3L, "alpha gamma pad3")).toDF("doc_id", "text")
    val root =
      s"/tmp/graft_test_lexstream_${ProcessHandle.current().pid()}"
    val batch = Seq((1L, "epsilon beta pad1"), (9L, "alpha zeta pad9"))
      .toDF("doc_id", "text")
    val q = Seq((100L, "alpha"), (101L, "epsilon"))
      .toDF("doc_id", "text")
    def serve(p: String) =
      graft.llm.Retrieval.searchLexIndex(spark, p, q, "doc_id",
          "text", k = 10, dfCeilingShare = 2)
        .as[(Long, Int, Long, Long)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    // batch-append path
    graft.llm.Retrieval.buildLexIndex(base, "doc_id", "text",
      s"$root/ib")
    graft.llm.Retrieval.appendToLexIndex(spark, s"$root/ib", batch,
      "doc_id", "text")
    val batchServe = serve(s"$root/ib")
    assert(batchServe.nonEmpty)
    // streaming path over the same wave file
    graft.llm.Retrieval.buildLexIndex(base, "doc_id", "text",
      s"$root/is")
    batch.coalesce(1).write.mode("append").parquet(s"$root/waves")
    val n = LexIndexStream.ingest(spark, s"$root/waves", batch.schema,
      "doc_id", "text", s"$root/is", s"$root/ckpt")
    assert(n >= 1, s"no micro-batches processed")
    assert(serve(s"$root/is") == batchServe,
      "streaming ingest must land in the batch-append state")
    // duplicate delivery: the SAME batch re-appends byte-identical
    // postings at a newer version — latest-wins serves the same rows
    graft.llm.Retrieval.appendToLexIndex(spark, s"$root/is", batch,
      "doc_id", "text")
    assert(serve(s"$root/is") == batchServe,
      "duplicate delivery must be serve-invisible")
  }

  test("streamed ingest mints the same consecutive versions as the " +
       "per-batch max-read append path") {
    // round-14: ingest() reads currentLexVersion ONCE and mints
    // base+1, base+2, … itself — the stored versions must be exactly
    // what per-batch appendToLexIndex (max-scan per call) produced
    val base = Seq((1L, "alpha beta"), (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val root =
      s"/tmp/graft_test_lexver_${ProcessHandle.current().pid()}"
    graft.llm.Retrieval.buildLexIndex(base, "doc_id", "text",
      s"$root/idx")
    // two waves → two micro-batches (maxFilesPerTrigger = 1)
    Seq((3L, "alpha zeta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$root/waves")
    Seq((4L, "beta eta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$root/waves")
    val n = LexIndexStream.ingest(spark, s"$root/waves",
      base.schema, "doc_id", "text", s"$root/idx", s"$root/ckpt")
    assert(n == 2, s"expected 2 micro-batches, got $n")
    val vers = spark.read.parquet(s"$root/idx/doclen")
      .select("ver").distinct().as[Long].collect().sorted.toSeq
    assert(vers == Seq(0L, 1L, 2L), s"stored versions $vers")
    assert(graft.llm.Retrieval.currentLexVersion(spark, s"$root/idx") == 2L)
  }

  test("streamed ingest into an index built from an empty frame " +
       "starts at version 1 and serves the wave") {
    val root =
      s"/tmp/graft_test_lexstream_empty_${ProcessHandle.current().pid()}"
    val wave = Seq((1L, "alpha beta"), (2L, "gamma alpha"),
      (3L, "delta pad")).toDF("doc_id", "text")
    graft.llm.Retrieval.buildLexIndex(wave.limit(0), "doc_id", "text",
      s"$root/idx")
    wave.coalesce(1).write.mode("append").parquet(s"$root/waves")
    val n = LexIndexStream.ingest(spark, s"$root/waves", wave.schema,
      "doc_id", "text", s"$root/idx", s"$root/ckpt")
    assert(n == 1, s"expected 1 micro-batch, got $n")
    assert(graft.llm.Retrieval.currentLexVersion(spark, s"$root/idx") == 1L)
    val q = Seq((100L, "alpha delta")).toDF("doc_id", "text")
    val served = graft.llm.Retrieval.searchLexIndex(spark, s"$root/idx",
        q, "doc_id", "text", dfCeilingShare = 1)
      .as[(Long, Int, Long, Long)].collect().toSeq
    val direct = graft.llm.Retrieval.bm25TopK(wave, "doc_id", "text", q,
        "doc_id", "text", dfCeilingShare = 1)
      .as[(Long, Int, Long, Long)].collect().toSeq
    assert(served.nonEmpty && served.sortBy(_._2) == direct.sortBy(_._2))
  }
}
