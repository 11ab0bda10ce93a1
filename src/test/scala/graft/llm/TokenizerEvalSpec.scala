package graft.llm

import graft.SparkSpec

class TokenizerEvalSpec extends SparkSpec {
  import spark.implicits._

  test("panel: integer micro/ppm ratios over exact sums, one row per " +
       "family in input order") {
    val f1 = Seq((1L, 2L, 4L, 0L, 10L), (2L, 3L, 5L, 1L, 12L))
      .toDF("doc_id", "n_words", "n_pieces", "n_unk", "n_bytes")
    val f2 = Seq((1L, 2L, 2L, 0L, 10L))
      .toDF("doc_id", "n_words", "n_pieces", "n_unk", "n_bytes")
    val out = TokenizerEval.panel(Seq(("a", f1), ("b", f2)))
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1)
    // family a: docs 2, words 5, pieces 9, unk 1, bytes 22 →
    // fert 9e6 DIV 5 = 1800000; bpp 22e6 DIV 9 = 2444444 (floor);
    // unk_ppm 1e6 DIV 5 = 200000
    assert(out(0) ==
      (("a", 2L, 5L, 9L, 1L, 22L, 1800000L, 2444444L, 200000L)),
      s"got ${out(0)}")
    // family b: the 1:1 segmentation — fertility exactly 1e6, 5 B/pc
    assert(out(1) ==
      (("b", 1L, 2L, 2L, 0L, 10L, 1000000L, 5000000L, 0L)),
      s"got ${out(1)}")
  }

  test("three-family integration on a shared corpus: byte-BPE is " +
       "structurally UNK-free while the closed vocabularies pay on " +
       "unseen characters") {
    val train = Seq((0L, "ab ab ab ab a b")).toDF("doc_id", "text")
    val eval = Seq((1L, "ab aab zé")).toDF("doc_id", "text")
    val (bpeRules, bpeWords) = Bpe.trainShared(train, "text", 4,
      alphabet = Bpe.Bytes)
    val (wpRules, wpWords) = WordPiece.trainShared(train, "text", 4)
    val uniModel = Unigram.train(train, "text", seedMulti = 8,
      keepMulti = 8, emIters = 1)
    val bytes = eval.select($"doc_id",
        org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.split($"text", " ")).as("word"))
      .filter(TokenServe.wordOk)
      .groupBy($"doc_id")
      .agg(org.apache.spark.sql.functions.expr(
        "CAST(SUM(octet_length(word)) AS BIGINT)").as("n_bytes"))
    val b = Bpe.encodeTokenCountsWith(eval, "doc_id", "text", bpeRules,
      bpeWords, Bpe.Bytes)
      .select($"doc_id", $"n_words", $"n_bpe".as("n_pieces"),
        $"n_oov".as("n_unk"), $"n_bytes")
    val w = WordPiece.tokenCounts(eval, "doc_id", "text", wpRules,
        wpWords)
      .join(bytes, Seq("doc_id"))
    val u = Unigram.tokenCounts(eval, "doc_id", "text", uniModel)
      .join(bytes, Seq("doc_id"))
    val rows = TokenizerEval.panel(
        Seq(("bpe_bytes", b), ("wordpiece", w), ("unigram", u)))
      .select("family", "n_words", "unk_ppm")
      .as[(String, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(rows("bpe_bytes")._3 == 0L, s"got ${rows("bpe_bytes")}")
    // 'zé' has characters no closed vocabulary trained on
    assert(rows("wordpiece")._3 > 0L, s"got ${rows("wordpiece")}")
    assert(rows("unigram")._3 > 0L, s"got ${rows("unigram")}")
    // all three saw the same 3-word stream
    assert(rows.values.forall(_._2 == 3L), s"got $rows")
  }
}
