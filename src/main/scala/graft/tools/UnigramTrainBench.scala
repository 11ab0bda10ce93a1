package graft.tools

import graft.Sessions
import graft.llm.Unigram
import org.apache.spark.sql.functions._

/** Production-vocabulary Unigram-LM training benchmark — the
  * [[BpeTrainBench]] analogue for the third tokenizer family. The
  * `documents` test table holds only 31 distinct words, so the EM has
  * only ever run at fixture vocab sizes; this bounds the lattice-EM
  * round cost, the broadcast model size, the Viterbi serve rate, and
  * the SentencePiece artifact roundtrip at a REAL configuration
  * (200k distinct training words, 64k seed candidates pruned to a
  * 32k-multi vocabulary, production piece length 8).
  *
  * Corpus shape: identical to [[BpeTrainBench]] — `nWords` distinct
  * seeded-random words (lengths 4–14 over a–z, so candidates share
  * prefixes/suffixes realistically), Zipf-ish frequencies realized by
  * `array_repeat` on the executors; the driver holds only the word
  * list.
  *
  * What each phase exercises at scale:
  *  - SEED: the distributed overlapping-substring count
  *    (~len·maxPieceLen candidate rows per distinct word) and the
  *    `orderBy.limit` TakeOrdered that keeps the top `seedMulti`
  *    multi-char candidates without ever collecting the candidate set;
  *  - EM ROUND: one `mapPartitions` forward–backward pass over the
  *    distinct words with the model broadcast (the round cost is the
  *    emIters=2 − emIters=1 delta, isolating it from the shared
  *    seed/prune work), plus the vocabulary-bounded integer
  *    aggregation and the driver-side BigInt renormalize;
  *  - SERVE: Viterbi over a DISJOINT unseen-word corpus under the
  *    broadcast pruned model (the distinct-word encode face);
  *  - ARTIFACT: the X146 SentencePiece export→import roundtrip at a
  *    32k-piece vocabulary (2·|vocab|+1 lines through disk).
  *
  * Usage: runMain graft.tools.UnigramTrainBench
  *          [nWords] [seedMulti] [keepMulti] [maxPieceLen]
  */
object UnigramTrainBench {
  def main(args: Array[String]): Unit = {
    val nWords = args.headOption.map(_.toInt).getOrElse(200000)
    val seedMulti = args.lift(1).map(_.toInt).getOrElse(65536)
    val keepMulti = args.lift(2).map(_.toInt).getOrElse(32768)
    val maxPieceLen = args.lift(3).map(_.toInt).getOrElse(8)
    val spark = Sessions.tool("graft-unigram-bench")
    val cpus = Sessions.defaultCpus
    import spark.implicits._

    val rng = new scala.util.Random(42)
    val seen = scala.collection.mutable.HashSet.empty[String]
    while (seen.size < nWords) {
      val len = 4 + rng.nextInt(11)
      seen += Array.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
    }
    val words = seen.toSeq.sorted.zipWithIndex.map { case (w, i) =>
      (w, math.max(1L, math.min(10000L, nWords.toLong / (i + 1))))
    }
    val docs = words.toDF("word", "freq")
      .repartition(cpus * 2)
      .select(array_join(array_repeat(col("word"),
        col("freq").cast("int")), " ").as("text"))
      .localCheckpoint()
    println(s"corpus: ${docs.count()} docs, $nWords distinct words, " +
      s"seedMulti=$seedMulti keepMulti=$keepMulti maxPieceLen=$maxPieceLen")

    // seed alone: substring enumeration + TakeOrdered
    val t0 = System.nanoTime()
    val nSeed = Unigram.seedModel(docs, "text", seedMulti, maxPieceLen)
      .count()
    val seedSec = (System.nanoTime() - t0) / 1e9
    println(f"seed: $nSeed pieces in $seedSec%.1f s")

    // one-round vs two-round train: the delta is ONE EM round
    val t1 = System.nanoTime()
    val m1 = Unigram.train(docs, "text", seedMulti, keepMulti,
      emIters = 1, maxPieceLen = maxPieceLen)
    val n1 = m1.count()
    val train1Sec = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    val model = Unigram.train(docs, "text", seedMulti, keepMulti,
      emIters = 2, maxPieceLen = maxPieceLen)
    val rows = model.select(col("piece"), col("q"))
      .as[(String, Long)].collect()
    val train2Sec = (System.nanoTime() - t2) / 1e9
    val bcBytes = rows.iterator
      .map(r => r._1.getBytes("UTF-8").length + 8L).sum
    println(f"train: emIters=1 -> $n1 pieces in $train1Sec%.1f s; " +
      f"emIters=2 -> ${rows.length} pieces in $train2Sec%.1f s " +
      f"(EM round ≈ ${train2Sec - train1Sec}%.1f s); " +
      f"broadcast model ≈ ${bcBytes / 1024}%d KiB")

    // serve: Viterbi over a DISJOINT unseen-word corpus
    val seen2 = scala.collection.mutable.HashSet.empty[String]
    val rng2 = new scala.util.Random(7)
    while (seen2.size < nWords / 2) {
      val len = 4 + rng2.nextInt(11)
      val w = Array.fill(len)(('a' + rng2.nextInt(26)).toChar).mkString
      if (!seen.contains(w)) seen2 += w
    }
    val evalDocs = seen2.toSeq.sorted.zipWithIndex
      .map { case (w, i) => (i.toLong % 1000L, w) }
      .toDF("doc_id", "word")
      .repartition(cpus * 2)
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", collect_list(col("word"))).as("text"))
      .localCheckpoint()
    val t3 = System.nanoTime()
    val seg = Unigram.tokenCounts(evalDocs, "doc_id", "text", model,
        maxPieceLen = maxPieceLen)
      .agg(sum("n_words").as("w"), sum("n_pieces").as("p"),
        sum("n_unk").as("u"))
      .head()
    val serveSec = (System.nanoTime() - t3) / 1e9
    println(f"serve ${seg.getLong(0)} UNSEEN words @${rows.length} " +
      f"pieces: ${seg.getLong(1)} pieces, unk ${seg.getLong(2)} in " +
      f"$serveSec%.1f s (${seg.getLong(0) / serveSec}%.0f words/s)")

    // the X146 SentencePiece artifact at production vocab size
    val path = s"/tmp/graft_unibench_sp_${ProcessHandle.current().pid()}"
    val t4 = System.nanoTime()
    Unigram.exportVocabSp(model, path)
    val nBack = Unigram.importVocabSp(spark, path).count()
    val spSec = (System.nanoTime() - t4) / 1e9
    println(f"sp artifact: ${rows.length} pieces -> ${2 * nBack + 1} " +
      f"lines -> $nBack imported in $spSec%.1f s " +
      f"(roundtrip ${if (nBack == rows.length) "EXACT" else "LOSSY!"})")
    spark.stop()
  }
}
