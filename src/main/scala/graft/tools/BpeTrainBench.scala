package graft.tools

import graft.Sessions
import graft.llm.Bpe
import org.apache.spark.sql.functions._

/** Production-vocabulary BPE training benchmark: synthesizes a
  * deterministic large-vocabulary corpus (the `documents` test table
  * holds only 31 distinct words — useless for trainer throughput) and
  * times the hybrid trainer at a real tokenizer-training
  * configuration (32k merges), plus the distributed fallback loop at
  * a small merge count for the per-merge cost comparison that
  * motivates the hybrid design.
  *
  * Corpus shape: `nWords` distinct words (seeded Random, lengths
  * 4–14 over a–z so the trainer sees realistic prefix/suffix
  * sharing), Zipf-ish frequencies `min(cap, nWords/(rank+1))`. Word
  * frequency is realized by `array_repeat` on the EXECUTORS, so the
  * driver only holds the word list and the corpus pass is a genuine
  * distributed scan.
  *
  * Usage: runMain graft.tools.BpeTrainBench [nWords] [nMerges]
  */
object BpeTrainBench {
  def main(args: Array[String]): Unit = {
    val nWords = args.headOption.map(_.toInt).getOrElse(200000)
    val nMerges = args.drop(1).headOption.map(_.toInt).getOrElse(32768)
    val spark = Sessions.tool("graft-bpe-bench")
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
    println(s"corpus: ${docs.count()} docs, $nWords distinct words")

    // hybrid (in-memory) path at the production merge count
    val t0 = System.nanoTime()
    val (rules, wordsOut) = Bpe.trainShared(docs, "text", nMerges)
    val nRules = rules.count()
    val nVocabRows = wordsOut.count()
    val hybridSec = (System.nanoTime() - t0) / 1e9
    println(f"hybrid: $nRules rules in $hybridSec%.1f s " +
      f"(${nRules / hybridSec}%.0f merges/s), $nVocabRows vocab rows")

    // end-to-end production flow (round-10 gate): train the 32k vocab
    // on synthetic ∪ sf0.1 documents (so the table's words are
    // in-vocabulary, as they would be when training on the corpus
    // being tokenized), then tokenize the sf0.1 table under it and
    // report token economics — the SCALE.md "32k end-to-end" row
    val sfDir = "/root/testdata/sf0.1"
    if (new java.io.File(s"$sfDir/documents.parquet").exists()) {
      val sfDocs = graft.sources.Tables.load(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val t2 = System.nanoTime()
      val (_, vocab) = Bpe.trainShared(
        docs.unionByName(sfDocs.select(col("text"))), "text", nMerges)
      val trainSec = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      val a = Bpe.tokenCountsWith(sfDocs, "doc_id", "text", vocab)
        .agg(count(lit(1)).as("docs"), sum("n_words").as("w"),
          sum("n_chars").as("c"), sum("n_bpe").as("b"), sum("n_oov").as("o"))
        .head()
      val tokSec = (System.nanoTime() - t3) / 1e9
      println(f"tokenize sf0.1 @$nMerges merges: ${a.getLong(0)} docs, " +
        f"${a.getLong(1)} words, ${a.getLong(2)} chars -> ${a.getLong(3)} " +
        f"tokens (compression ${a.getLong(2).toDouble / a.getLong(3)}%.3f, " +
        f"oov ${a.getLong(4)}) train=$trainSec%.1f s tokenize=$tokSec%.1f s")
    }

    // ENCODE at the production vocab (round-11): a disjoint corpus of
    // nWords/2 words the training never saw, greedily segmented under
    // the 32k merge table — measures the broadcast rank-map encode
    // over a genuinely vocabulary-sized distinct-word frame (the
    // tokenizer SERVE face at production scale)
    val seen2 = scala.collection.mutable.HashSet.empty[String]
    val rng2 = new scala.util.Random(7)
    while (seen2.size < nWords / 2) {
      val len = 4 + rng2.nextInt(11)
      val w = Array.fill(len)(('a' + rng2.nextInt(26)).toChar).mkString
      if (!seen.contains(w)) seen2 += w
    }
    val scoreDocs = seen2.toSeq.sorted.zipWithIndex
      .map { case (w, i) => (i.toLong % 1000L, w) }
      .toDF("doc_id", "word")
      .repartition(cpus * 2)
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", collect_list(col("word"))).as("text"))
      .localCheckpoint()
    val t4 = System.nanoTime()
    val enc = Bpe.encodeTokenCountsWith(scoreDocs, "doc_id", "text",
        rules, wordsOut)
      .agg(sum("n_words").as("w"), sum("n_chars").as("c"),
        sum("n_bpe").as("b"), sum("n_oov").as("o"))
      .head()
    val encSec = (System.nanoTime() - t4) / 1e9
    println(f"encode ${enc.getLong(0)} UNSEEN words @$nRules merges: " +
      f"${enc.getLong(1)} chars -> ${enc.getLong(2)} tokens " +
      f"(compression ${enc.getLong(1).toDouble / enc.getLong(2)}%.3f, " +
      f"oov ${enc.getLong(3)}) in $encSec%.1f s " +
      f"(${enc.getLong(0) / encSec}%.0f words/s)")

    // distributed fallback at a small count → per-merge job cost
    val distMerges = 64
    val t1 = System.nanoTime()
    val nDist = Bpe.learnMerges(docs, "text", distMerges,
      maxDriverWords = 0).count()
    val distSec = (System.nanoTime() - t1) / 1e9
    val perMerge = distSec / math.max(1L, nDist)
    println(f"distributed: $nDist rules in $distSec%.1f s " +
      f"($perMerge%.2f s/merge -> ${perMerge * nMerges / 60}%.0f min " +
      f"extrapolated for $nMerges merges)")
    spark.stop()
  }
}
