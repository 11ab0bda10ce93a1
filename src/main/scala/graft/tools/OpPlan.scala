package graft.tools

import graft.Sessions
import graft.llm.{Bpe, Unigram, WordPiece}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OPERATOR-level plan capture for the tokenizer serve paths.
  *
  * The ids queries (q202/q220/q228/q234/q243) localCheckpoint their
  * encode chain (the q169 double-execution lesson), so
  * `Profile ... explain` shows only the post-checkpoint scan. This
  * tool explains the serve OPERATOR frames directly — the counts,
  * `encodeIds` and `decodeIds` frames of char BPE, byte BPE,
  * WordPiece and Unigram — over the TokenizerQueries fixtures' shape
  * (the doc_id%4=0 training slice, 8 merges, the complement as eval
  * corpus). Each decode frame reads a localCheckpointed encode, like
  * the queries do. Run it on two checkouts and diff the outputs (after
  * masking expression ids `#n`) for a before/after plan pair.
  *
  * Usage: runMain graft.tools.OpPlan <sfDir>
  */
object OpPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.tool("graft-opplan")

    val docs = Tables.load(spark, sfDir, "documents")
    val train = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val eval = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)

    def show(name: String, df: DataFrame): Unit = {
      println(s"===== OPPLAN $name =====")
      df.explain("formatted")
    }

    def family(name: String, counts: DataFrame, ids: DataFrame,
               decode: DataFrame => DataFrame): Unit = {
      show(s"${name}_counts", counts)
      show(s"${name}_encode_ids", ids)
      show(s"${name}_decode_ids", decode(ids.localCheckpoint()))
    }

    val (bpeRules, bpeWords) = Bpe.trainShared(train, "text", 8)
    family("bpe",
      Bpe.encodeTokenCountsWith(eval, "doc_id", "text", bpeRules, bpeWords),
      Bpe.encodeIds(eval, "doc_id", "text", bpeRules, bpeWords),
      Bpe.decodeIds(_, "doc_id", "ids", bpeRules, bpeWords))

    val (byteRules, byteWords) =
      Bpe.trainShared(train, "text", 8, alphabet = Bpe.Bytes)
    family("bpe_bytes",
      Bpe.encodeTokenCountsWith(eval, "doc_id", "text", byteRules,
        byteWords, Bpe.Bytes),
      Bpe.encodeIds(eval, "doc_id", "text", byteRules, byteWords,
        Bpe.Bytes),
      Bpe.decodeIds(_, "doc_id", "ids", byteRules, byteWords, Bpe.Bytes))

    val (wpRules, wpWords) = WordPiece.trainShared(train, "text", 8)
    family("wordpiece",
      WordPiece.tokenCounts(eval, "doc_id", "text", wpRules, wpWords),
      WordPiece.encodeIds(eval, "doc_id", "text", wpRules, wpWords),
      WordPiece.decodeIds(_, "doc_id", "ids", wpRules, wpWords))

    val uniModel = Unigram.train(train, "text", seedMulti = 64,
      keepMulti = 8, emIters = 2)
    family("unigram",
      Unigram.tokenCounts(eval, "doc_id", "text", uniModel),
      Unigram.encodeIds(eval, "doc_id", "text", uniModel),
      Unigram.decodeIds(_, "doc_id", "ids", uniModel))
    spark.stop()
  }
}
