package graft.tools

import graft.Sessions
import graft.llm.{Bpe, Unigram, WordPiece}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OPERATOR-level plan capture for the tokenizer ids assemblies.
  *
  * The q202/q220/q228/q234/q243 queries localCheckpoint their encode
  * chain (the q169 double-execution lesson), so `Profile ... explain`
  * shows only the post-checkpoint scan — the per-doc assembly
  * projection round 14 optimized is invisible there. This tool
  * explains the encode OPERATOR frames directly (same fixtures as
  * TokenizerQueries: the doc_id%4=0 training slice, 8 merges), which is how
  * the committed plans/r14 "_op_before"/"_op_after" pairs were
  * produced (before = this tool run against the pre-change operator
  * code via `git stash`).
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

    val (bpeRules, bpeWords) = Bpe.trainShared(train, "text", 8)
    val (wpRules, wpWords) = WordPiece.trainShared(train, "text", 8)
    val uniModel = Unigram.train(train, "text", seedMulti = 64,
      keepMulti = 8, emIters = 2)

    show("bpe_encode_ids", Bpe.encodeIds(eval, "doc_id", "text",
      bpeRules, bpeWords))
    show("wordpiece_encode_ids", WordPiece.encodeIds(eval, "doc_id",
      "text", wpRules, wpWords))
    show("unigram_encode_ids", Unigram.encodeIds(eval, "doc_id",
      "text", uniModel))
    spark.stop()
  }
}
