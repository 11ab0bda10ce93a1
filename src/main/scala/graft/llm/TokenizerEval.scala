package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-family tokenizer SELECTION panel — the comparison a corpus
  * owner actually makes before committing a pretraining run: with all
  * three production families trained on the same corpus slice
  * ([[Bpe]] byte-level, [[WordPiece]], [[Unigram]]), which one
  * segments this corpus best? The three metrics that decide it:
  *
  *  - FERTILITY (pieces per word): tokens the model must attend per
  *    word — training/inference cost per unit of text;
  *  - BYTES PER PIECE: how much raw text one token carries —
  *    context-window efficiency (byte-BPE's headline number);
  *  - UNK SHARE: words the closed vocabulary destroys outright
  *    (byte-BPE is structurally 0; WordPiece/Unigram pay for their
  *    smaller effective alphabets here).
  *
  * All ratios are integer floor divisions over exact integer sums
  * (micro / ppm units), so the panel row is engine-exact and the
  * whole three-family comparison sits behind ONE DuckDB-oracled
  * query (q242) — each family's per-document economics is its
  * already-oracled serve chain (q219/q225/q232 shapes).
  */
object TokenizerEval {

  /** One corpus-level row per family from per-document serve
    * economics: `(family, n_docs, n_words, n_pieces, n_unk, n_bytes,
    * fert_micro, bpp_micro, unk_ppm)` with
    * `fert_micro = (1e6·n_pieces) DIV n_words`,
    * `bpp_micro = (1e6·n_bytes) DIV n_pieces`,
    * `unk_ppm = (1e6·n_unk) DIV n_words`.
    *
    * Each input frame carries per-doc `(doc_id, n_words, n_pieces,
    * n_unk, n_bytes)` — the [[Bpe.encodeTokenCountsWith]] (over
    * [[Bpe.Bytes]]) / [[WordPiece.tokenCounts]] / [[Unigram.tokenCounts]]
    * shapes
    * (bytes joined on where a family does not carry them).
    *
    * Scale: the inputs are the families' distributed per-doc count
    * frames; the panel adds one map-side-combinable aggregation per
    * family and unions family-count rows — nothing here exceeds one
    * row per family after the input scans.
    */
  def panel(families: Seq[(String, DataFrame)]): DataFrame = {
    require(families.nonEmpty, "panel needs at least one family")
    families.map { case (fam, df) =>
      df.agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"),
          sum(col("n_unk")).as("n_unk"),
          sum(col("n_bytes")).as("n_bytes"))
        .select(lit(fam).as("family"), col("n_docs"), col("n_words"),
          col("n_pieces"), col("n_unk"), col("n_bytes"))
    }.reduce(_.unionByName(_))
      .withColumn("fert_micro",
        expr("CAST((1000000 * n_pieces) DIV n_words AS BIGINT)"))
      .withColumn("bpp_micro",
        expr("CAST((1000000 * n_bytes) DIV n_pieces AS BIGINT)"))
      .withColumn("unk_ppm",
        expr("CAST((1000000 * n_unk) DIV n_words AS BIGINT)"))
  }
}
