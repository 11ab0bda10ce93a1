package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Every tokenizer's two corpus faces — per-doc counts and flat id
  * streams — run the shared [[TokenServe]] steps over their own
  * segmenter; on the same corpus they must tell the same story.
  */
class TokenServeSpec extends SparkSpec {
  import spark.implicits._

  private def train =
    Seq((1L, "low low low"), (2L, "lower lowest")).toDF("doc_id", "text")

  // 'g', 'z', 'q' and 'é' never occur in training: the closed
  // vocabularies flag those words, byte BPE encodes them
  private def eval = Seq((10L, "low lowlow slow"), (11L, "glow low zq"),
    (12L, "lé")).toDF("doc_id", "text")

  /** One tokenizer: its counts frame (with `n_words`), that frame's
    * piece and unknown columns, its ids frame, its serve face, and
    * whether the eval corpus holds words it cannot name.
    */
  private case class Faces(counts: DataFrame, nPieces: String,
                           nUnk: String, ids: DataFrame,
                           face: TokenServe.Face, closed: Boolean)

  private val tokenizers: Seq[(String, () => Faces)] = Seq(
    "char BPE" -> { () =>
      val (rules, words) = Bpe.trainShared(train, "text", nMerges = 4)
      Faces(Bpe.encodeTokenCountsWith(eval, "doc_id", "text", rules, words),
        "n_bpe", "n_oov",
        Bpe.encodeIds(eval, "doc_id", "text", rules, words),
        Bpe.Chars.face, closed = true)
    },
    "byte BPE" -> { () =>
      val (rules, words) = Bpe.trainShared(train, "text", nMerges = 4,
        alphabet = Bpe.Bytes)
      Faces(Bpe.encodeTokenCountsWith(eval, "doc_id", "text", rules, words,
          Bpe.Bytes), "n_bpe", "n_oov",
        Bpe.encodeIds(eval, "doc_id", "text", rules, words, Bpe.Bytes),
        Bpe.Bytes.face, closed = false)
    },
    "WordPiece" -> { () =>
      val (rules, words) = WordPiece.trainShared(train, "text", 4)
      Faces(WordPiece.tokenCounts(eval, "doc_id", "text", rules, words),
        "n_pieces", "n_unk",
        WordPiece.encodeIds(eval, "doc_id", "text", rules, words),
        WordPiece.face, closed = true)
    },
    "Unigram" -> { () =>
      val model = Unigram.train(train, "text", seedMulti = 8,
        keepMulti = 8, emIters = 1)
      Faces(Unigram.tokenCounts(eval, "doc_id", "text", model),
        "n_pieces", "n_unk",
        Unigram.encodeIds(eval, "doc_id", "text", model),
        Unigram.face, closed = true)
    })

  for ((label, build) <- tokenizers)
    test(s"ids and counts agree — $label") {
      val f = build()
      val counts = f.counts.select("doc_id", "n_words", f.nPieces, f.nUnk)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val ids = f.ids.select("doc_id", f.face.nTok, f.face.nUnk)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(counts.keySet == Set(10L, 11L, 12L) && ids.keySet == counts.keySet)
      counts.foreach { case (d, (nWords, nPieces, nUnk)) =>
        // the id stream is the pieces plus one boundary between words
        // where the family inserts them
        val between = if (f.face.boundary.isDefined) nWords - 1 else 0L
        assert(ids(d)._1 == nPieces + between, s"doc $d stream length")
        assert(ids(d)._2 == nUnk, s"doc $d unknown words")
      }
      val unknown = counts.values.map(_._3).sum
      if (f.closed) assert(unknown > 0, "no unknown word exercised")
      else assert(unknown == 0, "byte alphabet cannot miss a word")
    }
}
