package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** [[FlattenWordIds]] is pinned against the exact SQL chain it
  * replaced in the tokenizer ids assemblies
  * (`sort_array(collect_list(struct))` + `flatten/transform/concat`):
  * same values, same order, same schema (type AND nullability bits —
  * the oracle hashes the schema).
  */
class TokenExprsSpec extends SparkSpec {
  import spark.implicits._

  // (doc, wpos, wids) word rows, positions deliberately out of order.
  // Explicit schema with the REAL call sites' nullability (_wids and
  // its elements non-nullable — they are `transform` of a
  // `collect_list` over `coalesce(token_id, -1)` there), so the
  // schema-parity assertion below checks the bits that matter.
  private def wordRows = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("_wpos", IntegerType, nullable = false),
      StructField("_wids", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 2, Seq(7, 8)),
        Row(1L, 0, Seq(5)),
        Row(1L, 1, Seq.empty[Int]),
        Row(2L, 0, Seq(42, 43, 44)),
        Row(3L, 5, Seq(9))),
      schema)
  }

  private def oldChain(boundary: Option[Int]) = {
    val body = boundary match {
      case Some(b) => s"IF(i = 0, w._wids, concat(array($b), w._wids))"
      case None => "w._wids"
    }
    wordRows.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("_wpos"), col("_wids"))))
        .as("_ws"))
      .select(col("doc_id"),
        expr(s"flatten(transform(_ws, (w, i) -> $body))").as("ids"))
  }

  private def newChain(boundary: Option[Int]) =
    wordRows.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("_wpos"), col("_wids"))).as("_ws"))
      .select(col("doc_id"),
        TokenExprs.flattenWordIds(col("_ws"), boundary).as("ids"))

  for ((label, b) <- Seq(("boundary 0 (char BPE)", Some(0)),
                         ("boundary 32 (byte BPE)", Some(32)),
                         ("boundary 1 (unigram)", Some(1)),
                         ("no boundary (wordpiece)", None)))
    test(s"flattenWordIds equals the replaced SQL chain — $label") {
      val want = oldChain(b).as[(Long, Seq[Int])].collect().toMap
      val got = newChain(b).as[(Long, Seq[Int])].collect().toMap
      assert(got == want)
      // schema parity, including nullability (oracle hashes schemas)
      assert(newChain(b).schema == oldChain(b).schema)
    }

  test("flattenWordIds sorts by position and interleaves the boundary") {
    val got = newChain(Some(0)).as[(Long, Seq[Int])].collect().toMap
    // doc 1: word@0 [5], word@1 [], word@2 [7,8] → 5 | 0 | | 0 | 7 8
    assert(got(1L) == Seq(5, 0, 0, 7, 8))
    assert(got(2L) == Seq(42, 43, 44))
    assert(got(3L) == Seq(9))
  }

  // (doc, pos, piece) rows for the decode assemblies, positions out
  // of order; includes a ##-continuation and a multi-byte piece
  private def pieceRows = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("_pos", IntegerType, nullable = false),
      StructField("p", StringType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 2, "##llo"), Row(1L, 0, "he"), Row(1L, 1, "##l"),
        Row(1L, 3, "wörld"),
        Row(2L, 0, "[UNK]"), Row(2L, 1, "##x"),
        Row(3L, 7, "solo")),
      schema)
  }

  test("concatSortedPieces equals the replaced array_join chain (plain)") {
    val old = pieceRows.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("_pos"), col("p")))).as("_ps"))
      .select(col("doc_id"),
        expr("array_join(transform(_ps, x -> x.p), '')").as("t"))
    val neu = pieceRows.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("_pos"), col("p"))).as("_ps"))
      .select(col("doc_id"),
        TokenExprs.concatSortedPieces(col("_ps"), wordpiece = false).as("t"))
    assert(neu.as[(Long, String)].collect().toMap ==
      old.as[(Long, String)].collect().toMap)
    assert(neu.schema == old.schema)
    assert(neu.as[(Long, String)].collect().toMap.apply(1L) ==
      "he##l##llowörld")
  }

  test("concatSortedPiecesWp equals the replaced concat_ws chain (wordpiece)") {
    val old = pieceRows.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("_pos"), col("p")))).as("_ps"))
      .select(col("doc_id"),
        ltrim(expr("concat_ws('', transform(_ps, x -> " +
          "IF(startswith(x.p, '##'), substring(x.p, 3), " +
          "concat(' ', x.p))))")).as("t"))
    val neu = pieceRows.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("_pos"), col("p"))).as("_ps"))
      .select(col("doc_id"),
        ltrim(TokenExprs.concatSortedPieces(col("_ps"), wordpiece = true))
          .as("t"))
    assert(neu.as[(Long, String)].collect().toMap ==
      old.as[(Long, String)].collect().toMap)
    assert(neu.schema == old.schema)
    assert(neu.as[(Long, String)].collect().toMap.apply(1L) ==
      "helllo wörld")
  }

  test("sortedStructIds equals the replaced transform(sort_array) chain") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("_spos", IntegerType, nullable = false),
      StructField("id", IntegerType, nullable = false)))
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(1L, 2, 7), Row(1L, 0, -1), Row(1L, 1, 42),
        Row(2L, 5, 3)),
      schema)
    val old = rows.groupBy(col("k"))
      .agg(sort_array(collect_list(struct(col("_spos"), col("id"))))
        .as("_ps"))
      .select(col("k"), expr("transform(_ps, p -> p.id)").as("ids"))
    val neu = rows.groupBy(col("k"))
      .agg(collect_list(struct(col("_spos"), col("id"))).as("_ps"))
      .select(col("k"), TokenExprs.sortedStructIds(col("_ps")).as("ids"))
    assert(neu.as[(Long, Seq[Int])].collect().toMap ==
      old.as[(Long, Seq[Int])].collect().toMap)
    assert(neu.schema == old.schema)
    assert(neu.as[(Long, Seq[Int])].collect().toMap.apply(1L) ==
      Seq(-1, 42, 7)) // sorted by position, OOV -1 preserved
  }

  test("flattenWordIds null and empty inputs mirror the old chain") {
    val df = Seq((1L, None), (2L, Some(Seq.empty[(Int, Array[Int])])))
      .toDF("doc_id", "_ws")
      .select(col("doc_id"),
        col("_ws").cast("array<struct<_wpos:int,_wids:array<int>>>")
          .as("_ws"))
    val got = df.select(col("doc_id"),
        TokenExprs.flattenWordIds(col("_ws"), Some(0)).as("ids"))
      .as[(Long, Option[Seq[Int]])].collect().toMap
    assert(got(1L).isEmpty)           // null in → null out
    assert(got(2L).contains(Seq.empty)) // empty in → empty out
  }
}
