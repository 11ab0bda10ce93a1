package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType}

/** Native per-document token-id assembly for the tokenizer serve
  * paths (round-14 optimization, guide §1.2 "per-task work" /
  * "eliminate non-codegen expressions in the hot path").
  *
  * Every tokenizer family assembles a document's flat id sequence
  * from its per-word id arrays the same way:
  *
  * {{{
  *   sort_array(collect_list(struct(wpos, wids)))           // agg
  *   flatten(transform(_ws, (w, i) ->
  *     IF(i = 0, w._wids, concat(array(B), w._wids))))      // project
  * }}}
  *
  * The aggregation is the algorithm (one keyed pass, in-row data);
  * the PROJECTION is the waste: `sort_array`, `transform`, `concat`
  * and `flatten` are all interpreted (`CodegenFallback`) and the
  * lambda chain allocates two fresh arrays per WORD plus one per doc
  * — measured as the dominant per-row cost of the ids queries
  * (q202/q220/q228/q234/q243). [[FlattenWordIds]] replaces the whole
  * post-aggregation chain with ONE expression that sorts the word
  * structs by position and writes the flat primitive id array in a
  * single pass (no per-word allocation, `UnsafeArrayData` output),
  * keeping the surrounding whole-stage-codegen span alive via a
  * static call (the [[VectorExprs]] discipline).
  *
  * Semantics are EXACTLY the replaced chain (the ids queries are
  * hash-pinned by the DuckDB oracle):
  *  - word order: ascending by the struct's first field (`wpos` is
  *    unique per document, so `sort_array`'s full-struct order is the
  *    position order);
  *  - `insertBoundary = true` interleaves `boundary` between
  *    consecutive words (id 0 char-BPE, 32 byte-BPE, 1 Unigram);
  *    `false` plain-concatenates (WordPiece);
  *  - null top-level array → null (`flatten` null semantics); inner
  *    `wids` arrays and their elements are non-null by construction
  *    (`transform` of a `collect_list`, `coalesce(token_id, -1)`), so
  *    the output is exactly as nullable as the input — matching the
  *    replaced chain's schema bit for bit (the oracle hashes the
  *    schema too). A null inner array (unreachable) reads as empty.
  *
  * Input: `array<struct<pos int, wids array<int>>>` (field names are
  * irrelevant — access is positional). Output: `array<int>`,
  * `containsNull = false` (matching the replaced chain's type).
  */
case class FlattenWordIds(child: Expression, boundary: Int,
                          insertBoundary: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "flatten_word_ids"

  override def nullSafeEval(input: Any): Any =
    FlattenWordIds.flatten(input.asInstanceOf[ArrayData], boundary,
      insertBoundary)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      // one static call per ROW keeps the enclosing codegen span
      // intact; the per-element loop lives in compiled Scala
      s"${ev.value} = graft.functions.FlattenWordIds.flatten(" +
        s"$a, $boundary, $insertBoundary);")

  override protected def withNewChildInternal(newChild: Expression): FlattenWordIds =
    copy(child = newChild)
}

object FlattenWordIds {

  /** Single-pass sort + flatten; shared by eval and codegen. */
  def flatten(words: ArrayData, boundary: Int,
              insertBoundary: Boolean): ArrayData = {
    val n = words.numElements()
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyIntArray)
    val pos = new Array[Int](n)
    val ids = new Array[ArrayData](n)
    var total = 0
    var i = 0
    while (i < n) {
      val row = words.getStruct(i, 2)
      pos(i) = row.getInt(0)
      // a null inner array is unreachable by construction (see the
      // expression doc); read it as empty rather than poisoning the row
      val a = if (row.isNullAt(1)) null else row.getArray(1)
      ids(i) = a
      if (a != null) total += a.numElements()
      i += 1
    }
    if (insertBoundary) total += n - 1
    // positions are unique per doc (posexplode) — sort an index
    // permutation by position
    val order = new Array[Integer](n)
    i = 0
    while (i < n) { order(i) = i; i += 1 }
    java.util.Arrays.sort(order,
      (x: Integer, y: Integer) => Integer.compare(pos(x), pos(y)))
    val out = new Array[Int](total)
    var o = 0
    i = 0
    while (i < n) {
      if (insertBoundary && i > 0) { out(o) = boundary; o += 1 }
      val a = ids(order(i))
      if (a != null) {
        val m = a.numElements()
        var j = 0
        while (j < m) { out(o) = a.getInt(j); o += 1; j += 1 }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Native per-document decode assembly — the string twin of
  * [[FlattenWordIds]] for the `decodeIds` paths: replaces
  * `array_join(transform(sort_array(collect_list(struct(pos, p))), …))`
  * (three interpreted `CodegenFallback` expressions and two array
  * allocations per document) with one pass that sorts the piece
  * structs by position and concatenates.
  *
  * `wordpiece = false`: plain concatenation — exactly
  * `array_join(transform(_ps, x -> x.p), '')` (BPE char/byte and
  * Unigram decodes; the byte family's unhex/decode wrap stays in
  * SQL).
  * `wordpiece = true`: the WordPiece join rule — a `##` piece appends
  * its raw text (chars from index 2), any other piece appends
  * `' ' + piece` — exactly the replaced
  * `concat_ws('', transform(_ps, x -> IF(startswith(x.p, '##'),
  * substring(x.p, 3), concat(' ', x.p))))`; the caller keeps its
  * outer `ltrim`.
  *
  * Same null contract as [[FlattenWordIds]]: inputs are non-null by
  * construction (`coalesce(piece, <fallback>)`), output exactly as
  * nullable as the input.
  */
case class ConcatSortedPieces(child: Expression, wordpiece: Boolean)
    extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "concat_sorted_pieces"

  override def nullSafeEval(input: Any): Any =
    ConcatSortedPieces.concat(input.asInstanceOf[ArrayData], wordpiece)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.ConcatSortedPieces.concat(" +
        s"$a, $wordpiece);")

  override protected def withNewChildInternal(newChild: Expression): ConcatSortedPieces =
    copy(child = newChild)
}

object ConcatSortedPieces {
  private val Hashes =
    org.apache.spark.unsafe.types.UTF8String.fromString("##")
  private val Space =
    org.apache.spark.unsafe.types.UTF8String.fromString(" ")

  /** Single-pass sort + concat; shared by eval and codegen. */
  def concat(pieces: ArrayData,
             wordpiece: Boolean): org.apache.spark.unsafe.types.UTF8String = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = pieces.numElements()
    if (n == 0) return UTF8String.EMPTY_UTF8
    val pos = new Array[Int](n)
    val ps = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      val row = pieces.getStruct(i, 2)
      pos(i) = row.getInt(0)
      ps(i) = row.getUTF8String(1)
      i += 1
    }
    val order = new Array[Integer](n)
    i = 0
    while (i < n) { order(i) = i; i += 1 }
    java.util.Arrays.sort(order,
      (x: Integer, y: Integer) => Integer.compare(pos(x), pos(y)))
    val parts = new Array[UTF8String](if (wordpiece) 2 * n else n)
    var o = 0
    i = 0
    while (i < n) {
      val p = ps(order(i))
      // null pieces are unreachable (coalesce at every call site);
      // if one appears, mirror array_join/concat_ws: skip it
      if (p != null) {
        if (wordpiece) {
          if (p.startsWith(Hashes)) {
            parts(o) = p.substring(2, p.numChars()); o += 1
          } else {
            parts(o) = Space; o += 1
            parts(o) = p; o += 1
          }
        } else { parts(o) = p; o += 1 }
      }
      i += 1
    }
    UTF8String.concat(java.util.Arrays.copyOf(parts, o): _*)
  }
}

/** Native sorted-id extraction — the `struct<int,int>` sibling of
  * [[FlattenWordIds]] for the per-(doc, wpos) piece-id assembly in
  * `Unigram.encodeIdsSampled` (the one CORPUS-scale site of the
  * `transform(sort_array(collect_list(struct(pos, id))), p -> p.id)`
  * shape — the other families' analogues are vocabulary-bounded and
  * deliberately left in SQL): sorts by the struct's first field and
  * emits the second as a primitive int array in one pass. Same null
  * contract as [[FlattenWordIds]].
  */
case class SortedStructIds(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_struct_ids"

  override def nullSafeEval(input: Any): Any =
    SortedStructIds.ids(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.SortedStructIds.ids($a);")

  override protected def withNewChildInternal(newChild: Expression): SortedStructIds =
    copy(child = newChild)
}

object SortedStructIds {
  /** Single-pass sort + project; shared by eval and codegen. */
  def ids(rows: ArrayData): ArrayData = {
    val n = rows.numElements()
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyIntArray)
    // (pos << 32 | id) packs both fields into one primitive long —
    // sorting the longs sorts by pos (unique per word), no boxing
    val packed = new Array[Long](n)
    var i = 0
    while (i < n) {
      val row = rows.getStruct(i, 2)
      packed(i) = (row.getInt(0).toLong << 32) | (row.getInt(1).toLong & 0xffffffffL)
      i += 1
    }
    java.util.Arrays.sort(packed)
    val out = new Array[Int](n)
    i = 0
    while (i < n) { out(i) = packed(i).toInt; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Column helpers for the token-assembly expressions. */
object TokenExprs {

  /** Sorted flatten of per-word id arrays ([[FlattenWordIds]]) with
    * `boundary` between words, or plain concatenation when `None` —
    * replaces `flatten(transform(sort_array(...), (w,i) -> IF(i=0,
    * w.ids, concat(array(boundary), w.ids))))`.
    */
  def flattenWordIds(words: Column, boundary: Option[Int]): Column =
    Bridge.column(FlattenWordIds(Bridge.expression(words),
      boundary.getOrElse(0), insertBoundary = boundary.isDefined))

  /** Sorted per-position id extraction ([[SortedStructIds]]) —
    * replaces `transform(sort_array(collect_list(struct(pos, id))),
    * p -> p.id)`.
    */
  def sortedStructIds(rows: Column): Column =
    Bridge.column(SortedStructIds(Bridge.expression(rows)))

  /** Sorted piece concatenation ([[ConcatSortedPieces]]) — replaces
    * `array_join(transform(sort_array(...), x -> x.p), '')`, or with
    * `wordpiece` the `concat_ws('', transform(sort_array(...), x ->
    * IF(startswith(x.p, '##'), substring(x.p, 3), concat(' ', x.p))))`
    * WordPiece rule (the caller keeps its outer `ltrim`).
    */
  def concatSortedPieces(pieces: Column, wordpiece: Boolean): Column =
    Bridge.column(ConcatSortedPieces(Bridge.expression(pieces), wordpiece))
}
