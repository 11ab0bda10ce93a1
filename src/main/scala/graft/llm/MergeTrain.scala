package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The merge trainer both merge families share — [[Bpe]] over chars or
  * bytes, and [[WordPiece]]. A family brings three things (a
  * [[Family]] value): how a word splits into base symbols, how a pair
  * is scored, and how a winning pair's text is joined. This module
  * owns everything else:
  *
  *  - the ONE corpus pass to the vocabulary-sized `(word, s, n)` word
  *    table, each word's symbols bracketed (`"<w><o><r><d>"`);
  *  - the `maxDriverWords` switch between the two loops below;
  *  - the distributed loop: per round one pair aggregation, a `LIMIT 1`
  *    argmax, a codegen'd `replace`, and a checkpoint every 16 rounds;
  *  - the in-memory loop: interned symbols, incremental pair counts,
  *    an occurrence index and a lazy-invalidation max-heap;
  *  - the rules schema and the UTF-8 tie-break.
  *
  * Only the [[Score]] decides whether symbol counts are read: a
  * [[Likelihood]] run joins the per-symbol aggregation into each
  * distributed round and keeps symbol counts and a per-endpoint pair
  * index in memory; a [[Count]] run does neither.
  *
  * Both loops reproduce each other EXACTLY — overlapping-adjacency
  * pair counts (a word `aaa` holds two `(a,a)` pairs), frequency
  * weighting, greedy left-to-right non-overlapping replace, ties on
  * the UTF-8 bytes of `"lhs rhs"` — so the DuckDB lockstep oracles
  * replay either path (BpeSpec and WordPieceSpec pin the parity).
  */
object MergeTrain {

  /** How a pair is scored. The score is a double over the pair's exact
    * count `cnt` and its endpoints' symbol counts `nl`, `nr` (ties break
    * on the pair string ascending).
    *
    * @param symbolCounts whether the score reads `nl`/`nr`
    */
  sealed abstract class Score(val symbolCounts: Boolean) {
    def apply(cnt: Long, nl: Long, nr: Long): Double
    /** The same score over the columns `cnt`, `_nl`, `_nr`. */
    def column: Column
  }

  /** BPE: the pair's frequency-weighted count (exact in a double below
    * 2^53).
    */
  case object Count extends Score(false) {
    def apply(cnt: Long, nl: Long, nr: Long): Double = cnt.toDouble
    def column: Column = col("cnt")
  }

  /** WordPiece: `count(l,r) / (count(l)·count(r))`, one IEEE expression
    * in both loops (see [[WordPiece]] on its exactness).
    */
  case object Likelihood extends Score(true) {
    def apply(cnt: Long, nl: Long, nr: Long): Double =
      cnt.toDouble / (nl.toDouble * nr.toDouble)
    def column: Column = col("cnt").cast("double") /
      (col("_nl").cast("double") * col("_nr").cast("double"))
  }

  /** One merge family.
    *
    * @param segment SQL over `word`: its base symbols, in order
    * @param score   what the argmax maximizes
    * @param join    the merged symbol of a winning `(lhs, rhs)`
    */
  final case class Family(segment: String, score: Score,
                          join: (String, String) => String)

  private val rulesSchema = StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("lhs", StringType, nullable = false),
    StructField("rhs", StringType, nullable = false),
    StructField("merged", StringType, nullable = false),
    StructField("n", LongType, nullable = false)))

  /** Train `nMerges` merges over `docs`' words past `guard`: one corpus
    * pass to the word table, then the in-memory loop when the table
    * fits `maxDriverWords` rows and the distributed loop otherwise.
    * Returns the `(rank, lhs, rhs, merged, n)` rules — `n` the
    * frequency-weighted count of the pair when it won — and the
    * fully-merged `(word, s, n)` table, localCheckpointed so both and a
    * memoizing caller reuse it. Stops early once no pair is left.
    */
  def trainShared(docs: DataFrame, textCol: String, guard: Column,
                  nMerges: Int, maxDriverWords: Int,
                  family: Family): (DataFrame, DataFrame) = {
    require(nMerges >= 1, "nMerges must be positive")
    val spark = docs.sparkSession
    val words0 = TokenServe.words(docs, textCol, guard)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .select(col("word"), concat(lit("<"),
        concat_ws("><", expr(family.segment)), lit(">")).as("s"),
        col("n"))
      .localCheckpoint()
    val (rules, words) =
      if (words0.count() <= maxDriverWords) inMemory(words0, nMerges, family)
      else distributed(words0, nMerges, family)
    val rulesDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rules, 1), rulesSchema)
    (rulesDf, words.localCheckpoint())
  }

  /** The distributed loop: one pair aggregation (joined to one symbol
    * aggregation when the score reads symbol counts), a LIMIT-1 argmax
    * (TakeOrderedAndProject — no global sort) and a narrow replace per
    * round. The fallback for word tables beyond driver memory —
    * correct at any vocabulary size, but one Spark job per merge.
    */
  private def distributed(words0: DataFrame, nMerges: Int,
                          family: Family): (Seq[Row], DataFrame) = {
    var words = words0
    val rules = Seq.newBuilder[Row]
    var r = 1
    var exhausted = false
    while (r <= nMerges && !exhausted) {
      val t = words.withColumn("_t", split(trim(col("s"), "<>"), "><"))
      // sequence(1, 0) DESCENDS in Spark — words reduced to a single
      // symbol must short-circuit to an empty pair list
      val pairs = t
        .select(col("n"), explode(when(size(col("_t")) >= 2, expr(
          "transform(sequence(1, size(_t) - 1), " +
            "i -> concat(element_at(_t, i), ' ', element_at(_t, i + 1)))"))
          .otherwise(array())).as("pr"))
        .groupBy(col("pr")).agg(sum(col("n")).as("cnt"))
      val scored =
        if (!family.score.symbolCounts) pairs
        else {
          val syms = t.select(col("n"), explode(col("_t")).as("sym"))
            .groupBy(col("sym")).agg(sum(col("n")).as("sc"))
          pairs
            .withColumn("_l", split(col("pr"), " ").getItem(0))
            .withColumn("_r", split(col("pr"), " ").getItem(1))
            .join(syms.toDF("_l", "_nl"), Seq("_l"))
            .join(syms.toDF("_r", "_nr"), Seq("_r"))
        }
      val top = scored
        .orderBy(family.score.column.desc, col("pr")).limit(1)
        .select(col("pr"), col("cnt")).collect()
      if (top.isEmpty) exhausted = true
      else {
        val Array(l, rt) = top(0).getString(0).split(' ')
        val merged = family.join(l, rt)
        rules += Row(r, l, rt, merged, top(0).getLong(1))
        words = words.withColumn("s",
          replace(col("s"), lit(s"<$l><$rt>"), lit(s"<$merged>")))
        // re-materialize periodically: round r otherwise re-evaluates
        // all r-1 stacked replaces from the base checkpoint (O(n²)
        // vocab passes) and the nested-replace expression tree would
        // grow unboundedly at production merge counts (~32k)
        if (r % 16 == 0 && r < nMerges) words = words.localCheckpoint()
        r += 1
      }
    }
    (rules.result(), words)
  }

  /** UTF-8 byte-order comparison — Spark orders strings by the binary
    * UTF-8 encoding (UTF8String.compareTo), which differs from Java's
    * UTF-16 `String.compareTo` for supplementary characters; the
    * in-memory argmax tie-break must match the distributed
    * `orderBy(pr)` exactly.
    */
  private[llm] def compareUtf8(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Heap entry: the pair's score at push time and the pair string's
    * UTF-8 bytes for the tie-break. Entries are never updated: an entry
    * whose score no longer equals the one the live counts give is
    * discarded at pop time (lazy invalidation).
    */
  private final class Entry(val score: Double, val key: Array[Byte],
                            val pair: Long)

  /** The in-memory loop over a collected word table — the production
    * path, ~32k merges in tens of seconds instead of 32k Spark jobs.
    * Symbols are interned to ints; each round pops the live (score
    * desc, pair asc) max off the heap, then updates ONLY the words
    * containing the winning pair: their old adjacencies (and symbol
    * counts) are decremented, the greedy merge applied, the new ones
    * incremented, and every pair whose score may have moved re-pushed.
    * The occurrence index (pair → word ids) may hold stale entries —
    * each is verified against the word's current symbols — and only
    * ever GAINS entries for pairs involving the freshly merged symbol,
    * which is sound because a merge only creates adjacencies involving
    * that symbol.
    *
    * Every live pair keeps an entry at its current score, so the first
    * popped entry whose score the live counts still give is the argmax.
    * With symbol counts a score can also RISE when an endpoint symbol
    * is consumed, so after each merge every pair touching `l`, `r` or
    * the merged symbol is re-pushed; a count score only moves with the
    * pair's own count.
    */
  private def inMemory(words0: DataFrame, nMerges: Int,
                       family: Family): (Seq[Row], DataFrame) = {
    import scala.collection.mutable
    val score = family.score
    val withSyms = score.symbolCounts
    val spark = words0.sparkSession
    val collected = words0.select(col("word"), col("s"), col("n")).collect()
    val nW = collected.length

    val symIds = mutable.HashMap.empty[String, Int]
    val syms = mutable.ArrayBuffer.empty[String]
    def intern(t: String): Int =
      symIds.getOrElseUpdate(t, { syms += t; syms.length - 1 })

    // parse Spark's own bracketed form rather than re-splitting the
    // word in the driver: segmentation stays defined by ONE engine (the
    // family's SQL on the executor), so both loops and the oracle
    // agree on what a base symbol is
    val wordSyms = new Array[Array[Int]](nW)
    val freqs = new Array[Long](nW)
    var w = 0
    while (w < nW) {
      val s = collected(w).getString(1)
      wordSyms(w) =
        if (s.length <= 2) Array.emptyIntArray
        else s.substring(1, s.length - 1).split("><", -1).map(intern)
      freqs(w) = collected(w).getLong(2)
      w += 1
    }

    def pk(l: Int, r: Int): Long = (l.toLong << 32) | (r.toLong & 0xffffffffL)
    def lhs(p: Long): Int = (p >>> 32).toInt
    def rhs(p: Long): Int = (p & 0xffffffffL).toInt
    def keyOf(p: Long): Array[Byte] =
      (syms(lhs(p)) + " " + syms(rhs(p)))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val counts = mutable.HashMap.empty[Long, Long]
    val symCounts = mutable.HashMap.empty[Int, Long]
    val occs = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
    // every pair (live or dead) that ever contained the symbol — the
    // rescore index for symbol-count changes; a pair whose count fell
    // to 0 is skipped at re-push time
    val byEndpoint = mutable.HashMap.empty[Int, mutable.HashSet[Long]]
    def addOcc(p: Long, w: Int): Unit = {
      occs.getOrElseUpdate(p, mutable.ArrayBuffer.empty[Int]) += w
      if (withSyms) {
        byEndpoint.getOrElseUpdate(lhs(p), mutable.HashSet.empty[Long]) += p
        byEndpoint.getOrElseUpdate(rhs(p), mutable.HashSet.empty[Long]) += p
      }
    }
    def addSym(s: Int, f: Long): Unit = {
      val c = symCounts.getOrElse(s, 0L) + f
      if (c == 0L) symCounts.remove(s) else symCounts(s) = c
    }
    def addPair(p: Long, f: Long): Unit = {
      val c = counts.getOrElse(p, 0L) + f
      if (c == 0L) counts.remove(p) else counts(p) = c
    }

    w = 0
    while (w < nW) {
      val a = wordSyms(w); val f = freqs(w)
      val seen = mutable.HashSet.empty[Long]
      var i = 0
      while (i < a.length) {
        if (withSyms) addSym(a(i), f)
        if (i < a.length - 1) {
          val p = pk(a(i), a(i + 1))
          addPair(p, f)
          if (seen.add(p)) addOcc(p, w)
        }
        i += 1
      }
      w += 1
    }

    val cmp = new java.util.Comparator[Entry] {
      override def compare(x: Entry, y: Entry): Int = {
        val d = java.lang.Double.compare(y.score, x.score)
        if (d != 0) d else compareUtf8(x.key, y.key)
      }
    }
    val heap = new java.util.PriorityQueue[Entry](
      math.max(16, counts.size), cmp)
    // the live score of a pair with a positive count (NaN otherwise,
    // which equals no entry's score)
    def scoreOf(p: Long): Double = {
      val c = counts.getOrElse(p, 0L)
      if (c <= 0) Double.NaN
      else if (withSyms) score(c, symCounts.getOrElse(lhs(p), 0L),
        symCounts.getOrElse(rhs(p), 0L))
      else score(c, 0L, 0L)
    }
    def push(p: Long): Unit = {
      val s = scoreOf(p)
      if (!s.isNaN) heap.add(new Entry(s, keyOf(p), p))
    }
    counts.keysIterator.foreach(push)

    val rules = Seq.newBuilder[Row]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      var winner: Entry = null
      while (winner == null && !heap.isEmpty) {
        val e = heap.poll()
        if (scoreOf(e.pair) == e.score) winner = e
      }
      if (winner == null) done = true
      else {
        val p = winner.pair
        val li = lhs(p); val ri = rhs(p)
        val ls = syms(li); val rs = syms(ri)
        val merged = family.join(ls, rs)
        val mi = intern(merged)
        rules += Row(rank, ls, rs, merged, counts(p))
        val changed = mutable.HashSet.empty[Long]
        val list = occs.remove(p).getOrElse(mutable.ArrayBuffer.empty[Int])
        val processed = mutable.HashSet.empty[Int]
        list.foreach { w =>
          if (processed.add(w)) {
            val a = wordSyms(w)
            var hit = false
            var i = 0
            while (!hit && i < a.length - 1) {
              if (a(i) == li && a(i + 1) == ri) hit = true
              i += 1
            }
            if (hit) {
              val f = freqs(w)
              i = 0
              while (i < a.length) {
                if (withSyms) addSym(a(i), -f)
                if (i < a.length - 1) {
                  val q = pk(a(i), a(i + 1))
                  addPair(q, -f)
                  changed += q
                }
                i += 1
              }
              // greedy left-to-right non-overlapping merge (the
              // replace("<l><r>", "<m>") semantics)
              val b = mutable.ArrayBuilder.make[Int]
              i = 0
              while (i < a.length) {
                if (i < a.length - 1 && a(i) == li && a(i + 1) == ri) {
                  b += mi; i += 2
                } else { b += a(i); i += 1 }
              }
              val na = b.result()
              wordSyms(w) = na
              val seen = mutable.HashSet.empty[Long]
              i = 0
              while (i < na.length) {
                if (withSyms) addSym(na(i), f)
                if (i < na.length - 1) {
                  val q = pk(na(i), na(i + 1))
                  addPair(q, f)
                  changed += q
                  if ((na(i) == mi || na(i + 1) == mi) && seen.add(q))
                    addOcc(q, w)
                }
                i += 1
              }
            }
          }
        }
        changed -= p
        // a symbol-count score RISES when its denominator shrinks, so
        // stale-lower entries of every pair touching l, r or m must be
        // superseded eagerly
        if (withSyms)
          Seq(li, ri, mi).foreach(s => byEndpoint.get(s).foreach(changed ++= _))
        changed.foreach(push)
        rank += 1
      }
    }

    val outRows: Seq[Row] = (0 until nW).map { w =>
      val sb = new java.lang.StringBuilder
      wordSyms(w).foreach(id => sb.append('<').append(syms(id)).append('>'))
      Row(collected(w).getString(0), sb.toString, freqs(w))
    }
    val wordsSchema = StructType(Seq(
      StructField("word", StringType, nullable = false),
      StructField("s", StringType, nullable = false),
      StructField("n", LongType, nullable = false)))
    val slices = math.max(1, math.min(
      spark.sparkContext.defaultParallelism, nW / 20000 + 1))
    val wordsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(outRows, slices), wordsSchema)
    (rules.result(), wordsDf)
  }
}
