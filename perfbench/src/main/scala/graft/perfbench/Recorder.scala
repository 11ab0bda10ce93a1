package graft.perfbench

import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import org.apache.spark.sql.Row

/** The benchmark's own spans, operations and output checks.
  *
  * One client thread issues every call (a closed loop), so spans nest as
  * a stack. A span is `(id, parent, name, kind, module, start, end)`; the
  * timed operations are the spans of kind other than `pass`, and
  * everything the benchmark does between them (output checks, cache
  * sweeps) falls outside every timed span.
  */
final class Recorder {
  private val spans = new JList[JMap[String, Any]]()
  private val checks = new JList[JMap[String, Any]]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  var attempted = 0
  var failed = 0

  /** Epoch milliseconds at sub-millisecond resolution. */
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String, kind: String, module: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = now
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      stack = stack.tail
      spans.add(Probe.obj("id" -> id, "parent" -> parent, "name" -> name,
        "kind" -> kind, "module" -> module, "start" -> start, "end" -> now,
        "ok" -> ok))
    }
  }

  /** A timed operation: its failure is counted, not thrown. */
  def op[T](name: String, kind: String, module: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(span(name, kind, module)(body))
    catch { case e: Exception =>
      failed += 1
      System.err.println(s"[perfbench] $name failed: " +
        Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      None
    }
  }

  /** An output check, made outside every timed span. A mismatch counts
    * as one failure.
    */
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check $name failed: $detail")
    }
    checks.add(Probe.obj("name" -> name, "ok" -> ok,
      "detail" -> (if (ok) "" else detail)))
    ok
  }

  def spanRecords: JList[JMap[String, Any]] = spans
  def checkRecords: JList[JMap[String, Any]] = checks
}

object Digest {
  /** Order-insensitive digest of a result: the row count and the sum of
    * a 64-bit hash of each row's canonical text. Floating-point values
    * enter at 9 significant digits, so a differently ordered
    * floating-point sum inside the engine does not read as a mismatch.
    */
  def apply(rows: Array[Row]): String = {
    val sum = rows.foldLeft(0L)((acc, r) => acc + hash(canon(r)))
    f"${rows.length}:$sum%016x"
  }

  private def hash(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => fp(d)
    case f: Float => fp(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  private def fp(d: Double): String =
    if (d == 0.0) "0"
    else if (d.isNaN || d.isInfinite) d.toString
    else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
}
