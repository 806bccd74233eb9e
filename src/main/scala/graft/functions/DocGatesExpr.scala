package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expression #12: `doc_gates(text)` → one struct with
  * every per-document count the word-level curation gates read, from
  * one byte scan of `UTF8String.toLowerCase(text)` (the [[TokenCount]]
  * token identity: maximal `[a-z0-9]` runs of the lowercased string,
  * value-identical to [[graft.text.TextAnalysis.tokens]]):
  *
  *  - the [[graft.text.Gopher.ruleGates]] stats `n_tokens`, `sum_len`,
  *    `n_digit` (all-digit tokens), `n_stop` (distinct `stopwords`
  *    present), `n_punct` (code points of the RAW text outside
  *    `[a-zA-Z0-9 ]`, the `asciiPunctRe` count) and `n_chars` (code
  *    points of the raw text);
  *  - `tok_chars`, the length of the tokens joined by single spaces, and
  *    `covered`, aligned with `ns`: per order n, the characters of that
  *    stream covered by n-grams occurring at least twice in the row (the
  *    [[graft.text.Gopher.dupNgramCoverage]] spans, duplicate test and
  *    interval merge);
  *  - `n_hits` and `n_phrases`, the [[graft.text.Blocklist.phraseHits]]
  *    counts of `phrases` (token sequences in the same token space):
  *    every occurrence at every start position, and the distinct phrases
  *    present.
  *
  * Null text gives a null struct. Tokens are interned per row, so the
  * n-gram and phrase tests compare int sequences; n-gram duplicates are
  * found with a rolling hash and an exact comparison on every hash
  * match. Sections with no `ns` or no `phrases` are skipped. */
case class DocGates(child: Expression, ns: Seq[Int],
    phrases: Seq[Seq[String]], stopwords: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = DocGates.schema

  override def checkInputDataTypes() =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"doc_gates expects STRING, got ${child.dataType}")

  @transient private lazy val kernel =
    new DocGatesKernel(ns, phrases, stopwords)

  override protected def nullSafeEval(input: Any): Any =
    kernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("docGates",
      new DocGatesKernel(ns, phrases, stopwords))
    defineCodeGen(ctx, ev, c => s"$k.eval($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): DocGates =
    copy(child = newChild)
}

object DocGates {

  private val counts = Seq("n_tokens", "sum_len", "n_digit", "n_stop",
    "n_punct", "n_chars", "tok_chars")

  val schema: StructType = StructType(
    counts.map(StructField(_, LongType, nullable = false)) ++ Seq(
      StructField("covered", ArrayType(LongType, containsNull = false),
        nullable = false),
      StructField("n_hits", LongType, nullable = false),
      StructField("n_phrases", LongType, nullable = false)))

  def docGates(text: Column, ns: Seq[Int], phrases: Seq[Seq[String]],
      stopwords: Seq[String]): Column = {
    require(ns.forall(_ >= 1), s"n-gram orders must be positive: $ns")
    require(phrases.forall(_.nonEmpty), "empty phrase")
    Bridge.column(DocGates(Bridge.expression(text), ns, phrases, stopwords))
  }
}

/** [[DocGates]]' per-row scan; immutable, so one instance serves every
  * thread of a task. */
final class DocGatesKernel(ns: Seq[Int], phrases: Seq[Seq[String]],
    stopwords: Seq[String]) extends Serializable {

  private val orders = ns.toArray
  private val phraseBytes: Array[Array[Array[Byte]]] = phrases.distinct
    .map(_.map(_.getBytes("UTF-8")).toArray).toArray
  private val stopBytes = stopwords.distinct.map(_.getBytes("UTF-8")).toArray
  private val intern = orders.nonEmpty || phraseBytes.nonEmpty

  def eval(s: UTF8String): InternalRow = {
    val raw = s.getBytes
    var asciiKept = 0
    var i = 0
    while (i < raw.length) {
      val c = raw(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9') || c == ' ') asciiKept += 1
      i += 1
    }
    val nChars = s.numChars().toLong

    val b = s.toLowerCase.getBytes
    val nTok = TokenCount.count(b)
    val start = new Array[Int](nTok)
    val len = new Array[Int](nTok)
    var t = 0
    i = 0
    while (i < b.length) {
      if (DocGatesKernel.alnum(b(i))) {
        val j = i
        while (i < b.length && DocGatesKernel.alnum(b(i))) i += 1
        start(t) = j; len(t) = i - j; t += 1
      } else i += 1
    }

    var sumLen = 0L
    var nDigit = 0L
    val stopSeen = new Array[Boolean](stopBytes.length)
    t = 0
    while (t < nTok) {
      sumLen += len(t)
      var digits = true
      var k = start(t)
      while (digits && k < start(t) + len(t)) {
        digits = b(k) >= '0' && b(k) <= '9'; k += 1
      }
      if (digits) nDigit += 1
      var w = 0
      while (w < stopBytes.length) {
        if (!stopSeen(w) && sameBytes(b, start(t), len(t), stopBytes(w)))
          stopSeen(w) = true
        w += 1
      }
      t += 1
    }
    val nStop = stopSeen.count(identity).toLong
    val tokChars = if (nTok == 0) 0L else sumLen + nTok - 1

    val covered = new Array[Long](orders.length)
    var nHits = 0L
    var nPhrases = 0L
    if (intern && nTok > 0) {
      val table = new InternTable(b, start, len)
      val ids = new Array[Int](nTok)
      t = 0
      while (t < nTok) { ids(t) = table.idOf(t); t += 1 }
      // stream offset of each token: tokens joined by single spaces
      val off = new Array[Long](nTok)
      t = 1
      while (t < nTok) { off(t) = off(t - 1) + len(t - 1) + 1; t += 1 }
      var o = 0
      while (o < orders.length) {
        covered(o) = coverage(ids, off, len, orders(o))
        o += 1
      }
      if (phraseBytes.nonEmpty) {
        // occurrences of each token id, as linked lists in position order
        val head = Array.fill(table.size)(-1)
        val next = new Array[Int](nTok)
        t = nTok - 1
        while (t >= 0) { next(t) = head(ids(t)); head(ids(t)) = t; t -= 1 }
        var p = 0
        while (p < phraseBytes.length) {
          val h = phraseHits(phraseBytes(p), table, ids, head, next)
          nHits += h
          if (h > 0) nPhrases += 1
          p += 1
        }
      }
    }
    new GenericInternalRow(Array[Any](nTok.toLong, sumLen, nDigit, nStop,
      nChars - asciiKept, nChars, tokChars,
      UnsafeArrayData.fromPrimitiveArray(covered), nHits, nPhrases))
  }

  private def sameBytes(b: Array[Byte], off: Int, n: Int,
      w: Array[Byte]): Boolean = {
    if (n != w.length) return false
    var k = 0
    while (k < n) { if (b(off + k) != w(k)) return false; k += 1 }
    true
  }

  /** Characters of the space-joined token stream (token `t` at `off(t)`)
    * covered by the union of the spans of n-grams that occur at least
    * twice. */
  private def coverage(ids: Array[Int], off: Array[Long], len: Array[Int],
      n: Int): Long = {
    val g = ids.length - n + 1
    if (g < 2) return 0L
    // rolling hash of each gram, then exact grouping in an open table
    val base = 0x9E3779B97F4A7C15L
    var top = 1L
    var t = 1
    while (t < n) { top *= base; t += 1 }
    val hash = new Array[Long](g)
    var h = 0L
    t = 0
    while (t < n) { h = h * base + ids(t) + 1; t += 1 }
    hash(0) = h
    t = 1
    while (t < g) {
      h = (h - (ids(t - 1) + 1L) * top) * base + ids(t + n - 1) + 1
      hash(t) = h
      t += 1
    }
    val mask = Integer.highestOneBit(math.max(2 * g, 16) - 1) * 2 - 1
    val slot = new Array[Int](mask + 1) // gram index + 1, 0 = empty
    val rep = new Array[Int](g)
    val cnt = new Array[Int](g)
    t = 0
    while (t < g) {
      var at = DocGatesKernel.mix(hash(t)) & mask
      var placed = false
      while (!placed) {
        val s = slot(at)
        if (s == 0) {
          slot(at) = t + 1; rep(t) = t; cnt(t) = 1; placed = true
        } else if (hash(s - 1) == hash(t) && sameIds(ids, s - 1, t, n)) {
          rep(t) = s - 1; cnt(s - 1) += 1; placed = true
        } else at = (at + 1) & mask
      }
      t += 1
    }
    // spans start strictly increasing: merge islands in one pass
    var covered = 0L
    var lo = -1L
    var hi = -1L
    t = 0
    while (t < g) {
      if (cnt(rep(t)) >= 2) {
        val s = off(t)
        val e = off(t + n - 1) + len(t + n - 1)
        if (hi < 0) { lo = s; hi = e }
        else if (s > hi) { covered += hi - lo; lo = s; hi = e }
        else if (e > hi) hi = e
      }
      t += 1
    }
    if (hi >= 0) covered += hi - lo
    covered
  }

  private def sameIds(ids: Array[Int], a: Int, b: Int, n: Int): Boolean = {
    var k = 0
    while (k < n) { if (ids(a + k) != ids(b + k)) return false; k += 1 }
    true
  }

  /** Occurrences of `phrase` at any start position of the row. */
  private def phraseHits(phrase: Array[Array[Byte]], table: InternTable,
      ids: Array[Int], head: Array[Int], next: Array[Int]): Long = {
    val pid = new Array[Int](phrase.length)
    var k = 0
    while (k < phrase.length) {
      pid(k) = table.lookup(phrase(k))
      if (pid(k) < 0) return 0L
      k += 1
    }
    var hits = 0L
    var at = head(pid(0))
    while (at >= 0) {
      if (at + pid.length <= ids.length) {
        var same = true
        k = 1
        while (same && k < pid.length) { same = ids(at + k) == pid(k); k += 1 }
        if (same) hits += 1
      }
      at = next(at)
    }
    hits
  }
}

private object DocGatesKernel {

  def alnum(c: Byte): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')

  def mix(h: Long): Int = {
    val x = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL
    (x ^ (x >>> 29)).toInt
  }

  def hashBytes(b: Array[Byte], off: Int, n: Int): Long = {
    var h = 0xCBF29CE484222325L
    var k = 0
    while (k < n) { h = (h ^ (b(off + k) & 0xFF)) * 0x100000001B3L; k += 1 }
    h
  }
}

/** Dense ids for the distinct tokens of one row, by open addressing over
  * the token bytes. */
private final class InternTable(b: Array[Byte], start: Array[Int],
    len: Array[Int]) {

  private val mask =
    Integer.highestOneBit(math.max(2 * start.length, 16) - 1) * 2 - 1
  private val slot = new Array[Int](mask + 1) // token index + 1
  private val slotId = new Array[Int](mask + 1)
  var size = 0

  /** The id of token `t`, assigning the next id to a new token. */
  def idOf(t: Int): Int = {
    var at = DocGatesKernel.mix(
      DocGatesKernel.hashBytes(b, start(t), len(t))) & mask
    while (true) {
      val s = slot(at)
      if (s == 0) {
        slot(at) = t + 1; slotId(at) = size; size += 1
        return size - 1
      }
      if (equal(s - 1, b, start(t), len(t))) return slotId(at)
      at = (at + 1) & mask
    }
    -1
  }

  /** The id of `w`, or -1 if no token of the row is `w`. */
  def lookup(w: Array[Byte]): Int = {
    var at = DocGatesKernel.mix(
      DocGatesKernel.hashBytes(w, 0, w.length)) & mask
    while (true) {
      val s = slot(at)
      if (s == 0) return -1
      if (equal(s - 1, w, 0, w.length)) return slotId(at)
      at = (at + 1) & mask
    }
    -1
  }

  private def equal(t: Int, w: Array[Byte], off: Int, n: Int): Boolean = {
    if (len(t) != n) return false
    var k = 0
    while (k < n) {
      if (b(start(t) + k) != w(off + k)) return false
      k += 1
    }
    true
  }
}
