package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** A small word list matched against raw UTF-8 token bytes: the words
  * are bucketed by byte length, so a token is compared only with the
  * words of its own length and never materialized as a string. Shipped
  * to tasks as a codegen reference object. */
final class WordSet(words: Seq[String]) extends Serializable {
  private val byLen: Array[Array[Array[Byte]]] = {
    val bs = words.distinct.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val maxLen = if (bs.isEmpty) -1 else bs.map(_.length).max
    Array.tabulate(maxLen + 1)(n => bs.filter(_.length == n).toArray)
  }

  /** True iff the `len` bytes at (`base`, `off`) equal one of the words. */
  def contains(base: AnyRef, off: Long, len: Int): Boolean = {
    if (len >= byLen.length) return false
    val ws = byLen(len)
    var k = 0
    while (k < ws.length) {
      if (ByteArrayMethods.arrayEquals(base, off, ws(k), Platform.BYTE_ARRAY_OFFSET, len))
        return true
      k += 1
    }
    false
  }
}

/** Per-row repetition statistics over a string array — the fused
  * native form of the sort + run-scan the Gopher repetition filters
  * (Rae et al. 2021, Table A1) need per n-gram order. One kernel call
  * replaces four aggregate/transform HOFs that would each run
  * interpreted and re-evaluate the (expensive, wordSpans-fed) child
  * per element — the q161 `word_spans` lesson applied ahead of time.
  */
object TextKernels {
  /** Regex `\s` in Java (and so in Spark's `split`/`regexp_replace`):
    * `[ \t\n\x0B\f\r]`, i.e. 0x20 and 0x09-0x0D. These bytes never
    * occur inside a multi-byte UTF-8 sequence, so a byte scan finds
    * exactly the whitespace a code-point regex would. */
  @inline private def isWs(c: Byte): Boolean = c == ' ' || (c >= 9 && c <= 13)

  /** First byte index after the leading spaces of `s` (Spark's `trim`
    * strips only 0x20). */
  @inline private def trimStart(base: AnyRef, off: Long, n: Int): Int = {
    var b = 0
    while (b < n && Platform.getByte(base, off + b) == ' ') b += 1
    b
  }

  /** End (exclusive) of `s` without its trailing spaces, not before `b`. */
  @inline private def trimEnd(base: AnyRef, off: Long, n: Int, b: Int): Int = {
    var e = n
    while (e > b && Platform.getByte(base, off + e - 1) == ' ') e -= 1
    e
  }

  /** One byte pass over a document, returning
    * (n_tokens, n_chars, n_other, n_stop):
    *   - `n_tokens`: size of `split(trim(s), "\\s+", -1)`, or 0 when
    *     `trim(s)` is empty — the [[graft.text.Text.tokens]] array's size;
    *   - `n_chars`: code points, as `length(s)`;
    *   - `n_other`: code points outside `[a-z0-9 ]`, as
    *     `length(s) - length(regexp_replace(s, "[^a-z0-9 ]", ""))`;
    *   - `n_stop`: tokens equal to a word of `stop`.
    * Counts are defined for valid UTF-8, which every Spark string read
    * from parquet or built by Spark is. */
  def textStats(s: UTF8String, stop: WordSet): InternalRow = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val b = trimStart(base, off, n)
    val e = trimEnd(base, off, n, b)
    var nChars = 0
    var nKept = 0
    var nTok = 0
    var nStop = 0
    var tokStart = b
    var inWs = false
    var i = 0
    while (i < n) {
      val c = Platform.getByte(base, off + i)
      if ((c & 0xC0) != 0x80) {
        nChars += 1
        if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' ') nKept += 1
      }
      if (i >= b && i < e) {
        if (isWs(c)) {
          if (!inWs) {
            nTok += 1
            if (stop.contains(base, off + tokStart, i - tokStart)) nStop += 1
            inWs = true
          }
        } else if (inWs) {
          tokStart = i
          inWs = false
        }
      }
      i += 1
    }
    if (e > b) {
      // the last token; empty when the text ends in a whitespace run
      val last = if (inWs) e else tokStart
      nTok += 1
      if (stop.contains(base, off + last, e - last)) nStop += 1
    }
    InternalRow(nTok, nChars, nChars - nKept, nStop)
  }

  /** `split(trim(s), "\\s+", -1)`, or the empty array when `trim(s)`
    * is empty: the trimmed bytes are copied once and every token is a
    * view into that copy. Leading and trailing empty tokens are kept,
    * as Java's `String.split` with a negative limit keeps them. */
  def tokens(s: UTF8String): ArrayData = {
    val n = s.numBytes
    val b = trimStart(s.getBaseObject, s.getBaseOffset, n)
    val e = trimEnd(s.getBaseObject, s.getBaseOffset, n, b)
    if (e == b) return new GenericArrayData(Array.empty[AnyRef])
    val m = e - b
    val bytes = new Array[Byte](m)
    Platform.copyMemory(s.getBaseObject, s.getBaseOffset + b,
      bytes, Platform.BYTE_ARRAY_OFFSET, m)
    var out = new Array[AnyRef](16)
    var k = 0
    var tokStart = 0
    var i = 0
    while (i <= m) {
      if (i == m || isWs(bytes(i))) {
        // token [tokStart, i); empty after a trailing whitespace run
        if (k == out.length) out = java.util.Arrays.copyOf(out, k * 2)
        out(k) = UTF8String.fromBytes(bytes, tokStart, i - tokStart)
        k += 1
        i += 1
        while (i < m && isWs(bytes(i))) i += 1
        tokStart = i
      } else i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }

  /** `regexp_replace(s, "\\s+", " ")` as a byte loop: every run of
    * regex whitespace becomes one space. */
  def collapseWhitespace(s: UTF8String): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    val out = new Array[Byte](n)
    var m = 0
    var prevWs = false
    var i = 0
    while (i < n) {
      val c = Platform.getByte(base, off + i)
      if (isWs(c)) {
        if (!prevWs) { out(m) = ' '; m += 1 }
        prevWs = true
      } else {
        out(m) = c; m += 1
        prevWs = false
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, m)
  }

  /** Sorts a copy of `arr` (binary UTF-8 order — Spark's `array_sort`
    * and DuckDB's default VARCHAR collation agree) and scans runs:
    *   - `top_count`/`top_chars`: occurrence count and CHARACTER
    *     length of the most frequent element; ties break to the
    *     binary-smallest element (the first max run in sorted order),
    *     mirroring SQL's `ORDER BY cnt DESC, elem ASC`.
    *   - `dup_elems`/`dup_chars`: total occurrences and
    *     count×length character mass of elements occurring ≥ 2 times
    *     (the type-count formulation of "characters in duplicated
    *     n-grams" — overlaps between distinct types are NOT
    *     de-overlapped, exactly as the oracle groups them).
    * Empty input -> all zeros. Null elements -> null result. */
  def runStats(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    if (n == 0) return InternalRow(0, 0, 0L, 0L)
    val ts = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      ts(i) = arr.getUTF8String(i)
      i += 1
    }
    java.util.Arrays.sort(ts, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    var topCount = 0
    var topChars = 0
    var dupElems = 0L
    var dupChars = 0L
    var runStart = 0
    i = 1
    while (i <= n) {
      if (i == n || !ts(i).equals(ts(runStart))) {
        val run = i - runStart
        val chars = ts(runStart).numChars()
        if (run > topCount) { topCount = run; topChars = chars }
        if (run >= 2) {
          dupElems += run
          dupChars += run.toLong * chars
        }
        runStart = i
      }
      i += 1
    }
    InternalRow(topCount, topChars, dupElems, dupChars)
  }

  /** Shannon entropy of the non-whitespace character distribution —
    * the classic gibberish / low-diversity signal (CCNet-adjacent
    * pipelines gate on it next to the LM perplexity): per distinct
    * codepoint, contribution −p·ln(p) snapped to integer
    * 1e-6 micros, SUMMED AS EXACT INTEGERS so the total is
    * order-independent and cross-engine exact up to the snapped ln
    * (the q92 rounded-ln house pattern; the oracle mirrors
    * `floor(−(p·ln p)·1e6 + 0.5)` token-for-token). Whitespace =
    * regex `\s` ([ \t\n\f\r]), matching the oracle's RE2 strip.
    * Returns (n_chars, distinct_chars, entropy_micros); the all-
    * whitespace row returns zeros (callers filter n_chars > 0). */
  def charEntropy(s: UTF8String): InternalRow = {
    val str = s.toString
    val counts = scala.collection.mutable.HashMap.empty[Int, Int]
    var total = 0
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!ws) {
        counts.update(cp, counts.getOrElse(cp, 0) + 1)
        total += 1
      }
      i += Character.charCount(cp)
    }
    if (total == 0) return InternalRow(0, 0, 0L)
    var micros = 0L
    counts.valuesIterator.foreach { cnt =>
      val p = cnt.toDouble / total
      micros += math.floor(-(p * math.log(p)) * 1e6 + 0.5).toLong
    }
    InternalRow(total, counts.size, micros)
  }
}

/** char_entropy(string) ->
  * struct<n_chars:int, distinct_chars:int, entropy_micros:bigint>. */
case class CharEntropy(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("distinct_chars", IntegerType, nullable = false),
    StructField("entropy_micros", LongType, nullable = false)))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(v: Any): Any =
    TextKernels.charEntropy(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.charEntropy($c)")

  override protected def withNewChildInternal(c: Expression): CharEntropy =
    copy(child = c)
}

/** run_stats(array<string>) ->
  * struct<top_count:int, top_chars:int, dup_elems:bigint, dup_chars:bigint>. */
case class RunStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("top_count", IntegerType, nullable = false),
    StructField("top_chars", IntegerType, nullable = false),
    StructField("dup_elems", LongType, nullable = false),
    StructField("dup_chars", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "run_stats"

  override def nullSafeEval(v: Any): Any =
    TextKernels.runStats(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextKernels.runStats($c);
      ${ev.isNull} = (${ev.value} == null);
    """)

  override protected def withNewChildInternal(c: Expression): RunStats =
    copy(child = c)
}

/** text_stats(string) -> struct<n_tokens:int, n_chars:int, n_other:int,
  * n_stop:int> ([[TextKernels.textStats]]), `stopwords` matched against
  * the tokens. Equal stopword lists give semantically equal
  * expressions, so subexpression elimination evaluates one call per
  * row however many of [[graft.text.Text]]'s ratios read it. */
case class TextStats(child: Expression, stopwords: Seq[String]) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_other", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))
  override def prettyName: String = "text_stats"

  @transient private lazy val words = new WordSet(stopwords)

  override def nullSafeEval(v: Any): Any =
    TextKernels.textStats(v.asInstanceOf[UTF8String], words)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopwords", words, classOf[WordSet].getName)
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.textStats($c, $ref)")
  }

  override protected def withNewChildInternal(c: Expression): TextStats =
    copy(child = c)
}

/** ws_tokens(string) -> array<string> ([[TextKernels.tokens]]). */
case class WsTokens(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"

  override def nullSafeEval(v: Any): Any =
    TextKernels.tokens(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.tokens($c)")

  override protected def withNewChildInternal(c: Expression): WsTokens =
    copy(child = c)
}

/** collapse_ws(string) -> string ([[TextKernels.collapseWhitespace]]). */
case class CollapseWhitespace(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "collapse_ws"

  override def nullSafeEval(v: Any): Any =
    TextKernels.collapseWhitespace(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextKernels.collapseWhitespace($c)")

  override protected def withNewChildInternal(c: Expression): CollapseWhitespace =
    copy(child = c)
}

object TextFunctions {
  def textStats(text: Column, stopwords: Seq[String]): Column =
    GraftBridge.column(TextStats(GraftBridge.expression(text), stopwords))

  def wsTokens(text: Column): Column =
    GraftBridge.column(WsTokens(GraftBridge.expression(text)))

  def collapseWhitespace(text: Column): Column =
    GraftBridge.column(CollapseWhitespace(GraftBridge.expression(text)))

  def runStats(arr: Column): Column =
    GraftBridge.column(RunStats(GraftBridge.expression(arr)))

  def charEntropy(s: Column): Column =
    GraftBridge.column(CharEntropy(GraftBridge.expression(s)))
}
