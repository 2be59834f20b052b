package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Shared imperative kernels for the text expressions. Called from both
  * interpreted eval and the generated code (one static call per row
  * keeps whole-stage codegen intact while the per-token loop runs as
  * plain JIT-compiled Java). The MinHash/SimHash signatures live in
  * [[PortableHashKernels]]; this object holds the tokenizing kernels.
  */
object TextHashKernels {

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || (b >= 0x09 && b <= 0x0D)

  /** Token byte-ranges (start, endExclusive) of maximal non-whitespace
    * runs. ASCII whitespace only (regex \s); UTF-8 continuation bytes are
    * >= 0x80 so multi-byte characters can never be mistaken for it.
    */
  private def tokenSpans(base: AnyRef, off: Long, len: Int): (Array[Int], Int) = {
    var spans = new Array[Int](32)
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
      if (i < len) {
        val start = i
        while (i < len && !isWs(org.apache.spark.unsafe.Platform.getByte(base, off + i))) i += 1
        if (nTok * 2 + 2 > spans.length) spans = java.util.Arrays.copyOf(spans, spans.length * 2)
        spans(nTok * 2) = start
        spans(nTok * 2 + 1) = i
        nTok += 1
      }
    }
    (spans, nTok)
  }

  /** The space-joined n-gram window [t, t+n) as an exact-size byte
    * array — identical bytes to concat_ws(" ", tokens), the canonical
    * gram encoding.
    */
  private def gramBytes(base: AnyRef, off: Long, spans: Array[Int], t: Int, n: Int)
      : Array[Byte] = {
    var need = n - 1
    var j = t
    while (j < t + n) { need += spans(j * 2 + 1) - spans(j * 2); j += 1 }
    val buf = new Array[Byte](need)
    var pos = 0
    j = t
    while (j < t + n) {
      if (j > t) { buf(pos) = ' '; pos += 1 }
      val s = spans(j * 2); val e = spans(j * 2 + 1)
      org.apache.spark.unsafe.Platform.copyMemory(base, off + s, buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos, e - s)
      pos += e - s
      j += 1
    }
    buf
  }

  /** Fused per-document text statistics — ONE byte pass replacing the
    * three regex executions q41 used to pay per row (`regexp_replace`
    * even materialized a filtered copy of the text just to measure it):
    *
    *  - alpha    = chars matching `[A-Za-z ]`
    *               (== `length(regexp_replace(text, "[^A-Za-z ]", ""))`)
    *  - n_tokens = maximal non-`\s` runs (== `regexp_count(text, "\S+")`)
    *  - n_bpeish = maximal same-class runs over {letter, digit, other}
    *               (== `regexp_count(text, "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+")`
    *               — the alternation matches exactly one maximal
    *               class-run per attempt, so counting run starts is
    *               equivalent)
    *
    * UTF-8 safe without decoding: every class test is ASCII-only, and
    * bytes >= 0x80 (negative as signed Byte — they fail every ASCII
    * range check) fall into the `other` class, so a multi-byte char's
    * lead+continuation bytes merge into the surrounding `other` run
    * exactly as the regex's `[^A-Za-z0-9\s]+` merges the chars.
    * `\s` here is Java regex `\s` = `[ \t\n\x0B\f\r]`, all ASCII.
    */
  def textStats(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    var alpha = 0
    var nTok = 0
    var nBp = 0
    var prev = 0 // 0 = whitespace, 1 = letter, 2 = digit, 3 = other
    var i = 0
    while (i < len) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      val cls =
        if (b == ' ' || (b >= 0x09 && b <= 0x0D)) 0
        else if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) 1
        else if (b >= '0' && b <= '9') 2
        else 3
      if (cls == 1 || b == ' ') alpha += 1
      if (cls != 0) {
        if (prev == 0) nTok += 1
        if (cls != prev) nBp += 1
      }
      prev = cls
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](alpha, nTok, nBp))
  }

  /** Word n-gram strings (space-joined), native: one span scan + one
    * exact-size copy per gram — no per-element lambda frames, no slice
    * arrays, no concat_ws trees. Byte-identical output to the HOF
    * formulation (differential-tested).
    */
  def wordNgrams(s: org.apache.spark.unsafe.types.UTF8String, n: Int): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val (spans, nTok) = tokenSpans(base, off, s.numBytes)
    if (nTok < n) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](nTok - n + 1)
    var t = 0
    while (t + n <= nTok) {
      // gramBytes allocates exactly the gram's size, so the buffer can be
      // handed to UTF8String without copying
      out(t) = org.apache.spark.unsafe.types.UTF8String.fromBytes(
        gramBytes(base, off, spans, t, n))
      t += 1
    }
    new GenericArrayData(out)
  }
}

/** Native word-n-gram expression (see [[TextHashKernels.wordNgrams]]). */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n > 0 && n <= 64)
  override def prettyName: String = "word_ngrams"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TextHashKernels.wordNgrams(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.TextHashKernels.wordNgrams($v, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
}

/** Fused per-document text statistics (see [[TextHashKernels.textStats]]):
  * struct<alpha:int, n_tokens:int, n_bpeish:int> in one byte pass.
  * Field dtypes mirror the regex formulations they replace
  * (`length`/`regexp_count` are IntegerType), so consumers and oracles
  * see identical schemas. */
case class TextStats(child: Expression) extends UnaryExpression {
  override def prettyName: String = "text_stats"
  override def dataType: DataType = TextStats.schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TextHashKernels.textStats(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.TextHashKernels.textStats($v);")

  override protected def withNewChildInternal(newChild: Expression): TextStats =
    copy(child = newChild)
}

object TextStats {
  val schema: StructType = StructType(Seq(
    StructField("alpha", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_bpeish", IntegerType, nullable = false)))
}
