package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level text splitting behind [[graft.ops.TextOps.tokens]] and the
  * Gopher line/paragraph/token arrays — one loop over the document's bytes
  * that replaces `filter(transform(split(...), trim), _ =!= "")` chains
  * (a regex split over a decoded `String`, then one interpreted lambda per
  * piece for the trim and another for the empty filter).
  *
  * Exactness: Spark's `split` decodes the bytes to a Java `String` (each
  * ill-formed UTF-8 sequence becomes U+FFFD), splits, and re-encodes each
  * piece. Well-formed UTF-8 round-trips unchanged, and no ASCII byte ever
  * occurs inside a multi-byte sequence, so cutting the original bytes at
  * ASCII separators gives the very same pieces. Ill-formed input is first
  * put through that same decode-and-replace (`fromString(toString)`), so
  * the output is bit-identical either way.
  */
object TextKernels {

  /** `s` itself when well-formed UTF-8 (Unicode Table 3-7, the set the
    * JDK decoder accepts unchanged), else the JDK decode-and-replace of it.
    */
  def wellFormed(s: UTF8String): UTF8String =
    if (s.isValid) s else UTF8String.fromString(s.toString)

  // \t \n \u000B \f \r and space: exactly Java's regex \s
  private def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')

  private def isTrimmed(b: Byte, trim: Array[Byte]): Boolean = {
    var k = 0
    while (k < trim.length) { if (trim(k) == b) return true; k += 1 }
    false
  }

  /** Non-empty pieces of `s`: cut at runs of ASCII whitespace when `sep` is
    * empty, else at each non-overlapping occurrence of `sep` scanning left
    * to right (`String.split`'s matching); each piece is then trimmed of the
    * ASCII bytes in `trim`, and empty pieces are dropped.
    */
  def split(s: UTF8String, sep: Array[Byte], trim: Array[Byte]): ArrayData = {
    val bytes = wellFormed(s).getBytes
    val n = bytes.length
    // piece bounds as (start, end) pairs, cut first and trimmed below
    var bounds = new Array[Int](16)
    var pieces = 0
    var i = 0
    var start = 0
    while (i <= n) {
      val cut =
        if (i == n) 0
        else if (sep.length == 0) { if (isSpace(bytes(i))) 1 else -1 }
        else {
          var k = 0
          while (k < sep.length && i + k < n && bytes(i + k) == sep(k)) k += 1
          if (k == sep.length) k else -1
        }
      if (cut >= 0) {
        var a = start
        var b = i
        while (a < b && isTrimmed(bytes(a), trim)) a += 1
        while (b > a && isTrimmed(bytes(b - 1), trim)) b -= 1
        if (b > a) {
          if (2 * pieces + 2 > bounds.length) bounds = java.util.Arrays.copyOf(bounds, bounds.length * 2)
          bounds(2 * pieces) = a
          bounds(2 * pieces + 1) = b
          pieces += 1
        }
        i += math.max(cut, 1)
        start = i
      } else i += 1
    }
    val out = new Array[Any](pieces)
    var p = 0
    while (p < pieces) {
      out(p) = UTF8String.fromBytes(bytes, bounds(2 * p), bounds(2 * p + 1) - bounds(2 * p))
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** graft_split(text, sep, trim) → array<string> — see [[TextKernels.split]].
  * `sep` = "" splits at ASCII whitespace runs (`[ \t\n\u000B\f\r]`, Java's
  * regex `\s`); `trim` must be ASCII. NULL text → NULL.
  */
case class TextSplit(child: Expression, sep: String, trim: String) extends UnaryExpression {
  require(trim.forall(_ < 0x80), "trim characters must be ASCII")

  private lazy val sepBytes = sep.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private lazy val trimBytes = trim.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_split expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_split"

  override def nullSafeEval(input: Any): Any =
    TextKernels.split(input.asInstanceOf[UTF8String], sepBytes, trimBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep", sepBytes, "byte[]")
    val trimRef = ctx.addReferenceObj("trim", trimBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextKernels.split($s, $sepRef, $trimRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** graft_well_formed(text) → text with each ill-formed UTF-8 sequence
  * replaced by U+FFFD exactly as the JDK decoder does (the same string any
  * `split`/`regexp_replace` of it sees); well-formed text is returned as
  * is. NULL → NULL.
  */
case class WellFormedUtf8(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_well_formed expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = child.dataType

  override def prettyName: String = "graft_well_formed"

  override def nullSafeEval(input: Any): Any = TextKernels.wellFormed(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.functions.TextKernels.wellFormed($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SplitFunctions {
  /** Column API for [[TextSplit]] (expects string); defaults split at
    * whitespace runs without trimming.
    */
  def graft_split(text: Column, sep: String = "", trim: String = ""): Column =
    ColumnBridge.column(TextSplit(ColumnBridge.expression(text), sep, trim))

  /** Column API for [[WellFormedUtf8]] (expects string). */
  def graft_well_formed(text: Column): Column =
    ColumnBridge.column(WellFormedUtf8(ColumnBridge.expression(text)))
}
