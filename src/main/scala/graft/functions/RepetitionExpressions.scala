package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel behind [[graft.ops.TextOps.gopherRepetition]] — the full
  * Gopher repetition-statistics family (Rae et al. 2021, Appendix A.1):
  * duplicate line/paragraph fractions, duplicate line/paragraph CHARACTER
  * fractions, top n-gram character fractions (n = 2..4) and duplicated
  * n-gram character fractions (n = 5..10).
  *
  * Every metric is a pure per-document function, so the whole family is a
  * narrow projection — no explode, no groupBy, nothing shuffles. One call
  * computes every n in `lo..hi` for a document, called from
  * whole-stage-codegen'd code.
  *
  * Exact definitions over an items array (tokens for n ≥ 2, trimmed
  * non-empty lines/paragraphs for n = 1) — `len()` below counts CODEPOINTS
  * (DuckDB `length()` units):
  *
  *  - `windows`  = max(0, |items| − n + 1); gram j = items[j..j+n−1]
  *    joined with a single space; `gramChars(g)` = Σ len(token) over the
  *    gram's tokens (separators NOT counted: for tokens produced by a
  *    whitespace split this equals len(joined) − (n−1); for n = 1 it is
  *    the line/paragraph length itself).
  *  - `distinct` = number of distinct grams.
  *  - `rep_chars` = Σ over grams (count−1)·gramChars — characters in
  *    occurrences AFTER the first (the duplicate line/paragraph character
  *    numerator, the datatrove `find_duplicates` convention).
  *  - `cov_chars` = Σ len(items[i]) over positions i covered by at least
  *    one window j with count(gram_j) > 1, j ≤ i ≤ j+n−1 — characters
  *    inside ANY duplicated n-gram, overlaps counted once, FIRST
  *    occurrences included (the dup-n-gram numerator for n = 5..10).
  *  - `top_chars` = max over REPEATED grams (count ≥ 2) of
  *    count·gramChars (0 when no gram repeats) — the top-n-gram numerator
  *    for n = 2..4; taking the max of the product needs no tie-break, and
  *    requiring a repeat keeps a count-1 gram in a short unique document
  *    from claiming a large fraction (the datatrove/NeMo convention).
  *    Overlapping occurrences double-count characters, so the fraction
  *    can exceed 1 on heavily-looped text — faithful to the reference
  *    implementations, which divide the same product by document length.
  *  - `tot_chars` = Σ len(items[i]) over ALL positions (computed even when
  *    windows = 0, so callers can always form fractions).
  *
  * Null elements count as "" (length 0); ill-formed UTF-8 elements are
  * read as their JDK decode (U+FFFD replacement). A DuckDB oracle replays
  * the definitions with `array_to_string` verbatim. Precondition for
  * n ≥ 2: items must not contain spaces (true for any whitespace-split
  * token array), so equal joined strings ⇔ equal item sequences.
  *
  * Gram identity never builds the joined string. Each item is interned to
  * an id once; the n-gram class of window j is then refined level by level,
  * `class_n(j) = intern(class_{n−1}(j), id(j+n−1))` in a primitive
  * long → int open-address table, so equal classes ⇔ equal item sequences
  * by induction on n. `gramChars_n(j) = gramChars_{n−1}(j) + len(j+n−1)`,
  * and coverage is a difference array over positions: O(|items|) per level.
  */
object RepetitionKernel {

  /** Stats struct(g<lo>, …, g<hi>) of `a` — see the object doc. */
  def compute(a: ArrayData, lo: Int, hi: Int): InternalRow = {
    val len = a.numElements()
    // level 1: intern each item, record its codepoint length
    val ids = new Array[Int](len)
    val lens = new Array[Int](len)
    val words = new java.util.HashMap[UTF8String, Integer](2 * len)
    var tot = 0L
    var i = 0
    while (i < len) {
      val s = if (a.isNullAt(i)) UTF8String.EMPTY_UTF8 else TextKernels.wellFormed(a.getUTF8String(i))
      val known = words.putIfAbsent(s, words.size)
      ids(i) = if (known == null) words.size - 1 else known
      lens(i) = s.numChars()
      tot += lens(i)
      i += 1
    }
    val cls = ids.clone()
    val gramChars = new Array[Long](len)
    i = 0
    while (i < len) { gramChars(i) = lens(i); i += 1 }
    var classes = words.size
    val grams = if (hi > 1) new LongTable(len) else null
    val counts = new Array[Int](math.max(len, 1))
    val diff = new Array[Int](len + 1)
    val out = new Array[Any](hi - lo + 1)
    var n = 1
    while (n <= hi) {
      val windows = len - n + 1
      if (n > 1 && windows > 0) {
        grams.clear()
        var j = 0
        while (j < windows) {
          val k = j + n - 1
          cls(j) = grams.intern((cls(j).toLong << 32) | ids(k))
          gramChars(j) += lens(k)
          j += 1
        }
        classes = grams.size
      }
      if (n >= lo) out(n - lo) =
        if (windows <= 0) new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L, 0L, tot))
        else level(n, windows, classes, cls, gramChars, lens, counts, diff, tot)
      n += 1
    }
    new GenericInternalRow(out)
  }

  private def level(
      n: Int, windows: Int, classes: Int, cls: Array[Int], gramChars: Array[Long],
      lens: Array[Int], counts: Array[Int], diff: Array[Int], tot: Long): InternalRow = {
    java.util.Arrays.fill(counts, 0, classes, 0)
    var j = 0
    while (j < windows) { counts(cls(j)) += 1; j += 1 }
    java.util.Arrays.fill(diff, 0)
    var rep = 0L
    var top = 0L
    j = 0
    while (j < windows) {
      val c = cls(j)
      val k = math.abs(counts(c))
      if (k > 1) {
        // first visit flips the sign: later occurrences are the repeats
        if (counts(c) > 0) counts(c) = -k else rep += gramChars(j)
        val prod = k * gramChars(j)
        if (prod > top) top = prod
        diff(j) += 1
        diff(j + n) -= 1
      }
      j += 1
    }
    var cov = 0L
    var run = 0
    var i = 0
    while (i < lens.length) {
      run += diff(i)
      if (run > 0) cov += lens(i)
      i += 1
    }
    new GenericInternalRow(Array[Any](windows.toLong, classes.toLong, rep, cov, top, tot))
  }

  /** Open-address intern table of non-negative longs → dense ids. */
  private final class LongTable(expected: Int) {
    private val bits = 32 - Integer.numberOfLeadingZeros(math.max(expected, 1) * 2 + 1)
    private val mask = (1 << bits) - 1
    private val keys = new Array[Long](mask + 1)
    private val vals = new Array[Int](mask + 1)
    var size = 0

    def clear(): Unit = { java.util.Arrays.fill(keys, -1L); size = 0 }

    def intern(key: Long): Int = {
      var slot = ((key * 0x9E3779B97F4A7C15L) >>> (64 - bits)).toInt & mask
      while (true) {
        val k = keys(slot)
        if (k == -1L) {
          keys(slot) = key; vals(slot) = size; size += 1
          return size - 1
        }
        if (k == key) return vals(slot)
        slot = (slot + 1) & mask
      }
      -1
    }
  }
}

/** graft_rep_stats(items: array<string>, lo, hi) →
  * struct(g<lo>, …, g<hi>), each g<n> = struct(windows, distinct,
  * rep_chars, cov_chars, top_chars, tot_chars) — see [[RepetitionKernel]]
  * for the exact definitions. NULL array → NULL.
  */
case class GopherRepStats(child: Expression, lo: Int, hi: Int) extends UnaryExpression {
  require(lo >= 1 && hi >= lo, "need 1 <= lo <= hi")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_rep_stats expects array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = StructType((lo to hi).map(n =>
    StructField(s"g$n", GopherRepStats.statsType, nullable = false)))

  override def prettyName: String = "graft_rep_stats"

  override def nullSafeEval(input: Any): Any =
    RepetitionKernel.compute(input.asInstanceOf[ArrayData], lo, hi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.RepetitionKernel.compute($a, $lo, $hi);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GopherRepStats {
  val statsType: StructType = StructType(
    Seq("windows", "distinct", "rep_chars", "cov_chars", "top_chars", "tot_chars")
      .map(StructField(_, LongType, nullable = false)))
}

object RepetitionFunctions {
  /** Column API for [[GopherRepStats]] (expects array<string>). */
  def graft_rep_stats(items: Column, lo: Int, hi: Int): Column =
    ColumnBridge.column(GopherRepStats(ColumnBridge.expression(items), lo, hi))
}
