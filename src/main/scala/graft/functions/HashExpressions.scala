package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native dedup-signature kernels as Catalyst expressions.
  *
  * The HOF formulations (`aggregate`/`transform` folds) evaluate a lambda
  * expression tree per array element: a 64-bit SimHash costs 64 vote folds ×
  * |tokens| interpreted steps, and a 64-permutation MinHash signature costs
  * 64 × |shingles| interpreted `xxhash64` applications. Both collapse to one
  * codegen'd tight loop here — same "custom Expression where built-ins are
  * the bottleneck" path as [[DotProduct]].
  *
  * Mixing uses Spark's own XXH64 (`XXH64.hashLong(h, seed)`), so results are
  * deterministic across the cluster and versions, with no string allocation
  * in the inner loop.
  */

/** simhash64(hashes: array<long>) → long: bit b of the result is set iff
  * strictly more than half of the (non-null) input hashes have bit b set —
  * i.e. the ±1 votes on bit b sum positive, identical to the reference HOF
  * fold `DedupOps.simhashFromHashes`. Empty input → 0L.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val ones = new Array[Int](64)
    var valid = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        valid += 1
        val h = a.getLong(i)
        var b = 0
        while (b < 64) { ones(b) += ((h >>> b) & 1L).toInt; b += 1 }
      }
      i += 1
    }
    var r = 0L
    var b = 0
    while (b < 64) { if (2 * ones(b) > valid) r |= (1L << b); b += 1 }
    r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val ones = ctx.freshName("ones")
      val valid = ctx.freshName("valid")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val r = ctx.freshName("r")
      s"""
         |int $n = $a.numElements();
         |int[] $ones = new int[64];
         |int $valid = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) continue;
         |  $valid++;
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) $ones[$b] += (int) (($h >>> $b) & 1L);
         |}
         |long $r = 0L;
         |for (int $b = 0; $b < 64; $b++) if (2 * $ones[$b] > $valid) $r |= (1L << $b);
         |${ev.value} = $r;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** minhash_sig(hashes: array<long>, k) → array<long> of length k: element p
  * is `min over h of XXH64.hashLong(h, p)` — k independent permutations of
  * the base shingle hashes, one pass over the input. Null elements are
  * skipped; an EMPTY input yields NULL (a no-shingle document has no
  * signature — filter such documents before signing).
  */
case class MinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes > 0, "numHashes must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n == 0) return null
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val h = a.getLong(i)
        var p = 0
        while (p < numHashes) {
          val m = XXH64.hashLong(h, p.toLong)
          if (m < sig(p)) sig(p) = m
          p += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val h = ctx.freshName("h")
      val m = ctx.freshName("m")
      val xxh = classOf[XXH64].getName
      s"""
         |int $n = $a.numElements();
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  long[] $sig = new long[$numHashes];
         |  java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i)) continue;
         |    long $h = $a.getLong($i);
         |    for (int $p = 0; $p < $numHashes; $p++) {
         |      long $m = $xxh.hashLong($h, (long) $p);
         |      if ($m < $sig[$p]) $sig[$p] = $m;
         |    }
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($sig);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** band_hashes(sig: array<long>, bands, rows) → array<long> of length
  * `bands`: element b is `xxhash64(slice(sig, b·rows + 1, rows))` — Spark's
  * array hash, a seed-42 fold of `XXH64.hashLong` over the slice's non-null
  * elements (a slice past the end, or a NULL signature, hashes to the seed
  * 42, as `xxhash64` of an empty or NULL array does). One loop over the
  * signature instead of one interpreted lambda per band.
  */
case class BandHashes(child: Expression, bands: Int, rows: Int) extends UnaryExpression {
  require(bands > 0 && rows > 0, "bands and rows must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_band_hashes expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_band_hashes"

  override def eval(input: InternalRow): Any =
    BandKernel.hashes(child.eval(input).asInstanceOf[ArrayData], bands, rows)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = child.genCode(ctx)
    ev.copy(code = code"""
       |${a.code}
       |${CodeGenerator.javaType(dataType)} ${ev.value} = graft.functions.BandKernel.hashes(
       |  ${a.isNull} ? null : ${a.value}, $bands, $rows);
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Kernel of [[BandHashes]]. */
object BandKernel {
  def hashes(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var i = b * rows
      while (i < math.min(b * rows + rows, n)) {
        if (!sig.isNullAt(i)) h = XXH64.hashLong(sig.getLong(i), h)
        i += 1
      }
      out(b) = h
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Kernel of [[NGramHashes]]. The items are laid out once as
  * `t0 t1 … t(len−1)` in one byte buffer, so the space-joined gram j is the
  * contiguous slice from the start of item j to the end of item j+n−1 and
  * is hashed in place: no string is built per gram. Distinct grams are kept
  * with a primitive open-address set, first occurrences in order. An array
  * holding NULL items takes the per-gram `concatWs` path (concat_ws skips a
  * NULL together with its separator, so no single layout serves every gram).
  */
object NGramKernel {
  def hashes(a: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val len = a.numElements()
    if (len < n) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](len - n + 1)
    var hasNull = false
    var k = 0
    while (k < len && !hasNull) { hasNull = a.isNullAt(k); k += 1 }
    if (!hasNull) {
      val starts = new Array[Int](len + 1)
      var total = 0
      var i = 0
      while (i < len) { starts(i) = total; total += a.getUTF8String(i).numBytes + 1; i += 1 }
      starts(len) = total
      val buf = new Array[Byte](total)
      i = 0
      while (i < len) {
        a.getUTF8String(i).writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + starts(i))
        buf(starts(i + 1) - 1) = ' '
        i += 1
      }
      i = 0
      while (i < out.length) {
        val from = starts(i)
        out(i) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET + from, starts(i + n) - 1 - from, 42L)
        i += 1
      }
    } else {
      val space = UTF8String.fromString(" ")
      val parts = new Array[UTF8String](n)
      var i = 0
      while (i < out.length) {
        var j = 0
        while (j < n) { parts(j) = if (a.isNullAt(i + j)) null else a.getUTF8String(i + j); j += 1 }
        val s = UTF8String.concatWs(space, parts: _*)
        out(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(if (distinct) firstOccurrences(out) else out)
  }

  private def firstOccurrences(xs: Array[Long]): Array[Long] = {
    val mask = Integer.highestOneBit(xs.length * 2 + 1) * 2 - 1
    val keys = new Array[Long](mask + 1)
    val used = new Array[Boolean](mask + 1)
    val kept = new Array[Long](xs.length)
    var k = 0
    var i = 0
    while (i < xs.length) {
      val x = xs(i)
      var slot = (java.lang.Long.hashCode(x * 0x9E3779B97F4A7C15L)) & mask
      while (used(slot) && keys(slot) != x) slot = (slot + 1) & mask
      if (!used(slot)) { used(slot) = true; keys(slot) = x; kept(k) = x; k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(kept, k)
  }
}

/** ngram_hashes(tokens: array<string>, n, distinct) → array<long>: the
  * xxhash64 (seed 42, Spark's default) of every n consecutive tokens joined
  * with a single space — byte-identical to the HOF build
  * `transform(sequence(1, size-n+1), i => xxhash64(concat_ws(" ", slice(toks,
  * i, n))))`, including concat_ws's skip-null semantics, but as ONE native
  * loop ([[NGramKernel]]) instead of an interpreted lambda tree per position
  * (slice allocates an array, concat_ws and xxhash64 evaluate boxed, per
  * element). With `distinct` the result keeps first occurrences in order,
  * matching `array_distinct`. Fewer than n tokens → EMPTY array (not null):
  * a short document has no n-grams, mirroring the `when(size >= n)` guard
  * every HOF call site used.
  *
  * Serves every n-gram consumer on the hot path: shingle sets
  * (DedupOps.hashedShingles), trigram repetition and bigram shares
  * (TextOps.repetitionStats), each of which previously interpreted its
  * lambda per position.
  */
case class NGramHashes(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, "n must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ngram_hashes expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_hashes"

  override def nullSafeEval(input: Any): Any =
    NGramKernel.hashes(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.NGramKernel.hashes($a, $n, $distinct);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** top_count(hashes: array<long>) → long: the maximum multiplicity of any
  * value in the array (0 for empty; null elements skipped). The per-document
  * reduction behind "top n-gram share" repetition metrics: computing it
  * in-row turns the explode → groupBy(doc, gram) → groupBy(doc) shuffle
  * pyramid into a narrow projection — the value is a pure function of the
  * row, so no cross-row aggregation (and therefore no exchange) is ever
  * needed. Sort-then-scan over a primitive copy, O(d log d) per document.
  */
case class TopCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_top_count expects array<bigint>, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_top_count"

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val n = a.numElements()
    val vals = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) { vals(m) = a.getLong(i); m += 1 }
      i += 1
    }
    if (m == 0) return 0L
    java.util.Arrays.sort(vals, 0, m)
    var best = 1L
    var run = 1L
    i = 1
    while (i < m) {
      if (vals(i) == vals(i - 1)) { run += 1; if (run > best) best = run }
      else run = 1L
      i += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val vals = ctx.freshName("vals")
      val m = ctx.freshName("m")
      val i = ctx.freshName("i")
      val best = ctx.freshName("best")
      val run = ctx.freshName("run")
      s"""
         |int $n = $a.numElements();
         |long[] $vals = new long[$n];
         |int $m = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) $vals[$m++] = $a.getLong($i);
         |}
         |if ($m == 0) {
         |  ${ev.value} = 0L;
         |} else {
         |  java.util.Arrays.sort($vals, 0, $m);
         |  long $best = 1L; long $run = 1L;
         |  for (int $i = 1; $i < $m; $i++) {
         |    if ($vals[$i] == $vals[$i - 1]) { $run++; if ($run > $best) $best = $run; }
         |    else $run = 1L;
         |  }
         |  ${ev.value} = $best;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashFunctions {
  /** Column API for [[SimHash64]] (expects array<bigint>). */
  def graft_simhash(hashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(hashes)))

  /** Column API for [[MinHashSignature]] (expects array<bigint>). */
  def graft_minhash_sig(hashes: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(hashes), numHashes))

  /** Column API for [[BandHashes]] (expects array<bigint>). */
  def graft_band_hashes(sig: Column, bands: Int, rows: Int): Column =
    ColumnBridge.column(BandHashes(ColumnBridge.expression(sig), bands, rows))

  /** Column API for [[NGramHashes]] (expects array<string>). */
  def graft_ngram_hashes(tokens: Column, n: Int, distinct: Boolean = false): Column =
    ColumnBridge.column(NGramHashes(ColumnBridge.expression(tokens), n, distinct))

  /** Column API for [[TopCount]] (expects array<bigint>). */
  def graft_top_count(hashes: Column): Column =
    ColumnBridge.column(TopCount(ColumnBridge.expression(hashes)))
}
