package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge, NumericBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native vector kernels as Catalyst expressions.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) are interpreted
  * per element — every lambda application walks an expression tree — so a
  * 64-dim dot product costs ~128 boxed evaluations. This expression is the
  * "drop to a custom `Expression` where built-ins can't express it
  * efficiently" path: one codegen'd tight loop over the two `ArrayData`
  * buffers, identical accumulation order (sequential left fold) to both the
  * HOF formulation and the DuckDB oracle's `list_dot_product`, so results
  * stay bit-exact while the interpretive overhead disappears.
  *
  * Null semantics: null if either array is null (standard binary-expression
  * propagation); null ELEMENTS contribute 0 (documents with padded vectors
  * keep a defined score).
  *
  * Ragged inputs: arrays of different lengths reduce over the COMMON PREFIX
  * (pinned in SimilaritySpec). This is a deliberate total-function contract
  * — a mixed-dimension corpus degrades scores instead of killing a
  * corpus-wide search — but it means a malformed short vector yields a
  * plausible partial score, and the bit-exactness claim above holds only
  * for equal-length inputs (DuckDB's list_dot_product RAISES on mismatch);
  * validate dimensions at ingest when exact parity matters.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_dot expects (array<double>, array<double>), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        acc += a.getDouble(i) * b.getDouble(i)
      }
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Integer squared-L2 distance over two array<bigint> fixed-point vectors —
  * the assignment kernel of [[graft.ops.SimilarityOps.kmeansFixedPoint]].
  * Same preference-ladder rationale as [[DotProduct]]: the HOF form
  * (`aggregate(zip_with(...))`) interprets two lambdas per element; this is
  * one codegen'd long loop, exact 64-bit arithmetic identical to the HOF
  * fold and to the oracle's list comprehension. Null semantics and ragged
  * common-prefix contract as [[DotProduct]] (null elements contribute 0).
  */
case class L2SquaredFp(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_l2sq expects (array<bigint>, array<bigint>), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_l2sq"

  override def nullSafeEval(l: Any, r: Any): Any =
    L2SquaredFp.distance(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  // generated code calls the same function, so every caller shares one
  // definition of the arithmetic
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"${L2SquaredFp.getClass.getName.stripSuffix("$")}.distance($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object L2SquaredFp {

  /** The kernel's arithmetic on two non-null arrays: the expression's
    * interpreted and generated forms and the Lloyd fit's driver-side
    * assignment step all call it, so they agree bit for bit.
    */
  def distance(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val d = a.getLong(i) - b.getLong(i)
        acc += d * d
      }
      i += 1
    }
    acc
  }
}

/** Integer dot product over two array<bigint> fixed-point vectors — the
  * margin kernel of [[graft.ops.ClassifierOps]] (⟨w, x⟩ at Scale²). Same
  * preference-ladder rationale, null semantics and ragged common-prefix
  * contract as [[L2SquaredFp]]; exact 64-bit wraparound arithmetic
  * identical (on NULL-FREE arrays — the HOF fold propagates a null
  * element to a NULL total where this kernel skips the position, the
  * [[L2SquaredFp]] contract) to the fold
  * `aggregate(zip_with(a,b,_*_), 0L, _+_)` it replaces and to the
  * oracle's list comprehension.
  */
case class DotFp(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_dotfp expects (array<bigint>, array<bigint>), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_dotfp"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += $a.getLong($i) * $b.getLong($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fixed-point quantization of an array<double> vector, element x ↦
  * `round(x * 1e6).cast("long")`: the `vfp` encoding the fixed-point
  * similarity operators of [[graft.ops.SimilarityOps]] work in. One loop
  * per array instead of a `transform` lambda interpreted per element, each
  * step exactly as Spark's: the product in double; HALF_UP rounding through
  * `BigDecimal.valueOf`, as `Round` does, with NaN and ±Inf passed through;
  * then the double → long cast, which under ANSI (`ansi`, read from the
  * session like `Cast`'s eval mode) raises on NaN, ±Inf and out-of-range
  * values and otherwise truncates and saturates. NULL elements and a NULL
  * array stay NULL.
  */
case class QuantizeFp(child: Expression, ansi: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_quantize_fp expects array<double>, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(LongType, child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "graft_quantize_fp"

  override def nullSafeEval(input: Any): Any =
    QuantizeFp.quantize(input.asInstanceOf[ArrayData], ansi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"${QuantizeFp.getClass.getName.stripSuffix("$")}.quantize($a, $ansi)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeFp {

  def quantize(a: ArrayData, ansi: Boolean): ArrayData = {
    val n = a.numElements()
    val out = UnsafeArrayData.createFreshArray(n, 8)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) out.setNullAt(i)
      else {
        val x = a.getDouble(i) * 1000000.0
        val r =
          if (x.isNaN || x.isInfinite) x
          else java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
        out.setLong(i, if (ansi) NumericBridge.doubleToLongExact(r) else r.toLong)
      }
      i += 1
    }
    out
  }
}

object VectorFunctions {
  /** Column API for [[DotProduct]] (expects array<double> inputs). */
  def graft_dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for [[L2SquaredFp]] (expects array<bigint> inputs). */
  def graft_l2sq(a: Column, b: Column): Column =
    ColumnBridge.column(L2SquaredFp(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Column API for [[QuantizeFp]]: `vec`'s elements are cast to double
    * first, as `x.cast("double")` would.
    */
  def graft_quantize_fp(vec: Column): Column =
    ColumnBridge.column(QuantizeFp(ColumnBridge.expression(vec.cast("array<double>"))))

  /** Column API for [[DotFp]] (expects array<bigint> inputs). */
  def graft_dotfp(a: Column, b: Column): Column =
    ColumnBridge.column(DotFp(ColumnBridge.expression(a), ColumnBridge.expression(b)))
}
