package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{array, lit, sqrt}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Strict left-fold dot product over two ARRAY<DOUBLE> columns as a
  * native Catalyst expression with whole-stage codegen — the hot loop of
  * every similarity operator compiles to a bare primitive `for` over the
  * unsafe array data, replacing the interpreted
  * `aggregate(zip_with(...))` higher-order chain (which allocates a
  * lambda frame per element).
  *
  * Semantics are EXACTLY the fold `((0 + a0*b0) + a1*b1) + ...` — the
  * same association order as the SQL `aggregate` form and DuckDB's
  * `list_dot_product`, so oracle results are bit-identical (SURVEY.md §4).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}Acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}Acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = ${ev.value}Acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Random-hyperplane sign signature of one ARRAY<DOUBLE> vector as a
  * native Catalyst expression: bit p of the BIGINT result is set iff
  * `v · planes[p]` is positive, for up to 64 planes (Charikar, STOC
  * 2002). Each dot product is [[DotProduct]]'s exact fold — the same
  * `min(numElements)` and element reads — so every bit equals the one
  * `dot(v, planes[p]) > 0D` gives, including Spark's ordering of NaN
  * above every number (a NaN sum sets its bit) and `-0.0 > 0` being
  * false. A null plane row clears its bit, as a null dot would; a null
  * `v` or `planes` gives NULL.
  *
  * One pass over the planes per row. `doGenCode` is a single nested
  * loop, so the generated method stays far below HotSpot's 8,000-byte
  * JIT limit; a per-plane Column sum (`when(dot_p > 0, 1L << p)`) or an
  * `aggregate` lambda over an `array(dot_0, ...)` column does neither.
  */
case class SignBits(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<DOUBLE> and ARRAY<ARRAY<DOUBLE>> arguments, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sign_bits"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val planes = b.asInstanceOf[ArrayData]
    SignBits.requireWidth(planes.numElements())
    var bits = 0L
    var p = 0
    while (p < planes.numElements()) {
      if (!planes.isNullAt(p)) {
        val plane = planes.getArray(p)
        val n = math.min(v.numElements(), plane.numElements())
        var acc = 0.0
        var i = 0
        while (i < n) { acc += v.getDouble(i) * plane.getDouble(i); i += 1 }
        if (acc > 0.0 || java.lang.Double.isNaN(acc)) bits |= 1L << p
      }
      p += 1
    }
    bits
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, planes) => {
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val plane = ctx.freshName("plane")
      val acc = ctx.freshName("acc")
      s"""
         |graft.functions.SignBits.requireWidth($planes.numElements());
         |${ev.value} = 0L;
         |for (int $p = 0; $p < $planes.numElements(); $p++) {
         |  if ($planes.isNullAt($p)) continue;
         |  ArrayData $plane = $planes.getArray($p);
         |  int $n = java.lang.Math.min($v.numElements(), $plane.numElements());
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $v.getDouble($i) * $plane.getDouble($i);
         |  }
         |  if ($acc > 0.0 || java.lang.Double.isNaN($acc)) ${ev.value} |= 1L << $p;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SignBits {
  /** One BIGINT holds at most 64 sign bits. */
  def requireWidth(nPlanes: Int): Unit =
    require(nPlanes <= 64, s"graft_sign_bits packs at most 64 planes, got $nPlanes")
}

/** Column-level vector functions backed by the codegen expressions. */
object VectorFunctions {

  /** Strict-left-fold dot product of two ARRAY<DOUBLE> columns. */
  def dot(a: Column, b: Column): Column =
    bridge.column(DotProduct(bridge.expression(a), bridge.expression(b)))

  /** Sign bits of `v` against each row of `planes` ([[SignBits]]). */
  def signBits(v: Column, planes: Column): Column =
    bridge.column(SignBits(bridge.expression(v), bridge.expression(planes)))

  /** L2 norm via the same fold (sqrt of self-dot). */
  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** Constant ARRAY<DOUBLE> column from a Scala vector. */
  def constVec(xs: Seq[Double]): Column = array(xs.map(lit): _*)
}
