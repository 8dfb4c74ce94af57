package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: per-dimension scalar (SQ8) encode of a
  * vector against broadcast (min, max) parameter arrays —
  * `code_i = round((v_i − mn_i) · 255 / (mx_i − mn_i))`, half-up, with
  * a constant dimension (mx = mn) encoding as 0.
  *
  * Replaces the unrolled 64-entry `array(when(...).otherwise(round(...)))`
  * projection (round-13): that flat form was chosen to stay inside
  * whole-stage codegen, but at 64 dimensions × 3 `element_at`s each its
  * generated class crossed janino's 64 KB method limit and the WHOLE
  * stage fell back to interpreted execution — the exact cost the flat
  * form existed to avoid ([[OuterUpper]] documents the same failure
  * class for its 2080-literal alternative). This loop is a few dozen
  * bytecodes at any dimension.
  *
  * Rounding matches Spark's `round(double)` (and the DuckDB oracle's
  * `ROUND`) EXACTLY: `BigDecimal.valueOf(x).setScale(0, HALF_UP)` — the
  * same call `RoundBase` makes — in both the interpreted and generated
  * paths, so swapping the projection form cannot move a code by one.
  * Elements are assumed non-null; a null array yields null via
  * TernaryExpression's default null handling. Called as
  * [[SqEncode.sq8Encode]]; `graft_sq8_encode` is the SQL name on
  * [[graft.GraftExtensions]] sessions.
  */
case class SqEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_sq8_encode"

  // analysis-time type check: without it a wrong-typed call (array<float>,
  // a scalar, ...) surfaces as an executor-side ClassCastException
  // instead of an analysis error
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val bad = children.map(_.dataType).exists {
      case ArrayType(DoubleType, _) => false
      case _ => true
    }
    if (bad)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires three array<double> arguments, got " +
          children.map(_.dataType.simpleString).mkString(", "))
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(va: Any, mna: Any, mxa: Any): Any = {
    val v = va.asInstanceOf[ArrayData]
    val mn = mna.asInstanceOf[ArrayData]
    val mx = mxa.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val lo = mn.getDouble(i)
      val hi = mx.getDouble(i)
      out(i) =
        if (hi == lo) 0.0
        else java.math.BigDecimal.valueOf((v.getDouble(i) - lo) * 255.0 / (hi - lo))
          .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue()
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, mn, mx) => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val lo = ctx.freshName("lo")
      val hi = ctx.freshName("hi")
      s"""
         |int $n = $v.numElements();
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $lo = $mn.getDouble($i);
         |  double $hi = $mx.getDouble($i);
         |  $out[$i] = ($hi == $lo) ? 0.0D :
         |    java.math.BigDecimal.valueOf(($v.getDouble($i) - $lo) * 255.0D / ($hi - $lo))
         |      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue();
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): SqEncode =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SqEncode {
  /** Column-level entry point: `sq8Encode(v, mns, mxs)`. */
  def sq8Encode(v: Column, mns: Column, mxs: Column): Column =
    GraftPlanBridge.column(SqEncode(
      GraftPlanBridge.expr(v), GraftPlanBridge.expr(mns), GraftPlanBridge.expr(mxs)))
}
