package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: elementwise difference of two
  * array<double> columns — the residual kernel for
  * IVF-PQ encoding (v − assigned coarse centroid, q144).
  *
  * The declarative form (`zip_with(a, b, (x, y) -> x - y)`) evaluates
  * INTERPRETED (lambda HOFs have no doGenCode in Spark 4.1) — per-element
  * dispatch and boxing over every vector of the corpus at encode time.
  * This expression runs a tight primitive loop into an
  * `UnsafeArrayData.fromPrimitiveArray` (no boxing) and participates in
  * whole-stage codegen — the [[DotProduct]] recipe applied to the one
  * other arithmetic kernel the ANN stack needs.
  *
  * Output length is min(len(a), len(b)); elements assumed non-null
  * (embedding vectors), null arrays yield null via BinaryExpression.
  * Called as [[VecSub.vecSub]]; `graft_vec_sub` is the SQL name on
  * [[graft.GraftExtensions]] sessions.
  */
case class VecSub(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_vec_sub"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = x.getDouble(i) - y.getDouble(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val tmp = ctx.freshName("tmp")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double[] $tmp = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $tmp[$i] = $a.getDouble($i) - $b.getDouble($i);
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($tmp);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSub =
    copy(left = newLeft, right = newRight)
}

object VecSub {
  /** Column-level entry point: `vecSub(a, b)`. */
  def vecSub(a: Column, b: Column): Column =
    GraftPlanBridge.column(VecSub(GraftPlanBridge.expr(a), GraftPlanBridge.expr(b)))
}
