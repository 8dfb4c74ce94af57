package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression: dot product of two array<double> columns.
  *
  * The declarative form (`aggregate(zip_with(a, b, ...), ...)`) is correct
  * but higher-order functions evaluate INTERPRETED in Spark — per-element
  * lambda dispatch and boxing. This expression participates in whole-stage
  * codegen with a tight primitive loop, which is the difference between
  * "works" and "works at 100 TB" for a kNN scan over billions of vectors.
  *
  * Elements are assumed non-null (embedding vectors); a null array yields
  * null via BinaryExpression's default null handling. Library code calls
  * it as [[DotProduct.dot]]; `graft_dot` is its plan name and, on
  * [[graft.GraftExtensions]] sessions only, its SQL name.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // Callers guarantee array<double> inputs (see VectorFunctions.asDouble);
  // AbstractDataType is private[sql], so no ExpectsInputTypes here.
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Column-level entry point: `dot(a, b)`. */
  def dot(a: Column, b: Column): Column =
    GraftPlanBridge.column(DotProduct(GraftPlanBridge.expr(a), GraftPlanBridge.expr(b)))
}
