package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Fused cosine similarity: dot(a,b) / (‖a‖·‖b‖) with all three
  * accumulators folded in ONE pass over the arrays — the composed form
  * (three DotProduct calls) traverses both arrays three times. Each
  * accumulator sums in identical element order to its standalone loop, so
  * results are bit-identical to the composed expression; only the memory
  * traffic changes (3× fewer array scans in the kNN hot loop). Called as
  * [[CosineSim.cosine]]; `graft_cosine` is the SQL name on
  * [[graft.GraftExtensions]] sessions.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // Callers guarantee array<double> inputs (VectorFunctions.asDouble).
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi"); val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i); double $yi = $b.getDouble($i);
         |  $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  /** Column-level entry point: `cosine(a, b)`. */
  def cosine(a: Column, b: Column): Column =
    GraftPlanBridge.column(CosineSim(GraftPlanBridge.expr(a), GraftPlanBridge.expr(b)))
}
