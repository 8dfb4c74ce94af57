package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: upper-triangle outer product of a vector
  * with itself — `array<double>` of length n·(n+1)/2 holding vᵢ·vⱼ for
  * 0 ≤ i ≤ j < n in row-major order (index k = i·n − i·(i−1)/2 + (j−i)).
  *
  * This is the per-row kernel of a one-pass second-moment (Gram) matrix:
  * explode the output, sum per position, and E[vᵢvⱼ] falls out of a
  * single 2080-group aggregate — no self-join, no per-dimension rescan.
  * The declarative alternative (a literal array of 2080 struct entries)
  * parses, but its unrolled codegen is ~2080 × a few statements per
  * projection; this expression is the same math as a 6-line runtime loop
  * that stays comfortably inside whole-stage codegen at ANY dimension.
  *
  * Input is `array<float>` or `array<double>` (float elements upcast to
  * double BEFORE the multiply, exactly like `CAST(x AS DOUBLE)` in the
  * oracle — no interpreted `transform` upcast pass needed); elements are
  * assumed non-null. A null array yields null via UnaryExpression's
  * default null handling. Called as [[OuterUpper.outerUpper]];
  * `graft_outer_upper` is the SQL name on [[graft.GraftExtensions]]
  * sessions.
  */
case class OuterUpper(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_outer_upper"

  private def floatInput: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    val fl = floatInput
    def at(i: Int): Double = if (fl) x.getFloat(i).toDouble else x.getDouble(i)
    val out = new Array[Double](n * (n + 1) / 2)
    var k = 0
    var i = 0
    while (i < n) {
      val vi = at(i)
      var j = i
      while (j < n) { out(k) = vi * at(j); k += 1; j += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      val vi = ctx.freshName("vi")
      def at(idx: String) =
        if (floatInput) s"(double) $a.getFloat($idx)" else s"$a.getDouble($idx)"
      s"""
         |int $n = $a.numElements();
         |double[] $out = new double[$n * ($n + 1) / 2];
         |int $k = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $vi = ${at(i)};
         |  for (int $j = $i; $j < $n; $j++) {
         |    $out[$k++] = $vi * ${at(j)};
         |  }
         |}
         |${ev.value} =
         |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): OuterUpper =
    copy(child = newChild)
}

object OuterUpper {
  /** Column-level entry point: `outerUpper(v)`. */
  def outerUpper(v: Column): Column =
    GraftPlanBridge.column(OuterUpper(GraftPlanBridge.expr(v)))
}
