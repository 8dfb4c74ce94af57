package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: all space-joined `n`-token windows of an
  * array<string> token column — the shingle/gram builder every text-dedup
  * and decontamination operator needs.
  *
  * Why a custom expression: the declarative forms are either a window
  * chain (`lead(tok, 1..n-1)` over (doc, pos) — a full shuffle + sort of
  * every TOKEN of the corpus) or `transform(sequence(...), i ->
  * concat(...))` (higher-order functions evaluate INTERPRETED in Spark —
  * per-gram lambda dispatch). This expression builds the gram array in
  * one tight loop per DOCUMENT inside whole-stage codegen: a narrow
  * projection, no shuffle, no per-element interpretation. At 100 TB the
  * difference is re-sorting the tokenized corpus vs streaming over it.
  *
  * Output length is `max(0, size(toks) - n + 1)`; documents shorter than
  * `n` tokens yield an empty array (and thus no grams after explode).
  * Token elements are assumed non-null (the output of `split`).
  */
case class NGrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_ngrams"

  private val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val m = toks.numElements() - n + 1
    if (m <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](m)
      var i = 0
      while (i < m) {
        val parts = new Array[UTF8String](n)
        var j = 0
        while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
        out(i) = UTF8String.concatWs(sep, parts: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val u8 = "org.apache.spark.unsafe.types.UTF8String"
      val i = ctx.freshName("i")
      val m = ctx.freshName("m")
      val out = ctx.freshName("grams")
      val sepRef = ctx.addReferenceObj("sep", sep, u8)
      // Explicit array (not varargs) keeps janino's overload resolution simple.
      val parts = (0 until n).map(j => s"$c.getUTF8String($i + $j)").mkString(", ")
      s"""
         |int $m = $c.numElements() - ${n - 1};
         |if ($m < 0) $m = 0;
         |$u8[] $out = new $u8[$m];
         |for (int $i = 0; $i < $m; $i++) {
         |  $out[$i] = $u8.concatWs($sepRef, new $u8[] {$parts});
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NGrams =
    copy(child = newChild)
}

object NGrams {
  /** Column-level entry point: `ngrams(tokens, 3)`. */
  def ngrams(toks: Column, n: Int): Column =
    GraftPlanBridge.column(NGrams(GraftPlanBridge.expr(toks), n))

  /** SQL builder for [[graft.GraftExtensions]]: `graft_ngrams(toks, n)`
    * with a literal `n`.
    */
  def fromExprs(exprs: Seq[Expression]): NGrams =
    NGrams(exprs.head, exprs(1) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"graft_ngrams(toks, n) needs a literal int n, got $other")
    })
}
