package graft.functions

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: a string's symmetric-delete neighborhood —
  * the string itself plus every single-character deletion. This is the
  * SymSpell blocking key set: two strings are within Levenshtein
  * distance 1 iff their neighborhoods intersect (substitution ⇒ same
  * position deleted on both; insertion/deletion ⇒ one side's deletion
  * equals the other side verbatim), so an equi-join on exploded
  * neighborhoods finds EVERY distance-≤1 pair — blocking is exact, not
  * approximate — while touching O(n·len) keys instead of O(n²) pairs.
  *
  * One tight loop per string (static-call codegen, stays inside
  * whole-stage codegen); the declarative transform(sequence(...)) form
  * would evaluate interpreted per deletion.
  */
case class Deletions(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_deletions"

  override def nullSafeEval(input: Any): Any =
    Deletions.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Deletions.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Deletions =
    copy(child = newChild)
}

object Deletions {
  /** [x, del_0(x), ..., del_{n-1}(x)] over Unicode code points. */
  def compute(s: UTF8String): GenericArrayData = {
    val str = s.toString
    val cps = str.codePointCount(0, str.length)
    val out = new Array[Any](cps + 1)
    out(0) = s
    var i = 0
    var offset = 0
    while (i < cps) {
      val next = str.offsetByCodePoints(offset, 1)
      out(i + 1) = UTF8String.fromString(
        str.substring(0, offset) + str.substring(next))
      i += 1
      offset = next
    }
    new GenericArrayData(out)
  }

  /** Column-level entry point: `deletions(name)`. */
  def deletions(s: Column): Column =
    GraftPlanBridge.column(Deletions(GraftPlanBridge.expr(s)))
}

/** Depth-2 symmetric-delete neighborhood: the string, every single
  * deletion, and every ordered double deletion (positions i < j) —
  * 1 + n + n·(n−1)/2 keys. Two strings within Levenshtein distance 2
  * share a key (each unit edit costs at most one deletion per side), so
  * an equi-join on exploded depth-2 neighborhoods blocks EVERY
  * distance-≤2 pair; the levenshtein verify then discards the
  * false positives the looser depth admits. Key fan-out is the O(len²)
  * cost knob documented in q110 — acceptable for name/title keys.
  */
case class Deletions2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_deletions2"

  override def nullSafeEval(input: Any): Any =
    Deletions2.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Deletions2.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Deletions2 =
    copy(child = newChild)
}

object Deletions2 {
  /** [x, del_i(x) for all i, del_{i,j}(x) for all i < j] over code points.
    * Duplicate strings from distinct position pairs (e.g. repeated chars)
    * are not deduped here — blocking joins dedup pairs anyway, and the
    * common case has none.
    */
  def compute(s: UTF8String): GenericArrayData = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    // offsets(k) = char index where code point k starts; offsets(n) = end
    val offsets = new Array[Int](n + 1)
    var k = 0
    var off = 0
    while (k < n) {
      offsets(k) = off
      off = str.offsetByCodePoints(off, 1)
      k += 1
    }
    offsets(n) = str.length
    val out = new Array[Any](1 + n + n * (n - 1) / 2)
    out(0) = s
    var w = 1
    var i = 0
    while (i < n) {
      out(w) = UTF8String.fromString(
        str.substring(0, offsets(i)) + str.substring(offsets(i + 1)))
      w += 1
      i += 1
    }
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(w) = UTF8String.fromString(
          str.substring(0, offsets(i)) +
            str.substring(offsets(i + 1), offsets(j)) +
            str.substring(offsets(j + 1)))
        w += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-level entry point: `deletions2(name)`. */
  def deletions2(s: Column): Column =
    GraftPlanBridge.column(Deletions2(GraftPlanBridge.expr(s)))
}
