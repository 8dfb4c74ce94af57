package graft

import graft.functions.NGrams
import org.apache.spark.sql.functions._

/** The native n-gram expression: correctness of both execution paths
  * (whole-stage codegen and interpreted eval), edge cases, and parity
  * with the declarative higher-order-function form it replaces.
  */
class NGramsSpec extends SparkSuite {
  import spark.implicits._

  private def grams(text: String, n: Int): Seq[String] =
    Seq(text).toDF("t")
      .select(NGrams.ngrams(split($"t", " "), n).as("g"))
      .head().getSeq[String](0)

  test("5-grams of a 7-token doc are the 3 sliding windows") {
    assert(grams("a b c d e f g", 5) ==
      Seq("a b c d e", "b c d e f", "c d e f g"))
  }

  test("n=1 is the token list; doc shorter than n yields empty") {
    assert(grams("x y z", 1) == Seq("x", "y", "z"))
    assert(grams("x y z", 4) == Seq.empty)
    assert(grams("x", 2) == Seq.empty)
  }

  test("null input array yields null (UnaryExpression default)") {
    val r = Seq(Some("a b"), None).toDF("t")
      .select(NGrams.ngrams(split($"t", " "), 2).as("g"))
      .collect()
    assert(r(0).getSeq[String](0) == Seq("a b"))
    assert(r(1).isNullAt(0))
  }

  test("interpreted eval matches codegen output") {
    // Force the interpreted path by evaluating the expression directly.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val toks = new GenericArrayData(
      Array[Any]("a", "b", "c", "d").map(s => UTF8String.fromString(s.toString)))
    val out = NGrams(Literal.create(toks, ArrayType(StringType)), 3)
      .eval(null).asInstanceOf[ArrayData]
    assert((0 until out.numElements()).map(out.getUTF8String(_).toString) ==
      Seq("a b c", "b c d"))
    assert((0 until out.numElements()).map(out.getUTF8String(_).toString) ==
      grams("a b c d", 3))
  }

  test("matches the interpreted transform(sequence(...)) form on real docs") {
    val docs = Tables.documents(spark, sf0001).limit(50)
      .withColumn("toks", split($"text", " "))
      .filter(size($"toks") >= 3)
    val viaExpr = docs.select($"doc_id",
      explode(NGrams.ngrams($"toks", 3)).as("g"))
    val viaHof = docs.select($"doc_id", explode(expr(
      "transform(sequence(1, size(toks) - 2), i -> " +
        "concat(element_at(toks, i), ' ', element_at(toks, i + 1), ' ', element_at(toks, i + 2)))"))
      .as("g"))
    assert(viaExpr.exceptAll(viaHof).isEmpty && viaHof.exceptAll(viaExpr).isEmpty)
  }

  test("the projection stays inside whole-stage codegen") {
    val p = Tables.documents(spark, sf0001)
      .select(NGrams.ngrams(split($"text", " "), 5).as("g"))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators compiled into a WholeStageCodegen stage
    assert(p.contains("*(1) Project [graft_ngrams"), p)
  }
}
