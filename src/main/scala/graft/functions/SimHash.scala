package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftPlanBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression: 60-bit SimHash of an array<string> token
  * column, in ONE pass per document.
  *
  * Replaces the declarative pipeline (explode distinct tokens → md5 each
  * → 60 conditional partial sums → groupBy(doc) → 60-term bit fold): the
  * whole signature computes inside a narrow projection — no generator
  * row blow-up, no 60-column aggregate, no shuffle at all until whatever
  * consumes the signature. At fleet scale the difference is shuffling 60
  * longs per document vs shuffling nothing.
  *
  * Bit definition (kept hash-compatible with the SQL form the oracle
  * runs, `conv(substr(md5(tok),1,15),16,10)` = the top 60 bits of md5):
  * bit b of the signature is 1 iff strictly more of the document's
  * DISTINCT tokens have bit b set in their 60-bit hash than not.
  * Callers pass the distinct token array (`array_distinct(split ...)`).
  */
case class SimHash60(child: Expression, bits: Int = 60) extends UnaryExpression {
  require(bits > 0 && bits <= 60 && bits % 4 == 0,
    s"bits must be a positive multiple of 4 up to 60, got $bits")

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash60"

  override def nullSafeEval(input: Any): Any =
    SimHash60.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash60.compute($c, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

object SimHash60 {
  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Top `bits` bits of md5(token UTF-8 bytes) — numerically identical
    * to SQL `CAST(conv(substr(md5(tok), 1, bits/4), 16, 10) AS BIGINT)`:
    * the first bits/4 hex chars of the digest, folded nibble-wise.
    */
  private def hashBits(bytes: Array[Byte], bits: Int): Long = {
    val md = digest.get()
    md.reset()
    val h = md.digest(bytes)
    val nibbles = bits / 4
    var v = 0L
    var i = 0
    while (i < nibbles) {
      val nib = if (i % 2 == 0) (h(i / 2) >> 4) & 0xf else h(i / 2) & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  /** One-pass SimHash over a token array (called from generated code). */
  def compute(toks: ArrayData, bits: Int): Long = {
    val counts = new Array[Int](bits)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val hv = hashBits(toks.getUTF8String(i).getBytes, bits)
      var b = 0
      while (b < bits) {
        if (((hv >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < bits) { if (counts(b) > 0) sig |= 1L << b; b += 1 }
    sig
  }

  /** Column-level entry point: `simhash60(array_distinct(tokens))`;
    * `bits` narrows the signature (q33's 32-bit variant).
    */
  def simhash60(toks: Column, bits: Int = 60): Column =
    GraftPlanBridge.column(SimHash60(GraftPlanBridge.expr(toks), bits))
}
