package graft

import graft.functions.{CosineSim, Deletions, Deletions2, DotProduct, NGrams, OuterUpper, SimHash60, SqEncode, VecSub}
import graft.plans.{AsOfStrategy, TopKRewrite, TopKStrategy}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Deployment entry point: install every graft Catalyst extension into a
  * session at build time, the way a cluster operator ships a library —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)` on a builder). This is the
  * only place the `graft_*` SQL names exist: it injects the nine
  * codegen'd expressions into the function registry for pure-SQL users,
  * plus the top-k-per-group and as-of planner strategies and the
  * top-k rewrite rule. Library code never resolves a kernel by name — it
  * builds the expression through each companion's Column entry point
  * (`DotProduct.dot`, `NGrams.ngrams`, ...), so it works on any session
  * and leaves the caller's registry untouched.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build))
    fn("graft_dot", classOf[DotProduct])(e => DotProduct(e(0), e(1)))
    fn("graft_cosine", classOf[CosineSim])(e => CosineSim(e(0), e(1)))
    fn("graft_vec_sub", classOf[VecSub])(e => VecSub(e(0), e(1)))
    fn("graft_sq8_encode", classOf[SqEncode])(e => SqEncode(e(0), e(1), e(2)))
    fn("graft_outer_upper", classOf[OuterUpper])(e => OuterUpper(e(0)))
    fn("graft_ngrams", classOf[NGrams])(NGrams.fromExprs)
    fn("graft_simhash60", classOf[SimHash60])(e => SimHash60(e(0)))
    fn("graft_deletions", classOf[Deletions])(e => Deletions(e(0)))
    fn("graft_deletions2", classOf[Deletions2])(e => Deletions2(e(0)))
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => AsOfStrategy)
    // rank-filter window idiom -> native bounded-heap top-k (the
    // strategy above plans the node the rewrite introduces)
    ext.injectOptimizerRule(_ => TopKRewrite)
  }
}
