package graft

import graft.functions.{CosineSim, Deletions, Deletions2, DotProduct, NGrams, OuterUpper, SimHash60, SqEncode, VecSub}
import graft.plans.{AsOfStrategy, TopKRewrite, TopKStrategy}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Deployment entry point: install every graft Catalyst extension into a
  * session at build time, the way a cluster operator ships a library —
  *
  *   spark.sql.extensions=graft.GraftExtensions
  *
  * (or `.withExtensions(new GraftExtensions)` on a builder). Injects the
  * codegen'd vector expressions into the function registry (visible to
  * pure-SQL users, unlike per-session temp registration) and the
  * top-k-per-group planner strategy. The per-session `register` helpers
  * on each function remain for harness-owned sessions that can't set
  * builder config.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        DotProduct(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSim(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_ngrams"),
      new ExpressionInfo(classOf[NGrams].getName, "graft_ngrams"),
      NGrams.fromExprs _))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash60"),
      new ExpressionInfo(classOf[SimHash60].getName, "graft_simhash60"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SimHash60(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_deletions"),
      new ExpressionInfo(classOf[Deletions].getName, "graft_deletions"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Deletions(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_outer_upper"),
      new ExpressionInfo(classOf[OuterUpper].getName, "graft_outer_upper"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        OuterUpper(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_deletions2"),
      new ExpressionInfo(classOf[Deletions2].getName, "graft_deletions2"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Deletions2(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_sq8_encode"),
      new ExpressionInfo(classOf[SqEncode].getName, "graft_sq8_encode"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        SqEncode(exprs.head, exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_vec_sub"),
      new ExpressionInfo(classOf[VecSub].getName, "graft_vec_sub"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        VecSub(exprs.head, exprs(1))))
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => AsOfStrategy)
    // rank-filter window idiom -> native bounded-heap top-k (the
    // strategy above plans the node the rewrite introduces)
    ext.injectOptimizerRule(_ => TopKRewrite)
  }
}
