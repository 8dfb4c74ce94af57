package graft

import graft.ops.{AnnIndex, ResidualPQ, Retrieval, VectorSearch}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Library calls build graft kernels as Catalyst expressions directly and
  * never touch the caller's function registry: a user's own temp
  * function that happens to share a kernel's display name survives every
  * call, and no `graft_*` name appears on a session built without
  * [[GraftExtensions]].
  */
class RegistryIsolationSpec extends SparkSuite {
  import spark.implicits._

  test("kernel-using library calls neither read nor write the session function registry") {
    val dir = java.nio.file.Files.createTempDirectory("graft-regiso").toString
    AnnIndex.write(spark, sf0001, dir)
    val ix = AnnIndex.load(spark, dir)
    val queries = Tables.embeddings(spark, sf0001).filter($"vec_id" < 5)
      .select($"vec_id".as("qid"),
        graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    def calls(): Seq[Seq[org.apache.spark.sql.Row]] = Seq(
      VectorSearch.annBruteForce.run(spark, sf0001),
      AnnIndex.search(spark, ix, queries, nprobe = 2, k = 3).orderBy($"qid", $"rnk"),
      ResidualPQ.ivfPqResidual.run(spark, sf0001),
      Retrieval.sq8Search.run(spark, sf0001)
    ).map(_.collect().toSeq)

    val before = calls()
    val sentinel = "SELECT graft_cosine(array(1d), array(1d))"
    spark.udf.register("graft_cosine", (_: Seq[Double], _: Seq[Double]) => -42.0)
    try {
      val after = calls()
      before.zip(after).zipWithIndex.foreach { case ((b, a), i) =>
        assert(b.nonEmpty && b == a, s"call $i changed under a user graft_cosine")
      }
      assert(spark.sql(sentinel).head().getDouble(0) == -42.0,
        "a library call replaced the user's graft_cosine")
      val reg = spark.sessionState.functionRegistry
      Seq("graft_dot", "graft_vec_sub", "graft_sq8_encode", "graft_outer_upper").foreach { n =>
        assert(!reg.functionExists(FunctionIdentifier(n)), s"$n was registered")
      }
    } finally spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_cosine"))
  }
}
