package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions must make graft SQL functions and the top-k strategy
  * available on a session built with `withExtensions` — no per-session
  * register calls.
  *
  * Session hygiene: other suites share one JVM-wide SparkSession.
  * getOrCreate() would silently RETURN that session (never applying the
  * extensions), so the default/active sessions are cleared first to
  * force a fresh session (same underlying SparkContext), and restored —
  * not stopped, which would kill the shared context — afterwards.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("withExtensions(GraftExtensions) exposes graft_dot/graft_cosine to SQL") {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val row = spark.sql(
        """SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
          |       graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c
          |""".stripMargin).collect().head
      assert(row.getDouble(0) == 11.0)
      assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
      // round-4 expressions injected too
      val row2 = spark.sql(
        """SELECT graft_ngrams(array('a','b','c'), 2) AS g,
          |       graft_simhash60(array('x')) AS s,
          |       graft_deletions('ab') AS d,
          |       graft_deletions2('abc') AS d2
          |""".stripMargin).collect().head
      assert(row2.getSeq[String](0) == Seq("a b", "b c"))
      assert(row2.getLong(1) != 0L)
      assert(row2.getSeq[String](2) == Seq("ab", "b", "a"))
      val row3 = spark.sql(
        "SELECT graft_outer_upper(array(2.0d, 3.0d)) AS o").collect().head
      assert(row3.getSeq[Double](0) == Seq(4.0, 6.0, 9.0))
      assert(row2.getSeq[String](3).toSet == Set("abc", "bc", "ac", "ab", "c", "b", "a"))
      // the residual kernel ResidualPQ encodes with
      val row4 = spark.sql(
        "SELECT graft_vec_sub(array(5.0d, 3.0d), array(1.0d, 4.0d)) AS r").collect().head
      assert(row4.getSeq[Double](0) == Seq(4.0, -1.0))
      // planner strategy injected too: the native top-k node plans
      val topk = plans.TopK.perGroup(
        Tables.lineitem(spark, "/root/testdata/sf0.001")
          .select(org.apache.spark.sql.functions.col("l_returnflag"),
            org.apache.spark.sql.functions.col("l_quantity")),
        k = 2, Seq("l_returnflag"), Seq(("l_quantity", false)))
      assert(topk.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      // optimizer rule injected too: the declarative rank-filter idiom
      // plans as the native heap operator without any explicit call
      import org.apache.spark.sql.functions.{col, row_number}
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("l_returnflag")).orderBy(col("l_quantity"), col("l_orderkey"))
      val idiom = Tables.lineitem(spark, "/root/testdata/sf0.001")
        .select(col("l_returnflag"), col("l_quantity"), col("l_orderkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2).drop("rn")
      val idiomPlan = idiom.queryExecution.executedPlan.toString
      assert(idiomPlan.contains("TopKPerGroup"), idiomPlan.take(1200))
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
