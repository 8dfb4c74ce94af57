package graft

import java.nio.file.Files

/** Semantics of the round-2 advanced batch on crafted corpora (plus
  * registry-data invariants where crafting adds nothing).
  */
class Advanced3Spec extends SparkSuite {
  import spark.implicits._

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_adv3_fixture").toString
    val docs = Seq(
      // bigrams all identical -> dup_ratio ~ 1 -> 'boiler'
      (0L, "spam spam spam spam spam spam spam spam", "en", "src0", 39L),
      // all bigrams distinct -> dup_ratio 0 -> 'clean'
      (1L, "one two three four five six seven eight", "en", "src0", 39L),
      // exact duplicate pair for the verify + purge path
      (2L, "the quick brown fox jumps over the lazy dog tonight", "en", "src1", 51L),
      (3L, "the quick brown fox jumps over the lazy dog tonight", "en", "src2", 51L),
      (4L, "palabras distintas sobre motores de chispa aqui mismo", "es", "src3", 53L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$d/documents.parquet")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 3.0f), 0),
      (1L, Array(3.0f, 2.0f, 1.0f), 0), // label-0 centroid = (2, 1, 2)
      (2L, Array(0.0f, 4.0f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
    emb.coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("boilerplate: repeated-bigram doc is 'boiler', varied doc is 'clean'") {
    val bands = ops.Dedup.boilerplate.run(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("band")).toMap
    assert(bands(0L) == "boiler")
    assert(bands(1L) == "clean")
  }

  test("lsh verify: exact-dup pair is confirmed with true jaccard 1.0") {
    val rows = ops.Dedup.lshVerify.run(spark, dir).collect()
    val pair = rows.find(r => r.getAs[Long]("da") == 2L && r.getAs[Long]("db") == 3L)
    assert(pair.isDefined, s"expected candidate (2,3) in ${rows.toSeq}")
    assert(pair.get.getAs[Double]("jaccard") == 1.0)
    assert(pair.get.getAs[String]("verdict") == "dup")
  }

  test("corpus purge drops exactly one of the duplicate pair, keeps the rest") {
    val byLang = ops.Dedup.corpusPurge.run(spark, dir).collect()
      .map(r => r.getAs[String]("lang") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_dropped"), r.getAs[Long]("n_kept"))).toMap
    assert(byLang("en") == ((4L, 1L, 3L)), s"en counts: ${byLang("en")}")
    assert(byLang("es") == ((1L, 0L, 1L)))
  }

  test("embedding centroids: per-label elementwise mean in long format") {
    val c = ops.Retrieval.embeddingCentroids.run(spark, dir).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("pos")) -> r.getAs[Double]("centroid_v"))
      .toMap
    assert(c((0, 0)) == 2.0 && c((0, 1)) == 1.0 && c((0, 2)) == 2.0)
    assert(c((1, 0)) == 0.0 && c((1, 1)) == 4.0 && c((1, 2)) == 0.0)
  }

  test("grouping sets: three lattices present and grand total reconciles") {
    val rows = ops.SqlSurface.groupingSets.run(spark, sf0001).collect()
    val byGid = rows.groupBy(_.getAs[Int]("gid"))
    assert(byGid.keySet == Set(1, 2, 3), s"gids: ${byGid.keySet}")
    val grand = byGid(3).head.getAs[Long]("n_orders")
    assert(byGid(1).map(_.getAs[Long]("n_orders")).sum == grand) // by status
    assert(byGid(2).map(_.getAs[Long]("n_orders")).sum == grand) // by priority
  }

  test("string agg csv is sorted and stable under repartitioning") {
    val r = ops.SqlSurface.stringAgg.run(spark, sf0001).collect()
    r.foreach { row =>
      val parts = row.getAs[String]("nations_csv").split(",").toSeq
      assert(parts == parts.sorted, s"unsorted csv for ${row.getAs[String]("r_name")}")
      assert(parts.size == row.getAs[Long]("n_nations"))
    }
  }

  test("subqueries: per-nation counts reconcile with the customer table") {
    val rows = ops.SqlSurface.subqueries.run(spark, sf0001).collect()
    val total = spark.read.parquet(s"$sf0001/customer.parquet").count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == total)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_rich") <= r.getAs[Long]("n_customers"))
      assert(r.getAs[Long]("n_inactive") <= r.getAs[Long]("n_customers"))
    }
  }

  test("window ranks: dense_rank bounded, percent_rank/cume_dist in [0,1]") {
    val rows = ops.SqlSurface.windowRanks.run(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("d_rank") >= 1 && r.getAs[Int]("d_rank") <= 3)
      val pr = r.getAs[Double]("p_rank"); val cd = r.getAs[Double]("c_dist")
      assert(pr >= 0.0 && pr <= 1.0)
      assert(cd > 0.0 && cd <= 1.0)
    }
  }
}
