package graft

import graft.functions.{OuterUpper, PCA}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.security.MessageDigest

/** Seventh advanced batch: the outer-product kernel against exact
  * per-element recomputation (float AND double inputs, through real
  * DataFrames so codegen is what's tested), q130 against the
  * treeAggregate Gram path, cluster keep-best against q57's components,
  * SemDeDup's cluster-confinement semantics on a crafted roster, and
  * the split-contamination audit against a pure-Scala third
  * implementation.
  */
class Advanced11Spec extends SparkSuite {
  import spark.implicits._

  test("law: graft_outer_upper enumerates exactly the upper-triangle products") {
    val vecs = Seq(
      Array(1.0, -2.0, 3.0, 0.5),
      Array(0.0, 0.0, 0.0, 0.0),
      Array(-1.5, 2.25, -3.125, 4.0))
    val got = vecs.toDF("v")
      .select(OuterUpper.outerUpper(col("v")).as("o"))
      .collect().map(_.getSeq[Double](0).toArray)
    vecs.zip(got).foreach { case (v, o) =>
      val n = v.length
      assert(o.length == n * (n + 1) / 2)
      var k = 0
      for (i <- 0 until n; j <- i until n) {
        assert(o(k) == v(i) * v(j), s"entry ($i,$j)") // bit equality
        k += 1
      }
    }
  }

  test("law: float input upcasts per element exactly like CAST AS DOUBLE") {
    val f = Array(0.1f, -2.7f, 3.14159f)
    val got = Seq(Tuple1(f)).toDF("v")
      .select(OuterUpper.outerUpper(col("v")).as("o"))
      .collect().head.getSeq[Double](0)
    val d = f.map(_.toDouble)
    val want = for { i <- 0 until 3; j <- i until 3 } yield d(i) * d(j)
    assert(got == want)
  }

  test("q130 full moment matrix matches the treeAggregate Gram kernel") {
    val m = PCA.secondMoment(Tables.embeddings(spark, sf0001), "embedding", 64)
    val rows = ops.Retrieval.fullMoments.run(spark, sf0001).collect()
    assert(rows.length == 64 * 65 / 2)
    rows.foreach { r =>
      val (i, j) = (r.getAs[Int]("i"), r.getAs[Int]("j"))
      // q130 rounds products to micro-units before the exact sum; the
      // float-order treeAggregate differs by at most the rounding grain.
      assert(math.abs(r.getAs[Double]("m2") - m(i)(j)) < 1e-5, s"($i,$j)")
      assert(r.getAs[Long]("n_vectors") == 500L)
    }
  }

  test("q132 keeper is the longest member of its q57 component") {
    val clusters = ops.DedupClusters.dedupClusters.run(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep"))
    val nChars = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_chars")).toMap
    val byCluster = clusters.groupBy(_._2).map { case (rep, ms) => rep -> ms.map(_._1) }
    val got = ops.Dedup.clusterKeepBest.run(spark, sf0001).collect()
    assert(got.map(_.getAs[Long]("cluster_rep")).toSet == byCluster.keySet)
    got.foreach { r =>
      val members = byCluster(r.getAs[Long]("cluster_rep"))
      assert(r.getAs[Long]("n_members") == members.length.toLong)
      assert(r.getAs[Long]("n_dropped") == members.length.toLong - 1)
      // longest doc wins, doc_id breaks ties downward
      val want = members.maxBy(id => (nChars(id), -id))
      assert(r.getAs[Long]("keep_doc_id") == want)
      assert(r.getAs[Long]("keep_n_chars") == nChars(want))
    }
  }

  private lazy val semDir: String = {
    val d = Files.createTempDirectory("graft_adv11_fixture").toString
    val base = Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f)
    val ortho = Array.tabulate(8)(i => if (i == 1) 1.0f else 0.0f)
    Seq(
      (0L, base, 0),  // kept: lowest id in its ball
      (1L, base, 0),  // dropped: duplicate of 0 in the SAME cluster
      (2L, ortho, 0), // kept: orthogonal
      (3L, base, 1),  // kept: duplicate of 0 but in ANOTHER cluster
      (4L, base, 1))  // dropped: duplicate of 3 within cluster 1
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("q133 drops within-cluster near-dups only (cluster confinement)") {
    val got = ops.Dedup.semdedupPrune.run(spark, semDir).collect()
      .map(r => r.getAs[Int]("label") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_dropped"), r.getAs[Long]("n_kept")))
      .toMap
    assert(got(0) == ((3L, 1L, 2L))) // vec 1 dropped; 0 and 2 kept
    assert(got(1) == ((2L, 1L, 1L))) // vec 4 dropped; 3 kept despite matching 0
  }

  test("q135 token counts match an exhaustive reference BPE encoder") {
    // reference: the shared SWEEP contract (SweepBpe), each rule to
    // fixpoint in rank order — the same semantics the engine's 3-sweep
    // replace chain implements (FunctionLaws proves 3 sweeps reach the
    // fixpoint on this alphabet)
    def encode(w: String): Seq[String] = SweepBpe.encode(w, ops.Tokenization.BpeMerges)
    // the table's hierarchy actually fires on real words
    assert(encode("customer") == Seq("c", "u", "st", "o", "mer"))
    assert(encode("spark") == Seq("s", "par", "k"))
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").split(" "))
    val want = docs.map { case (id, toks) =>
      id -> (toks.length.toLong, toks.map(encode(_).length.toLong).sum)
    }.toMap
    val chars = docs.map { case (id, toks) => id -> toks.map(_.length.toLong).sum }.toMap
    val got = ops.Tokenization.bpeEncode.run(spark, sf0001).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_words"), r.getAs[Long]("n_bpe_tokens"))).toMap
    assert(got == want)
    // compression brackets, PER DOC: at least one token per word, never
    // more tokens than characters; and merges actually fire corpus-wide
    got.foreach { case (id, (w, b)) => assert(b >= w && b <= chars(id), id) }
    assert(got.values.map(_._2).sum < chars.values.sum, "no merge fired anywhere")
  }

  test("q139 packs by recomputed BPE counts with the greedy cumsum rule") {
    def encode(w: String): Long =
      SweepBpe.encode(w, ops.Tokenization.BpeMerges).length.toLong
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("text").split(" ").map(encode).sum))
    val want: Map[(String, Long), (Long, Long)] =
      docs.groupBy(_._2).toSeq.flatMap { case (lang, ds) =>
        var cum = 0L
        ds.sortBy(_._1).toSeq.map { case (_, _, n) =>
          val pack = cum / 1024; cum += n; ((lang, pack), n)
        }
      }.groupBy(_._1).map { case (k, xs) =>
        (k, (xs.size.toLong, xs.map(_._2).sum))
      }
    val got = ops.Tokenization.bpePacking.run(spark, sf0001).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("pack_id")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_bpe_tokens"))).toMap
    assert(got == want)
    // consecutive pack ids per lang, starting at zero
    got.keys.groupBy(_._1).foreach { case (lang, ks) =>
      val ids = ks.map(_._2).toSeq.sorted
      assert(ids == (0L until ids.length).toSeq, lang)
    }
  }

  test("q183 fertility matches a pure-Scala recompute and stays >= 1 token/word") {
    def encode(w: String): Long =
      SweepBpe.encode(w, ops.Tokenization.BpeMerges).length.toLong
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[String]("text").split(" ")))
    val want = docs.groupBy(_._2).map { case (lang, ds) =>
      val words = ds.map(_._3.length.toLong).sum
      val bpe = ds.map(_._3.map(encode).sum).sum
      lang -> (ds.length.toLong, words, bpe,
        (2 * bpe * 1000000 + words) / (2 * words))
    }
    val got = ops.Tokenization.bpeFertility.run(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got == want, s"fertility diverges:\n  got=$got\n  want=$want")
    got.values.foreach { case (_, _, _, f) =>
      assert(f >= 1000000L, "a word is never fewer than one BPE token")
    }
  }

  test("q134 agrees with a pure-Scala recomputation of the audit") {
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text").split(" ").toSeq))
      .filter(_._3.length >= 5)
      .map { case (id, src, toks) =>
        val bucket = java.lang.Long.parseLong(md5hex(id.toString).take(7), 16) % 100
        val split = if (bucket < 90) "train" else if (bucket < 95) "val" else "test"
        val grams = toks.sliding(5).map(g =>
          java.lang.Long.parseLong(md5hex(g.mkString(" ")).take(15), 16)).toSet
        (id, src, split, grams)
      }
    val trainSpans = docs.filter(_._3 == "train").flatMap(_._4).toSet
    val want = docs.filter(_._3 != "train")
      .groupBy(d => (d._2, d._3))
      .map { case (k, ds) =>
        k -> (ds.length.toLong, ds.count(_._4.exists(trainSpans)).toLong)
      }
    val got = ops.Curation.splitContamination.run(spark, sf0001).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("split")) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_contaminated")))
      .toMap
    assert(got == want)
    assert(got.values.map(_._1).sum > 0)
  }
}
