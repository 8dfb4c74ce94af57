package graft

import graft.ops.{AnnIndex, DedupIndex, IngestionGate, LmModel, QualityModel, TextIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Storage stays bounded over a long session: across repeated calls, a
  * mutating index-family call leaves no checkpoint of its own persisted
  * (only the result the caller owns), and a read-only serve call leaves
  * none once the caller's [[Reliable.scoped]] block closes. Tracked as
  * the set of persisted RDD ids each call adds, not a global count.
  */
class CallScopeSpec extends SparkSuite {
  import spark.implicits._

  private val Calls = 50

  private def corpus: DataFrame =
    Tables.documents(spark, sf0001).filter(col("doc_id") < 400)
      .select(col("doc_id"), col("text"))

  private def vecOf(seed: Long): Seq[Double] = {
    val r = new scala.util.Random(seed); IndexedSeq.fill(64)(r.nextGaussian())
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.toSet

  /** Run `call(i)` for i in 1..Calls and return the persisted ids the
    * calls added that are still persisted. `owned` names the ids of a
    * call's result the caller owns: they must survive the call, and the
    * caller then releases them.
    */
  private def leftBehind[A](call: Int => A)(owned: A => Option[DataFrame]): Set[Int] = {
    val before = persisted
    (1 to Calls).foreach { i =>
      owned(call(i)).foreach { r =>
        assert(rddIds(r).nonEmpty && rddIds(r).subsetOf(persisted),
          "the caller-owned result must stay persisted")
        Reliable.release(r)
      }
    }
    persisted -- before
  }

  /** Two docs per call, ids unique to the call, with embeddings. */
  private def batch(i: Int): DataFrame = Seq(
    (9900000L + 2 * i, s"fresh words batch$i alpha beta gamma delta", vecOf(-i.toLong)),
    (9900001L + 2 * i, s"spark table vector hash call$i epsilon zeta", vecOf(-1000L - i))
  ).toDF("doc_id", "text", "v")

  private lazy val gateCfg: IngestionGate.Config = {
    val base = Files.createTempDirectory("graft-scope-gate").toString
    DedupIndex.write(spark, corpus, s"$base/dix")
    LmModel.write(spark, corpus, s"$base/lm")
    LmModel.writeScoreStats(spark, s"$base/lm", corpus)
    QualityModel.write(spark, corpus, s"$base/qm")
    QualityModel.writeScoreStats(spark, s"$base/qm", corpus)
    val ids = corpus.select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    IngestionGate.writeSemantic(spark,
      ids.map(id => (id, vecOf(id))).toDF("vec_id", "v"), s"$base/sem")
    IngestionGate.Config(s"$base/dix", s"$base/lm", s"$base/acc",
      qualityDir = Some(s"$base/qm"), minQualityPpm = 0L, selfDedup = true,
      semanticDir = Some(s"$base/sem"))
  }

  test(s"gateBatch (selfDedup + quality + semantic) leaves only its result across $Calls calls") {
    val cfg = gateCfg
    val left = leftBehind(i => IngestionGate.gateBatch(spark, cfg, batch(i)))(Some(_))
    assert(left.isEmpty, s"gateBatch left checkpoints persisted: $left")
  }

  test(s"monitor leaves nothing persisted across $Calls calls") {
    val cfg = gateCfg
    val left = leftBehind(i => IngestionGate.monitor(spark, cfg, batch(i)).collect())(_ => None)
    assert(left.isEmpty, s"monitor left checkpoints persisted: $left")
  }

  test(s"TextIndex.append and DedupIndex.append leave nothing persisted across $Calls calls") {
    val tdir = Files.createTempDirectory("graft-scope-tix").toString
    TextIndex.write(spark, sf0001, tdir)
    val tLeft = leftBehind(i =>
      TextIndex.append(spark, tdir, batch(i).drop("v")))(_ => None)
    assert(tLeft.isEmpty, s"TextIndex.append left checkpoints persisted: $tLeft")
    val ddir = Files.createTempDirectory("graft-scope-dix").toString
    DedupIndex.write(spark, corpus, ddir)
    val dLeft = leftBehind(i =>
      DedupIndex.append(spark, ddir, batch(i).drop("v")))(_ => None)
    assert(dLeft.isEmpty, s"DedupIndex.append left checkpoints persisted: $dLeft")
  }

  test(s"LmModel.write leaves nothing persisted across $Calls calls") {
    val dir = Files.createTempDirectory("graft-scope-lm").toString
    val docs = corpus.filter(col("doc_id") < 40)
    val left = leftBehind(_ => LmModel.write(spark, docs, dir))(_ => None)
    assert(left.isEmpty, s"LmModel.write left checkpoints persisted: $left")
  }

  test("AnnIndex.writeScaled and writeVectors, each in a caller's scope, leave only the Shared entries across 20 calls") {
    val base = Files.createTempDirectory("graft-scope-ann").toString
    val vecs = Tables.vectors(spark, sf0001).filter(col("vec_id") < 300)
    val before = persisted
    (1 to 20).foreach(_ => Reliable.scoped(AnnIndex.writeScaled(spark, sf0001, s"$base/scaled")))
    (1 to 20).foreach(_ => Reliable.scoped(AnnIndex.writeVectors(spark, vecs, s"$base/vecs")))
    // the session-lifetime PQ codebook and corpus encode writeScaled shares
    val shared = Seq("pq-cb", "pq-assign").flatMap(k =>
      rddIds(Shared.materialized(spark, s"$k@$sf0001")(fail(s"$k was not shared"))))
    val left = persisted -- before -- shared
    assert(left.isEmpty, s"the ANN writes left checkpoints persisted: $left")
  }

  test("the serve calls, each collected in a caller's scope, leave nothing persisted") {
    val base = Files.createTempDirectory("graft-scope-serve").toString
    AnnIndex.writeScaled(spark, sf0001, s"$base/ann")
    TextIndex.write(spark, sf0001, s"$base/text")
    DedupIndex.write(spark, corpus, s"$base/dedup")
    LmModel.write(spark, corpus, s"$base/lm")
    QualityModel.write(spark, corpus, s"$base/quality")
    val vectors = Tables.vectors(spark, sf0001)
    val queries = vectors.filter(col("vec_id") < 3).select(col("vec_id").as("qid"), col("v"))
    val docs = Tables.documents(spark, sf0001).filter(col("doc_id") % 50 === 3)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val gate = IngestionGate.Config(s"$base/dedup", s"$base/lm", s"$base/accepted")
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "AnnIndex.search" -> (() => AnnIndex.search(spark,
        AnnIndex.load(spark, s"$base/ann"), queries, nprobe = 2, k = 3)),
      "AnnIndex.searchRerank" -> (() => AnnIndex.searchRerank(spark,
        AnnIndex.load(spark, s"$base/ann"), vectors, queries, k = 3, frac = 0.2)),
      "TextIndex.search" -> (() => TextIndex.search(spark,
        TextIndex.load(spark, s"$base/text"), Seq("data", "model"), 10)),
      "DedupIndex.queryBatch" -> (() => DedupIndex.queryBatch(spark, s"$base/dedup", docs)),
      "LmModel.scoreBatch" -> (() => LmModel.scoreBatch(spark, s"$base/lm", docs)),
      "QualityModel.scoreBatch" -> (() => QualityModel.scoreBatch(spark, s"$base/quality", docs)),
      "IngestionGate.decide" -> (() => IngestionGate.decide(spark, gate, docs)))
    for ((name, call) <- calls) {
      val before = persisted
      val (rows, during) = Reliable.scoped {
        val r = call().collect()
        (r, persisted -- before)
      }
      assert(rows.nonEmpty, s"$name returned nothing")
      // search's result reads its probes checkpoint: the scope is what
      // releases it
      if (name == "AnnIndex.search")
        assert(during.nonEmpty, "AnnIndex.search made no probes checkpoint")
      val left = persisted -- before
      assert(left.isEmpty, s"$name left checkpoints persisted: $left")
    }
  }

  test("registered queries that checkpoint an intermediate leave nothing persisted in a caller's scope") {
    val sc = spark.sparkContext
    for (q <- Seq(ops.Dedup.simhashNeardup, ops.Curation.sourceOverlap)) {
      Reliable.scoped(q.run(spark, sf0001).collect()) // first run: any session-shared input
      val before = sc.getPersistentRDDs.size
      val rows = Reliable.scoped(q.run(spark, sf0001).collect())
      assert(rows.nonEmpty, s"${q.name} returned nothing")
      assert(sc.getPersistentRDDs.size == before,
        s"${q.name} left ${sc.getPersistentRDDs.size - before} checkpoints persisted")
    }
  }
}
