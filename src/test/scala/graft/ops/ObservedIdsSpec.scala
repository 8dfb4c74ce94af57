package graft.ops

import graft.{Reliable, SparkSuite, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Minutes, Span}
import java.nio.file.Files

/** The serve calls read the partition ids they prune to off the job that
  * checkpoints the frame ([[Reliable.ownedObserving]]), not off a second
  * collect: at every such site the observed ids are exactly the distinct
  * ids a separate collect of the same frame finds, an empty batch
  * observes no id and every serve call completes on it, and each serve
  * call launches no more jobs than its pinned count, so a collect that
  * comes back fails here.
  */
class ObservedIdsSpec extends SparkSuite with TimeLimits {

  implicit val signaler: Signaler = ThreadSignaler

  // a bucket count that is neither a layout's floor nor a power of two
  private val nB = 37

  private def corpus: DataFrame =
    Tables.documents(spark, sf0001).filter(col("doc_id") < 400)
      .select(col("doc_id"), col("text"))

  /** Exact copies of a quarter of the corpus (near-dup pairs are
    * certain) next to the documents past it (novel ones).
    */
  private def batch: DataFrame =
    corpus.filter(col("doc_id") % 4 === 1).select((col("doc_id") + 9000L).as("doc_id"), col("text"))
      .unionByName(Tables.documents(spark, sf0001).filter(col("doc_id") >= 400)
        .select(col("doc_id"), col("text")))

  private def empty: DataFrame = batch.filter(lit(false))

  private def queries: DataFrame =
    Tables.vectors(spark, sf0001).filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("v"))

  /** What a second job over the frame finds: the distinct values of `c`. */
  private def collected(df: DataFrame, c: Column): Set[Any] =
    df.select(c).distinct().collect().map(_.get(0)).toSet

  /** The sets `aggs` observe in `df`'s checkpoint job. */
  private def observed(df: DataFrame, aggs: Column*): Seq[Set[Any]] = Reliable.scoped {
    val (_, row) = Reliable.ownedObserving(df, aggs.head, aggs.tail: _*)
    aggs.indices.map(i => row.getSeq[Any](i).toSet)
  }

  private lazy val dirs: Map[String, String] = {
    val base = Files.createTempDirectory("graft-observed").toString
    DedupIndex.write(spark, corpus, s"$base/dedup")
    LmModel.write(spark, corpus, s"$base/lm")
    AnnIndex.writeScaled(spark, sf0001, s"$base/ann")
    Map("dedup" -> s"$base/dedup", "lm" -> s"$base/lm", "ann" -> s"$base/ann",
      "accepted" -> s"$base/accepted")
  }

  test("DedupIndex: band, candidate-sig and done-marker buckets are the ids a collect finds") {
    val corpusBands = TextOps.bandsOf(TextOps.sigsOf(corpus))
    for ((b, name) <- Seq(batch -> "batch", empty -> "empty batch")) {
      val sigs = Reliable.owned(TextOps.sigsOf(b))
      val Seq(bands) = observed(sigs, DedupIndex.bandBuckets(nB))
      assert(bands == collected(TextOps.bandsOf(sigs), DedupIndex.bktCol(nB)), name)
      val Seq(done) = observed(sigs, DedupIndex.sigBuckets(nB))
      assert(done == collected(sigs, DedupIndex.sbktCol(nB)), name)
      val pairs = DedupIndex.candidatePairs(spark, corpusBands, TextOps.bandsOf(sigs))
      val Seq(cands) = observed(pairs, DedupIndex.sigBuckets(nB, col("corpus_id")))
      assert(cands == collected(pairs, DedupIndex.sbktCol(nB, col("corpus_id"))), name)
      if (name == "batch") assert(bands.nonEmpty && done.nonEmpty && cands.nonEmpty)
      else assert(bands.isEmpty && done.isEmpty && cands.isEmpty)
      Reliable.release(sigs)
    }
  }

  test("LmModel: gram and word buckets are the ids a collect finds") {
    for ((b, name) <- Seq(batch -> "batch", empty -> "empty batch")) {
      val t = LmModel.transitions(b).withColumn("w2", split(col("gram"), " ").getItem(1))
      val (g, w) = LmModel.bucketSets(nB)
      val Seq(grams, words) = observed(t, g, w)
      assert(grams == collected(t, LmModel.bktOf(col("gram"), nB)), name)
      assert(words == collected(t, LmModel.bktOf(col("w2"), nB)), name)
      assert(grams.isEmpty == (name != "batch") && words.isEmpty == (name != "batch"), name)
    }
  }

  test("AnnIndex: probed list ids are the ids a collect finds") {
    val ix = AnnIndex.load(spark, dirs("ann"))
    for ((q, name) <- Seq(queries -> "queries", queries.filter(lit(false)) -> "no queries")) {
      val probes = AnnIndex.probesOf(ix, q, 2)
      val Seq(lists) = observed(probes, collect_set(col("c_id")))
      assert(lists == collected(probes, col("c_id")), name)
      assert(lists.isEmpty == (name != "queries"), name)
    }
  }

  test("every serve call completes on an empty batch and returns no rows") {
    val ix = AnnIndex.load(spark, dirs("ann"))
    val gate = IngestionGate.Config(dirs("dedup"), dirs("lm"), dirs("accepted"))
    val noQueries = queries.filter(lit(false))
    val vectors = Tables.vectors(spark, sf0001)
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "DedupIndex.queryBatch" -> (() => DedupIndex.queryBatch(spark, dirs("dedup"), empty)),
      "LmModel.scoreBatch" -> (() => LmModel.scoreBatch(spark, dirs("lm"), empty)),
      "AnnIndex.search" -> (() => AnnIndex.search(spark, ix, noQueries, nprobe = 2, k = 3)),
      "AnnIndex.searchRerank" -> (() => AnnIndex.searchRerank(spark, ix, vectors, noQueries,
        k = 3, frac = 0.2)),
      "IngestionGate.decide" -> (() => IngestionGate.decide(spark, gate, empty)))
    for ((name, call) <- calls) {
      val rows = failAfter(Span(5, Minutes))(Reliable.scoped(call().collect()))
      assert(rows.isEmpty, name)
    }
  }

  test("serve calls launch no more jobs than their pinned counts") {
    val ix = AnnIndex.load(spark, dirs("ann"))
    val gate = IngestionGate.Config(dirs("dedup"), dirs("lm"), dirs("accepted"),
      minMeanPpm = 32000L)
    val vectors = Tables.vectors(spark, sf0001)
    val b = batch.localCheckpoint(true)
    val q = queries.localCheckpoint(true)
    // each call and the collect of its result, at sf0.001 with the
    // default session conf; a second collect of a frame the call has
    // just checkpointed (bucket or list ids), the LM scoring the dedup
    // survivors instead of the batch, or a deduped semi-join side adds
    // at least one job
    val pinned: Seq[(String, Int, () => DataFrame)] = Seq(
      ("DedupIndex.queryBatch", 14, () => DedupIndex.queryBatch(spark, dirs("dedup"), b)),
      ("LmModel.scoreBatch", 6, () => LmModel.scoreBatch(spark, dirs("lm"), b)),
      ("AnnIndex.search", 10, () => AnnIndex.search(spark, ix, q, nprobe = 2, k = 10)),
      ("AnnIndex.searchRerank", 13, () => AnnIndex.searchRerank(spark, ix, vectors, q,
        k = 10, frac = 0.2, shortlistPerProbe = 16)),
      ("IngestionGate.decide", 22, () => IngestionGate.decide(spark, gate, b)))
    val counts = pinned.map { case (name, _, call) =>
      Reliable.scoped(call().collect()) // warm: the first call plans cold
      val (rows, jobs) = jobsDuring(Reliable.scoped(call().collect()))
      assert(rows.nonEmpty, s"$name returned nothing")
      name -> jobs
    }
    info(counts.map { case (n, j) => s"$n=$j" }.mkString(" "))
    for (((name, jobs), (_, most, _)) <- counts.zip(pinned))
      assert(jobs <= most, s"$name launched $jobs jobs, pinned at $most")
  }
}
