package graft

import graft.ops.Release
import java.nio.file.Files

/** Streaming receipt maintenance: a foreachBatch intake stream folding
  * batches into the persisted per-shard manifest must end bit-identical
  * to the batch manifest of the union corpus (stream ≡ batch — the
  * repo's standing contract for every incremental maintainer), and a
  * crash-replayed micro-batch must be a no-op (epoch idempotence).
  */
class StreamingManifestSpec extends SparkSuite {
  import spark.implicits._

  private def docsOf(ids: Range) =
    ids.map(i => (i.toLong, s"tok$i alpha beta common text $i")).toDF("doc_id", "text")

  test("streamed manifest equals the batch manifest of the union corpus") {
    val dir = Files.createTempDirectory("graft-smanifest").toString
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = streaming.EventStream.toForeachBatch(stream, s"$dir/ckpt") { (batch, id) =>
      if (!batch.isEmpty) Release.appendManifest(spark, dir, batch, id)
    }
    val all = (1 to 40).map(i => (i.toLong, s"tok$i alpha beta common text $i"))
    input.addData(all.take(15): _*)
    q.processAllAvailable()
    input.addData(all.slice(15, 30): _*)
    q.processAllAvailable()
    input.addData(all.drop(30): _*)
    q.processAllAvailable()
    q.stop()
    val got = Release.loadManifest(spark, dir)
      .orderBy($"shard").collect().map(_.toSeq).toSeq
    val want = Release.manifestOf(all.toDF("doc_id", "text"))
      .orderBy($"shard").collect().map(_.toSeq).toSeq
    assert(got.nonEmpty && got == want,
      s"streamed receipt diverged from the batch manifest:\n got $got\nwant $want")
  }

  test("retainEpochs = 1 is rejected: single-epoch retention breaks crash-replay") {
    val dir = Files.createTempDirectory("graft-smanifest-r1").toString
    val ex = intercept[IllegalArgumentException] {
      Release.appendManifest(spark, dir, docsOf(1 to 5), 0L, retainEpochs = 1)
    }
    assert(ex.getMessage.contains("retainEpochs"), ex.getMessage)
    // 0 (full ledger) and 2 (minimum safe GC) both pass the guard
    Release.appendManifest(spark, dir, docsOf(1 to 5), 0L, retainEpochs = 0)
    Release.appendManifest(spark, dir, docsOf(6 to 10), 1L, retainEpochs = 2)
  }

  test("epoch GC bounds the ledger and replay idempotence survives the pruning") {
    val dir = Files.createTempDirectory("graft-smanifest3").toString
    val batches = (0 to 5).map(i => docsOf(i * 10 + 1 to i * 10 + 10))
    batches.zipWithIndex.foreach { case (b, i) =>
      Release.appendManifest(spark, dir, b, i.toLong)
    }
    // Retention: only the newest 2 epoch dirs remain (not one per batch).
    val epochs = new java.io.File(s"$dir/manifest").listFiles()
      // numeric epoch order: a string sort would put e10 before e9 and
      // quietly corrupt this assertion past 9 batches
      .map(_.getName).filter(_.startsWith("e")).sortBy(_.drop(1).toLong).toSeq
    assert(epochs == Seq("e4", "e5"), s"ledger not pruned: $epochs")
    val before = Release.loadManifest(spark, dir)
      .orderBy($"shard").collect().map(_.toSeq).toSeq
    // at-least-once: the LAST batch (the only one foreachBatch can
    // re-fire) replays AFTER older epochs were GC'd — must rebase on
    // the retained e4 and recompute the identical e5.
    Release.appendManifest(spark, dir, batches.last, 5L)
    val after = Release.loadManifest(spark, dir)
      .orderBy($"shard").collect().map(_.toSeq).toSeq
    assert(after == before, "post-GC replay double-counted the batch")
    val want = Release.manifestOf(docsOf(1 to 60))
      .orderBy($"shard").collect().map(_.toSeq).toSeq
    assert(after == want, "pruned ledger diverged from the union-batch receipt")
  }

  test("replaying a micro-batch with its original batchId is a no-op (epoch idempotence)") {
    val dir = Files.createTempDirectory("graft-smanifest2").toString
    val b0 = docsOf(1 to 10)
    val b1 = docsOf(11 to 20)
    Release.appendManifest(spark, dir, b0, 0L)
    Release.appendManifest(spark, dir, b1, 1L)
    val before = Release.loadManifest(spark, dir)
      .orderBy($"shard").collect().map(_.toSeq).toSeq
    // at-least-once: batch 1 fires again after a simulated crash
    Release.appendManifest(spark, dir, b1, 1L)
    val after = Release.loadManifest(spark, dir)
      .orderBy($"shard").collect().map(_.toSeq).toSeq
    assert(after == before, "replay double-counted the batch")
    // and the final state is still exactly the union-batch receipt
    val want = Release.manifestOf(docsOf(1 to 20))
      .orderBy($"shard").collect().map(_.toSeq).toSeq
    assert(after == want)
  }
}
