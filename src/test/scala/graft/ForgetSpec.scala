package graft

import graft.ops.{AnnIndex, Forget, TextIndex}
import graft.sources.ShardWriter
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Right-to-be-forgotten end state: one Forget.forget call must remove a
  * doc id set from every serving surface — hashed corpus shards (with
  * unaffected shard directories byte-untouched), the BM25/phrase index
  * (rankings bit-identical to a fresh build over the complement corpus),
  * and the ANN index — in O(deleted) work.
  */
class ForgetSpec extends SparkSuite {
  import spark.implicits._

  private def inventory(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.length()).toMap
  }

  test("one forget call scrubs shards + ANN + BM25; untouched shards stay byte-identical") {
    val base = Files.createTempDirectory("graft-forget").toString
    val docs = Tables.documents(spark, sf0001)
    val shardsDir = s"$base/shards"
    val NumShards = 8
    ShardWriter.writeShardsHashed(docs, shardsDir, NumShards, col("doc_id"))
    val annDir = s"$base/ann"
    AnnIndex.write(spark, sf0001, annDir)
    val tixDir = s"$base/tix"
    TextIndex.write(spark, sf0001, tixDir)

    // victims: two fixed ids plus the live top-BM25 hit for "spark", so
    // the deletion provably shifts lexical rankings
    val ix0 = TextIndex.load(spark, tixDir)
    val topSpark = TextIndex.search(spark, ix0, Seq("spark"), 1)
      .collect()(0).getLong(1)
    val victims = Seq(3L, 7L, topSpark).distinct

    val before = inventory(shardsDir)
    val receipt = Forget.forget(spark, victims.toDF("doc_id"),
      hashedShards = Some((shardsDir, NumShards, "doc_id")),
      annIndexDir = Some(annDir), textIndexDir = Some(tixDir))
    assert(receipt.nIds == victims.length)
    assert(receipt.rowsRemoved == victims.length)
    assert(receipt.annTombstoned && receipt.textTombstoned)

    // corpus: victims gone, everything else still there
    val remaining = spark.read.parquet(shardsDir)
    assert(remaining.filter(col("doc_id").isin(victims: _*)).count() == 0)
    assert(remaining.count() == docs.count() - victims.length)

    // only the victims' shards were rewritten; every other shard file is
    // byte-identical (same path, same size)
    val after = inventory(shardsDir)
    val touched = receipt.shardsRewritten.map(k => s"shard=$k").toSet
    val untouchedBefore = before.filterNot { case (p, _) => touched.exists(p.contains) }
    val untouchedAfter = after.filterNot { case (p, _) => touched.exists(p.contains) }
    assert(untouchedBefore == untouchedAfter,
      "an unaffected shard directory was rewritten")
    assert(receipt.shardsRewritten.nonEmpty &&
      receipt.shardsRewritten.size <= victims.length)

    // ANN: no victim id in any search result (query BY a victim's own
    // vector — the hardest case: it was its own nearest neighbor)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val queries = e.filter($"vec_id".isin(victims: _*))
      .select($"vec_id".as("qid"), $"v")
    val annIx = AnnIndex.load(spark, annDir)
    val annHits = AnnIndex.search(spark, annIx, queries, nprobe = 2, k = 5)
      .collect().map(_.getLong(2))
    assert(annHits.nonEmpty && !annHits.exists(victims.contains),
      s"ANN surfaced a deleted id: ${annHits.toSeq}")

    // BM25 + phrase: bit-identical to a fresh live run over the complement
    val cdir = Files.createTempDirectory("graft-forget-c").toString
    docs.filter(!col("doc_id").isin(victims: _*))
      .write.parquet(s"$cdir/documents.parquet")
    val ixDel = TextIndex.load(spark, tixDir)
    val got = TextIndex.search(spark, ixDel, Seq("dup", "vector", "spark"), 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = ops.Retrieval.bm25.run(spark, cdir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(want),
      s"post-delete search != complement rebuild:\n got ${got.toSeq}\nwant ${want.toSeq}")
    assert(!got.map(_._2).contains(topSpark))

    // compact folds tombstones in: files rewritten, tombstones gone,
    // rankings unchanged
    val ixC = TextIndex.compact(spark, tixDir)
    assert(!new java.io.File(s"$tixDir/tombstones").exists())
    val gotC = TextIndex.search(spark, ixC, Seq("dup", "vector", "spark"), 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(gotC.sameElements(want), "compaction changed rankings")
    assert(spark.read.parquet(s"$tixDir/doclens")
      .filter(col("doc_id").isin(victims: _*)).count() == 0)
  }
}
