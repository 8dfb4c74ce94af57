package graft

import graft.ops.{DedupIndex, LmModel, TextIndex, Tombstones}
import java.nio.file.Files

/** The epoch marker's crash-safety: writeEpoch stages at `epoch.tmp`
  * then delete-and-renames into place, and readEpoch falls back to the
  * staging copy — so no intermediate crash state can silently reset the
  * epoch to 0 (which would let later tombstones land at te=0, never
  * killing live rows, and re-appends land wrongly dead). And the format
  * gate: a layout without `meta/` is refused, not served.
  */
class TombstonesSpec extends SparkSuite {
  import spark.implicits._

  test("a layout without meta/ fails the format gate on the serve, delete and upgrade entry points") {
    val root = Files.createTempDirectory("graft-format-gate").toString
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"text")
      .limit(60).localCheckpoint(true)
    TextIndex.writeDocs(spark, docs, s"$root/text")
    DedupIndex.write(spark, docs, s"$root/dedup")
    LmModel.write(spark, docs, s"$root/lm")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("text", "dedup", "lm").foreach(t =>
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/$t/meta"), true)))
    def refused(f: => Any): Unit = {
      val ex = intercept[IllegalStateException](f)
      assert(ex.getMessage.contains("predates the current index format"), ex.getMessage)
    }
    refused(TextIndex.load(spark, s"$root/text"))
    refused(DedupIndex.queryBatch(spark, s"$root/dedup", docs))
    refused(LmModel.scoreBatch(spark, s"$root/lm", docs))
    refused(LmModel.upgrade(spark, s"$root/lm", docs, docs.limit(0)))
    val ids = docs.select($"doc_id").limit(2)
    refused(TextIndex.delete(spark, s"$root/text", ids))
    refused(DedupIndex.delete(spark, s"$root/dedup", ids))
    Seq("text", "dedup").foreach(t => assert(
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/$t/tombstones")),
      s"a refused delete wrote a ledger into $t"))
  }

  test("writeEpoch roundtrips and bumpEpoch is monotone") {
    val dir = Files.createTempDirectory("graft-ts-rt").toString
    assert(Tombstones.readEpoch(spark, dir) == 0L)
    Tombstones.writeEpoch(spark, dir, 5L)
    assert(Tombstones.readEpoch(spark, dir) == 5L)
    assert(Tombstones.bumpEpoch(spark, dir) == 6L)
    assert(Tombstones.readEpoch(spark, dir) == 6L)
  }

  test("a crash between the marker delete and rename recovers from the staging copy") {
    val dir = Files.createTempDirectory("graft-ts-crash").toString
    Tombstones.writeEpoch(spark, dir, 5L)
    // reconstruct the crash state of writeEpoch(7): staging copy fully
    // written, final marker already deleted, rename never ran
    Seq(7L).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/epoch.tmp")
    val p = new org.apache.hadoop.fs.Path(s"$dir/epoch")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    // without the fallback this would read 0 — deletes at te=0 would
    // never kill rows written at epochs 1..7
    assert(Tombstones.readEpoch(spark, dir) == 7L)
    // and the next writer heals the final marker
    assert(Tombstones.bumpEpoch(spark, dir) == 8L)
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
    assert(Tombstones.readEpoch(spark, dir) == 8L)
  }

  test("a torn staging write leaves the committed marker authoritative") {
    val dir = Files.createTempDirectory("graft-ts-torn").toString
    Tombstones.writeEpoch(spark, dir, 4L)
    // a crash mid-staging leaves arbitrary junk at epoch.tmp while the
    // final marker is still intact — readEpoch must not consult it
    val tmp = new java.io.File(s"$dir/epoch.tmp")
    tmp.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/epoch.tmp/part-torn.parquet"),
      Array[Byte](1, 2, 3))
    assert(Tombstones.readEpoch(spark, dir) == 4L)
  }
}
