package graft

import org.apache.spark.sql.functions._

/** Round 18: the driver-side footer-statistics fast path for one-row
  * metadata tables must read exactly what the Spark read reads, and
  * must refuse (None → caller falls back) any shape it cannot prove.
  */
class MetaScalarSpec extends SparkSuite {
  import spark.implicits._
  import ops.MetaScalar

  test("footer read equals spark read on the repo's marker shapes") {
    val dir = TempDirs.create("graft_metascalar")
    // int marker (meta/buckets shape)
    Seq(137).toDF("buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    assert(MetaScalar.scalarLong(spark, s"$dir/meta", "buckets") === Some(137L))
    // long marker (epoch shape)
    Seq(42L).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/epoch")
    assert(MetaScalar.scalarLong(spark, s"$dir/epoch", "epoch") === Some(42L))
    // negative and zero values survive the min==max check
    Seq(-7L).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/neg")
    assert(MetaScalar.scalarLong(spark, s"$dir/neg", "epoch") === Some(-7L))
  }

  test("refuses multi-row, multi-file, missing-column and absent shapes") {
    val dir = TempDirs.create("graft_metascalar2")
    Seq(1L, 2L).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/two")
    assert(MetaScalar.scalarLong(spark, s"$dir/two", "epoch").isEmpty)
    Seq(5L).toDF("epoch").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/multi")
    // 3 partitions of 1 row → up to 3 files; only a single data file passes
    val nFiles = new java.io.File(s"$dir/multi").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    if (nFiles > 1)
      assert(MetaScalar.scalarLong(spark, s"$dir/multi", "epoch").isEmpty)
    Seq(9L).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/one")
    assert(MetaScalar.scalarLong(spark, s"$dir/one", "nosuch").isEmpty)
    assert(MetaScalar.scalarLong(spark, s"$dir/absent", "epoch").isEmpty)
    // null value refuses
    Seq[Option[Long]](None).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/nul")
    assert(MetaScalar.scalarLong(spark, s"$dir/nul", "epoch").isEmpty)
  }

  test("rowCount equals spark count on flat dirs; refuses partitioned/absent") {
    val dir = TempDirs.create("graft_metascalar_rc")
    // multi-file flat dir (the tombstone-ledger shape: one file per batch)
    Seq(1L, 2L, 3L).toDF("doc_id").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/flat")
    Seq(4L, 5L).toDF("doc_id").repartition(1)
      .write.mode("append").parquet(s"$dir/flat")
    assert(MetaScalar.rowCount(spark, s"$dir/flat") ===
      Some(spark.read.parquet(s"$dir/flat").count()))
    // scanRowCount: the same count for a bare scan of the dir; None for
    // any plan beyond the scan (a filter, a folded tombstone ledger)
    val scan = spark.read.parquet(s"$dir/flat")
    assert(MetaScalar.scanRowCount(scan) === Some(scan.count()))
    assert(MetaScalar.scanRowCount(scan.filter(col("doc_id") > 2)).isEmpty)
    assert(MetaScalar.scanRowCount(
      scan.join(Seq(2L).toDF("doc_id"), Seq("doc_id"), "left_anti")).isEmpty)
    // empty-but-existing dir shape is not written by this repo; absent → None
    assert(MetaScalar.rowCount(spark, s"$dir/absent").isEmpty)
    // partitioned layout (subdirectories) → None, caller falls back
    Seq((1L, 0), (2L, 1)).toDF("doc_id", "bkt")
      .write.partitionBy("bkt").mode("overwrite").parquet(s"$dir/part")
    assert(MetaScalar.rowCount(spark, s"$dir/part").isEmpty)
    assert(MetaScalar.scanRowCount(spark.read.parquet(s"$dir/part")).isEmpty)
  }

  test("rowCount skips hidden files, as Spark's reader does") {
    val dir = TempDirs.create("graft_metascalar_hidden") + "/ledger"
    Seq(1L, 2L, 3L).toDF("doc_id").repartition(1)
      .write.mode("overwrite").parquet(dir)
    // a hidden copy of the data file (an in-flight or aborted write's
    // leftover): Spark's listing ignores `.`/`_`-prefixed names
    val data = new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-")).head
    java.nio.file.Files.copy(data.toPath,
      new java.io.File(dir, s".${data.getName}").toPath)
    java.nio.file.Files.copy(data.toPath,
      new java.io.File(dir, s"_${data.getName}").toPath)
    assert(spark.read.parquet(dir).count() === 3L)
    assert(MetaScalar.rowCount(spark, dir) === Some(3L))
  }

  test("Tombstones.readEpoch via the fast path matches bumpEpoch sequence") {
    val dir = TempDirs.create("graft_metascalar3") + "/ix"
    val docs = Tables.documents(spark, sf0001).limit(50).localCheckpoint()
    ops.DedupIndex.write(spark, docs, dir)
    assert(ops.Tombstones.readEpoch(spark, dir) === 0L)
    assert(ops.Tombstones.bumpEpoch(spark, dir) === 1L)
    assert(ops.Tombstones.readEpoch(spark, dir) === 1L)
    assert(ops.Tombstones.bumpEpoch(spark, dir) === 2L)
    assert(ops.Tombstones.readEpoch(spark, dir) === 2L)
  }
}
