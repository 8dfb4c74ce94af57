package graft

import org.apache.spark.sql.functions._

/** Round 18: the driver-side footer-statistics fast path for one-row
  * metadata tables must read exactly what the Spark read reads, and
  * must refuse (None → caller falls back) any shape it cannot prove.
  * `MetaScalar.open` must open every table the engine owns with the
  * schema Spark's inference derives, without the inference job.
  */
class MetaScalarSpec extends SparkSuite {
  import spark.implicits._
  import ops.MetaScalar

  test("footer read equals spark read on the repo's marker shapes") {
    val dir = TempDirs.create("graft_metascalar")
    // int marker (meta/buckets shape)
    Seq(137).toDF("buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    assert(MetaScalar.scalarLongs(spark, s"$dir/meta", "buckets") === Some(Seq(137L)))
    // long marker (epoch shape)
    Seq(42L).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/epoch")
    assert(MetaScalar.scalarLongs(spark, s"$dir/epoch", "epoch") === Some(Seq(42L)))
    // negative and zero values survive the min==max check
    Seq(-7L).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/neg")
    assert(MetaScalar.scalarLongs(spark, s"$dir/neg", "epoch") === Some(Seq(-7L)))
    // several columns from one footer open (the classifier-row shape),
    // in the order asked; one missing column refuses them all
    Seq((3L, -4L, 5)).toDF("a", "b", "c").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/row")
    assert(MetaScalar.scalarLongs(spark, s"$dir/row", "c", "a", "b") === Some(Seq(5L, 3L, -4L)))
    assert(MetaScalar.scalarLongs(spark, s"$dir/row", "a", "nosuch").isEmpty)
  }

  test("refuses multi-row, multi-file, missing-column and absent shapes") {
    val dir = TempDirs.create("graft_metascalar2")
    Seq(1L, 2L).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/two")
    assert(MetaScalar.scalarLongs(spark, s"$dir/two", "epoch").isEmpty)
    Seq(5L).toDF("epoch").repartition(3)
      .write.mode("overwrite").parquet(s"$dir/multi")
    // 3 partitions of 1 row → up to 3 files; only a single data file passes
    val nFiles = new java.io.File(s"$dir/multi").listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    if (nFiles > 1)
      assert(MetaScalar.scalarLongs(spark, s"$dir/multi", "epoch").isEmpty)
    Seq(9L).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/one")
    assert(MetaScalar.scalarLongs(spark, s"$dir/one", "nosuch").isEmpty)
    assert(MetaScalar.scalarLongs(spark, s"$dir/absent", "epoch").isEmpty)
    // null value refuses
    Seq[Option[Long]](None).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/nul")
    assert(MetaScalar.scalarLongs(spark, s"$dir/nul", "epoch").isEmpty)
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
    // rows: the same count for a bare scan of the dir, read from the
    // footers with no Spark job; a count() job for any plan beyond the
    // scan (a filter, a folded tombstone ledger)
    val scan = spark.read.parquet(s"$dir/flat")
    val (bare, bareJobs) = jobsDuring(MetaScalar.rows(scan))
    assert(bare === scan.count() && bareJobs === 0)
    val filtered = scan.filter(col("doc_id") > 2)
    val (kept, keptJobs) = jobsDuring(MetaScalar.rows(filtered))
    assert(kept === filtered.count() && keptJobs > 0)
    val folded = scan.join(Seq(2L).toDF("doc_id"), Seq("doc_id"), "left_anti")
    assert(MetaScalar.rows(folded) === folded.count())
    // empty-but-existing dir shape is not written by this repo; absent → None
    assert(MetaScalar.rowCount(spark, s"$dir/absent").isEmpty)
    // partitioned layout (subdirectories) → None, caller falls back
    Seq((1L, 0), (2L, 1)).toDF("doc_id", "bkt")
      .write.partitionBy("bkt").mode("overwrite").parquet(s"$dir/part")
    assert(MetaScalar.rowCount(spark, s"$dir/part").isEmpty)
    val (parted, partJobs) = jobsDuring(MetaScalar.rows(spark.read.parquet(s"$dir/part")))
    assert(parted === 2L && partJobs > 0)
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

  /** Every table directory directly under an index root. */
  private def tablesUnder(root: String): Seq[String] =
    new java.io.File(root).listFiles().toSeq
      .filter(f => f.isDirectory && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(_.getPath).sorted

  /** `open` took the footer path and agrees with Spark's inference on
    * column order, names, types, nullability and metadata.
    */
  private def assertOpensLikeSpark(path: String): Unit = {
    assert(MetaScalar.footerSchema(spark, path).isDefined, s"$path took the fallback")
    assert(MetaScalar.open(spark, path).schema === spark.read.parquet(path).schema, path)
  }

  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("open reads every family layout's schema from its footer, after write, append and delete + compact") {
    val base = TempDirs.create("graft_open_family")
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") < 150).localCheckpoint()
    val more = docs.filter(col("doc_id").between(150, 159)).localCheckpoint()
    val gone = Seq(3L, 5L).toDF("doc_id")
    def check(root: String): Unit = {
      val tables = tablesUnder(root)
      assert(tables.nonEmpty, root)
      tables.foreach(assertOpensLikeSpark)
    }
    val ann = s"$base/ann"
    ops.AnnIndex.write(spark, sf0001, ann); check(ann)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    ops.AnnIndex.append(spark, ann,
      e.filter($"vec_id" < 3L).select(($"vec_id" + 5000L).as("vec_id"), $"v")); check(ann)
    ops.AnnIndex.delete(spark, ann, Seq(1L, 2L).toDF("vec_id"))
    assert(new java.io.File(s"$ann/tombstones").isDirectory); check(ann)
    ops.AnnIndex.compact(spark, ann); check(ann)
    val text = s"$base/text"
    ops.TextIndex.writeDocs(spark, corpus, text); check(text)
    ops.TextIndex.append(spark, text, more); check(text)
    ops.TextIndex.delete(spark, text, gone)
    assert(new java.io.File(s"$text/tombstones").isDirectory); check(text)
    ops.TextIndex.compact(spark, text); check(text)
    val dedup = s"$base/dedup"
    ops.DedupIndex.write(spark, corpus, dedup); check(dedup)
    ops.DedupIndex.append(spark, dedup, more); check(dedup)
    ops.DedupIndex.delete(spark, dedup, gone)
    assert(new java.io.File(s"$dedup/tombstones").isDirectory); check(dedup)
    ops.DedupIndex.compact(spark, dedup); check(dedup)
    val lm = s"$base/lm"
    ops.LmModel.write(spark, corpus, lm)
    ops.LmModel.writeScoreStats(spark, lm, more); check(lm)
    val qm = s"$base/qm"
    ops.QualityModel.write(spark, corpus, qm)
    ops.QualityModel.writeScoreStats(spark, qm, more); check(qm)
  }

  test("open equals Spark's inference on every sf0.001 table, events under nanosAsLong") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings").foreach { n =>
      val p = s"$sf0001/$n.parquet"
      assertOpensLikeSpark(p)
      assert(Tables.table(spark, sf0001, n).schema === spark.read.parquet(p).schema, n)
    }
  }

  test("open follows the session's parquet confs: nanosAsLong and binaryAsString") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a non-Spark writer: no Spark schema in the footer, so the parquet
    // types are converted under the session confs
    val dir = TempDirs.create("graft_open_confs") + "/raw"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); required binary b; }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"))
      .withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1000L).append("b", "x"))
    finally w.close()
    withConf("spark.sql.parquet.binaryAsString" -> "true") {
      assertOpensLikeSpark(dir)
      assert(MetaScalar.open(spark, dir).schema.map(_.dataType.typeName) === Seq("long", "string"))
      assert(MetaScalar.open(spark, dir).collect().toSeq === spark.read.parquet(dir).collect().toSeq)
    }
    withConf("spark.sql.parquet.binaryAsString" -> "false") {
      assertOpensLikeSpark(dir)
      assert(MetaScalar.open(spark, dir).schema("b").dataType.typeName === "binary")
    }
    // NANOS without nanosAsLong is illegal for Spark: the footer path
    // refuses too and the fallback fails exactly as the Spark read does
    withConf("spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      assert(MetaScalar.footerSchema(spark, dir).isEmpty)
      val sparkErr = intercept[Exception](spark.read.parquet(dir).schema)
      val openErr = intercept[Exception](MetaScalar.open(spark, dir).schema)
      assert(openErr.getClass === sparkErr.getClass)
      assert(openErr.getMessage === sparkErr.getMessage)
    }
  }

  test("open on flat and bkt=-partitioned directories reads Spark's rows and partition column") {
    val dir = TempDirs.create("graft_open_layouts")
    Seq((1L, "a", 0), (2L, "b", 1), (3L, "c", 10)).toDF("id", "s", "bkt")
      .write.partitionBy("bkt").parquet(s"$dir/part")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").repartition(2).write.parquet(s"$dir/flat")
    Seq(s"$dir/part", s"$dir/flat").foreach { p =>
      assertOpensLikeSpark(p)
      assert(MetaScalar.open(spark, p).collect().toSet === spark.read.parquet(p).collect().toSet)
    }
    assert(MetaScalar.open(spark, s"$dir/part").schema.fieldNames.toSeq === Seq("id", "s", "bkt"))
  }

  test("a directory with no data file, a summary file, or schema merging on takes the fallback") {
    val dir = TempDirs.create("graft_open_fallback")
    // only _SUCCESS
    new java.io.File(s"$dir/succ").mkdirs()
    new java.io.File(s"$dir/succ/_SUCCESS").createNewFile()
    // only hidden copies of a data file
    Seq(1L, 2L).toDF("id").coalesce(1).write.parquet(s"$dir/src")
    val data = new java.io.File(s"$dir/src").listFiles().filter(_.getName.startsWith("part-")).head
    new java.io.File(s"$dir/hidden").mkdirs()
    Seq(".", "_").foreach { pre =>
      java.nio.file.Files.copy(data.toPath, new java.io.File(s"$dir/hidden", pre + data.getName).toPath)
    }
    Seq(s"$dir/succ", s"$dir/hidden").foreach { p =>
      assert(MetaScalar.footerSchema(spark, p).isEmpty, p)
      val sparkErr = intercept[Exception](spark.read.parquet(p).schema)
      val openErr = intercept[Exception](MetaScalar.open(spark, p).schema)
      assert(openErr.getClass === sparkErr.getClass)
      assert(openErr.getMessage === sparkErr.getMessage)
    }
    // a parquet summary file: Spark's inference would read it, not a part file
    java.nio.file.Files.copy(data.toPath, new java.io.File(s"$dir/src", "_common_metadata").toPath)
    assert(MetaScalar.footerSchema(spark, s"$dir/src").isEmpty)
    assert(MetaScalar.open(spark, s"$dir/src").schema === spark.read.parquet(s"$dir/src").schema)
    Seq(3L).toDF("id").write.parquet(s"$dir/flat")
    withConf("spark.sql.parquet.mergeSchema" -> "true") {
      assert(MetaScalar.footerSchema(spark, s"$dir/flat").isEmpty)
    }
    assert(MetaScalar.footerSchema(spark, s"$dir/flat").isDefined)
  }

  test("opening the family's indexes, TextIndex's term buckets and QualityModel's frame launch no job") {
    val base = TempDirs.create("graft_open_jobs")
    val corpus = Tables.documents(spark, sf0001).filter(col("doc_id") < 150).localCheckpoint()
    ops.AnnIndex.write(spark, sf0001, s"$base/ann")
    ops.TextIndex.writeDocs(spark, corpus, s"$base/text")
    ops.DedupIndex.write(spark, corpus, s"$base/dedup")
    ops.QualityModel.write(spark, corpus, s"$base/qm")
    def loads(): Unit = {
      assert(jobsDuring(ops.AnnIndex.load(spark, s"$base/ann"))._2 === 0)
      assert(jobsDuring(ops.TextIndex.load(spark, s"$base/text"))._2 === 0)
      assert(jobsDuring(ops.DedupIndex.load(spark, s"$base/dedup"))._2 === 0)
    }
    loads()
    // with tombstone ledgers folded in
    ops.AnnIndex.delete(spark, s"$base/ann", Seq(1L).toDF("vec_id"))
    ops.TextIndex.delete(spark, s"$base/text", Seq(3L).toDF("doc_id"))
    ops.DedupIndex.delete(spark, s"$base/dedup", Seq(3L).toDF("doc_id"))
    loads()
    // the term bucket set is a local relation: search builds its frame
    // without a job, and still answers
    val tix = ops.TextIndex.load(spark, s"$base/text")
    val (hits, searchJobs) = jobsDuring(ops.TextIndex.search(spark, tix, Seq("data", "the"), 5))
    assert(searchJobs === 0)
    assert(hits.count() > 0)
    // the classifier row comes from footer statistics
    val batch = Tables.documents(spark, sf0001).filter(col("doc_id") >= 400)
    val (scored, qmJobs) = jobsDuring(ops.QualityModel.scoreBatch(spark, s"$base/qm", batch))
    assert(qmJobs === 0)
    assert(scored.count() === batch.count())
  }
}
