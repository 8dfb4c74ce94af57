package graft

import graft.ops.TextIndex
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The lexical index-build / search-job separation: BM25 served from
  * persisted postings must be BIT-IDENTICAL to the live q146 path, and
  * appends must shift df/avgdl exactly as a fresh build over the union
  * corpus would.
  */
class TextIndexSpec extends SparkSuite {
  import spark.implicits._

  private val terms = Seq("dup", "vector", "spark")

  test("persisted-index search is bit-identical to the live q146 path") {
    val dir = Files.createTempDirectory("graft-tix").toString
    TextIndex.write(spark, sf0001, dir)
    val ix = TextIndex.load(spark, dir)
    val got = TextIndex.search(spark, ix, terms, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = ops.Retrieval.bm25.run(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(want),
      s"index search diverged from live path:\n got ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("append updates stats and matches a fresh build over the union corpus") {
    val dir = Files.createTempDirectory("graft-tix2").toString
    TextIndex.write(spark, sf0001, dir)
    val before = TextIndex.load(spark, dir).stats.collect()(0)
    val batch = Seq(
      (9000L, "dup dup dup w", "en", "src", 13L),
      (9001L, "vector w w", "en", "src", 10L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ix2 = TextIndex.append(spark, dir, batch)
    val after = ix2.stats.collect()(0)
    assert(after.getLong(0) == before.getLong(0) + 2, "n_docs counts the batch")
    assert(after.getLong(1) == before.getLong(1) + 4 + 3, "n_toks counts batch tokens")
    // parity with a from-scratch q146 over the union corpus: appended
    // postings shift df and avgdl exactly, with no rebuild
    val cdir = Files.createTempDirectory("graft-tix2c").toString
    Tables.documents(spark, sf0001).unionByName(batch)
      .write.parquet(s"$cdir/documents.parquet")
    val got = TextIndex.search(spark, ix2, terms, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = ops.Retrieval.bm25.run(spark, cdir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.sameElements(want),
      s"post-append search diverged from union rebuild:\n got ${got.toSeq}\nwant ${want.toSeq}")
    // the dup-heavy appended doc is retrievable by its rare term
    val dupTop = TextIndex.search(spark, ix2, Seq("dup"), 5)
      .collect().map(_.getLong(1))
    assert(dupTop.contains(9000L), s"appended doc not retrieved: ${dupTop.toSeq}")
  }

  test("phrase search from the positional index matches live q149 and pushes the term filter") {
    val dir = Files.createTempDirectory("graft-tix4").toString
    TextIndex.write(spark, sf0001, dir)
    val ix = TextIndex.load(spark, dir)
    val hits = TextIndex.phraseSearch(spark, ix, Seq("table", "hash"))
    val got = hits.collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = ops.Retrieval.phraseSearch.run(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.nonEmpty && got.sameElements(want),
      s"indexed phrase search diverged:\n got ${got.toSeq}\nwant ${want.toSeq}")
    // the term predicate reaches the positions parquet scan — the
    // property that makes serve cost posting-list-sized at 100 TB
    val p = hits.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters:") && p.contains("EqualTo(term,table)"),
      p.take(2000))
    // and the 64-way term-hash layout prunes whole bucket DIRECTORIES
    // before any file opens: the scan carries a bkt partition filter
    assert(p.contains("PartitionFilters") && p.contains("bkt"), p.take(2000))
  }

  test("search reads only the query terms' hash buckets (partition pruning)") {
    val dir = Files.createTempDirectory("graft-tix6").toString
    TextIndex.write(spark, sf0001, dir)
    val ix = TextIndex.load(spark, dir)
    // the search plan carries the bkt partition filter on its postings scan
    val p = TextIndex.search(spark, ix, terms, 10)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("bkt#"), p.take(3000))
    // and the bucket predicate actually confines the files READ: replay
    // the scan-side filter and list which files produced surviving rows
    val qb = terms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(64L)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val bktDirs = spark.read.parquet(s"$dir/postings")
      .filter(col("bkt").isin(qb: _*))
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0).split("/").find(_.startsWith("bkt=")).get)
      .distinct
    assert(bktDirs.nonEmpty && bktDirs.length <= terms.size,
      s"expected <= ${terms.size} bucket dirs, read ${bktDirs.toSeq}")
    // total layout sanity: the full index spreads across many buckets
    val all = spark.read.parquet(s"$dir/postings")
      .select(col("bkt")).distinct().count()
    assert(all > terms.size, s"degenerate bucketing: only $all buckets")
  }

  test("a sized (non-64) bucket layout serves identically and appends with the persisted count") {
    // the corpus-sized count only leaves its 64 floor past ~2.5M docs,
    // so no oracle-scale corpus exercises a non-default count — build
    // one by override and prove the whole lifecycle sticks to it
    val dir = Files.createTempDirectory("graft-tix7").toString
    val dir64 = Files.createTempDirectory("graft-tix7b").toString
    val docs = Tables.documents(spark, sf0001)
    TextIndex.writeDocs(spark, docs, dir, bucketsOverride = Some(7))
    TextIndex.writeDocs(spark, docs, dir64)
    def run(d: String) = {
      val ix = TextIndex.load(spark, d)
      (TextIndex.search(spark, ix, terms, 10)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq,
        TextIndex.phraseSearch(spark, ix, Seq("table", "hash"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    }
    val (bm7, ph7) = run(dir)
    assert(bm7.nonEmpty && ph7.nonEmpty)
    assert((bm7, ph7) == run(dir64),
      "bucket count changed serve results — it must be physical layout only")
    assert(TextIndex.load(spark, dir).buckets == 7)
    // append must hash new rows with the LAYOUT's persisted count, not
    // the default: all buckets stay < 7 afterwards
    TextIndex.append(spark, dir, Seq((9100L, "dup vector spark")).toDF("doc_id", "text"))
    val bkts = spark.read.parquet(s"$dir/postings")
      .select(col("bkt")).distinct().collect().map(_.getInt(0))
    assert(bkts.forall(_ < 7), s"append ignored the persisted count: ${bkts.toSeq}")
    assert(TextIndex.search(spark, TextIndex.load(spark, dir), terms, 10)
      .collect().exists(_.getLong(1) == 9100L),
      "appended doc not served through the sized layout")
  }

  test("streaming appends maintain the index incrementally (foreachBatch)") {
    val dir = Files.createTempDirectory("graft-tix3").toString
    TextIndex.write(spark, sf0001, dir)
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val q = streaming.EventStream.toForeachBatch(stream, s"$dir/ckpt") { (batch, _) =>
      if (!batch.isEmpty) TextIndex.append(spark, dir, batch)
    }
    val extra = Seq((9100L, "dup table hash"), (9101L, "vector spark w"),
      (9102L, "dup dup spark"))
    input.addData(extra.take(2): _*)
    q.processAllAvailable()
    input.addData(extra.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    // the streamed index serves exactly what a fresh build over the
    // union corpus would
    val cdir = Files.createTempDirectory("graft-tix3c").toString
    Tables.documents(spark, sf0001).select($"doc_id", $"text")
      .unionByName(extra.toDF("doc_id", "text"))
      .write.parquet(s"$cdir/documents.parquet")
    val got = TextIndex.search(spark, TextIndex.load(spark, dir), terms, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = ops.Retrieval.bm25.run(spark, cdir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(want),
      s"streamed index diverged from union rebuild:\n got ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("deletes auto-compact past the threshold and keep BM25 identical to a rebuild") {
    val dir = Files.createTempDirectory("graft-tix-auto").toString
    TextIndex.write(spark, sf0001, dir)
    val victims = Seq(10L, 11L, 12L, 13L)
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var ix: TextIndex.Index = null
    victims.foreach { v =>
      ix = TextIndex.delete(spark, dir, Seq(v).toDF("doc_id"), autoCompactAt = 2L)
      val rows = if (fs.exists(p)) spark.read.parquet(p.toString).count() else 0L
      assert(rows < 2L, s"ledger grew to $rows rows despite the auto-compact threshold")
    }
    val got = TextIndex.search(spark, ix, terms, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // fresh build over the remaining corpus must rank identically
    // (stats refreshed by the inline compacts)
    val freshDir = Files.createTempDirectory("graft-tix-auto-fresh").toString
    val remaining = Tables.documents(spark, sf0001)
      .filter(!col("doc_id").isin(victims: _*))
    remaining.write.mode("overwrite")
      .parquet(s"$freshDir/documents.parquet")
    TextIndex.write(spark, freshDir, s"$freshDir/ix")
    val want = TextIndex.search(spark,
        TextIndex.load(spark, s"$freshDir/ix"), terms, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(want),
      s"auto-compacted BM25 diverged from rebuild:\n got ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("a deleted id re-appends at a fresh epoch without compaction") {
    val dir = Files.createTempDirectory("graft-tix-epoch").toString
    TextIndex.write(spark, sf0001, dir)
    TextIndex.delete(spark, dir, Seq(10L).toDF("doc_id"))
    val revised = Seq((10L, "dup dup vector revised", "en", "src", 22L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val ix = TextIndex.append(spark, dir, revised)
    // the release-upgrade fast path: NO compaction ran — the ledger is
    // still on disk and the dead pre-delete rows are still in the files
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
      "re-append should not have compacted the ledger away")
    assert(spark.read.parquet(s"$dir/doclens")
      .filter(col("doc_id") === 10L).count() == 2,
      "expected both the dead and the re-appended doclens rows on disk")
    // yet the live view serves EXACTLY a fresh build over the revised
    // corpus: the epoch comparison hides the dead rows, not the new ones
    val cdir = Files.createTempDirectory("graft-tix-epoch-c").toString
    Tables.documents(spark, sf0001).filter(col("doc_id") =!= 10L)
      .unionByName(revised).write.parquet(s"$cdir/documents.parquet")
    val got = TextIndex.search(spark, ix, terms, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = ops.Retrieval.bm25.run(spark, cdir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(want),
      s"epoch re-append diverged from rebuild:\n got ${got.toSeq}\nwant ${want.toSeq}")
    assert(TextIndex.search(spark, ix, Seq("revised"), 5)
      .collect().map(_.getLong(1)).contains(10L), "revised text not served")
    // and a compact later is a pure physical fold: same serve results
    val ix2 = TextIndex.compact(spark, dir)
    val after = TextIndex.search(spark, ix2, terms, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(after.sameElements(got), "compact changed epoch-served results")
  }

  test("append is idempotent under replay and heals a torn batch") {
    val dir = Files.createTempDirectory("graft-tix5").toString
    TextIndex.write(spark, sf0001, dir)
    val nDocs0 = TextIndex.load(spark, dir).stats.collect()(0).getLong(0)
    val batch = Seq((9200L, "dup vector torn w", "en", "src", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // torn first attempt: postings + positions landed, doclens (the
    // done-marker, written LAST by writeBatch) did not
    val t = Seq((9200L, 0, "dup"), (9200L, 1, "vector"),
      (9200L, 2, "torn"), (9200L, 3, "w")).toDF("doc_id", "pos", "term")
    val bkt = pmod(xxhash64(col("term")), lit(64L)).cast("int")
    t.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      .withColumn("bkt", bkt)
      .write.partitionBy("bkt").mode("append").parquet(s"$dir/postings")
    t.select(col("term"), col("doc_id"), col("pos"))
      .withColumn("bkt", bkt)
      .write.partitionBy("bkt").mode("append").parquet(s"$dir/positions")
    // the at-least-once replay completes the batch … and then replays it
    TextIndex.append(spark, dir, batch)
    val ix = TextIndex.append(spark, dir, batch)
    assert(ix.postings.groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).count() == 0,
      "duplicate postings survived load")
    assert(ix.doclens.filter(col("doc_id") === 9200L).count() == 1)
    assert(ix.stats.collect()(0).getLong(0) == nDocs0 + 1, "doc counted once")
    // served scores equal a clean fresh build over the union corpus
    val cdir = Files.createTempDirectory("graft-tix5c").toString
    Tables.documents(spark, sf0001).unionByName(batch)
      .write.parquet(s"$cdir/documents.parquet")
    val got = TextIndex.search(spark, ix, terms, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = ops.Retrieval.bm25.run(spark, cdir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.sameElements(want),
      s"healed index diverged from union rebuild:\n got ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("a failed append write still releases the batch checkpoints") {
    val dir = Files.createTempDirectory("graft-tix6").toString
    TextIndex.write(spark, sf0001, dir)
    val batch = Seq((9300L, "dup vector fail w", "en", "src", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // positions — the second of the batch's three writes — cannot land:
    // a plain file sits where its directory belongs
    val positions = new java.io.File(s"$dir/positions")
    new scala.reflect.io.Directory(positions).deleteRecursively()
    Files.writeString(positions.toPath, "not a directory")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](TextIndex.append(spark, dir, batch))
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"checkpoint RDDs left persisted: $leaked")
  }
}
