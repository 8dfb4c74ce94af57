package graft

import graft.ops.{DedupIndex, Forget}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Persistent near-dup index contracts: the serve path finds planted
  * duplicates with an independently-known answer (exact copies ⇒ all 16
  * signature mins agree ⇒ est_jaccard 1.0), incremental appends converge
  * to the fresh-build result and replay idempotently, torn band writes
  * are invisible, and delete/compact/forget remove documents from the
  * candidate surface.
  */
class DedupIndexSpec extends SparkSuite {

  private def corpus: DataFrame =
    Tables.documents(spark, sf0001).filter(col("doc_id") < 400)

  /** Exact copies of the corpus under shifted ids — every copy of a
    * ≥3-token document MUST surface as a 1.0-estimated pair (identical
    * text ⇒ identical signature ⇒ every band matches).
    */
  private def copies: DataFrame =
    corpus.withColumn("doc_id", col("doc_id") + 9000L)

  private def expectedIdentityIds: Set[Long] =
    corpus.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet

  test("queryBatch finds every planted exact copy at est_jaccard 1.0") {
    val dir = Files.createTempDirectory("graft-dix").toString
    DedupIndex.write(spark, corpus, dir)
    val got = DedupIndex.queryBatch(spark, dir, copies.localCheckpoint(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val identity = got.collect { case (b, c, j) if b - 9000L == c => (c, j) }.toMap
    val want = expectedIdentityIds
    assert(want.nonEmpty && identity.keySet == want,
      s"missing identity pairs: ${want -- identity.keySet}")
    assert(identity.values.forall(_ == 1.0), "exact copy scored < 1.0")
    assert(got.forall { case (b, c, _) => b >= 9000L && c < 9000L },
      "pair sides swapped: batch_id must be the query side")
  }

  test("append converges to the fresh build and replays idempotently") {
    val a = corpus.filter(col("doc_id") < 200)
    val b = corpus.filter(col("doc_id") >= 200)
    val full = Files.createTempDirectory("graft-dix-full").toString
    val inc = Files.createTempDirectory("graft-dix-inc").toString
    DedupIndex.write(spark, corpus, full)
    DedupIndex.write(spark, a, inc)
    DedupIndex.append(spark, inc, b)
    DedupIndex.append(spark, inc, b) // at-least-once replay
    val q = copies.localCheckpoint(true)
    val want = DedupIndex.queryBatch(spark, full, q).collect().toSeq
    val got = DedupIndex.queryBatch(spark, inc, q).collect().toSeq
    assert(want.nonEmpty && got == want,
      s"incremental index diverged: ${got.size} vs ${want.size} rows")
    // the replay did not double-write the done-marker table
    val sigRows = spark.read.parquet(s"$inc/sigs").groupBy(col("doc_id"))
      .count().filter(col("count") > 1).count()
    assert(sigRows == 0, "replayed append duplicated signature rows")
  }

  test("a torn band write (crash before the sigs marker) is invisible") {
    val dir = Files.createTempDirectory("graft-dix-torn").toString
    DedupIndex.write(spark, corpus, dir)
    val before = DedupIndex.queryBatch(spark, dir, copies.localCheckpoint(true))
      .collect().toSeq
    // simulate the crash artifact: duplicate band rows for some corpus
    // docs, with NO matching sigs rows (the marker never landed)
    val torn = spark.read.parquet(s"$dir/bands").filter(col("doc_id") < 50)
    torn.write.partitionBy("bkt").mode("append").parquet(s"$dir/bands")
    val after = DedupIndex.queryBatch(spark, dir, copies.localCheckpoint(true))
      .collect().toSeq
    assert(after == before, "duplicate band rows changed the candidate set")
  }

  test("delete hides a document immediately; compact folds it in") {
    val dir = Files.createTempDirectory("graft-dix-del").toString
    DedupIndex.write(spark, corpus, dir)
    val victim = expectedIdentityIds.min
    import spark.implicits._
    DedupIndex.delete(spark, dir, Seq(victim).toDF("doc_id"))
    val q = copies.localCheckpoint(true)
    val afterDelete = DedupIndex.queryBatch(spark, dir, q).collect().toSeq
    assert(!afterDelete.exists(_.getLong(1) == victim),
      "deleted document still surfaces as a near-dup match")
    assert(afterDelete.exists(_.getLong(1) != victim), "delete removed too much")
    DedupIndex.compact(spark, dir)
    val afterCompact = DedupIndex.queryBatch(spark, dir, q).collect().toSeq
    assert(afterCompact == afterDelete, "compaction changed serve results")
    val fs = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    assert(!fs.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(fs),
      "compact left the tombstone ledger behind")
    assert(!spark.read.parquet(s"$dir/sigs").collect()
      .exists(_.getLong(0) == victim), "compact kept the deleted sig row")
  }

  test("a deleted id re-appends at a fresh epoch without compaction") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dix-epoch").toString
    DedupIndex.write(spark, corpus, dir)
    val victim = expectedIdentityIds.min
    DedupIndex.delete(spark, dir, Seq(victim).toDF("doc_id"))
    // re-append the id with DIFFERENT text — no compact in between
    val revised = Seq((victim, "epochal fresh reindexed text row"))
      .toDF("doc_id", "text")
    DedupIndex.append(spark, dir, revised)
    // the fast path really was deferred: ledger intact, dead sig row
    // still on disk next to the re-appended one
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    assert(p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p),
      "re-append should not have compacted the ledger away")
    assert(spark.read.parquet(s"$dir/sigs")
      .filter(col("doc_id") === victim).count() == 2,
      "expected the dead and the re-appended sig rows on disk")
    // the live view serves exactly a fresh build over the revised corpus
    val fresh = Files.createTempDirectory("graft-dix-epoch-fresh").toString
    DedupIndex.write(spark,
      corpus.filter(col("doc_id") =!= victim).unionByName(
        revised.withColumn("lang", lit("en")).withColumn("source", lit("src"))
          .withColumn("n_chars", length(col("text")).cast("long"))), fresh)
    val probe = copies.unionByName(
        Seq((8999L, "epochal fresh reindexed text row", "en", "src", 32L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .localCheckpoint(true)
    val got = DedupIndex.queryBatch(spark, dir, probe).collect().toSeq
    val want = DedupIndex.queryBatch(spark, fresh, probe).collect().toSeq
    assert(got.nonEmpty && got == want,
      s"epoch re-append diverged from fresh build: ${got.size} vs ${want.size} rows")
    // the revised text is findable; the old text of the victim is not
    assert(got.exists(r => r.getLong(0) == 8999L && r.getLong(1) == victim
      && r.getDouble(2) == 1.0), "re-appended text not served")
    assert(!got.exists(r => r.getLong(0) == victim + 9000L && r.getLong(1) == victim),
      "the victim's dead pre-delete signature still matches its old copy")
  }

  test("the band layout's bucket count is corpus-sized, persisted, and serve paths honor it") {
    import spark.implicits._
    // the sizing function: floor below ~10M docs, proportional above,
    // capped where directory counts stop paying for themselves
    def bucketsFor(n: Long) = graft.ops.Tombstones.bucketsFor(n, DedupIndex.DocsPerBucket)
    assert(bucketsFor(10000L) == 64)
    assert(bucketsFor(20000000L) == 125)
    assert(bucketsFor(Long.MaxValue / 2) == 4096)
    // a NON-default layout (override stands in for a >10M-doc corpus):
    // every serve path must honor the persisted count, because bands
    // hashed mod 100 are invisible to a reader assuming 64
    val big = (0L until 10000L).map(i =>
      (i, s"tok${i % 997} tok${(i * 7) % 997} tok${(i * 13) % 997} tok${(i * 29) % 997}"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-dix-sized").toString
    val ix = DedupIndex.write(spark, big, dir, bucketsOverride = Some(100))
    assert(ix.buckets == 100, s"persisted bucket count not honored: ${ix.buckets}")
    // serve through the sized layout: planted exact copies surface at 1.0
    val probe = big.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 900000L).localCheckpoint(true)
    val got = DedupIndex.queryBatch(spark, dir, probe)
      .filter(col("est_jaccard") === 1.0).collect()
    assert((0L until 5L).forall(i =>
      got.exists(r => r.getLong(0) == 900000L + i && r.getLong(1) == i)),
      s"identity pairs missing through the sized layout: ${got.toSeq.take(10)}")
    // append must reuse the persisted count (a mismatched count would
    // land new bands in buckets serve-time pruning never opens)
    DedupIndex.append(spark, dir,
      Seq((950000L, "zzqa zzqb zzqc zzqd zzqe")).toDF("doc_id", "text"))
    val got2 = DedupIndex.queryBatch(spark, dir,
        Seq((960000L, "zzqa zzqb zzqc zzqd zzqe")).toDF("doc_id", "text")
          .localCheckpoint(true)).collect()
    assert(got2.exists(r => r.getLong(1) == 950000L && r.getDouble(2) == 1.0),
      s"appended doc not served through the sized layout: ${got2.toSeq}")
  }

  test("queryBatch reads only the batch's band buckets (partition filter reaches the scan)") {
    val dir = Files.createTempDirectory("graft-dix-prune").toString
    DedupIndex.write(spark, corpus, dir)
    val batch = copies.orderBy(col("doc_id")).limit(3).localCheckpoint(true)
    val plan = DedupIndex.queryBatch(spark, dir, batch)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bkt#"),
      plan.take(3000))
  }

  test("a long delete sequence auto-compacts: the ledger stays bounded without a manual compact") {
    val dir = Files.createTempDirectory("graft-dix-auto").toString
    DedupIndex.write(spark, corpus, dir)
    import spark.implicits._
    val victims = expectedIdentityIds.toSeq.sorted.take(6)
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // threshold 2: every second single-id delete must trip the inline
    // compact, so the observed ledger NEVER reaches the threshold
    victims.foreach { v =>
      DedupIndex.delete(spark, dir, Seq(v).toDF("doc_id"), autoCompactAt = 2L)
      val rows = if (fs.exists(p)) spark.read.parquet(p.toString).count() else 0L
      assert(rows < 2L, s"ledger grew to $rows rows despite the auto-compact threshold")
    }
    // end state serves exactly like a fresh build over the remainder
    val q = copies.localCheckpoint(true)
    val got = DedupIndex.queryBatch(spark, dir, q).collect().toSeq
    val fresh = Files.createTempDirectory("graft-dix-auto-fresh").toString
    DedupIndex.write(spark, corpus.filter(!col("doc_id").isin(victims: _*)), fresh)
    val want = DedupIndex.queryBatch(spark, fresh, q).collect().toSeq
    assert(got.nonEmpty && got == want,
      s"auto-compacted index diverged from a fresh build: ${got.size} vs ${want.size} rows")
  }

  test("streaming ingestion gate drops near-dups across micro-batches (foreachBatch)") {
    val dir = Files.createTempDirectory("graft-dix-stream").toString
    DedupIndex.write(spark, corpus, dir)
    import spark.implicits._
    val dupOfCorpus = corpus.filter(size(split(col("text"), " ")) >= 3)
      .orderBy(col("doc_id")).limit(1).collect()(0).getString(1)
    val freshA = (1 to 20).map(i => s"uniqalpha$i").mkString(" ")
    val freshB = (1 to 20).map(i => s"uniqbeta$i").mkString(" ")
    val incoming = Seq(
      5001L -> dupOfCorpus,        // batch 1: exact dup of an indexed doc
      5002L -> freshA,             // batch 1: genuinely new
      5003L -> (freshA + " tail"), // batch 2: near-dup of 5002 (batch 1!)
      5004L -> freshB              // batch 2: genuinely new
    ).toDF("doc_id", "text").localCheckpoint(true)
    val batches = Seq(Seq(5001L, 5002L), Seq(5003L, 5004L))
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = streaming.EventStream.toForeachBatch(
        input.toDF().toDF("in_id"), s"$dir/ckpt") { (batch, _) =>
      if (!batch.isEmpty) {
        val ids = batch.collect().map(_.getLong(0))
        val docs = incoming.filter(col("doc_id").isin(ids: _*)).localCheckpoint(true)
        val dups = DedupIndex.queryBatch(spark, dir, docs)
          .filter(col("est_jaccard") >= 0.5)
          .select(col("batch_id").as("doc_id")).distinct()
        DedupIndex.append(spark, dir, docs.join(dups, Seq("doc_id"), "left_anti"))
      }
    }
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    val indexed = spark.read.parquet(s"$dir/sigs")
      .filter(col("doc_id") >= 5000L).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    // the gate kept the two fresh docs and dropped both duplicates —
    // including 5003, whose only near-dup (5002) arrived one micro-batch
    // earlier: the cross-batch property a per-batch self-dedup can't give
    assert(indexed == Set(5002L, 5004L),
      s"streaming gate admitted the wrong set: $indexed")
  }

  test("degenerate boilerplate corpus: the hot-bucket cap bounds queryBatch fan-out") {
    import spark.implicits._
    // MORE identical documents than LshGuard.BucketCap (4096), so the
    // bound actually BINDS: every band signature collides, an uncapped
    // bucket join would fan |corpus|x|batch| per band, and a corpus at
    // or under the cap would pass this test even with the guard removed.
    val nDocs = graft.ops.LshGuard.BucketCap + 1000
    val boiler = "the same boilerplate template text repeated everywhere verbatim"
    val corpusBig = (0L until nDocs.toLong).map(i => (i, boiler)).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_dix_degen").toString
    DedupIndex.write(spark, corpusBig, dir)
    val batch = (9000000L until 9000005L).map(i => (i, boiler)).toDF("doc_id", "text")
    val got = DedupIndex.queryBatch(spark, dir, batch).collect()
    // every batch doc matches (est 1.0) against EXACTLY the cap's worth
    // of corpus docs — the guard bounds candidates without erasing recall
    assert(got.nonEmpty && got.forall(_.getAs[Double]("est_jaccard") == 1.0))
    val perBatchDoc = got.groupBy(_.getLong(0)).view.mapValues(_.length)
    assert(perBatchDoc.values.forall(_ == graft.ops.LshGuard.BucketCap),
      s"fan-out ${perBatchDoc.values.toSeq.distinct} != cap on a $nDocs-doc degenerate corpus")
  }

  test("Forget.forget scrubs the near-dup surface too") {
    val dir = Files.createTempDirectory("graft-dix-forget").toString
    DedupIndex.write(spark, corpus, dir)
    val victim = expectedIdentityIds.max
    import spark.implicits._
    val r = Forget.forget(spark, Seq(victim).toDF("doc_id"),
      dedupIndexDir = Some(dir))
    assert(r.dedupTombstoned && r.nIds == 1)
    val got = DedupIndex.queryBatch(spark, dir, copies.localCheckpoint(true))
      .collect().toSeq
    assert(!got.exists(_.getLong(1) == victim),
      "forgotten document still surfaces as a near-dup match")
  }
}
