package graft

import graft.functions.DotProduct
import graft.ops.{AnnIndex, Retrieval}
import org.apache.spark.sql.functions._

/** The index-build / search-job separation (round 6): the trained
  * quantizer state persists as parquet and a later job searches the
  * loaded index without retraining or re-encoding — and gets the
  * BIT-IDENTICAL answer the live session path (q140) produces.
  */
class AnnIndexSpec extends SparkSuite {
  import spark.implicits._

  test("persisted-index search is bit-identical to the live q140 path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annix").toString
    AnnIndex.write(spark, sf0001, dir)
    val ix = AnnIndex.load(spark, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v")
    val got = AnnIndex.search(spark, ix, queries, nprobe = 2, k = 3,
        excludeSelf = true)
      .orderBy($"qid", $"rnk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val want = Retrieval.ivfAdcSearch.run(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.sameElements(want),
      s"index search diverged from live path:\n got ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("drift monitor: identical re-ingest reads the baseline exactly; a drifted batch moves it") {
    val rnd = new scala.util.Random(41)
    val corpus = (0 until 80)
      .map(i => (i.toLong, IndexedSeq.fill(64)(rnd.nextGaussian())))
      .toDF("vec_id", "v").localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("graft-annix-drift").toString
    AnnIndex.writeVectors(spark, corpus, dir)
    def rows(batch: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, Long)] =
      AnnIndex.quantizationDrift(spark, dir, batch).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // re-ingesting the exact build corpus must read the persisted
    // baseline bit-for-bit — same vectors, same frozen codebook, same
    // mean/p95 arithmetic
    val same = rows(corpus)
    assert(same("batch") == same("baseline"),
      s"identical batch diverged from baseline: $same")
    // an affine distribution shift the codebook never saw must move the
    // metric — the retrain trigger actually fires
    val drifted = rows(corpus.select($"vec_id",
      expr("transform(v, x -> x * 1.5d + 0.25d)").as("v")))
    assert(drifted("batch")._2 > drifted("baseline")._2 &&
      drifted("batch")._3 > drifted("baseline")._3,
      s"drifted batch did not move the error metric: $drifted")
  }

  test("external queries (not in the corpus) search the loaded index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annix2").toString
    AnnIndex.write(spark, sf0001, dir)
    val ix = AnnIndex.load(spark, dir)
    // perturbed copies of two corpus vectors — near but not identical
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val queries = e.filter($"vec_id".isin(7L, 11L))
      .select(($"vec_id" + 1000L).as("qid"),
        expr("transform(v, x -> x * 1.01)").as("v"))
    val res = AnnIndex.search(spark, ix, queries, nprobe = 2, k = 3)
      .collect()
    assert(res.length == 6, s"expected 2 queries x top-3, got ${res.length}")
    // a lightly-perturbed corpus vector's nearest code should be its
    // original (same direction, ~same residual blocks)
    val top1 = res.filter(_.getInt(1) == 1)
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(top1(1007L) == 7L && top1(1011L) == 11L,
      s"perturbed queries missed their originals: $top1")
  }

  test("append encodes new vectors with the frozen quantizers; search finds them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annix3").toString
    AnnIndex.write(spark, sf0001, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    // near-copies of vectors 3 and 9, appended under new ids
    val batch = e.filter($"vec_id".isin(3L, 9L))
      .select(($"vec_id" + 5000L).as("vec_id"),
        expr("transform(v, x -> x * 0.99)").as("v"))
    val before = AnnIndex.load(spark, dir)
    val after = AnnIndex.append(spark, dir, batch)
    // existing rows untouched, two rows appended to each table
    assert(after.assigned.count() == before.assigned.count() + 2)
    assert(after.codes.count() == before.codes.count() + 8) // 2 vecs × 4 blocks
    // an appended vector is retrievable: query with its ORIGINAL —
    // the near-copy must surface in the top-3 codes
    val queries = e.filter($"vec_id".isin(3L, 9L))
      .select($"vec_id".as("qid"), $"v")
    val res = AnnIndex.search(spark, after, queries, nprobe = 2, k = 3,
        excludeSelf = true)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    assert(res(3L).contains(5003L) && res(9L).contains(5009L),
      s"appended near-copies not retrieved: $res")
  }

  test("allow-list search confines candidates and preserves ADC ranking") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annix4").toString
    AnnIndex.write(spark, sf0001, dir)
    val ix = AnnIndex.load(spark, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v")
    val allowed = e.filter($"vec_id" % 2 === 0).select($"vec_id")
    // probe every list so the candidate set is exactly the allow-list:
    // the filtered ranking must equal the unfiltered ranking restricted
    // to allowed ids and re-ranked (filter-BEFORE-rank, no k-starving)
    val got = AnnIndex.search(spark, ix, queries, nprobe = 16, k = 3,
        allowed = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.forall(_._3 % 2 == 0), s"disallowed candidate leaked: ${got.toSeq}")
    val want = AnnIndex.search(spark, ix, queries, nprobe = 16, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .filter(_._2 % 2 == 0)
      .groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
        rows.sortBy(r => (r._3, r._2)).take(3).zipWithIndex
          .map { case (r, i) => (qid, i + 1, r._2) }
      }.sorted
    assert(got.sorted.sameElements(want),
      s"filtered ranking diverged:\n got ${got.sorted.toSeq}\nwant $want")
  }

  test("delete tombstones ids immediately; compact folds them into the files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annix5").toString
    AnnIndex.write(spark, sf0001, dir)
    val ix = AnnIndex.load(spark, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v")
    // delete the two ids the unfiltered search ranks first — the
    // strongest test that results actually change
    val victims = AnnIndex.search(spark, ix, queries, nprobe = 16, k = 1)
      .collect().map(_.getLong(2)).distinct.take(2).toSeq
    val delIx = AnnIndex.delete(spark, dir, victims.toDF("vec_id"))
    val got = AnnIndex.search(spark, delIx, queries, nprobe = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.forall(r => !victims.contains(r._3)),
      s"deleted id still served: ${got.toSeq}")
    // tombstoned search ranks exactly like an allow-list of the complement
    val want = AnnIndex.search(spark, ix, queries, nprobe = 16, k = 3,
        allowed = Some(e.filter(!$"vec_id".isin(victims: _*)).select($"vec_id")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.sorted.sameElements(want.sorted),
      s"tombstoned ranking diverged:\n got ${got.sorted.toSeq}\nwant ${want.sorted.toSeq}")
    // compact physically removes the rows and leaves results unchanged
    val before = (ix.assigned.count(), ix.codes.count())
    val compIx = AnnIndex.compact(spark, dir)
    assert(compIx.assigned.count() == before._1 - victims.size)
    assert(compIx.codes.count() == before._2 - victims.size * 4)
    assert(!new java.io.File(s"$dir/tombstones").exists, "tombstones cleared")
    val after = AnnIndex.search(spark, compIx, queries, nprobe = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(after.sorted.sameElements(got.sorted),
      "compaction changed search results")
  }

  test("deletes past the auto-compact threshold fold the ledger in without a manual compact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annix-auto").toString
    AnnIndex.write(spark, sf0001, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v")
    val victims = Seq(100L, 101L, 102L, 103L)
    var ix: ops.AnnIndex.Index = null
    victims.foreach { v =>
      ix = AnnIndex.delete(spark, dir, Seq(v).toDF("vec_id"), autoCompactAt = 2L)
      val t = new java.io.File(s"$dir/tombstones")
      val rows = if (t.exists) spark.read.parquet(t.toString).count() else 0L
      assert(rows < 2L, s"ledger grew to $rows rows despite the auto-compact threshold")
    }
    // the physically-compacted index ranks like an allow-list of the complement
    val got = AnnIndex.search(spark, ix, queries, nprobe = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val want = AnnIndex.search(spark, AnnIndex.load(spark, dir), queries,
        nprobe = 16, k = 3,
        allowed = Some(e.filter(!$"vec_id".isin(victims: _*)).select($"vec_id")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.sorted.sameElements(want.sorted),
      s"auto-compacted ranking diverged:\n got ${got.sorted.toSeq}\nwant ${want.sorted.toSeq}")
  }

  test("codes scan is pruned to the probed inverted-list directories") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annix8").toString
    AnnIndex.write(spark, sf0001, dir)
    val ix = AnnIndex.load(spark, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val queries = e.filter($"vec_id" < 2).select($"vec_id".as("qid"), $"v")
    // the search plan carries a c_id partition filter on the codes scan
    val p = AnnIndex.search(spark, ix, queries, nprobe = 2, k = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("c_id#"), p.take(3000))
    // file-level proof: 2 queries × 2 probes read at most 4 of the list
    // dirs, strictly fewer than the total inverted-list count
    val nLists = ix.centroids.count()
    val searched = AnnIndex.search(spark, ix, queries, nprobe = 2, k = 1000)
      .select($"cand")
    val dirsRead = ix.codes
      .join(searched.distinct(), $"vec_id" === $"cand", "left_semi")
      .select($"c_id").distinct().count()
    assert(dirsRead <= 4 && dirsRead < nLists,
      s"candidates spanned $dirsRead of $nLists lists (nprobe bound 4)")
  }

  test("append replayed at-least-once is a no-op: no duplicate rows, same ranking") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annix6").toString
    AnnIndex.write(spark, sf0001, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val batch = e.filter($"vec_id".isin(3L, 9L))
      .select(($"vec_id" + 6000L).as("vec_id"),
        expr("transform(v, x -> x * 0.99)").as("v"))
    val once = AnnIndex.append(spark, dir, batch)
    val counts = (once.assigned.count(), once.codes.count())
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v")
    val res1 = AnnIndex.search(spark, once, queries, nprobe = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    // the crash-replay pattern: the exact same batch lands again
    val twice = AnnIndex.append(spark, dir, batch)
    assert((twice.assigned.count(), twice.codes.count()) == counts,
      "replayed append duplicated index rows")
    val res2 = AnnIndex.search(spark, twice, queries, nprobe = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(res2.sameElements(res1), "replayed append changed rankings")
  }

  test("a torn append (partial code blocks, no assigned) heals on replay") {
    // The round-8 advice scenario: the codes write crashes mid-commit,
    // leaving SOME of a vector's 4 block rows on disk and no assigned
    // row. A vec_id-granular replay skip would then write assigned
    // against the short block set — that vector ranked by a permanently
    // under-summed distance. The round-9 contract: replay re-writes the
    // torn vector's full block set (complete-id anti-join) and search
    // dedups per (cand, block), so the healed index ranks exactly like
    // a never-torn one.
    val dirClean = java.nio.file.Files.createTempDirectory("graft-annixA").toString
    val dirTorn = java.nio.file.Files.createTempDirectory("graft-annixB").toString
    AnnIndex.write(spark, sf0001, dirClean)
    AnnIndex.write(spark, sf0001, dirTorn)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val batch = e.filter($"vec_id" === 3L)
      .select(($"vec_id" + 8000L).as("vec_id"),
        expr("transform(v, x -> x * 0.99)").as("v"))
    // clean reference: one successful append
    AnnIndex.append(spark, dirClean, batch)
    // torn state: exactly the rows a crashed codes job would have
    // committed — blocks 0-1 of the new vector, nothing in assigned
    // (frozen quantizers => the clean index's code rows ARE the values
    // the crashed job was writing)
    spark.read.parquet(s"$dirClean/codes")
      .filter($"vec_id" === 8003L && $"b" < 2)
      .write.partitionBy("c_id").mode("append").parquet(s"$dirTorn/codes")
    assert(spark.read.parquet(s"$dirTorn/codes").filter($"vec_id" === 8003L)
      .count() == 2, "torn fixture should hold a partial block set")
    // the at-least-once replay
    AnnIndex.append(spark, dirTorn, batch)
    val codes = spark.read.parquet(s"$dirTorn/codes").filter($"vec_id" === 8003L)
    assert(codes.select($"b").distinct().count() == AnnIndex.CodeBlocks.toLong,
      "replay did not complete the torn block set")
    assert(codes.count() == AnnIndex.CodeBlocks.toLong + 2,
      "expected the full block set plus the stale partial rows")
    // and the healed index ranks bit-identically to the never-torn one
    val queries = e.filter($"vec_id".isin(3L, 7L))
      .select($"vec_id".as("qid"), $"v")
    def rank(d: String) = AnnIndex.search(spark, AnnIndex.load(spark, d),
        queries, nprobe = 16, k = 5, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted
    assert(rank(dirTorn).sameElements(rank(dirClean)),
      "healed index diverged from the never-torn reference")
  }

  test("writeScaled sizes the inverted lists to the corpus; same serve paths") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annix9").toString
    // a 25x duplicated corpus (the rehearsal shape) written as a
    // standalone table dir so writeScaled sees the bigger n
    val big = java.nio.file.Files.createTempDirectory("graft-annix9d").toString
    val base = Tables.embeddings(spark, sf0001)
    val shift = 1000000L
    (0 until 25).map(i => base.select(($"vec_id" + i * shift).as("vec_id"),
        $"embedding", $"label"))
      .reduce(_ unionByName _)
      .write.parquet(s"$big/embeddings.parquet")
    AnnIndex.writeScaled(spark, big, dir)
    val ix = AnnIndex.load(spark, dir)
    // ~√(25·n0) lists, not the fixed 16 (Lloyd may drop lists that end
    // up empty, so the trained count can sit a little under the target)
    val nLists = ix.centroids.count()
    val n = spark.read.parquet(s"$big/embeddings.parquet").count()
    val target = math.ceil(math.sqrt(n.toDouble)).toLong
    assert(nLists > 16 && nLists <= target && nLists * 2 >= target,
      s"expected ~sqrt($n)=$target lists, got $nLists")
    // every assigned list id references a real centroid and codes kept
    // their 4 blocks per vector under the partitioned layout
    assert(ix.codes.count() == n * 4)
    // the UNCHANGED search path serves the scaled layout: perturbed
    // copies of two corpus vectors recover their originals
    val e = spark.read.parquet(s"$big/embeddings.parquet")
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val queries = e.filter($"vec_id".isin(7L, 11L))
      .select(($"vec_id" + 5000L).as("qid"), expr("transform(v, x -> x * 1.01)").as("v"))
    val res = AnnIndex.search(spark, ix, queries, nprobe = 8, k = 3)
      .collect()
    assert(res.length == 6)
    val top = res.filter(_.getInt(1) == 1).map(r => r.getLong(0) -> r.getLong(2)).toMap
    // with 25 identical copies any copy of the original is a correct
    // top hit — check modulo the shift
    assert(top(5007L) % shift == 7L && top(5011L) % shift == 11L,
      s"perturbed queries missed their originals: $top")
  }

  test("autoNprobe holds the probed fraction across writeScaled list counts") {
    // two sizings of the SAME corpus — the writeScaled re-size a growing
    // deployment performs; a fixed nprobe would shrink the probed
    // fraction 4x between them, autoNprobe must not
    val frac = 0.25
    val dirs = Seq(16, 64).map { k =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-annauto$k").toString
      AnnIndex.writeScaled(spark, sf0001, dir, nListsOverride = Some(k))
      AnnIndex.load(spark, dir)
    }
    val fracs = dirs.map { ix =>
      val n = ix.centroids.count()
      val np = AnnIndex.autoNprobe(ix, frac)
      // the ceil contract: frac <= np/n < frac + 1/n — the fraction is
      // pinned within one list of the target at ANY list count
      assert(np >= frac * n && np < frac * n + 1, s"np=$np lists=$n")
      np.toDouble / n
    }
    assert(fracs.forall(f => f >= frac && f < frac + 1.0 / 16),
      s"probed fractions drifted: $fracs")
    // and the derived nprobe actually serves: full k rows per query
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val queries = e.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"v").localCheckpoint()
    val got = AnnIndex.searchAuto(spark, dirs(1), queries, k = 5, frac = frac)
      .groupBy($"qid").count().collect().map(_.getLong(1))
    assert(got.length == 4 && got.forall(_ == 5L))
  }

  test("searchRerank at full coverage equals the exact brute-force top-k") {
    // frac = 1.0 probes every list and the per-probe shortlist keeps
    // every candidate, so the two-stage path's only remaining deviation
    // from exact search would be a bug in the shortlist/re-rank plumbing
    // — the degenerate setting where approximate MUST equal exact. The
    // production-fraction behavior (recall vs coverage vs shortlist) is
    // measured, not asserted, in IndexBench (BENCH.md round 11).
    val dir = java.nio.file.Files.createTempDirectory("graft-annrr").toString
    AnnIndex.writeScaled(spark, sf0001, dir, nListsOverride = Some(16))
    val ix = AnnIndex.load(spark, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      .localCheckpoint(true)
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v")
    val got = AnnIndex.searchRerank(spark, ix, e, queries, k = 4, frac = 1.0,
        shortlistPerProbe = 1000, excludeSelf = true)
      .orderBy($"qid", $"rnk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // exact oracle: q143's integer micro-unit distance, brute force
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"edist_micro", $"cand")
    val want = queries.as("q").crossJoin(e.as("c"))
      .filter($"q.qid" =!= $"c.vec_id")
      .select($"q.qid".as("qid"), $"c.vec_id".as("cand"),
        round((DotProduct.dot($"q.v", $"q.v") - lit(2) * DotProduct.dot($"q.v", $"c.v") +
          DotProduct.dot($"c.v", $"c.v")) * 1000000).cast("long").as("edist_micro"))
      .withColumn("rnk", row_number().over(w)).filter($"rnk" <= 4)
      .select($"qid", $"rnk", $"cand", ($"edist_micro" / 1000000.0).as("exact_dist"))
      .orderBy($"qid", $"rnk")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty && got.sameElements(want),
      s"two-stage path diverged from exact:\n got ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("exact-cover fast path returns exactly the ADC-shortlist path's rows") {
    // frac = 1.0 with a corpus-covering shortlist takes the round-19
    // exact-cover path (skip ADC straight to the re-rank); frac = 0.99
    // rounds up to the SAME probe count (ceil(0.99·16) = 16) but stays
    // on the ADC-shortlist path — the two must be row-identical, pinning
    // the fast path to the legacy semantics it replaces.
    val dir = java.nio.file.Files.createTempDirectory("graft-anncover").toString
    AnnIndex.writeScaled(spark, sf0001, dir, nListsOverride = Some(16))
    val ix = AnnIndex.load(spark, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      .localCheckpoint(true)
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v")
    def run(frac: Double) =
      AnnIndex.searchRerank(spark, ix, e, queries, k = 6, frac = frac,
          shortlistPerProbe = 100000, excludeSelf = true)
        .orderBy($"qid", $"rnk")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val fast = run(1.0)
    val legacy = run(0.99)
    assert(fast.nonEmpty && fast.sameElements(legacy),
      s"exact-cover path diverged:\n fast ${fast.toSeq}\nlegacy ${legacy.toSeq}")
  }

  test("searchRerank sizes itself from parquet footers on an index without tombstones") {
    // autoNprobe's list count and the exact-cover gate's membership come
    // from the file footers, so building the frame launches no count()
    val dir = java.nio.file.Files.createTempDirectory("graft-annfooter").toString
    AnnIndex.writeScaled(spark, sf0001, dir, nListsOverride = Some(16))
    val ix = AnnIndex.load(spark, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      .localCheckpoint(true)
    val queries = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v")
    // exact cover: every list probed, shortlist covers the index
    val (_, coverJobs) = jobsDuring(AnnIndex.searchRerank(spark, ix, e, queries,
      k = 6, frac = 1.0, shortlistPerProbe = 100000, excludeSelf = true))
    assert(coverJobs === 0)
    // ADC shortlist path: only search's own probed-list collect runs
    val (_, adcJobs) = jobsDuring(AnnIndex.searchRerank(spark, ix, e, queries,
      k = 6, frac = 0.15, excludeSelf = true))
    val np = AnnIndex.autoNprobe(ix, 0.15)
    val (_, searchJobs) = jobsDuring(AnnIndex.search(spark, ix, queries,
      nprobe = np, k = 64 * np, excludeSelf = true))
    assert(searchJobs > 0 && adcJobs === searchJobs)
  }

  test("streaming appends maintain the index incrementally (foreachBatch)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annix7").toString
    AnnIndex.write(spark, sf0001, dir)
    val e = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    // two micro-batches of perturbed near-copies under fresh ids — the
    // continuous-ingest pattern served by the frozen quantizers
    val batches = Seq(Seq(3L), Seq(9L, 13L))
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = streaming.EventStream.toForeachBatch(
        input.toDF().toDF("src_id"), s"$dir/ckpt") { (batch, _) =>
      if (!batch.isEmpty) {
        val ids = batch.collect().map(_.getLong(0))
        AnnIndex.append(spark, dir,
          e.filter($"vec_id".isin(ids: _*))
            .select(($"vec_id" + 7000L).as("vec_id"),
              expr("transform(v, x -> x * 0.99)").as("v")))
      }
    }
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // the streamed index equals one bulk append of all three vectors
    val bulkDir = java.nio.file.Files.createTempDirectory("graft-annix7b").toString
    AnnIndex.write(spark, sf0001, bulkDir)
    AnnIndex.append(spark, bulkDir,
      e.filter($"vec_id".isin(batches.flatten: _*))
        .select(($"vec_id" + 7000L).as("vec_id"),
          expr("transform(v, x -> x * 0.99)").as("v")))
    val queries = e.filter($"vec_id".isin(3L, 9L, 13L)).select($"vec_id".as("qid"), $"v")
    def rank(d: String) = AnnIndex.search(spark, AnnIndex.load(spark, d),
        queries, nprobe = 16, k = 3, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val streamed = rank(dir)
    assert(streamed.sameElements(rank(bulkDir)),
      "streamed index diverged from bulk append")
    // each original's near-copy surfaces in its own top-3
    val bySrc = streamed.groupBy(_._1).view.mapValues(_.map(_._3).toSet)
    assert(batches.flatten.forall(id => bySrc(id).contains(id + 7000L)),
      s"streamed vectors not retrievable: ${bySrc.toMap}")
  }
}
