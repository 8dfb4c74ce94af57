package graft

import org.apache.spark.sql.functions._

/** Chunking/packing invariants: chunk coverage identities vs a
  * driver-side reference, and the packer's conservation + fill laws.
  */
class Advanced18Spec extends SparkSuite {
  import spark.implicits._

  test("q179 chunks match a driver-side reference (starts, lengths, digests)") {
    val texts = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = texts.flatMap { case (id, toks) =>
      val n = toks.length
      val nc = 1 + math.max(0, (n - 64 + 47) / 48)
      (0 until nc).map { i =>
        val chunk = toks.slice(i * 48, i * 48 + 64)
        (id, i, i * 48, chunk.length, md5hex(chunk.mkString(" ")))
      }
    }.toSet
    val got = ops.Packing.chunking.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSet
    assert(got == want,
      s"chunking diverges:\n  extra=${(got -- want).take(5)}\n  missing=${(want -- got).take(5)}")
  }

  test("q179 coverage identities on hand-built lengths") {
    // n <= size: exactly one chunk; n = size+1: two (the tail overlaps)
    val docs = Seq(
      (1L, (1 to 64).map(i => s"t$i").mkString(" ")),
      (2L, (1 to 65).map(i => s"t$i").mkString(" ")),
      (3L, (1 to 160).map(i => s"t$i").mkString(" ")),
      (4L, "solo"))
      .toDF("doc_id", "text")
    val got = ops.Packing.chunkDocs(docs, 64, 48).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .groupBy(_._1)
    assert(got(1L).length == 1 && got(1L).head._4 == 64)
    assert(got(2L).length == 2 && got(2L).map(_._4).toSet == Set(64L, 17L))
    // n=160: ceil((160-64)/48)=2 extra chunks -> 3; last start 96, len 64
    assert(got(3L).length == 3 && got(3L).map(_._3).sorted.toSeq == Seq(0L, 48L, 96L))
    assert(got(4L).length == 1 && got(4L).head._4 == 1)
    // every token index is covered by at least one chunk
    got(3L).foreach { case (_, _, s, l) => assert(s + l <= 160) }
    val covered = got(3L).flatMap { case (_, _, s, l) => s until (s + l) }.toSet
    assert(covered == (0L until 160L).toSet, "chunks must cover every token")
  }

  test("q180 packing conserves tokens, fills every non-tail sequence exactly, splits correctly") {
    val rows = ops.Packing.sequencePack.run(spark, sf0001).collect()
    val seqIds = rows.map(_.getLong(0))
    assert(seqIds.toSeq == seqIds.min.to(seqIds.max), "sequence ids are dense")
    val total = Tables.documents(spark, sf0001)
      .select(sum(size(split($"text", " ")).cast("long"))).collect()(0).getLong(0)
    assert(rows.map(_.getLong(2)).sum == total, "token conservation")
    rows.dropRight(1).foreach { r =>
      assert(r.getLong(2) == 128, s"non-tail sequence must hold exactly 128: $r")
    }
    assert(rows.last.getLong(2) <= 128)
    // a doc fragment count law: sum over seqs of n_split_docs counts each
    // boundary-crossing doc once per sequence it only partially fills
    val frags = ops.Packing.packSequences(
      Tables.documents(spark, sf0001)
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n_toks")), 128)
    val byDoc = frags.groupBy($"doc_id")
      .agg(sum($"contrib").as("c"), first($"n_toks").as("n")).collect()
    byDoc.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"per-doc contributions must sum to its length: $r"))
  }

  test("q181 curriculum bins quartile the LM scores monotonically and match a driver NTILE") {
    val rows = ops.Curation.curriculumBins.run(spark, sf0001).collect()
    val sizes = rows.groupBy(_.getInt(3)).view.mapValues(_.length).toMap
    assert(sizes.keySet == Set(1, 2, 3, 4))
    assert(sizes.values.max - sizes.values.min <= 1, s"ntile sizes must differ by <=1: $sizes")
    val byBin = rows.groupBy(_.getInt(3)).view.mapValues(_.map(_.getLong(2))).toMap
    for (b <- 1 to 3)
      assert(byBin(b).min >= byBin(b + 1).max,
        s"bin $b must not score below bin ${b + 1}")
    // replay SQL NTILE on the driver over the q154 scores
    val scored = ops.Tokenization.bigramLmScore.run(spark, sf0001)
      .select($"doc_id", $"mean_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val n = scored.length
    val q = n / 4; val rem = n % 4
    val want = scored.sortBy { case (id, s) => (-s, id) }.zipWithIndex.map {
      case ((id, _), i) =>
        id -> (if (i < (q + 1) * rem) i / (q + 1) + 1 else (i - rem) / q + 1)
    }.toMap
    rows.foreach(r => assert(want(r.getLong(0)) == r.getInt(3),
      s"bin diverges from NTILE replay at doc ${r.getLong(0)}"))
  }

  test("q182 diversity ratios match a driver-side reference per source") {
    val docs = Tables.documents(spark, sf0001)
      .select($"source", $"text").collect()
      .map(r => (r.getString(0), r.getString(1).split(" ", -1).toSeq))
    val want = docs.groupBy(_._1).map { case (src, rows) =>
      val unis = rows.flatMap(_._2)
      val bis = rows.flatMap { case (_, t) => t.sliding(2).filter(_.length == 2).map(_.mkString(" ")) }
      (src, unis.length.toLong, unis.distinct.length.toLong,
        bis.length.toLong, bis.distinct.length.toLong)
    }.toSet
    val got = ops.Tokenization.ngramDiversity.run(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))).toSet
    assert(got == want, s"diversity diverges:\n  extra=${got -- want}\n  missing=${want -- got}")
    // ratio identities
    ops.Tokenization.ngramDiversity.run(spark, sf0001).collect().foreach { r =>
      assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(6) >= r.getDouble(3),
        "bigrams are near-unique on diverse text: distinct2 >= distinct1 here")
    }
  }

  test("q184 boilerplate spans match a driver-side reference and are genuinely cross-doc") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val spans = docs.flatMap { case (id, toks) =>
      toks.grouped(16).map(g => (id, md5hex(g.mkString(" "))))
    }
    val want = spans.groupBy(_._2).collect {
      case (h, occ) if occ.map(_._1).distinct.length > 1 =>
        (h, occ.length.toLong, occ.map(_._1).distinct.length.toLong, occ.map(_._1).min)
    }.toSet
    val got = ops.Dedup.boilerplateSpans.run(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want,
      s"boilerplate diverges:\n  extra=${(got -- want).take(3)}\n  missing=${(want -- got).take(3)}")
    assert(got.nonEmpty, "the synthetic corpus is known to share spans — empty means broken")
    got.foreach { case (_, nSpans, nDocs, _) => assert(nSpans >= nDocs && nDocs >= 2) }
  }

  test("q180 hand-built packing: spans and splits land where arithmetic says") {
    val toks = Seq((0L, 100L), (1L, 50L), (2L, 6L), (3L, 100L)).toDF("doc_id", "n_toks")
    val frags = ops.Packing.packSequences(toks, 128).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5))) // doc, seq_id, contrib
      .toSet
    // doc0 [0,100) -> seq0:100; doc1 [100,150) -> seq0:28, seq1:22;
    // doc2 [150,156) -> seq1:6; doc3 [156,256) -> seq1:100
    assert(frags == Set((0L, 0L, 100L), (1L, 0L, 28L), (1L, 1L, 22L),
      (2L, 1L, 6L), (3L, 1L, 100L)), s"got $frags")
  }
}
