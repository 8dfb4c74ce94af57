package graft

import graft.ops.{AnnIndex, LmModel, Release, TextIndex}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Release.upgrade* contracts: rolling a persisted index from corpus v1
  * to v2 through delta-delete-compact-append must serve v2 exactly —
  * bit-identical BM25 vs a fresh v2 build, and for ANN (frozen
  * quantizers by design) removed ids unfindable, changed vectors
  * retrievable, row parity.
  */
class ReleaseSpec extends SparkSuite {
  import spark.implicits._

  test("upgraded text index is bit-identical to a fresh build over the new corpus") {
    val dir = Files.createTempDirectory("graft-rel-tix").toString
    TextIndex.write(spark, sf0001, dir)
    val v1 = Tables.documents(spark, sf0001)
    val v2 = v1.filter(col("doc_id") % 17 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(lit("dup spark "), col("text")))
          .otherwise(col("text")))
      .unionByName(Seq(
        (9100L, "spark vector dup dup", "en", "src", 20L),
        (9101L, "vector vector spark", "en", "src", 19L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .localCheckpoint(true)
    val d = Release.delta(v1, v2, "doc_id", md5(col("text")))
    val (na, nc, nr) = d.summary
    assert(na == 2 && nc > 0 && nr > 0, s"degenerate delta: $na/$nc/$nr")
    val ix = Release.upgradeTextIndex(spark, dir, v2, d)
    val cdir = Files.createTempDirectory("graft-rel-tixc").toString
    v2.write.parquet(s"$cdir/documents.parquet")
    val got = TextIndex.search(spark, ix, Seq("dup", "vector", "spark"), 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val want = ops.Retrieval.bm25.run(spark, cdir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.sameElements(want),
      s"upgraded index != fresh v2 build:\n got ${got.toSeq}\nwant ${want.toSeq}")
    // live-view parity, not raw-file: the O(delta) epoch upgrade leaves
    // dead rows in the files until auto-compact folds them
    assert(ix.doclens.count() == v2.count(), "live doclens row parity with v2")
    // the upgrade actually served the delta: a revised doc leads the
    // "dup" ranking only if its new text is indexed
    assert(got.map(_._2).contains(9100L), "added doc not retrievable")
  }

  test("upgraded ANN index forgets removed ids and serves changed vectors") {
    val dir = Files.createTempDirectory("graft-rel-ann").toString
    AnnIndex.write(spark, sf0001, dir)
    val v1 = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      .localCheckpoint(true)
    val v2 = v1.filter($"vec_id" % 19 =!= 2)
      .withColumn("v",
        when($"vec_id" % 23 === 1, transform($"v", x => x * -1)).otherwise($"v"))
      .unionByName(v1.filter($"vec_id" === 0L)
        .select(lit(9100L).as("vec_id"), transform($"v", x => x * 2).as("v")))
      .localCheckpoint(true)
    val d = Release.delta(v1, v2, "vec_id", xxhash64($"v"))
    val (na, nc, nr) = d.summary
    assert(na == 1 && nc > 0 && nr > 0, s"degenerate delta: $na/$nc/$nr")
    val ix = Release.upgradeAnnIndex(spark, dir, v2, d)
    assert(ix.assigned.count() == v2.count(), "assigned row parity with v2")
    val removedIds = d.removed.collect().map(_.getLong(0)).toSeq
    assert(ix.assigned.filter($"vec_id".isin(removedIds: _*)).count() == 0)
    // a changed id is retrievable BY its new (negated) vector
    val changedId = d.changed.orderBy($"id").collect()(0).getLong(0)
    val q = v2.filter($"vec_id" === changedId).select($"vec_id".as("qid"), $"v")
    val hits = AnnIndex.search(spark, ix, q, nprobe = 2, k = 3)
      .collect().map(_.getLong(2))
    assert(hits.contains(changedId),
      s"changed vector not retrievable by its new self: ${hits.toSeq}")
    // and no removed id ever surfaces
    val qAll = v2.filter($"vec_id" < 10).select($"vec_id".as("qid"), $"v")
    val all = AnnIndex.search(spark, ix, qAll, nprobe = 2, k = 5)
      .collect().map(_.getLong(2))
    assert(!all.exists(removedIds.contains), "a removed id surfaced in search")
  }

  test("upgraded LM model is bit-identical to a fresh train over the new corpus") {
    val dir = Files.createTempDirectory("graft-rel-lm").toString
    val v1 = Tables.documents(spark, sf0001).localCheckpoint(true)
    LmModel.write(spark, v1, dir)
    val v2 = v1.filter(col("doc_id") % 17 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(lit("dup spark "), col("text")))
          .otherwise(col("text")))
      .unionByName(Seq(
        (9100L, "spark vector dup dup fresh release", "en", "src", 34L),
        (9101L, "vector vector spark fresh", "en", "src", 25L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .localCheckpoint(true)
    val d = Release.delta(v1, v2, "doc_id", md5(col("text")))
    val (na, nc, nr) = d.summary
    assert(na == 2 && nc > 0 && nr > 0, s"degenerate delta: $na/$nc/$nr")
    Release.upgradeLmModel(spark, dir, v1, v2, d)
    val fresh = Files.createTempDirectory("graft-rel-lm-fresh").toString
    LmModel.write(spark, v2, fresh)
    // raw-table equality — the strongest form: the count algebra must
    // reproduce the fresh train's tables exactly, zero rows left behind
    def tbl(root: String, t: String, cols: Seq[String]): Set[Seq[Any]] =
      spark.read.parquet(s"$root/$t").select(cols.map(col): _*)
        .collect().map(_.toSeq).toSet
    assert(tbl(dir, "bigrams", Seq("gram", "c12")) ==
      tbl(fresh, "bigrams", Seq("gram", "c12")), "bigram counts diverged")
    assert(tbl(dir, "unigrams", Seq("w", "c")) ==
      tbl(fresh, "unigrams", Seq("w", "c")), "unigram counts diverged")
    assert(tbl(dir, "total", Seq("n")) == tbl(fresh, "total", Seq("n")))
    // and the serve surface agrees on a probe mixing revised, fresh,
    // and OOV content
    val probe = v2.limit(50).withColumn("doc_id", col("doc_id") + 30000L)
      .unionByName(Seq((39999L, "zzrel zzrel zzrel", "en", "src", 17L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .localCheckpoint(true)
    val got = LmModel.scoreBatch(spark, dir, probe)
      .orderBy(col("doc_id")).collect().toSeq
    val want = LmModel.scoreBatch(spark, fresh, probe)
      .orderBy(col("doc_id")).collect().toSeq
    assert(got.nonEmpty && got == want,
      s"upgraded LM served differently: ${got.size} vs ${want.size} rows")
  }

  test("full release cycle: one delta rolls all four indexes and the gate serves the upgraded state exactly") {
    val tmp = Files.createTempDirectory("graft-rel-cycle").toString
    val v1 = Tables.documents(spark, sf0001).localCheckpoint(true)
    val v2 = v1.filter(col("doc_id") % 17 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(lit("rev dup "), col("text")))
          .otherwise(col("text")))
      .unionByName(Seq((9100L, "spark vector dup dup near", "en", "src", 25L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .localCheckpoint(true)
    val ev1 = Tables.embeddings(spark, sf0001)
      .select($"vec_id", graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      .localCheckpoint(true)
    val ev2 = ev1.filter($"vec_id" % 19 =!= 2)
      .withColumn("v",
        when($"vec_id" % 23 === 1, transform($"v", x => x * -1)).otherwise($"v"))
      .localCheckpoint(true)
    // v1 serving state, then ONE delta per id space rolls all four
    TextIndex.writeDocs(spark, v1, s"$tmp/text")
    ops.DedupIndex.write(spark, v1, s"$tmp/dix")
    LmModel.write(spark, v1, s"$tmp/lm")
    AnnIndex.writeVectors(spark, ev1, s"$tmp/ann")
    val dd = Release.delta(v1, v2, "doc_id", md5(col("text")))
    val de = Release.delta(ev1, ev2, "vec_id", xxhash64($"v"))
    Release.upgradeTextIndex(spark, s"$tmp/text", v2, dd)
    Release.upgradeDedupIndex(spark, s"$tmp/dix", v2, dd)
    Release.upgradeLmModel(spark, s"$tmp/lm", v1, v2, dd)
    Release.upgradeAnnIndex(spark, s"$tmp/ann", ev2, de)
    // the post-release intake gate over the upgraded dedup+LM state
    // decides EXACTLY as over fresh v2 builds — the composition the
    // per-index equivalence tests can't see
    ops.DedupIndex.write(spark, v2, s"$tmp/dixf")
    LmModel.write(spark, v2, s"$tmp/lmf")
    val half = v2.orderBy($"doc_id").limit(30).localCheckpoint(true)
    val batch = half.withColumn("doc_id", $"doc_id" + 70000L)
      .unionByName(half.withColumn("doc_id", $"doc_id" + 80000L)
        .withColumn("text", concat_ws(" ", reverse(split($"text", " ")))))
      .localCheckpoint(true)
    val cfgU = ops.IngestionGate.Config(s"$tmp/dix", s"$tmp/lm", s"$tmp/accU")
    val cfgF = ops.IngestionGate.Config(s"$tmp/dixf", s"$tmp/lmf", s"$tmp/accF")
    def ids(c: ops.IngestionGate.Config) =
      ops.IngestionGate.decide(spark, c, batch)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
    val aU = ids(cfgU)
    assert(aU == ids(cfgF), "upgraded-index gate diverged from fresh-index gate")
    assert(aU.nonEmpty && aU.size < 60,
      s"degenerate gate split: ${aU.size}/60 admitted — both branches must fire")
    // the upgraded ANN serves through the auto-nprobe path: a changed
    // (negated) vector retrieves its new self
    val changedId = de.changed.orderBy($"id").collect()(0).getLong(0)
    val q = ev2.filter($"vec_id" === changedId).select($"vec_id".as("qid"), $"v")
    val hits = AnnIndex.searchAuto(spark, AnnIndex.load(spark, s"$tmp/ann"), q,
      k = 3, frac = 0.15).collect().map(_.getLong(2))
    assert(hits.contains(changedId),
      s"changed vector not retrievable after the cycle: ${hits.toSeq}")
  }

  test("upgraded dedup index is bit-identical to a fresh build over the new corpus") {
    val dir = Files.createTempDirectory("graft-rel-dix").toString
    val v1 = Tables.documents(spark, sf0001).localCheckpoint(true)
    ops.DedupIndex.write(spark, v1, dir)
    val v2 = v1.filter(col("doc_id") % 17 =!= 5)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(lit("dup spark "), col("text")))
          .otherwise(col("text")))
      .unionByName(Seq(
        (9100L, "spark vector dup dup near", "en", "src", 25L),
        (9101L, "vector vector spark near dup", "en", "src", 28L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .localCheckpoint(true)
    val d = Release.delta(v1, v2, "doc_id", md5(col("text")))
    val (na, nc, nr) = d.summary
    assert(na == 2 && nc > 0 && nr > 0, s"degenerate delta: $na/$nc/$nr")
    val ix = Release.upgradeDedupIndex(spark, dir, v2, d)
    assert(ix.sigs.count() ==
      v2.filter(size(split(col("text"), " ")) >= 3).count(),
      "sig row parity with v2's signable documents")
    val fresh = Files.createTempDirectory("graft-rel-dix-fresh").toString
    ops.DedupIndex.write(spark, v2, fresh)
    val probe = v2.withColumn("doc_id", col("doc_id") + 20000L)
      .localCheckpoint(true)
    val got = ops.DedupIndex.queryBatch(spark, dir, probe).collect().toSeq
    val want = ops.DedupIndex.queryBatch(spark, fresh, probe).collect().toSeq
    assert(want.nonEmpty && got == want,
      s"upgraded dedup index != fresh v2 build: ${got.size} vs ${want.size} rows")
  }

  test("manifest upgrade equals a fresh manifest, including same-shard add/remove/change cancellation") {
    // fixture corpus: ids chosen so several land in one shard, exercising
    // XOR cancellation (change = old-hash out, new-hash in, same shard)
    val v1 = (1L to 60L).map(i =>
      (i, (s"tok$i alpha beta gamma " * ((i % 4) + 1).toInt).trim))
    val v1df = v1.toDF("doc_id", "text").localCheckpoint(true)
    val v2df = v1df.filter(col("doc_id") % 7 =!= 2)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(lit("changed "), col("text"))).otherwise(col("text")))
      .unionByName(Seq((100L, "brand new document alpha"), (101L, "another new one beta"))
        .toDF("doc_id", "text"))
      .localCheckpoint(true)
    val m1 = Release.manifestOf(v1df)
    val d = Release.delta(v1df, v2df, "doc_id", md5(col("text")))
    val got = Release.upgradeManifest(m1, v1df, v2df, d)
      .orderBy(col("shard")).collect().toSeq
    val want = Release.manifestOf(v2df)
      .orderBy(col("shard")).collect().toSeq
    assert(got == want, "O(delta) manifest roll-forward != fresh v2 manifest")
    // empty delta is the identity
    val same = Release.delta(v1df, v1df, "doc_id", md5(col("text")))
    val idem = Release.upgradeManifest(m1, v1df, v1df, same)
      .orderBy(col("shard")).collect().toSeq
    assert(idem == m1.orderBy(col("shard")).collect().toSeq)
  }
}
