package graft

import graft.ops.{LshGuard, VectorSearch}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Hot-bucket guard evidence (round-5 verdict weak item 1): on a
  * DEGENERATE corpus — every vector near-identical, so ALL of them share
  * one (band, signature) bucket in every band — the LSH candidate
  * self-join must not go quadratic. The guard caps bucket membership,
  * observes the drop count, and leaves results untouched when buckets
  * are small (the oracle-protecting property).
  */
class LshGuardSpec extends SparkSuite {
  import spark.implicits._

  private val Dim = 8
  private val N = 200

  /** 200 copies of one direction + 1e-3 noise: every hyperplane dot has
    * the same sign corpus-wide → one bucket per band holds all 200.
    */
  private lazy val degenerate = {
    val rnd = new scala.util.Random(11)
    val u = Array.fill(Dim)(rnd.nextGaussian())
    (0 until N).map { i =>
      (i.toLong, u.map(x => x + 1e-3 * rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "v")
  }

  private lazy val planes = {
    val rnd = new scala.util.Random(13)
    (0 until 8).map(p => (p.toLong, Array.fill(Dim)(rnd.nextGaussian()).toSeq))
      .toDF("p_id", "pv")
  }

  test("bucket cap bounds degenerate-bucket candidates and observes drops") {
    val pairs = VectorSearch.nearDupPairs(degenerate, planes,
      bandBits = 4, threshold = 0.9, bucketCap = 8).collect()
    // only the first 8 members of each (identical) bucket pair up: C(8,2)
    assert(pairs.length == 28, s"expected 28 capped pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getLong(0) < 8 && r.getLong(1) < 8),
      "capped candidates leaked past the bucket cap")
    // the observed metric reports the dropped memberships: 2 bands ×
    // (200 - 8) = 384, largest bucket 200. Listener delivery is async,
    // and metric names carry a per-call serial — scan by prefix.
    import scala.jdk.CollectionConverters._
    def observed: Option[(Long, Long)] =
      LshGuard.lastObserved.asScala.collectFirst {
        case (k, v) if k.startsWith("graft.lsh.drops.neardup") && v._1 > 0 => v
      }
    val deadline = System.currentTimeMillis() + 15000
    var seen = Option.empty[(Long, Long)]
    while (seen.isEmpty && System.currentTimeMillis() < deadline) {
      seen = observed
      if (seen.isEmpty) Thread.sleep(100)
    }
    assert(seen.contains((384L, 200L)),
      s"expected observed drops (384, 200), got $seen")
  }

  test("per-task fan-out stays bounded under the cap (no quadratic bucket)") {
    class MaxShuffleWrite extends SparkListener {
      @volatile var maxWrite = 0L
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null)
          maxWrite = math.max(maxWrite, m.shuffleWriteMetrics.recordsWritten)
      }
    }
    def maxTaskWrite(cap: Int): Long = {
      val l = new MaxShuffleWrite
      spark.sparkContext.addSparkListener(l)
      try {
        VectorSearch.nearDupPairs(degenerate, planes,
          bandBits = 4, threshold = 0.9, bucketCap = cap).collect()
        // drain: poll until the listener's view stops moving
        var last = -1L; var stable = 0
        while (stable < 4) {
          Thread.sleep(100)
          if (l.maxWrite == last) stable += 1 else { stable = 0; last = l.maxWrite }
        }
        l.maxWrite
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val capped = maxTaskWrite(8)
    val uncapped = maxTaskWrite(Int.MaxValue)
    info(s"max per-task shuffle-write records: capped(8)=$capped uncapped=$uncapped")
    // uncapped: the single 200-member bucket fans C(200,2)=19900 pairs
    // through one task's shuffle; capped: no task carries more than the
    // band table plus C(8,2)·bands candidates.
    assert(uncapped >= 19900, s"fixture not degenerate enough: $uncapped")
    assert(capped <= 2000, s"cap failed to bound per-task fan-out: $capped")
  }

  test("null-key buckets are capped too (null-safe threshold join)") {
    // round-16 advice fix: the old equi-join threshold lookup never
    // matched NULL bucket keys, so a degenerate null-key bucket (e.g. a
    // nullable cluster label) passed uncapped into the downstream
    // self-join — exactly the quadratic the guard exists to prevent.
    // SQL window PARTITION BY groups NULLs together, so the oracle's
    // capCteSql already capped them; this pins the Spark side agreeing.
    val mixed = ((0 until 60).map(i => (i.toLong, None: Option[Long])) ++
      (100 until 130).map(i => (i.toLong, Some(1L)))).toDF("id", "k")
    val capped = LshGuard.capBuckets(spark, mixed, Seq("k"), "id",
      cap = 8, tag = "nullkey")
    val byKey = capped.groupBy($"k").count().collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap
    assert(byKey == Map(-1L -> 8L, 1L -> 8L),
      s"null-key bucket not capped identically: $byKey")
    // lowest-id semantics hold inside the null bucket
    val nullIds = capped.filter($"k".isNull).select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(nullIds == (0L until 8L).toSet, s"wrong null-bucket survivors: $nullIds")
  }

  test("default cap is non-binding on real testdata (oracle-protecting)") {
    val e = Tables.embeddings(spark, sf0001).select($"vec_id",
      graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    val planes16 = e.filter($"vec_id" < 16)
      .select($"vec_id".as("p_id"), $"v".as("pv"))
    val capped = VectorSearch.nearDupPairs(e, planes16, 4, 0.4)
    val uncapped = VectorSearch.nearDupPairs(e, planes16, 4, 0.4, Int.MaxValue)
    assert(capped.exceptAll(uncapped).isEmpty && uncapped.exceptAll(capped).isEmpty,
      "default cap changed results on the test corpus")
  }

  test("q141's auto banding resolves to the static oracle recipe at testdata scale") {
    // The registered q141 runs nearDupPairsAuto while its DuckDB oracle is
    // the STATIC 4-bands x 4-bit / first-16-planes recipe. That is only
    // sound while the formula resolves to 4 bits at every testdata SF
    // (n <= 2048 vectors) — this test pins the equivalence so a testdata
    // regeneration that crosses the width boundary fails HERE, by name,
    // instead of as an opaque q141 hash mismatch in the round gate.
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1")
         if new java.io.File(sf).isDirectory) {
      val e = Tables.embeddings(spark, sf).select($"vec_id",
        graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
      val n = e.count()
      assert(VectorSearch.autoBandBits(n) == 4,
        s"$sf: n=$n resolves to ${VectorSearch.autoBandBits(n)} bits - the " +
          "static q141 oracle assumes 4; regenerate the oracle SQL or " +
          "re-pin the recipe")
      // and the full pair sets agree, not just the width
      val auto = VectorSearch.nearDupPairsAuto(e, nBands = 4, threshold = 0.4)
      val planes16 = e.filter($"vec_id" < 16)
        .select($"vec_id".as("p_id"), $"v".as("pv"))
      val fixed = VectorSearch.nearDupPairs(e, planes16, 4, 0.4)
      assert(auto.exceptAll(fixed).isEmpty && fixed.exceptAll(auto).isEmpty,
        s"$sf: auto and fixed-recipe pair sets diverge")
    }
  }

  test("auto banding refuses a corpus smaller than its seed-plane budget") {
    // 10 vectors < 4 bands x 4 bits = 16 planes: silently proceeding with
    // fewer planes would weaken banding below what bandBits implies
    // (round-8 advice) — the builder must be told, loudly.
    val tiny = (0 until 10).map(i =>
      (i.toLong, Seq.fill(Dim)(i * 0.1 + 0.1))).toDF("vec_id", "v")
    val ex = intercept[IllegalArgumentException] {
      VectorSearch.nearDupPairsAuto(tiny, nBands = 4, threshold = 0.4)
    }
    assert(ex.getMessage.contains("seed planes"),
      s"unexpected message: ${ex.getMessage}")
  }

  test("auto banding holds candidate volume ~linear where fixed bits go quadratic") {
    val base = Tables.embeddings(spark, sf0001).select($"vec_id",
      graft.functions.VectorFunctions.asDouble($"embedding").as("v"))
    // the round-8 10x-rehearsal shape: many verbatim copies under
    // shifted ids — a 25x corpus whose true near-dup groups are exact
    val shift = 1000000L
    val big = (0 until 25).map(i => base.select(($"vec_id" + i * shift)
      .as("vec_id"), $"v")).reduce(_ unionByName _).localCheckpoint()
    def candidates(pairs: org.apache.spark.sql.DataFrame): Long = pairs.count()
    val planes16 = base.filter($"vec_id" < 16)
      .select($"vec_id".as("p_id"), $"v".as("pv"))
    // uncapped, threshold -1 (verify keeps everything) so the counts ARE
    // the candidate volumes — measuring banding geometry, not the guard
    val fixed = candidates(
      VectorSearch.nearDupPairs(big, planes16, 4, -1.0, Int.MaxValue))
    val auto = candidates(
      VectorSearch.nearDupPairsAuto(big, nBands = 4, threshold = -1.0,
        bucketCap = Int.MaxValue))
    // deeper bands must collapse the verify volume: the fixed 4-bit form
    // funnels the whole corpus through 16 buckets/band
    assert(auto * 2 < fixed,
      s"auto banding did not reduce work: auto=$auto fixed=$fixed")
    // and exact-duplicate recall survives the deeper bands: identical
    // vectors share every band signature, so every copy-pair of a
    // sampled original is verified present
    val want = (0 until 25).flatMap(i => (i + 1 until 25).map(j =>
      (7L + i * shift, 7L + j * shift))).toSet
    val got = VectorSearch.nearDupPairsAuto(big, 4, 0.99)
      .filter($"da" % shift === 7 && $"db" % shift === 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.subsetOf(got), s"missing copy-pairs: ${(want -- got).take(5)}")
  }
}
