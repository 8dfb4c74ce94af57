package graft

import graft.functions.BpeTrainer
import org.apache.spark.sql.functions._

/** Single-machine reference implementation of the engine's SWEEP merge
  * semantics (see `Tokenization.mergeSweeps`' scaladoc): one pass merges
  * leftmost-non-overlapping occurrences WITH boundary consumption — a
  * merge bars the immediately following pair from starting a match in
  * the same pass (its leading sentinel was consumed by the replacement);
  * a rule applies passes to fixpoint. Shared by BpeTrainerSpec and
  * Advanced11Spec so both reference tests pin the same contract.
  */
private[graft] object SweepBpe {
  def onePass(s: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    var barred = false
    while (i < s.length) {
      if (!barred && i + 1 < s.length && s(i) == a && s(i + 1) == b) {
        out += (a + b); i += 2; barred = true
      } else { out += s(i); i += 1; barred = false }
    }
    out.toSeq
  }

  def applyRule(s: Seq[String], a: String, b: String): Seq[String] =
    Iterator.iterate(s)(onePass(_, a, b)).sliding(2)
      .collectFirst { case Seq(x, y) if x == y => x }.get

  /** Code-point symbols (a surrogate pair is one symbol, like regex `.`). */
  def symbols(w: String): Seq[String] =
    w.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))

  def encode(w: String, merges: Seq[(String, String)]): Seq[String] =
    merges.foldLeft(symbols(w)) { case (s, (a, b)) => applyRule(s, a, b) }
}

/** Distributed BPE training against an exhaustive single-machine
  * reference (same sweep contract, same tie-break, independent code),
  * plus the provenance lock: q135's applied merge table IS what
  * training on its corpus produces.
  */
class BpeTrainerSpec extends SparkSuite {
  import spark.implicits._

  /** Reference trainer: exact frequency-weighted pair counting over
    * in-memory segmentations, merges applied with the sweep contract,
    * ties broken (count desc, pair asc) like the distributed trainer.
    */
  private def referenceTrain(words: Map[String, Long], k: Int): Seq[(String, String)] = {
    var seqs: Map[String, (Seq[String], Long)] =
      words.map { case (w, f) => w -> (SweepBpe.symbols(w), f) }
    val out = scala.collection.mutable.Buffer.empty[(String, String)]
    var done = false
    while (out.size < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      seqs.values.foreach { case (seq, f) =>
        seq.zip(seq.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val live = counts.filter(_._2 >= 2L)
      if (live.isEmpty) done = true
      else {
        val (pair, _) = live.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        out += pair
        val (a, b) = pair
        seqs = seqs.map { case (w, (seq, f)) =>
          w -> (SweepBpe.applyRule(seq, a, b), f)
        }
      }
    }
    out.toSeq
  }

  /** Driver-side mirror of the BATCHED trainer loop: exact full pair
    * counts (optionally truncated to a window, to exercise the tail
    * threshold), `BpeTrainer.selectBatch` for the picks, fixpoint rule
    * application, driver-tracked symbol alphabet — so the selection
    * rules can be property-tested against [[referenceTrain]] over many
    * adversarial corpora without a Spark job per corpus.
    */
  private def simulateBatched(words: Map[String, Long], k: Int,
      maxBatch: Int, window: Int = Int.MaxValue): Seq[(String, String)] = {
    var seqs: Map[String, (Seq[String], Long)] =
      words.map { case (w, f) => w -> (SweepBpe.symbols(w), f) }
    val known = scala.collection.mutable.Set.empty[String]
    known ++= seqs.values.flatMap(_._1)
    val out = scala.collection.mutable.Buffer.empty[(String, String)]
    var done = false
    while (out.size < k && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      seqs.values.foreach { case (seq, f) =>
        seq.zip(seq.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + f)
      }
      val sorted = counts.toSeq.collect { case ((a, b), n) if n >= 2L => (a, b, n) }
        .sortBy { case (a, b, n) => (-n, a, b) }
      val rows = sorted.take(window).toIndexedSeq
      if (rows.isEmpty) done = true
      else {
        val batch = BpeTrainer.selectBatch(rows, known,
          math.min(maxBatch, k - out.size), windowFull = sorted.length > window)
        out ++= batch
        known ++= batch.map { case (a, b) => a + b }
        batch.foreach { case (a, b) =>
          seqs = seqs.map { case (w, (seq, f)) =>
            w -> (SweepBpe.applyRule(seq, a, b), f)
          }
        }
      }
    }
    out.toSeq
  }

  test("sweep reference matches the documented boundary-consumption cases") {
    assert(SweepBpe.applyRule("aaaaa".map(_.toString), "a", "a") ==
      Seq("aa", "a", "aa")) // NOT token-greedy's [aa, aa, a]
    assert(SweepBpe.applyRule("abab".map(_.toString), "a", "b") == Seq("ab", "ab"))
  }

  test("batched selection ≡ sequential over adversarial random corpora") {
    // Tiny alphabets force the hard cases: shared-symbol conflicts,
    // count ties resolved lexicographically, merge strings colliding
    // with existing symbols ("ab"+"c" vs "a"+"bc" → "abc"). Any
    // violation of the prefix / strict-threshold / collision rules in
    // selectBatch diverges from the reference within a few corpora.
    // GRAFT_BPE_TRIALS raises the trial count for one-off stress runs
    // (the 300 default keeps CI fast; 3000 passes, run round 5)
    val trials = sys.env.getOrElse("GRAFT_BPE_TRIALS", "300").toInt
    val rnd = new scala.util.Random(41)
    for (trial <- 0 until trials) {
      val alphabet = Seq("ab", "abc", "abcd")(trial % 3)
      val words = (0 until (2 + rnd.nextInt(7))).map { _ =>
        val len = 1 + rnd.nextInt(9)
        val w = Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
        w -> (1L + rnd.nextInt(6))
      }.toMap
      val want = referenceTrain(words, 12)
      for (batchSize <- Seq(2, 4, 16); win <- Seq(Int.MaxValue, 3)) {
        val got = simulateBatched(words, 12, batchSize, win)
        assert(got == want,
          s"trial=$trial batch=$batchSize window=$win words=$words: " +
            s"batched $got != sequential $want")
      }
    }
  }

  test("selectBatch closes on a same-batch concatenation collision") {
    // ("a","bc") and ("ab","c") both concatenate to "abc": after BOTH
    // merges, pairs (x,abc) from the two paths are the SAME pair, so
    // its count is the SUM of the two conflicting-pair bounds (here
    // 10 + 10 = 20) and sequentially out-ranks (d,e)=11 at step 3. The
    // batch must therefore close after ("ab","c") — including (d,e)
    // would diverge from the sequential trainer.
    val rows = IndexedSeq(
      ("a", "bc", 20L), ("ab", "c", 15L), ("d", "e", 11L),
      ("x", "a", 10L), ("x", "ab", 10L))
    val known = Set("a", "bc", "ab", "c", "d", "e", "x")
    val batch = BpeTrainer.selectBatch(rows, known, maxBatch = 16,
      windowFull = false)
    assert(batch == Seq(("a", "bc"), ("ab", "c")), batch.toString)
  }

  test("distributed training equals the exhaustive reference on real data") {
    val docs = Tables.documents(spark, sf0001)
    val words = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = referenceTrain(words, 10)
    val (got, passes) = BpeTrainer.trainWithPasses(docs, "text", 10)
    assert(got == want)
    assert(got.size == 10)
    // the point of batching: 10 rules in far fewer than 10 Spark passes
    assert(passes < 10, s"batched trainer still ran $passes passes for 10 rules")
    // one-merge-per-pass mode is the same trainer, just slower
    assert(BpeTrainer.train(docs, "text", 10, maxBatch = 1) == want)
  }

  test("q135's applied table is what training on its corpus produces") {
    val trained = BpeTrainer.train(
      Tables.documents(spark, "/root/testdata/sf0.01"), "text", 10)
    assert(trained == ops.Tokenization.BpeMerges,
      s"q135 applies ${ops.Tokenization.BpeMerges} but training its corpus " +
        s"produces $trained — update BpeMerges to the trained table")
  }

  test("approximate greedy mode: skip-and-continue, big batches, sane table") {
    // selection: conflicts are skipped, not batch-closing
    val rows = IndexedSeq(
      ("a", "b", 20L), ("b", "c", 15L), ("d", "e", 11L), ("e", "f", 10L),
      ("x", "y", 9L))
    assert(BpeTrainer.selectBatch(rows, Set("a", "b", "c", "d", "e", "f", "x", "y"),
      maxBatch = 16, windowFull = false, exact = false) ==
      Seq(("a", "b"), ("d", "e"), ("x", "y")))
    // maxBatch = 1 degenerates to the exact argmax in either mode
    val docs = Tables.documents(spark, sf0001)
    assert(BpeTrainer.train(docs, "text", 5, maxBatch = 1, exact = false) ==
      BpeTrainer.train(docs, "text", 5, maxBatch = 1))
    // big batches: far fewer passes, and the learned table stays close
    // to the exact one (approximation shows up deep in the table, not
    // at the high-frequency head)
    val (approx, passes) = BpeTrainer.trainWithPasses(
      docs, "text", 20, maxBatch = 16, exact = false)
    val exactRules = BpeTrainer.train(docs, "text", 20)
    assert(passes <= 4, s"approximate mode still ran $passes passes")
    assert(approx.size == 20 && approx.distinct.size == 20)
    val overlap = approx.toSet.intersect(exactRules.toSet).size / 20.0
    info(f"approximate/exact rule overlap at 20 rules: $overlap%.2f")
    assert(overlap >= 0.5, s"approximate table diverged too far: $overlap")
  }

  test("training stops early when nothing repeats") {
    // every adjacent pair occurs exactly once -> no mergeable pair
    val df = Seq("ab", "cd", "ef").toDF("text")
    assert(BpeTrainer.train(df, "text", 5).isEmpty)
  }
}
