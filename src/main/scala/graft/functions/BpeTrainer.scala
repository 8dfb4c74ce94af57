package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed BPE TRAINING — the full iterative loop (count adjacent
  * pairs → merge → recount on the updated segmentation), closing the
  * tokenizer family: q106 pre-tokenizes, q128 is exactly ONE iteration
  * of this loop, q135/q139 APPLY a trained table.
  *
  * Scale shape: the corpus is touched ONCE (word-frequency aggregation,
  * map-side combined); every pass after that runs on the
  * VOCABULARY-sized table, which carries each word's current
  * segmentation as a spaced-symbol string. Per pass: one
  * Generate+element_at pair expansion (codegen'd — no interpreted
  * lambdas) feeding a freq-weighted pair count, a top-window collect to
  * the driver, and one merge application per selected rule via the
  * SHARED sweep kernel ([[graft.ops.Tokenization.mergeSweeps]] — trainer
  * and encoder apply rules through one definition, so the provenance
  * lock is structural; see its scaladoc for the sweep-vs-token-greedy
  * semantics note). State localCheckpoints every 8 applied merges:
  * between checkpoints the lineage is a handful of stacked narrow
  * projections, and batching bounds how many materialized copies exist
  * before the ContextCleaner reclaims dropped ones.
  *
  * BATCHED MERGES (the 100 TB fix): a naive trainer runs one Spark job
  * per merge — a production 32k-merge vocabulary would be 32k
  * sequential jobs of pure scheduler overhead. Instead each pass
  * selects up to `maxBatch` rules from ONE pair-count table via
  * [[selectBatch]], whose rules are chosen so the batched trainer is
  * PROVABLY identical to the one-merge-per-job trainer:
  *
  *  1. the batch is a PREFIX of the (count desc, pair asc)-sorted pair
  *     list — never a "skip and keep scanning" greedy subset. Skipping
  *     breaks equivalence: a skipped higher-count pair sharing a symbol
  *     with an earlier pick can survive the merge with its count intact
  *     and out-rank the next batch member in the sequential order.
  *  2. the prefix stops at the first pair sharing a symbol with an
  *     earlier pick, and every kept member (beyond the argmax) must
  *     have count STRICTLY above the stopping pair's count and above
  *     the collected window's tail count. Strictness matters: a merge
  *     of (a,b) creates pairs (x,ab) with count ≤ count(x,a) — bounded
  *     by a CONFLICTING pair's count — and on a tie the new pair could
  *     still win the (count, pair) tie-break lexicographically.
  *  3. a pair whose concatenation already exists as a vocabulary symbol
  *     — OR matches an EARLIER pick's concatenation in this same batch
  *     (two merge paths reaching the same string — rare but real in
  *     BPE) — closes the batch after itself: merging into a symbol that
  *     exists (or that the batch itself just created) can RAISE other
  *     pairs' counts — in the same-batch case the two paths' created
  *     pairs are the SAME pair, so their counts add past any single
  *     conflicting-pair bound — which invalidates the decreasing-counts
  *     argument for anything selected after it. The symbol alphabet is
  *     tracked driver-side exactly (initial distinct symbols + every
  *     applied merge), so these checks cost no jobs.
  *  4. a SELF-pair (a,a) also closes the batch after itself: merging a
  *     run "a a a" creates pairs like (aa,a) whose count is bounded
  *     only by the self-pair's OWN count — not by any conflicting
  *     pair's — so the strict-threshold argument does not cover picks
  *     after it (found by the BpeTrainerSpec adversarial property:
  *     "cbcbcb"×4 makes (cbcb,cb) out-rank the would-be next pick).
  *     For every non-self pair the bound does hold: (x,ab) ≤
  *     count(x,a) and (ab,y) ≤ count(b,y), and symbol-disjointness
  *     means (x,a)/(b,y) is never itself a batch member.
  *
  * With those rules, at sequential step i the pair p_i still has its
  * original count (disjoint from every earlier merge), every surviving
  * competitor either kept a rank below it or decreased, and every
  * NEWLY-CREATED pair is bounded strictly below it — so the sequential
  * argmax at step i is exactly p_i. BpeTrainerSpec pins this with a
  * driver-side property over adversarial corpora (batched ≡ sequential
  * ≡ exhaustive reference) and the q135 provenance lock.
  *
  * Ties in pair counts break deterministically on (pair) ascending —
  * Spark's binary UTF-8 string order, which equals Java's UTF-16 order
  * on ASCII symbol alphabets (non-BMP symbols would order differently;
  * tokenizer symbol tables are ASCII-safe in practice).
  */
object BpeTrainer {

  /** Learn `numMerges` merge rules from a text column; returns them in
    * rank order (the order [[graft.ops.Tokenization.BpeMerges]]-style
    * apply tables consume). Stops early if no pair occurs twice.
    * `maxBatch` = 1 recovers the one-merge-per-job trainer exactly (the
    * batched result is identical either way; 1 is for A/B tests).
    *
    * `exact = false` switches to the APPROXIMATE greedy batch — the
    * standard distributed-BPE trick: take up to `maxBatch`
    * symbol-disjoint pairs per pass in frequency order,
    * skip-and-continue past conflicts instead of stopping the prefix.
    * Disjointness makes the batch's merges commute, so the result is a
    * well-defined, valid tokenizer, but NOT necessarily the sequential
    * trainer's table (a skipped pair's count can change before its
    * turn). Measured on sf0.01 at 64 rules: exact mode 54 passes,
    * approximate 5 — exactness is the price of the pass count, and a
    * 32k-vocab production run wants approximate (as every large-scale
    * BPE trainer ships); q135's provenance-locked table and every
    * oracle-checked query stay on the exact default.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
      maxBatch: Int = 16, exact: Boolean = true): Seq[(String, String)] =
    trainWithPasses(df, textCol, numMerges, maxBatch, exact)._1

  /** [[train]] plus the number of count→select→apply passes executed —
    * the scheduler-overhead metric batching exists to shrink.
    */
  private[graft] def trainWithPasses(df: DataFrame, textCol: String,
      numMerges: Int, maxBatch: Int = 16,
      exact: Boolean = true): (Seq[(String, String)], Int) = {
    require(maxBatch >= 1, s"maxBatch must be >= 1, got $maxBatch")
    var vocab = df
      .select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .select(graft.ops.Tokenization.spacedSymbols(col("tok")).as("seq"), col("freq"))
      .transform(graft.Reliable.checkpoint)
    // Exact driver-side symbol alphabet: initial distinct symbols once
    // (alphabet-sized — tiny), then every applied merge string.
    val knownSymbols = mutable.Set.empty[String]
    knownSymbols ++= vocab
      .select(explode(split(trim(col("seq")), " ")).as("s"))
      .distinct().collect().map(_.getString(0))
    val merges = mutable.Buffer.empty[(String, String)]
    var sinceCheckpoint = 0
    var passes = 0
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val want = numMerges - merges.size
      val window = math.max(4 * math.min(maxBatch, want), 64)
      val top = vocab
        .select(col("freq"), split(trim(col("seq")), " ").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("freq"),
          explode(expr("sequence(0, size(syms) - 2)")).as("i"), col("syms"))
        .select(col("freq"),
          expr("element_at(syms, i + 1)").as("a"),
          expr("element_at(syms, i + 2)").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(sum(col("freq")).as("n"))
        .filter(col("n") >= 2) // a pair seen once compresses nothing
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(window)
        .collect()
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[Long]("n")))
      passes += 1
      if (top.isEmpty) exhausted = true
      else {
        val batch = selectBatch(top.toIndexedSeq, knownSymbols,
          math.min(maxBatch, want), windowFull = top.length == window, exact)
        val applied = batch.foldLeft(col("seq")) { case (c, (a, b)) =>
          graft.ops.Tokenization.mergeSweeps(c, a, b)
        }
        vocab = vocab.select(applied.as("seq"), col("freq"))
        merges ++= batch
        knownSymbols ++= batch.map { case (a, b) => a + b }
        sinceCheckpoint += batch.size
        if (sinceCheckpoint >= 8) { // flat lineage, bounded live copies
          vocab = graft.Reliable.checkpoint(vocab)
          sinceCheckpoint = 0
        }
      }
    }
    (merges.toSeq, passes)
  }

  /** Pure batch selection over the collected (a, b, count) window,
    * already sorted by (count desc, a asc, b asc). Returns the rules to
    * apply this pass, in rank order. See the object scaladoc for why
    * each rule is required for batched ≡ sequential; property-tested
    * driver-side in BpeTrainerSpec against the exhaustive reference.
    *
    * `windowFull` = the collect hit its limit, so pairs beyond the
    * window exist with counts ≤ the tail count; members then need
    * counts strictly above the tail (an unseen pair could conflict).
    */
  private[graft] def selectBatch(rows: IndexedSeq[(String, String, Long)],
      known: collection.Set[String], maxBatch: Int,
      windowFull: Boolean, exact: Boolean = true): Seq[(String, String)] = {
    if (!exact) return selectBatchGreedy(rows, maxBatch)
    val picked = mutable.Buffer.empty[(String, String, Long)]
    val inBatch = mutable.Set.empty[String]
    val batchConcats = mutable.Set.empty[String]
    var i = 0
    var open = true
    while (open && i < rows.length && picked.size < maxBatch) {
      val (a, b, n) = rows(i)
      if (inBatch(a) || inBatch(b)) open = false // prefix ends here
      else {
        picked += rows(i)
        inBatch += a
        inBatch += b
        // Batch-closing picks: merging into a pre-existing symbol can
        // raise other pairs' counts; a self-pair creates pairs bounded
        // only by its own count; and a concatenation an EARLIER pick in
        // this batch also produces (two merge paths to one string, e.g.
        // ("a","bc") then ("ab","c") → "abc") makes created-pair counts
        // ADD across the paths — count(x,abc) can reach the sum of two
        // conflicting-pair bounds and out-rank the next pick. Each case
        // closes the batch after the current (still-provable) pick.
        if (known(a + b) || batchConcats(a + b) || a == b) open = false
        batchConcats += a + b
        i += 1
      }
    }
    // Strict-count threshold: the first remaining row that conflicts
    // with the batch bounds every conflicting pair (rows are sorted
    // desc) and every pair a batch merge can create; window tail bounds
    // anything uncollected. Ties lose to lexicographic tie-break, so
    // members at the threshold are unsafe. The argmax (head) is always
    // safe — it wins step 1 outright.
    val conflictN = rows.drop(i)
      .collectFirst { case (a, b, n) if inBatch(a) || inBatch(b) => n }
      .getOrElse(0L)
    val tailN = if (windowFull && rows.nonEmpty) rows.last._3 else 0L
    val threshold = math.max(conflictN, tailN)
    val kept = picked.head +: picked.tail.filter(_._3 > threshold)
    // Re-assert prefix shape: tail filtering by a single threshold on a
    // desc-sorted buffer removes a suffix, so kept is still a prefix.
    kept.map { case (a, b, _) => (a, b) }.toSeq
  }

  /** Approximate greedy selection: up to `maxBatch` symbol-disjoint
    * pairs in frequency order, skipping conflicts and continuing.
    * Disjoint merges commute, so applying them in rank order is
    * well-defined; no equivalence claim (see [[train]]'s scaladoc).
    */
  private def selectBatchGreedy(rows: IndexedSeq[(String, String, Long)],
      maxBatch: Int): Seq[(String, String)] = {
    val picked = mutable.Buffer.empty[(String, String)]
    val inBatch = mutable.Set.empty[String]
    var i = 0
    while (i < rows.length && picked.size < maxBatch) {
      val (a, b, _) = rows(i)
      if (!inBatch(a) && !inBatch(b)) {
        picked += ((a, b))
        inBatch += a
        inBatch += b
      }
      i += 1
    }
    picked.toSeq
  }
}
