package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** PERSISTENT full-text (BM25) index — the lexical twin of [[AnnIndex]]:
  * the corpus statistics q146 recomputes per run are written once as
  * parquet tables, and any later job loads them and serves queries
  * without re-tokenizing the corpus.
  *
  * Index layout under `dir` (plain parquet):
  *  - `postings/`  (term, doc_id, tf, ep)  — the inverted index
  *  - `doclens/`   (doc_id, dl, ep)        — per-document token counts
  *  - `stats/`     (n_docs, n_toks)        — one row of corpus aggregates
  *  - `positions/` (term, doc_id, pos, ep) — positional postings ([[phraseSearch]])
  *  - `meta/`     (buckets)               — the persisted bucket count
  *  - `epoch/`, `tombstones/` — the [[Tombstones]] epoch marker and
  *    ledger (epoch-aware deletes: re-append without compaction)
  *
  * This is the only layout served: [[load]] and [[append]] refuse a
  * directory without `meta/` ([[Tombstones.readBuckets]]), which
  * predates the current format and must be rebuilt with [[write]].
  *
  * [[search]] filters `postings` by the query terms FIRST — an `IN`
  * predicate that reaches the parquet scan, so the postings read is
  * posting-list-sized; df comes from the filtered postings (count per
  * term — postings are unique per (term, doc)), and avgdl from the
  * one-row stats table. The document lengths are NOT pruned: [[load]]
  * builds `doclens` as a `dropDuplicates("doc_id")` over the whole flat
  * `doclens/` table, so every search reads all of it (no partition
  * filter) and shuffles every document's row before joining the
  * matching postings — an O(#docs) read and exchange per query. The
  * arithmetic is [[Retrieval]]'s exactly (same idf/saturation columns,
  * same 6-decimal round, same DECIMAL sum), so TextIndexSpec proves
  * saved-index search BIT-IDENTICAL to live q146.
  *
  * [[append]] adds a document batch by appending batch-local postings
  * and doclens and refreshing the one-row stats from the batch's own
  * aggregates — existing rows are never touched, and because df is
  * derived from postings at serve time, appended documents shift idf
  * without any index rebuild. [[delete]]/[[compact]] complete the
  * lifecycle with AnnIndex's tombstone design: O(batch) deletes that
  * vanish from every serve surface (with stats refreshed from the live
  * doclens so ranking stays bit-identical to a rebuild), folded into
  * rewritten files only at compaction.
  *
  * At 100 TB: postings ≈ one row per distinct (term, doc) — written once
  * per corpus build, PARTITIONED by a corpus-sized term hash (64-way
  * floor; [[Tombstones.bucketsFor]], persisted in `meta/`), so a query's term
  * predicate prunes to its buckets' directories before any file is
  * opened; stats is one row. doclens is #docs rows, and today BM25
  * serving reads and shuffles all of them (see above): serving never
  * re-tokenizes the corpus, but its cost is not posting-list-bounded
  * until doclens is doc-bucketed and pruned to the matching ids, as
  * [[DedupIndex]]'s `sigs` is.
  */
object TextIndex {

  case class Index(postings: DataFrame, doclens: DataFrame, stats: DataFrame,
    positions: DataFrame, buckets: Int)

  /** q146's whitespace tokenization, verbatim — parity is the contract;
    * positions carried for the phrase index.
    */
  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))

  /** Target documents per term-hash bucket of the postings/positions
    * layout. Serve queries name their terms, so bucketing by
    * `xxhash64(term)` turns the term predicate into PARTITION pruning —
    * each query term opens one directory of the index, never the whole
    * postings table. The size follows [[DedupIndex.DocsPerBucket]]'s
    * bytes-per-bucket argument, CALIBRATED BY MEASUREMENT at the 5M-doc
    * diversity rehearsal (BENCH.md round 11): unlike
    * the dedup bands, postings reads carry a `term IN` predicate that
    * dictionary-filters within a bucket, so 64 buckets at 5M docs
    * (~3M posting rows ≈ tens of MB per directory) served EQUAL to a
    * 125-bucket sized layout while building 34% faster — extra
    * directories are pure listing overhead until per-bucket bytes
    * outgrow that knee. 80k docs/bucket puts the floor exit right at
    * the measured-good point: the floor binds to ~5M docs, and a
    * corpus past it keeps per-bucket bytes at the knee instead of
    * growing linearly with the corpus.
    */
  private[graft] val DocsPerBucket = 80000L

  private def bktCol(nB: Int): Column =
    pmod(xxhash64(col("term")), lit(nB.toLong)).cast("int")

  /** Partition buckets of the query terms — computed with the SAME
    * xxhash64 expression the write side uses, via a row-per-term local
    * projection the optimizer folds into a local relation, whose collect
    * runs on the driver (no scan, no shuffle, no job).
    */
  private def bucketsOf(s: SparkSession, terms: Seq[String], nB: Int): Seq[Int] = {
    import s.implicits._
    terms.toDF("term").select(bktCol(nB)).collect().map(_.getInt(0)).toSeq.distinct
  }

  /** Write one batch, every row stamped with epoch `ep`. */
  private def writeBatch(docs: DataFrame, dir: String, mode: String,
      ep: Long, nB: Int): Unit = graft.Jobs.labeled(docs.sparkSession, "text-index: writeBatch") {
    // spread a skinny scan/checkpoint input before tokenizing (round 19,
    // guide §2.5); no-op on already-parallel or exchange-bearing inputs.
    // For APPENDS the token table is additionally checkpointed: the
    // three writes below each consume `t`, so an un-materialized batch
    // tokenizes three times per append (round 19, guide §1.2). Appends
    // are batch-sized by the serve contract, so the checkpoint is
    // bounded; the corpus-sized build (mode = overwrite) keeps the
    // recompute — a corpus × ~100-token table must not land in block
    // storage. The checkpoint belongs to [[append]]'s scope.
    val t0 = toks(graft.Spread.lazyAuto(docs))
    val t = if (mode == "append") graft.Reliable.owned(t0) else t0
    def stamp(df: DataFrame): DataFrame = df.withColumn("ep", lit(ep))
    // Repartition by the partition column before every dynamic-
    // partitioned write (round 18, guide §6): without it each write
    // task emits a file per bucket it happens to hold (tasks × buckets
    // small files — the measured layouts carried ~4× the file count,
    // taxing every later load's footer reads, the upgrade clones, and
    // the write commit itself); with it each bucket is exactly one
    // file per batch, and AQE sizes the shuffle to the batch.
    // postings and positions are independent writes and run side by
    // side; doclens is written LAST, after both: it is [[append]]'s
    // done-marker (the anti-join target), so a crash mid-batch leaves at
    // worst orphan postings/positions for doc_ids absent from doclens —
    // invisible to BM25 only if the replay re-writes them, which the
    // marker ensures.
    graft.Jobs.concurrently(docs.sparkSession)(
      () => Layout.writeBucketed(stamp(t.groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))).withColumn("bkt", bktCol(nB)), "bkt", mode, s"$dir/postings"),
      () => Layout.writeBucketed(stamp(t.select(col("term"), col("doc_id"), col("pos")))
        .withColumn("bkt", bktCol(nB)), "bkt", mode, s"$dir/positions"))
    stamp(t.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")))
      .write.mode(mode).parquet(s"$dir/doclens")
  }

  /** doclens rows whose epoch postdates their id's newest tombstone —
    * the live document set every statistic is computed from, and
    * [[append]]'s done-marker.
    */
  private def liveDoclens(s: SparkSession, dir: String): DataFrame =
    Tombstones.liveByEpoch(MetaScalar.open(s, s"$dir/doclens"),
      Tombstones.tombMax(s, dir, "doc_id"), "doc_id")

  /** Recompute the one-row stats from the LIVE doclens (doc-count rows —
    * one long pair per document, not corpus-sized) after a build, append,
    * or delete — so idf/avgdl always reflect exactly the searchable
    * documents and a deleted index stays BIT-IDENTICAL to a fresh build
    * over the remaining corpus (TextIndexSpec).
    */
  private def refreshStats(s: SparkSession, dir: String): Unit = graft.Jobs.labeled(s, "text-index: refreshStats") {
    val agg = liveDoclens(s, dir).dropDuplicates("doc_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_toks"))
      .collect()(0)
    import s.implicits._
    // 1-row write via the driver so overwrite never races the read above
    Seq((agg.getLong(0), agg.getLong(1))).toDF("n_docs", "n_toks")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** Build and persist the index for the corpus at `d`, replacing
    * anything at `dir` — including a previous index's tombstone ledger
    * and epoch marker, which would otherwise hide the new build's rows.
    */
  def write(s: SparkSession, d: String, dir: String): Unit =
    writeDocs(s, Tables.documents(s, d), dir)

  /** [[write]] over an explicit `docs(doc_id, text, …)` frame — the
    * corpus-versioning entry point ([[Release]] fixtures build v1
    * indexes from filtered snapshots). The layout gets a corpus-sized
    * bucket count ([[bucketsFor]]; the count read from the parquet
    * footers when `docs` is a bare scan), persisted for its lifetime.
    */
  def writeDocs(s: SparkSession, docs: DataFrame, dir: String,
      bucketsOverride: Option[Int] = None): Unit = graft.Reliable.scoped {
    val nB = bucketsOverride.getOrElse(Tombstones.bucketsFor(
      MetaScalar.rows(docs), DocsPerBucket))
    Tombstones.writeMeta(s, dir, nB)
    writeBatch(docs, dir, "overwrite", 0L, nB)
    Tombstones.dropLedger(s, dir)
    Tombstones.writeEpoch(s, dir, 0L)
    refreshStats(s, dir)
  }

  /** Load the persisted tables. postings/positions are deduped
    * defensively: a batch that crashed between [[writeBatch]]'s writes
    * leaves exact-duplicate rows once the replay re-lands it (the rows
    * are deterministic per doc), and duplicate (term, doc) postings
    * would double tf into BM25. The dedup keys include `term`, so
    * [[search]]'s term filter still pushes below it to the scan.
    */
  def load(s: SparkSession, dir: String): Index = {
    val nB = Tombstones.readBuckets(s, dir) // the format gate
    // Liveness folds FIRST (deleted docs vanish from every serve
    // surface — a re-appended id also has dead lower-epoch rows that
    // must not reach the dedup), then the defensive dedup. `bkt` is
    // functionally determined by `term`, but including it in the dedup
    // keys is what lets the serve-time bucket predicate push BELOW the
    // dedup to the scan as a partition filter; the term/bucket
    // predicates also push below the liveness join.
    val tMax = Tombstones.tombMax(s, dir, "doc_id")
    def live(df: DataFrame): DataFrame = Tombstones.liveByEpoch(df, tMax, "doc_id")
    Index(
      postings = live(MetaScalar.open(s, s"$dir/postings"))
        .dropDuplicates("bkt", "term", "doc_id"),
      doclens = live(MetaScalar.open(s, s"$dir/doclens")).dropDuplicates("doc_id"),
      stats = MetaScalar.open(s, s"$dir/stats"),
      positions = live(MetaScalar.open(s, s"$dir/positions"))
        .dropDuplicates("bkt", "term", "doc_id", "pos"),
      buckets = nB)
  }

  /** Delete documents by id — [[AnnIndex.delete]]'s tombstone design on
    * the lexical index: ids append to a `tombstones/` table, [[load]]
    * folds it onto postings/doclens/positions (BM25, phrase and df
    * all serve from the live set), and the one-row stats refresh from
    * the live doclens so idf/avgdl shift exactly as a rebuild's would.
    * O(batch + #docs) per delete — index files untouched until
    * [[compact]]. The tombstone records the current epoch, so a later
    * [[append]] RE-ADDS the id without compacting (the release-upgrade
    * fast path). Once the ledger outgrows `autoCompactAt` rows
    * ([[Tombstones.AutoCompactRows]]) the delete compacts inline, so
    * the broadcast side stays bounded over any delete sequence.
    */
  def delete(s: SparkSession, dir: String, ids: DataFrame,
      autoCompactAt: Long = Tombstones.AutoCompactRows): Index =
    delete(s, dir, ids, autoCompactAt, refresh = true)

  /** `refresh = false` skips the stats refresh for a caller that
    * IMMEDIATELY follows with an [[append]] (which refreshes from the
    * post-append live set anyway) — [[Release.upgradeTextIndex]]'s
    * delete-then-append never serves between the two, so the
    * intermediate refresh was two dead jobs per upgrade (round 18).
    * An auto-compact still refreshes (the rewrite needs it).
    */
  private[ops] def delete(s: SparkSession, dir: String, ids: DataFrame,
      autoCompactAt: Long, refresh: Boolean): Index = graft.Jobs.labeled(s, "text-index: delete") {
    Tombstones.readBuckets(s, dir) // the format gate, before the ledger write
    if (Tombstones.appendLedger(s, dir, ids.select(col("doc_id")),
        Some(Tombstones.readEpoch(s, dir)), autoCompactAt))
      return compact(s, dir) // refreshes stats itself after the rewrite
    if (refresh) refreshStats(s, dir)
    load(s, dir)
  }

  /** Fold accumulated tombstones into the index files: rewrite postings,
    * positions (keeping the term-hash partition layout) and doclens
    * without the deleted rows, then drop the tombstone table. Also
    * materializes [[load]]'s defensive dedup, permanently healing any
    * torn-append rows. Run when the tombstone set outgrows a broadcast.
    */
  def compact(s: SparkSession, dir: String): Index = graft.Reliable.scoped {
    Tombstones.ledger(s, dir).foreach { _ =>
      val live = load(s, dir) // tombstones already folded, rows deduped
      // the rewrite restarts epoch history at 0 (no tombstones survive it)
      def ep0(df: DataFrame): DataFrame = df.withColumn("ep", lit(0L))
      // localCheckpoint so each rewrite doesn't race its own input scan
      Layout.writeBucketed(graft.Reliable.owned(ep0(live.postings)), "bkt", "overwrite",
        s"$dir/postings")
      Layout.writeBucketed(graft.Reliable.owned(ep0(live.positions)), "bkt", "overwrite",
        s"$dir/positions")
      graft.Reliable.owned(ep0(live.doclens))
        .write.mode("overwrite").parquet(s"$dir/doclens")
      Tombstones.dropLedger(s, dir)
      Tombstones.writeEpoch(s, dir, 0L)
      refreshStats(s, dir)
    }
    load(s, dir)
  }

  /** Append `docs(doc_id, text, …)` to a persisted index; returns the
    * refreshed index. Every doc tokenizes to ≥ 1 term (split of "" is
    * [""]), so doclens keeps counting documents exactly. Works as a
    * streaming foreachBatch action (TextIndexSpec proves batch-by-batch
    * appends ≡ a fresh build over the union corpus), and it is
    * IDEMPOTENT under at-least-once replay: doc_ids already present in
    * doclens (written last — the batch's done-marker) are skipped, and a
    * torn batch's partial rows are healed by [[load]]'s dedup once the
    * replay completes them. "Present" means LIVE — a tombstoned id
    * re-appends at a fresh epoch (its dead rows stay invisible behind
    * the tombstone).
    */
  def append(s: SparkSession, dir: String, docs: DataFrame): Index = graft.Reliable.scoped {
    graft.Jobs.labeled(s, "text-index: append") {
      val nB = Tombstones.readBuckets(s, dir) // the format gate
      val done = liveDoclens(s, dir).select(col("doc_id"))
      val ep = Tombstones.bumpEpoch(s, dir)
      // batch-sized materialization: writeBatch runs THREE writes, and
      // without the checkpoint each one lazily re-runs the anti-join and
      // whatever lineage `docs` carries (for Release upgrades, a semi-join
      // over the full new corpus — re-scanned 3x, the term that kept the
      // upgrade rebuild-priced). Same recipe as [[DedupIndex.append]];
      // released when the call returns or fails, like writeBatch's
      // token checkpoint.
      val fresh = graft.Reliable.owned(docs.join(done, Seq("doc_id"), "left_anti"))
      writeBatch(fresh, dir, "append", ep, nB)
      refreshStats(s, dir)
      load(s, dir)
    }
  }

  /** BM25 top-k over the loaded index: (rnk, doc_id, bm25), q146's
    * ranking semantics (score desc, doc_id asc).
    */
  def search(s: SparkSession, ix: Index, terms: Seq[String], k: Int): DataFrame = graft.Jobs.labeled(s, "text-index: search") {
    val tf = ix.postings.filter(
      col("bkt").isin(bucketsOf(s, terms, ix.buckets): _*) && col("term").isin(terms: _*))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = ix.stats
    val wk = Window.orderBy(col("bm25").desc, col("doc_id"))
    tf.join(broadcast(dfreq), Seq("term"))
      .join(ix.doclens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round(Retrieval.bmIdf * Retrieval.bmTfNorm, 6).as("sc"))
      .groupBy(col("doc_id"))
      .agg(sum(col("sc").cast(DecimalType(28, 6))).cast("double").as("bm25"))
      .withColumn("rnk", row_number().over(wk))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col("doc_id"), col("bm25"))
      .orderBy(col("rnk"))
  }

  /** Exact-phrase hits (doc_id, n_hits) served from the positional
    * index — q149's adjacency-join plan, but with each term's postings
    * read through an `=`/`IN` predicate that reaches the parquet scan
    * (TextIndexSpec asserts the PushedFilters), so serve cost follows
    * posting-list sizes, never the corpus. This is q149's 100 TB form.
    */
  def phraseSearch(s: SparkSession, ix: Index, phrase: Seq[String]): DataFrame =
    Retrieval.phraseHits(
      ix.positions.filter(col("bkt").isin(bucketsOf(s, phrase, ix.buckets): _*)),
      phrase).orderBy(col("doc_id"))
}
