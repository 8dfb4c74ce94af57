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
  *  - `epoch/`, `tombstones/` — the [[Tombstones]] epoch marker and
  *    ledger (epoch-aware deletes: re-append without compaction)
  *
  * [[search]] filters `postings` by the query terms FIRST — an `IN`
  * predicate that reaches the parquet scan, so serve cost is
  * posting-list-sized, never corpus-sized; df comes from the filtered
  * postings (count per term — postings are unique per (term, doc)), and
  * avgdl from the one-row stats table. The arithmetic is
  * [[Advanced13]]'s exactly (same idf/saturation columns, same 6-decimal
  * round, same DECIMAL sum), so TextIndexSpec proves saved-index search
  * BIT-IDENTICAL to live q146.
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
  * floor; [[bucketsFor]], persisted in `meta/`), so a query's term
  * predicate prunes to its buckets' directories before any file is
  * opened; doclens is #docs rows; stats is one row. Serving never scans
  * the corpus.
  */
object TextIndex {

  case class Index(postings: DataFrame, doclens: DataFrame, stats: DataFrame,
    positions: DataFrame, buckets: Int = DefaultBuckets)

  /** q146's whitespace tokenization, verbatim — parity is the contract;
    * positions carried for the phrase index.
    */
  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "term")))

  /** Term-hash partition count for the postings/positions layout. Serve
    * queries name their terms, so bucketing by `xxhash64(term)` turns
    * the term predicate into PARTITION pruning — each query term opens
    * one directory of the index, never the whole postings table.
    * Bucket-count floor, and the assumed count for layouts written
    * before the count was persisted (rounds ≤ 10 always wrote 64).
    */
  private[graft] val DefaultBuckets = 64

  /** Target documents per term-hash bucket — [[DedupIndex.DocsPerBucket]]'s
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

  /** CORPUS-SIZED bucket count, clamped to [64, 4096] — decided once at
    * [[writeDocs]], persisted in `meta/`, reused by every
    * append/compact/serve (mixing counts within one layout would break
    * the serve-time bucket equi-pruning).
    */
  private[graft] def bucketsFor(nDocs: Long): Int =
    math.max(DefaultBuckets.toLong,
      math.min(4096L, nDocs / DocsPerBucket)).toInt

  private def bktCol(nB: Int): Column =
    pmod(xxhash64(col("term")), lit(nB.toLong)).cast("int")

  private def writeMeta(s: SparkSession, dir: String, nB: Int): Unit = {
    import s.implicits._
    Seq(nB).toDF("buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** The layout's bucket count — persisted at [[writeDocs]]; absent on
    * pre-round-11 layouts, which were all written with 64.
    */
  private def readBuckets(s: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta")
    if (p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p))
      MetaScalar.scalarLong(s, p.toString, "buckets").map(_.toInt)
        .getOrElse(s.read.parquet(p.toString).collect()(0).getInt(0))
    else DefaultBuckets
  }

  /** Partition buckets of the query terms — computed with the SAME
    * xxhash64 expression the write side uses, via a row-per-term local
    * projection (no scan, no shuffle).
    */
  private def bucketsOf(s: SparkSession, terms: Seq[String], nB: Int): Seq[Int] = {
    import s.implicits._
    terms.toDF("term").select(bktCol(nB).as("b")).distinct()
      .collect().map(_.getInt(0)).toSeq
  }

  /** `ep = None` writes the legacy (epoch-less) schema — appends to a
    * pre-epoch layout must match its files' columns.
    */
  private def writeBatch(docs: DataFrame, dir: String, mode: String,
      ep: Option[Long], nB: Int): Unit = graft.Jobs.labeled(docs.sparkSession, "text-index: writeBatch") {
    // spread a skinny scan/checkpoint input before tokenizing (round 19,
    // guide §2.5); no-op on already-parallel or exchange-bearing inputs.
    // For APPENDS the token table is additionally checkpointed: the
    // three writes below each consume `t`, so an un-materialized batch
    // tokenizes three times per append (round 19, guide §1.2). Appends
    // are batch-sized by the serve contract, so the checkpoint is
    // bounded; the corpus-sized build (mode = overwrite) keeps the
    // recompute — a corpus × ~100-token table must not land in block
    // storage. Released on every exit, a failed write included (no lazy
    // consumer survives the writes).
    val t0 = toks(graft.Spread.lazyAuto(docs))
    val t = if (mode == "append") t0.localCheckpoint(true) else t0
    def stamp(df: DataFrame): DataFrame =
      ep.fold(df)(e => df.withColumn("ep", lit(e)))
    // Repartition by the partition column before every dynamic-
    // partitioned write (round 18, guide §6): without it each write
    // task emits a file per bucket it happens to hold (tasks × buckets
    // small files — the measured layouts carried ~4× the file count,
    // taxing every later load's footer reads, the upgrade clones, and
    // the write commit itself); with it each bucket is exactly one
    // file per batch, and AQE sizes the shuffle to the batch.
    // doclens is written LAST: it is [[append]]'s done-marker (the
    // anti-join target), so a crash mid-batch leaves at worst orphan
    // postings/positions for doc_ids absent from doclens — invisible to
    // BM25 only if the replay re-writes them, which the marker ensures.
    try {
      stamp(t.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf")))
        .withColumn("bkt", bktCol(nB)).transform(Layout.writeByBucket(_, col("bkt")))
        .write.partitionBy("bkt").mode(mode).parquet(s"$dir/postings")
      stamp(t.select(col("term"), col("doc_id"), col("pos")))
        .withColumn("bkt", bktCol(nB)).transform(Layout.writeByBucket(_, col("bkt")))
        .write.partitionBy("bkt").mode(mode).parquet(s"$dir/positions")
      stamp(t.groupBy(col("doc_id")).agg(count(lit(1)).as("dl")))
        .write.mode(mode).parquet(s"$dir/doclens")
    } finally if (mode == "append") graft.Reliable.release(t)
  }

  /** Epoch layouts stamp every row with its batch epoch
    * ([[Tombstones]]); pre-epoch layouts keep the legacy id-only
    * tombstone semantics until a [[compact]] upgrades them.
    */
  private[graft] def isEpochLayout(s: SparkSession, dir: String): Boolean =
    s.read.parquet(s"$dir/doclens").columns.contains("ep")

  private def tombstones(s: SparkSession, dir: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Some(s.read.parquet(p.toString).select(col("doc_id")))
    else None
  }

  /** The layout-appropriate liveness fold: epoch comparison on epoch
    * layouts, id anti-join on legacy ones. Applied BEFORE any
    * dedup-on-read, since an id re-appended after a deferred delete has
    * rows at several epochs and only the liveness filter knows which
    * one serves.
    */
  private def liveFold(s: SparkSession, dir: String, epochMode: Boolean)(
      df: DataFrame): DataFrame =
    if (epochMode) Tombstones.liveByEpoch(df, Tombstones.tombMax(s, dir, "doc_id"), "doc_id")
    else tombstones(s, dir).fold(df)(t => df.join(t, Seq("doc_id"), "left_anti"))

  /** doclens minus tombstones — the live document set every statistic
    * must be computed from once deletes exist.
    */
  private def liveDoclens(s: SparkSession, dir: String): DataFrame =
    liveFold(s, dir, isEpochLayout(s, dir))(s.read.parquet(s"$dir/doclens"))
      .dropDuplicates("doc_id")

  /** Recompute the one-row stats from the LIVE doclens (doc-count rows —
    * one long pair per document, not corpus-sized) after a build, append,
    * or delete — so idf/avgdl always reflect exactly the searchable
    * documents and a deleted index stays BIT-IDENTICAL to a fresh build
    * over the remaining corpus (TextIndexSpec).
    */
  private def refreshStats(s: SparkSession, dir: String): Unit = graft.Jobs.labeled(s, "text-index: refreshStats") {
    val agg = liveDoclens(s, dir)
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
    * bucket count ([[bucketsFor]]), persisted for its lifetime.
    */
  def writeDocs(s: SparkSession, docs: DataFrame, dir: String,
      bucketsOverride: Option[Int] = None): Unit = {
    val nB = bucketsOverride.getOrElse(bucketsFor(docs.count()))
    writeMeta(s, dir, nB)
    writeBatch(docs, dir, "overwrite", Some(0L), nB)
    val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    // Liveness folds FIRST (deleted docs vanish from every serve
    // surface — on epoch layouts a re-appended id also has dead
    // lower-epoch rows that must not reach the dedup), then the
    // defensive dedup. `bkt` is functionally determined by `term`, but
    // including it in the dedup keys is what lets the serve-time bucket
    // predicate push BELOW the dedup to the scan as a partition filter;
    // the term/bucket predicates also push below the liveness join.
    val live = liveFold(s, dir, isEpochLayout(s, dir)) _
    Index(
      postings = live(s.read.parquet(s"$dir/postings"))
        .dropDuplicates("bkt", "term", "doc_id"),
      doclens = live(s.read.parquet(s"$dir/doclens")).dropDuplicates("doc_id"),
      stats = s.read.parquet(s"$dir/stats"),
      positions = live(s.read.parquet(s"$dir/positions"))
        .dropDuplicates("bkt", "term", "doc_id", "pos"),
      buckets = readBuckets(s, dir))
  }

  /** Delete documents by id — [[AnnIndex.delete]]'s tombstone design on
    * the lexical index: ids append to a `tombstones/` table, [[load]]
    * anti-joins it onto postings/doclens/positions (BM25, phrase and df
    * all serve from the live set), and the one-row stats refresh from
    * the live doclens so idf/avgdl shift exactly as a rebuild's would.
    * O(batch + #docs) per delete — index files untouched until
    * [[compact]]. On an epoch layout the tombstone records the current
    * epoch, so a later [[append]] RE-ADDS the id without compacting
    * (the release-upgrade fast path); on a legacy layout a tombstoned
    * id blocks entirely until compact, as in [[AnnIndex]]. Once the
    * ledger outgrows `autoCompactAt` rows
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
    val t = ids.select(col("doc_id"))
    // one ledger file per delete batch (round 18); repartition(1), not
    // coalesce(1): coalesce propagates the single partition UP the
    // narrow lineage, so computing a large delete batch's ids would run
    // one-task (round-18 advice) — repartition confines the 1-partition
    // constraint to the write itself
    (if (isEpochLayout(s, dir))
       t.withColumn("te", lit(Tombstones.readEpoch(s, dir)))
     else t).repartition(1).write.mode("append").parquet(s"$dir/tombstones")
    if (MetaScalar.rowCount(s, s"$dir/tombstones").getOrElse(
        s.read.parquet(s"$dir/tombstones").count()) >= autoCompactAt)
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
  def compact(s: SparkSession, dir: String): Index = {
    tombstones(s, dir).foreach { _ =>
      val live = load(s, dir) // tombstones already folded, rows deduped
      // the rewrite restarts epoch history at 0 (no tombstones survive
      // it) — this is also where a legacy layout upgrades to the epoch
      // schema, since every row is re-stamped
      def ep0(df: DataFrame): DataFrame = df.drop("ep").withColumn("ep", lit(0L))
      // localCheckpoint so each rewrite doesn't race its own input scan
      ep0(live.postings).localCheckpoint(true)
        .transform(Layout.writeByBucket(_, col("bkt")))
        .write.partitionBy("bkt").mode("overwrite").parquet(s"$dir/postings")
      ep0(live.positions).localCheckpoint(true)
        .transform(Layout.writeByBucket(_, col("bkt")))
        .write.partitionBy("bkt").mode("overwrite").parquet(s"$dir/positions")
      ep0(live.doclens).localCheckpoint(true)
        .write.mode("overwrite").parquet(s"$dir/doclens")
      val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
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
    * replay completes them. On an epoch layout "present" means LIVE —
    * a tombstoned id re-appends at a fresh epoch (its dead rows stay
    * invisible behind the tombstone); on a legacy layout it stays
    * blocked until [[compact]].
    */
  def append(s: SparkSession, dir: String, docs: DataFrame): Index = graft.Jobs.labeled(s, "text-index: append") {
    val epochMode = isEpochLayout(s, dir)
    // epoch mode: done = LIVE ids (a tombstoned id re-appends); legacy:
    // done = ids ever written (tombstoned ids stay blocked — the
    // pre-epoch contract, byte-identical behavior)
    val done =
      if (epochMode)
        liveFold(s, dir, epochMode)(s.read.parquet(s"$dir/doclens"))
          .select(col("doc_id"))
      else s.read.parquet(s"$dir/doclens").select(col("doc_id"))
    val ep = if (epochMode) Some(Tombstones.bumpEpoch(s, dir)) else None
    // batch-sized materialization: writeBatch runs THREE writes, and
    // without the checkpoint each one lazily re-runs the anti-join and
    // whatever lineage `docs` carries (for Release upgrades, a semi-join
    // over the full new corpus — re-scanned 3x, the term that kept the
    // upgrade rebuild-priced). Same recipe as [[DedupIndex.append]];
    // released on every exit, like writeBatch's token checkpoint.
    val fresh = docs.join(done, Seq("doc_id"), "left_anti").localCheckpoint(true)
    try writeBatch(fresh, dir, "append", ep, readBuckets(s, dir))
    finally graft.Reliable.release(fresh)
    refreshStats(s, dir)
    load(s, dir)
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
        round(Advanced13.bmIdf * Advanced13.bmTfNorm, 6).as("sc"))
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
    Advanced14.phraseHits(
      ix.positions.filter(col("bkt").isin(bucketsOf(s, phrase, ix.buckets): _*)),
      phrase).orderBy(col("doc_id"))
}
