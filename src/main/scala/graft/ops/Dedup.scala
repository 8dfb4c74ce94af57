package graft.ops

import graft.{Det, Q, Tables}
import graft.functions.{BloomFilters, CosineSim, NGrams, SimHash60}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact, near and semantic dedup: LSH and SimHash near-duplicate
  * pairs, Bloom prefilters, boilerplate and duplicated-span scrubbing,
  * containment and PageRank over the duplicate graph, cluster keepers,
  * and the semantic-dedup family (cosine assignment to centroids, the
  * capped dominance kernel [[dominatedBy]], its index-served, batch and
  * intake forms that [[IngestionGate]] builds on).
  */
object Dedup {

  /** Candidate→verify: exact 3-gram Jaccard over ONLY the LSH candidate
    * pairs — the verification stage that follows q32's recall stage in a
    * production dedup pipeline. MinHash estimates (q32) have variance;
    * the final drop decision wants the true Jaccard, and computing it
    * here costs O(candidate pairs), not O(n²).
    */
  val lshVerify = Q(
    "q69_lsh_verify",
    (TextOps.lshOracleSql() +
      """,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bcap a JOIN bcap b
      |    ON a.b = b.b AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
      |inter AS (
      |  SELECT c.da, c.db, COUNT(*) AS n_common
      |  FROM cand c JOIN hs sa ON sa.doc_id = c.da
      |              JOIN hs sb ON sb.doc_id = c.db AND sb.s = sa.s
      |  GROUP BY c.da, c.db),
      |pairs AS (
      |  SELECT c.da, c.db, COALESCE(i.n_common, 0) AS n_common
      |  FROM cand c LEFT JOIN inter i ON i.da = c.da AND i.db = c.db)
      |SELECT p.da, p.db, p.n_common,
      |  ROUND(p.n_common * 1.0 / (sa.n + sb.n - p.n_common), 6) AS jaccard,
      |  CASE WHEN p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.8
      |       THEN 'dup' ELSE 'candidate' END AS verdict
      |FROM pairs p
      |JOIN sizes sa ON sa.doc_id = p.da
      |JOIN sizes sb ON sb.doc_id = p.db
      |ORDER BY da, db""").stripMargin) { (s, d) =>
    candidatePairStats(s, d)
      .withColumn("jac_raw",
        col("n_common") * 1.0 / (col("na") + col("nb") - col("n_common")))
      .select(col("da"), col("db"), col("n_common"),
        round(col("jac_raw"), 6).as("jaccard"),
        when(col("jac_raw") >= 0.8, "dup").otherwise("candidate").as("verdict"))
      .orderBy(col("da"), col("db"))
  }

  /** Shared verify-stage base: for every LSH candidate pair, the exact
    * distinct-3-gram overlap `(da, db, n_common, na, nb)`. Cost is
    * O(candidate pairs), never O(n²) — the gram join touches only docs
    * that appear in a candidate pair. q69 derives Jaccard from it;
    * q119 derives the asymmetric containment ratios.
    */
  private[ops] def candidatePairStats(s: SparkSession, d: String): DataFrame = {
    val cand = TextOps.minhashCandidates(s, d)
    val sh = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(NGrams.ngrams(col("toks"), 3))).as("s"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("sa"), col("da") === col("sa.doc_id"))
      .join(sh.as("sb"), col("db") === col("sb.doc_id") && col("sb.s") === col("sa.s"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("n_common_i"))
    val pairs = cand.join(inter, Seq("da", "db"), "left")
      .select(col("da"), col("db"), coalesce(col("n_common_i"), lit(0L)).as("n_common"))
    pairs
      .join(sizes.as("za"), col("da") === col("za.doc_id"))
      .join(sizes.as("zb"), col("db") === col("zb.doc_id"))
      .select(col("da"), col("db"), col("n_common"),
        col("za.n").as("na"), col("zb.n").as("nb"))
  }

  /** Boilerplate detection: repeated-bigram ratio per document (the
    * Gopher-style repetition quality signal) — one narrow projection, no
    * shuffle, embarrassingly parallel at any scale.
    */
  val boilerplate = Q(
    "q70_boilerplate",
    """WITH f AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |b AS (
      |  SELECT doc_id, lang,
      |    list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg
      |  FROM f)
      |SELECT doc_id, lang,
      |  CAST(len(bg) AS INTEGER) AS n_bigrams,
      |  CAST(len(list_distinct(bg)) AS INTEGER) AS n_distinct,
      |  ROUND((len(bg) - len(list_distinct(bg))) * 1.0 / len(bg), 6) AS dup_ratio,
      |  CASE WHEN (len(bg) - len(list_distinct(bg))) * 1.0 / len(bg) >= 0.5 THEN 'boiler'
      |       WHEN (len(bg) - len(list_distinct(bg))) * 1.0 / len(bg) >= 0.2 THEN 'mixed'
      |       ELSE 'clean' END AS band
      |FROM b
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val f = Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " "))
      .filter(size(col("toks")) >= 2)
      .withColumn("bg", NGrams.ngrams(col("toks"), 2))
      .select(col("doc_id"), col("lang"),
        size(col("bg")).as("n_bigrams"),
        size(array_distinct(col("bg"))).as("n_distinct"))
    f.withColumn("ratio_raw",
        (col("n_bigrams") - col("n_distinct")) * 1.0 / col("n_bigrams"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("n_distinct"),
        round(col("ratio_raw"), 6).as("dup_ratio"),
        when(col("ratio_raw") >= 0.5, "boiler")
          .when(col("ratio_raw") >= 0.2, "mixed")
          .otherwise("clean").as("band"))
      .orderBy(col("doc_id"))
  }

  /** End-to-end corpus purge: resolve near-dup clusters (shared labels
    * from q57's connected components) and report kept/dropped per
    * language — the final step that actually shrinks the corpus.
    */
  val corpusPurge = Q(
    "q76_corpus_purge",
    (TextOps.ccOracleSql +
      """,
      |reps AS (SELECT node AS doc_id, cluster AS cluster_rep FROM cl)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN r.cluster_rep IS NOT NULL AND r.cluster_rep <> d.doc_id
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(SUM(CASE WHEN r.cluster_rep IS NULL OR r.cluster_rep = d.doc_id
      |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents d LEFT JOIN reps r ON r.doc_id = d.doc_id
      |GROUP BY d.lang
      |ORDER BY lang""").stripMargin) { (s, d) =>
    val labels = DedupClusters.clusterLabels(s, d)
      .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
    Tables.documents(s, d).as("d")
      .join(labels.as("r"), col("d.doc_id") === col("r.doc_id"), "left")
      .groupBy(col("d.lang").as("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("cluster_rep").isNotNull && col("cluster_rep") =!= col("d.doc_id"), 1L)
          .otherwise(0L)).as("n_dropped"),
        sum(when(col("cluster_rep").isNull || col("cluster_rep") === col("d.doc_id"), 1L)
          .otherwise(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** SimHash near-duplicate PAIRS (q33 computes signatures; this is the
    * pairing stage a dedup pipeline actually consumes). 60-bit signature
    * (15 hex chars of md5 per distinct token, majority vote per bit),
    * split into 2 bands of 30 bits. Pigeonhole guarantee: hamming(a,b) <= 1
    * can flip bits in at most one band, so at least one band matches
    * exactly — banding finds EVERY qualifying pair, it is not approximate.
    * The oracle therefore uses the O(n²) self-join form; results are
    * provably identical.
    *
    * The signature build is the native `graft_simhash60` expression: the
    * whole 60-bit majority vote computes in one narrow codegen'd
    * projection per document — no token explode, no 60-column aggregate,
    * no shuffle before the band join (contrast q33's compact declarative
    * form, acceptable there because signatures are the final output;
    * here they feed a join and stay on the hot path).
    */
  val simhashNeardup = Q(
    "q77_simhash_neardup",
    """WITH hs AS (
      |  SELECT doc_id, list_transform(list_distinct(string_split(text,' ')),
      |    x -> ('0x' || substr(md5(x),1,15))::BIGINT) AS h FROM documents),
      |sim AS (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(0,60), b ->
      |    CASE WHEN list_sum(list_transform(h, v ->
      |           CASE WHEN ((v >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
      |         THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash FROM hs)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // Materialize signatures before the self-join: without this the scan +
    // simhash projection plans TWICE (once per join side) — at corpus
    // scale that's 2x the whole signature pass. After the checkpoint both
    // sides read the (tiny: one long per doc) sig table.
    val sigs = simhash60(Tables.documents(s, d)).localCheckpoint()
    val bandMask = (1L << 30) - 1
    val bands = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array(
        col("simhash").bitwiseAND(lit(bandMask)),
        shiftright(col("simhash"), 30).bitwiseAND(lit(bandMask)))).as(Seq("band", "bv")))
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS INT)").as("hamming"))
      .filter(col("hamming") <= 1)
      .distinct() // a pair agreeing in both bands collides twice
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** 60-bit SimHash per doc via the native [[graft.functions.SimHash60]]
    * expression — ONE narrow projection, no explode, no 60-column
    * aggregate, no shuffle (see its scaladoc for the bit definition).
    * Package-visible so Advanced4Spec can brute-force the same signatures.
    */
  private[graft] def simhash60(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      SimHash60.simhash60(array_distinct(split(col("text"), " "))).as("simhash"))

  /** Bloom-prefiltered incremental dedup (q65's scale path made real):
    * arriving docs (doc_id ≥ 400) are admitted only if their 4-token
    * prefix fingerprint is absent from the existing corpus (doc_id <
    * 400). The bloom filter short-circuits the definitely-new majority
    * WITHOUT touching the corpus; only bloom-positives reach the exact
    * anti-join. Bloom filters have no false negatives, so
    * prefilter + exact-verify ≡ plain anti-join — the oracle IS the
    * plain anti-join, and the equivalence is what the driver checks.
    */
  val bloomPrefilter = Q(
    "q90_bloom_prefilter",
    """WITH d AS (
      |  SELECT doc_id, source,
      |    array_to_string(string_split(text, ' ')[1:4], ' ') AS fp
      |  FROM documents)
      |SELECT b.doc_id, b.source FROM d b
      |WHERE b.doc_id >= 400 AND NOT EXISTS (
      |  SELECT 1 FROM d c WHERE c.doc_id < 400 AND c.fp = b.fp)
      |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        array_join(slice(split(col("text"), " "), 1, 4), " ").as("fp"))
    val corpus = docs.filter(col("doc_id") < 400).select(col("fp")).distinct()
    val batch = docs.filter(col("doc_id") >= 400)
    // Sized from the corpus count: a production pipeline carries this in
    // metadata rather than re-counting (one columnar scan here).
    val bloom = BloomFilters.build(corpus, col("fp"),
      expectedItems = math.max(1000L, corpus.count()), fpp = 0.03)
    val flagged = batch.withColumn("maybe", BloomFilters.mightContain(bloom, col("fp")))
    val definitelyNew = flagged.filter(!col("maybe"))
    val verifiedNew = flagged.filter(col("maybe"))
      .join(corpus, Seq("fp"), "left_anti")
    definitelyNew.select(col("doc_id"), col("source"))
      .union(verifiedNew.select(col("doc_id"), col("source")))
      .orderBy(col("doc_id"))
  }

  /** The shared preamble ([[TextOps.lshOracleSql]]) extended with the
    * candidate edge list — the base both graph oracles here build on.
    */
  private val EdgeSql = TextOps.lshOracleSql() +
    """,
      |edges AS (
      |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |  FROM bcap a JOIN bcap b
      |    ON a.b = b.b AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id)""".stripMargin

  /** PageRank over the LSH candidate graph (3 damped iterations,
    * d = 0.85) — centrality separates the hub of a template family
    * (high rank) from its leaves, which is the keep/drop priority
    * signal cluster labels (q57) alone don't give. Ranks live in
    * BIGINT micro-units and every division is [[Det.halfUpDiv]], so the
    * iteration is bit-identical across engines — no float accumulation
    * order anywhere. Each hop is one equi-join + partial-agg'd groupBy
    * on the edge list (the standard message-passing shape); the edge
    * table is the SHARED checkpointed candidate base, so the MinHash
    * subtree runs once per session, not once per hop.
    */
  val pagerank = Q(
    "q114_pagerank",
    (EdgeSql +
      """,
      |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
      |deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM sym GROUP BY src),
      |p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM deg),
      |p1 AS (SELECT e.dst AS node,
      |        150000 + (34 * SUM((2 * p.r + d.degree) // (2 * d.degree)) + 20) // 40 AS r
      |       FROM sym e JOIN p0 p ON p.node = e.src JOIN deg d ON d.node = e.src
      |       GROUP BY e.dst),
      |p2 AS (SELECT e.dst AS node,
      |        150000 + (34 * SUM((2 * p.r + d.degree) // (2 * d.degree)) + 20) // 40 AS r
      |       FROM sym e JOIN p1 p ON p.node = e.src JOIN deg d ON d.node = e.src
      |       GROUP BY e.dst),
      |p3 AS (SELECT e.dst AS node,
      |        150000 + (34 * SUM((2 * p.r + d.degree) // (2 * d.degree)) + 20) // 40 AS r
      |       FROM sym e JOIN p2 p ON p.node = e.src JOIN deg d ON d.node = e.src
      |       GROUP BY e.dst)
      |SELECT p3.node AS doc_id, deg.degree, CAST(p3.r AS BIGINT) / 1000000.0 AS pagerank
      |FROM p3 JOIN deg ON deg.node = p3.node
      |ORDER BY doc_id""").stripMargin) { (s, d) =>
    val cand = TextOps.minhashCandidates(s, d)
    val edges = cand.select(col("da").as("src"), col("db").as("dst"))
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    // deg is NODE-sized and consumed by every hop plus the final join —
    // materialize once; leaving it lazy re-aggregates the EDGE list
    // (a shuffle of the graph) once per hop at any scale.
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
      .transform(graft.Reliable.checkpoint)
    var ranks = deg.select(col("node"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      ranks = sym.as("e")
        .join(ranks.as("p"), col("p.node") === col("e.src"))
        .join(deg.as("d"), col("d.node") === col("e.src"))
        .groupBy(col("e.dst").as("node"))
        .agg(sum(Det.halfUpDiv(col("p.r"), col("d.degree"))).as("contrib"))
        .select(col("node"),
          (lit(150000L) + Det.halfUpDiv(lit(17) * col("contrib"), lit(20))).as("r"))
    }
    ranks.as("pr")
      .join(deg.as("dg"), col("dg.node") === col("pr.node"))
      .select(col("pr.node").as("doc_id"), col("dg.degree"),
        (col("pr.r") / 1000000.0).as("pagerank"))
      .orderBy(col("doc_id"))
  }

  /** Distinct (doc_id, 5-gram-hash) span table — the corpus pass both
    * span-level consumers share: q117's dup-span fraction (df aggregate
    * + join side) and q134's cross-split contamination audit. Computed
    * and materialized ONCE per session ([[graft.Shared]]), the way a
    * curation run publishes its span index as an artifact — without it
    * the scan→ngrams→hash→distinct subtree (the expensive pass) would
    * run once per consumer (q103's documented trade, same here). Spans
    * hash to 60-bit md5 prefixes (one BIGINT per span, oracle-
    * computable; xxhash64 at production scale).
    */
  private[ops] def spanTable(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.Shared.materialized(s, s"spans5@$d") {
      Tables.documents(s, d)
        .withColumn("toks", split(col("text"), " "))
        .filter(size(col("toks")) >= 5)
        .select(col("doc_id"), explode(NGrams.ngrams(col("toks"), 5)).as("gr"))
        .select(col("doc_id"),
          expr("CAST(conv(substr(md5(gr), 1, 15), 16, 10) AS BIGINT)").as("gh"))
        .distinct()
    }

  /** Duplicated-span contamination: per document, the fraction of its
    * distinct 5-gram spans that also occur in ANOTHER document — the
    * substring-level dedup signal (Lee et al.'s "deduplicating training
    * data" measured exactly this before cutting). Spans ship as 60-bit
    * md5-prefix hashes (one BIGINT per span, oracle-computable;
    * xxhash64 at production scale); the document-frequency table is
    * span-vocabulary-sized. Two partial-agg'd groupBys + one
    * vocabulary join — never a doc×doc comparison.
    */
  val dupSpanFraction = Q(
    "q117_dup_span_fraction",
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |g AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(gr), 1, 15))::BIGINT AS gh FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 3),
      |    i -> array_to_string(t[i:i+4], ' '))) AS gr FROM toks) q),
      |df AS (SELECT gh, COUNT(*) AS nd FROM g GROUP BY gh)
      |SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |  CAST(COUNT(*) FILTER (WHERE df.nd >= 2) AS BIGINT) AS n_dup_spans,
      |  (2 * COUNT(*) FILTER (WHERE df.nd >= 2) * 1000000 + COUNT(*))
      |    // (2 * COUNT(*)) / 10000.0 AS dup_pct
      |FROM g JOIN df USING (gh)
      |GROUP BY g.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val g = spanTable(s, d)
    val dfc = g.groupBy(col("gh")).agg(count(lit(1)).as("nd"))
    g.join(dfc, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("nd") >= 2, 1)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        (Det.halfUpDiv(col("n_dup_spans") * 1000000, col("n_spans")) / 10000.0)
          .as("dup_pct"))
      .orderBy(col("doc_id"))
  }

  /** Asymmetric containment over the LSH candidate pairs:
    * |A∩B|/|A| and |A∩B|/|B| on exact distinct-3-gram sets. Jaccard
    * (q69) misses the quote/subset dup case — a short doc fully
    * contained in a long one has low Jaccard but containment ≈ 1. Same
    * O(candidates) verify cost as q69 (shared base).
    */
  val containment = Q(
    "q119_containment",
    (EdgeSql +
      """,
      |cand AS (SELECT src AS da, dst AS db FROM edges),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hs GROUP BY doc_id),
      |inter AS (
      |  SELECT c.da, c.db, COUNT(*) AS n_common
      |  FROM cand c JOIN hs sa ON sa.doc_id = c.da
      |              JOIN hs sb ON sb.doc_id = c.db AND sb.s = sa.s
      |  GROUP BY c.da, c.db),
      |pairs AS (
      |  SELECT c.da, c.db, COALESCE(i.n_common, 0) AS n_common
      |  FROM cand c LEFT JOIN inter i ON i.da = c.da AND i.db = c.db)
      |SELECT p.da, p.db, p.n_common,
      |  ROUND(p.n_common * 1.0 / sa.n, 6) AS cont_a,
      |  ROUND(p.n_common * 1.0 / sb.n, 6) AS cont_b
      |FROM pairs p
      |JOIN sizes sa ON sa.doc_id = p.da
      |JOIN sizes sb ON sb.doc_id = p.db
      |ORDER BY da, db""").stripMargin) { (s, d) =>
    candidatePairStats(s, d)
      .select(col("da"), col("db"), col("n_common"),
        round(col("n_common") * 1.0 / col("na"), 6).as("cont_a"),
        round(col("n_common") * 1.0 / col("nb"), 6).as("cont_b"))
      .orderBy(col("da"), col("db"))
  }

  /** Keep-best dedup resolution: for every near-duplicate cluster (q57's
    * connected components over the LSH candidate graph), CHOOSE the
    * member that survives — longest document wins, doc_id breaks ties —
    * and account for what gets dropped. This is the decision step a
    * dedup pipeline runs between clustering and the corpus purge (q76
    * keeps min-doc_id; real pipelines keep the best-quality member).
    * The cluster table is graph-sized (≪ corpus) and the documents join
    * it by primary key; the argmax is a map-side-combined `max_by` on a
    * (quality, −doc_id) STRUCT key — orderable at any scale, while the
    * oracle packs the pair into one BIGINT (monotonic while doc_id <
    * 10⁸, always true at the oracle's test SFs).
    */
  val clusterKeepBest = Q(
    "q132_cluster_keep_best",
    (TextOps.ccOracleSql +
      """
      |SELECT cl.cluster AS cluster_rep, CAST(COUNT(*) AS BIGINT) AS n_members,
      |  arg_max(d.doc_id, d.n_chars * 100000000 - d.doc_id) AS keep_doc_id,
      |  MAX(d.n_chars) AS keep_n_chars,
      |  CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
      |FROM cl JOIN documents d ON d.doc_id = cl.node
      |GROUP BY cl.cluster
      |ORDER BY cluster_rep""").stripMargin) { (s, d) =>
    val key = struct(col("n_chars").as("q"), (-col("doc_id")).as("tb"))
    DedupClusters.clusterLabels(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        col("node") === col("doc_id"))
      .groupBy(col("label").as("cluster_rep"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), key).as("keep_doc_id"),
        max(col("n_chars")).as("keep_n_chars"),
        (count(lit(1)) - 1).as("n_dropped"))
      .orderBy(col("cluster_rep"))
  }

  /** SemDeDup-style semantic pruning: inside each embedding cluster
    * (the `label` column — at production scale the k-means/IVF
    * assignment q80/q49 compute), drop every vector that has a LOWER-id
    * clustermate with cosine ≥ 0.35, keep the rest; report the per-
    * cluster keep/drop ledger. The pairwise work is CLUSTER-CONFINED —
    * the whole point of SemDeDup: compare within lists of bounded size,
    * never corpus × corpus. Cosines come from the codegen'd fused
    * `graft_cosine` over natively-cast `array<double>` inputs (Spark's
    * Cast is codegen'd elementwise — no interpreted `transform` pass)
    * and the threshold compares the RAW double on both engines —
    * bit-identical arithmetic, the q42-proven recipe.
    */
  val semdedupPrune = Q(
    "q133_semdedup_prune",
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${LshGuard.capCteSql("ecap", "e", Seq("vec_id", "label", "v"), Seq("label"), "vec_id")},
      |drops AS (
      |  SELECT DISTINCT b.label, b.vec_id
      |  FROM ecap a JOIN ecap b ON a.label = b.label AND a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v)
      |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
      |    >= 0.35)
      |SELECT e.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(COUNT(dr.vec_id) AS BIGINT) AS n_dropped,
      |  CAST(COUNT(*) - COUNT(dr.vec_id) AS BIGINT) AS n_kept
      |FROM e LEFT JOIN drops dr ON dr.label = e.label AND dr.vec_id = e.vec_id
      |GROUP BY e.label
      |ORDER BY e.label""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("v"))
    // hot-cluster guard (CorpusPipeline stage 3b's shape): cap membership
    // per cluster before the pairwise join — the uncapped e still counts
    // n_vecs, so the cap only bounds the comparison fan-out
    val ec = LshGuard.capBuckets(s, e, Seq("label"), "vec_id",
      tag = "semdedup-q133")
    val a = ec.select(col("label").as("la"), col("vec_id").as("ida"), col("v").as("va"))
    val b = ec.select(col("label").as("lb"), col("vec_id").as("idb"), col("v").as("vb"))
    val drops = a.join(b, col("la") === col("lb") && col("ida") < col("idb"))
      .filter(CosineSim.cosine(col("va"), col("vb")) >= 0.35)
      .select(col("lb").as("label"), col("idb").as("vec_id"))
      .distinct()
    e.select(col("label"), col("vec_id"))
      .join(drops.withColumn("hit", lit(1)), Seq("label", "vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), count(col("hit")).as("n_dropped"),
        (count(lit(1)) - count(col("hit"))).as("n_kept"))
      .orderBy(col("label"))
  }

  /** ExactSubstr-style duplicated-span SCRUBBING (Lee et al. 2022's
    * "deduplicating training data" acted on, not just measured): every
    * token covered by a 5-gram span that also occurs in ANOTHER
    * document is cut from the text; the doc keeps its unique content.
    * q117 reports the dup-span fraction and q97/CorpusPipeline drop
    * whole docs — this is the third option a corpus team actually
    * ships, removing the boilerplate/quote while keeping the document.
    *
    * Scale shape: the duplicated-span vocabulary comes from the SHARED
    * q117/q134 span table (one corpus pass per session) and is
    * vocabulary-sized; positional grams join it on the hash, covered
    * positions explode from matched spans only, and the text rebuilds
    * per doc with array_sort(collect_list(struct(pos, tok))).tok — a
    * codegen'd struct-field extraction, no interpreted lambda. Never
    * doc×doc. Cross-doc spans only: a phrase repeated inside ONE doc
    * is that document's own style, not corpus duplication.
    */
  val exactSubstrScrub = Q(
    "q142_exact_substr_scrub",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |gi AS (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i FROM d
      |       WHERE len(t) >= 5),
      |g AS (SELECT doc_id, i,
      |        ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 15))::BIGINT AS gh
      |      FROM gi),
      |dup AS (SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g) dg
      |        GROUP BY gh HAVING COUNT(*) >= 2),
      |cov AS (SELECT DISTINCT g.doc_id, i + k AS pos
      |        FROM g JOIN dup USING (gh), UNNEST(range(0, 5)) AS u(k)),
      |tp AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS pos FROM d),
      |toks AS (SELECT doc_id, pos, t[pos] AS tok FROM tp),
      |kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM toks tk
      |         LEFT JOIN cov c ON c.doc_id = tk.doc_id AND c.pos = tk.pos
      |         WHERE c.pos IS NULL),
      |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |          string_agg(tok, ' ' ORDER BY pos) AS text_scrubbed
      |        FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
      |  CAST(len(d.t) - COALESCE(agg.n_kept, 0) AS BIGINT) AS n_removed,
      |  COALESCE(agg.text_scrubbed, '') AS text_scrubbed
      |FROM d LEFT JOIN agg USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = Tables.documents(s, dir).select(col("doc_id"), split(col("text"), " ").as("t"))
    val g = d.filter(size(col("t")) >= 5)
      .select(col("doc_id"),
        posexplode(graft.functions.NGrams.ngrams(col("t"), 5)).as(Seq("g0", "gr")))
      .select(col("doc_id"), (col("g0") + 1).as("i"),
        expr("CAST(conv(substr(md5(gr), 1, 15), 16, 10) AS BIGINT)").as("gh"))
    // duplicated-span vocabulary from the SHARED session span table
    val dup = spanTable(s, dir)
      .groupBy(col("gh")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("gh"))
    val cov = g.join(dup, Seq("gh"))
      .select(col("doc_id"), explode(expr("sequence(i, i + 4)")).as("pos"))
      .distinct()
    val toks = d
      .select(col("doc_id"), posexplode(col("t")).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("tok"))
    val agg = toks.join(cov, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(array_sort(collect_list(struct(pos, tok))).tok, ' ')")
          .as("text_scrubbed"))
    d.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_scrubbed"), lit("")).as("text_scrubbed"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- q184

  private val SpanSize = 16

  /** q184: BOILERPLATE SPAN DETECTION — non-overlapping 16-token spans
    * ([[Packing.chunkDocs]] at stride = size) fingerprinted by md5 and grouped
    * across the corpus; a span appearing in >1 document is shared
    * boilerplate (headers, templates, license blocks). The scale shape
    * is exact dedup's (q30) applied to span fingerprints: one explode
    * pass, one map-side-combinable groupBy on the 32-char hash — spans
    * never pair with each other, so nothing is quadratic in the
    * boilerplate frequency.
    */
  val boilerplateSpans = Q(
    "q184_boilerplate_spans",
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS tk,
       |    len(string_split(text, ' ')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, tk, n,
       |    unnest(generate_series(0,
       |      GREATEST(0, (n - $SpanSize + ${SpanSize - 1}) // $SpanSize))) AS chunk_id
       |  FROM t),
       |ch AS (
       |  SELECT doc_id,
       |    md5(array_to_string(tk[chunk_id * $SpanSize + 1 :
       |      chunk_id * $SpanSize + $SpanSize], ' ')) AS span_md5
       |  FROM c)
       |SELECT span_md5,
       |  CAST(COUNT(*) AS BIGINT) AS n_spans,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
       |FROM ch GROUP BY span_md5
       |HAVING COUNT(DISTINCT doc_id) > 1
       |ORDER BY n_docs DESC, n_spans DESC, span_md5""".stripMargin) { (s, d) =>
    Packing.chunkDocs(Tables.documents(s, d), SpanSize, SpanSize)
      .groupBy(col("chunk_md5").as("span_md5"))
      .agg(count(lit(1)).as("n_spans"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") > 1)
      .orderBy(col("n_docs").desc, col("n_spans").desc, col("span_md5"))
  }

  // ---------------------------------------------------------------- q190

  private val DupThreshold = 0.5

  /** q190: near-dup pair counts per unordered source pair at estimated
    * Jaccard ≥ 0.5, from the shared LSH candidate graph. max_est is a
    * MAX of 6-decimal-rounded estimates — order-independent exact.
    */
  val crossSourceDups = Q(
    "q190_cross_source_dups",
    (TextOps.lshOracleSql() +
      s""",
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bcap a JOIN bcap b
      |    ON a.b = b.b AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id),
      |sim AS (
      |  SELECT da, db,
      |    ROUND(list_sum(list_transform(range(1, 17),
      |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0, 6) AS est
      |  FROM cand
      |  JOIN sigs sa ON sa.doc_id = da
      |  JOIN sigs sb ON sb.doc_id = db),
      |p AS (
      |  SELECT LEAST(x.source, y.source) AS source_a,
      |    GREATEST(x.source, y.source) AS source_b, est
      |  FROM sim
      |  JOIN documents x ON x.doc_id = da
      |  JOIN documents y ON y.doc_id = db
      |  WHERE est >= $DupThreshold)
      |SELECT source_a, source_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs, MAX(est) AS max_est
      |FROM p GROUP BY 1, 2 ORDER BY 1, 2""").stripMargin) { (s, d) =>
    val sigs = TextOps.minhashSigs(s, d)
    val cand = TextOps.minhashCandidates(s, d)
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    cand
      .join(sigs.as("sa"), col("da") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"), TextOps.estJaccard.as("est"))
      .filter(col("est") >= DupThreshold)
      .join(src.as("x"), col("da") === col("x.doc_id"))
      .join(src.as("y"), col("db") === col("y.doc_id"))
      .select(least(col("x.source"), col("y.source")).as("source_a"),
        greatest(col("x.source"), col("y.source")).as("source_b"), col("est"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), max(col("est")).as("max_est"))
      .orderBy(col("source_a"), col("source_b"))
  }

  // ---------------------------------------------------------------- q193

  /** q193: NEAR-DUP DEGREE AUDIT — the distribution of per-document
    * candidate-graph degree at est ≥ 0.5: how many docs have 1 near-dup,
    * how many are N-way "superconnectors" (the blast-radius histogram a
    * dedup rollout is sized by; LshGuard's bucket caps are exactly the
    * guard against the right tail). Degrees come from one union of the
    * thresholded pair list's two sides + two map-side-combinable
    * aggregations — never a pairwise expansion beyond the already-capped
    * candidate graph.
    */
  val dupDegrees = Q(
    "q193_dup_degree_hist",
    (TextOps.lshOracleSql() +
      s""",
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |  FROM bcap a JOIN bcap b
      |    ON a.b = b.b AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id),
      |sim AS (
      |  SELECT da, db,
      |    ROUND(list_sum(list_transform(range(1, 17),
      |      i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0, 6) AS est
      |  FROM cand
      |  JOIN sigs sa ON sa.doc_id = da
      |  JOIN sigs sb ON sb.doc_id = db),
      |d0 AS (
      |  SELECT da AS doc_id FROM sim WHERE est >= $DupThreshold
      |  UNION ALL
      |  SELECT db AS doc_id FROM sim WHERE est >= $DupThreshold),
      |deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM d0 GROUP BY doc_id)
      |SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(doc_id) AS BIGINT) AS min_doc
      |FROM deg GROUP BY degree ORDER BY degree""").stripMargin) { (s, d) =>
    val sigs = TextOps.minhashSigs(s, d)
    val cand = TextOps.minhashCandidates(s, d)
    val pairsRaw = cand
      .join(sigs.as("sa"), col("da") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"), TextOps.estJaccard.as("est"))
      .filter(col("est") >= DupThreshold)
    val pairs = graft.Reliable.checkpoint(pairsRaw) // pair-sized; feeds both union branches
    pairs.select(col("da").as("doc_id"))
      .unionAll(pairs.select(col("db").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("degree"))
  }

  // ---------------------------------------------------------------- q199

  private val SemTau = 0.4

  /** The capped cluster-confined sweep's oracle tail over an
    * `ev(vec_id, c_id, v)` CTE — ONE definition consumed by q199, q200
    * and q202 (their sweeps differ only in how `ev` is assigned), so
    * the three gates cannot drift from each other, and the membership
    * cap is the IDENTICAL [[LshGuard.capCteSql]] recipe [[dominatedBy]]
    * applies on the Spark side (same key, same vec_id rank order).
    */
  private def sweepOracleTailSql: String =
    s""",
       |${LshGuard.capCteSql("evc", "ev", Seq("vec_id", "c_id", "v"), Seq("c_id"), "vec_id")},
       |p AS (
       |  SELECT x.c_id, x.vec_id AS da, y.vec_id AS db,
       |    ROUND(list_dot_product(x.v, y.v)
       |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS sim
       |  FROM evc x JOIN evc y ON x.c_id = y.c_id AND x.vec_id < y.vec_id
       |  WHERE list_dot_product(x.v, y.v)
       |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= $SemTau)
       |SELECT db AS vec_id, CAST(c_id AS INTEGER) AS c_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_dominating,
       |  MAX(sim) AS max_sim, CAST(MIN(da) AS BIGINT) AS dominator
       |FROM p GROUP BY db, c_id ORDER BY vec_id""".stripMargin

  /** q199: SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023, re-expressed) —
    * cluster the embedding space with the session-shared Lloyd centroids
    * ([[Quantizer.ivfCentroids]], the SAME trained table the IVF serving
    * family uses), then mark every vector whose cosine to a LOWER-id
    * vector in the SAME cluster reaches τ = 0.4. Deterministic variant
    * of the paper's greedy sweep: "dominated by an earlier same-cluster
    * member" (the paper processes in arbitrary order; id order makes the
    * removal set a pure function of the data). Pairing is CLUSTER-
    * CONFINED — the equi-join on the cluster id is the SemDeDup scaling
    * trick itself: k grows with the corpus so per-cluster membership
    * (and the per-cluster quadratic) stays constant; never an all-pairs
    * join. The oracle replays Lloyd + cosine assignment + the confined
    * pair sweep from the raw embeddings. NOTE this registered form
    * reuses the session-shared FIXED k=16 centroids — the PRODUCTION
    * form is the corpus-sized [[semanticDedupScaled]], hash-gated at
    * explicit sizing by q200 ([[semanticDedupScaledGate]]).
    */
  /** Nearest-centroid cosine assignment (6-decimal affinity, cid
    * tie-break — the same rank the ANN family's ROW_NUMBER recipe
    * picks), keeping the vector for the downstream sweep. Computed as a
    * min-over-struct aggregate ([[Quantizer.assignFull]]'s trick), NOT a
    * per-vec_id window: the n·k affinity rows partial-aggregate map-side
    * down to one row per vector BEFORE any exchange — at scaled k the
    * window form shuffled all n·k rows (measured 1.6× slower end-to-end
    * at 200k×448, BENCH.md round 12).
    */
  private[graft] def assignCosine(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"),
        struct((round(CosineSim.cosine(col("v"), col("cv")), 6) * -1).as("nca"),
          col("cid")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(min(col("dc")).as("m"), first(col("v")).as("v")) // v constant per vec_id
      .select(col("vec_id"), col("m.cid").cast("int").as("c_id"), col("v"),
        // negation of the struct-min's negated 6-decimal cosine is exact
        (col("m.nca") * -1).as("aff"))

  /** The cluster-confined dominance sweep over `assigned(vec_id, c_id,
    * v)`: one row per vector whose cosine to a LOWER-id same-cluster
    * member reaches `tau`.
    *
    * HOT-CLUSTER GUARD (round 14): cluster membership is rank-capped at
    * `cap` (vec_id order, [[LshGuard.capBuckets]]) BEFORE the pair
    * join. The scaled-k sizing bounds EXPECTED occupancy only — on the
    * corpora semantic dedup exists for (duplicate-heavy, mode-collapsed
    * embeddings) Lloyd concentrates mass in few clusters and the
    * confined join goes quadratic on the hot cluster regardless of k
    * (all-identical vectors ⇒ n²/2 pairs at ANY cluster count) — the
    * exact failure mode the LSH band joins cap (round-8 rehearsal:
    * 0.79 → 58 s uncapped). Under the cap a hot cluster contributes at
    * most cap·(cap−1)/2 pairs; members past the cap neither dominate
    * nor are swept, and the dropped-membership count is observed and
    * logged per query (a binding cap always leaves a log line — never
    * silent truncation). Exact-duplicate detection INSIDE the cap is
    * intact: identical vectors share a cluster and the lowest-id member
    * (rank 1, always retained) dominates every other retained copy.
    * Every registered oracle (q199/q200/q202) applies the IDENTICAL cap
    * via [[LshGuard.capCteSql]]; at the test SFs no cluster approaches
    * it, so capped ≡ uncapped there (SemanticGuardSpec pins that
    * equality AND the degenerate-corpus bound).
    */
  private[graft] def dominatedBy(assigned: DataFrame, tau: Double,
      cap: Int = LshGuard.BucketCap, tag: String = "semsweep"): DataFrame = {
    val capped = LshGuard.capBuckets(assigned.sparkSession, assigned,
      Seq("c_id"), "vec_id", cap, tag)
    val a = capped.select(col("vec_id").as("da"), col("c_id"), col("v").as("va"))
    val b = capped.select(col("vec_id").as("db"), col("c_id").as("c2"), col("v").as("vb"))
    a.join(b, col("c_id") === col("c2") && col("da") < col("db"))
      .withColumn("sim_raw", CosineSim.cosine(col("va"), col("vb")))
      .filter(col("sim_raw") >= tau)
      .groupBy(col("db").as("vec_id"), col("c_id"))
      .agg(count(lit(1)).as("n_dominating"),
        max(round(col("sim_raw"), 6)).as("max_sim"),
        min(col("da")).as("dominator"))
  }

  /** The scaled-semdedup chain at EXPLICIT sizing — the one code path
    * behind both [[semanticDedupScaled]] (production √n sizing) and the
    * q200 gate (explicit non-degenerate test sizing), so the gated
    * artifact and the production call are the same functions end to
    * end: md5-prefix hash sample → seeded Lloyd
    * ([[AnnIndex.scaledSampleCentroids]], q160's oracle-gated trainer)
    * → min-over-struct cosine assignment ([[assignCosine]]) → cluster-
    * confined dominance sweep ([[dominatedBy]]).
    */
  private[graft] def semanticDedupScaledAt(s: org.apache.spark.sql.SparkSession,
      d: String, k: Int, perList: Long, tau: Double): DataFrame = {
    // corpus-sized materializations ride graft.Reliable: executor-local
    // by default, reliable under spark.graft.checkpointDir (a lost
    // executor otherwise kills the job at exactly the corpus sizes this
    // scaled path exists for)
    val e = graft.Reliable.checkpoint(Tables.vectors(s, d))
    val cents = AnnIndex.scaledSampleCentroids(e, e.count(), k, perList)
    dominatedBy(graft.Reliable.checkpoint(assignCosine(e, cents)), tau)
      .orderBy(col("vec_id"))
  }

  /** The q199 sweep at PRODUCTION sizing — the scale path the q199
    * Scaladoc/BENCH.md caveat names: k = clamp(16..65536, ceil(√n))
    * clusters trained on [[AnnIndex.scaledSampleCentroids]]'s
    * deterministic md5 hash sample (q160's oracle-gated recipe), so
    * per-cluster membership — and the confined quadratic — stays
    * CONSTANT as the corpus grows. The SAME chain is hash-gated by
    * [[semanticDedupScaledGate]] (q200) at explicit sizing;
    * `IndexBench` section `semdedup` measures fixed-16 vs this at
    * 1× and 10×.
    */
  def semanticDedupScaled(s: org.apache.spark.sql.SparkSession, d: String,
      tau: Double = SemTau): DataFrame = {
    semanticDedupScaledAt(s, d, AnnIndex.scaledLists(Tables.vectors(s, d).count()),
      perList = 50L, tau)
  }

  /** Semantic dedup bucketed by a PERSISTED IVF index's lists — the
    * production recommendation BENCH.md's round-12 semdedup table
    * closes on: at real corpus scale the serving index
    * ([[AnnIndex.writeScaled]]'s √n-list layout) has ALREADY paid the
    * Lloyd training and the n·k nearest-list assignment, so the
    * marginal cost of semantic dedup is ONLY the cluster-confined
    * sweep — occupancy-constant (n/√n per list), the same shape q141
    * proved for near-dup banding. Reads the index's `assigned` table
    * through [[AnnIndex.load]] (tombstone-filtered, so deleted vectors
    * never dominate anyone) and joins the corpus vectors back by id;
    * list confinement is an equi-join, never all-pairs. IndexBench's
    * `semdedup` section measures this against the self-contained
    * fixed-16 (q199) and scaled-√n (q200-gated) forms.
    */
  def semanticDedupFromIndex(s: org.apache.spark.sql.SparkSession, d: String,
      indexDir: String, tau: Double = SemTau): DataFrame = {
    val e = Tables.vectors(s, d)
    val asg = AnnIndex.load(s, indexDir).assigned.select(col("vec_id"), col("c_id"))
    dominatedBy(e.join(asg, Seq("vec_id")).select(col("vec_id"), col("c_id"), col("v")),
      tau).orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q200

  /** q200: the SCALE-SAFE semantic dedup under the hard gate — the r12
    * verdict's top item. q199 gates the fixed-k=16 SemDeDup form whose
    * per-cluster quadratic grows with the corpus; THIS query runs
    * [[semanticDedupScaledAt]] — the exact production chain behind
    * [[semanticDedupScaled]] — at explicit non-degenerate sizing
    * (k=32 ≠ the static 16; perList=2 so the md5 sample filter rejects
    * vectors at every SF instead of sampling everyone, q160's gated
    * regime). The oracle replays the whole chain from the raw
    * embeddings: the shared md5-prefix sample rule + dense renumber,
    * the seeded 2-pass Lloyd over the SAMPLE, the full-corpus cosine
    * assignment, and the cluster-confined dominance sweep — so
    * sampling, training, assignment AND the sweep are all value-gated
    * on the scaled path, not just its toy-k twin.
    */
  val semanticDedupScaledGate = Q(
    "q200_semantic_dedup_scaled",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |prm AS (SELECT GREATEST(1, COUNT(*) // 64) AS m FROM e),
       |samp AS (
       |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS vec_id, v
       |  FROM e, prm
       |  WHERE ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 7))::BIGINT % m = 0),
       |${Quantizer.centroidTrainCtes(32, "samp")},
       |${Quantizer.ivfProbeCtes(1, 1)},
       |ev AS (SELECT a.vec_id, a.c_id, e.v FROM assigned a JOIN e USING (vec_id))""" +
      sweepOracleTailSql).stripMargin) { (s, d) =>
    semanticDedupScaledAt(s, d, k = 32, perList = 2L, tau = SemTau)
  }

  val semanticDedup = Q(
    "q199_semantic_dedup",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16, "e")},
       |${Quantizer.ivfProbeCtes(1, 1)},
       |ev AS (SELECT a.vec_id, a.c_id, e.v FROM assigned a JOIN e USING (vec_id))""" +
      sweepOracleTailSql).stripMargin) { (s, d) =>
    val e = Tables.vectors(s, d)
    // reduced (id, cluster, vec); feeds both pair sides — Reliable so a
    // conf-bearing cluster survives executor loss (default unchanged)
    val assigned = graft.Reliable.checkpoint(
      assignCosine(e, Quantizer.ivfCentroids(s, d)))
    dominatedBy(assigned, SemTau).orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q202

  /** One persisted fixed-16 AnnIndex per (session, corpus), built by the
    * production [[AnnIndex.write]] on a [[graft.TempDirs]] dir — shared
    * so q202's steady reps measure the SERVE path, not eight rebuilds.
    */
  private[ops] def sharedFixedIndexDir(s: org.apache.spark.sql.SparkSession,
      d: String): String = {
    import s.implicits._
    graft.Shared.materialized(s, s"annix-fixed16-$d") {
      val tmp = graft.TempDirs.create("graft-fixedix")
      AnnIndex.write(s, d, tmp)
      Seq(tmp).toDF("dir")
    }.collect()(0).getString(0)
  }

  /** q202: [[semanticDedupFromIndex]] — the MEASURED production path
    * (BENCH.md round 13: 5/10.7/25.4 s marginal at 200k/500k/1M, 25-55×
    * under the self-contained forms) — under the hard gate, through the
    * REAL persisted lifecycle: [[AnnIndex.write]] lays the index out on
    * a temp dir (centroids = the session-shared Lloyd table, assignment
    * = the one 6-decimal-cosine rank recipe), then the sweep reads the
    * index's tombstone-filtered `assigned` table back and joins corpus
    * vectors by id. The ORACLE is q199's chain verbatim — it replays
    * training + assignment + sweep from raw embeddings and never sees
    * the index — so hash equality proves persisted-serve ≡ from-scratch
    * for the whole dedup surface (a wrong tombstone filter, a drifted
    * persisted assignment, or a stale centroid table all surface as a
    * row/hash mismatch).
    */
  val semanticDedupServe = Q(
    "q202_semantic_dedup_serve",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16, "e")},
       |${Quantizer.ivfProbeCtes(1, 1)},
       |ev AS (SELECT a.vec_id, a.c_id, e.v FROM assigned a JOIN e USING (vec_id))""" +
      sweepOracleTailSql).stripMargin) { (s, d) =>
    semanticDedupFromIndex(s, d, sharedFixedIndexDir(s, d), SemTau)
  }

  // ---------------------------------------------------------------- q203

  /** Which vectors of `batch(vec_id, v)` are semantically dominated by
    * the EXISTING corpus behind a persisted index — the INTAKE form of
    * semantic dedup (the embedding-space analog of
    * [[DedupIndex.queryBatch]], and the third stage a semantic-aware
    * [[IngestionGate]] would add): assign each batch vector to its
    * nearest persisted centroid (the index's FROZEN quantizer — the
    * same append-time contract [[AnnIndex.append]] keeps), then ONE
    * batch×members cluster-confined join against the index's
    * tombstone-filtered membership. Cost: |batch|·k assignment + the
    * batch's cluster slices — never a corpus rescan, never batch×corpus.
    * `corpusVecs` supplies the members' raw vectors by id (the index
    * stores ids + codes; exact cosines need the vector store, read
    * shortlist-style by id).
    *
    * HOT-CLUSTER GUARD: corpus membership is rank-capped at `cap` per
    * cluster (mv order, [[LshGuard.capBuckets]] — see [[dominatedBy]]'s
    * guard note) before the batch×members join, so a mode-collapsed
    * corpus cluster bounds the join at |batch slice|·cap instead of
    * |batch slice|·|hot cluster|; drops are observed + logged, and the
    * q203 oracle applies the identical cap. The cap window runs over
    * the index's SKINNY `assigned` table (two longs per member) BEFORE
    * the vector store joins in, so the only corpus-sized exchange this
    * guard adds moves id pairs, never vectors — and it mirrors the
    * oracle's `mcap` (a rank over the assignment CTE) exactly. The
    * batch side is the caller-bounded intake micro-batch, not capped.
    */
  def semanticDedupBatch(s: org.apache.spark.sql.SparkSession,
      indexDir: String, batch: DataFrame, corpusVecs: DataFrame,
      tau: Double = SemTau, cap: Int = LshGuard.BucketCap): DataFrame = {
    val ix = AnnIndex.load(s, indexDir)
    val basg = assignCosine(batch, ix.centroids.select(col("cid"), col("cv")))
      .select(col("vec_id").as("bv"), col("c_id"), col("v").as("vb"))
    val cappedAsg = LshGuard.capBuckets(s,
      ix.assigned.select(col("vec_id").as("mv"), col("c_id").as("mc")),
      Seq("mc"), "mv", cap, tag = "semintake")
    val members = corpusVecs.select(col("vec_id").as("mv"), col("v").as("vm"))
      .join(cappedAsg, Seq("mv"))
    basg.join(members, col("c_id") === col("mc"))
      .withColumn("sim_raw", CosineSim.cosine(col("vb"), col("vm")))
      .filter(col("sim_raw") >= tau)
      .groupBy(col("bv").as("vec_id"), col("c_id"))
      .agg(count(lit(1)).as("n_dominating"),
        max(round(col("sim_raw"), 6)).as("max_sim"),
        min(col("mv")).as("dominator"))
  }

  /** Cosine-affinity assignment CTE pair for a source CTE `src` against
    * `cent(c_id, centv)` — the q203 oracle assigns corpus AND batch with
    * the same rank recipe [[Quantizer.ivfProbeCtes]] uses; generated
    * here (not copied) so the two sides can't drift.
    */
  private[ops] def assignCteSql(name: String, src: String): String =
    s"""${name}_aff AS (
       |  SELECT $src.vec_id, c_id,
       |    ROW_NUMBER() OVER (PARTITION BY $src.vec_id
       |      ORDER BY ROUND(list_dot_product(v, centv)
       |        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))), 6)
       |        DESC, c_id) AS crank
       |  FROM $src, cent),
       |$name AS (SELECT vec_id, c_id FROM ${name}_aff WHERE crank = 1)""".stripMargin

  /** q203: [[semanticDedupBatch]] under the hard gate, through the REAL
    * persisted lifecycle. Deterministic fixture: the corpus is
    * vec_id % 10 ≠ 7 (the index is built over it by the production
    * [[AnnIndex.writeVectors]] — frozen quantizers trained on the
    * corpus alone), the intake batch is vec_id % 10 = 7. The oracle
    * replays corpus-only training, assigns BOTH sides with the shared
    * affinity rank, and sweeps batch×corpus within clusters — it never
    * sees the index, so a drifted persisted assignment, a leaked batch
    * vector in training, or a wrong membership filter all surface as a
    * hash mismatch. A batch vector with no cluster-mate at τ is absent
    * identically in both engines (it would be ADMITTED by the gate).
    */
  val semanticDedupIntake = Q(
    "q203_semantic_dedup_intake",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id, v FROM e WHERE vec_id % 10 != 7),
       |bt AS (SELECT vec_id, v FROM e WHERE vec_id % 10 = 7),
       |${Quantizer.centroidTrainCtes(16, "c")},
       |cent AS (SELECT cid AS c_id, cv AS centv FROM ${Quantizer.centFinal}),
       |${assignCteSql("casg", "c")},
       |${LshGuard.capCteSql("mcap", "casg", Seq("vec_id", "c_id"), Seq("c_id"), "vec_id")},
       |${assignCteSql("basg", "bt")},
       |p AS (
       |  SELECT b.vec_id AS bv, b.c_id, m.vec_id AS mv,
       |    ROUND(list_dot_product(x.v, y.v)
       |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS sim
       |  FROM basg b
       |  JOIN mcap m ON b.c_id = m.c_id
       |  JOIN bt x ON x.vec_id = b.vec_id
       |  JOIN c y ON y.vec_id = m.vec_id
       |  WHERE list_dot_product(x.v, y.v)
       |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= $SemTau)
       |SELECT bv AS vec_id, CAST(c_id AS INTEGER) AS c_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_dominating,
       |  MAX(sim) AS max_sim, CAST(MIN(mv) AS BIGINT) AS dominator
       |FROM p GROUP BY bv, c_id ORDER BY vec_id""").stripMargin) { (s, d) =>
    import s.implicits._
    val e = Tables.vectors(s, d)
    val corpus = e.filter(col("vec_id") % 10 =!= 7)
    val batch = e.filter(col("vec_id") % 10 === 7)
    val dir = graft.Shared.materialized(s, s"annix-corpus-v-$d") {
      val tmp = graft.TempDirs.create("graft-corpusix")
      AnnIndex.writeVectors(s, corpus, tmp)
      Seq(tmp).toDF("dir")
    }.collect()(0).getString(0)
    semanticDedupBatch(s, dir, batch, corpus, SemTau).orderBy(col("vec_id"))
  }

  // ---------------------------------------------------------------- q201

  /** q201: ANTI-PROTOTYPE AUDIT (SSL-prototypes curation, the SemDeDup
    * sibling from the same self-supervised-curation family): the 3
    * LEAST prototypical vectors of every cluster — lowest 6-decimal
    * cosine affinity to their own assigned centroid, vec_id tie-break —
    * the members an embedding-space quality pass reviews or drops
    * first (far-from-centroid ≈ off-distribution or mis-embedded).
    * Rides the SAME session-shared Lloyd centroids and min-over-struct
    * assignment as q199 ([[assignCosine]], which carries the affinity
    * out of the argmin for free); the bottom-3 is a rank-filter window
    * PARTITIONED BY CLUSTER — bounded by cluster occupancy (constant
    * under the scaled-k sizing q200 gates) and rewritten to a bounded
    * heap by the TopK rule, which since round 14 EMITS the selected
    * rank itself (the heap drains in rank order), so keeping `rnk` in
    * the output no longer forces the full per-cluster sort — the
    * int-rank filter runs below, the BIGINT cast above (TopKSpec pins
    * this exact idiom's plan). Rank selection is integer-exact; the
    * affinity is the shared 6-decimal rounding — both engines pick
    * identical rows.
    */
  val antiPrototypes = Q(
    "q201_anti_prototypes",
    (s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${Quantizer.centroidTrainCtes(16, "e")},
       |cent AS (SELECT cid AS c_id, cv AS centv FROM ${Quantizer.centFinal}),
       |aff AS (
       |  SELECT e.vec_id, c_id,
       |    ROUND(list_dot_product(v, centv)
       |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))), 6) AS ca,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ROUND(list_dot_product(v, centv)
       |        / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centv, centv))), 6)
       |        DESC, c_id) AS crank
       |  FROM e, cent),
       |asg AS (SELECT vec_id, c_id, ca FROM aff WHERE crank = 1),
       |r AS (
       |  SELECT c_id, vec_id, ca,
       |    ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY ca, vec_id) AS rnk
       |  FROM asg)
       |SELECT CAST(c_id AS INTEGER) AS c_id, CAST(rnk AS BIGINT) AS rnk,
       |  vec_id, ca AS aff
       |FROM r WHERE rnk <= 3 ORDER BY c_id, rnk""").stripMargin) { (s, d) =>
    val a = assignCosine(Tables.vectors(s, d), Quantizer.ivfCentroids(s, d))
    val w = Window.partitionBy(col("c_id")).orderBy(col("aff"), col("vec_id"))
    // int rank below the filter, BIGINT cast above: the TopK rewrite's
    // Project(Filter(Window)) pattern with the rank kept — heap-emitted
    a.withColumn("rnk0", row_number().over(w))
      .filter(col("rnk0") <= 3)
      .select(col("c_id"), col("rnk0").cast("long").as("rnk"), col("vec_id"), col("aff"))
      .orderBy(col("c_id"), col("rnk"))
  }

  val specs: Seq[Q] = Seq(lshVerify, boilerplate, corpusPurge,
    simhashNeardup, bloomPrefilter, pagerank, dupSpanFraction, containment,
    clusterKeepBest, semdedupPrune, exactSubstrScrub, boilerplateSpans,
    crossSourceDups, dupDegrees, semanticDedupScaledGate, semanticDedup,
    semanticDedupServe, semanticDedupIntake, antiPrototypes)
}
