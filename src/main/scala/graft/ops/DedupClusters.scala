package graft.ops

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate CLUSTERS: connected components over the MinHash-LSH
  * candidate-pair graph (q32), so each document resolves to one cluster
  * representative — the final step of a dedup pipeline (keep the rep,
  * drop the rest).
  *
  * Implementation is iterative label propagation: every doc starts
  * labeled with itself; each round, labels flow across edges and every
  * node keeps the minimum label seen; converged when no label changes.
  * This is the standard large-scale connected-components shape (driver
  * only orchestrates rounds — O(diameter) of them, each a join+groupBy;
  * all data stays distributed). The oracle computes the same components
  * with a recursive CTE.
  */
object DedupClusters {

  /** Minimum label reachable from each node of an undirected edge list.
    *
    * Per-round materialization + convergence checks would pay one Spark
    * job of fixed overhead per hop; instead `roundsPerBatch` propagation
    * hops chain LAZILY into one job, then the batch materializes
    * ([[graft.Reliable.checkpoint]] truncates the iterative lineage —
    * executor-local blocks by default, reliable `checkpoint()` when
    * `spark.graft.checkpointDir` is set) and convergence is checked
    * once. Covers components of diameter roundsPerBatch×maxBatches.
    *
    * Two scale-aware choices:
    *  - The candidate-pair graph is orders of magnitude smaller than the
    *    corpus that produced it, so the iteration's shuffle parallelism is
    *    sized to the EDGE COUNT (~2M edges per partition), not inherited
    *    from the corpus-sized session default — on a 946-edge graph that
    *    turns 32-task micro-stages into 1-task stages; on a billion-edge
    *    graph it keeps full parallelism.
    *  - Convergence is detected by comparing sum(label) between batches:
    *    labels are monotonically non-increasing under min-propagation, so
    *    the exact decimal sum strictly decreases until the fixpoint — one
    *    tiny aggregate per batch instead of a self-join + count. (Node ids
    *    must therefore be numeric; doc_ids here are BIGINT.)
    */
  def connectedComponents(edges: DataFrame, maxBatches: Int = 6,
      roundsPerBatch: Int = 4): DataFrame = {
    val spark = edges.sparkSession
    val symWide = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .transform(graft.Reliable.checkpoint)
    val defaultParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = math.max(1, math.min(defaultParts.toLong,
      symWide.count() / 2000000L + 1L)).toInt
    // Partitioning is pinned per-plan with explicit hash repartition on the
    // join/agg keys — NOT by mutating the session-global shuffle.partitions
    // conf, which would silently leak the tiny partition count into any
    // query planned concurrently on the same session. The join reuses
    // sym's hash(src) and labels' hash(node) layouts (same key, any
    // partition count satisfies the clustered distribution → no extra
    // exchange); each round's only shuffle is the one repartition feeding
    // the min-label aggregate.
    val sym = symWide.repartition(parts, col("src")).transform(graft.Reliable.checkpoint)
    // staging relief (round 16 — the 100× 8g memory knee): each
    // checkpoint below supersedes exactly one predecessor, so the
    // predecessor's blocks are released as soon as the successor's
    // exist — the build's resident set is ONE sym + two label frames
    // instead of every batch since the start
    graft.Reliable.release(symWide)
    val nodes = sym.select(col("src").as("node")).distinct()
    def flow(l: DataFrame): DataFrame = sym
      .join(l, sym("src") === l("node"))
      .select(col("dst").as("node"), col("label"))
      .union(l.select(col("node"), col("label")))
      .repartition(parts, col("node"))
      .groupBy(col("node"))
      .agg(min(col("label")).as("label"))
    var labels = nodes.withColumn("label", col("node"))
      .repartition(parts, col("node")).transform(graft.Reliable.checkpoint)
    var prevSum: Option[java.math.BigDecimal] = None
    var converged = false
    var i = 0
    while (!converged && i < maxBatches) {
      val batch = (1 to roundsPerBatch).foldLeft(labels)((l, _) => flow(l))
        .transform(graft.Reliable.checkpoint)
      val labelSum = batch.agg(sum(col("label").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0)
      converged = prevSum.contains(labelSum)
      prevSum = Some(labelSum)
      graft.Reliable.release(labels) // superseded by `batch`
      labels = batch
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge after ${maxBatches * roundsPerBatch} " +
          "propagation rounds — a component has a larger diameter; raise maxBatches")
    graft.Reliable.release(sym) // the converged labels no longer read it
    labels
  }

  /** Shared (node, label) cluster assignment over the LSH candidate
    * graph — computed once per session and reused by q57 (report) and
    * q76 (corpus purge).
    */
  def clusterLabels(s: SparkSession, d: String): DataFrame =
    graft.Shared.materialized(s, s"cc-labels@$d") {
      connectedComponents(
        TextOps.minhashCandidates(s, d)
          .select(col("da").as("src"), col("db").as("dst")))
    }

  /** Cluster assignment for every doc that appears in an LSH candidate
    * pair: (doc_id, cluster_rep = min doc_id in its component).
    */
  val dedupClusters = Q(
    "q57_dedup_clusters",
    // The edge list is q32's candidate pairs; the oracle recomputes them
    // and resolves components with the shared recursive-CTE preamble.
    (TextOps.ccOracleSql +
      """
      |SELECT node AS doc_id, cluster AS cluster_rep
      |FROM cl
      |ORDER BY doc_id""").stripMargin) { (s, d) =>
    clusterLabels(s, d)
      .select(col("node").as("doc_id"), col("label").as("cluster_rep"))
      .orderBy(col("doc_id"))
  }

  /** Degree-orient an id-oriented (src < dst) distinct edge list: each
    * edge points from its lower-(degree, id) endpoint to the higher —
    * the classical trick that bounds every node's OUT-degree by
    * O(sqrt(m)) on any graph, because a node of degree d only keeps
    * out-edges to neighbors of degree ≥ d, and there can be at most
    * 2m/d such neighbors (so out-degree ≤ min(d, 2m/d) ≤ sqrt(2m)).
    * Output carries (src, dst, ddeg = dst's degree) so wedge
    * enumeration can order its two endpoints in orientation order
    * without re-joining degrees.
    */
  private[graft] def orientEdges(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    orientEdges(edges,
      sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree")))
  }

  /** [[orientEdges]] with the degree table supplied — so a caller that
    * already computed it (triangleCounts needs degrees in its output
    * too) doesn't pay the symmetrize+distinct+groupBy shuffle twice.
    */
  private[graft] def orientEdges(edges: DataFrame, deg: DataFrame): DataFrame = {
    edges
      .join(deg.select(col("node"), col("degree").as("sdeg")),
        col("src") === col("node")).drop("node")
      .join(deg.select(col("node").as("n2"), col("degree").as("tdeg")),
        col("dst") === col("n2")).drop("n2")
      // src < dst by id, so a degree tie keeps the id orientation
      .select(
        when(col("sdeg") <= col("tdeg"), col("src")).otherwise(col("dst")).as("src"),
        when(col("sdeg") <= col("tdeg"), col("dst")).otherwise(col("src")).as("dst"),
        when(col("sdeg") <= col("tdeg"), col("tdeg")).otherwise(col("sdeg")).as("ddeg"))
  }

  /** Open wedges of a degree-oriented edge list: pairs of out-edges
    * from one center, with the two endpoints in orientation order
    * ((deg, id) lexicographic — id ties broken the same way
    * [[orientEdges]] breaks them). Each triangle yields exactly ONE
    * wedge (at its lowest-(deg, id) corner) whose closing edge is
    * itself oriented, so the census closes wedges with one more
    * equi-join. Per-key fan-out of the self-join is C(out-degree, 2) —
    * sqrt(m)-bounded by orientation, where the unoriented form is
    * quadratic in the HOT node's full degree (one viral template
    * duplicated n times would fan n²).
    */
  private[graft] def wedges(oriented: DataFrame): DataFrame =
    oriented.as("e1")
      .join(oriented.as("e2"),
        col("e2.src") === col("e1.src") &&
          (col("e1.ddeg") < col("e2.ddeg") ||
            (col("e1.ddeg") === col("e2.ddeg") && col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))

  /** Per-node (doc_id, degree, n_triangles) census of an id-oriented
    * edge list, via degree-oriented wedge closing.
    */
  private[graft] def triangleCounts(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    val oriented = orientEdges(edges, deg)
    val tri = wedges(oriented)
      .join(oriented.select(col("src").as("b2"), col("dst").as("c2")),
        col("b2") === col("b") && col("c2") === col("c"))
      .select(col("a"), col("b"), col("c"))
    val tcnt = tri.select(col("a").as("node"))
      .union(tri.select(col("b").as("node")))
      .union(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(tcnt, Seq("node"), "left_outer")
      .select(col("node").as("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Triangle census of the LSH candidate graph — the graph-analytics
    * signal the CC labels don't give: a triangle is a MUTUALLY-similar
    * triple (dense near-dup group), while a high-degree node without
    * triangles is the chain/hub shape LSH false positives produce.
    * Implementation is the distributed triangle join on DEGREE-ORIENTED
    * edges ([[orientEdges]]/[[wedges]]): wedge fan-out at every node is
    * bounded by its min-side out-degree (≤ sqrt(2m)) instead of the
    * hot node's full degree — the refinement that survives one viral
    * template duplicated n times (id-orientation would fan n² wedges
    * on that key; DedupClustersSpec pins the bound on a star graph).
    * Every step stays an equi-join on edge keys — no neighborhood
    * enumeration in one task. Edges come from the SHARED candidate
    * table (q32/q57's base — computed once per session).
    */
  val graphTriangles = Q(
    "q111_graph_triangles",
    (TextOps.lshOracleSql() +
      """,
      |edges AS (
      |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
      |  FROM bcap a JOIN bcap b
      |    ON a.b = b.b AND a.s1 = b.s1 AND a.s2 = b.s2 AND a.doc_id < b.doc_id),
      |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
      |deg AS (SELECT src AS node, COUNT(*) AS degree FROM sym GROUP BY src),
      |tri AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM edges e1
      |  JOIN edges e2 ON e2.src = e1.dst
      |  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |tcnt AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
      |    SELECT a AS node FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) u
      |  GROUP BY node)
      |SELECT d.node AS doc_id, CAST(d.degree AS BIGINT) AS degree,
      |  COALESCE(t.n_triangles, 0) AS n_triangles
      |FROM deg d LEFT JOIN tcnt t ON t.node = d.node
      |ORDER BY doc_id""").stripMargin) { (s, d) =>
    triangleCounts(
      TextOps.minhashCandidates(s, d)
        .select(col("da").as("src"), col("db").as("dst")))
      .orderBy(col("doc_id"))
  }

  val specs: Seq[Q] = Seq(dedupClusters, graphTriangles)
}
