package graft.clustering

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rows used with case-class Encoders inside [[Clusterers]] — must be
  * public top-level classes or Catalyst's generated (de)serializers
  * cannot access them.
  */
case class CompEdge(comp: Long, id1: Long, id2: Long, score: Double)
case class Membership(id: Long, cluster: Long)

/** Connected components over correspondence edges — the Spark
  * re-expression of PyDI/entitymatching/post_clustering/
  * connected_components.py:19 (which delegates to networkx on one node).
  *
  * Implementation: alternating large-star / small-star contraction
  * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
  * the standard O(log n)-round distributed CC. Each round is a groupBy
  * min + self-join (single shuffle each); no per-node adjacency lists are
  * ever collected, so mega-hubs stay partial-aggregable and AQE handles
  * skew. A plain label-propagation loop would need O(diameter) rounds —
  * this needs O(log n) regardless of chain length.
  */
object Clusterers {

  /** Cluster-size distribution (reference entitymatching/evaluation.py:
    * 1085 create_cluster_size_distribution): connected components over
    * the correspondence graph, then a two-level count — size per
    * cluster, frequency per size. `percentage` is a RAW IEEE ratio of
    * exact longs (identical bits in any engine); round(x, 5) on such
    * ratios can land on decimal midpoints and diverge cross-engine.
    */
  def clusterSizeDistribution(edges: DataFrame): DataFrame = {
    val labels = connectedComponents(edges)
    val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
    val dist = sizes.groupBy(col("cluster_size")).agg(count(lit(1)).as("frequency"))
    val tot = dist.agg(sum(col("frequency")).as("_tot"))
    dist.crossJoin(broadcast(tot))
      .select(col("cluster_size"), col("frequency"),
        (col("frequency") * 100.0 / col("_tot")).as("percentage"))
  }

  /** Cluster consistency report (evaluation.py:656
    * create_cluster_consistency_report): per CC cluster — size, edge
    * count vs complete-graph edge count (transitivity), and similarity
    * stats. Scores aggregate as exact 1e5-scaled integers so sums are
    * order-independent across shuffles; emitted ratios are raw IEEE
    * divisions of exact values (same bits in any engine). One CC run +
    * two aggregations — no per-cluster subgraph materialization.
    */
  def clusterConsistencyReport(scored: DataFrame): DataFrame = {
    val labels = connectedComponents(scored.select("id1", "id2"))
    val e5 = round(col("score") * 100000).cast("long")
    val expected = ((col("cluster_size") * (col("cluster_size") - 1)) / 2).cast("long")
    val edgeStats = scored
      .join(labels.select(col("id").as("id1"), col("cluster")), "id1")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("total_edges"), sum(e5).as("_s5"),
        min(e5).as("_m5"), max(e5).as("_x5"))
    labels.groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .join(edgeStats, Seq("cluster"))
      .select(
        col("cluster").as("cluster_id"), col("cluster_size"), col("total_edges"),
        expected.as("expected_edges"),
        (col("total_edges").cast("double") / greatest(expected, lit(1L)))
          .as("consistency_ratio"),
        (col("total_edges") >= expected).as("is_consistent"),
        (col("_s5").cast("double") / (col("total_edges") * 100000.0)).as("avg_similarity"),
        (col("_m5").cast("double") / 100000.0).as("min_similarity"),
        (col("_x5").cast("double") / 100000.0).as("max_similarity"))
  }

  /** edges (id1, id2) → one row per non-isolated node: (id, cluster)
    * where cluster is the minimum node id in the component.
    *
    * The iterative fixpoint runs on RDDs, not Datasets, deliberately:
    * a Dataset loop re-analyzes, re-optimizes and re-Janino-compiles a
    * fresh plan every round (the round-4 bench spent more time in
    * per-round driver overhead than in the actual shuffles), and its
    * plan TREE doubles per round without checkpoint truncation. The RDD
    * DAG shares nodes instead of copying subtrees, so lineage stays
    * linear with no checkpointing; one `HashPartitioner` is reused
    * across every round so `reduceByKey`/`join` inside a star are
    * narrow — each round is exactly three shuffles (large-star regroup,
    * small-star regroup, dedup) regardless of graph size, still the
    * O(log n)-round Kiveris et al. contraction that scales to 100 TB.
    */
  def connectedComponents(edgesIn: DataFrame, maxIter: Int = 25): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val raw = edgesIn
      .select(col("id1").cast("long").as("u"), col("id2").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .as[(Long, Long)].rdd
    // at most the session's shuffle partitions: a match frame that
    // inherits a many-file scan's partitioning would otherwise run
    // every round with one task per input file, however few the edges
    val part = new org.apache.spark.HashPartitioner(math.max(1,
      math.min(raw.getNumPartitions, spark.conf.get("spark.sql.shuffle.partitions").toInt)))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    // (node-keyed min) with the shared partitioner; input must already be
    // partitioned by `part` so reduceByKey and join stay narrow.
    def largeStar(e: org.apache.spark.rdd.RDD[(Long, Long)]) = {
      val sym = e.flatMap { case (u, v) => Iterator((u, v), (v, u)) }.partitionBy(part)
      val m = sym.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
        .mapPartitions(_.map { case (u, mn) => (u, math.min(mn, u)) },
          preservesPartitioning = true)
      sym.join(m).flatMap { case (u, (v, mv)) =>
        if (v > u) Iterator((v, mv)) else Iterator.empty
      }
    }

    def smallStar(e: org.apache.spark.rdd.RDD[(Long, Long)]) = {
      val or = e.map { case (u, v) => if (u > v) (u, v) else (v, u) }.partitionBy(part)
      val m = or.reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
      or.join(m).flatMap { case (_, (v, mv)) =>
        if (v != mv) Iterator((v, mv)) else Iterator.empty
      } ++ m
    }

    var edges = raw.map { case (u, v) => if (u > v) (u, v) else (v, u) }
      .distinct(part.numPartitions).persist(lvl)
    val nodes = edges.flatMap { case (u, v) => Iterator(u, v) }
      .distinct(part.numPartitions).persist(lvl)

    var converged = false
    var it = 0
    var prevSig = (-1L, -1L)
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(edges)).distinct(part.numPartitions).persist(lvl)
      // ONE job materializes the round and computes the fixpoint
      // signature (order-independent xor of pair hashes + count).
      val sig = next.mapPartitions { it =>
        var x = 0L; var n = 0L
        it.foreach { case (u, v) =>
          x ^= scala.util.hashing.byteswap64(u * 0x9E3779B97F4A7C15L + v); n += 1
        }
        Iterator((x, n))
      }.reduce((a, b) => (a._1 ^ b._1, a._2 + b._2))
      val prev = edges
      edges = next
      prev.unpersist(false)
      converged = sig == prevSig
      prevSig = sig
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter iterations")

    // Post-fixpoint, edges are (node → component-min); roots map to
    // themselves via the left join. persist (not localCheckpoint): the
    // lineage stays intact, so blocks are recomputable and the
    // ContextCleaner reclaims them once the caller drops the frame.
    val labels = nodes.map((_, ())).partitionBy(part)
      .leftOuterJoin(edges)
      .map { case (id, (_, root)) => (id, root.getOrElse(id)) }
    val out = labels.toDF("id", "cluster").persist(lvl)
    out.count()
    edges.unpersist(false)
    nodes.unpersist(false)
    out
  }

  import ComponentKernels.Edge

  /** Group scored correspondences (id1, id2, score) by connected
    * component and run a sequential kernel per component inside
    * mapGroups. Components after blocking are bounded-size (SURVEY §5);
    * the shuffle is a single hash partition on component id and AQE
    * balances component-count skew.
    */
  private def perComponent[T <: Product : scala.reflect.runtime.universe.TypeTag](
      scored: DataFrame, maxEdgesPerComponent: Int = 1000000)(
      kernel: Seq[Edge] => Seq[T]): org.apache.spark.sql.Dataset[T] = {
    val spark = scored.sparkSession
    import spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[T] = org.apache.spark.sql.Encoders.product[T]
    // r13: the scored-edge pipeline (blocking join + comparator
    // projection) fed BOTH the component labeling and the kernel's edge
    // join, so the whole scoring pass executed twice per query. One
    // eager checkpoint of the narrow (id1, id2, score) frame — edges
    // are candidate-bounded by blocking — runs it once; labels and the
    // join both read the materialized blocks.
    val edgesN = scored.select(col("id1").cast("long"), col("id2").cast("long"),
        col("score").cast("double"))
      .localCheckpoint(true)
    val labels = connectedComponents(edgesN)
      .withColumnRenamed("id", "id1").withColumnRenamed("cluster", "comp")
    edgesN
      .join(labels, "id1")
      .select(col("comp"), col("id1"), col("id2"), col("score"))
      .as[CompEdge]
      .groupByKey(_.comp)
      .flatMapGroups { (_, it) =>
        // OOM guard for pathological mega-components (blocking normally
        // bounds size): keep the highest-score edges up to the cap
        // rather than dying — truncation is logged via the row shape
        // (deterministic: same sort as the kernels).
        val buf = it.map(e => Edge(e.id1, e.id2, e.score)).toSeq
        val edges =
          if (buf.size <= maxEdgesPerComponent) buf
          else buf.sortBy(e => (-e.score, e.id1, e.id2)).take(maxEdgesPerComponent)
        kernel(edges).iterator
      }
  }

  /** CENTER clustering (centre_clusterer.py:117) → (id, centre). */
  def centreCluster(scored: DataFrame): DataFrame =
    perComponent(scored)(es =>
      ComponentKernels.centre(es).map { case (m, c) => Membership(m, c) })
      .toDF("id", "centre")

  /** Greedy 1:1 matching (greedy_one_to_one.py:108) → (id1, id2, score). */
  def greedyOneToOne(scored: DataFrame): DataFrame =
    perComponent(scored)(ComponentKernels.greedyOneToOne).toDF()

  /** Mutual-preference stable matching (stable_matching.py:92). */
  def stableMatching(scored: DataFrame): DataFrame =
    perComponent(scored)(ComponentKernels.stableMatching).toDF()

  /** Max-weight bipartite matching (maximum_bipartite_matching.py:112);
    * caller guarantees id1/id2 partitions are disjoint.
    */
  def maximumBipartite(scored: DataFrame): DataFrame =
    perComponent(scored)(ComponentKernels.maxWeightBipartite).toDF()

  /** Agglomerative clustering (hierarchical_clusterer.py:137) →
    * (id, cluster = min member id). Per-component is equivalent to the
    * reference's global run whenever minSimilarity > 0 (cross-component
    * similarity is 0, so those merges are never taken).
    */
  def hierarchicalCluster(scored: DataFrame, linkage: String = "single",
      minSimilarity: Double = 0.5): DataFrame =
    perComponent(scored)(es =>
      ComponentKernels.hierarchical(es, linkage, minSimilarity)
        .map { case (m, c) => Membership(m, c) })
      .toDF("id", "cluster")
}
