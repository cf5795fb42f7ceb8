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
  * Every clusterer decides its path from its input. One job with no
  * shuffle reads at most [[LocalMaxEdges]] + 1 edges; when the graph
  * fits, union-find solves it in one place on the driver (and the
  * per-component kernels run there too), because on a small graph the
  * distributed rounds are fixed per-job cost, not data work: 9 Spark
  * jobs and over a second for a thousand match edges. Larger graphs
  * take alternating large-star / small-star contraction (Kiveris et
  * al., "Connected Components in MapReduce and Beyond") — the standard
  * O(log n)-round distributed CC. Each round is a groupBy min +
  * self-join (single shuffle each); no per-node adjacency lists are
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

  /** Graphs with at most this many edges (duplicates and self-loops
    * included) are clustered in one place: 65,536 edges are 1 MB of
    * id pairs, a few MB as JVM objects on the driver. */
  private[graft] val LocalMaxEdges = 65536

  /** All rows of `rdd` if it has at most `max`, else None — from ONE job
    * with no shuffle: each task returns its first `max + 1` rows, and
    * the driver drops what it holds once the total passes `max`.
    * Upstream shuffles of `rdd` are not recomputed when the caller goes
    * on to run `rdd` itself.
    */
  private def fitting[T: scala.reflect.ClassTag](
      rdd: org.apache.spark.rdd.RDD[T], max: Int): Option[Array[T]] = {
    val got = scala.collection.mutable.ArrayBuffer.empty[T]
    var over = false
    rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => it.take(max + 1).toArray,
      (_: Int, rows: Array[T]) => if (!over) {
        got ++= rows
        if (got.size > max) { over = true; got.clear() }
      })
    if (over) None else Some(got.toArray)
  }

  /** Union-find over `edges`: every endpoint of a non-self-loop edge →
    * the minimum id of its component. Duplicate and reversed edges are
    * harmless; a node seen only in self-loops gets no entry.
    */
  private def unionFind(edges: Iterator[(Long, Long)]): scala.collection.mutable.LongMap[Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { case (u, v) =>
      if (u != v) {
        val a = find(parent.getOrElseUpdate(u, u))
        val b = find(parent.getOrElseUpdate(v, v))
        // the smaller root survives, so every root is its component's min
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
      }
    }
    parent.keys.foreach(k => parent(k) = find(k))
    parent
  }

  /** edges (id1, id2) → one row per non-isolated node: (id, cluster)
    * where cluster is the minimum node id in the component. Self-loops
    * and edges with a NULL endpoint are dropped.
    *
    * Up to [[LocalMaxEdges]] edges, union-find labels the graph on the
    * driver and the result is a local frame: one Spark job in all.
    * Above it runs the RDD fixpoint [[starContraction]].
    */
  def connectedComponents(edgesIn: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponents(edgesIn, maxIter, LocalMaxEdges)

  /** [[connectedComponents]] with the size rule's constant as an
    * argument: `localMaxEdges = 0` forces the multi-round path. */
  private[graft] def connectedComponents(edgesIn: DataFrame, maxIter: Int,
      localMaxEdges: Int): DataFrame = {
    val spark = edgesIn.sparkSession
    import spark.implicits._
    val raw = edgesIn
      .select(col("id1").cast("long").as("u"), col("id2").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .as[(Long, Long)].rdd
    fitting(raw, localMaxEdges) match {
      case Some(es) =>
        unionFind(es.iterator).toSeq.sortBy(_._1).toDF("id", "cluster")
      case None => starContraction(spark, raw, maxIter)
    }
  }

  /** The large-star / small-star fixpoint over non-self-loop edges.
    *
    * It runs on RDDs, not Datasets, deliberately:
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
  private def starContraction(spark: org.apache.spark.sql.SparkSession,
      raw: org.apache.spark.rdd.RDD[(Long, Long)], maxIter: Int): DataFrame = {
    import spark.implicits._
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
    * component and run a sequential kernel per component. An edge
    * belongs to the component of its id1; an id1 seen only in
    * self-loops has none, and its edges are dropped.
    *
    * The size rule of [[connectedComponents]] applies to the scored
    * edges: up to `localMaxEdges` of them, union-find groups them on the
    * driver and the kernel runs there per component (every kernel sorts
    * its edges itself, so grouping order does not matter). Above it,
    * the components come from the multi-round path and the kernel runs
    * inside `flatMapGroups`. Components after blocking are bounded-size
    * (SURVEY §5); the shuffle is a single hash partition on component
    * id and AQE balances component-count skew.
    */
  private[graft] def perComponent[T <: Product : scala.reflect.runtime.universe.TypeTag](
      scored: DataFrame, maxEdgesPerComponent: Int = 1000000,
      localMaxEdges: Int = LocalMaxEdges)(
      kernel: Seq[Edge] => Seq[T]): org.apache.spark.sql.Dataset[T] = {
    val spark = scored.sparkSession
    import spark.implicits._
    implicit val enc: org.apache.spark.sql.Encoder[T] = org.apache.spark.sql.Encoders.product[T]
    // OOM guard for pathological mega-components (blocking normally
    // bounds size): keep the highest-score edges up to the cap rather
    // than dying (deterministic: same sort as the kernels).
    def capped(buf: Seq[Edge]): Seq[Edge] =
      if (buf.size <= maxEdgesPerComponent) buf
      else buf.sortBy(e => (-e.score, e.id1, e.id2)).take(maxEdgesPerComponent)
    val edgesN = scored.select(col("id1").cast("long"), col("id2").cast("long"),
      col("score").cast("double"))
    fitting(edgesN.rdd, localMaxEdges) match {
      case Some(rows) =>
        val root = unionFind(rows.iterator.collect {
          case r if !r.isNullAt(0) && !r.isNullAt(1) => (r.getLong(0), r.getLong(1))
        })
        val byComp = rows.toSeq.filter(r => !r.isNullAt(0) && root.contains(r.getLong(0)))
          .map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(e => root(e.id1))
        spark.createDataset(byComp.toSeq.sortBy(_._1).flatMap { case (_, es) => kernel(capped(es)) })
      case None =>
        // r13: the scored-edge pipeline (blocking join + comparator
        // projection) fed BOTH the component labeling and the kernel's
        // edge join, so the whole scoring pass executed twice per query.
        // One eager checkpoint of the narrow (id1, id2, score) frame —
        // edges are candidate-bounded by blocking — runs it once; labels
        // and the join both read the materialized blocks.
        val checkpointed = edgesN.localCheckpoint(true)
        val labels = connectedComponents(checkpointed, 25, 0)
          .withColumnRenamed("id", "id1").withColumnRenamed("cluster", "comp")
        checkpointed
          .join(labels, "id1")
          .select(col("comp"), col("id1"), col("id2"), col("score"))
          .as[CompEdge]
          .groupByKey(_.comp)
          .flatMapGroups { (_, it) =>
            kernel(capped(it.map(e => Edge(e.id1, e.id2, e.score)).toSeq)).iterator
          }
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
