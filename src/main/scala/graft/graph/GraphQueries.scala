package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._

/** Graph-analytics queries + DuckDB oracles (SURVEY §2.12 extension —
  * link-graph layer). The graphs are DERIVED from fact tables by the
  * kind of join+agg a 100 TB pipeline would run (that is the
  * expensive, Catalyst-planned part); the iterative/combinatorial
  * kernels then operate on the aggregated, nodes-bounded frames.
  */
object GraphQueries {

  /** Nation-level trade graph: supplier-nation → customer-nation,
    * weighted by lineitem count, PageRank'd (10 exact-integer sweeps).
    * The edge derivation is the fact-scale work: lineitem ⋈ orders ⋈
    * customer ⋈ supplier, one groupBy(src, dst) — nation/supplier
    * dims broadcast, AQE sizes the fact joins.
    */
  /** Multi-source BFS hop distance ([[Bfs]]) over the match-edge graph
    * (gold links + same-nation custkey chain — the cc scenario's graph):
    * distance from every record to the NEAREST seed (every 40th
    * custkey), capped at 4 hops — the blast-radius query ("which
    * records are ≤ k hops from a known-bad source?") and the distance
    * face of `cluster_connected_components`' reachability.
    */
  def graphBfs(s: SparkSession, dir: String): DataFrame = {
    val e = graft.clustering.ClusterQueries.edges(s, dir)
    val seeds = customer(s, dir).filter(col("c_custkey") % 40 === 0)
      .select(col("c_custkey").as("v"))
    Bfs.run(seeds, e, iters = 4).orderBy("v")
  }

  val graphBfsOracle: String =
    s"""WITH RECURSIVE ${graft.clustering.ClusterQueries.edgesSql},
       |seeds AS (SELECT c_custkey AS v FROM customer WHERE c_custkey % 40 = 0),
       |${Bfs.oracleSql(4)}
       |SELECT v, dist FROM bfs ORDER BY v""".stripMargin

  /** Weighted multi-source shortest paths ([[Sssp]]) over the match
    * graph with integer link costs (gold link = 1, consecutive-custkey
    * backbone link = 3, +2 skip link = 7 — [[graft.clustering
    * .ClusterQueries.weightedEdges]]): min path weight from every
    * record to the nearest seed within 4 links — the trust-decay
    * distance the hop-count BFS can't express (the skip tier costs
    * more than two backbone hops, so cheapest ≠ fewest-hop).
    */
  def graphSssp(s: SparkSession, dir: String): DataFrame = {
    val we = graft.clustering.ClusterQueries.weightedEdges(s, dir)
    val seeds = customer(s, dir).filter(col("c_custkey") % 40 === 0)
      .select(col("c_custkey").as("v"))
    Sssp.run(seeds, we, iters = 4).orderBy("v")
  }

  val graphSsspOracle: String =
    s"""WITH RECURSIVE ${graft.clustering.ClusterQueries.weightedEdgesSql},
       |seeds AS (SELECT c_custkey AS v FROM customer WHERE c_custkey % 40 = 0),
       |${Sssp.oracleSql(4)}
       |SELECT v, dist FROM sssp ORDER BY v""".stripMargin

  def graphPagerank(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val sup = supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val edges = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    val nodes = nation(s, dir).select(col("n_nationkey").as("v"))
    PageRank.run(nodes, edges)
      .join(broadcast(nation(s, dir).select(col("n_nationkey"), col("n_name"))),
        col("v") === col("n_nationkey"))
      .select(col("v"), col("n_name"), col("rank_scaled"), col("rank"))
      .orderBy(col("rank_scaled").desc, col("v"))
  }

  val graphPagerankOracle: String =
    s"""WITH edges AS (
       |  SELECT s_nationkey AS src, c_nationkey AS dst,
       |         CAST(count(*) AS BIGINT) AS w
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  GROUP BY 1, 2),
       |nodes AS (SELECT n_nationkey AS v FROM nation),
       |${PageRank.oracleSql()}
       |SELECT r10.v, n_name, r AS rank_scaled,
       |       (CAST(r AS DOUBLE) / 1000000000000.0) AS rank
       |FROM r10 JOIN nation ON n_nationkey = r10.v
       |ORDER BY rank_scaled DESC, v""".stripMargin

  /** Customer co-purchase graph: two customers are adjacent when they
    * received shipments from the SAME supplier on the SAME ship-day —
    * the time-sliced co-occurrence projection every retail/behavioral
    * pipeline runs. The (supplier, day) bucketing is what makes the
    * graph honestly sparse AT EVERY SCALE: bucket occupancy is
    * ~lineitems/(suppliers·days), which is scale-invariant in TPC-H-
    * style data (measured here: avg degree ≈ 9.6 and wedge count
    * linear in customers across sf0.001/0.01/0.1 — 1.5k → 17k → 166k
    * wedges), unlike the per-order supplier projection, whose 1 000-
    * node universe saturates to a 91 %-complete clique. The self-join
    * fans out per (supplier, day) bucket — bounded occupancy, no hub —
    * and the wedge stage is degree-ordered (see [[Triangles]]).
    */
  /** The co-purchase pair derivation shared by triangles / k-core /
    * LPA / link-predict (r13 optimization, guide §2.3-2.4 "shuffle
    * fewer bytes / share the exchange"):
    *  - (sk, dt, c) is DEDUPED before the self-join — two lineitems of
    *    one order from the same supplier+day contributed quadratic
    *    duplicate pair rows that every consumer immediately
    *    distinct()-ed away anyway (the pair set is unchanged);
    *  - the frame is hash-partitioned on the join key (sk, dt) ONCE
    *    and persisted; the dedup (whose keys are a superset) and BOTH
    *    sides of the pair self-join then reuse that one exchange —
    *    plan: 4 exchanges (2 per self-join side) → 1.
    * The persist is deliberately left live (the returned frame is lazy
    * and self-joins it; the bench/verify harness clears session state
    * between queries) — the pre-r13 per-query blocks did the same.
    */
  private def coPurchasePairs(s: SparkSession, dir: String): DataFrame = {
    val lo = lineitem(s, dir)
      .select(col("l_suppkey").as("sk"), to_date(col("l_shipdate")).as("dt"),
        col("l_orderkey"))
      .join(orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("sk"), col("dt"), col("o_custkey").as("c"))
      .repartition(col("sk"), col("dt"))
      .dropDuplicates("sk", "dt", "c")
      .persist() // self-joined below; without this the fact join runs twice
    lo.as("x").join(lo.as("y"),
        col("x.sk") === col("y.sk") && col("x.dt") === col("y.dt") &&
          col("x.c") < col("y.c"))
      .select(col("x.c").as("id1"), col("y.c").as("id2"))
  }

  def graphTriangles(s: SparkSession, dir: String): DataFrame = {
    val nodes = customer(s, dir).select(col("c_custkey").as("v"))
    Triangles.vertexTriangles(nodes, coPurchasePairs(s, dir)).orderBy("v")
  }

  val graphTrianglesOracle: String =
    s"""WITH lo AS (
       |  SELECT l_suppkey AS sk, CAST(l_shipdate AS DATE) AS dt,
       |         o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT x.c AS id1, y.c AS id2
       |  FROM lo x JOIN lo y
       |    ON y.sk = x.sk AND y.dt = x.dt AND x.c < y.c),
       |nodes AS (SELECT c_custkey AS v FROM customer),
       |${Triangles.oracleSql}
       |SELECT v, degree, triangles FROM tri ORDER BY v""".stripMargin

  /** k-core (k = 6) of the same customer co-purchase graph: the dense
    * "repeat co-purchaser" backbone — the community-pruning step a
    * behavioral pipeline runs before expensive per-community work.
    * Peeling is a data-dependent number of edges-bounded sweeps (the
    * bench graph converges in ≤ 8); the oracle replays the identical
    * fixpoint with a recursive CTE.
    */
  def graphKcore(s: SparkSession, dir: String): DataFrame =
    KCore.kCore(coPurchasePairs(s, dir), k = 6).orderBy("v")

  val graphKcoreOracle: String =
    s"""WITH RECURSIVE lo AS (
       |  SELECT l_suppkey AS sk, CAST(l_shipdate AS DATE) AS dt,
       |         o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT x.c AS id1, y.c AS id2
       |  FROM lo x JOIN lo y
       |    ON y.sk = x.sk AND y.dt = x.dt AND x.c < y.c),
       |${KCore.oracleSql(6)}
       |SELECT v, core_degree FROM core ORDER BY v""".stripMargin

  /** Label-propagation communities (4 deterministic sweeps) over the
    * customer co-purchase graph — the cheap community pass before
    * per-community work; the same derived-sparse graph as triangles /
    * k-core, so the edge derivation cost is the audited one.
    */
  def graphLpa(s: SparkSession, dir: String): DataFrame = {
    val nodes = customer(s, dir).select(col("c_custkey").as("v"))
    Lpa.run(nodes, coPurchasePairs(s, dir), iters = 4).orderBy("v")
  }

  val graphLpaOracle: String =
    s"""WITH lo AS (
       |  SELECT l_suppkey AS sk, CAST(l_shipdate AS DATE) AS dt,
       |         o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT x.c AS id1, y.c AS id2
       |  FROM lo x JOIN lo y
       |    ON y.sk = x.sk AND y.dt = x.dt AND x.c < y.c),
       |nodes AS (SELECT c_custkey AS v FROM customer),
       |${Lpa.oracleSql(4)}
       |SELECT v, label, community_size FROM lpa ORDER BY v""".stripMargin

  /** Common-neighbour link prediction (top-100) over the customer
    * co-purchase graph: the graph-completion score a recommender or
    * entity-resolution booster reads.
    */
  def graphLinkPredict(s: SparkSession, dir: String): DataFrame =
    LinkPredict.topK(coPurchasePairs(s, dir), k = 100)

  val graphLinkPredictOracle: String =
    s"""WITH lo AS (
       |  SELECT l_suppkey AS sk, CAST(l_shipdate AS DATE) AS dt,
       |         o_custkey AS c
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       |  SELECT x.c AS id1, y.c AS id2
       |  FROM lo x JOIN lo y
       |    ON y.sk = x.sk AND y.dt = x.dt AND x.c < y.c),
       |${LinkPredict.oracleSql(100)}
       |SELECT id1, id2, common_neighbors, jaccard_milli FROM lp_top""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("graph_link_predict", graphLinkPredict, Some(graphLinkPredictOracle)),
    QueryDef("graph_bfs", graphBfs, Some(graphBfsOracle)),
    QueryDef("graph_sssp", graphSssp, Some(graphSsspOracle)),
    QueryDef("graph_pagerank", graphPagerank, Some(graphPagerankOracle)),
    QueryDef("graph_triangles", graphTriangles, Some(graphTrianglesOracle)),
    QueryDef("graph_kcore", graphKcore, Some(graphKcoreOracle)),
    QueryDef("graph_lpa", graphLpa, Some(graphLpaOracle))
  )
}
