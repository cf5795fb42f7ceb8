package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distance — the reachability/distance member of
  * the graph family (cc answers "same component?", this answers "how
  * FAR from the nearest seed?"): the shape behind blast-radius
  * analysis ("which records are ≤ k hops from a known-bad source?")
  * and cluster-diameter QA on a match graph.
  *
  * BFS is [[Sssp]] with unit weights: after k relaxation sweeps the
  * minimum weight over paths of ≤ k edges IS the BFS level — the hop
  * count at which a node is first reached, deterministic regardless of
  * partitioning or tie order, which is what lets the whole frame
  * hash-gate against a recursive-CTE replay (`min(dist)` over the
  * bounded (v, dist) walk). One sweep loop serves both: the adjacency
  * is hash-partitioned on src once and persisted, each sweep joins
  * only the frontier against it, and `iters` CAPS the rounds
  * explicitly, which is what you want operationally (a blast-radius
  * query asks "within k hops", not "to convergence").
  */
object Bfs {

  /** seeds: (v); edges: (id1, id2) undirected pairs. Returns (v, dist)
    * for every node within `iters` hops of any seed, dist ∈ [0, iters].
    * Duplicate seed rows are deduped (one dist-0 row per node — the
    * same min(dist) contract the recursive-CTE oracle has).
    */
  def run(seeds: DataFrame, edges: DataFrame, iters: Int): DataFrame =
    Sssp.run(seeds, edges.select(col("id1"), col("id2"), lit(1L).as("w")), iters)

  /** Recursive-CTE replay: expects `seeds(v)` and `e(id1, id2)` CTEs
    * upstream; emits a `bfs(v, dist)` CTE (min hop level per node,
    * capped at `iters`).
    */
  def oracleSql(iters: Int): String =
    s"""adj AS (SELECT id1 AS src, id2 AS dst FROM e
       |        UNION SELECT id2, id1 FROM e),
       |walk(v, dist) AS (
       |  SELECT v, 0 FROM seeds
       |  UNION
       |  SELECT a.dst, w.dist + 1
       |  FROM walk w JOIN adj a ON a.src = w.v
       |  WHERE w.dist < $iters),
       |bfs AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist
       |        FROM walk GROUP BY v)""".stripMargin
}
