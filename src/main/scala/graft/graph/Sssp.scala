package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source single-source-shortest-paths over integer-weighted
  * undirected edges — "how far" when links have costs, not just "how
  * many hops" (the hop-distance [[Bfs]] is this with unit weights):
  * weighted blast-radius, trust-propagation distance over a match
  * graph whose link types carry different confidence costs.
  *
  * Level-synchronous Bellman–Ford, `iters` capped relaxation sweeps
  * over a once-partitioned adjacency (the LPA/cc sweeps' idiom): the
  * symmetrized weighted adjacency is hash-partitioned on src ONCE and
  * persisted; each sweep joins only the IMPROVED frontier (nodes whose
  * best distance changed last sweep, shrinking toward convergence)
  * against it, min-combines candidates per node, and keeps only strict
  * improvements. After k sweeps `best(v)` is exactly the minimum path
  * weight over paths of ≤ k edges — a deterministic integer, which is
  * what lets the whole frame hash-gate against a bounded recursive-CTE
  * replay (min over the ≤ k-hop weighted walk).
  *
  * 100 TB shape: per sweep ONE join that reuses adj's partitioning +
  * one map-side-combined min-agg + a bounded merge agg; state is
  * (reached nodes) × 1 long. `iters` caps the rounds explicitly (the
  * operational form — "trust decays to nothing past k links"), and the
  * frontier-only relaxation means a converged region costs nothing in
  * later sweeps. All arithmetic is exact longs: no float drift at any
  * scale. Weights must be non-negative (min-combine is only a
  * shortest-path law then); parallel edges keep the cheapest.
  *
  * Reference anchor: the reference's graph layer stops at connected
  * components (entitymatching/post_clustering/connected_components.py);
  * weighted distance is the
  * standard published extension (Bellman–Ford / delta-stepping,
  * Meyer & Sanders 2003) every distributed graph engine ships.
  */
object Sssp {

  /** seeds: (v); edges: (id1, id2, w) undirected weighted pairs, w a
    * non-negative integer cost. Returns (v, dist) for every node
    * reachable from any seed within `iters` edges; dist = min total
    * weight over such paths. Duplicate seed rows dedup to one dist-0
    * row (the oracle's min(dist) contract).
    */
  def run(seeds: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"sssp requires iters >= 1, got $iters")
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val adj = edges
      .select(col("id1").as("src"), col("id2").as("dst"), col("w").cast("long").as("w"))
      .unionByName(edges.select(col("id2").as("src"), col("id1").as("dst"),
        col("w").cast("long").as("w")))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
      .repartition(col("src")).persist()
    var best = seeds.select(col("v")).distinct()
      .select(col("v"), lit(0L).as("dist")).persist()
    persisted += best
    var frontier = best
    for (_ <- 1 to iters) {
      // lazy persists: each sweep's frame is computed exactly once,
      // during the single final action — no per-sweep jobs
      val cand = frontier.join(adj, col("v") === col("src"))
        .select(col("dst").as("v"), (col("dist") + col("w")).as("dist"))
        .groupBy(col("v")).agg(min(col("dist")).as("dist"))
      // ONE full-outer min-merge per sweep yields BOTH outputs — next
      // best (least of old/candidate) and the improved frontier (strict
      // improvements) — where the previous shape paid a left join +
      // filter AND a union + re-aggregation of the whole best frame
      // (r13 optimization: 2 joins + 2 aggs per sweep → 1 join + 1 agg;
      // exact integer mins, so the merged frame is bit-identical).
      val merged = best.withColumnRenamed("dist", "_bd")
        .join(cand.withColumnRenamed("dist", "_cd"), Seq("v"), "full_outer")
        .select(col("v"), least(col("_bd"), col("_cd")).as("dist"),
          (col("_bd").isNull || col("_cd") < col("_bd")).as("_imp"))
        .persist()
      persisted += merged
      best = merged.select(col("v"), col("dist"))
      frontier = merged.filter(col("_imp")).select(col("v"), col("dist"))
    }
    val out = best.localCheckpoint(true)
    adj.unpersist(false)
    persisted.foreach(_.unpersist(false))
    out
  }

  /** Recursive-CTE replay: expects `seeds(v)` and `we(id1, id2, w)`
    * CTEs upstream; emits an `sssp(v, dist)` CTE — min path weight per
    * node over walks of ≤ `iters` edges. The walk state is (v, dist,
    * steps); with a bounded weight alphabet and a small hop cap the
    * distinct-dist fan-out per node is constant, so the CTE stays
    * polynomial (the UNION dedups identical states per iteration).
    */
  def oracleSql(iters: Int): String =
    s"""adjw AS (SELECT id1 AS src, id2 AS dst, w FROM we
       |         UNION ALL SELECT id2, id1, w FROM we),
       |adjm AS (SELECT src, dst, min(w) AS w FROM adjw GROUP BY src, dst),
       |wwalk(v, dist, steps) AS (
       |  SELECT v, 0, 0 FROM seeds
       |  UNION
       |  SELECT a.dst, x.dist + a.w, x.steps + 1
       |  FROM wwalk x JOIN adjm a ON a.src = x.v
       |  WHERE x.steps < $iters),
       |sssp AS (SELECT v, CAST(min(dist) AS BIGINT) AS dist
       |         FROM wwalk GROUP BY v)""".stripMargin
}
