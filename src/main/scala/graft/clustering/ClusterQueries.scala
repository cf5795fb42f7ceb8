package graft.clustering

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._
import graft.functions.sims
import graft.blocking.{Blockers, EmScenario}

/** Clustering queries + DuckDB oracles (SURVEY §2.10).
  *
  * Oracle strategy: connected components via a recursive reachability CTE;
  * the sequential algorithms (centre, greedy 1:1, stable matching) via a
  * recursive single-row FOLD over the ranked edge/entity list — DuckDB
  * replays the exact sequential walk; complete-linkage hierarchical
  * folds the full member→cluster assignment instead (merge replay).
  * Bipartite (Hungarian) and average-linkage remain rows-only +
  * property specs in ClusterSpec (brute-force cross-checks on random
  * graphs; float mean is summation-order-dependent across engines).
  */
object ClusterQueries {

  /** Scenario edge set: cross-source gold pairs plus within-left chain
    * edges between consecutive customers of the same nation — yields
    * multi-node components spanning both sources.
    */
  def edges(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).select(col("c_custkey").as("k"), col("c_nationkey").as("nat"))
    val a = c.select(col("k").as("id1"), col("nat").as("na"))
    val b = c.select(col("k").as("id2"), col("nat").as("nb"))
    val chain = a.join(b, col("id2") === col("id1") + 1 && col("na") === col("nb"))
      .select("id1", "id2")
    EmScenario.gold(s, dir).unionByName(chain)
  }

  /** Weighted edge set for the shortest-path member — three link
    * flavors with integer trust costs: verified cross-source gold
    * links cost 1 (near-free hop), the consecutive-custkey backbone
    * costs 3, and +2 "skip" links cost 7 — DELIBERATELY more than two
    * backbone hops (6), so the cheapest path disagrees with the
    * fewest-hop path at every interior node: weighted distance is a
    * genuinely different law than [[edges]]' hop count (SsspSpec pins
    * the discriminating case).
    */
  def weightedEdges(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).select(col("c_custkey").as("k"))
    val a = c.select(col("k").as("id1"))
    val b = c.select(col("k").as("id2"))
    val chain = a.join(b, col("id2") === col("id1") + 1)
      .select(col("id1"), col("id2"), lit(3L).as("w"))
    val skip = a.join(b, col("id2") === col("id1") + 2)
      .select(col("id1"), col("id2"), lit(7L).as("w"))
    EmScenario.gold(s, dir).select(col("id1"), col("id2"), lit(1L).as("w"))
      .unionByName(chain).unionByName(skip)
  }

  /** gold + chain + skip + we CTEs (edge set of [[weightedEdges]]). */
  val weightedEdgesSql: String =
    """gold AS (
      |  SELECT c_custkey AS id1, c_custkey + 10000000 AS id2
      |  FROM customer WHERE c_custkey % 10 <> 3),
      |wchain AS (
      |  SELECT a.c_custkey AS id1, b.c_custkey AS id2
      |  FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1),
      |wskip AS (
      |  SELECT a.c_custkey AS id1, b.c_custkey AS id2
      |  FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 2),
      |we AS (SELECT id1, id2, 1 AS w FROM gold
      |       UNION ALL SELECT id1, id2, 3 FROM wchain
      |       UNION ALL SELECT id1, id2, 7 FROM wskip)""".stripMargin

  /** chain + e CTEs; expects a `gold` CTE upstream. */
  val chainEdgesSql: String =
    """chain AS (
      |  SELECT a.c_custkey AS id1, b.c_custkey AS id2
      |  FROM customer a JOIN customer b
      |    ON b.c_custkey = a.c_custkey + 1 AND a.c_nationkey = b.c_nationkey),
      |e AS (SELECT * FROM gold UNION ALL SELECT * FROM chain)""".stripMargin

  val edgesSql: String =
    """gold AS (
      |  SELECT c_custkey AS id1, c_custkey + 10000000 AS id2
      |  FROM customer WHERE c_custkey % 10 <> 3),
      |""".stripMargin + chainEdgesSql

  /** Edges scored by Jaro–Winkler between the endpoint record names. */
  def scoredEdges(s: SparkSession, dir: String): DataFrame = {
    // plain record sides: they feed two broadcast dim joins onto the
    // (small) edge frame — the JW comparator runs over edges, not over
    // a blocked cross product, so a spread here was pure exchange tax
    val recs = EmScenario.custLPlain(s, dir).select("id", "name")
      .unionByName(EmScenario.custRPlain(s, dir).select("id", "name"))
    edges(s, dir)
      .join(recs.select(col("id").as("id1"), col("name").as("na")), "id1")
      .join(recs.select(col("id").as("id2"), col("name").as("nb")), "id2")
      .select(col("id1"), col("id2"),
        round(sims.jaroWinkler(col("na"), col("nb")), 5).as("score"))
  }

  val scoredEdgesSql: String =
    s"""${EmScenario.oracleWithBody},
       |$chainEdgesSql,
       |recs AS (SELECT id, name FROM l UNION ALL SELECT id, name FROM r),
       |se AS (SELECT e.id1, e.id2,
       |              round(jaro_winkler_similarity(a.name, b.name), 5) AS score
       |       FROM e JOIN recs a ON a.id = e.id1 JOIN recs b ON b.id = e.id2)""".stripMargin

  // ---- connected components ----

  def clusterConnectedComponents(s: SparkSession, dir: String): DataFrame =
    Clusterers.connectedComponents(edges(s, dir)).orderBy("id")

  val ccOracle: String =
    s"""WITH RECURSIVE $edgesSql,
       |sym AS (SELECT id1 AS u, id2 AS v FROM e UNION SELECT id2, id1 FROM e),
       |nodes AS (SELECT DISTINCT u AS id FROM sym),
       |reach(node, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node)
       |SELECT node AS id, min(r) AS cluster FROM reach GROUP BY node
       |ORDER BY id""".stripMargin

  /** INCREMENTAL connected components — the daily-ingest face of
    * [[clusterConnectedComponents]] (the `ann_ivf_incremental` idiom
    * applied to the match graph): the historical graph's labeling is a
    * persisted artifact; when new match edges arrive, each arrival
    * endpoint is CONTRACTED to its stored component root (absent
    * endpoints keep their own id), connected components runs on the
    * contracted ARRIVAL graph only, and the stored labeling is mapped
    * through the merge result. Labels are component-min ids, and a base
    * root is its component's min while new-only nodes contribute raw
    * ids — so the merged min equals the global min and the incremental
    * labeling is BIT-IDENTICAL to a full recompute over all edges,
    * which is exactly what the oracle computes (recursive-CTE CC over
    * the union): the hash gate IS the maintenance law. At 100 TB the
    * historical CC runs once ever; each increment pays CC on a graph
    * the size of the day's arrivals, never the corpus.
    */
  def clusterCcIncremental(s: SparkSession, dir: String): DataFrame = {
    val all = edges(s, dir)
    val isNew = col("id1") % 5 === 0
    val e0 = all.filter(!isNew)
    val e1 = all.filter(isNew)
    val lab = Clusterers.connectedComponents(e0) // the persisted artifact
    def root(side: String) = lab
      .select(col("id").as(side), col("cluster").as(s"_r$side"))
    val contracted = e1
      .join(root("id1"), Seq("id1"), "left")
      .join(root("id2"), Seq("id2"), "left")
      .select(coalesce(col("_rid1"), col("id1")).as("id1"),
        coalesce(col("_rid2"), col("id2")).as("id2"))
    val merged = Clusterers.connectedComponents(contracted)
      .select(col("id").as("cluster"), col("cluster").as("_newc"))
    val relabeled = lab.join(merged, Seq("cluster"), "left")
      .select(col("id"), coalesce(col("_newc"), col("cluster")).as("cluster"))
    val newOnly = e1.select(col("id1").as("id"))
      .unionByName(e1.select(col("id2").as("id"))).distinct()
      .join(lab.select("id"), Seq("id"), "left_anti")
      .join(merged.withColumnRenamed("cluster", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("_newc"), col("id")).as("cluster"))
    relabeled.unionByName(newOnly).orderBy("id")
  }

  val ccIncrementalOracle: String =
    s"""WITH RECURSIVE $edgesSql,
       |sym AS (SELECT id1 AS u, id2 AS v FROM e UNION SELECT id2, id1 FROM e),
       |nodes AS (SELECT DISTINCT u AS id FROM sym),
       |reach(node, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node)
       |SELECT node AS id, min(r) AS cluster FROM reach GROUP BY node
       |ORDER BY id""".stripMargin

  // ---- greedy 1:1 ----

  def clusterGreedyOneToOne(s: SparkSession, dir: String): DataFrame =
    Clusterers.greedyOneToOne(scoredEdges(s, dir)).orderBy("id1", "id2")

  val greedyOracle: String =
    s"""WITH RECURSIVE $scoredEdgesSql,
       |ranked AS (SELECT id1, id2, score,
       |           row_number() OVER (ORDER BY score DESC, id1, id2) AS rn FROM se),
       |walk(rn, matched, sel) AS (
       |  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
       |         CAST([] AS STRUCT(id1 BIGINT, id2 BIGINT, score DOUBLE)[])
       |  UNION ALL
       |  SELECT r.rn,
       |    CASE WHEN list_contains(w.matched, r.id1) OR list_contains(w.matched, r.id2)
       |         THEN w.matched
       |         ELSE list_append(list_append(w.matched, r.id1), r.id2) END,
       |    CASE WHEN list_contains(w.matched, r.id1) OR list_contains(w.matched, r.id2)
       |         THEN w.sel
       |         ELSE list_append(w.sel, {'id1': CAST(r.id1 AS BIGINT),
       |                                  'id2': CAST(r.id2 AS BIGINT), 'score': r.score}) END
       |  FROM walk w JOIN ranked r ON r.rn = w.rn + 1)
       |SELECT u.u.id1 AS id1, u.u.id2 AS id2, u.u.score AS score FROM (
       |  SELECT unnest(sel) AS u FROM walk WHERE rn = (SELECT max(rn) FROM ranked)) u
       |ORDER BY id1, id2""".stripMargin

  // ---- CENTER ----

  def clusterCentre(s: SparkSession, dir: String): DataFrame =
    Clusterers.centreCluster(scoredEdges(s, dir)).orderBy("id")

  val centreOracle: String =
    s"""WITH RECURSIVE $scoredEdgesSql,
       |ranked AS (SELECT id1, id2, score,
       |           row_number() OVER (ORDER BY score DESC, id1, id2) AS rn FROM se),
       |walk(rn, assigned, centres, outp) AS (
       |  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[]), CAST([] AS BIGINT[]),
       |         CAST([] AS STRUCT(id BIGINT, centre BIGINT)[])
       |  UNION ALL
       |  SELECT r.rn,
       |    CASE
       |      WHEN NOT list_contains(w.assigned, r.id1) AND NOT list_contains(w.assigned, r.id2)
       |        THEN list_append(list_append(w.assigned, r.id1), r.id2)
       |      WHEN NOT list_contains(w.assigned, r.id1) AND list_contains(w.centres, r.id2)
       |        THEN list_append(w.assigned, r.id1)
       |      WHEN NOT list_contains(w.assigned, r.id2) AND list_contains(w.centres, r.id1)
       |        THEN list_append(w.assigned, r.id2)
       |      ELSE w.assigned END,
       |    CASE
       |      WHEN NOT list_contains(w.assigned, r.id1) AND NOT list_contains(w.assigned, r.id2)
       |        THEN list_append(w.centres, r.id1)
       |      ELSE w.centres END,
       |    CASE
       |      WHEN NOT list_contains(w.assigned, r.id1) AND NOT list_contains(w.assigned, r.id2)
       |        THEN list_append(list_append(w.outp,
       |               {'id': CAST(r.id1 AS BIGINT), 'centre': CAST(r.id1 AS BIGINT)}),
       |               {'id': CAST(r.id2 AS BIGINT), 'centre': CAST(r.id1 AS BIGINT)})
       |      WHEN NOT list_contains(w.assigned, r.id1) AND list_contains(w.centres, r.id2)
       |        THEN list_append(w.outp, {'id': CAST(r.id1 AS BIGINT), 'centre': CAST(r.id2 AS BIGINT)})
       |      WHEN NOT list_contains(w.assigned, r.id2) AND list_contains(w.centres, r.id1)
       |        THEN list_append(w.outp, {'id': CAST(r.id2 AS BIGINT), 'centre': CAST(r.id1 AS BIGINT)})
       |      ELSE w.outp END
       |  FROM walk w JOIN ranked r ON r.rn = w.rn + 1)
       |SELECT u.u.id AS id, u.u.centre AS centre FROM (
       |  SELECT unnest(outp) AS u FROM walk WHERE rn = (SELECT max(rn) FROM ranked)) u
       |ORDER BY id""".stripMargin

  // ---- stable matching (recursive-fold oracle) ----

  def clusterStable(s: SparkSession, dir: String): DataFrame =
    Clusterers.stableMatching(scoredEdges(s, dir)).orderBy("id1", "id2")

  /** Replays ComponentKernels.stableMatching sequentially: left ids
    * ascending; each takes its best available partner whose own
    * preference list holds no better available option; pairs emitted in
    * the ORIGINAL edge orientation. Global order equals the per-
    * component run because decisions never cross components.
    */
  val stableOracle: String =
    s"""WITH RECURSIVE $scoredEdgesSql,
       |prefs AS (
       |  SELECT id1 AS id, id2 AS partner, score FROM se
       |  UNION ALL SELECT id2, id1, score FROM se),
       |lefts AS (SELECT id1, row_number() OVER (ORDER BY id1) AS ln
       |          FROM (SELECT DISTINCT id1 FROM se)),
       |walk(i, matched, outp) AS (
       |  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
       |         CAST([] AS STRUCT(a BIGINT, b BIGINT)[])
       |  UNION ALL
       |  SELECT l.ln,
       |    CASE WHEN ch.partner IS NOT NULL
       |         THEN list_append(list_append(w.matched, CAST(l.id1 AS BIGINT)),
       |                          CAST(ch.partner AS BIGINT))
       |         ELSE w.matched END,
       |    CASE WHEN ch.partner IS NOT NULL
       |         THEN list_append(w.outp, {'a': CAST(l.id1 AS BIGINT),
       |                                   'b': CAST(ch.partner AS BIGINT)})
       |         ELSE w.outp END
       |  FROM walk w
       |  JOIN lefts l ON l.ln = w.i + 1
       |  LEFT JOIN LATERAL (
       |    SELECT p.partner
       |    FROM prefs p
       |    WHERE p.id = l.id1
       |      AND NOT list_contains(w.matched, CAST(l.id1 AS BIGINT))
       |      AND NOT list_contains(w.matched, CAST(p.partner AS BIGINT))
       |      AND NOT EXISTS (
       |        SELECT 1 FROM prefs q
       |        WHERE q.id = p.partner
       |          AND q.partner <> l.id1
       |          AND NOT list_contains(w.matched, CAST(q.partner AS BIGINT))
       |          AND (q.score > (SELECT r.score FROM prefs r
       |                          WHERE r.id = p.partner AND r.partner = l.id1)
       |               OR (q.score = (SELECT r.score FROM prefs r
       |                              WHERE r.id = p.partner AND r.partner = l.id1)
       |                   AND q.partner < l.id1)))
       |    ORDER BY p.score DESC, p.partner
       |    LIMIT 1) ch ON true),
       |pairs AS (SELECT u.u.a AS a, u.u.b AS b FROM (
       |  SELECT unnest(outp) AS u FROM walk
       |  WHERE i = (SELECT max(ln) FROM lefts)) u)
       |SELECT se.id1, se.id2, se.score
       |FROM pairs JOIN se ON (se.id1 = pairs.a AND se.id2 = pairs.b)
       |                   OR (se.id1 = pairs.b AND se.id2 = pairs.a)
       |ORDER BY se.id1, se.id2""".stripMargin

  // ---- cluster diagnostics (evaluation.py:1085, :656) ----

  def clusterSizeDist(s: SparkSession, dir: String): DataFrame =
    Clusterers.clusterSizeDistribution(edges(s, dir)).orderBy("cluster_size")

  val sizeDistOracle: String =
    s"""WITH RECURSIVE $edgesSql,
       |sym AS (SELECT id1 AS u, id2 AS v FROM e UNION SELECT id2, id1 FROM e),
       |nodes AS (SELECT DISTINCT u AS id FROM sym),
       |reach(node, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node),
       |lab AS (SELECT node AS id, min(r) AS cluster FROM reach GROUP BY node),
       |sizes AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster),
       |dist AS (SELECT cluster_size, count(*) AS frequency FROM sizes GROUP BY cluster_size),
       |tot AS (SELECT CAST(sum(frequency) AS BIGINT) AS t FROM dist)
       |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       |       CAST(frequency AS BIGINT) AS frequency,
       |       frequency * 100.0 / tot.t AS percentage
       |FROM dist, tot ORDER BY cluster_size""".stripMargin

  def clusterConsistency(s: SparkSession, dir: String): DataFrame =
    Clusterers.clusterConsistencyReport(scoredEdges(s, dir)).orderBy("cluster_id")

  val consistencyOracle: String =
    s"""WITH RECURSIVE $scoredEdgesSql,
       |sym AS (SELECT id1 AS u, id2 AS v FROM se UNION SELECT id2, id1 FROM se),
       |nodes AS (SELECT DISTINCT u AS id FROM sym),
       |reach(node, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node),
       |lab AS (SELECT node AS id, min(r) AS cluster FROM reach GROUP BY node),
       |es AS (SELECT lab.cluster, CAST(round(se.score * 100000) AS BIGINT) AS e5
       |       FROM se JOIN lab ON lab.id = se.id1),
       |est AS (SELECT cluster, count(*) AS total_edges, CAST(sum(e5) AS BIGINT) AS s5,
       |               min(e5) AS m5, max(e5) AS x5 FROM es GROUP BY cluster),
       |sizes AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster)
       |SELECT sizes.cluster AS cluster_id,
       |  CAST(cluster_size AS BIGINT) AS cluster_size,
       |  CAST(total_edges AS BIGINT) AS total_edges,
       |  CAST(cluster_size * (cluster_size - 1) // 2 AS BIGINT) AS expected_edges,
       |  CAST(total_edges AS DOUBLE) / greatest(cluster_size * (cluster_size - 1) // 2, 1)
       |    AS consistency_ratio,
       |  total_edges >= cluster_size * (cluster_size - 1) // 2 AS is_consistent,
       |  CAST(s5 AS DOUBLE) / (total_edges * 100000.0) AS avg_similarity,
       |  CAST(m5 AS DOUBLE) / 100000.0 AS min_similarity,
       |  CAST(x5 AS DOUBLE) / 100000.0 AS max_similarity
       |FROM sizes JOIN est ON est.cluster = sizes.cluster
       |ORDER BY cluster_id""".stripMargin

  /** Cluster debug details (evaluation.py:1182 `write_cluster_details`,
    * :1321 `write_debug_results`): the per-cluster record listing a
    * user eyeballs to debug a matcher — every scored correspondence
    * with its connected-component label, both endpoint record names,
    * and the cluster's member count. Relational rendering of the
    * reference's JSON artifact: one row per in-cluster edge, so it
    * stays a plain join pipeline (CC labels ⋈ sizes ⋈ records ⋈
    * scored pairs) with no driver-side collection.
    */
  def clusterDetails(s: SparkSession, dir: String): DataFrame = {
    val se = scoredEdges(s, dir)
    val comp = Clusterers.connectedComponents(se.select("id1", "id2"))
    val sizes = comp.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
    val recs = EmScenario.custLPlain(s, dir).select("id", "name")
      .unionByName(EmScenario.custRPlain(s, dir).select("id", "name"))
    se.join(comp.select(col("id").as("id1"), col("cluster")), "id1")
      .join(sizes, "cluster")
      .join(recs.select(col("id").as("id1"), col("name").as("name1")), "id1")
      .join(recs.select(col("id").as("id2"), col("name").as("name2")), "id2")
      .select(col("cluster"), col("id1"), col("id2"), col("score"),
        col("name1"), col("name2"), col("cluster_size"))
      .orderBy("cluster", "id1", "id2")
  }

  val detailsOracle: String =
    s"""WITH RECURSIVE $scoredEdgesSql,
       |sym AS (SELECT id1 AS u, id2 AS v FROM se UNION SELECT id2, id1 FROM se),
       |nodes AS (SELECT DISTINCT u AS id FROM sym),
       |reach(node, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node),
       |lab AS (SELECT node AS id, min(r) AS cluster FROM reach GROUP BY node),
       |sizes AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
       |          FROM lab GROUP BY cluster)
       |SELECT lab.cluster, se.id1, se.id2, se.score,
       |       a.name AS name1, b.name AS name2, sizes.cluster_size
       |FROM se JOIN lab ON lab.id = se.id1
       |        JOIN sizes ON sizes.cluster = lab.cluster
       |        JOIN recs a ON a.id = se.id1
       |        JOIN recs b ON b.id = se.id2
       |ORDER BY lab.cluster, se.id1, se.id2""".stripMargin

  /** Bipartite input: cross-source candidates from the standard blocker
    * scored by name JW, kept at ≥ 0.95 — id1 (left) and id2 (right)
    * partitions are disjoint by construction.
    */
  def bipartiteEdges(s: SparkSession, dir: String): DataFrame = {
    val l = EmScenario.custL(s, dir)
    val r = EmScenario.custR(s, dir)
    val cands = Blockers.standard(l, r, Seq("seg", "nat"), "id")
    // spread l/r feed only the blocker (the stage that owns the JW
    // comparator's parallelism); the name-attach sides are broadcast
    // dims and read the scan plain — half the exchanges of r13
    cands
      .join(EmScenario.custLPlain(s, dir)
        .select(col("id").as("id1"), col("name").as("na")), "id1")
      .join(EmScenario.custRPlain(s, dir)
        .select(col("id").as("id2"), col("name").as("nb")), "id2")
      .select(col("id1"), col("id2"),
        round(sims.jaroWinkler(col("na"), col("nb")), 5).as("score"))
      .filter(col("score") >= 0.95)
  }

  def clusterMaxBipartite(s: SparkSession, dir: String): DataFrame =
    Clusterers.maximumBipartite(bipartiteEdges(s, dir)).orderBy("id1", "id2")

  def clusterHierarchical(s: SparkSession, dir: String): DataFrame =
    Clusterers.hierarchicalCluster(scoredEdges(s, dir), "single", 0.9).orderBy("id")

  /** Oracle for the SINGLE-linkage variant: agglomerative single-link
    * at stop threshold θ is exactly connected components of the
    * θ-thresholded similarity graph (merges happen iff some inter-
    * cluster edge ≥ θ, transitively) — so DuckDB recomputes it as a
    * reachability CTE over `se WHERE score ≥ 0.9`, with every node of
    * the FULL graph kept (all-below-θ nodes stay singleton clusters).
    * Complete/average linkage have no such closed form and would stay
    * rows-only.
    */
  val hierarchicalOracle: String =
    s"""WITH RECURSIVE $scoredEdgesSql,
       |allnodes AS (SELECT DISTINCT id1 AS id FROM se
       |             UNION SELECT DISTINCT id2 FROM se),
       |hot AS (SELECT id1, id2 FROM se WHERE score >= 0.9),
       |sym AS (SELECT id1 AS u, id2 AS v FROM hot UNION SELECT id2, id1 FROM hot),
       |reach(node, rt) AS (
       |  SELECT id, id FROM allnodes
       |  UNION
       |  SELECT s.v, reach.rt FROM reach JOIN sym s ON s.u = reach.node)
       |SELECT node AS id, min(rt) AS cluster FROM reach GROUP BY node
       |ORDER BY id""".stripMargin

  // ---- complete-linkage hierarchical (recursive-fold oracle) ----

  /** Clique-group edges for the complete-linkage query: customers are
    * bucketed 4-a-piece by key, every within-bucket pair is scored by
    * balance proximity — so the graph has REAL cliques (the EmScenario
    * edge set is triangle-free, which would degenerate complete linkage
    * into pair matching: any merged cluster has a missing cross edge →
    * linkage 0). Scores are raw IEEE divisions of exact cent longs —
    * no per-engine rounding anywhere near a decimal midpoint.
    */
  def cliqueEdges(s: SparkSession, dir: String, scaled: Boolean = false): DataFrame = {
    val c = customer(s, dir).filter(col("c_custkey") < 240)
      .select(col("c_custkey").as("k"), cents(col("c_acctbal")).as("balc"))
    val a = c.select(col("k").as("id1"), col("balc").as("ba"))
    val b = c.select(col("k").as("id2"), col("balc").as("bb"))
    val num = greatest(lit(2000000L) - abs(col("ba") - col("bb")), lit(0L))
    // scaled: the raw long numerator as an integer-valued double — sums of
    // these are exact in ANY order (≤2^53), which average linkage needs
    val score = if (scaled) num.cast("double")
                else num.cast("double") / lit(2000000.0)
    a.join(b, expr("id1 div 4") === expr("id2 div 4") &&
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"), score.as("score"))
  }

  def clusterHierarchicalComplete(s: SparkSession, dir: String): DataFrame =
    Clusterers.hierarchicalCluster(cliqueEdges(s, dir), "complete", 0.8)
      .orderBy("id")

  /** Replays the agglomerative COMPLETE-linkage merges as a recursive
    * single-row fold (the centre/greedy idiom, but the fold state is
    * the full member→cluster assignment, POSITION-ENCODED: contiguous
    * custkeys mean `asg[m + 1]` is member m's label — each step scans
    * only the STATIC edge table with list_extract instead of unnesting
    * all member pairs, which DuckDB's decorrelation made pathological).
    * A cluster-pair linkage ≥ θ needs min(cross sims) ≥ θ AND full
    * cross connectivity (count = |A|·|B|) — exactly the kernel's
    * zero-filled similarity matrix, since any missing pair drives the
    * min to 0 < θ. Best pair by the kernel's (linkage DESC, minIdA,
    * minIdB) tie-break; the absorbed cluster relabels to the smaller
    * label. Recursion ends when the lateral finds no qualifying pair.
    * Per-component kernel ≡ this global replay (cross-component
    * linkage is 0 < θ).
    */
  val hierarchicalCompleteOracle: String =
    """WITH RECURSIVE
      |c AS (SELECT c_custkey AS k, CAST(round(c_acctbal*100) AS BIGINT) AS balc
      |      FROM customer WHERE c_custkey < 240),
      |se AS (SELECT a.k AS id1, b.k AS id2,
      |              CAST(greatest(2000000 - abs(a.balc - b.balc), 0) AS DOUBLE)
      |                / 2000000.0 AS score
      |       FROM c a JOIN c b ON a.k // 4 = b.k // 4 AND a.k < b.k),
      |simp AS (SELECT id1 AS u, id2 AS v, max(score) AS s FROM se GROUP BY 1, 2),
      |walk(gen, asg) AS (
      |  SELECT 0, (SELECT list(k ORDER BY k) FROM c)
      |  UNION ALL
      |  SELECT w.gen + 1,
      |         list_transform(w.asg, x -> CASE WHEN x = b.g THEN b.l ELSE x END)
      |  FROM walk w
      |  JOIN LATERAL (
      |    SELECT cand.l, cand.g FROM (
      |      SELECT least(w.asg[sp.u + 1], w.asg[sp.v + 1]) AS l,
      |             greatest(w.asg[sp.u + 1], w.asg[sp.v + 1]) AS g,
      |             count(*) AS cnt, min(sp.s) AS mn
      |      FROM simp sp
      |      WHERE w.asg[sp.u + 1] <> w.asg[sp.v + 1]
      |      GROUP BY 1, 2) cand
      |    JOIN (SELECT t.c AS cl, count(*) AS sz FROM unnest(w.asg) AS t(c) GROUP BY 1) sa
      |      ON sa.cl = cand.l
      |    JOIN (SELECT t.c AS cl, count(*) AS sz FROM unnest(w.asg) AS t(c) GROUP BY 1) sb
      |      ON sb.cl = cand.g
      |    WHERE cand.mn >= 0.8 AND cand.cnt = sa.sz * sb.sz
      |    ORDER BY cand.mn DESC, cand.l, cand.g
      |    LIMIT 1) b ON true)
      |SELECT u.m AS id, f.asg[u.m + 1] AS cluster
      |FROM (SELECT asg FROM walk WHERE gen = (SELECT max(gen) FROM walk)) f,
      |     (SELECT k AS m FROM c) u
      |ORDER BY id""".stripMargin

  /** AVERAGE-linkage agglomerative clustering, hash-oracled. The sims are
    * the integer cent-proximity numerators (0..2e6) as doubles: a positive
    * rescaling of the [0,1] scores used by the complete/single queries, so
    * the merge sequence is IDENTICAL to average linkage on k/2e6 with
    * θ=0.8 — but every cross-cluster sum is a sum of integer-valued
    * doubles (exact in any order, well under 2^53), and the average is one
    * exact-int division. That kills the one nondeterminism float average
    * linkage has (addition order), making the replay oracle exact.
    */
  def clusterHierarchicalAverage(s: SparkSession, dir: String): DataFrame =
    Clusterers.hierarchicalCluster(cliqueEdges(s, dir, scaled = true),
        "average", 1600000.0)
      .orderBy("id")

  /** The complete-linkage walk, with the lateral's best-pair selection
    * swapped to average linkage: candidate (A,B) has
    * avg = (Σ cross numerators) / (|A|·|B|) — missing pairs contribute 0
    * to the sum but count in the denominator, exactly the kernel's
    * zero-filled matrix. Threshold avg ≥ 1.6e6 is the integer comparison
    * sm ≥ 1600000·|A|·|B|; ordering replays the kernel's double compare
    * via the identical exact-int division.
    */
  val hierarchicalAverageOracle: String =
    """WITH RECURSIVE
      |c AS (SELECT c_custkey AS k, CAST(round(c_acctbal*100) AS BIGINT) AS balc
      |      FROM customer WHERE c_custkey < 240),
      |se AS (SELECT a.k AS id1, b.k AS id2,
      |              greatest(2000000 - abs(a.balc - b.balc), 0) AS num
      |       FROM c a JOIN c b ON a.k // 4 = b.k // 4 AND a.k < b.k),
      |simp AS (SELECT id1 AS u, id2 AS v, CAST(max(num) AS BIGINT) AS s
      |         FROM se GROUP BY 1, 2),
      |walk(gen, asg) AS (
      |  SELECT 0, (SELECT list(k ORDER BY k) FROM c)
      |  UNION ALL
      |  SELECT w.gen + 1,
      |         list_transform(w.asg, x -> CASE WHEN x = b.g THEN b.l ELSE x END)
      |  FROM walk w
      |  JOIN LATERAL (
      |    SELECT cand.l, cand.g FROM (
      |      SELECT least(w.asg[sp.u + 1], w.asg[sp.v + 1]) AS l,
      |             greatest(w.asg[sp.u + 1], w.asg[sp.v + 1]) AS g,
      |             CAST(sum(sp.s) AS BIGINT) AS sm
      |      FROM simp sp
      |      WHERE w.asg[sp.u + 1] <> w.asg[sp.v + 1]
      |      GROUP BY 1, 2) cand
      |    JOIN (SELECT t.c AS cl, count(*) AS sz FROM unnest(w.asg) AS t(c) GROUP BY 1) sa
      |      ON sa.cl = cand.l
      |    JOIN (SELECT t.c AS cl, count(*) AS sz FROM unnest(w.asg) AS t(c) GROUP BY 1) sb
      |      ON sb.cl = cand.g
      |    WHERE cand.sm >= 1600000 * sa.sz * sb.sz
      |    ORDER BY (CAST(cand.sm AS DOUBLE) / CAST(sa.sz * sb.sz AS DOUBLE)) DESC,
      |             cand.l, cand.g
      |    LIMIT 1) b ON true)
      |SELECT u.m AS id, f.asg[u.m + 1] AS cluster
      |FROM (SELECT asg FROM walk WHERE gen = (SELECT max(gen) FROM walk)) f,
      |     (SELECT k AS m FROM c) u
      |ORDER BY id""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("cluster_connected_components", clusterConnectedComponents, Some(ccOracle)),
    QueryDef("cluster_cc_incremental", clusterCcIncremental, Some(ccIncrementalOracle)),
    QueryDef("cluster_hierarchical_average", clusterHierarchicalAverage,
      Some(hierarchicalAverageOracle)),
    QueryDef("cluster_greedy_one_to_one", clusterGreedyOneToOne, Some(greedyOracle)),
    QueryDef("cluster_centre", clusterCentre, Some(centreOracle)),
    QueryDef("cluster_stable", clusterStable, Some(stableOracle)),
    QueryDef("cluster_max_bipartite", clusterMaxBipartite, None),
    QueryDef("cluster_hierarchical", clusterHierarchical, Some(hierarchicalOracle)),
    QueryDef("cluster_hierarchical_complete", clusterHierarchicalComplete,
      Some(hierarchicalCompleteOracle)),
    QueryDef("cluster_size_dist", clusterSizeDist, Some(sizeDistOracle)),
    QueryDef("cluster_consistency", clusterConsistency, Some(consistencyOracle)),
    QueryDef("cluster_details", clusterDetails, Some(detailsOracle))
  )
}
