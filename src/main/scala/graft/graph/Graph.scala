package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph analytics over edge frames — the web/link-graph
  * layer of a training-data pipeline (host ranking à la Common Crawl,
  * near-dup-graph centrality, community sanity checks).
  *
  * Design for 100 TB: the EXPENSIVE step is always deriving the edge
  * frame from fact data (big shuffles, done once, declaratively); the
  * iterative step then runs on the aggregated graph, which is orders
  * of magnitude smaller (nodes²-bounded, not fact-bounded). Both
  * stages stay DataFrames — no driver-side adjacency structures.
  *
  * Everything is EXACT integer arithmetic so results are
  * bit-identical across engines and shuffle orders: transition
  * probabilities are pre-quantized to 1e-6 granularity, rank mass
  * lives on a 1e12 integer scale, and every division is a
  * non-negative floor division (Spark `div` ≡ DuckDB `//` on
  * non-negatives — they differ on negatives, so signs are a
  * documented precondition).
  */
object PageRank {

  /** Quantized-transition PageRank, `iters` synchronous sweeps.
    *
    * `edges`: (src, dst, w) with w > 0 (long); `nodes`: one column `v`
    * covering every vertex (isolated vertices allowed — they keep the
    * teleport mass). Returns (v, rank_scaled, rank) where rank_scaled
    * is the exact integer state (Σ ≤ scale) and rank = rank_scaled /
    * scale as one IEEE division.
    *
    *   s[u,v]   = (w[u,v] · damp%·pscale) div Σw[u,·]   (edge share,
    *              damping folded in, quantized to 1/pscale)
    *   r₀[v]    = scale div N
    *   r_{t+1}[v] = (teleport%·scale) div N
    *              + Σ_u (r_t[u] · s[u,v]) div pscale
    *
    * Overflow bounds (documented contract, asserted nowhere hot):
    * w·damp%·pscale ≤ Long.Max needs w ≲ 1.1e11 (edge weight =
    * lineitem-count scale is fine even at 100 TB); r·s ≤
    * scale·damp%·pscale ≈ 8.5e17 < Long.Max always. Mass floored away
    * by quantization (and through dangling nodes) simply leaks —
    * ranks are a lower bound that every engine agrees on bit-for-bit.
    *
    * The loop is a fixed unroll of tiny join+agg stages over the
    * PERSISTED aggregated graph — without the persist, every
    * iteration would re-derive the edge frame from the fact tables
    * (lineage re-execution), turning 10 sweeps into 10 fact scans.
    */
  def run(nodes: DataFrame, edges: DataFrame, iters: Int = 10,
          dampPct: Long = 85, scale: Long = 1000000000000L,
          pscale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && dampPct >= 0 && dampPct <= 100)
    val sNum = dampPct * pscale / 100 // exact: pscale is a multiple of 100
    val wsum = edges.groupBy("src").agg(sum("w").as("wt"))
    // r13 measured-and-REJECTED: repartitioning e by src / bases by v
    // and MERGE-hinting both per-sweep joins (co-partitioned, zero new
    // exchange, no per-sweep broadcast build) ran 7.47 s vs 5.62 s for
    // this shape at sf0.1 (interleaved A/B, min-of-5, identical
    // hashes) — per-sweep SMJ sorts cost more than broadcasting the
    // rank frame. The sole caller ranks a NATION-level graph whose
    // node count is fixed at 25 at any data scale, so the broadcast
    // plan is the scale-correct one here; a billion-node rank loop
    // should co-partition instead (the rejected variant:
    // `git show 0b2f524:src/main/scala/graft/tools/R13Probe.scala`).
    val e = edges.join(wsum, "src")
      .select(col("src"), col("dst"),
        expr(s"(w * ${sNum}L) div wt").as("s"))
      .persist()
    val nn = nodes.agg(count(lit(1)).as("nn"))
    val bases = nodes.crossJoin(broadcast(nn))
      .select(col("v"),
        expr(s"(${scale / 100 * (100 - dampPct)}L div nn)").as("base"),
        expr(s"(${scale}L div nn)").as("r0"))
      .persist()
    var ranks = bases.select(col("v"), col("r0").as("r"))
    for (_ <- 1 to iters) {
      val contribs = e.join(ranks, e("src") === ranks("v"))
        .groupBy("dst").agg(sum(expr("(r * s) div " + pscale)).as("c"))
      ranks = bases.join(contribs, bases("v") === contribs("dst"), "left")
        .select(bases("v"),
          (col("base") + coalesce(col("c"), lit(0L))).as("r"))
    }
    ranks.select(col("v"), col("r").as("rank_scaled"),
      (col("r").cast("double") / lit(scale.toDouble)).as("rank"))
  }

  /** The identical computation as DuckDB SQL text: the caller supplies
    * CTEs `nodes(v)` and `edges(src, dst, w)`; this emits the chained
    * unrolled-iteration CTEs and a final select (v, rank_scaled,
    * rank). `//` is DuckDB floor division ≡ Spark `div` on the
    * non-negative domain used here.
    */
  def oracleSql(iters: Int = 10, dampPct: Long = 85,
                scale: Long = 1000000000000L,
                pscale: Long = 1000000L): String = {
    val sNum = dampPct * pscale / 100
    val base = scale / 100 * (100 - dampPct)
    val steps = (1 to iters).map { t =>
      s"""r$t AS (SELECT b.v, (b.base + coalesce(c.c, 0)) AS r
         |  FROM b LEFT JOIN (
         |    SELECT e.dst AS v, CAST(sum((p.r * e.s) // $pscale) AS BIGINT) AS c
         |    FROM e JOIN r${t - 1} p ON p.v = e.src GROUP BY 1) c
         |  ON c.v = b.v)""".stripMargin
    }
    s"""wsum AS (SELECT src, CAST(sum(w) AS BIGINT) AS wt FROM edges GROUP BY 1),
       |e AS (SELECT src, dst, (CAST(w AS BIGINT) * $sNum) // wt AS s
       |      FROM edges JOIN wsum USING (src)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
       |b AS (SELECT v, ($base // nn) AS base, ($scale // nn) AS r0
       |      FROM nodes, nn),
       |r0 AS (SELECT v, r0 AS r FROM b),
       |${steps.mkString(",\n")}
       |""".stripMargin
  }
}

/** Exact triangle counting by DEGREE-ordered edge orientation (the
  * "compact-forward" standard): orient every undirected edge from its
  * lower-(degree, id) endpoint to the higher, enumerate wedges at each
  * apex between order-distinct out-neighbours, close with the oriented
  * (b, c) edge. Each triangle is counted exactly once, and — because
  * the orientation is by DEGREE, not id — the wedge fanout at any apex
  * is bounded by its ordered out-degree ≤ O(√m): a hub's wedges are
  * charged to its (low-degree) neighbours regardless of how ids were
  * assigned, which an id-based orientation cannot guarantee (a hub with
  * a small id would fan out O(d²)). Two equi-join shuffles on node
  * keys; no driver state.
  */
object Triangles {

  /** `edges`: undirected (id1, id2) pairs, any orientation, possibly
    * with duplicates/self-loops (both are dropped). Returns one row
    * per vertex: (v, triangles) — vertex-local triangle counts (each
    * triangle increments all three corners), plus the degree, i.e.
    * the inputs of a local clustering coefficient. Isolated vertices
    * of `nodes` appear with zeros.
    */
  def vertexTriangles(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val und = canonical(edges).persist()
    val deg = degreesOf(und)
    val ed = orient(und, deg).persist()
    // wedges at apex src between order-distinct out-neighbours; the
    // closing edge (tb, tc) is oriented tb→tc under the same order.
    val nbOrder = col("x.dd") < col("y.dd") ||
      (col("x.dd") === col("y.dd") && col("x.dst") < col("y.dst"))
    val w = ed.as("x").join(ed.as("y"), col("x.src") === col("y.src") && nbOrder)
      .select(col("x.src").as("ta"), col("x.dst").as("tb"), col("y.dst").as("tc"))
    val tris = w.join(ed.as("z"),
      col("tb") === col("z.src") && col("tc") === col("z.dst"))
      .select("ta", "tb", "tc")
    val perVertex = tris.select(explode(array(col("ta"), col("tb"), col("tc"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("t"))
    nodes.join(deg, Seq("v"), "left").join(perVertex, Seq("v"), "left")
      .select(col("v"), coalesce(col("d"), lit(0L)).as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"))
  }

  /** The degree-ordered oriented edge frame (src, dst, dd) for an
    * arbitrary undirected pair list — exposed so specs can assert the
    * wedge bound directly: wedges enumerated = Σ_v C(outdeg(v), 2),
    * which degree ordering keeps ≤ O(m^1.5) no matter where the hubs'
    * ids fall.
    */
  def orientedEdges(edges: DataFrame): DataFrame = {
    val und = canonical(edges)
    orient(und, degreesOf(und))
  }

  /** Canonical undirected edge set: a < b, self-loops and duplicate /
    * reversed copies dropped.
    */
  private[graph] def canonical(edges: DataFrame): DataFrame =
    edges.select(col("id1").as("u"), col("id2").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()

  private def degreesOf(und: DataFrame): DataFrame =
    und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))

  /** Orient a→b iff (deg(a), a) < (deg(b), b) — a deterministic total
    * order (id tie-break), replayed verbatim by the oracle's CTEs.
    * `dd` carries the dst's degree so the wedge join can order the two
    * out-neighbours by the SAME total order without a third deg join.
    */
  private def orient(und: DataFrame, deg: DataFrame): DataFrame = {
    val aFirst = col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(when(aFirst, col("a")).otherwise(col("b")).as("src"),
        when(aFirst, col("b")).otherwise(col("a")).as("dst"),
        when(aFirst, col("db")).otherwise(col("da")).as("dd"))
  }

  /** DuckDB replica over caller CTEs `nodes(v)` / `edges(id1, id2)`:
    * emits CTEs ending in `tri(v, degree, triangles)` — the same
    * degree-ordered orientation via a degree CTE.
    */
  val oracleSql: String =
    """und AS (SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
      |        FROM edges WHERE id1 <> id2),
      |dg AS (SELECT v, CAST(count(*) AS BIGINT) AS d
      |       FROM (SELECT unnest([a, b]) AS v FROM und) GROUP BY 1),
      |ed AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |                   THEN u.a ELSE u.b END AS src,
      |              CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |                   THEN u.b ELSE u.a END AS dst,
      |              CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b)
      |                   THEN db.d ELSE da.d END AS dd
      |       FROM und u JOIN dg da ON da.v = u.a JOIN dg db ON db.v = u.b),
      |tr AS (SELECT x.src AS ta, x.dst AS tb, y.dst AS tc
      |       FROM ed x JOIN ed y ON y.src = x.src
      |         AND (x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst))
      |       JOIN ed z ON z.src = x.dst AND z.dst = y.dst),
      |pv AS (SELECT v, CAST(count(*) AS BIGINT) AS t
      |       FROM (SELECT unnest([ta, tb, tc]) AS v FROM tr) GROUP BY 1),
      |tri AS (SELECT nodes.v, coalesce(dg.d, 0) AS degree,
      |          coalesce(pv.t, 0) AS triangles
      |        FROM nodes LEFT JOIN dg USING (v) LEFT JOIN pv USING (v))""".stripMargin
}

/** k-core decomposition by synchronous peeling: drop every vertex
  * whose degree in the induced subgraph is < k, repeat to fixpoint.
  * Each sweep is two equi-joins (edge ends against the alive set) and
  * one count aggregate — edges-bounded shuffles, no driver state
  * beyond one scalar count per sweep. Peel depth is data-dependent
  * (bounded by `maxIter`, default 30; random sparse graphs converge
  * in O(log n)-ish sweeps — the bench graph takes ≤ 8); lineage is
  * truncated per sweep with an eager localCheckpoint so plan size
  * stays constant across iterations.
  */
object KCore {

  /** `edges`: undirected (id1, id2) pairs, any orientation (loops and
    * duplicates dropped). Returns the members of the k-core with
    * their induced ("core") degree: (v, core_degree), one row per
    * surviving vertex. Empty when the graph has no k-core.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 30): DataFrame = {
    require(k >= 1 && maxIter >= 1)
    val und = Triangles.canonical(edges)
    // both directions: degree of v = out-rows of v in the symmetric frame
    val sym = und.select(col("a").as("v"), col("b").as("o"))
      .unionByName(und.select(col("b").as("v"), col("a").as("o")))
      .localCheckpoint(true)
    var alive = sym.select("v").distinct().localCheckpoint(true)
    var n = alive.count()
    var it = 0
    var converged = false
    // The alive set is nodes-bounded and tracked exactly (n) — below
    // the threshold each sweep's two joins broadcast it instead of
    // shuffling the (much larger) symmetric edge frame twice per
    // sweep. Billion-node graphs stay on the shuffle path.
    def aliveSide(as: String) = {
      val a = alive.select(col("v").as(as))
      if (n < 5000000L) broadcast(a) else a
    }
    while (!converged && it < maxIter) {
      val next = sym
        .join(aliveSide("v"), "v")
        .join(aliveSide("o"), "o")
        .groupBy("v").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select("v")
        .localCheckpoint(true)
      val m = next.count()
      converged = m == n
      n = m
      alive = next
      it += 1
    }
    sym
      .join(aliveSide("v"), "v")
      .join(aliveSide("o"), "o")
      .groupBy("v").agg(count(lit(1)).as("core_degree"))
  }

  /** DuckDB replica over a caller CTE `edges(id1, id2)`: emits
    * recursive-peel CTEs ending in `core(v, core_degree)`. The walk
    * carries the alive set as a sorted list and stops at fixpoint
    * (the LATERAL emits a row only while the set still shrinks) —
    * the same data-dependent depth the Spark loop runs.
    */
  def oracleSql(k: Int): String =
    s"""und AS MATERIALIZED (
       |  SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
       |  FROM edges WHERE id1 <> id2),
       |sym AS MATERIALIZED (
       |  SELECT a AS v, b AS o FROM und UNION ALL SELECT b, a FROM und),
       |walk(gen, alive) AS (
       |  SELECT 0, (SELECT list(DISTINCT v ORDER BY v) FROM sym)
       |  UNION ALL
       |  SELECT w.gen + 1, nxt.l FROM walk w
       |  JOIN LATERAL (
       |    SELECT list(t.v ORDER BY t.v) AS l FROM (
       |      SELECT e.v FROM sym e
       |      JOIN (SELECT unnest(w.alive) AS v) x ON x.v = e.v
       |      JOIN (SELECT unnest(w.alive) AS v) y ON y.v = e.o
       |      GROUP BY e.v HAVING count(*) >= $k) t
       |  ) nxt ON coalesce(len(nxt.l), 0) < len(w.alive)),
       |fin AS (SELECT alive FROM walk WHERE gen = (SELECT max(gen) FROM walk)),
       |core AS (SELECT e.v, CAST(count(*) AS BIGINT) AS core_degree
       |         FROM sym e
       |         JOIN (SELECT unnest(f.alive) AS v FROM fin f) x ON x.v = e.v
       |         JOIN (SELECT unnest(f.alive) AS v FROM fin f) y ON y.v = e.o
       |         GROUP BY e.v)""".stripMargin
}

/** Synchronous label propagation (Raghavan et al. 2007) — the cheap
  * community-detection pass a pipeline runs over near-dup / co-purchase
  * graphs before per-community work. Deterministic variant: a fixed
  * number of synchronous sweeps; each node adopts the most frequent
  * neighbour label, ties broken by smallest label — so the result is a
  * pure function of the graph, independent of shuffle order.
  *
  * Scale shape: adjacency is the persisted distinct symmetrized edge
  * frame; each sweep is one equi-join + one map-side-combining agg
  * (argmax via `min(struct(-cnt, label))`, never a per-node window);
  * isolated nodes keep their own label through the left join.
  */
object Lpa {

  /** `nodes`: one column `v`; `pairs`: (id1, id2) undirected, dups ok.
    * Returns (v, label, community_size), labels seeded with `v`.
    */
  def run(nodes: DataFrame, pairs: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1)
    val und = pairs.filter(col("id1") =!= col("id2"))
      .select(least(col("id1"), col("id2")).as("a"),
        greatest(col("id1"), col("id2")).as("b"))
      .distinct()
    // Partition the (big) adjacency by the join key ONCE and persist:
    // every sweep's join then reuses the cached partitioning and only
    // the nodes-bounded label frame moves — the edge frame never
    // reshuffles across sweeps (measured at sf0.1: 6.7 → ~4 s for 4
    // sweeps). SHUFFLE_HASH on the label side skips the per-sweep
    // sort-merge sorts of the edge partitions.
    val adj = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("dst"))
      .persist()
    var labels = nodes.select(col("v"), col("v").as("label"))
    // measured: broadcasting the nodes-bounded label frame is NEUTRAL
    // here (±0.3 s at sf0.1) — unlike k-core's shrinking alive set, the
    // label frame never shrinks, and the per-sweep agg shuffle
    // dominates either way. Plain shuffle joins keep the plan uniform
    // at every node count.
    for (_ <- 1 to iters) {
      val counts = adj.join(labels.withColumnRenamed("v", "dst").hint("SHUFFLE_HASH"), "dst")
        // one exchange shared by BOTH agg stages below:
        // HashPartitioning(src) satisfies the (src, label) clustering,
        // so neither groupBy adds another shuffle
        .repartition(col("src"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val winner = counts
        .groupBy(col("src"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label"))).as("m"))
        .select(col("src").as("v"), col("m.label").as("wl"))
      labels = labels.join(winner, Seq("v"), "left")
        .select(col("v"), coalesce(col("wl"), col("label")).as("label"))
        .localCheckpoint(true) // keep the sweep plans flat
    }
    adj.unpersist(false)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "label").select(col("v"), col("label"), col("community_size"))
  }

  /** DuckDB replica over caller CTEs `nodes(v)` and `edges(id1, id2)`:
    * unrolled sweeps ending in `lpa(v, label, community_size)`. The
    * argmax here is a row_number window — a deliberately different
    * circuit from the engine's min(struct) that must agree exactly.
    */
  def oracleSql(iters: Int = 4): String = {
    val steps = (1 to iters).map { t =>
      s"""c$t AS (SELECT a.src, p.label, CAST(count(*) AS BIGINT) AS cnt
         |  FROM adj a JOIN l${t - 1} p ON p.v = a.dst GROUP BY 1, 2),
         |w$t AS (SELECT src, label,
         |          row_number() OVER (PARTITION BY src ORDER BY cnt DESC, label) AS rn
         |        FROM c$t),
         |l$t AS (SELECT p.v, coalesce(w.label, p.label) AS label
         |        FROM l${t - 1} p
         |        LEFT JOIN (SELECT src, label FROM w$t WHERE rn = 1) w ON w.src = p.v)""".stripMargin
    }
    s"""und AS (
       |  SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
       |  FROM edges WHERE id1 <> id2),
       |adj AS (SELECT a AS src, b AS dst FROM und
       |        UNION ALL SELECT b, a FROM und),
       |l0 AS (SELECT v, v AS label FROM nodes),
       |${steps.mkString(",\n")},
       |sizes AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
       |          FROM l$iters GROUP BY 1),
       |lpa AS (SELECT l.v, l.label, s.community_size
       |        FROM l$iters l JOIN sizes s USING (label))""".stripMargin
  }
}

/** Common-neighbour link prediction — the classic graph-completion
  * score (Liben-Nowell & Kleinberg): rank NON-adjacent pairs by the
  * Jaccard of their neighbourhoods. Candidates are exactly the 2-hop
  * pairs (one wedge join over the symmetrized adjacency — the same
  * frame the triangle/k-core family derives), minus existing edges via
  * one anti join; scores are exact integer milli (cn·1000 div
  * (d₁+d₂−cn)). Wedge fanout is apex-degree-bounded — on the derived
  * co-purchase graphs bucket occupancy bounds it (see GraphQueries);
  * for skewed host graphs cap apex degree or sample wedges per apex.
  */
object LinkPredict {

  /** `pairs`: undirected (id1, id2), dups ok. Returns the top-`k`
    * predicted links (id1 < id2): (id1, id2, common_neighbors,
    * jaccard_milli), ordered by score desc with (id1, id2) tie-break.
    */
  def topK(pairs: DataFrame, k: Int = 100): DataFrame = {
    val und = pairs.filter(col("id1") =!= col("id2"))
      .select(least(col("id1"), col("id2")).as("a"),
        greatest(col("id1"), col("id2")).as("b"))
      .distinct()
      .persist()
    val sym = und.select(col("a").as("v"), col("b").as("o"))
      .unionAll(und.select(col("b").as("v"), col("a").as("o")))
    val deg = sym.groupBy("v").agg(count(lit(1)).as("d"))
    val cand = sym.as("x").join(sym.as("y"),
        col("x.v") === col("y.v") && col("x.o") < col("y.o"))
      .select(col("x.o").as("a"), col("y.o").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("cn"))
      .join(und, Seq("a", "b"), "left_anti")
    val out = cand
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(col("a").as("id1"), col("b").as("id2"),
        col("cn").as("common_neighbors"),
        expr("cn * 1000 div (da + db - cn)").as("jaccard_milli"))
      .orderBy(col("jaccard_milli").desc, col("common_neighbors").desc,
        col("id1"), col("id2"))
      .limit(k)
    out.localCheckpoint(true)
  }

  /** DuckDB replica over a caller CTE `edges(id1, id2)`: ends in
    * `lp_top(id1, id2, common_neighbors, jaccard_milli)` (same order,
    * same limit).
    */
  def oracleSql(k: Int = 100): String =
    s"""und AS (
       |  SELECT DISTINCT least(id1, id2) AS a, greatest(id1, id2) AS b
       |  FROM edges WHERE id1 <> id2),
       |sym AS (SELECT a AS v, b AS o FROM und UNION ALL SELECT b, a FROM und),
       |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1),
       |cn AS (
       |  SELECT x.o AS a, y.o AS b, CAST(count(*) AS BIGINT) AS cn
       |  FROM sym x JOIN sym y ON y.v = x.v AND x.o < y.o
       |  GROUP BY 1, 2),
       |cand AS (
       |  SELECT c.a, c.b, c.cn FROM cn c
       |  LEFT JOIN und u ON u.a = c.a AND u.b = c.b WHERE u.a IS NULL),
       |lp_top AS (
       |  SELECT c.a AS id1, c.b AS id2, c.cn AS common_neighbors,
       |         c.cn * 1000 // (dx.d + dy.d - c.cn) AS jaccard_milli
       |  FROM cand c JOIN deg dx ON dx.v = c.a JOIN deg dy ON dy.v = c.b
       |  ORDER BY jaccard_milli DESC, common_neighbors DESC, id1, id2
       |  LIMIT $k)""".stripMargin
}
