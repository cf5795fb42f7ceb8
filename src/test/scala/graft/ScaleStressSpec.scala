package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.clustering.Clusterers

/** Scale-behavior checks: not micro-benchmarks, but proofs that the
  * algorithms keep their asymptotic promises where a naive
  * implementation would blow up.
  */
class ScaleStressSpec extends AnyFunSuite {
  import TestSpark._

  test("connected components converges on a 100k-node path graph (diameter >> rounds)") {
    val spark2 = spark
    import spark2.implicits._
    val n = 100000
    // one path 0-1-2-...-n: worst case for label propagation
    // (O(n) rounds); large-star/small-star must do it in O(log n).
    val edges = spark.range(n - 1).select(
      org.apache.spark.sql.functions.col("id").as("id1"),
      (org.apache.spark.sql.functions.col("id") + 1).as("id2"))
    // localMaxEdges = 0: the star contraction, whatever the edge count
    val labels = Clusterers.connectedComponents(edges, maxIter = 25, localMaxEdges = 0)
    val distinctClusters = labels.select("cluster").distinct().collect()
    assert(distinctClusters.length == 1 && distinctClusters(0).getLong(0) == 0L)
    assert(labels.count() == n)
  }

  test("connected components handles a 100k-degree hub (no per-node adjacency list)") {
    val spark2 = spark
    import spark2.implicits._
    val n = 100000
    // star: node 0 ↔ every other node, plus a tail chain to force mixing.
    // The min per node is a partial-aggregable reduceByKey — a collect_set
    // formulation would materialize a 100k-element list for the hub.
    val star = spark.range(1, n).select(
      org.apache.spark.sql.functions.lit(0L).as("id1"),
      org.apache.spark.sql.functions.col("id").as("id2"))
    val tail = spark.range(n, n + 1000).select(
      org.apache.spark.sql.functions.col("id").as("id1"),
      (org.apache.spark.sql.functions.col("id") + 1).as("id2"))
    val bridge = Seq((0L, n.toLong)).toDF("id1", "id2")
    val labels = Clusterers.connectedComponents(star.union(tail).union(bridge), 25,
      localMaxEdges = 0)
    assert(labels.select("cluster").distinct().count() == 1)
    assert(labels.count() == n + 1001)
  }

  test("salted standard blocker: identical pairs on a hot key, spread over salt reducers") {
    val spark2 = spark
    import spark2.implicits._
    // one hot block key holding 20k left rows (the straggler shape) +
    // a small right side — exactly the case standardSalted is for.
    val l = spark.range(20000).selectExpr("id", "'hot' AS k")
      .union(spark.range(500).selectExpr("id + 100000 AS id", "concat('k', id) AS k"))
    val r = spark.range(50).selectExpr("id + 500000 AS id", "'hot' AS k")
      .union(spark.range(500).selectExpr("id + 600000 AS id", "concat('k', id) AS k"))
    val plain = graft.blocking.Blockers.standard(l.toDF(), r.toDF(), Seq("k"), "id")
    val salted = graft.blocking.Blockers.standardSalted(l.toDF(), r.toDF(), Seq("k"), "id", 8)
    assert(salted.count() == plain.count())
    val h1 = plain.agg(expr("bit_xor(xxhash64(id1, id2))")).collect()(0).getLong(0)
    val h2 = salted.agg(expr("bit_xor(xxhash64(id1, id2))")).collect()(0).getLong(0)
    assert(h1 == h2, "salting must not change the candidate set")
    // the hot key really is spread: left rows hash across all 8 salts
    val spread = l.toDF().filter(col("k") === "hot")
      .select(pmod(xxhash64(col("id")), lit(8L))).distinct().count()
    assert(spread == 8)
  }

  test("fusion voting survives one giant cluster (hot-cluster two-stage aggregate)") {
    val spark2 = spark
    import spark2.implicits._
    // 200k records in cluster 0 (60% 'A', 40% 'B') + 1k singleton clusters
    val big = spark.range(200000).selectExpr("CAST(0 AS BIGINT) AS cluster",
      "CASE WHEN id % 5 < 3 THEN 'A' ELSE 'B' END AS v")
    val small = spark.range(1000).selectExpr("id + 1 AS cluster", "'C' AS v")
    val out = graft.fusion.Fusion.voting(big.union(small).toDF(), "cluster", "v")
    assert(out.count() == 1001)
    val winner = out.filter(col("cluster") === 0).select("v").collect()(0).getString(0)
    assert(winner == "A")
  }

  test("as-of join survives a hot key (100k left + 100k right on one user)") {
    val spark2 = spark
    import spark2.implicits._
    // one user owns the whole history — the window sorts one partition,
    // it must not blow up into anything pairwise (naive as-of is O(L·R)
    // per key; this is O((L+R) log(L+R)))
    val left = spark.range(100000).selectExpr("CAST(1 AS BIGINT) AS k",
      "id * 10 AS ts", "id AS lid")
    val right = spark.range(100000).selectExpr("CAST(1 AS BIGINT) AS k",
      "id * 10 + 5 AS ts", "id AS rid")
    val out = graft.operators.AsofJoin.asofBackward(left.toDF(), right.toDF(), "k", "ts")
    assert(out.count() == 100000)
    // spot-check: left ts=1000 (lid 100) matches right ts=995 (rid 99)
    val hit = out.filter(col("lid") === 100).select("rid").collect()(0).getLong(0)
    assert(hit == 99L)
  }

  test("chunked as-of spreads the hot key over many window partitions, same result") {
    val spark2 = spark
    import spark2.implicits._
    // same 100k×100k single-key history, but through the chunked path:
    // the carry window partitions on (key, chunk) — with chunkWidth
    // 10000 the one hot key becomes ~100 independent sort partitions
    // instead of one partition sorting 200k rows.
    val left = spark.range(100000).selectExpr("CAST(1 AS BIGINT) AS k",
      "id * 10 AS ts", "id AS lid")
    val right = spark.range(100000).selectExpr("CAST(1 AS BIGINT) AS k",
      "id * 10 + 5 AS ts", "id AS rid")
    val out = graft.operators.AsofJoin.asofBackwardChunked(
      left.toDF(), right.toDF(), "k", "ts", chunkWidth = 10000L)
    assert(out.count() == 100000)
    val hit = out.filter(col("lid") === 100).select("rid").collect()(0).getLong(0)
    assert(hit == 99L)
    // boundary carry across a chunk edge: left ts=10000 (lid 1000) is
    // the FIRST row of its chunk; its match rid 999 (ts 9995) lives in
    // the previous chunk and must arrive via the boundary state
    val edge = out.filter(col("lid") === 1000).select("rid").collect()(0).getLong(0)
    assert(edge == 999L)
    // the hot key genuinely spans many chunks
    assert(left.toDF().selectExpr(s"ts div 10000 AS c").distinct().count() == 100)
  }

  test("pair generators grow ~linearly from N to 10N (band/block joins, not quadratic)") {
    val spark2 = spark
    import spark2.implicits._
    import graft.dedup.Dedup

    val small = 1500
    val big = 15000 // 10×

    // Unique per-doc vocabulary → zero accidental cross-doc shingle
    // overlap; every 10th doc gets an identical-text twin. Planted
    // near-dup RATE is constant, so every honest pair generator must
    // produce ~10× the pairs on 10× the docs — a broken banding would
    // go ~100×.
    val mk = "concat_ws(' ', transform(sequence(0, 29), j -> concat('w', id, 'x', j)))"
    def corpus(n: Int) =
      spark.range(n).selectExpr("id AS doc_id", s"$mk AS text")
        .unionByName(spark.range(n).filter("id % 10 = 0")
          .selectExpr("id + 10000000 AS doc_id", s"$mk AS text"))
        .toDF().localCheckpoint(true)
    // FIXED-size eval side (the decontamination shape): 40 probes whose
    // texts equal train docs 0, 10, ..., 390 — present at both scales
    def probes() = spark.range(40)
      .selectExpr("id + 20000000 AS doc_id",
        "concat_ws(' ', transform(sequence(0, 29), j -> concat('w', id * 10, 'x', j))) AS text")
      .toDF().localCheckpoint(true)
    // EmScenario-shaped sides with CONSTANT block selectivity: 20 ids
    // per seg block at every scale → pairs per block constant → total
    // candidates exactly linear
    def emSide(n: Int, off: Long) = spark.range(n).selectExpr(
      s"id + $off AS id", "id div 20 AS seg", "id % 7 AS nat",
      "concat('name', id % 100, 'x', id) AS name")
      .toDF().localCheckpoint(true)

    def timed[T](f: => T): (T, Double) = {
      // min of 2 reps — rep 1 may pay Janino/JIT for the new plan shape
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
      }
      (runs.head._1, runs.map(_._2).min)
    }

    def measure(n: Int): (Seq[Long], Seq[Double]) = {
      val docs = corpus(n); val ev = probes()
      val l = emSide(n, 0); val r = emSide(n, 30000000L)
      val (c1, t1) = timed(Dedup.minhashLsh(docs, "doc_id", "text").count())
      val (c2, t2) = timed(
        Dedup.minhashLshAgainst(docs, ev, "doc_id", "text").count())
      val (c3, t3) = timed {
        val pairs = Dedup.minhashLsh(docs, "doc_id", "text").select("id1", "id2")
        graft.clustering.Clusterers.connectedComponents(pairs).count()
      }
      val (c4, t4) = timed(
        graft.blocking.Blockers.standard(l, r, Seq("seg", "nat"), "id").count())
      (Seq(c1, c2, c3, c4), Seq(t1, t2, t3, t4))
    }

    measure(small) // unmeasured warmup: JIT-compiles every plan shape
    val (cS, tS) = measure(small)
    val (cB, tB) = measure(big)
    val names = Seq("minhash_lsh", "lsh_against_fixed_eval", "dedup_cluster_cc", "standard_block")

    // exact structural counts: twins per corpus and probes are planted
    assert(cS(0) == small / 10 && cB(0) == big / 10)   // pair ratio exactly 10
    assert(cS(1) == cB(1) && cS(1) == 80)              // fixed eval side: constant
    assert(cS(2) == 2L * small / 10 && cB(2) == 2L * big / 10)
    assert(cB(3) == 10 * cS(3) && cS(3) > 0)           // constant-selectivity blocks

    val ratios = names.indices.map(i => tB(i) / math.max(tS(i), 0.05))
    names.zip(ratios).zipWithIndex.foreach { case ((nm, rt), i) =>
      info(f"$nm%-24s small=${tS(i)}%6.2fs big=${tB(i)}%6.2fs ratio=$rt%5.1f× (linear=10×)")
    }
    // The ROW-COUNT asserts above are the exact linearity proof; the
    // wall-clock ratio is a coarse backstop ONLY. A genuinely
    // quadratic generator lands ~100×; suite contention (GC of ~20
    // earlier suites' state, parallel stages) was measured inflating
    // honest runs to 18× in-suite vs ~3× solo (r8, twice), so the
    // ceiling is 30× — still an order of magnitude below quadratic.
    // The exemption fires only when the SMALL run is timer/contention
    // noise (the ratio denominator is meaningless then); the old
    // absolute big-run exemption (tB < 6 s) let a fast super-linear
    // generator skip the check entirely (r8 advice).
    ratios.zip(names).zipWithIndex.foreach { case ((rt, nm), i) =>
      assert(rt < 30.0 || tS(i) < 0.3,
        s"$nm grew ${rt}× from N to 10N (small=${tS(i)}s big=${tB(i)}s) — super-linear")
    }
  }

  test("r8 ops keep their bounds at 10×: line-dedup winner rows, banding fanout, quantile output") {
    val spark2 = spark
    import spark2.implicits._
    def corpus(n: Int) = spark.range(n).select(col("id").as("doc_id"),
      concat_ws("\n",
        lit("shared boilerplate header line repeated in every doc"),
        concat(lit("unique body line number "), col("id"),
          lit(" with enough words to be eligible"))).as("text"))
      .localCheckpoint(true)
    for (n <- Seq(20000, 200000)) {
      val docs = corpus(n)
      // line dedup: the shared header collapses to ONE surviving copy —
      // the winner aggregate shuffles one row per DISTINCT line, so
      // output lines = n (bodies) + 1 (header), exactly, at any n
      val ld = graft.text.TextOps.lineDedup(docs, "doc_id", "text", 5)
      assert(ld.agg(sum("n_kept")).collect()(0).getLong(0) == n.toLong + 1L)
      // banding: long-form band frame is EXACTLY bands × docs rows —
      // the streaming admission join's stream-side fanout is constant
      assert(graft.dedup.Dedup.bandedLong(docs, "doc_id", "text").count() == 4L * n)
      // distributed selection: |qs| output rows regardless of n, and
      // the p500 of ids 0..n-1 is exactly ceil(n/2)-1
      val q = graft.profiling.Profiler.quantilesDisc(
        docs.select(col("doc_id")), "doc_id", col("doc_id"), Seq(500, 999))
      val rows = q.collect().map(r => (r.getInt(1), r.getLong(2))).toMap
      assert(rows.size == 2 && rows(500) == (n.toLong + 1) / 2 - 1)
    }
  }

  test("dedup/text hot list grows ~linearly sf0.001 -> sf0.01 -> sf0.1 (the r8 bench top spenders)") {
    // The 100 TB claims for the dedup/text families were design-audited
    // but not growth-measured (r8 verdict ask #4): run the suite's most
    // expensive members of those families on the REAL test tables at
    // three scale factors and pin the 10× transitions. Row-count bounds
    // are asserted where the operator's contract fixes them (top-k /
    // per-doc outputs); wall-clock ratios are the coarse backstop with
    // the same noise exemption as the synthetic-generator tests.
    // r10 adds the sketch/bloom newcomers: the whole point of a sketch
    // is sublinear state — bloom's per-doc output must scale exactly
    // with docs while the sketch summaries stay constant-size.
    val hot = Seq("dedup_containment", "dedup_eval", "text_bm25",
      "mine_assoc_rules", "text_substring_dedup",
      "text_bloom_contamination", "profile_cms_topk", "profile_hll")
    def timeAll(sfDir: String): Map[String, (Double, Long)] = hot.map { name =>
      val fn = SparkEntry.queries(name)
      // min of 2 reps: rep 1 pays Janino for each new plan shape
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      Harness.clear(spark)
      name -> (runs.map(_._1).min, runs.head._2)
    }.toMap
    timeAll("/root/testdata/sf0.001") // warmup: JIT + codegen per plan shape
    val t1 = timeAll("/root/testdata/sf0.001")
    val t2 = timeAll("/root/testdata/sf0.01")
    val t3 = timeAll("/root/testdata/sf0.1")
    hot.foreach { name =>
      info(f"$name%-22s sf0.001=${t1(name)._1}%6.2fs sf0.01=${t2(name)._1}%6.2fs " +
        f"sf0.1=${t3(name)._1}%6.2fs rows=${t1(name)._2}/${t2(name)._2}/${t3(name)._2}")
    }
    // contract-fixed output shapes: the evaluator is always 1 row, the
    // rule miner is top-50-capped, and per-doc outputs scale exactly
    // with the documents table (sf0.01 -> sf0.1 is 10× docs). The
    // containment pair list is data-dependent (planted dups per doc) —
    // linear in docs, pinned by the 10× transition below.
    assert(t1("dedup_eval")._2 == 1 && t3("dedup_eval")._2 == 1)
    assert(t3("mine_assoc_rules")._2 <= 50)
    // sketch contracts: summaries are constant-size at ANY scale,
    // top-k output is k-bounded, bloom flags are exactly one per doc
    assert(t1("profile_hll")._2 == 1 && t3("profile_hll")._2 == 1)
    assert(t3("profile_cms_topk")._2 == 20)
    assert(t3("text_bloom_contamination")._2 == 10 * t2("text_bloom_contamination")._2)
    assert(t3("text_substring_dedup")._2 == 10 * t2("text_substring_dedup")._2)
    assert(t3("dedup_containment")._2 <= 11 * t2("dedup_containment")._2,
      s"containment pairs grew super-linearly: ${t2("dedup_containment")._2} -> ${t3("dedup_containment")._2}")
    // wall-clock backstop on BOTH 10× transitions, noise-exempted like
    // the generator tests (ratio meaningless when the small run is noise)
    for ((a, b, lbl) <- Seq((t1, t2, "sf0.001->0.01"), (t2, t3, "sf0.01->0.1"));
         name <- hot) {
      val rt = b(name)._1 / math.max(a(name)._1, 0.05)
      assert(rt < 30.0 || a(name)._1 < 0.3,
        s"$name grew ${rt}× over $lbl (small=${a(name)._1}s big=${b(name)._1}s) — super-linear")
    }
  }

  test("graph family grows ~linearly from N to 10N (degree-bounded wedges, nodes-bounded pagerank)") {
    val spark2 = spark
    import spark2.implicits._
    import graft.graph.{PageRank, Triangles}
    // chord graph: node i → i+1 .. i+6; constant degree, so an honest
    // degree-ordered triangle kernel enumerates O(N) wedges and the
    // pagerank sweep shuffles O(N) edge rows — the local stand-in for
    // the 100 TB claim on the graph family.
    val d = 6
    val small = 15000
    val big = 150000 // 10×
    def graph(n: Int) = {
      val nodes = spark.range(n).select(col("id").as("v")).localCheckpoint(true)
      val edges = spark.range(n)
        .select(col("id").as("id1"), explode(sequence(lit(1), lit(d))).as("_o"))
        .select(col("id1"), (col("id1") + col("_o")).as("id2"))
        .filter(col("id2") < n)
        .toDF().localCheckpoint(true)
      (nodes, edges)
    }
    def timed[T](f: => T): (T, Double) = {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
      }
      (runs.head._1, runs.map(_._2).min)
    }
    def measure(n: Int): (Seq[Long], Seq[Double]) = {
      val (nodes, edges) = graph(n)
      // edge count is exact: Σ_i |{i+1..i+d} ∩ [0,n)| = n·d − d(d+1)/2
      assert(edges.count() == n.toLong * d - d * (d + 1) / 2)
      // wedge work the triangle kernel actually enumerates
      val (w, tw) = timed(
        Triangles.orientedEdges(edges).groupBy("src").count()
          .agg(sum(expr("count * (count - 1) div 2"))).collect()(0).getLong(0))
      val (t, tt) = timed(
        Triangles.vertexTriangles(nodes, edges).agg(sum("triangles"))
          .collect()(0).getLong(0))
      val pe = edges.select(col("id1").as("src"), col("id2").as("dst"), lit(1L).as("w"))
      val (p, tp) = timed(
        PageRank.run(nodes, pe, iters = 5).agg(sum("rank_scaled"))
          .collect()(0).getLong(0))
      assert(p > 0 && p <= 1000000000000L) // floors leak mass, never create it
      (Seq(w, t), Seq(tw, tt, tp))
    }
    measure(small) // unmeasured warmup: JIT-compiles every plan shape
    val (cS, tS) = measure(small)
    val (cB, tB) = measure(big)
    // interior node i (i ≥ d, i < n−2d): every (a,b), a,b ≥ 1, a+b ≤ d
    // closes a triangle (i, i+a, i+a+b) → counts are ~N·C(d,2); assert
    // the measured 10× growth window instead of the boundary-exact sum
    val names = Seq("tri_wedges", "tri_counts", "pagerank_5_sweeps")
    assert(cS(0) > 0 && cS(1) > 0)
    assert(cB(0) >= 8 * cS(0) && cB(0) <= 12 * cS(0),
      s"wedge growth not ~linear: ${cS(0)} → ${cB(0)}")
    assert(cB(1) >= 8 * cS(1) && cB(1) <= 12 * cS(1),
      s"triangle growth not ~linear: ${cS(1)} → ${cB(1)}")
    val ratios = names.indices.map(i => tB(i) / math.max(tS(i), 0.05))
    names.zip(ratios).zipWithIndex.foreach { case ((nm, rt), i) =>
      info(f"$nm%-20s small=${tS(i)}%6.2fs big=${tB(i)}%6.2fs ratio=$rt%5.1f× (linear=10×)")
    }
    // same backstop semantics as the pair-generator test: the row
    // counts above are the exact linearity proof; 30× ceiling, with
    // the exemption tied to a noise-level SMALL run (not the big run's
    // absolute time, which exempted fast super-linear work — r8 advice)
    ratios.zip(names).zipWithIndex.foreach { case ((rt, nm), i) =>
      assert(rt < 30.0 || tS(i) < 0.3,
        s"$nm grew ${rt}× from N to 10N (small=${tS(i)}s big=${tB(i)}s) — super-linear")
    }
  }

  test("token blocker cap keeps a pathological stop-word key sub-quadratic") {
    val spark2 = spark
    import spark2.implicits._
    val l = spark.range(3000).selectExpr("id", "concat('common tok', id) AS t")
    val r = spark.range(3000).selectExpr("id + 1000000 AS id", "concat('common tok', id) AS t")
    // 'common' hits every row → 9M pairs uncapped; the cap prunes it and
    // only the unique tokN tokens pair up.
    val pairs = graft.blocking.Blockers.token(l.toDF(), r.toDF(), "t", "id",
      minTokenLen = 2, maxPairsPerToken = Some(100000L))
    assert(pairs.count() == 3000)
  }
}
