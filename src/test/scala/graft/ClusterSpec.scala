package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.clustering.{Clusterers, ComponentKernels}
import graft.clustering.ComponentKernels.Edge

class ClusterSpec extends AnyFunSuite {
  import TestSpark._

  /** Reference labels: every endpoint of a non-self-loop edge → the
    * minimum id of its component (quadratic, for small graphs). */
  def ccReference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.filter(e => e._1 != e._2)
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(v => v -> v): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    es.foreach { case (a, b) => parent(find(a)) = find(b) }
    nodes.map(v => v -> nodes.filter(u => find(u) == find(v)).min).toMap
  }

  def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Random edges over `n` ids centred on 0 (negative ids included),
    * with self-loops and duplicated, reversed edges. */
  def messyEdges(rnd: Random, n: Int, m: Int): Seq[(Long, Long)] = {
    val base = Seq.fill(m)(((rnd.nextInt(n) - n / 2).toLong, (rnd.nextInt(n) - n / 2).toLong))
    base ++ base.take(m / 5).map(_.swap) ++ base.take(m / 10) ++
      Seq.fill(5)(rnd.nextInt(n).toLong).map(v => (v, v))
  }

  test("connected components match union-find on random graphs") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val edges = messyEdges(rnd, 60, 50)
      val df = edges.toDF("id1", "id2")
      val expect = ccReference(edges)
      assert(labelMap(Clusterers.connectedComponents(df)) == expect, s"one-pass, trial $trial")
      assert(labelMap(Clusterers.connectedComponents(df, 25, localMaxEdges = 0)) == expect,
        s"multi-round, trial $trial")
    }
  }

  test("connected components of an empty edge frame: empty (long, long) labels on both paths") {
    val spark2 = spark
    import spark2.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id1", "id2")
    for (local <- Seq(Clusterers.LocalMaxEdges, 0)) {
      val out = Clusterers.connectedComponents(empty, 25, local)
      assert(out.count() == 0, s"localMaxEdges $local")
      assert(out.schema.map(f => (f.name, f.dataType.typeName)) ==
        Seq(("id", "long"), ("cluster", "long")), s"localMaxEdges $local")
    }
  }

  test("connected components cap their partitions at the session's shuffle partitions") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(11)
    val raw = messyEdges(rnd, 300, 400)
    val wide = raw.toDF("id1", "id2").repartition(48)
    assert(wide.rdd.getNumPartitions == 48)
    val out = Clusterers.connectedComponents(wide, 25, localMaxEdges = 0)
    assert(labelMap(out) == ccReference(raw))
    assert(labelMap(Clusterers.connectedComponents(wide)) == ccReference(raw))
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(out.rdd.getNumPartitions <= shufflePartitions,
      s"${out.rdd.getNumPartitions} label partitions for $shufflePartitions shuffle partitions")
  }

  test("connected components of a small graph run at most 2 Spark jobs") {
    val spark2 = spark
    import spark2.implicits._
    val edges = messyEdges(new Random(5), 200, 300).toDF("id1", "id2")
    val counter = new Harness.Counter(spark)
    try {
      val before = counter.now()
      val labels = Clusterers.connectedComponents(edges).collect()
      val ran = counter.now() - before
      assert(labels.nonEmpty)
      assert(ran.jobs <= 2, s"${ran.jobs} jobs")
    } finally counter.close()
  }

  /** A random scored graph and the greedy 1:1 kernel run on each of its
    * reference components, as (id1, id2, score) rows. */
  def greedyCase(seed: Int): (DataFrame, Set[(Long, Long, Double)]) = {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(seed)
    val scored = messyEdges(rnd, 80, 70).map { case (a, b) =>
      (a, b, math.rint(rnd.nextDouble() * 20) / 20)
    }
    val comp = ccReference(scored.map(e => (e._1, e._2)))
    val want = scored.filter(e => comp.contains(e._1))
      .map(e => Edge(e._1, e._2, e._3)).groupBy(e => comp(e.id1)).values
      .flatMap(ComponentKernels.greedyOneToOne).map(e => (e.id1, e.id2, e.score)).toSet
    (scored.toDF("id1", "id2", "score"), want)
  }

  def greedyRows(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("greedy 1:1 per component, one-pass path: equals the kernel on each component") {
    for (seed <- 1 to 3) {
      val (scored, want) = greedyCase(seed)
      val got = Clusterers.perComponent(scored)(ComponentKernels.greedyOneToOne).toDF()
      assert(greedyRows(got) == want, s"seed $seed")
    }
  }

  test("greedy 1:1 per component, multi-round path: equals the kernel on each component") {
    for (seed <- 1 to 3) {
      val (scored, want) = greedyCase(seed)
      val got = Clusterers.perComponent(scored, localMaxEdges = 0)(
        ComponentKernels.greedyOneToOne).toDF()
      assert(greedyRows(got) == want, s"seed $seed")
    }
  }

  test("greedy 1:1 kernel: highest-score-first, no node reuse") {
    val es = Seq(Edge(1, 2, 0.9), Edge(2, 3, 0.9), Edge(3, 4, 0.8), Edge(1, 3, 0.7))
    val got = ComponentKernels.greedyOneToOne(es)
    assert(got == Seq(Edge(1, 2, 0.9), Edge(3, 4, 0.8)))
  }

  test("centre kernel: non-centre nodes never absorb members") {
    val es = Seq(Edge(1, 2, 0.9), Edge(1, 3, 0.85), Edge(2, 4, 0.8), Edge(5, 6, 0.7))
    val got = ComponentKernels.centre(es).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("stable matching kernel: mutual-best pairs, 1:1") {
    // 1 prefers 12 (0.9); 12 prefers 1; 2's best available after (1,12) is 11.
    val es = Seq(Edge(1, 12, 0.9), Edge(1, 11, 0.8), Edge(2, 12, 0.85), Edge(2, 11, 0.6))
    val got = ComponentKernels.stableMatching(es)
    assert(got.map(e => (e.id1, e.id2)) == Seq((1L, 12L), (2L, 11L)))
    val nodes = got.flatMap(e => Seq(e.id1, e.id2))
    assert(nodes.distinct.size == nodes.size)
  }

  test("hungarian matches brute-force max weight on random bipartite graphs") {
    val rnd = new Random(11)
    for (trial <- 1 to 20) {
      val nl = 1 + rnd.nextInt(5)
      val nr = 1 + rnd.nextInt(5)
      val edges = (for {
        i <- 0 until nl; j <- 0 until nr
        if rnd.nextDouble() < 0.6
      } yield Edge(i.toLong, (100 + j).toLong, math.rint(rnd.nextDouble() * 100) / 100))
        .toSeq
      if (edges.nonEmpty) {
        val got = ComponentKernels.maxWeightBipartite(edges).map(_.score).sum
        // brute force over all subsets of edges forming a matching
        def best(rem: List[Edge], used: Set[Long]): Double = rem match {
          case Nil => 0.0
          case e :: t =>
            val skip = best(t, used)
            if (used(e.id1) || used(e.id2)) skip
            else math.max(skip, e.score + best(t, used + e.id1 + e.id2))
        }
        val want = best(edges.toList, Set.empty)
        assert(math.abs(got - want) < 1e-9, s"trial $trial: got $got want $want")
      }
    }
  }

  test("hierarchical kernel: single linkage merges chain, complete does not") {
    val es = Seq(Edge(1, 2, 0.9), Edge(2, 3, 0.85), Edge(3, 4, 0.8))
    val single = ComponentKernels.hierarchical(es, "single", 0.5).toMap
    assert(single.values.toSet == Set(1L)) // one chain cluster
    val complete = ComponentKernels.hierarchical(es, "complete", 0.5).toMap
    // complete linkage: cluster {1,2} vs {3}: min(sim(1,3)=0, sim(2,3)) = 0 < 0.5
    assert(complete.values.toSet.size > 1)
  }

  test("hierarchical kernel: average linkage sits between single and complete") {
    // triangle {1,2,3} with one weak side + pendant 4:
    //   after merging (1,2): avg to {3} = (0.9+0.3)/2 = 0.6 ≥ 0.5 → merges;
    //   complete stops (min = 0.3 < 0.5), single merged already at 0.9.
    val es = Seq(Edge(1, 2, 1.0), Edge(1, 3, 0.9), Edge(2, 3, 0.3), Edge(3, 4, 0.1))
    val avg = ComponentKernels.hierarchical(es, "average", 0.5).toMap
    assert(avg(1L) == 1L && avg(2L) == 1L && avg(3L) == 1L) // triangle collapses
    assert(avg(4L) == 4L)                                    // pendant stays out
    val complete = ComponentKernels.hierarchical(es, "complete", 0.5).toMap
    assert(complete(3L) != complete(1L)) // complete refuses the weak side
  }

  test("hierarchical average: EXACT tie on average sim pins the (minId, minId) merge order") {
    // Two candidate merges tie at average = 0.375 EXACTLY (all sims are
    // binary fractions, and (0.5 + 0.25)/2 = 0.375 is one exact IEEE
    // division — the same value the oracle's exact-int sm/(|A|·|B|)
    // replay produces, so kernel and oracle face the identical tie):
    //   after {1,2} merge at 1.0:
    //     ({1,2}, {3}) → (0.5 + 0.25)/2 = 0.375
    //     ({3}, {4})   → 0.375
    // The contract (kernel: first strictly-greater in ascending
    // (minId_A, minId_B) enumeration wins; oracle: ORDER BY avg DESC,
    // l, g LIMIT 1) picks ({1,2}, {3}) — label pair (1, 3) < (3, 4).
    // The outcomes DIVERGE, so this pins the rule, not just the score:
    //   winner {1,2,3}: then ({1,2,3},{4}) = 0.375/3 = 0.125 < 0.3 stop
    //     → {1,2,3} | {4}
    //   loser {3,4} first would end at {1,2} | {3,4}.
    val es = Seq(Edge(1, 2, 1.0), Edge(1, 3, 0.5), Edge(2, 3, 0.25), Edge(3, 4, 0.375))
    val r = ComponentKernels.hierarchical(es, "average", 0.3).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L), s"got $r")
    // input-order invariance: the tie rule is on ids, not edge order
    for (perm <- es.permutations.take(12)) {
      assert(ComponentKernels.hierarchical(perm, "average", 0.3).toMap == r)
    }
  }

  test("hierarchical average on integer-valued doubles is scale-equivalent to [0,1] scores") {
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 10) {
      val es = for (i <- 1L to 8L; j <- (i + 1) to 8L if rnd.nextBoolean())
        yield Edge(i, j, rnd.nextInt(2000001).toDouble)
      val scaled = ComponentKernels.hierarchical(es.toSeq, "average", 1600000.0)
      val ratio = ComponentKernels.hierarchical(
        es.map(e => e.copy(score = e.score / 2000000.0)).toSeq, "average", 0.8)
      assert(scaled.sorted == ratio.sorted)
    }
  }
}
