package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.clustering.{Clusterers, ComponentKernels}
import graft.clustering.ComponentKernels.Edge

class ClusterSpec extends AnyFunSuite {
  import TestSpark._

  test("connected components match union-find on random graphs") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(7)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = nodes.map { v =>
        val comp = nodes.filter(u => find(u.toInt) == find(v.toInt)).min
        v -> comp
      }.toMap

      val got = Clusterers.connectedComponents(edges.toDF("id1", "id2"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("connected components cap their partitions at the session's shuffle partitions") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new Random(11)
    val edges = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong)).toDF("id1", "id2")
    val wide = edges.repartition(48)
    assert(wide.rdd.getNumPartitions == 48)
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val out = Clusterers.connectedComponents(wide)
    assert(labels(out) == labels(Clusterers.connectedComponents(edges.coalesce(1))))
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(out.rdd.getNumPartitions <= shufflePartitions,
      s"${out.rdd.getNumPartitions} label partitions for $shufflePartitions shuffle partitions")
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
