package graft

import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-SHAPE regression tests: the scale claims in SURVEY §5 are
  * claims about the physical plan (one keyed exchange, broadcast the
  * dim, push the filter to the scan) — so pin them as assertions, not
  * prose. A refactor that silently adds a shuffle or un-broadcasts a
  * dim fails here long before it shows up as a bench regression.
  *
  * Counts use the pre-execution plan string; bounds are chosen to be
  * robust to AQE wrapper nodes while still catching a plan-class
  * change (an extra Exchange, a BroadcastHashJoin degrading to SMJ).
  */
class PlanShapeSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def count(plan: String, token: String): Int =
    token.r.findAllMatchIn(plan).length

  test("q1: shipdate filter reaches the parquet scan; aggregation is two-level") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      "shipdate filter not pushed to the scan")
    // partial (map-side) + final aggregate — the one-shuffle agg shape
    assert(count(p, "HashAggregate") >= 2)
  }

  test("q2: nation joins as broadcast, never a nested loop") {
    val p = planOf("q2_nation_revenue")
    assert(count(p, "BroadcastHashJoin") >= 1, "nation dim not broadcast")
    assert(count(p, "BroadcastNestedLoopJoin") == 0)
  }

  test("events_sessionize: both windows and the rollup share ONE keyed exchange") {
    val p = planOf("events_sessionize")
    // hashpartitioning(user_id) appears in exactly one Exchange; the
    // only other exchange is the output ordering's range partitioner
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"expected one keyed exchange:\n$p")
    assert(count(p, "Exchange") <= 2)
  }

  test("as-of join: keyed exchanges bounded (right pre-agg + ONE carry window)") {
    val p = planOf("asof_join")
    // one keyed exchange for the right side's (user, ts) pre-agg, one
    // for the union-window carry — and never a third, which is what a
    // range-join or per-key theta-join formulation would add
    assert(count(p, "Exchange hashpartitioning") <= 2,
      s"as-of grew extra keyed shuffles:\n$p")
    assert(count(p, "BroadcastNestedLoopJoin") == 0 &&
      count(p, "CartesianProduct") == 0)
  }

  test("profile_columns: all metrics in a single pass over each table scan") {
    val p = planOf("profile_columns")
    // one agg pass = customer scanned once, not once per metric
    assert(count(p, "Scan parquet") <= 1, s"profile re-scans its input:\n$p")
  }

  test("events_attribution: event_type filters pushed; no cartesian anywhere") {
    val p = planOf("events_attribution")
    assert(p.contains("PushedFilters") && p.contains("event_type"))
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0)
  }

  test("range_join: bin equi-join plan, not a nested loop") {
    val p = planOf("range_join")
    assert(count(p, "BroadcastNestedLoopJoin") == 0 &&
      count(p, "CartesianProduct") == 0,
      "range join degraded to a nested loop")
  }

  test("events_scd2: validity intervals from ONE keyed exchange, no self-join") {
    val p = planOf("events_scd2")
    assert(count(p, "Exchange hashpartitioning") == 1,
      s"SCD2 must build both windows on one user_id exchange:\n$p")
    assert(count(p, "Join") == 0, s"SCD2 grew a self-join:\n$p")
  }

  test("mine_itemsets: basket-size cap applied BELOW the pair self-join") {
    // tree-printed plan: the self-join row (join condition item < item)
    // must come BEFORE the k <= 20 cap filter, i.e. the cap sits in the
    // join's input subtree — a cap applied after the join would let one
    // hot basket produce O(k²) pair rows first. (String positions, not
    // SparkPlan.collect: AQE's AdaptiveSparkPlanExec has no children
    // until finalized, so collect sees nothing.)
    val p = planOf("mine_itemsets")
    val joinLine = p.linesIterator.zipWithIndex.find { case (l, _) =>
      l.contains("Join") && l.contains("item#") && l.contains("<")
    }
    val capLine = p.linesIterator.zipWithIndex.find(_._1.contains("<= 20"))
    assert(joinLine.nonEmpty, s"pair self-join not found:\n$p")
    assert(capLine.nonEmpty, s"basket cap (k <= 20) missing from the plan:\n$p")
    assert(capLine.get._2 > joinLine.get._2,
      s"basket cap not below the self-join:\n$p")
    assert(count(p, "CartesianProduct") == 0 &&
      count(p, "BroadcastNestedLoopJoin") == 0)
  }

  test("dedup_containment candidates: equi-join on the shingle key, df-ordered prefix window, no nested loop") {
    val spark2 = spark
    import spark2.implicits._
    val docs = (1L to 40L).map(i =>
      (i, (0 to 12).map(j => s"w${(i + j) % 29}").mkString(" "))).toDF("doc_id", "text")
    val sh = graft.dedup.Dedup
      .shingleFrame(docs, "doc_id", "text", 3, sorted = true)
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("_sh")) > 0)
      .persist()
    try {
      val (cands, ex) = graft.dedup.Dedup.containmentCandidates(sh, 0.9)
      val p = cands.queryExecution.executedPlan.toString
      assert(count(p, "BroadcastNestedLoopJoin") == 0 &&
        count(p, "CartesianProduct") == 0,
        s"containment candidates degraded to a nested loop:\n$p")
      // candidate join keyed on the shingle (_s) — an equi-join
      assert(p.contains("_s#") && count(p, "Join") >= 1,
        s"candidate join not keyed on the shingle:\n$p")
      // prefix selection = row_number over (_id, ordered by _df asc)
      assert(p.contains("windowspecdefinition(_id") && p.contains("_df"),
        s"df-ordered prefix window missing:\n$p")
      ex.unpersist(false)
    } finally sh.unpersist(false)
  }

  test("bottom-k sketch family: ObjectHashAggregate with map-side partial, " +
      "no keyed exchange on the sketch path, no cartesian anywhere") {
    val kmv = planOf("profile_kmv")
    // partial + final object agg = the constant-wire sketch shape:
    // partial_bottom_k feeds an Exchange SinglePartition (≤ k longs per
    // partition on the wire); the ONE keyed exchange in the plan
    // belongs to the exact face's countDistinct evaluator, not the
    // sketch
    assert(kmv.contains("partial_bottom_k") &&
      count(kmv, "ObjectHashAggregate") >= 2,
      s"kmv lost its two-level object agg:\n$kmv")
    assert(count(kmv, "Exchange hashpartitioning") <= 1,
      s"kmv grew keyed shuffles beyond the exact face:\n$kmv")
    val qsk = planOf("profile_quantile_sketch")
    assert(count(qsk, "ObjectHashAggregate") >= 2 &&
      count(qsk, "CartesianProduct") == 0,
      s"quantile reservoir lost its two-level object agg:\n$qsk")
    val jse = planOf("profile_join_size_est")
    // two sides × (partial+final) × two demonstrations
    assert(count(jse, "ObjectHashAggregate") >= 4 &&
      count(jse, "CartesianProduct") == 0,
      s"join-size estimator plan degraded:\n$jse")
  }

  test("sliding windows: per-row window expansion BEFORE a two-level agg " +
      "(state is windows x groups, never events)") {
    val p = planOf("stream_sliding_window")
    assert(p.contains("Expand") || p.contains("explode"),
      s"sliding window lost its row->windows expansion:\n$p")
    assert(count(p, "HashAggregate") >= 2,
      s"sliding agg must keep the map-side partial:\n$p")
    assert(count(p, "CartesianProduct") == 0)
  }

  test("consistent hash sampling: both joins below the hash filters, " +
      "no cartesian or nested loop over base tables") {
    val p = planOf("sample_hash_consistent")
    // sample filters are expression filters on the scans' output —
    // the joins only ever see the ~10% frames
    assert(p.contains("Filter") && p.contains("md5"),
      s"hash-law filters missing from the plan:\n$p")
    assert(count(p, "CartesianProduct") == 0, s"cartesian leaked:\n$p")
  }

  // ---- corpus curation: one plan per operator, not a fan-out ----------

  private def curationDocs = {
    val spark2 = spark
    import spark2.implicits._
    Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, "x y z")).toDF("doc_id", "text")
  }

  private def joins(p: LogicalPlan): Int = p.collect { case j: Join => j }.size

  test("LSH band join: ONE (band, key) equi-join and no interpreted lambda") {
    val sh = graft.dedup.Dedup.shingleFrame(curationDocs, "doc_id", "text", 3)
    val b = graft.dedup.Dedup.withBandKeys(sh, 4, 3)
    for (self <- Seq(true, false)) {
      val p = graft.dedup.Dedup.bandJoin(b, b, self).queryExecution.optimizedPlan
      assert(joins(p) == 1, s"band join fanned out:\n$p")
      assert(!p.exists(_.expressions.exists(_.exists(_.isInstanceOf[LambdaFunction]))),
        s"band keys fell back to interpreted lambdas:\n$p")
    }
  }

  test("tokenEntropy: one per-doc aggregate, no join") {
    val p = graft.text.TextOps.tokenEntropy(curationDocs, "doc_id", "text")
      .queryExecution.optimizedPlan
    assert(joins(p) == 0, s"entropy re-joined its per-doc aggregates:\n$p")
  }

  test("contamination: ONE aggregate over the doc-gram explode (besides the " +
      "probe-side distinct) and one join") {
    val p = graft.text.TextOps.contamination(curationDocs, curationDocs, "doc_id", "text", 3)
      .queryExecution.optimizedPlan
    val aggs = p.collect { case a: Aggregate => a }
    val perDoc = aggs.filter(_.groupingExpressions.exists(_.references.exists(_.name == "doc_id")))
    assert(aggs.size == 2 && perDoc.size == 1 && joins(p) == 1,
      s"contamination explodes or aggregates the doc grams more than once:\n$p")
  }
}
