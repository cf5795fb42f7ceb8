package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partition-count invariance: every ORACLED query must produce a
  * bit-identical result multiset under different shuffle-partition
  * settings — the local stand-in for "same answer on 4 cores and 1000
  * executors". Catches the whole class of partition-order
  * nondeterminism (float fold order, unstable top-1 picks, row_number
  * ties) that a single-configuration oracle compare cannot see.
  *
  * The rows-only queries (`oracle = None` in the registry, pinned by
  * SURVEY's DOCSYNC_ROWS_ONLY marker) are excluded on principle:
  * match_ml (LBFGS gradients fold per-partition), ann_ivf and
  * ann_pq_fit (KMeans init samples per-partition) are float-iterative
  * by nature; cluster_max_bipartite would pass but shares the
  * rows-only gate, so it stays with its property spec.
  *
  * The same sweep is the registry's "every query returns rows" check:
  * each oracled query must return rows, and the rows-only queries run
  * once, through the `SparkEntry.queries` closures a driver calls.
  */
class InvarianceSpec extends AnyFunSuite {
  import TestSpark._

  test("every oracled query is shuffle-partition-count invariant (3 vs 7)") {
    val oracled = SparkEntry.registry.filter(_.oracle.isDefined).sortBy(_.name)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def hashAt(d: QueryDef, partitions: Int): (Long, Long) = {
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      try Harness.force(d.run(spark, sf)) finally Harness.clear(spark)
    }
    for (d <- oracled) {
      val h3 = hashAt(d, 3)
      val h7 = hashAt(d, 7)
      if (h3 != h7) failures += s"${d.name}: 3-part $h3 != 7-part $h7"
      if (h3._2 == 0) failures += s"${d.name} returned 0 rows"
    }
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    for (d <- SparkEntry.registry.filter(_.oracle.isEmpty)) {
      val rows = try SparkEntry.queries(d.name)(spark, sf).count() finally Harness.clear(spark)
      if (rows == 0) failures += s"${d.name} returned 0 rows"
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }
}
