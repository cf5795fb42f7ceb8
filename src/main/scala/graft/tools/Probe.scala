package graft.tools

import graft.Harness

/** Local perf-iteration aid (not part of the driver contract): runs the
  * queries named in SPARK_GRAFT_ONLY (all when unset) SPARK_GRAFT_REPS
  * times each (default 3) on a [[Harness]] session at SPARK_GRAFT_SF_DIR
  * and prints per-repetition seconds — separates JIT/codegen warmup from
  * steady-state cost — plus the row count and content hash of the last
  * repetition. Per repetition it also prints the Spark jobs the query
  * ran and the generated classes it compiled ([[Harness.Counter]], the
  * same figures `graft.Bench` records).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Harness.session()
    val counter = new Harness.Counter(spark)
    for (d <- Harness.selected) {
      val runs = (1 to reps).map { _ =>
        val c0 = counter.now()
        val t0 = System.nanoTime()
        val (hash, rows) = Harness.force(d.run(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        val n = counter.now() - c0
        Harness.clear(spark)
        (dt, n, rows, hash)
      }
      val (_, _, rows, hash) = runs.last
      println(f"PROBE ${d.name}%-28s ${runs.map(r => f"${r._1}%7.2f").mkString(" ")}" +
        f"  jobs=${runs.map(_._2.jobs).mkString("/")}" +
        f" compiles=${runs.map(_._2.compiles).mkString("/")}" +
        f"  rows=$rows hash=$hash%016x")
    }
    spark.stop()
  }
}
