package graft.tools

import graft.Harness
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.Bridge

/** Local perf-iteration aid (not part of the driver contract): runs the
  * queries named in SPARK_GRAFT_ONLY (all when unset) SPARK_GRAFT_REPS
  * times each (default 3) on a [[Harness]] session at SPARK_GRAFT_SF_DIR
  * and prints per-repetition seconds — separates JIT/codegen warmup from
  * steady-state cost — plus the row count and content hash of the last
  * repetition. Per repetition it also prints the Spark jobs the query
  * ran (a job-start listener) and the generated classes it compiled
  * (the delta of Spark's codegen compilation count): plan fan-out, and
  * codegen-cache misses once a query's distinct plans outnumber the
  * cache (`spark.sql.codegen.cache.maxEntries`, 100 by default).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Harness.session()
    val jobs = new java.util.concurrent.atomic.AtomicLong()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (d <- Harness.selected) {
      val runs = (1 to reps).map { _ =>
        val (j0, c0) = (jobs.get, compiles)
        val t0 = System.nanoTime()
        val (hash, rows) = Harness.force(d.run(spark, sfDir))
        val dt = (System.nanoTime() - t0) / 1e9
        Bridge.drainListeners(spark.sparkContext)
        val (dj, dc) = (jobs.get - j0, compiles - c0)
        Harness.clear(spark)
        (dt, dj, dc, rows, hash)
      }
      val (_, _, _, rows, hash) = runs.last
      println(f"PROBE ${d.name}%-28s ${runs.map(r => f"${r._1}%7.2f").mkString(" ")}" +
        f"  jobs=${runs.map(_._2).mkString("/")} compiles=${runs.map(_._3).mkString("/")}" +
        f"  rows=$rows hash=$hash%016x")
    }
    spark.stop()
  }
}
