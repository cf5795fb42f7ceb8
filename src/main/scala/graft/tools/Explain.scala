package graft.tools

import graft.{Harness, SparkEntry}

/** Plan-audit tool: prints the physical plan of the named queries (at
  * SPARK_GRAFT_SF_DIR, default sf0.01) so scan pruning (ReadSchema),
  * pushed filters, join strategies, and codegen spans can be reviewed
  * against the current tree. SPARK_GRAFT_EXPLAIN_MODE picks the
  * Dataset.explain mode (default `formatted`).
  *
  * Usage: runMain graft.tools.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_MODE", "formatted")
    val spark = Harness.session()
    // AQE hides codegen spans in pre-execution explain output
    if (mode == "codegen") spark.conf.set("spark.sql.adaptive.enabled", false)
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q2_nation_revenue", "block_standard", "match_rule", "fuse_numeric")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain(mode)
    }
    spark.stop()
  }
}
