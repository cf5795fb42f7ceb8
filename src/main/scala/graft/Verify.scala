package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Correctness dump: each selected query's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`scripts/check_oracle.py`).
  * Exits 1, naming every query that threw, if any did.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir>
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    val failed = run(spark, Harness.selected, sfDir, outDir)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Dump every query in `registry` and its oracles; returns the names
    * of the queries that threw, in run order. */
  def run(spark: SparkSession, registry: Seq[QueryDef], sfDir: String,
      outDir: String): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = registry.flatMap { d =>
      try {
        d.run(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${d.name}")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
        Some(d.name)
      } finally Harness.clear(spark) // no cross-query block leakage
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in hand-written SQL would otherwise make json.load
    // fail and silently zero the whole oracle gate.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = registry.flatMap(d => d.oracle.map(sql => s"${q(d.name)}: ${q(sql)}"))
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
