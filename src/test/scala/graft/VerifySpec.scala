package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Verify fails loudly: a query that throws is named in the result (the
  * main turns a non-empty result into exit status 1), and the queries
  * around it are still dumped with their oracles. */
class VerifySpec extends AnyFunSuite {
  import TestSpark._

  test("Verify names every query that throws and still dumps the rest") {
    val out = Files.createTempDirectory("graft-verify-spec")
    val ok = QueryDef("ok_q", (s, _) => s.range(3).toDF("id"), Some("SELECT 1"))
    val boom = QueryDef("boom_q", (_, _) => throw new IllegalStateException("planted"), None)
    val failed = Verify.run(spark, Seq(boom, ok), sf, out.toString)
    assert(failed == Seq("boom_q"))
    assert(spark.read.parquet(out.resolve("ok_q").toString).count() == 3)
    assert(Files.readString(out.resolve("oracle_sql.json")) == """{"ok_q": "SELECT 1"}""")
  }
}
