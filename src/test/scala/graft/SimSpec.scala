package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{sims, SimImpl}

object TestSpark {
  lazy val spark: SparkSession = Harness.session(4)
  val sf = "/root/testdata/sf0.001"
}

class SimSpec extends AnyFunSuite {
  import TestSpark._

  test("jaro/jw kernels: known values") {
    assert(math.abs(SimImpl.jaro("MARTHA", "MARHTA") - 0.9444444444) < 1e-6)
    assert(math.abs(SimImpl.jaroWinkler("MARTHA", "MARHTA") - 0.9611111111) < 1e-6)
    assert(SimImpl.jaro("", "") == 1.0)
    assert(SimImpl.jaro("a", "") == 0.0)
    assert(SimImpl.jaroWinkler("abc", "abc") == 1.0)
  }

  test("damerau/hamming/lcs/prefix kernels") {
    assert(SimImpl.damerauLevenshtein("ca", "abc") == 2.0)
    assert(SimImpl.damerauLevenshtein("abcd", "abdc") == 1.0)
    assert(SimImpl.hamming("karolin", "kathrin") == 3.0)
    assert(SimImpl.hamming("abc", "abcde") == 2.0)
    assert(SimImpl.lcsStr("abcdef", "zabcy") == 3.0)
    assert(SimImpl.commonPrefixLen("prefix", "press") == 3.0)
    assert(SimImpl.charJaccard("abc", "bcd") == 0.5)
  }

  test("expressions run inside a plan (codegen path)") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("martha", "marhta"), ("abc", "xyz")).toDF("a", "b")
    val rows = df.select(
      sims.jaroWinkler($"a", $"b").as("jw"),
      sims.levenshteinSim($"a", $"b").as("lev"),
      sims.tokenJaccard(split($"a", ""), split($"b", "")).as("tj"))
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getDouble(0) > 0.9)
    assert(rows(1).getDouble(1) == 0.0)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
