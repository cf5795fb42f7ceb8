package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.fusion.SchemaAnalysis
import graft.normalization.Transforms
import graft.text.TextOps

/** Round-5 additions: transform registry semantics, schema comparison
  * on frames with known overlap/conflicts, corpus token statistics
  * invariants, and canonical-doc near-dup clustering on planted dups.
  */
class CorpusOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("Transforms.chain folds left-to-right; unknown name fails fast") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq("  A  b  C ", "xéy").toDF("v")
    val out = df.select(
      Transforms.chain(Seq("strip", "lower", "normalize_whitespace"))(col("v")).as("a"),
      Transforms.registry("drop_non_ascii")(col("v")).as("b"))
      .collect()
    assert(out(0).getString(0) == "a b c")
    assert(out(1).getString(1) == "xy")
    intercept[IllegalArgumentException] { Transforms.chain(Seq("nope")) }
  }

  test("Transforms factories: fill_na, replace, regex_replace, to_datetime") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(Some("keep"), None).toDF("v")
    val filled = df.select(Transforms.fillNa("d")(col("v"))).as[String].collect()
    assert(filled.toSet == Set("keep", "d"))
    val rep = Seq("a", "b", "z").toDF("v")
      .select(Transforms.replaceValues(Map("a" -> "1", "b" -> "2"))(col("v")))
      .as[String].collect()
    assert(rep.toSeq == Seq("1", "2", "z"))
    val dt = Seq("2021-03-04", "2021-03-04 05:06:07", "garbage").toDF("v")
      .select(Transforms.registry("to_datetime")(col("v")).cast("string"))
      .as[String].collect()
    assert(dt.toSeq == Seq("2021-03-04", "2021-03-04", null))
  }

  test("applyChains folds the whole strategy table into one projection") {
    val df = graft.Tables.customer(spark, sf)
    val out = Transforms.applyChains(df, Seq(
      "c_name" -> Seq("strip", "lower", "normalize_whitespace"),
      "c_mktsegment" -> Seq("lower")))
    // one projection over the parquet scan: no exchange, no extra passes
    assert(out.queryExecution.optimizedPlan.collect {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p
    }.size == 1)
    val r = out.select("c_name").limit(1).collect()(0).getString(0)
    assert(r == r.trim.toLowerCase)
  }

  test("SchemaAnalysis: overlap matrix and type conflicts on known frames") {
    val spark2 = spark
    import spark2.implicits._
    val a = Seq(("1", "x", "2020-01-02")).toDF("id", "name", "d")
    val b = Seq(("1", "notnum")).toDF("id", "name")
    val c = Seq(("zzz", "9")).toDF("other", "name")
    val m = SchemaAnalysis.compareSchemas(Seq("A" -> a, "B" -> b, "C" -> c))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ab = m(("A", "B"))
    assert(ab.getLong(4) == 2)                        // id, name common
    assert(ab.getDouble(5) == 2.0 / 3.0)              // |{id,name}| / |{id,name,d}|
    assert(ab.getLong(6) == 0)                        // same classes
    val ac = m(("A", "C"))
    assert(ac.getLong(4) == 1 && ac.getLong(6) == 1)  // name: text vs numeric
    val aa = m(("A", "A"))
    assert(aa.getDouble(5) == 1.0 && aa.getLong(6) == 0)
  }

  test("SchemaAnalysis.columnClasses: empty/numeric/date/text classes") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      ("1.5", "2020-01-02", "txt", Option.empty[String]),
      ("-2", "2021-12-31 10:00:00", "9", Option.empty[String]))
      .toDF("num", "dt", "mixed", "nul")
    val cls = SchemaAnalysis.columnClasses(df)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cls == Map("num" -> "numeric", "dt" -> "date",
      "mixed" -> "text", "nul" -> "empty"))
  }

  test("corpusStats: shares sum to 1, cumulative is monotone to 1.0") {
    val docs = graft.Tables.documents(spark, sf)
    val rows = TextOps.corpusStats(docs, "lang", "source", "text").collect()
    val shares = rows.map(_.getDouble(5))
    assert(math.abs(shares.sum - 1.0) < 1e-9)
    val cums = rows.map(_.getDouble(6))
    assert(cums.zip(cums.tail).forall { case (x, y) => x <= y + 1e-12 })
    assert(math.abs(cums.last - 1.0) < 1e-9)
    // strata counts match a direct distinct count
    assert(rows.length == docs.select("lang", "source").distinct().count())
  }

  test("budgetSelect: straddling doc excluded, order by score desc, exact prefix") {
    val spark2 = spark
    import spark2.implicits._
    // (id, score, tokens): budget 100 → ids 5 (40), 3 (30), 7 (30) fill
    // it exactly; next-best id 1 (score 70) would straddle → excluded,
    // and so is everything after.
    val df = Seq(
      (1L, 70L, 50L), (3L, 90L, 30L), (5L, 95L, 40L),
      (7L, 80L, 30L), (9L, 60L, 10L))
      .toDF("doc_id", "score", "tokens")
    val out = TextOps.budgetSelect(df, "doc_id", col("score"), col("tokens"), 100L)
      .orderBy("cum_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(out.toSeq == Seq((5L, 40L), (3L, 70L), (7L, 100L)))
    // stability under a different partitioning
    val out7 = TextOps.budgetSelect(df.repartition(7), "doc_id",
      col("score"), col("tokens"), 100L)
      .orderBy("cum_tokens").collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(out7.toSeq == out.toSeq)
    // budget larger than the corpus keeps everything
    assert(TextOps.budgetSelect(df, "doc_id", col("score"), col("tokens"), 1000L)
      .count() == 5)
  }

  test("parseHtmlTable: attributes, nested tags, ragged rows, file load") {
    val spark2 = spark
    import spark2.implicits._
    val html =
      """<table class="t"><tr><th>a</th><th>b</th></tr>
        |<tr class="odd"><td> x <b>bold</b> </td><td>1</td></tr>
        |<tr><td>y</td></tr></table>""".stripMargin
    val out = graft.io.Loaders.parseHtmlTable(Seq(html).toDF("html"), "html")
      .orderBy("row_idx")
      .collect().map(r => r.getSeq[String](r.fieldIndex("cells")).toList)
    assert(out.toList == List(List("a", "b"), List("x bold", "1"), List("y")))

    val f = java.nio.file.Files.createTempDirectory("html").resolve("t.html")
    java.nio.file.Files.writeString(f, html)
    val loaded = graft.io.Loaders.loadHtml(spark, f.toString)
    assert(loaded.count() == 3)
    assert(loaded.filter(col("row_idx") === 1)
      .select(element_at(col("cells"), 2)).collect()(0).getString(0) == "1")
  }

  test("chunk: overlap windows, ragged tail, short-doc single chunk") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, (1 to 10).map("w" + _).mkString(" ")), // 10 words
      (2L, "a b")) // shorter than one chunk
      .toDF("doc_id", "text")
    val out = TextOps.chunk(docs, "doc_id", "text", chunkTokens = 4, overlap = 2)
      .orderBy("doc_id", "chunk_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val d1 = out.filter(_._1 == 1L)
    // stride 2: starts at w1, w3, w5, w7, w9 → 5 chunks, tail has 2 words
    assert(d1.length == 5)
    assert(d1(0)._3 == "w1 w2 w3 w4" && d1(1)._3 == "w3 w4 w5 w6")
    assert(d1(4)._3 == "w9 w10" && d1(4)._4 == 2L)
    // consecutive chunks overlap by exactly `overlap` words
    assert(d1(0)._3.split(" ").takeRight(2).toSeq == d1(1)._3.split(" ").take(2).toSeq)
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length == 1 && d2(0)._3 == "a b")
  }

  test("vocab: ranks, shares and cumulative coverage are exact") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq("x x x y y z", "x y q").toDF("text")
    val v = TextOps.vocab(docs, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // counts: x=4, y=3, z=1, q=1 (total 9); top-3 tie z/q broken by word
    assert(v.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq(("x", 4L, 1L), ("y", 3L, 2L), ("q", 1L, 3L)))
    assert(v(0)._4 == 4.0 / 9 && v(1)._5 == 7.0 / 9 && v(2)._5 == 8.0 / 9)
  }

  test("canonicalByScore: highest quality wins the cluster, ties by lowest id") {
    val spark2 = spark
    import spark2.implicits._
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("id", "cluster")
    val scored = Seq((1L, 10L), (2L, 50L), (3L, 50L), (9L, 7L))
      .toDF("doc_id", "q")
    val out = graft.dedup.Dedup.canonicalByScore(comp, scored, "doc_id", "q")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // cluster 1: q=50 tie between 2 and 3 → lowest id (2) wins
    assert(out(1L) == (2L, false) && out(2L) == (2L, true) && out(3L) == (2L, false))
    assert(out(9L) == (9L, true))
  }

  test("text kernels compose with Structured Streaming (stateless scan ops)") {
    // quality scoring + PII scrub + chunking are pure projections, so
    // the same TextOps transforms must run unchanged on a readStream.
    val stage = java.nio.file.Files.createTempDirectory("stream_text")
    val docs = graft.Tables.documents(spark, sf).limit(100)
    docs.write.mode("overwrite").parquet(stage.toString)
    val streamed = spark.readStream.schema(docs.schema).parquet(stage.toString)
    val q = TextOps.chunk(TextOps.piiScrub(streamed, "doc_id", "text")
        .withColumnRenamed("scrubbed", "text2"), "doc_id", "text2", 32, 8)
      .writeStream.format("memory").queryName("text_stream_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("text_stream_sink")
    val want = TextOps.chunk(TextOps.piiScrub(docs, "doc_id", "text")
      .withColumnRenamed("scrubbed", "text2"), "doc_id", "text2", 32, 8)
    assert(got.count() == want.count() && got.count() > 0)
  }

  test("asofBackward: tie matches, no-prior gives nulls, latest-of-many wins") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq((1L, 100L, "p1"), (1L, 200L, "p2"), (1L, 50L, "p0"), (2L, 10L, "q"))
      .toDF("k", "ts", "pname")
    val right = Seq((1L, 60L, "v60"), (1L, 100L, "v100"), (1L, 150L, "v150"))
      .toDF("k", "ts", "vname")
    val out = graft.operators.AsofJoin.asofBackward(left, right, "k", "ts")
      .collect().map(r => (r.getString(2), Option(r.getString(3)))).toMap
    assert(out("p0").isEmpty)               // nothing at or before ts 50
    assert(out("p1").contains("v100"))      // equal ts matches
    assert(out("p2").contains("v150"))      // latest of several priors
    assert(out("q").isEmpty)                // key with no right rows at all
    // tolerance: p2 (ts 200) matched v150 at staleness 50 — a tolerance
    // of 40 nulls it, 50 keeps it (inclusive bound)
    val tol40 = graft.operators.AsofJoin
      .asofBackward(left, right, "k", "ts", tolerance = Some(40L))
      .collect().map(r => (r.getString(2), Option(r.getString(3)))).toMap
    assert(tol40("p2").isEmpty && tol40("p1").contains("v100"))
    val tol50 = graft.operators.AsofJoin
      .asofBackward(left, right, "k", "ts", tolerance = Some(50L))
      .collect().map(r => (r.getString(2), Option(r.getString(3)))).toMap
    assert(tol50("p2").contains("v150"))
    // forward: earliest right AT or after each left ts
    val fwd = graft.operators.AsofJoin.asofForward(left, right, "k", "ts")
      .collect().map(r => (r.getString(2), Option(r.getString(3)))).toMap
    assert(fwd("p0").contains("v60"))   // 50 → earliest ≥ is 60
    assert(fwd("p1").contains("v100"))  // equal ts matches forward too
    assert(fwd("p2").isEmpty)           // nothing at or after 200
  }

  test("rangeJoin: overlapping intervals, negatives, bin-boundary exactness, no nested loop") {
    val spark2 = spark
    import spark2.implicits._
    val big = 1L << 60 // beyond double's 2^53 exact-integer range
    val pts = Seq((1L, -50L), (2L, 0L), (3L, 10L), (4L, 999L), (5L, big))
      .toDF("pid", "p")
    val ivs = Seq((10L, -100L, 0L), (20L, 0L, 10L), (30L, 5L, 10L),
      (40L, big - 1, big + 1)).toDF("iid", "lo", "hi")
    val out = graft.operators.RangeJoin.pointInInterval(pts, ivs, "p", "lo", "hi", 7L)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // point 0 hits both [-100,0] and [0,10]; 10 hits [0,10] and [5,10];
    // -50 only the negative interval; 999 nothing; the 2^60 point must
    // bin exactly (integer div, no double rounding)
    assert(got == Set((1L, 10L), (2L, 10L), (2L, 20L), (3L, 20L), (3L, 30L), (5L, 40L)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"))
  }

  test("intervalOverlap: touching/contained/disjoint pairs, multi-bin dedup") {
    val spark2 = spark
    import spark2.implicits._
    val l = Seq((1L, 0L, 100L), (2L, 200L, 210L), (3L, -30L, -20L)).toDF("lid", "lo", "hi")
    val r = Seq((10L, 100L, 150L),  // touches interval 1 at a point
      (20L, 10L, 20L),              // contained in 1, spans bins
      (30L, 300L, 310L),            // disjoint from all
      (40L, -25L, -22L))            // inside the negative interval
      .toDF("rid", "lo", "hi")
    val got = graft.operators.RangeJoin
      .intervalOverlap(l, r, "lid", "lo", "hi", "rid", "lo", "hi", 7L)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got == Set((1L, 10L), (1L, 20L), (3L, 40L)))
  }

  /** Runs `body` with [[graft.plans.RangeJoinRule]] installed on the
    * shared session, removing it afterwards. */
  private def withRangeJoinRule[T](body: => T): T = {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRule
    try body
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == graft.plans.RangeJoinRule)
  }

  private def nestedLoop(df: org.apache.spark.sql.DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    plan.contains("BroadcastNestedLoop") || plan.contains("CartesianProduct")
  }

  test("RangeJoinRule: BETWEEN join rewritten to bin equi-join, same result") {
    val pts = Tables.customer(spark, sf)
      .select(col("c_custkey"), Tables.cents(col("c_acctbal")).as("p"))
    val ivs = Tables.nation(spark, sf).select(col("n_nationkey"),
      (col("n_nationkey") * 88000L - 100000L).as("lo"),
      (col("n_nationkey") * 88000L - 12001L).as("hi"))
    def q = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))

    // rule not installed: Spark has no equi-key → nested loop
    assert(nestedLoop(q))
    val expect = q.collect().map(_.toSeq).toSet

    // a caller-chosen width goes through the operator, not the rule
    val fixed = graft.operators.RangeJoin.pointInInterval(pts, ivs, "p", "lo", "hi", 50000L)
    assert(!nestedLoop(fixed))
    assert(fixed.select(q.columns.map(col): _*).collect().map(_.toSeq).toSet == expect)

    // rule installed: equi-join on the bin, no nested loop, identical rows
    withRangeJoinRule {
      assert(!nestedLoop(q))
      assert(q.collect().map(_.toSeq).toSet == expect)
    }
  }

  test("RangeJoinRule auto binWidth: no hand-set width, still no nested loop, same rows") {
    val pts = Tables.customer(spark, sf)
      .select(col("c_custkey"), Tables.cents(col("c_acctbal")).as("p"))
    val ivs = Tables.nation(spark, sf).select(col("n_nationkey"),
      (col("n_nationkey") * 88000L - 100000L).as("lo"),
      (col("n_nationkey") * 88000L - 12001L).as("hi"))
    def q = pts.join(ivs, col("p") >= col("lo") && col("p") <= col("hi"))
    val expect = q.collect().map(_.toSeq).toSet
    withRangeJoinRule {
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("_graft_bin"), s"rule did not rewrite:\n$plan")
      assert(!nestedLoop(q))
      assert(q.collect().map(_.toSeq).toSet == expect)
    }
  }

  test("RangeJoinRule broadened shapes: strict, mixed, extra-equality conjunct — all rewrite, identical rows") {
    val spark2 = spark
    import spark2.implicits._
    val pts = Seq((1L, 1L, 5L), (2L, 1L, 15L), (3L, 2L, 25L), (4L, 2L, 35L),
      (5L, 3L, 45L), (6L, 1L, 20L)).toDF("pid", "pk", "p")
    val ivs = Seq((10L, 1L, 0L, 15L), (20L, 2L, 20L, 35L), (30L, 3L, 40L, 45L),
      (40L, 1L, 10L, 30L)).toDF("iid", "ik", "lo", "hi")
    def rows(c: org.apache.spark.sql.Column) =
      pts.join(ivs, c).select("pid", "iid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val shapes = Seq(
      "strict both" -> (col("p") > col("lo") && col("p") < col("hi")),
      "mixed strict/inclusive" -> (col("p") >= col("lo") && col("p") < col("hi")),
      "flipped operands, strict" -> (col("hi") > col("p") && col("p") >= col("lo")),
      "extra equality conjunct" ->
        (col("pk") === col("ik") && col("p") >= col("lo") && col("p") <= col("hi")),
      "equality between bounds" ->
        (col("p") >= col("lo") && col("pk") === col("ik") && col("p") < col("hi")))
    val expect = shapes.map { case (name, c) => name -> rows(c) }.toMap
    assert(expect.values.forall(_.nonEmpty))
    withRangeJoinRule {
      for ((name, c) <- shapes) {
        val q = pts.join(ivs, c)
        assert(!nestedLoop(q), s"$name still nested-loop:\n${q.queryExecution.executedPlan}")
        assert(rows(c) == expect(name), name)
      }
    }
  }

  test("dedupCluster: planted near-dup chain collapses to one canonical") {
    val spark2 = spark
    import spark2.implicits._
    // 3 mutually-similar docs (one word swapped), 2 unrelated docs
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("w7", "q7")),
      (3L, base.replace("w31", "q31")),
      (10L, (100 to 140).map(i => s"z$i").mkString(" ")),
      (11L, (200 to 240).map(i => s"y$i").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = graft.dedup.Dedup.minhashLsh(docs, "doc_id", "text",
      n = 3, bands = 4, rows = 3, threshold = 0.8)
    val comp = graft.clustering.Clusterers.connectedComponents(
      pairs.select("id1", "id2"))
    val canon = docs.select("doc_id")
      .join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("canonical_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon(1L) == 1L && canon(2L) == 1L && canon(3L) == 1L)
    assert(canon(10L) == 10L && canon(11L) == 11L)
  }

  test("asofNearest: picks the closer side, ties go to the past match, single-sided rows work") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq(
      (1L, 100L, 10L), // views at 90 and 105 → future (dist 5 < 10)
      (1L, 200L, 11L), // views at 195 and 205 → tie → past
      (2L, 50L, 12L),  // only a future view (60)
      (3L, 50L, 13L),  // only a past view (40)
      (4L, 50L, 14L)   // no views at all
    ).toDF("k", "ts", "pid")
    val right = Seq(
      (1L, 90L, 900L), (1L, 105L, 905L),
      (1L, 195L, 995L), (1L, 205L, 996L),
      (2L, 60L, 206L), (3L, 40L, 304L)
    ).toDF("k", "ts", "vid")
    val r = graft.operators.AsofJoin.asofNearest(left, right, "k", "ts", "pid")
      .orderBy("pid").collect()
    def row(i: Int) = (r(i).get(3), r(i).get(5)) // (vid, direction)
    assert(row(0) == (905L, "future"))
    assert(row(1) == (995L, "past")) // equidistant → past
    assert(row(2) == (206L, "future"))
    assert(row(3) == (304L, "past"))
    assert(r(4).isNullAt(3) && r(4).isNullAt(4) && r(4).isNullAt(5))
  }

  test("asofBackward: NULL payload field in the matched row stays NULL (atomic row carry)") {
    val spark2 = spark
    import spark2.implicits._
    // right rows: at ts 10 both fields set; at ts 20 field b is NULL.
    // A left row at ts 25 matches the ts-20 row — its b must be NULL,
    // not borrowed from the ts-10 row.
    val left = Seq((1L, 25L, "p")).toDF("k", "ts", "pname")
    val right = Seq((1L, 10L, Some("a10"), Some("b10")),
      (1L, 20L, Some("a20"), Option.empty[String]))
      .toDF("k", "ts", "a", "b")
    val row = graft.operators.AsofJoin.asofBackward(left, right, "k", "ts")
      .select("a", "b").collect().head
    assert(row.getString(0) == "a20" && row.isNullAt(1))
    // same through the chunked path
    val rowC = graft.operators.AsofJoin
      .asofBackwardChunked(left, right, "k", "ts", chunkWidth = 7L)
      .select("a", "b").collect().head
    assert(rowC.getString(0) == "a20" && rowC.isNullAt(1))
  }

  test("asofBackwardChunked ≡ asofBackward on random data (hot key spans many chunks, gap chunks, tolerance)") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(42)
    // key 1 is hot (all rows); keys 2-4 sparse with big time gaps so
    // many chunks contain left rows but no right rows (boundary carry
    // across empty chunks), and some contain right rows only.
    val left = (1 to 400).map { i =>
      val k = if (i % 4 == 0) 1L + rnd.nextInt(4) else 1L
      (k, rnd.nextLong() % 2000L, s"l$i")
    }
    val right = (1 to 300).map { i =>
      val k = if (i % 4 == 0) 1L + rnd.nextInt(4) else 1L
      (k, rnd.nextLong() % 2000L, s"r$i")
    }.groupBy(t => (t._1, t._2)).map(_._2.maxBy(_._3)).toSeq // unique (k, ts)
    val l = left.toDF("k", "ts", "pname")
    val r = right.toDF("k", "ts", "vname")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        Option(x.getString(3)))).toSeq.sorted
    for (tol <- Seq(None, Some(100L)); cw <- Seq(37L, 500L)) {
      val a = canon(graft.operators.AsofJoin.asofBackward(l, r, "k", "ts", tol))
      val b = canon(graft.operators.AsofJoin
        .asofBackwardChunked(l, r, "k", "ts", cw, tol))
      assert(a == b, s"chunked mismatch at tol=$tol cw=$cw")
    }
    // the hot key genuinely spans many chunks at cw=37
    val nChunks = l.filter(col("k") === 1L)
      .select((col("ts") - ((col("ts") % 37 + 37) % 37)).as("c"))
      .distinct().count()
    assert(nChunks > 10)
  }

  test("asofBackwardChunked at width 37 equals asofBackward on a hand-checked case") {
    val spark2 = spark
    import spark2.implicits._
    val left = Seq((1L, 100L, "p1"), (1L, 200L, "p2"), (2L, 10L, "q"))
      .toDF("k", "ts", "pname")
    val right = Seq((1L, 60L, "v60"), (1L, 150L, "v150")).toDF("k", "ts", "vname")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(2), Option(r.getString(3)))).toMap
    val plain = run(graft.operators.AsofJoin.asofBackward(left, right, "k", "ts"))
    assert(run(graft.operators.AsofJoin.asofBackwardChunked(left, right, "k", "ts", 37)) == plain)
    assert(plain("p1").contains("v60") && plain("p2").contains("v150") &&
      plain("q").isEmpty)
  }

  test("asofBackward: non-numeric ts takes the unchunked path") {
    val spark2 = spark
    import spark2.implicits._
    // timestamp ts columns can't chunk: routing must keep these calls
    // on the one-shuffle plan instead of failing
    val left = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:40"), "p1"))
      .toDF("k", "ts", "pname")
    val right = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "v60"))
      .toDF("k", "ts", "vname")
    val joined = graft.operators.AsofJoin.asofBackward(left, right, "k", "ts")
    assert(!joined.queryExecution.analyzed.toString.contains("_ck"))
    assert(joined.select("vname").collect().head.getString(0) == "v60")
  }

  test("replaceValues does not cascade: branches test the original value") {
    val spark2 = spark
    import spark2.implicits._
    // A->B, B->C: pandas Series.replace semantics — A becomes B (not C)
    val out = Seq("A", "B", "C").toDF("v")
      .select(Transforms.replaceValues(
        scala.collection.immutable.ListMap("A" -> "B", "B" -> "C"))(col("v")))
      .as[String].collect().toSeq
    assert(out == Seq("B", "C", "C"))
    // and reversed insertion order gives the identical result
    val out2 = Seq("A", "B", "C").toDF("v")
      .select(Transforms.replaceValues(
        scala.collection.immutable.ListMap("B" -> "C", "A" -> "B"))(col("v")))
      .as[String].collect().toSeq
    assert(out2 == Seq("B", "C", "C"))
  }

  test("canonicalByScore works with STRING ids (no numeric coercion)") {
    val spark2 = spark
    import spark2.implicits._
    val comp = Seq(("d1", 1L), ("d2", 1L), ("d3", 1L), ("x9", 2L))
      .toDF("id", "cluster")
    val scored = Seq(("d1", 0.5), ("d2", 0.9), ("d3", 0.9), ("x9", 0.1))
      .toDF("doc_id", "q")
    val out = graft.dedup.Dedup.canonicalByScore(comp, scored, "doc_id", "q")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    // top score 0.9 tie between d2/d3 → lowest id d2 wins
    assert(out("d1") == ("d2", false) && out("d2") == ("d2", true) &&
      out("d3") == ("d2", false))
    assert(out("x9") == ("x9", true))
  }

  test("columnClasses is safe for hostile column names (quotes, backticks, commas)") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(("1", "x"), ("2", "y")).toDF("o'brien, `a`", "plain")
    val cls = SchemaAnalysis.columnClasses(df)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cls("o'brien, `a`") == "numeric" && cls("plain") == "text")
  }

  test("rangeJoin bins are wrap-safe at the Long.MinValue edge") {
    val spark2 = spark
    import spark2.implicits._
    val lo = Long.MinValue
    val pts = Seq((1L, lo), (2L, lo + 3), (3L, lo + 10), (4L, Long.MaxValue))
      .toDF("pid", "p")
    val ivs = Seq((10L, lo, lo + 5), (20L, Long.MaxValue - 2, Long.MaxValue))
      .toDF("iid", "lo", "hi")
    val got = graft.operators.RangeJoin
      .pointInInterval(pts, ivs, "p", "lo", "hi", 7L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(got == Set((1L, 10L), (2L, 10L), (4L, 20L)))
  }

  test("tfidfKeywords: corpus-wide terms score 0, rare terms rank first, k respected") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "the cat sat"),
      (2L, "the dog ran"),
      (3L, "the cat and the dog")).toDF("doc_id", "text")
    val kw = TextOps.tfidfKeywords(docs, "doc_id", "text", 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getDouble(4)))
      .toMap
    // "the" is in every doc → idf = ln(4/4) = 0 → never a top keyword
    assert(!kw.values.exists(_._1 == "the"))
    // doc 1: "cat"/"sat" beat nothing else; "sat" is unique (df=1) so
    // idf ln(4/2) > "cat" (df=2, ln(4/3)) → sat ranks 1
    assert(kw((1L, 1L))._1 == "sat" && kw((1L, 2L))._1 == "cat")
    assert(kw.keys.forall(_._2 <= 2L)) // k=2 respected
    assert(kw.values.forall(_._2 >= 0.0))
  }

  test("domainCap: k per group, md5-deterministic choice, stable under repartition") {
    val spark2 = spark
    import spark2.implicits._
    val docs = (1L to 50L).map(i => (i, if (i <= 40) "big" else "small"))
      .toDF("doc_id", "source")
    val a = TextOps.domainCap(docs, "doc_id", "source", 3).collect()
      .map(r => (r.getString(1), r.getLong(2)) -> r.getLong(0)).toMap
    assert(a.count(_._1._1 == "big") == 3)    // hot domain capped
    assert(a.count(_._1._1 == "small") == 3)  // cold domain capped too
    assert(a.keys.forall(_._2 <= 3L))
    // deterministic: same winners after a physical reshuffle
    val b = TextOps.domainCap(docs.repartition(16), "doc_id", "source", 3)
      .collect().map(r => (r.getString(1), r.getLong(2)) -> r.getLong(0)).toMap
    assert(a == b)
    // survivors match a direct (unpruned) md5-order top-k
    val direct = docs.withColumn("_p", md5(col("doc_id").cast("string")))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("_p"), col("doc_id"))))
      .filter(col("rk") <= 3)
      .collect().map(r => (r.getString(1), r.getInt(3).toLong) -> r.getLong(0)).toMap
    assert(a == direct)
  }

  test("dsirWeights: target-vocab docs score above off-target docs, repartition-stable") {
    val spark2 = spark
    import spark2.implicits._
    // target docs speak vocab {alpha..delta}, raw background speaks {w1..w4}
    val docs = ((1L to 10L).map(i => (i, "alpha beta gamma delta alpha beta", true)) ++
      (11L to 30L).map(i => (i, "w1 w2 w3 w4 w1 w2", false)) ++
      Seq((98L, "alpha beta gamma delta", false),   // target-like held-out doc
          (99L, "w1 w2 w3 w4", false)))             // background-like doc
      .toDF("doc_id", "text", "tgt")
    // hexLen=1 (B=16): add-1 smoothing over 4096 buckets would swamp a
    // 200-token corpus — bucket count must be small next to token count
    val w = TextOps.dsirWeights(docs, "doc_id", "text", col("tgt"), hexLen = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w(98L) > 0L && w(99L) < 0L)
    assert(w(98L) > w(99L))
    val w2 = TextOps.dsirWeights(docs.repartition(13), "doc_id", "text",
        col("tgt"), hexLen = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w == w2)
  }

  test("weightedSample: huge weight always wins, zero weight never sampled, repartition-stable") {
    val spark2 = spark
    import spark2.implicits._
    import graft.text.TextOps
    // 200 unit-weight rows + one row with weight 10^9: its clock is
    // divided by 1e9, so its key is ~0 — it must be in any top-10.
    val df = spark.range(200).select(col("id"), lit(1L).as("w"))
      .unionByName(Seq((999L, 1000000000L)).toDF("id", "w"))
      .unionByName(Seq((998L, 0L)).toDF("id", "w")) // weight 0: excluded
    val top = TextOps.weightedSample(df.toDF(), "id", col("w"), 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(top.contains(999L) && !top.contains(998L) && top.size == 10)
    // law sanity: among 200 equal weights the pick is the md5-clock
    // order — identical across partitionings (determinism at scale)
    val a = TextOps.weightedSample(df.toDF(), "id", col("w"), 25)
      .select("id", "priority").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = TextOps.weightedSample(df.repartition(13).toDF(), "id", col("w"), 25)
      .select("id", "priority").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // n beyond the population returns everyone with positive weight
    assert(TextOps.weightedSample(df.toDF(), "id", col("w"), 500).count() == 201)
  }

  test("rankBuckets: exact equi-depth terciles, rank = global (key,id) order, repartition-stable") {
    val spark2 = spark
    import spark2.implicits._
    import graft.text.TextOps
    // 3001 rows, keys descending as ids ascend → rank must invert id
    val df = spark.range(3001).select(col("id"), (lit(5000L) - col("id")).as("k"))
    val r = TextOps.rankBuckets(df.toDF(), "id", col("k"), 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r(3000L) == (1L, 0L))   // smallest key = rank 1, bucket 0
    assert(r(0L) == (3001L, 2L))   // largest key = last rank, bucket 2
    // exact equi-depth: 3001 rows → buckets of 1001/1000/1000
    val sizes = r.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes == Map(0L -> 1001, 1L -> 1000, 2L -> 1000), s"got $sizes")
    // ties on key break by id, and partitioning never changes the answer
    val t = spark.range(600).select(col("id"), (col("id") % 3L).as("k"))
    val a = TextOps.rankBuckets(t.toDF(), "id", col("k"), 4)
      .collect().map(x => (x.getLong(0), x.getLong(2), x.getLong(3))).toSet
    val b = TextOps.rankBuckets(t.repartition(17).toDF(), "id", col("k"), 4)
      .collect().map(x => (x.getLong(0), x.getLong(2), x.getLong(3))).toSet
    assert(a == b && a.size == 600)
  }

  test("truncateRecall: prefix-determined vectors give recall 1.0, tail-only info degrades it") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ann.Ann
    // 20 vectors whose tail dims are all ZERO: truncation to 4 dims
    // leaves every dot product and norm bit-identical → recall 1
    // (a constant NON-zero tail would already shift cosines and can
    // legitimately flip near-ties — that belongs to the case below)
    def unit(i: Long, d: Int) = Array.tabulate(8)(j =>
      if (j < 4) math.sin(1.0 + i * (j + 1)) else 0.0)
    val flat = (0L until 20L).map(i => (i, unit(i, 8).toSeq)).toDF("vec_id", "v")
    val r1 = Ann.truncateRecall(
      flat.filter(col("vec_id") < 5), flat, "vec_id", "v", 8, 4, 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    assert(r1.size == 5 && r1.values.forall(_ == 1.0), s"got $r1")
    // adversarial: neighbours distinguished ONLY by dims 5-8 (prefix is
    // constant) → truncated ranking is uninformative; mean recall < 1
    def tail(i: Long) = Array.tabulate(8)(j =>
      if (j >= 4) math.sin(1.0 + i * (j + 1)) else 0.5)
    val tl = (0L until 20L).map(i => (i, tail(i).toSeq)).toDF("vec_id", "v")
    val r2 = Ann.truncateRecall(
      tl.filter(col("vec_id") < 5), tl, "vec_id", "v", 8, 4, 3)
      .agg(avg("recall")).collect()(0).getDouble(0)
    assert(r2 < 1.0, s"tail-only info should degrade truncated recall, got $r2")
  }

  test("Profiler.correlation: exact ±1 on linear columns, NULL on constant, symmetric pairs") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 100L).map(i => (i, 3 * i + 7, -2 * i, 5L)).toDF("x", "y", "z", "c")
    val m = graft.profiling.Profiler.correlation(df, Seq("x", "y", "z", "c"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(m.size == 6) // C(4,2) unordered pairs, i<j order only
    // sqrt(a)*sqrt(b) is 2 roundings, not sqrt(ab) — perfect corr lands
    // within one ulp of ±1, identically so in any IEEE-754 engine
    assert(math.abs(m(("x", "y")).get - 1.0) < 1e-12)
    assert(math.abs(m(("x", "z")).get + 1.0) < 1e-12)
    assert(m(("x", "c")) == None && m(("y", "c")) == None) // constant col
    intercept[IllegalArgumentException] {
      graft.profiling.Profiler.correlation(
        df.withColumn("d", col("x").cast("double")), Seq("d"))
    }
  }
}
