package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ann.Ann
import graft.clustering.Clusterers
import graft.functions.{VecKernels, vecs}
import graft.fusion.Fusion

/** Round-5 guards: native vector kernels must be bit-identical to the
  * explicit left-associated element_at sums they replaced (the oracle
  * determinism contract), the RDD-based connected-components fixpoint
  * must survive its edge cases, and the fusion-engine/provenance advice
  * fixes must hold.
  */
class Round5Spec extends AnyFunSuite {
  import TestSpark._

  private def explicitDot(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column, dim: Int) =
    (1 to dim).map(i => element_at(a, i) * element_at(b, i)).reduce(_ + _)

  test("vec kernels are bit-identical to explicit left-associated sums") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 64
    val rows = Seq.fill(200)((
      Seq.fill(dim)(rnd.nextDouble() * 2 - 1),
      Seq.fill(dim)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("a", "b")
    val cmp = df.select(
      vecs.dot(col("a"), col("b")).as("nd"),
      explicitDot(col("a"), col("b"), dim).as("ed"),
      sqrt(vecs.l2sq(col("a"), col("b"))).as("nl2"),
      sqrt((1 to dim).map { i =>
        val d = element_at(col("a"), i) - element_at(col("b"), i); d * d
      }.reduce(_ + _)).as("el2"),
      vecs.l1(col("a"), col("b")).as("nl1"),
      (1 to dim).map(i => abs(element_at(col("a"), i) - element_at(col("b"), i)))
        .reduce(_ + _).as("el1"))
      .collect()
    cmp.foreach { r =>
      // == on doubles: BIT-identical is the contract, not approximate.
      assert(r.getDouble(0) == r.getDouble(1), "dot")
      assert(r.getDouble(2) == r.getDouble(3), "l2")
      assert(r.getDouble(4) == r.getDouble(5), "l1")
    }
  }

  test("hyperplane bucket matches per-plane explicit signs; null vec → null") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(13)
    val dim = 16
    val planes = 8
    val df = Seq.fill(100)(Seq.fill(dim)(rnd.nextDouble() * 2 - 1)).toDF("v")
    val explicitBucket = concat((0 until planes).map { j =>
      val dotJ = (1 to dim)
        .map(d => element_at(col("v"), d) * lit(VecKernels.planeSign(j, d)))
        .reduce(_ + _)
      when(dotJ > 0, "1").otherwise("0")
    }: _*)
    val rows = df.select(vecs.hyperplaneBits(col("v"), planes, dim).as("n"),
      explicitBucket.as("e")).collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))

    val withNull = Seq((1, Some(Seq.fill(dim)(0.5))), (2, None))
      .toDF("id", "v")
      .select(vecs.hyperplaneBits(col("v"), planes, dim).as("b"))
      .collect()
    assert(withNull.count(_.isNullAt(0)) == 1)
  }

  test("vec kernels: interpreted (no-codegen) path agrees with codegen") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(-1.0, 0.5, 2.0))).toDF("a", "b")
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val r = df.select(vecs.dot(col("a"), col("b")),
        vecs.l1(col("a"), col("b")), sqrt(vecs.l2sq(col("a"), col("b")))).collect()(0)
      assert(r.getDouble(0) == (1.0 * -1.0 + 2.0 * 0.5 + 3.0 * 2.0))
      assert(r.getDouble(1) == (2.0 + 1.5 + 1.0))
    }
  }

  test("connectedComponents RDD fixpoint: chains, self-loops, dups, empties") {
    val spark2 = spark
    import spark2.implicits._
    // chain 0-1-2-3-4, duplicate + reversed edges, self loop, isolated pair
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 3L), (2L, 2L),
      (1L, 0L), (10L, 11L)).toDF("id1", "id2")
    val selfOnly = Seq((5L, 5L)).toDF("id1", "id2")
    // the fixpoint (localMaxEdges = 0) and the one-pass union-find
    for (local <- Seq(0, Clusterers.LocalMaxEdges)) {
      val got = Clusterers.connectedComponents(edges, 25, local)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
        10L -> 10L, 11L -> 10L), s"localMaxEdges $local")
      // all-self-loop input → empty labeling (no non-isolated nodes)
      assert(Clusterers.connectedComponents(selfOnly, 25, local).count() == 0)
    }
  }

  test("runEngine keeps clusters whose voting attribute is entirely null") {
    val spark2 = spark
    import spark2.implicits._
    val records = Seq(
      (1L, Some("a"), 10.0), (1L, Some("a"), 20.0),
      (2L, None: Option[String], 30.0), (2L, None, 50.0))
      .toDF("cluster", "status", "price")
    val fused = Fusion.runEngine(records, "cluster",
      Seq("status" -> "voting", "price" -> "average"))
      .orderBy("cluster").collect()
    assert(fused.length == 2)
    assert(fused(1).getLong(0) == 2L && fused(1).isNullAt(1))
    assert(fused(1).getDouble(2) == 40.0)
  }

  test("provenance: malformed date loses; timestamp time-of-day respected") {
    val spark2 = spark
    import spark2.implicits._
    val records = Seq(
      (1L, "A", "2024-01-02 10:00:00"),
      (1L, "B", "2024-01-02 23:59:00"), // same DATE, later time — must win
      (1L, "C", "not-a-date"))
      .toDF("cluster", "src", "ts")
    val win = Fusion.provenance(records, "cluster", "src", Seq("ts" -> "most_recent"))
      .collect()(0)
    assert(win.getString(3) == "B", s"winner was ${win.getString(3)}")
    val early = Fusion.provenance(records, "cluster", "src", Seq("ts" -> "earliest"))
      .collect()(0)
    assert(early.getString(3) == "A")
  }

  test("fusion evaluation rules: null protocol, fallbacks, token cleaning") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      // (fused, gold) string pairs exercising each rule's branches
      ("The Matrix!", "matrix, the"),       // tokenized: punct stripped → equal sets
      ("a b", "a c"),                        // tokenized: J=1/3 < 0.5? (1 shared of 3)
      (null, null),                          // both missing → correct everywhere
      ("yes", "TRUE"),                       // boolean: both → true
      ("maybe", "maybe"),                    // boolean: unparseable → string fallback equal
      ("12.004", "12.01"),                   // numeric tol 0.01: diff 0.006 ≤ tol
      ("abc", "abc"),                        // numeric: non-numeric → string fallback
      ("2024-03-01", "2024-12-31"))          // year_only: same year
      .toDF("f", "g")
    def acc(rule: String) = df.agg(
      sum(Fusion.matchRule(rule, col("f"), col("g")).cast("long"))).collect()(0).getLong(0)
    // correct rows: matrix/matrix, null-null, maybe/maybe, abc/abc
    assert(acc("tokenized:0.99") == 4)
    assert(acc("boolean") >= 4)
    assert(acc("numeric_tolerance:0.01") >= 4)
    assert(acc("year_only") >= 2)

    // precise per-rule single checks
    def one(rule: String, f: Any, g: Any): Boolean = {
      val r = Seq((Option(f).map(_.toString), Option(g).map(_.toString)))
        .toDF("f", "g")
        .select(Fusion.matchRule(rule, col("f"), col("g")).as("m")).collect()(0)
      r.getBoolean(0)
    }
    assert(one("tokenized:1.0", "The Matrix!", "matrix, the"))
    assert(!one("tokenized:0.5", "a b x", "a c y"))   // J = 1/5 < 0.5
    assert(one("tokenized:0.2", "a b x", "a c y"))    // J = 1/5 ≥ 0.2
    assert(one("boolean", "yes", "TRUE") && one("boolean", "0", "n"))
    assert(!one("boolean", "yes", "no"))
    assert(one("boolean", "maybe", "  MAYBE "))       // fallback trims + lowers
    assert(one("numeric_tolerance:0.01", "12.004", "12.01"))
    assert(!one("numeric_tolerance:0.001", "12.004", "12.01"))
    assert(one("numeric_tolerance:0.01", "abc", "abc"))
    assert(one("year_only", "2024-03-01", "2024-12-31"))
    assert(!one("year_only", "2024-03-01", "2023-03-01"))
    assert(!one("year_only", "not-a-date", "2024-01-01"))
    assert(one("exact", null, null) && !one("exact", "x", null))

    val arrs = Seq((Seq("b", "a", "a"), Seq("a", "b"))).toDF("f", "g")
      .select(Fusion.matchSetEquality(col("f"), col("g")).as("m")).collect()(0)
    assert(arrs.getBoolean(0))
  }

  test("streaming dedup re-emits a key after watermark expiry (multi-batch)") {
    // Documents the REAL dropDuplicatesWithinWatermark contract behind
    // stream_dedup's single-batch oracle assumption: once the watermark
    // passes a key's expiry, the key's state is gone and a recurrence is
    // legitimately re-emitted — a multi-batch sink does NOT equal
    // SELECT DISTINCT.
    val spark2 = spark
    import spark2.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark2.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val src = input.toDF().toDF("k", "ts").withWatermark("ts", "2 hours")
    val name = "graft_r5_dedup_expiry"
    val q = graft.streaming.Streams.dedupStream(src, Seq("k"))
      .select("k")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // batch 1: k twice within the horizon → exactly one emission
      input.addData(("k", t("2024-01-01 00:00:00")), ("k", t("2024-01-01 00:01:00")))
      q.processAllAvailable()
      // batch 2: unrelated key 10 h later → watermark advances to 08:00,
      // k's state (expiry 02:00) is evicted
      input.addData(("w", t("2024-01-01 10:00:00")))
      q.processAllAvailable()
      // batch 3: k again at 11:00 → state gone → re-emitted
      input.addData(("k", t("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val ks = spark2.table(name).filter(col("k") === "k").count()
      assert(ks == 2L, s"expected k emitted twice (pre+post expiry), got $ks")
      assert(spark2.table(name).count() == 3L)
    } finally q.stop()
  }

  test("pii scrub: all three pattern kinds, replacement order, counts") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(
      (1L, "mail a.b+c@x-corp.io and x@y.io call 555-123-4567 host 10.0.0.7 end"),
      (2L, "clean text only")).toDF("id", "text")
    val rows = graft.text.TextOps.piiScrub(df, "id", "text")
      .orderBy("id").collect()
    assert(rows(0).getLong(1) == 2 && rows(0).getLong(2) == 1 && rows(0).getLong(3) == 1)
    assert(rows(0).getString(4) ==
      "mail [EMAIL] and [EMAIL] call [PHONE] host [IP] end")
    assert(rows(1).getLong(1) == 0 && rows(1).getString(4) == "clean text only")
  }

  test("contamination: zero-hit docs kept with 0 bp; full overlap = 10000 bp") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "x y z w")).toDF("doc_id", "text")
    val probes = Seq(Tuple1("a b c d")).toDF("text")
    val got = graft.text.TextOps.contamination(docs, probes, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
    // doc 1: grams {a b c, b c d} both in probe → 10000 bp
    assert(got(0).getLong(1) == 2 && got(0).getLong(2) == 2 && got(0).getLong(3) == 10000)
    assert(got(1).getLong(2) == 0 && got(1).getLong(3) == 0)
  }

  test("stratified sample: f=1 keeps all, f=0 drops all, unmapped dropped, deterministic") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 400L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "st")
    def run() = graft.text.TextOps.stratifiedSample(df, col("st"), col("id"),
      Map("a" -> 1.0, "b" -> 0.25)).collect().map(_.getLong(0)).toSet
    val s1 = run(); val s2 = run()
    assert(s1 == s2)
    assert((1L to 400L).filter(_ % 2 == 0).forall(s1.contains)) // f=1.0 stratum complete
    val bKept = s1.count(_ % 2 == 1)
    assert(bKept > 20 && bKept < 80, s"~25% of 200 expected, got $bKept")
    val none = graft.text.TextOps.stratifiedSample(df, col("st"), col("id"),
      Map("a" -> 0.0)).count()
    assert(none == 0)
  }

  test("loadFwf: real file, short-line padding, trim semantics") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fwf")
    dir.toFile.deleteOnExit()
    val f = dir.resolve("data.txt")
    java.nio.file.Files.writeString(f,
      "alice     00042 berlin\n" +
      "bob       7\n" +          // short line: missing trailing fields
      "carol     00003 nyc   \n")
    val got = graft.io.Loaders.loadFwf(spark, f.toString, Seq(
        ("name", 1, 10), ("num", 11, 6), ("city", 17, 6)))
      .orderBy("name").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("alice", "bob", "carol"))
    assert(got(0).getString(1) == "00042" && got(0).getString(2) == "berlin")
    assert(got(1).getString(1) == "7" && got(1).getString(2) == "")
    assert(got(2).getString(2) == "nyc")
  }

  private def withSQLConf(kvs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val olds = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
