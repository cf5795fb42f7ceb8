package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.profiling.Profiler
import graft.streaming.Streams
import graft.text.TextOps

/** Round-8 additions: exact distributed quantiles, cross-document
  * line dedup, and the Gopher rule battery.
  */
class Round8Spec extends AnyFunSuite {
  import TestSpark._

  test("quantilesDisc matches in-memory PERCENTILE_DISC selection, with ties") {
    val spark2 = spark
    import spark2.implicits._
    // duplicates + negatives + a skewed tail
    val vals: Seq[Long] = Seq.fill(40)(7L) ++ (1L to 25L) ++ Seq(-3L, -3L, 0L, 1000L)
    val qs = Seq(10, 250, 500, 750, 900, 999, 1000)
    val df = vals.toDF("v")
    val got = Profiler.quantilesDisc(df, "v", col("v"), qs)
      .orderBy("q_milli").collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    val sorted = vals.sorted
    val n = sorted.size
    val want = qs.sorted.map { q =>
      val rank = math.max(1L, (q.toLong * n + 999L) / 1000L)
      (q, sorted((rank - 1).toInt))
    }
    assert(got.toSeq == want)
  }

  test("quantilesDisc is partitioning-invariant") {
    val spark2 = spark
    import spark2.implicits._
    val vals = (1L to 5000L).map(i => (i * 2654435761L) % 997L)
    def run(parts: Int) =
      Profiler.quantilesDisc(vals.toDF("v").repartition(parts), "v", col("v"),
          Seq(100, 500, 900, 990))
        .orderBy("q_milli").collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(run(1) == run(7) && run(7) == run(32))
  }

  test("lineDedup keeps the min-(doc,pos) occurrence, exempts short lines, preserves order") {
    val spark2 = spark
    import spark2.implicits._
    val dup = "this exact line repeats across many documents"
    val docs = Seq(
      (1L, s"unique first body line of doc one\n$dup\nshort line"),
      (2L, s"$dup\nunique body line of doc two here"),
      (3L, dup), // every eligible line lost -> empty doc survives
      (4L, s"short line\nshort line")
    ).toDF("doc_id", "text")
    val out = TextOps.lineDedup(docs, "doc_id", "text", minWords = 5)
      .orderBy("doc_id").collect()
    // doc 1 owns the duplicate (min doc_id); everything kept
    assert(out(0).getAs[Long]("n_dropped") == 0
      && out(0).getAs[String]("text_dedup").contains(dup))
    // doc 2 loses its copy but keeps its unique line, order preserved
    assert(out(1).getAs[Long]("n_dropped") == 1
      && out(1).getAs[String]("text_dedup") == "unique body line of doc two here")
    // doc 3 loses its only line -> present with empty text
    assert(out(2).getAs[Long]("n_kept") == 0
      && out(2).getAs[String]("text_dedup") == "")
    // doc 4: short lines are exempt from dedup even when repeated
    assert(out(3).getAs[Long]("n_dropped") == 0
      && out(3).getAs[Long]("n_lines") == 2)
  }

  test("pqSearch: ADC ranking is partitioning-invariant and finds planted twins") {
    val spark2 = spark
    import spark2.implicits._
    val dim = 16; val m = 4; val sub = dim / m
    // 13 distinct lattice vectors (the pattern has period 13 in i — more
    // would duplicate vec 0 and tie with the twin) + a near-twin of vec 0
    def vec(i: Long): Seq[Double] =
      (0 until dim).map(j => ((i * 31 + j * 17) % 13).toDouble)
    val corpus = ((0L until 13L).map(i => (i, vec(i))) :+
      (99L, vec(0).updated(3, vec(0)(3) + 0.25))).toDF("vec_id", "v")
    val books = corpus.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("_code"), col("v"))
      .select(col("_code"), explode(expr(
        s"transform(sequence(0, ${m - 1}), i -> struct(i as _m, slice(v, i * $sub + 1, $sub) as _cv))")).as("_s"))
      .select(col("_s._m").as("_m"), col("_code"), col("_s._cv").as("_cv"))
    def run(parts: Int) = graft.ann.Ann.pqSearch(
        corpus.filter(col("vec_id") === 0L), corpus.repartition(parts), books,
        "vec_id", "v", dim, m, k = 3)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val a = run(1); val b = run(13)
    assert(a == b, "ADC ranks must not depend on partitioning")
    // the planted twin quantizes to vec 0's codes -> ADC distance equals
    // vec 0's own table entries, i.e. the minimum -> rank 1
    assert(a.head._2 == 99L && a.head._4 == 1)
  }

  private val sf = "/root/testdata/sf0.001"

  test("dedupIncremental: planted batch outcomes map exactly per seed") {
    val out = graft.dedup.DedupQueries.dedupIncremental(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val seeds = out.keys.map(_ % 1000000L).toSet
    assert(seeds.nonEmpty)
    seeds.foreach { s =>
      assert(out(s + 2000000L) == "dup_corpus", s"seed $s near-copy of corpus doc")
      assert(out(s + 3000000L) == "kept", s"seed $s novel doc")
      assert(out(s + 4000000L) == "dup_batch", s"seed $s near-copy of novel batch doc")
    }
  }

  test("eventsRolling matches a per-user driver-side replay, incl. the 7-day edge") {
    val weekUs = 7L * 86400L * 1000000L
    val rows = ExtraQueries.eventsRolling(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val purchases = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")),
        expr("cast(round(value * 100) as long)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    rows.foreach { case (u, tsu, cnt, sum) =>
      val in = purchases(u).filter(p => p._2 > tsu - weekUs && p._2 <= tsu)
      assert(in.size.toLong == cnt && in.map(_._3).sum == sum,
        s"user $u at $tsu: got ($cnt,$sum) want (${in.size},${in.map(_._3).sum})")
    }
  }

  test("eventsRetention matches a driver-side cohort replay") {
    val weekUs = 7L * 86400L * 1000000L
    val got = ExtraQueries.eventsRetention(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts"))).collect()
      .map(r => (r.getLong(0), r.getLong(1) / weekUs)).distinct
    val cohort = ev.groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).min }
    val sizes = cohort.groupBy(_._2).map { case (w, m) => w -> m.size.toLong }
    val want = ev.groupBy { case (u, w) => (cohort(u), w - cohort(u)) }
      .map { case (k, m) =>
        k -> (m.size.toLong, sizes(k._1), m.size.toLong * 1000L / sizes(k._1))
      }
    assert(got == want)
  }

  test("r8 plan shapes: one shuffle for rolling, no cartesian anywhere, PQ broadcasts") {
    // events_rolling: exactly ONE exchange (the user_id hash partition);
    // the RANGE frame must not add a second shuffle or a nested loop
    val rolling = ExtraQueries.eventsRolling(spark, sf)
    val rp = rolling.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(rp).size
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges")
    assert(!rp.contains("CartesianProduct") && !rp.contains("BroadcastNestedLoop"))
    for (q <- Seq(ExtraQueries.eventsRetention(spark, sf),
        graft.profiling.ProfileQueries.profileQuantiles(spark, sf),
        graft.text.TextQueries.textLineDedup(spark, sf))) {
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p.take(400))
    }
    // PQ search: codebook and distance-table joins are broadcasts — the
    // corpus-sized codes frame must never shuffle onto a tiny side
    val pq = SparkEntry.queries("ann_pq_search")(spark, sf)
    val pp = pq.queryExecution.executedPlan.toString
    assert(pp.contains("BroadcastHashJoin"), "PQ joins should broadcast the small side")
    assert(!pp.contains("CartesianProduct") && !pp.contains("BroadcastNestedLoop"))
  }

  test("ngramNovelty: duplicated docs score 0, unique docs 1000, mixtures in between") {
    val spark2 = spark
    import spark2.implicits._
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val unique = (1 to 20).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, shared), (2L, shared),          // exact twins: nothing unique
      (3L, unique),                        // fully novel
      (4L, s"$shared x1 x2 x3")            // shares 1's grams + has its own
    ).toDF("doc_id", "text")
    val out = TextOps.ngramNovelty(docs, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out(1L) == 0L && out(2L) == 0L && out(3L) == 1000L)
    assert(out(4L) > 0L && out(4L) < 1000L)
  }

  test("dedupCrossSource: cells are least/greatest-normalized and sum to the pair count") {
    val cells = graft.dedup.DedupQueries.dedupCrossSource(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(cells.nonEmpty)
    assert(cells.forall { case (a, b, _) => a <= b })
    val nPairs = graft.dedup.Dedup.minhashLsh(
      Tables.documents(spark, sf), "doc_id", "text", 3, 4, 3, 0.8).count()
    assert(cells.map(_._3).sum == nPairs)
  }

  test("nearDupStream: flags arrive per batch, repeats emit once, novel docs pass") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark2 = spark
    import spark2.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def toks(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val corpus = Seq((100L, toks("w")), (200L, toks("v"))).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupStream(mem.toDF.toDF("doc_id", "text"), corpus,
        "doc_id", "text")
      .writeStream.format("memory").queryName("neardup_sink")
      .outputMode("append")
      .option("checkpointLocation", Streams.freshCheckpointDir("neardup_spec"))
      .start()
    try {
      mem.addData((1L, "x0 x1 " + toks("w"))) // near-dup of corpus 100
      q.processAllAvailable()
      assert(spark.table("neardup_sink").as[Long].collect().toSeq == Seq(1L))
      mem.addData((2L, toks("z")),            // novel -> passes silently
        (1L, "x0 x1 " + toks("w")),           // repeat -> state suppresses
        (3L, "y0 y1 " + toks("v")))           // near-dup of corpus 200 -> flags
      q.processAllAvailable()
      assert(spark.table("neardup_sink").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("psiDrift: identical snapshots score exactly 0, a planted shift fires") {
    val spark2 = spark
    import spark2.implicits._
    val vals = (1L to 2000L).map(i => (i % 2 == 0, (i * 2654435761L) % 500L))
    val same = Profiler.psiDrift(vals.toDF("in_a", "v"), col("in_a"), col("v"), 10)
      .collect()
    assert(same.length == 10)
    // even/odd halves of the same hash sequence: per-bin counts differ
    // by at most rounding, PSI stays far under the 0.1 "no shift" bar
    assert(math.abs(same.head.getAs[Double]("psi")) < 0.01)
    val shifted = vals.map { case (a, v) => (a, if (a) v else v + 250L) }
    val psi = Profiler.psiDrift(shifted.toDF("in_a", "v"), col("in_a"), col("v"), 10)
      .collect().head.getAs[Double]("psi")
    assert(psi > 0.2, s"planted half-range shift must fire the monitor, psi=$psi")
  }

  test("langConfusion: per-language shares sum to ~1000 milli and the en diagonal exists") {
    val cells = graft.text.TextQueries.textLangConfusion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(4)))
    assert(cells.nonEmpty)
    cells.groupBy(_._1).foreach { case (lang, cs) =>
      val total = cs.map(_._4).sum
      // integer-floor shares: within langs-1 milli of exactly 1000
      assert(total <= 1000 && total > 1000 - cs.size,
        s"$lang shares sum to $total")
    }
    assert(cells.exists { case (l, p, n, _) => l == "en" && p == "en" && n > 0 })
  }

  test("eventsAnomaly: the z circuit is exact on a hand-computable series") {
    // replicate the query's arithmetic on a crafted trailing window:
    // 28 days alternating 10/12, then a 40-count spike
    val trail = (0 until 28).map(i => if (i % 2 == 0) 10L else 12L)
    val n = trail.size.toLong
    val s = trail.sum
    val s2 = trail.map(c => c * c).sum
    val x = 40L
    val z = math.floor((x * n - s).toDouble / math.sqrt((s2 * n - s * s).toDouble) * 1.0e6).toLong
    assert(z > 3000000L, s"a 4x spike over a tight baseline must fire, z=$z")
    // and the query end-to-end: all emitted rows carry a full-enough
    // window, z is defined whenever the window varies, flags are |z|>3
    val rows = ExtraQueries.eventsAnomaly(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(3) >= 14)
      if (!r.isNullAt(4))
        assert(r.getBoolean(5) == (math.abs(r.getLong(4)) > 3000000L))
    }
  }

  test("gopherRules: each rule trips on its crafted violator") {
    val spark2 = spark
    import spark2.implicits._
    val good = (Seq("the", "be", "to", "of", "and") ++
      Seq.fill(60)("word")).mkString(" ")
    val docs = Seq(
      (1L, good),                                  // passes everything
      (2L, "too few words"),                       // word-count rule
      (3L, (Seq("the", "be") ++ Seq.fill(60)("a")).mkString(" ")), // mean word len < 3
      (4L, (Seq("the", "be") ++ Seq.fill(60)("####word")).mkString(" ")), // symbol ratio
      (5L, (Seq("the", "be") ++ Seq.fill(60)("1234")).mkString(" ")), // alpha fraction
      (6L, Seq.fill(60)("word").mkString(" ")),    // no required stopwords
      (7L, (1 to 60).map(i => s"- bullet item number $i the be").mkString("\n")), // bullets
      (8L, (1 to 60).map(i => s"line number $i of the be doc...").mkString("\n")) // ellipsis
    ).toDF("doc_id", "text")
    val keep = TextOps.gopherRules(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getAs[Boolean]("keep"))
    assert(keep.toSeq == Seq(true, false, false, false, false, false, false, false))
  }
}
