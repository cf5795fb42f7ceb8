package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams

/** Round-10 hardening (r9 advice closures):
  *  - the near-dup corpus index carries its hash family in the band-key
  *    column metadata, through a parquet or bucketed-table roundtrip;
  *  - the shingle kernel drops windows containing null words (the old
  *    declarative chain's law) instead of emitting short shingles;
  *  - an index tagged with a family other than md5 is rejected.
  */
class Round10Spec extends AnyFunSuite {
  import TestSpark._

  test("shingle kernel drops windows containing null words (declarative-chain law)") {
    val spark2 = spark
    import spark2.implicits._
    val df = Seq(Tuple1(Seq[String]("a", "b", "c"))).toDF("w")
      .select(graft.functions.minhash.wordShingles(
        // inject a null element: array('a', NULL, 'b', 'c')
        array(lit("a"), lit(null).cast("string"), lit("b"), lit("c")), 2).as("sh"))
    val got = df.as[Seq[String]].head()
    // windows: (a,NULL) drop, (NULL,b) drop, (b,c) keep
    assert(got == Seq("b c"),
      s"null-word windows must be dropped like the old size-filter chain, got $got")
  }

  test("near-dup index hash-family tag survives a parquet roundtrip") {
    val spark2 = spark
    import spark2.implicits._
    def toks(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val corpus = Seq((100L, toks("w"))).toDF("doc_id", "text")
    val index = Streams.nearDupIndex(corpus, "doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ndidx").toString
    try {
      index.write.mode("overwrite").parquet(dir)
      val back = spark.read.parquet(dir)
      val tag = back.schema.fields.find(_.name == "_bkey")
        .filter(_.metadata.contains("graft.hashFamily"))
        .map(_.metadata.getString("graft.hashFamily"))
      assert(tag.contains("md5"),
        s"column metadata must survive the parquet footer roundtrip, got $tag")
    } finally {
      index.unpersist(false)
      val p = java.nio.file.Paths.get(dir)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  test("PQ fit: trained codebooks recover planted twins (recall@1 vs brute truth)") {
    import graft.ann.Ann
    val spark2 = spark
    import spark2.implicits._
    val orig = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val twins = orig.select((col("vec_id") + 100000).as("vec_id"),
      concat(array(element_at(col("v"), 1) + lit(0.2)), slice(col("v"), 2, 63)).as("v"))
    val corpus = orig.unionByName(twins)
    val queries = orig.limit(20)
    val books = Ann.pqFit(corpus, "vec_id", "v", dim = 64, m = 4, ksub = 16)
    assert(books.count() == 4L * 16L, "one codebook entry per (subspace, code)")
    val pq = Ann.pqSearch(queries, corpus, books, "vec_id", "v", dim = 64,
      m = 4, k = 1).collect()
    // ADC distance to the twin (one coordinate off by 0.2) must beat
    // every unrelated vector for nearly all queries — the signal that
    // the TRAINED subspace codebooks actually quantize this corpus
    val hits = pq.count(r => r.getLong(1) == r.getLong(0) + 100000)
    assert(hits >= (pq.length * 0.9).toInt, s"trained-PQ recall@1 too low: $hits/${pq.length}")
  }

  test("canopy: full coverage, multi-membership, tight-removed never centers, repartition-stable") {
    import graft.blocking.Blockers
    val spark2 = spark
    import spark2.implicits._
    // two groups; in g1: 1 and 2 are near-dups (tight), 3 shares a token
    // with both (loose only), 4 is isolated; g2: a lone record
    val recs = Seq(
      (1L, "alpha beta gamma", "g1"),
      (2L, "alpha beta gamma delta", "g1"),   // jacc(1,2) = 3/4 = 750 (tight)
      (3L, "alpha zeta eta theta", "g1"),     // jacc(1,3) = 1/6 = 166; jacc(3,2)=1/7
      (4L, "omega psi", "g1"),
      (5L, "solo record", "g2")).toDF("id", "text", "grp")
    def run(df: org.apache.spark.sql.DataFrame) =
      Blockers.canopy(df, Seq("grp"), "id", "text", t1Milli = 150L, t2Milli = 700L)
        .orderBy("canopy", "id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = run(recs)
    // center 1 retires 2 (750 >= 700) and itself; canopy(1) = {1, 2, 3}
    // (3 at 166 >= 150 loose); 3 and 4 then center themselves; 5 centers g2
    assert(got.filter(_._1 == 1L).map(_._2) == Seq(1L, 2L, 3L))
    assert(!got.map(_._1).contains(2L), "tight-removed record must never center")
    // every input id is a member of at least one canopy (T2 >= T1 coverage law)
    assert(got.map(_._2).toSet == Set(1L, 2L, 3L, 4L, 5L))
    // 3 is in two canopies: canopy(1) loosely and its own — the
    // multi-membership property that makes canopies a valid pre-blocker
    assert(got.count(_._2 == 3L) == 2)
    // deterministic under partitioning
    assert(run(recs.repartition(7)) == got)
    intercept[IllegalArgumentException] {
      Blockers.canopy(recs, Seq("grp"), "id", "text", t1Milli = 700L, t2Milli = 300L)
    }
  }

  test("asof auto mode: skewed key routes chunked with identical output; small input stays unchunked") {
    import graft.operators.AsofJoin
    val spark2 = spark
    import spark2.implicits._
    // one hot key with 2000 history rows, a few cold keys
    val right = ((1 to 2000).map(i => (1L, i.toLong * 3, s"v$i")) ++
      (1 to 5).map(i => (100L + i, i.toLong * 10, s"w$i"))).toDF("k", "ts", "vname")
    val left = ((1 to 200).map(i => (1L, i.toLong * 31, s"p$i")) ++
      (1 to 5).map(i => (100L + i, i.toLong * 10 + 5, s"q$i"))).toDF("k", "ts", "pname")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.toString

    // default auto on a tiny input: FREE stats gate keeps the unchunked
    // one-shuffle plan (no _ck chunk column anywhere in the plan)
    val small = AsofJoin.asofBackward(left, right, "k", "ts")
    assert(!plan(small).contains("_ck"), "tiny input must not pay the chunked shape")
    val expected = small.orderBy("k", "ts", "pname").collect().toSeq

    // with the thresholds shrunk so this input counts as hot-keyed, the
    // sampled decision picks a width, and the chunked plan it routes
    // to returns the same rows
    val width = AsofJoin.autoChunkWidth(left, right, "k", "ts", minBytes = 1, maxKeyRows = 50)
    assert(width.isDefined,
      "skewed-key input past the thresholds must auto-route to the chunked plan")
    val routed = AsofJoin.asofBackwardChunked(left, right, "k", "ts", width.get)
    assert(plan(routed).contains("_ck"))
    assert(routed.orderBy("k", "ts", "pname").collect().toSeq == expected,
      "auto-chunked result must be identical to the unchunked result")
  }

  test("nearDupStreamIndexed rejects an index tagged xxhash64; an untagged index is md5") {
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder}
    val spark2 = spark
    import spark2.implicits._
    def toks(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val corpus = Seq((100L, toks("w"))).toDF("doc_id", "text")
    val docs = Seq((1L, "x0 x1 " + toks("w"))).toDF("doc_id", "text")
    val index = Streams.nearDupIndex(corpus, "doc_id", "text")
    try {
      def retag(meta: Metadata) = index.select(index.columns.toSeq.map(c =>
        if (c == "_bkey") col(c).as(c, meta) else col(c)): _*)
      val xx = retag(new MetadataBuilder().putString("graft.hashFamily", "xxhash64").build())
      val e = intercept[IllegalArgumentException](
        Streams.nearDupStreamIndexed(docs, xx, "doc_id", "text"))
      assert(e.getMessage.contains("xxhash64"))
      val untagged = retag(Metadata.empty)
      assert(untagged.schema("_bkey").metadata == Metadata.empty)
      assert(Streams.nearDupStreamIndexed(docs, untagged, "doc_id", "text")
        .as[Long].collect().toSeq == Seq(1L))
    } finally index.unpersist(false)
  }

  test("bucketed on-disk near-dup index: tag survives saveAsTable; micro-batch " +
      "reads the index in place (no Exchange above the bucketed scan)") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    val spark2 = spark
    import spark2.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def toks(p: String) = (1 to 30).map(i => s"$p$i").mkString(" ")
    val corpus = Seq((100L, toks("w")), (200L, toks("v"))).toDF("doc_id", "text")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Streams.nearDupIndexSave(corpus, "b_ndidx_spec", "doc_id", "text", buckets = 4)
      val index = Streams.nearDupIndexLoad(spark, "b_ndidx_spec")
      // family tag rides through the catalog schema / parquet footer
      val tag = index.schema.fields.find(_.name == "_bkey")
        .filter(_.metadata.contains("graft.hashFamily"))
        .map(_.metadata.getString("graft.hashFamily"))
      assert(tag.contains("md5"),
        s"hash-family tag must survive the bucketed-table roundtrip, got $tag")
      val mem = MemoryStream[(Long, String)]
      val q = Streams.nearDupStreamIndexed(mem.toDF.toDF("doc_id", "text"), index,
          "doc_id", "text")
        .writeStream.format("memory").queryName("ndb_sink")
        .outputMode("append")
        .option("checkpointLocation", Streams.freshCheckpointDir("ndb_spec"))
        .start()
      try {
        mem.addData((1L, "x0 x1 " + toks("w")))
        q.processAllAvailable()
        assert(spark.table("ndb_sink").as[Long].collect().toSeq == Seq(1L))
        val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
        val plan = exec.executedPlan
        assert(plan.toString.contains("Bucketed: true"),
          "index side must be the bucketed in-place scan:\n" + plan.toString.take(4000))
        // the ONLY shuffle allowed is the arriving batch hashing into the
        // index's bucketing — never the index itself. An exchange is
        // offending iff its ENTIRE subtree is the static index (the
        // post-join stateful-dedup repartition legitimately has the
        // file scan among its leaves, alongside the stream scan).
        val offending = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
              if e.collectLeaves().forall(
                _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec]) => e
        }
        assert(offending.isEmpty,
          "bucketed index side must not re-shuffle:\n" + plan.toString.take(4000))
      } finally q.stop()
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_ndidx_spec")
    }
  }

  test("CMS: never underestimates, and shard sketches sum cell-wise into the " +
      "union sketch (the mergeability that makes it a one-pass cluster profile)") {
    import graft.profiling.Sketches
    val spark2 = spark
    import spark2.implicits._
    val items = (1 to 400).flatMap(i => Seq.fill(1 + i % 7)(i.toLong))
    val df = items.toDF("x")
    val counters = Sketches.cmsCounters(df, col("x"), d = 4, w = 64) // tight w: collisions guaranteed
    val exact = df.groupBy("x").agg(count(lit(1)).as("exact"))
    val est = Sketches.cmsEstimate(counters, exact.select("x"), "x", d = 4, w = 64)
      .join(exact, "x")
      .select($"x", $"cms_cnt", $"exact").as[(Long, Long, Long)].collect()
    assert(est.length == 400)
    assert(est.forall { case (_, cms, ex) => cms >= ex },
      "CMS is an upper bound — it must never undercount")
    // merge law: sketch(A) + sketch(B) cell-wise == sketch(A union B)
    val (a, b) = (items.filter(_ % 2 == 0), items.filter(_ % 2 == 1))
    val merged = Sketches.cmsCounters(a.toDF("x"), col("x"), 4, 64)
      .unionByName(Sketches.cmsCounters(b.toDF("x"), col("x"), 4, 64))
      .groupBy("j", "bucket").agg(sum("c").as("c"))
    assert(merged.exceptAll(counters).isEmpty && counters.exceptAll(merged).isEmpty,
      "cell-wise sum of shard sketches must equal the union's sketch")
  }

  test("CMS plans: counter build is one partial-agg shuffle; estimate lookup " +
      "broadcasts the counter table") {
    import graft.profiling.Sketches
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 1000L).toDF("x")
    val counters = Sketches.cmsCounters(df, col("x"), d = 4, w = 512)
    val buildPlan = counters.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(buildPlan).size == 1,
      "counter build must be exactly one shuffle (the sketch merge):\n" +
        buildPlan.take(2000))
    assert(buildPlan.contains("partial_count") || buildPlan.contains("partial count") ||
      buildPlan.toLowerCase.contains("hashaggregate"),
      "counter build must combine map-side:\n" + buildPlan.take(2000))
    val est = Sketches.cmsEstimate(counters, df.limit(5), "x", d = 4, w = 512)
    assert(est.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "estimate lookup must broadcast the bounded counter table")
  }

  test("HLL: halves merge by element-wise register max, and the estimate " +
      "lands within the theoretical error band") {
    import graft.profiling.Sketches
    val spark2 = spark
    import spark2.implicits._
    val n = 5000
    val df = (1 to n).map(_.toLong).toDF("x")
    val whole = Sketches.hllRegisters(df, col("x"))
    assert(whole.count() <= 256)
    val halves = Sketches.hllRegisters((1 to n / 2).map(_.toLong).toDF("x"), col("x"))
      .unionByName(Sketches.hllRegisters((n / 2 + 1 to n).map(_.toLong).toDF("x"), col("x")))
      .groupBy("reg").agg(max("r").as("r"))
    assert(halves.exceptAll(whole).isEmpty && whole.exceptAll(halves).isEmpty,
      "element-wise max of the halves' registers must equal the whole's registers")
    val est = Sketches.hllSummary(whole).select("est").as[Long].head()
    // sigma = 1.04/sqrt(256) = 6.5%; allow 3 sigma
    assert(math.abs(est - n) <= 0.195 * n, s"estimate $est too far from $n")
    // small-range branch: 150 distinct over 256 registers must take the
    // LinearCounting correction and beat the raw estimate
    val small = Sketches.hllSummary(
      Sketches.hllRegisters((1 to 150).map(_.toLong).toDF("x"), col("x")))
      .select("est_raw", "est").as[(Long, Long)].head()
    assert(math.abs(small._2 - 150) < math.abs(small._1 - 150),
      s"LC-corrected ${small._2} must beat raw ${small._1} at 150 distinct")
    assert(math.abs(small._2 - 150) <= 30)
  }

  test("Bloom decontamination: no false negatives, and the flag plan is a " +
      "pure scan — zero Exchange, zero joins on the corpus side") {
    import graft.text.Bloom
    val spark2 = spark
    import spark2.implicits._
    def doc(p: String, k: Int) = (1 to 12).map(i => s"$p${(i + k) % 9}x$i").mkString(" ")
    val docs = (1L to 200L).map(i => (i, doc(s"d${i % 17}_", i.toInt))).toDF("doc_id", "text")
    val probes = docs.filter($"doc_id" % 10 === 0)
    val out = Bloom.contaminationBloom(docs, probes, "doc_id", "text", n = 3)
    val rows = out.select("doc_id", "bloom_flag", "exact_flag")
      .as[(Long, Boolean, Boolean)].collect()
    assert(rows.length == 200)
    assert(rows.forall { case (_, bf, ef) => !ef || bf },
      "bloom_flag must be a superset of exact_flag (no false negatives)")
    assert(rows.count(_._3) >= 20, "planted probes must be exact-flagged")
    // the scale claim: flagging is a single-scan projection
    val flagOnly = Bloom.bloomFlag(docs, "doc_id", "text",
      Bloom.evalBitmap(probes, "text"), n = 3)
    val plan = flagOnly.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      "bloom flag must be a zero-shuffle projection:\n" + plan.take(3000))
  }

  test("native session_window: open session absorbs a later micro-batch's " +
      "event (cross-batch merge in the session state store)") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    val spark2 = spark
    import spark2.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val q = Streams.sessionWindowAgg(
        mem.toDF.toDF("ts", "user_id", "event_id").withWatermark("ts", "0 seconds"), 30)
      .writeStream.format("memory").queryName("swin_sink")
      .outputMode("append")
      .option("checkpointLocation", Streams.freshCheckpointDir("swin_spec"))
      .start()
    try {
      mem.addData((ts("2024-01-01 10:00:00"), 7L, 1L), (ts("2024-01-01 10:10:00"), 7L, 2L))
      q.processAllAvailable()
      // second batch: lands INSIDE the open session's gap -> must merge
      mem.addData((ts("2024-01-01 10:20:00"), 7L, 3L))
      q.processAllAvailable()
      // third batch: far future advances the watermark, closing the session
      mem.addData((ts("2024-01-01 13:00:00"), 8L, 4L))
      q.processAllAvailable()
      val got = spark.table("swin_sink")
        .select("user_id", "session_start", "session_end", "n_events")
        .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSeq
      assert(got == Seq((7L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:50:00"), 3L)),
        s"the three events must merge into ONE session across batches, got $got")
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(exec.executedPlan.toString.contains("SessionWindowStateStore"),
        "must run on the dedicated session-window state store operator:\n" +
          exec.executedPlan.toString.take(3000))
    } finally q.stop()
  }

  test("IVF-PQ: probing every cell degenerates to plain PQ exactly; pruned " +
      "probing still recovers planted twins") {
    import graft.ann.Ann
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(7)
    // 4 well-separated clusters of 15 vectors each, dim 8
    val base = Array(Array.fill(8)(0.0), Array.fill(8)(10.0),
      Array(0.0, 10, 0, 10, 0, 10, 0, 10), Array(10.0, 0, 10, 0, 10, 0, 10, 0))
    val vecs = (0 until 60).map { i =>
      (i.toLong, base(i % 4).map(_ + rnd.nextDouble() * 0.5).toSeq)
    }.toDF("vec_id", "v")
    val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
    val cents = vecs.orderBy("vec_id").limit(4)
      .select((row_number().over(w) - 1).as("_cell"), col("v").as("_cv"))
    val seeds = vecs.orderBy("vec_id").limit(8)
      .select((row_number().over(w) - 1).as("_code"), col("v"))
    val books = seeds.select(col("_code"), explode(expr(
        "transform(sequence(0, 1), i -> struct(i as _m, slice(v, i * 4 + 1, 4) as _cv))")).as("_s"))
      .select(col("_s._m").as("_m"), col("_code"), col("_s._cv").as("_cv"))
    val q = vecs.filter($"vec_id" < 4)
    val full = Ann.ivfpqSearch(q, vecs, cents, books, "vec_id", "v",
      dim = 8, m = 2, k = 5, nprobe = 4)
    val pq = Ann.pqSearch(q, vecs, books, "vec_id", "v", dim = 8, m = 2, k = 5)
    assert(full.exceptAll(pq).isEmpty && pq.exceptAll(full).isEmpty,
      "nprobe = nlist must reproduce plain PQ bit-for-bit")
    // pruned: nprobe=1 — every result must come from the query's own cluster
    val pruned = Ann.ivfpqSearch(q, vecs, cents, books, "vec_id", "v",
      dim = 8, m = 2, k = 5, nprobe = 1)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(pruned.nonEmpty)
    assert(pruned.forall { case (qid, id) => id % 4 == qid % 4 },
      s"nprobe=1 results must stay in the query's cluster, got ${pruned.take(8).toSeq}")
  }

  test("streaming HLL: stateful windowed agg emits the identical register " +
      "sketch the batch transform computes, with (window x 256)-bounded state") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import graft.profiling.Sketches
    val spark2 = spark
    import spark2.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val day1 = (1L to 300L).map(u => (ts("2024-01-01 06:00:00"), u))
    val day1b = (250L to 400L).map(u => (ts("2024-01-01 18:00:00"), u))
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val q = Streams.hllWindowRegisters(
        mem.toDF.toDF("ts", "user_id").withWatermark("ts", "1 hour"), "1 day")
      .writeStream.format("memory").queryName("hll_sink")
      .outputMode("append")
      .option("checkpointLocation", Streams.freshCheckpointDir("hll_spec"))
      .start()
    try {
      mem.addData(day1: _*)
      q.processAllAvailable()
      mem.addData(day1b: _*)
      q.processAllAvailable()
      // day-3 marker advances the watermark past day 1 -> its window closes
      mem.addData((ts("2024-01-03 12:00:00"), 9999L))
      q.processAllAvailable()
      val streamed = spark.table("hll_sink")
        .filter($"window_start" === ts("2024-01-01 00:00:00"))
        .select("reg", "r")
      val batch = Sketches.hllRegisters((day1 ++ day1b).map(_._2).toDF("x"), col("x"))
      assert(streamed.count() > 0, "day-1 window must have emitted")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streamed registers must equal the batch sketch exactly")
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(exec.executedPlan.toString.contains("StateStoreSave"),
        "must be a real stateful streaming aggregation")
    } finally q.stop()
  }

  test("geo blocker: equals brute-force nearest within the 3x3 window, finds " +
      "planted twins, and plans an equi-join (never a cross product)") {
    import graft.blocking.Blockers
    val spark2 = spark
    import spark2.implicits._
    // planted: probe i sits at (i*1000, i*1000); its twin index record at
    // distance sqrt(2)*10; decoys far away but inside the window
    val probes = (1L to 50L).map(i => (i, i * 1000L, i * 1000L)).toDF("id", "lat", "lon")
    val index = ((1L to 50L).map(i => (i * 100L, i * 1000L + 10L, i * 1000L + 10L)) ++
      (1L to 50L).map(i => (i * 100L + 1L, i * 1000L + 900L, i * 1000L)))
      .toDF("sid", "lat", "lon")
    val got = Blockers.geoNearest(probes, index, cell = 5000L)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.length == 50)
    assert(got.forall { case (i, sid, d) => sid == i * 100L && d == 200L },
      s"every probe must pick its planted twin, got ${got.take(5).toSeq}")
    // brute-force within-window replay
    val brute = probes.as[(Long, Long, Long)].collect().map { case (i, la, lo) =>
      val cands = index.as[(Long, Long, Long)].collect().filter { case (_, rla, rlo) =>
        math.abs(rla / 5000L - la / 5000L) <= 1 && math.abs(rlo / 5000L - lo / 5000L) <= 1
      }
      val best = cands.map { case (sid, rla, rlo) =>
        ((rla - la) * (rla - la) + (rlo - lo) * (rlo - lo), sid)
      }.min
      (i, best._2, best._1)
    }
    assert(got.toSeq == brute.toSeq.sortBy(_._1))
    val plan = Blockers.geoNearest(probes, index, cell = 5000L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "grid blocker must plan an equi-join:\n" + plan.take(2000))
  }

  test("stream-stream interval join: view buffered across the batch boundary " +
      "matches a later purchase (symmetric hash join state)") {
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    val spark2 = spark
    import spark2.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val memV = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val memP = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val views = memV.toDF.toDF("ts", "user_id", "event_id").withWatermark("ts", "1 hour")
    val purchases = memP.toDF.toDF("ts", "user_id", "event_id").withWatermark("ts", "1 hour")
    val q = Streams.intervalJoinStream(views, purchases, withinHours = 24)
      .writeStream.format("memory").queryName("ivj_sink")
      .outputMode("append")
      .option("checkpointLocation", Streams.freshCheckpointDir("ivj_spec"))
      .start()
    try {
      // batch 1: only the view arrives
      memV.addData((ts("2024-01-01 00:00:00"), 7L, 1L))
      q.processAllAvailable()
      assert(spark.table("ivj_sink").count() == 0)
      // batch 2: its purchase 30 min later, plus one outside the window
      memP.addData((ts("2024-01-01 00:30:00"), 7L, 2L),
        (ts("2024-01-03 05:00:00"), 7L, 3L))
      q.processAllAvailable()
      val got = spark.table("ivj_sink")
        .select("user_id", "view_id", "purchase_id", "lag_us")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == Seq((7L, 1L, 2L, 1800L * 1000000L)),
        s"buffered view must match the later in-window purchase only, got $got")
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(exec.executedPlan.toString.contains("StreamingSymmetricHashJoin"),
        "must be the real stateful stream-stream join operator:\n" +
          exec.executedPlan.toString.take(3000))
    } finally q.stop()
  }
}
