package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run of one workload in a fresh JVM: set up (session +
  * seeded inputs, generated `Setups` times), one cold execution, warm-up,
  * then a closed loop of executions for `--seconds`. Every execution's
  * output is checked. The last stdout line is `RESULT {json}`.
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics. Traced, it
  * alternates traced and untraced executions in the timed loop and reports
  * the per-layer medians of the traced ones; spans and counters go to
  * `--trace-file`.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, t0Ms: Long, cores: Int, traceFile: Option[File],
      generateTo: Option[File])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      new File(m("work")), m.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis()),
      m.getOrElse("cores", "4").toInt,
      m.get("trace-file").map(new File(_)), m.get("generate-to").map(new File(_)))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jitBean = ManagementFactory.getCompilationMXBean
  /** Process CPU seconds, JIT compilation included. */
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9
  /** JIT compiler time (elapsed, summed over compiler threads); a
    * diagnostic printed per execution, not a metric.
    */
  private def jitS: Double = jitBean.getTotalCompilationTime / 1e3
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Between executions, outside the timed window: drop persisted RDDs
    * (cached frames included) and wait until their blocks are gone, then
    * clear the cache registry and collect garbage, so cleanup of blocks,
    * shuffle files and broadcasts does not land inside the next execution.
    * The blocking unpersist comes first: `clearCache` alone removes blocks
    * asynchronously, and a heap reading taken meanwhile still holds some.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  /** Heap in use once it stops shrinking: full GCs 0.25 s apart until two
    * readings agree within 1 MB. Broadcast blocks (hashed relations of
    * broadcast joins, tens of MB) are removed by Spark's context cleaner
    * thread only after a GC has found their handles unreachable, so a
    * single GC reads them or not depending on that thread's timing.
    */
  def settledHeapMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    var prev = Double.MaxValue
    var cur = { System.gc(); used }
    var rounds = 0
    while (math.abs(prev - cur) >= 1.0 && rounds < 20) {
      Thread.sleep(250)
      System.gc()
      prev = cur
      cur = used
      rounds += 1
    }
    cur
  }

  /** Order-independent digest of the written outputs, in one job: per
    * output, row count, xor and modular sum of a per-row hash.
    */
  def outputDigest(spark: SparkSession, paths: Seq[String]): Seq[String] = {
    val hashed = paths.zipWithIndex.map { case (p, i) =>
      val df = spark.read.parquet(p)
      df.select(lit(i).as("o"), xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).as("h"))
    }.reduce(_.unionByName(_))
    val byOutput = hashed.groupBy("o").agg(count(lit(1)), bit_xor(col("h")),
      sum(pmod(col("h"), lit(1000000007L)))).collect()
      .map(r => r.getInt(0) -> r.toSeq.tail.mkString(":")).toMap
    paths.indices.map(i => byOutput.getOrElse(i, "empty"))
  }

  final case class Exec(traced: Boolean, wallS: Double, cpuS: Double, gcS: Double,
      failed: Boolean, wrong: Boolean, layer: Map[String, Double])

  /** Input generations per run; set-up reports their median. */
  val Setups = 2

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workload.all.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    o.work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(o.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Sessions.tune(spark)
    val sessionS = (System.currentTimeMillis() - o.t0Ms) / 1e3

    o.generateTo.foreach { dir =>
      Util.deleteRecursively(dir)
      w.generate(spark, o.seed, dir)
      spark.stop()
      println(s"GENERATED ${dir.getPath} sha256=${Util.treeDigest(dir)}")
      return
    }

    // ---- set-up: the same seed generated `Setups` times must give the same bytes
    val genS = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.ArrayBuffer.empty[String]
    var truth: w.Truth = null.asInstanceOf[w.Truth]
    for (k <- 0 until Setups) {
      val dir = new File(o.work, s"in-$k")
      val t = System.nanoTime()
      truth = w.generate(spark, o.seed, dir)
      genS += (System.nanoTime() - t) / 1e9
      digests += Util.treeDigest(dir)
      if (k > 0) Util.deleteRecursively(dir)
    }
    val in = new File(o.work, "in-0").getPath
    val deterministic = digests.distinct.size == 1
    val setupS = sessionS + Util.median(genS.toSeq)
    println(f"SETUP session_s=$sessionS%.3f gen_s=${genS.map(x => f"$x%.3f").mkString(",")} " +
      s"deterministic=$deterministic")

    // ---- executions
    val listener = new SpanListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val tr = new Tracer(spark)
    var reference: Option[Seq[String]] = None
    var f1 = Double.NaN
    var counts = Map.empty[String, Double]
    val execs = mutable.ArrayBuffer.empty[Exec]

    def execute(traced: Boolean): Exec = {
      val i = execs.size
      val out = new File(o.work, s"out-$i").getPath
      cleanup(spark)
      tr.exec = i
      tr.on = traced
      val (c0, g0, j0, t0) = (cpuS, gcS, jitS, System.nanoTime())
      val threw = try {
        tr.span("pipeline")(w.run(spark, in, out, tr)); None
      } catch { case e: Exception => Some(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu, gc, jit) = (cpuS - c0, gcS - g0, jitS - j0)
      tr.on = false
      tr.release()
      threw.foreach(e => System.err.println(s"execution $i threw: $e"))
      // check: the first good output fully; later ones by digest, fully if it differs
      val tc = System.nanoTime()
      val wrong = threw.isEmpty && {
        val dig = outputDigest(spark, w.outputs.map(p => s"$out/$p"))
        if (reference.contains(dig)) false
        else {
          val r = w.check(spark, truth, out)
          if (r.ok) {
            if (reference.isEmpty) { reference = Some(dig); f1 = r.f1; counts = r.counts }
          } else System.err.println(s"execution $i failed its check:\n  " + r.errors.mkString("\n  "))
          !r.ok
        }
      }
      val layer =
        if (traced && threw.isEmpty && !wrong) {
          org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
          LayerMetrics(tr, listener, i, wall, gc, counts, Util.du(new File(out)))
        } else Map.empty[String, Double]
      Util.deleteRecursively(new File(out))
      val e = Exec(traced, wall, cpu, gc, threw.nonEmpty || wrong, wrong, layer)
      execs += e
      println(f"EXEC $i traced=$traced wall_s=$wall%.3f cpu_s=$cpu%.3f jit_s=$jit%.3f gc_s=$gc%.3f " +
        f"check_s=${(System.nanoTime() - tc) / 1e9}%.3f failed=${e.failed}")
      e
    }

    // a fixed number of warm-up executions, so the timed window starts at
    // the same point of the JIT warm-up curve in every run
    val cold = execute(traced = false)
    (0 until w.warmupExecs).foreach(_ => execute(traced = false))
    val loopStart = System.nanoTime()
    val timed = mutable.ArrayBuffer.empty[Exec]
    // traced, the loop ends on an untraced execution, so every traced one
    // has an untraced neighbour on each side
    while (timed.size < w.timedExecs || (System.nanoTime() - loopStart) / 1e9 < o.seconds ||
        timed.last.traced)
      timed += execute(traced = o.trace && timed.size % 2 == 1)

    cleanup(spark)
    val mem = settledHeapMb()

    val metrics: Map[String, Double] =
      if (!o.trace) {
        // the first `timedExecs` only: how many more fit in the window
        // depends on the machine's speed, and each sits further down the
        // warm-up curve, so counting them would move the median in steps
        val measured = timed.take(w.timedExecs).filterNot(_.failed)
        val runS = Util.median(measured.map(_.wallS).toSeq)
        Map(
          "setup_s" -> setupS,
          "cold_run_s" -> cold.wallS,
          "run_s_p50" -> runS,
          "cpu_s_p50" -> Util.median(measured.map(_.cpuS).toSeq),
          "records_per_s" -> w.inputRecords(truth) / runS,
          "heap_retained_mb" -> mem,
          "f1" -> f1)
      } else {
        val tracedOk = timed.filter(e => e.traced && !e.failed)
        // each traced execution against the mean of its untraced neighbours,
        // so both sides sit at the same point of the warm-up curve
        val overhead = timed.indices.filter(i => timed(i).traced && !timed(i).failed).flatMap { i =>
          val nb = Seq(i - 1, i + 1).filter(timed.indices.contains).map(timed)
            .filter(e => !e.traced && !e.failed)
          if (nb.isEmpty) None else Some(timed(i).wallS - nb.map(_.wallS).sum / nb.size)
        }
        val names = tracedOk.flatMap(_.layer.keys).distinct
        val med = names.map(n => n -> Util.median(tracedOk.map(_.layer.getOrElse(n, 0.0)).toSeq)).toMap
        val extra = w.extraCounts(spark, in)
        val lsh = extra.getOrElse("dedup.lsh_candidates", 0.0)
        LayerMetrics.names.map(n => n -> med.getOrElse(n, 0.0)).toMap ++ extra ++ Map(
          "dedup.useful_ratio" -> (if (lsh > 0) med.getOrElse("dedup.near_pairs", 0.0) / lsh else 0.0),
          "pipeline.trace_overhead_s" -> Util.median(overhead))
      }
    o.traceFile.foreach(f => LayerMetrics.writeTrace(f, w.name, o.seed, tr, listener))
    spark.stop()

    val result = Map(
      "correct" -> (deterministic && !execs.exists(_.wrong) && reference.nonEmpty),
      "attempted" -> execs.size,
      "failed" -> execs.count(_.failed),
      "timed" -> timed.size,
      "metrics" -> metrics)
    println("RESULT " + Util.json(result))
  }
}
