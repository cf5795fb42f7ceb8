package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The one way graft's mains (Bench, Verify, tools.Probe, tools.Explain)
  * and its specs build a session and run a query. Spark classes only:
  * perfbench compiles `src/main` against Spark's jars alone.
  */
object Harness {

  /** `SPARK_GRAFT_CPUS`, default 4: the local master's thread count and
    * the shuffle-partition count. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** The registry restricted to the comma-separated names in
    * `SPARK_GRAFT_ONLY` (unset or empty = every query), sorted by name. */
  def selected: Seq[QueryDef] = {
    val only = sys.env.getOrElse("SPARK_GRAFT_ONLY", "").split(",")
      .map(_.trim).filter(_.nonEmpty).toSet
    SparkEntry.registry.filter(d => only.isEmpty || only(d.name)).sortBy(_.name)
  }

  /** A local session with `cpus` threads and as many shuffle partitions,
    * UTC session time, no UI, graft's session conf ([[Sessions.tune]])
    * and WARN logging. */
  def session(cpus: Int = Harness.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Sessions.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fully materialize `df` and return (content hash, row count). Every
    * output column is hashed — a bare count() would let Catalyst prune
    * the very projections being timed — and the row hashes are XORed,
    * which is order-independent and cannot overflow like a sum. An
    * empty frame hashes to 0.
    */
  def force(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => s"`$c`").mkString(",")
    val r = df.agg(coalesce(expr(s"bit_xor(xxhash64($cols))"), lit(0L)), count(lit(1)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Spark jobs started and generated classes compiled. */
  final case class Counts(jobs: Long, compiles: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, compiles - o.compiles)
  }

  /** Counts what queries on `spark` run: a job-start listener on its
    * context, and Spark's codegen compilation count (JVM-wide). The
    * difference of two readings around one query is its plan fan-out
    * and its codegen-cache misses (a query whose distinct plans
    * outnumber `spark.sql.codegen.cache.maxEntries`, 100 by default,
    * compiles again on every repetition). `close` removes the listener.
    */
  final class Counter(spark: SparkSession) extends AutoCloseable {
    private val sc = spark.sparkContext
    private val jobs = new java.util.concurrent.atomic.AtomicLong()
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)

    /** The totals so far, once the listener bus has delivered every
      * queued event. */
    def now(): Counts = {
      Bridge.drainListeners(sc)
      Counts(jobs.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    }

    def close(): Unit = sc.removeSparkListener(listener)
  }

  /** Drop every cached plan and persisted/checkpointed RDD block.
    *
    * Call ONLY between fully-consumed queries. Invoking it mid-pipeline
    * discards localCheckpoint blocks backing still-live DataFrames (e.g.
    * a held Dedup or connectedComponents output), whose lineage is
    * truncated — later reads fail with missing-checkpoint-block errors,
    * they cannot recompute. `private[graft]` keeps it out of library API.
    */
  private[graft] def clear(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    // Spark's ContextCleaner releases shuffle files / broadcast blocks
    // only when their weak references get collected — and a large heap
    // may not GC for dozens of queries, so state from every prior query
    // piles up until one giant mixed collection stalls whichever query
    // happens to be running (observed as random 10-30 s spikes). One
    // explicit GC per query keeps cleanup prompt and the cost bounded.
    System.gc()
  }
}
