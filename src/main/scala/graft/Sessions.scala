package graft

import org.apache.spark.sql.SparkSession

/** One-time-per-session setup — the ONLY place graft mutates session
  * conf. Readers (`Tables`, `io.Loaders`, `streaming.Streams`) never
  * touch conf: a conf-set inside a read helper makes the session's
  * schema inference depend on which helper ran first (the round-7
  * cross-suite drift bug).
  *
  * Settings, and why they are session-wide rather than per-read
  * (neither has a parquet data-source option — both are consulted from
  * SQLConf by ParquetToSparkSchemaConverter):
  *  - `inferTimestampNTZ.enabled=false`: naive (no-timezone) parquet
  *    timestamps must infer as TIMESTAMP (epoch micros, the DuckDB
  *    oracle's interpretation), not Spark 4's TIMESTAMP_NTZ, which
  *    unix_micros / watermarks / ASOF reject.
  *  - `legacy.parquet.nanosAsLong=true`: events.ts is parquet
  *    TIMESTAMP(NANOS), which Spark refuses by default
  *    ([PARQUET_TYPE_ILLEGAL]); read nanos as long, converted to micros
  *    at the read site (truncation — matches DuckDB's ns→us read).
  *
  * Every entry path calls this once per session: the SparkEntry.queries
  * dispatch wrapper (covers the driver invoking query closures with its
  * own SparkSession) and [[Harness.session]], which builds the session
  * for every main and spec.
  */
object Sessions {
  private val tuned = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()))

  /** Apply the graft session conf exactly once per session; returns the
    * session for call-through style. Thread-safe; the weak keying never
    * pins a stopped session.
    */
  def tune(spark: SparkSession): SparkSession = {
    if (tuned.add(spark)) {
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    }
    spark
  }
}
