package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Backward as-of join — for each left row, the latest right row of the
  * same key with `r.ts <= l.ts` (DuckDB/kdb `ASOF JOIN` semantics,
  * which Spark has no native operator for).
  *
  * Spark-first design: NOT a range join (which degenerates toward
  * per-key cross products and is why the naive `l.ts >= r.ts` theta
  * join dies at scale). Both sides are tagged and UNIONED, then one
  * window per key ordered by (ts, tag) carries the last right ROW
  * (as a single struct — atomically, so a NULL payload field in the
  * matched row stays NULL instead of borrowing an older row's value)
  * forward onto each left row:
  *
  *   - exactly ONE shuffle (hash on the key) + an in-partition sort —
  *     the same cost as any keyed aggregation, regardless of how many
  *     right rows precede each left row;
  *   - ties (r.ts == l.ts) match, because right rows sort before left
  *     rows at equal ts (tag 0 < 1);
  *   - a hot key is one partition's sort — salt upstream, or use
  *     [[asofBackwardChunked]] to split one key's history across
  *     partitions by coarse time range with boundary-state carry.
  *
  * Right must be unique per (key, ts) — on duplicates "the" latest row
  * is undefined in any engine; pre-aggregate first.
  */
object AsofJoin {

  /** The matched right row rides the window as one struct; its own ts
    * is the first field so the staleness check and the payload can
    * never disagree.
    */
  private def rightStruct(right: DataFrame, ts: String, rightCols: Seq[String]): Column =
    struct((col(ts).as("_mts") +: rightCols.map(col)): _*)

  private def checkCols(left: DataFrame, right: DataFrame,
      key: String, ts: String): (Seq[String], Seq[String]) = {
    val leftCols = left.columns.toSeq.filterNot(c => c == key || c == ts)
    val rightCols = right.columns.toSeq.filterNot(c => c == key || c == ts)
    val overlap = leftCols.toSet & rightCols.toSet
    require(overlap.isEmpty, s"overlapping payload columns: $overlap")
    val reserved = Set("_tag", "_row", "_m", "_ck", "_mts")
    require((leftCols ++ rightCols).forall(!reserved(_)),
      s"column names ${reserved.mkString(", ")} are reserved")
    (leftCols, rightCols)
  }

  /** Shared tail: carry the last right struct over `w`, apply the
    * staleness gate, keep left rows, expand the struct fields.
    */
  private def finish(u: DataFrame, w: WindowSpec, key: String, ts: String,
      leftCols: Seq[String], rightCols: Seq[String],
      tolerance: Option[Long]): DataFrame = {
    val carried = u.withColumn("_m", last(col("_row"), ignoreNulls = true).over(w))
    val gated = tolerance match {
      case None => carried
      case Some(tol) =>
        carried.withColumn("_m",
          when(col("_m").isNull || (col(ts) - col("_m")("_mts")) > tol, lit(null))
            .otherwise(col("_m")))
    }
    gated.filter(col("_tag") === 1)
      .select((Seq(col(key), col(ts)) ++ leftCols.map(col) ++
        rightCols.map(c => col("_m")(c).as(c))): _*)
  }

  /** [[asofBackward]] pays its sampling job only past this many bytes
    * of combined plan-stats size (256 MB — far below any input whose
    * single key could break a partition sort, far above every test
    * table).
    */
  private val AutoMinBytes = 256L << 20

  /** [[asofBackward]] routes chunked when the estimated max per-key row
    * count (left+right) crosses this (4M rows ≈ a few hundred MB of one
    * partition's sort buffer — spill territory).
    */
  private val AutoMaxKeyRows = 4000000L

  private val AutoTargetChunkRows = 1000000L
  private val AutoSampleRows = 200000.0

  /** Routing decision of [[asofBackward]]: Some(width) → chunked. A FREE
    * stats gate (`optimizedPlan.stats.sizeInBytes`, no job) keeps
    * inputs under `minBytes` on the one-shuffle unchunked plan; past
    * it, ONE bounded sampling job estimates the max per-key history and
    * the ts range (the planning-time-sample idiom of RangeJoinRule's
    * width estimate), and a key whose history would exceed `maxKeyRows`
    * routes chunked with a width that splits it into
    * ~[[AutoTargetChunkRows]]-row chunks. Streaming sides can't be
    * sampled and keep the unchunked plan.
    */
  private[graft] def autoChunkWidth(left: DataFrame, right: DataFrame,
      key: String, ts: String, minBytes: Long = AutoMinBytes,
      maxKeyRows: Long = AutoMaxKeyRows): Option[Long] = {
    if (left.isStreaming || right.isStreaming) return None
    val bytes =
      left.queryExecution.optimizedPlan.stats.sizeInBytes +
        right.queryExecution.optimizedPlan.stats.sizeInBytes
    // unknown stats propagate as astronomically large sizeInBytes
    // (defaultSizeInBytes products); treat those as "don't know" and
    // keep the old plan instead of paying a sampling job on every call
    val unknown = bytes > (BigInt(1) << 62)
    if (bytes < minBytes || unknown) return None
    // one bounded job over BOTH sides' (key, ts) — a hot LEFT key
    // breaks the partition sort just as a hot right history does
    val u = left.select(col(key).as("_k"), col(ts).cast("long").as("_t"))
      .unionAll(right.select(col(key).as("_k"), col(ts).cast("long").as("_t")))
    val estRows = (bytes / 64).min(BigInt(Long.MaxValue)).toLong.max(1L)
    val frac = (AutoSampleRows / estRows.toDouble).min(1.0)
    val perKey = u.sample(withReplacement = false, frac, seed = 42L)
      .groupBy(col("_k"))
      .agg(count(lit(1)).as("_c"), min(col("_t")).as("_lo"), max(col("_t")).as("_hi"))
      .agg(max(col("_c")).as("_maxc"), min(col("_lo")).as("_lo"), max(col("_hi")).as("_hi"))
      .head()
    if (perKey.isNullAt(0)) return None // empty sample
    val maxPerKey = (perKey.getLong(0) / frac).toLong
    if (maxPerKey <= maxKeyRows) return None
    val range = math.max(1L, perKey.getLong(2) - perKey.getLong(1))
    val chunks = math.max(2L, maxPerKey / AutoTargetChunkRows)
    Some(math.max(1L, range / chunks))
  }

  /** `tolerance`: maximum allowed staleness `l.ts - r.ts` (same unit
    * as the ts column); a match older than that is nulled out — "don't
    * enrich with a quote from last year". None = unbounded (pure ASOF).
    *
    * Routing: with a numeric ts, [[autoChunkWidth]] picks between this
    * one-shuffle plan and [[asofBackwardChunked]] — the two are
    * result-identical (spec-enforced), so routing never changes an
    * answer, only whether one key's history may span partitions. For
    * inputs past 256 MB of plan stats, construction of this DataFrame
    * EAGERLY runs one bounded sampling job over both sides' (key, ts):
    * call it once and reuse the frame, or call [[asofBackwardChunked]]
    * with a width to skip the probe. The ~200k-row uniform sample
    * estimates the MAX per-key row count; at very high key cardinality
    * it can miss a hot key and keep the unchunked plan.
    */
  def asofBackward(left: DataFrame, right: DataFrame,
      key: String, ts: String, tolerance: Option[Long] = None): DataFrame = {
    val tsNumeric = left.schema(ts).dataType.isInstanceOf[NumericType] &&
      right.schema(ts).dataType.isInstanceOf[NumericType]
    val width = if (tsNumeric) autoChunkWidth(left, right, key, ts) else None
    if (width.isDefined)
      return asofBackwardChunked(left, right, key, ts, width.get, tolerance)
    val (leftCols, rightCols) = checkCols(left, right, key, ts)
    require(tolerance.isEmpty ||
      left.schema(ts).dataType.isInstanceOf[NumericType],
      "tolerance requires a numeric ts column (e.g. unix_micros)")

    val l = left.select(
      (Seq(col(key), col(ts), lit(1).as("_tag")) ++ leftCols.map(col)): _*)
    val r = right.select(col(key), col(ts), lit(0).as("_tag"),
      rightStruct(right, ts, rightCols).as("_row"))
    val u = l.unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(key)
      .orderBy(col(ts), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    finish(u, w, key, ts, leftCols, rightCols, tolerance)
  }

  /** Hot-key-safe backward as-of: the time axis is pre-bucketed into
    * `chunkWidth`-wide ranges, the carry window partitions on
    * (key, chunk) — so ONE key's history spans MANY partitions — and a
    * small per-(key, chunk) summary frame carries the latest right row
    * across chunk boundaries (the distributed prefix idiom: the carry
    * window's row count is bounded by the number of chunks, not rows).
    *
    * Same result as [[asofBackward]] (spec-enforced); use when a single
    * key's history exceeds one partition's sort. Requires numeric ts.
    */
  def asofBackwardChunked(left: DataFrame, right: DataFrame,
      key: String, ts: String, chunkWidth: Long,
      tolerance: Option[Long] = None): DataFrame = {
    require(chunkWidth > 0, "chunkWidth must be positive")
    require(left.schema(ts).dataType.isInstanceOf[NumericType] &&
      right.schema(ts).dataType.isInstanceOf[NumericType],
      "asofBackwardChunked requires a numeric ts column (e.g. unix_micros)")
    val (leftCols, rightCols) = checkCols(left, right, key, ts)
    val tsType = left.schema(ts).dataType

    // wrap-safe floorDiv chunk id (exact for the full long domain —
    // truncating `div` corrected by the remainder sign; no mod-subtract
    // that could underflow near Long.MinValue)
    def chunkOf(df: DataFrame): Column = {
      val x = col(ts).cast("long")
      val q = expr(s"(CAST(`${ts.replace("`", "``")}` AS LONG) div ${chunkWidth}L)")
      when(x % chunkWidth < 0, q - 1).otherwise(q).as("_ck")
    }

    val l = left.select(
      (Seq(col(key), col(ts), chunkOf(left), lit(1).as("_tag")) ++ leftCols.map(col)): _*)
    val r = right.select(col(key), col(ts), chunkOf(right), lit(0).as("_tag"),
      rightStruct(right, ts, rightCols).as("_row"))

    // per-(key, chunk) latest right row — map-side-combining aggregation
    val perChunk = r.groupBy(col(key), col("_ck"))
      .agg(max_by(col("_row"), col(ts)).as("_row"))

    // boundary state per LEFT chunk: latest right row from STRICTLY
    // earlier chunks. Left chunk markers sort before the same chunk's
    // right summary, and the window ends one row back — so a chunk's
    // own right rows are never in its boundary (they are handled by the
    // main in-chunk window below).
    val leftChunks = l.select(col(key), col("_ck")).distinct()
      .withColumn("_pos", lit(0))
    val rsum = perChunk.withColumn("_pos", lit(1))
    val wrun = Window.partitionBy(key).orderBy(col("_ck"), col("_pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundary = rsum.unionByName(leftChunks, allowMissingColumns = true)
      .withColumn("_b", last(col("_row"), ignoreNulls = true).over(wrun))
      .filter(col("_pos") === 0 && col("_b").isNotNull)
      .select(col(key), col("_ck"), lit(null).cast(tsType).as(ts),
        lit(-1).as("_tag"), col("_b").as("_row"))

    val u = l.unionByName(r, allowMissingColumns = true)
      .unionByName(boundary, allowMissingColumns = true)
    // boundary rows (tag -1) first regardless of their null ts, then
    // time order with right-before-left on ties — per (key, chunk)
    val w = Window.partitionBy(col(key), col("_ck"))
      .orderBy(when(col("_tag") === -1, 0).otherwise(1), col(ts), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    finish(u, w, key, ts, leftCols, rightCols, tolerance)
  }

  /** Forward as-of: the EARLIEST right row with `r.ts >= l.ts` — the
    * mirror image, implemented by negating the ts on both sides and
    * delegating (tolerance then bounds `r.ts - l.ts`). Requires a
    * numeric ts column with values > Long.MinValue (negation of
    * Long.MinValue is itself).
    */
  def asofForward(left: DataFrame, right: DataFrame,
      key: String, ts: String, tolerance: Option[Long] = None): DataFrame = {
    require(left.schema(ts).dataType.isInstanceOf[NumericType],
      "asofForward requires a numeric ts column (e.g. unix_micros)")
    asofBackward(
        left.withColumn(ts, -col(ts)),
        right.withColumn(ts, -col(ts)), key, ts, tolerance)
      .withColumn(ts, -col(ts))
  }

  /** NEAREST as-of: each left row takes whichever right row is
    * temporally closer — the latest at-or-before or the earliest
    * at-or-after (ties → the past match, the convention pandas
    * merge_asof(direction='nearest') uses). Composed from one backward
    * and one forward pass joined back on `idCol` (a unique left row id —
    * required because as-of output rows are only positionally 1:1 with
    * left rows); payloads switch per row via the distance comparison,
    * plus `matched_ts`/`direction` diagnostics. Numeric ts only (the
    * distance arithmetic), same scale properties as the two passes it
    * composes.
    */
  def asofNearest(left: DataFrame, right: DataFrame,
      key: String, ts: String, idCol: String): DataFrame = {
    require(left.schema(ts).dataType.isInstanceOf[NumericType],
      "asofNearest requires a numeric ts column (e.g. unix_micros)")
    val r2 = right.withColumn("_rts", col(ts))
    val payload = r2.columns.filterNot(c => c == key || c == ts).toSeq
    val b = asofBackward(left, r2, key, ts)
      .select(left.columns.map(col).toSeq ++
        payload.map(c => col(c).as(s"${c}_b")): _*)
    val f = asofForward(left, r2, key, ts)
      .select(col(idCol) +: payload.map(c => col(c).as(s"${c}_f")): _*)
    val j = b.join(f, Seq(idCol))
    val useB = col("_rts_b").isNotNull && (col("_rts_f").isNull ||
      (col(ts) - col("_rts_b")) <= (col("_rts_f") - col(ts)))
    val out = payload.filterNot(_ == "_rts").map(c =>
      when(useB, col(s"${c}_b")).otherwise(col(s"${c}_f")).as(c))
    j.select(left.columns.map(col).toSeq ++ out ++ Seq(
      when(useB, col("_rts_b")).otherwise(col("_rts_f")).as("matched_ts"),
      when(col("_rts_b").isNull && col("_rts_f").isNull, lit(null).cast("string"))
        .when(useB, lit("past")).otherwise(lit("future")).as("direction")): _*)
  }
}
