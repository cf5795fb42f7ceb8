package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** Streaming sessionization output row (top-level for the encoder). */
case class SessionRow(user_id: Long, startUs: Long, endUs: Long, n_events: Long)

/** Streaming as-of enrichment output row (top-level for the encoder). */
case class AsofStreamRow(user_id: Long, ts: Long, purchase_id: Long,
    view_id: Option[Long])

/** Buffer state for the out-of-order-tolerant streaming as-of: views
  * in flight (one kept below the watermark — it dominates every later
  * match) and purchases held until the watermark passes their event
  * time. Both `(event-time µs, id)` tuples.
  */
case class AsofBufState(views: Seq[(Long, Long)], purchases: Seq[(Long, Long)])

/** SCD2 stream-enrichment output row (top-level for the encoder);
  * column names/types match the reused `join_dim_scd` oracle. */
case class Scd2EnrichRow(user_id: Long, ts: Long, event_id: Long,
    value_cents: Option[Long], tier: Option[Long])

/** Per-key state for the SCD2 stream enrichment: the version history,
  * `(valid_from µs, tier)` ascending — bounded by how often the dim
  * attribute CHANGES for the key (a few rows), never by the fact rate.
  */
case class Scd2History(versions: Seq[(Long, Option[Long])])

/** Structured Streaming operators (SURVEY §2.12 #65). The transform is
  * written once against a DataFrame and used by BOTH the batch query
  * (which the DuckDB oracle checks) and the streaming query (readStream →
  * watermark → windowed agg), so stream results are batch-equivalent by
  * construction — the Spark unified-engine contract.
  */
object Streams {

  /** Tumbling 1-hour windowed aggregate per event type: count + exact
    * cents sum. Watermarking is applied only on the streaming path
    * (watermarks are a streaming-only concept).
    */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(graft.Tables.cents(col("value"))).cast("double") / 100.0).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** SLIDING event-time windows (duration > slide ⟹ every event lands
    * in duration/slide overlapping windows) — the window shape tumbling
    * [[windowAgg]] can't express: a "24 h metrics, refreshed every 6 h"
    * monitor. Spark expands each row to its covering windows BEFORE the
    * agg (explode of duration/slide structs, map-side combined), so
    * streaming state is (open windows × groups) rows, never the events.
    * One transform serves batch (`stream_sliding_window`, hash-gated)
    * and streaming (Round10bSpec: append-mode MemoryStream emission ≡
    * batch for watermark-closed windows).
    */
  def slidingWindowAgg(events: DataFrame, dur: String = "1 day",
      slide: String = "6 hours"): DataFrame =
    events
      .groupBy(window(col("ts"), dur, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(graft.Tables.cents(col("value"))).cast("double") / 100.0).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming source over the events parquet dir (nanos ts → micros,
    * same as the batch reader), with a 2-hour watermark by default
    * (override for operators that key emission off the watermark, e.g.
    * a zero delay lets [[asofStreamBuffered]] flush completely in an
    * AvailableNow run).
    */
  def eventsStream(spark: SparkSession, dir: String,
      watermark: String = "2 hours"): DataFrame = {
    // Session conf (nanos-as-long, TIMESTAMP-not-NTZ inference — which
    // withWatermark requires) is owned by Sessions.tune; the ts guard
    // below keys off the actually-inferred schema either way.
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // The parquet streaming source requires a DIRECTORY (in production
    // events land in one); the test fixture is a single file, so stage a
    // symlink dir next to the JVM tmpdir.
    val stage = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_stream_${graft.io.IoQueries.dirToken(dir)}")
    java.nio.file.Files.createDirectories(stage)
    val link = stage.resolve("events.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$dir/events.parquet"))
    val raw = spark.readStream.schema(schema).parquet(stage.toString)
    val ts =
      if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else raw
    ts.withWatermark("ts", watermark)
  }

  /** Gap-based sessionization (30-min inactivity closes a session),
    * batch form: lag + cumulative new-session flags per user — the
    * exact semantics the streaming state version reproduces.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // event_id tie-break keeps lag/cumsum deterministic on equal ts.
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("_prev", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("_new",
        when(col("_prev").isNull ||
          unix_micros(col("ts")) - col("_prev") > gapUs, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("_new")).over(byUser))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Gap-based sessions via Spark's NATIVE session_window operator —
    * the declarative sibling of [[sessionizeStream]]'s
    * flatMapGroupsWithState form, and the one to prefer at scale: the
    * dedicated SessionWindowStateStore merges/expires sessions inside
    * the state store (no user-code state object, codegen'd agg), and
    * sessions MERGE across micro-batches (an open session absorbs a
    * later event that lands within the gap — Round10Spec proves the
    * cross-batch merge on MemoryStream). Works identically as a batch
    * transform, which is the oracle path. Note the native boundary
    * law: a new session starts when the time since the previous event
    * is ≥ the gap (session intervals are [start, last+gap)), vs
    * [[sessionizeBatch]]'s strict >.
    */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Streaming sessionization via flatMapGroupsWithState: per-user
    * state carries the open session; events are sorted within the
    * micro-batch, sessions closed by the gap rule are emitted, the open
    * tail stays in state (emitted here too because AvailableNow ends
    * the stream — in production it flushes on state timeout).
    */
  def sessionizeStream(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L
    val typed = events.select(col("user_id").cast("long"), unix_micros(col("ts")).as("us"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[List[Long], SessionRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[(Long, Long)], state: GroupState[List[Long]]) =>
          val times = (state.getOption.getOrElse(Nil) ++ it.map(_._2)).sorted
          val sessions = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
          var start = times.head
          var prev = times.head
          var n = 0L
          for (t <- times) {
            if (t - prev > gapUs) {
              sessions += SessionRow(user, start, prev, n)
              start = t; n = 0L
            }
            n += 1; prev = t
          }
          sessions += SessionRow(user, start, prev, n)
          state.update(Nil)
          sessions.iterator
      }
      .toDF()
      .select(col("user_id"),
        timestamp_micros(col("startUs")).as("session_start"),
        timestamp_micros(col("endUs")).as("session_end"),
        col("n_events"))
  }

  /** Streaming backward AS-OF enrichment via flatMapGroupsWithState —
    * the streaming face of [[graft.operators.AsofJoin]]: enrich a fact
    * stream (purchases) with the latest dimension state (views) per
    * key. State is ONE (ts, id) tuple per key — bounded, unlike
    * buffering a stream-stream join side. Within a micro-batch rows
    * sort by (ts, view-before-purchase, id), so equal-ts ties match
    * exactly like the batch operator and same-ts duplicate views
    * resolve to the max id (the batch pre-dedup rule). Cross-batch
    * correctness assumes per-key time-ordered batch arrival — the same
    * ordered-ingest contract `stream_dedup` documents.
    */
  def asofStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events.select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("us"), col("event_type"),
        col("event_id").cast("long"))
      .as[(Long, Long, String, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), AsofStreamRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[(Long, Long, String, Long)],
         state: GroupState[(Long, Long)]) =>
          val rows = it.toVector
            .sortBy(r => (r._2, if (r._3 == "view") 0 else 1, r._4))
          var latest: Option[(Long, Long)] = state.getOption
          val out = Vector.newBuilder[AsofStreamRow]
          for (r <- rows) {
            if (r._3 == "view") latest = Some((r._2, r._4))
            else if (r._3 == "purchase")
              out += AsofStreamRow(user, r._2, r._4, latest.map(_._2))
          }
          latest.foreach(state.update)
          out.result().iterator
      }
      .toDF()
  }

  /** Out-of-order-TOLERANT streaming as-of — the hardened variant of
    * [[asofStream]] for sources that violate the ordered-ingest
    * contract. Instead of enriching each purchase on arrival, purchases
    * are HELD until the event-time watermark passes their timestamp: by
    * then no earlier view can still arrive (the watermark is exactly
    * that promise), so a view landing in a later micro-batch with an
    * earlier event time is correctly matched. State stays bounded by
    * the watermark delay: of the views at or below the watermark only
    * the LATEST is kept (it dominates every future match — any held or
    * future purchase has ts above the watermark), views above it are in
    * flight, and held purchases drain as the watermark advances — via
    * an event-time timeout when the key goes quiet. The trade is the
    * standard streaming one: correctness under disorder for
    * watermark-delay output latency. Requires `withWatermark` on `ts`
    * upstream ([[eventsStream]] sets one).
    */
  def asofStreamBuffered(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // the watermarked ts column rides along (dropping it would strip
    // the watermark and EventTimeTimeout needs one); the kernel only
    // reads the µs projection
    val typed = events.select(col("user_id").cast("long"),
        unix_micros(col("ts")).as("us"), col("event_type"),
        col("event_id").cast("long"), col("ts"))
      .as[(Long, Long, String, Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[AsofBufState, AsofStreamRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, it: Iterator[(Long, Long, String, Long, java.sql.Timestamp)],
         state: GroupState[AsofBufState]) =>
          val st = state.getOption.getOrElse(AsofBufState(Nil, Nil))
          val arrivals = it.toVector
          val views = (st.views ++
            arrivals.filter(_._3 == "view").map(r => (r._2, r._4))).sorted
          val purchases = st.purchases ++
            arrivals.filter(_._3 == "purchase").map(r => (r._2, r._4))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // on timeout the watermark has passed every held purchase —
          // partitioning by wm flushes them all
          val (ready, pending) = purchases.partition(_._1 <= wmUs)
          val out = ready.sorted.map { case (pts, pid) =>
            // latest view at or before the purchase; (ts, id) sort means
            // equal-ts duplicate views resolve to the max id, same as
            // the batch pre-dedup rule and [[asofStream]]
            val m = views.filter(_._1 <= pts).lastOption
            AsofStreamRow(user, pts, pid, m.map(_._2))
          }
          val keep = views.filter(_._1 <= wmUs).lastOption.toSeq ++
            views.filter(_._1 > wmUs)
          if (pending.isEmpty && keep.isEmpty) state.remove()
          else {
            state.update(AsofBufState(keep, pending.sorted))
            // wake this key once the watermark passes its last held
            // purchase, so held rows drain without new arrivals
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(pending.map(_._1).max / 1000L + 1L)
          }
          out.iterator
      }
      .toDF()
  }

  /** STREAM-STREAM event-time interval join — the canonical two-stream
    * stateful shape (Spark's stream-stream inner join with a
    * time-range condition), and the one streaming face the family was
    * still missing: each purchase joined to every view by the same
    * user within the preceding `withinHours`. BOTH inputs carry event-
    * time watermarks (the caller passes watermarked frames;
    * [[eventsStream]] sets one) and the join predicate bounds the
    * time distance, which is what makes the state PRUNABLE: Spark
    * retires a buffered view once the purchase-side watermark passes
    * `view.ts + within`, and a buffered purchase once the view-side
    * watermark passes its ts — so state is watermark+range-bounded no
    * matter how long the streams run. An unconstrained stream-stream
    * join buffers both streams forever; THIS shape is the one that
    * survives an unbounded 100 TB/day feed. Inner join ⇒ rows emit as
    * soon as both sides arrive (append mode, no watermark-delay
    * output latency — that cost is only paid by outer variants).
    */
  def intervalJoinStream(views: DataFrame, purchases: DataFrame,
      withinHours: Int = 24): DataFrame = {
    val v = views.select(col("user_id").as("v_user"), col("ts").as("v_ts"),
      col("event_id").as("view_id"))
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
      col("event_id").as("purchase_id"))
    v.join(p, expr(
        s"v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + INTERVAL $withinHours HOURS"))
      .select(col("v_user").as("user_id"), col("view_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
  }

  /** Per-window HyperLogLog register maintenance — the streaming face
    * of the sketch family (Sketches.scala): distinct-user cardinality
    * per event-time window WITHOUT per-window distinct state. The
    * stateful aggregation keys on (window, register) with max(rank),
    * so state is windows × 2^p small longs no matter how many users
    * stream by — the property that makes per-window `countDistinct`
    * (state = every key seen) affordable at 100 TB/day. Works
    * identically as a batch transform (the oracle) and a streaming one
    * (append-mode windowed agg — Round10Spec runs it on MemoryStream
    * and checks the emitted registers equal the batch sketch).
    * Consumers compute estimates from the emitted registers with
    * [[graft.profiling.Sketches.hllSummaryBy]].
    */
  def hllWindowRegisters(events: DataFrame, dur: String = "1 day",
      item: String = "user_id"): DataFrame = {
    import graft.profiling.Sketches
    events
      .select(col("ts"), Sketches.hllRegCol(col(item)).as("reg"),
        Sketches.hllRankCol(col(item)).as("rank"))
      .groupBy(window(col("ts"), dur).as("w"), col("reg"))
      .agg(max("rank").as("r"))
      .select(col("w.start").as("window_start"), col("reg"), col("r"))
  }

  /** Per-window CountMin counter cells — the CMS sibling of
    * [[hllWindowRegisters]]: one transform serves batch (hash-gated via
    * `stream_cms`) and streaming, where it is a stateful windowed agg
    * whose state is windows × d·w counter cells at ANY key cardinality
    * (the per-key exact count state a naive streaming top-k needs is
    * unbounded; the sketch's is a constant). Cell law shared with
    * [[graft.profiling.Sketches.cmsCells]] so batch estimates replay
    * bit-for-bit.
    */
  def cmsWindowCounters(events: DataFrame, dur: String = "1 day",
      item: String = "user_id", d: Int = 4, w: Int = 512): DataFrame = {
    import graft.profiling.Sketches
    events
      .select(col("ts"), Sketches.cmsCells(col(item), d, w).as("_cells"))
      .select(col("ts"), explode(col("_cells")).as("_c"))
      .groupBy(window(col("ts"), dur).as("w"),
        col("_c.j").as("j"), col("_c.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(col("w.start").as("window_start"), col("j"), col("bucket"), col("c"))
  }

  /** The fixed-domain bin law shared by [[driftWindowBins]] and its
    * baseline face: cents clamped to [0, domainCents), split into
    * `bins` equal integer buckets. Domain CONSTANTS, not observed
    * min/max — a stream cannot know its eventual range, and a drifting
    * range is exactly what the monitor must detect rather than absorb.
    */
  def driftBin(value: Column, bins: Int = 10, domainCents: Long = 50000L): Column =
    graft.profiling.Sketches.idiv(
      greatest(lit(0L), least(graft.Tables.cents(value), lit(domainCents - 1L)))
        * lit(bins.toLong),
      lit(domainCents))

  /** Per-window fixed-domain value histogram — the DRIFT face of the
    * windowed-sketch family ([[hllWindowRegisters]] /
    * [[cmsWindowCounters]] / [[reservoirWindow]]): bin counts of the
    * event value per event-time window under [[driftBin]]'s fixed law.
    * State = windows × bins longs at ANY event rate (the exact
    * per-window distribution state a naive monitor keeps is every
    * value seen). One transform serves batch (hash-gated via
    * `stream_drift_audit`, which puts a PSI circuit on top) and
    * streaming (append-mode windowed agg — Round12Spec proves streamed
    * bins ≡ batch bins on MemoryStream, watermark-closed windows).
    */
  def driftWindowBins(events: DataFrame, dur: String = "1 day", bins: Int = 10,
      domainCents: Long = 50000L): DataFrame =
    events
      .select(col("ts"), driftBin(col("value"), bins, domainCents).as("bin"))
      .groupBy(window(col("ts"), dur).as("w"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("bin"), col("n"))

  /** Per-window bottom-k hash reservoir — the QUANTILE sibling of
    * [[hllWindowRegisters]]/[[cmsWindowCounters]]: one windowed agg
    * whose state per window is ONE size-capped
    * [[graft.functions.BottomKPairs]] buffer (≤ k (hash, value) pairs
    * at ANY event cardinality — exact per-window percentile state is
    * the whole window's values). Because the reservoir is a pure set
    * property, the cross-batch state merge (capped union) makes the
    * streamed sketch bit-identical to the batch one — Round10bSpec
    * proves it on MemoryStream; `stream_quantile` hash-gates the batch
    * face including the quantile estimates.
    */
  def reservoirWindow(events: DataFrame, dur: String, id: String,
      value: Column, k: Int): DataFrame = {
    import graft.profiling.Sketches
    events
      .groupBy(window(col("ts"), dur).as("w"))
      .agg(graft.functions.bottomk.bottomKPairs(
        Sketches.hash52(col(id)), value, k).as("rs"))
      .select(col("w.start").as("window_start"), col("rs"))
  }

  /** Stream-static broadcast enrichment + windowed rollup — the most
    * common production streaming shape (facts join a slowly-changing
    * dimension, then aggregate by event-time window): a STATELESS
    * broadcast-hash join (the dim broadcasts once per micro-batch; no
    * join state, no watermark needed for the join itself) feeding the
    * stateful windowed agg. One transform serves batch (hash-gated via
    * `stream_enrich`) and streaming (spec proves streamed ≡ batch on a
    * real stream and pins BroadcastHashJoin + StateStoreSave in the
    * executed plan). At 100 TB/day the fact side must stream through
    * linearly — a stream-stream join here would buffer it for nothing;
    * broadcast the dim and keep the only state in the window agg.
    */
  def enrichAgg(events: DataFrame, dim: DataFrame,
      dur: String = "1 day"): DataFrame =
    events.filter(col("event_type") === "purchase")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), dur).as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(graft.Tables.cents(col("value"))).as("_rev_c"))
      .select(col("w.start").as("window_start"), col("c_mktsegment"),
        col("n_purchases"),
        (col("_rev_c").cast("double") / 100.0).as("revenue"))

  /** Streaming exact dedup: drop repeated keys arriving within the
    * watermark horizon — the streaming face of Dedup.exact for
    * continuous ingest (state is bounded by the watermark; an unbounded
    * dropDuplicates would grow state forever at 100 TB/day).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    events.dropDuplicatesWithinWatermark(keyCols)

  // ---------- SCD2-versioned stream enrichment (r13) ----------

  /** Shared typed projection for the SCD2 enrichment kernel: one mixed
    * change-log/fact stream — signups CREATE dim versions (tier from
    * the signup value, the `join_dim_scd` law), purchases are the facts
    * to enrich. Both sides keep their natural parquet types so the
    * batch face's dump matches the reused `join_dim_scd` oracle dtypes.
    */
  private def scd2Typed(events: DataFrame) = {
    import events.sparkSession.implicits._
    events.filter(col("event_type").isin("signup", "purchase"))
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("event_id").cast("long"),
        graft.Tables.cents(col("value")).as("cents"),
        least(greatest(floor(col("value") / lit(100.0)).cast("long"), lit(0L)),
          lit(4L)).as("tier0"))
      .as[(Long, Long, String, Long, Option[Long], Option[Long])]
  }

  /** One user's arrivals replayed against a version history — the
    * kernel BOTH faces run (batch: whole input as one arrival; stream:
    * per micro-batch, history carried in state). Arrivals sort by
    * (event time, signup-before-purchase, event id), so a fact AT a
    * version boundary takes the NEW version and same-ts duplicate
    * signups fold with min(tier) — exactly the `join_dim_scd` interval
    * law (valid_from ≤ ts < valid_to over the lead()-built SCD2 table).
    * History is kept ascending by valid_from; a purchase takes the
    * FLOOR version in the history it arrives against, which is what
    * lets a LATE fact (event time before the newest version) take the
    * OLD version — the case a latest-value-only state (asofStream)
    * gets wrong by construction.
    */
  private def scd2Replay(user: Long,
      arrivals: Seq[(Long, Long, String, Long, Option[Long], Option[Long])],
      hist0: Vector[(Long, Option[Long])])
      : (Vector[Scd2EnrichRow], Vector[(Long, Option[Long])]) = {
    var hist = hist0
    val out = Vector.newBuilder[Scd2EnrichRow]
    val sorted = arrivals.sortBy(r => (r._2, if (r._3 == "signup") 0 else 1, r._4))
    for (r <- sorted) {
      if (r._3 == "signup") {
        val i = hist.indexWhere(_._1 == r._2)
        if (i >= 0) {
          // same-ts duplicate version: fold with SQL-min semantics
          // (min ignores NULL; all-NULL stays NULL)
          val merged = (hist(i)._2, r._6) match {
            case (Some(a), Some(b)) => Some(math.min(a, b))
            case (a, b) => a.orElse(b)
          }
          hist = hist.updated(i, (r._2, merged))
        } else hist = (hist :+ (r._2, r._6)).sortBy(_._1)
      } else {
        val m = hist.takeWhile(_._1 <= r._2).lastOption
        out += Scd2EnrichRow(user, r._2, r._4, r._5, m.flatMap(_._2))
      }
    }
    (out.result(), hist)
  }

  /** Streaming SCD2-versioned enrichment — the streaming face of
    * `join_dim_scd` (r12 verdict ask #3): purchases are enriched with
    * the dim version VALID AT THEIR EVENT TIME while the versioned dim
    * itself accretes from the same stream's signups. State per key is
    * the version history only — bounded by versions-per-user (how often
    * a dimension attribute CHANGES, a few rows), NOT by the fact rate:
    * the alternative formulation, a stream-stream join of purchases
    * against a signup stream, has to buffer the 100 TB/day FACT side
    * within the watermark because a new version can always arrive
    * (Round13Spec pins StreamingSymmetricHashJoin absent). Late facts
    * (event time < newest version) take the OLD version from the
    * history — the SCD2 guarantee that asofStream's latest-only state
    * cannot give; version arrivals follow the ordered-ingest contract
    * `stream_dedup` documents (a version must arrive before the first
    * fact it should enrich).
    */
  def scd2EnrichStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    scd2Typed(events).groupByKey(_._1)
      .flatMapGroupsWithState[Scd2History, Scd2EnrichRow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[(Long, Long, String, Long, Option[Long], Option[Long])],
         state: GroupState[Scd2History]) =>
          val hist0 = state.getOption.map(_.versions.toVector).getOrElse(Vector.empty)
          val (out, hist) = scd2Replay(user, it.toSeq, hist0)
          if (hist.nonEmpty) state.update(Scd2History(hist))
          out.iterator
      }
      .toDF()
  }

  /** Batch face of [[scd2EnrichStream]] — the SAME kernel over the
    * whole input as one arrival per user (flatMapGroups: one hash
    * shuffle on the key, per-user replay, no state store). Registered
    * as `stream_scd2_enrich` and hash-gated against the `join_dim_scd`
    * interval-join oracle, so the kernel's semantics — boundary takes
    * the new version, pre-first-version facts stay NULL, same-ts
    * version dedup by min — are DuckDB-proven, and the streaming face
    * inherits them by sharing the code path.
    */
  def scd2EnrichBatch(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    scd2Typed(events).groupByKey(_._1)
      .flatMapGroups { (user, it) =>
        scd2Replay(user, it.toSeq, Vector.empty)._1.iterator
      }
      .toDF().orderBy("user_id", "ts", "event_id")
  }

  /** Streaming documents source — same single-file staging trick as
    * [[eventsStream]] (the parquet streaming source wants a directory).
    */
  def docsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    val stage = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_stream_docs_${graft.io.IoQueries.dirToken(dir)}")
    java.nio.file.Files.createDirectories(stage)
    val link = stage.resolve("documents.parquet")
    if (!java.nio.file.Files.exists(link))
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$dir/documents.parquet"))
    spark.readStream.schema(schema).parquet(stage.toString)
  }

  /** STREAM-STATIC contamination filter: documents arrive as a stream,
    * the eval-benchmark n-gram set is a STATIC broadcast frame, and a
    * doc is emitted iff any of its n-grams hits the set — explode +
    * left-semi stream-static join (both stateless; each doc's grams
    * stay in its own micro-batch so the semi join needs no stream
    * state) followed by a dedup on doc id (a doc with many hits emits
    * once). The dedup here is the unbounded `dropDuplicates` because
    * documents carry no event time; on a real ingest feed use
    * [[dedupStream]]'s watermarked variant — the join shape is the
    * interesting part and is identical either way.
    */
  def contaminationStream(docs: DataFrame, probeSet: DataFrame,
      id: String, text: String, n: Int = 3): DataFrame =
    docs.select(col(id), split(lower(col(text)), " ").as("_w"))
      .select(col(id), explode(graft.text.TextOps.wordGrams("_w", n)).as("_g"))
      .join(broadcast(probeSet), Seq("_g"), "left_semi")
      .select(id)
      .dropDuplicates(Seq(id))

  /** Streaming near-dup ADMISSION CONTROL — the MinHash tier of
    * stream-side filtering (contaminationStream is the exact-n-gram
    * tier): arriving docs are banded PER ROW ([[graft.dedup.Dedup
    * .bandedLong]] — minhash signatures fold inside the scan, then one
    * posexplode), band-equi-joined against the STATIC corpus band
    * index, and candidates are Jaccard-verified against the static
    * shingle frame. Everything before the final id-dedup is STATELESS
    * (stream-static inner joins; a candidate never waits on another
    * micro-batch), so state is bounded by the emitted id set alone —
    * this is the shape that admits/docks documents against a 10⁹-doc
    * index as they arrive. Duplicate band collisions (≤ `bands` per
    * pair) are re-verified rather than pre-deduped: one stateful
    * operator beats two.
    */
  def nearDupStream(docs: DataFrame, corpus: DataFrame, id: String,
      text: String, n: Int = 3, bands: Int = 4, rows: Int = 3,
      threshold: Double = 0.8): DataFrame =
    nearDupStreamIndexed(docs, nearDupIndex(corpus, id, text, n, bands, rows),
      id, text, n, bands, rows, threshold)

  /** Column-metadata key carrying the hash family an index was banded
    * with — survives persist/unpersist AND a parquet roundtrip (Spark
    * stores field metadata in the parquet footer schema).
    */
  private val HashFamilyMetaKey = "graft.hashFamily"

  /** The tagged index frame both persistence forms share: one (corpus
    * id, shingle set, band index, band key) row per band, banded with
    * md5 and the band-key column tagged `md5`.
    */
  private def indexFrame(corpus: DataFrame, id: String, text: String,
      n: Int, bands: Int, rows: Int): DataFrame = {
    import graft.dedup.Dedup
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(HashFamilyMetaKey, "md5").build()
    // the banded frame already carries each row's shingle set (_sh) —
    // reusing it for the Jaccard verify saves the corpus a second
    // shingle pass AND the (_cid) re-join the round-7 shape paid.
    // The stream side checks the tag, so an index read back from disk
    // that was banded with another family is rejected, never silently
    // missed.
    Dedup.bandedLong(corpus, id, text, n, bands, rows)
      .select(col("_id").as("_cid"), col("_sh").as("_csh"),
        col("_bidx"), col("_bkey").as("_bkey", meta))
  }

  /** The PERSISTED corpus band index [[nearDupStreamIndexed]] admits
    * against — the same artifact shape `dedup_incremental` joins a new
    * snapshot batch against: one (corpus id, shingle set, band index,
    * band key) row per band, cached MEMORY_AND_DISK. Built ONCE per
    * corpus version; without it the static subtree of the stream plan
    * re-scans and re-bands the FULL corpus every micro-batch — one
    * evaluation under AvailableNow, but a scale-killer in continuous
    * mode against the 100 TB corpus the operator exists for. At cluster
    * scale this frame is written out bucketed on (_bidx, _bkey) and read
    * in place (BucketingSpec shape); locally the cache is the same
    * contract. LIFECYCLE IS THE CALLER'S: unpersist when the corpus
    * version rotates (the convenience [[nearDupStream]] path leaks the
    * cache until session clear — fine for one-shot runs, wrong for a
    * long-lived driver, hence this explicit handle).
    */
  def nearDupIndex(corpus: DataFrame, id: String, text: String, n: Int = 3,
      bands: Int = 4, rows: Int = 3): DataFrame =
    indexFrame(corpus, id, text, n, bands, rows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The ON-DISK form of [[nearDupIndex]] — the artifact the 100 TB
    * deployment actually ships: the band index written ONCE per corpus
    * version as a parquet table BUCKETED (and bucket-sorted) on
    * (_bidx, _bkey), so every consumer's band equi-join reads the
    * corpus side IN PLACE — zero Exchange on the index, ever; only the
    * arriving batch hashes into the index's bucketing. A cached frame
    * ([[nearDupIndex]]) dies with the driver; this one survives
    * restarts, is shared by every stream/batch consumer on the
    * cluster, and at 10⁹ docs × `bands` rows is exactly the thing you
    * cannot afford to re-shuffle per run. Bucket count is the real
    * tuning knob (≈ one task's worth of index per bucket). The hash
    * family tag rides in the _bkey column metadata through the parquet
    * footer, so [[nearDupStreamIndexed]] reads it back off
    * [[nearDupIndexLoad]]'s frame just like the cached form.
    */
  def nearDupIndexSave(corpus: DataFrame, table: String, id: String,
      text: String, n: Int = 3, bands: Int = 4, rows: Int = 3,
      buckets: Int = 8): Unit =
    indexFrame(corpus, id, text, n, bands, rows)
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "_bidx", "_bkey").sortBy("_bidx", "_bkey")
      .saveAsTable(table)

  def nearDupIndexLoad(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** [[nearDupStream]] body against a PREPARED corpus index (from
    * [[nearDupIndex]], or read back from its persisted bucketed form).
    * Each micro-batch bands only the ARRIVING rows; the static side is
    * the cached index (InMemoryRelation in every micro-batch plan —
    * spec-asserted), so per-batch work is batch-sized, never
    * corpus-sized.
    */
  def nearDupStreamIndexed(docs: DataFrame, corpusBands: DataFrame,
      id: String, text: String, n: Int = 3, bands: Int = 4, rows: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    import graft.dedup.Dedup
    // the ARRIVING rows are banded with md5, so the INDEX must have
    // been too: its family rides in _bkey's column metadata, and an
    // index read back from disk is outside input. An untagged index
    // (hand-built frame) is taken to be md5, the family indexFrame bands
    corpusBands.schema.fields.find(_.name == "_bkey")
      .filter(_.metadata.contains(HashFamilyMetaKey))
      .map(_.metadata.getString(HashFamilyMetaKey))
      .filter(_ != "md5")
      .foreach(other => throw new IllegalArgumentException(
        s"near-dup index tagged with hash family $other; only md5 is supported"))
    val sBands = Dedup.bandedLong(docs, id, text, n, bands, rows)
    sBands.join(corpusBands, Seq("_bidx", "_bkey"))
      .filter(col("_id") =!= col("_cid"))
      .filter(round(size(array_intersect(col("_sh"), col("_csh"))).cast("double")
        / size(array_union(col("_sh"), col("_csh"))), 5) >= threshold)
      .select(col("_id").as(id))
      .dropDuplicates(Seq(id))
  }

  /** Run the streaming windowed agg to completion (AvailableNow) into an
    * in-memory sink and return the result — used by the spec to prove
    * stream ≡ batch.
    */
  def runStreamToBatch(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q = windowAgg(eventsStream(spark, dir))
      .writeStream
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", freshCheckpointDir(queryName))
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  private val ckptCounter = new java.util.concurrent.atomic.AtomicLong()

  /** A FRESH, pre-created checkpoint dir under one shared root, for
    * the run-to-completion streaming queries. Explicit (non-temp)
    * checkpoint locations skip Spark's per-start temp-dir provisioning
    * and its synchronous forced delete at stop() — which the round-7
    * bench measured as ~2–3 s of pure setup per streaming rep. Fresh
    * per call (never reused) so every rep re-processes the source from
    * offset zero — the warm number keeps measuring the operator, not a
    * recovered no-op batch. Dirs are small (one AvailableNow run of
    * bounded state) and live under the JVM tmpdir.
    */
  /** Distinguishes this JVM's checkpoint tree from any previous run's:
    * the counter alone restarts at 0 in every JVM, so a crashed or
    * killed earlier process would leave COMPLETED checkpoints at the
    * exact paths a new run computes — and a streaming query pointed at
    * a finished checkpoint fails with "does not support recovering"
    * instead of starting fresh (observed after an interrupted Verify).
    * pid@host + JVM start time never collides across live runs.
    */
  private val jvmTag: String = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    // pid is captured BEFORE sanitizing and kept behind an explicit
    // '_' delimiter: sanitizing "pid@host" by stripping '@' would
    // concatenate the pid with a digit-leading hostname, making the
    // reaper's /proc liveness parse read a pid that never exists and
    // delete a LIVE sibling's idle checkpoint tree (r10 advice).
    val pid = rt.getName.takeWhile(_.isDigit)
    val host = rt.getName.dropWhile(_ != '@').drop(1)
      .replaceAll("[^0-9a-zA-Z]", "")
    s"${pid}_${host}_${rt.getStartTime}"
  }

  /** Reap checkpoint trees left by DEAD JVMs (r9 verdict ask #4): the
    * per-JVM tag prevents path collisions but nothing ever deleted old
    * tags, so /tmp/graft_ckpt accumulated ~140 MB across 38 prior
    * processes — enough filesystem litter to drag every streaming
    * bench query's checkpoint IO. Runs once per JVM, on first
    * checkpoint request. A sibling is dead when its embedded pid no
    * longer exists in /proc (pid reuse is covered by the start-time
    * suffix: a reused pid's live tag differs, so the stale tag's pid
    * dir either vanished or belongs to a process whose tag — including
    * start time — cannot equal the stale one; we additionally keep
    * anything modified in the last hour as a grace window).
    */
  private lazy val reapStale: Unit = {
    val root = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft_ckpt")
    if (java.nio.file.Files.isDirectory(root)) {
      import scala.jdk.CollectionConverters._
      // pid parses ONLY from the current "pid_host_start" tag format
      // (digits then a literal '_'). Legacy sanitized "pidhost_start"
      // names are ambiguous when the host leads with a digit (pid 1234
      // + host 9rack1 -> "12349rack1_...": greedy \d+ would read pid
      // 12349) — treat every non-current-format sibling as alive and
      // never reap it; such dirs only come from pre-r9 JVMs and are
      // finite.
      val pidOf = "^(\\d+)_".r
      val now = System.currentTimeMillis()
      java.nio.file.Files.list(root).iterator().asScala.toSeq
        .filter(java.nio.file.Files.isDirectory(_))
        .filterNot(_.getFileName.toString == jvmTag)
        .foreach { sib =>
          val name = sib.getFileName.toString
          val m = pidOf.findFirstMatchIn(name)
          val pidAlive = m.isEmpty || m.exists(m =>
            java.nio.file.Files.exists(
              java.nio.file.Paths.get("/proc", m.group(1))))
          // recency from the NEWEST mtime in the tree: deep checkpoint
          // writes (offsets/, state/) don't bump the top-level dir.
          val recent = try {
            val newest = java.nio.file.Files.walk(sib).iterator().asScala
              .map(f => try java.nio.file.Files.getLastModifiedTime(f).toMillis
                        catch { case _: java.io.IOException => now })
              .foldLeft(0L)(math.max)
            now - newest < 3600000L
          } catch { case _: java.io.IOException => true }
          if (!pidAlive && !recent) {
            try java.nio.file.Files.walk(sib).iterator().asScala.toSeq.reverse
              .foreach(f => java.nio.file.Files.deleteIfExists(f))
            catch { case _: java.io.IOException => () } // best-effort
          }
        }
    }
  }

  /** A CLONED session with `spark.sql.shuffle.partitions` = `n` for
    * BOUNDED-KEY stateful streaming runs. The number of state-store
    * partitions is pinned per checkpoint from this conf at the first
    * batch, and each partition pays a fixed file-commit (fsync) cost
    * PER MICRO-BATCH regardless of how little state it holds — the r11
    * probe measured ~1.8 s of state commit for a 15-key as-of state
    * sharded 32 ways. State partitioning should scale with STATE
    * VOLUME, not driver CPU count: a per-key-bounded operator over a
    * small key universe wants few partitions locally (at cluster scale
    * against 10⁹ keys the same knob goes UP instead — this helper makes
    * the choice explicit instead of inheriting the batch shuffle
    * default). Cloning (not mutating) keeps the session conf owned by
    * Sessions.tune untouched for every concurrent batch query; the
    * clone shares the SparkContext, so frames and memory-sink tables
    * interoperate — but the sink's temp view registers in the CLONE's
    * session catalog (read it back via the same clone).
    */
  def boundedStateSession(spark: SparkSession, n: Int = 8): SparkSession = {
    // newSession starts from SparkContext defaults, not the parent's
    // runtime conf — re-apply the owned parquet conf via its one owner
    val s2 = graft.Sessions.tune(spark.newSession())
    s2.conf.set("spark.sql.shuffle.partitions", n.toString)
    s2
  }

  /** Micro-batch count of the most recent completed run per query
    * name — filled by [[recordProgress]]. An AvailableNow run of these
    * operators has a KNOWN batch shape (data batch(es) + the no-data
    * watermark/timeout batch); a silent doubling of that count is a
    * perf regression the result hash can never see, so specs pin it
    * here (r10 verdict ask #1).
    */
  val lastRunBatches = new scala.collection.concurrent.TrieMap[String, Int]

  /** Record a finished streaming run's progress: batch count always
    * (for the spec pin), and — when `SPARK_GRAFT_STREAM_PROBE` is set —
    * the full per-batch progress JSON (durationMs breakdown, state
    * operator metrics) appended under the JVM tmpdir, which is how an
    * in-suite streaming slowdown gets DECOMPOSED instead of guessed at
    * (source listing vs planning vs state commit vs sink).
    */
  def recordProgress(q: org.apache.spark.sql.streaming.StreamingQuery,
      name: String): Unit = {
    val progress = q.recentProgress
    lastRunBatches(name) = progress.length
    if (sys.env.contains("SPARK_GRAFT_STREAM_PROBE")) {
      val out = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), s"graft_progress_$name.jsonl")
      val lines = progress.map(_.json).mkString("", "\n", "\n")
      try java.nio.file.Files.writeString(out, lines,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: java.io.IOException => () } // probe is best-effort
    }
  }

  def freshCheckpointDir(name: String): String = {
    reapStale
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_ckpt", jvmTag, name, ckptCounter.incrementAndGet().toString)
    // belt and braces: even under the per-JVM tag, never hand Spark a
    // non-empty checkpoint — wipe any leftover and start from nothing
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
    java.nio.file.Files.createDirectories(p)
    p.toString
  }
}
