package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.blocking.{Blockers, EmScenario}
import graft.functions.sims
import graft.matching.MlMatcher
import graft.multimodal.Multimodal
import graft.streaming.Streams

/** ML matching, multimodal, and streaming queries (SURVEY §2.9 #36–37,
  * §2.12 #64–65). match_ml is rows-only checked (LR coefficients are not
  * SQL-expressible); its quality is asserted against gold in MlSpec.
  */
object ExtraQueries {

  /** End-to-end TRAINING-DATA pipeline (the data-side flagship, mirroring
    * the EM-side `pipeline_e2e`): exact dedup (min-id canonical) → token
    * entropy quality gate (entropy_norm ≥ 0.6) → exact n-gram
    * decontamination vs the eval probe set (bp < 2500 survives, probe
    * docs drop themselves at bp = 10000) → GPT-style stream layout over
    * the survivors (distributed prefix sum, 2048-token contexts). Each
    * stage is an already-oracled operator; this composes them into one
    * plan and the oracle replays all four in SQL — what a user's actual
    * data pipeline looks like.
    */
  def pipelineDataE2e(s: SparkSession, dir: String): DataFrame = {
    import graft.text.TextOps
    val docs = documents(s, dir)
    val canon = graft.dedup.Dedup.exact(docs, "doc_id", "text")
      .filter(col("doc_id") === col("dup_group")).select("doc_id")
    val ok = TextOps.tokenEntropy(docs, "doc_id", "text")
      .filter(!col("flag_low")).select("doc_id", "n_tokens")
    val clean = TextOps.contamination(docs,
        docs.filter(col("doc_id") % 100 === 0), "doc_id", "text", 3)
      .filter(col("contaminated_bp") < 2500).select("doc_id")
    val surv = canon.join(ok, "doc_id").join(clean, "doc_id")
    TextOps.packSequences(surv, "doc_id", col("n_tokens"), 2048)
      .join(docs.select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("stream_offset"), col("seq_id"), col("seq_offset"))
      .orderBy("doc_id")
  }

  val pipelineDataE2eOracle: String = {
    import graft.functions.DetMath
    s"""WITH dg AS (SELECT doc_id,
       |         sha256(array_to_string(list_sort(list_distinct(
       |           string_split(lower(text), ' '))), ' ')) AS g
       |       FROM documents),
       |canon AS (SELECT doc_id FROM
       |    (SELECT doc_id, min(doc_id) OVER (PARTITION BY g) AS m FROM dg)
       |  WHERE doc_id = m),
       |toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
       |         FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |${DetMath.sqlLnCtes("lnc", "tf", "doc_id, tf", "CAST(tf AS DOUBLE)")},
       |es AS (SELECT doc_id,
       |        CAST(sum(CAST(floor((CAST(tf AS DOUBLE) * lnv)
       |          * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s
       |      FROM lnc GROUP BY 1),
       |${DetMath.sqlLnCtes("lnd", "dl", "doc_id, dl", "CAST(dl AS DOUBLE)")},
       |ent AS (SELECT dl.doc_id, dl.dl,
       |          (lnd.lnv - ((CAST(es.s AS DOUBLE) / CAST(1000000000 AS DOUBLE))
       |            / CAST(dl.dl AS DOUBLE))) AS entropy, lnd.lnv AS lndl
       |        FROM dl JOIN es ON es.doc_id = dl.doc_id
       |        JOIN lnd ON lnd.doc_id = dl.doc_id),
       |okq AS (SELECT doc_id, dl FROM ent
       |        WHERE NOT ((CASE WHEN dl > 1 THEN (entropy / lndl)
       |                    ELSE CAST(0 AS DOUBLE) END) < CAST(0.6 AS DOUBLE))),
       |t3 AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
       |g3 AS (SELECT doc_id, unnest(
       |         [array_to_string(w[i:i+2], ' ')
       |          for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS gram FROM t3),
       |probe AS (SELECT DISTINCT gram FROM g3 WHERE doc_id % 100 = 0),
       |tot3 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams
       |         FROM g3 GROUP BY doc_id),
       |hit3 AS (SELECT g3.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
       |         FROM g3 JOIN probe USING (gram) GROUP BY g3.doc_id),
       |clean AS (SELECT tot3.doc_id FROM tot3
       |          LEFT JOIN hit3 ON hit3.doc_id = tot3.doc_id
       |          WHERE coalesce(hit3.n_contaminated, 0) * 10000 // tot3.n_ngrams
       |                < 2500),
       |surv AS (SELECT okq.doc_id, okq.dl AS n_tokens
       |         FROM canon JOIN okq ON okq.doc_id = canon.doc_id
       |         JOIN clean ON clean.doc_id = canon.doc_id),
       |p AS (SELECT doc_id, n_tokens,
       |        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
       |      FROM surv)
       |SELECT p.doc_id, d.source, p.n_tokens, p.st AS stream_offset,
       |       p.st // 2048 AS seq_id, p.st % 2048 AS seq_offset
       |FROM p JOIN documents d ON d.doc_id = p.doc_id
       |ORDER BY p.doc_id""".stripMargin
  }

  /** MLBasedMatcher: LR on 4 comparator features over standard-blocked
    * candidates, labels from the scenario gold; scores every candidate.
    */
  def matchMl(s: SparkSession, dir: String): DataFrame = {
    val l = EmScenario.custL(s, dir)
    val r = EmScenario.custR(s, dir)
    val cands = Blockers.standard(l, r, Seq("seg", "nat"), "id")
    val features = Seq(
      "f_jw" -> sims.jaroWinkler(col("l_name"), col("r_name")),
      "f_lev" -> sims.levenshteinSim(col("l_name"), col("r_name")),
      "f_bal" -> sims.numericAbsSim(col("l_bal"), col("r_bal"), 1000.0),
      "f_seg" -> sims.exactSim(col("l_seg"), col("r_seg")))
    val labeled = MlMatcher.labeledFeatures(cands, l, r, "id", features, EmScenario.gold(s, dir))
    MlMatcher.fitPredict(labeled, features.map(_._1))
      .filter(col("prediction") === 1)
      .select("id1", "id2", "prediction")
      .orderBy("id1", "id2")
  }

  /** The 100 TB-scale HALF of match_ml, oracled (r8 verdict ask #7):
    * scoring candidates with a FIXED published weight vector is pure
    * arithmetic over the codegen'd comparator features — margin =
    * Σ wᵢ·round(fᵢ,5) + b, floor-scaled to integer micro units so the
    * decision boundary is an integer law shared bit-for-bit with the
    * oracle (prediction = score_micro > 0, never a float compare). The
    * LBFGS FIT remains the declared rows-only query (`match_ml`); this
    * is model SERVING — the part that actually runs at corpus scale
    * once a model ships. Features are rounded to 5 decimals first, the
    * same proven-safe equalization the sim oracles use.
    */
  def matchMlScore(s: SparkSession, dir: String): DataFrame = {
    val l = EmScenario.custL(s, dir)
    val r = EmScenario.custR(s, dir)
    val cands = Blockers.standard(l, r, Seq("seg", "nat"), "id")
    val attached = graft.matching.Matching.attachRecords(cands, l, r, "id")
    val margin =
      round(sims.jaroWinkler(col("l_name"), col("r_name")), 5) * lit(2.9) +
      round(sims.levenshteinSim(col("l_name"), col("r_name")), 5) * lit(2.1) +
      round(sims.numericAbsSim(col("l_bal"), col("r_bal"), 1000.0), 5) * lit(0.9) +
      round(sims.exactSim(col("l_seg"), col("r_seg")), 5) * lit(1.9) +
      lit(-3.7)
    attached
      .select(col("id1"), col("id2"),
        floor(margin * lit(1000000.0)).cast("long").as("score_micro"))
      .withColumn("prediction", (col("score_micro") > 0L).cast("long"))
      .orderBy("id1", "id2")
  }

  val matchMlScoreOracle: String =
    s"""${graft.blocking.EmScenario.oracleWith},
       |cand AS (SELECT l.id AS id1, r.id AS id2, l.name AS ln, r.name AS rn,
       |                l.seg AS ls, r.seg AS rs, l.bal AS lb, r.bal AS rb
       |         FROM l JOIN r ON l.seg = r.seg AND l.nat = r.nat),
       |scored AS (SELECT id1, id2,
       |  CAST(floor((round(jaro_winkler_similarity(ln, rn), 5) * 2.9
       |    + round(CASE WHEN greatest(len(ln), len(rn)) = 0 THEN 1.0
       |        ELSE 1.0 - CAST(levenshtein(ln, rn) AS DOUBLE)
       |               / greatest(len(ln), len(rn)) END, 5) * 2.1
       |    + round(greatest(0.0, 1.0 - abs(lb - rb) / 1000.0), 5) * 0.9
       |    + round(CASE WHEN ls = rs THEN 1.0 ELSE 0.0 END, 5) * 1.9
       |    - 3.7) * 1000000.0) AS BIGINT) AS score_micro
       |  FROM cand)
       |SELECT id1, id2, score_micro,
       |  CAST(CASE WHEN score_micro > 0 THEN 1 ELSE 0 END AS BIGINT) AS prediction
       |FROM scored ORDER BY id1, id2""".stripMargin

  /** Multimodal: binary payload + typed metadata through the batched
    * feature-extraction kernel (deterministic fake digest).
    */
  def mmBinaryMeta(s: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
        Multimodal.syntheticMedia(customer(s, dir), "c_custkey", "c_name"))
      .toDF()
      .orderBy("id")

  val mmBinaryMetaOracle: String =
    """SELECT c_custkey AS id, 'image' AS kind,
      |  CAST(c_custkey % 64 + 16 AS INT) AS width,
      |  CAST(c_custkey % 48 + 12 AS INT) AS height,
      |  CAST(length(c_name) AS BIGINT) AS n_bytes,
      |  md5(c_name) AS digest
      |FROM customer
      |ORDER BY id""".stripMargin

  /** Multimodal perceptual-hash near-dup ([[Multimodal.aHash64]] over
    * the documents corpus as media payloads) — the image-dedup shape a
    * training pipeline runs (PDQ/aHash fingerprints, banded Hamming
    * join): fingerprint every payload (one typed-kernel pass, 8 bytes
    * out per record — the only thing that ever shuffles), band the
    * 64-bit hash into 4×16-bit keys, candidates by band equi-join
    * (pigeonhole: Hamming ≤ 3 GUARANTEES a colliding band; beyond
    * that banding is the recall/cost dial, exactly as in production
    * PDQ pipelines), verify bit_count(xor) ≤ 9 in-bucket only. The
    * corpus is never compared all-pairs; at 10⁹ images this is a
    * band-bucketed equi-join like the MinHash tier, with an 8-byte
    * wire footprint per image.
    */
  def mmPhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMedia(
      graft.Tables.documents(s, dir).select(col("doc_id"), col("text")),
      "doc_id", "text")
    val ph = Multimodal.aHash64(media)
    val bandCols = (0 until 4).map(b =>
      shiftright(col("phash"), b * 16).bitwiseAND(lit(0xffffL)))
    val banded = ph.select(col("id"), col("phash"),
      posexplode(array(bandCols: _*)).as(Seq("bidx", "bkey")))
    val a = banded.select(col("id").as("id1"), col("phash").as("h1"),
      col("bidx"), col("bkey"))
    val b = banded.select(col("id").as("id2"), col("phash").as("h2"),
      col("bidx"), col("bkey"))
    a.join(b, Seq("bidx", "bkey"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(h1 ^ h2)").cast("long").as("hamming"))
      .filter(col("hamming") <= 9)
      .distinct()
      .orderBy("id1", "id2")
  }

  /** ASCII-corpus assumption (shared by every mm_* oracle): the Spark
    * side fingerprints UTF-8 BYTES of the text payload while this SQL
    * indexes CHARACTERS (substr/length/ord) — the two laws coincide
    * exactly iff the corpus is single-byte (ASCII), which the
    * driver-generated documents table is. On a multi-byte corpus the
    * oracle, not the operator, would need octet_length/byte slicing.
    */
  val mmPhashNeardupOracle: String =
    """WITH d AS (SELECT doc_id AS id, text AS t, length(text) AS L FROM documents),
      |px AS (SELECT id, j, ord(substr(t, (j*L)//64 + 1, 1)) AS p
      |       FROM d, range(0,64) r(j)),
      |mn AS (SELECT id, sum(p)//64 AS m FROM px GROUP BY id),
      |ph AS (SELECT px.id, CAST(sum(CASE WHEN p <= m THEN 0
      |         WHEN j = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |         ELSE CAST(CAST(1 AS BIGINT) << j AS HUGEINT) END) AS BIGINT) AS phash
      |       FROM px JOIN mn ON mn.id = px.id GROUP BY px.id),
      |banded AS (SELECT id, phash, j AS bidx, (phash >> (j*16)) & 65535 AS bkey
      |           FROM ph, range(0,4) r(j)),
      |cand AS (SELECT DISTINCT a.id AS id1, b.id AS id2, a.phash AS h1, b.phash AS h2
      |         FROM banded a JOIN banded b
      |           ON a.bidx = b.bidx AND a.bkey = b.bkey AND a.id < b.id)
      |SELECT id1, id2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(h1, h2)) <= 9
      |ORDER BY id1, id2""".stripMargin

  /** Multimodal frame sampling: payload treated as consecutive 5-byte
    * frames, every 2nd emitted — the explode-shaped video op; the
    * oracle recomputes frames as substrings.
    */
  def mmFrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(
        Multimodal.syntheticMedia(customer(s, dir), "c_custkey", "c_name"),
        frameBytes = 5, everyN = 2)
      .orderBy("id", "frame_idx")

  val mmFrameSampleOracle: String =
    """WITH f AS (SELECT c_custkey AS id, 'image' AS kind, c_name AS payload,
      |             CAST(unnest(range(0, greatest(length(c_name) // 5, 1), 2)) AS INT)
      |               AS frame_idx
      |           FROM customer)
      |SELECT id, kind, frame_idx,
      |       substr(payload, frame_idx * 5 + 1, 5) AS frame
      |FROM f
      |ORDER BY id, frame_idx""".stripMargin

  /** Streaming windowed agg, batch semantics (the stream ≡ batch
    * equivalence is proven in StreamSpec via an AvailableNow run).
    */
  def streamWindowAgg(s: SparkSession, dir: String): DataFrame =
    Streams.windowAgg(events(s, dir)).orderBy("window_start", "event_type")

  val streamWindowAggOracle: String =
    """SELECT date_trunc('hour', ts) AS window_start,
      |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
      |       event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events
      |GROUP BY 1, 2, 3
      |ORDER BY window_start, event_type""".stripMargin

  /** Sliding event-time windows ([[Streams.slidingWindowAgg]]): 24 h
    * totals per event type refreshed every 6 h — every event counted in
    * 4 overlapping windows. Oracle replays Spark's epoch-aligned window
    * expansion as time_bucket(6 h) − j·6 h for j ∈ 0..3 (duration/slide
    * covering windows, partial leading windows included).
    */
  def streamSlidingWindow(s: SparkSession, dir: String): DataFrame =
    Streams.slidingWindowAgg(events(s, dir))
      .orderBy("window_start", "event_type")

  val streamSlidingWindowOracle: String =
    """WITH e AS (SELECT ts, event_type, CAST(round(value * 100) AS BIGINT) AS vc,
      |                time_bucket(INTERVAL 6 HOUR, ts) AS b FROM events),
      |w AS (SELECT e.*, b - j * INTERVAL 6 HOUR AS window_start
      |      FROM e, (SELECT unnest(range(0, 4)) AS j) js)
      |SELECT window_start, window_start + INTERVAL 24 HOUR AS window_end,
      |       event_type, count(*) AS n_events,
      |       CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value
      |FROM w GROUP BY 1, 2, 3
      |ORDER BY window_start, event_type""".stripMargin

  /** Gap-based sessionization, batch semantics (stream version proven
    * equivalent in MlStreamSpec via flatMapGroupsWithState).
    */
  def streamSessionize(s: SparkSession, dir: String): DataFrame =
    Streams.sessionizeBatch(events(s, dir), 30)
      .orderBy("user_id", "session_idx")

  val streamSessionizeOracle: String =
    """WITH t AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS newf
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, ts,
      |        sum(newf) OVER (PARTITION BY user_id ORDER BY ts
      |                        ROWS UNBOUNDED PRECEDING) AS session_idx
      |      FROM t)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |       min(ts) AS session_start, max(ts) AS session_end,
      |       count(*) AS n_events
      |FROM s GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** Streaming dedup-within-watermark (#66), run FOR REAL: readStream
    * over the events dir → dropDuplicatesWithinWatermark(user_id,
    * event_type) → AvailableNow into a memory sink. Only the key
    * columns are emitted — which duplicate ROW survives inside a
    * micro-batch is not deterministic, but the surviving key set here
    * equals the distinct keys. NOTE the operator only guarantees that
    * WITHIN the watermark horizon (2 h): a key recurring in a later
    * micro-batch after state expiry is legitimately re-emitted. The
    * DISTINCT oracle matches because the single-file fixture loads as
    * ONE AvailableNow micro-batch, so no state ever expires; a
    * multi-batch source would need the sink aggregated with DISTINCT
    * before comparing.
    */
  /** Streaming as-of enrichment, run FOR REAL: readStream over the
    * events dir → flatMapGroupsWithState latest-view state → purchases
    * enriched with the view at-or-before them → AvailableNow into a
    * memory sink. Oracle: DuckDB's native ASOF LEFT JOIN — identical
    * to the batch asof_join contract (single ordered batch, like
    * stream_dedup).
    */
  def streamAsof(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_stream_asof_" + java.lang.Integer.toHexString(dir.hashCode)
    // per-user-bounded state over a small key universe: run with few
    // state partitions — the r11 probe measured the 32-way default
    // paying ~32 fixed state-file commits per batch for a 15-key state
    // (per-partition fsync overhead WAS the query's wall time)
    val sq = Streams.boundedStateSession(s)
    val src = Streams.eventsStream(sq, dir)
      .select(col("ts"), col("user_id"), col("event_type"), col("event_id"))
    val q = Streams.asofStream(src)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Streams.freshCheckpointDir(name))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Streams.recordProgress(q, name)
    sq.table(name).orderBy("purchase_id")
  }

  val streamAsofOracle: String =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS ts, event_id AS purchase_id
      |           FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, epoch_us(ts) AS ts, max(event_id) AS view_id
      |      FROM events WHERE event_type = 'view' GROUP BY user_id, epoch_us(ts))
      |SELECT p.user_id, p.ts, p.purchase_id, v.view_id
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY purchase_id""".stripMargin

  /** The out-of-order-tolerant [[Streams.asofStreamBuffered]] run to
    * completion: a ZERO-delay watermark means the trailing no-data
    * batch advances the watermark to the max event time, every held
    * purchase flushes (via the event-time timeout), and the output
    * equals the batch ASOF oracle exactly — while still exercising the
    * hold-until-watermark path end to end.
    */
  def streamAsofBuffered(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_stream_asofb_" + java.lang.Integer.toHexString(dir.hashCode)
    // bounded-key state × exactly 2 micro-batches (data + timeout
    // drain): per-partition state-commit overhead dominates at the
    // 32-way default — see streamAsof
    val sq = Streams.boundedStateSession(s)
    val src = Streams.eventsStream(sq, dir, watermark = "0 seconds")
      .select(col("ts"), col("user_id"), col("event_type"), col("event_id"))
    val q = Streams.asofStreamBuffered(src)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Streams.freshCheckpointDir(name))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Streams.recordProgress(q, name)
    sq.table(name).orderBy("purchase_id")
  }

  /** Stream-static decontamination run FOR REAL: documents readStream →
    * explode n-grams → left-semi join against the STATIC eval n-gram
    * frame (broadcast) → dedup → memory sink. The probe set matches
    * `text_contamination` (every 100th doc), so the oracle is just the
    * distinct flagged ids of that query's join.
    */
  def streamContamination(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_stream_contam_" + java.lang.Integer.toHexString(dir.hashCode)
    val probes = graft.text.TextOps.ngramSet(
      graft.Tables.documents(s, dir).filter(col("doc_id") % 100 === 0), "text", 3)
    val q = Streams.contaminationStream(
        Streams.docsStream(s, dir), probes, "doc_id", "text", 3)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Streams.freshCheckpointDir(name))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Streams.recordProgress(q, name)
    s.table(name).orderBy("doc_id")
  }

  val streamContaminationOracle: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |g AS (SELECT doc_id, unnest(
      |        [array_to_string(w[i:i+2], ' ')
      |         for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS gram FROM t),
      |probe AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0)
      |SELECT DISTINCT doc_id FROM g JOIN probe USING (gram)
      |ORDER BY doc_id""".stripMargin

  /** Streaming near-dup admission ([[Streams.nearDupStream]]): the
    * documents stream flagged against the static corpus band index —
    * run FOR REAL (readStream → AvailableNow → memory sink). Streaming
    * the corpus against itself means exactly the docs with a verified
    * near-dup PARTNER (id ≠ partner) flag, so the oracle is the
    * distinct member set of the `dedup_minhash_lsh` pair replay.
    */
  def streamNearDup(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_stream_neardup_" + java.lang.Integer.toHexString(dir.hashCode)
    // spread: the band-index build (shingle+minhash over the full
    // corpus) is the per-row-heavy stage of this query (guide §2.5)
    val corpus = graft.Tables.documentsSpread(s, dir).select("doc_id", "text")
    // production lifecycle: the corpus band index is PREPARED once per
    // corpus version (persisted — here cached, at scale the bucketed
    // parquet artifact), the stream admits against it, and it is
    // released when the version rotates
    val index = Streams.nearDupIndex(corpus, "doc_id", "text", n = 3,
      bands = 4, rows = 3)
    try {
      val q = Streams.nearDupStreamIndexed(Streams.docsStream(s, dir), index,
          "doc_id", "text", n = 3, bands = 4, rows = 3, threshold = 0.8)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", Streams.freshCheckpointDir(name))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    Streams.recordProgress(q, name)
      // the memory sink holds materialized rows — safe to release the
      // index before the caller consumes the result
      s.table(name).orderBy("doc_id")
    } finally index.unpersist(false)
  }

  val streamNearDupOracle: String = {
    val hashes = (0 until 12)
      .map(i => s"  min(substr(md5('$i#' || shg), 1, 8)) AS h$i")
      .mkString(",\n")
    val bandCols = (0 until 4)
      .map(b => s"  h${b * 3} || ':' || h${b * 3 + 1} || ':' || h${b * 3 + 2} AS b$b")
      .mkString(",\n")
    val bandJoins = (0 until 4)
      .map(b => s"  SELECT a.doc_id AS id1, b.doc_id AS id2 FROM banded a " +
        s"JOIN banded b ON a.b$b = b.b$b AND a.doc_id < b.doc_id")
      .mkString("\n  UNION\n")
    s"""WITH ${graft.dedup.DedupQueries.shinglePrelude},
       |sigs AS (SELECT doc_id,
       |$hashes
       |FROM inv GROUP BY doc_id),
       |banded AS (SELECT doc_id,
       |$bandCols
       |FROM sigs),
       |cand AS (
       |$bandJoins),
       |pairs AS (
       |  SELECT id1, id2 FROM (
       |    SELECT id1, id2,
       |      round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |            / len(list_distinct(a.s || b.s)), 5) AS jaccard
       |    FROM cand JOIN sh a ON a.doc_id = id1 JOIN sh b ON b.doc_id = id2)
       |  WHERE jaccard >= 0.8)
       |SELECT DISTINCT doc_id FROM (
       |  SELECT id1 AS doc_id FROM pairs
       |  UNION SELECT id2 AS doc_id FROM pairs)
       |ORDER BY doc_id""".stripMargin
  }

  def streamDedup(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_stream_dedup_" + java.lang.Integer.toHexString(dir.hashCode)
    val src = Streams.eventsStream(s, dir)
      .select(col("ts"), col("user_id"), col("event_type"))
    val q = Streams.dedupStream(src, Seq("user_id", "event_type"))
      .select("user_id", "event_type")
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Streams.freshCheckpointDir(name))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Streams.recordProgress(q, name)
    s.table(name).orderBy("user_id", "event_type")
  }

  val streamDedupOracle: String =
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin

  /** Streaming CDC upsert: apply the event stream as last-writer-wins
    * changes to a keyed state table (the materialized-view shape every
    * CDC ingestion pipeline needs). Complete-mode streaming aggregation
    * with `max_by` over the (ts, event_id) change order — state is
    * key-bounded, not event-bounded, so it holds at 100 TB of churn on
    * a bounded key space; event_id breaks ts ties deterministically.
    */
  def streamUpsert(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_stream_upsert_" + java.lang.Integer.toHexString(dir.hashCode)
    val src = Streams.eventsStream(s, dir)
    val state = src.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        max_by(struct(col("ts"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
    val q = state
      .select(col("user_id"), col("n_events"),
        col("last.ts").as("last_ts"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"))
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Streams.freshCheckpointDir(name))
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Streams.recordProgress(q, name)
    s.table(name).orderBy("user_id")
  }

  val streamUpsertOracle: String =
    """WITH r AS (
      |  SELECT user_id, ts, event_type, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn,
      |         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
      |  FROM events)
      |SELECT user_id, n_events, ts AS last_ts, event_type AS last_event_type,
      |       value AS last_value
      |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Native session_window sessions ([[Streams.sessionWindowAgg]]):
    * batch semantics here (hash-gated); Round10Spec runs the same
    * transform on MemoryStream and proves sessions MERGE across
    * micro-batches in the dedicated session-window state store.
    */
  def streamSessionWindow(s: SparkSession, dir: String): DataFrame =
    Streams.sessionWindowAgg(events(s, dir), 30)
      .orderBy("user_id", "session_start")

  val streamSessionWindowOracle: String =
    """WITH t AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
      |         THEN 1 ELSE 0 END AS newf
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, ts,
      |        sum(newf) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                        ROWS UNBOUNDED PRECEDING) AS sidx
      |      FROM t)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL 30 MINUTE AS session_end,
      |       count(*) AS n_events
      |FROM s GROUP BY user_id, sidx
      |ORDER BY user_id, session_start""".stripMargin

  /** Per-window HLL distinct-user sketch ([[Streams.hllWindowRegisters]]
    * + [[graft.profiling.Sketches.hllSummaryBy]]): batch semantics here
    * (hash-gated incl. the LinearCounting-corrected estimates);
    * Round10Spec proves the streaming form emits the identical
    * registers from a stateful windowed agg whose state is
    * windows × 256 longs — never per-user.
    */
  def streamHll(s: SparkSession, dir: String): DataFrame = {
    import graft.profiling.Sketches
    val ev = events(s, dir)
    val summ = Sketches.hllSummaryBy(
      Streams.hllWindowRegisters(ev, "1 day"), col("window_start"))
    val exact = ev
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
      .select(col("w.start").as("window_start"), col("exact_distinct"))
    summ.join(exact, "window_start")
      .select("window_start", "m", "occupied", "s_scaled", "est_raw", "est",
        "exact_distinct")
      .orderBy("window_start")
  }

  val streamHllOracle: String = {
    import graft.profiling.Sketches
    s"""WITH hr AS (SELECT date_trunc('day', ts) AS window_start,
       |  ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,2))::BIGINT AS reg,
       |  ('0x'||substr(md5(CAST(user_id AS VARCHAR)),3,13))::BIGINT AS w
       |  FROM events),
       |regs AS (SELECT window_start, reg,
       |  max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS r
       |  FROM hr GROUP BY 1, 2),
       |${Sketches.hllSummaryOracleCtes("regs", Seq("window_start"))},
       |ex AS (SELECT date_trunc('day', ts) AS window_start,
       |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
       |  FROM events GROUP BY 1)
       |SELECT hfin.window_start, m, occupied, s_scaled, est_raw, est, exact_distinct
       |FROM hfin JOIN ex USING (window_start) ORDER BY window_start""".stripMargin
  }

  /** Per-window CountMin heavy hitters ([[Streams.cmsWindowCounters]] —
    * the CMS sibling of `stream_hll`): batch semantics here, hash-gated
    * including the estimates; Round10Spec proves the streaming form
    * emits the identical counter cells from a stateful windowed agg
    * whose state is windows × d·w cells at ANY key cardinality. The
    * estimate lookup broadcasts the (bounded: days × 4·512) counter
    * frame and takes min over the d rows — same CMS law as
    * `profile_cms_topk`, now per event-time window.
    */
  def streamCms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.profiling.Sketches
    val ev = events(s, dir)
    val counters = Streams.cmsWindowCounters(ev, "1 day", "user_id", 4, 512)
    val top = ev.groupBy(window(col("ts"), "1 day").as("w"), col("user_id"))
      .agg(count(lit(1)).as("exact_cnt"))
      .select(col("w.start").as("window_start"), col("user_id"), col("exact_cnt"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("window_start")
          .orderBy(col("exact_cnt").desc, col("user_id"))).cast("long"))
      .filter(col("rnk") <= 5)
    val probes = top.select("window_start", "user_id")
      .withColumn("_j", explode(array((0 until 4).map(j => lit(j)): _*)))
      .withColumn("_bucket", Sketches.md5Bucket(
        concat(lit("cms"), col("_j").cast("string"), lit("#")), col("user_id"), 512))
    val est = probes.join(broadcast(counters),
        probes("window_start") === counters("window_start") &&
          probes("_j") === counters("j") && probes("_bucket") === counters("bucket"))
      .groupBy(probes("window_start"), probes("user_id"))
      .agg(min(col("c")).as("cms_cnt"))
    top.join(est, Seq("window_start", "user_id"))
      .select("window_start", "user_id", "exact_cnt", "cms_cnt", "rnk")
      .orderBy("window_start", "rnk")
  }

  val streamCmsOracle: String =
    """WITH cnt AS (
      |  SELECT date_trunc('day', ts) AS window_start, j,
      |         ('0x'||substr(md5('cms'||j||'#'||CAST(user_id AS VARCHAR)),1,13))::BIGINT % 512 AS bucket,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events, range(0,4) t(j) GROUP BY 1, 2, 3),
      |top AS (
      |  SELECT * FROM (
      |    SELECT date_trunc('day', ts) AS window_start, user_id,
      |           CAST(count(*) AS BIGINT) AS exact_cnt,
      |           row_number() OVER (PARTITION BY date_trunc('day', ts)
      |                              ORDER BY count(*) DESC, user_id) AS rnk
      |    FROM events GROUP BY 1, 2)
      |  WHERE rnk <= 5),
      |est AS (
      |  SELECT top.window_start, top.user_id, min(c) AS cms_cnt
      |  FROM top, range(0,4) t(j)
      |  JOIN cnt ON cnt.j = t.j AND cnt.window_start = top.window_start
      |    AND cnt.bucket = ('0x'||substr(md5('cms'||t.j||'#'||CAST(top.user_id AS VARCHAR)),1,13))::BIGINT % 512
      |  GROUP BY 1, 2)
      |SELECT top.window_start, top.user_id, top.exact_cnt, est.cms_cnt,
      |       CAST(top.rnk AS BIGINT) AS rnk
      |FROM top JOIN est USING (window_start, user_id)
      |ORDER BY window_start, rnk""".stripMargin

  /** Consistent (coordinated) hash sampling across tables — the
    * technique that makes a 100 TB pipeline DEBUGGABLE at 1% cost:
    * sample every table by the SAME deterministic hash law on the
    * JOIN KEY (`hash52(custkey) < 2^52/10` ≈ 10%), and joins between
    * samples stay referentially intact — every sampled order finds its
    * customer, so a sampled dev run exercises the same plan shapes as
    * production. The query demonstrates the law against its failure
    * mode: orders sampled independently (by o_orderkey) find their
    * customer in the customer sample only ~10% of the time. All counts
    * and coverages exact integers; the hash law is the repo-wide
    * md5-prefix law so the whole demonstration replays in the oracle.
    * Scale shape: three predicate-pushdown scans + two equi-joins on
    * the already-sampled (~10%/~1%) frames — never a full-table join.
    */
  def sampleHashConsistent(s: SparkSession, dir: String): DataFrame = {
    import graft.profiling.Sketches
    val thr = Sketches.Hash52Space / 10
    val cust = customer(s, dir)
    val ord = orders(s, dir)
    val cs = cust.filter(Sketches.hash52(col("c_custkey")) < thr)
      .select(col("c_custkey"))
    val consistent = ord.filter(Sketches.hash52(col("o_custkey")) < thr)
      .select(col("o_orderkey"), col("o_custkey"))
    val indep = ord.filter(Sketches.hash52(col("o_orderkey")) < thr)
      .select(col("o_orderkey"), col("o_custkey"))
    def cov(sample: DataFrame) = sample
      .join(cs, sample("o_custkey") === cs("c_custkey"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(cs("c_custkey").isNotNull, 1L).otherwise(0L)).as("hit"))
    val base = cust.agg(count(lit(1)).as("n_cust"))
      .crossJoin(ord.agg(count(lit(1)).as("n_ord"))) // 1 row × 1 row
    val cc = cov(consistent).select(col("n").as("n_consistent"),
      col("hit").as("consistent_hits"))
    val ci = cov(indep).select(col("n").as("n_indep"),
      col("hit").as("indep_hits"))
    base.crossJoin(cs.agg(count(lit(1)).as("n_cust_sampled"))) // 1-row frames
      .crossJoin(cc).crossJoin(ci)
      .select(col("n_cust"), col("n_cust_sampled"), col("n_ord"),
        col("n_consistent"), col("consistent_hits"),
        Sketches.idiv(col("consistent_hits") * 1000L, col("n_consistent"))
          .as("consistent_cov_milli"),
        col("n_indep"), col("indep_hits"),
        Sketches.idiv(col("indep_hits") * 1000L, col("n_indep"))
          .as("indep_cov_milli"))
  }

  /** Deterministic STRATIFIED sampling — the balanced-eval-set face of
    * the sampling family (`sample_hash_consistent` is the rate law /
    * consistent-across-tables face; this is equal allocation across
    * strata): per customer market segment, keep the k = 20 rows with
    * the SMALLEST hash52(key) — a uniform random sample of exactly
    * min(k, |stratum|) rows per stratum that is a pure SET property of
    * the input. Implementation is [[graft.functions.BottomKPairs]]
    * per stratum (partial-aggregatable: map-side combine sends ≤ k
    * pairs per partition per stratum, the shuffle merge is the capped
    * union) — NOT a row_number window, which would sort every stratum's
    * full partition and put the whole table through one skew-prone
    * shuffle; at 100 TB the sketch agg moves strata × k × 16 bytes.
    * Replay law (the oracle): group by hash → min(key), rank by hash,
    * rk ≤ k per stratum. Output carries the per-stratum totals so the
    * allocation law (n_sampled = min(k, n_total)) is hash-gated too.
    */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    import graft.profiling.Sketches
    val k = 20
    val cust = customer(s, dir)
    val picked = cust
      .groupBy(col("c_mktsegment"))
      .agg(graft.functions.bottomk.bottomKPairs(
        Sketches.hash52(col("c_custkey")), col("c_custkey"), k).as("_rs"))
      .select(col("c_mktsegment"), explode(col("_rs")).as("_p"))
      .select(col("c_mktsegment"), col("_p.v").as("c_custkey"))
    val totals = cust.groupBy("c_mktsegment").agg(count(lit(1)).as("n_total"))
    picked.join(totals, "c_mktsegment")
      .select(col("c_mktsegment"), col("n_total"),
        least(lit(k.toLong), col("n_total")).as("n_sampled"),
        col("c_custkey"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  val sampleStratifiedOracle: String =
    """WITH h AS (SELECT c_mktsegment, c_custkey,
      |    ('0x'||substr(md5(CAST(c_custkey AS VARCHAR)),1,13))::BIGINT AS h52
      |  FROM customer),
      |g AS (SELECT c_mktsegment, h52, min(c_custkey) AS c_custkey
      |      FROM h GROUP BY 1, 2),
      |r AS (SELECT *, row_number()
      |        OVER (PARTITION BY c_mktsegment ORDER BY h52) AS rk FROM g),
      |t AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_total
      |      FROM customer GROUP BY 1)
      |SELECT r.c_mktsegment, t.n_total,
      |       least(20, t.n_total) AS n_sampled, r.c_custkey
      |FROM r JOIN t ON r.c_mktsegment = t.c_mktsegment
      |WHERE r.rk <= 20
      |ORDER BY r.c_mktsegment, r.c_custkey""".stripMargin

  /** Salted skewed join ([[graft.operators.Skew.saltedJoin]]): lineitem
    * ⋈ supplier on suppkey with the fact side spread across 8 salt
    * buckets — the manual skew fix for when AQE's splitter can't apply
    * or the hot key is known ahead of time (from `profile_topk` /
    * `profile_cms_topk`). The HASH GATE is the safety law: the salted
    * join's aggregate equals the plain join's (the oracle runs the
    * UNSALTED SQL), because every fact row meets exactly one replica of
    * its supplier row. The spec pins the plan half: the sort-merge join
    * keys include `_salt`, so a hot suppkey's rows land in 8 shuffle
    * partitions instead of one.
    */
  def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir).select(col("l_suppkey"),
      cents(col("l_extendedprice")).as("_price_c"),
      col("l_orderkey"), col("l_linenumber"))
    val sup = supplier(s, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.operators.Skew
      .saltedJoin(li, sup, "l_suppkey", 8,
        xxhash64(col("l_orderkey"), col("l_linenumber")))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        centsToDouble(sum("_price_c")).as("revenue"))
      .orderBy("s_nationkey")
  }

  val joinSkewSaltedOracle: String =
    """SELECT s_nationkey, CAST(count(*) AS BIGINT) AS n_items,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
      |         / 100.0 AS revenue
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Two-phase distinct aggregation under group skew: distinct users
    * per event type computed as distinct-on-(type, user) THEN
    * count-per-type — the decomposition that spreads a hot group across
    * the whole cluster in phase 1 (the shuffle hashes BOTH columns)
    * and moves one row per (type, user) into phase 2. The hash gate
    * pins the law that the decomposition equals the direct
    * count(DISTINCT) (the oracle runs the direct form); with 5 event
    * types and 32+ executor cores, the direct final agg would bottleneck
    * on 5 reducers at any data size — the decomposed phase 1 scales
    * with distinct pairs instead.
    */
  def aggSkewDistinct(s: SparkSession, dir: String): DataFrame =
    // count(DISTINCT user_id) ignores NULLs; distinct()+count(*) would
    // count a null user as one user — filter first (a no-op on current
    // data) so the decomposition matches for the full input domain
    events(s, dir).select("event_type", "user_id")
      .filter(col("user_id").isNotNull).distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")

  val aggSkewDistinctOracle: String =
    """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** Stream-static broadcast enrichment ([[Streams.enrichAgg]]): the
    * purchase stream joined to the customer dimension (user_id ↦
    * custkey − 1) and rolled up per (day window, market segment). The
    * registered face is the batch frame (hash-gated); Round12Spec runs
    * the SAME transform on a real streaming source and proves the
    * streamed result equals this, with BroadcastHashJoin (stateless
    * enrich) + StateStoreSave (windowed state only) pinned in the plan.
    */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = customer(s, dir).select(
      (col("c_custkey") - 1).cast("long").as("user_id"), col("c_mktsegment"))
    Streams.enrichAgg(events(s, dir), dim)
      .orderBy("window_start", "c_mktsegment")
  }

  val streamEnrichOracle: String =
    """SELECT date_trunc('day', e.ts) AS window_start, c.c_mktsegment,
      |       CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0
      |         AS revenue
      |FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
      |WHERE e.event_type = 'purchase'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val sampleHashConsistentOracle: String =
    """WITH cs AS (SELECT c_custkey FROM customer
      |            WHERE ('0x'||substr(md5(CAST(c_custkey AS VARCHAR)),1,13))::BIGINT < 450359962737049),
      |con AS (SELECT o_orderkey, o_custkey FROM orders
      |        WHERE ('0x'||substr(md5(CAST(o_custkey AS VARCHAR)),1,13))::BIGINT < 450359962737049),
      |ind AS (SELECT o_orderkey, o_custkey FROM orders
      |        WHERE ('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)),1,13))::BIGINT < 450359962737049),
      |cc AS (SELECT CAST(count(*) AS BIGINT) AS n_consistent,
      |              CAST(sum(CASE WHEN cs.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS consistent_hits
      |       FROM con LEFT JOIN cs ON con.o_custkey = cs.c_custkey),
      |ci AS (SELECT CAST(count(*) AS BIGINT) AS n_indep,
      |              CAST(sum(CASE WHEN cs.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS indep_hits
      |       FROM ind LEFT JOIN cs ON ind.o_custkey = cs.c_custkey),
      |base AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_cust,
      |                (SELECT CAST(count(*) AS BIGINT) FROM cs) AS n_cust_sampled,
      |                (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_ord)
      |SELECT n_cust, n_cust_sampled, n_ord,
      |       n_consistent, consistent_hits,
      |       (consistent_hits * 1000) // n_consistent AS consistent_cov_milli,
      |       n_indep, indep_hits,
      |       (indep_hits * 1000) // n_indep AS indep_cov_milli
      |FROM base, cc, ci""".stripMargin

  /** Per-window quantile estimates from the streaming hash reservoir
    * ([[Streams.reservoirWindow]]) — the QUANTILE member of the
    * per-window sketch family (HLL `stream_hll`, CMS `stream_cms`,
    * now the reservoir): per event-time day, p50/p90 of the value
    * column estimated from a k=256 bottom-k-by-hash reservoir whose
    * streaming state is ≤ k pairs per window at ANY event rate, with
    * the exact per-window quantiles riding along (same discrete rank
    * law; one window-function pass, no per-q re-scan — targets ride an
    * exploded filtered array). Batch semantics here, hash-gated
    * including estimates; Round10bSpec proves the MemoryStream
    * windowed agg emits bit-identical reservoirs across batches.
    */
  def streamQuantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.profiling.Sketches
    val k = 256
    val qs = Seq(500, 900)
    val ev = events(s, dir)
    val rs = Streams.reservoirWindow(ev, "1 day", "event_id",
      cents(col("value")), k)
    val est = rs
      .withColumn("srt", array_sort(transform(col("rs"),
        p => struct(p.getField("v").as("v"), p.getField("h").as("h")))))
      .withColumn("n", size(col("srt")).cast("long"))
      .select(col("window_start"), col("n").as("n_sample"),
        explode(array(qs.map { q =>
          struct(lit(q).as("q_milli"),
            element_at(col("srt"),
              greatest(lit(1L),
                Sketches.idiv(lit(q.toLong) * col("n") + 999L, lit(1000L)))
                .cast("int")).getField("v").as("est"))
        }: _*)).as("_e"))
      .select(col("window_start"), col("_e.q_milli"), col("n_sample"),
        col("_e.est"))
    val vals = ev.select(
      window(col("ts"), "1 day").getField("start").as("window_start"),
      cents(col("value")).as("_v"))
    val wP = Window.partitionBy("window_start")
    val exact = vals
      .withColumn("rn", row_number().over(wP.orderBy("_v")).cast("long"))
      .withColumn("cnt", count(lit(1)).over(wP))
      .select(col("window_start"), col("_v"),
        explode(filter(array(qs.map { q =>
          struct(lit(q).as("q_milli"),
            greatest(lit(1L),
              Sketches.idiv(lit(q.toLong) * col("cnt") + 999L, lit(1000L)))
              .as("t"))
        }: _*), x => x.getField("t") === col("rn"))).as("_x"))
      .select(col("window_start"), col("_x.q_milli"), col("_v").as("exact"))
    est.join(exact, Seq("window_start", "q_milli"))
      .select(col("window_start"), col("q_milli"), col("n_sample"),
        col("est"), col("exact"), abs(col("est") - col("exact")).as("abs_err"))
      .orderBy("window_start", "q_milli")
  }

  val streamQuantileOracle: String =
    """WITH e AS (SELECT date_trunc('day', ts) AS window_start,
      |         ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,13))::BIGINT AS h,
      |         CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |d AS (SELECT window_start, h, min(v) AS v FROM e GROUP BY 1, 2),
      |r AS (SELECT window_start, h, v,
      |        row_number() OVER (PARTITION BY window_start ORDER BY h) AS hr FROM d),
      |rs AS (SELECT window_start, h, v FROM r WHERE hr <= 256),
      |s AS (SELECT window_start, v,
      |        row_number() OVER (PARTITION BY window_start ORDER BY v, h) AS rk FROM rs),
      |n AS (SELECT window_start, CAST(count(*) AS BIGINT) AS n_sample FROM rs GROUP BY 1),
      |q AS (SELECT unnest([500, 900]) AS q_milli),
      |tg AS (SELECT window_start, q_milli, n_sample,
      |         greatest((q_milli * n_sample + 999) // 1000, 1) AS t FROM n, q),
      |est AS (SELECT tg.window_start, tg.q_milli, tg.n_sample, s.v AS est
      |        FROM tg JOIN s ON s.window_start = tg.window_start AND s.rk = tg.t),
      |x AS (SELECT window_start, v,
      |        row_number() OVER (PARTITION BY window_start ORDER BY v) AS rk,
      |        count(*) OVER (PARTITION BY window_start) AS cnt FROM e),
      |xc AS (SELECT window_start, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1),
      |xtg AS (SELECT window_start, q_milli,
      |          greatest((q_milli * cnt + 999) // 1000, 1) AS t FROM xc, q),
      |ex AS (SELECT xtg.window_start, xtg.q_milli, x.v AS exact
      |       FROM xtg JOIN x ON x.window_start = xtg.window_start AND x.rk = xtg.t)
      |SELECT est.window_start, est.q_milli, est.n_sample, est.est, ex.exact,
      |       abs(est.est - ex.exact) AS abs_err
      |FROM est JOIN ex ON est.window_start = ex.window_start AND est.q_milli = ex.q_milli
      |ORDER BY est.window_start, est.q_milli""".stripMargin

  /** Windowed drift audit — PSI per event-time window against a fixed
    * reference snapshot, over [[graft.streaming.Streams
    * .driftWindowBins]]'s windowed-histogram state shape (the drift
    * face of the windowed-sketch family; r11 verdict ask #7 chose this
    * over a streaming privacy gate). A regression is PLANTED like
    * `profile_drift`'s: from Jan 24 every value arrives 100.00 too
    * high (the "scraper started double-counting fees" story), so
    * windows before the cutoff must stay quiet and windows after must
    * fire — the assertion a monitor exists to make. Per (window, bin):
    * window count vs baseline count and the exact-integer PSI
    * contribution (smoothed +1/+bins, detLn circuit — bit-identical in
    * both engines); per window: psi_scaled and the drift flag at the
    * conventional PSI > 0.2 threshold. The bin law is FIXED-domain
    * (streaming-safe — observed-min/max binning would absorb the very
    * shift it must detect). State at scale: windows × 10 longs.
    */
  def streamDriftAudit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DetMath.detLn
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, dir)
    val cut = lit(java.sql.Timestamp.valueOf("2024-01-24 00:00:00"))
    val shifted = ev.withColumn("value",
      when(col("ts") >= cut, col("value") + 100.0).otherwise(col("value")))
    val wb = graft.streaming.Streams.driftWindowBins(shifted)
    val baseBins = ev
      .select(graft.streaming.Streams.driftBin(col("value")).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("_nb0"))
    val grid = wb.select("window_start").distinct()
      .crossJoin(s.range(10).select(col("id").as("bin"))) // windows × 10
    val filled = grid
      .join(wb, Seq("window_start", "bin"), "left")
      .join(baseBins, Seq("bin"), "left")
      .select(col("window_start"), col("bin"),
        coalesce(col("n"), lit(0L)).as("n_window"),
        coalesce(col("_nb0"), lit(0L)).as("n_base"))
    val w = Window.partitionBy("window_start")
    // each window partition holds each bin exactly once, so the two
    // partition sums ARE the window total and the baseline total
    val tot = filled
      .withColumn("_na", sum("n_window").over(w))
      .withColumn("_nb", sum("n_base").over(w))
    val bl = lit(10L)
    val pa = (col("n_window") + lit(1L)).cast("double") / (col("_na") + bl).cast("double")
    val pb = (col("n_base") + lit(1L)).cast("double") / (col("_nb") + bl).cast("double")
    val lnRatio = detLn((col("n_window") + lit(1L)).cast("double")) -
      detLn((col("n_base") + lit(1L)).cast("double")) -
      detLn((col("_na") + bl).cast("double")) +
      detLn((col("_nb") + bl).cast("double"))
    tot
      .withColumn("psi_contrib_scaled",
        floor((pa - pb) * lnRatio * lit(1.0e12)).cast("long"))
      .withColumn("psi_scaled", sum("psi_contrib_scaled").over(w))
      .select(col("window_start"), col("bin"), col("n_window"), col("n_base"),
        col("psi_contrib_scaled"), col("psi_scaled"),
        (col("psi_scaled") > lit(200000000000L)).as("drift"))
      .orderBy("window_start", "bin")
  }

  val streamDriftAuditOracle: String = {
    import graft.functions.DetMath
    val binOf = (v: String) =>
      s"least(greatest(CAST(round($v * 100) AS BIGINT), 0), 49999) * 10 // 50000"
    s"""WITH sh AS (SELECT ts,
       |    CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00'
       |         THEN value + 100.0 ELSE value END AS value
       |  FROM events),
       |wb AS (SELECT date_trunc('day', ts) AS window_start,
       |         ${binOf("value")} AS bin, CAST(count(*) AS BIGINT) AS n
       |       FROM sh GROUP BY 1, 2),
       |bb AS (SELECT ${binOf("value")} AS bin, CAST(count(*) AS BIGINT) AS nb0
       |       FROM events GROUP BY 1),
       |grid AS (SELECT ws.window_start, b.bin
       |         FROM (SELECT DISTINCT window_start FROM wb) ws,
       |              (SELECT unnest(range(0, 10)) AS bin) b),
       |filled AS (SELECT g.window_start, g.bin,
       |             coalesce(wb.n, 0) AS n_window, coalesce(bb.nb0, 0) AS n_base
       |           FROM grid g
       |           LEFT JOIN wb ON wb.window_start = g.window_start AND wb.bin = g.bin
       |           LEFT JOIN bb ON bb.bin = g.bin),
       |tot AS (SELECT window_start, bin, n_window, n_base,
       |          CAST(sum(n_window) OVER (PARTITION BY window_start) AS BIGINT) AS na,
       |          CAST(sum(n_base) OVER (PARTITION BY window_start) AS BIGINT) AS nb
       |        FROM filled),
       |${DetMath.sqlLnCtes("la", "tot", "window_start, bin, n_window, n_base, na, nb",
            "CAST(n_window + 1 AS DOUBLE)")},
       |r1 AS (SELECT window_start, bin, n_window, n_base, na, nb, lnv AS l_a FROM la),
       |${DetMath.sqlLnCtes("lb", "r1",
            "window_start, bin, n_window, n_base, na, nb, l_a",
            "CAST(n_base + 1 AS DOUBLE)")},
       |r2 AS (SELECT window_start, bin, n_window, n_base, na, nb, l_a, lnv AS l_b FROM lb),
       |${DetMath.sqlLnCtes("lc", "r2",
            "window_start, bin, n_window, n_base, na, nb, l_a, l_b",
            "CAST(na + 10 AS DOUBLE)")},
       |r3 AS (SELECT window_start, bin, n_window, n_base, na, nb, l_a, l_b,
       |              lnv AS l_na FROM lc),
       |${DetMath.sqlLnCtes("ld", "r3",
            "window_start, bin, n_window, n_base, na, nb, l_a, l_b, l_na",
            "CAST(nb + 10 AS DOUBLE)")},
       |r4 AS (SELECT window_start, bin, n_window, n_base, na, nb, l_a, l_b, l_na,
       |              lnv AS l_nb FROM ld),
       |per AS (SELECT window_start, bin, n_window, n_base,
       |          CAST(floor(((CAST(n_window + 1 AS DOUBLE) / (na + 10))
       |                      - (CAST(n_base + 1 AS DOUBLE) / (nb + 10)))
       |                     * (l_a - l_b - l_na + l_nb) * 1e12) AS BIGINT)
       |            AS psi_contrib_scaled
       |        FROM r4),
       |fin AS (SELECT *, CAST(sum(psi_contrib_scaled)
       |          OVER (PARTITION BY window_start) AS BIGINT) AS psi_scaled FROM per)
       |SELECT window_start, bin, n_window, n_base, psi_contrib_scaled, psi_scaled,
       |       psi_scaled > 200000000000 AS drift
       |FROM fin ORDER BY window_start, bin""".stripMargin
  }

  /** Trailing-window drift audit — PSI per event-time window against the
    * PREVIOUS window (the SURVEY §15 candidate: CONCEPT-drift /
    * change-point detection, where [[streamDriftAudit]] is REGRESSION
    * detection against an approved fixed snapshot). Same planted
    * +100.00 shift from Jan 24, same fixed-domain bin law
    * ([[graft.streaming.Streams.driftBin]]) and the same exact-integer
    * detLn PSI circuit — but the reference for window W is
    * `lag(n, 1 window)` per bin, so the monitor ADAPTS: only the window
    * CONTAINING the change-point fires; every later window compares to
    * an already-shifted neighbour and goes quiet again. The two
    * monitors together are the production pairing: fixed-reference says
    * "we differ from what was approved", trailing says "something just
    * changed here". The first window has no predecessor and is
    * excluded. State at scale: current + previous window × 10 longs —
    * O(1) in stream length, vs the fixed variant's one extra frozen
    * histogram.
    */
  def streamDriftTrailing(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.DetMath.detLn
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, dir)
    val cut = lit(java.sql.Timestamp.valueOf("2024-01-24 00:00:00"))
    val shifted = ev.withColumn("value",
      when(col("ts") >= cut, col("value") + 100.0).otherwise(col("value")))
    val wb = graft.streaming.Streams.driftWindowBins(shifted)
    val grid = wb.select("window_start").distinct()
      .crossJoin(s.range(10).select(col("id").as("bin"))) // windows × 10
    val filled = grid
      .join(wb, Seq("window_start", "bin"), "left")
      .select(col("window_start"), col("bin"),
        coalesce(col("n"), lit(0L)).as("n_window"))
    // trailing reference: the same bin's count one window earlier. The
    // grid is dense, so lag(1) is null exactly on the earliest window.
    val byBin = Window.partitionBy("bin").orderBy("window_start")
    val withPrev = filled
      .withColumn("n_prev", lag("n_window", 1).over(byBin))
      .filter(col("n_prev").isNotNull)
    val w = Window.partitionBy("window_start")
    // dense grid ⇒ the two partition sums are this window's total and
    // the previous window's total
    val tot = withPrev
      .withColumn("_na", sum("n_window").over(w))
      .withColumn("_nb", sum("n_prev").over(w))
    val bl = lit(10L)
    val pa = (col("n_window") + lit(1L)).cast("double") / (col("_na") + bl).cast("double")
    val pb = (col("n_prev") + lit(1L)).cast("double") / (col("_nb") + bl).cast("double")
    val lnRatio = detLn((col("n_window") + lit(1L)).cast("double")) -
      detLn((col("n_prev") + lit(1L)).cast("double")) -
      detLn((col("_na") + bl).cast("double")) +
      detLn((col("_nb") + bl).cast("double"))
    tot
      .withColumn("psi_contrib_scaled",
        floor((pa - pb) * lnRatio * lit(1.0e12)).cast("long"))
      .withColumn("psi_scaled", sum("psi_contrib_scaled").over(w))
      .select(col("window_start"), col("bin"), col("n_window"), col("n_prev"),
        col("psi_contrib_scaled"), col("psi_scaled"),
        (col("psi_scaled") > lit(200000000000L)).as("drift"))
      .orderBy("window_start", "bin")
  }

  val streamDriftTrailingOracle: String = {
    import graft.functions.DetMath
    val binOf = (v: String) =>
      s"least(greatest(CAST(round($v * 100) AS BIGINT), 0), 49999) * 10 // 50000"
    s"""WITH sh AS (SELECT ts,
       |    CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00'
       |         THEN value + 100.0 ELSE value END AS value
       |  FROM events),
       |wb AS (SELECT date_trunc('day', ts) AS window_start,
       |         ${binOf("value")} AS bin, CAST(count(*) AS BIGINT) AS n
       |       FROM sh GROUP BY 1, 2),
       |grid AS (SELECT ws.window_start, b.bin
       |         FROM (SELECT DISTINCT window_start FROM wb) ws,
       |              (SELECT unnest(range(0, 10)) AS bin) b),
       |filled AS (SELECT g.window_start, g.bin, coalesce(wb.n, 0) AS n_window
       |           FROM grid g
       |           LEFT JOIN wb ON wb.window_start = g.window_start AND wb.bin = g.bin),
       |lagd AS (SELECT window_start, bin, n_window,
       |           lag(n_window, 1) OVER (PARTITION BY bin ORDER BY window_start)
       |             AS n_prev
       |         FROM filled),
       |pv AS (SELECT window_start, bin, CAST(n_window AS BIGINT) AS n_window,
       |              CAST(n_prev AS BIGINT) AS n_prev
       |       FROM lagd WHERE n_prev IS NOT NULL),
       |tot AS (SELECT window_start, bin, n_window, n_prev,
       |          CAST(sum(n_window) OVER (PARTITION BY window_start) AS BIGINT) AS na,
       |          CAST(sum(n_prev) OVER (PARTITION BY window_start) AS BIGINT) AS nb
       |        FROM pv),
       |${DetMath.sqlLnCtes("la", "tot", "window_start, bin, n_window, n_prev, na, nb",
            "CAST(n_window + 1 AS DOUBLE)")},
       |r1 AS (SELECT window_start, bin, n_window, n_prev, na, nb, lnv AS l_a FROM la),
       |${DetMath.sqlLnCtes("lb", "r1",
            "window_start, bin, n_window, n_prev, na, nb, l_a",
            "CAST(n_prev + 1 AS DOUBLE)")},
       |r2 AS (SELECT window_start, bin, n_window, n_prev, na, nb, l_a, lnv AS l_b FROM lb),
       |${DetMath.sqlLnCtes("lc", "r2",
            "window_start, bin, n_window, n_prev, na, nb, l_a, l_b",
            "CAST(na + 10 AS DOUBLE)")},
       |r3 AS (SELECT window_start, bin, n_window, n_prev, na, nb, l_a, l_b,
       |              lnv AS l_na FROM lc),
       |${DetMath.sqlLnCtes("ld", "r3",
            "window_start, bin, n_window, n_prev, na, nb, l_a, l_b, l_na",
            "CAST(nb + 10 AS DOUBLE)")},
       |r4 AS (SELECT window_start, bin, n_window, n_prev, na, nb, l_a, l_b, l_na,
       |              lnv AS l_nb FROM ld),
       |per AS (SELECT window_start, bin, n_window, n_prev,
       |          CAST(floor(((CAST(n_window + 1 AS DOUBLE) / (na + 10))
       |                      - (CAST(n_prev + 1 AS DOUBLE) / (nb + 10)))
       |                     * (l_a - l_b - l_na + l_nb) * 1e12) AS BIGINT)
       |            AS psi_contrib_scaled
       |        FROM r4),
       |fin AS (SELECT *, CAST(sum(psi_contrib_scaled)
       |          OVER (PARTITION BY window_start) AS BIGINT) AS psi_scaled FROM per)
       |SELECT window_start, bin, n_window, n_prev, psi_contrib_scaled, psi_scaled,
       |       psi_scaled > 200000000000 AS drift
       |FROM fin ORDER BY window_start, bin""".stripMargin
  }

  /** STREAM-STREAM interval join run FOR REAL: the events dir read as
    * TWO independent streaming sources (views / purchases), inner-
    * joined on user within a 24 h event-time window
    * ([[Streams.intervalJoinStream]]) → AvailableNow → memory sink.
    * Inner + single-batch ⇒ output equals the batch window join
    * exactly, while the plan is the real stateful stream-stream join
    * operator (watermark-pruned buffers on both sides).
    */
  def streamIntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_stream_ivj_" + java.lang.Integer.toHexString(dir.hashCode)
    // two SOURCES (not one filtered twice): each side advances its own
    // watermark, the shape a real two-topic deployment has
    val views = Streams.eventsStream(s, dir)
      .filter(col("event_type") === "view")
      .select(col("ts"), col("user_id"), col("event_id"))
    val purchases = Streams.eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("ts"), col("user_id"), col("event_id"))
    val q = Streams.intervalJoinStream(views, purchases, withinHours = 24)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Streams.freshCheckpointDir(name))
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Streams.recordProgress(q, name)
    s.table(name).orderBy("view_id", "purchase_id")
  }

  val streamIntervalJoinOracle: String =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |       epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 24 HOUR
      |ORDER BY view_id, purchase_id""".stripMargin

  /** [[streamNearDup]] against the ON-DISK bucketed index artifact
    * ([[Streams.nearDupIndexSave]] → bucketed parquet table →
    * [[Streams.nearDupIndexLoad]]) instead of the session cache — the
    * full corpus-version lifecycle exercised end to end: band once,
    * write bucketed on (_bidx, _bkey), stream admits against the
    * read-back table with the index side never re-shuffled. Same
    * result contract as `stream_neardup` (same oracle).
    */
  def streamNearDupBucketed(s: SparkSession, dir: String): DataFrame = {
    val name = "graft_stream_neardupb_" + java.lang.Integer.toHexString(dir.hashCode)
    val tbl = "graft_neardup_band_idx"
    val corpus = graft.Tables.documents(s, dir).select("doc_id", "text")
    Streams.nearDupIndexSave(corpus, tbl, "doc_id", "text", n = 3,
      bands = 4, rows = 3, buckets = 8)
    try {
      val index = Streams.nearDupIndexLoad(s, tbl)
      val q = Streams.nearDupStreamIndexed(Streams.docsStream(s, dir), index,
          "doc_id", "text", n = 3, bands = 4, rows = 3, threshold = 0.8)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", Streams.freshCheckpointDir(name))
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    Streams.recordProgress(q, name)
      s.table(name).orderBy("doc_id")
    } finally s.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  /** TextFormatter (entitymatching/text_formatting.py): entity pairs →
    * "field … [SEP] field …" strings for PLM matchers, with a
    * missing-value placeholder.
    */
  def matchTextFormat(s: SparkSession, dir: String): DataFrame = {
    // plain: string formatting over gold-bounded pairs, no comparator
    val l = EmScenario.custLPlain(s, dir)
    val r = EmScenario.custRPlain(s, dir)
    val fmt = (p: String) => concat_ws(" ",
      coalesce(col(s"${p}_name"), lit("[MISSING]")),
      coalesce(col(s"${p}_seg"), lit("[MISSING]")))
    graft.matching.Matching.attachRecords(EmScenario.gold(s, dir), l, r, "id")
      .select(col("id1"), col("id2"),
        concat(fmt("l"), lit(" [SEP] "), fmt("r")).as("pair_text"))
      .orderBy("id1")
  }

  val matchTextFormatOracle: String =
    s"""${graft.blocking.EmScenario.oracleWith}
       |SELECT g.id1, g.id2,
       |  l.name || ' ' || l.seg || ' [SEP] ' || r.name || ' ' || r.seg AS pair_text
       |FROM gold g JOIN l ON l.id = g.id1 JOIN r ON r.id = g.id2
       |ORDER BY g.id1""".stripMargin

  /** Flagship: the full PyDI pipeline in one declarative program —
    * block → compare (codegen sims) → rule-match → connected components
    * → per-attribute fusion — producing one golden record per entity.
    */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val l = EmScenario.custL(s, dir)
    val r = EmScenario.custR(s, dir)
    val cands = Blockers.standard(l, r, Seq("seg", "nat"), "id")
    val matches = graft.matching.Matching.ruleMatch(cands, l, r, "id",
      Seq(
        sims.jaroWinkler(col("l_name"), col("r_name")) -> 0.6,
        sims.exactSim(col("l_seg"), col("r_seg")) -> 0.2,
        sims.numericAbsSim(col("l_bal"), col("r_bal"), 1000.0) -> 0.2),
      threshold = 0.97).select("id1", "id2")
    val cc = graft.clustering.Clusterers.connectedComponents(matches)
    // plain record sides for the fusion half: each aggregation consumer
    // re-paid the spread exchange (r13 bench 3.60→7.90 s); only the
    // blocking+comparator half above amortizes it
    val recs = EmScenario.custLPlain(s, dir).unionByName(EmScenario.custRPlain(s, dir))
    val wc = recs.join(cc, Seq("id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
    graft.fusion.Fusion.runEngine(wc, "cluster", Seq("name" -> "longest_string",
        "bal" -> "average", "seg" -> "voting", "nat" -> "earliest"))
      .orderBy("cluster")
  }

  val pipelineE2eOracle: String =
    s"""WITH RECURSIVE ${EmScenario.oracleWithBody},
       |cand AS (SELECT l.id AS id1, r.id AS id2, l.name AS ln, r.name AS rn,
       |                l.seg AS ls, r.seg AS rs, l.bal AS lb, r.bal AS rb
       |         FROM l JOIN r ON l.seg = r.seg AND l.nat = r.nat),
       |pred AS (SELECT id1, id2 FROM cand
       |         WHERE jaro_winkler_similarity(ln, rn) * 0.6
       |               + (CASE WHEN ls = rs THEN 1.0 ELSE 0.0 END) * 0.2
       |               + greatest(0.0, 1.0 - abs(lb - rb) / 1000.0) * 0.2 >= 0.97),
       |sym AS (SELECT id1 AS u, id2 AS v FROM pred UNION SELECT id2, id1 FROM pred),
       |nodes AS (SELECT DISTINCT u AS id FROM sym),
       |reach(node, rt) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.v, reach.rt FROM reach JOIN sym s ON s.u = reach.node),
       |labels AS (SELECT node AS id, min(rt) AS cluster FROM reach GROUP BY node),
       |recs AS (SELECT * FROM l UNION ALL SELECT * FROM r),
       |wc AS (SELECT recs.id, recs.name, recs.seg, recs.nat, recs.bal,
       |              coalesce(lab.cluster, recs.id) AS cluster
       |       FROM recs LEFT JOIN labels lab ON lab.id = recs.id),
       |nm AS (SELECT cluster, name FROM (
       |  SELECT cluster, name, row_number() OVER (PARTITION BY cluster
       |         ORDER BY length(name) DESC, name) AS rn FROM wc) WHERE rn = 1),
       |balv AS (SELECT cluster,
       |  round(CAST(sum(CAST(round(bal * 100) AS BIGINT)) AS DOUBLE) / 100.0
       |        / count(*), 5) AS bal FROM wc GROUP BY cluster),
       |segv AS (SELECT cluster, seg FROM (
       |  SELECT cluster, seg, row_number() OVER (PARTITION BY cluster
       |         ORDER BY count(*) DESC, seg) AS rn
       |  FROM wc GROUP BY cluster, seg) WHERE rn = 1),
       |rest AS (SELECT cluster, min(nat) AS nat, count(*) AS n_records
       |         FROM wc GROUP BY cluster)
       |SELECT nm.cluster, nm.name, balv.bal, segv.seg, rest.nat, rest.n_records
       |FROM nm JOIN balv USING (cluster) JOIN segv USING (cluster)
       |     JOIN rest USING (cluster)
       |ORDER BY nm.cluster""".stripMargin

  /** Backward as-of join (graft.operators.AsofJoin): every purchase
    * event aligned to the user's latest view at-or-before it. Times
    * are µs longs on BOTH engines (events.ts is ns parquet; Spark
    * reads µs — comparing on the same truncated values removes the
    * precision boundary from the semantics). Views pre-deduped per
    * (user, tsu) — "latest of several right rows at one instant" is
    * undefined in any engine. Oracle = DuckDB's native ASOF JOIN.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        col("event_id").as("purchase_id"),
        cents(col("value")).as("purchase_cents"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id"))
      .groupBy("user_id", "tsu").agg(max("event_id").as("view_id"))
      .withColumn("view_tsu", col("tsu"))
    graft.operators.AsofJoin.asofBackward(
        purchases.withColumnRenamed("tsu", "ts"),
        views.withColumnRenamed("tsu", "ts"), "user_id", "ts")
      .orderBy("purchase_id")
  }

  /** Temporal (SCD2) dimension join — every fact enriched with the dim
    * VERSION valid at the fact's event time, the canonical warehouse
    * problem (`events_scd2` builds the versioned table; this query
    * CONSUMES one). Dim = per-user signup history (tier from the signup
    * value, deduped per (user, ts) — asof's right-side contract); facts
    * = purchases. The Spark plan is [[graft.operators.AsofJoin
    * .asofBackward]] — ONE hash shuffle + window carry, cost-invariant
    * in versions-per-user; the ORACLE is the naive formulation, an
    * explicit interval join against the lead()-built SCD2 table
    * (valid_from ≤ ts < valid_to). The hash gate therefore proves the
    * asof plan IMPLEMENTS SCD2 validity semantics — including the two
    * boundary cases (a fact AT a version boundary takes the new
    * version; a fact before the first version stays unmatched/null) —
    * while shipping the plan that survives a hot user, which the range
    * join does not.
    */
  def joinDimScd(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val dim = e.filter(col("event_type") === "signup")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"),
        least(greatest(floor(col("value") / lit(100.0)).cast("long"), lit(0L)),
          lit(4L)).as("_tier0"))
      .groupBy("user_id", "ts").agg(min("_tier0").as("tier"))
    val facts = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"),
        col("event_id"), cents(col("value")).as("value_cents"))
    graft.operators.AsofJoin.asofBackward(facts, dim, "user_id", "ts")
      .orderBy("user_id", "ts", "event_id")
  }

  /** Batch face of the STREAMING SCD2 enrichment ([[Streams
    * .scd2EnrichStream]], r13): the same per-key replay kernel the
    * stream runs, applied to the whole input as one arrival — and
    * hash-gated against the SAME interval-join oracle as
    * [[joinDimScd]], so THREE formulations are proven equal: the asof
    * window plan (join_dim_scd), the naive interval join (the oracle),
    * and the stateful replay kernel (this). The streaming face then
    * inherits the gated semantics by sharing the kernel; Round13Spec
    * adds the cross-batch case the batch gate cannot see (a LATE fact
    * arriving after a newer version takes the OLD version from the
    * carried history).
    */
  def streamScd2Enrich(s: SparkSession, dir: String): DataFrame =
    Streams.scd2EnrichBatch(events(s, dir))

  val joinDimScdOracle: String =
    s"""WITH d0 AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts,
       |    least(greatest(CAST(floor(value / 100.0) AS BIGINT), 0), 4) AS tier0
       |  FROM events WHERE event_type = 'signup'),
       |d1 AS (SELECT user_id, ts, CAST(min(tier0) AS BIGINT) AS tier
       |       FROM d0 GROUP BY 1, 2),
       |dim AS (SELECT user_id, ts AS valid_from,
       |          coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
       |            ${Long.MaxValue}) AS valid_to,
       |          tier
       |        FROM d1),
       |f AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts, event_id,
       |        CAST(round(value * 100) AS BIGINT) AS value_cents
       |      FROM events WHERE event_type = 'purchase')
       |SELECT f.user_id, f.ts, f.event_id, f.value_cents, dim.tier
       |FROM f LEFT JOIN dim ON dim.user_id = f.user_id
       |  AND dim.valid_from <= f.ts AND f.ts < dim.valid_to
       |ORDER BY f.user_id, f.ts, f.event_id""".stripMargin

  /** Window form of the backward as-of (r12): the r8-r10 native ASOF
    * JOIN form was correct but OOM'd the driver's memory-starved
    * oracle process in r11 — a union + one streaming last_value window
    * (single sort, no join intermediate) has the minimal peak and is
    * verified row-identical to the ASOF form at sf0.01. Ties: views
    * sort BEFORE purchases at equal ts (kind 0 < 1) ≡ `p.ts >= v.ts`.
    */
  val asofJoinOracle: String =
    """WITH v AS (SELECT user_id, epoch_us(ts) AS ts, max(event_id) AS view_id
      |      FROM events WHERE event_type = 'view' GROUP BY user_id, epoch_us(ts)),
      |p AS (SELECT user_id, epoch_us(ts) AS ts, event_id AS purchase_id,
      |             CAST(round(value * 100) AS BIGINT) AS purchase_cents
      |      FROM events WHERE event_type = 'purchase'),
      |u AS (SELECT user_id, ts, 0 AS kind, view_id, ts AS vts,
      |             NULL::BIGINT AS purchase_id, NULL::BIGINT AS purchase_cents FROM v
      |      UNION ALL
      |      SELECT user_id, ts, 1, NULL, NULL, purchase_id, purchase_cents FROM p),
      |w AS (SELECT user_id, ts, kind, purchase_id, purchase_cents,
      |        last_value(view_id IGNORE NULLS) OVER win AS view_id,
      |        last_value(vts IGNORE NULLS) OVER win AS view_tsu
      |      FROM u
      |      WINDOW win AS (PARTITION BY user_id ORDER BY ts, kind
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT user_id, ts, purchase_id, purchase_cents, view_id, view_tsu
      |FROM w WHERE kind = 1 ORDER BY purchase_id""".stripMargin

  /** As-of with a 6-hour staleness bound: views older than that are
    * nulled out. Oracle: native ASOF JOIN + the same staleness CASE.
    */
  def asofJoinTol(s: SparkSession, dir: String): DataFrame = {
    val tolUs = 6L * 3600 * 1000000
    val e = events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"),
        col("event_id").as("purchase_id"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"), col("event_id"))
      .groupBy("user_id", "ts").agg(max("event_id").as("view_id"))
    graft.operators.AsofJoin.asofBackward(purchases, views, "user_id", "ts",
        tolerance = Some(tolUs))
      .orderBy("purchase_id")
  }

  val asofJoinTolOracle: String =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS ts, event_id AS purchase_id
      |           FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, epoch_us(ts) AS ts, max(event_id) AS view_id
      |      FROM events WHERE event_type = 'view' GROUP BY user_id, epoch_us(ts)),
      |j AS (SELECT p.user_id, p.ts, p.purchase_id, v.view_id, v.ts AS vts
      |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts)
      |SELECT user_id, ts, purchase_id,
      |  CASE WHEN vts IS NULL OR ts - vts > 21600000000 THEN NULL
      |       ELSE view_id END AS view_id
      |FROM j ORDER BY purchase_id""".stripMargin

  /** Forward as-of: each view event aligned to the user's EARLIEST
    * purchase at-or-after it. Oracle: DuckDB native ASOF on negated
    * timestamps (backward over -ts ≡ forward over ts).
    */
  def asofJoinFwd(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"),
        col("event_id").as("view_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"), col("event_id"))
      .groupBy("user_id", "ts").agg(max("event_id").as("purchase_id"))
    graft.operators.AsofJoin.asofForward(views, purchases, "user_id", "ts")
      .orderBy("view_id")
  }

  val asofJoinFwdOracle: String =
    """WITH v AS (SELECT user_id, epoch_us(ts) AS ts, event_id AS view_id
      |           FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, epoch_us(ts) AS ts, max(event_id) AS purchase_id
      |      FROM events WHERE event_type = 'purchase'
      |      GROUP BY user_id, epoch_us(ts)),
      |vn AS (SELECT user_id, -ts AS nts, ts, view_id FROM v),
      |pn AS (SELECT user_id, -ts AS nts, purchase_id FROM p)
      |SELECT vn.user_id, vn.ts, vn.view_id, pn.purchase_id
      |FROM vn ASOF LEFT JOIN pn ON vn.user_id = pn.user_id AND vn.nts >= pn.nts
      |ORDER BY view_id""".stripMargin

  /** Nearest as-of (pandas merge_asof direction='nearest'): each
    * purchase takes the temporally closer of its latest-before /
    * earliest-after view, ties to the past match. Oracle: both DuckDB
    * ASOF directions + the same distance CASE.
    */
  def asofJoinNearest(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"),
        col("event_id").as("purchase_id"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"), col("event_id"))
      .groupBy("user_id", "ts").agg(max("event_id").as("view_id"))
    graft.operators.AsofJoin.asofNearest(purchases, views, "user_id", "ts",
        "purchase_id")
      .orderBy("purchase_id")
  }

  val asofJoinNearestOracle: String =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS ts, event_id AS purchase_id
      |           FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, epoch_us(ts) AS ts, max(event_id) AS view_id
      |      FROM events WHERE event_type = 'view' GROUP BY user_id, epoch_us(ts)),
      |b AS (SELECT p.user_id, p.ts, p.purchase_id, v.view_id AS view_id_b,
      |             v.ts AS bts
      |      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts),
      |pn AS (SELECT user_id, -ts AS nts, purchase_id FROM p),
      |vn AS (SELECT user_id, -ts AS nts, ts AS fts0, view_id FROM v),
      |f AS (SELECT pn.purchase_id, vn.view_id AS view_id_f, vn.fts0 AS fts
      |      FROM pn ASOF LEFT JOIN vn ON pn.user_id = vn.user_id AND pn.nts >= vn.nts),
      |j AS (SELECT b.user_id, b.ts, b.purchase_id, b.view_id_b, b.bts,
      |             f.view_id_f, f.fts
      |      FROM b JOIN f USING (purchase_id))
      |SELECT user_id, ts, purchase_id,
      |  CASE WHEN bts IS NOT NULL AND (fts IS NULL OR (ts - bts) <= (fts - ts))
      |       THEN view_id_b ELSE view_id_f END AS view_id,
      |  CASE WHEN bts IS NOT NULL AND (fts IS NULL OR (ts - bts) <= (fts - ts))
      |       THEN bts ELSE fts END AS matched_ts,
      |  CASE WHEN bts IS NULL AND fts IS NULL THEN NULL
      |       WHEN bts IS NOT NULL AND (fts IS NULL OR (ts - bts) <= (fts - ts))
      |       THEN 'past' ELSE 'future' END AS direction
      |FROM j ORDER BY purchase_id""".stripMargin

  /** The hot-key-safe chunked as-of on the SAME inputs (and the same
    * DuckDB oracle) as `asof_join`: 1-hour time chunks, so one user's
    * history spans many (key, chunk) window partitions instead of one
    * partition's sort.
    */
  def asofJoinChunked(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"),
        col("event_id").as("purchase_id"),
        cents(col("value")).as("purchase_cents"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id"))
      .groupBy("user_id", "tsu").agg(max("event_id").as("view_id"))
      .withColumn("view_tsu", col("tsu"))
      .withColumnRenamed("tsu", "ts")
    graft.operators.AsofJoin.asofBackwardChunked(purchases, views,
        "user_id", "ts", chunkWidth = 3600L * 1000000)
      .orderBy("purchase_id")
  }

  /** Interval-overlap join: nation price bands × per-customer balance
    * windows (±5000 cents). Oracle: the plain overlap theta join.
    */
  def intervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val bands = nation(s, dir).select(col("n_nationkey"),
      (col("n_nationkey") * 88000L - 100000L).as("lo"),
      (col("n_nationkey") * 88000L - 12001L).as("hi"))
    val windows = customer(s, dir).select(col("c_custkey"),
      (cents(col("c_acctbal")) - 5000L).as("lo"),
      (cents(col("c_acctbal")) + 5000L).as("hi"))
    graft.operators.RangeJoin.intervalOverlap(bands, windows,
        "n_nationkey", "lo", "hi", "c_custkey", "lo", "hi", binWidth = 50000L)
      .orderBy("n_nationkey", "c_custkey")
  }

  val intervalOverlapOracle: String =
    """WITH iv AS (SELECT n_nationkey,
      |         CAST(n_nationkey * 88000 - 100000 AS BIGINT) AS lo,
      |         CAST(n_nationkey * 88000 - 12001 AS BIGINT) AS hi
      |       FROM nation),
      |w AS (SELECT c_custkey,
      |        CAST(round(c_acctbal * 100) AS BIGINT) - 5000 AS lo,
      |        CAST(round(c_acctbal * 100) AS BIGINT) + 5000 AS hi
      |      FROM customer)
      |SELECT iv.n_nationkey, w.c_custkey
      |FROM iv JOIN w ON iv.lo <= w.hi AND w.lo <= iv.hi
      |ORDER BY n_nationkey, c_custkey""".stripMargin

  /** Ordered conversion funnel signup → view → purchase: each stage's
    * timestamp is the user's earliest event of that type AT OR AFTER
    * the previous stage (a view before signup does not convert).
    * Three stage-wise conditional min-aggregations chained by
    * user_id equi-joins — every shuffle is on the same key, so the
    * exchange is reused across stages; per-user output frame.
    * Timestamps compare as epoch-µs longs (events.ts is ns parquet —
    * raw timestamp equality across engines is a known trap).
    */
  def eventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsu"))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("tsu").as("signup_us"))
    val s2 = e.filter(col("event_type") === "view")
      .join(s1, "user_id").where(col("tsu") >= col("signup_us"))
      .groupBy("user_id").agg(min("tsu").as("view_us"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id").where(col("tsu") >= col("view_us"))
      .groupBy("user_id").agg(min("tsu").as("purchase_us"))
    s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
      .select(col("user_id"), col("signup_us"), col("view_us"), col("purchase_us"),
        when(col("purchase_us").isNotNull, 3L)
          .when(col("view_us").isNotNull, 2L).otherwise(1L).as("stage"))
      .orderBy("user_id")
  }

  val eventsFunnelOracle: String =
    """WITH s1 AS (SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS signup_us
      |            FROM events WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, CAST(min(epoch_us(e.ts)) AS BIGINT) AS view_us
      |       FROM events e JOIN s1 USING (user_id)
      |       WHERE e.event_type = 'view' AND epoch_us(e.ts) >= s1.signup_us
      |       GROUP BY 1),
      |s3 AS (SELECT e.user_id, CAST(min(epoch_us(e.ts)) AS BIGINT) AS purchase_us
      |       FROM events e JOIN s2 USING (user_id)
      |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= s2.view_us
      |       GROUP BY 1)
      |SELECT s1.user_id, s1.signup_us, s2.view_us, s3.purchase_us,
      |  CAST(CASE WHEN s3.purchase_us IS NOT NULL THEN 3
      |            WHEN s2.view_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS stage
      |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** Per-user rolling 7-day purchase aggregates — the time-series
    * feature op (fraud velocity checks, spend caps, engagement
    * features). A RANGE window frame over event-time micros,
    * partitioned by user: ONE hash shuffle on user_id, per-key
    * in-partition sort, frame bounds resolved by binary search — no
    * self-join, no explode-per-day. Money sums ride exact integer
    * cents, and a RANGE (not ROWS) frame makes same-timestamp ties
    * frame-inclusive — deterministic under any shuffle order. At
    * 100 TB this is the standard shape; a single pathological user
    * would route through [[graft.operators.AsofJoin]]'s chunked
    * variant instead.
    */
  def eventsRolling(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    val e = events(s, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tsu"),
        cents(col("value")).as("cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"))
      .rangeBetween(-(weekUs - 1L), Window.currentRow)
    e.select(col("user_id"), col("event_id"), col("tsu"),
        count(lit(1)).over(w).as("roll_cnt"),
        sum(col("cents")).over(w).as("roll_sum_cents"))
      .orderBy("user_id", "tsu", "event_id")
  }

  /** SCD2 dimension build: each user's event stream becomes validity
    * intervals — the event's value holds from its ts until the next
    * event (open-ended for the latest). ONE key-partitioned window
    * (lead), no self-join: the standard warehouse shape for building a
    * slowly-changing dimension from a change log; the interval frame
    * then feeds the as-of / range-join family. event_id breaks equal-ts
    * ties so the chain is deterministic.
    */
  def eventsScd2(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("valid_from"),
        cents(col("value")).as("value_cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("valid_from"), col("event_id"))
    e.select(col("user_id"), col("event_id"), col("value_cents"), col("valid_from"),
        coalesce(lead(col("valid_from"), 1).over(w), lit(Long.MaxValue)).as("valid_to"),
        (row_number().over(w) === count(lit(1)).over(
          Window.partitionBy(col("user_id")))).as("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  val eventsScd2Oracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS valid_from,
       |         CAST(round(value * 100) AS BIGINT) AS value_cents
       |  FROM events WHERE event_type = 'purchase')
       |SELECT user_id, event_id, value_cents, valid_from,
       |  coalesce(lead(valid_from, 1) OVER w, ${Long.MaxValue}) AS valid_to,
       |  (row_number() OVER w = count(*) OVER (PARTITION BY user_id)) AS is_current
       |FROM e
       |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
       |ORDER BY user_id, valid_from, event_id""".stripMargin

  /** Multi-dimensional CUBE aggregate — the 2^d-margin sibling of
    * `q4_rollup` (which covers only the hierarchical prefixes): per
    * (event_type, day) cell AND every margin (per type, per day, grand
    * total) in ONE pass, `grouping_id` disambiguating real NULLs from
    * margin NULLs. Spark plans this as a single Expand (each input row
    * replicated once per grouping set) + one aggregation — one scan,
    * one shuffle for all 2² sets, vs the naive four-query union a
    * dashboard would otherwise run over 100 TB four times. Ordering
    * pins NULLS FIRST explicitly (Spark's ASC default) so the oracle's
    * DuckDB sort (NULLS LAST default) agrees.
    */
  def eventsCube(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        cents(col("value")).as("_vc"))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_events"),
        centsToDouble(sum("_vc")).as("sum_value"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), col("event_type").asc_nulls_first,
        col("day").asc_nulls_first)

  val eventsCubeOracle: String =
    """WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(round(value * 100) AS BIGINT) AS vc FROM events)
      |SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(vc) AS DOUBLE) / 100.0 AS sum_value,
      |       CAST(GROUPING(event_type, day) AS BIGINT) AS gid
      |FROM e GROUP BY CUBE (event_type, day)
      |ORDER BY gid, event_type NULLS FIRST, day NULLS FIRST""".stripMargin

  /** Semi-structured schema-on-read: the events `props` JSON column
    * parsed with an EXPLICIT schema (`from_json` — codegen'd, no
    * sampling pass, the only schema-on-read shape that scales: schema
    * inference over 100 TB of JSON is itself a full scan) and
    * aggregated. Malformed documents surface as NULLs (PERMISSIVE),
    * counted explicitly so corruption is visible, never silently
    * dropped.
    */
  def eventsJson(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("k",
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_unparsed"),
        sum(coalesce(col("k"), lit(0L))).as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  val eventsJsonOracle: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN json_extract(props, '$.k') IS NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_unparsed,
      |  CAST(sum(coalesce(CAST(json_extract(props, '$.k') AS BIGINT), 0))
      |    AS BIGINT) AS sum_k,
      |  CAST(min(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
      |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  val eventsRollingOracle: String =
    """WITH e AS (SELECT event_id, user_id, CAST(epoch_us(ts) AS BIGINT) AS tsu,
      |             CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events WHERE event_type = 'purchase')
      |SELECT user_id, event_id, tsu,
      |  CAST(count(*) OVER w AS BIGINT) AS roll_cnt,
      |  CAST(sum(cents) OVER w AS BIGINT) AS roll_sum_cents
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY tsu
      |             RANGE BETWEEN 604799999999 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, tsu, event_id""".stripMargin

  /** Daily event-volume anomaly detection — the observability face of
    * the events family: per (event_type, day) counts z-scored against
    * the TRAILING 28-day window (current day excluded — yesterday's
    * spike must not normalize today's). Daily counts are one map-side-
    * combining aggregation; the window runs on the types×days-bounded
    * count frame, never the raw events.
    *
    * Determinism: with s = Σc, s2 = Σc² over the n trailing days (all
    * exact longs via window sums), z = (x−μ)/σ rewrites to
    * (x·n − s) / sqrt(n·s2 − s²) — an exact-long numerator divided by
    * the correctly-rounded IEEE sqrt of an exact long: two rounded
    * ops total, bit-identical in any engine, then floor-scaled to 1e6.
    */
  def eventsAnomaly(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400L * 1000000L
    val counts = events(s, dir)
      .select(col("event_type"), expr(s"unix_micros(ts) div ${dayUs}L").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-28, -1)
    counts
      .select(col("event_type"), col("day"), col("c"),
        count(lit(1)).over(w).as("n"),
        sum(col("c")).over(w).as("s"),
        sum(col("c") * col("c")).over(w).as("s2"))
      .filter(col("n") >= 14)
      .select(col("event_type"), col("day"), col("c"), col("n"),
        when(col("s2") * col("n") - col("s") * col("s") > 0,
          floor((col("c") * col("n") - col("s")).cast("double")
            / sqrt((col("s2") * col("n") - col("s") * col("s")).cast("double"))
            * lit(1.0e6)).cast("long"))
          .as("z_scaled"))
      .withColumn("anomaly", abs(col("z_scaled")) > lit(3000000L))
      .orderBy("event_type", "day")
  }

  val eventsAnomalyOracle: String =
    """WITH c AS (SELECT event_type,
      |             CAST(epoch_us(ts) AS BIGINT) // 86400000000 AS day,
      |             CAST(count(*) AS BIGINT) AS c
      |           FROM events GROUP BY 1, 2),
      |t AS (SELECT event_type, day, c,
      |        CAST(count(*) OVER w AS BIGINT) AS n,
      |        CAST(sum(c) OVER w AS BIGINT) AS s,
      |        CAST(sum(c * c) OVER w AS BIGINT) AS s2
      |      FROM c
      |      WINDOW w AS (PARTITION BY event_type ORDER BY day
      |                   ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, day, c, n,
      |  CASE WHEN s2 * n - s * s > 0 THEN
      |    CAST(floor(CAST(c * n - s AS DOUBLE)
      |               / sqrt(CAST(s2 * n - s * s AS DOUBLE)) * 1e6) AS BIGINT)
      |  END AS z_scaled,
      |  abs(CASE WHEN s2 * n - s * s > 0 THEN
      |    CAST(floor(CAST(c * n - s AS DOUBLE)
      |               / sqrt(CAST(s2 * n - s * s AS DOUBLE)) * 1e6) AS BIGINT)
      |  END) > 3000000 AS anomaly
      |FROM t
      |WHERE n >= 14
      |ORDER BY event_type, day""".stripMargin

  /** Weekly cohort retention — the product-analytics staple: users
    * grouped by first-seen week, activity counted per (cohort week,
    * week offset). Two map-side-combining aggregations (per-user min,
    * then distinct user-weeks) and one broadcast-size join on the
    * cohort frame; the output is weeks²-bounded at any event volume.
    * Rates are exact integer milli-units.
    */
  def eventsRetention(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 86400L * 1000000L
    // integer `div`: epoch-micros magnitudes (~1.7e18) exceed 2^53, a
    // double `/` would round before the floor
    val e = events(s, dir)
      .select(col("user_id"), expr(s"unix_micros(ts) div ${weekUs}L").as("wk"))
    val cohort = e.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
    val active = e.distinct()
    val sizes = cohort.groupBy("cohort_wk").agg(count(lit(1)).as("cohort_size"))
    active.join(cohort, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_wk")
      .select(col("cohort_wk"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        expr("n_active * 1000 div cohort_size").as("retention_milli"))
      .orderBy("cohort_wk", "week_offset")
  }

  val eventsRetentionOracle: String =
    """WITH e AS (SELECT user_id,
      |             CAST(epoch_us(ts) AS BIGINT) // 604800000000 AS wk
      |           FROM events),
      |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
      |active AS (SELECT DISTINCT user_id, wk FROM e),
      |sizes AS (SELECT cohort_wk, CAST(count(*) AS BIGINT) AS cohort_size
      |          FROM cohort GROUP BY 1),
      |ret AS (SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset,
      |          CAST(count(*) AS BIGINT) AS n_active
      |        FROM active a JOIN cohort c USING (user_id)
      |        GROUP BY 1, 2)
      |SELECT r.cohort_wk, r.week_offset, r.n_active, s.cohort_size,
      |  r.n_active * 1000 // s.cohort_size AS retention_milli
      |FROM ret r JOIN sizes s USING (cohort_wk)
      |ORDER BY cohort_wk, week_offset""".stripMargin

  /** Batch gap-based sessionization (30-min inactivity boundary) — the
    * canonical event-log prep step (web analytics, engagement features,
    * the offline twin of [[stream_sessionize]]'s session windows).
    *
    * Classic two-window shape, both over the SAME (user, ts, event_id)
    * ordering: lag() marks session starts, a running sum numbers them —
    * Catalyst plans ONE hash shuffle on user_id plus one in-partition
    * sort for both windows and the final groupBy. Per-user history is
    * one partition's sort, the right contract at 100 TB (a pathological
    * single user is the as-of-chunk case, documented there). Timestamps
    * ride epoch-µs longs, money rides exact cents; the event_id
    * tie-break makes equal-ts ordering engine-independent.
    */
  def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000000
    val e = events(s, dir).select(
      col("user_id"), unix_micros(col("ts")).as("tsu"), col("event_id"),
      cents(col("value")).as("val_c"))
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val flagged = e.withColumn("is_new",
      when(lag("tsu", 1).over(w).isNull ||
        col("tsu") - lag("tsu", 1).over(w) > gapUs, 1L).otherwise(0L))
    flagged
      .withColumn("session_idx",
        sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(min("tsu").as("session_start_us"), max("tsu").as("session_end_us"),
        count(lit(1)).as("n_events"),
        (max("tsu") - min("tsu")).as("duration_us"),
        centsToDouble(sum("val_c")).as("total_value"))
      .orderBy("user_id", "session_idx")
  }

  val eventsSessionizeOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
      |                  CAST(round(value * 100) AS BIGINT) AS val_c FROM events),
      |x AS (SELECT *, CASE WHEN lag(tsu) OVER w IS NULL
      |                       OR tsu - lag(tsu) OVER w > 1800000000
      |                     THEN 1 ELSE 0 END AS is_new
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
      |sess AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
      |                   ORDER BY tsu, event_id ROWS UNBOUNDED PRECEDING) AS session_idx
      |         FROM x)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  min(tsu) AS session_start_us, max(tsu) AS session_end_us,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  max(tsu) - min(tsu) AS duration_us,
      |  CAST(sum(val_c) AS DOUBLE) / 100.0 AS total_value
      |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin

  /** Last-touch marketing attribution: each purchase is credited to the
    * user's most recent click within 3 days; older or missing touches
    * land in the NULL (unattributed) bucket. The attribution join IS
    * [[graft.operators.AsofJoin.asofBackward]] with a staleness
    * tolerance — one keyed shuffle, never a per-purchase scan of click
    * history — followed by a channels-bounded aggregate. "Channel" is
    * derived from the click's JSON props (k mod 5), exercising
    * schema-on-read inside the attribution path the way a real event
    * log would.
    */
  def eventsAttribution(s: SparkSession, dir: String): DataFrame = {
    val tolUs = 3L * 24 * 3600 * 1000000
    val e = events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"),
        col("event_id").as("purchase_id"), cents(col("value")).as("val_c"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("ts"),
        struct(col("event_id"),
          (get_json_object(col("props"), "$.k").cast("long") % 5).as("ch")).as("c"))
      // unique right row per (user, ts): latest event_id wins (struct
      // max orders by event_id first — ids are unique)
      .groupBy("user_id", "ts").agg(max("c").as("c"))
      .select(col("user_id"), col("ts"), col("c.ch").as("channel"))
    graft.operators.AsofJoin.asofBackward(purchases, clicks, "user_id", "ts",
        tolerance = Some(tolUs))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"),
        centsToDouble(sum("val_c")).as("revenue"))
      .orderBy(col("channel").asc_nulls_first)
  }

  val eventsAttributionOracle: String =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS ts, event_id AS purchase_id,
      |                  CAST(round(value * 100) AS BIGINT) AS val_c
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, epoch_us(ts) AS ts,
      |             max(struct_pack(event_id := event_id,
      |                             ch := CAST(json_extract_string(props, '$.k') AS BIGINT) % 5)) AS c
      |      FROM events WHERE event_type = 'click'
      |      GROUP BY user_id, epoch_us(ts)),
      |cc AS (SELECT user_id, ts, struct_extract(c, 'ch') AS channel FROM c),
      |j AS (SELECT p.val_c,
      |             CASE WHEN cc.ts IS NULL OR p.ts - cc.ts > 259200000000
      |                  THEN NULL ELSE cc.channel END AS channel
      |      FROM p ASOF LEFT JOIN cc ON p.user_id = cc.user_id AND p.ts >= cc.ts)
      |SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
      |       CAST(sum(val_c) AS DOUBLE) / 100.0 AS revenue
      |FROM j GROUP BY channel ORDER BY channel ASC NULLS FIRST""".stripMargin

  /** Frequent 2-itemset mining (the support-counting core of
    * Apriori/FP-growth, market-basket form): parts co-occurring in the
    * same order. Per-basket pair explode → ONE groupBy(pair) count —
    * identical dataflow to the co-occurrence graphs (GraphQueries) and
    * token blocking, which is the point: support counting at 100 TB is
    * a bounded-fanout self-join, not a combinatorial search. The
    * basket-size cap (≤ 20 items) is the documented guard every
    * production miner applies — an unbounded hot basket contributes
    * O(k²) pairs, and capping at the 99.9th-percentile basket size
    * bounds the fanout without touching support counts of real pairs
    * (TPC-H orders have ≤ 7 lines; the cap is load-bearing on real
    * retail data). Top-100 by (support, pair) total order keeps the
    * audit output bounded at any scale.
    */
  def mineItemsets(s: SparkSession, dir: String): DataFrame = {
    // r13: ONE oid-keyed exchange feeds the dedup, the basket-size agg,
    // and BOTH sides of the pair self-join (guide §2.4): repartition on
    // the join key, then every oid-clustered consumer reuses the
    // exchange (HashPartitioning(oid) satisfies each clustering) —
    // where distinct() planned its own (oid, item) shuffle and the
    // self-join re-shuffled the basket twice more.
    val items = lineitem(s, dir)
      .select(col("l_orderkey").as("oid"), col("l_partkey").as("item"))
      .repartition(col("oid"))
      .dropDuplicates("oid", "item")
    val small = items.groupBy("oid").agg(count(lit(1)).as("k"))
      .filter(col("k") <= 20).select("oid")
    val basket = items.join(small, "oid")
    basket.as("x").join(basket.as("y"),
        col("x.oid") === col("y.oid") && col("x.item") < col("y.item"))
      .groupBy(col("x.item").as("item1"), col("y.item").as("item2"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .orderBy(col("support").desc, col("item1"), col("item2"))
      .limit(100)
  }

  val mineItemsetsOracle: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item
      |               FROM lineitem),
      |small AS (SELECT oid FROM items GROUP BY oid HAVING count(*) <= 20),
      |basket AS (SELECT i.oid, i.item FROM items i JOIN small USING (oid)),
      |pairs AS (
      |  SELECT x.item AS item1, y.item AS item2,
      |         CAST(count(*) AS BIGINT) AS support
      |  FROM basket x JOIN basket y
      |    ON y.oid = x.oid AND x.item < y.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT * FROM pairs
      |ORDER BY support DESC, item1, item2 LIMIT 100""".stripMargin

  /** Association rules over the [[mineItemsets]] support core:
    * confidence(a→b) = sup(a,b)/sup(a) and lift = conf·N/sup(b), both
    * in exact integer milli (floor-divided products of counts — no
    * float ratios, no engine drift). Item supports and the basket
    * count re-aggregate the SAME distinct-items frame the pair counts
    * use (one persisted scan feeds all three); each directed rule is
    * one broadcast-joined lookup against the items-bounded support
    * frame. Top-50 by (lift, conf, rule) total order.
    */
  def mineAssocRules(s: SparkSession, dir: String): DataFrame = {
    // r13: same one-oid-exchange shape as [[mineItemsets]] — the persist
    // then caches an already-co-partitioned frame, so the support agg,
    // the basket join and both self-join sides all read it in place.
    val items = lineitem(s, dir)
      .select(col("l_orderkey").as("oid"), col("l_partkey").as("item"))
      .repartition(col("oid"))
      .dropDuplicates("oid", "item")
      .persist()
    try {
      val small = items.groupBy("oid").agg(count(lit(1)).as("k"))
        .filter(col("k") <= 20).select("oid")
      val basket = items.join(small, "oid")
      val nBaskets = small.agg(count(lit(1)).as("n_baskets"))
      val sup = basket.groupBy("item").agg(count(lit(1)).as("sup"))
      val pairs = basket.as("x").join(basket.as("y"),
          col("x.oid") === col("y.oid") && col("x.item") =!= col("y.item"))
        .groupBy(col("x.item").as("ante"), col("y.item").as("cons"))
        .agg(count(lit(1)).as("sup_ab"))
        .filter(col("sup_ab") >= 2)
      val out = pairs
        .join(sup.select(col("item").as("ante"), col("sup").as("sup_a")), "ante")
        .join(sup.select(col("item").as("cons"), col("sup").as("sup_b")), "cons")
        .crossJoin(broadcast(nBaskets)) // 1-row stats frame
        .select(col("ante"), col("cons"), col("sup_ab"),
          expr("sup_ab * 1000 div sup_a").as("conf_milli"),
          // numerator and denominator both through 128-bit integers:
          // at n_baskets ~1e11 the Long products overflow silently in
          // non-ANSI Spark (r8 advice) — decimal(38,0) here, HUGEINT in
          // the oracle; the milli quotient itself always fits a Long
          expr("CAST(CAST(sup_ab AS DECIMAL(38,0)) * n_baskets * 1000 div " +
            "(CAST(sup_a AS DECIMAL(38,0)) * sup_b) AS BIGINT)").as("lift_milli"))
        .orderBy(col("lift_milli").desc, col("conf_milli").desc,
          col("ante"), col("cons"))
        .limit(50)
        .localCheckpoint(true) // eager: items persist released below
      out
    } finally items.unpersist(false)
  }

  val mineAssocRulesOracle: String =
    """WITH items AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item
      |               FROM lineitem),
      |small AS (SELECT oid FROM items GROUP BY oid HAVING count(*) <= 20),
      |basket AS (SELECT i.oid, i.item FROM items i JOIN small USING (oid)),
      |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_baskets FROM small),
      |sup AS (SELECT item, CAST(count(*) AS BIGINT) AS sup FROM basket GROUP BY 1),
      |pairs AS (
      |  SELECT x.item AS ante, y.item AS cons, CAST(count(*) AS BIGINT) AS sup_ab
      |  FROM basket x JOIN basket y ON y.oid = x.oid AND x.item <> y.item
      |  GROUP BY 1, 2 HAVING count(*) >= 2)
      |SELECT ante, cons, sup_ab,
      |  sup_ab * 1000 // a.sup AS conf_milli,
      |  CAST(CAST(sup_ab AS HUGEINT) * n_baskets * 1000
      |       // (CAST(a.sup AS HUGEINT) * b.sup) AS BIGINT) AS lift_milli
      |FROM pairs
      |JOIN sup a ON a.item = ante
      |JOIN sup b ON b.item = cons
      |CROSS JOIN nb
      |ORDER BY lift_milli DESC, conf_milli DESC, ante, cons LIMIT 50""".stripMargin

  /** First-order Markov transition matrix over per-user event
    * sequences — the behavioral-model fit (next-event prediction,
    * anomaly scoring) every event pipeline runs. ONE user-keyed window
    * (lead) + a (from, to)-bounded groupBy; probabilities in exact
    * integer milli (count·1000 div row-total) so the matrix is
    * bit-identical across engines and shuffle orders. Output is
    * |event_types|²-bounded regardless of data size.
    */
  def eventsMarkov(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = events(s, dir).select(col("user_id"),
      unix_micros(col("ts")).as("tsu"), col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val trans = e.withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = trans.groupBy("from_type").agg(sum("n").as("row_total"))
    trans.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("n * 1000 div row_total").as("p_milli"))
      .orderBy("from_type", "to_type")
  }

  val eventsMarkovOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type
      |           FROM events),
      |x AS (SELECT event_type AS from_type,
      |             lead(event_type) OVER (PARTITION BY user_id
      |               ORDER BY tsu, event_id) AS to_type
      |      FROM e),
      |t AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |      FROM x WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
      |        FROM t GROUP BY 1)
      |SELECT from_type, to_type, n, n * 1000 // row_total AS p_milli
      |FROM t JOIN tot USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** Daily activity pivot (long → wide), the pandas `pivot_table`
    * idiom: one row per day, one count column per event type. The
    * pivot values are EXPLICIT — Spark's two-pass value discovery is
    * itself a full scan, and an unbounded pivot column is a schema
    * explosion at 100 TB; a declared domain keeps it one groupBy with
    * map-side combine, days-bounded output. Missing cells coalesce to
    * 0 exactly like the oracle's conditional sums.
    */
  def eventsPivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val e = events(s, dir)
      .select(to_date(col("ts")).as("day"), col("event_type"))
    val wide = e.groupBy("day")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    wide.select(col("day") +: types.map(t =>
        coalesce(col(s"`$t`"), lit(0L)).as(s"n_$t")): _*)
      .orderBy("day")
  }

  val eventsPivotOracle: String =
    """SELECT CAST(ts AS DATE) AS day,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Wide → long melt (`Dataset.unpivot`, the pandas `melt` idiom),
    * demonstrated as the exact inverse of [[eventsPivot]]: the wide
    * daily matrix unpivots back to (day, event_type, n) rows. unpivot
    * is a zero-shuffle projection (each input row fans out to its
    * value columns in place) — the cheap direction of the pivot pair;
    * the oracle reproduces it from the long frame directly, proving
    * the roundtrip loses nothing.
    */
  def eventsUnpivot(s: SparkSession, dir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    eventsPivot(s, dir)
      .unpivot(Array(col("day")), types.map(t => col(s"n_$t")).toArray,
        "event_type", "n")
      .withColumn("event_type", expr("substring(event_type, 3)"))
      .filter(col("n") > 0)
      .orderBy("day", "event_type")
  }

  val eventsUnpivotOracle: String =
    """SELECT CAST(ts AS DATE) AS day, event_type,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** RFM customer segmentation (recency / frequency / monetary) — the
    * standard behavioral-scoring rollup. Per-user aggregates from ONE
    * purchase scan; each dimension scored 1–3 against exact-tertile
    * cutoffs computed by [[graft.profiling.Profiler.quantilesDisc]]
    * (distributed selection — no single-task percentile buffer, no
    * global ntile window), broadcast back as a 1-row frame; final
    * segment rollup is 27-bounded. Cutoff comparisons are pure integer
    * (epoch-µs, counts, cents) and the rank law is the engine/oracle-
    * shared ceil(q·n/1000) — bit-identical segmentation at any scale.
    */
  def eventsRfm(s: SparkSession, dir: String): DataFrame = {
    import graft.profiling.Profiler
    val users = events(s, dir).filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("tsu"),
        cents(col("value")).as("val_c"))
      .groupBy("user_id")
      .agg(max("tsu").as("recency_us"), count(lit(1)).as("frequency"),
        sum("val_c").as("monetary_c"))
      .persist()
    def cuts(c: String) = Profiler.quantilesDisc(users, c, col(c), Seq(333, 667))
      .agg(max(when(col("q_milli") === 333, col("value"))).as(s"${c}_t1"),
        max(when(col("q_milli") === 667, col("value"))).as(s"${c}_t2"))
    def score(c: String) =
      (lit(1L) + (col(c) > col(s"${c}_t1")).cast("long") +
        (col(c) > col(s"${c}_t2")).cast("long")).as(s"${c.take(1)}_score")
    val out = users
      .crossJoin(broadcast(cuts("recency_us")))
      .crossJoin(broadcast(cuts("frequency")))
      .crossJoin(broadcast(cuts("monetary_c")))
      .select(col("user_id"), col("monetary_c"),
        score("recency_us"), score("frequency"), score("monetary_c"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        centsToDouble(sum("monetary_c")).as("revenue"))
      .orderBy("r_score", "f_score", "m_score")
      .localCheckpoint(true) // eager: users persist released below
    users.unpersist(false)
    out
  }

  val eventsRfmOracle: String =
    """WITH u AS (
      |  SELECT user_id, CAST(max(epoch_us(ts)) AS BIGINT) AS recency_us,
      |         CAST(count(*) AS BIGINT) AS frequency,
      |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS monetary_c
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS c FROM u),
      |cr AS (SELECT
      |  (SELECT recency_us FROM (SELECT recency_us, row_number() OVER (ORDER BY recency_us) AS rk FROM u) x, n
      |   WHERE rk = greatest((333 * n.c + 999) // 1000, 1)) AS r_t1,
      |  (SELECT recency_us FROM (SELECT recency_us, row_number() OVER (ORDER BY recency_us) AS rk FROM u) x, n
      |   WHERE rk = greatest((667 * n.c + 999) // 1000, 1)) AS r_t2,
      |  (SELECT frequency FROM (SELECT frequency, row_number() OVER (ORDER BY frequency) AS rk FROM u) x, n
      |   WHERE rk = greatest((333 * n.c + 999) // 1000, 1)) AS f_t1,
      |  (SELECT frequency FROM (SELECT frequency, row_number() OVER (ORDER BY frequency) AS rk FROM u) x, n
      |   WHERE rk = greatest((667 * n.c + 999) // 1000, 1)) AS f_t2,
      |  (SELECT monetary_c FROM (SELECT monetary_c, row_number() OVER (ORDER BY monetary_c) AS rk FROM u) x, n
      |   WHERE rk = greatest((333 * n.c + 999) // 1000, 1)) AS m_t1,
      |  (SELECT monetary_c FROM (SELECT monetary_c, row_number() OVER (ORDER BY monetary_c) AS rk FROM u) x, n
      |   WHERE rk = greatest((667 * n.c + 999) // 1000, 1)) AS m_t2),
      |scored AS (
      |  SELECT monetary_c,
      |    1 + CAST(recency_us > r_t1 AS BIGINT) + CAST(recency_us > r_t2 AS BIGINT) AS r_score,
      |    1 + CAST(frequency > f_t1 AS BIGINT) + CAST(frequency > f_t2 AS BIGINT) AS f_score,
      |    1 + CAST(monetary_c > m_t1 AS BIGINT) + CAST(monetary_c > m_t2 AS BIGINT) AS m_score
      |  FROM u, cr)
      |SELECT r_score, f_score, m_score, CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(monetary_c) AS DOUBLE) / 100.0 AS revenue
      |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("events_rfm", eventsRfm, Some(eventsRfmOracle)),
    QueryDef("events_pivot", eventsPivot, Some(eventsPivotOracle)),
    QueryDef("events_unpivot", eventsUnpivot, Some(eventsUnpivotOracle)),
    QueryDef("mine_itemsets", mineItemsets, Some(mineItemsetsOracle)),
    QueryDef("mine_assoc_rules", mineAssocRules, Some(mineAssocRulesOracle)),
    QueryDef("events_markov", eventsMarkov, Some(eventsMarkovOracle)),
    QueryDef("events_sessionize", eventsSessionize, Some(eventsSessionizeOracle)),
    QueryDef("events_attribution", eventsAttribution, Some(eventsAttributionOracle)),
    QueryDef("events_rolling", eventsRolling, Some(eventsRollingOracle)),
    QueryDef("events_scd2", eventsScd2, Some(eventsScd2Oracle)),
    QueryDef("events_json", eventsJson, Some(eventsJsonOracle)),
    QueryDef("events_cube", eventsCube, Some(eventsCubeOracle)),
    QueryDef("events_anomaly", eventsAnomaly, Some(eventsAnomalyOracle)),
    QueryDef("events_retention", eventsRetention, Some(eventsRetentionOracle)),
    QueryDef("events_funnel", eventsFunnel, Some(eventsFunnelOracle)),
    QueryDef("asof_join_tol", asofJoinTol, Some(asofJoinTolOracle)),
    QueryDef("asof_join_fwd", asofJoinFwd, Some(asofJoinFwdOracle)),
    QueryDef("asof_join_nearest", asofJoinNearest, Some(asofJoinNearestOracle)),
    QueryDef("asof_join_chunked", asofJoinChunked, Some(asofJoinOracle)),
    QueryDef("interval_overlap", intervalOverlap, Some(intervalOverlapOracle)),
    QueryDef("asof_join", asofJoin, Some(asofJoinOracle)),
    QueryDef("join_dim_scd", joinDimScd, Some(joinDimScdOracle)),
    // the reuse IS the point: the kernel must satisfy the same
    // interval law as the asof plan (see streamScd2Enrich doc)
    QueryDef("stream_scd2_enrich", streamScd2Enrich, Some(joinDimScdOracle)),
    QueryDef("pipeline_e2e", pipelineE2e, Some(pipelineE2eOracle)),
    QueryDef("pipeline_data_e2e", pipelineDataE2e, Some(pipelineDataE2eOracle)),
    QueryDef("match_ml", matchMl, None),
    QueryDef("match_ml_score", matchMlScore, Some(matchMlScoreOracle)),
    QueryDef("match_text_format", matchTextFormat, Some(matchTextFormatOracle)),
    QueryDef("mm_binary_meta", mmBinaryMeta, Some(mmBinaryMetaOracle)),
    QueryDef("mm_frame_sample", mmFrameSample, Some(mmFrameSampleOracle)),
    QueryDef("mm_phash_neardup", mmPhashNeardup, Some(mmPhashNeardupOracle)),
    QueryDef("stream_window_agg", streamWindowAgg, Some(streamWindowAggOracle)),
    QueryDef("stream_sliding_window", streamSlidingWindow, Some(streamSlidingWindowOracle)),
    QueryDef("stream_sessionize", streamSessionize, Some(streamSessionizeOracle)),
    QueryDef("stream_dedup", streamDedup, Some(streamDedupOracle)),
    QueryDef("stream_upsert", streamUpsert, Some(streamUpsertOracle)),
    QueryDef("stream_contamination", streamContamination, Some(streamContaminationOracle)),
    // admission control runs the MinHash banding pipeline on both sides
    QueryDef("stream_neardup", streamNearDup, Some(streamNearDupOracle), pipelines = 2),
    QueryDef("stream_asof", streamAsof, Some(streamAsofOracle)),
    QueryDef("stream_asof_buffered", streamAsofBuffered, Some(streamAsofOracle)),
    // reads the events source as both sides of one stream-stream join
    QueryDef("stream_interval_join", streamIntervalJoin,
      Some(streamIntervalJoinOracle), pipelines = 2),
    QueryDef("stream_neardup_bucketed", streamNearDupBucketed, Some(streamNearDupOracle)),
    QueryDef("sample_hash_consistent", sampleHashConsistent, Some(sampleHashConsistentOracle)),
    QueryDef("sample_stratified", sampleStratified, Some(sampleStratifiedOracle)),
    QueryDef("join_skew_salted", joinSkewSalted, Some(joinSkewSaltedOracle)),
    QueryDef("agg_skew_distinct", aggSkewDistinct, Some(aggSkewDistinctOracle)),
    QueryDef("stream_enrich", streamEnrich, Some(streamEnrichOracle)),
    QueryDef("stream_hll", streamHll, Some(streamHllOracle)),
    QueryDef("stream_cms", streamCms, Some(streamCmsOracle)),
    // sketch estimate plus the exact face
    QueryDef("stream_quantile", streamQuantile, Some(streamQuantileOracle), pipelines = 2),
    QueryDef("stream_session_window", streamSessionWindow, Some(streamSessionWindowOracle)),
    QueryDef("stream_drift_audit", streamDriftAudit, Some(streamDriftAuditOracle)),
    QueryDef("stream_drift_trailing", streamDriftTrailing, Some(streamDriftTrailingOracle))
  )
}
