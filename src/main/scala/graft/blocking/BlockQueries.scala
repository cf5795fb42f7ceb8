package graft.blocking

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._

/** Deterministic two-source entity-matching scenario shared by the
  * blocking / matching / clustering / fusion queries and their DuckDB
  * oracles. Left = customers; Right = a perturbed copy (name suffixed,
  * every custkey ≡ 3 (mod 10) dropped, ids offset) so true matches are
  * exactly (k, k + 10_000_000) for surviving k.
  */
object EmScenario {
  val ROffset = 10000000L

  /** Both record sides go through [[graft.Tables.spread]]: the EM
    * family's expensive stage is the comparator projection over the
    * blocked pair frame, and that frame is born in the SAME stage as
    * whichever side the planner probes (the other side broadcasts) —
    * over a single-row-group scan that stage is ONE task, so every
    * Jaro-Winkler over 1.3M candidate pairs ran on one core (r13
    * measurement; guide §2.5 input-skew repair, no-op on real layouts).
    *
    * r14: consumers that do NO comparator work over blocked pairs
    * (pure blockers, record unions feeding dim joins, column
    * profiling) use the [[custLPlain]]/[[custRPlain]] variants instead
    * — the r13 driver bench showed each cheap consumption re-pays the
    * round-robin exchange it cannot amortize (block_token 0.72→1.92 s,
    * profile_compare 0.99→3.10 s; guide §2.1).
    */
  def custL(s: SparkSession, dir: String): DataFrame =
    projL(spread(customer(s, dir)))

  def custR(s: SparkSession, dir: String): DataFrame =
    projR(spread(customer(s, dir)))

  /** Un-spread variants for consumers whose per-row work is light. */
  def custLPlain(s: SparkSession, dir: String): DataFrame =
    projL(customer(s, dir))

  def custRPlain(s: SparkSession, dir: String): DataFrame =
    projR(customer(s, dir))

  private def projL(c: DataFrame): DataFrame =
    c.select(
      col("c_custkey").as("id"),
      lower(col("c_name")).as("name"),
      col("c_mktsegment").as("seg"),
      col("c_nationkey").as("nat"),
      col("c_acctbal").as("bal"))

  private def projR(c: DataFrame): DataFrame =
    c.filter(col("c_custkey") % 10 =!= 3)
      .select(
        (col("c_custkey") + ROffset).as("id"),
        concat(lower(col("c_name")), lit(" r")).as("name"),
        col("c_mktsegment").as("seg"),
        col("c_nationkey").as("nat"),
        round(col("c_acctbal") * 1.01, 2).as("bal"))

  def gold(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .filter(col("c_custkey") % 10 =!= 3)
      .select(col("c_custkey").as("id1"), (col("c_custkey") + ROffset).as("id2"))

  /** DuckDB CTE body (no WITH keyword) defining the same l / r / gold
    * tables — composable into WITH / WITH RECURSIVE preludes.
    */
  val oracleWithBody: String =
    """l AS (
      |  SELECT c_custkey AS id, lower(c_name) AS name, c_mktsegment AS seg,
      |         c_nationkey AS nat, c_acctbal AS bal FROM customer),
      |r AS (
      |  SELECT c_custkey + 10000000 AS id, lower(c_name) || ' r' AS name,
      |         c_mktsegment AS seg, c_nationkey AS nat,
      |         round(c_acctbal * 1.01, 2) AS bal
      |  FROM customer WHERE c_custkey % 10 <> 3),
      |gold AS (
      |  SELECT c_custkey AS id1, c_custkey + 10000000 AS id2
      |  FROM customer WHERE c_custkey % 10 <> 3)""".stripMargin

  /** Standalone WITH prelude (most oracles start from this). */
  val oracleWith: String = "WITH " + oracleWithBody
}

/** Blocking-family queries + DuckDB oracles (SURVEY §2.7). */
object BlockQueries {
  import EmScenario._

  /** StandardBlocker on the composite key (mktsegment, nationkey). */
  def blockStandard(s: SparkSession, dir: String): DataFrame =
    Blockers.standard(custLPlain(s, dir), custRPlain(s, dir), Seq("seg", "nat"), "id")
      .orderBy("id1", "id2")

  val blockStandardOracle: String =
    s"""$oracleWith
       |SELECT l.id AS id1, r.id AS id2
       |FROM l JOIN r ON l.seg = r.seg AND l.nat = r.nat
       |ORDER BY id1, id2""".stripMargin

  /** TokenBlocker on name with high-DF pruning: the token "customer"
    * appears in every record (a quadratic block) and is pruned by the
    * pair cap; the zero-padded digit tokens are unique per record.
    */
  def blockToken(s: SparkSession, dir: String): DataFrame =
    Blockers.token(custLPlain(s, dir), custRPlain(s, dir), "name", "id",
        minTokenLen = 2, maxPairsPerToken = Some(10000L))
      .orderBy("id1", "id2")

  val blockTokenOracle: String =
    s"""$oracleWith,
       |ltok AS (SELECT DISTINCT id, tok FROM (
       |  SELECT id, unnest(string_split_regex(name, '[^a-z0-9]+')) AS tok FROM l)
       |  WHERE len(tok) >= 2),
       |rtok AS (SELECT DISTINCT id, tok FROM (
       |  SELECT id, unnest(string_split_regex(name, '[^a-z0-9]+')) AS tok FROM r)
       |  WHERE len(tok) >= 2),
       |lc AS (SELECT tok, count(*) AS nl FROM ltok GROUP BY tok),
       |rc AS (SELECT tok, count(*) AS nr FROM rtok GROUP BY tok),
       |keep AS (SELECT lc.tok FROM lc JOIN rc USING (tok) WHERE nl * nr <= 10000)
       |SELECT DISTINCT ltok.id AS id1, rtok.id AS id2
       |FROM ltok JOIN keep USING (tok) JOIN rtok USING (tok)
       |ORDER BY id1, id2""".stripMargin

  /** SortedNeighbourhoodBlocker on name, window 3. */
  def blockSortedNbhd(s: SparkSession, dir: String): DataFrame =
    Blockers.sortedNeighbourhood(custLPlain(s, dir), custRPlain(s, dir), "name", "id", window = 3)
      .orderBy("id1", "id2")

  val blockSortedNbhdOracle: String =
    s"""$oracleWith,
       |u AS (
       |  SELECT id, name AS k, 0 AS side FROM l
       |  UNION ALL SELECT id, name AS k, 1 AS side FROM r),
       |ranked AS (
       |  SELECT id, side, row_number() OVER (ORDER BY k, side, id) - 1 AS rn FROM u)
       |SELECT CASE WHEN a.side = 0 THEN a.id ELSE b.id END AS id1,
       |       CASE WHEN a.side = 0 THEN b.id ELSE a.id END AS id2
       |FROM ranked a JOIN ranked b
       |  ON b.rn > a.rn AND b.rn <= a.rn + 3 AND a.side <> b.side
       |ORDER BY id1, id2""".stripMargin

  /** NoBlocker cross product — small×small only (nation × region). */
  def blockCross(s: SparkSession, dir: String): DataFrame =
    Blockers.cross(
        nation(s, dir).select(col("n_nationkey").cast("long").as("id")),
        region(s, dir).select(col("r_regionkey").cast("long").as("id")),
        "id")
      .orderBy("id1", "id2")

  val blockCrossOracle: String =
    """SELECT CAST(n_nationkey AS BIGINT) AS id1, CAST(r_regionkey AS BIGINT) AS id2
      |FROM nation CROSS JOIN region
      |ORDER BY id1, id2""".stripMargin

  /** Pair completeness / quality / reduction of the standard blocker vs
    * the scenario gold pairs (evaluation.py:104).
    */
  def blockEval(s: SparkSession, dir: String): DataFrame = {
    val l = custL(s, dir)
    val r = custR(s, dir)
    val total = l.count() * r.count()
    Blockers.evaluate(
      Blockers.standard(l, r, Seq("seg", "nat"), "id"),
      gold(s, dir), total)
  }

  val blockEvalOracle: String =
    s"""$oracleWith,
       |cand AS (SELECT DISTINCT l.id AS id1, r.id AS id2
       |         FROM l JOIN r ON l.seg = r.seg AND l.nat = r.nat),
       |n AS (SELECT (SELECT count(*) FROM cand) AS cn,
       |             (SELECT count(*) FROM gold) AS gn,
       |             (SELECT count(*) FROM cand JOIN gold USING (id1, id2)) AS tp,
       |             (SELECT count(*) FROM l) * (SELECT count(*) FROM r) AS tot)
       |SELECT round(CAST(tp AS DOUBLE) / greatest(gn, 1), 5) AS pair_completeness,
       |       round(CAST(tp AS DOUBLE) / greatest(cn, 1), 5) AS pair_quality,
       |       round(1.0 - CAST(cn AS DOUBLE) / CAST(tot AS DOUBLE), 5) AS reduction_ratio,
       |       CAST(cn AS BIGINT) AS total_candidates,
       |       CAST(tot AS BIGINT) AS total_possible_pairs,
       |       CAST(tp AS BIGINT) AS true_positives_found,
       |       CAST(gn AS BIGINT) AS total_true_pairs
       |FROM n""".stripMargin

  /** Curated surname spelling-variant pairs (left spelling, right
    * spelling) — each pair shares a Soundex code (spec-pinned), no two
    * base names collide except Smith/Schmidt (S530), which demonstrates
    * phonetic over-blocking honestly.
    */
  val SurnameVariants: Seq[(String, String)] = Seq(
    "Smith" -> "Smyth", "Johnson" -> "Jonson", "Meyer" -> "Meier",
    "Schmidt" -> "Schmitt", "Baker" -> "Bakker", "Ashcraft" -> "Ashcroft",
    "Reed" -> "Reid", "Stewart" -> "Stuart", "Mueller" -> "Muller",
    "Hansen" -> "Hanson", "Pearson" -> "Pierson", "Lawrence" -> "Lowrance")

  private def surnameCol(variants: Seq[String]): org.apache.spark.sql.Column =
    element_at(
      array(variants.map(lit): _*),
      (col("c_custkey") % SurnameVariants.size).cast("int") + 1)

  /** Phonetic (Soundex) blocking: L carries one surname spelling, R a
    * variant spelling — exact-key blocking finds NOTHING (every pair
    * differs textually; the spec pins recall 0), the phonetic key
    * recovers every gold pair. Output is the per-key block-size frame
    * (keys-bounded — the pair frame itself is the product of the two
    * key-partition sizes, counted, not materialized): the shape a
    * blocker-tuning loop reads at 100 TB, where emitting the pairs of a
    * hot phonetic key is exactly what you audit before running it.
    */
  def blockPhonetic(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Phonetic
    val l = customer(s, dir).select(
      col("c_custkey").as("id"), surnameCol(SurnameVariants.map(_._1)).as("surname"))
    val r = customer(s, dir).filter(col("c_custkey") % 10 =!= 3).select(
      (col("c_custkey") + ROffset).as("id"), surnameCol(SurnameVariants.map(_._2)).as("surname"))
    val lk = l.groupBy(Phonetic.soundex(col("surname")).as("sx_key"))
      .agg(count(lit(1)).as("n_l"))
    val rk = r.groupBy(Phonetic.soundex(col("surname")).as("sx_key"))
      .agg(count(lit(1)).as("n_r"))
    lk.join(rk, Seq("sx_key"), "full")
      .select(col("sx_key"),
        coalesce(col("n_l"), lit(0L)).as("n_l"),
        coalesce(col("n_r"), lit(0L)).as("n_r"),
        (coalesce(col("n_l"), lit(0L)) * coalesce(col("n_r"), lit(0L))).as("n_pairs"))
      .orderBy("sx_key")
  }

  val blockPhoneticOracle: String = {
    import graft.functions.Phonetic
    val nL = SurnameVariants.map(p => s"'${p._1}'").mkString(", ")
    val nR = SurnameVariants.map(p => s"'${p._2}'").mkString(", ")
    val k = SurnameVariants.size
    s"""WITH l AS (
       |  SELECT c_custkey AS id,
       |         ([$nL])[CAST(c_custkey % $k AS INT) + 1] AS surname
       |  FROM customer),
       |r AS (
       |  SELECT c_custkey + 10000000 AS id,
       |         ([$nR])[CAST(c_custkey % $k AS INT) + 1] AS surname
       |  FROM customer WHERE c_custkey % 10 <> 3),
       |lk AS (SELECT ${Phonetic.sqlSoundex("surname")} AS sx_key,
       |              CAST(count(*) AS BIGINT) AS n_l FROM l GROUP BY 1),
       |rk AS (SELECT ${Phonetic.sqlSoundex("surname")} AS sx_key,
       |              CAST(count(*) AS BIGINT) AS n_r FROM r GROUP BY 1)
       |SELECT sx_key,
       |       coalesce(n_l, 0) AS n_l, coalesce(n_r, 0) AS n_r,
       |       coalesce(n_l, 0) * coalesce(n_r, 0) AS n_pairs
       |FROM lk FULL JOIN rk USING (sx_key)
       |ORDER BY sx_key""".stripMargin
  }

  /** Meta-blocking, WEP scheme (Papadakis et al., TKDE 2014): token
    * blocking over-generates, so re-weight every candidate pair by how
    * many blocks it co-occurs in (CBS — common blocks scheme) and keep
    * only pairs at or above the mean weight. The standard redundancy-
    * aware pruning layer between a cheap blocker and an expensive
    * matcher at 100 TB.
    *
    * Shape: token explode (distinct per (id, tok) so a repeated word
    * counts once — both engines agree) → in-block pair join → ONE
    * groupBy(pair) = the CBS weight — the same shuffle any blocker
    * pays — then the mean gate as an exact integer cross-multiply
    * (cbs · n_pairs ≥ Σcbs; no float mean, no engine disagreement at
    * the boundary). Output is the weight histogram with kept/pruned
    * counts (weight-bounded — ≤ words per name), i.e. the audit frame
    * a tuning loop reads; the kept-pair frame itself stays distributed.
    * Deterministic subset (p_partkey % 4 = 0) keeps the demo's pair
    * frame ~1M rows at sf0.1 while exercising the full dataflow.
    */
  def blockMeta(s: SparkSession, dir: String): DataFrame = {
    val toks = part(s, dir)
      .filter(col("p_partkey") % 4 === 0)
      .select(col("p_partkey").as("id"),
        explode(split(lower(col("p_name")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .distinct()
    val pairs = toks.as("x").join(toks.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id1"), col("y.id").as("id2"))
      .agg(count(lit(1)).as("cbs"))
    val stats = pairs.agg(sum("cbs").as("total_cbs"),
      count(lit(1)).as("n_pairs"))
    pairs.crossJoin(broadcast(stats)) // 1-row stats frame
      .withColumn("kept", col("cbs") * col("n_pairs") >= col("total_cbs"))
      .groupBy("cbs", "kept")
      .agg(count(lit(1)).as("n"),
        min(struct(col("id1"), col("id2"))).as("m"))
      .select(col("cbs"), col("kept"), col("n"),
        col("m.id1").as("min_id1"), col("m.id2").as("min_id2"))
      .orderBy("cbs")
  }

  val blockMetaOracle: String =
    """WITH toks AS (
      |  SELECT DISTINCT p_partkey AS id, tok
      |  FROM part, LATERAL unnest(string_split(lower(p_name), ' ')) AS u(tok)
      |  WHERE p_partkey % 4 = 0 AND tok <> ''),
      |pairs AS (
      |  SELECT x.id AS id1, y.id AS id2, CAST(count(*) AS BIGINT) AS cbs
      |  FROM toks x JOIN toks y ON y.tok = x.tok AND x.id < y.id
      |  GROUP BY 1, 2),
      |st AS (SELECT CAST(sum(cbs) AS BIGINT) AS total_cbs,
      |              CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
      |SELECT cbs, (cbs * n_pairs >= total_cbs) AS kept,
      |       CAST(count(*) AS BIGINT) AS n,
      |       first(id1 ORDER BY id1, id2) AS min_id1,
      |       first(id2 ORDER BY id1, id2) AS min_id2
      |FROM pairs, st
      |GROUP BY 1, 2 ORDER BY cbs""".stripMargin

  /** Canopy pre-blocking over L∪R grouped by the standard blocking key
    * (seg, nat): loose 300 milli catches same-side name-shape neighbours,
    * tight 600 milli retires each record's perturbed twin from the
    * center pool — so centers end up being exactly the left records and
    * every record lands in ≥ 1 canopy (T2 ⊆ T1 guarantees coverage).
    */
  def blockCanopy(s: SparkSession, dir: String): DataFrame = {
    // ONE spread of the union (the canopy walk's token-jaccard input)
    // instead of one per side: same full-width walk, half the exchanges
    val u = spread(custLPlain(s, dir).select("id", "name", "seg", "nat")
      .unionByName(custRPlain(s, dir).select("id", "name", "seg", "nat")))
    Blockers.canopy(u, Seq("seg", "nat"), "id", "name",
        t1Milli = 300L, t2Milli = 600L)
      .orderBy("canopy", "id")
  }

  /** Recursive-fold replay: the fold state is ONLY the retired-center
    * pool (canopy membership is derivable after the walk by joining the
    * surviving centers back to the pairwise-sim frame); upstream frames
    * are MATERIALIZED so the recursive term doesn't re-evaluate the
    * pairwise computation once per step (measured: >5 min without, 2.4 s
    * with, at sf0.01's 2850-step walk).
    */
  private val canopyWalkPrelude: String =
    s"""WITH RECURSIVE $oracleWithBody,
       |u AS (SELECT id, name, seg, nat FROM l UNION ALL SELECT id, name, seg, nat FROM r),
       |tk AS MATERIALIZED (SELECT id, seg, nat,
       |         list_distinct(list_filter(string_split_regex(name, '[^a-z0-9]+'), t -> t <> '')) AS toks
       |       FROM u),
       |pw AS MATERIALIZED (SELECT a.id AS a, b.id AS b,
       |         CASE WHEN len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) = 0 THEN 1000
       |              ELSE (len(list_intersect(a.toks, b.toks)) * 1000)
       |                   // (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) END AS sim
       |       FROM tk a JOIN tk b ON a.seg = b.seg AND a.nat = b.nat),
       |cand AS MATERIALIZED (
       |  SELECT t.id, row_number() OVER (ORDER BY t.seg, t.nat, t.id) AS rn,
       |         COALESCE(j.tight, []) AS tight
       |  FROM tk t LEFT JOIN (
       |    SELECT a, list(CAST(b AS BIGINT) ORDER BY b) FILTER (sim >= 600) AS tight
       |    FROM pw GROUP BY a) j ON j.a = t.id),
       |walk(rn, removed, centre) AS (
       |  SELECT CAST(0 AS BIGINT), CAST([] AS BIGINT[]), CAST(NULL AS BIGINT)
       |  UNION ALL
       |  SELECT c.rn,
       |    CASE WHEN list_contains(w.removed, c.id) THEN w.removed
       |         ELSE w.removed || c.tight END,
       |    CASE WHEN list_contains(w.removed, c.id) THEN NULL ELSE CAST(c.id AS BIGINT) END
       |  FROM walk w JOIN cand c ON c.rn = w.rn + 1),
       |centres AS (SELECT centre FROM walk WHERE centre IS NOT NULL)""".stripMargin

  val blockCanopyOracle: String =
    s"""$canopyWalkPrelude
       |SELECT CAST(p.a AS BIGINT) AS canopy, CAST(p.b AS BIGINT) AS id,
       |       CAST(p.sim AS BIGINT) AS sim_milli
       |FROM pw p JOIN centres c ON p.a = c.centre
       |WHERE p.sim >= 300
       |ORDER BY canopy, id""".stripMargin

  /** Canopy-fed matcher — the composition that makes [[blockCanopy]] a
    * working pre-blocker rather than a standalone artifact: cross-
    * source pairs sharing a canopy (one equi-join on the canopy id)
    * are scored with the codegen'd Jaro–Winkler comparator and gated
    * at θ=0.95. Candidates here are canopy-bounded (never the block
    * cross product); at θ=0.95 the matcher keeps every true twin
    * (uniform 0.98) plus an honest near-miss band (block FP ceiling
    * 0.96889) — recall 1.0 with visible discrimination, not a
    * degenerate gold replay.
    */
  def pipelineCanopyMatch(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.sims
    // one spread at the canopy input keeps the walk and the JW scoring
    // full-width; the name-attach sides are broadcast dims — plain
    val u = spread(custLPlain(s, dir).select("id", "name", "seg", "nat")
      .unionByName(custRPlain(s, dir).select("id", "name", "seg", "nat")))
    val can = Blockers.canopy(u, Seq("seg", "nat"), "id", "name",
      t1Milli = 300L, t2Milli = 600L)
    val pairs = can.select(col("canopy"), col("id").as("id1"))
      .filter(col("id1") < ROffset)
      .join(can.select(col("canopy"), col("id").as("id2"))
        .filter(col("id2") >= ROffset), "canopy")
      .select("id1", "id2").distinct()
    pairs
      .join(custLPlain(s, dir).select(col("id").as("id1"), col("name").as("na")), "id1")
      .join(custRPlain(s, dir).select(col("id").as("id2"), col("name").as("nb")), "id2")
      .select(col("id1"), col("id2"),
        round(sims.jaroWinkler(col("na"), col("nb")), 5).as("score"))
      .filter(col("score") >= 0.95)
      .orderBy("id1", "id2")
  }

  val pipelineCanopyMatchOracle: String =
    s"""$canopyWalkPrelude,
       |canopy AS (SELECT CAST(p.a AS BIGINT) AS canopy, CAST(p.b AS BIGINT) AS id
       |           FROM pw p JOIN centres c ON p.a = c.centre WHERE p.sim >= 300),
       |pairs AS (SELECT DISTINCT x.id AS id1, y.id AS id2
       |          FROM canopy x JOIN canopy y ON y.canopy = x.canopy
       |          WHERE x.id < 10000000 AND y.id >= 10000000),
       |scored AS (SELECT p.id1, p.id2,
       |             round(jaro_winkler_similarity(a.name, b.name), 5) AS score
       |           FROM pairs p JOIN l a ON a.id = p.id1 JOIN r b ON b.id = p.id2)
       |SELECT id1, id2, score FROM scored WHERE score >= 0.95
       |ORDER BY id1, id2""".stripMargin

  /** Grid-bucketed geo blocker (Blockers.geoNearest): nearest supplier
    * per customer over deterministic md5-derived micro-degree
    * coordinates (the md5-hex-prefix law, so the DuckDB oracle derives
    * the SAME plane) on a 100 000-µ° grid — candidates meet in one
    * (cellX, cellY) equi-join, never a cross product.
    */
  def blockGeo(s: SparkSession, dir: String): DataFrame = {
    def coords(df: DataFrame, key: String, out: String, saltLat: String,
        saltLon: String): DataFrame = {
      def c(salt: String) =
        (conv(substring(md5(concat(lit(salt), col(key).cast("string"))), 1, 13), 16, 10)
          .cast("long") % 1000000L)
      df.select(col(key).as(out), c(saltLat).as("lat"), c(saltLon).as("lon"))
    }
    val probes = coords(customer(s, dir), "c_custkey", "id", "lat#", "lon#")
    val index = coords(supplier(s, dir), "s_suppkey", "sid", "slat#", "slon#")
    Blockers.geoNearest(probes, index, cell = 100000L)
      .select(col("id").as("c_custkey"), col("sid").as("s_suppkey"), col("dist_sq"))
      .orderBy("c_custkey")
  }

  val blockGeoOracle: String =
    """WITH c AS (SELECT c_custkey AS id,
      |    ('0x'||substr(md5('lat#'||CAST(c_custkey AS VARCHAR)),1,13))::BIGINT % 1000000 AS lat,
      |    ('0x'||substr(md5('lon#'||CAST(c_custkey AS VARCHAR)),1,13))::BIGINT % 1000000 AS lon
      |  FROM customer),
      |s AS (SELECT s_suppkey AS sid,
      |    ('0x'||substr(md5('slat#'||CAST(s_suppkey AS VARCHAR)),1,13))::BIGINT % 1000000 AS lat,
      |    ('0x'||substr(md5('slon#'||CAST(s_suppkey AS VARCHAR)),1,13))::BIGINT % 1000000 AS lon
      |  FROM supplier),
      |cand AS (
      |  SELECT c.id, s.sid,
      |         (c.lat - s.lat) * (c.lat - s.lat) + (c.lon - s.lon) * (c.lon - s.lon) AS dist_sq,
      |         row_number() OVER (PARTITION BY c.id
      |           ORDER BY (c.lat-s.lat)*(c.lat-s.lat)+(c.lon-s.lon)*(c.lon-s.lon), s.sid) AS rn
      |  FROM c, range(-1,2) dx(x), range(-1,2) dy(y)
      |  JOIN s ON s.lat // 100000 = c.lat // 100000 + dx.x
      |        AND s.lon // 100000 = c.lon // 100000 + dy.y)
      |SELECT id AS c_custkey, sid AS s_suppkey, dist_sq
      |FROM cand WHERE rn = 1 ORDER BY c_custkey""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("block_geo", blockGeo, Some(blockGeoOracle)),
    QueryDef("pipeline_canopy_match", pipelineCanopyMatch, Some(pipelineCanopyMatchOracle)),
    QueryDef("block_canopy", blockCanopy, Some(blockCanopyOracle)),
    QueryDef("block_meta", blockMeta, Some(blockMetaOracle)),
    QueryDef("block_phonetic", blockPhonetic, Some(blockPhoneticOracle)),
    QueryDef("block_standard", blockStandard, Some(blockStandardOracle)),
    QueryDef("block_token", blockToken, Some(blockTokenOracle)),
    QueryDef("block_sorted_nbhd", blockSortedNbhd, Some(blockSortedNbhdOracle)),
    QueryDef("block_cross", blockCross, Some(blockCrossOracle)),
    // candidates plus the exact ground truth
    QueryDef("block_eval", blockEval, Some(blockEvalOracle), pipelines = 2)
  )
}
