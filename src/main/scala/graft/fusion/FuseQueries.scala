package graft.fusion

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._

/** Fusion queries + DuckDB oracles (SURVEY §2.11). Scenario: every order
  * is described by three sources — A (original), B (status flipped on
  * every 7th key, price +10, date +1d, priority suffixed), C (price
  * rounded, date −2d, priority missing on every 5th key). Cluster id =
  * o_orderkey, i.e. records are pre-clustered duplicates to fuse.
  */
object FuseQueries {

  def sources(s: SparkSession, dir: String): DataFrame = {
    // r13 measured-and-REJECTED: spreading this read regressed the
    // whole fuse family ~2x in the full bench (fuse_voting 2.4 -> 4.0,
    // fuse_engine 1.5 -> 3.4, fuse_eval 1.7 -> 4.0 s in-suite) — each
    // fusion op consumes sources() as its own subtree, so every op
    // re-paid the round-robin exchange + its pre-repartition local
    // sort, while the per-row work above the scan is too light to win
    // it back. The family's exchanges are its keyed aggs, which
    // already spread the work.
    val o = orders(s, dir).select(
      col("o_orderkey").as("cluster"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"),
      to_date(col("o_orderdate")).as("odate"),
      col("o_orderpriority").as("prio"))
    val a = o.select(col("cluster"), lit("A").as("src"), col("status"), col("price"),
      col("odate"), col("prio"))
    val b = o.select(col("cluster"), lit("B").as("src"),
      when(col("cluster") % 7 === 0, "X").otherwise(col("status")).as("status"),
      (col("price") + 10.0).as("price"),
      date_add(col("odate"), 1).as("odate"),
      concat(col("prio"), lit(" b")).as("prio"))
    val c = o.select(col("cluster"), lit("C").as("src"), col("status"),
      round(col("price"), 0).as("price"),
      date_add(col("odate"), -2).as("odate"),
      when(col("cluster") % 5 === 0, lit(null)).otherwise(col("prio")).as("prio"))
    a.unionByName(b).unionByName(c)
  }

  val sourcesSql: String =
    """src AS (
      |  SELECT o_orderkey AS cluster, 'A' AS src, o_orderstatus AS status,
      |         o_totalprice AS price, CAST(o_orderdate AS DATE) AS odate,
      |         o_orderpriority AS prio
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'B',
      |         CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END,
      |         o_totalprice + 10.0, CAST(o_orderdate AS DATE) + 1,
      |         o_orderpriority || ' b'
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'C', o_orderstatus, round(o_totalprice, 0),
      |         CAST(o_orderdate AS DATE) - 2,
      |         CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE o_orderpriority END
      |  FROM orders)""".stripMargin

  // ---- voting family (#46) ----

  def fuseVoting(s: SparkSession, dir: String): DataFrame = {
    val src = sources(s, dir)
    val v = Fusion.voting(src, "cluster", "status")
    val wv = Fusion.weightedVoting(src, "cluster", "status",
        when(col("src") === "A", 1.0).when(col("src") === "B", 2.0).otherwise(0.5))
      .withColumnRenamed("status", "status_weighted")
      .withColumnRenamed("confidence", "conf_weighted")
    val tr = Fusion.preferHigherTrust(src, "cluster", "status", "src",
        Map("A" -> 0.5, "B" -> 0.9, "C" -> 0.7))
      .withColumnRenamed("status", "status_trust")
    val hp = Fusion.hashPick(src, "cluster", "status")
      .withColumnRenamed("status", "status_hash")
    v.join(wv, "cluster").join(tr, "cluster").join(hp, "cluster").orderBy("cluster")
  }

  val fuseVotingOracle: String =
    s"""WITH $sourcesSql,
       |counts AS (SELECT cluster, status, count(*) AS cnt
       |           FROM src GROUP BY cluster, status),
       |rankd AS (SELECT cluster, status, cnt,
       |          row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, status) AS rn
       |          FROM counts),
       |vote AS (SELECT cluster,
       |           max(CASE WHEN rn = 1 THEN status END) AS status,
       |           max(CASE WHEN rn = 1 THEN cnt END) AS w,
       |           max(CASE WHEN rn = 2 THEN cnt END) AS s,
       |           sum(cnt) AS n, count(*) AS d
       |         FROM rankd GROUP BY cluster),
       |wsum AS (SELECT cluster, status,
       |           sum(CASE src WHEN 'A' THEN 1.0 WHEN 'B' THEN 2.0 ELSE 0.5 END) AS wsum
       |         FROM src GROUP BY cluster, status),
       |wtot AS (SELECT cluster, sum(wsum) AS tot FROM wsum GROUP BY cluster),
       |wrank AS (SELECT w.cluster, w.status, w.wsum, t.tot,
       |          row_number() OVER (PARTITION BY w.cluster ORDER BY w.wsum DESC, w.status) AS rn
       |          FROM wsum w JOIN wtot t ON w.cluster = t.cluster),
       |trustp AS (SELECT cluster, status,
       |           row_number() OVER (PARTITION BY cluster ORDER BY
       |             CASE src WHEN 'A' THEN 0.5 WHEN 'B' THEN 0.9 ELSE 0.7 END DESC, src) AS rn
       |           FROM src),
       |hashp AS (SELECT cluster, status,
       |          row_number() OVER (PARTITION BY cluster ORDER BY
       |            md5(CAST(cluster AS VARCHAR) || '|' || status)) AS rn
       |          FROM src)
       |SELECT v.cluster, v.status,
       |  round(CASE WHEN v.d = 1 THEN 1.0
       |             WHEN v.w > v.s THEN 0.5 + CAST(v.w - v.s AS DOUBLE) / v.n * 0.5
       |             ELSE 0.5 END, 5) AS confidence,
       |  v.w > CAST(v.n AS DOUBLE) / 2.0 AS is_majority,
       |  wr.status AS status_weighted,
       |  round(wr.wsum / wr.tot, 5) AS conf_weighted,
       |  tp.status AS status_trust,
       |  hp.status AS status_hash
       |FROM vote v
       |JOIN wrank wr ON wr.cluster = v.cluster AND wr.rn = 1
       |JOIN trustp tp ON tp.cluster = v.cluster AND tp.rn = 1
       |JOIN hashp hp ON hp.cluster = v.cluster AND hp.rn = 1
       |ORDER BY v.cluster""".stripMargin

  // ---- string resolvers (#47) ----

  def fuseStrings(s: SparkSession, dir: String): DataFrame =
    Fusion.stringResolvers(sources(s, dir), "cluster", "prio").orderBy("cluster")

  val fuseStringsOracle: String =
    s"""WITH $sourcesSql,
       |valid AS (SELECT cluster, prio FROM src WHERE prio IS NOT NULL),
       |lo AS (SELECT cluster, prio, row_number() OVER (PARTITION BY cluster
       |        ORDER BY length(prio) DESC, prio) AS rn FROM valid),
       |sh AS (SELECT cluster, prio, row_number() OVER (PARTITION BY cluster
       |        ORDER BY length(prio), prio) AS rn FROM valid),
       |mc AS (SELECT cluster, prio, row_number() OVER (PARTITION BY cluster
       |        ORDER BY length(regexp_replace(prio, '[ \\t\\n]', '', 'g')) DESC, prio) AS rn
       |       FROM valid)
       |SELECT lo.cluster, lo.prio AS longest, sh.prio AS shortest, mc.prio AS most_complete
       |FROM lo JOIN sh ON sh.cluster = lo.cluster AND sh.rn = 1
       |        JOIN mc ON mc.cluster = lo.cluster AND mc.rn = 1
       |WHERE lo.rn = 1
       |ORDER BY lo.cluster""".stripMargin

  // ---- numeric resolvers (#48) ----

  def fuseNumeric(s: SparkSession, dir: String): DataFrame =
    Fusion.numericResolvers(sources(s, dir), "cluster", cents(col("price")))
      .orderBy("cluster")

  val fuseNumericOracle: String =
    s"""WITH $sourcesSql,
       |c AS (SELECT cluster, CAST(round(price * 100) AS BIGINT) AS cents FROM src
       |      WHERE price IS NOT NULL)
       |SELECT cluster,
       |  round(CAST(sum(cents) AS DOUBLE) / 100.0 / count(*), 5) AS avg_value,
       |  round(median(cents) / 100.0, 5) AS median_value,
       |  round(max(cents) / 100.0, 5) AS max_value,
       |  round(min(cents) / 100.0, 5) AS min_value,
       |  round(CAST(sum(cents) AS DOUBLE) / 100.0, 5) AS sum_value
       |FROM c GROUP BY cluster
       |ORDER BY cluster""".stripMargin

  // ---- date resolvers (#50) ----

  def fuseDates(s: SparkSession, dir: String): DataFrame =
    Fusion.dateResolvers(sources(s, dir), "cluster", col("odate")).orderBy("cluster")

  val fuseDatesOracle: String =
    s"""WITH $sourcesSql
       |SELECT cluster, max(odate) AS most_recent, min(odate) AS earliest
       |FROM src GROUP BY cluster
       |ORDER BY cluster""".stripMargin

  // ---- list resolvers (#49) ----

  def fuseLists(s: SparkSession, dir: String): DataFrame =
    Fusion.listResolvers(sources(s, dir), "cluster", split(col("prio"), "-"), 2)
      .orderBy("cluster")

  val fuseListsOracle: String =
    s"""WITH $sourcesSql,
       |valid AS (SELECT cluster, prio FROM src WHERE prio IS NOT NULL),
       |nrec AS (SELECT cluster, count(*) AS nrec FROM valid GROUP BY cluster),
       |tok AS (SELECT cluster, unnest(list_distinct(string_split(prio, '-'))) AS tok
       |        FROM valid),
       |cnts AS (SELECT cluster, tok, count(*) AS cnt FROM tok GROUP BY cluster, tok)
       |SELECT c.cluster,
       |  string_agg(c.tok, ',' ORDER BY c.tok) AS union_list,
       |  coalesce(string_agg(c.tok, ',' ORDER BY c.tok)
       |           FILTER (WHERE c.cnt = n.nrec), '') AS intersection_list,
       |  coalesce(string_agg(c.tok, ',' ORDER BY c.tok)
       |           FILTER (WHERE c.cnt >= 2), '') AS intersection_2_list
       |FROM cnts c JOIN nrec n ON n.cluster = c.cluster
       |GROUP BY c.cluster
       |ORDER BY c.cluster""".stripMargin

  // ---- engine (#51) ----

  /** FusionEngine.run (engine.py:356): per-attribute strategy table —
    * status→voting, price→average, odate→most_recent, prio→longest +
    * favour_sources([C, A]) — one fused row per cluster with the record
    * count as provenance.
    */
  def fuseEngine(s: SparkSession, dir: String): DataFrame = {
    val src = sources(s, dir)
    // Single-pass engine: price/odate/prio fold into ONE aggregation
    // (runEngine), voting adds its two-level pass; favour_sources needs
    // the source-preference args the strategy table can't carry → one
    // more pass. 3 scans total (was 6 when every resolver re-scanned).
    val core = Fusion.runEngine(src, "cluster", Seq(
        "status" -> "voting", "price" -> "average",
        "odate" -> "most_recent", "prio" -> "longest_string"))
      .withColumnRenamed("prio", "prio_longest")
    val fs = Fusion.favourSources(src, "cluster", "prio", "src", Seq("C", "A"))
      .withColumnRenamed("prio", "prio_pref")
    core.join(fs, "cluster")
      .select(col("cluster"), col("status"), col("price"), col("odate"),
        col("prio_longest"), col("prio_pref"), col("n_records"))
      .orderBy("cluster")
  }

  val fuseEngineOracle: String =
    s"""WITH $sourcesSql,
       |counts AS (SELECT cluster, status, count(*) AS cnt FROM src GROUP BY cluster, status),
       |vote AS (SELECT cluster, status FROM (
       |  SELECT cluster, status,
       |         row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, status) AS rn
       |  FROM counts) WHERE rn = 1),
       |num AS (SELECT cluster,
       |          round(CAST(sum(CAST(round(price * 100) AS BIGINT)) AS DOUBLE) / 100.0
       |                / count(*), 5) AS price
       |        FROM src GROUP BY cluster),
       |dt AS (SELECT cluster, max(odate) AS odate FROM src GROUP BY cluster),
       |lo AS (SELECT cluster, prio AS prio_longest FROM (
       |  SELECT cluster, prio, row_number() OVER (PARTITION BY cluster
       |         ORDER BY length(prio) DESC, prio) AS rn
       |  FROM src WHERE prio IS NOT NULL) WHERE rn = 1),
       |fs AS (SELECT cluster, prio AS prio_pref FROM (
       |  SELECT cluster, prio, row_number() OVER (PARTITION BY cluster
       |         ORDER BY CASE src WHEN 'C' THEN 0 WHEN 'A' THEN 1 ELSE 2 END, src) AS rn
       |  FROM src WHERE prio IS NOT NULL) WHERE rn = 1),
       |cnt AS (SELECT cluster, count(*) AS n_records FROM src GROUP BY cluster)
       |SELECT v.cluster, v.status, num.price, dt.odate, lo.prio_longest,
       |       fs.prio_pref, cnt.n_records
       |FROM vote v JOIN num USING (cluster) JOIN dt USING (cluster)
       |     JOIN lo USING (cluster) JOIN fs USING (cluster) JOIN cnt USING (cluster)
       |ORDER BY v.cluster""".stripMargin

  /** INCREMENTAL fusion — the maintenance face of [[fuseEngine]] (the
    * `ann_ivf_incremental` / `cluster_cc_incremental` idiom applied to
    * the fused zone): the fused table is a persisted artifact; when a
    * late source's records arrive (source C's rows for cluster % 7 = 0
    * here — a LOCALIZED arrival, the scenario maintenance exists for),
    * only the AFFECTED clusters re-fuse from their full raw records
    * (the raw zone is kept — required anyway, since `average`-style
    * resolvers are not mergeable from the fused value alone), and every
    * other cluster's fused row is reused untouched. Fusion is a pure
    * per-cluster aggregation, so reuse ∪ recompute is BIT-IDENTICAL to
    * full fusion over all records — the oracle runs exactly the full
    * `fuse_engine` SQL, making the hash gate the maintenance law. At
    * 100 TB the daily refuse bill is the arrival clusters' records,
    * never the fused zone.
    */
  def fuseIncremental(s: SparkSession, dir: String): DataFrame = {
    val src = sources(s, dir)
    val arrivalCond = col("src") === "C" && col("cluster") % 7 === 0
    val base = src.filter(!arrivalCond)
    val arrivals = src.filter(arrivalCond)
    def fuseAll(records: DataFrame): DataFrame = {
      val core = Fusion.runEngine(records, "cluster", Seq(
          "status" -> "voting", "price" -> "average",
          "odate" -> "most_recent", "prio" -> "longest_string"))
        .withColumnRenamed("prio", "prio_longest")
      val fs = Fusion.favourSources(records, "cluster", "prio", "src",
          Seq("C", "A"))
        .withColumnRenamed("prio", "prio_pref")
      core.join(fs, "cluster")
        .select(col("cluster"), col("status"), col("price"), col("odate"),
          col("prio_longest"), col("prio_pref"), col("n_records"))
    }
    val baseFused = fuseAll(base) // the persisted artifact
    val affected = arrivals.select("cluster").distinct()
    val refused = fuseAll(src.join(affected, Seq("cluster"), "left_semi"))
    baseFused.join(affected, Seq("cluster"), "left_anti")
      .unionByName(refused)
      .orderBy("cluster")
  }

  // ---- evaluation + consistency (#52) ----

  /** Fusion accuracy vs gold (= source A's values), per attribute. */
  def fuseEval(s: SparkSession, dir: String): DataFrame = {
    val fused = fuseEngine(s, dir)
    val gold = sources(s, dir).filter(col("src") === "A")
      .select(col("cluster"), col("status").as("g_status"), col("price").as("g_price"),
        col("odate").as("g_odate"), col("prio").as("g_prio"))
    fused.join(gold, "cluster")
      .agg(
        round(avg(when(col("status") === col("g_status"), 1.0).otherwise(0.0)), 5)
          .as("acc_status"),
        round(avg(when(col("price") === col("g_price"), 1.0).otherwise(0.0)), 5)
          .as("acc_price"),
        round(avg(when(col("odate") === col("g_odate"), 1.0).otherwise(0.0)), 5)
          .as("acc_odate"),
        round(avg(when(col("prio_pref") === col("g_prio"), 1.0).otherwise(0.0)), 5)
          .as("acc_prio"),
        count(lit(1)).as("n_clusters"))
  }

  // ---- provenance (#52b, provenance.py:62) ----

  def fuseProvenance(s: SparkSession, dir: String): DataFrame =
    Fusion.provenance(sources(s, dir), "cluster", "src", Seq(
        "status" -> "voting", "status" -> "hash_pick",
        "prio" -> "longest_string", "prio" -> "shortest_string",
        "odate" -> "most_recent", "odate" -> "earliest"))
      .orderBy("cluster", "attribute", "strategy")

  val fuseProvenanceOracle: String =
    s"""WITH $sourcesSql,
       |lo AS (SELECT cluster, 'prio' AS attribute, prio AS value, src AS source,
       |              'longest_string' AS strategy FROM (
       |  SELECT cluster, prio, src, row_number() OVER (PARTITION BY cluster
       |         ORDER BY length(prio) DESC, prio, src) AS rn
       |  FROM src WHERE prio IS NOT NULL) WHERE rn = 1),
       |sh AS (SELECT cluster, 'prio' AS attribute, prio AS value, src AS source,
       |              'shortest_string' AS strategy FROM (
       |  SELECT cluster, prio, src, row_number() OVER (PARTITION BY cluster
       |         ORDER BY length(prio), prio, src) AS rn
       |  FROM src WHERE prio IS NOT NULL) WHERE rn = 1),
       |mr AS (SELECT cluster, 'odate' AS attribute, CAST(odate AS VARCHAR) AS value,
       |              src AS source, 'most_recent' AS strategy FROM (
       |  SELECT cluster, odate, src, row_number() OVER (PARTITION BY cluster
       |         ORDER BY odate DESC, CAST(odate AS VARCHAR), src) AS rn
       |  FROM src) WHERE rn = 1),
       |ea AS (SELECT cluster, 'odate' AS attribute, CAST(odate AS VARCHAR) AS value,
       |              src AS source, 'earliest' AS strategy FROM (
       |  SELECT cluster, odate, src, row_number() OVER (PARTITION BY cluster
       |         ORDER BY odate, CAST(odate AS VARCHAR), src) AS rn
       |  FROM src) WHERE rn = 1),
       |hp AS (SELECT cluster, 'status' AS attribute, status AS value, src AS source,
       |              'hash_pick' AS strategy FROM (
       |  SELECT cluster, status, src, row_number() OVER (PARTITION BY cluster
       |         ORDER BY md5(CAST(cluster AS VARCHAR) || '|' || status), status, src) AS rn
       |  FROM src) WHERE rn = 1),
       |vt AS (SELECT cluster, 'status' AS attribute, value, source,
       |              'voting' AS strategy FROM (
       |  SELECT cluster, status AS value, count(*) AS cnt, min(src) AS source,
       |         row_number() OVER (PARTITION BY cluster
       |           ORDER BY count(*) DESC, status) AS rn
       |  FROM src GROUP BY cluster, status) WHERE rn = 1)
       |SELECT * FROM (
       |  SELECT * FROM lo UNION ALL SELECT * FROM sh UNION ALL SELECT * FROM mr
       |  UNION ALL SELECT * FROM ea UNION ALL SELECT * FROM hp
       |  UNION ALL SELECT * FROM vt)
       |ORDER BY cluster, attribute, strategy""".stripMargin

  // ---- attribute coverage (#52c, analysis.py:22) ----

  def fuseCoverage(s: SparkSession, dir: String): DataFrame =
    Fusion.attributeCoverage(sources(s, dir), "src",
        Seq("status", "price", "odate", "prio"))
      .orderBy("attribute", "dataset")

  val fuseCoverageOracle: String =
    s"""WITH $sourcesSql,
       |vals AS (
       |  SELECT src AS dataset, 'status' AS attribute,
       |         CASE WHEN status IS NOT NULL THEN 1 ELSE 0 END AS nn FROM src
       |  UNION ALL SELECT src, 'price',
       |         CASE WHEN price IS NOT NULL THEN 1 ELSE 0 END FROM src
       |  UNION ALL SELECT src, 'odate',
       |         CASE WHEN odate IS NOT NULL THEN 1 ELSE 0 END FROM src
       |  UNION ALL SELECT src, 'prio',
       |         CASE WHEN prio IS NOT NULL THEN 1 ELSE 0 END FROM src),
       |per AS (SELECT attribute, dataset, CAST(sum(nn) AS BIGINT) AS n_nonnull,
       |               count(*) AS n_total
       |        FROM vals GROUP BY attribute, dataset),
       |roll AS (SELECT attribute,
       |           CAST(sum(CASE WHEN n_nonnull > 0 THEN 1 ELSE 0 END) AS BIGINT) AS dwa,
       |           CAST(sum(n_nonnull) AS BIGINT) AS snn,
       |           CAST(sum(n_total) AS BIGINT) AS snt,
       |           max(CAST(n_nonnull AS DOUBLE) / n_total) AS maxc
       |         FROM per GROUP BY attribute)
       |SELECT p.attribute, p.dataset, p.n_nonnull, p.n_total,
       |  CAST(p.n_nonnull AS DOUBLE) / p.n_total AS coverage,
       |  roll.dwa AS datasets_with_attribute,
       |  CAST(roll.snn AS DOUBLE) / roll.snt AS avg_coverage,
       |  roll.maxc AS max_coverage
       |FROM per p JOIN roll USING (attribute)
       |ORDER BY attribute, dataset""".stripMargin

  // ---- FusionReport (reporting.py:94–211) ----

  /** FusionReport as one frame (see [[Reporting.fusionReport]]).
    * Sources are thinned (B only on even clusters, C only off
    * multiples of 3) so group sizes, source combinations, and
    * per-attribute conflict counts all vary.
    */
  def fuseReport(s: SparkSession, dir: String): DataFrame = {
    val src = sources(s, dir).filter(
      col("src") === "A" ||
        (col("src") === "B" && col("cluster") % 2 === 0) ||
        (col("src") === "C" && col("cluster") % 3 =!= 0))
    Reporting.fusionReport(src, "cluster", "src",
        Seq("status", "price", "odate", "prio"), "status")
      .orderBy("section", "metric", "attribute")
  }

  val fuseReportOracle: String =
    s"""WITH $sourcesSql,
       |fsrc AS (SELECT * FROM src
       |         WHERE src = 'A' OR (src = 'B' AND cluster % 2 = 0)
       |            OR (src = 'C' AND cluster % 3 <> 0)),
       |per AS (SELECT cluster, count(*) AS sz,
       |          string_agg(DISTINCT src, '+' ORDER BY src) AS combo,
       |          count(DISTINCT status) AS cd_status,
       |          count(DISTINCT price) AS cd_price,
       |          count(DISTINCT odate) AS cd_odate,
       |          count(DISTINCT prio) AS cd_prio
       |        FROM fsrc GROUP BY cluster),
       |g AS (SELECT count(*) AS tg,
       |        CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS multi,
       |        CAST(sum(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT) AS single,
       |        max(sz) AS largest, CAST(sum(sz) AS BIGINT) AS sumsz,
       |        CAST(sum(CASE WHEN cd_status >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ncf_status,
       |        CAST(sum(CASE WHEN cd_price >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ncf_price,
       |        CAST(sum(CASE WHEN cd_odate >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ncf_odate,
       |        CAST(sum(CASE WHEN cd_prio >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS ncf_prio
       |      FROM per),
       |f AS (SELECT count(*) AS n, count(status) AS nn_status, count(price) AS nn_price,
       |             count(odate) AS nn_odate, count(prio) AS nn_prio FROM fsrc),
       |counts AS (SELECT cluster, status, count(*) AS cnt FROM fsrc GROUP BY cluster, status),
       |rankd AS (SELECT cluster, cnt,
       |          row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, status) AS rn
       |          FROM counts),
       |vote AS (SELECT cluster,
       |           max(CASE WHEN rn = 1 THEN cnt END) AS w,
       |           max(CASE WHEN rn = 2 THEN cnt END) AS s,
       |           sum(cnt) AS n, count(*) AS d
       |         FROM rankd GROUP BY cluster),
       |conf AS (SELECT round(CASE WHEN d = 1 THEN 1.0
       |                  WHEN w > s THEN 0.5 + CAST(w - s AS DOUBLE) / n * 0.5
       |                  ELSE 0.5 END, 5) AS c
       |         FROM vote),
       |confagg AS (SELECT count(*) AS n,
       |              CAST(sum(CASE WHEN c >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS res,
       |              CAST(sum(CASE WHEN c < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS unres,
       |              CAST(sum(CAST(round(c * 100000) AS BIGINT)) AS BIGINT) AS csum
       |            FROM conf),
       |bins AS (SELECT CASE WHEN c <= 0.2 THEN 'very_low' WHEN c <= 0.4 THEN 'low'
       |                WHEN c <= 0.6 THEN 'medium' WHEN c <= 0.8 THEN 'high'
       |                ELSE 'very_high' END AS bin, count(*) AS ng
       |         FROM conf GROUP BY 1),
       |report AS (
       |  SELECT 'group' AS section, 'total_groups' AS metric, '' AS attribute,
       |         CAST(tg AS DOUBLE) AS value FROM g
       |  UNION ALL SELECT 'group', 'multi_record_groups', '', CAST(multi AS DOUBLE) FROM g
       |  UNION ALL SELECT 'group', 'singleton_groups', '', CAST(single AS DOUBLE) FROM g
       |  UNION ALL SELECT 'group', 'largest_group_size', '', CAST(largest AS DOUBLE) FROM g
       |  UNION ALL SELECT 'group', 'average_group_size', '', CAST(sumsz AS DOUBLE) / tg FROM g
       |  UNION ALL SELECT 'attribute', 'fill_rate', 'status', CAST(nn_status AS DOUBLE) / n FROM f
       |  UNION ALL SELECT 'attribute', 'fill_rate', 'price', CAST(nn_price AS DOUBLE) / n FROM f
       |  UNION ALL SELECT 'attribute', 'fill_rate', 'odate', CAST(nn_odate AS DOUBLE) / n FROM f
       |  UNION ALL SELECT 'attribute', 'fill_rate', 'prio', CAST(nn_prio AS DOUBLE) / n FROM f
       |  UNION ALL SELECT 'attribute', 'n_conflict_groups', 'status', CAST(ncf_status AS DOUBLE) FROM g
       |  UNION ALL SELECT 'attribute', 'n_conflict_groups', 'price', CAST(ncf_price AS DOUBLE) FROM g
       |  UNION ALL SELECT 'attribute', 'n_conflict_groups', 'odate', CAST(ncf_odate AS DOUBLE) FROM g
       |  UNION ALL SELECT 'attribute', 'n_conflict_groups', 'prio', CAST(ncf_prio AS DOUBLE) FROM g
       |  UNION ALL SELECT 'attribute', 'conflict_rate', 'status', CAST(ncf_status AS DOUBLE) / tg FROM g
       |  UNION ALL SELECT 'attribute', 'conflict_rate', 'price', CAST(ncf_price AS DOUBLE) / tg FROM g
       |  UNION ALL SELECT 'attribute', 'conflict_rate', 'odate', CAST(ncf_odate AS DOUBLE) / tg FROM g
       |  UNION ALL SELECT 'attribute', 'conflict_rate', 'prio', CAST(ncf_prio AS DOUBLE) / tg FROM g
       |  UNION ALL SELECT 'group_size_dist', 'n_groups', CAST(sz AS VARCHAR),
       |                   CAST(count(*) AS DOUBLE) FROM per GROUP BY sz
       |  UNION ALL SELECT 'conflict_pattern', 'n_groups', combo,
       |                   CAST(count(*) AS DOUBLE) FROM per WHERE sz > 1 GROUP BY combo
       |  UNION ALL SELECT 'confidence', 'resolved_conflicts', '', CAST(res AS DOUBLE) FROM confagg
       |  UNION ALL SELECT 'confidence', 'unresolved_conflicts', '', CAST(unres AS DOUBLE) FROM confagg
       |  UNION ALL SELECT 'confidence', 'mean_confidence', '',
       |                   CAST(csum AS DOUBLE) / 100000.0 / n FROM confagg
       |  UNION ALL SELECT 'confidence', 'bin_count', bin, CAST(ng AS DOUBLE) FROM bins)
       |SELECT section, metric, attribute, value FROM report
       |ORDER BY section, metric, attribute""".stripMargin

  /** Pre-fusion conflict preview (analysis.py:270): the first 50 A↔B
    * pairs with every attribute whose stringified values differ. Price
    * goes through DECIMAL(18,2) so both engines render the identical
    * string (raw double→string is engine-formatted). The oracle's
    * sample join `j` is MATERIALIZED so DuckDB joins the 50-row sample
    * first: inlined, it pushed `trim(value1) <> trim(value2)` into the
    * join and built a 160.7M-row nested-loop join of A × B (~4 GB peak).
    */
  def fuseConflictsPreview(s: SparkSession, dir: String): DataFrame = {
    val src = sources(s, dir)
    def side(tag: String) = src.filter(col("src") === tag)
      .select(col("cluster"), col("status"),
        col("price").cast("decimal(18,2)").as("price"), col("odate"), col("prio"))
    val a = side("A")
    val corr = a.select(col("cluster").as("id1"), col("cluster").as("id2"),
      ((lit(90) + col("cluster") % 10).cast("double") / 100).as("score"))
    Reporting.conflictsPreview(corr, a, side("B"), "cluster",
        Seq("status", "price", "odate", "prio"), sampleSize = 50)
      .orderBy("id1", "attribute")
  }

  val fuseConflictsPreviewOracle: String =
    s"""WITH $sourcesSql,
       |a AS (SELECT cluster, status, CAST(price AS DECIMAL(18,2)) AS price,
       |             odate, prio FROM src WHERE src = 'A'),
       |b AS (SELECT cluster, status, CAST(price AS DECIMAL(18,2)) AS price,
       |             odate, prio FROM src WHERE src = 'B'),
       |corr AS (SELECT cluster AS id1, cluster AS id2,
       |                CAST(90 + cluster % 10 AS DOUBLE) / 100 AS score
       |         FROM a ORDER BY cluster LIMIT 50),
       |j AS MATERIALIZED (SELECT corr.id1, corr.id2, corr.score,
       |        a.status AS ls, a.price AS lp, a.odate AS lod, a.prio AS lpr,
       |        b.status AS rs, b.price AS rp, b.odate AS rod, b.prio AS rpr
       |      FROM corr JOIN a ON a.cluster = corr.id1
       |                JOIN b ON b.cluster = corr.id2),
       |un AS (
       |  SELECT id1, id2, score, 'status' AS attribute,
       |         CAST(ls AS VARCHAR) AS value1, CAST(rs AS VARCHAR) AS value2 FROM j
       |  UNION ALL SELECT id1, id2, score, 'price',
       |         CAST(lp AS VARCHAR), CAST(rp AS VARCHAR) FROM j
       |  UNION ALL SELECT id1, id2, score, 'odate',
       |         CAST(lod AS VARCHAR), CAST(rod AS VARCHAR) FROM j
       |  UNION ALL SELECT id1, id2, score, 'prio',
       |         CAST(lpr AS VARCHAR), CAST(rpr AS VARCHAR) FROM j)
       |SELECT * FROM un
       |WHERE value1 IS NOT NULL AND value2 IS NOT NULL
       |  AND trim(value1) <> trim(value2)
       |ORDER BY id1, attribute""".stripMargin

  /** DataFusionEvaluator with per-attribute match functions
    * (evaluation.py:46–251): the engine's fused row vs gold (= source
    * A's values) under exact / numeric_tolerance / year_only /
    * tokenized / boolean rules — one (attribute, rule, accuracy) row
    * each, all in one aggregation pass.
    */
  def fuseEvalRules(s: SparkSession, dir: String): DataFrame = {
    val fused = fuseEngine(s, dir)
    val gold = sources(s, dir).filter(col("src") === "A")
      .select(col("cluster"), col("status"), col("price"), col("odate"),
        col("prio").as("prio_longest"), col("prio").as("prio_pref"))
    Fusion.evaluateWithRules(fused, gold, "cluster", Seq(
        "status" -> "exact",
        "price" -> "numeric_tolerance:5.0",
        "odate" -> "year_only",
        "prio_longest" -> "tokenized:0.5",
        "prio_pref" -> "boolean"))
      .orderBy("attribute", "rule")
  }

  val fuseEvalRulesOracle: String =
    s"""WITH $sourcesSql,
       |counts AS (SELECT cluster, status, count(*) AS cnt FROM src GROUP BY cluster, status),
       |vote AS (SELECT cluster, status FROM (
       |  SELECT cluster, status,
       |         row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, status) AS rn
       |  FROM counts) WHERE rn = 1),
       |num AS (SELECT cluster,
       |          round(CAST(sum(CAST(round(price * 100) AS BIGINT)) AS DOUBLE) / 100.0
       |                / count(*), 5) AS price
       |        FROM src GROUP BY cluster),
       |dt AS (SELECT cluster, max(odate) AS odate FROM src GROUP BY cluster),
       |lo AS (SELECT cluster, prio AS prio_longest FROM (
       |  SELECT cluster, prio, row_number() OVER (PARTITION BY cluster
       |         ORDER BY length(prio) DESC, prio) AS rn
       |  FROM src WHERE prio IS NOT NULL) WHERE rn = 1),
       |fs AS (SELECT cluster, prio AS prio_pref FROM (
       |  SELECT cluster, prio, row_number() OVER (PARTITION BY cluster
       |         ORDER BY CASE src WHEN 'C' THEN 0 WHEN 'A' THEN 1 ELSE 2 END, src) AS rn
       |  FROM src WHERE prio IS NOT NULL) WHERE rn = 1),
       |gold AS (SELECT cluster, status AS g_status, price AS g_price, odate AS g_odate,
       |                prio AS g_prio FROM src WHERE src = 'A'),
       |j AS (SELECT * FROM vote JOIN num USING (cluster) JOIN dt USING (cluster)
       |      JOIN lo USING (cluster) JOIN fs USING (cluster) JOIN gold USING (cluster)),
       |tok AS (SELECT cluster,
       |  list_distinct(list_filter(list_transform(
       |    string_split_regex(lower(prio_longest), '\\s+'),
       |    t -> regexp_replace(t, '[!-/:-@\\[-`{-~]', '', 'g')), t -> length(t) > 0)) AS ta,
       |  list_distinct(list_filter(list_transform(
       |    string_split_regex(lower(g_prio), '\\s+'),
       |    t -> regexp_replace(t, '[!-/:-@\\[-`{-~]', '', 'g')), t -> length(t) > 0)) AS tb
       |  FROM j),
       |m AS (SELECT
       |  CASE WHEN j.status IS NULL AND j.g_status IS NULL THEN 1
       |       WHEN j.status IS NULL OR j.g_status IS NULL THEN 0
       |       WHEN j.status = j.g_status THEN 1 ELSE 0 END AS m_status,
       |  CASE WHEN j.price IS NULL AND j.g_price IS NULL THEN 1
       |       WHEN j.price IS NULL OR j.g_price IS NULL THEN 0
       |       WHEN abs(j.price - j.g_price) <= 5.0 THEN 1 ELSE 0 END AS m_price,
       |  CASE WHEN j.odate IS NULL AND j.g_odate IS NULL THEN 1
       |       WHEN j.odate IS NULL OR j.g_odate IS NULL THEN 0
       |       WHEN year(j.odate) = year(j.g_odate) THEN 1 ELSE 0 END AS m_odate,
       |  CASE WHEN len(t.ta) = 0 AND len(t.tb) = 0 THEN 1
       |       WHEN len(t.ta) = 0 OR len(t.tb) = 0 THEN 0
       |       WHEN CAST(len(list_intersect(t.ta, t.tb)) AS DOUBLE)
       |            / len(list_distinct(t.ta || t.tb)) >= 0.5 THEN 1 ELSE 0 END AS m_tok,
       |  CASE WHEN j.prio_pref IS NULL AND j.g_prio IS NULL THEN 1
       |       WHEN j.prio_pref IS NULL OR j.g_prio IS NULL THEN 0
       |       WHEN trim(lower(j.prio_pref)) = trim(lower(j.g_prio)) THEN 1 ELSE 0 END AS m_bool,
       |  1 AS one
       |  FROM j JOIN tok t USING (cluster)),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(m_status) AS BIGINT) AS c_status, CAST(sum(m_price) AS BIGINT) AS c_price,
       |  CAST(sum(m_odate) AS BIGINT) AS c_odate, CAST(sum(m_tok) AS BIGINT) AS c_tok,
       |  CAST(sum(m_bool) AS BIGINT) AS c_bool FROM m)
       |SELECT attribute, rule, n_evaluated, n_correct,
       |       round(CAST(n_correct AS DOUBLE) / greatest(n_evaluated, 1), 5) AS accuracy
       |FROM (
       |  SELECT 'odate' AS attribute, 'year_only' AS rule, n AS n_evaluated, c_odate AS n_correct FROM agg
       |  UNION ALL SELECT 'price', 'numeric_tolerance:5.0', n, c_price FROM agg
       |  UNION ALL SELECT 'prio_longest', 'tokenized:0.5', n, c_tok FROM agg
       |  UNION ALL SELECT 'prio_pref', 'boolean', n, c_bool FROM agg
       |  UNION ALL SELECT 'status', 'exact', n, c_status FROM agg)
       |ORDER BY attribute, rule""".stripMargin

  // ---- fuse_schema_compare (analysis.py:133 compare_dataset_schemas +
  //      :190 detect_attribute_conflicts) ----
  /** Three schema-divergent views of orders, all columns as strings (the
    * CSV-world inference scenario): B drops prio and corrupts price to
    * text ("... USD"), C drops price and adds clerk.
    */
  def fuseSchemaCompare(s: SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir).select(
      col("o_orderkey").cast("string").as("cluster"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").cast("string").as("price"),
      col("o_orderdate").cast("date").cast("string").as("odate"),
      col("o_orderpriority").as("prio"),
      // no clerk column in the synthetic table — derive a text-class one
      concat(lit("Clerk#"), col("o_custkey").cast("string")).as("clerk"))
    val a = base.select("cluster", "status", "price", "odate", "prio")
    val b = base.select(col("cluster"), col("status"),
      concat(col("price"), lit(" USD")).as("price"), col("odate"))
    val c = base.select("cluster", "status", "odate", "prio", "clerk")
    SchemaAnalysis.compareSchemas(Seq("A" -> a, "B" -> b, "C" -> c))
  }

  val fuseSchemaCompareOracle: String = {
    val frames = Seq(
      ("a", Seq("cluster", "status", "price", "odate", "prio")),
      ("b", Seq("cluster", "status", "price", "odate")),
      ("c", Seq("cluster", "status", "odate", "prio", "clerk")))
    def aggSql(f: String, cols: Seq[String]) = {
      val aggs = cols.map(cc =>
        s"count($cc) AS n_$cc, " +
          s"sum(CASE WHEN try_cast($cc AS DOUBLE) IS NOT NULL THEN 1 ELSE 0 END) AS num_$cc, " +
          // same rlike fast-path as the Spark side (exact parity)
          s"sum(CASE WHEN CASE WHEN regexp_matches($cc, '^\\d{4}-\\d{2}-\\d{2}$$') " +
          s"THEN try_strptime($cc, '%Y-%m-%d') " +
          s"WHEN regexp_matches($cc, '^\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}$$') " +
          s"THEN try_strptime($cc, '%Y-%m-%d %H:%M:%S') ELSE NULL END " +
          s"IS NOT NULL THEN 1 ELSE 0 END) AS dt_$cc")
        .mkString(",\n    ")
      s"agg_$f AS (SELECT $aggs FROM f_$f)"
    }
    def clsSql(f: String, cols: Seq[String]) = cols.map(cc =>
      s"SELECT upper('$f') AS source, '$cc' AS column_name, " +
        s"CASE WHEN n_$cc = 0 THEN 'empty' WHEN num_$cc = n_$cc THEN 'numeric' " +
        s"WHEN dt_$cc = n_$cc THEN 'date' ELSE 'text' END AS cls FROM agg_$f")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH fr AS (SELECT CAST(o_orderkey AS VARCHAR) AS cluster,
       |  o_orderstatus AS status, CAST(o_totalprice AS VARCHAR) AS price,
       |  CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate,
       |  o_orderpriority AS prio,
       |  'Clerk#' || CAST(o_custkey AS VARCHAR) AS clerk FROM orders),
       |f_a AS (SELECT cluster, status, price, odate, prio FROM fr),
       |f_b AS (SELECT cluster, status, price || ' USD' AS price, odate FROM fr),
       |f_c AS (SELECT cluster, status, odate, prio, clerk FROM fr),
       |${frames.map { case (f, cs) => aggSql(f, cs) }.mkString(",\n")},
       |cls AS (
       |  ${frames.map { case (f, cs) => clsSql(f, cs) }.mkString("\n  UNION ALL\n  ")}),
       |per AS (SELECT source, count(*) AS n_cols FROM cls GROUP BY source),
       |inter AS (SELECT x.source AS name1, y.source AS name2,
       |            count(*) AS n_common,
       |            CAST(sum(CASE WHEN x.cls <> y.cls THEN 1 ELSE 0 END) AS BIGINT)
       |              AS n_type_conflicts
       |          FROM cls x JOIN cls y ON x.column_name = y.column_name
       |          GROUP BY x.source, y.source)
       |SELECT p1.source AS name1, p2.source AS name2,
       |  p1.n_cols AS n_cols1, p2.n_cols AS n_cols2,
       |  coalesce(i.n_common, 0) AS n_common,
       |  CAST(coalesce(i.n_common, 0) AS DOUBLE)
       |    / (p1.n_cols + p2.n_cols - coalesce(i.n_common, 0)) AS overlap,
       |  coalesce(i.n_type_conflicts, 0) AS n_type_conflicts
       |FROM per p1 CROSS JOIN per p2
       |LEFT JOIN inter i ON i.name1 = p1.source AND i.name2 = p2.source
       |ORDER BY name1, name2""".stripMargin
  }

  /** Iterative truth discovery (TruthFinder/Yin-Han-Yu family, the
    * integer-deterministic variant): claim confidence = Σ source trust
    * over asserting sources; winner per object = argmax (ties → value
    * asc); source trust = fraction of its claims that won, in exact
    * milli. Three synchronous sweeps — each a join + two aggs over the
    * claims frame (claims persisted once; iterations are
    * source×object-bounded). Unlike `fuse_voting`'s fixed weights, the
    * trust here is LEARNED from inter-source agreement with no labels;
    * the output also scores each source against the (held-out) truth
    * so the spec can pin that learned trust ranks sources correctly.
    * Sources: A always right, B wrong on every 7th key, C on every 3rd.
    */
  def fuseTruthDiscovery(s: SparkSession, dir: String): DataFrame = {
    val iters = 3
    val base = customer(s, dir)
      .select(col("c_custkey").as("obj"), col("c_mktsegment").as("truth"))
    def claim(src: String, wrongMod: Int) =
      base.select(lit(src).as("source"), col("obj"),
        (if (wrongMod <= 0) col("truth")
         else when(col("obj") % wrongMod === 0, concat(lit("WRONG-"), col("truth")))
           .otherwise(col("truth"))).as("value"))
    val claims = claim("srcA", 0).unionAll(claim("srcB", 7)).unionAll(claim("srcC", 3))
      .persist()
    var trust = claims.select("source").distinct()
      .withColumn("trust_milli", lit(800L))
    for (_ <- 1 to iters) {
      val conf = claims.join(broadcast(trust), "source")
        .groupBy("obj", "value").agg(sum("trust_milli").as("c"))
      val win = conf.groupBy("obj")
        .agg(min(struct((-col("c")).as("nc"), col("value"))).as("m"))
        .select(col("obj"), col("m.value").as("winner"))
      trust = claims.join(win, "obj")
        .groupBy("source")
        .agg(sum(when(col("value") === col("winner"), 1L).otherwise(0L)).as("nc"),
          count(lit(1)).as("no"))
        .select(col("source"), expr("nc * 1000 div no").as("trust_milli"))
        .localCheckpoint(true)
    }
    val acc = claims.join(base, "obj").groupBy("source")
      .agg(sum(when(col("value") === col("truth"), 1L).otherwise(0L)).as("n_correct"),
        count(lit(1)).as("n_objects"))
    val out = trust.join(acc, "source")
      .select(col("source"), col("trust_milli"), col("n_correct"), col("n_objects"))
      .orderBy("source")
    claims.unpersist(false)
    out
  }

  val fuseTruthDiscoveryOracle: String = {
    val iters = 3
    val steps = (1 to iters).map { i =>
      s"""c$i AS (SELECT cl.obj, cl.value, CAST(sum(t.trust) AS BIGINT) AS c
         |  FROM claims cl JOIN t${i - 1} t USING (source) GROUP BY 1, 2),
         |w$i AS (SELECT obj, value AS winner FROM (
         |  SELECT obj, value, row_number() OVER (PARTITION BY obj ORDER BY c DESC, value) AS rn
         |  FROM c$i) WHERE rn = 1),
         |t$i AS (SELECT cl.source,
         |  CAST(sum(CASE WHEN cl.value = w.winner THEN 1 ELSE 0 END) AS BIGINT) * 1000
         |    // CAST(count(*) AS BIGINT) AS trust
         |  FROM claims cl JOIN w$i w USING (obj) GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (
       |  SELECT c_custkey AS obj, c_mktsegment AS truth FROM customer),
       |claims AS (
       |  SELECT 'srcA' AS source, obj, truth AS value FROM base
       |  UNION ALL
       |  SELECT 'srcB', obj,
       |    CASE WHEN obj % 7 = 0 THEN 'WRONG-' || truth ELSE truth END FROM base
       |  UNION ALL
       |  SELECT 'srcC', obj,
       |    CASE WHEN obj % 3 = 0 THEN 'WRONG-' || truth ELSE truth END FROM base),
       |t0 AS (SELECT DISTINCT source, CAST(800 AS BIGINT) AS trust FROM claims),
       |$steps,
       |acc AS (SELECT cl.source,
       |  CAST(sum(CASE WHEN cl.value = b.truth THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       |  CAST(count(*) AS BIGINT) AS n_objects
       |  FROM claims cl JOIN base b USING (obj) GROUP BY 1)
       |SELECT t.source, t.trust AS trust_milli, acc.n_correct, acc.n_objects
       |FROM t$iters t JOIN acc USING (source) ORDER BY source""".stripMargin
  }

  def queries: Seq[QueryDef] = Seq(
    QueryDef("fuse_truth_discovery", fuseTruthDiscovery, Some(fuseTruthDiscoveryOracle)),
    QueryDef("fuse_schema_compare", fuseSchemaCompare, Some(fuseSchemaCompareOracle)),
    QueryDef("fuse_eval_rules", fuseEvalRules, Some(fuseEvalRulesOracle)),
    QueryDef("fuse_provenance", fuseProvenance, Some(fuseProvenanceOracle)),
    QueryDef("fuse_coverage", fuseCoverage, Some(fuseCoverageOracle)),
    QueryDef("fuse_voting", fuseVoting, Some(fuseVotingOracle)),
    QueryDef("fuse_strings", fuseStrings, Some(fuseStringsOracle)),
    QueryDef("fuse_numeric", fuseNumeric, Some(fuseNumericOracle)),
    QueryDef("fuse_dates", fuseDates, Some(fuseDatesOracle)),
    QueryDef("fuse_lists", fuseLists, Some(fuseListsOracle)),
    QueryDef("fuse_engine", fuseEngine, Some(fuseEngineOracle)),
    // full fusion IS the law
    QueryDef("fuse_incremental", fuseIncremental, Some(fuseEngineOracle)),
    QueryDef("fuse_report", fuseReport, Some(fuseReportOracle)),
    QueryDef("fuse_conflicts_preview", fuseConflictsPreview, Some(fuseConflictsPreviewOracle)),
    QueryDef("fuse_eval", fuseEval, Some(fuseEvalRealOracle)),
    QueryDef("fuse_consistency", fuseConsistency, Some(fuseConsistencyOracle))
  )

  def fuseConsistency(s: SparkSession, dir: String): DataFrame =
    Fusion.consistencyReport(sources(s, dir), "cluster",
      Seq("status", "price", "odate", "prio"))

  val fuseConsistencyOracle: String = {
    def one(a: String) =
      s"""SELECT '$a' AS attribute, count(*) AS n_clusters,
         |  CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_conflicted,
         |  round(CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / greatest(count(*), 1), 5) AS conflict_share
         |FROM (SELECT cluster, count(DISTINCT $a) AS d FROM src GROUP BY cluster)""".stripMargin
    s"""WITH $sourcesSql
       |${Seq("status", "price", "odate", "prio").map(one).mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** fuse_eval oracle: fused CTEs + gold compare, single metrics row. */
  val fuseEvalRealOracle: String =
    s"""WITH $sourcesSql,
       |counts AS (SELECT cluster, status, count(*) AS cnt FROM src GROUP BY cluster, status),
       |vote AS (SELECT cluster, status FROM (
       |  SELECT cluster, status,
       |         row_number() OVER (PARTITION BY cluster ORDER BY cnt DESC, status) AS rn
       |  FROM counts) WHERE rn = 1),
       |num AS (SELECT cluster,
       |          round(CAST(sum(CAST(round(price * 100) AS BIGINT)) AS DOUBLE) / 100.0
       |                / count(*), 5) AS price
       |        FROM src GROUP BY cluster),
       |dt AS (SELECT cluster, max(odate) AS odate FROM src GROUP BY cluster),
       |fs AS (SELECT cluster, prio AS prio_pref FROM (
       |  SELECT cluster, prio, row_number() OVER (PARTITION BY cluster
       |         ORDER BY CASE src WHEN 'C' THEN 0 WHEN 'A' THEN 1 ELSE 2 END, src) AS rn
       |  FROM src WHERE prio IS NOT NULL) WHERE rn = 1),
       |gold AS (SELECT cluster, status AS g_status, price AS g_price,
       |                odate AS g_odate, prio AS g_prio FROM src WHERE src = 'A')
       |SELECT
       |  round(avg(CASE WHEN v.status = g.g_status THEN 1.0 ELSE 0.0 END), 5) AS acc_status,
       |  round(avg(CASE WHEN num.price = g.g_price THEN 1.0 ELSE 0.0 END), 5) AS acc_price,
       |  round(avg(CASE WHEN dt.odate = g.g_odate THEN 1.0 ELSE 0.0 END), 5) AS acc_odate,
       |  round(avg(CASE WHEN fs.prio_pref = g.g_prio THEN 1.0 ELSE 0.0 END), 5) AS acc_prio,
       |  count(*) AS n_clusters
       |FROM vote v JOIN num USING (cluster) JOIN dt USING (cluster)
       |     JOIN fs USING (cluster) JOIN gold g USING (cluster)""".stripMargin
}
