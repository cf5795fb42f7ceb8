package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.sims
import graft.Tables._

/** Driver contract — see SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full integration pipeline: block → compare → match → cluster →
    * fuse, one golden record per entity.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_e2e")(spark, "/root/testdata/sf0.001")

  /** Every registered query, one [[QueryDef]] per name, family by family. */
  lazy val registry: Seq[QueryDef] =
    CoreQueries.queries ++ graft.normalization.NormQueries.queries ++
      graft.blocking.BlockQueries.queries ++ graft.matching.MatchQueries.queries ++
      graft.clustering.ClusterQueries.queries ++ graft.fusion.FuseQueries.queries ++
      graft.dedup.DedupQueries.queries ++ graft.ann.AnnQueries.queries ++
      graft.text.TextQueries.queries ++ graft.io.IoQueries.queries ++
      graft.profiling.ProfileQueries.queries ++ graft.schema.SchemaQueries.queries ++
      ExtraQueries.queries ++ graft.extraction.ExtractQueries.queries ++
      graft.graph.GraphQueries.queries

  /** One entry per implemented operator from SURVEY.md §2. Each closure
    * is wrapped with [[Sessions.tune]] (idempotent, once per session) so
    * a caller invoking queries with its OWN SparkSession — the driver
    * does — still gets the parquet session conf the readers rely on,
    * without any conf mutation inside the read helpers themselves.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { d =>
      d.name -> ((s: SparkSession, dir: String) => d.run(Sessions.tune(s), dir))
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(d => d.oracle.map(d.name -> _)).toMap
}

/** TPC-H-style analytic queries proving the relational core:
  * scan → filter (pushed) → partial agg → single shuffle → sort.
  */
object CoreQueries {

  /** Q1-style pricing summary. Money math in exact integer cents so the
    * result is order-independent (see Tables.cents) — a double sum at
    * 100 TB would be nondeterministic across shuffle orders.
    */
  def q1PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_c"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("disc_e4"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
          * (lit(100L) + cents(col("l_tax")))).as("charge_e6"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("qty").as("sum_qty"),
        (sum("price_c").cast("double") / 100.0).as("sum_base_price"),
        (sum("disc_e4").cast("double") / 10000.0).as("sum_disc_price"),
        (sum("charge_e6").cast("double") / 1000000.0).as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT)) * (100 + CAST(round(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Revenue by nation: multi-way join; nation/region are broadcast. */
  def q2NationRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    val o = orders(s, dir)
    val c = customer(s, dir)
    val n = nation(s, dir)
    li.select(col("l_orderkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_e4"))
      .join(o.select("o_orderkey", "o_custkey"), col("l_orderkey") === col("o_orderkey"))
      // customer is fact-sized at scale (~1.5B rows at 100 TB) — let AQE
      // pick its join strategy; only nation (25 rows) is a safe broadcast.
      .join(c.select("c_custkey", "c_nationkey"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg((sum("rev_e4").cast("double") / 10000.0).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  val q2Oracle: String =
    """SELECT n_name,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  /** Character-level similarity kernels over adjacent customer-name
    * pairs — oracled against DuckDB's own jaro/jw/levenshtein/jaccard.
    */
  def simFunctions(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).select(col("c_custkey"), col("c_name"))
    val c1 = c.as("a")
    val c2 = c.as("b")
    c1.join(c2, col("b.c_custkey") === col("a.c_custkey") + 1)
      .select(
        col("a.c_custkey").as("id1"), col("b.c_custkey").as("id2"),
        round(sims.jaro(col("a.c_name"), col("b.c_name")), 5).as("jaro"),
        round(sims.jaroWinkler(col("a.c_name"), col("b.c_name")), 5).as("jw"),
        round(sims.levenshteinSim(col("a.c_name"), col("b.c_name")), 5).as("lev_sim"),
        round(sims.charJaccard(col("a.c_name"), col("b.c_name")), 5).as("jac_char"),
        sims.damerauLevenshtein(col("a.c_name"), col("b.c_name")).cast("long").as("dl_dist"),
        sims.hammingDist(col("a.c_name"), col("b.c_name")).cast("long").as("ham_dist"))
      .orderBy("id1")
  }

  val simOracle: String =
    """SELECT a.c_custkey AS id1, b.c_custkey AS id2,
      |  round(jaro_similarity(a.c_name, b.c_name), 5) AS jaro,
      |  round(jaro_winkler_similarity(a.c_name, b.c_name), 5) AS jw,
      |  round(CASE WHEN greatest(len(a.c_name), len(b.c_name)) = 0 THEN 1.0
      |    ELSE 1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)/greatest(len(a.c_name), len(b.c_name)) END, 5) AS lev_sim,
      |  round(jaccard(a.c_name, b.c_name), 5) AS jac_char,
      |  CAST(damerau_levenshtein(a.c_name, b.c_name) AS BIGINT) AS dl_dist,
      |  CAST(hamming(a.c_name, b.c_name) AS BIGINT) AS ham_dist
      |FROM customer a JOIN customer b ON b.c_custkey = a.c_custkey + 1
      |ORDER BY id1""".stripMargin

  /** Bin-bucketed range join (graft.operators.RangeJoin): customer
    * balances (exact cents) against 25 nation-derived bands tiling
    * [-100000, 2099999]. The equi-join on the bin id replaces the
    * BroadcastNestedLoopJoin Spark would otherwise plan for BETWEEN.
    */
  def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val points = customer(s, dir)
      .select(col("c_custkey"), cents(col("c_acctbal")).as("bal_c"))
    val bands = nation(s, dir).select(col("n_nationkey"),
      (col("n_nationkey") * 88000L - 100000L).as("lo"),
      (col("n_nationkey") * 88000L - 12001L).as("hi"))
    graft.operators.RangeJoin.pointInInterval(points, bands,
        "bal_c", "lo", "hi", binWidth = 50000L)
      .orderBy("c_custkey", "n_nationkey")
  }

  val rangeJoinOracle: String =
    """WITH p AS (SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
      |           FROM customer),
      |iv AS (SELECT n_nationkey,
      |         CAST(n_nationkey * 88000 - 100000 AS BIGINT) AS lo,
      |         CAST(n_nationkey * 88000 - 12001 AS BIGINT) AS hi
      |       FROM nation)
      |SELECT p.c_custkey, p.bal_c, iv.n_nationkey, iv.lo, iv.hi
      |FROM p JOIN iv ON p.bal_c BETWEEN iv.lo AND iv.hi
      |ORDER BY c_custkey, n_nationkey""".stripMargin

  /** Top-3 suppliers by revenue within each nation — the per-group
    * top-k window shape (rank over a keyed partition AFTER a keyed
    * pre-aggregation, so the window input is suppliers-bounded, never
    * fact-bounded — ranking raw lineitem would sort the fact table).
    * Deterministic rank: ties broken by suppkey inside the ORDER BY.
    */
  def q3TopkPerGroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = lineitem(s, dir)
    val rev = li.select(col("l_suppkey"),
        (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("rev_e4"))
      .groupBy("l_suppkey").agg(sum("rev_e4").as("rev_e4"))
    val sup = supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    val w = Window.partitionBy("s_nationkey")
      .orderBy(col("rev_e4").desc, col("s_suppkey"))
    rev.join(sup, col("l_suppkey") === col("s_suppkey"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("s_nationkey"), col("rk"), col("s_suppkey"),
        (col("rev_e4").cast("double") / 10000.0).as("revenue"))
      .orderBy("s_nationkey", "rk")
  }

  val q3Oracle: String =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS rev_e4
      |  FROM lineitem GROUP BY 1),
      |r AS (SELECT s_nationkey, s_suppkey, rev_e4,
      |        row_number() OVER (PARTITION BY s_nationkey
      |          ORDER BY rev_e4 DESC, s_suppkey) AS rk
      |      FROM rev JOIN supplier ON l_suppkey = s_suppkey)
      |SELECT s_nationkey, CAST(rk AS INT) AS rk, s_suppkey,
      |       CAST(rev_e4 AS DOUBLE) / 10000.0 AS revenue
      |FROM r WHERE rk <= 3 ORDER BY s_nationkey, rk""".stripMargin

  /** ROLLUP pricing summary — the OLAP subtotal/grand-total shape
    * (GROUPING SETS planned as ONE pass with partial aggregation, not
    * one scan per level). grouping() flags disambiguate real NULLs
    * from subtotal rows — the correctness trap rollup queries hit.
    */
  def q4Rollup(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    li.select(col("l_returnflag"), col("l_linestatus"),
        col("l_quantity").cast("long").as("qty"),
        cents(col("l_extendedprice")).as("price_c"))
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum("qty").as("sum_qty"),
        (sum("price_c").cast("double") / 100.0).as("sum_base_price"),
        count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"))
      .orderBy(col("g_flag"), col("g_status"),
        col("l_returnflag").asc_nulls_last, col("l_linestatus").asc_nulls_last)
  }

  val q4Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(CASE WHEN GROUPING(l_returnflag) THEN 1 ELSE 0 END AS BIGINT) AS g_flag,
      |  CAST(CASE WHEN GROUPING(l_linestatus) THEN 1 ELSE 0 END AS BIGINT) AS g_status
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status,
      |  l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin

  /** NOT EXISTS as a left-anti join — lapsed customers (no order since
    * 2000 — non-empty at every test sf, unlike the original 1998 cutoff
    * which was vacuous at sf0.001), rolled up per nation. The anti join is the plan Spark picks for
    * NOT EXISTS subqueries: one hash shuffle per side, no row
    * explosion, null-safe by construction (unlike NOT IN, whose
    * three-valued NULL semantics silently empty the result — the
    * classic SQL trap this query documents by NOT using it).
    */
  def q5AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val o = orders(s, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01"))
      .select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_lapsed"))
      .orderBy("c_nationkey")
  }

  val q5Oracle: String =
    """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_lapsed
      |FROM customer c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey
      |    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY 1 ORDER BY c_nationkey""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("q5_anti_join", q5AntiJoin, Some(q5Oracle)),
    QueryDef("q1_pricing_summary", q1PricingSummary, Some(q1Oracle)),
    QueryDef("q2_nation_revenue", q2NationRevenue, Some(q2Oracle)),
    QueryDef("q3_topk_per_group", q3TopkPerGroup, Some(q3Oracle)),
    QueryDef("q4_rollup", q4Rollup, Some(q4Oracle)),
    QueryDef("sim_functions", simFunctions, Some(simOracle)),
    QueryDef("range_join", rangeJoin, Some(rangeJoinOracle))
  )
}
