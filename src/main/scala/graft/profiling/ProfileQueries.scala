package graft.profiling

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._

/** Profiling queries + DuckDB oracles (SURVEY §2.2). */
object ProfileQueries {

  def profileColumns(s: SparkSession, dir: String): DataFrame =
    Profiler.profile(customer(s, dir)).orderBy("column_name")

  val profileColumnsOracle: String = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val parts = cols.map { c =>
      s"""SELECT '$c' AS column_name, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  count(DISTINCT $c) AS n_distinct,
         |  min(CAST($c AS VARCHAR)) AS min_value,
         |  max(CAST($c AS VARCHAR)) AS max_value
         |FROM customer""".stripMargin
    }
    parts.mkString("\nUNION ALL\n") + "\nORDER BY column_name"
  }

  def profileTopk(s: SparkSession, dir: String): DataFrame =
    Profiler.topK(customer(s, dir), Seq("c_mktsegment", "c_nationkey"), 3)
      .orderBy("column_name", "rnk")

  val profileTopkOracle: String = {
    def one(c: String) =
      s"""SELECT '$c' AS column_name, value, cnt, rnk FROM (
         |  SELECT CAST($c AS VARCHAR) AS value, count(*) AS cnt,
         |         row_number() OVER (ORDER BY count(*) DESC, CAST($c AS VARCHAR)) AS rnk
         |  FROM customer WHERE $c IS NOT NULL GROUP BY $c)
         |WHERE rnk <= 3""".stripMargin
    Seq("c_mktsegment", "c_nationkey").map(one).mkString("\nUNION ALL\n") +
      "\nORDER BY column_name, rnk"
  }

  /** DataProfiler.compare over the EmScenario sources: shared schema,
    * partially overlapping values (names diverge, seg/nat identical).
    */
  def profileCompare(s: SparkSession, dir: String): DataFrame = {
    import graft.blocking.EmScenario
    // Plain sides: column stats are count/distinct aggregates — no
    // comparator work, so the spread exchange was pure tax (r13 bench
    // 0.99→3.10 s with 6 re-paid exchanges in the plan)
    Profiler.compare(
        EmScenario.custLPlain(s, dir).select("name", "seg", "nat"),
        EmScenario.custRPlain(s, dir).select("name", "seg", "nat"))
      .orderBy("column_name")
  }

  val profileCompareOracle: String = {
    def side(t: String, c: String, p: String) =
      s"""SELECT count(*) AS ${p}_rows,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ${p}_nulls,
         |  count(DISTINCT $c) AS ${p}_distinct FROM $t""".stripMargin
    def one(c: String) =
      s"""SELECT '$c' AS column_name, a.*, b.*,
         |  round(CAST(i.ni AS DOUBLE) / greatest(a.a_distinct + b.b_distinct - i.ni, 1), 5)
         |    AS value_jaccard
         |FROM (${side("l", c, "a")}) a, (${side("r", c, "b")}) b,
         |     (SELECT count(*) AS ni FROM
         |        (SELECT DISTINCT CAST($c AS VARCHAR) AS v FROM l WHERE $c IS NOT NULL) x
         |        JOIN (SELECT DISTINCT CAST($c AS VARCHAR) AS v FROM r WHERE $c IS NOT NULL) y
         |        USING (v)) i""".stripMargin
    s"""${graft.blocking.EmScenario.oracleWith}
       |${Seq("name", "seg", "nat").map(one).mkString("\nUNION ALL\n")}
       |ORDER BY column_name""".stripMargin
  }

  /** Numeric describe() over lineitem quantity/discount/tax (scaled to
    * exact cents longs — see Profiler.profileNumeric's integer-sum
    * contract).
    */
  def profileNumeric(s: SparkSession, dir: String): DataFrame = {
    val l = graft.Tables.lineitem(s, dir).select(
      graft.Tables.cents(org.apache.spark.sql.functions.col("l_quantity")).as("qty_c"),
      graft.Tables.cents(org.apache.spark.sql.functions.col("l_discount")).as("disc_c"),
      graft.Tables.cents(org.apache.spark.sql.functions.col("l_tax")).as("tax_c"))
    Profiler.profileNumeric(l, Seq("qty_c", "disc_c", "tax_c"))
      .orderBy("column_name")
  }

  val profileNumericOracle: String = {
    def one(c: String) =
      s"""SELECT '$c' AS column_name, count($c) AS n,
         |  CAST(sum($c) AS BIGINT) AS s, CAST(sum($c*$c) AS BIGINT) AS s2,
         |  min($c) AS mn, max($c) AS mx,
         |  quantile_cont($c, 0.25) AS q25, quantile_cont($c, 0.5) AS q50,
         |  quantile_cont($c, 0.75) AS q75
         |FROM t""".stripMargin
    s"""WITH t AS (SELECT CAST(round(l_quantity*100) AS BIGINT) AS qty_c,
       |             CAST(round(l_discount*100) AS BIGINT) AS disc_c,
       |             CAST(round(l_tax*100) AS BIGINT) AS tax_c FROM lineitem),
       |p AS (${Seq("qty_c", "disc_c", "tax_c").map(one).mkString("\nUNION ALL\n")})
       |SELECT column_name, n,
       |  CAST(s AS DOUBLE) / n AS mean,
       |  sqrt((CAST(n AS DOUBLE) * s2 - CAST(s AS DOUBLE) * s)
       |       / (CAST(n AS DOUBLE) * (n - 1.0))) AS std,
       |  CAST(mn AS DOUBLE) AS min_value, q25, q50 AS median, q75,
       |  CAST(mx AS DOUBLE) AS max_value
       |FROM p ORDER BY column_name""".stripMargin
  }

  /** 20-bin equi-width histogram of customer balance cents
    * (Profiler.histogram — exact long binning).
    */
  def profileHistogram(s: SparkSession, dir: String): DataFrame =
    Profiler.histogram(
        customer(s, dir).select(cents(col("c_acctbal")).as("balc")),
        "balc", 20)
      .orderBy("bin")

  val profileHistogramOracle: String =
    """WITH c AS (SELECT CAST(round(c_acctbal*100) AS BIGINT) AS balc FROM customer),
      |s AS (SELECT min(balc) AS lo, max(balc) AS hi FROM c)
      |SELECT ((c.balc - s.lo) * 20) // (s.hi - s.lo + 1) AS bin,
      |       CAST(count(*) AS BIGINT) AS n,
      |       min(c.balc) AS bin_min, max(c.balc) AS bin_max
      |FROM c, s GROUP BY 1 ORDER BY bin""".stripMargin

  /** Pearson correlation matrix over lineitem qty/price/disc/tax cents
    * (Profiler.correlation — exact decimal(38) sums, IEEE-circuit
    * ratios; price×price per-row products peak ~1.1e14, well inside
    * long).
    */
  def profileCorrelation(s: SparkSession, dir: String): DataFrame = {
    val l = lineitem(s, dir).select(
      cents(col("l_quantity")).as("qty_c"),
      cents(col("l_extendedprice")).as("price_c"),
      cents(col("l_discount")).as("disc_c"),
      cents(col("l_tax")).as("tax_c"))
    Profiler.correlation(l, Seq("qty_c", "price_c", "disc_c", "tax_c"))
      .orderBy("col_x", "col_y")
  }

  val profileCorrelationOracle: String = {
    val cols = Seq("qty_c", "price_c", "disc_c", "tax_c")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j }
      yield (cols(i), cols(j))
    val sums = cols.flatMap(c => Seq(
      s"CAST(sum($c) AS DOUBLE) AS s_$c",
      s"CAST(sum($c*$c) AS DOUBLE) AS s2_$c")) ++
      pairs.map { case (a, b) => s"CAST(sum($a*$b) AS DOUBLE) AS x_${a}_$b" }
    val parts = pairs.map { case (a, b) =>
      val den = s"(sqrt(nd * s2_$a - s_$a * s_$a) * sqrt(nd * s2_$b - s_$b * s_$b))"
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  CASE WHEN $den = 0 THEN NULL
         |       ELSE (nd * x_${a}_$b - s_$a * s_$b) / $den END AS corr
         |FROM a""".stripMargin
    }
    s"""WITH t AS (SELECT CAST(round(l_quantity*100) AS BIGINT) AS qty_c,
       |             CAST(round(l_extendedprice*100) AS BIGINT) AS price_c,
       |             CAST(round(l_discount*100) AS BIGINT) AS disc_c,
       |             CAST(round(l_tax*100) AS BIGINT) AS tax_c FROM lineitem),
       |a AS (SELECT count(*) AS n, CAST(count(*) AS DOUBLE) AS nd,
       |        ${sums.mkString(",\n        ")}
       |      FROM t)
       |${parts.mkString("\nUNION ALL\n")}
       |ORDER BY col_x, col_y""".stripMargin
  }

  /** Pairwise categorical dependence: MI(l_returnflag, l_linestatus)
    * (strongly dependent — both follow shipdate) stacked with
    * MI(c_mktsegment, c_nationkey) (independent by construction).
    */
  def profileMi(s: SparkSession, dir: String): DataFrame = {
    val a = Profiler.mutualInformation(
      lineitem(s, dir), "l_returnflag", "l_linestatus")
    val b = Profiler.mutualInformation(
      customer(s, dir), "c_mktsegment", "c_nationkey")
    a.unionByName(b).orderBy("col_x")
  }

  private def miOracleFor(p: String, table: String,
                          x: String, y: String): String = {
    import graft.functions.DetMath
    s"""${p}c AS (SELECT $x AS vx, $y AS vy, CAST(count(*) AS BIGINT) AS cxy
       |       FROM $table GROUP BY 1, 2),
       |${p}mx AS (SELECT vx, CAST(sum(cxy) AS BIGINT) AS cx FROM ${p}c GROUP BY 1),
       |${p}my AS (SELECT vy, CAST(sum(cxy) AS BIGINT) AS cy FROM ${p}c GROUP BY 1),
       |${p}nn AS (SELECT CAST(sum(cxy) AS BIGINT) AS n FROM ${p}c),
       |${p}j AS (SELECT cxy, n, (cxy * n) AS num, (cx * cy) AS den
       |       FROM ${p}c JOIN ${p}mx USING (vx) JOIN ${p}my USING (vy), ${p}nn),
       |${p}rr AS (SELECT cxy, n, (num >= den) AS pos,
       |        CASE WHEN num >= den
       |             THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
       |             ELSE CAST(den AS DOUBLE) / CAST(num AS DOUBLE) END AS ratio
       |        FROM ${p}j),
       |${DetMath.sqlLnCtes(s"${p}ln", s"${p}rr", "cxy, n, pos", "ratio")},
       |${p}mi AS (SELECT '${x}' AS col_x, '${y}' AS col_y,
       |        CAST(max(n) AS BIGINT) AS n,
       |        CAST(sum(cxy * CAST(floor((CASE WHEN pos THEN lnv ELSE -lnv END)
       |          * 1000000000.0) AS BIGINT)) AS BIGINT) AS mi_scaled
       |        FROM ${p}ln)""".stripMargin
  }

  val profileMiOracle: String =
    s"""WITH ${miOracleFor("a", "lineitem", "l_returnflag", "l_linestatus")},
       |${miOracleFor("b", "customer", "c_mktsegment", "c_nationkey")},
       |u AS (SELECT * FROM ami UNION ALL SELECT * FROM bmi)
       |SELECT col_x, col_y, n, mi_scaled,
       |  (CAST(mi_scaled AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000000.0)) AS mi
       |FROM u ORDER BY col_x""".stripMargin

  /** DataProfiler.summary over customer with one column nullified for
    * negative balances — so the null counters are exercised (TPC-H data
    * carries no nulls of its own).
    */
  def profileSummary(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).select(
      col("c_custkey"), col("c_name"),
      when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal"))
        .as("acctbal_pos"),
      col("c_mktsegment"))
    Profiler.summary(c).orderBy("column_name")
  }

  val profileSummaryOracle: String = {
    val dtypes = Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "acctbal_pos" -> "double", "c_mktsegment" -> "string")
    val totalExpr = dtypes.map { case (c, _) =>
      s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)" }.mkString(" + ")
    val parts = dtypes.map { case (c, t) =>
      s"""SELECT '$c' AS column_name, '$t' AS dtype,
         |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
         |  count(*) AS n_rows, CAST(4 AS BIGINT) AS n_cols,
         |  (SELECT CAST($totalExpr AS BIGINT) FROM t) AS nulls_total
         |FROM t""".stripMargin
    }
    s"""WITH t AS (SELECT c_custkey, c_name,
       |             CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS acctbal_pos,
       |             c_mktsegment FROM customer)
       |${parts.mkString("\nUNION ALL\n")}
       |ORDER BY column_name""".stripMargin
  }

  /** Exact global percentiles of the two money-scale fact columns by
    * distributed selection (see [[Profiler.quantilesDisc]]) — the
    * operational-profiling face of the family: p50/p90/p99/p999 of
    * order value and line price with NO single-task percentile
    * buffer. Output is 2·|qs| rows at any data size.
    */
  def profileQuantiles(s: SparkSession, dir: String): DataFrame = {
    val qs = Seq(100, 250, 500, 750, 900, 990, 999)
    Profiler.quantilesDisc(lineitem(s, dir), "l_extendedprice_cents",
        cents(col("l_extendedprice")), qs)
      .unionByName(Profiler.quantilesDisc(orders(s, dir), "o_totalprice_cents",
        cents(col("o_totalprice")), qs))
      .orderBy("column_name", "q_milli")
  }

  val profileQuantilesOracle: String = {
    // same integer rank law as the engine: rank = max(1, ceil(q·n/1000))
    def one(table: String, c: String, label: String) =
      s"""SELECT '$label' AS column_name, q_milli, value FROM (
         |  SELECT q_milli,
         |         greatest((q_milli * n.c + 999) // 1000, 1) AS target
         |  FROM (SELECT unnest([100, 250, 500, 750, 900, 990, 999]) AS q_milli),
         |       (SELECT count(*) AS c FROM $table) n) t
         |JOIN (SELECT CAST(round($c * 100) AS BIGINT) AS value,
         |             row_number() OVER (ORDER BY CAST(round($c * 100) AS BIGINT)) AS rk
         |      FROM $table) r ON r.rk = t.target""".stripMargin
    one("lineitem", "l_extendedprice", "l_extendedprice_cents") +
      "\nUNION ALL\n" +
      one("orders", "o_totalprice", "o_totalprice_cents") +
      "\nORDER BY column_name, q_milli"
  }

  /** PSI drift between a baseline snapshot and a shifted one (the
    * "new scraper appends 40 chars of boilerplate" story): snapshot A
    * = documents.n_chars, snapshot B = n_chars + 40. The planted
    * shift makes the monitor fire visibly; the per-bin frame and the
    * exact detLn circuit replay bit-for-bit in the oracle.
    */
  def profileDrift(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val snap = d.select(lit(true).as("in_a"), col("n_chars").as("v"))
      .unionByName(d.select(lit(false).as("in_a"), (col("n_chars") + 40L).as("v")))
    Profiler.psiDrift(snap, col("in_a"), col("v"), bins = 10).orderBy("bin")
  }

  val profileDriftOracle: String = {
    import graft.functions.DetMath
    s"""WITH base AS (
       |  SELECT TRUE AS a, n_chars AS v FROM documents
       |  UNION ALL SELECT FALSE, n_chars + 40 FROM documents),
       |stats AS (SELECT min(v) AS mn, max(v) AS mx,
       |            CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |            CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS nb
       |          FROM base),
       |counts AS (SELECT ((v - mn) * 10) // (mx - mn + 1) AS bin,
       |             CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |             CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       |           FROM base, stats GROUP BY 1),
       |filled AS (SELECT g.bin, coalesce(c.n_a, 0) AS n_a, coalesce(c.n_b, 0) AS n_b,
       |             s.na, s.nb
       |           FROM (SELECT unnest(range(0, 10)) AS bin) g
       |           LEFT JOIN counts c ON c.bin = g.bin, stats s),
       |${DetMath.sqlLnCtes("l1", "filled", "bin, n_a, n_b, na, nb",
            "CAST(n_a + 1 AS DOUBLE)")},
       |r1 AS (SELECT bin, n_a, n_b, na, nb, lnv AS la FROM l1),
       |${DetMath.sqlLnCtes("l2", "r1", "bin, n_a, n_b, na, nb, la",
            "CAST(n_b + 1 AS DOUBLE)")},
       |r2 AS (SELECT bin, n_a, n_b, na, nb, la, lnv AS lb FROM l2),
       |${DetMath.sqlLnCtes("l3", "r2", "bin, n_a, n_b, na, nb, la, lb",
            "CAST(na + 10 AS DOUBLE)")},
       |r3 AS (SELECT bin, n_a, n_b, na, nb, la, lb, lnv AS lna FROM l3),
       |${DetMath.sqlLnCtes("l4", "r3", "bin, n_a, n_b, na, nb, la, lb, lna",
            "CAST(nb + 10 AS DOUBLE)")},
       |r4 AS (SELECT bin, n_a, n_b, na, nb, la, lb, lna, lnv AS lnb FROM l4),
       |per AS (SELECT bin, n_a, n_b,
       |          CAST(floor(((CAST(n_a + 1 AS DOUBLE) / (na + 10))
       |                      - (CAST(n_b + 1 AS DOUBLE) / (nb + 10)))
       |                     * (la - lb - lna + lnb) * 1e12) AS BIGINT)
       |            AS psi_contrib_scaled
       |        FROM r4),
       |tot AS (SELECT CAST(sum(psi_contrib_scaled) AS BIGINT) AS psi_total_scaled
       |        FROM per)
       |SELECT per.bin, per.n_a, per.n_b, per.psi_contrib_scaled,
       |  tot.psi_total_scaled,
       |  CAST(tot.psi_total_scaled AS DOUBLE) / 1e12 AS psi
       |FROM per, tot
       |ORDER BY per.bin""".stripMargin
  }

  /** Column set for the FD-discovery demo: orders carries real FDs
    * (o_orderkey → everything) next to non-FDs in both directions.
    */
  val FdCols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** Exact functional-dependency discovery over the orders column set
    * (Profiler.functionalDeps): every ordered pair checked in one scan.
    */
  def profileFd(s: SparkSession, dir: String): DataFrame =
    Profiler.functionalDeps(graft.Tables.orders(s, dir), FdCols)

  val profileFdOracle: String = Profiler.sqlFunctionalDeps("orders", FdCols)

  /** (attr label, table, column) refs for the IND/FK-discovery demo:
    * the real TPC-H foreign keys (o_custkey → c_custkey, c/s_nationkey
    * → n_nationkey, n_regionkey → r_regionkey) next to the reverse
    * directions, which mostly do NOT hold (customers without orders).
    */
  val IndRefs = Seq(
    ("orders.o_custkey", "orders", "o_custkey"),
    ("customer.c_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey", "customer", "c_nationkey"),
    ("supplier.s_nationkey", "supplier", "s_nationkey"),
    ("nation.n_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey", "nation", "n_regionkey"),
    ("region.r_regionkey", "region", "r_regionkey"))

  /** Cross-table inclusion-dependency discovery (Profiler.inclusionDeps)
    * over the TPC-H key columns — finds every FK edge of the schema.
    */
  def profileInd(s: SparkSession, dir: String): DataFrame =
    Profiler.inclusionDeps(IndRefs.map { case (attr, table, c) =>
      (attr, graft.Tables.t(s, dir, table), c)
    })

  val profileIndOracle: String = Profiler.sqlInclusionDeps(IndRefs)

  /** Deequ-style constraint suite over orders: completeness,
    * key uniqueness, domain membership, bounds — one scan, exact milli
    * metrics; the under-200k bound is a deliberately failing check so
    * the output demonstrates both verdicts.
    */
  def profileChecks(s: SparkSession, dir: String): DataFrame =
    Profiler.checkSuite(graft.Tables.orders(s, dir), Seq(
      ("custkey_complete", count(col("o_custkey")), 1000L),
      ("orderkey_unique", countDistinct(col("o_orderkey")), 1000L),
      ("status_in_domain",
        sum(when(col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L)), 1000L),
      ("totalprice_nonneg",
        sum(when(col("o_totalprice") >= 0, 1L).otherwise(0L)), 1000L),
      ("totalprice_under_200k",
        sum(when(col("o_totalprice") < 200000.0, 1L).otherwise(0L)), 1000L)))

  val profileChecksOracle: String = Profiler.sqlCheckSuite("orders", Seq(
    ("custkey_complete", "CAST(count(o_custkey) AS BIGINT)", 1000L),
    ("orderkey_unique", "CAST(count(DISTINCT o_orderkey) AS BIGINT)", 1000L),
    ("status_in_domain",
      "CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT)", 1000L),
    ("totalprice_nonneg",
      "CAST(sum(CASE WHEN o_totalprice >= 0 THEN 1 ELSE 0 END) AS BIGINT)", 1000L),
    ("totalprice_under_200k",
      "CAST(sum(CASE WHEN o_totalprice < 200000.0 THEN 1 ELSE 0 END) AS BIGINT)", 1000L)))

  /** k-anonymity audit (k = 5) over the (nationkey, mktsegment)
    * quasi-identifier: equivalence-class-size histogram + the at-risk
    * row count — the governance check before releasing a dataset with
    * quasi-identifiers. Two aggs, classes-bounded intermediate; at
    * 100 TB the class frame is |QI-domain|-bounded, never row-bounded.
    */
  def profileKanon(s: SparkSession, dir: String): DataFrame = {
    val k = 5L
    val classes = customer(s, dir)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("class_size"))
    classes.agg(
      count(lit(1)).as("n_classes"),
      sum(when(col("class_size") < k, 1L).otherwise(0L)).as("n_small_classes"),
      sum(when(col("class_size") < k, col("class_size")).otherwise(0L)).as("n_rows_at_risk"),
      min("class_size").as("min_class_size"),
      max("class_size").as("max_class_size"),
      sum("class_size").as("n_rows"))
  }

  val profileKanonOracle: String =
    """WITH c AS (
      |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size
      |  FROM customer GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
      |  CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      |  min(class_size) AS min_class_size,
      |  max(class_size) AS max_class_size,
      |  CAST(sum(class_size) AS BIGINT) AS n_rows
      |FROM c""".stripMargin

  /** l-diversity audit (l = 3) over the same QI set as
    * [[profileKanon]], with account-balance sign+bucket as the
    * sensitive attribute: a QI class is l-diverse iff it contains ≥ l
    * DISTINCT sensitive values — k-anonymity alone does not stop
    * attribute disclosure when a large class is homogeneous (the
    * classic homogeneity attack, Machanavajjhala et al. 2007). ONE
    * groupBy(QI) with count + countDistinct(sensitive) — same
    * |QI-domain|-bounded shape as the k-anon audit, never row-bounded.
    */
  def profileLdiv(s: SparkSession, dir: String): DataFrame = {
    val l = 3L
    val sens = (col("c_acctbal") < 0).cast("long") * 10 +
      floor(col("c_acctbal") / lit(2000.0)).cast("long")
    val classes = customer(s, dir)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("class_size"),
        countDistinct(sens).as("n_sensitive"))
    classes.agg(
      count(lit(1)).as("n_classes"),
      sum(when(col("n_sensitive") < l, 1L).otherwise(0L)).as("n_undiverse_classes"),
      sum(when(col("n_sensitive") < l, col("class_size")).otherwise(0L))
        .as("n_rows_at_risk"),
      min("n_sensitive").as("min_diversity"),
      max("n_sensitive").as("max_diversity"))
  }

  val profileLdivOracle: String =
    """WITH c AS (
      |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size,
      |    CAST(count(DISTINCT CAST(c_acctbal < 0 AS BIGINT) * 10 +
      |      CAST(floor(c_acctbal / 2000.0) AS BIGINT)) AS BIGINT) AS n_sensitive
      |  FROM customer GROUP BY 1, 2)
      |SELECT CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_undiverse_classes,
      |  CAST(sum(CASE WHEN n_sensitive < 3 THEN class_size ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
      |  min(n_sensitive) AS min_diversity,
      |  max(n_sensitive) AS max_diversity
      |FROM c""".stripMargin

  /** t-closeness audit (t = 0.2) — the third member of the privacy
    * trio over the SAME QI set as [[profileKanon]]/[[profileLdiv]]:
    * l-diversity still leaks when a class's sensitive values are
    * diverse but SKEWED relative to the population (the skewness
    * attack, Li-Li-Venkatasubramanian ICDE'07); t-closeness bounds the
    * Earth-Mover's Distance between each class's sensitive-attribute
    * distribution and the global one. For an ORDERED domain (balance
    * buckets, the ldiv sensitive law's bucket face) the 1-D EMD has a
    * closed form — mean |prefix sum of probability differences| over
    * the sorted domain, normalized by (m−1) — and with counts kept as
    * counts it is EXACT INTEGER: diff_b = c_b·N − g_b·n (common
    * denominator n·N), emd_milli = 1000·Σ|prefix| div ((m−1)·n·N).
    * Shape: one groupBy(QI, bucket) + a classes×domain grid (both
    * QI-domain-bounded, never row-bounded) + one windowed prefix sum.
    * Longs hold to ~10⁹ rows (c·N ≤ N²); past that route the products
    * through decimal(38) like the join-size estimator.
    */
  def profileTclose(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.profiling.Sketches.idiv
    val tMilli = 200L
    val b = floor(col("c_acctbal") / lit(1000.0)).cast("long").as("b")
    val base = customer(s, dir).select(col("c_nationkey").as("nat"),
      col("c_mktsegment").as("seg"), b)
    val global = base.groupBy("b").agg(count(lit(1)).as("g"))
    val classes = base.groupBy("nat", "seg").agg(count(lit(1)).as("n"))
    val cb = base.groupBy("nat", "seg", "b").agg(count(lit(1)).as("c"))
    // tiny frames after the aggs: domain m ≈ 11 buckets, classes =
    // |nations × segments|; the grid is their cross join with zero fill
    val tot = global.agg(sum(col("g")).as("nt"), count(lit(1)).as("m"))
    val grid = classes.crossJoin(broadcast(global))
      .join(cb, Seq("nat", "seg", "b"), "left")
      .select(col("nat"), col("seg"), col("n"), col("b"), col("g"),
        coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy(col("nat"), col("seg")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perClass = grid.crossJoin(broadcast(tot))
      .withColumn("_pfx", sum(col("c") * col("nt") - col("g") * col("n")).over(w))
      .groupBy(col("nat"), col("seg"), col("n"), col("nt"), col("m"))
      .agg(sum(abs(col("_pfx"))).as("_sum"))
      .select(col("nat"), col("seg"), col("n"),
        idiv(col("_sum") * 1000L, (col("m") - 1L) * col("n") * col("nt"))
          .as("emd_milli"))
    perClass.agg(
      count(lit(1)).as("n_classes"),
      sum(when(col("emd_milli") > tMilli, 1L).otherwise(0L))
        .as("n_skewed_classes"),
      sum(when(col("emd_milli") > tMilli, col("n")).otherwise(0L))
        .as("n_rows_at_risk"),
      min("emd_milli").as("min_emd_milli"),
      max("emd_milli").as("max_emd_milli"))
  }

  val profileTcloseOracle: String =
    """WITH base AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b
      |  FROM customer),
      |global AS (SELECT b, CAST(count(*) AS BIGINT) AS g FROM base GROUP BY b),
      |tot AS (SELECT CAST(sum(g) AS BIGINT) AS nt,
      |               CAST(count(*) AS BIGINT) AS m FROM global),
      |classes AS (SELECT nat, seg, CAST(count(*) AS BIGINT) AS n
      |            FROM base GROUP BY nat, seg),
      |cb AS (SELECT nat, seg, b, CAST(count(*) AS BIGINT) AS c
      |       FROM base GROUP BY nat, seg, b),
      |grid AS (SELECT cl.nat, cl.seg, cl.n, gl.b, gl.g,
      |                coalesce(cb.c, 0) AS c
      |         FROM classes cl CROSS JOIN global gl
      |         LEFT JOIN cb ON cb.nat = cl.nat AND cb.seg = cl.seg AND cb.b = gl.b),
      |pfx AS (SELECT nat, seg, n, m, nt,
      |          sum(c * nt - g * n) OVER (PARTITION BY nat, seg ORDER BY b
      |            ROWS UNBOUNDED PRECEDING) AS p
      |        FROM grid, tot),
      |per AS (SELECT nat, seg, n,
      |          CAST(CAST(sum(abs(p)) AS HUGEINT) * 1000
      |               // ((m - 1) * n * nt) AS BIGINT) AS emd_milli
      |        FROM pfx GROUP BY nat, seg, n, m, nt)
      |SELECT CAST(count(*) AS BIGINT) AS n_classes,
      |  CAST(sum(CASE WHEN emd_milli > 200 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_skewed_classes,
      |  CAST(sum(CASE WHEN emd_milli > 200 THEN n ELSE 0 END) AS BIGINT)
      |    AS n_rows_at_risk,
      |  min(emd_milli) AS min_emd_milli,
      |  max(emd_milli) AS max_emd_milli
      |FROM per""".stripMargin

  /** The privacy RELEASE GATE — the decision step over the audit trio
    * (the threshold-pick idiom applied to governance): one row that
    * says whether the quasi-identified view may ship, from the three
    * audits a release review actually runs — k-anonymity (re-identi-
    * fication), l-diversity (homogeneity attack), t-closeness
    * (skewness attack). Each audit is already a 1-row summary; the
    * gate is their cross join (1×1×1) plus the decision flags, so the
    * whole check costs three QI-bounded aggregation passes at any row
    * count. A release gate must FAIL CLOSED: `release_ok` is true only
    * when every audit passes outright.
    */
  def profilePrivacyGate(s: SparkSession, dir: String): DataFrame = {
    val kanon = profileKanon(s, dir)
      .select(col("n_small_classes"), col("n_rows_at_risk").as("kanon_rows_at_risk"))
    val ldiv = profileLdiv(s, dir)
      .select(col("n_undiverse_classes"),
        col("n_rows_at_risk").as("ldiv_rows_at_risk"))
    val tclose = profileTclose(s, dir)
      .select(col("n_skewed_classes"),
        col("n_rows_at_risk").as("tclose_rows_at_risk"))
    kanon.crossJoin(ldiv).crossJoin(tclose) // 1 row × 1 row × 1 row
      .select(
        lit(5L).as("k"), lit(3L).as("l"), lit(200L).as("t_milli"),
        col("kanon_rows_at_risk"), col("ldiv_rows_at_risk"),
        col("tclose_rows_at_risk"),
        (col("n_small_classes") === 0L).as("kanon_ok"),
        (col("n_undiverse_classes") === 0L).as("ldiv_ok"),
        (col("n_skewed_classes") === 0L).as("tclose_ok"),
        (col("n_small_classes") === 0L && col("n_undiverse_classes") === 0L
          && col("n_skewed_classes") === 0L).as("release_ok"))
  }

  val profilePrivacyGateOracle: String =
    """WITH kc AS (
      |  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size,
      |    CAST(count(DISTINCT CAST(c_acctbal < 0 AS BIGINT) * 10 +
      |      CAST(floor(c_acctbal / 2000.0) AS BIGINT)) AS BIGINT) AS n_sensitive
      |  FROM customer GROUP BY 1, 2),
      |ka AS (SELECT CAST(sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_small,
      |       CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT)
      |         AS kanon_rows_at_risk
      |       FROM kc),
      |ld AS (SELECT CAST(sum(CASE WHEN n_sensitive < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_undiverse,
      |       CAST(sum(CASE WHEN n_sensitive < 3 THEN class_size ELSE 0 END) AS BIGINT)
      |         AS ldiv_rows_at_risk
      |       FROM kc),
      |base AS (
      |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
      |         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b
      |  FROM customer),
      |global AS (SELECT b, CAST(count(*) AS BIGINT) AS g FROM base GROUP BY b),
      |tot AS (SELECT CAST(sum(g) AS BIGINT) AS nt,
      |               CAST(count(*) AS BIGINT) AS m FROM global),
      |classes AS (SELECT nat, seg, CAST(count(*) AS BIGINT) AS n
      |            FROM base GROUP BY nat, seg),
      |cb AS (SELECT nat, seg, b, CAST(count(*) AS BIGINT) AS c
      |       FROM base GROUP BY nat, seg, b),
      |grid AS (SELECT cl.nat, cl.seg, cl.n, gl.b, gl.g,
      |                coalesce(cb.c, 0) AS c
      |         FROM classes cl CROSS JOIN global gl
      |         LEFT JOIN cb ON cb.nat = cl.nat AND cb.seg = cl.seg AND cb.b = gl.b),
      |pfx AS (SELECT nat, seg, n, m, nt,
      |          sum(c * nt - g * n) OVER (PARTITION BY nat, seg ORDER BY b
      |            ROWS UNBOUNDED PRECEDING) AS p
      |        FROM grid, tot),
      |per AS (SELECT nat, seg, n,
      |          CAST(CAST(sum(abs(p)) AS HUGEINT) * 1000
      |               // ((m - 1) * n * nt) AS BIGINT) AS emd_milli
      |        FROM pfx GROUP BY nat, seg, n, m, nt),
      |tc AS (SELECT CAST(sum(CASE WHEN emd_milli > 200 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_skewed,
      |       CAST(sum(CASE WHEN emd_milli > 200 THEN n ELSE 0 END) AS BIGINT)
      |         AS tclose_rows_at_risk
      |       FROM per)
      |SELECT CAST(5 AS BIGINT) AS k, CAST(3 AS BIGINT) AS l,
      |  CAST(200 AS BIGINT) AS t_milli,
      |  kanon_rows_at_risk, ldiv_rows_at_risk, tclose_rows_at_risk,
      |  n_small = 0 AS kanon_ok, n_undiverse = 0 AS ldiv_ok,
      |  n_skewed = 0 AS tclose_ok,
      |  (n_small = 0 AND n_undiverse = 0 AND n_skewed = 0) AS release_ok
      |FROM ka, ld, tc""".stripMargin

  /** Benford's-law first-digit audit over order totals — the classic
    * fabricated-numbers screen (forensic accounting, synthetic-data
    * detection). First significant digit via string head of the cents
    * integer (no float log10 — engine-exact); observed per-digit counts
    * + exact-milli frequencies next to the Benford expectation
    * (log10(1+1/d), constant-folded as literal milli values so no
    * runtime transcendental). ONE scan, 9-row output at any scale.
    */
  def profileBenford(s: SparkSession, dir: String): DataFrame = {
    // 1000 * log10(1 + 1/d), d = 1..9 — fixed constants of the law
    val benfordMilli = Seq(301L, 176L, 124L, 96L, 79L, 66L, 57L, 51L, 45L)
    val exp = element_at(array(benfordMilli.map(lit): _*),
      col("digit").cast("int"))
    val d = graft.Tables.orders(s, dir)
      .select(substring(graft.Tables.cents(col("o_totalprice")).cast("string"), 1, 1)
        .as("digit"))
      // the law is defined on significant digits only: a zero total
      // yields digit '0' (element_at index 0 throws), a negative yields
      // '-' — degenerate rows drop out instead of failing the stage
      .filter(col("digit").between("1", "9"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = d.agg(sum("n").as("total"))
    d.crossJoin(broadcast(tot)) // 1-row stats frame
      .select(col("digit"), col("n"),
        expr("n * 1000 div total").as("freq_milli"),
        exp.as("benford_milli"))
      .withColumn("dev_milli", abs(col("freq_milli") - col("benford_milli")))
      .orderBy("digit")
  }

  val profileBenfordOracle: String =
    """WITH d AS (
      |  SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM orders GROUP BY 1 HAVING digit BETWEEN '1' AND '9'),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM d)
      |SELECT digit, n, n * 1000 // total AS freq_milli,
      |  CAST(CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176 WHEN '3' THEN 124
      |       WHEN '4' THEN 96 WHEN '5' THEN 79 WHEN '6' THEN 66 WHEN '7' THEN 57
      |       WHEN '8' THEN 51 WHEN '9' THEN 45 END AS BIGINT) AS benford_milli,
      |  abs(n * 1000 // total -
      |      CAST(CASE digit WHEN '1' THEN 301 WHEN '2' THEN 176 WHEN '3' THEN 124
      |       WHEN '4' THEN 96 WHEN '5' THEN 79 WHEN '6' THEN 66 WHEN '7' THEN 57
      |       WHEN '8' THEN 51 WHEN '9' THEN 45 END AS BIGINT)) AS dev_milli
      |FROM d, t ORDER BY digit""".stripMargin

  /** CountMin heavy hitters (Sketches.cmsCounters — SURVEY §2.12): the
    * top-20 users by event count, with the exact count alongside the
    * CMS point estimate (d=4 rows × w=512 buckets). The counter build
    * is one map-side-combined pass whose shuffle payload is ≤ d·w
    * cells; the estimate lookup broadcasts the counter table. CMS
    * never underestimates — Round10Spec pins the bound and the
    * shard-merge law.
    */
  def profileCmsTopk(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, dir)
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("exact_cnt"))
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("exact_cnt").desc, col("user_id")))
          .cast("long"))
      .filter(col("rnk") <= 20)
    val counters = Sketches.cmsCounters(ev, col("user_id"), d = 4, w = 512)
    Sketches.cmsEstimate(counters, top.select("user_id"), "user_id", d = 4, w = 512)
      .join(top, "user_id")
      .select("user_id", "exact_cnt", "cms_cnt", "rnk")
      .orderBy("rnk")
  }

  val profileCmsTopkOracle: String =
    """WITH cnt AS (
      |  SELECT j, ('0x'||substr(md5('cms'||j||'#'||CAST(user_id AS VARCHAR)),1,13))::BIGINT % 512 AS bucket,
      |         CAST(count(*) AS BIGINT) AS c
      |  FROM events, range(0,4) t(j) GROUP BY 1, 2),
      |top AS (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt,
      |         row_number() OVER (ORDER BY count(*) DESC, user_id) AS rnk
      |  FROM events GROUP BY user_id ORDER BY exact_cnt DESC, user_id LIMIT 20),
      |est AS (
      |  SELECT top.user_id, min(c) AS cms_cnt
      |  FROM top, range(0,4) t(j)
      |  JOIN cnt ON cnt.j = t.j
      |    AND cnt.bucket = ('0x'||substr(md5('cms'||t.j||'#'||CAST(top.user_id AS VARCHAR)),1,13))::BIGINT % 512
      |  GROUP BY top.user_id)
      |SELECT top.user_id, top.exact_cnt, est.cms_cnt, CAST(top.rnk AS BIGINT) AS rnk
      |FROM top JOIN est USING (user_id) ORDER BY rnk""".stripMargin

  /** HyperLogLog distinct-user estimate (Sketches.hllRegisters /
    * hllSummary — SURVEY §2.12): 256 registers, exact integer sketch
    * state (S = Σ 2^(53−r)), raw estimate via two correctly-rounded
    * IEEE ops, LinearCounting small-range correction through the
    * exact detLn circuit — every column hash-gated, including the
    * estimates. exact_distinct rides along as the evaluator face.
    */
  def profileHll(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    val exact = ev.agg(countDistinct(col("user_id")).as("exact_distinct"))
    Sketches.hllSummary(Sketches.hllRegisters(ev, col("user_id")))
      .crossJoin(exact) // 1 row × 1 row
      .select("m", "occupied", "s_scaled", "est_raw", "est", "exact_distinct")
  }

  val profileHllOracle: String =
    s"""WITH h AS (
       |  SELECT ('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,2))::BIGINT AS reg,
       |         ('0x'||substr(md5(CAST(user_id AS VARCHAR)),3,13))::BIGINT AS w
       |  FROM events),
       |regs AS (SELECT reg, max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS r
       |         FROM h GROUP BY reg),
       |${Sketches.hllSummaryOracleCtes("regs")},
       |ex AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct FROM events)
       |SELECT m, occupied, s_scaled, est_raw, est, exact_distinct FROM hfin, ex""".stripMargin

  /** KMV (k-minimum-values) distinct-count sketch over event ids
    * (SURVEY §2.12; Beyer et al. SIGMOD'07 — the bottom-k synopsis
    * theta sketches build on): hash every value with the 52-bit md5
    * law, keep the k smallest DISTINCT hashes via the custom
    * [[graft.functions.BottomK]] TypedImperativeAggregate (bounded
    * per-partition state, ≤ k longs per partition on the wire — the
    * declarative distinct+sort would shuffle EVERY distinct value),
    * estimate = (k−1)·2^52 div h_(k), exact integer division so the
    * estimate itself is hash-gated. Fewer than k distinct → the sketch
    * is the exact distinct set. exact_distinct rides along as the
    * evaluator face.
    */
  def profileKmv(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val ev = events(s, dir)
    val sk = ev.agg(
      graft.functions.bottomk.bottomK(Sketches.hash52(col("event_id")), k).as("ks"))
    val exact = ev.agg(countDistinct(col("event_id")).as("exact_distinct"))
    sk.crossJoin(exact) // 1 row × 1 row
      .select(
        lit(k.toLong).as("k"),
        size(col("ks")).cast("long").as("n_in_sketch"),
        when(size(col("ks")) === 0, lit(null).cast("long"))
          .otherwise(element_at(col("ks"), least(size(col("ks")), lit(k))))
          .as("kth_hash"),
        Sketches.kmvEstimate(col("ks"), k).as("est"),
        col("exact_distinct"))
  }

  val profileKmvOracle: String =
    """WITH h AS (SELECT DISTINCT ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,13))::BIGINT AS h FROM events),
      |b AS (SELECT h FROM h ORDER BY h LIMIT 256),
      |s AS (SELECT CAST(count(*) AS BIGINT) AS n_in_sketch, max(h) AS kth_hash FROM b),
      |ex AS (SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS exact_distinct FROM events)
      |SELECT CAST(256 AS BIGINT) AS k, n_in_sketch, kth_hash,
      |  CASE WHEN n_in_sketch < 256 THEN n_in_sketch
      |       ELSE (255 * 4503599627370496::BIGINT) // kth_hash END AS est,
      |  exact_distinct
      |FROM s, ex""".stripMargin

  /** KMV sketch union across partitioned corpus shards (SURVEY §2.12;
    * the r10 verdict's preferred surfacing of the sharded-build story
    * Round10bSpec proves at spec level): each shard of the event feed
    * builds its OWN bottom-k sketch independently — the deployment
    * shape where 100 TB arrives as shards/regions/days and no single
    * job ever sees the whole input — and the merged sketch is just
    * bottom-k OVER THE UNION OF THE SHARD SKETCHES (explode + re-agg:
    * the aggregation mechanism IS the merge; ≤ shards·k longs ever
    * move). The frame shows per-shard estimates, the merged estimate,
    * and the whole-input sketch side by side: merged ≡ whole EXACTLY
    * (any globally-k-smallest hash is among its own shard's k
    * smallest — the mergeable-sketch law, hash-gated here rather than
    * asserted), so sharded builds lose NOTHING.
    */
  def profileKmvSharded(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val ev = events(s, dir).select(col("event_id"),
      (col("event_id") % 4).as("shard"),
      Sketches.hash52(col("event_id")).as("h"))
    // 4 rows; localCheckpoint: read by both the shard faces and the
    // merge (without it each branch re-scans events — the CSE trap)
    val perShard = ev.groupBy("shard")
      .agg(graft.functions.bottomk.bottomK(col("h"), k).as("ks"))
      .localCheckpoint(true)
    val shardFaces = perShard
      .select(concat(lit("shard_"), col("shard")).as("face"), col("ks"))
    val merged = perShard.select(explode(col("ks")).as("h"))
      .agg(graft.functions.bottomk.bottomK(col("h"), k).as("ks"))
      .select(lit("merged").as("face"), col("ks"))
    val whole = ev.agg(graft.functions.bottomk.bottomK(col("h"), k).as("ks"))
      .select(lit("whole").as("face"), col("ks"))
    shardFaces.unionByName(merged).unionByName(whole)
      .select(col("face"),
        size(col("ks")).cast("long").as("n_in_sketch"),
        when(size(col("ks")) === 0, lit(null).cast("long"))
          .otherwise(element_at(col("ks"), least(size(col("ks")), lit(k))))
          .as("kth_hash"),
        Sketches.kmvEstimate(col("ks"), k).as("est"))
      .orderBy("face")
  }

  val profileKmvShardedOracle: String =
    """WITH hs AS (SELECT DISTINCT event_id % 4 AS shard,
      |              ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,13))::BIGINT AS h
      |            FROM events),
      |ranked AS (SELECT shard, h,
      |             row_number() OVER (PARTITION BY shard ORDER BY h) AS rn
      |           FROM hs),
      |ps AS (SELECT shard, h FROM ranked WHERE rn <= 256),
      |faces AS (
      |  SELECT 'shard_' || CAST(shard AS VARCHAR) AS face,
      |         CAST(count(*) AS BIGINT) AS n, max(h) AS kth
      |  FROM ps GROUP BY shard
      |  UNION ALL
      |  SELECT 'merged', CAST(count(*) AS BIGINT), max(h)
      |  FROM (SELECT DISTINCT h FROM ps ORDER BY h LIMIT 256)
      |  UNION ALL
      |  SELECT 'whole', CAST(count(*) AS BIGINT), max(h)
      |  FROM (SELECT DISTINCT h FROM hs ORDER BY h LIMIT 256))
      |SELECT face, n AS n_in_sketch, kth AS kth_hash,
      |  CASE WHEN n < 256 THEN n
      |       ELSE (255 * 4503599627370496::BIGINT) // kth END AS est
      |FROM faces ORDER BY face""".stripMargin

  /** Theta-sketch corpus overlap (SURVEY §2.12; the DataSketches theta
    * set-operation shape over [[graft.functions.BottomK]] synopses):
    * estimate the 3-gram shingle intersection / union / Jaccard
    * between two document source halves from two CONSTANT-SIZE
    * sketches — the way a 100 TB deployment estimates train/eval
    * contamination without ever joining the corpora. Per group one
    * bottom-k sketch of the distinct-shingle hash set (one pass, k
    * longs out); then every estimator is pure array arithmetic on the
    * two k-arrays: θ = min of the two k-th minima (2^52 in exact
    * mode), retained = hashes < θ, est = |retained| · 2^52 div θ.
    * Exact faces ride along from one shingle-grouped agg (no join) —
    * pipelines_run: 2 (sketch agg + exact agg; evaluator annotated,
    * same idiom as dedup_eval).
    */
  def profileThetaOverlap(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val space = Sketches.Hash52Space
    val docs = documents(s, dir)
    val grp = when(substring(col("source"), 4, 10).cast("int") < 10, "A")
      .otherwise("B")
    val sh = docs.select(grp.as("grp"),
        explode(graft.dedup.Dedup.shingles(col("text"), 3)).as("shg"))
    val sk = sh.groupBy("grp")
      .agg(graft.functions.bottomk.bottomK(Sketches.hash52(col("shg")), k).as("ks"))
      // 2 rows → 1 row without re-scanning per branch (r8 CSE lesson)
      .agg(max(when(col("grp") === "A", col("ks"))).as("ka"),
        max(when(col("grp") === "B", col("ks"))).as("kb"))
    val exact = sh.groupBy("shg")
      .agg(max(when(col("grp") === "A", 1).otherwise(0)).as("inA"),
        max(when(col("grp") === "B", 1).otherwise(0)).as("inB"))
      .agg(sum("inA").cast("long").as("exact_a"),
        sum("inB").cast("long").as("exact_b"),
        sum(when(col("inA") === 1 && col("inB") === 1, 1L).otherwise(0L))
          .as("exact_inter"))
    def thetaOf(arr: Column): Column =
      when(size(arr) === k, element_at(arr, k)).otherwise(lit(space))
    sk.crossJoin(exact) // 1 row × 1 row
      .withColumn("theta", least(thetaOf(col("ka")), thetaOf(col("kb"))))
      .withColumn("ba", filter(col("ka"), x => x < col("theta")))
      .withColumn("bb", filter(col("kb"), x => x < col("theta")))
      .withColumn("inter_below",
        size(array_intersect(col("ba"), col("bb"))).cast("long"))
      .withColumn("union_below",
        size(array_distinct(concat(col("ba"), col("bb")))).cast("long"))
      .select(
        lit(k.toLong).as("k"),
        col("theta"),
        col("inter_below"),
        col("union_below"),
        Sketches.idiv(col("inter_below") * space, col("theta")).as("est_inter"),
        Sketches.idiv(col("union_below") * space, col("theta")).as("est_union"),
        when(col("union_below") > 0,
          Sketches.idiv(col("inter_below") * 1000L, col("union_below")))
          .otherwise(0L).as("jaccard_est_milli"),
        col("exact_a"), col("exact_b"), col("exact_inter"),
        Sketches.idiv(col("exact_inter") * 1000L,
          col("exact_a") + col("exact_b") - col("exact_inter"))
          .as("jaccard_milli"))
  }

  val profileThetaOverlapOracle: String =
    """WITH docs AS (SELECT doc_id, text,
      |    CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 'A' ELSE 'B' END AS grp
      |  FROM documents),
      |t AS (SELECT grp, doc_id, string_split(text, ' ') AS w FROM docs),
      |sh AS (SELECT grp, doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |         for i in range(1, len(w) - 1)])) AS shg FROM t),
      |hh AS (SELECT DISTINCT grp, shg, ('0x'||substr(md5(shg),1,13))::BIGINT AS h FROM sh),
      |ka AS (SELECT DISTINCT h FROM hh WHERE grp='A' ORDER BY h LIMIT 256),
      |kb AS (SELECT DISTINCT h FROM hh WHERE grp='B' ORDER BY h LIMIT 256),
      |na AS (SELECT count(*) AS n, max(h) AS kth FROM ka),
      |nb AS (SELECT count(*) AS n, max(h) AS kth FROM kb),
      |th AS (SELECT least(CASE WHEN na.n = 256 THEN na.kth ELSE 4503599627370496 END,
      |                    CASE WHEN nb.n = 256 THEN nb.kth ELSE 4503599627370496 END) AS theta FROM na, nb),
      |ib AS (SELECT CAST(count(*) AS BIGINT) AS inter_below FROM ka JOIN kb USING (h), th WHERE h < theta),
      |ub AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS union_below
      |       FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb) u, th WHERE h < theta),
      |exact AS (
      |  SELECT (SELECT CAST(count(DISTINCT shg) AS BIGINT) FROM hh WHERE grp='A') AS exact_a,
      |         (SELECT CAST(count(DISTINCT shg) AS BIGINT) FROM hh WHERE grp='B') AS exact_b,
      |         (SELECT CAST(count(*) AS BIGINT) FROM
      |            (SELECT DISTINCT shg FROM hh WHERE grp='A') x
      |            JOIN (SELECT DISTINCT shg FROM hh WHERE grp='B') y USING (shg)) AS exact_inter)
      |SELECT CAST(256 AS BIGINT) AS k, theta, inter_below, union_below,
      |  (inter_below * 4503599627370496::BIGINT) // theta AS est_inter,
      |  (union_below * 4503599627370496::BIGINT) // theta AS est_union,
      |  CASE WHEN union_below > 0 THEN (inter_below * 1000) // union_below ELSE 0 END AS jaccard_est_milli,
      |  exact_a, exact_b, exact_inter,
      |  (exact_inter * 1000) // (exact_a + exact_b - exact_inter) AS jaccard_milli
      |FROM th, ib, ub, exact""".stripMargin

  /** Quantile estimation from a deterministic hash reservoir (SURVEY
    * §2.12 — the QUANTILE member of the mergeable-sketch family, after
    * frequency/CMS, cardinality/HLL+KMV, membership/Bloom and
    * set-ops/theta): [[graft.functions.BottomKPairs]] keeps the
    * k=1024 rows with the smallest event-id hashes, each carrying its
    * value in exact cents — a uniform row sample that is a pure SET
    * property of the input (partition/order-invariant, merge = capped
    * union), unlike Vitter reservoir sampling whose result depends on
    * arrival order. Estimate = the same discrete rank law as
    * `profile_quantiles` applied to the k sampled values (sorted by
    * (v, h) — the hash breaks value ties deterministically); the exact
    * quantiles ride along via [[Profiler.quantilesDisc]] (evaluator
    * face; sampling error at k=1024 is ~±1.6% rank — abs_err is the
    * visible measure). At 100 TB the sketch is ONE map-side-combined
    * agg whose wire payload is ≤ k pairs per partition; the exact face
    * is the thing you can no longer afford, which is the point.
    */
  def profileQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val k = 1024
    val qs = Seq(100, 250, 500, 750, 900, 990)
    val ev = events(s, dir)
    val sk = ev.agg(graft.functions.bottomk.bottomKPairs(
      Sketches.hash52(col("event_id")), cents(col("value")), k).as("rs"))
    val est = sk
      .withColumn("srt", array_sort(transform(col("rs"),
        p => struct(p.getField("v").as("v"), p.getField("h").as("h")))))
      .withColumn("n", size(col("srt")).cast("long"))
      .select(col("n"), explode(array(qs.map { q =>
        struct(lit(q).as("q_milli"),
          element_at(col("srt"),
            greatest(lit(1L),
              Sketches.idiv(lit(q.toLong) * col("n") + 999L, lit(1000L)))
              .cast("int")).getField("v").as("est"))
      }: _*)).as("_e"))
      .select(col("_e.q_milli"), col("_e.est"), col("n").as("n_sample"))
    val exact = Profiler.quantilesDisc(ev, "value_cents",
        cents(col("value")), qs)
      .select(col("q_milli"), col("value").as("exact"))
    est.join(exact, "q_milli")
      .select(col("q_milli"), col("n_sample"), col("est"), col("exact"),
        abs(col("est") - col("exact")).as("abs_err"))
      .orderBy("q_milli")
  }

  val profileQuantileSketchOracle: String =
    """WITH src AS (SELECT ('0x'||substr(md5(CAST(event_id AS VARCHAR)),1,13))::BIGINT AS h,
      |                    CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |rs AS (SELECT h, min(v) AS v FROM src GROUP BY h ORDER BY h LIMIT 1024),
      |s AS (SELECT v, row_number() OVER (ORDER BY v, h) AS rk FROM rs),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_sample FROM rs),
      |q AS (SELECT unnest([100, 250, 500, 750, 900, 990]) AS q_milli),
      |tg AS (SELECT q_milli, n_sample,
      |         greatest((q_milli * n_sample + 999) // 1000, 1) AS target FROM q, n),
      |est AS (SELECT q_milli, n_sample, v AS est FROM tg JOIN s ON s.rk = tg.target),
      |xt AS (SELECT q_milli, greatest((q_milli * c + 999) // 1000, 1) AS target
      |       FROM q, (SELECT CAST(count(*) AS BIGINT) AS c FROM events) cn),
      |ex AS (SELECT q_milli, v AS exact FROM xt
      |       JOIN (SELECT CAST(round(value * 100) AS BIGINT) AS v,
      |                    row_number() OVER (ORDER BY CAST(round(value * 100) AS BIGINT)) AS rk
      |             FROM events) r ON r.rk = xt.target)
      |SELECT est.q_milli, n_sample, est, exact, abs(est - exact) AS abs_err
      |FROM est JOIN ex ON est.q_milli = ex.q_milli
      |ORDER BY est.q_milli""".stripMargin

  /** Join-size estimation from constant-size key sketches (SURVEY
    * §2.12 — the optimizer-statistics face of the bottom-k family;
    * the quantity a planner needs BEFORE committing a 100 TB shuffle):
    * per side, group keys to (key, count), sketch them with
    * [[graft.functions.BottomKPairs]] (hash → count, ≤ k pairs), then
    * |A ⋈ B| ≈ (2^52 div θ) · Σ_{h<θ, h∈both} cA(h)·cB(h) with
    * θ = min of the two k-th minima — the Beyer et al. multiset
    * extension of theta intersection. Two demonstrations in one frame:
    * the FK join orders⋈customer, and the SELF-join of lineitem on
    * l_partkey — whose size is F2 = Σc², the second frequency moment
    * (the AMS-sketch target and the standard skew statistic). Exact
    * faces ride along from the same pre-agg frames (evaluator idiom;
    * pipelines_run: 2). Every estimator is exact integer arithmetic on
    * the exploded k-row sketches — one tiny (≤ k rows) equi-join each,
    * never a join of the base tables.
    */
  def profileJoinSizeEst(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val space = Sketches.Hash52Space
    def keyCounts(df: DataFrame, key: String) =
      df.groupBy(col(key).as("_key")).agg(count(lit(1)).as("_c"))
    def sketch(kc: DataFrame) =
      kc.agg(graft.functions.bottomk.bottomKPairs(
        Sketches.hash52(col("_key")), col("_c"), k).as("ks"))
    def thetaOf(arr: Column): Column =
      when(size(arr) === k, element_at(arr, k).getField("h")).otherwise(lit(space))
    // one (join_name, est-side) row from two sketches: explode to ≤ k
    // rows each, equi-join on hash below θ, Σ cA·cB, scale by 2^52/θ
    def estimate(name: String, ska: DataFrame, skb: DataFrame): DataFrame = {
      val pair = ska.select(col("ks").as("ka"))
        .crossJoin(skb.select(col("ks").as("kb"))) // 1 row × 1 row
        .withColumn("theta", least(thetaOf(col("ka")), thetaOf(col("kb"))))
      val ea = pair.select(col("theta"), explode(col("ka")).as("p"))
        .select(col("theta"), col("p.h").as("h"), col("p.v").as("ca"))
        .filter(col("h") < col("theta"))
      val eb = pair.select(explode(col("kb")).as("p"))
        .select(col("p.h").as("h"), col("p.v").as("cb"))
      ea.join(eb, "h")
        .agg(count(lit(1)).as("n_matched"),
          coalesce(sum(col("ca") * col("cb")), lit(0L)).as("s_below"))
        .crossJoin(pair.select(col("theta"))) // 1 row × 1 row
        .select(lit(name).as("join_name"), lit(k.toLong).as("k"),
          col("theta"), col("n_matched"), col("s_below"),
          // s_below·2^52 overflows a long (Σc²·2^52 ~ 1e21) — route the
          // numerator through decimal(38) like the mining lift (r8)
          Sketches.idiv(col("s_below").cast("decimal(38,0)") * space,
            col("theta")).cast("long").as("est"))
    }
    def exact(kca: DataFrame, kcb: DataFrame) =
      kca.join(kcb.withColumnRenamed("_c", "_c2"), "_key")
        .agg(coalesce(sum(col("_c") * col("_c2")), lit(0L)).as("exact"))
    def ordersKc = keyCounts(orders(s, dir), "o_custkey")
    def custKc = keyCounts(customer(s, dir), "c_custkey")
    // def (not val): each use builds a fresh plan — a self-join of one
    // DataFrame instance trips Spark's ambiguous-self-join detection
    def partKc = keyCounts(lineitem(s, dir), "l_partkey")
    val r1 = estimate("orders_customer", sketch(ordersKc), sketch(custKc))
      .crossJoin(exact(ordersKc, custKc)) // 1 row × 1 row
    val r2 = estimate("lineitem_selfjoin_partkey", sketch(partKc), sketch(partKc))
      .crossJoin(exact(partKc, partKc)) // 1 row × 1 row
    r1.unionByName(r2).orderBy("join_name")
  }

  val profileJoinSizeEstOracle: String = {
    def side(table: String, key: String, a: String) =
      s"""${a}kc AS (SELECT $key AS _key, CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY 1),
         |${a}h AS (SELECT ('0x'||substr(md5(CAST(_key AS VARCHAR)),1,13))::BIGINT AS h, min(c) AS c
         |      FROM ${a}kc GROUP BY 1 ORDER BY h LIMIT 256),
         |${a}t AS (SELECT CASE WHEN count(*) = 256 THEN max(h) ELSE 4503599627370496 END AS th
         |      FROM ${a}h)""".stripMargin
    def one(name: String, a: String, b: String) =
      s"""SELECT '$name' AS join_name, CAST(256 AS BIGINT) AS k, z.theta, z.n_matched, z.s_below,
         |  CAST((z.s_below * 4503599627370496::HUGEINT) // z.theta AS BIGINT) AS est,
         |  (SELECT coalesce(CAST(sum(x.c * y.c) AS BIGINT), 0)
         |   FROM ${a}kc x JOIN ${b}kc y USING (_key)) AS exact
         |FROM (
         |  SELECT t.theta, CAST(count(m.h) AS BIGINT) AS n_matched,
         |         coalesce(CAST(sum(m.p) AS BIGINT), 0) AS s_below
         |  FROM (SELECT least(ta.th, tb.th) AS theta FROM ${a}t ta, ${b}t tb) t
         |  LEFT JOIN (SELECT x.h AS h, x.c * y.c AS p
         |             FROM ${a}h x JOIN ${b}h y USING (h)) m ON m.h < t.theta
         |  GROUP BY t.theta) z""".stripMargin
    s"""WITH ${side("orders", "o_custkey", "o")},
       |${side("customer", "c_custkey", "c")},
       |${side("lineitem", "l_partkey", "p")}
       |${one("orders_customer", "o", "c")}
       |UNION ALL
       |${one("lineitem_selfjoin_partkey", "p", "p")}
       |ORDER BY join_name""".stripMargin
  }

  def queries: Seq[QueryDef] = Seq(
    QueryDef("profile_kmv", profileKmv, Some(profileKmvOracle)),
    QueryDef("profile_kmv_sharded", profileKmvSharded, Some(profileKmvShardedOracle)),
    QueryDef("profile_tclose", profileTclose, Some(profileTcloseOracle)),
    QueryDef("profile_privacy_gate", profilePrivacyGate, Some(profilePrivacyGateOracle)),
    // sketch estimate plus the exact face
    QueryDef("profile_join_size_est", profileJoinSizeEst,
      Some(profileJoinSizeEstOracle), pipelines = 2),
    QueryDef("profile_quantile_sketch", profileQuantileSketch, Some(profileQuantileSketchOracle)),
    // sketch aggregate plus the exact shingle-grouped face
    QueryDef("profile_theta_overlap", profileThetaOverlap,
      Some(profileThetaOverlapOracle), pipelines = 2),
    QueryDef("profile_cms_topk", profileCmsTopk, Some(profileCmsTopkOracle)),
    QueryDef("profile_hll", profileHll, Some(profileHllOracle)),
    QueryDef("profile_benford", profileBenford, Some(profileBenfordOracle)),
    QueryDef("profile_ldiv", profileLdiv, Some(profileLdivOracle)),
    QueryDef("profile_kanon", profileKanon, Some(profileKanonOracle)),
    QueryDef("profile_checks", profileChecks, Some(profileChecksOracle)),
    QueryDef("profile_fd", profileFd, Some(profileFdOracle)),
    QueryDef("profile_ind", profileInd, Some(profileIndOracle)),
    QueryDef("profile_drift", profileDrift, Some(profileDriftOracle)),
    QueryDef("profile_quantiles", profileQuantiles, Some(profileQuantilesOracle)),
    QueryDef("profile_columns", profileColumns, Some(profileColumnsOracle)),
    QueryDef("profile_topk", profileTopk, Some(profileTopkOracle)),
    QueryDef("profile_compare", profileCompare, Some(profileCompareOracle)),
    QueryDef("profile_numeric", profileNumeric, Some(profileNumericOracle)),
    QueryDef("profile_summary", profileSummary, Some(profileSummaryOracle)),
    QueryDef("profile_histogram", profileHistogram, Some(profileHistogramOracle)),
    QueryDef("profile_correlation", profileCorrelation, Some(profileCorrelationOracle)),
    QueryDef("profile_mi", profileMi, Some(profileMiOracle))
  )
}
