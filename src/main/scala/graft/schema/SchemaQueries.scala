package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._
import graft.blocking.EmScenario

/** Schema-matching / translation / extraction queries + oracles
  * (SURVEY §2.4–§2.6).
  */
object SchemaQueries {

  val SourceCols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
  val TargetCols = Seq("cust_key", "customer_name", "nation_key", "acct_balance", "mkt_segment")
  /** Gold header mapping used by schema_eval. */
  val GoldMapping: Seq[(String, String)] = SourceCols.zip(TargetCols)

  private def valuesSql(names: Seq[String], colName: String, alias: String): String =
    names.map(n => s"('$n')").mkString(s"(VALUES ", ", ", s") AS $alias($colName)")

  // ---- #20 label-based ----

  def schemaLabel(s: SparkSession, dir: String): DataFrame =
    SchemaMatch.labelBased(s, SourceCols, TargetCols, threshold = 0.5)
      .orderBy("source_col", "target_col")

  val schemaLabelOracle: String =
    s"""SELECT * FROM (
       |  SELECT s.source_col, t.target_col,
       |         round(jaro_winkler_similarity(lower(s.source_col), lower(t.target_col)), 5) AS sim
       |  FROM ${valuesSql(SourceCols, "source_col", "s")}
       |  CROSS JOIN ${valuesSql(TargetCols, "target_col", "t")})
       |WHERE sim >= 0.5
       |ORDER BY source_col, target_col""".stripMargin

  // ---- #21 instance-based (customer vs supplier) ----

  def schemaInstance(s: SparkSession, dir: String): DataFrame =
    SchemaMatch.instanceBased(
        customer(s, dir), Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal"),
        supplier(s, dir), Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
        threshold = 0.01)
      .orderBy("col_l", "col_r")

  val schemaInstanceOracle: String = {
    def side(table: String, cols: Seq[String], out: String) =
      cols.map(c =>
        s"SELECT DISTINCT '$c' AS $out, CAST($c AS VARCHAR) AS value FROM $table WHERE $c IS NOT NULL")
        .mkString("\n  UNION ALL\n  ")
    s"""WITH lv AS (
       |  ${side("customer", Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal"), "col_l")}),
       |rv AS (
       |  ${side("supplier", Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "col_r")}),
       |ln AS (SELECT col_l, count(*) AS nl FROM lv GROUP BY col_l),
       |rn AS (SELECT col_r, count(*) AS nr FROM rv GROUP BY col_r),
       |i AS (SELECT col_l, col_r, count(*) AS ni
       |      FROM lv JOIN rv USING (value) GROUP BY col_l, col_r)
       |SELECT * FROM (
       |  SELECT i.col_l, i.col_r,
       |         round(CAST(ni AS DOUBLE) / (nl + nr - ni), 5) AS sim
       |  FROM i JOIN ln USING (col_l) JOIN rn USING (col_r))
       |WHERE sim >= 0.01
       |ORDER BY col_l, col_r""".stripMargin
  }

  // ---- #22 duplicate-based (EmScenario gold pairs) ----

  private val DupCols = Seq("name", "seg", "nat", "bal")

  def schemaDuplicate(s: SparkSession, dir: String): DataFrame =
    SchemaMatch.duplicateBased(
        EmScenario.gold(s, dir), EmScenario.custL(s, dir), EmScenario.custR(s, dir),
        "id", DupCols, DupCols)
      .orderBy("col_l", "col_r")

  val schemaDuplicateOracle: String = {
    val pairs = for (lc <- DupCols; rc <- DupCols) yield
      s"""SELECT '$lc' AS col_l, '$rc' AS col_r,
         |  round(avg(CASE WHEN CAST(l.$lc AS VARCHAR) = CAST(r.$rc AS VARCHAR)
         |            THEN 1.0 ELSE 0.0 END), 5) AS agreement
         |FROM gold g JOIN l ON l.id = g.id1 JOIN r ON r.id = g.id2""".stripMargin
    s"""${EmScenario.oracleWith}
       |${pairs.mkString("\nUNION ALL\n")}
       |ORDER BY col_l, col_r""".stripMargin
  }

  // ---- #23 mapping evaluation ----

  def schemaEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SchemaMatch.evaluate(
      schemaLabel(s, dir),
      GoldMapping.toDF("source_col", "target_col"))
  }

  val schemaEvalOracle: String = {
    val goldVals = GoldMapping.map { case (a, b) => s"('$a', '$b')" }.mkString(", ")
    s"""WITH pred AS (
       |  SELECT source_col AS id1, target_col AS id2 FROM (
       |    SELECT s.source_col, t.target_col,
       |           jaro_winkler_similarity(lower(s.source_col), lower(t.target_col)) AS sim
       |    FROM ${valuesSql(SourceCols, "source_col", "s")}
       |    CROSS JOIN ${valuesSql(TargetCols, "target_col", "t")})
       |  WHERE sim >= 0.5),
       |gold AS (SELECT * FROM (VALUES $goldVals) AS g(id1, id2)),
       |n AS (SELECT (SELECT count(*) FROM pred JOIN gold USING (id1, id2)) AS tp,
       |             (SELECT count(*) FROM pred) AS np,
       |             (SELECT count(*) FROM gold) AS ng)
       |SELECT CAST(tp AS BIGINT) AS tp, CAST(np - tp AS BIGINT) AS fp,
       |       CAST(ng - tp AS BIGINT) AS fn,
       |       round(CAST(tp AS DOUBLE) / greatest(np, 1), 5) AS precision,
       |       round(CAST(tp AS DOUBLE) / greatest(ng, 1), 5) AS recall,
       |       round(CAST(tp AS DOUBLE) * 2.0 / greatest(np + ng, 1), 5) AS f1
       |FROM n""".stripMargin
  }

  // ---- sweep_thresholds (schemamatching/evaluation.py:158) ----

  /** Evaluation mapping for the sweep: 4 forward positives, 1 positive
    * stored in the REVERSED orientation (exercises symmetric matching),
    * 1 explicit negative and 1 reversed negative.
    */
  val SweepEval: Seq[(String, String, Boolean)] = Seq(
    ("c_custkey", "cust_key", true),
    ("customer_name", "c_name", true), // reversed-orientation positive
    ("c_nationkey", "nation_key", true),
    ("c_acctbal", "acct_balance", true),
    ("c_mktsegment", "mkt_segment", true),
    ("c_custkey", "customer_name", false),
    ("mkt_segment", "c_name", false)) // reversed-orientation negative

  val SweepGrid: Seq[Double] = (0 to 10).map(_ / 10.0)

  /** Both `complete` modes in one frame: explicit-negatives-only vs
    * everything-not-positive-is-negative.
    */
  def schemaThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corr = SchemaMatch.labelBased(s, SourceCols, TargetCols, threshold = 0.0)
      .withColumnRenamed("sim", "score")
    val ev = SweepEval.toDF("source_col", "target_col", "label")
    SchemaMatch.sweepThresholds(corr, ev, SweepGrid, complete = false)
      .withColumn("mode", lit("explicit"))
      .unionByName(
        SchemaMatch.sweepThresholds(corr, ev, SweepGrid, complete = true)
          .withColumn("mode", lit("complete")))
      .orderBy("mode", "threshold")
  }

  val schemaThresholdSweepOracle: String = {
    val evVals = SweepEval.map { case (a, b, l) => s"('$a', '$b', $l)" }.mkString(", ")
    val gridVals = SweepGrid.map(t => s"($t)").mkString(", ")
    s"""WITH corr AS (
       |  SELECT s.source_col, t.target_col,
       |         round(jaro_winkler_similarity(lower(s.source_col), lower(t.target_col)), 5) AS score
       |  FROM ${valuesSql(SourceCols, "source_col", "s")}
       |  CROSS JOIN ${valuesSql(TargetCols, "target_col", "t")}),
       |corrt AS (SELECT source_col AS cs, target_col AS ct, max(score) AS score
       |          FROM corr GROUP BY 1, 2),
       |ev(source_col, target_col, label) AS (VALUES $evVals),
       |pos AS (SELECT DISTINCT source_col, target_col FROM ev WHERE label),
       |neg AS (SELECT DISTINCT source_col, target_col FROM ev WHERE NOT label),
       |posb AS (
       |  SELECT source_col AS a, target_col AS b,
       |         source_col || chr(1) || target_col AS canon, 0 AS dir FROM pos
       |  UNION ALL
       |  SELECT target_col, source_col,
       |         source_col || chr(1) || target_col, 1 FROM pos),
       |negb AS (
       |  SELECT source_col AS a, target_col AS b FROM neg
       |  UNION SELECT target_col, source_col FROM neg),
       |withpos AS (
       |  SELECT c.cs, c.ct, c.score,
       |         arg_min(p.canon, p.dir) FILTER (WHERE p.a IS NOT NULL) AS canon
       |  FROM corrt c LEFT JOIN posb p ON c.cs = p.a AND c.ct = p.b
       |  GROUP BY c.cs, c.ct, c.score),
       |labeled AS (
       |  SELECT w.score, w.canon, (n.a IS NOT NULL) AS isneg
       |  FROM withpos w LEFT JOIN negb n ON w.cs = n.a AND w.ct = n.b),
       |percanon AS (SELECT canon, max(score) AS cscore FROM labeled
       |             WHERE canon IS NOT NULL GROUP BY canon),
       |grid AS (SELECT CAST(g.t AS DOUBLE) AS threshold, m.mode, m.complete
       |         FROM (VALUES $gridVals) AS g(t)
       |         CROSS JOIN (VALUES ('explicit', false), ('complete', true))
       |           AS m(mode, complete)),
       |mm AS (
       |  SELECT g.threshold, g.mode,
       |         CAST(coalesce(sum(CASE WHEN l.score >= g.threshold
       |           AND (l.canon IS NOT NULL OR l.isneg OR g.complete)
       |           THEN 1 END), 0) AS BIGINT) AS matched
       |  FROM grid g LEFT JOIN labeled l ON true GROUP BY 1, 2),
       |cc AS (
       |  SELECT g.threshold, g.mode,
       |         CAST(coalesce(sum(CASE WHEN p.cscore >= g.threshold THEN 1 END), 0)
       |           AS BIGINT) AS correct
       |  FROM grid g LEFT JOIN percanon p ON true GROUP BY 1, 2),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS correct_total FROM pos)
       |SELECT mm.threshold,
       |       round(CAST(cc.correct AS DOUBLE) / greatest(mm.matched, 1), 5) AS precision,
       |       round(CAST(cc.correct AS DOUBLE) / greatest(tot.correct_total, 1), 5) AS recall,
       |       round(CAST(cc.correct AS DOUBLE) * 2.0
       |             / greatest(mm.matched + tot.correct_total, 1), 5) AS f1,
       |       cc.correct, mm.matched, tot.correct_total,
       |       tot.correct_total - cc.correct AS missing,
       |       mm.mode
       |FROM mm JOIN cc ON mm.threshold = cc.threshold AND mm.mode = cc.mode
       |CROSS JOIN tot
       |ORDER BY mm.mode, mm.threshold""".stripMargin
  }

  // ---- #24 mapping translation ----

  def translateMapping(s: SparkSession, dir: String): DataFrame = {
    val corrs = GoldMapping
    val src = customer(s, dir)
    src.select(corrs.map { case (from, to) => col(from).as(to) }: _*)
      .withColumn("__dataset_name", lit("customer"))
      .orderBy("cust_key")
  }

  val translateMappingOracle: String =
    """SELECT c_custkey AS cust_key, c_name AS customer_name,
      |       c_nationkey AS nation_key, c_acctbal AS acct_balance,
      |       c_mktsegment AS mkt_segment, 'customer' AS __dataset_name
      |FROM customer
      |ORDER BY cust_key""".stripMargin

  // ---- #25 regex extraction ----

  def extractRegex(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(
        col("event_id"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).as("k_value"),
        regexp_extract(col("event_type"), "^([a-z]+)", 1).as("type_word"))
      .orderBy("event_id")

  val extractRegexOracle: String =
    """SELECT event_id,
      |  regexp_extract(props, '"k": (\d+)', 1) AS k_value,
      |  regexp_extract(event_type, '^([a-z]+)', 1) AS type_word
      |FROM events
      |ORDER BY event_id""".stripMargin

  // ---- #26 typed (function) extraction ----

  /** FunctionExtractor analogue: a typed Dataset.map with a case-class
    * result — arbitrary Scala per record, statically typed.
    */
  def extractTyped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    part(s, dir).select(col("p_partkey"), col("p_name"))
      .as[(Long, String)]
      .map { case (id, name) =>
        val ws = name.split(" ")
        PartNameInfo(id, ws.headOption.getOrElse(""), ws.lift(1).getOrElse(""), name.length)
      }
      .toDF()
      .orderBy("id")
  }

  val extractTypedOracle: String =
    """SELECT p_partkey AS id,
      |  string_split(p_name, ' ')[1] AS adjective,
      |  coalesce(string_split(p_name, ' ')[2], '') AS noun,
      |  CAST(length(p_name) AS INT) AS name_len
      |FROM part
      |ORDER BY id""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("schema_label", schemaLabel, Some(schemaLabelOracle)),
    QueryDef("schema_instance", schemaInstance, Some(schemaInstanceOracle)),
    QueryDef("schema_duplicate", schemaDuplicate, Some(schemaDuplicateOracle)),
    QueryDef("schema_eval", schemaEval, Some(schemaEvalOracle)),
    QueryDef("schema_threshold_sweep", schemaThresholdSweep, Some(schemaThresholdSweepOracle)),
    QueryDef("translate_mapping", translateMapping, Some(translateMappingOracle)),
    QueryDef("extract_regex", extractRegex, Some(extractRegexOracle)),
    QueryDef("extract_typed", extractTyped, Some(extractTypedOracle))
  )
}

/** Typed extraction result (top-level for the Catalyst encoder). */
case class PartNameInfo(id: Long, adjective: String, noun: String, name_len: Int)
