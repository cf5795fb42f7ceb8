package graft.extraction

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._

/** Rule-discovery + extraction-evaluation queries (SURVEY §2.6). The
  * fixture text embeds fields at known moduli so per-rule coverage and
  * eval counts are non-trivial and fully oracle-checkable.
  */
object ExtractQueries {

  /** customer → synthetic doc text: email on even keys, url on ≡0 mod 3,
    * a year always, a price on ≡0 mod 5.
    */
  def messyText(s: SparkSession, dir: String): DataFrame =
    customer(s, dir).select(
      col("c_custkey").as("id"),
      concat(
        lit("record "),
        when(col("c_custkey") % 2 === 0,
          concat(lit("user"), col("c_custkey"), lit("@mail.com "))).otherwise(lit("")),
        when(col("c_custkey") % 3 === 0,
          concat(lit("https://ex.org/p/"), col("c_custkey"), lit(" "))).otherwise(lit("")),
        lit("year "), (lit(1990) + col("c_custkey") % 30).cast("string"), lit(" "),
        when(col("c_custkey") % 5 === 0,
          concat(lit("$"), (col("c_custkey") % 90 + 10).cast("string"), lit(".50")))
          .otherwise(lit(""))).as("text"))

  val messyTextSql: String =
    """m AS (SELECT c_custkey AS id,
      |  concat('record ',
      |    CASE WHEN c_custkey % 2 = 0
      |         THEN concat('user', c_custkey, '@mail.com ') ELSE '' END,
      |    CASE WHEN c_custkey % 3 = 0
      |         THEN concat('https://ex.org/p/', c_custkey, ' ') ELSE '' END,
      |    'year ', CAST(1990 + c_custkey % 30 AS VARCHAR), ' ',
      |    CASE WHEN c_custkey % 5 = 0
      |         THEN concat('$', CAST(c_custkey % 90 + 10 AS VARCHAR), '.50') ELSE '' END
      |  ) AS text FROM customer)""".stripMargin

  /** RuleDiscovery over the builtin rule library, minCoverage 0.3. */
  def extractAutorules(s: SparkSession, dir: String): DataFrame =
    Extract.discoverRules(messyText(s, dir), "text", Extract.BuiltinRules, 0.3)
      .orderBy("rule")

  val extractAutorulesOracle: String = {
    val duckPatterns = Seq(
      "email" -> "([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,})",
      "url" -> "(https?://[^\\s<>\"]+)",
      "year" -> "\\b((?:19|20)\\d{2})\\b",
      "price" -> "(\\$\\d+(?:\\.\\d{2})?)",
      "isbn13" -> "\\b(97[89]\\d{10})\\b",
      "domain" -> "https?://(?:www\\.)?([a-zA-Z0-9.-]+)")
    // DuckDB single-quoted strings keep backslashes literal — the regex
    // goes in verbatim (only quotes need escaping).
    val parts = duckPatterns.map { case (name, p) =>
      val pat = p.replace("'", "''")
      s"""SELECT '$name' AS rule,
         |  CAST(sum(CASE WHEN nullif(regexp_extract(text, '$pat', 1), '') IS NOT NULL
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
         |  round(CAST(sum(CASE WHEN nullif(regexp_extract(text, '$pat', 1), '') IS NOT NULL
         |             THEN 1 ELSE 0 END) AS DOUBLE) / greatest(count(*), 1), 5) AS coverage,
         |  CAST(sum(CASE WHEN nullif(regexp_extract(text, '$pat', 1), '') IS NOT NULL
         |           THEN 1 ELSE 0 END) AS DOUBLE) / greatest(count(*), 1) >= 0.3 AS kept
         |FROM m""".stripMargin
    }
    s"""WITH $messyTextSql
       |${parts.mkString("\nUNION ALL\n")}
       |ORDER BY rule""".stripMargin
  }

  /** Extraction micro P/R/F1: predicted email/year vs constructed gold
    * (gold year is corrupted on every 7th key → known fn/fp counts).
    */
  def extractEval(s: SparkSession, dir: String): DataFrame = {
    val pred = Extract.applyRules(messyText(s, dir), "text",
      Extract.BuiltinRules.filter(r => r._1 == "email" || r._1 == "year"))
    val gold = customer(s, dir).select(
      col("c_custkey").as("id"),
      when(col("c_custkey") % 2 === 0,
        concat(lit("user"), col("c_custkey"), lit("@mail.com"))).as("g_email"),
      when(col("c_custkey") % 7 === 0, lit("9999"))
        .otherwise((lit(1990) + col("c_custkey") % 30).cast("string")).as("g_year"))
    Extract.evaluate(pred.join(gold, "id"),
      Seq("email" -> "g_email", "year" -> "g_year"))
  }

  val extractEvalOracle: String =
    s"""WITH $messyTextSql,
       |pred AS (SELECT id,
       |  nullif(regexp_extract(text, '([a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,})', 1), '') AS email,
       |  nullif(regexp_extract(text, '\\b((?:19|20)\\d{2})\\b', 1), '') AS year
       |  FROM m),
       |gold AS (SELECT c_custkey AS id,
       |  CASE WHEN c_custkey % 2 = 0 THEN concat('user', c_custkey, '@mail.com') END AS g_email,
       |  CASE WHEN c_custkey % 7 = 0 THEN '9999'
       |       ELSE CAST(1990 + c_custkey % 30 AS VARCHAR) END AS g_year
       |  FROM customer),
       |j AS (SELECT * FROM pred JOIN gold USING (id)),
       |c AS (SELECT
       |  sum(CASE WHEN email IS NOT NULL AND g_email IS NOT NULL AND email = g_email THEN 1 ELSE 0 END)
       |  + sum(CASE WHEN year IS NOT NULL AND g_year IS NOT NULL AND year = g_year THEN 1 ELSE 0 END) AS tp,
       |  sum(CASE WHEN email IS NOT NULL AND (g_email IS NULL OR email <> g_email) THEN 1 ELSE 0 END)
       |  + sum(CASE WHEN year IS NOT NULL AND (g_year IS NULL OR year <> g_year) THEN 1 ELSE 0 END) AS fp,
       |  sum(CASE WHEN g_email IS NOT NULL AND (email IS NULL OR email <> g_email) THEN 1 ELSE 0 END)
       |  + sum(CASE WHEN g_year IS NOT NULL AND (year IS NULL OR year <> g_year) THEN 1 ELSE 0 END) AS fn
       |  FROM j)
       |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       |  round(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 5) AS precision,
       |  round(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 5) AS recall,
       |  round(CAST(tp AS DOUBLE) * 2.0 / greatest(tp * 2 + fp + fn, 1), 5) AS f1
       |FROM c""".stripMargin

  /** ExtractorPipeline (base.py:215): three chained stages — (1) regex
    * rules pull year + price strings out of the fixture text, (2) a
    * typed FunctionExtractor-style stage PARSES stage-1's output
    * (currency string → double, year string → decade), (3) a cleanup
    * stage canonicalizes the extracted email. Later stages consuming
    * earlier stages' columns is exactly what the chaining API is for.
    */
  def extractPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.normalization.Normalize
    val staged = Extract.pipeline(messyText(s, dir), Seq(
      d => Extract.applyRules(d, "text", Extract.BuiltinRules),
      d => d.withColumn("price_value", Normalize.parseCurrency(col("price")))
        .withColumn("decade", ((col("year").cast("long") / 10).cast("long") * 10)),
      d => d.withColumn("email", upper(col("email")))))
    staged.select("id", "email", "year", "price", "price_value", "decade")
      .orderBy("id")
  }

  val extractPipelineOracle: String =
    s"""WITH $messyTextSql
       |SELECT id,
       |  CASE WHEN id % 2 = 0 THEN upper(concat('user', id, '@mail.com')) END AS email,
       |  CAST(1990 + id % 30 AS VARCHAR) AS year,
       |  CASE WHEN id % 5 = 0
       |       THEN concat('$$', CAST(id % 90 + 10 AS VARCHAR), '.50') END AS price,
       |  CASE WHEN id % 5 = 0
       |       THEN CAST(CAST(id % 90 + 10 AS VARCHAR) || '.50' AS DOUBLE) END AS price_value,
       |  (1990 + id % 30) // 10 * 10 AS decade
       |FROM m ORDER BY id""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("extract_autorules", extractAutorules, Some(extractAutorulesOracle)),
    QueryDef("extract_eval", extractEval, Some(extractEvalOracle)),
    QueryDef("extract_pipeline", extractPipeline, Some(extractPipelineOracle))
  )
}
