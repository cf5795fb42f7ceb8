package graft.normalization

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._

/** Driver-contract queries + DuckDB oracles for the normalization
  * family (SURVEY.md §2.3). Each query constructs a "messy" column
  * deterministically from the raw tables, applies the normalization
  * operator, and the oracle recomputes the TRUE value independently —
  * so a parser bug on the Spark side hash-mismatches.
  */
object NormQueries {

  private def centsL(c: Column): Column = round(c * 100).cast("long")

  // ---- norm_text ----
  def normText(s: SparkSession, dir: String): DataFrame = {
    val p = part(s, dir)
    p.select(col("p_partkey"),
        Normalize.normalizeText(
          concat(upper(col("p_name")), lit("  "), col("p_brand"), lit("!!"))).as("norm"))
      .orderBy("p_partkey")
  }
  val normTextOracle: String =
    """SELECT p_partkey,
      |  trim(regexp_replace(regexp_replace(
      |    lower(concat(upper(p_name), '  ', p_brand, '!!')),
      |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---- norm_headers ----
  def normHeaders(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val messy = Seq(" C CustKey ", "C-CustKey!", "c NATION key", "Acct.Bal", "MKT segment")
    val renamed = customer(s, dir).toDF(messy: _*)
    val cleaned = Normalize.cleanHeaders(renamed).columns
    messy.zip(cleaned).toDF("original", "cleaned").orderBy("original")
  }
  val normHeadersOracle: String =
    """SELECT * FROM (VALUES
      |  (' C CustKey ', 'c_custkey'), ('C-CustKey!', 'c_custkey_2'),
      |  ('c NATION key', 'c_nation_key'), ('Acct.Bal', 'acct_bal'),
      |  ('MKT segment', 'mkt_segment')) AS t(original, cleaned)
      |ORDER BY original""".stripMargin

  // ---- norm_tokenize ----
  def normTokenize(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val toks = Normalize.tokenize(col("text"), Seq("the", "a"))
    d.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        element_at(toks, 1).as("first_token"),
        element_at(toks, -1).as("last_token"))
      .orderBy("doc_id")
  }
  val normTokenizeOracle: String =
    """WITH t AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |    x -> x <> '' AND x NOT IN ('the', 'a')) AS toks
      |  FROM documents)
      |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |  toks[1] AS first_token, toks[-1] AS last_token
      |FROM t ORDER BY doc_id""".stripMargin

  // ---- norm_webtable (text.py:502 WebTableNormalizer) ----

  private def sqlq(s: String): String = s.replace("'", "''")

  /** DuckDB replay of [[Normalize.webTableNormalize]] over expression
    * `v` — the identical replace/regex chain, generated from the same
    * entity map and null-token list so the two can never drift.
    */
  private def webChainSql(v: String): String = {
    val sp = s"regexp_replace($v, '[\\n\\r\\t]', ' ', 'g')"
    val ent = Normalize.HtmlEntities.foldLeft(sp) { case (acc, (e, r)) =>
      s"replace($acc, '${sqlq(e)}', '${sqlq(r)}')"
    }
    val noNum = s"regexp_replace($ent, '[&\\\\?]#[0-9]{1,3};', ' ', 'g')"
    val noTag = s"regexp_replace($noNum, '<.*?>', '', 'g')"
    val low = s"trim(lower($noTag))"
    val toks = Normalize.WebNullTokens.map(t => s"'${sqlq(t)}'").mkString(", ")
    val nulled = s"CASE WHEN $low IN ($toks) THEN 'NULL' ELSE $low END"
    val deb = s"trim(regexp_replace($nulled, '\\(.*?\\)', '', 'g'))"
    val collapsed = s"trim(regexp_replace($deb, '\\s+', ' ', 'g'))"
    s"CASE WHEN $v IS NULL THEN 'NULL' WHEN $collapsed = '' THEN 'NULL' ELSE $collapsed END"
  }

  def normWebtable(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey") % 10
    val raw = when(k === 0, concat(lit("  <b>"), col("c_name"), lit("</b>  ")))
      .when(k === 1, concat(col("c_name"), lit(" &amp; Co&nbsp;Ltd")))
      .when(k === 2, lit("n/a"))
      .when(k === 3, lit(" ? "))
      .when(k === 4, concat(col("c_name"), lit(" (formerly &quot;X&quot;)")))
      .when(k === 5, lit("&euro; 100 &pound; 50"))
      .when(k === 6, concat(col("c_name"), lit(" &#65; end")))
      .when(k === 7, lit("---"))
      .when(k === 8, concat(upper(col("c_name")), lit("\tX\nY")))
      .otherwise(lit(null).cast("string"))
    customer(s, dir).select(col("c_custkey"),
        Normalize.webTableNormalize(raw, removeBrackets = true).as("cleaned"),
        Normalize.removeBracketContent(
          concat(col("c_name"), lit(" [tag] (note) {x}"))).as("debracketed"))
      .orderBy("c_custkey")
  }

  val normWebtableOracle: String = {
    val rawSql =
      """CASE c_custkey % 10
        |  WHEN 0 THEN '  <b>' || c_name || '</b>  '
        |  WHEN 1 THEN c_name || ' &amp; Co&nbsp;Ltd'
        |  WHEN 2 THEN 'n/a'
        |  WHEN 3 THEN ' ? '
        |  WHEN 4 THEN c_name || ' (formerly &quot;X&quot;)'
        |  WHEN 5 THEN '&euro; 100 &pound; 50'
        |  WHEN 6 THEN c_name || ' &#65; end'
        |  WHEN 7 THEN '---'
        |  WHEN 8 THEN upper(c_name) || chr(9) || 'X' || chr(10) || 'Y'
        |  ELSE NULL END""".stripMargin
    val debSql = "trim(regexp_replace(" +
      "regexp_replace(regexp_replace(regexp_replace(c_name || ' [tag] (note) {x}'," +
      " '\\(.*?\\)', '', 'g'), '\\[.*?\\]', '', 'g'), '\\{.*?\\}', '', 'g')," +
      " '\\s+', ' ', 'g'))"
    s"""WITH raw AS (SELECT c_custkey, $rawSql AS v, c_name FROM customer)
       |SELECT c_custkey, ${webChainSql("v")} AS cleaned, $debSql AS debracketed
       |FROM raw ORDER BY c_custkey""".stripMargin
  }

  // ---- norm_convert (units.py:483 UnitConverter + types.py:838
  //      TypeConverter applied via detectTypes) ----

  def normConvert(s: SparkSession, dir: String): DataFrame = {
    val id = col("o_orderkey")
    val o = orders(s, dir).select(id,
      (id % 100 + 0.5).as("v"),
      when(id % 5 === 0, "kg").when(id % 5 === 1, "km")
        .when(id % 5 === 2, "F").when(id % 5 === 3, "C").otherwise("kg").as("fu"),
      when(id % 5 === 0, "g").when(id % 5 === 1, "cm")
        .when(id % 5 === 2, "C").when(id % 5 === 3, "K").otherwise("m").as("tu"),
      when(id % 7 === 0, "x").otherwise(id.cast("string")).as("sl"),
      when(id % 7 === 1, "?")
        .otherwise(concat((id % 90).cast("string"), lit("."), (id % 10).cast("string"), lit("5")))
        .as("sd"),
      when(id % 7 === 2, "notadate")
        .otherwise(concat(lit("2024-0"), (id % 9 + 1).cast("string"), lit("-1"),
          (id % 10).cast("string"))).as("sdt"),
      when(id % 7 === 3, "maybe")
        .when(id % 2 === 0, "yes").otherwise("OFF").as("sb"))
    // detection is deterministic by construction: 6/7 of each column
    // parses as long / double / datetime / bool respectively.
    val conv = Normalize.convertTypes(o,
      Seq("sl" -> "long", "sd" -> "double", "sdt" -> "datetime", "sb" -> "bool"))
    conv.select(col("o_orderkey"),
        Normalize.convertUnit(col("v"), col("fu"), col("tu")).as("converted"),
        col("sl").as("conv_long"), col("sd").as("conv_double"),
        date_format(col("sdt"), "yyyy-MM-dd").as("conv_date"),
        col("sb").as("conv_bool"))
      .orderBy("o_orderkey")
  }

  val normConvertOracle: String =
    """WITH o AS (SELECT o_orderkey AS id, o_orderkey % 100 + 0.5 AS v FROM orders)
      |SELECT id AS o_orderkey,
      |  CASE id % 5
      |    WHEN 0 THEN v * 1000.0 / 1.0
      |    WHEN 1 THEN v * 1000.0 / 0.01
      |    WHEN 2 THEN (v - 32.0) * 5.0 / 9.0
      |    WHEN 3 THEN v + 273.15
      |    ELSE NULL END AS converted,
      |  CASE WHEN id % 7 = 0 THEN NULL ELSE id END AS conv_long,
      |  CASE WHEN id % 7 = 1 THEN NULL
      |       ELSE CAST(CAST(id % 90 AS VARCHAR) || '.' || CAST(id % 10 AS VARCHAR) || '5'
      |                 AS DOUBLE) END AS conv_double,
      |  CASE WHEN id % 7 = 2 THEN NULL
      |       ELSE '2024-0' || CAST(id % 9 + 1 AS VARCHAR) || '-1' || CAST(id % 10 AS VARCHAR)
      |       END AS conv_date,
      |  CASE WHEN id % 7 = 3 THEN NULL
      |       WHEN id % 2 = 0 THEN true ELSE false END AS conv_bool
      |FROM o ORDER BY o_orderkey""".stripMargin

  // ---- norm_dup_detect (detectors.py:360 DuplicateDetector) ----

  def normDupDetect(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir).select(
      col("c_name").as("name"),
      when(col("c_custkey") % 2 === 0, upper(col("c_mktsegment")))
        .otherwise(lower(col("c_mktsegment"))).as("seg_mixed"),
      col("c_nationkey").as("nat"),
      when(col("c_custkey") % 10 === 0, lit(null).cast("string"))
        .otherwise((col("c_custkey") % 500).cast("string")).as("phoneish"))
    Normalize.duplicateSummary(c, Seq("name", "seg_mixed", "nat", "phoneish"))
      .orderBy("column")
  }

  val normDupDetectOracle: String =
    """WITH tot AS (SELECT count(*) AS t FROM customer),
      |vals AS (
      |  SELECT 'name' AS col, lower(c_name) AS value FROM customer
      |  UNION ALL
      |  SELECT 'seg_mixed', lower(CASE WHEN c_custkey % 2 = 0
      |    THEN upper(c_mktsegment) ELSE lower(c_mktsegment) END) FROM customer
      |  UNION ALL
      |  SELECT 'nat', lower(CAST(c_nationkey AS VARCHAR)) FROM customer
      |  UNION ALL
      |  SELECT 'phoneish', CASE WHEN c_custkey % 10 = 0 THEN NULL
      |    ELSE lower(CAST(c_custkey % 500 AS VARCHAR)) END FROM customer),
      |cnts AS (SELECT col, value, count(*) AS cnt FROM vals
      |         WHERE value IS NOT NULL GROUP BY col, value),
      |agg AS (SELECT col, count(*) AS unique_values,
      |        CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT)
      |          AS duplicate_values
      |        FROM cnts GROUP BY col)
      |SELECT col AS "column", CAST(tot.t AS BIGINT) AS total_values,
      |  unique_values, duplicate_values,
      |  round(duplicate_values * 100.0 / tot.t, 2) AS duplicate_percentage
      |FROM agg, tot ORDER BY "column"""".stripMargin

  // ---- norm_dataset (datasets.py:287 DatasetNormalizer strategy table) ----

  def normDataset(s: SparkSession, dir: String): DataFrame = {
    val df = customer(s, dir).select(col("c_custkey"),
      concat(upper(col("c_name")), lit("  &X! ")).as("txt"),
      when(col("c_custkey") % 4 === 0, lit("N/A")).otherwise(col("c_mktsegment")).as("seg"),
      concat(lit("HTTPS://WWW.Example.com/"), col("c_custkey").cast("string"),
        lit("/?q=1")).as("site"),
      concat(lit("$"), (col("c_custkey") % 1000).cast("string"), lit(".25")).as("price"),
      concat(lit("café "), col("c_mktsegment")).as("acc"))
    Normalize.normalizeDataset(df, Seq(
        "txt" -> "text", "seg" -> "nulls", "site" -> "url",
        "price" -> "currency", "acc" -> "accents"))
      .orderBy("c_custkey")
  }

  /** Oracle recomputes each strategy's TRUE value independently (not by
    * replaying the Spark expressions).
    */
  val normDatasetOracle: String =
    """SELECT c_custkey,
      |  trim(regexp_replace(regexp_replace(lower(upper(c_name) || '  &X! '),
      |    '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS txt,
      |  CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE c_mktsegment END AS seg,
      |  'example.com/' || CAST(c_custkey AS VARCHAR) AS site,
      |  CAST(CAST(c_custkey % 1000 AS VARCHAR) || '.25' AS DOUBLE) AS price,
      |  'cafe ' || c_mktsegment AS acc
      |FROM customer ORDER BY c_custkey""".stripMargin

  // ---- norm_nulls ----
  def normNulls(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val raw = when(col("event_id") % 5 === 0, "N/A")
      .when(col("event_id") % 5 === 1, "null")
      .when(col("event_id") % 5 === 2, "  ")
      .when(col("event_id") % 5 === 3, "-")
      .otherwise(centsL(col("value")).cast("string"))
    val cleaned = Normalize.cleanNulls(raw)
    e.select(col("event_id"), coalesce(cleaned, lit("(null)")).as("cleaned"),
        cleaned.isNull.as("was_null"))
      .orderBy("event_id")
  }
  val normNullsOracle: String =
    """WITH t AS (SELECT event_id,
      |  CASE event_id % 5 WHEN 0 THEN 'N/A' WHEN 1 THEN 'null'
      |    WHEN 2 THEN '  ' WHEN 3 THEN '-'
      |    ELSE CAST(CAST(round(value*100) AS BIGINT) AS VARCHAR) END AS raw
      |  FROM events),
      |c AS (SELECT event_id, CASE WHEN lower(trim(raw)) IN
      |  ('', 'null', 'none', 'n/a', 'na', 'nan', '-', '?', 'unknown')
      |  THEN NULL ELSE raw END AS cleaned FROM t)
      |SELECT event_id, coalesce(cleaned, '(null)') AS cleaned,
      |  cleaned IS NULL AS was_null
      |FROM c ORDER BY event_id""".stripMargin

  // ---- norm_boolean ----
  def normBoolean(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val raw = element_at(
      array(Seq("yes", "NO", "True", "false", "1", "0", "Y", "maybe").map(lit): _*),
      (col("event_id") % 8).cast("int") + 1)
    val parsed = Normalize.parseBoolean(raw)
    e.select(col("event_id"), raw.as("raw"),
        coalesce(parsed.cast("string"), lit("(null)")).as("parsed"))
      .orderBy("event_id")
  }
  val normBooleanOracle: String =
    """WITH t AS (SELECT event_id,
      |  CASE event_id % 8 WHEN 0 THEN 'yes' WHEN 1 THEN 'NO' WHEN 2 THEN 'True'
      |    WHEN 3 THEN 'false' WHEN 4 THEN '1' WHEN 5 THEN '0' WHEN 6 THEN 'Y'
      |    ELSE 'maybe' END AS raw FROM events)
      |SELECT event_id, raw,
      |  CASE WHEN lower(trim(raw)) IN ('true','t','yes','y','1','on') THEN 'true'
      |       WHEN lower(trim(raw)) IN ('false','f','no','n','0','off') THEN 'false'
      |       ELSE '(null)' END AS parsed
      |FROM t ORDER BY event_id""".stripMargin

  // ---- norm_numeric ----
  def normNumeric(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val c = centsL(col("value"))
    val raw = when(col("event_id") % 4 === 0, format_number(c, 0))
      .when(col("event_id") % 4 === 1,
        concat(floor(c / 100).cast("long").cast("string"), lit(","),
          lpad((c % 100).cast("string"), 2, "0")))
      .when(col("event_id") % 4 === 2, concat(c.cast("string"), lit("%")))
      .otherwise(concat(c.cast("string"), lit("e-2")))
    e.select(col("event_id"), raw.as("raw"),
        round(Normalize.parseNumeric(raw), 5).as("parsed"))
      .orderBy("event_id")
  }
  val normNumericOracle: String =
    """WITH t AS (SELECT event_id, CAST(round(value*100) AS BIGINT) AS c FROM events)
      |SELECT event_id,
      |  CASE event_id % 4 WHEN 0 THEN format('{:,}', c)
      |    WHEN 1 THEN concat(CAST(c // 100 AS VARCHAR), ',', lpad(CAST(c % 100 AS VARCHAR), 2, '0'))
      |    WHEN 2 THEN concat(CAST(c AS VARCHAR), '%')
      |    ELSE concat(CAST(c AS VARCHAR), 'e-2') END AS raw,
      |  round(CASE WHEN event_id % 4 = 0 THEN CAST(c AS DOUBLE) ELSE c/100.0 END, 5) AS parsed
      |FROM t ORDER BY event_id""".stripMargin

  // ---- norm_dates ----
  def normDates(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val raw = when(col("o_orderkey") % 3 === 0, date_format(col("o_orderdate"), "dd/MM/yyyy"))
      .when(col("o_orderkey") % 3 === 1, date_format(col("o_orderdate"), "yyyy.MM.dd"))
      .otherwise(date_format(col("o_orderdate"), "MMM d, yyyy"))
    val parsed = Normalize.parseDate(raw, Normalize.DefaultDateFormats)
    o.select(col("o_orderkey"), raw.as("raw"),
        date_format(parsed, "yyyy-MM-dd").as("iso"))
      .orderBy("o_orderkey")
  }
  val normDatesOracle: String =
    """SELECT o_orderkey,
      |  CASE o_orderkey % 3 WHEN 0 THEN strftime(o_orderdate, '%d/%m/%Y')
      |    WHEN 1 THEN strftime(o_orderdate, '%Y.%m.%d')
      |    ELSE strftime(o_orderdate, '%b %-d, %Y') END AS raw,
      |  strftime(o_orderdate, '%Y-%m-%d') AS iso
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- norm_urls ----
  def normUrls(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val raw = concat(lit("HTTPS://WWW."), upper(col("source")), lit(".COM/Path-"),
      col("doc_id").cast("string"), lit("/?utm=1#frag"))
    d.select(col("doc_id"), raw.as("raw"),
        Normalize.canonicalizeUrl(raw).as("canonical"))
      .orderBy("doc_id")
  }
  val normUrlsOracle: String =
    """SELECT doc_id,
      |  concat('HTTPS://WWW.', upper(source), '.COM/Path-', doc_id, '/?utm=1#frag') AS raw,
      |  concat(lower(source), '.com/path-', doc_id) AS canonical
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- norm_units ----
  def normUnits(s: SparkSession, dir: String): DataFrame = {
    val p = part(s, dir)
    val unit = element_at(array(Seq("mg", "g", "kg", "t", "oz").map(lit): _*),
      (col("p_partkey") % 5).cast("int") + 1)
    val df = p.select(col("p_partkey"),
      concat(col("p_size").cast("string"), lit(" "), unit).as("qty"))
    Normalize.quantityToGrams(df, "qty")
      .select(col("p_partkey"), col("qty"),
        round(coalesce(col("qty_grams"), lit(-1.0)), 5).as("grams"))
      .orderBy("p_partkey")
  }
  val normUnitsOracle: String =
    """SELECT p_partkey,
      |  concat(p_size, ' ', CASE p_partkey % 5 WHEN 0 THEN 'mg' WHEN 1 THEN 'g'
      |    WHEN 2 THEN 'kg' WHEN 3 THEN 't' ELSE 'oz' END) AS qty,
      |  round(CASE p_partkey % 5 WHEN 0 THEN p_size * 0.001 WHEN 1 THEN p_size * 1.0
      |    WHEN 2 THEN p_size * 1000.0 WHEN 3 THEN p_size * 1000000.0
      |    ELSE -1.0 END, 5) AS grams
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---- norm_units_multi (registry breadth: mass/length/time/data) ----
  def normUnitsMulti(s: SparkSession, dir: String): DataFrame = {
    val units = Seq("kg", "cm", "min", "mb", "g", "km", "ms", "gb")
    val unit = element_at(array(units.map(lit): _*), (col("p_partkey") % 8).cast("int") + 1)
    val df = part(s, dir).select(col("p_partkey"),
      concat(col("p_size").cast("string"), lit(" "), unit).as("qty"))
    Normalize.parseQuantity(df, "qty")
      .select(col("p_partkey"), col("qty"), col("qty_category"),
        round(col("qty_base"), 5).as("base_value"))
      .orderBy("p_partkey")
  }
  val normUnitsMultiOracle: String = {
    val cases = Seq(
      0 -> ("kg", "mass", 1000.0), 1 -> ("cm", "length", 0.01),
      2 -> ("min", "time", 60.0), 3 -> ("mb", "data", 1048576.0),
      4 -> ("g", "mass", 1.0), 5 -> ("km", "length", 1000.0),
      6 -> ("ms", "time", 0.001), 7 -> ("gb", "data", 1073741824.0))
    val unitCase = cases.map { case (i, (u, _, _)) => s"WHEN $i THEN '$u'" }.mkString(" ")
    val catCase = cases.map { case (i, (_, c, _)) => s"WHEN $i THEN '$c'" }.mkString(" ")
    val facCase = cases.map { case (i, (_, _, f)) => s"WHEN $i THEN p_size * $f" }.mkString(" ")
    s"""SELECT p_partkey,
       |  concat(p_size, ' ', CASE p_partkey % 8 $unitCase END) AS qty,
       |  CASE p_partkey % 8 $catCase END AS qty_category,
       |  round(CASE p_partkey % 8 $facCase END, 5) AS base_value
       |FROM part ORDER BY p_partkey""".stripMargin
  }

  // ---- norm_outliers_zscore ----
  def normOutliersZscore(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val spiked = e.select(col("event_id"),
      (col("value") * when(col("event_id") % 97 === 0, 50).otherwise(1)).as("v"))
    Normalize.zscoreOutliers(spiked, "v", 3.0)
      .select(col("event_id"), round(col("v"), 5).as("v"))
      .orderBy("event_id")
  }
  val normOutliersZscoreOracle: String =
    """WITH t AS (SELECT event_id,
      |    value * CASE WHEN event_id % 97 = 0 THEN 50 ELSE 1 END AS v FROM events),
      |q AS (SELECT avg(v) AS mu, stddev_pop(v) AS sd FROM t)
      |SELECT event_id, round(v, 5) AS v FROM t, q
      |WHERE abs(v - mu) > 3.0 * sd
      |ORDER BY event_id""".stripMargin

  // ---- norm_outliers_mad (robust median/MAD detector) ----
  def normOutliersMad(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val spiked = e.select(col("event_id"),
      (col("value") * when(col("event_id") % 97 === 0, 50).otherwise(1)).as("v"))
    Normalize.madOutliers(spiked, "v", 3.5)
      .select(col("event_id"), round(col("v"), 5).as("v"))
      .orderBy("event_id")
  }
  val normOutliersMadOracle: String =
    """WITH t AS (SELECT event_id,
      |    value * CASE WHEN event_id % 97 = 0 THEN 50 ELSE 1 END AS v FROM events),
      |m AS (SELECT quantile_cont(v, 0.5) AS med FROM t),
      |d AS (SELECT quantile_cont(abs(v - med), 0.5) AS mad FROM t, m)
      |SELECT event_id, round(v, 5) AS v FROM t, m, d
      |WHERE abs(v - med) > CAST(3.5 AS DOUBLE) * CAST(1.4826 AS DOUBLE) * mad
      |ORDER BY event_id""".stripMargin

  // ---- norm_impute + norm_winsorize ----
  /** Median imputation of nulled values + winsorized spike column in
    * one frame: every 4th value nulled (imputed back to the median),
    * every 97th spiked ×50 (clamped to [p01, p99]).
    */
  def normImpute(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val messy = e.select(col("event_id"),
      when(col("event_id") % 4 === 0, lit(null).cast("double"))
        .otherwise(col("value")).as("v"),
      (col("value") * when(col("event_id") % 97 === 0, 50).otherwise(1)).as("w"))
    val imputed = Normalize.imputeNumeric(messy, "v", "median")
    val wins = Normalize.winsorize(imputed, "w", 0.01, 0.99)
    wins.select(col("event_id"), round(col("v"), 5).as("v_imputed"),
        round(col("w"), 5).as("w_winsorized"))
      .orderBy("event_id")
  }
  val normImputeOracle: String =
    """WITH t AS (SELECT event_id,
      |    CASE WHEN event_id % 4 = 0 THEN NULL ELSE value END AS v,
      |    value * CASE WHEN event_id % 97 = 0 THEN 50 ELSE 1 END AS w
      |  FROM events),
      |m AS (SELECT quantile_cont(v, 0.5) AS med FROM t),
      |q AS (SELECT quantile_cont(w, 0.01) AS qlo, quantile_cont(w, 0.99) AS qhi FROM t)
      |SELECT event_id,
      |  round(coalesce(v, med), 5) AS v_imputed,
      |  round(least(greatest(w, qlo), qhi), 5) AS w_winsorized
      |FROM t, m, q ORDER BY event_id""".stripMargin

  // ---- norm_valuefns (PyDI/utils/normalization.py helpers) ----
  def normValueFns(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val html = concat(lit("<p>Event <b>"), col("event_type"), lit("</b>  here</p>"))
    val phone = concat(lit("(555) "), lpad((col("event_id") % 1000).cast("string"), 3, "0"),
      lit("-"), lpad((col("event_id") % 10000).cast("string"), 4, "0"))
    val curr = concat(lit("$"), format_number(centsL(col("value")) * 13, 0))
    val pct = concat((col("event_id") % 200).cast("string"), lit(".5%"))
    val accented = concat(lit("café àbc "), col("event_type"), lit(" ÑOÊL"))
    e.select(col("event_id"),
        Normalize.stripHtml(html).as("html_stripped"),
        Normalize.normalizePhone(phone).as("phone"),
        round(coalesce(Normalize.parseCurrency(curr), lit(-1.0)), 5).as("currency"),
        round(Normalize.parsePercentage(pct), 5).as("pct"),
        Normalize.removeAccents(accented).as("unaccented"),
        round(coalesce(Normalize.extractNumeric(concat(lit("id="), col("event_id"),
          lit(" v"))), lit(-1.0)), 5).as("first_num"))
      .orderBy("event_id")
  }
  val normValueFnsOracle: String =
    """SELECT event_id,
      |  trim(regexp_replace(regexp_replace(
      |    concat('<p>Event <b>', event_type, '</b>  here</p>'), '<[^>]*>', ' ', 'g'),
      |    '\s+', ' ', 'g')) AS html_stripped,
      |  concat('+1-555-', lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0'), '-',
      |         lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')) AS phone,
      |  round(CAST(regexp_replace(concat('$', format('{:,}',
      |        CAST(round(value*100) AS BIGINT) * 13)), '[$,]', '', 'g') AS DOUBLE), 5)
      |    AS currency,
      |  round(CAST(CAST(event_id % 200 AS VARCHAR) || '.5' AS DOUBLE) / 100.0, 5) AS pct,
      |  concat('cafe abc ', event_type, ' NOEL') AS unaccented,
      |  round(CAST(event_id AS DOUBLE), 5) AS first_num
      |FROM events ORDER BY event_id""".stripMargin

  // ---- norm_detect_types ----
  def normDetectTypes(s: SparkSession, dir: String): DataFrame =
    Normalize.detectTypes(orders(s, dir))
      .withColumn("share_parsed", round(col("share_parsed"), 5))
      .orderBy("column")
  val normDetectTypesOracle: String =
    """SELECT * FROM (VALUES
      |  ('o_custkey', 'long', 1.0), ('o_orderdate', 'datetime', 1.0),
      |  ('o_orderkey', 'long', 1.0), ('o_orderpriority', 'string', 0.0),
      |  ('o_orderstatus', 'string', 0.0), ('o_totalprice', 'double', 1.0))
      |AS t("column", detected, share_parsed) ORDER BY "column"""".stripMargin

  // ---- norm_recommend (columns.py:446/:575) ----
  /** Advisory layer demo: orders with 25% of prices nulled (imputation
    * advice) and a 'mixed' column that is 80% numeric (low-confidence
    * advice); strings/dates pick up their normalization advice.
    */
  def normRecommend(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      when(col("o_orderkey") % 4 === 0, lit(null)).otherwise(col("o_totalprice"))
        .as("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority"),
      when(col("o_orderkey") % 5 === 0, lit("n/a"))
        .otherwise(col("o_orderkey").cast("string")).as("mixed"))
    Normalize.columnRecommendations(o)
      .withColumn("share_parsed", round(col("share_parsed"), 5))
      .withColumn("null_share", round(col("null_share"), 5))
      .orderBy("column", "recommendation")
  }
  val normRecommendOracle: String =
    """WITH o AS (SELECT o_orderkey, o_orderstatus,
      |    CASE WHEN o_orderkey % 4 = 0 THEN NULL ELSE o_totalprice END AS o_totalprice,
      |    o_orderdate, o_orderpriority,
      |    CASE WHEN o_orderkey % 5 = 0 THEN 'n/a'
      |         ELSE CAST(o_orderkey AS VARCHAR) END AS mixed
      |  FROM orders),
      |mx AS (SELECT round(avg(CASE WHEN regexp_matches(mixed, '^-?\d+$')
      |                 THEN 1.0 ELSE 0.0 END), 5) AS sp FROM o),
      |det AS (SELECT * FROM (VALUES
      |    ('o_orderkey', 'long', 1.0), ('o_orderstatus', 'string', 0.0),
      |    ('o_totalprice', 'double', 1.0), ('o_orderdate', 'datetime', 1.0),
      |    ('o_orderpriority', 'string', 0.0))
      |  AS t("column", detected, share_parsed)
      |  UNION ALL SELECT 'mixed', 'long', sp FROM mx),
      |ns AS (
      |  SELECT 'o_orderkey' AS "column", round(avg(CASE WHEN o_orderkey IS NULL
      |    THEN 1.0 ELSE 0.0 END), 5) AS null_share FROM o
      |  UNION ALL SELECT 'o_orderstatus', round(avg(CASE WHEN o_orderstatus IS NULL
      |    THEN 1.0 ELSE 0.0 END), 5) FROM o
      |  UNION ALL SELECT 'o_totalprice', round(avg(CASE WHEN o_totalprice IS NULL
      |    THEN 1.0 ELSE 0.0 END), 5) FROM o
      |  UNION ALL SELECT 'o_orderdate', round(avg(CASE WHEN o_orderdate IS NULL
      |    THEN 1.0 ELSE 0.0 END), 5) FROM o
      |  UNION ALL SELECT 'o_orderpriority', round(avg(CASE WHEN o_orderpriority IS NULL
      |    THEN 1.0 ELSE 0.0 END), 5) FROM o
      |  UNION ALL SELECT 'mixed', round(avg(CASE WHEN mixed IS NULL
      |    THEN 1.0 ELSE 0.0 END), 5) FROM o),
      |joined AS (SELECT d."column" AS "column", d.detected, d.share_parsed,
      |                  ns.null_share
      |           FROM det d JOIN ns ON ns."column" = d."column"),
      |r AS (
      |  SELECT "column", detected, share_parsed, null_share,
      |         'high null rate - consider imputation' AS recommendation
      |  FROM joined WHERE null_share > 0.2
      |  UNION ALL SELECT "column", detected, share_parsed, null_share,
      |         'text data - consider text normalization'
      |  FROM joined WHERE detected = 'string'
      |  UNION ALL SELECT "column", detected, share_parsed, null_share,
      |         'date data - consider date standardization'
      |  FROM joined WHERE detected = 'datetime'
      |  UNION ALL SELECT "column", detected, share_parsed, null_share,
      |         'low parse confidence - verify data type'
      |  FROM joined WHERE detected <> 'string' AND share_parsed < 0.9),
      |fin AS (SELECT * FROM r
      |  UNION ALL SELECT j."column", j.detected, j.share_parsed, j.null_share, 'ok'
      |  FROM joined j WHERE NOT EXISTS (SELECT 1 FROM r WHERE r."column" = j."column"))
      |SELECT * FROM fin ORDER BY "column", recommendation""".stripMargin

  // ---- norm_outliers ----
  def normOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val spiked = e.select(col("event_id"),
      (col("value") * when(col("event_id") % 97 === 0, 50).otherwise(1)).as("v"))
    Normalize.iqrOutliers(spiked, "v")
      .select(col("event_id"), round(col("v"), 5).as("v"))
      .orderBy("event_id")
  }
  val normOutliersOracle: String =
    """WITH t AS (SELECT event_id,
      |    value * CASE WHEN event_id % 97 = 0 THEN 50 ELSE 1 END AS v FROM events),
      |q AS (SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3 FROM t)
      |SELECT event_id, round(v, 5) AS v FROM t, q
      |WHERE v < q1 - 1.5*(q3-q1) OR v > q3 + 1.5*(q3-q1)
      |ORDER BY event_id""".stripMargin

  // ---- norm_validate ----
  def normValidate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = customer(s, dir)
    val email = concat(regexp_replace(lower(col("c_name")), "[^a-z0-9]", ""),
      when(col("c_custkey") % 7 === 0, "(at)x.com").otherwise("@x.com"))
    val withEmail = c.withColumn("email", email)
    val report = Normalize.validate(withEmail, Seq(
      Normalize.PatternRule("email_format", col("email"), Normalize.EmailPattern),
      Normalize.RangeRule("acctbal_range", col("c_acctbal"), -999.0, 9999.0),
      Normalize.CompletenessRule("mktsegment_complete", col("c_mktsegment"))))
    val dups = Normalize.duplicateKeyCount(c, "c_custkey")
    report.union(Seq(("custkey_unique", dups)).toDF("rule", "violations"))
      .orderBy("rule")
  }
  val normValidateOracle: String =
    """SELECT * FROM (
      |  SELECT 'email_format' AS rule, CAST(sum(CASE WHEN NOT regexp_matches(
      |    concat(regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g'),
      |      CASE WHEN c_custkey % 7 = 0 THEN '(at)x.com' ELSE '@x.com' END),
      |    '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$') THEN 1 ELSE 0 END) AS BIGINT)
      |    AS violations FROM customer
      |  UNION ALL SELECT 'acctbal_range', CAST(sum(CASE WHEN c_acctbal < -999.0
      |    OR c_acctbal > 9999.0 OR c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer
      |  UNION ALL SELECT 'mktsegment_complete', CAST(sum(CASE WHEN c_mktsegment IS NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) FROM customer
      |  UNION ALL SELECT 'custkey_unique', CAST(count(*) AS BIGINT) FROM
      |    (SELECT c_custkey FROM customer GROUP BY 1 HAVING count(*) > 1)
      |) ORDER BY rule""".stripMargin

  // ---- norm_coords ----
  def normCoords(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val latc = centsL(col("value")) - 10000L
    val lonc = centsL(col("value")) * 2 - 20000L
    def fmt(cc: Column, pos: String, neg: String): Column = concat(
      floor(abs(cc) / 100).cast("long").cast("string"), lit("."),
      lpad((abs(cc) % 100).cast("string"), 2, "0"),
      when(cc >= 0, pos).otherwise(neg))
    val rawLat = fmt(latc, "N", "S")
    val rawLon = fmt(lonc, "E", "W")
    e.select(col("event_id"), rawLat.as("raw_lat"), rawLon.as("raw_lon"),
        round(Normalize.parseCoord(rawLat), 5).as("lat"),
        round(Normalize.parseCoord(rawLon), 5).as("lon"))
      .orderBy("event_id")
  }
  val normCoordsOracle: String =
    """WITH t AS (SELECT event_id,
      |  CAST(round(value*100) AS BIGINT) - 10000 AS latc,
      |  CAST(round(value*100) AS BIGINT) * 2 - 20000 AS lonc FROM events)
      |SELECT event_id,
      |  concat(abs(latc) // 100, '.', lpad(CAST(abs(latc) % 100 AS VARCHAR), 2, '0'),
      |    CASE WHEN latc >= 0 THEN 'N' ELSE 'S' END) AS raw_lat,
      |  concat(abs(lonc) // 100, '.', lpad(CAST(abs(lonc) % 100 AS VARCHAR), 2, '0'),
      |    CASE WHEN lonc >= 0 THEN 'E' ELSE 'W' END) AS raw_lon,
      |  round(latc / 100.0, 5) AS lat, round(lonc / 100.0, 5) AS lon
      |FROM t ORDER BY event_id""".stripMargin

  // ---- norm_country (utils/normalization.py:246 standardize_country_name) ----

  private val CountryVariants = Seq("usa", " US ", "Great Britain", "deutschland",
    "br", "new zealand", "JAPAN", "  united STATES of america ")

  def normCountry(s: SparkSession, dir: String): DataFrame = {
    val raw = element_at(array(CountryVariants.map(lit): _*),
      (col("c_custkey") % 8).cast("int") + 1)
    customer(s, dir).select(col("c_custkey"), raw.as("raw_country"),
        Normalize.standardizeCountry(raw).as("standardized"))
      .orderBy("c_custkey")
  }
  /** Oracle hard-codes the expected standardization per variant —
    * recomputed by hand from the reference semantics (direct map hit,
    * first partial match in map order, title-case fallback), NOT by
    * replaying the Spark expression.
    */
  val normCountryOracle: String = {
    val expected = Seq("United States", "United States", "United Kingdom",
      "Germany", "United Kingdom", "New Zealand", "Japan", "United States")
    val rawCase = CountryVariants.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN '${sqlq(v)}'" }.mkString(" ")
    val stdCase = expected.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN '${sqlq(v)}'" }.mkString(" ")
    s"""SELECT c_custkey,
       |  CASE c_custkey % 8 $rawCase END AS raw_country,
       |  CASE c_custkey % 8 $stdCase END AS standardized
       |FROM customer ORDER BY c_custkey""".stripMargin
  }

  // ---- norm_encoding (utils/normalization.py:411 detect / :441 fix) ----

  private def encodingCases: Seq[String] = {
    val moji = Normalize.EncodingFixes.map(_._1)
    Seq(
      "caf" + moji(5), // mojibake e-acute -> "café"
      "it" + moji(0) + "s fine", // curly apostrophe -> "it's fine"
      "plain text", // untouched, has_issue = false
      moji(1) + "quoted" + moji(2), // quote pair -> "\"quoted\""
      "a" + moji(3) + "b") // em-dash mojibake: the bare right-quote rule
                           // eats its prefix first (reference quirk)
  }

  def normEncoding(s: SparkSession, dir: String): DataFrame = {
    val cases = encodingCases
    val raw = element_at(array(cases.map(lit): _*),
      (col("event_id") % cases.size).cast("int") + 1)
    events(s, dir).select(col("event_id"), raw.as("raw"),
        Normalize.fixEncoding(raw).as("fixed"),
        Normalize.detectEncodingIssues(raw).as("has_issue"))
      .orderBy("event_id")
  }
  /** Oracle replays the fix chain with java.lang.String.replace folds
    * (sequential semantics, same as Python's) at SQL-build time — an
    * independent execution path from Spark's replace() expressions.
    */
  val normEncodingOracle: String = {
    val cases = encodingCases
    def replay(x: String): String =
      Normalize.EncodingFixes.foldLeft(x) { case (a, (bad, good)) => a.replace(bad, good) }
    def hasIssue(x: String): Boolean = Normalize.EncodingIssueTokens.exists(x.contains)
    val rawCase = cases.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN '${sqlq(v)}'" }.mkString(" ")
    val fixCase = cases.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN '${sqlq(replay(v))}'" }.mkString(" ")
    val issCase = cases.zipWithIndex
      .map { case (v, i) => s"WHEN $i THEN ${hasIssue(v)}" }.mkString(" ")
    s"""SELECT event_id,
       |  CASE event_id % ${cases.size} $rawCase END AS raw,
       |  CASE event_id % ${cases.size} $fixCase END AS fixed,
       |  CASE event_id % ${cases.size} $issCase END AS has_issue
       |FROM events ORDER BY event_id""".stripMargin
  }

  // ---- norm_quality_report (columns.py:526 analyze_column_quality +
  //      :575 get_column_recommendations) ----

  private def qualityFixture(s: SparkSession, dir: String): DataFrame =
    // r13: deliberately NOT spread — measured alongside the fusion
    // sources() spread, which the full bench rejected (multi-consumer
    // fixtures re-pay the exchange per consumer; see FuseQueries).
    orders(s, dir).select(
      col("o_orderkey"),
      centsL(col("o_totalprice")).as("price_c"),
      when(col("o_orderkey") % 3 === 0, lit("N/A"))
        .otherwise(col("o_orderpriority")).as("priority"),
      col("o_orderdate").cast("string").as("orderdate_str"))

  def normQualityReport(s: SparkSession, dir: String): DataFrame = {
    val df = qualityFixture(s, dir)
    val quality = Normalize.columnQuality(df, df.columns.toSeq)
    val types = Normalize.detectTypes(df).select(col("column"), col("detected"))
    quality.join(types, Seq("column"))
      .withColumn("recommendation", concat_ws("; ",
        when(col("null_percentage") > 20.0,
          lit("high null rate - consider imputation")),
        when(col("detected") === "string",
          lit("text data - consider text normalization")),
        when(col("detected") === "datetime",
          lit("date data - consider date standardization"))))
      .orderBy("column")
  }
  val normQualityReportOracle: String =
    """WITH src AS (
      |  SELECT 'o_orderkey' AS column_name, CAST(o_orderkey AS VARCHAR) AS v FROM orders
      |  UNION ALL SELECT 'price_c',
      |    CAST(CAST(round(o_totalprice*100) AS BIGINT) AS VARCHAR) FROM orders
      |  UNION ALL SELECT 'priority',
      |    CASE WHEN o_orderkey % 3 = 0 THEN 'N/A' ELSE o_orderpriority END FROM orders
      |  UNION ALL SELECT 'orderdate_str', CAST(o_orderdate AS VARCHAR) FROM orders),
      |n AS (SELECT column_name,
      |  CASE WHEN lower(trim(v)) IN
      |    ('', 'null', 'none', 'n/a', 'na', 'nan', '-', '?', 'unknown')
      |    THEN NULL ELSE v END AS value FROM src),
      |t AS (SELECT column_name, value,
      |  CASE WHEN regexp_matches(value, '^-?\d+(\.\d+)?([eE][+-]?\d+)?$')
      |    THEN CAST(value AS DOUBLE) END AS num FROM n),
      |base AS (SELECT column_name,
      |  count(*) AS total_values,
      |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
      |  count(DISTINCT value) AS unique_count,
      |  sum(CAST(num AS DECIMAL(38,6))) AS sx,
      |  sum(CAST(num*num AS DECIMAL(38,6))) AS sxx,
      |  count(num) AS n,
      |  min(num) AS min_value, max(num) AS max_value,
      |  quantile_cont(num, 0.25) AS q1, quantile_cont(num, 0.75) AS q3
      |  FROM t GROUP BY 1),
      |outl AS (SELECT t.column_name, count(*) AS outlier_count
      |  FROM t JOIN base b USING (column_name)
      |  WHERE t.num < b.q1 - 1.5*(b.q3-b.q1) OR t.num > b.q3 + 1.5*(b.q3-b.q1)
      |  GROUP BY 1),
      |rep AS (SELECT b.column_name,
      |  b.total_values, b.null_count,
      |  b.null_count * CAST(100.0 AS DOUBLE) / b.total_values AS null_percentage,
      |  b.unique_count,
      |  b.unique_count / CAST(b.total_values AS DOUBLE) AS uniqueness_ratio,
      |  (b.total_values - b.null_count) / CAST(b.total_values AS DOUBLE) AS completeness,
      |  CAST(coalesce(o.outlier_count, 0) AS BIGINT) AS outlier_count,
      |  CAST(CAST(b.sx AS VARCHAR) AS DOUBLE) / b.n AS mean,
      |  CASE WHEN b.n > 1 THEN sqrt((CAST(CAST(b.sxx AS VARCHAR) AS DOUBLE)
      |    - CAST(CAST(b.sx AS VARCHAR) AS DOUBLE) * CAST(CAST(b.sx AS VARCHAR) AS DOUBLE) / b.n) / (b.n - 1)) END AS std,
      |  b.min_value, b.max_value,
      |  CASE b.column_name WHEN 'o_orderkey' THEN 'long' WHEN 'price_c' THEN 'long'
      |    WHEN 'priority' THEN 'string' WHEN 'orderdate_str' THEN 'datetime' END AS detected
      |  FROM base b LEFT JOIN outl o USING (column_name))
      |SELECT column_name AS "column", total_values, null_count, null_percentage,
      |  unique_count, uniqueness_ratio, completeness, outlier_count, mean, std,
      |  min_value, max_value, detected,
      |  concat_ws('; ',
      |    CASE WHEN null_percentage > 20.0 THEN 'high null rate - consider imputation' END,
      |    CASE WHEN detected = 'string' THEN 'text data - consider text normalization' END,
      |    CASE WHEN detected = 'datetime' THEN 'date data - consider date standardization' END)
      |    AS recommendation
      |FROM rep ORDER BY "column"""".stripMargin

  // ---- norm_transforms (transforms.py registry) ----
  /** Exercises the whole `Transforms` surface: a declarative per-column
    * chain via `applyChains` (one projection for the whole table), the
    * parameterized factories, and the registry catalog (as a literal
    * crosscheck column count).
    */
  def normTransforms(s: SparkSession, dir: String): DataFrame = {
    // The synthetic orders table has no clerk/comment — derive messy
    // stand-ins deterministically (clerk zero-padded from custkey; the
    // comment embeds a non-ASCII char so drop_non_ascii has real work).
    val o = orders(s, dir).select(
      col("o_orderkey"),
      concat(lit("  "), col("o_orderstatus"), lit("   x  y ")).as("status"),
      col("o_orderpriority").as("prio"),
      concat(lit("Clerk#"), lpad(col("o_custkey").cast("string"), 9, "0")).as("clerk"),
      col("o_orderdate").cast("string").as("odate"),
      concat(col("o_orderpriority"), lit(" é  "), col("o_orderstatus")).as("comment"))
    val chained = Transforms.applyChains(o, Seq(
      "status" -> Seq("strip", "lower", "normalize_whitespace"),
      "comment" -> Seq("drop_non_ascii", "normalize_whitespace", "upper"),
      "odate" -> Seq("to_datetime")))
    chained.select(
        col("o_orderkey"),
        col("status"), col("comment"), col("odate"),
        Transforms.replaceValues(Map(
          "1-URGENT" -> "P1", "2-HIGH" -> "P2"))(col("prio")).as("prio"),
        Transforms.regexReplace("[^0-9]", "")(col("clerk")).as("clerk_digits"),
        Normalize.parseNumeric(
          Transforms.regexReplace("[^0-9]", "")(col("clerk"))).as("clerk_num"),
        Transforms.fillNa("n/a")(nullif(col("prio"), lit("3-MEDIUM"))).as("prio_filled"),
        lit(Transforms.registry.size.toLong
          + 3L /* parameterized factories */).as("n_transforms"))
      .orderBy("o_orderkey")
  }

  val normTransformsOracle: String =
    """WITH o AS (SELECT o_orderkey, o_orderstatus, o_orderpriority, o_orderdate,
      |    'Clerk#' || lpad(CAST(o_custkey AS VARCHAR), 9, '0') AS clerk,
      |    o_orderpriority || ' é  ' || o_orderstatus AS comment
      |  FROM orders)
      |SELECT o_orderkey,
      |  regexp_replace(trim(lower(trim(concat('  ', o_orderstatus, '   x  y ')))), '\s+', ' ', 'g') AS status,
      |  upper(regexp_replace(trim(regexp_replace(comment, '[^\x00-\x7F]', '', 'g')), '\s+', ' ', 'g')) AS comment,
      |  CAST(o_orderdate AS DATE) AS odate,
      |  CASE o_orderpriority WHEN '1-URGENT' THEN 'P1' WHEN '2-HIGH' THEN 'P2'
      |    ELSE o_orderpriority END AS prio,
      |  regexp_replace(clerk, '[^0-9]', '', 'g') AS clerk_digits,
      |  CAST(regexp_replace(clerk, '[^0-9]', '', 'g') AS DOUBLE) AS clerk_num,
      |  coalesce(nullif(o_orderpriority, '3-MEDIUM'), 'n/a') AS prio_filled,
      |  CAST(10 AS BIGINT) AS n_transforms
      |FROM o ORDER BY o_orderkey""".stripMargin

  /** FD-violation REPAIR — the enforcement face of `profile_fd` (which
    * only MEASURES how badly c_nationkey ↛ name holds): for each
    * determinant group, every row's dependent value is replaced by the
    * group's MAJORITY value (ties broken to the lexicographic minimum —
    * the deterministic HoloClean-lite rule), with the repair decision
    * riding along. Violations are PLANTED (custkey % 97 corrupts the
    * joined nation name) so both populations exist. Scale shape: the
    * candidate frame is |groups × distinct dependent values| — domain-
    * bounded, nothing row-scale shuffles twice; the majority frame
    * broadcast-joins back onto the rows. The documented limitation is
    * part of the law: majority repair keeps a corruption that IS the
    * majority (single-row groups), which the oracle reproduces rather
    * than hides.
    */
  def normFdRepair(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = nation(s, dir).select(col("n_nationkey"), col("n_name"))
    val dirty = customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"),
        when(col("c_custkey") % 97 === 0, concat(col("n_name"), lit("_X")))
          .otherwise(col("n_name")).as("n_name"))
    val counts = dirty.groupBy("c_nationkey", "n_name")
      .agg(count(lit(1)).as("_c"))
    val w = Window.partitionBy("c_nationkey")
      .orderBy(col("_c").desc, col("n_name"))
    val majority = counts.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(col("c_nationkey"), col("n_name").as("n_name_repaired"))
    dirty.join(broadcast(majority), Seq("c_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"),
        col("n_name_repaired"),
        (col("n_name") =!= col("n_name_repaired")).as("was_repaired"))
      .orderBy("c_custkey")
  }

  val normFdRepairOracle: String =
    """WITH d AS (SELECT c_custkey, c_nationkey,
      |    CASE WHEN c_custkey % 97 = 0 THEN n_name || '_X' ELSE n_name END
      |      AS n_name
      |  FROM customer JOIN nation ON n_nationkey = c_nationkey),
      |cnt AS (SELECT c_nationkey, n_name, count(*) AS c FROM d GROUP BY 1, 2),
      |maj AS (SELECT c_nationkey, n_name AS n_name_repaired FROM (
      |          SELECT c_nationkey, n_name, row_number() OVER (
      |            PARTITION BY c_nationkey ORDER BY c DESC, n_name) AS rk
      |          FROM cnt) WHERE rk = 1)
      |SELECT d.c_custkey, d.c_nationkey, d.n_name, maj.n_name_repaired,
      |       d.n_name <> maj.n_name_repaired AS was_repaired
      |FROM d JOIN maj ON maj.c_nationkey = d.c_nationkey
      |ORDER BY d.c_custkey""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("norm_fd_repair", normFdRepair, Some(normFdRepairOracle)),
    QueryDef("norm_text", normText, Some(normTextOracle)),
    QueryDef("norm_headers", normHeaders, Some(normHeadersOracle)),
    QueryDef("norm_tokenize", normTokenize, Some(normTokenizeOracle)),
    QueryDef("norm_nulls", normNulls, Some(normNullsOracle)),
    QueryDef("norm_boolean", normBoolean, Some(normBooleanOracle)),
    QueryDef("norm_numeric", normNumeric, Some(normNumericOracle)),
    QueryDef("norm_dates", normDates, Some(normDatesOracle)),
    QueryDef("norm_urls", normUrls, Some(normUrlsOracle)),
    QueryDef("norm_units", normUnits, Some(normUnitsOracle)),
    QueryDef("norm_units_multi", normUnitsMulti, Some(normUnitsMultiOracle)),
    QueryDef("norm_valuefns", normValueFns, Some(normValueFnsOracle)),
    QueryDef("norm_outliers_zscore", normOutliersZscore, Some(normOutliersZscoreOracle)),
    QueryDef("norm_outliers_mad", normOutliersMad, Some(normOutliersMadOracle)),
    QueryDef("norm_impute", normImpute, Some(normImputeOracle)),
    QueryDef("norm_detect_types", normDetectTypes, Some(normDetectTypesOracle)),
    QueryDef("norm_recommend", normRecommend, Some(normRecommendOracle)),
    QueryDef("norm_outliers", normOutliers, Some(normOutliersOracle)),
    QueryDef("norm_validate", normValidate, Some(normValidateOracle)),
    QueryDef("norm_coords", normCoords, Some(normCoordsOracle)),
    QueryDef("norm_webtable", normWebtable, Some(normWebtableOracle)),
    QueryDef("norm_convert", normConvert, Some(normConvertOracle)),
    QueryDef("norm_dup_detect", normDupDetect, Some(normDupDetectOracle)),
    QueryDef("norm_dataset", normDataset, Some(normDatasetOracle)),
    QueryDef("norm_country", normCountry, Some(normCountryOracle)),
    QueryDef("norm_encoding", normEncoding, Some(normEncodingOracle)),
    QueryDef("norm_quality_report", normQualityReport, Some(normQualityReportOracle)),
    QueryDef("norm_transforms", normTransforms, Some(normTransformsOracle))
  )
}
