package graft.fusion

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conflict-resolution + fusion engine — the Spark re-expression of
  * PyDI/fusion (engine.py:248, conflict_resolution/{general,string,
  * numeric,date,list}.py).
  *
  * The reference resolves each cluster in a Python loop over value lists;
  * here every resolver is a distributed aggregation with ONE shuffle on
  * the cluster id (or (cluster, value) for voting), all
  * partial-aggregation friendly. Deterministic tie-breaks everywhere:
  * the reference inherits pandas/dict insertion order on exact ties —
  * we define (count desc, value asc) / (-len, value asc) etc., matching
  * the reference's own sort keys where it has them
  * (string.py:34,80,130).
  */
object Fusion {

  /** First row per cluster under `order` → chosen value column(s). */
  private def pickFirst(df: DataFrame, cluster: String, order: Seq[Column], keep: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(cluster)).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col(cluster) +: keep: _*)
  }

  /** voting (general.py:16): most frequent valid value; ties → value asc.
    * Output: (cluster, value, confidence, is_majority) with the
    * reference's tie confidence 0.5 + (win−second)/n·0.5.
    */
  def voting(df: DataFrame, cluster: String, value: String): DataFrame = {
    val counts = df.filter(col(value).isNotNull)
      .groupBy(col(cluster), col(value))
      .agg(count(lit(1)).as("_cnt"))
    val w = Window.partitionBy(col(cluster)).orderBy(col("_cnt").desc, col(value))
    counts.withColumn("_rn", row_number().over(w))
      .groupBy(col(cluster))
      .agg(
        max(when(col("_rn") === 1, col(value))).as(value),
        max(when(col("_rn") === 1, col("_cnt"))).as("_w"),
        max(when(col("_rn") === 2, col("_cnt"))).as("_s"),
        sum(col("_cnt")).as("_n"),
        count(lit(1)).as("_d"))
      .select(
        col(cluster), col(value),
        round(when(col("_d") === 1, 1.0)
          .when(col("_w") > col("_s"),
            lit(0.5) + (col("_w") - col("_s")) / col("_n") * 0.5)
          .otherwise(0.5), 5).as("confidence"),
        (col("_w") > col("_n") / 2.0).as("is_majority"))
  }

  /** weighted_voting (general.py:154): per-value weight sums; winner by
    * (weight desc, value asc); confidence = winner/total weight.
    */
  def weightedVoting(df: DataFrame, cluster: String, value: String, weight: Column): DataFrame = {
    val sums = df.filter(col(value).isNotNull)
      .groupBy(col(cluster), col(value))
      .agg(sum(weight).as("_wsum"))
    val tot = sums.groupBy(col(cluster)).agg(sum(col("_wsum")).as("_tot"))
    pickFirst(sums.join(tot, cluster), cluster,
      Seq(col("_wsum").desc, col(value)),
      Seq(col(value), round(col("_wsum") / col("_tot"), 5).as("confidence")))
  }

  /** favour_sources (general.py:61): first valid value scanning sources
    * in preference order.
    */
  def favourSources(df: DataFrame, cluster: String, value: String, source: String,
      prefs: Seq[String]): DataFrame = {
    val rank = prefs.zipWithIndex
      .foldLeft(lit(prefs.size)) { case (acc, (s, i)) =>
        when(col(source) === s, i).otherwise(acc)
      }
    pickFirst(df.filter(col(value).isNotNull), cluster,
      Seq(rank.asc, col(source).asc), Seq(col(value)))
  }

  /** prefer_higher_trust (general.py:213): value from the most trusted
    * source; ties → source asc (reference: first in input order).
    */
  def preferHigherTrust(df: DataFrame, cluster: String, value: String, source: String,
      trust: Map[String, Double], defaultTrust: Double = 1.0): DataFrame = {
    val t = trust.foldLeft(lit(defaultTrust)) { case (acc, (s, v)) =>
      when(col(source) === s, v).otherwise(acc)
    }
    pickFirst(df.filter(col(value).isNotNull), cluster,
      Seq(t.desc, col(source).asc), Seq(col(value)))
  }

  /** random_value (general.py:122) made deterministic and distributed:
    * seeded hash-pick — the value minimizing md5(cluster‖value) — instead
    * of Python's random.choice (which is seed-order dependent and cannot
    * be reproduced by a SQL oracle).
    */
  def hashPick(df: DataFrame, cluster: String, value: String): DataFrame =
    pickFirst(df.filter(col(value).isNotNull), cluster,
      Seq(md5(concat_ws("|", col(cluster).cast("string"), col(value).cast("string"))).asc),
      Seq(col(value)))

  /** longest_string / shortest_string / most_complete (string.py:12,58,103)
    * in one pass. most_complete counts non-whitespace characters.
    */
  def stringResolvers(df: DataFrame, cluster: String, value: String): DataFrame = {
    val v = col(value)
    val nonWs = length(regexp_replace(v, "[ \\t\\n]", ""))
    df.filter(v.isNotNull)
      .groupBy(col(cluster))
      .agg(
        min(struct((-length(v)).as("k"), v.as("v"))).as("_lo"),
        min(struct(length(v).as("k"), v.as("v"))).as("_sh"),
        min(struct((-nonWs).as("k"), v.as("v"))).as("_mc"))
      .select(col(cluster),
        col("_lo.v").as("longest"),
        col("_sh.v").as("shortest"),
        col("_mc.v").as("most_complete"))
  }

  /** average / median / maximum / minimum / sum (numeric.py) over an
    * exact-cents column: integer sums are order-independent, so results
    * hash-match the oracle at any parallelism (see Tables.cents).
    */
  def numericResolvers(df: DataFrame, cluster: String, cents: Column): DataFrame =
    df.filter(cents.isNotNull)
      .groupBy(col(cluster))
      .agg(
        round(sum(cents) / 100.0 / count(lit(1)), 5).as("avg_value"),
        round(percentile(cents, lit(0.5)) / 100.0, 5).as("median_value"),
        round(max(cents) / 100.0, 5).as("max_value"),
        round(min(cents) / 100.0, 5).as("min_value"),
        round(sum(cents) / 100.0, 5).as("sum_value"))

  /** most_recent / earliest (date.py) → max / min date. */
  def dateResolvers(df: DataFrame, cluster: String, date: Column): DataFrame =
    df.filter(date.isNotNull)
      .groupBy(col(cluster))
      .agg(max(date).as("most_recent"), min(date).as("earliest"))

  /** union / intersection / intersection_k_sources (list.py) over an
    * array column. Emitted as comma-joined sorted strings (portable
    * across engines). Intersection counts a token once per record.
    */
  def listResolvers(df: DataFrame, cluster: String, arr: Column, k: Int = 2): DataFrame = {
    val valid = df.filter(arr.isNotNull)
    val nRec = valid.groupBy(col(cluster)).agg(count(lit(1)).as("_nrec"))
    val tokens = valid
      .select(col(cluster), explode(array_distinct(arr)).as("_tok"))
      .groupBy(col(cluster), col("_tok"))
      .agg(count(lit(1)).as("_cnt"))
    tokens.join(nRec, cluster)
      .groupBy(col(cluster))
      .agg(
        array_join(array_sort(collect_list(col("_tok"))), ",").as("union_list"),
        array_join(array_sort(collect_list(when(col("_cnt") === col("_nrec"), col("_tok")))), ",")
          .as("intersection_list"),
        array_join(array_sort(collect_list(when(col("_cnt") >= k, col("_tok")))), ",")
          .as(s"intersection_${k}_list"))
  }

  /** FusionEngine.run (engine.py:356) as a reusable strategy-table API:
    * one resolver name per attribute; resolvers join on the cluster id
    * into a single fused record per cluster (each resolver is one
    * aggregation — the join keys are tiny post-agg frames).
    *
    * Supported strategy names: voting, longest_string, shortest_string,
    * most_complete, average, median, maximum, minimum, sum,
    * most_recent, earliest, hash_pick (deterministic random_value).
    */
  def runEngine(records: DataFrame, cluster: String,
      strategies: Seq[(String, String)]): DataFrame = {
    val (votes, rest) = strategies.partition(_._2 == "voting")
    // Every non-voting strategy compiles to aggregate expressions over
    // the SAME groupBy — the whole strategy table is ONE scan + ONE
    // shuffle (round-3 verdict: the per-attribute re-scan doubled the
    // pass count at 100 TB). Null handling matches the per-resolver
    // functions: struct-min aggregates wrap values in when(isNotNull, …)
    // so null structs drop out exactly like the resolvers' filters.
    val aggs = scala.collection.mutable.ArrayBuffer.empty[Column]
    val posts = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
    rest.zipWithIndex.foreach { case ((attr, strategy), i) =>
      val v = col(attr)
      strategy match {
        case "longest_string" | "shortest_string" | "most_complete" =>
          val key = strategy match {
            case "longest_string" => -length(v)
            case "shortest_string" => length(v)
            case _ => -length(regexp_replace(v, "[ \\t\\n]", ""))
          }
          aggs += min(when(v.isNotNull, struct(key.as("k"), v.as("v")))).as(s"_p$i")
          posts += attr -> col(s"_p$i.v")
        case "average" | "median" | "maximum" | "minimum" | "sum" =>
          // only the aggregate(s) this strategy's output reads
          val c = graft.Tables.cents(v)
          def agg(a: Column): Column = { aggs += a.as(s"_a$i"); col(s"_a$i") }
          posts += attr -> round(strategy match {
            case "average" =>
              aggs += count(when(c.isNotNull, lit(1))).as(s"_n$i")
              agg(sum(c)) / 100.0 / col(s"_n$i")
            case "median" => agg(percentile(c, lit(0.5))) / 100.0
            case "maximum" => agg(max(c)) / 100.0
            case "minimum" => agg(min(c)) / 100.0
            case _ => agg(sum(c)) / 100.0
          }, 5)
        case "most_recent" =>
          aggs += max(v).as(s"_d$i"); posts += attr -> col(s"_d$i")
        case "earliest" =>
          aggs += min(v).as(s"_d$i"); posts += attr -> col(s"_d$i")
        case "hash_pick" =>
          aggs += min(when(v.isNotNull, struct(
            md5(concat_ws("|", col(cluster).cast("string"), v.cast("string"))).as("k"),
            v.as("v")))).as(s"_h$i")
          posts += attr -> col(s"_h$i.v")
        case other =>
          throw new IllegalArgumentException(s"unknown fusion strategy: $other")
      }
    }
    aggs += count(lit(1)).as("n_records")
    val main = records.groupBy(col(cluster)).agg(aggs.head, aggs.tail.toSeq: _*)
      .select(col(cluster) +: posts.toSeq.map { case (a, c) => c.as(a) } :+ col("n_records"): _*)
    // voting needs a (cluster, value) pre-aggregation of its own; one
    // extra pass per voting attribute, joined on the tiny post-agg keys.
    // LEFT join: voting() filters nulls, so a cluster whose voting
    // attribute is entirely null must still fuse (with null), exactly
    // like every other strategy — and like the reference engine.
    val withVotes = votes.foldLeft(main) { case (d, (attr, _)) =>
      d.join(voting(records, cluster, attr).select(col(cluster), col(attr)),
        Seq(cluster), "left")
    }
    withVotes.select(
      col(cluster) +: strategies.map { case (a, _) => col(a) } :+ col("n_records"): _*)
  }

  /** Winning-source attribution (fusion/provenance.py:62
    * ProvenanceTracker.track_fusion_result, per attribute): for each
    * (attribute, strategy) pair emit (cluster, attribute, value, source,
    * strategy) — whose value won the fusion. Pick-one strategies have a
    * well-defined winner row; `voting` attributes the minimum source
    * name among records holding the winning value (the reference
    * records the full contributing-source set; one deterministic
    * representative keeps this a flat frame). All pick strategies run
    * in ONE stacked window pass (keys are precomputed per strategy at
    * stack time), voting in one two-level aggregation.
    */
  def provenance(records: DataFrame, cluster: String, source: String,
      strategies: Seq[(String, String)]): DataFrame = {
    val pick = strategies.filterNot(_._2 == "voting")
    val vote = strategies.filter(_._2 == "voting")
    val parts = Seq.newBuilder[DataFrame]
    if (pick.nonEmpty) {
      val structs = pick.map { case (attr, strat) =>
        val v = col(attr)
        val vs = v.cast("string")
        val (kNum, kStr): (Column, Column) = strat match {
          case "longest_string" => (-length(vs).cast("double"), lit(""))
          case "shortest_string" => (length(vs).cast("double"), lit(""))
          case "most_complete" =>
            (-length(regexp_replace(vs, "[ \\t\\n]", "")).cast("double"), lit(""))
          // Key on full timestamp micros, not a date cast: a date cast
          // truncates time-of-day, so the winner could disagree with
          // runEngine's max/min on timestamp attributes. try_to_timestamp
          // (not cast) because ANSI mode throws on malformed strings;
          // malformed → null key → sorts last (coalesce below), never wins.
          case "most_recent" => (-unix_micros(try_to_timestamp(vs)).cast("double"), lit(""))
          case "earliest" => (unix_micros(try_to_timestamp(vs)).cast("double"), lit(""))
          case "hash_pick" =>
            (lit(0.0), md5(concat_ws("|", col(cluster).cast("string"), vs)))
          case other =>
            throw new IllegalArgumentException(s"unsupported provenance strategy: $other")
        }
        struct(lit(attr).as("attribute"), lit(strat).as("strategy"),
          vs.as("value"), col(source).cast("string").as("source"),
          kNum.as("k_num"), kStr.as("k_str"))
      }
      val stacked = records
        .select(col(cluster).as("_cl"), explode(array(structs: _*)).as("x"))
        .select(col("_cl"), col("x.*"))
        .filter(col("value").isNotNull)
      // min(struct(keys…, value, source)): struct ordering is exactly the
      // old window orderBy, but an aggregate partial-combines map-side —
      // one winner row per group leaves each task instead of the whole
      // exploded frame being shuffled and sorted (the window version was
      // the #1 bench query at 31 s; at 100 TB it is the difference
      // between shuffling |records|·|strategies| rows and |clusters|).
      // nulls LAST via coalesce-to-max: an unparseable date/timestamp
      // yields a null key, and null-first struct ordering would let a
      // malformed record beat every well-formed one.
      parts += stacked
        .groupBy(col("_cl"), col("attribute"), col("strategy"))
        .agg(min(struct(
          coalesce(col("k_num"), lit(Double.MaxValue)).as("k_num"),
          col("k_str").as("k_str"),
          col("value").as("value"),
          col("source").as("source"))).as("w"))
        .select(col("_cl").as(cluster), col("attribute"),
          col("w.value").as("value"), col("w.source").as("source"),
          col("strategy"))
    }
    vote.foreach { case (attr, _) =>
      // Two-level aggregate, no window: per-(cluster,value) counts, then
      // per-cluster argmin over (-count, value) — both partial-combining.
      parts += records.filter(col(attr).isNotNull)
        .groupBy(col(cluster), col(attr).cast("string").as("value"))
        .agg(count(lit(1)).as("_cnt"), min(col(source).cast("string")).as("source"))
        .groupBy(col(cluster))
        .agg(min(struct((-col("_cnt")).as("nc"), col("value").as("value"),
          col("source").as("source"))).as("w"))
        .select(col(cluster), lit(attr).as("attribute"),
          col("w.value").as("value"), col("w.source").as("source"),
          lit("voting").as("strategy"))
    }
    parts.result().reduce(_.unionByName(_))
  }

  /** analyze_attribute_coverage (fusion/analysis.py:22): per (attribute,
    * source) — non-null count, total, coverage ratio — plus per-
    * attribute rollups: datasets_with_attribute, max_coverage, and
    * MICRO-averaged avg_coverage (Σ non-null / Σ total — a deterministic
    * integer ratio; the reference's macro-mean over per-source ratios is
    * float-order-dependent and differs only when sources have unequal
    * row counts — documented deviation). Ratios are raw IEEE divisions
    * of exact longs, bit-identical in any engine.
    */
  def attributeCoverage(records: DataFrame, source: String,
      attrs: Seq[String]): DataFrame = {
    val stacked = records.select(col(source).as("dataset"),
        explode(array(attrs.map(a => struct(lit(a).as("attribute"),
          col(a).isNotNull.as("nn"))): _*)).as("x"))
      .select(col("dataset"), col("x.attribute").as("attribute"), col("x.nn").as("nn"))
    val per = stacked.groupBy("attribute", "dataset")
      .agg(sum(col("nn").cast("long")).as("n_nonnull"), count(lit(1)).as("n_total"))
    val w = Window.partitionBy("attribute")
    per.select(col("attribute"), col("dataset"), col("n_nonnull"), col("n_total"),
      (col("n_nonnull").cast("double") / col("n_total")).as("coverage"),
      sum(when(col("n_nonnull") > 0, 1L).otherwise(0L)).over(w)
        .as("datasets_with_attribute"),
      (sum(col("n_nonnull")).over(w).cast("double") / sum(col("n_total")).over(w))
        .as("avg_coverage"),
      max(col("n_nonnull").cast("double") / col("n_total")).over(w).as("max_coverage"))
  }

  /** Conflict share per attribute (fusion/analysis.py): fraction of
    * clusters holding >1 distinct valid value for the attribute.
    */
  def consistencyReport(df: DataFrame, cluster: String, attrs: Seq[String]): DataFrame = {
    val perAttr = attrs.map { a =>
      df.groupBy(col(cluster))
        .agg(count_distinct(col(a)).as("_d"))
        .agg(
          lit(a).as("attribute"),
          count(lit(1)).as("n_clusters"),
          sum(when(col("_d") > 1, 1L).otherwise(0L)).as("n_conflicted"))
        .select(col("attribute"), col("n_clusters"), col("n_conflicted"),
          round(col("n_conflicted") / greatest(col("n_clusters"), lit(1L)), 5).as("conflict_share"))
    }
    perAttr.reduce(_.unionByName(_))
  }

  // ---- per-attribute evaluation rules (fusion/evaluation.py:46–251) ----

  /** ASCII punctuation (Python `string.punctuation`) as a regex class:
    * codes 33–47, 58–64, 91–96, 123–126.
    */
  private val PunctClass = "[!-/:-@\\[-`{-~]"

  /** Cleaned token set of a string: lowercase, whitespace-split, ASCII
    * punctuation stripped per token, empties dropped (tokenized_match's
    * clean_tokens, evaluation.py:101).
    */
  def cleanTokens(c: Column): Column =
    array_distinct(filter(
      transform(split(lower(c), "\\s+"), t => regexp_replace(t, PunctClass, "")),
      t => length(t) > 0))

  /** One boolean match column per rule (fusion/evaluation.py): `exact`,
    * `tokenized[:θ]`, `year_only`, `numeric_tolerance[:tol]`,
    * `set_equality`, `boolean`. All follow the evaluator's missing-value
    * protocol: both missing → correct, one missing → incorrect.
    */
  def matchRule(rule: String, f: Column, g: Column): Column = {
    val bothNull = f.isNull && g.isNull
    val oneNull = f.isNull || g.isNull
    def guarded(core: Column): Column =
      when(bothNull, lit(true)).when(oneNull, lit(false)).otherwise(core)
    val parts = rule.split(":")
    parts(0) match {
      case "exact" => guarded(f === g)
      case "tokenized" =>
        val thr = if (parts.length > 1) parts(1).toDouble else 1.0
        val ta = cleanTokens(f)
        val tb = cleanTokens(g)
        // both token sets empty → true; one empty → false; else Jaccard ≥ θ
        guarded(
          when(size(ta) === 0 && size(tb) === 0, lit(true))
            .when(size(ta) === 0 || size(tb) === 0, lit(false))
            .otherwise(size(array_intersect(ta, tb)).cast("double")
              / size(array_union(ta, tb)) >= thr))
      case "year_only" =>
        // unparseable → false (the reference logs an error and fails the row)
        val ya = year(try_to_timestamp(f.cast("string")))
        val yb = year(try_to_timestamp(g.cast("string")))
        guarded(coalesce(ya === yb, lit(false)))
      case "numeric_tolerance" =>
        val tol = if (parts.length > 1) parts(1).toDouble else 0.01
        val na = try_cast_double(f)
        val nb = try_cast_double(g)
        // non-numeric on either side → trimmed string equality fallback
        guarded(
          when(na.isNotNull && nb.isNotNull, abs(na - nb) <= tol)
            .otherwise(trim(f.cast("string")) === trim(g.cast("string"))))
      case "set_equality" =>
        // array inputs compare as sets; scalars fall back to equality
        guarded(f === g)
      case "boolean" =>
        val ba = boolNorm(f)
        val bb = boolNorm(g)
        guarded(
          when(ba.isNotNull && bb.isNotNull, ba === bb)
            .otherwise(trim(lower(f.cast("string"))) === trim(lower(g.cast("string")))))
      case other =>
        throw new IllegalArgumentException(s"unknown evaluation rule: $other")
    }
  }

  /** set_equality over ARRAY columns: order-independent distinct-set
    * comparison (matchRule's scalar branch handles everything else).
    */
  def matchSetEquality(f: Column, g: Column): Column =
    when(f.isNull && g.isNull, lit(true))
      .when(f.isNull || g.isNull, lit(false))
      .otherwise(array_sort(array_distinct(f)) === array_sort(array_distinct(g)))

  private def try_cast_double(c: Column): Column =
    trim(c.cast("string")).try_cast("double")

  /** normalize_boolean (evaluation.py:218): recognized true/false tokens
    * → boolean, none/null/nan and everything else → null (callers fall
    * back to string comparison).
    */
  private def boolNorm(c: Column): Column = {
    val s = trim(lower(c.cast("string")))
    when(s.isin("true", "yes", "1", "y", "t"), lit(true))
      .when(s.isin("false", "no", "0", "n", "f", ""), lit(false))
      .otherwise(lit(null).cast("boolean"))
  }

  /** DataFusionEvaluator.evaluate (evaluation.py:266) with per-attribute
    * evaluation functions: fused ⋈ gold on the cluster id, one boolean
    * match column per (attribute, rule), then ONE aggregation emitting a
    * row per attribute: (attribute, rule, n_evaluated, n_correct,
    * accuracy). Attributes where BOTH sides are missing count as correct
    * (the reference's protocol); n_evaluated counts joined clusters.
    */
  def evaluateWithRules(fused: DataFrame, gold: DataFrame, cluster: String,
      rules: Seq[(String, String)]): DataFrame = {
    val g = gold.columns.filter(_ != cluster).foldLeft(gold) {
      (d, c) => d.withColumnRenamed(c, s"_g_$c")
    }
    val joined = fused.join(g, cluster)
    val counters = rules.zipWithIndex.flatMap { case ((attr, rule), i) =>
      val ok = matchRule(rule, col(attr), col(s"_g_$attr"))
      Seq(sum(ok.cast("long")).as(s"_c$i"), count(lit(1)).as(s"_n$i"))
    }
    val wide = joined.agg(counters.head, counters.tail: _*)
    val rows = explode(array(rules.zipWithIndex.map { case ((attr, rule), i) =>
      struct(lit(attr).as("attribute"), lit(rule).as("rule"),
        col(s"_n$i").as("n_evaluated"), col(s"_c$i").as("n_correct"),
        round(col(s"_c$i").cast("double") / greatest(col(s"_n$i"), lit(1L)), 5)
          .as("accuracy"))
    }: _*)).as("r")
    wide.select(rows).select(col("r.*"))
  }
}
