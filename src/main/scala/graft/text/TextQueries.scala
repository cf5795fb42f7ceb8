package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._

/** Text-analysis queries + DuckDB oracles (SURVEY §2.12 #60–63). */
object TextQueries {

  // documentsSpread (not documents) on the per-row-heavy consumers
  // only: language-profile scan / per-position fingerprint / PII regex
  // / minhash banding each do enough per-row work to amortize the
  // round-robin exchange over the single-row-group corpus fixture
  // (r13 driver bench: fingerprint 3.87→1.05 s, langid 0.58→0.35 s).
  def textLangid(s: SparkSession, dir: String): DataFrame =
    TextOps.langId(documentsSpread(s, dir), "doc_id", "text").orderBy("doc_id")

  val textLangidOracle: String = {
    val hitSql = TextOps.LangProfiles.map { case (lang, prof) =>
      val lst = prof.map(w => s"'$w'").mkString(", ")
      s"  len(list_filter(toks, x -> list_contains([$lst], x))) AS h_$lang"
    }.mkString(",\n")
    val langs = TextOps.LangProfiles.map(_._1)
    val maxH = s"greatest(${langs.map("h_" + _).mkString(", ")})"
    val whenChain = langs.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
       |h AS (SELECT doc_id, greatest(len(toks), 1) AS n,
       |$hitSql
       |FROM t),
       |m AS (SELECT *, $maxH AS mx FROM h)
       |SELECT doc_id,
       |  CASE WHEN mx <= 0 THEN 'unknown' $whenChain ELSE 'unknown' END AS lang_pred,
       |  round(CAST(mx AS DOUBLE) / n, 5) AS lang_score
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  def textQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.quality(documents(s, dir), "doc_id", "text").orderBy("doc_id")

  val textQualityOracle: String = {
    val en = TextOps.LangProfiles.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    """WITH t AS (SELECT doc_id, lower(text) AS t, string_split(lower(text), ' ') AS toks
      |           FROM documents),
      |b AS (SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS nw,
      |  CAST(length(t) AS BIGINT) AS nc,
      |  CAST(length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS np,
      |  CAST(len(list_filter(toks, x -> list_contains([__EN__], x))) AS BIGINT) AS nstop
      |FROM t)
      |SELECT doc_id,
      |  nw AS n_words,
      |  nc AS n_chars,
      |  (nc - nw + 1) * 1000 // nw AS mean_word_len_milli,
      |  np * 1000 // nc AS punct_milli,
      |  nstop * 1000 // nw AS stopword_milli,
      |  least(nw, 50) * 8 + (nc - np) * 300 // nc + nstop * 300 // nw AS quality_bp
      |FROM b
      |ORDER BY doc_id""".stripMargin.replace("__EN__", en)
  }

  def textTokens(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(documents(s, dir), "doc_id", "text").orderBy("doc_id")

  val textTokensOracle: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
      |    AS regex_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(documentsSpread(s, dir), "doc_id", "text").orderBy("doc_id")

  val textFingerprintOracle: String =
    """WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
      |h AS (SELECT doc_id,
      |        [substr(md5(substr(t, i, 5)), 1, 8)
      |         for i in range(1, greatest(length(t) - 4, 1) + 1)] AS h
      |      FROM t),
      |m AS (SELECT doc_id,
      |        list_sort(list_distinct(
      |          [list_min(h[j:j+3]) for j in range(1, greatest(len(h) - 3, 1) + 1)])) AS fp
      |      FROM h)
      |SELECT doc_id, CAST(len(fp) AS BIGINT) AS fp_count,
      |       md5(array_to_string(fp, ',')) AS fp_digest
      |FROM m
      |ORDER BY doc_id""".stripMargin

  def textRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetitionSignals(documents(s, dir), "doc_id", "text").orderBy("doc_id")

  val textRepetitionOracle: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |g AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |  [array_to_string(w[i:i+1], ' ')
      |   for i in range(1, greatest(len(w) - 1, 1) + 1)] AS g2,
      |  [array_to_string(w[i:i+2], ' ')
      |   for i in range(1, greatest(len(w) - 2, 1) + 1)] AS g3
      |  FROM t),
      |gd AS (SELECT doc_id, n_words,
      |  CAST((len(g2) - len(list_distinct(g2))) * 10000 // greatest(len(g2), 1) AS BIGINT)
      |    AS dup_2gram_bp,
      |  CAST((len(g3) - len(list_distinct(g3))) * 10000 // greatest(len(g3), 1) AS BIGINT)
      |    AS dup_3gram_bp
      |  FROM g),
      |wrd AS (SELECT doc_id, unnest(w) AS word FROM t),
      |cnt AS (SELECT doc_id, word, count(*) AS c FROM wrd GROUP BY doc_id, word),
      |top AS (SELECT doc_id, word, c, row_number() OVER (
      |          PARTITION BY doc_id ORDER BY c DESC, word) AS rn FROM cnt),
      |st AS (SELECT cnt.doc_id, CAST(sum(cnt.c) AS BIGINT) AS n,
      |         CAST(count(*) AS BIGINT) AS n_distinct_words
      |       FROM cnt GROUP BY cnt.doc_id)
      |SELECT st.doc_id, gd.n_words, st.n_distinct_words,
      |  CAST(st.n_distinct_words * 10000 // st.n AS BIGINT) AS distinct_bp,
      |  top.word AS top_word,
      |  CAST(top.c * 10000 // st.n AS BIGINT) AS top_word_bp,
      |  gd.dup_2gram_bp, gd.dup_3gram_bp,
      |  gd.n_words >= 20 AND st.n_distinct_words * 10000 // st.n >= 2000
      |    AND top.c * 10000 // st.n <= 2000 AND gd.dup_3gram_bp <= 5000 AS keep
      |FROM st JOIN top ON top.doc_id = st.doc_id AND top.rn = 1
      |        JOIN gd ON gd.doc_id = st.doc_id
      |ORDER BY st.doc_id""".stripMargin

  /** PII scrub over documents salted with deterministic synthetic PII
    * (the generated corpus has none): every 5th doc gains an email,
    * every 7th a dashed phone, every 11th an IPv4 — then scrub+count.
    */
  def textPiiScrub(s: SparkSession, dir: String): DataFrame = {
    val salted = documentsSpread(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-01"), format_string("%02d", col("doc_id") % 100),
            lit("-1234"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7"))).otherwise(lit(""))).as("text"))
    TextOps.piiScrub(salted, "doc_id", "text").orderBy("doc_id")
  }

  val textPiiScrubOracle: String =
    s"""WITH t AS (SELECT doc_id,
       |  text
       |  || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
       |  || CASE WHEN doc_id % 7 = 0 THEN ' call 555-01' || format('{:02d}', doc_id % 100) || '-1234' ELSE '' END
       |  || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.' || (doc_id % 256) || '.7' ELSE '' END
       |  AS text FROM documents)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${TextOps.EmailRe}')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '${TextOps.PhoneRe}')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(text, '${TextOps.Ipv4Re}')) AS BIGINT) AS n_ips,
       |  regexp_replace(regexp_replace(regexp_replace(
       |    text, '${TextOps.EmailRe}', '[EMAIL]', 'g'),
       |    '${TextOps.PhoneRe}', '[PHONE]', 'g'),
       |    '${TextOps.Ipv4Re}', '[IP]', 'g') AS scrubbed
       |FROM t ORDER BY doc_id""".stripMargin

  /** Contamination of the corpus against an "eval set" (every 100th
    * doc): per-doc 3-gram overlap count + basis-point share.
    */
  def textContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val probes = docs.filter(col("doc_id") % 100 === 0)
    TextOps.contamination(docs, probes, "doc_id", "text", 3).orderBy("doc_id")
  }

  val textContaminationOracle: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |g AS (SELECT doc_id, unnest(
      |        [array_to_string(w[i:i+2], ' ')
      |         for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS gram FROM t),
      |probe AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
      |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams FROM g GROUP BY doc_id),
      |hit AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
      |        FROM g JOIN probe USING (gram) GROUP BY g.doc_id)
      |SELECT tot.doc_id, tot.n_ngrams,
      |  coalesce(hit.n_contaminated, 0) AS n_contaminated,
      |  coalesce(hit.n_contaminated, 0) * 10000 // tot.n_ngrams AS contaminated_bp
      |FROM tot LEFT JOIN hit ON hit.doc_id = tot.doc_id
      |ORDER BY tot.doc_id""".stripMargin

  /** Bloom-prefilter decontamination (Bloom.scala — SURVEY §2.12):
    * the zero-shuffle tier of eval-set filtering. Same probe split as
    * [[textContamination]]; output = per-doc Bloom flag (broadcast
    * 2^17-bit bitmap probed in a pure projection — no join, no
    * Exchange on the corpus side) next to the exact-join flag, so the
    * one-sided FP behavior is hash-gated, not just spec'd.
    */
  def textBloomContamination(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val probes = docs.filter(col("doc_id") % 100 === 0)
    Bloom.contaminationBloom(docs, probes, "doc_id", "text", n = 3)
      .orderBy("doc_id")
  }

  val textBloomContaminationOracle: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |g AS (SELECT doc_id, unnest(
      |        [array_to_string(w[i:i+2], ' ')
      |         for i in range(1, greatest(len(w) - 2, 1) + 1)]) AS gram FROM t),
      |probe AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 0),
      |pos AS (SELECT DISTINCT ('0x'||substr(md5('bf'||i||'#'||gram),1,13))::BIGINT % 131072 AS p
      |        FROM probe, range(0,3) t(i)),
      |cand AS (SELECT DISTINCT doc_id FROM g
      |         WHERE ('0x'||substr(md5('bf0#'||gram),1,13))::BIGINT % 131072 IN (SELECT p FROM pos)
      |           AND ('0x'||substr(md5('bf1#'||gram),1,13))::BIGINT % 131072 IN (SELECT p FROM pos)
      |           AND ('0x'||substr(md5('bf2#'||gram),1,13))::BIGINT % 131072 IN (SELECT p FROM pos)),
      |exact AS (SELECT DISTINCT g.doc_id FROM g JOIN probe USING (gram))
      |SELECT d.doc_id, cand.doc_id IS NOT NULL AS bloom_flag,
      |       exact.doc_id IS NOT NULL AS exact_flag
      |FROM (SELECT doc_id FROM documents) d
      |LEFT JOIN cand USING (doc_id) LEFT JOIN exact USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** FUZZY decontamination (r6): minhash-LSH near-dups of the corpus
    * against a perturbed eval set — every 100th doc with a two-word
    * prefix (shingle jaccard ≈ (L−2)/L to its source, well above the
    * 0.8 threshold), ids offset into a distinct space. The
    * Llama/GPT-report variant of exact n-gram contamination:
    * paraphrased/near-identical eval leakage that exact n-gram joins
    * can miss.
    */
  def textContaminationFuzzy(s: SparkSession, dir: String): DataFrame = {
    val docs = documentsSpread(s, dir)
    val probes = docs.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("ev0 ev1 "), col("text")).as("text"))
    graft.dedup.Dedup.minhashLshAgainst(docs, probes, "doc_id", "text",
        n = 3, bands = 4, rows = 3, threshold = 0.8)
      .orderBy("id1", "id2")
  }

  val textContaminationFuzzyOracle: String = {
    val hashes = (0 until 12)
      .map(i => s"  min(substr(md5('$i#' || shg), 1, 8)) AS h$i")
      .mkString(",\n")
    val bandCols = (0 until 4)
      .map(b => s"  h${b * 3} || ':' || h${b * 3 + 1} || ':' || h${b * 3 + 2} AS b$b")
      .mkString(",\n")
    val bandJoins = (0 until 4)
      .map(b => s"  SELECT a.doc_id AS id1, p.doc_id AS id2 FROM bandedL a " +
        s"JOIN bandedR p ON a.b$b = p.b$b")
      .mkString("\n  UNION\n")
    s"""WITH tL AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |tR AS (SELECT doc_id + 1000000 AS doc_id,
       |         string_split('ev0 ev1 ' || text, ' ') AS w
       |       FROM documents WHERE doc_id % 100 = 0),
       |shL AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |          for i in range(1, len(w) - 1)]) AS s FROM tL),
       |shR AS (SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
       |          for i in range(1, len(w) - 1)]) AS s FROM tR),
       |invL AS (SELECT doc_id, unnest(s) AS shg FROM shL),
       |invR AS (SELECT doc_id, unnest(s) AS shg FROM shR),
       |sigsL AS (SELECT doc_id,
       |$hashes
       |FROM invL GROUP BY doc_id),
       |sigsR AS (SELECT doc_id,
       |$hashes
       |FROM invR GROUP BY doc_id),
       |bandedL AS (SELECT doc_id,
       |$bandCols
       |FROM sigsL),
       |bandedR AS (SELECT doc_id,
       |$bandCols
       |FROM sigsR),
       |cand AS (
       |$bandJoins)
       |SELECT * FROM (
       |  SELECT id1, id2,
       |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / len(list_distinct(a.s || b.s)), 5) AS jaccard
       |  FROM cand JOIN shL a ON a.doc_id = id1 JOIN shR b ON b.doc_id = id2)
       |WHERE jaccard >= 0.8
       |ORDER BY id1, id2""".stripMargin
  }

  /** Deterministic mixture sampling: per-(lang, source) stratum keep
    * fractions via the md5-hex threshold filter.
    */
  def textMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        concat_ws("|", col("lang"), col("source")).as("_st"))
    TextOps.stratifiedSample(docs, col("_st"), col("doc_id"),
        Map("en|src0" -> 1.0, "en|src1" -> 0.5, "en|src2" -> 0.25,
          "de|src0" -> 0.5, "de|src1" -> 0.25, "de|src2" -> 0.125))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  val textMixtureOracle: String =
    """WITH t AS (SELECT doc_id, lang, source,
      |  CASE lang || '|' || source
      |    WHEN 'en|src0' THEN 'zzzz' WHEN 'en|src1' THEN '8000'
      |    WHEN 'en|src2' THEN '4000' WHEN 'de|src0' THEN '8000'
      |    WHEN 'de|src1' THEN '4000' WHEN 'de|src2' THEN '2000'
      |    ELSE NULL END AS thr
      |  FROM documents)
      |SELECT doc_id, lang, source FROM t
      |WHERE thr IS NOT NULL AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < thr
      |ORDER BY doc_id""".stripMargin

  /** Deterministic 90/5/5 train/val/test split over documents — per-row
    * labels plus hash-threshold constants shared with the oracle via
    * `TextOps.cutsHex`.
    */
  private val SplitSpec = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  def textSplit(s: SparkSession, dir: String): DataFrame =
    TextOps.trainValTestSplit(documents(s, dir).select("doc_id", "lang"),
        col("doc_id"), SplitSpec)
      .orderBy("doc_id")

  val textSplitOracle: String = {
    val cuts = TextOps.cutsHex(SplitSpec)
    val cases = cuts.init.map { case (n, c) =>
      s"WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '$c' THEN '$n'"
    }.mkString(" ")
    s"""SELECT doc_id, lang,
       |  CASE $cases ELSE '${cuts.last._1}' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Sequence packing at context length 2048 over the documents table
    * (whitespace token counts, consistent with corpusStats).
    */
  def textPack(s: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(documents(s, dir), "doc_id",
        size(split(col("text"), " ")).cast("long"), seqLen = 2048)
      .orderBy("doc_id")

  val textPackOracle: String =
    """WITH t AS (SELECT doc_id,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |           FROM documents),
      |p AS (SELECT doc_id, tok,
      |        CAST(coalesce(sum(tok) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS st
      |      FROM t)
      |SELECT doc_id, tok AS n_tokens, st AS stream_offset,
      |       st // 2048 AS seq_id, st % 2048 AS seq_offset
      |FROM p ORDER BY doc_id""".stripMargin

  def textCorpusStats(s: SparkSession, dir: String): DataFrame =
    TextOps.corpusStats(documents(s, dir), "lang", "source", "text")

  val textCorpusStatsOracle: String =
    """WITH b AS (SELECT lang, source,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok,
      |             CAST(length(text) AS BIGINT) AS nc
      |           FROM documents),
      |a AS (SELECT lang, source, count(*) AS n_docs,
      |        CAST(sum(tok) AS BIGINT) AS n_tokens,
      |        CAST(sum(nc) AS BIGINT) AS n_chars
      |      FROM b GROUP BY lang, source)
      |SELECT lang, source, n_docs, n_tokens, n_chars,
      |  CAST(n_tokens AS DOUBLE) / (SELECT CAST(sum(n_tokens) AS BIGINT) FROM a) AS token_share,
      |  CAST(CAST(sum(n_tokens) OVER (ORDER BY n_tokens DESC, lang, source
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
      |    / (SELECT CAST(sum(n_tokens) AS BIGINT) FROM a) AS cum_token_share
      |FROM a
      |ORDER BY n_tokens DESC, lang, source""".stripMargin

  /** Fill a 15k-token budget with the best-quality docs first. */
  def textBudgetSelect(s: SparkSession, dir: String): DataFrame =
    TextOps.budgetSelect(
      TextOps.quality(documents(s, dir), "doc_id", "text"),
      "doc_id", col("quality_bp"), col("n_words"), 15000L)
      .orderBy("cum_tokens")

  val textBudgetSelectOracle: String = {
    val en = TextOps.LangProfiles.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    """WITH t AS (SELECT doc_id, lower(text) AS t, string_split(lower(text), ' ') AS toks
      |           FROM documents),
      |b AS (SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS nw,
      |  CAST(length(t) AS BIGINT) AS nc,
      |  CAST(length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS np,
      |  CAST(len(list_filter(toks, x -> list_contains([__EN__], x))) AS BIGINT) AS nstop
      |FROM t),
      |q AS (SELECT doc_id, nw AS n_tokens,
      |  least(nw, 50) * 8 + (nc - np) * 300 // nc + nstop * 300 // nw AS quality_bp
      |FROM b),
      |c AS (SELECT doc_id, quality_bp, n_tokens,
      |  CAST(sum(n_tokens) OVER (ORDER BY quality_bp DESC, doc_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
      |FROM q)
      |SELECT doc_id, quality_bp, n_tokens, cum_tokens
      |FROM c WHERE cum_tokens <= 15000
      |ORDER BY cum_tokens""".stripMargin.replace("__EN__", en)
  }

  /** 64-token chunks with 16-token overlap (stride 48). */
  def textChunk(s: SparkSession, dir: String): DataFrame =
    TextOps.chunk(documents(s, dir), "doc_id", "text", 64, 16)
      .orderBy("doc_id", "chunk_idx")

  val textChunkOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |n AS (SELECT doc_id, w,
      |        greatest(CAST(ceil(CAST(len(w) AS DOUBLE) / 48) AS INT), 1) AS nch
      |      FROM t),
      |e AS (SELECT doc_id,
      |        unnest([{'i': i, 's': w[i*48+1 : i*48+64]}
      |                for i in range(0, nch)], recursive := true)
      |      FROM n)
      |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |       array_to_string(s, ' ') AS chunk_text,
      |       CAST(len(s) AS BIGINT) AS n_tokens
      |FROM e ORDER BY doc_id, chunk_idx""".stripMargin

  /** Top-1000 vocabulary with cumulative coverage. */
  def textVocab(s: SparkSession, dir: String): DataFrame =
    TextOps.vocab(documents(s, dir), "text", 1000)

  val textVocabOracle: String =
    """WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
      |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c),
      |k AS (SELECT word, cnt,
      |        CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank
      |      FROM c ORDER BY cnt DESC, word LIMIT 1000)
      |SELECT word, cnt, rank,
      |  CAST(cnt AS DOUBLE) / t.t AS share,
      |  CAST(CAST(sum(cnt) OVER (ORDER BY rank
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS DOUBLE)
      |    / t.t AS cum_share
      |FROM k, tot t ORDER BY rank""".stripMargin

  /** Lee-et-al exact-substring dedup at 13-gram granularity over the
    * documents corpus (TextOps.repeatedNgrams).
    */
  def textSubstringDedup(s: SparkSession, dir: String): DataFrame =
    TextOps.repeatedNgrams(graft.Tables.documents(s, dir), "doc_id", "text",
        n = 13, dropThreshold = 0.5)
      .orderBy("doc_id")

  val textSubstringDedupOracle: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |grams AS (
      |  SELECT doc_id, i AS p, md5(array_to_string(w[i:i+12], ' ')) AS h FROM (
      |    SELECT doc_id, w, unnest(generate_series(1, len(w) - 12)) AS i
      |    FROM toks WHERE len(w) >= 13)),
      |dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) > 1),
      |dg AS (SELECT g.doc_id, g.p FROM grams g JOIN dup USING (h)),
      |dgc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_ngrams
      |        FROM dg GROUP BY doc_id),
      |cov AS (SELECT DISTINCT doc_id, p + off AS cp
      |        FROM dg, generate_series(0, 12) s(off)),
      |covc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS covered_tokens
      |         FROM cov GROUP BY doc_id),
      |base AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM toks)
      |SELECT b.doc_id, b.n_tokens,
      |       coalesce(dgc.dup_ngrams, 0) AS dup_ngrams,
      |       coalesce(covc.covered_tokens, 0) AS covered_tokens,
      |       CAST(coalesce(covc.covered_tokens, 0) AS DOUBLE) / b.n_tokens
      |         AS dup_fraction,
      |       CAST(coalesce(covc.covered_tokens, 0) AS DOUBLE) / b.n_tokens > 0.5
      |         AS flag_drop
      |FROM base b
      |LEFT JOIN dgc ON dgc.doc_id = b.doc_id
      |LEFT JOIN covc ON covc.doc_id = b.doc_id
      |ORDER BY b.doc_id""".stripMargin

  /** BM25 top-10 self-retrieval: every 25th document's first 6 distinct
    * tokens form a query; scores are bit-deterministic (DetMath.detLn +
    * scaled-long sums), so the oracle hash-matches (TextOps.bm25TopK).
    */
  def textBm25(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.documents(s, dir)
    TextOps.bm25TopK(docs, "doc_id", "text",
        docs.where(col("doc_id") % 25 === 0), "doc_id", "text")
      .orderBy("q_id", "rank")
  }

  /** The shared BM25 ranked-retrieval CTE chain (through `rk`), reused
    * by the raw top-k oracle and the retrieval evaluator's. */
  private val bm25RankedWith: String = {
    import graft.functions.DetMath
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
       |             FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       |       FROM toks GROUP BY 1),
       |st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |              CAST(sum(dl) AS BIGINT) AS tot FROM dl),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |lx AS (SELECT term,
       |         (((CAST(st.n_docs AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5)
       |           / (CAST(df AS DOUBLE) + 0.5)) + 1.0 AS x
       |       FROM dfreq, st),
       |le AS (SELECT term, x, ${DetMath.sqlE("x")} AS e,
       |                       ${DetMath.sqlPw("x")} AS pw FROM lx),
       |lm AS (SELECT term, e, (x / pw) AS m FROM le),
       |lt AS (SELECT term, e, ((m - 1.0) / (m + 1.0)) AS t FROM lm),
       |lt2 AS (SELECT term, e, t, (t * t) AS t2 FROM lt),
       |idf AS (SELECT term, ${DetMath.sqlLn("t", "t2", "e")} AS idf FROM lt2),
       |q AS (SELECT doc_id AS q_id, string_split(lower(text), ' ') AS w
       |      FROM documents WHERE doc_id % 25 = 0),
       |qt AS (SELECT DISTINCT q_id, term
       |       FROM (SELECT q_id, unnest(w[1:6]) AS term FROM q)),
       |sc AS (SELECT qt.q_id, tf.doc_id,
       |         CAST(floor((idf.idf * ((CAST(tf.tf AS DOUBLE)
       |             * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
       |           / (CAST(tf.tf AS DOUBLE) + (CAST(1.2 AS DOUBLE)
       |             * ((CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE))
       |             + ((CAST(0.75 AS DOUBLE) * CAST(dl.dl AS DOUBLE))
       |               / (CAST(st.tot AS DOUBLE) / CAST(st.n_docs AS DOUBLE))))))))
       |           * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS s
       |       FROM qt
       |       JOIN tf ON tf.term = qt.term
       |       JOIN dl ON dl.doc_id = tf.doc_id
       |       JOIN idf ON idf.term = qt.term, st),
       |agg AS (SELECT q_id, doc_id, CAST(sum(s) AS BIGINT) AS score_scaled
       |        FROM sc GROUP BY 1, 2),
       |rk AS (SELECT q_id, doc_id, score_scaled,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |           ORDER BY score_scaled DESC, doc_id) AS BIGINT) AS rank
       |       FROM agg)""".stripMargin
  }

  val textBm25Oracle: String =
    bm25RankedWith + """
      |SELECT q_id, doc_id, rank,
      |  (CAST(score_scaled AS DOUBLE) / CAST(1000000000 AS DOUBLE)) AS score
      |FROM rk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Retrieval-quality evaluator over the BM25 index — the text
    * analogue of `ann_recall_eval` (the index exists; this is the
    * number that says whether to SHIP it): self-retrieval protocol
    * (each query is a corpus document's leading terms; the document
    * itself is the known-relevant answer — the standard label-free
    * index smoke test), scored as MRR, recall@{1,5,10}, and nDCG@10,
    * all exact integer milli (per-query reciprocal rank
    * floor(1000/rank), summed then floor-divided — deterministic in
    * both engines, no float means). nDCG under binary self-relevance
    * has IDCG = 1, so the per-query gain is 1/log2(rank+1) =
    * ln2/ln(rank+1) — computed with [[graft.functions.DetMath.detLn]]
    * (bit-identical ln in both engines; rank+1 ∈ [2,11] ⊂ domain),
    * floor-scaled to micro units per hit BEFORE summation so the
    * aggregate is an exact long. One extra filter + two 1-row aggs on
    * top of the ranked frame the bm25 query already builds.
    */
  def textRetrievalEval(s: SparkSession, dir: String): DataFrame = {
    import graft.profiling.Sketches.idiv
    import graft.functions.DetMath
    val docs = graft.Tables.documents(s, dir)
    val queries = docs.where(col("doc_id") % 25 === 0)
    val topk = TextOps.bm25TopK(docs, "doc_id", "text",
      queries, "doc_id", "text")
    val self = topk.filter(col("q_id") === col("doc_id"))
    val ndcgGain = floor((lit(DetMath.Ln2) /
      DetMath.detLn(col("rank").cast("double") + lit(1.0))) * lit(1000000.0))
    val stats = self.agg(
      count(lit(1)).as("n_found"),
      coalesce(sum(idiv(lit(1000L), col("rank"))), lit(0L)).as("_mrr_sum"),
      coalesce(sum(when(col("rank") <= 1, 1L).otherwise(0L)), lit(0L)).as("_f1"),
      coalesce(sum(when(col("rank") <= 5, 1L).otherwise(0L)), lit(0L)).as("_f5"),
      coalesce(sum(ndcgGain), lit(0L)).as("_ndcg_sum"))
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    stats.crossJoin(nq) // 1 row × 1 row
      .select(col("n_queries"), col("n_found"),
        idiv(col("_mrr_sum"), col("n_queries")).as("mrr_milli"),
        idiv(col("_f1") * 1000L, col("n_queries")).as("recall1_milli"),
        idiv(col("_f5") * 1000L, col("n_queries")).as("recall5_milli"),
        idiv(col("n_found") * 1000L, col("n_queries")).as("recall10_milli"),
        idiv(col("_ndcg_sum"), col("n_queries") * lit(1000L)).as("ndcg10_milli"))
  }

  val textRetrievalEvalOracle: String =
    bm25RankedWith + s""",
      |self AS (SELECT q_id, rank FROM rk WHERE doc_id = q_id AND rank <= 10),
      |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM q),
      |${graft.functions.DetMath.sqlLnCtes("lnr", "self", "q_id, rank",
             "CAST(rank + 1 AS DOUBLE)")},
      |sg AS (SELECT CAST(coalesce(sum(CAST(floor((${graft.functions.DetMath.Ln2Sql}
      |         / lnv) * 1000000.0) AS BIGINT)), 0) AS BIGINT) AS ndcg_sum FROM lnr),
      |s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_found,
      |         CAST(coalesce(sum(1000 // rank), 0) AS BIGINT) AS mrr_sum,
      |         CAST(coalesce(sum(CASE WHEN rank <= 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f1,
      |         CAST(coalesce(sum(CASE WHEN rank <= 5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS f5
      |       FROM self)
      |SELECT n_queries, n_found,
      |  mrr_sum // n_queries AS mrr_milli,
      |  f1 * 1000 // n_queries AS recall1_milli,
      |  f5 * 1000 // n_queries AS recall5_milli,
      |  n_found * 1000 // n_queries AS recall10_milli,
      |  ndcg_sum // (n_queries * 1000) AS ndcg10_milli
      |FROM s1, nq, sg""".stripMargin

  /** Unigram token entropy per document: diversity filter with
    * bit-deterministic logs (TextOps.tokenEntropy).
    */
  def textEntropy(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenEntropy(graft.Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val textEntropyOracle: String = {
    import graft.functions.DetMath
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
       |             FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |${DetMath.sqlLnCtes("lnc", "tf", "doc_id, tf", "CAST(tf AS DOUBLE)")},
       |s AS (SELECT doc_id,
       |        CAST(sum(CAST(floor((CAST(tf AS DOUBLE) * lnv)
       |          * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s,
       |        CAST(count(*) AS BIGINT) AS n_distinct
       |      FROM lnc GROUP BY 1),
       |${DetMath.sqlLnCtes("lnd", "dl", "doc_id, dl", "CAST(dl AS DOUBLE)")},
       |j AS (SELECT dl.doc_id, dl.dl, s.n_distinct,
       |        (lnd.lnv - ((CAST(s.s AS DOUBLE) / CAST(1000000000 AS DOUBLE))
       |          / CAST(dl.dl AS DOUBLE))) AS entropy,
       |        lnd.lnv AS lndl
       |      FROM dl JOIN s ON s.doc_id = dl.doc_id
       |      JOIN lnd ON lnd.doc_id = dl.doc_id)
       |SELECT doc_id, dl AS n_tokens, n_distinct, entropy,
       |  CASE WHEN dl > 1 THEN (entropy / lndl) ELSE CAST(0 AS DOUBLE) END
       |    AS entropy_norm,
       |  (CASE WHEN dl > 1 THEN (entropy / lndl) ELSE CAST(0 AS DOUBLE) END)
       |    < CAST(0.6 AS DOUBLE) AS flag_low
       |FROM j ORDER BY doc_id""".stripMargin
  }

  /** Cross-entropy of each document under the corpus unigram LM — the
    * LM-score quality filter (TextOps.unigramCrossEntropy).
    */
  def textUnigramXent(s: SparkSession, dir: String): DataFrame =
    TextOps.unigramCrossEntropy(graft.Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** The unigram-xent CTE chain (ends in a CTE `xe(doc_id, n_tokens,
    * xent)`) — shared by the xent query's oracle and the CCNet-style
    * bucket oracle.
    */
  private val unigramXentCtes: String = {
    import graft.functions.DetMath
    s"""toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
       |             FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS t FROM cf),
       |${DetMath.sqlLnCtes("lncf", "cf", "term", "CAST(cf AS DOUBLE)")},
       |${DetMath.sqlLnCtes("lnt", "tot", "t", "CAST(t AS DOUBLE)")},
       |s AS (SELECT tf.doc_id,
       |        CAST(sum(CAST(floor((CAST(tf.tf AS DOUBLE) * lncf.lnv)
       |          * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s
       |      FROM tf JOIN lncf ON lncf.term = tf.term GROUP BY 1),
       |xe AS (SELECT dl.doc_id, dl.dl AS n_tokens,
       |  (lnt.lnv - ((CAST(s.s AS DOUBLE) / CAST(1000000000 AS DOUBLE))
       |    / CAST(dl.dl AS DOUBLE))) AS xent
       |FROM dl JOIN s ON s.doc_id = dl.doc_id, lnt)""".stripMargin
  }

  val textUnigramXentOracle: String =
    s"""WITH $unigramXentCtes
       |SELECT doc_id, n_tokens, xent FROM xe
       |ORDER BY doc_id""".stripMargin

  /** CCNet-style equi-depth perplexity buckets: global rank of the
    * quantized xent key (exact — the distributed prefix-count rank,
    * no float quantiles), bucket = (rank−1)·3 div N → head/middle/tail.
    */
  def textXentBuckets(s: SparkSession, dir: String): DataFrame = {
    val x = TextOps.unigramCrossEntropy(graft.Tables.documents(s, dir),
      "doc_id", "text")
    val keyed = x.select(col("doc_id"),
      floor(col("xent") * lit(1.0e9)).cast("long").as("k"))
    TextOps.rankBuckets(keyed, "doc_id", col("k"), 3)
      .select(col("doc_id"), col("key").as("xent_key"), col("rank"),
        col("bucket"))
      .orderBy("doc_id")
  }

  val textXentBucketsOracle: String =
    s"""WITH $unigramXentCtes,
       |k AS (SELECT doc_id,
       |        CAST(floor(xent * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS xent_key
       |      FROM xe),
       |r AS (SELECT doc_id, xent_key,
       |        CAST(row_number() OVER (ORDER BY xent_key, doc_id) AS BIGINT) AS rank,
       |        CAST(count(*) OVER () AS BIGINT) AS n
       |      FROM k)
       |SELECT doc_id, xent_key, rank, (rank - 1) * 3 // n AS bucket
       |FROM r ORDER BY doc_id""".stripMargin

  /** KL divergence of each source's token distribution from the corpus —
    * mixture-drift monitor (TextOps.groupKlDivergence).
    */
  def textSourceKl(s: SparkSession, dir: String): DataFrame =
    TextOps.groupKlDivergence(graft.Tables.documents(s, dir), "source", "text")
      .orderBy("source")

  val textSourceKlOracle: String = {
    import graft.functions.DetMath
    s"""WITH toks AS (SELECT source AS grp, unnest(string_split(lower(text), ' ')) AS term
       |             FROM documents),
       |cg AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS c
       |       FROM toks GROUP BY 1, 2),
       |cf AS (SELECT term, CAST(sum(c) AS BIGINT) AS cf FROM cg GROUP BY 1),
       |ts AS (SELECT grp, CAST(sum(c) AS BIGINT) AS ts FROM cg GROUP BY 1),
       |tot AS (SELECT CAST(sum(cf) AS BIGINT) AS t FROM cf),
       |${DetMath.sqlLnCtes("lnc", "cg", "grp, term, c", "CAST(c AS DOUBLE)")},
       |${DetMath.sqlLnCtes("lncf", "cf", "term", "CAST(cf AS DOUBLE)")},
       |${DetMath.sqlLnCtes("lnts", "ts", "grp, ts", "CAST(ts AS DOUBLE)")},
       |${DetMath.sqlLnCtes("lnt", "tot", "t", "CAST(t AS DOUBLE)")},
       |s AS (SELECT lnc.grp,
       |        CAST(sum(CAST(floor((CAST(lnc.c AS DOUBLE) * (lnc.lnv - lncf.lnv))
       |          * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s,
       |        CAST(count(*) AS BIGINT) AS n_terms
       |      FROM lnc JOIN lncf ON lncf.term = lnc.term GROUP BY 1)
       |SELECT ts.grp AS source, ts.ts AS n_tokens, s.n_terms,
       |  (((CAST(s.s AS DOUBLE) / CAST(1000000000 AS DOUBLE))
       |    / CAST(ts.ts AS DOUBLE)) + (lnt.lnv - lnts.lnv)) AS kl
       |FROM ts JOIN s ON s.grp = ts.grp
       |JOIN lnts ON lnts.grp = ts.grp, lnt
       |ORDER BY source""".stripMargin
  }

  /** Bigram-LM cross-entropy per document (TextOps.bigramCrossEntropy). */
  def textBigramXent(s: SparkSession, dir: String): DataFrame =
    TextOps.bigramCrossEntropy(graft.Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  val textBigramXentOracle: String = {
    import graft.functions.DetMath
    s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
       |           FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
       |bi AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
       |                              for i in range(1, len(w))]) AS bg FROM t),
       |cb AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS c
       |       FROM bi GROUP BY 1, 2),
       |cbt AS (SELECT bg, CAST(sum(c) AS BIGINT) AS cb FROM cb GROUP BY 1),
       |ctx AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(cb) AS BIGINT) AS cx
       |        FROM cbt GROUP BY 1),
       |${DetMath.sqlLnCtes("lncb", "cbt", "bg", "CAST(cb AS DOUBLE)")},
       |${DetMath.sqlLnCtes("lncx", "ctx", "w1", "CAST(cx AS DOUBLE)")},
       |s AS (SELECT cb.doc_id,
       |        CAST(sum(CAST(floor((CAST(cb.c AS DOUBLE) * (lncx.lnv - lncb.lnv))
       |          * CAST(1000000000 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s
       |      FROM cb
       |      JOIN lncb ON lncb.bg = cb.bg
       |      JOIN lncx ON lncx.w1 = split_part(cb.bg, ' ', 1)
       |      GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM t)
       |SELECT dl.doc_id, dl.dl AS n_tokens, (dl.dl - 1) AS n_bigrams,
       |  ((CAST(s.s AS DOUBLE) / CAST(1000000000 AS DOUBLE))
       |    / CAST(dl.dl - 1 AS DOUBLE)) AS xent2
       |FROM dl JOIN s ON s.doc_id = dl.doc_id
       |ORDER BY dl.doc_id""".stripMargin
  }

  /** Temperature-reweighted source mixture at τ=1.3
    * (TextOps.mixtureTemperature).
    */
  def textMixtureTemperature(s: SparkSession, dir: String): DataFrame =
    TextOps.mixtureTemperature(graft.Tables.documents(s, dir), "source", "text")
      .orderBy("source")

  val textMixtureTemperatureOracle: String = {
    import graft.functions.DetMath
    s"""WITH toks AS (SELECT source AS grp, unnest(string_split(lower(text), ' ')) AS term
       |             FROM documents),
       |ts AS (SELECT grp, CAST(count(*) AS BIGINT) AS ts FROM toks GROUP BY 1),
       |tot AS (SELECT CAST(sum(ts) AS BIGINT) AS t FROM ts),
       |${DetMath.sqlLnCtes("lnns", "ts", "grp, ts", "CAST(ts AS DOUBLE)")},
       |${DetMath.sqlLnCtes("lnt", "tot", "t", "CAST(t AS DOUBLE)")},
       |j AS (SELECT grp, ts, ((lnns.lnv - lnt.lnv) / CAST(1.3 AS DOUBLE)) AS ax
       |      FROM lnns, lnt),
       |${DetMath.sqlExpCtes("ex", "j", "grp, ts", "ax")},
       |scaled AS (SELECT grp, ts,
       |             CAST(floor(expv * CAST(1000000000000 AS DOUBLE)) AS BIGINT) AS ws
       |           FROM ex),
       |wt AS (SELECT CAST(sum(ws) AS BIGINT) AS wt FROM scaled)
       |SELECT scaled.grp AS source, scaled.ts AS n_tokens,
       |  (CAST(scaled.ts AS DOUBLE) / CAST(tot.t AS DOUBLE)) AS share,
       |  (CAST(scaled.ws AS DOUBLE) / CAST(wt.wt AS DOUBLE)) AS temp_share,
       |  CAST(floor((CAST(scaled.ws AS DOUBLE) / CAST(wt.wt AS DOUBLE))
       |    * CAST(tot.t AS DOUBLE)) AS BIGINT) AS target_tokens
       |FROM scaled, wt, tot ORDER BY source""".stripMargin
  }

  /** Zipf exponent of the corpus vocabulary (TextOps.zipfFit). */
  def textZipf(s: SparkSession, dir: String): DataFrame =
    TextOps.zipfFit(graft.Tables.documents(s, dir), "text", 1000)

  val textZipfOracle: String = {
    import graft.functions.DetMath
    s"""WITH w AS (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
       |c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word),
       |k AS (SELECT word, cnt,
       |        CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank
       |      FROM c ORDER BY cnt DESC, word LIMIT 1000),
       |${DetMath.sqlLnCtes("lnr", "k", "word, rank", "CAST(rank AS DOUBLE)")},
       |${DetMath.sqlLnCtes("lnc", "k", "word, cnt", "CAST(cnt AS DOUBLE)")},
       |terms AS (SELECT
       |    CAST(floor(lnr.lnv * CAST(1000000000000 AS DOUBLE)) AS BIGINT) AS sx,
       |    CAST(floor(lnc.lnv * CAST(1000000000000 AS DOUBLE)) AS BIGINT) AS sy,
       |    CAST(floor((lnr.lnv * lnc.lnv) * CAST(1000000000000 AS DOUBLE)) AS BIGINT) AS sxy,
       |    CAST(floor((lnr.lnv * lnr.lnv) * CAST(1000000000000 AS DOUBLE)) AS BIGINT) AS sxx
       |  FROM lnr JOIN lnc ON lnc.word = lnr.word),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(sx) AS BIGINT) AS sx,
       |          CAST(sum(sy) AS BIGINT) AS sy, CAST(sum(sxy) AS BIGINT) AS sxy,
       |          CAST(sum(sxx) AS BIGINT) AS sxx FROM terms),
       |sl AS (SELECT n,
       |    (CAST(sx AS DOUBLE) / CAST(1000000000000 AS DOUBLE)) AS ux,
       |    (CAST(sy AS DOUBLE) / CAST(1000000000000 AS DOUBLE)) AS uy,
       |    ((CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) / CAST(1000000000000 AS DOUBLE)))
       |      - ((CAST(sx AS DOUBLE) / CAST(1000000000000 AS DOUBLE))
       |        * (CAST(sy AS DOUBLE) / CAST(1000000000000 AS DOUBLE))))
       |    / ((CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) / CAST(1000000000000 AS DOUBLE)))
       |      - ((CAST(sx AS DOUBLE) / CAST(1000000000000 AS DOUBLE))
       |        * (CAST(sx AS DOUBLE) / CAST(1000000000000 AS DOUBLE)))) AS slope
       |  FROM agg)
       |SELECT n AS n_words, slope,
       |  ((uy - (slope * ux)) / CAST(n AS DOUBLE)) AS intercept
       |FROM sl""".stripMargin
  }

  /** Per-document top-5 tf·idf keywords (TextOps.tfidfKeywords). */
  def textTfidfKeywords(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidfKeywords(graft.Tables.documents(s, dir), "doc_id", "text", 5)
      .orderBy("doc_id", "rank")

  val textTfidfKeywordsOracle: String = {
    import graft.functions.DetMath
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
       |             FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM toks GROUP BY 1, 2),
       |dfr AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |r AS (SELECT term,
       |        ((CAST(n_docs AS DOUBLE) + CAST(1 AS DOUBLE))
       |         / (CAST(df AS DOUBLE) + CAST(1 AS DOUBLE))) AS ratio
       |      FROM dfr, nd),
       |${DetMath.sqlLnCtes("lnr", "r", "term", "ratio")},
       |sc AS (SELECT tf.doc_id, tf.term, tf.tf,
       |         CAST(floor((CAST(tf.tf AS DOUBLE) * lnr.lnv)
       |           * CAST(1000000000 AS DOUBLE)) AS BIGINT) AS score_scaled
       |       FROM tf JOIN lnr ON lnr.term = tf.term),
       |rk AS (SELECT doc_id, term, tf, score_scaled,
       |         CAST(row_number() OVER (PARTITION BY doc_id
       |           ORDER BY score_scaled DESC, term) AS BIGINT) AS rank
       |       FROM sc)
       |SELECT doc_id, rank, term, tf,
       |  (CAST(score_scaled AS DOUBLE) / CAST(1000000000 AS DOUBLE)) AS score
       |FROM rk WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin
  }

  /** Domain capping: at most 8 docs per source, md5-uniform choice
    * (TextOps.domainCap).
    */
  def textDomainCap(s: SparkSession, dir: String): DataFrame =
    TextOps.domainCap(graft.Tables.documents(s, dir), "doc_id", "source", 8)
      .orderBy("source", "rank_in_group")

  val textDomainCapOracle: String =
    """WITH b AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS pri
      |           FROM documents),
      |rk AS (SELECT doc_id, source,
      |         CAST(row_number() OVER (PARTITION BY source
      |           ORDER BY pri, doc_id) AS BIGINT) AS rank_in_group
      |       FROM b)
      |SELECT doc_id, source, rank_in_group FROM rk
      |WHERE rank_in_group <= 8 ORDER BY source, rank_in_group""".stripMargin

  /** DSIR importance weights with sources src0–src2 as the curated
    * target distribution (TextOps.dsirWeights).
    */
  def textDsir(s: SparkSession, dir: String): DataFrame =
    TextOps.dsirWeights(graft.Tables.documents(s, dir), "doc_id", "text",
        col("source").isin("src0", "src1", "src2"))
      .orderBy("doc_id")

  val textDsirOracle: String = {
    import graft.functions.DetMath
    s"""WITH toks AS (SELECT doc_id,
       |         source IN ('src0', 'src1', 'src2') AS is_t,
       |         substr(md5(unnest(string_split(lower(text), ' '))), 1, 3) AS bucket
       |       FROM documents),
       |tfb AS (SELECT doc_id, is_t, bucket, CAST(count(*) AS BIGINT) AS tf
       |        FROM toks GROUP BY 1, 2, 3),
       |bc AS (SELECT bucket, CAST(sum(tf) AS BIGINT) AS cr,
       |         CAST(sum(CASE WHEN is_t THEN tf ELSE 0 END) AS BIGINT) AS ct
       |       FROM tfb GROUP BY 1),
       |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS tr,
       |          CAST(sum(CASE WHEN is_t THEN tf ELSE 0 END) AS BIGINT) AS tt
       |        FROM tfb),
       |nd AS (SELECT bucket, ((ct + 1) * (tr + 4096)) AS num,
       |         ((cr + 1) * (tt + 4096)) AS den
       |       FROM bc, tot),
       |rr AS (SELECT bucket, (num >= den) AS pos,
       |         CASE WHEN num >= den
       |              THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE)
       |              ELSE CAST(den AS DOUBLE) / CAST(num AS DOUBLE) END AS ratio
       |       FROM nd),
       |${DetMath.sqlLnCtes("lam", "rr", "bucket, pos", "ratio")},
       |lamx AS (SELECT bucket,
       |           CAST(floor((CASE WHEN pos THEN lnv ELSE -lnv END)
       |             * 1000000000.0) AS BIGINT) AS lam_s
       |         FROM lam),
       |sc AS (SELECT tfb.doc_id,
       |         CAST(sum(tfb.tf * lamx.lam_s) AS BIGINT) AS score_scaled
       |       FROM tfb JOIN lamx USING (bucket) GROUP BY 1)
       |SELECT doc_id, score_scaled,
       |  (CAST(score_scaled AS DOUBLE) / 1000000000.0) AS score
       |FROM sc ORDER BY doc_id""".stripMargin
  }

  /** Per-source ADAPTIVE quality gate: a fixed global threshold
    * over-prunes clean sources and under-prunes noisy ones, so each
    * doc is gated against its own source's quality median (keep ≥
    * median). The median is Spark's exact interpolated `percentile`
    * over the integral quality score — ≡ DuckDB `quantile_cont`
    * (midpoints of integers are exact in doubles) — on a
    * sources-bounded frame joined back broadcast-style; everything
    * else is the scan-shaped quality projection.
    */
  def textQualityAdaptive(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val q = TextOps.quality(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality_bp"))
    val ws = docs.select(col("doc_id"), col("source")).join(q, "doc_id")
    val med = ws.groupBy("source")
      .agg(percentile(col("quality_bp"), lit(0.5)).as("med"))
    ws.join(broadcast(med), "source")
      .select(col("doc_id"), col("source"), col("quality_bp"), col("med"),
        (col("quality_bp").cast("double") >= col("med")).as("keep"))
      .orderBy("doc_id")
  }

  val textQualityAdaptiveOracle: String = {
    val en = TextOps.LangProfiles.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    """WITH t AS (SELECT doc_id, lower(text) AS t, string_split(lower(text), ' ') AS toks
      |           FROM documents),
      |b AS (SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS nw,
      |  CAST(length(t) AS BIGINT) AS nc,
      |  CAST(length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS np,
      |  CAST(len(list_filter(toks, x -> list_contains([__EN__], x))) AS BIGINT) AS nstop
      |FROM t),
      |q AS (SELECT doc_id,
      |  least(nw, 50) * 8 + (nc - np) * 300 // nc + nstop * 300 // nw AS quality_bp
      |FROM b),
      |ws AS (SELECT d.doc_id, d.source, q.quality_bp
      |       FROM documents d JOIN q USING (doc_id)),
      |med AS (SELECT source, quantile_cont(CAST(quality_bp AS DOUBLE), 0.5) AS med
      |        FROM ws GROUP BY 1)
      |SELECT ws.doc_id, ws.source, ws.quality_bp, med.med,
      |  (CAST(ws.quality_bp AS DOUBLE) >= med.med) AS keep
      |FROM ws JOIN med USING (source)
      |ORDER BY doc_id""".stripMargin.replace("__EN__", en)
  }

  /** Quality-weighted corpus subsample: A-ES exponential-clock
    * sampling (TextOps.weightedSample) with weight = quality points,
    * n = 100 — the "sample training docs ∝ score" step that follows
    * DSIR/quality scoring in a data pipeline, here with a bit-exact
    * cross-engine law (md5 uniforms + detLn clocks + integer keys).
    */
  def textWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val q = TextOps.quality(documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), (col("quality_bp") + 1L).as("w"))
    TextOps.weightedSample(q, "doc_id", col("w"), 100)
      .select(col("doc_id"), col("weight"), col("priority"))
      .orderBy("priority", "doc_id")
  }

  val textWeightedSampleOracle: String = {
    val en = TextOps.LangProfiles.toMap.apply("en").map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, lower(text) AS t, string_split(lower(text), ' ') AS toks
       |           FROM documents),
       |b AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS nw,
       |  CAST(length(t) AS BIGINT) AS nc,
       |  CAST(length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS np,
       |  CAST(len(list_filter(toks, x -> list_contains([__EN__], x))) AS BIGINT) AS nstop
       |FROM t),
       |q AS (SELECT doc_id,
       |  (least(nw, 50) * 8 + (nc - np) * 300 // nc + nstop * 300 // nw) + 1 AS w
       |FROM b),
       |u AS (SELECT doc_id, w,
       |  (CAST(${1L << 40} AS DOUBLE) /
       |   CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10)) AS BIGINT) + 1
       |        AS DOUBLE)) AS x
       |FROM q),
       |${graft.functions.DetMath.sqlLnCtes("lnu", "u", "doc_id, w", "x")},
       |k AS (SELECT doc_id, CAST(w AS BIGINT) AS weight,
       |        CAST(floor(lnv * CAST(1000000000000000 AS DOUBLE)) AS BIGINT) // w
       |          AS priority
       |      FROM lnu)
       |SELECT doc_id, weight, priority FROM k
       |ORDER BY priority, doc_id LIMIT 100""".stripMargin.replace("__EN__", en)
  }

  /** Cross-document exact line dedup (C4/RefinedWeb boilerplate
    * removal — see [[TextOps.lineDedup]]). The synthetic corpus has
    * no line structure, so the query PLANTS the boilerplate the
    * operator exists to remove: every document gets a per-source
    * header line and a corpus-wide license footer line (the
    * nav-bar/cookie-banner shape). After dedup each header survives
    * in one document per source, the footer in one document overall,
    * and every body line (unique) is untouched — all pinned by the
    * oracle replaying the same construction.
    */
  def textLineDedup(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir).select(col("doc_id"),
      concat_ws("\n",
        concat(lit("shared header boilerplate line for "), col("source")),
        col("text"),
        lit("common license footer line every document shares")).as("text"))
    TextOps.lineDedup(d, "doc_id", "text", minWords = 5).orderBy("doc_id")
  }

  val textLineDedupOracle: String =
    """WITH d AS (SELECT doc_id,
      |  'shared header boilerplate line for ' || source || chr(10) ||
      |  text || chr(10) ||
      |  'common license footer line every document shares' AS t
      |FROM documents),
      |l AS (SELECT doc_id,
      |        unnest(list_transform(string_split(t, chr(10)),
      |          (x, i) -> {'pos': i, 'line': x})) AS s
      |      FROM d),
      |lines AS (SELECT doc_id, s.pos AS pos, s.line AS line,
      |            len(string_split(s.line, ' ')) >= 5 AS elig,
      |            md5(s.line) AS h
      |          FROM l),
      |erank AS (SELECT doc_id, pos,
      |            row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
      |          FROM lines WHERE elig),
      |kept AS (SELECT li.doc_id, li.pos, li.line
      |         FROM lines li LEFT JOIN erank e
      |           ON e.doc_id = li.doc_id AND e.pos = li.pos
      |         WHERE NOT li.elig OR e.rn = 1),
      |reb AS (SELECT doc_id, count(*) AS n_kept,
      |          string_agg(line, chr(10) ORDER BY pos) AS text_dedup
      |        FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(len(string_split(d.t, chr(10))) AS BIGINT) AS n_lines,
      |  coalesce(reb.n_kept, 0) AS n_kept,
      |  CAST(len(string_split(d.t, chr(10))) AS BIGINT)
      |    - coalesce(reb.n_kept, 0) AS n_dropped,
      |  coalesce(reb.text_dedup, '') AS text_dedup
      |FROM d LEFT JOIN reb ON reb.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** Gopher rule battery (Rae et al. 2021 §A1.1): the named
    * threshold filters every pretraining pipeline runs, as ONE scan —
    * word-count bounds, mean word length, symbol-to-word ratio,
    * alphabetic-word fraction, stopword presence, bullet/ellipsis
    * line fractions. All metrics are exact integers (milli-units via
    * integer division), so keep/drop decisions replay bit-for-bit in
    * any engine; `keep` is the conjunction. Scan-shaped: per-row
    * HOFs over the token/line arrays, no shuffle at any scale.
    */
  def textGopherRules(s: SparkSession, dir: String): DataFrame =
    TextOps.gopherRules(documents(s, dir), "doc_id", "text").orderBy("doc_id")

  val textGopherRulesOracle: String = {
    val stops = TextOps.GopherStopwords.map(w => s"'$w'").mkString(", ")
    """WITH t AS (SELECT doc_id, lower(text) AS t,
      |             string_split(lower(text), ' ') AS toks,
      |             string_split(text, chr(10)) AS ls
      |           FROM documents),
      |b AS (SELECT doc_id,
      |  CAST(len(toks) AS BIGINT) AS nw,
      |  CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS wl,
      |  CAST(length(t) - length(replace(t, '#', '')) AS BIGINT)
      |    + CAST((length(t) - length(replace(t, '...', ''))) // 3 AS BIGINT) AS sym,
      |  CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS alpha,
      |  CAST(len(list_intersect(list_distinct(toks), [__STOPS__])) AS BIGINT) AS stop_hits,
      |  CAST(len(ls) AS BIGINT) AS nl,
      |  CAST(len(list_filter(ls, x -> x LIKE '- %' OR x LIKE '* %'
      |    OR x LIKE chr(8226) || ' %')) AS BIGINT) AS bul,
      |  CAST(len(list_filter(ls, x -> x LIKE '%...' OR x LIKE '%' || chr(8230))) AS BIGINT) AS ell
      |FROM t)
      |SELECT doc_id, nw AS n_words,
      |  wl * 1000 // nw AS mean_word_len_milli,
      |  sym * 1000 // nw AS symbol_ratio_milli,
      |  alpha * 1000 // nw AS alpha_frac_milli,
      |  stop_hits,
      |  bul * 1000 // nl AS bullet_milli,
      |  ell * 1000 // nl AS ellipsis_milli,
      |  (nw BETWEEN 50 AND 100000)
      |    AND (wl * 1000 // nw BETWEEN 3000 AND 10000)
      |    AND (sym * 1000 // nw <= 100)
      |    AND (alpha * 1000 // nw >= 800)
      |    AND (stop_hits >= 2)
      |    AND (bul * 1000 // nl <= 900)
      |    AND (ell * 1000 // nl <= 300) AS keep
      |FROM b
      |ORDER BY doc_id""".stripMargin.replace("__STOPS__", stops)
  }

  /** Per-doc 3-gram novelty vs the whole corpus (docs with ≥ 1
    * shingle; see [[TextOps.ngramNovelty]]).
    */
  def textNgramNovelty(s: SparkSession, dir: String): DataFrame =
    TextOps.ngramNovelty(documents(s, dir), "doc_id", "text", 3)
      .orderBy("doc_id")

  val textNgramNoveltyOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                        for i in range(1, len(w) - 1)]) AS s
      |       FROM t),
      |inv AS (SELECT doc_id, unnest(s) AS shg FROM sh),
      |uniq AS (SELECT owner AS doc_id, CAST(count(*) AS BIGINT) AS n_unique
      |         FROM (SELECT shg, count(*) AS df, min(doc_id) AS owner
      |               FROM inv GROUP BY 1)
      |         WHERE df = 1 GROUP BY 1)
      |SELECT sh.doc_id,
      |  CAST(len(sh.s) AS BIGINT) AS n_ngrams,
      |  coalesce(uniq.n_unique, 0) AS n_unique,
      |  coalesce(uniq.n_unique, 0) * 1000 // len(sh.s) AS novelty_milli
      |FROM sh LEFT JOIN uniq ON uniq.doc_id = sh.doc_id
      |WHERE len(sh.s) > 0
      |ORDER BY sh.doc_id""".stripMargin

  /** Language-ID CONFUSION MATRIX — the evaluator face of langid
    * (#60): predictions cross-tabbed against the stored `lang` label,
    * with per-actual-language totals and exact milli-unit shares.
    * langs²-bounded output at any corpus size; the diagonal is
    * per-language accuracy, off-diagonal cells say WHICH languages
    * the n-gram heuristic confuses (the tuning signal for profile
    * choice at scale).
    */
  def textLangConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = TextOps.langId(documentsSpread(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("lang_pred"))
    val cells = documents(s, dir).select(col("doc_id"), col("lang"))
      .join(pred, "doc_id")
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("lang").agg(sum("n").as("lang_total"))
    cells.join(broadcast(totals), "lang")
      .select(col("lang"), col("lang_pred"), col("n"), col("lang_total"),
        expr("n * 1000 div lang_total").as("share_milli"))
      .orderBy("lang", "lang_pred")
  }

  val textLangConfusionOracle: String = {
    val hitSql = TextOps.LangProfiles.map { case (lang, prof) =>
      val lst = prof.map(w => s"'$w'").mkString(", ")
      s"  len(list_filter(toks, x -> list_contains([$lst], x))) AS h_$lang"
    }.mkString(",\n")
    val langs = TextOps.LangProfiles.map(_._1)
    val maxH = s"greatest(${langs.map("h_" + _).mkString(", ")})"
    val whenChain = langs.map(l => s"WHEN h_$l = mx THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks
       |           FROM documents),
       |h AS (SELECT doc_id, lang,
       |$hitSql
       |FROM t),
       |m AS (SELECT *, $maxH AS mx FROM h),
       |p AS (SELECT doc_id, lang,
       |        CASE WHEN mx <= 0 THEN 'unknown' $whenChain
       |             ELSE 'unknown' END AS lang_pred
       |      FROM m),
       |cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
       |          FROM p GROUP BY 1, 2),
       |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS lang_total
       |        FROM cells GROUP BY 1)
       |SELECT c.lang, c.lang_pred, c.n, t.lang_total,
       |  c.n * 1000 // t.lang_total AS share_milli
       |FROM cells c JOIN tot t USING (lang)
       |ORDER BY c.lang, c.lang_pred""".stripMargin
  }

  /** Distributed BPE merge training over the documents corpus: 6 merge
    * rounds of corpus-weighted adjacent-pair counting (TextOps.bpeTrain).
    */
  def textBpeTrain(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeTrain(documents(s, dir), "text", merges = 6)

  /** Oracle = the same algorithm unrolled: per merge round, a pair-count
    * CTE, a 1-row argmax CTE (count desc, pair asc), and a vocab CTE
    * applying the merge via the identical iterated boundary-safe replace
    * circuit the engine runs (TextOps.applyMerge).
    */
  /** Shared CTE prelude replaying the BPE fit: word vocab, then per
    * merge round a pair-count CTE, a 1-row argmax CTE, and a vocab CTE
    * applying the merge via the identical iterated boundary-safe
    * replace circuit the engine runs (TextOps.applyMerge). Emits
    * v1..v{merges+1}, p1..p{merges}, m1..m{merges}; unreferenced CTEs
    * cost nothing (inlined on use only).
    */
  private def bpeOracleCtes(merges: Int): String = {
    def vnext(i: Int): String = {
      val repl = (1 to TextOps.BpeReplacePasses).foldLeft("sym")((e, _) =>
        s"replace($e, ' '||m.pair||' ', ' '||replace(m.pair,' ','')||' ')")
      s"v${i + 1} AS (SELECT w, cnt, $repl AS sym FROM v$i, m$i m)"
    }
    val parts = Seq.newBuilder[String]
    parts += s"""words AS (
       |  SELECT word AS w, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |v1 AS (SELECT w, cnt, ' '||trim(regexp_replace(w, '(.)', '\\1 ', 'g'))||' ' AS sym
       |       FROM words)""".stripMargin
    for (i <- 1 to merges) {
      parts += s"""p$i AS (
         |  SELECT a[j]||' '||a[j+1] AS pair, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM (SELECT cnt, string_split(trim(sym), ' ') AS a FROM v$i),
         |       LATERAL (SELECT unnest(generate_series(1, len(a)-1)) AS j)
         |  WHERE len(a) >= 2 GROUP BY 1)""".stripMargin
      parts += s"m$i AS (SELECT pair, c FROM p$i ORDER BY c DESC, pair LIMIT 1)"
      parts += vnext(i)
    }
    parts.result().mkString(",\n")
  }

  val textBpeTrainOracle: String = {
    val merges = 6
    val sel = (1 to merges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, pair, replace(pair,' ','') AS merged, c AS pair_count FROM m$i")
      .mkString(" UNION ALL ")
    "WITH " + bpeOracleCtes(merges) + "\n" + sel + " ORDER BY step"
  }

  /** Encode the corpus with the fitted vocabulary: per-doc char vs BPE
    * token counts (TextOps.bpeEncode).
    */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame =
    TextOps.bpeEncode(documents(s, dir), "doc_id", "text", merges = 6)

  val textBpeEncodeOracle: String = {
    val merges = 6
    s"""WITH ${bpeOracleCtes(merges)},
       |vf AS (SELECT w, CAST(len(string_split(trim(sym), ' ')) AS BIGINT) AS n_sym,
       |              CAST(length(w) AS BIGINT) AS n_char
       |       FROM v${merges + 1}),
       |dw AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
       |       FROM documents),
       |j AS (SELECT doc_id, n_sym, n_char FROM dw JOIN vf USING (w) WHERE w <> '')
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n_char) AS BIGINT) AS n_tokens_char,
       |       CAST(sum(n_sym) AS BIGINT) AS n_tokens_bpe,
       |       CAST(sum(n_sym) AS BIGINT) * 1000 // CAST(sum(n_char) AS BIGINT)
       |         AS compression_milli
       |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The demo phrase (exists at every scale factor with the synthetic
    * vocabulary's hit rate; the operator is phrase-agnostic).
    */
  val SearchPhrase = Seq("row", "column", "sort")

  /** Positional phrase search — the inverted-index query shape: tokens
    * posexplode to (doc, pos, term) postings, each phrase term becomes
    * an equi-join on (doc, pos + offset). At 100 TB the postings frame
    * is the persisted index and each term's postings list is touched
    * once — never a substring scan over raw text. Output: matching
    * docs with occurrence counts.
    */
  def textPhraseSearch(s: SparkSession, dir: String): DataFrame = {
    val posts = documents(s, dir)
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")).as(Seq("pos", "w")))
    val hits = SearchPhrase.zipWithIndex.map { case (t, i) =>
      posts.filter(col("w") === t)
        .select(col("doc_id"), (col("pos") - i).as("start"))
    }.reduce((a, b) => a.join(b, Seq("doc_id", "start")))
    hits.groupBy("doc_id").agg(count(lit(1)).as("n_occurrences"))
      .orderBy("doc_id")
  }

  val textPhraseSearchOracle: String = {
    val conds = SearchPhrase.zipWithIndex.map { case (t, i) =>
      s"a[i + $i] = '$t'"
    }.mkString(" AND ")
    s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents),
       |occ AS (
       |  SELECT doc_id
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(a) - ${SearchPhrase.size - 1})) AS i)
       |  WHERE $conds)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
       |FROM occ GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Flesch-Kincaid readability over the documents corpus
    * (TextOps.readability, exact milli circuit).
    */
  def textReadability(s: SparkSession, dir: String): DataFrame =
    TextOps.readability(documents(s, dir), "doc_id", "text").orderBy("doc_id")

  val textReadabilityOracle: String =
    """WITH b AS (
      |  SELECT doc_id, lower(text) AS t FROM documents),
      |m AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(t, ' ')) AS BIGINT) AS n_words,
      |    CAST(len(string_split(t, '.')) AS BIGINT) AS n_sentences,
      |    CAST(len(regexp_extract_all(t, '[aeiouy]+'))
      |         + len(list_filter(string_split(t, ' '),
      |                           w -> NOT regexp_matches(w, '[aeiouy]'))) AS BIGINT)
      |      AS n_syllables
      |  FROM b)
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  (390 * n_words // n_sentences + 11800 * n_syllables // n_words - 15590)
      |    AS fk_grade_milli,
      |  (206835 - 1015 * n_words // n_sentences - 84600 * n_syllables // n_words)
      |    AS flesch_ease_milli
      |FROM m ORDER BY doc_id""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("text_bpe_train", textBpeTrain, Some(textBpeTrainOracle)),
    QueryDef("text_bpe_encode", textBpeEncode, Some(textBpeEncodeOracle)),
    QueryDef("text_readability", textReadability, Some(textReadabilityOracle)),
    QueryDef("text_phrase_search", textPhraseSearch, Some(textPhraseSearchOracle)),
    QueryDef("text_lang_confusion", textLangConfusion, Some(textLangConfusionOracle)),
    QueryDef("text_ngram_novelty", textNgramNovelty, Some(textNgramNoveltyOracle)),
    QueryDef("text_line_dedup", textLineDedup, Some(textLineDedupOracle)),
    QueryDef("text_gopher_rules", textGopherRules, Some(textGopherRulesOracle)),
    QueryDef("text_xent_buckets", textXentBuckets, Some(textXentBucketsOracle)),
    QueryDef("text_weighted_sample", textWeightedSample, Some(textWeightedSampleOracle)),
    QueryDef("text_quality_adaptive", textQualityAdaptive, Some(textQualityAdaptiveOracle)),
    QueryDef("text_dsir", textDsir, Some(textDsirOracle)),
    QueryDef("text_tfidf_keywords", textTfidfKeywords, Some(textTfidfKeywordsOracle)),
    QueryDef("text_domain_cap", textDomainCap, Some(textDomainCapOracle)),
    QueryDef("text_bm25", textBm25, Some(textBm25Oracle)),
    QueryDef("text_retrieval_eval", textRetrievalEval, Some(textRetrievalEvalOracle)),
    QueryDef("text_mixture_temperature", textMixtureTemperature,
      Some(textMixtureTemperatureOracle)),
    QueryDef("text_zipf", textZipf, Some(textZipfOracle)),
    QueryDef("text_entropy", textEntropy, Some(textEntropyOracle)),
    QueryDef("text_unigram_xent", textUnigramXent, Some(textUnigramXentOracle)),
    QueryDef("text_source_kl", textSourceKl, Some(textSourceKlOracle)),
    QueryDef("text_bigram_xent", textBigramXent, Some(textBigramXentOracle)),
    QueryDef("text_substring_dedup", textSubstringDedup, Some(textSubstringDedupOracle)),
    QueryDef("text_pii_scrub", textPiiScrub, Some(textPiiScrubOracle)),
    QueryDef("text_contamination", textContamination, Some(textContaminationOracle)),
    QueryDef("text_bloom_contamination", textBloomContamination,
      Some(textBloomContaminationOracle)),
    QueryDef("text_contamination_fuzzy", textContaminationFuzzy,
      Some(textContaminationFuzzyOracle)),
    QueryDef("text_mixture", textMixture, Some(textMixtureOracle)),
    QueryDef("text_split", textSplit, Some(textSplitOracle)),
    QueryDef("text_pack", textPack, Some(textPackOracle)),
    QueryDef("text_langid", textLangid, Some(textLangidOracle)),
    QueryDef("text_quality", textQuality, Some(textQualityOracle)),
    QueryDef("text_tokens", textTokens, Some(textTokensOracle)),
    QueryDef("text_fingerprint", textFingerprint, Some(textFingerprintOracle)),
    QueryDef("text_repetition", textRepetition, Some(textRepetitionOracle)),
    QueryDef("text_corpus_stats", textCorpusStats, Some(textCorpusStatsOracle)),
    QueryDef("text_budget_select", textBudgetSelect, Some(textBudgetSelectOracle)),
    QueryDef("text_chunk", textChunk, Some(textChunkOracle)),
    QueryDef("text_vocab", textVocab, Some(textVocabOracle))
  )
}
