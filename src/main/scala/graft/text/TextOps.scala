package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines (SURVEY §2.12
  * #60–63): stopword-profile language ID, quality scoring, token
  * counting, and winnowing document fingerprints. Pure `functions._`
  * pipelines — codegen'd, no UDFs, scan-shaped (no shuffle).
  */
object TextOps {

  /** Stopword profiles for the heuristic language identifier (lang asc —
    * the when-chain order doubles as the deterministic tie-break).
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "it"),
    "es" -> Seq("el", "la", "y", "los", "es", "un", "una", "que"),
    "fr" -> Seq("le", "la", "et", "les", "est", "un", "une", "des"))

  private def hits(toks: Column, profile: Seq[String]): Column =
    size(filter(toks, t => array_contains(lit(profile.toArray), t)))

  /** Language ID (#60): per-language stopword occurrence count over
    * lowercase word tokens; argmax, ties → language code asc; 'unknown'
    * when nothing hits. Output: (id, lang_pred, lang_score).
    */
  def langId(docs: DataFrame, id: String, text: String): DataFrame = {
    val toks = split(lower(col(text)), " ")
    val n = greatest(size(toks), lit(1))
    val hitCols = LangProfiles.map { case (lang, prof) => lang -> hits(toks, prof) }
    val maxHits = greatest(hitCols.map(_._2): _*)
    val pred = hitCols.foldLeft(when(maxHits <= 0, "unknown")) {
      case (acc, (lang, h)) => acc.when(h === maxHits, lang)
    }.otherwise("unknown")
    docs.select(col(id), pred.as("lang_pred"),
      round(maxHits.cast("double") / n, 5).as("lang_score"))
  }

  /** Quality score (#61): word count, mean word length, punctuation
    * ratio, English-stopword ratio → weighted composite. All ratios are
    * exact integer fixed-point (milli-units / basis points): the raw
    * rationals here (k/nw, k/nc) land on decimal midpoints constantly,
    * where cross-engine `round(x, 5)` is not reproducible — integer
    * division is.
    */
  def quality(docs: DataFrame, id: String, text: String): DataFrame = {
    val t = lower(col(text))
    val toks = split(t, " ")
    docs.select(col(id),
        size(toks).cast("long").as("nw"),
        length(t).cast("long").as("nc"),
        length(regexp_replace(t, "[a-z0-9 ]", "")).cast("long").as("np"),
        hits(toks, LangProfiles.toMap.apply("en")).cast("long").as("nstop"))
      .select(col(id),
        col("nw").as("n_words"),
        col("nc").as("n_chars"),
        expr("(nc - nw + 1) * 1000 div nw").as("mean_word_len_milli"),
        expr("np * 1000 div nc").as("punct_milli"),
        expr("nstop * 1000 div nw").as("stopword_milli"),
        // 0–1000: 40% length (capped at 50 words), 30% non-punct, 30% stopwords
        expr("least(nw, 50) * 8 + (nc - np) * 300 div nc + nstop * 300 div nw")
          .as("quality_bp"))
  }

  /** Token counting (#62): whitespace tokens and BPE-ish regex tokens
    * (letter runs, digit runs, single symbols).
    */
  def tokenCounts(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id),
      size(split(col(text), " ")).cast("long").as("ws_tokens"),
      regexp_count(lower(col(text)), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long")
        .as("regex_tokens"),
      length(col(text)).cast("long").as("n_chars"))

  /** Gopher/C4-style repetition signals (training-data quality filters;
    * Rae et al. 2021 §A1.1, Raffel et al. 2020 §2.2): per document —
    * word counts, most-common-word share, duplicate word-n-gram
    * fractions, and a keep/drop verdict under the standard thresholds.
    *
    * Scale shape: word stats run as explode → (doc, word) count →
    * per-doc aggregate (two partial-aggregable shuffles — the mode of a
    * 10⁹-word document never materializes a per-doc list); the n-gram
    * duplicate fractions are per-row HOFs over the pre-split word array
    * (scan-shaped). Ratios are exact integer basis points: their raw
    * rationals land on decimal midpoints, where cross-engine round(x,5)
    * is not reproducible.
    *
    * Thresholds (keep iff all hold): ≥ 20 words, distinct-word ratio
    * ≥ 20 bp·0.01, top-word share ≤ 20%, duplicate-3-gram fraction
    * ≤ 50%.
    */
  def repetitionSignals(docs: DataFrame, id: String, text: String): DataFrame = {
    val withWords = docs.select(col(id), split(lower(col(text)), " ").as("_w"))
    val grams = withWords.select(col(id),
      size(col("_w")).cast("long").as("n_words"),
      wordGrams("_w", 2).as("_g2"), wordGrams("_w", 3).as("_g3"))
      .select(col(id), col("n_words"),
        // `div` (exact integer floor), not `/` (double): basis points
        // must be bit-stable at any count magnitude
        expr("CAST(size(_g2) - size(array_distinct(_g2)) AS BIGINT) * 10000" +
          " div greatest(size(_g2), 1)").as("dup_2gram_bp"),
        expr("CAST(size(_g3) - size(array_distinct(_g3)) AS BIGINT) * 10000" +
          " div greatest(size(_g3), 1)").as("dup_3gram_bp"))
    val words = withWords.select(col(id), explode(col("_w")).as("_word"))
    val counts = words.groupBy(col(id), col("_word")).agg(count(lit(1)).as("_cnt"))
    // argmax via min(struct(-cnt, word)): deterministic mode (ties → word asc)
    val stats = counts.groupBy(col(id)).agg(
      sum(col("_cnt")).as("_n"),
      count(lit(1)).as("n_distinct_words"),
      min(struct((-col("_cnt")).as("nc"), col("_word").as("w"))).as("_top"))
      .select(col(id), col("n_distinct_words"),
        col("_top.w").as("top_word"),
        expr("(-_top.nc) * 10000 div _n").as("top_word_bp"),
        expr("n_distinct_words * 10000 div _n").as("distinct_bp"))
    grams.join(stats, id)
      .select(col(id), col("n_words"), col("n_distinct_words"),
        col("distinct_bp"), col("top_word"), col("top_word_bp"),
        col("dup_2gram_bp"), col("dup_3gram_bp"),
        (col("n_words") >= 20 && col("distinct_bp") >= 2000 &&
          col("top_word_bp") <= 2000 && col("dup_3gram_bp") <= 5000).as("keep"))
  }

  /** PII scrubbing (training-data hygiene): regexp-replace emails,
    * dashed/dotted phone numbers, and IPv4 addresses with typed
    * placeholder tokens, and count each per document. Patterns stay in
    * the common Java-regex ∩ RE2 dialect (no lookaround) so the DuckDB
    * oracle replays them verbatim. Scan-shaped — no shuffle.
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PhoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def piiScrub(docs: DataFrame, id: String, text: String): DataFrame = {
    val t = col(text)
    // Order matters: IPs would otherwise match inside dotted phone-like
    // strings; emails first (they can contain digits), then phones, IPs.
    val scrubbed = regexp_replace(
      regexp_replace(regexp_replace(t, EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]"),
      Ipv4Re, "[IP]")
    docs.select(col(id),
      regexp_count(t, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(t, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_count(t, lit(Ipv4Re)).cast("long").as("n_ips"),
      scrubbed.as("scrubbed"))
  }

  /** Benchmark-contamination detection (The Pile / GPT-3 style
    * decontamination): word n-grams of each document are equi-joined
    * against the distinct n-gram set of an eval corpus; per document,
    * the count and share of contaminated n-grams. The probe set is the
    * small side (an eval benchmark) → broadcast; the corpus side is ONE
    * explode left-joined to the probe set (each gram tagged `_hit` = 1
    * when the set holds it) and ONE partial-aggregable groupBy that
    * counts grams and hits together — never all-pairs. The probe set is
    * distinct, so the left join keeps every doc gram exactly once.
    */
  def contamination(docs: DataFrame, probes: DataFrame, id: String,
      text: String, n: Int = 3): DataFrame = {
    val probeSet = ngramSet(probes, text, n).withColumn("_hit", lit(1L))
    docs.select(col(id), split(lower(col(text)), " ").as("_w"))
      .select(col(id), explode(wordGrams("_w", n)).as("_g"))
      .join(broadcast(probeSet), Seq("_g"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_ngrams"),
        coalesce(sum("_hit"), lit(0L)).as("n_contaminated"))
      .select(col(id), col("n_ngrams"), col("n_contaminated"),
        expr("n_contaminated * 10000 div n_ngrams").as("contaminated_bp"))
  }

  /** The word n-grams of the word-array column `w`, in order and with
    * repeats: the ' '-join of each n consecutive words. A doc shorter
    * than n words yields one gram, its whole text; a NULL array (NULL
    * text) yields NULL — no grams, so explode drops the doc, as
    * [[tokenEntropy]] does. `w` must name a projected column — the law
    * reads it more than once.
    */
  private[graft] def wordGrams(w: String, n: Int): Column = expr(
    s"CASE WHEN $w IS NOT NULL THEN transform(sequence(1, greatest(size($w) - ${n - 1}, 1)), " +
      s"i -> array_join(slice($w, i, $n), ' ')) END")

  /** Distinct word-n-gram set of a corpus (the probe side of
    * [[contamination]] and the streaming filter) — one explode +
    * distinct, schema (`_g` STRING).
    */
  def ngramSet(docs: DataFrame, text: String, n: Int = 3): DataFrame =
    docs.select(split(lower(col(text)), " ").as("_w"))
      .select(explode(wordGrams("_w", n)).as("_g")).distinct()

  /** Deterministic stratified sampling for training-data mixtures: keep
    * a row iff the first 4 hex chars of md5(key) fall below the
    * stratum's fraction threshold — partitioning-independent,
    * replayable in any engine with md5 (hex STRING comparison, no
    * hex→int casts), and exactly the per-source/per-language mixture
    * weighting a data-mix pipeline applies at 100 TB (a pure filter:
    * no shuffle, no sample() nondeterminism).
    */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
      fractions: Map[String, Double]): DataFrame = {
    val thresholds = fractions.toSeq.sortBy(_._1).foldLeft(lit(null).cast("string")) {
      case (acc, (s, f)) =>
        // 'zzzz' > every hex string → keep-all; else 4-hex-digit cutoff
        val hexThr =
          if (f >= 1.0) "zzzz"
          else f"${math.min(math.round(f * 65536).toInt, 65535)}%04x"
        when(stratum === s, lit(hexThr)).otherwise(acc)
    }
    df.withColumn("_thr", thresholds)
      .filter(col("_thr").isNotNull &&
        substring(md5(key.cast("string")), 1, 4) < col("_thr"))
      .drop("_thr")
  }

  /** GPT-style sequence packing: documents are laid out as one
    * continuous token stream (id order) and cut into fixed-length
    * training sequences — boundary-crossing packing, the standard
    * pretraining layout. Each doc gets its stream offset, owning
    * sequence id (floor(offset / seqLen)), and offset within that
    * sequence.
    *
    * Same DISTRIBUTED prefix-sum shape as [[budgetSelect]]: range-sort
    * by id, per-partition token totals prefix-scanned on the driver
    * (bounded by partition count), broadcast offsets, one streaming
    * pass per partition — exact longs, partition-invariant, never a
    * global single-task window.
    */
  def packSequences(docs: DataFrame, id: String, tokensCol: Column,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val sorted = docs
      .select(col(id).cast("long").as("_id"), tokensCol.cast("long").as("_tok"))
      .repartitionByRange(col("_id"))
      .sortWithinPartitions(col("_id"))
      .as[(Long, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sums = sorted
        .mapPartitionsWithIndex { (i, it) =>
          var s = 0L; it.foreach(s += _._2); Iterator((i, s))
        }
        .collect().sortBy(_._1).map(_._2)
      val offsets = sums.scanLeft(0L)(_ + _)
      val bc = spark.sparkContext.broadcast(offsets)
      val packed = sorted.mapPartitionsWithIndex { (i, it) =>
        var run = bc.value(i)
        it.map { case (d, tk) =>
          val start = run
          run += tk
          (d, tk, start, start / seqLen, start % seqLen)
        }
      }
      val out = packed.toDF(id, "n_tokens", "stream_offset", "seq_id", "seq_offset")
      out.localCheckpoint(true)
    } finally sorted.unpersist(false)
  }

  /** Deterministic train/val/test assignment — the dataset-split step
    * of every training pipeline. Each row's 4-hex md5(key) prefix is
    * compared against cumulative-fraction cutoffs (hex STRING compare,
    * same idiom as [[stratifiedSample]]): no shuffle, no RNG state,
    * partitioning-invariant, reproducible in any engine with md5, and
    * the splits are disjoint + exhaustive BY CONSTRUCTION — unlike
    * chained `sample()` calls, which are none of those.
    *
    * `cutsHex(splits)` exposes the exact cutoffs so callers (and the
    * DuckDB oracle) replay the same constants.
    */
  def cutsHex(splits: Seq[(String, Double)]): Seq[(String, String)] = {
    require(splits.size >= 2, "need at least two splits")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "fractions must sum to 1")
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    splits.zip(cum).map { case ((n, _), c) =>
      n -> f"${math.min(math.round(c * 65536).toInt, 65535)}%04x"
    }
  }

  def trainValTestSplit(df: DataFrame, key: Column,
      splits: Seq[(String, Double)]): DataFrame = {
    val cuts = cutsHex(splits)
    val h4 = substring(md5(key.cast("string")), 1, 4)
    val chain = cuts.init.tail.foldLeft(when(h4 < cuts.head._2, cuts.head._1)) {
      case (acc, (n, c)) => acc.when(h4 < c, n)
    }.otherwise(cuts.last._1)
    df.withColumn("split", chain)
  }

  /** Corpus token statistics for mixture planning: per-(lang, source)
    * stratum doc/token/char counts plus each stratum's token share and
    * the cumulative share in descending-token order — the table a
    * training-data pipeline reads to set sampling weights against a
    * token budget. One aggregation over the corpus; the global windows
    * run on the post-agg strata frame, whose row count is the number of
    * distinct (lang, source) pairs — bounded and tiny at any corpus
    * size. Shares are raw IEEE divisions of exact longs (bit-identical
    * across engines).
    */
  def corpusStats(docs: DataFrame, lang: String, source: String, text: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = docs
      .select(col(lang).as("lang"), col(source).as("source"),
        size(split(col(text), " ")).cast("long").as("_tok"),
        length(col(text)).cast("long").as("_nc"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("_tok").as("n_tokens"),
        sum("_nc").as("n_chars"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = Window.partitionBy(lit(1))
      .orderBy(col("n_tokens").desc, col("lang"), col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    agg
      .withColumn("token_share",
        col("n_tokens").cast("double") / sum("n_tokens").over(all))
      .withColumn("cum_token_share",
        sum("n_tokens").over(cum).cast("double") / sum("n_tokens").over(all))
      .orderBy(col("n_tokens").desc, col("lang"), col("source"))
  }

  /** Token-budget selection: keep the highest-scoring documents whose
    * running token total stays within `budget` — the "fill the training
    * mix up to N tokens, best docs first" primitive.
    *
    * The naive form is a cumulative sum over a GLOBAL window, which
    * funnels the whole corpus through one task (the profile_topk
    * scale-killer shape). This computes the same prefix sum
    * distributed: (1) range-repartition + sort by (score desc, id) —
    * Spark's sampled range exchange, no single-task stage; (2) one
    * small pass collects per-partition token totals (bounded by the
    * partition count) and prefix-scans them on the driver; (3) each
    * partition streams its rows adding its broadcast offset. Total is
    * exact longs, so the result is bit-identical under any partition
    * count (the invariance gate checks 3 vs 7).
    */
  def budgetSelect(docs: DataFrame, id: String, scoreCol: Column,
      tokensCol: Column, budget: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sorted = docs
      .select(col(id).cast("long").as("_id"),
        scoreCol.cast("long").as("_score"), tokensCol.cast("long").as("_tok"))
      .repartitionByRange(col("_score").desc, col("_id"))
      .sortWithinPartitions(col("_score").desc, col("_id"))
      .as[(Long, Long, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sums = sorted
        .mapPartitionsWithIndex { (i, it) =>
          var s = 0L; it.foreach(s += _._3); Iterator((i, s))
        }
        .collect().sortBy(_._1).map(_._2)
      val offsets = sums.scanLeft(0L)(_ + _) // offsets(i) = tokens before partition i
      val bc = spark.sparkContext.broadcast(offsets)
      val kept = sorted.mapPartitionsWithIndex { (i, it) =>
        // whole partition over budget → nothing to emit
        if (bc.value(i) >= budget) Iterator.empty
        else {
          var run = bc.value(i)
          it.flatMap { case (d, sc, tk) =>
            run += tk
            if (run <= budget) Iterator.single((d, sc, tk, run)) else Iterator.empty
          }
        }
      }
      val out = kept.toDF(id, "quality_bp", "n_tokens", "cum_tokens")
      out.localCheckpoint(true)
    } finally sorted.unpersist(false)
  }

  /** Sliding-window document chunking: split each document's word
    * sequence into fixed-size token windows with overlap (the
    * context-window packing step before tokenization). Chunk i covers
    * words [i·stride, i·stride + chunkTokens); the tail chunk may be
    * shorter. Pure per-row HOF over the pre-projected word array —
    * scan-shaped, zero shuffle.
    */
  def chunk(docs: DataFrame, id: String, text: String,
      chunkTokens: Int = 64, overlap: Int = 16): DataFrame = {
    require(overlap < chunkTokens, "overlap must be < chunkTokens")
    val stride = chunkTokens - overlap
    docs.select(col(id), split(col(text), " ").as("_w"))
      .withColumn("_n",
        greatest(ceil(size(col("_w")).cast("double") / stride), lit(1)).cast("int"))
      .select(col(id),
        posexplode(expr(s"transform(sequence(0, _n - 1), i -> slice(_w, i * $stride + 1, $chunkTokens))"))
          .as(Seq("chunk_idx", "_cw")))
      .select(col(id), col("chunk_idx").cast("long").as("chunk_idx"),
        array_join(col("_cw"), " ").as("chunk_text"),
        size(col("_cw")).cast("long").as("n_tokens"))
  }

  /** Top-k corpus vocabulary with coverage: word counts, frequency
    * rank (count desc, word asc), per-word share and cumulative
    * coverage share — the table a tokenizer-training / OOV analysis
    * reads. One shuffle for the counts; the global top-k is Spark's
    * TakeOrdered (per-partition heaps, no full sort); rank/cum windows
    * run on the k-row result only. The counts frame is persisted so
    * the total and the top-k don't re-scan the corpus.
    */
  def vocab(docs: DataFrame, text: String, k: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(split(lower(col(text)), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val tot = counts.agg(sum("cnt").cast("long").as("_t"))
      val topk = counts.orderBy(col("cnt").desc, col("word")).limit(k)
      val ord = Window.orderBy(col("cnt").desc, col("word"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val out = topk
        .withColumn("rank", row_number().over(ord).cast("long"))
        .crossJoin(broadcast(tot))
        .select(col("word"), col("cnt"), col("rank"),
          (col("cnt").cast("double") / col("_t")).as("share"),
          (sum("cnt").over(cum).cast("double") / col("_t")).as("cum_share"))
        .orderBy("rank")
      out.localCheckpoint(true)
    } finally counts.unpersist(false)
  }

  /** Zipf-law fit over the top-k vocabulary: least-squares slope of
    * ln(count) against ln(rank) — natural text sits near −1, while
    * templated/boilerplate corpora flatten and spam steepens, so the
    * exponent is a one-number corpus-health signal. x/y come from the
    * deterministic ln circuit and every Σ term (x, y, xy, x²) is
    * floor-scaled to a 1e-12-granular long before summing — the whole
    * regression is closed-form over exact integers, reproducible to the
    * bit. The frame is k-bounded (vocab top-k) regardless of corpus
    * size.
    */
  def zipfFit(docs: DataFrame, text: String, k: Int = 1000): DataFrame = {
    import graft.functions.DetMath.detLn
    val v = vocab(docs, text, k)
    val x = detLn(col("rank").cast("double"))
    val y = detLn(col("cnt").cast("double"))
    val terms = v.select(
      floor(x * lit(1.0e12)).as("sx"),
      floor(y * lit(1.0e12)).as("sy"),
      floor((x * y) * lit(1.0e12)).as("sxy"),
      floor((x * x) * lit(1.0e12)).as("sxx"))
    val a = terms.agg(count(lit(1)).as("n"), sum("sx").as("sx"),
      sum("sy").as("sy"), sum("sxy").as("sxy"), sum("sxx").as("sxx"))
    val nD = col("n").cast("double")
    def un(c: String) = col(c).cast("double") / lit(1.0e12)
    val slope = ((nD * un("sxy")) - (un("sx") * un("sy"))) /
      ((nD * un("sxx")) - (un("sx") * un("sx")))
    a.select(col("n").as("n_words"), slope.as("slope"),
      ((un("sy") - (slope * un("sx"))) / nD).as("intercept"))
  }

  /** Repeated-n-gram substring dedup — the bounded relational form of
    * suffix-array exact-substring deduplication (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): find
    * every word n-gram (n = 13 in the paper) occurring more than once
    * ANYWHERE in the corpus, and report per document how many of its
    * n-grams are duplicated and what fraction of its tokens lie inside
    * at least one duplicated n-gram (the span-coverage number a drop /
    * trim policy keys on).
    *
    * Scale shape is the inverted-index idiom the other dedup operators
    * use: per-row HOF builds (position, md5(gram)) pairs inside the
    * scan, ONE shuffle counts gram occurrences (map-side partial — a
    * stop-phrase gram combines before it moves), one equi-join back
    * flags each document's duplicated grams, and coverage is a
    * distinct-positions count whose explode factor is bounded by n ×
    * duplicated grams, not corpus size. Never all-pairs, no suffix
    * array to materialize.
    */
  def repeatedNgrams(docs: DataFrame, id: String, text: String,
      n: Int = 13, dropThreshold: Double = 0.5): DataFrame = {
    require(n >= 2, "n-gram order must be >= 2")
    val toks = docs.select(col(id).as("_id"), split(col(text), " ").as("_w"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val grams = toks.filter(size(col("_w")) >= n)
        .select(col("_id"), explode(expr(
          s"""transform(sequence(1, size(_w) - ${n - 1}),
             |  i -> named_struct('p', i, 'h', md5(concat_ws(' ', slice(_w, i, $n)))))"""
            .stripMargin)).as("_g"))
        .select(col("_id"), col("_g.p").as("_p"), col("_g.h").as("_h"))
      val dupHashes = grams.groupBy("_h").agg(count(lit(1)).as("_c"))
        .filter(col("_c") > 1).select("_h")
      val dupGrams = grams.join(dupHashes, "_h")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val perDoc = dupGrams.groupBy("_id")
          .agg(count(lit(1)).as("dup_ngrams"))
        val covered = dupGrams
          .select(col("_id"), explode(expr(s"sequence(_p, _p + ${n - 1})")).as("_cp"))
          .distinct()
          .groupBy("_id").agg(count(lit(1)).as("covered_tokens"))
        toks.select(col("_id"), size(col("_w")).cast("long").as("n_tokens"))
          .join(perDoc, Seq("_id"), "left")
          .join(covered, Seq("_id"), "left")
          .select(col("_id").as(id), col("n_tokens"),
            coalesce(col("dup_ngrams"), lit(0L)).as("dup_ngrams"),
            coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
            (coalesce(col("covered_tokens"), lit(0L)).cast("double") / col("n_tokens"))
              .as("dup_fraction"))
          .withColumn("flag_drop", col("dup_fraction") > dropThreshold)
          .localCheckpoint(true)
      } finally dupGrams.unpersist(false)
    } finally toks.unpersist(false)
  }

  /** BM25 top-k retrieval (Robertson–Spärck Jones) over a document corpus —
    * the classic inverted-index shape, expressed relationally:
    *
    *   postings  = (doc, term, tf)    one groupBy over exploded tokens
    *   doc stats = (doc, dl)          token count per doc
    *   idf       = vocab-bounded frame, idf(term) = detLn((N−df+½)/(df+½)+1)
    *   score     = Σ_matching-terms idf · tf(k1+1) / (tf + k1(1−b+b·dl/avgdl))
    *
    * Cross-engine determinism: every per-term score is a fixed IEEE circuit
    * over integer inputs (tf, df, dl, N, Σdl) — the only transcendental is
    * [[graft.functions.DetMath.detLn]], which is bit-reproducible by
    * construction. The per-term double is floor-scaled to a 1e-9-granular
    * long BEFORE the per-(query,doc) sum, so the aggregate is
    * addition-order-invariant (float sums are not). Ranking sorts the scaled
    * long with doc-id tie-break — fully deterministic.
    *
    * 100 TB: the token explode + tf groupBy is the scan-side inverted-index
    * build (map-side combine); idf lives on a vocab-bounded frame; the
    * corpus-stats frame is 1 row (broadcast); the query set is small by
    * nature so AQE broadcasts it into the postings join — per-query cost is
    * the postings of its terms, never a corpus scan.
    */
  def bm25TopK(docs: DataFrame, id: String, text: String,
               queries: DataFrame, qid: String, qtext: String,
               qTerms: Int = 6, k1: Double = 1.2, b: Double = 0.75,
               k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = postings(docs, id, text)
    // dl = Σ tf — re-aggregating the postings frame instead of re-exploding
    // the full token stream (tf is vocab×docs-bounded, the stream is not)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val st = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("tot"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = dfreq.crossJoin(broadcast(st)).select(col("term"),
      graft.functions.DetMath.detLn(
        (((col("n_docs").cast("double") - col("df").cast("double")) + lit(0.5))
          / (col("df").cast("double") + lit(0.5))) + lit(1.0)).as("idf"))
    val qt = queries.select(col(qid).as("q_id"),
        explode(slice(split(lower(col(qtext)), " "), 1, qTerms)).as("term"))
      .distinct()
    val avgdl = col("tot").cast("double") / col("n_docs").cast("double")
    val tfD = col("tf").cast("double")
    val dlD = col("dl").cast("double")
    val denom = tfD + (lit(k1) * ((lit(1.0) - lit(b)) + ((lit(b) * dlD) / avgdl)))
    val score = col("idf") * ((tfD * (lit(k1) + lit(1.0))) / denom)
    val sc = qt.join(tf, "term").join(dl, "doc_id").join(idf, "term")
      .crossJoin(broadcast(st))
      .select(col("q_id"), col("doc_id"),
        floor(score * lit(1.0e9)).as("s"))
    val agg = sc.groupBy("q_id", "doc_id").agg(sum("s").as("score_scaled"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("score_scaled").desc, col("doc_id").asc)
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("rank"),
        (col("score_scaled").cast("double") / lit(1.0e9)).as("score"))
  }

  /** (doc, term, tf) postings from whitespace tokens — the shared scan
    * for the retrieval/entropy/LM-score family. A doc's length dl is
    * Σ tf over its postings.
    */
  private def postings(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id).as("doc_id"), explode(split(lower(col(text)), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** Per-document unigram token entropy — the low-diversity filter of
    * training-data pipelines (boilerplate / keyword-stuffing detection):
    *
    *   H = ln dl − (Σ_terms tf·ln tf) / dl          (nats)
    *   H_norm = H / ln dl ∈ [0,1]  (1 = all tokens distinct)
    *
    * All logs are [[graft.functions.DetMath.detLn]] (bit-reproducible);
    * each tf·ln tf is floor-scaled to a 1e-9-granular long before the
    * per-doc sum, so aggregation is addition-order-invariant. Scan-shaped:
    * one postings groupBy, then ONE per-doc reduce that sums dl, the
    * scaled tf·ln tf and the distinct-term count together — no join.
    */
  def tokenEntropy(docs: DataFrame, id: String, text: String,
                   lowThreshold: Double = 0.6): DataFrame = {
    import graft.functions.DetMath.detLn
    val tfD = col("tf").cast("double")
    val s = postings(docs, id, text)
      .groupBy("doc_id").agg(sum("tf").as("dl"),
        sum(floor((tfD * detLn(tfD)) * lit(1.0e9))).as("s"), count(lit(1)).as("n_distinct"))
    val dlD = col("dl").cast("double")
    val h = detLn(dlD) - ((col("s").cast("double") / lit(1.0e9)) / dlD)
    s.select(col("doc_id"), col("dl").as("n_tokens"), col("n_distinct"),
        h.as("entropy"),
        when(col("dl") > 1, h / detLn(dlD)).otherwise(lit(0.0)).as("entropy_norm"))
      .withColumn("flag_low", col("entropy_norm") < lowThreshold)
  }

  /** Per-document cross-entropy under the corpus unigram LM — the
    * simplest "LM quality score" filter (CCNet/Gopher lineage: rank docs
    * by how (un)surprising they are to a model of the corpus):
    *
    *   xent = ln T − (Σ_terms tf·ln cf(term)) / dl     (nats/token)
    *
    * where cf = corpus frequency of the term and T = Σ cf. Same
    * determinism contract as [[tokenEntropy]]. 100 TB: cf and its log live
    * on a vocab-bounded frame joined into the postings (AQE broadcasts
    * when small); T is a 1-row broadcast. lncf's terms are exactly tf's,
    * so the inner join keeps every posting and dl = Σ tf folds into the
    * one per-doc reduce.
    */
  def unigramCrossEntropy(docs: DataFrame, id: String, text: String): DataFrame = {
    val tf = postings(docs, id, text)
    import graft.functions.DetMath.detLn
    val cf = tf.groupBy("term").agg(sum("tf").as("cf"))
    val lncf = cf.select(col("term"), detLn(col("cf").cast("double")).as("lncf"))
    val tot = cf.agg(sum("cf").as("t"))
    val s = tf.join(lncf, "term")
      .groupBy("doc_id").agg(sum("tf").as("dl"),
        sum(floor((col("tf").cast("double") * col("lncf")) * lit(1.0e9))).as("s"))
    val dlD = col("dl").cast("double")
    s.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("dl").as("n_tokens"),
        (detLn(col("t").cast("double"))
          - ((col("s").cast("double") / lit(1.0e9)) / dlD)).as("xent"))
  }

  /** Per-group KL divergence of the token distribution from the corpus —
    * mixture-drift monitoring (is one source's language shifting away
    * from the blend it was weighted for?):
    *
    *   KL(p_g‖q) = (Σ_terms c·(ln c − ln cf)) / T_g + (ln T − ln T_g)
    *
    * derived from Σ p ln(p/q) with p = c/T_g, q = cf/T. Deterministic by
    * the usual contract: detLn everywhere, per-term contributions
    * floor-scaled to longs before the per-group sum (c·(ln c − ln cf) is
    * negative for under-represented terms — floor is exact and identical
    * in both engines on negatives too). Group and vocab frames are
    * aggregation-bounded; nothing rescans the corpus.
    */
  def groupKlDivergence(docs: DataFrame, group: String, text: String): DataFrame = {
    import graft.functions.DetMath.detLn
    val toks = docs.select(col(group).as("grp"),
      explode(split(lower(col(text)), " ")).as("term"))
    val cg = toks.groupBy("grp", "term").agg(count(lit(1)).as("c"))
    val cf = cg.groupBy("term").agg(sum("c").as("cf"))
    val ts = cg.groupBy("grp").agg(sum("c").as("ts"))
    val tot = cf.agg(sum("cf").as("t"))
    val lncf = cf.select(col("term"), detLn(col("cf").cast("double")).as("lncf"))
    val cD = col("c").cast("double")
    val s = cg.join(lncf, "term")
      .select(col("grp"),
        floor((cD * (detLn(cD) - col("lncf"))) * lit(1.0e9)).as("d"))
      .groupBy("grp").agg(sum("d").as("s"), count(lit(1)).as("n_terms"))
    val tsD = col("ts").cast("double")
    ts.join(s, "grp").crossJoin(broadcast(tot))
      .select(col("grp").as(group), col("ts").as("n_tokens"), col("n_terms"),
        (((col("s").cast("double") / lit(1.0e9)) / tsD)
          + (detLn(col("t").cast("double")) - detLn(tsD))).as("kl"))
  }

  /** Per-document cross-entropy under the corpus BIGRAM LM — the
    * context-aware upgrade of [[unigramCrossEntropy]] (word-salad text
    * has plausible unigrams but improbable transitions):
    *
    *   xent2 = (Σ_bigrams c·(ln cx(w1) − ln cb(w1 w2))) / (dl−1)
    *
    * with cb = corpus bigram count and cx(w1) = Σ_w2 cb — i.e.
    * −mean ln p(w2|w1) in nats/transition. Docs need ≥ 2 tokens (the
    * size guard also dodges Spark's descending `sequence(1, 0)`).
    * Determinism contract as usual: detLn, contributions (≥ 0 since
    * cx ≥ cb) floor-scaled to longs pre-sum. Bigram and context frames
    * are vocab²-bounded aggregates — nothing rescans the corpus.
    */
  def bigramCrossEntropy(docs: DataFrame, id: String, text: String): DataFrame = {
    import graft.functions.DetMath.detLn
    val base = docs.select(col(id).as("doc_id"),
        split(lower(col(text)), " ").as("_w"))
      .filter(size(col("_w")) >= 2)
    val bi = base.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(_w) - 1), i -> concat(element_at(_w, i), ' ', element_at(_w, i + 1)))"))
      .as("bg"))
    val cb = bi.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
    val cbt = cb.groupBy("bg").agg(sum("c").as("cb"))
    val ctx = cbt.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum("cb").as("cx"))
    val lncb = cbt.select(col("bg"), detLn(col("cb").cast("double")).as("lncb"))
    val lncx = ctx.select(col("w1"), detLn(col("cx").cast("double")).as("lncx"))
    val s = cb.join(lncb, "bg")
      .join(lncx, substring_index(col("bg"), " ", 1) === col("w1"))
      .select(col("doc_id"),
        floor((col("c").cast("double") * (col("lncx") - col("lncb")))
          * lit(1.0e9)).as("d"))
      .groupBy("doc_id").agg(sum("d").as("s"))
    base.select(col("doc_id"), size(col("_w")).cast("long").as("dl"))
      .join(s, "doc_id")
      .select(col("doc_id"), col("dl").as("n_tokens"),
        (col("dl") - lit(1L)).as("n_bigrams"),
        ((col("s").cast("double") / lit(1.0e9))
          / (col("dl") - lit(1L)).cast("double")).as("xent2"))
  }

  /** Temperature-based mixture reweighting (the UNIMAX / multilingual
    * `p^(1/τ)` rule): τ > 1 flattens the source distribution toward
    * uniform so low-resource sources are upsampled. Per source:
    *
    *   w = exp((ln n_s − ln T) / τ) = share^(1/τ)
    *   temp_share = w / Σ w        target_tokens = ⌊temp_share · T⌋
    *
    * Both transcendentals are the deterministic circuits
    * ([[graft.functions.DetMath.detLn]]/`detExp`), and the normalizing
    * Σw sums 1e-12-floor-scaled longs — order-invariant, so the whole
    * reweighting is bit-reproducible. Frames are per-source aggregates;
    * one corpus scan total.
    */
  def mixtureTemperature(docs: DataFrame, group: String, text: String,
      temperature: Double = 1.3): DataFrame = {
    import graft.functions.DetMath.{detExp, detLn}
    val toks = docs.select(col(group).as("grp"),
      explode(split(lower(col(text)), " ")).as("term"))
    val ts = toks.groupBy("grp").agg(count(lit(1)).as("ts"))
    val tot = ts.agg(sum("ts").as("t"))
    val w = detExp((detLn(col("ts").cast("double"))
      - detLn(col("t").cast("double"))) / lit(temperature))
    val scaled = ts.crossJoin(broadcast(tot))
      .select(col("grp"), col("ts"), col("t"),
        floor(w * lit(1.0e12)).as("ws"))
    val totW = scaled.agg(sum("ws").as("wt"))
    scaled.crossJoin(broadcast(totW)).select(
      col("grp").as(group),
      col("ts").as("n_tokens"),
      (col("ts").cast("double") / col("t").cast("double")).as("share"),
      (col("ws").cast("double") / col("wt").cast("double")).as("temp_share"),
      floor((col("ws").cast("double") / col("wt").cast("double"))
        * col("t").cast("double")).as("target_tokens"))
  }

  /** Per-document top-k keywords by tf·idf — the corpus-analysis face
    * of the postings family (keyword extraction / topic tagging).
    * idf = detLn((N+1)/(df+1)) (smoothed; the ratio is one IEEE
    * long÷long division ≥ 1, the log is the bit-deterministic circuit),
    * score = tf·idf floor-scaled to a 1e-9-granular long so the per-doc
    * rank is stable across engines. 100 TB: df and idf live on
    * vocab-bounded frames, N is a 1-row broadcast, and the per-doc
    * window is bounded by each doc's distinct-term count.
    */
  def tfidfKeywords(docs: DataFrame, id: String, text: String,
                    k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.DetMath.detLn
    val tf = postings(docs, id, text)
    val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = docs.agg(count(lit(1)).as("n_docs"))
    val idf = dfr.crossJoin(broadcast(nd))
      .select(col("term"),
        detLn((col("n_docs").cast("double") + lit(1.0))
          / (col("df").cast("double") + lit(1.0))).as("idf"))
    val scored = tf.join(idf, "term")
      .select(col("doc_id"), col("term"), col("tf"),
        floor((col("tf").cast("double") * col("idf")) * lit(1.0e9))
          .as("score_scaled"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_scaled").desc, col("term"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        (col("score_scaled").cast("double") / lit(1.0e9)).as("score"))
  }

  /** Per-domain quota capping (the RefinedWeb/C4 "no domain dominates
    * the mix" rule): keep at most k docs per group, chosen uniformly by
    * an md5(id) priority (deterministic across engines and runs), with
    * the within-group rank exposed. Two-level tournament à la
    * Profiler.topK: a salted local top-k first prunes every group to
    * ≤ 64·k survivors (a global top-k row is top-k within its salt
    * bucket, so no false dismissals), then the per-group window ranks
    * only those survivors — a pathologically hot domain never funnels
    * its full row set through one task.
    */
  def domainCap(docs: DataFrame, id: String, group: String,
                k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(id), col(group),
      md5(col(id).cast("string")).as("_pri"))
    val wLocal = Window
      .partitionBy(col(group), pmod(xxhash64(col(id).cast("string")), lit(64)))
      .orderBy(col("_pri"), col(id))
    val pruned = base.withColumn("_lr", row_number().over(wLocal))
      .filter(col("_lr") <= k).drop("_lr")
    val w = Window.partitionBy(col(group)).orderBy(col("_pri"), col(id))
    pruned.withColumn("rank_in_group", row_number().over(w).cast("long"))
      .where(col("rank_in_group") <= k)
      .drop("_pri")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed-n-gram features are under a
    * TARGET distribution (the curated subset flagged by `isTarget`)
    * than under the RAW corpus distribution:
    *
    *   λ[b]  = ln p̂_t(b) − ln p̂_r(b),  p̂ add-1-smoothed over B=16^hexLen
    *           md5-prefix token buckets
    *   score = Σ_tokens λ[bucket(token)]
    *
    * Determinism: λ's argument is a ratio of two exact long products
    * ((ct+1)(tr+B)) / ((cr+1)(tt+B)) — orientated ≥ 1 so detLn's
    * domain holds (bound: ratio ≤ max(tr,tt)+B, so token counts up to
    * 2^40 per corpus side) — then floor-scaled to a 1e-9-granular
    * long, making the per-doc sum exact integer addition (order-free;
    * |score_scaled| ≤ dl·28e9 needs dl ≲ 3e8 tokens/doc).
    *
    * Shape at 100 TB: the token stream collapses immediately into the
    * per-(doc, bucket) tf frame — bounded by B=4096 buckets per doc,
    * not by document length — which is persisted and feeds all three
    * consumers (bucket counts, corpus totals, final score join); λ
    * lives on a B-bounded frame with the 1-row totals broadcast.
    */
  def dsirWeights(docs: DataFrame, id: String, text: String,
                  isTarget: Column, hexLen: Int = 3): DataFrame = {
    import graft.functions.DetMath.detLn
    val buckets = 1L << (4 * hexLen)
    val toks = docs.select(col(id).as("doc_id"), isTarget.as("is_t"),
        explode(split(lower(col(text)), " ")).as("term"))
      .select(col("doc_id"), col("is_t"),
        substring(md5(col("term")), 1, hexLen).as("bucket"))
    val tfb = toks.groupBy("doc_id", "is_t", "bucket")
      .agg(count(lit(1)).as("tf")).persist()
    val bc = tfb.groupBy("bucket").agg(
      sum("tf").as("cr"),
      sum(when(col("is_t"), col("tf")).otherwise(0L)).as("ct"))
    val tot = tfb.agg(
      sum("tf").as("tr"),
      sum(when(col("is_t"), col("tf")).otherwise(0L)).as("tt"))
    val lam = bc.crossJoin(broadcast(tot))
      .select(col("bucket"),
        ((col("ct") + 1L) * (col("tr") + buckets)).as("num"),
        ((col("cr") + 1L) * (col("tt") + buckets)).as("den"))
      .select(col("bucket"),
        when(col("num") >= col("den"),
          detLn(col("num").cast("double") / col("den").cast("double")))
          .otherwise(-detLn(col("den").cast("double") / col("num").cast("double")))
          .as("lam"))
      .select(col("bucket"),
        floor(col("lam") * lit(1.0e9)).cast("long").as("lam_s"))
    tfb.join(lam, "bucket")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("lam_s")).as("score_scaled"))
      .select(col("doc_id"), col("score_scaled"),
        (col("score_scaled").cast("double") / lit(1.0e9)).as("score"))
  }

  /** CCNet-style global rank + equi-depth bucketing by an integer sort
    * key (e.g. a quantized LM cross-entropy): rank every row by
    * (key, id) and assign bucket = (rank−1)·nBuckets div N — exact
    * equi-depth terciles/deciles with zero float quantile estimation.
    *
    * The global rank uses the same DISTRIBUTED prefix shape as
    * [[packSequences]]/[[budgetSelect]]: range-repartition by
    * (key, id), sort within partitions, collect only the PER-PARTITION
    * row counts (partition-count-bounded driver traffic), broadcast
    * the prefix offsets, then stamp ranks in one mapPartitions pass —
    * no single-partition global window anywhere, so the shape holds at
    * corpus scale.
    */
  def rankBuckets(scored: DataFrame, id: String, key: Column,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1)
    val spark = scored.sparkSession
    import spark.implicits._
    val sorted = scored
      .select(col(id).cast("long").as("_id"), key.cast("long").as("_k"))
      .repartitionByRange(col("_k"), col("_id"))
      .sortWithinPartitions(col("_k"), col("_id"))
      .as[(Long, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = sorted
        .mapPartitionsWithIndex { (i, it) =>
          var c = 0L; it.foreach(_ => c += 1); Iterator((i, c))
        }
        .collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      val n = math.max(offsets.last, 1L)
      val bc = spark.sparkContext.broadcast(offsets)
      val ranked = sorted.mapPartitionsWithIndex { (i, it) =>
        var r = bc.value(i)
        it.map { case (d, k) =>
          r += 1
          (d, k, r, (r - 1) * nBuckets / n)
        }
      }
      ranked.toDF(id, "key", "rank", "bucket").localCheckpoint(true)
    } finally sorted.unpersist(false)
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis–
    * Spirakis exponential clocks, the distributed standard): row i
    * draws an md5-uniform u_i ∈ (0, 1] (40-bit, keyed on its id),
    * starts an exponential clock t_i = −ln(u_i) — computed with
    * [[graft.functions.DetMath.detLn]] so the double is bit-identical
    * in every engine — quantized to 1e15 fixed-point and integer-
    * divided by its POSITIVE integer weight; the n smallest keys win
    * (ties by id). P(i in sample) is the A-ES without-replacement
    * weighted law; every arithmetic step after the one correctly-
    * rounded IEEE division inside the uniform is integer, so the
    * selected set hash-matches across engines at any scale.
    *
    * Scale shape: one narrow projection + a global top-n
    * (TakeOrdered — no full sort is materialized); weights arrive as
    * a column, so the typical source is a persisted score frame
    * (DSIR weights, quality points).
    */
  def weightedSample(df: DataFrame, id: String, weight: Column,
      n: Int): DataFrame = {
    import graft.functions.DetMath.detLn
    val h = conv(substring(md5(col(id).cast("string")), 1, 10), 16, 10)
      .cast("long") // uniform in [0, 2^40)
    val ratio = lit((1L << 40).toDouble) / (h + lit(1L)).cast("double")
    df.withColumn("_w", weight)
      .filter(col("_w") > 0)
      .withColumn("_clock", floor(detLn(ratio) * lit(1.0e15)).cast("long"))
      .withColumn("priority", expr("_clock div _w"))
      .orderBy(col("priority"), col(id))
      .limit(n)
      .withColumnRenamed("_w", "weight")
      .drop("_clock")
  }

  /** Winnowing fingerprints (#63, Schleimer et al.): char 5-gram rolling
    * hashes (md5-prefix), per-window (w=4) minima, distinct + sorted →
    * count and digest per document.
    */
  def fingerprint(docs: DataFrame, id: String, text: String): DataFrame = {
    val prepared = docs.select(col(id), lower(col(text)).as("_t"))
    val h = expr(
      "transform(sequence(1, greatest(length(_t) - 4, 1)), i -> substring(md5(substring(_t, i, 5)), 1, 8))")
    val withH = prepared.withColumn("_h", h)
    val mins = expr("transform(sequence(1, greatest(size(_h) - 3, 1)), j -> array_min(slice(_h, j, 4)))")
    withH.withColumn("_fp", array_sort(array_distinct(mins)))
      .select(col(id),
        size(col("_fp")).cast("long").as("fp_count"),
        md5(array_join(col("_fp"), ",")).as("fp_digest"))
  }

  /** Per-document n-gram NOVELTY — the inverse signal of the dedup
    * family: the share of a doc's distinct n-grams that occur in NO
    * other document. Low novelty means the doc is assembled from
    * corpus-common phrasing (template/boilerplate/spam) even when no
    * single near-dup partner exists — a quality gate near-dup pair
    * mining cannot express. Shape: the inverted shingle index
    * (explode → ONE groupBy(shingle) document-frequency count,
    * map-side combining) equi-joined back, then a per-doc aggregation;
    * ratios are exact integer milli-units.
    */
  def ngramNovelty(docs: DataFrame, id: String, text: String,
      n: Int = 3): DataFrame = {
    val sh = graft.dedup.Dedup.shingleFrame(docs, id, text, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // JOIN-FREE: a df=1 shingle has exactly one occurrence, so its
      // owner is min(_id) of the same aggregation — no join back of
      // the inverted index onto the df frame (measured 8.0 s → join-
      // free rewrite; the old shape shuffled every (doc, shingle) row
      // twice and recomputed the explode for each consumer)
      val uniq = sh.select(col("_id"), explode(col("_sh")).as("_g"))
        .groupBy("_g")
        .agg(count(lit(1)).as("_df"), min(col("_id")).as("_owner"))
        .filter(col("_df") === 1)
        .groupBy(col("_owner"))
        .agg(count(lit(1)).as("n_unique"))
      val out = sh.filter(size(col("_sh")) > 0)
        .select(col("_id"), size(col("_sh")).cast("long").as("n_ngrams"))
        .join(uniq, col("_id") === col("_owner"), "left")
        .select(col("_id").as(id), col("n_ngrams"),
          coalesce(col("n_unique"), lit(0L)).as("n_unique"),
          expr("coalesce(n_unique, 0L) * 1000 div n_ngrams").as("novelty_milli"))
      out.localCheckpoint(true)
    } finally sh.unpersist(false)
  }

  /** CROSS-document exact line deduplication — the C4/RefinedWeb
    * boilerplate killer: a line that appears in many documents (nav
    * bars, cookie banners, license footers) survives in exactly ONE
    * of them. Lines with fewer than `minWords` whitespace tokens are
    * exempt (headers, list stubs) and always kept.
    *
    * Law: the canonical occurrence of a duplicated line is the
    * global min (doc id, line position) — one min(struct) aggregate
    * per distinct line (map-side combining, no window over the
    * occurrence lists, so a line occurring 10⁹ times shuffles one
    * winner). Kept lines are reassembled in original order via
    * array_sort over a per-doc collect — bounded by lines-per-doc,
    * never corpus-global. Docs whose every eligible line lost stay
    * in the output with the exempt remainder (left join from the doc
    * universe, not from survivors).
    *
    * Scale shape: explode → one groupBy(line-hash) agg → equi-join
    * back → one groupBy(doc). Matching is on md5(line): 128-bit
    * exact-match fingerprints shuffle fixed-width keys instead of
    * arbitrary-length lines.
    */
  /** Gopher's required-word set (Rae et al. 2021 §A1.1: "contains at
    * least 2 of a set of common English words"). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher rule battery — see [[TextQueries.textGopherRules]] for
    * the rule list and determinism contract. One projection, per-row
    * HOFs only; `keep` is the conjunction of all seven named rules.
    */
  def gopherRules(docs: DataFrame, id: String, text: String): DataFrame = {
    val stops = array(GopherStopwords.map(lit): _*)
    val base = docs.select(col(id),
      lower(col(text)).as("_t"),
      split(lower(col(text)), " ").as("_toks"),
      split(col(text), "\n").as("_ls"))
    val b = base.select(col(id),
      size(col("_toks")).cast("long").as("nw"),
      expr("aggregate(transform(_toks, x -> length(x)), 0L, (a, x) -> a + x)").as("wl"),
      // '...' count: removed length is always a multiple of 3, so the
      // integer `div` is exact
      ((length(col("_t")) - length(expr("replace(_t, '#', '')"))).cast("long") +
        expr("(length(_t) - length(replace(_t, '...', ''))) div 3").cast("long")).as("sym"),
      expr("size(filter(_toks, x -> x rlike '[a-z]'))").cast("long").as("alpha"),
      size(array_intersect(array_distinct(col("_toks")), stops)).cast("long").as("stop_hits"),
      size(col("_ls")).cast("long").as("nl"),
      expr("size(filter(_ls, x -> x like '- %' or x like '* %' or x like '• %'))")
        .cast("long").as("bul"),
      expr("size(filter(_ls, x -> x like '%...' or x like '%…'))")
        .cast("long").as("ell"))
    b.select(col(id), col("nw").as("n_words"),
      expr("wl * 1000 div nw").as("mean_word_len_milli"),
      expr("sym * 1000 div nw").as("symbol_ratio_milli"),
      expr("alpha * 1000 div nw").as("alpha_frac_milli"),
      col("stop_hits"),
      expr("bul * 1000 div nl").as("bullet_milli"),
      expr("ell * 1000 div nl").as("ellipsis_milli"),
      (col("nw").between(50L, 100000L) &&
        expr("wl * 1000 div nw").between(3000L, 10000L) &&
        (expr("sym * 1000 div nw") <= 100L) &&
        (expr("alpha * 1000 div nw") >= 800L) &&
        (col("stop_hits") >= 2L) &&
        (expr("bul * 1000 div nl") <= 900L) &&
        (expr("ell * 1000 div nl") <= 300L)).as("keep"))
  }

  def lineDedup(docs: DataFrame, id: String, text: String,
      minWords: Int = 5): DataFrame = {
    val base = docs.select(col(id).as("_id"),
      posexplode(split(col(text), "\n")).as(Seq("_pos", "_line")))
    val lines = base.withColumn("_elig",
        size(split(col("_line"), " ")) >= minWords)
      .withColumn("_h", md5(col("_line")))
    val winners = lines.filter(col("_elig"))
      .groupBy(col("_h"))
      .agg(min(struct(col("_id"), col("_pos"))).as("_w"))
      .select(col("_h"), col("_w._id").as("_wid"), col("_w._pos").as("_wpos"))
    val kept = lines.join(winners, Seq("_h"), "left")
      .filter(!col("_elig") ||
        (col("_wid") === col("_id") && col("_wpos") === col("_pos")))
    val rebuilt = kept.groupBy(col("_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(expr("transform(array_sort(collect_list(struct(_pos, _line))), s -> s._line)"),
          "\n").as("text_dedup"))
    docs.select(col(id), (size(split(col(text), "\n"))).cast("long").as("n_lines"))
      .join(rebuilt, col(id) === col("_id"), "left")
      .select(col(id), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Max passes of the boundary-safe pair replace. A same-pair run of
    * length m needs ≤ ⌈m/2⌉ passes (each pass merges every other
    * occurrence); 16 covers symbol runs up to 32 — longer than any word
    * in a byte-level vocabulary.
    */
  val BpeReplacePasses = 16

  /** Apply one BPE merge to a space-joined symbol string (padded with a
    * leading/trailing space). Plain `replace` of " x y " → " xy " is
    * boundary-safe (symbols never contain spaces) and, iterated
    * [[BpeReplacePasses]] times, equals the greedy left-to-right merge
    * scan of reference BPE — the oracle runs the identical circuit.
    */
  private def applyMerge(sym: Column, pair: String): Column = {
    val merged = pair.replace(" ", "")
    (1 to BpeReplacePasses).foldLeft(sym)((c, _) =>
      call_function("replace", c, lit(s" $pair "), lit(s" $merged ")))
  }

  /** Distributed BPE merge training (the Sennrich et al. 2016 algorithm,
    * counted corpus-wide the way large-scale tokenizer training does it):
    * one heavy agg shrinks the corpus to its word vocabulary, then each
    * of `merges` bounded iterations is a vocab-sized adjacent-pair count
    * (map-side partial agg) + a 1-row argmax collect + a codegen'd
    * replace projection. At 100 TB the only corpus-sized pass is the
    * first word count; every later step is vocabulary-bounded.
    *
    * Ties on pair count break lexicographically asc — deterministic and
    * mirrored by the oracle. Output: one row per merge step
    * (step, pair, merged, pair_count).
    */
  /** Flesch-Kincaid readability, exact integer milli circuit: words =
    * space tokens, sentences = '.'-separated segments (min 1),
    * syllables = vowel-group count with a 1-per-word floor for
    * vowel-less words. Grade = 0.39·w/s + 11.8·syl/w − 15.59 and ease
    * = 206.835 − 1.015·w/s − 84.6·syl/w, both in floor-divided milli
    * units (every operand non-negative before the final subtraction,
    * so Spark `div` ≡ DuckDB `//`). One scan, per-row HOFs, no
    * shuffle.
    */
  def readability(docs: DataFrame, id: String, text: String): DataFrame = {
    val t = lower(col(text))
    docs.select(col(id),
        size(split(t, " ")).cast("long").as("n_words"),
        size(split(t, "\\.")).cast("long").as("n_sentences"),
        (size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0)))
          + size(filter(split(t, " "), w => !w.rlike("[aeiouy]"))))
          .cast("long").as("n_syllables"))
      .select(col(id), col("n_words"), col("n_sentences"), col("n_syllables"),
        (expr("390 * n_words div n_sentences")
          + expr("11800 * n_syllables div n_words") - lit(15590L))
          .as("fk_grade_milli"),
        (lit(206835L) - expr("1015 * n_words div n_sentences")
          - expr("84600 * n_syllables div n_words"))
          .as("flesch_ease_milli"))
  }

  def bpeTrain(docs: DataFrame, text: String, merges: Int = 6): DataFrame =
    bpeFit(docs, text, merges)._1

  /** Full BPE fit: (merge table, final symbolized vocabulary). The
    * vocab frame (w, cnt, sym) is the fitted-tokenizer artifact a
    * deployment persists — encoding any corpus is then a word join
    * (see [[bpeEncode]]), never a re-fit.
    */
  def bpeFit(docs: DataFrame, text: String, merges: Int = 6): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(split(lower(col(text)), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).cast("long").as("cnt"))
      .withColumn("sym",
        concat(lit(" "), trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" ")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var vocab = words
      val out = Seq.newBuilder[(Long, String, String, Long)]
      for (step <- 1 to merges) {
        val best = vocab
          .select(col("cnt"), split(trim(col("sym")), " ").as("a"))
          .filter(size(col("a")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(0, size(a) - 2), j -> concat(a[j], ' ', a[j + 1]))"))
            .as("pair"))
          .groupBy("pair").agg(sum("cnt").cast("long").as("c"))
          .orderBy(col("c").desc, col("pair"))
          .limit(1).collect()
        if (best.nonEmpty) {
          val (pair, c) = (best(0).getString(0), best(0).getLong(1))
          out += ((step.toLong, pair, pair.replace(" ", ""), c))
          // localCheckpoint keeps each iteration's plan flat (the replace
          // chain would otherwise nest merges× passes deep).
          vocab = vocab
            .withColumn("sym", applyMerge(col("sym"), pair))
            .localCheckpoint(true)
        }
      }
      (out.result().toDF("step", "pair", "merged", "pair_count").orderBy("step"),
        vocab)
    } finally words.unpersist(false)
  }

  /** Encode the corpus with the fitted BPE vocabulary: per doc, the
    * character-level token count vs the BPE token count (the
    * compression a tokenizer buys). The fit's vocab frame maps word →
    * final symbol string, so encoding is ONE equi-join of exploded doc
    * words against the vocabulary — the deployment shape at 100 TB
    * (the vocab is the bounded, broadcastable artifact; documents are
    * never re-scanned by the fit).
    */
  def bpeEncode(docs: DataFrame, id: String, text: String,
      merges: Int = 6): DataFrame = {
    val vocab = bpeFit(docs, text, merges)._2
      .select(col("w"), size(split(trim(col("sym")), " ")).cast("long").as("n_sym"),
        length(col("w")).cast("long").as("n_char"))
    docs.select(col(id), explode(split(lower(col(text)), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(vocab), "w")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_words"),
        sum("n_char").as("n_tokens_char"),
        sum("n_sym").as("n_tokens_bpe"))
      .withColumn("compression_milli",
        expr("n_tokens_bpe * 1000 div n_tokens_char"))
      .orderBy(col(id))
  }
}
