package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._

/** Dedup queries + DuckDB oracles (SURVEY §2.12 #53–56). The oracles
  * replay the exact same md5-based pipelines in SQL, so results match
  * bit-for-bit including any LSH banding effects.
  */
object DedupQueries {

  /** Shared DuckDB CTEs: word arrays, distinct 3-shingle sets, inverted
    * shingle index over `documents`.
    */
  val shinglePrelude: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (SELECT doc_id,
      |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                        for i in range(1, len(w) - 1)]) AS s
      |       FROM t),
      |inv AS (SELECT doc_id, unnest(s) AS shg FROM sh)""".stripMargin

  def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(documents(s, dir), "doc_id", "text").orderBy("doc_id")

  val dedupExactOracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         sha256(array_to_string(list_sort(list_distinct(
      |           string_split(lower(text), ' '))), ' ')) AS dg
      |  FROM documents),
      |g AS (SELECT dg, min(doc_id) AS dup_group, count(*) AS n_dups
      |      FROM d GROUP BY dg)
      |SELECT d.doc_id, g.dup_group, g.n_dups
      |FROM d JOIN g USING (dg)
      |ORDER BY doc_id""".stripMargin

  // documentsSpread / spread(docs) below only where the consumer is the
  // shingling+banding pipeline (per-row-heavy — r13 driver bench:
  // minhash_lsh 2.24→1.24 s, simhash 8.56→2.97 s with the exchange).
  // Cheap consumptions of the same corpus (join sides, source dims,
  // seeds) stay plain so they don't re-pay the exchange per consumer.
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(documentsSpread(s, dir), "doc_id", "text", 3, 0.8)
      .orderBy("id1", "id2")

  val dedupNgramOracle: String =
    s"""WITH $shinglePrelude,
       |srt AS (SELECT doc_id, list_sort(s) AS ss FROM sh),
       |pinv AS (SELECT doc_id,
       |           unnest(ss[1 : CAST(len(ss) - ceil(0.8 * len(ss)) + 1 AS INT)]) AS shg
       |         FROM srt),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |         FROM pinv a JOIN pinv b ON a.shg = b.shg AND a.doc_id < b.doc_id)
       |SELECT * FROM (
       |  SELECT id1, id2,
       |    round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
       |          / len(list_distinct(a.ss || b.ss)), 5) AS jaccard
       |  FROM cand JOIN srt a ON a.doc_id = id1 JOIN srt b ON b.doc_id = id2)
       |WHERE jaccard >= 0.8
       |ORDER BY id1, id2""".stripMargin

  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLsh(documentsSpread(s, dir), "doc_id", "text",
        n = 3, bands = 4, rows = 3, threshold = 0.8)
      .orderBy("id1", "id2")

  val dedupMinhashOracle: String = {
    val hashes = (0 until 12)
      .map(i => s"  min(substr(md5('$i#' || shg), 1, 8)) AS h$i")
      .mkString(",\n")
    val bandCols = (0 until 4)
      .map(b => s"  h${b * 3} || ':' || h${b * 3 + 1} || ':' || h${b * 3 + 2} AS b$b")
      .mkString(",\n")
    val bandJoins = (0 until 4)
      .map(b => s"  SELECT a.doc_id AS id1, b.doc_id AS id2 FROM banded a " +
        s"JOIN banded b ON a.b$b = b.b$b AND a.doc_id < b.doc_id")
      .mkString("\n  UNION\n")
    s"""WITH $shinglePrelude,
       |sigs AS (SELECT doc_id,
       |$hashes
       |FROM inv GROUP BY doc_id),
       |banded AS (SELECT doc_id,
       |$bandCols
       |FROM sigs),
       |cand AS (
       |$bandJoins)
       |SELECT * FROM (
       |  SELECT id1, id2,
       |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / len(list_distinct(a.s || b.s)), 5) AS jaccard
       |  FROM cand JOIN sh a ON a.doc_id = id1 JOIN sh b ON b.doc_id = id2)
       |WHERE jaccard >= 0.8
       |ORDER BY id1, id2""".stripMargin
  }

  /** Candidate-level P/R/F1 of LSH banding vs exact Jaccard truth
    * (Dedup.lshCandidateEval) — one summary row.
    */
  def dedupEval(s: SparkSession, dir: String): DataFrame =
    Dedup.lshCandidateEval(documents(s, dir), "doc_id", "text",
      n = 3, bands = 4, rows = 3, threshold = 0.8)

  val dedupEvalOracle: String = {
    val hashes = (0 until 12)
      .map(i => s"  min(substr(md5('$i#' || shg), 1, 8)) AS h$i")
      .mkString(",\n")
    val bandCols = (0 until 4)
      .map(b => s"  h${b * 3} || ':' || h${b * 3 + 1} || ':' || h${b * 3 + 2} AS b$b")
      .mkString(",\n")
    val bandJoins = (0 until 4)
      .map(b => s"  SELECT a.doc_id AS id1, b.doc_id AS id2 FROM banded a " +
        s"JOIN banded b ON a.b$b = b.b$b AND a.doc_id < b.doc_id")
      .mkString("\n  UNION\n")
    s"""WITH $shinglePrelude,
       |sigs AS (SELECT doc_id,
       |$hashes
       |FROM inv GROUP BY doc_id),
       |banded AS (SELECT doc_id,
       |$bandCols
       |FROM sigs),
       |cand AS (
       |$bandJoins),
       |srt AS (SELECT doc_id, list_sort(s) AS ss FROM sh),
       |pinv AS (SELECT doc_id,
       |           unnest(ss[1 : CAST(len(ss) - ceil(0.8 * len(ss)) + 1 AS INT)]) AS shg
       |         FROM srt),
       |tcand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |          FROM pinv a JOIN pinv b ON a.shg = b.shg AND a.doc_id < b.doc_id),
       |truth AS (SELECT id1, id2 FROM (
       |    SELECT id1, id2,
       |      round(CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
       |            / len(list_distinct(a.ss || b.ss)), 5) AS jaccard
       |    FROM tcand JOIN srt a ON a.doc_id = id1 JOIN srt b ON b.doc_id = id2)
       |  WHERE jaccard >= 0.8),
       |c AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
       |tr AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
       |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
       |      FROM cand JOIN truth USING (id1, id2))
       |SELECT c.n_candidates, tr.n_truth, h.n_hits,
       |  (CAST(h.n_hits AS DOUBLE) / CAST(c.n_candidates AS DOUBLE)) AS precision,
       |  (CAST(h.n_hits AS DOUBLE) / CAST(tr.n_truth AS DOUBLE)) AS recall,
       |  ((2.0 * CAST(h.n_hits AS DOUBLE))
       |    / CAST(c.n_candidates + tr.n_truth AS DOUBLE)) AS f1
       |FROM c, tr, h""".stripMargin
  }

  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(documentsSpread(s, dir), "doc_id", "text", maxHamming = 3)
      .orderBy("id1", "id2")

  val dedupSimhashOracle: String = {
    val votes = (0 until 16)
      .map(j => s"  sum(CASE WHEN substr(m, ${j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n")
    val bits = (0 until 16)
      .map(j => s"CASE WHEN v$j > 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    val ham = (0 until 16)
      .map(j => s"CASE WHEN substr(a.simhash, ${j + 1}, 1) <> substr(b.simhash, ${j + 1}, 1) THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, md5(tok) AS m FROM (
       |    SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
       |    FROM documents)),
       |votes AS (SELECT doc_id,
       |$votes
       |FROM toks GROUP BY doc_id),
       |sig AS (SELECT doc_id, $bits AS simhash FROM votes),
       |halves AS (SELECT doc_id, simhash,
       |           substr(simhash, 1, 8) AS b0, substr(simhash, 9, 8) AS b1 FROM sig),
       |cand AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.simhash AS s1, b.simhash AS s2
       |  FROM halves a JOIN halves b ON a.b0 = b.b0 AND a.doc_id < b.doc_id
       |  UNION
       |  SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
       |  FROM halves a JOIN halves b ON a.b1 = b.b1 AND a.doc_id < b.doc_id)
       |SELECT * FROM (
       |  SELECT id1, id2, ${ham.replace("a.simhash", "s1").replace("b.simhash", "s2")} AS hamming
       |  FROM cand)
       |WHERE hamming <= 3
       |ORDER BY id1, id2""".stripMargin
  }

  /** Doc-level near-dup clustering — the production dedup shape: LSH
    * candidate pairs → connected components → one canonical doc per
    * component (min id), every other member dropped. Reference has no
    * equivalent; this is the MinHash+CC pipeline of large-scale corpus
    * dedup (e.g. the C4/Gopher recipe). Each stage is an equi-join or
    * the O(log n) star fixpoint — never all-pairs, scales to 100 TB.
    */
  def dedupCluster(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val pairs = Dedup.minhashLsh(spread(docs), "doc_id", "text",
      n = 3, bands = 4, rows = 3, threshold = 0.8)
    val comp = graft.clustering.Clusterers.connectedComponents(
      pairs.select("id1", "id2"))
    docs.select("doc_id")
      .join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("canonical_id"))
      .withColumn("keep", (col("canonical_id") === col("doc_id")).cast("boolean"))
      .orderBy("doc_id")
  }

  /** Pairs CTE identical to dedupMinhashOracle, then the recursive
    * reachability CC + min-reachable canonical (same CTE shape as
    * ClusterQueries.ccOracle).
    */
  /** Shared CTE chain: LSH pairs → recursive reachability CC → min-id
    * components (`comp(id, cluster)`) — the prefix of every oracle
    * that consumes near-dup clusters.
    */
  private val clusterCtePrefix: String = {
    val hashes = (0 until 12)
      .map(i => s"  min(substr(md5('$i#' || shg), 1, 8)) AS h$i")
      .mkString(",\n")
    val bandCols = (0 until 4)
      .map(b => s"  h${b * 3} || ':' || h${b * 3 + 1} || ':' || h${b * 3 + 2} AS b$b")
      .mkString(",\n")
    val bandJoins = (0 until 4)
      .map(b => s"  SELECT a.doc_id AS id1, b.doc_id AS id2 FROM banded a " +
        s"JOIN banded b ON a.b$b = b.b$b AND a.doc_id < b.doc_id")
      .mkString("\n  UNION\n")
    s"""WITH RECURSIVE $shinglePrelude,
       |sigs AS (SELECT doc_id,
       |$hashes
       |FROM inv GROUP BY doc_id),
       |banded AS (SELECT doc_id,
       |$bandCols
       |FROM sigs),
       |cand AS (
       |$bandJoins),
       |pairs AS (SELECT id1, id2 FROM (
       |  SELECT id1, id2,
       |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / len(list_distinct(a.s || b.s)), 5) AS jaccard
       |  FROM cand JOIN sh a ON a.doc_id = id1 JOIN sh b ON b.doc_id = id2)
       |  WHERE jaccard >= 0.8),
       |sym AS (SELECT id1 AS u, id2 AS v FROM pairs
       |        UNION SELECT id2, id1 FROM pairs),
       |nodes AS (SELECT DISTINCT u AS id FROM sym),
       |reach(node, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node),
       |comp AS (SELECT node AS id, min(r) AS cluster FROM reach GROUP BY node)""".stripMargin
  }

  val dedupClusterOracle: String =
    s"""$clusterCtePrefix
       |SELECT d.doc_id,
       |  coalesce(c.cluster, d.doc_id) AS canonical_id,
       |  coalesce(c.cluster, d.doc_id) = d.doc_id AS keep
       |FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
       |ORDER BY doc_id""".stripMargin

  /** D4-style cluster-balanced sampling (Tirumala et al. 2023): after
    * near-dup clustering, keep ⌈√|c|⌉ docs per cluster, chosen
    * md5-uniformly — dense duplicate clusters are downweighted
    * sublinearly instead of collapsed to one exemplar, preserving
    * intra-cluster diversity. sqrt/ceil of an exact long count are
    * correctly-rounded IEEE ops — same value in every engine. The
    * per-cluster window is bounded by the cluster size (near-dup
    * clusters are small by construction; a pathological giant cluster
    * would call for the domainCap salted tournament).
    */
  def dedupClusterSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = documents(s, dir)
    val pairs = Dedup.minhashLsh(spread(docs), "doc_id", "text",
      n = 3, bands = 4, rows = 3, threshold = 0.8)
    val comp = graft.clustering.Clusterers.connectedComponents(
      pairs.select("id1", "id2"))
    val asg = docs.select("doc_id")
      .join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("canonical_id"))
    val sizes = asg.groupBy("canonical_id")
      .agg(count(lit(1)).as("cluster_size"))
      .withColumn("quota",
        ceil(sqrt(col("cluster_size").cast("double"))).cast("long"))
    val w = Window.partitionBy("canonical_id")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    asg.join(sizes, "canonical_id")
      .withColumn("rank_in_cluster", row_number().over(w).cast("long"))
      .where(col("rank_in_cluster") <= col("quota"))
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
        col("quota"), col("rank_in_cluster"))
      .orderBy("doc_id")
  }

  /** LEAKAGE-FREE train/val/test split: the split key is the near-dup
    * CANONICAL id, not the doc id — every member of a near-dup cluster
    * lands in the same split, so no eval document has a train-side
    * near-duplicate (the doc-keyed split leaks exactly those). Same
    * cluster derivation as `dedup_cluster`; the split itself is the
    * deterministic md5-prefix law of `text_split`.
    */
  def dedupSplitLeakfree(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val pairs = Dedup.minhashLsh(spread(docs), "doc_id", "text",
      n = 3, bands = 4, rows = 3, threshold = 0.8)
    val comp = graft.clustering.Clusterers.connectedComponents(
      pairs.select("id1", "id2"))
    val asg = docs.select("doc_id")
      .join(comp, docs("doc_id") === comp("id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("canonical_id"))
    graft.text.TextOps.trainValTestSplit(asg, col("canonical_id"),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      .orderBy("doc_id")
  }

  val dedupSplitLeakfreeOracle: String = {
    val cuts = graft.text.TextOps.cutsHex(
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val cases = cuts.init.map { case (n, c) =>
      s"WHEN substr(md5(CAST(canonical_id AS VARCHAR)), 1, 4) < '$c' THEN '$n'"
    }.mkString(" ")
    s"""$clusterCtePrefix,
       |asg AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS canonical_id
       |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
       |SELECT doc_id, canonical_id,
       |  CASE $cases ELSE '${cuts.last._1}' END AS split
       |FROM asg ORDER BY doc_id""".stripMargin
  }

  val dedupClusterSampleOracle: String =
    s"""$clusterCtePrefix,
       |asg AS (SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS canonical_id
       |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
       |sz AS (SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size,
       |         CAST(ceil(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS quota
       |       FROM asg GROUP BY 1),
       |rk AS (SELECT doc_id, canonical_id,
       |         CAST(row_number() OVER (PARTITION BY canonical_id
       |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
       |           AS rank_in_cluster
       |       FROM asg)
       |SELECT rk.doc_id, rk.canonical_id, sz.cluster_size, sz.quota,
       |       rk.rank_in_cluster
       |FROM rk JOIN sz USING (canonical_id)
       |WHERE rank_in_cluster <= quota
       |ORDER BY doc_id""".stripMargin

  /** dedup_cluster with the "keep the BEST copy" retention policy:
    * canonical = the component member with the highest quality score
    * (ties → lowest id) instead of the lowest id.
    */
  def dedupClusterQuality(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val pairs = Dedup.minhashLsh(spread(docs), "doc_id", "text",
      n = 3, bands = 4, rows = 3, threshold = 0.8)
    val comp = graft.clustering.Clusterers.connectedComponents(
      pairs.select("id1", "id2"))
    val quality = graft.text.TextOps.quality(docs, "doc_id", "text")
      .select(col("doc_id"), col("quality_bp"))
    val flagged = Dedup.canonicalByScore(comp, quality, "doc_id", "quality_bp")
      .select(col("doc_id").as("_id"), col("canonical_id"))
    docs.select("doc_id")
      .join(flagged, docs("doc_id") === flagged("_id"), "left")
      .select(col("doc_id"),
        coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"))
      .withColumn("keep", (col("canonical_id") === col("doc_id")).cast("boolean"))
      .orderBy("doc_id")
  }

  val dedupClusterQualityOracle: String = {
    val en = graft.text.TextOps.LangProfiles.toMap.apply("en")
      .map(w => s"'$w'").mkString(", ")
    val hashes = (0 until 12)
      .map(i => s"  min(substr(md5('$i#' || shg), 1, 8)) AS h$i")
      .mkString(",\n")
    val bandCols = (0 until 4)
      .map(b => s"  h${b * 3} || ':' || h${b * 3 + 1} || ':' || h${b * 3 + 2} AS b$b")
      .mkString(",\n")
    val bandJoins = (0 until 4)
      .map(b => s"  SELECT a.doc_id AS id1, b.doc_id AS id2 FROM banded a " +
        s"JOIN banded b ON a.b$b = b.b$b AND a.doc_id < b.doc_id")
      .mkString("\n  UNION\n")
    s"""WITH RECURSIVE $shinglePrelude,
       |sigs AS (SELECT doc_id,
       |$hashes
       |FROM inv GROUP BY doc_id),
       |banded AS (SELECT doc_id,
       |$bandCols
       |FROM sigs),
       |cand AS (
       |$bandJoins),
       |pairs AS (SELECT id1, id2 FROM (
       |  SELECT id1, id2,
       |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |          / len(list_distinct(a.s || b.s)), 5) AS jaccard
       |  FROM cand JOIN sh a ON a.doc_id = id1 JOIN sh b ON b.doc_id = id2)
       |  WHERE jaccard >= 0.8),
       |sym AS (SELECT id1 AS u, id2 AS v FROM pairs
       |        UNION SELECT id2, id1 FROM pairs),
       |nodes AS (SELECT DISTINCT u AS id FROM sym),
       |reach(node, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node),
       |comp AS (SELECT node AS id, min(r) AS cluster FROM reach GROUP BY node),
       |qt AS (SELECT doc_id, lower(text) AS t, string_split(lower(text), ' ') AS toks
       |       FROM documents),
       |qb AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS nw,
       |  CAST(length(t) AS BIGINT) AS nc,
       |  CAST(length(regexp_replace(t, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS np,
       |  CAST(len(list_filter(toks, x -> list_contains([$en], x))) AS BIGINT) AS nstop
       |FROM qt),
       |q AS (SELECT doc_id,
       |  least(nw, 50) * 8 + (nc - np) * 300 // nc + nstop * 300 // nw AS quality_bp
       |FROM qb),
       |rk AS (SELECT comp.cluster, comp.id,
       |         row_number() OVER (PARTITION BY comp.cluster
       |           ORDER BY q.quality_bp DESC, comp.id) AS rn
       |       FROM comp JOIN q ON q.doc_id = comp.id),
       |can AS (SELECT cluster, id AS canonical_id FROM rk WHERE rn = 1),
       |mem AS (SELECT comp.id, can.canonical_id FROM comp JOIN can USING (cluster))
       |SELECT d.doc_id,
       |  coalesce(m.canonical_id, d.doc_id) AS canonical_id,
       |  coalesce(m.canonical_id, d.doc_id) = d.doc_id AS keep
       |FROM documents d LEFT JOIN mem m ON m.id = d.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** INCREMENTAL (snapshot) dedup — the CommonCrawl-dump-N+1 shape:
    * an arriving batch is near-dup-checked (MinHash-LSH + verified
    * Jaccard) against the EXISTING corpus, then within itself. Status
    * per batch doc, by precedence:
    *   'dup_corpus' — has a verified near-dup in the corpus
    *     ([[Dedup.minhashLshAgainst]]: batch × corpus band joins, no
    *     self-join, corpus never re-deduped);
    *   'dup_batch'  — has a verified near-dup with a SMALLER batch id
    *     (the greedy first-wins pairwise rule production systems use —
    *     deterministic, no transitive closure needed);
    *   'kept'       — novel.
    * The demo batch plants all three outcomes per seed doc: a
    * prefixed near-copy of a corpus doc, a novel doc (md5-token
    * text), and a prefixed near-copy of that novel doc. At scale the
    * corpus side ships as its persisted banded-signature frame — the
    * incremental index — so each new dump pays only its own shingling
    * plus band equi-joins.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    val seeds = docs.filter(col("doc_id") % 100 === 0)
    val gen = expr("array_join(transform(sequence(1, 40), i -> " +
      "substring(md5(concat(cast(doc_id as string), ':', cast(i as string))), 1, 6)), ' ')")
    val bA = seeds.select((col("doc_id") + 2000000L).as("doc_id"),
      concat(lit("inc0 inc1 "), col("text")).as("text"))
    val bB = seeds.select((col("doc_id") + 3000000L).as("doc_id"), gen.as("text"))
    val bC = seeds.select((col("doc_id") + 4000000L).as("doc_id"),
      concat(lit("inc0 inc1 "), gen).as("text"))
    val batch = bA.unionByName(bB).unionByName(bC)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val corpusHits = Dedup.minhashLshAgainst(batch, spread(docs), "doc_id", "text",
          n = 3, bands = 4, rows = 3, threshold = 0.8)
        .select(col("id1").as("doc_id")).distinct()
        .withColumn("_dc", lit(1))
      val laterDups = Dedup.minhashLsh(batch, "doc_id", "text",
          n = 3, bands = 4, rows = 3, threshold = 0.8)
        .select(col("id2").as("doc_id")).distinct()
        .withColumn("_db", lit(1))
      batch.join(corpusHits, Seq("doc_id"), "left")
        .join(laterDups, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("_dc") === 1, "dup_corpus")
            .when(col("_db") === 1, "dup_batch")
            .otherwise("kept").as("status"))
        .orderBy("doc_id")
    } finally batch.unpersist(false)
  }

  val dedupIncrementalOracle: String = {
    val hashes = (0 until 12)
      .map(i => s"  min(substr(md5('$i#' || shg), 1, 8)) AS h$i")
      .mkString(",\n")
    val bandCols = (0 until 4)
      .map(b => s"  h${b * 3} || ':' || h${b * 3 + 1} || ':' || h${b * 3 + 2} AS b$b")
      .mkString(",\n")
    def bandJoin(l: String, r: String, filter: String) = (0 until 4)
      .map(b => s"  SELECT a.doc_id AS id1, p.doc_id AS id2 FROM $l a " +
        s"JOIN $r p ON a.b$b = p.b$b$filter")
      .mkString("\n  UNION\n")
    def shingles(src: String) =
      s"""(SELECT doc_id,
         |   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |                  for i in range(1, len(w) - 1)]) AS s
         | FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $src))""".stripMargin
    s"""WITH seeds AS (SELECT doc_id, text FROM documents WHERE doc_id % 100 = 0),
       |gen AS (SELECT doc_id, array_to_string(list_transform(range(1, 41),
       |          i -> substr(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 6)),
       |          ' ') AS g
       |        FROM seeds),
       |batch AS (
       |  SELECT doc_id + 2000000 AS doc_id, 'inc0 inc1 ' || text AS text FROM seeds
       |  UNION ALL SELECT doc_id + 3000000, g FROM gen
       |  UNION ALL SELECT doc_id + 4000000, 'inc0 inc1 ' || g FROM gen),
       |shB AS ${shingles("batch")},
       |shC AS ${shingles("documents")},
       |sigsB AS (SELECT doc_id,
       |$hashes
       |FROM (SELECT doc_id, unnest(s) AS shg FROM shB) GROUP BY doc_id),
       |sigsC AS (SELECT doc_id,
       |$hashes
       |FROM (SELECT doc_id, unnest(s) AS shg FROM shC) GROUP BY doc_id),
       |bandedB AS (SELECT doc_id,
       |$bandCols
       |FROM sigsB),
       |bandedC AS (SELECT doc_id,
       |$bandCols
       |FROM sigsC),
       |candX AS (
       |${bandJoin("bandedB", "bandedC", "")}),
       |hitsX AS (SELECT DISTINCT id1 AS doc_id FROM candX
       |          JOIN shB a ON a.doc_id = id1 JOIN shC b ON b.doc_id = id2
       |          WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |                / len(list_distinct(a.s || b.s)), 5) >= 0.8),
       |candS AS (
       |${bandJoin("bandedB", "bandedB", " AND a.doc_id < p.doc_id")}),
       |later AS (SELECT DISTINCT id2 AS doc_id FROM candS
       |          JOIN shB a ON a.doc_id = id1 JOIN shB b ON b.doc_id = id2
       |          WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |                / len(list_distinct(a.s || b.s)), 5) >= 0.8)
       |SELECT ba.doc_id,
       |  CASE WHEN hx.doc_id IS NOT NULL THEN 'dup_corpus'
       |       WHEN la.doc_id IS NOT NULL THEN 'dup_batch'
       |       ELSE 'kept' END AS status
       |FROM batch ba
       |LEFT JOIN hitsX hx ON hx.doc_id = ba.doc_id
       |LEFT JOIN later la ON la.doc_id = ba.doc_id
       |ORDER BY ba.doc_id""".stripMargin
  }

  /** Cross-source duplication matrix — the corpus-health view a data
    * lead actually reads: verified near-dup pairs rolled up to
    * (source, source) counts, pair key normalized by least/greatest so
    * (A,B) and (B,A) land on one cell. The diagonal is within-source
    * duplication (scraper re-crawls), off-diagonal is cross-source
    * syndication — the signal for which sources to drop or down-weight
    * before near-dup clustering runs corpus-wide. Cost beyond the
    * already-oracled pair pipeline: two dim joins and a cells-bounded
    * aggregation.
    */
  def dedupCrossSource(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val pairs = Dedup.minhashLsh(spread(docs), "doc_id", "text",
      n = 3, bands = 4, rows = 3, threshold = 0.8)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id1"), col("source").as("_s1")), "id1")
      .join(src.select(col("doc_id").as("id2"), col("source").as("_s2")), "id2")
      .select(least(col("_s1"), col("_s2")).as("source_a"),
        greatest(col("_s1"), col("_s2")).as("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  val dedupCrossSourceOracle: String = {
    val hashes = (0 until 12)
      .map(i => s"  min(substr(md5('$i#' || shg), 1, 8)) AS h$i")
      .mkString(",\n")
    val bandCols = (0 until 4)
      .map(b => s"  h${b * 3} || ':' || h${b * 3 + 1} || ':' || h${b * 3 + 2} AS b$b")
      .mkString(",\n")
    val bandJoins = (0 until 4)
      .map(b => s"  SELECT a.doc_id AS id1, b.doc_id AS id2 FROM banded a " +
        s"JOIN banded b ON a.b$b = b.b$b AND a.doc_id < b.doc_id")
      .mkString("\n  UNION\n")
    s"""WITH $shinglePrelude,
       |sigs AS (SELECT doc_id,
       |$hashes
       |FROM inv GROUP BY doc_id),
       |banded AS (SELECT doc_id,
       |$bandCols
       |FROM sigs),
       |cand AS (
       |$bandJoins),
       |pairs AS (
       |  SELECT id1, id2 FROM (
       |    SELECT id1, id2,
       |      round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |            / len(list_distinct(a.s || b.s)), 5) AS jaccard
       |    FROM cand JOIN sh a ON a.doc_id = id1 JOIN sh b ON b.doc_id = id2)
       |  WHERE jaccard >= 0.8)
       |SELECT least(d1.source, d2.source) AS source_a,
       |       greatest(d1.source, d2.source) AS source_b,
       |       CAST(count(*) AS BIGINT) AS n_pairs
       |FROM pairs
       |JOIN documents d1 ON d1.doc_id = id1
       |JOIN documents d2 ON d2.doc_id = id2
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin
  }

  /** One-sided containment dedup (Dedup.containment): directed
    * (contained, container) pairs at C ≥ 0.9 over the documents corpus.
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containment(graft.Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.9)
      .orderBy("contained_id", "container_id")

  val dedupContainmentOracle: String =
    s"""WITH $shinglePrelude,
       |ss AS (SELECT doc_id, list_sort(s) AS s FROM sh WHERE len(s) > 0),
       |ex AS (SELECT doc_id, unnest(s) AS shg FROM ss),
       |dfc AS (SELECT shg, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY 1),
       |rkd AS (
       |  SELECT e.doc_id, e.shg,
       |    row_number() OVER (PARTITION BY e.doc_id ORDER BY d.df, e.shg) AS r,
       |    CAST(len(s.s) - ceil(0.9 * len(s.s)) + 1 AS INT) AS pl
       |  FROM ex e JOIN dfc d USING (shg) JOIN ss s ON s.doc_id = e.doc_id),
       |ia AS (SELECT doc_id AS ida, shg FROM rkd WHERE r <= pl),
       |ib AS (SELECT doc_id AS idb, shg FROM ex),
       |cand AS (SELECT DISTINCT ida, idb FROM ia JOIN ib USING (shg)
       |         WHERE ida <> idb),
       |ver AS (
       |  SELECT ida AS contained_id, idb AS container_id,
       |    round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), 5)
       |      AS containment
       |  FROM cand JOIN ss a ON a.doc_id = ida JOIN ss b ON b.doc_id = idb)
       |SELECT * FROM ver WHERE containment >= 0.9
       |ORDER BY contained_id, container_id""".stripMargin

  def queries: Seq[QueryDef] = Seq(
    QueryDef("dedup_containment", dedupContainment, Some(dedupContainmentOracle)),
    QueryDef("dedup_cross_source", dedupCrossSource, Some(dedupCrossSourceOracle)),
    QueryDef("dedup_incremental", dedupIncremental, Some(dedupIncrementalOracle)),
    QueryDef("dedup_cluster_quality", dedupClusterQuality, Some(dedupClusterQualityOracle)),
    QueryDef("dedup_exact", dedupExact, Some(dedupExactOracle)),
    QueryDef("dedup_ngram_jaccard", dedupNgramJaccard, Some(dedupNgramOracle)),
    // candidates plus the exact ground truth
    QueryDef("dedup_eval", dedupEval, Some(dedupEvalOracle), pipelines = 2),
    QueryDef("dedup_minhash_lsh", dedupMinhashLsh, Some(dedupMinhashOracle)),
    QueryDef("dedup_simhash", dedupSimhash, Some(dedupSimhashOracle)),
    QueryDef("dedup_cluster", dedupCluster, Some(dedupClusterOracle)),
    QueryDef("dedup_cluster_sample", dedupClusterSample, Some(dedupClusterSampleOracle)),
    QueryDef("dedup_split_leakfree", dedupSplitLeakfree, Some(dedupSplitLeakfreeOracle))
  )
}
