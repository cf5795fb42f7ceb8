package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Tables._

/** ANN / embedding-dedup queries + DuckDB oracles (SURVEY §2.12 #57–59).
  * The corpus is `embeddings` (unit vectors, dim 64) plus, for the
  * near-dup query, a deterministic perturbed copy of every vector
  * (id + 100000, first component +0.2 → cosine ≈ 0.98 to its original) —
  * planted near-duplicates both engines can construct identically.
  */
object AnnQueries {
  val Dim = 64
  val POffset = 100000L

  private def orig(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))

  private def perturbed(s: SparkSession, dir: String): DataFrame =
    orig(s, dir).select(
      (col("vec_id") + POffset).as("vec_id"),
      concat(array(element_at(col("v"), 1) + 0.2), slice(col("v"), 2, Dim - 1)).as("v"))

  // ---- SQL generators mirroring Ann's explicit-sum expressions ----

  private def dotSql(a: String, b: String): String =
    (1 to Dim).map(i => s"$a[$i]*$b[$i]").mkString(" + ")

  private def normSql(v: String): String = s"sqrt(${dotSql(v, v)})"

  private def bucketSql(v: String): String = bucketSqlRange(v, 0, 8)

  /** Bucket over plane family [off, off+p) — multi-table LSH table keys. */
  private def bucketSqlRange(v: String, off: Int, p: Int): String =
    (off until off + p).map { j =>
      val terms = (1 to Dim).map(d => s"$v[$d]*${Ann.planeSign(j, d)}").mkString(" + ")
      s"CASE WHEN $terms > 0 THEN '1' ELSE '0' END"
    }.mkString(" || ")

  /** orig + perturbed corpus CTEs (DuckDB). */
  private val corpusSql: String =
    s"""o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT vec_id + $POffset AS vec_id, [v[1] + 0.2] || v[2:] AS v FROM o),
       |corpus AS (SELECT * FROM o UNION ALL SELECT * FROM p)""".stripMargin

  // ---- #57 embedding near-dup ----

  def dedupEmbedding(s: SparkSession, dir: String): DataFrame =
    Ann.embeddingNearDup(orig(s, dir).unionByName(perturbed(s, dir)),
        "vec_id", "v", Dim, 0.97)
      .orderBy("id1", "id2")

  val dedupEmbeddingOracle: String =
    s"""WITH $corpusSql,
       |c AS (SELECT vec_id, v, ${normSql("v")} AS n, ${bucketSql("v")} AS bk FROM corpus),
       |pairs AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2,
       |         round((${dotSql("a.v", "b.v")}) / (a.n * b.n), 5) AS cosine
       |  FROM c a JOIN c b ON a.bk = b.bk AND a.vec_id < b.vec_id)
       |SELECT DISTINCT id1, id2, cosine FROM pairs
       |WHERE cosine >= 0.97
       |ORDER BY id1, id2""".stripMargin

  // ---- semantic contamination (cross-corpus embedding filter) ----

  /** Train corpus = the original embeddings; eval set = the perturbed
    * copy of every 20th vector (cosine ≈ 0.98 to its source) — so the
    * planted contaminations, and only vectors bucket-colliding with
    * them, are flagged (Ann.embeddingContamination).
    */
  def textContaminationSemantic(s: SparkSession, dir: String): DataFrame =
    Ann.embeddingContamination(orig(s, dir),
        perturbed(s, dir).filter((col("vec_id") - POffset) % 20 === 0),
        "vec_id", "v", Dim, 0.97)
      .orderBy("train_id")

  val textContaminationSemanticOracle: String =
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |p AS (SELECT vec_id + $POffset AS vec_id, [v[1] + 0.2] || v[2:] AS v FROM o),
       |ev AS (SELECT vec_id, v FROM p WHERE (vec_id - $POffset) % 20 = 0),
       |a AS (SELECT vec_id, v, ${normSql("v")} AS n, ${bucketSql("v")} AS bk FROM o),
       |b AS (SELECT vec_id, v, ${normSql("v")} AS n, ${bucketSql("v")} AS bk FROM ev),
       |hits AS (
       |  SELECT train_id, eval_id, cosine FROM (
       |    SELECT a.vec_id AS train_id, b.vec_id AS eval_id,
       |           round((${dotSql("a.v", "b.v")}) / (a.n * b.n), 5) AS cosine
       |    FROM a JOIN b ON a.bk = b.bk)
       |  WHERE cosine >= 0.97),
       |ranked AS (SELECT train_id, eval_id, cosine,
       |             row_number() OVER (PARTITION BY train_id
       |               ORDER BY cosine DESC, eval_id) AS rn,
       |             count(*) OVER (PARTITION BY train_id) AS n_hits
       |           FROM hits)
       |SELECT train_id, CAST(n_hits AS BIGINT) AS n_hits, eval_id, cosine
       |FROM ranked WHERE rn = 1 ORDER BY train_id""".stripMargin

  // ---- #58 brute-force top-k ----

  def annBruteforce(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    Ann.bruteForceTopK(c.filter(col("vec_id") < 10), c, "vec_id", "v", Dim, k = 5)
      .orderBy("qid", "rank")
  }

  val annBruteforceOracle: String =
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id, v, ${normSql("v")} AS n FROM o),
       |q AS (SELECT vec_id AS qid, v AS qv, n AS qn FROM c WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.qid, c.vec_id,
       |         round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 7) AS cos7,
       |         round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 5) AS cosine
       |  FROM q JOIN c ON c.vec_id <> q.qid),
       |ranked AS (SELECT qid, vec_id, cosine,
       |           row_number() OVER (PARTITION BY qid ORDER BY cos7 DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT qid, vec_id, cosine, CAST(rank AS INT) AS rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  // ---- #59 LSH top-k ----

  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    Ann.lshTopK(c.filter(col("vec_id") < 10), c, "vec_id", "v", Dim, k = 5)
      .orderBy("qid", "rank")
  }

  val annLshOracle: String =
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id, v, ${normSql("v")} AS n, ${bucketSql("v")} AS bk FROM o),
       |q AS (SELECT vec_id AS qid, v AS qv, n AS qn, bk FROM c WHERE vec_id < 10),
       |scored AS (
       |  SELECT q.qid, c.vec_id,
       |         round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 7) AS cos7,
       |         round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 5) AS cosine
       |  FROM q JOIN c ON c.bk = q.bk AND c.vec_id <> q.qid),
       |ranked AS (SELECT qid, vec_id, cosine,
       |           row_number() OVER (PARTITION BY qid ORDER BY cos7 DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT qid, vec_id, cosine, CAST(rank AS INT) AS rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  // ---- SURVEY §2.7 #31: EmbeddingBlocker ----

  /** EmbeddingBlocker (blocking/embedding.py:21, FAISS top-k): candidate
    * pairs = LSH-bucket join between left (originals) and right
    * (perturbed copies), top-3 right per left by cosine within bucket —
    * the distributed stand-in for a shared ANN index.
    */
  def blockEmbedding(s: SparkSession, dir: String): DataFrame =
    Ann.lshTopK(orig(s, dir), perturbed(s, dir), "vec_id", "v", Dim, k = 3)
      .select(col("qid").as("id1"), col("vec_id").as("id2"), col("rank"))
      .orderBy("id1", "rank")

  val blockEmbeddingOracle: String =
    s"""WITH $corpusSql,
       |cl AS (SELECT vec_id, v, ${normSql("v")} AS n, ${bucketSql("v")} AS bk FROM o),
       |cr AS (SELECT vec_id, v, ${normSql("v")} AS n, ${bucketSql("v")} AS bk FROM p),
       |scored AS (
       |  SELECT cl.vec_id AS id1, cr.vec_id AS id2,
       |         round((${dotSql("cl.v", "cr.v")}) / (cl.n * cr.n), 7) AS cos7
       |  FROM cl JOIN cr ON cl.bk = cr.bk AND cl.vec_id <> cr.vec_id),
       |ranked AS (SELECT id1, id2,
       |           row_number() OVER (PARTITION BY id1 ORDER BY cos7 DESC, id2) AS rank
       |           FROM scored)
       |SELECT id1, id2, CAST(rank AS INT) AS rank FROM ranked
       |WHERE rank <= 3
       |ORDER BY id1, rank""".stripMargin

  // ---- VectorFeatureExtractor distance features ----

  /** Distance features over adjacent embedding pairs (feature_
    * extraction.py:230 — the encode step is n/a, the pair-feature side
    * is implemented; see Ann.vectorFeatures).
    */
  def matchVectorFeatures(s: SparkSession, dir: String): DataFrame = {
    val e = orig(s, dir)
    val pairs = e.select(col("vec_id").as("id1"))
      .join(e.select(col("vec_id").as("id2")), col("id2") === col("id1") + 1)
    Ann.vectorFeatures(pairs, e, "vec_id", "v", Dim).orderBy("id1")
  }

  private def euclidSql(a: String, b: String): String =
    "sqrt(" + (1 to Dim).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])").mkString(" + ") + ")"

  private def manhattanSql(a: String, b: String): String =
    (1 to Dim).map(i => s"abs($a[$i]-$b[$i])").mkString(" + ")

  val matchVectorFeaturesOracle: String =
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id, v, ${normSql("v")} AS n FROM o),
       |pr AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
       |              a.v AS va, a.n AS na, b.v AS vb, b.n AS nb
       |       FROM c a JOIN c b ON b.vec_id = a.vec_id + 1)
       |SELECT id1, id2,
       |  round((${dotSql("va", "vb")}) / (na * nb), 5) AS cosine_sim,
       |  round(${euclidSql("va", "vb")}, 5) AS euclidean_dist,
       |  round(${manhattanSql("va", "vb")}, 5) AS manhattan_dist
       |FROM pr ORDER BY id1""".stripMargin

  // ---- IVF top-k (the FAISS-style scale path) ----

  /** IVF ANN over the same corpus/query split as ann_lsh. Rows-only in
    * the driver gate (no SQL oracle: the coarse quantizer is a seeded
    * spark.ml k-means fit, which no SQL engine replays); quality and
    * recall-vs-brute-force are pinned by AnnSpec. The plan is the
    * 100 TB shape: broadcast centroid table, nprobe cell equi-join,
    * per-query window only over probed cells.
    */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    Ann.ivfTopK(c.filter(col("vec_id") < 10), c, "vec_id", "v", Dim,
        k = 5, nlist = 16, nprobe = 3)
      .orderBy("qid", "rank")
  }

  /** IVF SEARCH stage, oracled end-to-end (VERDICT r5 ask #1): the
    * centroid table is fixed to the 16 lowest-id corpus vectors —
    * deterministic and SQL-constructible — so nearest-centroid
    * assignment, nprobe probing, and in-cell top-k all replay exactly
    * in DuckDB. The k-means FIT stays rows-only in `ann_ivf`; this
    * query proves the search plan (the part that runs per query at
    * scale) hash-exactly.
    */
  def annIvfSearch(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    // 16-row frame: the global window is bounded by nlist, not data
    val cents = c.orderBy("vec_id").limit(16)
      .select((row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1).as("_cell"),
        col("v").as("_cv"))
    Ann.ivfSearch(c.filter(col("vec_id") < 10), c, cents, "vec_id", "v", Dim,
        k = 5, nprobe = 3)
      .orderBy("qid", "rank")
  }

  /** INCREMENTAL IVF index maintenance — the lifecycle face of the IVF
    * family: the stored index is the assignment frame; when an arrival
    * batch lands, ONLY the arrivals are assigned (pointwise, broadcast
    * centroids) and unioned in — no refit, no corpus re-shuffle. The
    * hash-gate IS the maintenance law: Spark searches the
    * incrementally-built index (base ∪ arrivals assigned separately),
    * the oracle replays a FULL REBUILD over the whole corpus — they
    * must agree bit for bit because assignment is pointwise
    * ([[Ann.ivfAssign]]). FAISS `add()` relies on the same property.
    */
  def annIvfIncremental(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    val cents = c.orderBy("vec_id").limit(16)
      .select((row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1).as("_cell"),
        col("v").as("_cv"))
    val base = c.filter(col("vec_id") % 10 =!= 7)
    val arrivals = c.filter(col("vec_id") % 10 === 7)
    val index = Ann.ivfAssign(base, cents, "vec_id", "v", Dim)
      .unionByName(Ann.ivfAssign(arrivals, cents, "vec_id", "v", Dim))
    Ann.ivfSearchAssigned(c.filter(col("vec_id") < 10), index, cents,
        "vec_id", "v", Dim, k = 5, nprobe = 3)
      .orderBy("qid", "rank")
  }

  /** FILTERED ANN search — the metadata-predicate face every vector
    * store ships (license-clean subset, language, date range): top-k
    * among vectors satisfying a predicate (vec_id % 3 = 0 here). Two
    * strategies rank-aligned in one frame, because the contrast is the
    * lesson: PRE-FILTER (apply the predicate, then search — exact
    * filtered truth, cost proportional to the subset) vs POST-FILTER
    * (search the full corpus at the same k, then drop non-matching
    * hits — the naive composition, which silently returns FEWER than k
    * and misses filtered-true neighbors crowded out by non-matching
    * ones). Per-query recall@5 of post vs pre rides along in exact
    * milli — the number that says how much k-oversampling a
    * post-filter deployment needs.
    */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    val q = c.filter(col("vec_id") < 10)
    val subset = c.filter(col("vec_id") % 3 === 0)
    val pre = Ann.bruteForceTopK(q, subset, "vec_id", "v", Dim, k = 5)
      .select(col("qid"), col("rank"), col("vec_id").as("pre_id"),
        col("cosine").as("pre_cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy("rank")
    val post = Ann.bruteForceTopK(q, c, "vec_id", "v", Dim, k = 5)
      .filter(col("vec_id") % 3 === 0)
      .withColumn("post_rank", row_number().over(w))
      .select(col("qid"), col("post_rank").as("rank"),
        col("vec_id").as("post_id"))
    val hits = pre.select(col("qid"), col("pre_id").as("_id"))
      .join(post.select(col("qid"), col("post_id").as("_id")), Seq("qid", "_id"))
      .groupBy("qid").agg(count(lit(1)).as("_h"))
    pre.join(post, Seq("qid", "rank"), "left")
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("rank"), col("pre_id"), col("pre_cosine"),
        col("post_id"),
        (coalesce(col("_h"), lit(0L)) * 200L).as("post_recall5_milli"))
      .orderBy("qid", "rank")
  }

  val annFilteredOracle: String =
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id, v, ${normSql("v")} AS n FROM o),
       |q AS (SELECT vec_id AS qid, v AS qv, n AS qn FROM c WHERE vec_id < 10),
       |preR AS (SELECT qid, vec_id, cosine, rank FROM (
       |  SELECT q.qid, c.vec_id,
       |         round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 5) AS cosine,
       |         row_number() OVER (PARTITION BY q.qid
       |           ORDER BY round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 7) DESC,
       |                    c.vec_id) AS rank
       |  FROM q JOIN c ON c.vec_id % 3 = 0 AND c.vec_id <> q.qid)
       |  WHERE rank <= 5),
       |fullR AS (SELECT qid, vec_id, rank FROM (
       |  SELECT q.qid, c.vec_id,
       |         row_number() OVER (PARTITION BY q.qid
       |           ORDER BY round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 7) DESC,
       |                    c.vec_id) AS rank
       |  FROM q JOIN c ON c.vec_id <> q.qid)
       |  WHERE rank <= 5),
       |postR AS (SELECT qid, vec_id,
       |            row_number() OVER (PARTITION BY qid ORDER BY rank) AS rank
       |          FROM fullR WHERE vec_id % 3 = 0),
       |hits AS (SELECT preR.qid, CAST(count(*) AS BIGINT) AS h
       |         FROM preR JOIN postR
       |           ON postR.qid = preR.qid AND postR.vec_id = preR.vec_id
       |         GROUP BY preR.qid)
       |SELECT preR.qid, CAST(preR.rank AS INT) AS rank,
       |       preR.vec_id AS pre_id, preR.cosine AS pre_cosine,
       |       postR.vec_id AS post_id,
       |       coalesce(h, 0) * 200 AS post_recall5_milli
       |FROM preR
       |LEFT JOIN postR ON postR.qid = preR.qid AND postR.rank = preR.rank
       |LEFT JOIN hits ON hits.qid = preR.qid
       |ORDER BY preR.qid, preR.rank""".stripMargin

  /** The OPERATOR answer to `ann_filtered`'s measurement: post-filter
    * search with a selectivity-derived oversampled cut. `ann_filtered`
    * showed the naive composition (search at k, then filter) loses
    * 600-1000 milli of recall; a deployment fixes that by searching
    * deeper — search_k = ceil(k / selectivity) with selectivity
    * MEASURED from the corpus (exact integer arithmetic: ceil(k·n/ns)),
    * then post-filtering and keeping the first k. One uncut ranking
    * ([[Ann.bruteForceRanked]], persisted) feeds the naive cut AND the
    * oversampled cut, so the contrast is measured on one scan. The
    * subset law guarantees over_recall ≥ post_recall per query (the
    * filtered survivors of top-5 are a prefix of the filtered
    * survivors of top-search_k). At 100 TB the same cut composes with
    * the IVF/PQ tiers — search_k only changes the k handed to the
    * index, not the plan shape.
    */
  def annFilteredOversample(s: SparkSession, dir: String): DataFrame = {
    import graft.profiling.Sketches.idiv
    import org.apache.spark.sql.expressions.Window
    val c = orig(s, dir)
    val q = c.filter(col("vec_id") < 10)
    val subset = c.filter(col("vec_id") % 3 === 0)
    val pre = Ann.bruteForceTopK(q, subset, "vec_id", "v", Dim, k = 5)
      .select(col("qid"), col("rank"), col("vec_id").as("pre_id"))
    val ranked = Ann.bruteForceRanked(q, c, "vec_id", "v", Dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sk = c.agg(count(lit(1)).as("_n"),
          sum(when(col("vec_id") % 3 === 0, 1L).otherwise(0L)).as("_ns"))
        .select(idiv(lit(5L) * col("_n") + col("_ns") - 1L, col("_ns")).as("search_k"),
          idiv(col("_ns") * 1000L, col("_n")).as("selectivity_milli"))
      val w = Window.partitionBy("qid").orderBy("full_rank")
      val over = ranked.crossJoin(broadcast(sk)) // 1-row stats frame
        .filter(col("vec_id") % 3 === 0 && col("full_rank") <= col("search_k"))
        .select(col("qid"), col("vec_id"), col("full_rank"),
          col("search_k"), col("selectivity_milli"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
      val post = ranked.filter(col("vec_id") % 3 === 0 && col("full_rank") <= 5)
        .withColumn("rank", row_number().over(w))
        .select(col("qid"), col("rank"), col("vec_id").as("post_id"))
      def hits(side: DataFrame, idc: String, out: String) =
        pre.select(col("qid"), col("pre_id").as("_id"))
          .join(side.select(col("qid"), col(idc).as("_id")), Seq("qid", "_id"))
          .groupBy("qid").agg(count(lit(1)).as(out))
      val hOver = hits(over, "vec_id", "_ho")
      val hPost = hits(post, "post_id", "_hp")
      pre.join(over.select(col("qid"), col("rank"), col("vec_id").as("over_id"),
            col("search_k"), col("selectivity_milli")), Seq("qid", "rank"), "left")
        .join(hOver, Seq("qid"), "left").join(hPost, Seq("qid"), "left")
        .select(col("qid"), col("rank"), col("pre_id"), col("over_id"),
          col("search_k"), col("selectivity_milli"),
          (coalesce(col("_hp"), lit(0L)) * 200L).as("post_recall5_milli"),
          (coalesce(col("_ho"), lit(0L)) * 200L).as("over_recall5_milli"))
        .orderBy("qid", "rank")
        .localCheckpoint(true)
    } finally ranked.unpersist(false)
  }

  val annFilteredOversampleOracle: String =
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS MATERIALIZED (SELECT vec_id, v, ${normSql("v")} AS n FROM o),
       |q AS (SELECT vec_id AS qid, v AS qv, n AS qn FROM c WHERE vec_id < 10),
       |sk AS (SELECT (5 * n + ns - 1) // ns AS search_k,
       |              ns * 1000 // n AS selectivity_milli FROM (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ns
       |  FROM c)),
       |rk AS MATERIALIZED (SELECT qid, vec_id, fr FROM (
       |  SELECT q.qid, c.vec_id,
       |         row_number() OVER (PARTITION BY q.qid
       |           ORDER BY round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 7) DESC,
       |                    c.vec_id) AS fr
       |  FROM q JOIN c ON c.vec_id <> q.qid)),
       |preR AS (SELECT qid, vec_id, rank FROM (
       |  SELECT q.qid, c.vec_id,
       |         row_number() OVER (PARTITION BY q.qid
       |           ORDER BY round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 7) DESC,
       |                    c.vec_id) AS rank
       |  FROM q JOIN c ON c.vec_id % 3 = 0 AND c.vec_id <> q.qid)
       |  WHERE rank <= 5),
       |overR AS (SELECT qid, vec_id, search_k, selectivity_milli,
       |            row_number() OVER (PARTITION BY qid ORDER BY fr) AS rank
       |          FROM rk, sk WHERE vec_id % 3 = 0 AND fr <= search_k),
       |postR AS (SELECT qid, vec_id,
       |            row_number() OVER (PARTITION BY qid ORDER BY fr) AS rank
       |          FROM rk WHERE vec_id % 3 = 0 AND fr <= 5),
       |ho AS (SELECT preR.qid, CAST(count(*) AS BIGINT) AS h FROM preR
       |       JOIN overR ON overR.qid = preR.qid AND overR.vec_id = preR.vec_id
       |                  AND overR.rank <= 5
       |       GROUP BY preR.qid),
       |hp AS (SELECT preR.qid, CAST(count(*) AS BIGINT) AS h FROM preR
       |       JOIN postR ON postR.qid = preR.qid AND postR.vec_id = preR.vec_id
       |       GROUP BY preR.qid)
       |SELECT preR.qid, CAST(preR.rank AS INT) AS rank,
       |       preR.vec_id AS pre_id, overR.vec_id AS over_id,
       |       overR.search_k, overR.selectivity_milli,
       |       coalesce(hp.h, 0) * 200 AS post_recall5_milli,
       |       coalesce(ho.h, 0) * 200 AS over_recall5_milli
       |FROM preR
       |LEFT JOIN overR ON overR.qid = preR.qid AND overR.rank = preR.rank
       |LEFT JOIN ho ON ho.qid = preR.qid
       |LEFT JOIN hp ON hp.qid = preR.qid
       |ORDER BY preR.qid, preR.rank""".stripMargin

  /** `ann_filtered_oversample` COMPOSED WITH THE INDEX TIER — the
    * production-shaped filtered vector search (the claim that query's
    * doc makes, proven as code): the same selectivity-derived search_k
    * cuts ONE uncut IVF ranking ([[Ann.ivfRanked]] over the probed
    * cells), so oversampling changes only the k handed to the index,
    * never the plan shape. Pre-filter truth is the filtered index
    * itself — and because assignment is POINTWISE ([[Ann.ivfAssign]],
    * the `ann_ivf_incremental` law), the subset's index IS the full
    * assignment frame filtered, so pre/naive/oversampled all ride one
    * assignment + one scoring pass. Same guarantee as the brute-force
    * face: over-recall ≥ naive post-recall per query.
    */
  def annIvfFilteredOversample(s: SparkSession, dir: String): DataFrame = {
    import graft.profiling.Sketches.idiv
    import org.apache.spark.sql.expressions.Window
    val c = orig(s, dir)
    val q = c.filter(col("vec_id") < 10)
    val cents = c.orderBy("vec_id").limit(16)
      .select((row_number().over(Window.orderBy("vec_id")) - 1).as("_cell"),
        col("v").as("_cv"))
    val assigned = Ann.ivfAssign(c, cents, "vec_id", "v", Dim)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // pre-filter truth within the tier: the pointwise law makes the
      // subset's index = the full assignment filtered
      val pre = Ann.ivfSearchAssigned(q, assigned.filter(col("_id") % 3 === 0),
          cents, "vec_id", "v", Dim, k = 5, nprobe = 3)
        .select(col("qid"), col("rank"), col("vec_id").as("pre_id"))
      val ranked = Ann.ivfRanked(q, assigned, cents, "vec_id", "v", Dim, nprobe = 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val sk = c.agg(count(lit(1)).as("_n"),
            sum(when(col("vec_id") % 3 === 0, 1L).otherwise(0L)).as("_ns"))
          .select(idiv(lit(5L) * col("_n") + col("_ns") - 1L, col("_ns")).as("search_k"),
            idiv(col("_ns") * 1000L, col("_n")).as("selectivity_milli"))
        val w = Window.partitionBy("qid").orderBy("full_rank")
        val over = ranked.crossJoin(broadcast(sk))
          .filter(col("vec_id") % 3 === 0 && col("full_rank") <= col("search_k"))
          .select(col("qid"), col("vec_id"), col("full_rank"),
            col("search_k"), col("selectivity_milli"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
        val post = ranked.filter(col("vec_id") % 3 === 0 && col("full_rank") <= 5)
          .withColumn("rank", row_number().over(w))
          .select(col("qid"), col("rank"), col("vec_id").as("post_id"))
        def hits(side: DataFrame, idc: String, out: String) =
          pre.select(col("qid"), col("pre_id").as("_id"))
            .join(side.select(col("qid"), col(idc).as("_id")), Seq("qid", "_id"))
            .groupBy("qid").agg(count(lit(1)).as(out))
        val hOver = hits(over, "vec_id", "_ho")
        val hPost = hits(post, "post_id", "_hp")
        pre.join(over.select(col("qid"), col("rank"), col("vec_id").as("over_id"),
              col("search_k"), col("selectivity_milli")), Seq("qid", "rank"), "left")
          .join(hOver, Seq("qid"), "left").join(hPost, Seq("qid"), "left")
          .select(col("qid"), col("rank"), col("pre_id"), col("over_id"),
            col("search_k"), col("selectivity_milli"),
            (coalesce(col("_hp"), lit(0L)) * 200L).as("post_recall5_milli"),
            (coalesce(col("_ho"), lit(0L)) * 200L).as("over_recall5_milli"))
          .orderBy("qid", "rank")
          .localCheckpoint(true)
      } finally ranked.unpersist(false)
    } finally assigned.unpersist(false)
  }

  val annIvfFilteredOversampleOracle: String =
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS MATERIALIZED (SELECT vec_id, v, ${normSql("v")} AS n FROM o),
       |cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell, v AS cv
       |          FROM (SELECT * FROM o ORDER BY vec_id LIMIT 16)),
       |asg0 AS (SELECT c.vec_id, c.v, c.n, cents.cell,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY ${l2sqSql("c.v", "cents.cv")}, cents.cell) AS rn
       |         FROM c CROSS JOIN cents),
       |asg AS (SELECT vec_id, v, n, cell FROM asg0 WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, n AS qn FROM c WHERE vec_id < 10),
       |qc0 AS (SELECT q.qid, q.qv, q.qn, cents.cell,
       |        row_number() OVER (PARTITION BY q.qid
       |          ORDER BY (${dotSql("q.qv", "cents.cv")}) DESC, cents.cell) AS rn
       |        FROM q CROSS JOIN cents),
       |qc AS (SELECT qid, qv, qn, cell FROM qc0 WHERE rn <= 3),
       |sk AS (SELECT (5 * n + ns - 1) // ns AS search_k,
       |              ns * 1000 // n AS selectivity_milli FROM (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ns
       |  FROM c)),
       |scored AS MATERIALIZED (
       |  SELECT qc.qid, asg.vec_id,
       |         round((${dotSql("qc.qv", "asg.v")}) / (qc.qn * asg.n), 7) AS cos7
       |  FROM qc JOIN asg ON asg.cell = qc.cell AND asg.vec_id <> qc.qid),
       |rkF AS (SELECT qid, vec_id,
       |          row_number() OVER (PARTITION BY qid ORDER BY cos7 DESC, vec_id) AS fr
       |        FROM scored),
       |preR AS (SELECT qid, vec_id, rank FROM (
       |  SELECT qid, vec_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY cos7 DESC, vec_id) AS rank
       |  FROM scored WHERE vec_id % 3 = 0)
       |  WHERE rank <= 5),
       |overR AS (SELECT qid, vec_id, search_k, selectivity_milli,
       |            row_number() OVER (PARTITION BY qid ORDER BY fr) AS rank
       |          FROM rkF, sk WHERE vec_id % 3 = 0 AND fr <= search_k),
       |postR AS (SELECT qid, vec_id,
       |            row_number() OVER (PARTITION BY qid ORDER BY fr) AS rank
       |          FROM rkF WHERE vec_id % 3 = 0 AND fr <= 5),
       |ho AS (SELECT preR.qid, CAST(count(*) AS BIGINT) AS h FROM preR
       |       JOIN overR ON overR.qid = preR.qid AND overR.vec_id = preR.vec_id
       |                  AND overR.rank <= 5
       |       GROUP BY preR.qid),
       |hp AS (SELECT preR.qid, CAST(count(*) AS BIGINT) AS h FROM preR
       |       JOIN postR ON postR.qid = preR.qid AND postR.vec_id = preR.vec_id
       |       GROUP BY preR.qid)
       |SELECT preR.qid, CAST(preR.rank AS INT) AS rank,
       |       preR.vec_id AS pre_id, overR.vec_id AS over_id,
       |       overR.search_k, overR.selectivity_milli,
       |       coalesce(hp.h, 0) * 200 AS post_recall5_milli,
       |       coalesce(ho.h, 0) * 200 AS over_recall5_milli
       |FROM preR
       |LEFT JOIN overR ON overR.qid = preR.qid AND overR.rank = preR.rank
       |LEFT JOIN ho ON ho.qid = preR.qid
       |LEFT JOIN hp ON hp.qid = preR.qid
       |ORDER BY preR.qid, preR.rank""".stripMargin

  private def l2sqSql(a: String, b: String): String =
    (1 to Dim).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])").mkString(" + ")

  val annIvfSearchOracle: String =
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id, v, ${normSql("v")} AS n FROM o),
       |cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell, v AS cv
       |          FROM (SELECT * FROM o ORDER BY vec_id LIMIT 16)),
       |asg0 AS (SELECT c.vec_id, c.v, c.n, cents.cell,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY ${l2sqSql("c.v", "cents.cv")}, cents.cell) AS rn
       |         FROM c CROSS JOIN cents),
       |asg AS (SELECT vec_id, v, n, cell FROM asg0 WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, n AS qn FROM c WHERE vec_id < 10),
       |qc0 AS (SELECT q.qid, q.qv, q.qn, cents.cell,
       |        row_number() OVER (PARTITION BY q.qid
       |          ORDER BY (${dotSql("q.qv", "cents.cv")}) DESC, cents.cell) AS rn
       |        FROM q CROSS JOIN cents),
       |qc AS (SELECT qid, qv, qn, cell FROM qc0 WHERE rn <= 3),
       |scored AS (
       |  SELECT qc.qid, asg.vec_id,
       |         round((${dotSql("qc.qv", "asg.v")}) / (qc.qn * asg.n), 7) AS cos7,
       |         round((${dotSql("qc.qv", "asg.v")}) / (qc.qn * asg.n), 5) AS cosine
       |  FROM qc JOIN asg ON asg.cell = qc.cell AND asg.vec_id <> qc.qid),
       |ranked AS (SELECT qid, vec_id, cosine,
       |           row_number() OVER (PARTITION BY qid ORDER BY cos7 DESC, vec_id) AS rank
       |           FROM scored)
       |SELECT qid, vec_id, cosine, CAST(rank AS INT) AS rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin

  /** SemDeDup-style semantic dedup (r6): LSH pair graph → CC →
    * centroid-nearest canonical per semantic cluster (see
    * [[Ann.semanticDedup]]). Same planted near-dup corpus as
    * `dedup_embedding`; the oracle replays the full pipeline —
    * recursive-CTE components, exact 1e7-scaled integer centroid sums,
    * left-assoc cosine — so canonical choice is hash-exact.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    Ann.semanticDedup(orig(s, dir).unionByName(perturbed(s, dir)),
        "vec_id", "v", Dim, 0.97)
      .orderBy("vec_id")

  val dedupSemanticOracle: String = {
    val sums = (1 to Dim).map(k =>
      s"CAST(sum(CAST(round(v[$k]*10000000) AS BIGINT)) AS BIGINT) AS s_$k").mkString(", ")
    val cvArr = (1 to Dim).map(k =>
      s"CAST(s_$k AS DOUBLE)/10000000/n").mkString("[", ", ", "]")
    s"""WITH RECURSIVE $corpusSql,
       |cb AS (SELECT vec_id, v, ${normSql("v")} AS n, ${bucketSql("v")} AS bk FROM corpus),
       |prs AS (SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
       |        FROM cb a JOIN cb b ON a.bk = b.bk AND a.vec_id < b.vec_id
       |        WHERE round((${dotSql("a.v", "b.v")}) / (a.n * b.n), 5) >= 0.97),
       |sym AS (SELECT id1 AS u, id2 AS w FROM prs UNION SELECT id2, id1 FROM prs),
       |nodes AS (SELECT DISTINCT u AS id FROM sym),
       |reach(node, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT s.w, reach.r FROM reach JOIN sym s ON s.u = reach.node),
       |lab AS (SELECT node AS id, min(r) AS cluster FROM reach GROUP BY node),
       |labeled AS (SELECT c.vec_id AS id, COALESCE(lab.cluster, c.vec_id) AS cluster, c.v
       |            FROM corpus c LEFT JOIN lab ON lab.id = c.vec_id),
       |cents AS (SELECT cluster, count(*) AS n, $sums FROM labeled GROUP BY cluster),
       |cmb AS (SELECT l.id, l.cluster, l.v, $cvArr AS cv
       |        FROM labeled l JOIN cents USING (cluster)),
       |sc AS (SELECT id, cluster,
       |         round((${dotSql("v", "cv")}) / (${normSql("v")} * ${normSql("cv")}), 7) AS cos7,
       |         round((${dotSql("v", "cv")}) / (${normSql("v")} * ${normSql("cv")}), 5) AS centroid_cosine
       |       FROM cmb),
       |canon AS (SELECT cluster, id AS canonical_id FROM (
       |  SELECT cluster, id,
       |         row_number() OVER (PARTITION BY cluster ORDER BY cos7 DESC, id) AS rn
       |  FROM sc) WHERE rn = 1)
       |SELECT sc.id AS vec_id, sc.cluster, canon.canonical_id, sc.centroid_cosine,
       |       sc.id = canon.canonical_id AS keep
       |FROM sc JOIN canon USING (cluster) ORDER BY vec_id""".stripMargin
  }

  /** Label-centroid separability matrix over the embeddings table
    * (Ann.labelCentroidSim): one exact-sum groupBy(label), then the
    * label-bounded pair frame.
    */
  def annCentroidSim(s: SparkSession, dir: String): DataFrame =
    Ann.labelCentroidSim(embeddings(s, dir), "label", "embedding", Dim)
      .orderBy("label_x", "label_y")

  val annCentroidSimOracle: String = {
    val sums = (1 to Dim).map(k =>
      s"CAST(sum(CAST(round(v[$k]*10000000) AS BIGINT)) AS BIGINT) AS s_$k").mkString(", ")
    val cArr = (1 to Dim).map(k =>
      s"CAST(s_$k AS DOUBLE)/10000000/n").mkString("[", ", ", "]")
    s"""WITH ve AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cs AS (SELECT label, count(*) AS n, $sums FROM ve GROUP BY label),
       |c AS (SELECT label, $cArr AS c FROM cs)
       |SELECT a.label AS label_x, b.label AS label_y,
       |  round((${dotSql("a.c", "b.c")}) / (${normSql("a.c")} * ${normSql("b.c")}), 5)
       |    AS cosine
       |FROM c a JOIN c b ON a.label < b.label
       |ORDER BY label_x, label_y""".stripMargin
  }

  /** Matryoshka truncation recall@5: full 64-dim top-5 vs the top-5
    * of the 16-dim prefix, per query — the measurement behind
    * "retrieve with short prefixes, re-rank with full vectors".
    */
  def annTruncateRecall(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    Ann.truncateRecall(c.filter(col("vec_id") < 25), c, "vec_id", "v",
        Dim, dimT = 16, k = 5)
      .orderBy("qid")
  }

  val annTruncateRecallOracle: String = {
    def dotSqlT(a: String, b: String) =
      (1 to 16).map(i => s"$a[$i]*$b[$i]").mkString(" + ")
    def normSqlT(v: String) = s"sqrt(${dotSqlT(v, v)})"
    // Slimmed r12: ONE brute-force q×c pass computes both similarity
    // columns, MATERIALIZED so the two rank windows read 3-column rows
    // (qid, vec_id, sim) instead of re-running the 64-dim join each —
    // the r11 form ran the q JOIN c twice carrying full vectors through
    // both window sorts and OOM'd the driver's memory-starved oracle
    // process (10× faster and runs under a 200 MB DuckDB cap now).
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS MATERIALIZED (SELECT vec_id, v, ${normSql("v")} AS n, ${normSqlT("v")} AS nt FROM o),
       |q AS MATERIALIZED (SELECT vec_id AS qid, v AS qv, n AS qn, nt AS qnt FROM c WHERE vec_id < 25),
       |sims AS MATERIALIZED (SELECT qid, c.vec_id,
       |         round((${dotSql("qv", "v")}) / (qn * n), 7) AS s_full,
       |         round((${dotSqlT("qv", "v")}) / (qnt * nt), 7) AS s_trunc
       |       FROM q JOIN c ON c.vec_id <> q.qid),
       |rf AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |         ORDER BY s_full DESC, vec_id) AS rk FROM sims),
       |rt AS (SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |         ORDER BY s_trunc DESC, vec_id) AS rk FROM sims),
       |h AS (SELECT rf.qid, CAST(count(*) AS BIGINT) AS n_hits
       |      FROM rf JOIN rt ON rt.qid = rf.qid AND rt.vec_id = rf.vec_id
       |      WHERE rf.rk <= 5 AND rt.rk <= 5 GROUP BY 1)
       |SELECT q.qid, coalesce(h.n_hits, 0) AS n_hits,
       |       CAST(coalesce(h.n_hits, 0) AS DOUBLE) / 5 AS recall
       |FROM q LEFT JOIN h ON h.qid = q.qid
       |ORDER BY q.qid""".stripMargin
  }

  // ---- PQ / ADC search (the FAISS memory-scale path) ----

  /** PQ asymmetric-distance search with FIXED codebooks (same
    * fit/search split as `ann_ivf` vs `ann_ivf_search`): codebook
    * entry c of subspace m = the m-th 16-dim slice of the c-th
    * lowest-id corpus vector — deterministic and SQL-constructible —
    * so encode (per-subspace nearest-code assignment), the per-query
    * distance table, and the ADC sum all replay exactly in DuckDB.
    * Distances floor-scale to 1e9 longs BEFORE summation, so the
    * ranking is partitioning-invariant (see [[Ann.pqSearch]]).
    */
  def annPqSearch(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    val sub = Dim / PqM
    val seeds = c.orderBy("vec_id").limit(PqK)
      .select((row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1).as("_code"),
        col("v"))
    val books = seeds.select(col("_code"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), i -> struct(i as _m, slice(v, i * $sub + 1, $sub) as _cv))")).as("_s"))
      .select(col("_s._m").as("_m"), col("_code"), col("_s._cv").as("_cv"))
    Ann.pqSearch(c.filter(col("vec_id") < 10), c, books, "vec_id", "v", Dim,
        m = PqM, k = 5)
      .orderBy("qid", "rank")
  }

  private val PqM = 4
  private val PqK = 16

  /** IVF-PQ composed search ([[Ann.ivfpqSearch]]): coarse routing to
    * nprobe of 16 fixed cells + ADC over raw-vector PQ codes within
    * them — both quantizers deterministic (lowest-id seeds, same as
    * `ann_ivf_search` / `ann_pq_search`), so the COMPOSED index is
    * hash-gated end to end.
    */
  def annIvfpq(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    val sub = Dim / PqM
    val w16 = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
    val cents = c.orderBy("vec_id").limit(16)
      .select((row_number().over(w16) - 1).as("_cell"), col("v").as("_cv"))
    val seeds = c.orderBy("vec_id").limit(PqK)
      .select((row_number().over(w16) - 1).as("_code"), col("v"))
    val books = seeds.select(col("_code"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), i -> struct(i as _m, slice(v, i * $sub + 1, $sub) as _cv))")).as("_s"))
      .select(col("_s._m").as("_m"), col("_code"), col("_s._cv").as("_cv"))
    Ann.ivfpqSearch(c.filter(col("vec_id") < 10), c, cents, books,
        "vec_id", "v", Dim, m = PqM, k = 5, nprobe = 3)
      .orderBy("qid", "rank")
  }

  val annIvfpqOracle: String = {
    val sub = Dim / PqM
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell, v AS cv
       |          FROM (SELECT * FROM o ORDER BY vec_id LIMIT 16)),
       |asg0 AS (SELECT o.vec_id, cents.cell,
       |         row_number() OVER (PARTITION BY o.vec_id
       |           ORDER BY ${l2sqSql("o.v", "cents.cv")}, cents.cell) AS rn
       |         FROM o CROSS JOIN cents),
       |asg AS (SELECT vec_id, cell FROM asg0 WHERE rn = 1),
       |seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code, v
       |          FROM (SELECT * FROM o ORDER BY vec_id LIMIT $PqK)),
       |mset AS (SELECT unnest([${(0 until PqM).mkString(", ")}]) AS m),
       |books AS (SELECT m, code, v[m*$sub+1 : m*$sub+$sub] AS cv FROM seeds, mset),
       |subs AS (SELECT vec_id, m, v[m*$sub+1 : m*$sub+$sub] AS sv FROM o, mset),
       |enc0 AS (SELECT s.vec_id, s.m, b.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY ${l2sqSubSql("s.sv", "b.cv", sub)}, b.code) AS rn
       |         FROM subs s JOIN books b ON b.m = s.m),
       |enc AS (SELECT vec_id, m, code FROM enc0 WHERE rn = 1),
       |qc0 AS (SELECT o.vec_id AS qid, cents.cell,
       |        row_number() OVER (PARTITION BY o.vec_id
       |          ORDER BY ${l2sqSql("o.v", "cents.cv")}, cents.cell) AS rn
       |        FROM o CROSS JOIN cents WHERE o.vec_id < 10),
       |qc AS (SELECT qid, cell FROM qc0 WHERE rn <= 3),
       |q AS (SELECT vec_id AS qid, m, sv FROM subs WHERE vec_id < 10),
       |dtab AS (SELECT q.qid, b.m, b.code,
       |           CAST(floor((${l2sqSubSql("q.sv", "b.cv", sub)}) * 1e9) AS BIGINT) AS dq
       |         FROM q JOIN books b ON b.m = q.m),
       |adc AS (SELECT d.qid, e.vec_id,
       |          CAST(sum(d.dq) AS BIGINT) AS adc_scaled
       |        FROM qc
       |        JOIN asg ON asg.cell = qc.cell
       |        JOIN enc e ON e.vec_id = asg.vec_id
       |        JOIN dtab d ON d.qid = qc.qid AND d.m = e.m AND d.code = e.code
       |        WHERE e.vec_id <> qc.qid
       |        GROUP BY 1, 2),
       |ranked AS (SELECT qid, vec_id, adc_scaled,
       |             row_number() OVER (PARTITION BY qid
       |               ORDER BY adc_scaled, vec_id) AS rank
       |           FROM adc)
       |SELECT qid, vec_id, adc_scaled, CAST(rank AS INT) AS rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  /** PQ codebook FIT + search with the TRAINED books — the training
    * half of the PQ family ([[Ann.pqFit]]: m independent seeded
    * k-means fits on subspace slices), mirroring `ann_ivf`'s fit/search
    * verification split. k-means is float-iterative, so this is the
    * declared-rows-only member of the family (recall spec in
    * Round10Spec proves trained codebooks recover planted twins);
    * `ann_pq_search` hash-gates the relational search half.
    */
  def annPqFit(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    val books = Ann.pqFit(c, "vec_id", "v", Dim, m = PqM, ksub = PqK)
    Ann.pqSearch(c.filter(col("vec_id") < 10), c, books, "vec_id", "v", Dim,
        m = PqM, k = 5)
      .orderBy("qid", "rank")
  }

  private def l2sqSubSql(a: String, b: String, sub: Int): String =
    (1 to sub).map(i => s"($a[$i]-$b[$i])*($a[$i]-$b[$i])").mkString(" + ")

  val annPqSearchOracle: String = {
    val sub = Dim / PqM
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code, v
       |          FROM (SELECT * FROM o ORDER BY vec_id LIMIT $PqK)),
       |mset AS (SELECT unnest([${(0 until PqM).mkString(", ")}]) AS m),
       |books AS (SELECT m, code, v[m*$sub+1 : m*$sub+$sub] AS cv FROM seeds, mset),
       |subs AS (SELECT vec_id, m, v[m*$sub+1 : m*$sub+$sub] AS sv FROM o, mset),
       |enc0 AS (SELECT s.vec_id, s.m, b.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY ${l2sqSubSql("s.sv", "b.cv", sub)}, b.code) AS rn
       |         FROM subs s JOIN books b ON b.m = s.m),
       |enc AS (SELECT vec_id, m, code FROM enc0 WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, m, sv FROM subs WHERE vec_id < 10),
       |dtab AS (SELECT q.qid, b.m, b.code,
       |           CAST(floor((${l2sqSubSql("q.sv", "b.cv", sub)}) * 1e9) AS BIGINT) AS dq
       |         FROM q JOIN books b ON b.m = q.m),
       |adc AS (SELECT d.qid, e.vec_id,
       |          CAST(sum(d.dq) AS BIGINT) AS adc_scaled
       |        FROM enc e JOIN dtab d ON d.m = e.m AND d.code = e.code
       |        WHERE e.vec_id <> d.qid
       |        GROUP BY 1, 2),
       |ranked AS (SELECT qid, vec_id, adc_scaled,
       |             row_number() OVER (PARTITION BY qid
       |               ORDER BY adc_scaled, vec_id) AS rank
       |           FROM adc)
       |SELECT qid, vec_id, adc_scaled, CAST(rank AS INT) AS rank FROM ranked
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  /** PQ search + exact REFINE — the FAISS IndexRefineFlat composition
    * and the standard answer to PQ's quantization loss: ADC ranks the
    * whole corpus cheaply (m bytes/vector), then the top k·r candidates
    * (r = 4 here) are re-ranked with EXACT distances on full vectors —
    * per query that is 20 full-vector reads instead of 500, which at
    * 10⁹ vectors is the difference between a RAM-resident index and a
    * full-corpus scan. The guarantee the frame hash-gates: refined
    * recall ≥ PQ recall PER QUERY — if v is in both the PQ top-5 and
    * the exact top-5, at most 4 corpus vectors beat v exactly, so at
    * most 4 CANDIDATES beat v and v survives the refine cut; refinement
    * can only promote truth into the top-5, never evict it. The exact
    * truth side is the documented brute-force contrast baseline (the
    * `ann_filtered` idiom); the candidate set is the only approximate
    * input. Everything stays engine-exact: ADC sums are the 1e9-scaled
    * longs of [[Ann.pqSearch]], refine distances floor-scale the same
    * way before ranking.
    */
  def annPqRefine(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = orig(s, dir)
    val sub = Dim / PqM
    val w = Window.orderBy("vec_id")
    val seeds = c.orderBy("vec_id").limit(PqK)
      .select((row_number().over(w) - 1).as("_code"), col("v"))
    val books = seeds.select(col("_code"), explode(expr(
        s"transform(sequence(0, ${PqM - 1}), i -> struct(i as _m, slice(v, i * $sub + 1, $sub) as _cv))")).as("_s"))
      .select(col("_s._m").as("_m"), col("_code"), col("_s._cv").as("_cv"))
    val queries = c.filter(col("vec_id") < 10)
    val cand = Ann.pqSearch(queries, c, books, "vec_id", "v", Dim,
      m = PqM, k = 20)
    val qv = queries.select(col("vec_id").as("qid"), col("v").as("_qv"))
    val cv = c.select(col("vec_id"), col("v").as("_fv"))
    val exact = floor(graft.functions.vecs.l2sq(col("_qv"), col("_fv"))
      * lit(1.0e9)).cast("long")
    val wq = Window.partitionBy("qid").orderBy(col("_ex"), col("vec_id"))
    val refined = cand.select("qid", "vec_id")
      .join(qv, "qid").join(cv, "vec_id")
      .select(col("qid"), col("vec_id"), exact.as("_ex"))
      .withColumn("_rk", row_number().over(wq)).filter(col("_rk") <= 5)
      .select("qid", "vec_id")
    // exact truth — brute-force contrast baseline, query-side bounded
    val truth = qv.crossJoin(cv).filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), exact.as("_ex"))
      .withColumn("_rk", row_number().over(wq)).filter(col("_rk") <= 5)
      .select("qid", "vec_id")
    def hits(sel: DataFrame, name: String): DataFrame = sel
      .join(truth, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as(name))
    val hp = hits(cand.filter(col("rank") <= 5).select("qid", "vec_id"),
      "n_hits_pq")
    val hr = hits(refined, "n_hits_refined")
    qv.select("qid")
      .join(hp, Seq("qid"), "left").join(hr, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hits_pq"), lit(0L)).as("n_hits_pq"),
        coalesce(col("n_hits_refined"), lit(0L)).as("n_hits_refined"),
        (coalesce(col("n_hits_pq"), lit(0L)) * 200).as("recall_pq_milli"),
        (coalesce(col("n_hits_refined"), lit(0L)) * 200)
          .as("recall_refined_milli"))
      .orderBy("qid")
  }

  val annPqRefineOracle: String = {
    val sub = Dim / PqM
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code, v
       |          FROM (SELECT * FROM o ORDER BY vec_id LIMIT $PqK)),
       |mset AS (SELECT unnest([${(0 until PqM).mkString(", ")}]) AS m),
       |books AS (SELECT m, code, v[m*$sub+1 : m*$sub+$sub] AS cv FROM seeds, mset),
       |subs AS (SELECT vec_id, m, v[m*$sub+1 : m*$sub+$sub] AS sv FROM o, mset),
       |enc0 AS (SELECT s.vec_id, s.m, b.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY ${l2sqSubSql("s.sv", "b.cv", sub)}, b.code) AS rn
       |         FROM subs s JOIN books b ON b.m = s.m),
       |enc AS (SELECT vec_id, m, code FROM enc0 WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, m, sv FROM subs WHERE vec_id < 10),
       |dtab AS (SELECT q.qid, b.m, b.code,
       |           CAST(floor((${l2sqSubSql("q.sv", "b.cv", sub)}) * 1e9) AS BIGINT) AS dq
       |         FROM q JOIN books b ON b.m = q.m),
       |adc AS (SELECT d.qid, e.vec_id, CAST(sum(d.dq) AS BIGINT) AS adc_scaled
       |        FROM enc e JOIN dtab d ON d.m = e.m AND d.code = e.code
       |        WHERE e.vec_id <> d.qid GROUP BY 1, 2),
       |ranked AS (SELECT qid, vec_id,
       |             row_number() OVER (PARTITION BY qid
       |               ORDER BY adc_scaled, vec_id) AS rank FROM adc),
       |cand AS (SELECT qid, vec_id FROM ranked WHERE rank <= 20),
       |pq5 AS (SELECT qid, vec_id FROM ranked WHERE rank <= 5),
       |exall AS (SELECT qq.vec_id AS qid, cc.vec_id,
       |            CAST(floor((${l2sqSql("qq.v", "cc.v")}) * 1e9) AS BIGINT) AS ex
       |          FROM o qq JOIN o cc ON cc.vec_id <> qq.vec_id
       |          WHERE qq.vec_id < 10),
       |truth AS (SELECT qid, vec_id FROM (
       |            SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
       |              ORDER BY ex, vec_id) AS rk FROM exall) WHERE rk <= 5),
       |ref AS (SELECT qid, vec_id FROM (
       |          SELECT e.qid, e.vec_id, row_number() OVER (PARTITION BY e.qid
       |            ORDER BY e.ex, e.vec_id) AS rk
       |          FROM exall e JOIN cand ON cand.qid = e.qid AND cand.vec_id = e.vec_id)
       |        WHERE rk <= 5),
       |hp AS (SELECT p.qid, CAST(count(*) AS BIGINT) AS n FROM pq5 p
       |       JOIN truth t ON t.qid = p.qid AND t.vec_id = p.vec_id GROUP BY 1),
       |hr AS (SELECT r.qid, CAST(count(*) AS BIGINT) AS n FROM ref r
       |       JOIN truth t ON t.qid = r.qid AND t.vec_id = r.vec_id GROUP BY 1)
       |SELECT q0.qid, coalesce(hp.n, 0) AS n_hits_pq,
       |       coalesce(hr.n, 0) AS n_hits_refined,
       |       coalesce(hp.n, 0) * 200 AS recall_pq_milli,
       |       coalesce(hr.n, 0) * 200 AS recall_refined_milli
       |FROM (SELECT vec_id AS qid FROM o WHERE vec_id < 10) q0
       |LEFT JOIN hp ON hp.qid = q0.qid LEFT JOIN hr ON hr.qid = q0.qid
       |ORDER BY q0.qid""".stripMargin
  }

  /** ANN recall@5 evaluator — the block_eval/dedup_eval analogue for
    * the index family: every approximate method (LSH bucket single- and
    * multi-table, IVF fixed-centroid search, PQ/ADC fixed-codebook
    * search, the composed IVF-PQ tier at the same nlist/nprobe, and
    * SQ8) scored against the brute-force ground truth in ONE query, so
    * ONE frame ranks every index family at the same k. Recall is THE
    * acceptance metric for index parameter choice at scale (planes /
    * nlist·nprobe / m·ksub / bits); this runs all six pipelines by
    * definition — the truth side is persisted once and each method
    * joins against it. Output is methods-bounded; shares are exact
    * milli-units. The L2-metric tiers (pq/ivfpq/sq8) are scored against
    * the same cosine truth as everything else: the evaluator measures
    * end-to-end "would you have retrieved the true neighbors", so
    * metric mismatch is part of the honestly-reported loss.
    */
  def annRecallEval(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    val q = c.filter(col("vec_id") < 10)
    val brute = Ann.bruteForceTopK(q, c, "vec_id", "v", Dim, k = 5)
      .select("qid", "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cents = c.orderBy("vec_id").limit(16)
        .select((row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1).as("_cell"),
          col("v").as("_cv"))
      val sub = Dim / PqM
      val books = c.orderBy("vec_id").limit(PqK)
        .select((row_number().over(
            org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1).as("_code"),
          col("v"))
        .select(col("_code"), explode(expr(
          s"transform(sequence(0, ${PqM - 1}), i -> struct(i as _m, slice(v, i * $sub + 1, $sub) as _cv))")).as("_s"))
        .select(col("_s._m").as("_m"), col("_code"), col("_s._cv").as("_cv"))
      val methods = Seq(
        // single-table 8-plane LSH: the deliberately BAD operating point
        // (recall 0 at bench params) kept as the tuning signal...
        "lsh" -> Ann.lshTopK(q, c, "vec_id", "v", Dim, k = 5),
        // ...and the OR-construction the signal points at: 8 tables ×
        // 4 planes (recall ~820 milli here) — both rows together are
        // what a deployment reads off this evaluator (r8 verdict ask)
        "lsh_tuned" -> Ann.lshTopKMulti(q, c, "vec_id", "v", Dim, k = 5,
          planes = 4, tables = 8),
        "ivf" -> Ann.ivfSearch(q, c, cents, "vec_id", "v", Dim, k = 5, nprobe = 3),
        "pq" -> Ann.pqSearch(q, c, books, "vec_id", "v", Dim, m = PqM, k = 5),
        // the two r10 tiers a deployment actually picks between (r10
        // verdict ask #2): cell-pruned ADC at the same nlist/nprobe as
        // the ivf row, and the integer-exact scalar-quantization tier
        "ivfpq" -> Ann.ivfpqSearch(q, c, cents, books, "vec_id", "v", Dim,
          m = PqM, k = 5, nprobe = 3),
        "sq8" -> Ann.sq8TopK(q, c, "vec_id", "v", Dim, k = 5),
        // the r12 refine tier: top-20 ADC candidates re-ranked by exact
        // L2 (20 full-vector reads/query — `ann_pq_refine` gates its
        // dominance law under the L2 metric; HERE it is scored against
        // the evaluator's cosine truth like every L2 tier, so its row
        // reads as end-to-end retrieval quality, metric mismatch
        // included)
        "pq_refine" -> {
          import org.apache.spark.sql.expressions.Window
          val wq = Window.partitionBy("qid").orderBy(col("_ex"), col("vec_id"))
          Ann.pqSearch(q, c, books, "vec_id", "v", Dim, m = PqM, k = 20)
            .select("qid", "vec_id")
            .join(q.select(col("vec_id").as("qid"), col("v").as("_qv")), "qid")
            .join(c.select(col("vec_id"), col("v").as("_fv")), "vec_id")
            .select(col("qid"), col("vec_id"),
              floor(graft.functions.vecs.l2sq(col("_qv"), col("_fv"))
                * lit(1.0e9)).cast("long").as("_ex"))
            .withColumn("_rk", row_number().over(wq))
            .filter(col("_rk") <= 5)
        })
      val hits = methods.map { case (name, df) =>
        df.select(col("qid"), col("vec_id")).join(brute, Seq("qid", "vec_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(name).as("method"), col("hits"))
      }.reduce(_.unionByName(_))
      val tot = brute.agg(count(lit(1)).as("n_total"))
      val out = hits.crossJoin(broadcast(tot))
        .select(col("method"), col("hits"), col("n_total"),
          expr("hits * 1000 div n_total").as("recall_milli"))
        .orderBy("method")
      out.localCheckpoint(true)
    } finally brute.unpersist(false)
  }

  // SQ8 oracle fragments shared by the standalone annSq8Oracle law and
  // the recall evaluator's sq8 row: per-dim micro min/max codebook,
  // 8-bit codes, integer ADC over reconstructions (aliases q/c).
  private val sq8MnL = (1 to Dim).map(d => s"min(vm[$d])").mkString("[", ", ", "]")
  private val sq8MxL = (1 to Dim).map(d => s"max(vm[$d])").mkString("[", ", ", "]")
  private val sq8CodeL = (1 to Dim).map(d =>
    s"CASE WHEN mx[$d] > mn[$d] THEN ((vm[$d]-mn[$d])*255)//(mx[$d]-mn[$d]) ELSE 0 END")
    .mkString("[", ", ", "]")
  private def sq8ReconD(d: Int) =
    s"(c.mn[$d] + (c.code[$d]*(c.mx[$d]-c.mn[$d]))//255)"
  private val sq8DistSql = (1 to Dim).map(d =>
    s"(q.qm[$d]-${sq8ReconD(d)})*(q.qm[$d]-${sq8ReconD(d)})").mkString(" + ")

  val annRecallEvalOracle: String = {
    val sub = Dim / PqM
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c AS (SELECT vec_id, v, ${normSql("v")} AS n, ${bucketSql("v")} AS bk FROM o),
       |q AS (SELECT vec_id AS qid, v AS qv, n AS qn, bk FROM c WHERE vec_id < 10),
       |bruteR AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, c.vec_id,
       |         row_number() OVER (PARTITION BY q.qid
       |           ORDER BY round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 7) DESC,
       |                    c.vec_id) AS rank
       |  FROM q JOIN c ON c.vec_id <> q.qid) WHERE rank <= 5),
       |lshR AS (SELECT qid, vec_id FROM (
       |  SELECT q.qid, c.vec_id,
       |         row_number() OVER (PARTITION BY q.qid
       |           ORDER BY round((${dotSql("q.qv", "c.v")}) / (q.qn * c.n), 7) DESC,
       |                    c.vec_id) AS rank
       |  FROM q JOIN c ON c.bk = q.bk AND c.vec_id <> q.qid) WHERE rank <= 5),
       |cm AS (SELECT vec_id, v, n,
       |${(0 until 8).map(t => s"  ${bucketSqlRange("v", t * 4, 4)} AS tk$t").mkString(",\n")}
       |       FROM c),
       |qm AS (SELECT vec_id AS qid, v AS qv, n AS qn,
       |${(0 until 8).map(t => s"  tk$t").mkString(", ")}
       |       FROM cm WHERE vec_id < 10),
       |mcand AS (SELECT DISTINCT qm.qid, cm.vec_id, qm.qv, qm.qn, cm.v, cm.n
       |          FROM qm JOIN cm ON cm.vec_id <> qm.qid AND (
       |${(0 until 8).map(t => s"            cm.tk$t = qm.tk$t").mkString(" OR\n")})),
       |lshTunedR AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY round((${dotSql("qv", "v")}) / (qn * n), 7) DESC,
       |                    vec_id) AS rank
       |  FROM mcand) WHERE rank <= 5),
       |cents AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS cell, v AS cv
       |          FROM (SELECT * FROM o ORDER BY vec_id LIMIT 16)),
       |asg0 AS (SELECT c.vec_id, c.v, c.n, cents.cell,
       |         row_number() OVER (PARTITION BY c.vec_id
       |           ORDER BY ${l2sqSql("c.v", "cents.cv")}, cents.cell) AS rn
       |         FROM c CROSS JOIN cents),
       |asg AS (SELECT vec_id, v, n, cell FROM asg0 WHERE rn = 1),
       |qc0 AS (SELECT q.qid, q.qv, q.qn, cents.cell,
       |        row_number() OVER (PARTITION BY q.qid
       |          ORDER BY (${dotSql("q.qv", "cents.cv")}) DESC, cents.cell) AS rn
       |        FROM q CROSS JOIN cents),
       |qc AS (SELECT qid, qv, qn, cell FROM qc0 WHERE rn <= 3),
       |ivfR AS (SELECT qid, vec_id FROM (
       |  SELECT qc.qid, asg.vec_id,
       |         row_number() OVER (PARTITION BY qc.qid
       |           ORDER BY round((${dotSql("qc.qv", "asg.v")}) / (qc.qn * asg.n), 7) DESC,
       |                    asg.vec_id) AS rank
       |  FROM qc JOIN asg ON asg.cell = qc.cell AND asg.vec_id <> qc.qid)
       |  WHERE rank <= 5),
       |seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INT) - 1 AS code, v
       |          FROM (SELECT * FROM o ORDER BY vec_id LIMIT $PqK)),
       |mset AS (SELECT unnest([${(0 until PqM).mkString(", ")}]) AS m),
       |books AS (SELECT m, code, v[m*$sub+1 : m*$sub+$sub] AS cv FROM seeds, mset),
       |subs AS (SELECT vec_id, m, v[m*$sub+1 : m*$sub+$sub] AS sv FROM o, mset),
       |enc0 AS (SELECT s.vec_id, s.m, b.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY ${l2sqSubSql("s.sv", "b.cv", sub)}, b.code) AS rn
       |         FROM subs s JOIN books b ON b.m = s.m),
       |enc AS (SELECT vec_id, m, code FROM enc0 WHERE rn = 1),
       |pq_q AS (SELECT vec_id AS qid, m, sv FROM subs WHERE vec_id < 10),
       |dtab AS (SELECT pq_q.qid, b.m, b.code,
       |           CAST(floor((${l2sqSubSql("pq_q.sv", "b.cv", sub)}) * 1e9) AS BIGINT) AS dq
       |         FROM pq_q JOIN books b ON b.m = pq_q.m),
       |adc AS (SELECT d.qid, e.vec_id,
       |          CAST(sum(d.dq) AS BIGINT) AS adc_scaled
       |        FROM enc e JOIN dtab d ON d.m = e.m AND d.code = e.code
       |        WHERE e.vec_id <> d.qid
       |        GROUP BY 1, 2),
       |pqR AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY adc_scaled, vec_id) AS rank
       |  FROM adc) WHERE rank <= 5),
       |pqC AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY adc_scaled, vec_id) AS rank
       |  FROM adc) WHERE rank <= 20),
       |pqRef AS (SELECT qid, vec_id FROM (
       |  SELECT p.qid, p.vec_id,
       |         row_number() OVER (PARTITION BY p.qid
       |           ORDER BY CAST(floor((${l2sqSql("q.qv", "cf.v")}) * 1e9) AS BIGINT),
       |                    p.vec_id) AS rank
       |  FROM pqC p JOIN q ON q.qid = p.qid JOIN c cf ON cf.vec_id = p.vec_id)
       |  WHERE rank <= 5),
       |qp0 AS (SELECT q.qid, cents.cell,
       |        row_number() OVER (PARTITION BY q.qid
       |          ORDER BY ${l2sqSql("q.qv", "cents.cv")}, cents.cell) AS rn
       |        FROM q CROSS JOIN cents),
       |qp AS (SELECT qid, cell FROM qp0 WHERE rn <= 3),
       |adcp AS (SELECT d.qid, e.vec_id,
       |           CAST(sum(d.dq) AS BIGINT) AS adc_scaled
       |         FROM enc e
       |         JOIN asg a ON a.vec_id = e.vec_id
       |         JOIN qp p ON p.cell = a.cell
       |         JOIN dtab d ON d.qid = p.qid AND d.m = e.m AND d.code = e.code
       |         WHERE e.vec_id <> d.qid
       |         GROUP BY 1, 2),
       |ivfpqR AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY adc_scaled, vec_id) AS rank
       |  FROM adcp) WHERE rank <= 5),
       |micro AS (SELECT vec_id,
       |            list_transform(v, x -> CAST(round(x*10000000) AS BIGINT)) AS vm
       |          FROM o),
       |sqst AS (SELECT ${sq8MnL} AS mn, ${sq8MxL} AS mx FROM micro),
       |sqcd AS (SELECT vec_id, mn, mx, ${sq8CodeL} AS code FROM micro, sqst),
       |sqq AS (SELECT vec_id AS qid, vm AS qm FROM micro WHERE vec_id < 10),
       |sqd AS (SELECT q.qid, c.vec_id, ${sq8DistSql} AS dist
       |        FROM sqq q JOIN sqcd c ON c.vec_id <> q.qid),
       |sq8R AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id,
       |         row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rank
       |  FROM sqd) WHERE rank <= 5),
       |hits AS (
       |  SELECT 'lsh' AS method, CAST(count(*) AS BIGINT) AS hits
       |  FROM lshR JOIN bruteR USING (qid, vec_id)
       |  UNION ALL
       |  SELECT 'lsh_tuned', CAST(count(*) AS BIGINT)
       |  FROM lshTunedR JOIN bruteR USING (qid, vec_id)
       |  UNION ALL
       |  SELECT 'ivf', CAST(count(*) AS BIGINT)
       |  FROM ivfR JOIN bruteR USING (qid, vec_id)
       |  UNION ALL
       |  SELECT 'pq', CAST(count(*) AS BIGINT)
       |  FROM pqR JOIN bruteR USING (qid, vec_id)
       |  UNION ALL
       |  SELECT 'ivfpq', CAST(count(*) AS BIGINT)
       |  FROM ivfpqR JOIN bruteR USING (qid, vec_id)
       |  UNION ALL
       |  SELECT 'pq_refine', CAST(count(*) AS BIGINT)
       |  FROM pqRef JOIN bruteR USING (qid, vec_id)
       |  UNION ALL
       |  SELECT 'sq8', CAST(count(*) AS BIGINT)
       |  FROM sq8R JOIN bruteR USING (qid, vec_id)),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM bruteR)
       |SELECT method, hits, n_total, hits * 1000 // n_total AS recall_milli
       |FROM hits, tot
       |ORDER BY method""".stripMargin
  }

  // ---- SQ8 scalar quantization (Ann.sq8TopK) ----

  /** SQ8 ANN search with its exact face riding along: the FAISS
    * IndexScalarQuantizer tier — per-dim min/max codebook (ONE 1-row
    * agg, vs PQ's k-means), 8-bit codes, asymmetric integer distance
    * on micro-units. Because SQ8's train step is min/max (not
    * float-iterative k-means), the WHOLE family is exact integer
    * arithmetic: codes, reconstructions, distances, ranks and recall@5
    * all hash-gate — the quantization tier PQ can't oracle, SQ8 can.
    * Output: sq8 top-5 vs exact micro-L2 top-5 per query, rank-aligned,
    * with per-query recall@5 (800–1000 milli across the 10 queries at
    * sf0.01, mean 920 — the honest 8-bit loss, visible next to the 4×
    * memory win).
    */
  def annSq8(s: SparkSession, dir: String): DataFrame = {
    val c = orig(s, dir)
    val q = c.filter(col("vec_id") < 10)
    val sq = Ann.sq8TopK(q, c, "vec_id", "v", Dim, k = 5)
      .select(col("qid"), col("rank"), col("vec_id").as("sq8_id"),
        col("_dist").as("sq8_dist"))
    val ex = Ann.microTopK(q, c, "vec_id", "v", Dim, k = 5)
      .select(col("qid"), col("rank"), col("vec_id").as("exact_id"),
        col("_dist").as("exact_dist"))
    val hits = sq.select(col("qid"), col("sq8_id").as("_id"))
      .join(ex.select(col("qid"), col("exact_id").as("_id")), Seq("qid", "_id"))
      .groupBy("qid").agg(count(lit(1)).as("_h"))
    sq.join(ex, Seq("qid", "rank"))
      .join(hits, Seq("qid"), "left")
      .select(col("qid"), col("rank"), col("sq8_id"), col("sq8_dist"),
        col("exact_id"), col("exact_dist"),
        (coalesce(col("_h"), lit(0L)) * 200L).as("recall5_milli"))
      .orderBy("qid", "rank")
  }

  val annSq8Oracle: String = {
    val mnL = (1 to Dim).map(d => s"min(vm[$d])").mkString("[", ", ", "]")
    val mxL = (1 to Dim).map(d => s"max(vm[$d])").mkString("[", ", ", "]")
    val codeL = (1 to Dim).map(d =>
      s"CASE WHEN mx[$d] > mn[$d] THEN ((vm[$d]-mn[$d])*255)//(mx[$d]-mn[$d]) ELSE 0 END")
      .mkString("[", ", ", "]")
    def reconD(d: Int) = s"(c.mn[$d] + (c.code[$d]*(c.mx[$d]-c.mn[$d]))//255)"
    val sqDist = (1 to Dim).map(d =>
      s"(q.qm[$d]-${reconD(d)})*(q.qm[$d]-${reconD(d)})").mkString(" + ")
    val exDist = (1 to Dim).map(d =>
      s"(q.qm[$d]-c.vm[$d])*(q.qm[$d]-c.vm[$d])").mkString(" + ")
    s"""WITH o AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |m AS (SELECT vec_id, list_transform(v, x -> CAST(round(x*10000000) AS BIGINT)) AS vm FROM o),
       |st AS (SELECT $mnL AS mn, $mxL AS mx FROM m),
       |cd AS (SELECT vec_id, mn, mx, $codeL AS code FROM m, st),
       |q AS (SELECT vec_id AS qid, vm AS qm FROM m WHERE vec_id < 10),
       |sqd AS (SELECT q.qid, c.vec_id, $sqDist AS dist
       |        FROM q JOIN cd c ON c.vec_id <> q.qid),
       |sq AS (SELECT qid, vec_id, dist,
       |         row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rank
       |       FROM sqd),
       |exd AS (SELECT q.qid, c.vec_id, $exDist AS dist
       |        FROM q JOIN m c ON c.vec_id <> q.qid),
       |ex AS (SELECT qid, vec_id, dist,
       |         row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rank
       |       FROM exd),
       |sq5 AS (SELECT * FROM sq WHERE rank <= 5),
       |ex5 AS (SELECT * FROM ex WHERE rank <= 5),
       |hits AS (SELECT sq5.qid, CAST(count(*) AS BIGINT) AS h
       |         FROM sq5 JOIN ex5 ON sq5.qid = ex5.qid AND sq5.vec_id = ex5.vec_id
       |         GROUP BY sq5.qid)
       |SELECT sq5.qid, CAST(sq5.rank AS INT) AS rank,
       |       sq5.vec_id AS sq8_id, sq5.dist AS sq8_dist,
       |       ex5.vec_id AS exact_id, ex5.dist AS exact_dist,
       |       coalesce(h, 0) * 200 AS recall5_milli
       |FROM sq5 JOIN ex5 ON sq5.qid = ex5.qid AND sq5.rank = ex5.rank
       |LEFT JOIN hits ON hits.qid = sq5.qid
       |ORDER BY sq5.qid, sq5.rank""".stripMargin
  }

  def queries: Seq[QueryDef] = Seq(
    // every index family plus the exact ground truth
    QueryDef("ann_recall_eval", annRecallEval, Some(annRecallEvalOracle), pipelines = 7),
    // exact micro-L2 ground truth rides along for recall@5
    QueryDef("ann_sq8", annSq8, Some(annSq8Oracle), pipelines = 2),
    QueryDef("ann_pq_search", annPqSearch, Some(annPqSearchOracle)),
    QueryDef("ann_pq_refine", annPqRefine, Some(annPqRefineOracle)),
    QueryDef("ann_ivfpq", annIvfpq, Some(annIvfpqOracle)),
    QueryDef("ann_pq_fit", annPqFit, None),
    QueryDef("ann_truncate_recall", annTruncateRecall, Some(annTruncateRecallOracle)),
    QueryDef("ann_centroid_sim", annCentroidSim, Some(annCentroidSimOracle)),
    QueryDef("dedup_embedding", dedupEmbedding, Some(dedupEmbeddingOracle)),
    QueryDef("text_contamination_semantic", textContaminationSemantic,
      Some(textContaminationSemanticOracle)),
    QueryDef("dedup_semantic", dedupSemantic, Some(dedupSemanticOracle)),
    QueryDef("ann_bruteforce", annBruteforce, Some(annBruteforceOracle)),
    QueryDef("ann_lsh", annLsh, Some(annLshOracle)),
    QueryDef("ann_ivf", annIvf, None),
    QueryDef("ann_ivf_search", annIvfSearch, Some(annIvfSearchOracle)),
    // the incremental index hash-gates against the FULL-REBUILD law:
    // assignment is pointwise, so both must agree bit for bit
    QueryDef("ann_ivf_incremental", annIvfIncremental, Some(annIvfSearchOracle)),
    QueryDef("ann_filtered", annFiltered, Some(annFilteredOracle)),
    QueryDef("ann_filtered_oversample", annFilteredOversample, Some(annFilteredOversampleOracle)),
    QueryDef("ann_ivf_filtered_oversample", annIvfFilteredOversample,
      Some(annIvfFilteredOversampleOracle)),
    QueryDef("block_embedding", blockEmbedding, Some(blockEmbeddingOracle)),
    QueryDef("match_vector_features", matchVectorFeatures, Some(matchVectorFeaturesOracle))
  )
}
