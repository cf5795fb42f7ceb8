package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocking.Blockers
import graft.clustering.Clusterers
import graft.dedup.Dedup
import graft.functions.sims
import graft.fusion.Fusion
import graft.io.Loaders
import graft.matching.Matching
import graft.normalization.Transforms
import graft.text.TextOps

/** One benchmark workload: its seeded inputs, the pipeline a user runs over
  * them (public graft entry points only, each call wrapped in its layer's
  * span), and the independent check of what the pipeline wrote.
  */
trait Workload {
  type Truth
  def name: String
  def generate(spark: SparkSession, seed: Long, dir: File): Truth
  def inputRecords(t: Truth): Long
  def run(spark: SparkSession, in: String, out: String, tr: Tracer): Unit
  /** Reads the outputs back and checks them against `truth`. */
  def check(spark: SparkSession, truth: Truth, out: String): Check.Result
  /** Output directories (relative to an execution's output dir). */
  def outputs: Seq[String]
  /** Untimed executions after the cold one. */
  def warmupExecs: Int
  /** Timed executions the end-to-end metrics cover, the first ones of the
    * window; the window runs at least this many.
    */
  def timedExecs: Int
  /** Traced-only counts taken outside the pipeline's spans. */
  def extraCounts(spark: SparkSession, in: String): Map[String, Double] = Map.empty
}

object Workload {
  val all: Map[String, Workload] = Seq(ErPairs, CorpusDedup).map(w => w.name -> w).toMap
}

/** ER over two single-file sources on a coarse block key, comparator-heavy:
  * load → normalize → block → rule-match → connected components → fuse →
  * write.
  */
object ErPairs extends Workload {
  type Truth = Gen.ErData
  val name = "er_pairs"
  val warmupExecs = 1
  val timedExecs = 3
  val nLeft = 2400
  val copyShare = 0.5
  val regions = 12
  val heavyShare = 0.1
  val strategies = Seq("name" -> "longest_string", "street" -> "longest_string",
    "city" -> "voting", "price" -> "average", "updated" -> "most_recent")
  val spec: Check.ErSpec = Check.ErSpec(
    comparators = Seq(
      sims.jaroWinkler(col("l_name"), col("r_name")) -> 0.5,
      sims.levenshteinSim(col("l_street"), col("r_street")) -> 0.3,
      sims.numericAbsSim(col("l_price"), col("r_price"), 100.0) -> 0.2),
    terms = Seq(
      ((a: Gen.Rec, b: Gen.Rec) => math.max(0.0, 1.0 - math.abs(a.price - b.price) / 100.0)) -> 0.2,
      ((a: Gen.Rec, b: Gen.Rec) => Check.jaroWinkler(a.name, b.name)) -> 0.5,
      ((a: Gen.Rec, b: Gen.Rec) => Check.levenshteinSim(a.street, b.street)) -> 0.3),
    threshold = 0.9)

  /** The normalization both sources go through. */
  val chains: Seq[(String, Seq[String])] = Seq(
    "name" -> Seq("strip", "lower"),
    "street" -> Seq("strip", "lower", "normalize_whitespace"),
    "city" -> Seq("strip", "lower"))

  /** Record columns both sources share (the per-source provenance id is
    * renamed to `src_id`).
    */
  val recCols: Seq[String] =
    Seq("rid", "src_id", "name", "street", "city", "region", "price", "updated",
      "__dataset_name")

  def loadSource(spark: SparkSession, in: String, src: String): DataFrame = {
    val path = s"$in/$src.parquet"
    Loaders.withProvenance(Loaders.load(spark, path), src, "rid", path)
      .withColumnRenamed(s"${src}_id", "src_id")
  }

  def inputRecords(t: Truth): Long = t.all.size.toLong

  def generate(spark: SparkSession, seed: Long, dir: File): Truth = {
    val d = Gen.erPairs(seed, nLeft, copyShare, regions, heavyShare)
    Gen.writeEr(spark, d, dir)
    d
  }

  def run(spark: SparkSession, in: String, out: String, tr: Tracer): Unit = {
    val raw = Seq("left", "right").map(s => tr.layer("io")(loadSource(spark, in, s)))
    // frames read more than once are cached, as a pipeline reusing them would
    val Seq(left, right) = raw.map(r =>
      tr.layer("normalization")(Transforms.applyChains(r, chains)).persist())
    val cands = tr.layer("blocking")(Blockers.standard(left, right, Seq("region"), "rid"))
    val matches = tr.layer("matching")(Matching.ruleMatch(cands, left, right, "rid",
      spec.comparators, spec.threshold)).persist()
    // every record with its component id, singletons keeping their own id
    val assigned = tr.layer("clustering") {
      val cc = Clusterers.connectedComponents(matches.select("id1", "id2"))
      Seq(left, right).map(_.select(recCols.map(col): _*)).reduce(_.unionByName(_))
        .join(cc.withColumnRenamed("id", "rid"), Seq("rid"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("rid")))
    }.persist()
    val fused = tr.layer("fusion")(Fusion.runEngine(assigned, "cluster", strategies))
    tr.span("io") {
      matches.write.mode("overwrite").parquet(s"$out/matches.parquet")
      assigned.select("rid", "cluster").write.mode("overwrite").parquet(s"$out/clusters.parquet")
      fused.write.mode("overwrite").parquet(s"$out/fused.parquet")
    }
  }

  val outputs = Seq("matches.parquet", "clusters.parquet", "fused.parquet")

  def check(spark: SparkSession, truth: Truth, out: String): Check.Result = {
    val m = spark.read.parquet(s"$out/matches.parquet").select("id1", "id2", "score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val c = spark.read.parquet(s"$out/clusters.parquet").select("rid", "cluster")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val f = spark.read.parquet(s"$out/fused.parquet").select("cluster", "n_records")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Check.er(spec, truth, Check.ErOutput(m, c, f))
  }
}

/** Corpus curation: exact dedup → MinHash-LSH near dups → components →
  * entropy gate → contamination → packing → write.
  */
object CorpusDedup extends Workload {
  type Truth = Gen.CorpusData
  val name = "corpus_dedup"
  val warmupExecs = 0
  val timedExecs = 2
  val nOrig = 600
  val files = 8
  val seqLen = 2048L
  val spec: Check.CorpusSpec = Check.CorpusSpec(shingle = 3, jaccard = 0.8,
    entropyLow = 0.6, contN = 3, contMaxBp = 2500, seqLen = seqLen)

  def generate(spark: SparkSession, seed: Long, dir: File): Truth = {
    val d = Gen.corpus(seed, nOrig, nExact = nOrig / 12, nNear = nOrig / 10, nFar = nOrig / 10,
      nLow = nOrig / 25, nCont = nOrig / 30, nProbes = 150)
    Gen.writeCorpus(spark, d, dir, files)
    d
  }

  def inputRecords(t: Truth): Long = t.docs.size.toLong

  def run(spark: SparkSession, in: String, out: String, tr: Tracer): Unit = {
    // frames read more than once are cached, as a pipeline reusing them would
    val docs = tr.layer("io")(Loaders.load(spark, s"$in/corpus.parquet")).persist()
    val probes = tr.layer("io")(Loaders.load(spark, s"$in/probes.parquet"))
    val exact = tr.layer("dedup")(Dedup.exact(docs, "doc_id", "text")).persist()
    val canon = docs.join(exact.filter(col("doc_id") === col("dup_group")).select("doc_id"), "doc_id")
    val near = tr.layer("dedup")(Dedup.minhashLsh(canon, "doc_id", "text",
      n = spec.shingle, threshold = spec.jaccard))
    val kept = tr.layer("clustering") {
      val cc = Clusterers.connectedComponents(near.select("id1", "id2"))
      exact.join(cc.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .withColumn("cluster", when(col("doc_id") === col("dup_group"),
          coalesce(col("cluster"), col("doc_id"))))
    }.persist()
    val survivors = docs.join(kept.filter(col("cluster") === col("doc_id")).select("doc_id"),
      "doc_id").persist()
    val ok = tr.layer("text")(TextOps.tokenEntropy(survivors, "doc_id", "text", spec.entropyLow)
      .filter(!col("flag_low")).select("doc_id", "n_tokens")).persist()
    val cont = tr.layer("text")(TextOps.contamination(
      survivors.join(ok.select("doc_id"), "doc_id"), probes, "doc_id", "text", spec.contN)).persist()
    val clean = ok.join(cont.filter(col("contaminated_bp") < spec.contMaxBp).select("doc_id"),
      "doc_id")
    val packed = tr.layer("text")(TextOps.packSequences(clean, "doc_id", col("n_tokens"), seqLen))
    tr.span("io") {
      near.write.mode("overwrite").parquet(s"$out/near_pairs.parquet")
      kept.select("doc_id", "dup_group", "cluster").write.mode("overwrite")
        .parquet(s"$out/canonical.parquet")
      cont.write.mode("overwrite").parquet(s"$out/contamination.parquet")
      packed.write.mode("overwrite").parquet(s"$out/packed.parquet")
    }
  }

  val outputs =
    Seq("near_pairs.parquet", "canonical.parquet", "contamination.parquet", "packed.parquet")

  def check(spark: SparkSession, truth: Truth, out: String): Check.Result = {
    def rows(p: String, cols: String*) = spark.read.parquet(s"$out/$p").select(cols.map(col): _*)
      .collect().toSeq
    val o = Check.CorpusOutput(
      near = rows("near_pairs.parquet", "id1", "id2", "jaccard")
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))),
      canonical = rows("canonical.parquet", "doc_id", "dup_group", "cluster")
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))),
      cont = rows("contamination.parquet", "doc_id", "n_ngrams", "n_contaminated", "contaminated_bp")
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))),
      packed = rows("packed.parquet", "doc_id", "n_tokens", "stream_offset", "seq_id", "seq_offset")
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
    Check.corpus(spec, truth, o)
  }

  override def extraCounts(spark: SparkSession, in: String): Map[String, Double] = {
    val docs = Loaders.load(spark, s"$in/corpus.parquet")
    val exact = Dedup.exact(docs, "doc_id", "text")
    val canon = docs.join(exact.filter(col("doc_id") === col("dup_group")).select("doc_id"), "doc_id")
    Map("dedup.lsh_candidates" ->
      Dedup.minhashCandidates(canon, "doc_id", "text", n = spec.shingle).count().toDouble)
  }
}
