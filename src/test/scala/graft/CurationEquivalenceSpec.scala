package graft

import java.security.MessageDigest
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.functions.DetMath
import graft.text.TextOps

/** The corpus-curation operators (MinHash-LSH near-dup, n-gram
  * contamination, token entropy) against brute-force single-threaded
  * Scala references, on hostile inputs: empty frames, null text, docs
  * shorter than n words, exact duplicates, one hot band key (32
  * identical low-entropy docs) and docs with no probe hit. The LSH
  * reference is the textbook one: per-band buckets, the union of every
  * bucket's pairs, then the verified shingle Jaccard.
  */
class CurationEquivalenceSpec extends AnyFunSuite {
  import TestSpark._

  private val Bands = 4
  private val Rows = 3
  private val N = 3
  private val Threshold = 0.8

  // ---- inputs ----------------------------------------------------------

  /** Deterministic filler docs over a 6-word vocabulary: many shared
    * shingles, so band collisions that fail verification occur. */
  private def filler(seed: Int, count: Int, from: Long): Seq[(Long, String)] = {
    val vocab = Array("red", "green", "blue", "cyan", "gray", "pink")
    var x = seed.toLong
    def next(): Int = { x = x * 6364136223846793005L + 1442695040888963407L; ((x >>> 33) % 6).toInt }
    (0 until count).map { i =>
      (from + i, Seq.fill(9 + i % 4)(vocab(next())).mkString(" "))
    }
  }

  private val base = "the quick brown fox jumps over the lazy dog again and again"
  private val hot = "la la la la la la la la"
  private val eleven = "one two three four five six seven eight nine ten eleven"

  private val leftDocs: Seq[(Long, String)] = Seq(
    (1L, base),
    (2L, base), // exact duplicate
    (3L, base.replace("again and again", "again and more")), // near duplicate
    (4L, null),
    (5L, ""),
    (6L, "short text"),
    (7L, "a b c"),
    (8L, "Mixed CASE  words with  double spaces here"),
    (9L, "café naïve résumé ünïcödé text here and there"),
    (10L, "café naïve résumé text here and there"), // combining marks
    (20L, eleven)) ++
    // three extra shingles each: Jaccard 9/12 with doc 20, so those a
    // band catches are candidates that fail verification
    Seq("ka", "kb", "kc", "kd").zipWithIndex.map { case (k, j) =>
      (21L + j, s"$eleven ${k}1 ${k}2 ${k}3")
    } ++
    (0 until 32).map(i => (100L + i, hot)) ++ // one hot band key
    filler(7, 24, 200L)

  private val rightDocs: Seq[(Long, String)] = Seq(
    (1001L, base),
    (1002L, base.replace("lazy", "sleepy")),
    (1003L, null),
    (1004L, "tiny"),
    (1005L, hot),
    (1006L, "completely unrelated words in this document") ) ++
    filler(11, 12, 1100L)

  private def frame(rows: Seq[(Long, String)]): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    rows.toDF("doc_id", "text")
  }

  private def emptyFrame: DataFrame = frame(Seq.empty)

  // ---- reference -------------------------------------------------------

  /** hashᵢ(s): the first 8 hex chars of md5("i#" ∥ s). */
  private def md5Hash(i: Int, s: String): String =
    MessageDigest.getInstance("MD5").digest(s"$i#$s".getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString

  private def shingleSet(text: String): Seq[String] =
    if (text == null) Seq.empty
    else {
      val w = text.split(" ", -1)
      if (w.length < N) Seq.empty else w.sliding(N).map(_.mkString(" ")).toSeq.distinct
    }

  private def bandKeys(sh: Seq[String]): Seq[(Int, String)] =
    if (sh.isEmpty) Seq.empty
    else (0 until Bands).map { b =>
      b -> (0 until Rows).map(r => sh.map(s => md5Hash(b * Rows + r, s)).min).mkString(":")
    }

  /** Per-band buckets, every bucket's pairs unioned. */
  private def refCandidates(left: Seq[(Long, String)], right: Seq[(Long, String)],
      self: Boolean): Set[(Long, Long)] = {
    def buckets(d: Seq[(Long, String)]) =
      d.flatMap { case (id, t) => bandKeys(shingleSet(t)).map(_ -> id) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val r = buckets(right)
    buckets(left).toSeq.flatMap { case (k, ids1) =>
      for (a <- ids1; b <- r.getOrElse(k, Seq.empty) if !self || a < b) yield (a, b)
    }.toSet
  }

  private def round5(x: Double): Double =
    BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def refVerified(cands: Set[(Long, Long)], left: Seq[(Long, String)],
      right: Seq[(Long, String)]): Seq[(Long, Long, Double)] = {
    val l = left.toMap; val r = right.toMap
    cands.toSeq.flatMap { case (a, b) =>
      val sa = shingleSet(l(a)).toSet; val sb = shingleSet(r(b)).toSet
      val j = round5((sa & sb).size.toDouble / (sa | sb).size)
      if (j >= Threshold) Some((a, b, j)) else None
    }.sorted
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def triples(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("id1", "id2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  // ---- LSH -------------------------------------------------------------

  test("minhashCandidates and minhashLsh equal the per-band brute force (md5)") {
    val cands = refCandidates(leftDocs, leftDocs, self = true)
    // the hot key alone yields C(32, 2) candidates, all verified at 1.0
    assert(cands.count { case (a, b) => a >= 100 && b < 132 } == 32 * 31 / 2)
    assert(pairs(Dedup.minhashCandidates(frame(leftDocs), "doc_id", "text",
      N, Bands, Rows)) == cands.toSeq.sorted)
    val want = refVerified(cands, leftDocs, leftDocs)
    assert(want.exists(_._3 < 1.0) && cands.size > want.size,
      "inputs must exercise both a near pair and a rejected candidate")
    assert(triples(Dedup.minhashLsh(frame(leftDocs), "doc_id", "text",
      N, Bands, Rows, Threshold)) == want)
  }

  test("minhashLshAgainst equals the cross-corpus brute force (md5)") {
    val cands = refCandidates(leftDocs, rightDocs, self = false)
    val want = refVerified(cands, leftDocs, rightDocs)
    assert(want.exists(_._1 >= 100) && want.exists(_._1 == 1L))
    assert(triples(Dedup.minhashLshAgainst(frame(leftDocs), frame(rightDocs), "doc_id",
      "text", N, Bands, Rows, Threshold)) == want)
  }

  test("LSH operators return empty frames on empty input (md5)") {
    assert(Dedup.minhashCandidates(emptyFrame, "doc_id", "text").isEmpty)
    assert(Dedup.minhashLsh(emptyFrame, "doc_id", "text").isEmpty)
    assert(Dedup.minhashLshAgainst(emptyFrame, frame(rightDocs), "doc_id", "text").isEmpty)
    assert(Dedup.minhashLshAgainst(frame(leftDocs), emptyFrame, "doc_id", "text").isEmpty)
  }

  // ---- contamination ---------------------------------------------------

  /** The word-n-gram law: each n consecutive lowercase words; a doc
    * shorter than n words is one gram; null text has no grams. */
  private def grams(text: String): Seq[String] =
    if (text == null) Seq.empty
    else {
      val w = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1)
      if (w.length <= N) Seq(w.mkString(" ")) else w.sliding(N).map(_.mkString(" ")).toSeq
    }

  private val probeDocs: Seq[(Long, String)] = Seq(
    (1L, "The Quick Brown fox jumps"),
    (2L, null),
    (3L, "short text"),
    (4L, "la la la"),
    (5L, "red green blue cyan"))

  test("contamination equals the brute-force gram count; no hit means 0 bp") {
    val probeSet = probeDocs.flatMap(p => grams(p._2)).toSet
    // a doc with no grams (null text) has no row, as in tokenEntropy
    val want = leftDocs.filter(d => grams(d._2).nonEmpty).map { case (id, t) =>
      val g = grams(t)
      val hits = g.count(probeSet).toLong
      (id, g.size.toLong, hits, hits * 10000 / g.size)
    }.sorted
    assert(want.exists(_._3 == 0) && want.exists(_._3 > 0))
    val got = TextOps.contamination(frame(leftDocs), frame(probeDocs), "doc_id", "text", N)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(got == want)
    assert(got.filter(_._3 == 0).forall(_._4 == 0L))
    assert(TextOps.contamination(emptyFrame, frame(probeDocs), "doc_id", "text", N).isEmpty)
    val noProbes = TextOps.contamination(frame(leftDocs), emptyFrame, "doc_id", "text", N)
      .collect()
    assert(noProbes.length == leftDocs.count(_._2 != null) &&
      noProbes.forall(r => r.getLong(2) == 0L && r.getLong(3) == 0L))
  }

  // ---- token entropy ---------------------------------------------------

  test("tokenEntropy equals the brute-force per-doc entropy") {
    val ln = DetMath.computeLn _
    val want = leftDocs.filter(_._2 != null).map { case (id, t) =>
      val toks = t.toLowerCase(java.util.Locale.ROOT).split(" ", -1).toSeq
      val tf = toks.groupBy(identity).values.map(_.size.toDouble)
      val s = tf.map(c => math.floor((c * ln(c)) * 1.0e9).toLong).sum
      val dl = toks.size.toDouble
      val h = ln(dl) - ((s.toDouble / 1.0e9) / dl)
      val norm = if (toks.size > 1) h / ln(dl) else 0.0
      (id, toks.size.toLong, tf.size.toLong, h, norm, norm < 0.6)
    }.sorted
    val got = TextOps.tokenEntropy(frame(leftDocs), "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
        r.getBoolean(5))).toSeq.sorted
    assert(got == want)
    assert(got.filter(r => r._1 >= 100 && r._1 < 132).forall(_._6),
      "the hot low-entropy docs are flagged")
    assert(TextOps.tokenEntropy(emptyFrame, "doc_id", "text").isEmpty)
  }
}
