package graft.text

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Broadcast-bitmap Bloom decontamination — the zero-shuffle execution
  * strategy for eval-set filtering at corpus scale. The exact n-gram
  * path ([[TextOps.contamination]]) ships every document's grams into
  * a (broadcast) semi-join; this path instead compresses the eval
  * set's gram fingerprint into an m-bit Bloom array (k salted md5
  * hashes per gram) that rides into the scan as a plan literal, so
  * flagging a document is a pure projection: ONE pass over the corpus,
  * no join, no Exchange, no aggregation — the plan a 100 TB
  * decontamination sweep actually wants (the full-fidelity exact join
  * then runs only on the Bloom-candidate subset). The classic Bloom
  * guarantee holds by construction: no false negatives, false
  * positives bounded by (1−e^{−kn/m})^k.
  *
  * Every bit position is the repo's md5-hex-prefix law
  * (Dedup.scala:21), so the DuckDB oracle replays the bitmap
  * membership test bit-for-bit: bit p is set iff some (eval gram,
  * hash index) maps to p — relationally, membership of p in the
  * distinct eval position set.
  *
  * Reference anchor: the reference's contamination check is an exact
  * pandas merge (analysis/contamination.py); a Bloom pre-filter is
  * the published scale idiom (e.g. GPT-3's training-set filtering).
  */
object Bloom {

  /** SQL fragment: salted md5 bit position of gram expression `g` for
    * hash index expression `i` (both SQL strings), uniform in
    * [0, mBits). 13 hex digits = 52 bits — positive BIGINT in both
    * engines.
    */
  private def posSql(g: String, i: String, mBits: Int): String =
    s"cast(conv(substring(md5(concat('bf', cast($i as string), '#', $g)), 1, 13), 16, 10) as bigint) % $mBits"

  /** Build the eval-set bitmap: distinct bit positions of the probe
    * corpus' word n-grams under k salted hashes, OR-ed into an
    * Array[Long]. The collect is bounded by the PARAMETER mBits (at
    * most mBits distinct positions exist — 2^17 bits = 16 KiB of
    * bitmap), not by the eval corpus size: this is the documented
    * driver-bounded idiom, and the artifact is exactly what a cluster
    * job would broadcast.
    */
  def evalBitmap(probes: DataFrame, text: String, n: Int = 3,
      mBits: Int = 131072, k: Int = 3): Array[Long] = {
    require(mBits % 64 == 0, s"mBits must be a multiple of 64, got $mBits")
    val grams = TextOps.ngramSet(probes, text, n)
    val posCols = (0 until k).map(i => expr(posSql("_g", i.toString, mBits)))
    val positions = grams
      .select(explode(array(posCols: _*)).as("p")).distinct()
      .collect().map(_.getLong(0)) // ≤ mBits rows by construction
    val bm = new Array[Long](mBits / 64)
    positions.foreach(p => bm((p >> 6).toInt) |= (1L << (p & 63).toInt))
    bm
  }

  /** Per-document Bloom flag: true iff ANY of the document's word
    * n-grams has all k bits set in `bitmap`. Pure projection — the
    * bitmap is a plan literal probed with element_at, the grams stay
    * an in-row array (no explode), so the executed plan is a single
    * scan with zero Exchange (Round10Spec asserts this).
    */
  def bloomFlag(docs: DataFrame, id: String, text: String,
      bitmap: Array[Long], n: Int = 3, k: Int = 3): DataFrame = {
    val mBits = bitmap.length * 64
    val test = // one md5 per (gram, hash index); forall over the k positions
      s"""exists(_ga, g -> forall(
         |  transform(sequence(0, ${k - 1}, 1), i -> ${posSql("g", "i", mBits)}),
         |  p -> (shiftright(element_at(_bm, cast((p div 64) as int) + 1),
         |        cast(p % 64 as int)) & 1) = 1))""".stripMargin
    docs
      .select(col(id), split(lower(col(text)), " ").as("_w"))
      .withColumn("_ga", TextOps.wordGrams("_w", n))
      .withColumn("_bm", lit(bitmap))
      // a null text yields a null gram array and `exists` propagates
      // the null; coalesce keeps both evaluator flags non-null booleans
      // and the bloom_flag ⊇ exact_flag law non-vacuous on null docs
      // (r10 advice)
      .select(col(id), coalesce(expr(test), lit(false)).as("bloom_flag"))
  }

  /** The full evaluator face: Bloom flag per document next to the
    * exact-join flag, so the (bounded, one-sided) false-positive
    * behavior is visible. bloom_flag ⊇ exact_flag always.
    */
  def contaminationBloom(docs: DataFrame, probes: DataFrame, id: String,
      text: String, n: Int = 3, mBits: Int = 131072, k: Int = 3): DataFrame = {
    val bm = evalBitmap(probes, text, n, mBits, k)
    val exact = TextOps.contamination(docs, probes, id, text, n)
      .select(col(id), (col("n_contaminated") > 0).as("exact_flag"))
    bloomFlag(docs, id, text, bm, n, k)
      .join(exact, Seq(id), "left")
      .select(col(id), col("bloom_flag"),
        coalesce(col("exact_flag"), F.lit(false)).as("exact_flag"))
  }
}
