package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Document deduplication for LLM-training-data pipelines (SURVEY §2.12
  * #53–56): exact (canonicalized hash), exact n-gram Jaccard via an
  * inverted shingle index, MinHash+LSH banding, and SimHash.
  *
  * Scale design: nothing here is ever all-pairs. Every pair generator is
  * an equi-join — on the content hash (exact), on a shingle (n-gram), on
  * a band signature (MinHash), on a signature half (SimHash) — and
  * verification runs only on candidates surfaced by those joins.
  *
  * Resource discipline (round-3 verdict): every persist here is released
  * in a `finally` after the (small) pair output is eagerly materialized
  * with `localCheckpoint` — in a long-lived session, leaked blocks from
  * one dedup run would otherwise crowd out every later job's memory.
  *
  * Hashes are md5-hex-prefix based so the DuckDB oracle can replay the
  * pipeline bit-for-bit.
  */
object Dedup {

  /** Whitespace word tokens of a text column. */
  def words(text: Column): Column = split(text, " ")

  /** Distinct n-word shingles ("w1 w2 w3") from a word-array column.
    * Documents shorter than n words yield an empty set (the trailing
    * filter drops the partial shingle concat_ws would otherwise
    * produce). Pass a PRE-PROJECTED array attribute, not an inline
    * split(...): inlined, every one of the ~n transform slots would
    * re-evaluate the split — O(words²) work per document (round-3
    * verdict: 6.7 s to shingle 584 KB of text, all in recomputed
    * splits).
    */
  def shinglesOf(w: Column, n: Int = 3): Column =
    // native codegen'd kernel (graft.functions.WordShingles) — the same
    // law as the former declarative chain
    //   array_distinct(filter(transform(sequence(0, greatest(|w|-n, 0)),
    //     i -> concat_ws(' ', w[i+1..i+n])), s -> size(split(s,' ')) = n))
    // proven element-by-element in the kernel's scaladoc; the chain's
    // higher-order lambdas are interpreted, and when a filter or a
    // collapsed projection inlined it the split re-ran per element slot
    // (r3 and r9 both paid this)
    graft.functions.minhash.wordShingles(w, n)

  /** Backwards-compatible single-Column shingler (tests / ad-hoc use).
    * Hot paths go through [[shingleFrame]] instead.
    */
  def shingles(text: Column, n: Int = 3): Column = shinglesOf(words(text), n)

  /** (_id, _sh) — one row per doc with its distinct shingle set. The
    * word array is materialized as its own projection step so split()
    * runs once per document (see [[shinglesOf]]).
    */
  def shingleFrame(docs: DataFrame, id: String, text: String, n: Int,
      sorted: Boolean = false): DataFrame = {
    val withWords = docs.select(col(id).as("_id"), words(col(text)).as("_w"))
    val sh = shinglesOf(col("_w"), n)
    withWords.select(col("_id"), (if (sorted) array_sort(sh) else sh).as("_sh"))
  }

  /** Exact dedup (#53) after canonicalization: docs with the same sorted
    * distinct lowercase word set share a group; the group id is the
    * minimum doc id (deterministic keep-first). One shuffle on the
    * content digest.
    */
  def exact(docs: DataFrame, id: String, text: String): DataFrame = {
    val canon = sha2(array_join(array_sort(array_distinct(words(lower(col(text))))), " "), 256)
    val withKey = docs.select(col(id), canon.as("_digest"))
    val groups = withKey.groupBy("_digest")
      .agg(min(col(id)).as("dup_group"), count(lit(1)).as("n_dups"))
    withKey.join(groups, "_digest").select(col(id), col("dup_group"), col("n_dups"))
  }

  /** Exact n-gram Jaccard with PREFIX FILTERING (Chaudhuri et al.):
    * under a global (lexicographic) shingle order, any pair with
    * J ≥ t must share a shingle inside each side's first
    * |S| − ⌈t·|S|⌉ + 1 sorted shingles — so only that prefix is indexed.
    * Candidates shrink from "share ANY shingle" to "share a PREFIX
    * shingle" (~(1−t)² of the naive volume) with zero false negatives;
    * the true Jaccard is then verified on the full sets.
    *
    * The shingle frame is persisted across its three uses (prefix index
    * + two verification joins) and released before returning; the output
    * (near-dup pairs over threshold) is small by definition and is
    * materialized eagerly so the release is safe.
    */
  def ngramJaccard(docs: DataFrame, id: String, text: String, n: Int, threshold: Double): DataFrame = {
    val sh = shingleFrame(docs, id, text, n, sorted = true)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try ngramJaccardFrom(sh, threshold)
    finally sh.unpersist(false)
  }

  /** [[ngramJaccard]] body over a PREPARED (persisted, array-sorted)
    * shingle frame — lets evaluators that also run the LSH pipeline
    * share one shingling pass. The result is localCheckpoint-ed
    * (eager), so the caller may unpersist the input immediately after.
    */
  def ngramJaccardFrom(sh: DataFrame, threshold: Double): DataFrame = {
    val withPrefix = sh.withColumn("_pl",
      (size(col("_sh")) - ceil(lit(threshold) * size(col("_sh"))) + 1).cast("int"))
    val inv = withPrefix
      .select(col("_id"), size(col("_sh")).as("_n"),
        explode(slice(col("_sh"), lit(1), col("_pl"))).as("_s"))
    // Size filter (also candidate-safe): J ≥ t forces t·|B| ≤ |A| ≤ |B|/t,
    // so wildly different-sized docs never reach verification.
    val cands = inv.select(col("_id").as("id1"), col("_n").as("_na"), col("_s"))
      .join(inv.select(col("_id").as("id2"), col("_n").as("_nb"), col("_s")), "_s")
      .filter(col("id1") < col("id2") &&
        col("_na") >= lit(threshold) * col("_nb") &&
        col("_nb") >= lit(threshold) * col("_na"))
      .select("id1", "id2").distinct()
    verified(cands, sh, sh, threshold)
  }

  /** Pick one canonical doc per near-dup component by an arbitrary
    * quality score (highest wins, ties by lowest id) instead of the
    * min-id default — the "keep the best copy, not the first copy"
    * retention policy. `comp` is connectedComponents output (id,
    * cluster); `scored` carries (idCol, scoreCol). One aggregation on
    * the cluster id: min(struct(-score, id)) — no window, partial
    * aggregation map-side. The SCORE (numeric by contract) is negated,
    * never the id, so any orderable id type (string, long, …) passes
    * through untouched.
    */
  def canonicalByScore(comp: DataFrame, scored: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    require(scored.schema(scoreCol).dataType
      .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"score column $scoreCol must be numeric")
    val joined = comp.join(scored.select(col(idCol).as("id"), col(scoreCol).as("_sc")), "id")
    val best = joined
      .groupBy("cluster")
      .agg(min(struct((-col("_sc")).as("_negsc"), col("id"))).as("_b"))
      .select(col("cluster"), col("_b.id").as("canonical_id"))
    joined.join(best, "cluster")
      .select(col("id").as(idCol), col("canonical_id"),
        (col("id") === col("canonical_id")).as("keep"))
  }

  /** Long-form banded MinHash signatures — one (id, shingles, band
    * index, band key) row per band (band keys as in [[withBandKeys]]),
    * computed ENTIRELY per row before a single posexplode: no groupBy,
    * no window, no self-reference. This is the streaming-safe
    * projection of the banding (a stateless narrow op per micro-batch),
    * and the band frame a deployment persists as its incremental
    * near-dup index.
    */
  def bandedLong(docs: DataFrame, id: String, text: String, n: Int = 3,
      bands: Int = 4, rows: Int = 3): DataFrame = {
    // no size(_sh) > 0 filter: empty shingle sets get NULL band keys and
    // posexplode drops those rows — the filter form was pushed below the
    // projection and inlined the whole interpreted shingle chain per row
    // (r9 plan audit)
    shingleFrame(docs, id, text, n).select(col("_id"), col("_sh"),
      posexplode(graft.functions.minhash.bandKeys(col("_sh"), bands, rows))
        .as(Seq("_bidx", "_bkey")))
  }

  /** A shingle frame (_id, _sh) with its MinHash band keys `_bk` beside
    * it. A caller that persists this frame computes every doc's band
    * keys once, however many joins read them.
    *
    * Band keys: `bands` keys, each the ':'-join of `rows` minima,
    * minhash_i = lexicographic min over the doc's shingles of
    * hashᵢ(shingle) = the first 8 hex chars of md5("i#" ∥ shingle).
    * String min avoids engine-specific hex→int casts while keeping the
    * uniform-permutation behavior of the hash. NULL on an empty shingle
    * set, so posexplode emits no band row for a doc shorter than n words
    * (all-null keys would otherwise bucket every such doc together).
    *
    * ONE codegen'd kernel call that references the shingle set once
    * (graft.functions.minhash.bandKeys — bit-identical to the
    * declarative law, see the kernel's scaladoc). The declarative form —
    * k `array_min(transform(...))` projections — collapsed with the
    * shingle projection and re-evaluated the shingle construction k+1
    * times per row (6.4 s of banding vs 0.8 s for one shingling pass at
    * sf0.1, r9), and its lambdas are interpreted.
    */
  private[graft] def withBandKeys(sh: DataFrame, bands: Int, rows: Int): DataFrame =
    sh.select(col("_id"), col("_sh"),
      graft.functions.minhash.bandKeys(col("_sh"), bands, rows).as("_bk"))

  /** The LSH bucket join over two [[withBandKeys]] frames: each side
    * posexplodes to one (_id, _bidx, _bkey) row per band, then ONE
    * equi-join on (_bidx, _bkey) pairs every two docs that share any
    * band key; `self` (both sides the same corpus) keeps id1 < id2,
    * distinct id spaces keep every pair. The distinct folds a pair that
    * collides in several bands into one candidate. Not checkpointed, so
    * the plan-shape spec can read the join.
    */
  private[graft] def bandJoin(left: DataFrame, right: DataFrame, self: Boolean): DataFrame = {
    def keys(b: DataFrame, as: String) =
      b.select(col("_id").as(as), posexplode(col("_bk")).as(Seq("_bidx", "_bkey")))
    val pairs = keys(left, "id1").join(keys(right, "id2"), Seq("_bidx", "_bkey"))
    (if (self) pairs.filter(col("id1") < col("id2")) else pairs)
      .select("id1", "id2").distinct()
  }

  /** Candidate pairs (id1, id2) verified by the true Jaccard of id1's
    * shingle set in `left` and id2's in `right` (rounded to 5 places),
    * kept at ≥ threshold. localCheckpoint-ed (eager), so the caller may
    * release the shingle frames immediately after.
    */
  private def verified(cands: DataFrame, left: DataFrame, right: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(left.select(col("_id").as("id1"), col("_sh").as("_sa")), "id1")
      .join(right.select(col("_id").as("id2"), col("_sh").as("_sb")), "id2")
      .select(col("id1"), col("id2"),
        round(size(array_intersect(col("_sa"), col("_sb")))
          .cast("double") / size(array_union(col("_sa"), col("_sb"))), 5).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .localCheckpoint(true)

  /** LSH candidate pairs BEFORE Jaccard verification — the raw band-join
    * output. Exposed so the banding quality itself can be measured
    * ([[lshCandidateEval]]): post-verification pairs are always precise,
    * so candidate-level precision (wasted verification work) and recall
    * (true pairs no band caught) are the tunable signals for (bands,
    * rows) selection at scale.
    */
  def minhashCandidates(docs: DataFrame, id: String, text: String,
      n: Int = 3, bands: Int = 4, rows: Int = 3): DataFrame =
    minhashCandidatesFrom(shingleFrame(docs, id, text, n), bands, rows)

  /** [[minhashCandidates]] body over a PREPARED shingle frame, read
    * once: its band keys are persisted for the two sides of the band
    * join and released here. The result is localCheckpoint-ed (eager),
    * so the caller may unpersist the input immediately after.
    */
  def minhashCandidatesFrom(sh: DataFrame, bands: Int, rows: Int): DataFrame = {
    val b = withBandKeys(sh, bands, rows).persist(StorageLevel.MEMORY_AND_DISK)
    try bandJoin(b, b, self = true).localCheckpoint(true)
    finally b.unpersist(false)
  }

  /** Candidate-level evaluation of the MinHash-LSH banding against the
    * exact n-gram-Jaccard ground truth on the same corpus: precision =
    * useful fraction of band candidates, recall = true near-dup pairs a
    * band caught, f1 via the exact identity 2PR/(P+R) = 2h/(c+t) — one
    * long division, no compounded float ops. The analogue of
    * `block_eval` for the dedup family.
    */
  def lshCandidateEval(docs: DataFrame, id: String, text: String,
      n: Int = 3, bands: Int = 4, rows: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // ONE shingling pass feeds both pipelines (the evaluator runs LSH
    // AND the exact truth by definition — but tokenize/shingle only
    // once): the LSH side uses the frame as-is, the prefix-filter truth
    // side its array_sort'ed projection (row-local, no extra shuffle).
    val sh = shingleFrame(docs, id, text, n).persist(StorageLevel.MEMORY_AND_DISK)
    val (cands, truth) =
      try {
        val shSorted = sh.select(col("_id"), array_sort(col("_sh")).as("_sh"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // both localCheckpoint-ed eagerly inside, so unpersist is safe
          (minhashCandidatesFrom(sh, bands, rows),
            ngramJaccardFrom(shSorted, threshold).select("id1", "id2"))
        } finally shSorted.unpersist(false)
      } finally sh.unpersist(false)
    val c = cands.agg(count(lit(1)).as("n_candidates"))
    val t = truth.agg(count(lit(1)).as("n_truth"))
    val h = cands.join(truth, Seq("id1", "id2")).agg(count(lit(1)).as("n_hits"))
    val hD = col("n_hits").cast("double")
    c.crossJoin(t).crossJoin(h).select(
      col("n_candidates"), col("n_truth"), col("n_hits"),
      (hD / col("n_candidates").cast("double")).as("precision"),
      (hD / col("n_truth").cast("double")).as("recall"),
      ((lit(2.0) * hD)
        / (col("n_candidates") + col("n_truth")).cast("double")).as("f1"))
  }

  /** MinHash + LSH near-dup (#54): k hashes in `bands` bands of `rows`
    * rows; docs sharing any band key become candidates (ONE equi-join on
    * (band index, band key) — the LSH bucket join, [[bandJoin]]);
    * candidates are verified with the true shingle Jaccard.
    */
  def minhashLsh(docs: DataFrame, id: String, text: String, n: Int = 3,
      bands: Int = 4, rows: Int = 3, threshold: Double = 0.8): DataFrame = {
    // Persisted: read by both sides of the band join AND both
    // verification joins. Released in the finally below.
    val sh = withBandKeys(shingleFrame(docs, id, text, n), bands, rows)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try verified(bandJoin(sh, sh, self = true), sh, sh, threshold)
    finally sh.unpersist(false)
  }

  /** Cross-corpus MinHash + LSH: near-dups of `left` docs against a
    * SEPARATE `right` corpus — fuzzy decontamination of a training set
    * against an eval set (the Llama/GPT-report variant of exact n-gram
    * contamination), or incremental dedup against an existing index.
    * Same band keys and bucket join as [[minhashLsh]], but the one
    * (band index, band key) equi-join runs LEFT × RIGHT instead of
    * self-joining (no id1<id2 filter — the id spaces are distinct);
    * never all-pairs, and AQE broadcasts the eval side's band rows when
    * they are small (the usual case).
    */
  def minhashLshAgainst(left: DataFrame, right: DataFrame, id: String,
      text: String, n: Int = 3, bands: Int = 4, rows: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    def banded(d: DataFrame) = withBandKeys(shingleFrame(d, id, text, n), bands, rows)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val shL = banded(left)
    val shR = banded(right)
    try verified(bandJoin(shL, shR, self = false), shL, shR, threshold)
    finally { shL.unpersist(false); shR.unpersist(false) }
  }

  /** 16-bit SimHash signature (#55) over distinct word tokens: bit j is
    * set iff more tokens have a high j-th md5 hex digit (≥ '8', i.e. a
    * +1 vote) than not. Returned as a 16-char '0'/'1' string.
    */
  def simhashSig(docs: DataFrame, id: String, text: String): DataFrame = {
    // Deliberately explode → groupBy(16 sums), NOT a per-row HOF fold:
    // without a materialization boundary Catalyst's CollapseProject
    // inlines the md5 array into all 16 vote expressions — md5 runs 16×
    // per token (measured 3× slower end-to-end). Here md5 is evaluated
    // once per token row and hash aggregation partials combine map-side,
    // so the exchange carries one partial row per doc per partition —
    // already the right shape at 100 TB. (The MinHash band keys CAN
    // fold per row: one native kernel call over the shingle set, which
    // no collapsed projection can multiply.)
    // The 16 votes need only the HIGH BIT of each of the first 16 hex
    // nibbles (digit ≥ '8'). Extract the two 32-bit halves once per
    // token (conv + cast) and read each vote as an integer shift/and —
    // long arithmetic inside whole-stage codegen instead of 16
    // substring+isin string ops per token row. Same law bit-for-bit:
    // nibble k of an 8-hex-char value sits at bit (7-k)*4+3. (The r12
    // probe shows the sig agg is NOT the query's bottleneck — 0.34 s
    // warm of ~2.5 s — this keeps the per-token work proportional to
    // hashing, which is what matters when the corpus is 10⁹ docs.)
    val toks = docs
      .select(col(id).as("_id"), explode(array_distinct(words(lower(col(text))))).as("_t"))
      .withColumn("_md5", md5(col("_t")))
      .select(col("_id"),
        conv(substring(col("_md5"), 1, 8), 16, 10).cast("long").as("_hi"),
        conv(substring(col("_md5"), 9, 8), 16, 10).cast("long").as("_lo"))
    val votes = (0 until 16).map { j =>
      val half = if (j < 8) col("_hi") else col("_lo")
      val bit = shiftright(half, (7 - (j % 8)) * 4 + 3).bitwiseAND(lit(1L))
      sum(bit * lit(2L) - lit(1L)).as(s"_v$j")
    }
    toks.groupBy("_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("_id").as(id),
        concat((0 until 16).map(j => when(col(s"_v$j") > 0, "1").otherwise("0")): _*)
          .as("simhash"))
  }

  /** SimHash near-dup pairs (#55): bucket join on each signature half
    * (any pair within Hamming ≤ 1 must collide on one half; ≤ 3 is
    * caught with high probability — the standard band trade-off), then
    * exact Hamming ≤ maxHamming verification.
    */
  def simhashPairs(docs: DataFrame, id: String, text: String, maxHamming: Int = 3): DataFrame = {
    val sig = simhashSig(docs, id, text)
    // Carry the signature as an integer: Hamming distance is then one
    // xor + bit_count instead of 16 substring compares per pair.
    val halves = sig.select(col(id).as("_id"),
      conv(col("simhash"), 2, 10).cast("long").as("_sig"),
      substring(col("simhash"), 1, 8).as("_b0"),
      substring(col("simhash"), 9, 8).as("_b1"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Hamming-verify INSIDE each band join, BEFORE the dedup
      // distinct: an 8-bit half over a corpus of N docs has ≤ 256
      // buckets, so the raw candidate set is dense (~N²/512 per band —
      // 5.0M pairs at sf0.1) while the verified set is ~10× smaller.
      // xor+bit_count runs map-side in the join's codegen stage; the
      // distinct then shuffles only surviving (id1, id2, hamming) rows
      // (r12 probe: union_distinct was the largest phase at 1.41 s
      // warm vs 0.74 s for the raw joins). Filter-then-distinct ≡
      // distinct-then-filter — hamming is a pure function of the pair.
      (0 until 2).map { b =>
        halves.select(col("_id").as("id1"), col("_sig").as("_s1"), col(s"_b$b").as("_bk"))
          .join(halves.select(col("_id").as("id2"), col("_sig").as("_s2"), col(s"_b$b").as("_bk")), "_bk")
          .filter(col("id1") < col("id2"))
          .select(col("id1"), col("id2"),
            bit_count(col("_s1").bitwiseXOR(col("_s2"))).cast("int").as("hamming"))
          .filter(col("hamming") <= maxHamming)
      }.reduce(_.unionByName(_)).distinct()
        .localCheckpoint(true)
    } finally halves.unpersist(false)
  }

  /** One-sided containment dedup (CCNet-style "A is a sub-document of
    * B"): C(A→B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ t — catches quoted /
    * excerpted / wrapped copies that symmetric Jaccard misses when the
    * container is much longer. Prefix filtering still applies
    * one-sided: if C(A→B) ≥ t then A shares a shingle with B inside
    * A's first |A| − ⌈t·|A|⌉ + 1 SORTED shingles, so only that ~(1−t)
    * prefix of the contained side is indexed; the container side
    * indexes all shingles (at 100 TB: cap its document frequency or
    * reuse the LSH band index to pre-prune hot shingles). Output is
    * the directed pair frame (contained_id, container_id, containment).
    */
  def containment(docs: DataFrame, id: String, text: String, n: Int = 3,
      threshold: Double = 0.9): DataFrame = {
    val sh = shingleFrame(docs, id, text, n, sorted = true)
      .filter(size(col("_sh")) > 0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (candsPlan, ex) = containmentCandidates(sh, threshold)
      val cands = candsPlan.localCheckpoint(true)
      ex.unpersist(false)
      cands
        .join(sh.select(col("_id").as("ida"), col("_sh").as("_sa")), "ida")
        .join(sh.select(col("_id").as("idb"), col("_sh").as("_sb")), "idb")
        .select(col("ida").as("contained_id"), col("idb").as("container_id"),
          round(size(array_intersect(col("_sa"), col("_sb"))).cast("double")
            / size(col("_sa")), 5).as("containment"))
        .filter(col("containment") >= threshold)
        .localCheckpoint(true)
    } finally sh.unpersist(false)
  }

  /** [[containment]]'s candidate stage, exposed pre-checkpoint so the
    * plan-shape spec can assert its physical form (equi-join on the
    * shingle key, window on the df-ordered prefix, no nested loop).
    * Returns (candidate frame, the persisted exploded frame the caller
    * must unpersist after materializing the candidates).
    *
    * Prefix order = GLOBAL document frequency ASC (ties: shingle
    * asc) — Chaudhuri's idf-order refinement: the contained side
    * indexes its RAREST |A| − ⌈t·|A|⌉ + 1 shingles, so the
    * candidate join lands on low-df keys instead of the corpus's
    * hottest n-grams (lexicographic prefix order measured 4×
    * slower here on a small-vocabulary corpus). Any fixed global
    * order preserves the zero-false-negative guarantee.
    */
  def containmentCandidates(sh: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val ex = sh.select(col("_id"), explode(col("_sh")).as("_s"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val df = ex.groupBy("_s").agg(count(lit(1)).as("_df"))
    val pl = size(col("_sh")) - ceil(lit(threshold) * size(col("_sh"))) + 1
    val rk = Window.partitionBy(col("_id")).orderBy(col("_df"), col("_s"))
    val invA = ex.join(df, "_s")
      .join(sh.select(col("_id"), pl.cast("int").as("_pl")), "_id")
      .withColumn("_r", row_number().over(rk))
      .filter(col("_r") <= col("_pl"))
      .select(col("_id").as("ida"), col("_s"))
    val invB = ex.select(col("_id").as("idb"), col("_s"))
    val cands = invA.join(invB, "_s")
      .filter(col("ida") =!= col("idb"))
      .select("ida", "idb").distinct()
    (cands, ex)
  }
}
