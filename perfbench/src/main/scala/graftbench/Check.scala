package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Column

/** Independent, single-threaded checks of what a pipeline execution wrote.
  * Nothing here calls graft: the comparators, the exact-dup key, shingle
  * Jaccard, token entropy, contamination counts and packing offsets are
  * recomputed from their textbook definitions over the generator's
  * in-memory records, and components come from a union-find.
  */
object Check {

  final case class Result(errors: Seq[String], f1: Double, counts: Map[String, Double]) {
    def ok: Boolean = errors.isEmpty
  }

  private final class Errors {
    val list = mutable.ArrayBuffer.empty[String]
    def apply(cond: Boolean, msg: => String): Unit = if (!cond && list.size < 20) list += msg
  }

  /** Numeric slack: emitted scores are rounded to 5 places; pairs this
    * close to a threshold may fall either way.
    */
  val Eps = 2e-5

  // ------------------------------------------------------------ comparators

  def jaro(s1: String, s2: String): Double = {
    val (l1, l2) = (s1.length, s2.length)
    if (l1 == 0 && l2 == 0) return 1.0
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val used1 = new Array[Boolean](l1)
    val used2 = new Array[Boolean](l2)
    var m = 0
    for (i <- 0 until l1) {
      var j = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      while (j <= hi && !used1(i)) {
        if (!used2(j) && s2.charAt(j) == s1.charAt(i)) { used1(i) = true; used2(j) = true; m += 1 }
        j += 1
      }
    }
    if (m == 0) return 0.0
    // transpositions: half the out-of-order matched characters, rounded
    // down (the convention of DuckDB's jaro, which graft follows)
    var k = 0
    var half = 0
    for (i <- 0 until l1 if used1(i)) {
      while (!used2(k)) k += 1
      if (s1.charAt(i) != s2.charAt(k)) half += 1
      k += 1
    }
    val md = m.toDouble
    (md / l1 + md / l2 + (md - half / 2) / md) / 3.0
  }

  /** Jaro-Winkler: prefix bonus (≤ 4 chars, scale 0.1) above Jaro 0.7. */
  def jaroWinkler(s1: String, s2: String): Double = {
    val j = jaro(s1, s2)
    if (j <= 0.7) j
    else {
      val p = s1.zip(s2).take(4).takeWhile { case (a, b) => a == b }.size
      j + p * 0.1 * (1 - j)
    }
  }

  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length)
        cur(j) = math.min(math.min(cur(j - 1), prev(j)) + 1,
          prev(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      val t = prev; prev = cur; cur = t
    }
    prev(b.length)
  }

  def levenshteinSim(a: String, b: String): Double = {
    val mx = math.max(a.length, b.length)
    if (mx == 0) 1.0 else 1.0 - levenshtein(a, b).toDouble / mx
  }

  // --------------------------------------------------------- union-find

  final class UnionFind {
    private val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
  }

  /** Pair-level F1 of predicted groups against true groups, both given as
    * item → group label over the same items.
    */
  def pairF1(pred: Map[Long, Long], truth: Map[Long, Long]): Double = {
    def pairs(n: Long) = n * (n - 1) / 2
    val p = pred.values.groupBy(identity).values.map(g => pairs(g.size.toLong)).sum
    val t = truth.values.groupBy(identity).values.map(g => pairs(g.size.toLong)).sum
    val h = pred.keys.groupBy(k => (pred(k), truth.getOrElse(k, -k - 1)))
      .values.map(g => pairs(g.size.toLong)).sum
    if (p + t == 0) 1.0 else 2.0 * h / (p + t)
  }

  // ----------------------------------------------------------------- ER

  /** The rule the pipeline runs (as graft columns) and the same rule as
    * plain code (`terms`, cheapest first), over records normalized like the
    * pipeline normalizes them. Left and right records are blocked on
    * `region`.
    */
  final case class ErSpec(comparators: Seq[(Column, Double)],
      terms: Seq[((Gen.Rec, Gen.Rec) => Double, Double)], threshold: Double) {

    def score(a: Gen.Rec, b: Gen.Rec): Double = terms.map { case (f, w) => w * f(a, b) }.sum

    /** Whether the score clears `threshold + Eps`; stops as soon as the
      * remaining weights cannot lift the partial sum that far.
      */
    def clears(a: Gen.Rec, b: Gen.Rec): Boolean = {
      var acc = 0.0
      var rest = terms.map(_._2).sum
      terms.forall { case (f, w) =>
        rest -= w
        acc += w * f(a, b)
        acc + rest >= threshold + Eps
      }
    }
  }

  /** matches (id1, id2, score); clusters (rid, cluster); fused (cluster, n_records). */
  final case class ErOutput(matches: Seq[(Long, Long, Double)], clusters: Seq[(Long, Long)],
      fused: Seq[(Long, Long)])

  /** strip+lower on name and city, plus whitespace collapse on street. */
  def normalize(r: Gen.Rec): Gen.Rec =
    r.copy(name = r.name.trim.toLowerCase, city = r.city.trim.toLowerCase,
      street = r.street.trim.toLowerCase.replaceAll("\\s+", " "))

  /** F1 floor from the generator: light copies score ≥ 0.91 by
    * construction, so recall ≥ the light share less sampling slack, and
    * unrelated records never clear the threshold.
    */
  def erF1Floor(d: Gen.ErData): Double = {
    val r = math.max(0.0, d.lightShare - 0.05)
    2 * r / (1 + r) - 0.03
  }

  def er(spec: ErSpec, d: Gen.ErData, o: ErOutput): Result = {
    val err = new Errors
    val recs = d.all.map(normalize)
    val byId = recs.map(r => r.rid -> r).toMap
    val left = d.left.map(_.rid).toSet

    // matches: each pair exists, shares its block key and recomputes ≥ θ
    val emitted = mutable.HashSet.empty[(Long, Long)]
    o.matches.foreach { case (a, b, s) =>
      err(emitted.add((a, b)), s"duplicate match ($a,$b)")
      (byId.get(a), byId.get(b)) match {
        case (Some(x), Some(y)) =>
          err(x.region == y.region, s"match ($a,$b) crosses blocks")
          err(left(a) && !left(b), s"match ($a,$b) not left×right")
          val exp = spec.score(x, y)
          err(exp >= spec.threshold - Eps, f"match ($a,$b) recomputes to $exp%.6f")
          err(math.abs(exp - s) <= Eps, f"match ($a,$b) score $s vs recomputed $exp%.6f")
        case _ => err(false, s"match ($a,$b) names an unknown record")
      }
    }
    // completeness: every candidate pair that clears θ was emitted
    recs.groupBy(_.region).values.foreach { b =>
      val (ls, rs) = b.partition(r => left(r.rid))
      for (x <- ls; y <- rs)
        if (!emitted((x.rid, y.rid)) && spec.clears(x, y))
          err(false, s"missing match (${x.rid},${y.rid})")
    }

    // clusters = connected components of the emitted matches (min id)
    val uf = new UnionFind
    o.matches.foreach { case (a, b, _) => uf.union(a, b) }
    val assigned = mutable.HashMap.empty[Long, Long]
    o.clusters.foreach { case (rid, c) =>
      err(assigned.put(rid, c).isEmpty, s"record $rid assigned twice")
      err(c == uf.find(rid), s"record $rid in cluster $c, component min is ${uf.find(rid)}")
    }
    err(assigned.size == recs.size && recs.forall(r => assigned.contains(r.rid)),
      s"${assigned.size} of ${recs.size} records assigned")

    // fusion: one fused record per cluster, n_records = cluster size
    val sizes = assigned.values.groupBy(identity).map { case (c, g) => c -> g.size.toLong }
    val fusedIds = mutable.HashSet.empty[Long]
    o.fused.foreach { case (c, n) =>
      err(fusedIds.add(c), s"cluster $c fused twice")
      err(sizes.get(c).contains(n), s"cluster $c fused from $n records, has ${sizes.getOrElse(c, 0L)}")
    }
    err(fusedIds.size == sizes.size, s"${fusedIds.size} fused records for ${sizes.size} clusters")
    err(o.fused.map(_._2).sum == recs.size, s"n_records sum ${o.fused.map(_._2).sum} != ${recs.size}")

    // quality against the planted truth
    val truth = recs.map(r => r.rid -> r.ent).toMap
    val f1 = pairF1(assigned.toMap, truth)
    val floor = erF1Floor(d)
    err(f1 >= floor, f"f1 $f1%.4f below floor $floor%.4f")
    Result(err.list.toSeq, f1, Map(
      "clustering.clusters" -> sizes.size.toDouble,
      "clustering.max_cluster" -> (if (sizes.isEmpty) 0.0 else sizes.values.max.toDouble)))
  }

  // ------------------------------------------------------------- corpus

  final case class CorpusSpec(shingle: Int, jaccard: Double, entropyLow: Double, contN: Int,
      contMaxBp: Long, seqLen: Long)

  /** near (id1, id2, jaccard); canonical (doc_id, dup_group, cluster or -1
    * for exact copies); cont (doc_id, n_ngrams, n_contaminated, bp);
    * packed (doc_id, n_tokens, stream_offset, seq_id, seq_offset).
    */
  final case class CorpusOutput(near: Seq[(Long, Long, Double)],
      canonical: Seq[(Long, Long, Long)], cont: Seq[(Long, Long, Long, Long)],
      packed: Seq[(Long, Long, Long, Long, Long)])

  def shingles(text: String, n: Int): Set[String] =
    text.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  /** Word n-grams of the lowercased text, with repeats (as counted for
    * contamination); a text shorter than n yields itself.
    */
  def grams(text: String, n: Int): Seq[String] = {
    val w = text.toLowerCase.split(" ", -1).toSeq
    if (w.size < n) Seq(w.mkString(" ")) else w.sliding(n).map(_.mkString(" ")).toSeq
  }

  /** Normalized unigram token entropy H / ln(dl), H = ln dl − Σ tf·ln tf / dl. */
  def entropyNorm(text: String): Double = {
    val toks = text.toLowerCase.split(" ", -1)
    val dl = toks.length.toDouble
    if (dl <= 1) 0.0
    else {
      val s = toks.groupBy(identity).values.map { g => val tf = g.length.toDouble; tf * math.log(tf) }.sum
      (math.log(dl) - s / dl) / math.log(dl)
    }
  }

  def corpusF1Floor: Double = 0.9

  def corpus(spec: CorpusSpec, d: Gen.CorpusData, o: CorpusOutput): Result = {
    val err = new Errors
    val text = d.docs.map(x => x.docId -> x.text).toMap

    // exact groups: same sorted distinct lowercase word set, min id wins
    val key = text.map { case (id, t) => id -> t.toLowerCase.split(" ", -1).distinct.sorted.mkString(" ") }
    val exactMin = key.groupBy(_._2).values.flatMap { g => val m = g.keys.min; g.keys.map(_ -> m) }.toMap
    val canonRows = o.canonical.map(r => r._1 -> r).toMap
    err(canonRows.size == o.canonical.size, "a document appears twice in canonical")
    err(canonRows.keySet == text.keySet, s"${canonRows.size} canonical rows for ${text.size} docs")
    o.canonical.foreach { case (id, g, _) =>
      err(exactMin.get(id).contains(g), s"doc $id exact group $g, expected ${exactMin.get(id)}")
    }

    // near pairs: between exact-canonical docs, recomputed Jaccard ≥ θ
    val sh = mutable.HashMap.empty[Long, Set[String]]
    def shOf(id: Long) = sh.getOrElseUpdate(id, shingles(text(id), spec.shingle))
    val uf = new UnionFind
    o.near.foreach { case (a, b, j) =>
      if (!text.contains(a) || !text.contains(b)) err(false, s"near pair ($a,$b) names an unknown doc")
      else {
        err(a < b && exactMin(a) == a && exactMin(b) == b, s"near pair ($a,$b) not between canonical docs")
        val (x, y) = (shOf(a), shOf(b))
        val exp = (x intersect y).size.toDouble / (x union y).size
        err(exp >= spec.jaccard - 1e-9, f"near pair ($a,$b) recomputes to Jaccard $exp%.5f")
        err(math.abs(exp - j) <= Eps, f"near pair ($a,$b) jaccard $j vs $exp%.5f")
        uf.union(a, b)
      }
    }
    // each canonical document is its component's minimum id
    o.canonical.foreach { case (id, g, c) =>
      if (id == g) err(c == uf.find(id), s"doc $id cluster $c, component min ${uf.find(id)}")
      else err(c == -1L, s"exact copy $id has a near-dup cluster $c")
    }
    val canonical = text.keys.filter(id => exactMin(id) == id && uf.find(id) == id).toSet

    // entropy gate, then contamination recomputed exactly
    val probeGrams = d.probes.flatMap(p => grams(p.text, spec.contN)).toSet
    val contRows = o.cont.map(r => r._1 -> r).toMap
    canonical.foreach { id =>
      val h = entropyNorm(text(id))
      val borderline = math.abs(h - spec.entropyLow) < 1e-6
      if (!borderline) err(contRows.contains(id) == (h >= spec.entropyLow),
        f"doc $id entropy $h%.4f but gate ${if (contRows.contains(id)) "passed" else "dropped"}")
    }
    err(contRows.keySet.subsetOf(canonical), "contamination scored a non-canonical doc")
    o.cont.foreach { case (id, n, c, bp) =>
      val g = grams(text(id), spec.contN)
      val hit = g.count(probeGrams)
      err(n == g.size && c == hit && bp == hit * 10000L / g.size,
        s"doc $id contamination ($n,$c,$bp), expected (${g.size},$hit,${hit * 10000L / g.size})")
    }

    // packing: survivors in id order, offsets a running sum of token counts
    val survivors = o.cont.filter(_._4 < spec.contMaxBp).map(_._1).sorted
    val packed = o.packed.sortBy(_._1)
    err(packed.map(_._1) == survivors, s"${packed.size} packed docs, ${survivors.size} survivors")
    var off = 0L
    packed.foreach { case (id, n, so, sid, soff) =>
      val toks = text.get(id).map(_.toLowerCase.split(" ", -1).length.toLong).getOrElse(-1L)
      err(n == toks, s"doc $id packed with $n tokens, has $toks")
      err(so == off && sid == off / spec.seqLen && soff == off % spec.seqLen,
        s"doc $id packed at ($so,$sid,$soff), expected ($off,${off / spec.seqLen},${off % spec.seqLen})")
      off += toks
    }

    // quality: duplicate pairs against the planted groups
    val pred = text.keys.map(id => id -> uf.find(exactMin(id))).toMap
    val truthGroup = d.dupGroups.flatMap(g => g.map(_ -> g.head)).toMap
    val f1 = pairF1(pred, text.keys.map(id => id -> truthGroup.getOrElse(id, id)).toMap)
    err(f1 >= corpusF1Floor, f"f1 $f1%.4f below floor $corpusF1Floor")
    val comps = o.near.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(uf.find).values.map(_.size)
    Result(err.list.toSeq, f1, Map(
      "dedup.exact_dups" -> (text.size - exactMin.values.toSet.size).toDouble,
      "dedup.near_pairs" -> o.near.size.toDouble,
      "clustering.clusters" -> comps.size.toDouble,
      "clustering.max_cluster" -> (if (comps.isEmpty) 0.0 else comps.max.toDouble),
      "text.docs_kept" -> packed.size.toDouble,
      "text.tokens_packed" -> off.toDouble))
  }
}
