package graftbench

/** Tests of the checker: it accepts a correct output, built here by brute
  * force from the generator's records, and rejects that output with one
  * match pair dropped, one cluster split, one duplicate kept, or one
  * packing offset shifted. Run with `python3 perfbench/build.py test`.
  */
object CheckTest {
  private var failures = 0

  private def expect(name: String, r: Check.Result, ok: Boolean): Unit = {
    val pass = r.ok == ok
    if (!pass) failures += 1
    println(f"${if (pass) "PASS" else "FAIL"} $name%-40s ${r.errors.headOption.getOrElse("")}")
  }

  /** The correct ER output: every candidate pair over θ, its components, one
    * fused row per component.
    */
  def erOutput(spec: Check.ErSpec, d: Gen.ErData): Check.ErOutput = {
    val recs = d.all.map(Check.normalize)
    val left = d.left.map(_.rid).toSet
    val matches = for {
      b <- recs.groupBy(_.region).values.toSeq
      x <- b if left(x.rid)
      y <- b if !left(y.rid)
      s = spec.score(x, y) if s >= spec.threshold
    } yield (x.rid, y.rid, math.round(s * 1e5) / 1e5)
    val uf = new Check.UnionFind
    matches.foreach { case (a, b, _) => uf.union(a, b) }
    val clusters = recs.map(r => (r.rid, uf.find(r.rid)))
    val fused = clusters.groupBy(_._2).map { case (c, g) => (c, g.size.toLong) }.toSeq
    Check.ErOutput(matches, clusters, fused)
  }

  /** The correct corpus output, near pairs by brute-force Jaccard. */
  def corpusOutput(spec: Check.CorpusSpec, d: Gen.CorpusData): Check.CorpusOutput = {
    val text = d.docs.map(x => x.docId -> x.text).toMap
    val key = text.map { case (id, t) => id -> t.toLowerCase.split(" ", -1).distinct.sorted.mkString(" ") }
    val exactMin = key.groupBy(_._2).values.flatMap { g => val m = g.keys.min; g.keys.map(_ -> m) }.toMap
    val canon = text.keys.filter(id => exactMin(id) == id).toSeq.sorted
    val sh = canon.map(id => id -> Check.shingles(text(id), spec.shingle)).toMap
    val near = for {
      (a, i) <- canon.zipWithIndex; b <- canon.drop(i + 1)
      j = (sh(a) intersect sh(b)).size.toDouble / (sh(a) union sh(b)).size if j >= spec.jaccard
    } yield (a, b, math.round(j * 1e5) / 1e5)
    val uf = new Check.UnionFind
    near.foreach { case (a, b, _) => uf.union(a, b) }
    val canonical = text.keys.toSeq.map { id =>
      (id, exactMin(id), if (exactMin(id) == id) uf.find(id) else -1L)
    }
    val probeGrams = d.probes.flatMap(p => Check.grams(p.text, spec.contN)).toSet
    val gated = canon.filter(id => uf.find(id) == id && Check.entropyNorm(text(id)) >= spec.entropyLow)
    val cont = gated.map { id =>
      val g = Check.grams(text(id), spec.contN); val h = g.count(probeGrams).toLong
      (id, g.size.toLong, h, h * 10000L / g.size)
    }
    var off = 0L
    val packed = cont.filter(_._4 < spec.contMaxBp).map(_._1).sorted.map { id =>
      val n = text(id).split(" ", -1).length.toLong
      val row = (id, n, off, off / spec.seqLen, off % spec.seqLen); off += n; row
    }
    Check.CorpusOutput(near, canonical, cont, packed)
  }

  def main(args: Array[String]): Unit = {
    val spec = ErPairs.spec
    val d = Gen.erPairs(7, 400, 0.5, 4, 0.1)
    val o = erOutput(spec, d)
    expect("er: correct output accepted", Check.er(spec, d, o), ok = true)
    expect("er: one match pair dropped", Check.er(spec, d, o.copy(matches = o.matches.tail)), ok = false)
    val (rid, c) = o.clusters.find { case (r, c) => r != c }.get
    expect("er: one cluster split",
      Check.er(spec, d, o.copy(clusters = o.clusters.map(x => if (x._1 == rid) (rid, rid) else x))),
      ok = false)
    expect("er: one fused record dropped", Check.er(spec, d, o.copy(fused = o.fused.filterNot(_._1 == c))),
      ok = false)

    val cs = CorpusDedup.spec
    val cd = Gen.corpus(7, 300, 25, 30, 30, 12, 10, 20)
    val co = corpusOutput(cs, cd)
    expect("corpus: correct output accepted", Check.corpus(cs, cd, co), ok = true)
    val kept = co.canonical.find { case (id, g, _) => id != g }.get._1
    val text = cd.docs.find(_.docId == kept).get.text
    val n = text.split(" ").length.toLong
    val last = co.packed.last
    val extra = (kept, n, last._3 + last._2, (last._3 + last._2) / cs.seqLen,
      (last._3 + last._2) % cs.seqLen)
    expect("corpus: one duplicate kept",
      Check.corpus(cs, cd, co.copy(packed = (co.packed :+ extra).sortBy(_._1))), ok = false)
    val k = co.packed.size / 2
    expect("corpus: one packing offset shifted", Check.corpus(cs, cd,
      co.copy(packed = co.packed.updated(k, co.packed(k).copy(_3 = co.packed(k)._3 + 1)))), ok = false)
    expect("corpus: one near pair dropped",
      Check.corpus(cs, cd, co.copy(near = co.near.tail)), ok = false)

    println(if (failures == 0) "all checker tests passed" else s"$failures checker test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
