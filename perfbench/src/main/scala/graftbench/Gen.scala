package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every workload's inputs and planted truth are a
  * pure function of (workload, seed, size): the records are built on the
  * Spark driver with one `SplittableRandom`, sliced into files by index range and
  * written with deterministic file names, so one seed gives the same bytes
  * every time. The program under test only ever sees the written files.
  */
object Gen {

  /** One ER source record. `ent` is the planted entity id (truth only, not
    * written into the source files).
    */
  final case class Rec(rid: Long, name: String, street: String,
      city: String, region: String, price: Double, updated: String, ent: Long)

  /** ER inputs: the left and right source, gold match pairs (left id
    * first) and the share of right records that are light copies.
    */
  final case class ErData(left: Seq[Rec], right: Seq[Rec], gold: Seq[(Long, Long)],
      lightShare: Double) {
    lazy val all: Seq[Rec] = left ++ right
  }

  final case class Doc(docId: Long, text: String)

  /** Corpus inputs with planted truth: duplicate groups (exact and near
    * copies with their original), contaminated document ids and the
    * low-entropy (boilerplate) ids.
    */
  final case class CorpusData(docs: Seq[Doc], probes: Seq[Doc], dupGroups: Seq[Seq[Long]],
      contaminated: Seq[Long], lowEntropy: Seq[Long])

  private val syll = Array("ka", "lo", "mi", "ra", "ne", "to", "su", "vi", "da", "re",
    "po", "li", "ma", "ni", "sa", "te", "bo", "ru", "ge", "fa", "zo", "he", "ji", "wu",
    "ce", "xa", "yo", "qui", "ber", "son", "ton", "ley", "ric", "mar", "dor", "lin",
    "gan", "vel", "tor", "ish")
  private val suffixes = Array("Street", "Road", "Avenue", "Lane", "Way", "Court")
  private val accents = Map('a' -> 'á', 'e' -> 'é', 'i' -> 'í', 'o' -> 'ó', 'u' -> 'ú')

  private def word(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => syll(r.nextInt(syll.length))).mkString

  private def cap(s: String): String = s.head.toUpper + s.tail

  /** One random edit: substitute, delete, insert or transpose (never the
    * empty string, never a space).
    */
  def typo(r: SplittableRandom, s: String): String = {
    val p = r.nextInt(s.length)
    val c = ('a' + r.nextInt(26)).toChar
    r.nextInt(4) match {
      case 0 => s.updated(p, if (s(p) == c) ('a' + (c - 'a' + 1) % 26).toChar else c)
      case 1 if s.length > 4 => s.patch(p, Nil, 1)
      case 2 => s.patch(p, Seq(c), 0)
      case _ =>
        val q = if (p + 1 < s.length) p else p - 1
        if (s(q) == s(q + 1)) s.patch(p, Seq(c), 0)
        else s.updated(q, s(q + 1)).updated(q + 1, s(q))
    }
  }

  private def typos(r: SplittableRandom, s: String, n: Int): String =
    (0 until n).foldLeft(s)((acc, _) => typo(r, acc))

  /** Case noise: flips the case of a few letters (removed by lower()). */
  private def caseNoise(r: SplittableRandom, s: String): String =
    s.map(c => if (r.nextInt(5) == 0) (if (c.isUpper) c.toLower else c.toUpper) else c)

  /** Accent noise: one vowel gets an accent (an edit that survives lower()). */
  private def accent(r: SplittableRandom, s: String): String = {
    val vowels = s.indices.filter(i => accents.contains(s(i)))
    if (vowels.isEmpty) s else { val i = vowels(r.nextInt(vowels.size)); s.updated(i, accents(s(i))) }
  }

  private def money(x: Double): Double = math.round(x * 100) / 100.0

  private def date(r: SplittableRandom): String =
    java.time.LocalDate.of(2015, 1, 1).plusDays(r.nextInt(3000).toLong).toString

  private def baseRec(r: SplittableRandom, rid: Long, region: String, ent: Long): Rec =
    Rec(rid, cap(word(r, 2)) + " " + cap(word(r, 3)),
      s"${1 + r.nextInt(9999)} ${cap(word(r, 2))} ${suffixes(r.nextInt(suffixes.length))}",
      cap(word(r, 2 + r.nextInt(2))), region, money(10 + r.nextDouble() * 990), date(r), ent)

  /** `er_pairs`: the right source is a perturbed copy of a `copyShare`
    * part of the left. A light copy carries at most two edits of its name
    * (typo, accent), at most one of its street, case noise and a price
    * shift within ±3; a heavy copy (the rest) carries 3-4 name edits,
    * 3 street edits and a price shift of 40-60. Both sides block on one of
    * `regions` coarse keys.
    */
  def erPairs(seed: Long, nLeft: Int, copyShare: Double, regions: Int,
      heavyShare: Double): ErData = {
    val r = new SplittableRandom(seed * 1000003L + 11)
    val left = (0 until nLeft).map { i =>
      baseRec(r, 1000000L + i, f"r${r.nextInt(regions)}%03d", i.toLong)
    }
    val picked = left.filter(_ => r.nextDouble() < copyShare)
    var light = 0
    val right = picked.zipWithIndex.map { case (l, j) =>
      val heavy = r.nextDouble() < heavyShare
      if (!heavy) light += 1
      val name =
        if (heavy) typos(r, l.name, 3 + r.nextInt(2))
        else {
          val t = if (r.nextBoolean()) typo(r, l.name) else l.name
          caseNoise(r, if (r.nextInt(10) < 3) accent(r, t) else t)
        }
      val street =
        if (heavy) typos(r, l.street, 3) else if (r.nextInt(10) < 3) typo(r, l.street) else l.street
      val shift = if (heavy) (40 + r.nextDouble() * 20) * (if (r.nextBoolean()) 1 else -1)
        else (r.nextDouble() * 6) - 3
      l.copy(rid = 5000000L + j, name = name, street = street,
        price = money(l.price + shift), updated = date(r))
    }
    ErData(left, right, right.map(x => (x.ent + 1000000L, x.rid)),
      light.toDouble / math.max(1, right.size))
  }

  /** Zipf sampler over a generated vocabulary. */
  final class Zipf(r: SplittableRandom, val vocab: Array[String], s: Double) {
    private val cdf = {
      val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, s)).scanLeft(0.0)(_ + _).tail
      w.map(_ / w.last).toArray
    }
    def next(): String = {
      val u = r.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      vocab(math.min(i, vocab.length - 1))
    }
  }

  /** `corpus_dedup`: `nOrig` Zipf documents of 80-240 words, plus planted
    * verbatim copies, near copies, distant copies, low-entropy documents
    * (5 words repeated) and contaminated documents (a 40-word run copied
    * from a probe document into 60 fresh words). A near copy changes 1 to
    * (words - 2) / 30 words (1-3%), which kills at most a tenth of its
    * 3-shingles, so its Jaccard with the original is above 0.8 by
    * construction. A distant copy changes 8-20% of its words (Jaccard about
    * 0.3-0.7): often an LSH candidate, never a duplicate in the truth.
    * Document ids are a seeded permutation, so a copy may carry a smaller
    * id than its original.
    */
  def corpus(seed: Long, nOrig: Int, nExact: Int, nNear: Int, nFar: Int, nLow: Int, nCont: Int,
      nProbes: Int): CorpusData = {
    val r = new SplittableRandom(seed * 1000003L + 37)
    val vocabSet = scala.collection.mutable.LinkedHashSet.empty[String]
    while (vocabSet.size < 6000) vocabSet += word(r, 2 + r.nextInt(2))
    val z = new Zipf(r, vocabSet.toArray, 1.05)
    def words(n: Int): Vector[String] = Vector.fill(n)(z.next())
    val origs = Vector.fill(nOrig)(words(80 + r.nextInt(161)))
    val probes = Vector.fill(nProbes)(words(100))
    val texts = Vector.newBuilder[Vector[String]]
    texts ++= origs
    val groups = scala.collection.mutable.Map.empty[Int, Vector[Int]]
    var next = nOrig
    def copyOf(o: Int, w: Vector[String]): Unit = {
      texts += w; groups(o) = groups.getOrElse(o, Vector(o)) :+ next; next += 1
    }
    /** `w` with `k` distinct positions changed to another word. */
    def edited(w: Vector[String], k: Int): Vector[String] = {
      val pos = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
        .shuffle(w.indices.toVector).take(k)
      pos.foldLeft(w) { (acc, p) =>
        var x = z.next()
        while (x == acc(p)) x = z.next()
        acc.updated(p, x)
      }
    }
    for (_ <- 0 until nExact) {
      val o = r.nextInt(nOrig)
      copyOf(o, origs(o))
    }
    for (_ <- 0 until nNear) {
      val o = r.nextInt(nOrig)
      val w = origs(o)
      copyOf(o, edited(w, 1 + r.nextInt(math.max(1, (w.size - 2) / 30))))
    }
    for (_ <- 0 until nFar) {
      val w = origs(r.nextInt(nOrig))
      texts += edited(w, math.round(w.size * (0.08 + r.nextDouble() * 0.12)).toInt); next += 1
    }
    // five words drawn uniformly, so two boilerplate docs never share a word set
    val low = (0 until nLow).map { _ =>
      val base = Vector.fill(5)(z.vocab(r.nextInt(z.vocab.length))); texts += Vector.fill(20)(base).flatten; next += 1; next - 1
    }
    val cont = (0 until nCont).map { _ =>
      val p = probes(r.nextInt(nProbes)); val start = r.nextInt(p.size - 40)
      val fresh = words(60); val at = r.nextInt(61)
      texts += (fresh.take(at) ++ p.slice(start, start + 40) ++ fresh.drop(at)); next += 1; next - 1
    }
    val all = texts.result()
    // seeded permutation of ids 1..N
    val perm = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((1L to all.size.toLong).toVector)
    val docs = all.indices.map(i => Doc(perm(i), all(i).mkString(" ")))
    val probeDocs = probes.indices.map(i => Doc(9000000L + i, probes(i).mkString(" ")))
    CorpusData(docs, probeDocs, groups.values.toSeq.map(_.map(perm(_)).sorted).sortBy(_.head),
      cont.map(perm(_)), low.map(perm(_)))
  }

  // ---------------------------------------------------------------- writing

  val recSchema: StructType = StructType(Seq(
    StructField("rid", LongType, false), StructField("name", StringType),
    StructField("street", StringType), StructField("city", StringType),
    StructField("region", StringType),
    StructField("price", DoubleType), StructField("updated", StringType)))

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, false), StructField("text", StringType)))

  /** Writes `rows` as `files` parquet files named part-00000.parquet, ...
    * into `dir` (rows sliced by index range, one file per slice; a single
    * file is a single row group).
    */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType, dir: File,
      files: Int): Unit = {
    val tmp = new File(dir.getPath + ".tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.option("compression", "snappy").parquet(tmp.getPath)
    dir.mkdirs()
    tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
        Files.move(f.toPath, new File(dir, f"part-$i%05d.parquet").toPath,
          StandardCopyOption.REPLACE_EXISTING)
      }
    Util.deleteRecursively(tmp)
  }

  def recRow(x: Rec): Row =
    Row(x.rid, x.name, x.street, x.city, x.region, x.price, x.updated)

  /** Each source as one single-row-group file, as a per-source export is. */
  def writeEr(spark: SparkSession, d: ErData, dir: File): Unit = {
    Seq("left" -> d.left, "right" -> d.right).foreach { case (name, recs) =>
      writeParquet(spark, recs.map(recRow), recSchema, new File(dir, name + ".parquet"), 1)
    }
    Util.writeLines(new File(dir, "gold_pairs.csv"),
      "id1,id2" +: d.gold.map { case (a, b) => s"$a,$b" })
  }

  def writeCorpus(spark: SparkSession, d: CorpusData, dir: File, files: Int): Unit = {
    writeParquet(spark, d.docs.map(x => Row(x.docId, x.text)), docSchema,
      new File(dir, "corpus.parquet"), files)
    writeParquet(spark, d.probes.map(x => Row(x.docId, x.text)), docSchema,
      new File(dir, "probes.parquet"), 1)
    Util.writeLines(new File(dir, "dup_groups.csv"), d.dupGroups.map(_.mkString(",")))
    Util.writeLines(new File(dir, "contaminated_ids.csv"), d.contaminated.map(_.toString))
    Util.writeLines(new File(dir, "low_entropy_ids.csv"), d.lowEntropy.map(_.toString))
  }
}
