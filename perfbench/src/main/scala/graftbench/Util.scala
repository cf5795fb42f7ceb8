package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

object Util {
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def writeLines(f: File, lines: Seq[String]): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** Total size in bytes of the regular files under `f`. */
  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else if (f.getName.startsWith(".")) 0L else f.length()

  /** sha-256 over the relative paths and bytes of every file under `dir`,
    * in path order.
    */
  def treeDigest(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: File, rel: String): Unit =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(c => walk(c, rel + "/" + c.getName))
      else { md.update(rel.getBytes(StandardCharsets.UTF_8)); md.update(Files.readAllBytes(f.toPath)) }
    walk(dir, "")
    md.digest().map(b => f"$b%02x").mkString
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Minimal JSON rendering for flat maps of numbers / strings / nested maps. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
