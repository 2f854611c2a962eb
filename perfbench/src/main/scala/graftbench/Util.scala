package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** File-system helpers for the benchmark's state handling. */
object Fs {
  private def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }
  }

  /** On-disk bytes under `dir`. */
  def bytes(dir: String): Long = walk(dir).map(Files.size).sum

  def delete(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  def copy(src: String, dst: String): Unit = {
    val from = Paths.get(src)
    val to = Paths.get(dst)
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  /** Relative path and size of every file: two trees with the same print
    * hold the same committed state (data files are never rewritten in
    * place; every write makes a uniquely named file). */
  def print(dir: String): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    walk(dir).map(p => (root.relativize(p).toString, Files.size(p))).sortBy(_._1)
  }

  def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)
}

/** The manifest of a graft SnapshotStore directory, read from outside:
  * `manifest-<version>.txt` lists `bucket<TAB>file` per live data file. */
final case class Manifest(files: Map[Int, Set[String]]) {
  def all: Set[String] = files.values.flatten.toSet
}

object Manifest {
  def latest(store: String): Manifest = {
    val dir = Paths.get(store)
    if (!Files.isDirectory(dir)) return Manifest(Map.empty)
    val names = Files.list(dir)
    val newest = try names.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("manifest-") && n.endsWith(".txt")).maxOption
      finally names.close()
    newest.fold(Manifest(Map.empty)) { n =>
      val rows = Fs.read(s"$store/$n").linesIterator.filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(b, f) = l.split("\t", 2); b.toInt -> f }.toSeq
      Manifest(rows.groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).toSet })
    }
  }

  /** Bytes of the live files of a store (what a full scan would open). */
  def liveBytes(store: String): Long =
    latest(store).all.toSeq.map(f => Files.size(Paths.get(store, f))).sum

  /** Buckets whose file set changed, and bytes of the files added. */
  def diff(store: String, before: Manifest, after: Manifest): (Int, Long) = {
    val buckets = (before.files.keySet ++ after.files.keySet)
      .count(b => before.files.getOrElse(b, Set.empty) != after.files.getOrElse(b, Set.empty))
    val added = (after.all -- before.all).toSeq.map(f => Files.size(Paths.get(store, f))).sum
    (buckets, added)
  }
}

/** Peak resident set of this JVM, from /proc. */
object Rss {
  def peakMb: Double =
    Fs.read("/proc/self/status").linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("VmHWM missing from /proc/self/status"))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON for the inputs' expected.json (objects, arrays, numbers,
  * strings, booleans, null). */
object Json {
  def parse(s: String): Any = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    def conv(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isObject) n.fields().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
      else if (n.isArray) n.elements().asScala.map(conv).toVector
      else if (n.isIntegralNumber) n.asLong()
      else if (n.isNumber) n.asDouble()
      else if (n.isBoolean) n.asBoolean()
      else if (n.isNull) null
      else n.asText()
    conv(m.readTree(s))
  }

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
