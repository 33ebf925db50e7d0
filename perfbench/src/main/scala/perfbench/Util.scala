package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row

object Util {

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally walk.close()
    }

  /** Regular files under `dir` (recursive), with sizes. */
  def files(dir: String): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Nil
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toSeq
    finally walk.close()
  }

  /** Bytes a table occupies: every file but the local file system's
    * `.crc` side files. */
  def bytesUnder(dir: String): Long =
    files(dir).filterNot(_._1.endsWith(".crc")).map(_._2).sum

  /** Data files of a table root: parquet outside its metadata dirs, not
    * Spark's `.crc` side files. */
  def dataFiles(dir: String): Seq[(String, Long)] =
    files(dir).filter { case (p, _) =>
      p.endsWith(".parquet") && !isMetadata(p)
    }

  def isMetadata(p: String): Boolean =
    p.contains("/_delta_log/") || p.contains("/metadata/") ||
      p.contains("/_graft_log/")

  /** Files and bytes in a table root's metadata dirs. */
  def metadataFiles(dir: String): Seq[(String, Long)] =
    files(dir).filter { case (p, _) => isMetadata(p) && !p.endsWith(".crc") }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this JVM in MB (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Heap still reachable after a full collection, in MB. Spark frees
    * some blocks only after a collection has shown them unreachable (the
    * context cleaner), so it collects until a reading no longer drops by
    * more than 1 MB, at most ten times, and returns the least reading. */
  def liveHeapMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def reading() = {
      System.gc()
      Thread.sleep(200)
      m.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var least = reading()
    var next = reading()
    var n = 2
    while (next < least - 1.0 && n < 10) {
      least = next
      next = reading()
      n += 1
    }
    math.min(least, next)
  }

  /** Collected rows in a canonical order, values as plain Scala. */
  def canon(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq.map(normalize)).sortBy(_.mkString("\u0001"))

  private def normalize(v: Any): Any = v match {
    case t: java.sql.Timestamp => t.getTime
    case t: java.time.Instant => t.toEpochMilli
    case s: scala.collection.Seq[_] => s.map(normalize).mkString("[", ",", "]")
    case other => other
  }

  /** Equal up to a relative 1e-9 on doubles (sums in another order). */
  def sameRows(got: Seq[Seq[Any]], exp: Seq[Seq[Any]]): Boolean =
    got.length == exp.length && got.zip(exp).forall { case (a, b) =>
      a.length == b.length && a.zip(b).forall {
        case (x: Double, y: Double) =>
          x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
        case (x, y) => x == y
      }
    }

  /** Order-independent digest of collected rows. */
  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toSeq.map(normalize).mkString("\u0001")).sorted
      .foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
