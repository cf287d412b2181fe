package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

/** Small helpers shared by the workloads: order statistics, file sizes,
  * process memory, GC time and a minimal JSON writer.
  */
object Util {

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile (the `inclusive` method of Python's
    * `statistics.quantiles`), 0 for an empty sample.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def nowMs(): Long = System.currentTimeMillis()

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bytes of every regular file below `path` (0 when it does not exist). */
  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(c => dirBytes(c.getPath)).sum
  }

  /** Regular files below `path` whose name ends with `suffix`. */
  def filesUnder(path: String, suffix: String): Seq[File] = {
    val f = new File(path)
    if (!f.exists()) Nil
    else if (f.isFile) { if (f.getName.endsWith(suffix)) Seq(f) else Nil }
    else Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.sortBy(_.getName)
      .flatMap(c => filesUnder(c.getPath, suffix))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
    ()
  }

  def mkdirs(path: String): String = { new File(path).mkdirs(); path }

  def writeString(path: String, s: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(new File(path).toPath, s.getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def vmHwmMb(): Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(0.0)

  /** Total collection time of every JVM collector, ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Stable 64-bit FNV-1a over a string sequence (order-sensitive). */
  def fnv(items: Iterable[String]): Long = {
    var h = 0xcbf29ce484222325L
    items.foreach { s =>
      s.getBytes(StandardCharsets.UTF_8).foreach { b => h = (h ^ (b & 0xff)) * 0x100000001b3L }
      h = (h ^ 0x0a) * 0x100000001b3L
    }
    h
  }

  /** Compare an output hash with the one an earlier run stored under `dir`
    * for `key` (store it when there is none). The key names the workload,
    * seed and amount of work, not the build, so a change to the engine that
    * changes an output fails against the hash the parent stored.
    */
  def compareHash(dir: String, key: String, hash: Long): Seq[String] = {
    if (dir == null) return Nil
    val f = new File(dir, s"$key.hash")
    if (f.exists()) {
      val prev = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim.toLong
      if (prev != hash) Seq(s"$key: output hash $hash differs from an earlier run of this seed ($prev)")
      else Nil
    } else { writeString(f.getPath, hash.toString); Nil }
  }

  // ------------------------------------------------------------------ JSON

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => json(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
