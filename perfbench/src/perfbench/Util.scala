package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimal JSON writer for the result and trace records. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
}

/** Order-independent multiset digest of a frame: row count plus the sums of
  * the low and high 32 bits of a 64-bit row hash (two sums, so they cannot
  * overflow). Each column is hashed together with its null flag, so a null
  * cannot trade places with a value in a neighbouring column.
  */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"$rows/$lo/$hi"
}

object Digest {
  def of(df: DataFrame, columns: Seq[String]): Digest = {
    val h = xxhash64(columns.flatMap(c => Seq(col(c), isnull(col(c)))): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** SHA-256 of generated rows, to show that a seed reproduces its inputs. */
object Fingerprint {
  def of(rows: Seq[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0002") + "\u0003").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

object Host {
  /** Jiffies of the host's `cpu` line in /proc/stat: user, nice, system,
    * idle, iowait, irq, softirq, steal, ...
    */
  def cpuJiffies(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)

  /** Share of all CPU time between two cpuJiffies() readings that the
    * hypervisor gave to other guests (steal); time a pass waits for a core
    * it was promised.
    */
  def stealShare(a: Array[Long], b: Array[Long]): Double = {
    val d = b.zip(a).map { case (x, y) => x - y }
    if (d.length < 8 || d.sum <= 0) 0.0 else d(7).toDouble / d.sum
  }

  def loadavg(): String =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString(" ")

  /** Kilobyte field of /proc/self/status, e.g. VmHWM. */
  def statusKb(field: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Reset the peak-RSS high-water mark to the current RSS, so input
    * generation does not count towards the peak. False when refused.
    */
  def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case _: Exception => false }

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Total bytes and number of data files (no _SUCCESS or .crc) under p. */
  def filesUnder(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(Files.isRegularFile(_)).filter { f =>
          val n = f.getFileName.toString
          !n.startsWith("_") && !n.startsWith(".")
        }.toSeq
        (fs.map(Files.size).sum, fs.size)
      } finally s.close()
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
